package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.FileSourceScanExec

import graft.gold.GoldRunner
import graft.ingest.{BronzeIngest, SilverEtl, SilverJob, Topology}
import graft.tables.ParquetTable

/** Drives the engine's public functions for one benchmark workload and
  * writes what it measured to a JSON file. `run.py` builds this, starts it,
  * checks the outputs with DuckDB and prints the result line.
  *
  *   perfbench.Harness --workload W --data DIR --work DIR --seconds S
  *                     --trace 0|1 --seed N --out FILE
  */
object Harness {

  final case class Course(id: String, rounds: Int, fixes: Long, quarantined: Long,
      padding: Long)

  /** The expectations `run.py` derives from the generator's manifest. */
  final case class Expect(courses: Seq[Course], rawBytes: Long)

  object Expect {
    def load(file: Path): Expect = {
      val rows = Files.readAllLines(file).asScala.map(_.split("\t")).toSeq
      Expect(
        rows.filter(_(0) == "course").map(r => Course(r(1), r(2).toInt, r(3).toLong,
          r(4).toLong, r(5).toLong)),
        rows.find(_(0) == "raw_bytes").map(_(1).toLong).getOrElse(1L))
    }
  }

  /** What one run reports back to `run.py`. */
  final class Report {
    val endToEnd = mutable.LinkedHashMap.empty[String, Double]
    val perLayer = mutable.LinkedHashMap.empty[String, Double]
    var attempted = 0
    var failed = 0
    val errors = mutable.ArrayBuffer.empty[String]
    val checks = mutable.ArrayBuffer.empty[String] // JSON objects for run.py
    def fail(msg: String): Unit = { failed += 1; errors += msg }
  }

  final class Ctx(val spark: SparkSession, val data: Path, val work: Path,
      val tracer: Tracer, val expect: Expect, val seed: Long)

  val IngestDate = "2025-06-05"
  val SetupPasses = 3

  def main(argv: Array[String]): Unit = {
    val opts = argv.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val work = Paths.get(opts("work")).toAbsolutePath
    val spark = SparkSession.builder()
      .master("local[4]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("spark-warehouse").toString)
      .config("spark.hadoop.hadoop.tmp.dir", work.resolve("hadoop-tmp").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val recorder = if (opts("trace") == "1") Some(new Recorder) else None
    recorder.foreach(spark.sparkContext.addSparkListener)
    val sessionS = (System.currentTimeMillis() - jvmStart) / 1000.0

    val data = Paths.get(opts("data")).toAbsolutePath
    val ctx = new Ctx(spark, data, work, new Tracer(recorder),
      Expect.load(data.resolve("expect.tsv")), opts("seed").toLong)
    val report = new Report
    try {
      val setupS = opts("workload") match {
        case "pilot_backfill" => PilotBackfill.run(ctx, opts("seconds").toDouble, report)
        case "dashboard_session" => DashboardSession.run(ctx, opts("seconds").toDouble, report)
        case w => throw new IllegalArgumentException(s"unknown workload $w")
      }
      report.endToEnd("session_s") = sessionS
      report.endToEnd("setup_body_s") = setupS
      if (recorder.isDefined) {
        report.perLayer("engine.retained_mb") = retainedMb()
        report.perLayer("engine.cache_mb") = spark.sparkContext.getRDDStorageInfo
          .map(i => i.memSize + i.diskSize).sum / 1048576.0
      }
    } catch {
      case e: Throwable =>
        report.fail(s"workload aborted: $e")
        e.printStackTrace()
    }
    Json.writeReport(Paths.get(opts("out")), report)
    opts.get("trace-out").foreach(p => Json.writeTrace(Paths.get(p), ctx.tracer))
    spark.stop()
  }

  /** Heap still reachable after a full collection: everything the run keeps
    * alive, block-manager memory for persisted frames included. */
  def retainedMb(): Double = {
    val mem = ManagementFactory.getMemoryMXBean
    System.gc(); System.gc()
    mem.getHeapMemoryUsage.getUsed / 1048576.0
  }

  // ------------------------------------------------------------ shared steps

  def deleteRec(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
    finally s.close()
  }

  def files(p: Path): Seq[Path] = if (!Files.exists(p)) Nil else {
    val s = Files.walk(p)
    try s.iterator().asScala.filter(Files.isRegularFile(_)).toVector
    finally s.close()
  }

  def dataFiles(p: Path): Seq[Path] = files(p).filter { f =>
    val n = f.getFileName.toString
    !n.startsWith(".") && !n.startsWith("_")
  }

  def bytes(p: Path): Long = dataFiles(p).map(Files.size).sum

  /** Bronze landing of one export directory: CSV exports go through
    * BronzeIngest's validate-and-copy; it validates CSV headers only, so
    * JSON exports are copied the same idempotent way here. */
  def land(src: Path, landing: Path): Unit = {
    Files.createDirectories(landing)
    val listing = Files.list(src)
    val exports = try listing.iterator().asScala.toVector.sortBy(_.toString)
      finally listing.close()
    exports.foreach { f =>
      if (f.toString.endsWith(".csv")) BronzeIngest.upload(f, landing)
      else {
        val target = landing.resolve(f.getFileName)
        if (!Files.exists(target)) Files.copy(f, target, StandardCopyOption.COPY_ATTRIBUTES)
      }
    }
  }

  def silverPath(wh: Path): String = wh.resolve("fact_telemetry_event").toString

  /** The paper's path, raw exports to gold: bronze landing, one SilverJob
    * per course, topology inference, and all gold models materialized.
    * Checks each course's valid and quarantined counts against the
    * manifest; returns the number of mismatches. */
  def backfill(ctx: Ctx, wh: Path, landing: Path, tag: String, report: Report): Int = {
    val t = ctx.tracer
    val spark = ctx.spark
    val courses = ctx.expect.courses
    t.span("ingest.bronze") {
      courses.foreach(c => land(ctx.data.resolve("backfill").resolve(c.id), landing.resolve(c.id)))
    }
    val results = courses.map { c =>
      c -> t.span("ingest.silver_job") {
        SilverJob.run(spark, landing.resolve(c.id).toString, wh.toString,
          SilverEtl.SilverConfig(c.id, IngestDate), s"$tag-${c.id}")
      }
    }
    val silver = t.span("tables.discover") { spark.read.parquet(silverPath(wh)) }
    val topo = t.span("ingest.topology") {
      val df = Topology.buildTopology(spark, silver)
      ParquetTable.createOrReplace(df, wh.resolve("dim_facility_topology").toString, Nil)
      df
    }
    val models = t.span("gold.plan") { GoldRunner.buildAll(silver, topo) }
    models.foreach { case (name, df) =>
      t.span(s"gold.$name") {
        ParquetTable.createOrReplace(df, wh.resolve("gold").resolve(name).toString, Nil)
      }
    }
    t.span("gold.release") { models("fact_rounds").unpersist(); silver.unpersist() }
    results.count { case (c, r) =>
      val ok = r.validCount + r.invalidCount == c.fixes && r.invalidCount == c.quarantined
      if (!ok) report.errors += s"backfill $tag ${c.id}: valid=${r.validCount} " +
        s"invalid=${r.invalidCount}, expected fixes=${c.fixes} quarantined=${c.quarantined}"
      !ok
    }
  }

  /** Scan nodes' "number of files read", summed over the executed plan. */
  object Plans extends AdaptiveSparkPlanHelper {
    def filesRead(df: DataFrame): Long =
      collectWithSubqueries(df.queryExecution.executedPlan) {
        case s: FileSourceScanExec => s.metrics.get("numFiles").map(_.value).getOrElse(0L)
      }.sum

    def catalystMs(df: DataFrame): Double =
      df.queryExecution.tracker.phases.values.map(_.durationMs).sum.toDouble
  }

  def rowsDigest(rows: Array[Row]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    rows.map(_.toString).sorted.foreach(s => md.update(s.getBytes("UTF-8")))
    md.digest().take(8).map("%02x".format(_)).mkString
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear interpolation between closest ranks. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  /** The highest whole percentile that leaves at least ten samples above
    * it, or None when there are too few samples for any tail. */
  def tailPercentile(n: Int): Option[Int] = {
    val p = math.floor(100.0 * (1.0 - 10.0 / n)).toInt
    if (n > 10 && p > 50) Some(p) else None
  }
}
