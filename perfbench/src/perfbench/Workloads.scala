package perfbench

import java.nio.file.Path

import scala.collection.mutable
import scala.util.{Failure, Success, Try}

import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.{DataFrame, Row}

import graft.analytics.{DashboardQueries => DQ, DashboardQueries2 => DQ2, ExplorationQueries => EQ}
import graft.tables.ParquetTable

import Harness._

/** Runs operations in a closed loop with one client and, in the traced run,
  * turns the per-operation events into per-layer values. */
final class Loop(ctx: Ctx) {
  private val t = ctx.tracer
  val latencies = mutable.ArrayBuffer.empty[(Int, Double)] // (op, seconds)

  /** Times one operation; in the traced run, records its spans and events. */
  def op[T](body: => T): (T, Double) = {
    val id = latencies.size
    t.setEnabled(true, id)
    val t0 = System.nanoTime()
    val out = t.span("op")(body)
    val s = (System.nanoTime() - t0) / 1e9
    if (t.tracing) PerfbenchBus.drain(ctx.spark.sparkContext)
    t.setEnabled(false, -1)
    latencies += ((id, s))
    (out, s)
  }

  private val failed = mutable.Set.empty[Int]

  /** The last operation returned a wrong result: it is not a timing. */
  def failLast(): Unit = failed += latencies.size - 1

  def timed: Seq[Double] = latencies.filterNot(l => failed(l._1)).map(_._2).toSeq

  /** Per-layer values of every operation, each metric the median over the
    * operations that have it. */
  def layers(): Map[String, Double] = {
    val perOp = latencies.map(l => Layers.forOp(t, l._1)).toSeq
    val busy = t.recorder.map(_.busyNanos).getOrElse(0L) / 1e9
    perOp.flatMap(_.keys).distinct.map { k =>
      k -> Stats.median(perOp.flatMap(_.get(k)))
    }.toMap + ("trace.overhead_ratio" -> timed.sum / (timed.sum - busy))
  }
}

object Layers {
  /** SilverJob's Spark actions, by the engine file and method that issued
    * them: the partition-refresh write, bookkeeping (registry appends,
    * quarantine and run-summary JSON), and the rest, the transform. */
  def silverPart(site: String): String = {
    val s = Option(site).getOrElse("")
    if (s.contains("IngestionRegistry.scala")) "tables.bookkeeping_s"
    else if (s.contains("ParquetTable.scala"))
      if (s.startsWith("parquet")) "tables.write_s" else "tables.bookkeeping_s"
    else "ingest.etl_s"
  }

  def forOp(t: Tracer, op: Int): Map[String, Double] = {
    val rec = t.recorder.get
    val spans = t.spans.filter(_.op == op).toSeq
    val whole = spans.find(_.name == "op").get
    val inner = spans.filter(_.name != "op")
    val m = mutable.LinkedHashMap.empty[String, Double]
    def add(k: String, v: Double): Unit = m(k) = m.getOrElse(k, 0.0) + v
    inner.foreach { s =>
      if (s.name.startsWith("analytics.")) add(s.name + "_ms", s.seconds * 1000)
      else add(s.name + "_s", s.seconds)
    }
    val gold = inner.filter(_.name.startsWith("gold."))
    if (gold.nonEmpty) m("gold.total_s") = gold.map(_.seconds).sum

    val silverSpans = inner.filter(_.name == "ingest.silver_job")
    if (silverSpans.nonEmpty) {
      Seq("ingest.etl_s", "tables.write_s", "tables.bookkeeping_s").foreach(m(_) = 0.0)
      rec.actions.foreach { a =>
        if (silverSpans.exists(s => a.startMs >= s.startMs && a.startMs <= s.endMs))
          add(silverPart(a.site), (a.endMs - a.startMs) / 1000.0)
      }
      m("ingest.silver_driver_s") = m("ingest.silver_job_s") -
        m("ingest.etl_s") - m("tables.write_s") - m("tables.bookkeeping_s")
    }

    def within(ms: Long) = ms >= whole.startMs && ms <= whole.endMs
    val st = rec.stages.filter(s => within(s.endMs))
    m("engine.jobs") = rec.jobStarts.count(within).toDouble
    m("engine.stages") = st.size.toDouble
    m("engine.tasks") = st.map(_.tasks).sum.toDouble
    m("engine.task_s") = st.map(_.runMs).sum / 1000.0
    m("engine.gc_s") = st.map(_.gcMs).sum / 1000.0
    m("engine.shuffle_read_mb") = st.map(_.shuffleRead).sum / 1048576.0
    m("engine.shuffle_write_mb") = st.map(_.shuffleWrite).sum / 1048576.0
    m("engine.spill_mb") = st.map(_.spill).sum / 1048576.0
    m("trace.span_coverage") = inner.map(_.nanos).sum.toDouble / whole.nanos
    m.toMap
  }
}

/** Table-layer counts from the files a warehouse holds. */
object Layout {
  def of(wh: Path): Map[String, Double] = {
    val silver = dataFiles(wh.resolve("fact_telemetry_event")).filter(_.toString.endsWith(".parquet"))
    val written = Seq("fact_telemetry_event", "quarantine", "gold")
      .flatMap(d => dataFiles(wh.resolve(d)))
    val silverBytes = silver.map(java.nio.file.Files.size).sum
    Map(
      "tables.files_written" -> written.size.toDouble,
      "tables.partitions_written" -> silver.map(_.getParent).distinct.size.toDouble,
      "tables.mb_written" -> written.map(java.nio.file.Files.size).sum / 1048576.0,
      "tables.kb_per_file" -> silverBytes / 1024.0 / math.max(1, silver.size))
  }

  /** Bytes of silver, quarantine and gold per byte of raw export. */
  def storageRatio(wh: Path, rawBytes: Long): Double =
    Seq("fact_telemetry_event", "quarantine", "gold").map(d => bytes(wh.resolve(d))).sum
      .toDouble / rawBytes
}

object PilotBackfill {
  /** Raw-to-gold backfills of every course, each into a fresh warehouse,
    * repeated for the run's duration. The first one runs cold, as a batch
    * backfill does in a fresh JVM; nothing is warmed first. */
  def run(ctx: Ctx, seconds: Double, report: Report): Double = {
    val loop = new Loop(ctx)
    val ratios = mutable.ArrayBuffer.empty[Double]
    val start = System.nanoTime()
    var i = 0
    var last: Option[(Path, Path)] = None // (warehouse, landing)
    while (i == 0 || (System.nanoTime() - start) / 1e9 < seconds) {
      val wh = ctx.work.resolve(s"wh-$i")
      val landing = ctx.work.resolve(s"landing-$i")
      report.attempted += 1
      val (bad, _) = loop.op(backfill(ctx, wh, landing, s"bf$i", report))
      if (bad > 0) {
        report.fail(s"backfill $i: $bad course(s) with wrong counts")
        loop.failLast()
      }
      ratios += Layout.storageRatio(wh, ctx.expect.rawBytes)
      last.foreach { case (w, l) => deleteRec(w); deleteRec(l) }
      last = Some((wh, landing))
      i += 1
    }
    val lat = loop.timed
    report.endToEnd("op_p50_ms") = Stats.median(lat) * 1000
    report.endToEnd("storage_bytes_per_raw_byte") = Stats.median(ratios.toSeq)
    if (ctx.tracer.recorder.isDefined) {
      report.perLayer ++= loop.layers()
      report.perLayer ++= Layout.of(last.get._1)
      val cs = ctx.expect.courses
      report.perLayer("ingest.rounds_in") = cs.map(_.rounds).sum.toDouble
      report.perLayer("ingest.fixes_out") = cs.map(c => c.fixes - c.quarantined).sum.toDouble
      report.perLayer("ingest.quarantined") = cs.map(_.quarantined).sum.toDouble
      report.perLayer("ingest.padding_ratio") =
        cs.map(_.padding).sum.toDouble / cs.map(_.fixes).sum
    }
    report.checks += Json.obj("kind" -> "warehouse", "path" -> last.get._1.toString)
    0.0
  }
}

object DashboardSession {
  final case class Query(name: String, build: DataFrame => DataFrame, params: String)

  /** The dashboard's query mix over silver, with course and round
    * parameters drawn from the seed. */
  def mix(seed: Long, rounds: Seq[(String, String)]): Seq[Query] = {
    val rng = new scala.util.Random(seed)
    val courses = rounds.map(_._1).distinct.sorted
    def course() = courses(rng.nextInt(courses.size))
    def round(c: String) = {
      val rs = rounds.filter(_._1 == c).map(_._2).sorted
      rs(rng.nextInt(rs.size))
    }
    val (c1, c2, c3) = (course(), course(), course())
    val r1 = round(c1)
    val r2 = round(c2)
    Seq(
      Query("overviewStats", DQ.overviewStats, ""),
      Query("courseSummary", DQ.courseSummary, ""),
      Query("roundMapPoints", DQ.roundMapPoints(_, c1, r1), s"$c1/$r1"),
      Query("roundProgression", DQ.roundProgression(_, c2, r2), s"$c2/$r2"),
      Query("holeDurations", DQ.holeDurations(_, c3), c3),
      Query("paceByHole", DQ.paceByHole(_, Some(c2)), c2),
      Query("eventsPerCourse", DQ2.eventsPerCourse, ""),
      Query("nullAnalysis", EQ.nullAnalysis, ""))
  }

  /** Queries whose results `run.py` recomputes with DuckDB. */
  val Recomputed = Set("overviewStats", "eventsPerCourse", "roundMapPoints")

  /** The silver telemetry table's columns, as SilverJob writes them. */
  val SilverSchema: String = Seq(
    "round_id STRING", "ingest_date STRING", "fix_timestamp TIMESTAMP",
    "is_location_padding BOOLEAN", "round_start_time TIMESTAMP", "round_end_time TIMESTAMP",
    "start_hole INT", "start_section INT", "end_section INT", "is_nine_hole BOOLEAN",
    "current_nine INT", "goal_time INT", "is_complete BOOLEAN", "device STRING",
    "first_fix STRING", "last_fix STRING", "goal_name STRING", "goal_time_fraction DOUBLE",
    "is_incomplete BOOLEAN", "is_secondary BOOLEAN", "is_auto_assigned BOOLEAN",
    "last_section_start DOUBLE", "current_section INT", "current_hole INT",
    "current_hole_section INT", "location_index INT", "hole_number INT",
    "section_number INT", "hole_section INT", "longitude DOUBLE", "latitude DOUBLE",
    "is_cache BOOLEAN", "is_projected BOOLEAN", "is_problem BOOLEAN", "pace_gap DOUBLE",
    "positional_gap DOUBLE", "pace DOUBLE", "battery_percentage DOUBLE",
    "round_duration_minutes DOUBLE", "event_year INT", "event_month INT", "event_day INT",
    "event_weekday INT", "nine_number INT", "geometry_wkt STRING",
    "is_timestamp_missing BOOLEAN", "course_id STRING", "event_date DATE").mkString(", ")

  /** Set-up: read the generated silver rows once, then write them into a
    * fresh warehouse SetupPasses times through the partition-refresh write
    * SilverJob uses, keeping the last. Returns (read seconds + median write
    * seconds, kept warehouse). */
  def buildWarehouse(ctx: Ctx): (Double, Path) = {
    val t0 = System.nanoTime()
    val seed = ctx.spark.read.schema(SilverSchema)
      .json(ctx.data.resolve("silver_seed.json").toString).persist()
    seed.count()
    val readS = (System.nanoTime() - t0) / 1e9
    val writes = (0 until SetupPasses).map { i =>
      val wh = ctx.work.resolve(s"wh-$i")
      val t1 = System.nanoTime()
      ParquetTable.refreshPartitions(seed, silverPath(wh), Seq("course_id", "event_date"))
      val s = (System.nanoTime() - t1) / 1e9
      if (i < SetupPasses - 1) deleteRec(wh)
      s
    }
    seed.unpersist()
    (readS + Stats.median(writes), ctx.work.resolve(s"wh-${SetupPasses - 1}"))
  }

  /** One operation is a round: every query of the mix once, in a
    * seed-shuffled order. Whole rounds run until the time is up, after one
    * untimed warm-up round. */
  def run(ctx: Ctx, seconds: Double, report: Report): Double = {
    val spark = ctx.spark
    val (buildS, wh) = buildWarehouse(ctx)
    val silver = silverPath(wh)
    val rounds = spark.read.parquet(silver).select("course_id", "round_id").distinct()
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq
    val queries = mix(ctx.seed, rounds)
    val rng = new scala.util.Random(ctx.seed + 1)
    val digests = mutable.Map.empty[String, String]
    val t = ctx.tracer
    val perQuery = mutable.ArrayBuffer.empty[Double] // ms, timed rounds only
    val catalyst = mutable.ArrayBuffer.empty[Double]
    val exec = mutable.ArrayBuffer.empty[Double]
    val filesRead = mutable.ArrayBuffer.empty[Double]

    def ask(q: Query): Array[Row] = {
      val t0 = System.nanoTime()
      val table = t.span("tables.discover") { spark.read.parquet(silver) }
      val t1 = System.nanoTime()
      val (df, rows) = t.span(s"analytics.${q.name}") {
        val df = q.build(table)
        (df, df.collect())
      }
      val now = System.nanoTime()
      if (t.tracing) {
        val cat = Plans.catalystMs(df)
        catalyst += cat
        exec += (now - t1) / 1e6 - cat
        filesRead += Plans.filesRead(df).toDouble
      }
      perQuery += (now - t0) / 1e6
      rows
    }
    def check(q: Query, rows: Array[Row]): Unit = {
      val d = rowsDigest(rows)
      digests.get(q.name) match {
        case None =>
          digests(q.name) = d
          if (Recomputed(q.name)) report.checks += Json.obj("kind" -> "query",
            "name" -> q.name, "params" -> q.params, "path" -> silver,
            "columns" -> Json.arr(rows.headOption.map(_.schema.fieldNames.toSeq).getOrElse(Nil).map(Json.str)),
            "rows" -> Json.arr(rows.toSeq.map(r => Json.arr(r.toSeq.map(v => Json.str(String.valueOf(v)))).json)))
        case Some(prev) if prev != d =>
          report.fail(s"${q.name}(${q.params}) changed between repeats: $prev vs $d")
        case _ =>
      }
    }

    // Warm-up: one untimed round; its results are the reference the timed
    // repeats must agree with.
    val w0 = System.nanoTime()
    queries.foreach(q => check(q, ask(q)))
    val warmS = (System.nanoTime() - w0) / 1e9
    perQuery.clear()

    val loop = new Loop(ctx)
    val start = System.nanoTime()
    while ((System.nanoTime() - start) / 1e9 < seconds) {
      report.attempted += 1
      val (answers, _) = loop.op(rng.shuffle(queries).map(q => q -> Try(ask(q))))
      val failedBefore = report.failed
      answers.foreach {
        case (q, Success(rows)) => check(q, rows)
        case (q, Failure(e)) => report.fail(s"${q.name}: $e")
      }
      if (report.failed > failedBefore) {
        report.failed = failedBefore + 1
        loop.failLast()
      }
    }
    report.endToEnd("op_p50_ms") = Stats.median(loop.timed) * 1000
    report.endToEnd("storage_bytes_per_raw_byte") = Layout.storageRatio(wh, ctx.expect.rawBytes)
    report.checks += Json.obj("kind" -> "silver", "path" -> wh.toString)
    if (t.recorder.isDefined) {
      report.perLayer ++= loop.layers()
      val p = Stats.tailPercentile(perQuery.size)
      report.perLayer("analytics.tail_pct") = p.getOrElse(100).toDouble
      report.perLayer("analytics.tail_ms") = Stats.quantile(perQuery.toSeq, p.getOrElse(100) / 100.0)
      report.perLayer("analytics.samples") = perQuery.size.toDouble
      report.perLayer("analytics.catalyst_ms") = Stats.median(catalyst.toSeq)
      report.perLayer("analytics.exec_ms") = Stats.median(exec.toSeq)
      report.perLayer("tables.files_scanned_per_query") = Stats.median(filesRead.toSeq)
      report.perLayer ++= Layout.of(wh).filter(_._1 == "tables.kb_per_file")
    }
    buildS + warmS
  }
}

/** Just enough JSON writing for the report. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toPlainString
  /** Already-encoded JSON. */
  final case class Raw(json: String)

  def arr(xs: Seq[String]): Raw = Raw(xs.mkString("[", ",", "]"))
  def obj(kv: (String, Any)*): String = kv.map { case (k, v) =>
    str(k) + ":" + (v match {
      case Raw(json) => json
      case s: String => str(s)
      case d: Double => num(d)
      case i: Int => i.toString
      case other => str(String.valueOf(other))
    })
  }.mkString("{", ",", "}")

  /** Every span and Spark action of a traced run, one JSON object per
    * line. */
  def writeTrace(path: Path, t: Tracer): Unit = {
    val lines = t.spans.map(s => obj("span" -> s.name, "op" -> s.op, "start_ms" -> s.startMs.toDouble,
        "end_ms" -> s.endMs.toDouble, "s" -> s.seconds)) ++
      t.recorder.toSeq.flatMap(_.actions).map(a => obj("action" -> Option(a.site).getOrElse(""),
        "start_ms" -> a.startMs.toDouble, "end_ms" -> a.endMs.toDouble))
    java.nio.file.Files.write(path, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }

  def writeReport(path: Path, r: Report): Unit = {
    def metrics(m: collection.Map[String, Double]) =
      m.map { case (k, v) => str(k) + ":" + num(v) }.mkString("{", ",", "}")
    val text = "{" + Seq(
      str("end_to_end") + ":" + metrics(r.endToEnd),
      str("per_layer") + ":" + metrics(r.perLayer),
      str("attempted") + ":" + r.attempted,
      str("failed") + ":" + r.failed,
      str("errors") + ":" + arr(r.errors.toSeq.map(str)).json,
      str("checks") + ":" + arr(r.checks.toSeq).json).mkString(",") + "}"
    java.nio.file.Files.write(path, text.getBytes("UTF-8"))
  }
}
