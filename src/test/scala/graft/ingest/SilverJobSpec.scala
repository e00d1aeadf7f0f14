package graft.ingest

import java.nio.file.Files

import scala.collection.mutable

import org.apache.spark.ListenerBusDrain
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.csv.CSVFileFormat
import org.apache.spark.sql.execution.datasources.json.JsonFileFormat
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

import graft.SparkSpec

/** SilverJob evaluates the Silver ETL once per batch, and what it writes is
  * exactly SilverEtl.transform's split. */
class SilverJobSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  private def res(p: String): String =
    getClass.getResource(p).toString.stripPrefix("file:")

  private val fixtures = Seq(
    "/golf/json_invalid" -> SilverEtl.SilverConfig("indiancreek", "2024-03-02"),
    "/golf/csv" -> SilverEtl.SilverConfig("erinhills", "2024-04-01"))

  /** Names of the actions run by `body` that evaluate the ETL: those whose
    * executed plan reads files under `dir` as CSV or JSON. (CSV header
    * sniffing reads the files as text and is not counted.) A cached plan
    * counts once, for the action that fills the cache. */
  private def landingScans(dir: String)(body: => Unit): Seq[String] = {
    def scansLanding(plan: SparkPlan): Boolean = collect(plan) {
      case s: FileSourceScanExec if (s.relation.fileFormat match {
          case _: CSVFileFormat | _: JsonFileFormat => true
          case _ => false
        }) && s.relation.location.rootPaths.exists(_.toUri.getPath.startsWith(dir)) => s
    }.nonEmpty
    val seen = mutable.ArrayBuffer.empty[String]
    val filledCaches = mutable.ArrayBuffer.empty[SparkPlan]
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        seen.synchronized {
          val cached = collect(qe.executedPlan) {
            case m: InMemoryTableScanExec => m.relation.cachedPlan
          }.filter(p => scansLanding(p) && !filledCaches.exists(_ eq p))
          filledCaches ++= cached
          if (scansLanding(qe.executedPlan) || cached.nonEmpty) seen += funcName
        }
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      body
      ListenerBusDrain.drain(spark.sparkContext)
    } finally spark.listenerManager.unregister(listener)
    seen.synchronized(seen.toList)
  }

  private def assertSameRows(actual: DataFrame, expected: DataFrame): Unit = {
    assert(actual.count() === expected.count())
    assert(actual.exceptAll(expected).isEmpty && expected.exceptAll(actual).isEmpty)
  }

  fixtures.foreach { case (dir, cfg) =>
    test(s"SilverJob scans the landing once per run ($dir)") {
      val warehouse = Files.createTempDirectory("graft_silverjob").toString
      val scans = landingScans(res(dir)) {
        SilverJob.run(spark, res(dir), warehouse, cfg, "once", 1)
      }
      assert(scans.size === 1, s"landing scanned by: ${scans.mkString(", ")}")
    }

    test(s"SilverJob writes transform's valid and invalid rows as multisets ($dir)") {
      val warehouse = Files.createTempDirectory("graft_silverjob").toString
      val r = SilverJob.run(spark, res(dir), warehouse, cfg, "rows", 1)
      val (valid, invalid) = SilverEtl.transform(SilverEtl.read(spark, res(dir)), cfg)
      // SilverJob files NULL event dates under 1900-01-01.
      val expectedSilver = valid.withColumn("event_date",
        coalesce(col("event_date"), lit("1900-01-01").cast("date")))
      val silver = spark.read.parquet(r.tablePath)
        .select(expectedSilver.schema.fields.toSeq.map(f => col(f.name).cast(f.dataType)): _*)
      assert(r.validCount === valid.count())
      assertSameRows(silver, expectedSilver)

      assert(r.invalidCount === invalid.count())
      r.quarantinePath match {
        case Some(p) => assertSameRows(spark.read.schema(invalid.schema).json(p), invalid)
        case None => assert(invalid.isEmpty)
      }
    }
  }
}
