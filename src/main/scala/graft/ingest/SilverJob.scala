package graft.ingest

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._

import graft.tables.ParquetTable

/** The end-to-end Silver ingest job — the engine's equivalent of
  * `etl.py:main` (SURVEY §3.1): detect format → read → transform →
  * quarantine invalid coordinates → idempotent partition refresh of the
  * warehouse table → registry + run-summary observability.
  *
  * Partitioning matches the reference: `(course_id, event_date)`
  * (etl.py:680-682) — partition pruning serves the dashboard corpus's
  * per-course/per-date filters at 100 TB.
  */
object SilverJob {

  final case class Result(
      validCount: Long, invalidCount: Long,
      tablePath: String, quarantinePath: Option[String])

  def run(
      spark: SparkSession,
      landingDir: String,
      warehouseDir: String,
      cfg: SilverEtl.SilverConfig,
      runId: String,
      runSeq: Long = System.nanoTime()): Result = {
    val registry = s"$warehouseDir/ingestion_log"
    IngestionRegistry.log(spark, registry, cfg.courseId, cfg.ingestDate,
      "started", 0L, landingDir, runSeq)
    val tablePath = s"$warehouseDir/fact_telemetry_event"
    try {
      // The ETL runs once: an eager local checkpoint materializes the
      // flagged frame, and the counts and both sinks read that copy. A
      // checkpoint keeps the plan's AQE-coalesced partitioning, so the
      // writes produce few, large files; a `persist`ed plan keeps its
      // pre-coalesce shuffle partitions (canChangeCachedPlanOutputPartitioning
      // is off) and would also leave a CacheManager entry to release.
      val flagged = SilverEtl.flagged(SilverEtl.read(spark, landingDir), cfg)
        .localCheckpoint()
      val (validCount, invalidCount, quarantinePath) = try {
        val counts = flagged
          .agg(count_if(!col("is_invalid_coord")), count_if(col("is_invalid_coord")))
          .head()
        val (valid, invalid) = SilverEtl.splitFlagged(flagged)
        val quarantinePath =
          if (counts.getLong(1) > 0)
            Some(ParquetTable.writeQuarantine(
              invalid, s"$warehouseDir/quarantine", cfg.courseId, cfg.ingestDate, runId))
          else None
        // M1/M2: dynamic partition overwrite = idempotent refresh of exactly
        // the (course_id, event_date) partitions present in this ingest.
        ParquetTable.refreshPartitions(
          valid.withColumn("event_date",
            coalesce(col("event_date"), lit("1900-01-01").cast("date"))),
          tablePath, Seq("course_id", "event_date"))
        (counts.getLong(0), counts.getLong(1), quarantinePath)
      } finally releaseCheckpoint(flagged)

      IngestionRegistry.log(spark, registry, cfg.courseId, cfg.ingestDate,
        "success", validCount, s"invalid=$invalidCount", runSeq + 1)
      ParquetTable.writeRunSummary(
        spark, s"$warehouseDir/observability/run_id=$runId",
        Map(
          "run_id" -> runId, "course_id" -> cfg.courseId,
          "ingest_date" -> cfg.ingestDate, "landing_uri" -> landingDir,
          "valid_count" -> validCount.toString,
          "invalid_count" -> invalidCount.toString,
          "table" -> tablePath))
      Result(validCount, invalidCount, tablePath, quarantinePath)
    } catch {
      case e: Exception =>
        IngestionRegistry.log(spark, registry, cfg.courseId, cfg.ingestDate,
          "failed", 0L, String.valueOf(e.getMessage), runSeq + 1)
        throw e
    }
  }

  /** Drops the checkpoint's blocks now rather than when the context
    * cleaner notices the frame is gone. */
  private def releaseCheckpoint(df: DataFrame): Unit =
    df.queryExecution.logical.collect { case r: LogicalRDD => r.rdd.unpersist(blocking = false) }
}
