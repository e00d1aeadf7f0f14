package graft.queries

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.core.Tables
import graft.ingest.{BronzeIngest, SilverEtl}
import QueryDef._

/** Scan/source operators S1–S9 from SURVEY.md §2.1, proven as ROUNDTRIPS:
  * testdata is projected out through the format under test (JSON array,
  * heterogeneous CSV, seed CSV, byte-copy landing), read back through the
  * engine's readers, and aggregated — the DuckDB oracle states the same
  * result directly over the original parquet, so any reader bug
  * (misalignment, type drift, row loss) breaks the hash.
  */
object ScanQueries {

  private def t(s: SparkSession, d: String, n: String): DataFrame =
    Tables.load(s, d, n)

  /** Scratch dir for roundtrip artifacts; per-query, recreated each run. */
  private def scratch(name: String): Path = {
    val p = Paths.get(sys.props("java.io.tmpdir"), "graft_scan", name)
    delete(p); Files.createDirectories(p); p
  }
  private def delete(p: Path): Unit = graft.tables.FsUtil.deleteRec(p)
  /** Move Spark part-files from a write dir into a flat dir under a stable
    * name — lets two differently-schemed writes coexist as one landing. */
  private def adoptParts(from: Path, to: Path, name: String, ext: String): Unit = {
    val parts = graft.tables.FsUtil.listDir(from)
      .filter(_.getFileName.toString.startsWith("part-")).sortBy(_.toString)
    parts.zipWithIndex.foreach { case (f, i) =>
      Files.move(f, to.resolve(s"$name$i.$ext"))
    }
  }

  val defs: Seq[QueryDef] = Seq(

    // S1 — file-format probe via a FileSystem listing (etl.py:40-61): land a
    // JSON dir and a CSV dir, probe both, return what was detected.
    QueryDef(
      "s1_format_detect",
      (s, d) => {
        import s.implicits._
        val base = scratch("s1")
        val jsonDir = base.resolve("json"); val csvDir = base.resolve("csv")
        t(s, d, "region").write.mode("overwrite").json(jsonDir.toString)
        t(s, d, "region").write.mode("overwrite").option("header", true).csv(csvDir.toString)
        Seq((
          SilverEtl.detectFileFormat(s, jsonDir.toString),
          SilverEtl.detectFileFormat(s, csvDir.toString)))
          .toDF("detected_json", "detected_csv")
      },
      Some("SELECT 'json' AS detected_json, 'csv' AS detected_csv")),

    // S2 — multiline JSON array scan (etl.py:137-146): nation exported as
    // ONE MongoDB-style JSON array document, read back with multiLine.
    QueryDef(
      "s2_multiline_json_scan",
      (s, d) => {
        val base = scratch("s2")
        val rows = t(s, d, "nation").orderBy(col("n_nationkey")).collect() // 25-row dim, driver-safe
        val json = rows.map { r =>
          s"""{"n_nationkey": ${r.getInt(0)}, "n_name": "${r.getString(1)}", "n_regionkey": ${r.getInt(2)}}"""
        }.mkString("[\n  ", ",\n  ", "\n]")
        Files.writeString(base.resolve("nation.json"), json)
        SilverEtl.readJson(s, base.resolve("nation.json").toString)
          .groupBy(col("n_regionkey").cast(IntegerType).as("n_regionkey"))
          .agg(
            count(lit(1)).as("n_nations"),
            array_join(array_sort(collect_set(col("n_name"))), "|").as("nations"))
          .orderBy(col("n_regionkey"))
      },
      Some("""SELECT n_regionkey, COUNT(*) AS n_nations,
              ARRAY_TO_STRING(LIST_SORT(LIST_DISTINCT(LIST(n_name))), '|') AS nations
              FROM nation GROUP BY n_regionkey ORDER BY n_regionkey""")),

    // S3 — heterogeneous CSV union BY NAME (etl.py:155-184): customers
    // split into two CSV files with DIFFERENT column sets and orders; the
    // reader must align by header, never position.
    QueryDef(
      "s3_csv_union_by_name",
      (s, d) => {
        val base = scratch("s3")
        val cust = t(s, d, "customer")
        val aDir = base.resolve("wa"); val bDir = base.resolve("wb")
        cust.filter(col("c_custkey") % 2 === 0)
          .select(col("c_custkey"), col("c_name"), col("c_acctbal"))
          .coalesce(1).write.mode("overwrite").option("header", true).csv(aDir.toString)
        cust.filter(col("c_custkey") % 2 === 1)
          .select(col("c_mktsegment"), col("c_custkey")) // different set + order
          .coalesce(1).write.mode("overwrite").option("header", true).csv(bDir.toString)
        val landing = base.resolve("landing"); Files.createDirectories(landing)
        adoptParts(aDir, landing, "a", "csv"); adoptParts(bDir, landing, "b", "csv")
        SilverEtl.readCsvUnion(s, landing.toString)
          .agg(
            count(lit(1)).as("n"),
            count(col("c_name")).as("n_named"),
            count(col("c_mktsegment")).as("n_seg"),
            dsum(col("c_acctbal")).as("sum_bal"),
            sum(col("c_custkey").cast(LongType)).as("sum_key"))
      },
      Some(s"""SELECT COUNT(*) AS n, COUNT(c_name) AS n_named,
               COUNT(c_mktsegment) AS n_seg, ${dsumSql("c_acctbal")} AS sum_bal,
               CAST(SUM(c_custkey) AS BIGINT) AS sum_key FROM (
                 SELECT c_custkey, c_name, c_acctbal, CAST(NULL AS VARCHAR) AS c_mktsegment
                 FROM customer WHERE c_custkey % 2 = 0
                 UNION ALL
                 SELECT c_custkey, CAST(NULL AS VARCHAR), CAST(NULL AS DOUBLE), c_mktsegment
                 FROM customer WHERE c_custkey % 2 = 1
               )""")),

    // S4/S5 — seed CSV scan with explicit StructType + per-column casts
    // (etl.py:505-514, dimensions.py:403-455).
    QueryDef(
      "s5_schema_seed_csv",
      (s, d) => {
        val base = scratch("s5")
        t(s, d, "region").coalesce(1).write.mode("overwrite")
          .option("header", true).csv(base.resolve("w").toString)
        val landing = base.resolve("seed"); Files.createDirectories(landing)
        adoptParts(base.resolve("w"), landing, "seed", "csv")
        val schema = StructType(Seq(
          StructField("r_regionkey", IntegerType),
          StructField("r_name", StringType)))
        s.read.schema(schema).option("header", "true").csv(landing.toString)
          .orderBy(col("r_regionkey"))
      },
      Some("SELECT r_regionkey, r_name FROM region ORDER BY r_regionkey")),

    // S6 — catalog table scan (dimensions.py:247): views registered, read
    // back via spark.table.
    QueryDef(
      "s6_catalog_table_scan",
      (s, d) => {
        Tables.registerAll(s, d)
        s.table("supplier")
          .groupBy(col("s_nationkey"))
          .agg(count(lit(1)).as("n_suppliers"))
          .orderBy(col("s_nationkey"))
      },
      Some("""SELECT s_nationkey, COUNT(*) AS n_suppliers FROM supplier
              GROUP BY s_nationkey ORDER BY s_nationkey""")),

    // S7 — bronze validate + idempotent byte-copy landing
    // (bronze/ingest.py:206-303): export customers as a raw CSV with the
    // required `_id`/`course` headers, upload twice (second must skip),
    // then read the LANDED file back and roll up.
    QueryDef(
      "s7_bronze_upload_roundtrip",
      (s, d) => {
        val base = scratch("s7")
        t(s, d, "customer")
          .select(
            col("c_custkey").cast(StringType).as("_id"),
            col("c_mktsegment").as("course"),
            col("c_acctbal"))
          .coalesce(1).write.mode("overwrite").option("header", true)
          .csv(base.resolve("w").toString)
        val exportDir = base.resolve("export"); Files.createDirectories(exportDir)
        adoptParts(base.resolve("w"), exportDir, "export", "csv")
        val src = exportDir.resolve("export0.csv")
        val landing = base.resolve("landing")
        val first = BronzeIngest.upload(src, landing)
        val second = BronzeIngest.upload(src, landing) // idempotent skip
        require(!first.skipped && second.skipped, "idempotency violated")
        s.read.option("header", true).csv(first.path)
          .groupBy(col("course"))
          .agg(count(lit(1)).as("n"), dsum(col("c_acctbal")).as("sum_bal"))
          .orderBy(col("course"))
      },
      Some(s"""SELECT c_mktsegment AS course, COUNT(*) AS n,
               ${dsumSql("c_acctbal")} AS sum_bal
               FROM customer GROUP BY c_mktsegment ORDER BY course""")),

    // S8 — course-slug normalization (bronze/ingest.py:157-203), here as
    // the equivalent codegen'd column expression so it runs on executors:
    // lowercase, strip stopwords, strip non-alphanumerics.
    QueryDef(
      "s8_slug_normalize",
      (s, d) => {
        val stop = "\\b(golf|course|club|country|the|at|gc)\\b"
        t(s, d, "part")
          .select(
            col("p_partkey"),
            regexp_replace(
              regexp_replace(lower(col("p_name")), stop, ""),
              "[^a-z0-9]", "").as("slug"))
          .orderBy(col("p_partkey"))
      },
      Some("""SELECT p_partkey,
              REGEXP_REPLACE(REGEXP_REPLACE(LOWER(p_name), '\b(golf|course|club|country|the|at|gc)\b', '', 'g'),
                             '[^a-z0-9]', '', 'g') AS slug
              FROM part ORDER BY p_partkey""")),

    // S9 — MongoDB `$oid`/`$date` normalizer (lib/tm_lakehouse/api.py:22-78
    // + etl.py:217-243): wrap keys into Mongo-style structs, then unwrap
    // through the schema-introspecting safeCol.
    QueryDef(
      "s9_mongo_normalize",
      (s, d) => {
        val wrapped = t(s, d, "orders").select(
          struct(col("o_orderkey").cast(StringType).as("$oid")).as("_id"),
          struct(date_format(col("o_orderdate"), "yyyy-MM-dd'T'HH:mm:ss'Z'").as("$date"))
            .as("startTime"),
          col("o_totalprice"))
        val unwrapped = wrapped.select(
          SilverEtl.safeCol(wrapped, "_id").as("round_id"),
          to_timestamp(SilverEtl.safeCol(wrapped, "startTime")).as("round_start"),
          col("o_totalprice"))
        unwrapped
          .groupBy(year(col("round_start")).as("start_year"))
          .agg(
            count(lit(1)).as("n"),
            countDistinct(col("round_id")).as("n_rounds"),
            dsum(col("o_totalprice")).as("total"))
          .orderBy(col("start_year"))
      },
      Some(s"""SELECT CAST(YEAR(o_orderdate) AS INTEGER) AS start_year, COUNT(*) AS n,
               COUNT(DISTINCT CAST(o_orderkey AS VARCHAR)) AS n_rounds,
               ${dsumSql("o_totalprice")} AS total
               FROM orders GROUP BY 1 ORDER BY start_year""")),

    // S10 — ORC write/read roundtrip: the second columnar format of a
    // multi-format lake (Spark's built-in ORC source; predicate pushdown
    // and column pruning work the same as parquet). DuckDB can't read
    // ORC, so the gate aggregates the read-back table and the oracle
    // computes the same aggregate from the parquet original — any
    // roundtrip corruption breaks the hash.
    QueryDef(
      "s10_orc_roundtrip",
      (s, d) => {
        val path = s"${QueryDef.oracleScratch}/orc_customer"
        t(s, d, "customer").write.mode("overwrite").orc(path)
        s.read.orc(path)
          .groupBy(col("c_mktsegment"))
          .agg(
            count(lit(1)).as("n"),
            sum(col("c_nationkey")).as("sum_nation"),
            dsum(col("c_acctbal")).as("sum_bal"),
            countDistinct(col("c_custkey")).as("n_cust"))
          .orderBy(col("c_mktsegment"))
      },
      Some(s"""SELECT c_mktsegment, COUNT(*) AS n,
               CAST(SUM(c_nationkey) AS BIGINT) AS sum_nation,
               ${dsumSql("c_acctbal")} AS sum_bal,
               COUNT(DISTINCT c_custkey) AS n_cust
               FROM customer GROUP BY 1 ORDER BY 1"""))
  )
}
