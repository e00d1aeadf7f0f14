package graft.ingest

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.queries.Corpus
import SilverEtl._

/** Semantics of the Silver pipeline against the golf-domain fixtures —
  * each case mirrors a behavior the reference's docs/tests pin down
  * (FIXTURES.md; pipeline/silver/etl.py citations inline).
  */
class SilverEtlSpec extends SparkSpec {

  private def res(p: String): String =
    getClass.getResource(p).toString.stripPrefix("file:")

  private lazy val topology: DataFrame =
    spark.read.option("header", true).csv(res("/golf/seeds/dim_facility_topology.csv"))

  private def runJson(dir: String, cfg: SilverConfig): (DataFrame, DataFrame) =
    SilverEtl.transform(readJson(spark, res(dir) + "/*.json"), cfg)

  // ------------------------------------------------------------ JSON path

  private lazy val (jsonValid, jsonInvalid) = runJson(
    "/golf/json", SilverConfig("americanfalls", "2024-01-20"))

  test("json: explode + dedup keeps one row per (round, ts, index)") {
    // r1 appears in two files (3 + 2 locations) but dedup collapses the
    // overlapping (ts, index) keys; r2 contributes 2 rows (etl.py:572-586).
    assert(jsonValid.count() === 5)
    assert(jsonInvalid.count() === 0)
  }

  test("json: dedup prefers is_cache desc, then battery desc (etl.py:578-581)") {
    val r1 = jsonValid.filter(col("round_id") === "r1" && col("location_index") === 0)
      .select("is_cache", "battery_percentage").collect()
    assert(r1.length === 1)
    assert(r1(0).getBoolean(0) === true)      // cache-preferred duplicate won
    assert(r1(0).getDouble(1) === 50.0)
    val r1i1 = jsonValid.filter(col("round_id") === "r1" && col("location_index") === 1)
      .select("battery_percentage").collect()
    assert(r1i1(0).getDouble(0) === 94.0)     // original cached row won
  }

  test("json: fix_timestamp = round start + offset seconds (etl.py:389-396)") {
    val ts = jsonValid.filter(col("round_id") === "r1" && col("location_index") === 1)
      .select(col("fix_timestamp").cast("string")).collect()(0).getString(0)
    assert(ts === "2024-01-15 10:05:00")      // 10:00:00Z + 300.5s, floor to second
  }

  test("json: padding rows preserved + flagged, not dropped (etl.py:386-387,404-408)") {
    val padding = jsonValid.filter(col("is_location_padding"))
    assert(padding.count() === 1)
    val row = padding.select("round_id", "is_timestamp_missing").collect()(0)
    assert(row.getString(0) === "r2")
    assert(row.getBoolean(1) === true)
  }

  test("json: no-topology nine ladder prefers current_nine (etl.py:544-551)") {
    val nines = jsonValid.filter(col("round_id") === "r2")
      .select("nine_number").collect().map(_.getInt(0)).toSet
    assert(nines === Set(2))                  // currentNine=2 wins over hole ladder
  }

  test("json: pace fields rounded to 3 dp at ingest (etl.py:339-343)") {
    val row = jsonValid.filter(col("round_id") === "r1" && col("location_index") === 2)
      .select("pace_gap", "pace").collect()
    // index 2 exists only in the first file: paceGap/pace null there
    assert(row(0).isNullAt(0) && row(0).isNullAt(1))
    val r2 = runJson("/golf/json", SilverConfig("americanfalls", "x"))._1
      .filter(col("round_id") === "r1" && col("location_index") === 0 &&
        col("pace").isNotNull)
      .select("pace_gap", "pace").collect()
    // only the non-dup file carries pace on index 0? cache row won, which has
    // no pace -> skip unless present
    r2.foreach { r =>
      assert(math.abs(r.getDouble(0) - 10.123) < 1e-9)
      assert(math.abs(r.getDouble(1) - -12.346) < 1e-9)
    }
  }

  test("json: WKT geometry + duration (etl.py:451-464,554-567)") {
    val row = jsonValid.filter(col("round_id") === "r1" && col("location_index") === 1)
      .select("geometry_wkt", "round_duration_minutes").collect()(0)
    assert(row.getString(0) === "POINT(-112.84 42.79)")
    assert(row.getDouble(1) === 240.0)
  }

  // ------------------------------------------------------- MongoDB structs

  private lazy val mongoValid = runJson(
    "/golf/json_mongo", SilverConfig("pinehurst4", "2024-02-05"))._1

  test("mongo: $oid round_id + $date timestamps via schema introspection (etl.py:217-264)") {
    val ids = mongoValid.select("round_id").distinct().collect().map(_.getString(0)).toSet
    assert(ids === Set("507f1f77bcf86cd799439011", "507f1f77bcf86cd799439012"))
    val ts = mongoValid.filter(col("round_id") === "507f1f77bcf86cd799439011")
      .select(col("round_start_time").cast("string")).collect()(0).getString(0)
    assert(ts === "2024-02-01 08:30:00")
  }

  test("mongo: nine from hole ladder when no topology/current_nine (etl.py:491-496)") {
    val byHole = mongoValid.select("hole_number", "nine_number").collect()
      .map(r => r.getInt(0) -> r.getInt(1)).toMap
    assert(byHole(10) === 2 && byHole(3) === 1)
  }

  // ----------------------------------------------------------- CSV path

  private lazy val csvLanding = readCsvUnion(spark, res("/golf/csv"))
  private lazy val csvValid = SilverEtl.transform(
    csvLanding,
    SilverConfig("erinhills", "2024-04-05", topology = Some(topology)))._1

  test("csv: heterogeneous files union BY NAME, no positional misalignment (etl.py:155-184)") {
    // file B's columns are in a different order; its round cb1 index 0 must
    // still land on hole 1 / section 1.
    val row = csvValid.filter(col("round_id") === "cb1" && col("location_index") === 0)
      .select("hole_number", "section_number", "battery_percentage").collect()(0)
    assert(row.getInt(0) === 1 && row.getInt(1) === 1 && row.getDouble(2) === 71.0)
  }

  test("csv: index discovery spans both files incl. gaps (etl.py:64-72)") {
    assert(discoverLocationIndices(csvLanding.columns.toIndexedSeq) === Seq(0, 1, 2, 3))
    assert(csvValid.count() === 12)           // 3 rounds x 4 discovered slots
  }

  test("csv: rounds narrower than widest header become flagged padding (etl.py:404-408)") {
    val padPerRound = csvValid.filter(col("is_location_padding"))
      .groupBy("round_id").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(padPerRound === Map("ca1" -> 1L, "ca2" -> 2L, "cb1" -> 1L))
  }

  test("csv: topology range join wins over hole ladder (etl.py:516-543)") {
    // cb1 index 3: hole 1 (ladder says nine 1) but section 30 -> topo nine 2.
    val topoNine = csvValid.filter(col("round_id") === "cb1" && col("location_index") === 3)
      .select("nine_number").collect()(0).getInt(0)
    assert(topoNine === 2)
    val frontNine = csvValid.filter(col("round_id") === "ca1" && col("location_index") === 0)
      .select("nine_number").collect()(0).getInt(0)
    assert(frontNine === 1)
  }

  test("csv: fix_time_iso column preferred over offset when present (etl.py:367,389-396)") {
    val iso = csvValid.filter(col("round_id") === "ca1" && col("location_index") === 2)
      .select(col("fix_timestamp").cast("string")).collect()(0).getString(0)
    assert(iso === "2024-04-01 08:08:00")
    val fromOffset = csvValid.filter(col("round_id") === "cb1" && col("location_index") === 1)
      .select(col("fix_timestamp").cast("string")).collect()(0).getString(0)
    assert(fromOffset === "2024-04-03 09:05:00")
  }

  // ----------------------------------------------------------- quarantine

  test("invalid coordinates are quarantined, never dropped (etl.py:590-623)") {
    val (valid, invalid) = runJson(
      "/golf/json_invalid", SilverConfig("indiancreek", "2024-03-02"))
    assert(valid.count() === 1)
    assert(invalid.count() === 2)
    val lons = invalid.select("longitude").collect().map(_.getDouble(0)).toSet
    assert(lons === Set(200.0, -200.5))
  }

  test("format detection picks json over csv (etl.py:40-61)") {
    assert(detectFileFormat(spark, res("/golf/json")) === "json")
    assert(detectFileFormat(spark, res("/golf/csv")) === "csv")
  }

  test("format detection skips `_` and `.` names and defaults to csv without throwing") {
    val markers = Files.createTempDirectory("graft_detect")
    Seq("_SUCCESS", "._SUCCESS.crc", ".part-00000.json.crc")
      .foreach(n => Files.createFile(markers.resolve(n)))
    assert(detectFileFormat(spark, markers.toString) === "csv")
    // hidden and underscore-prefixed JSON names are not landing files
    val mixed = Files.createTempDirectory("graft_detect")
    Seq("_metadata.json", ".staged.json", "rounds.csv")
      .foreach(n => Files.createFile(mixed.resolve(n)))
    assert(detectFileFormat(spark, mixed.toString) === "csv")
    assert(detectFileFormat(spark, s"$markers/missing") === "csv")
  }

  test("s1_format_detect gate matches its oracle row") {
    val row = Corpus.queries("s1_format_detect")(spark, sfDir).collect().toSeq
      .map(r => (r.getString(0), r.getString(1)))
    assert(row === Seq(("json", "csv"))) // SELECT 'json', 'csv'
  }

  test("empty-string normalization on seed text columns (dimensions.py:346-353)") {
    import spark.implicits._
    val df = Seq(("a", ""), ("", "x")).toDF("u", "v")
    val out = emptyToNull(df, Seq("u", "v")).collect()
    assert(out(0).getString(0) === "a" && out(0).isNullAt(1))
    assert(out(1).isNullAt(0) && out(1).getString(1) === "x")
  }
}
