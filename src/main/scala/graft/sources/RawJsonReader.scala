package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.model.Spotify

/** Raw-layer reader (SURVEY §2.1 S4, §2.2 P6/P7).
  *
  * The reference lists `raw_data/to_process` JSON files and parses each file as
  * one JSON array (spotify-airflow-pipeline.py:76-89). Chart position (the
  * declared-but-never-produced `rank`, SURVEY §1.4) is the item's index in
  * that array, so array order must survive the read. Reading with
  * `wholetext` + `from_json` + `posexplode` keeps the ordinal native and
  * distributed: one input file = one row = one task; at scale thousands of
  * daily files parallelize across executors with no shuffle.
  */
object RawJsonReader {

  /** Read every raw file under `landingDir`, one output row per playlist
    * item, with `ord` (0-based array index) and `scrape_date` (from the
    * `spotify_raw_<yyyyMMddHHmmss>` filename, reference :68). */
  def read(spark: SparkSession, landingDir: String): DataFrame =
    items(spark.read
      .option("wholetext", "true")
      .option("pathGlobFilter", "*.json") // P6: suffix predicate at the scan
      .text(landingDir))

  /** Whole-file text rows (`value`) → playlist items. Shared by the batch
    * read and [[graft.streaming.StreamingLoader]]'s file stream, so both
    * produce the same shape. */
  def items(files: DataFrame): DataFrame =
    files
      .select(
        input_file_name().as("src_file"),
        from_json(col("value"), Spotify.rawFile).as("items"))
      .select(
        col("src_file"),
        to_date(
          unix_timestamp(
            regexp_extract(col("src_file"), "spotify_raw_(\\d{14})", 1),
            "yyyyMMddHHmmss").cast("timestamp")).as("scrape_date"),
        posexplode(col("items")).as(Seq("ord", "item")))
      .select(col("src_file"), col("scrape_date"), col("ord"),
        col("item.added_at").as("added_at"), col("item.track").as("track"))
}
