package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Casting/cleaning columns (SURVEY §2.3 D3/D4; D5's NULL tokens are
  * read by Sinks.readCsv).
  *
  * Pure `Column` expressions — whole-stage-codegen'd, no UDFs.
  */
object Casts {

  /** Lenient date parse matching pandas `to_datetime` over the partial
    * precisions Spotify emits — `YYYY`, `YYYY-MM`, `YYYY-MM-DD`
    * (reference: spotify-airflow-pipeline.py:109). Anything else → null. */
  def lenientDate(c: Column): Column = coalesce(
    try_to_timestamp(c, lit("yyyy-MM-dd")).cast("date"),
    try_to_timestamp(c, lit("yyyy-MM")).cast("date"),
    try_to_timestamp(c, lit("yyyy")).cast("date"))

  /** ISO-8601 timestamp with zone → session-UTC TimestampType
    * (reference :158; TIMESTAMP_TZ per spotify-analysis.sql:47). */
  def isoTimestamp(c: Column): Column = to_timestamp(c)
}
