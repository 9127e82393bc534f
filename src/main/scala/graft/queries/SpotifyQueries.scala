package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation,
  PartitioningAwareFileIndex}
import org.apache.spark.sql.execution.datasources.v2.{DataSourceV2Relation, FileTable}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftsql.exprColumn
import org.apache.spark.sql.types.DateType

/** The reference's analysis workload, Q0-Q4 (SURVEY §3.3), as DataFrame
  * programs over the flat tables. This is the one body of each query:
  * the ETL face runs them over the tables `Runner`/`StreamingLoader`
  * write, and `SpotifyParity` (q62–q65) runs them over its derived chart
  * under the DuckDB oracle. Q2 also has a SQL twin in `sql`, run via
  * `spark.sql` after `register`.
  *
  * Sources: snowflake-pipeline-query/spotify-analysis.sql:84-126 ≡
  * GlueCrawler-Athena/athena_spotify_analysis.sql:1-40, with the §1.4
  * reconciliation (`album.name`, engine-generated rank/scrape_date) and
  * two determinism anchors: CURRENT_DATE becomes the songs table's max
  * date, and ORDER BY ties get the id tiebreak the reference leaves
  * unspecified.
  *
  * Q2's broken `a.album_name` reference (spotify-analysis.sql:102 vs DDL
  * `name_` :29) is fixed per SURVEY §1.4.2: the column is `name`, aliased
  * `album_name` in the output.
  */
object SpotifyQueries {

  def register(spark: SparkSession, album: DataFrame, artist: DataFrame,
      songs: DataFrame): Unit = {
    album.createOrReplaceTempView("album")
    artist.createOrReplaceTempView("artist")
    songs.createOrReplaceTempView("songs")
  }

  /** Q0: count(*) smoke ×3 (spotify-analysis.sql:84-88). */
  def q0Counts(album: DataFrame, artist: DataFrame, songs: DataFrame): DataFrame = {
    def one(df: DataFrame, name: String) =
      df.agg(count(lit(1)).as("n")).select(lit(name).as("tbl"), col("n"))
    one(album, "album").unionAll(one(artist, "artist")).unionAll(one(songs, "songs"))
      .orderBy("tbl")
  }

  /** Q1: top-10 trending songs, last 7 days of data
    * (spotify-analysis.sql:92-97). CURRENT_DATE in the reference; anchored
    * to max(scrape_date) here so results are reproducible.
    *
    * The anchor is [[latestDate]]. Over a songs table read from disk it is
    * a literal, so the date filter prunes partitions: Q1 is one job that
    * reads only the last 8 dates' files. Over any other input it is a
    * scalar subquery, with the same rows. */
  def q1Trending(songs: DataFrame): DataFrame =
    songs.filter(col("scrape_date") >= date_sub(latestDate(songs), 7))
      .select("song_id", "song_name", "artist_id", "album_id", "rank", "scrape_date")
      .orderBy(asc("rank"), asc("scrape_date"), asc("song_id"))
      .limit(10)

  /** `max(scrape_date)` of `songs`, as a Column.
    *
    * When `songs` is a bare scan of a file table partitioned by a date
    * `scrape_date` (a V2 `FileTable`, or a V1 `HadoopFsRelation`) whose
    * file index holds its listing in memory (a directory listing or a
    * streaming sink's log), the anchor is a literal: the greatest date
    * among the partitions that list at least one file. It is read from
    * the index the DataFrame already holds, so it runs no job and does no
    * I/O. It equals the aggregate because Spark's partitioned writers
    * open a file only when a row of that partition arrives: a listed
    * partition holds rows, and an empty `scrape_date=` directory lists
    * none. An empty table gives a null anchor, as the aggregate does.
    *
    * Any other input (a derived chart, a filtered read) gets the scalar
    * subquery `max(scrape_date)`, the form [[mostCharted]] uses. */
  def latestDate(songs: DataFrame): Column = {
    val index = songs.queryExecution.analyzed match {
      case r: LogicalRelation => Some(r.relation).collect { case h: HadoopFsRelation => h.location }
      case r: DataSourceV2Relation => Some(r.table).collect { case t: FileTable => t.fileIndex }
      case _ => None
    }
    val literal = index.collect { case i: PartitioningAwareFileIndex => i }.flatMap { i =>
      val k = i.partitionSchema.fieldNames.indexOf("scrape_date")
      Option.when(k >= 0 && i.partitionSchema(k).dataType == DateType) {
        val days = i.listFiles(Nil, Nil).filter(_.files.nonEmpty).map(_.values)
          .filterNot(_.isNullAt(k)).map(_.getInt(k))
        exprColumn(Literal(days.maxOption.map(Int.box).orNull, DateType))
      }
    }
    literal.getOrElse(songs.agg(max(col("scrape_date"))).scalar())
  }

  /** Q2: album popularity over time — join + group-avg + multi-column sort
    * (spotify-analysis.sql:99-108). Dims are ≤50 rows/day → broadcast. */
  def q2AlbumPopularity(songs: DataFrame, album: DataFrame): DataFrame =
    songs.join(broadcast(album), Seq("album_id"))
      .groupBy(col("album_id"), col("name").as("album_name"), col("scrape_date"))
      .agg(avg(col("rank")).as("avg_rank"))
      .orderBy("album_id", "scrape_date")

  /** Q3: artists with most top-10 appearances
    * (spotify-analysis.sql:110-118), literally: no artist-name join. */
  def q3TopArtists(songs: DataFrame): DataFrame =
    songs.filter(col("rank") <= 10)
      .groupBy("artist_id")
      .agg(count(lit(1)).as("top_10_appearances"))
      .orderBy(desc("top_10_appearances"), asc("artist_id"))
      .limit(10)

  /** Q4: daily chart movement of one song (spotify-analysis.sql:120-126),
    * plus the lag delta the query invites (SURVEY §2.8 W3). `songId` is
    * the reference's `<song_id_here>`: a literal or [[mostCharted]].
    *
    * The filtered rows all share one `song_id`, so one exchange into a
    * single partition serves both the window and the final sort: a scan
    * stage and a single-partition stage, with no range-sampling job. */
  def q4ChartMovement(songs: DataFrame, songId: Column): DataFrame = {
    val w = Window.partitionBy(col("song_id")).orderBy(col("scrape_date"))
    songs.filter(col("song_id") === songId)
      .select(col("song_id"), col("song_name"), col("rank"), col("scrape_date"))
      .repartition(1)
      .withColumn("rank_change", col("rank") - lag(col("rank"), 1).over(w))
      .orderBy("scrape_date")
  }

  def q4ChartMovement(songs: DataFrame, songId: String): DataFrame =
    q4ChartMovement(songs, lit(songId))

  /** The most-charted song (most rows in `songs`, ties → lowest id), as a
    * scalar subquery: the deterministic pick for Q4's placeholder. */
  def mostCharted(songs: DataFrame): Column =
    songs.groupBy("song_id").agg(count(lit(1)).as("n"))
      .orderBy(desc("n"), asc("song_id")).limit(1).select("song_id")
      .scalar()

  /** SQL twin of Q2 (runnable via spark.sql after register). */
  val sql: Map[String, String] = Map(
    "q2" -> """SELECT s.album_id, a.name AS album_name, s.scrape_date,
        avg(s.rank) AS avg_rank
      FROM songs s JOIN album a ON s.album_id = a.album_id
      GROUP BY s.album_id, a.name, s.scrape_date
      ORDER BY s.album_id, s.scrape_date""")
}
