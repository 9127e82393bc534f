package graft.pipeline

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions.{count, lit}
import org.apache.spark.storage.StorageLevel

import graft.operators.Flatten
import graft.sources.{Archiver, RawJsonReader, Sinks}

/** End-to-end daily batch (SURVEY §2.12 G1-G3, §3.1).
  *
  * The reference runs this as 8 Airflow tasks in separate worker
  * processes, shipping every intermediate through XCom rows in Postgres.
  * Here it is one driver program: parse once, persist, derive the three
  * tables (DAG fan-out), write, archive (fan-in). The only process
  * boundaries left are the album and artist dedup shuffles.
  *
  * The songs table is a per-row projection of the parsed input
  * (`Flatten.songs`), so its write has no shuffle. Each raw file is one
  * wholetext row, parsed in one task, so each date lands in one task
  * and one file per `scrape_date=` dir; the raw scan packs the files into
  * about `defaultParallelism` partitions, so the per-file write and
  * commit work spreads over every core. Counts are observed on the
  * parquet writes themselves, so no job re-runs a dedup just to count.
  */
object Runner {

  case class Result(albums: Long, artists: Long, songs: Long, archived: Int)

  /** Run one daily batch: landingDir *.json files → out/{album,artist,songs}. */
  def runBatch(spark: SparkSession, landingDir: String, outDir: String,
      processedDir: Option[String] = None, alsoCsv: Boolean = false): Result = {
    val raw = RawJsonReader.read(spark, landingDir)
      .persist(StorageLevel.MEMORY_AND_DISK) // G1: parse once, fan out 3×

    /** Writes one table; returns the rows the parquet write saw. */
    def write(df: DataFrame, name: String, partition: Seq[String]): Long = {
      val rows = Observation(name)
      Sinks.writeParquet(df.observe(rows, count(lit(1)).as("n")), s"$outDir/$name",
        partitionCols = partition)
      if (alsoCsv) Sinks.writeCsv(df, s"$outDir/csv/$name")
      rows.get("n").asInstanceOf[Long]
    }
    val (nAlbum, nArtist, nSongs) =
      try (write(Flatten.albums(raw), "album", Nil),
        write(Flatten.artists(raw), "artist", Nil),
        write(Flatten.songs(raw), "songs", Seq("scrape_date")))
      finally raw.unpersist()

    // fan-in barrier: archive only after every branch wrote (T3)
    val archived = processedDir.map(Archiver.archive(spark, landingDir, _)).getOrElse(0)
    Result(nAlbum, nArtist, nSongs, archived)
  }
}
