package graft.pipeline

import java.util.concurrent.{ExecutionException, Executors, ThreadFactory, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.{Observation, SparkSession}
import org.apache.spark.sql.functions.{count, lit}
import org.apache.spark.storage.StorageLevel

import graft.operators.Flatten
import graft.sources.{Archiver, RawJsonReader, Sinks}

/** End-to-end daily batch (SURVEY §2.12 G1-G3, §3.1).
  *
  * The reference runs this as 8 Airflow tasks in separate worker
  * processes, shipping every intermediate through XCom rows in Postgres.
  * Here it is one driver program: parse once, persist, derive the three
  * tables, then fan out. Every sink write of the pass (the three parquet
  * writes and, with `alsoCsv`, their three CSV twins) is submitted at
  * once, one driver thread each, so their jobs share the cores. Waiting
  * for all of them is the fan-in barrier; the archive runs after it. The
  * only process boundaries left are the album and artist dedup shuffles.
  *
  * The write threads come from a pool made per call and shut down before
  * it returns. A thread copies the caller's Spark local properties (job
  * group, description, scheduler pool, active session) when it is
  * created, so every job of the pass carries the caller's.
  *
  * A failed write does not stop the others: the barrier waits for every
  * write, releases the parsed input, skips the archive and rethrows the
  * first failure (the others are suppressed on it). Appends of the other
  * tables that completed stay committed, as those written before the
  * failure did when the writes ran one after another; an atomic pass
  * needs a table format with multi-table commits (ROADMAP direction 6(c)).
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

  /** Name prefix of the write threads of a [[runBatch]] call. */
  val WriteThreadPrefix = "runBatch-write-"

  /** Run one daily batch: landingDir *.json files → out/{album,artist,songs}. */
  def runBatch(spark: SparkSession, landingDir: String, outDir: String,
      processedDir: Option[String] = None, alsoCsv: Boolean = false): Result = {
    val read = RawJsonReader.read(spark, landingDir)
    // the files read, archived after the writes (persist hides the scan)
    val inputFiles = read.inputFiles.toSeq
    val raw = read.persist(StorageLevel.MEMORY_AND_DISK) // G1: parse once, fan out 3×
    val rows = Seq("album", "artist", "songs").map(Observation(_))
    try {
      val writes = Seq(
        (Flatten.albums(raw), "album", Nil),
        (Flatten.artists(raw), "artist", Nil),
        (Flatten.songs(raw), "songs", Seq("scrape_date"))
      ).zip(rows).flatMap { case ((df, name, partition), n) =>
        val parquet = () => Sinks.writeParquet(df.observe(n, count(lit(1)).as("n")),
          s"$outDir/$name", partitionCols = partition)
        if (alsoCsv) Seq(parquet, () => Sinks.writeCsv(df, s"$outDir/csv/$name"))
        else Seq(parquet)
      }
      runAll(writes) // the fan-in barrier
    } finally raw.unpersist()

    val Seq(nAlbum, nArtist, nSongs) = rows.map(_.get("n").asInstanceOf[Long])
    // archive only after every branch wrote (T3)
    val archived = processedDir.map(Archiver.archive(spark, inputFiles, _)).getOrElse(0)
    Result(nAlbum, nArtist, nSongs, archived)
  }

  /** Runs every write on its own thread and returns when all have ended;
    * rethrows the first failure, in submission order, with the rest
    * suppressed on it. */
  private def runAll(writes: Seq[() => Unit]): Unit = {
    val ids = new AtomicInteger()
    val factory: ThreadFactory = r => new Thread(r, WriteThreadPrefix + ids.incrementAndGet())
    val pool = Executors.newFixedThreadPool(writes.size, factory)
    try {
      val pending = writes.map { w => val task: Runnable = () => w(); pool.submit(task) }
      val failures = pending.flatMap { f =>
        try { f.get(); None } catch { case e: ExecutionException => Some(e.getCause) }
      }
      failures.headOption.foreach { first =>
        failures.tail.foreach(first.addSuppressed)
        throw first
      }
    } finally {
      pool.shutdown()
      pool.awaitTermination(Long.MaxValue, TimeUnit.NANOSECONDS)
    }
  }
}
