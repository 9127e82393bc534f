package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.pipeline.Runner
import graft.streaming.StreamingLoader

class StreamingIngestSpec extends AnyFunSuite {
  import TestSpark._

  test("AvailableNow ingest is exactly-once at file granularity (S10/T2-T5)") {
    val dir = SpotifyFixture.tempDir("graft-stream")
    val landing = SpotifyFixture.write(dir, Seq("2025-07-01"))
    val out = dir.resolve("songs").toString
    val ckpt = dir.resolve("ckpt").toString

    val q1 = StreamingLoader.loadSongs(spark, landing, out, ckpt)
    q1.awaitTermination()
    assert(spark.read.parquet(out).count() == 50)

    // re-run with no new files: offset log skips everything (T5)
    val q2 = StreamingLoader.loadSongs(spark, landing, out, ckpt)
    q2.awaitTermination()
    assert(spark.read.parquet(out).count() == 50)

    // second day's file arrives → only the delta is ingested (T2)
    SpotifyFixture.write(dir, Seq("2025-07-02"))
    val q3 = StreamingLoader.loadSongs(spark, landing, out, ckpt)
    q3.awaitTermination()
    val songs = spark.read.parquet(out)
    assert(songs.count() == 100)
    // rank restarts per scrape_date partition
    assert(songs.groupBy("scrape_date").agg(max("rank").as("mx"))
      .collect().forall(_.getAs[Int]("mx") == 50))

    // every data file has its .crc sidecar and the stock LocalFileSystem mode
    assert(SpotifyFixture.dataFilesUnder(dir.resolve("songs")).size >= 2)
    assert(SpotifyFixture.localLayoutProblems(dir.resolve("songs"), dir).isEmpty)
  }

  test("a warm day's loadSongs compiles no generated code and leaves the caller's conf alone") {
    val dir = SpotifyFixture.tempDir("graft-stream-codegen")
    val out = dir.resolve("songs").toString
    val ckpt = dir.resolve("ckpt").toString
    val isolation = "spark.sql.artifact.isolation.enabled"
    val callerIsolation = spark.conf.getOption(isolation)

    /** Lands one day, drains it; returns the codegen compile time the drain added. */
    def day(d: String): Long = {
      val landing = SpotifyFixture.write(dir, Seq(d))
      val t0 = CodeGenerator.compileTime
      StreamingLoader.loadSongs(spark, landing, out, ckpt).awaitTermination()
      CodeGenerator.compileTime - t0
    }
    def rows = spark.read.parquet(out).count()

    day("2025-07-01")
    assert(rows == 50)
    day("2025-07-02")
    assert(rows == 100)
    // the third day's stage code is byte-identical to the second's: a query
    // start that reuses the codegen cache compiles nothing
    assert(day("2025-07-03") == 0L)
    assert(rows == 150)
    assert(spark.conf.getOption(isolation) == callerIsolation)

    // a re-run with no new file still ingests nothing
    StreamingLoader.loadSongs(spark, dir.resolve("to_process").toString, out, ckpt)
      .awaitTermination()
    assert(rows == 150)
    assert(spark.read.parquet(out).groupBy("scrape_date").count()
      .collect().forall(_.getLong(1) == 50))
  }

  test("a batch the sink committed is not written again when the checkpoint lost its commit") {
    val dir = SpotifyFixture.tempDir("graft-stream-gap")
    val landing = SpotifyFixture.write(dir, Seq("2025-07-01"))
    val out = dir.resolve("songs").toString
    val ckpt = dir.resolve("ckpt")
    StreamingLoader.loadSongs(spark, landing, out, ckpt.toString).awaitTermination()
    assert(spark.read.parquet(out).count() == 50)

    // the process died after the sink committed batch 0 and before the
    // checkpoint's commit log did: the restart runs batch 0 again
    val commits = ckpt.resolve("commits")
    Seq("0", ".0.crc").foreach(f => Files.delete(commits.resolve(f)))
    StreamingLoader.loadSongs(spark, landing, out, ckpt.toString).awaitTermination()
    assert(Files.exists(commits.resolve("0")))
    assert(spark.read.parquet(out).count() == 50)
    assert(SpotifyFixture.dataFilesUnder(dir.resolve("songs")).size == 1)
  }

  test("a day scraped twice: batch and stream write the same rows, ranked 1..50 within each file") {
    val dir = SpotifyFixture.tempDir("graft-stream-twice")
    val landing = SpotifyFixture.write(dir, Seq("2025-07-01"))
    Files.writeString(Paths.get(landing, "spotify_raw_20250701180000.json"),
      SpotifyFixture.itemsJson("2025-07-01", 50))
    val batch = dir.resolve("batch").toString
    val stream = dir.resolve("stream").toString
    assert(Runner.runBatch(spark, landing, batch).songs == 100)
    StreamingLoader.loadSongs(spark, landing, stream, dir.resolve("ckpt").toString)
      .awaitTermination()

    def rows(table: String) = {
      val df = spark.read.parquet(table)
      df.columns.toSeq -> df.collect().map(_.toString).sorted.toSeq
    }
    assert(rows(s"$batch/songs") == rows(stream))
    // both files keep their own chart: every rank 1..50 twice, one date
    val ranks = spark.read.parquet(stream).groupBy("scrape_date", "rank").count().collect()
    assert(ranks.map(_.getAs[Int]("rank")).sorted.toSeq == (1 to 50))
    assert(ranks.forall(r => r.getAs[Long]("count") == 2L &&
      r.getAs[java.sql.Date]("scrape_date").toString == "2025-07-01"))
  }

  test("a streamed table moved to another dir reads back by glob") {
    val dir = SpotifyFixture.tempDir("graft-stream-moved")
    val landing = SpotifyFixture.write(dir, Seq("2025-07-01", "2025-07-02"))
    StreamingLoader.loadSongs(spark, landing, dir.resolve("songs").toString,
      dir.resolve("ckpt").toString).awaitTermination()
    val moved = dir.resolve("kept")
    Files.move(dir.resolve("songs"), moved)
    val songs = spark.read.option("basePath", moved.toString).parquet(s"$moved/scrape_date=*")
    assert(songs.count() == 100)
    assert(songs.select("scrape_date").distinct().count() == 2)
  }
}
