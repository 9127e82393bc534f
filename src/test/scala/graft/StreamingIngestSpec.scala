package graft

import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

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
}
