package graft

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
}
