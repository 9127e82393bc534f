package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanHelper, AQEShuffleReadExec}
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.execution.exchange.{REPARTITION_BY_NUM, ShuffleExchangeExec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.concurrent.Eventually._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.time.SpanSugar._

import graft.operators.{Casts, Flatten}
import graft.pipeline.Runner
import graft.queries.SpotifyQueries
import graft.sources.RawJsonReader

class SpotifyPipelineSpec extends AnyFunSuite {
  import TestSpark._

  private lazy val landing =
    SpotifyFixture.write(SpotifyFixture.tempDir("graft-raw"), Seq("2025-07-01", "2025-07-02"))
  private lazy val raw = RawJsonReader.read(spark, landing)

  test("raw reader preserves array order as ord and derives scrape_date") {
    assert(raw.count() == 100)
    val day1 = raw.filter(col("scrape_date") === lit(java.sql.Date.valueOf("2025-07-01")))
    assert(day1.count() == 50)
    val ords = day1.orderBy("ord").select("ord").collect().map(_.getInt(0)).toSeq
    assert(ords == (0 until 50))
    // ord 7 on day 1 is item 7: track id t2025-07-01-7
    val t7 = day1.filter(col("ord") === 7).select("track.id").head().getString(0)
    assert(t7 == "t2025-07-01-7")
  }

  test("albums: nested projection, keep-first dedup, lenient dates (P1/D1/D3)") {
    val albums = Flatten.albums(raw)
    assert(albums.count() == 10) // ids cycle mod 10 across 100 items
    val a0 = albums.filter(col("album_id") === "al0").head()
    assert(a0.getAs[String]("name") == "Album 0")
    assert(a0.getAs[Int]("total_tracks") == 10)
    assert(a0.getAs[String]("url") == "https://open.spotify.com/album/al0")
    // keep-first: al0 first appears at day1 ord0 → release "1999-03-02"
    assert(a0.getAs[java.sql.Date]("release_date").toString == "1999-03-02")
    // al1 first appears at ord1 → "1999-03" → 1999-03-01
    val a1 = albums.filter(col("album_id") === "al1").head()
    assert(a1.getAs[java.sql.Date]("release_date").toString == "1999-03-01")
    // al2 first appears at ord2 → "1999" → 1999-01-01
    val a2 = albums.filter(col("album_id") === "al2").head()
    assert(a2.getAs[java.sql.Date]("release_date").toString == "1999-01-01")
  }

  test("lenient date cast handles all reference precisions (D3)") {
    import spark.implicits._
    val got = Seq("1999", "1999-03", "1999-03-02", "garbage", null)
      .toDF("d").select(Casts.lenientDate(col("d")).as("d"))
      .collect().map(r => Option(r.getDate(0)).map(_.toString).orNull)
    assert(got.toSeq == Seq("1999-01-01", "1999-03-01", "1999-03-02", null, null))
  }

  test("artists: explode fan-out + keep-first dedup (P4/D2)") {
    val artists = Flatten.artists(raw)
    assert(artists.count() == 7) // ids cycle mod 7
    val a3 = artists.filter(col("artist_id") === "ar3").head()
    assert(a3.getAs[String]("artist_name") == "Artist 3")
    assert(a3.getAs[String]("external_url").startsWith("https://api.spotify.com/v1/artists/"))
  }

  test("songs: rank is the 1-based chart position per day (P2/P3/D4/W1)") {
    val songs = Flatten.songs(raw)
    assert(songs.count() == 100) // not deduped across days
    val byDay = songs.groupBy("scrape_date")
      .agg(min("rank").as("mn"), max("rank").as("mx"), count(lit(1)).as("n"))
      .collect()
    assert(byDay.length == 2)
    byDay.foreach { r =>
      assert(r.getAs[Int]("mn") == 1); assert(r.getAs[Int]("mx") == 50)
      assert(r.getAs[Long]("n") == 50L)
    }
    // rank = ord + 1: item 0 of each day is rank 1
    val r1 = songs.filter(col("rank") === 1 &&
      col("scrape_date") === lit(java.sql.Date.valueOf("2025-07-01"))).head()
    assert(r1.getAs[String]("song_id") == "t2025-07-01-0")
    // artist_id = first album artist (P3)
    assert(r1.getAs[String]("artist_id") == "ar0")
    // song_added parsed with zone (D4)
    assert(r1.getAs[java.sql.Timestamp]("song_added") != null)
  }

  test("Q1-Q4 run over the flat tables with reference semantics") {
    val album = Flatten.albums(raw)
    val artist = Flatten.artists(raw)
    val songs = Flatten.songs(raw)

    val q0 = SpotifyQueries.q0Counts(album, artist, songs).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(q0 == Map("album" -> 10L, "artist" -> 7L, "songs" -> 100L))

    val q1 = SpotifyQueries.q1Trending(songs).collect()
    assert(q1.length == 10)
    assert(q1.map(_.getAs[Int]("rank")).toSeq == Seq(1, 1, 2, 2, 3, 3, 4, 4, 5, 5))

    val q2 = SpotifyQueries.q2AlbumPopularity(songs, album)
    assert(q2.count() == 20) // 10 albums × 2 days
    assert(q2.columns.toSeq ==
      Seq("album_id", "album_name", "scrape_date", "avg_rank"))

    val q3 = SpotifyQueries.q3TopArtists(songs, artist).collect()
    assert(q3.nonEmpty)
    assert(q3.map(_.getAs[Long]("top_10_appearances")).max <= 20L)

    val q4 = SpotifyQueries.q4ChartMovement(songs, "t2025-07-01-5").collect()
    assert(q4.length == 1 && q4.head.getAs[Any]("rank_change") == null)
  }

  test("SQL twins match the DataFrame programs (Q2)") {
    val album = Flatten.albums(raw)
    val songs = Flatten.songs(raw)
    SpotifyQueries.register(spark, album, Flatten.artists(raw), songs)
    val viaSql = spark.sql(SpotifyQueries.sql("q2")).collect()
    val viaDf = SpotifyQueries.q2AlbumPopularity(songs, album).collect()
    assert(viaSql.map(_.toString).toSeq == viaDf.map(_.toString).toSeq)
  }

  test("runner: fan-out batch writes 3 tables and archives the landing dir (G1/S6)") {
    val dir = SpotifyFixture.tempDir("graft-run")
    val l = SpotifyFixture.write(dir, Seq("2025-07-03"))
    val out = dir.resolve("out").toString
    val processed = dir.resolve("processed").toString
    val res = Runner.runBatch(spark, l, out, Some(processed), alsoCsv = true)
    assert(res == Runner.Result(10, 7, 50, 1))
    // parquet partitioned by scrape_date readable back
    val songs = spark.read.parquet(s"$out/songs")
    assert(songs.count() == 50)
    assert(songs.columns.contains("scrape_date"))
    // csv twin honors header + null conventions
    val csv = graft.sources.Sinks.readCsv(spark, s"$out/csv/album",
      spark.read.parquet(s"$out/album").schema)
    assert(csv.count() == 10)
    // landing dir drained
    assert(new java.io.File(l).listFiles().count(_.getName.endsWith(".json")) == 0)
    // S11: crawler-equivalent registers an inferred-schema catalog table
    graft.sources.Sinks.crawlCsv(spark, s"$out/csv/album", "crawled_album",
      location = Some(dir.resolve("crawled_album").toString))
    assert(spark.table("crawled_album").count() == 10)
  }

  test("runner: counts come from the writes; songs write one file per date over defaultParallelism tasks") {
    val dir = SpotifyFixture.tempDir("graft-run-days")
    val days = Seq("2025-08-01", "2025-08-02", "2025-08-03", "2025-08-04", "2025-08-05")
    val l = SpotifyFixture.write(dir, days)
    val out = dir.resolve("out").toString
    val succeeded = new ConcurrentLinkedQueue[QueryExecution]()
    val listener = new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, ns: Long): Unit = succeeded.add(qe)
      def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    def songsParquetWrite(qe: QueryExecution) = qe.analyzed match {
      case c: InsertIntoHadoopFsRelationCommand =>
        c.fileFormat.isInstanceOf[ParquetFileFormat] && c.outputPath.getName == "songs"
      case _ => false
    }
    spark.listenerManager.register(listener)
    val (res, songsWrite) =
      try {
        val res = Runner.runBatch(spark, l, out, alsoCsv = true)
        // listener events arrive asynchronously
        res -> eventually(timeout(30.seconds))(succeeded.asScala.find(songsParquetWrite).get)
      } finally spark.listenerManager.unregister(listener)
    assert(res == Runner.Result(10, 7, 250, 0))

    // each count equals the rows read back from the parquet table and its CSV twin
    Seq("album" -> res.albums, "artist" -> res.artists, "songs" -> res.songs).foreach {
      case (name, n) =>
        assert(spark.read.parquet(s"$out/$name").count() == n, name)
        assert(spark.read.option("header", "true").csv(s"$out/csv/$name").count() == n, name)
    }

    // one data file per scrape_date= directory, one per unpartitioned table
    def dataFiles(d: java.io.File) = d.listFiles().toSeq.filter(f =>
      f.isFile && !f.getName.startsWith(".") && !f.getName.startsWith("_"))
    val dateDirs = new java.io.File(s"$out/songs").listFiles().toSeq
      .filter(_.getName.startsWith("scrape_date="))
    assert(dateDirs.map(_.getName).sorted == days.map("scrape_date=" + _))
    dateDirs.foreach(d => assert(dataFiles(d).size == 1, d.getName))
    Seq("album", "artist").foreach(t => assert(dataFiles(new java.io.File(s"$out/$t")).size == 1, t))

    // every parquet and CSV data file has its .crc sidecar and the mode the
    // stock Hadoop LocalFileSystem gives a file created in the same dir
    val written = SpotifyFixture.dataFilesUnder(dir.resolve("out"))
    assert(written.count(_.toString.endsWith(".parquet")) == days.size + 2)
    assert(written.exists(_.toString.endsWith(".csv")))
    assert(SpotifyFixture.localLayoutProblems(dir.resolve("out"), dir).isEmpty)

    // rank is exactly 1..50 within each date
    val ranks = spark.read.parquet(s"$out/songs").groupBy("scrape_date")
      .agg(sort_array(collect_list("rank")).as("r")).collect()
    assert(ranks.length == days.size)
    ranks.foreach(r => assert(r.getSeq[Int](1) == (1 to 50)))

    // the songs write has one shuffle: the explicit date repartition, which
    // the rank window reuses and AQE leaves at defaultParallelism partitions
    val helper = new AdaptiveSparkPlanHelper {}
    val plan = songsWrite.executedPlan
    val shuffles = helper.collect(plan) { case s: ShuffleExchangeExec => s }
    assert(shuffles.size == 1, plan.toString)
    val dp = spark.sparkContext.defaultParallelism
    assert(shuffles.head.shuffleOrigin == REPARTITION_BY_NUM)
    shuffles.head.outputPartitioning match {
      case h: HashPartitioning =>
        assert(h.numPartitions == dp)
        assert(h.expressions.map(_.sql) == Seq("scrape_date"))
      case p => fail(s"unexpected partitioning $p")
    }
    assert(helper.collect(plan) { case r: AQEShuffleReadExec => r }.forall(!_.hasCoalescedPartition))
  }

  test("runner: an empty landing dir yields an all-zero result") {
    val dir = SpotifyFixture.tempDir("graft-run-empty")
    val l = SpotifyFixture.write(dir, Nil)
    val res = Runner.runBatch(spark, l, dir.resolve("out").toString,
      Some(dir.resolve("processed").toString), alsoCsv = true)
    assert(res == Runner.Result(0, 0, 0, 0))
  }

  test("runner: a failed write releases the parsed input from the cache") {
    val dir = SpotifyFixture.tempDir("graft-run-fail")
    val l = SpotifyFixture.write(dir, Seq("2025-07-04"))
    val out = java.nio.file.Files.createFile(dir.resolve("out")).toString // a file, not a dir
    def parsedInputCached = spark.sharedState.cacheManager.lookupCachedData(
      RawJsonReader.read(spark, l).asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]).isDefined
    assert(!parsedInputCached)
    intercept[Exception](Runner.runBatch(spark, l, out))
    assert(!parsedInputCached)
  }
}
