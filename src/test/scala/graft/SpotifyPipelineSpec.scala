package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.{Literal, ScalarSubquery}
import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.{FilePartition, InsertIntoHadoopFsRelationCommand}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftsql.columnExpr
import org.apache.spark.sql.types.DateType
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

    val q1df = SpotifyQueries.q1Trending(songs)
    assert(q1df.columns.toSeq ==
      Seq("song_id", "song_name", "artist_id", "album_id", "rank", "scrape_date"))
    val q1 = q1df.collect()
    assert(q1.length == 10)
    assert(q1.map(_.getAs[Int]("rank")).toSeq == Seq(1, 1, 2, 2, 3, 3, 4, 4, 5, 5))

    val q2 = SpotifyQueries.q2AlbumPopularity(songs, album)
    assert(q2.count() == 20) // 10 albums × 2 days
    assert(q2.columns.toSeq ==
      Seq("album_id", "album_name", "scrape_date", "avg_rank"))

    val q3df = SpotifyQueries.q3TopArtists(songs)
    assert(q3df.columns.toSeq == Seq("artist_id", "top_10_appearances"))
    val q3 = q3df.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val direct = songs.filter(col("rank") <= 10).groupBy("artist_id").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(direct.size == 7 && q3 == direct) // all 7 artists fit in the top 10

    val q4 = SpotifyQueries.q4ChartMovement(songs, "t2025-07-01-5").collect()
    assert(q4.length == 1 && q4.head.getAs[Any]("rank_change") == null)

    val picked = spark.range(1).select(SpotifyQueries.mostCharted(songs)).head().getString(0)
    val byPick = SpotifyQueries.q4ChartMovement(songs, SpotifyQueries.mostCharted(songs))
    assert(byPick.collect().toSeq ==
      SpotifyQueries.q4ChartMovement(songs, picked).collect().toSeq)
  }

  test("mostCharted: the song with the most chart rows, ties to the lowest song_id") {
    import spark.implicits._
    val (d1, d2, d3) = (java.sql.Date.valueOf("2025-07-01"),
      java.sql.Date.valueOf("2025-07-02"), java.sql.Date.valueOf("2025-07-03"))
    // b and a chart twice each, b first; c once
    val tied = Seq(("b", 1, d1), ("a", 2, d1), ("b", 1, d2), ("a", 3, d2), ("c", 4, d2))
      .toDF("song_id", "rank", "scrape_date")
    def pick(songs: org.apache.spark.sql.DataFrame) =
      spark.range(1).select(SpotifyQueries.mostCharted(songs)).head().getString(0)
    assert(pick(tied) == "a")
    // a higher count beats a lower id
    assert(pick(tied.union(Seq(("c", 5, d1), ("c", 6, d3)).toDF())) == "c")

    val songs = tied.withColumn("song_name", concat(lit("Song "), col("song_id")))
    val q4 = SpotifyQueries.q4ChartMovement(songs, SpotifyQueries.mostCharted(songs))
      .select("song_id", "rank", "rank_change").collect()
      .map(r => (r.getString(0), r.getInt(1), Option(r.get(2)))).toSeq
    assert(q4 == Seq(("a", 2, None), ("a", 3, Some(1))))
  }

  test("Q4 runs as one scan stage and one single-partition stage, with the same rows as before") {
    val dir = SpotifyFixture.tempDir("graft-q4")
    val days = Seq("2025-08-01", "2025-08-02", "2025-08-03", "2025-08-04", "2025-08-05")
    // the 5-day fixture with song ids that recur: each day charts s0..s49
    // once, every song 3 places lower than the day before (mod 50)
    Flatten.songs(RawJsonReader.read(spark, SpotifyFixture.write(dir, days)))
      .withColumn("song_id", concat(lit("s"), pmod(col("rank") + dayofmonth(col("scrape_date")) * 3, lit(50))))
      .write.partitionBy("scrape_date").parquet(dir.resolve("songs").toString)
    val songs = spark.read.parquet(dir.resolve("songs").toString)

    /** Q4 planned the default way, with the window's own exchange and a
      * range-partitioned sort: the rows the single-partition body must match. */
    def windowedQ4(songId: Column): DataFrame = {
      val w = Window.partitionBy(col("song_id")).orderBy(col("scrape_date"))
      songs.filter(col("song_id") === songId)
        .select(col("song_id"), col("song_name"), col("rank"), col("scrape_date"))
        .withColumn("rank_change", col("rank") - lag(col("rank"), 1).over(w))
        .orderBy("scrape_date")
    }
    val q4 = SpotifyQueries.q4ChartMovement(songs, "s17")
    val group = "graft-q4-jobs"
    spark.sparkContext.setJobGroup(group, "q4")
    val rows = try q4.collect().toSeq finally spark.sparkContext.clearJobGroup()
    assert(rows == windowedQ4(lit("s17")).collect().toSeq)
    assert(rows.map(_.getAs[Int]("rank")) == Seq(14, 11, 8, 5, 2))
    assert(rows.map(r => Option(r.getAs[Any]("rank_change"))) == None +: Seq.fill(4)(Some(-3)))
    assert(SpotifyQueries.q4ChartMovement(songs, SpotifyQueries.mostCharted(songs)).collect().toSeq ==
      windowedQ4(SpotifyQueries.mostCharted(songs)).collect().toSeq)

    // one shuffle, into a single partition, which the window and the sort
    // share: no range partitioning, so no sampling job
    val helper = new AdaptiveSparkPlanHelper {}
    val plan = q4.queryExecution.executedPlan
    val shuffles = helper.collect(plan) { case s: ShuffleExchangeExec => s }
    assert(shuffles.size == 1, plan.toString)
    assert(shuffles.head.outputPartitioning.numPartitions == 1, plan.toString)
    assert(!shuffles.exists(_.outputPartitioning.isInstanceOf[RangePartitioning]), plan.toString)
    // the status tracker is fed by the listener bus, asynchronously
    eventually(timeout(30.seconds))(
      assert(spark.sparkContext.statusTracker.getJobIdsForGroup(group).length == 2))
  }

  /** 12 days of 20 songs, written partitioned by date, plus an empty
    * `scrape_date=` dir newer than every written date. */
  private lazy val twelveDays = {
    val dir = SpotifyFixture.tempDir("graft-q1")
    val days = (1 to 12).map(d => f"2025-09-$d%02d")
    val table = dir.resolve("songs")
    Flatten.songs(RawJsonReader.read(spark, SpotifyFixture.write(dir, days, n = 20)))
      .write.partitionBy("scrape_date").parquet(table.toString)
    java.nio.file.Files.createDirectories(table.resolve("scrape_date=2025-12-31"))
    table.toString
  }

  /** Q1 with its anchor cross-joined by broadcast: the rows the anchored
    * body must match. */
  private def crossJoinQ1(songs: DataFrame): Seq[Row] =
    songs.crossJoin(broadcast(songs.agg(max(col("scrape_date")).as("max_d"))))
      .filter(col("scrape_date") >= date_sub(col("max_d"), 7))
      .select("song_id", "song_name", "artist_id", "album_id", "rank", "scrape_date")
      .orderBy(asc("rank"), asc("scrape_date"), asc("song_id"))
      .limit(10).collect().toSeq

  private def hasSubquery(df: DataFrame): Boolean =
    df.queryExecution.analyzed.exists(_.expressions.exists(_.exists(_.isInstanceOf[ScalarSubquery])))

  test("Q1 over a table read from disk: a literal anchor, one job, the last 8 dates' files") {
    val useV1 = "spark.sql.sources.useV1SourceList"
    val v1Sources = spark.conf.get(useV1)
    val helper = new AdaptiveSparkPlanHelper {}
    // the V1 read path (the test session's default), then the V2 one
    Seq(v1Sources, "").foreach { sources =>
      spark.conf.set(useV1, sources)
      val songs = try spark.read.parquet(twelveDays) finally spark.conf.set(useV1, v1Sources)
      // the empty 2025-12-31 dir holds no file, so it does not move the anchor
      assert(columnExpr(SpotifyQueries.latestDate(songs)) ==
        Literal(java.time.LocalDate.parse("2025-09-12").toEpochDay.toInt, DateType))

      val q1 = SpotifyQueries.q1Trending(songs)
      assert(!hasSubquery(q1))
      val group = s"graft-q1-jobs-$sources"
      spark.sparkContext.setJobGroup(group, "q1")
      val rows = try q1.collect().toSeq finally spark.sparkContext.clearJobGroup()
      assert(rows == crossJoinQ1(songs))
      // rank 1 of each of the last 8 dates, then rank 2 of the two oldest
      assert(rows.map(r => r.getAs[Int]("rank") -> r.getAs[java.sql.Date]("scrape_date").toString) ==
        (5 to 12).map(d => 1 -> f"2025-09-$d%02d") ++ Seq(2 -> "2025-09-05", 2 -> "2025-09-06"))

      val files = helper.collect(q1.queryExecution.executedPlan) {
        case f: FileSourceScanExec => f.metrics("numFiles").value
        case b: BatchScanExec => b.inputPartitions.collect { case p: FilePartition => p.files.length }.sum.toLong
      }
      assert(files.sum == 8L, q1.queryExecution.executedPlan.toString)
      // the status tracker is fed by the listener bus, asynchronously
      eventually(timeout(30.seconds))(
        assert(spark.sparkContext.statusTracker.getJobIdsForGroup(group).length == 1))
    }
  }

  test("Q1 over an in-memory input: a scalar-subquery anchor, with the cross-join body's rows") {
    val read = spark.read.parquet(twelveDays)
    val inMemory = spark.createDataFrame(
      spark.sparkContext.parallelize(read.collect().toSeq), read.schema)
    Seq(inMemory, read.filter(col("rank") > 3)).foreach { songs =>
      val q1 = SpotifyQueries.q1Trending(songs)
      assert(hasSubquery(q1))
      val rows = q1.collect().toSeq
      assert(rows.nonEmpty && rows == crossJoinQ1(songs))
    }
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

    // the songs write is a projection of the parsed input: no shuffle exchange
    val plan = songsWrite.executedPlan
    assert(new AdaptiveSparkPlanHelper {}.collect(plan) { case s: ShuffleExchangeExec => s }
      .isEmpty, plan.toString)
  }

  test("runner: an empty landing dir yields an all-zero result") {
    val dir = SpotifyFixture.tempDir("graft-run-empty")
    val l = SpotifyFixture.write(dir, Nil)
    val res = Runner.runBatch(spark, l, dir.resolve("out").toString,
      Some(dir.resolve("processed").toString), alsoCsv = true)
    assert(res == Runner.Result(0, 0, 0, 0))
  }

  test("runner: a pass archives exactly the files it read") {
    val dir = SpotifyFixture.tempDir("graft-run-archive")
    val l = SpotifyFixture.write(dir, Seq("2025-07-07", "2025-07-08"))
    val landing = java.nio.file.Paths.get(l)
    // an in-flight upload (the read skips dot-prefixed names) and a file
    // outside the read's *.json glob
    java.nio.file.Files.copy(landing.resolve("spotify_raw_20250707120000.json"),
      landing.resolve(".spotify_raw_20250709120000.json"))
    java.nio.file.Files.writeString(landing.resolve("notes.txt"), "not a raw file")
    val processed = dir.resolve("processed")
    val res = Runner.runBatch(spark, l, dir.resolve("out").toString, Some(processed.toString))
    assert(res.songs == 100) // two files read, 50 items each
    assert(res.archived == 2)
    def names(d: java.nio.file.Path) = d.toFile.listFiles().map(_.getName).toSet
    assert(names(processed) ==
      Set("spotify_raw_20250707120000.json", "spotify_raw_20250708120000.json"))
    assert(names(landing) == Set(".spotify_raw_20250709120000.json", "notes.txt"))
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

  test("runner: one failed write lets the others finish, rethrows its own exception, skips the archive") {
    val dir = SpotifyFixture.tempDir("graft-run-fail-one")
    val l = SpotifyFixture.write(dir, Seq("2025-07-05"))
    val out = dir.resolve("out")
    java.nio.file.Files.createDirectories(out)
    java.nio.file.Files.createFile(out.resolve("artist")) // the artist parquet write fails
    val failed = new ConcurrentLinkedQueue[(QueryExecution, Exception)]()
    val listener = new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, ns: Long): Unit = ()
      def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = failed.add(qe -> e)
    }
    def parsedInputCached = spark.sharedState.cacheManager.lookupCachedData(
      RawJsonReader.read(spark, l).asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]).isDefined
    def writeThreads = Thread.getAllStackTraces.keySet.asScala
      .filter(_.getName.startsWith(Runner.WriteThreadPrefix))
    spark.listenerManager.register(listener)
    val thrown =
      try intercept[Exception](Runner.runBatch(spark, l, out.toString,
        Some(dir.resolve("processed").toString), alsoCsv = true))
      finally spark.listenerManager.unregister(listener)

    assert(writeThreads.isEmpty, writeThreads)
    assert(!parsedInputCached)
    // the write's own exception: the one Spark reported for the artist parquet write
    val (qe, e) = eventually(timeout(30.seconds))(failed.asScala.toSeq match { case Seq(f) => f })
    assert(qe.analyzed match {
      case c: InsertIntoHadoopFsRelationCommand => c.outputPath.getName == "artist"
      case _ => false
    }, qe.analyzed)
    assert(thrown eq e, thrown)
    // the other writes ran to the end; the landing file was not archived
    assert(spark.read.parquet(out.resolve("album").toString).count() == 10)
    assert(spark.read.parquet(out.resolve("songs").toString).count() == 50)
    assert(spark.read.option("header", "true").csv(out.resolve("csv/artist").toString).count() == 7)
    assert(new java.io.File(l).listFiles().count(_.getName.endsWith(".json")) == 1)
  }

  test("runner: with two failed writes, the first submitted is thrown and the other suppressed on it") {
    val dir = SpotifyFixture.tempDir("graft-run-fail-two")
    val l = SpotifyFixture.write(dir, Seq("2025-07-06"))
    val out = dir.resolve("out")
    java.nio.file.Files.createDirectories(out)
    Seq("album", "songs").foreach(t => java.nio.file.Files.createFile(out.resolve(t)))
    val thrown = intercept[Exception](Runner.runBatch(spark, l, out.toString))
    def names(e: Throwable): String =
      Iterator.iterate(e)(_.getCause).takeWhile(_ != null).map(_.getMessage).mkString(" | ")
    assert(names(thrown).contains(out.resolve("album").toString), names(thrown))
    val songsFailure = thrown.getSuppressed.filter(names(_).contains(out.resolve("songs").toString))
    assert(songsFailure.length == 1, thrown.getSuppressed.map(names).mkString("\n"))
    assert(spark.read.parquet(out.resolve("artist").toString).count() == 7)
  }

  test("runner: the writes of a pass overlap, and every job carries the caller's group and description") {
    val dir = SpotifyFixture.tempDir("graft-run-concurrent")
    val l = SpotifyFixture.write(dir,
      Seq("2025-09-01", "2025-09-02", "2025-09-03", "2025-09-04", "2025-09-05"))
    val sc = spark.sparkContext
    val starts = new ConcurrentLinkedQueue[SparkListenerJobStart]()
    val ends = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = starts.add(e)
      override def onJobEnd(e: SparkListenerJobEnd): Unit = ends.put(e.jobId, e.time)
    }
    def group(e: SparkListenerJobStart) = e.properties.getProperty("spark.jobGroup.id")
    sc.addSparkListener(listener)
    val res =
      try {
        sc.setJobGroup("backfill-pass", "one backfill pass")
        val res = try Runner.runBatch(spark, l, dir.resolve("out").toString, alsoCsv = true)
          finally sc.clearJobGroup()
        // a marker job queued behind every event of the pass
        sc.setJobGroup("marker", "marker")
        try sc.parallelize(1 to 1, 1).count() finally sc.clearJobGroup()
        eventually(timeout(30.seconds)) {
          assert(starts.asScala.filter(group(_) == "marker").forall(s => ends.containsKey(s.jobId)))
          assert(starts.asScala.exists(group(_) == "marker"))
        }
        res
      } finally sc.removeSparkListener(listener)
    assert(res == Runner.Result(10, 7, 250, 0))

    val pass = starts.asScala.toSeq.filter(group(_) != "marker")
    assert(pass.size >= 6, pass.size) // at least one job per write
    pass.foreach { s =>
      assert(group(s) == "backfill-pass", s.properties)
      assert(s.properties.getProperty("spark.job.description") == "one backfill pass",
        s.properties)
    }
    val spans = pass.map(s => (s.time, ends.get(s.jobId)))
    val overlapping = spans.combinations(2).count { case Seq((s1, e1), (s2, e2)) =>
      s1 < e2 && s2 < e1
    }
    assert(overlapping >= 1, spans)
  }
}
