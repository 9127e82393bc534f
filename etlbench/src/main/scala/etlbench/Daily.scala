package etlbench

import java.io.File
import java.nio.file.{Files, StandardCopyOption}

import org.apache.spark.sql.SparkSession

import graft.queries.SpotifyQueries
import graft.streaming.StreamingLoader

/** `etl_daily`: the paper's daily cadence in one long-lived session. Each
  * operation lands one day's file, drains it into the songs table with
  * `StreamingLoader.loadSongs` (AvailableNow), then answers Q1 (trending)
  * and Q4 (chart movement) over the updated table. Every `days.size` days
  * the table, checkpoint and landing dir are reset (untimed), so no day's
  * cost depends on how many cycles ran before it. The first day runs cold
  * in the fresh JVM, as a once-a-day scheduled task would pay it. */
object Daily {
  def run(spark: SparkSession, ops: Ops, work: String, days: Seq[File], songId: String,
      warmup: Int, total: Int): Seq[Map[String, Any]] = {
    val landing = s"$work/landing"
    val out = s"$work/songs"
    val ckpt = s"$work/checkpoint"
    val checks = Seq.newBuilder[Map[String, Any]]

    var tables = 0
    /** Sets the songs table aside for the read-back after the run (with the
      * number of days it holds), then clears the checkpoint and landing dir. */
    def reset(landed: Int): Unit = {
      if (Files.exists(new File(out).toPath)) {
        tables += 1
        val kept = s"$out-$tables"
        Files.move(new File(out).toPath, new File(kept).toPath)
        checks += Map("table" -> kept, "days" -> landed)
      }
      Seq(landing, ckpt).foreach(Fs.delete)
    }

    def day(kind: String, d: Int): Unit = {
      val src = days(d)
      val staged = new File(landing, "." + src.getName + ".tmp").toPath
      Files.createDirectories(staged.getParent)
      Files.copy(src.toPath, staged) // hidden until renamed: the source skips dot files
      ops.time(kind) { op =>
        op.sub("land")(Files.move(staged, new File(landing, src.getName).toPath,
          StandardCopyOption.ATOMIC_MOVE))
        val progress = op.sub("drain") {
          val q = StreamingLoader.loadSongs(spark, landing, out, ckpt)
          q.awaitTermination()
          q.recentProgress.toSeq
        }
        val (q1, q4) = op.sub("queries") {
          val (d1, d4) = op.sub("build") {
            val songs = spark.read.parquet(out)
            (SpotifyQueries.q1Trending(songs), SpotifyQueries.q4ChartMovement(songs, songId))
          }
          (d1.collect().toSeq, d4.collect().toSeq)
        }
        op.extra ++= Seq(
          "day" -> (d + 1),
          "batches" -> progress.count(_.numInputRows > 0),
          "rows" -> progress.map(_.numInputRows).sum,
          "q1" -> q1.map(r => Seq(r.getAs[String]("song_id"), r.getAs[Int]("rank"),
            r.getAs[java.sql.Date]("scrape_date").toString)),
          "q4" -> q4.map(r => Seq(r.getAs[java.sql.Date]("scrape_date").toString,
            r.getAs[Int]("rank"), Option(r.getAs[Any]("rank_change")))))
      }
    }

    // the first day in the fresh JVM, then a fixed untimed warm-up
    day("cold", 0)
    reset(1)
    (0 until warmup).foreach(day("warmup", _))
    reset(warmup)

    (0 until total).foreach { i =>
      val d = i % days.size
      if (i > 0 && d == 0) reset(days.size)
      day("day", d)
    }
    reset((total - 1) % days.size + 1)
    checks.result()
  }
}
