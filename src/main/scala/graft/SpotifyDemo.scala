package graft

import java.nio.file.{Files, Paths}

import graft.pipeline.Runner
import graft.queries.SpotifyQueries

/** End-to-end demo of the reference-parity pipeline: raw playlist JSON →
  * flatten/dedup/rank → album/artist/songs → Q0-Q4 over the written tables
  * (Q4 follows the most-charted song).
  *
  * Usage: runMain graft.SpotifyDemo <landingDir> [outDir]
  *   landingDir — directory of spotify_raw_<ts>.json files (one array each)
  */
object SpotifyDemo {
  def main(args: Array[String]): Unit = {
    val landing = args.headOption.getOrElse(
      sys.error("usage: SpotifyDemo <landingDir> [outDir]"))
    val out = args.lift(1).getOrElse(
      Files.createTempDirectory("spotify-out").toString)
    require(Files.exists(Paths.get(landing)), s"landing dir not found: $landing")

    val spark = Session.build("spark.app.name" -> "spotify-demo")

    val res = Runner.runBatch(spark, landing, out, processedDir = None, alsoCsv = true)
    println(s"[demo] batch result: $res → $out")

    val Seq(album, artist, songs) =
      Seq("album", "artist", "songs").map(t => spark.read.parquet(s"$out/$t"))
    println("[demo] Q0 counts:")
    SpotifyQueries.q0Counts(album, artist, songs).show(false)
    println("[demo] Q1 top-10 trending (last 7 days of data):")
    SpotifyQueries.q1Trending(songs).show(false)
    println("[demo] Q2 album popularity over time (first 10):")
    SpotifyQueries.q2AlbumPopularity(songs, album).show(10, false)
    println("[demo] Q3 artists with most top-10 entries:")
    SpotifyQueries.q3TopArtists(songs).show(false)
    println("[demo] Q4 chart movement of the most-charted song:")
    SpotifyQueries.q4ChartMovement(songs, SpotifyQueries.mostCharted(songs)).show(false)
    spark.stop()
  }
}
