package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Transform layer: nested raw items → the three flat tables
  * (SURVEY §2.2 P1-P5, §2.3 D1-D4, §2.8 W1/W2).
  *
  * Input contract: the DataFrame from RawJsonReader.read —
  * (src_file, scrape_date, ord, added_at, track).
  *
  * All three transforms are narrow projections except the album and
  * artist dedups, which shuffle once on their key. At 100 TB those keys
  * (album_id / artist_id) are the natural partitioning. `songs` is a
  * projection alone, so it runs unchanged on a stream.
  */
object Flatten {

  /** album(album_id, name, release_date, total_tracks, url) — P1 nested
    * projection + D1 keep-first dedup + D3 lenient date cast
    * (reference: spotify-airflow-pipeline.py:96-109). */
  def albums(raw: DataFrame): DataFrame = {
    val projected = raw.select(
      col("track.album.id").as("album_id"), // P1
      col("track.album.name").as("name"),
      Casts.lenientDate(col("track.album.release_date")).as("release_date"), // D3
      col("track.album.total_tracks").as("total_tracks"),
      element_at(col("track.album.external_urls"), "spotify").as("url"), // P5
      col("scrape_date"), col("ord"))
    Dedup.keepFirst(projected, Seq("album_id"), Seq(col("scrape_date"), col("ord"))) // D1/W2
      .drop("scrape_date", "ord")
  }

  /** artist(artist_id, artist_name, external_url) — P4 explode over
    * track.artists + D2 keep-first dedup (reference :117-130).
    * `external_url` carries the API href — documented reference behavior
    * (:126, SURVEY §1.4.3). */
  def artists(raw: DataFrame): DataFrame = {
    val exploded = raw.select(
      col("scrape_date"), col("ord"),
      posexplode(col("track.artists")).as(Seq("artist_pos", "a"))) // P4
      .select(
        col("a.id").as("artist_id"),
        col("a.name").as("artist_name"),
        col("a.href").as("external_url"),
        col("scrape_date"), col("ord"), col("artist_pos"))
    Dedup.keepFirst(exploded, Seq("artist_id"),
      Seq(col("scrape_date"), col("ord"), col("artist_pos"))) // D2/W2
      .drop("scrape_date", "ord", "artist_pos")
  }

  /** songs(song_id, song_name, duration_ms, url, popularity, song_added,
    * album_id, artist_id, scrape_date, rank) — P2/P3 projection, D4 cast,
    * W1 rank generation. NOT deduped: a song legitimately reappears across
    * daily scrapes (reference :138-163; SURVEY §1.2).
    *
    * `rank` is the 1-based position in the day's chart — the column the
    * warehouse declares and queries but the in-repo transform never
    * produced (SURVEY §1.4.1). The contract is one raw file per day, so
    * the chart position is the item's position in its file, `ord + 1`: a
    * per-row projection, the same in a batch and in a stream's
    * micro-batch. A day scraped twice (two raw files with one date)
    * therefore keeps both charts, each ranked 1..n in its own file. */
  def songs(raw: DataFrame): DataFrame =
    raw.select(
      col("track.id").as("song_id"), // P2
      col("track.name").as("song_name"),
      col("track.duration_ms").as("duration_ms"),
      element_at(col("track.external_urls"), "spotify").as("url"), // P5
      col("track.popularity").as("popularity"),
      Casts.isoTimestamp(col("added_at")).as("song_added"), // D4
      col("track.album.id").as("album_id"),
      element_at(col("track.album.artists"), 1).getField("id").as("artist_id"), // P3
      col("scrape_date"),
      (col("ord") + 1).as("rank")) // W1
}
