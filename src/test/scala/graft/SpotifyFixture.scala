package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.LocalFileSystem

/** Deterministic raw-JSON fixtures shaped per FIXTURES.md §A1: two daily
  * files with multi-artist tracks, duplicate album/artist ids, partial
  * release dates, and stable ordering so goldens are exact.
  */
object SpotifyFixture {

  private def artist(id: Int): String =
    s"""{"id":"ar$id","name":"Artist $id","href":"https://api.spotify.com/v1/artists/ar$id"}"""

  /** One playlist item. Albums cycle mod 10 (duplicates within a day),
    * artists cycle mod 7; track i has 1 + (i % 3) artists. */
  private def item(day: String, i: Int): String = {
    val albumId = i % 10
    val releaseDate = (i % 3) match {
      case 0 => "1999-03-02"
      case 1 => "1999-03" // partial: month precision
      case 2 => "1999"    // partial: year precision
    }
    val artists = (0 to i % 3).map(k => artist((i + k) % 7)).mkString(",")
    s"""{
      "added_at": "${day}T0${i % 10}:15:30Z",
      "track": {
        "id": "t$day-$i",
        "name": "Track $i",
        "duration_ms": ${180000 + i * 1000},
        "popularity": ${100 - i},
        "external_urls": {"spotify": "https://open.spotify.com/track/t$i"},
        "album": {
          "id": "al$albumId",
          "name": "Album $albumId",
          "release_date": "$releaseDate",
          "total_tracks": ${10 + albumId},
          "external_urls": {"spotify": "https://open.spotify.com/album/al$albumId"},
          "artists": [${artist(albumId % 7)}]
        },
        "artists": [$artists]
      }
    }"""
  }

  /** One day's items as a JSON array string (the raw-file body). */
  def itemsJson(day: String, n: Int): String =
    (0 until n).map(item(day, _)).mkString("[", ",", "]")

  /** Write raw files for the given days (yyyy-MM-dd) into dir/to_process,
    * n items each; returns the landing dir. */
  def write(dir: Path, days: Seq[String], n: Int = 50): String = {
    val landing = dir.resolve("to_process")
    Files.createDirectories(landing)
    days.foreach { day =>
      val ts = day.replace("-", "") + "120000"
      val body = (0 until n).map(item(day, _)).mkString("[", ",", "]")
      Files.writeString(landing.resolve(s"spotify_raw_$ts.json"), body)
    }
    landing.toString
  }

  def tempDir(prefix: String): Path = {
    val p = Files.createTempDirectory(prefix)
    p.toFile.deleteOnExit()
    p
  }

  /** Data files under root, recursively: everything but hidden files
    * (`.crc` sidecars) and `_`-prefixed markers and logs such as
    * `_SUCCESS` and `_spark_metadata/`. */
  def dataFilesUnder(root: Path): Seq[Path] = {
    val walk = Files.walk(root)
    try walk.iterator().asScala.filter(Files.isRegularFile(_)).filter { f =>
      root.relativize(f).iterator().asScala.forall { part =>
        val name = part.toString
        !name.startsWith(".") && !name.startsWith("_")
      }
    }.toList
    finally walk.close()
  }

  /** Full `st_mode` (type and permission bits) of a path. */
  def unixMode(p: Path): Int = Files.getAttribute(p, "unix:mode").asInstanceOf[Int]

  /** Data files under root that lack their `.crc` sidecar or whose mode
    * differs from that of a file Hadoop's stock checksummed
    * `LocalFileSystem` creates in refDir with its default permission. */
  def localLayoutProblems(root: Path, refDir: Path): Seq[String] = {
    val fs = new LocalFileSystem()
    fs.initialize(java.net.URI.create("file:///"), new Configuration())
    val ref = refDir.resolve("stock-reference")
    fs.create(new org.apache.hadoop.fs.Path(ref.toUri)).close()
    val stockMode = unixMode(ref)
    dataFilesUnder(root).flatMap { f =>
      val crc = f.resolveSibling(s".${f.getFileName}.crc")
      (if (Files.exists(crc)) Nil else Seq(s"$f: no .crc")) ++
        (if (unixMode(f) == stockMode) Nil else Seq(f"$f: mode ${unixMode(f)}%o, stock $stockMode%o"))
    }
  }
}
