package etlbench

import org.apache.spark.sql.SparkSession

import graft.pipeline.Runner

/** `etl_backfill`: `Runner.runBatch` over every landed day (parquet, the
  * CSV twin, archive). The first pass runs cold in the fresh JVM; after a
  * fixed number of untimed warm-up passes come the timed warm passes. Each
  * pass writes a fresh output dir, kept for the read-back after the run,
  * and the landing dir is restored from the archive between passes, so
  * every pass does the same work. */
object Backfill {
  def run(spark: SparkSession, ops: Ops, work: String, warmup: Int, passes: Int)
      : Seq[Map[String, Any]] = {
    val landing = s"$work/landing"
    val kinds = Seq("cold") ++ Seq.fill(warmup)("warmup") ++ Seq.fill(passes)("warm")
    kinds.zipWithIndex.map { case (kind, i) =>
      val out = s"$work/out/p$i"
      val processed = s"$work/processed/p$i"
      val res = ops.time(kind) { op =>
        op.sub("run_batch")(Runner.runBatch(spark, landing, out, Some(processed), alsoCsv = true))
      }
      // untimed: restore the landing dir; run.py reads the output back later
      val archived = Fs.jsonFiles(processed).size
      Fs.moveJson(processed, landing)
      Map("pass" -> i, "kind" -> kind, "out" -> out, "archived" -> archived,
        "result" -> Map("albums" -> res.albums, "artists" -> res.artists,
          "songs" -> res.songs, "archived" -> res.archived))
    }
  }
}
