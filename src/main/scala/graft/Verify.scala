package graft
import java.nio.file.{Files, Paths}
/** Correctness dump: each registered query's result → parquet, plus
  * oracle_sql.json holding the oracles of the queries it ran, for the
  * DuckDB compare (tools/check_oracle.py). */
object Verify {
  def main(args: Array[String]): Unit = {
    // args: <sfDir> <outDir> [query...] — the optional tail restricts the
    // dump to the queries it selects (SparkEntry.select); without it,
    // every query runs.
    val (sfDir, outDir) = (args(0), args(1))
    val defs = if (args.length > 2) SparkEntry.select(args.drop(2).toSeq) else SparkEntry.registry
    val spark = Session.build()
    new java.io.File(outDir).mkdirs()
    defs.foreach { d =>
      try d.build(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/${d.name}")
      catch { case e: Throwable =>
        System.err.println(s"[verify] ${d.name} failed: ${e.getMessage}")
      }
    }
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"),
      SparkEntry.oracleJson(defs.map(_.name)))
    spark.stop()
  }
}
