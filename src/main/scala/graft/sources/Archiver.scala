package graft.sources

import java.net.URI

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** File archival (SURVEY §2.1 S6, §2.10 T3).
  *
  * The reference copies each processed `to_process` JSON file to `processed/`
  * and deletes the original (spotify-airflow-pipeline.py:166-183) — its
  * only exactly-once mechanism. The engine's streaming path gets
  * exactly-once from the checkpoint offset log instead (StreamingLoader);
  * this utility exists for the batch Runner to mirror the reference's
  * landing-dir hygiene. Pure namespace renames — no data movement —
  * driver-side metadata ops only.
  */
object Archiver {

  /** Move `files` (the URIs a read listed, `Dataset.inputFiles`) into
    * `dstDir`, keeping their names. Returns the number of files moved. */
  def archive(spark: SparkSession, files: Seq[String], dstDir: String): Int = {
    val dst = new Path(dstDir)
    val fs = dst.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(dst)
    files.map(f => new Path(new URI(f)))
      .foreach(p => fs.rename(p, new Path(dst, p.getName)))
    files.length
  }
}
