package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.queries.CorpusQueries

/** Fixture spec for X167 nested export: assembly completeness — every
  * line lands in exactly one record in canonical order, the doc parses
  * back to n_lines entries, and the nested total reconciles with the
  * flat sum. */
class NestExportSpec extends AnyFunSuite {
  import TestSpark._

  test("exportJsonl end-to-end: real files parse back, manifest localizes a tampered shard") {
    import org.apache.spark.sql.functions._
    val sf = "/root/testdata/sf0.001"
    val outDir = java.nio.file.Files.createTempDirectory("jsonl-export").toString
    val src = CorpusQueries.nestExport(spark, sf)
    val manifest = graft.sources.Sinks
      .exportJsonl(src, outDir, "o_orderkey", numShards = 8)
    val manRows = manifest.collect()
    assert(manRows.length == 9, "8 shard rows + 1 root row") // all shards hit
    assert(manRows.count(_.getLong(0) == -1L) == 1)
    assert(manRows.find(_.getLong(0) == -1L).get.getLong(1) == src.count(),
      "the root row counts every exported line")

    // 1. the export wrote REAL jsonl files under __shard=N/
    val shardDirs = new java.io.File(outDir).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("__shard="))
    assert(shardDirs.length == 8, s"got ${shardDirs.map(_.getName).toSeq}")

    // 2. parse-back equality: read.json over the files reproduces the
    // source rows exactly (same multiset, same values)
    val back = spark.read.json(outDir).drop("__shard")
      .select(src.columns.map(col).toIndexedSeq: _*) // schema order
    assert(back.count() == src.count())
    assert(back.exceptAll(src).isEmpty && src.exceptAll(back).isEmpty)

    // 3. receiver-side recompute agrees bit-for-bit with the shipped
    // manifest (export is intact)
    val again = graft.sources.Sinks.jsonlManifest(spark, outDir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getString(2)))).toMap
    val shipped = manRows
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getString(2)))).toMap
    assert(again == shipped)

    // 4. tamper ONE line of ONE shard file → recompute flags exactly
    // that shard and the root, nothing else
    val victim = shardDirs.minBy(_.getName).listFiles()
      .filter(f => f.getName.startsWith("part-") && !f.getName.endsWith(".crc"))
      .head
    val victimShard = shardDirs.minBy(_.getName).getName.stripPrefix("__shard=").toLong
    val ls = java.nio.file.Files.readAllLines(victim.toPath)
    ls.set(0, " " + ls.get(0)) // any byte change; leading space keeps it JSON
    java.nio.file.Files.write(victim.toPath, ls)
    // stale .crc would make the text reader fail checksum verification
    new java.io.File(victim.getParent, "." + victim.getName + ".crc").delete()
    val tampered = graft.sources.Sinks.jsonlManifest(spark, outDir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getString(2)))).toMap
    val changed = shipped.keySet.filter(k => shipped(k) != tampered(k))
    assert(changed == Set(victimShard, -1L),
      s"tamper must localize to shard $victimShard + root, got $changed")
  }

  test("size-capped multi-file shards: cap honored, manifest split-invariant, tamper localizes inside a sub-file") {
    import org.apache.spark.sql.functions._
    val sf = "/root/testdata/sf0.001"
    val src = CorpusQueries.nestExport(spark, sf)
    val one = java.nio.file.Files.createTempDirectory("jsonl-onefile").toString
    val multi = java.nio.file.Files.createTempDirectory("jsonl-multifile").toString
    val mOne = graft.sources.Sinks
      .exportJsonl(src, one, "o_orderkey", numShards = 4).collect()
    val mMulti = graft.sources.Sinks
      .exportJsonl(src, multi, "o_orderkey", numShards = 4,
        maxLinesPerFile = 7L).collect()
    def asMap(rs: Array[org.apache.spark.sql.Row]) =
      rs.map(r => r.getLong(0) -> ((r.getLong(1), r.getString(2)))).toMap
    // the manifest is a function of the line multiset, not the layout
    assert(asMap(mOne) == asMap(mMulti),
      "file split must be invisible to the manifest")

    // every data file honors the cap; shards are directories of files
    val shardDirs = new java.io.File(multi).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("__shard="))
    assert(shardDirs.length == 4)
    val fileDirs = shardDirs.flatMap(_.listFiles())
      .filter(f => f.isDirectory && f.getName.startsWith("__file="))
    assert(fileDirs.length > 4, "a capped shard must split into multiple files")
    fileDirs.foreach { d =>
      d.listFiles().filter(f => f.getName.startsWith("part-"))
        .foreach { f =>
          val n = java.nio.file.Files.readAllLines(f.toPath).size
          assert(n <= 7, s"${f.getPath} has $n > 7 lines")
        }
    }

    // parse-back across the nested layout
    val back = spark.read.json(multi).drop("__shard", "__file")
      .select(src.columns.map(col).toIndexedSeq: _*)
    assert(back.exceptAll(src).isEmpty && src.exceptAll(back).isEmpty)

    // tamper one byte inside ONE sub-file of a multi-file shard →
    // exactly (that shard, root) flagged
    val victimShardDir = shardDirs.maxBy(_.listFiles().length)
    val victimShard = victimShardDir.getName.stripPrefix("__shard=").toLong
    val victim = victimShardDir.listFiles().filter(_.isDirectory)
      .maxBy(_.getName).listFiles()
      .filter(f => f.getName.startsWith("part-") && !f.getName.endsWith(".crc"))
      .head
    val ls = java.nio.file.Files.readAllLines(victim.toPath)
    ls.set(0, " " + ls.get(0))
    java.nio.file.Files.write(victim.toPath, ls)
    new java.io.File(victim.getParent, "." + victim.getName + ".crc").delete()
    val tampered = asMap(graft.sources.Sinks.jsonlManifest(spark, multi).collect())
    val changed = asMap(mMulti).keySet.filter(k => asMap(mMulti)(k) != tampered(k))
    assert(changed == Set(victimShard, -1L),
      s"tamper must localize to shard $victimShard + root, got $changed")
  }

  test("compressed JSONL export: gzip files round-trip and verify") {
    import org.apache.spark.sql.functions._
    val src = CorpusQueries.nestExport(spark, "/root/testdata/sf0.001")
    val dir = java.nio.file.Files.createTempDirectory("jsonl-gz").toString
    val shipped = graft.sources.Sinks
      .exportJsonl(src, dir, "o_orderkey", numShards = 4,
        maxLinesPerFile = 16L, compression = Some("gzip")).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getString(2)))).toMap
    // the writer really compressed
    val gzFiles = new java.io.File(dir).listFiles()
      .filter(_.isDirectory).flatMap(_.listFiles()).filter(_.isDirectory)
      .flatMap(_.listFiles()).filter(_.getName.endsWith(".gz"))
    assert(gzFiles.nonEmpty, "expected .gz data files")
    // receiver recompute is extension-transparent
    val again = graft.sources.Sinks.jsonlManifest(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getString(2)))).toMap
    assert(again == shipped)
    val back = spark.read.json(dir).drop("__shard", "__file")
      .select(src.columns.map(col).toIndexedSeq: _*)
    assert(back.exceptAll(src).isEmpty && src.exceptAll(back).isEmpty)
  }

  test("streaming JSONL export: incremental manifest equals full-file recompute; re-delivery idempotent") {
    import org.apache.spark.sql.functions._
    val outDir = java.nio.file.Files.createTempDirectory("jsonl-stream").toString
    val stateDir = java.nio.file.Files.createTempDirectory("jsonl-state").toString
    val src = CorpusQueries.nestExport(spark, "/root/testdata/sf0.001")
    val b1 = src.where(col("o_orderkey") % 2 === 0)
    val b2 = src.where(col("o_orderkey") % 2 =!= 0)
    def snap(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.toString).sorted.toSeq
    val step = (b: org.apache.spark.sql.DataFrame, id: Long) =>
      graft.streaming.CorpusStreams.jsonlExportStep(
        b, outDir, "o_orderkey", 4, stateDir, id)
    step(b1, 0L).count()
    val m1 = snap(step(b2, 1L))
    // incremental manifest after batch 1 == recompute over ALL files
    // (two batch dirs, partition-discovered)
    val full = snap(graft.sources.Sinks.jsonlManifest(spark, outDir))
    assert(m1 == full, "versioned manifest state must equal the file recompute")
    // re-delivery of batch 1 recomputes the same files and manifest
    val m1again = snap(step(b2, 1L))
    assert(m1again == m1)
    // all rows round-trip across batch dirs
    val back = spark.read.json(outDir).drop("__shard", "batch")
      .select(src.columns.map(col).toIndexedSeq: _*)
    assert(back.exceptAll(src).isEmpty && src.exceptAll(back).isEmpty)
  }

  test("records parse back: counts, order, totals reconcile") {
    val sf = "/root/testdata/sf0.001"
    val rows = CorpusQueries.nestExport(spark, sf).collect()
    assert(rows.nonEmpty)
    val totalLines = rows.map(_.getAs[Long]("n_lines")).sum
    assert(totalLines == Tables.load(spark, sf, "lineitem").count())
    rows.foreach { r =>
      val parts = r.getAs[String]("lines_doc").split('|')
      assert(parts.length == r.getAs[Long]("n_lines"))
      val triples = parts.map(_.split(':').map(_.toLong))
      // canonical non-decreasing (ln, qty, cents) order
      assert(triples.sliding(2).forall {
        case Array(a, b) => Seq(a(0), a(1), a(2)).zip(Seq(b(0), b(1), b(2)))
          .foldLeft(0) { case (c, (x, y)) => if (c != 0) c else x.compare(y) } <= 0
        case _ => true
      })
      assert(triples.map(_(2)).sum == r.getAs[Long]("total_cents"))
    }
  }
}
