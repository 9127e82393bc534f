package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{TextFunctions, Vectors}
import graft.operators.{AnnSearch, AsOfJoin, Multimodal, NearDup, RangeJoin}

/** Operator-level specs for the training-data-pipeline extensions:
  * properties the DuckDB hash-oracle can't express (approximate-operator
  * recall, path equivalence, scalable-impl vs naive-impl agreement). */
class CorpusSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  private lazy val docs = Tables.load(spark, sf, "documents")
  private lazy val embeddings = Tables.load(spark, sf, "embeddings")

  test("minhash LSH pairs equal exact all-pairs jaccard at the threshold") {
    val exact = NearDup.ngramJaccardPairs(docs, "doc_id", "text", n = 3, threshold = 0.8)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = NearDup.minhashLshPairs(docs, "doc_id", "text",
      n = 3, numHashes = 63, numBands = 21, threshold = 0.8)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty, "fixture should contain near-duplicate documents")
    assert(lsh === exact)
  }

  test("containment: near-subset pair scores 1.0 where jaccard stays low") {
    // a short doc quoted WHOLE inside a long one: every short-doc
    // shingle occurs in the long doc → containment(short→long) = 1.0,
    // while Jaccard ≈ |A|/|B| stays far below any dup threshold — the
    // asymmetric signal containmentPairs exists to catch
    val short = "alpha beta gamma delta epsilon zeta"
    val long_ = ((1 to 60).map(i => s"w$i") ++ short.split(' ') ++
      (61 to 120).map(i => s"w$i")).mkString(" ")
    val docs = Seq((1L, short), (2L, long_)).toDF("doc_id", "text")
    val rows = NearDup.containmentPairs(docs, "doc_id", "text",
      n = 3, threshold = 0.9).collect()
    assert(rows.length == 1)
    val r = rows.head
    assert(r.getAs[Long]("doc_a") == 1L && r.getAs[Long]("doc_b") == 2L)
    assert(r.getAs[Double]("cont_a") == 1.0, "short doc fully contained")
    assert(r.getAs[Double]("cont_b") < 0.2, "long doc barely contained")
    assert(r.getAs[Double]("containment") == 1.0)
    // the same pair is invisible to the symmetric Jaccard detector
    assert(NearDup.ngramJaccardPairs(docs, "doc_id", "text",
      n = 3, threshold = 0.5).isEmpty)
  }

  test("minhash signature: fixed width, stable across recomputation") {
    val sigs = NearDup.minhashSignatures(docs, "doc_id", "text", n = 3, numHashes = 64)
    val a = sigs.orderBy("doc_id").collect()
    val b = NearDup.minhashSignatures(docs, "doc_id", "text", n = 3, numHashes = 64)
      .orderBy("doc_id").collect()
    assert(a.forall(_.getSeq[Long](1).length == 64))
    assert(a.map(_.toString).toSeq == b.map(_.toString).toSeq)
  }

  test("IVF top-k: high recall vs brute force, exact sims where they agree") {
    val queries = embeddings.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("embedding").as("q"))
    val corpus = embeddings.filter(col("vec_id") >= 10).select("vec_id", "embedding")
    val bf = AnnSearch.bruteForceTopK(queries, corpus, k = 5)
      .select("query_id", "vec_id", "sim").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(bf.size == 10 * 5, "brute force returns k rows per query")
    val ivf = AnnSearch.ivfTopK(queries, corpus, k = 5, numCentroids = 22, nProbe = 8)
      .select("query_id", "vec_id", "sim").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val recall = ivf.keySet.intersect(bf.keySet).size.toDouble / bf.size
    assert(recall >= 0.5, s"IVF recall@5 too low: $recall")
    ivf.keySet.intersect(bf.keySet).foreach { k =>
      assert(ivf(k) == bf(k), s"sim mismatch for $k")
    }
  }

  test("pinned-plan bracket: ivf/semdedup leave the cache manager empty after use") {
    spark.catalog.clearCache()
    graft.operators.CurationOps.clear() // memo may reference evicted blocks
    val queries = embeddings.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("embedding").as("q"))
    val corpus = embeddings.filter(col("vec_id") >= 10).select("vec_id", "embedding")
    val ivf = AnnSearch.ivfTopKPinned(queries, corpus, k = 5, numCentroids = 22, nProbe = 8)
    assert(ivf.use(_.count()) > 0)
    val sem = AnnSearch.semDedupVerdictsPinned(embeddings, numClusters = 8, threshold = 0.4)
    assert(sem.use(_.count()) > 0)
    assert(spark.sharedState.cacheManager.isEmpty,
      "pinned plans must release every cache entry on close()")
    // close() is idempotent and the plan stays usable (recomputes)
    ivf.close()
    assert(ivf.df.count() > 0)
  }

  test("LSH top-k: candidates reranked exactly; recall reported vs brute force") {
    val queries = embeddings.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("embedding").as("q"))
    val corpus = embeddings.filter(col("vec_id") >= 10).select("vec_id", "embedding")
    val bf = AnnSearch.bruteForceTopK(queries, corpus, k = 5)
      .select("query_id", "vec_id", "sim").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val lsh = AnnSearch.lshTopK(queries, corpus, k = 5, numTables = 8, planesPerTable = 6)
      .select("query_id", "vec_id", "sim").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    // every LSH result is exact where it overlaps brute force (rerank is
    // exact cosine; only recall is approximate)
    lsh.keySet.intersect(bf.keySet).foreach { k =>
      assert(lsh(k) == bf(k), s"sim mismatch for $k")
    }
    // the synthetic embeddings are near-orthogonal (max cos ≈ 0.5) — the
    // worst case for sign-random-projection contrast; assert a floor well
    // under the measured value, and that buckets actually pruned work
    val recall = lsh.keySet.intersect(bf.keySet).size.toDouble / bf.size
    assert(recall >= 0.2, s"LSH recall@5 collapsed: $recall")
    assert(lsh.nonEmpty)
  }

  test("sharded writer: deterministic membership, one file per shard") {
    val dir = SpotifyFixture.tempDir("shards").toString
    graft.sources.Sinks.writeSharded(docs, dir, "doc_id", numShards = 4)
    val back = spark.read.parquet(dir)
    assert(back.count() == docs.count())
    // membership is the stable hash mod — recomputable from the id alone
    val bad = back.filter(
      col("__shard") =!= pmod(
        graft.functions.TextFunctions.md5Hash56(col("doc_id").cast("string")),
        lit(4L))).count()
    assert(bad == 0)
    // every shard non-empty and exactly one data file per shard dir
    (0 until 4).foreach { s =>
      val files = new java.io.File(s"$dir/__shard=$s")
        .listFiles().count(_.getName.endsWith(".parquet"))
      assert(files == 1, s"shard $s has $files files")
    }
  }

  test("clustered writer: files cover near-disjoint key ranges (data skipping)") {
    val dir = SpotifyFixture.tempDir("clustered").toString
    graft.sources.Sinks.writeClustered(docs, dir, Seq("doc_id"), numFiles = 4)
    val ranges = spark.read.parquet(dir)
      .groupBy(input_file_name().as("f"))
      .agg(min("doc_id").as("lo"), max("doc_id").as("hi"))
      .collect().map(r => (r.getLong(1), r.getLong(2))).sortBy(_._1)
    assert(ranges.length == 4)
    // consecutive files do not overlap: each file's min exceeds the
    // previous file's max → a doc_id predicate prunes to one file
    ranges.sliding(2).foreach { case Array((_, hi1), (lo2, _)) =>
      assert(lo2 > hi1, s"overlapping file ranges: $hi1 vs $lo2")
    }
  }

  test("dup groups: transitive closure of the pair graph, min-id labels") {
    val pairs = NearDup.ngramJaccardPairs(docs, "doc_id", "text", n = 3, threshold = 0.5)
    val groups = NearDup.dupGroups(pairs)
    val lbl = groups.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val edges = pairs.select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(edges.nonEmpty)
    // connected nodes share a label, and the label is the component min
    edges.foreach { case (a, b) => assert(lbl(a) == lbl(b), s"$a,$b split") }
    lbl.groupBy(_._2).foreach { case (g, members) =>
      assert(members.keySet.min == g, s"group $g label is not the min id")
    }
  }

  test("dup groups: maxIters=0 skips propagation but still returns seed labels") {
    import spark.implicits._
    // a 4-node path graph needs >0 rounds for full convergence; with
    // maxIters=0 the seeds (min of self and direct neighbors) come back
    // unconverged — the operator must warn, not loop or throw
    val path = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("doc_a", "doc_b")
    val seeds = NearDup.dupGroups(path, maxIters = 0)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(seeds == Map(1L -> 1L, 2L -> 1L, 3L -> 2L, 4L -> 3L))
    // and with enough rounds the same graph fully converges to min-id 1
    val full = NearDup.dupGroups(path)
      .collect().map(r => r.getLong(1)).toSet
    assert(full == Set(1L))
  }

  test("simhash: near-duplicate docs are closer in hamming than random pairs") {
    val dups = NearDup.ngramJaccardPairs(docs, "doc_id", "text", n = 3, threshold = 0.8)
    val fps = NearDup.simhash(docs, "doc_id", "text", bits = 32)
    val joined = dups
      .join(fps.select(col("doc_id").as("doc_a"), col("simhash").as("ha")), Seq("doc_a"))
      .join(fps.select(col("doc_id").as("doc_b"), col("simhash").as("hb")), Seq("doc_b"))
      .select(bit_count(col("ha").bitwiseXOR(col("hb"))).cast("double").as("d"))
      .agg(avg("d")).head().getDouble(0)
    assert(joined < 8.0, s"near-dup mean hamming unexpectedly high: $joined")
  }

  test("multimodal: mapPartitions decode equals columnar decode") {
    val blobs = Multimodal.asBlobTable(docs, "doc_id", "text")
    val viaMap = Multimodal.decodeFeatures(blobs, batchSize = 7).toDF()
      .orderBy("doc_id").collect().map(_.toString)
    val viaCol = Multimodal.decodeFeaturesColumnar(blobs)
      .select("doc_id", "n_bytes", "checksum", "width", "height", "n_frames")
      .orderBy("doc_id").collect().map(_.toString)
    assert(viaMap.toSeq == viaCol.toSeq)
  }

  test("multimodal: real javax.imageio codec decodes checked-in fixtures via batched mapPartitions") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    def fixture(name: String): Array[Byte] = {
      val in = getClass.getResourceAsStream(s"/graft/$name")
      assert(in != null, s"missing fixture $name")
      try in.readAllBytes() finally in.close()
    }
    val png = fixture("fixture_37x21.png")
    val jpg = fixture("fixture_16x9.jpg")
    val gif = fixture("fixture_8x5.gif")
    val notImage = "just some text, no magic bytes".getBytes("UTF-8")
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("modality", StringType),
      StructField("blob", BinaryType)))
    val blobs = spark.createDataFrame(
      java.util.Arrays.asList(
        Row(1L, "image/png", png), Row(2L, "image/jpeg", jpg),
        Row(3L, "image/gif", gif), Row(4L, "text/plain", notImage)),
      schema).repartition(2) // exercise >1 partition through mapPartitions
    val out = Multimodal
      .decodeFeatures(blobs, batchSize = 2, codec = Multimodal.imageDecode)
      .collect().map(f => f.doc_id -> f).toMap
    assert(out(1L).width == 37L && out(1L).height == 21L && out(1L).n_frames == 1L)
    assert(out(2L).width == 16L && out(2L).height == 9L && out(2L).n_frames == 1L)
    assert(out(3L).width == 8L && out(3L).height == 5L)
    assert(out(1L).n_bytes == png.length.toLong)
    // checksum is the blob md5 regardless of codec
    val expectMd5 = java.security.MessageDigest.getInstance("MD5")
      .digest(png).map(b => f"$b%02x").mkString
    assert(out(1L).checksum == expectMd5)
    // unrecognized bytes fall back to the deterministic stub, not a throw
    assert(out(4L) == Multimodal.fakeDecode(4L, notImage))
  }

  test("multimodal: real RIFF/WAV PCM codec — exact header + sample features, chunk walk, fallback") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    // triangle wave: 800 samples @8kHz, amplitude 1000, period 80 —
    // fully integer, so every decoded feature is exactly predictable
    val wav = Multimodal.synthWav(n = 800, rate = 8000, amplitude = 1000, period = 80)
    // same audio with a LIST chunk BETWEEN fmt and data: the parser must
    // walk chunks, not assume fixed offsets
    val wavList = Multimodal.synthWav(800, 8000, 1000, 80, extraChunk = true)
    val notWav = "not audio at all".getBytes("UTF-8")
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("modality", StringType),
      StructField("blob", BinaryType)))
    val blobs = spark.createDataFrame(
      java.util.Arrays.asList(
        Row(1L, "audio/wav", wav), Row(2L, "audio/wav", wavList),
        Row(3L, "text/plain", notWav)),
      schema).repartition(2)
    val out = Multimodal.decodeAudio(blobs, batchSize = 2)
      .collect().map(f => f.doc_id -> f).toMap
    assert(out(1L).sample_rate == 8000L && out(1L).n_channels == 1L &&
      out(1L).bits_per_sample == 16L && out(1L).n_samples == 800L)
    // replay the synth in plain Scala: peak and Σs² must match exactly
    var peak = 0L; var sumSq = 0L
    (0 until 800).foreach { i =>
      val ph = i % 80
      val tri = if (ph < 40) ph else 80 - ph
      val s = (tri * 2 * 1000 / 80) * (if ((i / 80) % 2 == 0) 1 else -1)
      peak = math.max(peak, math.abs(s.toLong)); sumSq += s.toLong * s
    }
    assert(out(1L).peak == peak && out(1L).sum_sq == sumSq)
    // the LIST-chunk variant decodes IDENTICAL audio features
    assert(out(2L).copy(doc_id = 1L, n_bytes = out(1L).n_bytes) == out(1L))
    // non-WAV bytes fall back deterministically (sample_rate = -1 marker)
    assert(out(3L).sample_rate == -1L)
  }

  test("multimodal: real resize halves dims; frame extraction fans out per container") {
    val blobs = docs.limit(20).select(col("doc_id").cast("long")).as[Long]
      .map(id => (id, Multimodal.synthPng(id))).toDF("doc_id", "blob")
    val resized = Multimodal.resizeImages(blobs, factor = 2)
    assert(resized.filter(col("width") =!= 16L || col("height") =!= 16L).count() == 0)
    val vids = docs.limit(20).select(col("doc_id").cast("long")).as[Long]
      .map(id => (id, Multimodal.synthVideo(id))).toDF("doc_id", "blob")
    val frames = Multimodal.extractFrameHashes(vids).toDF()
    val perDoc = frames.groupBy("doc_id").count()
    // 1 + doc_id % 3 decoded frames per container
    assert(perDoc.filter(
      col("count") =!= lit(1L) + pmod(col("doc_id"), lit(3L))).count() == 0)
  }

  test("as-of join: handcrafted semantics incl. equal-ts inclusivity and no-match null") {
    val left = Seq((1L, 1L, 10L), (2L, 1L, 20L), (3L, 2L, 5L))
      .toDF("event_id", "k", "t")
    val right = Seq((100L, 1L, 10L, 1.0), (101L, 1L, 15L, 2.0), (102L, 2L, 6L, 3.0))
      .toDF("rid", "k", "t", "v")
    val out = AsOfJoin.asOfLeft(left, right, "k", "t", "t",
        payload = Seq("t", "v"), tieBreak = "rid")
      .select(col("event_id"), col("asof.v").as("v"))
      .orderBy("event_id").collect()
    assert(out(0) == Row(1L, 1.0)) // equal ts matches (inclusive)
    assert(out(1) == Row(2L, 2.0)) // picks most recent of two priors
    assert(out(2) == Row(3L, null)) // right event is later -> no match
  }

  test("as-of join: ties on right ts broken by greatest tiebreak") {
    val left = Seq((1L, 1L, 10L)).toDF("event_id", "k", "t")
    val right = Seq((100L, 1L, 5L, 1.0), (200L, 1L, 5L, 2.0), (50L, 1L, 5L, 3.0))
      .toDF("rid", "k", "t", "v")
    val out = AsOfJoin.asOfLeft(left, right, "k", "t", "t",
        payload = Seq("v"), tieBreak = "rid")
      .select(col("asof.v")).head()
    assert(out.getDouble(0) == 2.0) // rid=200 wins
  }

  test("range join: banded result equals naive inequality join") {
    val e = Tables.load(spark, sf, "events")
    val l = e.filter(col("event_type") === "purchase").select("event_id", "user_id", "ts")
    val r = e.filter(col("event_type") === "click").select("user_id", "ts", "value")
    val banded = RangeJoin.priorWindowJoin(l, r, "user_id", "ts", "ts", 3600, Seq("value"))
      .groupBy("event_id").count().collect().map(x => (x.getLong(0), x.getLong(1))).toMap
    val naive = l.as("l").join(r.as("r"),
        col("l.user_id") === col("r.user_id") &&
        col("r.ts") >= (col("l.ts") - expr("INTERVAL 3600 SECONDS")) &&
        col("r.ts") < col("l.ts"))
      .groupBy("l.event_id").count().collect().map(x => (x.getLong(0), x.getLong(1))).toMap
    assert(naive.nonEmpty, "fixture should contain in-window pairs")
    assert(banded === naive)
  }

  test("interval join: banded result equals naive overlap join, exactly once") {
    val e = Tables.load(spark, sf, "events")
    val l = e.filter(col("event_type") === "view")
      .select(col("event_id").as("lid"), col("user_id"), col("ts").as("ls"),
        (col("ts") + expr("INTERVAL 5400 SECONDS")).as("le")) // spans >1 band
    val r = e.filter(col("event_type") === "click")
      .select(col("event_id").as("rid"), col("user_id"), col("ts").as("rs"),
        (col("ts") + expr("INTERVAL 300 SECONDS")).as("re"))
    val banded = RangeJoin.intervalOverlapJoin(l, r, "user_id",
        "ls", "le", "rs", "re", bandSeconds = 600, payload = Seq("rid"))
      .select(col("lid"), col("interval_match.rid").as("rid"))
      .collect().map(x => (x.getLong(0), x.getLong(1)))
    val naive = l.as("l").join(r.as("r"),
        col("l.user_id") === col("r.user_id") &&
        col("l.ls") <= col("r.re") && col("r.rs") <= col("l.le"))
      .select(col("lid"), col("rid"))
      .collect().map(x => (x.getLong(0), x.getLong(1)))
    assert(naive.nonEmpty, "fixture should contain overlapping intervals")
    // exactly-once: multiset equality (a 9-band interval must not
    // re-emit its pairs once per spanned band)
    assert(banded.length == naive.length)
    assert(banded.toSet === naive.toSet)
    // closed-interval touch: equal endpoints overlap with length 0
    val lt = Seq((1L, 7L)).toDF("k", "lid")
      .select(col("k"), col("lid"), expr("timestamp'2024-01-01 00:10:00'").as("ls"),
        expr("timestamp'2024-01-01 00:20:00'").as("le"))
    val rt = Seq((1L, 8L)).toDF("k", "rid")
      .select(col("k"), col("rid"), expr("timestamp'2024-01-01 00:20:00'").as("rs"),
        expr("timestamp'2024-01-01 00:30:00'").as("re"))
    val touch = RangeJoin.intervalOverlapJoin(lt, rt, "k",
      "ls", "le", "rs", "re", bandSeconds = 600, payload = Seq("rid")).collect()
    assert(touch.length == 1 && touch.head.getAs[Long]("overlap_micros") == 0L)
  }

  test("rolling fingerprint is order-sensitive; md5 fingerprint is whitespace/case-insensitive") {
    val df = Seq((1L, "alpha beta gamma"), (2L, "gamma beta alpha"), (3L, "Alpha  BETA gamma"))
      .toDF("doc_id", "text")
    val roll = df.select(TextFunctions.rollingFingerprint(col("text"))).collect().map(_.getLong(0))
    assert(roll(0) != roll(1)) // same tokens, different order
    val fp = df.select(TextFunctions.fingerprint(col("text"))).collect().map(_.getString(0))
    assert(fp(0) == fp(2)) // normalization collapses case+whitespace
    assert(fp(0) != fp(1)) // but not order
  }

  test("language id picks the marker-dominant language, und on no hits") {
    val df = Seq(
      (1L, "the cat and the dog of a house"),
      (2L, "der hund und die katze und das haus nicht"),
      (3L, "xyzzy qwerty plugh")).toDF("doc_id", "text")
    val out = df.select(col("doc_id"), TextFunctions.langId(col("text")).as("l"))
      .orderBy("doc_id").collect().map(_.getString(1))
    assert(out.toSeq == Seq("en", "de", "und"))
  }

  test("dot product matches an independent computation") {
    val df = Seq((Array(1.0f, 2.0f, 3.0f), Array(4.0f, 5.0f, 6.0f))).toDF("a", "b")
    val got = df.select(Vectors.dot(col("a"), col("b"))).head().getDouble(0)
    assert(got == (4.0 + 10.0 + 18.0))
  }

  private def assertNoNestedLoop(df: org.apache.spark.sql.DataFrame): Unit = {
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"scale-killer join in plan:\n$plan")
  }

  test("banded simhash pairs equal the all-pairs baseline; no theta join in the plan") {
    val banded = NearDup.simhashPairs(docs, "doc_id", "text", maxHamming = 8, bits = 32)
    val exact = NearDup.simhashPairsAllPairs(docs, "doc_id", "text", maxHamming = 8, bits = 32)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val got = banded.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(exact.nonEmpty, "fixture should contain hamming-close pairs")
    assert(got === exact) // pigeonhole banding is exact: recall 1, one emission per pair
    assertNoNestedLoop(banded)
    // a tighter radius exercises a different block geometry (4 blocks of 8)
    val tight = NearDup.simhashPairs(docs, "doc_id", "text", maxHamming = 3, bits = 32)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val tightExact = NearDup.simhashPairsAllPairs(docs, "doc_id", "text", maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(tight === tightExact)
  }

  test("prefix-filter setsim join equals all-pairs jaccard; no theta join in the plan") {
    import graft.operators.SetSimJoin
    val exact = NearDup.ngramJaccardPairs(docs, "doc_id", "text", n = 3, threshold = 0.6)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val pf = SetSimJoin.jaccardJoin(docs, "doc_id", "text", n = 3, threshold = 0.6)
    val got = pf.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(exact.nonEmpty, "fixture should contain near-duplicate documents")
    assert(got === exact) // prefix filtering is complete: recall 1, sims bit-equal
    assertNoNestedLoop(pf)
    // a lower threshold lengthens prefixes (more candidates) — still exact
    val loose = SetSimJoin.jaccardJoin(docs, "doc_id", "text", n = 3, threshold = 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val looseExact = NearDup.ngramJaccardPairs(docs, "doc_id", "text", n = 3, threshold = 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(loose === looseExact)
  }

  test("setsim bucketCap is a pure recall valve: capped result ⊆ exact") {
    import graft.operators.SetSimJoin
    val exact = SetSimJoin.jaccardJoin(docs, "doc_id", "text", n = 3, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val capped = SetSimJoin.jaccardJoin(docs, "doc_id", "text", n = 3, threshold = 0.5,
        bucketCap = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped.subsetOf(exact), "cap must never invent pairs")
  }

  test("banded simhash bucketCap is a pure recall valve: capped result ⊆ exact") {
    val exact = NearDup.simhashPairs(docs, "doc_id", "text", maxHamming = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val capped = NearDup.simhashPairs(docs, "doc_id", "text", maxHamming = 8, bucketCap = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped.subsetOf(exact), "cap must never invent pairs")
  }

  test("grid cosine near-dup equals the all-pairs baseline; no theta join in the plan") {
    val grid = AnnSearch.cosineNearDupPairs(embeddings, 0.4, blocks = 16)
    val exact = AnnSearch.cosineNearDupPairsAllPairs(embeddings, 0.4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val got = grid.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(exact.nonEmpty, "fixture should contain cosine-close pairs")
    assert(got === exact) // grid cover meets every unordered pair exactly once, bit-equal sims
    assertNoNestedLoop(grid)
    // a block count that doesn't divide the corpus still covers exactly
    val odd = AnnSearch.cosineNearDupPairs(embeddings, 0.4, blocks = 7)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(odd === exact)
  }

  test("LSH cosine near-dup: exact precision, high recall on clustered vectors") {
    // synthetic clustered corpus: 20 cluster centers, 3 noisy copies each
    // (pairwise cosine ≳ 0.97 within a cluster), plus 40 random vectors
    val rnd = new scala.util.Random(7)
    def unit(dim: Int): Array[Float] = {
      val v = Array.fill(dim)(rnd.nextGaussian())
      val n = math.sqrt(v.map(x => x * x).sum)
      v.map(x => (x / n).toFloat)
    }
    val rows = (0 until 20).flatMap { c =>
      val base = unit(64)
      (0 until 3).map { i =>
        val noisy = base.map(x => x + (rnd.nextGaussian() * 0.02).toFloat)
        ((c * 3 + i).toLong, noisy)
      }
    } ++ (0 until 40).map(i => ((100 + i).toLong, unit(64)))
    val corpus = rows.toDF("vec_id", "embedding")
    val exact = AnnSearch.cosineNearDupPairsAllPairs(corpus, 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val lsh = AnnSearch.cosineNearDupPairsLsh(corpus, 0.9,
        numTables = 12, planesPerTable = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(exact.size >= 20, s"clustered fixture should have many true pairs: ${exact.size}")
    // precision is exact: every emitted pair is a true pair with the same sim bits
    lsh.foreach { case (k, sim) =>
      assert(exact.contains(k) && exact(k) == sim, s"false/unequal pair $k")
    }
    val recall = lsh.size.toDouble / exact.size
    assert(recall >= 0.9, s"LSH near-dup recall collapsed: $recall")
    assertNoNestedLoop(AnnSearch.cosineNearDupPairsLsh(corpus, 0.9))
  }

  test("incremental near-dup verdicts agree with the full self-join restricted to cross pairs") {
    val srcNum = substring(col("source"), 4, 10).cast("int")
    val batch = docs.filter(srcNum >= 10)
    val index = docs.filter(srcNum < 10)
    val got = NearDup.incrementalDedupVerdicts(batch, index,
        "doc_id", "text", n = 3, threshold = 0.5)
      .collect().map(r => r.getLong(0) ->
        (r.getBoolean(1), if (r.isNullAt(2)) -1L else r.getLong(2), r.getLong(3)))
      .toMap
    // ground truth: all self-join pairs at the threshold, kept only where
    // the pair crosses the index/batch split
    val indexIds = index.select("doc_id").collect().map(_.getLong(0)).toSet
    val batchIds = batch.select("doc_id").collect().map(_.getLong(0)).toSet
    val cross = NearDup.ngramJaccardPairs(docs, "doc_id", "text", n = 3, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .flatMap { case (a, b) =>
        Seq((a, b), (b, a)).collect {
          case (x, y) if batchIds(x) && indexIds(y) => (x, y)
        }
      }.groupBy(_._1).map { case (d, ps) =>
        d -> (ps.map(_._2).min, ps.length.toLong)
      }
    assert(cross.nonEmpty, "fixture should contain cross-split near-dup pairs")
    assert(got.size == batchIds.size)
    got.foreach { case (id, (isDup, dupOf, nMatches)) =>
      cross.get(id) match {
        case Some((expMin, expN)) =>
          assert(isDup && dupOf == expMin && nMatches == expN, s"doc $id: ${got(id)}")
        case None =>
          assert(!isDup && nMatches == 0L, s"doc $id should be clean: ${got(id)}")
      }
    }
  }

  test("hard negatives: no same-label result, subset of unrestricted top-k pool, native topk plan") {
    val queries = embeddings.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("embedding").as("q"),
        col("label").as("qlabel"))
    val corpus = embeddings.filter(col("vec_id") >= 10)
      .select("vec_id", "embedding", "label")
    org.apache.spark.sql.graftsql.installTopK(spark)
    val out = AnnSearch.hardNegatives(queries, corpus, k = 5)
    val labels = queries.select("query_id", "qlabel").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val got = out.collect()
    assert(got.length == labels.size * 5)
    got.foreach { r =>
      assert(r.getInt(2) != labels(r.getLong(0)),
        s"same-label negative for query ${r.getLong(0)}")
    }
    // per query: the mined set is exactly the exact ranking filtered to
    // different labels (checked against a big unrestricted top-k pool)
    val pool = AnnSearch.bruteForceTopK(
        queries.select("query_id", "q"), corpus.select("vec_id", "embedding"), k = 200)
      .join(corpus.select(col("vec_id"), col("label")), Seq("vec_id"))
      .collect().groupBy(_.getLong(1))
    labels.foreach { case (qid, ql) =>
      val expected = pool(qid).sortBy(_.getLong(2))
        .filter(_.getInt(4) != ql).take(5).map(_.getLong(0)).toSeq
      val mined = got.filter(_.getLong(0) == qid).sortBy(_.getLong(3))
        .map(_.getLong(1)).toSeq
      assert(mined == expected, s"query $qid: $mined vs $expected")
    }
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("TopKPerKeyPartial") && plan.contains("TopKPerKeyFinal"),
      s"hard-negative ranking should run through native TopKPerKey:\n$plan")
  }

  test("SemDeDup verdicts: known clusters, lowest-id keepers, equi-join pair-gen") {
    // three well-separated clusters whose lowest ids (0,1,2) are one per
    // cluster, so the deterministic seed centroids land one in each:
    // A = {0, 10, 11} near e1, B = {1, 20, 21} near e2, C = {2} near e3
    def axis(i: Int, eps: Float, at: Int*): Array[Float] = {
      val v = Array.fill(8)(eps)
      at.foreach(j => v(j) = 1f)
      v
    }
    val corpus = Seq(
      (0L, axis(0, 0.00f, 0)), (10L, axis(0, 0.01f, 0)), (11L, axis(0, 0.02f, 0)),
      (1L, axis(1, 0.00f, 1)), (20L, axis(1, 0.01f, 1)), (21L, axis(1, 0.02f, 1)),
      (2L, axis(2, 0.00f, 2))
    ).toDF("vec_id", "embedding")
    val out = AnnSearch.semDedupVerdicts(corpus, numClusters = 3, threshold = 0.9)
    val rows = out.collect().map(r => r.getLong(0) ->
      (r.getLong(1), r.getBoolean(2), if (r.isNullAt(3)) -1L else r.getLong(3),
        r.getLong(4))).toMap
    assert(rows.size == 7)
    // keepers: the lowest id of each cluster, zero dominators
    Seq(0L, 1L, 2L).foreach { id =>
      assert(rows(id)._2 == false && rows(id)._4 == 0L, s"keeper $id: ${rows(id)}")
    }
    // dups: dominated by the cluster's lowest id; the second copy is
    // also dominated by the first copy (two dominators)
    assert(rows(10L) == ((0L, true, 0L, 1L)))
    assert(rows(11L) == ((0L, true, 0L, 2L)))
    assert(rows(20L) == ((1L, true, 1L, 1L)))
    assert(rows(21L) == ((1L, true, 1L, 2L)))
    // the cluster-bounded pair-gen must stay an equi-join: no cartesian
    // (the one BroadcastNestedLoopJoin is the k-row centroid assignment)
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), s"cartesian in plan:\n$plan")
    out.sparkSession.sharedState.cacheManager.clearCache()

    // prototypicality on the same fixture: each cluster's seed IS its
    // centroid (score exactly 1.0, rank 1), and the integer keep rule
    // drops exactly the top 1/dropDenom per cluster
    val protoDf = AnnSearch.prototypicality(corpus, numClusters = 3, dropDenom = 3)
    assert(protoDf.columns.toSeq ==
      Seq("vec_id", "centroid_id", "proto_score", "proto_rank", "n_cluster", "keep"))
    val proto = protoDf.collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getDouble(2), r.getLong(3), r.getLong(4), r.getBoolean(5)))
      .toMap
    assert(proto.size == 7)
    Seq(0L, 1L, 2L).foreach { id =>
      val (cid, score, rank, _, _) = proto(id)
      assert(cid == id && score == 1.0 && rank == 1L, s"seed $id: ${proto(id)}")
    }
    // cluster A = {0,10,11}: n=3, dropDenom=3 → exactly rank 1 dropped
    assert(!proto(0L)._5 && proto(10L)._5 && proto(11L)._5)
    // singleton cluster C = {2}: 1*3 > 1 → the integer rule never
    // empties a small cluster
    assert(proto(2L)._5)
  }
}
