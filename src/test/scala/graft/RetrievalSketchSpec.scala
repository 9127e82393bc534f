package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftsql.{columnExpr, exprColumn}
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{KmvAgg, LongVecSumAgg, TextFunctions}
import graft.operators.Sketches
import graft.queries.CorpusQueries

/** Specs for the retrieval/score/sketch operators added in round 4:
  * BM25 top-k (X65), bigram-LM quality scoring (X66), the KMV bottom-k
  * distinct sketch (X67) and the long-vector-sum Gram/covariance kernel
  * (X68). Exactness and layout-independence are asserted here; the
  * cross-engine bit-exactness of the full queries is the oracle gate
  * (q83–q86, both SFs).
  */
class RetrievalSketchSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  // ---------------------------------------------------------------- KMV

  private def kmvArray(values: Seq[Long], k: Int, parts: Int): Seq[Long] = {
    spark.createDataset(values).toDF("v")
      .repartition(parts)
      .agg(exprColumn(KmvAgg(columnExpr(col("v")), k).toAggregateExpression()).as("sk"))
      .head().getSeq[Long](0)
  }

  test("KMV buffer is the k smallest DISTINCT values, on any layout") {
    val values = (1 to 5000).map(i => (i.toLong * 7919L) % 1000L) // heavy dups
    val expect = values.distinct.sorted.take(64)
    assert(kmvArray(values, 64, 1) == expect)
    assert(kmvArray(values, 64, 7) == expect)   // merge path
    assert(kmvArray(values, 64, 32) == expect)  // many tiny partials
  }

  test("KMV degrades to the exact distinct set when distinct < k") {
    val values = Seq(5L, 3L, 3L, 9L, 5L, 1L)
    assert(kmvArray(values, 64, 3) == Seq(1L, 3L, 5L, 9L))
  }

  test("KMV estimate within tolerance on md5-hashed ids, and deterministic") {
    val ids = (1 to 20000).map(_.toString)
    val df = spark.createDataset(ids).toDF("id")
      .select(lit("g").as("g"), TextFunctions.md5Hash56(col("id")).as("h"))
    val out = Sketches.kmvDistinctChecked(df, "g", "h", k = 256, tol = 0.2)
      .collect()
    assert(out.length == 1)
    assert(out(0).getLong(1) == 20000L)
    assert(out(0).getBoolean(3), s"estimate ${out(0).getDouble(2)} outside 20% of 20000")
    // deterministic: a different layout gives the identical estimate
    val out2 = Sketches.kmvDistinctChecked(df.repartition(17), "g", "h", k = 256, tol = 0.2)
      .collect()
    assert(out(0).getDouble(2) == out2(0).getDouble(2))
    // a repeated hash counts once
    val dup = Seq(("g", 7L), ("g", 7L), ("g", 9L)).toDF("k", "h")
    assert(Sketches.kmvDistinctChecked(dup, "k", "h").head().getLong(1) == 2L)
  }

  // ------------------------------------------------- long-vector sum agg

  test("LongVecSumAgg equals explode+groupBy elementwise sums, any layout") {
    val rows = (0 until 500).map(i => Array(i.toLong, (i * 2).toLong, (i % 7).toLong))
    val df = spark.createDataset(rows.map(_.toSeq)).toDF("v")
    def summed(parts: Int): Seq[Long] =
      df.repartition(parts)
        .agg(exprColumn(LongVecSumAgg(columnExpr(col("v"))).toAggregateExpression()).as("s"))
        .head().getSeq[Long](0)
    val expect = Seq(
      rows.map(_(0)).sum, rows.map(_(1)).sum, rows.map(_(2)).sum)
    assert(summed(1) == expect)
    assert(summed(13) == expect)
  }

  test("gram matrix: diagonal equals scaled squared-norm sums; cov(i,i) >= 0") {
    val out = CorpusQueries.gramMatrix(spark, sf)
      .where(col("i") === col("j")).collect()
    assert(out.length == 64)
    // direct check of one diagonal cell against a driver-side fold
    val e = Tables.load(spark, sf, "embeddings")
      .select(col("embedding")).collect()
      .map(_.getSeq[Float](0).map(_.toDouble))
    val expect0 = e.map(v => math.round(v(0) * v(0) * 1000000000.0)).sum
    val cell0 = out.find(r => r.getLong(0) == 0L && r.getLong(1) == 0L).get
    assert(cell0.getLong(3) == expect0)
    // variance of a dimension with itself is non-negative (up to the
    // 1e-9 integer-scaling epsilon)
    out.foreach(r => assert(r.getDouble(4) >= -1e-6,
      s"cov(${r.getLong(0)},${r.getLong(0)}) = ${r.getDouble(4)} < 0"))
  }

  // ------------------------------------------------------------- BM25

  test("bm25: 10 ranked rows, scores descending, every hit contains a term") {
    val terms = Set("join", "hash", "vector", "window", "stream", "filter")
    val out = CorpusQueries.bm25TopK(spark, sf).collect()
    assert(out.length == 10)
    assert(out.map(_.getLong(2)).toSeq == (1L to 10L))
    val scores = out.map(_.getDouble(1)).toSeq
    assert(scores == scores.sorted.reverse)
    assert(scores.forall(_ > 0.0))
    val hitIds = out.map(_.getLong(0)).toSet
    val withTerm = Tables.load(spark, sf, "documents")
      .where(col("doc_id").isin(hitIds.toSeq: _*))
      .select(col("doc_id"), col("text")).collect()
      .filter(r => r.getString(1).split(" ").exists(terms.contains))
      .map(_.getLong(0)).toSet
    assert(hitIds == withTerm, "a top-10 doc contains no query term")
  }

  // --------------------------------------------------------- bigram LM

  test("bigram LM matches a hand-computed tiny corpus") {
    val docs = Seq(
      (0L, "a b a b"),   // bigrams: ab, ba, ab
      (1L, "a a a"),     // bigrams: aa, aa
      (2L, "b")          // no bigrams -> absent from output
    ).toDF("doc_id", "text")
    // counts: c(a)=5 c(b)=3, V=2; c12: ab=2, ba=1, aa=2
    // doc0: p(ab)=(2+1)/(5+2)=3/7 (twice), p(ba)=(1+1)/(3+2)=0.4
    // doc1: p(aa)=(2+1)/(5+2)=3/7 (twice)
    val uni = docs.select(explode(split(col("text"), " ")).as("t"))
      .groupBy("t").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(uni == Map("a" -> 5L, "b" -> 3L))
    val out = bigramOn(docs).collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getDouble(2))).toList
    val pab = 3.0 / 7.0
    val m0 = (pab + 0.4 + pab) / 3.0
    val m1 = (pab + pab) / 2.0
    assert(out == List((0L, 3L, m0), (1L, 2L, m1)))
  }

  /** bigramLm's pipeline applied to an arbitrary docs frame (the query
    * binds the corpus table; the spec needs a fixture). */
  private def bigramOn(docs: org.apache.spark.sql.DataFrame) = {
    val base = docs.select(col("doc_id"), split(col("text"), " ").as("w"))
    val pairs = base.where(size(col("w")) >= 2)
      .select(col("doc_id"), explode(expr(
        """transform(sequence(0, size(w) - 2),
             i -> struct(i AS pos, element_at(w, i + 1) AS w1, element_at(w, i + 2) AS w2))"""))
        .as("b"))
      .select(col("doc_id"), col("b.pos").as("pos"), col("b.w1").as("w1"), col("b.w2").as("w2"))
    val uni = base.select(explode(col("w")).as("t")).groupBy("t").agg(count(lit(1)).as("c1"))
    val vocab = uni.agg(count(lit(1)).as("v"))
    val c12 = pairs.groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
    pairs.join(c12, Seq("w1", "w2"))
      .join(uni.withColumnRenamed("t", "w1"), Seq("w1"))
      .crossJoin(broadcast(vocab))
      .select(col("doc_id"), col("pos"),
        ((col("c12") + lit(1L)).cast("double") / (col("c1") + col("v")).cast("double")).as("p"))
      .groupBy("doc_id").agg(
        count(lit(1)).as("n_bigrams"),
        expr("""aggregate(array_sort(collect_list(struct(pos, p))),
                          cast(0.0 AS double), (acc, x) -> acc + x.p)""").as("sum_p"))
      .select(col("doc_id"), col("n_bigrams"),
        (col("sum_p") / col("n_bigrams").cast("double")).as("mean_p"))
      .orderBy("doc_id")
  }

  test("NFC normalize: composed == normalized(decomposed); already-NFC is identity") {
    import spark.implicits._
    val composed = "caf\u00e9"
    val decomposed = "cafe\u0301"
    val rows = Seq(decomposed, composed, "plain ascii", "")
      .toDF("s")
      .select(col("s"), TextFunctions.nfcNormalize(col("s")).as("n"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(rows(decomposed) == composed) // decomposed -> composed
    assert(rows(composed) == composed)   // identity on NFC input
    assert(rows("plain ascii") == "plain ascii")
    assert(rows("") == "")
  }

  test("compression ratio: repetitive text compresses below noise, ratio sane") {
    import spark.implicits._
    val rep = "spark " * 200
    val noisy = (1 to 120).map(i => s"${i * 2654435761L}").mkString(" ")
    val out = Seq(("rep", rep), ("noise", noisy))
      .toDF("k", "s")
      .select(col("k"), TextFunctions.compressionRatio(col("s")).as("r"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(out("rep") < 0.1, s"repetitive ratio ${out("rep")} not small")
    assert(out("noise") > out("rep") * 3, s"noise ${out("noise")} vs rep ${out("rep")}")
    assert(out.values.forall(r => r > 0.0 && r < 1.5))
    // deterministic across evaluations
    val again = Seq(("rep", rep)).toDF("k", "s")
      .select(TextFunctions.compressionRatio(col("s"))).head().getDouble(0)
    assert(again == out("rep"))
  }

  test("quantized retrieval agrees with float ranking on the large majority") {
    val out = CorpusQueries.pqAnn(spark, sf).collect()
    assert(out.length == 50)
    val agree = out.count(_.getBoolean(4))
    assert(agree >= 40, s"int8 ranking agrees on only $agree/50 ranks")
    out.groupBy(_.getLong(0)).foreach { case (qid, rows) =>
      assert(rows.map(_.getLong(1)).sorted.toSeq == (1L to 5L), s"query $qid ranks")
    }
  }

  test("bigram LM on the corpus: all docs scored, mean_p in (0, 1)") {
    val out = CorpusQueries.bigramLm(spark, sf).collect()
    val nDocs = Tables.load(spark, sf, "documents")
      .where(size(split(col("text"), " ")) >= 2).count()
    assert(out.length == nDocs)
    out.foreach { r =>
      val p = r.getDouble(2)
      assert(p > 0.0 && p < 1.0, s"doc ${r.getLong(0)} mean_p=$p out of range")
    }
  }
}
