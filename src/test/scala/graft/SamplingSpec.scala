package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Sampling

/** Deterministic sampling (operators/Sampling.scala): membership must be
  * a pure function of row content — stable under repartitioning, rerun,
  * and corpus growth — and per-stratum rates must hold. */
class SamplingSpec extends AnyFunSuite {
  import TestSpark._

  private lazy val docs = Tables.load(spark, sf, "documents")

  private def ids(df: org.apache.spark.sql.DataFrame): Seq[Long] =
    df.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq

  test("sample is repartition- and rerun-stable") {
    val a = ids(Sampling.deterministicSample(docs, "doc_id", 0.3))
    val b = ids(Sampling.deterministicSample(docs.repartition(7), "doc_id", 0.3))
    assert(a == b)
    assert(a.nonEmpty && a.size < docs.count())
  }

  test("membership survives corpus growth: subset sample == sample ∩ subset") {
    val subset = docs.filter(col("doc_id") < 100)
    val sampledSubset = ids(Sampling.deterministicSample(subset, "doc_id", 0.4))
    val subsetOfSampled =
      ids(Sampling.deterministicSample(docs, "doc_id", 0.4)).filter(_ < 100)
    assert(sampledSubset == subsetOfSampled)
  }

  test("stratified rates hold per stratum; rate 1.0 keeps the stratum whole") {
    val s = Sampling.stratifiedSample(docs, "lang", "doc_id",
      rates = Map("en" -> 0.5, "zh" -> 1.0), defaultRate = 0.25)
    val kept = s.groupBy("lang").agg(count(lit(1)).as("k")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val all = docs.groupBy("lang").agg(count(lit(1)).as("n")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(kept("zh") == all("zh"), "rate-1.0 stratum must be kept whole")
    // hash-threshold rates are exact in expectation; at a few hundred
    // rows per stratum allow generous binomial slack
    def frac(l: String) = kept.getOrElse(l, 0L).toDouble / all(l)
    assert(math.abs(frac("en") - 0.5) < 0.2, s"en kept ${frac("en")}")
    assert(math.abs(frac("de") - 0.25) < 0.2, s"de kept ${frac("de")}")
    // the stratified kept-set for a stratum equals the uniform sample of
    // that stratum at the same rate (retuning other strata is invisible)
    val enOnly = ids(Sampling.deterministicSample(
      docs.filter(col("lang") === "en"), "doc_id", 0.5))
    assert(ids(s.filter(col("lang") === "en")) == enOnly)
    // defaultRate 0 drops every stratum the rates map does not name
    assert(ids(Sampling.stratifiedSample(docs, "lang", "doc_id",
      rates = Map("en" -> 1.0), defaultRate = 0.0)) ==
      ids(docs.filter(col("lang") === "en")))
  }
}
