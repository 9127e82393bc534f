package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Percentiles

/** The four percentile formulations are one semantics: `exact`,
  * `exactGridded` (any grid width), `exactWeighted` over the compressed
  * table, and `exactWeightedBucketed` must return bit-identical values
  * — the bucketing devices are partitioning choices, never answers. */
class PercentilesSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  private val ps = Seq("p25" -> 0.25, "p50" -> 0.5, "p90" -> 0.9)

  // skewed + tied values, several keys, one singleton key
  private lazy val rows = {
    val r = (0 until 2000).map { i =>
      val k = s"k${i % 3}"
      val v = ((i * i * 2654435761L) % 10007).toDouble / 7.0 +
        (if (i % 10 == 0) 500.0 else 0.0) // ties + a clump
      (k, v)
    } :+ ("solo", 42.0)
    r.toDF("k", "v")
  }

  private def got(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.orderBy("k").collect().map(_.toString).toSeq

  test("exactGridded is width-invariant and equals exact") {
    val exact = Percentiles.exact(rows, "k", "v", ps)
    assert(exact.columns.toSeq == Seq("k", "p25", "p50", "p90") && exact.count() == 4)
    val base = got(exact)
    Seq(0.5, 64.0, 7777.0).foreach { w =>
      assert(got(Percentiles.exactGridded(rows, "k", "v", ps, w)) == base,
        s"gridWidth=$w diverged")
    }
  }

  test("weighted formulations over the compressed table equal exact") {
    val cnts = rows.groupBy("k", "v").agg(count(lit(1)).as("c"))
    val base = got(Percentiles.exact(rows, "k", "v", ps))
    assert(got(Percentiles.exactWeighted(cnts, "k", "v", "c", ps)) == base)
    assert(got(Percentiles.exactWeightedBucketed(cnts, "k", "v", "c", ps)) == base)
    assert(got(Percentiles.exactWeightedBucketed(cnts, "k", "v", "c", ps,
      numBuckets = 7)) == base)
    // values 1,1,1,5: p50 sits at position 1.5, between two 1s
    val small = Seq(("g", 1L, 3L), ("g", 5L, 1L)).toDF("k", "v", "c")
    assert(Percentiles.exactWeighted(small, "k", "v", "c", Seq("p50" -> 0.5))
      .head().getDouble(1) == 1.0)
  }

  test("valuesAtRanks probes the exact order statistics") {
    val probes: Seq[(String, Column => Column)] = Seq(
      "first" -> ((kn: Column) => lit(1L)),
      "last" -> ((kn: Column) => kn),
      "mid" -> ((kn: Column) => floor((kn + 1) / 2.0).cast("long")))
    val out = Percentiles.valuesAtRanks(rows, "k", "v", probes, 64.0)
      .collect().map(r => r.getString(0) ->
        ((r.getDouble(1), r.getDouble(2), r.getDouble(3), r.getLong(4)))).toMap
    val brute = rows.collect().map(r => (r.getString(0), r.getDouble(1)))
      .groupBy(_._1).map { case (k, vs) =>
        val s = vs.map(_._2).sorted
        k -> ((s.head, s.last, s((s.length + 1) / 2 - 1), s.length.toLong))
      }
    assert(out == brute)
  }
}
