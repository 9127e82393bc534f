package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
  val sf = "/root/testdata/sf0.001"
}

class StarQueriesSpec extends AnyFunSuite {
  import TestSpark._

  test("every declared query runs and has matching oracle coverage") {
    assert(SparkEntry.queries.nonEmpty)
    SparkEntry.queries.foreach { case (name, fn) =>
      val df = fn(spark, sf)
      assert(df.columns.nonEmpty, s"$name has no columns")
    }
  }

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("registry: 230 queries sorted by name, distinct names and qNN ids") {
    val names = SparkEntry.registry.map(_.name)
    assert(names.size == 230)
    assert(names == names.sorted)
    assert(names.distinct == names)
    assert(names.map(_.takeWhile(_ != '_')).distinct.size == names.size)
    assert(SparkEntry.queries.keySet == names.toSet)
    assert(SparkEntry.oracleSql == SparkEntry.registry.map(d => d.name -> d.oracle).toMap)
  }

  test("select: prefixes, exact names and token lists; an unknown token raises") {
    import SparkEntry.select
    def names(tokens: String*) = select(tokens).map(_.name)
    assert(names("q6") == Seq("q60_domain_mix", "q61_row_ids", "q62_spotify_q1",
      "q63_spotify_q2", "q64_spotify_q3", "q65_spotify_q4", "q66_rank_topk",
      "q67_chunk_dedup", "q68_scd2", "q69_token_budget"))
    assert(names("q94_token_pagerank") == Seq("q94_token_pagerank"))
    // registry order, whatever the token order; blanks are ignored
    assert(names(" q65_spotify_q4", "", "q00") == Seq("q00_counts", "q65_spotify_q4"))
    assert(names("q").size == 230)
    val e = intercept[IllegalArgumentException](select(Seq("q00", "q999", "x")))
    assert(e.getMessage.contains("q999") && e.getMessage.contains("x"))
    assert(!e.getMessage.contains("q00"))
    intercept[IllegalArgumentException](select(Seq(" ", "")))
  }

  test("q00 counts match known sf0.001 cardinalities") {
    val m = SparkEntry.queries("q00_counts")(spark, sf)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(m("lineitem") == 6000L)
    assert(m("orders") == 1500L)
    assert(m("documents") == 500L)
    assert(m("embeddings") == 500L)
  }

  test("q02 top-k is sorted desc with 10 rows") {
    val rows = SparkEntry.queries("q02_topk_orders")(spark, sf).collect()
    assert(rows.length == 10)
    val prices = rows.map(_.getDouble(2))
    assert(prices.zip(prices.tail).forall { case (a, b) => a >= b })
  }

  test("q05 row_number caps at 3 per customer") {
    val df = SparkEntry.queries("q05_window_rownum")(spark, sf)
    assert(df.agg(max(col("rn"))).head().getLong(0) <= 3L)
    val perKey = df.groupBy("o_custkey").count()
    assert(perKey.agg(max(col("count"))).head().getLong(0) <= 3L)
  }

  test("keep-first dedup is deterministic and keeps the first by order") {
    import spark.implicits._
    val df = Seq(
      ("k1", 3, "c"), ("k1", 1, "a"), ("k1", 2, "b"),
      ("k2", 9, "z"), ("k2", 5, "y")
    ).toDF("k", "ord", "v")
    val got = graft.operators.Dedup
      .keepFirst(df, Seq("k"), Seq(col("ord")))
      .orderBy("k").collect().map(r => (r.getString(0), r.getInt(1), r.getString(2)))
    assert(got.toSeq == Seq(("k1", 1, "a"), ("k2", 5, "y")))
  }

  test("q01 plan broadcasts nothing and aggregates partially") {
    val plan = SparkEntry.queries("q01_pricing_summary")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("HashAggregate"), "expected hash aggregation")
  }

  test("q03 plan uses broadcast hash join") {
    val plan = SparkEntry.queries("q03_join_agg")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"expected BHJ in plan:\n$plan")
  }

  test("q04 pushes the shipdate filter into the parquet scan") {
    val plan = SparkEntry.queries("q04_filter_sort")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(l_shipdate)"), s"no pushdown:\n$plan")
  }

  test("q02 uses TakeOrderedAndProject (no full global sort)") {
    val plan = SparkEntry.queries("q02_topk_orders")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), s"plan:\n$plan")
  }
}
