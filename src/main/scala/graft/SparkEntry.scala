package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.queries.{CorpusOracles, SpotifyParity, StarQueries}

/** One registered query: its name (`qNN_words`), the DataFrame program
  * that builds it over a table directory, and the DuckDB SQL that computes
  * the same result from the same parquet tables. */
final case class QueryDef(name: String, build: (SparkSession, String) => DataFrame,
    oracle: String)

/** The query surface (SURVEY.md §7).
  *
  * Every query is a DataFrame program (Spark-first, Catalyst optimized)
  * paired with the DuckDB-equivalent SQL its result is hash-compared
  * against on the same parquet tables. `registry` is the one list of them;
  * `queries` and `oracleSql` are its by-name views.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    StarQueries.q01PricingSummary(spark, "/root/testdata/sf0.001")

  /** The first star-schema queries; the later ones (q182 on) are
    * registered in CorpusOracles.defs. */
  private val starDefs: Seq[QueryDef] = Seq(
    QueryDef("q00_counts", StarQueries.q00Counts(_, _),
      Tables.names.map(n => s"SELECT '$n' AS tbl, count(*) AS n FROM $n")
        .mkString("", " UNION ALL ", " ORDER BY tbl")),

    QueryDef("q01_pricing_summary", StarQueries.q01PricingSummary(_, _), """
      SELECT l_returnflag, l_linestatus,
             CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
             CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
             CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
             CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_qty,
             count(*) AS count_order
      FROM lineitem
      WHERE l_shipdate <= TIMESTAMP '1998-09-01 00:00:00'
      GROUP BY l_returnflag, l_linestatus
      ORDER BY l_returnflag, l_linestatus"""),

    QueryDef("q02_topk_orders", StarQueries.q02TopkOrders(_, _), """
      SELECT o_orderkey, o_custkey, o_totalprice
      FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 10"""),

    QueryDef("q03_join_agg", StarQueries.q03JoinAgg(_, _), """
      SELECT c_mktsegment, count(*) AS n_orders,
             CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_price
      FROM orders JOIN customer ON o_custkey = c_custkey
      GROUP BY c_mktsegment ORDER BY c_mktsegment"""),

    QueryDef("q04_filter_sort", StarQueries.q04FilterSort(_, _), """
      SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice, l_shipdate
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
        AND l_shipdate <  TIMESTAMP '1997-07-01 00:00:00'
      ORDER BY l_orderkey, l_linenumber"""),

    QueryDef("q05_window_rownum", StarQueries.q05WindowRownum(_, _), """
      SELECT * FROM (
        SELECT o_custkey, o_orderkey, o_totalprice,
               CAST(row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS BIGINT) AS rn
        FROM orders) t
      WHERE rn <= 3 ORDER BY o_custkey, rn"""),

    QueryDef("q06_window_lag", StarQueries.q06WindowLag(_, _), """
      SELECT o_custkey, o_orderkey, o_orderdate, o_totalprice,
             o_totalprice - lag(o_totalprice, 1) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS delta
      FROM orders ORDER BY o_custkey, o_orderdate, o_orderkey"""),

    QueryDef("q07_dedup_keepfirst", StarQueries.q07DedupKeepfirst(_, _), """
      SELECT l_partkey, l_orderkey, l_linenumber, l_quantity FROM (
        SELECT l_partkey, l_orderkey, l_linenumber, l_quantity,
               row_number() OVER (PARTITION BY l_partkey ORDER BY l_orderkey, l_linenumber) AS rn
        FROM lineitem) t
      WHERE rn = 1 ORDER BY l_partkey"""),

    QueryDef("q08_explode", StarQueries.q08Explode(_, _), """
      SELECT vec_id, count(*) AS n_elems,
             min(CAST(e AS DOUBLE)) AS min_e, max(CAST(e AS DOUBLE)) AS max_e
      FROM (SELECT vec_id, unnest(embedding) AS e FROM embeddings) t
      GROUP BY vec_id ORDER BY vec_id"""),

    QueryDef("q09_array_access", StarQueries.q09ArrayAccess(_, _), """
      SELECT vec_id, CAST(embedding[1] AS DOUBLE) AS first_dim,
             CAST(embedding[64] AS DOUBLE) AS last_dim, label
      FROM embeddings ORDER BY vec_id"""),

    QueryDef("q10_semi_join", StarQueries.q10SemiJoin(_, _), """
      SELECT s_suppkey, s_name FROM supplier
      WHERE EXISTS (SELECT 1 FROM lineitem WHERE l_suppkey = s_suppkey)
      ORDER BY s_suppkey"""),

    QueryDef("q11_anti_join", StarQueries.q11AntiJoin(_, _), """
      SELECT p_partkey, p_name FROM part
      WHERE NOT EXISTS (SELECT 1 FROM lineitem WHERE l_partkey = p_partkey AND l_quantity > 45)
      ORDER BY p_partkey"""),

    QueryDef("q12_union", StarQueries.q12Union(_, _), """
      SELECT c_nationkey AS nk FROM customer
      UNION
      SELECT s_nationkey AS nk FROM supplier
      ORDER BY nk"""),

    QueryDef("q13_except", StarQueries.q13Except(_, _), """
      SELECT c_custkey AS ck FROM customer
      EXCEPT
      SELECT o_custkey AS ck FROM orders WHERE o_totalprice > 300000
      ORDER BY ck"""),

    QueryDef("q14_intersect", StarQueries.q14Intersect(_, _), """
      SELECT n_nationkey AS nk FROM nation
      INTERSECT
      SELECT c_nationkey AS nk FROM customer
      ORDER BY nk"""),

    QueryDef("q15_rollup", StarQueries.q15Rollup(_, _), """
      SELECT coalesce(r_name, 'ALL') AS region_name,
             coalesce(n_name, 'ALL') AS nation_name,
             count(*) AS n_customers
      FROM customer
      JOIN nation ON c_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey
      GROUP BY ROLLUP(r_name, n_name)
      ORDER BY region_name, nation_name"""),

    QueryDef("q16_distinct_agg", StarQueries.q16DistinctAgg(_, _), """
      SELECT l_returnflag, CAST(count(DISTINCT l_suppkey) AS BIGINT) AS n_supp, count(*) AS n_rows
      FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""),

    QueryDef("q17_json_extract", StarQueries.q17JsonExtract(_, _), """
      SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
             count(*) AS n, min(value) AS min_v, max(value) AS max_v
      FROM events GROUP BY 1 ORDER BY k"""),

    QueryDef("q18_date_trunc_agg", StarQueries.q18DateTruncAgg(_, _), """
      SELECT date_trunc('hour', ts) AS hr, count(*) AS n_events,
             CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
      FROM events GROUP BY 1 ORDER BY hr"""),

    QueryDef("q19_string_funcs", StarQueries.q19StringFuncs(_, _), """
      SELECT p_partkey, upper(p_brand) AS brand_u, substr(p_name, 1, 12) AS name_pfx,
             CAST(length(p_name) AS BIGINT) AS name_len,
             p_brand || '#' || p_type AS brand_type
      FROM part ORDER BY p_partkey"""),

    QueryDef("q20_date_window_topk", StarQueries.q20DateWindowTopk(_, _), """
      SELECT o_orderkey, o_custkey, o_orderdate, o_totalprice
      FROM orders
      WHERE o_orderdate >= (SELECT max(o_orderdate) FROM orders) - INTERVAL 30 DAY
      ORDER BY o_totalprice DESC, o_orderkey LIMIT 10"""),

    QueryDef("q21_join_agg_time", StarQueries.q21JoinAggTime(_, _), """
      SELECT p_brand, CAST(month(l_shipdate) AS BIGINT) AS ship_month,
             CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_qty,
             count(*) AS n
      FROM lineitem JOIN part ON l_partkey = p_partkey
      GROUP BY 1, 2 ORDER BY 1, 2"""),

    QueryDef("q22_top10_appearances", StarQueries.q22Top10Appearances(_, _), """
      SELECT o_custkey, count(*) AS top10_appearances FROM (
        SELECT o_custkey,
               row_number() OVER (PARTITION BY CAST(o_orderdate AS DATE) ORDER BY o_totalprice DESC, o_orderkey) AS rnk
        FROM orders) t
      WHERE rnk <= 10 GROUP BY o_custkey
      ORDER BY top10_appearances DESC, o_custkey LIMIT 20"""),

    QueryDef("q23_lag_trajectory", StarQueries.q23LagTrajectory(_, _), """
      SELECT l_partkey, l_shipdate, l_quantity, l_orderkey, l_linenumber,
             l_quantity - lag(l_quantity, 1) OVER (ORDER BY l_shipdate, l_orderkey, l_linenumber) AS qty_delta
      FROM lineitem
      WHERE l_partkey = (SELECT min(l_partkey) FROM lineitem)
      ORDER BY l_shipdate, l_orderkey, l_linenumber"""),
    QueryDef("q45_pivot", StarQueries.q45Pivot(_, _), """
      SELECT l_returnflag,
             count(*) FILTER (l_linestatus = 'F') AS n_f,
             count(*) FILTER (l_linestatus = 'O') AS n_o
      FROM lineitem GROUP BY 1 ORDER BY 1"""),

    QueryDef("q46_cube", StarQueries.q46Cube(_, _), """
      SELECT coalesce(r_name, 'ALL') AS region_name,
             coalesce(n_name, 'ALL') AS nation_name,
             count(*) AS n_customers
      FROM customer
      JOIN nation ON c_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey
      GROUP BY CUBE(r_name, n_name)
      ORDER BY region_name, nation_name"""),

    QueryDef("q47_percentiles", StarQueries.q47Percentiles(_, _), """
      SELECT l_returnflag,
             quantile_cont(l_extendedprice, 0.5) AS p50,
             quantile_cont(l_extendedprice, 0.9) AS p90,
             quantile_cont(l_extendedprice, 0.99) AS p99
      FROM lineitem GROUP BY 1 ORDER BY 1"""),

    QueryDef("q51_outer_join", StarQueries.q51OuterJoin(_, _), """
      WITH stats AS (SELECT o_custkey, count(*) AS n_orders,
                            max(o_totalprice) AS max_price
                     FROM orders GROUP BY 1)
      SELECT c_custkey, c_mktsegment,
             coalesce(n_orders, 0) AS n_orders, max_price
      FROM customer LEFT JOIN stats ON c_custkey = o_custkey
      ORDER BY c_custkey"""),

    QueryDef("q52_exists", StarQueries.q52Exists(_, _), """
      SELECT s_suppkey, s_name, s_nationkey
      FROM supplier s
      WHERE EXISTS (SELECT 1 FROM lineitem l
                    WHERE l.l_suppkey = s.s_suppkey
                      AND l.l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
                      AND l.l_shipdate <  TIMESTAMP '1998-01-01 00:00:00')
        AND NOT EXISTS (SELECT 1 FROM lineitem l
                        WHERE l.l_suppkey = s.s_suppkey
                          AND l.l_returnflag = 'R' AND l.l_quantity > 49)
      ORDER BY s_suppkey"""),

    QueryDef("q66_rank_topk", StarQueries.q66RankTopk(_, _), """
      SELECT * FROM (
        SELECT o_custkey, o_orderkey, CAST(o_orderdate AS DATE) AS d,
               CAST(rank() OVER (PARTITION BY o_custkey ORDER BY CAST(o_orderdate AS DATE) DESC) AS BIGINT) AS rnk
        FROM orders) t
      WHERE rnk <= 2 ORDER BY o_custkey, rnk, o_orderkey"""),

    // q55: the salt must be invisible in the result — the oracle is the
    // PLAIN inner join aggregate
    QueryDef("q55_salted_join", StarQueries.q55SaltedJoin(_, _), """
      SELECT s.s_name, count(*) AS n_lines,
             CAST(sum(CAST(l.l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
      FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
      GROUP BY s.s_name
      ORDER BY s.s_name"""),
  )

  /** Every query, sorted by name (Bench's run order). Oracle SQL is stored
    * with each whitespace run collapsed to one space. Bench's compact line
    * and ScaleSweep's JSON key rows by the `qNN` id, so ids are distinct. */
  val registry: Seq[QueryDef] = {
    val defs = (starDefs ++ CorpusOracles.defs ++ SpotifyParity.defs)
      .map(d => d.copy(oracle = d.oracle.stripMargin.trim.replaceAll("\\s+", " ")))
      .sortBy(_.name)
    // distinct ids imply distinct names
    val ids = defs.map(_.name.takeWhile(_ != '_'))
    require(ids.distinct.size == ids.size,
      s"duplicate query ids: ${ids.diff(ids.distinct).distinct.mkString(", ")}")
    defs
  }

  // by-name views of `registry`, for callers that look a query up by name
  val queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map(d => d.name -> d.build).toMap
  val oracleSql: Map[String, String] = registry.map(d => d.name -> d.oracle).toMap

  /** The queries `tokens` select, in registry order. A token selects every
    * query whose name starts with it ("q94" or "q94_token_pagerank"; "q"
    * selects all); blank tokens are ignored. A token that selects nothing,
    * or no token at all, raises IllegalArgumentException. */
  def select(tokens: Seq[String]): Seq[QueryDef] = {
    val ts = tokens.map(_.trim).filter(_.nonEmpty)
    require(ts.nonEmpty, "no query name given")
    val unknown = ts.filterNot(t => registry.exists(_.name.startsWith(t)))
    require(unknown.isEmpty, s"no registered query starts with ${unknown.mkString(", ")}")
    registry.filter(d => ts.exists(d.name.startsWith))
  }

  /** The oracles of `names`, as the `oracle_sql.json` that
    * tools/check_oracle.py and tools/time_duckdb.py read. */
  def oracleJson(names: Iterable[String]): String = {
    val keep = names.toSet
    jsonObject(registry.collect { case d if keep(d.name) => d.name -> d.oracle })
  }

  /** A flat JSON object of strings. Escapes backslash, quote and ALL
    * control chars (<0x20): a tab or CR in a query's SQL would
    * otherwise make the reader's json.load fail and silently zero the
    * round's correctness. */
  private[graft] def jsonObject(kvs: Iterable[(String, String)]): String = {
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    kvs.map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
  }
}
