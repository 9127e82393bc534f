package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** Loaders for the driver-generated synthetic star schema (TESTDATA.md).
  *
  * Each table is a single parquet file; at cluster scale these would be
  * directories of row-group-sized parquet parts — the reader code is
  * identical. Column pruning + predicate pushdown reach the scan because
  * callers express everything declaratively on the returned DataFrame.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  // Catalog-style resolution: `spark.read.parquet` re-reads the footer
  // (schema inference) and re-lists the path on every call — per-QUERY
  // driver latency a real engine pays once at table registration. Cache
  // the resolved plan per (session, dir, table); logical plans are
  // immutable, so reuse across queries is safe.
  // Outer map is weak-keyed by the session itself (reference identity):
  // entries — and the cached plans bound to that session — die with it,
  // and a new session can never collide with a stopped one's cache.
  private val resolved =
    new java.util.WeakHashMap[SparkSession,
      java.util.concurrent.ConcurrentHashMap[(String, String), DataFrame]]()

  private def sessionCache(spark: SparkSession) = resolved.synchronized {
    var m = resolved.get(spark)
    if (m == null) {
      m = new java.util.concurrent.ConcurrentHashMap[(String, String), DataFrame]()
      resolved.put(spark, m)
    }
    m
  }

  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    sessionCache(spark).computeIfAbsent((dir, name), _ => {
      val df = spark.read.parquet(s"$dir/$name.parquet")
      // events.ts is parquet TIMESTAMP(NANOS), which Spark's TimestampType
      // (micros) cannot represent. Sessions set
      // spark.sql.legacy.parquet.nanosAsLong=true so the column arrives as
      // nano-epoch Long; normalize to TimestampType here (values are
      // micro-aligned so `div 1000` is lossless).
      df.schema.find(_.name == "ts").map(_.dataType) match {
        case Some(LongType) => df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
        // Driver generations vary in the parquet logical type: naive
        // timestamp[us] arrives as TIMESTAMP_NTZ. The cast to
        // TimestampType is a lossless identity on the stored micros
        // ONLY under a UTC session timezone (any other zone would
        // silently shift the instants), so the invariant is enforced
        // here at the API boundary rather than assumed from the
        // in-repo entry points that all set it. Keeps every downstream
        // operator (unix_micros, window lag, interval arith) on the one
        // timestamp type the engine standardizes on.
        case Some(TimestampNTZType) =>
          require(spark.conf.get("spark.sql.session.timeZone") == "UTC",
            "Tables.load requires spark.sql.session.timeZone=UTC: the " +
              "TIMESTAMP_NTZ→TimestampType normalization is only a " +
              "lossless identity under UTC")
          df.withColumn("ts", col("ts").cast(TimestampType))
        case _ => df
      }
    })

  /** Register every table as a temp view so `spark.sql` parity queries and
    * the DuckDB oracle share one naming scheme. */
  def registerAll(spark: SparkSession, dir: String): Unit =
    names.foreach(n => load(spark, dir, n).createOrReplaceTempView(n))

  /** Rewrite every table under `destDir` as multi-file parquet,
    * `partitions` files per table. The driver-generated local-SF files
    * are single-row-group parquet, which caps Spark's scan parallelism
    * at ONE task per table regardless of cores (a row group is the
    * minimum split unit) — a layout artifact of the small test files,
    * not of the engine: at cluster scale tables arrive as directories
    * of row-group-sized parts, and any real deployment controls its own
    * layout via ingest/compaction. Staging once (untimed, like the JIT
    * warmup) lets every scan stage fan out across the cores the box
    * actually has. Byte-identical data, order-insensitive queries. */
  /** The row-heavy tables whose scan stages are worth fanning out; the
    * dimensions stay single-file (multi-file scans of tiny tables only
    * add task-scheduling overhead — measured, see Bench scaladoc). */
  private val bigTables = Set("lineitem", "orders", "events", "documents", "embeddings")

  def stageLayout(spark: SparkSession, srcDir: String, destDir: String,
      partitions: Int): Unit =
    names.foreach { n =>
      val parts = if (bigTables(n)) partitions else 1
      load(spark, srcDir, n).repartition(parts)
        .write.mode("overwrite").parquet(s"$destDir/$n.parquet")
    }

  /** Synthesize a `factor`×-scaled corpus from `srcDir` under `destDir`
    * for SCALING measurements only (ScaleSweep's sf1 rung — never a
    * correctness oracle): fact tables are replicated `factor` times
    * with per-replica key shifts so join/group STRUCTURE scales the way
    * a larger generated SF would, while per-replica content stays
    * realistic:
    *
    *  - lineitem/orders shift the order keys (part/supp/cust dims stay
    *    single-copy, so per-dim fan-in grows ×factor — the skew a real
    *    scale-up produces);
    *  - events shift event AND user ids (user cardinality grows,
    *    per-user sequence structure preserved exactly);
    *  - documents shift doc_id and PREFIX EVERY TOKEN with a replica
    *    tag (k>0): without it every doc gains factor−1 exact clones and
    *    pair-emitting queries' outputs grow QUADRATICALLY by
    *    construction, poisoning the very slope the sweep measures; with
    *    it, near-dup/pair structure replicates within-replica and
    *    outputs scale ×factor;
    *  - embeddings shift vec_id and apply a per-replica diagonal ±1
    *    sign flip — an orthogonal transform, so within-replica cosines
    *    are EXACTLY preserved and cross-replica cosines of clone pairs
    *    become pseudo-random small (no fake cosine-1 clone pairs).
    *
    * Dimensions copy once. Facts write `files` parquet parts so scan
    * stages fan out (the layout a real sf1 ingest produces). Memoized
    * on disk via a _STAGED marker — delete `destDir` to restage. */
  def stageScaled(spark: SparkSession, srcDir: String, destDir: String,
      factor: Int, files: Int = 8): Unit = {
    val marker = new java.io.File(destDir, "_STAGED")
    // memo hit only when the FULL staging recipe matches: factor, source
    // dir, the files param, AND a cheap content fingerprint of the
    // source parquet (per-table max mtime + total size) — a regenerated
    // sf0.1 corpus, or a changed layout, must restage rather than
    // silently serve a stale 10× corpus whose slopes would be measured
    // against fresh sf0.1 timings
    def srcFingerprint(): String = {
      val sig = names.map { n =>
        val d = new java.io.File(srcDir, s"$n.parquet")
        val fs = if (d.isDirectory) d.listFiles().toSeq else Seq(d)
        val (mt, sz) = fs.filter(_.isFile)
          .foldLeft((0L, 0L)) { case ((m, s), f) =>
            (math.max(m, f.lastModified()), s + f.length()) }
        s"$n:$mt:$sz"
      }.mkString(",")
      s"factor=$factor;src=$srcDir;files=$files;sig=$sig"
    }
    val recipe = srcFingerprint()
    if (marker.exists() &&
        java.nio.file.Files.readString(marker.toPath).trim == recipe)
      return
    val S = 100000000L // per-replica key shift; keeps all derived
                       // encodings (doc_id*128+pos etc.) well inside Long
    def shifted(df: DataFrame, keys: Seq[String],
        extra: (DataFrame, Int) => DataFrame = (d, _) => d): DataFrame =
      (0 until factor).map { k =>
        val withKeys = keys.foldLeft(df)((d, c) =>
          d.withColumn(c, col(c) + lit(k * S)))
        extra(withKeys, k)
      }.reduce(_.unionAll(_))
    def write(df: DataFrame, name: String, parts: Int): Unit =
      df.repartition(parts).write.mode("overwrite")
        .parquet(s"$destDir/$name.parquet")
    names.foreach {
      case n @ ("region" | "nation" | "customer" | "supplier" | "part") =>
        write(load(spark, srcDir, n), n, 1)
      case "orders" =>
        write(shifted(load(spark, srcDir, "orders"), Seq("o_orderkey")),
          "orders", files)
      case "lineitem" =>
        write(shifted(load(spark, srcDir, "lineitem"), Seq("l_orderkey")),
          "lineitem", files)
      case "events" =>
        write(shifted(load(spark, srcDir, "events"),
          Seq("event_id", "user_id")), "events", files)
      case "documents" =>
        write(shifted(load(spark, srcDir, "documents"), Seq("doc_id"),
          (d, k) => if (k == 0) d else d
            .withColumn("text", concat_ws(" ",
              transform(split(col("text"), " "),
                w => concat(lit(s"r$k"), w))))
            .withColumn("n_chars", length(col("text")).cast("long"))),
          "documents", files)
      case "embeddings" =>
        write(shifted(load(spark, srcDir, "embeddings"), Seq("vec_id"),
          (d, k) => if (k == 0) d else d
            .withColumn("embedding",
              transform(col("embedding"), (x, i) =>
                when(pmod(hash(i, lit(k)), lit(2)) === 0, x).otherwise(-x)))),
          "embeddings", files)
      case other =>
        write(load(spark, srcDir, other), other, 1)
    }
    marker.getParentFile.mkdirs()
    java.nio.file.Files.writeString(marker.toPath, recipe + "\n")
  }
}
