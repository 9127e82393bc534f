package graft

import scala.collection.immutable.VectorMap

import org.apache.spark.sql.SparkSession

/** The one SparkSession configuration every harness in this repo runs
  * (Bench, Verify, ScaleSweep, SpotifyDemo, Profile), plus the
  * between-query helpers they share. A plan judged in one harness is
  * therefore the plan the others execute.
  *
  * Environment knobs:
  *  - SPARK_GRAFT_CPUS: local cores (default: the JVM's available
  *    processors);
  *  - SPARK_GRAFT_SHUFFLE_PARTITIONS: default 8 (reason at `base`);
  *  - SPARK_GRAFT_CONF="k=v;k=v": experiment overrides, applied last;
  *  - SPARK_GRAFT_SF_DIR, SPARK_GRAFT_STAGE_FILES,
  *    SPARK_GRAFT_CACHE_TABLES: the input a harness reads (see [[input]]
  *    and Bench's methodology).
  */
object Session {
  def cpus(env: Map[String, String]): Int =
    env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)

  /** The base configuration, before caller extras and overrides. */
  private def base(env: Map[String, String]): Seq[(String, String)] = Seq(
    "spark.master" -> s"local[${cpus(env)}]",
    // Shuffle partitions sized to the DATA, not the cores: at sf0.1 a
    // shuffle carries a few MB — 8 partitions keep every task non-trivial
    // while AQE still coalesces the truly tiny exchanges. Measured: 8 vs
    // 32 is ~10% off the suite total (fewer tasks to schedule per stage
    // on 60+ small queries); heavy operators pin their own spread where
    // it matters. At cluster SFs this knob scales with volume per the
    // usual partitions ≈ bytes/128MB sizing.
    "spark.sql.shuffle.partitions" -> env.getOrElse("SPARK_GRAFT_SHUFFLE_PARTITIONS", "8"),
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.extensions" -> "graft.GraftExtensions",
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    // V2 parquet read path: COUNT/MIN/MAX answered from footer
    // metadata (aggregate pushdown) — verified oracle-equivalent at
    // sf0.01 and sf0.1
    "spark.sql.sources.useV1SourceList" -> "",
    "spark.sql.parquet.aggregatePushdown" -> "true",
    "spark.ui.enabled" -> "false")

  /** SPARK_GRAFT_CONF="k=v;k=v". Each entry splits on its first `=`, so
    * a value may itself contain `=` or be empty; an entry without `=`
    * or without a key raises instead of being dropped, so a typo cannot
    * quietly run an A/B under the wrong configuration. */
  private def overrides(env: Map[String, String]): Seq[(String, String)] =
    env.get("SPARK_GRAFT_CONF").toSeq.flatMap(_.split(';')).map(_.trim)
      .filter(_.nonEmpty).map { entry =>
        entry.indexOf('=') match {
          case i if i > 0 && entry.take(i).trim.nonEmpty =>
            entry.take(i).trim -> entry.drop(i + 1).trim
          case _ => throw new IllegalArgumentException(
            s"SPARK_GRAFT_CONF entry '$entry' is not key=value")
        }
      }

  /** The resolved configuration: base, then `extra`, then overrides;
    * a later value replaces an earlier one for the same key. */
  def conf(env: Map[String, String],
      extra: Seq[(String, String)] = Nil): Seq[(String, String)] =
    VectorMap.from(base(env) ++ extra ++ overrides(env)).toSeq

  def build(extra: (String, String)*): SparkSession = {
    val spark = conf(sys.env, extra)
      .foldLeft(SparkSession.builder()) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def sfDir: String = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

  /** The directory a harness reads for `sfDir`: the N-file staged copy
    * under SPARK_GRAFT_STAGE_FILES=N (default 0 = off), with the ten
    * tables pinned hot under SPARK_GRAFT_CACHE_TABLES=1. Both modes and
    * why they are off by default are in Bench's methodology. */
  def input(spark: SparkSession, sfDir: String): String = {
    val stageFiles = sys.env.getOrElse("SPARK_GRAFT_STAGE_FILES", "0").toInt
    val runDir =
      if (stageFiles <= 0) sfDir
      else {
        val staged = new java.io.File(
          "target/bench-staged/" + new java.io.File(sfDir).getName).getAbsolutePath
        Tables.stageLayout(spark, sfDir, staged, stageFiles)
        staged
      }
    if (sys.env.get("SPARK_GRAFT_CACHE_TABLES").contains("1"))
      Tables.hotCache(spark, runDir, cpus(sys.env))
    runDir
  }

  /** Unpersist everything a query persisted, except `pinned` (the RDDs a
    * harness cached before its loop, e.g. the hot tables) and the
    * session-shared curation artifact (graft.operators.CurationOps): the
    * near-dup pair/component tables are cross-query state by design (a
    * cluster curation run materializes them once between stages and
    * feeds dedup/keeper/overlap/reweighting from storage), and their
    * memo entries outlive a sweep — destroying their blocks while the
    * memo still points at them turns every later reuse into
    * CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND. The pinned id set is read per
    * sweep: the memo grows as queries first touch it. */
  def sweep(spark: SparkSession, pinned: Set[Int]): Unit = {
    val keep = pinned ++ graft.operators.CurationOps.pinnedRddIds
    spark.sparkContext.getPersistentRDDs
      .filterNot { case (id, _) => keep(id) }
      .values.foreach(_.unpersist(blocking = false))
  }

  /** Jobs launched under job group `gid`. statusTracker is fed by the
    * async listener bus, so a read right after the last job can
    * undercount (round 9: an undercounted CANARY inflates the
    * per-job floor and shrinks every floor_excess — the one direction
    * the weak rule is blind to). Poll until two consecutive reads agree;
    * the bus drains in ms, the cap is paranoia. */
  def jobsInGroup(spark: SparkSession, gid: String): Int = {
    val tracker = spark.sparkContext.statusTracker
    var prev = tracker.getJobIdsForGroup(gid).length
    var tries = 0
    while (tries < 40) {
      Thread.sleep(25)
      val cur = tracker.getJobIdsForGroup(gid).length
      if (cur == prev) return cur
      prev = cur
      tries += 1
    }
    prev
  }
}
