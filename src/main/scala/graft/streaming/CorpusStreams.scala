package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}
import org.apache.spark.sql.Row

import graft.operators.{Anomaly, Decay, NearDup, Sketches}

/** Streaming faces of the corpus-pipeline operators.
  *
  * The ingest-time near-dup gate runs per micro-batch via
  * `foreachBatch`: shingle-hash joins against a STATIC index are not
  * expressible as a continuous streaming join (two aggregations + a
  * join on a derived key), and per-batch semantics are exactly what
  * ingest wants — every arriving snapshot is verdicted against the
  * index as of its arrival. This is the standard Structured Streaming
  * composition pattern for reusing a batch operator.
  *
  * Every STATEFUL ingest here shares one protocol, factored into
  * [[VersionedState]]: state version `v=N` is recomputed from `v=N−1`
  * plus batch N, so a re-delivered batch recomputes the same version
  * instead of double-counting — idempotence by versioning, not by the
  * sink. Each ingest's per-batch logic is exposed as a
  * `*Step(batch, id)` function so the re-delivery matrix is testable
  * WITHOUT a streaming harness (StreamingAggSpec runs each step twice
  * with the same id and asserts identical state).
  */
object CorpusStreams {

  /** Wire the X91 incremental near-dup verdicts onto a document stream:
    * each micro-batch is probed against `index` (shingle-hash equi-join,
    * no self-join, no history rescan) and the per-doc verdicts are
    * handed to `sink`. Checkpointing/trigger/output are left to the
    * caller via the returned writer — call `.start()` to run.
    *
    * At scale the index side is the bucketed-by-hash snapshot, so each
    * micro-batch join is shuffle-free on the index; stream state is
    * EMPTY (the batch is verdicted and released — state lives in the
    * index table, not the stream). */
  def nearDupIngest(docs: DataFrame, index: DataFrame, idCol: String,
      textCol: String, n: Int = 3, threshold: Double = 0.5)(
      sink: (DataFrame, Long) => Unit): DataStreamWriter[Row] =
    nearDupIngestIndexed(docs,
      NearDup.indexShingles(index, idCol, textCol, n),
      idCol, textCol, n, threshold)(sink)

  /** [[nearDupIngest]] probing a pre-staged (index_id, ni, h) shingle
    * table ([[graft.operators.DedupIndex]], bucketed by `h`): each
    * micro-batch joins the index in place — zero index-side shuffle per
    * batch, the shape a 100 TB ingest gate actually runs. Verdicts are
    * identical to the ad-hoc path (same probe operator). */
  def nearDupIngestIndexed(docs: DataFrame, indexShingles: DataFrame,
      idCol: String, textCol: String, n: Int = 3, threshold: Double = 0.5)(
      sink: (DataFrame, Long) => Unit): DataStreamWriter[Row] =
    docs.writeStream
      .outputMode("update")
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, id: Long) =>
        sink(NearDup.incrementalDedupVerdictsIndexed(
          batch, indexShingles, idCol, textCol, n, threshold), id)
      }

  /** Per-batch step of [[decayedIngest]]: merge the batch's (key, day)
    * counts into versioned state — bounded by keys × active days
    * regardless of event volume, no history rescan (the X80-style
    * maintenance shape) — and derive the decayed scores through the
    * IDENTICAL fold the batch operator runs (parity by shared code). */
  private[graft] def decayedStep(batch: DataFrame, key: String,
      tsCol: String, halfLifeDays: Int, stateDir: String,
      id: Long): DataFrame = {
    val state = VersionedState.mergeCounts(
      Decay.dayCounts(batch, key, tsCol), Seq("__k", "__d"), "__c",
      stateDir, id)
    Decay.decayedFromDayCounts(state, key, halfLifeDays)
  }

  /** Incrementally-maintained half-life-decayed counts (X127, the
    * streaming face of [[graft.operators.Decay]]). State protocol and
    * idempotence: see [[VersionedState]]. */
  def decayedIngest(events: DataFrame, key: String, tsCol: String,
      halfLifeDays: Int, stateDir: String)(
      sink: (DataFrame, Long) => Unit): DataStreamWriter[Row] =
    VersionedState.ingest(events) { (batch, id) =>
      sink(decayedStep(batch, key, tsCol, halfLifeDays, stateDir, id), id)
    }

  /** Per-batch step of [[markovIngest]]: seed the batch with each
    * user's LAST committed event (state `last`, v=id−1) and run the
    * SAME lag+count core as the batch operator
    * ([[graft.operators.Markov.cellCounts]]) over the seeded union —
    * the seed row pairs with the user's first in-batch event, so
    * cross-batch boundary transitions are counted exactly once and
    * never missed (the failure mode of naive per-batch lag). The cell
    * counts are additive, so they merge into state `cells` by plain
    * summation; the new per-user last event is a max_by over the
    * seeded union. Contract: in-order ingest per key (batches arrive
    * in (ts, seq) order, the log-structured shape) — an event older
    * than a user's committed last would count a transition full-history
    * batch order wouldn't. State: |types|² cells + one row per user,
    * regardless of stream volume. Idempotence: see [[VersionedState]]. */
  private[graft] def markovStep(batch: DataFrame, key: String,
      typeCol: String, tsCol: String, seqCol: String, stateDir: String,
      id: Long, keepBatches: Option[Int] = None): DataFrame = {
    val spark = batch.sparkSession
    val ev = batch.select(col(key), col(typeCol), col(tsCol), col(seqCol))
    val lastDir = s"$stateDir/last"
    // RETENTION (round 11): with keepBatches = Some(K), a user's seed
    // row is tagged with the batch id that last refreshed it (`__b`)
    // and rows older than K batches are dropped — at seed time (the
    // horizon is consistent: a user idle > K batches never seeds) AND
    // at commit time (state stays physically bounded by users ACTIVE
    // in the window, not users ever seen). Documented exactness trade:
    // the one transition spanning such a gap is deliberately NOT
    // counted — the session-gap semantic every production clickstream
    // pipeline applies anyway. None (default) = exact, unbounded.
    val prevLast0 = VersionedState.read(spark, lastDir, id - 1)
    val prevLast = (prevLast0, keepBatches) match {
      case (Some(p), Some(k)) =>
        val tagged = if (p.columns.contains("__b")) p
                     else p.withColumn("__b", lit(id - 1))
        Some(tagged.where(col("__b") > id - k))
      case _ => prevLast0
    }
    val seeded = prevLast match {
      case Some(prev) =>
        prev.select(ev.columns.map(col).toIndexedSeq: _*).unionByName(ev)
      case None => ev
    }
    val cells = graft.operators.Markov.cellCounts(
      seeded, key, typeCol, Seq(col(tsCol), col(seqCol)))
    val merged = VersionedState.mergeCounts(
      cells, Seq("src", "dst"), "n", s"$stateDir/cells", id)
    val last = seeded.groupBy(col(key)).agg(
      max_by(struct(col(tsCol), col(seqCol), col(typeCol)),
        struct(col(tsCol), col(seqCol))).as("__m"))
      .select(col(key), col(s"__m.$tsCol").as(tsCol),
        col(s"__m.$seqCol").as(seqCol), col(s"__m.$typeCol").as(typeCol))
    val kept = keepBatches match {
      case Some(k) =>
        val fresh = ev.select(col(key)).distinct()
          .withColumn("__fresh", lit(true))
        val pb = prevLast.map(_.select(col(key), col("__b").as("__pb")))
        val withB = pb match {
          case Some(prev) => last.join(fresh, Seq(key), "left")
            .join(prev, Seq(key), "left")
            .withColumn("__b", when(col("__fresh").isNotNull, lit(id))
              .otherwise(coalesce(col("__pb"), lit(id))))
            .drop("__fresh", "__pb")
          case None => last.withColumn("__b", lit(id))
        }
        withB.where(col("__b") > id - k)
      case None => last
    }
    VersionedState.commit(kept, lastDir, id)
    graft.operators.Markov.fromCounts(merged)
  }

  /** Incrementally-maintained Markov transition matrix (X210, the
    * streaming face of [[graft.operators.Markov]]): each micro-batch
    * folds into |types|²-bounded cell counts plus one last-event row
    * per user — no history rescan, boundary transitions exact; the
    * p_ppm derivation is the shared [[graft.operators.Markov.fromCounts]]
    * code, so streaming == batch parity is by construction. */
  def markovIngest(events: DataFrame, key: String, typeCol: String,
      tsCol: String, seqCol: String, stateDir: String,
      keepBatches: Option[Int] = None)(
      sink: (DataFrame, Long) => Unit): DataStreamWriter[Row] =
    VersionedState.ingest(events) { (batch, id) =>
      sink(markovStep(batch, key, typeCol, tsCol, seqCol, stateDir, id,
        keepBatches), id)
    }

  /** Per-batch step of [[fingerprintNearDupIngest]]: pairs WITHIN the
    * batch via the banded self-join plus pairs AGAINST the committed
    * fingerprint index via [[graft.operators.NearDup.hammingCrossPairs]]
    * — a pair whose members arrive in different batches is found
    * exactly once (in the later member's batch), so the union over all
    * batches equals the batch operator over full history (spec-pinned).
    * State is the fingerprint index itself: one long per document ever
    * seen — the same thing any dedup-at-ingest deployment must retain —
    * versioned for re-delivery idempotence. Contract: document ids are
    * unique across the stream (re-delivery of the SAME batch id is
    * handled by versioning; the same doc under two ids is two docs). */
  private[graft] def fingerprintNearDupStep(batch: DataFrame,
      idCol: String, fpCol: String, maxHamming: Int, bits: Int,
      stateDir: String, id: Long): DataFrame = {
    val spark = batch.sparkSession
    val fps = batch.select(col(idCol).cast("long").as("doc_id"),
      col(fpCol).cast("long").as("fp"))
    val fpsDir = s"$stateDir/fps"
    val prev = VersionedState.read(spark, fpsDir, id - 1)
    val within = NearDup.hammingPairs(fps, "doc_id", "fp", maxHamming, bits)
    val cross = prev match {
      case Some(p) =>
        NearDup.hammingCrossPairs(fps, p, "doc_id", "fp", maxHamming, bits)
      case None => within.limit(0)
    }
    VersionedState.commit(
      prev.map(_.unionByName(fps)).getOrElse(fps), fpsDir, id)
    within.unionByName(cross)
  }

  /** Streaming near-dup ingest over ANY fingerprint stream (X211 —
    * the modality-generic incremental face of the perceptual near-dup
    * family: image dHash, audio fingerprints, text SimHash all ride
    * it): each micro-batch emits its new near-dup pairs exactly once,
    * no history self-join, state = the id+fingerprint index only. */
  def fingerprintNearDupIngest(fps: DataFrame, idCol: String,
      fpCol: String, maxHamming: Int, bits: Int, stateDir: String)(
      sink: (DataFrame, Long) => Unit): DataStreamWriter[Row] =
    VersionedState.ingest(fps) { (batch, id) =>
      sink(fingerprintNearDupStep(
        batch, idCol, fpCol, maxHamming, bits, stateDir, id), id)
    }

  /** Per-batch step of [[spatialNearbyIngest]]: pairs WITHIN the batch
    * via the grid-banded self-join plus pairs AGAINST the committed
    * point index via [[graft.operators.Spatial.radiusCrossJoin]] — the
    * 2-D leg of the X211 incremental-banded-join protocol (a pair
    * spanning batches is found exactly once, in the later point's
    * batch). State = the (id, x, y) point index, versioned; ids unique
    * across the stream. */
  private[graft] def spatialNearbyStep(batch: DataFrame, idCol: String,
      xCol: String, yCol: String, radius: Long, stateDir: String,
      id: Long, keepBatches: Option[Int] = None): DataFrame = {
    val spark = batch.sparkSession
    val pts0 = batch.select(col(idCol).cast("long").as("id"),
      col(xCol).cast("long").as("x"), col(yCol).cast("long").as("y"))
    val ptsDir = s"$stateDir/pts"
    // RETENTION (round 11): with keepBatches = Some(K) each point
    // carries the batch id it arrived in (`__b`); points older than K
    // batches are dropped from the probe index and from the committed
    // state — pairs are emitted only between points that arrive within
    // K batches of each other (the moving-objects semantic: stale
    // positions stop matching), and state is bounded by the window's
    // arrival volume instead of everything ever seen. None (default) =
    // exact, unbounded — the full-history dedup-index contract.
    val prev0 = VersionedState.read(spark, ptsDir, id - 1)
    val (pts, prev) = keepBatches match {
      case Some(k) =>
        val tagged = prev0.map { p =>
          val withB = if (p.columns.contains("__b")) p
                      else p.withColumn("__b", lit(id - 1))
          withB.where(col("__b") > id - k)
        }
        (pts0.withColumn("__b", lit(id)), tagged)
      case None => (pts0, prev0)
    }
    val within = graft.operators.Spatial.radiusSelfJoin(pts, "id", "x", "y", radius)
    val cross = prev match {
      case Some(p) =>
        graft.operators.Spatial.radiusCrossJoin(pts, p, "id", "x", "y", radius)
      case None => within.limit(0)
    }
    VersionedState.commit(
      prev.map(_.unionByName(pts)).getOrElse(pts), ptsDir, id)
    within.unionByName(cross)
  }

  /** Streaming proximity ingest over a 2-D point stream (X213 — the
    * spatial leg of the incremental banded-join family next to the
    * fingerprint ingest): each micro-batch emits its new within-radius
    * pairs exactly once against everything seen so far; no history
    * self-join, state = the point index only. */
  def spatialNearbyIngest(points: DataFrame, idCol: String, xCol: String,
      yCol: String, radius: Long, stateDir: String,
      keepBatches: Option[Int] = None)(
      sink: (DataFrame, Long) => Unit): DataStreamWriter[Row] =
    VersionedState.ingest(points) { (batch, id) =>
      sink(spatialNearbyStep(batch, idCol, xCol, yCol, radius, stateDir, id,
        keepBatches), id)
    }

  /** Per-batch step of [[heavyHitterIngest]]: fold the batch through
    * the Misra–Gries aggregate, merge counter-wise with state `v=id−1`,
    * apply the PODS'12 reduction (subtract the (k+1)-largest, drop ≤0)
    * and commit `v=id`. The running total `n` lives in its OWN state
    * table (`stateDir/n`) rather than a sentinel row inside the item
    * domain — a real empty-string item is a legitimate key and flows
    * through like any other (the n/k superset guarantee holds for it
    * too). The (k+1)-largest cut is one ≤(k+1)-row TakeOrdered to the
    * driver — control-plane, the BPE-scalar pattern. */
  private[graft] def heavyHitterStep(batch: DataFrame, itemCol: String,
      k: Int, stateDir: String, id: Long): DataFrame = {
    import org.apache.spark.sql.graftsql.{columnExpr, exprColumn}
    val spark = batch.sparkSession
    val summary = batch
      .select(col(itemCol).cast("string").as("item"))
      .agg(exprColumn(graft.functions.MisraGriesAgg(
          columnExpr(col("item")), k, emitCounts = true)
        .toAggregateExpression()).as("s"))
      .select(explode(col("s")).as("e"))
      .select(col("e.item").as("item"), col("e.cnt").as("cnt"))
      .where(col("cnt") > 0)
    val mgDir = s"$stateDir/mg"
    // the reduction needs the merged totals BEFORE the cut, so this
    // step uses read+commit directly (one write per version) rather
    // than VersionedState.merge — committing the pre-cut totals would
    // make the reduced write read-and-overwrite its own input
    val summed = (VersionedState.read(spark, mgDir, id - 1) match {
        case Some(prev) => prev.select("item", "cnt").unionByName(summary)
        case None => summary
      })
      .groupBy("item").agg(sum("cnt").as("cnt"))
    val top = summed.orderBy(desc("cnt"), col("item")).limit(k + 1)
      .collect()
    val reduced =
      if (top.length > k) {
        val cut = top(k).getAs[Long]("cnt")
        summed.select(col("item"), (col("cnt") - lit(cut)).as("cnt"))
          .where(col("cnt") > 0)
      } else summed
    val state = VersionedState.commit(reduced, mgDir, id)
    val nDir = s"$stateDir/n"
    val nPrev = VersionedState.read(spark, nDir, id - 1)
      .map(_.head.getLong(0)).getOrElse(0L)
    val n = nPrev + batch.count()
    VersionedState.commit(
      spark.range(1).select(lit(n).as("n")), nDir, id)
    state.select(col("item"), col("cnt").as("cnt_lower"),
      lit(n).as("n_total"))
  }

  /** Streaming heavy hitters (X135, the streaming face of
    * [[graft.operators.Sketches.heavyHitters]]): state is a
    * Misra–Gries summary — ≤k (item, counter) rows plus a separate
    * 1-row running-total table — merged per micro-batch with the SAME
    * PODS'12 reduction the batch aggregate applies, so state stays
    * O(k) forever regardless of stream volume and vocabulary. The
    * guarantee survives composition: after ANY batch boundaries, every
    * item with total count > n/k is in the state, and each counter
    * undercounts by at most n/k — `sink` receives (item, cnt_lower,
    * n_total) and applies its own threshold. Idempotence: see
    * [[VersionedState]]. */
  def heavyHitterIngest(items: DataFrame, itemCol: String, k: Int,
      stateDir: String)(
      sink: (DataFrame, Long) => Unit): DataStreamWriter[Row] =
    VersionedState.ingest(items) { (batch, id) =>
      sink(heavyHitterStep(batch, itemCol, k, stateDir, id), id)
    }

  /** Per-batch step of [[anomalyIngest]]: merge the batch's (key, day)
    * counts into versioned state and re-score through the IDENTICAL
    * batch window code. Requires a UTC session zone: the state buckets
    * days by UTC epoch-day (Decay.dayCounts) while the batch twin
    * derives them via session-zone date_trunc — the claimed
    * streaming==batch equivalence is only an identity under UTC, so
    * the invariant is enforced here at the entry point (the same
    * boundary discipline as Tables.load). */
  private[graft] def anomalyStep(batch: DataFrame, key: String,
      tsCol: String, stateDir: String, sigma: Double,
      id: Long): DataFrame = {
    val spark = batch.sparkSession
    require(spark.conf.get("spark.sql.session.timeZone") == "UTC",
      "anomalyIngest requires spark.sql.session.timeZone=UTC: state " +
        "buckets days by UTC epoch-day while the batch twin uses " +
        "session-zone date_trunc — equivalence holds only under UTC")
    val state = VersionedState.mergeCounts(
      Decay.dayCounts(batch, key, tsCol), Seq("__k", "__d"), "__c",
      stateDir, id)
    val daily = state
      .select(col("__k").as(key),
        expr("date_add(date '1970-01-01', cast(__d AS int))").as("day"),
        col("__c").as("n"))
    Anomaly.trailingZScoresDaily(daily, key, sigma)
  }

  /** Streaming trailing-window anomaly scores (X144, the streaming face
    * of [[graft.operators.Anomaly]]): state is the SAME (key, day,
    * count) table the X127 decay ingest maintains — bounded by keys ×
    * active days — and each batch re-scores it through the IDENTICAL
    * batch window code, so streaming == batch is by shared code, not
    * reimplementation. The tripwire this buys: the day a batch lands,
    * its z-score is already current. Idempotence: see
    * [[VersionedState]]. */
  def anomalyIngest(events: DataFrame, key: String, tsCol: String,
      stateDir: String, sigma: Double = 2.0)(
      sink: (DataFrame, Long) => Unit): DataStreamWriter[Row] =
    VersionedState.ingest(events) { (batch, id) =>
      sink(anomalyStep(batch, key, tsCol, stateDir, sigma, id), id)
    }

  /** Per-batch step of [[slidingDistinctIngest]]: merge the batch's
    * per-day KMV sketches — O(k) per active day regardless of batch
    * volume — with the X126 sketch algebra, then re-derive the sliding
    * answer through the SAME batch code. */
  private[graft] def slidingDistinctStep(batch: DataFrame,
      keyCol: String, tsCol: String, k: Int, windowDays: Int,
      stateDir: String, id: Long): DataFrame = {
    val state = VersionedState.merge(
      Sketches.kmvDailySketches(batch, keyCol, tsCol, k), stateDir, id) {
      _.groupBy("day")
        .agg(slice(array_sort(array_distinct(flatten(
          collect_list(col("sk"))))), 1, k).as("sk"))
    }
    Sketches.slidingFromDailySketches(state, k, windowDays)
  }

  /** Streaming sliding-window distinct (X145, the streaming face of
    * X138): state is the per-day KMV sketch table. Idempotence: see
    * [[VersionedState]]. */
  def slidingDistinctIngest(events: DataFrame, keyCol: String,
      tsCol: String, k: Int, windowDays: Int, stateDir: String)(
      sink: (DataFrame, Long) => Unit): DataStreamWriter[Row] =
    VersionedState.ingest(events) { (batch, id) =>
      sink(slidingDistinctStep(batch, keyCol, tsCol, k, windowDays,
        stateDir, id), id)
    }

  /** Per-batch step of [[jsonlExportIngest]]: serialize the batch as
    * canonical JSONL under `outDir/batch=<id>/__shard=N/` (overwrite
    * mode — a re-delivered batch rewrites ITS OWN directory, so the
    * file sink is idempotent per batch id, the property a plain append
    * cannot give), then merge the batch's verbatim line digests into
    * versioned manifest state and return the rolled-up Merkle
    * manifest. State per shard is the member-digest list — the same
    * information [[graft.operators.Manifest.corpusManifest]] buffers
    * per shard in batch mode — so v=N's manifest equals a full-file
    * recompute after batch N (parity by construction, spec-asserted)
    * and tamper localization works across batch directories. */
  private[graft] def jsonlExportStep(batch: DataFrame, outDir: String,
      idCol: String, numShards: Int, stateDir: String, id: Long): DataFrame = {
    import graft.functions.TextFunctions
    val spark = batch.sparkSession
    batch
      .withColumn("__line",
        to_json(struct(batch.columns.map(col).toIndexedSeq: _*)))
      .withColumn("__shard",
        pmod(TextFunctions.md5Hash56(col(idCol).cast("string")),
          lit(numShards.toLong)))
      .select(col("__line"), col("__shard"))
      .repartition(numShards, col("__shard"))
      .sortWithinPartitions("__line")
      .write.mode("overwrite").partitionBy("__shard")
      .text(s"$outDir/batch=$id")
    val newFps = spark.read.text(s"$outDir/batch=$id")
      .select(col("__shard").cast("long").as("shard"),
        md5(col("value").cast("binary")).as("fp"))
    val state = VersionedState.merge(newFps, stateDir, id)(identity)
    graft.operators.Manifest.fromFingerprints(state)
  }

  /** Streaming face of the JSONL export sink (X183,
    * [[graft.sources.Sinks.exportJsonl]]'s continuous twin): every
    * micro-batch lands as real sharded JSONL files and `sink` receives
    * the corpus-so-far Merkle manifest, maintained incrementally in
    * versioned state — no re-read of earlier batches' files, and
    * re-delivery recomputes both the batch directory and the manifest
    * version instead of double-counting ([[VersionedState]]). */
  def jsonlExportIngest(rows: DataFrame, outDir: String, idCol: String,
      numShards: Int, stateDir: String)(
      sink: (DataFrame, Long) => Unit): DataStreamWriter[Row] =
    VersionedState.ingest(rows) { (batch, id) =>
      sink(jsonlExportStep(batch, outDir, idCol, numShards, stateDir, id), id)
    }

  /** Per-batch step of [[lateDimIngest]]: union parked state `v=id−1`
    * with the batch, resolve against the CURRENT dim snapshot, park the
    * still-unresolvable remainder as `v=id`, return the resolved rows. */
  private[graft] def lateDimStep(batch: DataFrame, dimPath: String,
      key: String, stateDir: String, id: Long): DataFrame = {
    val spark = batch.sparkSession
    val dim = spark.read.parquet(dimPath)
    val todo = VersionedState.read(spark, stateDir, id - 1) match {
      case Some(parked) => parked.unionByName(batch)
      case None => batch
    }
    val resolved = todo.join(dim, Seq(key))
    VersionedState.commit(
      todo.join(dim.select(key), Seq(key), "left_anti"), stateDir, id)
    resolved
  }

  /** Late-arriving dimension handling (X161): the classic streaming-ETL
    * pattern a naive stream-dimension join silently corrupts — a fact
    * whose dimension row hasn't landed yet must be PARKED, not dropped
    * and not null-joined, and re-probed on every subsequent batch
    * against the CURRENT dimension snapshot (dimensions are re-read per
    * batch, so late dim arrivals resolve parked facts without any
    * reprocessing of resolved history).
    *
    * State = the parked-facts table; its size is bounded by
    * genuinely-unresolvable facts, not history. Each batch: one union
    * of (park, new), one equi-join against the dim snapshot (broadcast
    * when the dim is small), one anti-join for the new park. `sink`
    * receives the batch's RESOLVED rows. Idempotence: see
    * [[VersionedState]]. */
  def lateDimIngest(facts: DataFrame, dimPath: String, key: String,
      stateDir: String)(
      sink: (DataFrame, Long) => Unit): DataStreamWriter[Row] =
    VersionedState.ingest(facts) { (batch, id) =>
      sink(lateDimStep(batch, dimPath, key, stateDir, id), id)
    }
}
