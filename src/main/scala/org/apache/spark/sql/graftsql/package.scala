package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.execution.streaming.runtime.StreamingQueryListenerBus
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Bridge between graft's custom Catalyst expressions and the public
  * Column API. `ExpressionUtils` (and friends) are `private[sql]` in
  * Spark 4.x, so — like most Spark extension libraries — we expose the
  * two conversions we need from inside the `org.apache.spark.sql`
  * package. Nothing else of Spark's internals leaks out of this object.
  */
package object graftsql {

  /** Wrap a Catalyst expression as a user-facing Column. */
  def exprColumn(e: Expression): Column = ExpressionUtils.column(e)

  /** Extract the Catalyst expression backing a Column. */
  def columnExpr(c: Column): Expression = ExpressionUtils.expression(c)

  /** Register graft's SQL functions on an already-running session (the
    * `spark.sql.extensions` config only applies at session build time). */
  def registerGraftFunctions(spark: SparkSession): Unit = {
    val registry = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.functionRegistry
    graft.GraftExtensions.functions.foreach { case (ident, info, builder) =>
      registry.registerFunction(ident, info, builder)
    }
  }

  /** Build a DataFrame straight from an RDD of InternalRows — the
    * zero-copy return path for RDD-level operators (RowIds): Spark's
    * `internalCreateDataFrame` is `private[sql]`, and the public
    * `createDataFrame(RDD[Row], schema)` forces an external-Row
    * conversion per element. */
  def internalDf(spark: SparkSession,
      rdd: org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow],
      schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .internalCreateDataFrame(rdd, schema)

  /** The block-manager RDD ids backing a PERSISTED Dataset's cache
    * entry — the precise answer to "which RDD ids does THIS dataset
    * pin?", for fixture builders that must exempt exactly their own
    * entries from harness cache sweeps. A `getPersistentRDDs`
    * before/after delta races with concurrent streams persisting their
    * own intermediates (foreign ids land in the window and get pinned
    * for the session); the CacheManager lookup is exact. Empty when
    * the dataset isn't cached. The cachedColumnBuffers accessor forces
    * the lazy cache builder, so call this only after the entry is
    * materialized (e.g. post-`count()`). */
  def cachedRddIds(ds: Dataset[_]): Set[Int] = {
    val session = ds.sparkSession
      .asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    session.sharedState.cacheManager
      .lookupCachedData(ds.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]])
      .map(_.cachedRepresentation.cacheBuilder.cachedColumnBuffers.id)
      .toSet
  }

  /** Run Spark's OWN CSV schema inference (`CSVInferSchema`,
    * `private[sql]`) directly over already-parsed, already-normalized
    * cell arrays — the type-promotion fold the DataFrameReader runs
    * AFTER tokenizing, minus the tokenizer. Callers that hold parsed
    * cells (e.g. an all-string read whose null tokens were normalized
    * in-plan) get identical inference semantics without serializing the
    * rows back to CSV text and paying a second univocity parse — the
    * round-15 `Sinks.inferCsvNormalized` cost, removed in the
    * optimization round (guide §2.3: don't re-serialize to re-parse).
    * `options` takes the same reader option map the equivalent
    * `spark.read.option(...).csv` inference would see. */
  def inferCsvSchema(spark: SparkSession,
      cells: org.apache.spark.rdd.RDD[Array[String]],
      header: Array[String],
      options: Map[String, String]): org.apache.spark.sql.types.StructType = {
    val tz = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.conf.sessionLocalTimeZone
    val csvOpts = new org.apache.spark.sql.catalyst.csv.CSVOptions(
      options, columnPruning = false, tz)
    new org.apache.spark.sql.catalyst.csv.CSVInferSchema(csvOpts)
      .infer(cells, header)
  }

  /** A clone of `spark` with artifact isolation off, to start streaming
    * queries from, so that their generated code compiles once per JVM
    * rather than once per query start.
    *
    * Why: Spark keys its codegen cache on (class loader, source): the
    * key of `CodeGenerator.cache` is `Tuple2<HashableWeakReference,
    * CodeAndComment>`. `writeStream.start()` runs every query on a fresh
    * clone of the session it was built on
    * (`StreamExecution.sparkSessionForStream`), and every clone has a new
    * session UUID. With `spark.sql.artifact.isolation.enabled` (default
    * true), `ArtifactManager.state` tags each of that clone's jobs with
    * its UUID, and the executor builds one class loader per UUID
    * (`Executor.isolatedSessionCache`). So each start ran under new
    * loaders, missed the cache and compiled the same classes again.
    *
    * The clone (`cloneSession()`, `private[sql]`) keeps the caller's
    * conf, temp views and functions as they are at the call. Only the
    * clone's conf turns isolation off, and Spark's per-query clone of it
    * inherits that, so the query's jobs carry no artifact state and run
    * under the executor's default loader. The caller's conf is never
    * written.
    *
    * Trade-off: a query started from the clone belongs to the clone's
    * `StreamingQueryManager`. It is not listed in the caller's
    * `spark.streams`, and the caller's `StreamingQueryListener`s do not
    * see it. Artifacts added to the caller's session (`addArtifact`) are
    * not visible to its tasks.
    *
    * Every `StreamingQueryManager` puts its own listener bus on the
    * context's listener bus and never takes it off. The clone's manager
    * has no listeners, so its bus comes off here; otherwise each call
    * would leave one more bus there for the life of the context, and
    * every later streaming event would be dispatched to all of them.
    * Listeners added to the clone's `streams` later see only
    * `QueryStartedEvent`s. */
  def sharedLoaderSession(spark: SparkSession): SparkSession = {
    val clone = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].cloneSession()
    clone.conf.set(
      org.apache.spark.sql.internal.SQLConf.ARTIFACTS_SESSION_ISOLATION_ENABLED.key, false)
    val marker = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    }
    clone.streams.addListener(marker)
    val bus = clone.sparkContext.listenerBus
    bus.findListenersByClass[StreamingQueryListenerBus]()
      .filter(_.listeners.contains(marker)).foreach(bus.removeListener)
    clone.streams.removeListener(marker)
    clone
  }

  /** Install the top-k-per-key rewrite + strategy on a live session (the
    * public `experimental` hooks; rule runs in the user-provided batch,
    * after Spark's own InferWindowGroupLimit — the rewrite strips the
    * WindowGroupLimit it may have inserted). */
  def installTopK(spark: SparkSession): Unit = {
    val exp = spark.experimental
    if (!exp.extraOptimizations.contains(graft.plans.TopKRewrite))
      exp.extraOptimizations = exp.extraOptimizations :+ graft.plans.TopKRewrite
    if (!exp.extraStrategies.contains(graft.plans.TopKPerKeyStrategy))
      exp.extraStrategies = exp.extraStrategies :+ graft.plans.TopKPerKeyStrategy
  }
}
