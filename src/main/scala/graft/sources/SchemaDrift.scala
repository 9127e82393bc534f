package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Schema-evolution ingest (X214 round 11, X217 round 12): a corpus
  * whose files were written across schema changes — the Glue-Crawler
  * leg of the reference exists precisely because production landing
  * zones drift (a producer adds a column mid-corpus, or widens a type;
  * the old files are never rewritten). Two drift classes, two engine
  * contracts:
  *
  *  - '''Column addition''' ([[readMerged]]): Spark's `mergeSchema`
  *    parquet read — the union-by-name of every file footer's schema,
  *    a file's missing columns read as NULL. Exactly DuckDB's
  *    `read_parquet(..., union_by_name = true)` semantics, which is
  *    what makes the q220 oracle row possible.
  *  - '''Type widening''' ([[readWidened]]): `mergeSchema` HARD-FAILS
  *    on conflicting parquet types (int32 vs int64, float vs double —
  *    `StructType.merge` throws; pinned by Round12Spec's loud-failure
  *    test), so the engine contract is explicit: read each epoch
  *    directory with its own footer schema, compute the widest common
  *    type per column over a numeric-widening lattice, cast every
  *    epoch up, and union by name. This is the cast-to-widest replay
  *    DuckDB's `union_by_name` coercion performs implicitly — made
  *    loud and typed instead of inferred.
  *
  * Scale shape: schema merging reads FOOTERS, not data — one metadata
  * pass over the file listing, distributed by Spark's parquet reader;
  * the per-row cost of a drifted read is identical to a homogeneous
  * one (missing columns materialize as null vectors, widening casts
  * are codegen'd column expressions, no row rewrite). A 100 TB landing
  * zone with five historical schemas reads exactly like one with one
  * schema plus a footer-union step bounded by file count.
  */
object SchemaDrift {

  // one staged corpus per (spark app, source dir) — the q120-drain /
  // q49-eval-fixture precedent: the staging write is a fixed ingest
  // cost paid once (the harness's untimed warmup), not per invocation.
  // Staged trees live under java.io.tmpdir (a DRIVER-LOCAL path — the
  // staging fixture assumes local mode, like every other synthesized
  // test corpus) and are removed by a JVM shutdown hook so repeated
  // app runs don't accumulate copies of orders on disk.
  private val staged =
    new java.util.concurrent.ConcurrentHashMap[(String, String, String), String]()

  private def tempCorpusDir(prefix: String): String = {
    val dir = java.nio.file.Files.createTempDirectory(prefix)
    Runtime.getRuntime.addShutdownHook(new Thread(() => deleteTree(dir)))
    dir.toString
  }

  private def deleteTree(p: java.nio.file.Path): Unit =
    try {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(p).iterator().asScala.toSeq.reverse
        .foreach(f => try java.nio.file.Files.deleteIfExists(f)
                      catch { case _: Throwable => () })
    } catch { case _: Throwable => () }

  /** Stage the two-epoch drifted orders corpus (COLUMN-ADDITION drift)
    * under a temp dir and return its path (memoized). Epoch 1 — files
    * written BEFORE the drift — carries (o_orderkey, o_custkey,
    * o_orderstatus, o_totalprice); epoch 2 adds `o_orderpriority`.
    * Epoch membership is o_orderkey parity (even = pre-drift), so any
    * engine can replay which rows predate the column without reading
    * the files. */
  def stageOrdersDrift(spark: SparkSession, dir: String): String =
    staged.computeIfAbsent((spark.sparkContext.applicationId, dir, "add"), { _ =>
      val out = tempCorpusDir("graft-schema-drift")
      val o = graft.Tables.load(spark, dir, "orders")
      val base = o.select("o_orderkey", "o_custkey", "o_orderstatus",
        "o_totalprice")
      base.where(pmod(col("o_orderkey"), lit(2)) === 0)
        .write.mode("overwrite").parquet(s"$out/epoch=1")
      o.select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
          "o_orderpriority")
        .where(pmod(col("o_orderkey"), lit(2)) === 1)
        .write.mode("overwrite").parquet(s"$out/epoch=2")
      out
    })

  /** Stage the two-epoch NESTED-ADDITION drift corpus (X221, round 13,
    * memoized): the reference's raw layer is deeply nested
    * (`track.album.artists[]`, SURVEY §1.1), and real landing zones
    * drift INSIDE structs — a producer adds a field to a nested record,
    * old files keep the narrow struct. Epoch 1 writes
    * `meta = struct(o_orderstatus, o_totalprice)`; epoch 2's meta adds
    * `o_orderpriority` INSIDE the struct. Epoch membership is
    * o_orderkey parity (even = pre-drift), the stageOrdersDrift replay
    * rule, so the oracle replays nested-NULL semantics from the flat
    * source table without reading the files. */
  def stageOrdersNested(spark: SparkSession, dir: String): String =
    staged.computeIfAbsent((spark.sparkContext.applicationId, dir, "nested"), { _ =>
      val out = tempCorpusDir("graft-schema-nested")
      val o = graft.Tables.load(spark, dir, "orders")
      o.where(pmod(col("o_orderkey"), lit(2)) === 0)
        .select(col("o_orderkey"),
          struct(col("o_orderstatus"), col("o_totalprice")).as("meta"))
        .write.mode("overwrite").parquet(s"$out/epoch=1")
      o.where(pmod(col("o_orderkey"), lit(2)) === 1)
        .select(col("o_orderkey"),
          struct(col("o_orderstatus"), col("o_totalprice"),
            col("o_orderpriority")).as("meta"))
        .write.mode("overwrite").parquet(s"$out/epoch=2")
      out
    })

  /** Stage the two-epoch COLUMN-DROP drift corpus (X222, round 13,
    * memoized): the inverse face of [[stageOrdersDrift]] — the producer
    * REMOVED a column mid-corpus (epoch-1 files carry
    * `o_orderpriority`; epoch-2 files, written after the drop, don't).
    * Union-by-name reads the dropped column as NULL on POST-drift
    * files — the exact inversion of addition-drift's NULL census, which
    * is why drop gets its own oracle row (a census that can't
    * distinguish drop-NULLs from add-NULLs mis-reports which half of
    * the corpus predates the change). Epoch membership is o_orderkey
    * parity (even = pre-drop, still carrying the column). */
  def stageOrdersDrop(spark: SparkSession, dir: String): String =
    staged.computeIfAbsent((spark.sparkContext.applicationId, dir, "drop"), { _ =>
      val out = tempCorpusDir("graft-schema-drop")
      val o = graft.Tables.load(spark, dir, "orders")
      o.where(pmod(col("o_orderkey"), lit(2)) === 0)
        .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
          "o_orderpriority")
        .write.mode("overwrite").parquet(s"$out/epoch=1")
      o.where(pmod(col("o_orderkey"), lit(2)) === 1)
        .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
        .write.mode("overwrite").parquet(s"$out/epoch=2")
      out
    })

  /** Stage the two-epoch TYPE-WIDENING orders corpus (memoized).
    * Epoch 1 — files written before the producer widened its types —
    * carries o_custkey as INT (the keys fit; the producer later
    * outgrew 32 bits) and o_totalprice as FLOAT, and predates
    * `o_orderpriority`; epoch 2 writes o_custkey BIGINT, o_totalprice
    * DOUBLE, and the new column — so one corpus exercises BOTH drift
    * classes at once (int32→int64, float→double, plus an addition).
    * Epoch membership is o_orderkey parity (even = pre-drift), the
    * stageOrdersDrift replay rule. The float leg is value-changing by
    * construction (a double does not round-trip through float): the
    * q221 oracle replays epoch-1 prices as
    * `CAST(o_totalprice AS REAL)::DOUBLE`, pinning that the engine
    * surfaces the file's ACTUAL (narrowed) value, not a re-derived
    * one. */
  def stageOrdersWiden(spark: SparkSession, dir: String): String =
    staged.computeIfAbsent((spark.sparkContext.applicationId, dir, "widen"), { _ =>
      val out = tempCorpusDir("graft-schema-widen")
      val o = graft.Tables.load(spark, dir, "orders")
      o.where(pmod(col("o_orderkey"), lit(2)) === 0)
        .select(col("o_orderkey"),
          col("o_custkey").cast("int").as("o_custkey"),
          col("o_orderstatus"),
          col("o_totalprice").cast("float").as("o_totalprice"))
        .write.mode("overwrite").parquet(s"$out/epoch=1")
      o.where(pmod(col("o_orderkey"), lit(2)) === 1)
        .select("o_orderkey", "o_custkey", "o_orderstatus",
          "o_totalprice", "o_orderpriority")
        .write.mode("overwrite").parquet(s"$out/epoch=2")
      out
    })

  /** Read a drifted parquet corpus with explicit union-by-name
    * semantics: every file's columns by NAME, a file's missing columns
    * as NULL. `mergeSchema` is opt-in per read (the session default
    * leaves homogeneous scans free of the footer-union step).
    * HARD-FAILS (by Spark's `StructType.merge` contract) when two
    * files disagree on a column's TYPE — that is the loud behavior a
    * silently-coercing read would hide; use [[readWidened]] for
    * corpora with type drift. */
  def readMerged(spark: SparkSession, corpusDir: String): DataFrame =
    spark.read
      .option("mergeSchema", "true")
      .option("recursiveFileLookup", "true")
      .parquet(corpusDir)

  /** Read a drifted corpus AS the partitioned table its directory
    * layout already declares (X220, round 12): the `epoch=N` staging
    * dirs are hive-style partitions, so WITHOUT `recursiveFileLookup`
    * (which disables partition inference — the deliberate contrast
    * with [[readMerged]]'s flat-files face) Spark surfaces `epoch` as
    * a partition COLUMN, and a predicate on it prunes whole epochs of
    * DATA work — `PartitionFilters` in the scan, pre-drift files never
    * read into tasks. At 100 TB this is the difference between "read
    * the post-drift slice" costing the slice and costing the corpus in
    * I/O. Precision about what still costs the corpus: with
    * `mergeSchema` and no declared schema, SCHEMA INFERENCE (the
    * footer union) happens at read construction, before any predicate
    * exists — one footer per file across the whole corpus. Pass
    * `schema` (e.g. [[readMerged]]'s result cached at table
    * registration, which is where a catalog keeps it) to skip
    * inference entirely and bound planning too. Round12Spec
    * plan-asserts the pruning via the executed scan's numFiles metric;
    * q223's oracle replays epoch membership by the staging parity
    * rule. */
  def readPartitioned(spark: SparkSession, corpusDir: String,
      schema: StructType = null): DataFrame = {
    val r = if (schema != null) spark.read.schema(schema)
            else spark.read.option("mergeSchema", "true")
    r.parquet(corpusDir)
  }

  /** The STREAMING face of [[readMerged]] (X219, round 12): a
    * checkpointed file stream over a landing zone that drifts by
    * column addition WHILE the stream is running. Structured Streaming
    * requires a static schema up front, so the contract is: declare
    * the union-by-name schema (what [[readMerged]] infers — pass it
    * in, or the current corpus's merged schema is taken as of stream
    * construction); files missing a declared column read it as NULL —
    * the identical per-file semantics as the batch read, which is what
    * makes exactly-once ingest across a drift boundary EQUAL the batch
    * mergeSchema read of the final corpus (Round12Spec pins the parity
    * across a checkpoint restart). A NEW column landing mid-stream is
    * therefore a declared-schema refresh + restart from the same
    * checkpoint — never a reprocess. */
  def readMergedStream(spark: SparkSession, corpusDir: String,
      schema: StructType = null): DataFrame = {
    val s = Option(schema).getOrElse(readMerged(spark, corpusDir).schema)
    spark.readStream
      .schema(s)
      .option("recursiveFileLookup", "true")
      .parquet(corpusDir)
  }

  /** Numeric-widening lattice: the widest common type two epochs'
    * columns can be LOSSLESSLY cast up to (integral chain, float chain,
    * decimal by max precision/scale, identical otherwise). Returns None
    * when no safe widening exists — the caller fails loudly rather
    * than coerce across kinds (int vs string drift is a producer BUG,
    * not evolution). */
  private[graft] def widen(a: DataType, b: DataType): Option[DataType] = {
    val intRank = Map[DataType, Int](
      ByteType -> 1, ShortType -> 2, IntegerType -> 3, LongType -> 4)
    val fltRank = Map[DataType, Int](FloatType -> 1, DoubleType -> 2)
    (a, b) match {
      case _ if a == b => Some(a)
      case _ if intRank.contains(a) && intRank.contains(b) =>
        Some(if (intRank(a) >= intRank(b)) a else b)
      case _ if fltRank.contains(a) && fltRank.contains(b) =>
        Some(if (fltRank(a) >= fltRank(b)) a else b)
      // an integral epoch next to a float epoch widens to double (the
      // only float wide enough to hold int32 exactly; int64 holders
      // should have written decimal — surfaced as double per SQL rules)
      case _ if intRank.contains(a) && fltRank.contains(b) => Some(DoubleType)
      case _ if fltRank.contains(a) && intRank.contains(b) => Some(DoubleType)
      case (x: DecimalType, y: DecimalType) =>
        // widest = max integer digits + max scale; when that exceeds
        // parquet's precision cap there IS no lossless target — refuse
        // (returning a clamped type would silently overflow epoch
        // values, the exact coercion this function exists to reject)
        val scale = math.max(x.scale, y.scale)
        val intDigits = math.max(x.precision - x.scale, y.precision - y.scale)
        if (intDigits + scale > DecimalType.MAX_PRECISION) None
        else Some(DecimalType(intDigits + scale, scale))
      // NESTED drift (round 13): real landing zones drift INSIDE
      // structs — union-by-name at the nested level (a field one epoch
      // lacks joins the widest struct; old files read it as NULL),
      // shared fields widen recursively, and a nested cross-kind
      // conflict refuses exactly like a top-level one (None propagates
      // up, so the loud epochSchemas failure names the top-level
      // column). Field order is the left epoch's, new fields appended.
      case (x: StructType, y: StructType) =>
        val yByName = y.fields.map(f => f.name -> f).toMap
        val merged = x.fields.map { f =>
          yByName.get(f.name) match {
            case None => Some(f.copy(nullable = true))
            case Some(g) => widen(f.dataType, g.dataType)
              .map(t => StructField(f.name, t, nullable = true))
          }
        }
        val xNames = x.fieldNames.toSet
        val added = y.fields.filterNot(f => xNames(f.name))
          .map(f => Some(f.copy(nullable = true)))
        val all = merged ++ added
        if (all.exists(_.isEmpty)) None
        else Some(StructType(all.map(_.get)))
      case (ArrayType(ea, na), ArrayType(eb, nb)) =>
        widen(ea, eb).map(e => ArrayType(e, na || nb))
      case _ => None
    }
  }

  /** Can a file written as `from` be read under a DECLARED `to` schema
    * by Spark's parquet reader itself? Only the upcasts WidenProbeSpec
    * pins (integral chain, float→double, sub-long-integral→double)
    * qualify; everything else (decimal re-scaling, and int64→double —
    * a LOSSY promotion the vectorized reader refuses with
    * SchemaColumnConvertNotSupportedException) must go through an
    * explicit per-epoch cast, not a requested-schema read. */
  private def readerUpcastable(from: DataType, to: DataType): Boolean = {
    val intRank = Map[DataType, Int](
      ByteType -> 1, ShortType -> 2, IntegerType -> 3, LongType -> 4)
    (from, to) match {
      // nested: the reader clips the requested schema per file — a
      // declared struct field missing from the file reads as NULL, and
      // per-field upcasts apply recursively (probed in Round13Spec's
      // nested WidenProbe row)
      case (f: StructType, t: StructType) =>
        val tByName = t.fields.map(x => x.name -> x.dataType).toMap
        f.fields.forall(ff => tByName.get(ff.name)
          .exists(tt => readerUpcastable(ff.dataType, tt)))
      case (ArrayType(ef, _), ArrayType(et, _)) => readerUpcastable(ef, et)
      case _ =>
        (from == to) ||
          (intRank.contains(from) && intRank.contains(to) &&
            intRank(from) <= intRank(to)) ||
          (from == FloatType && to == DoubleType) ||
          (intRank.contains(from) && intRank(from) <= intRank(IntegerType) &&
            to == DoubleType)
    }
  }

  /** Rebuild `c` (typed `from`) as type `to` for the per-epoch union
    * path: a plain `cast` cannot change a struct's SHAPE (Spark refuses
    * cross-field-count struct casts), so structs are reassembled
    * field-by-field — present fields recurse, fields the epoch lacks
    * materialize as typed NULLs — and arrays transform element-wise.
    * Scalars keep the plain codegen'd cast. */
  private def alignColumn(c: org.apache.spark.sql.Column,
      from: DataType, to: DataType): org.apache.spark.sql.Column =
    (from, to) match {
      case (f, t) if f == t => c
      case (f: StructType, t: StructType) =>
        val fByName = f.fields.map(x => x.name -> x.dataType).toMap
        // struct-level NULL must survive the reassembly: struct(...) is
        // non-null whenever evaluated, so a NULL struct value would
        // silently become a struct of all-NULL fields — diverging from
        // both the single-scan path and plain cast semantics
        when(c.isNull, lit(null).cast(t)).otherwise(
          struct(t.fields.toSeq.map { tf =>
            (fByName.get(tf.name) match {
              case Some(ft) => alignColumn(c.getField(tf.name), ft, tf.dataType)
              case None     => lit(null).cast(tf.dataType)
            }).as(tf.name)
          }: _*))
      case (ArrayType(ef, _), ArrayType(et, _)) =>
        transform(c, x => alignColumn(x, ef, et))
      case (_, t) => c.cast(t)
    }

  /** The widest-common-type schema of a drifted corpus: one footer
    * pass per epoch directory (metadata only — no data read), every
    * column widened across epochs via [[widen]], first-seen column
    * order. Throws IllegalArgumentException naming the column when two
    * epochs' types admit no lossless widening — the loud contract
    * `mergeSchema` enforces and a coercing reader would silently
    * violate. `renames` maps old producer names → canonical before
    * widening (a rename is otherwise indistinguishable from drop+add). */
  def widenedSchema(spark: SparkSession, corpusDir: String,
      renames: Map[String, String] = Map.empty): StructType =
    epochSchemas(spark, corpusDir, renames)._3

  /** Stage the two-epoch CSV drift corpus (X224, round 14, memoized):
    * the reference's transformed layer is CSV and the Glue crawler
    * INFERS schemas over it (README.md:5-7; spotify-analysis.sql:14-20
    * declares the CSV format) — so the CSV face of drift is
    * inference-driven, not footer-driven. Epoch 1 (even o_orderkey =
    * pre-drift, the family's replay rule) carries (o_orderkey,
    * o_orderstatus, o_totalprice) with prices written as WHOLE-DOLLAR
    * integrals (`round(price)::long`) — the form a crawler infers as
    * an integer column; epoch 2 writes true decimal prices (inferred
    * DOUBLE) and adds `o_orderpriority`. One corpus exercises both CSV
    * drift classes at once: column addition AND type widening visible
    * only through inference. The integral leg is value-changing by
    * construction (like q221's float leg): the oracle replays epoch-1
    * prices as `round(o_totalprice)::BIGINT::DOUBLE`, pinning that the
    * engine surfaces the file's actual written value. */
  /** Stage the two-epoch CSV RENAME drift corpus (X224's rename face,
    * round 15, memoized): epoch 1 (even o_orderkey) writes
    * (o_orderkey, o_orderstatus, o_totalprice) as whole-dollar
    * integrals (crawler-inferred integer); epoch 2 (odd keys) RENAMES
    * the price column to `total_price` and writes true decimals — the
    * producer-rename + inference-widening composition. Read with
    * `renames = Map("total_price" -> "o_totalprice")`
    * ([[readCsvMerged]]); without the map the merged read forks the
    * price into two half-null columns (rename ≡ drop+add to the
    * lattice — the Round15Spec counterexample). */
  def stageOrdersCsvRenameDrift(spark: SparkSession, dir: String): String =
    staged.computeIfAbsent((spark.sparkContext.applicationId, dir, "csvren"), { _ =>
      val out = tempCorpusDir("graft-schema-csvren")
      val o = graft.Tables.load(spark, dir, "orders")
      Sinks.writeCsv(o.where(pmod(col("o_orderkey"), lit(2)) === 0)
        .select(col("o_orderkey"), col("o_orderstatus"),
          round(col("o_totalprice")).cast("long").as("o_totalprice")),
        s"$out/epoch=1", mode = "overwrite")
      Sinks.writeCsv(o.where(pmod(col("o_orderkey"), lit(2)) === 1)
        .select(col("o_orderkey"), col("o_orderstatus"),
          col("o_totalprice").as("total_price")),
        s"$out/epoch=2", mode = "overwrite")
      out
    })

  def stageOrdersCsvDrift(spark: SparkSession, dir: String): String =
    staged.computeIfAbsent((spark.sparkContext.applicationId, dir, "csv"), { _ =>
      val out = tempCorpusDir("graft-schema-csv")
      val o = graft.Tables.load(spark, dir, "orders")
      Sinks.writeCsv(o.where(pmod(col("o_orderkey"), lit(2)) === 0)
        .select(col("o_orderkey"), col("o_orderstatus"),
          round(col("o_totalprice")).cast("long").as("o_totalprice")),
        s"$out/epoch=1", mode = "overwrite")
      Sinks.writeCsv(o.where(pmod(col("o_orderkey"), lit(2)) === 1)
        .select(col("o_orderkey"), col("o_orderstatus"),
          col("o_totalprice"), col("o_orderpriority")),
        s"$out/epoch=2", mode = "overwrite")
      out
    })

  /** The per-epoch CRAWLER-INFERRED schemas of a CSV drift corpus plus
    * their widest-common type per column — the Glue-crawler equivalent
    * of [[epochSchemas]]'s footer pass: CSV has no footers, so each
    * epoch's schema comes from header + value inference (one inference
    * pass per epoch, bounded by the epoch's data — exactly what a
    * crawler run costs), and the same [[widen]] lattice the parquet
    * family uses decides the union type (refusing non-widenable drift
    * loudly). */
  def csvEpochSchemas(spark: SparkSession, corpusDir: String,
      renames: Map[String, String] = Map.empty)
      : (Seq[String], Seq[StructType], StructType) = {
    val path = new org.apache.hadoop.fs.Path(corpusDir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val epochs = fs.listStatus(path).filter(_.isDirectory)
      .map(_.getPath.toString).sorted.toSeq
    require(epochs.nonEmpty, s"no epoch directories under $corpusDir")
    // per-epoch inference through the SAME two-token NULL_IF contract
    // as every other CSV ingest (Sinks.inferCsvNormalized, round 15):
    // a foreign epoch carrying lowercase 'null' must not degrade an
    // otherwise-numeric column to STRING here while Sinks.readCsv
    // reads it as null. `renames` relabels old producer names →
    // canonical on each epoch's OWN inferred schema before widening
    // (same contract as the parquet family: a rename is otherwise
    // indistinguishable from drop+add and the merged read forks the
    // column, half-null each side — Round15Spec pins the fork)
    val schemas = epochs.map(e => StructType(
      Sinks.inferCsvNormalizedSchema(spark, e).fields.map(f =>
        f.copy(name = renames.getOrElse(f.name, f.name)))))
    val order = scala.collection.mutable.LinkedHashMap.empty[String, DataType]
    schemas.foreach(_.fields.foreach { f =>
      order.get(f.name) match {
        case None => order(f.name) = f.dataType
        case Some(t) => order(f.name) = widen(t, f.dataType).getOrElse(
          throw new IllegalArgumentException(
            s"CSV schema drift on column '${f.name}' admits no lossless " +
            s"widening: $t vs ${f.dataType} (producer bug, not evolution)"))
      }
    })
    (epochs, schemas,
      StructType(order.toSeq.map { case (n, t) => StructField(n, t) }))
  }

  /** Read a drifted CSV corpus under union-by-name + widest-type
    * semantics: each epoch is read with ITS OWN inferred schema (a CSV
    * reader given a foreign declared schema maps columns by POSITION —
    * silently mis-assigning values when an epoch lacks a middle
    * column — so per-epoch schemas are the only safe read), then cast
    * up to the widest-common type and unioned by name, missing columns
    * as NULL. Scale shape: one inference pass + one scan per epoch,
    * epoch count is a corpus constant; the per-row cost is the same
    * codegen'd cast chain as [[readWidened]]'s fallback path. */
  def readCsvMerged(spark: SparkSession, corpusDir: String,
      renames: Map[String, String] = Map.empty): DataFrame = {
    val (epochs, schemas, widest) = csvEpochSchemas(spark, corpusDir, renames)
    val targets = widest.fields.map(f => f.name -> f.dataType).toMap
    epochs.zip(schemas).map { case (e, s) =>
      // Sinks.readCsv, not a raw csvOptions read: epoch scans honor the
      // same two-token NULL_IF post-pass as every other CSV ingest.
      // Declaring the RENAMED per-epoch schema is safe precisely
      // because it is the epoch's own inferred schema relabeled: the
      // positional mapping is exact (same file, same column order) —
      // the foreign-schema position hazard pinned above never arises.
      val df = Sinks.readCsv(spark, e, s)
      val byName = s.fields.map(f => f.name -> f.dataType).toMap
      df.select(widest.fieldNames.toSeq.map { name =>
        (byName.get(name) match {
          case Some(ft) => alignColumn(col(name), ft, targets(name))
          case None     => lit(null).cast(targets(name))
        }).as(name)
      }: _*)
    }.reduce(_.unionByName(_))
  }

  /** One footer pass per epoch: (epoch dirs, per-epoch renamed
    * schemas, widest-common schema). The single listing + footer read
    * every widened-read path shares. */
  private def epochSchemas(spark: SparkSession, corpusDir: String,
      renames: Map[String, String]): (Seq[String], Seq[StructType], StructType) = {
    val path = new org.apache.hadoop.fs.Path(corpusDir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val epochs = fs.listStatus(path).filter(_.isDirectory)
      .map(_.getPath.toString).sorted.toSeq
    require(epochs.nonEmpty, s"no epoch directories under $corpusDir")
    val schemas = epochs.map { e =>
      StructType(spark.read.parquet(e).schema.fields.map(f =>
        f.copy(name = renames.getOrElse(f.name, f.name))))
    }
    val order = scala.collection.mutable.LinkedHashMap.empty[String, DataType]
    schemas.foreach(_.fields.foreach { f =>
      order.get(f.name) match {
        case None => order(f.name) = f.dataType
        case Some(t) => order(f.name) = widen(t, f.dataType).getOrElse(
          throw new IllegalArgumentException(
            s"schema drift on column '${f.name}' admits no lossless " +
            s"widening: $t vs ${f.dataType} (producer bug, not evolution)"))
      }
    })
    (epochs, schemas,
      StructType(order.toSeq.map { case (n, t) => StructField(n, t) }))
  }

  /** Read a parquet corpus whose epochs drifted by TYPE WIDENING (and
    * possibly column addition or RENAME): derive the widest-common
    * schema from one footer pass per epoch ([[widenedSchema]] — which
    * refuses non-widenable drift loudly), then read.
    *
    * When no renames are declared AND every epoch's column reaches its
    * widened target by an upcast the parquet reader itself performs
    * (integral chain, float→double, integral→double — probed and
    * spec-pinned in WidenProbeSpec), this is ONE declared-schema scan
    * of the whole corpus: files missing a declared column read it as
    * NULL, so the widened read costs exactly a homogeneous scan
    * (single listing, single FileScan, no N-epoch union), the same
    * shape [[readMerged]] has for addition-only drift. Otherwise — a
    * rename (a requested schema cannot re-name a file's column) or a
    * widening the reader doesn't perform (decimal re-scaling) — the
    * corpus falls back to per-epoch scans renamed + CAST + unioned by
    * name (still footer-bounded planning, one scan per epoch). */
  def readWidened(spark: SparkSession, corpusDir: String,
      renames: Map[String, String] = Map.empty): DataFrame = {
    val (epochs, schemas, widest) = epochSchemas(spark, corpusDir, renames)
    val targets = widest.fields.map(f => f.name -> f.dataType).toMap
    val singleScan = renames.isEmpty && schemas.forall(_.fields.forall(f =>
      readerUpcastable(f.dataType, targets(f.name))))
    if (singleScan)
      spark.read.schema(widest)
        .option("recursiveFileLookup", "true")
        .parquet(corpusDir)
    else {
      epochs.map { e =>
        // the parquet reader matches columns BY NAME, so renamed
        // columns must be read under the FILE's names first and
        // renamed in the plan, then cast up explicitly
        val df0 = spark.read.parquet(e)
        val df = renames.foldLeft(df0) { case (d, (from, to)) =>
          if (d.columns.contains(from)) d.withColumnRenamed(from, to) else d
        }
        val byName = df.schema.fields.map(f => f.name -> f.dataType).toMap
        df.select(widest.fieldNames.toSeq.map { name =>
          (byName.get(name) match {
            case Some(ft) => alignColumn(col(name), ft, targets(name))
            case None     => lit(null).cast(targets(name))
          }).as(name)
        }: _*)
      }.reduce(_.unionByName(_))
    }
  }
}
