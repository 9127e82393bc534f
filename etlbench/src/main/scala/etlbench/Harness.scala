package etlbench

import java.io.File
import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

/** The session every workload runs in: `graft.Bench`'s configuration on
  * `local[cores]`, with every temporary location inside the work dir. */
object Session {
  def build(cores: Int, work: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("etlbench")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.sources.useV1SourceList", "")
      .config("spark.sql.parquet.aggregatePushdown", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}

/** JVM-wide counters read around each timed operation. */
object Jvm {
  def jitMs: Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime
  def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).filter(_ > 0).sum
  def codegenNs: Long = CodeGenerator.compileTime
  /** Peak occupancy of the old generation: the long-lived heap. (The young
    * generation fills to its fixed size between collections, so whole-heap
    * peaks read the heap size.) */
  def peakOldGenMb: Double = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(p => p.getType == MemoryType.HEAP && p.getName.contains("Old"))
    .flatMap(p => Option(p.getPeakUsage)).map(_.getUsed).sum / 1048576.0
}

/** One timed operation: named sub-spans around the repo calls inside it
  * and what the workload records about it. `Ops.time` adds its wall time,
  * its epoch-ms window (the clock the Spark listener stamps events with)
  * and the JIT, GC and codegen time spent while it ran. */
final class Op(val kind: String) {
  private val subs = mutable.LinkedHashMap[String, Seq[Double]]()
  val extra = mutable.LinkedHashMap[String, Any]()

  def sub[T](name: String)(body: => T): T = {
    val (a, n0) = (System.currentTimeMillis(), System.nanoTime())
    try body finally subs(name) = Seq(a.toDouble, System.currentTimeMillis().toDouble,
      (System.nanoTime() - n0) / 1e9)
  }

  def toMap: Map[String, Any] = Map("kind" -> kind, "sub" -> subs.toMap) ++ extra
}

final class Ops {
  val done = mutable.ArrayBuffer[Map[String, Any]]()
  /** Start of the first operation that is not warm-up: the end of set-up. */
  var firstStartNs = 0L
  /** JIT compilation time spent up to that point. */
  var setupJitMs = 0L

  def time[T](kind: String)(body: Op => T): T = {
    val op = new Op(kind)
    val (jit, gc, cg) = (Jvm.jitMs, Jvm.gcMs, Jvm.codegenNs)
    val t0 = System.currentTimeMillis()
    val n0 = System.nanoTime()
    if (firstStartNs == 0L && kind != "warmup") { firstStartNs = n0; setupJitMs = jit }
    val out = body(op)
    val n1 = System.nanoTime()
    done += op.toMap ++ Map("wall_s" -> (n1 - n0) / 1e9, "t0" -> t0,
      "t1" -> System.currentTimeMillis(), "jit_ms" -> (Jvm.jitMs - jit),
      "gc_ms" -> (Jvm.gcMs - gc), "codegen_ns" -> (Jvm.codegenNs - cg))
    out
  }
}

/** Local file-system helpers for the untimed steps. */
object Fs {
  def delete(p: String): Unit = {
    val root = new File(p).toPath
    if (Files.exists(root))
      Files.walk(root).iterator().asScala.toSeq.reverse.foreach(Files.delete)
  }

  def jsonFiles(p: String): Seq[Path] = {
    val d = new File(p)
    Option(d.listFiles()).toSeq.flatten.filter(f => f.isFile && f.getName.endsWith(".json"))
      .map(_.toPath)
  }

  /** Moves every `*.json` file of `from` into `to`. */
  def moveJson(from: String, to: String): Int = {
    Files.createDirectories(new File(to).toPath)
    val fs = jsonFiles(from)
    fs.foreach(f => Files.move(f, new File(to, f.getFileName.toString).toPath))
    fs.size
  }
}
