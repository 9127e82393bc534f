package etlbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

/** One benchmark run in this JVM: `--workload etl_backfill|etl_daily`,
  * with inputs already generated under `--work`. Writes the raw record
  * (timed operations, read-back checks, diagnostics and, with `--trace 1`,
  * every job, stage and Catalyst phase) to `--out`; `run.py` turns it into
  * metrics and compares the checks with the generator's truth. */
object Main {
  def main(args: Array[String]): Unit = {
    val mainNs = System.nanoTime()
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val mainMs = System.currentTimeMillis()
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val work = opt("work")

    val spark = Session.build(opt("cores").toInt, work)
    val trace = if (opt("trace") == "1") Some(Trace.install(spark)) else None
    val ops = new Ops

    val checks = opt("workload") match {
      case "etl_backfill" =>
        Backfill.run(spark, ops, work, opt("warmup").toInt, opt("passes").toInt)
      case "etl_daily" =>
        val days = new File(opt("days")).listFiles().filter(_.getName.endsWith(".json"))
          .sortBy(_.getName).toSeq
        Daily.run(spark, ops, work, days, opt("song"), opt("warmup").toInt, opt("ops").toInt)
    }

    // diagnostics: the pure scheduling floor of one empty single-partition job
    val canary = (1 to 7).map { _ =>
      val t = System.nanoTime()
      spark.sparkContext.parallelize(Seq.empty[Int], 1).count()
      (System.nanoTime() - t) / 1e9
    }
    val setupS = (mainMs - jvmStartMs) / 1000.0 + (ops.firstStartNs - mainNs) / 1e9
    val record = Map(
      "workload" -> opt("workload"),
      "cores" -> opt("cores").toInt,
      "setup_s" -> setupS,
      "setup_jit_ms" -> ops.setupJitMs,
      "ops" -> ops.done.toSeq,
      "checks" -> checks,
      "canary_s" -> canary,
      "peak_heap_mb" -> Jvm.peakOldGenMb,
      "trace" -> trace.map(_.dump(spark)))
    Files.writeString(Paths.get(opt("out")),
      new ObjectMapper().registerModule(DefaultScalaModule).writeValueAsString(record))
    spark.stop()
  }
}
