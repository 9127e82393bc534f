package graft

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Per-query profiler for A/Bs and plan audits. It runs in Bench's
  * session on Bench's input (Session.build, Session.input), so what it
  * times, attributes or prints is what a Bench row executes.
  *
  * Usage: `sbt "runMain graft.Profile <q1,q2,...> [reps] [--jobs|--alloc|--explain]"`
  * with Bench's env knobs. Each comma-separated entry selects the
  * registered queries whose names start with it ("q94" or
  * "q94_token_pagerank"; "q" selects the whole suite). reps defaults
  * to 3; query-local cached state is swept after every rep, as in Bench.
  *  - no flag: time every rep (`[qbench] <query> rep <i>: <s> s`).
  *  - `--jobs`: every Spark JOB of each query's last rep — duration,
  *    stages, tasks and the job's description or short callsite
  *    property, when it has one — so job-count reduction work
  *    (each AQE query stage / broadcast build / checkpoint
  *    materialization is one job, and locally each job pays the box's
  *    ~30-60 ms scheduling floor) starts from a measurement instead of
  *    a plan guess.
  *  - `--alloc`: ALLOCATED BYTES and GC time of each query's last rep,
  *    from Σ per-thread allocated bytes (`com.sun.management.
  *    ThreadMXBean`) and Σ GC collection ms around it. Thread counters
  *    are monotone per live thread and local-mode executor pools are
  *    stable after warmup, so the delta attributes the run's allocation
  *    to within thread-churn noise (threads that die mid-run undercount
  *    — fine for a ranking). Ends with one `alloc_probe` JSON line,
  *    queries sorted by allocated MB desc.
  *  - `--explain`: the formatted physical plan of each query; runs
  *    nothing.
  * The reps before the last are untimed warmups for `--jobs` and
  * `--alloc` (memoized artifacts, JIT, codegen: the Bench rule).
  */
object Profile {
  private final case class JobRow(id: Int, group: String, desc: String, stages: Int,
      tasks: Int, ms: Long)

  def main(args: Array[String]): Unit = {
    val (flags, rest) = args.toSeq.partition(_.startsWith("--"))
    val modes = Set("--jobs", "--alloc", "--explain")
    require(rest.nonEmpty && flags.size <= 1 && flags.forall(modes),
      "usage: Profile <q1,q2,...> [reps] [--jobs|--alloc|--explain]")
    val prefixes = rest.head.split(',').map(_.trim).filter(_.nonEmpty)
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => prefixes.exists(n.startsWith))
    require(names.nonEmpty, s"no registered query starts with any of ${rest.head}")
    val reps = rest.lift(1).fold(3)(_.toInt)
    require(reps >= 1, s"reps must be at least 1, got $reps")

    val sfDir = Session.sfDir
    val spark = Session.build()
    val runDir = Session.input(spark, sfDir)
    val pinned = spark.sparkContext.getPersistentRDDs.keySet.toSet
    def run(name: String): Unit =
      SparkEntry.queries(name)(spark, runDir)
        .write.format("noop").mode("overwrite").save()
    def timed(name: String): Double = {
      val t0 = System.nanoTime()
      run(name)
      val dt = (System.nanoTime() - t0) / 1e9
      Session.sweep(spark, pinned)
      dt
    }

    flags.headOption match {
      case Some("--explain") => names.foreach { n =>
        println(s"\n===== $n =====")
        SparkEntry.queries(n)(spark, runDir).explain("formatted")
      }
      case Some("--jobs") => jobs(spark, names, reps, timed)
      case Some("--alloc") => alloc(names, reps, sfDir, run,
        () => Session.sweep(spark, pinned))
      case _ => names.foreach { n =>
        (1 to reps).foreach(i => println(f"[qbench] $n rep $i: ${timed(n)}%.2f s"))
      }
    }
    spark.stop()
  }

  private def jobs(spark: SparkSession, names: Seq[String], reps: Int,
      timed: String => Double): Unit = {
    val rows = new ConcurrentLinkedQueue[JobRow]()
    // listener-bus thread only
    val starts = mutable.Map.empty[Int, (Long, String, String, Int)]
    val stageJob = mutable.Map.empty[Int, Int]
    val tasks = mutable.Map.empty[Int, Int].withDefaultValue(0)
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k)))
        val desc = prop("spark.job.description").orElse(prop("callSite.short")).getOrElse("")
        starts(e.jobId) = (e.time, prop("spark.jobGroup.id").getOrElse(""), desc,
          e.stageIds.length)
        e.stageIds.foreach(stageJob(_) = e.jobId)
      }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        stageJob.get(e.stageId).foreach(j => tasks(j) += 1)
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        starts.remove(e.jobId).foreach { case (t0, group, desc, nStages) =>
          rows.add(JobRow(e.jobId, group, desc, nStages, tasks.remove(e.jobId).getOrElse(0),
            e.time - t0))
        }
    })
    val sc = spark.sparkContext
    names.foreach { name =>
      (1 until reps).foreach(i => println(f"[jobprobe] $name rep $i: ${timed(name)}%.2f s"))
      val gid = s"profile-$name"
      // a null description keeps each job's own one in the table
      sc.setJobGroup(gid, null)
      val dt = try timed(name) finally sc.clearJobGroup()
      println(f"[jobprobe] $name rep $reps: $dt%.2f s")
      // job-end events reach this listener asynchronously: wait until it
      // has every job the status tracker counted in the group
      val nJobs = Session.jobsInGroup(spark, gid)
      def mine = rows.asScala.filter(_.group == gid).toSeq
      var tries = 0
      while (mine.size < nJobs && tries < 40) { Thread.sleep(25); tries += 1 }
      val table = mine.sortBy(_.id)
      println(f"[jobprobe] $name: ${table.length} jobs, ${table.map(_.ms).sum} ms total job time")
      table.foreach { r =>
        println(f"[jobprobe]   job ${r.id}%4d  ${r.ms}%6d ms  ${r.stages}%2d stages  " +
          f"${r.tasks}%4d tasks  ${r.desc.take(110)}")
      }
    }
  }

  private def alloc(names: Seq[String], reps: Int, sfDir: String,
      run: String => Unit, sweep: () => Unit): Unit = {
    val tmx = ManagementFactory.getThreadMXBean
      .asInstanceOf[com.sun.management.ThreadMXBean]
    tmx.setThreadAllocatedMemoryEnabled(true)
    def allocTotal(): Long = tmx.getThreadAllocatedBytes(tmx.getAllThreadIds).filter(_ > 0).sum
    def gcMs(): Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ > 0).sum

    val rows = names.map { n =>
      (1 until reps).foreach { _ =>
        try run(n) catch { case _: Throwable => () }
        sweep()
      }
      val a0 = allocTotal(); val g0 = gcMs()
      val t0 = System.nanoTime()
      val failed = try { run(n); false } catch { case _: Throwable => true }
      val dt = (System.nanoTime() - t0) / 1e9
      val mb = (allocTotal() - a0) / (1024.0 * 1024.0)
      val g = gcMs() - g0
      sweep()
      println(f"[alloc] $n%-28s ${mb / 1024}%7.2f GB  gc=${g}%4d ms  t=$dt%5.2f s" +
        (if (failed) "  **FAILED**" else ""))
      (n, mb, g, dt, failed)
    }
    val totalGb = rows.map(_._2).sum / 1024
    println(f"[alloc] TOTAL one pass: $totalGb%.1f GB allocated, " +
      s"${rows.map(_._3).sum} gc ms")
    val qs = rows.sortBy(-_._2).map { case (n, mb, g, t, f) =>
      "\"" + n + "\":{\"alloc_mb\":" + math.rint(mb) +
        ",\"gc_ms\":" + g + ",\"t\":" + math.rint(t * 100) / 100 +
        (if (f) ",\"err\":true" else "") + "}"
    }.mkString("{", ",", "}")
    println(s"""{"metric":"alloc_probe","sf":"$sfDir","total_alloc_gb":""" +
      f"$totalGb%.1f" + s""","queries":$qs}""")
  }
}
