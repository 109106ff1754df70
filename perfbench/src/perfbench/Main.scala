package perfbench

import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.SparkSession
import scala.collection.mutable

final case class Args(workload: String, seed: Long, seconds: Int,
    trace: Boolean, work: String, out: String)

/** Everything a workload needs: the session, the listeners, the tracer
  * and the run's tallies. */
final class Ctx(val spark: SparkSession, val args: Args) {
  val sc = spark.sparkContext
  val cores: Int = sc.defaultParallelism
  /** Always on: executor CPU and failed tasks of every job. */
  val basic = new TaskListener(detailed = false)
  /** Traced phases only: every task, stage and job. */
  val detail = new TaskListener(detailed = true)
  val tracer = new Tracer(s"${args.workload}-${args.seed}-t${if (args.trace) 1 else 0}", on = false)
  sc.addSparkListener(basic)

  var attempted = 0L
  var failed = 0L
  val notes = mutable.ArrayBuffer.empty[String]
  /** Extra run-record fields (noise evidence, digests, sizes). */
  val record = mutable.LinkedHashMap.empty[String, String]

  def drain(): Unit = PerfbenchBus.drain(sc)
  def fail(lines: Long, why: String): Unit = {
    failed += lines
    notes += why
    System.err.println(s"[perfbench] check failed: $why")
  }
  def check(ok: Boolean, lines: Long, why: => String): Unit =
    if (!ok) fail(lines, why)

  /** Runs `f` traced (spans plus the detailed listener) when this is a
    * traced run and `traced` is set; untraced otherwise. */
  def phase[A](traced: Boolean)(f: => A): A = {
    val on = args.trace && traced
    drain()
    if (on) { sc.addSparkListener(detail); tracer.on = true }
    try f
    finally if (on) { drain(); sc.removeSparkListener(detail); tracer.on = false }
  }
}

/** One timed job's figures: wall time, lines processed, executor CPU
  * seconds and the share of all CPU time the hypervisor stole meanwhile. */
final case class JobOut(wallS: Double, lines: Long,
    cpuS: Double = Double.NaN, steal: Double = 0.0)


/** A workload: a set-up that can be repeated, a timed job, and the
  * output checks and per-layer replays that follow the timed phase. */
trait Workload {
  /** One complete set-up. */
  def setup(i: Int): Unit
  /** One timed job on a fresh model instance. */
  def job(k: Int): JobOut
  /** Traced runs: per-layer figures of the traced job `k`. */
  def jobLayers(k: Int): Seq[(String, Double)]
  /** Output checks after the timed phase; returns cer_cor. */
  def finish(): Double
  /** Traced runs: one-thread per-layer replays and set-up figures. */
  def replay(): Seq[(String, Double)]
  /** The last timed job's model instance. */
  def liveModel: Option[graft.correct.CompiledModel]
  def cleanup(): Unit
}

object Main {
  val SetupReps = 3
  val MinReps = 5
  val MaxReps = 40

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") == "1", need("work"), need("out"))
  }

  def session(work: String): SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("perfbench")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.shuffle.partitions", "16")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      // bounded status history, so the retained heap does not grow with
      // the number of jobs a run fits into its seconds
      .config("spark.ui.retainedJobs", "20")
      .config("spark.ui.retainedStages", "20")
      .config("spark.sql.ui.retainedExecutions", "5")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private def heapUsedMb(): Double = {
    val xs = (0 until 3).map { _ =>
      System.gc()
      java.lang.management.ManagementFactory.getMemoryMXBean
        .getHeapMemoryUsage.getUsed / 1048576.0
    }
    xs.min
  }

  private def gcSeconds(): Double = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).sum / 1000.0
  }

  /** Stolen share of the busy CPU time between two readings: the share
    * of the time a CPU had work to run that the hypervisor gave to other
    * tenants. 0 when /proc/stat is not readable. */
  private def stealShare(a: Option[(Long, Long)], b: Option[(Long, Long)]): Double =
    (for ((s0, t0) <- a; (s1, t1) <- b) yield (s1 - s0).toDouble / math.max(t1 - t0, 1L))
      .getOrElse(0.0)

  /** (steal, busy) jiffies of all CPUs, when /proc/stat is readable.
    * Busy is user, nice, system, irq, softirq and steal: all but idle
    * and iowait. */
  private def stealJiffies(): Option[(Long, Long)] =
    scala.util.Try {
      val src = scala.io.Source.fromFile("/proc/stat")
      val f = try src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong)
      finally src.close()
      (f(7), f(0) + f(1) + f(2) + f(5) + f(6) + f(7))
    }.toOption

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    val load1 = java.lang.management.ManagementFactory
      .getOperatingSystemMXBean.getSystemLoadAverage
    val (spark, sessionS) = Stats.time(session(args.work))
    val ctx = new Ctx(spark, args)
    val wl: Workload = args.workload match {
      case "correct_zipf"  => new CorrectZipf(ctx)
      case "correct_novel" => new CorrectNovel(ctx)
      case other           => sys.error(s"unknown workload $other")
    }
    val r = ctx.record
    r("workload") = Json.str(args.workload)
    r("seed") = args.seed.toString
    r("trace") = args.trace.toString
    r("cores") = ctx.cores.toString
    r("load_avg_1m_at_start") = Json.num(load1)
    r("session_start_s") = Json.num(sessionS)

    // set-up, repeated; the last one's inputs and model are used
    val setups = (0 until SetupReps).map { i =>
      ctx.phase(traced = i == SetupReps - 1) {
        ctx.tracer.span(s"setup.$i") { Stats.time(wl.setup(i))._2 }
      }
    }
    val setupS = sessionS + Stats.median(setups)
    r("setup_reps_s") = setups.map(Json.num).mkString("[", ",", "]")

    // timed phase: jobs until --seconds have passed; in a traced run every
    // other job is traced, and the untraced ones give the overhead
    val gc0 = gcSeconds()
    val steal0 = stealJiffies()
    val t0 = System.nanoTime()
    val jobs = mutable.ArrayBuffer.empty[(JobOut, Boolean)]
    val jobLayers = mutable.ArrayBuffer.empty[(String, Double)]
    while ((jobs.size < MinReps + (if (args.trace) 1 else 0) ||
        (System.nanoTime() - t0) / 1e9 < args.seconds) && jobs.size < MaxReps) {
      val k = jobs.size
      val traced = args.trace && k % 2 == 0
      ctx.drain(); ctx.basic.reset()
      val j0 = stealJiffies()
      val out = ctx.phase(traced)(ctx.tracer.span(s"job.$k")(wl.job(k)))
      ctx.drain()
      val jobSteal = stealShare(j0, stealJiffies())
      if (traced) jobLayers ++= wl.jobLayers(k)
      ctx.check(ctx.basic.failedTasks == 0, out.lines,
        s"job $k had ${ctx.basic.failedTasks} failed tasks")
      jobs += ((out.copy(cpuS = ctx.basic.cpuNs / 1e9, steal = jobSteal), traced))
      ctx.attempted += out.lines
    }
    val timedS = (System.nanoTime() - t0) / 1e9
    val gcS = gcSeconds() - gc0
    val steal = stealShare(steal0, stealJiffies())
    // the window caches of dead model instances leave the JVM-wide weak
    // map only on its next access after the GC that clears their keys
    System.gc()
    wl.liveModel.foreach(graft.correct.SharedWindowCache.forModel)
    val retainedMb = heapUsedMb()

    val untraced = jobs.filterNot(_._2).map(_._1)
    val e2eJobs = if (untraced.nonEmpty) untraced else jobs.map(_._1)
    val jobS = Stats.median(e2eJobs.map(_.wallS))
    val lines = e2eJobs.head.lines
    val cpuS = Stats.median(e2eJobs.map(_.cpuS))
    r("jobs") = jobs.size.toString
    r("job_s_each") = jobs.map(j => Json.num(j._1.wallS)).mkString("[", ",", "]")
    r("timed_phase_s") = Json.num(timedS)
    r("gc_s_timed_phase") = Json.num(gcS)
    r("cpu_util") = Json.num(jobs.map(_._1.cpuS).sum / (timedS * ctx.cores))
    r("cpu_steal_share") = Json.num(steal)
    r("job_steal_each") = jobs.map(j => Json.num(j._1.steal)).mkString("[", ",", "]")

    val (cerCor, finishS) = Stats.time(wl.finish())
    r("finish_s") = Json.num(finishS)
    val perLayer = if (!args.trace) Nil else {
      val traced = jobs.filter(_._2).map(_._1)
      val fromJobs = jobLayers.groupBy(_._1).toSeq
        .map { case (k, v) => k -> Stats.median(v.map(_._2)) }
      val overhead = Stats.median(traced.map(_.wallS)) - jobS
      fromJobs ++ ctx.phase(traced = true)(wl.replay()) :+ ("trace.overhead_s" -> overhead)
    }
    wl.cleanup()

    val e2e = Seq(
      ("setup_s", setupS, "s"),
      ("job_s_steal_adj", Stats.median(e2eJobs.map(j => j.wallS * (1.0 - j.steal))), "s"),
      ("cpu_s_per_kline", cpuS / lines * 1000.0, "s"),
      ("retained_heap_mb", retainedMb, "MB"),
      ("cer_cor", cerCor, "ratio"))
    // raw wall-clock figures: in the record of every run, not bounded,
    // because CPU steal from co-tenants moves them more than any allowed
    // bound; job_s_steal_adj is the bounded one (README.md)
    val wall = Seq(("job_s", jobS, "s"), ("lines_per_s", lines / jobS, "1/s"))
    r("wall_metrics") = Json.obj(wall.map { case (k, v, u) => k -> metric(v, u) })
    r("failed_frac") = Json.num(ctx.failed.toDouble / math.max(ctx.attempted, 1L))
    r("notes") = ctx.notes.map(Json.str).mkString("[", ",", "]")

    val metrics: Seq[(String, String)] =
      if (!args.trace) e2e.map { case (k, v, u) => k -> metric(v, u) }
      else PerLayer.units.map { case (k, u) =>
        k -> metric(perLayer.collectFirst { case (`k`, v) => v }.getOrElse(0.0), u)
      }
    r("metrics") = Json.obj(metrics)
    val record = Json.obj(r)
    writeFile(s"${args.out}/record-${ctx.tracer.run}.json", record + "\n")
    if (args.trace) {
      ctx.tracer.addSparkSpans(ctx.detail)
      writeFile(s"${args.out}/trace-${ctx.tracer.run}.json",
        ctx.tracer.json(perLayer, ctx.tracer.stageSummary(ctx.detail)) + "\n")
    }
    println("# record " + record)
    spark.stop()

    val correct = ctx.failed == 0 && ctx.notes.isEmpty && ctx.attempted > 0
    println(Json.obj(Seq(
      "correct" -> correct.toString,
      "attempted" -> math.max(ctx.attempted, 1L).toString,
      "failed" -> ctx.failed.toString,
      "metrics" -> Json.obj(metrics))))
  }

  private def metric(v: Double, unit: String): String =
    Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(unit)))

  private def writeFile(path: String, s: String): Unit = {
    val f = new java.io.File(path)
    f.getParentFile.mkdirs()
    java.nio.file.Files.write(f.toPath, s.getBytes("UTF-8"))
  }
}

/** Names and units of the per-layer metrics, in report order. */
object PerLayer {
  val units: Seq[(String, String)] = Seq(
    "pipeline.map_stage_s" -> "s", "pipeline.map_cpu_s" -> "s",
    "pipeline.map_gc_s" -> "s", "pipeline.task_skew" -> "ratio",
    "pipeline.cpu_util" -> "ratio", "pipeline.shuffle_write_bytes" -> "bytes",
    "pipeline.spill_bytes" -> "bytes", "pipeline.write_s" -> "s",
    "pipeline.stats_pass_s" -> "s",
    "pipeline.commit_s" -> "s",
    "correct.hit_ratio" -> "ratio", "correct.window_hits" -> "count",
    "correct.window_misses" -> "count", "correct.hit_us_p50" -> "us",
    "correct.miss_us_p50" -> "us", "correct.miss_us_p99" -> "us",
    "correct.windows_per_line" -> "count", "correct.alts_per_window" -> "count",
    "correct.viterbi_us_per_line" -> "us", "correct.line_us_p50" -> "us",
    "correct.line_us_p99" -> "us",
    "wfst.windows_replayed" -> "count", "wfst.error_compose_us" -> "us",
    "wfst.error_states" -> "count", "wfst.rmeps_us" -> "us",
    "wfst.lexicon_compose_us" -> "us", "wfst.lexicon_states" -> "count",
    "wfst.enumerate_us" -> "us", "wfst.eps_retries" -> "count",
    "wfst.error_compose_share" -> "ratio", "wfst.replay_mismatches" -> "count",
    "tokenize.us_per_line" -> "us",
    "train.count_job_s" -> "s", "train.shuffle_bytes" -> "bytes",
    "train.compile_s" -> "s", "train.error_fst_states" -> "count",
    "train.error_fst_arcs" -> "count", "train.window_fst_states" -> "count",
    "train.model_bytes" -> "bytes", "train.emit_us_per_pair" -> "us",
    "align.us_per_pair" -> "us",
    "trace.overhead_s" -> "s")
}
