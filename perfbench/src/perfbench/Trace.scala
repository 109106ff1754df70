package perfbench

import org.apache.spark.scheduler._
import scala.collection.mutable

/** One traced interval. Times are microseconds since the epoch, so the
  * benchmark's own spans and the listener's job/stage spans share a
  * clock. */
final case class SpanRec(id: Int, parent: Int, name: String,
    startUs: Long, endUs: Long, run: String)

/** In-memory span store, written out once at the end of a run. Spans
  * nest on the driver thread, which runs one Spark action at a time, so
  * a Spark job belongs to the innermost span whose interval holds its
  * start. */
final class Tracer(val run: String, var on: Boolean) {
  private val baseUs = System.currentTimeMillis() * 1000L
  private val baseNs = System.nanoTime()
  def nowUs: Long = baseUs + (System.nanoTime() - baseNs) / 1000L

  val spans = mutable.ArrayBuffer.empty[SpanRec]
  private var nextId = 1
  private var stack: List[Int] = Nil

  def span[A](name: String)(f: => A): A = if (!on) f else {
    val id = nextId; nextId += 1
    val parent = stack.headOption.getOrElse(0)
    stack = id :: stack
    val t0 = nowUs
    try f
    finally {
      spans += SpanRec(id, parent, name, t0, nowUs, run)
      stack = stack.tail
    }
  }

  /** The last closed span with this name. */
  def last(name: String): Option[SpanRec] = spans.reverseIterator.find(_.name == name)

  /** Adds the listener's jobs and stages as spans under the benchmark
    * span that launched them: the innermost one open at the job's start. */
  def addSparkSpans(l: TaskListener): Unit = l.synchronized {
    val bench = spans.toVector
    def enclosing(us: Long): Int = bench
      .filter(s => s.startUs <= us && us <= s.endUs)
      .minByOption(s => s.endUs - s.startUs).map(_.id).getOrElse(0)
    for (j <- l.jobs.values if j.endMs >= 0) {
      val jobId = nextId; nextId += 1
      val s = SpanRec(jobId, enclosing(j.startMs * 1000L), s"spark.job.${j.id}",
        j.startMs * 1000L, j.endMs * 1000L, run)
      spans += s
      for (st <- j.stages; r <- l.stages.get(st) if r.submitMs >= 0) {
        spans += SpanRec(nextId, jobId, s"spark.stage.${r.id}",
          r.submitMs * 1000L, r.completeMs * 1000L, run)
        nextId += 1
      }
    }
  }

  /** Per-stage totals of the listener's tasks. */
  def stageSummary(l: TaskListener): Seq[String] = l.synchronized {
    val jobOf = l.jobs.values.flatMap(j => j.stages.map(_ -> j.id)).toMap
    l.tasks.groupBy(_.stage).toSeq.sortBy(_._1).map { case (st, ts) =>
      s"""{"stage":$st,"job":${jobOf.getOrElse(st, -1)},"tasks":${ts.size},""" +
        s""""run_ms":${ts.map(_.runMs).sum},"cpu_ms":${ts.map(_.cpuNs).sum / 1000000L},""" +
        s""""gc_ms":${ts.map(_.gcMs).sum},"shuffle_write_bytes":${ts.map(_.shuffleWrite).sum},""" +
        s""""spill_bytes":${ts.map(_.spill).sum},"output_bytes":${ts.map(_.outputBytes).sum}}"""
    }
  }

  def json(counts: Iterable[(String, Double)], stages: Seq[String]): String = {
    val ss = spans.sortBy(_.startUs).map { s =>
      s"""{"id":${s.id},"parent":${s.parent},"name":${Json.str(s.name)},""" +
        s""""start_us":${s.startUs},"end_us":${s.endUs},"run":${Json.str(s.run)}}"""
    }
    val cs = counts.map { case (k, v) => s"${Json.str(k)}:${Json.num(v)}" }
    s"""{"run":${Json.str(run)},"spans":[\n${ss.mkString(",\n")}\n],""" +
      s""""stages":[\n${stages.mkString(",\n")}\n],"counts":{${cs.mkString(",")}}}"""
  }
}

final case class TaskRec(stage: Int, launchMs: Long, finishMs: Long,
    cpuNs: Long, runMs: Long, gcMs: Long, shuffleWrite: Long, spill: Long,
    outputBytes: Long)
final case class StageRec(id: Int, submitMs: Long, completeMs: Long)
final case class JobRec(id: Int, stages: Seq[Int], startMs: Long, var endMs: Long = -1L)

/** Task, stage and job metrics of the Spark scheduler. The end-to-end
  * run uses only the executor-CPU and failure totals; a traced run
  * also keeps every record for the per-layer analysis. */
final class TaskListener(detailed: Boolean) extends SparkListener {
  @volatile var cpuNs = 0L
  @volatile var failedTasks = 0L
  val tasks = mutable.ArrayBuffer.empty[TaskRec]
  val stages = mutable.HashMap.empty[Int, StageRec]
  val jobs = mutable.LinkedHashMap.empty[Int, JobRec]

  /** Call only after PerfbenchBus.drain. */
  def reset(): Unit = synchronized {
    cpuNs = 0L; failedTasks = 0L
    tasks.clear(); stages.clear(); jobs.clear()
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    if (e.reason != org.apache.spark.Success) failedTasks += 1
    val m = e.taskMetrics
    if (m != null) {
      cpuNs += m.executorCpuTime
      if (detailed) tasks += TaskRec(e.stageId, e.taskInfo.launchTime,
        e.taskInfo.finishTime, m.executorCpuTime, m.executorRunTime,
        m.jvmGCTime, m.shuffleWriteMetrics.bytesWritten,
        m.memoryBytesSpilled + m.diskBytesSpilled, m.outputMetrics.bytesWritten)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    if (detailed) synchronized {
      val i = e.stageInfo
      stages(i.stageId) = StageRec(i.stageId, i.submissionTime.getOrElse(-1L),
        i.completionTime.getOrElse(-1L))
    }

  override def onJobStart(e: SparkListenerJobStart): Unit =
    if (detailed) synchronized {
      jobs(e.jobId) = JobRec(e.jobId, e.stageIds, e.time)
    }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    if (detailed) synchronized {
      jobs.get(e.jobId).foreach(_.endMs = e.time)
    }
}
