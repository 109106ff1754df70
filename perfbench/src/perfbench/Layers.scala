package perfbench

/** Per-layer figures of the Spark side (graft.pipeline, graft.train),
  * derived from a detailed TaskListener and the benchmark span that
  * launched the jobs. */
object Layers {

  private def jobsIn(l: TaskListener, s: SpanRec): Seq[JobRec] = l.synchronized {
    val a = s.startUs / 1000L
    val b = (s.endUs + 999L) / 1000L
    l.jobs.values.filter(j => j.startMs >= a && j.startMs <= b).toSeq.sortBy(_.startMs)
  }

  private def tasksOf(l: TaskListener, jobs: Seq[JobRec]): Seq[TaskRec] =
    l.synchronized {
      val st = jobs.flatMap(_.stages).toSet
      l.tasks.filter(t => st.contains(t.stage)).toSeq
    }

  /** Wall seconds covered by the union of the jobs' intervals. */
  private def unionS(jobs: Seq[JobRec]): Double = {
    var total = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    for (j <- jobs.sortBy(_.startMs)) {
      if (j.startMs > curB) {
        if (curB > curA) total += curB - curA
        curA = j.startMs; curB = j.endMs
      } else curB = math.max(curB, j.endMs)
    }
    if (curB > curA) total += curB - curA
    total / 1000.0
  }

  /** The map stage is the stage of the span's jobs that spent the most
    * executor CPU without writing output: the correction `mapPartitions`
    * (the parquet write of a `TableIO` table reads it from the cache). */
  def pipeline(l: TaskListener, s: SpanRec, cores: Int): Seq[(String, Double)] = {
    val tasks = tasksOf(l, jobsIn(l, s))
    val byStage = tasks.groupBy(_.stage).filter(_._2.forall(_.outputBytes == 0))
    if (byStage.isEmpty) return Nil
    val (mapStage, mt) = byStage.maxBy(_._2.map(_.cpuNs).sum)
    val st = l.synchronized(l.stages.get(mapStage))
    val mapS = st.fold(Double.NaN)(r => (r.completeMs - r.submitMs) / 1000.0)
    val cpuS = mt.map(_.cpuNs).sum / 1e9
    val durs = mt.map(t => (t.finishMs - t.launchMs).toDouble)
    Seq(
      "pipeline.map_stage_s" -> mapS,
      "pipeline.map_cpu_s" -> cpuS,
      "pipeline.map_gc_s" -> mt.map(_.gcMs).sum / 1000.0,
      "pipeline.task_skew" -> durs.max / math.max(Stats.median(durs), 1.0),
      "pipeline.cpu_util" -> cpuS / (mapS * cores),
      "pipeline.shuffle_write_bytes" -> tasks.map(_.shuffleWrite).sum.toDouble,
      "pipeline.spill_bytes" -> tasks.map(_.spill).sum.toDouble)
  }

  /** `TableIO.writeDocs` split at its parquet write jobs (the jobs whose
    * tasks wrote output): the write itself, then the lineage-stats pass
    * (the jobs after the last write) and the manifest/snapshot publish
    * after that. */
  def writeTail(l: TaskListener, write: SpanRec): Seq[(String, Double)] = {
    val jobs = jobsIn(l, write)
    val writers = jobs.filter(j => tasksOf(l, Seq(j)).exists(_.outputBytes > 0))
    if (writers.isEmpty) return Nil
    val writeEnd = writers.map(_.endMs).max
    val stats = jobs.filter(_.startMs >= writeEnd)
    val statsEnd = if (stats.isEmpty) writeEnd else stats.map(_.endMs).max
    Seq(
      "pipeline.write_s" -> unionS(writers),
      "pipeline.stats_pass_s" -> (if (stats.isEmpty) 0.0 else unionS(stats)),
      "pipeline.commit_s" -> (write.endUs / 1000.0 - statsEnd) / 1000.0)
  }

  /** Spark jobs inside `CompiledModel.trainSpark` versus the driver-side
    * FST compile around them. */
  def train(l: TaskListener, s: SpanRec): Seq[(String, Double)] = {
    val jobs = jobsIn(l, s)
    val jobS = unionS(jobs)
    Seq(
      "train.count_job_s" -> jobS,
      "train.shuffle_bytes" -> tasksOf(l, jobs).map(_.shuffleWrite).sum.toDouble,
      "train.compile_s" -> ((s.endUs - s.startUs) / 1e6 - jobS))
  }
}
