package perfbench

import graft.align.Distance
import graft.correct.{CompiledModel, Corrector, SharedWindowCache}
import graft.pipeline.{CorrectionJob, Doc, Metrics, TableIO}
import graft.tokenize.Tokenizer
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.storage.StorageLevel

/** Spark-side pieces shared by the workloads. Kept in an object so the
  * task closures capture only their arguments. */
object Jobs {
  val Stream = Map("docs" -> 1L, "modelPairs" -> 2L, "heldOut" -> 4L)
  /** Warm-up inputs come from this seed offset: disjoint from the run's. */
  val WarmSalt = 0x7761726dL
  /** Seed of the inputs that do not vary with --seed: the correction
    * model's training pairs (the production model is fixed; the seed
    * draws the documents) and the held-out lines. */
  val FixedSeed = 0x6d6f64656cL
  val HeldOutLines = 200
  /** Digest of the held-out lines as corrected by the model when this
    * benchmark was defined. Corrections are deterministic and must not
    * move: a program change that alters any of them fails the run. */
  val HeldOutDigest = "8b4769b6fbcd7ce1"

  def serialize(m: CompiledModel): Array[Byte] = {
    val bo = new java.io.ByteArrayOutputStream()
    val oo = new java.io.ObjectOutputStream(bo)
    oo.writeObject(m); oo.close()
    bo.toByteArray
  }

  /** A new model instance, so the JVM-wide window cache, keyed per
    * instance, starts empty for it. */
  def fresh(bytes: Array[Byte]): CompiledModel = {
    val oi = new java.io.ObjectInputStream(new java.io.ByteArrayInputStream(bytes))
    try oi.readObject().asInstanceOf[CompiledModel] finally oi.close()
  }

  /** True when the shared window cache of `m` is empty of everything but
    * the probe key, i.e. this instance has never been used. */
  def cacheIsCold(m: CompiledModel): Boolean = {
    var computed = false
    SharedWindowCache.forModel(m).getOrCompute("\u0001perfbench-probe") {
      computed = true; Nil
    }
    computed
  }

  /** Character error rate of (text, GT) pairs: summed Levenshtein
    * distance over summed GT length in code points. */
  def cer(pairs: Iterable[(String, String)]): Double =
    pairs.iterator.map { case (t, gt) => Distance.levenshtein(t, gt).toLong }.sum.toDouble /
      math.max(pairs.iterator.map { case (_, gt) => gt.codePointCount(0, gt.length).toLong }.sum, 1L)

  def modelShape(m: CompiledModel): Seq[(String, Double)] = Seq(
    "train.error_fst_states" -> m.errorFst.fold(0)(_.numStates).toDouble,
    "train.error_fst_arcs" -> m.errorFst.fold(0)(_.numArcs).toDouble,
    "train.window_fst_states" -> m.windowFst.numStates.toDouble)

  def docsDigest(docs: Iterable[Doc]): String =
    Digest.hex(docs.toSeq.sortBy(_.doc_id).iterator.flatMap { d =>
      Iterator(d.doc_id) ++ d.spans.iterator.map(s => s"${s.kind}|${s.offset}|${s.media_ref}|${s.text}")
    })

  def windowCounts(lines: Iterable[String], maxWindow: Int): (Long, Long) = {
    val all = lines.iterator.flatMap { l =>
      val t = Tokenizer.splitInputString(l)
      for (i <- t.indices.iterator; j <- 1 to math.min(maxWindow, t.length - i))
        yield t.slice(i, i + j).mkString(" ")
    }.toVector
    (all.size.toLong, all.distinct.size.toLong)
  }
}

/** The two correction workloads: set-up trains the model on generated
  * pairs and prepares the input; the timed job is `correctDocs` on a
  * fresh model instance. */
abstract class CorrectBase(ctx: Ctx) extends Workload {
  import ctx.spark.implicits._
  protected val spark: SparkSession = ctx.spark
  protected val seed: Long = ctx.args.seed
  protected def params: GenParams
  protected def textLines: Int
  /** Lines of the one-thread replays. */
  protected def sampleLines: Int
  /** Lines checked against single-thread, uncached `correctLine`. */
  protected def checkLines: Int
  /** Make `docs` the timed job's input. */
  protected def prepareInput(docs: Seq[Doc]): Unit
  /** The timed job on the current input; `k` < 0 is the warm-up. */
  protected def runJob(bc: Broadcast[CompiledModel], m: Metrics, k: Int): Unit
  /** The corrected docs of job `k` (re-read or recomputed for the check). */
  protected def output(k: Int): Map[String, Doc]
  protected def jobsToCheck: Seq[Int]

  /** The model both correction workloads share: trained on pairs from
    * the Zipf-line generator. */
  protected val setupTrainPairs = 500L
  protected val salt: Int = ctx.cores * 4
  protected var docs: IndexedSeq[Doc] = IndexedSeq.empty
  protected var gts: Map[(String, Int), String] = Map.empty
  protected var modelPairs: IndexedSeq[(String, String)] = IndexedSeq.empty
  protected var modelBytes: Array[Byte] = Array.empty
  protected var lastBc: Option[Broadcast[CompiledModel]] = None
  protected var nLines = 0L

  protected def work(name: String): String = s"${ctx.args.work}/$name"
  protected def deleteTree(path: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(ctx.sc.hadoopConfiguration).delete(p, true)
  }

  def setup(i: Int): Unit = {
    modelPairs = new Gen(GenParams(), Jobs.FixedSeed)
      .pairs(setupTrainPairs.toInt, Jobs.Stream("modelPairs"))
    val model = ctx.tracer.span("train.trainSpark")(CompiledModel.trainSpark(spark, modelPairs.toDS()))
    modelBytes = Jobs.serialize(model)
    // JIT warm-up: the timed job on disjoint-seed docs of the same shape,
    // with its own model instance
    ctx.tracer.span("setup.warmup") {
      prepareInput(new Gen(params, seed ^ Jobs.WarmSalt).docs(textLines, Jobs.Stream("docs"))._1)
      val bc = CorrectionJob.broadcastModel(spark, Jobs.fresh(modelBytes))
      runJob(bc, Metrics(spark), -1)
      bc.destroy()
    }
    val (d, g) = new Gen(params, seed).docs(textLines, Jobs.Stream("docs"))
    docs = d; gts = g
    nLines = docs.map(_.spans.count(_.kind == "text")).sum.toLong
    ctx.tracer.span("setup.input")(prepareInput(docs))
  }

  def job(k: Int): JobOut = {
    val m = Jobs.fresh(modelBytes)
    ctx.check(Jobs.cacheIsCold(m), nLines, s"job $k: window cache hot at start")
    val metrics = Metrics(spark)
    val t0 = System.nanoTime()
    val bc = CorrectionJob.broadcastModel(spark, m)
    runJob(bc, metrics, k)
    val wall = (System.nanoTime() - t0) / 1e9
    ctx.check(metrics.textSpans.value == nLines, nLines,
      s"job $k corrected ${metrics.textSpans.value} of $nLines lines")
    lastBc.foreach(_.destroy())
    lastBc = Some(bc)
    JobOut(wall, nLines)
  }

  def jobLayers(k: Int): Seq[(String, Double)] = {
    val xs = ctx.tracer.last(s"job.$k").toSeq.flatMap(Layers.pipeline(ctx.detail, _, ctx.cores))
    ctx.check(xs.nonEmpty, nLines, s"traced job $k: no map stage found")
    xs
  }

  /** Span order, kinds, media spans and line count preserved. Returns the
    * number of lines that break it. */
  private def structureErrors(out: Map[String, Doc]): Long =
    docs.map { d =>
      out.get(d.doc_id) match {
        case None => d.spans.count(_.kind == "text").toLong
        case Some(o) if o.spans.size != d.spans.size => d.spans.count(_.kind == "text").toLong
        case Some(o) =>
          d.spans.zip(o.spans).count { case (a, b) =>
            a.kind != b.kind || a.offset != b.offset || a.media_ref != b.media_ref ||
              (a.kind != "text" && a.text != b.text)
          }.toLong
      }
    }.sum

  private def textOf(out: Map[String, Doc]): Seq[((String, Int), String)] =
    out.values.toSeq.flatMap(d => d.spans.filter(_.kind == "text").map(s => (d.doc_id, s.offset) -> s.text))

  /** The fixed line sample of the checks and replays: the first text
    * spans in doc order. */
  protected def sample: Seq[((String, Int), String)] =
    docs.iterator.flatMap(d => d.spans.iterator.filter(_.kind == "text")
      .map(s => (d.doc_id, s.offset) -> s.text)).take(sampleLines).toSeq

  private var firstOut: Map[(String, Int), String] = Map.empty

  def finish(): Double = {
    val outs = jobsToCheck.map(k => k -> output(k))
    val (k0, out0) = outs.head
    firstOut = textOf(out0).toMap
    for ((k, out) <- outs) {
      ctx.check(structureErrors(out) == 0, structureErrors(out),
        s"job $k: span order, kinds or media spans changed")
      val diff = textOf(out).count { case (key, t) => firstOut.get(key).forall(_ != t) }
      ctx.check(diff == 0, diff, s"job $k output differs from job $k0 on $diff lines")
    }
    ctx.record("output_digest") = Json.str(Jobs.docsDigest(out0.values))
    for ((k, v) <- Jobs.modelShape(Jobs.fresh(modelBytes))) ctx.record(k) = Json.num(v)
    // partition and cache independence: single thread, no cache
    val ref = Jobs.fresh(modelBytes)
    val bad = sample.take(checkLines).count { case (key, ocr) =>
      firstOut.get(key).forall(_ != Corrector.correctLine(ocr, ref, null))
    }
    ctx.check(bad == 0, bad, s"$bad sampled lines differ from single-thread correctLine")
    // corrections must not move: the fixed held-out lines give the
    // digest recorded when the benchmark was defined
    val heldOut = new Gen(GenParams(), Jobs.FixedSeed)
      .pairs(Jobs.HeldOutLines, Jobs.Stream("heldOut"))
    val heldCors = heldOut.map { case (ocr, _) => Corrector.correctLine(ocr, ref, null) }
    val heldDigest = Digest.hex(heldCors.iterator)
    ctx.record("heldout_digest") = Json.str(heldDigest)
    ctx.record("heldout_cer_cor") = Json.num(Jobs.cer(heldCors.zip(heldOut.map(_._2))))
    ctx.check(heldDigest == Jobs.HeldOutDigest, heldOut.size,
      s"held-out corrections changed: digest $heldDigest, expected ${Jobs.HeldOutDigest}")

    val (lookups, distinct) = Jobs.windowCounts(docs.flatMap(_.spans.filter(_.kind == "text").map(_.text)), 2)
    ctx.record("window_lookups_per_job") = lookups.toString
    ctx.record("window_misses_per_job_cold") = distinct.toString

    val triples = docs.flatMap(d => d.spans.filter(_.kind == "text").map { s =>
      val key = (d.doc_id, s.offset)
      (s.text, firstOut.getOrElse(key, ""), gts(key))
    })
    ctx.record("cer_ocr") = Json.num(Jobs.cer(triples.map(t => (t._1, t._3))))
    // training is deterministic: the set-up's model comes out again
    val again = CompiledModel.trainSpark(spark, modelPairs.toDS())
    ctx.check(java.util.Arrays.equals(Jobs.serialize(again), modelBytes),
      setupTrainPairs, "retrained model differs from the set-up's")
    Jobs.cer(triples.map(t => (t._2, t._3)))
  }

  def replay(): Seq[(String, Double)] = {
    val lines = sample
    val model = Jobs.fresh(modelBytes)
    val (correct, cors, missed) = ctx.tracer.span("replay.correct")(Replay.correct(lines.map(_._2), model))
    val bad = lines.zip(cors).count { case ((key, _), c) => firstOut.get(key).forall(_ != c) }
    ctx.check(bad == 0, bad, s"$bad replayed lines differ from the Spark output")
    val (wfst, mismatches) = ctx.tracer.span("replay.wfst")(Replay.wfst(missed.take(400), model))
    ctx.check(mismatches == 0, mismatches, s"$mismatches replayed windows differ from processWindow")
    val triples = lines.zip(cors).map { case ((key, ocr), c) => (ocr, c, gts(key)) }
    val train = ctx.tracer.last("train.trainSpark").toSeq.flatMap(Layers.train(ctx.detail, _))
    correct ++ wfst ++ train ++
      ctx.tracer.span("replay.tokenize")(Replay.tokenize(lines.map(_._2))) ++
      ctx.tracer.span("replay.emit")(Replay.emit(modelPairs.take(300))) ++
      ctx.tracer.span("replay.align")(Replay.align(triples)) ++
      Jobs.modelShape(model) :+ ("train.model_bytes" -> modelBytes.length.toDouble)
  }

  def liveModel: Option[CompiledModel] = lastBc.map(_.value)

  def cleanup(): Unit = lastBc.foreach(_.destroy())
}

/** Production batch job: TableIO table in, salted correctDocs, TableIO
  * table out. Most windows repeat, so the window cache, map-stage skew
  * and the commit dominate; the cascade runs only on the miss tail. */
final class CorrectZipf(ctx: Ctx) extends CorrectBase(ctx) {
  protected val params = GenParams()
  protected val textLines = 2600
  protected val sampleLines = 600
  protected val checkLines = 60
  /** Table buckets: 16 salted partitions x 8 buckets = 128 data files. */
  private val Buckets = 8
  private val jobs = scala.collection.mutable.ArrayBuffer.empty[Int]

  protected def prepareInput(docs: Seq[Doc]): Unit = {
    import ctx.spark.implicits._
    deleteTree(work("in"))
    TableIO.writeDocs(docs.toDS(), work("in"), buckets = Buckets)
  }

  /** Writes a fresh table `out-k`. */
  protected def runJob(bc: Broadcast[CompiledModel], m: Metrics, k: Int): Unit = {
    deleteTree(work(s"out-$k"))
    val in = ctx.tracer.span("pipeline.readDocs")(TableIO.readDocs(spark, work("in")))
    val out = CorrectionJob.correctDocs(in, bc, Some(m), saltPartitions = Some(salt))
    ctx.tracer.span("pipeline.writeDocs") {
      TableIO.writeDocs(out, work(s"out-$k"), buckets = Buckets, metrics = Some(m))
    }
    if (k >= 0) jobs += k
  }

  /** The first and the last job's tables. */
  protected def jobsToCheck: Seq[Int] = Seq(jobs.head, jobs.last).distinct

  protected def output(k: Int): Map[String, Doc] =
    TableIO.readDocs(spark, work(s"out-$k")).collect().map(d => d.doc_id -> d).toMap

  override def jobLayers(k: Int): Seq[(String, Double)] = {
    val tail = ctx.tracer.last("pipeline.writeDocs").toSeq.flatMap(Layers.writeTail(ctx.detail, _))
    ctx.check(tail.nonEmpty, nLines, s"traced job $k: no parquet write job found")
    super.jobLayers(k) ++ tail
  }
}

/** Novel-token lines, text-only docs of uniform length, output drained
  * without a write: nearly every window misses the cache, so the
  * per-window FST cascade dominates and the commit is bypassed. */
final class CorrectNovel(ctx: Ctx) extends CorrectBase(ctx) {
  protected val params = GenParams(novelShare = 0.8, tokensMin = 8, tokensMax = 8,
    mediaShare = 0.0, megaDocShare = 0.0, docLenS = 0.0, docLenMax = 6)
  protected val textLines = 1500
  protected val sampleLines = 100
  protected val checkLines = 40
  private var input: Option[Dataset[Doc]] = None

  protected def prepareInput(docs: Seq[Doc]): Unit = {
    import ctx.spark.implicits._
    input.foreach(_.unpersist(blocking = true))
    val ds = docs.toDS().persist(StorageLevel.MEMORY_ONLY)
    ds.count()
    input = Some(ds)
  }

  protected def runJob(bc: Broadcast[CompiledModel], m: Metrics, k: Int): Unit =
    CorrectionJob.correctDocs(input.get, bc, Some(m), saltPartitions = Some(salt))
      .foreachPartition((it: Iterator[Doc]) => it.foreach(_ => ()))

  protected def jobsToCheck: Seq[Int] = Seq(0)

  /** The drained output, recomputed once with the last job's model
    * instance (its cache is warm, so this is cheap). */
  protected def output(k: Int): Map[String, Doc] = {
    import ctx.spark.implicits._
    CorrectionJob.correctDocs(input.get, lastBc.get, None, saltPartitions = Some(salt))
      .collect().map(d => d.doc_id -> d).toMap
  }

  override def cleanup(): Unit = {
    super.cleanup()
    input.foreach(_.unpersist(blocking = true))
  }
}
