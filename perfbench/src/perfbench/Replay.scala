package perfbench

import graft.align.Distance
import graft.correct.{Alt, AltCache, CompiledModel, Corrector, SharedWindowCache}
import graft.tokenize.Tokenizer
import graft.train.{ErrorModelTrainer, LexiconBuilder}
import graft.wfst.Wfst
import scala.collection.mutable

/** Wraps the program's shared window cache and times every lookup: a
  * hit is the whole lookup, a miss is the `windowAlternatives`
  * computation the cache ran. */
final class CountingCache(inner: AltCache) extends AltCache {
  val hitNs = mutable.ArrayBuffer.empty[Long]
  val missNs = mutable.ArrayBuffer.empty[Long]
  val missed = mutable.ArrayBuffer.empty[String]
  var alts = 0L

  def getOrCompute(key: String)(f: => Seq[Alt]): Seq[Alt] = {
    var computeNs = -1L
    val t0 = System.nanoTime()
    val r = inner.getOrCompute(key) {
      val a = System.nanoTime()
      val v = f
      computeNs = System.nanoTime() - a
      v
    }
    val t = System.nanoTime() - t0
    if (computeNs >= 0) { missNs += computeNs; missed += key }
    else hitNs += t
    alts += r.size
    r
  }
}

/** One-thread replays over a fixed sample of a workload's lines, each on
  * a fresh model instance (so the shared cache starts cold). They give
  * the graft.correct, graft.wfst, graft.tokenize, graft.train and
  * graft.align figures that the Spark listener cannot see. */
object Replay {
  private def us(ns: Iterable[Long]): Iterable[Double] = ns.map(_ / 1000.0)

  /** `correctLine` on every sample line through a counting cache, then
    * `viterbi` alone on the (now warm) lattices. Returns the figures,
    * the corrected lines and the missed windows in order. */
  def correct(lines: Seq[String], model: CompiledModel)
      : (Seq[(String, Double)], Seq[String], Seq[String]) = {
    val cache = new CountingCache(SharedWindowCache.forModel(model))
    val lineNs = mutable.ArrayBuffer.empty[Long]
    val out = lines.map { l =>
      val t0 = System.nanoTime()
      val c = Corrector.correctLine(l, model, cache)
      lineNs += System.nanoTime() - t0
      c
    }
    // first pass only: the viterbi pass below re-reads every window
    val hits = cache.hitNs.size
    val misses = cache.missNs.size
    val lookups = hits + misses
    val alts = cache.alts
    val lattices = lines.filter(Tokenizer.splitInputString(_).nonEmpty)
      .map(Corrector.latticeFromString(_, model, cache))
    val t0 = System.nanoTime()
    lattices.foreach(Corrector.viterbi)
    val viterbiNs = System.nanoTime() - t0
    val figures = Seq(
      "correct.hit_ratio" -> hits.toDouble / math.max(lookups, 1),
      "correct.window_hits" -> hits.toDouble,
      "correct.window_misses" -> misses.toDouble,
      "correct.hit_us_p50" -> Stats.median(us(cache.hitNs.take(hits))),
      "correct.miss_us_p50" -> Stats.median(us(cache.missNs)),
      "correct.miss_us_p99" -> Stats.quantile(us(cache.missNs), 0.99),
      "correct.windows_per_line" -> lookups.toDouble / lines.size,
      "correct.alts_per_window" -> alts.toDouble / math.max(lookups, 1),
      "correct.viterbi_us_per_line" -> viterbiNs / 1000.0 / math.max(lattices.size, 1),
      "correct.line_us_p50" -> Stats.median(us(lineNs)),
      "correct.line_us_p99" -> Stats.quantile(us(lineNs), 0.99))
    (figures, out, cache.missed.toSeq)
  }

  /** The cascade of `Corrector.processWindow`, one step at a time, on
    * each missed window; its alternatives must equal those of the
    * program's own `windowAlternatives` (no cache) on every window.
    * Returns the figures and the number of windows that differed. */
  def wfst(wins: Seq[String], model: CompiledModel): (Seq[(String, Double)], Int) = {
    val errNs, rmNs, lexNs, enumNs = mutable.ArrayBuffer.empty[Long]
    val errStates, lexStates = mutable.ArrayBuffer.empty[Double]
    var retries = 0
    var mismatches = 0
    val pw = model.pruningWeight
    for (win <- wins) {
      var t = System.nanoTime()
      def lap(into: mutable.ArrayBuffer[Long]): Unit = {
        val n = System.nanoTime(); into += n - t; t = n
      }
      var w = Wfst.acceptor(win)
      for (fst <- model.errorFst) {
        w = w.composeBoundedPruned(fst, pw, pw)
        lap(errNs); errStates += w.numStates
        w = w.rmEpsilon(trim = false)
        lap(rmNs)
      }
      w = w.composePruned(model.windowFst, pw)
      if (!win.contains(' ')) {
        val len = win.codePointCount(0, win.length)
        w = w.union(Wfst.acceptor(win, model.rejectionWeight * (len + 2)))
      }
      lap(lexNs); lexStates += w.numStates
      val alts =
        try w.distinctOutputs()
        catch { case _: IllegalStateException =>
          retries += 1
          w.rmEpsilon(trim = false).distinctOutputs()
        }
      lap(enumNs)
      val ref = Corrector.windowAlternatives(win, model, null)
      val same = alts.size == ref.size && alts.zip(ref).forall {
        case ((s, wt), a) => s == a.text && math.abs(wt - a.weight) <= 1e-9
      }
      if (!same) mismatches += 1
    }
    def meanUs(x: Iterable[Long]) = Stats.mean(us(x))
    val steps = Seq(errNs, rmNs, lexNs, enumNs).map(_.sum.toDouble)
    val figures = Seq(
      "wfst.windows_replayed" -> wins.size.toDouble,
      "wfst.error_compose_us" -> meanUs(errNs),
      "wfst.error_states" -> Stats.mean(errStates),
      "wfst.rmeps_us" -> meanUs(rmNs),
      "wfst.lexicon_compose_us" -> meanUs(lexNs),
      "wfst.lexicon_states" -> Stats.mean(lexStates),
      "wfst.enumerate_us" -> meanUs(enumNs),
      "wfst.eps_retries" -> retries.toDouble,
      "wfst.error_compose_share" -> steps.head / math.max(steps.sum, 1.0),
      "wfst.replay_mismatches" -> mismatches.toDouble)
    (figures, mismatches)
  }

  /** Repeats `f` over the items until at least 0.2 s has passed; mean
    * microseconds per item. */
  private def perItemUs[A](items: Seq[A])(f: A => Unit): Double = {
    var n = 0L
    val t0 = System.nanoTime()
    while (System.nanoTime() - t0 < 200000000L || n == 0) {
      items.foreach(f); n += items.size
    }
    (System.nanoTime() - t0) / 1000.0 / n
  }

  def tokenize(lines: Seq[String]): Seq[(String, Double)] =
    Seq("tokenize.us_per_line" -> perItemUs(lines)(Tokenizer.splitInputString(_)))

  /** The per-pair emissions of the training count job. */
  def emit(pairs: Seq[(String, String)], maxContext: Int = 3): Seq[(String, Double)] =
    Seq("train.emit_us_per_pair" -> perItemUs(pairs) { case (ocr, gt) =>
      LexiconBuilder.lineEmissions(gt)
      ErrorModelTrainer.confusionEmissions(ocr, gt, maxContext)
    })

  /** The per-line scoring of the evaluation: (ocr, cor, gt). */
  def align(triples: Seq[(String, String, String)]): Seq[(String, Double)] =
    Seq("align.us_per_pair" -> perItemUs(triples) { case (ocr, cor, gt) =>
      Distance.adjustedDistance(ocr, gt)
      Distance.adjustedDistance(cor, gt)
      Distance.precisionRecall(ocr, cor, gt)
      Distance.levenshtein(ocr, gt)
      Distance.levenshtein(cor, gt)
    })
}
