package graft.train

import graft.align.Aligner
import graft.wfst.Wfst
import scala.collection.mutable

/** Port of the simple n-gram confusion error model
  * (lib/error_simp.py). */
object ErrorModelTrainer {

  /** NBSP gap marker (lib/error_simp.py:14). */
  final val GapElement = ' '
  final val GapString = GapElement.toString

  /** Per-pair confusion emissions: (n, raw_ngram, gt_ngram), gaps encoded
    * as NBSP — the flatMap side of get_confusion_dicts
    * (lib/error_simp.py:52-102). Distributed counting happens via a
    * groupBy over these rows. */
  def confusionEmissions(rawLine: String, gtLine: String,
      maxN: Int): Seq[(Int, String, String)] = {
    if (rawLine.isEmpty || gtLine.isEmpty) return Seq.empty
    if (rawLine.indexOf(GapElement) >= 0 || gtLine.indexOf(GapElement) >= 0)
      throw new IllegalArgumentException(
        s"gap element must not occur in text: <$rawLine> <$gtLine>")
    if (Aligner.quickRatio(rawLine, gtLine) < 0.1 &&
      gtLine.codePointCount(0, gtLine.length) > 5) return Seq.empty
    val alignment = Aligner.align(rawLine, gtLine)
    if (alignment.isEmpty) return Seq.empty
    def side(f: ((Int, Int)) => Int): Array[Int] =
      alignment.map { p => val c = f(p); if (c == Aligner.Gap) GapElement.toInt else c }
    val rawAligned = side(_._1)
    val gtAligned = side(_._2)
    val out = mutable.ArrayBuffer.empty[(Int, String, String)]
    var n = 1
    while (n <= maxN) {
      var i = 0
      while (i + n <= rawAligned.length) {
        out += ((n, cps(rawAligned, i, n), cps(gtAligned, i, n)))
        i += 1
      }
      n += 1
    }
    out.toSeq
  }

  private def cps(a: Array[Int], off: Int, len: Int): String = {
    val sb = new StringBuilder
    var i = off
    while (i < off + len) { sb.appendAll(Character.toChars(a(i))); i += 1 }
    sb.result()
  }

  /** preprocess_confusion_dict (lib/error_simp.py:107-156): relative
    * frequency per input ngram, with the ε-to-ε count fix-up. */
  def preprocessConfusions(
      counts: Map[(String, String), Long]): Seq[(String, String, Double)] = {
    val totalFreq = counts.values.sum
    val epsilonFreq =
      counts.collect { case ((GapString, _), c) => c }.sum
    val adjusted: Map[(String, String), Long] =
      if (epsilonFreq != 0)
        counts + ((GapString, GapString) -> (totalFreq - epsilonFreq))
      else counts
    val byRaw = adjusted.groupBy(_._1._1)
    val out = mutable.ArrayBuffer.empty[(String, String, Double)]
    for ((raw, entries) <- byRaw) {
      val rowTotal = entries.values.sum.toDouble
      for (((_, gt), freq) <- entries)
        out += ((raw, gt, freq / rowTotal))
    }
    out.toSeq
  }

  /** transducer_from_list (lib/error_simp.py:183-202): strip gaps,
    * -ln(relfreq) weights, drop identities / empties / heavy edits. */
  def transducerFromList(confusions: Seq[(String, String, Double)],
      weightThreshold: Double = 7.0,
      identityTransitions: Boolean = false): Wfst = {
    val mappings = confusions.flatMap { case (inStr, outStr, relfreq) =>
      val i = inStr.replace(GapString, "")
      val o = outStr.replace(GapString, "")
      val w = -math.log(relfreq)
      if ((identityTransitions || i != o) && (i.nonEmpty || o.nonEmpty) &&
        w <= weightThreshold) Some((i, o, w))
      else None
    }
    Wfst.fromMappings(mappings)
  }

  // --- optional punctuation-preserving filter (lib/error_simp.py:205-249)

  def isPunctuationEdit(raw: Int, gt: Int): Boolean = {
    val Gap = GapElement.toInt
    val Space = ' '.toInt
    val CombE = 0x0364
    if (raw == gt) false
    else if ((raw == Gap || raw == Space) && (gt == Gap || gt == Space)) false
    else if (gt == CombE || (gt != Gap && Character.isLetterOrDigit(gt))) false
    else if ((gt == Gap || gt == Space) &&
      (raw == CombE || (raw != Gap && Character.isLetterOrDigit(raw)))) false
    else true
  }

  def noPunctuationEdits(confusion: (String, String, Double)): Boolean = {
    val a = confusion._1.codePoints().toArray
    val b = confusion._2.codePoints().toArray
    val n = math.min(a.length, b.length)
    var i = 0
    while (i < n) {
      if (isPunctuationEdit(a(i), b(i))) return false
      i += 1
    }
    true
  }

  /** compile_single_error_transducer (lib/error_simp.py:252-259). The
    * reference's `optimize()` (:258) is realized as pushWeights +
    * minimizeAcyclic on the string-map union: fromMappings builds one
    * chain per confusion with the weight at the final, so pushing moves
    * each weight onto the chain's first arc and the (now 0-weight)
    * shared suffix chains + the single final state collapse — a smaller
    * broadcast model and a denser per-window compose product, path
    * weights unchanged. */
  def compileSingle(counts: Map[(String, String), Long],
      preservePunct: Boolean = false): Wfst = {
    var list = preprocessConfusions(counts)
    if (preservePunct) list = list.filter(noPunctuationEdits)
    transducerFromList(list).rmEpsilon.pushWeights.minimizeAcyclic.connect
  }

  /** The selected combination of combine_error_transducers
    * (lib/error_simp.py:262-305 + scripts/train.py:171-183): context =
    * 1..maxContext, errors <= maxErrors. We build only the picked combo
    * (the reference builds all context subsets and discards — noted
    * inefficiency, SURVEY.md §4). Shape: (Σ* · one_error)^{0..k} · Σ*,
    * Σ* realized as a wildcard self-loop. Result is rmEpsilon'd and
    * arcSort'd, ready for composition. */
  def combineErrorTransducers(transducers: Seq[Wfst], maxErrors: Int): Wfst = {
    require(transducers.nonEmpty)
    val oneError = transducers.reduce(_ union _)
    Wfst.sigmaStar.concat(oneError).closure(0, maxErrors)
      // eps:eps glue arcs KEPT, as in the reference (no rmepsilon at
      // lib/error_simp.py:287-300): compose treats them as right-alone
      // moves; removing them explodes the machine quadratically at real
      // vocabulary sizes (measured 204M arcs on the sf0.1 confusions —
      // every chain leaf's eps-closure copies every hub's fan-out)
      .concat(Wfst.sigmaStar).arcSort
  }
}
