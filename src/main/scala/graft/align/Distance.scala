package graft.align

/** Evaluation metrics ported from the reference's evaluate script. */
object Distance {
  private final val Gap = Aligner.Gap
  private final val Empty = -2 // the '' placeholder of the 3-way merge
  private final val CombiningE = 0x0364

  private val umlauts = Map[Int, Int]('ä'.toInt -> 'a'.toInt,
    'ö'.toInt -> 'o'.toInt, 'ü'.toInt -> 'u'.toInt)

  /** Umlaut-aware edit distance (scripts/evaluate.py:49-103): a base
    * letter + U+0364 combining-e vs the precomposed umlaut counts as a
    * single edit. Returns (distance, len(l2)). */
  def adjustedDistance(l1: String, l2: String): (Double, Int) =
    (adjustedDistance(Aligner.align(l1, l2)), l2.codePointCount(0, l2.length))

  /** [[adjustedDistance]] over an alignment `Aligner.align(l1, l2)`. */
  def adjustedDistance(alignment: Array[(Int, Int)]): Double = {
    var d = 0.0
    var sourceUmlaut = false
    var targetUmlaut = false
    for ((s, t) <- alignment) {
      if (s == t) {
        if (sourceUmlaut) { sourceUmlaut = false; d += 1.0 }
        else if (targetUmlaut) { targetUmlaut = false; d += 1.0 }
      } else {
        if (sourceUmlaut) {
          sourceUmlaut = false
          if (s == Gap && t == CombiningE) d += 1.0 else d += 2.0
        } else if (targetUmlaut) {
          targetUmlaut = false
          if (t == Gap && s == CombiningE) d += 1.0 else d += 2.0
        } else if (umlauts.get(s).contains(t)) sourceUmlaut = true
        else if (umlauts.get(t).contains(s)) targetUmlaut = true
        else d += 1.0
      }
    }
    if (sourceUmlaut || targetUmlaut) d += 1.0
    d
  }

  /** Char-level TP/TN/FP/FN of OCR vs COR vs GT via merged pairwise
    * alignments (scripts/evaluate.py:106-152). */
  def precisionRecall(ocr: String, cor: String, gt: String): (Long, Long, Long, Long) =
    precisionRecall(Aligner.align(ocr, gt), Aligner.align(cor, gt))

  /** [[precisionRecall]] over the alignments `al1 = Aligner.align(ocr, gt)`
    * and `al2 = Aligner.align(cor, gt)`. */
  def precisionRecall(al1: Array[(Int, Int)],
      al2: Array[(Int, Int)]): (Long, Long, Long, Long) = {
    var tp = 0L; var tn = 0L; var fp = 0L; var fn = 0L
    var i1 = 0; var i2 = 0
    if (al1.isEmpty || al2.isEmpty) return (0L, 0L, 0L, 0L)
    var x1 = al1(0)._1; var y1 = al1(0)._2
    var x2 = al2(0)._1; var y2 = al2(0)._2
    var done = false
    while (!done) {
      var cOcr = Empty; var cCor = Empty; var cGt = Empty
      if (y1 == y2 && y1 != Gap) {
        cOcr = x1; cCor = x2; cGt = y1
        i1 += 1; i2 += 1
        if (i1 >= al1.length || i2 >= al2.length) done = true
        else {
          x1 = al1(i1)._1; y1 = al1(i1)._2
          x2 = al2(i2)._1; y2 = al2(i2)._2
        }
      } else if (y1 == Gap) {
        cOcr = x1
        i1 += 1
        if (i1 >= al1.length) done = true
        else { x1 = al1(i1)._1; y1 = al1(i1)._2 }
      } else if (y2 == Gap) {
        cCor = x2
        i2 += 1
        if (i2 >= al2.length) done = true
        else { x2 = al2(i2)._1; y2 = al2(i2)._2 }
      } else {
        throw new IllegalStateException(
          "Sequence mismatch in three-way alignment.")
      }
      val isCorrect = cCor == cGt
      val isChanged = cCor != cOcr
      if (isChanged && isCorrect) tp += 1
      else if (isChanged && !isCorrect) fp += 1
      else if (!isChanged && isCorrect) tn += 1
      else fn += 1
    }
    (tp, tn, fp, fn)
  }

  /** Plain Levenshtein distance on code points (the `editdistance` lib of
    * scripts/evaluate.py:177-190; cross-checked against Spark/DuckDB
    * `levenshtein`). */
  def levenshtein(s1: String, s2: String): Int = {
    val a = Aligner.cps(s1); val b = Aligner.cps(s2)
    if (a.isEmpty) return b.length
    if (b.isEmpty) return a.length
    var prev = Array.tabulate(b.length + 1)(identity)
    var cur = new Array[Int](b.length + 1)
    var i = 1
    while (i <= a.length) {
      cur(0) = i
      var j = 1
      while (j <= b.length) {
        val cost = if (a(i - 1) == b(j - 1)) 0 else 1
        cur(j) = math.min(math.min(cur(j - 1) + 1, prev(j) + 1), prev(j - 1) + cost)
        j += 1
      }
      val t = prev; prev = cur; cur = t
      i += 1
    }
    prev(b.length)
  }
}
