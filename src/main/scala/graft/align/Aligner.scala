package graft.align

import scala.collection.mutable

/** Faithful port of CPython difflib.SequenceMatcher with
  * isjunk=None, autojunk=False — the exact configuration the reference
  * uses for character alignment (lib/error_simp.py:50,
  * scripts/evaluate.py:7). Operates on code-point arrays.
  *
  * Alignment parity matters: a different matcher shifts confusion counts
  * and therefore error-model weights (SURVEY.md §7.4 hard part 1).
  */
final class SequenceMatcher(a: Array[Int], b: Array[Int]) {

  private val b2j: mutable.HashMap[Int, mutable.ArrayBuffer[Int]] = {
    val m = mutable.HashMap.empty[Int, mutable.ArrayBuffer[Int]]
    var j = 0
    while (j < b.length) {
      m.getOrElseUpdate(b(j), mutable.ArrayBuffer.empty[Int]) += j
      j += 1
    }
    m // no junk, no autojunk popularity filter
  }

  /** (besti, bestj, bestsize) — difflib.find_longest_match. */
  def findLongestMatch(alo: Int, ahi: Int, blo: Int, bhi: Int): (Int, Int, Int) = {
    var besti = alo; var bestj = blo; var bestsize = 0
    var j2len = mutable.HashMap.empty[Int, Int]
    var i = alo
    while (i < ahi) {
      val newj2len = mutable.HashMap.empty[Int, Int]
      b2j.get(a(i)).foreach { js =>
        var idx = 0
        var break = false
        while (idx < js.length && !break) {
          val j = js(idx)
          if (j < blo) ()
          else if (j >= bhi) break = true
          else {
            val k = j2len.getOrElse(j - 1, 0) + 1
            newj2len(j) = k
            if (k > bestsize) { besti = i - k + 1; bestj = j - k + 1; bestsize = k }
          }
          idx += 1
        }
      }
      j2len = newj2len
      i += 1
    }
    // no junk: single extension pass on both ends
    while (besti > alo && bestj > blo && a(besti - 1) == b(bestj - 1)) {
      besti -= 1; bestj -= 1; bestsize += 1
    }
    while (besti + bestsize < ahi && bestj + bestsize < bhi &&
      a(besti + bestsize) == b(bestj + bestsize)) {
      bestsize += 1
    }
    (besti, bestj, bestsize)
  }

  /** difflib.get_matching_blocks (queue recursion, sort, merge adjacent,
    * sentinel (la, lb, 0) appended). */
  def matchingBlocks: Seq[(Int, Int, Int)] = {
    val la = a.length; val lb = b.length
    var queue = List((0, la, 0, lb))
    val blocks = mutable.ArrayBuffer.empty[(Int, Int, Int)]
    while (queue.nonEmpty) {
      val (alo, ahi, blo, bhi) = queue.head
      queue = queue.tail
      val x @ (i, j, k) = findLongestMatch(alo, ahi, blo, bhi)
      if (k > 0) {
        blocks += x
        if (alo < i && blo < j) queue ::= (alo, i, blo, j)
        if (i + k < ahi && j + k < bhi) queue ::= (i + k, ahi, j + k, bhi)
      }
    }
    val sorted = blocks.sorted
    var i1 = 0; var j1 = 0; var k1 = 0
    val nonAdjacent = mutable.ArrayBuffer.empty[(Int, Int, Int)]
    for ((i2, j2, k2) <- sorted) {
      if (i1 + k1 == i2 && j1 + k1 == j2) k1 += k2
      else {
        if (k1 > 0) nonAdjacent += ((i1, j1, k1))
        i1 = i2; j1 = j2; k1 = k2
      }
    }
    if (k1 > 0) nonAdjacent += ((i1, j1, k1))
    nonAdjacent += ((la, lb, 0))
    nonAdjacent.toSeq
  }

  /** difflib.get_opcodes: (tag, i1, i2, j1, j2). */
  def opcodes: Seq[(String, Int, Int, Int, Int)] = {
    var i = 0; var j = 0
    val answer = mutable.ArrayBuffer.empty[(String, Int, Int, Int, Int)]
    for ((ai, bj, size) <- matchingBlocks) {
      var tag = ""
      if (i < ai && j < bj) tag = "replace"
      else if (i < ai) tag = "delete"
      else if (j < bj) tag = "insert"
      if (tag.nonEmpty) answer += ((tag, i, ai, j, bj))
      i = ai + size; j = bj + size
      if (size > 0) answer += (("equal", ai, i, bj, j))
    }
    answer.toSeq
  }
}

object Aligner {
  /** Gap sentinel in code-point alignments (the reference uses NBSP in
    * error_simp.py:14 and int 0 in evaluate.py:8; both are just padding
    * markers). */
  final val Gap = -1

  def cps(s: String): Array[Int] = s.codePoints().toArray

  /** Opcode-driven gap-padded alignment, exactly the expansion in
    * lib/error_simp.py:65-84 / scripts/evaluate.py:17-46: `a` and `b`
    * chars zipped, unmatched positions padded with Gap. */
  def align(aStr: String, bStr: String): Array[(Int, Int)] = {
    val a = cps(aStr); val b = cps(bStr)
    val m = new SequenceMatcher(a, b)
    val out = mutable.ArrayBuffer.empty[(Int, Int)]
    for ((op, aBeg, aEnd, bBeg, bEnd) <- m.opcodes) op match {
      case "equal" =>
        var k = 0
        while (aBeg + k < aEnd && bBeg + k < bEnd) {
          out += ((a(aBeg + k), b(bBeg + k))); k += 1
        }
      case "replace" =>
        val delta = (aEnd - aBeg) - (bEnd - bBeg)
        if (delta > 0) { // replace + delete
          var k = 0
          while (k < aEnd - delta - aBeg && k < bEnd - bBeg) {
            out += ((a(aBeg + k), b(bBeg + k))); k += 1
          }
          var i = aEnd - delta
          while (i < aEnd) { out += ((a(i), Gap)); i += 1 }
        } else { // replace + insert (delta <= 0)
          var k = 0
          while (k < aEnd - aBeg && k < bEnd + delta - bBeg) {
            out += ((a(aBeg + k), b(bBeg + k))); k += 1
          }
          var j = bEnd + delta
          while (j < bEnd) { out += ((Gap, b(j))); j += 1 }
        }
      case "insert" =>
        var j = bBeg
        while (j < bEnd) { out += ((Gap, b(j))); j += 1 }
      case "delete" =>
        var i = aBeg
        while (i < aEnd) { out += ((a(i), Gap)); i += 1 }
      case other =>
        throw new IllegalStateException(s"invalid opcode $other")
    }
    out.toArray
  }

  /** difflib.quick_ratio: the 2*M/T upper bound, M the size of the
    * intersection of the two code-point multisets. It needs character
    * counts only, so it merges the sorted code points instead of
    * building a matcher. */
  def quickRatio(aStr: String, bStr: String): Double = {
    val a = cps(aStr); val b = cps(bStr)
    java.util.Arrays.sort(a); java.util.Arrays.sort(b)
    var i = 0; var j = 0; var matches = 0
    while (i < a.length && j < b.length) {
      if (a(i) == b(j)) { matches += 1; i += 1; j += 1 }
      else if (a(i) < b(j)) i += 1
      else j += 1
    }
    val length = a.length + b.length
    if (length == 0) 1.0 else 2.0 * matches / length
  }
}
