package graft.align

import org.scalatest.funsuite.AnyFunSuite

/** Goldens generated by executing CPython difflib / the reference's
  * evaluate functions on the README worked examples (README.md:60-66);
  * pins aligner parity (SURVEY.md §7.4 hard part 1). */
class AlignerSpec extends AnyFunSuite {

  private def alignedStrings(a: String, b: String): (String, String) = {
    val al = Aligner.align(a, b)
    def side(f: ((Int, Int)) => Int): String =
      al.map { p => val c = f(p); if (c == Aligner.Gap) "_" else new String(Character.toChars(c)) }.mkString
    (side(_._1), side(_._2))
  }

  val cases = Seq(
    ("» Bergebt mir, daß ih niht weiß, wie", "»Vergebt mir, daß ich nicht weiß, wie",
      "» Bergebt mir, daß i_h ni_ht weiß, wie", "»V_ergebt mir, daß ich nicht weiß, wie", 0.931507),
    ("aus dem (Geiſte aller Nationen Mahrunq", "aus dem Geiſte aller Nationen Nahrung",
      "aus dem (Geiſte aller Nationen Mahrunq", "aus dem _Geiſte aller Nationen Nahrung", 0.933333),
    ("Kannſt Du mir die re<hée Bahn niché zeigen ?", "Kannſt Du mir die rechte Bahn nicht zeigen?",
      "Kannſt Du mir die re<hée Bahn niché zeigen ?", "Kannſt Du mir die rechte Bahn nicht zeigen_?", 0.919540),
    ("frag zu bringen. —", "trag zu bringen. —",
      "frag zu bringen. —", "trag zu bringen. —", 0.944444),
    ("ſie ins irdij<he Leben hinein, Mit leichtem,", "ſie ins irdiſche Leben hinein. Mit leichtem,",
      "ſie ins irdij<he Leben hinein, Mit leichtem,", "ſie ins irdiſche Leben hinein. Mit leichtem,", 0.931818),
    ("abc", "xyz", "abc", "xyz", 0.0),
    ("", "abc", "___", "abc", 0.0),
    ("kitten", "sitting", "kitten_", "sitting", 0.615385),
    ("aabbcc", "abc", "aabbcc", "_ab_c_", 0.666667)
  )

  test("gap-padded alignment matches difflib goldens on README pairs") {
    for ((a, b, expA, expB, _) <- cases) {
      val (gotA, gotB) = alignedStrings(a, b)
      assert(gotA == expA, s"raw side for <$a>")
      assert(gotB == expB, s"gt side for <$a>")
    }
  }

  test("quick_ratio matches difflib") {
    for ((a, b, _, _, qr) <- cases) {
      assert(math.abs(Aligner.quickRatio(a, b) - qr) < 1e-5, s"qr for <$a>")
    }
  }

  test("quick_ratio equals difflib's multiset count on random pairs (repeats, empty, surrogate pairs)") {
    // difflib.quick_ratio's own loop: each char of a takes one of b's
    // remaining copies
    def difflibQuickRatio(a: Array[Int], b: Array[Int]): Double = {
      val avail = scala.collection.mutable.HashMap.empty[Int, Int]
      b.foreach(c => avail(c) = avail.getOrElse(c, 0) + 1)
      var matches = 0
      a.foreach { c =>
        val n = avail.getOrElse(c, 0)
        if (n > 0) { matches += 1; avail(c) = n - 1 }
      }
      val length = a.length + b.length
      if (length == 0) 1.0 else 2.0 * matches / length
    }
    val alphabet = Seq("a", "b", "e", "ſ", "\u0364", "\uFFFD", "\uD83D\uDE00", " ")
    val rnd = new scala.util.Random(17)
    def draw(): String = Seq.fill(rnd.nextInt(12))(alphabet(rnd.nextInt(alphabet.size))).mkString
    for (_ <- 0 until 500) {
      val (a, b) = (draw(), draw())
      assert(Aligner.quickRatio(a, b) == difflibQuickRatio(Aligner.cps(a), Aligner.cps(b)), s"<$a> <$b>")
    }
  }

  test("alignment projections reproduce the inputs (gap-free)") {
    for ((a, b, _, _, _) <- cases) {
      val al = Aligner.align(a, b)
      val ra = al.map(_._1).filter(_ != Aligner.Gap)
      val rb = al.map(_._2).filter(_ != Aligner.Gap)
      assert(ra.toSeq == Aligner.cps(a).toSeq)
      assert(rb.toSeq == Aligner.cps(b).toSeq)
    }
  }

  test("adjusted distance matches the reference (incl. combining-e umlauts)") {
    // goldens from executing scripts/evaluate.py:get_adjusted_distance
    val gold = Seq(
      ("Bahn", "Bahn", 0.0, 4), ("niht", "nicht", 1.0, 5),
      ("Geheimräth1n", "Geheimräthin", 1.0, 12),
      ("aͤrger", "ärger", 1.0, 5), ("ärger", "aͤrger", 1.0, 6),
      ("Über", "Uͤber", 2.0, 5), // uppercase: not in the umlaut map
      ("schön", "schon", 1.0, 5), ("", "abc", 3.0, 3))
    for ((l1, l2, d, n) <- gold) {
      val (gd, gn) = Distance.adjustedDistance(l1, l2)
      assert(gd == d && gn == n, s"adjusted($l1,$l2)")
    }
  }

  test("precision/recall counts match the reference") {
    // goldens from executing scripts/evaluate.py:get_precision_recall
    val gold = Seq(
      ("ih denke", "ich denke", "ich denke", (1L, 8L, 0L, 0L)),
      ("niht wohl", "nicht wol", "nicht wohl", (1L, 8L, 1L, 0L)),
      ("frag zu", "frag zu", "trag zu", (0L, 6L, 0L, 1L)),
      ("re<hée Bahn", "rechte Bahn", "rechte Bahn", (2L, 9L, 0L, 0L)))
    for ((ocr, cor, gt, exp) <- gold) {
      assert(Distance.precisionRecall(ocr, cor, gt) == exp, s"pr($ocr)")
    }
  }

  test("levenshtein agrees with textbook cases") {
    assert(Distance.levenshtein("kitten", "sitting") == 3)
    assert(Distance.levenshtein("", "abc") == 3)
    assert(Distance.levenshtein("niht", "nicht") == 1)
    assert(Distance.levenshtein("flaß", "fläß") == 1)
  }
}
