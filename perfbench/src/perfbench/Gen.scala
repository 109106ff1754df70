package perfbench

import graft.pipeline.{Doc, Span}

/** splitmix64 stream. The generator owns its PRNG so that no change to
  * the program under test can alter a workload. */
final class Rng(seed: Long) {
  private var x = seed
  def nextLong(): Long = {
    x += 0x9e3779b97f4a7c15L
    var z = x
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }
  def nextDouble(): Double = (nextLong() >>> 11) * (1.0 / (1L << 53))
  def nextInt(n: Int): Int = ((nextLong() >>> 1) % n).toInt
  def chance(p: Double): Boolean = nextDouble() < p
}

/** Rank sampler with P(rank r) proportional to 1 / r^s, r = 1..n. */
final class Zipf(n: Int, s: Double) {
  private val cdf: Array[Double] = {
    val w = Array.tabulate(n)(r => 1.0 / math.pow(r + 1.0, s))
    val total = w.sum
    var acc = 0.0
    w.map { x => acc += x; acc / total }
  }
  /** 0-based rank. */
  def sample(rng: Rng): Int = {
    val i = java.util.Arrays.binarySearch(cdf, rng.nextDouble())
    math.min(if (i >= 0) i else -i - 1, n - 1)
  }
}

/** The properties a workload sets (README.md lists them per workload). */
final case class GenParams(
    vocabSize: Int = 300,
    zipfS: Double = 1.3,        // word-rank skew
    tokensMin: Int = 4,
    tokensMax: Int = 8,         // tokens per line, uniform in [min, max]
    noiseRate: Double = 0.01,   // OCR noise events per character
    novelShare: Double = 0.0,   // share of tokens that are fresh random strings
    mediaShare: Double = 0.2,
    megaDocShare: Double = 0.01,
    docLenS: Double = 1.3,      // doc-length skew; 0 = uniform length
    docLenMax: Int = 24,
    megaDocSpans: Int = 200)

/** Seeded workload inputs: a synthetic historical-German vocabulary,
  * Zipf-drawn lines, OCR-like character noise, interleaved text/media
  * documents and (OCR, GT) training pairs. Every output is a pure
  * function of (params, seed). The vocabulary (the "language") is the
  * same for every seed; the seed draws lines, noise, documents and
  * pairs, so seeds differ in content but not in kind. */
final class Gen(val p: GenParams, seed: Long) {
  import Gen._

  val vocab: IndexedSeq[String] = {
    val rng = new Rng(VocabSeed + p.vocabSize)
    val seen = scala.collection.mutable.LinkedHashSet.empty[String]
    while (seen.size < p.vocabSize) seen += word(rng)
    seen.toIndexedSeq
  }
  private val zipf = new Zipf(p.vocabSize, p.zipfS)
  private val docLen =
    if (p.docLenS > 0) Some(new Zipf(p.docLenMax, p.docLenS)) else None

  def gtLine(rng: Rng): String = {
    val n = p.tokensMin + rng.nextInt(p.tokensMax - p.tokensMin + 1)
    val sb = new StringBuilder
    var k = 0
    while (k < n) {
      if (k > 0) sb.append(' ')
      if (rng.chance(p.novelShare)) sb.append(novelToken(rng))
      else sb.append(vocab(zipf.sample(rng)))
      if (rng.chance(0.08)) sb.append(Punct(rng.nextInt(Punct.length)))
      k += 1
    }
    sb.result()
  }

  /** OCR-looking copy of `gt`: at rate `noiseRate` per character, a
    * classic confusion applies where one matches, else one letter is
    * substituted. Spaces are never touched. */
  def ocr(gt: String, rng: Rng): String = {
    val sb = new StringBuilder
    var i = 0
    while (i < gt.length) {
      val c = gt.charAt(i)
      if (c != ' ' && rng.chance(p.noiseRate)) {
        Confusions.find { case (from, _) => gt.startsWith(from, i) } match {
          case Some((from, to)) if rng.chance(0.7) =>
            sb.append(to); i += from.length
          case _ =>
            sb.append(Letters.charAt(rng.nextInt(Letters.length))); i += 1
        }
      } else { sb.append(c); i += 1 }
    }
    sb.result()
  }

  /** (OCR, GT) pair. */
  def pair(rng: Rng): (String, String) = {
    val gt = gtLine(rng)
    (ocr(gt, rng), gt)
  }

  def pairs(n: Int, stream: Long): IndexedSeq[(String, String)] = {
    val rng = new Rng(seed ^ stream)
    IndexedSeq.fill(n)(pair(rng))
  }

  /** Interleaved documents holding exactly `textLines` text spans (the
    * last document is cut short), and the GT text of every text span,
    * keyed by (doc id, span offset). Doc lengths are Zipf-skewed; every
    * 1/megaDocShare-th document, from a seeded offset, is a mega-doc. */
  def docs(textLines: Int, stream: Long): (IndexedSeq[Doc], Map[(String, Int), String]) = {
    val rng = new Rng(seed ^ stream)
    val megaEvery = if (p.megaDocShare > 0) math.round(1 / p.megaDocShare).toInt else 0
    val megaAt = if (megaEvery > 0) rng.nextInt(megaEvery) else -1
    val gts = Map.newBuilder[(String, Int), String]
    val ds = IndexedSeq.newBuilder[Doc]
    var lines = 0
    var d = 0
    while (lines < textLines) {
      val id = f"doc-$d%06d"
      val nSpans =
        if (megaEvery > 0 && d % megaEvery == megaAt) p.megaDocSpans
        else docLen.fold(p.docLenMax)(z => 1 + z.sample(rng))
      val spans = Vector.newBuilder[Span]
      var i = 0
      while (i < nSpans && lines < textLines) {
        if (rng.chance(p.mediaShare)) {
          spans += Span(MediaKinds(rng.nextInt(MediaKinds.length)), "", s"media://$id/$i", i)
        } else {
          val (o, g) = pair(rng)
          gts += ((id, i) -> g)
          spans += Span("text", o, "", i)
          lines += 1
        }
        i += 1
      }
      ds += Doc(id, spans.result())
      d += 1
    }
    (ds.result(), gts.result())
  }
}

object Gen {
  private val VocabSeed = 0x5eedL
  private val Onsets = IndexedSeq("b", "d", "f", "g", "h", "k", "l", "m",
    "n", "p", "r", "s", "t", "w", "z", "ſt", "ſch", "ch", "br", "gr", "tr",
    "kr", "fr", "pf", "ſp", "bl", "gl", "kl", "fl", "")
  private val Nuclei = IndexedSeq("a", "e", "i", "o", "u", "ä", "ö", "ü",
    "ei", "au", "ie", "eu", "e", "e", "a")
  private val Codas = IndexedSeq("", "", "n", "r", "s", "t", "ch", "ck",
    "ng", "ß", "l", "m", "nd", "rt", "ſt", "tz", "ff", "n", "en", "er")
  private val Punct = IndexedSeq(",", ".", ";", ":", "!", "?")
  private val MediaKinds = IndexedSeq("image", "table", "formula")
  private val Letters = "abcdefghiklmnoprstuvwzäöüſ"
  private val Confusions = IndexedSeq("ch" -> "h", "ck" -> "<", "ſ" -> "f",
    "rn" -> "m", "i" -> "1", "n" -> "u", "u" -> "n", "e" -> "c", "ä" -> "a",
    "t" -> "f", "l" -> "1", "ü" -> "u")

  def word(rng: Rng): String = {
    val syl = 1 + rng.nextInt(2)
    val sb = new StringBuilder
    for (_ <- 0 until syl) {
      sb.append(Onsets(rng.nextInt(Onsets.length)))
      sb.append(Nuclei(rng.nextInt(Nuclei.length)))
      sb.append(Codas(rng.nextInt(Codas.length)))
    }
    val w = sb.result()
    if (rng.chance(0.3)) w.capitalize else w
  }

  /** A token no vocabulary holds: 5-9 random letters. */
  def novelToken(rng: Rng): String = {
    val n = 5 + rng.nextInt(5)
    val sb = new StringBuilder
    for (_ <- 0 until n) sb.append(Letters.charAt(rng.nextInt(Letters.length)))
    sb.result()
  }
}
