package graft.train

import graft.tokenize.Tokenizer
import graft.wfst.Wfst
import scala.util.matching.Regex

/** Token category (the four count dicts of lib/lexicon.py:19-21). */
object Category {
  val OpeningBracket = "opening_brackets"
  val ClosingBracket = "closing_brackets"
  val Punctuation = "punctuation"
  val Words = "words"
}

final case class Lexicon(
    openingBrackets: Map[String, Long],
    closingBrackets: Map[String, Long],
    punctuation: Map[String, Long],
    words: Map[String, Long])

/** Port of lib/lexicon.py — lexicon construction and compilation.
  * Tokenization is the documented rule-based divergence
  * (graft.tokenize.Tokenizer); all classification / normalization rules
  * are faithful. */
object LexiconBuilder {

  final val MinLineLength = 3 // lib/lexicon.py:13
  final val OpeningBrackets = Set("\"", "»", "(", "„") // :14
  final val ClosingBrackets = Set("\"", "«", ")", "“", "‘", "'") // :15
  final val Umlauts = Map( // :16-17
    'ä' -> "aͤ", 'ö' -> "oͤ", 'ü' -> "uͤ",
    'Ä' -> "Aͤ", 'Ö' -> "Oͤ", 'Ü' -> "Uͤ")
  // lib/lexicon.py:134 — re.match (prefix) semantics preserved
  private val NumRe: Regex = "[0-9]{1,3}([,.]?[0-9]{3})*([.,][0-9]*)?".r

  def translateUmlauts(s: String): String = {
    val sb = new StringBuilder
    s.foreach(c => Umlauts.get(c) match {
      case Some(r) => sb.append(r)
      case None    => sb.append(c)
    })
    sb.result()
  }

  def isDigitToken(s: String): Boolean =
    s.nonEmpty && (s.forall(Character.isDigit) ||
      NumRe.findPrefixMatchOf(s).isDefined)

  /** Python str.capitalize(): first char title-cased, rest lowered. */
  def pyCapitalize(s: String): String =
    if (s.isEmpty) s
    else new String(Character.toChars(Character.toTitleCase(s.codePointAt(0)))) +
      s.substring(Character.charCount(s.codePointAt(0))).toLowerCase

  def isPunctuationToken(t: String): Boolean =
    // lib/lexicon.py:91-95 minus the spacy POS check (rule approximation):
    // no letters or digits, and not the dash '—'
    t != "—" && !t.exists(c => c.isLetter || c.isDigit)

  /** Classified, normalized (category, token, freq) emissions for one
    * token (lib/lexicon.py:105-123). A word may emit a second row for
    * its case-flipped variant. */
  def classify(token: String, freq: Long = 1L): Seq[(String, String, Long)] = {
    if (OpeningBrackets.contains(token)) Seq((Category.OpeningBracket, token, 1L))
    else if (ClosingBrackets.contains(token)) Seq((Category.ClosingBracket, token, 1L))
    else if (isPunctuationToken(token)) Seq((Category.Punctuation, token, 1L))
    else {
      var text = translateUmlauts(token)
      if (isDigitToken(text)) text = "1" * text.codePointCount(0, text.length)
      val recap =
        if (text.nonEmpty && Character.isUpperCase(text.codePointAt(0))) text.toLowerCase
        else pyCapitalize(text)
      if (recap != text)
        Seq((Category.Words, text, freq), (Category.Words, recap, freq))
      else Seq((Category.Words, text, freq))
    }
  }

  /** Emissions for a whole line (skips short lines, lib/lexicon.py:138-139). */
  def lineEmissions(line: String): Seq[(String, String, Long)] =
    if (line.codePointCount(0, line.length) < MinLineLength) Seq.empty
    else Tokenizer.tokenize(line).flatMap(classify(_))

  /** convert_to_log_relative_freq (lib/helper.py:117-136): total over ALL
    * counts first, prune (abs<=3 && rel<threshold), weight -ln(rel). */
  def toLogRelativeFreq(counts: Map[String, Long],
      freqThreshold: Double = 2e-6): Map[String, Double] = {
    val total = counts.values.sum.toDouble
    if (total == 0) return Map.empty
    counts.flatMap { case (k, abs) =>
      val rel = abs / total
      if (abs <= 3 && rel < freqThreshold) None
      else Some(k -> -math.log(rel))
    }
  }

  /** lexicon_to_fst (lib/lexicon.py:152-198):
    * openBracket? . words . punctuation? . closeBracket? with -ln-relfreq
    * weights; `addedWordCost` added to every word weight (:156-162);
    * digit substitution / umlaut standardization remain disabled as in
    * the reference (:174-177,186-190 FIXMEs). The reference's
    * `result.optimize(); result.push()` (:192-193) is realized as
    * pushWeights + minimizeAcyclic: weights migrate to the first
    * divergence point and shared word suffixes collapse (DAWG), which
    * shrinks the broadcast model and the per-window compose product
    * while preserving every accepting path's weight. */
  def lexiconToFst(lex: Lexicon, addedWordCost: Double = 0.0,
      unweighted: Boolean = false): Wfst = {
    def dict(m: Map[String, Long], extra: Double = 0.0): Map[String, Double] = {
      val d = toLogRelativeFreq(m).map { case (k, w) => k -> (w + extra) }
      if (unweighted) d.map { case (k, _) => k -> 0.0 } else d
    }
    val words = Wfst.fromStrings(dict(lex.words, addedWordCost))
    val punct = Wfst.fromStrings(dict(lex.punctuation))
    val openB = Wfst.fromStrings(dict(lex.openingBrackets))
    val closeB = Wfst.fromStrings(dict(lex.closingBrackets))
    openB.ques.concat(words).concat(punct.ques).concat(closeB.ques)
      .projectOutput.rmEpsilon
      .pushWeights.minimizeAcyclic.connect
  }
}
