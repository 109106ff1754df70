package graft.correct

import graft.pipeline.CorrectionJob
import org.apache.spark.broadcast.Broadcast
import scala.collection.mutable

/** Pluggable language-model rescoring (SURVEY.md §2 row B12). The
  * reference delegates to ocrd_keraslm's char-LSTM `rate_best`
  * (scripts/process.py:42-52, wrapper/decode.py:118-159) — an external
  * dependency we do not reimplement bit-for-bit. This trait mirrors its
  * interface shape (stateful traceback threaded line→line, G7) with a
  * deterministic char n-gram default; the FST-only path remains the
  * correctness invariant (SURVEY.md §5). */
trait LmScorer extends Serializable {
  /** Opaque LM state (the traceback analogue). */
  type State
  def initialState: State
  /** Advance over `text`, returning (new state, -ln P(text | state)). */
  def advance(state: State, text: String): (State, Double)
  /** Distance between two LM states, used for BEAM CLUSTERING
    * (wrapper/decode.py:23-27,134-141: hypotheses whose state vectors
    * lie within `beam_clustering_dist` form a cluster and only the
    * best survives — keraslm measures LSTM hidden-state vectors;
    * scorers with opaque states default to identity clustering). */
  def stateDistance(a: State, b: State): Double =
    if (a == b) 0.0 else Double.PositiveInfinity
}

/** Add-one-smoothed character n-gram LM trained on GT lines. State is
  * the last (n-1) chars, carried across spans within a document. */
final class CharNgramLm(val n: Int, val counts: Map[String, Long],
    val contextCounts: Map[String, Long], val vocabSize: Int) extends LmScorer {
  type State = String
  def initialState: String = ""

  /** Context strings are the state: edit distance (two beam histories
    * whose recent contexts differ by <= dist merge — contexts here are
    * <= n-1 chars, so meaningful distances are 1-2, vs keraslm's 5
    * over high-dimensional LSTM vectors). */
  override def stateDistance(a: String, b: String): Double =
    graft.align.Distance.levenshtein(a, b).toDouble

  def advance(state: String, text: String): (String, Double) = {
    var ctx = state
    var cost = 0.0
    text.foreach { c =>
      val key = ctx + c
      val num = counts.getOrElse(key, 0L) + 1.0
      val den = contextCounts.getOrElse(ctx, 0L) + vocabSize.toDouble
      cost += -math.log(num / den)
      ctx = (ctx + c).takeRight(n - 1)
    }
    (ctx, cost)
  }
}

object CharNgramLm {
  /** Per-line (ctx+char) key emission — the ONE definition both the
    * local fold and the distributed aggregation count, so
    * trainSpark == train by construction. */
  def lineKeys(line: String, n: Int): Iterator[String] = {
    var ctx = ""
    line.iterator.map { c =>
      val key = ctx + c
      ctx = key.takeRight(n - 1)
      key
    }
  }

  def train(lines: Iterable[String], n: Int = 4): CharNgramLm = {
    val counts = mutable.HashMap.empty[String, Long]
    lines.foreach(line => lineKeys(line, n).foreach { k =>
      counts(k) = counts.getOrElse(k, 0L) + 1L
    })
    fromNgramCounts(n, counts.toMap)
  }

  /** Distributed training (the 100-TB shape — the same trainSpark
    * discipline as CompiledModel.trainSpark): ONE groupBy-count over
    * the per-char (context+char) keys of every GT line; only the
    * aggregated n-gram dict — vocabulary-sized (distinct character
    * n-grams), not corpus-sized — reaches the driver. Context counts
    * and the character vocabulary derive from it locally: every
    * emission increments counts(ctx+c) and ctxCounts(ctx) together, so
    * ctxCounts(ctx) = sum over c of counts(ctx+c), and the vocab is
    * the set of last chars of the keys. */
  def trainSpark(s: org.apache.spark.sql.SparkSession,
      lines: org.apache.spark.sql.Dataset[String], n: Int = 4): CharNgramLm = {
    import s.implicits._
    val grams = lines.flatMap(lineKeys(_, n))
      .groupBy("value").count()
      .as[(String, Long)].collect() // bounded: distinct n-grams
    fromNgramCounts(n, grams.toMap)
  }

  /** Derive context counts + vocab from the n-gram dict (see
    * trainSpark): shared by both training paths. */
  private def fromNgramCounts(n: Int, counts: Map[String, Long]): CharNgramLm = {
    val ctxCounts = counts.toSeq
      .groupMapReduce { case (k, _) => k.substring(0, k.length - 1) }(_._2)(_ + _)
    val vocab = counts.keysIterator.map(_.last).toSet
    new CharNgramLm(n, counts, ctxCounts, math.max(vocab.size, 1))
  }
}

/** Lattice beam-search rescoring + the document-level fold (G7): the LM
  * state of the chosen path threads span→span within a document, as the
  * wrapper threads the keraslm traceback line→line
  * (wrapper/decode.py:118-159). */
object LmDecoder {

  private final case class Hyp(cost: Double, text: List[String], state: Any)

  /** Best path through the lattice under fstWeight + lmWeight * lmCost,
    * beam-pruned per lattice node. Returns (corrected line, final LM
    * state of the best hypothesis). */
  def decode(lattice: Lattice, lm: LmScorer)(startState: lm.State,
      lmWeight: Double = 0.5, beamWidth: Int = 100,
      beamClusteringDist: Double = 0.0): (Option[String], lm.State) = {
    val n = lattice.nTokens
    if (n == 0) return (None, startState)
    val beams = Array.fill(n + 1)(mutable.ArrayBuffer.empty[Hyp])
    beams(0) += Hyp(0.0, Nil, startState)
    var i = 0
    while (i < n) {
      val beam = beams(i)
      if (beam.nonEmpty) {
        var j = 1
        while (i + j <= n) {
          lattice.edges.get((i, i + j)).foreach { alts =>
            for (h <- beam; alt <- alts) {
              val prefixSpace = if (i > 0) " " else ""
              val (ns, lmCost) =
                lm.advance(h.state.asInstanceOf[lm.State], prefixSpace + alt.text)
              beams(i + j) += Hyp(h.cost + alt.weight + lmWeight * lmCost,
                alt.text :: h.text, ns)
            }
          }
          j += 1
        }
      }
      i += 1
      // beam clustering (decode.py:134-141 semantics): sort by cost,
      // drop any hypothesis whose LM state lies within
      // beamClusteringDist of an already-kept (cheaper) hypothesis —
      // near-identical histories collapse to their best representative
      // BEFORE width pruning, so the beam spends its slots on
      // genuinely distinct histories. 0 disables (the reference's
      // BEAM_CLUSTERING_ENABLE=False path).
      if (beamClusteringDist > 0 && beams(i).length > 1) {
        val sorted = beams(i).sortBy(_.cost)
        val kept = mutable.ArrayBuffer.empty[Hyp]
        sorted.foreach { h =>
          val clustered = kept.exists(k =>
            lm.stateDistance(k.state.asInstanceOf[lm.State],
              h.state.asInstanceOf[lm.State]) <= beamClusteringDist)
          if (!clustered) kept += h
        }
        beams(i).clear(); beams(i) ++= kept
      }
      // beam width prune
      if (beams(i).length > beamWidth) {
        val kept = beams(i).sortBy(_.cost).take(beamWidth)
        beams(i).clear(); beams(i) ++= kept
      }
      ()
    }
    if (beams(n).isEmpty) (None, startState)
    else {
      val best = beams(n).minBy(_.cost)
      (Some(best.text.reverse.mkString(" ")), best.state.asInstanceOf[lm.State])
    }
  }

  /** Correct one line with LM rescoring, without a window memo. */
  def correctLineLm(line: String, model: CompiledModel, lm: LmScorer)(
      state: lm.State, lmWeight: Double = 0.5, beamWidth: Int = 100,
      beamClusteringDist: Double = 0.0): (String, lm.State) =
    lineLm(line, model, null, lm)(state, lmWeight, beamWidth, beamClusteringDist)

  /** correctLineLm with windows looked up in `cache` (null: none). */
  private def lineLm(line: String, model: CompiledModel, cache: AltCache,
      lm: LmScorer)(state: lm.State, lmWeight: Double, beamWidth: Int,
      beamClusteringDist: Double): (String, lm.State) = {
    if (graft.tokenize.Tokenizer.splitInputString(line).isEmpty)
      return (line, state)
    val lattice = Corrector.latticeFromString(line, model, cache)
    val (out, ns) = decode(lattice, lm)(state, lmWeight, beamWidth,
      beamClusteringDist)
    (out.getOrElse(line), ns)
  }

  /** Line corrector for one document: its lines, in order, share LM
    * state (the wrapper's traceback threading, G7). */
  private def lineCorrector(model: CompiledModel, lm: LmScorer, lmWeight: Double,
      beamWidth: Int, cache: AltCache,
      beamClusteringDist: Double = 0.0): String => String = {
    var state = lm.initialState
    line => {
      val (out, ns) = lineLm(line, model, cache, lm)(state, lmWeight,
        beamWidth, beamClusteringDist)
      state = ns
      out
    }
  }

  /** Document-level sequential fold: lines in offset order share LM
    * state; media spans pass through (and do not advance the LM). The
    * sequential reference of [[decoder]]: no window memo. */
  def correctDocLm(doc: graft.pipeline.Doc, model: CompiledModel,
      lm: LmScorer, lmWeight: Double = 0.5, beamWidth: Int = 100,
      beamClusteringDist: Double = 0.0): graft.pipeline.Doc =
    CorrectionJob.correctSpans(doc, lineCorrector(model, lm, lmWeight,
      beamWidth, null, beamClusteringDist), None)

  /** LM rescoring as a [[CorrectionJob.correctDocs]] decoder: the same
    * fold as correctDocLm, docs embarrassingly parallel, windows looked
    * up in the model's memo. A doc is scored by the `byContext` LM of
    * its decade (scorerFor), else by `lm`. */
  def decoder(lm: Broadcast[LmScorer], lmWeight: Double = 0.5,
      beamWidth: Int = 100,
      byContext: Option[Broadcast[Map[Int, LmScorer]]] = None)
      : CorrectionJob.Decoder = { m =>
    val fallback = lm.value
    val contexts = byContext.fold(Map.empty[Int, LmScorer])(_.value)
    d => lineCorrector(m, scorerFor(contexts, fallback, d.doc_id),
      lmWeight, beamWidth, m.windowMemo)
  }

  /** G10 `_get_context_from_identifier` (wrapper/decode.py:254-262):
    * decade-of-publication context id from a document identifier — last
    * path segment, last '_'-separated token; numeric year -> ceil(y/10),
    * anything else -> 0. The reference feeds this to the keraslm rater
    * as an extra model input; here it SELECTS a per-context LM. */
  def contextFromIdentifier(identifier: String): Seq[Int] = {
    if (identifier == null || identifier.isEmpty) return Seq(0)
    // split(sep, -1): Java's default split DROPS trailing empty tokens,
    // so "grenzboten_1841/" or "1841_" would resolve to decade 185 —
    // Python's split('/')[-1] / split('_')[-1] yields '' there and the
    // reference falls back to context [0]; -1 preserves the trailing
    // empty segment. A 10+-digit "year" would overflow toInt (Python's
    // int() is unbounded) — maps to the no-context default instead of
    // killing the executor task.
    val year = identifier.split("/", -1).lastOption
      .flatMap(_.split("_", -1).lastOption).getOrElse("")
    if (year.nonEmpty && year.length <= 9 && year.forall(_.isDigit))
      Seq(math.ceil(year.toInt / 10.0).toInt)
    else Seq(0)
  }

  /** Per-context LM selection (the keraslm-context analogue at our
    * pluggable-LM abstraction): pick the scorer trained for the
    * document's decade, falling back to the default for unknown
    * contexts (context 0 included). */
  def scorerFor(byContext: Map[Int, LmScorer], fallback: LmScorer,
      identifier: String): LmScorer =
    contextFromIdentifier(identifier).headOption
      .flatMap(byContext.get).getOrElse(fallback)

  /** correctDocLm with decade-context LM selection from doc_id. */
  def correctDocLmContextual(doc: graft.pipeline.Doc, model: CompiledModel,
      byContext: Map[Int, LmScorer], fallback: LmScorer,
      lmWeight: Double = 0.5, beamWidth: Int = 100,
      beamClusteringDist: Double = 0.0): graft.pipeline.Doc =
    correctDocLm(doc, model, scorerFor(byContext, fallback, doc.doc_id),
      lmWeight, beamWidth, beamClusteringDist)
}
