package graft.correct

import graft.tokenize.Tokenizer
import graft.train.{Category, ErrorModelST, ErrorModelTrainer, Lexicon,
  LexiconBuilder}
import graft.wfst.{Wfst, WfstBuilder}
import scala.collection.mutable

/** One decoding alternative for a lattice edge: output string and
  * tropical weight (conf = 2^-weight at the PageXML surface — preserved
  * quirk of lib/latticegen.py:176). */
final case class Alt(text: String, weight: Double) {
  def conf: Double = math.pow(2.0, -weight)
}

/** Hypothesis lattice over token boundaries 0..nTokens
  * (lib/latticegen.py:150-181 graph form; the FST form is only ever
  * shortest-path'd, which `viterbi` does directly). */
final case class Lattice(nTokens: Int, edges: Map[(Int, Int), Seq[Alt]])

/** Compiled correction model, built once on the driver and broadcast
  * (the COW-fork analogue of scripts/process.py:14,55-70). Both FSTs are
  * arcSort'd for composition. serialVersionUID is PINNED from this
  * version FORWARD: Java's default UID hashes the member list, so
  * without the pin every future method/field addition would invalidate
  * saved ModelIO artifacts (as this round's lexiconFst addition did to
  * anything saved before the pin — a one-time break; from here on the
  * withWordsPerWindow null-field fallback below is reachable). */
@SerialVersionUID(1L)
final case class CompiledModel(
    errorFst: Option[Wfst],
    windowFst: Wfst,
    pruningWeight: Double = 5.0,
    rejectionWeight: Double = 1.5,
    maxWindowSize: Int = 2,
    wordsPerWindow: Int = 3,
    // the RAW lexicon FST (pre-window-closure), kept in the artifact so
    // words_per_window is a LOAD-time knob like the reference's -W
    // (scripts/process.py:102-104 applies it at model load; the window
    // closure is rebuilt from this via windowFstFrom)
    lexiconFst: Option[Wfst] = None) extends Serializable {

  /** Rebuild the window closure for a different words_per_window —
    * the reference's runtime -W (lib/latticegen.py:127-139 built at
    * init). Falls back to the baked window FST when the artifact
    * predates lexiconFst. */
  def withWordsPerWindow(w: Int): CompiledModel =
    lexiconFst match {
      case Some(lex) if w != wordsPerWindow =>
        copy(windowFst = CompiledModel.windowFstFrom(lex, w),
          wordsPerWindow = w)
      case _ => this
    }

  /** This instance's window memo. A broadcast value is one instance per
    * executor JVM, so its tasks share it, as the reference's fork pool
    * shares its model (scripts/process.py:14,55-70); it dies with the
    * instance, so no JVM-wide map is needed. Transient: a deserialized
    * copy, or a `copy`, starts cold. */
  def windowMemo: AltCache = {
    val c = memo0
    if (c != null) c
    else synchronized { if (memo0 == null) memo0 = new WindowMemo; memo0 }
  }
  @transient @volatile private var memo0: WindowMemo = _
}

object CompiledModel {
  /** One-time inference normalization of an error FST: collapse its
    * eps:eps glue (union/closure/concat artifacts of the model
    * BUILD, kept there because glue makes training fast) and arc-sort.
    * With an eps-free error model the per-window product contains no
    * eps:eps arcs at all, so the cascade's rmEpsilon degenerates to a
    * no-op scan — measured 2.2-2.5x on the miss path (JFR showed 25%
    * of flagship time inside per-window rmEpsilon). The arc count
    * grows (fixture model: 941 -> 24.7k arcs, ~600 KB) but that is a
    * one-time, per-broadcast cost; outputs are byte-identical (glue
    * weights are exact-zero sums). The window FST needs no such pass:
    * [[windowFstFrom]] builds it without glue. */
  def normalizeError(f: Wfst): Wfst = f.rmEpsilon.arcSort

  /** lexicon_to_window_fst (lib/latticegen.py:127-139), the language
    * (lex . " ")^{0..wordsPerWindow-1} . lex, built without eps glue:
    * `wordsPerWindow` copies of the lexicon FST, every final state of
    * a copy but the last with a `" "` arc to the next copy's start that
    * carries its final weight, and every copy's finals final. The
    * lexicon FST is eps-free and deterministic and its words hold no
    * whitespace, so the result is too, and the cascade's lexicon step
    * and completion check take no right-alone eps move. Path weights
    * are those of the glue construction (`concat`/`closure`): where its
    * eps arc carried the final weight, the `" "` arc now does, and its
    * other glue weights are exact zeros. Arcsorted (:205). */
  def windowFstFrom(lexiconFst: Wfst, wordsPerWindow: Int): Wfst = {
    val n = lexiconFst.numStates
    val b = new WfstBuilder(n * wordsPerWindow)
    var c = 0
    while (c < wordsPerWindow) {
      b.copyMachine(lexiconFst, c * n)
      var i = 0
      while (i < lexiconFst.finState.length) {
        val f = c * n + lexiconFst.finState(i)
        val fw = lexiconFst.finWt(i)
        b.setFinal(f, fw)
        if (c + 1 < wordsPerWindow) b.addArc(f, ' ', ' ', fw, (c + 1) * n + lexiconFst.start)
        i += 1
      }
      c += 1
    }
    b.result(lexiconFst.start).arcSort
  }

  /** Per-pair training emissions — the ONE definition both training
    * folds count, so trainSpark == train by construction (the shape of
    * CharNgramLm.lineKeys): the (0, category, token) lexicon rows of the
    * GT line (C2, lib/lexicon.py:105-139) and, `withConfusion`, the
    * (n, raw, gt) confusion n-grams of the aligned pair (D1,
    * lib/error_simp.py:52-102; n >= 1, a key space disjoint from the
    * lexicon's n = 0). */
  private def pairEmissions(ocr: String, gt: String, maxContext: Int,
      withConfusion: Boolean): Seq[((Int, String, String), Long)] = {
    val lex = LexiconBuilder.lineEmissions(gt)
      .map { case (c, t, f) => ((0, c, t), f) }
    if (!withConfusion) lex
    else lex ++ ErrorModelTrainer.confusionEmissions(ocr, gt, maxContext)
      .map { case (n, r, g) => ((n, r, g), 1L) }
  }

  /** The ONE model build of both training folds, from the summed
    * [[pairEmissions]] counts (scripts/train.py + FSTLatticeGenerator
    * init, lib/latticegen.py:198-212): the lexicon split by category
    * with the wordlist merged in verbatim (lib/lexicon.py:144-147) ->
    * lexiconToFst; the error model is `errorFst` when given (the ST
    * model) or else the n = 1..maxContext confusion dicts ->
    * compileSingle each -> combineErrorTransducers
    * (scripts/train.py:155-183). The counts are taken as they come,
    * not sorted: the FST compiles number states in map iteration order. */
  private def build(counts: Array[((Int, String, String), Long)],
      wordlist: Map[String, Long], errorFst: Option[Wfst],
      maxContext: Int, maxErrors: Int, wordsPerWindow: Int,
      pruningWeight: Double, rejectionWeight: Double,
      preservePunct: Boolean, addedWordCost: Double,
      unweightedLexicon: Boolean): CompiledModel = {
    val lexRows = counts.collect { case ((0, c, t), f) => (c, t, f) } ++
      wordlist.map { case (w, f) => (Category.Words, w, f) }
    def cat(c: String): Map[String, Long] =
      lexRows.filter(_._1 == c).groupBy(_._2)
        .map { case (t, rows) => t -> rows.map(_._3).sum }
    val lexicon = Lexicon(cat(Category.OpeningBracket),
      cat(Category.ClosingBracket), cat(Category.Punctuation),
      cat(Category.Words))
    val lexFst =
      LexiconBuilder.lexiconToFst(lexicon, addedWordCost, unweightedLexicon)
    val err = errorFst.getOrElse {
      val singles = (1 to maxContext).map { n =>
        ErrorModelTrainer.compileSingle(
          counts.collect { case ((`n`, r, g), c) => ((r, g), c) }.toMap,
          preservePunct)
      }
      ErrorModelTrainer.combineErrorTransducers(singles, maxErrors)
    }
    fromFsts(lexFst, Some(err), wordsPerWindow, pruningWeight,
      rejectionWeight)
  }

  /** Driver-side training from (ocr, gt) pairs + optional wordlist: the
    * local fold of [[pairEmissions]] into one count map, then [[build]]
    * — the same emissions and the same build as [[trainSpark]]. */
  def train(pairs: Iterable[(String, String)],
      wordlist: Map[String, Long] = Map.empty,
      maxContext: Int = 3, maxErrors: Int = 3,
      wordsPerWindow: Int = 3,
      pruningWeight: Double = 5.0,
      rejectionWeight: Double = 1.5,
      preservePunct: Boolean = false): CompiledModel = {
    val counts = mutable.HashMap.empty[(Int, String, String), Long]
    pairs.foreach { case (ocr, gt) =>
      pairEmissions(ocr, gt, maxContext, withConfusion = true).foreach {
        case (k, f) => counts(k) = counts.getOrElse(k, 0L) + f
      }
    }
    build(counts.toArray, wordlist, None, maxContext, maxErrors,
      wordsPerWindow, pruningWeight, rejectionWeight, preservePunct,
      addedWordCost = 0.0, unweightedLexicon = false)
  }

  def fromFsts(lexiconFst: Wfst, errorFst: Option[Wfst],
      wordsPerWindow: Int = 3, pruningWeight: Double = 5.0,
      rejectionWeight: Double = 1.5): CompiledModel =
    CompiledModel(errorFst.map(normalizeError),
      windowFstFrom(lexiconFst, wordsPerWindow),
      pruningWeight, rejectionWeight, 2, wordsPerWindow,
      lexiconFst = Some(lexiconFst.arcSort))

  /** Distributed training: the distributed fold of [[pairEmissions]] —
    * lexicon (C2) and confusion (D1) counts in ONE hash aggregation over
    * the full pair table — then the same [[build]] as [[train]]. Only
    * the aggregated counts (vocabulary / confusion-type sized) reach the
    * driver, the shape that holds at 100 TB (SURVEY.md §3.2). The "st"
    * error model (train.py -T st) needs no confusion counts: it is fit
    * by ErrorModelST.trainSt. */
  def trainSpark(spark: org.apache.spark.sql.SparkSession,
      pairs: org.apache.spark.sql.Dataset[(String, String)],
      wordlist: Map[String, Long] = Map.empty,
      maxContext: Int = 3, maxErrors: Int = 3,
      wordsPerWindow: Int = 3,
      pruningWeight: Double = 5.0,
      rejectionWeight: Double = 1.5,
      preservePunct: Boolean = false,
      errorModelType: String = "simple", // "simple" | "st" (train.py -T)
      addedWordCost: Double = 0.0, // lexicon_to_fst added_word_cost
      unweightedLexicon: Boolean = false): CompiledModel = {
    import spark.implicits._
    val st = errorModelType == "st"
    val counts = pairs
      .flatMap { case (ocr, gt) =>
        pairEmissions(ocr, gt, maxContext, withConfusion = !st)
      }
      .groupByKey(_._1).mapValues(_._2).reduceGroups(_ + _)
      .collect()
    val stFst =
      if (st) Some(ErrorModelST.trainSt(spark, pairs, maxN = maxContext,
        maxNgrams = 1000, maxErrors = maxErrors)._2)
      else None
    build(counts, wordlist, stFst, maxContext, maxErrors, wordsPerWindow,
      pruningWeight, rejectionWeight, preservePunct, addedWordCost,
      unweightedLexicon)
  }
}

/** Memo for per-window hypothesis sets: the correction is a pure
  * function of (window string, model) and natural-language tokens are
  * Zipf-distributed, so the overwhelmingly common windows become O(1)
  * lookups. */
trait AltCache {
  def getOrCompute(key: String)(f: => Seq[Alt]): Seq[Alt]
}

/** The memo behind [[CompiledModel.windowMemo]]. Insertion stops at
  * `MaxEntries`; lock-free reads keep serving the Zipf curve's hot head. */
private[correct] final class WindowMemo extends AltCache {
  import java.util.concurrent.ConcurrentHashMap
  import java.util.concurrent.atomic.AtomicLong
  private final val MaxEntries = 2000000L
  private val chm = new ConcurrentHashMap[String, Seq[Alt]](1 << 16)
  // approx counter instead of CHM.size(): size() traverses all bins and
  // was measured to serialize 32 miss-heavy threads
  private val approxSize = new AtomicLong(0L)

  def getOrCompute(key: String)(f: => Seq[Alt]): Seq[Alt] = {
    val v = chm.get(key)
    if (v != null) v
    else {
      val r = f
      if (approxSize.get() < MaxEntries) {
        if (chm.put(key, r) == null) approxSize.incrementAndGet()
      }
      r
    }
  }
}

/** Alias of [[CompiledModel.windowMemo]] for the benchmark harness. */
object SharedWindowCache {
  def forModel(m: CompiledModel): AltCache = m.windowMemo
}

/** The per-line correction dataflow, B1-B11 of SURVEY.md §2. Pure
  * functions — executed inside `mapPartitions` closures on executors. */
object Corrector {

  /** process_window (lib/latticegen.py:38-69): cascade each model FST:
    * compose -> project(output) -> prune -> optimize; union an identity
    * rejection hypothesis for single-token windows with weight
    * rejection_weight*(len+2) (the naive OOV model, :56-66). */
  def processWindow(inputStr: String, model: CompiledModel): Wfst =
    lexiconStep(inputStr, errorStep(inputStr, model), model)

  /** The error-model step of [[processWindow]].
    * The Σ* identity path guarantees a 0-weight accepting path, so
    * weight-bounded composition at the pruning threshold is EXACTLY
    * compose-then-prune — the beam applies during the search instead of
    * after it (dense confusion tables would otherwise explode the product
    * before prune sees it). The expansion also looks one label ahead on
    * the window's chain and never creates a product state that can
    * neither read the next character nor finish (most of the hub
    * fan-out); the pruned machine is array-identical to the one without
    * the lookahead (Wfst.composeBoundedPruned).
    * Completion check: the step is given the window FST as `next`. When
    * no output string of its expansion is a window-FST input (most
    * windows of novel text), it returns the empty machine and stops the
    * expansion at the first chain layer where the check's search has
    * nothing left (`Wfst.abortLayer`), and the lexicon step costs next to
    * nothing. The result is the same machine as without the check:
    *  - every arc of the pruned error machine is an arc of the expansion;
    *  - rmEpsilon keeps the language;
    *  - the lexicon step returns Wfst.emptyFst whenever its product has
    *    no accepting path.
    * The window FST is eps-free and deterministic ([[CompiledModel.windowFstFrom]]),
    * so neither the check nor the lexicon step takes a right-alone eps
    * move.
    * trim = false throughout: prune drops non-coaccessible states
    * itself, and downstream compose / path enumeration explore only
    * from the start state, so the intermediate connect passes are
    * pure overhead (measured ~15% of the miss path).
    * NOTE: dropping rmEpsilon entirely is semantically legal here
    * (compose treats left eps:eps arcs as left-alone moves and
    * paths()/distinctOutputs skip eps labels + dedup) but measured 2.7x
    * SLOWER — the uncollapsed eps chains multiply the next product's
    * state count; rmEpsilon earns its keep as compaction.
    * compose+project+prune are FUSED (one exact-size materialization
    * per step; the SPFA's converged distances double as prune's forward
    * distances — Wfst.assemblePruned). */
  private def errorStep(inputStr: String, model: CompiledModel): Wfst = {
    val w = Wfst.acceptor(inputStr)
    model.errorFst match {
      case Some(fst) => w.composeBoundedPruned(fst, model.pruningWeight,
        model.pruningWeight, model.windowFst).rmEpsilon(trim = false)
      case None => w
    }
  }

  /** The lexicon step of [[processWindow]] and the rejection hypothesis.
    * This last step keeps its eps arcs: nothing composes with its
    * machine again, and paths()/distinctOutputs skip eps labels — only
    * the error-model step's rmEpsilon earns its keep (compaction before
    * the lexicon compose; without it, 2.7x slower). */
  private def lexiconStep(inputStr: String, errorOut: Wfst,
      model: CompiledModel): Wfst = {
    val w = errorOut.composePruned(model.windowFst, model.pruningWeight)
    if (inputStr.contains(' ')) w
    else {
      val len = inputStr.codePointCount(0, inputStr.length)
      w.union(Wfst.acceptor(inputStr, model.rejectionWeight * (len + 2)))
    }
  }

  /** A cascade result's alternatives. Alternatives carry determinization
    * semantics: distinct strings, min weight (pynini optimize()+paths(),
    * SURVEY.md §2 row B9).
    * The cascade's last step keeps its eps arcs (perf: nothing composes
    * with it again, and enumeration skips eps). Two rare failure modes of
    * that shortcut are caught here and retried on the eps-free machine:
    * (1) eps-differing duplicate paths blowing distinctOutputs' path
    * budget on dense windows; (2) an eps cycle introduced by an
    * eps-cyclic window FST ("paths() on a cyclic FST"). rmEpsilon's SPFA
    * closure handles eps CYCLES fine (non-negative weights), so the
    * fallback always terminates. */
  private def alternatives(w: Wfst): Seq[Alt] = {
    val alts =
      try w.distinctOutputs()
      catch { case _: IllegalStateException =>
        w.rmEpsilon(trim = false).distinctOutputs()
      }
    alts.map { case (s, wt) => Alt(s, wt) }
  }

  /** The alternatives of one window (lib/latticegen.py:214-218 window,
    * [[processWindow]], enumeration), memoized in `cache` when given. */
  def windowAlternatives(winStr: String, model: CompiledModel,
      cache: AltCache): Seq[Alt] = {
    def compute = alternatives(processWindow(winStr, model))
    if (cache == null) compute else cache.getOrCompute(winStr)(compute)
  }

  /** Window enumeration (lib/latticegen.py:214-218) + per-window
    * processing; returns the lattice in graph form.
    *
    * Dead-prefix skip: when this call computes the window of tokens
    * i..i+j-1 and its error step's completion check stops at a chain
    * layer `low` below the window's length in code points
    * (`Wfst.abortLayer`), the error step of every longer window from
    * token i stops as well and returns the empty machine (the proof is
    * the "Dead prefix" item of `Wfst.composeBoundedPruned`). A window of
    * two or more tokens gets no rejection hypothesis, so such a window
    * has no alternatives and no edge, and it is not computed. On a memo
    * hit nothing is computed and the longer windows run as before: the
    * lattice is the same either way. */
  def latticeFromString(line: String, model: CompiledModel,
      cache: AltCache = null): Lattice = {
    val tokens = Tokenizer.splitInputString(line)
    val n = tokens.length
    val edges = mutable.HashMap.empty[(Int, Int), Seq[Alt]]
    var i = 0
    while (i < n) {
      var dead = false
      var j = 1
      while (!dead && j <= math.min(model.maxWindowSize, n - i)) {
        val winStr = tokens.slice(i, i + j).mkString(" ")
        def compute = {
          val e = errorStep(winStr, model)
          val low = if (model.errorFst.isEmpty) -1 else Wfst.abortLayer
          dead = low >= 0 && low < winStr.codePointCount(0, winStr.length)
          alternatives(lexiconStep(winStr, e, model))
        }
        val alts = if (cache == null) compute else cache.getOrCompute(winStr)(compute)
        if (alts.nonEmpty) edges((i, i + j)) = alts
        j += 1
      }
      i += 1
    }
    Lattice(n, edges.toMap)
  }

  /** Tropical shortest path through the lattice = the FST-form
    * recombine+shortestpath (lib/latticegen.py:72-124,142-147): windows
    * spliced between token boundaries, space-joined. */
  def viterbi(lattice: Lattice): Option[String] = {
    val n = lattice.nTokens
    if (n == 0) return None
    val best = Array.fill(n + 1)(Double.PositiveInfinity)
    val bp = Array.fill(n + 1)(-1)
    val bpAlt = Array.fill[Alt](n + 1)(null)
    best(0) = 0.0
    var i = 0
    while (i < n) {
      if (!best(i).isInfinity) {
        var j = 1
        while (i + j <= n) {
          lattice.edges.get((i, i + j)).foreach { alts =>
            val a = alts.head // sorted by (weight, text): head is argmin
            val cand = best(i) + a.weight
            if (cand < best(i + j)) {
              best(i + j) = cand; bp(i + j) = i; bpAlt(i + j) = a
            }
          }
          j += 1
        }
      }
      i += 1
    }
    if (best(n).isInfinity) None
    else {
      var parts = List.empty[String]
      var cur = n
      while (cur > 0) { parts ::= bpAlt(cur).text; cur = bp(cur) }
      Some(parts.mkString(" "))
    }
  }

  /** correct_string (scripts/process.py:30-40), FST path: line ->
    * lattice -> shortest path. Empty/whitespace-only lines pass through
    * unchanged (the reference never sees them: its loaders skip empties,
    * lib/helper.py:41-55). */
  def correctLine(line: String, model: CompiledModel,
      cache: AltCache = null): String = {
    if (Tokenizer.splitInputString(line).isEmpty) return line
    val lattice = latticeFromString(line, model, cache)
    viterbi(lattice).getOrElse(line)
  }
}
