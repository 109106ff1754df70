package graft.wfst

import scala.collection.mutable

/** Labels are Unicode code points. 0 = epsilon; -1 = SIGMA (identity
  * wildcard, matches any non-epsilon symbol — used only inside compiled
  * error models, cf. the universal acceptor over the merged symbol table
  * in the reference, lib/error_simp.py:264-271; we use a wildcard arc
  * instead of enumerating the alphabet, same semantics over any input).
  */
object Label {
  final val Eps = 0
  final val Sigma = -1
}

/** One transition (object view; the machine stores arcs in CSR primitive
  * arrays — this class exists for construction and tests). */
final case class Arc(ilabel: Int, olabel: Int, weight: Double, dst: Int)

/** Per-thread reusable buffers for the compose/prune/connect hot path.
  * The correction cascade runs millions of windows per task and the
  * miss path was measured allocation-bound at >8 threads (GC + memory
  * bandwidth shared across the whole JVM): fresh hash maps, queues, CSR
  * temporaries and distance arrays per window were the dominant traffic.
  * One Scratch per thread (ThreadLocal in `Wfst`), growable, never
  * shrunk; returned machines NEVER alias scratch — final CSR arrays are
  * always freshly sized exact copies. */
private[wfst] final class Scratch {
  val map = new LongIntMap(1 << 12)
  val sink = new ArcSink(1 << 12)
  // product-state-indexed (expandBounded / assemblePruned)
  var pairA = new Array[Int](1 << 10)
  var pairB = new Array[Int](1 << 10)
  var dist = new Array[Double](1 << 10)
  var rangeStart = new Array[Int](1 << 10)
  var rangeLen = new Array[Int](1 << 10)
  var flags = new Array[Boolean](1 << 10) // SPFA in-queue (false at state creation)
  var queue = new Array[Int](1 << 11)
  var look = new Array[Int](1 << 6) // left-state lookahead labels (expandBounded)
  // reachability / trim / prune temporaries
  var mark = new Array[Boolean](1 << 10)
  var stack = new Array[Int](1 << 10)
  var indeg = new Array[Int](1 << 10)
  var revOff = new Array[Int](1 << 10)
  var revSrc = new Array[Int](1 << 12)
  var revW = new Array[Double](1 << 12) // reverse-arc weights (fused prune)
  var remap = new Array[Int](1 << 10)
  var fwd = new Array[Double](1 << 10)
  var bwd = new Array[Double](1 << 10)
  // completion check (composeBoundedPruned's `next`), run inside
  // expandBounded. The visited (product state s, next state r) pairs:
  // pair index s * next.numStates + r below Scratch.DenseMax in the
  // bitset reachBits (all zero between calls: every exit of the search
  // clears the reachSeenN bits it lists in reachSeen), above it in the
  // hash set reachSet. The pairs still to expand are the first
  // reachDepth entries of reachStack; while the search is paused, the
  // top one is the parked pair, whose layer is not final yet.
  var reachBits = new Array[Long](1 << 8)
  var reachSeen = new Array[Int](1 << 8)
  var reachSeenN = 0
  val reachSet = new LongIntMap(1 << 6)
  var reachStack = new Array[Long](1 << 8)
  var reachDepth = 0
  // the layer `low` at which the last composeBoundedPruned's completion
  // check stopped the expansion, else -1 (Wfst.abortLayer)
  var abortLayer = -1
  // queued product states per left-machine layer: an entry counts from
  // its push until its pop's expansion ends, so a layer whose count and
  // every lower layer's count are 0 gets no state, distance or arc again
  var layerQueued = new Array[Int](1 << 6)
  // rmEpsilon closure FIFO (SPFA relaxation; scala PriorityQueue was
  // tried first — it routes every enqueue through Seq+addAll+iterator
  // and boxes tuples — then a primitive heap, but closures are tiny
  // glue chains and plain FIFO relaxation beat both)
  var heapS = new Array[Int](256)
  // dense product-state id table (compose fast path when
  // leftN * rightN <= Scratch.DenseMax): one array read replaces the
  // hash probe chain (JFR: LongIntMap.idx was 13.5% of flagship
  // self-time — three dependent cache misses per lookup). Stamp array
  // gives O(1) clear, same trick as LongIntMap's epoch.
  var denseId = new Array[Int](0)
  var denseStamp = new Array[Int](0)
  var denseEpoch = 0
  def ensureDense(n: Int): Unit = {
    if (n > denseId.length) {
      denseId = new Array[Int](n)
      denseStamp = new Array[Int](n)
      denseEpoch = 0
    }
    if (denseEpoch == Int.MaxValue) {
      java.util.Arrays.fill(denseStamp, 0)
      denseEpoch = 0
    }
    denseEpoch += 1
  }

  /** Marks the completion search's pair (s, r) visited (`nextN` =
    * next.numStates) and pushes it when it was not. */
  def reach(s: Int, r: Int, nextN: Int): Unit = {
    val k = s.toLong << 32 | r
    val i = s.toLong * nextN + r
    val fresh =
      if (i < Scratch.DenseMax) {
        val w = i.toInt >>> 6
        if (w >= reachBits.length) reachBits = java.util.Arrays.copyOf(reachBits,
          math.min(math.max(reachBits.length << 1, w + 1), Scratch.DenseMax >>> 6))
        val word = reachBits(w)
        val unseen = (word & 1L << i) == 0
        if (unseen) {
          reachBits(w) = word | 1L << i
          if (reachSeenN == reachSeen.length)
            reachSeen = java.util.Arrays.copyOf(reachSeen, reachSeenN << 1)
          reachSeen(reachSeenN) = i.toInt; reachSeenN += 1
        }
        unseen
      } else reachSet.getOrElse(k, -1) < 0 && { reachSet.put(k, 0); true }
    if (fresh) {
      if (reachDepth == reachStack.length)
        reachStack = java.util.Arrays.copyOf(reachStack, reachDepth << 1)
      reachStack(reachDepth) = k; reachDepth += 1
    }
  }

  /** Ends a completion search: its bits are zero again, its stack empty. */
  def endReach(): Unit = {
    var v = 0
    while (v < reachSeenN) { reachBits(reachSeen(v) >>> 6) = 0L; v += 1 }
    reachSeenN = 0; reachDepth = 0
  }

  def growStates(n: Int): Unit = if (n > pairA.length) {
    val c = math.max(pairA.length << 1, n)
    pairA = java.util.Arrays.copyOf(pairA, c)
    pairB = java.util.Arrays.copyOf(pairB, c)
    dist = java.util.Arrays.copyOf(dist, c)
    rangeStart = java.util.Arrays.copyOf(rangeStart, c)
    rangeLen = java.util.Arrays.copyOf(rangeLen, c)
    flags = java.util.Arrays.copyOf(flags, c)
  }
}

private[wfst] object Scratch {
  /** Max product-space size for the dense compose id table: 1M entries
    * = 8 MB of per-thread scratch worst-case (grown lazily to the max
    * actually used). On perfbench's model the error-model step needs
    * up to ~42k (window chain × 1,754 error-FST states) and the lexicon
    * step ≈70–220 error-step states × 1,803 window-FST states (≈125k–
    * 400k), so both take the dense path. Above this the hash map takes
    * over; in the specs only the widened window of `WfstPropertySpec`
    * gets there.
    *
    * It also bounds the completion check's visited bitset
    * (`reachBits`, 128 KB at most): a (product state, next state) pair
    * whose index s * next.numStates + r is below it takes a bit, and
    * one at or above it goes to the hash set `reachSet`. The product's
    * state count is not known while the search runs inside the
    * expansion, so the split is per pair. */
  val DenseMax = 1 << 20

  def ensureInt(a: Array[Int], n: Int): Array[Int] =
    if (a.length >= n) a else new Array[Int](math.max(a.length << 1, n))
  def ensureBool(a: Array[Boolean], n: Int): Array[Boolean] =
    if (a.length >= n) a else new Array[Boolean](math.max(a.length << 1, n))
  def ensureDouble(a: Array[Double], n: Int): Array[Double] =
    if (a.length >= n) a else new Array[Double](math.max(a.length << 1, n))
}

/** Growable primitive arc store used by all builders. */
private[wfst] final class ArcSink(cap0: Int = 64) {
  var il = new Array[Int](cap0)
  var ol = new Array[Int](cap0)
  var wt = new Array[Double](cap0)
  var ds = new Array[Int](cap0)
  var n = 0
  def add(i: Int, o: Int, w: Double, d: Int): Unit = {
    if (n == il.length) {
      val c = n << 1
      il = java.util.Arrays.copyOf(il, c); ol = java.util.Arrays.copyOf(ol, c)
      wt = java.util.Arrays.copyOf(wt, c); ds = java.util.Arrays.copyOf(ds, c)
    }
    il(n) = i; ol(n) = o; wt(n) = w; ds(n) = d; n += 1
  }
}

/** One-label lookahead tables of a machine used as the RIGHT operand of
  * compose: the label-lookahead filter of OpenFst's generalized
  * composition (Allauzen, Riley & Schalkwyk, Interspeech 2009). Built
  * once per machine instance (`Wfst.lookahead`); read-only after that.
  *
  * `accepts(r, y)`: can a product state (p, r) move or finish when the
  * left state p's only move reads y (y > 0), or when p has no move left
  * (y = End)? A Σ-input arc of r matches any y and an eps-input arc moves
  * r alone; with the input used up, only eps-input arcs and r's final
  * weight can still lead to an accepting path. When it says no, (p, r)
  * has no arc and no final weight: a dead leaf.
  *
  * `listAt`: for each group of `MinGroup` or more arcs that leave one
  * state with one input label (the fan-out of an error model's Σ* hub),
  * the group's arcs whose destination accepts y, in arc order, so the
  * expander visits only those. Keyed by (the group's first arc, y); a y
  * that no destination reads shares the `Other` list (Σ and eps-input
  * destinations only). */
private[wfst] final class Lookahead(m: Wfst) {
  import Lookahead._

  private val flags: Array[Byte] = {
    val fin = m.finalWeightDense
    Array.tabulate(m.numStates) { r =>
      var b = if (fin(r).isInfinity) 0 else Final
      var k = m.off(r)
      while (k < m.off(r + 1) && m.il(k) <= Label.Eps) { // Σ, eps sort first
        b |= (if (m.il(k) == Label.Eps) EpsIn else SigmaIn)
        k += 1
      }
      b.toByte
    }
  }

  def accepts(r: Int, y: Int): Boolean =
    if (y == End) (flags(r) & (EpsIn | Final)) != 0
    else (flags(r) & (EpsIn | SigmaIn)) != 0 || reads(r, y)

  private def reads(r: Int, y: Int): Boolean = {
    val end = m.off(r + 1)
    var lo = m.off(r); var hi = end
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (m.il(mid) < y) lo = mid + 1 else hi = mid
    }
    lo < end && m.il(lo) == y
  }

  private def key(lo: Int, y: Int): Long = lo.toLong << 32 | (y & 0xffffffffL)
  private val at = new LongIntMap(64)
  /** Per indexed (group, y): the list length, then the arc ids. */
  val lists: Array[Int] = buildLists()

  /** Candidates for the list of y are the group's arcs into a Σ or
    * eps-input state plus those whose destination has a y arc (all arcs
    * for End); `accepts` filters them. Labels read by no such
    * destination share the `Other` list. */
  private def buildLists(): Array[Int] = {
    val out = new IntList(256)
    val wild = new IntList(64) // arcs into a Σ or eps-input state
    val cand = new IntList(64)
    var byLabel = new Array[Long](64) // (label << 32 | arc) per non-wild arc
    def list(lo: Int, y: Int, from: IntList): Unit = {
      val len = out.n
      at.put(key(lo, y), len)
      out.add(0)
      var i = 0
      while (i < from.n) {
        if (accepts(m.ds(from.a(i)), y)) out.add(from.a(i))
        i += 1
      }
      out.a(len) = out.n - len - 1
    }
    var q = 0
    while (q < m.numStates) {
      val qHi = m.off(q + 1)
      var lo = m.off(q)
      while (lo < qHi && m.il(lo) < Label.Eps) lo += 1 // Σ arcs: not indexed
      while (lo < qHi) {
        var hi = lo + 1
        while (hi < qHi && m.il(hi) == m.il(lo)) hi += 1
        if (hi - lo >= MinGroup) {
          wild.n = 0; cand.n = 0
          var nr = 0
          var j = lo
          while (j < hi) {
            val r = m.ds(j)
            cand.add(j)
            if ((flags(r) & (EpsIn | SigmaIn)) != 0) wild.add(j)
            else {
              var k = m.off(r)
              while (k < m.off(r + 1)) {
                if (m.il(k) > 0 && (k == m.off(r) || m.il(k) != m.il(k - 1))) {
                  if (nr == byLabel.length) byLabel = java.util.Arrays.copyOf(byLabel, nr << 1)
                  byLabel(nr) = m.il(k).toLong << 32 | j; nr += 1
                }
                k += 1
              }
            }
            j += 1
          }
          list(lo, End, cand)
          list(lo, Other, wild)
          java.util.Arrays.sort(byLabel, 0, nr)
          var i = 0
          while (i < nr) {
            val y = (byLabel(i) >>> 32).toInt
            cand.n = 0
            var w = 0
            while (i < nr && (byLabel(i) >>> 32).toInt == y) {
              val a = byLabel(i).toInt
              while (w < wild.n && wild.a(w) < a) { cand.add(wild.a(w)); w += 1 }
              cand.add(a); i += 1
            }
            while (w < wild.n) { cand.add(wild.a(w)); w += 1 }
            list(lo, y, cand)
          }
        }
        lo = hi
      }
      q += 1
    }
    out.toArray
  }

  /** Offset in `lists` of the indexed group starting at arc `lo`,
    * filtered for lookahead y. */
  def listAt(lo: Int, y: Int): Int = {
    val o = at.getOrElse(key(lo, y), -1)
    if (o >= 0) o else at.getOrElse(key(lo, Other), -1)
  }
}

private[wfst] object Lookahead {
  /** Left-state lookahead: `Free` = no constraint (several moves, an
    * eps-output move, or final with a move left), `End` = no move left,
    * else the one label the left state reads next. `Other` stands for a
    * label no destination of a group reads (not a code point). */
  final val Free = Label.Eps
  final val End = -2
  final val Other = Int.MaxValue
  final val MinGroup = 8
  private final val SigmaIn = 1
  private final val EpsIn = 2
  private final val Final = 4
}

/** Immutable weighted finite-state transducer over the tropical semiring
  * (plus = min, times = +), the semiring of the reference's OpenFst
  * models (weights are -ln(relative_frequency), lib/helper.py:135).
  *
  * Storage is CSR (compressed sparse row): per-state arc ranges
  * [off(s), off(s+1)) over four parallel primitive arrays. This keeps the
  * per-window cascade cache-friendly and allocation-light — the engine
  * runs 32+ threads per executor and the pointer-chasing object layout
  * was measured to halve per-thread throughput beyond 8 threads.
  *
  * From-scratch pure-Scala library (no Spark deps) compiled on the
  * driver and broadcast; per-line work happens inside `mapPartitions`
  * closures (SURVEY.md §1 row 1.7).
  */
@SerialVersionUID(1L) // pinned: ModelIO artifacts must survive method additions
final class Wfst private (
    val start: Int,
    val numStates: Int,
    val off: Array[Int],      // length numStates+1
    val il: Array[Int],
    val ol: Array[Int],
    val wt: Array[Double],
    val ds: Array[Int],
    val finState: Array[Int], // ascending
    val finWt: Array[Double]
) extends Serializable {

  def numArcs: Int = off(numStates)

  def finalWeight(s: Int): Double = {
    val i = java.util.Arrays.binarySearch(finState, s)
    if (i >= 0) finWt(i) else Double.PositiveInfinity
  }

  /** Dense final-weight table (+inf = non-final), built lazily once per
    * machine instance (once per executor for broadcast models) — turns
    * the per-product-state finalWeight binarySearch in the compose hot
    * path into an array read. The build race is idempotent, but the
    * publication must be SAFE: a plain var would let another executor
    * thread observe the array reference before its element stores on
    * weakly-ordered CPUs (ARM), reading 0.0 "final weights" for
    * arbitrary states. @volatile orders the fill before the reference
    * store (one volatile read per call — in the noise vs the array
    * reads it replaces). */
  @transient @volatile private var finDense0: Array[Double] = _
  private[wfst] def finalWeightDense: Array[Double] = {
    var d = finDense0
    if (d == null) {
      d = new Array[Double](math.max(numStates, 1))
      java.util.Arrays.fill(d, Double.PositiveInfinity)
      var i = 0
      while (i < finState.length) { d(finState(i)) = finWt(i); i += 1 }
      finDense0 = d
    }
    d
  }

  /** Lookahead tables for this machine as a compose's right operand,
    * built lazily once per instance and published like finDense0.
    * Transient: never serialized, so broadcast and ModelIO bytes are
    * those of the arrays alone. */
  @transient @volatile private var look0: Lookahead = _
  private[wfst] def lookahead: Lookahead = {
    var l = look0
    if (l == null) { l = new Lookahead(this); look0 = l }
    l
  }

  /** Compatibility views (tests, debugging; not on the hot path). */
  def finals: Map[Int, Double] =
    finState.indices.map(i => finState(i) -> finWt(i)).toMap
  def arcs: Array[Array[Arc]] =
    Array.tabulate(numStates) { s =>
      (off(s) until off(s + 1)).map(a => Arc(il(a), ol(a), wt(a), ds(a))).toArray
    }

  // ---------------------------------------------------------------- rational ops

  /** Union (pynini `union`): new start with eps arcs to both operands. */
  def union(that: Wfst): Wfst = {
    val b = new WfstBuilder(1 + this.numStates + that.numStates)
    b.addArc(0, Label.Eps, Label.Eps, 0.0, 1 + this.start)
    b.addArc(0, Label.Eps, Label.Eps, 0.0, 1 + this.numStates + that.start)
    b.copyMachine(this, 1)
    b.copyMachine(that, 1 + this.numStates)
    var i = 0
    while (i < this.finState.length) {
      b.setFinal(this.finState(i) + 1, this.finWt(i)); i += 1
    }
    i = 0
    while (i < that.finState.length) {
      b.setFinal(that.finState(i) + 1 + this.numStates, that.finWt(i)); i += 1
    }
    b.result(0)
  }

  /** Concatenation: eps arcs from this's finals (carrying the final
    * weight) to that's start. */
  def concat(that: Wfst): Wfst = {
    val o = this.numStates
    val b = new WfstBuilder(o + that.numStates)
    b.copyMachine(this, 0)
    b.copyMachine(that, o)
    var i = 0
    while (i < this.finState.length) {
      b.addArc(this.finState(i), Label.Eps, Label.Eps, this.finWt(i), o + that.start)
      i += 1
    }
    i = 0
    while (i < that.finState.length) {
      b.setFinal(that.finState(i) + o, that.finWt(i)); i += 1
    }
    b.result(this.start)
  }

  /** 0-or-1 repetition (pynini `.ques`, lib/lexicon.py:179-184). */
  def ques: Wfst = Wfst.epsilonFst.union(this)

  /** Bounded closure accepting `lo` to `hi` repetitions (pynini
    * `closure(lo, hi)`, lib/latticegen.py:137, lib/error_simp.py:298). */
  def closure(lo: Int, hi: Int): Wfst = {
    require(hi >= lo && lo >= 0, s"bad closure bounds ($lo,$hi)")
    var r: Wfst = Wfst.epsilonFst
    var i = 0
    while (i < lo) { r = r.concat(this); i += 1 }
    while (i < hi) { r = r.concat(this.ques); i += 1 }
    r
  }

  /** Copy output labels onto the input tape (pynini
    * `project(project_output=True)`, lib/latticegen.py:49). */
  def projectOutput: Wfst =
    new Wfst(start, numStates, off, ol, ol, wt, ds, finState, finWt)

  /** Swap tapes (pynini `invert`, lib/error_st.py:276). */
  def invert: Wfst =
    new Wfst(start, numStates, off, ol, il, wt, ds, finState, finWt)

  // ---------------------------------------------------------------- cleanup ops

  /** Remove eps:eps arcs by tropical eps-closure (part of pynini
    * `optimize()`; det/min are perf-only — SURVEY.md §4). Arcs with eps
    * on only one tape are preserved (they transduce). */
  def rmEpsilon: Wfst = rmEpsilon(trim = true)

  /** `trim = false` skips the final connect: inside the per-window
    * cascade the result feeds a compose or a path enumeration, both of
    * which explore only from the start state, so the eps-bypassed
    * (now unreachable) states are never visited and the trim is pure
    * overhead; public callers keep the trimmed default. */
  def rmEpsilon(trim: Boolean): Wfst = {
    if (numStates == 0) return this
    val n = numStates
    // states with eps:eps out-arcs
    var anyEps = false
    var a = 0
    val total = numArcs
    while (a < total && !anyEps) {
      if (il(a) == Label.Eps && ol(a) == Label.Eps) anyEps = true
      a += 1
    }
    if (!anyEps) return this
    val sc = Wfst.scratch.get()
    val b = new WfstBuilder(n)
    val finW = finalWeightDense
    // scratch: dist/seen are stamp-guarded (fwd/indeg are free here;
    // connect at the end uses indeg only after the loop is done)
    sc.fwd = Scratch.ensureDouble(sc.fwd, n)
    sc.indeg = Scratch.ensureInt(sc.indeg, n)
    val dist = sc.fwd
    val seen = sc.indeg // stamp per source state
    java.util.Arrays.fill(seen, 0, n, -1)
    val members = new IntList(16)
    // FIFO relaxation over each eps-closure (SPFA). Closures here are
    // tiny glue chains; a Dijkstra heap's sift traffic dominated the
    // profile, while SPFA converges in one or two passes and needs no
    // ordering structure. Weights >= 0 and the machine is finite, so
    // relaxation terminates.
    var qh = 0
    var qt = 0
    def qpush(t: Int): Unit = {
      if (qt == sc.heapS.length)
        sc.heapS = java.util.Arrays.copyOf(sc.heapS, qt << 1)
      sc.heapS(qt) = t; qt += 1
    }
    var s = 0
    while (s < n) {
      // fast path: no eps:eps out-arcs => the closure is {s} alone; copy
      // arcs and final verbatim (the overwhelmingly common case — only
      // glue states carry eps:eps)
      var hasEps = false
      var k0 = off(s)
      val k0Hi = off(s + 1)
      while (k0 < k0Hi && !hasEps) {
        if (il(k0) == Label.Eps && ol(k0) == Label.Eps) hasEps = true
        k0 += 1
      }
      if (!hasEps) {
        k0 = off(s)
        while (k0 < k0Hi) { b.addArc(s, il(k0), ol(k0), wt(k0), ds(k0)); k0 += 1 }
        if (finW(s) != Double.PositiveInfinity) b.setFinal(s, finW(s))
        s += 1
      } else {
      // eps-closure from s (FIFO relaxation over eps:eps arcs)
      qh = 0; qt = 0; members.n = 0
      dist(s) = 0.0; seen(s) = s; members.add(s)
      qpush(s)
      while (qh < qt) {
        val u = sc.heapS(qh); qh += 1
        val d = dist(u)
        var k = off(u)
        while (k < off(u + 1)) {
          if (il(k) == Label.Eps && ol(k) == Label.Eps) {
            val nd = d + wt(k)
            val t = ds(k)
            if (seen(t) != s) {
              seen(t) = s; dist(t) = nd; members.add(t); qpush(t)
            } else if (nd < dist(t) - 1e-15) {
              dist(t) = nd; qpush(t)
            }
          }
          k += 1
        }
      }
      // closure final weight from the converged distances
      var newFin = Double.PositiveInfinity
      var mi0 = 0
      while (mi0 < members.n) {
        val t = members.a(mi0)
        if (finW(t) != Double.PositiveInfinity && dist(t) + finW(t) < newFin)
          newFin = dist(t) + finW(t)
        mi0 += 1
      }
      // emit non-eps arcs of every closure member, weighted by distance
      var mi = 0
      while (mi < members.n) {
        val t = members.a(mi)
        val d = dist(t)
        var k = off(t)
        while (k < off(t + 1)) {
          if (!(il(k) == Label.Eps && ol(k) == Label.Eps))
            b.addArc(s, il(k), ol(k), d + wt(k), ds(k))
          k += 1
        }
        mi += 1
      }
      if (newFin != Double.PositiveInfinity) b.setFinal(s, newFin)
      s += 1
      }
    }
    if (trim) b.result(start).connect else b.result(start)
  }

  /** Trim states not reachable from start or not co-reachable to a final
    * (pynini `connect`). Renumbers states. */
  def connect: Wfst = {
    if (numStates == 0) return this
    val n = numStates
    val sc = Wfst.scratch.get()
    sc.mark = Scratch.ensureBool(sc.mark, n)   // forward-reachable
    sc.stack = Scratch.ensureInt(sc.stack, n)
    val fwd = sc.mark; java.util.Arrays.fill(fwd, 0, n, false)
    val stack = sc.stack
    var sp = 0
    fwd(start) = true; stack(sp) = start; sp += 1
    while (sp > 0) {
      sp -= 1; val u = stack(sp)
      var k = off(u)
      while (k < off(u + 1)) {
        val d = ds(k)
        if (!fwd(d)) { fwd(d) = true; stack(sp) = d; sp += 1 }
        k += 1
      }
    }
    // reverse CSR (scratch; sc.indeg doubles as counters then cursors)
    val total = numArcs
    sc.indeg = Scratch.ensureInt(sc.indeg, n)
    java.util.Arrays.fill(sc.indeg, 0, n, 0)
    var k = 0
    while (k < total) { sc.indeg(ds(k)) += 1; k += 1 }
    sc.revOff = Scratch.ensureInt(sc.revOff, n + 1)
    val revOff = sc.revOff
    revOff(0) = 0
    var u = 0
    while (u < n) { revOff(u + 1) = revOff(u) + sc.indeg(u); u += 1 }
    sc.revSrc = Scratch.ensureInt(sc.revSrc, math.max(total, 1))
    val revSrc = sc.revSrc
    u = 0
    while (u < n) { sc.indeg(u) = revOff(u); u += 1 }
    u = 0
    while (u < n) {
      k = off(u)
      while (k < off(u + 1)) {
        val d = ds(k); revSrc(sc.indeg(d)) = u; sc.indeg(d) += 1; k += 1
      }
      u += 1
    }
    // co-reachable (sc.flags is safe scratch here: expandBounded
    // re-initializes its in-queue flags at state creation)
    sc.flags = Scratch.ensureBool(sc.flags, n)
    val bwd = sc.flags; java.util.Arrays.fill(bwd, 0, n, false)
    sp = 0
    var i = 0
    while (i < finState.length) {
      val f = finState(i)
      if (fwd(f) && !bwd(f)) { bwd(f) = true; stack(sp) = f; sp += 1 }
      i += 1
    }
    while (sp > 0) {
      sp -= 1; val v = stack(sp)
      var r = revOff(v)
      while (r < revOff(v + 1)) {
        val p = revSrc(r)
        if (!bwd(p)) { bwd(p) = true; stack(sp) = p; sp += 1 }
        r += 1
      }
    }
    if (!(fwd(start) && bwd(start))) return Wfst.emptyFst
    sc.remap = Scratch.ensureInt(sc.remap, n)
    val remap = sc.remap
    var kept = 0
    u = 0
    while (u < n) {
      if (fwd(u) && bwd(u)) { remap(u) = kept; kept += 1 } else remap(u) = -1
      u += 1
    }
    if (kept == n) return this
    // rebuild CSR directly
    val nOff = new Array[Int](kept + 1)
    u = 0
    while (u < n) {
      if (remap(u) >= 0) {
        var c = 0
        k = off(u)
        while (k < off(u + 1)) { if (remap(ds(k)) >= 0) c += 1; k += 1 }
        nOff(remap(u) + 1) = c
      }
      u += 1
    }
    var t = 0
    while (t < kept) { nOff(t + 1) += nOff(t); t += 1 }
    val m = nOff(kept)
    val nIl = new Array[Int](m); val nOl = new Array[Int](m)
    val nWt = new Array[Double](m); val nDs = new Array[Int](m)
    u = 0
    while (u < n) {
      if (remap(u) >= 0) {
        var p = nOff(remap(u))
        k = off(u)
        while (k < off(u + 1)) {
          if (remap(ds(k)) >= 0) {
            nIl(p) = il(k); nOl(p) = ol(k); nWt(p) = wt(k); nDs(p) = remap(ds(k))
            p += 1
          }
          k += 1
        }
      }
      u += 1
    }
    // finals: ascending finState + monotone remap => already sorted
    var fCount = 0
    i = 0
    while (i < finState.length) {
      if (remap(finState(i)) >= 0) fCount += 1
      i += 1
    }
    val fs = new Array[Int](fCount); val fw = new Array[Double](fCount)
    var fi = 0
    i = 0
    while (i < finState.length) {
      if (remap(finState(i)) >= 0) {
        fs(fi) = remap(finState(i)); fw(fi) = finWt(i); fi += 1
      }
      i += 1
    }
    new Wfst(remap(start), kept, nOff, nIl, nOl, nWt, nDs, fs, fw)
  }

  // ---------------------------------------------------------------- distances

  /** Topological order if acyclic (Kahn), else null. The per-window
    * machines of the correction cascade are all DAGs — distance
    * computations use linear DP there and fall back to Dijkstra on
    * cyclic machines (e.g. compiled error models with sigma loops). */
  private def topoOrderOrNull: Array[Int] = {
    val n = numStates
    val indeg = new Array[Int](n)
    var k = 0
    val total = numArcs
    while (k < total) { indeg(ds(k)) += 1; k += 1 }
    val order = new Array[Int](n)
    var head = 0; var tail = 0
    var u = 0
    while (u < n) { if (indeg(u) == 0) { order(tail) = u; tail += 1 }; u += 1 }
    while (head < tail) {
      val v = order(head); head += 1
      k = off(v)
      while (k < off(v + 1)) {
        indeg(ds(k)) -= 1
        if (indeg(ds(k)) == 0) { order(tail) = ds(k); tail += 1 }
        k += 1
      }
    }
    if (tail == n) order else null
  }

  /** Shortest distance from each state to a final state (+inf where
    * none is reachable): linear DP on acyclic machines, Dijkstra
    * otherwise. */
  def reverseDistances: Array[Double] = {
    val n = numStates
    val dist = Array.fill(n)(Double.PositiveInfinity)
    if (n == 0) return dist
    val topo = topoOrderOrNull
    var i = 0
    while (i < finState.length) { dist(finState(i)) = finWt(i); i += 1 }
    if (topo != null) {
      i = n - 1
      while (i >= 0) {
        val u = topo(i)
        var k = off(u)
        while (k < off(u + 1)) {
          val nd = wt(k) + dist(ds(k))
          if (nd < dist(u)) dist(u) = nd
          k += 1
        }
        i -= 1
      }
    } else {
      val revCnt = new Array[Int](n)
      var k = 0
      val total = numArcs
      while (k < total) { revCnt(ds(k)) += 1; k += 1 }
      val revOff = new Array[Int](n + 1)
      var u = 0
      while (u < n) { revOff(u + 1) = revOff(u) + revCnt(u); u += 1 }
      val revSrc = new Array[Int](total)
      val revW = new Array[Double](total)
      val fill = revOff.clone()
      u = 0
      while (u < n) {
        k = off(u)
        while (k < off(u + 1)) {
          val d = ds(k); revSrc(fill(d)) = u; revW(fill(d)) = wt(k); fill(d) += 1
          k += 1
        }
        u += 1
      }
      val pq = mutable.PriorityQueue.empty[(Double, Int)](Ordering.by(-_._1))
      i = 0
      while (i < finState.length) { pq.enqueue((finWt(i), finState(i))); i += 1 }
      while (pq.nonEmpty) {
        val (d, v) = pq.dequeue()
        if (d <= dist(v) + 1e-15) {
          var r = revOff(v)
          while (r < revOff(v + 1)) {
            val nd = d + revW(r)
            if (nd < dist(revSrc(r)) - 1e-15) {
              dist(revSrc(r)) = nd; pq.enqueue((nd, revSrc(r)))
            }
            r += 1
          }
        }
      }
    }
    dist
  }

  // ---------------------------------------------------------------- compose

  /** Presort arcs by ilabel (pynini `arcsort`, lib/latticegen.py:205) so
    * compose can range-scan matches. Sigma (-1) sorts first. */
  def arcSort: Wfst = {
    val n = numStates
    val nIl = il.clone(); val nOl = ol.clone()
    val nWt = wt.clone(); val nDs = ds.clone()
    val idx = new Array[Integer](numArcs) // per-state sort via boxed idx (compile-time only)
    var s = 0
    while (s < n) {
      val lo = off(s); val hi = off(s + 1)
      var i = lo
      while (i < hi) { idx(i) = Integer.valueOf(i); i += 1 }
      java.util.Arrays.sort(idx, lo, hi,
        (a: Integer, b: Integer) => Integer.compare(il(a), il(b)))
      i = lo
      while (i < hi) {
        val src = idx(i).intValue()
        nIl(i) = il(src); nOl(i) = ol(src); nWt(i) = wt(src); nDs(i) = ds(src)
        i += 1
      }
      s += 1
    }
    new Wfst(start, n, off, nIl, nOl, nWt, nDs, finState, finWt)
  }

  /** Mohri weight pushing toward the initial state over the tropical
    * semiring: reweights by the potential phi(q) = best residual cost to
    * a final (reverseDistances), so every coaccessible state's cheapest
    * continuation costs 0. Total accepting-path weights are preserved
    * (phi telescopes along the path; phi(start) is folded back into the
    * start state's out-arcs and final weight — valid only when no arc
    * re-enters start, which holds for every graft builder; a reentrant
    * start returns `this` unchanged). Non-coaccessible states keep
    * their weights (connect() removes them anyway). This is the
    * reference's `result.push()` on the compiled lexicon
    * (lib/lexicon.py:193); it also aligns shared-suffix residuals so
    * `minimizeAcyclic` can actually merge them. */
  def pushWeights: Wfst = {
    if (numStates == 0 || finState.isEmpty) return this
    val phi = reverseDistances
    val phiS = phi(start)
    if (phiS == Double.PositiveInfinity) return this
    val total = numArcs
    var k = 0
    while (k < total) { if (ds(k) == start) return this; k += 1 }
    val nWt = new Array[Double](total)
    var s = 0
    while (s < numStates) {
      val ps = phi(s)
      val comp = if (s == start) phiS else 0.0
      var a = off(s)
      while (a < off(s + 1)) {
        val pd = phi(ds(a))
        nWt(a) =
          if (ps == Double.PositiveInfinity || pd == Double.PositiveInfinity)
            wt(a)
          else wt(a) + pd - ps + comp
        a += 1
      }
      s += 1
    }
    val nFinW = new Array[Double](finWt.length)
    var f = 0
    while (f < finState.length) {
      val q = finState(f) // phi(q) finite: q is final
      nFinW(f) = finWt(f) - phi(q) + (if (q == start) phiS else 0.0)
      f += 1
    }
    new Wfst(start, numStates, off, il, ol, nWt, ds, finState, nFinW)
  }

  /** Suffix-sharing minimization of an acyclic machine (Revuz/DAWG,
    * generalized to weighted transducer arcs): states are merged
    * bottom-up (reverse topological order) when their outgoing behavior
    * — final weight plus the multiset of (ilabel, olabel, weight-bits,
    * destination class) — is identical. Merging states with equal
    * weighted suffix behavior preserves the weighted relation on ANY
    * machine; on a deterministic acceptor after `pushWeights` it reaches
    * the canonical minimum. Cyclic machines return `this` unchanged.
    * Exact duplicate arcs created by destination merging are collapsed.
    * This is the reference's `result.optimize()` on the compiled lexicon
    * (lib/lexicon.py:192) — perf-only: smaller broadcast artifact and a
    * denser compose product. Output arcs are (ilabel, olabel)-sorted
    * per state (arcSort invariant). */
  def minimizeAcyclic: Wfst = {
    val topo = topoOrderOrNull
    if (topo == null || numStates <= 1) return this
    val classOf = new Array[Int](numStates)
    val sigMap = mutable.HashMap.empty[scala.collection.immutable.ArraySeq[Long], Int]
    val repOf = new IntList
    var i = numStates - 1
    while (i >= 0) {
      val s = topo(i)
      val lo = off(s); val deg = off(s + 1) - lo
      // signature: [finalBits, (il<<32|ol, wBits, class) per arc, sorted]
      val sig = new Array[Long](1 + deg * 3)
      sig(0) = java.lang.Double.doubleToLongBits(finalWeight(s))
      val keys = new Array[(Long, Long, Long)](deg)
      var a = 0
      while (a < deg) {
        keys(a) = ((il(lo + a).toLong << 32) | (ol(lo + a).toLong & 0xffffffffL),
          java.lang.Double.doubleToLongBits(wt(lo + a)),
          classOf(ds(lo + a)).toLong)
        a += 1
      }
      java.util.Arrays.sort(keys, Ordering[(Long, Long, Long)])
      a = 0
      while (a < deg) {
        sig(1 + a * 3) = keys(a)._1
        sig(2 + a * 3) = keys(a)._2
        sig(3 + a * 3) = keys(a)._3
        a += 1
      }
      classOf(s) = sigMap.getOrElseUpdate(
        scala.collection.immutable.ArraySeq.unsafeWrapArray(sig),
        { repOf.add(s); repOf.n - 1 })
      i -= 1
    }
    if (sigMap.size == numStates) return this // nothing merged
    val b = new WfstBuilder(sigMap.size)
    var c = 0
    while (c < repOf.n) {
      val s = repOf.a(c)
      val fw = finalWeight(s)
      if (fw != Double.PositiveInfinity) b.setFinal(c, fw)
      val lo = off(s); val hi = off(s + 1)
      var a = lo
      while (a < hi) {
        // skip exact duplicates (same label pair/weight, merged dest)
        var dup = false
        var p = lo
        while (p < a && !dup) {
          dup = il(p) == il(a) && ol(p) == ol(a) && wt(p) == wt(a) &&
            classOf(ds(p)) == classOf(ds(a))
          p += 1
        }
        if (!dup) b.addArc(c, il(a), ol(a), wt(a), classOf(ds(a)))
        a += 1
      }
      c += 1
    }
    b.result(classOf(start)).arcSort
  }

  /** Composition with the trivial epsilon filter, fused with
    * projectOutput and prune(pruneTh): the cascade's lexicon step. It is
    * `composeBoundedPruned` with no weight bound. */
  def composePruned(that: Wfst, pruneTh: Double): Wfst =
    composeBoundedPruned(that, Double.PositiveInfinity, pruneTh)

  /** Weight-bounded composition fused with projectOutput and
    * prune(pruneTh) — OpenFst/pynini `prune(weight=th)`
    * (lib/latticegen.py:50): keep only arcs on some accepting path of
    * weight <= best + pruneTh. The result is built in ONE exact-size
    * materialization.
    *
    * Composition uses the trivial epsilon filter: joint moves on equal
    * non-eps symbols (Sigma on the right matches any symbol, identity),
    * left-alone moves on eps-output arcs, right-alone moves on eps-input
    * arcs. Duplicate-free as long as at most one side carries eps on the
    * shared tape — true everywhere in this pipeline (left inputs are
    * rmEpsilon'd first, cf. SURVEY.md §2 row B5). `that` must be
    * arcSort'd.
    *
    * Product states are only expanded along prefixes of weight <=
    * maxWeight (SPFA-style relaxation: a state is re-expanded when a
    * cheaper prefix is found, so no state reachable within the bound is
    * missed). This is EXACTLY the unbounded result whenever the product
    * has a 0-weight accepting path and maxWeight >= pruneTh — true for
    * the error-model step of the cascade (the Σ* identity path): every
    * path the prune keeps has total <= 0 + pruneTh, and with
    * non-negative weights all its prefixes are <= maxWeight too. This is
    * the beam-during-search that keeps dense error models (10^4+
    * confusion types) from exploding the per-window product.
    *
    * Dead ends are never created (one-label lookahead, see `Lookahead`).
    * When the left state p's only arc reads y, a product state (p, q) is
    * created only if q has a y arc, a Σ-input arc or an eps-input arc;
    * when p has no arc, only if q is final or has an eps-input arc; other
    * left states (several arcs, an eps-output arc, or final with an arc)
    * take every q. A skipped state has no arc and no final weight: it
    * lies on no accepting path, so the prune (any finite pruneTh) would
    * drop it and every arc into it, and as it is never expanded it
    * changes no other state's distance, queue order, creation order or
    * arcs. The result is array-identical to the unfiltered expansion's.
    * In the error-model step the left machine is the window's chain, and
    * on the benchmark model ~90% of the states the unfiltered expansion
    * creates are such dead ends.
    *
    * `next` (arcSort'd, optional) is the machine the result will be
    * composed with next. When it is given, the expansion runs a
    * completion check (label lookahead one cascade step ahead,
    * Allauzen, Riley & Schalkwyk 2009): an unweighted depth-first search
    * over (product state, `next` state) pairs with the expander's
    * trivial-eps-filter moves (joint on a product arc's output equal to
    * `next`'s input label or to its Σ, left alone on an eps-output arc,
    * right alone on an eps-input arc), which stops at the first pair
    * final in all three machines. When it finds none, no output string
    * of the expanded product is read by `next`, and the result is
    * `Wfst.emptyFst`. That is exact for a caller that composes the
    * result with `next` and keeps nothing when that product has no
    * accepting path, as `composePruned` does: the pruned result's arcs
    * are a subset of the expansion's, so it has no string `next` reads
    * either.
    *
    * The search runs inside the expansion (Mohri 2002: a distance is
    * final once everything before it in topological order is).
    *  - Layers. When every arc of `this` leads to a higher state id (a
    *    forward-numbered machine, as `Wfst.acceptor` chains are), a
    *    product state's layer is its left state, and no product arc
    *    leads to a lower layer. Any other left machine, cyclic ones
    *    included, is one layer.
    *  - Finality invariant. The expander counts its queued states per
    *    layer, each until its pop's expansion ends. States at layers
    *    <= k are created, re-queued and expanded only by the expansion
    *    of states at layers <= k, so once none of them is queued, their
    *    set, their distances and their arc ranges are final: those of
    *    the finished expansion.
    *  - The search expands a pair only once its layer is final. When the
    *    pair on top of its stack is at a later layer, it pauses there
    *    (the pair is parked) until that layer is final, so it visits the
    *    pairs in the order a search after the expansion would, and a
    *    window that completes costs the same search.
    *  - Abort rule. When the search has no pair left to expand, parked
    *    or not, it has expanded every pair it can reach, each on its
    *    final arcs, and none is final: the expansion stops at once and
    *    the result is `Wfst.emptyFst`. Otherwise the expansion runs to
    *    its end and the result is assembled as without `next`, array for
    *    array. A one-layer machine's layer is final only when the queue
    *    drains, so its search runs after the expansion.
    *  - Abort layer. The stop records `low`, the first layer that was not
    *    final yet (`Wfst.abortLayer`): every pair the search expanded
    *    lies below it.
    *  - Dead prefix. Let `this` be the chain of a string `a`
    *    (`Wfst.acceptor` of a window), and let the check stop at `low`
    *    <= |a| - 1 (code points). Take any longer chain that starts with
    *    `a` (the window `a b`), with the same `that`, bound and `next`.
    *    Its states 0..|a| - 1 read the same labels as `a`'s, so the two
    *    products have the same states and distances at layers <= |a| - 1
    *    (a state at a higher layer creates and re-queues no state below
    *    it), and the same arcs out of layers <= |a| - 2. Only layer |a|
    *    differs: its lookahead is End in one and the next label (`" "`)
    *    in the other, so the arcs out of layer |a| - 1 may differ. Every
    *    pair the search on `a` expanded lies at a layer < `low`, so at
    *    <= |a| - 2, and neither chain is final there. So the search on
    *    the longer chain reaches the same pairs, finds none final in all
    *    three machines and stops too: its result is `Wfst.emptyFst` as
    *    well. With `low` = |a| the search expanded arcs out of layer
    *    |a| - 1, and nothing follows. */
  def composeBoundedPruned(that: Wfst, maxWeight: Double,
      pruneTh: Double, next: Wfst = null): Wfst = {
    val sc = Wfst.scratch.get()
    sc.abortLayer = -1
    if (this.numStates == 0 || that.numStates == 0) return Wfst.emptyFst
    val n = expandBounded(that, maxWeight, sc, next)
    if (n < 0) Wfst.emptyFst else assemblePruned(sc, n, that, pruneTh)
  }

  /** Advances the completion search of `composeBoundedPruned` over the
    * product in scratch: pops pairs from sc.reachStack and expands those
    * whose layer is below `low` (final), pushing the unseen pairs their
    * moves reach. Returns `Wfst.SearchFound` at the first pair final in
    * all three machines, `Wfst.SearchDone` when no pair is left, or else
    * the layer of the parked pair on top of the stack. The first two
    * exits clear the visited bits. */
  private def completionSearch(sc: Scratch, that: Wfst, next: Wfst,
      low: Int, layerMask: Int): Int = {
    val sink = sc.sink
    val thisFin = this.finalWeightDense
    val thatFin = that.finalWeightDense
    val nextFin = next.finalWeightDense
    val nextN = next.numStates
    // depth first: the last move pushed is expanded first, and the
    // expander emits a state's Σ (identity) arcs last, so a window the
    // next machine reads as it stands completes without a wide search
    var result = Wfst.SearchDone
    while (sc.reachDepth > 0 && result == Wfst.SearchDone) {
      val top = sc.reachStack(sc.reachDepth - 1)
      val s = (top >>> 32).toInt
      val r = top.toInt
      val layer = sc.pairA(s) & layerMask
      if (!thisFin(sc.pairA(s)).isInfinity && !thatFin(sc.pairB(s)).isInfinity &&
          !nextFin(r).isInfinity) result = Wfst.SearchFound
      else if (layer >= low) result = layer // parked
      else {
        sc.reachDepth -= 1
        val rLo = next.off(r); val rHi = next.off(r + 1)
        var sigmaEnd = rLo
        while (sigmaEnd < rHi && next.il(sigmaEnd) < Label.Eps) sigmaEnd += 1
        var be = sigmaEnd
        while (be < rHi && next.il(be) == Label.Eps) { sc.reach(s, next.ds(be), nextN); be += 1 }
        var k = sc.rangeStart(s); val e = k + sc.rangeLen(s)
        while (k < e) {
          val o = sink.ol(k); val d = sink.ds(k)
          if (o == Label.Eps) sc.reach(d, r, nextN)
          else {
            var j = rLo
            while (j < sigmaEnd) { sc.reach(d, next.ds(j), nextN); j += 1 }
            var lo = be; var hi = rHi
            while (lo < hi) {
              val mid = (lo + hi) >>> 1
              if (next.il(mid) < o) lo = mid + 1 else hi = mid
            }
            while (lo < rHi && next.il(lo) == o) { sc.reach(d, next.ds(lo), nextN); lo += 1 }
          }
          k += 1
        }
      }
    }
    if (result < 0) sc.endReach()
    result
  }

  /** Weight-bounded SPFA product expansion into scratch; returns the
    * product state count. sc.dist holds each state's exact shortest
    * prefix distance on return. With `next`, it runs the completion
    * check of `composeBoundedPruned` and returns -1, possibly before
    * the expansion ends, when `next` reads none of the outputs. */
  private def expandBounded(that: Wfst, maxWeight: Double, sc: Scratch,
      next: Wfst): Int = {
    if (next != null && next.numStates == 0) { sc.abortLayer = 0; return -1 }
    val lim = maxWeight + 1e-9
    val stateIds = sc.map; stateIds.clear()
    // arcs in the scratch sink; per-state (start,len) ranges — a
    // re-expansion appends a fresh range and repoints (stale ranges are
    // skipped in the final copy). No per-arc object allocation.
    val sink = sc.sink; sink.n = 0
    var nStates = 0
    // lookahead label of every left state (Lookahead.Free/End/label)
    val la = that.lookahead
    sc.look = Scratch.ensureInt(sc.look, this.numStates)
    val look = sc.look
    val thisFin = this.finalWeightDense
    val checking = next != null
    var fwd = checking // every left arc leads to a higher state id
    var ls = 0
    while (ls < this.numStates) {
      val k = this.off(ls)
      val n = this.off(ls + 1) - k
      look(ls) =
        if (n == 0) Lookahead.End
        else if (n == 1 && this.ol(k) > 0 && thisFin(ls).isInfinity) this.ol(k)
        else Lookahead.Free
      var a = k
      while (fwd && a < k + n) { fwd = this.ds(a) > ls; a += 1 }
      ls += 1
    }
    // the completion check's layers: left state & layerMask, so the
    // left states or one layer (see composeBoundedPruned)
    val layerMask = if (fwd) -1 else 0
    val nLayers = if (fwd) this.numStates else 1
    // dense fast path: direct-indexed id table when the product space
    // fits (the error-model cascade step is ~12 x ~1,754 — one array
    // read replaces three dependent hash-probe cache misses)
    val rightN = that.numStates
    val dense = this.numStates.toLong * rightN <= Scratch.DenseMax
    if (dense) sc.ensureDense(this.numStates * rightN)
    val dId = sc.denseId; val dSt = sc.denseStamp; val dEp = sc.denseEpoch
    def id(p: Int, q: Int): Int = {
      if (dense) {
        val di = p * rightN + q
        if (dSt(di) == dEp) dId(di)
        else {
          sc.growStates(nStates + 1)
          sc.pairA(nStates) = p; sc.pairB(nStates) = q
          sc.dist(nStates) = Double.PositiveInfinity
          sc.rangeStart(nStates) = 0; sc.rangeLen(nStates) = 0
          sc.flags(nStates) = false // in-queue flag, clean at creation
          dId(di) = nStates; dSt(di) = dEp
          nStates += 1
          nStates - 1
        }
      } else {
        val k = p.toLong << 32 | (q.toLong & 0xffffffffL)
        val existing = stateIds.getOrElse(k, -1)
        if (existing >= 0) existing
        else {
          sc.growStates(nStates + 1)
          sc.pairA(nStates) = p; sc.pairB(nStates) = q
          sc.dist(nStates) = Double.PositiveInfinity
          sc.rangeStart(nStates) = 0; sc.rangeLen(nStates) = 0
          sc.flags(nStates) = false // in-queue flag, clean at creation
          stateIds.put(k, nStates)
          nStates += 1
          nStates - 1
        }
      }
    }
    val s0 = id(this.start, that.start)
    sc.dist(s0) = 0.0
    // primitive FIFO + membership flags (no boxing on the hot path)
    var qHead = 0; var qTail = 0
    def push(t: Int): Unit = {
      if (qTail == sc.queue.length) {
        if (qHead > (sc.queue.length >> 1)) { // compact
          System.arraycopy(sc.queue, qHead, sc.queue, 0, qTail - qHead)
          qTail -= qHead; qHead = 0
        } else sc.queue = java.util.Arrays.copyOf(sc.queue, sc.queue.length << 1)
      }
      sc.queue(qTail) = t; qTail += 1
    }
    sc.flags(s0) = true; push(s0)
    // every layer below `low` is final; the search waits while its
    // parked pair's layer `parked` is not, and is over once `searching`
    // is false
    var low = 0
    var parked = this.start & layerMask
    var searching = checking
    if (checking) {
      sc.layerQueued = Scratch.ensureInt(sc.layerQueued, nLayers)
      java.util.Arrays.fill(sc.layerQueued, 0, nLayers, 0)
      sc.layerQueued(parked) = 1 // s0
      sc.reachSet.clear()
      sc.reach(s0, next.start, next.numStates)
    }
    while (qHead < qTail) {
      val cur = sc.queue(qHead); qHead += 1
      sc.flags(cur) = false
      val d0 = sc.dist(cur)
      val p = sc.pairA(cur); val q = sc.pairB(cur)
      val from = sink.n
      def emit(il2: Int, ol2: Int, w: Double, dp: Int, dq: Int): Unit = {
        val nd = d0 + w
        if (nd <= lim) {
          val t = id(dp, dq)
          sink.add(il2, ol2, w, t)
          if (nd < sc.dist(t) - 1e-15) {
            sc.dist(t) = nd
            if (!sc.flags(t)) {
              sc.flags(t) = true; push(t)
              if (checking) sc.layerQueued(dp & layerMask) += 1
            }
          }
        }
      }
      // the right arcs [lo, hi) of one input label, paired with the left
      // move into dp: a joint move adds the left arc's label and weight, a
      // right-alone move (joint = false) stays at left state dp = p. Only
      // arcs into right states that accept dp's lookahead are emitted.
      def emitGroup(lo: Int, hi: Int, joint: Boolean, lil: Int, lw: Double,
          dp: Int): Unit = {
        def emitArc(j: Int): Unit =
          emit(lil, that.ol(j), if (joint) lw + that.wt(j) else that.wt(j),
            dp, that.ds(j))
        val y = look(dp)
        if (y == Lookahead.Free) {
          var j = lo
          while (j < hi) { emitArc(j); j += 1 }
        } else if (hi - lo < Lookahead.MinGroup) {
          var j = lo
          while (j < hi) { if (la.accepts(that.ds(j), y)) emitArc(j); j += 1 }
        } else {
          val o = la.listAt(lo, y)
          var k = o + 1
          val e = k + la.lists(o)
          while (k < e) { emitArc(la.lists(k)); k += 1 }
        }
      }
      val bLo = that.off(q); val bHi = that.off(q + 1)
      var sigmaEnd = bLo
      while (sigmaEnd < bHi && that.il(sigmaEnd) < Label.Eps) sigmaEnd += 1
      var be = sigmaEnd
      while (be < bHi && that.il(be) == Label.Eps) be += 1
      emitGroup(sigmaEnd, be, joint = false, Label.Eps, 0.0, p)
      var ka = this.off(p)
      val kaHi = this.off(p + 1)
      while (ka < kaHi) {
        val aol = this.ol(ka)
        val dp = this.ds(ka)
        val y = look(dp)
        if (aol == Label.Eps) {
          if (y == Lookahead.Free || la.accepts(q, y))
            emit(this.il(ka), Label.Eps, this.wt(ka), dp, q)
        } else {
          var lo = be; var hi = bHi
          while (lo < hi) {
            val mid = (lo + hi) >>> 1
            if (that.il(mid) < aol) lo = mid + 1 else hi = mid
          }
          hi = bHi
          var gHi = lo
          while (gHi < hi) {
            val mid = (gHi + hi) >>> 1
            if (that.il(mid) <= aol) gHi = mid + 1 else hi = mid
          }
          hi = gHi
          emitGroup(lo, hi, joint = true, this.il(ka), this.wt(ka), dp)
          var si = bLo
          while (si < sigmaEnd) {
            if (y == Lookahead.Free || la.accepts(that.ds(si), y)) {
              val o2 = if (that.ol(si) == Label.Sigma) aol else that.ol(si)
              emit(this.il(ka), o2, this.wt(ka) + that.wt(si), dp, that.ds(si))
            }
            si += 1
          }
        }
        ka += 1
      }
      sc.rangeStart(cur) = from
      sc.rangeLen(cur) = sink.n - from
      if (searching) {
        sc.layerQueued(p & layerMask) -= 1
        while (low < nLayers && sc.layerQueued(low) == 0) low += 1
        if (low > parked) {
          parked = completionSearch(sc, that, next, low, layerMask)
          if (parked == Wfst.SearchDone) {
            sc.abortLayer = if (fwd) low else this.numStates
            return -1
          }
          searching = parked != Wfst.SearchFound
        }
      }
    }
    nStates
  }

  /** Fused projectOutput + prune straight from the scratch product
    * ranges: ONE exact-size CSR materialization. The forward distances
    * are the bounded expansion's converged sc.dist (exact shortest
    * prefix distances). */
  private def assemblePruned(sc: Scratch, nStates: Int, that: Wfst,
      pruneTh: Double): Wfst = {
    if (nStates == 0) return Wfst.emptyFst
    val sink = sc.sink
    val thisFin = this.finalWeightDense
    val thatFin = that.finalWeightDense
    def finW(i: Int): Double = {
      val wa = thisFin(sc.pairA(i))
      if (wa.isInfinity) wa
      else {
        val wb = thatFin(sc.pairB(i))
        if (wb.isInfinity) Double.PositiveInfinity else wa + wb
      }
    }
    val fwd = sc.dist
    // ---- reverse CSR (with weights) over the live ranges
    sc.indeg = Scratch.ensureInt(sc.indeg, nStates)
    java.util.Arrays.fill(sc.indeg, 0, nStates, 0)
    var total = 0
    var s = 0
    while (s < nStates) {
      var k = sc.rangeStart(s); val e = k + sc.rangeLen(s)
      total += sc.rangeLen(s)
      while (k < e) { sc.indeg(sink.ds(k)) += 1; k += 1 }
      s += 1
    }
    sc.revOff = Scratch.ensureInt(sc.revOff, nStates + 1)
    sc.revOff(0) = 0
    s = 0
    while (s < nStates) { sc.revOff(s + 1) = sc.revOff(s) + sc.indeg(s); s += 1 }
    sc.revSrc = Scratch.ensureInt(sc.revSrc, math.max(total, 1))
    sc.revW = Scratch.ensureDouble(sc.revW, math.max(total, 1))
    s = 0
    while (s < nStates) { sc.indeg(s) = sc.revOff(s); s += 1 }
    s = 0
    while (s < nStates) {
      var k = sc.rangeStart(s); val e = k + sc.rangeLen(s)
      while (k < e) {
        val d = sink.ds(k)
        sc.revSrc(sc.indeg(d)) = s; sc.revW(sc.indeg(d)) = sink.wt(k)
        sc.indeg(d) += 1
        k += 1
      }
      s += 1
    }
    // ---- backward shortest distances (SPFA from product-final states)
    sc.bwd = Scratch.ensureDouble(sc.bwd, nStates)
    val bwd = sc.bwd
    java.util.Arrays.fill(bwd, 0, nStates, Double.PositiveInfinity)
    java.util.Arrays.fill(sc.flags, 0, nStates, false)
    var qh = 0
    var qt = 0
    def qpush(t: Int): Unit = {
      if (qt == sc.queue.length)
        sc.queue = java.util.Arrays.copyOf(sc.queue, qt << 1)
      sc.queue(qt) = t; qt += 1
    }
    var i = 0
    while (i < nStates) {
      val f = finW(i)
      if (!f.isInfinity) { bwd(i) = f; sc.flags(i) = true; qpush(i) }
      i += 1
    }
    while (qh < qt) {
      val v = sc.queue(qh); qh += 1
      sc.flags(v) = false
      val d = bwd(v)
      var r = sc.revOff(v)
      while (r < sc.revOff(v + 1)) {
        val p = sc.revSrc(r)
        val nd = d + sc.revW(r)
        if (nd < bwd(p) - 1e-15) {
          bwd(p) = nd
          if (!sc.flags(p)) { sc.flags(p) = true; qpush(p) }
        }
        r += 1
      }
    }
    val best = bwd(0)
    if (best.isInfinity) return Wfst.emptyFst
    val lim = best + pruneTh + 1e-9
    // ---- remap + exact-size projected CSR (prune's state, arc and
    // final criteria)
    sc.remap = Scratch.ensureInt(sc.remap, nStates)
    var kept = 0
    s = 0
    while (s < nStates) {
      if (fwd(s) + bwd(s) <= lim) { sc.remap(s) = kept; kept += 1 }
      else sc.remap(s) = -1
      s += 1
    }
    val nOff = new Array[Int](kept + 1)
    s = 0
    while (s < nStates) {
      if (sc.remap(s) >= 0) {
        var c = 0
        var k = sc.rangeStart(s); val e = k + sc.rangeLen(s)
        while (k < e) {
          if (sc.remap(sink.ds(k)) >= 0 &&
              fwd(s) + sink.wt(k) + bwd(sink.ds(k)) <= lim) c += 1
          k += 1
        }
        nOff(sc.remap(s) + 1) = c
      }
      s += 1
    }
    var t = 0
    while (t < kept) { nOff(t + 1) += nOff(t); t += 1 }
    val m = nOff(kept)
    val nIl = new Array[Int](m); val nOl = new Array[Int](m)
    val nWt = new Array[Double](m); val nDs = new Array[Int](m)
    s = 0
    while (s < nStates) {
      if (sc.remap(s) >= 0) {
        var p = nOff(sc.remap(s))
        var k = sc.rangeStart(s); val e = k + sc.rangeLen(s)
        while (k < e) {
          if (sc.remap(sink.ds(k)) >= 0 &&
              fwd(s) + sink.wt(k) + bwd(sink.ds(k)) <= lim) {
            val o = sink.ol(k) // projectOutput fused: output on both tapes
            nIl(p) = o; nOl(p) = o; nWt(p) = sink.wt(k)
            nDs(p) = sc.remap(sink.ds(k)); p += 1
          }
          k += 1
        }
      }
      s += 1
    }
    // finals (ascending remap order; prune's criterion fwd + finW <= lim)
    var fCount = 0
    i = 0
    while (i < nStates) {
      if (sc.remap(i) >= 0 && fwd(i) + finW(i) <= lim) fCount += 1
      i += 1
    }
    val fs = new Array[Int](fCount); val fw = new Array[Double](fCount)
    var fi = 0
    i = 0
    while (i < nStates) {
      if (sc.remap(i) >= 0) {
        val f = finW(i)
        if (fwd(i) + f <= lim) { fs(fi) = sc.remap(i); fw(fi) = f; fi += 1 }
      }
      i += 1
    }
    new Wfst(sc.remap(0), kept, nOff, nIl, nOl, nWt, nDs, fs, fw)
  }

  // ---------------------------------------------------------------- decoding

  /** Enumerate all accepting paths (pynini `paths()`, used on pruned
    * acyclic window FSTs, lib/latticegen.py:150-181). Requires an acyclic
    * machine; guarded by a path budget. A depth-first search in arc
    * order on an explicit stack (a path may be as long as a token, so no
    * recursion): `path(d)` is the state at depth d, `next(d)` its next
    * arc and `pw(d)` the weight of the path up to it. */
  def paths(maxPaths: Int = 100000): Seq[(String, String, Double)] = {
    if (numStates == 0 || finState.isEmpty) return Seq.empty
    val acc = mutable.ArrayBuffer.empty[(String, String, Double)]
    val inb = new mutable.ArrayBuffer[Int]; val outb = new mutable.ArrayBuffer[Int]
    val onStack = new Array[Boolean](numStates)
    var path = new Array[Int](16); var next = new Array[Int](16)
    var pw = new Array[Double](16)
    var depth = 0
    def enter(s: Int, w: Double): Unit = {
      if (acc.length >= maxPaths)
        throw new IllegalStateException(s"paths() budget exceeded ($maxPaths)")
      if (onStack(s))
        throw new IllegalStateException("paths() on a cyclic FST")
      val fw = finalWeight(s)
      if (!fw.isInfinity) acc += ((cps(inb), cps(outb), w + fw))
      onStack(s) = true
      if (depth == path.length) {
        path = java.util.Arrays.copyOf(path, depth << 1)
        next = java.util.Arrays.copyOf(next, depth << 1)
        pw = java.util.Arrays.copyOf(pw, depth << 1)
      }
      path(depth) = s; next(depth) = off(s); pw(depth) = w; depth += 1
    }
    enter(start, 0.0)
    while (depth > 0) {
      val s = path(depth - 1)
      val k = next(depth - 1)
      if (k < off(s + 1)) {
        next(depth - 1) = k + 1
        if (il(k) > 0) inb += il(k)
        if (ol(k) > 0) outb += ol(k)
        enter(ds(k), pw(depth - 1) + wt(k))
      } else {
        onStack(s) = false
        depth -= 1
        if (depth > 0) { // leave the arc that led to s
          val a = next(depth - 1) - 1
          if (il(a) > 0) inb.remove(inb.length - 1)
          if (ol(a) > 0) outb.remove(outb.length - 1)
        }
      }
    }
    acc.toSeq
  }

  /** Hypothesis set with determinization semantics: distinct output
    * strings, each with its min path weight (what pynini's
    * `optimize()`-then-`paths()` yields on the output projection —
    * SURVEY.md §2 row B9). Sorted by (weight, string). */
  def distinctOutputs(maxPaths: Int = 100000): Seq[(String, Double)] = {
    val m = mutable.HashMap.empty[String, Double]
    paths(maxPaths).foreach { case (_, o, w) =>
      if (w < m.getOrElse(o, Double.PositiveInfinity)) m(o) = w
    }
    m.toSeq.sortBy { case (s, w) => (w, s) }
  }

  private def cps(b: mutable.ArrayBuffer[Int]): String = {
    val sb = new StringBuilder
    b.foreach(cp => sb.appendAll(Character.toChars(cp)))
    sb.result()
  }
}

/** Growable int list (CSR offsets). */
private[wfst] final class IntList(cap0: Int = 64) {
  var a = new Array[Int](cap0)
  var n = 0
  def add(v: Int): Unit = {
    if (n == a.length) a = java.util.Arrays.copyOf(a, n << 1)
    a(n) = v; n += 1
  }
  def toArray: Array[Int] = java.util.Arrays.copyOf(a, n)
}

/** Mutable machine builder: arcs arrive in any state order; `result`
  * bins them into CSR. */
private[graft] final class WfstBuilder(val numStates: Int) {
  private val srcs = new IntList(64)
  private val sink = new ArcSink(64)
  private val finW = Array.fill(numStates)(Double.PositiveInfinity)

  def addArc(s: Int, i: Int, o: Int, w: Double, d: Int): Unit = {
    srcs.add(s); sink.add(i, o, w, d)
  }
  def setFinal(s: Int, w: Double): Unit =
    if (w < finW(s)) finW(s) = w
  def copyMachine(m: Wfst, shift: Int): Unit = {
    var s = 0
    while (s < m.numStates) {
      var k = m.off(s)
      while (k < m.off(s + 1)) {
        addArc(s + shift, m.il(k), m.ol(k), m.wt(k), m.ds(k) + shift)
        k += 1
      }
      s += 1
    }
  }
  def result(start: Int): Wfst = Wfst.fromBuilder(start, numStates, srcs, sink, finW)
}

object Wfst {

  private[wfst] def fromBuilder(start: Int, n: Int, srcs: IntList,
      sink: ArcSink, finW: Array[Double]): Wfst = {
    val cnt = new Array[Int](n)
    var i = 0
    while (i < srcs.n) { cnt(srcs.a(i)) += 1; i += 1 }
    val off = new Array[Int](n + 1)
    var s = 0
    while (s < n) { off(s + 1) = off(s) + cnt(s); s += 1 }
    val m = off(n)
    val il = new Array[Int](m); val ol = new Array[Int](m)
    val wt = new Array[Double](m); val ds = new Array[Int](m)
    val fill = off.clone()
    i = 0
    while (i < srcs.n) {
      val p = fill(srcs.a(i)); fill(srcs.a(i)) += 1
      il(p) = sink.il(i); ol(p) = sink.ol(i); wt(p) = sink.wt(i); ds(p) = sink.ds(i)
      i += 1
    }
    val fb = mutable.ArrayBuffer.empty[(Int, Double)]
    s = 0
    while (s < n) {
      if (finW(s) != Double.PositiveInfinity) fb += ((s, finW(s)))
      s += 1
    }
    new Wfst(start, n, off, il, ol, wt, ds,
      fb.map(_._1).toArray, fb.map(_._2).toArray)
  }

  /** Construct from per-state arc arrays (tests / non-hot builders). */
  def apply(start: Int, finals: Map[Int, Double],
      arcsPerState: Array[Array[Arc]]): Wfst = {
    val n = arcsPerState.length
    val b = new WfstBuilder(n)
    var s = 0
    while (s < n) {
      arcsPerState(s).foreach(a => b.addArc(s, a.ilabel, a.olabel, a.weight, a.dst))
      s += 1
    }
    finals.foreach { case (st, w) => b.setFinal(st, w) }
    b.result(start)
  }

  // completionSearch's exits other than a parked pair's layer (>= 0)
  private final val SearchFound = -1
  private final val SearchDone = -2

  /** The empty-language machine. */
  val emptyFst: Wfst = apply(0, Map.empty, Array(Array.empty[Arc]))

  /** Accepts only the empty string with weight 0. */
  def epsilonFst: Wfst = apply(0, Map(0 -> 0.0), Array(Array.empty[Arc]))

  /** The layer `low` at which this thread's last `composeBoundedPruned`
    * stopped its expansion on the completion check (its abort rule), or
    * -1 when it did not stop. With a forward-numbered left machine every
    * product state whose left state is below it was final, and none of
    * the pairs the search expanded lies at or above it; a left machine
    * that is not forward-numbered reports its state count. Read it right
    * after the call: the next call on the thread resets it. */
  def abortLayer: Int = scratch.get().abortLayer

  /** Per-thread scratch buffers for the hot path (see Scratch). */
  private[wfst] val scratch: ThreadLocal[Scratch] =
    ThreadLocal.withInitial(() => new Scratch)

  /** Linear-chain identity acceptor of `s` with final weight `w`
    * (pynini `acceptor`, lib/latticegen.py:29-35). */
  def acceptor(s: String, w: Double = 0.0): Wfst = {
    val cps = s.codePoints().toArray
    val n = cps.length
    val off = Array.tabulate(n + 1 + 1)(i => math.min(i, n))
    val wt = new Array[Double](n)
    new Wfst(0, n + 1, off, cps, cps, wt,
      Array.tabulate(n)(_ + 1), Array(n), Array(w))
  }

  /** Weighted union of identity acceptors, trie-shared (pynini
    * `string_map` over a {string: weight} dict — transducer_from_dict,
    * lib/helper.py:139-148). */
  def fromStrings(items: Iterable[(String, Double)]): Wfst = {
    val children = mutable.ArrayBuffer(mutable.HashMap.empty[Int, Int])
    val fin = mutable.HashMap.empty[Int, Double]
    for ((s, w) <- items) {
      var cur = 0
      s.codePoints().forEach { cp =>
        cur = children(cur).getOrElseUpdate(cp, {
          children += mutable.HashMap.empty[Int, Int]
          children.length - 1
        })
      }
      if (w < fin.getOrElse(cur, Double.PositiveInfinity)) fin(cur) = w
    }
    val arr = children.map { m =>
      m.iterator.map { case (cp, dst) => Arc(cp, cp, 0.0, dst) }
        .toArray.sortBy(_.ilabel)
    }.toArray
    apply(0, fin.toMap, arr)
  }

  /** Weighted union of string-pair transducers (pynini `string_map` over
    * (input, output, weight) triples — transducer_from_list,
    * lib/error_simp.py:183-202). Shorter side padded with eps. */
  def fromMappings(items: Iterable[(String, String, Double)]): Wfst = {
    val states = mutable.ArrayBuffer(mutable.ArrayBuffer.empty[Arc])
    val fin = mutable.HashMap.empty[Int, Double]
    for ((is, os, w) <- items) {
      val icps = is.codePoints().toArray
      val ocps = os.codePoints().toArray
      val len = math.max(icps.length, ocps.length)
      var cur = 0
      var k = 0
      while (k < len) {
        val i = if (k < icps.length) icps(k) else Label.Eps
        val o = if (k < ocps.length) ocps(k) else Label.Eps
        states += mutable.ArrayBuffer.empty[Arc]
        val nxt = states.length - 1
        states(cur) += Arc(i, o, 0.0, nxt)
        cur = nxt
        k += 1
      }
      if (w < fin.getOrElse(cur, Double.PositiveInfinity)) fin(cur) = w
    }
    apply(0, fin.toMap, states.map(_.toArray).toArray)
  }

  /** Sigma-star: accepts any string with weight 0 (the universal acceptor
    * of combine_error_transducers, lib/error_simp.py:264-271, realized as
    * one wildcard self-loop instead of per-symbol loops). */
  def sigmaStar: Wfst =
    apply(0, Map(0 -> 0.0),
      Array(Array(Arc(Label.Sigma, Label.Sigma, 0.0, 0))))
}
