package graft.wfst

import scala.collection.mutable

/** Reference for the cascade's fused compose operations, written against
  * Wfst's public surface only (its constructors and the `arcs`/`finals`
  * views) and sharing no code with the product expander. Every step is
  * the plain textbook one: the product is built over all reachable state
  * pairs with no bound, the bound is applied afterwards by dropping arcs,
  * distances come from Bellman-Ford, the prune is OpenFst's arc criterion
  * and outputs come from path enumeration. Slow on purpose. */
object RefFst {

  private final case class PArc(src: Int, ol: Int, w: Double, dst: Int)

  /** Product with the trivial epsilon filter: joint moves on equal
    * non-eps symbols (a right Sigma input matches any symbol, a right
    * Sigma output copies it), left-alone moves on left eps outputs,
    * right-alone moves on right eps inputs. State 0 is the start. Only
    * output labels are kept: the result is projected anyway. */
  private def product(a: Wfst, b: Wfst): (Int, Seq[PArc], Map[Int, Double]) = {
    val aArcs = a.arcs; val bArcs = b.arcs
    val aFin = a.finals; val bFin = b.finals
    val ids = mutable.LinkedHashMap.empty[(Int, Int), Int]
    val todo = mutable.Queue.empty[(Int, Int)]
    def id(pq: (Int, Int)): Int =
      ids.getOrElseUpdate(pq, { todo.enqueue(pq); ids.size })
    val arcs = mutable.ArrayBuffer.empty[PArc]
    id((a.start, b.start))
    while (todo.nonEmpty) {
      val (p, q) = todo.dequeue()
      val s = ids((p, q))
      for (x <- aArcs(p)) {
        if (x.olabel == Label.Eps) arcs += PArc(s, Label.Eps, x.weight, id((x.dst, q)))
        else for (y <- bArcs(q) if y.ilabel == x.olabel || y.ilabel == Label.Sigma) {
          val o = if (y.olabel == Label.Sigma) x.olabel else y.olabel
          arcs += PArc(s, o, x.weight + y.weight, id((x.dst, y.dst)))
        }
      }
      for (y <- bArcs(q) if y.ilabel == Label.Eps)
        arcs += PArc(s, y.olabel, y.weight, id((p, y.dst)))
    }
    val finals = for {
      ((p, q), s) <- ids
      fa <- aFin.get(p)
      fb <- bFin.get(q)
    } yield s -> (fa + fb)
    (ids.size, arcs.toSeq, finals.toMap)
  }

  /** Single-source(s) shortest distances by Bellman-Ford. */
  private def bellmanFord(n: Int, sources: Map[Int, Double],
      edges: Seq[(Int, Int, Double)]): Array[Double] = {
    val d = Array.fill(n)(Double.PositiveInfinity)
    sources.foreach { case (s, w) => d(s) = math.min(d(s), w) }
    var changed = true
    var rounds = 0
    while (changed) {
      require(rounds <= n, "negative cycle")
      changed = false
      for ((u, v, w) <- edges) if (d(u) + w < d(v)) { d(v) = d(u) + w; changed = true }
      rounds += 1
    }
    d
  }

  /** compose -> drop arcs whose source distance plus weight exceeds
    * maxWeight -> projectOutput -> prune(th). Unpruned states stay in
    * the result (unreachable ones are harmless to enumeration). */
  def composeBoundedPruned(a: Wfst, b: Wfst, maxWeight: Double, th: Double): Wfst = {
    val (n, all, fin) = product(a, b)
    val d = bellmanFord(n, Map(0 -> 0.0), all.map(e => (e.src, e.dst, e.w)))
    val bounded = all.filter(e => d(e.src) + e.w <= maxWeight + 1e-9)
    val fwd = bellmanFord(n, Map(0 -> 0.0), bounded.map(e => (e.src, e.dst, e.w)))
    val bwd = bellmanFord(n, fin, bounded.map(e => (e.dst, e.src, e.w)))
    val best = bwd(0)
    if (best.isInfinity) return Wfst.emptyFst
    val lim = best + th + 1e-9
    val kept = bounded.filter(e => fwd(e.src) + e.w + bwd(e.dst) <= lim).groupBy(_.src)
    Wfst(0, fin.filter { case (s, f) => fwd(s) + f <= lim },
      Array.tabulate(n)(s => kept.getOrElse(s, Nil).map(e => Arc(e.ol, e.ol, e.w, e.dst)).toArray))
  }

  def composePruned(a: Wfst, b: Wfst, th: Double): Wfst =
    composeBoundedPruned(a, b, Double.PositiveInfinity, th)

  /** The window FST of lexicon_to_window_fst (lib/latticegen.py:127-139)
    * built as the reference builds it, (lex . " "){0..W-1} . lex with
    * `concat` and `closure`: the pieces joined by eps:eps glue. This is
    * the machine a model artifact saved before the eps-free construction
    * carries. */
  def glueWindowFst(lex: Wfst, wordsPerWindow: Int): Wfst =
    (if (wordsPerWindow == 1) lex
    else lex.concat(Wfst.acceptor(" ")).closure(0, wordsPerWindow - 1).concat(lex)).arcSort

  /** Distinct output strings with their minimum path weight, enumerated
    * over every accepting path (suffix sets memoized per state).
    * Requires an acyclic machine. */
  def outputs(f: Wfst): Map[String, Double] = {
    val arcs = f.arcs
    val fin = f.finals
    val memo = mutable.HashMap.empty[Int, Map[String, Double]]
    val onPath = mutable.Set.empty[Int]
    def from(s: Int): Map[String, Double] = memo.getOrElse(s, {
      require(onPath.add(s), "cyclic machine")
      val acc = mutable.HashMap.empty[String, Double]
      def offer(o: String, w: Double): Unit =
        if (w < acc.getOrElse(o, Double.PositiveInfinity)) acc(o) = w
      fin.get(s).foreach(offer("", _))
      for (a <- arcs(s)) {
        val head = if (a.olabel > 0) new String(Character.toChars(a.olabel)) else ""
        from(a.dst).foreach { case (o, w) => offer(head + o, a.weight + w) }
      }
      onPath -= s
      val r = acc.toMap
      memo(s) = r
      r
    })
    from(f.start)
  }
}
