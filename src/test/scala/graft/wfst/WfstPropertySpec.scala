package graft.wfst

import graft.Fixtures
import graft.align.{Aligner, Distance}
import graft.correct.{Alt, AltCache, CompiledModel, Corrector, Lattice}
import graft.tokenize.Tokenizer
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** Property-based invariants (SURVEY.md §5.2). Deterministic sampling
  * (fixed seeds) — the scalatestplus bridge is not in the offline cache,
  * so forAll is hand-rolled over ScalaCheck generators. */
class WfstPropertySpec extends AnyFunSuite {

  private def samples[A](g: Gen[A], n: Int = 80): Seq[A] =
    (0 until n).flatMap(i => g.apply(Gen.Parameters.default, Seed(7777L + i)))

  private def forAll[A](g: Gen[A])(f: A => Unit): Unit =
    samples(g).foreach(f)

  private def forAll[A, B](g1: Gen[A], g2: Gen[B])(f: (A, B) => Unit): Unit =
    samples(g1).zip(samples(g2)).foreach { case (a, b) => f(a, b) }

  val smallString: Gen[String] =
    Gen.chooseNum(0, 6).flatMap(n => Gen.stringOfN(n, Gen.oneOf('a', 'b', 'c')))
  val weighted: Gen[(String, Double)] = for {
    s <- smallString
    w <- Gen.chooseNum(0.0, 5.0)
  } yield (s, math.rint(w * 16) / 16) // dyadic weights: exact addition

  val stringMapGen: Gen[Map[String, Double]] =
    Gen.mapOfN(4, weighted).map(m => if (m.isEmpty) Map("a" -> 1.0) else m)

  test("compose of two acceptors = weighted intersection of path sets") {
    forAll(stringMapGen, stringMapGen) { (m1, m2) =>
      val f1 = Wfst.fromStrings(m1)
      val f2 = Wfst.fromStrings(m2).arcSort
      val got = f1.composePruned(f2, 100.0).paths().map(p => (p._2, p._3)).toMap
      val expected = for {
        (s, w1) <- m1
        w2 <- m2.get(s)
      } yield s -> (w1 + w2)
      assert(got.keySet == expected.keySet)
      expected.foreach { case (s, w) => assert(math.abs(got(s) - w) < 1e-9) }
    }
  }

  test("shortestPath = min over enumerated paths") {
    forAll(stringMapGen) { m =>
      val f = Wfst.fromStrings(m)
      val best = f.distinctOutputs().map(_._2).min
      assert(math.abs(best - m.values.min) < 1e-9)
    }
  }

  test("prune keeps exactly the paths <= best + threshold") {
    forAll(stringMapGen, Gen.chooseNum(0.0, 4.0)) { (m, th) =>
      val f = Wfst.fromStrings(m)
      val best = m.values.min
      // composing with the identity (sigma*) leaves only the prune
      val kept = f.composePruned(Wfst.sigmaStar.arcSort, th)
        .paths().map(p => (p._2, p._3)).toMap
      val expected = m.filter(_._2 <= best + th + 1e-9)
      assert(kept.keySet == expected.keySet)
    }
  }

  test("union/concat path algebra") {
    forAll(stringMapGen, stringMapGen) { (m1, m2) =>
      val u = Wfst.fromStrings(m1).union(Wfst.fromStrings(m2))
      val uPaths = u.distinctOutputs().toMap
      val expectedU = (m1.keySet ++ m2.keySet).map { s =>
        s -> math.min(m1.getOrElse(s, Double.PositiveInfinity),
          m2.getOrElse(s, Double.PositiveInfinity))
      }.toMap
      assert(uPaths.keySet == expectedU.keySet)
      expectedU.foreach { case (s, w) => assert(math.abs(uPaths(s) - w) < 1e-9) }

      val c = Wfst.fromStrings(m1).concat(Wfst.fromStrings(m2))
      val cBest = c.distinctOutputs().map(_._2).min
      assert(math.abs(cBest - (m1.values.min + m2.values.min)) < 1e-9)
    }
  }

  test("rmEpsilon preserves distinct-output path sets") {
    forAll(stringMapGen, stringMapGen) { (m1, m2) =>
      val f = Wfst.fromStrings(m1).concat(Wfst.fromStrings(m2))
      val a = f.distinctOutputs().toMap
      val b = f.rmEpsilon.distinctOutputs().toMap
      assert(a.keySet == b.keySet)
      a.foreach { case (s, w) => assert(math.abs(b(s) - w) < 1e-9) }
    }
  }

  val anyString: Gen[String] =
    Gen.chooseNum(0, 12).flatMap(n =>
      Gen.stringOfN(n, Gen.oneOf('a', 'b', 'c', 'd', ' ', 'ſ', 'ä')))

  private def assertSameOutputs(got: Seq[(String, Double)],
      want: Map[String, Double], clue: => String): Unit = {
    assert(got.map(_._1).toSet == want.keySet, clue)
    got.foreach { case (o, w) =>
      assert(math.abs(w - want(o)) < 1e-9, s"$o: $w vs ${want(o)} ($clue)")
    }
  }

  test("composePruned and composeBoundedPruned == RefFst on random acceptors") {
    forAll(stringMapGen, stringMapGen) { (m1, m2) =>
      val left = Wfst.fromStrings(m1)
      val right = Wfst.fromStrings(m2).arcSort
      for (th <- Seq(0.5, 2.0, 10.0)) {
        assertSameOutputs(left.composePruned(right, th).distinctOutputs(),
          RefFst.outputs(RefFst.composePruned(left, right, th)),
          s"th=$th m1=$m1 m2=$m2")
        assertSameOutputs(left.composeBoundedPruned(right, 6.0, th).distinctOutputs(),
          RefFst.outputs(RefFst.composeBoundedPruned(left, right, 6.0, th)),
          s"bounded th=$th m1=$m1 m2=$m2")
      }
    }
  }

  /** A random arc-sorted right machine mixing every shape the lookahead
    * tells apart: Σ-input arcs, eps-input arcs (forward only, so the
    * product stays acyclic), final states that also have arcs, single-label
    * chain states, multi-label states and fan-out groups of
    * `Lookahead.MinGroup`+ arcs on one label. Dyadic weights: every sum is
    * exact, so weights compare bit for bit. */
  private def randomRight(rng: scala.util.Random): Wfst = {
    val n = 3 + rng.nextInt(6)
    val labels = "abcd".map(_.toInt)
    def lab = labels(rng.nextInt(labels.length))
    def w = rng.nextInt(40) / 16.0
    def out = if (rng.nextInt(4) == 0) Label.Eps else lab
    val arcs = Array.tabulate(n) { s =>
      val b = Array.newBuilder[Arc]
      rng.nextInt(4) match {
        case 0 => b += Arc(lab, out, w, rng.nextInt(n)) // chain state
        case 1 => for (_ <- 0 to 1 + rng.nextInt(3)) b += Arc(lab, out, w, rng.nextInt(n))
        case 2 =>
          val l = lab
          for (_ <- 0 until Lookahead.MinGroup + rng.nextInt(4)) b += Arc(l, out, w, rng.nextInt(n))
        case _ =>
      }
      if (rng.nextInt(4) == 0)
        b += Arc(Label.Sigma, if (rng.nextBoolean()) Label.Sigma else out, w, rng.nextInt(n))
      if (s + 1 < n && rng.nextInt(3) == 0)
        b += Arc(Label.Eps, out, w, s + 1 + rng.nextInt(n - s - 1))
      b.result()
    }
    val finals = (0 until n).filter(_ => rng.nextInt(3) == 0).map(_ -> w).toMap
    Wfst(0, finals, arcs).arcSort
  }

  /** A string acceptor: one chain (the cascade's window), or a trie over
    * a few strings, possibly including the empty string and strings that
    * are prefixes of others (finals mid-chain). */
  private def randomLeft(rng: scala.util.Random): Wfst = {
    def str = Seq.fill(rng.nextInt(6))("abcd"(rng.nextInt(4))).mkString
    if (rng.nextBoolean()) Wfst.acceptor(str)
    else {
      val base = str
      val strs = Seq.fill(1 + rng.nextInt(3))(str) ++
        Seq(base, base.take(rng.nextInt(base.length + 1))) ++
        (if (rng.nextInt(4) == 0) Seq("") else Nil)
      Wfst.fromStrings(strs.map(_ -> rng.nextInt(16) / 16.0))
    }
  }

  test("lookahead: composeBoundedPruned == RefFst bit for bit on random strings and machines") {
    val rng = new scala.util.Random(4242L)
    for (i <- 0 until 400) {
      val left = randomLeft(rng)
      val right = randomRight(rng)
      for ((maxW, th) <- Seq((Double.PositiveInfinity, 100.0), (6.0, 6.0), (3.0, 1.0))) {
        val got = RefFst.outputs(left.composeBoundedPruned(right, maxW, th)).toSeq
        val want = RefFst.outputs(RefFst.composeBoundedPruned(left, right, maxW, th))
        val clue = s"case $i maxW=$maxW th=$th left=${left.arcs.toSeq.map(_.toSeq)} " +
          s"finals=${left.finals} right=${right.arcs.toSeq.map(_.toSeq)} finals=${right.finals}"
        assert(got.map(_._1).toSet == want.keySet, clue)
        got.foreach { case (o, wt) =>
          assert(java.lang.Double.doubleToLongBits(wt) ==
            java.lang.Double.doubleToLongBits(want(o)), s"$o: $wt vs ${want(o)} ($clue)")
        }
      }
    }
  }

  // the cascade's inputs: the CorrectorSpec fixture model and the
  // 1..maxWindowSize-token windows of the fixture lines
  private lazy val model =
    CompiledModel.train(Fixtures.trainingPairs, Fixtures.wordlist)
  private lazy val fixtureLines =
    Fixtures.trainingPairs.flatMap(p => Seq(p._1, p._2)) ++ Fixtures.keyedOcr.map(_._2)
  private def windowsOf(line: String): Seq[String] = {
    val toks = Tokenizer.splitInputString(line)
    for {
      i <- toks.indices
      j <- 1 to math.min(model.maxWindowSize, toks.length - i)
    } yield toks.slice(i, i + j).mkString(" ")
  }
  private lazy val fixtureWindows = fixtureLines.flatMap(windowsOf).distinct

  /** distinctOutputs with windowAlternatives' retry on the eps-free
    * machine (eps-cyclic or over-budget last steps). */
  private def outputs(f: Wfst): Seq[(String, Double)] =
    try f.distinctOutputs()
    catch { case _: IllegalStateException => f.rmEpsilon(trim = false).distinctOutputs() }
  private lazy val alphabet = fixtureLines.mkString.distinct
  /** One to three random edits (delete, substitute, insert) of `s`. */
  private def perturb(s: String, rng: scala.util.Random): String = {
    val b = new StringBuilder(s)
    for (_ <- 0 to rng.nextInt(2)) {
      val i = rng.nextInt(b.length + 1)
      rng.nextInt(3) match {
        case 0 if i < b.length => b.deleteCharAt(i)
        case 1 if i < b.length => b.setCharAt(i, alphabet(rng.nextInt(alphabet.length)))
        case _ => b.insert(i, alphabet(rng.nextInt(alphabet.length)))
      }
    }
    b.result()
  }

  test("cascade steps == RefFst on fixture windows and random perturbations") {
    val pw = model.pruningWeight
    val err = model.errorFst.get
    val rng = new scala.util.Random(20261017L)
    val perturbed = Seq.fill(200)(perturb(fixtureWindows(rng.nextInt(fixtureWindows.size)), rng))
    for (win <- fixtureWindows ++ perturbed) {
      val in = Wfst.acceptor(win)
      val e = in.composeBoundedPruned(err, pw, pw)
      val eRef = RefFst.composeBoundedPruned(in, err, pw, pw)
      assertSameOutputs(outputs(e), RefFst.outputs(eRef), s"error step '$win'")
      val l = e.rmEpsilon(trim = false).composePruned(model.windowFst, pw)
      val lRef = RefFst.composePruned(eRef.rmEpsilon(trim = false), model.windowFst, pw)
      assertSameOutputs(outputs(l), RefFst.outputs(lRef), s"lexicon step '$win'")
    }
    // two whole lines as one window under a window FST widened to their
    // token count: left x right states exceed Scratch.DenseMax, so the
    // lexicon step takes the hash-map state-id path (both sides compose
    // the same error-step machine)
    val line = Fixtures.trainingPairs(0)._2 + " " + Fixtures.trainingPairs(1)._2
    val wide = model.withWordsPerWindow(Tokenizer.splitInputString(line).length)
    val e = Wfst.acceptor(line).composeBoundedPruned(err, pw, pw).rmEpsilon(trim = false)
    assert(e.numStates.toLong * wide.windowFst.numStates > Scratch.DenseMax)
    val got = outputs(e.composePruned(wide.windowFst, pw))
    assert(got.nonEmpty)
    assertSameOutputs(got, RefFst.outputs(RefFst.composePruned(e, wide.windowFst, pw)),
      "hash-path lexicon step")
  }

  /** A machine's arrays, weights as their bits: equal iff the machines
    * are bit-identical. */
  private def arrays(f: Wfst): Seq[Seq[Long]] =
    Seq(Seq(f.start.toLong, f.numStates.toLong), f.off.toSeq.map(_.toLong),
      f.il.toSeq.map(_.toLong), f.ol.toSeq.map(_.toLong),
      f.wt.toSeq.map(java.lang.Double.doubleToLongBits), f.ds.toSeq.map(_.toLong),
      f.finState.toSeq.map(_.toLong), f.finWt.toSeq.map(java.lang.Double.doubleToLongBits))

  private def altBits(alts: Seq[(String, Double)]): Seq[(String, Long)] =
    alts.map { case (t, w) => (t, java.lang.Double.doubleToLongBits(w)) }

  test("completion check: windowAlternatives == the unchecked cascade bit for bit") {
    val pw = model.pruningWeight
    val err = model.errorFst.get
    // the cascade without the completion check (3-argument error step)
    def unchecked(win: String): Seq[(String, Double)] = {
      var w = Wfst.acceptor(win).composeBoundedPruned(err, pw, pw)
        .rmEpsilon(trim = false).composePruned(model.windowFst, pw)
      if (!win.contains(' ')) {
        val len = win.codePointCount(0, win.length)
        w = w.union(Wfst.acceptor(win, model.rejectionWeight * (len + 2)))
      }
      outputs(w)
    }
    def inLexicon(win: String): Boolean =
      Wfst.acceptor(win).composePruned(model.windowFst, pw).finState.nonEmpty
    val rng = new scala.util.Random(20261019L)
    val letters = alphabet.filter(_.isLetter)
    val oov = Iterator.continually(
      Seq.fill(2 + rng.nextInt(8))(letters(rng.nextInt(letters.length))).mkString)
      .filterNot(inLexicon).take(300).toSeq
    val perturbed = Seq.fill(200)(perturb(fixtureWindows(rng.nextInt(fixtureWindows.size)), rng))
    val wins = (fixtureWindows ++ perturbed ++ oov ++
      oov.sliding(2).map(_.mkString(" "))).distinct
    var skipped = 0
    for (win <- wins) {
      val got = Corrector.windowAlternatives(win, model, null)
        .map(a => (a.text, java.lang.Double.doubleToLongBits(a.weight)))
      assert(got == altBits(unchecked(win)), s"window '$win'")
      val checked = Wfst.acceptor(win).composeBoundedPruned(err, pw, pw, model.windowFst)
      if (checked eq Wfst.emptyFst) skipped += 1
      else assert(arrays(checked) ==
        arrays(Wfst.acceptor(win).composeBoundedPruned(err, pw, pw)), s"error step '$win'")
    }
    // both branches: random tokens the window FST cannot complete, and
    // every in-lexicon fixture window completes
    assert(oov.exists(t =>
      Wfst.acceptor(t).composeBoundedPruned(err, pw, pw, model.windowFst) eq Wfst.emptyFst))
    val inLex = fixtureWindows.filter(inLexicon)
    assert(inLex.nonEmpty)
    for (win <- inLex) {
      val checked = Wfst.acceptor(win).composeBoundedPruned(err, pw, pw, model.windowFst)
      assert(checked.finState.nonEmpty, s"in-lexicon window '$win' skipped")
    }
    assert(skipped > 0 && skipped < wins.size, s"$skipped of ${wins.size} skipped")
    // two lines as one window: the window FST widened to their token
    // count reads it (its search reaches pairs whose index is over
    // Scratch.DenseMax, which go to the hash set), the 3-word window FST
    // does not
    val line = Fixtures.trainingPairs(0)._2 + " " + Fixtures.trainingPairs(1)._2
    val wide = model.withWordsPerWindow(Tokenizer.splitInputString(line).length)
    val in = Wfst.acceptor(line)
    val plain = in.composeBoundedPruned(err, pw, pw)
    assert(plain.numStates.toLong * wide.windowFst.numStates > Scratch.DenseMax)
    assert(arrays(in.composeBoundedPruned(err, pw, pw, wide.windowFst)) == arrays(plain))
    assert(Wfst.scratch.get().reachSet.size > 0, "the search never left the bitset")
    assert(in.composeBoundedPruned(err, pw, pw, model.windowFst) eq Wfst.emptyFst)
  }

  // hand-built next machines with Σ and eps-input arcs
  private val (next1, next2) = {
    import Label.{Eps, Sigma}
    val (a, b, c) = ('a'.toInt, 'b'.toInt, 'c'.toInt)
    // next1 reads [a] Σ [b]: eps-input arcs skip the a (weighted) and
    // the b (with output c)
    (Wfst(0, Map(3 -> 0.5), Array(
      Array(Arc(Eps, Eps, 0.25, 1), Arc(a, a, 0.0, 1)),
      Array(Arc(Sigma, Sigma, 0.0, 2)),
      Array(Arc(b, b, 0.0, 3), Arc(Eps, c, 0.5, 3)),
      Array.empty[Arc])).arcSort,
    // next2 reads [c] [Σ], eps-input arcs (one with output a) skipping each
    Wfst(0, Map(2 -> 0.0), Array(
      Array(Arc(c, c, 0.0, 1), Arc(Eps, a, 0.0, 1)),
      Array(Arc(Eps, Eps, 0.0, 2), Arc(Sigma, b, 0.0, 2)),
      Array.empty[Arc])).arcSort)
  }

  test("completion check: a hand-built next with Σ and eps-input arcs == RefFst") {
    val rng = new scala.util.Random(4243L)
    var empties, kept = 0
    for (i <- 0 until 400; next <- Seq(next1, next2)) {
      val left = randomLeft(rng)
      val right = randomRight(rng)
      for ((maxW, th) <- Seq((Double.PositiveInfinity, 100.0), (6.0, 6.0), (3.0, 1.0))) {
        val plain = left.composeBoundedPruned(right, maxW, th)
        val checked = left.composeBoundedPruned(right, maxW, th, next)
        val completes = RefFst.outputs(RefFst.composePruned(
          RefFst.composeBoundedPruned(left, right, maxW, th), next, 100.0)).nonEmpty
        val clue = s"case $i maxW=$maxW th=$th left=${left.arcs.toSeq.map(_.toSeq)} " +
          s"finals=${left.finals} right=${right.arcs.toSeq.map(_.toSeq)} finals=${right.finals}"
        if (checked eq Wfst.emptyFst) {
          assert(!completes, clue); empties += 1
        } else {
          assert(arrays(checked) == arrays(plain), clue); kept += 1
        }
      }
    }
    assert(empties > 0 && kept > 0, s"$empties empty, $kept kept")
  }

  /** Does `next` read an output string of the bounded product of `left`
    * and `right`, i.e. of the expansion before its prune? (RefFst with
    * no prune; no path enumeration, so cyclic machines are fine.) */
  private def refReads(left: Wfst, right: Wfst, maxW: Double, next: Wfst): Boolean = {
    val e = RefFst.composeBoundedPruned(left, right, maxW, Double.PositiveInfinity)
    !(e eq Wfst.emptyFst) && !(RefFst.composePruned(e, next, 0.0) eq Wfst.emptyFst)
  }

  /** `f` with state s renamed to perm(s). */
  private def renumber(f: Wfst, perm: Int => Int): Wfst = {
    val arcs = f.arcs
    val out = new Array[Array[Arc]](f.numStates)
    for (s <- 0 until f.numStates) out(perm(s)) = arcs(s).map(a => a.copy(dst = perm(a.dst)))
    Wfst(perm(f.start), f.finals.map { case (s, w) => perm(s) -> w }, out)
  }

  /** An acceptor chain with back arcs and self-loops (a cyclic left). */
  private def cyclicLeft(rng: scala.util.Random): Wfst = {
    val n = 1 + rng.nextInt(5)
    def lab = "abcd"(rng.nextInt(4)).toInt
    val arcs = Array.tabulate(n + 1) { s =>
      val b = Array.newBuilder[Arc]
      if (s < n) { val l = lab; b += Arc(l, l, 0.0, s + 1) }
      if (rng.nextInt(3) == 0) { val l = lab; b += Arc(l, l, rng.nextInt(8) / 16.0, rng.nextInt(s + 1)) }
      b.result()
    }
    Wfst(0, Map(n -> 0.0), arcs)
  }

  /** The checked error step against RefFst (empty exactly when `next`
    * reads no output of the bounded product) and against the 3-argument
    * cascade (otherwise the same arrays; when empty, that cascade's
    * next step has no accepting path). Returns whether it was empty. */
  private def checkEarlyExit(left: Wfst, right: Wfst, maxW: Double, th: Double,
      next: Wfst, clue: => String): Boolean = {
    val plain = left.composeBoundedPruned(right, maxW, th)
    val checked = left.composeBoundedPruned(right, maxW, th, next)
    val empty = checked eq Wfst.emptyFst
    assert(empty == !refReads(left, right, maxW, next), clue)
    if (empty) assert(plain.rmEpsilon(trim = false).composePruned(next, th).finState.isEmpty, clue)
    else assert(arrays(checked) == arrays(plain), clue)
    empty
  }

  test("early exit: left machines not forward-numbered (reversed, cyclic) == RefFst and the 3-argument cascade") {
    val rng = new scala.util.Random(4244L)
    var empties, kept = 0
    for (i <- 0 until 300) {
      val fwd = randomLeft(rng)
      val reversed = renumber(fwd, fwd.numStates - 1 - _)
      val right = randomRight(rng)
      val cyclic = cyclicLeft(rng)
      for (left <- Seq(reversed, cyclic, renumber(cyclic, cyclic.numStates - 1 - _));
           next <- Seq(next1, next2, Wfst.acceptor(
             Seq.fill(rng.nextInt(5))("abcd"(rng.nextInt(4))).mkString));
           (maxW, th) <- Seq((Double.PositiveInfinity, 100.0), (3.0, 1.0))) {
        val clue = s"case $i maxW=$maxW left=${left.arcs.toSeq.map(_.toSeq)} " +
          s"start=${left.start} finals=${left.finals} right=${right.arcs.toSeq.map(_.toSeq)} " +
          s"finals=${right.finals} next=${next.arcs.toSeq.map(_.toSeq)}"
        if (checkEarlyExit(left, right, maxW, th, next, clue)) empties += 1 else kept += 1
      }
    }
    assert(empties > 100 && kept > 100, s"$empties empty, $kept kept")
  }

  test("early exit: an eps-input re-expansion within one layer carries the only completing path") {
    import Label.Eps
    val (a, b, x) = ('a'.toInt, 'b'.toInt, 'x'.toInt)
    // On "ab" with bound 4, FIFO order expands (1, 5) first at distance
    // 3 (through state 2), where its b:x arc (weight 2) is over the
    // bound, and again at distance 0 (through 1 -> 3 -> 4), when it is
    // not: only the second expansion has the arc "ax" needs.
    val right = Wfst(0, Map(6 -> 0.0), Array(
      Array(Arc(a, a, 0.0, 1), Arc(a, a, 3.0, 2)),
      Array(Arc(Eps, Eps, 0.0, 3)),
      Array(Arc(Eps, Eps, 0.0, 5)),
      Array(Arc(Eps, Eps, 0.0, 4)),
      Array(Arc(Eps, Eps, 0.0, 5)),
      Array(Arc(b, x, 2.0, 6)),
      Array.empty[Arc])).arcSort
    val left = Wfst.acceptor("ab")
    assert(!checkEarlyExit(left, right, 4.0, 4.0, Wfst.acceptor("ax"), "ax"))
    assert(checkEarlyExit(left, right, 4.0, 4.0, Wfst.acceptor("ay"), "ay"))
    // the same with the left machine reverse-numbered (one layer)
    assert(!checkEarlyExit(renumber(left, 2 - _), right, 4.0, 4.0, Wfst.acceptor("ax"), "reversed"))
  }

  test("early exit: a frontier that dies at layer k stops the expansion there, for every k") {
    val win = "wxyzwxyz"
    val n = win.length
    val identity = Wfst.sigmaStar.arcSort
    val left = Wfst.acceptor(win)
    assert(arrays(left.composeBoundedPruned(identity, 1.0, 1.0, Wfst.acceptor(win))) ==
      arrays(left.composeBoundedPruned(identity, 1.0, 1.0)))
    for (k <- 0 until n) {
      // the identity product outputs `win`; next reads its first k
      // characters and then only '#'
      val next = Wfst.acceptor(win.take(k) + "#")
      assert(checkEarlyExit(left, identity, 1.0, 1.0, next, s"k=$k"))
      left.composeBoundedPruned(identity, 1.0, 1.0, next)
      assert(Wfst.scratch.get().sink.n == k + 1, s"k=$k: arcs expanded before the exit")
    }
    // the same with the fixture error model: exact wherever it dies
    val pw = model.pruningWeight
    val err = model.errorFst.get
    for (w <- fixtureWindows.take(6); k <- 0 until w.length) {
      val next = Wfst.acceptor(w.take(k) + "#")
      checkEarlyExit(Wfst.acceptor(w), err, pw, pw, next, s"'$w' k=$k")
    }
  }

  /** A random lexicon FST shaped like `LexiconBuilder.lexiconToFst`'s: a
    * trie over words on a, b, c with dyadic weights, where some words are
    * prefixes of others (finals that also have arcs) and sometimes the
    * empty word is one (a final start state); half of them pushed and
    * minimized, as production lexicons are. */
  private def randomLexicon(rng: scala.util.Random): Wfst = {
    def word = Seq.fill(1 + rng.nextInt(4))("abc"(rng.nextInt(3))).mkString
    val base = Seq.fill(1 + rng.nextInt(4))(word)
    val words = base ++ base.filter(_ => rng.nextBoolean()).map(w => w.take(1 + rng.nextInt(w.length))) ++
      (if (rng.nextInt(4) == 0) Seq("") else Nil)
    val trie = Wfst.fromStrings(words.map(_ -> rng.nextInt(32) / 16.0))
    (if (rng.nextBoolean()) trie.pushWeights.minimizeAcyclic else trie).arcSort
  }

  private def outputBits(m: Map[String, Double]): Map[String, Long] =
    m.map { case (o, w) => o -> java.lang.Double.doubleToLongBits(w) }

  test("window FST: the eps-free machine == the glue machine (RefFst) for W in 1..4") {
    val rng = new scala.util.Random(20261021L)
    var prefixWords, finalStarts = 0
    for (i <- 0 until 50) {
      val lex = randomLexicon(rng)
      if (lex.finState.exists(f => lex.off(f + 1) > lex.off(f))) prefixWords += 1
      if (!lex.finalWeight(lex.start).isInfinity) finalStarts += 1
      val words = RefFst.outputs(lex).keys.toIndexedSeq
      for (w <- 1 to 4) {
        val got = CompiledModel.windowFstFrom(lex, w)
        val glue = RefFst.glueWindowFst(lex, w)
        val clue = s"case $i W=$w lex=${lex.arcs.toSeq.map(_.toSeq)} start=${lex.start} finals=${lex.finals}"
        assert(got.numStates == w * lex.numStates, clue)
        for (s <- 0 until got.numStates) {
          val labels = (got.off(s) until got.off(s + 1)).map(got.il)
          assert(!labels.contains(Label.Eps), s"eps arc at $s ($clue)")
          assert(labels.distinct.size == labels.size, s"two arcs on one label at $s ($clue)")
        }
        assert(outputBits(RefFst.outputs(got)) == outputBits(RefFst.outputs(glue)), clue)
        // as the right operand of the cascade's compose: windows of up to
        // W + 1 words, a word sometimes perturbed
        for (_ <- 0 until 4) {
          val win = Seq.fill(1 + rng.nextInt(w + 1)) {
            val t = words(rng.nextInt(words.size))
            if (rng.nextInt(4) == 0) t + "abc"(rng.nextInt(3)) else t
          }.mkString(" ")
          val left = Wfst.acceptor(win)
          for (th <- Seq(1.0, 100.0))
            assert(outputBits(RefFst.outputs(left.composePruned(got, th))) ==
              outputBits(RefFst.outputs(RefFst.composePruned(left, glue, th))), s"'$win' th=$th $clue")
        }
      }
    }
    assert(prefixWords > 0 && finalStarts > 0, s"$prefixWords prefix-word lexicons, $finalStarts final starts")
  }

  /** A lattice's edges, weights as their bits. */
  private def edgeBits(l: Lattice): Map[(Int, Int), Seq[(String, Long)]] =
    l.edges.map { case (k, alts) => k -> alts.map(a => (a.text, java.lang.Double.doubleToLongBits(a.weight))) }

  /** The lattice with every window computed (no dead-prefix rule). */
  private def everyWindow(line: String, m: CompiledModel, cache: AltCache): Map[(Int, Int), Seq[(String, Long)]] = {
    val toks = Tokenizer.splitInputString(line)
    edgeBits(Lattice(toks.length, (for {
      i <- toks.indices
      j <- 1 to math.min(m.maxWindowSize, toks.length - i)
      alts = Corrector.windowAlternatives(toks.slice(i, i + j).mkString(" "), m, cache)
      if alts.nonEmpty
    } yield (i, i + j) -> alts).toMap))
  }

  /** Computes every window it is asked for, and lists them. */
  private final class Recorder extends AltCache {
    val keys = scala.collection.mutable.ArrayBuffer.empty[String]
    def getOrCompute(key: String)(f: => Seq[Alt]): Seq[Alt] = { keys += key; f }
  }

  test("dead-prefix skip: latticeFromString == every window computed, memo on and off") {
    val pw = model.pruningWeight
    val err = model.errorFst.get
    val rng = new scala.util.Random(20261022L)
    val letters = alphabet.filter(_.isLetter)
    def abortLayer(t: String): Int = {
      Wfst.acceptor(t).composeBoundedPruned(err, pw, pw, model.windowFst)
      Wfst.abortLayer
    }
    def len(t: String) = t.codePointCount(0, t.length)
    val oov = Iterator.continually(
      Seq.fill(2 + rng.nextInt(8))(letters(rng.nextInt(letters.length))).mkString).take(2000).toSeq
    // tokens whose check stops at the last layer that still skips
    // (|t| - 1) and at the first that does not (|t|)
    val atLast = oov.filter(t => abortLayer(t) == len(t) - 1).distinct.take(8)
    val atEnd = oov.filter(t => abortLayer(t) == len(t)).distinct.take(8)
    assert(atLast.size == 8 && atEnd.size == 8, s"${atLast.size} at |t|-1, ${atEnd.size} at |t|")
    val words = fixtureWindows.filterNot(_.contains(' '))
    def followers = Seq("nicht", words(rng.nextInt(words.size)), oov(rng.nextInt(oov.size)))
    for (t <- atLast ++ atEnd; f <- followers) {
      val rec = new Recorder
      Corrector.latticeFromString(s"$t $f", model, rec)
      assert(rec.keys.contains(s"$t $f") == atEnd.contains(t), s"'$t $f' looked up: ${rec.keys}")
    }
    val lines = fixtureLines ++
      Seq.fill(200)(perturb(fixtureLines(rng.nextInt(fixtureLines.size)), rng)) ++
      Seq.fill(60)(Seq.fill(2 + rng.nextInt(5))(oov(rng.nextInt(oov.size))).mkString(" ")) ++
      (atLast ++ atEnd).flatMap(t => followers.flatMap(f => Seq(s"$t $f", s"$f $t", s"$t $t $f")))
    val warm = model.copy() // its own memo, filled as the lines go
    var skipped = 0
    for (line <- lines) {
      val want = everyWindow(line, model, null)
      assert(edgeBits(Corrector.latticeFromString(line, model, null)) == want, s"no memo: '$line'")
      assert(edgeBits(Corrector.latticeFromString(line, warm, warm.windowMemo)) == want, s"memo: '$line'")
      val rec = new Recorder
      Corrector.latticeFromString(line, model, rec)
      val toks = Tokenizer.splitInputString(line)
      skipped += toks.indices.map(i => math.min(model.maxWindowSize, toks.length - i)).sum - rec.keys.size
    }
    assert(skipped > 0, "no window was skipped")
  }

  test("a model whose window FST is the glue machine (an older artifact) corrects the same") {
    val glue = model.copy(windowFst = RefFst.glueWindowFst(model.lexiconFst.get, model.wordsPerWindow))
    assert(glue.windowFst.il.contains(Label.Eps) && !model.windowFst.il.contains(Label.Eps))
    val rng = new scala.util.Random(20261023L)
    for (line <- fixtureLines ++ Seq.fill(100)(perturb(fixtureLines(rng.nextInt(fixtureLines.size)), rng)))
      assert(Corrector.correctLine(line, glue) == Corrector.correctLine(line, model), s"'$line'")
  }

  private def serialize(m: CompiledModel): Array[Byte] = {
    val bo = new java.io.ByteArrayOutputStream()
    val oo = new java.io.ObjectOutputStream(bo)
    oo.writeObject(m); oo.close()
    bo.toByteArray
  }

  test("scratch isolation: 16 threads composing/pruning concurrently agree with serial") {
    // the hot path reuses ThreadLocal scratch buffers (Wfst.Scratch);
    // this runs the cascade's sequence (composeBoundedPruned ->
    // rmEpsilon -> composePruned -> distinctOutputs) from many threads at
    // once and asserts bit-identical results vs the serial run — any
    // cross-call aliasing of scratch into results, or stale-prefix
    // reads, diverges. The threads run on a freshly deserialized model,
    // so they also race to build and read its lazy lookahead tables
    // (Wfst.lookahead); those are transient: the model's bytes are the
    // same before and after its first use.
    // Each thread also runs Corrector.processWindow, whose completion
    // check searches the scratch during the expansion and may stop it;
    // its machine must match the serial one array for array. Every task
    // runs an aborted window (an out-of-lexicon token), a fixture window
    // and another aborted one, so a thread's scratch goes from aborts to
    // completions and back.
    val wins = fixtureWindows.take(48)
    val pw = model.pruningWeight
    val rng = new scala.util.Random(20261020L)
    val letters = alphabet.filter(_.isLetter)
    val aborted = Iterator.continually(
      Seq.fill(3 + rng.nextInt(8))(letters(rng.nextInt(letters.length))).mkString)
      .filter(t => Wfst.acceptor(t).composeBoundedPruned(model.errorFst.get, pw, pw,
        model.windowFst) eq Wfst.emptyFst)
      .take(wins.size + 1).toIndexedSeq
    assert(wins.exists(w => !(Corrector.processWindow(w, model) eq Wfst.emptyFst)))
    def run(m: CompiledModel, i: Int): Seq[(Seq[(String, Double)], Seq[Seq[Long]])] =
      Seq(aborted(i), wins(i), aborted(i + 1)).map(win =>
        (Wfst.acceptor(win).composeBoundedPruned(m.errorFst.get, pw, pw)
          .rmEpsilon(trim = false).composePruned(m.windowFst, pw)
          .distinctOutputs(),
          arrays(Corrector.processWindow(win, m))))
    val serial = wins.indices.map(run(model, _))
    val bytes = serialize(model)
    val fresh = new java.io.ObjectInputStream(new java.io.ByteArrayInputStream(bytes))
      .readObject().asInstanceOf[CompiledModel]
    val pool = java.util.concurrent.Executors.newFixedThreadPool(16)
    try {
      val futures = wins.indices.flatMap(i => (0 until 4).map { _ =>
        pool.submit(new java.util.concurrent.Callable[(Int, Seq[(Seq[(String, Double)], Seq[Seq[Long]])])] {
          def call() = (i, run(fresh, i))
        })
      })
      futures.foreach { fu =>
        val (i, got) = fu.get()
        assert(got == serial(i), s"case $i diverged under concurrency")
      }
    } finally pool.shutdown()
    assert(java.util.Arrays.equals(serialize(fresh), bytes),
      "a used model serializes differently from its unused bytes")
  }

  test("aligner: projections reproduce inputs; gap-free positions equal chars") {
    forAll(anyString, anyString) { (a, b) =>
      val al = Aligner.align(a, b)
      assert(al.map(_._1).filter(_ != Aligner.Gap).toSeq == Aligner.cps(a).toSeq)
      assert(al.map(_._2).filter(_ != Aligner.Gap).toSeq == Aligner.cps(b).toSeq)
      // no position aligns gap to gap
      assert(!al.exists(p => p._1 == Aligner.Gap && p._2 == Aligner.Gap))
    }
  }

  test("levenshtein: triangle vs aligner mismatch count upper bound") {
    forAll(anyString, anyString) { (a, b) =>
      val lev = Distance.levenshtein(a, b)
      val mismatches = Aligner.align(a, b).count(p => p._1 != p._2)
      // difflib's alignment is a valid (not necessarily optimal) edit
      // script, so its mismatch count bounds Levenshtein from above
      assert(lev <= mismatches)
      assert(lev >= math.abs(a.codePointCount(0, a.length) - b.codePointCount(0, b.length)))
    }
  }
}
