package graft.wfst

import graft.Fixtures
import graft.align.{Aligner, Distance}
import graft.correct.{CompiledModel, Corrector}
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
    // count reads it (a pair space over Scratch.DenseMax, so the check
    // takes its hash-set path), the 3-word window FST does not
    val line = Fixtures.trainingPairs(0)._2 + " " + Fixtures.trainingPairs(1)._2
    val wide = model.withWordsPerWindow(Tokenizer.splitInputString(line).length)
    val in = Wfst.acceptor(line)
    val plain = in.composeBoundedPruned(err, pw, pw)
    assert(plain.numStates.toLong * wide.windowFst.numStates > Scratch.DenseMax)
    assert(arrays(in.composeBoundedPruned(err, pw, pw, wide.windowFst)) == arrays(plain))
    assert(in.composeBoundedPruned(err, pw, pw, model.windowFst) eq Wfst.emptyFst)
  }

  test("completion check: a hand-built next with Σ and eps-input arcs == RefFst") {
    import Label.{Eps, Sigma}
    val (a, b, c) = ('a'.toInt, 'b'.toInt, 'c'.toInt)
    // next1 reads [a] Σ [b]: eps-input arcs skip the a (weighted) and
    // the b (with output c)
    val next1 = Wfst(0, Map(3 -> 0.5), Array(
      Array(Arc(Eps, Eps, 0.25, 1), Arc(a, a, 0.0, 1)),
      Array(Arc(Sigma, Sigma, 0.0, 2)),
      Array(Arc(b, b, 0.0, 3), Arc(Eps, c, 0.5, 3)),
      Array.empty[Arc])).arcSort
    // next2 reads [c] [Σ], eps-input arcs (one with output a) skipping each
    val next2 = Wfst(0, Map(2 -> 0.0), Array(
      Array(Arc(c, c, 0.0, 1), Arc(Eps, a, 0.0, 1)),
      Array(Arc(Eps, Eps, 0.0, 2), Arc(Sigma, b, 0.0, 2)),
      Array.empty[Arc])).arcSort
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
    // check uses the scratch between the expansion and the assembly;
    // its machine must match the serial one array for array.
    val wins = fixtureWindows.take(48)
    val pw = model.pruningWeight
    def run(m: CompiledModel, i: Int): (Seq[(String, Double)], Seq[Seq[Long]]) =
      (Wfst.acceptor(wins(i)).composeBoundedPruned(m.errorFst.get, pw, pw)
        .rmEpsilon(trim = false).composePruned(m.windowFst, pw)
        .distinctOutputs(),
        arrays(Corrector.processWindow(wins(i), m)))
    val serial = wins.indices.map(run(model, _))
    val bytes = serialize(model)
    val fresh = new java.io.ObjectInputStream(new java.io.ByteArrayInputStream(bytes))
      .readObject().asInstanceOf[CompiledModel]
    val pool = java.util.concurrent.Executors.newFixedThreadPool(16)
    try {
      val futures = wins.indices.flatMap(i => (0 until 4).map { _ =>
        pool.submit(new java.util.concurrent.Callable[(Int, (Seq[(String, Double)], Seq[Seq[Long]]))] {
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
