package graft.wfst

import org.scalatest.funsuite.AnyFunSuite

/** Unit fixtures per FIXTURES.md §7, incl. the port of the reference's
  * only test (tests/test_helper.py:9-17). */
class WfstSpec extends AnyFunSuite {
  val eps = 1e-9

  test("acceptor round-trips a string with its weight") {
    val f = Wfst.acceptor("ab", 0.5)
    val ps = f.paths()
    assert(ps == Seq(("ab", "ab", 0.5)))
  }

  test("fromStrings round-trip (port of tests/test_helper.py:9-17)") {
    val d = Map("abc" -> 1.5, "abd" -> 0.25, "xy" -> 3.0)
    val f = Wfst.fromStrings(d)
    val ps = f.paths().map { case (i, o, w) => (i, o, w) }
    assert(ps.size == 3)
    for ((i, o, w) <- ps) {
      assert(i == o)
      assert(math.abs(w - d(i)) < 1e-5) // places=5 tolerance precedent
    }
  }

  test("compose chains weights in the tropical semiring (a:b/0.5 . b:c/0.25 = a:c/0.75)") {
    val ab = Wfst.fromMappings(Seq(("a", "b", 0.5)))
    val bc = Wfst.fromMappings(Seq(("b", "c", 0.25))).arcSort
    assert(ab.composePruned(bc, 10.0).distinctOutputs() == Seq(("c", 0.75)))
  }

  test("union and concat") {
    val f = Wfst.acceptor("a", 1.0).union(Wfst.acceptor("b", 2.0))
    val outs = f.paths().map(p => (p._2, p._3)).toSet
    assert(outs == Set(("a", 1.0), ("b", 2.0)))
    val g = Wfst.acceptor("x", 0.5).concat(Wfst.acceptor("y", 0.25))
    assert(g.rmEpsilon.paths() == Seq(("xy", "xy", 0.75)))
  }

  test("closure(0,2) accepts {eps, w, ww}") {
    val f = Wfst.acceptor("w", 0.0).closure(0, 2)
    val outs = f.paths().map(_._2).toSet
    assert(outs == Set("", "w", "ww"))
  }

  test("ques = 0-or-1") {
    val f = Wfst.acceptor("ab", 1.0).ques
    assert(f.paths().map(_._2).toSet == Set("", "ab"))
  }

  test("prune keeps exactly the paths within best+threshold") {
    // composing with the identity (sigma*) leaves only the prune
    val f = Wfst.fromStrings(Map("a" -> 1.0, "b" -> 3.0, "c" -> 7.0))
    val id = Wfst.sigmaStar.arcSort
    val p = f.composePruned(id, 5.0)
    assert(p.paths().map(_._2).toSet == Set("a", "b"))
    val p2 = f.composePruned(id, 1.5)
    assert(p2.paths().map(_._2).toSet == Set("a"))
  }

  test("shortestPath finds the min-weight accepting path") {
    val f = Wfst.fromStrings(Map("long" -> 2.0, "s" -> 0.5, "mid" -> 1.0))
    val (best, w) = f.distinctOutputs().minBy(_._2)
    assert(best == "s" && math.abs(w - 0.5) < eps)
  }

  test("rmEpsilon preserves path set and weights") {
    val f = Wfst.acceptor("a", 0.25).concat(Wfst.acceptor("b", 0.5))
      .union(Wfst.acceptor("c", 1.0))
    val r = f.rmEpsilon
    assert(r.paths().map(p => (p._2, p._3)).toSet ==
      Set(("ab", 0.75), ("c", 1.0)))
    // no eps:eps arcs remain
    assert(!r.arcs.exists(_.exists(a =>
      a.ilabel == Label.Eps && a.olabel == Label.Eps)))
  }

  test("rmEpsilon collapses eps CYCLES (SPFA closure terminates)") {
    // 0 -eps-> 1 -eps-> 0 (cycle), 1 -a-> 2(final): paths() must reject
    // the cyclic machine, rmEpsilon must terminate and keep language {a}
    val aLab = 'a'.toInt
    val f = Wfst(0, Map(2 -> 0.0), Array(
      Array(Arc(Label.Eps, Label.Eps, 0.5, 1)),
      Array(Arc(Label.Eps, Label.Eps, 0.25, 0), Arc(aLab, aLab, 1.0, 2)),
      Array.empty[Arc]))
    intercept[IllegalStateException](f.paths())
    val r = f.rmEpsilon
    assert(r.paths().map(p => (p._2, p._3)) == Seq(("a", 1.5)))
  }

  test("projectOutput copies the output tape onto the input tape") {
    val f = Wfst.fromMappings(Seq(("ab", "xy", 1.0))).projectOutput
    assert(f.paths() == Seq(("xy", "xy", 1.0)))
  }

  test("invert swaps tapes") {
    val f = Wfst.fromMappings(Seq(("ab", "x", 1.0))).invert
    assert(f.paths() == Seq(("x", "ab", 1.0)))
  }

  test("fromMappings pads the shorter side with epsilon") {
    val del = Wfst.fromMappings(Seq(("ch", "h", 0.7)))
    assert(del.paths() == Seq(("ch", "h", 0.7)))
    val ins = Wfst.fromMappings(Seq(("", "e", 0.3)))
    assert(ins.paths() == Seq(("", "e", 0.3)))
  }

  test("sigmaStar composes as identity over any string") {
    val w = Wfst.acceptor("höf", 0.0)
    val r = w.composePruned(Wfst.sigmaStar.arcSort, 0.0)
    assert(r.paths() == Seq(("höf", "höf", 0.0)))
  }

  test("sigma* . edit . sigma* corrects a substring anywhere") {
    // error model shape of combine_error_transducers (lib/error_simp.py:287-304)
    val edit = Wfst.fromMappings(Seq(("h", "ch", 0.9)))
    val em = Wfst.sigmaStar.concat(edit).closure(0, 2)
      .concat(Wfst.sigmaStar).rmEpsilon.arcSort
    val w = Wfst.acceptor("niht", 0.0)
    val outs = w.composePruned(em, 10.0).distinctOutputs()
    // input has a single 'h': exactly the 0-edit and 1-edit hypotheses
    assert(outs.toSet == Set(("niht", 0.0), ("nicht", 0.9)))
  }

  test("connect drops dead states") {
    // state 1 unreachable-to-final
    val f = Wfst(0, Map(2 -> 0.0), Array(
      Array(Arc('a', 'a', 0.0, 1), Arc('b', 'b', 0.0, 2)),
      Array.empty[Arc],
      Array.empty[Arc]))
    val c = f.connect
    assert(c.paths() == Seq(("b", "b", 0.0)))
  }

  test("empty language behaves") {
    assert(Wfst.emptyFst.paths().isEmpty)
    val r = Wfst.acceptor("a").composePruned(Wfst.acceptor("b").arcSort, 10.0)
    assert(r.paths().isEmpty)
  }

  private def weightedLang(f: Wfst): Map[(String, String), Double] =
    f.paths().groupMapReduce(p => (p._1, p._2))(_._3)(math.min)

  test("pushWeights preserves every path weight and zeroes best residuals") {
    val d = Map("cat" -> 1.5, "car" -> 0.25, "bat" -> 3.0, "b" -> 0.5)
    val f = Wfst.fromStrings(d)
    val p = f.pushWeights
    assert(weightedLang(p).forall { case (k, w) =>
      math.abs(w - weightedLang(f)(k)) < eps })
    // pushed canonical form: from every coaccessible state the cheapest
    // continuation (arc min vs final weight) costs ~0
    val phi = p.reverseDistances
    (0 until p.numStates).filter(s => phi(s) < Double.PositiveInfinity)
      .foreach(s => assert(math.abs(phi(s)) < eps ||
        (s == p.start && math.abs(phi(s) - d.values.min) < eps)))
  }

  test("minimizeAcyclic merges shared suffixes after pushing (DAWG)") {
    // 6 words, 3 distinct weights, heavy suffix sharing: -ing/-ed pairs
    val d = Map("walking" -> 1.0, "walked" -> 2.0, "talking" -> 1.0,
      "talked" -> 2.0, "parking" -> 0.5, "parked" -> 2.0)
    val f = Wfst.fromStrings(d)
    val m = f.pushWeights.minimizeAcyclic.connect
    assert(weightedLang(m) == weightedLang(m)) // total function sanity
    assert(weightedLang(m).keySet == weightedLang(f).keySet)
    assert(weightedLang(f).forall { case (k, w) =>
      math.abs(w - weightedLang(m)(k)) < eps })
    // the -ing (6 states incl. final) and -ed (2) suffix chains and the
    // k-junction must be shared across all three stems
    assert(m.numStates < f.numStates - 8,
      s"expected DAWG sharing, got ${f.numStates} -> ${m.numStates}")
  }

  test("minimizeAcyclic is identity-safe on cyclic machines and preserves transducers") {
    val cyc = Wfst.sigmaStar
    assert(cyc.minimizeAcyclic eq cyc) // cycle -> untouched
    val t = Wfst.fromMappings(Seq(("ab", "xy", 1.0), ("cb", "zy", 1.0)))
    val m = t.pushWeights.minimizeAcyclic.connect
    assert(weightedLang(m) == weightedLang(t)) // pair language intact
    assert(m.numStates <= t.numStates)
  }
}
