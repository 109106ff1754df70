package graft.train

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession

class ErrorModelSTSpec extends AnyFunSuite {
  import ErrorModelST._

  test("countNgrams includes all orders up to max_n") {
    assert(countNgrams(Seq("abc"), 2) ==
      Map("a" -> 1L, "b" -> 1L, "c" -> 1L, "ab" -> 1L, "bc" -> 1L))
    assert(countNgrams(Seq("aa a"), 2)("a") == 3L)
    assert(countNgrams(Seq("aa a"), 2)(" ") == 1L) // spaces counted
  }

  test("selectNgrams keeps all unigrams plus top higher-order") {
    val c = Map("a" -> 1L, "b" -> 1L, "ab" -> 5L, "bc" -> 3L, "cd" -> 4L)
    assert(selectNgrams(c, 4) == Seq("a", "b", "ab", "cd"))
    intercept[IllegalArgumentException](selectNgrams(c, 1))
  }

  test("stringToNgramIds marks absent n-grams with -1") {
    val idx = Map("a" -> 0, "b" -> 1, "ab" -> 2)
    val m = stringToNgramIds("ab", idx, 2)
    assert(m(0).toSeq == Seq(0, 2))
    assert(m(1).toSeq == Seq(1, -1))
  }

  test("forward/backward agree on the total mass Z") {
    val idx = Map("a" -> 0, "b" -> 1, "c" -> 2, "ab" -> 3)
    val in = stringToNgramIds("ab", idx, 2)
    val out = stringToNgramIds("ac", idx, 2)
    val probs = initializeProbs(4)
    val ngr = Array(0.5, 0.5)
    val a = forward(in, out, probs, ngr)
    val b = backward(in, out, probs, ngr)
    assert(math.abs(a(2)(2) - b(0)(0)) < 1e-12)
  }

  test("EM on identity pairs converges to identity mappings") {
    val idx = Map("a" -> 0, "b" -> 1)
    val pairs = Seq(
      (stringToNgramIds("ab", idx, 1), stringToNgramIds("ab", idx, 1)),
      (stringToNgramIds("ba", idx, 1), stringToNgramIds("ba", idx, 1)))
    val (probs, _) = fitLocal(pairs, 2, 1)
    assert(probs(0)(0) > 0.99 && probs(1)(1) > 0.99)
  }

  test("compiled ST transducer corrects a trained confusion") {
    // fit gt->ocr on ("ab" -> "ac"): model learns b->c; after invert the
    // transducer maps ocr back to gt: input "ac" must yield "ab"
    val idx = Map("a" -> 0, "b" -> 1, "c" -> 2)
    val pairs = Seq((stringToNgramIds("ab", idx, 1), stringToNgramIds("ac", idx, 1)))
    val (probs, ngrProbs) = fitLocal(pairs, 3, 1)
    val mappings = matrixToMappings(probs, Seq("a", "b", "c"), 5.0)
    val fst = compileTransducer(mappings, ngrProbs, maxErrors = 3, maxContext = 1)
    val hyp = graft.wfst.Wfst.acceptor("ac").composePruned(fst, 5.0)
      .rmEpsilon.distinctOutputs()
    assert(hyp.map(_._1).contains("ab"))
  }

  test("fitSpark matches fitLocal") {
    val spark = SparkSession.builder().master("local[2]")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", "2").getOrCreate()
    import spark.implicits._
    val raw = Seq(("niht", "nicht"), ("ih", "ich"), ("nicht", "nicht"))
    val st = fitSpark(spark, raw.toDS(), maxN = 2, maxNgrams = 50,
      maxIters = 3, threshold = 0.0)
    // local replica
    val counts = mergeCounters(
      countNgrams(raw.map(_._1), 2), countNgrams(raw.map(_._2), 2))
    val ngrams = selectNgrams(counts, 50)
    val idx = ngrams.zipWithIndex.toMap
    val pairs = raw.map { case (ocr, gt) =>
      (stringToNgramIds(gt, idx, 2), stringToNgramIds(ocr, idx, 2))
    }
    val (probsL, ngrL) = fitLocal(pairs, ngrams.length, 2, threshold = 0.0, maxIters = 3)
    assert(st.ngrams == ngrams)
    for (i <- probsL.indices; j <- probsL.indices)
      assert(math.abs(st.probs(i)(j) - probsL(i)(j)) < 1e-9, s"probs($i)($j)")
    for (k <- ngrL.indices)
      assert(math.abs(st.ngrProbs(k) - ngrL(k)) < 1e-9)
  }

  test("fitSpark over 64 partitions: equal on every run, matches fitLocal") {
    val spark = SparkSession.builder().master("local[2]")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", "2").getOrCreate()
    import spark.implicits._
    val words = Seq("nicht", "ich", "sich", "licht", "recht", "acht")
    val raw = (0 until 128).map { i =>
      val gt = s"${words(i % 6)} ${words((i * 5 + 1) % 6)}"
      (if (i % 3 == 0) gt.replaceFirst("c", "") else gt, gt)
    }
    def fit(): StModel = fitSpark(spark, spark.sparkContext.parallelize(raw, 64).toDS(),
      maxN = 2, maxNgrams = 50, maxIters = 3, threshold = 0.0)
    val st = fit()
    for (_ <- 1 to 2) {
      val again = fit()
      assert(again.ngrams == st.ngrams)
      val differ = for (i <- st.probs.indices; j <- st.probs(i).indices
        if again.probs(i)(j) != st.probs(i)(j)) yield (i, j)
      assert(differ.isEmpty, s"${differ.size} cells of probs differ, first ${differ.headOption}")
      assert(again.ngrProbs.toSeq == st.ngrProbs.toSeq)
    }
    val idx = st.ngrams.zipWithIndex.toMap
    val pairs = raw.map { case (ocr, gt) =>
      (stringToNgramIds(gt, idx, 2), stringToNgramIds(ocr, idx, 2))
    }
    val (probsL, ngrL) = fitLocal(pairs, st.ngrams.length, 2, threshold = 0.0, maxIters = 3)
    for (i <- probsL.indices; j <- probsL.indices)
      assert(math.abs(st.probs(i)(j) - probsL(i)(j)) < 1e-9, s"probs($i)($j)")
    for (k <- ngrL.indices)
      assert(math.abs(st.ngrProbs(k) - ngrL(k)) < 1e-9)
  }

  test("topNgramCounts bounds the driver to maxNgrams+1 rows via top-k") {
    val spark = SparkSession.builder().master("local[2]")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", "2").getOrCreate()
    import spark.implicits._
    // enough text that the distinct-gram set far exceeds the cap
    val raw = (0 until 50).map(i => (s"line nr $i with text", s"line no $i with text"))
    val cap = 10
    val top = topNgramCounts(spark, raw.toDS(), maxN = 3, maxNgrams = cap)
    // plan shape: per-partition top-k merged on the driver, NOT a global
    // sort or a full collect of the distinct-gram table
    val plan = top.queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan)
    val rows = top.collect()
    assert(rows.length <= cap + 1, s"driver received ${rows.length} rows")
    // unigram overflow surfaces as the reference's error
    val counts = rows.map(r => r.getString(0) -> r.getLong(1)).toMap
    if (counts.keys.count(_.length <= 1) > cap)
      intercept[IllegalArgumentException](selectNgrams(counts, cap))
  }
}
