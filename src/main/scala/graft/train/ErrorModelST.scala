package graft.train

import graft.wfst.{Arc, Label, Wfst}
import org.apache.spark.HashPartitioner
import org.apache.spark.sql.{Dataset, SparkSession}
import scala.collection.mutable

/** Port of the stochastic-transducer (EM) error model, lib/error_st.py.
  * The E-step is the distributed piece: per-pair expected counts are
  * dense-matrix accumulations summed per partition, then over the
  * partitions in a fixed two-level order (SURVEY.md §2 row E6); the
  * M-step and the final FST compile run on the driver.
  */
object ErrorModelST {

  // ---------------------------------------------------------------- E1-E4

  /** count_ngrams (lib/error_st.py:22-29): all char n-grams up to max_n,
    * spaces included. */
  def countNgrams(strings: Iterable[String], maxN: Int): Map[String, Long] = {
    val m = mutable.HashMap.empty[String, Long]
    strings.foreach { s =>
      var i = 0
      while (i < s.length) {
        var j = 0
        while (j < math.min(maxN, s.length - i)) {
          val g = s.substring(i, i + j + 1)
          m(g) = m.getOrElse(g, 0L) + 1L
          j += 1
        }
        i += 1
      }
    }
    m.toMap
  }

  /** merge_counters (:32-39). */
  def mergeCounters(a: Map[String, Long], b: Map[String, Long]): Map[String, Long] =
    b.foldLeft(a) { case (acc, (k, v)) => acc + (k -> (acc.getOrElse(k, 0L) + v)) }

  /** select_ngrams (:42-54): ALL unigrams + most frequent higher-order
    * n-grams up to `num` total. Ties broken by (count desc, gram asc) —
    * the reference's tie order is incidental dict insertion order;
    * ours is deterministic (documented divergence).
    *
    * "Unigram" = ONE CODE POINT, not one Java char: Python's len() and
    * Spark's length() both count code points, so an astral character
    * (surrogate pair in Java) is a unigram to the reference and to the
    * distributed topNgramCounts ordering — a Java `_.length <= 1` test
    * would silently misclassify it and clamp the higher-gram quota. */
  def selectNgrams(counter: Map[String, Long], num: Int): Seq[String] = {
    val unigrams = counter.keys
      .filter(g => g.codePointCount(0, g.length) <= 1).toSeq.sorted
    if (unigrams.length > num)
      throw new IllegalArgumentException(
        "Number of unigrams exceeds the number of allowed n-grams.")
    val higher = counter.toSeq
      .filter(p => p._1.codePointCount(0, p._1.length) > 1)
      .sortBy { case (g, c) => (-c, g) }
      .take(num - unigrams.length).map(_._1)
    unigrams ++ higher
  }

  /** string_to_ngram_ids (:57-71): m x max_n matrix of n-gram ids,
    * -1 where absent. */
  def stringToNgramIds(s: String, idx: Map[String, Int], maxN: Int): Array[Array[Int]] = {
    val out = Array.fill(s.length, maxN)(-1)
    var i = 0
    while (i < s.length) {
      var j = 0
      while (j < math.min(maxN, s.length - i)) {
        out(i)(j) = idx.getOrElse(s.substring(i, i + j + 1), -1)
        j += 1
      }
      i += 1
    }
    out
  }

  // ---------------------------------------------------------------- E5-E7 (EM)

  final type Mat = Array[Array[Double]]

  def initializeProbs(size: Int): Mat =
    Array.fill(size, size)(1.0 / size) // normalize(ones) (:106-110)

  /** forward (:113-125): alpha over (input_pos x output_pos) with
    * ngram-length transitions. input = GT, output = OCR (the model is
    * fit gt->ocr and inverted at compile time, :276). */
  def forward(in: Array[Array[Int]], out: Array[Array[Int]],
      probs: Mat, ngrProbs: Array[Double]): Mat = {
    val a = Array.fill(in.length + 1, out.length + 1)(0.0)
    a(0)(0) = 1.0
    val maxNi = if (in.length > 0) in(0).length else 0
    val maxNo = if (out.length > 0) out(0).length else 0
    var i = 1
    while (i <= in.length) {
      var j = 1
      while (j <= out.length) {
        var k = 0
        while (k < math.min(i, maxNi)) {
          var m = 0
          while (m < math.min(j, maxNo)) {
            val x = in(i - k - 1)(k); val y = out(j - m - 1)(m)
            if (x > -1 && y > -1)
              a(i)(j) += ngrProbs(k) * a(i - k - 1)(j - m - 1) * probs(x)(y)
            m += 1
          }
          k += 1
        }
        j += 1
      }
      i += 1
    }
    a
  }

  /** backward (:128-140). */
  def backward(in: Array[Array[Int]], out: Array[Array[Int]],
      probs: Mat, ngrProbs: Array[Double]): Mat = {
    val b = Array.fill(in.length + 1, out.length + 1)(0.0)
    b(in.length)(out.length) = 1.0
    val maxNi = if (in.length > 0) in(0).length else 0
    val maxNo = if (out.length > 0) out(0).length else 0
    var i = in.length - 1
    while (i >= 0) {
      var j = out.length - 1
      while (j >= 0) {
        var k = 0
        while (k < math.min(in.length - i, maxNi)) {
          var m = 0
          while (m < math.min(out.length - j, maxNo)) {
            val x = in(i)(k); val y = out(j)(m)
            if (x > -1 && y > -1)
              b(i)(j) += ngrProbs(k) * probs(x)(y) * b(i + k + 1)(j + m + 1)
            m += 1
          }
          k += 1
        }
        j -= 1
      }
      i -= 1
    }
    b
  }

  /** Per-pair E-step contribution added into (counts, ngrCounts)
    * (:143-165). */
  def accumulateExpectedCounts(in: Array[Array[Int]], out: Array[Array[Int]],
      probs: Mat, ngrProbs: Array[Double],
      counts: Mat, ngrCounts: Array[Double]): Unit = {
    val alpha = forward(in, out, probs, ngrProbs)
    val beta = backward(in, out, probs, ngrProbs)
    val z = alpha(in.length)(out.length)
    if (z == 0.0) return
    val maxNi = if (in.length > 0) in(0).length else 0
    val maxNo = if (out.length > 0) out(0).length else 0
    var i = 1
    while (i <= in.length) {
      var j = 1
      while (j <= out.length) {
        if (alpha(i)(j) * beta(i)(j) != 0.0) {
          var k = 0
          while (k < math.min(i, maxNi)) {
            var m = 0
            while (m < math.min(j, maxNo)) {
              val x = in(i - k - 1)(k); val y = out(j - m - 1)(m)
              if (x > -1 && y > -1) {
                val c = alpha(i - k - 1)(j - m - 1) * ngrProbs(k) *
                  probs(x)(y) * beta(i)(j) / z
                ngrCounts(k) += c
                counts(x)(y) += c
              }
              m += 1
            }
            k += 1
          }
        }
        j += 1
      }
      i += 1
    }
  }

  def matAdd(a: Mat, b: Mat): Mat = {
    var i = 0
    while (i < a.length) {
      var j = 0
      while (j < a(i).length) { a(i)(j) += b(i)(j); j += 1 }
      i += 1
    }
    a
  }

  /** mean KL divergence (:168-171), with log(x)=0 for x<=0 (the
    * reference relies on numpy masked-log leaving zeros*garbage that
    * multiplies to 0 — we define it cleanly). */
  def meanKlDivergence(old: Mat, nw: Mat): Double = {
    var s = 0.0
    var i = 0
    while (i < nw.length) {
      var j = 0
      while (j < nw(i).length) {
        val n = nw(i)(j)
        if (n > 0) {
          val lo = if (old(i)(j) > 0) math.log(old(i)(j)) else 0.0
          s += n * math.log(n) - n * lo
        }
        j += 1
      }
      i += 1
    }
    s / nw.length
  }

  /** M-step (:174-180): rows with nonzero counts re-normalized. */
  def computeNewProbs(counts: Mat, probs: Mat): Mat = {
    val r = probs.map(_.clone())
    var i = 0
    while (i < counts.length) {
      var rs = 0.0
      var j = 0
      while (j < counts(i).length) { rs += counts(i)(j); j += 1 }
      if (rs > 0) {
        j = 0
        while (j < counts(i).length) { r(i)(j) = counts(i)(j) / rs; j += 1 }
      }
      i += 1
    }
    r
  }

  final case class StModel(ngrams: Seq[String], probs: Mat, ngrProbs: Array[Double])

  /** fit (:183-198) — driver EM loop; E-step runs distributed when a
    * Dataset is supplied (matrices broadcast each iteration, partial
    * counts summed in a fixed two-level order — the classic Spark EM
    * shape). */
  def fitLocal(pairs: Seq[(Array[Array[Int]], Array[Array[Int]])],
      nNgrams: Int, maxN: Int, threshold: Double = 1e-4,
      maxIters: Int = 50): (Mat, Array[Double]) = {
    var probs = initializeProbs(nNgrams)
    var ngrProbs = Array.fill(maxN)(1.0 / maxN)
    var klDiv = Double.PositiveInfinity
    var iters = 0
    while (klDiv > threshold && iters < maxIters) {
      val counts: Mat = Array.fill(nNgrams, nNgrams)(0.0)
      val ngrCounts = new Array[Double](maxN)
      pairs.foreach { case (in, out) =>
        accumulateExpectedCounts(in, out, probs, ngrProbs, counts, ngrCounts)
      }
      val newProbs = computeNewProbs(counts, probs)
      val s = ngrCounts.sum
      if (s > 0) ngrProbs = ngrCounts.map(_ / s)
      klDiv = meanKlDivergence(probs, newProbs)
      probs = newProbs
      iters += 1
    }
    (probs, ngrProbs)
  }

  /** E1-E3 distributed with a BOUNDED driver footprint: per-gram counts
    * aggregate in a codegen'd hash agg, then the composite
    * `(unigram-first, cnt desc, gram asc)` orderBy+limit runs as a
    * TakeOrderedAndProject (per-partition top-k merged on the driver) —
    * the driver receives at most `maxNgrams + 1` rows no matter how
    * large the distinct n-gram set is (a 100-TB multilingual corpus has
    * hundreds of millions of distinct ≤3-grams; collecting them all is
    * a driver OOM). Unigram-first ordering makes the top-(k+1) a
    * superset of select_ngrams' choice (lib/error_st.py:42-54): all
    * unigrams sort before every higher-order gram, and higher grams tie-
    * break exactly like selectNgrams' (cnt desc, gram asc). The +1 row
    * detects unigram overflow (row k+1 being a unigram proves > k
    * unigrams exist, the reference's error case). */
  def topNgramCounts(spark: SparkSession, pairs: Dataset[(String, String)],
      maxN: Int, maxNgrams: Int): org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    pairs.toDF("ocr", "gt")
      .select(explode(array($"ocr", $"gt")).as("text"))
      .where(length($"text") >= 1)
      .select(explode(
        graft.functions.CharNgrams.charNgrams($"text", 1, maxN)).as("gram"))
      .groupBy($"gram").agg(count(lit(1)).as("cnt"))
      .orderBy((length($"gram") <= 1).desc, $"cnt".desc, $"gram".asc)
      .limit(maxNgrams + 1)
  }

  /** The sum of E-step partials (expected counts, n-gram order counts),
    * added in the order given into fresh arrays. */
  private def sumPartials(ps: Iterable[(Mat, Array[Double])], n: Int,
      maxN: Int): (Mat, Array[Double]) = {
    val cs: Mat = Array.fill(n, n)(0.0)
    val ns = new Array[Double](maxN)
    ps.foreach { case (c, v) =>
      matAdd(cs, c)
      var k = 0
      while (k < maxN) { ns(k) += v(k); k += 1 }
    }
    (cs, ns)
  }

  /** Distributed E-step EM over (gt, ocr) line pairs. */
  def fitSpark(spark: SparkSession, pairs: Dataset[(String, String)],
      maxN: Int = 3, maxNgrams: Int = 1000, threshold: Double = 1e-4,
      maxIters: Int = 20): StModel = {
    import spark.implicits._
    // bounded collect: <= maxNgrams+1 survivors (see topNgramCounts);
    // selectNgrams re-applies the reference's exact ordering (unigrams
    // sorted asc ++ higher by cnt desc) and raises the reference's
    // unigram-overflow error if even the survivors hold > maxNgrams
    // unigrams.
    val top = topNgramCounts(spark, pairs, maxN, maxNgrams)
      .as[(String, Long)].collect()
    val ngrams = selectNgrams(top.toMap, maxNgrams)
    val idx = ngrams.zipWithIndex.toMap
    val bcIdx = spark.sparkContext.broadcast(idx)
    // pair = (gt_ids, ocr_ids): fit gt->ocr, inverted at compile
    val idPairs = pairs.map { case (ocr, gt) =>
      (stringToNgramIds(gt, bcIdx.value, maxN),
        stringToNgramIds(ocr, bcIdx.value, maxN))
    }.persist()
    val pairsRdd = idPairs.rdd
    val width = math.max(1, math.ceil(math.sqrt(pairsRdd.getNumPartitions)).toInt)
    val groups = math.max(1, (pairsRdd.getNumPartitions + width - 1) / width)
    var probs = initializeProbs(ngrams.length)
    var ngrProbs = Array.fill(maxN)(1.0 / maxN)
    var klDiv = Double.PositiveInfinity
    var iters = 0
    while (klDiv > threshold && iters < maxIters) {
      val bcProbs = spark.sparkContext.broadcast(probs)
      val bcNgr = spark.sparkContext.broadcast(ngrProbs)
      val n = ngrams.length
      // a sum of fixed shape: the partials of partitions 0..P-1 in
      // groups of `width` consecutive indices, each group summed on an
      // executor in index order, the group sums folded here in group
      // order. A merge in task completion order (reduce, treeReduce)
      // rounds differently run to run, and so does the model; like
      // treeReduce, the driver receives about sqrt(P) n x n matrices.
      val (counts2, ngrCounts) = sumPartials(pairsRdd.mapPartitionsWithIndex { (i, it) =>
        val cs: Mat = Array.fill(n, n)(0.0)
        val ns = new Array[Double](maxN)
        it.foreach { case (in, out) =>
          accumulateExpectedCounts(in, out, bcProbs.value, bcNgr.value, cs, ns)
        }
        Iterator.single((i / width, (i, (cs, ns))))
      }.groupByKey(new HashPartitioner(groups))
        .map { case (g, ps) => (g, sumPartials(ps.toSeq.sortBy(_._1).map(_._2), n, maxN)) }
        .collect().sortBy(_._1).map(_._2), n, maxN)
      val newProbs = computeNewProbs(counts2, probs)
      val s = ngrCounts.sum
      if (s > 0) ngrProbs = ngrCounts.map(_ / s)
      klDiv = meanKlDivergence(probs, newProbs)
      probs = newProbs
      bcProbs.destroy(); bcNgr.destroy()
      iters += 1
    }
    idPairs.unpersist()
    StModel(ngrams, probs, ngrProbs)
  }

  // ---------------------------------------------------------------- E8-E9

  /** matrix_to_mappings (:201-208): (in_ngr, out_ngr, -ln p), strict
    * weight_threshold. */
  def matrixToMappings(probs: Mat, ngrams: Seq[String],
      weightThreshold: Double = 5.0): Seq[(String, String, Double)] = {
    val out = mutable.ArrayBuffer.empty[(String, String, Double)]
    var i = 0
    while (i < probs.length) {
      var j = 0
      while (j < probs(i).length) {
        if (probs(i)(j) > 0) {
          val w = -math.log(probs(i)(j))
          if (w < weightThreshold) out += ((ngrams(i), ngrams(j), w))
        }
        j += 1
      }
      i += 1
    }
    out.toSeq
  }

  /** compile_transducer (:211-278): master automaton over states
    * (errors_so_far, pending_ngram_len); eps-arc into the order-n state
    * costs -ln ngr_probs[n-1]; id-n / err-n meta-arcs spliced directly
    * with the per-order string_maps (no meta-symbol pass — SURVEY.md §2
    * row E9); inverted at the end (model fit gt->ocr; applied ocr->gt).
    */
  def compileTransducer(mappings: Seq[(String, String, Double)],
      ngrProbs: Array[Double], maxErrors: Int = 3,
      maxContext: Int = 3): Wfst = {
    val ngrWeights = ngrProbs.map(p => -math.log(p))
    val idMaps = Array.fill(maxContext)(mutable.ArrayBuffer.empty[(String, String, Double)])
    val errMaps = Array.fill(maxContext)(mutable.ArrayBuffer.empty[(String, String, Double)])
    for ((x, y, w) <- mappings) {
      val n = x.codePointCount(0, x.length) - 1
      if (n >= 0 && n < maxContext) {
        if (x == y) idMaps(n) += ((x, y, w)) else errMaps(n) += ((x, y, w))
      }
    }
    // pushed + minimized BEFORE splicing (the reference's optimize(),
    // lib/error_st.py:277): each machine is copied into the grid up to
    // maxErrors+1 times, so the DAWG shrink multiplies; pushing moves
    // the weight to each chain's first arc and finWt becomes 0, which
    // the splice's exit-eps arc carries unchanged
    val idTrs = idMaps.map(m =>
      Wfst.fromMappings(m).pushWeights.minimizeAcyclic.connect)
    val errTrs = errMaps.map(m =>
      Wfst.fromMappings(m).pushWeights.minimizeAcyclic.connect)

    // grid states (i, j): i = errors so far, j = pending ngram order
    // (0 = hub). Builder state ids: grid first, then spliced machines.
    val arcsOut = mutable.ArrayBuffer.empty[(Int, Arc)]
    var nStates = (maxErrors + 1) * (maxContext + 1)
    def grid(i: Int, j: Int): Int = i * (maxContext + 1) + j
    val finals = mutable.HashMap.empty[Int, Double]
    def splice(tr: Wfst, src: Int, dst: Int): Unit = {
      if (tr.numStates == 0 || tr.finState.isEmpty) return
      val offBase = nStates
      nStates += tr.numStates
      arcsOut += ((src, Arc(Label.Eps, Label.Eps, 0.0, offBase + tr.start)))
      var s = 0
      while (s < tr.numStates) {
        var k = tr.off(s)
        while (k < tr.off(s + 1)) {
          arcsOut += ((offBase + s,
            Arc(tr.il(k), tr.ol(k), tr.wt(k), offBase + tr.ds(k))))
          k += 1
        }
        s += 1
      }
      var fi = 0
      while (fi < tr.finState.length) {
        arcsOut += ((offBase + tr.finState(fi),
          Arc(Label.Eps, Label.Eps, tr.finWt(fi), dst)))
        fi += 1
      }
    }
    for (i <- 0 to maxErrors) {
      for (j <- 1 to maxContext) {
        // (i,0) -> (i,j) eps with ngram-order weight (:253-256)
        arcsOut += ((grid(i, 0),
          Arc(Label.Eps, Label.Eps, ngrWeights(j - 1), grid(i, j))))
        // (i,j) -> (i,0) via identity-ngram machine (:257-261)
        splice(idTrs(j - 1), grid(i, j), grid(i, 0))
        // (i-1,j) -> (i,0) via error-ngram machine (:262-267)
        if (i > 0) splice(errTrs(j - 1), grid(i - 1, j), grid(i, 0))
      }
      finals(grid(i, 0)) = 0.0 // (:268)
    }
    val perState = Array.fill(nStates)(mutable.ArrayBuffer.empty[Arc])
    arcsOut.foreach { case (s, a) => perState(s) += a }
    Wfst(grid(0, 0), finals.toMap, perState.map(_.toArray).toArray)
      .invert.rmEpsilon.arcSort // (:276-277)
  }

  /** End-to-end ST training (scripts/train.py:185-213). */
  def trainSt(spark: SparkSession, pairs: Dataset[(String, String)],
      maxN: Int = 3, maxNgrams: Int = 1000, maxErrors: Int = 3,
      weightThreshold: Double = 5.0, threshold: Double = 1e-4,
      maxIters: Int = 20): (StModel, Wfst) = {
    val model = fitSpark(spark, pairs, maxN, maxNgrams, threshold, maxIters)
    val mappings = matrixToMappings(model.probs, model.ngrams, weightThreshold)
    (model, compileTransducer(mappings, model.ngrProbs, maxErrors, maxN))
  }
}
