package graft.queries

import graft.align.{Aligner, Distance}
import graft.correct.{CompiledModel, Corrector}
import graft.pipeline.{CorrectionJob, DocGen}
import graft.tokenize.Tokenizer
import graft.train.{Category, ErrorModelTrainer, LexiconBuilder, NaiveBayes}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The driver-checked operator battery (SURVEY.md §2 inventory →
  * `SparkEntry.queries`). Every SQL-expressible op has a DuckDB oracle in
  * `Oracles`; FST/alignment ops are validated by fixtures instead and
  * run here as rows-only checks.
  *
  * Scale notes: all aggregations are partial+final hash aggs (Catalyst
  * built-ins); the doc-pair training reads are two-column projections
  * (column pruning reaches the parquet scan); the ANN query broadcasts
  * the 1-row query vector. */
object Queries {

  /** Adaptive SCAN FAN-OUT (guide §1.2/§2: fix the distributed
    * algorithm's parallelism before anything else). A small corpus
    * arrives as ONE parquet file under one row group, so the scan — and
    * every CPU-heavy per-row map stacked on it (correction, alignment,
    * shingling, per-char hashing, markup round trips) — runs as a
    * single task while the other `defaultParallelism - 1` cores idle:
    * everything upstream of the first Exchange was serial. When the
    * input is too small to fill the session's parallelism with at least
    * one openCost-sized split per core, fan out round-robin right after
    * the read (the sub-MB shuffle is noise next to a 32x map-stage
    * speedup). At real scale the condition fails and the plan is
    * UNCHANGED — the fan-out self-disables instead of being a local[32]
    * constant. Correctness: round-robin repartition local-sorts its
    * input first (sortBeforeRepartition, Spark default) so the
    * row→partition map is retry-stable, and every consumer below is
    * partition-order independent by the battery's bit-exactness
    * discipline (fixed-point sums, sorted collect_lists, total-order
    * top-k). The two order-SENSITIVE consumers (modelFor's and
    * qStErrorModel's un-ordered `limit` training samples) read the raw
    * scan via fan = false. */
  private val FanOutBytesPerCore = 4L * 1024 * 1024 // files.openCostInBytes
  private val inputBytesCache =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()
  /** Input size in bytes, Long.MaxValue (never fan) when unknown. A
    * failed lookup is not cached (computeIfAbsent records nothing for a
    * null result), so a transient FS error or a path written later is
    * looked up again on the next call; `releaseCaches()` forgets every
    * size, so a path rewritten in a long-lived session is measured
    * again. */
  private[queries] def inputBytes(s: SparkSession, path: String): Long = {
    val n = inputBytesCache.computeIfAbsent(path, p => {
      try {
        val hp = new org.apache.hadoop.fs.Path(p)
        java.lang.Long.valueOf(hp.getFileSystem(s.sparkContext.hadoopConfiguration)
          .getContentSummary(hp).getLength)
      } catch { case _: Exception => null }
    })
    if (n == null) Long.MaxValue else n
  }
  private[queries] def fanOutSmall(df: DataFrame, path: String): DataFrame = {
    val s = df.sparkSession
    // session-settable kill switch (spark.graft.fanout.enabled=false,
    // any case): cluster operators whose inputs are always well-split
    // can opt out without a rebuild; default on — the size predicate
    // below already self-disables on real-scale inputs
    val key = "spark.graft.fanout.enabled"
    val raw = s.conf.get(key, "true")
    val enabled = raw.toBooleanOption.getOrElse(throw
      new IllegalArgumentException(s"$key must be true or false, got '$raw'"))
    if (!enabled) return df
    val cores = s.sparkContext.defaultParallelism
    if (inputBytes(s, path) < cores.toLong * FanOutBytesPerCore)
      df.repartition(cores * 2) // 2 waves: straggler smoothing
    else df
  }

  /** Raw scan. Used by (a) consumers whose semantics depend on scan
    * order (un-ordered `limit` sampling), (b) spec-pinned shuffle-free
    * plans (qSampleStratified), and (c) queries whose per-row map work
    * is LIGHT — measured by interleaved A/B at sf0.1, the fan-out
    * exchange (~0.3 s of shuffle + 64-task scheduling) costs more
    * there than single-core scanning does (e.g. q_token_counts 0.25 s
    * raw vs 0.60 s fanned, q_cer_lev 0.10 vs 0.19), while the
    * CPU-heavy maps keep [[docsDf]]'s fan-out (q_winnow 0.38 fanned vs
    * 3.08 raw, q_confusion_counts 0.54 vs 3.00). This per-call-site
    * split is engineering knowledge the optimizer does not have
    * (guide §8); at real scale both paths read identical well-split
    * scans. */
  private def docsDfRaw(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/documents.parquet")

  private def docsDf(s: SparkSession, dir: String): DataFrame =
    fanOutSmall(docsDfRaw(s, dir), s"$dir/documents.parquet")

  private def embDfRaw(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/embeddings.parquet")

  private def embDf(s: SparkSession, dir: String): DataFrame =
    fanOutSmall(embDfRaw(s, dir), s"$dir/embeddings.parquet")

  // deterministic OCR-ification of the documents table (training pairs
  // for the correction dataflow over driver-provided testdata).
  // fan = false keeps the raw scan so an un-ordered limit() downstream
  // selects the same rows as every previous round (model stability).
  private def pairsDf(s: SparkSession, dir: String,
      fan: Boolean = true): DataFrame = {
    import s.implicits._
    val base = if (fan) docsDf(s, dir) else docsDfRaw(s, dir)
    base.select($"doc_id", $"text")
      .as[(Long, String)]
      .map { case (id, text) => (id, DocGen.perturb(text, id), text) }
      .toDF("doc_id", "ocr", "gt")
  }

  /** Caches persisted by query builders (qNgramJaccard's per-shingle
    * aggregate). Each builder registers its persisted DF here;
    * harnesses (Bench, Verify, specs) call `releaseCaches()` after
    * materializing a query's result — otherwise repeated runs in one
    * session accumulate cached relations whose spilled disk blocks are
    * only freed at session end. It also drops the input sizes
    * [[inputBytes]] remembered. */
  private val persistedCaches = java.util.Collections.newSetFromMap(
    new java.util.concurrent.ConcurrentHashMap[DataFrame, java.lang.Boolean]())
  private def registerCache(df: DataFrame): DataFrame = {
    persistedCaches.add(df); df
  }
  def releaseCaches(): Unit = {
    val it = persistedCaches.iterator()
    while (it.hasNext) {
      val df = it.next()
      it.remove()
      // a stopped context has freed its blocks and cannot unpersist.
      // blocking: the bench protocol times the NEXT rep immediately
      // after this call — async eviction would overlap its measured window
      if (!df.sparkSession.sparkContext.isStopped) df.unpersist(blocking = true)
    }
    inputBytesCache.clear()
  }

  /** Observed-metrics plumbing: queries that bound coverage (the
    * jaccard df-cut) surface what they dropped via `df.observe` —
    * CollectMetrics rides the existing scan, no extra job — and a
    * QueryExecutionListener records the last values per metric name.
    * No silent caps: a pipeline can assert dropped counts instead of
    * trusting "covered everything". */
  private val observed =
    new java.util.concurrent.ConcurrentHashMap[String, Map[String, Any]]()
  /** QueryExecutionListener callbacks arrive ASYNCHRONOUSLY on the
    * listener bus, so a read issued right after an action can race the
    * recording — poll briefly before giving up. Callers that must not
    * read a previous run's value for the same metric name should
    * `clearObserved(name)` before triggering the action. */
  def lastObserved(name: String, timeoutMs: Long = 2000): Option[Map[String, Any]] = {
    val deadline = System.nanoTime() + timeoutMs * 1000000L
    var v = observed.get(name)
    while (v == null && System.nanoTime() < deadline) {
      Thread.sleep(20)
      v = observed.get(name)
    }
    Option(v)
  }
  def clearObserved(name: String): Unit = observed.remove(name)
  /** Non-blocking read for ABSENCE checks ("this metric was NOT
    * recorded") — `lastObserved`'s polling default would block its full
    * timeout per call when the metric is legitimately absent. */
  def peekObserved(name: String): Option[Map[String, Any]] =
    Option(observed.get(name))
  private val obsSessions = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession, java.lang.Boolean]())
  private def ensureObserveListener(s: SparkSession): Unit =
    obsSessions.synchronized {
      if (obsSessions.get(s) == null) {
        obsSessions.put(s, java.lang.Boolean.TRUE)
        s.listenerManager.register(
          new org.apache.spark.sql.util.QueryExecutionListener {
            override def onSuccess(funcName: String,
                qe: org.apache.spark.sql.execution.QueryExecution,
                durationNs: Long): Unit =
              qe.observedMetrics.foreach { case (k, row) =>
                observed.put(k,
                  row.getValuesMap[Any](row.schema.fieldNames.toSeq))
              }
            override def onFailure(funcName: String,
                qe: org.apache.spark.sql.execution.QueryExecution,
                exception: Exception): Unit = ()
          })
      }
    }

  /** Per-sfDir cache of the model trained on the perturbed documents
    * table (driver-side compile from distributed aggregates). */
  private val modelCache =
    new java.util.concurrent.ConcurrentHashMap[String, CompiledModel]()

  def modelFor(s: SparkSession, dir: String): CompiledModel =
    modelCache.computeIfAbsent(dir, _ => {
      import s.implicits._
      // distributed counting passes; only aggregated dicts reach the
      // driver (CompiledModel.trainSpark — the 100 TB shape). The
      // training sample is bounded: error models come from curated GT
      // sets (the synthetic perturbations here are uniformly random, so
      // an unbounded sample densifies the confusion table far beyond
      // real OCR and only slows the cascade down).
      // raw scan (fan = false): the un-ordered limit must keep selecting
      // the SAME 500 rows (file order) so the compiled model — and every
      // correction it produces — is byte-identical across rounds. The
      // repartition AFTER the limit does not change the selection; it
      // spreads the 500 per-pair alignments across the cores instead of
      // leaving them on the single gathered post-limit partition.
      CompiledModel.trainSpark(s,
        pairsDf(s, dir, fan = false).select($"ocr", $"gt")
          .as[(String, String)].limit(500)
          .repartition(s.sparkContext.defaultParallelism))
    })

  // ------------------------------------------------------------ A/B/C: sources + lexicon

  /** A1/B1/C2-shape: whitespace token counts (hash agg). */
  def qTokenCounts(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    docsDfRaw(s, dir)
      .select(explode(split($"text", " ")).as("token"))
      .where($"token" =!= "")
      .groupBy($"token").agg(count(lit(1)).as("cnt"))
      .orderBy($"token")
  }

  /** The aggregated lexicon-count dict (no presentation sort) — shared
    * by qLexiconCounts and qLexiconWeights. */
  private def lexiconCountsRaw(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    docsDfRaw(s, dir).select($"text").as[String]
      .flatMap(LexiconBuilder.lineEmissions)
      .toDF("category", "token", "freq")
      .groupBy($"category", $"token").agg(sum($"freq").as("freq"))
  }

  /** C2 faithful: full tokenize+classify+normalize lexicon counts. */
  def qLexiconCounts(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    lexiconCountsRaw(s, dir).orderBy($"category", $"token")
  }

  /** C3: -ln relative frequency weights over the words dict, with the
    * reference pruning rule (abs<=3 && rel<2e-6; total BEFORE pruning —
    * lib/helper.py:117-136). The AGGREGATED words dict (vocabulary-sized,
    * not corpus-sized) is persisted so the corpus tokenize+agg runs
    * ONCE: both consumers — the `total` aggregate and the output
    * projection — read the cache. The total stays INSIDE the plan as a
    * broadcast 1-row cross join (the qTfidfTop N pattern) — an eager
    * collect here would run a Spark job at builder time, breaking the
    * battery's builder-is-lazy invariant. */
  def qLexiconWeights(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val words = registerCache(
      lexiconCountsRaw(s, dir).where($"category" === Category.Words)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val totalDf = words.agg(sum($"freq").cast("double").as("total"))
    words.crossJoin(broadcast(totalDf))
      .where(!($"freq" <= 3 && $"freq" / $"total" < 2e-6))
      .select($"token", round(-log($"freq" / $"total"), 6).as("weight"))
      .orderBy($"token")
  }

  /** Distributed char-LM training counts (the aggregation behind
    * CharNgramLm.trainSpark, B12's training pass): one flatMap of the
    * per-char (context+char) keys — the SAME lineKeys emission the LM
    * trains from — into a partial+final hash agg. SQL-expressible
    * (key at position i = chars [max(1, i-3) .. i]), so the training
    * pass itself is oracle-gated, not just spec-pinned. Only the
    * vocabulary-sized dict ever leaves the aggregation. */
  def qLmNgrams(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    docsDfRaw(s, dir).select($"text").as[String]
      .flatMap(graft.correct.CharNgramLm.lineKeys(_, 4))
      .groupBy($"value").agg(count(lit(1)).as("cnt"))
      .select($"value".as("gram"), $"cnt")
      .orderBy($"gram")
  }

  /** LM-perplexity quality filter (the CCNet/Gopher shape: score every
    * document under a corpus LM, filter by perplexity): per-doc char
    * 4-gram cross-entropy under the SAME add-one-smoothed model
    * CharNgramLm trains (counts from qLmNgrams' aggregation over this
    * corpus). Per-char cost = -ln((c(key)+1) / (c(ctx)+V)).
    *
    * Scale shape: the exploded per-char key stream joins two
    * VOCABULARY-sized dimension tables (key counts, context counts —
    * both derived from ONE persisted aggregate; |charset|^4-bounded) and
    * re-aggregates per doc — two hash aggs + dimension joins, no hint
    * (AQE broadcasts the dims when they fit). Per-char costs are
    * deterministic doubles (IEEE ln); the per-doc sum is FIXED-POINT
    * (sum of round(cost*1e9) BIGINTs) so aggregation order cannot
    * change the value and DuckDB reproduces it bit-for-bit. V (distinct
    * emitted chars) stays in-plan as a 1-row broadcast. */
  def qLmPerplexity(s: SparkSession, dir: String): DataFrame =
    perplexityPerDoc(s, dir).orderBy("doc_id")

  /** Per-doc char-LM cost under the corpus-trained 4-gram model — the
    * shared core of [[qLmPerplexity]] and [[qPplBuckets]]. */
  private def perplexityPerDoc(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // NOT persisted: keys is the CORPUS-sized exploded per-char stream —
    // caching it at 100 TB writes a multiple of the corpus to disk. Its
    // two consumers recompute it from the (cheap) scan + flatMap; what
    // IS worth caching is the VOCABULARY-sized counts aggregate below,
    // which three consumers read (ctx counts, V, the cost join).
    val keys = docsDf(s, dir).select($"doc_id", $"text").as[(Long, String)]
      .flatMap { case (id, t) =>
        graft.correct.CharNgramLm.lineKeys(t, 4).map((id, _))
      }
      .toDF("doc_id", "key")
    val counts = registerCache(
      keys.groupBy($"key").agg(count(lit(1)).as("kc"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val ctxCounts = counts
      .groupBy(expr("substring(key, 1, length(key) - 1)").as("ctx"))
      .agg(sum($"kc").as("cc"))
    val vDf = counts
      .agg(count_distinct(expr("substring(key, length(key), 1)"))
        .cast("double").as("v"))
    val cost = keys
      .join(counts, "key")
      .join(ctxCounts,
        expr("substring(key, 1, length(key) - 1)") === ctxCounts("ctx"))
      .crossJoin(broadcast(vDf))
      .select($"doc_id",
        expr("CAST(round(-ln((kc + 1.0) / (cc + v)) * 1e9) AS BIGINT)")
          .as("nats9"))
    cost.groupBy($"doc_id")
      .agg(count(lit(1)).as("n_chars"),
        (sum($"nats9") / 1e9).as("nats"))
      .select($"doc_id", $"n_chars",
        round($"nats", 6).as("nats"),
        round(exp($"nats" / $"n_chars"), 6).as("ppl"))
  }

  /** CCNet-style perplexity BUCKETING (Wenzek et al. 2020): split the
    * corpus into head/middle/tail tertiles by LM perplexity — head =
    * lowest-perplexity (cleanest) third, the slice CCNet keeps for LM
    * training. The tertile cuts are calibrated on a FIXED-SIZE
    * deterministic sample (CCNet itself fits its cut points on a
    * sample): the 500 docs with the smallest u(doc_id) under the
    * battery's md5 60-bit hash.
    *
    * Scale shape: the per-doc ppl table (one row per doc — small
    * relative to the corpus it summarizes) persists once and feeds
    * BOTH the sample and the final bucketing; the sample is a
    * TakeOrderedAndProject (k-slot heaps, O(500) anywhere — a
    * percentile over the FULL corpus would need a global sort or an
    * approximate sketch); the cut derivation runs the exact
    * histogram-cumulative-window discipline of [[qLenPercentiles]]
    * over the bounded sample only (the lone global window in the
    * plan covers <= 500 rows by construction); the cuts broadcast
    * back as a 1-row cross join and bucket assignment is per-row.
    * Exactness: ppl is the already-bit-exact q_lm_perplexity value
    * (rounded to 6 before ANY comparison), cuts are discrete sample
    * order statistics — no interpolation, no float aggregation. */
  def qPplBuckets(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.functions.HexPrefix64.hexPrefix64
    import org.apache.spark.sql.expressions.Window
    val ppl = registerCache(perplexityPerDoc(s, dir)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val samp = ppl
      .select($"ppl", hexPrefix64(md5($"doc_id".cast("string"))).as("u"),
        $"doc_id")
      .orderBy($"u", $"doc_id").limit(500)
    val cw = Window.orderBy($"ppl")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cuts = samp.groupBy($"ppl").agg(count(lit(1)).as("c"))
      .withColumn("cum", sum($"c").over(cw))
      .withColumn("total", sum($"c").over(
        Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
      .agg(min(when($"cum" >= ceil($"total" / 3.0), $"ppl")).as("p33"),
        min(when($"cum" >= ceil($"total" * 2.0 / 3.0), $"ppl")).as("p67"))
    ppl.crossJoin(broadcast(cuts))
      .select($"doc_id", $"ppl",
        when($"ppl" <= $"p33", "head")
          .when($"ppl" <= $"p67", "middle")
          .otherwise("tail").as("bucket"))
      .orderBy($"doc_id")
  }

  /** Exact length percentiles per source — computed the way a 100-TB
    * job should: token counts take few distinct values, so the
    * distribution COMPACTS to a (source, n_tokens) histogram first
    * (bounded: sources x distinct lengths) and the percentiles fall out
    * of a cumulative-count window over that histogram — never a
    * per-group sort buffer or a percentile_approx sketch. p-th
    * percentile (disc) = smallest value whose cumulative count >=
    * ceil(p * total). */
  def qLenPercentiles(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val hist = docsDfRaw(s, dir)
      .select($"source", size(split($"text", " ")).as("n_tokens"))
      .groupBy($"source", $"n_tokens").agg(count(lit(1)).as("c"))
    val w = Window.partitionBy($"source").orderBy($"n_tokens")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = hist
      .withColumn("cum", sum($"c").over(w))
      .withColumn("total", sum($"c").over(Window.partitionBy($"source")))
    def pct(p: Double, name: String) =
      min(when($"cum" >= ceil(lit(p) * $"total"), $"n_tokens")).as(name)
    cum.groupBy($"source")
      .agg(max($"total").as("n_docs"),
        pct(0.5, "p50"), pct(0.9, "p90"), pct(0.99, "p99"))
      .orderBy($"source")
  }

  /** 1.2: the training inner join on line id (scripts/train.py:119-130;
    * the reference's only join shape). NO broadcast hint: the GT side
    * is the full corpus (grows linearly) — AQE broadcasts it at small
    * scale by itself and falls back to a shuffle join past the
    * threshold. */
  def qTrainingJoin(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ocr = docsDfRaw(s, dir)
      .select($"doc_id".as("line_id"),
        regexp_replace($"text", "ch", "h").as("ocr"))
      .where($"line_id" % 3 =!= 0) // partial OCR coverage: exercise inner-join drops
    val gt = docsDfRaw(s, dir)
      .select($"doc_id".as("line_id"), $"text".as("gt"))
    ocr.join(gt, Seq("line_id"), "inner")
      .select($"line_id", $"ocr", $"gt", ($"ocr" === $"gt").as("unchanged"))
      .orderBy($"line_id")
  }

  // ------------------------------------------------------------ E: ngram stats

  /** E1/E3: char-trigram top-k (deterministic total order). */
  def qNgramTopk(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    docsDfRaw(s, dir).where(length($"text") >= 3)
      .select(explode(
        graft.functions.CharNgrams.charNgrams($"text", 3, 3)).as("gram"))
      .groupBy($"gram").agg(count(lit(1)).as("cnt"))
      .orderBy(desc("cnt"), asc("gram")).limit(50)
  }

  /** E1-E3: all n-grams (n<=3, spaces included) with counts, plus the
    * select_ngrams rank — all unigrams, then most-frequent higher-order
    * (deterministic tie-break: count desc, gram asc).
    *
    * rank<=200 under (unigram-first, cnt desc, gram asc) IS the top-200
    * under that composite order, so it runs as orderBy+limit — a
    * TakeOrderedAndProject (per-partition top-k, merged on the driver) —
    * NOT a global row_number window, which would funnel the entire
    * distinct-gram table through ONE partition at corpus scale. The <=200
    * survivors are numbered on the driver (the reference's select_ngrams
    * returns a driver-side list too, lib/error_st.py:42-54). */
  /** The distributed part of qStNgrams (pre-collect), exposed so the
    * spec/PlanDump can assert its plan shape (TakeOrderedAndProject, no
    * window). */
  def stNgramsTop(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    docsDfRaw(s, dir).where(length($"text") >= 1)
      .select(explode(
        graft.functions.CharNgrams.charNgrams($"text", 1, 3)).as("gram"))
      .groupBy($"gram").agg(count(lit(1)).as("cnt"))
      .orderBy((length($"gram") <= 1).desc, $"cnt".desc, $"gram".asc)
      .limit(200)
  }

  def qStNgrams(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val top = stNgramsTop(s, dir)
      .as[(String, Long)].collect() // bounded: exactly the <=200 survivors
    top.zipWithIndex
      .map { case ((g, c), i) => (g, c, i + 1) }.toSeq
      .toDF("gram", "cnt", "rank")
      .orderBy($"rank")
  }

  /** E5-E9 end-to-end (rows-only): EM-fit ST error model on a bounded
    * pair sample, emit the learned (in_ngr, out_ngr, weight) mappings. */
  def qStErrorModel(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // raw scan (fan = false): un-ordered limit — same 120-row sample as
    // every previous round (the modelFor discipline)
    val pairs = pairsDf(s, dir, fan = false).select($"ocr", $"gt")
      .as[(String, String)]
      .map { case (o, g) => (o.take(40), g.take(40)) } // bound the O(n^2) DP
      .limit(120)
    val st = graft.train.ErrorModelST.fitSpark(s, pairs,
      maxN = 2, maxNgrams = 120, maxIters = 3, threshold = 1e-3)
    val mappings = graft.train.ErrorModelST.matrixToMappings(
      st.probs, st.ngrams, weightThreshold = 5.0)
    mappings.toDF("in_ngr", "out_ngr", "weight")
      .select($"in_ngr", $"out_ngr", round($"weight", 6).as("weight"))
      .orderBy($"in_ngr", $"out_ngr")
  }

  // ------------------------------------------------------------ D/F: training + eval

  /** D1: confusion n-gram counts over aligned OCR/GT pairs (the
    * flatMap+hash-agg shape; alignment is the difflib port → rows-only,
    * fixture-validated). */
  def qConfusionCounts(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    pairsDf(s, dir).select($"ocr", $"gt").as[(String, String)]
      .flatMap { case (ocr, gt) =>
        ErrorModelTrainer.confusionEmissions(ocr, gt, maxN = 3)
      }
      .toDF("n", "raw", "gt")
      .groupBy($"n", $"raw", $"gt").agg(count(lit(1)).as("cnt"))
      .orderBy($"n", $"raw", $"gt")
  }

  /** F4: Levenshtein CER of the perturbed OCR vs GT (SQL-oracled — the
    * perturbation here is a pure-SQL replace chain, NOT DocGen). */
  def qCerLev(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    docsDfRaw(s, dir)
      .select($"text",
        regexp_replace(regexp_replace($"text", "a", "o"), "r", "n").as("ocr"))
      .agg(sum(levenshtein($"ocr", $"text")).as("edits"),
        sum(length($"text")).as("chars"))
      .select($"edits", $"chars",
        round($"edits" / $"chars", 6).as("cer"))
  }

  /** F2/F3/F5: triplet eval of the real corrector (3-way join shape;
    * adjusted CER + precision/recall — alignment-based, rows-only). */
  def qEvalMetrics(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val model = modelFor(s, dir)
    val bc = s.sparkContext.broadcast(model)
    val pairs = pairsDf(s, dir).select($"ocr", $"gt").as[(String, String)]
    CorrectionJob.mapWithModel(pairs, bc) {
      m => { case (ocr, gt) =>
        val cor = Corrector.correctLine(ocr, m, m.windowMemo)
        // each pair aligned once, for both the adjusted distance and
        // precision/recall
        val alOcr = Aligner.align(ocr, gt)
        val alCor = Aligner.align(cor, gt)
        val (tp, tn, fp, fn) = Distance.precisionRecall(alOcr, alCor)
        val lenGt = gt.codePointCount(0, gt.length).toLong
        (Distance.levenshtein(ocr, gt).toLong,
          Distance.levenshtein(cor, gt).toLong, lenGt,
          Distance.adjustedDistance(alOcr), lenGt,
          Distance.adjustedDistance(alCor), lenGt, tp, tn, fp, fn)
      }
    }
      .toDF("lev_ocr", "lev_cor", "len_gt", "adj_ocr", "alen_ocr",
        "adj_cor", "alen_cor", "tp", "tn", "fp", "fn")
      .agg(sum($"lev_ocr").as("lev_ocr"), sum($"lev_cor").as("lev_cor"),
        sum($"len_gt").as("len_gt"), round(sum($"adj_ocr"), 4).as("adj_ocr"),
        round(sum($"adj_cor"), 4).as("adj_cor"),
        sum($"alen_ocr").as("alen_ocr"), sum($"alen_cor").as("alen_cor"),
        sum($"tp").as("tp"), sum($"tn").as("tn"),
        sum($"fp").as("fp"), sum($"fn").as("fn"))
      // the reference's published aggregates (evaluate.py:288-314):
      // precision/recall/F1, TPR/FPR/AUC, and the aggregate CER ratios
      // (Levenshtein and umlaut-adjusted) — pure arithmetic on the sums
      .withColumn("precision",
        round(when($"tp" + $"fp" === 0, 1.0)
          .otherwise($"tp" / ($"tp" + $"fp")), 6))
      .withColumn("recall",
        round(when($"tp" + $"fn" === 0, 1.0)
          .otherwise($"tp" / ($"tp" + $"fn")), 6))
      .withColumn("f1",
        round(lit(2) * $"tp" / (lit(2) * $"tp" + $"fp" + $"fn"), 6))
      .withColumn("tpr", $"recall")
      .withColumn("fpr",
        round(when($"fp" + $"tn" === 0, 0.0)
          .otherwise($"fp" / ($"fp" + $"tn")), 6))
      .withColumn("auc", round(
        lit(0.5) * $"tpr" * $"fpr" + $"tpr" * (lit(1) - $"fpr") +
          lit(0.5) * (lit(1) - $"tpr") * (lit(1) - $"fpr"), 6))
      .withColumn("cer_ocr", round($"lev_ocr" / $"len_gt", 6))
      .withColumn("cer_cor", round($"lev_cor" / $"len_gt", 6))
      .withColumn("adj_cer_ocr", round($"adj_ocr" / $"alen_ocr", 6))
      .withColumn("adj_cer_cor", round($"adj_cor" / $"alen_cor", 6))
  }

  /** B11/B13 flagship: train on the perturbed table, correct it back. */
  def qCorrectDocs(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val model = modelFor(s, dir)
    val bc = s.sparkContext.broadcast(model)
    CorrectionJob.mapWithModel(pairsDf(s, dir).as[(Long, String, String)], bc) {
      m => { case (id, ocr, gt) =>
        val cor = Corrector.correctLine(ocr, m, m.windowMemo)
        (id, ocr, cor, gt, cor == gt)
      }
    }
      .toDF("doc_id", "ocr", "corrected", "gt", "exact_match")
      .orderBy($"doc_id")
  }

  // ------------------------------------------------------------ dedup family

  /** Exact dedup: content-hash groups with keeper (min doc_id). */
  def qDedupExact(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    docsDfRaw(s, dir)
      .groupBy(md5($"text").as("h"))
      .agg(count(lit(1)).as("n"), min($"doc_id").as("keeper"))
      .orderBy($"h")
  }

  /** CCNet-style PARAGRAPH-LEVEL exact dedup — the rewrite CCNet
    * applies before anything else (Wenzek et al. 2020 §3: drop every
    * paragraph already seen elsewhere in the corpus, keep the FIRST
    * occurrence in corpus order). Paragraphs here are deterministic
    * 8-word chunks of each doc (the synthetic docs are single-line);
    * first occurrence = min(doc_id << 32 | idx) per paragraph hash, so
    * the keep decision is a total order both engines share.
    *
    * Scale shape: paragraph stream → ONE hash agg on md5(par) whose
    * per-group state is a single BIGINT min (never a doc list — the
    * lesson of the round-4 collect_set findings), join back on the same
    * key, then ONE doc_id agg reassembles surviving text
    * (array_sort(collect_list) bounded by the longest document). Docs
    * whose every paragraph was seen earlier are dropped whole. At
    * 10^12 docs the md5 shuffle is the whole cost; a hot paragraph
    * ("thank you for subscribing") contributes ONE min cell, not a
    * corpus-sized buffer. */
  def qParagraphDedup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // Round-6 rewrite (guide §8 discipline: decide on lightweight
    // proxies, move heavy payloads once): the keep decision needs ONLY
    // (h, pos64) — 16-byte rows — so the md5 shuffle, the join-back and
    // the per-doc fold all run over skinny rows, and the paragraph TEXT
    // never shuffles at all (the previous plan dragged every par string
    // through BOTH the h-join and the doc_id aggregation). pos64
    // encodes (doc_id, idx), so the verdict re-attaches to the docs
    // table by doc_id and clean_text is re-derived from each doc's own
    // row with the same deterministic 8-word chunking.
    val skinny = docsDf(s, dir)
      .select($"doc_id", split($"text", " ").as("ws"))
      .select($"doc_id", posexplode(transform(
        sequence(lit(0), ceil(size($"ws") / lit(8.0)).cast("int") - 1),
        i => concat_ws(" ", slice($"ws", i * lit(8) + 1, lit(8))))))
      .select(shiftleft(col("doc_id").cast("long"), 32)
        .bitwiseOR($"pos".cast("long")).as("pos64"),
        md5($"col").as("h"))
    val firsts = skinny.groupBy($"h").agg(min($"pos64").as("keep_pos"))
    val verdicts = skinny.join(firsts, "h")
      .select($"pos64", ($"pos64" === $"keep_pos").as("kept"))
      .groupBy(shiftright($"pos64", 32).as("doc_id"))
      .agg(count(lit(1)).as("n_pars"),
        sum(when($"kept", 1L).otherwise(0L)).as("n_kept"),
        sort_array(collect_list(when($"kept",
          $"pos64".bitwiseAND(lit(0xffffffffL)).cast("int")))).as("keep_idx"))
      .where($"n_kept" >= 1)
    // let-bind the token array via single-element transform (the qWinnow
    // idiom): a plain `ws` alias would be inlined by projection collapse
    // and the split re-evaluated once per kept index
    val cleanText = element_at(transform(array(split($"text", " ")), ws =>
      concat_ws("\n", transform($"keep_idx",
        i => concat_ws(" ", slice(ws, i * lit(8) + 1, lit(8)))))), 1)
    docsDf(s, dir).join(verdicts, "doc_id")
      .select($"doc_id", $"n_pars", $"n_kept", cleanText.as("clean_text"))
      .orderBy($"doc_id")
  }

  /** INCREMENTAL dedup of a new crawl batch against a historical
    * corpus, Bloom-prefiltered — the shape every continuously-crawling
    * pipeline needs: the history (here docs with doc_id%3 != 0) is far
    * larger than the batch, so instead of shuffling the whole batch
    * into an anti-join, a Bloom filter over history hashes (built with
    * Spark's distributed sketch aggregate, fpp 3%) is broadcast and
    * applied AT THE SCAN: batch rows the bloom rejects are definitely
    * new (no false negatives) and never shuffle; only the bloom's
    * candidate fraction (true dupes + ~fpp of the new rows) enters the
    * exact LEFT ANTI verification join. The bloom is a pure
    * PRE-FILTER: the result is bit-identical to the plain anti-join
    * the oracle states, at any fpp.
    *
    * The batch is synthesized so dedup is real: every 6th doc is a
    * re-crawl carrying the text of doc_id+1 (which IS in history);
    * other batch docs keep their own unseen text. The candidate/fresh
    * split is surfaced via observe ("bloom_prefilter").
    *
    * At 10^12 history keys one bloom no longer fits an executor
    * (~1.8 TB at 3%): production shards the filter by key range and
    * zips batch partitions against the matching shard — the
    * prune-then-verify algebra here is unchanged. */
  def qDedupBloom(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = docsDfRaw(s, dir)
    val history = docs.where($"doc_id" % 3 =!= 0).select(md5($"text").as("h"))
    val next = docs.select(($"doc_id" - 1).as("doc_id"), $"text".as("next_text"))
    val batch = docs.where($"doc_id" % 3 === 0)
      .join(next, "doc_id") // inner: the max doc_id row drops in both engines
      .select($"doc_id",
        md5(when($"doc_id" % 6 === 0, $"next_text").otherwise($"text")).as("h"))
    // sketch build is necessarily eager (one job over history hashes);
    // count(*) sizes it — both jobs scan only pruned columns.
    val bloom = history.stat.bloomFilter(
      "h", math.max(history.count(), 1L), 0.03)
    val bc = s.sparkContext.broadcast(bloom)
    val mightContain = udf((h: String) => bc.value.mightContainString(h))
    ensureObserveListener(s)
    // persisted: `marked` feeds BOTH union branches — without the cache
    // the batch scan (and the observe's CollectMetrics) would execute
    // twice, double-counting the metric and re-reading the batch.
    val marked = registerCache(batch
      .withColumn("cand", mightContain($"h"))
      .observe("bloom_prefilter",
        count(when($"cand", true)).as("candidates"),
        count(lit(1)).as("batch_total"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val fresh = marked.where(!$"cand").select($"doc_id", $"h")
    val verifiedNew = marked.where($"cand")
      .join(history, Seq("h"), "left_anti").select($"doc_id", $"h")
    fresh.union(verifiedNew).orderBy($"doc_id")
  }

  /** MinHash, b=16 bands x r=4 rows over 64 affine permutations
    * (MinHashDefs): per-doc row-mins m0..m63 in ONE hash agg — 64 long
    * cells per doc, map-side partial+final HashAggregate — then the 16
    * band values fold 4 row-mins each (stack to long form; vs 64x
    * explode+groupBy — 64 shuffles). Deterministic and identical in
    * Spark and DuckDB (MinHashDefs emits the same SQL to both).
    *
    * ONE md5 per shingle — all 64 permutations are affine maps of the
    * same 60-bit digest prefix (a per-permutation md5 would hash every
    * shingle 64x and dominate the query). Mins over fixed-width
    * BIGINTs: min over strings would force SortAggregate; numerics
    * keep the partial+final HashAggregate. The prefix fold is the
    * native HexPrefix64 expression (built-in `conv` measured ~4x
    * slower).
    *
    * char_ngrams: one linear pass per row (the transform+substring SQL
    * form re-locates char offsets from the string start per element —
    * O(len^2) per doc). */
  /** Per-doc row-min table (doc_id, m0..m63). `cache = true` when a
    * caller consumes it more than once (qDedupGroups: band projection +
    * candidate verification); qDedupMinhash reads it exactly once and
    * skips the persist. */
  /** Per-doc 64 MinHash row-mins over any (doc_id, text) relation —
    * shared by the battery queries (Long ids from the documents table)
    * and the production Doc-surface API ([[graft.pipeline.Dedup]],
    * String ids). No cache registration here: callers own the
    * lifecycle. */
  private[graft] def minhashMinsOf(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    import graft.functions.HexPrefix64.hexPrefix64
    val sh = docs.where(length($"text") >= 8)
      .select($"doc_id",
        explode(graft.functions.CharNgrams.charNgrams($"text", 8, 8)).as("sh"))
      .select($"doc_id", (hexPrefix64(md5($"sh")) % MinHashDefs.P).as("h"))
    val aggs = MinHashDefs.minAggSqls("h")
    sh.groupBy($"doc_id")
      .agg(expr(aggs.head), aggs.tail.map(expr): _*)
  }

  private[queries] def minhashMins(s: SparkSession, dir: String,
      cache: Boolean = false): DataFrame = {
    import s.implicits._
    val mins = minhashMinsOf(docsDf(s, dir).select($"doc_id", $"text"))
    if (cache)
      registerCache(mins.persist(
        org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    else mins
  }

  /** Per-doc (band, sig) rows — the shared core of qDedupMinhash
    * (bucket summary) and qDedupGroups (candidate edges). */
  private[graft] def minhashBandSigs(mins: DataFrame): DataFrame = {
    import mins.sparkSession.implicits._
    mins.select($"doc_id", expr(MinHashDefs.stackSparkSql))
      .select($"doc_id", $"band", $"sig")
  }

  def qDedupMinhash(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    minhashBandSigs(minhashMins(s, dir))
      .groupBy($"band", $"sig")
      .agg(count(lit(1)).as("n"), min($"doc_id").as("keeper"))
      .orderBy($"band", $"sig")
  }

  /** N-gram Jaccard near-dup: word-trigram shingles, document-frequency
    * cut (<=20 docs per shingle) to bound the candidate join, exact
    * Jaccard on candidate pairs.
    *
    * ONE scan of the source: shingles go straight into a per-shingle
    * collect_set (dedup happens inside the agg, no separate distinct
    * shuffle), the result is persisted, and BOTH consumers — per-doc
    * sizes (explode the doc-sets once more) and candidate pairs — read
    * the cached aggregate instead of re-deriving it from the raw table
    * (the round-1 plan scanned+exploded documents 3x).
    *
    * The shuffle key is the shingle's 60-bit md5 prefix, not the shingle
    * STRING — ~25-byte keys shrink to 8 bytes across the wide exploded
    * shuffle, and nothing downstream needs the text (hash-collision
    * probability ~2^-60 per shingle pair merges two shingles' doc lists,
    * inflating `common` by at most 1 — negligible against the df-cut). */
  def qNgramJaccard(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    ngramJaccardScored(s, dir).orderBy($"ida", $"idb")
  }

  /** Scored word-trigram Jaccard pairs WITHOUT the final presentation
    * sort — shared by qNgramJaccard and qDedupGroups (which unions the
    * pairs into its edge set; sorting there would be wasted work). */
  private def ngramJaccardScored(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.functions.HexPrefix64.hexPrefix64
    // split ONCE in a projection before the lambda: `split(text)` inside
    // the transform body is re-evaluated per element (O(words^2) per
    // doc) — pre-splitting measured 10x on the shingle aggregate
    //
    // HOT-KEY BOUND (the round-4 scale-killer fix): the per-shingle doc
    // list is only collected for shingles that SURVIVE the df-cut. The
    // distinct (shingle, doc) rows are repartitioned ONCE by shingle and
    // persisted; the df count, the cut, the join-back and the bounded
    // collect_set all ride that partitioning (zero further shuffles on
    // the shingle axis — the count agg, the join and the set agg are all
    // keyed on shh). A boilerplate trigram present in every document now
    // costs one long-sized count cell, never a corpus-sized aggregation
    // buffer: collect_set only ever sees groups with <= 20 rows.
    val docShingle = docsDf(s, dir)
      .select($"doc_id", split($"text", " ").as("w"))
      .select($"doc_id", explode(expr(
        """transform(sequence(1, greatest(size(w) - 2, 1)),
             i -> concat_ws(' ', slice(w, i, 3)))""")).as("sh"))
      .select($"doc_id", hexPrefix64(md5($"sh")).as("shh"))
      .repartition($"shh")
      .dropDuplicates("shh", "doc_id") // partition-local: hash(shh) co-locates
    registerCache( // unpersisted via Queries.releaseCaches() after materialization
      docShingle.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val sizes = docShingle
      .groupBy($"doc_id").agg(count(lit(1)).as("sz"))
    // df-cut BEFORE any doc-list materialization; the drop is SURFACED,
    // not silent — the observe records how many shingles the cut removed
    // (lastObserved "jaccard_dfcut"), riding the count aggregate with no
    // extra job.
    ensureObserveListener(s)
    val keep = docShingle
      .groupBy($"shh").agg(count(lit(1)).as("df"))
      .observe("jaccard_dfcut",
        count(when($"df" > 20, true)).as("dropped_shingles"),
        count(lit(1)).as("total_shingles"))
      .where($"df".between(2, 20))
      .select($"shh")
    // pair generation WITHOUT a self-join: surviving docs-per-shingle
    // sets are bounded (<=20); explode the <=C(20,2) pairs per shingle,
    // count pair co-occurrences.
    val pairs = docShingle
      .join(keep, "shh") // same shh partitioning both sides: no exchange
      .groupBy($"shh")
      .agg(collect_set($"doc_id").as("docs")) // bounded: df-cut upstream
      .select(explode(expr(
        """flatten(transform(array_sort(docs), (a, i) ->
             transform(slice(array_sort(docs), i + 2, size(docs)), b ->
               struct(a AS ida, b AS idb))))""")).as("p"))
      .groupBy($"p.ida".as("ida"), $"p.idb".as("idb"))
      .agg(count(lit(1)).as("common"))
    // NO broadcast hint on sizes: it has one row per document, so it
    // grows linearly with the corpus — a forced broadcast dies at 100x
    // scale. At small scale AQE converts these to broadcast joins by
    // itself (sizes is tiny); at 100 TB they run as shuffle joins on the
    // df-cut-bounded pairs side, which is the shape you want.
    pairs.join(sizes.as("sa"), $"ida" === $"sa.doc_id")
      .join(sizes.as("sb"), $"idb" === $"sb.doc_id")
      .select($"ida", $"idb",
        round($"common" / ($"sa.sz" + $"sb.sz" - $"common"), 6).as("jaccard"))
      .where($"jaccard" >= 0.2)
  }

  /** Exact-duplicate star edges over (doc_id, h) rows: a = the min
    * doc_id of each content hash shared by 2+ rows, b = every other row
    * with that hash. One map-side-combinable groupBy (per-group state:
    * a min and a count) plus a join back on h. */
  private[graft] def exactDupEdges(hashed: DataFrame): DataFrame = {
    val keepers = hashed.groupBy(col("h"))
      .agg(min(col("doc_id")).as("m"), count(lit(1)).as("n"))
      .where(col("n") >= 2)
      .select(col("h"), col("m"))
    hashed.join(keepers, "h")
      .where(col("doc_id") =!= col("m"))
      .select(col("m").as("a"), col("doc_id").as("b"))
  }

  /** Dedup GROUP RESOLUTION — the artifact a training-data pipeline
    * actually consumes: a per-doc (doc_id, canon, keep) verdict
    * resolving the dedup family's pairwise outputs into groups.
    *
    * Edges are VERIFIED duplicates only: exact content-hash groups
    * (star edges to the group min — no per-group array materialization,
    * so a boilerplate page duplicated a million times costs a window
    * min, not a giant collect_set) UNION word-trigram Jaccard pairs
    * >= 0.2. The jaccard pairs already embody LSH-then-verify: bucket
    * candidates (df-cut <= 20) confirmed by exact similarity — UNION
    * verified MinHash candidates: b=16 x r=4 band-bucket collisions
    * (bucket df-cut <= 20, the family standard) confirmed by signature
    * agreement >= 32/64 permutations (estimated Jaccard >= 0.5). RAW
    * band collisions are deliberately NOT edges — unverified buckets
    * chain transitively (the round-4 r=1 signature measured 486/500
    * docs collapsing into ONE component), which turns the verdict into
    * noise; a band collision is a candidate to verify, not evidence.
    * With r=4 the bucket stage is selective enough to admit candidates
    * and the agreement check is the cheap verification (64 long
    * comparisons per pair against the cached row-min table — no
    * re-shingling).
    *
    * Components resolve by iterative min-label propagation (per round:
    * one shuffle join + one hash agg + ONE collected scalar for the
    * convergence check). Verified-duplicate components are near-cliques,
    * so the diameter — the round count — is tiny; at adversarial scale
    * the same loop upgrades to large-star/small-star for O(log n)
    * rounds. Labels persist per round; the previous round's cache drops
    * as soon as the next materializes (peak: two (id, lab) long
    * tables). */
  def qDedupGroups(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // exact-dup star edges via the map-side-combinable groupBy + join-back
    // qDedupExact already uses — NOT min().over(Window.partitionBy(md5)):
    // a window co-locates and sorts EVERY row of a content-hash group in
    // one task, so a virally duplicated document at 100x scale becomes a
    // single task's sort buffer; the groupBy's per-group state is one
    // BIGINT min and the n >= 2 cut keeps singleton groups (the vast
    // majority of the corpus) out of the join entirely.
    val exEdges = exactDupEdges(
      docsDfRaw(s, dir).select($"doc_id", md5($"text").as("h")))
    val jacEdges = ngramJaccardScored(s, dir)
      .select($"ida".as("a"), $"idb".as("b"))
    // verified minhash candidates (see Scaladoc): bucket df-cut BEFORE
    // any doc-list materialization (the hot-bucket bound), then
    // signature-agreement verification against the cached row-min table
    val mins = minhashMins(s, dir, cache = true)
    val sigs = registerCache(minhashBandSigs(mins)
      .repartition($"band", $"sig")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val mhKeep = sigs
      .groupBy($"band", $"sig").agg(count(lit(1)).as("n"))
      .where($"n".between(2, 20))
      .select($"band", $"sig")
    val mhCands = sigs
      .join(mhKeep, Seq("band", "sig")) // same partitioning: no exchange
      .groupBy($"band", $"sig")
      .agg(collect_set($"doc_id").as("docs")) // bounded <= 20
      .select(explode(expr(
        """flatten(transform(array_sort(docs), (a, i) ->
             transform(slice(array_sort(docs), i + 2, size(docs)), b ->
               struct(a AS ida, b AS idb))))""")).as("p"))
      .select($"p.ida".as("ida"), $"p.idb".as("idb"))
      .distinct()
    val mhEdges = mhCands
      .join(mins.as("ma"), $"ida" === $"ma.doc_id")
      .join(mins.as("mb"), $"idb" === $"mb.doc_id")
      .where(expr(MinHashDefs.agreementSql("ma", "mb"))
        >= MinHashDefs.VerifyAgreement)
      .select($"ida".as("a"), $"idb".as("b"))
    val edges = registerCache(
      exEdges.union(jacEdges).union(mhEdges).distinct()
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val ids = docsDfRaw(s, dir).select($"doc_id".as("id"))
    val (lab, _) = connectedComponents(ids, edges)
    lab.select($"id".as("doc_id"), $"lab".as("canon"),
        ($"lab" === $"id").as("keep"))
      .orderBy($"doc_id")
  }

  /** Connected components over `ids` ("id") and undirected `edges`
    * ("a","b"): min-label propagation ACCELERATED BY POINTER DOUBLING —
    * each round takes the min over (own label, neighbors' labels), then
    * composes the label table with itself (lab ∘ lab), so label
    * information travels a distance that roughly doubles per round.
    * Verified-duplicate components are near-cliques (1-2 rounds); an
    * adversarial pairwise CHAIN converges in O(log diameter) rounds
    * instead of O(diameter) — the same guarantee as the classic
    * large-star/small-star contraction, with one join + one agg + one
    * self-join per round. The 64-round cap corresponds to a diameter
    * beyond 2^64 — structurally unreachable, so a data-dependent shape
    * can no longer turn into a hard query failure.
    *
    * Per round: eager localCheckpoint TRUNCATES the plan lineage
    * (without it the round-N plan embeds every previous round —
    * planning cost doubles per iteration); ONE collected scalar for the
    * convergence check. Returns (label table ("id","lab"), rounds). */
  def connectedComponents(ids: DataFrame,
      edges: DataFrame): (DataFrame, Int) = {
    val s = ids.sparkSession
    import s.implicits._
    // symmetric closure so propagation flows both ways
    val sym = edges.union(edges.select($"b".as("a"), $"a".as("b")))
    // SPARSE iteration (round 6): propagate over EDGE-TOUCHED nodes
    // only. An isolated node never receives a label and never changes
    // — carrying it through every round's joins, checkpoints and the
    // convergence count is pure overhead (at corpus scale the label
    // table was corpus-sized while the duplicate-edge vertex set is
    // the small interesting subset). Isolated ids re-attach once at
    // the end with lab = id, which is exactly what the dense loop
    // produced for them; edge endpoints outside `ids` cannot occur in
    // any caller (edges are derived from the same table as ids).
    var lab = sym.select($"a".as("id")).distinct()
      .select($"id", $"id".as("lab")).localCheckpoint(true)
    var changed = 1L
    var rounds = 0
    while (changed > 0) {
      rounds += 1
      require(rounds <= 64, "label propagation failed to converge")
      val prop = sym.join(lab, sym("b") === lab("id"))
        .groupBy(sym("a").as("pid")).agg(min($"lab").as("nlab"))
      val half = lab.join(prop, lab("id") === prop("pid"), "left")
        .select($"id", $"lab".as("old"),
          least($"lab", coalesce($"nlab", $"lab")).as("lab1"))
        .localCheckpoint(true) // eager: LogicalRDD, no self-join ambiguity
      // pointer doubling: lab2(id) = min(lab1(id), lab1(lab1(id)))
      val next = half
        .join(half.select($"id".as("pid2"), $"lab1".as("plab")),
          half("lab1") === $"pid2", "left")
        .select($"id", $"old",
          least($"lab1", coalesce($"plab", $"lab1")).as("lab2"))
        .localCheckpoint(true)
      changed = next.where($"lab2" < $"old").count() // bounded: 1 scalar
      lab = next.select($"id", $"lab2".as("lab"))
    }
    // re-attach isolated ids (never touched by an edge): lab = id
    val full = ids
      .join(lab.select($"id".as("lid"), $"lab"), ids("id") === $"lid", "left")
      .select(ids("id").as("id"), coalesce($"lab", ids("id")).as("lab"))
    (full, rounds)
  }

  /** SimHash (rows-only; native Catalyst expression — stays inside
    * whole-stage codegen, no typed-map serde; equality with the Scala
    * reference impl asserted in FunctionsSpec). */
  def qSimhash(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    docsDfRaw(s, dir)
      .select($"doc_id",
        graft.functions.SimHash64.simhash64($"text").as("simhash"))
      .orderBy($"doc_id")
  }

  /** SimHash near-dup PAIRS: 64-bit signatures banded into 4x16 bits;
    * docs colliding in some band (bucket df-cut <= 20, the family's
    * standard) are candidates, scored by exact hamming distance and
    * kept at <= 16 bits. One signature scan (the codegen'd native
    * expression), one band shuffle — no all-pairs join anywhere; the
    * same banded-LSH shape as qDedupEmbed, over bits instead of
    * vectors. The low-hamming output reproduces the jaccard-confirmed
    * near-dup pairs (cross-method agreement checked in the spec). */
  def qDedupSimhash(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // HOT-BUCKET BOUND (same fix as qNgramJaccard): a degenerate band
    // value (near-empty docs all hash to the same signature) would
    // previously materialize a corpus-sized collect_set buffer before
    // the df-cut saw it. Banded rows are repartitioned ONCE by
    // (band, bval) and persisted; bucket counts, the cut, the join-back
    // and the now-bounded collect_set all ride that partitioning. The
    // drop is surfaced via observe ("simhash_dfcut" — silent-cap parity
    // with jaccard).
    val banded = docsDfRaw(s, dir)
      .select($"doc_id",
        graft.functions.SimHash64.simhash64($"text").as("sh"))
      .select($"doc_id", $"sh",
        expr("""stack(4, 0, CAST(shiftright(sh,  0) & 65535 AS INT),
                      1, CAST(shiftright(sh, 16) & 65535 AS INT),
                      2, CAST(shiftright(sh, 32) & 65535 AS INT),
                      3, CAST(shiftright(sh, 48) & 65535 AS INT)) AS (band, bval)"""))
      .repartition($"band", $"bval")
    registerCache(
      banded.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    ensureObserveListener(s)
    val keep = banded
      .groupBy($"band", $"bval").agg(count(lit(1)).as("n"))
      .observe("simhash_dfcut",
        count(when($"n" > 20, true)).as("dropped_buckets"),
        count(lit(1)).as("total_buckets"))
      .where($"n".between(2, 20))
      .select($"band", $"bval")
    val pairs = banded
      .join(keep, Seq("band", "bval")) // same partitioning: no exchange
      .groupBy($"band", $"bval")
      .agg(collect_set(struct($"doc_id", $"sh")).as("docs")) // bounded <= 20
      .select(explode(expr(
        """flatten(transform(array_sort(docs), (a, i) ->
             transform(slice(array_sort(docs), i + 2, size(docs)), b ->
               struct(a.doc_id AS ida, b.doc_id AS idb,
                      a.sh AS sa, b.sh AS sb))))""")).as("p"))
      .select($"p.ida".as("ida"), $"p.idb".as("idb"),
        expr("CAST(bit_count(p.sa ^ p.sb) AS INT)").as("hamming"))
      .groupBy($"ida", $"idb").agg(min($"hamming").as("hamming"))
    pairs.where($"hamming" <= 16).orderBy($"hamming", $"ida", $"idb")
  }

  /** Exact substring-duplication coverage (the Lee et al. 2022
    * "Deduplicating Training Data" signal): fraction of each document's
    * chars covered by a 40-char substring that ALSO appears in some
    * other document. Scale shape: one posexplode of per-position grams
    * hashed to 60-bit keys (nothing downstream needs the 40-char text —
    * 8-byte shuffle keys), repartitioned ONCE by gram and persisted;
    * the >= 2-distinct-docs cut and the join-back ride that
    * partitioning; coverage is an interval UNION per doc via the
    * gaps-and-islands running-max window (doc-partitioned, bounded —
    * never a global window), so overlapping duplicated grams are not
    * double-counted. */
  def qSubstringDup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    import graft.functions.HexPrefix64.hexPrefix64
    val K = 40
    val grams = docsDfRaw(s, dir).where(length($"text") >= K)
      .select($"doc_id",
        posexplode(graft.functions.CharNgrams.charNgrams($"text", K, K)))
      .select($"doc_id", $"pos", hexPrefix64(md5($"col")).as("gh"))
      .repartition($"gh")
    registerCache(
      grams.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val dup = grams.groupBy($"gh")
      .agg(count_distinct($"doc_id").as("nd"))
      .where($"nd" >= 2).select($"gh")
    val w = Window.partitionBy($"doc_id").orderBy($"pos")
      .rowsBetween(Window.unboundedPreceding, -1)
    val cov = grams.join(dup, "gh") // same gh partitioning: no exchange
      .select($"doc_id", $"pos")
      .withColumn("prevEnd", max($"pos" + K).over(w))
      .select($"doc_id", greatest(lit(0),
        ($"pos" + K) - greatest($"pos", coalesce($"prevEnd", lit(0)))).as("add"))
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("dup_grams"), sum($"add").as("covered"))
    docsDfRaw(s, dir).select($"doc_id", length($"text").as("n_chars"))
      .join(cov, Seq("doc_id"), "left")
      .select($"doc_id", $"n_chars",
        coalesce($"dup_grams", lit(0L)).as("dup_grams"),
        coalesce($"covered", lit(0L)).as("covered"),
        round(coalesce($"covered", lit(0L)) / $"n_chars", 6).as("dup_frac"))
      .orderBy($"doc_id")
  }

  /** Exact substring-dedup REWRITE — the removal half of the Lee et
    * al. 2022 ExactSubstr dedup (qSubstringDup measures; this one
    * deduplicates): every occurrence of a duplicated 40-char gram
    * EXCEPT the globally first (min pos64 = doc_id·1e6 + pos, the
    * qParagraphDedup total order; within-doc repeats dedup too) has
    * its interval removed, intervals union per doc, the text is
    * reassembled from the uncovered segments.
    *
    * Scale shape: per-position grams carry 8-byte hash keys, ONE
    * repartition by gram hash feeds both the min-pos64 aggregate and
    * the join-back; island merge + segment reassembly are doc-local
    * (window + collect_list both ride ONE doc_id exchange — the
    * (doc_id, islId) aggregate and the interval list reuse the window's
    * partitioning; per-doc state is bounded by doc length / K, never
    * corpus-sized). The oracle rebuilds the kept text per-char — an
    * O(len·dups) formulation that is fine for DuckDB at test SF but
    * would be a 100× row blowup in the engine, which is why the Spark
    * side merges intervals instead. Positions assume doc length < 1e6
    * chars (same bound as qParagraphDedup's pos64). */
  def qSubstringRewrite(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    import graft.functions.HexPrefix64.hexPrefix64
    val K = 40
    val grams = docsDfRaw(s, dir).where(length($"text") >= K)
      .select($"doc_id",
        posexplode(graft.functions.CharNgrams.charNgrams($"text", K, K)))
      .select($"doc_id", $"pos", hexPrefix64(md5($"col")).as("gh"),
        ($"doc_id" * 1000000L + $"pos").as("pos64"))
      .repartition($"gh")
    registerCache(
      grams.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val firsts = grams.groupBy($"gh").agg(min($"pos64").as("keep_pos"))
    val dups = grams.join(firsts, "gh") // same gh partitioning: no exchange
      .where($"pos64" > $"keep_pos")
      .select($"doc_id", $"pos")
    val wPrev = Window.partitionBy($"doc_id").orderBy($"pos")
      .rowsBetween(Window.unboundedPreceding, -1)
    val wRun = Window.partitionBy($"doc_id").orderBy($"pos")
      .rowsBetween(Window.unboundedPreceding, 0)
    val merged = dups
      .withColumn("prevEnd", max($"pos" + K).over(wPrev))
      .withColumn("newIsl",
        when($"prevEnd".isNull || $"prevEnd" < $"pos", 1).otherwise(0))
      .withColumn("islId", sum($"newIsl").over(wRun))
      .groupBy($"doc_id", $"islId") // rides the window's doc_id exchange
      .agg(min($"pos").as("start"), max($"pos" + K).as("end"))
    val ivs = merged.groupBy($"doc_id")
      .agg(sort_array(collect_list(struct($"start", $"end"))).as("ivs"))
    docsDfRaw(s, dir).join(ivs, Seq("doc_id"), "left")
      .select($"doc_id", length($"text").as("n_chars"),
        when($"ivs".isNull, $"text").otherwise(expr(
          """aggregate(ivs, named_struct('acc', '', 'p', 0),
            |  (st, iv) -> named_struct(
            |    'acc', concat(st.acc, substring(text, st.p + 1, iv.start - st.p)),
            |    'p', iv.end),
            |  st -> concat(st.acc, substring(text, st.p + 1, length(text) - st.p)))"""
            .stripMargin)).as("clean_text"))
      .select($"doc_id", $"n_chars",
        ($"n_chars" - length($"clean_text")).cast("long").as("removed"),
        $"clean_text")
      .orderBy($"doc_id")
  }

  /** CCNet-style span-level boilerplate strip — the oracled flat-span
    * form of `graft.pipeline.Boilerplate.strip` (the typed op over
    * `Dataset[Doc]` is the scale path: bounded broadcast dictionary,
    * no data-path shuffle; see Boilerplate.scala). Here the interleaved
    * span table is CONSTRUCTED deterministically from `documents` with
    * expressions both engines evaluate identically — 3-token text spans
    * at even ords, an image span after text span k wherever
    * (doc_id + k) % 5 == 0 — then any text span whose content appears
    * in >= 2 distinct docs is stripped; media spans pass through and
    * retained spans keep their ords (span-sequence equality on the
    * retained subsequence). The df join keys are the raw span strings
    * (short by construction); the typed op hashes to 60-bit keys
    * before its single shuffle. */
  /** Deterministic interleaved-span construction shared by the
    * extraction queries: 3-token text spans indexed k (ord = 2k). */
  private def spanBase(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    docsDfRaw(s, dir)
      .select($"doc_id",
        filter(split($"text", " "), t => t =!= "").as("w"))
      .where(size($"w") >= 1)
      .withColumn("nspan", floor((size($"w") + lit(2)) / lit(3.0)).cast("int"))
      .select($"doc_id", $"w", explode(sequence(lit(0), $"nspan" - 1)).as("k"))
  }

  def qBoilerplate(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val base = spanBase(s, dir)
    val tspans = base.select($"doc_id",
      ($"k" * 2).cast("int").as("ord"), lit("text").as("kind"),
      concat_ws(" ", slice($"w", $"k" * 3 + 1, lit(3))).as("text"),
      lit("").as("media_ref"))
    val mspans = base.where((($"doc_id" + $"k") % 5) === 0)
      .select($"doc_id",
        ($"k" * 2 + 1).cast("int").as("ord"), lit("image").as("kind"),
        lit("").as("text"),
        concat(lit("media://"), $"doc_id".cast("string"), lit("/"),
          $"k".cast("string")).as("media_ref"))
    val dfreq = tspans.groupBy($"text")
      .agg(count_distinct($"doc_id").as("nd"))
    tspans.unionByName(mspans)
      .join(dfreq, Seq("text"), "left")
      .where($"kind" =!= "text" || $"nd" < 2)
      .select($"doc_id", $"ord", $"kind", $"text", $"media_ref",
        coalesce($"nd", lit(0L)).as("n_docs"))
      .orderBy($"doc_id", $"ord")
  }

  private def htmlEscape(s: String): String =
    s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")

  /** Chunking shared by the raw-markup extraction queries: the same
    * 3-token text chunks + media-after-chunk-k rule as [[spanBase]],
    * materialized per doc in document order (Left = text, Right =
    * media ref) so a markup writer can lay them out. */
  private def markupItems(id: Long, text: String): Seq[Either[String, String]] = {
    val w = text.split(" ").filter(_.nonEmpty)
    val nspan = (w.length + 2) / 3
    val items = Seq.newBuilder[Either[String, String]]
    var k = 0
    while (k < nspan) {
      items += Left(w.slice(k * 3, k * 3 + 3).mkString(" "))
      if ((id + k) % 5 == 0) items += Right(s"media://$id/$k")
      k += 1
    }
    items.result()
  }

  /** RAW-HTML extraction round trip — the north rule's "HTML
    * boilerplate strip" on actual markup: each document is rendered
    * into a full HTML page (head/title/style/script, header+nav
    * boilerplate, an `<article>` of `<p>`-wrapped 3-token chunks with
    * `<img>` tags interleaved by the media rule, aside+footer), then
    * parsed back by the from-scratch tokenizer
    * ([[graft.pipeline.HtmlExtract]]): boilerplate subtrees and
    * raw-text elements dropped, entities decoded, media spans carrying
    * their `src`. The ORACLE computes the expected span sequence
    * directly from the source table — synthesis→parse must be an exact
    * identity on (kind, text, media_ref, order) for every document.
    * Scale: synthesis and parse are both per-row maps — the query's
    * only exchange is the final presentation sort. */
  /** Full synthetic page for doc (id, text): boilerplate scaffolding
    * (head/script/style, header+nav, aside+footer) around an article
    * of [[markupItems]] — shared by the HTML and WARC round trips. */
  private def htmlPage(id: Long, text: String): String = {
    val html = new StringBuilder(256)
    html ++= s"<!DOCTYPE html><html><head><title>Doc $id</title>"
    html ++= "<style>p { margin: 0 }</style>"
    html ++= "<script>var gt = 1 < 2 && \"<p>not content</p>\";</script></head>"
    html ++= "<body><header><h1>Example Site</h1></header>"
    html ++= "<nav><ul><li><a href=\"/\">Home</a></li></ul></nav><article>"
    markupItems(id, text).foreach {
      case Left(chunk) => html ++= s"<p>${htmlEscape(chunk)}</p>"
      case Right(ref)  => html ++= s"""<img src="$ref" alt="">"""
    }
    html ++= "</article><aside>Related &amp; sponsored</aside>"
    html ++= "<footer>&copy; 2026 Example</footer></body></html>"
    html.toString
  }

  def qHtmlExtract(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    docsDf(s, dir).select($"doc_id", $"text").as[(Long, String)]
      .flatMap { case (id, text) =>
        graft.pipeline.HtmlExtract.extract(htmlPage(id, text))
          .map(sp => (id, sp.offset, sp.kind, sp.text, sp.media_ref))
      }
      .toDF("doc_id", "ord", "kind", "text", "media_ref")
      .orderBy($"doc_id", $"ord")
  }

  /** WARC container round trip — the crawl-archive SOURCE path in
    * front of the HTML extraction: documents are packed into
    * `defaultParallelism` synthetic `.warc.gz` crawl shards
    * (`id % shards`, records in id order within a shard; one gzip
    * member per response record, the Common Crawl convention —
    * [[graft.sources.WarcIO]]),
    * then each shard is container-parsed (multi-member gunzip, WARC
    * framing by Content-Length, HTTP header split) and every response
    * page fed through the raw-HTML extractor. Oracle: the same
    * expected span table as q_html_extract — pack→parse→extract must
    * be an identity.
    *
    * Scale shape: the PARSE side is strictly per-blob (at 100 TB the
    * shards are real files under a binaryFile scan and this is a
    * shuffle-free mapPartitions); the one groupByKey exchange here
    * belongs to the SYNTHESIS side only (building the shard blobs),
    * which production replaces with the crawler's output. */
  def qWarcExtract(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val nShards = math.max(1, s.sparkContext.defaultParallelism).toLong
    val shards = docsDfRaw(s, dir).select($"doc_id", $"text").as[(Long, String)]
      .groupByKey { case (id, _) => id % nShards }
      .mapGroups { (shard, it) =>
        val docs = it.toArray.sortBy(_._1) // deterministic record order
        val out = new java.io.ByteArrayOutputStream(1 << 16)
        docs.foreach { case (id, text) =>
          graft.sources.WarcIO.writeResponse(out,
            uri = s"https://example.org/doc/$id",
            html = htmlPage(id, text).getBytes(java.nio.charset.StandardCharsets.UTF_8),
            date = "2026-01-01T00:00:00Z", gzip = true)
        }
        (shard, out.toByteArray)
      }
    shards.flatMap { case (_, warc) =>
      graft.sources.WarcIO.records(warc)
        .filter(_.warcType == "response")
        .flatMap { r =>
          val uri = r.targetUri
          val id = uri.substring(uri.lastIndexOf('/') + 1).toLong
          graft.pipeline.HtmlExtract.extract(r.htmlText)
            .map(sp => (id, sp.offset, sp.kind, sp.text, sp.media_ref))
        }
    }
      .toDF("doc_id", "ord", "kind", "text", "media_ref")
      .orderBy($"doc_id", $"ord")
  }

  /** Deterministic MESSY fetch-record URL for a doc: five syntactic
    * variants (case, fragment, tracking params, userinfo + default
    * port + duplicate/trailing slashes, dot-segments + percent-encoded
    * unreserved chars) that all denote the same resource — the
    * canonicalizer must collapse every one of them. */
  private def articleHost(g: Long): String = (g % 3) match {
    case 0 => "news.example.org"
    case 1 => "blog.example.org"
    case _ => "www.example.net"
  }

  private def messyArticleUrl(variant: Long, g: Long): String = {
    val host = articleHost(g)
    variant match {
      case 0 => s"https://$host/articles/$g"
      case 1 => s"https://${host.toUpperCase}/articles/$g#section-2"
      case 2 => s"https://$host/articles/$g?utm_source=feed&utm_medium=rss&fbclid=abc123"
      case 3 => s"https://crawler@$host:443//articles//$g/"
      case _ => s"https://$host/./articles/x/../" +
        g.toString.map(d => s"%3$d").mkString // digits percent-encoded
    }
  }

  private def messyUrl(id: Long): String = messyArticleUrl(id % 5, id % 97)

  /** URL canonicalization + crawl-list dedup ([[graft.ops.UrlOps]]) —
    * step one of every crawl pipeline: the fetch list is deduped by
    * CANONICAL URL before any content is hashed. Each doc gets a messy
    * deterministic URL variant ([[messyUrl]]); the canonicalizer must
    * collapse all five variant families onto the clean form the oracle
    * states directly from doc_id — so the oracle gates the
    * canonicalization rules themselves, not just the aggregation.
    * Scale: one per-row typed projection then ONE partial+final hash
    * aggregate on the canonical key; at 10^12 fetch records that single
    * count-shuffle is the whole cost. */
  def qUrlDedup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    docsDfRaw(s, dir).select($"doc_id").as[Long]
      .map(id => (id, graft.ops.UrlOps.canonicalize(messyUrl(id))))
      .toDF("doc_id", "url")
      .groupBy($"url")
      .agg(count(lit(1)).as("n"), min($"doc_id").as("keep_id"))
      .orderBy($"url")
  }

  /** LINK-GRAPH construction — [[graft.pipeline.HtmlExtract.links]]
    * composed with [[graft.ops.UrlOps.canonicalize]], the two halves of
    * crawl-graph building. Each doc renders a page with a nav link
    * (tracking param + `&amp;` + dot-segment path) and an article link
    * in one of the five messy [[messyArticleUrl]] variant families,
    * plus a DECOY: a URL-shaped string inside `<script>` that the
    * raw-text skip must NOT extract. The oracle states both canonical
    * edges directly from doc_id — so it gates link extraction, entity
    * decoding in attributes, the script decoy, and canonicalization in
    * one pass. Scale: per-row synthesize+parse flatMap then ONE
    * partial+final hash aggregate on the edge key — at 10^12 pages the
    * edge-count shuffle is the entire cost (and the real edge table is
    * Zipf-skewed by dst; the count aggregate is skew-immune because
    * partials combine map-side). */
  def qLinkGraph(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    docsDfRaw(s, dir).select($"doc_id").as[Long]
      .flatMap { id =>
        val g = id % 97
        val g2 = (id * 7 + 13) % 97
        val html =
          "<html><head><script>var fake = '<a href=\"https://evil.example/x\">';" +
          "</script></head><body>" +
          s"""<nav><a href="https://www.example.net/index/../?sort=asc&amp;page=${id % 4}&utm_campaign=nav">All</a></nav>""" +
          s"""<article><p>See <a href='${messyArticleUrl(id % 5, g2)}'>related</a>.</p></article>""" +
          "</body></html>"
        val src = articleHost(g)
        graft.pipeline.HtmlExtract.links(html)
          .map(h => (src, graft.ops.UrlOps.canonicalize(h)))
      }
      .toDF("src_host", "dst_url")
      .groupBy($"src_host", $"dst_url")
      .agg(count(lit(1)).as("n"))
      .orderBy($"src_host", $"dst_url")
  }

  /** ANCHOR-TEXT aggregation onto link TARGETS — the search-index
    * enrichment pass ([[graft.pipeline.HtmlExtract.anchors]] composed
    * with [[graft.ops.UrlOps.canonicalize]]): targets are described by
    * the text of the links pointing AT them (the classic web-search
    * signal), so for every canonical destination we fold inlink count,
    * distinct anchor-text count, and the dominant anchor text. Each
    * doc renders a page whose article anchor carries one of six text
    * variants exercising nested inline tags, named and numeric
    * character references, whitespace collapse, an href-less `<a>`,
    * and the script decoy; the oracle states the expected decoded
    * texts directly from doc_id — gating the anchor parser itself.
    *
    * Scale shape: per-row synthesize+parse flatMap, then ONE
    * (dst, anchor) hash aggregate and ONE dst-keyed fold where the
    * dominant anchor is min(struct(-cnt, anchor)) — per-group state is
    * a single struct, never a list (the real anchor table is
    * Zipf-skewed by target: collect-and-rank would buffer a hot
    * target's full anchor set; both aggregates combine map-side). */
  def qAnchorText(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val edges = docsDfRaw(s, dir).select($"doc_id").as[Long]
      .flatMap { id =>
        val g2 = (id * 7 + 13) % 97
        val anchorHtml = (id % 6) match {
          case 0 => "read more"
          case 1 => "Read <b>more</b>"
          case 2 => "the f&uuml;ll story"
          case 3 => "click here"
          case 4 => "\n  spaced \t  out "
          case _ => "&#82;elated"
        }
        val html =
          "<html><head><script>var fake = '<a href=\"https://evil.example/x\">decoy</a>';" +
          "</script></head><body>" +
          s"""<nav><a href="https://www.example.net/index/../?sort=asc&amp;page=${id % 4}&utm_campaign=nav">All &amp; more</a></nav>""" +
          s"""<article><p><a href='${messyArticleUrl(id % 5, g2)}'>$anchorHtml</a> <a name="x">no href</a></p></article>""" +
          "</body></html>"
        graft.pipeline.HtmlExtract.anchors(html)
          .map { case (h, t) => (graft.ops.UrlOps.canonicalize(h), t) }
      }
      .toDF("dst_url", "anchor")
    edges.groupBy($"dst_url", $"anchor").agg(count(lit(1)).as("cnt"))
      .groupBy($"dst_url")
      .agg(sum($"cnt").as("n_links"),
        count(lit(1)).as("n_texts"),
        min(struct((-$"cnt").as("nc"), $"anchor".as("anchor")))
          .getField("anchor").as("top_anchor"))
      .orderBy($"dst_url")
  }

  /** Mojibake-synthesis suffixes: non-ASCII payloads whose UTF-8 byte
    * images avoid cp1252's five undefined positions (0x81 0x8D 0x8F
    * 0x90 0x9D) so the cp1252 corruption round trip is well-defined;
    * the last entry keeps a pure-ASCII row (repair must be a no-op). */
  private val mojibakeSuffixes: Array[String] = Array(
    " Grüße aus Köln", " déjà vu — naïve", " Œuvre — „quote“", "")

  /** ENCODING REPAIR — webtext arrives double-encoded ("GrÃ¼ÃŸe",
    * "â€™") constantly; [[TextOps.fixMojibake]] is the deterministic
    * ftfy core case: map chars back to bytes (Latin-1 positions OR
    * cp1252 printables), strict-UTF-8 decode, repair only on success.
    * Each doc's text gets a deterministic non-ASCII suffix, is
    * CORRUPTED through a real mis-decode (even ids: Latin-1, odd ids:
    * windows-1252 — both classic paths), then repaired; the oracle
    * states the ORIGINAL text directly, so repair∘corrupt must be the
    * identity on every row, and the pure-ASCII row pins the no-op.
    * Scale: per-row map, no shuffle, presentation sort only. */
  def qFixMojibake(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    docsDfRaw(s, dir).select($"doc_id", $"text").as[(Long, String)]
      .map { case (id, t) =>
        val orig = t + mojibakeSuffixes((id % 4).toInt)
        val cs =
          if (id % 2 == 0) java.nio.charset.StandardCharsets.ISO_8859_1
          else java.nio.charset.Charset.forName("windows-1252")
        val garbled = new String(
          orig.getBytes(java.nio.charset.StandardCharsets.UTF_8), cs)
        (id, TextOps.fixMojibake(garbled))
      }
      .toDF("doc_id", "text")
      .orderBy($"doc_id")
  }

  /** C4-style LINE-LEVEL cleaning ([[TextOps.c4KeepLine]]) — unlike
    * the scoring filters (quality/gopher/perplexity) this REWRITES the
    * document: failing lines are dropped, then docs with fewer than 2
    * surviving lines are dropped whole (the doc-level C4 rule). Each
    * doc is expanded into six deterministic 3-word lines whose
    * keep/drop fate is forced by (doc_id + i) % 4 — clean-terminated,
    * unterminated, code-braced, and "lorem ipsum" variants — so the
    * oracle can restate the exact surviving text per doc and which
    * docs survive at all. Scale: per-row flatMap (line split + filter
    * + rejoin inside one map), no shuffle, presentation sort only. */
  def qC4Filter(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    docsDfRaw(s, dir).select($"doc_id", $"text").as[(Long, String)]
      .flatMap { case (id, text) =>
        val ws = text.split(" ")
        val w2 = ws ++ ws // docs have >= 10 words; 6 lines x 3 need 18
        val lines = (0 until 6).map { i =>
          val base = w2.slice(i * 3, i * 3 + 3).mkString(" ")
          (id + i) % 4 match {
            case 0 => base + "."
            case 1 => base // no terminal punctuation
            case 2 => base + " {var x}." // code brace
            case _ => base + " lorem ipsum."
          }
        }
        val kept = lines.filter(TextOps.c4KeepLine)
        if (kept.size >= 2)
          Iterator.single((id, kept.mkString("\n"), kept.size.toLong))
        else Iterator.empty
      }
      .toDF("doc_id", "clean_text", "n_kept")
      .orderBy($"doc_id")
  }

  /** Deterministic per-host robots.txt for the synthetic crawl: the
    * three host families exercise distinct RFC 9309 features — plain
    * prefix Disallow under the `*` group; a specific-agent group where
    * a long `Allow: …*3$` wildcard+anchor overrides `Disallow: /` by
    * the longest-match rule (plus a decoy `*` group the specific agent
    * must NOT fall into); and a group holding only an unknown field
    * (Crawl-delay) so "no rules" = allow-all. */
  private def robotsFor(host: String): String = host match {
    case "news.example.org" =>
      "User-agent: *\nDisallow: /articles/1 # decade embargo"
    case "blog.example.org" =>
      "User-agent: graftbot\nDisallow: /\nAllow: /articles/*3$\n" +
        "User-agent: *\nDisallow:"
    case _ =>
      "User-agent: otherbot\nDisallow: /\nUser-agent: graftbot\nCrawl-delay: 2"
  }

  /** Crawl POLITENESS filter — [[graft.ops.Robots]] (RFC 9309) applied
    * to the canonical fetch list before fetching. The oracle restates
    * the allowed set from doc_id arithmetic (prefix rule → NOT LIKE
    * '1%', wildcard+anchor rule → LIKE '%3', rule-less group → all),
    * so group selection, longest-match precedence, `*`/`$` matching
    * and the allow tie-break are all oracle-gated. Scale shape: the
    * rules side is HOST-sized (~10^7 when URLs are 10^12) — production
    * broadcast-joins (host → robots) against the fetch list and the
    * URL side never shuffles; here the deterministic per-host rules
    * are inlined in the same per-row map, preserving that shape
    * (scan → map → one hash agg). */
  def qRobotsFilter(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    docsDfRaw(s, dir).select($"doc_id").as[Long]
      .flatMap { id =>
        val g = id % 97
        val host = articleHost(g)
        val path = s"/articles/$g"
        if (graft.ops.Robots.isAllowed(robotsFor(host), "graftbot/1.0", path))
          Iterator.single(s"https://$host$path")
        else Iterator.empty
      }
      .toDF("url")
      .groupBy($"url").agg(count(lit(1)).as("n"))
      .orderBy($"url")
  }

  /** Weighted PAGERANK over the crawl link graph — the canonical
    * iterative Spark workload, made EXACTLY cross-engine-checkable by
    * running the whole iteration in 10^-12 FIXED-POINT integer
    * arithmetic: rank_0 = 10^12 per node; per edge the damped
    * contribution is ((r*w div outw) * 85) div 100 — every operation an
    * integer mul/div whose result is independent of aggregation order,
    * so three iterations land on bit-identical longs in Spark and
    * DuckDB (doubles would diverge by summation order). Dangling nodes
    * (the nav landing pages) keep the base rank — sink-drop semantics,
    * the standard simplification when ranks need not sum to 1.
    *
    * Edges are the canonical-URL edge list the link-graph step
    * produces (article(g) -> article(g2), article(g) -> nav page),
    * weighted by multiplicity. Scale shape: the weighted edge list +
    * out-weights are built ONCE and persisted; each iteration is one
    * src-keyed join (ranks are node-sized, edges dominate — AQE
    * broadcast at small SF, co-partitioned shuffle join at 100x where
    * production would bucket edges by src) followed by ONE dst-keyed
    * partial+final sum. Three iterations = three shuffles on a
    * node-sized relation; lineage stays shallow so no checkpoint is
    * needed (at 10^2 iterations production would localCheckpoint every
    * ~10). */
  def qPagerank(s: SparkSession, dir: String): DataFrame =
    pagerankRanks(s, dir).orderBy(col("url"))

  /** The rank computation behind [[qPagerank]], shared with
    * [[qCrawlFrontier]] (which joins ranks as fetch priority). */
  private def pagerankRanks(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val SCALE = 1000000000000L
    val BASE  = 150000000000L // 0.15 * SCALE
    val edges = registerCache(
      docsDfRaw(s, dir).select($"doc_id").as[Long]
        .flatMap { id =>
          val g = id % 97
          val g2 = (id * 7 + 13) % 97
          val src = s"https://${articleHost(g)}/articles/$g"
          Seq(
            (src, s"https://www.example.net/?page=${id % 4}&sort=asc"),
            (src, s"https://${articleHost(g2)}/articles/$g2"))
        }
        .toDF("src", "dst")
        .groupBy($"src", $"dst").agg(count(lit(1)).as("w"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    // Round-6 rewrite: SPARSE contributions. The dense formulation
    // re-attached every round's contrib to the full node list (a join
    // per round) only so the next round could read rank(src); but
    // rank(src) = BASE + coalesce(contrib(src), 0) can be evaluated
    // INSIDE the next round's left join — a src absent from contrib
    // (no in-links) contributes from its BASE rank exactly as the
    // dense table did. One left join + one agg per round instead of
    // two joins + one agg; zeros attach once at the end. The weighted
    // out-degree table joins edges ONCE and the result persists —
    // previously ew was re-derived (agg + join) from the edge cache
    // every round.
    val outw = edges.groupBy($"src").agg(sum($"w").as("ow"))
    val ew = registerCache(edges.join(outw, "src") // (src, dst, w, ow)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    var contrib: DataFrame = null // (url, c): dst-keyed damped in-flow
    for (round <- 1 to 3) {
      val rankSql = if (round == 1) s"$SCALE" else s"($BASE + coalesce(c, 0))"
      val joined = if (round == 1) ew
        else ew.join(contrib, ew("src") === contrib("url"), "left")
      contrib = joined
        .select($"dst", expr(s"(($rankSql * w) div ow) * 85 div 100").as("cc"))
        .groupBy($"dst").agg(sum($"cc").as("c"))
        .withColumnRenamed("dst", "url")
    }
    val nodes = edges.select($"src".as("url"))
      .union(edges.select($"dst".as("url"))).distinct()
    nodes.join(contrib, Seq("url"), "left")
      .select($"url", (lit(BASE) + coalesce($"c", lit(0L))).as("rank"))
  }

  /** HITS hubs & authorities (Kleinberg 1999) over the same link
    * graph as [[qPagerank]] — the OTHER classic link-analysis
    * iteration: auth(u) = Σ_{s→u} hub(s)·w, hub(s) = Σ_{s→u}
    * auth(u)·w, two rounds, each followed by L∞ (max) normalization
    * in 1e6 fixed point — every step is an aggregation-order-
    * independent integer mul/sum/floor-div, so the DuckDB oracle
    * (unrolled CTE rounds, `//` = Spark's `div` on positives)
    * matches bit-for-bit. L∞ instead of the textbook L2 precisely
    * BECAUSE it keeps the iteration integer-exact (sqrt would put a
    * float in the loop); rankings are identical under any positive
    * rescaling.
    *
    * Scale shape: the weighted edge list persists once and feeds
    * every round; each half-step is ONE node-sized join + ONE hash
    * agg (the PageRank discipline); the normalizer is a 1-row max
    * aggregate broadcast back IN-PLAN (never a driver collect). */
  def qHits(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val SCALE = 1000000L
    val edges = registerCache(
      docsDfRaw(s, dir).select($"doc_id").as[Long]
        .flatMap { id =>
          val g = id % 97
          val g2 = (id * 7 + 13) % 97
          val src = s"https://${articleHost(g)}/articles/$g"
          Seq(
            (src, s"https://www.example.net/?page=${id % 4}&sort=asc"),
            (src, s"https://${articleHost(g2)}/articles/$g2"))
        }
        .toDF("src", "dst")
        .groupBy($"src", $"dst").agg(count(lit(1)).as("w"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    // SPARSE half-steps (round-6 rewrite): score tables hold only nodes
    // the aggregation actually touches — auth over edge DSTs, hub over
    // edge SRCs — instead of left-joining every raw table back onto the
    // full node list per half-step. Absent node = score 0, and a 0
    // score contributes 0 to every downstream sum, so the sparse chain
    // is integer-identical to the dense one; the max-normalizer is
    // unchanged too (raw scores are >= 0 and each raw table provably
    // contains a positive row, so dropping the implicit zeros cannot
    // move the max). This halves the joins per half-step (1, not 2)
    // and persists dst-/src-sized tables instead of node-sized ones;
    // zeros are attached ONCE at the end. Each raw table is still
    // persisted: the normalizer reads it twice (max + projection) and
    // the next half-step once — without the cache the doubled lineage
    // re-derives every earlier round, 2^rounds blowup (the qDedupGroups
    // iteration lesson).
    def normalized(raw: DataFrame, c: String): DataFrame = {
      val r = registerCache(raw
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
      r.crossJoin(broadcast(r.agg(max(col(c)).as("mx"))))
        .select($"url", expr(s"$c * $SCALE div mx").as(c))
    }
    // round 1 auth: every hub starts at the constant SCALE, so the
    // edges-join-hub half-step degenerates to one aggregate over edges
    var auth = normalized(
      edges.groupBy($"dst").agg(sum(lit(SCALE) * $"w").as("a"))
        .withColumnRenamed("dst", "url"), "a")
    var hub: DataFrame = null
    for (round <- 1 to 2) {
      if (round > 1) auth = normalized(
        edges.join(hub, edges("src") === hub("url"))
          .groupBy($"dst").agg(sum($"h" * $"w").as("a"))
          .withColumnRenamed("dst", "url"), "a")
      hub = normalized(
        edges.join(auth, edges("dst") === auth("url"))
          .groupBy($"src").agg(sum($"a" * $"w").as("h"))
          .withColumnRenamed("src", "url"), "h")
    }
    val nodes = edges.select($"src".as("url"))
      .union(edges.select($"dst".as("url"))).distinct()
    nodes.join(auth, Seq("url"), "left").join(hub, Seq("url"), "left")
      .select($"url", coalesce($"a", lit(0L)).as("auth"),
        coalesce($"h", lit(0L)).as("hub"))
      .orderBy($"url")
  }

  /** STUPID BACKOFF word-trigram LM scoring (Brants et al. 2007,
    * "Large Language Models in Machine Translation" — the LM scheme
    * DESIGNED for MapReduce-scale counts: no discounting, no
    * normalization, just count ratios with a fixed 0.4 backoff
    * penalty). Counts train on the EVEN-doc_id half (the battery's
    * pseudo-split discipline) and every doc scores against them, so
    * the backoff chain genuinely fires on held-out trigrams:
    * S(w3|w1w2) = c3/c2(w1w2) if seen, else 0.4·c2(w2w3)/c1(w2),
    * else 0.4²·c1(w3)/N, else the deterministic floor 0.4³/N.
    *
    * Scale shape: the three count tables are vocabulary-sized hash
    * aggs (exactly the Brants sharding story); the positional trigram
    * stream left-joins them (dimension-table joins — AQE decides, no
    * hints) with N as a 1-row in-plan broadcast; each position takes
    * ONE ln, fixed-point rounded BEFORE the per-doc BIGINT sum (the
    * nats9 discipline — aggregation order cannot move the result).
    * The per-position lambdas reference only ATTRIBUTES (w is
    * projected first), so nothing re-evaluates per element. */
  def qStupidBackoff(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val base = docsDf(s, dir).select($"doc_id",
      filter(split($"text", " "), t => length(t) > 0).as("w"))
    val train = base.where($"doc_id" % 2 === 0)
    val uni = registerCache(train.select(explode($"w").as("u"))
      .groupBy($"u").agg(count(lit(1)).as("c1"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val big = registerCache(train.where(size($"w") >= 2)
      .select(explode(expr(
        "transform(sequence(2, size(w)), i -> struct(element_at(w, i-1) AS a, element_at(w, i) AS b))")).as("g"))
      .select($"g.a".as("a"), $"g.b".as("b"))
      .groupBy($"a", $"b").agg(count(lit(1)).as("c2"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val tric = train.where(size($"w") >= 3)
      .select(explode(expr(
        "transform(sequence(3, size(w)), i -> struct(element_at(w, i-2) AS w1, element_at(w, i-1) AS w2, element_at(w, i) AS w3))")).as("t"))
      .groupBy($"t.w1".as("w1"), $"t.w2".as("w2"), $"t.w3".as("w3"))
      .agg(count(lit(1)).as("c3"))
    val nTot = uni.agg(sum($"c1").cast("double").as("n"))
    val tri = base.where(size($"w") >= 3)
      .select($"doc_id", explode(expr(
        "transform(sequence(3, size(w)), i -> struct(element_at(w, i-2) AS w1, element_at(w, i-1) AS w2, element_at(w, i) AS w3))")).as("t"))
      .select($"doc_id", $"t.w1".as("w1"), $"t.w2".as("w2"), $"t.w3".as("w3"))
    tri
      .join(tric, Seq("w1", "w2", "w3"), "left")
      .join(big.select($"a".as("w1"), $"b".as("w2"), $"c2".as("c2ctx")),
        Seq("w1", "w2"), "left")
      .join(big.select($"a".as("w2"), $"b".as("w3"), $"c2".as("c2low")),
        Seq("w2", "w3"), "left")
      .join(uni.select($"u".as("w2"), $"c1".as("c1mid")), Seq("w2"), "left")
      .join(uni.select($"u".as("w3"), $"c1".as("c1w")), Seq("w3"), "left")
      .crossJoin(broadcast(nTot))
      .select($"doc_id", round(log(
        when($"c3".isNotNull, $"c3".cast("double") / $"c2ctx")
          .when($"c2low".isNotNull, lit(0.4) * $"c2low" / $"c1mid")
          .when($"c1w".isNotNull, lit(0.16) * $"c1w" / $"n")
          .otherwise(lit(0.064) / $"n")) * 1e9).cast("long").as("nats9"))
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_scored"),
        round(sum($"nats9") / 1e9, 6).as("logprob"))
      .orderBy($"doc_id")
  }

  /** JL sign matrix (16 in-dims × 8 out-dims), generated from the
    * MinHashDefs 60-bit hash of "jl_i_j" — one shared deterministic
    * constant table that BOTH engines' SQL is generated from (the
    * MinHashDefs.A/B discipline). */
  val JlSigns: IndexedSeq[IndexedSeq[Int]] =
    IndexedSeq.tabulate(16, 8)((i, j) =>
      if (MinHashDefs.hash60(s"jl_${i}_$j") % 2 == 0) 1 else -1)

  /** Johnson–Lindenstrauss RANDOM PROJECTION (Achlioptas 2003's ±1
    * database-friendly variant): embeddings fold to k = 8 dimensions
    * via y_j = (1/√8) Σ_i s_ij·x_i with a deterministic ±1 sign
    * matrix — the dimensionality-reduction front end of every
    * large-scale similarity system (shrinks the ANN/SemDeDup working
    * set 2x here, d→√d-ish in production).
    *
    * Scale shape: pure per-row projection over the scan — NO shuffle
    * (presentation sort only). Components enter as round(x·1e6)
    * BIGINTs (the qAnnIvf fixed-point discipline) so each output is
    * an exact INTEGER sum — aggregation-order-free — with one final
    * float divide rounded to 6; the fixed-point array is LET-BOUND
    * via single-element transform (the qWinnow lesson: 8 output
    * lambdas reference it — inlined, the round(x·1e6) pass would
    * re-run per output dim). */
  def qJlProject(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val K = 8
    val fpExpr = transform($"embedding", x => round(x * 1e6).cast("long"))
    val row = element_at(transform(array(fpExpr), fp =>
      struct((0 until K).map { j =>
        val sum = JlSigns.indices.map(i =>
          element_at(fp, i + 1) * lit(JlSigns(i)(j))).reduce(_ + _)
        round(sum.cast("double") / 1e6 / math.sqrt(K), 6).as(s"y$j")
      }: _*)), 1)
    embDfRaw(s, dir) // raw: spec pins a scan-only (range-sort-only) plan
      .select($"vec_id", row.as("y"))
      .select($"vec_id" +: (0 until K).map(j => col(s"y.y$j").as(s"y$j")): _*)
      .orderBy($"vec_id")
  }

  /** CO-CITATION strength (Small 1973) over the link graph — the
    * classic relatedness measure search engines derive from crawl
    * data: two targets are related when the same sources link BOTH.
    * Per unordered target pair: the number of common sources and the
    * weighted strength Σ_src min(w_src→u, w_src→v), both exact
    * integers.
    *
    * Scale shape: the self-join key is the SOURCE, and a page's
    * out-degree is bounded by its link count (single digits to
    * hundreds on the real web) — so candidate pairs grow LINEARLY in
    * the corpus, unlike bibliographic coupling (join on target),
    * whose hot-target in-degree grows with the corpus and explodes
    * quadratically without a df-cut; on this graph coupling is also
    * degenerate (the g→g2 article map is a bijection, so article
    * targets have in-degree 1). One grouped-edge self-join + one
    * pair-keyed hash agg. */
  def qCocitation(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e = docsDfRaw(s, dir).select($"doc_id").as[Long]
      .flatMap { id =>
        val g = id % 97
        val g2 = (id * 7 + 13) % 97
        val src = s"https://${articleHost(g)}/articles/$g"
        Seq(
          (src, s"https://www.example.net/?page=${id % 4}&sort=asc"),
          (src, s"https://${articleHost(g2)}/articles/$g2"))
      }
      .toDF("src", "dst")
      .groupBy($"src", $"dst").agg(count(lit(1)).as("w"))
    e.as("a").join(e.as("b"),
        col("a.src") === col("b.src") && col("a.dst") < col("b.dst"))
      .groupBy(col("a.dst").as("u"), col("b.dst").as("v"))
      .agg(count(lit(1)).as("n_src"),
        sum(least(col("a.w"), col("b.w"))).as("strength"))
      .orderBy($"u", $"v")
  }

  /** CRAWL-FRONTIER prioritization — the composition every crawler's
    * scheduler runs, chaining three already-oracled stages end to end:
    * (1) the messy fetch list collapses to canonical URLs with demand
    * counts ([[qUrlDedup]] shape, [[graft.ops.UrlOps.canonicalize]]);
    * (2) RFC 9309 politeness drops disallowed URLs
    * ([[graft.ops.Robots]] evaluated per canonical host+path); (3) the
    * surviving frontier joins the 3-iteration fixed-point PageRank of
    * the link graph as fetch priority — the oracle re-derives the same
    * integer ranks, so the composed result is bit-exact. Scale shape:
    * one canonical-key hash agg, a per-row politeness filter (rules
    * side host-sized, broadcast shape), then ONE node-sized join
    * against ranks; presentation order (rank desc) is a top-level
    * sort of the url-sized frontier, at 100 TB a TakeOrdered over
    * however many URLs the scheduler actually dispatches. */
  def qCrawlFrontier(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val fetch = docsDfRaw(s, dir).select($"doc_id").as[Long]
      .map(id => graft.ops.UrlOps.canonicalize(messyUrl(id)))
      .toDF("url")
      .groupBy($"url").agg(count(lit(1)).as("demand"))
    val allowed = fetch.as[(String, Long)].flatMap { case (url, demand) =>
      val u = new java.net.URI(url)
      if (graft.ops.Robots.isAllowed(robotsFor(u.getHost), "graftbot/1.0", u.getPath))
        Iterator.single((url, demand))
      else Iterator.empty
    }.toDF("url", "demand")
    // every canonical article URL is a link-graph src node, so the
    // priority join is inner (spec-pinned: no frontier row drops here)
    allowed.join(pagerankRanks(s, dir), Seq("url"))
      .select($"url", $"demand", $"rank")
      .orderBy(desc("rank"), asc("url"))
  }

  /** PDF LAYOUT-PARSE round trip — the north rule's "PDF/layout
    * parse": each document is written as a real single-page PDF
    * ([[graft.pipeline.PdfGen]]: FlateDecode content stream, Tj/TJ
    * text runs laid out top-to-bottom, image XObjects painted between
    * lines by the media rule, valid xref), then parsed back by the
    * from-scratch extractor ([[graft.pipeline.PdfExtract]]: recovery
    * object scan, Inflater, content-stream tokenizer, positional
    * reading-order sort). Oracle as in q_html_extract: expected spans
    * computed from the source table; write→parse must be an identity.
    * Scale: per-row maps only; final sort is presentation. */
  def qPdfExtract(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    docsDf(s, dir).select($"doc_id", $"text").as[(Long, String)]
      .flatMap { case (id, text) =>
        val pdf = graft.pipeline.PdfGen.pdf(markupItems(id, text))
        graft.pipeline.PdfExtract.extract(pdf)
          .map(sp => (id, sp.offset, sp.kind, sp.text, sp.media_ref))
      }
      .toDF("doc_id", "ord", "kind", "text", "media_ref")
      .orderBy($"doc_id", $"ord")
  }

  /** Readability/Boilerpipe-style MAIN-CONTENT block selection — the
    * north rule's "DOM heuristics" clause: per document, pick the
    * largest contiguous run of content spans (ties → earliest). The
    * content signal is cross-doc uniqueness (df == 1, the CCNet signal
    * qBoilerplate uses); contiguity is measured on the text-span index
    * k, so interleaved media spans do NOT break a content block (an
    * image inside an article must not split it). Islands via
    * gaps-and-islands (k - row_number), both window functions
    * DOC-PARTITIONED — never a global window, so per-group state is
    * bounded by the longest document, not the corpus. Docs whose spans
    * are all boilerplate produce no row (nothing to extract). */
  def qMainContent(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val t = spanBase(s, dir).select($"doc_id", $"k",
      concat_ws(" ", slice($"w", $"k" * 3 + 1, lit(3))).as("text"))
    val dfreq = t.groupBy($"text").agg(count_distinct($"doc_id").as("nd"))
    val uniq = t.join(dfreq, Seq("text")).where($"nd" === 1)
    val isl = uniq.withColumn("isl",
      $"k" - row_number().over(Window.partitionBy($"doc_id").orderBy($"k")))
    val islands = isl.groupBy($"doc_id", $"isl")
      .agg(count(lit(1)).cast("int").as("n_spans"),
        (min($"k") * 2).cast("int").as("start_ord"),
        (max($"k") * 2).cast("int").as("end_ord"),
        concat_ws(" ", transform(
          array_sort(collect_list(struct($"k", $"text"))),
          x => x.getField("text"))).as("content"))
    islands.withColumn("rn", row_number().over(
        Window.partitionBy($"doc_id").orderBy(desc("n_spans"), asc("start_ord"))))
      .where($"rn" === 1)
      .select($"doc_id", $"start_ord", $"end_ord", $"n_spans", $"content")
      .orderBy($"doc_id")
  }

  // ------------------------------------------------------------ similarity search

  /** Brute-force cosine top-k vs the vec_id=0 query vector (double
    * accumulation on both sides; the 1-row query side is broadcast). */
  def qAnnCosine(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e = embDfRaw(s, dir)
    val q = e.where($"vec_id" === 0).select($"embedding".as("qv"))
    val dot = "aggregate(zip_with(embedding, qv, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), 0D, (acc, v) -> acc + v)"
    val na = "sqrt(aggregate(embedding, 0D, (acc, x) -> acc + CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))"
    val nb = "sqrt(aggregate(qv, 0D, (acc, x) -> acc + CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))"
    e.crossJoin(broadcast(q))
      .select($"vec_id", round(expr(s"$dot / ($na * $nb)"), 4).as("cos"))
      .orderBy(desc("cos"), asc("vec_id")).limit(10)
  }

  /** LSH-bucketed ANN (scale path): 16-bit random-hyperplane signature
    * as a codegen'd SQL expression over literal sign vectors (identical
    * values to TextOps.lshSignature — asserted in the spec). Candidates
    * within hamming distance 6 of the query signature are then ranked
    * exactly — at scale the signature prunes ~90% of the table before
    * any cosine is computed (and would be precomputed + bucketed as a
    * stored column). The query row is fetched with a pushed-down
    * vec_id = 0 scan filter and broadcast, like q_ann_cosine. */
  def qAnnLsh(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val sigSql = TextOps.lshSigSparkSql("embedding", dim = 64)
    val sigs = embDf(s, dir)
      .select($"vec_id", $"embedding", expr(sigSql).as("sig"))
    val q = sigs.where($"vec_id" === 0)
      .select($"embedding".as("qv"), $"sig".as("qsig"))
    val dot = "aggregate(zip_with(embedding, qv, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), 0D, (acc, v) -> acc + v)"
    val na = "sqrt(aggregate(embedding, 0D, (acc, x) -> acc + CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))"
    val nb = "sqrt(aggregate(qv, 0D, (acc, x) -> acc + CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))"
    sigs.crossJoin(broadcast(q))
      .where(expr("bit_count(sig ^ qsig) <= 6")) // cheap prune BEFORE the dot product
      .select($"vec_id", round(expr(s"$dot / ($na * $nb)"), 4).as("cos"))
      .orderBy(desc("cos"), asc("vec_id")).limit(10)
  }

  /** IVF-flat ANN (the other classic scale path besides LSH): a coarse
    * quantizer of 16 seed centroids (vec_id < 16 — deterministic)
    * REFINED BY ONE LLOYD ITERATION (assign every vector to its
    * max-cosine seed, recompute each cell's mean), each vector assigned
    * to its max-cosine refined cell, the query probing the 2 nearest
    * cells and ranking exact cosine INSIDE those cells only.
    *
    * The Lloyd mean uses FIXED-POINT arithmetic — per-dimension
    * sum(round(x*1e6) as BIGINT) / (n*1e6) — so the centroid values
    * are aggregation-order-independent and the DuckDB oracle
    * reproduces them bit-for-bit (a raw double sum would drift with
    * partition order). The mean runs as a posexplode + partial+final
    * HashAggregate on (cell, dim) — one shuffle of 64·n skinny rows.
    *
    * Scale shape: the centroid table is FIXED-size (16 rows) — the one
    * broadcast hint here that is justified at any corpus size; the
    * assign steps are broadcast nested-loops + partial max_by (the 16x
    * row inflation collapses map-side before the shuffle); at 100 TB
    * the quantizer would train on a SAMPLE and cell assignments would
    * be a stored bucketed column; the probe scan prunes ~7/8 of the
    * table before any full-precision cosine. */
  /** Centroid-vs-vector cosine over columns (embedding, cv). */
  private[queries] val ivfCos: String =
    """aggregate(zip_with(embedding, cv, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), 0D, (acc, v) -> acc + v)
      | / (sqrt(aggregate(embedding, 0D, (acc, x) -> acc + CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))
      |    * sqrt(aggregate(cv, 0D, (acc, x) -> acc + CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))""".stripMargin

  /** The 16 deterministic seed centroids (vec_id < 16). */
  private[queries] def ivfSeedCentroids(e: DataFrame): DataFrame =
    e.where(col("vec_id") < 16)
      .select(col("vec_id").as("cent_id"), col("embedding").as("cv"))

  /** Cell assignment vs a centroid table: max cosine, ties -> smallest
    * cent_id. NARROW agg (vec_id, cell) — no first(embedding), which
    * would drag the arrays through a wide aggregate. */
  private[queries] def ivfAssign(e: DataFrame, centTable: DataFrame): DataFrame =
    e.crossJoin(broadcast(centTable))
      .select(col("vec_id"), col("cent_id"), expr(ivfCos).as("ccos"))
      .groupBy(col("vec_id"))
      .agg(max_by(col("cent_id"), struct(col("ccos"), -col("cent_id"))).as("cell"))

  /** One Lloyd iteration: exact per-dimension fixed-point means of the
    * seed assignment (every seed is its own member, so no empty
    * cells). Cosine is scale-invariant in the centroid, so the raw
    * mean behaves like the spherical-k-means recentering. */
  private[queries] def ivfRefine(e: DataFrame, cents0: DataFrame): DataFrame =
    ivfAssign(e, cents0).join(e, "vec_id")
      .select(col("cell"), posexplode(col("embedding")))
      .groupBy(col("cell"), col("pos"))
      .agg((sum(expr("CAST(round(CAST(col AS DOUBLE) * 1e6) AS BIGINT)"))
        / (count(lit(1)) * lit(1e6))).as("cx"))
      .groupBy(col("cell"))
      .agg(expr("transform(array_sort(collect_list(struct(pos, cx))), p -> p.cx)")
        .as("cv"))
      .select(col("cell").as("cent_id"), col("cv"))

  def qAnnIvf(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e = embDf(s, dir)
    val cos = ivfCos
    // persisted: the 16-row refined centroid table is consumed TWICE
    // (driver-side probe pick + the returned plan's assignment) and its
    // lineage is the full Lloyd refinement over the corpus — without the
    // persist the refinement subtree executes once per consumer
    val cents = registerCache(ivfRefine(e, ivfSeedCentroids(e))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val assign = ivfAssign(e, cents)
    // probe cells: the 2 refined centroids nearest the query vector
    // (16-row driver-side collect — bounded by the fixed centroid count)
    val probes = e.where($"vec_id" === 0).select($"embedding".as("qv"))
      .crossJoin(broadcast(cents))
      .select($"cent_id",
        expr(cos.replace("embedding", "qv")).as("qcos"))
      .orderBy(desc("qcos"), asc("cent_id")).limit(2)
      .as[(Long, Double)].collect().map(_._1)
    val q = e.where($"vec_id" === 0).select($"embedding".as("qv"))
    val dot = "aggregate(zip_with(embedding, qv, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), 0D, (acc, v) -> acc + v)"
    val na = "sqrt(aggregate(embedding, 0D, (acc, x) -> acc + CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))"
    val nb = "sqrt(aggregate(qv, 0D, (acc, x) -> acc + CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))"
    assign.where($"cell".isin(probes.toSeq: _*)) // IVF prune BEFORE full cosine
      .join(e, "vec_id") // re-attach embeddings to probed survivors
      .crossJoin(broadcast(q))
      .select($"vec_id", round(expr(s"$dot / ($na * $nb)"), 4).as("cos"))
      .orderBy(desc("cos"), asc("vec_id")).limit(10)
  }

  /** Embedding-cosine near-dup (the dedup family's scale path over
    * vectors): 32-bit LSH signatures split into four 8-bit bands; only
    * pairs colliding in some SURVIVING band bucket are scored. The
    * round-4 hazard — the banded self-join is quadratic in bucket size,
    * and bucket sizes grow linearly with the corpus — is closed by the
    * family's standard pre-count df-cut: bucket counts first, keep
    * 2..20, join back, THEN self-join (bounded <= C(20,2) pairs per
    * bucket). The drop is surfaced via observe ("embed_dfcut"). The
    * banded rows are repartitioned ONCE by (band, bval) and persisted;
    * the count, cut, join-back and self-join all ride that
    * partitioning. 8-bit bands (256 buckets) fit the fixture corpus; at
    * larger corpora the band width widens (the same plane family
    * extends — lshPlanes(dim, bits)) and the cut bounds the blowup
    * regardless. Output: top-20 candidate pairs by exact cosine (the
    * synthetic corpus has no true near-dups, so a threshold form would
    * be vacuous; the ranked form exercises the same plan). */
  def qDedupEmbed(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val sigSql = TextOps.lshSigSparkSql("embedding", dim = 64, bits = 32)
    val banded = embDf(s, dir)
      .select($"vec_id", $"embedding", expr(sigSql).as("sig"))
      .select($"vec_id", $"embedding",
        expr("""stack(4, 0, CAST(shiftright(sig,  0) & 255 AS INT),
                        1, CAST(shiftright(sig,  8) & 255 AS INT),
                        2, CAST(shiftright(sig, 16) & 255 AS INT),
                        3, CAST(shiftright(sig, 24) & 255 AS INT)) AS (band, bval)"""))
      .repartition($"band", $"bval")
    registerCache(
      banded.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    ensureObserveListener(s)
    val keep = banded
      .groupBy($"band", $"bval").agg(count(lit(1)).as("n"))
      .observe("embed_dfcut",
        count(when($"n" > 20, true)).as("dropped_buckets"),
        count(lit(1)).as("total_buckets"))
      .where($"n".between(2, 20))
      .select($"band", $"bval")
    val kept = banded.join(keep, Seq("band", "bval"))
    val pairs = kept.as("a")
      .join(kept.as("b"),
        $"a.band" === $"b.band" && $"a.bval" === $"b.bval" &&
          $"a.vec_id" < $"b.vec_id")
      .select($"a.vec_id".as("ida"), $"b.vec_id".as("idb"),
        $"a.embedding".as("ea"), $"b.embedding".as("eb"))
    val dot = "aggregate(zip_with(ea, eb, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), 0D, (acc, v) -> acc + v)"
    def nrm(c: String) =
      s"sqrt(aggregate($c, 0D, (acc, x) -> acc + CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))"
    // A pair colliding in BOTH bands appears twice: score first (same
    // cos both times, it's a pure function of the pair) and collapse
    // with max over the NARROW (ida, idb, cos) rows — a partial+final
    // HashAggregate. dropDuplicates before scoring would realize as a
    // SortAggregate over first(ea)/first(eb), sort-shuffling both full
    // embedding arrays; scoring a <=2x-inflated candidate set is far
    // cheaper than sorting wide rows.
    pairs.select($"ida", $"idb",
        round(expr(s"$dot / (${nrm("ea")} * ${nrm("eb")})"), 4).as("cos"))
      .groupBy($"ida", $"idb").agg(max($"cos").as("cos"))
      .orderBy(desc("cos"), asc("ida"), asc("idb")).limit(20)
  }

  /** SemDeDup (Abbas et al. 2023): SEMANTIC dedup over embeddings —
    * cluster the corpus with the IVF coarse quantizer (the same
    * fixed-point Lloyd refinement as qAnnIvf, bit-reproducible in the
    * oracle), then inside each cluster drop every vector whose cosine
    * to some LOWER-ID vector of the same cluster reaches the
    * threshold (greedy keep-first — deterministic; the paper keeps
    * the member farthest from the centroid, an arbitrary-but-fixed
    * choice we replace with the battery's min-id keeper discipline).
    *
    * Scale shape: within-cluster pairwise similarity IS the published
    * algorithm — quadratic in CLUSTER size, bounded by making k scale
    * with the corpus (the paper uses k ≈ 100k on LAION; here the
    * fixture quantizer has 16 cells). The pairwise join rides ONE
    * repartition by cell; the per-vector max collapses narrow
    * (vec_id, cell, cos) rows map-side. Cluster balance is surfaced
    * via observe (semdedup_cells: max/avg cell size) instead of a
    * silent assumption. */
  def qSemdedup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // the synthetic embeddings carry no true semantic dups (cf. the
    // qDedupEmbed note) — the demonstration threshold sits inside the
    // observed within-cell similarity range so BOTH keep branches are
    // exercised and oracled; a production run sets tau ≈ 0.95+
    val tau = 0.35
    val e = embDf(s, dir)
    val cents = registerCache(ivfRefine(e, ivfSeedCentroids(e))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    ensureObserveListener(s)
    val av = ivfAssign(e, cents).join(e, "vec_id")
      .observe("semdedup_cells", count(lit(1)).as("vectors"))
      .repartition($"cell")
    registerCache(
      av.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val dot = "aggregate(zip_with(ea, eb, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), 0D, (acc, v) -> acc + v)"
    def nrm(c: String) =
      s"sqrt(aggregate($c, 0D, (acc, x) -> acc + CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))"
    // for each vector, its max cosine to any LOWER-ID member of the
    // same cell (rounded per pair, like qDedupEmbed, so max is exact)
    val priorMax = av.as("a")
      .join(av.as("b"), $"a.cell" === $"b.cell" && $"a.vec_id" > $"b.vec_id")
      .select($"a.vec_id".as("vec_id"), $"a.cell".as("cell"),
        $"a.embedding".as("ea"), $"b.embedding".as("eb"))
      .select($"vec_id", $"cell",
        round(expr(s"$dot / (${nrm("ea")} * ${nrm("eb")})"), 4).as("cs"))
      .groupBy($"vec_id", $"cell")
      .agg(max($"cs").as("max_prior_sim"))
    av.select($"vec_id", $"cell") // reuse the persisted assignment
      .join(priorMax.drop("cell"), Seq("vec_id"), "left")
      .select($"vec_id", $"cell",
        coalesce($"max_prior_sim", lit(-2.0)).as("max_prior_sim"))
      .withColumn("keep", $"max_prior_sim" < tau)
      .orderBy($"vec_id")
  }

  /** Multimodal plumbing (rows-only): synthesize media for a Doc table
    * derived from documents, decode (stub) + extract features. */
  def qMediaFeatures(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = graft.pipeline.DocGen.docs(s, nDocs = 200, seed = 7L, partitions = 8)
    val media = graft.ops.Multimodal.synthesizeMedia(s, docs)
    val decoded = graft.ops.Multimodal.decode(media)
      .toDF("media_ref", "kind", "width", "height", "n_frames")
    val feats = graft.ops.Multimodal.extractFeatures(media, dim = 8)
      .toDF("media_ref", "features")
    // features emitted as a deterministic string (the driver's rows-only
    // check sorts/hashes every column via pandas — a raw array column is
    // unhashable there, CORRECTNESS_r01 q_media_features err)
    decoded.join(feats, "media_ref")
      .select($"media_ref", $"kind", $"width", $"height", $"n_frames",
        expr("""concat_ws(',', transform(features,
                 x -> CAST(round(CAST(x AS DOUBLE), 4) AS STRING)))""")
          .as("features"))
      .orderBy($"media_ref")
  }

  // ------------------------------------------------------------ text analysis

  /** Quality scoring: token/char counts, stopword ratio, TTR. */
  def qQuality(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val stop = Seq("the", "a", "of", "and", "in")
    docsDfRaw(s, dir)
      .select($"doc_id", $"text",
        expr("filter(split(text, ' '), t -> t <> '')").as("toks"))
      .select($"doc_id",
        length($"text").as("n_chars"),
        size($"toks").as("n_tokens"),
        expr(s"size(filter(toks, t -> t IN (${stop.map("'" + _ + "'").mkString(",")})))")
          .as("n_stop"),
        size(array_distinct($"toks")).as("n_types"))
      .select($"doc_id", $"n_chars", $"n_tokens", $"n_stop",
        round($"n_stop" / $"n_tokens", 6).as("stop_ratio"),
        round($"n_types" / $"n_tokens", 6).as("ttr"))
      .orderBy($"doc_id")
  }

  /** BPE-ish regex token count (same regex both engines). */
  def qTokenCountRegex(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    docsDfRaw(s, dir)
      .select($"doc_id",
        size(expr(s"regexp_extract_all(text, '${TextOps.BpeishRegex}', 0)"))
          .as("n_bpeish"))
      .orderBy($"doc_id")
  }

  /** Language ID via char-trigram profiles, as pure SQL expressions
    * (replace-length occurrence counts + greatest/CASE argmax) — the
    * same formula strings run in the DuckDB oracle, and TextOps.langId
    * computes identical results on the typed path (spec-asserted). */
  def qLangId(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val scoreCols = TextOps.langProfiles.toSeq.sortBy(_._1).map {
      case (lang, grams) =>
        expr(TextOps.langScoreSql("lo", grams)).as(s"s_$lang")
    }
    docsDfRaw(s, dir)
      .select($"doc_id" +: lower($"text").as("lo") +: Nil: _*)
      .select($"doc_id" +: scoreCols: _*)
      .select($"doc_id", expr(TextOps.langChooseSql).as("lang_pred"))
      .orderBy($"doc_id")
  }

  /** Document fingerprint: md5 of the normalized text. */
  def qFingerprint(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    docsDfRaw(s, dir)
      .select($"doc_id",
        md5(trim(regexp_replace(
          regexp_replace(lower($"text"), "[^a-z0-9 ]", ""),
          " +", " "))).as("fp"))
      .orderBy($"doc_id")
  }

  /** Gopher/MassiveText-style repetition quality signals, per document:
    * duplicate word-bigram fraction and top-bigram coverage (plus the
    * trigram dup fraction). Scale shape: everything is computed inside
    * one narrow per-row projection with higher-order functions — NO
    * doc_id-keyed shuffle of exploded grams. A per-doc mode-of-array is
    * O(distinct * n) per row, which for real documents (n ~ 10^3 grams)
    * stays far cheaper at 100 TB than shuffling an exploded gram table
    * back together; the whole query is scan -> project -> sort. */
  def qGopherQuality(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    def grams(n: Int) = // 1-based slice, same shape as the jaccard shingles
      s"""transform(sequence(1, size(w) - ${n - 1}),
            i -> concat_ws(' ', slice(w, i, $n)))"""
    docsDfRaw(s, dir)
      .select($"doc_id",
        expr("filter(split(text, ' '), t -> t <> '')").as("w"))
      .where(size($"w") >= 3) // degenerate docs: no bigram/trigram stats
      .select($"doc_id", expr(grams(2)).as("g2"), expr(grams(3)).as("g3"))
      .select($"doc_id",
        size($"g2").as("n_2grams"),
        round(lit(1) - size(array_distinct($"g2")) / size($"g2"), 6)
          .as("frac_dup_2gram"),
        round(expr("""array_max(transform(array_distinct(g2),
                       x -> size(filter(g2, y -> y = x))))""") / size($"g2"), 6)
          .as("top_2gram_frac"),
        round(lit(1) - size(array_distinct($"g3")) / size($"g3"), 6)
          .as("frac_dup_3gram"))
      .orderBy($"doc_id")
  }

  // PII patterns shared verbatim with the DuckDB oracle. Written with
  // [.] instead of \. so the SAME string is valid under Java regex and
  // RE2 with no escaping differences between the two engines.
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][A-Za-z]{2,}"
  val PhoneRe = "555-[0-9]{4}"
  val Ipv4Re = "[0-9]{1,3}[.][0-9]{1,3}[.][0-9]{1,3}[.][0-9]{1,3}"
  // deterministic PII augmentation (the synthetic corpus carries no PII;
  // both engines append the same values so redaction is exercised
  // genuinely). Email/phone/IP populations overlap on purpose.
  val PiiAugmentSql: String =
    """concat(text,
      |  CASE WHEN doc_id % 7 = 0
      |    THEN concat(' contact user', CAST(doc_id AS STRING), '@example.com') ELSE '' END,
      |  CASE WHEN doc_id % 11 = 0
      |    THEN concat(' call 555-01', CAST(doc_id % 89 + 10 AS STRING)) ELSE '' END,
      |  CASE WHEN doc_id % 13 = 0
      |    THEN concat(' from 10.0.', CAST(doc_id % 256 AS STRING), '.',
      |                CAST(doc_id * 7 % 256 AS STRING)) ELSE '' END)""".stripMargin

  /** PII redaction: count + mask emails, phone numbers and IPv4
    * addresses. Pure per-row regex work (codegen'd RegExpReplace /
    * RegExpExtractAll) — scan -> project -> sort, no shuffle. Email
    * masking runs FIRST so the address's digits/dots can't be half-eaten
    * by the IP pattern. */
  def qPiiRedact(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    docsDfRaw(s, dir)
      .select($"doc_id", expr(PiiAugmentSql).as("aug"))
      .select($"doc_id",
        size(expr(s"regexp_extract_all(aug, '$EmailRe', 0)")).as("n_emails"),
        size(expr(s"regexp_extract_all(aug, '$PhoneRe', 0)")).as("n_phones"),
        size(expr(s"regexp_extract_all(aug, '$Ipv4Re', 0)")).as("n_ips"),
        regexp_replace(regexp_replace(regexp_replace($"aug",
          EmailRe, "[EMAIL]"), Ipv4Re, "[IP]"), PhoneRe, "[PHONE]")
          .as("redacted"))
      .orderBy($"doc_id")
  }

  /** Decontamination: flag training documents sharing any word 4-gram
    * with a benchmark/eval set (Lee et al.-style n-gram overlap). The
    * benchmark here is the fixed doc_id < 10 slice — FIXED-size by
    * construction (a real eval set doesn't grow with the corpus), which
    * is exactly the case where a broadcast hint is justified: the
    * distinct benchmark-gram table is broadcast and the corpus side
    * never shuffles. Gram keys are 60-bit md5 prefixes (narrow join
    * keys, same trick as qNgramJaccard). Output: contaminated doc_id
    * with its distinct-overlapping-gram count. */
  def qDecontaminate(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.functions.HexPrefix64.hexPrefix64
    def gramsOf(df: DataFrame) = df
      .select($"doc_id", split($"text", " ").as("w"))
      .where(size($"w") >= 4)
      .select($"doc_id", explode(expr(
        """transform(sequence(1, size(w) - 3),
             i -> concat_ws(' ', slice(w, i, 4)))""")).as("g"))
      .select($"doc_id", hexPrefix64(md5($"g")).as("gh"))
    val docs = docsDf(s, dir)
    val benchGrams = gramsOf(docs.where($"doc_id" < 10))
      .select($"gh").distinct()
    // the corpus side joins UN-deduplicated: the broadcast join filters
    // first, so the only corpus-side shuffle (the count-distinct's
    // partial dedup) carries just the MATCHED grams — deduplicating
    // before the join would shuffle the full exploded gram table
    gramsOf(docs.where($"doc_id" >= 10))
      .join(broadcast(benchGrams), "gh") // fixed-size side: hint is safe at any SF
      .groupBy($"doc_id").agg(count_distinct($"gh").as("n_shared_4grams"))
      .orderBy($"doc_id")
  }

  // per-source sampling rates for the training-mix query, shared
  // verbatim with the DuckDB oracle
  val SampleRateSql: String =
    """CASE WHEN source IN ('src0','src1','src2','src3','src4') THEN 0.9
      |     WHEN source IN ('src5','src6','src7','src8','src9') THEN 0.5
      |     ELSE 0.1 END""".stripMargin

  /** BPE tokenizer training, iteration 1 ([[graft.train.Bpe]]): the
    * adjacent-symbol pair counts over the word-frequency vocabulary and
    * the merge ranking (cnt desc, pair asc — the trainer's exact pick
    * order), top 50. This is the distributed heart of every merge
    * iteration; multi-iteration training (merge application included)
    * is spec-pinned trainSpark == trainLocal since applying merges is
    * not SQL-expressible. Scale shape: ONE corpus shuffle (word
    * counts), then pair counts aggregate over the VOCAB — bounded by
    * distinct words — into a partial+final hash agg; top-50 is a
    * TakeOrderedAndProject, never a global sort. */
  def qBpePairs(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val wc = docsDfRaw(s, dir)
      .select(explode(split($"text", " ")).as("w"))
      .where(length($"w") > 0)
      .groupBy($"w").agg(count(lit(1)).as("c"))
    wc.where(length($"w") >= 2)
      .select($"c", explode(expr(
        "transform(sequence(1, length(w) - 1), " +
          "i -> struct(substring(w, i, 1) AS a, substring(w, i + 1, 1) AS b))")).as("p"))
      .select($"p.a".as("a"), $"p.b".as("b"), $"c")
      .groupBy($"a", $"b").agg(sum($"c").as("cnt"))
      .orderBy(desc("cnt"), asc("a"), asc("b")).limit(50)
  }

  /** The pinned tokenizer for [[qBpeEncode]]: `Bpe.trainLocal` output
    * (16 merges) over the sf0.001 alphabetic word vocabulary —
    * provenance re-derived by a spec, so the constant cannot drift
    * from the trainer. Public for that spec. */
  val BpeFixtureMerges: Seq[(String, String)] = Seq(
    "e" -> "r", "o" -> "r", "i" -> "n", "o" -> "w", "s" -> "t",
    "l" -> "u", "a" -> "r", "p" -> "ar", "m" -> "er", "a" -> "t",
    "a" -> "n", "c" -> "an", "s" -> "can", "c" -> "o", "co" -> "lu",
    "colu" -> "m")

  /** BPE tokenizer APPLICATION at corpus scale — the counterpart of
    * [[qBpePairs]] (training): segment every word under a trained
    * merge list and produce the corpus token-frequency table, the
    * input to token-budget accounting in an LLM data pipeline.
    *
    * Scale shape: the tokenizer runs ONCE PER DISTINCT WORD, not once
    * per occurrence — one corpus shuffle builds the word-frequency
    * vocab, the (vocab-bounded) typed flatMap applies the merges, and
    * the token counts aggregate partial+final with the word count as
    * the weight. At 100 TB the encode cost is O(|vocab|), invariant to
    * corpus growth; top-200 is a TakeOrderedAndProject, never a global
    * sort.
    *
    * The oracle is an INDEPENDENT implementation: each word becomes
    * STX·sym·ETX delimited units and each merge is one non-overlapping
    * left-to-right `replace` of the delimited pair — proven equivalent
    * to the reference scan-and-skip semantics (the delimiters make
    * adjacent matches non-overlapping by construction, so greedy
    * replace = greedy scan). */
  def qBpeEncode(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val wc = docsDfRaw(s, dir)
      .select(explode(split($"text", " ")).as("w"))
      .where($"w".rlike("^[a-z]+$"))
      .groupBy($"w").agg(count(lit(1)).as("c"))
    wc.as[(String, Long)]
      .flatMap { case (w, c) =>
        graft.train.Bpe.encode(w, BpeFixtureMerges).map(t => (t, c)) }
      .toDF("token", "c")
      .groupBy($"token").agg(sum($"c").as("cnt"))
      .orderBy(desc("cnt"), asc("token")).limit(200)
  }

  /** INVERTED-INDEX construction — per term: document frequency and a
    * BOUNDED postings head (the 20 lowest doc_ids), the search-index
    * product a crawl pipeline ships. The bound is what makes this
    * 100-TB-shaped, and Spark has no primitive for it: collect_list
    * buffers the whole group (the round-4 hot-key finding), a rank
    * window buffers/spills whole partitions — so the postings head is
    * a custom Catalyst `TypedImperativeAggregate`
    * ([[graft.functions.TopKMinLongs]], k-slot heap state, map-side
    * combinable). The whole query is ONE partial+final hash agg over
    * distinct (term, doc) pairs: a term appearing in every document
    * costs 20 longs per task, not a corpus-sized buffer. */
  def qInvertedIndex(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.functions.TopKMinLongs.topKMin
    docsDfRaw(s, dir)
      .select($"doc_id", explode(array_distinct(
        filter(split($"text", " "), t => length(t) > 0))).as("term"))
      .groupBy($"term")
      .agg(count(lit(1)).as("df"),
        concat_ws(",", transform(topKMin($"doc_id", 20), _.cast("string")))
          .as("postings"))
      .orderBy($"term")
  }

  /** Winnowing document fingerprints (Schleimer, Wilkerson & Aiken
    * 2003 — the MOSS scheme): hash every k-gram (k = 5 chars), then
    * from each sliding window of w = 4 consecutive gram hashes select
    * the minimum — the selected set is a position-robust fingerprint
    * with guaranteed coverage (any match of length ≥ k + w - 1 shares
    * a fingerprint). Output: per doc the k-gram count, the distinct
    * fingerprint count, and the order-independent bit_xor checksum of
    * the fingerprint set.
    *
    * Scale shape: pure per-row lambda pipeline over the scan — no
    * shuffle at all (the final sort is the presentation ORDER BY).
    * Window minima come from a zip_with(slice, slice) min-tree
    * (min(w=4) = two least-layers), which references the gram-hash
    * array only OUTSIDE lambda bodies — the qDsir lesson: an array
    * expression referenced inside a lambda body is re-evaluated per
    * element by projection collapse. The oracle computes the same
    * windows by direct 4-way least over indexed elements — an
    * independent formulation. */
  def qWinnow(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.functions.HexPrefix64.hexPrefix64
    val k = 5; val w = 4
    val ghExpr = transform(
      when(length($"text") >= k, expr(
        s"transform(sequence(1, length(text) - ${k - 1}), i -> substring(text, i, $k))"))
        .otherwise(expr("CAST(array() AS ARRAY<STRING>)")), // sequence(1,0) would DESCEND
      g => hexPrefix64(md5(g)))
    def minLayer(c: Column, gap: Int): Column =
      zip_with(slice(c, lit(1), size(c) - gap), slice(c, lit(1 + gap), size(c) - gap), least(_, _))
    // let-binding via single-element transform: `gh`/`fps` become
    // LAMBDA VARIABLES, evaluated once per row — a plain column alias
    // would be inlined by projection collapse and the md5 gram pass
    // re-evaluated at every reference (the min-tree has 16 of them:
    // measured 2.3x on this query). inline(...) emits the struct
    // through a Generate, so the three field projections downstream
    // read attributes instead of re-running the expression.
    val row = element_at(transform(array(ghExpr), gh =>
      element_at(transform(array(
        when(size(gh) >= w, array_distinct(minLayer(minLayer(gh, 1), 2)))
          .otherwise(expr("CAST(array() AS ARRAY<BIGINT>)"))), fps =>
        struct(size(gh).cast("long").as("n_grams"),
          size(fps).cast("long").as("n_fps"),
          aggregate(fps, lit(0L), (a, x) => a.bitwiseXOR(x)).as("fp_xor"))),
        1)), 1)
    docsDf(s, dir)
      .select($"doc_id", inline(array(row)))
      .orderBy($"doc_id")
  }

  /** The demonstration retrieval query for [[qBm25]] — production
    * parameterizes; pinned so the oracle can restate it. */
  val Bm25QueryTerms: Seq[String] = Seq("spark", "join", "window")

  /** BM25 ranked retrieval (Robertson et al.; the Lucene idf variant
    * ln(1 + (N - df + 0.5)/(df + 0.5)), k1 = 1.2, b = 0.75) — the
    * scoring half of the search-index product whose build half is
    * [[qInvertedIndex]].
    *
    * Scale shape: for a BOUNDED query-term set nothing about the
    * corpus needs to shuffle — per-term tf and dl are per-row lambda
    * folds over the token array; N, avgdl and the per-term df collapse
    * into ONE 1-row conditional aggregate that broadcasts back; the
    * top-20 is a TakeOrderedAndProject. (The explode + join-on-term
    * formulation would shuffle every token of the corpus to rank 3
    * terms.) Per-term scores round to 1e9 fixed point before the
    * per-doc BIGINT sum (the nats9 discipline), and the ranking order
    * is the exact fixed-point score with doc_id tie-break — identical
    * in both engines. */
  def qBm25(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val k1 = 1.2; val bb = 0.75
    val docs = docsDfRaw(s, dir)
      .select($"doc_id", filter(split($"text", " "), t => length(t) > 0).as("ws"))
    def tf(t: String): Column = size(filter($"ws", w => w === t))
    val withTf = docs.select(
      ($"doc_id" +: size($"ws").cast("double").as("dl") +:
        Bm25QueryTerms.zipWithIndex.map { case (t, i) => tf(t).cast("double").as(s"tf$i") }): _*)
    val statCols = count(lit(1)).cast("double").as("n") +: avg($"dl").as("avgdl") +:
      Bm25QueryTerms.indices.map(i =>
        sum(($"tf$i" > 0).cast("long")).cast("double").as(s"df$i"))
    val stats = withTf.agg(statCols.head, statCols.tail: _*)
    val termScore = (i: Int) => {
      val idf = log(lit(1.0) + ($"n" - col(s"df$i") + 0.5) / (col(s"df$i") + 0.5))
      val norm = col(s"tf$i") * (k1 + 1.0) /
        (col(s"tf$i") + lit(k1) * (lit(1.0 - bb) + lit(bb) * $"dl" / $"avgdl"))
      round(idf * norm * 1e9).cast("long")
    }
    withTf.crossJoin(broadcast(stats))
      .select($"doc_id",
        Bm25QueryTerms.indices.map(termScore).reduce(_ + _).as("score_fp"))
      .orderBy(desc("score_fp"), asc("doc_id")).limit(20)
      .select($"doc_id", round($"score_fp".cast("double") / 1e9, 6).as("score"))
  }

  /** MODEL-BASED quality filtering — the GPT-3/CCNet-style linear
    * classifier pass: bag-of-words with the hashing trick (1024
    * buckets via the shared md5-prefix hash), integer bucket weights,
    * keep = score > 0. The weights here are a deterministic formula
    * ((bucket * 2654435761) % 1001 - 500) standing in for trained
    * parameters — in production they are a broadcast array and the
    * plan is IDENTICAL: a pure per-row map over the scan (token split
    * → hash → weight lookup → sum folded inside one higher-order
    * expression), NO shuffle, no explode — the classic explode+groupBy
    * formulation would shuffle every token of a 100-TB corpus to
    * re-derive a per-doc sum that never needed to leave the row. */
  def qQualityClassifier(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.functions.HexPrefix64.hexPrefix64
    val toks = filter(split($"text", " "), t => length(t) > 0)
    val weights = transform(toks, t =>
      (hexPrefix64(md5(t)) % 1024L) * 2654435761L % 1001L - 500L)
    docsDfRaw(s, dir)
      .select($"doc_id",
        aggregate(weights, lit(0L), (acc, w) => acc + w).as("score"))
      .withColumn("keep", $"score" > 0)
      .orderBy($"doc_id")
  }

  /** DSIR data selection (Xie et al. 2023, "Data Selection for
    * Language Models via Importance Resampling"): per-document
    * importance log-weight log(p_target/p_raw) under bag-of-hashed-
    * bigram unigram models — target = the `lang = 'en'` slice, raw =
    * the whole corpus, 1024 hash buckets (the shared md5-prefix hash),
    * Laplace-1 smoothing.
    *
    * Scale shape: TRAINING is one tiny partial+final hash agg (1024
    * groups) over the bigram stream with in-plan totals; the trained
    * per-bucket log-ratio table folds to a 1-row map (≤1024 entries —
    * the justified broadcast case) and SCORING is a pure per-row
    * lambda fold over each doc's bigrams against that broadcast map:
    * the corpus never shuffles to be scored (the explode + join-back +
    * groupBy formulation would shuffle every bigram of a 100-TB corpus
    * to rebuild per-doc sums that never needed to leave the row).
    * Per-bucket ln is rounded to 1e9 fixed point BEFORE the per-doc
    * BIGINT sum, so aggregation order cannot move the result (the
    * battery's nats9 discipline). */
  def qDsir(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.functions.HexPrefix64.hexPrefix64
    val B = 1024L
    // bigrams via zip_with(slice, slice): `ws` is referenced only
    // OUTSIDE lambdas — projection collapse inlines the split+filter,
    // and a reference inside a lambda body would re-evaluate it PER
    // ELEMENT (measured 30s -> <1s at sf0.1 for the counts agg)
    val bigramsOf = (ws: Column) => when(size(ws) >= 2,
      zip_with(slice(ws, lit(1), size(ws) - 1), slice(ws, lit(2), size(ws) - 1),
        (a, b) => concat(a, lit(" "), b)))
      .otherwise(expr("CAST(array() AS ARRAY<STRING>)"))
    val bg = docsDf(s, dir)
      .select($"doc_id", $"lang",
        bigramsOf(filter(split($"text", " "), t => length(t) > 0)).as("bgs"))
    val counts = registerCache(bg
      .select($"lang", explode($"bgs").as("g"))
      .select((hexPrefix64(md5($"g")) % B).as("b"),
        ($"lang" === "en").cast("long").as("is_t"))
      .groupBy($"b")
      .agg(count(lit(1)).as("cs"), sum($"is_t").as("ct"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val totals = counts.agg(sum($"cs").as("ns"), sum($"ct").as("nt"))
    // dense 1024-slot array (index = bucket) instead of a map: the
    // per-bigram lookup at scoring time is O(1) array indexing —
    // element_at on MapData is a LINEAR scan, 1024 compares per bigram.
    // Slots for buckets absent from the corpus get the smoothed
    // (ct=0, cs=0) ratio, computed from the same in-plan totals.
    val lrArr = counts.crossJoin(broadcast(totals))
      .select($"b", round((log(($"ct" + 1.0) / ($"nt" + B))
        - log(($"cs" + 1.0) / ($"ns" + B))) * 1e9).cast("long").as("lr9"))
      .agg(map_from_entries(sort_array(collect_list(struct($"b", $"lr9"))))
        .as("m")) // bounded: ≤1024 entries by construction
      .crossJoin(broadcast(totals))
      .select(transform(sequence(lit(0L), lit(B - 1)),
        i => coalesce(element_at($"m", i),
          round((log(($"ns" + B).cast("double") / ($"nt" + B)) * 1e9))
            .cast("long"))).as("arr"))
    bg.crossJoin(broadcast(lrArr))
      .select($"doc_id", $"lang",
        size($"bgs").cast("long").as("n_bigrams"),
        round(aggregate(transform($"bgs",
            g => element_at($"arr", (hexPrefix64(md5(g)) % B).cast("int") + 1)),
          lit(0L), (a, x) => a + x).cast("double") / 1e9, 6).as("logw"))
      .orderBy($"doc_id")
  }

  /** Distributed Naive-Bayes classifier TRAINING
    * ([[graft.train.NaiveBayes.trainWeights]]) — the trained
    * counterpart of qQualityClassifier's fixed-formula weights. Labels
    * are deterministic pseudo-labels (doc_id % 2 = 0 → positive; the
    * synthetic corpus carries no labels — the same augmentation
    * discipline as the PII populations), stated identically in the
    * oracle. Training is one explode → one (term) hash agg; totals
    * stay in-plan. Oracle-exact because NB training is counting, not
    * gradient descent. */
  def qNbTrain(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    NaiveBayes.trainWeights(docsDfRaw(s, dir), $"doc_id" % 2 === 0)
      .orderBy($"term")
  }

  /** Classification under the q_nb_train weights
    * ([[graft.train.NaiveBayes.score]]): per-doc fixed-point sum of
    * term log-likelihood ratios, keep = score > 0. Train and classify
    * compose in ONE plan (the qCrawlFrontier discipline) — the weights
    * subplan is re-derived, the oracle restates it as CTEs. */
  def qNbClassify(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val weights = NaiveBayes.trainWeights(docsDfRaw(s, dir), $"doc_id" % 2 === 0)
    NaiveBayes.score(docsDfRaw(s, dir), weights).orderBy($"doc_id")
  }

  /** TF-IDF top terms per document (keyword extraction): tf = term count
    * / doc token count, idf = ln(N / df), top 5 terms per doc by score.
    * Scale shape: ONE explode feeds a (doc_id, term) hash agg; the df
    * table derives from that same aggregate (self-reuse via persist);
    * the rank window is PARTITIONED by doc_id (bounded partitions, never
    * global); the scalar N broadcasts as a literal. The doc-term <-> df
    * join carries NO hint — df scales with vocabulary, AQE decides.
    * Ties broken lexicographically so the result is deterministic. */
  def qTfidfTop(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    // N stays INSIDE the plan (broadcast 1-row cross join) — an eager
    // .count() here would run a Spark job at builder time, breaking the
    // battery's builder-is-lazy invariant (PlanDump would scan parquet)
    val nDf = docsDfRaw(s, dir).agg(count(lit(1)).cast("double").as("n"))
    val docTerm = registerCache(
      docsDfRaw(s, dir)
        .select($"doc_id", explode(expr(
          "filter(split(text, ' '), t -> t <> '')")).as("term"))
        .groupBy($"doc_id", $"term").agg(count(lit(1)).as("tc"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val docLen = docTerm.groupBy($"doc_id").agg(sum($"tc").as("dl"))
    val df = docTerm.groupBy($"term").agg(count(lit(1)).as("df"))
    val scored = docTerm
      .join(docLen, "doc_id")
      .join(df, "term")
      .crossJoin(broadcast(nDf))
      .select($"doc_id", $"term",
        round(($"tc" / $"dl") * log($"n" / $"df"), 6).as("tfidf"))
    scored
      .withColumn("rk", row_number().over(
        Window.partitionBy($"doc_id").orderBy(desc("tfidf"), asc("term"))))
      .where($"rk" <= 5)
      .select($"doc_id", $"rk", $"term", $"tfidf")
      .orderBy($"doc_id", $"rk")
  }

  /** Unsorted chunk stream shared by qChunkFixed (which adds the
    * presentation sort) and qPackSequences (which co-locates by hash
    * instead — a global range sort would be wasted there): fixed-size
    * token windows (64 tokens) with a 16-token overlap (stride 48), the
    * standard sliding-context shape; per-row explode of O(len/stride)
    * chunks; chunk text is emitted alongside its token count so a
    * downstream packer can budget without re-tokenizing. */
  private def chunksRaw(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val (win, stride) = (64, 48)
    docsDfRaw(s, dir)
      .select($"doc_id",
        expr("filter(split(text, ' '), t -> t <> '')").as("w"))
      .where(size($"w") >= 1)
      .select($"doc_id", posexplode(expr(
        // chunk starts: 1, 1+stride, ... while start <= len (a final
        // short chunk keeps the tail; single emission for len <= win)
        s"""transform(sequence(0, CAST(greatest(ceil((size(w) - $win) / CAST($stride AS DOUBLE)), 0) AS INT)),
              k -> concat_ws(' ', slice(w, k * $stride + 1, $win)))""")))
      .select($"doc_id", $"pos".cast("int").as("chunk_idx"), $"col".as("chunk_text"),
        size(split($"col", " ")).as("n_tokens"))
  }

  def qChunkFixed(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    chunksRaw(s, dir).orderBy($"doc_id", $"chunk_idx")
  }

  /** Sequence packing for training batches: greedy NEXT-fit of the
    * fixed-size chunks (qChunkFixed) into packs of <= 256 tokens — one
    * open pack, closed permanently when the next chunk overflows it
    * (the order-preserving streaming discipline; first-fit would break
    * chunk order inside packs and require an open-pack search).
    * Order-dependent packing is not SQL-expressible, so this is the one
    * place mapPartitions earns its keep in the query battery (rows-only
    * driver check; invariants spec-pinned: exact cover, budget
    * respected, deterministic pack ids). Scale shape: token counts are
    * computed ARITHMETICALLY (least(win, len - k*stride)) — the chunk
    * strings are never built on this path — then ONE hash shuffle
    * co-locates each doc's chunk stats and every partition packs
    * independently; pack ids are (partition, seq) so no global
    * coordination exists. Packs never cross partition boundaries (the
    * standard data-parallel packing compromise: at most one underfull
    * pack per partition). */
  def qPackSequences(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val budget = 256
    // stats-only chunk derivation + hash co-location + local sort, NOT
    // qChunkFixed: materializing chunk TEXT (concat_ws over 64 tokens,
    // re-split to count) and a global range sort are both wasted work
    // when only (doc_id, chunk_idx, n_tokens) feeds the packer
    val chunks = docsDfRaw(s, dir)
      .select($"doc_id",
        expr("size(filter(split(text, ' '), t -> t <> ''))").as("len"))
      .where($"len" >= 1)
      .select($"doc_id", posexplode(expr(
        """transform(sequence(0, CAST(greatest(ceil((len - 64) / CAST(48 AS DOUBLE)), 0) AS INT)),
             k -> least(64, len - k * 48))""")))
      .select($"doc_id", $"pos".cast("int").as("chunk_idx"),
        $"col".cast("int").as("n_tokens"))
      .repartition($"doc_id")
      .sortWithinPartitions($"doc_id", $"chunk_idx")
      .as[(Long, Int, Int)]
    chunks.mapPartitions { it =>
      val pid = org.apache.spark.TaskContext.getPartitionId()
      var seq = 0
      var used = 0
      val members = scala.collection.mutable.ArrayBuffer.empty[String]
      val out = scala.collection.mutable.ArrayBuffer.empty[(String, Int, Int, String)]
      def flush(): Unit = if (members.nonEmpty) {
        out += ((f"pack-$pid%04d-$seq%05d", members.length, used,
          members.mkString(",")))
        seq += 1; used = 0; members.clear()
      }
      it.foreach { case (docId, chunkIdx, n) =>
        if (used + n > budget) flush()
        used += n
        members += s"$docId:$chunkIdx"
      }
      flush()
      out.iterator
    }.toDF("pack_id", "n_chunks", "n_tokens", "members")
      .orderBy($"pack_id")
  }

  /** Deterministic stratified sampling for training-mix construction:
    * keep a doc iff u(doc_id) < rate(source), where u is a 60-bit
    * md5-derived uniform in [0,1). Scale shape: pure scan -> project ->
    * filter, NO shuffle and no state — every executor decides each row
    * locally, the sample is reproducible across runs/partitionings, and
    * upsizing a stratum's rate keeps all previously-sampled rows (hash
    * sampling is nested by construction). u = L / 2^60 with L computed
    * identically in both engines, so the oracle reproduces the exact
    * same sample. */
  /** Mixture-weight CASE shared verbatim with the oracle: relative
    * target shares of the token budget per source group. */
  val MixtureWeightSql: String =
    """CASE WHEN source IN ('src0','src1','src2','src3','src4') THEN 3
      |     WHEN source IN ('src5','src6','src7','src8','src9') THEN 2
      |     ELSE 1 END""".stripMargin

  /** Data-MIXTURE sampling (the "data recipe" op every LLM pipeline
    * runs): given per-source mixture weights and a token budget (50% of
    * the corpus), derive each source's sampling rate
    * rate = min(1, budget * w/sum_w / source_tokens) and keep doc_id
    * hashes below it — deterministic, reproducible, and exact across
    * engines (the rate expression is written with identical
    * associativity on both sides; u = hash/2^60 is a division by a
    * power of two, exact in doubles).
    *
    * Scale shape: one (source, tokens) aggregate (bounded by the source
    * count), totals as an in-plan 1-row broadcast, the per-source rate
    * table joined back WITHOUT a hint (sources may scale; AQE
    * broadcasts when small) — the corpus side is scan + filter, no
    * shuffle. */
  def qSampleMixture(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.functions.HexPrefix64.hexPrefix64
    val perSource = docsDfRaw(s, dir)
      .select($"source", size(split($"text", " ")).as("nt"))
      .groupBy($"source").agg(sum($"nt").as("stok"))
      .select($"source", $"stok", expr(MixtureWeightSql).as("w"))
    val totals = perSource
      .agg(sum($"stok").cast("double").as("total"),
        sum($"w").cast("double").as("sumw"))
    val rates = perSource.crossJoin(broadcast(totals))
      .select($"source",
        least(lit(1.0), lit(0.5) * $"total" * $"w" / $"sumw" / $"stok")
          .as("rate"))
    docsDfRaw(s, dir)
      .select($"doc_id", $"source",
        (hexPrefix64(md5($"doc_id".cast("string"))) /
          lit(math.pow(2, 60))).as("u"))
      .join(rates, "source")
      .where($"u" < $"rate")
      .select($"doc_id", $"source", round($"rate", 6).as("rate"))
      .orderBy($"doc_id")
  }

  def qSampleStratified(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.functions.HexPrefix64.hexPrefix64
    docsDfRaw(s, dir) // raw: spec pins a shuffle-free sampling plan
      .select($"doc_id", $"source",
        (hexPrefix64(md5($"doc_id".cast("string"))) /
          lit(math.pow(2, 60))).as("u"),
        expr(SampleRateSql).as("rate"))
      .where($"u" < $"rate")
      .select($"doc_id", $"source", round($"u", 6).as("u"))
      .orderBy($"doc_id")
  }

  /** Per-source repeat factors for upsampling (dialect-neutral SQL,
    * shared verbatim with the oracle): high-quality sources repeat 2.5
    * epochs, mid 1.0, tail 0.25 — the fractional parts exercise the
    * probabilistic extra copy. */
  val UpsampleFactorSql: String =
    """CASE WHEN source IN ('src0','src1','src2','src3','src4') THEN 2.5
      |     WHEN source IN ('src5','src6','src7','src8','src9') THEN 1.0
      |     ELSE 0.25 END""".stripMargin

  /** Mixture UPSAMPLING — the other half of data-mixture construction
    * (qSampleMixture/qSampleStratified subsample; training recipes
    * also REPEAT high-quality sources for multiple epochs, e.g. the
    * Llama/Gopher mixture tables). Each doc emits floor(f) copies plus
    * one more when u(doc_id) < frac(f) — so expected copies = f
    * exactly, deterministic and reproducible (same u as the stratified
    * sampler: raising a factor keeps all previously emitted copies).
    * Scale: per-row sequence explode, output linear in the token
    * budget, NO shuffle besides the presentation sort. The copy index
    * rides along so downstream shuffles can decorrelate epochs. */
  def qSampleUpsample(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.functions.HexPrefix64.hexPrefix64
    docsDfRaw(s, dir)
      .select($"doc_id", $"source",
        (hexPrefix64(md5($"doc_id".cast("string"))) /
          lit(math.pow(2, 60))).as("u"),
        expr(UpsampleFactorSql).as("f"))
      .withColumn("copies",
        (floor($"f") + when($"u" < $"f" - floor($"f"), 1).otherwise(0)).cast("int"))
      .where($"copies" > 0)
      .select($"doc_id", $"source",
        explode(sequence(lit(0), $"copies" - 1)).as("copy"))
      .orderBy($"doc_id", $"copy")
  }

  /** PMI collocation mining (Church & Hanks 1990; the phrase-detection
    * pass of word2vec-style pipelines): for every adjacent word pair,
    * pmi = ln(p(ab) / (p(a) p(b))) with p(ab) = c_ab / N_bi and
    * p(a) = c_a / N_w; pairs seen >= 5 times, ranked by PMI.
    *
    * Scale shape: bigrams via the zip_with(slice, slice) idiom (the
    * qDsir lesson — never reference the split inside a lambda body);
    * ONE bigram explode feeds a (a, b)-keyed partial+final hash agg
    * and ONE word explode a vocab-sized unigram agg — only
    * vocabulary-sized tables ever shuffle. Totals stay IN-PLAN as
    * 1-row broadcast cross joins (the lazy-builder invariant), the
    * two unigram joins carry NO hint (vocab scales — AQE decides).
    * The ln runs once per surviving pair over pure integer counts and
    * rounds to 6 decimals (the battery's ln discipline) — no float
    * aggregation anywhere. */
  def qPmiBigrams(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ws = filter(split($"text", " "), t => length(t) > 0)
    val bigramsOf = (w: Column) => when(size(w) >= 2,
      zip_with(slice(w, lit(1), size(w) - 1), slice(w, lit(2), size(w) - 1),
        (a, b) => struct(a.as("a"), b.as("b"))))
      .otherwise(expr("CAST(array() AS ARRAY<STRUCT<a: STRING, b: STRING>>)"))
    val docs = docsDf(s, dir)
    val uni = registerCache(docs
      .select(explode(ws).as("w"))
      .groupBy($"w").agg(count(lit(1)).as("c"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val bi = registerCache(docs
      .select(explode(bigramsOf(ws)).as("g"))
      .groupBy($"g.a".as("a"), $"g.b".as("b"))
      .agg(count(lit(1)).as("c_ab"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val nw = uni.agg(sum($"c").as("n_w"))
    val nb = bi.agg(sum($"c_ab").as("n_bi"))
    bi.where($"c_ab" >= 5)
      .join(uni.select($"w".as("a"), $"c".as("c_a")), "a")
      .join(uni.select($"w".as("b"), $"c".as("c_b")), "b")
      .crossJoin(broadcast(nw))
      .crossJoin(broadcast(nb))
      .select($"a", $"b", $"c_ab",
        round(log($"c_ab".cast("double") * $"n_w" * $"n_w" /
          ($"n_bi" * $"c_a" * $"c_b")), 6).as("pmi"))
      .orderBy(desc("pmi"), $"a", $"b")
  }

  /** EXACT all-pairs set-similarity join via prefix filtering
    * (Chaudhuri et al. 2006 / Bayardo et al. 2007 "AllPairs"): every
    * document pair whose 8-char-shingle sets have Jaccard >= 0.9 —
    * with NO false negatives, unlike the battery's approximate
    * near-dup family (MinHash bands, SimHash bands, the df-cut
    * Jaccard): this is the exact operator those approximate.
    *
    * The completeness lemma: order every set by one GLOBAL token
    * order; if |A∩B| >= α then the SMALLEST shared token (it is
    * followed by >= α-1 shared tokens in both sets) sits within the
    * first n-α+1 tokens of each — so joining only the (n - ceil(t n)
    * + 1)-prefixes misses nothing with jac >= t (jac >= t implies
    * overlap >= ceil(t·max(na, nb))).
    *
    * Scale shape: the global order is df ASCENDING (rarest first) so
    * prefix tokens are the rarest — candidate volume is bounded by
    * rare-token document frequency, not corpus²; the 10%-prefix
    * self-join at t = 0.9 joins ~n/10 tokens per doc instead of n.
    * The pair-size filter 10·min >= 9·max prunes inside the join
    * condition, verification is an exact array_intersect on the
    * candidate pairs only, and the threshold test is the integer
    * cross-multiplication 19·inter >= 9·(na+nb) — no float decides
    * membership. The sorted-set table persists once and feeds the
    * prefix explode AND both verify sides. Shingles ride the 60-bit
    * md5-prefix hash (the MinHash discipline: 8-byte shuffle keys,
    * collision 2^-60 merges two shingles and moves inter by at most
    * 1 — identical on both engines, which hash the same way). */
  def qSetsimJoin(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.functions.HexPrefix64.hexPrefix64
    val ex = docsDf(s, dir)
      .where(length($"text") >= 8)
      .select($"doc_id", explode(array_distinct(
        transform(graft.functions.CharNgrams.charNgrams($"text", 8, 8),
          g => hexPrefix64(md5(g))))).as("h"))
    val dfCounts = ex.groupBy($"h").agg(count(lit(1)).as("df"))
    val ordered = registerCache(ex.join(dfCounts, "h")
      .groupBy($"doc_id")
      .agg(transform(array_sort(collect_list(struct($"df", $"h"))),
        x => x.getField("h")).as("toks"))
      .withColumn("n", size($"toks"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val pref = ordered.select($"doc_id", $"n",
      posexplode(slice($"toks", lit(1), expr("n - (9*n + 9) div 10 + 1"))))
      .toDF("doc_id", "n", "p", "h")
    // PPJoin positional filter (Xiao et al. 2008): per pair keep the
    // FIRST shared prefix token (min pa — and because prefixes hold
    // each set's smallest-order tokens, the min-pa prefix match IS the
    // globally first shared token), whose positions bound the overlap:
    // every other shared token sits strictly after it in both sets, so
    // inter <= min(na - pa, nb - pb). Candidates failing
    // 19*bound >= 9*(na+nb) can't reach jac 0.9 and never enter the
    // verify joins — on this corpus the bound kills 83% of the
    // prefix-join survivors (168k -> 28k candidates for 255 real
    // pairs; measured full-query 9.2s -> 6.0s at sf0.1), keeping the
    // expensive array_intersect off most false candidates.
    val cand = pref.as("a").join(pref.as("b"),
        col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id") &&
        col("a.n") * 10 >= col("b.n") * 9 && col("b.n") * 10 >= col("a.n") * 9)
      .groupBy(col("a.doc_id").as("doc_i"), col("b.doc_id").as("doc_j"))
      .agg(min(struct(col("a.p").as("pa"), col("b.p").as("pb"),
        col("a.n").as("na"), col("b.n").as("nb"))).as("m"))
      .where(lit(19) * least($"m.na" - $"m.pa", $"m.nb" - $"m.pb") >=
        lit(9) * ($"m.na" + $"m.nb"))
      .select($"doc_i", $"doc_j")
    cand
      .join(ordered.select($"doc_id".as("doc_i"), $"toks".as("ta"),
        $"n".cast("long").as("na")), "doc_i")
      .join(ordered.select($"doc_id".as("doc_j"), $"toks".as("tb"),
        $"n".cast("long").as("nb")), "doc_j")
      .withColumn("inter", size(array_intersect($"ta", $"tb")).cast("long"))
      .where(lit(19L) * $"inter" >= lit(9L) * ($"na" + $"nb"))
      .select($"doc_i", $"doc_j", $"inter",
        ($"na" + $"nb" - $"inter").as("uni"),
        round($"inter".cast("double") / ($"na" + $"nb" - $"inter"), 6).as("jac"))
      .orderBy($"doc_i", $"doc_j")
  }

  /** Weighted sampling WITHOUT replacement (Efraimidis & Spirakis
    * 2006, algorithm A-ES): each row gets key = -ln(u) / w for a
    * uniform u and weight w (here n_chars — longer documents more
    * likely); the k smallest keys ARE a weighted sample without
    * replacement. Deterministic: u is the battery's md5 60-bit hash
    * of doc_id, so the sample is reproducible across runs, partitions
    * and engines.
    *
    * Scale shape: the key is a pure per-row projection over the scan
    * (doc_id + n_chars only — pruned ReadSchema) and the selection is
    * a TakeOrderedAndProject: each task keeps a k-slot heap, the
    * driver merges 32 heaps — no global sort, no shuffle of the
    * corpus, O(k) memory anywhere. This is the one-pass distributed
    * weighted-reservoir shape (ES's own motivation). Keys round to
    * 9 decimals before ordering (values are ~1e-5..1; 1e-9 absolute
    * absorbs libm-vs-JVM ln ulps) with doc_id tie-break, so both
    * engines select the identical sample. */
  def qSampleWeighted(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.functions.HexPrefix64.hexPrefix64
    docsDfRaw(s, dir)
      .select($"doc_id", $"n_chars",
        round(-log(hexPrefix64(md5($"doc_id".cast("string"))) /
          lit(math.pow(2, 60))) / $"n_chars", 9).as("es_key"))
      .orderBy($"es_key", $"doc_id").limit(100)
  }
}
