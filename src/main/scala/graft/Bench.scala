package graft

import graft.correct.{CompiledModel, Corrector}
import graft.pipeline.{CorrectionJob, DocGen}
import graft.queries.Queries
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{bit_xor, col, xxhash64}

/** The bench instrument. Each mode prints ONE JSON line.
  *
  *  - no arguments: the headline battery on SPARK_GRAFT_SF_DIR plus the
  *    flagship correction throughput (corrected text spans/sec, the
  *    BASELINE.json metric); the line also goes to SPARK_GRAFT_BENCH_OUT
  *    (default bench/bench_last.json).
  *  - `executor <seed> <cpus> <nDocs>`: one emulated executor of
  *    bench/multi_exec_bench.sh, the flagship on the window-cache miss
  *    path; prints {"spans","sec","spans_per_sec"}.
  *  - `fanab [query ...]`: an interleaved A/B of the scan fan-out
  *    (`spark.graft.fanout.enabled` on vs off), default the headline.
  *
  * Sessions run local[SPARK_GRAFT_CPUS], else one thread per core of the
  * machine. Every query sample writes the whole result to the `noop`
  * sink, so all its columns are computed (a `count()` lets the optimizer
  * drop every projection the row count does not need), and ends with
  * [[Queries.releaseCaches]], so the next sample starts from the same
  * cache state. */
object Bench {

  /** Headline query subset (each also correctness-gated via Verify). */
  val headline: Seq[String] = Seq(
    "q_correct_docs", "q_token_counts", "q_lexicon_counts", "q_lm_ngrams",
    "q_lm_perplexity", "q_len_percentiles", "q_substring_dup",
    "q_confusion_counts", "q_ngram_topk", "q_cer_lev",
    "q_dedup_exact", "q_paragraph_dedup", "q_dedup_bloom",
    "q_dedup_minhash", "q_ngram_jaccard", "q_boilerplate",
    "q_main_content", "q_html_extract", "q_pdf_extract", "q_warc_extract",
    "q_url_dedup", "q_link_graph", "q_pagerank", "q_crawl_frontier",
    "q_robots_filter",
    "q_fix_mojibake", "q_c4_filter",
    "q_ann_cosine", "q_ann_lsh", "q_ann_ivf", "q_dedup_embed", "q_dedup_groups", "q_dedup_simhash",
    "q_simhash", "q_quality", "q_quality_classifier", "q_fingerprint",
    "q_gopher_quality", "q_pii_redact", "q_decontaminate", "q_sample_stratified",
    "q_sample_upsample", "q_sample_mixture",
    "q_chunk_fixed", "q_tfidf_top", "q_bpe_pairs", "q_sessionize",
    "q_inverted_index",
    "q_semdedup", "q_bpe_encode", "q_dsir", "q_bm25", "q_winnow",
    "q_pmi_bigrams", "q_setsim_join", "q_anchor_text", "q_sample_weighted",
    "q_ppl_buckets", "q_hits", "q_cocitation", "q_jl_project", "q_stupid_backoff",
    "q_tpch_pricing", "q_tpch_top_customers", "q_tpch_promo",
    "q_parts_cold", "q_suppliers_hot", "q_events_window", "q_events_asof", "q_scd_current")

  private def time[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Flagship throughput: synthesized interleaved Doc table sized so the
    * correction map dominates; returns (textSpans, seconds). */
  private def correctionThroughput(spark: SparkSession, model: CompiledModel,
      nDocs: Long, cpus: Int, seed: Long = 42L, diverse: Boolean = false,
      decoder: CorrectionJob.Decoder = CorrectionJob.viterbi): (Long, Double) = {
    // 4 task waves per core: straggler/skew smoothing (a single wave of
    // exactly-`cpus` tasks is gated by its slowest task)
    val partitions = cpus * 4
    val docs =
      if (diverse) DocGen.docsDiverse(spark, nDocs, seed, partitions)
      else DocGen.docs(spark, nDocs, seed = seed, partitions = partitions)
    val bc = CorrectionJob.broadcastModel(spark, model)
    val metrics = graft.pipeline.Metrics(spark)
    val (_, sec) = time {
      CorrectionJob.correctDocs(docs, bc, Some(metrics),
        saltPartitions = Some(partitions), decoder = decoder)
        .foreachPartition((it: Iterator[graft.pipeline.Doc]) =>
          it.foreach(_ => ())) // drain: forces the lazy correction map
    }
    (metrics.textSpans.value, sec)
  }

  /** Viterbi without the window memo: every window takes the miss path
    * (the regime where window diversity dwarfs any cache). */
  private val uncached: CorrectionJob.Decoder = { m =>
    val line: String => String = Corrector.correctLine(_, m, null)
    _ => line
  }

  def fixtureModel(): CompiledModel = {
    val pairs = DocGen.gtLines.zipWithIndex.map { case (gt, i) =>
      (DocGen.perturb(gt, i.toLong), gt)
    }
    CompiledModel.train(pairs)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)
    // co-tenant noise protocol (BENCH.md): identical runs on a
    // time-shared box swing in bursts, so every number is a min over
    // repetitions (3 per query, 4 flagship reps and fan-out pairs); an
    // explicit SPARK_GRAFT_REPS is honored verbatim for all of them
    val repsEnv = sys.env.get("SPARK_GRAFT_REPS").map(r => math.max(r.toInt, 1))
    args.toList match {
      case Nil => battery(session(cpus), sfDir, cpus, repsEnv)
      case "executor" :: seed :: threads :: nDocs :: Nil =>
        executor(seed.toLong, threads.toInt, nDocs.toLong)
      case "fanab" :: names =>
        fanab(session(cpus), sfDir, cpus, if (names.isEmpty) headline else names,
          repsEnv.getOrElse(4))
      case _ =>
        System.err.println(
          "usage: graft.Bench [executor <seed> <cpus> <nDocs> | fanab [query ...]]")
        sys.exit(2)
    }
  }

  private def session(cpus: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Seconds to compute query `name` on `sfDir` in full. */
  private def sample(spark: SparkSession, name: String, sfDir: String): Double = {
    val fn = SparkEntry.queries(name)
    val (_, sec) = time(fn(spark, sfDir).write.format("noop").mode("overwrite").save())
    Queries.releaseCaches()
    sec
  }

  /** A fixed CPU-bound job (constant work, no model, no memo): its time
    * next to a sample shows a co-tenant burst in the same record.
    * bit_xor, not sum: summing 64M random xxhash64 longs overflows under
    * ANSI mode (Spark 4 default). */
  private def calibrate(spark: SparkSession, cpus: Int): Double = time {
    spark.range(0L, 32L * 2000000L, 1L, cpus)
      .select(bit_xor(xxhash64(col("id")))).collect()
  }._2

  /** One JSON object from already rendered values. */
  private def obj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
  private def num(x: Double): String = f"$x%.3f"
  private def arr(xs: Seq[Double]): String = xs.map(num).mkString("[", ",", "]")

  private def battery(spark: SparkSession, sfDir: String, cpus: Int,
      repsEnv: Option[Int]): Unit = {
    val reps = repsEnv.getOrElse(3)
    val results = headline.filter(SparkEntry.queries.contains).map { name =>
      // q_correct_docs runs ONCE: its dominant cost is the one-time
      // distributed model training, which later reps would skip via
      // the per-dir model cache — a min over reps would hide it
      val qreps = if (name == "q_correct_docs") 1 else reps
      name -> (1 to qreps).map(_ => sample(spark, name, sfDir)).min
    }

    // flagship spans/sec (scaled to keep the bench under ~1 min)
    val model = fixtureModel()
    val nDocs = if (sfDir.endsWith("0.1")) 3000L else 600L
    correctionThroughput(spark, model, 200L, cpus) // warmup
    // interleaved paired reps (cal/flagship/cal/flagship/...): a burst
    // shows up as a calibration swing in the same record; the reported
    // number is best-of-reps, the full series and spreads are in the JSON
    val series = (1 to repsEnv.getOrElse(4)).map { _ =>
      val cal = calibrate(spark, cpus)
      val (sp, sec) = correctionThroughput(spark, model, nDocs, cpus)
      (cal, sp, sec)
    }
    val (spans, corrSec) = series.map(t => (t._2, t._3)).minBy(_._2)
    val calSeries = series.map(_._1)
    val repSeries = series.map(_._3)

    val total = results.map(_._2).sum + corrSec
    val json = obj(Seq(
      "metric" -> "\"total\"", "value" -> num(total), "unit" -> "\"sec\"",
      "queries" -> obj((results :+ ("flagship_correction" -> corrSec))
        .map { case (k, v) => k -> num(v) }),
      "sf" -> ("\"" + sfDir + "\""), "cpus" -> cpus.toString,
      "corrected_spans" -> spans.toString,
      "spans_per_sec" -> f"${spans / corrSec}%.1f",
      "flagship_reps" -> arr(repSeries),
      "flagship_spread" -> f"${repSeries.max / repSeries.min}%.2f",
      "cal_reps" -> arr(calSeries),
      "cal_spread" -> f"${calSeries.max / calSeries.min}%.2f"))
    println(json)
    // stdout passes through sbt's logger, which prefixes "[info] ", so
    // the same line also goes verbatim to a file
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT",
      "bench/bench_last.json")
    try {
      val p = java.nio.file.Paths.get(outPath)
      if (p.getParent != null) java.nio.file.Files.createDirectories(p.getParent)
      java.nio.file.Files.write(p,
        (json + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    } catch { case e: java.io.IOException =>
      System.err.println(s"bench: could not write $outPath: $e")
    }
    spark.stop()
  }

  /** One executor of the multi-process scaling protocol: a real executor
    * is its own JVM (own heap, own GC, dedicated cores), so
    * bench/multi_exec_bench.sh runs k copies of this mode pinned to
    * disjoint core sets. */
  private def executor(seed: Long, cpus: Int, nDocs: Long): Unit = {
    val spark = session(cpus)
    val model = fixtureModel()
    try {
      // warmup: JIT + broadcast machinery
      correctionThroughput(spark, model, math.max(nDocs / 10, 100), cpus,
        seed = 99L, diverse = true, decoder = uncached)
      val (spans, sec) = correctionThroughput(spark, model, nDocs, cpus,
        seed, diverse = true, decoder = uncached)
      println(obj(Seq("spans" -> spans.toString, "sec" -> num(sec),
        "spans_per_sec" -> f"${spans / sec}%.1f")))
    } finally spark.stop()
  }

  /** Fan-out on vs off per query, `pairs` times, the arm that runs first
    * alternating between pairs; one warm-up sample per query first. */
  private def fanab(spark: SparkSession, sfDir: String, cpus: Int,
      names: Seq[String], pairs: Int): Unit = {
    val key = "spark.graft.fanout.enabled"
    val results = names.map { name =>
      sample(spark, name, sfDir) // warm codegen for this query shape
      val series = (1 to pairs).flatMap { rep =>
        (if (rep % 2 == 1) Seq(true, false) else Seq(false, true)).map { fan =>
          spark.conf.set(key, fan.toString)
          fan -> sample(spark, name, sfDir)
        }
      }
      spark.conf.unset(key)
      val on = series.collect { case (true, t) => t }
      val off = series.collect { case (false, t) => t }
      name -> obj(Seq("on_min" -> num(on.min), "off_min" -> num(off.min),
        "on" -> arr(on), "off" -> arr(off)))
    }
    println(obj(Seq("metric" -> "\"fanout_ab\"", "queries" -> obj(results),
      "sf" -> ("\"" + sfDir + "\""), "cpus" -> cpus.toString)))
    spark.stop()
  }
}
