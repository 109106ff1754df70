package graft.pipeline

import graft.correct.{AltCache, CompiledModel, Corrector, SharedWindowCache}
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Dataset, Encoder, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.util.LongAccumulator

/** Pipeline metrics via accumulators (the north rule's per-partition
  * metrics; exported into snapshot manifests by TableIO). */
final case class Metrics(
    docs: LongAccumulator,
    textSpans: LongAccumulator,
    mediaSpans: LongAccumulator,
    spansChanged: LongAccumulator,
    chars: LongAccumulator)

object Metrics {
  def apply(spark: SparkSession): Metrics = {
    val sc = spark.sparkContext
    Metrics(sc.longAccumulator("graft.docs"),
      sc.longAccumulator("graft.textSpans"),
      sc.longAccumulator("graft.mediaSpans"),
      sc.longAccumulator("graft.spansChanged"),
      sc.longAccumulator("graft.chars"))
  }
}

/** The flagship correction job (SURVEY.md §3.1): driver compiles +
  * broadcasts the model once; executors run the whole per-line FST
  * cascade inside `mapPartitions` — the Spark-native analogue of the
  * reference's COW fork pool (scripts/process.py:14,55-70). The inference
  * path has NO shuffle except the optional salting exchange.
  *
  * Scale design (100 TB / 1000 executors):
  *  - model is broadcast once per executor (torrent broadcast), NOT
  *    serialized per task;
  *  - docs are value-independent rows → embarrassingly parallel map;
  *  - long-document skew is broken by uniform re-hashing on doc_id
  *    (`saltPartitions`, SURVEY.md §7.4 #5).
  */
object CorrectionJob {

  def broadcastModel(spark: SparkSession, model: CompiledModel): Broadcast[CompiledModel] =
    spark.sparkContext.broadcast(model)

  /** How a partition corrects its docs' text spans. Called once per
    * partition with the model and the window memo; the function it
    * returns gives each doc its line corrector, which sees the doc's
    * text spans in order and so may carry state from one span to the
    * next (LM rescoring, [[graft.correct.LmDecoder.decoder]]). */
  type Decoder = (CompiledModel, AltCache) => Doc => String => String

  /** The default decoder: every line on its own, lattice Viterbi. */
  val viterbi: Decoder = { (m, cache) =>
    val line: String => String = Corrector.correctLine(_, m, cache)
    _ => line
  }

  /** The one per-partition correction setup: each partition reads the
    * broadcast model once and shares the executor-wide window memo
    * ([[SharedWindowCache]]); `f` turns both into the per-row function. */
  def mapWithModel[A, B: Encoder](rows: Dataset[A], bc: Broadcast[CompiledModel])(
      f: (CompiledModel, AltCache) => A => B): Dataset[B] =
    rows.mapPartitions { it =>
      val m = bc.value
      val row = f(m, SharedWindowCache.forModel(m))
      it.map(row)
    }

  /** Optional salted repartition (uniform doc spread), then a pure map
    * over docs: `decoder` corrects each doc's text spans. */
  def correctDocs(docs: Dataset[Doc], bc: Broadcast[CompiledModel],
      metrics: Option[Metrics] = None,
      saltPartitions: Option[Int] = None,
      decoder: Decoder = viterbi): Dataset[Doc] = {
    val spark = docs.sparkSession
    import spark.implicits._
    val input = saltPartitions match {
      case Some(p) => docs.repartition(p, xxhash64($"doc_id"))
      case None    => docs
    }
    mapWithModel(input, bc) { (m, cache) =>
      val forDoc = decoder(m, cache)
      d => correctSpans(d, forDoc(d), metrics)
    }
  }

  /** The span loop: text spans through `fix` in order, media spans
    * unchanged, everything counted into `metrics`. */
  private[graft] def correctSpans(d: Doc, fix: String => String,
      metrics: Option[Metrics]): Doc = {
    metrics.foreach(_.docs.add(1))
    Doc(d.doc_id, d.spans.map { s =>
      if (s.kind == "text") {
        metrics.foreach { mx =>
          mx.textSpans.add(1); mx.chars.add(s.text.length.toLong)
        }
        val corrected = fix(s.text)
        if (corrected != s.text) metrics.foreach(_.spansChanged.add(1))
        Span(s.kind, corrected, s.media_ref, s.offset)
      } else {
        metrics.foreach(_.mediaSpans.add(1))
        s
      }
    })
  }
}
