package graft.streaming

import graft.pipeline.Doc
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter

/** One registered doc in a near-dup bucket's state. Top-level (not
  * nested in the object): the state encoder's generated code resolves
  * top-level case classes cleanly. */
final case class BucketResident(id: String, mins: Array[Long])
final case class BucketState(residents: Seq[BucketResident])

/** Structured Streaming surface. The reference is a batch CLI (SURVEY.md
  * §2 "Streaming: none"), but the engine exposes the correction as a
  * streaming transform for continuous ingestion at scale: the correction
  * is a stateless per-row map, so the same broadcast-model mapPartitions
  * runs under `readStream` unchanged; checkpointing and exactly-once
  * come from the sink/commit-log, complementing TableIO's batch resume. */
object StreamingCorrection {

  /** Streaming source of Doc rows from a parquet directory. */
  def readDocStream(spark: SparkSession, path: String): Dataset[Doc] = {
    import spark.implicits._
    val schema = org.apache.spark.sql.Encoders.product[Doc].schema
    spark.readStream.schema(schema).parquet(path).as[Doc]
  }

  /** CONTINUOUS crawl ingestion: `.warc.gz` shard files appearing under
    * `path` are discovered by the binaryFile source's commit log, each
    * container-parsed per blob and its response pages HTML-extracted to
    * Doc rows — the streaming face of
    * [[graft.sources.WarcIO.docsFromWarc]]. Exactly-once shard
    * processing comes from the file-source checkpoint; the transform is
    * stateless, so it composes with CorrectionJob.correctDocs /
    * dedupStream downstream. At 100 TB/day this is the front door: the crawler
    * drops shards into the directory and the pipeline keeps up
    * incrementally instead of re-scanning the corpus. */
  def warcDocStream(spark: SparkSession, path: String,
      stripBoilerplate: Boolean = true): Dataset[Doc] = {
    import spark.implicits._
    // binaryFile's schema is fixed by the source; streaming requires it
    // stated explicitly
    val binaryFileSchema = org.apache.spark.sql.types.StructType.fromDDL(
      "path STRING, modificationTime TIMESTAMP, length LONG, content BINARY")
    spark.readStream.format("binaryFile")
      .schema(binaryFileSchema)
      .option("pathGlobFilter", "*.warc*")
      .load(path)
      .select("content").as[Array[Byte]]
      .flatMap { blob =>
        graft.sources.WarcIO.records(blob).iterator
          .filter(_.warcType == "response")
          .map { r =>
            Doc(r.targetUri,
              graft.pipeline.HtmlExtract.extract(r.htmlText, stripBoilerplate))
          }
      }
  }

  def toMemorySink(ds: Dataset[Doc], queryName: String): DataStreamWriter[Doc] =
    ds.writeStream.outputMode("append").format("memory").queryName(queryName)

  /** Streaming EXACT DEDUP with custom state
    * (KeyValueGroupedDataset.flatMapGroupsWithState): keyed by content
    * hash, the state remembers the first-seen doc id and every later
    * arrival of the same content is dropped — the streaming face of
    * qDedupExact. State is one (hash -> doc_id) entry per distinct
    * content; ProcessingTimeTimeout lets long-idle keys expire so state
    * is bounded by the active window of the stream, not its full
    * history (at 100 TB/day the timeout IS the retention policy). */
  private val md5Local: ThreadLocal[java.security.MessageDigest] =
    ThreadLocal.withInitial(() => java.security.MessageDigest.getInstance("MD5"))

  def dedupStream(docs: Dataset[Doc], stateTimeoutMs: Long = 0L): Dataset[Doc] = {
    import docs.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    // NoTimeout unless retention is requested: once ProcessingTimeTimeout
    // is registered the engine keeps scheduling timeout-check
    // micro-batches even with no incoming data — an always-on churn
    // loop for a query that set no timeouts
    val timeoutConf =
      if (stateTimeoutMs > 0) GroupStateTimeout.ProcessingTimeTimeout
      else GroupStateTimeout.NoTimeout
    docs
      .groupByKey { d =>
        // one digest per executor thread (ThreadLocal, reset per row) —
        // no per-row MessageDigest.getInstance provider lookup in the
        // hot keying function
        val md = md5Local.get()
        md.reset()
        java.util.Base64.getEncoder.encodeToString(md.digest(
          d.spans.map(s => s.kind + "\u0000" + s.text + "\u0000").mkString
            .getBytes(java.nio.charset.StandardCharsets.UTF_8)))
      }
      .flatMapGroupsWithState[String, Doc](OutputMode.Append, timeoutConf) {
        (_: String, rows: Iterator[Doc], state: GroupState[String]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            val out =
              if (state.exists) Iterator.empty // seen before: drop all
              else {
                // keep exactly one doc for new content: min doc_id in
                // this batch (deterministic across micro-batch splits
                // of the same batch is not required — first-wins is the
                // streaming-dedup contract)
                val keeper = rows.minBy(d => (d.doc_id.length, d.doc_id))
                state.update(keeper.doc_id)
                Iterator.single(keeper)
              }
            if (stateTimeoutMs > 0) state.setTimeoutDuration(stateTimeoutMs)
            out
          }
      }
  }

  /** A verified near-dup candidate pair emitted by nearDupPairStream:
    * ids ordered (ida < idb), signature agreement out of 64, and the
    * band whose bucket produced the match. The same pair can surface
    * from SEVERAL bands — collapse downstream (batch `distinct` or a
    * pair-keyed dedupStream) if multiplicity matters. */
  final case class NearDupPair(ida: String, idb: String,
      agreement: Int, band: Int)

  /** Streaming NEAR-DUP detection — the streaming face of the batch
    * MinHash family (qDedupMinhash/qDedupGroups): each doc's text spans
    * shingle into code-point 8-grams; 64 affine row-mins fold into 16
    * band values (MinHashDefs — value-identical to the SQL path,
    * spec-pinned); the stream keys by (band, sig) and each bucket's
    * state holds up to `bucketCap` (doc_id, mins) residents. A new
    * arrival is verified against its bucket's residents by signature
    * agreement (>= 32/64 ~ estimated Jaccard 0.5) and every verified
    * pair is EMITTED — keep/drop policy is the consumer's (pairs stream
    * into the batch group-resolution, a blocklist sink, etc.).
    *
    * Scale shape: state per bucket is bounded (<= bucketCap residents x
    * 64 longs); a bucket at capacity stops registering AND matching —
    * the streaming analogue of the batch df-cut, with the documented
    * divergence that the stream's cut is prefix-monotone (the first
    * `bucketCap` residents were matched before the bucket went hot;
    * batch drops the whole bucket retroactively). Docs shorter than one
    * shingle pass silently (the batch length >= 8 filter).
    * `stateTimeoutMs` is the retention policy, as in dedupStream. */
  def nearDupPairStream(docs: Dataset[Doc], bucketCap: Int = 20,
      stateTimeoutMs: Long = 0L): Dataset[NearDupPair] = {
    import docs.sparkSession.implicits._
    import graft.queries.MinHashDefs
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val timeoutConf =
      if (stateTimeoutMs > 0) GroupStateTimeout.ProcessingTimeTimeout
      else GroupStateTimeout.NoTimeout
    val banded = docs.flatMap { d =>
      val text = d.spans.filter(_.kind == "text").map(_.text).mkString(" ")
      MinHashDefs.minsOf(text) match {
        case Some(mins) =>
          val bands = MinHashDefs.bandsOf(mins)
          (0 until MinHashDefs.Bands).map(b => (b, bands(b), d.doc_id, mins))
        case None => Seq.empty
      }
    }
    banded
      .groupByKey { case (band, sig, _, _) => (band, sig) }
      .flatMapGroupsWithState[BucketState, NearDupPair](
        OutputMode.Append, timeoutConf) {
        (key: (Int, Long), rows: Iterator[(Int, Long, String, Array[Long])],
            state: GroupState[BucketState]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            var residents =
              state.getOption.map(_.residents).getOrElse(Seq.empty)
            val out = scala.collection.mutable.ArrayBuffer.empty[NearDupPair]
            rows.foreach { case (band, _, id, mins) =>
              if (residents.length < bucketCap
                  && !residents.exists(_.id == id)) {
                residents.foreach { r =>
                  val agr = MinHashDefs.agreement(r.mins, mins)
                  if (agr >= MinHashDefs.VerifyAgreement) {
                    val (a, b) = if (r.id < id) (r.id, id) else (id, r.id)
                    out += NearDupPair(a, b, agr, band)
                  }
                }
                residents = residents :+ BucketResident(id, mins)
              } // at capacity: the bucket is hot — neither match nor grow
            }
            state.update(BucketState(residents))
            if (stateTimeoutMs > 0) state.setTimeoutDuration(stateTimeoutMs)
            out.iterator
          }
      }
  }

  /** Watermarked windowed aggregation over the events stream shape
    * (event_id, ts, user_id, event_type, value): counts + sums per
    * 5-minute window, 10-minute watermark for late data. */
  def eventWindowAgg(events: DataFrame): DataFrame =
    events
      // driver testdata stores ts as TIMESTAMP_NTZ; watermarks need LTZ
      .withColumn("ts", col("ts").cast("timestamp"))
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "5 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("total"))
      .select(col("window.start").as("w_start"), col("event_type"),
        col("n"), col("total"))

  /** STREAMING gap-based sessionization — the streaming twin of
    * [[graft.queries.Analytics.qSessionize]], expressed with Spark's
    * NATIVE session_window: the engine owns the merging session state
    * (two overlapping sessions fuse when a bridging event arrives,
    * state evicts at the watermark), which is strictly better than a
    * hand-rolled flatMapGroupsWithState for this shape. Append mode
    * emits a session exactly once, when the watermark passes its
    * gap-extended end. Same cross-engine surface as the batch twin:
    * epoch micros + integer cents. Boundary nit vs the batch lag-rule:
    * session_window closes at diff >= gap, the batch rule at
    * diff > gap — they differ only for a gap-exact microsecond tie,
    * which the equality spec's real-timestamp corpus cannot produce. */
  def sessionAgg(events: DataFrame, gapMinutes: Int = 30,
                 watermark: String = "10 minutes"): DataFrame =
    events
      .withColumn("ts", col("ts").cast("timestamp"))
      .withWatermark("ts", watermark)
      .groupBy(col("user_id"),
        session_window(col("ts"), s"$gapMinutes minutes"))
      .agg(count(lit(1)).as("n_events"),
        min(unix_micros(col("ts"))).as("start_us"),
        max(unix_micros(col("ts"))).as("end_us"),
        sum(expr("CAST(round(value * 100) AS BIGINT)")).as("total_c"))
      .select(col("user_id"), col("n_events"), col("start_us"),
        col("end_us"), col("total_c"))
}
