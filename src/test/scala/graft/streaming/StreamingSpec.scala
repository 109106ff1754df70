package graft.streaming

import graft.Fixtures
import graft.correct.{CompiledModel, Corrector}
import graft.pipeline.{CorrectionJob, DocGen}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

class StreamingSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]").config("spark.ui.enabled", "false")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC").getOrCreate()

  test("streaming correction matches the batch job on the same input") {
    import spark.implicits._
    val dir = Files.createTempDirectory("stream-docs").toString
    val docs = DocGen.docs(spark, 30, seed = 13L, partitions = 2)
    docs.write.mode("overwrite").parquet(dir)

    val model = CompiledModel.train(Fixtures.trainingPairs, Fixtures.wordlist)
    val bc = CorrectionJob.broadcastModel(spark, model)

    val stream = StreamingCorrection.readDocStream(spark, dir)
    val q = StreamingCorrection
      .toMemorySink(CorrectionJob.correctDocs(stream, bc), "corrected")
      .start()
    try {
      q.processAllAvailable()
      val got = spark.table("corrected").as[graft.pipeline.Doc]
        .collect().sortBy(_.doc_id).toSeq
      val batch = CorrectionJob.correctDocs(docs, bc)
        .collect().sortBy(_.doc_id).toSeq
      assert(got == batch)
      assert(got.nonEmpty)
    } finally q.stop()
  }

  test("continuous crawl ingestion: new .warc.gz shards are picked up incrementally") {
    import spark.implicits._
    val dir = Files.createTempDirectory("stream-warc")
    def writeShard(name: String, ids: Seq[Int]): Unit = {
      val out = new java.io.ByteArrayOutputStream(1 << 14)
      ids.foreach { id =>
        val html = s"<html><body><nav>menu</nav><article><p>Page $id text.</p>" +
          s"""<img src="img-$id.png"></article></body></html>"""
        graft.sources.WarcIO.writeResponse(out,
          uri = s"https://example.org/p/$id",
          html = html.getBytes(java.nio.charset.StandardCharsets.UTF_8),
          date = "2026-01-01T00:00:00Z", gzip = true)
      }
      java.nio.file.Files.write(dir.resolve(name), out.toByteArray)
    }
    writeShard("shard-00000.warc.gz", Seq(1, 2, 3))
    val q = StreamingCorrection
      .toMemorySink(StreamingCorrection.warcDocStream(spark, dir.toString), "warc_docs")
      .start()
    try {
      q.processAllAvailable()
      def got() = spark.table("warc_docs").as[graft.pipeline.Doc]
        .collect().sortBy(_.doc_id).toSeq
      assert(got().map(_.doc_id) ==
        Seq(1, 2, 3).map(i => s"https://example.org/p/$i"))
      // a NEW shard arrives: only its pages are appended (no reprocessing)
      writeShard("shard-00001.warc.gz", Seq(4, 5))
      q.processAllAvailable()
      val docs = got()
      assert(docs.map(_.doc_id) ==
        Seq(1, 2, 3, 4, 5).map(i => s"https://example.org/p/$i"))
      // extraction semantics match the BATCH source path on the same dir
      val batch = graft.sources.WarcIO.docsFromWarc(spark, dir.toString)
        .collect().sortBy(_.doc_id).toSeq
      assert(docs == batch)
      // spans: nav stripped, text + media preserved in order
      assert(docs.head.spans.map(s => (s.kind, s.text, s.media_ref)) ==
        Seq(("text", "Page 1 text.", ""), ("image", "", "img-1.png")))
    } finally q.stop()
  }

  test("stateful streaming dedup keeps first-seen content only") {
    import spark.implicits._
    val dir = Files.createTempDirectory("stream-dedup").toString
    val docs = DocGen.docs(spark, 20, seed = 5L, partitions = 2)
    // every doc duplicated under a longer id: dedup must drop all
    // copies and keep the shortest-id original (first-wins order)
    val dup = docs.map(d => d.copy(doc_id = "dup-" + d.doc_id))
    docs.union(dup).write.mode("overwrite").parquet(dir)
    val stream = StreamingCorrection.readDocStream(spark, dir)
    val q = StreamingCorrection.dedupStream(stream)
      .writeStream.outputMode("append").format("memory")
      .queryName("deduped").start()
    try {
      q.processAllAvailable()
      val kept = spark.table("deduped").as[graft.pipeline.Doc].collect()
      assert(kept.length == 20, s"got ${kept.length}")
      assert(!kept.exists(_.doc_id.startsWith("dup-")),
        "must keep the first-seen originals")
      assert(kept.map(_.doc_id).distinct.length == 20)
    } finally q.stop()
  }

  test("streaming near-dup pairs: cross-batch match verified, far doc silent") {
    import spark.implicits._
    import graft.pipeline.{Doc, Span}
    import graft.queries.MinHashDefs
    val dir = Files.createTempDirectory("stream-neardup").toString
    val base = "the grand duchy archive preserves thousands of handwritten letters describing trade routes and township disputes in careful regular script"
    val near = base.replace("township", "village")
    val far = "entirely unrelated content about catalyst optimizer rules and shuffle hash aggregation strategies sharing no single shingle at all"
    def doc(id: String, t: String) = Doc(id, Seq(Span("text", t, "", 0)))
    Seq(doc("a", base), doc("x", far)).toDS()
      .write.mode("append").parquet(dir)
    val stream = StreamingCorrection.readDocStream(spark, dir)
    val q = StreamingCorrection.nearDupPairStream(stream)
      .writeStream.outputMode("append").format("memory")
      .queryName("neardup").start()
    try {
      q.processAllAvailable()
      assert(spark.table("neardup").count() == 0, "no pairs within batch 1")
      // the near-dup arrives a MICRO-BATCH later: the match must come
      // from bucket STATE, not intra-batch co-grouping
      Seq(doc("b", near)).toDS().write.mode("append").parquet(dir)
      q.processAllAvailable()
      val pairs = spark.table("neardup")
        .as[StreamingCorrection.NearDupPair].collect()
      assert(pairs.nonEmpty, "near pair must be emitted")
      assert(pairs.forall(p => p.ida == "a" && p.idb == "b"), pairs.mkString(","))
      val expected = MinHashDefs.agreement(
        MinHashDefs.minsOf(base).get, MinHashDefs.minsOf(near).get)
      assert(expected >= MinHashDefs.VerifyAgreement)
      assert(pairs.forall(_.agreement == expected),
        "streamed agreement must equal the local/SQL signature agreement")
      assert(!pairs.exists(p => p.ida == "x" || p.idb == "x"), "far doc must stay silent")
      assert(pairs.map(_.band).distinct.length == pairs.length,
        "at most one emission per band per pair")
    } finally q.stop()
  }

  test("streaming near-dup bucket cap bounds state: hot bucket stops matching and growing") {
    import spark.implicits._
    import graft.pipeline.{Doc, Span}
    val dir = Files.createTempDirectory("stream-neardup-cap").toString
    val text = "identical boilerplate page repeated across the corpus exactly the same every time for every single document"
    (0 until 5).map(i => Doc(s"d$i", Seq(Span("text", text, "", 0)))).toDS()
      .write.mode("append").parquet(dir)
    val stream = StreamingCorrection.readDocStream(spark, dir)
    val q = StreamingCorrection.nearDupPairStream(stream, bucketCap = 3)
      .writeStream.outputMode("append").format("memory")
      .queryName("neardup_cap").start()
    try {
      q.processAllAvailable()
      val pairs = spark.table("neardup_cap")
        .as[StreamingCorrection.NearDupPair].collect()
      // identical docs collide in all 16 bands; only the first 3
      // residents per bucket register -> 3 pairs per band x 16 bands
      assert(pairs.length == 3 * 16, s"got ${pairs.length}")
      val involved = pairs.flatMap(p => Seq(p.ida, p.idb)).distinct
      assert(involved.length == 3, s"cap must bound residents: $involved")
    } finally q.stop()
  }

  test("checkpointed restart is exactly-once: no dupes, no losses") {
    import spark.implicits._
    val in = Files.createTempDirectory("stream-restart-in").toString
    val out = Files.createTempDirectory("stream-restart-out").toString
    val ckpt = Files.createTempDirectory("stream-restart-ckpt").toString
    val model = CompiledModel.train(Fixtures.trainingPairs, Fixtures.wordlist)
    val bc = CorrectionJob.broadcastModel(spark, model)
    def start() = CorrectionJob
      .correctDocs(StreamingCorrection.readDocStream(spark, in), bc)
      .writeStream.outputMode("append").format("parquet")
      .option("path", out).option("checkpointLocation", ckpt).start()
    // wave 1: 15 docs, process, then STOP (the kill)
    DocGen.docs(spark, 15, seed = 3L, partitions = 2)
      .write.mode("append").parquet(in)
    val q1 = start()
    try q1.processAllAvailable() finally q1.stop()
    // wave 2 lands while the query is down
    DocGen.docs(spark, 10, seed = 4L, partitions = 2)
      .map(d => d.copy(doc_id = "w2-" + d.doc_id))
      .write.mode("append").parquet(in)
    // restart from the same checkpoint: the commit log must resume at
    // wave 2 — wave 1 neither reprocessed (dupes) nor skipped (losses)
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()
    val got = spark.read.parquet(out).as[graft.pipeline.Doc].collect()
    assert(got.length == 25, s"got ${got.length}")
    assert(got.map(_.doc_id).distinct.length == 25, "duplicate doc_ids")
    assert(got.count(_.doc_id.startsWith("w2-")) == 10)
    // a third restart with no new data must be a no-op
    val q3 = start()
    try q3.processAllAvailable() finally q3.stop()
    assert(spark.read.parquet(out).count() == 25, "idle restart added rows")
  }

  test("near-dup stream restart recovers bucket state: cross-restart match, no dupes") {
    import spark.implicits._
    import graft.pipeline.{Doc, Span}
    val in = Files.createTempDirectory("stream-nd-restart-in").toString
    val out = Files.createTempDirectory("stream-nd-restart-out").toString
    val ckpt = Files.createTempDirectory("stream-nd-restart-ckpt").toString
    val base = "the grand duchy archive preserves thousands of handwritten letters describing trade routes and township disputes in careful regular script"
    val near = base.replace("township", "village")
    def doc(id: String, t: String) = Doc(id, Seq(Span("text", t, "", 0)))
    def start() = StreamingCorrection
      .nearDupPairStream(StreamingCorrection.readDocStream(spark, in))
      .writeStream.outputMode("append").format("parquet")
      .option("path", out).option("checkpointLocation", ckpt).start()
    // wave 1 registers the base doc, then the query STOPS (the kill)
    Seq(doc("a", base)).toDS().write.mode("append").parquet(in)
    val q1 = start()
    try q1.processAllAvailable() finally q1.stop()
    // the near-dup lands while the query is down; the match after
    // restart can only come from RECOVERED bucket state
    Seq(doc("b", near)).toDS().write.mode("append").parquet(in)
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()
    val pairs = spark.read.parquet(out)
      .as[StreamingCorrection.NearDupPair].collect()
    assert(pairs.nonEmpty, "state must survive the restart")
    assert(pairs.forall(p => p.ida == "a" && p.idb == "b"))
    assert(pairs.map(_.band).distinct.length == pairs.length, "exactly-once per band")
    // idle restart: no reprocessing, no new pairs
    val q3 = start()
    try q3.processAllAvailable() finally q3.stop()
    assert(spark.read.parquet(out).count() == pairs.length.toLong,
      "idle restart re-emitted pairs")
  }

  test("watermarked windowed aggregation over the events shape") {
    import spark.implicits._
    val dir = Files.createTempDirectory("stream-events").toString
    spark.read.parquet("/root/testdata/sf0.001/events.parquet")
      .write.mode("overwrite").parquet(dir)
    val schema = spark.read.parquet(dir).schema
    val stream = spark.readStream.schema(schema).parquet(dir)
    val agg = StreamingCorrection.eventWindowAgg(stream)
    val q = agg.writeStream.outputMode("append")
      .format("memory").queryName("evagg").start()
    try {
      q.processAllAvailable()
      // append mode emits only watermark-closed windows; with a finite
      // file source the final windows stay open, so check the plan ran
      // and compare the closed prefix against the batch computation
      val streamed = spark.table("evagg")
        .select($"w_start", $"event_type", $"n", $"total").collect()
        .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getDouble(3)))
        .toSet
      val batch = StreamingCorrection.eventWindowAgg(
        spark.read.parquet(dir)).collect()
        .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getDouble(3)))
        .toSet
      assert(streamed.subsetOf(batch))
      assert(batch.nonEmpty)
    } finally q.stop()
  }

  test("streaming sessionization equals the batch qSessionize sessions once watermark closes them") {
    import spark.implicits._
    val dir = Files.createTempDirectory("stream-sess").toString
    val events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    events.write.mode("overwrite").parquet(dir)
    val schema = events.schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(dir)
    val agg = StreamingCorrection.sessionAgg(stream)
    val q = agg.writeStream.outputMode("append")
      .format("memory").queryName("sessagg").start()
    try {
      q.processAllAvailable()
      // a far-future sentinel event advances the watermark past every
      // real session's gap-extended end, forcing them all to emit
      val maxTs = events.agg(org.apache.spark.sql.functions.max($"ts"))
        .collect()(0).getAs[java.time.LocalDateTime](0)
      Seq((999999L, java.sql.Timestamp.valueOf(maxTs.plusDays(10)), 999999L, "view", 0.0, "{}"))
        .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .write.mode("append").parquet(dir)
      q.processAllAvailable()
      val streamed = spark.table("sessagg")
        .where($"user_id" =!= 999999L)
        .select($"user_id", $"n_events", $"start_us", $"end_us", $"total_c")
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
        .toSet
      val batch = graft.queries.Analytics
        .qSessionize(spark, "/root/testdata/sf0.001")
        .select($"user_id", $"n_events", $"start_us", $"end_us", $"total_c")
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
        .toSet
      assert(batch.nonEmpty)
      assert(streamed == batch)
    } finally q.stop()
  }

  test("oracled q_events_window mirrors the streaming agg (same buckets, cents vs double)") {
    val dir = "/root/testdata/sf0.001"
    val batch = StreamingCorrection.eventWindowAgg(
      spark.read.parquet(s"$dir/events.parquet")).collect()
      .map(r => ((r.getTimestamp(0).getTime / 1000, r.getString(1)),
        (r.getLong(2), r.getDouble(3)))).toMap
    val mirror = graft.queries.Analytics.qEventsWindow(spark, dir).collect()
      .map(r => ((r.getLong(0), r.getString(1)),
        (r.getLong(2), r.getLong(3)))).toMap
    assert(batch.keySet == mirror.keySet)
    assert(mirror.nonEmpty)
    mirror.foreach { case (k, (n, cents)) =>
      val (bn, btot) = batch(k)
      assert(bn == n, s"count mismatch at $k")
      // the battery query folds to integer cents per row; the streaming
      // agg sums raw doubles — equal up to accumulated rounding
      assert(math.abs(btot - cents / 100.0) < 0.5, s"total mismatch at $k")
    }
  }
}
