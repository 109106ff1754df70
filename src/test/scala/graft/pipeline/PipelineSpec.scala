package graft.pipeline

import graft.Fixtures
import graft.correct.{CompiledModel, Corrector}
import org.apache.spark.sql.SparkSession
import org.scalatest.concurrent.{Signaler, ThreadSignaler}
import org.scalatest.concurrent.TimeLimits.failAfter
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.time.{Seconds, Span => TimeSpan}

/** Spark end-to-end per SURVEY.md §5.4: synthesized interleaved Doc
  * table, full job on local[*], span-sequence equality invariant,
  * accumulators, idempotent resume. */
class PipelineSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  lazy val model: CompiledModel =
    CompiledModel.train(Fixtures.trainingPairs, Fixtures.wordlist)

  test("doc generation is deterministic and partition-independent") {
    val a = DocGen.docs(spark, 50, seed = 7L, partitions = 2).collect()
    val b = DocGen.docs(spark, 50, seed = 7L, partitions = 8).collect()
    assert(a.sortBy(_.doc_id).toSeq == b.sortBy(_.doc_id).toSeq)
    val kinds = a.flatMap(_.spans).map(_.kind).toSet
    assert(kinds.contains("text"))
    assert((kinds - "text").nonEmpty) // media spans present
  }

  /** The exact counts a correction of `in` into `out` must record. */
  private def assertMetrics(mx: Metrics, in: Seq[Doc], out: Seq[Doc]): Unit = {
    val spans = in.sortBy(_.doc_id).flatMap(_.spans)
      .zip(out.sortBy(_.doc_id).flatMap(_.spans))
    val text = spans.filter(_._1.kind == "text")
    assert(mx.docs.value == in.length.toLong)
    assert(mx.textSpans.value == text.length.toLong)
    assert(mx.mediaSpans.value == (spans.length - text.length).toLong)
    assert(mx.chars.value == text.map(_._1.text.length.toLong).sum)
    assert(mx.spansChanged.value ==
      text.count { case (a, b) => a.text != b.text }.toLong)
  }

  test("correction preserves span-sequence (kind, media_ref, order) and fixes text") {
    val docs = DocGen.docs(spark, 40, seed = 11L, partitions = 4)
    val bc = CorrectionJob.broadcastModel(spark, model)
    val in = docs.collect()
    val expected = in.map(d => d.doc_id -> d.spans.map(s =>
      if (s.kind == "text") Corrector.correctLine(s.text, model) else s.text)).toMap
    // the shared window memo, and a decoder that bypasses it
    val uncached: CorrectionJob.Decoder = { (m, _) =>
      val line: String => String = Corrector.correctLine(_, m, null)
      _ => line
    }
    for (salt <- Seq(None, Some(4)); useCache <- Seq(true, false)) {
      val metrics = Metrics(spark)
      val job = CorrectionJob.correctDocs(docs, bc, Some(metrics),
        saltPartitions = salt,
        decoder = if (useCache) CorrectionJob.viterbi else uncached)
      // no shuffle except the optional salting exchange
      val plan = job.queryExecution.executedPlan.toString
      assert(plan.linesIterator.count(_.contains("Exchange")) == salt.size, plan)
      val out = job.collect()
      val byId = out.map(d => d.doc_id -> d).toMap
      assert(byId.size == in.length)
      for (d <- in) {
        val o = byId(d.doc_id)
        assert(o.spans.length == d.spans.length)
        for ((s, os) <- d.spans.zip(o.spans)) {
          assert(os.kind == s.kind)
          assert(os.media_ref == s.media_ref)
          assert(os.offset == s.offset)
        }
        // media untouched, text corrected line by line
        assert(o.spans.map(_.text) == expected(d.doc_id), (salt, useCache))
      }
      assertMetrics(metrics, in.toSeq, out.toSeq)
      assert(metrics.textSpans.value > 0L)
      assert(metrics.mediaSpans.value > 0L)
      assert(metrics.spansChanged.value > 0L)
    }
  }

  test("LM-rescored job equals the per-doc sequential fold") {
    import spark.implicits._
    import graft.correct.{CharNgramLm, LmDecoder, LmScorer}
    val docs = DocGen.docs(spark, 20, seed = 9L, partitions = 4)
    val lm = CharNgramLm.train(Fixtures.trainingPairs.map(_._2), n = 4)
    val bc = CorrectionJob.broadcastModel(spark, model)
    val bcLm = spark.sparkContext.broadcast(lm: LmScorer)
    val metrics = Metrics(spark)
    val got = CorrectionJob.correctDocs(docs, bc, Some(metrics),
      saltPartitions = Some(4), decoder = LmDecoder.decoder(bcLm))
      .collect().sortBy(_.doc_id).toSeq
    val in = docs.collect().sortBy(_.doc_id).toSeq
    val expected = in.map(d => LmDecoder.correctDocLm(d, model, lm))
    assert(got == expected)
    // media untouched, order preserved
    got.zip(expected).foreach { case (g, e) =>
      assert(g.spans.map(s => (s.kind, s.media_ref, s.offset)) ==
        e.spans.map(s => (s.kind, s.media_ref, s.offset)))
    }
    // the LM path counts exactly as the Viterbi path does
    assertMetrics(metrics, in, got)
    // decade-contextual: every other doc is dated to the 1840s and
    // scored by that decade's LM
    val dated = docs.map(d =>
      if (d.doc_id.last % 2 == 0) d
      else d.copy(doc_id = d.doc_id + "_1847"))
    val byDecade = Map(185 -> (CharNgramLm.train(Seq("ich nicht weiß"), n = 4): LmScorer))
    val bcDecade = spark.sparkContext.broadcast(byDecade)
    val gotCtx = CorrectionJob.correctDocs(dated, bc,
      decoder = LmDecoder.decoder(bcLm, byContext = Some(bcDecade)))
      .collect().sortBy(_.doc_id).toSeq
    assert(gotCtx == dated.collect().sortBy(_.doc_id).toSeq
      .map(d => LmDecoder.correctDocLmContextual(d, model, byDecade, lm)))
  }

  test("bucketed write commits manifests; resume completes and matches one-shot") {
    val base = Files.createTempDirectory("graft-io").toString
    val docs = DocGen.docs(spark, 60, seed = 3L, partitions = 4)

    // one-shot reference write
    val p1 = s"$base/oneshot"
    val ms = TableIO.writeDocs(docs, p1, buckets = 8)
    assert(ms.map(_.bucket).toSet == (0 until 8).toSet)
    assert(ms.map(_.numDocs).sum == 60L)
    val r1 = TableIO.readDocs(spark, p1).collect().sortBy(_.doc_id).toSeq

    // interrupted write (fails after 3 buckets), then resume
    val p2 = s"$base/resumed"
    intercept[TableIO.InjectedFailure] {
      TableIO.writeDocs(docs, p2, buckets = 8, failAfterBuckets = Some(3))
    }
    val committedBefore = TableIO.committedBuckets(p2)
    assert(committedBefore.size == 3)
    val resumed = TableIO.writeDocs(docs, p2, buckets = 8, attemptId = "attempt-1")
    assert(resumed.map(_.bucket).toSet == (0 until 8).toSet -- committedBefore)
    val r2 = TableIO.readDocs(spark, p2).collect().sortBy(_.doc_id).toSeq
    assert(r1 == r2)

    // fully-committed table: a re-run is a no-op
    assert(TableIO.writeDocs(docs, p2, buckets = 8, attemptId = "attempt-2").isEmpty)

    // metrics ride the snapshot (end-to-end corrected write)
    val p3 = s"$base/with-metrics"
    val bc = CorrectionJob.broadcastModel(spark, model)
    val mx = Metrics(spark)
    val corrected = CorrectionJob.correctDocs(docs, bc, Some(mx))
    TableIO.writeDocs(corrected, p3, buckets = 4, metrics = Some(mx))
    val snap = java.nio.file.Files.readString(
      java.nio.file.Paths.get(p3, "_snapshot-0.json"))
    assert(snap.contains("\"metrics\""))
    assert(snap.contains("\"textSpans\""))
    // exact VALUES, not just keys: the commit is one job (the lineage
    // stats are observed in the write, not read by a second pass over the
    // rows), so the correction runs once and the accumulators count each
    // doc ONCE
    assert(mx.docs.value == 60L, s"docs accumulator = ${mx.docs.value}")
    val totalSpans = docs.collect().map(_.spans.length.toLong).sum
    assert(mx.textSpans.value + mx.mediaSpans.value == totalSpans,
      s"spans ${mx.textSpans.value}+${mx.mediaSpans.value} != $totalSpans")
    assert(snap.contains(s""""docs":60"""), snap)
  }

  test("COW merge: updated rows replaced, untouched buckets keep manifests, idempotent, time travel until vacuum") {
    import spark.implicits._
    val p = s"${Files.createTempDirectory("graft-io-merge")}/t"
    val docs = DocGen.docs(spark, 60, seed = 3L, partitions = 4)
    TableIO.writeDocs(docs, p, buckets = 8)
    val before = TableIO.readManifests(p).map(m => m.bucket -> m).toMap
    // updates: rewrite docs 0..9 with a single marker span + one brand-new doc
    def id(i: Int): String = f"doc-$i%08d"
    val upd = (Seq.tabulate(10)(i =>
      Doc(id(i), Seq(Span("text", s"updated $i", null, 0)))) :+
      Doc("doc-99999999", Seq(Span("text", "brand new", null, 0)))).toDS()
    val ms = TableIO.mergeDocs(upd, p, buckets = 8, attemptId = "merge-0")
    val affected = ms.map(_.bucket).toSet
    // untouched buckets keep their manifests VERBATIM (same attempt, files)
    val after = TableIO.readManifests(p).map(m => m.bucket -> m).toMap
    for (b <- 0 until 8 if !affected.contains(b))
      assert(after(b) == before(b), s"bucket $b was rewritten")
    // merged read: updated content wins, everything else intact, new doc present
    val got = TableIO.readDocs(spark, p).collect().map(d => d.doc_id -> d).toMap
    assert(got.size == 61)
    for (i <- 0 until 10) assert(got(id(i)).spans.map(_.text) == Seq(s"updated $i"))
    assert(got("doc-99999999").spans.head.text == "brand new")
    val orig = docs.collect().map(d => d.doc_id -> d).toMap
    for (i <- 10 until 60) assert(got(id(i)) == orig(id(i)))
    // idempotence: re-merging the same updates commits identical content
    val ms2 = TableIO.mergeDocs(upd, p, buckets = 8, attemptId = "merge-1")
    assert(ms2.map(m => (m.bucket, m.numDocs, m.numSpans, m.checksum)).toSet ==
      ms.map(m => (m.bucket, m.numDocs, m.numSpans, m.checksum)).toSet)
    // superseded files still on disk (previous snapshot = time travel)
    // until vacuum reclaims exactly the unreferenced ones
    val reclaimed = TableIO.vacuum(p)
    assert(reclaimed.nonEmpty)
    assert(TableIO.readDocs(spark, p).count() == 61)
    // merge snapshot recorded
    val snaps = new java.io.File(p).listFiles()
      .map(_.getName).filter(_.startsWith("_snapshot-"))
    assert(snaps.length == 3) // write + 2 merges
  }

  test("metadata-pointer commit: orphans invisible, temp manifests don't count, vacuum reclaims") {
    val p = s"${Files.createTempDirectory("graft-io-meta")}/t"
    val docs = DocGen.docs(spark, 60, seed = 3L, partitions = 4)
    intercept[TableIO.InjectedFailure] {
      TableIO.writeDocs(docs, p, buckets = 8, failAfterBuckets = Some(3))
    }
    // all 8 buckets' data files exist on disk (written once, up front),
    // but only 3 manifests committed — readers see EXACTLY those
    assert(TableIO.committedBuckets(p).size == 3)
    val mans = TableIO.readManifests(p)
    assert(mans.size == 3 && mans.forall(_.files.nonEmpty))
    assert(TableIO.readDocs(spark, p).count() == mans.map(_.numDocs).sum)
    // a stray truncated TEMP manifest (crash mid-publish) is not a
    // commit: committedBuckets keys off the final name only
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(p, "_manifests", ".bucket-9.json.tmp"),
      """{"bucket":9,""")
    assert(!TableIO.committedBuckets(p).contains(9))
    // vacuum deletes only unreferenced part files; committed data intact
    val before = TableIO.readDocs(spark, p).collect().sortBy(_.doc_id).toSeq
    val deleted = TableIO.vacuum(p)
    assert(deleted.nonEmpty, "uncommitted attempt files must be reclaimed")
    assert(TableIO.readDocs(spark, p).collect().sortBy(_.doc_id).toSeq == before)
    // resume after vacuum completes the table; explicit-Configuration
    // (sessionless-style) inspection agrees
    TableIO.writeDocs(docs, p, buckets = 8, attemptId = "attempt-1")
    assert(TableIO.readDocs(spark, p).count() == 60L)
    assert(TableIO.committedBuckets(p,
      new org.apache.hadoop.conf.Configuration()).size == 8)
    assert(TableIO.vacuum(p).isEmpty, "fully committed table has no orphans")
  }

  /** The `part-` files on disk per bucket directory of a table's data. */
  private def partFilesPerBucket(table: String): Map[String, Int] = {
    val data = java.nio.file.Paths.get(table, "data")
    val s = java.nio.file.Files.walk(data)
    try {
      import scala.jdk.CollectionConverters._
      s.iterator.asScala.filter(_.getFileName.toString.startsWith("part-"))
        .toSeq.groupBy(_.getParent.toString).map { case (d, fs) => d -> fs.size }
    } finally s.close()
  }

  test("commit layout: one part- file per bucket (write and merge); readDocs starts no job") {
    import spark.implicits._
    val p = s"${Files.createTempDirectory("graft-io-layout")}/t"
    val docs = DocGen.docs(spark, 60, seed = 3L, partitions = 4)
    val ms = TableIO.writeDocs(docs, p, buckets = 8)
    assert(ms.size == 8 && ms.forall(_.files.size == 1), ms.map(_.files))
    assert(partFilesPerBucket(p).values.toSeq == Seq.fill(8)(1), partFilesPerBucket(p))
    def id(i: Int): String = f"doc-$i%08d"
    val upd = Seq.tabulate(10)(i =>
      Doc(id(i), Seq(Span("text", s"updated $i", null, 0)))).toDS()
    val merged = TableIO.mergeDocs(upd, p, buckets = 8, attemptId = "merge-0")
    assert(merged.nonEmpty && merged.forall(_.files.size == 1), merged.map(_.files))
    assert(TableIO.readManifests(p).forall(_.files.size == 1))

    // building the reader starts no Spark job (no schema-inference or
    // listing job): count the jobs of a tagged group, then flush the
    // listener queue with a sentinel job of another group
    val sc = spark.sparkContext
    val probeJobs = new java.util.concurrent.atomic.AtomicInteger()
    val sentinelDone = new java.util.concurrent.CountDownLatch(1)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")) match {
          case Some("readDocs-probe") => probeJobs.incrementAndGet()
          case Some("readDocs-sentinel") => sentinelDone.countDown()
          case _ =>
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup("readDocs-probe", "build readDocs")
      val reader = TableIO.readDocs(spark, p)
      sc.setJobGroup("readDocs-sentinel", "flush listener queue")
      spark.range(1).count()
      sc.clearJobGroup()
      assert(sentinelDone.await(60, java.util.concurrent.TimeUnit.SECONDS))
      assert(probeJobs.get == 0, s"${probeJobs.get} jobs while building readDocs")
      assert(reader.count() == 60L)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  test("commit layout: a bucket over the advisory partition size splits into several files") {
    val base = Files.createTempDirectory("graft-io-split").toString
    val docs = DocGen.docs(spark, 200, seed = 5L, partitions = 4)
    val one = TableIO.writeDocs(docs, s"$base/one", buckets = 2)
    // a separate session shares the SparkContext but not the SQL conf
    val small = spark.newSession()
    small.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "4k")
    val split = TableIO.writeDocs(
      DocGen.docs(small, 200, seed = 5L, partitions = 4), s"$base/split", buckets = 2)
    assert(one.forall(_.files.size == 1), one.map(_.files))
    assert(split.exists(_.files.size > 1), split.map(_.files))
    // the manifest lists every data file its bucket directory holds
    val onDisk = partFilesPerBucket(s"$base/split")
    for (m <- split) {
      val dirs = m.files.map(f => new java.io.File(new java.net.URI(f)).getParent).distinct
      assert(dirs.size == 1 && onDisk(dirs.head) == m.files.size, (m.files, onDisk))
    }
    def key(ms: Seq[TableIO.BucketManifest]) =
      ms.map(m => (m.bucket, m.numDocs, m.numSpans, m.checksum)).sortBy(_._1)
    assert(key(split) == key(one))
    assert(TableIO.readDocs(spark, s"$base/split").collect().sortBy(_.doc_id).toSeq ==
      TableIO.readDocs(spark, s"$base/one").collect().sortBy(_.doc_id).toSeq)
  }

  test("commit stats: doc ids ordered by code point like Spark's min/max (U+FFFD and U+1F600 in one bucket)") {
    import spark.implicits._
    val p = s"${Files.createTempDirectory("graft-io-order")}/t"
    // UTF-16 order puts the surrogate pair of U+1F600 below U+E000 and
    // U+FFFD; code-point (UTF-8 byte) order puts it above them
    val ids = Seq("\uFFFD", "\uD83D\uDE00", "\uFFFDa", "\uD83D\uDE00b", "\uE000")
    val docs = ids.map(id => Doc(id, Seq(Span("text", id, null, 0)))).toDS()
    val ms = TableIO.writeDocs(docs, p, buckets = 1)
    assert(ms.map(TableIOStats.of) == Seq(TableIOStats.reference(docs, 1)(0)))
    assert(ms.head.minDocId == "\uE000" && ms.head.maxDocId == "\uD83D\uDE00b",
      (ms.head.minDocId, ms.head.maxDocId))
  }

  test("commit stats: ids with a quote, a backslash, a newline and U+0001 read back exactly") {
    import spark.implicits._
    val p = s"${Files.createTempDirectory("graft-io-escape")}/t"
    val ids = Seq("a\"b", "C:\\new", "x\ny", "\u0001", "\u0001z")
    val docs = ids.map(id => Doc(id, Seq(Span("text", id, null, 0)))).toDS()
    val ms = TableIO.writeDocs(docs, p, buckets = 1, attemptId = "attempt\"0")
    val read = TableIO.readManifests(p)
    assert(read.map(TableIOStats.of) == Seq(TableIOStats.reference(docs, 1)(0)))
    assert(read.map(_.minDocId) == Seq("\u0001") && read.map(_.maxDocId) == Seq("x\ny"),
      read.map(m => (m.minDocId, m.maxDocId)))
    assert(read == ms)
    assert(TableIO.readDocs(spark, p).collect().map(_.doc_id).sorted.toSeq == ids.sorted)
    // both snapshot builders write the attempt id as a JSON string
    TableIO.mergeDocs(Seq(Doc("C:\\new", Nil)).toDS(), p, buckets = 1,
      attemptId = "merge\"0")
    val json = new com.fasterxml.jackson.databind.ObjectMapper()
    val attempts = Seq(0, 1).map(k => json.readTree(
      new java.io.File(p, s"_snapshot-$k.json")).get("attempt").asText())
    assert(attempts == Seq("attempt\"0", "merge\"0"))
    assert(TableIO.readDocs(spark, p).collect().map(d => d.doc_id -> d.spans.size)
      .toMap == ids.map(id => id -> (if (id == "C:\\new") 0 else 1)).toMap)
  }

  test("commit stats: an empty write and a sparse write commit zero-stat manifests for empty buckets") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft-io-sparse").toString
    implicit val signaler: Signaler = ThreadSignaler
    failAfter(TimeSpan(120, Seconds)) { // the stats must not wait for a task that never ran
      val empty = TableIO.writeDocs(spark.emptyDataset[Doc], s"$base/empty", buckets = 4)
      assert(empty.map(m => (m.bucket, TableIOStats.of(m), m.files)) ==
        (0 until 4).map(b => (b, TableIOStats.Zero, Nil)))
      assert(TableIO.readDocs(spark, s"$base/empty").count() == 0L)

      val docs = DocGen.docs(spark, 5, seed = 11L, partitions = 2)
      val sparse = TableIO.writeDocs(docs, s"$base/sparse", buckets = 16)
      val ref = TableIOStats.reference(docs, 16)
      assert(ref.size < 16)
      assert(sparse.map(m => m.bucket -> TableIOStats.of(m)) ==
        (0 until 16).map(b => b -> ref.getOrElse(b, TableIOStats.Zero)))
      assert(sparse.forall(m => m.files.size == (if (ref.contains(m.bucket)) 1 else 0)),
        sparse.map(_.files))
      assert(TableIO.readDocs(spark, s"$base/sparse").collect().sortBy(_.doc_id).toSeq ==
        docs.collect().sortBy(_.doc_id).toSeq)
    }
  }

  test("vacuum: deletes exactly the unreferenced part- files among several hundred orphans") {
    val p = s"${Files.createTempDirectory("graft-io-vacuum")}/t"
    val docs = DocGen.docs(spark, 60, seed = 3L, partitions = 4)
    val ms = TableIO.writeDocs(docs, p, buckets = 8)
    val before = TableIO.readDocs(spark, p).collect().sortBy(_.doc_id).toSeq
    def local(uri: String) = java.nio.file.Paths.get(new java.net.URI(uri))
    val committedAttempt = local(ms.head.files.head).getParent.getParent
    // 300 orphans beside the committed files, 200 in an attempt no
    // manifest names, each with a non-part file vacuum must leave alone
    val (orphans, kept) = (0 until 500).map { k =>
      val attempt =
        if (k < 300) committedAttempt
        else java.nio.file.Paths.get(p, "data", "attempt-9-0")
      val dir = java.nio.file.Files.createDirectories(attempt.resolve(s"bucket=${k % 8}"))
      (java.nio.file.Files.writeString(dir.resolve(f"part-$k%05d-orphan.parquet"), ""),
        java.nio.file.Files.writeString(dir.resolve(s"_keep-$k"), ""))
    }.unzip
    val deleted = TableIO.vacuum(p)
    assert(deleted.map(local(_).toString).sorted == orphans.map(_.toString).sorted)
    assert(orphans.forall(!java.nio.file.Files.exists(_)))
    assert(kept.forall(java.nio.file.Files.exists(_)))
    assert(partFilesPerBucket(p).values.sum == 8)
    assert(TableIO.readDocs(spark, p).collect().sortBy(_.doc_id).toSeq == before)
    assert(TableIO.vacuum(p).isEmpty)
  }

  test("extraction pipeline e2e: boilerplate strip -> correct -> commit -> read back") {
    import spark.implicits._
    // inject the same footer span into every doc — the cross-doc repeated
    // content the strip must identify (plus any organically repeated
    // perturbed lines, which the independent recomputation accounts for)
    val footer = "Imprint: Verlag und Druck Beispiel"
    val raw = DocGen.docs(spark, 40, seed = 21L, partitions = 4).collect()
      .map(d => Doc(d.doc_id, d.spans :+ Span("text", footer, "", d.spans.length)))
      .toSeq
    val docs = spark.createDataset(raw)
    val res = Boilerplate.strip(docs, minDf = 2)
    // independent expected strip set (JVM recomputation, no Spark)
    val boiler = raw.flatMap(d => d.spans.filter(_.kind == "text").map(sp => (sp.text, d.doc_id)))
      .groupBy(_._1).collect { case (t, xs) if xs.map(_._2).distinct.size >= 2 => t }
      .toSet
    assert(boiler(footer))
    val expected = raw.map(d => d.doc_id ->
      d.spans.filter(sp => sp.kind != "text" || !boiler(sp.text))).toMap
    val stripped = res.docs.collect()
    assert(stripped.map(d => d.doc_id -> d.spans).toMap == expected)
    // correct the stripped docs and commit through the snapshot seam
    val bc = CorrectionJob.broadcastModel(spark, model)
    val corrected = CorrectionJob.correctDocs(res.docs, bc, None, Some(4))
    val out = s"${Files.createTempDirectory("graft-extract")}/table"
    TableIO.writeDocs(corrected, out, buckets = 4)
    val back = TableIO.readDocs(spark, out).collect().sortBy(_.doc_id).toSeq
    assert(back == corrected.collect().sortBy(_.doc_id).toSeq)
    // span-sequence invariant holds through the WHOLE chain: the committed
    // table's (kind, media_ref, offset) sequences equal the stripped input's
    back.foreach { d =>
      val in = expected(d.doc_id)
      assert(d.spans.map(s => (s.kind, s.media_ref, s.offset)) ==
        in.map(s => (s.kind, s.media_ref, s.offset)), d.doc_id)
    }
  }

  test("north-rule e2e from RAW MARKUP: html -> extract -> strip -> correct -> commit") {
    import spark.implicits._
    // render each generated doc as an HTML page: structural boilerplate
    // (header/nav/footer — the DOM-heuristic strip's job) + a cross-doc
    // repeated promo paragraph OUTSIDE any boilerplate container (the
    // CCNet strip's job) + the doc's spans as <p>/<img> in order
    val promo = "Subscribe to our newsletter today"
    def esc(s: String) = s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
    val orig = DocGen.docs(spark, 30, seed = 33L, partitions = 4).collect().toSeq
    val pages = orig.map { d =>
      val sb = new StringBuilder
      sb ++= "<html><head><title>t</title></head><body>"
      sb ++= "<header><h1>Site</h1></header><nav><a href=\"/\">Home</a></nav>"
      sb ++= s"<article><p>${esc(promo)}</p>"
      d.spans.foreach { sp =>
        if (sp.kind == "text") sb ++= s"<p>${esc(sp.text)}</p>"
        else sb ++= s"""<img src="${sp.media_ref}">"""
      }
      sb ++= "</article><footer>Imprint</footer></body></html>"
      (d.doc_id, sb.toString)
    }
    val extracted = HtmlExtract.docsFromHtml(spark.createDataset(pages))
    // after the structural strip, each doc = promo + its original spans
    // (media kinds all render as <img> → 'image'), sequential offsets
    val expectExtracted = orig.map { d =>
      d.doc_id -> (Span("text", promo, "", 0) +: d.spans.map(sp =>
        if (sp.kind == "text") sp.copy(offset = sp.offset + 1)
        else Span("image", "", sp.media_ref, sp.offset + 1)))
    }.toMap
    assert(extracted.collect().map(d => d.doc_id -> d.spans).toMap == expectExtracted)
    // cross-doc strip: promo (df = 30) goes; organically repeated
    // perturbed lines go too — recomputed independently JVM-side
    val res = Boilerplate.strip(extracted, minDf = 2)
    val boiler = expectExtracted.values.flatten
      .collect { case sp if sp.kind == "text" => sp.text }
      .groupBy(identity).collect { case (t, xs) if {
        val docs = expectExtracted.count(_._2.exists(s => s.kind == "text" && s.text == t))
        docs >= 2
      } => t }.toSet
    assert(boiler(promo))
    val expectStripped = expectExtracted.view.mapValues(
      _.filter(sp => sp.kind != "text" || !boiler(sp.text))).toMap
    assert(res.docs.collect().map(d => d.doc_id -> d.spans).toMap == expectStripped)
    // correct + snapshot-commit + read back: span sequences survive
    val bc = CorrectionJob.broadcastModel(spark, model)
    val corrected = CorrectionJob.correctDocs(res.docs, bc, None, Some(4))
    val out = s"${Files.createTempDirectory("graft-html-e2e")}/table"
    TableIO.writeDocs(corrected, out, buckets = 4)
    val back = TableIO.readDocs(spark, out).collect().sortBy(_.doc_id).toSeq
    back.foreach { d =>
      val in = expectStripped(d.doc_id)
      assert(d.spans.map(s => (s.kind, s.media_ref, s.offset)) ==
        in.map(s => (s.kind, s.media_ref, s.offset)), d.doc_id)
    }
  }

  test("crawl-front e2e: .warc.gz shard FILES -> binaryFile scan -> extract -> strip -> correct -> commit") {
    import spark.implicits._
    // same page synthesis as the html e2e, but the pages are packed
    // into real multi-member .warc.gz shard files on disk and re-enter
    // through the PRODUCTION source path (WarcIO.docsFromWarc = Spark
    // binaryFile scan + per-blob container parse)
    val promo = "Subscribe to our newsletter today"
    def esc(s: String) = s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
    val orig = DocGen.docs(spark, 30, seed = 47L, partitions = 4).collect().toSeq
    def page(d: Doc): String = {
      val sb = new StringBuilder
      sb ++= "<html><head><title>t</title></head><body>"
      sb ++= "<header><h1>Site</h1></header><nav><a href=\"/\">Home</a></nav>"
      sb ++= s"<article><p>${esc(promo)}</p>"
      d.spans.foreach { sp =>
        if (sp.kind == "text") sb ++= s"<p>${esc(sp.text)}</p>"
        else sb ++= s"""<img src="${sp.media_ref}">"""
      }
      sb ++= "</article><footer>Imprint</footer></body></html>"
      sb.toString
    }
    val shardDir = Files.createTempDirectory("graft-warc-e2e")
    orig.grouped(10).zipWithIndex.foreach { case (docs, i) =>
      val out = new java.io.ByteArrayOutputStream(1 << 16)
      docs.foreach { d =>
        graft.sources.WarcIO.writeResponse(out,
          uri = s"https://example.org/${d.doc_id}",
          html = page(d).getBytes(java.nio.charset.StandardCharsets.UTF_8),
          date = "2026-01-01T00:00:00Z", gzip = true)
      }
      java.nio.file.Files.write(
        shardDir.resolve(f"shard-$i%05d.warc.gz"), out.toByteArray)
    }
    val extracted = graft.sources.WarcIO.docsFromWarc(spark, shardDir.toString)
      .map(d => d.copy(doc_id = d.doc_id.stripPrefix("https://example.org/")))
    val expectExtracted = orig.map { d =>
      d.doc_id -> (Span("text", promo, "", 0) +: d.spans.map(sp =>
        if (sp.kind == "text") sp.copy(offset = sp.offset + 1)
        else Span("image", "", sp.media_ref, sp.offset + 1)))
    }.toMap
    assert(extracted.collect().map(d => d.doc_id -> d.spans).toMap == expectExtracted)
    // downstream is the proven chain: cross-doc strip -> correct -> commit
    val res = Boilerplate.strip(extracted, minDf = 2)
    val stripped = res.docs.collect().map(d => d.doc_id -> d.spans).toMap
    assert(stripped.forall { case (_, spans) => !spans.exists(_.text == promo) },
      "promo (df=30) must be stripped")
    val bc = CorrectionJob.broadcastModel(spark, model)
    val corrected = CorrectionJob.correctDocs(res.docs, bc, None, Some(4))
    val out = s"${Files.createTempDirectory("graft-warc-table")}/table"
    TableIO.writeDocs(corrected, out, buckets = 4)
    val back = TableIO.readDocs(spark, out).collect().sortBy(_.doc_id).toSeq
    back.foreach { d =>
      val in = stripped(d.doc_id)
      assert(d.spans.map(s => (s.kind, s.media_ref, s.offset)) ==
        in.map(s => (s.kind, s.media_ref, s.offset)), d.doc_id)
    }
  }

  private object Files {
    def createTempDirectory(prefix: String): java.nio.file.Path =
      java.nio.file.Files.createTempDirectory(prefix)
  }
}
