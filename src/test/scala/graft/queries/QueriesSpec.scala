package graft.queries

import graft.SparkEntry
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Driver-surface checks: entry smoke, rows-only queries, text-op
  * heuristics, and plan-shape assertions (pushdown/pruning). */
class QueriesSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]").config("spark.ui.enabled", "false")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC").getOrCreate()

  val sf = "/root/testdata/sf0.001"

  test("entry returns corrected interleaved docs (rows > 0)") {
    val df = SparkEntry.entry(spark)
    assert(df.columns.toSeq == Seq("doc_id", "spans"))
    assert(df.count() > 0)
  }

  test("every declared query runs at sf0.001 and returns rows") {
    for ((name, fn) <- SparkEntry.queries) {
      val n = fn(spark, sf).count()
      assert(n > 0, s"query $name returned no rows")
    }
  }

  test("oracleSql keys are a subset of queries") {
    assert(SparkEntry.oracleSql.keySet.subsetOf(SparkEntry.queries.keySet))
  }

  test("inputBytes: a failed size lookup is not cached") {
    val dir = java.nio.file.Files.createTempDirectory("graft-inputbytes")
    val f = dir.resolve("later.bin")
    try {
      assert(Queries.inputBytes(spark, f.toString) == Long.MaxValue)
      java.nio.file.Files.write(f, new Array[Byte](1234))
      assert(Queries.inputBytes(spark, f.toString) == 1234L)
    } finally {
      java.nio.file.Files.deleteIfExists(f)
      java.nio.file.Files.deleteIfExists(dir)
    }
  }

  test("inputBytes: releaseCaches forgets sizes, so a rewritten path is measured again") {
    import spark.implicits._
    val path = java.nio.file.Files.createTempDirectory("graft-inputbytes-rw")
      .resolve("t.parquet").toString
    Seq(1L).toDF("x").coalesce(1).write.parquet(path)
    val small = Queries.inputBytes(spark, path)
    spark.range(0, 100000).toDF("x").coalesce(1).write.mode("overwrite").parquet(path)
    val rewritten = Queries.inputBytes(spark, path)
    Queries.releaseCaches()
    val fresh = Queries.inputBytes(spark, path)
    assert(rewritten == small, "a size is remembered until releaseCaches")
    assert(fresh > small, s"$fresh bytes after release, $small before the rewrite")
  }

  test("fanOutSmall: the kill switch parses any case and names its key on junk") {
    val key = "spark.graft.fanout.enabled"
    val df = spark.range(0, 100, 1, 1).toDF()
    val path = s"$sf/documents.parquet" // small: fans out by default
    try {
      assert(Queries.fanOutSmall(df, path).rdd.getNumPartitions > 1)
      spark.conf.set(key, "FALSE")
      assert(Queries.fanOutSmall(df, path).rdd.getNumPartitions == 1)
      spark.conf.set(key, "nope")
      val e = intercept[IllegalArgumentException](Queries.fanOutSmall(df, path))
      assert(e.getMessage.contains(key))
    } finally spark.conf.unset(key)
  }

  test("langId identifies clear-cut samples") {
    assert(TextOps.langId("ich weiß nicht, daß der ſchöne Tag") == "de")
    assert(TextOps.langId("the quick brown fox is jumping over the lazy dog") == "en")
    assert(TextOps.langId("zzz qqq xxx") == "unk")
  }

  test("simhash: near-identical texts have small hamming distance") {
    val a = TextOps.simhash64("the quick brown fox jumps over the lazy dog")
    val b = TextOps.simhash64("the quick brown fox jumps over the lazy cat")
    val c = TextOps.simhash64("completely unrelated text about spark queries")
    assert(TextOps.hamming64(a, b) < TextOps.hamming64(a, c))
    assert(TextOps.hamming64(a, a) == 0)
  }

  test("lsh signature: identical vectors collide, orthogonal ones differ") {
    val v1 = Array.tabulate(16)(i => math.sin(i + 1).toFloat)
    val v2 = v1.clone()
    val v3 = v1.map(-_)
    assert(TextOps.lshSignature(v1) == TextOps.lshSignature(v2))
    // negating the vector flips the sign of every hyperplane dot product
    assert(TextOps.lshSignature(v3) == (~TextOps.lshSignature(v1) & 0xffff))
  }

  test("ann lsh candidates are consistent with brute-force ranking") {
    val brute = Queries.qAnnCosine(spark, sf).collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
    val lsh = Queries.qAnnLsh(spark, sf).collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
    // every LSH hit's cosine must match the brute-force value for that id
    val bruteMap = brute.toMap
    lsh.foreach { case (id, cos) =>
      bruteMap.get(id).foreach(b => assert(math.abs(b - cos) < 1e-3))
    }
    // the query vector itself (vec_id=0, cos=1.0) always survives LSH
    assert(lsh.map(_._1).contains(0L))
  }

  test("lsh SQL-expression signature equals TextOps.lshSignature on every row") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val rows = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id"), col("embedding"),
        expr(TextOps.lshSigSparkSql("embedding", dim = 64)).as("sig"),
        expr(TextOps.lshSigSparkSql("embedding", dim = 64, bits = 32)).as("sig32"))
      .as[(Long, Array[Float], Long, Long)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (id, v, sig, sig32) =>
      assert(sig == TextOps.lshSignature(v).toLong, s"vec $id")
      // the 32-bit family extends the 16-bit one: low 16 bits agree
      assert((sig32 & 0xffffL) == sig, s"vec $id wide-signature prefix")
    }
  }

  test("SQL-expression lang_pred equals TextOps.langId on every row") {
    import spark.implicits._
    val got = Queries.qLangId(spark, sf)
      .as[(Long, String)].collect().toMap
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text").as[(Long, String)].collect()
    assert(docs.nonEmpty)
    docs.foreach { case (id, t) =>
      assert(got(id) == TextOps.langId(t), s"doc $id: <${t.take(60)}>")
    }
  }

  test("fixMojibake: repairs Latin-1 and cp1252 mis-decodes; never false-fixes") {
    import java.nio.charset.{Charset, StandardCharsets}
    def corrupt(s: String, cs: Charset) =
      new String(s.getBytes(StandardCharsets.UTF_8), cs)
    val cp1252 = Charset.forName("windows-1252")
    for (orig <- Seq("Grüße aus Köln", "déjà — „quote“", "€ ’twas naïve…")) {
      assert(TextOps.fixMojibake(corrupt(orig, StandardCharsets.ISO_8859_1)) == orig)
      assert(TextOps.fixMojibake(corrupt(orig, cp1252)) == orig)
    }
    assert(TextOps.fixMojibake("plain ascii") == "plain ascii")
    // legitimate single-byte text is NOT a valid UTF-8 byte image -> untouched
    assert(TextOps.fixMojibake("café") == "café")
    assert(TextOps.fixMojibake("ä–") == "ä–")
    // chars outside Latin-1 + cp1252 printables cannot be mojibake -> untouched
    assert(TextOps.fixMojibake("日本語") == "日本語")
  }

  test("c4KeepLine: terminal punctuation, word minimum, braces, boilerplate phrases") {
    assert(TextOps.c4KeepLine("a clean simple sentence."))
    assert(TextOps.c4KeepLine("was he sure? \"yes!\""))
    assert(!TextOps.c4KeepLine("no terminal punctuation here"))
    assert(!TextOps.c4KeepLine("too few."))
    assert(!TextOps.c4KeepLine("function f() { return 1; } fine."))
    assert(!TextOps.c4KeepLine("standard Lorem Ipsum filler text."))
    assert(!TextOps.c4KeepLine("please enable JavaScript to continue."))
    assert(!TextOps.c4KeepLine("   "))
  }

  test("plan shape: scans prune columns (documents: only needed columns read)") {
    val plan = Queries.qTokenCounts(spark, sf).queryExecution.executedPlan.toString
    assert(plan.contains("ReadSchema"))
    assert(plan.contains("struct<text:string>"), s"expected text-only scan, got:\n$plan")
  }

  test("plan shape: ANN broadcast-joins the 1-row query side") {
    val plan = Queries.qAnnCosine(spark, sf).queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastExchange"),
      s"expected broadcast join, got:\n$plan")
  }

  test("plan shape: st-ngrams top-k is TakeOrderedAndProject, NOT a global window") {
    val plan = Queries.stNgramsTop(spark, sf).queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), s"expected top-k operator, got:\n$plan")
    assert(!plan.contains("Window"),
      s"global row_number window funnels all grams through ONE partition:\n$plan")
  }

  test("plan shape: url-dedup and link-graph are scan -> map -> ONE hash agg (no join/window)") {
    for ((name, df) <- Seq(
        "q_url_dedup" -> Queries.qUrlDedup(spark, sf),
        "q_link_graph" -> Queries.qLinkGraph(spark, sf))) {
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("HashAggregate"), s"$name:\n$plan")
      assert(!plan.contains("Join"), s"$name must not join:\n$plan")
      assert(!plan.contains("Window"), s"$name must not use a window:\n$plan")
      assert(plan.contains("partial_count"),
        s"$name count must combine map-side (skew immunity):\n$plan")
    }
  }

  test("plan shape: pagerank iterations reuse the persisted edge list; no global window") {
    val plan = Queries.qPagerank(spark, sf).queryExecution.executedPlan.toString
    assert(plan.contains("InMemoryTableScan"),
      s"every iteration must read the cached weighted edge list:\n$plan")
    assert(!plan.contains("Window"), s"no global window in pagerank:\n$plan")
    assert(plan.contains("partial_sum"),
      s"contribution sums must combine map-side:\n$plan")
  }

  test("plan shape: minhash signature agg stays a HashAggregate (BIGINT sigs)") {
    val plan = Queries.qDedupMinhash(spark, sf).queryExecution.executedPlan.toString
    assert(plan.contains("HashAggregate"), plan)
    assert(!plan.contains("SortAggregate"),
      s"min over strings degrades to SortAggregate — fold md5 to BIGINT first:\n$plan")
  }

  test("plan shape: ngram-jaccard reuses the cached shingle aggregate (one source scan)") {
    val df = Queries.qNgramJaccard(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("InMemoryTableScan"),
      s"sizes and pairs must read the persisted per-shingle aggregate:\n$plan")
    df.count() // materialize so the cache is populated for the next assertion
    val cached = spark.sharedState.cacheManager
    assert(!cached.isEmpty, "expected the per-shingle aggregate to be cached")
    // harness contract: releaseCaches() frees the persisted aggregate so
    // repeated runs in one session don't accumulate spilled blocks
    Queries.releaseCaches()
    assert(cached.isEmpty, "releaseCaches() must unpersist the shingle aggregate")
  }

  test("dedup simhash pairs: exact hamming, genuine band collisions, brute-force subset") {
    val rows = Queries.qDedupSimhash(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    // driver-side brute force over the tiny sf0.001 corpus
    val sigs = spark.read.parquet(s"$sf/documents.parquet")
      .collect().map(r => r.getLong(0) -> TextOps.simhash64(r.getString(1))).toMap
    def band(sh: Long, b: Int): Int = ((sh >>> (16 * b)) & 0xFFFF).toInt
    rows.foreach { case (a, b, hm) =>
      assert(a < b)
      assert(hm <= 16)
      // reported hamming is the true signature distance
      assert(java.lang.Long.bitCount(sigs(a) ^ sigs(b)) == hm, s"($a,$b)")
      // candidates only arise from a real band collision
      assert((0 until 4).exists(i => band(sigs(a), i) == band(sigs(b), i)))
    }
  }

  test("dedup groups: labels converge to component minima (closure sanity)") {
    val rows = Queries.qDedupGroups(spark, sf).collect()
    Queries.releaseCaches()
    assert(rows.nonEmpty)
    val canon = rows.map(r => r.getLong(0) -> r.getLong(1)).toMap
    rows.foreach { r =>
      val (id, c, keep) = (r.getLong(0), r.getLong(1), r.getBoolean(2))
      assert(c <= id, s"canon $c > doc $id")
      assert(keep == (c == id))
      // a canonical id must be its own canonical (fixpoint reached)
      assert(canon(c) == c, s"canon($id)=$c but canon($c)=${canon(c)}")
    }
  }

  test("IVF Lloyd refinement improves the quantizer; recall not worse") {
    import spark.implicits._
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
    val seeds = Queries.ivfSeedCentroids(e)
    val refined = Queries.ivfRefine(e, seeds)
    // Lloyd's guarantee (cosine is scale-invariant in the centroid, so
    // the raw-mean recentering is spherical-k-means-like): the mean
    // assigned cosine strictly improves on this corpus
    def meanAssignedCos(cents: org.apache.spark.sql.DataFrame): Double =
      Queries.ivfAssign(e, cents)
        .join(e, "vec_id")
        .join(cents.withColumnRenamed("cent_id", "cell"), "cell")
        .select(org.apache.spark.sql.functions.expr(Queries.ivfCos).as("c"))
        .agg(org.apache.spark.sql.functions.avg($"c")).as[Double].head()
    val seedQ = meanAssignedCos(seeds)
    val refQ = meanAssignedCos(refined)
    assert(refQ > seedQ,
      f"refined quantizer $refQ%.4f not better than seeds $seedQ%.4f")
    // recall@10 vs brute force must not degrade vs the seed quantizer
    // at this scale (on UNIFORM synthetic data a 2/16-cell probe is
    // noise-bounded either way; the quantizer objective above is the
    // property Lloyd actually guarantees)
    val brute = Queries.qAnnCosine(spark, sf)
      .select("vec_id").as[Long].collect().toSet
    val refinedTop = Queries.qAnnIvf(spark, sf)
      .select("vec_id").as[Long].collect().toSet
    assert((refinedTop & brute).size >= 7,
      s"refined IVF recall ${(refinedTop & brute).size}/10")
  }

  test("connected components: a 128-node path converges in O(log n) rounds") {
    import spark.implicits._
    val n = 128
    val ids = (0L until n.toLong).toDF("id")
    // adversarial chain: 0-1-2-...-127 (diameter n-1 — the shape that
    // forces rounds = diameter under plain min-label propagation)
    val edges = (0L until (n - 1).toLong).map(i => (i, i + 1)).toDF("a", "b")
    val (lab, rounds) = Queries.connectedComponents(ids, edges)
    val labs = lab.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labs.values.forall(_ == 0L), "every node must reach the chain min")
    // pointer doubling: information travels ~2x+1 hops per round ->
    // log-bounded; plain propagation would need 127 rounds
    assert(rounds <= math.ceil(math.log(n.toDouble) / math.log(2)).toInt + 4,
      s"rounds=$rounds not logarithmic for diameter ${n - 1}")
  }

  test("jaccard hot-shingle bound: corpus-frequent shingles are cut before any doc-list materialization") {
    import spark.implicits._
    // 30 docs share a boilerplate prefix (its trigrams have df=30 > 20
    // — the round-4 scale-killer shape); only one true near-dup pair
    // shares RARE trigrams. The pair must be found, no pair may arise
    // from the boilerplate, and the cut must be observed.
    val boiler = "all rights reserved by the publishing house of the imperial court printers"
    val docs = (0 until 30).map(i =>
      (i.toLong, s"$boiler unique tail number $i with extra differing content token$i")) ++
      Seq((100L, "the rare pair shares these exact words in the very same order for trigrams one"),
        (101L, "the rare pair shares these exact words in the very same order for trigrams two"))
    val dir = java.nio.file.Files.createTempDirectory("graft-hotshingle").toString
    docs.toDF("doc_id", "text").write.mode("overwrite")
      .parquet(s"$dir/documents.parquet")
    Queries.clearObserved("jaccard_dfcut")
    val pairs = Queries.qNgramJaccard(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    Queries.releaseCaches()
    assert(pairs == Seq((100L, 101L)),
      s"boilerplate must not chain docs into pairs: $pairs")
    val m = Queries.lastObserved("jaccard_dfcut")
    assert(m.isDefined && m.get("dropped_shingles").asInstanceOf[Long] > 0,
      s"hot-shingle drop must be observed: $m")
    // plan shape: the count df-cut sits UPSTREAM of collect_set — the
    // only aggregate allowed to see doc lists is fed by the filtered
    // join, so a corpus-frequent shingle never materializes a
    // corpus-sized buffer
    val plan = Queries.qNgramJaccard(spark, dir)
      .queryExecution.optimizedPlan.toString
    Queries.releaseCaches()
    val collectIdx = plan.indexOf("collect_set")
    assert(collectIdx >= 0, plan)
    assert(plan.indexOf("count(1)") >= 0, plan)
    // the collect_set aggregate's subtree (text AFTER its line in the
    // indented tree) must contain the df-cut join
    assert(plan.substring(collectIdx).contains("Join"),
      s"collect_set must consume the df-cut join, not the raw shingles:\n$plan")
  }

  test("dedup groups: hot duplicated text resolves via map-side-combinable star edges") {
    import spark.implicits._
    // round-6 regression pin: exact-dup edges must come from
    // groupBy(md5).agg(min) + join-back (per-group state = one BIGINT),
    // never a min().over(Window.partitionBy(md5)) — a window sorts the
    // whole hot group in ONE task. Corpus: one text duplicated across
    // most docs (the viral-boilerplate shape) + two unique docs.
    val hot = "identical viral boilerplate page shared by almost every document in this corpus"
    val docs = (0L until 40L).map(i => (i, hot)) ++
      Seq((40L, "first unique document with its own words entirely"),
        (41L, "second unique document also unlike anything else here"))
    val dir = java.nio.file.Files.createTempDirectory("graft-hotdup").toString
    docs.toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val rows = Queries.qDedupGroups(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    Queries.releaseCaches()
    assert(rows.length == 42)
    rows.foreach { case (id, canon, keep) =>
      if (id < 40L) { assert(canon == 0L, s"doc $id canon $canon"); assert(keep == (id == 0L)) }
      else { assert(canon == id, s"unique doc $id grouped to $canon"); assert(keep) }
    }
  }

  test("minhash b x r banding admits a near-dup pair, rejects a far pair; agreement verifies") {
    import spark.implicits._
    val base = "the grand duchy archive preserves thousands of handwritten letters from the eighteenth century describing trade routes harvests and township disputes in careful regular script"
    val near = base.replace("township", "village")
    val far = "completely different content about catalyst optimizer rules and distributed shuffle hash aggregation strategies nothing shared with archives whatsoever in any single shingle"
    val dir = java.nio.file.Files.createTempDirectory("graft-minhash").toString
    Seq((0L, base), (1L, near), (2L, far)).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val rows = Queries.minhashMins(spark, dir).collect()
      .map(r => r.getLong(0) -> (1 to MinHashDefs.NumPerms).map(r.getLong)).toMap
    def agree(a: Long, b: Long): Int =
      rows(a).zip(rows(b)).count { case (x, y) => x == y }
    // signature agreement estimates Jaccard: the near pair passes the
    // verification threshold, the far pair is nowhere close
    assert(agree(0L, 1L) >= MinHashDefs.VerifyAgreement,
      s"near-pair agreement ${agree(0L, 1L)} < ${MinHashDefs.VerifyAgreement}")
    assert(agree(0L, 2L) < MinHashDefs.VerifyAgreement / 2,
      s"far-pair agreement ${agree(0L, 2L)} unexpectedly high")
    // band collision (r=4 rows per band): near pair shares at least one
    // of the 16 band values; the far pair shares none
    val sigs = Queries.minhashBandSigs(Queries.minhashMins(spark, dir))
      .collect().groupBy(_.getLong(0))
      .map { case (id, rs) =>
        id -> rs.map(r => (r.getInt(1), r.getLong(2))).toSet
      }
    assert((sigs(0L) intersect sigs(1L)).nonEmpty, "near pair must collide in some band")
    assert((sigs(0L) intersect sigs(2L)).isEmpty, "far pair must not collide")
    // end-to-end: group resolution (minhash candidates enabled) merges
    // the near pair and leaves the far doc alone
    val groups = Queries.qDedupGroups(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    Queries.releaseCaches()
    assert(groups(0L) == groups(1L), s"near pair not grouped: $groups")
    assert(groups(2L) != groups(0L), s"far doc wrongly grouped: $groups")
  }

  test("plan shape: minhash 64 row-mins stay one partial+final HashAggregate") {
    val plan = Queries.qDedupMinhash(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("SortAggregate"),
      s"64-way min must aggregate over fixed-width BIGINTs in a HashAggregate:\n$plan")
    assert(plan.contains("partial_min"), "map-side partial aggregation required")
    // exactly ONE wide shuffle (doc_id) before the band stack + the
    // small (band, sig) agg exchange and the presentation sort, plus at
    // most one round-robin scan fan-out (round 6: tiny single-split
    // local inputs repartition to the session parallelism so the
    // per-shingle md5 map stage is not single-task; self-disables on
    // real-scale inputs)
    val lines = plan.linesIterator.filter(_.trim.startsWith("+- Exchange")).toSeq
    val fanOuts = lines.count(_.contains("RoundRobinPartitioning"))
    assert(fanOuts <= 1, s"at most one scan fan-out:\n$plan")
    assert(lines.length - fanOuts <= 3,
      s"unexpected extra shuffles (${lines.length - fanOuts}):\n$plan")
  }

  test("local minhash path (streaming) equals the SQL pipeline: mins and band sigs") {
    import spark.implicits._
    val texts = spark.read.parquet(s"$sf/documents.parquet")
      .select($"doc_id", $"text").as[(Long, String)].collect()
    val sqlMins = Queries.minhashMins(spark, sf).collect()
      .map(r => r.getLong(0) ->
        (1 to MinHashDefs.NumPerms).map(r.getLong).toArray).toMap
    val sqlBands = Queries.minhashBandSigs(Queries.minhashMins(spark, sf))
      .collect().groupBy(_.getLong(0))
      .map { case (id, rs) =>
        id -> rs.map(r => r.getInt(1) -> r.getLong(2)).toMap
      }
    Queries.releaseCaches()
    assert(texts.nonEmpty)
    texts.foreach { case (id, t) =>
      MinHashDefs.minsOf(t) match {
        case None => assert(!sqlMins.contains(id), s"doc $id: SQL kept a shingle-less doc")
        case Some(local) =>
          assert(sqlMins(id).sameElements(local), s"doc $id mins diverge")
          val localBands = MinHashDefs.bandsOf(local)
          (0 until MinHashDefs.Bands).foreach { b =>
            assert(sqlBands(id)(b) == localBands(b), s"doc $id band $b")
          }
      }
    }
  }

  test("dedup df-cut drops are observed for simhash and embed (parity with jaccard)") {
    Queries.clearObserved("simhash_dfcut")
    Queries.clearObserved("embed_dfcut")
    Queries.qDedupSimhash(spark, sf).collect()
    Queries.releaseCaches()
    Queries.qDedupEmbed(spark, sf).collect()
    Queries.releaseCaches()
    for (name <- Seq("simhash_dfcut", "embed_dfcut")) {
      val m = Queries.lastObserved(name)
      assert(m.isDefined, s"observe metric $name not recorded")
      val total = m.get("total_buckets").asInstanceOf[Long]
      val dropped = m.get("dropped_buckets").asInstanceOf[Long]
      assert(total > 0 && dropped >= 0 && dropped <= total, s"$name: $m")
    }
    // peekObserved: the non-blocking absence probe returns immediately
    val t0 = System.nanoTime()
    assert(Queries.peekObserved("never_recorded_metric").isEmpty)
    assert((System.nanoTime() - t0) / 1e6 < 500, "peek must not poll")
  }

  test("ann recall gate: LSH and IVF top-10 recall vs brute force at measured floors") {
    // pins PRUNING QUALITY, not just equality-to-oracle (the oracles
    // prune identically, so a green oracle alone wouldn't catch a
    // recall regression from e.g. a broken signature or probe pick).
    // Floors = values measured at spec-pin time (sf0.001: lsh 5/10,
    // ivf 7/10; sf0.01: lsh 5/10, ivf 9/10) — deterministic, so any
    // drop is a real change.
    val brute = Queries.qAnnCosine(spark, sf).collect().map(_.getLong(0)).toSet
    val lsh = Queries.qAnnLsh(spark, sf).collect().map(_.getLong(0)).toSet
    val ivf = Queries.qAnnIvf(spark, sf).collect().map(_.getLong(0)).toSet
    Queries.releaseCaches()
    assert(brute.size == 10)
    assert((brute & lsh).size >= 5, s"LSH recall@10 dropped: ${(brute & lsh).size}/10")
    assert((brute & ivf).size >= 7, s"IVF recall@10 dropped: ${(brute & ivf).size}/10")
  }

  test("lm perplexity query equals CharNgramLm.advance per doc (same model semantics)") {
    import spark.implicits._
    val texts = spark.read.parquet(s"$sf/documents.parquet")
      .select($"doc_id", $"text").as[(Long, String)].collect()
    val lm = graft.correct.CharNgramLm.train(texts.map(_._2), n = 4)
    val got = Queries.qLmPerplexity(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    Queries.releaseCaches()
    assert(got.size == texts.length)
    texts.foreach { case (id, t) =>
      val (_, nats) = lm.advance(lm.initialState, t)
      val (n, gotNats) = got(id)
      assert(n == t.length.toLong, s"doc $id char count")
      // fixed-point 1e-9 per-char rounding + round-6 output tolerance
      assert(math.abs(nats - gotNats) < 1e-3,
        s"doc $id: advance=$nats query=$gotNats")
    }
  }

  test("length percentiles: histogram+window definition matches a local sort") {
    import spark.implicits._
    val rows = spark.read.parquet(s"$sf/documents.parquet")
      .select($"source", $"text").as[(String, String)].collect()
    val bySource = rows.groupBy(_._1).map { case (src, rs) =>
      src -> rs.map(_._2.split(" ").length).sorted
    }
    def pct(xs: Array[Int], p: Double): Int =
      xs(math.ceil(p * xs.length).toInt - 1) // smallest v with cum >= ceil(p*n)
    val got = Queries.qLenPercentiles(spark, sf).collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getInt(2), r.getInt(3), r.getInt(4))).toMap
    bySource.foreach { case (src, xs) =>
      val (n, p50, p90, p99) = got(src)
      assert(n == xs.length.toLong)
      assert(p50 == pct(xs, 0.5) && p90 == pct(xs, 0.9) && p99 == pct(xs, 0.99),
        s"$src: got ($p50,$p90,$p99) want (${pct(xs, 0.5)},${pct(xs, 0.9)},${pct(xs, 0.99)})")
    }
  }

  test("substring-dup coverage equals a brute-force local interval union") {
    import spark.implicits._
    val K = 40
    val rows = spark.read.parquet(s"$sf/documents.parquet")
      .select($"doc_id", $"text").as[(Long, String)].collect()
    // brute force: grams (by text, not hash) seen in >= 2 distinct docs;
    // per-doc boolean coverage mask
    val byGram = scala.collection.mutable.Map.empty[String, scala.collection.mutable.Set[Long]]
    rows.foreach { case (id, t) =>
      (0 to t.length - K).foreach { i =>
        byGram.getOrElseUpdate(t.substring(i, i + K),
          scala.collection.mutable.Set.empty) += id
      }
    }
    val dupGrams = byGram.filter(_._2.size >= 2).keySet
    val expect = rows.map { case (id, t) =>
      val mask = new Array[Boolean](t.length)
      var n = 0
      (0 to t.length - K).foreach { i =>
        if (dupGrams.contains(t.substring(i, i + K))) {
          n += 1
          (i until i + K).foreach(mask(_) = true)
        }
      }
      id -> (n.toLong, mask.count(identity).toLong)
    }.toMap
    val got = Queries.qSubstringDup(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(2), r.getLong(3))).toMap
    Queries.releaseCaches()
    assert(got.keySet == expect.keySet)
    expect.foreach { case (id, e) =>
      assert(got(id) == e, s"doc $id: got ${got(id)} want $e")
    }
    assert(expect.values.exists(_._2 > 0), "fixture must contain duplicated substrings")
  }

  test("substring-dedup rewrite equals a brute-force first-occurrence mask") {
    import spark.implicits._
    val K = 40
    val rows = spark.read.parquet(s"$sf/documents.parquet")
      .select($"doc_id", $"text").as[(Long, String)].collect().sortBy(_._1)
    // brute force: first occurrence of each gram (by (doc_id, pos)
    // order) keeps its chars; every later occurrence's interval is
    // masked; kept text = unmasked chars in order
    val firstPos = scala.collection.mutable.Map.empty[String, (Long, Int)]
    rows.foreach { case (id, t) =>
      (0 to t.length - K).foreach { i =>
        val g = t.substring(i, i + K)
        if (!firstPos.contains(g)) firstPos(g) = (id, i)
      }
    }
    val expect = rows.map { case (id, t) =>
      val mask = new Array[Boolean](t.length)
      (0 to t.length - K).foreach { i =>
        if (firstPos(t.substring(i, i + K)) != ((id, i)))
          (i until i + K).foreach(mask(_) = true)
      }
      id -> t.zipWithIndex.collect { case (c, i) if !mask(i) => c }.mkString
    }.toMap
    val got = Queries.qSubstringRewrite(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getInt(1), r.getLong(2), r.getString(3))).toMap
    Queries.releaseCaches()
    assert(got.keySet == expect.keySet)
    expect.foreach { case (id, clean) =>
      val (nChars, removed, gotClean) = got(id)
      assert(gotClean == clean, s"doc $id")
      assert(removed == nChars - clean.length, s"doc $id removed count")
    }
    assert(expect.exists { case (id, clean) =>
      clean.length < rows.find(_._1 == id).get._2.length
    }, "fixture must actually remove duplicated substrings somewhere")
  }

  test("semdedup: greedy keep-first — the lowest vec_id of every cell survives") {
    Queries.clearObserved("semdedup_cells")
    val rows = Queries.qSemdedup(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getBoolean(3)))
    Queries.releaseCaches()
    // per cell the first (min vec_id) member has no lower-id neighbor:
    // sentinel similarity and keep must both say so
    rows.groupBy(_._2).foreach { case (cell, members) =>
      val first = members.minBy(_._1)
      assert(first._3 == -2.0 && first._4, s"cell $cell first member ${first._1}")
    }
    // keep is exactly the documented threshold rule
    rows.foreach { case (id, _, sim, keep) =>
      assert(keep == (sim < 0.35), s"vec $id")
    }
    // cluster balance is observed, not assumed
    val obs = Queries.lastObserved("semdedup_cells")
    assert(obs.exists(_("vectors").asInstanceOf[Long] == rows.length))
  }

  test("dsir: importance weights separate the target language from the rest") {
    val rows = Queries.qDsir(spark, sf).collect()
      .map(r => (r.getString(1), r.getLong(2), r.getDouble(3)))
    Queries.releaseCaches()
    assert(rows.length == 500)
    // the en slice IS the target distribution — its mean log-weight
    // must dominate every other language's (the operator's whole point)
    val byLang = rows.groupBy(_._1).view
      .mapValues(xs => xs.map(_._3).sum / xs.length).toMap
    for ((lang, mean) <- byLang if lang != "en")
      assert(byLang("en") > mean + 1.0, s"en ${byLang("en")} vs $lang $mean")
    // weight 0 exactly when a doc has no bigrams
    rows.foreach { case (_, nb, w) => if (nb == 0) assert(w == 0.0) }
  }

  test("bm25: top hits contain a query term, scores non-increasing; corpus never shuffles") {
    val df = Queries.qBm25(spark, sf)
    val rows = df.collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(rows.length == 20)
    assert(rows.forall(_._2 > 0.0))
    // ranking: emitted in score order (ties broken by doc_id upstream)
    assert(rows.map(_._2).sliding(2).forall(p => p.length < 2 || p(0) >= p(1)))
    val texts = spark.read.parquet(s"$sf/documents.parquet")
      .collect().map(r => (r.getLong(0), r.getString(1))).toMap
    rows.foreach { case (id, _) =>
      assert(Queries.Bm25QueryTerms.exists(t => texts(id).split(" ").contains(t))) }
    // plan shape: the only exchanges feed the 1-row stats aggregate and
    // the final top-k — the scored corpus itself never repartitions
    // (scoring is a per-row fold against the broadcast stats)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), "top-k must be TakeOrdered")
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastExchange"),
      "stats must broadcast")
  }

  test("winnow: edge cases (short texts) and structural invariants") {
    import spark.implicits._
    // synthetic table exercising every boundary: empty, < k, k ≤ len <
    // k+w-1 (grams but no window), exactly one window, and a real text
    val tmp = java.nio.file.Files.createTempDirectory("winnow").toString
    Seq((0L, "", "en", "src0", 0L), (1L, "abc", "en", "src0", 3L),
      (2L, "abcdefg", "en", "src0", 7L), (3L, "abcdefgh", "en", "src0", 8L),
      (4L, "the quick brown fox jumps over the dog", "en", "src0", 38L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val rows = Queries.qWinnow(spark, tmp).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(rows(0L) == ((0L, 0L, 0L)))
    assert(rows(1L) == ((0L, 0L, 0L)))       // < k: no grams
    assert(rows(2L)._1 == 3L && rows(2L)._2 == 0L) // grams but no window
    assert(rows(3L)._1 == 4L && rows(3L)._2 == 1L) // exactly one window
    assert(rows(4L)._1 == 34L && rows(4L)._2 >= 1L && rows(4L)._2 <= 31L)
    // fixture-wide invariants: 0 < n_fps ≤ n_windows, xor nonzero
    val fx = Queries.qWinnow(spark, sf).collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(fx.forall { case (ng, nf, x) => nf >= 1 && nf <= ng - 3 && x != 0L })
  }

  test("optimizer-config equality: AQE off yields identical results on shuffle-heavy queries") {
    // different physical plans (no runtime re-plan, no broadcast
    // conversion) must not change VALUES — guards against
    // aggregation-order-sensitive arithmetic sneaking in
    val alt = spark.newSession()
    alt.conf.set("spark.sql.adaptive.enabled", "false")
    for (name <- Seq("q_ngram_jaccard", "q_dedup_groups",
        "q_lm_perplexity", "q_sample_mixture", "q_substring_dup")) {
      val a = SparkEntry.queries(name)(spark, sf).collect().map(_.toString).sorted
      Queries.releaseCaches()
      val b = SparkEntry.queries(name)(alt, sf).collect().map(_.toString).sorted
      Queries.releaseCaches()
      assert(a.sameElements(b), s"$name differs with AQE off")
    }
  }

  test("jaccard df-cut drop count is observed, not silent") {
    Queries.clearObserved("jaccard_dfcut") // don't read an earlier run's value
    Queries.qNgramJaccard(spark, sf).collect()
    Queries.releaseCaches()
    val m = Queries.lastObserved("jaccard_dfcut") // polls: listener bus is async
    assert(m.isDefined, "observe metric jaccard_dfcut not recorded")
    val total = m.get("total_shingles").asInstanceOf[Long]
    val dropped = m.get("dropped_shingles").asInstanceOf[Long]
    assert(total > 0 && dropped >= 0 && dropped <= total)
  }

  test("plan shape: dedup-embed pair-dedup is a narrow HashAggregate, not a wide sort") {
    val plan = Queries.qDedupEmbed(spark, sf).queryExecution.executedPlan.toString
    assert(!plan.contains("SortAggregate"),
      s"duplicate-pair collapse must not sort-shuffle embedding arrays:\n$plan")
    assert(!plan.contains("first("),
      s"no first(embedding) aggregate — score before dedup:\n$plan")
    assert(plan.contains("HashAggregate"), plan)
  }

  test("plan shape: parts-cold is LeftAnti, suppliers-hot is LeftSemi, filters pushed") {
    val anti = Analytics.qPartsCold(spark, sf).queryExecution.executedPlan.toString
    assert(anti.contains("LeftAnti"), anti)
    assert(anti.contains("PushedFilters") && anti.contains("GreaterThan(l_quantity"),
      s"bulk-quantity filter must reach the lineitem scan:\n$anti")
    val semi = Analytics.qSuppliersHot(spark, sf).queryExecution.executedPlan.toString
    assert(semi.contains("LeftSemi"), semi)
    assert(semi.contains("GreaterThan(l_quantity"),
      s"quantity filter must reach the lineitem scan:\n$semi")
  }

  test("plan shape: as-of join is one user_id exchange + window, no range join") {
    val plan = Analytics.qEventsAsof(spark, sf).queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoop"),
      s"as-of must not realize as a range/cross join:\n$plan")
    val windowLines = plan.linesIterator.filter(_.contains("Window ")).toSeq
    assert(windowLines.nonEmpty && windowLines.forall(_.contains("user_id")),
      s"running-last window must be partitioned by user_id:\n$plan")
  }

  test("sessionize: gap rule verified locally; both windows share one user_id exchange") {
    import org.apache.spark.sql.functions._
    val df = Analytics.qSessionize(spark, sf)
    // local recomputation of the gap rule for one user with >1 session
    val multi = df.groupBy("user_id").count().where(col("count") > 1)
      .orderBy("user_id").limit(1).collect()
    assert(multi.nonEmpty, "fixture should contain a user with several sessions")
    val uid = multi(0).getLong(0)
    val times = spark.read.parquet(s"$sf/events.parquet")
      .where(col("user_id") === uid)
      .select(unix_micros(col("ts").cast("timestamp"))).orderBy("ts")
      .collect().map(_.getLong(0)).sorted
    val expectedSessions = 1 + times.sliding(2)
      .count(p => p.length == 2 && p(1) - p(0) > 1800000000L)
    val gotSessions = df.where(col("user_id") === uid).count()
    assert(gotSessions == expectedSessions)
    // plan: the two stacked windows + rollup must not multiply user exchanges
    val plan = df.queryExecution.executedPlan.toString
    val windowLines = plan.linesIterator.filter(_.contains("Window ")).toSeq
    assert(windowLines.nonEmpty && windowLines.forall(_.contains("user_id")),
      s"session windows must be partitioned by user_id:\n$plan")
    val userExchanges = plan.linesIterator
      .count(l => l.contains("Exchange hashpartitioning") && l.contains("user_id"))
    assert(userExchanges <= 2, // one for the windows, one for the rollup
      s"expected at most 2 user_id exchanges, plan:\n$plan")
  }

  test("plan shape: tpch top-customers broadcasts dims; window is partitioned") {
    val plan = Analytics.qTpchTopCustomers(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)
    val windowLines = plan.linesIterator.filter(_.contains("Window ")).toSeq
    assert(windowLines.nonEmpty, plan)
    assert(windowLines.forall(_.contains("n_name")),
      s"rank window must be PARTITIONED by nation, not global:\n$plan")
  }

  test("plan shape: filter pushdown reaches the parquet scan") {
    import org.apache.spark.sql.functions._
    val df = spark.read.parquet(s"$sf/documents.parquet")
      .where(col("doc_id") === 42L).select("doc_id", "lang")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("IsNotNull(doc_id)"),
      s"expected pushed filters, got:\n$plan")
  }

  test("gopher quality: fractions in [0,1], dup >= top coverage bound holds") {
    val rows = Queries.qGopherQuality(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (dup2, top2, dup3) = (r.getDouble(2), r.getDouble(3), r.getDouble(4))
      assert(dup2 >= 0 && dup2 <= 1 && dup3 >= 0 && dup3 <= 1)
      assert(top2 > 0 && top2 <= 1)
      // a bigram occurring k>1 times contributes k-1 dups and k top-count:
      // top_frac <= dup_frac + 1/n (up to the 6-decimal output rounding)
      assert(top2 <= dup2 + 1.0 / r.getInt(1) + 1.1e-6, r.toString)
    }
  }

  test("pii redact: counts follow the deterministic augment populations; masks applied") {
    val rows = Queries.qPiiRedact(spark, sf).collect()
    rows.foreach { r =>
      val id = r.getLong(0)
      assert(r.getInt(1) == (if (id % 7 == 0) 1 else 0), s"emails @$id")
      assert(r.getInt(2) == (if (id % 11 == 0) 1 else 0), s"phones @$id")
      assert(r.getInt(3) == (if (id % 13 == 0) 1 else 0), s"ips @$id")
      val red = r.getString(4)
      assert(!red.contains("@example.com") && !red.contains("555-0"))
      if (id % 7 == 0) assert(red.contains("[EMAIL]"))
      if (id % 11 == 0) assert(red.contains("[PHONE]"))
      if (id % 13 == 0) assert(red.contains("[IP]"))
    }
  }

  test("decontaminate: benchmark docs excluded; bench-gram side is broadcast") {
    val df = Queries.qDecontaminate(spark, sf)
    val rows = df.collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(0) >= 10, "benchmark docs must not flag themselves")
      assert(r.getLong(1) > 0)
    }
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"fixed-size benchmark gram set must broadcast — corpus side never shuffles for the join:\n$plan")
  }

  test("tfidf: rank window is doc-partitioned; doc-term aggregate reused via cache") {
    val df = Queries.qTfidfTop(spark, sf)
    try {
      val rows = df.collect()
      assert(rows.nonEmpty)
      // every doc contributes at most 5 ranked terms, ranks are 1..k dense
      rows.groupBy(_.getLong(0)).values.foreach { rs =>
        val rks = rs.map(_.getInt(1)).sorted
        assert(rks.length <= 5 && rks.sameElements(1 to rks.length))
      }
      val plan = df.queryExecution.executedPlan.toString
      val windowLines = plan.linesIterator.filter(_.contains("Window ")).toSeq
      assert(windowLines.nonEmpty && windowLines.forall(_.contains("doc_id")),
        s"rank window must be PARTITIONED by doc_id, never global:\n$plan")
      // the explode+agg runs once: consumers read the persisted doc-term
      // aggregate (InMemoryTableScan), not three separate parquet scans
      assert(plan.contains("InMemoryTableScan"), plan)
    } finally Queries.releaseCaches()
  }

  test("chunking: exact chunks vs independent JVM recomputation; window/stride invariants") {
    val expected = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text").collect()
      .flatMap { r =>
        val w = r.getString(1).split(" ").filter(_.nonEmpty)
        if (w.isEmpty) Seq.empty
        else {
          val kmax = math.max(math.ceil((w.length - 64) / 48.0).toInt, 0)
          (0 to kmax).map(k =>
            (r.getLong(0), k, w.slice(k * 48, k * 48 + 64).mkString(" ")))
        }
      }.sortBy(t => (t._1, t._2))
    val got = Queries.qChunkFixed(spark, sf).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2)))
    assert(got.length == expected.length)
    assert(got.sameElements(expected))
    got.foreach { case (_, _, c) =>
      assert(c.split(" ").length <= 64) }
  }

  test("packing: exact cover of all chunks, budget respected, deterministic") {
    val chunks = Queries.qChunkFixed(spark, sf).collect()
      .map(r => (s"${r.getLong(0)}:${r.getInt(1)}", r.getInt(3))).toMap
    val packs = Queries.qPackSequences(spark, sf).collect()
    // exact cover: every chunk in exactly one pack
    val packed = packs.flatMap(_.getString(3).split(","))
    assert(packed.length == chunks.size && packed.toSet == chunks.keySet)
    packs.foreach { p =>
      val members = p.getString(3).split(",")
      assert(p.getInt(1) == members.length)
      assert(p.getInt(2) == members.map(chunks).sum, p.toString)
      assert(p.getInt(2) <= 256 || members.length == 1)
    }
    // deterministic within a session/config
    val again = Queries.qPackSequences(spark, sf).collect().map(_.toString)
    assert(again.sameElements(packs.map(_.toString)))
  }

  test("stratified sample: exact kept-set vs independent JVM recomputation; scan-only plan") {
    def u(docId: Long): Double = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(docId.toString.getBytes("UTF-8"))
        .map(b => f"$b%02x").mkString
      java.lang.Long.parseLong(hex.substring(0, 15), 16) / math.pow(2, 60)
    }
    def rate(src: String): Double = {
      val n = src.drop(3).toInt
      if (n < 5) 0.9 else if (n < 10) 0.5 else 0.1
    }
    val all = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "source").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val expected = all.filter { case (id, src) => u(id) < rate(src) }
      .map(_._1).sorted
    val df = Queries.qSampleStratified(spark, sf)
    val got = df.collect().map(_.getLong(0))
    assert(got.sameElements(expected),
      s"sample mismatch: got ${got.length}, expected ${expected.length}")
    // scan-only: the sampling decision is per-row local; the only
    // exchange allowed is the presentation sort's range partitioning
    val plan = df.queryExecution.executedPlan.toString
    val exchanges = plan.linesIterator.filter(_.contains("Exchange")).toSeq
    assert(exchanges.forall(_.contains("rangepartitioning")),
      s"sampling must not shuffle (only the final sort may):\n$plan")
  }

  test("main content: largest contiguous unique-span block, earliest on tie") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-mc").toString
    // doc 0: 5 spans, span 2 shared with doc 1 -> two 2-span islands, tie
    // doc 1: shared span then one unique span
    // doc 2: all unique -> the whole doc is the block
    Seq(
      (0L, "a01 a02 a03 a11 a12 a13 sh1 sh2 sh3 a21 a22 a23 a31 a32 a33"),
      (1L, "sh1 sh2 sh3 b11 b12 b13"),
      (2L, "c01 c02 c03 c11 c12 c13 c21 c22 c23"))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = Queries.qMainContent(spark, dir).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3), r.getString(4)))
    assert(got.toSeq == Seq(
      (0L, 0, 2, 2, "a01 a02 a03 a11 a12 a13"), // tie of two islands -> earliest
      (1L, 2, 2, 1, "b11 b12 b13"),
      (2L, 0, 4, 3, "c01 c02 c03 c11 c12 c13 c21 c22 c23")))
  }

  test("quality classifier: per-row scoring matches a local recompute; no hash shuffle, no explode") {
    import org.apache.spark.sql.functions._
    val df = Queries.qQualityClassifier(spark, sf)
    val got = df.collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    // local recompute of the hash + weight formula for a sample of docs
    def weight(tok: String): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(tok.getBytes("UTF-8"))
      val hex = md.map("%02x".format(_)).mkString.take(15)
      val h = java.lang.Long.parseLong(hex, 16)
      (h % 1024L) * 2654435761L % 1001L - 500L
    }
    val texts = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1))).toMap
    got.take(20).foreach { case (id, score, keep) =>
      val exp = texts(id).split(" ").filter(_.nonEmpty).map(weight).sum
      assert(score == exp, s"doc $id")
      assert(keep == (exp > 0))
    }
    // data path is scan -> per-row project; only the presentation sort
    // may repartition (range), never a hash exchange or a Generate
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning"), plan)
    assert(!plan.contains("Generate"), plan)
  }

  test("crawl frontier: priority join drops no allowed URL; output sorted by rank desc") {
    val rows = Queries.qCrawlFrontier(spark, sf).collect()
    assert(rows.nonEmpty)
    // every canonical article URL is a link-graph src node: the robots
    // pass count must survive the rank join intact
    val robotsAllowed = Queries.qRobotsFilter(spark, sf).count()
    assert(rows.length.toLong == robotsAllowed)
    val ranks = rows.map(_.getLong(2)).toSeq
    assert(ranks == ranks.sortBy(-_), "frontier must be priority-ordered")
  }

  test("bloom incremental dedup: bit-identical to the plain anti-join; prefilter has no false negatives") {
    import spark.implicits._
    Queries.clearObserved("bloom_prefilter")
    val got = Queries.qDedupBloom(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    // independent recomputation WITHOUT the bloom: plain anti-join
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    import org.apache.spark.sql.functions._
    val hist = docs.where($"doc_id" % 3 =!= 0).select(md5($"text").as("h"))
    val next = docs.select(($"doc_id" - 1).as("doc_id"), $"text".as("next_text"))
    val batch = docs.where($"doc_id" % 3 === 0).join(next, "doc_id")
      .select($"doc_id",
        md5(when($"doc_id" % 6 === 0, $"next_text").otherwise($"text")).as("h"))
    val expected = batch.join(hist, Seq("h"), "left_anti")
      .select($"doc_id", $"h").orderBy($"doc_id").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    assert(got.toSeq == expected.toSeq)
    // no false negatives: every true duplicate must be a bloom candidate,
    // so candidates >= (batch - new) — and the observe is recorded at all
    val m = Queries.lastObserved("bloom_prefilter").get
    val batchTotal = m("batch_total").asInstanceOf[Long]
    val candidates = m("candidates").asInstanceOf[Long]
    assert(batchTotal == batch.count())
    assert(candidates >= batchTotal - got.length)
  }

  test("paragraph dedup: first occurrence kept, later dupes dropped, empty docs removed") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-pdedup").toString
    // paragraphs are 8-word chunks; A/B/C are exactly 8 words each
    val A = (1 to 8).map(i => s"a$i").mkString(" ")
    val B = (1 to 8).map(i => s"b$i").mkString(" ")
    val C = (1 to 8).map(i => s"c$i").mkString(" ")
    Seq(
      (0L, s"$A $B"), // both first occurrences -> kept whole
      (1L, s"$B $C"), // B already seen in doc 0 -> only C survives
      (2L, s"$A $B")) // nothing new -> dropped entirely
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = Queries.qParagraphDedup(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    assert(got.toSeq == Seq(
      (0L, 2L, 2L, s"$A\n$B"),
      (1L, 2L, 1L, C)))
  }

  test("paragraph dedup: a doc with 100,001 chunks keeps all its paragraphs") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-pdedup-big").toString
    // doc 0's chunk 100000 must stay doc 0's: a decimal (doc_id, idx)
    // packing with a 100,000 stride hands it to doc 1
    val n = 100001
    val big = (0 until n).map(i => s"p$i a a a a a a a").mkString(" ")
    val B = (1 to 8).map(i => s"b$i").mkString(" ")
    Seq((0L, big), (1L, B)).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = Queries.qParagraphDedup(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    Queries.releaseCaches()
    assert(got.map(r => (r._1, r._2, r._3)).toSeq == Seq((0L, n.toLong, n.toLong), (1L, 1L, 1L)))
    assert(got(0)._4 == (0 until n).map(i => s"p$i a a a a a a a").mkString("\n"))
    assert(got(1)._4 == B)
  }

  test("pmi bigrams: collocated pair scores above independent pair; value matches local recompute") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-pmi").toString
    // "x y" always adjacent (perfect collocation); "a b" co-occur at chance
    val doc = ("x y " * 5) + ("a b " * 3) + ("b a " * 3)
    Seq.tabulate(5)(i => (i.toLong, doc.trim))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = Queries.qPmiBigrams(spark, dir).collect()
      .map(r => ((r.getString(0), r.getString(1)), (r.getLong(2), r.getDouble(3))))
      .toMap
    // counts per doc: 22 tokens -> 21 bigrams; x:5 y:5 a:6 b:6 per doc
    val nW = 22.0 * 5; val nBi = 21.0 * 5
    val xy = got(("x", "y"))
    assert(xy._1 == 25L)
    assert(math.abs(xy._2 -
      BigDecimal(math.log(25.0 * nW * nW / (nBi * 25 * 25)))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble) < 1e-9)
    // perfect collocation ranks above chance co-occurrence
    assert(xy._2 > got(("a", "b"))._2)
    // a/b counts: "a b a b a b b a b a b a" -> a->b 5, b->a 5 per doc
    assert(got(("a", "b"))._1 == 25L && got(("b", "a"))._1 == 25L)
  }

  test("setsim join: prefix filter is complete — matches local brute force over ALL pairs") {
    // brute force with the shared shingle/hash twins (MinHashDefs) over
    // every pair at sf0.001: any pair the prefix filter dropped would
    // be missing here
    val texts = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
      .filter(_._2.length >= 8)
    val sets = texts.map { case (id, t) =>
      (id, MinHashDefs.shingles8(t).map(MinHashDefs.hash60).toSet)
    }
    val expected = (for {
      (i, a) <- sets; (j, b) <- sets if i < j
      inter = (a & b).size
      if 19L * inter >= 9L * (a.size + b.size)
    } yield (i, j, inter.toLong, (a.size + b.size - inter).toLong)).sorted
    val got = Queries.qSetsimJoin(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got.nonEmpty && got == expected.toSeq)
    Queries.releaseCaches()
  }

  test("scd current: latest-wins per user matches local recompute; aggregate, not a window") {
    val df = Analytics.qScdCurrent(spark, sf)
    val got = df.collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getString(3), r.getLong(4))))
    val expected = spark.read.parquet(s"$sf/events.parquet").collect()
      .map(r => (r.getLong(2), (r.getAs[java.time.LocalDateTime](1), r.getLong(0),
        r.getString(3), math.round(r.getDouble(4) * 100))))
      .groupBy(_._1).view.mapValues(_.map(_._2).maxBy(t => (t._1.toString, t._2)))
      .toMap
    assert(got.length == expected.size)
    for ((u, (us, eid, tpe, c)) <- got) {
      val e = expected(u)
      assert(eid == e._2 && tpe == e._3 && c == e._4, s"user $u")
      assert(us == e._1.toInstant(java.time.ZoneOffset.UTC).toEpochMilli * 1000 +
        e._1.getNano / 1000 % 1000, s"user $u ts")
    }
    // one struct-max hash aggregate; never a per-user sort window
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), plan)
  }

  test("stupid backoff: all four backoff branches score as hand-computed") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-sb").toString
    // doc 0 (even -> TRAINS): every its own trigram is seen -> logprob 0
    // doc 3 (odd -> held out): exercises seen / bigram-backoff /
    // unigram-backoff / floor, one position each
    Seq((0L, "a b c d e"), (3L, "b c d q c d"))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = Queries.qStupidBackoff(spark, dir).collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getDouble(2)))).toMap
    Queries.releaseCaches()
    def nats9(s: Double): Long = math.round(math.log(s) * 1e9)
    def r6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got(0L) == ((3L, 0.0))) // (abc)(bcd)(cde) all seen with ratio 1
    // doc 3: (b,c,d) seen 1/1; (c,d,q) floor 0.4^3/5; (d,q,c) unigram
    // 0.16*c1(c)/5; (q,c,d) bigram 0.4*c2(cd)/c1(c)
    val expected = Seq(1.0, 0.064 / 5, 0.16 * 1 / 5.0, 0.4 * 1 / 1.0)
      .map(nats9).sum / 1e9
    assert(got(3L)._1 == 4L)
    assert(got(3L)._2 == r6(expected), s"${got(3L)._2} vs $expected")
  }

  test("jl projection: formula exact on basis vectors; signs balanced; scan-only plan") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-jl").toString
    // basis vector e_i must project to column i of the sign matrix / sqrt(8);
    // the zero vector to zeros; a scaled basis vector scales linearly
    val vecs = (0 until 16).map(i =>
      (i.toLong, Array.tabulate(16)(d => if (d == i) 1.0f else 0.0f))) ++
      Seq((16L, Array.fill(16)(0.0f)), (17L, Array.tabulate(16)(d => if (d == 3) 2.5f else 0.0f)))
    vecs.toDF("vec_id", "embedding")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val got = Queries.qJlProject(spark, dir).collect()
      .map(r => (r.getLong(0), (1 to 8).map(r.getDouble).toArray)).toMap
    def r6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    for (i <- 0 until 16; j <- 0 until 8)
      assert(got(i.toLong)(j) == r6(Queries.JlSigns(i)(j) / math.sqrt(8)), s"e$i y$j")
    assert(got(16L).forall(_ == 0.0))
    for (j <- 0 until 8)
      assert(got(17L)(j) == r6(2.5 * Queries.JlSigns(3)(j) / math.sqrt(8)), s"scaled y$j")
    // a degenerate all-equal sign column would make that output dim
    // just the (scaled) component sum — the hash matrix must mix
    for (j <- 0 until 8)
      assert(math.abs(Queries.JlSigns.map(_(j)).sum) < 16, s"column $j constant")
    // pure per-row projection: the only exchange is the presentation sort
    val df = Queries.qJlProject(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    val exchanges = plan.linesIterator.filter(_.contains("Exchange")).toSeq
    assert(exchanges.forall(_.contains("rangepartitioning")), plan)
  }

  test("cocitation: pairs and min-weight strength match a local recompute") {
    val ids = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id").collect().map(_.getLong(0))
    def host(g: Long) = (g % 3) match {
      case 0 => "news.example.org"; case 1 => "blog.example.org"
      case _ => "www.example.net"
    }
    val edges = ids.flatMap { id =>
      val g = id % 97; val g2 = (id * 7 + 13) % 97
      val src = s"https://${host(g)}/articles/$g"
      Seq((src, s"https://www.example.net/?page=${id % 4}&sort=asc"),
        (src, s"https://${host(g2)}/articles/$g2"))
    }.groupBy(identity).view.mapValues(_.length.toLong).toMap
    val expected = edges.keys.groupBy(_._1).values.flatMap { ds =>
      val dsts = ds.map(_._2).toSeq.sorted
      for {
        i <- dsts.indices; j <- (i + 1) until dsts.length
        s = ds.head._1
      } yield ((dsts(i), dsts(j)), (1L, math.min(edges((s, dsts(i))), edges((s, dsts(j))))))
    }.groupBy(_._1).view
      .mapValues(v => (v.map(_._2._1).sum, v.map(_._2._2).sum)).toMap
    val got = Queries.qCocitation(spark, sf).collect()
      .map(r => ((r.getString(0), r.getString(1)), (r.getLong(2), r.getLong(3)))).toMap
    assert(got == expected)
    assert(got.nonEmpty)
  }

  test("hits: sinks have hub 0, sources auth 0, max-normalization hits SCALE exactly") {
    val rows = Queries.qHits(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    Queries.releaseCaches()
    val (navs, arts) = rows.partition(_._1.contains("?page="))
    // nav pages have no outlinks -> pure authorities (hub 0)
    assert(navs.nonEmpty && navs.forall(_._3 == 0L))
    // article pages are the only sources; at least one pure hub exists
    assert(arts.forall(t => t._3 > 0L || t._2 > 0L))
    // L-inf normalization: the max of each score vector is exactly SCALE
    assert(rows.map(_._2).max == 1000000L && rows.map(_._3).max == 1000000L)
    // authority mass concentrates on the 4 shared nav targets
    val topAuth = rows.sortBy(-_._2).take(4).map(_._1).toSet
    assert(topAuth == navs.map(_._1).toSet)
  }

  test("ppl buckets: tertiles ordered head<=middle<=tail; sample cut via TakeOrdered") {
    val df = Queries.qPplBuckets(spark, sf)
    val rows = df.collect().map(r => (r.getDouble(1), r.getString(2)))
    Queries.releaseCaches()
    val byBucket = rows.groupBy(_._2).view.mapValues(_.map(_._1)).toMap
    assert(byBucket.keySet == Set("head", "middle", "tail"))
    assert(byBucket("head").max <= byBucket("middle").min)
    assert(byBucket("middle").max <= byBucket("tail").min)
    // at sf0.001 the sample IS the corpus -> tertile sizes within 1 of n/3
    val n = rows.length
    byBucket.values.foreach(v =>
      assert(math.abs(v.size - n / 3.0) <= 2, byBucket.view.mapValues(_.size).toMap))
    // the calibration sample must be a bounded top-k, not a global sort
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan)
  }

  test("weighted sampling: ES selection matches local recompute; TakeOrdered, no global sort") {
    val df = Queries.qSampleWeighted(spark, sf)
    val got = df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    def u(docId: Long): Double = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(docId.toString.getBytes("UTF-8"))
        .map(b => f"$b%02x").mkString
      java.lang.Long.parseLong(hex.substring(0, 15), 16) / math.pow(2, 60)
    }
    val all = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "n_chars").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val expected = all.map { case (id, n) =>
      (id, n, BigDecimal(-math.log(u(id)) / n)
        .setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }.sortBy(t => (t._3, t._1)).take(100)
    assert(got.toSeq == expected.toSeq)
    // selection is a TakeOrderedAndProject (k-slot heaps, no global sort)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan)
  }
}
