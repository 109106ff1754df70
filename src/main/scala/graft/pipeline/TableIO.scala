package graft.pipeline

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, Encoders, Observation, Row,
  SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}

/** Iceberg-shaped table IO (SURVEY.md §7.5). The sandbox has no Iceberg
  * runtime jars, so the snapshot/commit semantics of the north rule are
  * emulated over Parquet with METADATA-POINTER commits, the same shape
  * real Iceberg uses:
  *
  *  - data files are written ONCE under an attempt-scoped directory
  *    (`data/<attempt>-<seq>/bucket=N/part-*.parquet`) and NEVER moved
  *    or renamed afterwards;
  *  - a bucket COMMITS by creating its manifest
  *    (`_manifests/bucket-N.json`), which records the ABSOLUTE data
  *    file list plus per-partition lineage stats (row/span counts,
  *    doc_id range, checksum). The manifest is written to a temp name
  *    and renamed into place: single-file rename is atomic on
  *    HDFS/file:, and on S3A the copy creates the destination object
  *    fully formed — a reader never observes a truncated manifest, and
  *    there is NO directory rename anywhere in the commit path (the
  *    round-4 S3A caveat);
  *  - readers resolve the table EXCLUSIVELY through manifests, so
  *    orphaned files from failed attempts are invisible (vacuum()
  *    reclaims them);
  *  - a snapshot file (`_snapshot-K.json`) lists the committed buckets
  *    + job metrics — the Iceberg snapshot-summary analogue.
  *
  * Resume = re-run the same write; committed buckets are filtered out
  * before any work happens (predicate on the bucket column → only
  * pending docs are scanned). Swapping in real Iceberg later is one
  * implementation of this seam.
  *
  * ALL filesystem access goes through the Hadoop FileSystem resolved
  * from the table path — manifests, snapshots and data files work
  * identically on file:/, HDFS and S3A (java.nio would silently write
  * driver-local paths). A `file:` root resolves to
  * [[NioLocalFileSystem]], in the table calls here and, through writer
  * options, in the data write job: stock `LocalFileSystem` semantics
  * (modes, `.crc` sidecars), but without libhadoop it starts no `chmod`
  * process per created file and directory. The options bind only the
  * `file` scheme, so other schemes resolve as the Hadoop conf says. */
object TableIO {

  final case class BucketManifest(bucket: Int, numDocs: Long, numSpans: Long,
      minDocId: String, maxDocId: String, checksum: Long, attemptId: String,
      files: Seq[String] = Nil)

  /** Test-only failure injection: throw after committing N buckets. */
  final class InjectedFailure(msg: String) extends RuntimeException(msg)

  /** The table root's FileSystem under a copy of `conf` with
    * [[NioLocalFileSystem.WriteOptions]] set: [[NioLocalFileSystem]] for
    * a `file:` root, the configured one for any other scheme. */
  private def fsFor(conf: Configuration, path: String): (FileSystem, Path) = {
    val c = new Configuration(conf)
    NioLocalFileSystem.WriteOptions.foreach { case (k, v) => c.set(k, v) }
    val p = new Path(path)
    (p.getFileSystem(c), p)
  }
  /** Active-session Hadoop conf when one exists; a plain Configuration
    * otherwise — table inspection must work SESSIONLESS (e.g. checking
    * resume state before building a SparkSession). */
  private def defaultConf(): Configuration =
    SparkSession.getActiveSession
      .map(_.sparkContext.hadoopConfiguration)
      .getOrElse(new Configuration())
  /** The fixed schema of the data files: reads pass it, so building a
    * reader starts no footer-inference job. */
  private lazy val DocSchema: StructType = Encoders.product[Doc].schema
  private def manifestDir(root: Path): Path = new Path(root, "_manifests")
  private def dataDir(root: Path): Path = new Path(root, "data")

  private def committedBuckets(fs: FileSystem, root: Path): Set[Int] = {
    val dir = manifestDir(root)
    if (!fs.exists(dir)) Set.empty
    else fs.listStatus(dir).iterator.map(_.getPath.getName)
      .collect { case s if s.startsWith("bucket-") && s.endsWith(".json") =>
        s.stripPrefix("bucket-").stripSuffix(".json").toInt
      }.toSet
  }

  def committedBuckets(path: String,
      conf: Configuration = null): Set[Int] = {
    val (fs, root) = fsFor(Option(conf).getOrElse(defaultConf()), path)
    committedBuckets(fs, root)
  }

  /** Atomic single-file publish: write to a dot-temp sibling, rename
    * into place. Readers either see the complete file or none. */
  private def publishString(fs: FileSystem, p: Path, s: String): Unit = {
    val tmp = new Path(p.getParent, s".${p.getName}.tmp")
    val out = fs.create(tmp, true)
    try out.write(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    if (fs.exists(p)) fs.delete(p, false)
    if (!fs.rename(tmp, p))
      throw new java.io.IOException(s"manifest publish $tmp -> $p failed")
  }

  /** A fresh attempt-scoped data directory: `<attemptId>-<seq>` with
    * the first free sequence number (a RETRY of the same attemptId must
    * not overwrite data files referenced by already-committed
    * manifests — files are immutable once written). */
  private def freshAttemptDir(fs: FileSystem, root: Path,
      attemptId: String): Path = {
    var seq = 0
    var p = new Path(dataDir(root), s"$attemptId-$seq")
    while (fs.exists(p)) { seq += 1; p = new Path(dataDir(root), s"$attemptId-$seq") }
    p
  }

  /** Bucketed, idempotent, resumable write with metadata-pointer
    * commits. Returns newly committed bucket manifests. */
  def writeDocs(docs: Dataset[Doc], path: String, buckets: Int = 32,
      attemptId: String = "attempt-0",
      failAfterBuckets: Option[Int] = None,
      metrics: Option[Metrics] = None): Seq[BucketManifest] = {
    val spark = docs.sparkSession
    import spark.implicits._
    val (fs, root) = fsFor(spark.sparkContext.hadoopConfiguration, path)
    fs.mkdirs(manifestDir(root))
    fs.mkdirs(dataDir(root))
    val done = committedBuckets(fs, root)
    val pending = (0 until buckets).filterNot(done.contains)
    if (pending.isEmpty) return Seq.empty

    val withBucket = docs
      .withColumn("bucket", pmod(xxhash64($"doc_id"), lit(buckets)).cast("int"))
      .where($"bucket".isin(pending: _*))
    commitBuckets(fs, root, withBucket, buckets, pending, attemptId, failAfterBuckets,
      (snapN, all) => {
        // job metrics ride the snapshot (the Iceberg snapshot-summary
        // analogue); read after the write job has filled them
        val metricsJson = metrics.map { m =>
          s""","metrics":{"docs":${m.docs.value},"textSpans":${m.textSpans.value},""" +
            s""""mediaSpans":${m.mediaSpans.value},"spansChanged":${m.spansChanged.value},""" +
            s""""chars":${m.chars.value}}"""
        }.getOrElse("")
        s"""{"snapshot":$snapN,"attempt":${jsonString(attemptId)},""" +
          s""""buckets":[${all.mkString(",")}]$metricsJson}"""
      })
  }

  /** The one commit of [[writeDocs]] and [[mergeDocs]]: write `rows`
    * (Doc columns + `bucket` in `[0, numBuckets)`) once under a fresh
    * attempt dir, publish one manifest per bucket in `buckets` (in
    * order; `failAfterBuckets` throws after that many), then the
    * snapshot `snapshot(snapN, allCommittedBuckets)`.
    *
    * One Spark job: the per-bucket lineage stats are observed in the
    * write's result stage (`observe` after the rebalance exchange), the
    * task-side analogue of commit messages. Only successful task
    * attempts count, so a retried write task is counted once, and the
    * rows are computed once — no persist and no second pass over them.
    *
    * Layout: the write clusters rows by bucket (a rebalance exchange),
    * so each bucket is written by one task — one file — unless it
    * exceeds the adaptive advisory partition size, when AQE splits it
    * over several tasks (files) rather than putting a whole bucket of a
    * large table in one task. */
  private def commitBuckets(fs: FileSystem, root: Path, rows: DataFrame,
      numBuckets: Int, buckets: Seq[Int], attemptId: String,
      failAfterBuckets: Option[Int],
      snapshot: (Int, Seq[Int]) => String): Seq[BucketManifest] = {
    val attemptDir = freshAttemptDir(fs, root, attemptId)
    val observed = Observation("tableio_bucket_stats")
    rows.hint("rebalance", col("bucket"))
      .observe(observed, udaf(new BucketStatsAgg(numBuckets), StatsInEncoder)(
        col("bucket"), col("doc_id"), size(col("spans")),
        xxhash64(col("doc_id"), to_json(col("spans")))).as("stats"))
      .write.mode(SaveMode.ErrorIfExists)
      .options(NioLocalFileSystem.WriteOptions)
      .partitionBy("bucket").parquet(attemptDir.toString)
    // empty when the write ran no task over a row (an empty input)
    val stats = observed.get.get("stats").map { v =>
      val r = v.asInstanceOf[Row]
      StatsBuf(r.getSeq[Long](0).toArray, r.getSeq[Long](1).toArray,
        r.getSeq[String](2).toArray, r.getSeq[String](3).toArray,
        r.getSeq[Long](4).toArray)
    }
    def manifest(b: Int): BucketManifest = stats match {
      case Some(s) if s.docs(b) > 0 => BucketManifest(b, s.docs(b), s.spans(b),
        s.minIds(b), s.maxIds(b), s.xors(b), attemptId)
      case _ => BucketManifest(b, 0L, 0L, "", "", 0L, attemptId)
    }

    // the manifest records the ABSOLUTE file list; data files stay where
    // the tasks wrote them — the manifest CREATE is the commit. One
    // listing of the attempt dir finds the bucket dirs and one multi-path
    // listStatus lists them (a recursive listFiles builds a
    // LocatedFileStatus per file, which reads the file's permission; on
    // file: without native Hadoop that read starts a process per file,
    // which NioLocalFileSystem does not change: 65–125 ms for 9
    // files on a 4-core box, against ~1 ms for these two calls).
    val bucketDirs = fs.listStatus(attemptDir).map(_.getPath)
      .filter(_.getName.startsWith("bucket="))
    val files = fs.listStatus(bucketDirs).toSeq.map(_.getPath)
      .filter(_.getName.startsWith("part-"))
      .groupMap(_.getParent.getName.stripPrefix("bucket=").toInt)(_.toString)
    // a bucket gets a data file only from a row, so a file without an
    // observed row means the stats were lost: fail before any commit
    val unobserved = files.keys.filter(manifest(_).numDocs == 0)
    if (unobserved.nonEmpty) throw new IllegalStateException(
      s"buckets ${unobserved.toSeq.sorted.mkString(",")} have data files but no observed rows")
    val committed = scala.collection.mutable.ArrayBuffer.empty[BucketManifest]
    for (b <- buckets) {
      val m = manifest(b).copy(files = files.getOrElse(b, Nil).sorted)
      publishString(fs, new Path(manifestDir(root), s"bucket-$b.json"),
        manifestJson(m))
      committed += m
      failAfterBuckets.foreach { k =>
        if (committed.length >= k && b != buckets.last)
          throw new InjectedFailure(s"injected failure after $k buckets")
          // uncommitted attempt files stay on disk as orphans —
          // invisible to readers (manifest-driven), reclaimed by vacuum()
      }
    }
    val snapN = fs.listStatus(root).iterator
      .count(_.getPath.getName.startsWith("_snapshot-"))
    publishString(fs, new Path(root, s"_snapshot-$snapN.json"),
      snapshot(snapN, committedBuckets(fs, root).toSeq.sorted))
    committed.toSeq
  }

  /** One row of [[BucketStatsAgg]]: a doc's bucket, id, span count and
    * row hash. */
  private[pipeline] final case class StatsIn(bucket: Int, docId: String,
      numSpans: Int, hash: Long)
  /** Per-bucket lineage stats, slot b for bucket b: doc count, span sum,
    * min and max doc_id (null while the bucket has no id) and the
    * `bit_xor` of the row hashes. */
  private[pipeline] final case class StatsBuf(docs: Array[Long],
      spans: Array[Long], minIds: Array[String], maxIds: Array[String],
      xors: Array[Long])
  /** Derived once: each derivation reflects over the case class, which
    * took ≈24 ms of driver time per commit on a 4-core box. */
  private lazy val StatsInEncoder: Encoder[StatsIn] = Encoders.product[StatsIn]
  private lazy val StatsBufEncoder: Encoder[StatsBuf] = Encoders.product[StatsBuf]

  /** The five per-bucket stats of `numBuckets` buckets as one typed
    * aggregate: one array slot per bucket instead of five conditional
    * aggregates per bucket, each evaluated on every row. Ids are ordered
    * like Spark's `min`/`max` on strings. */
  private[pipeline] final class BucketStatsAgg(numBuckets: Int)
      extends Aggregator[StatsIn, StatsBuf, StatsBuf] {
    def zero: StatsBuf = StatsBuf(new Array[Long](numBuckets),
      new Array[Long](numBuckets), new Array[String](numBuckets),
      new Array[String](numBuckets), new Array[Long](numBuckets))
    def reduce(s: StatsBuf, r: StatsIn): StatsBuf = {
      val b = r.bucket
      s.docs(b) += 1
      s.spans(b) += r.numSpans
      s.xors(b) ^= r.hash
      s.minIds(b) = minId(s.minIds(b), r.docId)
      s.maxIds(b) = maxId(s.maxIds(b), r.docId)
      s
    }
    def merge(s: StatsBuf, t: StatsBuf): StatsBuf = {
      var b = 0
      while (b < numBuckets) {
        s.docs(b) += t.docs(b)
        s.spans(b) += t.spans(b)
        s.xors(b) ^= t.xors(b)
        s.minIds(b) = minId(s.minIds(b), t.minIds(b))
        s.maxIds(b) = maxId(s.maxIds(b), t.maxIds(b))
        b += 1
      }
      s
    }
    def finish(s: StatsBuf): StatsBuf = s
    def bufferEncoder: Encoder[StatsBuf] = StatsBufEncoder
    def outputEncoder: Encoder[StatsBuf] = StatsBufEncoder
  }

  private def minId(x: String, y: String): String =
    if (x == null || (y != null && compareCodePoints(y, x) < 0)) y else x
  private def maxId(x: String, y: String): String =
    if (x == null || (y != null && compareCodePoints(y, x) > 0)) y else x

  /** Spark's string order: UTF-8 bytes, which is code-point order.
    * `String.compareTo` compares UTF-16 units, which put U+E000–U+FFFF
    * above the supplementary characters. */
  private def compareCodePoints(x: String, y: String): Int = {
    var i = 0
    var j = 0
    while (i < x.length && j < y.length) {
      val cx = x.codePointAt(i)
      val cy = y.codePointAt(j)
      if (cx != cy) return Integer.compare(cx, cy)
      i += Character.charCount(cx)
      j += Character.charCount(cy)
    }
    Integer.compare(x.length - i, y.length - j)
  }

  /** Copy-on-write MERGE — the Iceberg `MERGE INTO` (COW strategy)
    * analogue: upsert `updates` into the committed table by doc_id.
    * Only buckets containing an updated key are rewritten — each
    * affected bucket's new data = updates ∪ (its existing rows whose
    * doc_id was NOT updated), written ONCE under a fresh attempt dir;
    * the commit REPOINTS the affected bucket manifests (atomic
    * single-file publish). Untouched buckets keep their manifests
    * verbatim, and the superseded data files stay on disk — the
    * previous snapshot still describes a consistent table (time
    * travel) until vacuum() reclaims them. A crash mid-publish leaves
    * a prefix of affected buckets repointed; every manifest remains
    * individually consistent (lineage stats intact) and re-running
    * the same merge rewrites identical content (idempotence is
    * spec-pinned by checksum equality).
    *
    * Scale shape: the existing side reads ONLY the affected buckets'
    * files (manifest-driven pruning — an update touching 3 of 4096
    * buckets scans 3 buckets of a 100-TB table); both sides carry the
    * same xxhash64(doc_id) % buckets key so the anti-join
    * co-partitions; lineage stats are observed in the one write job,
    * exactly like writeDocs. The keyed updates stay persisted: the
    * affected-bucket collect and the merge both consume them.
    * `updates` must carry unique doc_ids (the MERGE contract). */
  def mergeDocs(updates: Dataset[Doc], path: String, buckets: Int = 32,
      attemptId: String = "merge-0"): Seq[BucketManifest] = {
    val spark = updates.sparkSession
    import spark.implicits._
    val (fs, root) = fsFor(spark.sparkContext.hadoopConfiguration, path)
    fs.mkdirs(manifestDir(root))
    fs.mkdirs(dataDir(root))
    val bucketOf = pmod(xxhash64(col("doc_id")), lit(buckets)).cast("int")
    val up = updates.toDF().withColumn("bucket", bucketOf)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val affected = up.select($"bucket").distinct().as[Int].collect().sorted
    if (affected.isEmpty) { up.unpersist(blocking = false); return Seq.empty }
    val oldFiles = readManifests(path, spark.sparkContext.hadoopConfiguration)
      .filter(m => affected.contains(m.bucket)).flatMap(_.files)
    val existing =
      if (oldFiles.isEmpty) up.limit(0)
      else spark.read.schema(DocSchema).parquet(oldFiles: _*)
        .select(col("doc_id"), col("spans")).withColumn("bucket", bucketOf)
    val merged = up
      .unionByName(existing.join(up.select($"doc_id"), Seq("doc_id"), "left_anti")
        .select(up.columns.map(col).toSeq: _*))
    try commitBuckets(fs, root, merged, buckets, affected.toSeq, attemptId, None,
      (snapN, all) => s"""{"snapshot":$snapN,"attempt":${jsonString(attemptId)},"merge":true,""" +
        s""""rewrittenBuckets":[${affected.mkString(",")}],""" +
        s""""buckets":[${all.mkString(",")}]}""")
    finally up.unpersist(blocking = false)
  }

  /** All committed manifests, parsed (Jackson rides in with Spark). */
  def readManifests(path: String,
      conf: Configuration = null): Seq[BucketManifest] = {
    val (fs, root) = fsFor(Option(conf).getOrElse(defaultConf()), path)
    val dir = manifestDir(root)
    if (!fs.exists(dir)) return Seq.empty
    fs.listStatus(dir).iterator
      .filter { st =>
        val n = st.getPath.getName
        n.startsWith("bucket-") && n.endsWith(".json")
      }
      .map { st =>
        val in = fs.open(st.getPath)
        val node =
          try Json.readTree(in)
          finally in.close()
        import scala.jdk.CollectionConverters._
        BucketManifest(
          node.get("bucket").asInt(), node.get("numDocs").asLong(),
          node.get("numSpans").asLong(), node.get("minDocId").asText(),
          node.get("maxDocId").asText(), node.get("checksum").asLong(),
          node.get("attemptId").asText(),
          node.get("files").elements().asScala.map(_.asText()).toSeq)
      }.toSeq.sortBy(_.bucket)
  }

  /** Read the table AS COMMITTED: the union of the manifests' file
    * lists — never a directory glob, so half-written attempts and
    * orphans are invisible. */
  def readDocs(spark: SparkSession, path: String): Dataset[Doc] = {
    import spark.implicits._
    val files = readManifests(path,
      spark.sparkContext.hadoopConfiguration).flatMap(_.files)
    if (files.isEmpty) spark.emptyDataset[Doc]
    else spark.read.schema(DocSchema).parquet(files: _*)
      .select("doc_id", "spans").as[Doc]
  }

  /** Reclaim data files not referenced by any committed manifest
    * (failed-attempt orphans). Returns the deleted paths. NOT called
    * automatically: against a live concurrent writer this is the table
    * owner's maintenance decision, exactly like Iceberg's
    * remove_orphan_files. Lists one directory level per multi-path
    * `listStatus` (attempt dirs, then bucket dirs, then files), not
    * through a recursive `listFiles`, for the reason given in
    * [[commitBuckets]]. */
  def vacuum(path: String, conf: Configuration = null): Seq[String] = {
    val c = Option(conf).getOrElse(defaultConf())
    val (fs, root) = fsFor(c, path)
    val dd = dataDir(root)
    if (!fs.exists(dd)) return Seq.empty
    val referenced = readManifests(path, c).flatMap(_.files).toSet
    val deleted = scala.collection.mutable.ArrayBuffer.empty[String]
    var level = Array(dd)
    while (level.nonEmpty) {
      val (dirs, files) = fs.listStatus(level).partition(_.isDirectory)
      for (st <- files) {
        val p = st.getPath.toString
        if (st.getPath.getName.startsWith("part-") && !referenced.contains(p)) {
          fs.delete(st.getPath, false)
          deleted += p
        }
      }
      level = dirs.map(_.getPath)
    }
    deleted.toSeq
  }

  /** The one JSON mapper of manifests and snapshots (Jackson rides in
    * with Spark): every string they hold — doc ids, attempt ids, file
    * paths — is written by it and read back by it. */
  private val Json = new com.fasterxml.jackson.databind.ObjectMapper()

  /** `s` as a quoted JSON string literal. */
  private def jsonString(s: String): String = Json.writeValueAsString(s)

  private def manifestJson(m: BucketManifest): String = {
    val files = m.files.map(jsonString).mkString("[", ",", "]")
    s"""{"bucket":${m.bucket},"numDocs":${m.numDocs},"numSpans":${m.numSpans},""" +
      s""""minDocId":${jsonString(m.minDocId)},"maxDocId":${jsonString(m.maxDocId)},""" +
      s""""checksum":${m.checksum},"attemptId":${jsonString(m.attemptId)},"files":$files}"""
  }
}
