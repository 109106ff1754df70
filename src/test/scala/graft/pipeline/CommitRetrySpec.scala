package graft.pipeline

import graft.Fixtures
import graft.correct.CompiledModel
import org.apache.hadoop.mapreduce.TaskAttemptContext
import org.apache.spark.internal.io.FileCommitProtocol.TaskCommitMessage
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.execution.datasources.SQLHadoopMapReduceCommitProtocol
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Reference lineage stats of a bucketed write, from a `groupBy`. */
object TableIOStats {
  /** (numDocs, numSpans, minDocId, maxDocId, checksum) of one bucket. */
  type Stats = (Long, Long, String, String, Long)
  /** The manifest stats of a bucket no row falls in. */
  val Zero: Stats = (0L, 0L, "", "", 0L)

  def of(m: TableIO.BucketManifest): Stats =
    (m.numDocs, m.numSpans, m.minDocId, m.maxDocId, m.checksum)

  /** The stats of every non-empty bucket of a `buckets`-bucket write. */
  def reference(docs: Dataset[Doc], buckets: Int): Map[Int, Stats] =
    docs.toDF()
      .withColumn("bucket", pmod(xxhash64(col("doc_id")), lit(buckets)).cast("int"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)), sum(size(col("spans"))), min(col("doc_id")),
        max(col("doc_id")), expr("bit_xor(xxhash64(doc_id, to_json(spans)))"))
      .collect()
      .map(r => r.getInt(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3), r.getString(4), r.getLong(5))))
      .toMap
}

/** Fails the first attempt of write task 0 after it wrote all its rows,
  * so the task's rows have passed every operator of the write stage
  * before the attempt is thrown away and retried. */
class FailFirstWriteAttempt(jobId: String, path: String, dynamicPartitionOverwrite: Boolean)
    extends SQLHadoopMapReduceCommitProtocol(jobId, path, dynamicPartitionOverwrite) {
  override def commitTask(taskContext: TaskAttemptContext): TaskCommitMessage = {
    val tc = org.apache.spark.TaskContext.get()
    if (tc.partitionId() == 0 && tc.attemptNumber() == 0) {
      FailFirstWriteAttempt.injected.incrementAndGet()
      throw new java.io.IOException("injected failure of a first write attempt")
    }
    super.commitTask(taskContext)
  }
}

object FailFirstWriteAttempt {
  /** Failures injected in this JVM (local mode runs the tasks here). */
  val injected = new java.util.concurrent.atomic.AtomicInteger()
}

/** A write task that fails and is retried: the commit's lineage stats
  * and the job's `Metrics` accumulators count each doc once. Runs under
  * `local[2,2]` so a task may fail once; suites run one at a time in the
  * forked test JVM, so the shared session is stopped first. */
class CommitRetrySpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    // query builders of earlier suites register persisted frames of the
    // shared session; unpersist them while its context still runs
    graft.queries.Queries.releaseCaches()
    SparkSession.getActiveSession.foreach(_.stop())
    SparkSession.getDefaultSession.foreach(_.stop())
    spark = SparkSession.builder()
      .master("local[2,2]")
      .appName("graft-commit-retry")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  test("retried write task: manifests equal a clean write's, metrics count each doc once, one file per bucket") {
    val model = CompiledModel.train(Fixtures.trainingPairs, Fixtures.wordlist)
    val bc = CorrectionJob.broadcastModel(spark, model)
    val base = java.nio.file.Files.createTempDirectory("graft-io-retry").toString
    def key(ms: Seq[TableIO.BucketManifest]) = ms.map(m => m.bucket -> TableIOStats.of(m))

    val docs = DocGen.docs(spark, 60, seed = 3L, partitions = 4)
    val clean = TableIO.writeDocs(CorrectionJob.correctDocs(docs, bc, None),
      s"$base/clean", buckets = 8)

    // the injected failure applies to this session's writes only
    val failing = spark.newSession()
    failing.conf.set("spark.sql.sources.commitProtocolClass",
      classOf[FailFirstWriteAttempt].getName)
    val mx = Metrics(failing)
    val before = FailFirstWriteAttempt.injected.get
    val retried = TableIO.writeDocs(
      CorrectionJob.correctDocs(DocGen.docs(failing, 60, seed = 3L, partitions = 4), bc, Some(mx)),
      s"$base/retried", buckets = 8, metrics = Some(mx))
    assert(FailFirstWriteAttempt.injected.get == before + 1, "no write attempt failed")

    assert(key(retried) == key(clean))
    val ref = TableIOStats.reference(CorrectionJob.correctDocs(docs, bc, None), 8)
    assert(key(clean) == (0 until 8).map(b => b -> ref.getOrElse(b, TableIOStats.Zero)))
    assert(mx.docs.value == 60L, s"docs accumulator = ${mx.docs.value}")
    val totalSpans = docs.collect().map(_.spans.length.toLong).sum
    assert(mx.textSpans.value + mx.mediaSpans.value == totalSpans)
    assert(retried.forall(_.files.size == 1), retried.map(_.files))
    val onDisk = java.nio.file.Files.walk(java.nio.file.Paths.get(base, "retried", "data"))
    try {
      import scala.jdk.CollectionConverters._
      val parts = onDisk.iterator.asScala.filter(_.getFileName.toString.startsWith("part-")).toSeq
      assert(parts.size == 8 && parts.map(_.getParent).distinct.size == 8, parts)
    } finally onDisk.close()
    assert(TableIO.readDocs(spark, s"$base/retried").collect().sortBy(_.doc_id).toSeq ==
      TableIO.readDocs(spark, s"$base/clean").collect().sortBy(_.doc_id).toSeq)
  }
}
