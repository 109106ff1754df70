package graft.queries

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** `Queries.releaseCaches` after the session of a registered frame was
  * stopped: the stale entry is dropped and no later call throws. Stops
  * the shared session first, like CommitRetrySpec (suites run one at a
  * time in the forked test JVM). */
class ReleaseCachesSpec extends AnyFunSuite with BeforeAndAfterAll {

  override def beforeAll(): Unit = {
    Queries.releaseCaches()
    SparkSession.getActiveSession.foreach(_.stop())
    SparkSession.getDefaultSession.foreach(_.stop())
  }

  test("releaseCaches drops a cached frame of a stopped session, twice without a throw") {
    val spark = SparkSession.builder()
      .master("local[2]")
      .appName("graft-release-caches")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    val dir = java.nio.file.Files.createTempDirectory("graft-release-caches").toString
    try {
      import spark.implicits._
      Seq((1L, "a b c d"), (2L, "a b c e"), (3L, "x y z w"))
        .toDF("doc_id", "text").write.parquet(s"$dir/documents.parquet")
      // the builder registers its persisted per-shingle aggregate
      Queries.qNgramJaccard(spark, dir).count()
      assert(!spark.sharedState.cacheManager.isEmpty)
    } finally spark.stop()
    Queries.releaseCaches()
    Queries.releaseCaches()
  }
}
