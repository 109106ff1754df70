package graft.pipeline

import graft.queries.{MinHashDefs, Queries}
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Near-duplicate DOCUMENT dedup at the production (north-rule)
  * surface: `Dataset[Doc]` in, surviving `Dataset[Doc]` out — the
  * battery's dedup machinery (MinHashDefs b=16 × r=4 signatures,
  * count-first bucket cuts, ≥32/64 agreement verification,
  * pointer-doubled connected components) consumable without SQL.
  *
  * Similarity looks at the TEXT spans only (joined by '\n'); media
  * spans ride along untouched in survivors. Exact duplicates are
  * caught by a content-hash edge set (covers docs too short for
  * shingles); near-duplicates by verified MinHash candidate pairs.
  * The lexicographically-smallest doc_id per duplicate group
  * survives — deterministic across runs and partitionings.
  *
  * Scale shape mirrors q_dedup_groups: every aggregation state is
  * bounded (min+count exact edges, 2..bucketCap banded buckets before
  * any doc-list materializes, k-bounded collect), label propagation is
  * O(log diameter) rounds with eager localCheckpoints. Caches are
  * scoped to this call and released before returning — the returned
  * Dataset depends only on checkpointed labels and the input. */
object Dedup {

  /** Exact edges: min-doc_id star per content hash of the joined text
    * (covers docs too short for shingles), from the same groupBy +
    * join-back as q_dedup_groups — a window over the hash would sort a
    * hot duplicated text in one task. */
  private[pipeline] def exactEdges(txt: DataFrame): DataFrame =
    Queries.exactDupEdges(txt.select(col("doc_id"), md5(col("text")).as("h")))

  def dropNearDuplicates(docs: Dataset[Doc], bucketCap: Int = 20): Dataset[Doc] = {
    val s = docs.sparkSession
    import s.implicits._

    val txt = docs
      .map(d => (d.doc_id,
        d.spans.filter(_.kind == "text").map(_.text).mkString("\n")))
      .toDF("doc_id", "text")

    val exEdges = exactEdges(txt)

    // near-dup edges: banded MinHash candidates, agreement-verified
    val mins = Queries.minhashMinsOf(txt).persist(StorageLevel.MEMORY_AND_DISK)
    val sigs = Queries.minhashBandSigs(mins)
      .repartition($"band", $"sig")
      .persist(StorageLevel.MEMORY_AND_DISK)
    val keep = sigs
      .groupBy($"band", $"sig").agg(count(lit(1)).as("n"))
      .where($"n".between(2, bucketCap))
      .select($"band", $"sig")
    val cands = sigs
      .join(keep, Seq("band", "sig")) // same partitioning: no exchange
      .groupBy($"band", $"sig")
      .agg(collect_set($"doc_id").as("docs")) // bounded <= bucketCap
      .select(explode(expr(
        """flatten(transform(array_sort(docs), (a, i) ->
             transform(slice(array_sort(docs), i + 2, size(docs)), b ->
               struct(a AS ida, b AS idb))))""")).as("p"))
      .select($"p.ida".as("ida"), $"p.idb".as("idb"))
      .distinct()
    val mhEdges = cands
      .join(mins.as("ma"), $"ida" === $"ma.doc_id")
      .join(mins.as("mb"), $"idb" === $"mb.doc_id")
      .where(expr(MinHashDefs.agreementSql("ma", "mb"))
        >= MinHashDefs.VerifyAgreement)
      .select($"ida".as("a"), $"idb".as("b"))

    val edges = exEdges.union(mhEdges).distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    val ids = txt.select($"doc_id".as("id"))
    // connectedComponents materializes labels eagerly (localCheckpoint +
    // per-round counts), so the caches can be dropped before returning
    val (lab, _) = Queries.connectedComponents(ids, edges)
    val survivors = lab.where($"lab" === $"id").select($"id".as("doc_id"))
    mins.unpersist(); sigs.unpersist(); edges.unpersist()

    docs.join(survivors, "doc_id")
      .select($"doc_id", $"spans").as[Doc]
  }
}
