package graft.pipeline

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

class DedupSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]").config("spark.ui.enabled", "false")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC").getOrCreate()

  private val longA =
    "die alten bücher erzählen von fernen reisen über das weite meer " +
      "und von den städten hinter den bergen wo die händler ihre waren " +
      "auf den märkten feilboten und die glocken am abend läuteten"
  // one word changed mid-text: a near duplicate, not an exact one
  private val longA2 = longA.replace("händler", "fischer")
  private val longB =
    "ganz andere dinge stehen in diesem text der mit dem ersten nichts " +
      "gemeinsam hat weder worte noch themen noch irgendeine erzählung " +
      "von reisen oder glocken sondern nur trockene zahlenkolonnen"

  private def doc(id: String, text: String, withMedia: Boolean = false): Doc =
    Doc(id, Seq(Span("text", text, null, 0)) ++
      (if (withMedia) Seq(Span("image", null, s"img-$id.png", 1)) else Nil))

  test("near-dup drop: exact copies, verified near-dups and short dupes collapse to min id; media preserved") {
    import spark.implicits._
    val docs = Seq(
      doc("d0", longA, withMedia = true),
      doc("d1", longA2),          // near dup of d0 -> dropped
      doc("d2", longA),           // exact dup of d0 -> dropped
      doc("d3", "tiny"),          // short unique -> survives
      doc("d4", "tiny"),          // short exact dup -> dropped
      doc("d5", longB)            // unrelated -> survives
    ).toDS()
    val out = Dedup.dropNearDuplicates(docs).collect().map(d => d.doc_id -> d).toMap
    assert(out.keySet == Set("d0", "d3", "d5"))
    // survivors are byte-identical to their inputs (media spans intact)
    assert(out("d0").spans == doc("d0", longA, withMedia = true).spans)
  }

  test("exact dups: a hot duplicated text resolves via star edges, not a window") {
    import spark.implicits._
    // one text duplicated across most docs (the viral-boilerplate shape)
    // plus two unique docs: the exact edges come from a groupBy on the
    // hash (per-group state: a min and a count), never a window that
    // sorts the whole hot group in one task
    val hot = "identical viral boilerplate page shared by almost every document in this corpus"
    val docs = (0 until 40).map(i => doc(f"h$i%02d", hot)) ++
      Seq(doc("u1", longA), doc("u2", longB))
    val out = Dedup.dropNearDuplicates(docs.toDS()).collect().map(_.doc_id).toSet
    assert(out == Set("h00", "u1", "u2"))
    val txt = docs.map(d => (d.doc_id, d.spans.head.text)).toDF("doc_id", "text")
    val edges = Dedup.exactEdges(txt)
    val plan = edges.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), plan)
    assert(edges.collect().map(r => (r.getString(0), r.getString(1))).toSet ==
      (1 until 40).map(i => ("h00", f"h$i%02d")).toSet)
  }

  test("no false merges: distinct docs all survive") {
    import spark.implicits._
    val docs = Seq(doc("a", longA), doc("b", longB), doc("c", "tiny")).toDS()
    val out = Dedup.dropNearDuplicates(docs).collect().map(_.doc_id).toSet
    assert(out == Set("a", "b", "c"))
  }

  test("agrees with the battery's group resolution on the documents fixture") {
    import spark.implicits._
    // same corpus through both surfaces: qDedupGroups keep-set over the
    // (Long-id) documents table vs Dedup over an equivalent Doc table
    val sf = "/root/testdata/sf0.001"
    val base = spark.read.parquet(s"$sf/documents.parquet")
    val docs = base.select($"doc_id", $"text").as[(Long, String)]
      .map { case (id, t) => Doc(f"doc$id%06d", Seq(Span("text", t, null, 0))) }
    val got = Dedup.dropNearDuplicates(docs)
      .collect().map(_.doc_id).toSet
    val expected = graft.queries.Queries.qDedupGroups(spark, sf)
      .where($"keep").select($"doc_id").as[Long]
      .collect().map(id => f"doc$id%06d").toSet
    // qDedupGroups also includes jaccard edges; Dedup uses exact+minhash
    // only, so its survivor set can only be a SUPERSET of the battery's
    assert(expected.subsetOf(got))
    // every exact-duplicate non-keeper must be dropped by Dedup too
    val byText = base.select($"doc_id", $"text").as[(Long, String)]
      .collect().groupBy(_._2).values
    val exactDropped = byText.filter(_.length > 1)
      .flatMap(g => g.map(_._1).sorted.tail).map(id => f"doc$id%06d").toSet
    assert(exactDropped.intersect(got).isEmpty)
    assert(got.subsetOf(docs.map(_.doc_id).collect().toSet))
  }
}
