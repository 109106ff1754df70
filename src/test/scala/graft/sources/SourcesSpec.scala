package graft.sources

import graft.Fixtures
import graft.correct.{CompiledModel, Corrector}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

class SourcesSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]").config("spark.ui.enabled", "false")
    .config("spark.sql.shuffle.partitions", "2").getOrCreate()

  test("A1: two-column TSV pairs, malformed rows skipped") {
    val dir = Files.createTempDirectory("src-a1")
    val f = dir.resolve("pairs.tsv")
    Files.writeString(f,
      "id1\ttext one\nid2\ttext two\textra col kept out\nmalformed\nid3\tdrei\n")
    val df = Sources.loadPairsFromFile(spark, f.toString)
    val rows = df.collect().map(r => (r.getString(0), r.getString(1))).sorted
    assert(rows.toSeq == Seq(("id1", "text one"), ("id2", "text two"), ("id3", "drei")))
  }

  test("A2: dir-of-files corpus keyed by basename") {
    val dir = Files.createTempDirectory("src-a2")
    Files.writeString(dir.resolve("lineA.gt.txt"), "erste zeile\n")
    Files.writeString(dir.resolve("lineB.gt.txt"), "zweite zeile\n\n")
    Files.writeString(dir.resolve("skip.other"), "nope\n")
    val df = Sources.loadPairsFromDir(spark, dir.toString, "txt")
    val rows = df.collect().map(r => (r.getString(0), r.getString(1))).sorted
    assert(rows.toSeq == Seq(("lineA", "erste zeile"), ("lineB", "zweite zeile")))
  }

  test("A4: wordlist with malformed rows silently dropped") {
    val dir = Files.createTempDirectory("src-a4")
    val f = dir.resolve("words.tsv")
    Files.writeString(f, "nicht\t500\nich\t800\nbad-row\nalso\tbad\n")
    val df = Sources.loadWordlist(spark, f.toString)
    val rows = df.collect().map(r => (r.getString(0), r.getLong(1))).sorted
    assert(rows.toSeq == Seq(("ich", 800L), ("nicht", 500L)))
  }

  test("A5+A1 round trip") {
    import spark.implicits._
    val dir = Files.createTempDirectory("src-a5")
    val df = Seq(("a", "x y"), ("b", "z")).toDF("line_id", "text")
    Sources.savePairsToFile(df, s"$dir/out")
    val back = Sources.loadPairsFromFile(spark, s"$dir/out")
    assert(back.collect().map(r => (r.getString(0), r.getString(1))).sorted.toSeq ==
      Seq(("a", "x y"), ("b", "z")))
  }

  test("A5 dir form + A2 round trip: one <id>.<suffix> file per pair") {
    import spark.implicits._
    val dir = Files.createTempDirectory("src-a5dir")
    val df = Seq(("lineA", "erste zeile"), ("lineB", "zweite zeile"))
      .toDF("line_id", "text")
    Sources.savePairsToDir(df, dir.toString, "cor.txt")
    // one file per id, named <id>.<suffix>, content = the line
    assert(Files.readString(dir.resolve("lineA.cor.txt")) == "erste zeile")
    val back = Sources.loadPairsFromDir(spark, dir.toString, "txt")
    assert(back.collect().map(r => (r.getString(0), r.getString(1))).sorted.toSeq ==
      Seq(("lineA", "erste zeile"), ("lineB", "zweite zeile")))
  }

  test("A5 dir form: null text coalesces to empty, null id dropped") {
    import spark.implicits._
    val dir = Files.createTempDirectory("src-a5null")
    val df = Seq(("a", null: String), (null: String, "verloren"), ("b", "da"))
      .toDF("line_id", "text")
    Sources.savePairsToDir(df, dir.toString, "txt")
    assert(Files.readString(dir.resolve("a.txt")) == "")
    assert(Files.readString(dir.resolve("b.txt")) == "da")
    val listed = Files.list(dir)
    try assert(listed.count() == 2) finally listed.close()
  }

  test("A5 dir form writes through a file: URI (Hadoop FileSystem path)") {
    import spark.implicits._
    val dir = Files.createTempDirectory("src-a5uri")
    val df = Seq(("u1", "inhalt")).toDF("line_id", "text")
    Sources.savePairsToDir(df, dir.toUri.toString, "txt")
    assert(Files.readString(dir.resolve("u1.txt")) == "inhalt")
  }

  test("A7: frequency list NBSP <-> box round trip") {
    import spark.implicits._
    val dir = Files.createTempDirectory("src-a7")
    val df = Seq(("\u00a0h", "ch", 0.25), ("e", "\u00a0", 0.125))
      .toDF("raw", "gt", "relfreq")
    Sources.writeFrequencyList(df, s"$dir/freq")
    val back = Sources.readFrequencyList(spark, s"$dir/freq")
    assert(back.collect().map(r => (r.getString(0), r.getString(1), r.getDouble(2)))
      .sortBy(_._3).toSeq == Seq(("e", "\u00a0", 0.125), ("\u00a0h", "ch", 0.25)))
  }

  test("A6: FST and model serialization round trip") {
    val dir = Files.createTempDirectory("src-a6")
    val model = CompiledModel.train(Fixtures.trainingPairs, Fixtures.wordlist)
    ModelIO.saveModel(model, s"$dir/model.bin")
    val back = ModelIO.loadModel(s"$dir/model.bin")
    assert(Corrector.correctLine("ih niht weiß", back) == "ich nicht weiß")
    ModelIO.saveFst(model.windowFst, s"$dir/win.fst")
    val w = ModelIO.loadFst(s"$dir/win.fst")
    assert(w.numStates == model.windowFst.numStates)
    assert(w.numArcs == model.windowFst.numArcs)
  }

  test("A6: a saved and loaded model corrects every fixture line like the original") {
    val dir = Files.createTempDirectory("src-a6-lines")
    val model = CompiledModel.train(Fixtures.trainingPairs, Fixtures.wordlist)
    ModelIO.saveModel(model, s"$dir/model.bin")
    val back = ModelIO.loadModel(s"$dir/model.bin")
    val lines = Fixtures.trainingPairs.flatMap(p => Seq(p._1, p._2)) ++ Fixtures.keyedOcr.map(_._2)
    for (l <- lines)
      assert(Corrector.correctLine(l, back) == Corrector.correctLine(l, model), l)
  }

  test("A8: ngram list round trip") {
    val dir = Files.createTempDirectory("src-a8")
    val ngrams = Seq("a", "b", "ab", "ch")
    Sources.saveNgrams(spark, ngrams, s"$dir/ngrams")
    assert(Sources.loadNgrams(spark, s"$dir/ngrams").sorted == ngrams.sorted)
  }

  test("JSONL Doc interchange: write/read round trip preserves span sequences; one object per line") {
    val dir = Files.createTempDirectory("src-jsonl")
    val docs = graft.pipeline.DocGen.docs(spark, 40, seed = 99L, partitions = 3)
    Sources.writeJsonlDocs(docs, s"$dir/docs")
    val back = Sources.readJsonlDocs(spark, s"$dir/docs")
      .collect().map(d => d.doc_id -> d.spans).toMap
    val orig = docs.collect().map(d => d.doc_id -> d.spans).toMap
    assert(back == orig) // kind, text, media_ref, offset — order included
    // the format really is JSONL: every line of every part file is a
    // standalone JSON object mentioning doc_id
    val lines = Files.list(java.nio.file.Paths.get(s"$dir/docs")).toArray
      .map(_.toString).filter(_.endsWith(".json"))
      .flatMap(p => scala.io.Source.fromFile(p, "UTF-8").getLines())
    assert(lines.nonEmpty)
    assert(lines.forall(l => l.startsWith("{") && l.endsWith("}") && l.contains("\"doc_id\"")))
  }
}
