package graft.correct

import graft.Fixtures
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Distributed training must be semantically identical to the local
  * reference path (state numbering may differ; weights and corrections
  * must not). */
class TrainSparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]").config("spark.ui.enabled", "false")
    .config("spark.sql.shuffle.partitions", "4").getOrCreate()

  test("trainSpark == local train (corrections and window weights)") {
    import spark.implicits._
    val local = CompiledModel.train(Fixtures.trainingPairs, Fixtures.wordlist)
    val dist = CompiledModel.trainSpark(spark,
      Fixtures.trainingPairs.toDS(), Fixtures.wordlist)
    val lines = Seq("ih niht weiß", "Mahrunq", "frag zu bringen. —",
      "re<hée Bahn", "zzqx")
    for (line <- lines) {
      assert(Corrector.correctLine(line, dist) ==
        Corrector.correctLine(line, local), s"line <$line>")
    }
    // full hypothesis sets equal on a window
    val a = Corrector.windowAlternatives("niht", local, null)
    val b = Corrector.windowAlternatives("niht", dist, null)
    assert(a.map(_.text) == b.map(_.text))
    a.zip(b).foreach { case (x, y) =>
      assert(math.abs(x.weight - y.weight) < 1e-9)
    }
  }

  test("trainSpark == local train for 1, 3 and 8 input partitions and with preservePunct") {
    import spark.implicits._
    val lines = (Fixtures.trainingPairs.flatMap { case (o, g) => Seq(o, g) } ++
      Fixtures.keyedOcr.map(_._2)).distinct
    // every 1..2-token window of every fixture line (the lattice's windows)
    val windows = lines.flatMap { line =>
      val t = graft.tokenize.Tokenizer.splitInputString(line)
      for (i <- t.indices; j <- 1 to 2 if i + j <= t.length)
        yield t.slice(i, i + j).mkString(" ")
    }.distinct
    def assertSame(local: CompiledModel, dist: CompiledModel, label: String): Unit = {
      for (line <- lines)
        assert(Corrector.correctLine(line, dist) ==
          Corrector.correctLine(line, local), s"$label: line <$line>")
      for (w <- windows) {
        val a = Corrector.windowAlternatives(w, local, null)
        val b = Corrector.windowAlternatives(w, dist, null)
        assert(a.map(_.text) == b.map(_.text), s"$label: window <$w>")
        a.zip(b).foreach { case (x, y) =>
          assert(math.abs(x.weight - y.weight) < 1e-9, s"$label: window <$w> $x $y")
        }
      }
    }
    for (preservePunct <- Seq(false, true)) {
      val local = CompiledModel.train(Fixtures.trainingPairs, Fixtures.wordlist,
        preservePunct = preservePunct)
      for (parts <- Seq(1, 3, 8)) {
        val dist = CompiledModel.trainSpark(spark,
          Fixtures.trainingPairs.toDS().repartition(parts), Fixtures.wordlist,
          preservePunct = preservePunct)
        assertSame(local, dist, s"partitions $parts, preservePunct $preservePunct")
      }
    }
  }
}
