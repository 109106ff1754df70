package graft.cli

import graft.Fixtures
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Paths}

/** End-to-end CLI parity: train -> process -> evaluate over keyed TSV
  * files, the reference's cor-asv-fst-{train,process,evaluate} flow. */
class CliSpec extends AnyFunSuite {

  // hold a session so the mains reuse it (owned = false) instead of
  // stopping the suite-wide SparkSession between calls
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]").config("spark.ui.enabled", "false")
    .config("spark.sql.shuffle.partitions", "4").getOrCreate()

  test("arg parse: negative-number values and --key=value forms") {
    val aliases = Map("-P" -> "pruning-weight", "-Q" -> "processes")
    // a dash-leading NUMBER is a value, not the next flag
    assert(CliArgs.parse(Array("-P", "-1.5"), aliases)("pruning-weight") == "-1.5")
    assert(CliArgs.parse(Array("-P", "-1.5e-2", "-Q", "4"), aliases)
      == Map("pruning-weight" -> "-1.5e-2", "processes" -> "4"))
    // --key=value splits on '='
    assert(CliArgs.parse(Array("--added-word-cost=-0.25"), Map.empty)
      ("added-word-cost") == "-0.25")
    // boolean flag followed by another flag still parses as boolean
    assert(CliArgs.parse(Array("--verbose", "-Q", "2"), aliases)
      == Map("verbose" -> "true", "processes" -> "2"))
    // single-dash -k=value resolves the alias on the pre-'=' part
    assert(CliArgs.parse(Array("-P=2.5"), aliases)("pruning-weight") == "2.5")
    // permissive/generic mode (no `known` set): an unaliased short flag
    // is stored under its raw spelling in both forms — the documented
    // contract for generic callers
    assert(CliArgs.parse(Array("-z=1"), aliases) == Map("-z" -> "1"))
    assert(CliArgs.parse(Array("-z", "1"), aliases) == Map("-z" -> "1"))
    // with a `known` set (the CLI mains), unknown short flags error in
    // every spelling — an accepted bogus key would swallow its value
    intercept[IllegalArgumentException] {
      CliArgs.parse(Array("-z=1"), aliases, known = Set("pruning-weight"))
    }
    intercept[IllegalArgumentException] {
      CliArgs.parse(Array("-z", "1"), aliases, known = Set("pruning-weight"))
    }
    intercept[IllegalArgumentException] {
      CliArgs.parse(Array("-"), aliases)
    }
  }

  test("-W is a real load-time knob: window width changes multi-word splits") {
    spark.sparkContext.setLogLevel("WARN")
    val dir = Files.createTempDirectory("graft-cli-w").toString
    // GT side teaches the split: "ihniht" -> "ich nicht" needs the
    // error model to insert a space AND the window FST to accept a
    // TWO-word output — the latter is exactly what -W gates
    val trainTsv = s"$dir/train.tsv"
    Files.writeString(Paths.get(trainTsv),
      Seq("ihniht\tich nicht", "ih niht\tich nicht", "nicht\tnicht",
        "ich\tich").map(identity).mkString("\n"))
    val modelFile = s"$dir/model.bin"
    Train.main(Array("-t", trainTsv, "-M", modelFile, "-Q", "4"))

    val inTsv = s"$dir/in.tsv"
    Files.writeString(Paths.get(inTsv), "l1\tihniht")
    def processWith(w: Option[Int]): String = {
      val outTsv = s"$dir/out${w.getOrElse(0)}.tsv"
      Process.main(Array("-M", modelFile, "-i", inTsv, "-o", outTsv,
        "-Q", "4") ++ w.toSeq.flatMap(x => Seq("-W", x.toString)))
      Files.readString(Paths.get(outTsv)).trim.split("\t")(1)
    }
    val wide = processWith(Some(3))
    val narrow = processWith(Some(1))
    assert(wide == "ich nicht", s"wide-window split failed: $wide")
    // -W 1: the window FST accepts single words only — the two-word
    // split is impossible, so the same input corrects differently
    assert(narrow != wide, s"-W had no effect (both: $narrow)")
  }

  test("train -> process -> evaluate round trip on fixture pairs") {
    spark.sparkContext.setLogLevel("WARN")
    val dir = Files.createTempDirectory("graft-cli").toString
    // training TSV: ocr TAB gt (scripts/train.py -t format)
    val trainTsv = s"$dir/train.tsv"
    Files.writeString(Paths.get(trainTsv),
      Fixtures.trainingPairs.map { case (o, g) => s"$o\t$g" }.mkString("\n"))
    val modelFile = s"$dir/model.bin"
    Train.main(Array("-t", trainTsv, "-M", modelFile, "-Q", "4"))
    assert(Files.exists(Paths.get(modelFile)))

    // input TSV: line_id TAB ocr-line
    val inTsv = s"$dir/in.tsv"
    Files.writeString(Paths.get(inTsv),
      "l1\tih niht weiß\nl2\tnicht zu bringen")
    val outTsv = s"$dir/out.tsv"
    Process.main(Array("-M", modelFile, "-i", inTsv, "-o", outTsv, "-Q", "4"))
    val out = Files.readString(Paths.get(outTsv)).trim.linesIterator
      .map(_.split("\t")).map(a => a(0) -> a(1)).toMap
    assert(out("l1") == "ich nicht weiß", out)
    assert(out("l2") == "nicht zu bringen")

    // directory I/O (-d/-I/-O, process.py per-file scheme): one
    // <id>.<suffix> file per line in, one per corrected line out
    val ioDir = Files.createDirectory(Paths.get(s"$dir/perfile")).toString
    Files.writeString(Paths.get(s"$ioDir/l1.ocr.txt"), "ih niht weiß")
    Files.writeString(Paths.get(s"$ioDir/l2.ocr.txt"), "nicht zu bringen")
    Process.main(Array("-M", modelFile, "-d", ioDir,
      "-I", "ocr.txt", "-O", "cor.txt", "-Q", "4"))
    assert(Files.readString(Paths.get(s"$ioDir/l1.cor.txt")) == "ich nicht weiß")
    assert(Files.readString(Paths.get(s"$ioDir/l2.cor.txt")) == "nicht zu bringen")

    // PAGE-XML workspace mode (--page-xml-dir/--page-xml-out): every
    // TextLine corrected, TextEquivs rewritten in the output copies
    val pxSrc = Files.createDirectory(Paths.get(s"$dir/pages")).toString
    val ns = "http://schema.primaresearch.org/PAGE/gts/pagecontent/2019-07-15"
    Files.writeString(Paths.get(s"$pxSrc/p1.xml"),
      s"""<?xml version="1.0"?><PcGts xmlns="$ns"><Page><TextRegion id="r0">
         |<TextLine id="l1"><Word id="w0"><TextEquiv><Unicode>ih</Unicode></TextEquiv></Word>
         |<Word id="w1"><TextEquiv><Unicode>niht</Unicode></TextEquiv></Word>
         |<Word id="w2"><TextEquiv><Unicode>weiß</Unicode></TextEquiv></Word></TextLine>
         |</TextRegion></Page></PcGts>""".stripMargin)
    val pxOut = s"$dir/pages-out"
    Process.main(Array("-M", modelFile, "--page-xml-dir", pxSrc,
      "--page-xml-out", pxOut, "-Q", "4"))
    val pxBack = graft.sources.PageXml
      .loadPageXmlDir(spark, pxOut).collect()
      .map(r => r.getString(1) -> r.getString(2)).toMap
    assert(pxBack("l1") == "ich nicht weiß", pxBack)

    // evaluate: gt TSV + captured stdout
    val gtTsv = s"$dir/gt.tsv"
    Files.writeString(Paths.get(gtTsv),
      "l1\tich nicht weiß\nl2\tnicht zu bringen")
    def captured(metric: String): String = {
      val bos = new java.io.ByteArrayOutputStream()
      Console.withOut(new java.io.PrintStream(bos, true, "UTF-8")) {
        Evaluate.main(Array("-i", inTsv, "-o", outTsv, "-g", gtTsv,
          "-M", metric, "-Q", "4"))
      }
      bos.toString("UTF-8")
    }
    val lev = captured("Levenshtein")
    assert(lev.contains("Aggregate CER OCR:"), lev)
    // perfect correction => corrected CER 0.0
    assert(lev.linesIterator.exists(l =>
      l.startsWith("Aggregate CER Corrected:") && l.trim.endsWith("0.0")), lev)
    val pr = captured("precision-recall")
    assert(pr.contains("Aggregate precision: 1.000 / recall: 1.000"), pr)
    val adj = captured("combining-e-umlauts")
    assert(adj.contains("Aggregate CER Corrected:  0.0"), adj)

    // -T st: EM-fit stochastic-transducer error model end-to-end
    val stModel = s"$dir/model-st.bin"
    Train.main(Array("-t", trainTsv, "-M", stModel, "-T", "st",
      "-C", "2", "-Q", "4"))
    assert(Files.exists(Paths.get(stModel)))
    val outSt = s"$dir/out-st.tsv"
    Process.main(Array("-M", stModel, "-i", inTsv, "-o", outSt, "-Q", "4"))
    val stLines = Files.readString(Paths.get(outSt)).trim.linesIterator.toSeq
    assert(stLines.size == 2, stLines)
  }

  test("evaluate -M Levenshtein divides by the GT length in code points") {
    spark.sparkContext.setLogLevel("WARN")
    val dir = Files.createTempDirectory("graft-cli-cer").toString
    def tsv(name: String, line: String): String = {
      val p = s"$dir/$name.tsv"
      Files.writeString(Paths.get(p), s"l1\t$line"); p
    }
    // U+1D504 is two UTF-16 units: one edit over 3 code points, not 4
    val bos = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(bos, true, "UTF-8")) {
      Evaluate.main(Array("-i", tsv("ocr", "Abc"), "-o", tsv("cor", "\uD835\uDD04bc"),
        "-g", tsv("gt", "\uD835\uDD04bc"), "-M", "Levenshtein", "-Q", "4"))
    }
    val out = bos.toString("UTF-8")
    assert(out.contains(s"Aggregate CER OCR:        ${1.0 / 3}"), out)
    assert(out.contains("Aggregate CER Corrected:  0.0"), out)
  }
}
