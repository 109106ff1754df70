package graft.cli

import graft.align.Distance
import graft.correct.{CompiledModel, Corrector}
import graft.pipeline.CorrectionJob
import graft.sources.{ModelIO, PageXml, Sources}
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths, StandardCopyOption}

/** Command-line parity with the reference's three entry points
  * (`cor-asv-fst-train` / `-process` / `-evaluate`,
  * scripts/train.py, process.py, evaluate.py) so a reference user can
  * switch by swapping the binary: same flags where they exist, Spark
  * parallelism replacing the fork pool (-Q processes -> local[Q]).
  * Flag parsing is a minimal key-value scan (no argparse dependency). */
object CliArgs {
  /** A dash-leading token is a VALUE (not the next flag) when it parses
    * as a number — so `-P -1.5` and `--added-word-cost -0.25` work.
    * argparse uses the same negative-number heuristic. */
  private val NumberLike = """-(\d+(\.\d*)?|\.\d+)([eE][+-]?\d+)?""".r
  private def isFlagToken(t: String): Boolean =
    t.startsWith("-") && NumberLike.unapplySeq(t).isEmpty

  /** `known` (optional): the full set of accepted long key names. When
    * provided, an unresolvable --long flag errors exactly like an
    * unknown -x short flag — otherwise a typo'd --long flag would be
    * silently stored under its own name AND swallow its value argument
    * (the caller then fails later on a misleading missing-key error, or
    * worse, runs with a default). `null` = permissive (generic use). */
  def parse(args: Array[String], aliases: Map[String, String],
      known: Set[String] = null): Map[String, String] = {
    val m = scala.collection.mutable.Map.empty[String, String]
    def resolve(raw: String): String =
      if (raw.startsWith("--")) {
        val k = aliases.getOrElse(raw, raw.substring(2))
        if (known != null && !known.contains(k))
          throw new IllegalArgumentException(s"unknown flag: $raw")
        k
      } else aliases.getOrElse(raw,
        // permissive/generic mode (known == null, the documented
        // contract): an unaliased short flag is stored under its raw
        // spelling; with a `known` set, unknown short flags error like
        // unknown long flags (an accepted bogus key would also swallow
        // its value argument)
        if (known == null) raw
        else throw new IllegalArgumentException(s"unknown flag: $raw"))
    var i = 0
    while (i < args.length) {
      val k0 = args(i)
      if (k0 == "-" || k0 == "--")
        throw new IllegalArgumentException(s"bare '$k0' is not a flag")
      if (isFlagToken(k0)) {
        // --key=value and -k=value forms: resolve the alias on the
        // pre-'=' part; unknown flags error in EVERY spelling (an
        // accepted bogus key would also swallow its value argument)
        val eq = k0.indexOf('=')
        if (eq > 0) {
          m(resolve(k0.substring(0, eq))) = k0.substring(eq + 1); i += 1
        } else {
          val k = resolve(k0)
          if (i + 1 < args.length && !isFlagToken(args(i + 1))) {
            m(k) = args(i + 1); i += 2
          } else { m(k) = "true"; i += 1 } // boolean flag
        }
      } else i += 1
    }
    m.toMap
  }

  /** Returns (session, owned): an existing live session is reused and
    * NOT stopped by the CLI (so the mains are callable in-process, e.g.
    * from tests or a surrounding job, without killing the caller's
    * session). */
  def spark(parallelism: Int): (SparkSession, Boolean) = {
    SparkSession.getDefaultSession.filter(!_.sparkContext.isStopped) match {
      case Some(s) => (s, false)
      case None =>
        val s = SparkSession.builder()
          .master(s"local[$parallelism]")
          .config("spark.sql.shuffle.partitions", parallelism)
          .config("spark.ui.enabled", "false")
          .getOrCreate()
        s.sparkContext.setLogLevel("WARN")
        (s, true)
    }
  }

  /** Spark writes a directory of part files; the reference CLIs write a
    * single TSV — move the single part into place. */
  def writeSingleTsv(df: org.apache.spark.sql.DataFrame, path: String): Unit = {
    val tmp = path + ".sparktmp"
    df.coalesce(1).write.mode("overwrite").option("sep", "\t").csv(tmp)
    val listed = Files.list(Paths.get(tmp))
    val part =
      try listed.filter(p => p.getFileName.toString.startsWith("part-"))
        .findFirst().get()
      finally listed.close()
    Files.move(part, Paths.get(path), StandardCopyOption.REPLACE_EXISTING)
    val rest = Files.walk(Paths.get(tmp))
    try {
      import scala.jdk.CollectionConverters._
      rest.iterator().asScala.toSeq.reverse.foreach(Files.delete)
    } finally rest.close()
  }
}

/** cor-asv-fst-train (scripts/train.py): train lexicon + error model
  * from (OCR, GT) pairs; write FST model files.
  *
  * Flags: -t/--training-file pairs TSV (ocr TAB gt) | -i/--input-file +
  * -g/--gt-file keyed TSVs joined on line id; -w/--wordlist-file;
  * -l/--lexicon-file OUT; -e/--error-model-file OUT; -M/--model-file
  * OUT (combined compiled model); -C/--max-context; -E/--max-errors;
  * -p/--preserve-punctuation; -D/--composition-depth (words/window);
  * -T/--error-model-type simple|st; --lexicon-added-word-cost;
  * --unweighted-lexicon; -Q parallelism. */
object Train {
  def main(args: Array[String]): Unit = {
    val trainAliases = Map(
      "-t" -> "training-file", "-i" -> "input-file", "-g" -> "gt-file",
      "-w" -> "wordlist-file", "-l" -> "lexicon-file",
      "-e" -> "error-model-file", "-M" -> "model-file",
      "-C" -> "max-context", "-E" -> "max-errors",
      "-p" -> "preserve-punctuation", "-D" -> "composition-depth",
      "-T" -> "error-model-type", "-Q" -> "processes")
    val a = CliArgs.parse(args, trainAliases, trainAliases.values.toSet ++
      Set("lexicon-added-word-cost", "unweighted-lexicon"))
    val (spark, owned) = CliArgs.spark(a.getOrElse("processes", "4").toInt)
    import spark.implicits._
    try {
      val pairs: org.apache.spark.sql.Dataset[(String, String)] =
        a.get("training-file") match {
          case Some(f) =>
            // two-column (OCR, GT) — scripts/train.py -t
            Sources.loadPairsFromFile(spark, f)
              .select("line_id", "text").as[(String, String)]
          case None =>
            val ocr = Sources.loadPairsFromFile(spark, a("input-file"))
              .toDF("line_id", "ocr")
            val gt = Sources.loadPairsFromFile(spark, a("gt-file"))
              .toDF("line_id", "gt")
            // the reference's keyed inner join (train.py:119-130)
            ocr.join(gt, Seq("line_id"), "inner")
              .select("ocr", "gt").as[(String, String)]
        }
      val wordlist: Map[String, Long] = a.get("wordlist-file")
        .map(f => Sources.loadWordlist(spark, f)
          .as[(String, Long)].collect().toMap)
        .getOrElse(Map.empty)
      val model = CompiledModel.trainSpark(spark, pairs, wordlist,
        maxContext = a.getOrElse("max-context", "3").toInt,
        maxErrors = a.getOrElse("max-errors", "3").toInt,
        wordsPerWindow = a.getOrElse("composition-depth", "3").toInt,
        preservePunct = a.contains("preserve-punctuation"),
        errorModelType = a.getOrElse("error-model-type", "simple"),
        addedWordCost = a.getOrElse("lexicon-added-word-cost", "0").toDouble,
        unweightedLexicon = a.contains("unweighted-lexicon"))
      a.get("error-model-file").foreach(f =>
        ModelIO.saveFst(model.errorFst.get, f))
      // -l saves the RAW lexicon FST (like the reference's lexicon
      // artifact, scripts/train.py:153) — the window closure is built
      // at LOAD time so Process's -W is a real runtime knob
      a.get("lexicon-file").foreach(f =>
        ModelIO.saveFst(model.lexiconFst.getOrElse(model.windowFst), f))
      a.get("model-file").foreach(f => ModelIO.saveModel(model, f))
      println(s"trained on ${pairs.count()} pairs" +
        s"; error arcs=${model.errorFst.map(_.numArcs).getOrElse(0)}" +
        s"; window-lexicon arcs=${model.windowFst.numArcs}")
    } finally if (owned) spark.stop()
  }
}

/** cor-asv-fst-process (scripts/process.py): batch-correct a keyed TSV.
  *
  * Flags: -M/--model-file (combined; or -l + -e FST files);
  * -i/--input-file keyed TSV in; -o/--output-file keyed TSV out;
  * -P/--pruning-weight; -J/--rejection-weight; -W/--words-per-window
  * (a real LOAD-time knob like scripts/process.py:102-104 — the window
  * closure is rebuilt from the model's raw lexicon FST);
  * -Q/--processes (Spark local parallelism — the fork-pool analogue). */
object Process {
  def main(args: Array[String]): Unit = {
    val processAliases = Map(
      "-M" -> "model-file", "-l" -> "lexicon-file",
      "-e" -> "error-model-file", "-i" -> "input-file",
      "-o" -> "output-file", "-W" -> "words-per-window",
      "-P" -> "pruning-weight", "-J" -> "rejection-weight",
      "-Q" -> "processes",
      // per-file directory I/O (process.py -d/-I/-O): input from
      // <dir>/<id>.<input-suffix>, output to <dir>/<id>.<output-suffix>
      "-d" -> "directory", "-I" -> "input-suffix",
      "-O" -> "output-suffix")
    val a = CliArgs.parse(args, processAliases, processAliases.values.toSet ++
      Set("page-xml-dir", "page-xml-out"))
    val (spark, owned) = CliArgs.spark(a.getOrElse("processes", "4").toInt)
    import spark.implicits._
    try {
      val base = a.get("model-file") match {
        case Some(f) => ModelIO.loadModel(f)
        case None =>
          // -l is the RAW lexicon FST; build the window closure here at
          // load with -W (process.py:102-104, latticegen.py:198-212)
          val lex = ModelIO.loadFst(a("lexicon-file"))
          CompiledModel.fromFsts(lex,
            a.get("error-model-file").map(ModelIO.loadFst),
            wordsPerWindow = a.getOrElse("words-per-window", "3").toInt)
      }
      val model = a.get("words-per-window").map(_.toInt)
        .foldLeft(base)((m, w) => m.withWordsPerWindow(w))
        .copy(
          pruningWeight = a.get("pruning-weight").map(_.toDouble)
            .getOrElse(base.pruningWeight),
          rejectionWeight = a.get("rejection-weight").map(_.toDouble)
            .getOrElse(base.rejectionWeight))
      val bc = CorrectionJob.broadcastModel(spark, model)
      if (a.contains("page-xml-dir")) {
        // PAGE-XML workspace mode (the OCR-D wrapper's dataflow,
        // wrapper/decode.py): correct every TextLine of every page
        // file and write corrected copies with updated TextEquivs
        val srcDir = a("page-xml-dir")
        val outDir = a.getOrElse("page-xml-out", srcDir + "-corrected")
        val lines = PageXml.loadPageXmlDir(spark, srcDir)
          .as[(String, String, String)]
        // persist: the corrections feed BOTH the write-back join and
        // the count — without it each consumer re-parses and
        // re-corrects every page file
        val corrected = CorrectionJob.mapWithModel(lines, bc) {
          m => { case (file, id, text) =>
            (file, id, Corrector.correctLine(text, m, m.windowMemo))
          }
        }.toDF("file", "line_id", "text").persist()
        try {
          PageXml.savePageXmlDir(spark, srcDir, outDir, corrected)
          println(s"corrected ${corrected.count()} page lines -> $outDir")
        } finally corrected.unpersist(false)
      } else {
        val in = (a.get("input-file") match {
          case Some(f) => Sources.loadPairsFromFile(spark, f)
          case None => Sources.loadPairsFromDir(spark, a("directory"),
            a("input-suffix")) // process.py:168-169
        }).as[(String, String)]
        val out = CorrectionJob.mapWithModel(in, bc) {
          m => { case (id, line) =>
            (id, Corrector.correctLine(line, m, m.windowMemo))
          }
        }.toDF("line_id", "text")
        a.get("output-file") match {
          case Some(f) =>
            CliArgs.writeSingleTsv(out.orderBy($"line_id"), f)
            println(s"corrected ${in.count()} lines -> $f")
          case None => // process.py:178-181: one file per line id
            Sources.savePairsToDir(out, a("directory"), a("output-suffix"))
            println(s"corrected ${in.count()} lines -> ${a("directory")}/*.${a("output-suffix")}")
        }
      }
    } finally if (owned) spark.stop()
  }
}

/** cor-asv-fst-evaluate (scripts/evaluate.py): join OCR/corrected/GT
  * keyed TSVs and print the reference's aggregate metrics.
  *
  * Flags: -i/--input-file OCR; -o/--output-file corrected; -g/--gt-file
  * GT; -M/--metric in {Levenshtein, combining-e-umlauts,
  * precision-recall} (default combining-e-umlauts, evaluate.py:234). */
object Evaluate {
  def main(args: Array[String]): Unit = {
    val evalAliases = Map(
      "-i" -> "input-file", "-o" -> "output-file", "-g" -> "gt-file",
      "-M" -> "metric", "-Q" -> "processes")
    val a = CliArgs.parse(args, evalAliases, evalAliases.values.toSet)
    val metric = a.getOrElse("metric", "combining-e-umlauts")
    val (spark, owned) = CliArgs.spark(a.getOrElse("processes", "4").toInt)
    import spark.implicits._
    try {
      val ocr = Sources.loadPairsFromFile(spark, a("input-file")).toDF("line_id", "ocr")
      val cor = Sources.loadPairsFromFile(spark, a("output-file")).toDF("line_id", "cor")
      val gt = Sources.loadPairsFromFile(spark, a("gt-file")).toDF("line_id", "gt")
      // GT keys drive the triplets (evaluate.py:274-286)
      val trip = gt.join(ocr, Seq("line_id")).join(cor, Seq("line_id"))
        .select($"ocr", $"cor", $"gt").as[(String, String, String)]
      metric match {
        case "Levenshtein" =>
          // edits and length both in code points, like adjustedDistance
          val (eo, lo, ec, lc) = trip.map { case (o, c, g) =>
            val n = g.codePointCount(0, g.length).toLong
            (Distance.levenshtein(o, g).toLong, n,
              Distance.levenshtein(c, g).toLong, n)
          }.reduce((x, y) => (x._1 + y._1, x._2 + y._2, x._3 + y._3, x._4 + y._4))
          println(s"Aggregate CER OCR:        ${eo.toDouble / lo}")
          println(s"Aggregate CER Corrected:  ${ec.toDouble / lc}")
        case "combining-e-umlauts" =>
          val (eo, lo, ec, lc) = trip.map { case (o, c, g) =>
            val (d1, l1) = Distance.adjustedDistance(o, g)
            val (d2, l2) = Distance.adjustedDistance(c, g)
            (d1, l1.toLong, d2, l2.toLong)
          }.reduce((x, y) => (x._1 + y._1, x._2 + y._2, x._3 + y._3, x._4 + y._4))
          println(s"Aggregate CER OCR:        ${eo / lo}")
          println(s"Aggregate CER Corrected:  ${ec / lc}")
        case "precision-recall" =>
          val (tp, tn, fp, fn) = trip.map { case (o, c, g) =>
            Distance.precisionRecall(o, c, g)
          }.reduce((x, y) => (x._1 + y._1, x._2 + y._2, x._3 + y._3, x._4 + y._4))
          val precision = if (tp + fp == 0) 1.0 else tp.toDouble / (tp + fp)
          val recall = if (tp + fn == 0) 1.0 else tp.toDouble / (tp + fn)
          val f1 = 2.0 * tp / (2.0 * tp + fp + fn)
          val tpr = recall
          val fpr = if (fp + tn == 0) 0.0 else fp.toDouble / (fp + tn)
          val auc = 0.5 * tpr * fpr + tpr * (1 - fpr) + 0.5 * (1 - tpr) * (1 - fpr)
          println(f"Aggregate precision: $precision%.3f / recall: $recall%.3f / F1: $f1%.3f")
          println(f"Aggregate true-positive-rate: $tpr%.3f / false-positive-rate: $fpr%.3f / AUC: $auc%.3f")
        case other =>
          throw new IllegalArgumentException(s"unknown metric: $other")
      }
    } finally if (owned) spark.stop()
  }
}
