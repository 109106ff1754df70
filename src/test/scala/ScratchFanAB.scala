import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Interleaved A/B of the scan fan-out on cheap queries. Every sample
  * starts from released caches (the warm-up's persisted plans too), and
  * the arm that runs first alternates between repetitions. */
object ScratchFanAB extends App {
  val sf = sys.env.getOrElse("SF_DIR", "/root/testdata/sf0.1")
  val spark = SparkSession.builder().master("local[32]")
    .config("spark.sql.shuffle.partitions", 32)
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()
  spark.sparkContext.setLogLevel("WARN")
  def sec[A](f: => A): Double = { val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9 }
  val names = Seq("q_dedup_minhash", "q_ngram_jaccard", "q_winnow",
    "q_lm_perplexity", "q_ppl_buckets", "q_ann_ivf", "q_ann_lsh",
    "q_ann_cosine", "q_dedup_embed", "q_semdedup", "q_dedup_bloom",
    "q_paragraph_dedup", "q_confusion_counts", "q_correct_docs",
    "q_setsim_join", "q_dedup_groups", "q_hits", "q_pagerank")
  names.foreach { n =>
    val fn = graft.SparkEntry.queries(n)
    fn(spark, sf).count() // warm codegen for this query shape
    graft.queries.Queries.releaseCaches()
    val series = (1 to 4).flatMap { rep =>
      (if (rep % 2 == 1) Seq(true, false) else Seq(false, true)).map { fan =>
        spark.conf.set("spark.graft.fanout.enabled", fan.toString)
        val t = sec { fn(spark, sf).count() }
        graft.queries.Queries.releaseCaches()
        (fan, t)
      }
    }
    spark.conf.set("spark.graft.fanout.enabled", "true")
    val on = series.filter(_._1).map(_._2)
    val off = series.filterNot(_._1).map(_._2)
    println(f"[fanab] $n%-20s fanON min=${on.min}%6.3f (${on.map(x=>f"$x%.2f").mkString(",")})  fanOFF min=${off.min}%6.3f (${off.map(x=>f"$x%.2f").mkString(",")})")
  }
  spark.stop()
}
