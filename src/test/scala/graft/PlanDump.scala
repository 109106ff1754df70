import graft._
import graft.pipeline._
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
object PlanDump extends App {
  val spark = SparkSession.builder().master("local[8]")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.ui.enabled", "false").getOrCreate()
  spark.sparkContext.setLogLevel("ERROR")
  val sf = "/root/testdata/sf0.001"
  val sb = new StringBuilder
  def dump(title: String, df: org.apache.spark.sql.DataFrame, note: String): Unit = {
    sb.append(s"## $title\n\n$note\n\n```\n")
    sb.append(df.queryExecution.explainString(org.apache.spark.sql.execution.SimpleMode).trim)
    sb.append("\n```\n\n")
  }
  val model = Bench.fixtureModel()
  val bc = CorrectionJob.broadcastModel(spark, model)
  val docs = DocGen.docs(spark, 100, 42L, 8)
  dump("Flagship correction (salted)",
    CorrectionJob.correctDocs(docs, bc, None, Some(8)).toDF(),
    "Profile per SURVEY.md §4: scan/generate -> ONE salting exchange -> mapPartitions (opaque FST cascade) -> sink. No other shuffle in the inference path; the model rides a torrent broadcast.")
  dump("q_token_counts", graft.queries.Queries.qTokenCounts(spark, sf),
    "Partial+final hash aggregation; parquet scan reads ONLY `text` (ReadSchema) — column pruning reaches the source.")
  dump("q_dedup_minhash", graft.queries.Queries.qDedupMinhash(spark, sf),
    "Single explode of shingles feeding ONE hash aggregation computing all 64 affine row-mins at once (64 long cells per doc, partial+final HashAggregate), then a stack folding 4 row-mins per band into 16 (band, sig) rows + a second small agg — one wide shuffle total (the naive per-permutation form costs 64). All 64 permutations are affine maps of ONE md5 prefix; mins run over fixed-width BIGINTs (min over strings degrades to SortAggregate).")
  dump("q_lm_ngrams", graft.queries.Queries.qLmNgrams(spark, sf),
    "Distributed char-LM training counts (CharNgramLm.trainSpark's aggregation): per-char (context+char) key emission -> partial+final hash agg; only the vocabulary-sized dict crosses the shuffle. The flatMap is a typed projection (one serde boundary), the aggregation is columnar.")
  dump("q_lexicon_weights", graft.queries.Queries.qLexiconWeights(spark, sf),
    "-ln relative-frequency weights: the vocabulary-sized words aggregate is persisted and read by BOTH the total and the projection; the total stays IN-PLAN as a broadcast 1-row cross join (no builder-time job — the builder-is-lazy invariant).")
  dump("q_lm_perplexity", graft.queries.Queries.qLmPerplexity(spark, sf),
    "Perplexity quality filter (CCNet/Gopher shape): the exploded per-char key stream joins two VOCABULARY-sized dimension tables (key + context counts, both from ONE persisted aggregate) and re-aggregates per doc; V rides in-plan as a 1-row broadcast; per-char nats are fixed-point rounded so the per-doc sum is aggregation-order-independent (bit-equal to the DuckDB oracle).")
  dump("q_len_percentiles", graft.queries.Queries.qLenPercentiles(spark, sf),
    "Exact percentiles the 100-TB way: compact to a (source, n_tokens) histogram FIRST (bounded rows), then a cumulative window over the histogram — never a per-group sort of raw rows, never a percentile_approx sketch; the window partitions by source (bounded).")
  dump("q_substring_dup", graft.queries.Queries.qSubstringDup(spark, sf),
    "Exact substring-duplication coverage (Lee et al. shape): per-position 40-grams hashed to 8-byte keys, ONE gram repartition persisted and reused by the >=2-docs cut and the join-back; coverage = interval union via a doc-partitioned gaps-and-islands running-max window (bounded partitions, never global).")
  dump("q_sample_mixture", graft.queries.Queries.qSampleMixture(spark, sf),
    "Data-mixture sampling: bounded (source, tokens) aggregate + 1-row totals broadcast derive per-source rates; the corpus side joins the tiny rate table (no hint — AQE broadcasts) and filters on the doc_id hash — scan + filter, no corpus shuffle.")
  dump("q_ann_cosine", graft.queries.Queries.qAnnCosine(spark, sf),
    "1-row query vector is broadcast (BroadcastNestedLoopJoin); the dot product is a codegen'd higher-order function over the array column; TakeOrderedAndProject caps the result at k.")
  dump("q_simhash (native expression)", graft.queries.Queries.qSimhash(spark, sf),
    "Custom Catalyst expression `simhash64` evaluated INSIDE WholeStageCodegen (the *(n) stages) — no DeserializeToObject/typed-map serde boundary.")
  dump("Boilerplate.strip data path (typed)",
    graft.pipeline.Boilerplate.strip(DocGen.docs(spark, 100, 42L, 8)).docs.toDF(),
    "The typed boilerplate strip's DATA path: scan -> MapElements (filter against the broadcast dictionary) -> sink. NO exchange anywhere — the operator composes with any upstream partitioning. The dictionary pass (not shown: explode -> 60-bit hash agg -> bounded top-df collect) is the only shuffle and runs once before this plan.")
  dump("q_boilerplate", graft.queries.Queries.qBoilerplate(spark, sf),
    "CCNet-style span-level boilerplate strip (oracled flat form): ONE documents FileScan feeds both the span construction and the df aggregate; the strip is a join against the df agg keyed on span text. The typed scale path (pipeline.Boilerplate.strip) replaces that join with a bounded broadcast dictionary + map-side filter — NO data-path shuffle; this oracled form keeps both engines on identical relational semantics.")
  dump("q_main_content", graft.queries.Queries.qMainContent(spark, sf),
    "Readability-style main-content block selection: cross-doc df signal -> gaps-and-islands -> largest island per doc. BOTH window functions are doc-partitioned (never global) — per-group state is bounded by the longest document; the only wide exchanges are the df aggregate and the doc-key window shuffles.")
  dump("q_html_extract", graft.queries.Queries.qHtmlExtract(spark, sf),
    "Raw-HTML extraction round trip: ONE documents FileScan (doc_id, text only — ReadSchema pruned) -> MapPartitions (synthesize page + from-scratch tokenizer parse, strictly per-row) -> presentation sort. The ONLY exchange is the final ORDER BY — extraction itself never shuffles, so docsFromHtml composes with any upstream partitioning at 10^12 docs.")
  dump("q_pdf_extract", graft.queries.Queries.qPdfExtract(spark, sf),
    "PDF layout-parse round trip: same shape as q_html_extract — per-row PdfGen write (Deflater) + PdfExtract recovery parse (Inflater, content-stream tokenizer, reading-order sort) inside ONE MapPartitions; the only exchange is the presentation ORDER BY.")
  dump("q_url_dedup", graft.queries.Queries.qUrlDedup(spark, sf),
    "Canonical-URL fetch-list dedup: ONE pruned FileScan (doc_id only) -> typed per-row canonicalization map -> partial+final HashAggregate on the canonical key. The single count-shuffle is the entire cost at 10^12 fetch records; no join, no window, no driver state.")
  dump("q_link_graph", graft.queries.Queries.qLinkGraph(spark, sf),
    "Link-graph construction (HtmlExtract.links + UrlOps.canonicalize): per-row synthesize+parse flatMap -> ONE partial+final HashAggregate on the (src_host, dst_url) edge key. Map-side partials make the count skew-immune on Zipf-distributed dst keys; no join, no window.")
  dump("q_c4_filter", graft.queries.Queries.qC4Filter(spark, sf),
    "C4-style line-level cleaning: ONE pruned FileScan -> per-row flatMap (line synthesis + keep-rule filter + rejoin, doc-level minimum applied in the same map) -> presentation sort. A REWRITE filter with zero shuffle — it composes with any upstream partitioning.")
  dump("q_fix_mojibake", graft.queries.Queries.qFixMojibake(spark, sf),
    "Encoding repair (deterministic ftfy core): ONE pruned FileScan -> per-row corrupt-then-repair map -> presentation sort. No shuffle in the operator itself; repair∘corrupt is oracle-pinned as the identity per row.")
  dump("q_robots_filter", graft.queries.Queries.qRobotsFilter(spark, sf),
    "RFC 9309 politeness filter over the fetch list: scan -> per-row robots evaluation -> ONE partial+final HashAggregate. The rules side is host-sized (broadcast in production); the URL side never shuffles before the count agg.")
  dump("q_pagerank", graft.queries.Queries.qPagerank(spark, sf),
    "Weighted PageRank, 3 unrolled iterations in 10^-12 fixed-point integer arithmetic (aggregation-order-independent -> bit-identical to the DuckDB oracle). The weighted edge list is built+persisted ONCE (every iteration's InMemoryTableScan reads it); each iteration = one src-keyed join + one dst-keyed partial+final sum — shuffles stay node-sized, lineage stays 3 deep.")
  dump("q_warc_extract", graft.queries.Queries.qWarcExtract(spark, sf),
    "WARC crawl-archive round trip: the ONE groupByKey exchange below belongs to the SYNTHESIS side only (packing docs into 8 .warc.gz shard blobs — production replaces this with the crawler's files under a binaryFile scan). The PARSE side — multi-member gunzip, Content-Length framing, HTTP split, HtmlExtract — is the SerializeFromObject/MapPartitions span above it: strictly per-blob, shuffle-free, so container parsing composes with any upstream partitioning at crawl scale.")
  dump("q_ngram_jaccard", graft.queries.Queries.qNgramJaccard(spark, sf),
    "Candidate pairs WITHOUT a shingle self-join, hot keys bounded BEFORE any doc-list materialization: the distinct (shingle, doc) rows are repartitioned ONCE by shingle and persisted; the df COUNT, the 2..20 cut (observed via jaccard_dfcut), the join-back and the now-bounded collect_set all ride that partitioning — the count-filter join sits UPSTREAM of the only collect_set, so a corpus-frequent shingle costs one count cell, never a corpus-sized buffer. The per-doc sizes joins carry NO broadcast hint (sizes grows linearly) — AQE broadcasts at this scale, shuffle-joins at 100x. Every InMemoryTableScan below reads the ONE cached aggregate; the parquet source is read once at execution.")
  dump("q_st_ngrams (distributed part)", graft.queries.Queries.stNgramsTop(spark, sf),
    "select_ngrams rank<=200 as orderBy+limit -> TakeOrderedAndProject (per-partition top-k, merged on the driver); NO global row_number window (which would move the whole distinct-gram table to one partition). The <=200 survivors are numbered driver-side.")
  dump("q_ann_lsh", graft.queries.Queries.qAnnLsh(spark, sf),
    "LSH scale path, all-expression: the 16-bit signature is a codegen'd sum of sign-dot-products over literal hyperplane vectors; the query row is fetched via a PUSHED vec_id=0 scan filter (PushedFilters in the scan below) and broadcast; the hamming prune runs BEFORE any cosine is computed.")
  dump("q_dedup_embed", graft.queries.Queries.qDedupEmbed(spark, sf),
    "Embedding-cosine near-dup: codegen'd 32-bit LSH signatures -> four 8-bit bands repartitioned ONCE by (band, bval) and persisted -> bucket COUNT + 2..20 cut (observed via embed_dfcut) BEFORE the self-join, so the quadratic pair stage only ever sees bounded buckets -> exact cosine only on colliding pairs -> duplicate band collisions collapsed by a NARROW max(cos) HashAggregate over (ida, idb) AFTER scoring (no first(embedding) SortAggregate) -> TakeOrderedAndProject top-20.")
  dump("q_dedup_groups", graft.queries.Queries.qDedupGroups(spark, sf),
    "Dedup verdict: connected components over verified edges (exact-hash window-min star edges + jaccard pairs + minhash candidates that pass 32/64 signature agreement against the cached row-min table) via pointer-doubled min-label propagation — the plan below is the CONVERGED round's label table joined back to ids; each round was one shuffle join + hash agg + a self-compose + a single collected scalar. RAW band collisions are still not edges (the r=1 signature measured 97% false chaining); with b=16 x r=4 the bucket stage is selective and the agreement check verifies each candidate.")
  dump("q_dedup_simhash", graft.queries.Queries.qDedupSimhash(spark, sf),
    "SimHash near-dup pairs: codegen'd signature scan -> stack into 4x16-bit bands -> ONE (band, bval) repartition, persisted -> bucket COUNT + 2..20 cut (observed via simhash_dfcut) BEFORE the join-back and the now-bounded collect_set -> pair explosion -> exact hamming (bit_count of xor) only on collided candidates. Same count-first banded-LSH plan shape as q_dedup_embed, over bits instead of vectors.")
  dump("q_ann_ivf", graft.queries.Queries.qAnnIvf(spark, sf),
    "IVF-flat ANN: FIXED-size (16-row) centroid broadcast — the one hint justified at any scale — feeds a narrow max_by cell assignment (partial agg collapses the 16x inflation map-side); the probe filter prunes ~7/8 of cells BEFORE embeddings re-attach by key for the full-precision cosine.")
  dump("q_events_asof", graft.queries.Analytics.qEventsAsof(spark, sf),
    "AS-OF join without a range self-join: tag view/purchase, union, ONE user_id shuffle, running last(ignoreNulls) window carries the latest prior view to each purchase. Output is linear in events; a range join would be quadratic in events-per-user.")
  dump("q_tpch_top_customers", graft.queries.Analytics.qTpchTopCustomers(spark, sf),
    "Join battery shape: fact-fact join (lineitem x orders) left to AQE; customer (fact-scaling) carries NO hint — AQE broadcasts here, shuffles at scale; nation (constant 25 rows) is hinted; the rank window is PARTITIONED by nation (bounded partitions — never a global window); money summed as per-row integer cents so partial+final aggregation order cannot change the value.")
  dump("q_tpch_promo", graft.queries.Analytics.qTpchPromo(spark, sf),
    "Q14 shape: lineitem x part (part scales with sf — no hint, AQE decides), conditional cents aggregation per month; both scans are pruned to the 3 needed columns.")
  dump("q_parts_cold", graft.queries.Analytics.qPartsCold(spark, sf),
    "LEFT ANTI join: the quantity filter runs BEFORE the join (pushed to the probe-side scan) and only l_partkey survives pruning; no distinct needed — anti join emits each part at most once.")
  dump("q_suppliers_hot", graft.queries.Analytics.qSuppliersHot(spark, sf),
    "LEFT SEMI join: quantity+shipdate predicates pushed into the lineitem scan; semi join keeps supplier rows without per-match duplication (no post-join distinct).")
  dump("q_events_window", graft.queries.Analytics.qEventsWindow(spark, sf),
    "Batch mirror of the streaming 5-minute tumbling window: window(ts) + event_type hash agg, partial+final; w_start emitted as epoch seconds (timezone-free).")
  dump("q_gopher_quality", graft.queries.Queries.qGopherQuality(spark, sf),
    "Repetition quality metrics computed ENTIRELY inside one per-row projection (higher-order array functions — interpreted expressions, but still a single narrow Project with no serde boundary) — scan -> project -> sort, no doc_id-keyed shuffle of exploded grams; the per-doc mode-of-array is O(distinct*n) per row, cheaper at scale than re-shuffling a gram table.")
  dump("q_pii_redact", graft.queries.Queries.qPiiRedact(spark, sf),
    "Per-row regex counting + masking (RegExpExtractAll / RegExpReplace inside WholeStageCodegen); scan -> project -> sort, no shuffle.")
  dump("q_decontaminate", graft.queries.Queries.qDecontaminate(spark, sf),
    "Benchmark n-gram overlap: the eval set is FIXED-size by construction, so its distinct-gram table is broadcast (the justified-hint case) and the corpus side joins UN-deduplicated — the broadcast join filters first, and the count-distinct's dedup shuffle carries only the MATCHED grams (deduping before the join would shuffle the full exploded gram table); gram keys are 60-bit md5 prefixes.")
  dump("q_tfidf_top", graft.queries.Queries.qTfidfTop(spark, sf),
    "TF-IDF keyword extraction: ONE token explode feeds a persisted (doc_id, term) hash aggregate that BOTH the doc-length and the document-frequency sides re-read (InMemoryTableScan); the doc-term <-> df join carries no hint (df scales with vocabulary — AQE decides); the rank window is PARTITIONED by doc_id, never global.")
  dump("q_chunk_fixed", graft.queries.Queries.qChunkFixed(spark, sf),
    "Context-length chunking (64-token windows, stride 48): per-row Generate (posexplode) of O(len/stride) chunks — linear output, no shuffle except the presentation sort; token counts emitted inline so a downstream packer never re-tokenizes.")
  dump("q_pack_sequences", graft.queries.Queries.qPackSequences(spark, sf),
    "Sequence packing (next-fit, 256-token budget): chunk token counts derived ARITHMETICALLY (no chunk strings built), ONE hash exchange co-locates each doc's chunk stats + a partition-local sort, then mapPartitions packs with (partition, seq) ids — no global coordination, no range-sampling job.")
  dump("q_paragraph_dedup", graft.queries.Queries.qParagraphDedup(spark, sf),
    "CCNet paragraph dedup: paragraph stream -> ONE md5(par) hash agg whose per-group state is a single BIGINT min (no doc lists), join back on the same key, then ONE doc_id agg reassembles surviving text (collect_list bounded by the longest document). A corpus-frequent paragraph costs one min cell, not a corpus-sized buffer.")
  dump("q_dedup_bloom", graft.queries.Queries.qDedupBloom(spark, sf),
    "Bloom-prefiltered incremental dedup: the broadcast sketch rejects definitely-new batch rows AT THE SCAN (they never shuffle); only bloom candidates (true dupes + ~fpp of new) enter the exact LEFT ANTI verification join. The marked batch is persisted so both union branches share one scan. Result is bit-identical to the plain anti-join at any fpp.")
  dump("q_sessionize", graft.queries.Analytics.qSessionize(spark, sf),
    "Gap-based sessionization: lag boundary + running-sum session id over the SAME (user_id; us, event_id) window — one user_id exchange serves both; the per-session rollup's exchange moves only map-side-combined session aggregates. Hot users cost one window buffer, never a corpus-sized group.")
  dump("q_bpe_pairs", graft.queries.Queries.qBpePairs(spark, sf),
    "BPE training iteration: ONE corpus shuffle (word counts), then adjacent-pair counts aggregate over the VOCAB (bounded by distinct words) into a partial+final hash agg; top-50 is a TakeOrderedAndProject, never a global sort. Each further merge iteration in Bpe.trainSpark repeats exactly this shape plus a 1-row collect.")
  dump("q_crawl_frontier", graft.queries.Queries.qCrawlFrontier(spark, sf),
    "Crawl-frontier prioritization: canonical-key hash agg (fetch-list dedup) -> per-row robots filter (rules side host-sized; broadcast shape) -> ONE node-sized join against the fixed-point PageRank ranks; the priority sort is presentation-only (TakeOrdered at dispatch size in production).")
  dump("q_quality_classifier", graft.queries.Queries.qQualityClassifier(spark, sf),
    "Hashing-trick linear classifier: token split -> bucket hash -> weight -> sum folded INSIDE one higher-order expression per row — no Generate, no hash exchange (plan-guarded in QueriesSpec); the explode+groupBy formulation would shuffle every token of the corpus to compute a value that never needed to leave its row.")
  dump("q_inverted_index", graft.queries.Queries.qInvertedIndex(spark, sf),
    "Inverted index: distinct (term, doc) pairs -> ONE ObjectHashAggregate partial+final pair where the postings head is the custom bounded TopKMinLongs aggregate (fixed k-slot heap state, map-side combinable) — the hot-term case costs 20 longs per task; collect_list would buffer the full postings and a rank window would buffer whole partitions.")
  dump("q_sample_stratified", graft.queries.Queries.qSampleStratified(spark, sf),
    "Deterministic stratified hash sampling: u(doc_id) < rate(source) decided per row with no shuffle and no state — the only Exchange is the presentation sort. Reproducible across runs and partitionings; upsizing a stratum's rate keeps all previously-sampled rows.")
  dump("q_semdedup", graft.queries.Queries.qSemdedup(spark, sf),
    "SemDeDup: IVF coarse-quantizer cells (fixed-point Lloyd, 16-row centroid broadcast) -> ONE repartition by cell, persisted and reused by BOTH pairwise sides -> within-cell lower-id pairwise cosine (quadratic in CLUSTER size — the published algorithm; k scales with the corpus) -> narrow per-vector max collapse; cell balance surfaced via observe(semdedup_cells).")
  dump("q_bpe_encode", graft.queries.Queries.qBpeEncode(spark, sf),
    "BPE application: ONE corpus shuffle (word counts), then the tokenizer runs once per DISTINCT word in a vocab-bounded typed flatMap, and token counts aggregate partial+final with the word count as weight — encode cost is O(|vocab|), invariant to corpus growth; top-200 is a TakeOrderedAndProject.")
  dump("q_dsir", graft.queries.Queries.qDsir(spark, sf),
    "DSIR importance weights: hashed-bigram counts (1024 groups, one tiny agg with in-plan totals) fold into a broadcast DENSE log-ratio array; scoring is a per-row lambda fold against that array — the corpus never shuffles to be scored. Bigrams via zip_with(slice, slice): a lambda-body reference to the word split would re-evaluate it per element.")
  dump("q_bm25", graft.queries.Queries.qBm25(spark, sf),
    "BM25 retrieval: per-term tf and dl are per-row lambda folds; N/avgdl/df collapse into ONE 1-row conditional aggregate broadcast back (BroadcastNestedLoopJoin); top-20 is a TakeOrderedAndProject — zero corpus shuffle for a bounded query-term set.")
  dump("q_setsim_join", graft.queries.Queries.qSetsimJoin(spark, sf),
    "Exact set-similarity join (AllPairs prefix filtering): ONE shingle explode feeds the df agg; the df-ordered set table persists and is read by the prefix explode AND both verify sides; candidates come from a self-join on only the (n - ceil(0.9n) + 1)-prefix tokens (rarest-first order) with the 10*min>=9*max size filter INSIDE the join condition, then the PPJoin POSITIONAL filter (first-shared-token overlap bound, 83% of prefix survivors killed before any verify join); verification is array_intersect on candidates only and membership is decided by integer cross-multiplication 19*inter >= 9*(na+nb).")
  dump("q_pmi_bigrams", graft.queries.Queries.qPmiBigrams(spark, sf),
    "PMI collocations: one bigram explode -> (a,b) hash agg, one word explode -> vocab agg; both totals stay IN-PLAN as 1-row broadcast cross joins; the two unigram joins are unhinted (vocab scales, AQE decides); the ln runs once per surviving pair over pure integer counts.")
  dump("q_anchor_text", graft.queries.Queries.qAnchorText(spark, sf),
    "Anchor-text aggregation: per-row synthesize+parse flatMap -> ONE (dst, anchor) hash agg -> ONE dst-keyed fold where the dominant anchor is min(struct(-cnt, anchor)) — per-group state is a single struct, never a list (hot targets would buffer their full Zipf-skewed anchor set under collect-and-rank).")
  dump("q_sample_weighted", graft.queries.Queries.qSampleWeighted(spark, sf),
    "Efraimidis-Spirakis weighted sampling without replacement: per-row key = -ln(u)/n_chars over a 2-column pruned scan, selection = TakeOrderedAndProject (k-slot task heaps, no global sort, no corpus shuffle).")
  dump("q_ppl_buckets", graft.queries.Queries.qPplBuckets(spark, sf),
    "CCNet perplexity tertiles: the per-doc ppl aggregate persists once and feeds BOTH the 500-doc calibration sample (TakeOrderedAndProject — bounded at any corpus size) and the final per-row bucketing; the only global window runs over the <=500-row sample histogram; cuts broadcast back as a 1-row cross join.")
  dump("q_scd_current", graft.queries.Analytics.qScdCurrent(spark, sf),
    "SCD latest-wins current view (CDC compaction): ONE max(struct(ts, event_id, ...)) partial+final hash aggregate — single-struct group state, map-side combinable; the rank-1 window formulation (the oracle's independent restatement) would buffer and sort whole user partitions.")
  dump("q_stupid_backoff", graft.queries.Queries.qStupidBackoff(spark, sf),
    "Stupid-backoff LM scoring (Brants et al.): three vocab-sized count aggs (persisted; the Brants shard story), the positional trigram stream LEFT-joins them (dimension joins, AQE decides), N rides a 1-row broadcast; one ln per position in nats9 fixed point before the per-doc BIGINT sum.")
  dump("q_jl_project", graft.queries.Queries.qJlProject(spark, sf),
    "JL +-1 random projection: pure per-row over the embeddings scan (ReadSchema pruned to vec_id+embedding), fixed-point BIGINT sums per output dim with the fp array LET-BOUND (single-element transform — 8 output lambdas share one round(x*1e6) pass); the only Exchange is the presentation sort.")
  dump("q_cocitation", graft.queries.Queries.qCocitation(spark, sf),
    "Co-citation: grouped-edge self-join keyed on SOURCE (bounded out-degree -> linear candidates) + ONE pair-keyed hash agg; exact integer counts and min-weight strength.")
  dump("q_hits", graft.queries.Queries.qHits(spark, sf),
    "HITS hubs/authorities: persisted edge list feeds every round; each half-step is ONE node-sized join + ONE hash agg; the L-inf normalizer is a 1-row max broadcast IN-PLAN; each half-step table persists (two consumers) so lineage never re-derives earlier rounds (2^rounds blowup without it — measured 77s -> 18s at sf0.01).")
  dump("q_winnow", graft.queries.Queries.qWinnow(spark, sf),
    "Winnowing fingerprints: pure per-row pipeline (gram hash -> zip_with min-tree -> distinct -> xor checksum) with the gram-hash array LET-BOUND via single-element transform (a lambda variable evaluates once; inlined references re-evaluate per use — measured 109s vs 3.6s at sf0.1) and the result struct emitted through inline(); the only Exchange is the presentation sort.")
  Files.writeString(Paths.get("PLANS.md"),
    "# PLANS — physical plans of the headline jobs (sf0.001, local[8], AQE on)\n\n" +
    "Generated by `Test/runMain PlanDump`. Annotations state the intended\nplan shape; QueriesSpec asserts the critical properties (pruned\nReadSchema, PushedFilters, broadcast join, codegen residency).\n\n" + sb.result())
  println("written PLANS.md")
  spark.stop()
}
