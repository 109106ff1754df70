package graft.queries

import graft.tokenize.Tokenizer

/** DuckDB oracle SQL for every SQL-expressible query in `Queries`.
  * Column names/aliases match the Spark side exactly (the driver's
  * compare sorts columns by name before hashing). All outputs carry a
  * deterministic ORDER BY; floats are rounded on both sides. */
object Oracles {

  private val TOK = Tokenizer.TokenRegex

  val qTokenCounts: String =
    """SELECT token, count(*) AS cnt
      |FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents) t
      |WHERE token <> '' GROUP BY token ORDER BY token""".stripMargin

  private val lexiconCtes: String =
    s"""WITH toks AS (
       |  SELECT unnest(regexp_extract_all(text, '$TOK')) AS t
       |  FROM documents WHERE length(text) >= 3
       |), cls AS (
       |  SELECT CASE WHEN t IN ('"','»','(','„') THEN 'opening_brackets'
       |              WHEN t IN ('"','«',')','“','‘','''') THEN 'closing_brackets'
       |              WHEN t <> '—' AND NOT regexp_matches(t, '[\\p{L}\\p{Nd}]') THEN 'punctuation'
       |              ELSE 'words' END AS category, t
       |  FROM toks
       |), wnorm AS (
       |  SELECT CASE WHEN regexp_matches(w, '^[0-9]') THEN repeat('1', length(w)) ELSE w END AS w
       |  FROM (SELECT replace(replace(replace(replace(replace(replace(t,
       |          'ä','aͤ'),'ö','oͤ'),'ü','uͤ'),'Ä','Aͤ'),'Ö','Oͤ'),'Ü','Uͤ') AS w
       |        FROM cls WHERE category = 'words') z
       |), wrows AS (
       |  SELECT 'words' AS category, w AS token, CAST(1 AS BIGINT) AS freq FROM wnorm
       |  UNION ALL
       |  SELECT 'words' AS category,
       |    CASE WHEN substr(w,1,1) <> lower(substr(w,1,1)) THEN lower(w)
       |         ELSE upper(substr(w,1,1)) || lower(substr(w,2)) END AS token,
       |    CAST(1 AS BIGINT) AS freq
       |  FROM wnorm
       |  WHERE (CASE WHEN substr(w,1,1) <> lower(substr(w,1,1)) THEN lower(w)
       |              ELSE upper(substr(w,1,1)) || lower(substr(w,2)) END) <> w
       |), brows AS (
       |  SELECT category, t AS token, CAST(1 AS BIGINT) AS freq FROM cls WHERE category <> 'words'
       |)""".stripMargin

  val qLexiconCounts: String =
    s"""$lexiconCtes
       |SELECT category, token, CAST(sum(freq) AS BIGINT) AS freq
       |FROM (SELECT * FROM wrows UNION ALL SELECT * FROM brows) allrows
       |GROUP BY category, token ORDER BY category, token""".stripMargin

  val qLexiconWeights: String =
    s"""$lexiconCtes, wcounts AS (
       |  SELECT token, sum(freq) AS freq FROM wrows GROUP BY token
       |), tot AS (SELECT CAST(sum(freq) AS DOUBLE) AS total FROM wcounts)
       |SELECT token, round(-ln(freq / total), 6) AS weight
       |FROM wcounts, tot
       |WHERE NOT (freq <= 3 AND freq / total < 2e-6)
       |ORDER BY token""".stripMargin

  val qNgramTopk: String =
    """SELECT gram, count(*) AS cnt FROM (
      |  SELECT substr(text, CAST(i AS INTEGER), 3) AS gram
      |  FROM documents, LATERAL (SELECT unnest(range(1, length(text)-1)) AS i) u
      |  WHERE length(text) >= 3
      |) t GROUP BY gram ORDER BY cnt DESC, gram ASC LIMIT 50""".stripMargin

  val qStNgrams: String =
    """WITH grams AS (
      |  SELECT substr(text, CAST(i AS INTEGER), CAST(n AS INTEGER)) AS gram
      |  FROM documents,
      |    LATERAL (SELECT unnest(range(1, length(text)+1)) AS i) u,
      |    LATERAL (SELECT unnest(range(1, least(3, length(text) - i + 1)+1)) AS n) v
      |  WHERE length(text) >= 1
      |), counts AS (
      |  SELECT gram, count(*) AS cnt FROM grams GROUP BY gram
      |)
      |SELECT gram, cnt,
      |  CAST(row_number() OVER (ORDER BY (length(gram) <= 1) DESC, cnt DESC, gram ASC) AS INTEGER) AS rank
      |FROM counts QUALIFY rank <= 200 ORDER BY rank""".stripMargin

  val qTrainingJoin: String =
    """WITH ocr AS (
      |  SELECT doc_id AS line_id, replace(text, 'ch', 'h') AS ocr
      |  FROM documents WHERE doc_id % 3 <> 0
      |), gt AS (SELECT doc_id AS line_id, text AS gt FROM documents)
      |SELECT ocr.line_id, ocr.ocr, gt.gt, (ocr.ocr = gt.gt) AS unchanged
      |FROM ocr JOIN gt ON ocr.line_id = gt.line_id
      |ORDER BY ocr.line_id""".stripMargin

  val qCerLev: String =
    """WITH t AS (SELECT text, replace(replace(text, 'a', 'o'), 'r', 'n') AS ocr FROM documents)
      |SELECT CAST(sum(levenshtein(ocr, text)) AS BIGINT) AS edits,
      |       CAST(sum(length(text)) AS BIGINT) AS chars,
      |       round(CAST(sum(levenshtein(ocr, text)) AS DOUBLE) / sum(length(text)), 6) AS cer
      |FROM t""".stripMargin

  /** Char-LM training counts: the key at position i is the char window
    * [max(1, i-3) .. i] — exactly CharNgramLm.lineKeys(n=4). */
  val qLmNgrams: String =
    """SELECT substr(text, greatest(1, CAST(i AS INTEGER) - 3),
      |              CAST(i AS INTEGER) - greatest(1, CAST(i AS INTEGER) - 3) + 1) AS gram,
      |       count(*) AS cnt
      |FROM documents, LATERAL (SELECT unnest(range(1, length(text) + 1)) AS i) u
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** Per-doc char-LM cross-entropy/perplexity under the same add-one
    * model as qLmNgrams' counts; per-char costs fixed-point rounded
    * (1e-9 nats) so the per-doc sum is aggregation-order-independent. */
  private val lmCostCtes: String =
    """keys AS (
      |  SELECT doc_id, substr(text, greatest(1, CAST(i AS INTEGER) - 3),
      |                        CAST(i AS INTEGER) - greatest(1, CAST(i AS INTEGER) - 3) + 1) AS key
      |  FROM documents, LATERAL (SELECT unnest(range(1, length(text) + 1)) AS i) u
      |), counts AS (SELECT key, count(*) AS kc FROM keys GROUP BY key),
      |ctxc AS (SELECT substr(key, 1, length(key) - 1) AS ctx, sum(kc) AS cc FROM counts GROUP BY 1),
      |vv AS (SELECT CAST(count(DISTINCT substr(key, length(key), 1)) AS DOUBLE) AS v FROM counts),
      |cost AS (
      |  SELECT doc_id, CAST(round(-ln((kc + 1.0) / (cc + v)) * 1e9) AS BIGINT) AS nats9
      |  FROM keys JOIN counts USING (key)
      |  JOIN ctxc ON substr(key, 1, length(key) - 1) = ctxc.ctx, vv
      |)""".stripMargin

  val qLmPerplexity: String =
    s"""WITH $lmCostCtes
       |SELECT doc_id, count(*) AS n_chars,
       |  round(CAST(sum(nats9) AS DOUBLE) / 1e9, 6) AS nats,
       |  round(exp((CAST(sum(nats9) AS DOUBLE) / 1e9) / count(*)), 6) AS ppl
       |FROM cost GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** CCNet tertile buckets: same per-doc ppl CTEs, tertile cuts from
    * the 500 smallest-u(doc_id) sample via the exact cumulative-window
    * percentile discipline, buckets by rounded-ppl comparison. */
  val qPplBuckets: String =
    s"""WITH $lmCostCtes,
       |ppl AS (
       |  SELECT doc_id,
       |    round(exp((CAST(sum(nats9) AS DOUBLE) / 1e9) / count(*)), 6) AS ppl
       |  FROM cost GROUP BY doc_id),
       |samp AS (
       |  SELECT ppl FROM ppl
       |  ORDER BY CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT),
       |           doc_id
       |  LIMIT 500),
       |h AS (SELECT ppl, count(*) AS c FROM samp GROUP BY ppl),
       |cum AS (
       |  SELECT ppl,
       |    sum(c) OVER (ORDER BY ppl ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
       |    sum(c) OVER () AS total
       |  FROM h),
       |cuts AS (
       |  SELECT min(CASE WHEN cum >= ceil(total / 3.0) THEN ppl END) AS p33,
       |         min(CASE WHEN cum >= ceil(total * 2.0 / 3.0) THEN ppl END) AS p67
       |  FROM cum)
       |SELECT doc_id, ppl,
       |  CASE WHEN ppl <= p33 THEN 'head'
       |       WHEN ppl <= p67 THEN 'middle' ELSE 'tail' END AS bucket
       |FROM ppl, cuts ORDER BY doc_id""".stripMargin

  /** Exact percentiles from the compacted (source, n_tokens) histogram
    * + cumulative window — the same definition as the Spark side (NOT
    * DuckDB's quantile functions, which interpolate differently). */
  val qLenPercentiles: String =
    """WITH hist AS (
      |  SELECT source, CAST(len(string_split(text, ' ')) AS INTEGER) AS n_tokens, count(*) AS c
      |  FROM documents GROUP BY 1, 2
      |), cum AS (
      |  SELECT source, n_tokens, c,
      |    sum(c) OVER (PARTITION BY source ORDER BY n_tokens
      |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
      |    sum(c) OVER (PARTITION BY source) AS total
      |  FROM hist
      |)
      |SELECT source, CAST(max(total) AS BIGINT) AS n_docs,
      |  min(CASE WHEN cum >= ceil(0.5 * total) THEN n_tokens END) AS p50,
      |  min(CASE WHEN cum >= ceil(0.9 * total) THEN n_tokens END) AS p90,
      |  min(CASE WHEN cum >= ceil(0.99 * total) THEN n_tokens END) AS p99
      |FROM cum GROUP BY source ORDER BY source""".stripMargin

  /** Duplicated-substring coverage: per-doc interval union of 40-char
    * grams seen in >= 2 distinct docs (gaps-and-islands running max). */
  val qSubstringDup: String =
    """WITH g AS (
      |  SELECT doc_id, CAST(i AS INTEGER) - 1 AS pos,
      |    CAST(('0x' || substr(md5(substr(text, CAST(i AS INTEGER), 40)), 1, 15)) AS BIGINT) AS gh
      |  FROM documents, LATERAL (SELECT unnest(range(1, length(text) - 40 + 2)) AS i) u
      |  WHERE length(text) >= 40
      |), dup AS (SELECT gh FROM g GROUP BY gh HAVING count(DISTINCT doc_id) >= 2),
      |isl AS (
      |  SELECT doc_id, pos,
      |    max(pos + 40) OVER (PARTITION BY doc_id ORDER BY pos
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prevEnd
      |  FROM g JOIN dup USING (gh)
      |), cov AS (
      |  SELECT doc_id, count(*) AS dup_grams,
      |    CAST(sum(greatest(0, (pos + 40) - greatest(pos, COALESCE(prevEnd, 0)))) AS BIGINT) AS covered
      |  FROM isl GROUP BY doc_id
      |)
      |SELECT d.doc_id, CAST(length(d.text) AS INTEGER) AS n_chars,
      |  COALESCE(cov.dup_grams, 0) AS dup_grams,
      |  COALESCE(cov.covered, 0) AS covered,
      |  round(CAST(COALESCE(cov.covered, 0) AS DOUBLE) / length(d.text), 6) AS dup_frac
      |FROM documents d LEFT JOIN cov ON d.doc_id = cov.doc_id
      |ORDER BY d.doc_id""".stripMargin

  /** Substring-dedup rewrite: first occurrence (min pos64) of every
    * 40-gram keeps its chars; later occurrences' intervals are removed.
    * The oracle rebuilds kept text PER-CHAR (NOT EXISTS against dup
    * intervals) — naive but obviously-correct; the engine merges
    * intervals instead (see Queries.qSubstringRewrite). */
  val qSubstringRewrite: String =
    """WITH g AS (
      |  SELECT doc_id, CAST(i AS INTEGER) - 1 AS pos,
      |    CAST(('0x' || substr(md5(substr(text, CAST(i AS INTEGER), 40)), 1, 15)) AS BIGINT) AS gh,
      |    doc_id * 1000000 + CAST(i AS INTEGER) - 1 AS pos64
      |  FROM documents, LATERAL (SELECT unnest(range(1, length(text) - 40 + 2)) AS i) u
      |  WHERE length(text) >= 40
      |), firsts AS (SELECT gh, min(pos64) AS keep_pos FROM g GROUP BY gh),
      |dup AS (
      |  SELECT g.doc_id, g.pos FROM g JOIN firsts USING (gh)
      |  WHERE g.pos64 > firsts.keep_pos
      |), chars AS (
      |  SELECT doc_id, CAST(i AS INTEGER) AS i, substr(text, CAST(i AS INTEGER), 1) AS ch
      |  FROM documents, LATERAL (SELECT unnest(range(1, length(text) + 1)) AS i) u
      |), kept AS (
      |  SELECT c.doc_id, c.i, c.ch FROM chars c
      |  WHERE NOT EXISTS (SELECT 1 FROM dup d
      |    WHERE d.doc_id = c.doc_id AND c.i - 1 >= d.pos AND c.i - 1 < d.pos + 40)
      |), agg AS (
      |  SELECT doc_id, string_agg(ch, '' ORDER BY i) AS clean_text FROM kept GROUP BY doc_id
      |)
      |SELECT d.doc_id, CAST(length(d.text) AS INTEGER) AS n_chars,
      |  CAST(length(d.text) - COALESCE(length(a.clean_text), 0) AS BIGINT) AS removed,
      |  COALESCE(a.clean_text, '') AS clean_text
      |FROM documents d LEFT JOIN agg a ON d.doc_id = a.doc_id
      |ORDER BY d.doc_id""".stripMargin

  val qDedupExact: String =
    """SELECT md5(text) AS h, count(*) AS n, min(doc_id) AS keeper
      |FROM documents GROUP BY md5(text) ORDER BY h""".stripMargin

  /** Paragraph dedup: 8-word chunks, first-occurrence keep by the
    * shared pos64 total order, docs reassembled with kept paragraphs
    * in position order (string_agg skips the NULLed dropped rows like
    * Spark's collect_list does). */
  val qParagraphDedup: String =
    """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      |pars AS (
      |  SELECT doc_id, i AS idx,
      |         array_to_string(list_slice(ws, i*8 + 1, i*8 + 8), ' ') AS par
      |  FROM w, LATERAL (SELECT unnest(range(0, CAST(ceil(len(ws) / 8.0) AS BIGINT))) AS i) u),
      |keyed AS (SELECT doc_id, idx, par, md5(par) AS h,
      |                 (CAST(doc_id AS BIGINT) << 32) | idx AS pos64 FROM pars),
      |firsts AS (SELECT h, min(pos64) AS keep_pos FROM keyed GROUP BY h)
      |SELECT k.doc_id,
      |       CAST(count(*) AS BIGINT) AS n_pars,
      |       CAST(sum(CASE WHEN k.pos64 = f.keep_pos THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
      |       string_agg(CASE WHEN k.pos64 = f.keep_pos THEN k.par END, chr(10) ORDER BY k.idx) AS clean_text
      |FROM keyed k JOIN firsts f USING (h)
      |GROUP BY k.doc_id
      |HAVING n_kept >= 1
      |ORDER BY doc_id""".stripMargin

  /** Bloom incremental dedup: the bloom is a pure pre-filter, so the
    * oracle is the plain anti-join of the batch against history
    * hashes — any bloom fpp must reproduce it bit-for-bit. */
  val qDedupBloom: String =
    """WITH nxt AS (SELECT doc_id - 1 AS doc_id, text AS next_text FROM documents),
      |batch AS (
      |  SELECT d.doc_id,
      |         md5(CASE WHEN d.doc_id % 6 = 0 THEN n.next_text ELSE d.text END) AS h
      |  FROM documents d JOIN nxt n USING (doc_id)
      |  WHERE d.doc_id % 3 = 0),
      |hist AS (SELECT DISTINCT md5(text) AS h FROM documents WHERE doc_id % 3 <> 0)
      |SELECT b.doc_id, b.h
      |FROM batch b
      |WHERE NOT EXISTS (SELECT 1 FROM hist WHERE hist.h = b.h)
      |ORDER BY b.doc_id""".stripMargin

  /** MinHash CTEs shared by qDedupMinhash and qDedupGroups: shingle
    * md5-prefix mod P (the one dialect-specific step), then the 64
    * affine row-mins and the 16 band folds, all emitted by MinHashDefs
    * — identical SQL text to the Spark side. */
  private val minhashCtes: String = {
    val minCols = MinHashDefs.minAggSqls("h").mkString(",\n|    ")
    val bandList = (0 until MinHashDefs.Bands).mkString("[", ",", "]")
    s"""msh AS (
       |  SELECT doc_id, (CAST(('0x' || substr(md5(substr(text, CAST(i AS INTEGER), 8)), 1, 15)) AS BIGINT) % ${MinHashDefs.P}) AS h
       |  FROM documents, LATERAL (SELECT unnest(range(1, length(text)-6)) AS i) u
       |  WHERE length(text) >= 8
       |), mmins AS (
       |  SELECT doc_id,
       |    $minCols
       |  FROM msh GROUP BY doc_id
       |), msigs AS (
       |  SELECT doc_id, b.band AS band, ${MinHashDefs.bandCaseDuckSql("b.band")} AS sig
       |  FROM mmins, (SELECT unnest($bandList) AS band) b
       |)""".stripMargin
  }

  val qDedupMinhash: String =
    s"""WITH $minhashCtes
       |SELECT band, sig, count(*) AS n, min(doc_id) AS keeper
       |FROM msigs GROUP BY band, sig ORDER BY band, sig""".stripMargin

  val qNgramJaccard: String =
    """WITH sh AS (
      |  SELECT DISTINCT doc_id,
      |    CAST(('0x' || substr(md5(array_to_string(list_slice(string_split(text, ' '),
      |      CAST(i AS INTEGER), CAST(i AS INTEGER) + 2), ' ')), 1, 15)) AS BIGINT) AS sh
      |  FROM documents, LATERAL (SELECT unnest(range(1,
      |    greatest(len(string_split(text, ' ')) - 2, 1) + 1)) AS i) u
      |), sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
      |rare AS (
      |  SELECT sh.doc_id, sh.sh FROM sh
      |  JOIN (SELECT sh AS s2, count(*) AS df FROM sh GROUP BY sh
      |        HAVING count(*) <= 20) d ON sh.sh = d.s2
      |), pairs AS (
      |  SELECT a.doc_id AS ida, b.doc_id AS idb, count(*) AS common
      |  FROM rare a JOIN rare b ON a.sh = b.sh AND a.doc_id < b.doc_id
      |  GROUP BY a.doc_id, b.doc_id
      |)
      |SELECT ida, idb,
      |  round(CAST(common AS DOUBLE) / (sa.sz + sb.sz - common), 6) AS jaccard
      |FROM pairs JOIN sizes sa ON ida = sa.doc_id JOIN sizes sb ON idb = sb.doc_id
      |WHERE round(CAST(common AS DOUBLE) / (sa.sz + sb.sz - common), 6) >= 0.2
      |ORDER BY ida, idb""".stripMargin

  /** Connected components over VERIFIED duplicate edges (exact-hash
    * star edges + jaccard-confirmed pairs + agreement-verified minhash
    * candidates) via a recursive CTE: reach(id, r) is the transitive
    * closure over the symmetric edge set; min(r) per id is the
    * component canonical. */
  val qDedupGroups: String =
    s"""WITH RECURSIVE $minhashCtes,
      |mbuckets AS (
      |  SELECT band, sig FROM msigs GROUP BY band, sig HAVING count(*) BETWEEN 2 AND 20
      |), mcand AS (
      |  SELECT DISTINCT x.doc_id AS ida, y.doc_id AS idb
      |  FROM msigs x JOIN mbuckets mb ON x.band = mb.band AND x.sig = mb.sig
      |  JOIN msigs y ON y.band = mb.band AND y.sig = mb.sig AND x.doc_id < y.doc_id
      |), mh_edges AS (
      |  SELECT mcand.ida AS a, mcand.idb AS b FROM mcand
      |  JOIN mmins ma ON mcand.ida = ma.doc_id
      |  JOIN mmins mb2 ON mcand.idb = mb2.doc_id
      |  WHERE ${MinHashDefs.agreementSql("ma", "mb2")} >= ${MinHashDefs.VerifyAgreement}
      |), exg AS (""".stripMargin + """
      |  SELECT doc_id, min(doc_id) OVER (PARTITION BY md5(text)) AS m FROM documents
      |), ex_edges AS (
      |  SELECT m AS a, doc_id AS b FROM exg WHERE doc_id <> m
      |), jsh AS (
      |  SELECT DISTINCT doc_id,
      |    CAST(('0x' || substr(md5(array_to_string(list_slice(string_split(text, ' '),
      |      CAST(i AS INTEGER), CAST(i AS INTEGER) + 2), ' ')), 1, 15)) AS BIGINT) AS sh
      |  FROM documents, LATERAL (SELECT unnest(range(1,
      |    greatest(len(string_split(text, ' ')) - 2, 1) + 1)) AS i) u
      |), sizes AS (SELECT doc_id, count(*) AS sz FROM jsh GROUP BY doc_id),
      |rare AS (
      |  SELECT jsh.doc_id, jsh.sh FROM jsh
      |  JOIN (SELECT sh AS s2, count(*) AS df FROM jsh GROUP BY sh
      |        HAVING count(*) <= 20) d ON jsh.sh = d.s2
      |), jpairs AS (
      |  SELECT a.doc_id AS ida, b.doc_id AS idb, count(*) AS common
      |  FROM rare a JOIN rare b ON a.sh = b.sh AND a.doc_id < b.doc_id
      |  GROUP BY a.doc_id, b.doc_id
      |), jac_edges AS (
      |  SELECT ida AS a, idb AS b
      |  FROM jpairs JOIN sizes sa ON ida = sa.doc_id JOIN sizes sb ON idb = sb.doc_id
      |  WHERE round(CAST(common AS DOUBLE) / (sa.sz + sb.sz - common), 6) >= 0.2
      |), edges AS (
      |  SELECT a, b FROM ex_edges UNION SELECT a, b FROM jac_edges
      |  UNION SELECT a, b FROM mh_edges
      |), sym AS (
      |  SELECT a, b FROM edges UNION SELECT b, a FROM edges
      |), reach(id, r) AS (
      |  SELECT doc_id, doc_id FROM documents
      |  UNION
      |  SELECT s.a, reach.r FROM sym s JOIN reach ON s.b = reach.id
      |)
      |SELECT id AS doc_id, CAST(min(r) AS BIGINT) AS canon, (min(r) = id) AS keep
      |FROM reach GROUP BY id ORDER BY doc_id""".stripMargin

  val qAnnCosine: String =
    """WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0)
      |SELECT vec_id,
      |  round(list_dot_product(CAST(embedding AS DOUBLE[]), qv)
      |    / (sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[])))
      |       * sqrt(list_dot_product(qv, qv))), 4) AS cos
      |FROM embeddings, q
      |ORDER BY cos DESC, vec_id ASC LIMIT 10""".stripMargin

  /** Mirrors the one-Lloyd-iteration refinement: the per-dimension
    * fixed-point mean (sum of round(x*1e6) BIGINTs, ONE final divide)
    * is aggregation-order-independent, so both engines compute
    * bit-identical refined centroids. sum(BIGINT) is HUGEINT in DuckDB
    * — cast to DOUBLE before dividing (magnitudes ~1e10 << 2^53, the
    * cast is exact). */
  /** Shared IVF cell CTEs (seed centroids → one fixed-point Lloyd
    * refinement → final cell assignment) — the common core of
    * qAnnIvf and qSemdedup. */
  private val ivfCellCtes: String =
    """WITH cents0 AS (
      |  SELECT vec_id AS cent_id, CAST(embedding AS DOUBLE[]) AS cv FROM embeddings WHERE vec_id < 16
      |), assign0 AS (
      |  SELECT e.vec_id, cent_id, row_number() OVER (PARTITION BY e.vec_id ORDER BY
      |    list_dot_product(CAST(e.embedding AS DOUBLE[]), cv)
      |      / (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[]))) * sqrt(list_dot_product(cv, cv))) DESC,
      |    cent_id ASC) AS rn
      |  FROM embeddings e CROSS JOIN cents0
      |), cells0 AS (SELECT vec_id, cent_id AS cell FROM assign0 WHERE rn = 1),
      |dims AS (
      |  SELECT c.cell, t.i AS pos,
      |    CAST(sum(CAST(round(CAST(e.embedding[t.i] AS DOUBLE) * 1e6) AS BIGINT)) AS DOUBLE)
      |      / (count(*) * 1e6) AS cx
      |  FROM cells0 c JOIN embeddings e ON e.vec_id = c.vec_id, range(1, 65) t(i)
      |  GROUP BY c.cell, t.i
      |), cents AS (
      |  SELECT cell AS cent_id, list(cx ORDER BY pos) AS cv FROM dims GROUP BY cell
      |), assign AS (
      |  SELECT e.vec_id, cent_id, row_number() OVER (PARTITION BY e.vec_id ORDER BY
      |    list_dot_product(CAST(e.embedding AS DOUBLE[]), cv)
      |      / (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[]))) * sqrt(list_dot_product(cv, cv))) DESC,
      |    cent_id ASC) AS rn
      |  FROM embeddings e CROSS JOIN cents
      |), cells AS (SELECT vec_id, cent_id AS cell FROM assign WHERE rn = 1)""".stripMargin

  val qAnnIvf: String =
    s"""$ivfCellCtes,
      |q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0),
      |probes AS (
      |  SELECT cent_id FROM cents, q
      |  ORDER BY list_dot_product(qv, cv) / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))) DESC, cent_id ASC
      |  LIMIT 2
      |)
      |SELECT e.vec_id, round(list_dot_product(CAST(e.embedding AS DOUBLE[]), qv)
      |  / (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[]))) * sqrt(list_dot_product(qv, qv))), 4) AS cos
      |FROM embeddings e JOIN cells ON e.vec_id = cells.vec_id, q
      |WHERE cells.cell IN (SELECT cent_id FROM probes)
      |ORDER BY cos DESC, e.vec_id ASC LIMIT 10""".stripMargin

  /** SemDeDup: same IVF cells; per vector the max pair-rounded cosine
    * to any lower-id member of its cell, keep when below threshold. */
  val qSemdedup: String =
    s"""$ivfCellCtes,
      |av AS (
      |  SELECT c.vec_id, c.cell, CAST(e.embedding AS DOUBLE[]) AS ev
      |  FROM cells c JOIN embeddings e ON e.vec_id = c.vec_id
      |), pm AS (
      |  SELECT a.vec_id,
      |    max(round(list_dot_product(a.ev, b.ev)
      |      / (sqrt(list_dot_product(a.ev, a.ev)) * sqrt(list_dot_product(b.ev, b.ev))), 4)) AS max_prior_sim
      |  FROM av a JOIN av b ON a.cell = b.cell AND a.vec_id > b.vec_id
      |  GROUP BY a.vec_id
      |)
      |SELECT c.vec_id, c.cell,
      |  COALESCE(pm.max_prior_sim, -2.0) AS max_prior_sim,
      |  COALESCE(pm.max_prior_sim, -2.0) < 0.35 AS keep
      |FROM cells c LEFT JOIN pm ON c.vec_id = pm.vec_id
      |ORDER BY c.vec_id""".stripMargin

  /** Native DuckDB ASOF JOIN as the oracle for the union+window as-of
    * implementation (independent algorithms, same semantics; view/
    * purchase timestamps are unique per user in the corpus so the tie
    * case cannot diverge). */
  val qEventsAsof: String =
    """SELECT p.event_id, p.user_id, epoch_us(p.ts) AS p_ts_us,
      |  CAST(round(p.value * 100) AS BIGINT) AS p_value_c,
      |  epoch_us(v.ts) AS v_ts_us,
      |  CAST(round(v.value * 100) AS BIGINT) AS v_value_c
      |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
      |ASOF JOIN (SELECT * FROM events WHERE event_type = 'view') v
      |  ON p.user_id = v.user_id AND p.ts >= v.ts
      |ORDER BY p.event_id""".stripMargin

  /** Sessionization: same two stacked windows over (user_id; us,
    * event_id) — epoch-micros arithmetic only, so no interval or
    * timezone dialect enters the compare. */
  val qSessionize: String =
    """WITH e AS (
      |  SELECT user_id, event_id, epoch_us(ts) AS us,
      |         CAST(round(value * 100) AS BIGINT) AS value_c
      |  FROM events),
      |f AS (
      |  SELECT *, CASE WHEN lag(us) OVER w IS NULL
      |                   OR us - lag(us) OVER w > 1800000000 THEN 1 ELSE 0 END AS new_sess
      |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
      |g AS (
      |  SELECT *, sum(new_sess) OVER (PARTITION BY user_id ORDER BY us, event_id) AS sess_id
      |  FROM f)
      |SELECT user_id, CAST(sess_id AS BIGINT) AS sess_id,
      |       CAST(count(*) AS BIGINT) AS n_events,
      |       min(us) AS start_us, max(us) AS end_us,
      |       (max(us) - min(us)) // 1000000 AS dur_s,
      |       CAST(sum(value_c) AS BIGINT) AS total_c
      |FROM g GROUP BY user_id, sess_id
      |ORDER BY user_id, sess_id""".stripMargin

  /** BPE iteration-1 pair counts over the word vocab; (cnt desc, a, b)
    * is the trainer's deterministic merge-pick order. */
  val qBpePairs: String =
    """WITH wc AS (
      |  SELECT w, CAST(count(*) AS BIGINT) AS c
      |  FROM documents, LATERAL (SELECT unnest(string_split(text, ' ')) AS w) u
      |  WHERE length(w) > 0 GROUP BY w),
      |p AS (
      |  SELECT substr(w, CAST(i AS INTEGER), 1) AS a,
      |         substr(w, CAST(i AS INTEGER) + 1, 1) AS b, c
      |  FROM wc, LATERAL (SELECT unnest(range(1, length(w))) AS i) v
      |  WHERE length(w) >= 2)
      |SELECT a, b, CAST(sum(c) AS BIGINT) AS cnt
      |FROM p GROUP BY a, b
      |ORDER BY cnt DESC, a, b LIMIT 50""".stripMargin

  /** BPE APPLICATION oracle — an independent encoder: words become
    * STX·sym·ETX delimited units; each pinned merge is ONE
    * non-overlapping left-to-right `replace` of the delimited pair
    * (delimited units make adjacent matches non-overlapping by
    * construction, so greedy replace = the reference's greedy
    * scan-and-skip). The merge chain is generated from the same pinned
    * constant the Spark side uses. */
  val qBpeEncode: String = {
    val init = """regexp_replace(w, '(.)', chr(2) || '\1' || chr(3), 'g')"""
    val chain = Queries.BpeFixtureMerges.foldLeft(init) { case (acc, (a, b)) =>
      s"replace($acc, chr(2)||'$a'||chr(3)||chr(2)||'$b'||chr(3), chr(2)||'$a$b'||chr(3))"
    }
    s"""WITH wc AS (
       |  SELECT w, CAST(count(*) AS BIGINT) AS c
       |  FROM documents, LATERAL (SELECT unnest(string_split(text, ' ')) AS w) u
       |  WHERE regexp_matches(w, '^[a-z]+$$') GROUP BY w),
       |enc AS (SELECT $chain AS s, c FROM wc),
       |tok AS (
       |  SELECT unnest(string_split(substr(s, 2, length(s) - 2), chr(3) || chr(2))) AS token, c
       |  FROM enc)
       |SELECT token, CAST(sum(c) AS BIGINT) AS cnt
       |FROM tok GROUP BY token ORDER BY cnt DESC, token LIMIT 200""".stripMargin
  }

  /** Inverted index: df + the 20 lowest doc_ids per term (DuckDB may
    * buffer the full list; the Spark side must not). */
  val qInvertedIndex: String =
    """WITH td AS (
      |  SELECT DISTINCT doc_id, t AS term
      |  FROM documents, LATERAL (SELECT unnest(string_split(text, ' ')) AS t) u
      |  WHERE length(t) > 0)
      |SELECT term, CAST(count(*) AS BIGINT) AS df,
      |       array_to_string(list_slice(list_sort(list(doc_id)), 1, 20), ',') AS postings
      |FROM td GROUP BY term ORDER BY term""".stripMargin

  /** Hashing-trick classifier: same 60-bit md5-prefix bucket hash and
    * integer weight formula, folded per row with list lambdas. */
  val qQualityClassifier: String =
    """WITH t AS (
      |  SELECT doc_id,
      |    CAST(COALESCE(list_sum(list_transform(
      |      list_filter(string_split(text, ' '), x -> length(x) > 0),
      |      t -> (CAST(('0x' || substr(md5(t), 1, 15)) AS BIGINT) % 1024)
      |           * 2654435761 % 1001 - 500)), 0) AS BIGINT) AS score
      |  FROM documents)
      |SELECT doc_id, score, score > 0 AS keep
      |FROM t ORDER BY doc_id""".stripMargin

  /** Naive-Bayes training: the same pseudo-labels (doc_id % 2 = 0),
    * token split, Laplace-1 counts and log-likelihood-ratio weights.
    * Training is counting, so the oracle is exact — no float
    * aggregation anywhere (ln runs once per term over integers, then
    * rounds to 6 decimals like every other ln in the battery). */
  private val nbCtes: String =
    """WITH t AS (
      |  SELECT doc_id, term
      |  FROM documents, LATERAL (SELECT unnest(string_split(text, ' ')) AS term) u
      |  WHERE term <> ''),
      |cnt AS (
      |  SELECT term,
      |    CAST(sum(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS c_pos,
      |    CAST(sum(CASE WHEN doc_id % 2 = 0 THEN 0 ELSE 1 END) AS BIGINT) AS c_neg
      |  FROM t GROUP BY term),
      |tot AS (SELECT sum(c_pos) AS tp, sum(c_neg) AS tn, count(*) AS v FROM cnt),
      |w AS (
      |  SELECT term, c_pos, c_neg,
      |    round(ln((c_pos + 1) / CAST(tp + v AS DOUBLE))
      |        - ln((c_neg + 1) / CAST(tn + v AS DOUBLE)), 6) AS weight
      |  FROM cnt, tot)""".stripMargin

  val qNbTrain: String =
    s"""$nbCtes
       |SELECT term, c_pos, c_neg, weight FROM w ORDER BY term""".stripMargin

  /** Classification: per-doc sum of 1e6-scaled fixed-point weights
    * (BIGINT — aggregation-order-independent), keep = score > 0; docs
    * with no tokens survive the LEFT join-back at score 0. */
  val qNbClassify: String =
    s"""$nbCtes,
       |wfp AS (SELECT term, CAST(round(weight * 1e6) AS BIGINT) AS wfp FROM w),
       |sc AS (
       |  SELECT t.doc_id, sum(COALESCE(wfp.wfp, 0)) AS score_fp
       |  FROM t LEFT JOIN wfp USING (term) GROUP BY t.doc_id)
       |SELECT d.doc_id, CAST(COALESCE(sc.score_fp, 0) AS BIGINT) AS score_fp,
       |       COALESCE(sc.score_fp, 0) > 0 AS keep
       |FROM documents d LEFT JOIN sc USING (doc_id)
       |ORDER BY d.doc_id""".stripMargin

  /** Winnowing: same k=5 char grams and md5-prefix hashes; window
    * minima via DIRECT 4-way least over indexed elements (independent
    * of the Spark side's zip_with min-tree); bit_xor checksum is
    * order-independent by construction. */
  val qWinnow: String =
    """WITH g AS (
      |  SELECT doc_id,
      |    CASE WHEN length(text) >= 5 THEN
      |      list_transform(range(1, length(text) - 3),
      |        i -> CAST(('0x' || substr(md5(substr(text, CAST(i AS INTEGER), 5)), 1, 15)) AS BIGINT))
      |    ELSE [] END AS gh
      |  FROM documents),
      |f AS (
      |  SELECT doc_id, len(gh) AS n_grams,
      |    CASE WHEN len(gh) >= 4 THEN
      |      list_distinct(list_transform(range(1, len(gh) - 2),
      |        i -> least(gh[CAST(i AS INTEGER)], gh[CAST(i AS INTEGER) + 1],
      |                   gh[CAST(i AS INTEGER) + 2], gh[CAST(i AS INTEGER) + 3])))
      |    ELSE [] END AS fps
      |  FROM g),
      |x AS (SELECT doc_id, unnest(fps) AS fp FROM f),
      |agg AS (SELECT doc_id, bit_xor(fp) AS fp_xor FROM x GROUP BY doc_id)
      |SELECT f.doc_id, CAST(f.n_grams AS BIGINT) AS n_grams,
      |  CAST(len(f.fps) AS BIGINT) AS n_fps,
      |  CAST(COALESCE(agg.fp_xor, 0) AS BIGINT) AS fp_xor
      |FROM f LEFT JOIN agg USING (doc_id) ORDER BY f.doc_id""".stripMargin

  /** BM25 (Lucene idf, k1 = 1.2, b = 0.75): same per-term fixed-point
    * rounding before the per-doc sum, same exact-score + doc_id
    * ranking order. avgdl is exact in both engines (integral doubles
    * sum exactly below 2^53). Generated from the pinned query terms. */
  val qBm25: String = {
    val ts = Queries.Bm25QueryTerms
    val tfCols = ts.indices.map(i =>
      s"CAST(len(list_filter(ws, x -> x = '${ts(i)}')) AS DOUBLE) AS tf$i").mkString(",\n      |    ")
    val dfCols = ts.indices.map(i =>
      s"CAST(sum(CASE WHEN tf$i > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df$i").mkString(",\n      |    ")
    val scoreSum = ts.indices.map(i =>
      // parenthesized to associate exactly like the Spark side:
      // (idf * (tf*2.2/den)) * 1e9 — float products don't associate
      s"CAST(round(ln(1.0 + (n - df$i + 0.5) / (df$i + 0.5)) * (tf$i * 2.2 / (tf$i + 1.2 * (0.25 + 0.75 * dl / avgdl))) * 1e9) AS BIGINT)").mkString("\n      |    + ")
    s"""WITH d AS (
      |  SELECT doc_id, list_filter(string_split(text, ' '), x -> length(x) > 0) AS ws FROM documents),
      |t AS (
      |  SELECT doc_id, CAST(len(ws) AS DOUBLE) AS dl,
      |    $tfCols
      |  FROM d),
      |st AS (
      |  SELECT CAST(count(*) AS DOUBLE) AS n, avg(dl) AS avgdl,
      |    $dfCols
      |  FROM t),
      |sc AS (
      |  SELECT doc_id,
      |    $scoreSum AS score_fp
      |  FROM t, st)
      |SELECT doc_id, round(CAST(score_fp AS DOUBLE) / 1e9, 6) AS score
      |FROM sc ORDER BY score_fp DESC, doc_id LIMIT 20""".stripMargin
  }

  /** DSIR: same hashed-bigram buckets, Laplace-1 unigram models,
    * per-bucket ln rounded to 1e9 fixed point before the per-doc
    * BIGINT sum (order-independent); docs without bigrams survive the
    * LEFT join-back at weight 0 like qNbClassify. */
  val qDsir: String =
    """WITH d AS (
      |  SELECT doc_id, lang, list_filter(string_split(text, ' '), x -> length(x) > 0) AS ws FROM documents),
      |bg AS (
      |  SELECT doc_id, lang, list_transform(range(2, len(ws) + 1),
      |    i -> ws[CAST(i AS INTEGER) - 1] || ' ' || ws[CAST(i AS INTEGER)]) AS bgs FROM d),
      |occ AS (
      |  SELECT CAST(('0x' || substr(md5(g), 1, 15)) AS BIGINT) % 1024 AS b,
      |         CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS is_t
      |  FROM bg, LATERAL (SELECT unnest(bgs) AS g) u),
      |cnt AS (SELECT b, CAST(count(*) AS BIGINT) AS cs, CAST(sum(is_t) AS BIGINT) AS ct FROM occ GROUP BY b),
      |tot AS (SELECT CAST(sum(cs) AS BIGINT) AS ns, CAST(sum(ct) AS BIGINT) AS nt FROM cnt),
      |lr AS (SELECT b, CAST(round((ln((ct + 1.0) / (nt + 1024)) - ln((cs + 1.0) / (ns + 1024))) * 1e9) AS BIGINT) AS lr9 FROM cnt, tot),
      |sc AS (
      |  SELECT bg.doc_id, CAST(count(*) AS BIGINT) AS nb, sum(lr.lr9) AS s9
      |  FROM bg, LATERAL (SELECT unnest(bgs) AS g) u
      |  JOIN lr ON lr.b = CAST(('0x' || substr(md5(g), 1, 15)) AS BIGINT) % 1024
      |  GROUP BY bg.doc_id)
      |SELECT d.doc_id, d.lang, CAST(COALESCE(sc.nb, 0) AS BIGINT) AS n_bigrams,
      |       round(CAST(COALESCE(sc.s9, 0) AS DOUBLE) / 1e9, 6) AS logw
      |FROM d LEFT JOIN sc USING (doc_id) ORDER BY d.doc_id""".stripMargin

  val qQuality: String =
    """WITH t AS (
      |  SELECT doc_id, CAST(length(text) AS INTEGER) AS n_chars,
      |    list_filter(string_split(text, ' '), x -> x <> '') AS toks
      |  FROM documents
      |)
      |SELECT doc_id, n_chars,
      |  CAST(len(toks) AS INTEGER) AS n_tokens,
      |  CAST(len(list_filter(toks, x -> x IN ('the','a','of','and','in'))) AS INTEGER) AS n_stop,
      |  round(CAST(len(list_filter(toks, x -> x IN ('the','a','of','and','in'))) AS DOUBLE) / len(toks), 6) AS stop_ratio,
      |  round(CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks), 6) AS ttr
      |FROM t ORDER BY doc_id""".stripMargin

  val qTokenCountRegex: String =
    s"""SELECT doc_id,
       |  CAST(len(regexp_extract_all(text, '${TextOps.BpeishRegex}')) AS INTEGER) AS n_bpeish
       |FROM documents ORDER BY doc_id""".stripMargin

  val qFingerprint: String =
    """SELECT doc_id,
      |  md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g'))) AS fp
      |FROM documents ORDER BY doc_id""".stripMargin

  /** 64-bit SimHash in SQL: explode (doc, token, bit), vote per bit from
    * the md5 byte, reassemble the signed 64-bit value (bit 63 as the
    * two's-complement term). Tokenization = regex \s+, the same set the
    * Catalyst expression splits on. */
  /** Shared 64-bit SimHash signature CTEs (toks -> per-bit votes -> h;
    * `sigs` = every doc with its signature, 0 for token-less docs). */
  private val simhashCtes: String =
    """toks AS (
      |  SELECT doc_id, tok FROM (
      |    SELECT doc_id, unnest(regexp_split_to_array(text, '\s+')) AS tok
      |    FROM documents) t
      |  WHERE tok <> ''
      |), votes AS (
      |  SELECT doc_id, CAST(b.i AS INTEGER) AS i,
      |    sum(CASE WHEN ((CAST(('0x' || substr(md5(tok),
      |            (CAST(b.i AS INTEGER) // 8) * 2 + 1, 2)) AS INTEGER)
      |          >> (CAST(b.i AS INTEGER) % 8)) & 1) = 1
      |        THEN 1 ELSE -1 END) AS v
      |  FROM toks, (SELECT unnest(range(0, 64)) AS i) b
      |  GROUP BY doc_id, b.i
      |), h AS (
      |  SELECT doc_id,
      |    CAST(sum(CASE WHEN v > 0 THEN
      |      CASE WHEN i = 63 THEN CAST(-9223372036854775807 AS HUGEINT) - 1
      |           ELSE CAST(CAST(1 AS BIGINT) << i AS HUGEINT) END
      |      ELSE CAST(0 AS HUGEINT) END) AS BIGINT) AS simhash
      |  FROM votes GROUP BY doc_id
      |), sigs AS (
      |  SELECT d.doc_id, COALESCE(h.simhash, 0) AS sh
      |  FROM documents d LEFT JOIN h ON d.doc_id = h.doc_id
      |)""".stripMargin

  val qDedupSimhash: String =
    s"""WITH $simhashCtes, banded AS (
       |  SELECT doc_id, sh, b.band, CAST((sh >> (16 * b.band)) & 65535 AS INTEGER) AS bval
       |  FROM sigs, (SELECT unnest([0,1,2,3]) AS band) b
       |), buckets AS (
       |  SELECT band, bval FROM banded GROUP BY band, bval HAVING count(*) BETWEEN 2 AND 20
       |), cand AS (
       |  SELECT DISTINCT x.doc_id AS ida, y.doc_id AS idb, x.sh AS sa, y.sh AS sb
       |  FROM banded x JOIN buckets bu ON x.band = bu.band AND x.bval = bu.bval
       |  JOIN banded y ON y.band = bu.band AND y.bval = bu.bval AND x.doc_id < y.doc_id
       |)
       |SELECT ida, idb, CAST(bit_count(xor(sa, sb)) AS INTEGER) AS hamming
       |FROM cand WHERE bit_count(xor(sa, sb)) <= 16
       |ORDER BY hamming, ida, idb""".stripMargin

  val qSimhash: String =
    """WITH toks AS (
      |  SELECT doc_id, tok FROM (
      |    SELECT doc_id, unnest(regexp_split_to_array(text, '\s+')) AS tok
      |    FROM documents) t
      |  WHERE tok <> ''
      |), votes AS (
      |  SELECT doc_id, CAST(b.i AS INTEGER) AS i,
      |    sum(CASE WHEN ((CAST(('0x' || substr(md5(tok),
      |            (CAST(b.i AS INTEGER) // 8) * 2 + 1, 2)) AS INTEGER)
      |          >> (CAST(b.i AS INTEGER) % 8)) & 1) = 1
      |        THEN 1 ELSE -1 END) AS v
      |  FROM toks, (SELECT unnest(range(0, 64)) AS i) b
      |  GROUP BY doc_id, b.i
      |), h AS (
      |  SELECT doc_id,
      |    CAST(sum(CASE WHEN v > 0 THEN
      |      CASE WHEN i = 63 THEN CAST(-9223372036854775807 AS HUGEINT) - 1
      |           ELSE CAST(CAST(1 AS BIGINT) << i AS HUGEINT) END
      |      ELSE CAST(0 AS HUGEINT) END) AS BIGINT) AS simhash
      |  FROM votes GROUP BY doc_id
      |)
      |SELECT d.doc_id, COALESCE(h.simhash, 0) AS simhash
      |FROM documents d LEFT JOIN h ON d.doc_id = h.doc_id
      |ORDER BY d.doc_id""".stripMargin

  val qLangId: String = {
    val scores = TextOps.langProfiles.toSeq.sortBy(_._1).map {
      case (lang, grams) => s"${TextOps.langScoreSql("lo", grams)} AS s_$lang"
    }.mkString(",\n|    ")
    s"""WITH lo AS (SELECT doc_id, lower(text) AS lo FROM documents),
       |sc AS (
       |  SELECT doc_id,
       |    $scores
       |  FROM lo
       |)
       |SELECT doc_id, ${TextOps.langChooseSql} AS lang_pred
       |FROM sc ORDER BY doc_id""".stripMargin
  }

  val qAnnLsh: String = {
    val sig = TextOps.lshSigDuckSql("emb", dim = 64)
    s"""WITH sigs AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings
       |), sigd AS (
       |  SELECT vec_id, emb, $sig AS sig FROM sigs
       |), q AS (SELECT emb AS qv, sig AS qsig FROM sigd WHERE vec_id = 0)
       |SELECT vec_id,
       |  round(list_dot_product(emb, qv)
       |    / (sqrt(list_dot_product(emb, emb)) * sqrt(list_dot_product(qv, qv))), 4) AS cos
       |FROM sigd, q
       |WHERE bit_count(xor(CAST(sig AS BIGINT), CAST(qsig AS BIGINT))) <= 6
       |ORDER BY cos DESC, vec_id ASC LIMIT 10""".stripMargin
  }

  val qDedupEmbed: String = {
    val sig = TextOps.lshSigDuckSql("emb", dim = 64, bits = 32)
    s"""WITH sigs AS (
       |  SELECT vec_id, emb, $sig AS sig
       |  FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings) t
       |), banded AS (
       |  SELECT vec_id, emb, b.band,
       |    CAST((sig >> (8 * b.band)) & 255 AS INTEGER) AS bval
       |  FROM sigs, (SELECT unnest([0,1,2,3]) AS band) b
       |), buckets AS (
       |  SELECT band, bval FROM banded GROUP BY band, bval HAVING count(*) BETWEEN 2 AND 20
       |), kept AS (
       |  SELECT banded.* FROM banded JOIN buckets USING (band, bval)
       |), pairs AS (
       |  SELECT DISTINCT a.vec_id AS ida, b.vec_id AS idb, a.emb AS ea, b.emb AS eb
       |  FROM kept a JOIN kept b
       |    ON a.band = b.band AND a.bval = b.bval AND a.vec_id < b.vec_id
       |)
       |SELECT ida, idb,
       |  round(list_dot_product(ea, eb)
       |    / (sqrt(list_dot_product(ea, ea)) * sqrt(list_dot_product(eb, eb))), 4) AS cos
       |FROM pairs
       |ORDER BY cos DESC, ida ASC, idb ASC LIMIT 20""".stripMargin
  }

  // ---------------------------------------------------------- analytics
  // Money aggregates are integer CENTS (per-row round, then integer sum)
  // so the values are independent of partial-aggregation order — see
  // Analytics.scala. DuckDB sums are cast back to BIGINT (HUGEINT
  // otherwise).

  val qTpchPricing: String =
    """WITH a AS (
      |  SELECT l_returnflag, l_linestatus,
      |    CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
      |    CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS sum_base_c,
      |    CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS BIGINT) AS sum_disc_c,
      |    CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * (1 + l_tax) * 100) AS BIGINT)) AS BIGINT) AS sum_charge_c,
      |    count(*) AS count_order
      |  FROM lineitem
      |  WHERE CAST(l_shipdate AS DATE) <= DATE '1998-09-02'
      |  GROUP BY 1, 2
      |)
      |SELECT l_returnflag, l_linestatus, sum_qty, sum_base_c, sum_disc_c,
      |  sum_charge_c, count_order,
      |  round(CAST(sum_qty AS DOUBLE) / count_order, 6) AS avg_qty,
      |  round(CAST(sum_base_c AS DOUBLE) / 100.0 / count_order, 6) AS avg_price
      |FROM a ORDER BY l_returnflag, l_linestatus""".stripMargin

  val qTpchTopCustomers: String =
    """WITH rev AS (
      |  SELECT n_name, c_custkey, c_name,
      |    CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS BIGINT) AS revenue_c
      |  FROM lineitem
      |  JOIN orders ON l_orderkey = o_orderkey
      |  JOIN customer ON o_custkey = c_custkey
      |  JOIN nation ON c_nationkey = n_nationkey
      |  GROUP BY 1, 2, 3
      |)
      |SELECT n_name, c_custkey, c_name, revenue_c, CAST(rnk AS INTEGER) AS rnk
      |FROM (SELECT *, rank() OVER (PARTITION BY n_name
      |        ORDER BY revenue_c DESC, c_custkey ASC) AS rnk FROM rev) t
      |WHERE rnk <= 3 ORDER BY n_name, rnk, c_custkey""".stripMargin

  val qTpchPromo: String =
    """WITH a AS (
      |  SELECT strftime(l_shipdate, '%Y-%m') AS month,
      |    CAST(sum(CASE WHEN p_type = 'PROMO'
      |      THEN CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)
      |      ELSE 0 END) AS BIGINT) AS promo_rev_c,
      |    CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS BIGINT) AS rev_c
      |  FROM lineitem JOIN part ON l_partkey = p_partkey
      |  GROUP BY 1
      |)
      |SELECT month, promo_rev_c, rev_c,
      |  round(100.0 * promo_rev_c / rev_c, 6) AS promo_pct
      |FROM a ORDER BY month""".stripMargin

  val qPartsCold: String =
    """SELECT p_partkey, p_name, p_brand, p_size
      |FROM part p
      |WHERE NOT EXISTS (SELECT 1 FROM lineitem l
      |  WHERE l.l_partkey = p.p_partkey AND l.l_quantity > 45)
      |ORDER BY p_partkey""".stripMargin

  val qSuppliersHot: String =
    """SELECT s_suppkey, s_name, s_nationkey,
      |  CAST(round(s_acctbal * 100) AS BIGINT) AS acctbal_c
      |FROM supplier s
      |WHERE EXISTS (SELECT 1 FROM lineitem l
      |  WHERE l.l_suppkey = s.s_suppkey AND l.l_quantity > 49
      |    AND CAST(l.l_shipdate AS DATE) >= DATE '2001-06-01')
      |ORDER BY s_suppkey""".stripMargin

  val qTpchRevenueRollup: String =
    """WITH j AS (
      |  SELECT r_name, n_name,
      |    CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT) AS rev_c
      |  FROM lineitem
      |  JOIN orders ON l_orderkey = o_orderkey
      |  JOIN customer ON o_custkey = c_custkey
      |  JOIN nation ON c_nationkey = n_nationkey
      |  JOIN region ON n_regionkey = r_regionkey
      |)
      |SELECT coalesce(r_name, 'ALL') AS region, coalesce(n_name, 'ALL') AS nation,
      |  CAST(sum(rev_c) AS BIGINT) AS revenue_c, count(*) AS n_items
      |FROM j GROUP BY ROLLUP(r_name, n_name)
      |ORDER BY region, nation""".stripMargin

  /** SCD current view, INDEPENDENT formulation: rank-1 row_number over
    * (ts DESC, event_id DESC) per user — vs the Spark side's
    * struct-max aggregate. Epoch micros / integer cents. */
  val qScdCurrent: String =
    """WITH r AS (
      |  SELECT user_id, ts, event_id, event_type,
      |         CAST(round(value * 100) AS BIGINT) AS c,
      |         row_number() OVER (PARTITION BY user_id
      |                            ORDER BY ts DESC, event_id DESC) AS rn
      |  FROM events)
      |SELECT user_id, CAST(epoch_us(ts) AS BIGINT) AS last_us,
      |       event_id AS last_event_id, event_type AS last_type,
      |       c AS last_c
      |FROM r WHERE rn = 1 ORDER BY user_id""".stripMargin

  val qEventsWindow: String =
    """SELECT CAST(floor(epoch(ts) / 300) * 300 AS BIGINT) AS w_start,
      |  event_type, count(*) AS n,
      |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS total_c
      |FROM events GROUP BY 1, 2 ORDER BY w_start, event_type""".stripMargin

  /** Gopher-style repetition metrics: per-doc word 2-/3-gram duplicate
    * fractions + top-bigram coverage (mirrors Queries.qGopherQuality;
    * the window-count max is the mode of the bigram multiset). */
  val qGopherQuality: String =
    """WITH base AS (
      |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS w
      |  FROM documents
      |), b AS (SELECT doc_id, w FROM base WHERE len(w) >= 3),
      |g2 AS (
      |  SELECT doc_id, array_to_string(list_slice(w,
      |    CAST(i AS INTEGER), CAST(i AS INTEGER) + 1), ' ') AS g
      |  FROM b, LATERAL (SELECT unnest(range(1, len(w))) AS i) u
      |), g3 AS (
      |  SELECT doc_id, array_to_string(list_slice(w,
      |    CAST(i AS INTEGER), CAST(i AS INTEGER) + 2), ' ') AS g
      |  FROM b, LATERAL (SELECT unnest(range(1, len(w) - 1)) AS i) u
      |), a2 AS (
      |  SELECT doc_id, CAST(count(*) AS INTEGER) AS n2,
      |    count(DISTINCT g) AS d2, max(c) AS topc
      |  FROM (SELECT doc_id, g,
      |          count(*) OVER (PARTITION BY doc_id, g) AS c FROM g2) x
      |  GROUP BY doc_id
      |), a3 AS (
      |  SELECT doc_id, count(*) AS n3, count(DISTINCT g) AS d3
      |  FROM g3 GROUP BY doc_id
      |)
      |SELECT a2.doc_id, n2 AS n_2grams,
      |  round(1 - CAST(d2 AS DOUBLE) / n2, 6) AS frac_dup_2gram,
      |  round(CAST(topc AS DOUBLE) / n2, 6) AS top_2gram_frac,
      |  round(1 - CAST(d3 AS DOUBLE) / n3, 6) AS frac_dup_3gram
      |FROM a2 JOIN a3 ON a2.doc_id = a3.doc_id
      |ORDER BY a2.doc_id""".stripMargin

  /** PII redaction oracle: the augment expression and the three regex
    * patterns are shared VERBATIM with the Spark side (Queries.PiiAugmentSql
    * / EmailRe / PhoneRe / Ipv4Re — written backslash-free so Java regex
    * and RE2 read them identically); DuckDB needs the explicit 'g' flag
    * where Spark's regexp_replace is global by default. */
  val qPiiRedact: String =
    s"""WITH a AS (SELECT doc_id, ${Queries.PiiAugmentSql} AS aug FROM documents)
       |SELECT doc_id,
       |  CAST(len(regexp_extract_all(aug, '${Queries.EmailRe}')) AS INTEGER) AS n_emails,
       |  CAST(len(regexp_extract_all(aug, '${Queries.PhoneRe}')) AS INTEGER) AS n_phones,
       |  CAST(len(regexp_extract_all(aug, '${Queries.Ipv4Re}')) AS INTEGER) AS n_ips,
       |  regexp_replace(regexp_replace(regexp_replace(aug,
       |    '${Queries.EmailRe}', '[EMAIL]', 'g'),
       |    '${Queries.Ipv4Re}', '[IP]', 'g'),
       |    '${Queries.PhoneRe}', '[PHONE]', 'g') AS redacted
       |FROM a ORDER BY doc_id""".stripMargin

  /** Decontamination oracle: distinct word-4-gram overlap between each
    * training doc (doc_id >= 10) and the fixed benchmark slice
    * (doc_id < 10), gram keys as the same 60-bit md5 prefix. */
  val qDecontaminate: String =
    """WITH g AS (
      |  SELECT DISTINCT doc_id,
      |    CAST(('0x' || substr(md5(array_to_string(list_slice(string_split(text, ' '),
      |      CAST(i AS INTEGER), CAST(i AS INTEGER) + 3), ' ')), 1, 15)) AS BIGINT) AS gh
      |  FROM documents, LATERAL (SELECT unnest(range(1,
      |    len(string_split(text, ' ')) - 2)) AS i) u
      |  WHERE len(string_split(text, ' ')) >= 4
      |), bench AS (SELECT DISTINCT gh FROM g WHERE doc_id < 10)
      |SELECT t.doc_id, CAST(count(*) AS BIGINT) AS n_shared_4grams
      |FROM g t JOIN bench b ON t.gh = b.gh
      |WHERE t.doc_id >= 10
      |GROUP BY t.doc_id ORDER BY t.doc_id""".stripMargin

  /** TF-IDF oracle: ln (natural log — DuckDB `log` is base 10), rounded
    * score, ties broken lexicographically (mirrors Queries.qTfidfTop). */
  val qTfidfTop: String =
    """WITH tok AS (
      |  SELECT doc_id, unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS term
      |  FROM documents
      |), dt AS (SELECT doc_id, term, count(*) AS tc FROM tok GROUP BY doc_id, term),
      |dl AS (SELECT doc_id, sum(tc) AS dl FROM dt GROUP BY doc_id),
      |df AS (SELECT term, count(*) AS df FROM dt GROUP BY term),
      |nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM documents),
      |sc AS (
      |  SELECT dt.doc_id, dt.term,
      |    round((CAST(tc AS DOUBLE) / dl) * ln(n / df), 6) AS tfidf
      |  FROM dt JOIN dl ON dt.doc_id = dl.doc_id JOIN df ON dt.term = df.term, nn
      |), rk AS (
      |  SELECT doc_id, term, tfidf,
      |    row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term ASC) AS rk
      |  FROM sc
      |)
      |SELECT doc_id, CAST(rk AS INTEGER) AS rk, term, tfidf
      |FROM rk WHERE rk <= 5 ORDER BY doc_id, rk""".stripMargin

  /** Context-chunking oracle: same 64-token window / 48 stride, final
    * short chunk kept (mirrors Queries.qChunkFixed). */
  val qChunkFixed: String =
    """WITH t AS (
      |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS w
      |  FROM documents
      |), b AS (
      |  SELECT doc_id, w,
      |    CAST(greatest(ceil((len(w) - 64) / CAST(48 AS DOUBLE)), 0) AS INTEGER) AS kmax
      |  FROM t WHERE len(w) >= 1
      |), c AS (
      |  SELECT doc_id, CAST(k AS INTEGER) AS chunk_idx,
      |    array_to_string(list_slice(w,
      |      CAST(k AS INTEGER) * 48 + 1, CAST(k AS INTEGER) * 48 + 64), ' ') AS chunk_text
      |  FROM b, LATERAL (SELECT unnest(range(0, kmax + 1)) AS k) u
      |)
      |SELECT doc_id, chunk_idx, chunk_text,
      |  CAST(len(string_split(chunk_text, ' ')) AS INTEGER) AS n_tokens
      |FROM c ORDER BY doc_id, chunk_idx""".stripMargin

  /** Stratified-sampling oracle: identical 60-bit md5 uniform and the
    * shared per-source rate CASE — reproduces the exact sample. */
  val qSampleMixture: String =
    s"""WITH per_source AS (
       |  SELECT source, CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS stok,
       |    ${Queries.MixtureWeightSql.linesIterator.mkString(" ")} AS w
       |  FROM documents GROUP BY source
       |), tot AS (
       |  SELECT CAST(sum(stok) AS DOUBLE) AS total, CAST(sum(w) AS DOUBLE) AS sumw
       |  FROM per_source
       |), rates AS (
       |  SELECT source, least(1.0, 0.5 * total * w / sumw / stok) AS rate
       |  FROM per_source, tot
       |)
       |SELECT d.doc_id, d.source, round(r.rate, 6) AS rate
       |FROM documents d JOIN rates r USING (source)
       |WHERE CAST(('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
       |      / POW(2, 60) < r.rate
       |ORDER BY d.doc_id""".stripMargin

  val qSampleStratified: String =
    s"""SELECT doc_id, source,
       |  round(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
       |        / POW(2, 60), 6) AS u
       |FROM documents
       |WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
       |      / POW(2, 60) < (${Queries.SampleRateSql})
       |ORDER BY doc_id""".stripMargin

  /** Upsampling: same u and shared factor SQL; floor(f) copies plus a
    * probabilistic one — the lateral range is the oracle's explode. */
  val qSampleUpsample: String =
    s"""WITH b AS (
       |  SELECT doc_id, source,
       |    CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
       |      / POW(2, 60) AS u,
       |    (${Queries.UpsampleFactorSql}) AS f
       |  FROM documents),
       |c AS (
       |  SELECT doc_id, source,
       |    CAST(floor(f) + CASE WHEN u < f - floor(f) THEN 1 ELSE 0 END AS INTEGER) AS copies
       |  FROM b)
       |SELECT doc_id, source, CAST(i AS INTEGER) AS copy
       |FROM c, LATERAL (SELECT unnest(range(0, copies)) AS i) u2
       |ORDER BY doc_id, copy""".stripMargin

  /** Boilerplate-strip oracle: the same deterministic span construction
    * (3-token text spans at even ords; an image span after text span k
    * where (doc_id + k) % 5 = 0), then text spans with cross-doc
    * df >= 2 stripped, media passed through. */
  val qBoilerplate: String =
    """WITH t AS (
      |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS w
      |  FROM documents
      |), b AS (
      |  SELECT doc_id, w, CAST(floor((len(w) + 2) / 3.0) AS INTEGER) AS nspan
      |  FROM t WHERE len(w) >= 1
      |), ks AS (
      |  SELECT doc_id, w, CAST(kk AS INTEGER) AS k
      |  FROM b, LATERAL (SELECT unnest(range(0, nspan)) AS kk) u
      |), ts AS (
      |  SELECT doc_id, k * 2 AS ord, 'text' AS kind,
      |    array_to_string(list_slice(w, k * 3 + 1, k * 3 + 3), ' ') AS text,
      |    '' AS media_ref
      |  FROM ks
      |), ms AS (
      |  SELECT doc_id, k * 2 + 1 AS ord, 'image' AS kind, '' AS text,
      |    'media://' || CAST(doc_id AS VARCHAR) || '/' || CAST(k AS VARCHAR)
      |      AS media_ref
      |  FROM ks WHERE (doc_id + k) % 5 = 0
      |), allspans AS (
      |  SELECT * FROM ts UNION ALL SELECT * FROM ms
      |), dfreq AS (
      |  SELECT text, CAST(count(DISTINCT doc_id) AS BIGINT) AS nd
      |  FROM ts GROUP BY text
      |)
      |SELECT a.doc_id, a.ord, a.kind, a.text, a.media_ref,
      |  CAST(coalesce(d.nd, 0) AS BIGINT) AS n_docs
      |FROM allspans a LEFT JOIN dfreq d ON a.text = d.text
      |WHERE a.kind <> 'text' OR d.nd < 2
      |ORDER BY a.doc_id, a.ord""".stripMargin

  /** Main-content selection oracle: same span construction; content
    * signal = cross-doc df = 1; islands on the text-span index k (media
    * never breaks a block); largest island per doc, earliest on tie. */
  val qMainContent: String =
    """WITH t AS (
      |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS w
      |  FROM documents
      |), b AS (
      |  SELECT doc_id, w, CAST(floor((len(w) + 2) / 3.0) AS INTEGER) AS nspan
      |  FROM t WHERE len(w) >= 1
      |), ks AS (
      |  SELECT doc_id, w, CAST(kk AS INTEGER) AS k
      |  FROM b, LATERAL (SELECT unnest(range(0, nspan)) AS kk) u
      |), ts AS (
      |  SELECT doc_id, k,
      |    array_to_string(list_slice(w, k * 3 + 1, k * 3 + 3), ' ') AS text
      |  FROM ks
      |), dfreq AS (
      |  SELECT text, count(DISTINCT doc_id) AS nd FROM ts GROUP BY text
      |), uniq AS (
      |  SELECT ts.doc_id, ts.k, ts.text
      |  FROM ts JOIN dfreq USING (text) WHERE nd = 1
      |), isl AS (
      |  SELECT doc_id, k, text,
      |    k - row_number() OVER (PARTITION BY doc_id ORDER BY k) AS isl
      |  FROM uniq
      |), islands AS (
      |  SELECT doc_id, isl, CAST(count(*) AS INTEGER) AS n_spans,
      |    CAST(min(k) * 2 AS INTEGER) AS start_ord,
      |    CAST(max(k) * 2 AS INTEGER) AS end_ord,
      |    string_agg(text, ' ' ORDER BY k) AS content
      |  FROM isl GROUP BY doc_id, isl
      |), ranked AS (
      |  SELECT *, row_number() OVER (PARTITION BY doc_id
      |    ORDER BY n_spans DESC, start_ord ASC) AS rn
      |  FROM islands
      |)
      |SELECT doc_id, start_ord, end_ord, n_spans, content
      |FROM ranked WHERE rn = 1 ORDER BY doc_id""".stripMargin

  /** Raw-markup extraction round-trip EXPECTATION, shared by
    * q_html_extract and q_pdf_extract: the Spark side synthesizes real
    * markup from `documents` and parses it back with the from-scratch
    * extractor; the oracle states the span sequence that identity must
    * produce, computed directly from the source columns — 3-token text
    * chunks in order, an image span after chunk k when
    * (doc_id + k) % 5 = 0, sequential per-doc ordinals. */
  private val qMarkupExtract: String =
    """WITH t AS (
      |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS w
      |  FROM documents
      |), b AS (
      |  SELECT doc_id, w, CAST(floor((len(w) + 2) / 3.0) AS INTEGER) AS nspan
      |  FROM t WHERE len(w) >= 1
      |), ks AS (
      |  SELECT doc_id, w, CAST(kk AS INTEGER) AS k
      |  FROM b, LATERAL (SELECT unnest(range(0, nspan)) AS kk) u
      |), ts AS (
      |  SELECT doc_id, k * 2 AS sortord, 'text' AS kind,
      |    array_to_string(list_slice(w, k * 3 + 1, k * 3 + 3), ' ') AS text,
      |    '' AS media_ref
      |  FROM ks
      |), ms AS (
      |  SELECT doc_id, k * 2 + 1 AS sortord, 'image' AS kind, '' AS text,
      |    'media://' || CAST(doc_id AS VARCHAR) || '/' || CAST(k AS VARCHAR)
      |      AS media_ref
      |  FROM ks WHERE (doc_id + k) % 5 = 0
      |), u AS (
      |  SELECT * FROM ts UNION ALL SELECT * FROM ms
      |)
      |SELECT doc_id,
      |  CAST(row_number() OVER (PARTITION BY doc_id ORDER BY sortord) - 1
      |    AS INTEGER) AS ord,
      |  kind, text, media_ref
      |FROM u ORDER BY doc_id, ord""".stripMargin

  val qHtmlExtract: String = qMarkupExtract
  val qPdfExtract: String = qMarkupExtract
  val qWarcExtract: String = qMarkupExtract

  /** The canonical URL is stated DIRECTLY from doc_id — the Spark side
    * must collapse all five messy syntactic variants onto exactly this
    * form, so the oracle gates the canonicalization rules. */
  val qUrlDedup: String =
    """WITH c AS (
      |  SELECT doc_id,
      |    'https://' || CASE (doc_id % 97) % 3
      |      WHEN 0 THEN 'news.example.org'
      |      WHEN 1 THEN 'blog.example.org'
      |      ELSE 'www.example.net' END
      |    || '/articles/' || CAST(doc_id % 97 AS VARCHAR) AS url
      |  FROM documents)
      |SELECT url, CAST(count(*) AS BIGINT) AS n,
      |       CAST(min(doc_id) AS BIGINT) AS keep_id
      |FROM c GROUP BY url ORDER BY url""".stripMargin

  /** Both canonical edges stated directly from doc_id: the nav link
    * (dot-segment path resolved to root, tracking param stripped,
    * &amp; decoded, params sorted) and the messy-variant article link.
    * The script decoy must contribute NO edge. */
  val qLinkGraph: String =
    """WITH e AS (
      |  SELECT
      |    CASE (doc_id % 97) % 3 WHEN 0 THEN 'news.example.org'
      |      WHEN 1 THEN 'blog.example.org' ELSE 'www.example.net' END AS src_host,
      |    'https://www.example.net/?page=' || CAST(doc_id % 4 AS VARCHAR)
      |      || '&sort=asc' AS dst_url
      |  FROM documents
      |  UNION ALL
      |  SELECT
      |    CASE (doc_id % 97) % 3 WHEN 0 THEN 'news.example.org'
      |      WHEN 1 THEN 'blog.example.org' ELSE 'www.example.net' END,
      |    'https://' || CASE ((doc_id * 7 + 13) % 97) % 3
      |      WHEN 0 THEN 'news.example.org'
      |      WHEN 1 THEN 'blog.example.org' ELSE 'www.example.net' END
      |    || '/articles/' || CAST((doc_id * 7 + 13) % 97 AS VARCHAR)
      |  FROM documents)
      |SELECT src_host, dst_url, CAST(count(*) AS BIGINT) AS n
      |FROM e GROUP BY src_host, dst_url ORDER BY src_host, dst_url""".stripMargin

  /** Anchor-text aggregation: both canonical edges AND the decoded
    * anchor texts stated directly from doc_id (nested-tag separation,
    * entity decode, whitespace collapse all pre-applied — the oracle
    * gates the parser); dominant anchor via a count-desc/text-asc
    * window, the independent formulation of min(struct(-cnt, anchor)). */
  val qAnchorText: String =
    """WITH e AS (
      |  SELECT 'https://www.example.net/?page=' || CAST(doc_id % 4 AS VARCHAR)
      |           || '&sort=asc' AS dst_url,
      |         'All & more' AS anchor
      |  FROM documents
      |  UNION ALL
      |  SELECT 'https://' || CASE ((doc_id * 7 + 13) % 97) % 3
      |           WHEN 0 THEN 'news.example.org'
      |           WHEN 1 THEN 'blog.example.org' ELSE 'www.example.net' END
      |         || '/articles/' || CAST((doc_id * 7 + 13) % 97 AS VARCHAR),
      |         CASE doc_id % 6 WHEN 0 THEN 'read more' WHEN 1 THEN 'Read more'
      |           WHEN 2 THEN 'the füll story' WHEN 3 THEN 'click here'
      |           WHEN 4 THEN 'spaced out' ELSE 'Related' END
      |  FROM documents),
      |pa AS (
      |  SELECT dst_url, anchor, CAST(count(*) AS BIGINT) AS cnt
      |  FROM e GROUP BY 1, 2),
      |r AS (
      |  SELECT dst_url, anchor, cnt,
      |         row_number() OVER (PARTITION BY dst_url
      |                            ORDER BY cnt DESC, anchor) AS rn
      |  FROM pa)
      |SELECT dst_url, CAST(sum(cnt) AS BIGINT) AS n_links,
      |       CAST(count(*) AS BIGINT) AS n_texts,
      |       max(CASE WHEN rn = 1 THEN anchor END) AS top_anchor
      |FROM r GROUP BY dst_url ORDER BY dst_url""".stripMargin

  /** The repaired text IS the original: repair∘corrupt must be the
    * identity, so the oracle simply restates text + suffix. */
  val qFixMojibake: String =
    """SELECT doc_id, text || CASE doc_id % 4
      |  WHEN 0 THEN ' Grüße aus Köln'
      |  WHEN 1 THEN ' déjà vu — naïve'
      |  WHEN 2 THEN ' Œuvre — „quote“'
      |  ELSE '' END AS text
      |FROM documents ORDER BY doc_id""".stripMargin

  /** Only the clean-terminated variant (doc_id + i) % 4 = 0 survives
    * the line rules; the doc survives iff >= 2 lines do. The oracle
    * rebuilds the exact surviving text from the word list. */
  val qC4Filter: String =
    """WITH w2 AS (
      |  SELECT doc_id, list_concat(string_split(text, ' '),
      |                             string_split(text, ' ')) AS ws
      |  FROM documents),
      |l AS (
      |  SELECT doc_id, i,
      |         array_to_string(ws[(i*3+1):(i*3+3)], ' ') || '.' AS line
      |  FROM w2 CROSS JOIN (SELECT unnest(range(6)) AS i)
      |  WHERE (doc_id + i) % 4 = 0),
      |a AS (
      |  SELECT doc_id, string_agg(line, chr(10) ORDER BY i) AS clean_text,
      |         CAST(count(*) AS BIGINT) AS n_kept
      |  FROM l GROUP BY doc_id)
      |SELECT doc_id, clean_text, n_kept FROM a
      |WHERE n_kept >= 2 ORDER BY doc_id""".stripMargin

  /** The allowed fetch set restated from doc_id arithmetic: the news
    * prefix rule = NOT LIKE '1%', the blog wildcard+anchor Allow
    * overriding Disallow / = LIKE '%3', the rule-less graftbot group
    * on www = everything allowed. */
  val qRobotsFilter: String =
    """WITH c AS (SELECT doc_id % 97 AS g FROM documents)
      |SELECT 'https://' || CASE g % 3 WHEN 0 THEN 'news.example.org'
      |         WHEN 1 THEN 'blog.example.org' ELSE 'www.example.net' END
      |       || '/articles/' || CAST(g AS VARCHAR) AS url,
      |       CAST(count(*) AS BIGINT) AS n
      |FROM c
      |WHERE (g % 3 = 0 AND CAST(g AS VARCHAR) NOT LIKE '1%')
      |   OR (g % 3 = 1 AND CAST(g AS VARCHAR) LIKE '%3')
      |   OR (g % 3 = 2)
      |GROUP BY url ORDER BY url""".stripMargin

  /** Integer fixed-point PageRank: every operation is an integer
    * mul/div (DuckDB's `//` = Spark's `div` for non-negative longs),
    * so three unrolled iterations are bit-identical across engines —
    * the oracle gates the ITERATION, not a float approximation. */
  /** The shared pagerank CTE chain (edge synthesis through r3),
    * reused verbatim by qPagerank and qCrawlFrontier. */
  private val pagerankCtes: String = {
    val host = "CASE (%s) %% 3 WHEN 0 THEN 'news.example.org' " +
      "WHEN 1 THEN 'blog.example.org' ELSE 'www.example.net' END"
    val srcUrl = s"'https://' || ${host.format("doc_id % 97")} || '/articles/' || CAST(doc_id % 97 AS VARCHAR)"
    val dstUrl = s"'https://' || ${host.format("(doc_id * 7 + 13) % 97")} || '/articles/' || CAST((doc_id * 7 + 13) % 97 AS VARCHAR)"
    def step(prev: String, cur: String): String =
      s"""$cur AS (SELECT n.url, CAST(150000000000 + COALESCE(s.c, 0) AS BIGINT) AS r
         |  FROM nodes n LEFT JOIN (
         |    SELECT e.dst AS url,
         |           CAST(sum(((p.r * e.w) // o.ow) * 85 // 100) AS BIGINT) AS c
         |    FROM e JOIN $prev p ON e.src = p.url JOIN o ON o.src = e.src
         |    GROUP BY e.dst) s ON n.url = s.url)""".stripMargin
    s"""e AS (
       |  SELECT src, dst, CAST(count(*) AS BIGINT) AS w FROM (
       |    SELECT $srcUrl AS src,
       |           'https://www.example.net/?page=' || CAST(doc_id % 4 AS VARCHAR) || '&sort=asc' AS dst
       |    FROM documents
       |    UNION ALL
       |    SELECT $srcUrl, $dstUrl FROM documents)
       |  GROUP BY src, dst),
       |nodes AS (SELECT DISTINCT url FROM (SELECT src AS url FROM e UNION ALL SELECT dst FROM e)),
       |o AS (SELECT src, CAST(sum(w) AS BIGINT) AS ow FROM e GROUP BY src),
       |r0 AS (SELECT url, CAST(1000000000000 AS BIGINT) AS r FROM nodes),
       |${step("r0", "r1")},
       |${step("r1", "r2")},
       |${step("r2", "r3")}""".stripMargin
  }

  val qPagerank: String =
    s"""WITH $pagerankCtes
       |SELECT url, r AS rank FROM r3 ORDER BY url""".stripMargin

  /** HITS: same edge synthesis as the PageRank CTEs, two unrolled
    * auth/hub rounds with integer max-normalization (`//` = Spark's
    * `div` on positives). */
  val qHits: String = {
    val host = "CASE (%s) %% 3 WHEN 0 THEN 'news.example.org' " +
      "WHEN 1 THEN 'blog.example.org' ELSE 'www.example.net' END"
    val srcUrl = s"'https://' || ${host.format("doc_id % 97")} || '/articles/' || CAST(doc_id % 97 AS VARCHAR)"
    val dstUrl = s"'https://' || ${host.format("(doc_id * 7 + 13) % 97")} || '/articles/' || CAST((doc_id * 7 + 13) % 97 AS VARCHAR)"
    def authStep(hubPrev: String, cur: String): String =
      s"""${cur}r AS (
         |  SELECT e.dst AS url, CAST(sum(h.h * e.w) AS BIGINT) AS a
         |  FROM e JOIN $hubPrev h ON e.src = h.url GROUP BY e.dst),
         |${cur}m AS (SELECT max(a) AS mx FROM ${cur}r),
         |$cur AS (
         |  SELECT n.url, CAST(COALESCE(r.a, 0) * 1000000 // m.mx AS BIGINT) AS a
         |  FROM nodes n LEFT JOIN ${cur}r r ON n.url = r.url, ${cur}m m)""".stripMargin
    def hubStep(authPrev: String, cur: String): String =
      s"""${cur}r AS (
         |  SELECT e.src AS url, CAST(sum(a.a * e.w) AS BIGINT) AS h
         |  FROM e JOIN $authPrev a ON e.dst = a.url GROUP BY e.src),
         |${cur}m AS (SELECT max(h) AS mx FROM ${cur}r),
         |$cur AS (
         |  SELECT n.url, CAST(COALESCE(r.h, 0) * 1000000 // m.mx AS BIGINT) AS h
         |  FROM nodes n LEFT JOIN ${cur}r r ON n.url = r.url, ${cur}m m)""".stripMargin
    s"""WITH e AS (
       |  SELECT src, dst, CAST(count(*) AS BIGINT) AS w FROM (
       |    SELECT $srcUrl AS src,
       |           'https://www.example.net/?page=' || CAST(doc_id % 4 AS VARCHAR) || '&sort=asc' AS dst
       |    FROM documents
       |    UNION ALL
       |    SELECT $srcUrl, $dstUrl FROM documents)
       |  GROUP BY src, dst),
       |nodes AS (SELECT DISTINCT url FROM (SELECT src AS url FROM e UNION ALL SELECT dst FROM e)),
       |h0 AS (SELECT url, CAST(1000000 AS BIGINT) AS h FROM nodes),
       |${authStep("h0", "a1")},
       |${hubStep("a1", "h1")},
       |${authStep("h1", "a2")},
       |${hubStep("a2", "h2")}
       |SELECT n.url, a2.a AS auth, h2.h AS hub
       |FROM nodes n JOIN a2 ON n.url = a2.url JOIN h2 ON n.url = h2.url
       |ORDER BY n.url""".stripMargin
  }

  /** Stupid backoff: counts from the even-doc_id half, same backoff
    * CASE chain, ln in 1e9 fixed point before the per-doc sum. */
  val qStupidBackoff: String =
    """WITH base AS (
      |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS w
      |  FROM documents),
      |uni AS (
      |  SELECT u, CAST(count(*) AS BIGINT) AS c1
      |  FROM base, LATERAL (SELECT unnest(w) AS u) x
      |  WHERE doc_id % 2 = 0 GROUP BY u),
      |big AS (
      |  SELECT w[CAST(i AS INTEGER) - 1] AS a, w[CAST(i AS INTEGER)] AS b,
      |         CAST(count(*) AS BIGINT) AS c2
      |  FROM base, LATERAL (SELECT unnest(range(2, len(w) + 1)) AS i) x
      |  WHERE doc_id % 2 = 0 GROUP BY 1, 2),
      |tric AS (
      |  SELECT w[CAST(i AS INTEGER) - 2] AS w1, w[CAST(i AS INTEGER) - 1] AS w2,
      |         w[CAST(i AS INTEGER)] AS w3, CAST(count(*) AS BIGINT) AS c3
      |  FROM base, LATERAL (SELECT unnest(range(3, len(w) + 1)) AS i) x
      |  WHERE doc_id % 2 = 0 GROUP BY 1, 2, 3),
      |nt AS (SELECT CAST(sum(c1) AS DOUBLE) AS n FROM uni),
      |tri AS (
      |  SELECT doc_id, w[CAST(i AS INTEGER) - 2] AS w1,
      |         w[CAST(i AS INTEGER) - 1] AS w2, w[CAST(i AS INTEGER)] AS w3
      |  FROM base, LATERAL (SELECT unnest(range(3, len(w) + 1)) AS i) x),
      |scored AS (
      |  SELECT doc_id, CAST(round(ln(
      |    CASE WHEN tc.c3 IS NOT NULL THEN CAST(tc.c3 AS DOUBLE) / bc.c2
      |         WHEN bl.c2 IS NOT NULL THEN 0.4 * bl.c2 / um.c1
      |         WHEN uw.c1 IS NOT NULL THEN 0.16 * uw.c1 / nt.n
      |         ELSE 0.064 / nt.n END) * 1e9) AS BIGINT) AS nats9
      |  FROM tri
      |  LEFT JOIN tric tc ON tc.w1 = tri.w1 AND tc.w2 = tri.w2 AND tc.w3 = tri.w3
      |  LEFT JOIN big bc ON bc.a = tri.w1 AND bc.b = tri.w2
      |  LEFT JOIN big bl ON bl.a = tri.w2 AND bl.b = tri.w3
      |  LEFT JOIN uni um ON um.u = tri.w2
      |  LEFT JOIN uni uw ON uw.u = tri.w3, nt)
      |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_scored,
      |       round(CAST(sum(nats9) AS DOUBLE) / 1e9, 6) AS logprob
      |FROM scored GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** JL projection: the SAME shared sign constants (Queries.JlSigns)
    * inlined into SQL; identical fixed-point BIGINT sums, one final
    * divide rounded to 6. */
  val qJlProject: String = {
    val fp = (0 until 16).map(i =>
      s"CAST(round(embedding[${i + 1}] * 1e6) AS BIGINT)").mkString("[", ", ", "]")
    val ys = (0 until 8).map { j =>
      val sum = Queries.JlSigns.indices.map { i =>
        val s = Queries.JlSigns(i)(j)
        s"(${if (s > 0) "" else "-"}f[${i + 1}])"
      }.mkString(" + ")
      s"round(CAST($sum AS DOUBLE) / 1e6 / sqrt(8), 6) AS y$j"
    }.mkString(",\n|       ")
    s"""WITH fp AS (SELECT vec_id, $fp AS f FROM embeddings)
       |SELECT vec_id,
       |       $ys
       |FROM fp ORDER BY vec_id""".stripMargin
  }

  /** Co-citation: same edge synthesis, self-join on source, exact
    * integer counts + min-weight strength. */
  val qCocitation: String = {
    val host = "CASE (%s) %% 3 WHEN 0 THEN 'news.example.org' " +
      "WHEN 1 THEN 'blog.example.org' ELSE 'www.example.net' END"
    val srcUrl = s"'https://' || ${host.format("doc_id % 97")} || '/articles/' || CAST(doc_id % 97 AS VARCHAR)"
    val dstUrl = s"'https://' || ${host.format("(doc_id * 7 + 13) % 97")} || '/articles/' || CAST((doc_id * 7 + 13) % 97 AS VARCHAR)"
    s"""WITH e AS (
       |  SELECT src, dst, CAST(count(*) AS BIGINT) AS w FROM (
       |    SELECT $srcUrl AS src,
       |           'https://www.example.net/?page=' || CAST(doc_id % 4 AS VARCHAR) || '&sort=asc' AS dst
       |    FROM documents
       |    UNION ALL
       |    SELECT $srcUrl, $dstUrl FROM documents)
       |  GROUP BY src, dst)
       |SELECT a.dst AS u, b.dst AS v, CAST(count(*) AS BIGINT) AS n_src,
       |       CAST(sum(least(a.w, b.w)) AS BIGINT) AS strength
       |FROM e a JOIN e b ON a.src = b.src AND a.dst < b.dst
       |GROUP BY u, v ORDER BY u, v""".stripMargin
  }

  /** Crawl frontier: canonical fetch list (qUrlDedup arithmetic) ∩
    * robots-allowed set (qRobotsFilter arithmetic), prioritized by the
    * same integer pagerank the qPagerank oracle derives. */
  val qCrawlFrontier: String =
    s"""WITH $pagerankCtes,
       |c AS (SELECT doc_id % 97 AS g FROM documents),
       |fl AS (
       |  SELECT 'https://' || CASE g % 3 WHEN 0 THEN 'news.example.org'
       |           WHEN 1 THEN 'blog.example.org' ELSE 'www.example.net' END
       |         || '/articles/' || CAST(g AS VARCHAR) AS url,
       |         CAST(count(*) AS BIGINT) AS demand, min(g) AS g
       |  FROM c GROUP BY url)
       |SELECT f.url, f.demand, r3.r AS rank
       |FROM fl f JOIN r3 USING (url)
       |WHERE (f.g % 3 = 0 AND CAST(f.g AS VARCHAR) NOT LIKE '1%')
       |   OR (f.g % 3 = 1 AND CAST(f.g AS VARCHAR) LIKE '%3')
       |   OR (f.g % 3 = 2)
       |ORDER BY rank DESC, url""".stripMargin

  /** PMI collocations: same token split, adjacent pairs via 1-based
    * positional unnest, identical integer counts and the single-ln
    * formula (numerator promoted to DOUBLE first, denominator a pure
    * BIGINT product) rounded to 6 decimals. */
  val qPmiBigrams: String =
    """WITH w AS (
      |  SELECT list_filter(string_split(text, ' '), x -> x <> '') AS ws
      |  FROM documents),
      |uni AS (
      |  SELECT u AS wd, CAST(count(*) AS BIGINT) AS c
      |  FROM w, LATERAL (SELECT unnest(ws) AS u) x GROUP BY 1),
      |bi AS (
      |  SELECT ws[CAST(i AS INTEGER)] AS a, ws[CAST(i AS INTEGER) + 1] AS b,
      |         CAST(count(*) AS BIGINT) AS c_ab
      |  FROM w, LATERAL (SELECT unnest(range(1, len(ws))) AS i) x
      |  GROUP BY 1, 2),
      |tot AS (
      |  SELECT (SELECT CAST(sum(c) AS BIGINT) FROM uni) AS n_w,
      |         (SELECT CAST(sum(c_ab) AS BIGINT) FROM bi) AS n_bi)
      |SELECT a, b, c_ab,
      |       round(ln(CAST(c_ab AS DOUBLE) * n_w * n_w
      |                / (n_bi * ca.c * cb.c)), 6) AS pmi
      |FROM bi, tot
      |JOIN uni ca ON ca.wd = a
      |JOIN uni cb ON cb.wd = b
      |WHERE c_ab >= 5
      |ORDER BY pmi DESC, a, b""".stripMargin

  /** Exact set-similarity join, INDEPENDENT formulation: no prefix
    * filter — the exploded self-join on shingle hash counts the full
    * intersection per pair directly, then applies the same integer
    * cross-multiplied threshold. Any pair the Spark side's prefix
    * filter wrongly pruned would appear here (completeness is what
    * this oracle tests). */
  val qSetsimJoin: String =
    """WITH t AS (
      |  SELECT doc_id, list_distinct(list_transform(range(1, length(text) - 6),
      |    i -> CAST(('0x' || substr(md5(substr(text, CAST(i AS INTEGER), 8)), 1, 15)) AS BIGINT))) AS sh
      |  FROM documents WHERE length(text) >= 8),
      |sz AS (SELECT doc_id, len(sh) AS n FROM t),
      |e AS (SELECT doc_id, unnest(sh) AS h FROM t),
      |p AS (
      |  SELECT a.doc_id AS doc_i, b.doc_id AS doc_j, CAST(count(*) AS BIGINT) AS inter
      |  FROM e a JOIN e b ON a.h = b.h AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2)
      |SELECT doc_i, doc_j, inter,
      |       CAST(si.n + sj.n - inter AS BIGINT) AS uni,
      |       round(CAST(inter AS DOUBLE) / (si.n + sj.n - inter), 6) AS jac
      |FROM p
      |JOIN sz si ON si.doc_id = p.doc_i
      |JOIN sz sj ON sj.doc_id = p.doc_j
      |WHERE 19 * inter >= 9 * (si.n + sj.n)
      |ORDER BY doc_i, doc_j""".stripMargin

  /** Efraimidis–Spirakis A-ES: identical u (md5 60-bit of doc_id),
    * key = -ln(u)/n_chars rounded to 9 decimals, 100 smallest with
    * doc_id tie-break. */
  val qSampleWeighted: String =
    """SELECT doc_id, n_chars,
      |  round(-ln(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
      |            / POW(2, 60)) / n_chars, 9) AS es_key
      |FROM documents
      |ORDER BY es_key, doc_id LIMIT 100""".stripMargin

  val all: Map[String, String] = Map(
    "q_pmi_bigrams" -> qPmiBigrams,
    "q_setsim_join" -> qSetsimJoin,
    "q_sample_weighted" -> qSampleWeighted,
    "q_html_extract" -> qHtmlExtract,
    "q_pdf_extract" -> qPdfExtract,
    "q_warc_extract" -> qWarcExtract,
    "q_url_dedup" -> qUrlDedup,
    "q_link_graph" -> qLinkGraph,
    "q_anchor_text" -> qAnchorText,
    "q_pagerank" -> qPagerank,
    "q_hits" -> qHits,
    "q_cocitation" -> qCocitation,
    "q_jl_project" -> qJlProject,
    "q_stupid_backoff" -> qStupidBackoff,
    "q_crawl_frontier" -> qCrawlFrontier,
    "q_robots_filter" -> qRobotsFilter,
    "q_fix_mojibake" -> qFixMojibake,
    "q_c4_filter" -> qC4Filter,
    "q_boilerplate" -> qBoilerplate,
    "q_main_content" -> qMainContent,
    "q_token_counts" -> qTokenCounts,
    "q_lexicon_counts" -> qLexiconCounts,
    "q_lexicon_weights" -> qLexiconWeights,
    "q_lm_ngrams" -> qLmNgrams,
    "q_lm_perplexity" -> qLmPerplexity,
    "q_ppl_buckets" -> qPplBuckets,
    "q_len_percentiles" -> qLenPercentiles,
    "q_substring_dup" -> qSubstringDup,
    "q_substring_rewrite" -> qSubstringRewrite,
    "q_sample_mixture" -> qSampleMixture,
    "q_ngram_topk" -> qNgramTopk,
    "q_st_ngrams" -> qStNgrams,
    "q_cer_lev" -> qCerLev,
    "q_training_join" -> qTrainingJoin,
    "q_dedup_exact" -> qDedupExact,
    "q_paragraph_dedup" -> qParagraphDedup,
    "q_dedup_bloom" -> qDedupBloom,
    "q_dedup_minhash" -> qDedupMinhash,
    "q_ngram_jaccard" -> qNgramJaccard,
    "q_dedup_groups" -> qDedupGroups,
    "q_dedup_simhash" -> qDedupSimhash,
    "q_ann_cosine" -> qAnnCosine,
    "q_ann_lsh" -> qAnnLsh,
    "q_dedup_embed" -> qDedupEmbed,
    "q_simhash" -> qSimhash,
    "q_lang_id" -> qLangId,
    "q_quality" -> qQuality,
    "q_quality_classifier" -> qQualityClassifier,
    "q_dsir" -> qDsir,
    "q_bm25" -> qBm25,
    "q_winnow" -> qWinnow,
    "q_nb_train" -> qNbTrain,
    "q_nb_classify" -> qNbClassify,
    "q_inverted_index" -> qInvertedIndex,
    "q_tpch_pricing" -> qTpchPricing,
    "q_tpch_top_customers" -> qTpchTopCustomers,
    "q_tpch_revenue_rollup" -> qTpchRevenueRollup,
    "q_tpch_promo" -> qTpchPromo,
    "q_parts_cold" -> qPartsCold,
    "q_suppliers_hot" -> qSuppliersHot,
    "q_events_window" -> qEventsWindow,
    "q_scd_current" -> qScdCurrent,
    "q_events_asof" -> qEventsAsof,
    "q_sessionize" -> qSessionize,
    "q_ann_ivf" -> qAnnIvf,
    "q_semdedup" -> qSemdedup,
    "q_token_count_regex" -> qTokenCountRegex,
    "q_fingerprint" -> qFingerprint,
    "q_gopher_quality" -> qGopherQuality,
    "q_pii_redact" -> qPiiRedact,
    "q_decontaminate" -> qDecontaminate,
    "q_sample_stratified" -> qSampleStratified,
    "q_sample_upsample" -> qSampleUpsample,
    "q_chunk_fixed" -> qChunkFixed,
    "q_tfidf_top" -> qTfidfTop,
    "q_bpe_pairs" -> qBpePairs,
    "q_bpe_encode" -> qBpeEncode)
}
