package graft.pipeline

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus search/retrieval faces over the `documents` table — the
  * keyword-side serving story next to the embedding-side ANN family
  * (SimilarityQueries): build an inverted index, run conjunctive
  * keyword search off the postings, rank with BM25, and link
  * character-corrupted copies with blocked edit distance. The reference
  * has no search surface (it is a document-ETL service, SURVEY.md §2);
  * these extend it per the north-star LLM-pipeline brief (§7.2 M6) —
  * a 100 TB corpus engine is also the tool that *finds* things in the
  * corpus it curates.
  *
  * Scale posture: everything flows from ONE tokenize of the corpus (the
  * tf relation); the index build is a single hash shuffle on token;
  * search and BM25 touch only the |terms| slice of tf (a pushed-down
  * IN-filter at the scan, never a full-index scan); the fuzzy-linkage
  * candidate join is an equi-join on a content-bearing (lang, prefix)
  * key with a frequency cap, so pair volume tracks true corruption
  * pairs, never corpus².
  */
object SearchQueries {
  type Q = (SparkSession, String) => DataFrame

  private val toks = split(lower(col("text")), " ")
  private val ToksSql = "string_split(lower(text), ' ')"

  /** Per-(doc, token) term frequencies — the single tokenize every face
    * below derives from (same discipline as TextQueries.tfidfTop).
    * Pooled via [[CachePool]] (round 18): before pooling, every lexical
    * arm re-ran the corpus explode + (doc, token) aggregate per face —
    * the in-plan BM25 faces need the FULL tf (doc lengths aggregate
    * over all tokens, not just query terms), so each of the ~6 search
    * faces paid a corpus tokenize per invocation. The relation is
    * (doc, distinct-token)-sized, the same scale the persisted postings
    * index stores; the index build already pooled this exact plan, so
    * this only moves the pooling from "first stored-face build" to
    * "first lexical touch" and every face shares one copy. */
  private def tf(s: SparkSession, d: String): DataFrame =
    CachePool.cached(s, d, "tf")(
      Tables.documents(s, d)
        .select(col("doc_id"), explode(toks).as("token"))
        .groupBy("doc_id", "token").agg(count(lit(1)).as("tf")))

  /** Per-doc token lengths (doc_id, dl) — the BM25 normalizer every
    * lexical arm joins against, and literally one of the persisted
    * index's four tables. Pooled like [[tf]] (round 18): doc-sized,
    * derived once, consumed by bm25/prf/batch arms and the index
    * build. */
  private def docLens(s: SparkSession, d: String): DataFrame =
    CachePool.cached(s, d, "docLens")(
      tf(s, d).groupBy("doc_id").agg(sum("tf").as("dl")))
  private val TfSql = s"""tf AS (
  SELECT doc_id, token, count(*) AS tf
  FROM (SELECT doc_id, unnest($ToksSql) AS token FROM documents)
  GROUP BY doc_id, token
)"""

  // ------------------------------------------------------ inverted index
  /** Postings-prefix cap: real engines shard posting lists into fixed
    * blocks; emitting the first [[PostK]] doc ids (plus full df/tf
    * totals) is that shape — the per-token row stays bounded no matter
    * how common the token, so the index build never materializes an
    * unbounded collect_list for a stopword at 100 TB. */
  val PostK = 32

  /** Inverted index: token → (df, total tf, first-[[PostK]] posting
    * prefix). One shuffle on token over the tf relation; collect_list
    * arrives pre-bounded because the slice happens on the sorted dedup'd
    * doc ids of the token group (testdata vocab is small, but the CAP is
    * the contract the spec pins). */
  private val invertedIndex: Q = (s, d) =>
    tf(s, d).groupBy("token").agg(
      count(lit(1)).as("df"),
      sum("tf").as("tf_total"),
      array_join(slice(sort_array(collect_list(col("doc_id"))), 1, PostK),
        ",").as("postings"))
      .orderBy("token")
  private val invertedIndexSql = s"""WITH $TfSql
SELECT token, count(*) AS df, CAST(sum(tf) AS BIGINT) AS tf_total,
  array_to_string(list_slice(list(doc_id ORDER BY doc_id), 1, $PostK), ',')
    AS postings
FROM tf GROUP BY token ORDER BY token"""

  // ----------------------------------------------------- keyword search
  /** Conjunctive query terms for the search faces — fixed so the oracle
    * is a literal mirror; chosen from the synthetic vocabulary at
    * moderate selectivity. */
  val Terms: Seq[String] = Seq("vector", "stream", "filter")

  /** Conjunctive (AND) keyword search: docs containing ALL query terms,
    * ranked by summed tf (integer — no float ranking ambiguity), top 20.
    * The tf scan carries an IN (terms) filter, so at index-serving scale
    * this reads |terms| postings, not the corpus; the HAVING-count
    * conjunction is the posting-list intersection done relationally. */
  private val keywordSearch: Q = (s, d) =>
    tf(s, d).filter(col("token").isin(Terms: _*))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_terms"), sum("tf").as("score"))
      .filter(col("n_terms") === Terms.size)
      .orderBy(col("score").desc, col("doc_id"))
      .limit(20)
  private val termList = Terms.map(t => s"'$t'").mkString(", ")
  private val keywordSearchSql = s"""WITH $TfSql
SELECT doc_id, count(*) AS n_terms, CAST(sum(tf) AS BIGINT) AS score
FROM tf WHERE token IN ($termList)
GROUP BY doc_id HAVING count(*) = ${Terms.size}
ORDER BY score DESC, doc_id LIMIT 20"""

  // --------------------------------------------------------------- BM25
  /** Okapi BM25 constants (the standard k1/b). */
  val BmK1 = 1.2; val BmB = 0.75

  /** BM25 top-20 for [[Terms]] (disjunctive — docs matching ANY term
    * score on the terms they have). idf = ln((N−df+0.5)/(df+0.5)+1)
    * (the Lucene non-negative form); per-term contributions land in
    * FIXED summation order (one conditional max() per term, added
    * left-to-right) so the double is bit-identical cross-engine — the
    * same discipline as the events Welch t-test. df/avgdl come from
    * broadcast 1-row / |terms|-row aggregates of the SAME tf relation —
    * the corpus is tokenized once, and the per-doc side of the join is
    * the IN-filtered tf slice, not the full index. */
  private[graft] val bm25: Q = (s, d) => {
    val t = tf(s, d)
    val dl = docLens(s, d)
    val stats = dl.agg(count(lit(1)).as("n_docs"),
      (sum("dl").cast("double") / count(lit(1))).as("avgdl"))
    val dfRel = t.filter(col("token").isin(Terms: _*))
      .groupBy("token").agg(count(lit(1)).as("df"))
    val contrib = t.filter(col("token").isin(Terms: _*))
      .join(broadcast(dfRel), "token")
      .join(dl, "doc_id")
      .crossJoin(broadcast(stats))
      .withColumn("c",
        log((col("n_docs") - col("df") + 0.5) / (col("df") + 0.5) + 1.0) *
          (col("tf") * (BmK1 + 1)) /
          (col("tf") + lit(BmK1) *
            (lit(1 - BmB) + lit(BmB) * col("dl") / col("avgdl"))))
    val perTerm = Terms.zipWithIndex.map { case (term, i) =>
      max(when(col("token") === term, col("c")).otherwise(lit(0.0))).as(s"c$i")
    }
    contrib.groupBy("doc_id").agg(perTerm.head, perTerm.tail: _*)
      .withColumn("bm25", round(Terms.indices
        .map(i => col(s"c$i")).reduceLeft(_ + _), 6))
      .select(col("doc_id"), col("bm25"))
      .orderBy(col("bm25").desc, col("doc_id"))
      .limit(20)
  }
  private val bm25Sql = {
    val cases = Terms.indices.map(i =>
      s"max(CASE WHEN token = '${Terms(i)}' THEN c ELSE 0.0 END) AS c$i")
      .mkString(",\n    ")
    val add = Terms.indices.map(i => s"c$i").mkString(" + ")
    s"""WITH $TfSql, dl AS (
  SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM tf GROUP BY doc_id
), stats AS (
  SELECT count(*) AS n_docs, CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl
  FROM dl
), dfr AS (
  SELECT token, count(*) AS df FROM tf
  WHERE token IN ($termList) GROUP BY token
), contrib AS (
  SELECT t.doc_id, t.token,
    ln((s.n_docs - f.df + 0.5) / (f.df + 0.5) + 1.0) *
      (t.tf * (${BmK1} + 1)) /
      (t.tf + ${BmK1} * (1 - ${BmB} + ${BmB} * d.dl / s.avgdl)) AS c
  FROM tf t
  JOIN dfr f ON t.token = f.token
  JOIN dl d ON t.doc_id = d.doc_id
  CROSS JOIN stats s
), agg AS (
  SELECT doc_id,
    $cases
  FROM contrib GROUP BY doc_id
)
SELECT doc_id, round($add, 6) AS bm25
FROM agg ORDER BY bm25 DESC, doc_id LIMIT 20"""
  }

  // ----------------------------------- pseudo-relevance feedback (PRF)
  /** Expansion-term count and the min pseudo-relevant-doc support. */
  val PrfK = 3; val PrfMinR = 3

  /** The PRF expansion terms — RM3's idea under a DETERMINISTIC
    * integer rule: take the BM25 top-10 as the pseudo-relevant set R,
    * then among R's tokens (original query terms excluded) rank by
    * (support in R DESC, global df ASC, tf-in-R DESC, token) — "common
    * in the feedback set, rare in the corpus", the tf·idf intuition as
    * a lexicographic key so no cross-engine libm-ulp can flip the
    * selection. Constant model state: [[PrfK]] strings. At 100 TB the
    * df lookup is served by the inverted index's token→df column
    * rather than re-aggregating tf. */
  private[graft] def prfExpansion(s: SparkSession, d: String): Seq[String] =
    CachePool.memoized(s, d, "prfExpansion") {
      val t = tf(s, d)
      val seed = bm25(s, d)
        .orderBy(col("bm25").desc, col("doc_id")).limit(10)
        .select("doc_id")
      val inR = t.join(broadcast(seed), "doc_id")
        .filter(!col("token").isin(Terms: _*))
        .groupBy("token")
        .agg(count(lit(1)).as("n_r"), sum("tf").as("tf_r"))
        .filter(col("n_r") >= PrfMinR)
      val dfAll = t.groupBy("token").agg(count(lit(1)).as("df"))
      inR.join(dfAll, "token")
        .orderBy(col("n_r").desc, col("df").asc, col("tf_r").desc,
          col("token"))
        .limit(PrfK).select("token").collect().map(_.getString(0)).toSeq
    }

  /** Retrieval with the expanded query (original [[Terms]] ∪ the
    * [[PrfK]] feedback terms): disjunctive match, integer summed-tf
    * ranking (order-free summation — the final metric stays exact while
    * the PRF loop supplies the recall the seed query lacked). Same
    * IN-sliced tf scan shape as [[keywordSearch]] — at serving scale
    * this reads |terms|+[[PrfK]] postings, never the corpus. */
  private val prfSearch: Q = (s, d) => {
    val expanded = Terms ++ prfExpansion(s, d)
    tf(s, d).filter(col("token").isin(expanded: _*))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_terms"), sum("tf").as("score"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(20)
  }
  private val prfSearchSql = {
    // the bm25 chain verbatim (shared constants), then the expansion
    // rule and the expanded keyword search
    val cases = Terms.indices.map(i =>
      s"max(CASE WHEN token = '${Terms(i)}' THEN c ELSE 0.0 END) AS c$i")
      .mkString(",\n    ")
    val add = Terms.indices.map(i => s"c$i").mkString(" + ")
    s"""WITH $TfSql, dl AS (
  SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM tf GROUP BY doc_id
), stats AS (
  SELECT count(*) AS n_docs, CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl
  FROM dl
), dfr AS (
  SELECT token, count(*) AS df FROM tf
  WHERE token IN ($termList) GROUP BY token
), contrib AS (
  SELECT t.doc_id, t.token,
    ln((s.n_docs - f.df + 0.5) / (f.df + 0.5) + 1.0) *
      (t.tf * (${BmK1} + 1)) /
      (t.tf + ${BmK1} * (1 - ${BmB} + ${BmB} * d.dl / s.avgdl)) AS c
  FROM tf t
  JOIN dfr f ON t.token = f.token
  JOIN dl d ON t.doc_id = d.doc_id
  CROSS JOIN stats s
), agg AS (
  SELECT doc_id,
    $cases
  FROM contrib GROUP BY doc_id
), seed AS (
  SELECT doc_id FROM (
    SELECT doc_id, round($add, 6) AS bm25 FROM agg
  ) ORDER BY bm25 DESC, doc_id LIMIT 10
), dfall AS (
  SELECT token, count(*) AS df FROM tf GROUP BY token
), expn AS (
  SELECT j.token FROM (
    SELECT t.token, count(*) AS n_r, CAST(sum(t.tf) AS BIGINT) AS tf_r
    FROM tf t JOIN seed s ON t.doc_id = s.doc_id
    WHERE t.token NOT IN ($termList)
    GROUP BY t.token HAVING count(*) >= $PrfMinR
  ) j JOIN dfall g ON j.token = g.token
  ORDER BY j.n_r DESC, g.df ASC, j.tf_r DESC, j.token LIMIT $PrfK
)
SELECT doc_id, count(*) AS n_terms, CAST(sum(tf) AS BIGINT) AS score
FROM tf
WHERE token IN ($termList) OR token IN (SELECT token FROM expn)
GROUP BY doc_id ORDER BY score DESC, doc_id LIMIT 20"""
  }

  // ----------------------------- PRF inside the hybrid retrieval tier
  /** PRF composed with the PRODUCTION-shaped pipeline (VERDICT r11 #6:
    * `search_prf_expanded` fed the feedback loop into the summed-tf
    * keyword face only): the lexical arm is BM25 over the EXPANDED
    * query ([[Terms]] ∪ the [[PrfK]] feedback terms), the vector arm
    * is the IVF-SERVED top-20 for the corpus query vector (vec 0 —
    * [[hybridRrf]]'s convention, but probing the persisted bucketed
    * cell index via [[SimilarityQueries.ivfProbeRanks]] instead of
    * scanning the corpus), fused with the same RRF as every hybrid
    * face. Because the expansion terms are runtime model state (not
    * compile-time literals), per-term BM25 contributions accumulate as
    * exact DECIMAL(25,15) — the order-free batch-arm discipline — so
    * no fixed summation order is needed. At 100 TB: the tf slice reads
    * |terms|+[[PrfK]] postings, the vector arm reads nprobe/nlist of
    * the corpus, and the fusion joins two ≤20-row arms. */
  private val hybridRrfPrf: Q = (s, d) => {
    val expanded = Terms ++ prfExpansion(s, d)
    val t = tf(s, d)
    val dl = docLens(s, d)
    val stats = dl.agg(count(lit(1)).as("n_docs"),
      (sum("dl").cast("double") / count(lit(1))).as("avgdl"))
    val dfRel = t.filter(col("token").isin(expanded: _*))
      .groupBy("token").agg(count(lit(1)).as("df"))
    val contrib = t.filter(col("token").isin(expanded: _*))
      .join(broadcast(dfRel), "token")
      .join(dl, "doc_id")
      .crossJoin(broadcast(stats))
      .withColumn("c",
        (log((col("n_docs") - col("df") + 0.5) / (col("df") + 0.5) + 1.0) *
          (col("tf") * (BmK1 + 1)) /
          (col("tf") + lit(BmK1) *
            (lit(1 - BmB) + lit(BmB) * col("dl") / col("avgdl"))))
          .cast("decimal(25,15)"))
    val lex = contrib.groupBy("doc_id").agg(sum("c").as("s"))
      .orderBy(col("s").desc, col("doc_id")).limit(20)
      .withColumn("lex_rank", row_number().over(
        Window.orderBy(col("s").desc, col("doc_id"))))
      .select(col("doc_id"), col("lex_rank"))
    val q0 = SimilarityQueries.embDouble(s, d).filter(col("vec_id") === 0)
      .select(col("vec_id").as("query_id"), col("v").as("qv"))
    val vec = SimilarityQueries.ivfProbeRanks(s, d, q0, 20)
      .select(col("doc_id"), col("vec_rank"))
    lex.join(vec, Seq("doc_id"), "full_outer")
      .select(col("doc_id"), col("lex_rank"), col("vec_rank"),
        round(coalesce(lit(1.0) / (lit(RrfK) + col("lex_rank")), lit(0.0))
          + coalesce(lit(1.0) / (lit(RrfK) + col("vec_rank")), lit(0.0)),
          6).as("rrf"))
      .orderBy(col("rrf").desc, col("doc_id")).limit(10)
  }
  // lazy: interpolates RrfK, declared below with the hybrid section —
  // a strict val here would capture the uninitialized 0
  private lazy val hybridRrfPrfSql = {
    val exTerms =
      s"t.token IN ($termList) OR t.token IN (SELECT token FROM expn)"
    s"""WITH $TfSql, dl AS MATERIALIZED (
  SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM tf GROUP BY doc_id
), stats AS MATERIALIZED (
  SELECT count(*) AS n_docs, CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl
  FROM dl
), dfr AS (
  SELECT token, count(*) AS df FROM tf
  WHERE token IN ($termList) GROUP BY token
), contrib AS (
  SELECT t.doc_id, t.token,
    ln((s.n_docs - f.df + 0.5) / (f.df + 0.5) + 1.0) *
      (t.tf * (${BmK1} + 1)) /
      (t.tf + ${BmK1} * (1 - ${BmB} + ${BmB} * d.dl / s.avgdl)) AS c
  FROM tf t
  JOIN dfr f ON t.token = f.token
  JOIN dl d ON t.doc_id = d.doc_id
  CROSS JOIN stats s
), agg AS (
  SELECT doc_id,
    ${Terms.indices.map(i =>
      s"max(CASE WHEN token = '${Terms(i)}' THEN c ELSE 0.0 END) AS c$i")
      .mkString(",\n    ")}
  FROM contrib GROUP BY doc_id
), seed AS (
  SELECT doc_id FROM (
    SELECT doc_id, round(${Terms.indices.map(i => s"c$i").mkString(" + ")},
      6) AS bm25 FROM agg
  ) ORDER BY bm25 DESC, doc_id LIMIT 10
), dfall AS MATERIALIZED (
  SELECT token, count(*) AS df FROM tf GROUP BY token
), expn AS MATERIALIZED (
  SELECT j.token FROM (
    SELECT t.token, count(*) AS n_r, CAST(sum(t.tf) AS BIGINT) AS tf_r
    FROM tf t JOIN seed s ON t.doc_id = s.doc_id
    WHERE t.token NOT IN ($termList)
    GROUP BY t.token HAVING count(*) >= $PrfMinR
  ) j JOIN dfall g ON j.token = g.token
  ORDER BY j.n_r DESC, g.df ASC, j.tf_r DESC, j.token LIMIT $PrfK
), pcontrib AS MATERIALIZED (
  SELECT t.doc_id,
    CAST(ln((s.n_docs - g.df + 0.5) / (g.df + 0.5) + 1.0) *
      (t.tf * (${BmK1} + 1)) /
      (t.tf + ${BmK1} * (1 - ${BmB} + ${BmB} * d.dl / s.avgdl))
      AS DECIMAL(25,15)) AS c
  FROM tf t
  JOIN dfall g ON t.token = g.token
  JOIN dl d ON t.doc_id = d.doc_id
  CROSS JOIN stats s
  WHERE $exTerms
), plex AS MATERIALIZED (
  SELECT doc_id,
    CAST(row_number() OVER (ORDER BY s DESC, doc_id) AS INT) AS lex_rank
  FROM (SELECT doc_id, sum(c) AS s FROM pcontrib GROUP BY doc_id)
  QUALIFY lex_rank <= 20
),
${SimilarityQueries.ivfProbeChainSql(1, 20)}
SELECT COALESCE(l.doc_id, v.doc_id) AS doc_id,
  l.lex_rank, v.vec_rank,
  round(COALESCE(1.0 / ($RrfK + l.lex_rank), 0)
    + COALESCE(1.0 / ($RrfK + v.vec_rank), 0), 6) AS rrf
FROM plex l FULL OUTER JOIN ivfvec v ON v.doc_id = l.doc_id
ORDER BY rrf DESC, doc_id LIMIT 10"""
  }

  // ------------------------------------------- fuzzy edit-distance link
  /** Character-corruption linkage corpus: base documents ∪ corrupted
    * copies (doc_id%13==0 → +30000) with every 25th character deleted —
    * the OCR-noise / transcription-error shape that shingle dedup
    * misses (every 3-gram crossing a deletion changes) but edit
    * distance catches. The corruption is one global regexp_replace
    * (`(.{24}).` → group 1), identical semantics in Java regex and RE2.
    */
  private def fuzzCorpus(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).select("doc_id", "text", "lang")
    docs.unionAll(docs.filter(col("doc_id") % 13 === 0).select(
      (col("doc_id") + 30000).as("doc_id"),
      regexp_replace(col("text"), "(.{24}).", "$1").as("text"),
      col("lang")))
  }
  private val FuzzCteSql = s"""fuzz AS (
  SELECT doc_id, text, lang FROM documents
  UNION ALL
  SELECT doc_id + 30000, regexp_replace(text, '(.{24}).', '\\1', 'g'), lang
  FROM documents WHERE doc_id % 13 = 0
)"""

  /** Blocking-key frequency cap (same discipline as every DedupQueries
    * blocker): a prefix shared by more than [[EditBlockCap]] docs is
    * boilerplate and dropped — block fan-out stays bounded. */
  val EditBlockCap = 50
  /** Compared-head length and accept threshold: 4 deletions land inside
    * a 120-char head (positions 25/50/75/100), plus tail drift from the
    * shift — 12 covers corrupted pairs with margin while unrelated
    * same-prefix docs (distance ~half the head) stay excluded. */
  val EditHead = 120; val EditMaxDist = 12

  /** Fuzzy near-dup pairs via blocked Levenshtein: block on
    * (lang, first-16-chars) — content-bearing (corruption starts at
    * char 25, so true pairs share the prefix) and frequency-capped —
    * then verify candidates with levenshtein on the 120-char head
    * (cost per pair bounded at 120², independent of document length).
    * Output is exact integers → hash-stable cross-engine. */
  private val editDistance: Q = (s, d) => {
    val keyed = fuzzCorpus(s, d).select(col("doc_id"), col("lang"),
      substring(col("text"), 1, 16).as("pfx"),
      substring(col("text"), 1, EditHead).as("head"))
    val ok = keyed.join(
      keyed.groupBy("lang", "pfx").agg(count(lit(1)).as("n"))
        .filter(col("n") <= EditBlockCap).drop("n"),
      Seq("lang", "pfx"), "left_semi")
    ok.as("a").join(ok.as("b"),
        col("a.lang") === col("b.lang") && col("a.pfx") === col("b.pfx") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        levenshtein(col("a.head"), col("b.head")).as("edit_dist"))
      .filter(col("edit_dist") <= EditMaxDist)
      .orderBy("doc_a", "doc_b")
  }
  private val editDistanceSql = s"""WITH $FuzzCteSql, keyed AS (
  SELECT doc_id, lang, substring(text, 1, 16) AS pfx,
    substring(text, 1, $EditHead) AS head
  FROM fuzz
), ok AS (
  SELECT k.* FROM keyed k
  JOIN (SELECT lang, pfx FROM keyed GROUP BY lang, pfx
        HAVING count(*) <= $EditBlockCap) g
    ON k.lang = g.lang AND k.pfx = g.pfx
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
  CAST(levenshtein(a.head, b.head) AS INT) AS edit_dist
FROM ok a JOIN ok b
  ON a.lang = b.lang AND a.pfx = b.pfx AND a.doc_id < b.doc_id
WHERE levenshtein(a.head, b.head) <= $EditMaxDist
ORDER BY doc_a, doc_b"""

  // ------------------------------------------------- hybrid retrieval
  /** Hybrid lexical + vector retrieval with reciprocal-rank fusion
    * (Cormack, Clarke & Buettcher 2009's RRF, the industry-standard
    * fusion: score = Σ 1/(k + rank), k = 60) — how a retrieval tier
    * actually serves once it has BOTH an inverted index and an ANN
    * index: the lexical arm is the [[bm25]] face's exact top-20 for
    * [[Terms]]; the vector arm is cosine top-20 against the corpus
    * query vector (vec 0, self excluded — the ANN faces' convention);
    * absent-arm docs contribute 0 and report a NULL rank (rank is
    * 1-based — an in-band 0 sentinel would be a fake ordinal, so the
    * missing arm is encoded honestly as missing). Each arm is a
    * bounded top-k (the rank windows ride ≤20-row relations —
    * declared in the plan-hygiene bounded list); the fusion join is
    * ≤40 rows. Ranks tie-break on doc_id in both arms, the BM25
    * score is pre-rounded, and the cosine doubles are the
    * bit-identical ANN formulation, so the fused ordering cannot
    * flap cross-engine. */
  val RrfK = 60
  private val hybridRrf: Q = (s, d) => {
    val lexR = bm25(s, d).withColumn("lex_rank", row_number().over(
      Window.orderBy(col("bm25").desc, col("doc_id"))))
    val e = SimilarityQueries.embDouble(s, d).select(col("vec_id"), col("v"))
    val q = e.filter(col("vec_id") === 0).select(col("v").as("qv"))
    val vec = e.filter(col("vec_id") =!= 0).crossJoin(broadcast(q))
      .select(col("vec_id").as("doc_id"),
        call_function("graft_cosine", col("qv"), col("v")).as("sim"))
      .orderBy(col("sim").desc, col("doc_id")).limit(20)
    val vecR = vec.withColumn("vec_rank", row_number().over(
      Window.orderBy(col("sim").desc, col("doc_id"))))
    lexR.select(col("doc_id"), col("lex_rank"))
      .join(vecR.select(col("doc_id"), col("vec_rank")),
        Seq("doc_id"), "full_outer")
      .select(col("doc_id"), col("lex_rank"), col("vec_rank"),
        round(coalesce(lit(1.0) / (lit(RrfK) + col("lex_rank")), lit(0.0))
          + coalesce(lit(1.0) / (lit(RrfK) + col("vec_rank")), lit(0.0)),
          6).as("rrf"))
      .orderBy(col("rrf").desc, col("doc_id")).limit(10)
  }
  private val hybridRrfSql =
    s"""WITH lex AS (SELECT * FROM ($bm25Sql)),
lexr AS (
  SELECT doc_id,
    CAST(row_number() OVER (ORDER BY bm25 DESC, doc_id) AS INT) AS lex_rank
  FROM lex
), ev AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
), qv AS (SELECT v AS qv FROM ev WHERE vec_id = 0),
vec AS (
  SELECT vec_id AS doc_id,
    list_dot_product(qv, v) / (sqrt(list_dot_product(qv, qv))
      * sqrt(list_dot_product(v, v))) AS sim
  FROM ev, qv WHERE vec_id <> 0
  ORDER BY sim DESC, doc_id LIMIT 20
), vecr AS (
  SELECT doc_id,
    CAST(row_number() OVER (ORDER BY sim DESC, doc_id) AS INT) AS vec_rank
  FROM vec
)
SELECT COALESCE(l.doc_id, v.doc_id) AS doc_id,
  l.lex_rank, v.vec_rank,
  round(COALESCE(1.0 / ($RrfK + l.lex_rank), 0)
    + COALESCE(1.0 / ($RrfK + v.vec_rank), 0), 6) AS rrf
FROM lexr l FULL OUTER JOIN vecr v ON v.doc_id = l.doc_id
ORDER BY rrf DESC, doc_id LIMIT 10"""

  // ------------------------------------- batched hybrid retrieval serve
  /** The per-batch query relation a retrieval TIER receives: N queries,
    * each a (term set, query vector) pair — query i's vector is
    * embedding vec_id = i (the ANN faces' evaluation-set convention),
    * its terms a fixed 2–3-word conjunct from the corpus vocabulary.
    * Literal on both faces: in production this relation arrives from
    * the request batch; here it is pinned so the oracle is a mirror. */
  val QueryTerms: Seq[(Int, Seq[String])] = Seq(
    0 -> Seq("vector", "stream"),
    1 -> Seq("hash", "join", "merge"),
    2 -> Seq("filter", "scan"),
    3 -> Seq("window", "agg"),
    4 -> Seq("sort", "order", "key"),
    5 -> Seq("spark", "query"),
    6 -> Seq("batch", "stream", "data"),
    7 -> Seq("column", "row"),
    8 -> Seq("group", "table"),
    9 -> Seq("fast", "slow"))
  private val AllQTerms: Seq[String] =
    QueryTerms.flatMap(_._2).distinct.sorted

  /** Multi-query hybrid retrieval with per-query RRF — the
    * generalization of [[hybridRrf]] from "demo query" to "serving
    * batch" (VERDICT r8 top-next): ONE plan answers all N queries.
    * Lexical arm: the tf relation is sliced ONCE by the union of all
    * query terms (pushed-down IN at the scan), fanned out to
    * (query_id, doc) pairs via a broadcast join with the term table,
    * and BM25-scored per query; per-term contributions accumulate as
    * exact DECIMAL(25,15) (order-free sum of identical IEEE doubles —
    * the A/B-test moment discipline), so arbitrary per-query term sets
    * need no fixed summation order. Vector arm: all N query vectors
    * broadcast against the corpus, cosine top-20 per query — the
    * [[graft.pipeline.SimilarityQueries]] `ann_topk_brute` shape. Both
    * arms rank with `Window.partitionBy(query_id)` (never a global
    * window); fusion is a per-(query, doc) full outer join over
    * ≤ N·40 rows with NULL absent-arm ranks. At 100 TB the corpus is
    * touched twice (one tf slice, one embedding scan) REGARDLESS of
    * batch size N — per-query marginal cost is broadcast rows only. */
  /** The shared lexical arm of the batch faces: per-query BM25 ranks
    * (query_id, doc_id, lex_rank ≤ 20) — one IN-sliced tf scan fanned
    * out by the broadcast term table, order-free DECIMAL contribution
    * sums, per-query WindowGroupLimit top-k. */
  private def lexArmBatch(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val qt = broadcast(QueryTerms.flatMap { case (q, ts) => ts.map((q, _)) }
      .toDF("query_id", "token"))
    val t = tf(s, d)
    val dl = docLens(s, d)
    val stats = dl.agg(count(lit(1)).as("n_docs"),
      (sum("dl").cast("double") / count(lit(1))).as("avgdl"))
    val dfRel = t.filter(col("token").isin(AllQTerms: _*))
      .groupBy("token").agg(count(lit(1)).as("df"))
    lexTop(bm25Contrib(qt, t.filter(col("token").isin(AllQTerms: _*)),
      dfRel, dl, stats))
  }

  /** Shared BM25 partial-score projection of every serving face —
    * batch in-plan, batch stored-index, and streaming: per
    * (query_id, doc_id, token) contribution as exact DECIMAL(25,15)
    * (order-free accumulation — identical IEEE doubles cast to
    * decimal sum to the same total in any order, which is what lets a
    * micro-batched stream agree with one batch plan bit-for-bit).
    * `qt` is the query relation (query_id, token, + any carry-through
    * columns, e.g. the stream's event time); the four corpus-side
    * relations are either computed in-plan or read from the persisted
    * index — value-identical because the store round-trips the exact
    * longs/doubles the in-plan path computes. */
  private def bm25Contrib(qt: DataFrame, tfRel: DataFrame, dfRel: DataFrame,
      dl: DataFrame, stats: DataFrame): DataFrame =
    qt.join(tfRel, "token")
      .join(broadcast(dfRel), "token")
      .join(dl, "doc_id")
      .crossJoin(broadcast(stats))
      .withColumn("c",
        (log((col("n_docs") - col("df") + 0.5) / (col("df") + 0.5) + 1.0) *
          (col("tf") * (BmK1 + 1)) /
          (col("tf") + lit(BmK1) *
            (lit(1 - BmB) + lit(BmB) * col("dl") / col("avgdl"))))
          .cast("decimal(25,15)"))

  /** Shared lexical-arm finish: exact decimal score sum per
    * (query, doc), per-query top-20 (WindowGroupLimit — each map task
    * forwards ≤20 rows per query into the exchange). */
  private def lexTop(contrib: DataFrame): DataFrame = {
    val wLex = Window.partitionBy("query_id")
      .orderBy(col("s").desc, col("doc_id"))
    contrib.groupBy("query_id", "doc_id").agg(sum("c").as("s"))
      .withColumn("lex_rank", row_number().over(wLex))
      .filter(col("lex_rank") <= 20)
      .select(col("query_id"), col("doc_id"), col("lex_rank"))
  }

  // ------------------------------------------ persisted lexical index
  /** Catalog names of the persisted search index — the lexical twin of
    * the ANN generation tables: postings (token, doc_id, tf) bucketed
    * by token so a term lookup is a bucket-pruned slice, doc lengths
    * bucketed by doc_id for the score join, the df dictionary, and the
    * 1-row corpus stats as a ModelStore table (atomic retrains). */
  private[graft] def searchIndexTables(d: String): (String, String, String, String) = {
    val h = d.hashCode & 0x7fffffff
    (s"graft_srchidx_tf_$h", s"graft_srchidx_dl_$h",
      s"graft_srchidx_df_$h", s"graft_srchidx_stats_$h")
  }

  /** Build + persist the lexical index once (memoized like the ANN
    * index builds): ONE tokenize of the corpus feeds all four tables.
    * At 100 TB the bucket count is sized to the corpus; what matters
    * structurally is that postings are bucketed on the lookup key
    * (term slices read co-located buckets, no exchange) and that a
    * process that never indexed can serve BM25 from the catalog
    * alone — the BPE/PQ/quantizer persist-serve discipline applied to
    * the retrieval tier. */
  private[graft] def searchIndexExecute(s: SparkSession, d: String): Unit =
    CachePool.memoized(s, d, "searchIndex") {
      val (tfT, dlT, dfT, statsT) = searchIndexTables(d)
      val t = tf(s, d) // pooled at the definition (round 18)
      graft.sources.BucketedStore.write(t, tfT, "token", 8)
      val dl = docLens(s, d)
      graft.sources.BucketedStore.write(dl, dlT, "doc_id", 8)
      graft.sources.BucketedStore.write(
        t.groupBy("token").agg(count(lit(1)).as("df")), dfT, "token", 8)
      graft.sources.ModelStore.write(
        dl.agg(count(lit(1)).as("n_docs"),
          (sum("dl").cast("double") / count(lit(1))).as("avgdl")), statsT)
    }

  /** BM25 contributions for an arbitrary query relation served from
    * the PERSISTED index tables only — the lexical arm of the stored
    * batch face and of the streaming face ([[bm25Contrib]]'s corpus
    * relations swapped for their catalog tables; no tokenize, no
    * training-session memo). The df slice joined to ≤|query terms|
    * rows broadcasts; a 100 TB dictionary would be served per-term
    * (bucket-pruned lookup) rather than broadcast wholesale. */
  private[graft] def lexContribStored(s: SparkSession, d: String,
      qt: DataFrame): DataFrame = {
    val (tfT, dlT, dfT, statsT) = searchIndexTables(d)
    bm25Contrib(qt,
      graft.sources.BucketedStore.read(s, tfT),
      graft.sources.BucketedStore.read(s, dfT),
      graft.sources.BucketedStore.read(s, dlT),
      graft.sources.ModelStore.read(s, statsT))
  }

  /** The query-vector relation of the batch faces (query_id, qv):
    * embedding vec_id = query_id, the ANN faces' evaluation-set
    * convention — in production this arrives with the request batch. */
  private def batchQueryVecs(s: SparkSession, d: String): DataFrame =
    SimilarityQueries.embDouble(s, d)
      .filter(col("vec_id") < QueryTerms.size)
      .select(col("vec_id").as("query_id"), col("v").as("qv"))

  /** Shared RRF fusion finish: full outer join of the two ranked arms
    * (≤ N·40 rows), NULL absent-arm ranks, per-query top-10. */
  private def rrfFuse(lex: DataFrame, vec: DataFrame): DataFrame = {
    val wFuse = Window.partitionBy("query_id")
      .orderBy(col("rrf").desc, col("doc_id"))
    lex.join(vec, Seq("query_id", "doc_id"), "full_outer")
      .select(col("query_id"), col("doc_id"),
        col("lex_rank"), col("vec_rank"),
        round(coalesce(lit(1.0) / (lit(RrfK) + col("lex_rank")), lit(0.0))
          + coalesce(lit(1.0) / (lit(RrfK) + col("vec_rank")), lit(0.0)),
          6).as("rrf"))
      .withColumn("rk", row_number().over(wFuse))
      .filter(col("rk") <= 10).drop("rk")
      .orderBy(col("query_id"), col("rrf").desc, col("doc_id"))
  }

  private val hybridRrfBatch: Q = (s, d) => {
    val e = SimilarityQueries.embDouble(s, d).select(col("vec_id"), col("v"))
    val q = batchQueryVecs(s, d)
    val wVec = Window.partitionBy("query_id")
      .orderBy(col("sim").desc, col("doc_id"))
    val vec = e.join(broadcast(q), col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("doc_id"),
        call_function("graft_cosine", col("qv"), col("v")).as("sim"))
      .withColumn("vec_rank", row_number().over(wVec))
      .filter(col("vec_rank") <= 20)
      .select(col("query_id"), col("doc_id"), col("vec_rank"))
    rrfFuse(lexArmBatch(s, d), vec)
  }

  /** The batch hybrid face SERVED from the IVF index (VERDICT r9 #6):
    * same lexical arm and fusion as [[hybridRrfBatch]], but the vector
    * arm probes the persisted bucketed cell index
    * ([[SimilarityQueries.ivfProbeRanks]] over the same query
    * relation) instead of scanning the whole corpus — at 100 TB the
    * brute arm reads every embedding per request batch, the IVF arm
    * reads nprobe/nlist of them. Exactness tradeoff is measured by
    * `search_batch_ivf_recall`. */
  private val hybridRrfBatchIvf: Q = (s, d) => {
    rrfFuse(lexArmBatch(s, d),
      SimilarityQueries.ivfProbeRanks(s, d, batchQueryVecs(s, d), 20))
  }

  /** The hybrid tier served ENTIRELY from the catalog (VERDICT r12
    * missing #3's batch half): lexical arm from the persisted index
    * tables ([[lexContribStored]] — no tokenize, no in-plan stats),
    * vector arm through the published generation pointer
    * ([[SimilarityQueries.ptrProbeRanks]] — no training memo). This is
    * the plan a serving process that neither indexed nor trained runs.
    * Oracle is [[hybridRrfBatchIvfSql]] VERBATIM: the hash match
    * proves stored-lex ≡ in-plan-lex (exact longs/doubles round-trip
    * the store; decimal accumulation is order-free) and pointer-vec ≡
    * index-vec (post-swap the published tier is the corpus under the
    * corpus-trained quantizer). */
  private val hybridRrfStored: Q = (s, d) => {
    import s.implicits._
    searchIndexExecute(s, d)
    SimilarityQueries.reclusterExecute(s, d)
    val qt = broadcast(QueryTerms.flatMap { case (q, ts) => ts.map((q, _)) }
      .toDF("query_id", "token"))
    rrfFuse(lexTop(lexContribStored(s, d, qt)),
      SimilarityQueries.ptrProbeRanks(s, d, batchQueryVecs(s, d), 20))
  }

  /** Recall@10 of the IVF-served batch face against the brute-exact
    * one — the `ann_recall_eval` harness applied end-to-end to the
    * retrieval tier: per query, how many of the exact hybrid top-10
    * the index-served top-10 kept. The pruning loss shows up here
    * (and only here — hash_match on each face alone proves engine
    * parity, not serving quality). */
  private val batchIvfRecall: Q = (s, d) => {
    import s.implicits._
    // each face output is ≤ N·10 rows but referenced twice below
    // (denominator + intersection) — cache the tiny results so the
    // two full retrieval pipelines run once each, not twice
    val brute = CachePool.cached(s, d, "hybridBruteTop")(
      hybridRrfBatch(s, d).select(col("query_id"), col("doc_id")))
    val ivf = CachePool.cached(s, d, "hybridIvfTop")(
      hybridRrfBatchIvf(s, d).select(col("query_id"), col("doc_id")))
    val nb = brute.groupBy("query_id").agg(count(lit(1)).as("n_exact"))
    val hits = brute.join(ivf, Seq("query_id", "doc_id"))
      .groupBy("query_id").agg(count(lit(1)).as("n_hits"))
    val dim = QueryTerms.map(_._1).toDF("query_id")
    dim.join(broadcast(nb), Seq("query_id"), "left")
      .join(broadcast(hits), Seq("query_id"), "left")
      .select(col("query_id"),
        coalesce(col("n_exact"), lit(0L)).as("n_exact"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"))
      // integer div (both engines floor non-negatives identically;
      // Spark's `/` on longs would promote to double)
      .withColumn("recall_permille",
        expr("n_hits * 1000 div greatest(n_exact, 1)"))
      .orderBy("query_id")
  }
  /** Shared batch-face oracle fragments: the lexical-arm chain ending
    * in `lex` — MATERIALIZED so the multi-face oracles (IVF sibling,
    * recall readout) can reference it without DuckDB re-executing the
    * whole tokenize per reference. */
  private def batchLexCtesSql: String = {
    val qtVals = QueryTerms.flatMap { case (q, ts) =>
      ts.map(t => s"($q, '$t')") }.mkString(", ")
    val allTerms = AllQTerms.map(t => s"'$t'").mkString(", ")
    s"""tf AS MATERIALIZED (
  SELECT doc_id, token, count(*) AS tf
  FROM (SELECT doc_id, unnest($ToksSql) AS token FROM documents)
  GROUP BY doc_id, token
), qt(query_id, token) AS (VALUES $qtVals),
dl AS MATERIALIZED (
  SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM tf GROUP BY doc_id),
stats AS MATERIALIZED (
  SELECT count(*) AS n_docs, CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl
  FROM dl
), dfr AS MATERIALIZED (
  SELECT token, count(*) AS df FROM tf
  WHERE token IN ($allTerms) GROUP BY token
), contrib AS MATERIALIZED (
  SELECT q.query_id, t.doc_id,
    CAST(ln((s.n_docs - f.df + 0.5) / (f.df + 0.5) + 1.0) *
      (t.tf * (${BmK1} + 1)) /
      (t.tf + ${BmK1} * (1 - ${BmB} + ${BmB} * d.dl / s.avgdl))
      AS DECIMAL(25,15)) AS c
  FROM tf t
  JOIN qt q ON t.token = q.token
  JOIN dfr f ON t.token = f.token
  JOIN dl d ON t.doc_id = d.doc_id
  CROSS JOIN stats s
), lex AS MATERIALIZED (
  SELECT query_id, doc_id, CAST(row_number() OVER (
      PARTITION BY query_id ORDER BY s DESC, doc_id) AS INT) AS lex_rank
  FROM (SELECT query_id, doc_id, sum(c) AS s FROM contrib GROUP BY 1, 2)
  QUALIFY lex_rank <= 20
)"""
  }

  /** The brute vector arm ending in `vec`. */
  private def batchVecBruteSql: String =
    s"""ev AS MATERIALIZED (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
), qv AS MATERIALIZED (
  SELECT vec_id AS query_id, v AS qv FROM ev
  WHERE vec_id < ${QueryTerms.size}
), vec AS MATERIALIZED (
  SELECT query_id, doc_id, CAST(row_number() OVER (
      PARTITION BY query_id ORDER BY sim DESC, doc_id) AS INT) AS vec_rank
  FROM (
    SELECT q.query_id, e.vec_id AS doc_id,
      list_dot_product(q.qv, e.v) / (sqrt(list_dot_product(q.qv, q.qv))
        * sqrt(list_dot_product(e.v, e.v))) AS sim
    FROM qv q JOIN ev e ON e.vec_id <> q.query_id
  )
  QUALIFY vec_rank <= 20
)"""

  /** The fused per-query top-10 over `lex` and the named vector-arm
    * CTE — shared by all three batch oracles. */
  private def fusedTopSql(vecCte: String): String =
    s"""SELECT query_id, doc_id, lex_rank, vec_rank, rrf
FROM (
  SELECT COALESCE(l.query_id, v.query_id) AS query_id,
    COALESCE(l.doc_id, v.doc_id) AS doc_id,
    l.lex_rank, v.vec_rank,
    round(COALESCE(1.0 / ($RrfK + l.lex_rank), 0)
      + COALESCE(1.0 / ($RrfK + v.vec_rank), 0), 6) AS rrf
  FROM lex l FULL OUTER JOIN $vecCte v
    ON v.query_id = l.query_id AND v.doc_id = l.doc_id
)
QUALIFY row_number() OVER (PARTITION BY query_id
  ORDER BY rrf DESC, doc_id) <= 10
ORDER BY query_id, rrf DESC, doc_id"""

  private val hybridRrfBatchSql =
    s"""WITH $batchLexCtesSql, $batchVecBruteSql
${fusedTopSql("vec")}"""

  private val hybridRrfBatchIvfSql =
    s"""WITH $batchLexCtesSql,
${SimilarityQueries.ivfProbeChainSql(QueryTerms.size, 20)}
${fusedTopSql("ivfvec")}"""

  private val batchIvfRecallSql = {
    val qdim = QueryTerms.map { case (q, _) => s"($q)" }.mkString(", ")
    s"""WITH $batchLexCtesSql, $batchVecBruteSql,
${SimilarityQueries.ivfProbeChainSql(QueryTerms.size, 20)},
bfused AS MATERIALIZED (
${fusedTopSql("vec")}
), ifused AS MATERIALIZED (
${fusedTopSql("ivfvec")}
), nb AS (
  SELECT query_id, count(*) AS n_exact FROM bfused GROUP BY query_id
), hits AS (
  SELECT b.query_id, count(*) AS n_hits
  FROM bfused b JOIN ifused i USING (query_id, doc_id)
  GROUP BY b.query_id
), qdim(query_id) AS (VALUES $qdim)
SELECT qdim.query_id,
  CAST(COALESCE(n_exact, 0) AS BIGINT) AS n_exact,
  CAST(COALESCE(n_hits, 0) AS BIGINT) AS n_hits,
  CAST(COALESCE(n_hits, 0) * 1000 // greatest(COALESCE(n_exact, 0), 1)
    AS BIGINT) AS recall_permille
FROM qdim LEFT JOIN nb USING (query_id) LEFT JOIN hits USING (query_id)
ORDER BY query_id"""
  }

  val queries: Map[String, Q] = Map(
    "text_inverted_index" -> invertedIndex,
    "text_keyword_search" -> keywordSearch,
    "text_bm25_topk" -> bm25,
    "search_hybrid_rrf" -> hybridRrf,
    "search_hybrid_rrf_batch" -> hybridRrfBatch,
    "search_hybrid_rrf_batch_ivf" -> hybridRrfBatchIvf,
    "search_hybrid_stored" -> hybridRrfStored,
    "search_batch_ivf_recall" -> batchIvfRecall,
    "search_prf_expanded" -> prfSearch,
    "search_hybrid_rrf_prf" -> hybridRrfPrf,
    "dedup_edit_distance" -> editDistance)
  val oracle: Map[String, String] = Map(
    "text_inverted_index" -> invertedIndexSql,
    "text_keyword_search" -> keywordSearchSql,
    "text_bm25_topk" -> bm25Sql,
    "search_hybrid_rrf" -> hybridRrfSql,
    "search_hybrid_rrf_batch" -> hybridRrfBatchSql,
    "search_hybrid_rrf_batch_ivf" -> hybridRrfBatchIvfSql,
    // catalog-served tier ≡ the in-plan IVF-armed tier — oracle verbatim
    "search_hybrid_stored" -> hybridRrfBatchIvfSql,
    "search_batch_ivf_recall" -> batchIvfRecallSql,
    "search_prf_expanded" -> prfSearchSql,
    "search_hybrid_rrf_prf" -> hybridRrfPrfSql,
    "dedup_edit_distance" -> editDistanceSql)
}
