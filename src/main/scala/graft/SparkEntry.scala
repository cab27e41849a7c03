package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{Catalog, ForeignKey, TableGraph}
import graft.operators.{Bpe, Chunk, Closure, Dedup, Dsir, FingerprintStore, IngestGate, MinHashStore, Multimodal, QualityLr, SimHashStore, Similarity, Temporal, TextAnalysis, VectorIndexStore}
import graft.sources.{Dump, DumpSpec}

/** The flagship [[entry]] (SURVEY.md §7) and the query registry: [[entries]]
  * holds one [[Entry]] per operator, its oracle beside its Spark build. */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("related_closure")(spark, "/root/testdata/sf0.001")

  private def cat(s: SparkSession, dir: String): Catalog = Catalog.tpch(s, dir)

  /** The index-BUILD half of `chunk_index_search` and
    * `hybrid_chunk_search`, split out so Bench/ScaleCheck can time build
    * and serve separately (the r18 watch item: the combined entry's bench
    * number reads "slow" while the serving claim it makes is about the
    * serve half alone). Each entry composes this build with its own serve
    * half, so the oracle surface is unchanged.
    * centEvery = 163 (prime): 10^6 ≡ 158 (mod 163), so packed chunk ids
    * scatter across the sampling rule instead of aliasing chunk_id as a
    * 10^6-divisor would.
    */
  private[graft] def chunkIndexBuild(s: SparkSession, dir: String): String = {
    val docs = cat(s, dir).table("documents")
    val store = Harness.tempStore("graft-cixstore")
    VectorIndexStore.save(Similarity.chunkEmbed(docs, dim = 16), store,
      m = 8, k = 16, centEvery = 163)
    store
  }

  /** The SERVE half of `chunk_index_search`: external chunk queries
    * against the persisted codebooks + postings — zero corpus jobs
    * beyond embedding the query batch itself.
    */
  private[graft] def chunkIndexServe(
      s: SparkSession, dir: String, store: String): DataFrame = {
    val docs = cat(s, dir).table("documents")
    val m = 1000000L
    VectorIndexStore.search(
        Similarity.chunkEmbed(docs.where(col("doc_id") % 50 === 0), dim = 16),
        store, kNN = 5, nprobe = 2)
      .select(
        expr(s"CAST(query_id DIV $m AS BIGINT)").as("doc_id"),
        (col("query_id") % m).as("chunk_id"),
        expr(s"CAST(neighbor_id DIV $m AS BIGINT)").as("n_doc_id"),
        (col("neighbor_id") % m).as("n_chunk_id"),
        col("rank"), col("approx_dist2"))
      .orderBy("doc_id", "chunk_id", "rank")
  }

  /** The SERVE half of `hybrid_chunk_search`: lexical BM25 over the
    * chunked corpus fused (RRF) with an IVFPQ search of the persisted
    * store. The lexical half is the corpus-pass form by design — its
    * index-served sibling is `bm25_index_search`.
    */
  private[graft] def hybridChunkServe(
      s: SparkSession, dir: String, store: String): DataFrame = {
    val docs = cat(s, dir).table("documents")
    val m = 1000000L
    val chunkCorpus = graft.operators.Chunk.docChunk(docs)
      .select((col("doc_id") * m + col("chunk_id")).as("doc_id"),
        col("chunk_text").as("text"))
    val lex = TextAnalysis.bm25TopK(chunkCorpus,
        Seq("dup", "row", "vector"), k = 50)
      .select(col("doc_id"), col("rank"))
    val vec = VectorIndexStore.search(
        Similarity.chunkEmbed(docs.where(col("doc_id") === 42), dim = 16)
          .where(col("vec_id") === 42L * m),
        store, kNN = 50, nprobe = 2)
      .select(col("neighbor_id").as("doc_id"), col("rank"))
    Similarity.rrfFuse(Seq(lex, vec), k = 20)
      .select(expr(s"CAST(doc_id DIV $m AS BIGINT)").as("doc_id"),
        (col("doc_id") % m).as("chunk_id"),
        col("rank"), col("rrf_score"), col("n_systems"))
      .orderBy("rank")
  }

  /** The bm25_batch query set — shared by the Spark entry and its
    * generated oracle SQL so both replay the identical batch: 'dup' is
    * the corpus's rare term, 'row'/'vector' the ~19%-df commons, and
    * query 4's term misses the corpus entirely (the zero-match drop
    * witness). Term order inside a query is the score's summation order
    * on both engines.
    */
  private[graft] val Bm25BatchQueries: Seq[(Long, Seq[String])] = Seq(
    (1L, Seq("dup", "row")),
    (2L, Seq("vector")),
    (3L, Seq("row", "vector", "dup")),
    (4L, Seq("zzznotaterm")))

  /** DuckDB mirror of `Similarity.docEmbed(dim = 16)` over an arbitrary
    * `(doc_id, text)` source CTE/table, as a shared CTE chain ending in
    * `de(vec_id, bucket, v)` — dense 16-bucket signed counts for every
    * row with a non-zero vector. [[DocEmbedSql]] instantiates it on
    * `documents` (doc_embed / doc_knn / semantic_groups oracles);
    * chunk_knn substitutes its chunk stream.
    */
  private def docEmbedSqlOn(src: String): String =
    s"""tk AS (SELECT doc_id,
         unnest(list_filter(string_split_regex(lower(text), '\\s+'), x -> len(x) > 0)) AS tok
       FROM $src),""" +
    """
       hh AS (SELECT doc_id, CAST('0x' || substr(md5(tok), 1, 15) AS BIGINT) AS h FROM tk),
       sg AS (SELECT doc_id, h % 16 AS bucket,
         CASE WHEN h % 32 >= 16 THEN 1 ELSE -1 END AS sign FROM hh),
       g AS (SELECT doc_id, bucket, sum(sign) AS v FROM sg GROUP BY 1, 2),
       dd AS (SELECT DISTINCT doc_id FROM g),
       ks AS (SELECT unnest(range(0, 16)) AS bucket),
       fullv AS (SELECT dd.doc_id, ks.bucket, COALESCE(g.v, 0) AS v
         FROM dd CROSS JOIN ks
         LEFT JOIN g ON g.doc_id = dd.doc_id AND g.bucket = ks.bucket),
       nz AS (SELECT doc_id FROM fullv GROUP BY doc_id
         HAVING sum(CASE WHEN v != 0 THEN 1 ELSE 0 END) > 0),
       de AS (SELECT fullv.doc_id AS vec_id, fullv.bucket, fullv.v
         FROM fullv JOIN nz USING (doc_id))"""

  private val DocEmbedSql: String = docEmbedSqlOn("documents")

  /** DuckDB mirror of [[graft.operators.TextAnalysis.bm25TopKBatch]] over
    * `corpus(doc_id, text)`, generated from the SAME query set the Spark
    * entry runs so both engines replay the identical batch: per-term tf
    * columns over the batch's sorted term union, one stats row, per-query
    * scores summed in each query's term order (the determinism contract),
    * per-query rank ≤ k.
    */
  private def bm25BatchSql(
      corpus: String, queries: Seq[(Long, Seq[String])], k: Int): String = {
    val terms = queries.flatMap(_._2.map(_.toLowerCase).distinct)
      .distinct.sorted
    val ti = terms.zipWithIndex.toMap
    // terms land inside SQL string literals — double any quote so a term
    // like "o'brien" can't break (or inject into) the generated oracle
    def sqlLit(t: String): String = "'" + t.replace("'", "''") + "'"
    val tfCols = terms.zipWithIndex.map { case (t, i) =>
      s"CAST(len(list_filter(toks, x -> x = ${sqlLit(t)})) AS BIGINT) AS tf$i" }
    val dfCols = terms.indices.map(i =>
      s"sum(CASE WHEN tf$i > 0 THEN 1 ELSE 0 END) AS df$i")
    def contrib(i: Int): String =
      s"ln(1.0 + (CAST(n AS DOUBLE) - CAST(df$i AS DOUBLE) + 0.5) / " +
        s"(CAST(df$i AS DOUBLE) + 0.5)) * (CAST(tf$i AS DOUBLE) * (1.2 + 1.0)) / " +
        s"(CAST(tf$i AS DOUBLE) + 1.2 * (1.0 - 0.75 + 0.75 * " +
        "CAST(dl AS DOUBLE) / (CAST(sdl AS DOUBLE) / CAST(n AS DOUBLE))))"
    val scs = queries.map { case (qid, ts0) =>
      val ts = ts0.map(_.toLowerCase).distinct
      s"SELECT doc_id, CAST($qid AS BIGINT) AS query_id, " +
        s"round(${ts.map(t => contrib(ti(t))).mkString("\n           + ")}, 4) " +
        "AS score FROM btf CROSS JOIN bst"
    }.mkString("\n         UNION ALL\n         ")
    s"""btk AS (SELECT doc_id,
           list_filter(string_split_regex(lower(text), '\\s+'), x -> len(x) > 0) AS toks
         FROM $corpus),
         btf AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl,
           ${tfCols.mkString(",\n           ")}
         FROM btk),
         bst AS (SELECT count(*) AS n, sum(dl) AS sdl,
           ${dfCols.mkString(",\n           ")}
         FROM btf),
         bsc AS ($scs),
         bqt AS (SELECT query_id, doc_id, rank, score FROM (
           SELECT query_id, doc_id,
             CAST(row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id) AS BIGINT) AS rank,
             score
           FROM bsc WHERE score > 0) t
         WHERE rank <= $k)"""
  }

  /** DuckDB mirror of `Bpe.bpeApply(BpeDemoMerges)`'s padded-string
    * pipeline as a shared CTE chain ending in `bm(doc_id, repr)` —
    * substituted into the bpe_tokenize and bpe_pack oracles.
    */
  private val BpeApplySql: String =
    """bt AS (SELECT doc_id,
         list_filter(string_split_regex(lower(text), '\s+'), x -> len(x) > 0) AS toks
       FROM documents),
       br AS (SELECT doc_id,
         array_to_string(list_transform(toks, w ->
           regexp_replace(substr(w, 1, len(w) - 1), '(.)', ' \1 ', 'g')
             || ' ' || substr(w, len(w), 1) || '</w> '), '') AS repr
       FROM bt),
       bm AS (SELECT doc_id,
         replace(replace(replace(replace(replace(replace(replace(replace(repr,
           ' t  h ', ' th '),
           ' th  e</w> ', ' the</w> '),
           ' a  l ', ' al '),
           ' u  e</w> ', ' ue</w> '),
           ' r  o ', ' ro '),
           ' ro  w</w> ', ' row</w> '),
           ' k  e ', ' ke '),
           ' ke  y</w> ', ' key</w> ') AS repr
       FROM br)"""

  /** Fixed demo merge table for `bpe_tokenize` — a pretrained-style
    * artifact chosen to fire on the synthetic corpus's frequent words
    * (the/value/row/key); the oracle replays it as nested replace()
    * calls in the same rank order.
    */
  private[graft] val BpeDemoMerges: Seq[(String, String)] = Seq(
    ("t", "h"), ("th", "e</w>"), ("a", "l"), ("u", "e</w>"),
    ("r", "o"), ("ro", "w</w>"), ("k", "e"), ("ke", "y</w>"))

  /** Structured multi-line page batch for the C4 filter demos: the
    * synthetic corpus has no newlines or punctuation, so (pii_scrub-style)
    * the demo derives a deterministic page per document whose lines
    * exercise every C4 rule — a kept lead line, a too-short line, a
    * length-gated middle line (short docs drop below the 3-sentence page
    * minimum), a no-terminal-punctuation line, and per-id-modulus
    * javascript / brace / lorem-ipsum injections. Mirrored verbatim in
    * the DuckDB oracle CTE.
    */
  private def c4Batch(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), concat(
      substring(col("text"), 1, 60), lit(".\n"),
      lit("too short.\n"),
      when(length(col("text")) >= 150,
        concat(substring(col("text"), 30, 60), lit(" middle of the page body.\n")))
        .otherwise(lit("")),
      substring(col("text"), 1, 45), lit(" trailing line without terminal punct\n"),
      when(col("doc_id") % 7 === 0,
        lit("please enable javascript to view this site.\n")).otherwise(lit("")),
      when(col("doc_id") % 13 === 0,
        lit("function f() { return 1; }\n")).otherwise(lit("")),
      when(col("doc_id") % 17 === 0,
        lit("lorem ipsum dolor sit amet consectetur elit.\n")).otherwise(lit("")),
      substring(col("text"), 10, 70), lit(" and the final closing sentence ends cleanly.")
    ).as("text"))

  /** Line-structured demo batch with WITHIN-doc repeated lines (the
    * boilerplate chrome `stripRepeatedLines` removes): a header line
    * recurring three times per doc, a doc_id-strided doubled footer, and
    * one blank structural line that must survive.
    */
  private def repBatch(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), concat(
      lit("site header menu\n"),
      substring(col("text"), 1, 60), lit("\n"),
      lit("\n"),
      lit("site header menu\n"),
      substring(col("text"), 30, 60), lit("\n"),
      when(col("doc_id") % 5 === 0,
        lit("subscribe to our newsletter\nsubscribe to our newsletter\n"))
        .otherwise(lit("")),
      lit("site header menu")
    ).as("text"))

  /** DuckDB mirror of [[repBatch]] — the `b` CTE of the
    * strip_repeat_lines oracle. */
  private val RepBatchSql: String =
    """SELECT doc_id,
      'site header menu' || chr(10) ||
      substr(text, 1, 60) || chr(10) ||
      chr(10) ||
      'site header menu' || chr(10) ||
      substr(text, 30, 60) || chr(10) ||
      CASE WHEN doc_id % 5 = 0
        THEN 'subscribe to our newsletter' || chr(10) || 'subscribe to our newsletter' || chr(10)
        ELSE '' END ||
      'site header menu' AS text
    FROM documents"""

  /** DuckDB mirror of [[c4Batch]] — substituted as the `b` CTE of both C4
    * oracles so the demo construction lives in exactly two places that sit
    * side by side.
    */
  private val C4BatchSql: String =
    """SELECT doc_id,
      substr(text, 1, 60) || '.' || chr(10) ||
      'too short.' || chr(10) ||
      CASE WHEN len(text) >= 150 THEN substr(text, 30, 60) || ' middle of the page body.' || chr(10) ELSE '' END ||
      substr(text, 1, 45) || ' trailing line without terminal punct' || chr(10) ||
      CASE WHEN doc_id % 7 = 0 THEN 'please enable javascript to view this site.' || chr(10) ELSE '' END ||
      CASE WHEN doc_id % 13 = 0 THEN 'function f() { return 1; }' || chr(10) ELSE '' END ||
      CASE WHEN doc_id % 17 = 0 THEN 'lorem ipsum dolor sit amet consectetur elit.' || chr(10) ELSE '' END ||
      substr(text, 10, 70) || ' and the final closing sentence ends cleanly.' AS text
    FROM documents"""

  /** DuckDB mirror of [[Dsir.dsirWeights]] on (raw = documents, target =
    * en slice, buckets = 1024) — the shared `w` CTE chain of both DSIR
    * oracles: hashed unigram+bigram occurrences, smoothed bucket log-ratio
    * over the all-buckets spine, per-doc decimal-summed importance weight.
    */
  private val DsirWeightsSql: String =
    """tk AS (SELECT doc_id, lang,
         list_filter(string_split_regex(lower(text), '\s+'), x -> len(x) > 0) AS toks
       FROM documents),
       feats AS (SELECT doc_id, lang,
         unnest(toks || CASE WHEN len(toks) >= 2
           THEN [toks[i] || ' ' || toks[i+1] FOR i IN range(1, len(toks))]
           ELSE [] END) AS feat
       FROM tk),
       fb AS (SELECT doc_id, lang,
         CAST('0x' || substr(md5(feat), 1, 15) AS BIGINT) % 1024 AS bucket
       FROM feats),
       hr AS (SELECT bucket, count(*) AS cnt_raw FROM fb GROUP BY bucket),
       ht AS (SELECT bucket, count(*) AS cnt_tgt FROM fb WHERE lang = 'en' GROUP BY bucket),
       tot AS (SELECT count(*) AS tot_raw,
         sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS tot_tgt FROM fb),
       lr AS (SELECT r.range AS bucket,
         CAST(round(ln((COALESCE(ht.cnt_tgt, 0) + 1.0) / (tot.tot_tgt + 1024))
                  - ln((COALESCE(hr.cnt_raw, 0) + 1.0) / (tot.tot_raw + 1024)), 6)
              AS DECIMAL(18,6)) AS log_ratio
       FROM range(1024) r
       LEFT JOIN hr ON hr.bucket = r.range
       LEFT JOIN ht ON ht.bucket = r.range
       CROSS JOIN tot),
       w AS (SELECT fb.doc_id, count(*) AS n_features,
         CAST(round(sum(lr.log_ratio), 4) AS DOUBLE) AS dsir_logw
       FROM fb JOIN lr USING (bucket) GROUP BY fb.doc_id)"""

  /** DuckDB mirror of [[TextAnalysis.mixPlan]] (budget 20000 tokens,
    * shares en 500 / de 250 / fr 150 / es 100 permille; zh unlisted →
    * share 0): per-stratum targets are exact Scala-side integer literals
    * (budget·share/1000), the keep rate is integer ceil-division with
    * the 1000 clamp. At sf0.01 the de stratum's target exceeds supply,
    * so the clamp/infeasible path is live at the driver's gate.
    */
  private val MixPlanSql: String =
    """avail AS (SELECT lang, count(*) AS n_docs,
         CAST(sum(len(list_filter(string_split_regex(lower(text), '\s+'), x -> len(x) > 0))) AS BIGINT) AS avail_tokens
       FROM documents GROUP BY lang),
       plan AS (SELECT lang, n_docs, avail_tokens,
         CASE lang WHEN 'de' THEN 250 WHEN 'en' THEN 500
                   WHEN 'es' THEN 100 WHEN 'fr' THEN 150 ELSE 0 END AS share_permille,
         CAST(CASE lang WHEN 'de' THEN 5000 WHEN 'en' THEN 10000
                   WHEN 'es' THEN 2000 WHEN 'fr' THEN 3000 ELSE 0 END AS BIGINT) AS target_tokens,
         CAST(CASE WHEN (CASE lang WHEN 'de' THEN 5000 WHEN 'en' THEN 10000
                   WHEN 'es' THEN 2000 WHEN 'fr' THEN 3000 ELSE 0 END)
                >= avail_tokens THEN 1000
           ELSE ((CASE lang WHEN 'de' THEN 5000 WHEN 'en' THEN 10000
                   WHEN 'es' THEN 2000 WHEN 'fr' THEN 3000 ELSE 0 END) * 1000
                 + avail_tokens - 1) // avail_tokens END AS BIGINT) AS keep_permille,
         (CASE lang WHEN 'de' THEN 5000 WHEN 'en' THEN 10000
                   WHEN 'es' THEN 2000 WHEN 'fr' THEN 3000 ELSE 0 END)
           <= avail_tokens AS feasible
       FROM avail)"""

  /** DuckDB mirror of [[TextAnalysis.perplexityBuckets]] (exact LM,
    * terciles 333/667): unigram_lm scoring with lang carried, bounded
    * score histogram, integer-rank tercile cuts per language, band tag.
    * Shared tail CTE `pb` for the buckets + keep oracles.
    */
  private val PerplexityBucketsSql: String =
    """tk AS (SELECT doc_id, lang,
         unnest(list_filter(string_split_regex(lower(text), '\s+'), x -> len(x) > 0)) AS tok
       FROM documents),
       f AS (SELECT tok, count(*) AS tf FROM tk GROUP BY tok),
       tot AS (SELECT count(*) AS total FROM tk),
       s AS (SELECT tk.doc_id, tk.lang,
         CAST(round(ln(CAST(f.tf AS DOUBLE) / tot.total), 6) AS DECIMAL(18,6)) AS lp
       FROM tk JOIN f USING (tok) CROSS JOIN tot),
       sc AS (SELECT doc_id, lang, count(*) AS n_tokens,
         round(-CAST(sum(lp) AS DOUBLE) / count(*), 4) AS avg_neg_logprob
       FROM s GROUP BY doc_id, lang),
       hist AS (SELECT lang, avg_neg_logprob AS b, count(*) AS c
       FROM sc GROUP BY 1, 2),
       cum AS (SELECT lang, b, sum(c) OVER (PARTITION BY lang ORDER BY b) AS cum,
         sum(c) OVER (PARTITION BY lang) AS n FROM hist),
       th AS (SELECT lang,
         min(CASE WHEN cum >= greatest((n * 333 + 999) // 1000, 1) THEN b END) AS t_head,
         min(CASE WHEN cum >= greatest((n * 667 + 999) // 1000, 1) THEN b END) AS t_mid
       FROM cum GROUP BY lang),
       pb AS (SELECT sc.doc_id, sc.lang, sc.n_tokens, sc.avg_neg_logprob,
         CASE WHEN avg_neg_logprob <= t_head THEN 'head'
              WHEN avg_neg_logprob <= t_mid THEN 'middle'
              ELSE 'tail' END AS ppl_band
       FROM sc JOIN th USING (lang))"""

  /** DuckDB mirror of [[QualityLr.qualityLr]] (iters = 3, lr = 1.0):
    * feature CTE, then one (i_k, w_k) CTE pair per unrolled GD step —
    * identical decimal-rounded gradient arithmetic to the Spark plan.
    * `trainWhere` restricts the GD corpus and `scoreWhere` the scored
    * rows (both over `f`) — quality_lr uses TRUE/TRUE (train = score =
    * whole corpus), quality_lr_apply the even/odd ingest split.
    */
  private def qualityLrSqlOn(trainWhere: String, scoreWhere: String): String = {
    val stop = "['the','a','an','and','of','to','in','is','it','that']"
    def step(i: Int, prev: String): String =
      s"""i$i AS (SELECT
         sum(CAST(round((1/(1+exp(-(w0 + w1*x1 + w2*x2 + w3*x3))) - y), 6) AS DECIMAL(18,6))) AS g0,
         sum(CAST(round((1/(1+exp(-(w0 + w1*x1 + w2*x2 + w3*x3))) - y) * x1, 6) AS DECIMAL(18,6))) AS g1,
         sum(CAST(round((1/(1+exp(-(w0 + w1*x1 + w2*x2 + w3*x3))) - y) * x2, 6) AS DECIMAL(18,6))) AS g2,
         sum(CAST(round((1/(1+exp(-(w0 + w1*x1 + w2*x2 + w3*x3))) - y) * x3, 6) AS DECIMAL(18,6))) AS g3,
         count(*) AS n, min(w0) AS pw0, min(w1) AS pw1, min(w2) AS pw2, min(w3) AS pw3
       FROM ftr CROSS JOIN $prev),
       w$i AS (SELECT
         round(pw0 - 1.0*(CAST(g0 AS DOUBLE)/n), 6) AS w0,
         round(pw1 - 1.0*(CAST(g1 AS DOUBLE)/n), 6) AS w1,
         round(pw2 - 1.0*(CAST(g2 AS DOUBLE)/n), 6) AS w2,
         round(pw3 - 1.0*(CAST(g3 AS DOUBLE)/n), 6) AS w3
       FROM i$i)"""
    val chain = (1 to 3)
      .map(i => step(i, if (i == 1) "w0cte" else s"w${i - 1}")).mkString(",\n       ")
    s"""t AS (SELECT doc_id, text,
         list_filter(string_split_regex(lower(text), '\\s+'), x -> len(x) > 0) AS toks
       FROM documents),
       t2 AS (SELECT *, CAST(greatest(len(toks), 1) AS BIGINT) AS n_tok FROM t),
       f AS (SELECT doc_id,
         CAST(len(toks) >= 5 AND len(text) >= 40 AND
              len(list_filter(toks, x -> list_contains($stop, x))) > 0 AS DOUBLE) AS y,
         round(CAST(len(list_filter(toks, x -> list_contains($stop, x))) AS DOUBLE) / n_tok, 4) AS x1,
         round(CAST(least(len(text), 400) AS DOUBLE) / 400, 4) AS x2,
         round(CAST(len(text) AS DOUBLE) / n_tok / 10.0, 4) AS x3
       FROM t2),
       ftr AS (SELECT * FROM f WHERE $trainWhere),
       w0cte AS (SELECT 0.0 AS w0, 0.0 AS w1, 0.0 AS w2, 0.0 AS w3),
       $chain,
       s AS (SELECT doc_id, CAST(y AS BIGINT) AS label, x1, x2, x3,
         round(1/(1+exp(-(w0 + w1*x1 + w2*x2 + w3*x3))), 4) AS lr_score
       FROM f CROSS JOIN w3 WHERE $scoreWhere)"""
  }

  private val QualityLrSql: String = qualityLrSqlOn("TRUE", "TRUE")

  /** DuckDB mirror of [[TextAnalysis.bigramLm]] at a given `minCount`. */
  private def BigramLmSql(minCount: Long): String = {
    val having = if (minCount > 0) s"HAVING count(*) >= $minCount" else ""
    s"""WITH t AS (SELECT doc_id,
         list_filter(string_split_regex(lower(text), '\\s+'), x -> len(x) > 0) AS toks
       FROM documents),
       r AS (SELECT doc_id, unnest(range(1, len(toks)+1)) AS pos1, unnest(toks) AS cur, toks
       FROM t),
       r2 AS (SELECT doc_id, pos1, cur,
         CASE WHEN pos1 > 1 THEN toks[pos1-1] END AS prev FROM r),
       cw AS (SELECT cur AS w, count(*) AS cw FROM r2 GROUP BY 1),
       vt AS (SELECT count(*) AS v, CAST(sum(cw) AS BIGINT) AS t FROM cw),
       cb AS (SELECT prev, cur, count(*) AS cb FROM r2 WHERE pos1 > 1 GROUP BY 1, 2 $having),
       s0 AS (SELECT r2.doc_id,
           CAST(round(ln(CAST(cw.cw + 1 AS DOUBLE) / (vt.t + vt.v)), 6) AS DECIMAL(18,6)) AS lp,
           0 AS pruned
         FROM r2 JOIN cw ON r2.cur = cw.w CROSS JOIN vt WHERE pos1 = 1),
       s1 AS (SELECT r2.doc_id,
           CAST(round(ln(CAST(COALESCE(cb.cb, 0) + 1 AS DOUBLE) / (pw.cw + vt.v)), 6) AS DECIMAL(18,6)) AS lp,
           CASE WHEN cb.cb IS NULL THEN 1 ELSE 0 END AS pruned
         FROM r2 JOIN cw pw ON r2.prev = pw.w
         LEFT JOIN cb ON r2.prev = cb.prev AND r2.cur = cb.cur
         CROSS JOIN vt WHERE pos1 > 1),
       u AS (SELECT * FROM s0 UNION ALL SELECT * FROM s1)
       SELECT doc_id, count(*) AS n_tokens,
         round(-CAST(sum(lp) AS DOUBLE) / count(*), 4) AS avg_neg_logprob,
         round(CAST(sum(pruned) AS DOUBLE) / count(*), 4) AS pruned_ratio
       FROM u GROUP BY doc_id ORDER BY doc_id"""
  }

  /** How a registry query is checked by `scripts/check.py`. */
  sealed trait Oracle
  /** DuckDB SQL over the same parquet tables that must reproduce the
    * query's rows exactly. */
  final case class Sql(text: String) extends Oracle
  /** No SQL replay exists; `scripts/check.py` makes a rows-only check and
    * `reason` says why. */
  final case class Exempt(reason: String) extends Oracle

  /** One registry query: its name, its Spark build over an sf dir and its
    * oracle. */
  final case class Entry(
      name: String, build: (SparkSession, String) => DataFrame, oracle: Oracle)

  /** One entry per implemented operator from SURVEY.md §2. */
  val entries: Seq[Entry] = Seq(
    // ── xdump core: full / partial / related-data closure ────────────────
    Entry("full_table", (s, dir) => cat(s, dir).table("region").orderBy("r_regionkey"),
      Sql("SELECT * FROM region ORDER BY r_regionkey")),

    Entry("partial_table", { (s, dir) =>
      cat(s, dir).table("orders")
        .where(col("o_totalprice") > 450000)
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
          col("o_totalprice"), to_date(col("o_orderdate")).as("o_orderdate"),
          col("o_orderpriority"))
        .orderBy("o_orderkey")
    }, Sql(
      """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
         CAST(o_orderdate AS DATE) AS o_orderdate, o_orderpriority
         FROM orders WHERE o_totalprice > 450000 ORDER BY o_orderkey""")),

    Entry("related_1hop", { (s, dir) =>
      val c = cat(s, dir)
      val partialOrders = c.table("orders").where(col("o_totalprice") > 450000)
      Closure.pull(c.table("customer"), partialOrders,
          ForeignKey("orders", "o_custkey", "customer", "c_custkey"))
        .orderBy("c_custkey")
    }, Sql(
      """SELECT * FROM customer
         WHERE c_custkey IN (SELECT o_custkey FROM orders WHERE o_totalprice > 450000)
         ORDER BY c_custkey""")),

    Entry("related_closure", { (s, dir) =>
      val c = cat(s, dir)
      val seed = c.table("lineitem")
        .where(col("l_quantity") === 50 && col("l_orderkey") % 97 === 0)
      Closure.relatedData(c, partial = Map("lineitem" -> seed))("nation")
        .orderBy("n_nationkey")
    }, Sql(
      """WITH seed AS (SELECT * FROM lineitem WHERE l_quantity = 50 AND l_orderkey % 97 = 0)
         SELECT * FROM nation WHERE n_nationkey IN (
           SELECT c_nationkey FROM customer WHERE c_custkey IN (
             SELECT o_custkey FROM orders WHERE o_orderkey IN (SELECT l_orderkey FROM seed)))
         UNION
         SELECT * FROM nation WHERE n_nationkey IN (
           SELECT s_nationkey FROM supplier WHERE s_suppkey IN (SELECT l_suppkey FROM seed))
         ORDER BY n_nationkey""")),

    Entry("related_union", { (s, dir) =>
      val c = cat(s, dir)
      val seeds = Map(
        "orders" -> c.table("orders").where(col("o_totalprice") > 490000),
        "events" -> c.table("events").where(col("value") > 480))
      Closure.relatedData(c, partial = seeds)("customer").orderBy("c_custkey")
    }, Sql(
      """SELECT * FROM customer
         WHERE c_custkey IN (SELECT o_custkey FROM orders WHERE o_totalprice > 490000)
         UNION
         SELECT * FROM customer
         WHERE c_custkey IN (SELECT user_id FROM events WHERE value > 480)
         ORDER BY c_custkey""")),

    Entry("recursive_closure", { (s, dir) =>
      val c = cat(s, dir)
      // Synthetic manager hierarchy: manager(c) = floor(c_custkey / 2) — a
      // binary tree, the offline stand-in for an employees.manager_id self-FK.
      val base = c.table("customer")
        .withColumn("c_mgrkey", floor(col("c_custkey") / 2).cast("long"))
      val seed = base.where(col("c_acctbal") > 9900)
      Closure.recursiveClosure(base, seed,
          ForeignKey("customer", "c_mgrkey", "customer", "c_custkey"),
          primaryKey = Seq("c_custkey"))
        .orderBy("c_custkey")
    }, Sql(
      """WITH RECURSIVE base AS (
           SELECT *, CAST(FLOOR(c_custkey / 2) AS BIGINT) AS c_mgrkey FROM customer
         ), cte AS (
           SELECT * FROM base WHERE c_acctbal > 9900
           UNION
           SELECT B.* FROM base B JOIN cte ON B.c_custkey = cte.c_mgrkey
         )
         SELECT * FROM cte ORDER BY c_custkey""")),

    // ── xdump metadata surface: load order / sequences / schema ──────────
    Entry("topo_order", { (s, dir) =>
      val c = cat(s, dir)
      val levels = TableGraph.loadLevels(c.tables, c.foreignKeys).toSeq
      s.createDataFrame(levels).toDF("table_name", "lvl").orderBy("table_name")
    }, Sql(
      """SELECT * FROM (VALUES
           ('customer', 2), ('documents', 0), ('embeddings', 0), ('events', 3),
           ('lineitem', 4), ('nation', 1), ('orders', 3), ('part', 0),
           ('region', 0), ('supplier', 2)) AS t(table_name, lvl)
         ORDER BY table_name""")),

    Entry("sequences", { (s, dir) =>
      val c = cat(s, dir)
      c.tables.map { t =>
        c.table(t).agg(
          lit(t).as("table_name"),
          max(col(c.primaryKey(t).head)).cast("long").as("seq_value"))
      }.reduce(_ unionByName _).orderBy("table_name")
    }, Sql(
      """SELECT 'customer' AS table_name, CAST(max(c_custkey) AS BIGINT) AS seq_value FROM customer
         UNION ALL SELECT 'documents', CAST(max(doc_id) AS BIGINT) FROM documents
         UNION ALL SELECT 'embeddings', CAST(max(vec_id) AS BIGINT) FROM embeddings
         UNION ALL SELECT 'events', CAST(max(event_id) AS BIGINT) FROM events
         UNION ALL SELECT 'lineitem', CAST(max(l_orderkey) AS BIGINT) FROM lineitem
         UNION ALL SELECT 'nation', CAST(max(n_nationkey) AS BIGINT) FROM nation
         UNION ALL SELECT 'orders', CAST(max(o_orderkey) AS BIGINT) FROM orders
         UNION ALL SELECT 'part', CAST(max(p_partkey) AS BIGINT) FROM part
         UNION ALL SELECT 'region', CAST(max(r_regionkey) AS BIGINT) FROM region
         UNION ALL SELECT 'supplier', CAST(max(s_suppkey) AS BIGINT) FROM supplier
         ORDER BY table_name""")),

    Entry("schema_dump", { (s, dir) =>
      val c = cat(s, dir)
      val rows = c.tables.flatMap(t => c.table(t).schema.fieldNames.map(f => (t, f)))
      s.createDataFrame(rows).toDF("table_name", "column_name")
        .orderBy("table_name", "column_name")
    }, Sql(
      """SELECT 'customer' AS table_name, column_name FROM (DESCRIBE customer)
         UNION ALL SELECT 'documents', column_name FROM (DESCRIBE documents)
         UNION ALL SELECT 'embeddings', column_name FROM (DESCRIBE embeddings)
         UNION ALL SELECT 'events', column_name FROM (DESCRIBE events)
         UNION ALL SELECT 'lineitem', column_name FROM (DESCRIBE lineitem)
         UNION ALL SELECT 'nation', column_name FROM (DESCRIBE nation)
         UNION ALL SELECT 'orders', column_name FROM (DESCRIBE orders)
         UNION ALL SELECT 'part', column_name FROM (DESCRIBE part)
         UNION ALL SELECT 'region', column_name FROM (DESCRIBE region)
         UNION ALL SELECT 'supplier', column_name FROM (DESCRIBE supplier)
         ORDER BY table_name, column_name""")),

    Entry("dump_load_roundtrip", { (s, dir) =>
      val c = cat(s, dir)
      val tmp = Harness.tempStore("graft_dump")
      Dump.write(c, DumpSpec(
        fullTables = Seq("region"),
        partialTables = Map("orders" -> c.table("orders").where(col("o_totalprice") > 480000))),
        s"$tmp/dump")
      Dump.loadInto(s, s"$tmp/dump", s"$tmp/loaded")
      s.read.parquet(s"$tmp/loaded/customer.parquet").orderBy("c_custkey")
    }, Sql(
      """SELECT * FROM customer
         WHERE c_custkey IN (SELECT o_custkey FROM orders WHERE o_totalprice > 480000)
         ORDER BY c_custkey""")),

    Entry("sequences_after_load", { (s, dir) =>
      // Dump → load → the restored sequence state (reference: sequences.sql
      // replayed on load, postgresql.py:136-146 + base.py:227).
      val c = cat(s, dir)
      val tmp = Harness.tempStore("graft_seq")
      Dump.write(c, DumpSpec(
        fullTables = Seq("region"),
        partialTables = Map("orders" -> c.table("orders").where(col("o_totalprice") > 480000))),
        s"$tmp/dump")
      Dump.loadInto(s, s"$tmp/dump", s"$tmp/loaded")
      Dump.sequencesOf(s, s"$tmp/loaded").orderBy("table_name")
    }, Sql(
      """SELECT 'customer' AS table_name, CAST(max(c_custkey) AS BIGINT) AS seq_value FROM customer
           WHERE c_custkey IN (SELECT o_custkey FROM orders WHERE o_totalprice > 480000)
         UNION ALL SELECT 'nation', CAST(max(n_nationkey) AS BIGINT) FROM nation
           WHERE n_nationkey IN (SELECT c_nationkey FROM customer
             WHERE c_custkey IN (SELECT o_custkey FROM orders WHERE o_totalprice > 480000))
         UNION ALL SELECT 'orders', CAST(max(o_orderkey) AS BIGINT) FROM orders
           WHERE o_totalprice > 480000
         UNION ALL SELECT 'region', CAST(max(r_regionkey) AS BIGINT) FROM region
         ORDER BY table_name""")),

    // ── analytics / bench ────────────────────────────────────────────────
    Entry("q1_pricing", { (s, dir) =>
      // Decimal-routed sums: deterministic under any partitioning (double
      // addition is order-sensitive; decimal addition is exact). Rounding
      // happens in decimal space — rounding a *double* can land on an exact
      // half boundary and tie-break differently across engines. Averages are
      // emitted unrounded for the same reason (identical doubles everywhere).
      def dsum(c: Column): Column = sum(c.cast("decimal(28,6)"))
      val n = count(lit(1))
      cat(s, dir).table("lineitem")
        .where(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          round(dsum(col("l_quantity")), 2).cast("double").as("sum_qty"),
          round(dsum(col("l_extendedprice")), 2).cast("double").as("sum_base_price"),
          round(dsum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).cast("double").as("sum_disc_price"),
          round(dsum(col("l_extendedprice") * (lit(1) - col("l_discount")) * (lit(1) + col("l_tax"))), 2).cast("double").as("sum_charge"),
          (dsum(col("l_quantity")).cast("double") / n).as("avg_qty"),
          (dsum(col("l_extendedprice")).cast("double") / n).as("avg_price"),
          (dsum(col("l_discount")).cast("double") / n).as("avg_disc"),
          n.as("count_order"))
        .orderBy("l_returnflag", "l_linestatus")
    }, Sql(
      """SELECT l_returnflag, l_linestatus,
           CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(28,6))), 2) AS DOUBLE) AS sum_qty,
           CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(28,6))), 2) AS DOUBLE) AS sum_base_price,
           CAST(ROUND(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,6))), 2) AS DOUBLE) AS sum_disc_price,
           CAST(ROUND(SUM(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax) AS DECIMAL(28,6))), 2) AS DOUBLE) AS sum_charge,
           CAST(SUM(CAST(l_quantity AS DECIMAL(28,6))) AS DOUBLE) / COUNT(*) AS avg_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(28,6))) AS DOUBLE) / COUNT(*) AS avg_price,
           CAST(SUM(CAST(l_discount AS DECIMAL(28,6))) AS DOUBLE) / COUNT(*) AS avg_disc,
           COUNT(*) AS count_order
         FROM lineitem
         WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
         GROUP BY l_returnflag, l_linestatus
         ORDER BY l_returnflag, l_linestatus""")),

    Entry("q3_toporders", { (s, dir) =>
      val c = cat(s, dir)
      c.table("customer").where(col("c_mktsegment") === "BUILDING")
        .join(c.table("orders"), col("c_custkey") === col("o_custkey"))
        .join(c.table("lineitem"), col("o_orderkey") === col("l_orderkey"))
        .where(col("o_orderdate") < lit("1997-01-01").cast("timestamp") &&
          col("l_shipdate") > lit("1997-01-01").cast("timestamp"))
        .groupBy(col("l_orderkey"), to_date(col("o_orderdate")).as("o_orderdate"))
        .agg(round(sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
          .cast("decimal(28,6)")), 2).cast("double").as("revenue"))
        .orderBy(col("revenue").desc, col("l_orderkey"))
        .limit(10)
    }, Sql(
      """SELECT l_orderkey, CAST(o_orderdate AS DATE) AS o_orderdate,
           CAST(ROUND(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,6))), 2) AS DOUBLE) AS revenue
         FROM customer
         JOIN orders ON c_custkey = o_custkey
         JOIN lineitem ON o_orderkey = l_orderkey
         WHERE c_mktsegment = 'BUILDING'
           AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
           AND l_shipdate > TIMESTAMP '1997-01-01 00:00:00'
         GROUP BY l_orderkey, CAST(o_orderdate AS DATE)
         ORDER BY revenue DESC, l_orderkey
         LIMIT 10""")),

    Entry("q5_regional", { (s, dir) =>
      val c = cat(s, dir)
      c.table("customer")
        .join(c.table("orders"), col("c_custkey") === col("o_custkey"))
        .join(c.table("lineitem"), col("o_orderkey") === col("l_orderkey"))
        .join(c.table("supplier"),
          col("l_suppkey") === col("s_suppkey") && col("c_nationkey") === col("s_nationkey"))
        .join(c.table("nation"), col("s_nationkey") === col("n_nationkey"))
        .join(c.table("region"), col("n_regionkey") === col("r_regionkey"))
        .where(col("r_name") === "ASIA" &&
          col("o_orderdate") >= lit("1995-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1999-01-01").cast("timestamp"))
        .groupBy(col("n_name"))
        .agg(round(sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
          .cast("decimal(28,6)")), 2).cast("double").as("revenue"))
        .orderBy(col("revenue").desc, col("n_name"))
    }, Sql(
      """SELECT n_name,
           CAST(ROUND(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,6))), 2) AS DOUBLE) AS revenue
         FROM customer
         JOIN orders ON c_custkey = o_custkey
         JOIN lineitem ON o_orderkey = l_orderkey
         JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
         JOIN nation ON s_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
         WHERE r_name = 'ASIA'
           AND o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
           AND o_orderdate < TIMESTAMP '1999-01-01 00:00:00'
         GROUP BY n_name
         ORDER BY revenue DESC, n_name""")),

    // TPC-H Q4 shape (EXISTS → left-semi with a cross-table condition):
    // orders with a late-shipping lineitem, counted by priority. The semi
    // join shuffles only orderkeys; the count is bounded by #priorities.
    // (l_commitdate/l_receiptdate don't exist in this schema — "late" is
    // shipdate > orderdate + 60d, same plan shape as the reference query.)
    Entry("q4_priority", { (s, dir) =>
      val c = cat(s, dir)
      c.table("orders")
        .where(col("o_orderdate") >= lit("1995-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
        .join(c.table("lineitem"),
          col("o_orderkey") === col("l_orderkey") &&
            col("l_shipdate") > date_add(col("o_orderdate").cast("date"), 60),
          "left_semi")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("order_count"))
        .orderBy("o_orderpriority")
    }, Sql(
      """SELECT o_orderpriority, count(*) AS order_count
         FROM orders o
         WHERE o.o_orderdate >= TIMESTAMP '1995-01-01'
           AND o.o_orderdate < TIMESTAMP '1997-01-01'
           AND EXISTS (SELECT 1 FROM lineitem l
             WHERE l.l_orderkey = o.o_orderkey
               AND l.l_shipdate > CAST(o.o_orderdate AS DATE) + INTERVAL 60 DAY)
         GROUP BY 1 ORDER BY 1""")),

    // monthly revenue trend per priority with a 3-month trailing moving
    // average — window partitions bounded by #months per priority, sums
    // exact-decimal
    Entry("orders_monthly", { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val monthly = cat(s, dir).table("orders")
        .groupBy(col("o_orderpriority"),
          date_trunc("month", col("o_orderdate").cast("timestamp")).cast("date")
            .as("month"))
        .agg(count(lit(1)).as("n_orders"),
          round(sum(col("o_totalprice").cast("decimal(18,2)")), 2)
            .as("revenue_d"))
      val w = Window.partitionBy(col("o_orderpriority")).orderBy(col("month"))
        .rowsBetween(-2, Window.currentRow)
      monthly
        .withColumn("revenue", col("revenue_d").cast("double"))
        // decimal window sum / long count: exact numerator, one double
        // division — identical in the oracle (decimal AVG would return
        // DOUBLE in DuckDB but DECIMAL here; divide explicitly instead)
        .withColumn("revenue_ma3",
          round(sum(col("revenue_d")).over(w).cast("double") /
            count(lit(1)).over(w), 2))
        .select(col("o_orderpriority"), col("month"), col("n_orders"),
          col("revenue"), col("revenue_ma3"))
        .orderBy("o_orderpriority", "month")
    }, Sql(
      """WITH m AS (SELECT o_orderpriority,
           CAST(date_trunc('month', CAST(o_orderdate AS TIMESTAMP)) AS DATE) AS month,
           count(*) AS n_orders,
           round(sum(CAST(o_totalprice AS DECIMAL(18,2))), 2) AS revenue_d
         FROM orders GROUP BY 1, 2)
         SELECT o_orderpriority, month, n_orders,
           CAST(revenue_d AS DOUBLE) AS revenue,
           round(CAST(sum(revenue_d) OVER (PARTITION BY o_orderpriority ORDER BY month
               ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS DOUBLE)
             / count(*) OVER (PARTITION BY o_orderpriority ORDER BY month
               ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 2) AS revenue_ma3
         FROM m ORDER BY o_orderpriority, month""")),

    // sliding 2h windows advancing hourly — the batch twin of a streaming
    // sliding-window agg; each event lands in exactly two windows
    Entry("events_sliding", (s, dir) =>
      cat(s, dir).table("events")
        .withColumn("w", window(expr("timestamp_seconds(ts div 1000000000)"),
          "2 hours", "1 hour"))
        .groupBy(col("event_type"),
          col("w.start").cast("long").as("window_start"))
        .agg(count(lit(1)).as("n_events"),
          round(sum(col("value").cast("decimal(18,6)")), 2).cast("double")
            .as("sum_value"))
        .orderBy("event_type", "window_start"),
      Sql(
      """WITH e AS (SELECT event_type, epoch_ns(ts) // 1000000000 AS t, value
           FROM events),
         x AS (SELECT event_type, value, (t // 3600) * 3600 - off.o AS window_start
           FROM e CROSS JOIN (SELECT unnest([0, 3600]) AS o) off)
         SELECT event_type, window_start, count(*) AS n_events,
           CAST(round(sum(CAST(value AS DECIMAL(18,6))), 2) AS DOUBLE) AS sum_value
         FROM x GROUP BY 1, 2 ORDER BY 1, 2""")),

    // per-type z-score outliers: bounded stats agg (≤ #types rows)
    // broadcast back map-side — exact decimal sums make mean/var (and so
    // every z) partition-order independent; the flag path never shuffles
    // event rows
    Entry("events_anomaly", { (s, dir) =>
      val ev = cat(s, dir).table("events")
      ev.join(broadcast(Temporal.anomalyStats(ev)), col("event_type") === col("t"))
        .withColumn("z", round(Temporal.zScore(col("value")), 4))
        .where(abs(col("z")) >= 2.5)
        .select(col("event_id"), col("event_type"), col("value"), col("z"))
        .orderBy("event_id")
    }, Sql(
      """WITH st AS (SELECT event_type AS t, count(*) AS n,
           sum(CAST(value AS DECIMAL(18,6))) AS sv,
           sum(CAST(value * value AS DECIMAL(28,10))) AS svv
         FROM events GROUP BY 1),
         z AS (SELECT event_id, event_type, value,
           round((value - CAST(sv AS DOUBLE)/n) /
             sqrt(nullif(greatest(CAST(svv AS DOUBLE)/n - (CAST(sv AS DOUBLE)/n)*(CAST(sv AS DOUBLE)/n), 0.0), 0.0)), 4) AS z
         FROM events JOIN st ON event_type = t)
         SELECT * FROM z WHERE abs(z) >= 2.5 ORDER BY event_id""")),

    Entry("window_topn", { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("value").desc, col("event_id"))
      cat(s, dir).table("events")
        .withColumn("rn", row_number().over(w))
        .where(col("rn") <= 3)
        .select(col("user_id"), col("event_id"), col("event_type"), col("value"), col("rn"))
        .orderBy("user_id", "rn")
    }, Sql(
      """SELECT user_id, event_id, event_type, value, rn FROM (
           SELECT user_id, event_id, event_type, value,
             ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY value DESC, event_id) AS rn
           FROM events) t
         WHERE rn <= 3
         ORDER BY user_id, rn""")),

    // Point-in-time lookup: each event joined to the customer's latest
    // order on or before the event — the as-of join. Timestamps normalize
    // to epoch seconds (Catalog reads events.ts as epoch nanos); the right
    // side is pre-aggregated to one row per (customer, date) so "latest"
    // is well-defined; the oracle replays it with DuckDB's native ASOF
    // JOIN.
    Entry("asof_join", { (s, dir) =>
      val c = cat(s, dir)
      val ev = c.table("events")
        .select(col("event_id"), expr("ts div 1000000000").as("ts"), col("user_id"))
      val latestOrders = c.table("orders")
        .groupBy(col("o_custkey").as("user_id"),
          col("o_orderdate").cast("timestamp").cast("long").as("ts"))
        .agg(max(col("o_orderkey")).as("o_orderkey"))
      Temporal.asofJoin(ev, latestOrders, keyCol = "user_id", tsCol = "ts",
          payloadCols = Seq("o_orderkey"))
        .select(col("event_id"), col("user_id"), col("o_orderkey"))
        .orderBy("event_id")
    }, Sql(
      """WITH ev AS (SELECT event_id, epoch_ns(ts) // 1000000000 AS ts, user_id
           FROM events),
         o AS (SELECT o_custkey AS user_id,
           epoch_ns(CAST(o_orderdate AS TIMESTAMP)) // 1000000000 AS ots,
           max(o_orderkey) AS o_orderkey
         FROM orders GROUP BY 1, 2)
         SELECT ev.event_id, ev.user_id, o.o_orderkey
         FROM ev ASOF LEFT JOIN o
           ON ev.user_id = o.user_id AND ev.ts >= o.ots
         ORDER BY ev.event_id""")),

    // the as-of join under a 30-day staleness budget (feature-store TTL /
    // pandas merge_asof tolerance): stale matches null out, plan unchanged
    Entry("asof_join_tol", { (s, dir) =>
      val c = cat(s, dir)
      val ev = c.table("events")
        .select(col("event_id"), expr("ts div 1000000000").as("ts"), col("user_id"))
      val latestOrders = c.table("orders")
        .groupBy(col("o_custkey").as("user_id"),
          col("o_orderdate").cast("timestamp").cast("long").as("ts"))
        .agg(max(col("o_orderkey")).as("o_orderkey"))
      Temporal.asofJoin(ev, latestOrders, keyCol = "user_id", tsCol = "ts",
          payloadCols = Seq("o_orderkey"), tolerance = Some(30L * 86400))
        .select(col("event_id"), col("user_id"), col("o_orderkey"))
        .orderBy("event_id")
    }, Sql(
      """WITH ev AS (SELECT event_id, epoch_ns(ts) // 1000000000 AS ts, user_id
           FROM events),
         o AS (SELECT o_custkey AS user_id,
           epoch_ns(CAST(o_orderdate AS TIMESTAMP)) // 1000000000 AS ots,
           max(o_orderkey) AS o_orderkey
         FROM orders GROUP BY 1, 2)
         SELECT ev.event_id, ev.user_id,
           CASE WHEN ev.ts - o.ots <= 2592000 THEN o.o_orderkey END AS o_orderkey
         FROM ev ASOF LEFT JOIN o
           ON ev.user_id = o.user_id AND ev.ts >= o.ots
         ORDER BY ev.event_id""")),

    // forward as-of: each event matched to the user's NEXT order
    // at-or-after it (the next-fill shape), same one-shuffle plan with
    // the frame side flipped
    Entry("asof_join_fwd", { (s, dir) =>
      val c = cat(s, dir)
      val ev = c.table("events")
        .select(col("event_id"), expr("ts div 1000000000").as("ts"), col("user_id"))
      val latestOrders = c.table("orders")
        .groupBy(col("o_custkey").as("user_id"),
          col("o_orderdate").cast("timestamp").cast("long").as("ts"))
        .agg(max(col("o_orderkey")).as("o_orderkey"))
      Temporal.asofJoin(ev, latestOrders, keyCol = "user_id", tsCol = "ts",
          payloadCols = Seq("o_orderkey"), direction = "forward")
        .select(col("event_id"), col("user_id"), col("o_orderkey"))
        .orderBy("event_id")
    }, Sql(
      """WITH ev AS (SELECT event_id, epoch_ns(ts) // 1000000000 AS ts, user_id
           FROM events),
         o AS (SELECT o_custkey AS user_id,
           epoch_ns(CAST(o_orderdate AS TIMESTAMP)) // 1000000000 AS ots,
           max(o_orderkey) AS o_orderkey
         FROM orders GROUP BY 1, 2)
         SELECT ev.event_id, ev.user_id, o.o_orderkey
         FROM ev ASOF LEFT JOIN o
           ON ev.user_id = o.user_id AND ev.ts <= o.ots
         ORDER BY ev.event_id""")),

    // Last-touch attribution, composed: the stream-stream join's rollup
    // (latest in-window view per purchase) — equals backward asofJoin
    // with a one-day tolerance, spec-asserted; the oracle replays it
    // with DuckDB's native ASOF JOIN
    Entry("attribution_rollup", { (s, dir) =>
      val ev = cat(s, dir).table("events")
        .select(col("event_id"), expr("ts div 1000000000").as("ts"),
          col("user_id"), col("event_type"))
      graft.streaming.StreamingAttribution.attributeLatest(
          ev.where(col("event_type") === "view")
            .select(col("ts"), col("user_id"), col("event_id").as("imp_id")),
          ev.where(col("event_type") === "purchase")
            .select(col("ts"), col("user_id"), col("event_id").as("conv_id")),
          windowSeconds = 86400)
        .orderBy("conv_id")
    }, Sql(
      """WITH imp AS (SELECT user_id, epoch_ns(ts) // 1000000000 AS its,
           max(event_id) AS imp_id
         FROM events WHERE event_type = 'view' GROUP BY 1, 2),
         conv AS (SELECT user_id, event_id AS conv_id,
           epoch_ns(ts) // 1000000000 AS cts
         FROM events WHERE event_type = 'purchase')
         SELECT conv.user_id, conv.conv_id, conv.cts AS conv_ts,
           imp.imp_id, imp.its AS imp_ts, conv.cts - imp.its AS lag_s
         FROM conv ASOF JOIN imp
           ON conv.user_id = imp.user_id AND conv.cts >= imp.its
         WHERE conv.cts - imp.its <= 86400
         ORDER BY conv_id""")),

    Entry("sessionize", (s, dir) =>
      Temporal.sessionize(
          cat(s, dir).table("events").withColumn("ts", expr("ts div 1000000000")),
          gapSeconds = 1800)
        .orderBy("user_id", "session_seq"),
      Sql(
      """WITH e AS (SELECT user_id, event_id,
           epoch_ns(ts) // 1000000000 AS se FROM events),
         l AS (SELECT *, lag(se) OVER (PARTITION BY user_id ORDER BY se, event_id) AS prev
         FROM e),
         f AS (SELECT *, CASE WHEN prev IS NULL OR se - prev > 1800 THEN 1 ELSE 0 END AS nw
         FROM l),
         s AS (SELECT *, sum(nw) OVER (PARTITION BY user_id ORDER BY se, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_seq
         FROM f)
         SELECT user_id, CAST(session_seq AS BIGINT) AS session_seq,
           min(se) AS session_start_s, max(se) AS session_end_s,
           count(*) AS n_events, max(se) - min(se) AS duration_s
         FROM s GROUP BY user_id, session_seq
         ORDER BY user_id, session_seq""")),

    // conversion funnel signup → view → click → purchase: per-user ordered
    // step-completion times, one key-shuffle window chain
    Entry("event_funnel", (s, dir) =>
      Temporal.eventFunnel(
          cat(s, dir).table("events").withColumn("ts", expr("ts div 1000000000")),
          steps = Seq("signup", "view", "click", "purchase"))
        .orderBy("user_id"),
      Sql(
      """WITH e AS (SELECT user_id, event_type,
           epoch_ns(ts) // 1000000000 AS se FROM events),
         s1 AS (SELECT *, min(CASE WHEN event_type = 'signup' THEN se END)
           OVER (PARTITION BY user_id) AS t1_s FROM e),
         s2 AS (SELECT *, min(CASE WHEN event_type = 'view' AND se >= t1_s THEN se END)
           OVER (PARTITION BY user_id) AS t2_s FROM s1),
         s3 AS (SELECT *, min(CASE WHEN event_type = 'click' AND se >= t2_s THEN se END)
           OVER (PARTITION BY user_id) AS t3_s FROM s2),
         s4 AS (SELECT *, min(CASE WHEN event_type = 'purchase' AND se >= t3_s THEN se END)
           OVER (PARTITION BY user_id) AS t4_s FROM s3),
         g AS (SELECT user_id, min(t1_s) AS t1_s, min(t2_s) AS t2_s,
           min(t3_s) AS t3_s, min(t4_s) AS t4_s FROM s4 GROUP BY user_id)
         SELECT user_id, t1_s, t2_s, t3_s, t4_s,
           CAST(CASE WHEN t1_s IS NOT NULL THEN 1 ELSE 0 END
              + CASE WHEN t2_s IS NOT NULL THEN 1 ELSE 0 END
              + CASE WHEN t3_s IS NOT NULL THEN 1 ELSE 0 END
              + CASE WHEN t4_s IS NOT NULL THEN 1 ELSE 0 END AS BIGINT) AS steps_completed
         FROM g ORDER BY user_id""")),

    // the funnel rollup a dashboard reads: users reaching each step
    Entry("funnel_counts", { (s, dir) =>
      val f = Temporal.eventFunnel(
        cat(s, dir).table("events").withColumn("ts", expr("ts div 1000000000")),
        steps = Seq("signup", "view", "click", "purchase"))
      f.select(explode(sequence(lit(1L), lit(4L))).as("step"), col("steps_completed"))
        .groupBy("step")
        .agg(sum(when(col("steps_completed") >= col("step"), 1L).otherwise(0L))
          .as("n_users"))
        .orderBy("step")
    }, Sql(
      """WITH e AS (SELECT user_id, event_type,
           epoch_ns(ts) // 1000000000 AS se FROM events),
         s1 AS (SELECT *, min(CASE WHEN event_type = 'signup' THEN se END)
           OVER (PARTITION BY user_id) AS t1_s FROM e),
         s2 AS (SELECT *, min(CASE WHEN event_type = 'view' AND se >= t1_s THEN se END)
           OVER (PARTITION BY user_id) AS t2_s FROM s1),
         s3 AS (SELECT *, min(CASE WHEN event_type = 'click' AND se >= t2_s THEN se END)
           OVER (PARTITION BY user_id) AS t3_s FROM s2),
         s4 AS (SELECT *, min(CASE WHEN event_type = 'purchase' AND se >= t3_s THEN se END)
           OVER (PARTITION BY user_id) AS t4_s FROM s3),
         g AS (SELECT user_id, min(t1_s) AS t1_s, min(t2_s) AS t2_s,
           min(t3_s) AS t3_s, min(t4_s) AS t4_s FROM s4 GROUP BY user_id),
         sc AS (SELECT CASE WHEN t1_s IS NOT NULL THEN 1 ELSE 0 END
              + CASE WHEN t2_s IS NOT NULL THEN 1 ELSE 0 END
              + CASE WHEN t3_s IS NOT NULL THEN 1 ELSE 0 END
              + CASE WHEN t4_s IS NOT NULL THEN 1 ELSE 0 END AS steps_completed FROM g)
         SELECT step, CAST(sum(CASE WHEN steps_completed >= step THEN 1 ELSE 0 END) AS BIGINT) AS n_users
         FROM sc CROSS JOIN (SELECT unnest(range(1, 5)) AS step)
         GROUP BY step ORDER BY step""")),

    // cohort retention triangle over first-active day
    Entry("retention_cohorts", (s, dir) =>
      Temporal.retentionCohorts(
          cat(s, dir).table("events")
            .withColumn("day", expr("ts div 86400000000000")),
          maxDays = 30)
        .orderBy("cohort_day", "day_offset"),
      Sql(
      """WITH a AS (SELECT DISTINCT user_id,
           epoch_ns(ts) // 86400000000000 AS day FROM events),
         c AS (SELECT user_id, min(day) AS cohort_day FROM a GROUP BY user_id)
         SELECT cohort_day, day - cohort_day AS day_offset, count(*) AS n_users
         FROM a JOIN c USING (user_id) WHERE day - cohort_day <= 30
         GROUP BY 1, 2 ORDER BY 1, 2""")),

    // DAU + trailing-7-day WAU per active day: exact rolling distinct via
    // bounded window-end expansion over the (day, user) activity frame
    Entry("events_dau", (s, dir) =>
      Temporal.activeUsers(
          cat(s, dir).table("events")
            .withColumn("day", expr("ts div 86400000000000")),
          windowDays = 7)
        .orderBy("day"),
      Sql(
      """WITH du AS (SELECT DISTINCT epoch_ns(ts) // 86400000000000 AS day, user_id
           FROM events),
         dau AS (SELECT day, count(*) AS dau FROM du GROUP BY 1),
         wau AS (SELECT w.day, count(*) AS wau FROM (
           SELECT DISTINCT u.day + off.o AS day, u.user_id
           FROM du u CROSS JOIN (SELECT unnest(range(0, 7)) AS o) off) w
         GROUP BY 1)
         SELECT dau.day, dau.dau, wau.wau
         FROM dau JOIN wau ON dau.day = wau.day
         ORDER BY dau.day""")),

    // exact per-type value percentiles by integer rank over the value
    // histogram — bounded window partitions, engine-portable thresholds
    Entry("events_percentiles", (s, dir) =>
      Temporal.valuePercentiles(cat(s, dir).table("events"))
        .orderBy("event_type"),
      Sql(
      """WITH h AS (SELECT event_type, value AS v, count(*) AS c
           FROM events GROUP BY 1, 2),
         cum AS (SELECT event_type, v, c,
           sum(c) OVER (PARTITION BY event_type ORDER BY v
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
           sum(c) OVER (PARTITION BY event_type) AS n
         FROM h)
         SELECT event_type, CAST(max(n) AS BIGINT) AS n,
           min(CASE WHEN cum * 1000 >= n * 500 THEN v END) AS p500,
           min(CASE WHEN cum * 1000 >= n * 950 THEN v END) AS p950,
           min(CASE WHEN cum * 1000 >= n * 990 THEN v END) AS p990
         FROM cum GROUP BY 1 ORDER BY 1""")),

    // classic RFM segmentation over orders: per-customer aggregation (one
    // shuffle), quintile thresholds via the exact integer-rank percentile
    // operator (histograms bounded by metric RESOLUTION — monetary is
    // bucketed to 1k units for thresholding so its histogram never grows
    // with customer count), thresholds as 1-row broadcasts, scoring
    // map-side
    Entry("customer_rfm", { (s, dir) =>
      val orders = cat(s, dir).table("orders")
      val per = orders.groupBy(col("o_custkey"))
        .agg(max(col("o_orderdate").cast("timestamp").cast("long")).as("last_s"),
          count(lit(1)).as("frequency"),
          round(sum(col("o_totalprice").cast("decimal(18,2)"))).cast("long")
            .as("monetary"))
      val asOf = per.agg(max(col("last_s")).as("as_of"))
      val rfm = per.crossJoin(broadcast(asOf))
        .withColumn("recency_days", expr("(as_of - last_s) div 86400"))
        .withColumn("monetary_k", expr("monetary div 1000"))
      def cuts(vc: String) = broadcast(Temporal.valuePercentiles(
          rfm.select(lit("all").as("g"), col(vc).cast("double").as("v")),
          permilles = Seq(200, 400, 600, 800), groupCol = "g", valueCol = "v")
        .select(col("p200").as(s"${vc}_p200"), col("p400").as(s"${vc}_p400"),
          col("p600").as(s"${vc}_p600"), col("p800").as(s"${vc}_p800")))
      def above(vc: String): Column =
        Seq("p200", "p400", "p600", "p800")
          .map(p => when(col(vc) > col(s"${vc}_$p"), 1).otherwise(0))
          .reduce(_ + _)
      rfm
        .crossJoin(cuts("recency_days"))
        .crossJoin(cuts("frequency"))
        .crossJoin(cuts("monetary_k"))
        .withColumn("r_score", lit(5) - above("recency_days"))
        .withColumn("f_score", lit(1) + above("frequency"))
        .withColumn("m_score", lit(1) + above("monetary_k"))
        .withColumn("segment",
          when(col("r_score") >= 4 && col("f_score") >= 4, "champion")
            .when(col("r_score") >= 4, "recent")
            .when(col("f_score") >= 4 && col("r_score") <= 2, "at_risk")
            .when(col("r_score") <= 2 && col("f_score") <= 2, "hibernating")
            .otherwise("regular"))
        .select(col("o_custkey"), col("recency_days"), col("frequency"),
          col("monetary"), col("r_score"), col("f_score"), col("m_score"),
          col("segment"))
        .orderBy("o_custkey")
    }, Sql(
      """WITH per AS (SELECT o_custkey,
           max(epoch_ns(CAST(o_orderdate AS TIMESTAMP)) // 1000000000) AS last_s,
           count(*) AS frequency,
           CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,2)))) AS BIGINT) AS monetary
         FROM orders GROUP BY 1),
         ao AS (SELECT max(last_s) AS as_of FROM per),
         r AS (SELECT per.*, (as_of - last_s) // 86400 AS recency_days,
           monetary // 1000 AS monetary_k FROM per CROSS JOIN ao),
         rch AS (SELECT CAST(recency_days AS DOUBLE) AS v, count(*) AS c FROM r GROUP BY 1),
         rcc AS (SELECT v, sum(c) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
             AND CURRENT ROW) AS cum, sum(c) OVER () AS n FROM rch),
         rct AS (SELECT min(CASE WHEN cum*1000 >= n*200 THEN v END) AS p200,
           min(CASE WHEN cum*1000 >= n*400 THEN v END) AS p400,
           min(CASE WHEN cum*1000 >= n*600 THEN v END) AS p600,
           min(CASE WHEN cum*1000 >= n*800 THEN v END) AS p800 FROM rcc),
         fh AS (SELECT CAST(frequency AS DOUBLE) AS v, count(*) AS c FROM r GROUP BY 1),
         fc AS (SELECT v, sum(c) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
             AND CURRENT ROW) AS cum, sum(c) OVER () AS n FROM fh),
         ft AS (SELECT min(CASE WHEN cum*1000 >= n*200 THEN v END) AS p200,
           min(CASE WHEN cum*1000 >= n*400 THEN v END) AS p400,
           min(CASE WHEN cum*1000 >= n*600 THEN v END) AS p600,
           min(CASE WHEN cum*1000 >= n*800 THEN v END) AS p800 FROM fc),
         mh AS (SELECT CAST(monetary_k AS DOUBLE) AS v, count(*) AS c FROM r GROUP BY 1),
         mc AS (SELECT v, sum(c) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
             AND CURRENT ROW) AS cum, sum(c) OVER () AS n FROM mh),
         mt AS (SELECT min(CASE WHEN cum*1000 >= n*200 THEN v END) AS p200,
           min(CASE WHEN cum*1000 >= n*400 THEN v END) AS p400,
           min(CASE WHEN cum*1000 >= n*600 THEN v END) AS p600,
           min(CASE WHEN cum*1000 >= n*800 THEN v END) AS p800 FROM mc),
         sc AS (SELECT o_custkey, recency_days, frequency, monetary,
           CAST(5 - ((recency_days > rct.p200)::INT + (recency_days > rct.p400)::INT
             + (recency_days > rct.p600)::INT + (recency_days > rct.p800)::INT) AS INT) AS r_score,
           CAST(1 + ((frequency > ft.p200)::INT + (frequency > ft.p400)::INT
             + (frequency > ft.p600)::INT + (frequency > ft.p800)::INT) AS INT) AS f_score,
           CAST(1 + ((monetary_k > mt.p200)::INT + (monetary_k > mt.p400)::INT
             + (monetary_k > mt.p600)::INT + (monetary_k > mt.p800)::INT) AS INT) AS m_score
         FROM r CROSS JOIN rct CROSS JOIN ft CROSS JOIN mt)
         SELECT *, CASE WHEN r_score >= 4 AND f_score >= 4 THEN 'champion'
           WHEN r_score >= 4 THEN 'recent'
           WHEN f_score >= 4 AND r_score <= 2 THEN 'at_risk'
           WHEN r_score <= 2 AND f_score <= 2 THEN 'hibernating'
           ELSE 'regular' END AS segment
         FROM sc ORDER BY o_custkey""")),

    // typed JSON props extraction + per-type rollup (decimal sums: exact,
    // partition-order independent) — the semi-structured column path
    Entry("events_props", (s, dir) =>
      cat(s, dir).table("events")
        .withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_events"),
          count(col("k")).as("n_with_k"),
          sum(col("k")).as("sum_k"),
          round(sum(col("value").cast("decimal(18,6)")), 4).cast("double")
            .as("sum_value"))
        .orderBy("event_type"),
      Sql(
      """SELECT event_type, count(*) AS n_events,
           count(json_extract_string(props, '$.k')) AS n_with_k,
           CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
           CAST(round(sum(CAST(value AS DECIMAL(18,6))), 4) AS DOUBLE) AS sum_value
         FROM events GROUP BY 1 ORDER BY 1""")),

    // ── LLM-data-pipeline: text analysis ─────────────────────────────────
    Entry("token_count", (s, dir) =>
      TextAnalysis.tokenCount(cat(s, dir).table("documents")).orderBy("doc_id"),
      Sql(
      """WITH t AS (SELECT doc_id, text,
           list_filter(string_split_regex(lower(text), '\s+'), x -> len(x) > 0) AS toks
         FROM documents)
         SELECT doc_id,
           CAST(len(toks) AS BIGINT) AS ws_tokens,
           CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS BIGINT) AS bpe_tokens,
           len(text) / greatest(len(toks), 1) AS chars_per_token
         FROM t ORDER BY doc_id""")),

    // BM25 lexical retrieval — the keyword half of the RAG serving stack
    // (chunk_knn / chunk_index_search is the vector half): literal query
    // terms, map-side tf, one broadcast stats row, TakeOrderedAndProject
    // top-k. 'dup' is the corpus's one rare term (df ≈ 0.5%), so idf
    // ordering is actually exercised against the ~19%-df commons.
    Entry("bm25_topk", (s, dir) =>
      TextAnalysis.bm25TopK(cat(s, dir).table("documents"),
          Seq("dup", "row", "vector"), k = 20)
        .orderBy("rank"),
      Sql(
      """WITH tk AS (SELECT doc_id,
           list_filter(string_split_regex(lower(text), '\s+'), x -> len(x) > 0) AS toks
         FROM documents),
         tf AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl,
           CAST(len(list_filter(toks, x -> x = 'dup')) AS BIGINT) AS tf0,
           CAST(len(list_filter(toks, x -> x = 'row')) AS BIGINT) AS tf1,
           CAST(len(list_filter(toks, x -> x = 'vector')) AS BIGINT) AS tf2
         FROM tk),
         st AS (SELECT count(*) AS n, sum(dl) AS sdl,
           sum(CASE WHEN tf0 > 0 THEN 1 ELSE 0 END) AS df0,
           sum(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END) AS df1,
           sum(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END) AS df2
         FROM tf),
         sc AS (SELECT doc_id, round(
             ln(1.0 + (CAST(n AS DOUBLE) - CAST(df0 AS DOUBLE) + 0.5) / (CAST(df0 AS DOUBLE) + 0.5))
               * (CAST(tf0 AS DOUBLE) * (1.2 + 1.0))
               / (CAST(tf0 AS DOUBLE) + 1.2 * (1.0 - 0.75 + 0.75 * CAST(dl AS DOUBLE) / (CAST(sdl AS DOUBLE) / CAST(n AS DOUBLE))))
           + ln(1.0 + (CAST(n AS DOUBLE) - CAST(df1 AS DOUBLE) + 0.5) / (CAST(df1 AS DOUBLE) + 0.5))
               * (CAST(tf1 AS DOUBLE) * (1.2 + 1.0))
               / (CAST(tf1 AS DOUBLE) + 1.2 * (1.0 - 0.75 + 0.75 * CAST(dl AS DOUBLE) / (CAST(sdl AS DOUBLE) / CAST(n AS DOUBLE))))
           + ln(1.0 + (CAST(n AS DOUBLE) - CAST(df2 AS DOUBLE) + 0.5) / (CAST(df2 AS DOUBLE) + 0.5))
               * (CAST(tf2 AS DOUBLE) * (1.2 + 1.0))
               / (CAST(tf2 AS DOUBLE) + 1.2 * (1.0 - 0.75 + 0.75 * CAST(dl AS DOUBLE) / (CAST(sdl AS DOUBLE) / CAST(n AS DOUBLE)))),
           4) AS score
         FROM tf CROSS JOIN st)
         SELECT doc_id, rank, score FROM (
           SELECT doc_id,
             CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS BIGINT) AS rank,
             score
           FROM sc WHERE score > 0) t
         WHERE rank <= 20 ORDER BY rank""")),

    // BATCH BM25 — the serving contract: an external query batch
    // (bounded, collected once, terms → plan literals) answered from ONE
    // corpus pass; zero-scoring (query, doc) pairs drop inside the
    // map-side array filter before the explode, and the per-query top-k
    // is a single WindowGroupLimit-capped window. Query 4's term misses
    // the whole corpus — it must vanish from the output, not emit rows.
    Entry("bm25_batch", { (s, dir) =>
      import s.implicits._
      val q = Bm25BatchQueries.toDF("query_id", "terms")
      TextAnalysis.bm25TopKBatch(cat(s, dir).table("documents"), q, k = 10)
        .orderBy("query_id", "rank")
    }, Sql(
      s"""WITH ${bm25BatchSql("documents", Bm25BatchQueries, 10)}
         SELECT query_id, doc_id, rank, score FROM bqt
         ORDER BY query_id, rank""")),

    // the PERSISTED-index form of bm25_batch (the VectorIndexStore shape
    // for the lexical half): found the postings store, then answer the
    // same batch from postings only — the corpus is never read at query
    // time, and the answers bit-match the corpus-pass operator (one
    // shared contribution chain, derivation-identical statistics)
    // the index-served path must replay to the SAME answers as the
    // corpus pass (statistics and scoring are derivation-identical), so
    // its oracle IS the bm25_batch replay
    Entry("bm25_index_search", { (s, dir) =>
      import s.implicits._
      val store = Harness.tempStore("graft-bm25store")
      graft.operators.Bm25IndexStore.save(
        cat(s, dir).table("documents").select(col("doc_id"), col("text")), store)
      graft.operators.Bm25IndexStore.search(s, store,
          Bm25BatchQueries.toDF("query_id", "terms"), k = 10)
        .orderBy("query_id", "rank")
    }, Sql(
      s"""WITH ${bm25BatchSql("documents", Bm25BatchQueries, 10)}
         SELECT query_id, doc_id, rank, score FROM bqt
         ORDER BY query_id, rank""")),

    // the store-MAINTENANCE loop through the same oracle: found on half
    // the corpus, fold the rest in as an append (segment triple #2),
    // COMPACT the aged store (one merged term-sorted segment per family,
    // bmstats re-aggregated to one exact row), vacuum the fragments, and
    // the served answers must still replay the corpus-pass DuckDB oracle
    // bit-for-bit — compaction is a layout change, never a data change
    // found-half + appended-half + compact + vacuum must still serve the
    // corpus-pass answers exactly — one more replay of the same oracle
    Entry("bm25_index_compact", { (s, dir) =>
      import s.implicits._
      val store = Harness.tempStore("graft-bm25cpt")
      val docs = cat(s, dir).table("documents").select(col("doc_id"), col("text"))
      graft.operators.Bm25IndexStore.save(docs.where(col("doc_id") % 2 === 0), store)
      graft.operators.Bm25IndexStore.append(docs.where(col("doc_id") % 2 === 1), store)
      graft.operators.Bm25IndexStore.compact(s, store)
      graft.operators.Bm25IndexStore.vacuum(s, store)
      graft.operators.Bm25IndexStore.search(s, store,
          Bm25BatchQueries.toDF("query_id", "terms"), k = 10)
        .orderBy("query_id", "rank")
    }, Sql(
      s"""WITH ${bm25BatchSql("documents", Bm25BatchQueries, 10)}
         SELECT query_id, doc_id, rank, score FROM bqt
         ORDER BY query_id, rank""")),

    // the WHOLE batch serving loop: batch BM25 (query terms) fused with
    // batch exact-cosine retrieval (each query_id's own embedding as the
    // vector channel) by per-query RRF — query 4's lexical term misses
    // the corpus, so its fusion is vector-only (n_systems = 1
    // throughout that query's rows)
    // Batch hybrid: bqt = the generated batch-BM25 replay (top-50), vtop
    // = per-query exact cosine over docEmbed (each query_id's own
    // vector), fused per query by the RRF replay.
    Entry("hybrid_batch_search", { (s, dir) =>
      import s.implicits._
      val docs = cat(s, dir).table("documents")
      val q = Bm25BatchQueries.toDF("query_id", "terms")
      val lex = TextAnalysis.bm25TopKBatch(docs, q, k = 50)
        .select(col("query_id"), col("doc_id"), col("rank"))
      val vec = Similarity.annTopK(Similarity.docEmbed(docs, dim = 16),
          col("vec_id").isin(Bm25BatchQueries.map(_._1): _*), k = 50)
        .select(col("query_id"), col("neighbor_id").as("doc_id"), col("rank"))
      Similarity.rrfFuseBatch(Seq(lex, vec), k = 10)
        .orderBy("query_id", "rank")
    }, Sql(
      s"""WITH ${bm25BatchSql("documents", Bm25BatchQueries, 50)},
         $DocEmbedSql,
         e AS (SELECT vec_id, list(CAST(v AS DOUBLE) ORDER BY bucket) AS v
           FROM de GROUP BY vec_id),
         n AS (SELECT vec_id, v,
           sqrt(list_reduce(list_transform(range(1, len(v) + 1), i -> v[i] * v[i]),
                (a, b) -> a + b)) AS nrm
         FROM e),
         vp AS (SELECT q.vec_id AS query_id, x.vec_id AS doc_id,
           list_reduce(list_transform(range(1, len(q.v) + 1), i -> q.v[i] * x.v[i]),
                (a, b) -> a + b) / (q.nrm * x.nrm) AS cos
         FROM n q JOIN n x ON x.vec_id <> q.vec_id
         WHERE q.vec_id IN (${Bm25BatchQueries.map(_._1).mkString(", ")})),
         vtop AS (SELECT query_id, doc_id, rnk FROM (
           SELECT query_id, doc_id,
             row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, doc_id) AS rnk
           FROM vp) t
         WHERE rnk <= 50),
         contrib AS (
           SELECT query_id, doc_id,
             CAST(round(1.0 / (60.0 + CAST(rank AS DOUBLE)), 12) AS DECIMAL(20,12)) AS c
           FROM bqt
           UNION ALL
           SELECT query_id, doc_id,
             CAST(round(1.0 / (60.0 + CAST(rnk AS DOUBLE)), 12) AS DECIMAL(20,12)) AS c
           FROM vtop),
         fused AS (SELECT query_id, doc_id,
             round(CAST(sum(c) AS DOUBLE), 10) AS rrf_score,
             CAST(count(*) AS BIGINT) AS n_systems
           FROM contrib GROUP BY query_id, doc_id),
         fr AS (SELECT query_id, doc_id,
             CAST(row_number() OVER (PARTITION BY query_id ORDER BY rrf_score DESC, doc_id) AS BIGINT) AS frank,
             rrf_score, n_systems
           FROM fused)
         SELECT query_id, doc_id, frank AS "rank", rrf_score, n_systems
         FROM fr WHERE frank <= 10 ORDER BY query_id, frank""")),

    // HYBRID retrieval: BM25 lexical ranks fused with docEmbed cosine
    // ranks (query = doc 42's own embedding) by reciprocal-rank fusion —
    // the two serving halves combined the calibration-free way. Both
    // inputs are top-50 lists, so the fusion itself never sees the
    // corpus.
    Entry("hybrid_topk", { (s, dir) =>
      val docs = cat(s, dir).table("documents")
      val lex = TextAnalysis.bm25TopK(docs, Seq("dup", "row", "vector"), k = 50)
        .select(col("doc_id"), col("rank"))
      val vec = Similarity.annTopK(Similarity.docEmbed(docs, dim = 16),
          col("vec_id") === 42, k = 50)
        .select(col("neighbor_id").as("doc_id"), col("rank"))
      Similarity.rrfFuse(Seq(lex, vec), k = 20).orderBy("rank")
    }, Sql(
      s"""WITH $DocEmbedSql,
         e AS (SELECT vec_id, list(CAST(v AS DOUBLE) ORDER BY bucket) AS v
           FROM de GROUP BY vec_id),
         n AS (SELECT vec_id, v,
           sqrt(list_reduce(list_transform(range(1, len(v) + 1), i -> v[i] * v[i]),
                (a, b) -> a + b)) AS nrm
         FROM e),
         vp AS (SELECT x.vec_id AS doc_id,
           list_reduce(list_transform(range(1, len(q.v) + 1), i -> q.v[i] * x.v[i]),
                (a, b) -> a + b) / (q.nrm * x.nrm) AS cos
         FROM n q JOIN n x ON x.vec_id <> q.vec_id
         WHERE q.vec_id = 42),
         vtop AS (SELECT doc_id, rnk FROM (
           SELECT doc_id, row_number() OVER (ORDER BY cos DESC, doc_id) AS rnk FROM vp) t
         WHERE rnk <= 50),
         btk AS (SELECT doc_id,
           list_filter(string_split_regex(lower(text), '\\s+'), x -> len(x) > 0) AS toks
         FROM documents),
         btf AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl,
           CAST(len(list_filter(toks, x -> x = 'dup')) AS BIGINT) AS tf0,
           CAST(len(list_filter(toks, x -> x = 'row')) AS BIGINT) AS tf1,
           CAST(len(list_filter(toks, x -> x = 'vector')) AS BIGINT) AS tf2
         FROM btk),
         bst AS (SELECT count(*) AS n, sum(dl) AS sdl,
           sum(CASE WHEN tf0 > 0 THEN 1 ELSE 0 END) AS df0,
           sum(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END) AS df1,
           sum(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END) AS df2
         FROM btf),
         bsc AS (SELECT doc_id, round(
             ln(1.0 + (CAST(n AS DOUBLE) - CAST(df0 AS DOUBLE) + 0.5) / (CAST(df0 AS DOUBLE) + 0.5))
               * (CAST(tf0 AS DOUBLE) * (1.2 + 1.0))
               / (CAST(tf0 AS DOUBLE) + 1.2 * (1.0 - 0.75 + 0.75 * CAST(dl AS DOUBLE) / (CAST(sdl AS DOUBLE) / CAST(n AS DOUBLE))))
           + ln(1.0 + (CAST(n AS DOUBLE) - CAST(df1 AS DOUBLE) + 0.5) / (CAST(df1 AS DOUBLE) + 0.5))
               * (CAST(tf1 AS DOUBLE) * (1.2 + 1.0))
               / (CAST(tf1 AS DOUBLE) + 1.2 * (1.0 - 0.75 + 0.75 * CAST(dl AS DOUBLE) / (CAST(sdl AS DOUBLE) / CAST(n AS DOUBLE))))
           + ln(1.0 + (CAST(n AS DOUBLE) - CAST(df2 AS DOUBLE) + 0.5) / (CAST(df2 AS DOUBLE) + 0.5))
               * (CAST(tf2 AS DOUBLE) * (1.2 + 1.0))
               / (CAST(tf2 AS DOUBLE) + 1.2 * (1.0 - 0.75 + 0.75 * CAST(dl AS DOUBLE) / (CAST(sdl AS DOUBLE) / CAST(n AS DOUBLE)))),
           4) AS score
         FROM btf CROSS JOIN bst),
         btop AS (SELECT doc_id, rnk FROM (
           SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id) AS rnk
           FROM bsc WHERE score > 0) t
         WHERE rnk <= 50),
         contrib AS (
           SELECT doc_id,
             CAST(round(1.0 / (60.0 + CAST(rnk AS DOUBLE)), 12) AS DECIMAL(20,12)) AS c
           FROM btop
           UNION ALL
           SELECT doc_id,
             CAST(round(1.0 / (60.0 + CAST(rnk AS DOUBLE)), 12) AS DECIMAL(20,12)) AS c
           FROM vtop),
         fused AS (SELECT doc_id,
             round(CAST(sum(c) AS DOUBLE), 10) AS rrf_score,
             CAST(count(*) AS BIGINT) AS n_systems
           FROM contrib GROUP BY doc_id)
         SELECT doc_id, rank, rrf_score, n_systems FROM (
           SELECT doc_id,
             CAST(row_number() OVER (ORDER BY rrf_score DESC, doc_id) AS BIGINT) AS rank,
             rrf_score, n_systems
           FROM fused) t
         WHERE rank <= 20 ORDER BY rank""")),

    // HYBRID retrieval at CHUNK granularity against the PERSISTED index —
    // the full RAG serving stack in one plan: lexical = BM25 over the
    // chunked corpus (packed (doc_id, chunk_id) identity, the
    // chunk_index_search id discipline), vector = IVFPQ search of the
    // saved VectorIndexStore (codebooks + postings only at query time),
    // fused by RRF with provenance unpacked by exact div/mod. Both
    // inputs are top-50 lists, so the fusion never sees the corpus.
    // Chunk-granularity hybrid: the chunk_index_search IVFPQ modeling
    // (one query chunk, nprobe 2, top-50) fused with generated chunk-
    // level BM25 (bm25BatchSql over the chunks CTE, top-50) by the
    // hybrid_topk RRF replay; provenance unpacked by exact div/mod.
    Entry("hybrid_chunk_search", { (s, dir) =>
      hybridChunkServe(s, dir, chunkIndexBuild(s, dir))
    }, Sql(
      s"""WITH chunks AS (
           SELECT doc_id * 1000000 + (cs - 1) // 160 AS doc_id,
             substr(text, CAST(cs AS INT), 200) AS text
           FROM (SELECT doc_id, text,
                   unnest(range(1, greatest(len(text) - 40, 1) + 1, 160)) AS cs
                 FROM documents)),
         ${bm25BatchSql("chunks", Seq((0L, Seq("dup", "row", "vector"))), 50)},
         ${docEmbedSqlOn("chunks")},
         e AS (SELECT vec_id, list(CAST(v AS DOUBLE) ORDER BY bucket) AS v
           FROM de GROUP BY vec_id),
         n AS (SELECT vec_id, v,
           sqrt(list_reduce(list_transform(range(1, len(v) + 1), i -> v[i] * v[i]),
                (a, b) -> a + b)) AS nrm
         FROM e),
         c AS (SELECT vec_id AS cent_id, v AS cv, nrm AS cnrm FROM n
           WHERE vec_id % 163 = 1),
         ac AS (SELECT n.vec_id, c.cent_id,
           list_reduce(list_transform(range(1, len(n.v) + 1), i -> n.v[i] * c.cv[i]),
                (a, b) -> a + b) / (n.nrm * c.cnrm) AS cos_c
         FROM n CROSS JOIN c),
         acr AS (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY cos_c DESC, cent_id) AS rn
           FROM ac),
         ce AS (SELECT vec_id,
           list_transform(range(0, 8), mi ->
             list_transform(range(0, 16), ci ->
               list_reduce(list_transform(range(0, 2), di ->
                 (v[mi * 2 + di + 1] - ((CAST('0x' || substr(md5('pq|' || mi::VARCHAR || '|' || ci::VARCHAR || '|' || (di + 1)::VARCHAR), 1, 15) AS BIGINT) % 2001 - 1000) / 1000.0))
                 * (v[mi * 2 + di + 1] - ((CAST('0x' || substr(md5('pq|' || mi::VARCHAR || '|' || ci::VARCHAR || '|' || (di + 1)::VARCHAR), 1, 15) AS BIGINT) % 2001 - 1000) / 1000.0))),
                 (a, b) -> a + b))) AS dss
         FROM e),
         t AS (SELECT vec_id, dss,
           list_transform(dss, ds -> list_position(ds, list_min(ds)) - 1) AS codes
         FROM ce),
         idx AS (SELECT acr.vec_id, acr.cent_id, t.codes
           FROM acr JOIN t ON acr.vec_id = t.vec_id WHERE acr.rn = 1),
         q AS (SELECT acr.vec_id AS query_id, acr.cent_id AS qcent, t.dss AS qlut
           FROM acr JOIN t ON acr.vec_id = t.vec_id
           WHERE acr.rn <= 2 AND acr.vec_id = 42000000),
         p AS (SELECT q.query_id, x.vec_id AS neighbor_id,
           list_reduce(list_transform(range(0, 8), mi ->
             qlut[mi + 1][CAST(x.codes[mi + 1] + 1 AS INT)]), (a, b) -> a + b) AS adist
         FROM idx x JOIN q ON x.cent_id = q.qcent),
         r AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY adist, neighbor_id) AS rnk
         FROM p),
         vtop AS (SELECT neighbor_id AS doc_id, rnk FROM r WHERE rnk <= 50),
         contrib AS (
           SELECT doc_id,
             CAST(round(1.0 / (60.0 + CAST(rank AS DOUBLE)), 12) AS DECIMAL(20,12)) AS c
           FROM bqt
           UNION ALL
           SELECT doc_id,
             CAST(round(1.0 / (60.0 + CAST(rnk AS DOUBLE)), 12) AS DECIMAL(20,12)) AS c
           FROM vtop),
         fused AS (SELECT doc_id,
             round(CAST(sum(c) AS DOUBLE), 10) AS rrf_score,
             CAST(count(*) AS BIGINT) AS n_systems
           FROM contrib GROUP BY doc_id),
         fr AS (SELECT doc_id,
             CAST(row_number() OVER (ORDER BY rrf_score DESC, doc_id) AS BIGINT) AS frank,
             rrf_score, n_systems
           FROM fused)
         SELECT CAST(doc_id // 1000000 AS BIGINT) AS doc_id,
           doc_id % 1000000 AS chunk_id,
           frank AS "rank", rrf_score, n_systems
         FROM fr WHERE frank <= 20 ORDER BY frank""")),

    Entry("quality_score", (s, dir) =>
      TextAnalysis.qualityScore(cat(s, dir).table("documents")).orderBy("doc_id"),
      Sql(
      """WITH t AS (SELECT doc_id, text,
           list_filter(string_split_regex(lower(text), '\s+'), x -> len(x) > 0) AS toks
         FROM documents),
         t2 AS (SELECT *, CAST(greatest(len(toks), 1) AS BIGINT) AS n_tok,
           len(list_filter(toks, x -> list_contains(
             ['the','a','an','and','of','to','in','is','it','that'], x))) AS n_stop
         FROM t)
         SELECT doc_id,
           CAST(len(text) AS BIGINT) AS n_chars,
           CAST(len(toks) AS BIGINT) AS n_tokens,
           round(CAST(len(text) AS DOUBLE) / n_tok, 4) AS chars_per_token,
           CAST(len(regexp_extract_all(text, '[.,;:!?]')) AS BIGINT) AS punct_count,
           round(CAST(n_stop AS DOUBLE) / n_tok, 4) AS stopword_ratio,
           (len(toks) >= 5 AND len(text) >= 40 AND n_stop > 0) AS passes_quality
         FROM t2 ORDER BY doc_id""")),

    // Per-language routed gate vs the English-only gate, side by side —
    // the multilingual pipeline's filter (each doc judged by its own
    // lang tag's battery; zh has no pack and falls back to en).
    Entry("quality_by_lang", (s, dir) =>
      cat(s, dir).table("documents")
        .select(col("doc_id"), col("lang"),
          TextAnalysis.passesQualityFor(col("text"), col("lang")).as("passes_routed"),
          TextAnalysis.passesQuality(col("text")).as("passes_en"))
        .orderBy("doc_id"),
      Sql(
      """WITH t AS (SELECT doc_id, lang, text,
           list_filter(string_split_regex(lower(text), '\s+'), x -> len(x) > 0) AS toks
         FROM documents),
         t2 AS (SELECT *,
           len(list_filter(toks, x -> list_contains(CASE lang
             WHEN 'de' THEN ['der','die','das','und','ist','nicht','ein','eine','zu','den','von','mit','auf','sich','dem']
             WHEN 'es' THEN ['el','la','los','las','y','es','que','de','en','un','una','por','con','no','se']
             WHEN 'fr' THEN ['le','la','les','et','est','une','dans','de','un','du','des','que','pour','pas','sur']
             WHEN 'ru' THEN ['и','в','не','на','я','что','с','он','как','это','по','но','его','к','у']
             ELSE ['the','a','an','and','of','to','in','is','it','that'] END, x))) AS n_stop_routed,
           len(list_filter(toks, x -> list_contains(
             ['the','a','an','and','of','to','in','is','it','that'], x))) AS n_stop_en
         FROM t)
         SELECT doc_id, lang,
           (len(toks) >= 5 AND len(text) >= 40 AND n_stop_routed > 0) AS passes_routed,
           (len(toks) >= 5 AND len(text) >= 40 AND n_stop_en > 0) AS passes_en
         FROM t2 ORDER BY doc_id""")),

    Entry("lang_id", (s, dir) =>
      TextAnalysis.langId(cat(s, dir).table("documents")).orderBy("doc_id"),
      Sql(
      """WITH t AS (SELECT doc_id,
           list_filter(string_split_regex(lower(text), '\s+'), x -> len(x) > 0) AS toks
         FROM documents),
         s AS (SELECT doc_id,
           CAST(len(list_filter(toks, x -> list_contains(['der','die','das','und','ist','nicht'], x))) AS BIGINT) AS score_de,
           CAST(len(list_filter(toks, x -> list_contains(['the','a','an','and','of','to','in','is','it','that'], x))) AS BIGINT) AS score_en,
           CAST(len(list_filter(toks, x -> list_contains(['el','los','las','y','es','que'], x))) AS BIGINT) AS score_es,
           CAST(len(list_filter(toks, x -> list_contains(['le','les','et','est','une','dans'], x))) AS BIGINT) AS score_fr,
           CAST(len(list_filter(toks, x -> list_contains(['и','в','не','на','что','с'], x))) AS BIGINT) AS score_ru,
           CAST(len(list_filter(toks, x -> list_contains(['的','是','了','在','我'], x))) AS BIGINT) AS score_zh
         FROM t)
         SELECT doc_id,
           CASE
             WHEN score_de = greatest(score_de, score_en, score_es, score_fr, score_ru, score_zh)
              AND greatest(score_de, score_en, score_es, score_fr, score_ru, score_zh) > 0 THEN 'de'
             WHEN score_en = greatest(score_de, score_en, score_es, score_fr, score_ru, score_zh)
              AND greatest(score_de, score_en, score_es, score_fr, score_ru, score_zh) > 0 THEN 'en'
             WHEN score_es = greatest(score_de, score_en, score_es, score_fr, score_ru, score_zh)
              AND greatest(score_de, score_en, score_es, score_fr, score_ru, score_zh) > 0 THEN 'es'
             WHEN score_fr = greatest(score_de, score_en, score_es, score_fr, score_ru, score_zh)
              AND greatest(score_de, score_en, score_es, score_fr, score_ru, score_zh) > 0 THEN 'fr'
             WHEN score_ru = greatest(score_de, score_en, score_es, score_fr, score_ru, score_zh)
              AND greatest(score_de, score_en, score_es, score_fr, score_ru, score_zh) > 0 THEN 'ru'
             WHEN score_zh = greatest(score_de, score_en, score_es, score_fr, score_ru, score_zh)
              AND greatest(score_de, score_en, score_es, score_fr, score_ru, score_zh) > 0 THEN 'zh'
             ELSE 'und' END AS lang_pred,
           score_de, score_en, score_es, score_fr, score_ru, score_zh
         FROM s ORDER BY doc_id""")),

    Entry("dedup_exact", (s, dir) =>
      TextAnalysis.dedupExact(cat(s, dir).table("documents")).orderBy("keep_id"),
      Sql(
      """SELECT md5(text) AS text_md5, CAST(min(doc_id) AS BIGINT) AS keep_id,
           count(*) AS n_copies
         FROM documents GROUP BY 1 ORDER BY keep_id""")),

    // Incremental ingest dedup: the synthetic corpus has no exact dups, so
    // (pii_scrub-style) the demo constructs a batch that exercises every
    // path — texts already in the corpus (dropped), novel texts (kept),
    // and a within-batch duplicate pair (collapsed, n_copies = 2).
    Entry("incremental_dedup", { (s, dir) =>
      val docs = cat(s, dir).table("documents")
      val fromCorpus = docs.where(col("doc_id") % 7 === 0)
        .select((col("doc_id") + 100000).as("doc_id"), col("text"))
      val novelA = docs.where(col("doc_id") % 7 === 1)
        .select((col("doc_id") + 100000).as("doc_id"),
          concat(col("text"), lit(" fresh")).as("text"))
      val novelB = docs.where(col("doc_id") % 7 === 1)
        .select((col("doc_id") + 200000).as("doc_id"),
          concat(col("text"), lit(" fresh")).as("text"))
      Dedup.incrementalDedup(fromCorpus.unionByName(novelA).unionByName(novelB), docs)
        .orderBy("doc_id")
    }, Sql(
      """WITH batch AS (
           SELECT doc_id + 100000 AS doc_id, text
           FROM documents WHERE doc_id % 7 = 0
           UNION ALL
           SELECT doc_id + 100000 AS doc_id, text || ' fresh' AS text
           FROM documents WHERE doc_id % 7 = 1
           UNION ALL
           SELECT doc_id + 200000 AS doc_id, text || ' fresh' AS text
           FROM documents WHERE doc_id % 7 = 1
         ),
         canon AS (
           SELECT md5(text) AS text_md5, CAST(min(doc_id) AS BIGINT) AS doc_id,
             count(*) AS n_copies
           FROM batch GROUP BY 1
         )
         SELECT doc_id, text_md5, n_copies FROM canon
         WHERE NOT EXISTS (
           SELECT 1 FROM documents e WHERE md5(e.text) = canon.text_md5)
         ORDER BY doc_id""")),

    // Sketch form of incremental_dedup: same constructed batch, corpus
    // compressed to one Bloom filter, batch filtered map-side.
    Entry("bloom_ingest_dedup", { (s, dir) =>
      val docs = cat(s, dir).table("documents")
      val fromCorpus = docs.where(col("doc_id") % 7 === 0)
        .select((col("doc_id") + 100000).as("doc_id"), col("text"))
      val novelA = docs.where(col("doc_id") % 7 === 1)
        .select((col("doc_id") + 100000).as("doc_id"),
          concat(col("text"), lit(" fresh")).as("text"))
      val novelB = docs.where(col("doc_id") % 7 === 1)
        .select((col("doc_id") + 200000).as("doc_id"),
          concat(col("text"), lit(" fresh")).as("text"))
      Dedup.bloomIngestDedup(
          fromCorpus.unionByName(novelA).unionByName(novelB), docs)
        .orderBy("doc_id")
    }, Exempt("a Bloom filter's false-positive set is implementation-" +
      "defined: no SQL engine replays Spark's sketch bit for bit; DedupSpec " +
      "asserts its exactness properties against incrementalDedup")),

    // The production ingest LOOP against a persisted fingerprint artifact
    // (FingerprintStore): found the store from one half of the corpus,
    // dedup epoch-1 batch against the LOADED digests, fold the survivors
    // back in (append), then dedup epoch-2 against the updated store —
    // the accepted corpus's text is reduced exactly once, every later
    // epoch touches only 16-byte keys.
    Entry("fingerprint_ingest", { (s, dir) =>
      val docs = cat(s, dir).table("documents")
      val store = Harness.tempStore("graft-fpstore")
      FingerprintStore.save(docs.where(col("doc_id") % 2 === 0), store)
      val b1 = docs.where(col("doc_id") % 3 === 0)
        .select(col("doc_id"), col("text"))
      val s1 = Dedup.incrementalDedupFp(
        b1, FingerprintStore.loadFingerprints(s, store))
      FingerprintStore.appendFingerprints(s1.select(col("text_md5")), store)
      val b2 = docs.where(col("doc_id") % 5 === 0)
        .select(col("doc_id"), col("text"))
      Dedup.incrementalDedupFp(
          b2, FingerprintStore.loadFingerprints(s, store))
        .orderBy("doc_id")
    }, Sql(
      """WITH canon AS (
           SELECT md5(text) AS text_md5, CAST(min(doc_id) AS BIGINT) AS doc_id,
             count(*) AS n_copies
           FROM documents WHERE doc_id % 5 = 0 GROUP BY 1
         )
         SELECT doc_id, text_md5, n_copies FROM canon
         WHERE NOT EXISTS (
           SELECT 1 FROM documents e
           WHERE (e.doc_id % 2 = 0 OR e.doc_id % 3 = 0)
             AND md5(e.text) = canon.text_md5)
         ORDER BY doc_id""")),

    // Sketch arm of the same loop: epoch-2 batch filtered MAP-SIDE by the
    // store's persisted Bloom sketch — zero jobs against the corpus.
    Entry("fingerprint_bloom", { (s, dir) =>
      val docs = cat(s, dir).table("documents")
      val store = Harness.tempStore("graft-fpbloom")
      FingerprintStore.save(docs.where(col("doc_id") % 2 === 0), store)
      val b2 = docs.where(col("doc_id") % 5 === 0)
        .select(col("doc_id"), col("text"))
      Dedup.bloomSketchDedup(
          b2, FingerprintStore.loadBloom(s, store)._1)
        .orderBy("doc_id")
    }, Exempt("a Bloom filter's false-positive set is implementation-" +
      "defined (the bloom_ingest_dedup case); FingerprintStoreSpec asserts " +
      "no false negatives and a subset of the exact anti-join")),

    Entry("doc_fingerprint", (s, dir) =>
      TextAnalysis.docFingerprint(cat(s, dir).table("documents")).orderBy("doc_id"),
      Sql(
      """WITH t AS (SELECT doc_id,
           list_filter(string_split_regex(lower(text), '\s+'), x -> len(x) > 0) AS toks
         FROM documents),
         sh AS (SELECT doc_id,
           list_distinct(CASE WHEN len(toks) >= 3
             THEN list_transform(range(1, len(toks) - 1),
                    i -> array_to_string(toks[i:i+2], ' '))
             ELSE [] END) AS s
         FROM t),
         h AS (SELECT doc_id,
           list_transform(s, x -> CAST('0x' || substr(md5(x), 1, 15) AS BIGINT)) AS hs,
           len(s) AS ns
         FROM sh WHERE len(s) > 0)
         SELECT doc_id,
           list_min(hs) AS fp_min,
           list_max(hs) AS fp_max,
           list_reduce(hs, (a, b) -> xor(a, b)) AS fp_xor,
           CAST(ns AS BIGINT) AS n_shingles
         FROM h ORDER BY doc_id""")),

    // ── LLM-data-pipeline: near-duplicate detection ──────────────────────
    Entry("dedup_minhash", (s, dir) =>
      Dedup.minhashPairs(cat(s, dir).table("documents")).orderBy("doc_a", "doc_b"),
      Sql(
      """WITH t AS (SELECT doc_id,
           list_filter(string_split_regex(lower(text), '\s+'), x -> len(x) > 0) AS toks
         FROM documents),
         sh AS (SELECT doc_id,
           list_distinct(CASE WHEN len(toks) >= 3
             THEN list_transform(range(1, len(toks) - 1),
                    i -> array_to_string(toks[i:i+2], ' '))
             ELSE [] END) AS s
         FROM t),
         sg AS (SELECT doc_id, s,
           list_transform(range(0, 16), i -> list_min(list_transform(s,
             x -> ((CAST('0x' || substr(md5(x), 1, 15) AS BIGINT) % 1073741824)
               * ([8996855, 469992016, 2004217628, 1334294656, 768128343, 2105057655, 1160867219, 479758600, 1419844726, 1603376584, 210333, 1211524435, 710539482, 258642846, 794256414, 579260634][i + 1])
               + ([405351280, 2046289441, 1592421689, 855095894, 760324133, 1694457692, 292335934, 554079960, 966378448, 485777283, 440949495, 1180586447, 1230674157, 2111880311, 85434598, 657399781][i + 1])) % 2147483647))) AS sig
         FROM sh WHERE len(s) > 0),
         bands AS (SELECT doc_id,
           r.b::VARCHAR || ':' || sig[2 * r.b + 1]::VARCHAR || ':' || sig[2 * r.b + 2]::VARCHAR AS bkey
         FROM sg CROSS JOIN range(0, 8) r(b)),
         cand AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
         FROM bands x JOIN bands y ON x.bkey = y.bkey AND x.doc_id < y.doc_id),
         v AS (SELECT doc_a, doc_b,
           len(list_intersect(xa.s, yb.s)) AS inter, len(xa.s) AS la, len(yb.s) AS lb,
           len(list_filter(range(1, 17), i -> xa.sig[i] = yb.sig[i])) AS m
         FROM cand JOIN sg xa ON xa.doc_id = doc_a JOIN sg yb ON yb.doc_id = doc_b)
         SELECT doc_a, doc_b, inter / (la + lb - inter) AS jaccard, m / 16 AS est_jaccard
         FROM v WHERE inter / (la + lb - inter) >= 0.5 ORDER BY doc_a, doc_b""")),

    // prices dedup_minhash's verify join before paying it: per-band exact
    // candidate volume from bucket widths alone — no pair materialized
    Entry("lsh_pair_volume", (s, dir) =>
      Dedup.lshPairVolume(cat(s, dir).table("documents")).orderBy("b"),
      Sql(
      """WITH t AS (SELECT doc_id,
           list_filter(string_split_regex(lower(text), '\s+'), x -> len(x) > 0) AS toks
         FROM documents),
         sh AS (SELECT doc_id,
           list_distinct(CASE WHEN len(toks) >= 3
             THEN list_transform(range(1, len(toks) - 1),
                    i -> array_to_string(toks[i:i+2], ' '))
             ELSE [] END) AS s
         FROM t),
         sg AS (SELECT doc_id, s,
           list_transform(range(0, 16), i -> list_min(list_transform(s,
             x -> ((CAST('0x' || substr(md5(x), 1, 15) AS BIGINT) % 1073741824)
               * ([8996855, 469992016, 2004217628, 1334294656, 768128343, 2105057655, 1160867219, 479758600, 1419844726, 1603376584, 210333, 1211524435, 710539482, 258642846, 794256414, 579260634][i + 1])
               + ([405351280, 2046289441, 1592421689, 855095894, 760324133, 1694457692, 292335934, 554079960, 966378448, 485777283, 440949495, 1180586447, 1230674157, 2111880311, 85434598, 657399781][i + 1])) % 2147483647))) AS sig
         FROM sh WHERE len(s) > 0),
         bands AS (SELECT doc_id, r.b,
           r.b::VARCHAR || ':' || sig[2 * r.b + 1]::VARCHAR || ':' || sig[2 * r.b + 2]::VARCHAR AS bkey
         FROM sg CROSS JOIN range(0, 8) r(b)),
         w AS (SELECT b, bkey, count(*) AS w FROM bands GROUP BY 1, 2)
         SELECT CAST(b AS INT) AS b, CAST(count(*) AS BIGINT) AS buckets,
           CAST(sum(w) AS BIGINT) AS docs, CAST(max(w) AS BIGINT) AS max_width,
           CAST(sum(w * (w - 1) // 2) AS BIGINT) AS cand_pairs
         FROM w GROUP BY b ORDER BY b""")),

    Entry("dedup_simhash", (s, dir) =>
      Dedup.simhashPairs(cat(s, dir).table("documents")).orderBy("doc_a", "doc_b"),
      Sql(
      """WITH t AS (SELECT doc_id,
           list_filter(string_split_regex(lower(text), '\s+'), x -> len(x) > 0) AS toks
         FROM documents),
         th AS (SELECT doc_id,
           list_transform(toks, x -> CAST('0x' || substr(md5(x), 1, 15) AS BIGINT)) AS th
         FROM t WHERE len(toks) > 0),
         bits AS (SELECT doc_id, list_transform(range(0, 48), b ->
           CAST(list_sum(list_transform(th, h ->
             CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END)) AS BIGINT)) AS bits
         FROM th),
         s AS (SELECT doc_id, CAST(list_sum(list_transform(range(0, 48), b ->
           CASE WHEN bits[b + 1] > 0 THEN (CAST(1 AS BIGINT) << b) ELSE CAST(0 AS BIGINT) END))
           AS BIGINT) AS sim
         FROM bits)
         SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(bit_count(xor(a.sim, b.sim)) AS BIGINT) AS hamming
         FROM s a JOIN s b ON a.doc_id < b.doc_id
         WHERE bit_count(xor(a.sim, b.sim)) <= 3 ORDER BY doc_a, doc_b""")),

    Entry("ngram_jaccard", (s, dir) =>
      Dedup.ngramJaccard(cat(s, dir).table("documents")).orderBy("doc_a", "doc_b"),
      Sql(
      """WITH t AS (SELECT doc_id,
           list_filter(string_split_regex(lower(text), '\s+'), x -> len(x) > 0) AS toks
         FROM documents),
         sh AS (SELECT doc_id,
           list_distinct(CASE WHEN len(toks) >= 3
             THEN list_transform(range(1, len(toks) - 1),
                    i -> array_to_string(toks[i:i+2], ' '))
             ELSE [] END) AS s
         FROM t),
         ex AS (SELECT doc_id, unnest(list_transform(s,
             x -> CAST('0x' || substr(md5(x), 1, 15) AS BIGINT))) AS sg
           FROM sh WHERE len(s) > 0),
         rare AS (SELECT sg FROM ex GROUP BY sg HAVING count(*) <= 100),
         kept AS (SELECT ex.doc_id, ex.sg FROM ex JOIN rare USING (sg)),
         sz AS (SELECT doc_id, count(*) AS n_sh FROM kept GROUP BY doc_id),
         pr AS (SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, count(*) AS inter
         FROM kept x JOIN kept y ON x.sg = y.sg AND x.doc_id < y.doc_id GROUP BY 1, 2)
         SELECT doc_a, doc_b, inter, CAST(a.n_sh + b.n_sh - inter AS BIGINT) AS uni,
           inter / (a.n_sh + b.n_sh - inter) AS jaccard
         FROM pr JOIN sz a ON a.doc_id = doc_a JOIN sz b ON b.doc_id = doc_b
         WHERE inter / (a.n_sh + b.n_sh - inter) >= 0.3 ORDER BY doc_a, doc_b""")),

    Entry("ngram_containment", (s, dir) =>
      Dedup.ngramContainment(cat(s, dir).table("documents"), minContainment = 0.5)
        .orderBy("doc_a", "doc_b"),
      Sql(
      """WITH t AS (SELECT doc_id,
           list_filter(string_split_regex(lower(text), '\s+'), x -> len(x) > 0) AS toks
         FROM documents),
         sh AS (SELECT doc_id,
           list_distinct(CASE WHEN len(toks) >= 3
             THEN list_transform(range(1, len(toks) - 1),
                    i -> array_to_string(toks[i:i+2], ' '))
             ELSE [] END) AS s
         FROM t),
         ex AS (SELECT doc_id, unnest(list_transform(s,
             x -> CAST('0x' || substr(md5(x), 1, 15) AS BIGINT))) AS sg
           FROM sh WHERE len(s) > 0),
         rare AS (SELECT sg FROM ex GROUP BY sg HAVING count(*) <= 100),
         kept AS (SELECT ex.doc_id, ex.sg FROM ex JOIN rare USING (sg)),
         sz AS (SELECT doc_id, count(*) AS n_sh FROM kept GROUP BY doc_id),
         pr AS (SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, count(*) AS inter
         FROM kept x JOIN kept y ON x.sg = y.sg AND x.doc_id < y.doc_id GROUP BY 1, 2)
         SELECT doc_a, doc_b, inter, a.n_sh AS na, b.n_sh AS nb,
           inter / least(a.n_sh, b.n_sh) AS containment
         FROM pr JOIN sz a ON a.doc_id = doc_a JOIN sz b ON b.doc_id = doc_b
         WHERE inter / least(a.n_sh, b.n_sh) >= 0.5 ORDER BY doc_a, doc_b""")),

    Entry("ngram_scores", (s, dir) =>
      Dedup.ngramScores(cat(s, dir).table("documents"), minContainment = 0.5)
        .orderBy("doc_a", "doc_b"),
      Sql(
      """WITH t AS (SELECT doc_id,
           list_filter(string_split_regex(lower(text), '\s+'), x -> len(x) > 0) AS toks
         FROM documents),
         sh AS (SELECT doc_id,
           list_distinct(CASE WHEN len(toks) >= 3
             THEN list_transform(range(1, len(toks) - 1),
                    i -> array_to_string(toks[i:i+2], ' '))
             ELSE [] END) AS s
         FROM t),
         ex AS (SELECT doc_id, unnest(list_transform(s,
             x -> CAST('0x' || substr(md5(x), 1, 15) AS BIGINT))) AS sg
           FROM sh WHERE len(s) > 0),
         rare AS (SELECT sg FROM ex GROUP BY sg HAVING count(*) <= 100),
         kept AS (SELECT ex.doc_id, ex.sg FROM ex JOIN rare USING (sg)),
         sz AS (SELECT doc_id, count(*) AS n_sh FROM kept GROUP BY doc_id),
         pr AS (SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, count(*) AS inter
         FROM kept x JOIN kept y ON x.sg = y.sg AND x.doc_id < y.doc_id GROUP BY 1, 2)
         SELECT doc_a, doc_b, inter, a.n_sh AS na, b.n_sh AS nb,
           inter / (a.n_sh + b.n_sh - inter) AS jaccard,
           inter / least(a.n_sh, b.n_sh) AS containment
         FROM pr JOIN sz a ON a.doc_id = doc_a JOIN sz b ON b.doc_id = doc_b
         WHERE inter / (a.n_sh + b.n_sh - inter) >= 0.3
            OR inter / least(a.n_sh, b.n_sh) >= 0.5 ORDER BY doc_a, doc_b""")),

    Entry("dedup_groups", (s, dir) =>
      Dedup.dedupGroups(Dedup.minhashPairs(cat(s, dir).table("documents")))
        .orderBy("doc_id"),
      Sql(
      """WITH RECURSIVE t AS (SELECT doc_id,
           list_filter(string_split_regex(lower(text), '\s+'), x -> len(x) > 0) AS toks
         FROM documents),
         sh AS (SELECT doc_id,
           list_distinct(CASE WHEN len(toks) >= 3
             THEN list_transform(range(1, len(toks) - 1),
                    i -> array_to_string(toks[i:i+2], ' '))
             ELSE [] END) AS s
         FROM t),
         sg AS (SELECT doc_id, s,
           list_transform(range(0, 16), i -> list_min(list_transform(s,
             x -> ((CAST('0x' || substr(md5(x), 1, 15) AS BIGINT) % 1073741824)
               * ([8996855, 469992016, 2004217628, 1334294656, 768128343, 2105057655, 1160867219, 479758600, 1419844726, 1603376584, 210333, 1211524435, 710539482, 258642846, 794256414, 579260634][i + 1])
               + ([405351280, 2046289441, 1592421689, 855095894, 760324133, 1694457692, 292335934, 554079960, 966378448, 485777283, 440949495, 1180586447, 1230674157, 2111880311, 85434598, 657399781][i + 1])) % 2147483647))) AS sig
         FROM sh WHERE len(s) > 0),
         bands AS (SELECT doc_id,
           r.b::VARCHAR || ':' || sig[2 * r.b + 1]::VARCHAR || ':' || sig[2 * r.b + 2]::VARCHAR AS bkey
         FROM sg CROSS JOIN range(0, 8) r(b)),
         cand AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
         FROM bands x JOIN bands y ON x.bkey = y.bkey AND x.doc_id < y.doc_id),
         v AS (SELECT doc_a, doc_b,
           len(list_intersect(xa.s, yb.s)) AS inter, len(xa.s) AS la, len(yb.s) AS lb
         FROM cand JOIN sg xa ON xa.doc_id = doc_a JOIN sg yb ON yb.doc_id = doc_b),
         mp AS (SELECT doc_a, doc_b FROM v WHERE inter / (la + lb - inter) >= 0.5),
         e AS (SELECT doc_a AS s, doc_b AS d FROM mp UNION SELECT doc_b, doc_a FROM mp),
         reach(id, r) AS (
           SELECT s, s FROM e GROUP BY s
           UNION
           SELECT e.s, reach.r FROM e JOIN reach ON reach.id = e.d
         )
         SELECT id AS doc_id, min(r) AS group_id FROM reach GROUP BY id ORDER BY doc_id""")),

    Entry("strip_dup_spans", (s, dir) =>
      Dedup.stripDupSpans(cat(s, dir).table("documents"), w = 15, stride = 5)
        .orderBy("doc_id"),
      Sql(
      """WITH t AS (SELECT doc_id,
           list_filter(string_split_regex(lower(text), '\s+'), x -> len(x) > 0) AS toks
         FROM documents),
         sp AS (SELECT doc_id, unnest(CASE WHEN len(toks) >= 15 THEN
             list_transform(range(1, len(toks) - 14 + 1, 5), p ->
               struct_pack(span_start := p,
                 span_hash := CAST('0x' || substr(md5(array_to_string(toks[p:p+14], ' ')), 1, 15) AS BIGINT)))
             ELSE [] END) AS s
         FROM t),
         e AS (SELECT doc_id, CAST(s.span_start AS BIGINT) AS span_start, s.span_hash AS span_hash
         FROM sp),
         hot AS (SELECT span_hash FROM e GROUP BY 1 HAVING count(DISTINCT doc_id) >= 2),
         drops AS (SELECT e.doc_id, list_sort(list_distinct(list(e.span_start))) AS starts
         FROM e JOIN hot USING (span_hash) GROUP BY e.doc_id)
         SELECT t.doc_id,
           -- COALESCE: DuckDB's array_to_string([]) is NULL, Spark's
           -- array_join([]) is '' — a fully-stripped doc must agree
           COALESCE(array_to_string(list_filter(t.toks, (x, i) ->
             len(list_filter(COALESCE(drops.starts, []), s -> s <= i AND i < s + 15)) = 0), ' '), '') AS text_clean,
           len(t.toks) AS n_tokens,
           len(t.toks) - len(list_filter(t.toks, (x, i) ->
             len(list_filter(COALESCE(drops.starts, []), s -> s <= i AND i < s + 15)) = 0)) AS n_tokens_removed
         FROM t LEFT JOIN drops USING (doc_id) ORDER BY doc_id""")),

    Entry("dup_spans", (s, dir) =>
      Dedup.dupSpans(cat(s, dir).table("documents"), w = 15, stride = 5)
        .orderBy("doc_id", "span_start", "span_hash"),
      Sql(
      """WITH t AS (SELECT doc_id,
           list_filter(string_split_regex(lower(text), '\s+'), x -> len(x) > 0) AS toks
         FROM documents),
         sp AS (SELECT doc_id, unnest(CASE WHEN len(toks) >= 15 THEN
             list_transform(range(1, len(toks) - 14 + 1, 5), p ->
               struct_pack(span_start := p,
                 span_hash := CAST('0x' || substr(md5(array_to_string(toks[p:p+14], ' ')), 1, 15) AS BIGINT)))
             ELSE [] END) AS s
         FROM t),
         e AS (SELECT doc_id, CAST(s.span_start AS BIGINT) AS span_start, s.span_hash AS span_hash
         FROM sp),
         hot AS (SELECT span_hash, count(DISTINCT doc_id) AS n_docs
         FROM e GROUP BY 1 HAVING count(DISTINCT doc_id) >= 2)
         SELECT e.doc_id, e.span_start, e.span_hash, hot.n_docs
         FROM e JOIN hot USING (span_hash) ORDER BY doc_id, span_start, span_hash""")),

    // ingest-shape FUZZY dedup: the last-quintile ids as the new batch,
    // scored against the accepted corpus's persisted inverted index
    // (same split as incremental_dedup — that one catches exact copies,
    // this one near-copies)
    Entry("ngram_index_dedup", { (s, dir) =>
      val docs = cat(s, dir).table("documents")
      Dedup.ngramIndexDedup(
          docs.where(col("doc_id") % 10 >= 8),
          Dedup.ngramIndex(docs.where(col("doc_id") % 10 < 8)),
          minContainment = 0.5)
        .orderBy("batch_id", "corpus_id")
    }, Sql(
      """WITH t AS (SELECT doc_id,
           list_filter(string_split_regex(lower(text), '\s+'), x -> len(x) > 0) AS toks
         FROM documents),
         sh AS (SELECT doc_id,
           list_distinct(CASE WHEN len(toks) >= 3
             THEN list_transform(range(1, len(toks) - 1),
                    i -> array_to_string(toks[i:i+2], ' '))
             ELSE [] END) AS s
         FROM t),
         ex AS (SELECT doc_id, unnest(list_transform(s,
             x -> CAST('0x' || substr(md5(x), 1, 15) AS BIGINT))) AS sg
           FROM sh WHERE len(s) > 0),
         bex AS (SELECT doc_id AS batch_id, sg FROM ex WHERE doc_id % 10 >= 8),
         idx AS (SELECT doc_id, sg FROM ex WHERE doc_id % 10 < 8),
         rare AS (SELECT sg FROM idx GROUP BY sg HAVING count(*) <= 100),
         kept AS (SELECT idx.doc_id, idx.sg FROM idx JOIN rare USING (sg)),
         bsz AS (SELECT batch_id, count(*) AS nb FROM bex GROUP BY 1),
         pr AS (SELECT b.batch_id, k.doc_id AS corpus_id, count(*) AS inter
         FROM kept k JOIN bex b ON k.sg = b.sg GROUP BY 1, 2)
         SELECT pr.batch_id, pr.corpus_id, pr.inter, bsz.nb,
           pr.inter / bsz.nb AS containment
         FROM pr JOIN bsz USING (batch_id)
         WHERE pr.inter / bsz.nb >= 0.5
         ORDER BY batch_id, corpus_id""")),

    // The fuzzy-ingest LOOP against a persisted SIGNATURE artifact
    // (MinHashStore) — fingerprint_ingest's near-dup sibling: found the
    // store from half the corpus, gate epoch-1's batch by estimated
    // Jaccard against the LOADED signatures, fold the surviving docs back
    // in (append), then gate epoch-2 against the updated store — the
    // accepted corpus's text is signature-reduced exactly once.
    // replays the two-epoch signature-store loop: epoch-1 flags (batch
    // %3 vs corpus %2) decide the survivors appended to the store;
    // epoch-2 gates batch %5 against corpus ∪ survivors — sig arithmetic
    // identical to dedup_minhash's
    Entry("minhash_ingest_dedup", { (s, dir) =>
      val docs = cat(s, dir).table("documents")
      val store = Harness.tempStore("graft-mhstore")
      MinHashStore.save(docs.where(col("doc_id") % 2 === 0), store)
      val b1 = docs.where(col("doc_id") % 3 === 0)
        .select(col("doc_id"), col("text"))
      val f1 = Dedup.minhashIngestDedup(b1, MinHashStore.load(s, store))
      MinHashStore.append(
        b1.join(f1.select(col("batch_id").as("doc_id")).distinct(),
          Seq("doc_id"), "left_anti"),
        store)
      val b2 = docs.where(col("doc_id") % 5 === 0)
        .select(col("doc_id"), col("text"))
      Dedup.minhashIngestDedup(b2, MinHashStore.load(s, store))
        .orderBy("batch_id", "corpus_id")
    }, Sql(
      """WITH t AS (SELECT doc_id,
           list_filter(string_split_regex(lower(text), '\s+'), x -> len(x) > 0) AS toks
         FROM documents),
         sh AS (SELECT doc_id,
           list_distinct(CASE WHEN len(toks) >= 3
             THEN list_transform(range(1, len(toks) - 1),
                    i -> array_to_string(toks[i:i+2], ' '))
             ELSE [] END) AS s
         FROM t),
         sg AS (SELECT doc_id,
           list_transform(range(0, 16), i -> list_min(list_transform(s,
             x -> ((CAST('0x' || substr(md5(x), 1, 15) AS BIGINT) % 1073741824)
               * ([8996855, 469992016, 2004217628, 1334294656, 768128343, 2105057655, 1160867219, 479758600, 1419844726, 1603376584, 210333, 1211524435, 710539482, 258642846, 794256414, 579260634][i + 1])
               + ([405351280, 2046289441, 1592421689, 855095894, 760324133, 1694457692, 292335934, 554079960, 966378448, 485777283, 440949495, 1180586447, 1230674157, 2111880311, 85434598, 657399781][i + 1])) % 2147483647))) AS sig
         FROM sh WHERE len(s) > 0),
         bd AS (SELECT doc_id, sig,
           r.b::VARCHAR || ':' || sig[2 * r.b + 1]::VARCHAR || ':' || sig[2 * r.b + 2]::VARCHAR AS bkey
         FROM sg CROSS JOIN range(0, 8) r(b)),
         f1 AS (SELECT DISTINCT x.doc_id AS batch_id
         FROM bd x JOIN bd y ON x.bkey = y.bkey
         WHERE x.doc_id % 3 = 0 AND y.doc_id % 2 = 0
           AND len(list_filter(range(1, 17), i -> x.sig[i] = y.sig[i])) / 16 >= 0.5),
         corpus2 AS (
           SELECT doc_id, sig FROM sg WHERE doc_id % 2 = 0
           UNION ALL
           SELECT doc_id, sig FROM sg WHERE doc_id % 3 = 0
             AND doc_id NOT IN (SELECT batch_id FROM f1)),
         bd2 AS (SELECT doc_id, sig,
           r.b::VARCHAR || ':' || sig[2 * r.b + 1]::VARCHAR || ':' || sig[2 * r.b + 2]::VARCHAR AS bkey
         FROM corpus2 CROSS JOIN range(0, 8) r(b)),
         p2 AS (SELECT DISTINCT x.doc_id AS batch_id, y.doc_id AS corpus_id,
           len(list_filter(range(1, 17), i -> x.sig[i] = y.sig[i])) AS m
         FROM bd x JOIN bd2 y ON x.bkey = y.bkey
         WHERE x.doc_id % 5 = 0
           AND len(list_filter(range(1, 17), i -> x.sig[i] = y.sig[i])) / 16 >= 0.5)
         SELECT batch_id, corpus_id, m / 16 AS est_jaccard
         FROM p2 ORDER BY batch_id, corpus_id""")),

    // The Hamming-bounded fuzzy-ingest LOOP (SimHashStore) — the
    // minhash_ingest_dedup sibling that completes the fuzzy store
    // family: same two-epoch save/gate/append/gate shape, but the gate
    // is EXACT over the carried 48-bit signatures (4-chunk pigeonhole,
    // hamming <= 3) instead of Jaccard-estimated.
    // Two-epoch simhash ingest loop: the chunk-banded gate is EXACT for
    // hamming <= 3 (pigeonhole), so the oracle models it as the brute
    // Hamming join; epoch 2's corpus = founding evens + epoch-1
    // survivors, the minhash_ingest_dedup corpus2 shape.
    Entry("simhash_ingest_dedup", { (s, dir) =>
      val docs = cat(s, dir).table("documents")
      val store = Harness.tempStore("graft-shstore")
      SimHashStore.save(docs.where(col("doc_id") % 2 === 0), store)
      val b1 = docs.where(col("doc_id") % 3 === 0)
        .select(col("doc_id"), col("text"))
      val f1 = Dedup.simhashIngestDedup(b1, SimHashStore.load(s, store))
      SimHashStore.append(
        b1.join(f1.select(col("batch_id").as("doc_id")).distinct(),
          Seq("doc_id"), "left_anti"),
        store)
      val b2 = docs.where(col("doc_id") % 5 === 0)
        .select(col("doc_id"), col("text"))
      Dedup.simhashIngestDedup(b2, SimHashStore.load(s, store))
        .orderBy("batch_id", "corpus_id")
    }, Sql(
      """WITH t AS (SELECT doc_id,
           list_filter(string_split_regex(lower(text), '\s+'), x -> len(x) > 0) AS toks
         FROM documents),
         th AS (SELECT doc_id,
           list_transform(toks, x -> CAST('0x' || substr(md5(x), 1, 15) AS BIGINT)) AS th
         FROM t WHERE len(toks) > 0),
         bits AS (SELECT doc_id, list_transform(range(0, 48), b ->
           CAST(list_sum(list_transform(th, h ->
             CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END)) AS BIGINT)) AS bits
         FROM th),
         s AS (SELECT doc_id, CAST(list_sum(list_transform(range(0, 48), b ->
           CASE WHEN bits[b + 1] > 0 THEN (CAST(1 AS BIGINT) << b) ELSE CAST(0 AS BIGINT) END))
           AS BIGINT) AS sim
         FROM bits),
         f1 AS (SELECT DISTINCT x.doc_id AS batch_id
         FROM s x JOIN s y ON bit_count(xor(x.sim, y.sim)) <= 3
         WHERE x.doc_id % 3 = 0 AND y.doc_id % 2 = 0),
         corpus2 AS (
           SELECT doc_id, sim FROM s WHERE doc_id % 2 = 0
           UNION ALL
           SELECT doc_id, sim FROM s WHERE doc_id % 3 = 0
             AND doc_id NOT IN (SELECT batch_id FROM f1))
         SELECT DISTINCT x.doc_id AS batch_id, y.doc_id AS corpus_id,
           CAST(bit_count(xor(x.sim, y.sim)) AS BIGINT) AS hamming
         FROM s x JOIN corpus2 y ON bit_count(xor(x.sim, y.sim)) <= 3
         WHERE x.doc_id % 5 = 0
         ORDER BY batch_id, corpus_id""")),

    // The STACKED ingest gate — the composition a production crawl
    // pipeline actually runs per batch, in cost order: (1) cheap
    // map-side quality heuristics drop junk before anything touches an
    // artifact, (2) exact dedup against the persisted FingerprintStore
    // (16-byte keys, batch-internal copies canonicalize to min doc_id
    // in the same pass), (3) banded MinHash fuzzy dedup against the
    // persisted MinHashStore — the expensive gate sees only what the
    // cheap gates passed. Survivors are what [[append]] would fold in.
    // Stacked ingest gate: quality heuristics → exact-digest anti-join
    // (batch canonicalized to min doc_id per digest) → banded-MinHash
    // fuzzy flag, each stage consuming the previous stage's survivors.
    Entry("ingest_gate", { (s, dir) =>
      val docs = cat(s, dir).table("documents")
      val corpus = docs.where(col("doc_id") % 2 === 0)
      val batch = docs.where(col("doc_id") % 3 === 0)
        .select(col("doc_id"), col("text"))
      val fp = Harness.tempStore("graft-ig-fp")
      val mh = Harness.tempStore("graft-ig-mh")
      // the two foundings read the same corpus but write disjoint stores —
      // independent actions, overlapped (guide §2.6) exactly as a
      // production ingest bootstrap would run them
      graft.core.EpochStore.inParallel(
        () => FingerprintStore.save(corpus, fp),
        () => MinHashStore.save(corpus, mh))
      // the stack body lives in IngestGate — ONE body under this oracle
      // query, the streaming twin (StreamingIngestGate), and the ingest
      // CLI, so the three forms can never drift
      IngestGate.gate(batch,
          FingerprintStore.loadFingerprints(s, fp),
          MinHashStore.load(s, mh))
        .select(col("doc_id"), col("n_tokens"))
        .orderBy("doc_id")
    }, Sql(
      """WITH t AS (SELECT doc_id, text,
           list_filter(string_split_regex(lower(text), '\s+'), x -> len(x) > 0) AS toks
         FROM documents),
         q AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens
         FROM (SELECT *, len(list_filter(toks, x -> list_contains(
             ['the','a','an','and','of','to','in','is','it','that'], x))) AS n_stop
           FROM t WHERE doc_id % 3 = 0)
         WHERE len(toks) >= 5 AND len(text) >= 40 AND n_stop > 0),
         ex AS (SELECT md5(d.text) AS h, min(d.doc_id) AS doc_id
         FROM documents d JOIN q ON d.doc_id = q.doc_id GROUP BY md5(d.text)),
         corp AS (SELECT DISTINCT md5(text) AS h FROM documents WHERE doc_id % 2 = 0),
         ex2 AS (SELECT doc_id FROM ex WHERE h NOT IN (SELECT h FROM corp)),
         sh AS (SELECT doc_id,
           list_distinct(CASE WHEN len(toks) >= 3
             THEN list_transform(range(1, len(toks) - 1),
                    i -> array_to_string(toks[i:i+2], ' '))
             ELSE [] END) AS s
         FROM t),
         sg AS (SELECT doc_id,
           list_transform(range(0, 16), i -> list_min(list_transform(s,
             x -> ((CAST('0x' || substr(md5(x), 1, 15) AS BIGINT) % 1073741824)
               * ([8996855, 469992016, 2004217628, 1334294656, 768128343, 2105057655, 1160867219, 479758600, 1419844726, 1603376584, 210333, 1211524435, 710539482, 258642846, 794256414, 579260634][i + 1])
               + ([405351280, 2046289441, 1592421689, 855095894, 760324133, 1694457692, 292335934, 554079960, 966378448, 485777283, 440949495, 1180586447, 1230674157, 2111880311, 85434598, 657399781][i + 1])) % 2147483647))) AS sig
         FROM sh WHERE len(s) > 0),
         bd AS (SELECT doc_id, sig,
           r.b::VARCHAR || ':' || sig[2 * r.b + 1]::VARCHAR || ':' || sig[2 * r.b + 2]::VARCHAR AS bkey
         FROM sg CROSS JOIN range(0, 8) r(b)),
         f AS (SELECT DISTINCT x.doc_id
         FROM bd x JOIN bd y ON x.bkey = y.bkey
         WHERE x.doc_id IN (SELECT doc_id FROM ex2) AND y.doc_id % 2 = 0
           AND len(list_filter(range(1, 17), i -> x.sig[i] = y.sig[i])) / 16 >= 0.5)
         SELECT q.doc_id AS doc_id, q.n_tokens FROM q
         JOIN ex2 ON q.doc_id = ex2.doc_id
         WHERE q.doc_id NOT IN (SELECT doc_id FROM f)
         ORDER BY q.doc_id""")),

    // line-granularity exact dedup (CCNet §4.1) over the synthesized
    // line-structured batch (c4Batch — its boilerplate lines recur across
    // docs by construction: "too short." everywhere, javascript/lorem on
    // doc_id strides)
    Entry("dup_lines", (s, dir) =>
      Dedup.dupLines(c4Batch(cat(s, dir).table("documents")))
        .orderBy("doc_id", "line_no", "line_hash"),
      Sql(
      s"""WITH b AS ($C4BatchSql),
         t AS (SELECT doc_id, list_transform(string_split(text, chr(10)), l -> trim(l)) AS lns FROM b),
         x AS (SELECT doc_id, unnest(list_filter(list_transform(range(1, len(lns) + 1), i ->
             struct_pack(line_no := i, line := lns[i])), s -> len(s.line) > 0)) AS s
         FROM t),
         e AS (SELECT doc_id, CAST(s.line_no AS BIGINT) AS line_no,
           CAST('0x' || substr(md5(s.line), 1, 15) AS BIGINT) AS line_hash FROM x),
         hot AS (SELECT line_hash, count(DISTINCT doc_id) AS n_docs
         FROM e GROUP BY 1 HAVING count(DISTINCT doc_id) >= 2)
         SELECT e.doc_id, e.line_no, e.line_hash, hot.n_docs
         FROM e JOIN hot USING (line_hash) ORDER BY doc_id, line_no, line_hash""")),

    Entry("strip_dup_lines", (s, dir) =>
      Dedup.stripDupLines(c4Batch(cat(s, dir).table("documents")))
        .orderBy("doc_id"),
      Sql(
      s"""WITH b AS ($C4BatchSql),
         t AS (SELECT doc_id, list_transform(string_split(text, chr(10)), l -> trim(l)) AS lns FROM b),
         x AS (SELECT doc_id, unnest(list_filter(lns, l -> len(l) > 0)) AS line FROM t),
         e AS (SELECT doc_id, CAST('0x' || substr(md5(line), 1, 15) AS BIGINT) AS line_hash FROM x),
         hot AS (SELECT line_hash FROM e GROUP BY 1 HAVING count(DISTINCT doc_id) >= 2),
         hd AS (SELECT e.doc_id, list(DISTINCT e.line_hash) AS hh
         FROM e JOIN hot USING (line_hash) GROUP BY 1),
         c AS (SELECT t.doc_id, t.lns,
           list_filter(t.lns, l -> len(l) = 0 OR NOT list_contains(COALESCE(hd.hh, []),
             CAST('0x' || substr(md5(l), 1, 15) AS BIGINT))) AS kept
         FROM t LEFT JOIN hd USING (doc_id))
         SELECT doc_id, COALESCE(array_to_string(kept, chr(10)), '') AS text_clean,
           CAST(len(list_filter(lns, l -> len(l) > 0)) AS BIGINT) AS n_lines,
           CAST(len(lns) - len(kept) AS BIGINT) AS n_lines_removed
         FROM c ORDER BY doc_id""")),

    // WITHIN-doc repeated-line removal (zero-shuffle map pass) over the
    // header/footer-chromed demo batch
    Entry("strip_repeat_lines", (s, dir) =>
      TextAnalysis.stripRepeatedLines(repBatch(cat(s, dir).table("documents")))
        .orderBy("doc_id"),
      Sql(
      s"""WITH b AS ($RepBatchSql),
         l AS (SELECT doc_id, string_split(text, chr(10)) AS ls FROM b),
         k AS (SELECT doc_id, ls,
           list_filter(range(1, len(ls) + 1), i ->
             trim(ls[i]) = '' OR list_position(ls, ls[i]) = i) AS keep
         FROM l)
         SELECT doc_id,
           array_to_string(list_transform(keep, i -> ls[i]), chr(10)) AS clean_text,
           CAST(len(ls) AS BIGINT) AS n_lines,
           CAST(len(ls) - len(keep) AS BIGINT) AS n_removed
         FROM k ORDER BY doc_id""")),

    Entry("stratified_sample", (s, dir) =>
      TextAnalysis.hashSample(cat(s, dir).table("documents"))
        .select(col("doc_id"), col("lang"), col("source")).orderBy("doc_id"),
      Sql(
      """SELECT doc_id, lang, source FROM documents
         WHERE CAST('0x' || substr(md5('sample|' || doc_id::VARCHAR), 1, 15) AS BIGINT) % 100 < 10
         ORDER BY doc_id""")),

    // sub-percent holdout (2.5 permille-resolution) — inexpressible at
    // integer-percent resolution
    Entry("sample_permille", (s, dir) =>
      TextAnalysis.hashSamplePermille(cat(s, dir).table("documents"), permille = 25)
        .select(col("doc_id"), col("lang"), col("source")).orderBy("doc_id"),
      Sql(
      """SELECT doc_id, lang, source FROM documents
         WHERE CAST('0x' || substr(md5('sample|' || doc_id::VARCHAR), 1, 15) AS BIGINT) % 1000 < 25
         ORDER BY doc_id""")),

    // deterministic 90/5/5 train/val/test assignment (audit view: every
    // doc with its per-mille bucket and split)
    Entry("corpus_split", (s, dir) =>
      TextAnalysis.corpusSplit(cat(s, dir).table("documents"))
        .select(col("doc_id"), col("bucket_permille"), col("split"))
        .orderBy("doc_id"),
      Sql(
      """WITH h AS (SELECT doc_id,
           CAST('0x' || substr(md5('split|' || doc_id::VARCHAR), 1, 15) AS BIGINT) % 1000
             AS bucket_permille
         FROM documents)
         SELECT doc_id, bucket_permille,
           CASE WHEN bucket_permille < 900 THEN 'train'
                WHEN bucket_permille < 950 THEN 'val'
                ELSE 'test' END AS split
         FROM h ORDER BY doc_id""")),

    // Target mix: upweight English, keep some German/French, drop the rest
    // — the domain-reweighting pass of a training-mix builder.
    Entry("mix_sample", (s, dir) =>
      TextAnalysis.mixSample(cat(s, dir).table("documents"),
          weights = Map("en" -> 80, "de" -> 40, "fr" -> 20), byCol = "lang")
        .select(col("doc_id"), col("lang"), col("source")).orderBy("doc_id"),
      Sql(
      """SELECT doc_id, lang, source FROM documents
         WHERE CAST('0x' || substr(md5('mix|' || doc_id::VARCHAR), 1, 15) AS BIGINT) % 100 <
           CASE WHEN lang = 'en' THEN 80 WHEN lang = 'de' THEN 40
                WHEN lang = 'fr' THEN 20 ELSE 0 END
         ORDER BY doc_id""")),

    // the mixture SOLVER: per-stratum keep rates from a 20k-token budget
    // at 500/250/150/100 permille shares (zh unlisted → drops); at sf0.01
    // the de stratum is oversubscribed, exercising the clamp path
    Entry("mix_plan", (s, dir) =>
      TextAnalysis.mixPlan(cat(s, dir).table("documents"),
          sharePermille = Map("en" -> 500, "de" -> 250, "fr" -> 150, "es" -> 100),
          tokenBudget = 20000L)
        .orderBy("lang"),
      Sql(
      s"""WITH $MixPlanSql
         SELECT * FROM plan ORDER BY lang""")),

    // the solved mixture materialized map-side via the deterministic
    // id-hash — plan broadcast, zero shuffle on the corpus side
    Entry("mix_materialize", { (s, dir) =>
      val docs = cat(s, dir).table("documents")
      val plan = TextAnalysis.mixPlan(docs,
        sharePermille = Map("en" -> 500, "de" -> 250, "fr" -> 150, "es" -> 100),
        tokenBudget = 20000L)
      TextAnalysis.mixApply(docs, plan)
        .select(col("doc_id"), col("lang")).orderBy("doc_id")
    }, Sql(
      s"""WITH $MixPlanSql
         SELECT d.doc_id, d.lang FROM documents d JOIN plan USING (lang)
         WHERE CAST('0x' || substr(md5('mixplan|' || d.doc_id::VARCHAR), 1, 15) AS BIGINT) % 1000
           < plan.keep_permille
         ORDER BY d.doc_id""")),

    Entry("text_normalize", (s, dir) =>
      TextAnalysis.textNormalize(cat(s, dir).table("documents")).orderBy("doc_id"),
      Sql(
      """WITH t AS (SELECT doc_id,
           trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS n FROM documents)
         SELECT doc_id, n AS norm_text, md5(n) AS norm_md5,
           CAST(len(n) AS BIGINT) AS n_chars_norm
         FROM t ORDER BY doc_id""")),

    Entry("corpus_profile", (s, dir) =>
      TextAnalysis.corpusProfile(cat(s, dir).table("documents"))
        .orderBy("lang", "source"),
      Sql(
      """WITH t AS (SELECT lang, source,
           CAST(len(list_filter(string_split_regex(lower(text), '\s+'), x -> len(x) > 0)) AS BIGINT) AS n_toks,
           md5(text) AS d
         FROM documents)
         SELECT lang, source, count(*) AS n_docs,
           CAST(sum(n_toks) AS BIGINT) AS n_tokens,
           min(n_toks) AS min_tokens, max(n_toks) AS max_tokens,
           CAST(sum(CASE WHEN n_toks < 20 THEN 1 ELSE 0 END) AS BIGINT) AS n_short,
           count(DISTINCT d) AS n_distinct_texts
         FROM t GROUP BY 1, 2 ORDER BY lang, source""")),

    // WIMBD-style corpus n-gram census: top-100 word-3grams by occurrence
    // (one map-side-combined shuffle + TakeOrderedAndProject)
    Entry("top_ngrams", (s, dir) =>
      TextAnalysis.topNgrams(cat(s, dir).table("documents"), n = 3, k = 100),
      Sql(
      """WITH t AS (SELECT doc_id,
           list_filter(string_split_regex(lower(text), '\s+'), x -> len(x) > 0) AS toks
         FROM documents),
         g AS (SELECT doc_id, unnest(list_transform(range(1, len(toks) - 1),
             i -> array_to_string(toks[i:i+2], ' '))) AS ngram
           FROM t WHERE len(toks) >= 3)
         SELECT ngram, count(*) AS n_occurrences, count(DISTINCT doc_id) AS n_docs
         FROM g GROUP BY ngram
         ORDER BY n_occurrences DESC, ngram LIMIT 100""")),

    // HLL++ sketch distinct counts
    Entry("profile_approx", (s, dir) =>
      TextAnalysis.corpusProfileApprox(cat(s, dir).table("documents"))
        .orderBy("lang", "source"),
      Exempt("DuckDB's HLL is a different sketch; TextAnalysisSpec " +
        "asserts the accuracy against exact counts")),

    // ingest drift gate: PSI of the en slice (the "new crawl") against
    // the full corpus's top-300 vocabulary — per-term contributions
    Entry("corpus_drift", { (s, dir) =>
      val docs = cat(s, dir).table("documents")
      TextAnalysis.corpusDrift(docs, docs.where(col("lang") === "en"), topK = 300)
        .orderBy("tok")
    }, Sql(
      """WITH ctk AS (SELECT unnest(list_filter(string_split_regex(lower(text), '\s+'),
             x -> len(x) > 0)) AS tok FROM documents),
         cc AS (SELECT tok, count(*) AS c_cnt FROM ctk GROUP BY 1),
         vocab AS (SELECT * FROM cc ORDER BY c_cnt DESC, tok LIMIT 300),
         btk AS (SELECT unnest(list_filter(string_split_regex(lower(text), '\s+'),
             x -> len(x) > 0)) AS tok FROM documents WHERE lang = 'en'),
         bc AS (SELECT tok, count(*) AS b_cnt FROM btk GROUP BY 1),
         j AS (SELECT vocab.tok, c_cnt, COALESCE(b_cnt, 0) AS b_cnt
           FROM vocab LEFT JOIN bc USING (tok)),
         tt AS (SELECT sum(c_cnt) AS ctot, sum(b_cnt) AS btot, count(*) AS n FROM j)
         SELECT tok, c_cnt, b_cnt,
           round((c_cnt + 1)::DOUBLE / (ctot + n), 6) AS p,
           round((b_cnt + 1)::DOUBLE / (btot + n), 6) AS q,
           round(((c_cnt + 1)::DOUBLE / (ctot + n) - (b_cnt + 1)::DOUBLE / (btot + n))
             * ln(((c_cnt + 1)::DOUBLE / (ctot + n)) / ((b_cnt + 1)::DOUBLE / (btot + n))), 6)
             AS psi_contrib
         FROM j CROSS JOIN tt ORDER BY tok""")),

    Entry("length_band", (s, dir) =>
      TextAnalysis.lengthBand(cat(s, dir).table("documents"),
          pLoPermille = 50, pHiPermille = 950)
        .orderBy("doc_id"),
      Sql(
      """WITH tc AS (SELECT doc_id,
           CAST(len(list_filter(string_split_regex(lower(text), '\s+'), x -> len(x) > 0)) AS BIGINT) AS n_tokens
         FROM documents),
         cum AS (SELECT n_tokens, count(*) OVER (ORDER BY n_tokens) AS c,
                        count(*) OVER () AS n_all FROM tc),
         lo AS (SELECT min(n_tokens) AS v FROM cum
                WHERE c >= GREATEST((n_all * 50 + 999) // 1000, 1)),
         hi AS (SELECT min(n_tokens) AS v FROM cum
                WHERE c >= GREATEST((n_all * 950 + 999) // 1000, 1))
         SELECT tc.doc_id, tc.n_tokens FROM tc, lo, hi
         WHERE tc.n_tokens BETWEEN lo.v AND hi.v ORDER BY doc_id""")),

    // The round-7 curation capstone: strip duplicated passages, drop
    // mostly-boilerplate docs (removal > half), keep the adaptive length
    // band of the CLEANED text, exact-dedup on the cleaned text, per-mille
    // sample — detect→act operators composed into ONE declarative plan.
    Entry("corpus_curate", { (s, dir) =>
      val docs = cat(s, dir).table("documents")
      // The strip subtree (dupSpans' two shuffles) feeds BOTH lengthBand's
      // plan-time histogram job and the final plan — persist it so the
      // subtree runs once, not per consumer (the Dedup signature-cache
      // discipline). The histogram collect populates the cache; the final
      // sampled frame (narrow: two longs) is materialized eagerly so the
      // cache can be released here instead of leaking into the session.
      val surviving = Dedup.stripDupSpans(docs)
        .where(col("n_tokens_removed") * 2 <= col("n_tokens"))
        .select(col("doc_id"), col("text_clean").as("text"))
        .persist()
      try {
        val banded = TextAnalysis.lengthBand(surviving)
        val withText = banded.join(surviving, "doc_id")
        val keep = TextAnalysis.dedupExact(withText)
          .select(col("keep_id").as("doc_id"))
        TextAnalysis.hashSamplePermille(
            withText.join(keep, Seq("doc_id"), "left_semi"),
            permille = 500, salt = "curate")
          .select(col("doc_id"), col("n_tokens"))
          .orderBy("doc_id")
          .localCheckpoint()
      } finally surviving.unpersist()
    }, Sql(
      """WITH t AS (SELECT doc_id,
           list_filter(string_split_regex(lower(text), '\s+'), x -> len(x) > 0) AS toks
         FROM documents),
         sp AS (SELECT doc_id, unnest(CASE WHEN len(toks) >= 15 THEN
             list_transform(range(1, len(toks) - 14 + 1, 5), p ->
               struct_pack(span_start := p,
                 span_hash := CAST('0x' || substr(md5(array_to_string(toks[p:p+14], ' ')), 1, 15) AS BIGINT)))
             ELSE [] END) AS s
         FROM t),
         e AS (SELECT doc_id, CAST(s.span_start AS BIGINT) AS span_start, s.span_hash AS span_hash
         FROM sp),
         hot AS (SELECT span_hash FROM e GROUP BY 1 HAVING count(DISTINCT doc_id) >= 2),
         drops AS (SELECT e.doc_id, list_sort(list_distinct(list(e.span_start))) AS starts
         FROM e JOIN hot USING (span_hash) GROUP BY e.doc_id),
         clean AS (SELECT t.doc_id,
           COALESCE(array_to_string(list_filter(t.toks, (x, i) ->
             len(list_filter(COALESCE(drops.starts, []), s -> s <= i AND i < s + 15)) = 0), ' '), '') AS text_clean,
           len(t.toks) AS n0,
           len(t.toks) - len(list_filter(t.toks, (x, i) ->
             len(list_filter(COALESCE(drops.starts, []), s -> s <= i AND i < s + 15)) = 0)) AS removed
         FROM t LEFT JOIN drops USING (doc_id)),
         surv AS (SELECT doc_id, text_clean,
           CAST(len(list_filter(string_split_regex(lower(text_clean), '\s+'), x -> len(x) > 0)) AS BIGINT) AS n_tokens
         FROM clean WHERE removed * 2 <= n0),
         cum AS (SELECT doc_id, n_tokens, count(*) OVER (ORDER BY n_tokens) AS c,
                        count(*) OVER () AS n_all FROM surv),
         lo AS (SELECT min(n_tokens) AS v FROM cum WHERE c >= GREATEST((n_all * 50 + 999) // 1000, 1)),
         hi AS (SELECT min(n_tokens) AS v FROM cum WHERE c >= GREATEST((n_all * 950 + 999) // 1000, 1)),
         band AS (SELECT surv.doc_id, surv.text_clean, surv.n_tokens FROM surv, lo, hi
                  WHERE surv.n_tokens BETWEEN lo.v AND hi.v),
         k AS (SELECT CAST(min(doc_id) AS BIGINT) AS doc_id FROM band GROUP BY md5(text_clean))
         SELECT band.doc_id, band.n_tokens FROM band JOIN k USING (doc_id)
         WHERE CAST('0x' || substr(md5('curate|' || band.doc_id::VARCHAR), 1, 15) AS BIGINT) % 1000 < 500
         ORDER BY doc_id""")),

    Entry("compress_ratio", (s, dir) =>
      TextAnalysis.compressionRatio(cat(s, dir).table("documents"))
        .orderBy("doc_id"),
      Exempt("DuckDB has no deflate; TextAnalysisSpec pins the ratios")),

    Entry("repetition_score", (s, dir) =>
      TextAnalysis.repetitionScore(cat(s, dir).table("documents")).orderBy("doc_id"),
      Sql(
      """WITH t AS (SELECT doc_id,
           list_filter(string_split_regex(lower(text), '\s+'), x -> len(x) > 0) AS toks
         FROM documents),
         g AS (SELECT doc_id, toks, CASE WHEN len(toks) >= 3
             THEN list_transform(range(1, len(toks) - 1), i -> array_to_string(toks[i:i+2], ' '))
             ELSE [] END AS gs FROM t)
         SELECT doc_id,
           CAST(len(toks) AS BIGINT) AS n_tokens,
           round(CAST(len(list_distinct(toks)) AS DOUBLE) / greatest(len(toks), 1), 4) AS distinct_token_ratio,
           round(CASE WHEN len(gs) > 0 THEN 1.0 - CAST(len(list_distinct(gs)) AS DOUBLE) / len(gs) ELSE 0.0 END, 4) AS dup_3gram_ratio,
           round(CASE WHEN len(toks) > 0 THEN CAST(list_max(list_transform(list_distinct(toks), t -> len(list_filter(toks, x -> x = t)))) AS DOUBLE) / len(toks) ELSE 0.0 END, 4) AS top_token_ratio
         FROM g ORDER BY doc_id""")),

    Entry("gopher_quality", (s, dir) =>
      TextAnalysis.gopherQuality(cat(s, dir).table("documents")).orderBy("doc_id"),
      Sql(
      """WITH t AS (SELECT doc_id, text,
           list_filter(string_split_regex(lower(text), '\s+'), x -> len(x) > 0) AS toks,
           string_split(text, chr(10)) AS lns
         FROM documents),
         m AS (SELECT doc_id,
           CAST(len(toks) AS BIGINT) AS n_words,
           round(CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
               list_transform(toks, w -> CAST(len(w) AS BIGINT))), (a, b) -> a + b) AS DOUBLE)
             / greatest(len(toks), 1), 4) AS mean_word_len,
           round(CAST(len(list_filter(toks, w -> regexp_matches(w, '[a-z]'))) AS DOUBLE)
             / greatest(len(toks), 1), 4) AS frac_alpha_words,
           round(CAST(len(list_filter(lns, l -> starts_with(trim(l), '-')
               OR starts_with(trim(l), '*') OR starts_with(trim(l), '•'))) AS DOUBLE)
             / greatest(len(lns), 1), 4) AS frac_bullet_lines,
           round(CAST(len(list_filter(lns, l -> ends_with(trim(l), '...')
               OR ends_with(trim(l), '…'))) AS DOUBLE)
             / greatest(len(lns), 1), 4) AS frac_ellipsis_lines,
           CAST(len(list_intersect(list_distinct(toks),
             ['the','a','an','and','of','to','in','is','it','that'])) AS BIGINT) AS n_stop_distinct
         FROM t)
         SELECT *, (n_words >= 50 AND n_words <= 100000
           AND mean_word_len >= 3 AND mean_word_len <= 10
           AND frac_alpha_words >= 0.8 AND n_stop_distinct >= 2
           AND frac_bullet_lines <= 0.9 AND frac_ellipsis_lines <= 0.3) AS passes_gopher
         FROM m ORDER BY doc_id""")),

    // C4 §2.2 line-level boilerplate filter over the structured page batch
    // (c4Batch) — per-rule telemetry + verdict + cleaned text per page.
    Entry("c4_filter", (s, dir) =>
      TextAnalysis.c4Filter(c4Batch(cat(s, dir).table("documents")))
        .orderBy("doc_id"),
      Sql(
      s"""WITH b AS ($C4BatchSql),
         t AS (SELECT doc_id, text, list_transform(string_split(text, chr(10)), l -> trim(l)) AS lns FROM b),
         f AS (SELECT doc_id, text, lns,
           list_filter(lns, l -> regexp_matches(l, '[.!?"]$$')
             AND len(regexp_extract_all(l, '\\S+')) >= 5
             AND NOT contains(lower(l), 'javascript')) AS kept FROM t),
         m AS (SELECT doc_id,
           CAST(len(lns) AS BIGINT) AS n_lines,
           CAST(len(kept) AS BIGINT) AS n_kept_lines,
           CAST(len(list_filter(lns, l -> contains(lower(l), 'javascript'))) AS BIGINT) AS n_js_lines,
           CAST(len(regexp_extract_all(COALESCE(array_to_string(kept, chr(10)), ''), '[.!?]')) AS BIGINT) AS n_sentences,
           contains(text, '{') AS has_brace,
           contains(lower(text), 'lorem ipsum') AS has_lorem,
           COALESCE(array_to_string(kept, chr(10)), '') AS clean_text
         FROM f)
         SELECT *, (NOT has_brace AND NOT has_lorem AND n_sentences >= 3) AS passes_c4
         FROM m ORDER BY doc_id""")),

    // FineWeb's three custom line-shape heuristics over the same
    // structured page batch — verdicts in exact integer permille algebra
    Entry("fineweb_filter", (s, dir) =>
      TextAnalysis.finewebFilter(c4Batch(cat(s, dir).table("documents")))
        .orderBy("doc_id"),
      Sql(
      s"""WITH b AS ($C4BatchSql),
         t AS (SELECT doc_id, list_filter(list_transform(string_split(text, chr(10)),
             l -> trim(l)), l -> len(l) > 0) AS ne FROM b),
         m AS (SELECT doc_id,
           CAST(len(ne) AS BIGINT) AS n_lines,
           CAST(len(array_to_string(ne, '')) AS BIGINT) AS tot_chars,
           CAST(len(list_filter(ne, l -> regexp_matches(l, '[.!?"'']$$'))) AS BIGINT) AS punct,
           CAST(len(list_filter(ne, l -> len(l) < 30)) AS BIGINT) AS nshort,
           CAST(COALESCE(list_sum(list_transform(list_distinct(ne), d ->
             (len(list_filter(ne, x -> x = d)) - 1) * len(d))), 0) AS BIGINT) AS dupchars
         FROM t)
         SELECT doc_id, n_lines,
           round(CAST(punct AS DOUBLE) / GREATEST(n_lines, 1), 4) AS punct_line_frac,
           round(CAST(nshort AS DOUBLE) / GREATEST(n_lines, 1), 4) AS short_line_frac,
           round(CAST(dupchars AS DOUBLE) / GREATEST(tot_chars, 1), 4) AS dup_line_char_frac,
           (punct * 1000 > n_lines * 120 AND nshort * 1000 < n_lines * 670
             AND dupchars * 1000 < tot_chars * 100) AS passes_fineweb
         FROM m ORDER BY doc_id""")),

    // the four-battery agreement gate in ONE map-side pass — every
    // verdict the same shared expression its standalone operator emits
    Entry("quality_ensemble", (s, dir) =>
      TextAnalysis.qualityEnsemble(c4Batch(cat(s, dir).table("documents")))
        .orderBy("doc_id"),
      Sql(
      s"""WITH b AS ($C4BatchSql),
         t AS (SELECT doc_id, text,
           list_filter(string_split_regex(lower(text), '\\s+'), x -> len(x) > 0) AS toks,
           string_split(text, chr(10)) AS lns
         FROM b),
         h AS (SELECT doc_id, (len(toks) >= 5 AND len(text) >= 40
             AND len(list_filter(toks, x -> list_contains(
               ['the','a','an','and','of','to','in','is','it','that'], x))) > 0)
             AS passes_heuristic
         FROM t),
         gm AS (SELECT doc_id,
           CAST(len(toks) AS BIGINT) AS n_words,
           round(CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
               list_transform(toks, w -> CAST(len(w) AS BIGINT))), (a, b) -> a + b) AS DOUBLE)
             / greatest(len(toks), 1), 4) AS mean_word_len,
           round(CAST(len(list_filter(toks, w -> regexp_matches(w, '[a-z]'))) AS DOUBLE)
             / greatest(len(toks), 1), 4) AS frac_alpha_words,
           round(CAST(len(list_filter(lns, l -> starts_with(trim(l), '-')
               OR starts_with(trim(l), '*') OR starts_with(trim(l), '•'))) AS DOUBLE)
             / greatest(len(lns), 1), 4) AS frac_bullet_lines,
           round(CAST(len(list_filter(lns, l -> ends_with(trim(l), '...')
               OR ends_with(trim(l), '…'))) AS DOUBLE)
             / greatest(len(lns), 1), 4) AS frac_ellipsis_lines,
           CAST(len(list_intersect(list_distinct(toks),
             ['the','a','an','and','of','to','in','is','it','that'])) AS BIGINT) AS n_stop_distinct
         FROM t),
         g AS (SELECT doc_id, (n_words >= 50 AND n_words <= 100000
           AND mean_word_len >= 3 AND mean_word_len <= 10
           AND frac_alpha_words >= 0.8 AND n_stop_distinct >= 2
           AND frac_bullet_lines <= 0.9 AND frac_ellipsis_lines <= 0.3) AS passes_gopher
         FROM gm),
         cf AS (SELECT doc_id, text,
           list_filter(list_transform(lns, l -> trim(l)), l -> regexp_matches(l, '[.!?"]$$')
             AND len(regexp_extract_all(l, '\\S+')) >= 5
             AND NOT contains(lower(l), 'javascript')) AS kept FROM t),
         c AS (SELECT doc_id, (NOT contains(text, '{')
           AND NOT contains(lower(text), 'lorem ipsum')
           AND len(regexp_extract_all(COALESCE(array_to_string(kept, chr(10)), ''), '[.!?]')) >= 3)
           AS passes_c4
         FROM cf),
         fn AS (SELECT doc_id, list_filter(list_transform(lns, l -> trim(l)),
             l -> len(l) > 0) AS ne FROM t),
         fm AS (SELECT doc_id,
           CAST(len(ne) AS BIGINT) AS n_lines,
           CAST(len(array_to_string(ne, '')) AS BIGINT) AS tot_chars,
           CAST(len(list_filter(ne, l -> regexp_matches(l, '[.!?"'']$$'))) AS BIGINT) AS punct,
           CAST(len(list_filter(ne, l -> len(l) < 30)) AS BIGINT) AS nshort,
           CAST(COALESCE(list_sum(list_transform(list_distinct(ne), d ->
             (len(list_filter(ne, x -> x = d)) - 1) * len(d))), 0) AS BIGINT) AS dupchars
         FROM fn),
         f AS (SELECT doc_id, (punct * 1000 > n_lines * 120
           AND nshort * 1000 < n_lines * 670
           AND dupchars * 1000 < tot_chars * 100) AS passes_fineweb
         FROM fm),
         e AS (SELECT h.doc_id, passes_heuristic, passes_gopher, passes_c4, passes_fineweb,
           CAST(CASE WHEN passes_heuristic THEN 1 ELSE 0 END
              + CASE WHEN passes_gopher THEN 1 ELSE 0 END
              + CASE WHEN passes_c4 THEN 1 ELSE 0 END
              + CASE WHEN passes_fineweb THEN 1 ELSE 0 END AS BIGINT) AS n_pass
         FROM h JOIN g USING (doc_id) JOIN c USING (doc_id) JOIN f USING (doc_id))
         SELECT *, n_pass = 4 AS passes_all, n_pass >= 3 AS passes_majority
         FROM e ORDER BY doc_id""")),

    // corpus_curate variant with the C4 pass in front: boilerplate-strip →
    // page gate → quality gate on the CLEANED text → exact-dedup keep →
    // deterministic sample, one declarative plan (every stage narrow or a
    // 16-byte-digest shuffle).
    Entry("c4_curate", { (s, dir) =>
      val f = TextAnalysis.c4Filter(c4Batch(cat(s, dir).table("documents")))
      val clean = f.where(col("passes_c4"))
        .select(col("doc_id"), col("clean_text").as("text"))
      val keep = TextAnalysis.dedupExact(clean).select(col("keep_id").as("doc_id"))
      TextAnalysis.hashSamplePermille(
          clean.where(TextAnalysis.passesQuality(col("text")))
            .join(keep, Seq("doc_id"), "left_semi"),
          permille = 500, salt = "c4")
        .select(col("doc_id"), length(col("text")).cast("long").as("n_chars"))
        .orderBy("doc_id")
    }, Sql(
      s"""WITH b AS ($C4BatchSql),
         t AS (SELECT doc_id, text, list_transform(string_split(text, chr(10)), l -> trim(l)) AS lns FROM b),
         f AS (SELECT doc_id, text, lns,
           list_filter(lns, l -> regexp_matches(l, '[.!?"]$$')
             AND len(regexp_extract_all(l, '\\S+')) >= 5
             AND NOT contains(lower(l), 'javascript')) AS kept FROM t),
         m AS (SELECT doc_id,
           CAST(len(regexp_extract_all(COALESCE(array_to_string(kept, chr(10)), ''), '[.!?]')) AS BIGINT) AS n_sentences,
           contains(text, '{') AS has_brace,
           contains(lower(text), 'lorem ipsum') AS has_lorem,
           COALESCE(array_to_string(kept, chr(10)), '') AS clean_text
         FROM f),
         c AS (SELECT doc_id, clean_text AS text FROM m
           WHERE NOT has_brace AND NOT has_lorem AND n_sentences >= 3),
         k AS (SELECT CAST(min(doc_id) AS BIGINT) AS doc_id FROM c GROUP BY md5(text)),
         q AS (SELECT doc_id FROM (SELECT doc_id, text,
             list_filter(string_split_regex(lower(text), '\\s+'), x -> len(x) > 0) AS toks FROM c)
           WHERE len(toks) >= 5 AND len(text) >= 40
             AND len(list_filter(toks, x -> list_contains(
               ['the','a','an','and','of','to','in','is','it','that'], x))) > 0),
         s AS (SELECT doc_id FROM c
           WHERE CAST('0x' || substr(md5('c4|' || doc_id::VARCHAR), 1, 15) AS BIGINT) % 1000 < 500)
         SELECT c.doc_id, CAST(len(c.text) AS BIGINT) AS n_chars FROM c
         JOIN q USING (doc_id) JOIN k USING (doc_id) JOIN s USING (doc_id)
         ORDER BY doc_id""")),

    // FineWeb-style curation composed into one declarative plan: page
    // gate (the fineweb battery) → cross-doc line strip over the
    // SURVIVORS → exact dedup on the stripped text → per-mille sample.
    // Stage costs: gate map-side; strip = dup_lines' two 8-byte-key
    // shuffles; dedup a 16-byte-digest shuffle; sample map-side.
    Entry("fineweb_curate", { (s, dir) =>
      val pages = c4Batch(cat(s, dir).table("documents"))
      val gate = TextAnalysis.finewebFilter(pages).where(col("passes_fineweb"))
        .select("doc_id")
      val stripped = Dedup.stripDupLines(pages.join(gate, Seq("doc_id"), "left_semi"))
        .select(col("doc_id"), col("text_clean").as("text"))
      val keep = TextAnalysis.dedupExact(stripped).select(col("keep_id").as("doc_id"))
      TextAnalysis.hashSamplePermille(stripped.join(keep, Seq("doc_id"), "left_semi"),
          permille = 500, salt = "fineweb")
        .select(col("doc_id"), length(col("text")).cast("long").as("n_chars"))
        .orderBy("doc_id")
    }, Sql(
      s"""WITH b AS ($C4BatchSql),
         fw AS (SELECT doc_id, list_filter(list_transform(string_split(text, chr(10)),
             l -> trim(l)), l -> len(l) > 0) AS ne FROM b),
         fm AS (SELECT doc_id,
           CAST(len(ne) AS BIGINT) AS n_lines,
           CAST(len(array_to_string(ne, '')) AS BIGINT) AS tot_chars,
           CAST(len(list_filter(ne, l -> regexp_matches(l, '[.!?"'']$$'))) AS BIGINT) AS punct,
           CAST(len(list_filter(ne, l -> len(l) < 30)) AS BIGINT) AS nshort,
           CAST(COALESCE(list_sum(list_transform(list_distinct(ne), d ->
             (len(list_filter(ne, x -> x = d)) - 1) * len(d))), 0) AS BIGINT) AS dupchars
         FROM fw),
         g AS (SELECT doc_id FROM fm
           WHERE punct * 1000 > n_lines * 120 AND nshort * 1000 < n_lines * 670
             AND dupchars * 1000 < tot_chars * 100),
         sv AS (SELECT b.doc_id, b.text FROM b JOIN g USING (doc_id)),
         t AS (SELECT doc_id, list_transform(string_split(text, chr(10)), l -> trim(l)) AS lns FROM sv),
         x AS (SELECT doc_id, unnest(list_filter(lns, l -> len(l) > 0)) AS line FROM t),
         e AS (SELECT doc_id, CAST('0x' || substr(md5(line), 1, 15) AS BIGINT) AS line_hash FROM x),
         hot AS (SELECT line_hash FROM e GROUP BY 1 HAVING count(DISTINCT doc_id) >= 2),
         hd AS (SELECT e.doc_id, list(DISTINCT e.line_hash) AS hh
         FROM e JOIN hot USING (line_hash) GROUP BY 1),
         c AS (SELECT t.doc_id,
           COALESCE(array_to_string(list_filter(t.lns, l -> len(l) = 0 OR
             NOT list_contains(COALESCE(hd.hh, []),
               CAST('0x' || substr(md5(l), 1, 15) AS BIGINT))), chr(10)), '') AS text
         FROM t LEFT JOIN hd USING (doc_id)),
         k AS (SELECT CAST(min(doc_id) AS BIGINT) AS doc_id FROM c GROUP BY md5(text)),
         smp AS (SELECT doc_id FROM c
           WHERE CAST('0x' || substr(md5('fineweb|' || doc_id::VARCHAR), 1, 15) AS BIGINT) % 1000 < 500)
         SELECT c.doc_id, CAST(len(c.text) AS BIGINT) AS n_chars FROM c
         JOIN k USING (doc_id) JOIN smp USING (doc_id) ORDER BY doc_id""")),

    Entry("unigram_lm", (s, dir) =>
      TextAnalysis.unigramLm(cat(s, dir).table("documents")).orderBy("doc_id"),
      Sql(
      """WITH tk AS (SELECT doc_id,
           unnest(list_filter(string_split_regex(lower(text), '\s+'), x -> len(x) > 0)) AS tok
         FROM documents),
         f AS (SELECT tok, count(*) AS tf FROM tk GROUP BY tok),
         tot AS (SELECT count(*) AS total FROM tk),
         s AS (SELECT tk.doc_id, f.tf,
           CAST(round(ln(CAST(f.tf AS DOUBLE) / tot.total), 6) AS DECIMAL(18,6)) AS lp
         FROM tk JOIN f USING (tok) CROSS JOIN tot)
         SELECT doc_id, count(*) AS n_tokens,
           round(-CAST(sum(lp) AS DOUBLE) / count(*), 4) AS avg_neg_logprob,
           round(CAST(sum(CASE WHEN tf = 1 THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 4) AS hapax_ratio
         FROM s GROUP BY doc_id ORDER BY doc_id""")),

    // k = 20 < the synthetic corpus's 31-token vocabulary, so the OOV floor
    // path is actually exercised by the oracle
    Entry("unigram_lm_capped", (s, dir) =>
      TextAnalysis.unigramLm(cat(s, dir).table("documents"), vocabTopK = Some(20))
        .orderBy("doc_id"),
      Sql(
      """WITH tk AS (SELECT doc_id,
           unnest(list_filter(string_split_regex(lower(text), '\s+'), x -> len(x) > 0)) AS tok
         FROM documents),
         f AS (SELECT tok, count(*) AS tf FROM tk GROUP BY tok),
         tot AS (SELECT count(*) AS total FROM tk),
         top AS (SELECT tok, tf FROM f ORDER BY tf DESC, tok LIMIT 20),
         s AS (SELECT tk.doc_id, top.tf,
           CAST(round(ln(COALESCE(CAST(top.tf AS DOUBLE), 1.0) / tot.total), 6) AS DECIMAL(18,6)) AS lp
         FROM tk LEFT JOIN top USING (tok) CROSS JOIN tot)
         SELECT doc_id, count(*) AS n_tokens,
           round(-CAST(sum(lp) AS DOUBLE) / count(*), 4) AS avg_neg_logprob,
           round(CAST(sum(CASE WHEN tf IS NULL THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 4) AS oov_ratio
         FROM s GROUP BY doc_id ORDER BY doc_id""")),

    // CCNet's per-language perplexity tercile split (head/middle/tail) —
    // exact integer-rank cuts over the bounded score histogram.
    Entry("perplexity_buckets", (s, dir) =>
      TextAnalysis.perplexityBuckets(cat(s, dir).table("documents"))
        .orderBy("doc_id"),
      Sql(
      s"""WITH $PerplexityBucketsSql
         SELECT * FROM pb ORDER BY doc_id""")),

    // the CCNet curation act: drop the worst (tail) perplexity third of
    // each language — the standard web-corpus LM-quality gate
    Entry("ccnet_keep", (s, dir) =>
      TextAnalysis.perplexityBuckets(cat(s, dir).table("documents"))
        .where(col("ppl_band") =!= "tail")
        .orderBy("doc_id"),
      Sql(
      s"""WITH $PerplexityBucketsSql
         SELECT * FROM pb WHERE ppl_band != 'tail' ORDER BY doc_id""")),

    Entry("tfidf_topk", (s, dir) =>
      TextAnalysis.tfidfTopK(cat(s, dir).table("documents"), k = 5)
        .orderBy("doc_id", "rank"),
      Sql(
      """WITH tk AS (SELECT doc_id,
           unnest(list_filter(string_split_regex(lower(text), '\s+'), x -> len(x) > 0)) AS term
         FROM documents),
         tf AS (SELECT doc_id, term, count(*) AS tf FROM tk GROUP BY 1, 2),
         df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
         nd AS (SELECT count(DISTINCT doc_id) AS n_docs FROM tf),
         s AS (SELECT tf.doc_id, tf.term, tf.tf, df.df,
           round(tf.tf * ln(CAST(n_docs AS DOUBLE) / df.df), 4) AS tfidf
         FROM tf JOIN df USING (term) CROSS JOIN nd),
         r AS (SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term) AS rnk
         FROM s)
         SELECT doc_id, term, tf, df, tfidf, CAST(rnk AS BIGINT) AS "rank"
         FROM r WHERE rnk <= 5 ORDER BY doc_id, rnk""")),

    // vocabulary-budget coverage curve: token-occurrence mass under the
    // k most frequent types, k ∈ {100, 1000, 10000}
    Entry("vocab_coverage", (s, dir) =>
      TextAnalysis.vocabCoverage(cat(s, dir).table("documents"),
          ks = Seq(100, 1000, 10000))
        .orderBy("k"),
      Sql(
      """WITH tk AS (SELECT
           unnest(list_filter(string_split_regex(lower(text), '\s+'), x -> len(x) > 0)) AS tok
         FROM documents),
         f AS (SELECT tok, count(*) AS cnt FROM tk GROUP BY tok),
         tot AS (SELECT sum(cnt) AS total_tokens, count(*) AS n_types FROM f),
         r AS (SELECT tok, cnt, row_number() OVER (ORDER BY cnt DESC, tok) AS rnk FROM f),
         ks AS (SELECT unnest([100, 1000, 10000]) AS k)
         SELECT CAST(ks.k AS BIGINT) AS k,
           CAST(count(*) AS BIGINT) AS vocab_size,
           CAST(sum(r.cnt) AS BIGINT) AS covered_tokens,
           CAST(any_value(tot.total_tokens) AS BIGINT) AS total_tokens,
           CAST(any_value(tot.n_types) AS BIGINT) AS n_types,
           round(CAST(sum(r.cnt) AS DOUBLE) / any_value(tot.total_tokens), 6) AS coverage
         FROM ks JOIN r ON r.rnk <= ks.k CROSS JOIN tot
         GROUP BY ks.k ORDER BY k""")),

    // BPE merge-table training: the driver-loop trainer (one corpus pass + in-memory merges) —
    // bit-identical to the Spark-iterated Bpe.bpeTrain (parity-specced),
    // and the form that reaches 30k-merge production vocabularies
    Entry("bpe_train", (s, dir) =>
      Bpe.bpeTrainFast(cat(s, dir).table("documents"), numMerges = 20)
        .orderBy("merge_rank"),
      Exempt("the iterative merge argmax is not one SQL query; BpeSpec " +
        "pins the semantics with hand-derived merges")),

    // tokenization under a FIXED (pretrained-style) merge table — the
    // deterministic replay the oracle mirrors with nested replace()
    Entry("bpe_tokenize", (s, dir) =>
      Bpe.bpeApply(cat(s, dir).table("documents"), BpeDemoMerges)
        .select(col("doc_id"), array_join(col("bpe_tokens"), " ").as("bpe_text"),
          col("n_bpe_tokens"))
        .orderBy("doc_id"),
      Sql(
      s"""WITH $BpeApplySql
         SELECT doc_id,
           regexp_replace(trim(repr), '  +', ' ', 'g') AS bpe_text,
           CAST(CASE WHEN len(trim(repr)) = 0 THEN 0
             ELSE len(string_split_regex(trim(repr), '  +')) END AS BIGINT) AS n_bpe_tokens
         FROM bm ORDER BY doc_id""")),

    Entry("bigram_lm", (s, dir) =>
      TextAnalysis.bigramLm(cat(s, dir).table("documents")).orderBy("doc_id"),
      Sql(BigramLmSql(0))),

    // minCount = 25 prunes ~1/6 of the synthetic corpus's bigram types at
    // sf0.001, so the smoothed unseen path and pruned_ratio are live
    Entry("bigram_lm_pruned", (s, dir) =>
      TextAnalysis.bigramLm(cat(s, dir).table("documents"), minCount = 25)
        .orderBy("doc_id"),
      Sql(BigramLmSql(25))),

    // Learned quality filter: logistic regression distilling the heuristic
    // gate, trained as part of the plan (3 unrolled GD steps, each a 4-value
    // decimal aggregate riding a 1-row broadcast).
    Entry("quality_lr", (s, dir) =>
      QualityLr.qualityLr(cat(s, dir).table("documents")).orderBy("doc_id"),
      Sql(
      s"""WITH $QualityLrSql
         SELECT doc_id, label, x1, x2, x3, lr_score, lr_score >= 0.5 AS keep
         FROM s ORDER BY doc_id""")),

    // Train-once/gate-many (the DCLM classifier deployment shape):
    // weights trained on the even half, PERSISTED, loaded, and applied
    // map-side to the odd-half ingest batch — zero jobs against the
    // training corpus at apply time; loaded ≡ in-memory spec-asserted.
    Entry("quality_lr_apply", { (s, dir) =>
      val docs = cat(s, dir).table("documents")
      val store = Harness.tempStore("graft-qlr") + "/weights"
      QualityLr.trainAndSaveWeights(docs.where(col("doc_id") % 2 === 0), store)
      QualityLr.qualityLrApply(
          docs.where(col("doc_id") % 2 === 1), QualityLr.loadWeights(s, store))
        .orderBy("doc_id")
    }, Sql(
      s"""WITH ${qualityLrSqlOn("doc_id % 2 = 0", "doc_id % 2 = 1")}
         SELECT doc_id, label, x1, x2, x3, lr_score, lr_score >= 0.5 AS keep
         FROM s ORDER BY doc_id""")),

    // DSIR importance weights of the full corpus against the en-language
    // slice as the target domain (Xie et al. '23). buckets = 1024 keeps
    // the broadcast log-ratio table tiny while the ~500-token synthetic
    // vocabulary still exercises hash collisions.
    // Tagged-subset form: the target is a predicate over the corpus, so
    // the log-ratio table fits in ONE feature pass (two histograms from
    // the same aggregate). Identical output to the two-frame form.
    // Persisted deployment shape: the feature stream is cached and reused
    // by fit + score instead of recomputed (measured 2.2× — see
    // Dsir.dsirWeightsPersisted).
    Entry("dsir_weights", { (s, dir) =>
      val docs = cat(s, dir).table("documents")
      Dsir.dsirWeightsPersisted(docs, col("lang") === "en", buckets = 1024)
        .orderBy("doc_id")
    }, Sql(
      s"""WITH $DsirWeightsSql
         SELECT doc_id, n_features, dsir_logw FROM w ORDER BY doc_id""")),

    // Gumbel-top-k resample of the 100 most target-like docs under the
    // fixed salt — deterministic, engine-replayable sampling ∝ exp(logw).
    Entry("dsir_sample", { (s, dir) =>
      val docs = cat(s, dir).table("documents")
      Dsir.dsirSamplePersisted(docs, col("lang") === "en",
          k = 100, buckets = 1024, salt = "dsir")
        .orderBy("doc_id")
    }, Sql(
      s"""WITH $DsirWeightsSql,
         g AS (SELECT *,
           CAST(CAST(round(-ln(-ln(
             (CAST('0x' || substr(md5('dsir|' || doc_id::VARCHAR), 1, 15) AS BIGINT) % 1000000
              + 0.5) / 1000000.0)), 6) AS DECIMAL(18,6)) AS DOUBLE) AS gumbel
         FROM w),
         s AS (SELECT doc_id, n_features, dsir_logw, gumbel,
           CAST(round(CAST(dsir_logw AS DECIMAL(18,4))
             + CAST(gumbel AS DECIMAL(18,6)), 4) AS DOUBLE) AS score
         FROM g ORDER BY score DESC, doc_id LIMIT 100)
         SELECT * FROM s ORDER BY doc_id""")),

    // The synthetic corpus carries no real PII, so the demo query injects
    // a deterministic email / IPv4 / phone per row before scrubbing —
    // exercising match counting AND replacement against the oracle.
    Entry("pii_scrub", (s, dir) =>
      TextAnalysis.piiScrub(
        cat(s, dir).table("documents").select(col("doc_id"),
          concat(col("text"),
            lit(" contact user"), col("doc_id").cast("string"),
            lit("@example.com from 10.0."), (col("doc_id") % 250).cast("string"),
            lit(".7 call 555-867-"),
            lpad((col("doc_id") % 10000).cast("string"), 4, "0")).as("text")))
        .orderBy("doc_id"),
      Sql(
      """WITH d AS (SELECT doc_id,
           text || ' contact user' || doc_id::VARCHAR || '@example.com from 10.0.'
                || (doc_id % 250)::VARCHAR || '.7 call 555-867-'
                || lpad((doc_id % 10000)::VARCHAR, 4, '0') AS text
         FROM documents)
         SELECT doc_id,
           CAST(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
           CAST(len(regexp_extract_all(text, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS BIGINT) AS n_ips,
           CAST(len(regexp_extract_all(text, '\b\d{3}[-. ]\d{3}[-. ]\d{4}\b')) AS BIGINT) AS n_phones,
           regexp_replace(regexp_replace(regexp_replace(text,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
             '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '[IP]', 'g'),
             '\b\d{3}[-. ]\d{3}[-. ]\d{4}\b', '[PHONE]', 'g') AS clean_text
         FROM d ORDER BY doc_id""")),

    // ── LLM-data-pipeline: training-sequence prep ────────────────────────
    Entry("doc_chunk", (s, dir) =>
      Chunk.docChunk(cat(s, dir).table("documents"), window = 120, overlap = 20)
        .orderBy("doc_id", "chunk_id"),
      Sql(
      """WITH s AS (SELECT doc_id, text,
           unnest(range(1, greatest(len(text) - 20, 1) + 1, 100)) AS chunk_start
         FROM documents)
         SELECT doc_id,
           CAST((chunk_start - 1) // 100 AS BIGINT) AS chunk_id,
           CAST(chunk_start AS BIGINT) AS chunk_start,
           substring(text, CAST(chunk_start AS INT), 120) AS chunk_text,
           CAST(len(substring(text, CAST(chunk_start AS INT), 120)) AS BIGINT) AS n_chars_chunk
         FROM s ORDER BY doc_id, chunk_id""")),

    Entry("pack_sequences", (s, dir) =>
      Chunk.packSequences(cat(s, dir).table("documents"), budget = 256, buckets = 8)
        .orderBy("doc_id"),
      Sql(
      """WITH t AS (SELECT doc_id,
           CAST(len(list_filter(string_split_regex(lower(text), '\s+'), x -> len(x) > 0)) AS BIGINT) AS n_tokens,
           CAST(CAST('0x' || substr(md5('pack|' || doc_id::VARCHAR), 1, 15) AS BIGINT) % 8 AS INT) AS bucket
         FROM documents),
         c AS (SELECT *, sum(n_tokens) OVER (PARTITION BY bucket ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
         FROM t WHERE n_tokens > 0)
         SELECT doc_id, bucket, n_tokens,
           CAST((cum - n_tokens) // 256 AS BIGINT) AS seq_first,
           CAST((cum - 1) // 256 AS BIGINT) AS seq_last,
           CAST((cum - n_tokens) % 256 AS BIGINT) AS seq_offset
         FROM c ORDER BY doc_id""")),

    // packing budgeted in REAL tokenizer units: bpeApply's subword counts
    // feed the cut points instead of the whitespace proxy
    Entry("bpe_pack", (s, dir) =>
      Chunk.packSequences(
          Bpe.bpeApply(cat(s, dir).table("documents"), BpeDemoMerges),
          budget = 256, buckets = 8, tokenCol = Some("n_bpe_tokens"))
        .orderBy("doc_id"),
      Sql(
      s"""WITH $BpeApplySql,
         t AS (SELECT doc_id,
           CAST(CASE WHEN len(trim(repr)) = 0 THEN 0
             ELSE len(string_split_regex(trim(repr), '  +')) END AS BIGINT) AS n_tokens,
           CAST(CAST('0x' || substr(md5('pack|' || doc_id::VARCHAR), 1, 15) AS BIGINT) % 8 AS INT) AS bucket
         FROM bm),
         c AS (SELECT *, sum(n_tokens) OVER (PARTITION BY bucket ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
         FROM t WHERE n_tokens > 0)
         SELECT doc_id, bucket, n_tokens,
           CAST((cum - n_tokens) // 256 AS BIGINT) AS seq_first,
           CAST((cum - 1) // 256 AS BIGINT) AS seq_last,
           CAST((cum - n_tokens) % 256 AS BIGINT) AS seq_offset
         FROM c ORDER BY doc_id""")),

    Entry("train_shuffle", (s, dir) =>
      Chunk.trainShuffle(cat(s, dir).table("documents"), shards = 8)
        .orderBy("doc_id"),
      Sql(
      """WITH h AS (SELECT doc_id,
           CAST('0x' || substr(md5('shuffle' || CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) AS h
         FROM documents)
         SELECT doc_id, CAST(h % 8 AS INT) AS shard,
           CAST(row_number() OVER (PARTITION BY h % 8 ORDER BY h, doc_id) AS BIGINT) AS pos
         FROM h ORDER BY doc_id""")),

    // Benchmark set ≙ every 50th doc (the ANN query-set convention);
    // training side = everything else.
    Entry("contamination", (s, dir) =>
      Dedup.contamination(cat(s, dir).table("documents"), col("doc_id") % 50 === 0)
        .orderBy("doc_id"),
      Sql(
      """WITH t AS (SELECT doc_id,
           list_filter(string_split_regex(lower(text), '\s+'), x -> len(x) > 0) AS toks
         FROM documents),
         sh AS (SELECT doc_id, list_distinct(CASE WHEN len(toks) >= 4
             THEN list_transform(range(1, len(toks) - 2), i -> array_to_string(toks[i:i+3], ' '))
             ELSE [] END) AS s FROM t),
         ex AS (SELECT doc_id, unnest(list_transform(s, x -> CAST('0x' || substr(md5(x), 1, 15) AS BIGINT))) AS sg
           FROM sh WHERE len(s) > 0),
         bench AS (SELECT doc_id AS bench_id, sg FROM ex WHERE doc_id % 50 = 0),
         train AS (SELECT * FROM ex WHERE doc_id % 50 <> 0)
         SELECT train.doc_id AS doc_id,
           CAST(count(DISTINCT train.sg) AS BIGINT) AS n_shared_ngrams,
           CAST(count(DISTINCT bench_id) AS BIGINT) AS n_bench_docs
         FROM train JOIN bench USING (sg)
         GROUP BY 1 ORDER BY doc_id""")),

    // The composed corpus-cleaning pipeline — quality gate → exact-dedup
    // canonical keep → deterministic sample, the three stages every
    // training-data run chains, as ONE declarative plan (each stage a
    // left-semi join, so Catalyst fuses scans and pushes the projections).
    Entry("corpus_clean", { (s, dir) =>
      val docs = cat(s, dir).table("documents")
      val keep = TextAnalysis.dedupExact(docs).select(col("keep_id").as("doc_id"))
      val cleaned = docs
        .where(TextAnalysis.passesQuality(col("text")))
        .join(keep, Seq("doc_id"), "left_semi")
      TextAnalysis.hashSample(cleaned, pct = 50, salt = "clean")
        .select(col("doc_id"), col("lang"), col("source"))
        .orderBy("doc_id")
    }, Sql(
      """WITH t AS (SELECT doc_id, text,
           list_filter(string_split_regex(lower(text), '\s+'), x -> len(x) > 0) AS toks
         FROM documents),
         q AS (SELECT doc_id FROM t
           WHERE len(toks) >= 5 AND len(text) >= 40
             AND len(list_filter(toks, x -> list_contains(
               ['the','a','an','and','of','to','in','is','it','that'], x))) > 0),
         k AS (SELECT CAST(min(doc_id) AS BIGINT) AS doc_id FROM documents GROUP BY md5(text)),
         s AS (SELECT doc_id FROM documents
           WHERE CAST('0x' || substr(md5('clean|' || doc_id::VARCHAR), 1, 15) AS BIGINT) % 100 < 50)
         SELECT d.doc_id, d.lang, d.source FROM documents d
         JOIN q USING (doc_id) JOIN k USING (doc_id) JOIN s USING (doc_id)
         ORDER BY doc_id""")),

    // ── LLM-data-pipeline: multimodal plumbing (binary column + metadata) ─
    // End-to-end: cleaned corpus straight into packed training sequences —
    // quality gate → exact-dedup keep → deterministic sample → concat-and-
    // cut packing, ONE declarative plan (the full raw-text-to-model-input
    // path; every stage is the same operator the standalone queries run).
    Entry("corpus_to_sequences", { (s, dir) =>
      val docs = cat(s, dir).table("documents")
      val keep = TextAnalysis.dedupExact(docs).select(col("keep_id").as("doc_id"))
      val cleaned = docs
        .where(TextAnalysis.passesQuality(col("text")))
        .join(keep, Seq("doc_id"), "left_semi")
      Chunk.packSequences(
          TextAnalysis.hashSample(cleaned, pct = 50, salt = "clean"),
          budget = 256, buckets = 8)
        .orderBy("doc_id")
    }, Sql(
      """WITH t AS (SELECT doc_id, text,
           list_filter(string_split_regex(lower(text), '\s+'), x -> len(x) > 0) AS toks
         FROM documents),
         q AS (SELECT doc_id FROM t
           WHERE len(toks) >= 5 AND len(text) >= 40
             AND len(list_filter(toks, x -> list_contains(
               ['the','a','an','and','of','to','in','is','it','that'], x))) > 0),
         k AS (SELECT CAST(min(doc_id) AS BIGINT) AS doc_id FROM documents GROUP BY md5(text)),
         s AS (SELECT doc_id FROM documents
           WHERE CAST('0x' || substr(md5('clean|' || doc_id::VARCHAR), 1, 15) AS BIGINT) % 100 < 50),
         cleaned AS (SELECT t.doc_id, CAST(len(t.toks) AS BIGINT) AS n_tokens,
           CAST(CAST('0x' || substr(md5('pack|' || t.doc_id::VARCHAR), 1, 15) AS BIGINT) % 8 AS INT) AS bucket
         FROM t JOIN q USING (doc_id) JOIN k USING (doc_id) JOIN s USING (doc_id)),
         c AS (SELECT *, sum(n_tokens) OVER (PARTITION BY bucket ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
         FROM cleaned WHERE n_tokens > 0)
         SELECT doc_id, bucket, n_tokens,
           CAST((cum - n_tokens) // 256 AS BIGINT) AS seq_first,
           CAST((cum - 1) // 256 AS BIGINT) AS seq_last,
           CAST((cum - n_tokens) % 256 AS BIGINT) AS seq_offset
         FROM c ORDER BY doc_id""")),

    // Curated corpus straight into the shard writer's frame: quality gate
    // → exact-dedup keep → deterministic sample → trainOrder, emitted in
    // the exact (shard, pos) order writeTrainShards lays files out in —
    // the payload (n_chars here standing in for the text) rides the one
    // shard exchange instead of being re-joined.
    Entry("corpus_to_shards", { (s, dir) =>
      val docs = cat(s, dir).table("documents")
      val keep = TextAnalysis.dedupExact(docs).select(col("keep_id").as("doc_id"))
      val cleaned = docs
        .where(TextAnalysis.passesQuality(col("text")))
        .join(keep, Seq("doc_id"), "left_semi")
      Chunk.trainOrder(TextAnalysis.hashSample(cleaned, pct = 50, salt = "clean"),
          shards = 8)
        .select(col("doc_id"), col("shard"), col("pos"),
          length(col("text")).cast("long").as("n_chars"))
        .orderBy("shard", "pos")
    }, Sql(
      """WITH t AS (SELECT doc_id, text,
           list_filter(string_split_regex(lower(text), '\s+'), x -> len(x) > 0) AS toks
         FROM documents),
         q AS (SELECT doc_id FROM t
           WHERE len(toks) >= 5 AND len(text) >= 40
             AND len(list_filter(toks, x -> list_contains(
               ['the','a','an','and','of','to','in','is','it','that'], x))) > 0),
         k AS (SELECT CAST(min(doc_id) AS BIGINT) AS doc_id FROM documents GROUP BY md5(text)),
         s AS (SELECT doc_id FROM documents
           WHERE CAST('0x' || substr(md5('clean|' || doc_id::VARCHAR), 1, 15) AS BIGINT) % 100 < 50),
         cleaned AS (SELECT d.doc_id, CAST(len(d.text) AS BIGINT) AS n_chars,
           CAST('0x' || substr(md5('shuffle' || d.doc_id::VARCHAR), 1, 15) AS BIGINT) AS h
         FROM documents d JOIN q USING (doc_id) JOIN k USING (doc_id) JOIN s USING (doc_id))
         SELECT doc_id, CAST(h % 8 AS INT) AS shard,
           CAST(row_number() OVER (PARTITION BY h % 8 ORDER BY h, doc_id) AS BIGINT) AS pos,
           n_chars
         FROM cleaned ORDER BY shard, pos""")),

    Entry("multimodal_meta", (s, dir) =>
      Multimodal.mediaMeta(
        Multimodal.mediaFromDocuments(cat(s, dir).table("documents")))
        .orderBy("doc_id"),
      Sql(
      """SELECT doc_id, 'image/fake' AS media_type,
           CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
           md5(text) AS content_md5
         FROM documents ORDER BY doc_id""")),

    Entry("frame_sample", (s, dir) =>
      Multimodal.frameSample(
          Multimodal.mediaFromDocuments(cat(s, dir).table("documents")), everyN = 10)
        .select(col("doc_id"), col("media_type"),
          col("frame_idx").cast("long").as("frame_idx"),
          length(col("content")).cast("long").as("n_bytes"))
        .orderBy("doc_id", "frame_idx"),
      Sql(
      """SELECT doc_id, 'image/fake' AS media_type, CAST(u.f AS BIGINT) AS frame_idx,
           CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
         FROM documents, unnest(range(0, (n_chars % 640) + 1, 10)) AS u(f)
         ORDER BY doc_id, frame_idx""")),

    // ── LLM-data-pipeline: embedding similarity / ANN ────────────────────
    // Exact all-pairs baseline (verification-scale only; the default
    // bucketed plan below is the corpus-scale operator).
    Entry("embed_cosine_dup", (s, dir) =>
      Similarity.embedCosineDup(cat(s, dir).table("embeddings"), threshold = 0.4,
          exact = true)
        .orderBy("id_a", "id_b"),
      Sql(
      """WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
           FROM embeddings),
         n AS (SELECT vec_id, v,
           sqrt(list_reduce(list_transform(range(1, len(v) + 1), i -> v[i] * v[i]),
                (a, b) -> a + b)) AS nrm
         FROM e),
         p AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           list_reduce(list_transform(range(1, len(a.v) + 1), i -> a.v[i] * b.v[i]),
                (x, y) -> x + y) / (a.nrm * b.nrm) AS cos
         FROM n a JOIN n b ON a.vec_id < b.vec_id)
         SELECT id_a, id_b, round(cos, 4) AS cosine
         FROM p WHERE cos >= 0.4 ORDER BY id_a, id_b""")),

    Entry("embed_cosine_dup_bucketed", (s, dir) =>
      Similarity.embedCosineDup(cat(s, dir).table("embeddings"), threshold = 0.4)
        .orderBy("id_a", "id_b"),
      Sql(
      """WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
           FROM embeddings),
         n AS (SELECT vec_id, v,
           sqrt(list_reduce(list_transform(range(1, len(v) + 1), i -> v[i] * v[i]),
                (a, b) -> a + b)) AS nrm
         FROM e),
         bk AS (SELECT vec_id, r.b AS band,
           array_to_string(list_transform(range(0, 4), p -> CASE WHEN
             list_reduce(list_transform(range(1, len(v) + 1), i -> v[i] *
               ((CAST('0x' || substr(md5('plane|' || (r.b * 4 + p)::VARCHAR || '|' || i::VARCHAR), 1, 15) AS BIGINT)
                 % 2001 - 1000) / 1000.0)),
               (x, y) -> x + y) >= 0 THEN '1' ELSE '0' END), '') AS bkey
         FROM n CROSS JOIN range(0, 8) r(b)),
         cand AS (SELECT DISTINCT x.vec_id AS id_a, y.vec_id AS id_b
         FROM bk x JOIN bk y ON x.band = y.band AND x.bkey = y.bkey AND x.vec_id < y.vec_id),
         p AS (SELECT id_a, id_b,
           list_reduce(list_transform(range(1, len(a.v) + 1), i -> a.v[i] * b.v[i]),
                (x, y) -> x + y) / (a.nrm * b.nrm) AS cos
         FROM cand JOIN n a ON a.vec_id = cand.id_a JOIN n b ON b.vec_id = cand.id_b)
         SELECT id_a, id_b, round(cos, 4) AS cosine
         FROM p WHERE cos >= 0.4 ORDER BY id_a, id_b""")),

    Entry("ann_topk", (s, dir) =>
      Similarity.annTopK(cat(s, dir).table("embeddings"), col("vec_id") % 50 === 0, k = 10)
        .orderBy("query_id", "rank"),
      Sql(
      """WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
           FROM embeddings),
         n AS (SELECT vec_id, v,
           sqrt(list_reduce(list_transform(range(1, len(v) + 1), i -> v[i] * v[i]),
                (a, b) -> a + b)) AS nrm
         FROM e),
         p AS (SELECT q.vec_id AS query_id, x.vec_id AS neighbor_id,
           list_reduce(list_transform(range(1, len(q.v) + 1), i -> q.v[i] * x.v[i]),
                (a, b) -> a + b) / (q.nrm * x.nrm) AS cos
         FROM n q JOIN n x ON x.vec_id <> q.vec_id
         WHERE q.vec_id % 50 = 0),
         r AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rnk
         FROM p)
         SELECT query_id, neighbor_id, CAST(rnk AS BIGINT) AS "rank", round(cos, 4) AS cosine
         FROM r WHERE rnk <= 10 ORDER BY query_id, rnk""")),

    // all-pairs kNN edge list — every vector both query and candidate;
    // the LSH-banded self-join is the corpus-scale plan. corpusHint
    // derives planes (the doc_knn deployment-shape discipline); the
    // oracle derives the same count in SQL
    Entry("knn_graph", { (s, dir) =>
      val c = cat(s, dir)
      Similarity.knnGraph(c.table("embeddings"), k = 5, bands = 2,
          corpusHint = Some(c.rowCount("embeddings")))
        .orderBy("query_id", "rank")
    }, Sql(
      """WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
           FROM embeddings),
         n AS (SELECT vec_id, v,
           sqrt(list_reduce(list_transform(range(1, len(v) + 1), i -> v[i] * v[i]),
                (a, b) -> a + b)) AS nrm
         FROM e),
         pp AS (SELECT greatest(4, CASE
             WHEN c >= 1 AND power(2, c - 1) >= b THEN c - 1 ELSE c END) AS np
           FROM (SELECT b, CAST(ceil(log2(b)) AS INT) AS c
                 FROM (SELECT ceil(count(*) / 64.0) AS b FROM e))),
         bk AS (SELECT vec_id, v, nrm,
           array_to_string(list_transform(range(0, np), p -> CASE WHEN
             list_reduce(list_transform(range(1, len(v) + 1), i -> v[i] *
               ((CAST('0x' || substr(md5('plane|' || p::VARCHAR || '|' || i::VARCHAR), 1, 15) AS BIGINT)
                 % 2001 - 1000) / 1000.0)),
               (x, y) -> x + y) >= 0 THEN '1' ELSE '0' END), '') AS b0,
           array_to_string(list_transform(range(np, 2 * np), p -> CASE WHEN
             list_reduce(list_transform(range(1, len(v) + 1), i -> v[i] *
               ((CAST('0x' || substr(md5('plane|' || p::VARCHAR || '|' || i::VARCHAR), 1, 15) AS BIGINT)
                 % 2001 - 1000) / 1000.0)),
               (x, y) -> x + y) >= 0 THEN '1' ELSE '0' END), '') AS b1
         FROM n CROSS JOIN pp),
         p AS (SELECT q.vec_id AS query_id, x.vec_id AS neighbor_id,
           list_reduce(list_transform(range(1, len(q.v) + 1), i -> q.v[i] * x.v[i]),
                (a, b) -> a + b) / (q.nrm * x.nrm) AS cos
         FROM bk q JOIN bk x ON (x.b0 = q.b0 OR x.b1 = q.b1) AND x.vec_id <> q.vec_id),
         r AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rnk
         FROM p)
         SELECT query_id, neighbor_id, CAST(rnk AS BIGINT) AS "rank", round(cos, 4) AS cosine
         FROM r WHERE rnk <= 5 ORDER BY query_id, rnk""")),

    // the skew telemetry a deployment reads BEFORE paying the graph: per-
    // band bucket widths with the hot flag that points at center/bucketCap
    Entry("knn_bucket_stats", { (s, dir) =>
      val c = cat(s, dir)
      Similarity.bucketHistogram(c.table("embeddings"), bands = 2,
          corpusHint = Some(c.rowCount("embeddings")))
        .orderBy("band")
    }, Sql(
      """WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
           FROM embeddings),
         pp AS (SELECT greatest(4, CASE
             WHEN c >= 1 AND power(2, c - 1) >= b THEN c - 1 ELSE c END) AS np
           FROM (SELECT b, CAST(ceil(log2(b)) AS INT) AS c
                 FROM (SELECT ceil(count(*) / 64.0) AS b FROM e))),
         bk AS (SELECT vec_id,
           array_to_string(list_transform(range(0, np), p -> CASE WHEN
             list_reduce(list_transform(range(1, len(v) + 1), i -> v[i] *
               ((CAST('0x' || substr(md5('plane|' || p::VARCHAR || '|' || i::VARCHAR), 1, 15) AS BIGINT)
                 % 2001 - 1000) / 1000.0)),
               (x, y) -> x + y) >= 0 THEN '1' ELSE '0' END), '') AS b0,
           array_to_string(list_transform(range(np, 2 * np), p -> CASE WHEN
             list_reduce(list_transform(range(1, len(v) + 1), i -> v[i] *
               ((CAST('0x' || substr(md5('plane|' || p::VARCHAR || '|' || i::VARCHAR), 1, 15) AS BIGINT)
                 % 2001 - 1000) / 1000.0)),
               (x, y) -> x + y) >= 0 THEN '1' ELSE '0' END), '') AS b1
         FROM e CROSS JOIN pp),
         bb AS (SELECT 0 AS band, b0 AS bucket FROM bk
                UNION ALL SELECT 1 AS band, b1 AS bucket FROM bk),
         w AS (SELECT band, bucket, count(*) AS width FROM bb GROUP BY 1, 2),
         s AS (SELECT band, CAST(count(*) AS BIGINT) AS buckets,
             CAST(sum(width) AS BIGINT) AS vectors,
             CAST(max(width) AS BIGINT) AS max_width,
             round(quantile_cont(width, 0.99), 4) AS p99_width,
             round(CAST(sum(CAST(width AS DECIMAL(28,10))) AS DOUBLE) / count(*), 4)
               AS mean_width
           FROM w GROUP BY band)
         SELECT band, buckets, vectors, max_width, p99_width, mean_width,
           round(CAST(vectors AS DOUBLE) / power(2, np), 4) AS expected_width,
           CAST(max_width AS DOUBLE) >
             8.0 * greatest(round(CAST(vectors AS DOUBLE) / power(2, np), 4), 1.0) AS hot
         FROM s CROSS JOIN pp ORDER BY band""")),

    // n²-pair broadcast baseline for the graph (verification scale only)
    Entry("knn_graph_exact", (s, dir) =>
      Similarity.knnGraph(cat(s, dir).table("embeddings"), k = 5, exact = true)
        .orderBy("query_id", "rank"),
      Sql(
      """WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
           FROM embeddings),
         n AS (SELECT vec_id, v,
           sqrt(list_reduce(list_transform(range(1, len(v) + 1), i -> v[i] * v[i]),
                (a, b) -> a + b)) AS nrm
         FROM e),
         p AS (SELECT q.vec_id AS query_id, x.vec_id AS neighbor_id,
           list_reduce(list_transform(range(1, len(q.v) + 1), i -> q.v[i] * x.v[i]),
                (a, b) -> a + b) / (q.nrm * x.nrm) AS cos
         FROM n q JOIN n x ON x.vec_id <> q.vec_id),
         r AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rnk
         FROM p)
         SELECT query_id, neighbor_id, CAST(rnk AS BIGINT) AS "rank", round(cos, 4) AS cosine
         FROM r WHERE rnk <= 5 ORDER BY query_id, rnk""")),

    // per-vector kNN-neighborhood density (Sorscher '22 pruning signal):
    // dense core = redundant, sparse tail = outlier — one bounded groupBy
    // over the knn_graph edge list, deployment-shaped via corpusHint
    Entry("embed_density", { (s, dir) =>
      val c = cat(s, dir)
      Similarity.embedDensity(c.table("embeddings"), k = 5, bands = 2,
          corpusHint = Some(c.rowCount("embeddings")))
        .orderBy("vec_id")
    }, Sql(
      """WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
           FROM embeddings),
         n AS (SELECT vec_id, v,
           sqrt(list_reduce(list_transform(range(1, len(v) + 1), i -> v[i] * v[i]),
                (a, b) -> a + b)) AS nrm
         FROM e),
         pp AS (SELECT greatest(4, CASE
             WHEN c >= 1 AND power(2, c - 1) >= b THEN c - 1 ELSE c END) AS np
           FROM (SELECT b, CAST(ceil(log2(b)) AS INT) AS c
                 FROM (SELECT ceil(count(*) / 64.0) AS b FROM e))),
         bk AS (SELECT vec_id, v, nrm,
           array_to_string(list_transform(range(0, np), p -> CASE WHEN
             list_reduce(list_transform(range(1, len(v) + 1), i -> v[i] *
               ((CAST('0x' || substr(md5('plane|' || p::VARCHAR || '|' || i::VARCHAR), 1, 15) AS BIGINT)
                 % 2001 - 1000) / 1000.0)),
               (x, y) -> x + y) >= 0 THEN '1' ELSE '0' END), '') AS b0,
           array_to_string(list_transform(range(np, 2 * np), p -> CASE WHEN
             list_reduce(list_transform(range(1, len(v) + 1), i -> v[i] *
               ((CAST('0x' || substr(md5('plane|' || p::VARCHAR || '|' || i::VARCHAR), 1, 15) AS BIGINT)
                 % 2001 - 1000) / 1000.0)),
               (x, y) -> x + y) >= 0 THEN '1' ELSE '0' END), '') AS b1
         FROM n CROSS JOIN pp),
         p AS (SELECT q.vec_id AS query_id, x.vec_id AS neighbor_id,
           list_reduce(list_transform(range(1, len(q.v) + 1), i -> q.v[i] * x.v[i]),
                (a, b) -> a + b) / (q.nrm * x.nrm) AS cos
         FROM bk q JOIN bk x ON (x.b0 = q.b0 OR x.b1 = q.b1) AND x.vec_id <> q.vec_id),
         r AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rnk
         FROM p)
         SELECT query_id AS vec_id, count(*) AS k_edges,
           round(CAST(sum(CAST(round(cos, 4) AS DECIMAL(14,4))) AS DOUBLE) / count(*), 4) AS density
         FROM r WHERE rnk <= 5 GROUP BY query_id ORDER BY query_id""")),

    // the pruning act on the density score: exact integer-rank permille
    // cuts drop the sparsest 5 % (outliers) and densest 10 % (redundant
    // core); every scored vector emitted with its keep flag
    Entry("density_prune", { (s, dir) =>
      val c = cat(s, dir)
      Similarity.densityPrune(c.table("embeddings"), dropSparsestPermille = 50,
          dropDensestPermille = 100, k = 5, bands = 2,
          corpusHint = Some(c.rowCount("embeddings")))
        .orderBy("vec_id")
    }, Sql(
      """WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
           FROM embeddings),
         n AS (SELECT vec_id, v,
           sqrt(list_reduce(list_transform(range(1, len(v) + 1), i -> v[i] * v[i]),
                (a, b) -> a + b)) AS nrm
         FROM e),
         pp AS (SELECT greatest(4, CASE
             WHEN c >= 1 AND power(2, c - 1) >= b THEN c - 1 ELSE c END) AS np
           FROM (SELECT b, CAST(ceil(log2(b)) AS INT) AS c
                 FROM (SELECT ceil(count(*) / 64.0) AS b FROM e))),
         bk AS (SELECT vec_id, v, nrm,
           array_to_string(list_transform(range(0, np), p -> CASE WHEN
             list_reduce(list_transform(range(1, len(v) + 1), i -> v[i] *
               ((CAST('0x' || substr(md5('plane|' || p::VARCHAR || '|' || i::VARCHAR), 1, 15) AS BIGINT)
                 % 2001 - 1000) / 1000.0)),
               (x, y) -> x + y) >= 0 THEN '1' ELSE '0' END), '') AS b0,
           array_to_string(list_transform(range(np, 2 * np), p -> CASE WHEN
             list_reduce(list_transform(range(1, len(v) + 1), i -> v[i] *
               ((CAST('0x' || substr(md5('plane|' || p::VARCHAR || '|' || i::VARCHAR), 1, 15) AS BIGINT)
                 % 2001 - 1000) / 1000.0)),
               (x, y) -> x + y) >= 0 THEN '1' ELSE '0' END), '') AS b1
         FROM n CROSS JOIN pp),
         p AS (SELECT q.vec_id AS query_id, x.vec_id AS neighbor_id,
           list_reduce(list_transform(range(1, len(q.v) + 1), i -> q.v[i] * x.v[i]),
                (a, b) -> a + b) / (q.nrm * x.nrm) AS cos
         FROM bk q JOIN bk x ON (x.b0 = q.b0 OR x.b1 = q.b1) AND x.vec_id <> q.vec_id),
         r AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rnk
         FROM p),
         d AS (SELECT query_id AS vec_id, count(*) AS k_edges,
           round(CAST(sum(CAST(round(cos, 4) AS DECIMAL(14,4))) AS DOUBLE) / count(*), 4) AS density
         FROM r WHERE rnk <= 5 GROUP BY query_id),
         h AS (SELECT density AS v, count(*) AS c FROM d GROUP BY 1),
         cum AS (SELECT v, c,
           sum(c) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
           sum(c) OVER () AS nn
         FROM h),
         cuts AS (SELECT
           min(CASE WHEN cum * 1000 >= nn * 50 THEN v END) AS lo,
           min(CASE WHEN cum * 1000 >= nn * 900 THEN v END) AS hi
         FROM cum)
         SELECT vec_id, k_edges, density,
           (density >= lo AND density <= hi) AS keep
         FROM d CROSS JOIN cuts ORDER BY vec_id""")),

    // model-free text embedding (feature hashing) — flattened to
    // (vec_id, dim_i, v) rows so the oracle compares scalars, not arrays
    Entry("doc_embed", (s, dir) =>
      Similarity.docEmbed(cat(s, dir).table("documents"), dim = 16)
        .select(col("vec_id"),
          posexplode(col("embedding")).as(Seq("dim_i", "v")))
        .orderBy("vec_id", "dim_i"),
      Sql(
      s"""WITH $DocEmbedSql
         SELECT vec_id, CAST(de.bucket AS INT) AS dim_i, CAST(de.v AS DOUBLE) AS v
         FROM de ORDER BY vec_id, dim_i""")),

    // raw text straight to a semantic kNN graph: docEmbed ∘ knnGraph —
    // no external model anywhere in the plan. Banded-LSH form with
    // mean-centered bucketing: the exact form costs docs² pair rows
    // (41 s at sf0.1, measured); uncentered LSH re-skews to near-n²
    // because bag-of-words vectors share a dominant direction (3000 of
    // 5000 docs in one bucket, measured) — centering re-balances the
    // signs
    // `corpusHint` derives the plane count (planesFor: log₂(n/64),
    // floored at 4) so the benched plan IS the deployment plan — a
    // pinned plane count turns the within-bucket verify quadratic as
    // the corpus grows. The oracle derives the same count in SQL.
    Entry("doc_knn", { (s, dir) =>
      val c = cat(s, dir)
      Similarity.knnGraph(
          Similarity.docEmbed(c.table("documents"), dim = 16),
          k = 3, bands = 2, center = true, corpusHint = Some(c.rowCount("documents")))
        .orderBy("query_id", "rank")
    }, Sql(
      s"""WITH $DocEmbedSql,
         e AS (SELECT vec_id, list(CAST(v AS DOUBLE) ORDER BY bucket) AS v
           FROM de GROUP BY vec_id),
         n AS (SELECT vec_id, v,
           sqrt(list_reduce(list_transform(range(1, len(v) + 1), i -> v[i] * v[i]),
                (a, b) -> a + b)) AS nrm
         FROM e),
         mu AS (SELECT list(m ORDER BY bucket) AS mu FROM (
           SELECT bucket, CAST(sum(CAST(v AS DECIMAL(28,10))) AS DOUBLE) / count(*) AS m
           FROM de GROUP BY bucket)),
         cn AS (SELECT vec_id, v, nrm,
           list_transform(range(1, len(v) + 1), i -> v[i] - mu[i]) AS vc
         FROM n CROSS JOIN mu),
         pp AS (SELECT greatest(4, CASE
             WHEN c >= 1 AND power(2, c - 1) >= b THEN c - 1 ELSE c END) AS np
           FROM (SELECT b, CAST(ceil(log2(b)) AS INT) AS c
                 FROM (SELECT ceil(count(*) / 64.0) AS b FROM e))),
         bk AS (SELECT vec_id, v, nrm,
           array_to_string(list_transform(range(0, np), p -> CASE WHEN
             list_reduce(list_transform(range(1, len(vc) + 1), i -> vc[i] *
               ((CAST('0x' || substr(md5('plane|' || p::VARCHAR || '|' || i::VARCHAR), 1, 15) AS BIGINT)
                 % 2001 - 1000) / 1000.0)),
               (x, y) -> x + y) >= 0 THEN '1' ELSE '0' END), '') AS b0,
           array_to_string(list_transform(range(np, 2 * np), p -> CASE WHEN
             list_reduce(list_transform(range(1, len(vc) + 1), i -> vc[i] *
               ((CAST('0x' || substr(md5('plane|' || p::VARCHAR || '|' || i::VARCHAR), 1, 15) AS BIGINT)
                 % 2001 - 1000) / 1000.0)),
               (x, y) -> x + y) >= 0 THEN '1' ELSE '0' END), '') AS b1
         FROM cn CROSS JOIN pp),
         p AS (SELECT q.vec_id AS query_id, x.vec_id AS neighbor_id,
           list_reduce(list_transform(range(1, len(q.v) + 1), i -> q.v[i] * x.v[i]),
                (a, b) -> a + b) / (q.nrm * x.nrm) AS cos
         FROM bk q JOIN bk x ON (x.b0 = q.b0 OR x.b1 = q.b1) AND x.vec_id <> q.vec_id),
         r AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rnk
         FROM p)
         SELECT query_id, neighbor_id, CAST(rnk AS BIGINT) AS "rank", round(cos, 4) AS cosine
         FROM r WHERE rnk <= 3 ORDER BY query_id, rnk""")),

    // the RAG-indexing capstone: docChunk ∘ docEmbed ∘ knnGraph over
    // CHUNKS — passage-level neighbor edges with (doc_id, chunk_id)
    // provenance recovered by exact integer div/mod on the packed chunk
    // id; chunking adds no shuffle, planes derive from the
    // embedded-chunk count exactly as the oracle's
    // doc_knn's CTE chain over the docChunk stream (window 200, overlap
    // 40 → starts 1, 161, …), chunk identity packed as
    // doc_id·1e6 + chunk_id and unpacked by exact integer div/mod
    Entry("chunk_knn", (s, dir) =>
      Similarity.chunkKnn(cat(s, dir).table("documents"), k = 3)
        .orderBy("doc_id", "chunk_id", "rank"),
      Sql(
      s"""WITH chunks AS (
           SELECT doc_id * 1000000 + (cs - 1) // 160 AS doc_id,
             substr(text, CAST(cs AS INT), 200) AS text
           FROM (SELECT doc_id, text,
                   unnest(range(1, greatest(len(text) - 40, 1) + 1, 160)) AS cs
                 FROM documents)),
         ${docEmbedSqlOn("chunks")},
         e AS (SELECT vec_id, list(CAST(v AS DOUBLE) ORDER BY bucket) AS v
           FROM de GROUP BY vec_id),
         n AS (SELECT vec_id, v,
           sqrt(list_reduce(list_transform(range(1, len(v) + 1), i -> v[i] * v[i]),
                (a, b) -> a + b)) AS nrm
         FROM e),
         mu AS (SELECT list(m ORDER BY bucket) AS mu FROM (
           SELECT bucket, CAST(sum(CAST(v AS DECIMAL(28,10))) AS DOUBLE) / count(*) AS m
           FROM de GROUP BY bucket)),
         cn AS (SELECT vec_id, v, nrm,
           list_transform(range(1, len(v) + 1), i -> v[i] - mu[i]) AS vc
         FROM n CROSS JOIN mu),
         pp AS (SELECT greatest(4, CASE
             WHEN c >= 1 AND power(2, c - 1) >= b THEN c - 1 ELSE c END) AS np
           FROM (SELECT b, CAST(ceil(log2(b)) AS INT) AS c
                 FROM (SELECT ceil(count(*) / 64.0) AS b FROM e))),
         bk AS (SELECT vec_id, v, nrm,
           array_to_string(list_transform(range(0, np), p -> CASE WHEN
             list_reduce(list_transform(range(1, len(vc) + 1), i -> vc[i] *
               ((CAST('0x' || substr(md5('plane|' || p::VARCHAR || '|' || i::VARCHAR), 1, 15) AS BIGINT)
                 % 2001 - 1000) / 1000.0)),
               (x, y) -> x + y) >= 0 THEN '1' ELSE '0' END), '') AS b0,
           array_to_string(list_transform(range(np, 2 * np), p -> CASE WHEN
             list_reduce(list_transform(range(1, len(vc) + 1), i -> vc[i] *
               ((CAST('0x' || substr(md5('plane|' || p::VARCHAR || '|' || i::VARCHAR), 1, 15) AS BIGINT)
                 % 2001 - 1000) / 1000.0)),
               (x, y) -> x + y) >= 0 THEN '1' ELSE '0' END), '') AS b1
         FROM cn CROSS JOIN pp),
         p AS (SELECT q.vec_id AS query_id, x.vec_id AS neighbor_id,
           list_reduce(list_transform(range(1, len(q.v) + 1), i -> q.v[i] * x.v[i]),
                (a, b) -> a + b) / (q.nrm * x.nrm) AS cos
         FROM bk q JOIN bk x ON (x.b0 = q.b0 OR x.b1 = q.b1) AND x.vec_id <> q.vec_id),
         r AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rnk
         FROM p)
         SELECT query_id // 1000000 AS doc_id, query_id % 1000000 AS chunk_id,
           neighbor_id // 1000000 AS n_doc_id, neighbor_id % 1000000 AS n_chunk_id,
           CAST(rnk AS BIGINT) AS "rank", round(cos, 4) AS cosine
         FROM r WHERE rnk <= 3 ORDER BY doc_id, chunk_id, rnk""")),

    // the text-side capstone: high-cosine kNN edges over the hashed
    // embeddings feed connected components → semantic cluster ids over
    // raw text, zero external model (docEmbed ∘ knnGraph ∘ dedupGroups)
    Entry("semantic_groups", { (s, dir) =>
      val c = cat(s, dir)
      val edges = Similarity.knnGraph(
          Similarity.docEmbed(c.table("documents"), dim = 16),
          k = 3, bands = 2, center = true, corpusHint = Some(c.rowCount("documents")))
        .where(col("cosine") >= 0.95)
        .select(col("query_id").as("doc_a"), col("neighbor_id").as("doc_b"))
      Dedup.dedupGroups(edges).orderBy("doc_id")
    }, Sql(
      s"""WITH RECURSIVE $DocEmbedSql,
         e AS (SELECT vec_id, list(CAST(v AS DOUBLE) ORDER BY bucket) AS v
           FROM de GROUP BY vec_id),
         n AS (SELECT vec_id, v,
           sqrt(list_reduce(list_transform(range(1, len(v) + 1), i -> v[i] * v[i]),
                (a, b) -> a + b)) AS nrm
         FROM e),
         mu AS (SELECT list(m ORDER BY bucket) AS mu FROM (
           SELECT bucket, CAST(sum(CAST(v AS DECIMAL(28,10))) AS DOUBLE) / count(*) AS m
           FROM de GROUP BY bucket)),
         cn AS (SELECT vec_id, v, nrm,
           list_transform(range(1, len(v) + 1), i -> v[i] - mu[i]) AS vc
         FROM n CROSS JOIN mu),
         pp AS (SELECT greatest(4, CASE
             WHEN c >= 1 AND power(2, c - 1) >= b THEN c - 1 ELSE c END) AS np
           FROM (SELECT b, CAST(ceil(log2(b)) AS INT) AS c
                 FROM (SELECT ceil(count(*) / 64.0) AS b FROM e))),
         bk AS (SELECT vec_id, v, nrm,
           array_to_string(list_transform(range(0, np), p -> CASE WHEN
             list_reduce(list_transform(range(1, len(vc) + 1), i -> vc[i] *
               ((CAST('0x' || substr(md5('plane|' || p::VARCHAR || '|' || i::VARCHAR), 1, 15) AS BIGINT)
                 % 2001 - 1000) / 1000.0)),
               (x, y) -> x + y) >= 0 THEN '1' ELSE '0' END), '') AS b0,
           array_to_string(list_transform(range(np, 2 * np), p -> CASE WHEN
             list_reduce(list_transform(range(1, len(vc) + 1), i -> vc[i] *
               ((CAST('0x' || substr(md5('plane|' || p::VARCHAR || '|' || i::VARCHAR), 1, 15) AS BIGINT)
                 % 2001 - 1000) / 1000.0)),
               (x, y) -> x + y) >= 0 THEN '1' ELSE '0' END), '') AS b1
         FROM cn CROSS JOIN pp),
         p AS (SELECT q.vec_id AS query_id, x.vec_id AS neighbor_id,
           list_reduce(list_transform(range(1, len(q.v) + 1), i -> q.v[i] * x.v[i]),
                (a, b) -> a + b) / (q.nrm * x.nrm) AS cos
         FROM bk q JOIN bk x ON (x.b0 = q.b0 OR x.b1 = q.b1) AND x.vec_id <> q.vec_id),
         r AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rnk
         FROM p),
         mp AS (SELECT query_id AS doc_a, neighbor_id AS doc_b FROM r
           WHERE rnk <= 3 AND round(cos, 4) >= 0.95),
         eg AS (SELECT doc_a AS s, doc_b AS d FROM mp UNION SELECT doc_b, doc_a FROM mp),
         reach(id, rr) AS (
           SELECT s, s FROM eg GROUP BY s
           UNION
           SELECT eg.s, reach.rr FROM eg JOIN reach ON reach.id = eg.d
         )
         SELECT id AS doc_id, min(rr) AS group_id FROM reach GROUP BY id ORDER BY doc_id""")),

    Entry("ann_lsh", (s, dir) =>
      Similarity.annLsh(cat(s, dir).table("embeddings"), col("vec_id") % 50 === 0,
          k = 10, planes = 4)
        .orderBy("query_id", "rank"),
      Sql(
      """WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
           FROM embeddings),
         n AS (SELECT vec_id, v,
           sqrt(list_reduce(list_transform(range(1, len(v) + 1), i -> v[i] * v[i]),
                (a, b) -> a + b)) AS nrm
         FROM e),
         bk AS (SELECT vec_id, v, nrm,
           array_to_string(list_transform(range(0, 4), p -> CASE WHEN
             list_reduce(list_transform(range(1, len(v) + 1), i -> v[i] *
               ((CAST('0x' || substr(md5('plane|' || p::VARCHAR || '|' || i::VARCHAR), 1, 15) AS BIGINT)
                 % 2001 - 1000) / 1000.0)),
               (x, y) -> x + y) >= 0 THEN '1' ELSE '0' END), '') AS bucket
         FROM n),
         p AS (SELECT q.vec_id AS query_id, x.vec_id AS neighbor_id,
           list_reduce(list_transform(range(1, len(q.v) + 1), i -> q.v[i] * x.v[i]),
                (a, b) -> a + b) / (q.nrm * x.nrm) AS cos
         FROM bk q JOIN bk x ON x.bucket = q.bucket AND x.vec_id <> q.vec_id
         WHERE q.vec_id % 50 = 0),
         r AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rnk
         FROM p)
         SELECT query_id, neighbor_id, CAST(rnk AS BIGINT) AS "rank", round(cos, 4) AS cosine
         FROM r WHERE rnk <= 10 ORDER BY query_id, rnk""")),

    Entry("ann_lsh_probe2", (s, dir) =>
      Similarity.annLsh(cat(s, dir).table("embeddings"), col("vec_id") % 50 === 0,
          k = 10, planes = 4, nprobe = 2)
        .orderBy("query_id", "rank"),
      Sql(
      """WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
           FROM embeddings),
         n AS (SELECT vec_id, v,
           sqrt(list_reduce(list_transform(range(1, len(v) + 1), i -> v[i] * v[i]),
                (a, b) -> a + b)) AS nrm
         FROM e),
         d0 AS (SELECT vec_id, v, nrm,
           list_transform(range(0, 4), p ->
             list_reduce(list_transform(range(1, len(v) + 1), i -> v[i] *
               ((CAST('0x' || substr(md5('plane|' || p::VARCHAR || '|' || i::VARCHAR), 1, 15) AS BIGINT)
                 % 2001 - 1000) / 1000.0)), (x, y) -> x + y)) AS ds
         FROM n),
         d1 AS (SELECT vec_id, v, nrm,
           list_transform(ds, x -> CASE WHEN x >= 0 THEN '1' ELSE '0' END) AS sg,
           list_transform(ds, x -> abs(x)) AS ad
         FROM d0),
         d2 AS (SELECT vec_id, v, nrm, array_to_string(sg, '') AS bucket,
           list_concat([array_to_string(sg, '')],
             list_transform(
               list_filter(range(0, 4), p ->
                 len(list_filter(range(0, 4), q -> ad[q + 1] < ad[p + 1]
                   OR (ad[q + 1] = ad[p + 1] AND q < p))) < 1),
               p -> array_to_string(list_transform(range(0, 4), i ->
                 CASE WHEN i = p THEN (CASE WHEN sg[i + 1] = '1' THEN '0' ELSE '1' END)
                   ELSE sg[i + 1] END), ''))) AS probes
         FROM d1),
         q AS (SELECT vec_id AS query_id, v AS vq, nrm AS nq, unnest(probes) AS qbucket
         FROM d2 WHERE vec_id % 50 = 0),
         p AS (SELECT q.query_id, x.vec_id AS neighbor_id,
           list_reduce(list_transform(range(1, len(q.vq) + 1), i -> q.vq[i] * x.v[i]),
                (a, b) -> a + b) / (q.nq * x.nrm) AS cos
         FROM d2 x JOIN q ON x.bucket = q.qbucket AND x.vec_id <> q.query_id),
         r AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rnk
         FROM p)
         SELECT query_id, neighbor_id, CAST(rnk AS BIGINT) AS "rank", round(cos, 4) AS cosine
         FROM r WHERE rnk <= 10 ORDER BY query_id, rnk""")),

    Entry("ann_ivf", (s, dir) =>
      Similarity.annIvf(cat(s, dir).table("embeddings"), col("vec_id") % 50 === 0,
          k = 10, centEvery = 40)
        .orderBy("query_id", "rank"),
      Sql(
      """WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
           FROM embeddings),
         n AS (SELECT vec_id, v,
           sqrt(list_reduce(list_transform(range(1, len(v) + 1), i -> v[i] * v[i]),
                (a, b) -> a + b)) AS nrm
         FROM e),
         c AS (SELECT vec_id AS cent_id, v AS cv, nrm AS cnrm FROM n WHERE vec_id % 40 = 1),
         ac AS (SELECT n.vec_id, n.v, n.nrm, c.cent_id,
           list_reduce(list_transform(range(1, len(n.v) + 1), i -> n.v[i] * c.cv[i]),
                (a, b) -> a + b) / (n.nrm * c.cnrm) AS cos_c
         FROM n CROSS JOIN c),
         asg AS (SELECT vec_id, v, nrm, cent_id FROM (
           SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY cos_c DESC, cent_id) AS rn
           FROM ac) WHERE rn = 1),
         q AS (SELECT vec_id AS query_id, v AS vq, nrm AS nq, cent_id AS qcent
           FROM asg WHERE vec_id % 50 = 0),
         p AS (SELECT q.query_id, x.vec_id AS neighbor_id,
           list_reduce(list_transform(range(1, len(q.vq) + 1), i -> q.vq[i] * x.v[i]),
                (a, b) -> a + b) / (q.nq * x.nrm) AS cos
         FROM asg x JOIN q ON x.cent_id = q.qcent AND x.vec_id <> q.query_id),
         r AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rnk
         FROM p)
         SELECT query_id, neighbor_id, CAST(rnk AS BIGINT) AS "rank", round(cos, 4) AS cosine
         FROM r WHERE rnk <= 10 ORDER BY query_id, rnk""")),

    Entry("ann_ivf_probe2", (s, dir) =>
      Similarity.annIvf(cat(s, dir).table("embeddings"), col("vec_id") % 50 === 0,
          k = 10, centEvery = 40, nprobe = 2)
        .orderBy("query_id", "rank"),
      Sql(
      """WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
           FROM embeddings),
         n AS (SELECT vec_id, v,
           sqrt(list_reduce(list_transform(range(1, len(v) + 1), i -> v[i] * v[i]),
                (a, b) -> a + b)) AS nrm
         FROM e),
         c AS (SELECT vec_id AS cent_id, v AS cv, nrm AS cnrm FROM n WHERE vec_id % 40 = 1),
         ac AS (SELECT n.vec_id, n.v, n.nrm, c.cent_id,
           list_reduce(list_transform(range(1, len(n.v) + 1), i -> n.v[i] * c.cv[i]),
                (a, b) -> a + b) / (n.nrm * c.cnrm) AS cos_c
         FROM n CROSS JOIN c),
         acr AS (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY cos_c DESC, cent_id) AS rn
           FROM ac),
         asg AS (SELECT vec_id, v, nrm, cent_id FROM acr WHERE rn = 1),
         q AS (SELECT vec_id AS query_id, v AS vq, nrm AS nq, cent_id AS qcent
           FROM acr WHERE rn <= 2 AND vec_id % 50 = 0),
         p AS (SELECT q.query_id, x.vec_id AS neighbor_id,
           list_reduce(list_transform(range(1, len(q.vq) + 1), i -> q.vq[i] * x.v[i]),
                (a, b) -> a + b) / (q.nq * x.nrm) AS cos
         FROM asg x JOIN q ON x.cent_id = q.qcent AND x.vec_id <> q.query_id),
         r AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rnk
         FROM p)
         SELECT query_id, neighbor_id, CAST(rnk AS BIGINT) AS "rank", round(cos, 4) AS cosine
         FROM r WHERE rnk <= 10 ORDER BY query_id, rnk""")),

    // the recall dial priced as a first-class query: IVF nprobe=2 against
    // the brute-force exact baseline, per-query recall@10 — both inputs
    // are the two oracle-checked entries above, so the eval never touches
    // corpus volume beyond what they already pay
    Entry("ann_recall", { (s, dir) =>
      val emb = cat(s, dir).table("embeddings")
      val qf = col("vec_id") % 50 === 0
      Similarity.recallAtK(
          Similarity.annIvf(emb, qf, k = 10, centEvery = 40, nprobe = 2),
          Similarity.annTopK(emb, qf, k = 10))
        .orderBy("query_id")
    }, Sql(
      """WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
           FROM embeddings),
         n AS (SELECT vec_id, v,
           sqrt(list_reduce(list_transform(range(1, len(v) + 1), i -> v[i] * v[i]),
                (a, b) -> a + b)) AS nrm
         FROM e),
         c AS (SELECT vec_id AS cent_id, v AS cv, nrm AS cnrm FROM n WHERE vec_id % 40 = 1),
         ac AS (SELECT n.vec_id, n.v, n.nrm, c.cent_id,
           list_reduce(list_transform(range(1, len(n.v) + 1), i -> n.v[i] * c.cv[i]),
                (a, b) -> a + b) / (n.nrm * c.cnrm) AS cos_c
         FROM n CROSS JOIN c),
         acr AS (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY cos_c DESC, cent_id) AS rn
           FROM ac),
         asg AS (SELECT vec_id, v, nrm, cent_id FROM acr WHERE rn = 1),
         q AS (SELECT vec_id AS query_id, v AS vq, nrm AS nq, cent_id AS qcent
           FROM acr WHERE rn <= 2 AND vec_id % 50 = 0),
         p AS (SELECT q.query_id, x.vec_id AS neighbor_id,
           list_reduce(list_transform(range(1, len(q.vq) + 1), i -> q.vq[i] * x.v[i]),
                (a, b) -> a + b) / (q.nq * x.nrm) AS cos
         FROM asg x JOIN q ON x.cent_id = q.qcent AND x.vec_id <> q.query_id),
         r AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rnk
         FROM p),
         approx AS (SELECT query_id, neighbor_id FROM r WHERE rnk <= 10),
         px AS (SELECT qq.vec_id AS query_id, x.vec_id AS neighbor_id,
           list_reduce(list_transform(range(1, len(qq.v) + 1), i -> qq.v[i] * x.v[i]),
                (a, b) -> a + b) / (qq.nrm * x.nrm) AS cos
         FROM n qq JOIN n x ON x.vec_id <> qq.vec_id
         WHERE qq.vec_id % 50 = 0),
         rx AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rnk
         FROM px),
         exact AS (SELECT query_id, neighbor_id FROM rx WHERE rnk <= 10)
         SELECT ex.query_id,
           CAST(count(a.neighbor_id) AS BIGINT) AS hits,
           CAST(count(*) AS BIGINT) AS exact_k,
           round(count(a.neighbor_id) * 1.0 / count(*), 4) AS recall
         FROM exact ex LEFT JOIN approx a
           ON a.query_id = ex.query_id AND a.neighbor_id = ex.neighbor_id
         GROUP BY ex.query_id ORDER BY ex.query_id""")),

    Entry("semantic_dedup", (s, dir) =>
      Similarity.semanticDedup(cat(s, dir).table("embeddings"),
          threshold = 0.4, centEvery = 40)
        .orderBy("vec_id"),
      Sql(
      """WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
           FROM embeddings),
         n AS (SELECT vec_id, v,
           sqrt(list_reduce(list_transform(range(1, len(v) + 1), i -> v[i] * v[i]),
                (a, b) -> a + b)) AS nrm
         FROM e),
         c AS (SELECT vec_id AS cent_id, v AS cv, nrm AS cnrm FROM n WHERE vec_id % 40 = 1),
         ac AS (SELECT n.vec_id, n.v, n.nrm, c.cent_id,
           list_reduce(list_transform(range(1, len(n.v) + 1), i -> n.v[i] * c.cv[i]),
                (a, b) -> a + b) / (n.nrm * c.cnrm) AS cos_c
         FROM n CROSS JOIN c),
         asg AS (SELECT vec_id, v, nrm, cent_id AS cell_id FROM (
           SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY cos_c DESC, cent_id) AS rn
           FROM ac) WHERE rn = 1),
         p AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           list_reduce(list_transform(range(1, len(a.v) + 1), i -> a.v[i] * b.v[i]),
                (x, y) -> x + y) / (a.nrm * b.nrm) AS cos
         FROM asg a JOIN asg b ON a.cell_id = b.cell_id AND a.vec_id < b.vec_id),
         d AS (SELECT id_b, min(id_a) AS dup_of FROM p WHERE cos >= 0.4 GROUP BY id_b)
         SELECT asg.vec_id, asg.cell_id, d.dup_of IS NOT NULL AS is_dup, d.dup_of
         FROM asg LEFT JOIN d ON asg.vec_id = d.id_b ORDER BY asg.vec_id""")),

    Entry("cluster_sample", (s, dir) =>
      Similarity.clusterSample(cat(s, dir).table("embeddings"), perCell = 8,
          centEvery = 40)
        .orderBy("vec_id"),
      Sql(
      """WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
           FROM embeddings),
         n AS (SELECT vec_id, v,
           sqrt(list_reduce(list_transform(range(1, len(v) + 1), i -> v[i] * v[i]),
                (a, b) -> a + b)) AS nrm
         FROM e),
         c AS (SELECT vec_id AS cent_id, v AS cv, nrm AS cnrm FROM n WHERE vec_id % 40 = 1),
         ac AS (SELECT n.vec_id, n.v, n.nrm, c.cent_id,
           list_reduce(list_transform(range(1, len(n.v) + 1), i -> n.v[i] * c.cv[i]),
                (a, b) -> a + b) / (n.nrm * c.cnrm) AS cos_c
         FROM n CROSS JOIN c),
         asg AS (SELECT vec_id, cent_id AS cell_id FROM (
           SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY cos_c DESC, cent_id) AS rn
           FROM ac) WHERE rn = 1),
         r AS (SELECT vec_id, cell_id, row_number() OVER (PARTITION BY cell_id
             ORDER BY CAST('0x' || substr(md5('cs|' || vec_id::VARCHAR), 1, 15) AS BIGINT),
               vec_id) AS pick
         FROM asg)
         SELECT vec_id, cell_id, CAST(pick AS BIGINT) AS pick
         FROM r WHERE pick <= 8 ORDER BY vec_id""")),

    Entry("embed_pq", (s, dir) =>
      Similarity.pqEncode(cat(s, dir).table("embeddings"), m = 8, k = 16)
        .orderBy("vec_id"),
      Sql(
      """WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
           FROM embeddings),
         ce AS (SELECT vec_id,
           list_transform(range(0, 8), m ->
             list_transform(range(0, 16), c ->
               list_reduce(list_transform(range(0, 8), d ->
                 (v[m * 8 + d + 1] - ((CAST('0x' || substr(md5('pq|' || m::VARCHAR || '|' || c::VARCHAR || '|' || (d + 1)::VARCHAR), 1, 15) AS BIGINT) % 2001 - 1000) / 1000.0))
                 * (v[m * 8 + d + 1] - ((CAST('0x' || substr(md5('pq|' || m::VARCHAR || '|' || c::VARCHAR || '|' || (d + 1)::VARCHAR), 1, 15) AS BIGINT) % 2001 - 1000) / 1000.0))),
                 (a, b) -> a + b))) AS dss
         FROM e)
         SELECT vec_id,
           array_to_string(list_transform(dss, ds -> list_position(ds, list_min(ds)) - 1), ':') AS pq_code,
           round(sqrt(list_reduce(list_prepend(0.0, list_transform(dss, ds -> list_min(ds))), (a, b) -> a + b)), 4) AS recon_err
         FROM ce ORDER BY vec_id""")),

    // encode-then-DECODE: each vector's quantizer reproduction value in
    // exact integer milli-units — the re-found path's corpus decode
    // (VectorIndexStore.reconstruct) as a first-class quantization audit
    // the decode half: same codes CTE, then each dimension j reads the
    // md5-family codebook entry for (subspace j//8, that subspace's
    // code, dim j%8+1) in exact integer milli-units — hash % 2001 - 1000
    // IS the milli value, no float formatting crosses the engines
    Entry("pq_reconstruct", (s, dir) =>
      Similarity.pqReconstruct(cat(s, dir).table("embeddings"), m = 8, k = 16)
        .orderBy("vec_id"),
      Sql(
      """WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
           FROM embeddings),
         ce AS (SELECT vec_id,
           list_transform(range(0, 8), m ->
             list_transform(range(0, 16), c ->
               list_reduce(list_transform(range(0, 8), d ->
                 (v[m * 8 + d + 1] - ((CAST('0x' || substr(md5('pq|' || m::VARCHAR || '|' || c::VARCHAR || '|' || (d + 1)::VARCHAR), 1, 15) AS BIGINT) % 2001 - 1000) / 1000.0))
                 * (v[m * 8 + d + 1] - ((CAST('0x' || substr(md5('pq|' || m::VARCHAR || '|' || c::VARCHAR || '|' || (d + 1)::VARCHAR), 1, 15) AS BIGINT) % 2001 - 1000) / 1000.0))),
                 (a, b) -> a + b))) AS dss
         FROM e),
         co AS (SELECT vec_id,
           list_transform(dss, ds -> list_position(ds, list_min(ds)) - 1) AS codes
         FROM ce)
         SELECT vec_id,
           array_to_string(list_transform(range(0, 64), j ->
             (CAST('0x' || substr(md5('pq|' || (j // 8)::VARCHAR || '|' || codes[j // 8 + 1]::VARCHAR || '|' || (j % 8 + 1)::VARCHAR), 1, 15) AS BIGINT) % 2001 - 1000)::VARCHAR),
             ':') AS recon_milli
         FROM co ORDER BY vec_id""")),

    Entry("pq_search", (s, dir) =>
      Similarity.pqSearch(cat(s, dir).table("embeddings"), col("vec_id") % 50 === 0,
          kNN = 10, m = 8, k = 16)
        .orderBy("query_id", "rank"),
      Sql(
      """WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
           FROM embeddings),
         ce AS (SELECT vec_id,
           list_transform(range(0, 8), m ->
             list_transform(range(0, 16), c ->
               list_reduce(list_transform(range(0, 8), d ->
                 (v[m * 8 + d + 1] - ((CAST('0x' || substr(md5('pq|' || m::VARCHAR || '|' || c::VARCHAR || '|' || (d + 1)::VARCHAR), 1, 15) AS BIGINT) % 2001 - 1000) / 1000.0))
                 * (v[m * 8 + d + 1] - ((CAST('0x' || substr(md5('pq|' || m::VARCHAR || '|' || c::VARCHAR || '|' || (d + 1)::VARCHAR), 1, 15) AS BIGINT) % 2001 - 1000) / 1000.0))),
                 (a, b) -> a + b))) AS dss
         FROM e),
         t AS (SELECT vec_id, dss,
           list_transform(dss, ds -> list_position(ds, list_min(ds)) - 1) AS codes
         FROM ce),
         q AS (SELECT vec_id AS query_id, dss AS qlut FROM t WHERE vec_id % 50 = 0),
         p AS (SELECT q.query_id, x.vec_id AS neighbor_id,
           list_reduce(list_transform(range(0, 8), mi ->
             qlut[mi + 1][CAST(x.codes[mi + 1] + 1 AS INT)]), (a, b) -> a + b) AS adist
         FROM t x JOIN q ON x.vec_id <> q.query_id),
         r AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY adist, neighbor_id) AS rnk
         FROM p)
         SELECT query_id, neighbor_id, CAST(rnk AS BIGINT) AS "rank", round(adist, 4) AS approx_dist2
         FROM r WHERE rnk <= 10 ORDER BY query_id, rnk""")),

    // int8 scalar quantization (4× compression): codes + reconstruction
    // error under the driver-fetched per-dim bounds. The codes array is
    // serialized to a ':'-joined string for the gate (array columns are
    // unsortable in check.py's pandas comparator — the pq_code precedent)
    Entry("embed_sq", (s, dir) =>
      Similarity.embedSq(cat(s, dir).table("embeddings"))
        .select(col("vec_id"), concat_ws(":", col("codes")).as("sq_code"),
          col("recon_err2"))
        .orderBy("vec_id"),
      Sql(
      """WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
           FROM embeddings),
         mm AS (SELECT list(lo ORDER BY pos) AS los, list(hi ORDER BY pos) AS his FROM (
           SELECT pos, min(x) AS lo, max(x) AS hi FROM (
             SELECT unnest(v) AS x, generate_subscripts(v, 1) AS pos FROM e)
           GROUP BY pos)),
         c AS (SELECT vec_id, v,
           list_transform(range(1, len(v) + 1), i -> CASE WHEN his[i] = los[i] THEN 0
             ELSE CAST(round((v[i] - los[i]) * 255.0 / (his[i] - los[i])) AS INT) END) AS codes
         FROM e CROSS JOIN mm),
         r AS (SELECT vec_id, v, codes,
           list_transform(range(1, len(codes) + 1),
             i -> los[i] + (codes[i] * (his[i] - los[i])) / 255.0) AS rec
         FROM c CROSS JOIN mm)
         SELECT vec_id, array_to_string(codes, ':') AS sq_code,
           round(list_reduce(list_prepend(0.0, list_transform(range(1, len(v) + 1),
             i -> (v[i] - rec[i]) * (v[i] - rec[i]))), (a, b) -> a + b), 6) AS recon_err2
         FROM r ORDER BY vec_id""")),

    // asymmetric search over the SQ index: exact queries vs reconstructed
    // corpus, one codegen'd dot probe per pair, map-capped window top-k
    Entry("sq_search", (s, dir) =>
      Similarity.sqSearch(cat(s, dir).table("embeddings"), col("vec_id") % 50 === 0,
          kNN = 10)
        .orderBy("query_id", "rank"),
      Sql(
      """WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
           FROM embeddings),
         mm AS (SELECT list(lo ORDER BY pos) AS los, list(hi ORDER BY pos) AS his FROM (
           SELECT pos, min(x) AS lo, max(x) AS hi FROM (
             SELECT unnest(v) AS x, generate_subscripts(v, 1) AS pos FROM e)
           GROUP BY pos)),
         c AS (SELECT vec_id, v,
           list_transform(range(1, len(v) + 1), i -> CASE WHEN his[i] = los[i] THEN 0
             ELSE CAST(round((v[i] - los[i]) * 255.0 / (his[i] - los[i])) AS INT) END) AS codes
         FROM e CROSS JOIN mm),
         r AS (SELECT vec_id, v, codes,
           list_transform(range(1, len(codes) + 1),
             i -> los[i] + (codes[i] * (his[i] - los[i])) / 255.0) AS rec
         FROM c CROSS JOIN mm),
         sqx AS (SELECT vec_id, rec,
           list_reduce(list_prepend(0.0, list_transform(range(1, len(rec) + 1),
             i -> rec[i] * rec[i])), (a, b) -> a + b) AS rn2 FROM r),
         qv AS (SELECT vec_id AS query_id, v,
           list_reduce(list_prepend(0.0, list_transform(range(1, len(v) + 1),
             i -> v[i] * v[i])), (a, b) -> a + b) AS qn2
         FROM e WHERE vec_id % 50 = 0),
         p AS (SELECT q.query_id, x.vec_id AS neighbor_id,
           q.qn2 + x.rn2 - 2.0 * list_reduce(list_prepend(0.0,
             list_transform(range(1, len(q.v) + 1), i -> q.v[i] * x.rec[i])),
             (a, b) -> a + b) AS adist
         FROM qv q JOIN sqx x ON x.vec_id <> q.query_id),
         rk AS (SELECT *, row_number() OVER (PARTITION BY query_id
             ORDER BY adist, neighbor_id) AS rnk FROM p)
         SELECT query_id, neighbor_id, CAST(rnk AS BIGINT) AS "rank",
           round(adist, 4) AS approx_dist2
         FROM rk WHERE rnk <= 10 ORDER BY query_id, rnk""")),

    Entry("ivfpq_search", (s, dir) =>
      Similarity.ivfPqSearch(cat(s, dir).table("embeddings"), col("vec_id") % 50 === 0,
          kNN = 10, m = 8, k = 16, centEvery = 40, nprobe = 2)
        .orderBy("query_id", "rank"),
      Sql(
      """WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
           FROM embeddings),
         n AS (SELECT vec_id, v,
           sqrt(list_reduce(list_transform(range(1, len(v) + 1), i -> v[i] * v[i]),
                (a, b) -> a + b)) AS nrm
         FROM e),
         c AS (SELECT vec_id AS cent_id, v AS cv, nrm AS cnrm FROM n WHERE vec_id % 40 = 1),
         ac AS (SELECT n.vec_id, c.cent_id,
           list_reduce(list_transform(range(1, len(n.v) + 1), i -> n.v[i] * c.cv[i]),
                (a, b) -> a + b) / (n.nrm * c.cnrm) AS cos_c
         FROM n CROSS JOIN c),
         acr AS (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY cos_c DESC, cent_id) AS rn
           FROM ac),
         ce AS (SELECT vec_id,
           list_transform(range(0, 8), mi ->
             list_transform(range(0, 16), ci ->
               list_reduce(list_transform(range(0, 8), di ->
                 (v[mi * 8 + di + 1] - ((CAST('0x' || substr(md5('pq|' || mi::VARCHAR || '|' || ci::VARCHAR || '|' || (di + 1)::VARCHAR), 1, 15) AS BIGINT) % 2001 - 1000) / 1000.0))
                 * (v[mi * 8 + di + 1] - ((CAST('0x' || substr(md5('pq|' || mi::VARCHAR || '|' || ci::VARCHAR || '|' || (di + 1)::VARCHAR), 1, 15) AS BIGINT) % 2001 - 1000) / 1000.0))),
                 (a, b) -> a + b))) AS dss
         FROM e),
         t AS (SELECT vec_id, dss,
           list_transform(dss, ds -> list_position(ds, list_min(ds)) - 1) AS codes
         FROM ce),
         idx AS (SELECT acr.vec_id, acr.cent_id, t.codes
           FROM acr JOIN t ON acr.vec_id = t.vec_id WHERE acr.rn = 1),
         q AS (SELECT acr.vec_id AS query_id, acr.cent_id AS qcent, t.dss AS qlut
           FROM acr JOIN t ON acr.vec_id = t.vec_id
           WHERE acr.rn <= 2 AND acr.vec_id % 50 = 0),
         p AS (SELECT q.query_id, x.vec_id AS neighbor_id,
           list_reduce(list_transform(range(0, 8), mi ->
             q.qlut[mi + 1][CAST(x.codes[mi + 1] + 1 AS INT)]), (a, b) -> a + b) AS adist
         FROM idx x JOIN q ON x.cent_id = q.qcent AND x.vec_id <> q.query_id),
         r AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY adist, neighbor_id) AS rnk
         FROM p)
         SELECT query_id, neighbor_id, CAST(rnk AS BIGINT) AS "rank", round(adist, 4) AS approx_dist2
         FROM r WHERE rnk <= 10 ORDER BY query_id, rnk""")),

    // full IVFADC: codes quantize the own-cell RESIDUAL, queries build one
    // ADC LUT per probed cell from their residual against that cell
    Entry("ivfpq_residual", (s, dir) =>
      Similarity.ivfPqSearch(cat(s, dir).table("embeddings"), col("vec_id") % 50 === 0,
          kNN = 10, m = 8, k = 16, centEvery = 40, nprobe = 2, residual = true)
        .orderBy("query_id", "rank"),
      Sql(
      """WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
           FROM embeddings),
         n AS (SELECT vec_id, v,
           sqrt(list_reduce(list_transform(range(1, len(v) + 1), i -> v[i] * v[i]),
                (a, b) -> a + b)) AS nrm
         FROM e),
         c AS (SELECT vec_id AS cent_id, v AS cv, nrm AS cnrm FROM n WHERE vec_id % 40 = 1),
         ac AS (SELECT n.vec_id, c.cent_id,
           list_reduce(list_transform(range(1, len(n.v) + 1), i -> n.v[i] * c.cv[i]),
                (a, b) -> a + b) / (n.nrm * c.cnrm) AS cos_c
         FROM n CROSS JOIN c),
         acr AS (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY cos_c DESC, cent_id) AS rn
           FROM ac),
         enc AS (SELECT a.vec_id, a.cent_id,
           list_transform(range(1, len(nn.v) + 1), i -> nn.v[i] - cc.cv[i]) AS rv
         FROM acr a JOIN n nn ON a.vec_id = nn.vec_id JOIN c cc ON a.cent_id = cc.cent_id
         WHERE a.rn = 1),
         ce AS (SELECT vec_id, cent_id,
           list_transform(range(0, 8), mi ->
             list_transform(range(0, 16), ci ->
               list_reduce(list_transform(range(0, 8), di ->
                 (rv[mi * 8 + di + 1] - ((CAST('0x' || substr(md5('pq|' || mi::VARCHAR || '|' || ci::VARCHAR || '|' || (di + 1)::VARCHAR), 1, 15) AS BIGINT) % 2001 - 1000) / 1000.0))
                 * (rv[mi * 8 + di + 1] - ((CAST('0x' || substr(md5('pq|' || mi::VARCHAR || '|' || ci::VARCHAR || '|' || (di + 1)::VARCHAR), 1, 15) AS BIGINT) % 2001 - 1000) / 1000.0))),
                 (a, b) -> a + b))) AS dss
         FROM enc),
         idx AS (SELECT vec_id, cent_id,
           list_transform(dss, ds -> list_position(ds, list_min(ds)) - 1) AS codes
         FROM ce),
         qr AS (SELECT a.vec_id AS query_id, a.cent_id AS qcent,
           list_transform(range(1, len(nn.v) + 1), i -> nn.v[i] - cc.cv[i]) AS rq
         FROM acr a JOIN n nn ON a.vec_id = nn.vec_id JOIN c cc ON a.cent_id = cc.cent_id
         WHERE a.rn <= 2 AND a.vec_id % 50 = 0),
         q AS (SELECT query_id, qcent,
           list_transform(range(0, 8), mi ->
             list_transform(range(0, 16), ci ->
               list_reduce(list_transform(range(0, 8), di ->
                 (rq[mi * 8 + di + 1] - ((CAST('0x' || substr(md5('pq|' || mi::VARCHAR || '|' || ci::VARCHAR || '|' || (di + 1)::VARCHAR), 1, 15) AS BIGINT) % 2001 - 1000) / 1000.0))
                 * (rq[mi * 8 + di + 1] - ((CAST('0x' || substr(md5('pq|' || mi::VARCHAR || '|' || ci::VARCHAR || '|' || (di + 1)::VARCHAR), 1, 15) AS BIGINT) % 2001 - 1000) / 1000.0))),
                 (a, b) -> a + b))) AS qlut
         FROM qr),
         p AS (SELECT q.query_id, x.vec_id AS neighbor_id,
           list_reduce(list_transform(range(0, 8), mi ->
             q.qlut[mi + 1][CAST(x.codes[mi + 1] + 1 AS INT)]), (a, b) -> a + b) AS adist
         FROM idx x JOIN q ON x.cent_id = q.qcent AND x.vec_id <> q.query_id),
         r AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY adist, neighbor_id) AS rnk
         FROM p)
         SELECT query_id, neighbor_id, CAST(rnk AS BIGINT) AS "rank", round(adist, 4) AS approx_dist2
         FROM r WHERE rnk <= 10 ORDER BY query_id, rnk""")),

    // The ANN serving LOOP against a persisted IVFPQ index
    // (VectorIndexStore — the vector sibling of fingerprint_ingest /
    // minhash_ingest_dedup): found the index on two-thirds of the
    // corpus, fold the rest in under the FROZEN founding codebooks
    // (append), then ADC-search an external query batch against
    // codebooks + postings alone — the corpus is encoded exactly once
    // and never rescanned at query time. External queries carry no
    // self-pair exclusion: a query that is also a corpus row scores its
    // own posting like any candidate (the serving contract).
    // Serving-loop oracle: identical to ivfpq_search's modeling except
    // (a) centroids sample only the FOUNDING subset (vec_id % 3 <> 0 —
    // the frozen-codebook property makes founding+append postings equal
    // a one-shot encode of the union, so the oracle encodes the union),
    // and (b) no self-pair exclusion (external-query contract).
    Entry("ivfpq_ingest_search", { (s, dir) =>
      val emb = cat(s, dir).table("embeddings")
      val store = Harness.tempStore("graft-vixstore")
      VectorIndexStore.save(emb.where(col("vec_id") % 3 =!= 0), store,
        m = 8, k = 16, centEvery = 40)
      VectorIndexStore.append(emb.where(col("vec_id") % 3 === 0), store)
      VectorIndexStore.search(
          emb.where(col("vec_id") % 50 === 0)
            .select(col("vec_id"), col("embedding")),
          store, kNN = 10, nprobe = 2)
        .orderBy("query_id", "rank")
    }, Sql(
      """WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
           FROM embeddings),
         n AS (SELECT vec_id, v,
           sqrt(list_reduce(list_transform(range(1, len(v) + 1), i -> v[i] * v[i]),
                (a, b) -> a + b)) AS nrm
         FROM e),
         c AS (SELECT vec_id AS cent_id, v AS cv, nrm AS cnrm FROM n
           WHERE vec_id % 40 = 1 AND vec_id % 3 <> 0),
         ac AS (SELECT n.vec_id, c.cent_id,
           list_reduce(list_transform(range(1, len(n.v) + 1), i -> n.v[i] * c.cv[i]),
                (a, b) -> a + b) / (n.nrm * c.cnrm) AS cos_c
         FROM n CROSS JOIN c),
         acr AS (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY cos_c DESC, cent_id) AS rn
           FROM ac),
         ce AS (SELECT vec_id,
           list_transform(range(0, 8), mi ->
             list_transform(range(0, 16), ci ->
               list_reduce(list_transform(range(0, 8), di ->
                 (v[mi * 8 + di + 1] - ((CAST('0x' || substr(md5('pq|' || mi::VARCHAR || '|' || ci::VARCHAR || '|' || (di + 1)::VARCHAR), 1, 15) AS BIGINT) % 2001 - 1000) / 1000.0))
                 * (v[mi * 8 + di + 1] - ((CAST('0x' || substr(md5('pq|' || mi::VARCHAR || '|' || ci::VARCHAR || '|' || (di + 1)::VARCHAR), 1, 15) AS BIGINT) % 2001 - 1000) / 1000.0))),
                 (a, b) -> a + b))) AS dss
         FROM e),
         t AS (SELECT vec_id, dss,
           list_transform(dss, ds -> list_position(ds, list_min(ds)) - 1) AS codes
         FROM ce),
         idx AS (SELECT acr.vec_id, acr.cent_id, t.codes
           FROM acr JOIN t ON acr.vec_id = t.vec_id WHERE acr.rn = 1),
         q AS (SELECT acr.vec_id AS query_id, acr.cent_id AS qcent, t.dss AS qlut
           FROM acr JOIN t ON acr.vec_id = t.vec_id
           WHERE acr.rn <= 2 AND acr.vec_id % 50 = 0),
         p AS (SELECT q.query_id, x.vec_id AS neighbor_id,
           list_reduce(list_transform(range(0, 8), mi ->
             qlut[mi + 1][CAST(x.codes[mi + 1] + 1 AS INT)]), (a, b) -> a + b) AS adist
         FROM idx x JOIN q ON x.cent_id = q.qcent),
         r AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY adist, neighbor_id) AS rnk
         FROM p)
         SELECT query_id, neighbor_id, CAST(rnk AS BIGINT) AS "rank", round(adist, 4) AS approx_dist2
         FROM r WHERE rnk <= 10 ORDER BY query_id, rnk""")),

    // The serving loop in the BETTER-RECALL form: codes quantize the
    // own-cell residual (the founding `residual = true` knob, persisted
    // in pqmeta and routed automatically by search — one ADC LUT per
    // probed cell from the query's residual against that cell). Same
    // save/append/external-search shape as ivfpq_ingest_search.
    // Residual serving-loop oracle: the ivfpq_residual modeling with the
    // ivfpq_ingest_search deltas — centroids sample only the FOUNDING
    // subset (frozen codebooks make founding+append ≡ one-shot union
    // encode) and no self-pair exclusion (external-query contract).
    Entry("ivfpq_ingest_residual", { (s, dir) =>
      val emb = cat(s, dir).table("embeddings")
      val store = Harness.tempStore("graft-vixresid")
      VectorIndexStore.save(emb.where(col("vec_id") % 3 =!= 0), store,
        m = 8, k = 16, centEvery = 40, residual = true)
      VectorIndexStore.append(emb.where(col("vec_id") % 3 === 0), store)
      VectorIndexStore.search(
          emb.where(col("vec_id") % 50 === 0)
            .select(col("vec_id"), col("embedding")),
          store, kNN = 10, nprobe = 2)
        .orderBy("query_id", "rank")
    }, Sql(
      """WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
           FROM embeddings),
         n AS (SELECT vec_id, v,
           sqrt(list_reduce(list_transform(range(1, len(v) + 1), i -> v[i] * v[i]),
                (a, b) -> a + b)) AS nrm
         FROM e),
         c AS (SELECT vec_id AS cent_id, v AS cv, nrm AS cnrm FROM n
           WHERE vec_id % 40 = 1 AND vec_id % 3 <> 0),
         ac AS (SELECT n.vec_id, c.cent_id,
           list_reduce(list_transform(range(1, len(n.v) + 1), i -> n.v[i] * c.cv[i]),
                (a, b) -> a + b) / (n.nrm * c.cnrm) AS cos_c
         FROM n CROSS JOIN c),
         acr AS (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY cos_c DESC, cent_id) AS rn
           FROM ac),
         enc AS (SELECT a.vec_id, a.cent_id,
           list_transform(range(1, len(nn.v) + 1), i -> nn.v[i] - cc.cv[i]) AS rv
         FROM acr a JOIN n nn ON a.vec_id = nn.vec_id JOIN c cc ON a.cent_id = cc.cent_id
         WHERE a.rn = 1),
         ce AS (SELECT vec_id, cent_id,
           list_transform(range(0, 8), mi ->
             list_transform(range(0, 16), ci ->
               list_reduce(list_transform(range(0, 8), di ->
                 (rv[mi * 8 + di + 1] - ((CAST('0x' || substr(md5('pq|' || mi::VARCHAR || '|' || ci::VARCHAR || '|' || (di + 1)::VARCHAR), 1, 15) AS BIGINT) % 2001 - 1000) / 1000.0))
                 * (rv[mi * 8 + di + 1] - ((CAST('0x' || substr(md5('pq|' || mi::VARCHAR || '|' || ci::VARCHAR || '|' || (di + 1)::VARCHAR), 1, 15) AS BIGINT) % 2001 - 1000) / 1000.0))),
                 (a, b) -> a + b))) AS dss
         FROM enc),
         idx AS (SELECT vec_id, cent_id,
           list_transform(dss, ds -> list_position(ds, list_min(ds)) - 1) AS codes
         FROM ce),
         qr AS (SELECT a.vec_id AS query_id, a.cent_id AS qcent,
           list_transform(range(1, len(nn.v) + 1), i -> nn.v[i] - cc.cv[i]) AS rq
         FROM acr a JOIN n nn ON a.vec_id = nn.vec_id JOIN c cc ON a.cent_id = cc.cent_id
         WHERE a.rn <= 2 AND a.vec_id % 50 = 0),
         q AS (SELECT query_id, qcent,
           list_transform(range(0, 8), mi ->
             list_transform(range(0, 16), ci ->
               list_reduce(list_transform(range(0, 8), di ->
                 (rq[mi * 8 + di + 1] - ((CAST('0x' || substr(md5('pq|' || mi::VARCHAR || '|' || ci::VARCHAR || '|' || (di + 1)::VARCHAR), 1, 15) AS BIGINT) % 2001 - 1000) / 1000.0))
                 * (rq[mi * 8 + di + 1] - ((CAST('0x' || substr(md5('pq|' || mi::VARCHAR || '|' || ci::VARCHAR || '|' || (di + 1)::VARCHAR), 1, 15) AS BIGINT) % 2001 - 1000) / 1000.0))),
                 (a, b) -> a + b))) AS qlut
         FROM qr),
         p AS (SELECT q.query_id, x.vec_id AS neighbor_id,
           list_reduce(list_transform(range(0, 8), mi ->
             q.qlut[mi + 1][CAST(x.codes[mi + 1] + 1 AS INT)]), (a, b) -> a + b) AS adist
         FROM idx x JOIN q ON x.cent_id = q.qcent),
         r AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY adist, neighbor_id) AS rnk
         FROM p)
         SELECT query_id, neighbor_id, CAST(rnk AS BIGINT) AS "rank", round(adist, 4) AS approx_dist2
         FROM r WHERE rnk <= 10 ORDER BY query_id, rnk""")),

    // The RAG SERVING path end-to-end: chunk the corpus, embed the
    // chunks (packed (doc_id, chunk_id) identity), persist the IVFPQ
    // index ONCE (VectorIndexStore), then serve an external query
    // batch's chunks against codebooks + postings alone — retrieval
    // with passage provenance on both sides, zero corpus jobs at query
    // time. centEvery = 163 (prime): 10^6 ≡ 158 (mod 163), so packed
    // chunk ids scatter across the sampling rule instead of aliasing
    // chunk_id as a 10^6-divisor would.
    // RAG serving oracle: chunk_knn's chunk->embed CTE chain feeding
    // ivfpq_ingest_search's IVFADC modeling (dim 16, m 8 -> sub 2),
    // centroid rule vec_id % 163 = 1 over the packed chunk ids, queries
    // = the %50 docs' chunks, provenance unpacked by div/mod. Like the
    // ivfpq oracles, the c CTE omits sampleCentroids' maxCents=256 cap —
    // valid while the corpus yields <= 256 candidates (65 chunk
    // centroids at sf0.1; past ~42k chunks the cap is the intended
    // production behavior and the oracle is the side that stops
    // modeling it — the sampleCentroids doc's contract).
    Entry("chunk_index_search", { (s, dir) =>
      chunkIndexServe(s, dir, chunkIndexBuild(s, dir))
    }, Sql(
      s"""WITH chunks AS (
           SELECT doc_id * 1000000 + (cs - 1) // 160 AS doc_id,
             substr(text, CAST(cs AS INT), 200) AS text
           FROM (SELECT doc_id, text,
                   unnest(range(1, greatest(len(text) - 40, 1) + 1, 160)) AS cs
                 FROM documents)),
         ${docEmbedSqlOn("chunks")},
         e AS (SELECT vec_id, list(CAST(v AS DOUBLE) ORDER BY bucket) AS v
           FROM de GROUP BY vec_id),
         n AS (SELECT vec_id, v,
           sqrt(list_reduce(list_transform(range(1, len(v) + 1), i -> v[i] * v[i]),
                (a, b) -> a + b)) AS nrm
         FROM e),
         c AS (SELECT vec_id AS cent_id, v AS cv, nrm AS cnrm FROM n
           WHERE vec_id % 163 = 1),
         ac AS (SELECT n.vec_id, c.cent_id,
           list_reduce(list_transform(range(1, len(n.v) + 1), i -> n.v[i] * c.cv[i]),
                (a, b) -> a + b) / (n.nrm * c.cnrm) AS cos_c
         FROM n CROSS JOIN c),
         acr AS (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY cos_c DESC, cent_id) AS rn
           FROM ac),
         ce AS (SELECT vec_id,
           list_transform(range(0, 8), mi ->
             list_transform(range(0, 16), ci ->
               list_reduce(list_transform(range(0, 2), di ->
                 (v[mi * 2 + di + 1] - ((CAST('0x' || substr(md5('pq|' || mi::VARCHAR || '|' || ci::VARCHAR || '|' || (di + 1)::VARCHAR), 1, 15) AS BIGINT) % 2001 - 1000) / 1000.0))
                 * (v[mi * 2 + di + 1] - ((CAST('0x' || substr(md5('pq|' || mi::VARCHAR || '|' || ci::VARCHAR || '|' || (di + 1)::VARCHAR), 1, 15) AS BIGINT) % 2001 - 1000) / 1000.0))),
                 (a, b) -> a + b))) AS dss
         FROM e),
         t AS (SELECT vec_id, dss,
           list_transform(dss, ds -> list_position(ds, list_min(ds)) - 1) AS codes
         FROM ce),
         idx AS (SELECT acr.vec_id, acr.cent_id, t.codes
           FROM acr JOIN t ON acr.vec_id = t.vec_id WHERE acr.rn = 1),
         q AS (SELECT acr.vec_id AS query_id, acr.cent_id AS qcent, t.dss AS qlut
           FROM acr JOIN t ON acr.vec_id = t.vec_id
           WHERE acr.rn <= 2 AND (acr.vec_id // 1000000) % 50 = 0),
         p AS (SELECT q.query_id, x.vec_id AS neighbor_id,
           list_reduce(list_transform(range(0, 8), mi ->
             qlut[mi + 1][CAST(x.codes[mi + 1] + 1 AS INT)]), (a, b) -> a + b) AS adist
         FROM idx x JOIN q ON x.cent_id = q.qcent),
         r AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY adist, neighbor_id) AS rnk
         FROM p)
         SELECT CAST(query_id // 1000000 AS BIGINT) AS doc_id,
           query_id % 1000000 AS chunk_id,
           CAST(neighbor_id // 1000000 AS BIGINT) AS n_doc_id,
           neighbor_id % 1000000 AS n_chunk_id,
           CAST(rnk AS BIGINT) AS "rank", round(adist, 4) AS approx_dist2
         FROM r WHERE rnk <= 5 ORDER BY doc_id, chunk_id, rnk""")),

    Entry("events_hourly", { (s, dir) =>
      // ts is epoch-nanos (nanosAsLong read); bucket to hour starts.
      // Sums go through exact decimals: double addition is not associative,
      // so a float sum depends on partition merge order — nondeterministic
      // across partitionings (and across engines). Decimal sums are exact.
      cat(s, dir).table("events")
        .withColumn("hour_start", expr("ts DIV 3600000000000") * 3600)
        .groupBy(col("event_type"), col("hour_start"))
        .agg(count(lit(1)).as("n_events"),
          round(sum(col("value").cast("decimal(18,6)")), 2).cast("double").as("sum_value"),
          (sum(col("value").cast("decimal(18,6)")).cast("double") / count(lit(1)))
            .as("avg_value"))
        .orderBy("event_type", "hour_start")
    }, Sql(
      """SELECT event_type, epoch_ns(ts) // 3600000000000 * 3600 AS hour_start,
           COUNT(*) AS n_events,
           CAST(ROUND(SUM(CAST(value AS DECIMAL(18,6))), 2) AS DOUBLE) AS sum_value,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*) AS avg_value
         FROM events
         GROUP BY event_type, hour_start
         ORDER BY event_type, hour_start"""))
  )

  /** The registry keyed by name. */
  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    entries.map(e => e.name -> e.build).toMap
}
