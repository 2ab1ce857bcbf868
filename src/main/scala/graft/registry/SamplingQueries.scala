package graft
package registry

import org.apache.spark.sql.functions._
import graft.ext.{Sampling, Similarity, TextStats}
import graft.sources.Tables

import Shared._

/** Data-selection queries: fixed/priority/stratified sampling,
  * DSIR, splits, mixtures and budgeted selection.
  */
object SamplingQueries {
  private val Family = "sampling"

  /** documents → per-(doc, hashed-gram-bucket) counts: CTEs
    * `{p}arr` (token arrays), `{p}g` (unigrams + bigrams), `{p}db`
    * (doc_id, source, b, n) — the shared feature chain of every DSIR
    * oracle, optionally row-sliced by `where` (e.g. the incremental
    * known/batch split). Bucket = 60-bit md5 hash % 4096
    * (nonnegative, ≡ pmod).
    */
  private def dsirDbCtes(p: String, where: String): String =
    s"""${p}arr AS (
       |  SELECT doc_id, source,
       |         list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'),
       |                     x -> x <> '') AS ws
       |  FROM documents $where
       |), ${p}g AS (
       |  SELECT doc_id, source, unnest(ws) AS gram FROM ${p}arr
       |  UNION ALL
       |  SELECT doc_id, source, w1 || ' ' || w2 AS gram FROM (
       |    SELECT doc_id, source, unnest(ws[1:len(ws)-1]) AS w1, unnest(ws[2:len(ws)]) AS w2
       |    FROM ${p}arr WHERE len(ws) >= 2)
       |), ${p}db AS (
       |  SELECT doc_id, source,
       |         CAST(('0x' || substr(md5(gram), 1, 15)) AS BIGINT) % 4096 AS b,
       |         count(*) AS n
       |  FROM ${p}g GROUP BY 1, 2, 3
       |)""".stripMargin

  /** The DSIR hashed-ngram importance-weight chain (q_dsir_weights'
    * model + per-doc aggregate); ends at `dagg` (doc_id, s, n_grams).
    * Shapes mirror Sampling.dsirWeights term for term: probabilities
    * in the literal (c+1)*1.0/(N+B) form, per-term round-9 →
    * DECIMAL(38,9) order-free sum.
    */
  private def dsirCtes: String =
    s"""${dsirDbCtes("d", "")}, draw AS (
       |  SELECT b, sum(n) AS rc FROM ddb GROUP BY 1
       |), dtgt AS (
       |  SELECT b, sum(n) AS tc FROM ddb WHERE source = 'src0' GROUP BY 1
       |), dtots AS (
       |  SELECT (SELECT sum(rc) FROM draw) AS nr, (SELECT sum(tc) FROM dtgt) AS nt
       |), dterms AS (
       |  SELECT ddb.doc_id,
       |         CAST(round(n * 1.0 * (log2((coalesce(tc, 0) + 1) * 1.0 / (nt + 4096))
       |                             - log2((rc + 1) * 1.0 / (nr + 4096))), 9)
       |              AS DECIMAL(38,9)) AS t,
       |         n
       |  FROM ddb JOIN draw USING (b) LEFT JOIN dtgt USING (b) CROSS JOIN dtots
       |), dagg AS (
       |  SELECT doc_id, sum(t) AS s, CAST(sum(n) AS BIGINT) AS n_grams
       |  FROM dterms GROUP BY 1
       |)""".stripMargin

  val defs: Seq[QueryDef] = Seq(
    // fixed-budget deterministic sampling: exactly k=20 docs per
    // language by hash rank (WindowGroupLimit keeps k per task).
    QueryDef("q_sample_fixed", Family, (s, dir) =>
      Sampling.fixedSizeSample(Tables.documents(s, dir), "doc_id",
        "lang", k = 20), Some(
      """WITH r AS (
        |  SELECT doc_id, lang AS stratum,
        |         CAST(row_number() OVER (PARTITION BY lang
        |           ORDER BY CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) ASC,
        |                    doc_id ASC) AS INT) AS sample_rank
        |  FROM documents
        |)
        |SELECT doc_id, stratum, sample_rank FROM r WHERE sample_rank <= 20""".stripMargin)),

    // weighted sampling WITHOUT replacement by priority sampling
    // (Duffield-Lund-Thorup JACM 2007): q = w/u with a deterministic
    // hash uniform, top-k by q, and the unbiased subset-sum estimator
    // max(w, τ). Top-(k+1) plans as TakeOrderedAndProject (per-
    // partition heap, no global sort); priorities use only exact /
    // correctly-rounded IEEE ops so the doubles are bit-identical in
    // DuckDB.
    QueryDef("q_priority_sample", Family, (s, dir) =>
      Sampling.prioritySample(Tables.documents(s, dir), "doc_id",
        col("n_chars"), k = 25), Some(
      // priority q = w·2^60/(h+1): BIGINT +1 exact, int→double and the
      // division correctly rounded, ·2^60 a pure exponent shift — the
      // same bits in both engines (no pow/log/exp).
      """WITH p AS (
        |  SELECT doc_id, CAST(n_chars AS DOUBLE) AS weight,
        |         CAST(n_chars AS DOUBLE) * 1.152921504606846976e18
        |           / CAST(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) + 1 AS DOUBLE) AS priority
        |  FROM documents WHERE n_chars > 0
        |), r AS (
        |  SELECT doc_id, weight, priority,
        |         CAST(row_number() OVER (ORDER BY priority DESC, doc_id ASC) AS INT) AS sample_rank
        |  FROM p
        |), tau AS (
        |  SELECT max(CASE WHEN sample_rank = 26 THEN priority ELSE 0.0 END) AS t
        |  FROM r WHERE sample_rank <= 26
        |)
        |SELECT doc_id, weight, priority, sample_rank,
        |       greatest(weight, (SELECT t FROM tau)) AS weight_est
        |FROM r WHERE sample_rank <= 25""".stripMargin)),

    // per-stratum variant: the k best of EVERY language in one pass;
    // rank-on-window plans as WindowGroupLimit (k-sized heap per
    // group, no stratum materialized whole).
    QueryDef("q_priority_sample_strat", Family, (s, dir) =>
      Sampling.prioritySamplePerStratum(Tables.documents(s, dir),
        "doc_id", "lang", col("n_chars"), k = 5), Some(
      """WITH p AS (
        |  SELECT doc_id, lang AS stratum, CAST(n_chars AS DOUBLE) AS weight,
        |         CAST(n_chars AS DOUBLE) * 1.152921504606846976e18
        |           / CAST(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) + 1 AS DOUBLE) AS priority
        |  FROM documents WHERE n_chars > 0
        |)
        |SELECT doc_id, stratum, weight, priority, sample_rank FROM (
        |  SELECT *, CAST(row_number() OVER (PARTITION BY stratum
        |    ORDER BY priority DESC, doc_id ASC) AS INT) AS sample_rank
        |  FROM p
        |) WHERE sample_rank <= 5""".stripMargin)),

    // DSIR (Xie et al. NeurIPS 2023): importance weights of every raw
    // doc under a hashed-ngram target-vs-raw ratio model (target =
    // the src0 slice), then Gumbel top-k resampling — the principled
    // "make the crawl look like the reference" selection step. One
    // tokenize pass; model tables are bucket-sized broadcasts; the
    // decimal(38,9) term sum keeps the log weights order-free.
    QueryDef("q_dsir_weights", Family, (s, dir) =>
      Sampling.dsirWeights(Tables.documents(s, dir), "doc_id", "text",
        refFilter = col("source") === "src0", buckets = 4096), Some(
      // DSIR: per-term round-9 → DECIMAL(38,9) sum (order-free), bucket
      // hash the md5-prefix currency, probabilities in the literal
      // (c+1)*1.0/(N+B) IEEE shape on both engines.
      (s"""WITH $dsirCtes
         |SELECT d.doc_id,
         |       coalesce(a.n_grams, 0) AS n_grams,
         |       round(CAST(a.s AS DOUBLE), 6) AS logw
         |FROM documents d LEFT JOIN dagg a USING (doc_id)""".stripMargin))),

    // Gumbel top-k over the DSIR log weights: exact without-
    // replacement sampling from p ∝ w with deterministic hash
    // uniforms; top-k plans as TakeOrderedAndProject.
    QueryDef("q_dsir_sample", Family, (s, dir) =>
      Sampling.dsirSample(
        Sampling.dsirWeights(Tables.documents(s, dir), "doc_id", "text",
          refFilter = col("source") === "src0", buckets = 4096),
        "doc_id", k = 30), Some(
      (s"""WITH $dsirCtes, wdoc AS (
         |  SELECT doc_id, round(CAST(s AS DOUBLE), 6) AS logw
         |  FROM dagg WHERE s IS NOT NULL
         |), keyed AS (
         |  SELECT doc_id, logw,
         |         round(logw * 0.6931471805599453 + round(-ln(-ln(
         |           CAST(least(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) + 1,
         |                      1152921504606846848) AS DOUBLE)
         |             / 1.152921504606846976e18)), 9), 6) AS gumbel_key
         |  FROM wdoc
         |)
         |SELECT doc_id, logw, gumbel_key, sample_rank FROM (
         |  SELECT *, CAST(row_number() OVER (ORDER BY gumbel_key DESC, doc_id ASC) AS INT) AS sample_rank
         |  FROM keyed
         |) WHERE sample_rank <= 30""".stripMargin))),

    // INCREMENTAL DSIR: the bucket-count model is built from the
    // known corpus (doc_id % 4 != 0) as a persistable 4096-row
    // artifact, then a new batch (doc_id % 4 == 0) is scored against
    // the FROZEN model — per-ingest cost is one batch pass + a
    // bucket-bounded broadcast join; the corpus text is never
    // rescanned. The driver-checked batch twin of carrying the model
    // between ingests (dsirModelMerge extends it without rescans).
    QueryDef("q_dsir_incr", Family, (s, dir) => {
      val docs = Tables.documents(s, dir)
      Sampling.dsirScore(
        docs.filter(pmod(col("doc_id"), lit(4)) === 0),
        Sampling.dsirModel(docs.filter(pmod(col("doc_id"), lit(4)) =!= 0),
          "doc_id", "text", refFilter = col("source") === "src0",
          buckets = 4096),
        "doc_id", "text", buckets = 4096)
    }, Some(
      // incremental DSIR: model CTEs sliced to the known corpus, batch
      // grams LEFT-joined against the frozen model (coalesce(c,0)+1
      // smoothing for never-seen buckets, matching dsirScore's shapes).
      (s"""WITH ${dsirDbCtes("m", "WHERE doc_id % 4 <> 0")}, model AS (
         |  SELECT b, sum(n) AS rc,
         |         coalesce(sum(CASE WHEN source = 'src0' THEN n END), 0) AS tc
         |  FROM mdb GROUP BY 1
         |), mtots AS (
         |  SELECT sum(rc) AS nr, sum(tc) AS nt FROM model
         |), ${dsirDbCtes("bt", "WHERE doc_id % 4 = 0")}, bterms AS (
         |  SELECT btdb.doc_id,
         |         CAST(round(n * 1.0 * (log2((coalesce(tc, 0) + 1) * 1.0 / (nt + 4096))
         |                             - log2((coalesce(rc, 0) + 1) * 1.0 / (nr + 4096))), 9)
         |              AS DECIMAL(38,9)) AS t,
         |         n
         |  FROM btdb LEFT JOIN model USING (b) CROSS JOIN mtots
         |), bagg AS (
         |  SELECT doc_id, sum(t) AS s, CAST(sum(n) AS BIGINT) AS n_grams
         |  FROM bterms GROUP BY 1
         |)
         |SELECT d.doc_id,
         |       coalesce(a.n_grams, 0) AS n_grams,
         |       round(CAST(a.s AS DOUBLE), 6) AS logw
         |FROM (SELECT doc_id FROM documents WHERE doc_id % 4 = 0) d
         |LEFT JOIN bagg a USING (doc_id)""".stripMargin))),

    // superset-stable 90/5/5 train/val/test split by hash bucket —
    // zero shuffle, assignment independent of the rest of the corpus.
    QueryDef("q_split", Family, (s, dir) =>
      Sampling.trainValTestSplit(Tables.documents(s, dir), "doc_id",
        trainBps = 9000, valBps = 500), Some(
      """WITH h AS (
        |  SELECT doc_id,
        |         CAST(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
        |              % 10000 AS INT) AS bucket
        |  FROM documents
        |)
        |SELECT doc_id, bucket,
        |       CASE WHEN bucket < 9000 THEN 'train'
        |            WHEN bucket < 9500 THEN 'val'
        |            ELSE 'test' END AS split
        |FROM h""".stripMargin)),

    // leakage-safe split: exact-dup families assigned as a unit (the
    // family = min id over the normalized-text hash group), so train
    // and eval can never share a verbatim duplicate.
    QueryDef("q_split_safe", Family, (s, dir) =>
      Sampling.leakageSafeSplit(Tables.documents(s, dir), "doc_id",
        "text", trainBps = 9000, valBps = 500), Some(
      """WITH fam AS (
        |  SELECT doc_id,
        |         min(doc_id) OVER (PARTITION BY md5(lower(trim(text)))) AS family_id
        |  FROM documents
        |), h AS (
        |  SELECT doc_id, family_id,
        |         CAST(CAST(('0x' || substr(md5(CAST(family_id AS VARCHAR)), 1, 15)) AS BIGINT)
        |              % 10000 AS INT) AS bucket
        |  FROM fam
        |)
        |SELECT doc_id, family_id, bucket,
        |       CASE WHEN bucket < 9000 THEN 'train'
        |            WHEN bucket < 9500 THEN 'val'
        |            ELSE 'test' END AS split
        |FROM h""".stripMargin)),

    // global length-decile assignment with NO global sort: one exact
    // percentile aggregate -> broadcast boundary array -> scan-local
    // compare (the ntile() single-partition anti-pattern replaced).
    QueryDef("q_quantile_buckets", Family, (s, dir) =>
      Sampling.quantileBuckets(Tables.documents(s, dir), "doc_id",
        "n_chars", nBuckets = 10), Some(
      // boundaries rounded to 6 decimals on BOTH sides before the
      // strictly-greater compare, so the cut points are bit-identical
      // cross-engine; quantile_cont mirrors Spark's exact percentile
      // (same interpolation — already pinned by q_percentiles)
      """WITH b AS (
        |  SELECT [round(quantile_cont(n_chars, 0.1), 6), round(quantile_cont(n_chars, 0.2), 6),
        |          round(quantile_cont(n_chars, 0.3), 6), round(quantile_cont(n_chars, 0.4), 6),
        |          round(quantile_cont(n_chars, 0.5), 6), round(quantile_cont(n_chars, 0.6), 6),
        |          round(quantile_cont(n_chars, 0.7), 6), round(quantile_cont(n_chars, 0.8), 6),
        |          round(quantile_cont(n_chars, 0.9), 6)] AS bs
        |  FROM documents
        |)
        |SELECT d.doc_id, d.n_chars,
        |       CAST(len(list_filter(b.bs, x -> d.n_chars > x)) AS INT) AS bucket
        |FROM documents d CROSS JOIN b""".stripMargin)),

    // target-mixture rebalancing: per-source quotas in id-hash order
    // (src0 capped at 15, src1 at 10, src2 at 5, everything else 3).
    QueryDef("q_source_mix", Family, (s, dir) =>
      Sampling.mixByQuota(Tables.documents(s, dir), "doc_id", "source",
        Map("src0" -> 15, "src1" -> 10, "src2" -> 5), defaultQuota = 3), Some(
      """WITH r AS (
        |  SELECT doc_id, source,
        |         CAST(row_number() OVER (PARTITION BY source
        |           ORDER BY CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) ASC,
        |                    doc_id ASC) AS INT) AS sample_rank
        |  FROM documents
        |)
        |SELECT doc_id, source, sample_rank FROM r
        |WHERE sample_rank <= CASE source WHEN 'src0' THEN 15 WHEN 'src1' THEN 10
        |                                 WHEN 'src2' THEN 5 ELSE 3 END""".stripMargin)),

    // temperature-scaled source mixing weights (p_i ∝ n_i^0.5 — the
    // classic multilingual smoothing) over per-source character mass.
    QueryDef("q_temp_mix", Family, (s, dir) =>
      Sampling.temperatureWeights(Tables.documents(s, dir), "source",
        "n_chars", alpha = 0.5), Some(
      """WITH g AS (
        |  SELECT source, CAST(sum(n_chars) AS BIGINT) AS n_tokens
        |  FROM documents GROUP BY source
        |), w AS (
        |  SELECT source, n_tokens,
        |         CAST(round(pow(CAST(n_tokens AS DOUBLE), 0.5), 6)
        |              AS DECIMAL(38,6)) AS wq
        |  FROM g
        |), n AS (
        |  SELECT source, n_tokens,
        |         round(CAST(n_tokens AS DOUBLE) /
        |               CAST(sum(n_tokens) OVER () AS DOUBLE), 6) AS natural_share,
        |         round(CAST(wq AS DOUBLE) /
        |               CAST(sum(wq) OVER () AS DOUBLE), 6) AS weight
        |  FROM w
        |)
        |SELECT source, n_tokens, natural_share, weight,
        |       CASE WHEN natural_share > 0
        |            THEN round(weight / natural_share, 6) END AS oversample
        |FROM n""".stripMargin)),

    // per-source unigram KL divergence from the corpus distribution
    // (bits) — the domain-shift scorecard of the source mix.
    QueryDef("q_source_kl", Family, (s, dir) =>
      TextStats.sourceDivergence(Tables.documents(s, dir), "source",
        "text"), Some(
      """WITH sw AS (
        |  SELECT source,
        |         unnest(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
        |                            x -> x <> '')) AS w
        |  FROM documents
        |), c AS (
        |  SELECT source, w, CAST(count(*) AS BIGINT) AS c
        |  FROM sw GROUP BY 1, 2
        |), wt AS (SELECT w, CAST(sum(c) AS BIGINT) AS t FROM c GROUP BY 1),
        |   st AS (SELECT source, CAST(sum(c) AS BIGINT) AS n FROM c GROUP BY 1),
        |   tt AS (SELECT CAST(sum(t) AS BIGINT) AS T FROM wt),
        |   term AS (
        |  SELECT c.source, st.n,
        |         CAST(round((c.c * 1.0 / st.n) *
        |                    log2((c.c * 1.0 * tt.T) / (st.n * 1.0 * wt.t)), 9)
        |              AS DECIMAL(38,9)) AS kl_term
        |  FROM c JOIN wt USING (w) JOIN st USING (source) CROSS JOIN tt
        |)
        |SELECT source, CAST(min(n) AS BIGINT) AS n_tokens,
        |       CAST(count(*) AS BIGINT) AS n_terms,
        |       CAST(round(sum(kl_term), 6) AS DOUBLE) AS kl_bits
        |FROM term GROUP BY source""".stripMargin)),

    // token-budget greedy selection: keep the highest-lexical-
    // diversity docs until 50k chars are spent (strict prefix rule).
    QueryDef("q_budget_select", Family, (s, dir) => {
      val toks = filter(split(lower(trim(col("text"))), "\\s+"),
        w => w =!= lit(""))
      Sampling.budgetSelect(Tables.documents(s, dir), "doc_id",
        quality = size(array_distinct(toks)) * lit(1.0) / size(toks),
        tokens = col("n_chars"), budget = 50000L)
    }, Some(
      """WITH l AS (
        |  SELECT doc_id, n_chars,
        |         list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
        |                     x -> x <> '') AS toks
        |  FROM documents
        |), q AS (
        |  SELECT doc_id, CAST(n_chars AS BIGINT) AS tokens,
        |         round(len(list_distinct(toks)) * 1.0 / len(toks), 6) AS quality
        |  FROM l
        |)
        |SELECT doc_id, quality, tokens,
        |       sum(tokens) OVER (ORDER BY quality DESC, doc_id ASC
        |                         ROWS UNBOUNDED PRECEDING) <= 50000 AS kept
        |FROM q""".stripMargin)),

    // cluster-balanced diversity sampling (D4, Tirumala et al. 2023):
    // pinned-seed two-level argmax-cosine cells (literal projection,
    // zero shuffle) → k per cell by deterministic hash rank (uniform
    // WOR per cell), planned as WindowGroupLimit. Over-dense embedding
    // regions can't dominate the kept mix.
    QueryDef("q_cluster_sample", Family, (s, dir) =>
      Similarity.clusterBalancedSample(Tables.embeddings(s, dir),
        "vec_id", "embedding", nSeeds = 16, k = 10), Some(
      // same pinned-seed cell CTE as q_dedup_semantic; per-cell rank =
      // the verbatim priority formula (unit weight), NOT a bare
      // hash-asc sort — CAST(h+1 AS DOUBLE) can collide distinct
      // 60-bit hashes above 2^53, and only the identical formula
      // guarantees the identical tie-break.
      (semanticCellsCte(16) +
        s""", pr AS (
           |  SELECT vec_id, cell,
           |         CAST(1 AS DOUBLE) * 1.152921504606846976e18
           |           / CAST(CAST(('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 15)) AS BIGINT) + 1 AS DOUBLE) AS priority
           |  FROM cells
           |)
           |SELECT vec_id, cell, sample_rank FROM (
           |  SELECT vec_id, cell, CAST(row_number() OVER (PARTITION BY cell
           |    ORDER BY priority DESC, vec_id ASC) AS INT) AS sample_rank
           |  FROM pr
           |) WHERE sample_rank <= 10""".stripMargin))),

    // deterministic hash-stratified sampling: rebalance the corpus by
    // language (downsample the dominant stratum, keep the tail).
    QueryDef("q_sample_stratified", Family, (s, dir) =>
      Sampling.stratifiedSample(Tables.documents(s, dir), "doc_id", "lang",
        bps = Map("en" -> 5000, "de" -> 2500), defaultBps = 1000), Some(
      """SELECT doc_id, lang AS stratum,
        |       CAST(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 10000 AS INT) AS bucket,
        |       CAST(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 10000 AS INT)
        |         < (CASE lang WHEN 'en' THEN 5000 WHEN 'de' THEN 2500 ELSE 1000 END) AS kept
        |FROM documents""".stripMargin)),

    // top-k per stratum by quality (WindowGroupLimit keeps the
    // exchange at O(strata*k) rows).
    QueryDef("q_topk_quality", Family, (s, dir) => {
      val docs = Tables.documents(s, dir)
      val quality = TextStats.qualityScore(docs, "doc_id", "text")
      Sampling.topKPerStratum(
        docs.select("doc_id", "lang").join(quality, "doc_id"),
        "doc_id", "lang", col("quality_score"), k = 5)
        .select("doc_id", "lang", "quality_score", "rank")
    }, Some(
      """WITH wd AS (
        |  SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\s+')) AS w FROM documents
        |), a AS (
        |  SELECT doc_id, count(*) AS wc, count(DISTINCT w) AS dw,
        |         sum(CASE WHEN w IN ('the','a','of','and','in') THEN 1 ELSE 0 END) AS sc
        |  FROM wd GROUP BY doc_id
        |), q AS (
        |  SELECT doc_id,
        |         round((least(CAST(wc AS DOUBLE) / 100.0, 1.0)
        |               + least(CAST(sc AS DOUBLE) / wc * 5.0, 1.0)
        |               + least(CAST(dw AS DOUBLE) / wc * 2.0, 1.0)) / 3.0, 6) AS quality_score
        |  FROM a
        |), j AS (
        |  SELECT d.doc_id, d.lang, q.quality_score FROM documents d
        |  JOIN q ON d.doc_id = q.doc_id
        |), r AS (
        |  SELECT *, row_number() OVER (PARTITION BY lang ORDER BY quality_score DESC, doc_id ASC) AS rk
        |  FROM j
        |)
        |SELECT doc_id, lang, quality_score, CAST(rk AS INT) AS rank
        |FROM r WHERE rk <= 5""".stripMargin)),

    // per-source curation scorecard (volume, dup rate, chars, lang mix).
    QueryDef("q_source_stats", Family, (s, dir) =>
      TextStats.sourceStats(Tables.documents(s, dir), "source", "text", "lang"), Some(
      """SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(count(DISTINCT md5(lower(trim(text)))) AS BIGINT) AS n_unique,
        |       round(1.0 - count(DISTINCT md5(lower(trim(text)))) * 1.0 / count(*), 6) AS dup_rate,
        |       CAST(sum(length(text)) AS BIGINT) AS sum_chars,
        |       CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS n_en
        |FROM documents GROUP BY source""".stripMargin))
  )
}
