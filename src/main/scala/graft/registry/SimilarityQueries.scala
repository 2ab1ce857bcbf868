package graft
package registry

import org.apache.spark.sql.functions._
import graft.ext.{Dedup, Retrieval, Similarity}
import graft.sources.Tables

import Shared._

/** Embedding and retrieval queries: pair/cluster similarity, margin
  * mining, ANN indexes with their recall companions, random
  * projection, BM25.
  */
object SimilarityQueries {
  private val Family = "similarity"

  /** The ONE Rademacher sign matrix for the JL random-projection
    * queries: computed once driver-side (md5-parity, no RNG state)
    * and interpolated as literals into BOTH the Spark plan and the
    * oracle SQL — the two sides share the exact same ±1.0 values.
    */
  private val RprojInDims = 64
  private val RprojOutDims = 16
  private lazy val RprojSigns =
    Similarity.rprojSigns(RprojInDims, RprojOutDims)
  private lazy val rprojSignsSqlValues: String =
    RprojSigns.zipWithIndex.map { case (sv, k) =>
      s"($k, [${sv.mkString(", ")}])"
    }.mkString(",\n         ")

  /** Shared scaffolding of the ANN recall semi-oracles: exact brute
    * top-5 per query joined against an approximate result set, one
    * output row of structural counts plus the in-band aggregate
    * recall assertion.
    */
  private def annRecall(emb: org.apache.spark.sql.DataFrame,
      queries: org.apache.spark.sql.DataFrame,
      approx: org.apache.spark.sql.DataFrame,
      bound: Double): org.apache.spark.sql.DataFrame = {
    val brute = Similarity.bruteForceTopK(queries, emb, "vec_id",
      "embedding", k = 5).select(col("query_id"), col("vec_id"))
    brute.join(
        approx.select(col("query_id"), col("vec_id"), lit(1).as("__hit")),
        Seq("query_id", "vec_id"), "left")
      .agg(countDistinct(col("query_id")).as("n_queries"),
        count(lit(1)).as("n_exact_pairs"),
        (sum(when(col("__hit").isNotNull, 1L).otherwise(0L))
          .cast("double") / count(lit(1)) >= bound).as("recall_ok"))
  }

  /** Both recall semi-oracles share one oracle: the brute top-5
    * structural counts are exact SQL; recall_ok is asserted in-band
    * on the Spark side.
    */
  private lazy val annRecallOracleSql: String =
    normCte +
      s""", p AS (
         |  SELECT q.vec_id AS query_id, c.vec_id AS vec_id,
         |         ${safeCosSql(dotSql("q.embedding", "c.embedding"), "q.nrm * c.nrm")} AS cos0
         |  FROM n q JOIN n c ON q.vec_id <> c.vec_id
         |  WHERE q.vec_id < 10
         |), r AS (
         |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos0 DESC, vec_id ASC) AS rk FROM p
         |)
         |SELECT CAST(count(DISTINCT query_id) AS BIGINT) AS n_queries,
         |       count(*) AS n_exact_pairs, TRUE AS recall_ok
         |FROM r WHERE rk <= 5""".stripMargin

  /** Unrolled deterministic-Lloyd k-means replay — the q_bpe_train
    * pattern applied to floats. Requires a source CTE `${pfx}s(ord,
    * v DOUBLE[dim])` with ord = 1-based id-order rank; emits
    * `${pfx}c0 … ${pfx}c$iters(cell, cent)`. Every step mirrors
    * [[graft.ext.Similarity]]'s driver-side lloyd exactly: init =
    * first k points; assignment = argmin of the ascending-dim
    * sequential L2² fold with ties to the lower cell (struct min);
    * update = per-dim sequential sum in sample order divided once by
    * the count (list(v ORDER BY ord) → list_sum = the same IEEE left
    * fold as the Scala accumulation loop); empty cells keep their
    * previous centroid.
    */
  private def lloydCtes(pfx: String, k: Int, iters: Int, dim: Int): String = {
    def sq(vE: String, cE: String) =
      s"($vE[CAST(i AS INT)] - $cE[CAST(i AS INT)]) * ($vE[CAST(i AS INT)] - $cE[CAST(i AS INT)])"
    val d2 = s"list_sum(list_transform(range(1, ${dim + 1}), i -> ${sq("s.v", "c.cent")}))"
    val rounds = (1 to iters).map { it =>
      s"""|, ${pfx}a$it AS MATERIALIZED (
          |  SELECT s.ord, s.v,
          |         (min({'d': $d2, 'c': c.cell})).c AS cell
          |  FROM ${pfx}s s, ${pfx}c${it - 1} c GROUP BY s.ord, s.v
          |), ${pfx}u$it AS (
          |  SELECT cell, list(v ORDER BY ord) AS vs, count(*) AS cnt
          |  FROM ${pfx}a$it GROUP BY cell
          |), ${pfx}c$it AS MATERIALIZED (
          |  SELECT p.cell,
          |         CASE WHEN u.cell IS NULL THEN p.cent
          |              ELSE list_transform(range(1, ${dim + 1}), i ->
          |                list_sum(list_transform(u.vs, vv -> vv[CAST(i AS INT)])) / u.cnt)
          |         END AS cent
          |  FROM ${pfx}c${it - 1} p LEFT JOIN ${pfx}u$it u USING (cell)
          |)""".stripMargin
    }.mkString("\n")
    s"""|, ${pfx}c0 AS (
        |  SELECT ord - 1 AS cell, v AS cent FROM ${pfx}s WHERE ord <= $k
        |)$rounds""".stripMargin
  }

  /** q_ann_ivf oracle: the coarse quantizer's Lloyd training replayed
    * by [[lloydCtes]], then the exact IVF chain — corpus argmin cell,
    * nprobe nearest query cells (ties to the smaller cell), true
    * cosine inside probed cells, top-k. Constants mirror the entry:
    * nlist=16, nprobe=4, iters=10, k=5, queries = vec_id < 10.
    */
  private def ivfOracleSql: String = {
    val dim = 64
    def d2c(vE: String) =
      s"list_sum(list_transform(range(1, ${dim + 1}), i -> " +
        s"(CAST($vE[CAST(i AS INT)] AS DOUBLE) - c.cent[CAST(i AS INT)]) * " +
        s"(CAST($vE[CAST(i AS INT)] AS DOUBLE) - c.cent[CAST(i AS INT)])))"
    normCte +
      s""", ivs AS MATERIALIZED (
         |  SELECT row_number() OVER (ORDER BY vec_id) AS ord,
         |         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
         |  FROM (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT 100000)
         |)""".stripMargin +
      lloydCtes("iv", k = 16, iters = 10, dim = dim) +
      s""", ivcc AS MATERIALIZED (
         |  SELECT e.vec_id, (min({'d': ${d2c("e.embedding")}, 'c': c.cell})).c AS cell
         |  FROM embeddings e, ivc10 c GROUP BY e.vec_id
         |), ivqp AS (
         |  SELECT vec_id AS query_id, cell FROM (
         |    SELECT e.vec_id, c.cell,
         |           row_number() OVER (PARTITION BY e.vec_id
         |             ORDER BY ${d2c("e.embedding")} ASC, c.cell ASC) AS pr
         |    FROM embeddings e, ivc10 c WHERE e.vec_id < 10)
         |  WHERE pr <= 4
         |), ivsc AS (
         |  SELECT qp.query_id, cc.vec_id,
         |         ${safeCosSql(dotSql("q.embedding", "e.embedding"), "q.nrm * e.nrm")} AS cos0
         |  FROM ivqp qp JOIN ivcc cc USING (cell)
         |  JOIN n q ON q.vec_id = qp.query_id
         |  JOIN n e ON e.vec_id = cc.vec_id
         |  WHERE qp.query_id <> cc.vec_id
         |), ivrk AS (
         |  SELECT query_id, vec_id, cos0,
         |         row_number() OVER (PARTITION BY query_id
         |           ORDER BY cos0 DESC, vec_id ASC) AS rank
         |  FROM ivsc
         |)
         |SELECT query_id, vec_id, round(cos0, 6) AS cosine, CAST(rank AS INT) AS rank
         |FROM ivrk WHERE rank <= 5""".stripMargin
  }

  /** q_ann_pq oracle: the m per-subspace Lloyd fits replayed by
    * [[lloydCtes]] over the unit-normalized sample, then the exact
    * ADC chain — corpus codes by argmin ‖c‖²−2·u_j·c (ties to the
    * lower code), per-query per-code partial scores, adist = the
    * seed-1.0-first sequential fold over the m lookups, top-k.
    * Constants mirror the entry: m=8, dsub=8, ksub=32, iters=10,
    * k=5, queries = vec_id < 10.
    */
  private def pqOracleSql: String = {
    val m = 8; val dsub = 8; val ksub = 32; val iters = 10
    def dot8(aE: String, bE: String) =
      s"list_sum(list_transform(range(1, ${dsub + 1}), i -> " +
        s"$aE[CAST(i AS INT)] * $bE[CAST(i AS INT)]))"
    val subspaces = (0 until m).map { j =>
      s""", p${j}s AS MATERIALIZED (
         |  SELECT row_number() OVER (ORDER BY vec_id) AS ord,
         |         list_slice(u, ${j * dsub + 1}, ${(j + 1) * dsub}) AS v
         |  FROM (SELECT vec_id, u FROM pu ORDER BY vec_id LIMIT 100000)
         |)""".stripMargin + lloydCtes(s"p$j", ksub, iters, dsub)
    }.mkString("")
    val bookUnion = (0 until m).map(j =>
      s"SELECT $j AS j, cell AS code, cent, " +
        s"list_sum(list_transform(cent, x -> x * x)) AS cn2 FROM p${j}c$iters")
      .mkString("\n  UNION ALL ")
    val subOfU = s"list_slice(u.u, b.j * $dsub + 1, (b.j + 1) * $dsub)"
    normCte +
      s""", pu AS MATERIALIZED (
         |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE) / nrm) AS u
         |  FROM n
         |)""".stripMargin + subspaces +
      s""", books AS MATERIALIZED (
         |  $bookUnion
         |), pcode AS MATERIALIZED (
         |  SELECT u.vec_id, b.j,
         |         (min({'d': b.cn2 - 2.0 * ${dot8(subOfU, "b.cent")}, 'c': b.code})).c AS code
         |  FROM pu u JOIN books b ON TRUE
         |  GROUP BY u.vec_id, b.j
         |), pqsc AS MATERIALIZED (
         |  SELECT u.vec_id AS query_id, b.j, b.code,
         |         b.cn2 - 2.0 * ${dot8(subOfU, "b.cent")} AS sc
         |  FROM pu u JOIN books b ON TRUE WHERE u.vec_id < 10
         |), pad AS (
         |  SELECT q.query_id, pc.vec_id,
         |         list_sum(list_prepend(CAST(1.0 AS DOUBLE),
         |           list(q.sc ORDER BY q.j))) AS adist
         |  FROM pcode pc JOIN pqsc q ON q.j = pc.j AND q.code = pc.code
         |  WHERE q.query_id <> pc.vec_id
         |  GROUP BY q.query_id, pc.vec_id
         |), prk AS (
         |  SELECT query_id, vec_id, adist,
         |         row_number() OVER (PARTITION BY query_id
         |           ORDER BY adist ASC, vec_id ASC) AS rank
         |  FROM pad
         |)
         |SELECT query_id, vec_id, round(adist, 6) AS adist, CAST(rank AS INT) AS rank
         |FROM prk WHERE rank <= 5""".stripMargin
  }

  private val bucketSql: String =
    (0 until 8).map(j =>
      s"CASE WHEN embedding[${j + 1}] > 0 THEN ${1L << j} ELSE 0 END").mkString(" + ")

  /** Shared pools for the margin-mine oracle family: src (label < 2)
    * and tgt (label >= 2) with norms and the 8-bit sign-LSH bucket
    * (unused by the brute chain, harmless to carry).
    */
  private def marginPoolsCte(bits: Int): String = {
    val bkt = (0 until bits).map(j =>
      s"CASE WHEN embedding[${j + 1}] > 0 THEN ${1L << j} ELSE 0 END")
      .mkString(" + ")
    s"""WITH n AS (
       |  SELECT vec_id, label, embedding,
       |         sqrt(${dotSql("embedding", "embedding")}) AS nrm
       |  FROM embeddings
       |), sp0 AS (SELECT *, $bkt AS bkt FROM n WHERE label < 2
       |), tp0 AS (SELECT *, $bkt AS bkt FROM n WHERE label >= 2
       |)""".stripMargin
  }

  /** Margin-mine CTE chain, suffixed so the brute and LSH variants
    * coexist in one statement (the recall companion needs both): ends
    * in mm$sfx(src_id, tgt_id, cosine, marg). `lsh` switches the two
    * retrieval directions between the brute pool×pool pass and the
    * multi-probe bucket equi-join — mirroring Similarity.marginMine's
    * pluggable retriever (excludeSelf = false, bits+1 probes = own
    * bucket + every 1-bit flip, rank over the raw cosine).
    */
  private def marginChainCtes(sfx: String, lsh: Boolean, nk: Int,
      bits: Int, minMargin: Double): String = {
    val probeList = ("bkt" +: (0 until bits).map(j =>
      s"xor(bkt, ${1L << j})")).mkString(", ")
    def cand(alias: String, qPool: String, cPool: String): String =
      if (lsh)
        s"""qp$alias$sfx AS (
           |  SELECT vec_id, embedding, nrm, unnest([$probeList]) AS probe
           |  FROM $qPool
           |), $alias$sfx AS (
           |  SELECT q.vec_id AS qid, c.vec_id AS cid,
           |         ${safeCosSql(dotSql("q.embedding", "c.embedding"), "q.nrm * c.nrm")} AS cos0
           |  FROM qp$alias$sfx q JOIN $cPool c ON q.probe = c.bkt
           |)""".stripMargin
      else
        s"""$alias$sfx AS (
           |  SELECT q.vec_id AS qid, c.vec_id AS cid,
           |         ${safeCosSql(dotSql("q.embedding", "c.embedding"), "q.nrm * c.nrm")} AS cos0
           |  FROM $qPool q, $cPool c
           |)""".stripMargin
    s"""${cand("fa", "sp0", "tp0")}, fr$sfx AS (
       |  SELECT *, row_number() OVER (PARTITION BY qid ORDER BY cos0 DESC, cid ASC) AS rk FROM fa$sfx
       |), fwd$sfx AS (
       |  SELECT qid, cid, round(cos0, 6) AS cos6 FROM fr$sfx WHERE rk <= $nk
       |), ${cand("ba", "tp0", "sp0")}, br$sfx AS (
       |  SELECT *, row_number() OVER (PARTITION BY qid ORDER BY cos0 DESC, cid ASC) AS rk FROM ba$sfx
       |), bwd$sfx AS (
       |  SELECT qid, round(cos0, 6) AS cos6 FROM br$sfx WHERE rk <= $nk
       |), sx$sfx AS (
       |  SELECT qid, sum(CAST(cos6 AS DECIMAL(38,6))) AS sxv FROM fwd$sfx GROUP BY qid
       |), sy$sfx AS (
       |  SELECT qid AS cid, sum(CAST(cos6 AS DECIMAL(38,6))) AS syv FROM bwd$sfx GROUP BY qid
       |), m$sfx AS (
       |  SELECT f.qid, f.cid, f.cos6,
       |         f.cos6 / (CAST(sx.sxv + sy.syv AS DOUBLE) / ${2.0 * nk}) AS marg
       |  FROM fwd$sfx f JOIN sx$sfx sx ON f.qid = sx.qid JOIN sy$sfx sy ON f.cid = sy.cid
       |), r$sfx AS (
       |  SELECT *, row_number() OVER (PARTITION BY qid ORDER BY marg DESC, cid ASC) AS rk FROM m$sfx
       |), mm$sfx AS (
       |  SELECT qid AS src_id, cid AS tgt_id, cos6 AS cosine, marg
       |  FROM r$sfx WHERE rk = 1 AND marg >= $minMargin
       |)""".stripMargin
  }

  /** q_bm25's replay — shared verbatim by q_bm25_indexed: the
    * indexed form must score EXACTLY like the one-shot form, so the
    * two registry rows share one oracle (and one result hash).
    */
  private val bm25OracleSql: String =
    """WITH arr AS (
        |  SELECT doc_id,
        |         list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
        |                     x -> x <> '') AS ws
        |  FROM documents
        |), dt0 AS (
        |  SELECT doc_id, unnest(ws) AS term, len(ws) AS dl FROM arr
        |), dt AS (
        |  SELECT doc_id, term, count(*) AS tf, any_value(dl) AS dl
        |  FROM dt0 GROUP BY 1, 2
        |), dfreq AS (
        |  SELECT term, count(*) AS df FROM dt GROUP BY 1
        |), perdoc AS (
        |  SELECT doc_id, any_value(dl) AS dl FROM dt GROUP BY 1
        |), stats AS (
        |  SELECT count(*) AS n_docs,
        |         sum(dl) * CAST(1.0 AS DOUBLE) / count(*) AS avgdl
        |  FROM perdoc
        |), q0 AS (
        |  SELECT doc_id AS query_id, unnest(ws[1:4]) AS term
        |  FROM arr WHERE doc_id < 5
        |), qt AS (
        |  SELECT DISTINCT query_id, term FROM q0
        |), scored AS (
        |  SELECT qt.query_id, dt.doc_id,
        |         CAST(round(
        |           ln(CAST(1.0 AS DOUBLE) +
        |              (s.n_docs - f.df + CAST(0.5 AS DOUBLE)) /
        |              (f.df + CAST(0.5 AS DOUBLE))) *
        |           (dt.tf * (CAST(1.2 AS DOUBLE) + CAST(1.0 AS DOUBLE)) /
        |            (dt.tf + CAST(1.2 AS DOUBLE) *
        |             (CAST(1.0 AS DOUBLE) - CAST(0.75 AS DOUBLE) +
        |              CAST(0.75 AS DOUBLE) * dt.dl / s.avgdl))), 9)
        |           AS DECIMAL(38,9)) AS ts
        |  FROM qt JOIN dt USING (term) JOIN dfreq f USING (term)
        |  CROSS JOIN stats s
        |), agg AS (
        |  SELECT query_id, doc_id, sum(ts) AS sq, count(*) AS n_matched
        |  FROM scored GROUP BY 1, 2
        |), r AS (
        |  SELECT query_id, doc_id,
        |         CAST(row_number() OVER (PARTITION BY query_id
        |           ORDER BY sq DESC, doc_id ASC) AS INT) AS rank,
        |         n_matched, round(CAST(sq AS DOUBLE), 6) AS score
        |  FROM agg
        |)
        |SELECT query_id, doc_id, rank, n_matched, score
        |FROM r WHERE rank <= 10""".stripMargin

  val defs: Seq[QueryDef] = Seq(
    // threshold 0.2 (not 0.45) so the checked SF yields a non-trivial
    // pair set — a 0-row hash match verifies nothing about the scoring
    // path (95 pairs at sf0.01).
    QueryDef("q_embed_pairs", Family, (s, dir) =>
      Similarity.cosinePairs(Tables.embeddings(s, dir), "vec_id", "embedding",
        threshold = 0.2, bucketBits = 8), Some(
      (normCte +
        s""", nb AS (
           |  SELECT *, $bucketSql AS bucket FROM n
           |), p AS (
           |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           |         ${safeCosSql(dotSql("a.embedding", "b.embedding"), "a.nrm * b.nrm")} AS cos0
           |  FROM nb a JOIN nb b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
           |)
           |SELECT id_a, id_b, round(cos0, 6) AS cosine FROM p WHERE cos0 >= 0.2""".stripMargin))),

    // embedding-space near-dup families: cosine pairs (the already
    // oracle-exact q_embed_pairs generator) closed into components —
    // the grouping step a semantic-dedup pass runs after pair finding.
    QueryDef("q_embed_clusters", Family, (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val pairs = Similarity.cosinePairs(emb, "vec_id", "embedding",
        threshold = 0.2, bucketBits = 8)
      Dedup.dupClusters(emb.select("vec_id"), pairs, "vec_id")
    }, Some(
      // components over the cosine-pair graph: same recursive closure as
      // q_dedup_clusters, over the q_embed_pairs generator (pair set
      // already proven hash-exact, closure is integer-domain).
      (normCte.replaceFirst("WITH ", "WITH RECURSIVE ") +
        s""", nb AS (
           |  SELECT *, $bucketSql AS bucket FROM n
           |), pr AS (
           |  SELECT a.vec_id AS id_a, b.vec_id AS id_b
           |  FROM nb a JOIN nb b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
           |  WHERE ${safeCosSql(dotSql("a.embedding", "b.embedding"), "a.nrm * b.nrm")} >= 0.2
           |), e AS (
           |  SELECT id_a AS a, id_b AS b FROM pr
           |  UNION ALL SELECT id_b, id_a FROM pr
           |), reach(id, r) AS (
           |  SELECT vec_id, vec_id FROM embeddings
           |  UNION
           |  SELECT e.b, reach.r FROM reach JOIN e ON e.a = reach.id
           |)
           |SELECT id AS vec_id, min(r) AS cluster_id, (min(r) = id) AS is_keeper
           |FROM reach GROUP BY id""".stripMargin))),

    // margin-based pair mining (Artetxe & Schwenk ratio margin): the
    // hubness-robust cross-pool pair selector — label<2 is the source
    // pool, label>=2 the target pool; retrieval is the declared brute
    // baseline (bucketed ANN drops in at scale), the margin stage
    // touches only |src|·k candidates joined to two id-keyed
    // neighborhood-sum tables.
    QueryDef("q_margin_mine", Family, (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.marginMine(emb.filter(col("label") < 2),
        emb.filter(col("label") >= 2), "vec_id", "embedding",
        k = 4, minMargin = 1.2)
    }, Some(
      // margin mining replay: both kNN directions by raw-cosine rank,
      // 6-dp candidate cosines summed in exact DECIMAL(38,6), one
      // double conversion in the denominator, margin top-1 per source
      (marginPoolsCte(4) + ", " +
        marginChainCtes("b", lsh = false, nk = 4, bits = 4, minMargin = 1.2) +
        "\nSELECT src_id, tgt_id, cosine, round(marg, 6) AS margin FROM mmb"))),

    // BUCKETED margin mining — the scale path: identical margin stage,
    // but both retrieval directions ride the multi-probe sign-LSH
    // bucket equi-join instead of the pool×pool brute pass. Fully
    // oracled (the probe expansion, bucket join and margin chain are
    // all closed-form SQL), unlike the trained-quantizer ANN variants.
    QueryDef("q_margin_mine_lsh", Family, (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.marginMine(emb.filter(col("label") < 2),
        emb.filter(col("label") >= 2), "vec_id", "embedding",
        k = 4, minMargin = 1.2, retrieve = Similarity.lshRetriever(4))
    }, Some(
      (marginPoolsCte(4) + ", " +
        marginChainCtes("l", lsh = true, nk = 4, bits = 4, minMargin = 1.2) +
        "\nSELECT src_id, tgt_id, cosine, round(marg, 6) AS margin FROM mml"))),

    // agreement companion: how many brute-margin pairs the bucketed
    // path reproduces exactly (same src → same tgt). Exact integer
    // cross-multiplication bound, fully oracled.
    QueryDef("q_margin_mine_recall", Family, (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.marginMineAgreement(emb.filter(col("label") < 2),
        emb.filter(col("label") >= 2), "vec_id", "embedding",
        k = 4, minMargin = 1.2, retrieve = Similarity.lshRetriever(4),
        minPct = 40)
    }, Some(
      (marginPoolsCte(4) + ", " +
        marginChainCtes("b", lsh = false, nk = 4, bits = 4, minMargin = 1.2) +
        ", " + marginChainCtes("l", lsh = true, nk = 4, bits = 4, minMargin = 1.2) +
        """
          |SELECT CAST(count(*) AS BIGINT) AS n_brute,
          |       CAST(COALESCE(SUM(CASE WHEN l.tgt_id = b.tgt_id THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_agree,
          |       (CAST(COALESCE(SUM(CASE WHEN l.tgt_id = b.tgt_id THEN 1 ELSE 0 END), 0) AS BIGINT) * 100
          |          >= CAST(count(*) AS BIGINT) * 40) AS agree_ok
          |FROM mmb b LEFT JOIN mml l ON b.src_id = l.src_id""".stripMargin))),

    // agreement companion for the TRAINED-quantizer retriever: the
    // same margin chain over ivfRetriever (Lloyd coarse cells,
    // nlist=16, nprobe=4) vs the exact brute baseline — the semi-
    // oracle ships the brute-exact n_brute plus the in-band bound
    // (measured agreement 56-68% across SFs, bound 40, the LSH row's
    // bound); the quantizer itself is fully oracled via q_ann_ivf's
    // training replay.
    QueryDef("q_margin_mine_ivf_recall", Family, (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.marginMineAgreement(emb.filter(col("label") < 2),
        emb.filter(col("label") >= 2), "vec_id", "embedding",
        k = 4, minMargin = 1.2,
        retrieve = Similarity.ivfRetriever(nlist = 16, nprobe = 4),
        minPct = 40)
        .select(col("n_brute"), col("agree_ok"))
    }, Some(
      // IVF agreement semi-oracle: the brute margin count is exact SQL,
      // agree_ok is the in-band bound assertion (the annRecallOracleSql
      // pattern; the quantizer itself is strictly oracled in q_ann_ivf)
      (marginPoolsCte(4) + ", " +
        marginChainCtes("b", lsh = false, nk = 4, bits = 4, minMargin = 1.2) +
        """
          |SELECT CAST(count(*) AS BIGINT) AS n_brute, TRUE AS agree_ok
          |FROM mmb""".stripMargin))),

    // kNN label propagation: majority vote of the 5 nearest labeled
    // neighbors — the semi-supervised lift that spreads a
    // hand-labeled seed set's quality/domain labels over the corpus;
    // the labeled seed broadcasts, the corpus streams map-side, the
    // rank filter is a WindowGroupLimit k-heap per task.
    QueryDef("q_knn_label", Family, (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      // the SEED side is the small pool by contract (labels {0,1},
      // ~20% of vectors) — it broadcasts; the unlabeled majority
      // streams against it
      Similarity.knnLabel(emb.filter(col("label") >= 2).drop("label"),
        emb.filter(col("label") < 2), "vec_id", "embedding", "label",
        k = 5)
    }, Some(
      (s"""WITH n AS (
         |  SELECT vec_id, label, embedding,
         |         sqrt(${dotSql("embedding", "embedding")}) AS nrm
         |  FROM embeddings
         |)""".stripMargin +
        s""", u AS (SELECT vec_id, embedding, nrm FROM n WHERE label >= 2
           |), l AS (SELECT vec_id, embedding, nrm, label FROM n WHERE label < 2
           |), p AS (
           |  SELECT u.vec_id AS uid, l.vec_id AS lid, l.label AS lab,
           |         ${safeCosSql(dotSql("u.embedding", "l.embedding"), "u.nrm * l.nrm")} AS cos0
           |  FROM u, l
           |), r AS (
           |  SELECT *, row_number() OVER (PARTITION BY uid ORDER BY cos0 DESC, lid ASC) AS rk FROM p
           |), v AS (
           |  SELECT uid, lab, count(*) AS nv FROM r WHERE rk <= 5 GROUP BY uid, lab
           |), w2 AS (
           |  SELECT *, row_number() OVER (PARTITION BY uid ORDER BY nv DESC, lab ASC) AS vr FROM v
           |)
           |SELECT uid AS vec_id, lab AS label_pred, CAST(nv AS BIGINT) AS votes
           |FROM w2 WHERE vr = 1""".stripMargin))),

    // SemDeDup-style embedding-cluster dedup: assignment to pinned
    // deterministic centroids (the 16 smallest-id vectors) is a pure
    // TWO-LEVEL projection (coarse ⌈√k⌉ seeds → fine within group —
    // O(√k)/row, the IVF front-end that de-quadratifies the k ∝ n
    // axis); the τ-prune self-join never leaves a cell — Σ|cell|²
    // candidates, not n². Fully oracled, as is the trained-k-means
    // variant of this family (q_ann_ivf's Lloyd training replay).
    QueryDef("q_dedup_semantic", Family, (s, dir) =>
      Similarity.semanticDedup(Tables.embeddings(s, dir), "vec_id",
        "embedding", nSeeds = 16, tau = 0.35), Some(
      (semanticCellsCte(16) +
        s""", pr AS (
           |  SELECT ca.vec_id AS id_a, cb.vec_id AS id_b
           |  FROM cells ca JOIN cells cb ON ca.cell = cb.cell AND ca.vec_id < cb.vec_id
           |  JOIN n na ON na.vec_id = ca.vec_id
           |  JOIN n nb2 ON nb2.vec_id = cb.vec_id
           |  WHERE ${safeCosSql(dotSql("na.embedding", "nb2.embedding"), "na.nrm * nb2.nrm")} >= 0.35
           |), d AS (
           |  SELECT id_b, min(id_a) AS dup_of FROM pr GROUP BY id_b
           |)
           |SELECT c.vec_id, c.cell, d.dup_of, (d.dup_of IS NULL) AS keep
           |FROM cells c LEFT JOIN d ON d.id_b = c.vec_id""".stripMargin))),

    // recall companion: what fraction of ALL τ-pairs (brute force —
    // declared bounded baseline, test-SF only) the cell partition
    // keeps intra-cell. Exact integer cross-multiplication bound.
    QueryDef("q_dedup_semantic_recall", Family, (s, dir) =>
      Similarity.semanticDedupRecall(Tables.embeddings(s, dir), "vec_id",
        "embedding", nSeeds = 16, tau = 0.35, minPct = 10), Some(
      (semanticCellsCte(16) +
        s""", tp AS (
           |  SELECT a.vec_id AS id_a, b.vec_id AS id_b
           |  FROM n a JOIN n b ON a.vec_id < b.vec_id
           |  WHERE ${safeCosSql(dotSql("a.embedding", "b.embedding"), "a.nrm * b.nrm")} >= 0.35
           |), tc AS (
           |  SELECT tp.id_a, tp.id_b, ca.cell AS cella, cb.cell AS cellb
           |  FROM tp JOIN cells ca ON ca.vec_id = tp.id_a
           |          JOIN cells cb ON cb.vec_id = tp.id_b
           |)
           |SELECT CAST(count(*) AS BIGINT) AS n_true,
           |       CAST(COALESCE(SUM(CASE WHEN cella = cellb THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_caught,
           |       (CAST(COALESCE(SUM(CASE WHEN cella = cellb THEN 1 ELSE 0 END), 0) AS BIGINT) * 100
           |          >= CAST(count(*) AS BIGINT) * 10) AS recall_ok
           |FROM tc""".stripMargin))),

    QueryDef("q_ann_brute", Family, (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.bruteForceTopK(emb.filter(col("vec_id") < 10), emb,
        "vec_id", "embedding", k = 5)
    }, Some(
      (normCte +
        s""", p AS (
           |  SELECT q.vec_id AS query_id, c.vec_id AS vec_id,
           |         ${safeCosSql(dotSql("q.embedding", "c.embedding"), "q.nrm * c.nrm")} AS cos0
           |  FROM n q JOIN n c ON q.vec_id <> c.vec_id
           |  WHERE q.vec_id < 10
           |), r AS (
           |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos0 DESC, vec_id ASC) AS rk FROM p
           |)
           |SELECT query_id, vec_id, round(cos0, 6) AS cosine, CAST(rk AS INT) AS rank
           |FROM r WHERE rk <= 5""".stripMargin))),

    // two-stage retrieve→rerank: exact retrieval over-fetches 20
    // candidates, the deterministic cross-encoder stand-in re-scores
    // only those pairs down to 5 — the serving shape where the heavy
    // scorer never touches the corpus axis.
    QueryDef("q_ann_rerank", Family, (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.rerankTopK(emb.filter(col("vec_id") < 10), emb,
        "vec_id", "embedding", kRetrieve = 20, kFinal = 5)
    }, Some(
      // retrieval stage ≡ q_ann_brute at k=20; rerank score mirrors the
      // Spark expression tree: round6(cos)·0.8 + (max single-dim
      // interaction / norms)·0.2, re-ranked (score desc, vec_id asc)
      (normCte +
        s""", p AS (
           |  SELECT q.vec_id AS query_id, c.vec_id AS vec_id,
           |         ${safeCosSql(dotSql("q.embedding", "c.embedding"), "q.nrm * c.nrm")} AS cos0
           |  FROM n q JOIN n c ON q.vec_id <> c.vec_id
           |  WHERE q.vec_id < 10
           |), r AS (
           |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos0 DESC, vec_id ASC) AS rk FROM p
           |), cand AS (
           |  SELECT query_id, vec_id, round(cos0, 6) AS retrieval_cosine
           |  FROM r WHERE rk <= 20
           |), sc AS (
           |  SELECT cand.query_id, cand.vec_id, cand.retrieval_cosine,
           |         cand.retrieval_cosine * 0.8 +
           |         (CASE WHEN q.nrm * c.nrm > 0 THEN
           |            list_max(list_transform(generate_series(1, len(q.embedding)),
           |              i -> CAST(q.embedding[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE)))
           |            / (q.nrm * c.nrm) ELSE -2.0 END) * 0.2 AS score
           |  FROM cand JOIN n q ON cand.query_id = q.vec_id
           |            JOIN n c ON cand.vec_id = c.vec_id
           |), rr AS (
           |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY score DESC, vec_id ASC) AS rk FROM sc
           |)
           |SELECT query_id, vec_id, retrieval_cosine,
           |       round(score, 6) AS rerank_score, CAST(rk AS INT) AS rank
           |FROM rr WHERE rk <= 5""".stripMargin))),

    // multi-probe LSH: query probes its bucket + all 1-bit flips —
    // recall repair without corpus replication.
    QueryDef("q_ann_lsh_probe", Family, (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.lshTopKMultiProbe(emb.filter(col("vec_id") < 10), emb,
        "vec_id", "embedding", k = 5)
    }, Some(
      {
      val probeList = ("bucket" +: (0 until 8).map(j =>
        s"xor(bucket, ${1L << j})")).mkString(", ")
      (normCte +
        s""", nb AS (
           |  SELECT *, $bucketSql AS bucket FROM n
           |), qp AS (
           |  SELECT vec_id, embedding, nrm, unnest([$probeList]) AS probe
           |  FROM nb WHERE vec_id < 10
           |), p AS (
           |  SELECT q.vec_id AS query_id, c.vec_id AS vec_id,
           |         ${safeCosSql(dotSql("q.embedding", "c.embedding"), "q.nrm * c.nrm")} AS cos0
           |  FROM qp q JOIN nb c ON q.probe = c.bucket AND q.vec_id <> c.vec_id
           |), r AS (
           |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos0 DESC, vec_id ASC) AS rk FROM p
           |)
           |SELECT query_id, vec_id, round(cos0, 6) AS cosine, CAST(rk AS INT) AS rank
           |FROM r WHERE rk <= 5""".stripMargin)
    })),
    // product-quantization ANN: seeded per-subspace codebooks, uint8
    // codes, asymmetric-distance top-k. k-means training is not
    // DuckDB-expressible -> rows-only by the declared contract (same
    // as IVF); recall vs brute force asserted in ExtSpec.
    QueryDef("q_ann_pq", Family, (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val model = Similarity.trainPq(emb, "embedding", m = 8, ksub = 32)
      Similarity.pqTopK(emb.filter(col("vec_id") < 10), emb,
        "vec_id", "embedding", k = 5, model)
    }, Some(pqOracleSql)),

    QueryDef("q_ann_lsh", Family, (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.lshTopK(emb.filter(col("vec_id") < 10), emb,
        "vec_id", "embedding", k = 5, bitsUsed = 8)
    }, Some(
      (normCte +
        s""", nb AS (
           |  SELECT *, $bucketSql AS bucket FROM n
           |), p AS (
           |  SELECT q.vec_id AS query_id, c.vec_id AS vec_id,
           |         ${safeCosSql(dotSql("q.embedding", "c.embedding"), "q.nrm * c.nrm")} AS cos0
           |  FROM nb q JOIN nb c ON q.bucket = c.bucket AND q.vec_id <> c.vec_id
           |  WHERE q.vec_id < 10
           |), r AS (
           |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos0 DESC, vec_id ASC) AS rk FROM p
           |)
           |SELECT query_id, vec_id, round(cos0, 6) AS cosine, CAST(rk AS INT) AS rank
           |FROM r WHERE rk <= 5""".stripMargin))),

    // IVF ANN (deterministic-Lloyd coarse quantizer). STRICT oracle
    // including training: the fixed-iteration driver-side Lloyd fit
    // replays in unrolled SQL (lloydCtes — the q_bpe_train pattern
    // for floats); recall vs brute additionally asserted in ExtSpec
    // and q_ann_ivf_recall.
    QueryDef("q_ann_ivf", Family, (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.ivfTopK(emb.filter(col("vec_id") < 10), emb,
        "vec_id", "embedding", k = 5, nlist = 16, nprobe = 4)
    }, Some(
      // the brute top-5 structural counts are exact SQL; recall_ok is
      // the in-band bound assertion (one shared oracle for both recall
      // semi-oracles — see annRecallOracleSql)
      // the full IVF / PQ chains INCLUDING quantizer training: the
      // deterministic driver-side Lloyd replays in unrolled SQL (the
      // q_bpe_train pattern for floats — see lloydCtes), so the two
      // long-declared no-oracle contracts flip strict
      ivfOracleSql)),

    // recall semi-oracle for the IVF rows-only query: the oracle
    // reproduces the structural counts exactly (10 queries × exact
    // top-5 = 50 brute pairs, via the same brute-force SQL) and
    // expects the in-band aggregate-recall assertion TRUE. The bound
    // is loose (≥ 0.15 probing 4/16 cells on uniform-random vectors —
    // ANN's adversarial case) but catches a broken quantizer outright.
    QueryDef("q_ann_ivf_recall", Family, (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val queries = emb.filter(col("vec_id") < 10)
      annRecall(emb, queries,
        Similarity.ivfTopK(queries, emb, "vec_id", "embedding",
          k = 5, nlist = 16, nprobe = 4), bound = 0.15)
    }, Some(annRecallOracleSql)),
    // same contract for the PQ shortlist: the shortlist scales with
    // the corpus (4%, floor 20) so the recall regime matches the
    // ExtSpec pin at every SF; bound 0.35 (pinned 0.5 at sf0.01).
    QueryDef("q_ann_pq_recall", Family, (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val queries = emb.filter(col("vec_id") < 10)
      // parquet count() is metadata-only (row-group stats, no data
      // scan), so sizing the shortlist costs one planning-weight job
      val kShort = math.max(20, (emb.count() * 0.04).toInt)
      val model = Similarity.trainPq(emb, "embedding", m = 8, ksub = 32)
      annRecall(emb, queries,
        Similarity.pqTopK(queries, emb, "vec_id", "embedding",
          k = kShort, model), bound = 0.35)
    }, Some(annRecallOracleSql)),

    // JL random projection 64→16 (Achlioptas ±1 signs): per-vector
    // map-side projection, bit-exact cross-engine (sign flips are
    // exact IEEE, the fold order matches list_sum). Long format
    // (vec_id, k, y) so the oracle hashes scalars.
    QueryDef("q_rproj", Family, (s, dir) =>
      Similarity.randomProject(Tables.embeddings(s, dir), "embedding",
        RprojSigns)
        .select(col("vec_id"), posexplode(col("proj")).as(Seq("k", "y"))), Some(
      // JL projection replay: the SAME driver-computed ±1.0 literals
      // the Spark plan bakes in, fold order = graft_dot's.
      (s"""WITH s(k, sv) AS (VALUES
         |         $rprojSignsSqlValues)
         |SELECT e.vec_id, s.k,
         |       list_sum(list_transform(generate_series(1, $RprojInDims),
         |                               i -> CAST(e.embedding[i] AS DOUBLE) * sv[i])) AS y
         |FROM embeddings e CROSS JOIN s""".stripMargin))),
    // JL-shortlist retriever recall companion: top-5 true-cosine
    // neighbors recovered by a projected-cosine shortlist of 8% of
    // the corpus (floor 20). DuckDB-swept before pinning: 0.56 /
    // 0.50 / 0.48 at sf0.001/0.01/0.1 (kShort 40/40/160) on these
    // iid-uniform embeddings (the ANN adversarial case —
    // deterministic, so the bound 0.3 holds exactly); the projection
    // cuts candidate-scoring flops and every vector shuffle 4×.
    QueryDef("q_rproj_recall", Family, (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val queries = emb.filter(col("vec_id") < 10)
      val kShort = math.max(20, (emb.count() * 0.08).toInt)
      annRecall(emb, queries,
        Similarity.rprojTopK(queries, emb, "vec_id", "embedding",
          k = kShort, RprojSigns), bound = 0.3)
    }, Some(annRecallOracleSql)),

    // int8 embedding quantization (4x storage cut; element folds are
    // sequential so output is engine-deterministic). The q vector is
    // serialized to a comma-joined string for the oracle compare — the
    // driver's pandas hash layer cannot sort raw array columns.
    QueryDef("q_embed_quant", Family, (s, dir) =>
      Similarity.quantizeInt8(Tables.embeddings(s, dir), "vec_id", "embedding")
        .withColumn("q", array_join(col("q").cast("array<string>"), ",")), Some(
      """WITH m AS (
        |  SELECT vec_id, embedding,
        |         list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS maxabs
        |  FROM embeddings
        |), sc AS (
        |  SELECT vec_id, embedding,
        |         CASE WHEN maxabs > 0 THEN 127.0 / maxabs END AS s FROM m
        |), qq AS (
        |  SELECT vec_id, embedding, s,
        |         list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * s) AS INT)) AS q
        |  FROM sc
        |)
        |SELECT vec_id, round(s, 6) AS scale, array_to_string(q, ',') AS q,
        |       round(list_sum(list_transform(generate_series(1, len(embedding)),
        |         i -> (CAST(embedding[i] AS DOUBLE) - CAST(q[i] AS DOUBLE) / s)
        |            * (CAST(embedding[i] AS DOUBLE) - CAST(q[i] AS DOUBLE) / s)))
        |         / len(embedding), 9) AS mse
        |FROM qq""".stripMargin)),

    // Okapi BM25 top-10 per query — the lexical retrieval baseline of
    // a RAG/hard-negative-mining stack. Queries are derived
    // deterministically (first 4 tokens of docs 0-4) so the scorer is
    // fully oracle-checkable; scoring work is proportional to the
    // query terms' postings, never the corpus.
    QueryDef("q_bm25", Family, (s, dir) => {
      val docs = Tables.documents(s, dir)
      val toks = filter(split(lower(trim(col("text"))), "\\s+"),
        w => w =!= lit(""))
      val queries = docs.filter(col("doc_id") < 5)
        .select(col("doc_id").as("query_id"),
          array_join(slice(toks, 1, 4), " ").as("qtext"))
      Retrieval.bm25TopK(docs, "doc_id", "text", queries, "query_id",
        "qtext", k = 10)
    }, Some(
      // BM25: constants cast to DOUBLE so DuckDB's decimal literals
      // don't diverge from Spark's IEEE arithmetic; per-term scores
      // round to 9 and sum as DECIMAL(38,9) (order-free), rank compares
      // the exact decimal with doc-id ties.
      bm25OracleSql)),

    // BM25 over a PERSISTABLE postings index maintained incrementally:
    // the index is the union of two per-slice bm25Index builds (the
    // append-only ingest shape — a real pipeline loads the known
    // slice's postings from storage and tokenizes only the batch),
    // and scoring derives df/N/avgdl from the index itself. Scoring
    // is EXACTLY full-corpus BM25: the oracle is q_bm25's, and the
    // two queries hash-agree at every SF — the agreement proof that
    // index maintenance loses nothing.
    QueryDef("q_bm25_indexed", Family, (s, dir) => {
      val docs = Tables.documents(s, dir)
      val toks = filter(split(lower(trim(col("text"))), "\\s+"),
        w => w =!= lit(""))
      val queries = docs.filter(col("doc_id") < 5)
        .select(col("doc_id").as("query_id"),
          array_join(slice(toks, 1, 4), " ").as("qtext"))
      val known = docs.filter(pmod(col("doc_id"), lit(4)) =!= 0)
      val batch = docs.filter(pmod(col("doc_id"), lit(4)) === 0)
      val postings = Retrieval.bm25Index(known, "doc_id", "text")
        .unionByName(Retrieval.bm25Index(batch, "doc_id", "text"))
      Retrieval.bm25TopKIndexed(postings, queries, "query_id", "qtext",
        k = 10)
    }, Some(
      // identical scoring from the maintained postings index — the
      // agreement proof IS the shared oracle (and the shared hash)
      bm25OracleSql)),

    // BM25 hard-negative mining: each query's text came from its own
    // doc (query_id = doc_id), so that doc is the known positive;
    // negatives are the top-5 remaining results of the top-10 list.
    QueryDef("q_hard_negatives", Family, (s, dir) => {
      val docs = Tables.documents(s, dir)
      val toks = filter(split(lower(trim(col("text"))), "\\s+"),
        w => w =!= lit(""))
      val queries = docs.filter(col("doc_id") < 5)
        .select(col("doc_id").as("query_id"),
          array_join(slice(toks, 1, 4), " ").as("qtext"))
      val positives = docs.filter(col("doc_id") < 5)
        .select(col("doc_id").as("query_id"), col("doc_id"))
      Retrieval.hardNegatives(docs, "doc_id", "text", queries,
        "query_id", "qtext", positives, kRetrieve = 10, kNeg = 5)
    }, Some(
      // identical index/scoring CTEs as q_bm25; the positive pair is
      // (query_id = doc_id) by construction of the query set.
      """WITH arr AS (
        |  SELECT doc_id,
        |         list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
        |                     x -> x <> '') AS ws
        |  FROM documents
        |), dt0 AS (
        |  SELECT doc_id, unnest(ws) AS term, len(ws) AS dl FROM arr
        |), dt AS (
        |  SELECT doc_id, term, count(*) AS tf, any_value(dl) AS dl
        |  FROM dt0 GROUP BY 1, 2
        |), dfreq AS (
        |  SELECT term, count(*) AS df FROM dt GROUP BY 1
        |), perdoc AS (
        |  SELECT doc_id, any_value(dl) AS dl FROM dt GROUP BY 1
        |), stats AS (
        |  SELECT count(*) AS n_docs,
        |         sum(dl) * CAST(1.0 AS DOUBLE) / count(*) AS avgdl
        |  FROM perdoc
        |), q0 AS (
        |  SELECT doc_id AS query_id, unnest(ws[1:4]) AS term
        |  FROM arr WHERE doc_id < 5
        |), qt AS (
        |  SELECT DISTINCT query_id, term FROM q0
        |), scored AS (
        |  SELECT qt.query_id, dt.doc_id,
        |         CAST(round(
        |           ln(CAST(1.0 AS DOUBLE) +
        |              (s.n_docs - f.df + CAST(0.5 AS DOUBLE)) /
        |              (f.df + CAST(0.5 AS DOUBLE))) *
        |           (dt.tf * (CAST(1.2 AS DOUBLE) + CAST(1.0 AS DOUBLE)) /
        |            (dt.tf + CAST(1.2 AS DOUBLE) *
        |             (CAST(1.0 AS DOUBLE) - CAST(0.75 AS DOUBLE) +
        |              CAST(0.75 AS DOUBLE) * dt.dl / s.avgdl))), 9)
        |           AS DECIMAL(38,9)) AS ts
        |  FROM qt JOIN dt USING (term) JOIN dfreq f USING (term)
        |  CROSS JOIN stats s
        |), agg AS (
        |  SELECT query_id, doc_id, sum(ts) AS sq
        |  FROM scored GROUP BY 1, 2
        |), r AS (
        |  SELECT query_id, doc_id, sq,
        |         CAST(row_number() OVER (PARTITION BY query_id
        |           ORDER BY sq DESC, doc_id ASC) AS INT) AS rank
        |  FROM agg
        |), neg AS (
        |  SELECT query_id, doc_id, sq,
        |         CAST(row_number() OVER (PARTITION BY query_id
        |           ORDER BY rank ASC) AS INT) AS neg_rank
        |  FROM r WHERE rank <= 10 AND doc_id <> query_id
        |)
        |SELECT query_id, doc_id, neg_rank,
        |       round(CAST(sq AS DOUBLE), 6) AS score
        |FROM neg WHERE neg_rank <= 5""".stripMargin)),

    // DF-capped BM25: candidates only from terms in ≤77% of docs
    // (0.77 splits this corpus's query terms into generating and
    // non-generating at every SF), exact rescoring of candidates.
    QueryDef("q_bm25_capped", Family, (s, dir) => {
      val docs = Tables.documents(s, dir)
      val toks = filter(split(lower(trim(col("text"))), "\\s+"),
        w => w =!= lit(""))
      val queries = docs.filter(col("doc_id") < 5)
        .select(col("doc_id").as("query_id"),
          array_join(slice(toks, 1, 4), " ").as("qtext"))
      Retrieval.bm25TopKCapped(docs, "doc_id", "text", queries,
        "query_id", "qtext", k = 10, dfCapFrac = 0.77)
    }, Some(
      """WITH arr AS (
        |  SELECT doc_id,
        |         list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
        |                     x -> x <> '') AS ws
        |  FROM documents
        |), dt0 AS (
        |  SELECT doc_id, unnest(ws) AS term, len(ws) AS dl FROM arr
        |), dt AS (
        |  SELECT doc_id, term, count(*) AS tf, any_value(dl) AS dl
        |  FROM dt0 GROUP BY 1, 2
        |), dfreq AS (
        |  SELECT term, count(*) AS df FROM dt GROUP BY 1
        |), perdoc AS (
        |  SELECT doc_id, any_value(dl) AS dl FROM dt GROUP BY 1
        |), stats AS (
        |  SELECT count(*) AS n_docs,
        |         sum(dl) * CAST(1.0 AS DOUBLE) / count(*) AS avgdl
        |  FROM perdoc
        |), q0 AS (
        |  SELECT doc_id AS query_id, unnest(ws[1:4]) AS term
        |  FROM arr WHERE doc_id < 5
        |), qt AS (
        |  SELECT DISTINCT query_id, term FROM q0
        |), cand AS (
        |  SELECT DISTINCT qt.query_id, dt.doc_id
        |  FROM qt
        |  JOIN dfreq f ON f.term = qt.term
        |  CROSS JOIN stats s
        |  JOIN dt ON dt.term = qt.term
        |  WHERE f.df <= 0.77 * s.n_docs
        |), scored AS (
        |  SELECT qt.query_id, dt.doc_id,
        |         CAST(round(
        |           ln(CAST(1.0 AS DOUBLE) +
        |              (s.n_docs - f.df + CAST(0.5 AS DOUBLE)) /
        |              (f.df + CAST(0.5 AS DOUBLE))) *
        |           (dt.tf * (CAST(1.2 AS DOUBLE) + CAST(1.0 AS DOUBLE)) /
        |            (dt.tf + CAST(1.2 AS DOUBLE) *
        |             (CAST(1.0 AS DOUBLE) - CAST(0.75 AS DOUBLE) +
        |              CAST(0.75 AS DOUBLE) * dt.dl / s.avgdl))), 9)
        |           AS DECIMAL(38,9)) AS ts
        |  FROM cand
        |  JOIN qt ON qt.query_id = cand.query_id
        |  JOIN dt ON dt.doc_id = cand.doc_id AND dt.term = qt.term
        |  JOIN dfreq f ON f.term = qt.term
        |  CROSS JOIN stats s
        |), agg AS (
        |  SELECT query_id, doc_id, sum(ts) AS sq, count(*) AS n_matched
        |  FROM scored GROUP BY 1, 2
        |), r AS (
        |  SELECT query_id, doc_id,
        |         CAST(row_number() OVER (PARTITION BY query_id
        |           ORDER BY sq DESC, doc_id ASC) AS INT) AS rank,
        |         n_matched, round(CAST(sq AS DOUBLE), 6) AS score
        |  FROM agg
        |)
        |SELECT query_id, doc_id, rank, n_matched, score
        |FROM r WHERE rank <= 10""".stripMargin)),

    // embedding-space decontamination — the SEMANTIC twin of
    // q_decontaminate (paraphrases share no shingles but do share an
    // embedding neighborhood): bench = vec_id % 29 == 0, the same
    // stand-in eval split; cosine >= 0.3 picks the far tail of this
    // corpus's train-bench cosine distribution (p99 = 0.28, max 0.48).
    QueryDef("q_decontaminate_semantic", Family, (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Dedup.semanticDecontaminate(
        emb.filter(col("vec_id") % 29 =!= 0),
        emb.filter(col("vec_id") % 29 === 0),
        "vec_id", "embedding", threshold = 0.3)
    }, Some(
      (normCte +
        s""", tb AS (
           |  SELECT t.vec_id AS train_id,
           |         ${safeCosSql(dotSql("t.embedding", "b.embedding"), "t.nrm * b.nrm")} AS cos0
           |  FROM n t JOIN n b
           |    ON t.vec_id % 29 <> 0 AND b.vec_id % 29 = 0
           |   AND t.vec_id <> b.vec_id
           |)
           |SELECT train_id, CAST(count(*) AS BIGINT) AS n_bench_hits,
           |       round(max(cos0), 6) AS max_cos
           |FROM tb WHERE cos0 >= 0.3 GROUP BY train_id""".stripMargin))),

    // per-source embedding centroid drift vs the corpus centroid —
    // the embedding-space twin of q_source_kl's domain-shift
    // scorecard (vec_id aligns 1:1 with doc_id in the testdata).
    QueryDef("q_embed_drift", Family, (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val src = Tables.documents(s, dir)
        .select(col("doc_id").as("vec_id"), col("source"))
      Similarity.centroidDrift(emb.join(src, "vec_id"), "source",
        "embedding")
    }, Some(
      // integer-exact centroid cosine: 3-dp element quantization, all
      // sums/products BIGINT, one int->double conversion at the end
      """WITH el AS (
        |  SELECT d.source, t.i AS dim,
        |         CAST(round(CAST(e.embedding[CAST(t.i AS INT)] AS DOUBLE) * 1000.0, 0) AS BIGINT) AS iv
        |  FROM embeddings e
        |  JOIN documents d ON e.vec_id = d.doc_id,
        |       unnest(range(1, len(e.embedding) + 1)) AS t(i)
        |), bysrc AS (
        |  SELECT source, dim, CAST(sum(iv) AS BIGINT) AS sv,
        |         CAST(count(*) AS BIGINT) AS n
        |  FROM el GROUP BY 1, 2
        |), corpus AS (
        |  SELECT dim, CAST(sum(iv) AS BIGINT) AS sc FROM el GROUP BY 1
        |), agg AS (
        |  SELECT source, min(n) AS n_vecs,
        |         sum(CAST(sv AS HUGEINT) * sc) AS dot,
        |         sum(CAST(sv AS HUGEINT) * sv) AS ss,
        |         sum(CAST(sc AS HUGEINT) * sc) AS cc
        |  FROM bysrc JOIN corpus USING (dim) GROUP BY 1
        |)
        |SELECT source, n_vecs,
        |       CASE WHEN ss > 0 AND cc > 0 THEN
        |         round(CAST(dot AS DOUBLE) /
        |               (sqrt(CAST(ss AS DOUBLE)) * sqrt(CAST(cc AS DOUBLE))), 6)
        |       END AS drift_cos
        |FROM agg""".stripMargin))
  )
}
