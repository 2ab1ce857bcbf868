package graft
package registry

import org.apache.spark.sql.functions._

/** Helpers that queries of more than one family build on. */
private[registry] object Shared {
  /** documents → distinct k-word shingles CTE (w, sh). */
  def shingleCte(k: Int): String =
    s"""WITH w AS (
       |  SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS words FROM documents
       |), sh AS (
       |  SELECT DISTINCT doc_id, array_to_string(words[CAST(i AS INT):CAST(i AS INT)+${k - 1}], ' ') AS shingle
       |  FROM w, unnest(range(1, greatest(len(words) - ${k - 1}, 0) + 1)) AS t(i)
       |)""".stripMargin

  /** Similarity.safeCosine mirror: the undefined cosine (zero-norm
    * side) pinned to -2.0 in SQL, so desc-rank/threshold stages can
    * never be decided by an engine's NaN convention.
    */
  def safeCosSql(d: String, den: String): String =
    s"CASE WHEN $den > 0 THEN $d / ($den) ELSE -2.0 END"

  /** embeddings with norms CTE (n); dot(a,b) helper inlined. */
  def dotSql(a: String, b: String): String =
    s"list_sum(list_transform(generate_series(1, len($a)), i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)))"

  val normCte: String =
    s"""WITH n AS (
       |  SELECT vec_id, embedding, sqrt(${dotSql("embedding", "embedding")}) AS nrm
       |  FROM embeddings
       |)""".stripMargin

  /** semantic-dedup cell-assignment CTE chain (n … cells): pinned
    * seeds = the nSeeds smallest-id vectors, TWO-LEVEL (IVF-style)
    * argmax cosine with ties to the smaller id — mirrors
    * Similarity.assignCells' projection exactly (identically-shaped
    * IEEE folds): coarse = the ⌈√(actual seed count)⌉ smallest-id
    * seeds — derived relationally from sd, not from the nSeeds
    * parameter, because the engine derives it from the COLLECTED seed
    * count (`assignCellsImpl`: min(seeds.length, ⌈√seeds.length⌉))
    * and the two must agree when the table has fewer than nSeeds rows
    * (latent at the shipped SFs, all of which exceed nSeeds); each seed
    * groups to its argmax-cosine coarse seed EXCEPT coarse seeds,
    * which group to themselves (the non-empty-cell guarantee); each
    * vector takes its argmax coarse cell, then its argmax seed among
    * that cell's group. The engine derives the seed→coarse grouping
    * driver-side with the same sequential fold; here it is re-derived
    * relationally (s2cr/s2c) — both engines compute the same doubles
    * in the same order, so the groupings agree bit-for-bit.
    */
  def semanticCellsCte(nSeeds: Int): String = {
    normCte +
      s""", sd AS (
         |  SELECT vec_id AS seed_id, embedding AS sv, nrm AS snrm,
         |         row_number() OVER (ORDER BY vec_id) AS srk
         |  FROM n ORDER BY vec_id LIMIT $nSeeds
         |), ncc AS (
         |  SELECT CAST(ceil(sqrt(count(*))) AS BIGINT) AS nc FROM sd
         |), cd AS (
         |  SELECT seed_id AS cid, sv AS cv, snrm AS cnrm FROM sd
         |  WHERE srk <= (SELECT nc FROM ncc)
         |), s2cr AS (
         |  SELECT s.seed_id, s.srk, c.cid,
         |         row_number() OVER (PARTITION BY s.seed_id
         |           ORDER BY ${safeCosSql(dotSql("s.sv", "c.cv"), "s.snrm * c.cnrm")} DESC, c.cid ASC) AS rk
         |  FROM sd s CROSS JOIN cd c
         |), s2c AS (
         |  SELECT seed_id, CASE WHEN srk <= (SELECT nc FROM ncc) THEN seed_id ELSE cid END AS grp
         |  FROM s2cr WHERE rk = 1
         |), v2c AS (
         |  SELECT vec_id, cid FROM (
         |    SELECT v.vec_id, c.cid,
         |           row_number() OVER (PARTITION BY v.vec_id
         |             ORDER BY ${safeCosSql(dotSql("v.embedding", "c.cv"), "v.nrm * c.cnrm")} DESC, c.cid ASC) AS rk
         |    FROM n v CROSS JOIN cd c)
         |  WHERE rk = 1
         |), asgall AS (
         |  SELECT v.vec_id, s.seed_id,
         |         ${safeCosSql(dotSql("v.embedding", "s.sv"), "v.nrm * s.snrm")} AS cos0
         |  FROM n v JOIN v2c ON v2c.vec_id = v.vec_id
         |  JOIN s2c g ON g.grp = v2c.cid
         |  JOIN sd s ON s.seed_id = g.seed_id
         |), cells AS (
         |  SELECT vec_id, seed_id AS cell
         |  FROM (SELECT *, row_number() OVER (
         |          PARTITION BY vec_id ORDER BY cos0 DESC, seed_id ASC) AS rk
         |        FROM asgall)
         |  WHERE rk = 1
         |)""".stripMargin
  }

  val simhashBitSums: String = (0 until 32).map(j =>
    s"sum((((h >> $j) & 1)*2 - 1) * c) AS s$j").mkString(",\n         ")
  val simhashFpExpr: String = (0 until 32).map(j =>
    s"CASE WHEN s$j > 0 THEN CAST(${1L << j} AS BIGINT) ELSE 0 END").mkString(" + ")

  /** Quality/language gate CTE chain (qa … l) over a token table
    * `wd` (doc_id, w) — the SQL twin of
    * TextStats.qualityLangDecisions, shared VERBATIM by
    * q_corpus_filter and q_curation_e2e so the gate formulas (quality
    * composite, marker lists, argmax fold) exist in exactly one
    * place; a missed hand-copy could otherwise silently diverge the
    * two oracles while each kept passing its own parity gate.
    */
  val qualityLangGateCtes: String =
    """qa AS (
      |  SELECT doc_id, count(*) AS wc, count(DISTINCT w) AS dw,
      |         sum(CASE WHEN w IN ('the','a','of','and','in') THEN 1 ELSE 0 END) AS sc
      |  FROM wd GROUP BY doc_id
      |), q AS (
      |  SELECT doc_id,
      |         round((least(CAST(wc AS DOUBLE) / 100.0, 1.0)
      |               + least(CAST(sc AS DOUBLE) / wc * 5.0, 1.0)
      |               + least(CAST(dw AS DOUBLE) / wc * 2.0, 1.0)) / 3.0, 6) >= 0.5 AS quality_ok
      |  FROM qa
      |), la AS (
      |  SELECT doc_id, count(*) AS n,
      |         sum(CASE WHEN w IN ('der','die','das','und','ist') THEN 1 ELSE 0 END) AS h_de,
      |         sum(CASE WHEN w IN ('the','a','of','and','is') THEN 1 ELSE 0 END) AS h_en,
      |         sum(CASE WHEN w IN ('el','la','de','y','es') THEN 1 ELSE 0 END) AS h_es,
      |         sum(CASE WHEN w IN ('le','la','les','et','est') THEN 1 ELSE 0 END) AS h_fr
      |  FROM wd GROUP BY doc_id
      |), ls AS (
      |  SELECT doc_id,
      |         CAST(h_de AS DOUBLE)/n AS s_de, CAST(h_en AS DOUBLE)/n AS s_en,
      |         CAST(h_es AS DOUBLE)/n AS s_es, CAST(h_fr AS DOUBLE)/n AS s_fr,
      |         CAST(0 AS DOUBLE)/n AS s_zh
      |  FROM la
      |), lp AS (
      |  SELECT doc_id,
      |         CASE WHEN s_zh > (CASE WHEN s_fr > (CASE WHEN s_es > (CASE WHEN s_en > s_de THEN s_en ELSE s_de END) THEN s_es ELSE (CASE WHEN s_en > s_de THEN s_en ELSE s_de END) END) THEN s_fr ELSE (CASE WHEN s_es > (CASE WHEN s_en > s_de THEN s_en ELSE s_de END) THEN s_es ELSE (CASE WHEN s_en > s_de THEN s_en ELSE s_de END) END) END)
      |              THEN 'zh'
      |              ELSE (CASE WHEN s_fr > (CASE WHEN s_es > (CASE WHEN s_en > s_de THEN s_en ELSE s_de END) THEN s_es ELSE (CASE WHEN s_en > s_de THEN s_en ELSE s_de END) END) THEN 'fr' ELSE (CASE WHEN s_es > (CASE WHEN s_en > s_de THEN s_en ELSE s_de END) THEN 'es' ELSE (CASE WHEN s_en > s_de THEN 'en' ELSE 'de' END) END) END)
      |         END AS lang_pred
      |  FROM ls
      |), l AS (
      |  SELECT doc_id, (lang_pred IN ('en')) AS lang_ok FROM lp
      |)""".stripMargin

  /** SimHash candidate-pair CTE chain (wd … cd), shared by the pair
    * query and the cluster query; caller prepends WITH / WITH RECURSIVE
    * and appends its tail.
    */
  val simhashCteBody: String = {
    val bitSums = simhashBitSums
    val fpExpr = simhashFpExpr
    val chunkRows = (0 until 4).map(cI =>
      s"SELECT doc_id, simhash, $cI AS c, (simhash >> ${cI * 8}) & 255 AS v FROM fp")
      .mkString("\n  UNION ALL ")
    s"""wd AS (
       |  SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\\s+')) AS w FROM documents
       |), wc AS (
       |  SELECT doc_id, w, count(*) AS c FROM wd GROUP BY doc_id, w
       |), wh AS (
       |  SELECT doc_id, c, CAST(('0x' || substr(md5(w), 1, 15)) AS BIGINT) AS h FROM wc
       |), bs AS (
       |  SELECT doc_id,
       |         $bitSums
       |  FROM wh GROUP BY doc_id
       |), fp AS (
       |  SELECT doc_id, $fpExpr AS simhash FROM bs
       |), ch AS (
       |  $chunkRows
       |), cd AS (
       |  SELECT DISTINCT x.doc_id AS id_a, x.simhash AS ha, y.doc_id AS id_b, y.simhash AS hb
       |  FROM ch x JOIN ch y ON x.c = y.c AND x.v = y.v AND x.doc_id < y.doc_id
       |)""".stripMargin
  }
}
