package graft
package registry

import org.apache.spark.sql.functions._
import graft.ext.{Dedup, Sampling, TextStats}
import graft.sources.Tables

import Shared._

/** Document deduplication queries: exact, shingle/MinHash/SimHash
  * near-dup, substring and line spans, incremental ingest,
  * decontamination.
  */
object DedupQueries {
  private val Family = "dedup"

  /** The ONE (minLen, maxDf) parameter pair for substring-span dedup:
    * passed to both Dedup.substringSpans calls AND the oracle CTE
    * generator, so the two sides cannot drift.
    */
  private val SubstringMinLen = 8
  private val SubstringMaxDf = 20

  /** The ONE hot-band df cap for the capped SimHash pair twin —
    * shared by the q_dedup_simhash_capped Spark entry and its oracle
    * so the two sides cannot drift. Not binding on the synthetic
    * corpus at any tested SF (the twin is row-identical to
    * q_dedup_simhash there); it binds under a planted exact-dup
    * flood, which the skew bench axis measures.
    */
  private val SimhashMaxChunkDf = 5000L

  private val jaccardTail: String =
    """, sz AS (
      |  SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id
      |), pr AS (
      |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
      |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      |  GROUP BY a.doc_id, b.doc_id
      |)""".stripMargin

  /** Substring-span CTE chain (w … sp): positioned minLen-token
    * anchors, occurrence cap maxDf, diagonal gaps-and-islands — the
    * SAME (minLen, maxDf) constants the registry passes to
    * Dedup.substringSpans (SubstringMinLen/SubstringMaxDf) — ends in
    * sp(id_a, id_b, a_start, b_start, span_len). Shared by
    * q_dedup_substring and its removal companion so the span
    * definition can never drift between detect and act.
    */
  private def substringSpanCtes(minLen: Int, maxDf: Int): String =
    s"""WITH w AS (
      |  SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS ws FROM documents
      |), an AS (
      |  SELECT doc_id, CAST(i - 1 AS INT) AS pos,
      |         CAST(('0x' || substr(md5(array_to_string(ws[CAST(i AS INT):CAST(i AS INT)+${minLen - 1}], ' ')), 1, 15)) AS BIGINT) AS ah
      |  FROM w, unnest(range(1, greatest(len(ws) - ${minLen - 1}, 0) + 1)) AS t(i)
      |), rare AS (
      |  SELECT ah FROM an GROUP BY ah HAVING count(*) <= $maxDf
      |), ix AS (
      |  SELECT an.doc_id, an.pos, an.ah FROM an JOIN rare USING (ah)
      |), m AS (
      |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.pos AS pa,
      |         b.pos - a.pos AS diag
      |  FROM ix a JOIN ix b ON a.ah = b.ah AND a.doc_id < b.doc_id
      |), r AS (
      |  SELECT *, row_number() OVER (PARTITION BY id_a, id_b, diag ORDER BY pa) AS rn FROM m
      |), sp AS (
      |  SELECT id_a, id_b, CAST(min(pa) AS INT) AS a_start,
      |         CAST(min(pa) + diag AS INT) AS b_start,
      |         CAST(count(*) + ${minLen - 1} AS BIGINT) AS span_len
      |  FROM r GROUP BY id_a, id_b, diag, pa - rn
      |)""".stripMargin

  /** The two incremental-ingest match legs over fpk/fpn fingerprint
    * CTEs — chunk tables, fresh×known banded match (cm), intra-batch
    * pigeonhole pairs (im). Shared by q_dedup_incr_near and
    * q_dedup_ingest so the match semantics can never drift.
    */
  private val simhashIncrMatchCtes: String =
    s"""chk AS (
       |  ${(0 until 4).map(c => s"SELECT doc_id, simhash, $c AS c, (simhash >> ${c * 8}) & 255 AS v FROM fpk").mkString("\n  UNION ALL ")}
       |), chn AS (
       |  ${(0 until 4).map(c => s"SELECT doc_id, simhash, $c AS c, (simhash >> ${c * 8}) & 255 AS v FROM fpn").mkString("\n  UNION ALL ")}
       |), cm AS (
       |  SELECT n.doc_id AS nid, min(k.doc_id) AS dup_known
       |  FROM chk k JOIN chn n ON k.c = n.c AND k.v = n.v
       |  WHERE bit_count(xor(k.simhash, n.simhash)) <= 3
       |  GROUP BY n.doc_id
       |), im AS (
       |  SELECT y.doc_id AS nid, min(x.doc_id) AS dup_batch
       |  FROM fpn x JOIN fpn y ON x.doc_id < y.doc_id
       |  WHERE bit_count(xor(x.simhash, y.simhash)) <= 3
       |  GROUP BY y.doc_id
       |)""".stripMargin

  /** Parameterized SimHash fingerprint CTE chain over a filtered
    * slice of `documents`: produces `fp$sfx(doc_id, simhash)` (CTE
    * names suffixed so two slices coexist in one statement). Shares
    * its term generators with [[simhashCteBody]], whose generated text
    * is unchanged.
    */
  private def simhashFpCte(sfx: String, where: String): String =
    s"""wd$sfx AS (
       |  SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\\s+')) AS w
       |  FROM documents WHERE $where
       |), wc$sfx AS (
       |  SELECT doc_id, w, count(*) AS c FROM wd$sfx GROUP BY doc_id, w
       |), wh$sfx AS (
       |  SELECT doc_id, c, CAST(('0x' || substr(md5(w), 1, 15)) AS BIGINT) AS h FROM wc$sfx
       |), bs$sfx AS (
       |  SELECT doc_id,
       |         $simhashBitSums
       |  FROM wh$sfx GROUP BY doc_id
       |), fp$sfx AS (
       |  SELECT doc_id, $simhashFpExpr AS simhash FROM bs$sfx
       |)""".stripMargin

  /** Frozen-family incremental assignment CTE chain (pk … asg) over
    * [[simhashCteBody]]'s cd candidate table, batch = doc_id % 4 == 0:
    * known-side recursive closure → famk, batch-only components →
    * comp, cross-side matches → min-family inheritance → asg(doc_id,
    * family_id, is_new_family). ONE definition shared by
    * q_split_safe_incr and q_curation_incr so the assignment
    * semantics cannot drift between the split and the full verdict.
    */
  private val incrFamilyCtes: String =
    """pk AS (
      |  SELECT id_a, id_b FROM cd
      |  WHERE bit_count(xor(ha, hb)) <= 3 AND id_a % 4 <> 0 AND id_b % 4 <> 0
      |), ek AS (
      |  SELECT id_a AS a, id_b AS b FROM pk
      |  UNION ALL SELECT id_b, id_a FROM pk
      |), rk(id, r) AS (
      |  SELECT doc_id, doc_id FROM documents WHERE doc_id % 4 <> 0
      |  UNION
      |  SELECT ek.b, rk.r FROM rk JOIN ek ON ek.a = rk.id
      |), famk AS (
      |  SELECT id AS doc_id, min(r) AS family_id FROM rk GROUP BY id
      |), pb AS (
      |  SELECT id_a, id_b FROM cd
      |  WHERE bit_count(xor(ha, hb)) <= 3 AND id_a % 4 = 0 AND id_b % 4 = 0
      |), eb AS (
      |  SELECT id_a AS a, id_b AS b FROM pb
      |  UNION ALL SELECT id_b, id_a FROM pb
      |), rb(id, r) AS (
      |  SELECT doc_id, doc_id FROM documents WHERE doc_id % 4 = 0
      |  UNION
      |  SELECT eb.b, rb.r FROM rb JOIN eb ON eb.a = rb.id
      |), comp AS (
      |  SELECT id AS doc_id, min(r) AS comp_id FROM rb GROUP BY id
      |), xm AS (
      |  SELECT CASE WHEN id_a % 4 = 0 THEN id_a ELSE id_b END AS bdoc,
      |         CASE WHEN id_a % 4 = 0 THEN id_b ELSE id_a END AS kdoc
      |  FROM cd
      |  WHERE bit_count(xor(ha, hb)) <= 3
      |    AND ((id_a % 4 = 0) <> (id_b % 4 = 0))
      |), hits AS (
      |  SELECT xm.bdoc AS doc_id, min(f.family_id) AS hit
      |  FROM xm JOIN famk f ON f.doc_id = xm.kdoc GROUP BY xm.bdoc
      |), cf AS (
      |  SELECT comp_id, min(hit) AS fam
      |  FROM comp LEFT JOIN hits USING (doc_id) GROUP BY comp_id
      |), asg AS (
      |  SELECT comp.doc_id, coalesce(cf.fam, comp.comp_id) AS family_id,
      |         cf.fam IS NULL AS is_new_family
      |  FROM comp JOIN cf USING (comp_id)
      |)""".stripMargin

  val defs: Seq[QueryDef] = Seq(
    // cross-source exact-duplicate family matrix (provenance audit:
    // which source pairs share verbatim content, plus within-source
    // duplication on the diagonal). The small corpora carry no natural
    // exact duplicates, so every 17th doc is rewritten to one of 5
    // shared boilerplate bodies IDENTICALLY on both sides — the
    // planted families span sources (doc ids stride across them),
    // exercising cross cells and the diagonal at every SF.
    QueryDef("q_dup_matrix", Family, (s, dir) => {
      val seeded = Tables.documents(s, dir).withColumn("text",
        when(col("doc_id") % 17 === 0,
          concat(lit("shared boilerplate "),
            (col("doc_id") % 5).cast("string")))
          .otherwise(col("text")))
      Dedup.crossSourceMatrix(seeded, "doc_id", "text", "source")
    }, Some(
      """WITH d AS (
        |  SELECT doc_id, source,
        |         CASE WHEN doc_id % 17 = 0
        |              THEN 'shared boilerplate ' || (doc_id % 5)
        |              ELSE text END AS text
        |  FROM documents
        |), m AS (
        |  SELECT DISTINCT md5(lower(trim(text))) AS h, source FROM d
        |), cross_pairs AS (
        |  SELECT l.source AS src_a, r.source AS src_b,
        |         CAST(count(*) AS BIGINT) AS n_families
        |  FROM m l JOIN m r ON l.h = r.h AND l.source < r.source
        |  GROUP BY 1, 2
        |), within AS (
        |  SELECT source AS src_a, source AS src_b,
        |         CAST(count(*) AS BIGINT) AS n_families
        |  FROM (
        |    SELECT md5(lower(trim(text))) AS h, source
        |    FROM d GROUP BY 1, 2 HAVING count(*) >= 2
        |  ) GROUP BY 1, 2
        |)
        |SELECT * FROM cross_pairs UNION ALL SELECT * FROM within""".stripMargin)),

    // incremental-ingestion dedup: flag batch docs (doc_id % 5 == 0)
    // whose normalized text already exists in the known corpus — the
    // append-only pipeline check that never re-dedups the corpus.
    QueryDef("q_dedup_incremental", Family, (s, dir) => {
      val docs = Tables.documents(s, dir)
      Dedup.dedupAgainstKnown(
        docs.filter(pmod(col("doc_id"), lit(5)) === 0),
        docs.filter(pmod(col("doc_id"), lit(5)) =!= 0),
        "doc_id", "text")
    }, Some(
      """WITH known AS (
        |  SELECT DISTINCT md5(lower(trim(text))) AS text_hash
        |  FROM documents WHERE doc_id % 5 <> 0
        |), b AS (
        |  SELECT doc_id, md5(lower(trim(text))) AS text_hash
        |  FROM documents WHERE doc_id % 5 = 0
        |)
        |SELECT b.doc_id, b.text_hash,
        |       (k.text_hash IS NOT NULL) AS is_known
        |FROM b LEFT JOIN known k USING (text_hash)""".stripMargin)),

    // incremental NEAR-dup: the same ingest split, but by SimHash
    // Hamming proximity — catches boilerplate variants the exact
    // hash misses; the known corpus contributes one reusable chunk
    // index and is never re-paired against itself.
    QueryDef("q_dedup_incr_near", Family, (s, dir) => {
      val docs = Tables.documents(s, dir)
      Dedup.simHashIncremental(
        docs.filter(pmod(col("doc_id"), lit(5)) === 0),
        docs.filter(pmod(col("doc_id"), lit(5)) =!= 0),
        "doc_id", "text", maxDist = 3)
    }, Some(
      // near-dup ingest replay: fingerprints per slice, banded cross
      // candidates (multiplicity harmless under min), brute intra-batch
      // pairs (the fresh batch is the small side — test-SF baseline)
      (s"WITH ${simhashFpCte("k", "doc_id % 5 <> 0")},\n" +
        s"${simhashFpCte("n", "doc_id % 5 = 0")},\n" +
        simhashIncrMatchCtes +
        """
           |SELECT f.doc_id, cm.dup_known AS dup_of_known,
           |       im.dup_batch AS dup_of_batch,
           |       (cm.dup_known IS NULL AND im.dup_batch IS NULL) AS keep
           |FROM fpn f
           |LEFT JOIN cm ON f.doc_id = cm.nid
           |LEFT JOIN im ON f.doc_id = im.nid""".stripMargin))),

    // per-doc n-gram novelty: fraction of a doc's distinct 3-grams
    // appearing in NO other document — the corpus memorization/
    // boilerplate audit; one df aggregate + join back, never pairwise.
    QueryDef("q_novelty", Family, (s, dir) =>
      TextStats.ngramNovelty(Tables.documents(s, dir), "doc_id", "text",
        k = 3), Some(
      (shingleCte(3) +
        """, dfq AS (
          |  SELECT shingle, count(*) AS dfc FROM sh GROUP BY shingle
          |), per AS (
          |  SELECT sh.doc_id, CAST(count(*) AS BIGINT) AS n_grams,
          |         CAST(SUM(CASE WHEN dfq.dfc = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_novel
          |  FROM sh JOIN dfq USING (shingle) GROUP BY sh.doc_id
          |)
          |SELECT d.doc_id,
          |       CAST(coalesce(per.n_grams, 0) AS BIGINT) AS n_grams,
          |       CAST(coalesce(per.n_novel, 0) AS BIGINT) AS n_novel,
          |       CASE WHEN coalesce(per.n_grams, 0) > 0
          |            THEN per.n_novel * 1.0 / per.n_grams END AS novelty
          |FROM documents d LEFT JOIN per USING (doc_id)""".stripMargin))),

    // NEAR-dup-safe split: whole SimHash near-dup families (connected
    // components; exact dups are hamming-0 members) route to one
    // split by the deterministic family-id hash — blocks the
    // paraphrase/boilerplate eval leakage the exact-hash split misses.
    QueryDef("q_split_safe_near", Family, (s, dir) =>
      Sampling.leakageSafeSplitNear(Tables.documents(s, dir), "doc_id",
        "text", maxDist = 3), Some(
      // near-dup families via the q_dedup_clusters recursive closure,
      // routed by the same family-id hash as q_split_safe
      (s"WITH RECURSIVE $simhashCteBody, pr AS (\n" +
        """  SELECT id_a, id_b FROM cd WHERE bit_count(xor(ha, hb)) <= 3
          |), e AS (
          |  SELECT id_a AS a, id_b AS b FROM pr
          |  UNION ALL SELECT id_b, id_a FROM pr
          |), reach(id, r) AS (
          |  SELECT doc_id, doc_id FROM documents
          |  UNION
          |  SELECT e.b, reach.r FROM reach JOIN e ON e.a = reach.id
          |), cl AS (
          |  SELECT id AS doc_id, min(r) AS family_id FROM reach GROUP BY id
          |), h AS (
          |  SELECT doc_id, family_id,
          |         CAST(CAST(('0x' || substr(md5(CAST(family_id AS VARCHAR)), 1, 15)) AS BIGINT)
          |              % 10000 AS INT) AS bucket
          |  FROM cl
          |)
          |SELECT doc_id, family_id, bucket,
          |       CASE WHEN bucket < 9000 THEN 'train'
          |            WHEN bucket < 9500 THEN 'val'
          |            ELSE 'test' END AS split
          |FROM h""".stripMargin))),

    // FROZEN-FAMILY incremental split: the known corpus (doc_id % 4
    // != 0) seeds a persistable family registry; the new batch
    // (doc_id % 4 == 0) is assigned WITHOUT renumbering — a batch
    // component inheriting the oldest matched family, novel
    // components minting new families from their own min id. This is
    // the append-only upgrade of q_split_safe_near's documented
    // renumbering weakness: existing docs' splits are frozen by
    // construction. Output is the batch assignment + frozen split.
    QueryDef("q_split_safe_incr", Family, (s, dir) => {
      val docs = Tables.documents(s, dir)
      val known = docs.filter(pmod(col("doc_id"), lit(4)) =!= 0)
      val batch = docs.filter(pmod(col("doc_id"), lit(4)) === 0)
      val reg = Sampling.familyRegistry(known, "doc_id", "text", maxDist = 3)
      Sampling.familySplit(
        Sampling.assignFamiliesIncremental(batch, reg, "doc_id", "text",
          maxDist = 3))
    }, Some(
      // frozen-family incremental split: known-side (doc_id % 4 <> 0)
      // families via the recursive closure over known-only pairs; batch
      // components over batch-only pairs; batch↔known matches off the
      // same chunk-candidate table (cd holds ALL chunk-sharing pairs,
      // filtered by side); a component inherits the min matched known
      // family, else mints its own min-id family. Same family-id hash
      // routing as q_split_safe / q_split_safe_near.
      (s"WITH RECURSIVE $simhashCteBody, $incrFamilyCtes, h AS (\n" +
        """  SELECT asg.doc_id, asg.family_id, asg.is_new_family, fp.simhash,
          |         CAST(CAST(('0x' || substr(md5(CAST(asg.family_id AS VARCHAR)), 1, 15)) AS BIGINT)
          |              % 10000 AS INT) AS bucket
          |  FROM asg LEFT JOIN fp ON fp.doc_id = asg.doc_id
          |)
          |SELECT doc_id, family_id, is_new_family, simhash, bucket,
          |       CASE WHEN bucket < 9000 THEN 'train'
          |            WHEN bucket < 9500 THEN 'val'
          |            ELSE 'test' END AS split
          |FROM h""".stripMargin))),

    // the FULL incremental curation verdict on the same frozen
    // registry: gates + frozen-family assignment + keeper + split for
    // the batch, per-batch-callable — the driver-checked batch twin
    // of the streaming foreachBatch suite (StreamingSpec proves
    // batch ≡ stream; this row proves the batch form itself against
    // an independent SQL replay).
    QueryDef("q_curation_incr", Family, (s, dir) => {
      val docs = Tables.documents(s, dir)
      val known = docs.filter(pmod(col("doc_id"), lit(4)) =!= 0)
      val batch = docs.filter(pmod(col("doc_id"), lit(4)) === 0)
      val reg = Sampling.familyRegistry(known, "doc_id", "text", maxDist = 3)
      TextStats.curationIngest(batch, reg, "doc_id", "text", maxDist = 3)
    }, Some(
      // the incremental curation verdict driver-checked end to end: the
      // SAME frozen-family chain as q_split_safe_incr (incrFamilyCtes,
      // one definition) plus the SAME gate CTEs as q_corpus_filter /
      // q_curation_e2e (qualityLangGateCtes) — keeper = founder,
      // NULL-text batch docs get explicit failing gate bits.
      (s"WITH RECURSIVE $simhashCteBody, $incrFamilyCtes, $qualityLangGateCtes, f AS (\n" +
        """  SELECT asg.doc_id, asg.family_id,
          |         coalesce(l.lang_ok, FALSE) AS lang_ok,
          |         coalesce(q.quality_ok, FALSE) AS quality_ok,
          |         asg.doc_id = asg.family_id AS is_keeper,
          |         CAST(CAST(('0x' || substr(md5(CAST(asg.family_id AS VARCHAR)), 1, 15)) AS BIGINT)
          |              % 10000 AS INT) AS bucket,
          |         fp.simhash
          |  FROM asg LEFT JOIN q USING (doc_id) LEFT JOIN l USING (doc_id)
          |       LEFT JOIN fp ON fp.doc_id = asg.doc_id
          |)
          |SELECT doc_id, family_id, lang_ok, quality_ok, is_keeper,
          |       is_keeper AND quality_ok AND lang_ok AS keep,
          |       CASE WHEN bucket < 9000 THEN 'train'
          |            WHEN bucket < 9500 THEN 'val'
          |            ELSE 'test' END AS split,
          |       simhash
          |FROM f""".stripMargin))),

    // winnowing fingerprints (Schleimer et al. 2003 / MOSS): each
    // sliding window of w k-gram hashes keeps its minimum (ties →
    // rightmost) — guarantees any shared run ≥ w+k−1 tokens shares a
    // fingerprint at expected density 2/(w+1); the principled upgrade
    // of q_fingerprint's mod-p sampler, selected per doc with zero
    // joins or window exchanges.
    QueryDef("q_winnow", Family, (s, dir) =>
      TextStats.winnowFingerprints(Tables.documents(s, dir), "doc_id",
        "text", k = 4, w = 5), Some(
      // winnowing replay: packed (hash·2²⁰ + (2²⁰−1−pos)) values in
      // position order, per-window list min, distinct, decode
      """WITH w0 AS (
        |  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS ws FROM documents
        |), an AS (
        |  SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos,
        |         CAST(('0x' || substr(md5(array_to_string(ws[CAST(i AS INT):CAST(i AS INT)+3], ' ')), 1, 10)) AS BIGINT) AS h40
        |  FROM w0, unnest(range(1, greatest(len(ws) - 3, 0) + 1)) AS t(i)
        |), ar AS (
        |  SELECT doc_id,
        |         list(h40 * 1048576 + (1048575 - pos) ORDER BY pos) AS c
        |  FROM an GROUP BY doc_id
        |), sel AS (
        |  SELECT doc_id, unnest(list_distinct(list_transform(
        |    range(1, greatest(len(c) - 4, 1) + 1),
        |    i -> list_aggregate(c[CAST(i AS INT):CAST(i AS INT) + 4], 'min')))) AS v
        |  FROM ar
        |)
        |SELECT doc_id, CAST(1048575 - (v & 1048575) AS INT) AS pos,
        |       (v >> 20) AS fp
        |FROM sel""".stripMargin)),

    // UNIFIED ingest: exact AND near verdicts from one pass over the
    // fresh batch — the call a real append-only pipeline makes per
    // ingest. The fresh slice is normalized/hashed once into a cached
    // base; exact leg, fingerprint pass and output all read it.
    QueryDef("q_dedup_ingest", Family, (s, dir) => {
      val docs = Tables.documents(s, dir)
      Dedup.dedupIngest(
        docs.filter(pmod(col("doc_id"), lit(5)) === 0),
        docs.filter(pmod(col("doc_id"), lit(5)) =!= 0),
        "doc_id", "text", maxDist = 3)
    }, Some(
      // unified ingest replay: the exact leg is q_dedup_incremental's
      // hash join, the near legs are q_dedup_incr_near's shared match
      // CTEs — composed over the same slices.
      (s"WITH ${simhashFpCte("k", "doc_id % 5 <> 0")},\n" +
        s"${simhashFpCte("n", "doc_id % 5 = 0")},\n" +
        simhashIncrMatchCtes +
        """, known AS (
           |  SELECT DISTINCT md5(lower(trim(text))) AS text_hash
           |  FROM documents WHERE doc_id % 5 <> 0
           |), bh AS (
           |  SELECT doc_id, md5(lower(trim(text))) AS text_hash
           |  FROM documents WHERE doc_id % 5 = 0
           |)
           |SELECT b.doc_id, b.text_hash,
           |       (k2.text_hash IS NOT NULL) AS is_known,
           |       cm.dup_known AS dup_of_known,
           |       im.dup_batch AS dup_of_batch,
           |       (k2.text_hash IS NULL AND cm.dup_known IS NULL
           |          AND im.dup_batch IS NULL) AS keep
           |FROM bh b
           |LEFT JOIN known k2 USING (text_hash)
           |LEFT JOIN cm ON b.doc_id = cm.nid
           |LEFT JOIN im ON b.doc_id = im.nid""".stripMargin))),

    // substring-level exact dedup (Lee et al. 2022): maximal
    // cross-document repeated token spans (>= 8 tokens) via df-capped
    // positioned-anchor groups + constant-diagonal run merging — the
    // repeated-span axis that doc-level hashing and shingle-set
    // jaccard both miss (a license header pasted into two otherwise
    // unrelated documents).
    QueryDef("q_dedup_substring", Family, (s, dir) =>
      Dedup.substringSpans(Tables.documents(s, dir), "doc_id", "text",
        minLen = SubstringMinLen, maxDf = SubstringMaxDf), Some(
      // positioned anchors (same tokenization/hash as the shingle
      // family), occurrence cap, diagonal gaps-and-islands — replays
      // substringSpans stage by stage.
      (substringSpanCtes(SubstringMinLen, SubstringMaxDf) +
        "\nSELECT id_a, id_b, a_start, b_start, span_len FROM sp"))),

    // the ACT half of substring dedup (Lee et al. remove the repeated
    // span from all but the first occurrence): every id_b token
    // position covered by a detected span is dropped, text rebuilt
    // from the kept token stream. Removal volume = matched
    // duplication, never the corpus.
    QueryDef("q_dedup_substring_apply", Family, (s, dir) => {
      val docs = Tables.documents(s, dir)
      val spans = Dedup.substringSpans(docs, "doc_id", "text",
        minLen = SubstringMinLen, maxDf = SubstringMaxDf)
      Dedup.removeDupSpans(docs, "doc_id", "text", spans)
    }, Some(
      // removal replay: explode each id_b span into its covered token
      // positions, anti-join the token table, rebuild the kept stream.
      (substringSpanCtes(SubstringMinLen, SubstringMaxDf) +
        """, rm AS (
          |  SELECT DISTINCT id_b AS doc_id, CAST(p AS INT) AS pos
          |  FROM sp, unnest(range(CAST(b_start AS BIGINT),
          |                        CAST(b_start AS BIGINT) + span_len)) AS u(p)
          |), tk AS (
          |  SELECT doc_id, CAST(i - 1 AS INT) AS pos, ws[CAST(i AS INT)] AS wd
          |  FROM w, unnest(range(1, len(ws) + 1)) AS t(i)
          |), ka AS (
          |  SELECT tk.doc_id, count(*) AS nk,
          |         string_agg(tk.wd, ' ' ORDER BY tk.pos) AS td
          |  FROM tk LEFT JOIN rm ON tk.doc_id = rm.doc_id AND tk.pos = rm.pos
          |  WHERE rm.pos IS NULL
          |  GROUP BY tk.doc_id
          |), nt AS (
          |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens
          |  FROM tk GROUP BY doc_id
          |)
          |SELECT nt.doc_id, nt.n_tokens,
          |       CAST(coalesce(ka.nk, 0) AS BIGINT) AS n_kept,
          |       coalesce(ka.td, '') AS text_dedup
          |FROM nt LEFT JOIN ka ON nt.doc_id = ka.doc_id""".stripMargin))),

    // ---- training-data extension operators (documents/embeddings) ----
    QueryDef("q_dedup_exact", Family, (s, dir) =>
      Dedup.exact(Tables.documents(s, dir), "doc_id", "text"), Some(
      """WITH h AS (SELECT doc_id, md5(lower(trim(text))) AS text_hash FROM documents)
        |SELECT doc_id, text_hash,
        |       min(doc_id) OVER (PARTITION BY text_hash) AS keeper_id,
        |       doc_id <> min(doc_id) OVER (PARTITION BY text_hash) AS is_duplicate
        |FROM h""".stripMargin)),

    // exact n-gram jaccard at t=0.5: the prefix-filtered join returns
    // every pair the full inverted-index self-join finds (lossless
    // candidate pruning), so the oracle stays that quadratic self-join
    QueryDef("q_dedup_ngram", Family, (s, dir) =>
      Dedup.ngramJaccardPrefix(Tables.documents(s, dir), "doc_id", "text",
        k = 2, threshold = 0.5), Some(
      (shingleCte(2) + jaccardTail +
        """
          |SELECT pr.id_a, pr.id_b, pr.inter,
          |       round(pr.inter * 1.0 / (sa.n + sb.n - pr.inter), 6) AS jaccard
          |FROM pr JOIN sz sa ON pr.id_a = sa.doc_id JOIN sz sb ON pr.id_b = sb.doc_id
          |WHERE pr.inter * 1.0 / (sa.n + sb.n - pr.inter) >= 0.5""".stripMargin))),

    // df-capped inverted index: hot shingles (document frequency >
    // maxDf) are dropped from the candidate join — the bound that keeps
    // a hot shingle's df² pair blowup off the scale path — then
    // candidates verify against FULL shingle sets (jaccard stays exact).
    QueryDef("q_dedup_ngram_capped", Family, (s, dir) =>
      Dedup.ngramJaccardCapped(Tables.documents(s, dir), "doc_id", "text",
        k = 2, threshold = 0.5, maxDf = 20), Some(
      (shingleCte(2) +
        """, rare AS (
          |  SELECT shingle FROM sh GROUP BY shingle HAVING count(*) <= 20
          |), ix AS (
          |  SELECT sh.doc_id, sh.shingle FROM sh JOIN rare ON sh.shingle = rare.shingle
          |), cd AS (
          |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
          |  FROM ix a JOIN ix b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
          |), sz AS (
          |  SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id
          |), iv AS (
          |  SELECT cd.id_a, cd.id_b, count(*) AS inter
          |  FROM cd JOIN sh a ON cd.id_a = a.doc_id
          |          JOIN sh b ON cd.id_b = b.doc_id AND a.shingle = b.shingle
          |  GROUP BY cd.id_a, cd.id_b
          |)
          |SELECT iv.id_a, iv.id_b, iv.inter,
          |       round(iv.inter * 1.0 / (sa.n + sb.n - iv.inter), 6) AS jaccard
          |FROM iv JOIN sz sa ON iv.id_a = sa.doc_id JOIN sz sb ON iv.id_b = sb.doc_id
          |WHERE iv.inter * 1.0 / (sa.n + sb.n - iv.inter) >= 0.5""".stripMargin))),

    // prefix-filtered EXACT jaccard: same answer as the exact
    // inverted-index closure at the same threshold (lossless candidate
    // pruning — prefixes of true pairs must collide), but the index
    // holds only each doc's rarest n-⌈t·n⌉+1 shingles. t=0.9 is the
    // operator's intended regime — tight thresholds make the prefix
    // (~n/10) and the positional filter bite: on this corpus's
    // degenerate 31-word vocabulary every bigram is hot, and 0.9 cuts
    // candidates 667k→181k vs 0.8 while near-dup scores cluster >=0.9
    // (254 of the 256 pairs at 0.8 survive). Looser bands are the
    // df-capped/MinHash queries' territory.
    QueryDef("q_dedup_ngram_prefix", Family, (s, dir) =>
      Dedup.ngramJaccardPrefix(Tables.documents(s, dir), "doc_id", "text",
        k = 2, threshold = 0.9), Some(
      // identical by construction to the exact inverted-index closure at
      // t=0.9 — the prefix filter is lossless at its own threshold
      (shingleCte(2) + jaccardTail +
        """
          |SELECT pr.id_a, pr.id_b, pr.inter,
          |       round(pr.inter * 1.0 / (sa.n + sb.n - pr.inter), 6) AS jaccard
          |FROM pr JOIN sz sa ON pr.id_a = sa.doc_id JOIN sz sb ON pr.id_b = sb.doc_id
          |WHERE pr.inter * 1.0 / (sa.n + sb.n - pr.inter) >= 0.9""".stripMargin))),

    QueryDef("q_dedup_minhash", Family, (s, dir) =>
      Dedup.minHashLsh(Tables.documents(s, dir), "doc_id", "text",
        k = 2, numHashes = 12, bands = 6, threshold = 0.5), Some(
      {
      // Kirsch-Mitzenmacher double hashing mirrored from the engine:
      // one md5 of the shingle-hash string -> (h1, h2); sig_i = min(h1
      // + i*h2); band key = arithmetic mix of the row signatures
      val sigs = (0 until 12).map(i =>
        s"min(h1 + $i * h2) AS sig_$i").mkString(",\n         ")
      val bandRows = (0 until 6).map { b =>
        val Seq(p0, p1) = (0 until 2).map(r => s"sig_${b * 2 + r}")
        s"SELECT doc_id, $b AS band, xor(($p0 % ${1L << 61}) * 2, $p1) AS key FROM sg"
      }.mkString("\n  UNION ALL ")
      shingleCte(2) +
        s""", shh AS (
           |  SELECT doc_id,
           |         md5(CAST(CAST(('0x' || substr(md5(shingle), 1, 15)) AS BIGINT) AS VARCHAR)) AS hex
           |  FROM sh
           |), sh2 AS (
           |  SELECT doc_id,
           |         CAST(('0x' || substr(hex, 1, 15)) AS BIGINT) AS h1,
           |         CAST(('0x' || substr(hex, 16, 11)) AS BIGINT) AS h2
           |  FROM shh
           |), sg AS (
           |  SELECT doc_id,
           |         $sigs
           |  FROM sh2 GROUP BY doc_id
           |), bk AS (
           |  $bandRows
           |), cd AS (
           |  SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
           |  FROM bk x JOIN bk y ON x.band = y.band AND x.key = y.key AND x.doc_id < y.doc_id
           |), sz AS (
           |  SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id
           |), iv AS (
           |  SELECT cd.id_a, cd.id_b, count(*) AS inter
           |  FROM cd JOIN sh a ON cd.id_a = a.doc_id
           |          JOIN sh b ON cd.id_b = b.doc_id AND a.shingle = b.shingle
           |  GROUP BY cd.id_a, cd.id_b
           |)
           |SELECT iv.id_a, iv.id_b,
           |       round(iv.inter * 1.0 / (sa.n + sb.n - iv.inter), 6) AS jaccard
           |FROM iv JOIN sz sa ON iv.id_a = sa.doc_id JOIN sz sb ON iv.id_b = sb.doc_id
           |WHERE iv.inter * 1.0 / (sa.n + sb.n - iv.inter) >= 0.5""".stripMargin
    })),

    QueryDef("q_dedup_simhash", Family, (s, dir) =>
      Dedup.simHashPairs(Tables.documents(s, dir), "doc_id", "text", maxDist = 3), Some(
      (s"WITH $simhashCteBody\n" +
        """SELECT id_a, id_b, CAST(bit_count(xor(ha, hb)) AS INT) AS hamming
          |FROM cd WHERE bit_count(xor(ha, hb)) <= 3""".stripMargin))),

    // the skew-guarded twin: hot chunk keys (df > SimhashMaxChunkDf)
    // are pruned from candidate generation map-side, bounding any one
    // band reducer at cap²/2 rows no matter how pathological the
    // corpus. Row-identical to q_dedup_simhash wherever the cap does
    // not bind (it never binds on this corpus — both oracles replay
    // their own form, and the two queries hash-agree at every SF).
    QueryDef("q_dedup_simhash_capped", Family, (s, dir) =>
      Dedup.simHashPairsCapped(Tables.documents(s, dir), "doc_id", "text",
        maxDist = 3, maxChunkDf = SimhashMaxChunkDf), Some(
      // the capped twin replays the df prune itself: per-(chunk, value)
      // counts over ch, keys over the cap dropped before the self-join
      // (cd — the uncapped candidate table — is simply left unused)
      (s"WITH $simhashCteBody, cdf AS (\n" +
        s"""  SELECT c, v, count(*) AS df FROM ch GROUP BY c, v
           |), chc AS (
           |  SELECT ch.doc_id, ch.simhash, ch.c, ch.v
           |  FROM ch JOIN cdf USING (c, v) WHERE cdf.df <= $SimhashMaxChunkDf
           |), cdc AS (
           |  SELECT DISTINCT x.doc_id AS id_a, x.simhash AS ha,
           |                  y.doc_id AS id_b, y.simhash AS hb
           |  FROM chc x JOIN chc y ON x.c = y.c AND x.v = y.v AND x.doc_id < y.doc_id
           |)
           |SELECT id_a, id_b, CAST(bit_count(xor(ha, hb)) AS INT) AS hamming
           |FROM cdc WHERE bit_count(xor(ha, hb)) <= 3""".stripMargin))),

    // pairs -> duplicate clusters: connected components by iterative
    // min-label propagation with pointer doubling (O(log n) rounds of
    // equi-joins); the decision a curation pipeline ships (one keeper
    // per family).
    QueryDef("q_dedup_clusters", Family, (s, dir) => {
      val docs = Tables.documents(s, dir)
      val pairs = Dedup.simHashPairs(docs, "doc_id", "text", maxDist = 3)
      Dedup.dupClusters(docs.select("doc_id"), pairs, "doc_id")
    }, Some(
      // connected components over the simhash pair graph: min reachable
      // id per node via a recursive transitive closure (UNION dedups ->
      // terminates), mirroring the engine's min-label propagation.
      (s"WITH RECURSIVE $simhashCteBody, pr AS (\n" +
        """  SELECT id_a, id_b FROM cd WHERE bit_count(xor(ha, hb)) <= 3
          |), e AS (
          |  SELECT id_a AS a, id_b AS b FROM pr
          |  UNION ALL SELECT id_b, id_a FROM pr
          |), reach(id, r) AS (
          |  SELECT doc_id, doc_id FROM documents
          |  UNION
          |  SELECT e.b, reach.r FROM reach JOIN e ON e.a = reach.id
          |)
          |SELECT id AS doc_id, min(r) AS cluster_id, (min(r) = id) AS is_keeper
          |FROM reach GROUP BY id""".stripMargin))),

    // LINE-level exact dedup (C4/RefinedWeb boilerplate pass): every
    // repeated 10-word segment keeps only its first occurrence
    // (min doc id, then position); docs reassemble from survivors.
    // Scan-local segmentation, one hash shuffle, one doc regroup.
    QueryDef("q_dedup_lines", Family, (s, dir) =>
      TextStats.lineDedup(Tables.documents(s, dir), "doc_id", "text",
        segWords = 10), Some(
      // keep-first is total-ordered (doc_id, seg_id), so the window
      // form is the exact oracle; grouping by seg_text ≡ grouping by
      // md5(seg_text) on the Spark side.
      """WITH tk AS (
        |  SELECT doc_id,
        |         list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
        |                     w -> w <> '') AS ws
        |  FROM documents
        |), segs AS (
        |  SELECT doc_id, g.i AS seg_id,
        |         array_to_string(ws[g.i*10+1 : g.i*10+10], ' ') AS seg_text
        |  FROM tk, unnest(range(0, ((len(ws)-1)//10)+1)) AS g(i)
        |  WHERE len(ws) > 0
        |), k AS (
        |  SELECT doc_id, seg_id, seg_text,
        |         row_number() OVER (PARTITION BY seg_text
        |           ORDER BY doc_id, seg_id) = 1 AS kept
        |  FROM segs
        |), agg AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_segs,
        |         CAST(sum(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |         coalesce(string_agg(CASE WHEN kept THEN seg_text END, ' '
        |           ORDER BY seg_id), '') AS text_dedup
        |  FROM k GROUP BY doc_id
        |)
        |SELECT d.doc_id,
        |       CAST(coalesce(a.n_segs, 0) AS BIGINT) AS n_segs,
        |       CAST(coalesce(a.n_kept, 0) AS BIGINT) AS n_kept,
        |       coalesce(a.text_dedup, '') AS text_dedup
        |FROM documents d LEFT JOIN agg a ON d.doc_id = a.doc_id""".stripMargin)),

    // train/test decontamination: training docs sharing >= 2 distinct
    // 3-shingles with any benchmark doc (deterministic mod-29 split
    // stands in for the eval suite).
    QueryDef("q_decontaminate", Family, (s, dir) => {
      val docs = Tables.documents(s, dir)
      Dedup.decontaminate(
        docs.filter(col("doc_id") % 29 =!= 0),
        docs.filter(col("doc_id") % 29 === 0),
        "doc_id", "text", k = 3, minShared = 2)
    }, Some(
      (shingleCte(3) +
        """, hh AS (
          |  SELECT doc_id, CAST(('0x' || substr(md5(shingle), 1, 15)) AS BIGINT) AS h FROM sh
          |), tr AS (SELECT DISTINCT doc_id, h FROM hh WHERE doc_id % 29 <> 0),
          |   be AS (SELECT DISTINCT doc_id AS bench_id, h FROM hh WHERE doc_id % 29 = 0)
          |SELECT tr.doc_id, be.bench_id, count(*) AS shared
          |FROM tr JOIN be ON tr.h = be.h
          |GROUP BY tr.doc_id, be.bench_id
          |HAVING count(*) >= 2""".stripMargin))),

    // bloom-guarded decontamination: identical split, contract and
    // ORACLE as q_decontaminate — the broadcast Bloom prefilter prunes
    // the corpus map-side before the verify join; false positives only
    // waste probes, so the output is exact.
    QueryDef("q_decontaminate_bloom", Family, (s, dir) => {
      val docs = Tables.documents(s, dir)
      Dedup.decontaminateBloom(
        docs.filter(col("doc_id") % 29 =!= 0),
        docs.filter(col("doc_id") % 29 === 0),
        "doc_id", "text", k = 3, minShared = 2, fpp = 0.01)
    }, Some(
      // the bloom-prefiltered variant is EXACT (false positives only
      // waste verify probes) — same oracle as q_decontaminate
      (shingleCte(3) +
        """, hh AS (
          |  SELECT doc_id, CAST(('0x' || substr(md5(shingle), 1, 15)) AS BIGINT) AS h FROM sh
          |), tr AS (SELECT DISTINCT doc_id, h FROM hh WHERE doc_id % 29 <> 0),
          |   be AS (SELECT DISTINCT doc_id AS bench_id, h FROM hh WHERE doc_id % 29 = 0)
          |SELECT tr.doc_id, be.bench_id, count(*) AS shared
          |FROM tr JOIN be ON tr.h = be.h
          |GROUP BY tr.doc_id, be.bench_id
          |HAVING count(*) >= 2""".stripMargin))),

    // cluster -> corpus decision: one representative per duplicate
    // cluster (longest text, ties to the smallest id), rest dropped.
    QueryDef("q_dedup_keep", Family, (s, dir) => {
      val docs = Tables.documents(s, dir)
      val pairs = Dedup.simHashPairs(docs, "doc_id", "text", maxDist = 3)
      val clusters = Dedup.dupClusters(docs.select("doc_id"), pairs, "doc_id")
      Dedup.selectRepresentatives(clusters, docs, "doc_id", col("n_chars"))
    }, Some(
      (s"WITH RECURSIVE $simhashCteBody, pr AS (\n" +
        """  SELECT id_a, id_b FROM cd WHERE bit_count(xor(ha, hb)) <= 3
          |), e AS (
          |  SELECT id_a AS a, id_b AS b FROM pr
          |  UNION ALL SELECT id_b, id_a FROM pr
          |), reach(id, r) AS (
          |  SELECT doc_id, doc_id FROM documents
          |  UNION
          |  SELECT e.b, reach.r FROM reach JOIN e ON e.a = reach.id
          |), cl AS (
          |  SELECT id AS doc_id, min(r) AS cluster_id FROM reach GROUP BY id
          |)
          |SELECT cl.doc_id, cl.cluster_id,
          |       count(*) OVER (PARTITION BY cl.cluster_id) AS n_members,
          |       (row_number() OVER (PARTITION BY cl.cluster_id
          |                           ORDER BY d.n_chars DESC, cl.doc_id ASC) = 1)
          |         AS keep
          |FROM cl JOIN documents d ON cl.doc_id = d.doc_id""".stripMargin))),

    // asymmetric containment (inter / min-set): catches short-in-long
    // embeddings symmetric jaccard dilutes; df-capped candidates.
    QueryDef("q_containment", Family, (s, dir) =>
      Dedup.containmentPairs(Tables.documents(s, dir), "doc_id", "text",
        k = 2, threshold = 0.8, maxDf = 20), Some(
      (shingleCte(2) +
        """, rare AS (
          |  SELECT shingle FROM sh GROUP BY shingle HAVING count(*) <= 20
          |), ix AS (
          |  SELECT sh.doc_id, sh.shingle FROM sh JOIN rare ON sh.shingle = rare.shingle
          |), cd AS (
          |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
          |  FROM ix a JOIN ix b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
          |), sz AS (
          |  SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id
          |), iv AS (
          |  SELECT cd.id_a, cd.id_b, count(*) AS inter
          |  FROM cd JOIN sh a ON cd.id_a = a.doc_id
          |          JOIN sh b ON cd.id_b = b.doc_id AND a.shingle = b.shingle
          |  GROUP BY cd.id_a, cd.id_b
          |)
          |SELECT iv.id_a, iv.id_b, iv.inter,
          |       round(iv.inter * 1.0 / least(sa.n, sb.n), 6) AS containment
          |FROM iv JOIN sz sa ON iv.id_a = sa.doc_id JOIN sz sb ON iv.id_b = sb.doc_id
          |WHERE iv.inter * 1.0 / least(sa.n, sb.n) >= 0.8""".stripMargin)))
  )
}
