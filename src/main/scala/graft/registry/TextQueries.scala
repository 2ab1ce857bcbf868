package graft
package registry

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.ext.TextStats
import graft.sources.Tables

import Shared._

/** Text curation queries: tokenization, quality and language
  * filters, PII and domain audits, language-model scoring, the
  * trained quality classifier, BPE, sketches and packing.
  */
object TextQueries {
  private val Family = "text"

  /** The q_pii seeding: plants a deterministic email on every doc and
    * doc_id-dependent phone/IPv4/account-run subsets, IDENTICALLY to
    * the oracle's seeded CTE (shared by q_pii and q_keep_score).
    */
  private def piiSeed(docs: DataFrame): DataFrame = {
    val d = col("doc_id")
    docs.withColumn("text",
      concat(col("text"),
        lit(" u"), d, lit("@ex"), d % 5, lit(".org"),
        when(d % 3 === 0, concat(lit(" "), (d % 900 + 100).cast("string"),
          lit("-555-"), lpad((d % 10000).cast("string"), 4, "0")))
          .otherwise(lit("")),
        when(d % 4 === 0, concat(lit(" 10."), (d % 256).cast("string"),
          lit(".0."), ((d * 7) % 256).cast("string")))
          .otherwise(lit("")),
        when(d % 5 === 0, concat(lit(" acct "),
          lpad(d.cast("string"), 12, "0"))).otherwise(lit(""))))
  }

  /** The q_domains seeding: one site URL per doc plus doc_id-dependent
    * CDN/blocklisted/repeat URLs, identically to the oracle's seeded
    * CTE (shared by q_domains, q_domains_join and q_keep_score).
    */
  private def domainSeed(docs: DataFrame): DataFrame = {
    val d = col("doc_id")
    docs.withColumn("text",
      concat(col("text"),
        lit(" see https://site"), d % 7, lit(".example.com/p/"), d,
        when(d % 3 === 0, concat(lit(" and http://cdn"),
          (d % 4).cast("string"), lit(".example.net/x"))).otherwise(lit("")),
        when(d % 11 === 0, concat(lit(" via https://bad"),
          (d % 2).cast("string"), lit(".spam.io/z"))).otherwise(lit("")),
        when(d % 6 === 0, concat(lit(" again https://site"),
          (d % 7).cast("string"), lit(".example.com/q"))).otherwise(lit(""))))
  }

  private val DomainBlocklist = Seq("bad0.spam.io", "bad1.spam.io")

  /** The ONE (dims, iters) pair for the trained quality classifier —
    * shared by the three q_quality_* Spark entries and the oracle CTE
    * generator. Seed slice = doc_id % 3 == 0 (the "hand-labeled" third;
    * eval runs on the held-out two thirds).
    */
  private val QualityClfDims = 32
  private val QualityClfIters = 6
  private def qualityClfSeed(docs: DataFrame): DataFrame =
    docs.filter(pmod(col("doc_id"), lit(3)) === 0)

  /** The ONE (depth, width, topK) triple for the count-min sketch
    * audit — shared by the Spark entry and the oracle SQL generator so
    * the two sides cannot drift.
    */
  private val CmsDepth = 4
  private val CmsWidth = 256
  private val CmsTopK = 30

  /** The ONE BPE merge-round count — shared by the four q_bpe_*
    * Spark entries and the unrolled-training oracle CTE generator
    * ([[bpeTrainCtes]]) so the two sides cannot drift.
    */
  private val BpeNumMerges = 12

  /** The ONE (batch, candidate-cap) pair for the batched BPE trainer
    * — shared by the q_bpe_train_batched entry and its oracle generator
    * so the greedy-selection geometry cannot drift. 12 merges in 3
    * rounds of 4 (vs trainBpe's 12 rounds of 1).
    */
  private val BpeBatchSize = 4
  private val BpeCandCap = 16

  /** The ONE per-JVM BPE-artifact scratch dir for q_bpe_apply's
    * store→load round trip: created ONCE per JVM (lazy), overwritten
    * by every run (mode("overwrite")) — repeated bench reps reuse one
    * bounded dir instead of leaking a fresh temp dir per invocation,
    * while createTempDirectory keeps concurrent JVMs isolated (a
    * fixed shared /tmp name would let one process overwrite the
    * parquet another is mid-read on). A shutdown hook deletes the
    * dir on JVM exit (it is bounded but was never reclaimed), and
    * same-JVM invocations serialize the write→read round trip on
    * [[bpeArtifactLock]] — two concurrent q_bpe_apply runs would
    * otherwise race one's overwrite against the other's mid-read.
    */
  private val bpeArtifactLock = new Object
  private lazy val bpeArtifactDir: String = {
    val p = java.nio.file.Files.createTempDirectory("graft_bpe_artifact")
    sys.addShutdownHook {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm))
        f.delete(): Unit
      }
      rm(p.toFile)
    }
    p.toString
  }

  /** The FOUR deterministic "dirty" Unicode suffixes for the NFC
    * normalization query, chosen by doc_id % 4 identically in the
    * Spark entry and the oracle SQL (the corpus itself is ASCII, so
    * the non-ASCII surface is synthesized): a decomposed pair
    * (composition e+◌́→é), an out-of-order combining sequence (acute
    * cc=230 written BEFORE cedilla cc=202 — canonical reordering then
    * composition), a compatibility ligature (ﬁ is NFC-invariant; only
    * NFKC folds it — the spec covers that form), and the empty suffix
    * (the already-normalized fast path).
    */
  private val UnicodeSuffixes = Seq(
    " café",
    " ȩ́ Ångström",
    " ﬁle",
    "")

  /** SQL twins of the Scala seed/signal helpers — ONE definition per
    * seed expression and per signal chain, interpolated into every
    * oracle that uses it (q_pii, q_domains, q_domains_join,
    * q_keep_score, q_lm_score), so a regex or seed edit cannot
    * silently desynchronize the composite's oracle from the
    * standalone ones (the same reason the Scala side has
    * piiSeed/domainSeed).
    */
  private val piiEmailSql = """[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}"""
  private val piiPhoneSql = """\+?[0-9]{3}-[0-9]{3}-[0-9]{4}"""
  private val piiIpv4Sql = """\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b"""
  private val piiIdRunSql = "[0-9]{9,}"

  /** The q_pii seeded-documents CTE (named `name`). */
  private def piiSeedCte(name: String): String =
    s"""$name AS (
       |  SELECT doc_id,
       |         text || ' u' || doc_id || '@ex' || (doc_id % 5) || '.org' ||
       |         CASE WHEN doc_id % 3 = 0
       |              THEN ' ' || (doc_id % 900 + 100) || '-555-' ||
       |                   lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
       |              ELSE '' END ||
       |         CASE WHEN doc_id % 4 = 0
       |              THEN ' 10.' || (doc_id % 256) || '.0.' || ((doc_id * 7) % 256)
       |              ELSE '' END ||
       |         CASE WHEN doc_id % 5 = 0
       |              THEN ' acct ' || lpad(CAST(doc_id AS VARCHAR), 12, '0')
       |              ELSE '' END AS text
       |  FROM documents
       |)""".stripMargin

  /** The staged pii redaction chain over seed CTE `seed`; emits
    * `${p}s1/${p}s2/${p}s3` with r1/r2/r3 columns.
    */
  private def piiChainCtes(seed: String, p: String): String =
    s"""${p}s1 AS (
       |  SELECT doc_id, text,
       |         regexp_replace(text,
       |           '$piiEmailSql',
       |           '<EMAIL>', 'g') AS r1
       |  FROM $seed
       |), ${p}s2 AS (
       |  SELECT *, regexp_replace(r1, '$piiPhoneSql',
       |                           '<PHONE>', 'g') AS r2
       |  FROM ${p}s1
       |), ${p}s3 AS (
       |  SELECT *, regexp_replace(r2,
       |    '$piiIpv4Sql',
       |    '<IP>', 'g') AS r3
       |  FROM ${p}s2
       |)""".stripMargin

  /** The four staged audit-count columns over a `${p}s3` row. */
  private def piiCountCols: String =
    s"""CAST(len(regexp_extract_all(text, '$piiEmailSql')) AS INT) AS n_emails,
       |       CAST(len(regexp_extract_all(r1, '$piiPhoneSql')) AS INT) AS n_phones,
       |       CAST(len(regexp_extract_all(r2, '$piiIpv4Sql')) AS INT) AS n_ips,
       |       CAST(len(regexp_extract_all(r3, '$piiIdRunSql')) AS INT) AS n_id_runs""".stripMargin

  /** The q_domains seeded-documents CTE (named `name`). */
  private def domainSeedCte(name: String): String =
    s"""$name AS (
       |  SELECT doc_id,
       |         text || ' see https://site' || (doc_id % 7) || '.example.com/p/' || doc_id ||
       |         CASE WHEN doc_id % 3 = 0
       |              THEN ' and http://cdn' || (doc_id % 4) || '.example.net/x'
       |              ELSE '' END ||
       |         CASE WHEN doc_id % 11 = 0
       |              THEN ' via https://bad' || (doc_id % 2) || '.spam.io/z'
       |              ELSE '' END ||
       |         CASE WHEN doc_id % 6 = 0
       |              THEN ' again https://site' || (doc_id % 7) || '.example.com/q'
       |              ELSE '' END AS text
       |  FROM documents
       |)""".stripMargin

  /** The bigram-LM scoring chain (q_lm_score's model + per-doc
    * aggregate), CTE names prefixed with `p`; ends at `${p}agg`
    * (doc_id, sb, n_tokens, n_oov).
    */
  private def lmCtes(p: String): String =
    s"""${p}arr AS (
       |  SELECT doc_id, source,
       |         list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'),
       |                     x -> x <> '') AS ws
       |  FROM documents
       |), ${p}refw AS (
       |  SELECT unnest(ws) AS w FROM ${p}arr WHERE source = 'src0'
       |), ${p}uni AS (
       |  SELECT w, count(*) AS cu FROM ${p}refw GROUP BY 1
       |), ${p}tot AS (
       |  SELECT CAST(sum(cu) AS BIGINT) AS n, count(*) AS v FROM ${p}uni
       |), ${p}bi AS (
       |  SELECT w1, w2, count(*) AS cb FROM (
       |    SELECT doc_id, unnest(ws[1:len(ws)-1]) AS w1, unnest(ws[2:len(ws)]) AS w2
       |    FROM ${p}arr WHERE source = 'src0' AND len(ws) >= 2
       |  ) GROUP BY 1, 2
       |), ${p}terms AS (
       |  SELECT doc_id, CAST(NULL AS VARCHAR) AS w1, ws[1] AS w2
       |  FROM ${p}arr WHERE len(ws) >= 1
       |  UNION ALL
       |  SELECT doc_id, w1, w2 FROM (
       |    SELECT doc_id, unnest(ws[1:len(ws)-1]) AS w1, unnest(ws[2:len(ws)]) AS w2
       |    FROM ${p}arr WHERE len(ws) >= 2)
       |), ${p}scored AS (
       |  SELECT t.doc_id, u2.cu AS cu2,
       |         CASE WHEN t.w1 IS NULL
       |              THEN (coalesce(u2.cu, 0) + 1) * 1.0 / (${p}tot.n + ${p}tot.v)
       |              ELSE 0.9 * (CASE WHEN u1.cu IS NOT NULL
       |                               THEN coalesce(b.cb, 0) * 1.0 / u1.cu
       |                               ELSE 0.0 END)
       |                   + (1.0 - 0.9) *
       |                     ((coalesce(u2.cu, 0) + 1) * 1.0 / (${p}tot.n + ${p}tot.v))
       |         END AS p
       |  FROM ${p}terms t
       |  LEFT JOIN ${p}uni u2 ON t.w2 = u2.w
       |  LEFT JOIN ${p}uni u1 ON t.w1 = u1.w
       |  LEFT JOIN ${p}bi b ON t.w1 = b.w1 AND t.w2 = b.w2
       |  CROSS JOIN ${p}tot
       |), ${p}agg AS (
       |  SELECT doc_id,
       |         sum(CAST(round(-log2(p), 9) AS DECIMAL(38,9))) AS sb,
       |         count(*) AS n_tokens,
       |         CAST(sum(CASE WHEN cu2 IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov
       |  FROM ${p}scored GROUP BY 1
       |)""".stripMargin

  /** Oracle CTE chain for the trained quality classifier — replays
    * classifierFeatures + clfTrainWeights ITERATION BY ITERATION so
    * Spark and DuckDB walk the identical integer fixed-point weight
    * trajectory (the robustFitSql pattern, diagonal-Newton instead of
    * 2x2 Cramer). Base tables: qya/qfa = full-corpus labels/hashed
    * count features, qys/qfs = the doc_id%3==0 seed slice training
    * reads; ends in qw$iters (1-row weight list; wl[dims+1] = bias).
    * Every CTE is AS MATERIALIZED: the chain is self-referential and
    * DuckDB's default inlining would re-expand it exponentially.
    */
  private def qualityClfCtes(dims: Int, iters: Int): String = {
    val wl0 = List.fill(dims + 1)("CAST(0 AS BIGINT)").mkString("[", ", ", "]")
    val sb = new StringBuilder
    sb ++=
      s"""WITH qtk AS MATERIALIZED (
         |  SELECT doc_id,
         |         unnest(list_filter(string_split_regex(lower(trim(text)), '\\s+'),
         |                            x -> x <> '')) AS w
         |  FROM documents
         |), qya AS MATERIALIZED (
         |  SELECT doc_id,
         |         CASE WHEN 16 * sum(CASE WHEN w IN ('the','a','of','and','in') THEN 1 ELSE 0 END)
         |                   >= count(*) THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END AS y
         |  FROM qtk GROUP BY doc_id
         |), qfa AS MATERIALIZED (
         |  SELECT doc_id, CAST(('0x' || substr(md5(w),1,15)) AS BIGINT) % $dims AS b,
         |         CAST(count(*) AS BIGINT) AS c
         |  FROM qtk GROUP BY doc_id, b
         |), qys AS MATERIALIZED (SELECT * FROM qya WHERE doc_id % 3 = 0
         |), qfs AS MATERIALIZED (SELECT * FROM qfa WHERE doc_id % 3 = 0
         |), qw0 AS MATERIALIZED (SELECT $wl0 AS wl)""".stripMargin
    for (k <- 1 to iters) {
      val gh = (0 until dims).map(j =>
        s"sum(CASE WHEN f.b = $j THEN h.r * f.c ELSE CAST(0 AS BIGINT) END) AS g$j, " +
          s"sum(CASE WHEN f.b = $j THEN h.hq * f.c * f.c ELSE CAST(0 AS BIGINT) END) AS h$j")
        .mkString(",\n         ")
      val upd = (0 until dims).map(j =>
        s"wl[${j + 1}] + (CASE WHEN h$j > 0 THEN CAST(round((1000000.0 * CAST(g$j AS DOUBLE)) / (8.0 * CAST(h$j AS DOUBLE))) AS BIGINT) ELSE CAST(0 AS BIGINT) END)")
        .mkString(",\n          ")
      sb ++=
        s""", qz$k AS MATERIALIZED (
           |  SELECT f.doc_id, sum(wl[f.b + 1] * f.c) + min(wl[${dims + 1}]) AS zm
           |  FROM qfs f, qw${k - 1} GROUP BY f.doc_id
           |), qp$k AS MATERIALIZED (
           |  SELECT z.doc_id, y.y, ${qualityClfPqSql("z.zm")} AS pq
           |  FROM qz$k z JOIN qys y USING (doc_id)
           |), qh$k AS MATERIALIZED (
           |  SELECT doc_id, y * 1000000 - pq AS r,
           |         CAST(round(CAST(pq * (1000000 - pq) AS DOUBLE) / 1000000.0) AS BIGINT) AS hq
           |  FROM qp$k
           |), qg$k AS MATERIALIZED (
           |  SELECT $gh
           |  FROM qfs f JOIN qh$k h USING (doc_id)
           |), qb$k AS MATERIALIZED (SELECT sum(r) AS gb, sum(hq) AS hb FROM qh$k
           |), qw$k AS MATERIALIZED (
           |  SELECT [$upd,
           |          wl[${dims + 1}] + (CASE WHEN hb > 0 THEN CAST(round((1000000.0 * CAST(gb AS DOUBLE)) / (8.0 * CAST(hb AS DOUBLE))) AS BIGINT) ELSE CAST(0 AS BIGINT) END)] AS wl
           |  FROM qw${k - 1}, qg$k, qb$k
           |)""".stripMargin
    }
    sb.toString
  }

  /** clfPq mirror: micro-unit sigma with the INTEGER +-30e6 clamp. */
  private def qualityClfPqSql(zm: String): String =
    s"""CASE WHEN $zm >= 30000000 THEN CAST(1000000 AS BIGINT)
       |              WHEN $zm <= -30000000 THEN CAST(0 AS BIGINT)
       |              ELSE CAST(round(1000000.0 / (1.0 + exp(-(CAST($zm AS DOUBLE) / 1000000.0)))) AS BIGINT) END""".stripMargin

  /** Shared full-corpus scoring CTE (qzf) for the apply/eval tails. */
  private def qualityClfScoreCte(dims: Int, iters: Int): String =
    s""", qzf AS (
       |  SELECT f.doc_id, sum(wl[f.b + 1] * f.c) + min(wl[${dims + 1}]) AS zm
       |  FROM qfa f, qw$iters GROUP BY f.doc_id
       |)""".stripMargin

  /** Unrolled BPE-training CTE chain — the oracle for q_bpe_train and
    * q_bpe_encode, which were no_oracle rows through round 11 under an
    * "iterative argmax training is not SQL-expressible" contract. It
    * IS expressible once the round count is a compile-time constant:
    * each of the `numMerges` rounds unrolls to two CTEs —
    *   p_k: the round's winning pair (adjacent-pair weights off the
    *        current vocab symbol table; HAVING sum(wt) >= 2 mirrors
    *        the "a pair seen once compresses nothing" stop; ORDER BY
    *        w DESC, l ASC, r ASC is trainBpe's total tie order —
    *        pure integer weights + binary string order, so the
    *        argmax is bit-portable), and
    *   v_k: the vocab table with that merge applied, a list_reduce
    *        fold identical in shape to trainBpe's `aggregate` greedy
    *        left-to-right merge (merged = left||right is strictly
    *        longer than left, so a freshly-merged symbol can never
    *        chain into an overlapping second merge — the fold IS the
    *        non-overlapping scan). A LEFT JOIN ON TRUE against the
    *        0-or-1-row p_k makes exhausted rounds (early stop) pass
    *        symbols through unchanged, matching trainBpe's `done`.
    * Every CTE is MATERIALIZED: v_k is referenced twice (p_{k+1} and
    * v_{k+1}), so default inlining would expand the chain 2^rounds.
    * The final v_N doubles as the ENCODE oracle: applying merges
    * 1..N in rank order to the vocab is exactly the replay that
    * BpeSpec pins equivalent to encodeBpe's lowest-rank-first loop,
    * so len(syms) of v_N is each word's BPE token count.
    * Rounds run on the DISTINCT-WORD table (the same vocab trick as
    * trainBpe) — the corpus is tokenized once in `w`.
    */
  private def bpeTrainCtes(numMerges: Int): String = {
    val rounds = (1 to numMerges).map { k =>
      s"""|, p$k AS MATERIALIZED (
          |  SELECT p.l AS l, p.r AS r, CAST(sum(wt) AS BIGINT) AS w
          |  FROM (SELECT wt, unnest(list_transform(range(1, len(syms)), i ->
          |          {'l': syms[CAST(i AS INT)], 'r': syms[CAST(i AS INT)+1]})) AS p
          |        FROM v${k - 1} WHERE len(syms) > 1) z
          |  GROUP BY 1, 2 HAVING sum(wt) >= 2
          |  ORDER BY w DESC, l ASC, r ASC LIMIT 1
          |), v$k AS MATERIALIZED (
          |  SELECT word, CASE WHEN m.l IS NULL OR len(syms) < 2 THEN syms
          |         ELSE list_reduce(list_transform(syms, s -> [s]),
          |           (acc, x) -> CASE WHEN acc[-1] = m.l AND x[1] = m.r
          |             THEN list_slice(acc, 1, len(acc)-1) || [m.l || m.r]
          |             ELSE acc || x END) END AS syms, wt
          |  FROM v${k - 1} LEFT JOIN p$k m ON TRUE
          |)""".stripMargin
    }.mkString("\n")
    s"""|WITH w AS (
        |  SELECT doc_id,
        |         unnest(list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'),
        |                            x -> x <> '')) AS word
        |  FROM documents
        |), v0 AS MATERIALIZED (
        |  SELECT word,
        |         list_transform(range(1, length(word)+1),
        |                        i -> substring(word, CAST(i AS INT), 1)) AS syms,
        |         CAST(count(*) AS BIGINT) AS wt
        |  FROM w GROUP BY word
        |)$rounds""".stripMargin
  }

  /** Unrolled replay of [[graft.ext.TextStats.trainBpeBatched]]: per
    * round a MATERIALIZED ordered candidate table (same tie order as
    * the engine collect), the greedy symbol-disjoint selection as
    * `batchSize` unrolled LIMIT-1 steps (each picks the best
    * candidate sharing no symbol with earlier picks — plain SQL, no
    * lambdas: DuckDB 1.0's list_reduce miscomputes accumulator
    * fields that feed the same call as element-bound values), and
    * one simultaneous replacement fold matching ANY picked pair.
    * Emits bv0…bvR and bs1…bsR(l, r, w, ord); the caller unions the
    * picks into the rank table.
    */
  private def bpeBatchedCtes(numMerges: Int, batchSize: Int,
      candCap: Int): String = {
    val rounds = numMerges / batchSize
    val roundCtes = (1 to rounds).map { k =>
      val steps = (1 to batchSize).map { s =>
        val prior = (1 until s).map(p => s"SELECT l, r FROM bs${k}_$p")
          .mkString(" UNION ALL ")
        val disjoint =
          if (s == 1) ""
          else
            s"""|  WHERE NOT EXISTS (
                |    SELECT 1 FROM ($prior) p
                |    WHERE p.l IN (c.l, c.r) OR p.r IN (c.l, c.r))
                |""".stripMargin
        s"""|, bs${k}_$s AS MATERIALIZED (
            |  SELECT c.l, c.r, c.w, $s AS ord FROM bq$k c
            |$disjoint  ORDER BY c.w DESC, c.l ASC, c.r ASC LIMIT 1
            |)""".stripMargin
      }.mkString("\n")
      val union = (1 to batchSize).map(s => s"SELECT * FROM bs${k}_$s")
        .mkString("\n  UNION ALL ")
      s"""|, bq$k AS MATERIALIZED (
          |  SELECT p.l AS l, p.r AS r, CAST(sum(wt) AS BIGINT) AS w
          |  FROM (SELECT wt, unnest(list_transform(range(1, len(syms)), i ->
          |          {'l': syms[CAST(i AS INT)], 'r': syms[CAST(i AS INT)+1]})) AS p
          |        FROM bv${k - 1} WHERE len(syms) > 1) z
          |  GROUP BY 1, 2 HAVING sum(wt) >= 2
          |  ORDER BY w DESC, l ASC, r ASC LIMIT $candCap
          |)$steps
          |, bs$k AS MATERIALIZED (
          |  $union
          |), bv$k AS MATERIALIZED (
          |  SELECT CASE WHEN pk.pl IS NULL OR len(pk.pl) = 0 OR len(syms) < 2 THEN syms
          |         ELSE list_reduce(list_transform(syms, s -> [s]),
          |           (acc, x) -> CASE WHEN list_contains(pk.pl, [acc[-1], x[1]])
          |             THEN list_slice(acc, 1, len(acc)-1) || [acc[-1] || x[1]]
          |             ELSE acc || x END) END AS syms, wt
          |  FROM bv${k - 1} LEFT JOIN
          |    (SELECT list([l, r]) AS pl FROM bs$k) pk ON TRUE
          |)""".stripMargin
    }.mkString("\n")
    s"""|WITH w AS (
        |  SELECT doc_id,
        |         unnest(list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'),
        |                            x -> x <> '')) AS word
        |  FROM documents
        |), bv0 AS MATERIALIZED (
        |  SELECT list_transform(range(1, length(word)+1),
        |                        i -> substring(word, CAST(i AS INT), 1)) AS syms,
        |         CAST(count(*) AS BIGINT) AS wt
        |  FROM w GROUP BY word
        |)$roundCtes""".stripMargin
  }

  val defs: Seq[QueryDef] = Seq(
    // TF-IDF-family distinctive terms: top-5 per doc by the
    // integer-exact (tf desc, df asc, term asc) comparator — the
    // ranking tf·idf induces, without a transcendental score column.
    QueryDef("q_tfidf", Family, (s, dir) =>
      TextStats.distinctiveTerms(Tables.documents(s, dir), "doc_id",
        "text", k = 5), Some(
      """WITH w AS (
        |  SELECT doc_id,
        |         unnest(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
        |                            x -> x <> '')) AS term
        |  FROM documents
        |), tf AS (
        |  SELECT doc_id, term, count(*) AS tf FROM w GROUP BY 1, 2
        |), dfq AS (
        |  SELECT term, count(*) AS df_docs FROM tf GROUP BY 1
        |), r AS (
        |  SELECT tf.doc_id, tf.term, tf.tf, dfq.df_docs,
        |         row_number() OVER (PARTITION BY tf.doc_id
        |           ORDER BY tf.tf DESC, dfq.df_docs ASC, tf.term ASC) AS rn
        |  FROM tf JOIN dfq USING (term)
        |)
        |SELECT doc_id, term, tf, df_docs, CAST(rn AS INT) AS term_rank
        |FROM r WHERE rn <= 5""".stripMargin)),

    // document-frequency vocabulary cut: drop df<2 (noise) and df>250
    // (corpus stopwords at this SF), report per-doc retained mass.
    QueryDef("q_vocab_prune", Family, (s, dir) =>
      TextStats.pruneVocabulary(Tables.documents(s, dir), "doc_id",
        "text", minDf = 2L, maxDf = 250L), Some(
      """WITH w AS (
        |  SELECT doc_id,
        |         unnest(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
        |                            x -> x <> '')) AS term
        |  FROM documents
        |), tf AS (
        |  SELECT doc_id, term, count(*) AS tf FROM w GROUP BY 1, 2
        |), band AS (
        |  SELECT term FROM tf GROUP BY term
        |  HAVING count(*) >= 2 AND count(*) <= 250
        |), kept AS (
        |  SELECT doc_id, count(*) AS n_terms_kept,
        |         CAST(sum(tf) AS BIGINT) AS n_tokens_kept
        |  FROM tf JOIN band USING (term) GROUP BY 1
        |)
        |SELECT t.doc_id, count(*) AS n_terms_total,
        |       CAST(sum(t.tf) AS BIGINT) AS n_tokens_total,
        |       coalesce(any_value(k.n_terms_kept), 0) AS n_terms_kept,
        |       coalesce(any_value(k.n_tokens_kept), 0) AS n_tokens_kept
        |FROM tf t LEFT JOIN kept k USING (doc_id)
        |GROUP BY t.doc_id""".stripMargin)),

    // cleanText's masking path under oracle: the synthetic corpus
    // carries no markup/emails/URLs, so q_text_clean's oracle only
    // ever pins the identity path. This query plants a deterministic
    // contact line (tag + email + URL) on 2/3 of the docs
    // (doc_id % 3 != 0) IDENTICALLY on both sides, so the redaction
    // regexes are compared cross-engine on text that actually matches;
    // the untouched third keeps pinning the identity path.
    QueryDef("q_clean_seeded", Family, (s, dir) => {
      val seeded = Tables.documents(s, dir).withColumn("text",
        when(pmod(col("doc_id"), lit(3)) === 0, col("text"))
          .otherwise(concat(col("text"), lit(" <b>contact</b> user"),
            col("doc_id"), lit("@example.com or https://ex.org/d/"),
            col("doc_id"))))
      TextStats.cleanText(seeded, "doc_id", "text")
    }, Some(
      """WITH d AS (
        |  SELECT doc_id,
        |         CASE WHEN doc_id % 3 = 0 THEN text
        |              ELSE text || ' <b>contact</b> user' || doc_id ||
        |                   '@example.com or https://ex.org/d/' || doc_id
        |         END AS text
        |  FROM documents
        |), c AS (
        |  SELECT doc_id, text,
        |         trim(regexp_replace(regexp_replace(regexp_replace(regexp_replace(text,
        |           '<[^>]*>', ' ', 'g'),
        |           '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}', '<EMAIL>', 'g'),
        |           'https?://[^\s]+', '<URL>', 'g'),
        |           '\s+', ' ', 'g')) AS clean_text
        |  FROM d
        |)
        |SELECT doc_id, clean_text, CAST(length(clean_text) AS INT) AS n_chars_clean,
        |       CAST(len(regexp_extract_all(text, '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}')) AS INT) AS n_emails,
        |       CAST(len(regexp_extract_all(text, 'https?://[^\s]+')) AS INT) AS n_urls
        |FROM c""".stripMargin)),

    // PII scrub under oracle: the synthetic corpus carries no PII, so
    // (exactly like q_clean_seeded) each doc is planted with a
    // deterministic email, and doc_id-dependent subsets get a phone
    // (id%3=0), an IPv4 (id%4=0) and a 12-digit account run (id%5=0)
    // IDENTICALLY on both sides — all four redaction regexes and all
    // four audit counters are compared cross-engine on text that
    // actually matches, at varying per-doc combinations.
    QueryDef("q_pii", Family, (s, dir) =>
      TextStats.piiRedact(piiSeed(Tables.documents(s, dir)), "doc_id", "text"), Some(
      (s"""WITH ${piiSeedCte("d")}
         |, ${piiChainCtes("d", "")}
         |SELECT doc_id,
         |       regexp_replace(r3, '$piiIdRunSql', '<ID>', 'g') AS pii_text,
         |       $piiCountCols
         |FROM s3""".stripMargin))),

    // URL/domain blocklist filter, seeded identically on both sides:
    // every doc cites one site<k>.example.com URL, thirds add a CDN
    // URL, id%6 repeats the first domain (distinct-vs-total check),
    // and id%11 plants a blocklisted spam.io domain.
    QueryDef("q_domains", Family, (s, dir) =>
      TextStats.domainStats(domainSeed(Tables.documents(s, dir)), "doc_id",
        "text", blocklist = DomainBlocklist), Some(
      (s"""WITH ${domainSeedCte("d")}, h AS (
        |  SELECT doc_id,
        |         regexp_extract_all(lower(text), 'https?://([a-zA-Z0-9.-]+)', 1) AS hosts
        |  FROM d
        |)
        |SELECT doc_id,
        |       CAST(len(hosts) AS INT) AS n_urls,
        |       CAST(len(list_distinct(hosts)) AS INT) AS n_domains,
        |       array_to_string(list_sort(list_distinct(hosts)), ',') AS domains_csv,
        |       len(list_intersect(hosts, ['bad0.spam.io', 'bad1.spam.io'])) > 0 AS blocked
        |FROM h""".stripMargin))),

    // the table-driven blocklist escalation, on the same seeded URLs
    // as q_domains: identical output contract via an exploded-host
    // broadcast semi-join instead of the in-expression literal array.
    QueryDef("q_domains_join", Family, (s, dir) => {
      import s.implicits._
      TextStats.domainStatsJoin(domainSeed(Tables.documents(s, dir)),
        "doc_id", "text", DomainBlocklist.toDF("domain"))
    }, Some(
      // same oracle as q_domains — the join variant must produce the
      // identical result set on the identical seeded inputs.
      (s"""WITH ${domainSeedCte("d")}, h AS (
        |  SELECT doc_id,
        |         regexp_extract_all(lower(text), 'https?://([a-zA-Z0-9.-]+)', 1) AS hosts
        |  FROM d
        |)
        |SELECT doc_id,
        |       CAST(len(hosts) AS INT) AS n_urls,
        |       CAST(len(list_distinct(hosts)) AS INT) AS n_domains,
        |       array_to_string(list_sort(list_distinct(hosts)), ',') AS domains_csv,
        |       len(list_intersect(hosts, ['bad0.spam.io', 'bad1.spam.io'])) > 0 AS blocked
        |FROM h""".stripMargin))),

    // deterministic per-shard sequence packing into token budgets.
    QueryDef("q_pack_batches", Family, (s, dir) =>
      TextStats.packBatches(Tables.documents(s, dir), "doc_id", "text",
        budgetTokens = 2048, nShards = 16), Some(
      """WITH t AS (
        |  SELECT doc_id, doc_id % 16 AS shard,
        |         CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_tokens
        |  FROM documents
        |), c AS (
        |  SELECT *, sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
        |           ROWS UNBOUNDED PRECEDING) AS cum
        |  FROM t
        |)
        |SELECT doc_id, shard, n_tokens,
        |       CAST(floor((cum - n_tokens) / 2048) AS BIGINT) AS batch
        |FROM c""".stripMargin)),

    // length-homogeneous packing: equi-depth ntile length classes per
    // shard, then the greedy fill per (shard, bucket) — the padding
    // efficiency upgrade, one exchange for both windows.
    QueryDef("q_pack_bucketed", Family, (s, dir) =>
      TextStats.packBatchesBucketed(Tables.documents(s, dir), "doc_id",
        "text", budgetTokens = 2048, nShards = 16, nBuckets = 4), Some(
      """WITH t AS (
        |  SELECT doc_id, doc_id % 16 AS shard,
        |         CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_tokens
        |  FROM documents
        |), b AS (
        |  SELECT *, CAST(ntile(4) OVER (PARTITION BY shard
        |           ORDER BY n_tokens, doc_id) AS INT) AS len_bucket
        |  FROM t
        |), c AS (
        |  SELECT *, sum(n_tokens) OVER (PARTITION BY shard, len_bucket
        |           ORDER BY n_tokens, doc_id ROWS UNBOUNDED PRECEDING) AS cum
        |  FROM b
        |)
        |SELECT doc_id, shard, len_bucket, n_tokens,
        |       CAST(floor((cum - n_tokens) / 2048) AS BIGINT) AS batch
        |FROM c""".stripMargin)),

    QueryDef("q_text_tokens", Family, (s, dir) =>
      TextStats.tokenCounts(Tables.documents(s, dir), "doc_id", "text"), Some(
      """SELECT doc_id, CAST(length(text) AS INT) AS n_chars,
        |       CAST(len(string_split_regex(trim(text), '\s+')) AS INT) AS tokens_ws,
        |       CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS INT) AS tokens_re
        |FROM documents""".stripMargin)),

    QueryDef("q_text_quality", Family, (s, dir) =>
      TextStats.qualityScore(Tables.documents(s, dir), "doc_id", "text"), Some(
      """WITH wd AS (
        |  SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\s+')) AS w FROM documents
        |), a AS (
        |  SELECT doc_id, count(*) AS word_count, count(DISTINCT w) AS distinct_words,
        |         avg(length(w)) AS avg_word_len,
        |         sum(CASE WHEN w IN ('the','a','of','and','in') THEN 1 ELSE 0 END) AS stop_count
        |  FROM wd GROUP BY doc_id
        |)
        |SELECT doc_id, word_count, distinct_words,
        |       round(avg_word_len, 6) AS avg_word_len,
        |       round(CAST(stop_count AS DOUBLE) / word_count, 6) AS stop_ratio,
        |       round(CAST(distinct_words AS DOUBLE) / word_count, 6) AS diversity,
        |       round((least(CAST(word_count AS DOUBLE) / 100.0, 1.0)
        |             + least(CAST(stop_count AS DOUBLE) / word_count * 5.0, 1.0)
        |             + least(CAST(distinct_words AS DOUBLE) / word_count * 2.0, 1.0)) / 3.0, 6) AS quality_score
        |FROM a""".stripMargin)),

    QueryDef("q_lang_id", Family, (s, dir) =>
      TextStats.langId(Tables.documents(s, dir), "doc_id", "text"), Some(
      """WITH wd AS (
        |  SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\s+')) AS w FROM documents
        |), a AS (
        |  SELECT doc_id, count(*) AS n,
        |         sum(CASE WHEN w IN ('der','die','das','und','ist') THEN 1 ELSE 0 END) AS h_de,
        |         sum(CASE WHEN w IN ('the','a','of','and','is') THEN 1 ELSE 0 END) AS h_en,
        |         sum(CASE WHEN w IN ('el','la','de','y','es') THEN 1 ELSE 0 END) AS h_es,
        |         sum(CASE WHEN w IN ('le','la','les','et','est') THEN 1 ELSE 0 END) AS h_fr
        |  FROM wd GROUP BY doc_id
        |), s AS (
        |  SELECT doc_id,
        |         CAST(h_de AS DOUBLE)/n AS s_de, CAST(h_en AS DOUBLE)/n AS s_en,
        |         CAST(h_es AS DOUBLE)/n AS s_es, CAST(h_fr AS DOUBLE)/n AS s_fr,
        |         CAST(0 AS DOUBLE)/n AS s_zh
        |  FROM a
        |), s1 AS (
        |  SELECT doc_id, s_es, s_fr, s_zh,
        |         CASE WHEN s_en > s_de THEN 'en' ELSE 'de' END AS bl,
        |         CASE WHEN s_en > s_de THEN s_en ELSE s_de END AS bs
        |  FROM s
        |), s2 AS (
        |  SELECT doc_id, s_fr, s_zh,
        |         CASE WHEN s_es > bs THEN 'es' ELSE bl END AS bl,
        |         CASE WHEN s_es > bs THEN s_es ELSE bs END AS bs
        |  FROM s1
        |), s3 AS (
        |  SELECT doc_id, s_zh,
        |         CASE WHEN s_fr > bs THEN 'fr' ELSE bl END AS bl,
        |         CASE WHEN s_fr > bs THEN s_fr ELSE bs END AS bs
        |  FROM s2
        |)
        |SELECT doc_id,
        |       CASE WHEN s_zh > bs THEN 'zh' ELSE bl END AS lang_pred,
        |       round(CASE WHEN s_zh > bs THEN s_zh ELSE bs END, 6) AS lang_score
        |FROM s3""".stripMargin)),

    // CCNet-style bigram-LM scoring: train on the src0 slice, score
    // every document's bits-per-token under the smoothed model —
    // the perplexity-filter signal of the CCNet/RedPajama pipelines.
    QueryDef("q_lm_score", Family, (s, dir) =>
      TextStats.lmScore(Tables.documents(s, dir), "doc_id", "text",
        refFilter = col("source") === "src0", lambda = 0.9), Some(
      // bigram-LM bits-per-token; every FP step mirrors the Scala plan
      // (x * 1.0 / y shapes, literal 0.9 / (1.0 - 0.9), per-term
      // round-to-9 then exact DECIMAL(38,9) sum) so the mean is
      // order-free and bit-identical cross-engine.
      (s"""WITH ${lmCtes("")}
         |SELECT d.doc_id,
         |       coalesce(a.n_tokens, 0) AS n_tokens,
         |       coalesce(a.n_oov, 0) AS n_oov,
         |       round(CAST(a.sb AS DOUBLE) / a.n_tokens, 6) AS bits_per_token
         |FROM documents d LEFT JOIN agg a USING (doc_id)""".stripMargin))),

    // markup strip + email/URL masking + whitespace collapse (the
    // standard corpus normalization / PII pass), pure regexp chain.
    QueryDef("q_text_clean", Family, (s, dir) =>
      TextStats.cleanText(Tables.documents(s, dir), "doc_id", "text"), Some(
      """WITH c AS (
        |  SELECT doc_id, text,
        |         trim(regexp_replace(regexp_replace(regexp_replace(regexp_replace(text,
        |           '<[^>]*>', ' ', 'g'),
        |           '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}', '<EMAIL>', 'g'),
        |           'https?://[^\s]+', '<URL>', 'g'),
        |           '\s+', ' ', 'g')) AS clean_text
        |  FROM documents
        |)
        |SELECT doc_id, clean_text, CAST(length(clean_text) AS INT) AS n_chars_clean,
        |       CAST(len(regexp_extract_all(text, '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}')) AS INT) AS n_emails,
        |       CAST(len(regexp_extract_all(text, 'https?://[^\s]+')) AS INT) AS n_urls
        |FROM c""".stripMargin)),

    // the WHOLE curation pipeline as one declarative DAG: quality +
    // language gates, NEAR-dup family keeper (exact dups are
    // hamming-0 family members, so this subsumes the exact-hash
    // keeper), leakage-safe split by family hash. Every verdict
    // carries its reason bits.
    QueryDef("q_curation_e2e", Family, (s, dir) =>
      TextStats.curationPipeline(Tables.documents(s, dir), "doc_id",
        "text", minQuality = 0.5, keepLangs = Seq("en"),
        maxDist = 3, trainBps = 9000, valBps = 500), Some(
      // the e2e composite reuses the shared simhash chain's wd (its
      // definition is byte-identical to q_corpus_filter's) for the
      // quality/language aggregates, the q_split_safe_near family
      // closure for keeper+split, and q_corpus_filter's gate CTEs
      // verbatim — one definition per piece, three green standalone
      // oracles composed.
      (s"WITH RECURSIVE $simhashCteBody, pr AS (\n" +
        s"""  SELECT id_a, id_b FROM cd WHERE bit_count(xor(ha, hb)) <= 3
          |), e AS (
          |  SELECT id_a AS a, id_b AS b FROM pr
          |  UNION ALL SELECT id_b, id_a FROM pr
          |), reach(id, r) AS (
          |  SELECT doc_id, doc_id FROM documents
          |  UNION
          |  SELECT e.b, reach.r FROM reach JOIN e ON e.a = reach.id
          |), cl AS (
          |  SELECT id AS doc_id, min(r) AS family_id FROM reach GROUP BY id
          |), sb AS (
          |  SELECT doc_id, family_id,
          |         CAST(CAST(('0x' || substr(md5(CAST(family_id AS VARCHAR)), 1, 15)) AS BIGINT)
          |              % 10000 AS INT) AS bucket
          |  FROM cl
          |), $qualityLangGateCtes
          |SELECT sb.doc_id, sb.family_id,
          |       coalesce(l.lang_ok, FALSE) AS lang_ok,
          |       coalesce(q.quality_ok, FALSE) AS quality_ok,
          |       (sb.doc_id = sb.family_id) AS is_keeper,
          |       ((sb.doc_id = sb.family_id) AND coalesce(q.quality_ok, FALSE)
          |         AND coalesce(l.lang_ok, FALSE)) AS keep,
          |       CASE WHEN bucket < 9000 THEN 'train'
          |            WHEN bucket < 9500 THEN 'val'
          |            ELSE 'test' END AS split
          |FROM sb LEFT JOIN q ON sb.doc_id = q.doc_id LEFT JOIN l ON sb.doc_id = l.doc_id""".stripMargin))),

    // end-to-end curation decision: exact-dedup keeper AND quality
    // AND language — the composition a training-data pipeline ships.
    QueryDef("q_corpus_filter", Family, (s, dir) =>
      TextStats.corpusFilter(Tables.documents(s, dir), "doc_id", "text",
        minQuality = 0.5, keepLangs = Seq("en")), Some(
      // LEFT JOIN + coalesce(FALSE) mirrors corpusFilter's NULL-text
      // contract: a doc with no token rows still gets a (failing)
      // verdict instead of vanishing.
      (s"""WITH h AS (
        |  SELECT doc_id, md5(lower(trim(text))) AS th FROM documents
        |), k AS (
        |  SELECT doc_id, doc_id = min(doc_id) OVER (PARTITION BY th) AS is_keeper FROM h
        |), wd AS (
        |  SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\\s+')) AS w FROM documents
        |), $qualityLangGateCtes
        |SELECT k.doc_id, k.is_keeper,
        |       coalesce(q.quality_ok, FALSE) AS quality_ok,
        |       coalesce(l.lang_ok, FALSE) AS lang_ok,
        |       (k.is_keeper AND coalesce(q.quality_ok, FALSE)
        |         AND coalesce(l.lang_ok, FALSE)) AS keep
        |FROM k LEFT JOIN q ON k.doc_id = q.doc_id LEFT JOIN l ON k.doc_id = l.doc_id""".stripMargin))),

    // TRAINED quality classifier, train half: damped diagonal-Newton
    // IRLS logistic regression over 32 hashed bag-of-words count
    // features, 6 fixed iterations, trained on the doc_id%3==0 seed
    // slice labeled by the stopword-density heuristic — the learned
    // curation component (heuristic labels in, cheap hashed-feature
    // model out). Exact-hash: the whole trajectory is integer fixed
    // point, replayed iteration by iteration in the oracle.
    QueryDef("q_quality_train", Family, (s, dir) =>
      TextStats.trainQualityClassifier(
        qualityClfSeed(Tables.documents(s, dir)), "doc_id", "text",
        dims = QualityClfDims, iters = QualityClfIters), Some(
      // trained quality classifier: the oracle re-trains the identical
      // integer fixed-point IRLS trajectory (6 unrolled iterations) and
      // emits the 33-row model. MATERIALIZED CTEs keep it linear.
      (qualityClfCtes(QualityClfDims, QualityClfIters) +
        s"""
           |SELECT CAST(i - 1 AS INT) AS feature_idx, wl[CAST(i AS INT)] AS weight_micro
           |FROM qw$QualityClfIters, unnest(generate_series(1, ${QualityClfDims + 1})) AS t(i)""".stripMargin))),

    // apply half: the trained model scores the WHOLE corpus (2/3 of
    // it unseen in training) as one shuffle-free projection.
    QueryDef("q_quality_apply", Family, (s, dir) => {
      val docs = Tables.documents(s, dir)
      val model = TextStats.trainQualityClassifier(qualityClfSeed(docs),
        "doc_id", "text", dims = QualityClfDims, iters = QualityClfIters)
      TextStats.applyQualityClassifier(docs, "doc_id", "text", model,
        dims = QualityClfDims)
    }, Some(
      (qualityClfCtes(QualityClfDims, QualityClfIters) +
        qualityClfScoreCte(QualityClfDims, QualityClfIters) +
        s"""
           |SELECT z.doc_id, ${qualityClfPqSql("z.zm")} AS score_ppm,
           |       (z.zm >= 0) AS pred, y.y AS y_heur
           |FROM qzf z JOIN qya y USING (doc_id)""".stripMargin))),

    // eval companion on the HELD-OUT slice: exact confusion counts +
    // the in-band beats_majority assertion (correct > the bigger
    // class) — the generalization signal that the model actually
    // learned the heuristic rather than memorizing the seed.
    QueryDef("q_quality_eval", Family, (s, dir) => {
      val docs = Tables.documents(s, dir)
      val model = TextStats.trainQualityClassifier(qualityClfSeed(docs),
        "doc_id", "text", dims = QualityClfDims, iters = QualityClfIters)
      TextStats.evalQualityClassifier(
        TextStats.applyQualityClassifier(docs, "doc_id", "text", model,
          dims = QualityClfDims),
        pmod(col("doc_id"), lit(3)) =!= 0)
    }, Some(
      (qualityClfCtes(QualityClfDims, QualityClfIters) +
        qualityClfScoreCte(QualityClfDims, QualityClfIters) +
        """, qpr AS (
          |  SELECT (z.zm >= 0) AS pred, y.y
          |  FROM qzf z JOIN qya y USING (doc_id)
          |  WHERE z.doc_id % 3 <> 0
          |)
          |SELECT CAST(sum(CASE WHEN pred AND y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS tp,
          |       CAST(sum(CASE WHEN pred AND y = 0 THEN 1 ELSE 0 END) AS BIGINT) AS fp,
          |       CAST(sum(CASE WHEN NOT pred AND y = 0 THEN 1 ELSE 0 END) AS BIGINT) AS tn,
          |       CAST(sum(CASE WHEN NOT pred AND y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS fn,
          |       (CAST(sum(CASE WHEN pred = (y = 1) THEN 1 ELSE 0 END) AS BIGINT) >
          |        greatest(CAST(sum(y) AS BIGINT), CAST(count(*) - sum(y) AS BIGINT))) AS beats_majority
          |FROM qpr""".stripMargin))),

    // Unicode NFC normalization audit via the native codegen'd
    // graft_normalize expression: per doc, does NFC change the bytes
    // (decomposed/misordered combining marks that defeat exact-hash
    // dedup), code-point length before/after, md5 of the normalized
    // text. Dirty surface synthesized by doc_id % 4 from
    // UnicodeSuffixes (the corpus is ASCII); zero shuffles.
    QueryDef("q_unicode_norm", Family, (s, dir) => {
      val dirty = concat(col("text"), element_at(
        array(UnicodeSuffixes.map(lit(_)): _*),
        (pmod(col("doc_id"), lit(4)) + 1).cast("int")))
      TextStats.unicodeNormAudit(
        Tables.documents(s, dir).select(col("doc_id"), dirty.as("text")),
        "doc_id", "text")
    }, Some(
      // DuckDB's utf8proc nfc_normalize implements the same UAX #15 the
      // engine's java.text.Normalizer kernel does, so the NFC form is
      // exactly replayable; the dirty surface is rebuilt from the SAME
      // UnicodeSuffixes literals the Spark entry uses.
      (s"""WITH dirty AS (
         |  SELECT doc_id,
         |         text || list_extract([${UnicodeSuffixes.map(x => s"'$x'").mkString(", ")}],
         |                              CAST(doc_id % 4 AS INT) + 1) AS t
         |  FROM documents
         |)
         |SELECT doc_id,
         |       nfc_normalize(t) <> t AS changed,
         |       CAST(length(t) AS INT) AS len_raw,
         |       CAST(length(nfc_normalize(t)) AS INT) AS len_nfc,
         |       md5(nfc_normalize(t)) AS nfc_hash
         |FROM dirty""".stripMargin))),

    QueryDef("q_fingerprint", Family, (s, dir) =>
      TextStats.fingerprint(Tables.documents(s, dir), "doc_id", "text", k = 3, p = 4), Some(
      (shingleCte(3) +
        """, hh AS (
          |  SELECT doc_id, CAST(('0x' || substr(md5(shingle), 1, 15)) AS BIGINT) AS h FROM sh
          |), sel AS (
          |  SELECT doc_id, h FROM hh WHERE h % 4 = 0
          |)
          |SELECT doc_id, count(*) AS n_selected,
          |       md5(array_to_string(list_sort(list(CAST(h AS VARCHAR))), ',')) AS fingerprint
          |FROM sel GROUP BY doc_id""".stripMargin))),

    // Gopher-style word-repetition quality signals (dup-word /
    // top-unigram / top-bigram fractions), shuffle-free per doc.
    QueryDef("q_repetition", Family, (s, dir) =>
      TextStats.repetitionStats(Tables.documents(s, dir), "doc_id", "text"), Some(
      """WITH d AS (
        |  SELECT doc_id,
        |         list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
        |                     x -> x <> '') AS ws
        |  FROM documents
        |), w AS (
        |  SELECT doc_id, unnest(ws) AS w, unnest(range(1, len(ws)+1)) AS i
        |  FROM d WHERE len(ws) > 0
        |), wc AS (
        |  SELECT doc_id, w, count(*) AS c FROM w GROUP BY 1, 2
        |), uni AS (
        |  SELECT doc_id, CAST(sum(c) AS BIGINT) AS nw,
        |         count(*) AS nd, max(c) AS tc
        |  FROM wc GROUP BY 1
        |), bp AS (
        |  SELECT a.doc_id, a.w || ' ' || b.w AS bg
        |  FROM w a JOIN w b ON a.doc_id = b.doc_id AND b.i = a.i + 1
        |), bc AS (
        |  SELECT doc_id, bg, count(*) AS c FROM bp GROUP BY 1, 2
        |), bt AS (
        |  SELECT doc_id, max(c) AS tb FROM bc GROUP BY 1
        |)
        |SELECT uni.doc_id, nw AS n_words, nd AS n_distinct_words,
        |       round(1.0 - nd * 1.0 / nw, 6) AS dup_word_frac,
        |       round(tc * 1.0 / nw, 6) AS top_word_frac,
        |       round(CASE WHEN nw >= 2 THEN tb * 1.0 / (nw - 1)
        |                  ELSE 0.0 END, 6) AS top_bigram_frac
        |FROM uni LEFT JOIN bt ON uni.doc_id = bt.doc_id""".stripMargin)),

    // context-window chunking: 120-char chunks on a 90-char stride
    // (30-char overlap), scan-local explode.
    QueryDef("q_chunks", Family, (s, dir) =>
      TextStats.chunkDocs(Tables.documents(s, dir), "doc_id", "text",
        chunkSize = 120, stride = 90), Some(
      """WITH c AS (
        |  SELECT doc_id, text,
        |         unnest(range(0, ((length(text)-1)//90)+1)) AS chunk_id
        |  FROM documents WHERE length(text) > 0
        |)
        |SELECT doc_id, chunk_id,
        |       1 + chunk_id*90 AS start_offset,
        |       substr(text, (1 + chunk_id*90)::BIGINT, 120) AS chunk_text
        |FROM c""".stripMargin)),

    // vocabulary top-100: occurrences + doc frequency per word,
    // lexicographic tie-break (deterministic cross-engine).
    QueryDef("q_vocab", Family, (s, dir) =>
      TextStats.wordFrequencies(Tables.documents(s, dir), "doc_id", "text",
        k = 100), Some(
      """WITH w AS (
        |  SELECT doc_id,
        |         unnest(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
        |                            x -> x <> '')) AS word
        |  FROM documents
        |)
        |SELECT word, count(*) AS n_occurrences,
        |       count(DISTINCT doc_id) AS n_docs
        |FROM w GROUP BY 1
        |ORDER BY n_occurrences DESC, word ASC LIMIT 100""".stripMargin)),

    // count-min sketch audit (Cormode-Muthukrishnan 2005): fixed
    // depth×width counter grid built in ONE map-side-combined
    // aggregate (state O(d·w) at ANY corpus/vocabulary size,
    // shard-mergeable by cell addition), then est = min_j cell[j][h_j]
    // for the top-30 exact tokens; `sound` (est ≥ exact) is a theorem
    // of the sketch and replays exactly.
    QueryDef("q_cms_check", Family, (s, dir) =>
      TextStats.cmSketchCheck(Tables.documents(s, dir), "text",
        depth = CmsDepth, width = CmsWidth, k = CmsTopK), Some(
      // CM sketch replay: same 60-bit md5 bucket hash of 'j:word', same
      // depth/width/topK constants as the Spark entry.
      (s"""WITH w AS (
         |  SELECT unnest(list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'),
         |                            x -> x <> '')) AS word
         |  FROM documents
         |), exact AS (
         |  SELECT word, count(*) AS exact_cnt FROM w GROUP BY 1
         |  ORDER BY exact_cnt DESC, word ASC LIMIT $CmsTopK
         |), js AS (
         |  SELECT unnest(range($CmsDepth)) AS j
         |), cells AS (
         |  SELECT j,
         |         CAST(('0x' || substr(md5(CAST(j AS VARCHAR) || ':' || word), 1, 15)) AS BIGINT)
         |           % $CmsWidth AS bucket,
         |         count(*) AS cnt
         |  FROM w CROSS JOIN js GROUP BY 1, 2
         |), est AS (
         |  SELECT e.word, min(coalesce(c.cnt, 0)) AS est_cnt
         |  FROM exact e CROSS JOIN js
         |  LEFT JOIN cells c ON c.j = js.j
         |    AND c.bucket = CAST(('0x' || substr(md5(CAST(js.j AS VARCHAR) || ':' || e.word), 1, 15)) AS BIGINT)
         |                     % $CmsWidth
         |  GROUP BY 1
         |)
         |SELECT e.word, e.exact_cnt, s.est_cnt,
         |       s.est_cnt - e.exact_cnt AS overestimate,
         |       s.est_cnt >= e.exact_cnt AS sound
         |FROM exact e JOIN est s USING (word)""".stripMargin))),

    // BPE tokenizer training: 12 merge rounds learned from the
    // distinct-word frequency table (corpus-size-independent after the
    // first tokenize+count pass). Deterministic total tie order; one
    // driver row per round. STRICT-oracled since round 12: the fixed
    // round count unrolls into bpeTrainCtes' per-round argmax+fold
    // CTE chain (integer weights + binary-collation tie order — no
    // floats anywhere), so DuckDB replays the full training; BpeSpec
    // additionally pins the merge sequence against a literal
    // reference implementation on the same corpus.
    QueryDef("q_bpe_train", Family, (s, dir) =>
      TextStats.trainBpe(Tables.documents(s, dir), "doc_id", "text",
        numMerges = BpeNumMerges), Some(
      // FULL BPE-training replay (see bpeTrainCtes): every round's
      // argmax pair re-derived in DuckDB off the same vocab table,
      // union'd in rank order. Exhausted rounds contribute no row —
      // the same early-stop as trainBpe's `done`.
      (bpeTrainCtes(BpeNumMerges) + "\n" +
        (1 to BpeNumMerges).map(k =>
          s"""SELECT $k AS rank, l AS "left", r AS "right", l || r AS merged, w AS weight FROM p$k""")
          .mkString("SELECT * FROM (\n", "\nUNION ALL ", "\n)")))),

    // BATCHED BPE training — the scale fix for trainBpe's
    // one-merge-per-round driver loop: the same 12-merge budget in 3
    // rounds of 4 symbol-disjoint picks (at a 30k-merge production
    // vocabulary the round count drops batchSize-fold). Strict: the
    // oracle replays candidate ordering, the greedy disjoint
    // selection, and the simultaneous replacement fold round by round
    // (bpeBatchedCtes); BpeSpec additionally pins batchSize=1 ≡
    // trainBpe exactly.
    QueryDef("q_bpe_train_batched", Family, (s, dir) =>
      TextStats.trainBpeBatched(Tables.documents(s, dir), "doc_id", "text",
        numMerges = BpeNumMerges, batchSize = BpeBatchSize,
        candCap = BpeCandCap), Some(
      (bpeBatchedCtes(BpeNumMerges, BpeBatchSize, BpeCandCap) + "\n" +
        s"""SELECT CAST(row_number() OVER (ORDER BY k ASC, ord ASC) AS INT) AS rank,
           |       l AS "left", r AS "right", l || r AS merged, w AS weight
           |FROM (${(1 to BpeNumMerges / BpeBatchSize).map(k =>
                s"SELECT $k AS k, l, r, w, ord FROM bs$k").mkString("\n  UNION ALL ")}) z""".stripMargin))),

    // BPE ENCODE with the table trained above: per-doc BPE token
    // counts via the distinct-word table (each word encoded once,
    // one join back). STRICT-oracled since round 12: bpeTrainCtes'
    // final vocab table v_N IS the rank-order replay of all learned
    // merges, which BpeSpec pins equivalent to encodeBpe's
    // lowest-rank-first loop — so the oracle re-derives the merges
    // AND the per-word token counts independently in DuckDB.
    QueryDef("q_bpe_encode", Family, (s, dir) => {
      val docs = Tables.documents(s, dir)
      val merges = TextStats.trainBpe(docs, "doc_id", "text", numMerges = BpeNumMerges)
      TextStats.encodeBpe(docs, "doc_id", "text", merges)
    }, Some(
      // ENCODE replay: bpeTrainCtes' final vocab table already holds
      // every distinct word's symbols after all learned merges applied
      // in rank order (pinned equivalent to encodeBpe's
      // lowest-rank-first loop), so per-doc counts are one join back
      // onto the (doc, word) count table. Word width is UTF-8 bytes
      // (strlen ≡ octet_length), the one cross-engine-stable width.
      (bpeTrainCtes(BpeNumMerges) +
        s"""|, enc AS (SELECT word, CAST(len(syms) AS INT) AS n_toks FROM v$BpeNumMerges),
            |wd AS (SELECT doc_id, word, count(*) AS cnt FROM w GROUP BY 1, 2)
            |SELECT doc_id,
            |       CAST(sum(cnt) AS BIGINT) AS n_words,
            |       CAST(sum(cnt * n_toks) AS BIGINT) AS n_bpe_tokens,
            |       CAST(sum(cnt * strlen(word)) AS BIGINT) AS n_bytes_tokenized
            |FROM wd JOIN enc USING (word)
            |GROUP BY doc_id""".stripMargin))),

    // semi-oracle companion for the two rows-only BPE queries (the
    // q_wrtds_check pattern): the oracle reproduces the corpus-level
    // structural counts EXACTLY (docs-with-words, total words, total
    // tokenized chars — pure whitespace-token SQL, no BPE needed) and
    // expects the in-band assertions TRUE: every doc's BPE token
    // count sits in [n_words, n_chars] (each word encodes to between
    // 1 and len(word) symbols), and the merge table is structurally
    // sound (merged ≡ left||right, ranks dense 1..m, m ≤ 12). BpeSpec
    // still pins the merge SEQUENCE against a literal reference
    // implementation; this adds the driver-gate signal.
    QueryDef("q_bpe_check", Family, (s, dir) => {
      val docs = Tables.documents(s, dir)
      // batched trainer (the q_bpe_apply rationale): every assertion
      // below — encode bounds, merged ≡ left||right, dense distinct
      // ranks ≤ budget — holds for ANY valid merge table, so this
      // check rides the scale-path trainer; the sequential reference
      // trajectory stays exactly oracled via q_bpe_train/q_bpe_encode
      val merges = TextStats.trainBpeBatched(docs, "doc_id", "text",
        numMerges = BpeNumMerges, batchSize = BpeBatchSize,
        candCap = BpeCandCap)
      val enc = TextStats.encodeBpe(docs, "doc_id", "text", merges)
      val encAgg = enc.agg(
        countDistinct(col("doc_id")).as("n_docs"),
        sum("n_words").as("total_words"),
        sum("n_bytes_tokenized").as("total_bytes"),
        coalesce(min(col("n_words") <= col("n_bpe_tokens") &&
          col("n_bpe_tokens") <= col("n_bytes_tokenized")), lit(false))
          .as("bpe_bounds_ok"))
      val mAgg = merges.agg(
        coalesce(min(col("merged") === concat(col("left"), col("right"))) &&
          max(col("rank")) === count(lit(1)) &&
          countDistinct(col("rank")) === count(lit(1)) &&
          count(lit(1)) <= BpeNumMerges, lit(false)).as("merges_ok"))
      encAgg.crossJoin(broadcast(mAgg))
    }, Some(
      // BPE semi-oracle: exact whitespace-token structural counts + the
      // in-band bound/soundness assertions TRUE. Word width is UTF-8
      // BYTES on both engines (Spark octet_length ≡ DuckDB strlen) —
      // code-unit/code-point counts diverge cross-engine on
      // supplementary-plane characters, byte length never does.
      """WITH w AS (
        |  SELECT doc_id,
        |         unnest(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
        |                            x -> x <> '')) AS word
        |  FROM documents
        |)
        |SELECT CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
        |       CAST(count(*) AS BIGINT) AS total_words,
        |       CAST(sum(strlen(word)) AS BIGINT) AS total_bytes,
        |       TRUE AS bpe_bounds_ok, TRUE AS merges_ok
        |FROM w""".stripMargin)),

    // persistable tokenizer artifact: train once, WRITE the 12-row
    // merge table to parquet, APPLY from the loaded copy — the
    // ship-a-tokenizer shape (dedupIngest's index-reuse pattern:
    // apply reads ONLY the artifact, never retrains). Output: exact
    // corpus structural counts (oracle-replayable) + in-band
    // artifact_matches = the loaded-artifact encode is row-identical
    // to the direct in-memory encode.
    QueryDef("q_bpe_apply", Family, (s, dir) => {
      val docs = Tables.documents(s, dir)
      // the BATCHED trainer (the scale path, ~8x fewer driver rounds;
      // q_bpe_train_batched pins its merge trajectory exactly) — this
      // query verifies the ARTIFACT ROUND TRIP, whose oracle columns
      // are merge-table-invariant, so it rides the fast trainer while
      // q_bpe_train keeps the sequential reference trajectory oracled
      val merges = TextStats.trainBpeBatched(docs, "doc_id", "text",
        numMerges = BpeNumMerges, batchSize = BpeBatchSize,
        candCap = BpeCandCap)
      val direct = TextStats.encodeBpe(docs, "doc_id", "text", merges)
      // ONE fixed per-JVM artifact path, overwritten each run — a
      // fresh createTempDirectory per invocation leaked a dir + a
      // parquet write every bench rep. The write→read round trip is
      // serialized on the lock; encodeBpe collects the loaded merge
      // rows EAGERLY (its ranks map), so no lazy parquet reference
      // escapes the critical section for a later run to overwrite.
      val art = bpeArtifactDir
      val viaArtifact = bpeArtifactLock.synchronized {
        merges.write.mode("overwrite").parquet(art)
        TextStats.encodeBpe(docs, "doc_id", "text", s.read.parquet(art))
      }
      direct.as("d")
        .join(viaArtifact.as("a"), "doc_id")
        .agg(
          count(lit(1)).as("n_docs"),
          sum(col("d.n_words")).as("total_words"),
          sum(col("d.n_bytes_tokenized")).as("total_bytes"),
          coalesce(min(col("d.n_bpe_tokens") === col("a.n_bpe_tokens") &&
            col("d.n_words") === col("a.n_words") &&
            col("d.n_bytes_tokenized") === col("a.n_bytes_tokenized")),
            lit(false)).as("artifact_matches"))
    }, Some(
      // artifact round-trip companion: corpus structural counts exact,
      // artifact_matches asserted in-band (encode itself is the same
      // declared non-SQL contract as q_bpe_encode)
      """WITH w AS (
        |  SELECT doc_id,
        |         unnest(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
        |                            x -> x <> '')) AS word
        |  FROM documents
        |)
        |SELECT CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
        |       CAST(count(*) AS BIGINT) AS total_words,
        |       CAST(sum(strlen(word)) AS BIGINT) AS total_bytes,
        |       TRUE AS artifact_matches
        |FROM w""".stripMargin)),

    // exact 1%-heavy-hitter tokens with BOUNDED state end to end:
    // Misra-Gries sketch (native TypedImperativeAggregate, O(capacity)
    // per task, mergeable) -> <= 127 candidates -> broadcast semi-join
    // exact re-count -> integer threshold. Exact answer, no
    // full-vocabulary shuffle anywhere.
    QueryDef("q_heavy_hitters", Family, (s, dir) =>
      TextStats.heavyHitterTokens(Tables.documents(s, dir), "doc_id", "text",
        capacity = 127, supportPpm = 10000L), Some(
      // exact phi-heavy-hitters: the sketch pass is lossless for the
      // threshold (supportPpm > 1e6/(capacity+1)), so plain exact SQL is
      // the oracle; the integer comparison avoids float phi arithmetic
      """WITH w AS (
        |  SELECT unnest(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
        |                            x -> x <> '')) AS token
        |  FROM documents
        |), t AS (SELECT count(*) AS total FROM w)
        |SELECT token, count(*) AS n_occurrences
        |FROM w, t GROUP BY token, t.total
        |HAVING count(*) * 1000000 >= t.total * 10000""".stripMargin)),

    // calibrated keep-score composite over four green per-doc
    // signals: lm fluency + repetition on the raw corpus, pii audit
    // counts and the domain blocklist flag on their seeded twins
    // (q_pii/q_domains' exact seeding, so both engines feed the
    // combiner identical signal values).
    QueryDef("q_keep_score", Family, (s, dir) => {
      val docs = Tables.documents(s, dir)
      TextStats.keepScore(docs, "doc_id",
        TextStats.lmScore(docs, "doc_id", "text",
          refFilter = col("source") === "src0", lambda = 0.9),
        TextStats.repetitionStats(docs, "doc_id", "text"),
        TextStats.piiRedact(piiSeed(docs), "doc_id", "text"),
        TextStats.domainStats(domainSeed(docs), "doc_id", "text",
          DomainBlocklist),
        threshold = 0.5)
    }, Some(
      // the calibrated composite: the lm / repetition / pii / domain
      // CTEs are the same bodies as their standalone green oracles
      // (renamed k*/r*/p*/d* to avoid collisions); the combiner mirrors
      // TextStats.keepScore's IEEE shapes exactly.
      (s"""WITH ${lmCtes("k")}, klm AS (
         |  SELECT doc_id, round(CAST(sb AS DOUBLE) / n_tokens, 6) AS bits_per_token
         |  FROM kagg
         |), rw AS (
         |  SELECT doc_id, unnest(ws) AS w FROM karr WHERE len(ws) > 0
         |), rwc AS (
         |  SELECT doc_id, w, count(*) AS c FROM rw GROUP BY 1, 2
         |), krep AS (
         |  SELECT doc_id, round(1.0 - count(*) * 1.0 / sum(c), 6) AS dup_word_frac
         |  FROM rwc GROUP BY doc_id
         |), ${piiSeedCte("pd")}, ${piiChainCtes("pd", "p")}, kpii AS (
         |  SELECT doc_id,
         |       $piiCountCols
         |  FROM ps3
         |), ${domainSeedCte("dd2")}, kdom AS (
         |  SELECT doc_id,
         |         len(list_intersect(
         |           regexp_extract_all(lower(text), 'https?://([a-zA-Z0-9.-]+)', 1),
         |           ['bad0.spam.io', 'bad1.spam.io'])) > 0 AS blocked
         |  FROM dd2
         |), ks AS (
         |  SELECT d.doc_id,
         |         CASE WHEN klm.bits_per_token IS NULL THEN CAST(0.0 AS DOUBLE)
         |              ELSE greatest(CAST(0.0 AS DOUBLE),
         |                            1.0 - klm.bits_per_token / 16.0)
         |         END AS s_lm,
         |         CASE WHEN krep.dup_word_frac IS NULL THEN CAST(0.0 AS DOUBLE)
         |              ELSE 1.0 - krep.dup_word_frac END AS s_rep,
         |         CASE WHEN coalesce(kpii.n_emails, kpii.n_phones,
         |                            kpii.n_ips, kpii.n_id_runs) IS NULL
         |              THEN CAST(0.0 AS DOUBLE)
         |              ELSE 1.0 / (1.0 + CAST(coalesce(kpii.n_emails, 0)
         |                                     + coalesce(kpii.n_phones, 0)
         |                                     + coalesce(kpii.n_ips, 0)
         |                                     + coalesce(kpii.n_id_runs, 0)
         |                                     AS DOUBLE)) END AS s_pii,
         |         CASE WHEN kdom.blocked IS NULL THEN CAST(0.0 AS DOUBLE)
         |              WHEN kdom.blocked THEN CAST(0.0 AS DOUBLE)
         |              ELSE CAST(1.0 AS DOUBLE)
         |         END AS s_domain
         |  FROM documents d
         |  LEFT JOIN klm USING (doc_id)
         |  LEFT JOIN krep USING (doc_id)
         |  LEFT JOIN kpii USING (doc_id)
         |  LEFT JOIN kdom USING (doc_id)
         |)
         |SELECT doc_id, s_lm, s_rep, s_pii, s_domain,
         |       0.4 * s_lm + 0.3 * s_rep + 0.2 * s_pii + 0.1 * s_domain AS keep_score,
         |       (0.4 * s_lm + 0.3 * s_rep + 0.2 * s_pii + 0.1 * s_domain >= 0.5) AS keep
         |FROM ks""".stripMargin))),

    // bigram top-100: collocation/tokenizer prep, scan-local bigram
    // assembly + one aggregation shuffle.
    QueryDef("q_vocab_bigrams", Family, (s, dir) =>
      TextStats.bigramFrequencies(Tables.documents(s, dir), "doc_id",
        "text", k = 100), Some(
      """WITH d AS (
        |  SELECT doc_id,
        |         list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
        |                     x -> x <> '') AS ws
        |  FROM documents
        |), w AS (
        |  SELECT doc_id, unnest(ws) AS w, unnest(range(1, len(ws)+1)) AS i
        |  FROM d WHERE len(ws) > 0
        |), bp AS (
        |  SELECT a.doc_id, a.w || ' ' || b.w AS bigram
        |  FROM w a JOIN w b ON a.doc_id = b.doc_id AND b.i = a.i + 1
        |)
        |SELECT bigram, count(*) AS n_occurrences,
        |       count(DISTINCT doc_id) AS n_docs
        |FROM bp GROUP BY 1
        |ORDER BY n_occurrences DESC, bigram ASC LIMIT 100""".stripMargin))
  )
}
