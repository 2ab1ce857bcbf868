package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Large-scale training-data deduplication operators. All hash
  * primitives are engine-portable (md5 hex / md5-derived 60-bit ints)
  * so every variant is DuckDB-oracle-checkable; at cluster scale each
  * is shuffle-bounded by its key (hash, shingle, band, bucket) with
  * map-side combine — no cross join anywhere except the explicitly
  * brute-force baseline in Similarity.
  */
object Dedup {

  /** Portable md5-prefix hash: first `hexChars` hex chars of md5 →
    * BIGINT (4 bits per hex char; ≤ 15 chars keeps the value positive
    * in a 64-bit long). DuckDB mirror:
    * ('0x' || substr(md5(x),1,hexChars))::BIGINT. One definition for
    * every width so the construction can't drift between the 60-bit
    * shingle currency and narrower packed-value variants.
    */
  def hashPrefix(c: Column, hexChars: Int): Column = {
    require(hexChars >= 1 && hexChars <= 15,
      s"hexChars must be in [1, 15], got $hexChars")
    conv(substring(md5(c), 1, hexChars), 16, 10).cast("long")
  }

  /** Portable 60-bit string hash: first 15 hex chars of md5 → BIGINT.
    * (DuckDB: ('0x' || substr(md5(x),1,15))::BIGINT.)
    */
  def hash60(c: Column): Column = hashPrefix(c, 15)

  /** 1-based start positions of the k-token grams of a word array —
    * empty when the document is shorter than k (a bare
    * sequence(1, 0) would generate a DESCENDING [1, 0] in Spark).
    * Shared by every positioned/distinct gram builder (shingles,
    * substring anchors, winnowing) so the short-doc guard can't
    * drift.
    */
  def gramPositions(words: Column, k: Int): Column =
    when(size(words) >= k, sequence(lit(1), size(words) - (k - 1)))
      .otherwise(array().cast("array<int>"))

  /** Exact dedup on normalized text: groups share
    * md5(lower(trimmed)); the smallest id is the keeper.
    * Output: id, text_hash, keeper_id, is_duplicate.
    */
  /** The normalized-text content hash — THE cross-engine dedup
    * currency (mirrored verbatim as `md5(lower(trim(text)))` in every
    * dedup oracle). One definition; exact/incremental/streaming dedup
    * and the curation filter all call this, so the normalization can
    * never drift between batch and corpus sides.
    */
  def normHash(text: Column): Column = md5(lower(trim(text)))

  def exact(df: DataFrame, id: String, text: String): DataFrame = {
    val h = normHash(col(text))
    val w = Window.partitionBy(col("text_hash"))
    df.withColumn("text_hash", h)
      .withColumn("keeper_id", min(col(id)).over(w))
      .withColumn("is_duplicate", col(id) =!= col("keeper_id"))
      .select(id, "text_hash", "keeper_id", "is_duplicate")
  }

  /** Incremental-ingestion exact dedup: flag each incoming document
    * whose normalized text already exists in the known corpus — the
    * batch-N-against-corpus check an append-only pipeline runs, where
    * re-deduplicating the whole corpus per batch is the scale
    * anti-pattern. Only HASHES of the known side move (distinct
    * md5 per text, an 16-byte column — the persistable index shape);
    * the equi-join on text_hash carries the small new batch to it,
    * which AQE broadcasts when the batch fits.
    * Output: id, text_hash, is_known.
    */
  def dedupAgainstKnown(newDocs: DataFrame, known: DataFrame, id: String,
      text: String): DataFrame = {
    val h = normHash(col(text))
    val index = known.select(h.as("text_hash")).distinct()
      .withColumn("__k", lit(true))
    newDocs.select(col(id), h.as("text_hash"))
      .join(index, Seq("text_hash"), "left")
      .select(col(id), col("text_hash"),
        coalesce(col("__k"), lit(false)).as("is_known"))
  }

  /** Distinct k-word shingles per document (lowercased, whitespace
    * tokenized) as 60-bit hashes — the single shingle construction and
    * the join/shuffle currency of the jaccard family: dedup,
    * inverted-index join and verify all move 8-byte longs instead of
    * shingle strings (results identical modulo 60-bit collisions,
    * ~n²/2^61; the oracle computes the same hash from the string
    * form). Output: id, sh60.
    */
  def shinglesHashed(df: DataFrame, id: String, text: String, k: Int): DataFrame =
    shingleRows(df, id, text, k).distinct()

  /** [[shinglesHashed]] before its distinct: one (id, sh60) row per
    * shingle occurrence.
    */
  private def shingleRows(df: DataFrame, id: String, text: String, k: Int): DataFrame = {
    val words = split(lower(trim(col(text))), "\\s+")
    val positions = gramPositions(col("__words"), k)
    // project to the two used columns, then fan an under-split scan
    // out to session parallelism (guide §2.3/§2.5): the shingle
    // explode+hash below is the CPU kernel of every n-gram dedup
    // consumer, and a single-row-group corpus file would run it all
    // on one core. Identity at cluster scale — see FanOut.
    graft.core.FanOut(df.select(col(id), col(text)))
      .withColumn("__words", words)
      .withColumn("__i", explode(positions))
      .withColumn("sh60",
        hash60(array_join(slice(col("__words"), col("__i"), lit(k)), " ")))
      .select(col(id), col("sh60"))
  }

  /** The jaccard family's per-document shingle aggregate: ONE
    * groupBy(id) over [[shingleRows]] gives `__shs`, the doc's distinct
    * 60-bit shingle hashes, and `n = size(__shs)` as bigint (the
    * historical count() schema the oracle compare is sensitive to),
    * plus any `extra` aggregates over the same rows (the MinHash
    * signature mins). Docs shorter than k words have no shingles and
    * no row. Candidate generation explodes `__shs` back into distinct
    * (id, sh60) rows and the verify tail reads the arrays, so every
    * branch of an operator's plan repeats this one aggregate and AQE
    * reuses its exchange: no cache, and no job while the query is
    * built. Per-row memory is bounded by the largest document's
    * shingle count (the same bound as any groupBy on doc id).
    *
    * The aggregates are packed into one struct column: branches read
    * different columns (MinHash bands the mins, the verify tail the
    * arrays), and column pruning would otherwise split the aggregate
    * into per-branch copies that share no exchange and re-run the
    * shingle pass (sf0.1 q_dedup_minhash on 4 cores, 7 reps: median
    * 2.2–2.4 s packed, 2.9–3.2 s split).
    */
  private def shingleSets(rows: DataFrame, id: String, extra: Column*): DataFrame =
    rows.groupBy(id)
      .agg(struct(array_distinct(collect_list(col("sh60"))).as("__shs") +: extra: _*)
        .as("__agg"))
      .select(col(id), col("__agg.*"))
      .withColumn("n", size(col("__shs")).cast("long"))

  /** Shared exact-verification tail: per candidate pair, intersection
    * over the FULL hashed shingle sets (candidate-driven — only pairs
    * already surfaced by a bounded candidate generator are scored, so
    * the inverted-index blowup is never materialized), jaccard,
    * threshold filter. No broadcast hint on the candidate set: its
    * size grows with the corpus duplication rate (a boilerplate-heavy
    * corpus can yield a multi-GB pair set), so the join strategy is
    * left to AQE's runtime size estimate instead of being forced.
    *
    * Intersection shape: `arr` has ONE ROW PER DOC (id, __shs: the
    * doc's distinct shingle hashes as array<long>, n = their count) —
    * [[shingleSets]], or the prefix join's ranked arrays. Each
    * candidate pair joins its two arrays and scores their intersection
    * count locally in the pair's row. The alternative (exploded pair×shingle equi-join
    * + groupBy(id_a,id_b) count) shuffles |pairs|·|shingles/doc| rows
    * through a join AND an aggregate; the array form moves each doc's
    * shingles ONCE into the per-doc row and the pair join carries
    * |pairs| rows only — measured at sf0.1 (BenchSubset, median of 3):
    * capped 6.0→4.0 s, minhash 6.5→3.3 s, and the prefix join (which
    * also feeds its ranking arrays straight in) 15.8→1.8 s — and
    * asymptotically |shingles/doc|× less verify shuffle volume.
    * Per-row memory is bounded by the largest single document's
    * shingle count (identical bound to a groupBy on doc id).
    */
  private[graft] def verifyJaccardArr(arr: DataFrame, cands: DataFrame,
      id: String, threshold: Double, withInter: Boolean,
      containment: Boolean = false): DataFrame = {
    // jaccard = inter/union (symmetric); containment = inter/min-set
    // size (asymmetric — a short doc fully inside a long one scores 1
    // where jaccard dilutes toward |short|/|long|)
    val (scoreCol, scoreExpr) =
      if (containment)
        ("containment",
          col("inter") * lit(1.0) / least(col("na"), col("nb")))
      else
        ("jaccard",
          col("inter") * lit(1.0) / (col("na") + col("nb") - col("inter")))
    // Intersection cardinality runs as the native two-pointer merge
    // (graft_sorted_intersect_count — identical count to
    // size(array_intersect), ExtSpec-pinned) over VALUE-SORTED copies
    // of the per-doc arrays: size(array_intersect) built two hash sets
    // and materialized the intersection array per candidate pair
    // (measured r15: 132 s task CPU on the sf0.1 minhash verify stage
    // alone). sort_array runs below the pair join, ONCE per doc row
    // per leg, and is amortized over every pair the doc joins into.
    val scored = cands
      .join(arr.select(col(id).as("id_a"),
        sort_array(col("__shs")).as("__sa"),
        col("n").as("na")), "id_a")
      .join(arr.select(col(id).as("id_b"),
        sort_array(col("__shs")).as("__sb"),
        col("n").as("nb")), "id_b")
      // bigint by expression: the historical schema (count()) is
      // bigint and the oracle/driver compare is schema-sensitive
      .withColumn("inter",
        call_function("graft_sorted_intersect_count",
          col("__sa"), col("__sb")))
      .withColumn(scoreCol, scoreExpr)
      .filter(col(scoreCol) >= threshold)
    if (withInter)
      scored.select(col("id_a"), col("id_b"), col("inter"),
        round(col(scoreCol), 6).as(scoreCol))
    else
      scored.select(col("id_a"), col("id_b"), round(col(scoreCol), 6).as(scoreCol))
  }

  /** Document-frequency-capped n-gram Jaccard: the inverted-index
    * candidate join is restricted to shingles appearing in ≤ maxDf
    * documents — the standard hot-shingle cap that bounds the
    * quadratic pair blowup (a shingle shared by d docs yields d²/2
    * candidate rows; boilerplate shingles make the exact baseline
    * explode at corpus scale). Candidates are then verified with the
    * FULL shingle sets, so every reported jaccard is exact; recall is
    * lost only for pairs whose overlap is hot shingles exclusively.
    * Output: id_a < id_b, inter, jaccard (≥ threshold).
    */
  def ngramJaccardCapped(df: DataFrame, id: String, text: String, k: Int,
      threshold: Double, maxDf: Int): DataFrame =
    cappedPairs(df, id, text, k, threshold, maxDf, containment = false)

  /** The df-capped scorers' shared body: candidates from the per-doc
    * shingle aggregate exploded back into distinct (id, sh60) rows,
    * verified against the same aggregate.
    */
  private def cappedPairs(df: DataFrame, id: String, text: String, k: Int,
      threshold: Double, maxDf: Int, containment: Boolean): DataFrame = {
    val sets = shingleSets(shingleRows(df, id, text, k), id)
    val sh = sets.select(col(id), explode(col("__shs")).as("sh60"))
    verifyJaccardArr(sets, dfCappedCandidates(sh, id, maxDf), id, threshold,
      withInter = true, containment)
  }

  /** df-capped inverted-index candidate generation, shared by the
    * capped-jaccard and containment scorers (one definition so the
    * cap/pairing semantics can't drift): shingles with df ≤ maxDf form
    * the index, candidates are distinct pairs sharing ≥ 1 indexed
    * shingle, id_a < id_b. `sh` holds distinct (id, sh60) rows.
    */
  private[graft] def dfCappedCandidates(sh: DataFrame, id: String,
      maxDf: Int): DataFrame = {
    val rare = sh.groupBy("sh60").agg(count(lit(1)).as("__df"))
      .filter(col("__df") <= maxDf).select("sh60")
    val idx = sh.join(rare, "sh60")
    idx.as("a")
      .join(idx.as("b"),
        col("a.sh60") === col("b.sh60") && col(s"a.$id") < col(s"b.$id"))
      .select(col(s"a.$id").as("id_a"), col(s"b.$id").as("id_b")).distinct()
  }

  /** Exact pairwise n-gram Jaccard: every pair with J ≥ threshold,
    * exact scores — the same pairs as the inverted-index self-join
    * over every shingle (ExtSpec pins the two equal across
    * thresholds), with subquadratic candidate generation, the classic
    * All-Pairs / PPJoin prefix filter (Bayardo et al., WWW'07; Xiao
    * et al., WWW'08).
    *
    * Every document's shingles are ranked by one GLOBAL total order
    * (document frequency asc, hash asc — rarest first) and only its
    * PREFIX of length n − ⌈t·n⌉ + 1 enters the inverted index:
    * if J(A,B) ≥ t then |A∩B| ≥ t·max(|A|,|B|), so removing the
    * ⌈t·n⌉ − 1 most-common shingles from each side cannot erase the
    * whole intersection — prefixes of true pairs MUST collide
    * (no recall loss, unlike the df-cap which drops hot pairs).
    * A length filter (min/max ≥ t, relaxed by 1e-9 so float rounding
    * can only ADD candidates, never drop a true pair) prunes the
    * rest before the exact verify tail scores full shingle sets.
    *
    * Scale shape: the index holds ~(1−t) of each doc's shingles,
    * ordered so the HOT shingles are exactly the ones excluded first —
    * candidate volume is driven by rare-shingle collisions, not the
    * df² blowup of the full inverted index. Still worst-case
    * quadratic on a corpus of near-identical docs (as is the answer
    * itself); positional filtering is the known further refinement.
    * Output: id_a < id_b, inter, jaccard (≥ threshold).
    */
  def ngramJaccardPrefix(df: DataFrame, id: String, text: String, k: Int,
      threshold: Double): DataFrame = {
    val sh = shinglesHashed(df, id, text, k)
    val dfreq = sh.groupBy("sh60").agg(count(lit(1)).as("__df"))
    // Global rarest-first order realized as ONE aggregation: per doc,
    // collect (df, sh60) and array_sort (struct sort = lexicographic
    // by field order = df asc, sh60 asc). This replaces the earlier
    // row_number window — same order, but the aggregate's exchange
    // carries each shingle once and skips the window's full
    // partition-sort pass; and the sorted per-doc array is EXACTLY
    // the shape the verify tail needs, so one cached table serves
    // both the prefix index and the scorer (the window form rebuilt
    // it). Per-row memory bounded by the largest doc's shingle count.
    val docArr = graft.core.Caches.cached(
      sh.join(dfreq, "sh60")
        .groupBy(col(id))
        .agg(array_sort(collect_list(struct(col("__df"), col("sh60"))))
          .as("__ranked"))
        .select(col(id),
          transform(col("__ranked"), x => x.getField("sh60")).as("__shs"),
          size(col("__ranked")).as("__n")))
    // prefix length n − ⌈t·n⌉ + 1; the −1e-9 inside ceil biases float
    // rounding toward a LONGER prefix (extra candidates, never lost ones)
    val prefixLen = (col("__n") -
      ceil(col("__n") * lit(threshold) - lit(1e-9)) + 1).cast("int")
    val prefix = docArr
      .select(col(id), col("__n"),
        posexplode(slice(col("__shs"), lit(1), prefixLen)))
      .select(col(id), col("col").as("sh60"), col("__n"),
        (col("pos") + 1).as("__rn"))
    // join-time pruning, both relaxed by 1e-9 so float rounding can only
    // ADD candidates: (a) length filter — J ≥ t forces min/max ≥ t;
    // (b) PPJoin positional filter — a match at global-order positions
    // (ia, ib) bounds the overlap by 1 + min(na−ia, nb−ib), which must
    // reach ⌈t·(na+nb)/(1+t)⌉ (the equivalent-overlap form of J ≥ t).
    // On corpora where every shingle is hot (prefixes prune little),
    // (b) is what collapses the candidate set: both docs must match
    // EARLY in their prefixes, not merely somewhere inside them.
    val cands = prefix.as("a")
      .join(prefix.as("b"),
        col("a.sh60") === col("b.sh60") && col(s"a.$id") < col(s"b.$id") &&
          least(col("a.__n"), col("b.__n")) * lit(1.0) /
            greatest(col("a.__n"), col("b.__n")) >= lit(threshold - 1e-9) &&
          (lit(1) + least(col("a.__n") - col("a.__rn"),
            col("b.__n") - col("b.__rn"))) * lit(1.0 + threshold) >=
            (col("a.__n") + col("b.__n")) * lit(threshold) - lit(1e-9))
      .select(col(s"a.$id").as("id_a"), col(s"b.$id").as("id_b")).distinct()
    // verify straight off the cached per-doc arrays — no shingle-table
    // rebuild, no candidate-id restriction needed (docArr is already
    // materialized and the verify joins touch only candidate rows)
    verifyJaccardArr(
      docArr.select(col(id), col("__shs"), col("__n").as("n")),
      graft.core.Caches.cached(cands), id, threshold, withInter = true)
  }

  /** Asymmetric n-gram CONTAINMENT pairs: C = |A∩B| / min(|A|,|B|)
    * over the same df-capped inverted-index candidates as
    * [[ngramJaccardCapped]]. Containment is the near-dup signal
    * symmetric jaccard structurally misses — a short document embedded
    * verbatim inside a much longer one (quote expansion, boilerplate
    * wrapping) has jaccard ≈ |short|/|long| → 0 but containment 1.
    * Same scale shape as the capped jaccard: candidate blowup bounded
    * by maxDf, exact scores from the full shingle sets.
    * Output: id_a < id_b, inter, containment (≥ threshold).
    */
  def containmentPairs(df: DataFrame, id: String, text: String, k: Int,
      threshold: Double, maxDf: Int): DataFrame =
    cappedPairs(df, id, text, k, threshold, maxDf, containment = true)

  /** Per-row MinHash signature ARRAY — element i is the min over the
    * doc's k-word shingles of h1 + i·h2 (Kirsch-Mitzenmacher double
    * hashing off md5(sh60 as string): h1 = 60 bits, h2 = 44 bits —
    * identical values to the historical shingle-table groupBy
    * aggregation, which this replaces). Computed as ONE array fold per
    * document inside its scan task: no explode, no shuffle — at corpus
    * scale this removes an entire shuffle of the shingle table from
    * the LSH pipeline (the min over the raw shingle multiset equals
    * the min over the distinct set, so skipping the distinct changes
    * nothing). The whole signature vector is a SINGLE expression with
    * the per-shingle hash array let-bound via a one-element-array
    * transform: projecting numHashes separate sig columns instead was
    * measured 20× slower, because lambda expressions get no
    * cross-column common-subexpression elimination and every column
    * re-ran the md5 pass. Docs with fewer than k words (no shingles)
    * get an array of NULLs.
    */
  def minHashSigArray(text: Column, k: Int, numHashes: Int): Column = {
    val w = split(lower(trim(text)), "\\s+")
    val shArr = when(size(w) >= k,
      transform(sequence(lit(1), size(w) - (k - 1)),
        i => array_join(slice(w, i, lit(k)), " ")))
      .otherwise(array().cast("array<string>"))
    val hPairs = transform(shArr, s => {
      val hex = md5(hash60(s).cast("string"))
      struct(conv(substring(hex, 1, 15), 16, 10).cast("long").as("h1"),
        conv(substring(hex, 16, 11), 16, 10).cast("long").as("h2"))
    })
    element_at(transform(array(hPairs), hp =>
      transform(sequence(lit(0), lit(numHashes - 1)),
        i => array_min(transform(hp,
          p => p.getField("h1") + i.cast("long") * p.getField("h2"))))), 1)
  }

  /** Per-row LSH band keys off [[minHashSigArray]]: array of (band,
    * key) structs, key = the historical arithmetic band mix of the
    * band's signature rows. Single expression tree (signature array
    * let-bound once) for the same CSE reason. Shingle-less docs yield
    * structs with NULL keys — filter them after the explode.
    */
  def minHashBands(text: Column, k: Int, numHashes: Int,
      bands: Int): Column = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val rows = numHashes / bands
    element_at(transform(array(minHashSigArray(text, k, numHashes)), sa =>
      transform(sequence(lit(0), lit(bands - 1)), b => {
        val parts = (0 until rows).map(r =>
          element_at(sa, b * lit(rows) + lit(r + 1)))
        val key = parts.reduce((a, c) =>
          ((a % lit(1L << 61)) * 2).bitwiseXOR(c))
        struct(b.as("band"), key.as("key"))
      })), 1)
  }

  /** MinHash + LSH near-dup detection. numHashes double-hashed
    * min-signatures per doc, aggregated with the doc's shingle set
    * ([[shingleSets]]); signatures grouped into `bands` bands
    * whose arithmetic mix is the LSH bucket key; docs sharing any
    * (band, key) bucket are candidates; candidates are verified with
    * exact shingle Jaccard. Deterministic end to end.
    * Output: id_a < id_b, jaccard (≥ threshold; LSH recall applies).
    */
  def minHashLsh(df: DataFrame, id: String, text: String, k: Int = 2,
      numHashes: Int = 12, bands: Int = 6, threshold: Double = 0.5): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val rows = numHashes / bands
    // Batch signatures are min aggregates in the per-doc shingle
    // aggregate the verify tail reads anyway ([[shingleSets]]), so the
    // shingle pass is planned once, codegen'd. The per-row
    // [[minHashSigArray]] fold was A/B-measured here: 14.0 s vs 6 s
    // at sf0.1 — higher-order-function lambdas evaluate interpreted
    // (outside whole-stage codegen), so folding in-row re-runs the
    // shingle+md5 pass at interpreted speed. The fold remains the right
    // shape where no shuffle is available at all — the STREAMING
    // detector (StreamingQc.nearDupCandidatesStream) uses it, and
    // ExtSpec's "per-row minhash signatures equal the shingle-table
    // groupBy aggregation" pins both formulations equal. The min over
    // the shingle multiset equals the min over the distinct set.
    // Kirsch-Mitzenmacher double hashing: ONE md5 per shingle row
    // yields two independent sub-hashes (h1: 60 bits, h2: 44 bits);
    // signature_i = min(h1 + i·h2) is then pure long arithmetic — no
    // per-signature string hashing, no overflow (max < 2^61), and the
    // identical expression runs in the SQL oracle.
    val hex = md5(col("sh60").cast("string"))
    val shH = shingleRows(df, id, text, k)
      .withColumn("__h1", conv(substring(hex, 1, 15), 16, 10).cast("long"))
      .withColumn("__h2", conv(substring(hex, 16, 11), 16, 10).cast("long"))
    val sigAggs = (0 until numHashes).map(i =>
      min(col("__h1") + lit(i.toLong) * col("__h2")).as(s"sig_$i"))
    val sigs = shingleSets(shH, id, sigAggs: _*)
    // band key mixes its row signatures arithmetically; the mod keeps
    // every intermediate below 2^62 for any band width (no BIGINT
    // overflow in either engine); band id disambiguates identical keys
    val bandCols = (0 until bands).map { b =>
      val parts = (0 until rows).map(r => col(s"sig_${b * rows + r}"))
      val key = parts.reduce((a, c) =>
        ((a % lit(1L << 61)) * 2).bitwiseXOR(c))
      struct(lit(b).as("band"), key.as("key")).as(s"b$b")
    }
    val buckets = sigs.select((col(id) +: bandCols): _*)
      .withColumn("bk", explode(array((0 until bands).map(b => col(s"b$b")): _*)))
      .select(col(id), col("bk.band").as("band"), col("bk.key").as("key"))
    val cands = buckets.as("x")
      .join(buckets.as("y"),
        col("x.band") === col("y.band") && col("x.key") === col("y.key") &&
          col(s"x.$id") < col(s"y.$id"))
      .select(col(s"x.$id").as("id_a"), col(s"y.$id").as("id_b")).distinct()
    verifyJaccardArr(sigs, cands, id, threshold, withInter = false)
  }

  /** 32-bit SimHash over word occurrences: bit j of the fingerprint is
    * the sign of Σ_words count·(±1 by bit j of hash60(word)).
    * Output: id, simhash (long).
    */
  def simHash(df: DataFrame, id: String, text: String, bits: Int = 32): DataFrame = {
    // fan an under-split scan out before the tokenize/explode kernel
    // (guide §2.5; identity at cluster scale — see FanOut)
    val words = graft.core.FanOut(df.select(col(id), col(text)))
      .withColumn("__w", explode(split(lower(trim(col(text))), "\\s+")))
      .groupBy(col(id), col("__w")).agg(count(lit(1)).as("__c"))
      .withColumn("__h", hash60(col("__w")))
    val bitSums = (0 until bits).map(j =>
      sum(((shiftright(col("__h"), j).bitwiseAND(1)) * 2 - 1) * col("__c")).as(s"__s$j"))
    val sums = words.groupBy(id).agg(bitSums.head, bitSums.tail: _*)
    val fp = (0 until bits).map(j =>
      when(col(s"__s$j") > 0, lit(1L << j)).otherwise(0L)).reduce(_ + _)
    sums.select(col(id), fp.as("simhash"))
  }

  /** Near-dup pairs by Hamming distance ≤ maxDist over an arbitrary
    * integer fingerprint column (text SimHash, perceptual image
    * dHash/aHash — any ≤ nChunks·chunkBits-bit hash), found by the
    * pigeonhole band join: with `nChunks` disjoint chunks and
    * maxDist ≤ nChunks − 1, any pair within distance maxDist agrees
    * on at least one chunk — candidates join on chunk equality, then
    * exact bit_count filter. Output: id_a < id_b, hamming.
    */
  /** Explode a fingerprint into one row per (chunk index, chunk
    * value) — the band key of every pigeonhole Hamming join (the
    * self-pair finder and the incremental cross-corpus form share
    * this single definition of the chunking).
    */
  private[ext] def chunkExploded(fp: DataFrame, hashCol: String, nChunks: Int,
      chunkBits: Int): DataFrame = {
    val mask = (1L << chunkBits) - 1
    fp.withColumn("chunk",
      explode(array((0 until nChunks).map(c =>
        struct(lit(c).as("c"),
          shiftright(col(hashCol), c * chunkBits).bitwiseAND(mask).as("v"))): _*)))
  }

  def hammingPairs(fp: DataFrame, id: String, hashCol: String,
      nChunks: Int, chunkBits: Int, maxDist: Int): DataFrame = {
    require(maxDist < nChunks,
      s"pigeonhole needs maxDist ($maxDist) < nChunks ($nChunks)")
    // chunkBits = 64 would make the mask (1L << 64) - 1 = 0 (Java
    // shifts mask the amount mod 64) and alias every chunk to 0
    require(chunkBits >= 1 && chunkBits <= 63,
      s"chunkBits must be in [1, 63], got $chunkBits")
    // Java/Spark shifts mask the amount mod 64, so a config whose top
    // chunk starts at bit >= 64 would silently ALIAS chunks onto low
    // bits and lose pairs the pigeonhole contract promises
    require(nChunks * chunkBits <= 64,
      s"chunks must fit a 64-bit hash: nChunks*chunkBits = ${nChunks * chunkBits}")
    val mask = (1L << chunkBits) - 1
    val chunks = chunkExploded(fp, hashCol, nChunks, chunkBits)
    // A pair sharing m chunks would surface m times; instead of a
    // distinct() shuffle over the expanded candidate set, keep only the
    // match on the SMALLEST shared chunk index (earlier chunks must
    // differ) — each pair appears exactly once, no dedup pass.
    // foldLeft over lit(0), not reduce: nChunks = 1 (maxDist = 0 —
    // exact fingerprint equality) has NO earlier chunks and a bare
    // reduce would throw on the empty sequence.
    val earlierChunkEqual = (0 until nChunks - 1).map { ci =>
      when(lit(ci) < col("x.chunk.c"),
        (shiftright(col(s"x.$hashCol"), ci * chunkBits).bitwiseAND(mask) ===
          shiftright(col(s"y.$hashCol"), ci * chunkBits).bitwiseAND(mask)).cast("int"))
        .otherwise(0)
    }.foldLeft(lit(0): Column)(_ + _)
    val cands = chunks.as("x")
      .join(chunks.as("y"),
        col("x.chunk.c") === col("y.chunk.c") && col("x.chunk.v") === col("y.chunk.v") &&
          col(s"x.$id") < col(s"y.$id"))
      .filter(earlierChunkEqual === 0)
      .select(col(s"x.$id").as("id_a"), col(s"x.$hashCol").as("ha"),
        col(s"y.$id").as("id_b"), col(s"y.$hashCol").as("hb"))
    cands
      .withColumn("hamming", bit_count(col("ha").bitwiseXOR(col("hb"))))
      .filter(col("hamming") <= maxDist)
      .select("id_a", "id_b", "hamming")
  }

  /** Near-dup pairs by SimHash Hamming distance ≤ maxDist: the 32-bit
    * [[simHash]] fingerprint through [[hammingPairs]]' pigeonhole
    * band join (4 8-bit chunks cover maxDist ≤ 3).
    * Output: id_a < id_b, hamming.
    */
  def simHashPairs(df: DataFrame, id: String, text: String,
      maxDist: Int = 3): DataFrame = {
    val fp = graft.core.Caches.cached(simHash(df, id, text))
    hammingPairs(fp, id, "simhash", nChunks = 4, chunkBits = 8, maxDist)
  }

  /** [[hammingPairs]] with a hot-band df cap — the skew guard of the
    * pigeonhole band join (the [[ngramJaccardCapped]] `maxDf` idiom
    * applied to chunk keys). A chunk value shared by d fingerprints
    * contributes d·(d−1)/2 candidate rows; one pathological band key
    * (an exact-dup flood, a degenerate fingerprint) makes that single
    * reducer quadratic while every other key stays tiny. Here any
    * (chunk index, value) key with df > `maxChunkDf` is dropped from
    * candidate generation BEFORE the self-join, via a broadcast
    * anti-join against the (tiny) hot-key table — the prune is
    * map-side; the self-join then has a per-key row bound of
    * maxChunkDf·(maxChunkDf−1)/2.
    *
    * Recall contract: a pair is missed only if EVERY chunk the two
    * fingerprints agree on is hot — on a corpus with no hot keys the
    * output is row-identical to [[hammingPairs]]. The typical hot key
    * is an exact-duplicate flood (identical fingerprints heat all
    * their chunks at once), which an upstream exact pass
    * ([[exactDups]]) already collapses — run the cap AFTER exact
    * dedup and the misses are pathological near-dup floods a curation
    * pipeline wants rate-limited anyway.
    *
    * The smallest-shared-chunk dedup trick is unsound under a cap (a
    * pair whose smallest shared chunk is hot would vanish even when a
    * later cold chunk still matches it), so the capped form dedups
    * candidates with a distinct on the pair key — multiplicity is
    * bounded by nChunks, and the distinct rides the same pair-key
    * exchange the hamming filter needs.
    * Output: id_a < id_b, hamming — [[hammingPairs]]' schema.
    */
  def hammingPairsCapped(fp: DataFrame, id: String, hashCol: String,
      nChunks: Int, chunkBits: Int, maxDist: Int,
      maxChunkDf: Long): DataFrame = {
    require(maxDist < nChunks,
      s"pigeonhole needs maxDist ($maxDist) < nChunks ($nChunks)")
    require(chunkBits >= 1 && chunkBits <= 63,
      s"chunkBits must be in [1, 63], got $chunkBits")
    require(nChunks * chunkBits <= 64,
      s"chunks must fit a 64-bit hash: nChunks*chunkBits = ${nChunks * chunkBits}")
    require(maxChunkDf >= 1, s"maxChunkDf must be >= 1, got $maxChunkDf")
    val chunks = chunkExploded(fp, hashCol, nChunks, chunkBits)
    // the hot-key table holds ONLY keys over the cap — at a sane cap
    // that is a handful of rows even on a skewed corpus, so the prune
    // broadcasts and the chunk table never shuffles for it
    val hot = chunks.groupBy(col("chunk"))
      .agg(count(lit(1)).as("__df"))
      .filter(col("__df") > maxChunkDf)
      .select("chunk")
    val kept = chunks.join(broadcast(hot), Seq("chunk"), "left_anti")
    kept.as("x")
      .join(kept.as("y"),
        col("x.chunk") === col("y.chunk") && col(s"x.$id") < col(s"y.$id"))
      .select(col(s"x.$id").as("id_a"), col(s"x.$hashCol").as("ha"),
        col(s"y.$id").as("id_b"), col(s"y.$hashCol").as("hb"))
      .distinct()
      .withColumn("hamming", bit_count(col("ha").bitwiseXOR(col("hb"))))
      .filter(col("hamming") <= maxDist)
      .select("id_a", "id_b", "hamming")
  }

  /** [[simHashPairs]] with the [[hammingPairsCapped]] hot-band guard:
    * SimHash near-dup pairs whose band join is skew-bounded by
    * `maxChunkDf`. Row-identical to [[simHashPairs]] whenever no
    * 8-bit chunk key is shared by more than `maxChunkDf` documents.
    * Output: id_a < id_b, hamming.
    */
  def simHashPairsCapped(df: DataFrame, id: String, text: String,
      maxDist: Int = 3, maxChunkDf: Long = 5000L): DataFrame = {
    val fp = graft.core.Caches.cached(simHash(df, id, text))
    hammingPairsCapped(fp, id, "simhash", nChunks = 4, chunkBits = 8,
      maxDist, maxChunkDf)
  }

  /** Incremental NEAR-dup against a known corpus — the append-only
    * ingest twin of [[dedupAgainstKnown]] (which catches only exact
    * normalized matches): each fresh-batch doc is checked for SimHash
    * Hamming proximity to (a) the known corpus and (b) earlier docs of
    * its own batch. The scale contract is the one incremental
    * ingestion needs: the known side is never re-paired against
    * itself — its chunk table feeds ONE equi-join keyed on the fresh
    * batch's chunks. Per-ingest cost is O(|corpus text| + |batch| +
    * matches) when the known fingerprints are recomputed (the corpus
    * term is a single map-side SimHash pass — no corpus×corpus
    * pairing); passing the persisted fingerprint index via `knownFp`
    * (the output of [[simHash]](known) from a previous ingest, or the
    * previous index unioned with the batch fingerprints this call
    * computes — the index-maintenance shape a real append-only
    * pipeline runs) removes the corpus-TEXT pass: what remains on the
    * known side is one map-side chunk-explode of the 16-byte-per-doc
    * index rows into the band join — index-sized, not text-sized,
    * work per ingest.
    * Candidate multiplicity (a pair sharing m chunks
    * surfaces m times) is harmless here because the reduction is a
    * min/agg per fresh doc, so no distinct pass and no
    * smallest-chunk trick is needed on the cross join.
    * Output: one row per fresh doc — id, dup_of_known (min known id
    * within maxDist), dup_of_batch (min earlier same-batch id within
    * maxDist), keep = both NULL.
    */
  def simHashIncremental(fresh: DataFrame, known: DataFrame, id: String,
      text: String, maxDist: Int = 3,
      knownFp: Option[DataFrame] = None): DataFrame = {
    val fpF = graft.core.Caches.cached(simHash(fresh, id, text))
    val fpK = knownFp.getOrElse(simHash(known, id, text))
    val (crossMatch, intraMatch) = simHashIncrMatches(fpF, fpK, id, maxDist)
    fpF.select(col(id))
      .join(crossMatch, Seq(id), "left")
      .join(intraMatch, Seq(id), "left")
      .select(col(id), col("dup_of_known"), col("dup_of_batch"),
        (col("dup_of_known").isNull && col("dup_of_batch").isNull).as("keep"))
  }

  /** The two near-dup match legs of incremental ingest over prebuilt
    * fingerprint tables (id, simhash): the fresh×known chunk
    * equi-join (dup_of_known — min known id within maxDist) and the
    * intra-batch pigeonhole pairs (dup_of_batch — min earlier
    * same-batch id). One definition so [[simHashIncremental]] and
    * [[dedupIngest]] can never drift.
    */
  private def simHashIncrMatches(fpF: DataFrame, fpK: DataFrame,
      id: String, maxDist: Int): (DataFrame, DataFrame) = {
    val nChunks = 4
    val chunkBits = 8
    def chunked(fp: DataFrame, side: String) = chunkExploded(
      fp.select(col(id).as(s"${side}_id"), col("simhash").as(s"${side}_sh")),
      s"${side}_sh", nChunks, chunkBits)
    val crossMatch = chunked(fpK, "k")
      .join(chunked(fpF, "f"), Seq("chunk"))
      .filter(bit_count(col("k_sh").bitwiseXOR(col("f_sh"))) <= maxDist)
      .groupBy(col("f_id").as(id))
      .agg(min(col("k_id")).as("dup_of_known"))
    val intraMatch = hammingPairs(fpF, id, "simhash",
      nChunks, chunkBits, maxDist)
      .groupBy(col("id_b").as(id))
      .agg(min(col("id_a")).as("dup_of_batch"))
    (crossMatch, intraMatch)
  }

  /** UNIFIED incremental-ingest dedup — the one call a real
    * append-only pipeline makes per batch: exact verdicts
    * ([[dedupAgainstKnown]]'s content-hash check) AND near verdicts
    * ([[simHashIncremental]]'s SimHash proximity, cross-corpus +
    * intra-batch) from a SINGLE pass over the fresh batch. The fresh
    * side is normalized/hashed once into a cached base projection;
    * the exact leg and the fingerprint pass both read that cache, so
    * the batch input is scanned exactly once (PlanGuardSpec pins one
    * materialization feeding all legs). The known side contributes
    * its two index shapes — distinct content hashes and the SimHash
    * fingerprint table — each one map-side pass, and BOTH reusable
    * across ingests: pass `knownFp` ([[simHash]](known) output) and
    * `knownIndex` (a 1-column `text_hash` table of distinct known
    * content hashes) from a previous ingest and the known corpus
    * TEXT is not rescanned at all. The known-side work that remains
    * per ingest is index-sized, not text-sized: a defensive distinct
    * over the hash index and the chunk-explode of the fingerprint
    * rows into the band join. The indexes themselves extend with the
    * batch's own rows, which this call already computes.
    *
    * When BOTH `knownFp` and `knownIndex` are supplied, `known` is
    * NEVER touched (the plan contains no reference to it) — but the
    * caller still has to pass something. A real index-reuse pipeline
    * should call [[dedupIngestIndexed]] instead, which drops the
    * corpus-text parameter entirely so a stale-index/corpus mismatch
    * cannot hide behind an ignored argument.
    * Output: one row per fresh doc — id, text_hash, is_known (exact
    * match in corpus), dup_of_known, dup_of_batch (near matches),
    * keep = none of the three fired.
    */
  def dedupIngest(fresh: DataFrame, known: DataFrame, id: String,
      text: String, maxDist: Int = 3,
      knownFp: Option[DataFrame] = None,
      knownIndex: Option[DataFrame] = None): DataFrame = {
    // the defensive distinct over a provided index (duplicate hash
    // rows would silently fan out the left join) lives in ONE place:
    // dedupIngestIndexed applies it to whatever index arrives here
    val index = knownIndex
      .map(_.select(col("text_hash")))
      .getOrElse(known.select(normHash(col(text)).as("text_hash")))
    val fpK = knownFp.getOrElse(simHash(known, id, text))
    dedupIngestIndexed(fresh, fpK, index, id, text, maxDist)
  }

  /** [[dedupIngest]] for the index-reuse path — the per-batch call of
    * an append-only pipeline that persists its indexes: takes ONLY
    * the two reusable known-side artifacts ([[simHash]](known) and
    * the distinct `text_hash` table) and no corpus-text DataFrame at
    * all, so the caller never ships a corpus it doesn't want scanned
    * and a mismatched `known` argument can't silently disagree with
    * the indexes. Verdicts are identical to [[dedupIngest]] on the
    * corpus the indexes were built from (ExtSpec pins the
    * equivalence).
    */
  def dedupIngestIndexed(fresh: DataFrame, knownFp: DataFrame,
      knownIndex: DataFrame, id: String, text: String,
      maxDist: Int = 3): DataFrame = {
    val base = graft.core.Caches.cached(
      fresh.select(col(id), col(text), normHash(col(text)).as("text_hash")))
    val index = knownIndex.select(col("text_hash")).distinct()
      .withColumn("__k", lit(true))
    val fpF = graft.core.Caches.cached(simHash(base, id, text))
    val (crossMatch, intraMatch) = simHashIncrMatches(fpF, knownFp, id, maxDist)
    base.select(col(id), col("text_hash"))
      .join(index, Seq("text_hash"), "left")
      .join(crossMatch, Seq(id), "left")
      .join(intraMatch, Seq(id), "left")
      .select(col(id), col("text_hash"),
        coalesce(col("__k"), lit(false)).as("is_known"),
        col("dup_of_known"), col("dup_of_batch"),
        (!coalesce(col("__k"), lit(false)) &&
          col("dup_of_known").isNull && col("dup_of_batch").isNull).as("keep"))
  }

  /** Cross-document repeated-SPAN detection — the substring-level
    * exact-dedup axis of Lee et al. 2022 ("Deduplicating Training
    * Data Makes Language Models Better"), which doc-level hashing and
    * shingle-set jaccard both structurally miss: a 60-token license
    * header pasted into two otherwise-unrelated documents. Their
    * suffix-array formulation is single-machine; the Spark-shaped
    * equivalent anchors on fixed-L positioned shingles: every
    * repeated token span of length M ≥ L contains exactly M−L+1
    * consecutive L-shingle matches at a CONSTANT position offset, so
    * grouping anchor matches by (doc pair, offset diagonal) and
    * merging consecutive runs (gaps-and-islands) reconstructs every
    * maximal repeated span — span_len = run_length + L − 1, exact.
    *
    * Scale shape: anchors meet through an inverted-index equi-join on
    * the 60-bit shingle hash with an occurrence cap (`maxDf` — the
    * [[ngramJaccardCapped]] hot-key bound: an anchor occurring d
    * times yields up to d² candidate rows, so boilerplate anchors
    * are dropped before the join; a true span broken by a dropped
    * hot anchor surfaces as two shorter spans — recall is lost only
    * for spans made PURELY of hot anchors). Candidate volume is
    * Σ_anchor df² with df ≤ maxDf — never all-pairs; the islands
    * pass windows over (id_a, id_b, diag) partitions, bounded by the
    * per-pair match count, never the corpus.
    *
    * Output: id_a < id_b, a_start, b_start (0-based token positions),
    * span_len (tokens, ≥ minLen) — one row per maximal shared span.
    */
  def substringSpans(df: DataFrame, id: String, text: String,
      minLen: Int = 8, maxDf: Int = 20): DataFrame = {
    require(minLen >= 2, s"minLen must be >= 2, got $minLen")
    val words = split(lower(trim(col(text))), "\\s+")
    val positions = gramPositions(col("__words"), minLen)
    // positioned anchors — NOT distinct: the same shingle at two
    // positions of one doc is two anchors on two diagonals
    val anch = graft.core.Caches.cached(df
      .withColumn("__words", words)
      .withColumn("__i", explode(positions))
      .select(col(id), (col("__i") - 1).as("pos"),
        hash60(array_join(slice(col("__words"), col("__i"), lit(minLen)), " "))
          .as("ah")))
    val rare = anch.groupBy("ah").agg(count(lit(1)).as("__df"))
      .filter(col("__df") <= maxDf).select("ah")
    val idx = anch.join(rare, "ah")
    val m = idx.as("a")
      .join(idx.as("b"),
        col("a.ah") === col("b.ah") && col(s"a.$id") < col(s"b.$id"))
      .select(col(s"a.$id").as("id_a"), col(s"b.$id").as("id_b"),
        col("a.pos").as("pa"), (col("b.pos") - col("a.pos")).as("diag"))
    val w = Window.partitionBy("id_a", "id_b", "diag").orderBy(col("pa"))
    m.withColumn("__rn", row_number().over(w))
      .withColumn("__grp", col("pa") - col("__rn"))
      .groupBy(col("id_a"), col("id_b"), col("diag"), col("__grp"))
      .agg(min(col("pa")).as("a_start"), count(lit(1)).as("__n"))
      .select(col("id_a"), col("id_b"), col("a_start"),
        (col("a_start") + col("diag")).as("b_start"),
        (col("__n") + (minLen - 1)).as("span_len"))
  }

  /** Apply [[substringSpans]]' findings — the ACT half of
    * substring-level dedup (Lee et al. 2022 deduplicate by REMOVING
    * the repeated span from all but one occurrence): every token
    * position of the LATER document (the id_b side — keep-first, the
    * same convention as line/exact dedup) covered by any detected
    * span is dropped; the first occurrence (id_a side) keeps its
    * text. Overlapping spans union naturally through the distinct
    * position set. Output text is the normalized (lowercased,
    * whitespace-collapsed) token stream — the same contract as
    * line-level dedup's text_dedup.
    *
    * Scale shape: the removal set explodes one row per REMOVED token
    * (Σ span_len — bounded by the matched duplication volume, not the
    * corpus), the token table is one tokenize pass, and the anti-join
    * runs on the (id, pos) key both sides are already keyed by; the
    * per-doc rebuild sorts arrays bounded by the longest document.
    * Output: id, n_tokens, n_kept, text_dedup (one row per input doc).
    */
  def removeDupSpans(df: DataFrame, id: String, text: String,
      spans: DataFrame): DataFrame = {
    val words = split(lower(trim(col(text))), "\\s+")
    val toks = graft.core.Caches.cached(df
      .withColumn("__words", words)
      .select(col(id), posexplode(col("__words"))).toDF(id, "pos", "w"))
    val toRemove = spans.select(col("id_b").as(id),
      explode(sequence(col("b_start").cast("long"),
        col("b_start").cast("long") + col("span_len") - 1)).as("__p"))
      .select(col(id), col("__p").cast("int").as("pos"))
      .distinct()
    val keptAgg = toks.join(toRemove, Seq(id, "pos"), "left_anti")
      .groupBy(col(id))
      .agg(count(lit(1)).as("__nk"),
        array_join(transform(
          array_sort(collect_list(struct(col("pos"), col("w")))),
          s => s.getField("w")), " ").as("__td"))
    df.select(col(id), size(words).cast("long").as("n_tokens"))
      .join(keptAgg, Seq(id), "left")
      .select(col(id), col("n_tokens"),
        coalesce(col("__nk"), lit(0L)).as("n_kept"),
        coalesce(col("__td"), lit("")).as("text_dedup"))
  }

  /** Train/test DECONTAMINATION sweep — flag training documents whose
    * k-shingle overlap with any benchmark/eval document reaches
    * `minShared` distinct shingles (the standard pre-training hygiene
    * pass: evaluation text leaking into the corpus inflates benchmark
    * scores). Shape: inverted-index equi-join on the 60-bit shingle
    * hash; the benchmark side is small by construction (eval suites
    * are tiny next to a 100 TB corpus), so AQE broadcasts its shingle
    * index and the corpus side streams map-side — no shuffle of the
    * training shingles beyond the aggregation on (doc, bench) hits.
    * Output: id, bench_id, shared (≥ minShared).
    */
  def decontaminate(train: DataFrame, bench: DataFrame, id: String,
      text: String, k: Int, minShared: Int): DataFrame = {
    val tsh = shinglesHashed(train, id, text, k)
    val bsh = shinglesHashed(bench, id, text, k)
      .withColumnRenamed(id, "bench_id")
    tsh.join(bsh, "sh60")
      .groupBy(col(id), col("bench_id"))
      .agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= minShared)
  }

  /** Embedding-space decontamination — the SEMANTIC twin of
    * [[decontaminate]]: a paraphrased benchmark question shares no
    * 3-shingles with its source, but its embedding still lands next
    * to it, so eval-set leakage audits run both passes. Flags every
    * training doc whose embedding cosine with ANY benchmark doc
    * reaches `threshold`.
    *
    * Scale shape mirrors [[graft.ext.Similarity.bruteForceTopK]]'s
    * declared contract: the benchmark set is the SMALL axis (an eval
    * suite — thousands of rows, not a corpus) and is broadcast; the
    * training corpus streams map-side, is never reshuffled, and the
    * per-doc aggregate combines map-side — the corpus-axis work is
    * one scan. For benchmark sets too big to broadcast, bucket both
    * sides with [[graft.ext.Similarity.signBucket]] first (the
    * cosinePairs escalation), trading recall for an equi-join.
    * Output: train_id (≥1 hit only), n_bench_hits, max_cos (6 dp).
    */
  def semanticDecontaminate(train: DataFrame, bench: DataFrame,
      id: String, vec: String, threshold: Double): DataFrame = {
    val t = train.select(col(id).as("train_id"), col(vec).as("__tv"),
      Similarity.norm(col(vec)).as("__tn"))
    val b = bench.select(col(id).as("bench_id"), col(vec).as("__bv"),
      Similarity.norm(col(vec)).as("__bn"))
    t.join(broadcast(b), col("train_id") =!= col("bench_id"))
      .withColumn("__cos",
        Similarity.safeCosine(Similarity.dot(col("__tv"), col("__bv")),
          col("__tn") * col("__bn")))
      .filter(col("__cos") >= threshold)
      .groupBy(col("train_id"))
      .agg(count(lit(1)).as("n_bench_hits"),
        round(max(col("__cos")), 6).as("max_cos"))
  }

  /** Bloom-guarded decontamination — [[decontaminate]] with a
    * runtime-filter prune, the shape that matters at 100 TB: the
    * benchmark shingle set is distilled into a compact Bloom filter
    * (distributed `stat.bloomFilter` build over the hashed shingles —
    * the driver holds only the final ~1.2 MB-per-M-items bitset, never
    * the shingle rows) and broadcast; the TRAINING corpus then drops
    * every shingle the filter rejects in pure map work, BEFORE any
    * exchange. Only might-match shingles — |bench| plus the fp tail,
    * not |corpus| — reach the verify equi-join, so the corpus-axis
    * shuffle volume is bounded by the benchmark size instead of the
    * corpus size. False positives cost only wasted join probes; the
    * verify join makes the OUTPUT exactly [[decontaminate]]'s
    * (ExtSpec pins equality, and the query shares its oracle).
    *
    * The probe is the codegen'd
    * [[graft.functions.BloomContains]] expression (round 13; it was
    * a row-at-a-time Scala UDF before, which broke whole-stage
    * codegen for the otherwise map-only scan→shingle→filter stage) —
    * the filter object rides the generated class as a reference
    * object, Spark's own runtime-bloom mechanism.
    * Output: id, bench_id, shared (≥ minShared) — identical contract
    * to [[decontaminate]].
    */
  def decontaminateBloom(train: DataFrame, bench: DataFrame, id: String,
      text: String, k: Int, minShared: Int, fpp: Double = 0.01)
      : DataFrame = {
    val bsh = graft.core.Caches.cached(shinglesHashed(bench, id, text, k))
      .withColumnRenamed(id, "bench_id")
    // expectedNumItems from an exact count of the (small) bench side:
    // one bounded aggregate job, the same cost class as the build pass
    val nItems = math.max(1L, bsh.count())
    val bloom = bsh.stat.bloomFilter("sh60", nItems, fpp)
    import org.apache.spark.sql.graftbridge.Columns
    val probe = Columns.of(graft.functions.BloomContains(
      Columns.expr(col("sh60")), bloom))
    val tsh = shinglesHashed(train, id, text, k).filter(probe)
    tsh.join(bsh, "sh60")
      .groupBy(col(id), col("bench_id"))
      .agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= minShared)
  }

  /** Connected components over a near-dup pair set — the step that
    * turns pairwise matches into the cluster decision a training-data
    * pipeline actually ships (one keeper per duplicate cluster, drop
    * the rest). Pairs are transitive in intent (A≈B, B≈C ⇒ one
    * document family), so the cluster id is the minimum reachable id.
    *
    * Distributed shape: iterative min-label propagation with POINTER
    * DOUBLING — each round every node takes the min of its own label,
    * its neighbors' labels, and its label's label (shortcutting).
    * Plain neighbor-min needs O(diameter) rounds (a 10⁶-node chain of
    * boilerplate dups would need 10⁶ rounds); shortcutting halves the
    * effective diameter every round, so convergence is O(log n)
    * rounds — the standard large-graph CC shape on Spark. The driver
    * loop only inspects a per-round changed-count scalar; all data
    * stays distributed.
    *
    * The loop state is `RDD[(Long, Long)]` under one fixed
    * HashPartitioner, so the per-round dataflow is two co-partitioned
    * (zero-shuffle) joins plus tiny reduceByKey shuffles, with NO
    * per-round planning or codegen. A DataFrame loop builds a new plan
    * over the checkpointed label table every round and pays Catalyst
    * analysis + AQE planning + whole-stage codegen each time (profiled
    * at sf0.1: ~6 janino units ≈ 0.6 s of every 0.8 s round); the RDD
    * loop measured ~4× faster on the full CC chain. This is the
    * documented "genuine per-partition imperative logic" RDD
    * exception; ExtSpec pins its labels to a DataFrame formulation of
    * the same propagation. Hence the key must be bigint: any other
    * type of `ids(id)` fails with an IllegalArgumentException naming
    * the column and its type.
    *
    * Scale shape: state is the CONTRACTED dup-subgraph label table
    * (never the corpus — a node with no edge cannot change its label,
    * so isolated docs rejoin with one left join at the end), per-round
    * shuffles move O(|edges|) longs, and lineage is truncated every
    * round (localCheckpoint; blocks reclaimed by the ContextCleaner
    * once the returned plan drops its reference).
    *
    * Output: id, cluster_id (min id of the component), is_keeper.
    */
  def dupClusters(ids: DataFrame, pairs: DataFrame, id: String,
      maxIter: Int = 25): DataFrame = {
    val keyType = ids.schema(id).dataType
    require(keyType == org.apache.spark.sql.types.LongType,
      s"dupClusters needs a bigint key, but column '$id' is ${keyType.simpleString}")
    val spark = ids.sparkSession
    val sc = spark.sparkContext
    // NULL endpoints contribute nothing, as an equi-join would drop
    // them (Row.getLong on a null would NPE the task)
    val edgesRaw = pairs
      .filter(col("id_a").isNotNull && col("id_b").isNotNull)
      .select(col("id_a").cast("long"), col("id_b").cast("long")).rdd
      .flatMap { r =>
        val a = r.getLong(0); val b = r.getLong(1)
        Iterator((a, b), (b, a))
      }
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // size the loop's partitioner to the DUP SUBGRAPH, not the
    // session default: label tables are a few % of the corpus, and a
    // ~25k-row loop over 32 partitions spends its rounds on task
    // scheduling (measured 0.35 s/round → ~0.1 s at the right width).
    // ~100k edges per partition, capped at the session shuffle width
    // so a pair-heavy corpus still spreads. edgesRaw is persisted
    // only so the count and the partitionBy don't each re-run the
    // (often expensive) upstream pair join; it is dropped as soon as
    // the partitioned copy is materialized, so the loop pins ONE
    // copy of the edge list, not two.
    val nEdges = edgesRaw.count()
    val part = new org.apache.spark.HashPartitioner(
      math.max(1, math.min(spark.sessionState.conf.numShufflePartitions,
        (nEdges / 100000L).toInt + 1)))
    val edges = edgesRaw.partitionBy(part)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    edges.count()
    edgesRaw.unpersist(false)
    // failure-path hygiene: these persists are NOT in Caches (it
    // registers DataFrames), so a non-converged require / task
    // failure mid-loop must not strand MEMORY_AND_DISK blocks for
    // the JVM lifetime — unpersist everything before rethrowing.
    // On success the final label checkpoint intentionally survives
    // (the returned plan reads it; the ContextCleaner reclaims it
    // once unreferenced).
    var labels = edges
      .map { case (src, dst) => (dst, src) }
      .reduceByKey(part, math.min(_: Long, _: Long))
      .mapPartitions(_.map { case (nid, m) => (nid, math.min(nid, m)) },
        preservesPartitioning = true)
      .localCheckpoint()
    var converged = false
    var it = 0
    try {
    while (!converged && it < maxIter) {
      val cur = labels
      // neighbor min: co-partitioned join (no shuffle), then a tiny
      // keyed reduction of O(|edges|) label candidates
      val nbrMin = edges.join(cur)
        .map { case (_, (dst, lbl)) => (dst, lbl) }
        .reduceByKey(part, math.min(_: Long, _: Long))
      // pointer doubling: my label's current label (one row per nid)
      val hop = cur.map { case (nid, lbl) => (lbl, nid) }
        .partitionBy(part)
        .join(cur)
        .map { case (_, (nid, hlbl)) => (nid, hlbl) }
        .partitionBy(part)
      val changed = sc.longAccumulator("cc_changed")
      val next = cur.cogroup(nbrMin, hop, part)
        .mapPartitions({ iter =>
          iter.flatMap { case (nid, (curL, nbrL, hopL)) =>
            if (curL.isEmpty) None // nbr/hop keys ⊆ cur keys; guard only
            else {
              val old = curL.head
              var m = old
              nbrL.foreach(v => if (v < m) m = v)
              hopL.foreach(v => if (v < m) m = v)
              if (m != old) changed.add(1L)
              Some((nid, m))
            }
          }
        }, preservesPartitioning = true)
        .localCheckpoint()
      next.count() // one job: materializes the round + settles the accumulator
      converged = changed.value == 0L
      labels = next
      cur.unpersist(false)
      it += 1
    }
    require(converged, s"dupClusters did not converge in $maxIter rounds")
    } catch { case t: Throwable =>
      labels.unpersist(false)
      edges.unpersist(false)
      throw t
    }
    edges.unpersist(false)
    val labelsDf = spark.createDataFrame(labels).toDF("nid", "__lbl")
    ids.select(col(id).as("nid"))
      .join(labelsDf, Seq("nid"), "left")
      .select(col("nid").as(id),
        coalesce(col("__lbl"), col("nid")).as("cluster_id"),
        (col("nid") === coalesce(col("__lbl"), col("nid"))).as("is_keeper"))
  }

  /** Canonical-representative selection — the decision step after
    * clustering: keep exactly ONE member per duplicate cluster, the
    * highest-quality one (ties → smallest id), drop the rest. This is
    * what turns a cluster assignment into the shipped corpus (keep
    * rows survive, drop rows are filtered). `clusters` is
    * [[dupClusters]] output (id, cluster_id, …); `docs` supplies the
    * quality signal. The window partitions by cluster_id — cluster
    * sizes are bounded by the dup-family size, never the corpus, so
    * the per-partition sort is trivially small at any scale.
    * Output: id, cluster_id, n_members, keep.
    */
  def selectRepresentatives(clusters: DataFrame, docs: DataFrame,
      id: String, quality: Column): DataFrame = {
    val w = Window.partitionBy(col("cluster_id"))
      .orderBy(col("__q").desc, col(id).asc)
    val wAll = Window.partitionBy(col("cluster_id"))
    clusters.select(col(id), col("cluster_id"))
      .join(docs.select(col(id), quality.as("__q")), id)
      .withColumn("n_members", count(lit(1)).over(wAll))
      .withColumn("keep", row_number().over(w) === 1)
      .select(id, "cluster_id", "n_members", "keep")
  }

  /** Cross-source duplication matrix — the provenance audit behind a
    * corpus merge: for every unordered source pair (a < b), how many
    * exact-duplicate content families contain at least one document
    * from EACH side. A hot (crawlA, crawlB) cell means the two crawls
    * overlap and one of them is mostly re-crawl; a hot (wiki, web)
    * cell flags wiki mirrors in the web slice. Same-source cell
    * (a = a) counts families with ≥2 docs inside that source
    * (within-source duplication).
    *
    * Scale shape: ONE shuffle on the 16-byte content hash reduces the
    * corpus to distinct (hash, source) memberships — at most
    * #sources rows per family regardless of how many duplicates the
    * family has — then the pair expansion is a self-equi-join of that
    * tiny table with a triangular filter, O(families · sources²)
    * worst case and nowhere near corpus scale. Output:
    * src_a, src_b, n_families.
    */
  def crossSourceMatrix(df: DataFrame, id: String, text: String,
      source: String): DataFrame = {
    // ONE corpus-wide hash+count aggregate feeds both the membership
    // self-join and the diagonal (cached so the two consumers and the
    // self-join's two sides share the single shuffle instead of
    // re-scanning and re-hashing the corpus)
    val grouped = graft.core.Caches.cached(
      df.select(normHash(col(text)).as("__h"), col(source).as("src"))
        .groupBy("__h", "src").agg(count(lit(1)).as("__n")))
    val mem = grouped.select("__h", "src")
    val within = grouped.filter(col("__n") >= 2)
      .groupBy(col("src").as("src_a"))
      .agg(count(lit(1)).as("n_families"))
      .select(col("src_a"), col("src_a").as("src_b"), col("n_families"))
    val cross = mem.as("l")
      .join(mem.as("r"), col("l.__h") === col("r.__h") &&
        col("l.src") < col("r.src"))
      .groupBy(col("l.src").as("src_a"), col("r.src").as("src_b"))
      .agg(count(lit(1)).as("n_families"))
    cross.unionByName(within)
  }

  /** Corpus snapshot diff — CDC between two corpus versions: which
    * documents were added, removed, changed (same id, different
    * normalized content) or unchanged. This is the audit every
    * incremental corpus build publishes alongside the new snapshot
    * (and the input to "re-embed only what changed" downstream
    * skipping).
    *
    * One equi-join on the id — at scale both snapshots hash-partition
    * on the same key (or co-bucket, cf. [[graft.ext.Layout]]), and
    * content equality compares 16-byte hashes, never full texts, so
    * the shuffle carries (id, 32-char hash) pairs rather than
    * documents. Output: id, status ∈
    * {added, removed, changed, unchanged}, old_hash, new_hash.
    */
  def snapshotDiff(oldDf: DataFrame, newDf: DataFrame, id: String,
      text: String): DataFrame = {
    // added/removed key on snapshot PRESENCE (explicit flags), not on
    // hash nullability — a document present in both snapshots with
    // NULL text has NULL hashes on both sides and must classify as
    // changed (NULL-hash equality is not TRUE), never as added.
    val o = oldDf.select(col(id), normHash(col(text)).as("old_hash"),
      lit(true).as("__in_old"))
    val n = newDf.select(col(id), normHash(col(text)).as("new_hash"),
      lit(true).as("__in_new"))
    o.join(n, Seq(id), "full_outer")
      .select(col(id),
        when(col("__in_old").isNull, "added")
          .when(col("__in_new").isNull, "removed")
          .when(col("old_hash") === col("new_hash"), "unchanged")
          .otherwise("changed").as("status"),
        col("old_hash"), col("new_hash"))
  }
}
