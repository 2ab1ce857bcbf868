package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deterministic corpus sampling — the subsampling / rebalancing step
  * of a training-data pipeline. Everything is hash-derived from stable
  * ids: re-running on the same corpus (or a superset) keeps the same
  * rows, which is what makes incremental corpus builds reproducible.
  * No RNG state, no `sample()` — both are partition-layout dependent.
  */
object Sampling {

  /** Uniform sampling bucket in [0, 10000): basis points of the id's
    * 60-bit hash. A row is kept at fraction f iff bucket < f·10000.
    */
  def bucketBps(id: Column): Column =
    pmod(Dedup.hash60(id.cast("string")), lit(10000)).cast("int")

  /** Per-stratum hash sampling: each stratum keeps its own fraction
    * (basis points), e.g. downsample a dominant language while keeping
    * the tail. Emits every row with its bucket and keep decision so
    * both the kept set and the sampling audit are queryable.
    * Output: id, stratum, bucket, kept.
    */
  def stratifiedSample(df: DataFrame, id: String, stratum: String,
      bps: Map[String, Int], defaultBps: Int): DataFrame = {
    val rate = bps.foldLeft(lit(defaultBps)) { case (acc, (s, r)) =>
      when(col("stratum") === s, lit(r)).otherwise(acc)
    }
    df.select(col(id), col(stratum).as("stratum"),
      bucketBps(col(id)).as("bucket"))
      .withColumn("kept", col("bucket") < rate)
  }

  /** EXACT-size deterministic sample: k rows per stratum, chosen by
    * the id's 60-bit hash order (uniform over the stratum, ties broken
    * by id). Unlike [[stratifiedSample]]'s rate-based buckets —
    * superset-stable but approximate in count — this delivers exactly
    * min(k, |stratum|) rows, the fixed-budget shape (eval slices,
    * per-language quotas). Deterministic across reruns on the same
    * corpus; membership shifts when the population changes (rank-based
    * by construction). Spark plans the rank filter as WindowGroupLimit
    * so each scan task keeps a k-heap before the exchange.
    * Output: id, stratum, sample_rank (1-based) — kept rows only.
    */
  def fixedSizeSample(df: DataFrame, id: String, stratum: String,
      k: Int): DataFrame = {
    require(k > 0, s"k must be positive: $k")
    val w = Window.partitionBy(col("stratum"))
      .orderBy(Dedup.hash60(col(id).cast("string")).asc, col(id).asc)
    df.select(col(id), col(stratum).as("stratum"))
      .withColumn("sample_rank", row_number().over(w))
      .filter(col("sample_rank") <= k)
  }

  /** Deterministic train/val/test split — the corpus partition every
    * training run needs: each id's uniform hash bucket (basis points)
    * lands in [0, trainBps) → train, [trainBps, trainBps+valBps) →
    * val, else test. Superset-stable: an id's assignment never changes
    * when other rows are added or removed (no RNG, no rank), which is
    * what keeps eval sets uncontaminated across incremental corpus
    * builds. Scan-local (zero shuffle).
    * Output: id, bucket, split.
    */
  def trainValTestSplit(df: DataFrame, id: String,
      trainBps: Int = 9000, valBps: Int = 500): DataFrame = {
    require(trainBps > 0 && valBps >= 0 && trainBps + valBps < 10000,
      s"invalid split: train=$trainBps val=$valBps")
    df.select(col(id), bucketBps(col(id)).as("bucket"))
      .withColumn("split",
        when(col("bucket") < trainBps, "train")
          .when(col("bucket") < trainBps + valBps, "val")
          .otherwise("test"))
  }

  /** Source mixing to per-source quotas — the rebalancing step that
    * hits a target corpus mixture (e.g. upweight wiki, cap web): each
    * source keeps its quota of rows in the id-hash order (uniform
    * within the source, ties to the smaller id; sources not in the map
    * keep `defaultQuota`). The rank filter first applies the LITERAL
    * max quota so Spark plans WindowGroupLimit — every scan task keeps
    * a max-quota heap before the exchange moves O(sources·maxQuota)
    * rows — then the per-source quota refines post-window.
    * Output: id, source, sample_rank (kept rows only).
    */
  def mixByQuota(df: DataFrame, id: String, source: String,
      quotas: Map[String, Int], defaultQuota: Int = 0): DataFrame = {
    require(quotas.values.forall(_ >= 0) && defaultQuota >= 0,
      "quotas must be non-negative")
    val maxQ = (quotas.values.toSeq :+ defaultQuota).max
    val q = quotas.foldLeft(lit(defaultQuota)) { case (acc, (s, n)) =>
      when(col("source") === s, lit(n)).otherwise(acc)
    }
    val w = Window.partitionBy(col("source"))
      .orderBy(Dedup.hash60(col(id).cast("string")).asc, col(id).asc)
    df.select(col(id), col(source).as("source"))
      .withColumn("sample_rank", row_number().over(w))
      .filter(col("sample_rank") <= maxQ)
      .filter(col("sample_rank") <= q)
  }

  /** Top-k rows per stratum by a metric (desc, ties to the smaller
    * id) — e.g. the k highest-quality documents per language. Spark
    * plans the rank filter as WindowGroupLimit: each partition keeps a
    * running top-k heap BEFORE the shuffle, so the exchange moves
    * O(strata·k) rows, not the corpus.
    * Output: input columns + rank.
    */
  def topKPerStratum(df: DataFrame, id: String, stratum: String,
      metric: Column, k: Int): DataFrame = {
    val w = Window.partitionBy(col(stratum))
      .orderBy(metric.desc, col(id).asc)
    df.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** LEAKAGE-SAFE train/val/test split: exact-duplicate families are
    * assigned as a unit, so a document and its duplicates can never
    * straddle train and eval — the contamination [[trainValTestSplit]]
    * permits by hashing each id independently (a train doc's verbatim
    * copy landing in test silently inflates eval scores; dedup-aware
    * split is the standard defense). The family key is the minimum id
    * over the normalized-text hash group (the exact-dedup keeper), and
    * the split bucket hashes the FAMILY id. Still superset-stable in
    * the family key: adding unrelated docs never moves an existing
    * family; adding a new duplicate of an existing doc can only lower
    * its family's min id (same rule as exact-dedup keeper identity).
    * One shuffle on the 16-byte text hash; the bucket map stays
    * scan-local after the window.
    * Output: id, family_id, bucket, split.
    */
  def leakageSafeSplit(df: DataFrame, id: String, text: String,
      trainBps: Int = 9000, valBps: Int = 500): DataFrame = {
    require(trainBps > 0 && valBps >= 0 && trainBps + valBps < 10000,
      s"invalid split: train=$trainBps val=$valBps")
    val w = Window.partitionBy(col("__th"))
    df.select(col(id), Dedup.normHash(col(text)).as("__th"))
      .withColumn("family_id", min(col(id)).over(w))
      .withColumn("bucket", bucketBps(col("family_id")))
      .withColumn("split",
        when(col("bucket") < trainBps, "train")
          .when(col("bucket") < trainBps + valBps, "val")
          .otherwise("test"))
      .select(col(id), col("family_id"), col("bucket"), col("split"))
  }

  /** NEAR-duplicate-safe train/val/test split — the upgrade of
    * [[leakageSafeSplit]] that also blocks near-dup leakage: a
    * paraphrase or boilerplate VARIANT of a training document landing
    * in test inflates eval exactly like an exact copy, and exact-hash
    * families structurally miss it. Families here are the connected
    * components of the SimHash near-dup pair graph
    * ([[graft.ext.Dedup.simHashPairs]] →
    * [[graft.ext.Dedup.dupClusters]]; exact duplicates are hamming-0
    * pairs, so every exact family is contained in a near family) and
    * the WHOLE family routes to one split by the same deterministic
    * basis-point hash of the family id as the exact form.
    *
    * Stability contract — WEAKER than [[leakageSafeSplit]]'s: the
    * family id is the min doc id of a CONNECTED COMPONENT, so adding
    * docs that near-match nothing existing never moves an assignment,
    * but a new doc that BRIDGES two families (or near-matches with a
    * smaller id) renumbers the merged component and re-hashes its
    * bucket — existing members of those families MAY move splits.
    * That is inherent to component-based families, not an
    * implementation artifact: incremental snapshot pipelines must
    * recompute the split per snapshot and diff (docs whose family
    * merged since the last snapshot are the ones to audit for
    * train↔eval crossings), or freeze earlier assignments upstream.
    * Output: id, family_id, bucket, split.
    */
  def leakageSafeSplitNear(df: DataFrame, id: String, text: String,
      maxDist: Int = 3, trainBps: Int = 9000, valBps: Int = 500): DataFrame = {
    require(trainBps > 0 && valBps >= 0 && trainBps + valBps < 10000,
      s"invalid split: train=$trainBps val=$valBps")
    val pairs = Dedup.simHashPairs(df, id, text, maxDist)
    val clusters = Dedup.dupClusters(df.select(col(id)), pairs, id)
    clusters.select(col(id), col("cluster_id").as("family_id"))
      .withColumn("bucket", bucketBps(col("family_id")))
      .withColumn("split",
        when(col("bucket") < trainBps, "train")
          .when(col("bucket") < trainBps + valBps, "val")
          .otherwise("test"))
  }

  /** The pigeonhole chunking every frozen-family SimHash join uses —
    * ONE (nChunks, chunkBits) pair shared by the registry seed, the
    * incremental assignment, and [[graft.ext.Dedup.simHashPairs]]'
    * defaults, so the candidate-generation geometry cannot drift
    * between the batch and incremental forms.
    */
  private val FamChunks = 4
  private val FamChunkBits = 8

  /** The empty frozen-family registry — the seed of a from-scratch
    * incremental pipeline (the first [[assignFamiliesIncremental]]
    * batch mints every family). Schema: id, family_id, simhash.
    */
  def emptyFamilyRegistry(spark: org.apache.spark.sql.SparkSession,
      id: String = "doc_id"): DataFrame = {
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(StructField(id, LongType), StructField("family_id", LongType),
        StructField("simhash", LongType))))
  }

  /** Seed a FROZEN-FAMILY registry from a corpus snapshot — the
    * persistable artifact that upgrades [[leakageSafeSplitNear]]'s
    * documented renumbering weakness into an append-only guarantee
    * (the [[graft.ext.Dedup.dedupIngestIndexed]] index pattern):
    * one row per document with its near-dup family id and SimHash
    * fingerprint. Families are the same connected components
    * [[leakageSafeSplitNear]] computes (SimHash pairs within
    * `maxDist` → min-id component), so a registry seeded from a
    * snapshot reproduces that snapshot's split exactly — and once
    * written, rows are never rewritten: later batches extend the
    * registry via [[assignFamiliesIncremental]] without touching
    * existing assignments. Documents with NULL text carry a NULL
    * fingerprint (they can never near-match; each is its own
    * family), exactly as the batch form treats them.
    * Output: id, family_id, simhash (nullable).
    */
  def familyRegistry(df: DataFrame, id: String, text: String,
      maxDist: Int = 3): DataFrame = {
    val fp = graft.core.Caches.cached(Dedup.simHash(df, id, text))
    val pairs = Dedup.hammingPairs(fp, id, "simhash",
      FamChunks, FamChunkBits, maxDist)
    Dedup.dupClusters(df.select(col(id)), pairs, id)
      .select(col(id), col("cluster_id").as("family_id"))
      .join(fp, Seq(id), "left")
      .select(col(id), col("family_id"), col("simhash"))
  }

  /** Assign a NEW batch of documents to frozen families — the
    * per-ingest call of an append-only split pipeline. Existing
    * registry rows are never renumbered BY CONSTRUCTION: this emits
    * batch rows only, and the family ids it reuses are read, not
    * rewritten. Semantics per batch near-dup component (components
    * over the batch's own SimHash pair graph, so intra-batch
    * duplicates stay together):
    *  - some member near-matches the registry (Hamming ≤ maxDist
    *    against a known fingerprint) → the WHOLE component inherits
    *    the OLDEST matched family (minimum family_id — family ids
    *    are min doc ids and doc ids grow over time in an append-only
    *    corpus, so min = oldest). A batch that BRIDGES two existing
    *    families routes to the older one; the younger family keeps
    *    its rows — the freeze is the contract: append-only
    *    assignment beats transitive re-closure, because re-closure
    *    is exactly the train/val/test churn this exists to prevent.
    *  - no member matches → a genuinely new family, id = the
    *    component's min batch doc id (doc ids are globally unique,
    *    so new family ids can never collide with existing ones).
    *
    * Scale shape: the known side contributes ONLY its registry rows
    * (id, family_id, 8-byte fingerprint — never corpus text), chunk-
    * exploded map-side into one equi-join against the batch's chunks
    * ([[graft.ext.Dedup.dedupIngestIndexed]]'s cross-leg shape); the
    * component pass runs on batch-sized tables. Per-ingest cost is
    * O(|batch text| + |registry index| + matches) — the corpus text
    * is never rescanned.
    * Output (batch docs only): id, family_id, is_new_family,
    * simhash — the simhash column makes extending the registry a
    * pure union: registry' = registry ∪ output.select(id,
    * family_id, simhash), no re-fingerprinting pass.
    */
  def assignFamiliesIncremental(batch: DataFrame, registry: DataFrame,
      id: String, text: String, maxDist: Int = 3): DataFrame = {
    val fpB = graft.core.Caches.cached(Dedup.simHash(batch, id, text))
    val intraPairs = Dedup.hammingPairs(fpB, id, "simhash",
      FamChunks, FamChunkBits, maxDist)
    val comp = Dedup.dupClusters(batch.select(col(id)), intraPairs, id)
      .select(col(id), col("cluster_id").as("__comp"))
    // registry match leg: batch chunks × registry chunks equi-join,
    // exact Hamming verify, min family per batch doc. Candidate
    // multiplicity (a pair sharing m chunks surfaces m times) is
    // absorbed by the min aggregate — no distinct pass needed.
    val regChunks = Dedup.chunkExploded(
      registry.select(col(id).as("__kid"), col("family_id"),
        col("simhash").as("__ksh")),
      "__ksh", FamChunks, FamChunkBits)
    val batChunks = Dedup.chunkExploded(
      fpB.select(col(id), col("simhash").as("__bsh")),
      "__bsh", FamChunks, FamChunkBits)
    val hits = batChunks.join(regChunks, Seq("chunk"))
      .filter(bit_count(col("__bsh").bitwiseXOR(col("__ksh"))) <= maxDist)
      .groupBy(col(id))
      .agg(min(col("family_id")).as("__hit"))
    // component-level inheritance: min matched family over members
    val compFam = comp.join(hits, Seq(id), "left")
      .groupBy(col("__comp"))
      .agg(min(col("__hit")).as("__fam"))
    comp.join(compFam, Seq("__comp"))
      .join(fpB, Seq(id), "left")
      .select(col(id),
        coalesce(col("__fam"), col("__comp")).as("family_id"),
        col("__fam").isNull.as("is_new_family"),
        col("simhash"))
  }

  /** The frozen split decision off a family assignment — the same
    * deterministic family-id basis-point hash as
    * [[leakageSafeSplit]]/[[leakageSafeSplitNear]], factored out so
    * registry rows (old or just-assigned) route identically forever:
    * a family's split can never change because its id never does.
    * Input needs (id, family_id[, …]); output appends bucket, split.
    */
  def familySplit(assigned: DataFrame, trainBps: Int = 9000,
      valBps: Int = 500): DataFrame = {
    require(trainBps > 0 && valBps >= 0 && trainBps + valBps < 10000,
      s"invalid split: train=$trainBps val=$valBps")
    assigned
      .withColumn("bucket", bucketBps(col("family_id")))
      .withColumn("split",
        when(col("bucket") < trainBps, "train")
          .when(col("bucket") < trainBps + valBps, "val")
          .otherwise("test"))
  }

  /** Global quantile bucketing WITHOUT a global sort — the curriculum
    * / quality-tier assignment (e.g. length deciles for bucketed
    * packing, quality quartiles for mixture weights). The naive form,
    * ntile() over a whole-corpus ORDER BY, funnels every row through
    * one partition; here the corpus is touched twice but never
    * globally sorted: one exact-percentile aggregate computes the
    * n−1 boundary values (map-side combined; swap in approx_percentile
    * for the 100 TB tier exactly as q_percentiles ↔
    * q_approx_percentiles trade), then a broadcast of that 1-row
    * boundary array assigns bucket = #(boundaries strictly below the
    * value) scan-locally. Boundaries are rounded to 6 decimals before
    * comparison so the cut points are bit-identical cross-engine
    * (both engines round half away from zero); ties at a boundary all
    * fall to the lower bucket — deterministic however many rows share
    * the boundary value.
    * Output: id, value column (as named), bucket in [0, nBuckets).
    */
  def quantileBuckets(df: DataFrame, id: String, value: String,
      nBuckets: Int): DataFrame = {
    require(nBuckets >= 2, s"need at least 2 buckets: $nBuckets")
    val fracs = array((1 until nBuckets)
      .map(i => lit(i.toDouble / nBuckets)): _*)
    val bounds = df.agg(percentile(col(value), fracs).as("__bs"))
      .select(transform(col("__bs"), b => round(b, 6)).as("__bs"))
    df.select(col(id), col(value))
      .crossJoin(broadcast(bounds))
      .withColumn("bucket",
        size(filter(col("__bs"), b => col(value) > b)))
      .select(col(id), col(value), col("bucket"))
  }

  /** Token-budget greedy selection — "take the best documents until
    * the budget is spent": scanning docs in (quality desc, id asc)
    * order, a doc is kept iff the running token total INCLUDING it
    * stays within the budget (strict prefix rule — the first doc that
    * would overflow stops the selection; deterministic, and exactly
    * one SQL window cumsum to specify). This is the corpus-sizing
    * step of a data-constrained training run: a 2T-token budget over
    * a 20T-token crawl keeps the top-quality decile.
    *
    * The naive plan — cumsum over a GLOBAL (quality, id) sort —
    * funnels the corpus through one partition. Here the corpus axis
    * is never globally sorted: quality is quantized to 6 dp and one
    * map-side-combined aggregate reduces to the per-quality-value
    * token table; the cross-value running totals are computed by a
    * window over THAT table (distinct-quality-sized — ≤2·10⁶ rows
    * whatever the corpus size — the same single-partition-by-design
    * trade as [[quantileBuckets]]' boundary aggregate); then the
    * per-doc decision needs only a within-quality-value cumsum, a
    * window PARTITIONED on the quality value that scales out.
    * Output: id, quality (6-dp), tokens, kept — row-count-stable
    * (every doc with its decision).
    */
  def budgetSelect(df: DataFrame, id: String, quality: Column,
      tokens: Column, budget: Long): DataFrame = {
    require(budget > 0, s"budget must be positive: $budget")
    val base = df.select(col(id), round(quality, 6).as("quality"),
      tokens.cast("long").as("tokens"))
    val perQ = base.groupBy("quality")
      .agg(sum("tokens").as("__qtot"))
    // running total of all STRICTLY higher quality values
    val wDesc = Window.orderBy(col("quality").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val cumBefore = perQ.select(col("quality"),
      coalesce(sum(col("__qtot")).over(wDesc), lit(0L)).as("__before"))
    val wIn = Window.partitionBy(col("quality"))
      .orderBy(col(id).asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // null-safe join: a NULL quality forms its own group (groupBy and
    // the window both keep it, sorted LAST by the desc nulls-last
    // default on both engines), so a doc with undefined quality still
    // gets a decision instead of silently vanishing — the operator is
    // row-count-stable like the DuckDB window-cumsum oracle.
    base.join(broadcast(cumBefore.withColumnRenamed("quality", "__q")),
        col("quality") <=> col("__q"))
      .drop("__q")
      .withColumn("__cum", col("__before") + sum(col("tokens")).over(wIn))
      .select(col(id), col("quality"), col("tokens"),
        (col("__cum") <= budget).as("kept"))
  }

  /** Temperature-scaled source mixing weights — the sampling-ratio
    * computation behind multilingual/multi-source corpus mixing
    * (exponentiated smoothing, p_i ∝ n_i^α): α=1 keeps natural
    * proportions, α=0 is uniform over sources, α∈(0,1) upweights the
    * tail without flattening the head. Emits, per source: its size,
    * natural share, temperature-scaled weight, and the oversample
    * factor (weight / natural share — how many effective epochs of
    * that source one corpus epoch represents under the mixture).
    *
    * One map-side-combined aggregate over the corpus reduces to a
    * sources-sized table (tens of rows at any corpus scale); the
    * normalizing window over that table is trivially single-partition
    * BY DESIGN — the corpus axis is never windowed. Shares and
    * weights are rounded to 6 decimals on identically-shaped
    * expressions so cross-engine doubles agree bit-for-bit.
    * Output: source, n_tokens, natural_share, weight, oversample.
    */
  def temperatureWeights(df: DataFrame, source: String, size: String,
      alpha: Double): DataFrame = {
    require(alpha >= 0.0 && alpha <= 1.0, s"alpha must be in [0,1]: $alpha")
    val all = Window.partitionBy()
    // Determinism: per-source sizes sum as exact BIGINT, and the
    // pow() weights are quantized to decimal(38,6) BEFORE the
    // normalizing sum — decimal sums are exact and order-free, so
    // neither engine's (nor either run's) summation order can perturb
    // the 6-dp rounds. Only then do the ratios go through double
    // division on identically-valued operands.
    df.groupBy(col(source).as("source"))
      .agg(sum(col(size)).as("n_tokens"))
      .withColumn("__w", round(pow(col("n_tokens").cast("double"),
        lit(alpha)), 6).cast("decimal(38,6)"))
      .withColumn("natural_share",
        round(col("n_tokens").cast("double") /
          sum(col("n_tokens")).over(all).cast("double"), 6))
      .withColumn("weight", round(col("__w").cast("double") /
        sum(col("__w")).over(all).cast("double"), 6))
      .withColumn("oversample",
        // an ultra-tail source can round natural_share to 0.0; emit
        // NULL rather than an engine-dependent inf/NULL divergence
        when(col("natural_share") > 0,
          round(col("weight") / col("natural_share"), 6)))
      .select(col("source"), col("n_tokens"), col("natural_share"),
        col("weight"), col("oversample"))
  }

  /** Deterministic priority q = w/u for one row: u = (60-bit id hash
    * + 1)/2^60 ∈ (0, 1], so q = w·2^60/(h+1). Every step is either
    * exact (BIGINT +1; multiplying by 2^60 — a power of two — only
    * shifts the exponent) or a single correctly-rounded IEEE op (the
    * weight's and h+1's casts to double, the final division), so the
    * SAME bits come out of Spark and DuckDB — no pow/log/exp, whose
    * libm implementations differ across engines. Weights stay DOUBLE
    * end to end: fractional weights (quality scores in (0,1)) are
    * first-class, never truncated.
    */
  private def priorityCol(id: Column, weight: Column): Column =
    weight.cast("double") * lit(1.152921504606846976e18) /
      (Dedup.hash60(id.cast("string")) + lit(1L)).cast("double")

  /** Weighted sampling without replacement by PRIORITY SAMPLING
    * (Duffield, Lund & Thorup, "Priority sampling for estimation of
    * arbitrary subset sums", JACM 54(6), 2007): each row gets priority
    * q = w/u with u a deterministic uniform from its id hash; the k
    * highest-priority rows are the sample, and with τ = the (k+1)-th
    * priority the estimator ŵ = max(w, τ) makes every subset-sum
    * estimate unbiased — the standard way to keep a budgeted,
    * length/quality-weighted corpus slice whose token statistics
    * still estimate the full corpus.
    *
    * Scale shape: top-(k+1) is `orderBy.limit` → TakeOrderedAndProject
    * (a size-(k+1) heap per partition, merged on the driver — no
    * global sort, no full shuffle); the rank/τ window then runs over
    * that k+1-row set only (single partition BY DESIGN, bounded by
    * k). Rows with w ≤ 0 are excluded up front (priorities require
    * positive weights) — mirrored in the oracle's WHERE.
    * Ties break by id ascending. Output: id, weight, priority,
    * sample_rank, weight_est.
    */
  def prioritySample(df: DataFrame, id: String, weight: Column,
      k: Int): DataFrame = {
    require(k > 0, s"k must be positive: $k")
    val top = df
      .select(col(id), weight.cast("double").as("weight"))
      .filter(col("weight") > 0)
      .withColumn("priority", priorityCol(col(id), col("weight")))
      .orderBy(col("priority").desc, col(id).asc)
      .limit(k + 1)
    val w = Window.orderBy(col("priority").desc, col(id).asc)
    val all = Window.partitionBy()
    top
      .withColumn("sample_rank", row_number().over(w))
      .withColumn("__tau", max(when(col("sample_rank") === k + 1,
        col("priority")).otherwise(lit(0.0))).over(all))
      .filter(col("sample_rank") <= k)
      .select(col(id), col("weight"), col("priority"), col("sample_rank"),
        greatest(col("weight"), col("__tau")).as("weight_est"))
  }

  /** Per-stratum priority sampling: the k highest-priority rows of
    * EVERY stratum (per-language / per-source budgeted slices in one
    * pass). The rank-≤-k predicate on a row_number window plans as
    * WindowGroupLimit, so each task keeps a k-sized heap per stratum
    * group — no stratum is ever materialized whole. No τ/estimator
    * columns here (τ is per-stratum the caller can derive by running
    * k+1); ties break by id. Output: id, stratum, weight, priority,
    * sample_rank.
    */
  def prioritySamplePerStratum(df: DataFrame, id: String,
      stratum: String, weight: Column, k: Int): DataFrame = {
    require(k > 0, s"k must be positive: $k")
    val w = Window.partitionBy(col("stratum"))
      .orderBy(col("priority").desc, col(id).asc)
    df.select(col(id), col(stratum).as("stratum"),
        weight.cast("double").as("weight"))
      .filter(col("weight") > 0)
      .withColumn("priority", priorityCol(col(id), col("weight")))
      .withColumn("sample_rank", row_number().over(w))
      .filter(col("sample_rank") <= k)
  }

  /** DSIR importance weights (Xie et al., "Data Selection for
    * Language Models via Importance Resampling", NeurIPS 2023):
    * score every raw document by how much more likely its hashed
    * n-gram profile is under a TARGET (high-quality reference)
    * distribution than under the RAW corpus distribution. Features
    * are unigrams + space-joined bigrams hashed into `buckets`
    * cells; both distributions are add-1-smoothed bucket categoricals
    * and the log importance weight is
    *   log w(x) = Σ_b n_x(b) · (log2 p_tgt(b) − log2 p_raw(b)).
    *
    * Cross-engine determinism follows the bigram-LM idiom
    * ([[TextStats.lmScore]]): each per-(doc,bucket) term is rounded to
    * 9 decimals and summed as DECIMAL(38,9) — an exact, order-free
    * reduction — and the probability expressions keep the literal
    * `(c+1) * 1.0 / (N + B)` IEEE shape the oracle replays.
    *
    * Scale shape: ONE tokenize+hash+groupBy pass produces the
    * per-(doc,bucket) count table; the two model tables are
    * `buckets`-sized aggregates of IT (map-side combined, never a
    * second corpus scan) and join back broadcast-sized; the scalar
    * totals ride the 1-row crossJoin(broadcast) idiom. Per-row state
    * is one document's gram set — nothing grows with the corpus
    * except the linear count table. Docs with no tokens (or an empty
    * target partition) surface logw = NULL but are KEPT — row count
    * equals the corpus.
    * Output: id, n_grams, logw (6-dp).
    */
  def dsirWeights(df: DataFrame, id: String, text: String,
      refFilter: Column, buckets: Int = 4096): DataFrame = {
    require(buckets >= 2, s"buckets must be >= 2: $buckets")
    val perDocBucket = graft.core.Caches.cached(
      dsirDocBuckets(df, id, text, refFilter, buckets))
    val raw = perDocBucket.groupBy("__b").agg(sum("__n").as("__rc"))
    val tgt = perDocBucket.filter(col("__ref"))
      .groupBy("__b").agg(sum("__n").as("__tc"))
    // ONE groupless aggregate for both scalar totals (the 1-row
    // scalar-join idiom PlanAudit.isScalarBnlj recognizes); an empty
    // target leaves __nt NULL → logw NULL corpus-wide, mirrored by
    // the oracle's sum-over-empty
    val tots = perDocBucket.agg(sum("__n").as("__nr"),
      sum(when(col("__ref"), col("__n"))).as("__nt"))
    val pT = (coalesce(col("__tc"), lit(0L)) + 1) * lit(1.0) /
      (col("__nt") + buckets)
    val pR = (col("__rc") + 1) * lit(1.0) / (col("__nr") + buckets)
    val scored = perDocBucket
      .join(raw, Seq("__b"))
      .join(tgt, Seq("__b"), "left")
      .crossJoin(broadcast(tots))
      .select(col(id),
        round(col("__n") * lit(1.0) * (log2(pT) - log2(pR)), 9)
          .cast("decimal(38,9)").as("__t"),
        col("__n"))
      .groupBy(id)
      .agg(sum("__t").as("__s"), sum("__n").as("n_grams"))
    df.select(col(id)).join(scored, Seq(id), "left")
      .select(col(id),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        round(col("__s").cast("double"), 6).as("logw"))
  }

  /** Per-(doc, hashed-gram-bucket) instance counts — the shared
    * feature pass of [[dsirWeights]], [[dsirModel]] and [[dsirScore]]
    * (one definition, so the gram/hash geometry cannot drift between
    * the batch and incremental forms). Output: id, __ref, __b, __n.
    */
  private def dsirDocBuckets(df: DataFrame, id: String, text: String,
      refFilter: Column, buckets: Int): DataFrame = {
    val ws = TextStats.tokens(col(text))
    // fan an under-split scan out before the tokenize+bigram explode
    // (the DSIR feature kernel — guide §2.5 input skew); identity at
    // cluster scale. refFilter may reference any df column, so the
    // fan-out precedes the projection.
    val arr = graft.core.FanOut(df)
      .select(col(id), ws.as("__ws"), refFilter.as("__ref"))
    val bigrams = transform(
      slice(col("__ws"), lit(1), greatest(size(col("__ws")) - 1, lit(0))),
      (w, i) => concat(w, lit(" "), element_at(col("__ws"), i + 2)))
    arr.select(col(id), col("__ref"),
        explode(concat(col("__ws"), bigrams)).as("__g"))
      .select(col(id), col("__ref"),
        pmod(Dedup.hash60(col("__g")), lit(buckets.toLong)).as("__b"))
      .groupBy(col(id), col("__ref"), col("__b"))
      .agg(count(lit(1)).as("__n"))
  }

  /** The PERSISTABLE DSIR model: both bucket-count tables as one
    * `buckets`-bounded artifact (write it as parquet, carry it
    * between ingests — the [[graft.ext.Dedup.dedupIngest]] index
    * pattern). One corpus pass fills raw AND target counts (the
    * target is a conditional sum, not a second scan). The artifact is
    * MERGEABLE: models of disjoint corpus slices combine by
    * bucket-wise addition ([[dsirModelMerge]]) — the sketch property
    * that lets 1000 executors build shard models independently and
    * union them, and lets an append-only pipeline extend the model
    * with each batch without rescanning the corpus.
    * Output: bucket, raw_count (≥1), tgt_count (≥0).
    */
  def dsirModel(df: DataFrame, id: String, text: String,
      refFilter: Column, buckets: Int = 4096): DataFrame = {
    require(buckets >= 2, s"buckets must be >= 2: $buckets")
    dsirDocBuckets(df, id, text, refFilter, buckets)
      .groupBy(col("__b").as("bucket"))
      .agg(sum("__n").as("raw_count"),
        coalesce(sum(when(col("__ref"), col("__n"))), lit(0L))
          .as("tgt_count"))
  }

  /** Bucket-wise model addition — extend a carried model with a new
    * batch's model (or union shard models): counts add; a bucket
    * present in either side survives. dsirModel(a ∪ b) ≡
    * dsirModelMerge(dsirModel(a), dsirModel(b)) exactly (BIGINT sums).
    */
  def dsirModelMerge(a: DataFrame, b: DataFrame): DataFrame =
    a.unionByName(b)
      .groupBy("bucket")
      .agg(sum("raw_count").as("raw_count"),
        sum("tgt_count").as("tgt_count"))

  /** Score a batch against a FROZEN [[dsirModel]] — the per-ingest
    * call of an append-only selection pipeline: model totals and
    * per-bucket log-ratios never move, so a document's weight is
    * stable across ingests (the same freeze contract as
    * [[assignFamiliesIncremental]]). Batch grams falling in buckets
    * the model never saw read raw_count = 0 / tgt_count = 0 — the
    * add-1 smoothing keeps both probabilities finite, and the
    * (c+1)*1.0/(N+B) IEEE shapes + round-9 DECIMAL(38,9) term sum
    * are identical to [[dsirWeights]] so the two paths agree bit for
    * bit when given the same corpus as model source and the target
    * slice is non-empty. (Divergence scoped: an all-zero target sums
    * to nt = 0 here — scoring against the uniform smoothed target —
    * where [[dsirWeights]]' conditional sum is NULL and it declares
    * every logw NULL; an EMPTY model, zero rows, is NULL here too.)
    *
    * Scale shape: per-ingest cost is one batch tokenize+hash pass +
    * a `buckets`-bounded broadcast join — the known corpus text is
    * NEVER rescanned; an empty/cold model yields NULL logw for every
    * doc (rows kept) rather than an engine-dependent ±inf.
    * Output: id, n_grams, logw (6-dp), row per batch doc.
    */
  def dsirScore(batch: DataFrame, model: DataFrame, id: String,
      text: String, buckets: Int = 4096): DataFrame = {
    require(buckets >= 2, s"buckets must be >= 2: $buckets")
    val pdb = dsirDocBuckets(batch, id, text, lit(false), buckets)
    // the model is read TWICE (per-bucket join + scalar totals); when
    // the caller passes an unmaterialized chain (e.g. dsirModel over
    // a corpus in one composed query) an uncached read would pay the
    // full corpus pass twice — cache it (bounded: ≤ `buckets` rows).
    // An already-materialized model (the carried artifact a pipeline
    // persists between ingests) is used AS IS: re-registering it in
    // Caches would hand its lifetime to the next unpersistAll(),
    // silently un-freezing the caller's artifact
    val m =
      if (model.storageLevel == org.apache.spark.storage.StorageLevel.NONE)
        graft.core.Caches.cached(model)
      else model
    val tots = m.agg(sum("raw_count").as("__nr"),
      sum("tgt_count").as("__nt"))
    val pT = (coalesce(col("tgt_count"), lit(0L)) + 1) * lit(1.0) /
      (col("__nt") + buckets)
    val pR = (coalesce(col("raw_count"), lit(0L)) + 1) * lit(1.0) /
      (col("__nr") + buckets)
    val scored = pdb
      .join(m.withColumnRenamed("bucket", "__b"), Seq("__b"), "left")
      .crossJoin(broadcast(tots))
      .select(col(id),
        round(col("__n") * lit(1.0) * (log2(pT) - log2(pR)), 9)
          .cast("decimal(38,9)").as("__t"),
        col("__n"))
      .groupBy(id)
      .agg(sum("__t").as("__s"), sum("__n").as("n_grams"))
    batch.select(col(id)).join(scored, Seq(id), "left")
      .select(col(id),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        round(col("__s").cast("double"), 6).as("logw"))
  }

  /** DSIR resampling: Gumbel top-k over the [[dsirWeights]] log
    * weights — the exact without-replacement sampler for
    * p(x) ∝ w(x) (Gumbel-max applied k times): key = ln w + G with
    * G = −ln(−ln(u)) and u the id's deterministic 60-bit-hash
    * uniform (the [[prioritySample]] currency), take the k largest
    * keys. Gumbel-max requires NATURAL-log weights, and
    * [[dsirWeights]] emits logw in BASE 2 — the key therefore scales
    * logw by ln 2 (the exact double 0.6931471805599453, mirrored
    * literally in the oracle) before adding the noise; an unscaled
    * logw + G would sample p ∝ w^(log2 e) ≈ w^1.44 instead. No RNG
    * state, superset-reproducible.
    *
    * Scale shape: top-k is `orderBy.limit` → TakeOrderedAndProject (a
    * k-sized heap per partition merged on the driver — no global
    * sort); everything upstream is the [[dsirWeights]] linear pass.
    * Docs with NULL logw (no tokens) are not sampleable and are
    * excluded up front — mirrored in the oracle's WHERE. The Gumbel
    * noise is rounded to 9 decimals and the key to 6 before ordering
    * so the sort keys are bit-identical cross-engine; ties break by
    * id ascending.
    * Output: id, logw, gumbel_key, sample_rank (1..k). When fewer
    * than k docs carry a non-null logw (cold model, tiny corpus) the
    * output has FEWER than k rows — the prioritySample family's
    * convention; callers sizing downstream work on k must count the
    * result, not assume exactly k.
    */
  def dsirSample(weights: DataFrame, id: String, k: Int): DataFrame = {
    require(k > 0, s"k must be positive: $k")
    // numerator clamped to 2^60 − 128 (the largest long below 2^60
    // that survives the 53-bit double mantissa): an unclamped h + 1
    // near 2^60 rounds to 2^60 exactly, u = 1.0, and
    // −ln(−ln(1)) = +Inf would pin that doc at rank 1 regardless of
    // weight (~2^-53 of ids). Mirrored in the oracle.
    val u = least(Dedup.hash60(col(id).cast("string")) + lit(1L),
      lit(1152921504606846848L)).cast("double") /
      lit(1.152921504606846976e18)
    val gnoise = round(-log(-log(u)), 9)
    // ln 2 as the exact double literal (not math.log(2) at runtime)
    // so the oracle SQL can repeat the identical constant textually
    val keyed = weights.filter(col("logw").isNotNull)
      .select(col(id), col("logw"),
        round(col("logw") * lit(0.6931471805599453) + gnoise, 6)
          .as("gumbel_key"))
      .orderBy(col("gumbel_key").desc, col(id).asc)
      .limit(k)
    val w = Window.orderBy(col("gumbel_key").desc, col(id).asc)
    keyed.withColumn("sample_rank", row_number().over(w))
  }
}
