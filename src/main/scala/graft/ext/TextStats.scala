package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-analysis operators for training-data curation: token counts,
  * quality scoring, n-gram-heuristic language ID, rolling-hash
  * fingerprinting. Pure built-ins (regex + explode + agg), all
  * DuckDB-mirrorable.
  */
object TextStats {

  /** Whitespace tokens + a BPE-ish regex token count (letter runs,
    * digit runs, single punctuation marks — the standard pre-tokenizer
    * shape). Output: id + n_chars, tokens_ws, tokens_re.
    */
  def tokenCounts(df: DataFrame, id: String, text: String): DataFrame = {
    val t = col(text)
    df.select(col(id), length(t).as("n_chars"),
      size(split(trim(t), "\\s+")).as("tokens_ws"),
      regexp_count(lower(t), lit("[a-z]+|[0-9]+|[^a-z0-9\\s]")).as("tokens_re"))
  }

  /** Per-document quality signals: word/char counts, mean word length,
    * vocabulary diversity, stopword ratio, and a composite score in
    * [0,1] (each signal clamped into a plausible band). The score
    * formula is this engine's own curation heuristic.
    */
  def qualityScore(df: DataFrame, id: String, text: String,
      stopwords: Seq[String] = Seq("the", "a", "of", "and", "in")): DataFrame = {
    val words = df
      .withColumn("__w", explode(split(lower(trim(col(text))), "\\s+")))
    val agg0 = words.groupBy(id).agg(
      count(lit(1)).as("word_count"),
      countDistinct(col("__w")).as("distinct_words"),
      avg(length(col("__w"))).as("avg_word_len"),
      sum(when(col("__w").isin(stopwords: _*), 1).otherwise(0)).as("stop_count"))
    val stopRatio = col("stop_count").cast("double") / col("word_count")
    val diversity = col("distinct_words").cast("double") / col("word_count")
    val lenScore =
      least(col("word_count").cast("double") / 100.0, lit(1.0))
    val stopScore = least(stopRatio * 5.0, lit(1.0)) // some stopwords = natural text
    val score = round((lenScore + stopScore + least(diversity * 2.0, lit(1.0))) / 3.0, 6)
    agg0.select(col(id), col("word_count"), col("distinct_words"),
      round(col("avg_word_len"), 6).as("avg_word_len"),
      round(stopRatio, 6).as("stop_ratio"),
      round(diversity, 6).as("diversity"),
      score.as("quality_score"))
  }

  /** Bigram-LM cross-entropy scoring — the CCNet/RedPajama-style
    * quality signal: train a smoothed bigram language model on a
    * trusted reference slice of the corpus (`refFilter`), then score
    * EVERY document by its bits-per-token under that model (low bits =
    * fluent in-domain text, high bits = noise/boilerplate/other
    * language; perplexity = 2^bits_per_token).
    *
    * Model (all closed-form from exact counts, so the whole scorer is
    * DuckDB-oracle-checkable):
    *   pu(w)      = (cu(w) + 1) / (N + V)          add-1 unigram
    *   p(w2|w1)   = λ·cb(w1,w2)/cu(w1) + (1−λ)·pu(w2)   (0 MLE if w1
    *                unseen); λ < 1 keeps every p > 0
    *   first token scored by pu; doc score = Σ −log2(p) / n_tokens.
    *
    * Cross-engine determinism: each term's bits are rounded to 9
    * decimals and summed as DECIMAL(38,9) — an exact, order-free
    * reduction (the repo's established decimal-sum idiom), so the
    * per-doc mean is bit-identical however Spark or DuckDB order the
    * terms; quantization bias (≤5e-10/term) is far below the 6-decimal
    * output rounding.
    *
    * Scale shape: ONE tokenization pass feeds both training and
    * scoring (the cached token-array table); the model tables are
    * vocab-sized (unigrams) / bigram-vocab-sized aggregates with
    * map-side combine, and scoring is three left equi-joins of the
    * term stream against them — AQE broadcasts them when they fit,
    * hash-join otherwise. No windows, no driver collection; per-row
    * memory is one document's token array.
    * Output: id, n_tokens, n_oov, bits_per_token (null for
    * zero-token docs, which ARE kept — row count equals the corpus).
    */
  def lmScore(df: DataFrame, id: String, text: String, refFilter: Column,
      lambda: Double = 0.9): DataFrame = {
    require(lambda >= 0.0 && lambda < 1.0,
      s"lambda must be in [0,1) so interpolated probabilities stay positive: $lambda")
    val arr = graft.core.Caches.cached(
      df.select(col(id), tokens(col(text)).as("__ws"), refFilter.as("__ref")))
    val refUni = graft.core.Caches.cached(
      arr.filter(col("__ref")).select(explode(col("__ws")).as("w"))
        .groupBy("w").agg(count(lit(1)).as("cu")))
    // 1-row scalar totals, broadcast into the probability expressions
    val tot = refUni.agg(sum("cu").as("__N"), count(lit(1)).as("__V"))
    val bigrams = transform(
      slice(col("__ws"), lit(1), greatest(size(col("__ws")) - 1, lit(0))),
      (w, i) => struct(w.as("w1"), element_at(col("__ws"), i + 2).as("w2")))
    val refBi = arr.filter(col("__ref") && size(col("__ws")) >= 2)
      .select(explode(bigrams).as("bg"))
      .groupBy(col("bg.w1").as("w1"), col("bg.w2").as("w2"))
      .agg(count(lit(1)).as("cb"))
    // term stream: one row per scored token — the first token
    // (unigram-scored; w1 null never matches the cu1 join) plus every
    // adjacent transition
    val first = arr.filter(size(col("__ws")) >= 1)
      .select(col(id), lit(null).cast("string").as("w1"),
        element_at(col("__ws"), 1).as("w2"))
    val trans = arr.filter(size(col("__ws")) >= 2)
      .select(col(id), explode(bigrams).as("bg"))
      .select(col(id), col("bg.w1").as("w1"), col("bg.w2").as("w2"))
    val terms = first.unionByName(trans)
      .join(refUni.select(col("w").as("w2"), col("cu").as("cu2")),
        Seq("w2"), "left")
      .join(refUni.select(col("w").as("w1"), col("cu").as("cu1")),
        Seq("w1"), "left")
      .join(refBi, Seq("w1", "w2"), "left")
      .crossJoin(broadcast(tot))
    // FP expression shapes mirror the oracle SQL exactly (x * 1.0 / y;
    // λ and 1−λ as literal doubles) so both engines evaluate the same
    // IEEE operation sequence
    val pu2 = (coalesce(col("cu2"), lit(0L)) + 1) * lit(1.0) /
      (col("__N") + col("__V"))
    val mle = when(col("cu1").isNotNull,
      coalesce(col("cb"), lit(0L)) * lit(1.0) / col("cu1")).otherwise(lit(0.0))
    val p = when(col("w1").isNotNull, lit(lambda) * mle + lit(1.0 - lambda) * pu2)
      .otherwise(pu2)
    val scored = terms
      .select(col(id), round(-log2(p), 9).cast("decimal(38,9)").as("bq"),
        when(col("cu2").isNull, 1L).otherwise(0L).as("oov"))
      .groupBy(id)
      .agg(sum("bq").as("sb"), count(lit(1)).as("n_tokens"),
        sum("oov").as("n_oov"))
    df.select(col(id)).join(scored, Seq(id), "left")
      .select(col(id),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("n_oov"), lit(0L)).as("n_oov"),
        round(col("sb").cast("double") / col("n_tokens"), 6)
          .as("bits_per_token"))
  }

  /** n-gram/stopword-heuristic language ID: per language a marker-word
    * list is scored as hits/words; argmax wins (ties → lexicographic
    * language code). Output: id, lang_pred, lang_score.
    */
  val LangMarkers: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "a", "of", "and", "is"),
    "de" -> Seq("der", "die", "das", "und", "ist"),
    "es" -> Seq("el", "la", "de", "y", "es"),
    "fr" -> Seq("le", "la", "les", "et", "est"),
    "zh" -> Seq())

  def langId(df: DataFrame, id: String, text: String): DataFrame = {
    val words = df.withColumn("__w", explode(split(lower(trim(col(text))), "\\s+")))
    val langs = LangMarkers.keys.toSeq.sorted
    val aggs = langs.map { l =>
      val ms = LangMarkers(l)
      (if (ms.isEmpty) sum(lit(0))
       else sum(when(col("__w").isin(ms: _*), 1).otherwise(0))).as(s"__hits_$l")
    }
    val scored = words.groupBy(id)
      .agg(count(lit(1)).as("__n"), aggs: _*)
    val scores = langs.map(l => (l, col(s"__hits_$l").cast("double") / col("__n")))
    // argmax with lexicographic tie-break: strict > improve scan
    val (bestLang, bestScore) = scores.tail.foldLeft(
      (lit(scores.head._1), scores.head._2)) { case ((bl, bs), (l, s)) =>
      (when(s > bs, lit(l)).otherwise(bl), when(s > bs, s).otherwise(bs))
    }
    scored.select(col(id), bestLang.as("lang_pred"),
      round(bestScore, 6).as("lang_score"))
  }

  /** Training-corpus text normalization: strip markup tags, mask
    * emails / URLs with placeholder tokens (the standard PII /
    * dedup-noise pass), collapse whitespace. Pure regexp_replace
    * chain — codegen'd, no UDF; patterns stay in the regex subset
    * both Java regex and RE2-style engines agree on.
    * Output: id, clean_text, n_chars_clean, n_emails, n_urls.
    */
  def cleanText(df: DataFrame, id: String, text: String): DataFrame = {
    val t = col(text)
    val email = "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}"
    val url = "https?://[^\\s]+"
    val cleaned = trim(regexp_replace(
      regexp_replace(
        regexp_replace(
          regexp_replace(t, "<[^>]*>", " "), // markup tags
          email, "<EMAIL>"),
        url, "<URL>"),
      "\\s+", " "))
    df.select(col(id), cleaned.as("clean_text"),
      length(cleaned).as("n_chars_clean"),
      regexp_count(t, lit(email)).as("n_emails"),
      regexp_count(t, lit(url)).as("n_urls"))
  }

  /** Quality + language gate bits per document — the shared decision
    * core of [[corpusFilter]] and [[curationPipeline]]: ONE
    * tokenize+explode+groupBy computes the quality AND language
    * aggregates (calling qualityScore + langId would tokenize and
    * shuffle the full corpus twice); the value expressions replicate
    * those operators term-for-term so the decisions are identical.
    * Output: id, quality_ok, lang_ok.
    */
  def qualityLangDecisions(df: DataFrame, id: String, text: String,
      minQuality: Double = 0.5,
      keepLangs: Seq[String] = Seq("en"),
      stopwords: Seq[String] = Seq("the", "a", "of", "and", "in")): DataFrame = {
    val words = df.withColumn("__w", explode(split(lower(trim(col(text))), "\\s+")))
    val langs = LangMarkers.keys.toSeq.sorted
    val langAggs = langs.map { l =>
      val ms = LangMarkers(l)
      (if (ms.isEmpty) sum(lit(0))
       else sum(when(col("__w").isin(ms: _*), 1).otherwise(0))).as(s"__hits_$l")
    }
    val qualityAggs = Seq(
      count(lit(1)).as("__wc"),
      countDistinct(col("__w")).as("__dw"),
      sum(when(col("__w").isin(stopwords: _*), 1).otherwise(0)).as("__sc"))
    val agg = words.groupBy(id).agg(qualityAggs.head,
      (qualityAggs.tail ++ langAggs): _*)
    val score = round((
      least(col("__wc").cast("double") / 100.0, lit(1.0)) +
      least(col("__sc").cast("double") / col("__wc") * 5.0, lit(1.0)) +
      least(col("__dw").cast("double") / col("__wc") * 2.0, lit(1.0))) / 3.0, 6)
    val scores = langs.map(l => (l, col(s"__hits_$l").cast("double") / col("__wc")))
    val (bestLang, _) = scores.tail.foldLeft(
      (lit(scores.head._1), scores.head._2)) { case ((bl, bs), (l, sc)) =>
      (when(sc > bs, lit(l)).otherwise(bl), when(sc > bs, sc).otherwise(bs))
    }
    agg.select(col(id),
      (score >= minQuality).as("quality_ok"),
      bestLang.isin(keepLangs: _*).as("lang_ok"))
  }

  /** End-to-end curation filter — the composition a training-data
    * pipeline actually runs: exact-dedup keeper ∧ quality ≥ minQuality
    * ∧ language ∈ keepLangs. Emits every document with its keep/drop
    * decision and the reason bits (kept docs have all three true).
    * Output: id, is_keeper, quality_ok, lang_ok, keep.
    */
  def corpusFilter(df: DataFrame, id: String, text: String,
      minQuality: Double = 0.5,
      keepLangs: Seq[String] = Seq("en"),
      stopwords: Seq[String] = Seq("the", "a", "of", "and", "in")): DataFrame = {
    val keeper = Dedup.exact(df, id, text)
      .select(col(id), (!col("is_duplicate")).as("is_keeper"))
    // LEFT join + coalesce(false): a NULL-text doc produces no token
    // rows (explode of a NULL split emits nothing), so it has no gate
    // aggregates — it must still receive a verdict (fails quality),
    // never silently vanish from the output
    keeper.join(
        qualityLangDecisions(df, id, text, minQuality, keepLangs, stopwords),
        Seq(id), "left")
      .withColumn("quality_ok", coalesce(col("quality_ok"), lit(false)))
      .withColumn("lang_ok", coalesce(col("lang_ok"), lit(false)))
      .withColumn("keep",
        col("is_keeper") && col("quality_ok") && col("lang_ok"))
  }

  /** The WHOLE curation pipeline as one declarative DAG — what a user
    * of this engine ships end to end: quality + language gates (the
    * [[qualityLangDecisions]] core), NEAR-dup family keeper (SimHash
    * connected components — an exact duplicate is a hamming-0 family
    * member, so the near family strictly subsumes the exact-hash
    * keeper corpusFilter uses), and the leakage-safe train/val/test
    * split by family hash ([[Sampling.leakageSafeSplitNear]]), so a
    * paraphrase of a kept doc can neither ship twice nor straddle
    * train/test. keep = family keeper ∧ quality_ok ∧ lang_ok; every
    * verdict carries its reason bits, so any dropped doc is
    * explainable.
    *
    * Scale shape by part: gates = ONE tokenize shuffle with map-side
    * partials; families = the banded SimHash pair join + pointer-
    * doubling components (the q_dedup_clusters cost class); split =
    * a hash projection. Catalyst fuses the three joins on the id key.
    * Output: id, family_id, lang_ok, quality_ok, is_keeper, keep,
    * split.
    */
  def curationPipeline(df: DataFrame, id: String, text: String,
      minQuality: Double = 0.5,
      keepLangs: Seq[String] = Seq("en"),
      maxDist: Int = 3, trainBps: Int = 9000, valBps: Int = 500,
      stopwords: Seq[String] = Seq("the", "a", "of", "and", "in")): DataFrame = {
    val fam = Sampling.leakageSafeSplitNear(df, id, text, maxDist,
      trainBps, valBps)
    // fam carries EVERY input doc; the gate side misses NULL-text
    // docs (no token rows), so the join is LEFT from fam with the
    // missing gate bits coalesced to false — every doc gets a
    // verdict, a NULL-text doc simply fails quality
    fam.select(col(id), col("family_id"), col("split"))
      .join(qualityLangDecisions(df, id, text, minQuality, keepLangs,
        stopwords), Seq(id), "left")
      .withColumn("quality_ok", coalesce(col("quality_ok"), lit(false)))
      .withColumn("lang_ok", coalesce(col("lang_ok"), lit(false)))
      .withColumn("is_keeper", col(id) === col("family_id"))
      .withColumn("keep",
        col("is_keeper") && col("quality_ok") && col("lang_ok"))
      .select(col(id), col("family_id"), col("lang_ok"), col("quality_ok"),
        col("is_keeper"), col("keep"), col("split"))
  }

  /** One micro-batch of the end-to-end curation verdict against a
    * FROZEN family registry — [[curationPipeline]]'s append-only /
    * foreachBatch twin (the [[graft.ext.Dedup.dedupIngestIndexed]]
    * streaming shape): families come from
    * [[graft.ext.Sampling.assignFamiliesIncremental]], so existing
    * docs are never renumbered and a family's split can never change;
    * gates (quality + language) are per-doc and batch-local. The
    * keeper rule is the batch form's `id == family_id` — a doc
    * joining an existing family can never be its keeper (the founder,
    * in an older batch, already is), a new family's min-id founder
    * is. Output: [[curationPipeline]]'s columns plus `simhash`, which
    * makes extending the registry a pure union:
    * registry' = registry ∪ out.select(id, family_id, simhash).
    */
  def curationIngest(batch: DataFrame, registry: DataFrame, id: String,
      text: String, minQuality: Double = 0.5,
      keepLangs: Seq[String] = Seq("en"),
      maxDist: Int = 3, trainBps: Int = 9000, valBps: Int = 500,
      stopwords: Seq[String] = Seq("the", "a", "of", "and", "in")): DataFrame = {
    val fam = Sampling.familySplit(
      Sampling.assignFamiliesIncremental(batch, registry, id, text, maxDist),
      trainBps, valBps)
    fam.select(col(id), col("family_id"), col("split"), col("simhash"))
      .join(qualityLangDecisions(batch, id, text, minQuality, keepLangs,
        stopwords), Seq(id), "left")
      .withColumn("quality_ok", coalesce(col("quality_ok"), lit(false)))
      .withColumn("lang_ok", coalesce(col("lang_ok"), lit(false)))
      .withColumn("is_keeper", col(id) === col("family_id"))
      .withColumn("keep",
        col("is_keeper") && col("quality_ok") && col("lang_ok"))
      .select(col(id), col("family_id"), col("lang_ok"), col("quality_ok"),
        col("is_keeper"), col("keep"), col("split"), col("simhash"))
  }

  /** Per-source curation scorecard — the aggregate a pipeline uses to
    * rank or drop whole sources (domains, crawls, dumps) before
    * touching individual documents: volume, exact-dup rate inside the
    * source, total characters, language mix. One shuffle on the
    * source key with map-side partial aggregation; the distinct-text
    * count rides the same shuffle keyed by (source, hash).
    * Output: source, n_docs, n_unique, dup_rate, sum_chars, n_en.
    */
  def sourceStats(df: DataFrame, source: String, text: String,
      lang: String): DataFrame =
    df.select(col(source),
        Dedup.normHash(col(text)).as("__h"),
        length(col(text)).cast("long").as("__len"),
        (col(lang) === "en").cast("int").as("__en"))
      .groupBy(col(source))
      // counts stay long: at the scorecard's documented scale (billions
      // of docs per source in a pre-training corpus) int32 overflows
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("__h")).as("n_unique"),
        round(lit(1.0) - countDistinct(col("__h")) * lit(1.0) / count(lit(1)), 6)
          .as("dup_rate"),
        sum(col("__len")).as("sum_chars"),
        sum(col("__en")).cast("long").as("n_en"))

  /** Deterministic sequence packing: assign documents to token-budget
    * batches (the pre-training batching step). Docs are sharded by
    * id-hash (packing is per-shard so no global-ordering bottleneck —
    * the single-partition cumulative sum a naive global pack needs
    * dies at corpus scale), ordered by id within the shard, and the
    * batch index is floor((cumulative_tokens − tokens) / budget):
    * greedy fill in id order, a doc spanning a boundary starts in the
    * earlier batch. Oversized docs (> budget) occupy their own
    * batches. Output: id, shard, n_tokens, batch.
    */
  def packBatches(df: DataFrame, id: String, text: String,
      budgetTokens: Long = 2048, nShards: Int = 16): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tokens = size(split(trim(col(text)), "\\s+"))
    val shard = pmod(col(id), lit(nShards)) // engine-portable shard key
    val w = Window.partitionBy(col("shard")).orderBy(col(id))
      .rowsBetween(Window.unboundedPreceding, 0)
    df.select(col(id), shard.as("shard"), tokens.cast("long").as("n_tokens"))
      .withColumn("__cum", sum(col("n_tokens")).over(w))
      .withColumn("batch",
        floor((col("__cum") - col("n_tokens")) / budgetTokens).cast("long"))
      .drop("__cum")
  }

  /** Quantile-bucketed sequence packing — [[packBatches]] upgraded
    * with length-homogeneous batches, the padding-efficiency trick a
    * training pipeline runs before batching: within each shard, docs
    * are ntile'd into `nBuckets` length classes (equi-depth quantile
    * buckets over the token count, total-ordered by (n_tokens, id) so
    * the assignment is deterministic and engine-portable), then the
    * greedy budget fill runs per (shard, bucket). Batches therefore
    * mix only similar-length docs, so per-batch padding to the max
    * length wastes ~1/nBuckets of the tail instead of the whole
    * spread.
    *
    * Scale shape: ONE exchange on shard; both windows (the ntile and
    * the running sum) sort within the shard partition, and the
    * second window's (shard, bucket) partitioning is a prefix
    * refinement of the first, so Catalyst reuses the exchange.
    * Output: id, shard, len_bucket, n_tokens, batch.
    */
  def packBatchesBucketed(df: DataFrame, id: String, text: String,
      budgetTokens: Long = 2048, nShards: Int = 16,
      nBuckets: Int = 4): DataFrame = {
    val tokens = size(split(trim(col(text)), "\\s+"))
    val shard = pmod(col(id), lit(nShards))
    val wb = Window.partitionBy(col("shard"))
      .orderBy(col("n_tokens").asc, col(id).asc)
    val wp = Window.partitionBy(col("shard"), col("len_bucket"))
      .orderBy(col("n_tokens").asc, col(id).asc)
      .rowsBetween(Window.unboundedPreceding, 0)
    df.select(col(id), shard.as("shard"), tokens.cast("long").as("n_tokens"))
      .withColumn("len_bucket", ntile(nBuckets).over(wb))
      .withColumn("__cum", sum(col("n_tokens")).over(wp))
      .withColumn("batch",
        floor((col("__cum") - col("n_tokens")) / budgetTokens).cast("long"))
      .drop("__cum")
  }

  /** Lowercased whitespace tokens with empties dropped — the shared
    * tokenizer of the repetition/bigram family (one definition, three
    * call sites, so the tokenization contract can't drift).
    */
  private[ext] def tokens(text: Column): Column =
    filter(split(lower(trim(text)), "\\s+"), w => w =!= lit(""))

  /** Split a word into CODE-POINT symbols — the BPE symbol alphabet.
    * `split(word, "")` (and Scala's `String.split("")`) cut UTF-16
    * code units, so a supplementary-plane character (emoji, musical
    * symbols) becomes two lone-surrogate half-symbols while every SQL
    * engine's substring/length are per code point — the engine and
    * its oracle would train different merge sequences from round 1.
    * The Spark-side twin is sequence(1, length(word)) + substr (both
    * code-point-based on UTF8String).
    */
  private[graft] def codePointSyms(w: String): Array[String] = {
    val out = Array.newBuilder[String]
    var i = 0
    while (i < w.length) {
      val cp = w.codePointAt(i)
      out += new String(Character.toChars(cp))
      i += Character.charCount(cp)
    }
    out.result()
  }

  /** Adjacent-pair bigrams of a BOUND token-array column. The argument
    * must be a materialized attribute (select the token array into a
    * column first): HOF lambdas evaluate interpreted with no CSE, so
    * handing an inline tokenize expression here makes `element_at`
    * re-tokenize the document once per element — O(tokens²) per doc
    * (measured: q_vocab_bigrams 3.4 s inline vs the bound form; the
    * caller projections keep the alias because it is referenced three
    * times, which stops CollapseProject from inlining it back).
    */
  private[ext] def bigramsOf(ws: Column): Column =
    transform(
      slice(ws, lit(1), greatest(size(ws) - 1, lit(0))),
      (w, i) => concat_ws(" ", w, element_at(ws, i + 2)))

  /** Gopher-style repetition signals — the word-level repetition
    * filters a pre-training curation pass runs per document: duplicate
    * word fraction (1 − distinct/total), top-unigram fraction, and
    * top-bigram fraction. Per-doc sorted-array folds, zero shuffle:
    * each document is scored inside its scan task, the shape that
    * stays embarrassingly parallel at 100 TB. NOTE: the `aggregate`
    * lambdas evaluate INTERPRETED (higher-order-function lambdas sit
    * outside whole-stage codegen — measured in COVERAGE.md §2.9), so
    * this trades interpreted per-row CPU for zero shuffle; ExtSpec pins
    * it equal to a relational explode + hash-aggregate formulation.
    * Docs with zero words are dropped (no meaningful ratios).
    * Output: id, n_words, n_distinct_words, dup_word_frac,
    * top_word_frac, top_bigram_frac.
    */
  def repetitionStats(df: DataFrame, id: String, text: String): DataFrame = {
    // longest run of equal adjacent elements in the sorted array ==
    // max term frequency; one fold (interpreted — see method doc),
    // long arithmetic only
    def maxRun(arr: Column): Column = aggregate(
      sort_array(arr),
      struct(lit("").as("prev"), lit(0L).as("run"), lit(0L).as("best")),
      (acc, x) => {
        val run = when(x === acc.getField("prev"), acc.getField("run") + 1L)
          .otherwise(lit(1L))
        struct(x.as("prev"), run.as("run"),
          greatest(acc.getField("best"), run).as("best"))
      },
      acc => acc.getField("best"))
    df.select(col(id), tokens(col(text)).as("__ws"))
      .select(col(id), col("__ws"), bigramsOf(col("__ws")).as("__bi"),
        size(col("__ws")).cast("long").as("n_words"),
        size(array_distinct(col("__ws"))).cast("long").as("n_distinct_words"))
      .filter(col("n_words") > 0)
      .select(col(id), col("n_words"), col("n_distinct_words"),
        round(lit(1.0) - col("n_distinct_words") * lit(1.0) / col("n_words"), 6)
          .as("dup_word_frac"),
        round(maxRun(col("__ws")) * lit(1.0) / col("n_words"), 6)
          .as("top_word_frac"),
        round(when(col("n_words") >= 2,
            maxRun(col("__bi")) * lit(1.0) / (col("n_words") - 1))
          .otherwise(lit(0.0)), 6).as("top_bigram_frac"))
  }

  /** Context-window document chunking: fixed-size character chunks on
    * a fixed stride (overlap = chunkSize − stride), the step that
    * splits long documents into model-window pieces. One
    * sequence+explode per doc — chunk count is derived from the
    * length column, so the explode never materializes beyond the
    * doc's own chunks and the operator stays scan-local (no shuffle).
    * Empty docs yield no chunks. The final chunk may be shorter than
    * chunkSize (no padding). Output: id, chunk_id (0-based),
    * start_offset (1-based char), chunk_text.
    */
  def chunkDocs(df: DataFrame, id: String, text: String,
      chunkSize: Int = 120, stride: Int = 90): DataFrame = {
    require(chunkSize > 0 && stride > 0 && stride <= chunkSize,
      s"need 0 < stride <= chunkSize: size=$chunkSize stride=$stride")
    val t = col(text)
    df.filter(length(t) > 0)
      .select(col(id), t.as("__t"),
        explode(sequence(lit(0L),
          floor((length(t) - 1) / lit(stride)).cast("long"))).as("chunk_id"))
      .select(col(id), col("chunk_id"),
        (col("chunk_id") * stride + 1).as("start_offset"),
        col("__t").substr((col("chunk_id") * stride + 1).cast("int"),
          lit(chunkSize)).as("chunk_text"))
  }

  /** Global word-frequency top-k — the vocabulary-building /
    * tokenizer-training prep pass: total occurrences and document
    * frequency per word, top k by count. One shuffle on the word key
    * with map-side partial aggregation (hot words — "the" at corpus
    * scale — combine inside each scan task before shuffling, so the
    * skew lands pre-reduced); the top-k is TakeOrderedAndProject over
    * the aggregated vocabulary, never a global sort of it.
    * Deterministic: ties break lexicographically.
    * Output: word, n_occurrences, n_docs — top k rows.
    */
  def wordFrequencies(df: DataFrame, id: String, text: String,
      k: Int = 100): DataFrame =
    df.select(col(id), explode(split(lower(trim(col(text))), "\\s+")).as("word"))
      .filter(col("word") =!= "")
      .groupBy("word")
      .agg(count(lit(1)).as("n_occurrences"),
        countDistinct(col(id)).as("n_docs"))
      .orderBy(col("n_occurrences").desc, col("word").asc)
      .limit(k)

  /** EXACT corpus heavy hitters with BOUNDED state end to end — the
    * scale-safe replacement for "group by token, having count ≥ φ·N"
    * whose exact form shuffles the ENTIRE vocabulary (web-scale
    * corpora have billions of distinct tokens; the aggregate state is
    * unbounded). Two passes, both fixed-memory:
    *   1. one global `graft_heavy_hitters` Misra-Gries sketch
    *      (O(capacity) state per task, mergeable) yields ≤ capacity
    *      candidate tokens — guaranteed to contain EVERY token with
    *      frequency > N/(capacity+1), for any partition layout;
    *   2. the corpus is re-scanned counting ONLY candidate tokens
    *      (broadcast semi-join on ≤ capacity keys — the shuffle moves
    *      ≤ capacity partial counts per task), then the exact
    *      φ-threshold filter runs on true counts.
    * Requiring φ > 1/(capacity+1) makes pass 1 lossless for the
    * pass-2 threshold, so the output is EXACTLY the φ-heavy-hitter
    * set — sketch candidates that fall short are discarded by the
    * exact re-count. The φ comparison is pure integer arithmetic
    * (n·10⁶ ≥ N·ppm), bit-portable across engines.
    * Output: token, n_occurrences (φ = supportPpm/10⁶ of all tokens).
    */
  def heavyHitterTokens(df: DataFrame, id: String, text: String,
      capacity: Int, supportPpm: Long): DataFrame = {
    require((capacity + 1).toLong * supportPpm > 1000000L,
      "MG containment guarantee needs supportPpm > 1e6/(capacity+1)")
    val toks = df.select(explode(tokens(col(text))).as("token"))
    val cands = toks
      .agg(call_function("graft_heavy_hitters", col("token"),
        lit(capacity)).as("__mg"))
      .select(explode(map_keys(col("__mg"))).as("token"))
    val total = toks.agg(count(lit(1)).as("__total"))
    toks.join(broadcast(cands), "token")
      .groupBy("token").agg(count(lit(1)).as("n_occurrences"))
      .crossJoin(total)
      .filter(col("n_occurrences") * lit(1000000L) >=
        col("__total") * lit(supportPpm))
      .select(col("token"), col("n_occurrences"))
  }

  /** Code-point string comparison — equals UTF-8 byte order, which is
    * what BOTH engines sort varchar by (Spark's UTF8String binary
    * compare, DuckDB's memcmp). Java `String.compareTo` is UTF-16
    * code-UNIT order and diverges on supplementary-plane characters
    * (surrogates at 0xD800 sort below U+E000..U+FFFF, while the code
    * points they encode are above 0xFFFF) — the driver-side merge loop
    * must break ties exactly like the engines' ORDER BY, so it
    * compares code points.
    */
  private[graft] def cpCompare(a: String, b: String): Int = {
    var i = 0
    while (i < a.length && i < b.length) {
      val ca = a.codePointAt(i)
      val cb = b.codePointAt(i)
      if (ca != cb) return Integer.compare(ca, cb)
      i += Character.charCount(ca)
    }
    Integer.compare(a.length - i, b.length - i)
  }

  /** Incremental driver-side BPE pair index over a word-frequency
    * table — the shared merge-loop engine of [[trainBpe]] and
    * [[trainBpeBatched]]. Maintains, across merge rounds:
    *   - exact pair weights (`pw`, ALL pairs — a weight-1 pair can
    *     later RISE if a merge creates a colliding symbol, e.g.
    *     merging (a,b) creates "ab" where a distinct "ab" symbol
    *     already existed);
    *   - an ordered set of the weight-≥2 pairs keyed (w desc, l asc,
    *     r asc) in code-point order — [[trainBpe]]'s exact total tie
    *     order (== both engines' ORDER BY, see [[cpCompare]]) — so
    *     each round's argmax / top-k is O(log P), not a vocab scan;
    *   - an occurrence index pair → word ids, so a round rewrites
    *     ONLY the words containing a picked pair and updates pair
    *     weights by exact delta (subtract the word's old adjacent
    *     pairs, apply the fold, add the new ones).
    * Per-round cost is ∝ the affected words' symbol count — never the
    * corpus, never a full vocabulary re-scan — the classic
    * incremental BPE trainer (what HF tokenizers / SentencePiece do),
    * here with the engines' exact tie order so the trajectory is
    * bit-replayable by the DuckDB oracle.
    */
  private[graft] final class BpePairIndex(wordCounts: Array[(String, Long)]) {
    private val words: Array[Array[String]] =
      wordCounts.map(wc => codePointSyms(wc._1))
    private val wts: Array[Long] = wordCounts.map(_._2)
    private val pw = scala.collection.mutable.HashMap.empty[(String, String), Long]
    // occurrence sets hold word IDS — memory ∝ ACTUAL occurrences
    // (HashSet), deliberately not a BitSet: a bitset is sized by the
    // LARGEST id, so at production shape (tens of millions of
    // near-singleton pairs, each occurring in one high-numbered
    // word) it would cost O(pairs × maxWordId/8) bytes — the corpus
    // axis the vocab-table contract forbids. Entries evict when a
    // pair's last occurrence disappears (below), so dead pairs from
    // 30k merge rounds don't accrete either.
    private val occ =
      scala.collection.mutable.HashMap.empty[(String, String), scala.collection.mutable.HashSet[Int]]
    private implicit val peOrd: Ordering[(Long, String, String)] =
      new Ordering[(Long, String, String)] {
        def compare(a: (Long, String, String), b: (Long, String, String)): Int = {
          val cw = java.lang.Long.compare(b._1, a._1) // weight DESC
          if (cw != 0) cw
          else {
            val cl = cpCompare(a._2, b._2)
            if (cl != 0) cl else cpCompare(a._3, b._3)
          }
        }
      }
    private val ordered = scala.collection.mutable.TreeSet.empty[(Long, String, String)]

    locally {
      var wid = 0
      while (wid < words.length) {
        val sym = words(wid)
        val c = wts(wid)
        var i = 0
        while (i < sym.length - 1) {
          val p = (sym(i), sym(i + 1))
          pw.update(p, pw.getOrElse(p, 0L) + c)
          occ.getOrElseUpdate(p, scala.collection.mutable.HashSet.empty[Int]) += wid
          i += 1
        }
        wid += 1
      }
      pw.foreach { case ((l, r), w) => if (w >= 2L) ordered.add((w, l, r)) }
    }

    /** Heaviest repeating pair, or None when no pair repeats —
      * trainBpe's per-round argmax (w desc, l asc, r asc, w ≥ 2).
      */
    def top: Option[(String, String, Long)] =
      ordered.headOption.map { case (w, l, r) => (l, r, w) }

    /** Top-k repeating pairs in the same order — trainBpeBatched's
      * per-round candidate list (ORDER BY w DESC, l, r LIMIT k).
      */
    def topK(k: Int): Seq[(String, String, Long)] =
      ordered.iterator.take(k).map { case (w, l, r) => (l, r, w) }.toSeq

    /** Apply one round's picked pairs simultaneously: every word
      * containing a picked pair is rewritten by the greedy
      * left-to-right fold (if (acc.last, x) is picked, replace
      * acc.last with acc.last+x — byte-identical to the engine fold
      * both trainers ran distributed through r14, including the
      * documented within-pass cascade: a symbol CREATED by an earlier
      * match participates in a later match iff its concatenation
      * equals a picked left). Pair weights/occurrences update by
      * exact delta; the ordered set re-keys only changed pairs.
      */
    def applyRound(picked: Seq[(String, String)]): Unit = {
      val pickedSet = picked.toSet
      val affected = scala.collection.mutable.BitSet.empty
      picked.foreach(p => occ.get(p).foreach(affected ++= _))
      val delta = scala.collection.mutable.HashMap.empty[(String, String), Long]
      affected.foreach { wid =>
        val old = words(wid)
        val c = wts(wid)
        var i = 0
        while (i < old.length - 1) {
          val p = (old(i), old(i + 1))
          delta.update(p, delta.getOrElse(p, 0L) - c)
          occ.get(p).foreach { s =>
            s -= wid
            if (s.isEmpty) occ.remove(p) // evict dead pairs' sets
          }
          i += 1
        }
        val acc = scala.collection.mutable.ArrayBuffer.empty[String]
        old.foreach { x =>
          if (acc.nonEmpty && pickedSet.contains((acc.last, x)))
            acc(acc.size - 1) = acc.last + x
          else acc += x
        }
        val nw = acc.toArray
        words(wid) = nw
        i = 0
        while (i < nw.length - 1) {
          val p = (nw(i), nw(i + 1))
          delta.update(p, delta.getOrElse(p, 0L) + c)
          occ.getOrElseUpdate(p, scala.collection.mutable.HashSet.empty[Int]) += wid
          i += 1
        }
      }
      delta.foreach { case (p, d) =>
        if (d != 0L) {
          val before = pw.getOrElse(p, 0L)
          val after = before + d
          if (before >= 2L) ordered.remove((before, p._1, p._2))
          if (after >= 2L) ordered.add((after, p._1, p._2))
          if (after == 0L) pw.remove(p) else pw.update(p, after)
        }
      }
    }
  }

  /** ONE distributed corpus pass → the collected word-frequency
    * table the BPE trainers run on. The collect is bounded on the
    * VOCABULARY axis (distinct words × counts — millions of rows /
    * tens of MB at web scale, vs trillions of corpus tokens), the
    * same bounded-driver-table class as [[encodeBpe]]'s merge map
    * and the PQ codebook training set — never the corpus axis. The
    * tokenize fans out before the explode (guide §2.5; identity at
    * cluster scale — see FanOut).
    */
  private def collectWordCounts(df: DataFrame, text: String): Array[(String, Long)] =
    graft.core.FanOut(df.select(col(text)))
      .select(explode(tokens(col(text))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("wt"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1)))

  /** BPE tokenizer TRAINING (Sennrich et al., ACL'16) — learn
    * `numMerges` byte-pair merges from the corpus. Runs on the
    * DISTINCT-WORD frequency table, not the raw corpus: one
    * distributed corpus tokenize+count up front, then the merge loop
    * runs DRIVER-SIDE on the collected vocabulary-sized table via the
    * incremental [[BpePairIndex]] (the SentencePiece / HF-tokenizers
    * shape, and the trainPq/driver-Lloyd precedent in this repo).
    * Through r14 every merge round was a distributed job pair over a
    * cached vocab table; at the bench SF that was ~0.25 s/round of
    * pure driver planning+scheduling on vocabulary-sized data, and at
    * a production 30k-merge vocabulary it is 30k sequential Spark
    * jobs — the job-count scale-killer. The restructure moves ONE
    * vocab-sized collect to the driver (bounded on the vocab axis,
    * never the corpus) and makes each round O(affected words), with
    * corpus-size-independence preserved: the corpus is touched
    * exactly once, distributed.
    *
    * Trajectory is UNCHANGED from the distributed form (BpeSpec pins
    * it merge-for-merge against a literal reference; the DuckDB
    * oracle replays it): same pair weights (exact integer sums), same
    * argmax tie order (weight desc, left asc, right asc in code-point
    * order — both engines' ORDER BY, see [[cpCompare]]), same greedy
    * left-to-right merge ("aaa" + (a,a) → ["aa","a"]), same early
    * stop when no pair repeats.
    *
    * Output: rank (1-based merge order), left, right, merged, weight.
    */
  def trainBpe(df: DataFrame, id: String, text: String,
      numMerges: Int): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val idx = new BpePairIndex(collectWordCounts(df, text))
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, String, Long)]
    var done = false
    var r = 1
    while (r <= numMerges && !done) {
      idx.top match {
        case None => done = true // no pair repeats: compression exhausted
        case Some((l, rr, w)) =>
          merges += ((r, l, rr, l + rr, w))
          idx.applyRound(Seq((l, rr)))
      }
      r += 1
    }
    merges.toSeq.toDF("rank", "left", "right", "merged", "weight")
  }

  /** BATCHED BPE training — [[trainBpe]]'s greedy objective, several
    * merges per round: the top `candCap` candidates (ordered w desc,
    * l, r — trainBpe's exact tie order) are scanned greedily for up
    * to `batchSize` SYMBOL-DISJOINT pairs (no symbol may appear in
    * two picked pairs — disjointness is what makes one simultaneous
    * replacement pass well-defined), then all picks apply in one
    * fold. numMerges must divide into rounds exactly (numMerges =
    * rounds·batchSize), so the whole trajectory is a fixed,
    * oracle-replayable schedule: with batchSize = 1 the output is
    * IDENTICAL to [[trainBpe]] (BpeSpec pins it). Runs on the same
    * driver-side [[BpePairIndex]] over the one-pass collected
    * vocabulary table (see [[trainBpe]] for the restructure and its
    * scale contract); the batching remains the production knob that
    * divides ROUND count — rounds are cheap now, but each round's
    * candidate ordering is a global decision, and fewer rounds is
    * fewer global synchronization points however the loop is hosted.
    *
    * Semantics note, replayed verbatim by the oracle: the application
    * fold scans left to right matching ANY picked pair, so a symbol
    * CREATED by a merge earlier in the pass can participate in a
    * later match within the same pass iff its concatenation equals a
    * picked left symbol — deterministic in both engines because both
    * run the identical sequential fold.
    * Output: rank, left, right, merged, weight — [[trainBpe]]'s
    * schema, rank in pick order.
    */
  def trainBpeBatched(df: DataFrame, id: String, text: String,
      numMerges: Int, batchSize: Int, candCap: Int = 0): DataFrame = {
    require(batchSize >= 1 && numMerges % batchSize == 0,
      s"numMerges ($numMerges) must be a multiple of batchSize ($batchSize)")
    val cap = if (candCap > 0) candCap else math.max(4 * batchSize, 8)
    val spark = df.sparkSession
    import spark.implicits._
    val idx = new BpePairIndex(collectWordCounts(df, text))
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, String, Long)]
    val rounds = numMerges / batchSize
    var r = 0
    var rank = 1
    var done = false
    while (r < rounds && !done) {
      val cands = idx.topK(cap)
      val used = scala.collection.mutable.Set.empty[String]
      val picked = scala.collection.mutable.ArrayBuffer.empty[(String, String, Long)]
      cands.foreach { case (l, rr, w) =>
        if (picked.size < batchSize && !used(l) && !used(rr)) {
          used += l; used += rr
          picked += ((l, rr, w))
        }
      }
      if (picked.isEmpty) done = true
      else {
        picked.foreach { case (l, rr, w) =>
          merges += ((rank, l, rr, l + rr, w)); rank += 1
        }
        idx.applyRound(picked.map { case (l, rr, _) => (l, rr) }.toSeq)
      }
      r += 1
    }
    merges.toSeq.toDF("rank", "left", "right", "merged", "weight")
  }

  /** Apply a [[trainBpe]] merge table to the corpus — the ENCODE side
    * of the tokenizer: per-document BPE token counts, the number every
    * packing/budget decision downstream actually needs (whitespace
    * token counts misprice long/rare words).
    *
    * Scale shape — the vocab-table trick again, in reverse: each
    * DISTINCT word is encoded exactly once (the distinct-word table is
    * vocabulary-sized, corpus-size-independent), then one equi-join
    * carries (word → token count) back onto the per-doc word counts.
    * The merge table is numMerges rows BY CONTRACT — the one bounded
    * driver collect + broadcast, mirroring trainBpe's one-row-per-round
    * contract. Encoding a word runs the standard lowest-rank-first
    * merge loop, O(len²·log) worst case per distinct word,
    * INDEPENDENT of numMerges — on a rank table produced by
    * sequential BPE training this is provably equivalent to replaying
    * the merges in rank order (a merge can only create pairs that
    * were trained LATER, since training first saw the merged symbol
    * after that round; adjacency is never created between
    * pre-existing symbols), and BpeSpec pins the equivalence against
    * a literal replay. A Scala UDF is the right tool here: the loop
    * is per-row imperative with a shared lookup map, it runs on the
    * vocab axis (never the corpus axis), and the corpus-axis work —
    * explode, count, join, sum — all stays codegen'd.
    * Output: id, n_words, n_bpe_tokens, n_bytes_tokenized. The size
    * column is UTF-8 BYTES, not characters, deliberately: Spark's
    * split("") yields UTF-16 code units while SQL length() counts
    * code points, so a supplementary-plane character (emoji) makes
    * "characters" engine-dependent — byte length (octet_length /
    * strlen) is the one width both engines and the token bound agree
    * on (symbols-from-split ≤ UTF-16 units ≤ UTF-8 bytes, per code
    * point: 1–3-byte forms are 1 unit, the 4-byte form is 2 units).
    */
  def encodeBpe(df: DataFrame, id: String, text: String,
      merges: DataFrame): DataFrame = {
    val spark = df.sparkSession
    val ranks: Map[(String, String), Int] = merges
      .select(col("rank").cast("int"), col("left"), col("right"))
      .collect()
      .map(r => (r.getString(1), r.getString(2)) -> r.getInt(0)).toMap
    val bc = spark.sparkContext.broadcast(ranks)
    val encodedLen = udf { (w: String) =>
      val rk = bc.value
      var syms = codePointSyms(w).toVector
      var go = syms.length > 1
      while (go) {
        var best = Int.MaxValue
        var bi = -1
        var i = 0
        while (i < syms.length - 1) {
          val r = rk.getOrElse((syms(i), syms(i + 1)), Int.MaxValue)
          if (r < best) { best = r; bi = i } // leftmost wins ties
          i += 1
        }
        if (bi < 0) go = false
        else {
          syms = (syms.take(bi) :+ (syms(bi) + syms(bi + 1))) ++
            syms.drop(bi + 2)
          go = syms.length > 1
        }
      }
      syms.length
    }
    // NOT cached and NOT fanned out (measured r15): the word-count
    // table feeds both join legs, but Catalyst already reuses the
    // groupBy exchange across them, so a cache (and the fan-out's
    // extra exchange) only added materialization overhead
    // (q_bpe_check 1.26->1.87 s, q_bpe_apply 1.61->2.38 s A/B'd)
    val wordCounts = df
      .select(col(id), explode(tokens(col(text))).as("word"))
      .groupBy(col(id), col("word")).agg(count(lit(1)).as("cnt"))
    val wordEnc = wordCounts.select("word").distinct()
      .withColumn("n_toks", encodedLen(col("word")))
    wordCounts.join(wordEnc, "word")
      .groupBy(id)
      .agg(sum(col("cnt")).as("n_words"),
        sum(col("cnt") * col("n_toks")).as("n_bpe_tokens"),
        sum(col("cnt") * octet_length(col("word"))).as("n_bytes_tokenized"))
  }

  /** Global bigram-frequency top-k — the n-gram extension of
    * [[wordFrequencies]] (tokenizer-training / collocation-mining
    * prep). Bigrams are assembled scan-local by zipping the token
    * array with its own tail — no self-join, no shuffle before the
    * aggregation — then the same one-shuffle partial-agg +
    * TakeOrderedAndProject shape as the unigram pass. Deterministic:
    * the (count desc, bigram asc) order is strict because bigram is
    * the grouping key. Output: bigram, n_occurrences, n_docs — top k.
    */
  def bigramFrequencies(df: DataFrame, id: String, text: String,
      k: Int = 100): DataFrame = {
    df.select(col(id), tokens(col(text)).as("__ws"))
      .select(explode(bigramsOf(col("__ws"))).as("bigram"), col(id))
      .groupBy("bigram")
      .agg(count(lit(1)).as("n_occurrences"),
        countDistinct(col(id)).as("n_docs"))
      .orderBy(col("n_occurrences").desc, col("bigram").asc)
      .limit(k)
  }

  /** Mod-p sampled shingle-hash fingerprint (winnowing-style document
    * signature): 60-bit hashes of k-word shingles, keep those ≡ 0
    * (mod p), fingerprint = md5 of the sorted kept hashes.
    * Output: id, n_selected, fingerprint.
    */
  def fingerprint(df: DataFrame, id: String, text: String, k: Int = 3,
      p: Int = 4): DataFrame = {
    val sh = Dedup.shinglesHashed(df, id, text, k)
      .withColumnRenamed("sh60", "__h")
      .filter(pmod(col("__h"), lit(p)) === 0)
    sh.groupBy(id).agg(
      count(lit(1)).as("n_selected"),
      md5(array_join(array_sort(collect_list(col("__h").cast("string"))), ","))
        .as("fingerprint"))
  }

  /** Per-document n-gram NOVELTY — the fraction of a document's
    * distinct k-grams appearing in NO other document: the corpus-level
    * memorization/boilerplate audit signal (low novelty = the doc is
    * assembled from corpus-repeated fragments — the doc-level
    * companion to [[graft.ext.Dedup.substringSpans]]' span detector,
    * and the aggregate the dedup family's effect is reported in).
    *
    * Shape: one shingle pass, one document-frequency aggregate on the
    * 60-bit hash (map-side combined), one equi-join back — never
    * pairwise, never corpus×corpus. Determinism: n_grams/n_novel are
    * exact integers; novelty is the RAW IEEE quotient of those two
    * integers — identically shaped in both engines, so bit-identical
    * (ROUNDING it would be the trap: a small-denominator rational can
    * land exactly on a 7th-decimal midpoint where the engines' tie
    * rules diverge). Output: id, n_grams, n_novel, novelty (NULL for
    * docs too short to shingle).
    */
  def ngramNovelty(df: DataFrame, id: String, text: String,
      k: Int = 3): DataFrame = {
    val sh = graft.core.Caches.cached(Dedup.shinglesHashed(df, id, text, k))
    val dfreq = sh.groupBy("sh60").agg(count(lit(1)).as("__df"))
    val per = sh.join(dfreq, "sh60")
      .groupBy(col(id))
      .agg(count(lit(1)).as("__ng"),
        sum(when(col("__df") === 1, 1L).otherwise(0L)).as("__nn"))
    df.select(col(id))
      .join(per, Seq(id), "left")
      .select(col(id),
        coalesce(col("__ng"), lit(0L)).as("n_grams"),
        coalesce(col("__nn"), lit(0L)).as("n_novel"))
      .withColumn("novelty",
        when(col("n_grams") > 0,
          col("n_novel") * lit(1.0) / col("n_grams")))
  }

  /** Winnowing document fingerprints — Schleimer, Wilkerson & Aiken
    * 2003 ("Winnowing: Local Algorithms for Document Fingerprinting",
    * the MOSS algorithm), the principled upgrade of the mod-p sampler
    * in [[fingerprint]]: per document, hash every k-token gram, slide
    * a window of `w` consecutive hashes, and keep each window's
    * MINIMUM (ties → the rightmost occurrence, the paper's robust
    * choice), deduplicated. The GUARANTEE mod-p sampling lacks: any
    * shared token run of length ≥ w + k − 1 is caught by at least one
    * shared fingerprint, while expected density stays 2/(w+1).
    *
    * Shape: one tokenize+hash pass, ONE groupBy(id) collecting the
    * positioned hash array, then window-min selection as pure per-row
    * array ops — no self-join, no window exchange; per-row memory is
    * bounded by the longest document (the verifyJaccardArr array bound).
    * The (hash, position) pair is packed into one BIGINT
    * (40-bit gram hash · 2²⁰ + (2²⁰−1 − pos)) so a single array_min
    * realizes "min hash, ties → rightmost" in both engines; documents
    * beyond 2²⁰ tokens would alias positions, so an assert_true guard
    * turns that into a loud analysis error instead of silent aliasing.
    * Documents with fewer than w grams winnow their single short
    * window; documents with fewer than k tokens emit nothing.
    * Output: id, pos (gram start, 0-based), fp (40-bit gram hash) —
    * one row per selected fingerprint.
    */
  def winnowFingerprints(df: DataFrame, id: String, text: String,
      k: Int = 4, w: Int = 5): DataFrame = {
    require(k >= 1 && w >= 1, s"k and w must be >= 1, got k=$k w=$w")
    val words = split(lower(trim(col(text))), "\\s+")
    val positions = Dedup.gramPositions(col("__words"), k)
    val h40 = Dedup.hashPrefix(
      array_join(slice(col("__words"), col("__i"), lit(k)), " "), 10)
    val anch = df.withColumn("__words", words)
      .withColumn("__i", explode(positions))
      .select(col(id), (col("__i") - 1).as("pos"), h40.as("__h"))
      .withColumn("__guard", when(col("pos") >= 1048576L,
        assert_true(lit(false), lit(
          "winnowFingerprints: document exceeds 2^20 tokens — " +
            "packed position would alias"))))
      .filter(col("__guard").isNull)
    val packed = anch.groupBy(col(id))
      .agg(array_sort(collect_list(struct(col("pos"), col("__h"))))
        .as("__a")) // struct sort = position order (pos is unique/doc)
      .withColumn("__c", transform(col("__a"), s =>
        s.getField("__h") * lit(1048576L) +
          (lit(1048575L) - s.getField("pos"))))
    val nA = size(col("__c"))
    val starts = sequence(lit(1), greatest(nA - (w - 1), lit(1)))
    val selected = array_distinct(transform(starts, i =>
      array_min(slice(col("__c"), i, lit(w)))))
    packed.withColumn("__sel", selected)
      .select(col(id), explode(col("__sel")).as("__v"))
      .select(col(id),
        (lit(1048575L) - col("__v").bitwiseAND(lit(1048575L)))
          .cast("int").as("pos"),
        shiftright(col("__v"), 20).as("fp"))
  }

  /** Per-document distinctive terms — the TF-IDF family ranking with an
    * integer-exact comparator: each document's top-k terms ordered by
    * (term frequency DESC, document frequency ASC, term ASC). For any
    * strictly decreasing idf this lexicographic order agrees with
    * tf·idf whenever tf ranks differ and refines its df tiebreak when
    * they don't, so the ranking is TF-IDF-shaped while every output
    * column stays an integer — exactly reproducible cross-engine (a
    * transcendental idf score would defeat hash-exact comparison).
    *
    * Shape: two token passes (the tf probe side and the df index —
    * the standard tf/df pair; column pruning defeats exchange reuse
    * between them, verified in the physical plan). Document frequency
    * aggregates (doc,term)-distinct rows, so a corpus-wide stopword
    * arrives pre-reduced, one row per doc rather than one per
    * occurrence; equi-join back on term (AQE broadcasts the vocab
    * when it fits); the per-doc rank filter plans as WindowGroupLimit,
    * a k-heap per task before the exchange (spec-pinned).
    * Output: id, term, tf, df_docs, term_rank.
    */
  def distinctiveTerms(df: DataFrame, id: String, text: String,
      k: Int = 5): DataFrame = {
    val tf = df
      .select(col(id), explode(split(lower(trim(col(text))), "\\s+")).as("term"))
      .filter(col("term") =!= "")
      .groupBy(col(id), col("term"))
      .agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df_docs"))
    val w = Window.partitionBy(col(id))
      .orderBy(col("tf").desc, col("df_docs").asc, col("term").asc)
    tf.join(dfreq, "term")
      .withColumn("term_rank", row_number().over(w))
      .filter(col("term_rank") <= k)
      .select(col(id), col("term"), col("tf"), col("df_docs"),
        col("term_rank"))
  }

  /** Document-frequency vocabulary pruning: drop terms occurring in
    * fewer than `minDf` documents (typos/noise) or more than `maxDf`
    * (corpus-wide stopwords), then report how much of each document
    * survives — the standard pre-tokenizer vocabulary cut. Documents
    * none of whose terms survive still appear (zero kept counts).
    *
    * Shape: two token passes — the tf probe side and the df index —
    * the same pre-reduced pair as [[distinctiveTerms]] (a third pass
    * for the totals is folded into ONE conditional aggregate after
    * the left join, kept/total computed together; verified in the
    * physical plan — an earlier totals⨝kept formulation tokenized the
    * corpus three times because column pruning defeats exchange
    * reuse). The df-band term list joins back by term (equi-join,
    * never a broadcast of the raw corpus). Output: id, n_terms_total,
    * n_tokens_total, n_terms_kept, n_tokens_kept.
    */
  def pruneVocabulary(df: DataFrame, id: String, text: String,
      minDf: Long, maxDf: Long): DataFrame = {
    require(minDf <= maxDf, s"empty df band: [$minDf, $maxDf]")
    val tf = df
      .select(col(id), explode(split(lower(trim(col(text))), "\\s+")).as("term"))
      .filter(col("term") =!= "")
      .groupBy(col(id), col("term"))
      .agg(count(lit(1)).as("tf"))
    val band = tf.groupBy("term").agg(count(lit(1)).as("df_docs"))
      .filter(col("df_docs") >= minDf && col("df_docs") <= maxDf)
      .select(col("term"), lit(true).as("__kept"))
    tf.join(band, Seq("term"), "left")
      .groupBy(col(id))
      .agg(count(lit(1)).as("n_terms_total"),
        sum(col("tf")).as("n_tokens_total"),
        sum(when(col("__kept"), 1L).otherwise(0L)).as("n_terms_kept"),
        sum(when(col("__kept"), col("tf")).otherwise(0L)).as("n_tokens_kept"))
  }

  /** LINE-level exact dedup — the C4/RefinedWeb boilerplate pass:
    * every repeated line across the whole corpus is kept only at its
    * FIRST occurrence (smallest doc id, then earliest position) and
    * dropped everywhere else, then each document is reassembled from
    * its surviving lines. This corpus's documents are single-line
    * word streams, so "lines" are fixed `segWords`-word segments —
    * the plumbing (segment → global hash group → keep-first →
    * in-order reassembly) is exactly the line-dedup shape.
    *
    * Scale shape: segmentation is scan-local (token array → slices →
    * posexplode, no shuffle); the keep-first decision is ONE shuffle
    * on the 128-bit segment hash (never the segment text of hot
    * boilerplate — the window sorts only within a hash's occurrence
    * list); reassembly is one shuffle back on the doc id with the
    * per-doc sort bounded by the doc's own segment count. Nothing is
    * quadratic in segment df.
    * Output: id, n_segs, n_kept, text_dedup (kept segments in
    * original order, space-joined; "" when every segment was dropped).
    * Every input id appears exactly once — a doc whose text tokenizes
    * to zero tokens comes back as (n_segs=0, n_kept=0, text_dedup="").
    */
  def lineDedup(df: DataFrame, id: String, text: String,
      segWords: Int = 10): DataFrame = {
    require(segWords > 0, s"segWords must be positive: $segWords")
    val segs = df
      .select(col(id), tokens(col(text)).as("__toks"))
      .filter(size(col("__toks")) > 0)
      .select(col(id), posexplode(transform(
        sequence(lit(0), floor((size(col("__toks")) - 1) / segWords).cast("int")),
        i => array_join(slice(col("__toks"), i * segWords + 1, lit(segWords)), " ")))
        .as(Seq("seg_id", "seg_text")))
    val w = Window.partitionBy(col("__h"))
      .orderBy(col(id).asc, col("seg_id").asc)
    val agged = segs
      .withColumn("__h", md5(col("seg_text")))
      .withColumn("kept", row_number().over(w) === 1)
      .groupBy(col(id))
      .agg(count(lit(1)).as("__n_segs"),
        sum(when(col("kept"), 1L).otherwise(0L)).as("__n_kept"),
        array_join(transform(
          array_sort(collect_list(when(col("kept"),
            struct(col("seg_id"), col("seg_text"))))),
          s => s.getField("seg_text")), " ").as("__text_dedup"))
    // Tokenless docs never reach segmentation; restore them so the
    // output keys exactly the input ids (row-count-stable contract).
    df.select(col(id)).join(agged, Seq(id), "left")
      .select(col(id),
        coalesce(col("__n_segs"), lit(0L)).as("n_segs"),
        coalesce(col("__n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("__text_dedup"), lit("")).as("text_dedup"))
  }

  /** PII patterns shared by [[piiRedact]] and its oracle contract.
    * Restricted to syntax that Java regex and RE2 (DuckDB) evaluate
    * identically: character classes, bounded repetition, `\b` — no
    * backrefs, no lookaround. The classes are NEARLY disjoint (phones
    * are hyphen-separated 3-3-4 digit groups, IPv4 octets are
    * dot-separated and ≤3 digits, ID runs need ≥9 CONSECUTIVE
    * digits), but a long digit run INSIDE an email local part matches
    * both PiiEmail and PiiIdRun — which is why [[piiRedact]] counts
    * each class on the text as it stands AFTER the earlier classes
    * were redacted, keeping counts placeholder-exact.
    */
  val PiiEmail = "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}"
  val PiiPhone = "\\+?[0-9]{3}-[0-9]{3}-[0-9]{4}"
  val PiiIpv4 = "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b"
  val PiiIdRun = "[0-9]{9,}"

  /** PII redaction — the scrubbing pass a training corpus runs before
    * anything is tokenized: emails, phone numbers, IPv4 addresses and
    * long ID digit-runs are replaced with typed placeholder tags, and
    * every document carries an audit count per class (how much was
    * redacted is itself a quality signal — PII-dense documents are
    * often boilerplate or leaked dumps worth dropping).
    *
    * Pure per-row codegen'd expression work (regexp_replace /
    * regexp_count) — zero shuffles, scales linearly with corpus bytes
    * and pipelines into whatever stage follows. Each class is counted
    * on the text AS ALREADY REDACTED by the earlier classes (emails →
    * phones → IPs → ID runs), so every count equals the number of its
    * placeholders in the output — a digit run consumed by an email
    * redaction is an email, not a phantom ID run.
    * Output: id, pii_text, n_emails, n_phones, n_ips, n_id_runs.
    *
    * Reference anchor: the reference pipeline's sentinel masking
    * (scripts/qc_flags.py) is the same shape — detect a pattern
    * class, replace with a typed marker, keep an audit count.
    */
  def piiRedact(df: DataFrame, id: String, text: String): DataFrame = {
    val r1 = regexp_replace(col(text), PiiEmail, "<EMAIL>")
    val r2 = regexp_replace(r1, PiiPhone, "<PHONE>")
    val r3 = regexp_replace(r2, PiiIpv4, "<IP>")
    val r4 = regexp_replace(r3, PiiIdRun, "<ID>")
    df.select(col(id), r4.as("pii_text"),
      regexp_count(col(text), lit(PiiEmail)).as("n_emails"),
      regexp_count(r1, lit(PiiPhone)).as("n_phones"),
      regexp_count(r2, lit(PiiIpv4)).as("n_ips"),
      regexp_count(r3, lit(PiiIdRun)).as("n_id_runs"))
  }

  /** URL/domain extraction + blocklist filter — source-level curation:
    * pull every `http(s)://` URL out of a document, reduce to its
    * registrable host, and flag documents that cite any blocklisted
    * domain. Training pipelines run exactly this to drop documents
    * scraped from (or quoting) known-bad sites.
    *
    * The blocklist ships INSIDE the expression as a literal array
    * (`array_intersect` against a broadcast-equivalent constant), so
    * the whole operator is per-row map work — zero shuffles, zero
    * joins, embarrassingly parallel at 100 TB. That is the right
    * plan for a blocklist of thousands of entries; a multi-million
    * entry list would instead broadcast-semi-join an exploded
    * (id, domain) stream — same semantics, one extra exchange.
    * Output: id, n_urls, n_domains (distinct), domains_csv (sorted
    * distinct, comma-joined — deterministic), blocked.
    */
  def domainStats(df: DataFrame, id: String, text: String,
      blocklist: Seq[String]): DataFrame = {
    require(blocklist.nonEmpty, "blocklist must not be empty")
    val urlHost = "https?://([a-zA-Z0-9.-]+)"
    val hosts = regexp_extract_all(lower(col(text)), lit(urlHost), lit(1))
    val distinctHosts = array_sort(array_distinct(hosts))
    val bl = array(blocklist.map(d => lit(d.toLowerCase)): _*)
    df.select(col(id),
      size(hosts).as("n_urls"),
      size(distinctHosts).as("n_domains"),
      array_join(distinctHosts, ",").as("domains_csv"),
      (size(array_intersect(distinctHosts, bl)) > 0).as("blocked"))
  }

  /** [[domainStats]]' escalation for blocklists too large to inline:
    * the blocklist is a TABLE (one `domain` column). Per-doc URL
    * stats stay map-side exactly as in [[domainStats]]; the blocked
    * flag comes from exploding each doc's distinct hosts and
    * broadcast-SEMI-joining the blocklist (the exploded stream is
    * O(docs·domains-per-doc) and carries only (id, host) pairs), then
    * one id-keyed left join marks the flagged docs. Same output
    * contract as [[domainStats]] — the two are interchangeable, and
    * CurationSpec pins them equal on the same inputs.
    * Output: id, n_urls, n_domains, domains_csv, blocked.
    */
  def domainStatsJoin(df: DataFrame, id: String, text: String,
      blocklist: DataFrame): DataFrame = {
    val urlHost = "https?://([a-zA-Z0-9.-]+)"
    val hosts = regexp_extract_all(lower(col(text)), lit(urlHost), lit(1))
    val base = df.select(col(id),
      size(hosts).as("n_urls"),
      array_sort(array_distinct(hosts)).as("__hosts"))
    val flagged = base
      .select(col(id), explode(col("__hosts")).as("__host"))
      .join(broadcast(blocklist.select(lower(col("domain")).as("__host"))),
        Seq("__host"), "left_semi")
      .select(col(id)).distinct()
      .withColumn("__blocked", lit(true))
    base.join(flagged, Seq(id), "left")
      .select(col(id), col("n_urls"),
        size(col("__hosts")).as("n_domains"),
        array_join(col("__hosts"), ",").as("domains_csv"),
        coalesce(col("__blocked"), lit(false)).as("blocked"))
  }

  /** Per-source unigram KL divergence from the corpus distribution —
    * the domain-shift scorecard of a multi-source corpus:
    * KL(p_src ‖ p_corpus) = Σ_w p_src(w)·log2(p_src(w)/p_corpus(w))
    * in bits. A source near 0 speaks like the corpus average; a
    * high-KL source is distributionally distinct (a different domain,
    * a different language mix, or template boilerplate) — the signal
    * mixture designers monitor when a new source lands. No smoothing
    * is needed: p_src(w) > 0 implies p_corpus(w) > 0, every
    * KL term is finite by construction.
    *
    * One explode+groupBy reduces the corpus to the (source, word)
    * count table — vocabulary-sized per source, map-side combined —
    * and everything after runs on that and its two marginals (word
    * totals, source totals), never touching the corpus axis again.
    * FP determinism mirrors [[lmScore]]: counts stay exact BIGINT;
    * each KL term is shaped `(c·1.0/N) · log2((c·1.0·T)/(N·1.0·t))`
    * (exact-integer-valued double products, one division, one log2),
    * rounded to 9 dp and summed as DECIMAL(38,9) — order-free, so
    * neither engine's shuffle order can perturb the total — and the
    * reported statistic re-rounds that exact sum to 6 dp IN DECIMAL
    * SPACE (both engines round decimals half-away-from-zero exactly)
    * before the single cast to double, so neither a 1-ulp libm
    * difference in a log2 term nor a 6-dp midpoint sitting on the
    * 9-dp grid can flip the emitted value.
    * Output: source, n_tokens, n_terms, kl_bits (double).
    */
  def sourceDivergence(df: DataFrame, source: String, text: String)
      : DataFrame = {
    val sw = df
      .select(col(source).as("source"), explode(tokens(col(text))).as("w"))
      .groupBy("source", "w").agg(count(lit(1)).as("c"))
    val cached = graft.core.Caches.cached(sw)
    val wTot = cached.groupBy("w").agg(sum("c").as("t_word"))
    val sTot = cached.groupBy("source").agg(sum("c").as("n"))
    val tot = wTot.agg(sum("t_word").as("t_all"))
    val term = cached.join(wTot, "w").join(sTot, "source")
      .crossJoin(broadcast(tot))
      .select(col("source"), col("n"),
        round((col("c") * lit(1.0) / col("n")) *
          log2((col("c") * lit(1.0) * col("t_all")) /
               (col("n") * lit(1.0) * col("t_word"))), 9)
          .cast("decimal(38,9)").as("kl_term"))
    term.groupBy("source")
      .agg(first(col("n")).as("n_tokens"),
        count(lit(1)).as("n_terms"),
        round(sum(col("kl_term")), 6).cast("double").as("kl_bits"))
  }

  /** Calibrated curation keep-score — the one-number composite every
    * large-scale filtering pipeline ends in: the per-doc quality
    * signals this library already verifies individually ([[lmScore]]
    * fluency, [[repetitionStats]] degeneracy, [[piiRedact]] audit
    * counts, [[domainStats]] blocklist) fold into one score in [0,1]
    * plus the keep decision at `threshold`.
    *
    * Calibration (fixed, documented — a trained classifier would
    * slot in here, but the combiner's CONTRACT is the operator):
    *   s_lm     = max(0, 1 − bits_per_token/16)   (≥16 bits ⇒ 0)
    *   s_rep    = 1 − dup_word_frac
    *   s_pii    = 1 / (1 + n_pii)                 (total audit count)
    *   s_domain = blocked ? 0 : 1
    *   keep_score = 0.4·s_lm + 0.3·s_rep + 0.2·s_pii + 0.1·s_domain
    * Missing signals contribute 0 — a doc absent from ANY signal
    * table (zero-token docs for lm/rep, docs never audited for
    * pii/domains) scores 0 on that component: absence of evidence of
    * quality is evidence of junk in a curation pass. (Presence-with-
    * zero-findings is different and scores best: a doc the pii audit
    * DID scan and found clean gets s_pii = 1.)
    *
    * Determinism: the combiner NEVER rounds. Its inputs are already
    * cross-engine-deterministic (6-dp-rounded signal outputs and
    * exact integer counts), and every sub-score and the final score
    * are identically-shaped IEEE expressions of those inputs on both
    * engines — bit-identical doubles, rendered identically. Rounding
    * here would be actively harmful: 0.4·(6-dp value) lands exactly
    * ON a 7th-decimal midpoint every other row, the one place two
    * engines' round() implementations can disagree (measured, not
    * theoretical — the first cut of this operator did exactly that).
    * Scale shape: four id-keyed joins of per-doc
    * signal tables — one hash partitioning on the id serves all of
    * them (co-partitioned single-stage join at cluster scale); the
    * combiner itself is pure map work.
    * Output: id, s_lm, s_rep, s_pii, s_domain, keep_score, keep.
    */
  def keepScore(base: DataFrame, id: String, lm: DataFrame,
      rep: DataFrame, pii: DataFrame, domains: DataFrame,
      threshold: Double = 0.5): DataFrame = {
    val sLm = when(col("bits_per_token").isNull, lit(0.0))
      .otherwise(greatest(lit(0.0),
        lit(1.0) - col("bits_per_token") / lit(16.0)))
    val sRep = when(col("dup_word_frac").isNull, lit(0.0))
      .otherwise(lit(1.0) - col("dup_word_frac"))
    // per-column coalesce INSIDE the sum: a pii row with one non-null
    // count but a NULL sibling must not propagate NULL into the score
    // (the never-null contract); row ABSENCE is any-of-four-null —
    // equivalently all-null, since piiRedact emits the four together
    val nPii = coalesce(col("n_emails"), lit(0)) +
      coalesce(col("n_phones"), lit(0)) +
      coalesce(col("n_ips"), lit(0)) + coalesce(col("n_id_runs"), lit(0))
    val sPii = when(coalesce(col("n_emails"), col("n_phones"),
        col("n_ips"), col("n_id_runs")).isNull, lit(0.0))
      .otherwise(lit(1.0) / (lit(1.0) + nPii.cast("double")))
    val sDom = when(col("blocked").isNull, lit(0.0))
      .otherwise(when(col("blocked"), lit(0.0)).otherwise(lit(1.0)))
    base.select(col(id))
      .join(lm.select(col(id), col("bits_per_token")), Seq(id), "left")
      .join(rep.select(col(id), col("dup_word_frac")), Seq(id), "left")
      .join(pii.select(col(id), col("n_emails"), col("n_phones"),
        col("n_ips"), col("n_id_runs")), Seq(id), "left")
      .join(domains.select(col(id), col("blocked")), Seq(id), "left")
      .select(col(id), sLm.as("s_lm"), sRep.as("s_rep"),
        sPii.as("s_pii"), sDom.as("s_domain"))
      .withColumn("keep_score",
        lit(0.4) * col("s_lm") + lit(0.3) * col("s_rep") +
          lit(0.2) * col("s_pii") + lit(0.1) * col("s_domain"))
      .withColumn("keep", col("keep_score") >= lit(threshold))
  }

  /** Hashed-count feature table for the trained quality classifier:
    * one row per doc — id, __y (the heuristic label: 16·stopword-count
    * ≥ word-count, the Gopher-style natural-text density rule), __c (a
    * dense LONG array of `dims` hashed-token-bucket counts; bucket =
    * hash60(token) % dims, the fastText feature-hashing shape). All
    * integer: one tokenize pass, a map-side-combined (id, bucket)
    * count, and a per-doc dense-array assembly — all codegen'd
    * relational work (the per-doc "count each of dims buckets by
    * filtering the token array" alternative is O(dims·tokens) of
    * interpreted lambda evals per doc and measured 5-10× slower).
    */
  private def classifierFeatures(df: DataFrame, id: String, text: String,
      stopwords: Seq[String], dims: Int): DataFrame = {
    // fan an under-split scan out before the tokenize+explode feature
    // kernel (guide §2.5; identity at cluster scale): the cached
    // feature build otherwise runs on one core and every IRLS
    // iteration waits on it
    val base = graft.core.FanOut(df.select(col(id), col(text)))
      .select(col(id), tokens(col(text)).as("__t"))
      .withColumn("__y",
        when(lit(16) * size(filter(col("__t"),
          w => w.isin(stopwords: _*))) >= size(col("__t")), 1L)
          .otherwise(0L))
    base
      .select(col(id), col("__y"), explode(col("__t")).as("__w"))
      .withColumn("__b", pmod(Dedup.hash60(col("__w")), lit(dims)))
      .groupBy(col(id), col("__y"), col("__b"))
      .agg(count(lit(1)).as("__cnt"))
      .groupBy(col(id), col("__y"))
      .agg(map_from_entries(collect_list(struct(col("__b"), col("__cnt"))))
        .as("__m"))
      .select(col(id), col("__y"),
        transform(sequence(lit(0), lit(dims - 1)),
          j => coalesce(element_at(col("__m"), j.cast("long")), lit(0L)))
          .as("__c"))
  }

  /** z in integer micro units for weight array `w` (micro longs,
    * w(dims) = bias): Σⱼ wⱼ·cⱼ + bias — an order-free exact integer
    * fold, identical to the oracle's per-present-bucket sum.
    */
  private def clfZMicro(w: Array[Long], dims: Int): Column =
    aggregate(zip_with(col("__c"), array(w.take(dims).map(lit(_)): _*),
      (c, wj) => c * wj), lit(w(dims)), (acc, x) => acc + x)

  /** σ(z) in integer micro units (pq = round(10⁶·p)), with the ±30
    * clamp applied on the INTEGER zm so the saturation branch is
    * engine-exact; only the interior branch touches exp, and its
    * 1-ulp libm divergence is absorbed by the micro rounding
    * (measure-zero midpoint risk — the established rule-3 contract).
    */
  private def clfPq(zm: Column): Column =
    when(zm >= 30000000L, lit(1000000L))
      .when(zm <= -30000000L, lit(0L))
      .otherwise(round(lit(1000000.0) /
        (lit(1.0) + exp(-(zm.cast("double") / lit(1000000.0))))).cast("long"))

  /** Fixed-iteration damped DIAGONAL-Newton IRLS on the cached feature
    * table — the optimizer shape that survives hashed feature spaces
    * (at real scale dims = 2²⁰: the full normal-equation Hessian is
    * dims² and can never be assembled, so production distributed LR
    * runs diagonally-preconditioned steps; the 17×17-and-under
    * closed-form solve lives in groupedRobustFit). Each iteration is
    * ONE map-side-combined aggregate over the cached integer features
    * — per feature j: gⱼ = Σ r·cⱼ and hⱼ = Σ σ(1−σ)·cⱼ² as exact
    * BIGINT sums — and a bounded driver collect of the 2·(dims+1)-
    * column row; the update Δwⱼ = round(10⁶·gⱼ/(8·hⱼ)) (damping 1/8 —
    * exactly representable, swept against 1/1..1/32: undamped
    * diagonal steps overshoot collectively on length-correlated count
    * features) is computed with Spark's own round() so the HALF_UP
    * decision replays bit-for-bit in the oracle's round().
    */
  private def clfTrainWeights(feat: DataFrame, dims: Int,
      iters: Int): Array[Long] = {
    val w = Array.fill(dims + 1)(0L)
    for (_ <- 1 to iters) {
      val pq = clfPq(clfZMicro(w, dims))
      val scored = feat.select(col("__c"),
        (col("__y") * 1000000L - pq).as("__r"),
        round((pq * (lit(1000000L) - pq)).cast("double") /
          lit(1000000.0)).cast("long").as("__h"))
      val aggCols = (0 until dims).flatMap { j =>
        Seq(sum(col("__r") * element_at(col("__c"), j + 1)).as(s"g$j"),
          sum(col("__h") * element_at(col("__c"), j + 1) *
            element_at(col("__c"), j + 1)).as(s"h$j"))
      } ++ Seq(sum(col("__r")).as(s"g$dims"), sum(col("__h")).as(s"h$dims"))
      val deltas = scored.agg(aggCols.head, aggCols.tail: _*)
        .select((0 to dims).map { j =>
          when(col(s"h$j") > 0,
            round(lit(1000000.0) * col(s"g$j").cast("double") /
              (lit(8.0) * col(s"h$j").cast("double"))).cast("long"))
            .otherwise(0L).as(s"d$j")
        }: _*).collect()(0)
      (0 to dims).foreach(j => w(j) += deltas.getLong(j))
    }
    w
  }

  /** TRAINED quality classifier — the learned component every real
    * pre-training curation pipeline runs (CCNet/RedPajama/FineWeb
    * style): logistic regression over hashed bag-of-words COUNT
    * features, trained on a labeled seed slice, then applied to the
    * whole corpus as a pure projection ([[applyQualityClassifier]]).
    * Here the seed labels come from the stopword-density heuristic
    * (the distillation shape — heuristic or rater labels in, cheap
    * hashed-feature model out); the label rule is integer-exact so
    * the whole trajectory is DuckDB-replayable.
    *
    * Determinism: features, labels, z, gradients and Hessian
    * diagonals are exact integers (micro-unit fixed point); the only
    * transcendentals (exp in σ, one per doc·iteration) are
    * immediately micro-rounded; weight updates round with the same
    * HALF_UP both engines apply to identically-shaped IEEE doubles.
    * The model is dims+1 longs — the bounded driver state, one
    * collect per iteration (the trainBpe one-row-per-round contract).
    *
    * Scale shape: train cost = `iters` map-side-combined aggregate
    * passes over the cached seed features (seed-sized, not
    * corpus-sized); apply cost = one corpus projection. No shuffle
    * wider than a 1-row aggregate anywhere.
    * Output: dims+1 rows — feature_idx (0..dims−1, dims = bias),
    * weight_micro.
    */
  def trainQualityClassifier(df: DataFrame, id: String, text: String,
      stopwords: Seq[String] = Seq("the", "a", "of", "and", "in"),
      dims: Int = 32, iters: Int = 6): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val feat = graft.core.Caches.cached(
      classifierFeatures(df, id, text, stopwords, dims))
    val w = clfTrainWeights(feat, dims, iters)
    (0 to dims).map(j => (j, w(j))).toDF("feature_idx", "weight_micro")
  }

  /** Score a corpus with a [[trainQualityClassifier]] model — the
    * apply half: ONE shuffle-free projection over the corpus (z =
    * exact integer fold of the dims+1-long broadcast-as-literals
    * model over each doc's token stream — algebraically the same
    * Σ_b w_b·c_b the train side aggregates). Also recomputes the
    * heuristic label per doc (y_heur) so eval slices need no second
    * tokenize pass. pred = zm ≥ 0 — the INTEGER decision, shared
    * exactly by both engines (a pq ≥ 500000 rule would disagree with
    * it on the σ rounding boundary). Zero-token docs are excluded —
    * the same domain the train side's explode implies.
    * Output: id, score_ppm (round(10⁶·σ(z))), pred, y_heur.
    */
  def applyQualityClassifier(df: DataFrame, id: String, text: String,
      model: DataFrame, stopwords: Seq[String] = Seq("the", "a", "of", "and", "in"),
      dims: Int = 32): DataFrame = {
    val byIdx = model
      .select(col("feature_idx").cast("int"), col("weight_micro").cast("long"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    require(byIdx.size == dims + 1,
      s"model must carry ${dims + 1} weights, got ${byIdx.size}")
    val w = (0 to dims).map(byIdx).toArray
    // scan-local scoring: zm = Σ_tokens w[bucket(token)] + bias — the
    // same integer Σ_b w_b·c_b the train side folds, but folded
    // straight over the token array so apply stays a one-pass
    // projection (no explode, no groupBy, no shuffle)
    val warr = array(w.take(dims).map(lit(_)): _*)
    // zero-token docs (empty after the ''-filter) are EXCLUDED, the
    // same domain training's explode implies — a curation pipeline
    // drops them long before scoring, and keeping them would need an
    // engine-specific empty-tokenization convention in the oracle
    graft.core.FanOut(df.select(col(id), col(text)))
      .select(col(id), tokens(col(text)).as("__t"))
      .filter(size(col("__t")) > 0)
      .withColumn("__y",
        when(lit(16) * size(filter(col("__t"),
          tw => tw.isin(stopwords: _*))) >= size(col("__t")), 1L)
          .otherwise(0L))
      .withColumn("__zm", aggregate(col("__t"), lit(w(dims)),
        (acc, tw) => acc + element_at(warr,
          (pmod(Dedup.hash60(tw), lit(dims)) + 1L).cast("int"))))
      .select(col(id), clfPq(col("__zm")).as("score_ppm"),
        (col("__zm") >= 0L).as("pred"), col("__y").as("y_heur"))
  }

  /** Confusion counts of an [[applyQualityClassifier]] output over an
    * eval slice (pass the HELD-OUT filter for an honest
    * generalization read) — all exact integers, beats_majority in
    * exact integer comparison: correct > max(n_pos, n_neg), i.e. the
    * trained model must beat always-predicting the bigger class.
    * Output: 1 row — tp, fp, tn, fn, beats_majority.
    */
  def evalQualityClassifier(applied: DataFrame,
      evalSlice: Column): DataFrame =
    applied.filter(evalSlice).agg(
      sum(when(col("pred") && col("y_heur") === 1L, 1L).otherwise(0L)).as("tp"),
      sum(when(col("pred") && col("y_heur") === 0L, 1L).otherwise(0L)).as("fp"),
      sum(when(!col("pred") && col("y_heur") === 0L, 1L).otherwise(0L)).as("tn"),
      sum(when(!col("pred") && col("y_heur") === 1L, 1L).otherwise(0L)).as("fn"))
      .select(col("tp"), col("fp"), col("tn"), col("fn"),
        (col("tp") + col("tn") >
          greatest(col("tp") + col("fn"), col("fp") + col("tn")))
          .as("beats_majority"))

  /** Count-min sketch of corpus token frequencies (Cormode &
    * Muthukrishnan, "An improved data stream summary: the count-min
    * sketch and its applications", J. Algorithms 55(1), 2005) —
    * the fixed-size companion to the exact-but-vocabulary-sized
    * `group by token` and the Misra-Gries top-k: `depth` hash rows ×
    * `width` buckets of exact counters, est(x) = min_j cell[j][h_j(x)],
    * guaranteeing est ≥ true count always and est ≤ true + 2N/width
    * with probability 1 − 2^-depth per query.
    *
    * Scale shape: the build is ONE aggregate whose map-side combine
    * collapses every partition to ≤ depth·width cells before the
    * shuffle — the sketch state is O(depth·width) regardless of corpus
    * or vocabulary size, and two sketches of disjoint shards merge by
    * cell-wise addition (the aggregate itself). At 100 TB this is the
    * only way to answer "how often does token x appear" without
    * shuffling a billion-term vocabulary. Bucket hash is the portable
    * 60-bit md5 prefix of `j || ':' || token`, replayable in DuckDB.
    * Output: j, bucket, cnt (≤ depth·width rows).
    */
  def cmSketch(df: DataFrame, text: String,
      depth: Int = 4, width: Int = 256): DataFrame = {
    require(depth >= 1 && depth <= 16, s"depth must be in [1,16]: $depth")
    require(width >= 2, s"width must be >= 2: $width")
    df.select(explode(tokens(col(text))).as("word"))
      .select(explode(array((0 until depth).map(j => struct(
        lit(j).as("j"),
        pmod(Dedup.hash60(concat(lit(s"$j:"), col("word"))),
          lit(width.toLong)).as("bucket"))): _*)).as("__jb"))
      .groupBy(col("__jb.j").as("j"), col("__jb.bucket").as("bucket"))
      .agg(count(lit(1)).as("cnt"))
  }

  /** Point estimates from a [[cmSketch]] for an item table: est(x) =
    * min over the depth rows of the cell the item hashes to. The
    * sketch (≤ depth·width rows) broadcasts; the items side stays
    * partitioned — estimating any number of items is a map-side join.
    * Items absent from every cell estimate 0 (their buckets may still
    * collide into positive cells — the CM overestimate, never under).
    * Output: item, est_cnt.
    */
  def cmEstimate(sketch: DataFrame, items: DataFrame, item: String,
      depth: Int = 4, width: Int = 256): DataFrame =
    items
      .select(col(item), explode(array((0 until depth).map(j => struct(
        lit(j).as("j"),
        pmod(Dedup.hash60(concat(lit(s"$j:"), col(item))),
          lit(width.toLong)).as("bucket"))): _*)).as("__jb"))
      .join(broadcast(sketch),
        col("__jb.j") === sketch("j") && col("__jb.bucket") === sketch("bucket"),
        "left")
      .groupBy(col(item))
      .agg(min(coalesce(col("cnt"), lit(0L))).as("est_cnt"))

  /** Sketch-vs-exact audit for the k most frequent tokens: exact
    * count, CM estimate, the overestimate (collision mass), and
    * `sound` = est ≥ exact — a THEOREM of the sketch (counters only
    * ever add), so the column is structurally all-true and the oracle
    * replays it exactly. Output: word, exact_cnt, est_cnt,
    * overestimate, sound.
    */
  def cmSketchCheck(df: DataFrame, text: String,
      depth: Int = 4, width: Int = 256, k: Int = 30): DataFrame = {
    val exact = df.select(explode(tokens(col(text))).as("word"))
      .groupBy("word")
      .agg(count(lit(1)).as("exact_cnt"))
      .orderBy(col("exact_cnt").desc, col("word").asc)
      .limit(k)
    val est = cmEstimate(cmSketch(df, text, depth, width),
      exact.select("word"), "word", depth, width)
    exact.join(est, "word")
      .select(col("word"), col("exact_cnt"), col("est_cnt"),
        (col("est_cnt") - col("exact_cnt")).as("overestimate"),
        (col("est_cnt") >= col("exact_cnt")).as("sound"))
  }

  /** Unicode normalization (UAX #15) of a string column via the
    * native codegen'd [[graft.functions.NormalizeUnicode]] expression
    * — `form` one of NFC/NFD/NFKC/NFKD (literal). NFC is the
    * canonical pre-dedup/pre-hash form (exactly mirrored by DuckDB's
    * `nfc_normalize`); NFKC additionally folds compatibility
    * variants (ligatures, full-width forms) — the usual choice before
    * tokenization. Requires a session built with
    * [[graft.GraftExtensions]].
    */
  def normalizeUnicode(text: Column, form: String = "NFC"): Column =
    call_function("graft_normalize", text, lit(form))

  /** Normalization audit over a corpus: for each document, whether
    * NFC normalization changes the byte string (i.e. the document
    * contains decomposed/unordered combining sequences that would
    * defeat exact-hash dedup), the code-point length before/after
    * (NFC composition shortens), and the md5 of the normalized text —
    * the key every downstream dedup/fingerprint operator should hash
    * instead of the raw bytes. One projection, zero shuffles: at
    * 100 TB this is a map-side rewrite fused into the scan.
    * Output: id, changed, len_raw, len_nfc, nfc_hash.
    */
  def unicodeNormAudit(df: DataFrame, id: String,
      text: String): DataFrame = {
    val norm = normalizeUnicode(col(text), "NFC")
    df.select(col(id),
      (norm =!= col(text)).as("changed"),
      length(col(text)).as("len_raw"),
      length(norm).as("len_nfc"),
      md5(norm).as("nfc_hash"))
  }

}
