package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ext.{Multimodal, Similarity, TextStats}
import graft.operators.Diagnostics

/** Scale-evidence microbench for the round-7 operators, each
  * replicated along its own parallelism axis (the EventsScaleBench /
  * GoldenBench methodology: per-unit work identical across N, only
  * unit count widens; median of 3 after one warmup):
  *
  * - robust_fit: lineitem replicated across N synthetic group
  *   populations (group axis = the aggregation key). The 1+2·iters
  *   passes are all map-side-combined hash aggregates, so wall time
  *   should track data volume, not group count.
  * - rerank: the corpus replicated N× with remapped vec_ids (corpus
  *   axis = the retrieval scan); the query set stays fixed at 10, so
  *   the candidate table stays |q|·k rows and only the
  *   scan+retrieval stage widens — rerank cost must stay flat.
  * - pack_bucketed: documents replicated N× across fresh shards
  *   (shard axis = the single exchange's partition key).
  */
object OpsScaleBench {
  def main(args: Array[String]): Unit = {
    val spark = Sessions.local()
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    // Honest forcing for every timed row: execute the operator's own
    // physical plan (all columns computed) instead of count(), which
    // Catalyst optimizes around — see graft.Force for the round-12
    // finding (count() over a row-stable left join or projection
    // measured a bare parquet count). Sizing/materialization counts
    // outside timed regions keep plain count().
    implicit class ForcedOps(df: org.apache.spark.sql.DataFrame) {
      def forcedRows(): Long = Force.force(df)
    }

    val tracer = new QueryTrace(spark.sparkContext)

    // dev-only row filter (comma-separated op names): re-measure one
    // axis without paying the full ~30 min sweep. Unset runs all.
    val onlyOps = sys.env.get("SPARK_GRAFT_OPS_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    def selected(name: String): Boolean = onlyOps.forall(_.contains(name))

    // one timing protocol for every row: warmup (codegen + JIT), then
    // median of 3 back-to-back passes
    def timedMedian(run: () => Long): Double = {
      run()
      (1 to 3).map { _ =>
        val t0 = System.nanoTime(); run(); (System.nanoTime() - t0) / 1e9
      }.sorted.apply(1)
    }

    def bench(name: String, n: Int, inRows: Long, extra: => String = "")(
        run: () => Long): Unit =
      if (selected(name)) {
        val med = timedMedian(run)
        println(f"OPSCALE op=$name%-13s n=$n%2d rows=$inRows%9d " +
          f"median=$med%7.3f s thru=${inRows / med / 1e6}%6.2f Mrows/s" + extra)
      }

    /** bench + exact shuffle-write bytes of one extra traced pass
      * after the timing passes — shuffle volume is deterministic per
      * plan, unlike wall time. Every pass ends with
      * `Caches.unpersistAll()`.
      */
    def benchShuffle(name: String, n: Int, inRows: Long)(build: () => DataFrame): Unit =
      bench(name, n, inRows, {
        val trace = tracer.run(build())
        graft.core.Caches.unpersistAll()
        trace.error.foreach(throw _)
        f" shuffle=${trace.phases.map(_.shuffleWriteBytes).sum / 1e6}%9.3f MB"
      })(() => try build().forcedRows() finally graft.core.Caches.unpersistAll())

    /** n× replication with vocab-disjoint suffixing from replica
      * `suffixFrom` on: every word of a suffixed replica gets a
      * replica-id tag, so suffixed replicas share no shingle/word
      * with the originals — the "corpus grows, matches fixed" axis
      * (suffixFrom = 1) or the fully-disjoint-families axis
      * (suffixFrom = 0).
      */
    def replicateSuffixed(df: org.apache.spark.sql.DataFrame, n: Int,
        suffixFrom: Int): org.apache.spark.sql.DataFrame =
      if (n <= 1) df
      else df
        .withColumn("__r", explode(sequence(lit(0L), lit(n - 1L))))
        .withColumn("doc_id", col("doc_id") + col("__r") * 10000019L)
        .withColumn("text", when(col("__r") < suffixFrom, col("text"))
          .otherwise(regexp_replace(col("text"), lit("(\\S+)"),
            concat(lit("$1_"), col("__r")))))
        .drop("__r")

    /** n× replication along `idCol` with replica-offset remapping —
      * the shared axis-widening idiom of every row below. `offset`
      * must stay coprime to any sharding modulus downstream (the
      * pack_bucketed lesson: 10^7 is divisible by 16, which collapsed
      * replicas back onto their original shards).
      */
    def replicate(df: org.apache.spark.sql.DataFrame, idCol: String,
        offset: Long, n: Int): org.apache.spark.sql.DataFrame =
      if (n <= 1) df
      else df
        .withColumn("__r", explode(sequence(lit(0L), lit(n - 1L))))
        .withColumn(idCol, col(idCol) + col("__r") * offset)
        .drop("__r")

    val li0 = graft.sources.Tables.lineitem(spark, dir)
      .select("l_returnflag", "l_linestatus", "l_quantity", "l_extendedprice")
    val emb0 = graft.sources.Tables.embeddings(spark, dir)
    val docs0 = graft.sources.Tables.documents(spark, dir)
      .select("doc_id", "text")
    val nVecs = emb0.count()
    val nDocs = docs0.count()

    // trained ONCE on the original seed slice for the quality_apply
    // row — apply must be measured with training off the clock
    val qModel = TextStats.trainQualityClassifier(
      docs0.filter(pmod(col("doc_id"), lit(3)) === 0), "doc_id", "text")
      .collect()
    val qModelDf = spark.createDataFrame(
      spark.sparkContext.parallelize(qModel.toSeq),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("feature_idx",
          org.apache.spark.sql.types.IntegerType, nullable = false),
        org.apache.spark.sql.types.StructField("weight_micro",
          org.apache.spark.sql.types.LongType, nullable = false))))
    // trained ONCE for the bpe_apply row — the artifact-reuse shape:
    // apply must scale with the BATCH, never retrain on the corpus
    val bpeMerges = TextStats.trainBpe(docs0, "doc_id", "text",
      numMerges = 12).collect().toSeq
    val bpeMergesDf = {
      import spark.implicits._
      bpeMerges.map(r => (r.getInt(0), r.getString(1), r.getString(2),
        r.getString(3), r.getLong(4)))
        .toDF("rank", "left", "right", "merged", "weight")
    }
    graft.core.Caches.unpersistAll()

    for (n <- Seq(1, 8, 32)) {
      val li = if (n <= 1) li0 else li0
        .withColumn("__r", explode(sequence(lit(0L), lit(n - 1L))))
        .withColumn("l_returnflag",
          concat(col("l_returnflag"), lit("#"), col("__r")))
        .drop("__r")
      val liRows = li.count()
      bench("robust_fit", n, liRows)(() =>
        Diagnostics.groupedRobustFit(li,
          Seq("l_returnflag", "l_linestatus"),
          "l_quantity", "l_extendedprice").forcedRows())

      val corpus = replicate(emb0, "vec_id", 10000000L, n)
      bench("rerank", n, nVecs * n)(() =>
        Similarity.rerankTopK(emb0.filter(col("vec_id") < 10), corpus,
          "vec_id", "embedding", kRetrieve = 20, kFinal = 5).forcedRows())

      // offset must NOT be divisible by nShards=16, or every replica
      // lands back on its original shard (10^7 is 2^7·5^7) and the
      // bench would measure per-shard volume, not the shard axis
      val docs = replicate(docs0, "doc_id", 10000019L, n)
      bench("pack_bucketed", n, nDocs * n)(() =>
        TextStats.packBatchesBucketed(docs, "doc_id", "text",
          budgetTokens = 2048, nShards = 16, nBuckets = 4).forcedRows())

      // bm25: same-vocab replication (the harsh axis — every query
      // term's postings list grows N×, so index build AND scoring both
      // widen); the query set stays fixed at 5. Throughput should
      // stay flat — scoring is an equi-join on the query terms, never
      // a per-query corpus scan.
      bench("bm25", n, nDocs * n) { () =>
        val q = docs0.filter(col("doc_id") < 5)
          .select(col("doc_id").as("query_id"), col("text").as("qtext"))
        val c = graft.ext.Retrieval.bm25TopK(docs, "doc_id", "text",
          q, "query_id", "qtext", k = 10).forcedRows()
        graft.core.Caches.unpersistAll()
        c
      }

      // prefix jaccard: replicas get DISJOINT vocabularies (every
      // word suffixed with its replica id), so near-dup families never
      // span replicas and the true-pair count grows linearly — the
      // bench measures operator scaling, not quadratic answer growth.
      val docsV = replicateSuffixed(docs0, n, suffixFrom = 0)
      bench("jacc_prefix", n, nDocs * n) { () =>
        val c = graft.ext.Dedup.ngramJaccardPrefix(docsV, "doc_id", "text",
          k = 2, threshold = 0.9).forcedRows()
        graft.core.Caches.unpersistAll()
        c
      }

      // connected components (round-13 RDD loop) on the pair axis:
      // vocab-disjoint replicas make the dup PAIR GRAPH grow linearly
      // while family diameters stay fixed, so wall must track the
      // edge volume (the loop's O(|edges|)-per-round contract) at a
      // ~constant pointer-doubling round count — the corpus text is
      // out of the timed region entirely (fingerprints+pairs cached
      // and materialized in setup; rows= is the PAIR count).
      if (selected("cc_rdd")) {
        val ccFp = graft.core.Caches.cached(
          graft.ext.Dedup.simHash(docsV, "doc_id", "text"))
        val ccPairs = graft.core.Caches.cached(
          graft.ext.Dedup.hammingPairs(ccFp, "doc_id", "simhash", 4, 8, 3))
        val ccPairRows = ccPairs.count()
        val ccIds = docsV.select(col("doc_id"))
        bench("cc_rdd", n, ccPairRows)(() =>
          graft.ext.Dedup.dupClusters(ccIds, ccPairs, "doc_id").forcedRows())
        graft.core.Caches.unpersistAll()
      }

      // substring spans on the corpus axis: replicas get disjoint
      // vocabularies so spans never cross replicas — per-anchor df
      // stays flat and the candidate volume (Σ df² over anchors)
      // grows linearly with the corpus, as does the island pass.
      // shuffle=MB is the exact per-run listener-measured write
      // volume (the decontamination evidentiary standard): linear
      // bytes, not just linear wall, is the cluster-relevant fact.
      benchShuffle("substr_spans", n, nDocs * n)(() =>
        graft.ext.Dedup.substringSpans(docsV, "doc_id", "text",
          minLen = 8, maxDf = 20))

      // n-gram novelty on the corpus axis (vocab-disjoint replicas so
      // per-shingle df stays flat): one shingle pass + one df
      // aggregate + one join back — wall must scale linearly.
      bench("novelty", n, nDocs * n) { () =>
        val c = TextStats.ngramNovelty(docsV, "doc_id", "text", k = 3)
          .forcedRows()
        graft.core.Caches.unpersistAll()
        c
      }

      // winnowing fingerprints on the corpus axis: one tokenize+hash
      // pass + one groupBy(id) + per-row array selection — no joins,
      // so wall AND listener-measured shuffle bytes must both scale
      // linearly in documents (the one exchange is the id groupBy).
      benchShuffle("winnow", n, nDocs * n)(() =>
        TextStats.winnowFingerprints(docsV, "doc_id", "text",
          k = 4, w = 5))

      // capped bm25 on the SAME harsh axis as the bm25 row: with
      // dfCapFrac=0.5 only the rare tail of the vocabulary generates
      // candidates, so the candidate join stays proportional to the
      // rare postings while the uncapped form expands every hot
      // term's corpus-sized postings list — the wall-time gap between
      // these two rows IS the cap's value at scale.
      bench("bm25_capped", n, nDocs * n) { () =>
        val q = docs0.filter(col("doc_id") < 5)
          .select(col("doc_id").as("query_id"), col("text").as("qtext"))
        val c = graft.ext.Retrieval.bm25TopKCapped(docs, "doc_id", "text",
          q, "query_id", "qtext", k = 10, dfCapFrac = 0.5).forcedRows()
        graft.core.Caches.unpersistAll()
        c
      }

      // trained quality classifier, TRAIN half: the labeled seed
      // (doc_id%3==0 of every replica) widens with the corpus — 6
      // fixed diagonal-Newton aggregate passes over the cached seed
      // features, so wall must scale with the SEED, with no joins or
      // per-doc windows anywhere to go superlinear.
      bench("quality_train", n, nDocs * n / 3) { () =>
        val c = TextStats.trainQualityClassifier(
          docs.filter(pmod(col("doc_id"), lit(3)) === 0),
          "doc_id", "text").forcedRows()
        graft.core.Caches.unpersistAll()
        c
      }

      // APPLY half: the model is trained once on the ORIGINAL seed
      // (off the clock, n-independent literals) and scores the n×
      // corpus — one shuffle-free projection, so flat Mrows/s.
      bench("quality_apply", n, nDocs * n)(() =>
        TextStats.applyQualityClassifier(docs, "doc_id", "text",
          qModelDf).forcedRows())

      // EVAL half on the same fixed model: score the n× corpus and
      // reduce to one confusion-count row — the projection above plus
      // a groupless aggregate whose map-side partials ship 4 counters
      // per task, so the exchange is partition-count-sized and wall
      // tracks the corpus linearly. collect() the 1-row result, NOT
      // count(): count(1) over the groupless aggregate lets Catalyst
      // prune every confusion sum and with them the whole scoring
      // fold — the row would time scan+filter only.
      bench("quality_eval", n, nDocs * n) { () =>
        val r = TextStats.evalQualityClassifier(
          TextStats.applyQualityClassifier(docs, "doc_id", "text",
            qModelDf),
          pmod(col("doc_id"), lit(3)) =!= 0).collect()
        r.length.toLong
      }

      // BPE apply from a fixed trained artifact: the ingest batch
      // widens n× while the merge table stays 12 rows — the distinct-
      // word encode table is vocabulary-sized (flat under same-vocab
      // replication), so wall must track the batch's explode+join
      // volume linearly and never the training corpus.
      bench("bpe_apply", n, nDocs * n)(() =>
        TextStats.encodeBpe(docs, "doc_id", "text", bpeMergesDf).forcedRows())

      // BPE training round count: the exact trainer pays one driver
      // round (pair-count collect + fold) PER MERGE; the batched
      // trainer amortizes batchSize merges per round. On a
      // vocab-suffixed axis (vocabulary grows n×) both trainers'
      // per-round cost grows with the distinct-word table, so the
      // wall gap isolates the ROUND COUNT — the term that makes the
      // sequential loop a 30k-job scale-killer at a production
      // vocabulary while the batched form stays at 30k/batchSize.
      if (selected("bpe_train_ctl") || selected("bpe_batched")) {
        // tag n=1 too (replicateSuffixed leaves n<=1 untouched): the
        // axis must train on the same word SHAPE at every n, or the
        // 1x->8x point mixes vocabulary growth with a one-time change
        // of suffix characters in the merge-candidate inventory
        val docsV =
          if (n == 1) docs0.withColumn("text",
            regexp_replace(col("text"), lit("(\\S+)"), lit("$1_0")))
          else replicateSuffixed(docs0, n, suffixFrom = 0)
        bench("bpe_train_ctl", n, nDocs * n) { () =>
          val c = TextStats.trainBpe(docsV, "doc_id", "text",
            numMerges = 24).forcedRows()
          graft.core.Caches.unpersistAll()
          c
        }
        bench("bpe_batched", n, nDocs * n) { () =>
          val c = TextStats.trainBpeBatched(docsV, "doc_id", "text",
            numMerges = 24, batchSize = 8).forcedRows()
          graft.core.Caches.unpersistAll()
          c
        }
      }

      // pii redact: pure codegen'd regexp map work — the throughput
      // floor of the curation family; must scale linearly (flat
      // Mrows/s) since there is no shuffle to widen.
      bench("pii_redact", n, nDocs * n)(() =>
        TextStats.piiRedact(docs, "doc_id", "text").forcedRows())

      // unicode NFC audit: the codegen'd graft_normalize expression
      // fused into the scan — zero shuffles, so flat Mrows/s is the
      // pass bar (the per-doc Normalizer.isNormalized fast path does
      // the real work on this mostly-ASCII corpus).
      bench("unicode_norm", n, nDocs * n)(() =>
        TextStats.unicodeNormAudit(docs, "doc_id", "text").forcedRows())

      // count-min sketch build: ONE aggregate whose map-side combine
      // collapses every partition to <= depth*width cells BEFORE the
      // exchange — the listener-measured shuffle bytes must stay FLAT
      // (cell-grid-sized) while the corpus widens 32x; wall tracks
      // the scan linearly.
      benchShuffle("cms_build", n, nDocs * n)(() =>
        TextStats.cmSketch(docs, "text", depth = 4, width = 256))

      // priority sampling: TakeOrderedAndProject keeps a (k+1)-heap
      // per partition — no global sort, result size fixed at k, so
      // wall must track the scan and shuffle bytes stay heap-merge
      // sized.
      benchShuffle("prio_sample", n, nDocs * n)(() =>
        graft.ext.Sampling.prioritySample(docs, "doc_id",
          length(col("text")), k = 25))

      // end-to-end curation composite on vocab-disjoint replicas
      // (families never cross replicas — matched-pair volume linear):
      // the cost is the simhash-pair + pointer-doubling CC chain (the
      // q_split_safe_near class) plus one gate shuffle; wall must
      // stay near-linear on this axis.
      bench("curation_e2e", n, nDocs * n) { () =>
        val c = TextStats.curationPipeline(
          replicateSuffixed(docs0, n, 0), "doc_id", "text").forcedRows()
        graft.core.Caches.unpersistAll()
        c
      }

      // budget select: the corpus axis widens but the cross-value
      // running totals always run over the (distinct quality)-sized
      // table — the single-partition stage is corpus-size-independent
      // BY DESIGN, so throughput must stay flat while a naive global
      // window cumsum would funnel all n·|docs| rows through one task.
      bench("budget_select", n, nDocs * n) { () =>
        val toks = filter(split(lower(trim(col("text"))), "\\s+"),
          w => w =!= lit(""))
        graft.ext.Sampling.budgetSelect(docs, "doc_id",
          quality = size(array_distinct(toks)) * lit(1.0) / size(toks),
          tokens = length(col("text")), budget = 50000L * n).forcedRows()
      }

      // keep-score composite: four per-doc signal pipelines + the
      // id-keyed combiner joins; the corpus axis widens n× (the lm
      // reference slice widens with it — the model tables stay
      // vocabulary-sized). Should scale linearly: every stage is
      // either map work or an id/vocab-keyed equi-join.
      val docsS = replicate(graft.sources.Tables.documents(spark, dir),
        "doc_id", 10000019L, n)
      bench("keep_score", n, nDocs * n) { () =>
        val c = TextStats.keepScore(docsS, "doc_id",
          TextStats.lmScore(docsS, "doc_id", "text",
            refFilter = col("source") === "src0", lambda = 0.9),
          TextStats.repetitionStats(docsS, "doc_id", "text"),
          TextStats.piiRedact(docsS, "doc_id", "text"),
          TextStats.domainStats(docsS, "doc_id", "text",
            Seq("bad0.spam.io")), threshold = 0.5).forcedRows()
        graft.core.Caches.unpersistAll()
        c
      }

      // DSIR importance resampling: the corpus axis widens n× (the
      // src0 target slice widens with it); the bucket model tables
      // stay 4096-row aggregates whatever the corpus, so wall should
      // be linear (one tokenize+hash pass + a bucket-keyed join) and
      // shuffle dominated by the per-(doc,bucket) count table — the
      // linear-in-corpus, constant-in-model signature. Top-k sampling
      // adds only a TakeOrderedAndProject heap on the weights.
      benchShuffle("dsir", n, nDocs * n)(() =>
        graft.ext.Sampling.dsirSample(
          graft.ext.Sampling.dsirWeights(docsS, "doc_id", "text",
            refFilter = col("source") === "src0", buckets = 4096),
          "doc_id", k = 30))

      // semantic decontamination: the corpus axis widens n× while
      // the broadcast bench set stays fixed — wall should be linear
      // in the corpus (one broadcast-nested-loop scan), with the
      // match aggregate on the sparse threshold survivors only.
      bench("decont_sem", n, nVecs * n)(() =>
        graft.ext.Dedup.semanticDecontaminate(
          corpus.filter(col("vec_id") % 29 =!= 0),
          emb0.filter(col("vec_id") % 29 === 0),
          "vec_id", "embedding", threshold = 0.3).forcedRows())

      // decontamination SHUFFLE-VOLUME contrast on the realistic
      // 100 TB axis — the CORPUS grows n× while the bench set AND the
      // amount of actual contamination stay fixed (replicas r > 0 get
      // a vocab-disjoint suffix, so added corpus text shares no
      // shingle with the bench; a bigger web crawl does not contain
      // proportionally more copies of a fixed eval suite). The bloom
      // form's entire claim is that the broadcast filter drops corpus
      // shingles in map work BEFORE any exchange, so the bytes
      // entering the verify join track the FIXED match volume while
      // the plain inverted-index join shuffles EVERY corpus shingle —
      // flat-vs-linear in the shuffle=MB column, the cluster-relevant
      // curve (wall time on a 32-thread local box under-sells it).
      val trainDocs = replicateSuffixed(docs0, n, suffixFrom = 1)
        .filter(col("doc_id") % 29 =!= 0)
      val benchDocs = docs0.filter(col("doc_id") % 29 === 0)
      benchShuffle("decont_plain", n, nDocs * n)(() =>
        graft.ext.Dedup.decontaminate(trainDocs, benchDocs,
          "doc_id", "text", k = 3, minShared = 5))
      benchShuffle("decont_bloom", n, nDocs * n)(() =>
        graft.ext.Dedup.decontaminateBloom(trainDocs, benchDocs,
          "doc_id", "text", k = 3, minShared = 5))

      // SemDeDup embedding-cluster dedup on the corpus axis: replicas
      // are ROTATED copies (a rotation of iid-random dims is
      // decorrelated from every other rotation), so near-dup families
      // never span replicas — answer volume grows linearly, and the
      // bench measures the operator, not quadratic answer growth. The
      // seed count scales with the corpus (the SemDeDup contract:
      // k ∝ n keeps E|cell| constant, so the within-cell pair phase
      // stays linear); since round 14 the assignment is the two-level
      // native kernel (NearestSeedCell, O(√k)/row) behind a
      // materialized-assignment barrier — this row's claim is
      // SUB-QUADRATIC WALL ON THE k ∝ n AXIS (the flat-quantizer n·k
      // term and the unmaterialized 3×-reevaluated join legs measured
      // 197 s at 32×; the r9 committed 1.3 s was count()-pruned).
      def rotReplicate(df: org.apache.spark.sql.DataFrame, n: Int)
          : org.apache.spark.sql.DataFrame =
        if (n <= 1) df else df
          .withColumn("__r", explode(sequence(lit(0L), lit(n - 1L))))
          .withColumn("__rr", (col("__r") % size(col("embedding"))).cast("int"))
          .withColumn("vec_id", col("vec_id") + col("__r") * 10000019L)
          .withColumn("embedding",
            concat(slice(col("embedding"), col("__rr") + 1,
              size(col("embedding")) - col("__rr")),
              slice(col("embedding"), lit(1), col("__rr"))))
          .drop("__r", "__rr")
      val embRot = rotReplicate(emb0, n)
      bench("dedup_sem", n, nVecs * n) { () =>
        // drain per pass: semanticDedup persists its assignment since
        // r14, and leaked copies across passes would skew every later
        // row in the sweep (the decont_bloom discipline)
        val c = Similarity.semanticDedup(embRot, "vec_id", "embedding",
          nSeeds = 16 * n, tau = 0.35).forcedRows()
        graft.core.Caches.unpersistAll()
        c
      }

      // D4 cluster-balanced sampling on the same rotated axis with
      // the same seeds ∝ n contract (E|cell| constant): assignment is
      // the two-level native-kernel projection (O(√k)/row, map-side),
      // the per-cell keep a WindowGroupLimit heap — the ONLY exchange
      // carries (id, cell, weight) rows, never embedding bytes, so
      // shuffle MB must stay vector-free-tiny while wall stays
      // sub-quadratic on the k ∝ n axis (the flat form measured
      // 57.3 s at 32×; two-level HOF 5.3 s; native kernel lower
      // still).
      benchShuffle("cluster_sample", n, nVecs * n)(() =>
        Similarity.clusterBalancedSample(embRot, "vec_id", "embedding",
          nSeeds = 16 * n, k = 10))

      // IVF serving path with nlist ∝ n (the cluster contract: cell
      // count grows with the corpus to keep per-cell candidate volume
      // flat): fixed 10 queries, rotated corpus, nlist = 8n, nprobe 2,
      // bounded 2000-point training sample (Lloyd is the training
      // term, not what this row measures). The per-corpus-row cost is
      // the assignment against nlist centroids — the native
      // NearestCells kernel (round 14); the interpreted per-centroid
      // HOF folds it replaced were the serving path's scale term, so
      // the row's claim is sub-quadratic wall on the nlist ∝ n axis.
      val ivfQueries = emb0.filter(col("vec_id") < 10)
      bench("ivf_assign", n, nVecs * n)(() =>
        Similarity.ivfTopK(ivfQueries, embRot, "vec_id", "embedding",
          k = 5, nlist = 8 * n, nprobe = 2, trainSample = 2000)
          .forcedRows())
      // kernel-isolating A/B at the same HEAD: the corpus-assignment
      // COLUMN alone (keep=1 over the same nlist = 8n centroid
      // matrix), native vs the spec-pinned HOF twin. The HOF control
      // is capped at n ≤ 8 — its interpreted per-centroid folds are
      // the quadratic term this kernel removed.
      val abCents = Array.tabulate(8 * n)(c =>
        Array.tabulate(64)(j => math.sin(c * 17 + j) * 0.3))
      bench("ivf_cells_native", n, nVecs * n)(() =>
        embRot.select(
          Similarity.nearCellsTest(abCents, col("embedding"), 1).as("c"))
          .forcedRows())
      if (n <= 8)
        bench("ivf_cells_hof", n, nVecs * n)(() =>
          embRot.select(
            Similarity.nearCellsHof(abCents, col("embedding"), 1).as("c"))
            .forcedRows())

      // JL random projection 64→16: pure per-row codegen'd dot
      // products against literal ±1 vectors, zero shuffles — flat
      // Mrows/s is the pass bar, and the projected table carries 4×
      // fewer vector bytes into any downstream shuffle.
      // (the fold over ALL 16 dims defeats column pruning — a bare
      // count() would let Catalyst skip the projection work entirely)
      bench("rproj", n, nVecs * n)(() =>
        Similarity.randomProject(embRot, "embedding",
          Similarity.rprojSigns(64, 16))
          .agg(sum(aggregate(col("proj"), lit(0.0), (a, e) => a + e)))
          .collect().length.toLong)

      // margin mining, brute vs bucketed retrieval on the BOTH-pools
      // axis (rotated replicas — decorrelated, so mined-pair volume
      // grows linearly and the bench measures the operator): the brute
      // control's candidate volume is |src|·|tgt| — quadratic on this
      // axis, which is exactly why the bucketed form exists — so it is
      // capped at n ≤ 8; the LSH form rides the multi-probe bucket
      // equi-join with bucket count grown with the corpus
      // (bits = 4 + log₂ n — the k ∝ n contract), holding per-bucket
      // candidate density flat.
      val srcPool = rotReplicate(emb0.filter(col("vec_id") % 5 < 2), n)
      val tgtPool = rotReplicate(emb0.filter(col("vec_id") % 5 >= 2), n)
      if (n <= 8)
        bench("margin_brute", n, nVecs * n)(() =>
          Similarity.marginMine(srcPool, tgtPool, "vec_id", "embedding",
            k = 4, minMargin = 1.2).forcedRows())
      val marginBits = 4 + (31 - Integer.numberOfLeadingZeros(math.max(n, 1)))
      bench("margin_lsh", n, nVecs * n)(() =>
        Similarity.marginMine(srcPool, tgtPool, "vec_id", "embedding",
          k = 4, minMargin = 1.2,
          retrieve = Similarity.lshRetriever(marginBits)).forcedRows())

      // kNN label propagation on the unlabeled-corpus axis: the
      // labeled SEED set stays fixed and small (labels {0,1}, ~20% —
      // the broadcast side by contract), the unlabeled majority widens
      // n× — wall must stay linear (one broadcast-nested-loop scan +
      // a WindowGroupLimit-bounded uid shuffle of n·k rows).
      val unlabeledGrown = rotReplicate(
        emb0.filter(col("label") >= 2).drop("label"), n)
      val knnRows = unlabeledGrown.count() +
        emb0.filter(col("label") < 2).count() // honest input size
      bench("knn_label", n, knnRows)(() =>
        Similarity.knnLabel(unlabeledGrown, emb0.filter(col("label") < 2),
          "vec_id", "embedding", "label", k = 5).forcedRows())

      // perceptual-hash codec axis: per-doc PNG synth→encode→decode→
      // fingerprint is pure map work, so wall must scale linearly in
      // docs (flat Mrows/s). The pair phase is hammingPairs' band
      // join — covered by the incr_near/incr_ctrl rows below.
      val mediaIds = replicate(docs0.select("doc_id"), "doc_id", 10000019L, n)
      bench("media_hash", n, nDocs * n)(() =>
        Multimodal.pngPerceptualHash(mediaIds, "doc_id").forcedRows())

      // multi-frame GIF decode on the same per-doc codec axis: each
      // id round-trips a 2-5-frame animated GIF — wall must scale
      // linearly in ids (pure map work, no shuffle), with the same
      // flat per-doc codec cost the single-frame media_hash row pins.
      bench("video_frames", n, nDocs * n)(() =>
        Multimodal.gifFrameMeta(mediaIds, "doc_id").forcedRows())

      // LOSSY-codec axis: per-doc JPEG synth→encode→decode→grid-hash
      // is pure map work like media_hash, but on 64×64–96×80 images
      // through libjpeg's real DCT path — wall must stay linear in
      // docs with a flat (larger) per-doc codec cost.
      bench("jpeg_hash", n, nDocs * n)(() =>
        Multimodal.jpegPerceptualHash(mediaIds, "doc_id").forcedRows())

      // incremental near-dup vs full re-pairing on the growing-corpus
      // axis: the KNOWN corpus widens n× (replicas r>0 vocab-suffixed
      // — no new matches, same as the decont rows) while the fresh
      // batch stays fixed. The incremental form's claim is that the
      // known side contributes ONE linear chunk-index pass and is
      // never paired against itself, so its wall tracks |known|
      // linearly with a small constant; the control re-runs the full
      // pair finder over known∪fresh, paying the known×known
      // candidate volume every ingest. The wall-time gap between
      // these two rows IS the reason the incremental operator exists.
      val knownGrown = replicateSuffixed(docs0, n, suffixFrom = 1)
        .filter(col("doc_id") % 5 =!= 0)
      val freshBatch = docs0.filter(col("doc_id") % 5 === 0)
      // honest input size: the %5 split drops ~1/5 of the replicated
      // corpus, so nDocs*n would overstate throughput ~24% at n=32
      val incrRows = knownGrown.count() + freshBatch.count()
      bench("incr_near", n, incrRows) { () =>
        val c = graft.ext.Dedup.simHashIncremental(freshBatch, knownGrown,
          "doc_id", "text", maxDist = 3).forcedRows()
        graft.core.Caches.unpersistAll()
        c
      }
      bench("incr_ctrl", n, incrRows) { () =>
        val c = graft.ext.Dedup.simHashPairs(knownGrown.unionByName(freshBatch),
          "doc_id", "text", maxDist = 3).forcedRows()
        graft.core.Caches.unpersistAll()
        c
      }

      // unified ingest, persisted-index vs recompute-per-ingest on the
      // same growing-known axis: with both known-side indexes passed
      // in (the fingerprint table and the distinct hash index,
      // materialized once outside the timed region — the state a real
      // pipeline carries between batches), the per-ingest known-side
      // work drops from two corpus-TEXT passes (tokenize + md5 +
      // simhash) to index-sized map work (the chunk-explode of
      // 16-byte fingerprint rows); both rows stay scheduling-bound at
      // this SF — the contrast is the work class, and the text-pass
      // saving grows with document size.
      if (selected("ingest_reuse") || selected("ingest_fresh")) {
        val fpKnownIdx = graft.ext.Dedup
          .simHash(knownGrown, "doc_id", "text").cache()
        val hashKnownIdx = knownGrown
          .select(graft.ext.Dedup.normHash(col("text")).as("text_hash"))
          .distinct().cache()
        fpKnownIdx.count(); hashKnownIdx.count() // materialize outside timing
        bench("ingest_reuse", n, incrRows) { () =>
          val c = graft.ext.Dedup.dedupIngest(freshBatch, knownGrown,
            "doc_id", "text", maxDist = 3,
            knownFp = Some(fpKnownIdx), knownIndex = Some(hashKnownIdx)).forcedRows()
          graft.core.Caches.unpersistAll()
          c
        }
        bench("ingest_fresh", n, incrRows) { () =>
          val c = graft.ext.Dedup.dedupIngest(freshBatch, knownGrown,
            "doc_id", "text", maxDist = 3).forcedRows()
          graft.core.Caches.unpersistAll()
          c
        }
        fpKnownIdx.unpersist(); hashKnownIdx.unpersist()
      }

      // frozen-family incremental split on the same growing-known
      // axis: the registry (id, family_id, 8-byte fingerprint) is the
      // persisted artifact a real pipeline carries, materialized once
      // outside the timed region; per-ingest assignment then touches
      // the fixed batch's TEXT plus index-sized map work over the
      // registry — never the known corpus text. The control rebuilds
      // the full near-split over known∪batch every ingest (the
      // renumbering-prone form this operator replaces), paying the
      // corpus-text fingerprint pass and the known×known pair volume.
      if (selected("fam_assign") || selected("fam_rebuild")) {
        val registry = graft.ext.Sampling
          .familyRegistry(knownGrown, "doc_id", "text", maxDist = 3).cache()
        registry.count() // materialize outside timing
        graft.core.Caches.unpersistAll()
        bench("fam_assign", n, incrRows) { () =>
          val c = graft.ext.Sampling.familySplit(
            graft.ext.Sampling.assignFamiliesIncremental(freshBatch,
              registry, "doc_id", "text", maxDist = 3)).forcedRows()
          graft.core.Caches.unpersistAll()
          c
        }
        bench("fam_rebuild", n, incrRows) { () =>
          val c = graft.ext.Sampling.leakageSafeSplitNear(
            knownGrown.unionByName(freshBatch), "doc_id", "text",
            maxDist = 3).forcedRows()
          graft.core.Caches.unpersistAll()
          c
        }
        registry.unpersist()
      }

      // incremental DSIR on the same growing-known axis: the frozen
      // 4096-row bucket model (the persisted artifact a real pipeline
      // carries, extended per batch by dsirModelMerge without a
      // corpus rescan) is materialized once outside the timed region;
      // per-ingest scoring then tokenizes ONLY the fixed batch and
      // joins the bucket-bounded broadcast model — wall must stay
      // FLAT as the known corpus grows. The control pays the full
      // dsirWeights pass over known∪batch every ingest, which is
      // linear in the corpus. The gap between the two rows IS the
      // artifact's reason to exist.
      if (selected("dsir_score") || selected("dsir_rebuild")) {
        // docs0 carries only (doc_id, text) — the target slice here is
        // an id-hash subset (any deterministic slice works; the axis
        // measures cost shape, not selection quality)
        val dsirRef = pmod(col("doc_id"), lit(7)) === 1
        val model = graft.ext.Sampling.dsirModel(knownGrown, "doc_id",
          "text", refFilter = dsirRef, buckets = 4096).cache()
        model.count() // materialize outside timing
        graft.core.Caches.unpersistAll()
        bench("dsir_score", n, incrRows) { () =>
          val c = graft.ext.Sampling.dsirScore(freshBatch, model,
            "doc_id", "text", buckets = 4096).forcedRows()
          graft.core.Caches.unpersistAll()
          c
        }
        bench("dsir_rebuild", n, incrRows) { () =>
          val c = graft.ext.Sampling.dsirWeights(
            knownGrown.unionByName(freshBatch), "doc_id", "text",
            refFilter = dsirRef, buckets = 4096).forcedRows()
          graft.core.Caches.unpersistAll()
          c
        }
        model.unpersist()
      }

      // BM25 postings-index reuse on the same growing-known axis: the
      // known slice's postings (the persisted bm25Index artifact) are
      // materialized once outside the timed region; per retrieval the
      // reuse path tokenizes ONLY the fixed batch and derives
      // df/N/avgdl from index-sized aggregates, while the fresh
      // control re-tokenizes the whole known∪batch corpus text every
      // time. Scoring is proven identical (q_bm25_indexed shares
      // q_bm25's oracle and hash) — the wall gap is pure avoided
      // corpus-text work, growing with the corpus.
      if (selected("bm25_ix_reuse") || selected("bm25_ix_fresh")) {
        val toksQ = filter(split(lower(trim(col("text"))), "\\s+"),
          w => w =!= lit(""))
        val queries = docs0.filter(col("doc_id") < 5)
          .select(col("doc_id").as("query_id"),
            array_join(slice(toksQ, 1, 4), " ").as("qtext"))
        val knownIx = graft.ext.Retrieval
          .bm25Index(knownGrown, "doc_id", "text").cache()
        knownIx.count() // materialize outside timing
        bench("bm25_ix_reuse", n, incrRows) { () =>
          val c = graft.ext.Retrieval.bm25TopKIndexed(
            knownIx.unionByName(
              graft.ext.Retrieval.bm25Index(freshBatch, "doc_id", "text")),
            queries, "query_id", "qtext", k = 10).forcedRows()
          graft.core.Caches.unpersistAll()
          c
        }
        bench("bm25_ix_fresh", n, incrRows) { () =>
          val c = graft.ext.Retrieval.bm25TopK(
            knownGrown.unionByName(freshBatch), "doc_id", "text",
            queries, "query_id", "qtext", k = 10).forcedRows()
          graft.core.Caches.unpersistAll()
          c
        }
        knownIx.unpersist()
      }

      // hot-band skew axis: a planted exact-dup flood (400·n copies of
      // one text, distinct ids) heats all four of its SimHash chunk
      // keys; the uncapped band join evaluates flood²/2 candidate rows
      // on ONE join key per chunk — a single hot reducer task whose
      // work grows quadratically in n while every other task stays
      // tiny (shuffle WRITE bytes stay linear: the blowup is join
      // OUTPUT on the reducer, which is why wall, not bytes, is the
      // skew signal here) — the capped form (maxChunkDf=300) prunes
      // the hot keys map-side once the flood crosses the cap (n≥1 on
      // this axis) and stays corpus-bound. This is the one skew risk
      // the r11 verdict flagged in the q_curation_e2e family chain.
      if (selected("simhash_hot") || selected("simhash_cap")) {
        val floodText = (1 to 40).map(i => s"flood$i").mkString(" ")
        val flood = spark.range(400L * n).select(
          (col("id") + 50000000L).as("doc_id"),
          lit(floodText).as("text"))
        val skewed = docs0.select("doc_id", "text").unionByName(flood)
        val skewRows = nDocs + 400L * n
        // at bench SF the chunk table broadcasts, which spreads the
        // hot key's probe work across every task and hides the skew;
        // at 100 TB the fingerprint table is NOT broadcastable and
        // the band join shuffles — force that shape so the row
        // measures the at-scale behavior (AQE skew splitting may
        // spread the hot partition, but the flood²/2 candidate
        // evaluations still happen; the cap REMOVES them)
        val prevBjt = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try {
          benchShuffle("simhash_hot", n, skewRows)(() =>
            graft.ext.Dedup.simHashPairs(skewed, "doc_id", "text",
              maxDist = 3))
          benchShuffle("simhash_cap", n, skewRows)(() =>
            graft.ext.Dedup.simHashPairsCapped(skewed, "doc_id",
              "text", maxDist = 3, maxChunkDf = 300L))
        } finally
          spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBjt)
      }
    }
    spark.stop()
  }
}
