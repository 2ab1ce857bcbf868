package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.catalyst.plans.logical.ResolvedHint
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.functions._

import graft.ext.{Dedup, Similarity, TextStats}
import graft.operators.Diagnostics
import graft.sources.Tables

/** Plan guards: lock in the scale-critical physical-plan properties so
  * regressions show up as test failures, not as cluster incidents.
  * AQE is disabled inside each test so `executedPlan` is the static
  * plan tree (the properties asserted are decided at planning time).
  */
class PlanGuardSpec extends SparkTestBase {

  private val sfDir = "/root/testdata/sf0.001"

  private def withStaticPlans[A](f: => A): A = {
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try f finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  private def broadcastChildren(df: DataFrame): Seq[String] =
    df.queryExecution.executedPlan.collect {
      case b: BroadcastExchangeExec => b.child.toString
    }

  private def shuffleCount(df: DataFrame): Int =
    df.queryExecution.executedPlan.collect {
      case s: ShuffleExchangeExec => s
    }.size

  private def forcedHints(df: DataFrame): Seq[ResolvedHint] =
    df.queryExecution.analyzed.collect { case h: ResolvedHint => h }

  test("bruteForceTopK broadcasts the queries side, never the corpus") {
    withStaticPlans {
      val emb = Tables.embeddings(spark, sfDir)
      val df = Similarity.bruteForceTopK(
        emb.filter(col("vec_id") < 10), emb, "vec_id", "embedding", k = 5)
      val bcasts = broadcastChildren(df)
      assert(bcasts.nonEmpty, "expected a broadcast of the query side")
      bcasts.foreach { c =>
        assert(c.contains("< 10"),
          s"broadcast subtree is not the filtered queries side:\n$c")
      }
    }
  }

  test("decontaminateBloom prunes the corpus BELOW every exchange") {
    withStaticPlans {
      val docs = Tables.documents(spark, sfDir)
      val df = Dedup.decontaminateBloom(
        docs.filter(col("doc_id") % 29 =!= 0),
        docs.filter(col("doc_id") % 29 === 0),
        "doc_id", "text", k = 3, minShared = 2, fpp = 0.01)
      // the bloom-probe filter must run scan-side: Catalyst pushes
      // it through the shingle distinct, so its subtree — everything
      // that executes before the prune — contains no shuffle. If
      // this pin breaks, the corpus-shingle distinct shuffles the
      // UNpruned 100 TB axis.
      val probeFilters = df.queryExecution.executedPlan.collect {
        case f: org.apache.spark.sql.execution.FilterExec
            if f.condition.toString.contains("graft_bloom_contains") => f
      }
      assert(probeFilters.nonEmpty, "bloom-probe filter not found")
      probeFilters.foreach { f =>
        // r15: the scan-level FanOut (round-robin repartition, identity
        // at cluster scale where the scan already splits) is the ONE
        // permitted exchange below the probe — it carries the raw
        // (id, text) rows, not the shingle blowup, and disappears from
        // the 100 TB plan. Any KEYED shuffle below the probe still
        // means the corpus-shingle distinct shuffles unpruned.
        val shufflesBelow = f.collect {
          case s: ShuffleExchangeExec
              if !s.outputPartitioning
                .isInstanceOf[org.apache.spark.sql.catalyst.plans.physical.RoundRobinPartitioning] => s
        }
        assert(shufflesBelow.isEmpty,
          "bloom prune runs above a keyed shuffle — prune is not map-side")
        // round 13: the probe is a codegen Expression, not a Scala
        // UDF — the prune stage must stay inside whole-stage codegen.
        // The membership walk stops at InputAdapter boundaries: a node
        // under an InputAdapter is INSIDE the WSCG subtree but outside
        // the fused stage (it executes interpreted), so `w.exists`
        // would vacuously pass for a filter that fell out of codegen.
        def fusedNodes(p: org.apache.spark.sql.execution.SparkPlan)
            : Seq[org.apache.spark.sql.execution.SparkPlan] = p match {
          case _: org.apache.spark.sql.execution.InputAdapter => Nil
          case n => n +: n.children.flatMap(fusedNodes)
        }
        val inWscg = df.queryExecution.executedPlan.exists {
          case w: org.apache.spark.sql.execution.WholeStageCodegenExec =>
            fusedNodes(w.child).exists(_ eq f)
          case _ => false
        }
        assert(inWscg, "bloom-probe filter fell out of whole-stage codegen")
        assert(!f.condition.toString.contains("UDF"),
          "bloom probe regressed to a row-at-a-time UDF")
      }
    }
  }

  test("semanticDecontaminate broadcasts the bench side; one agg exchange") {
    withStaticPlans {
      val emb = Tables.embeddings(spark, sfDir)
      val df = Dedup.semanticDecontaminate(
        emb.filter(col("vec_id") % 29 =!= 0),
        emb.filter(col("vec_id") % 29 === 0),
        "vec_id", "embedding", threshold = 0.3)
      val bcasts = broadcastChildren(df)
      assert(bcasts.nonEmpty, "expected a broadcast of the bench side")
      bcasts.foreach { c =>
        assert(c.contains("= 0"),
          s"broadcast subtree is not the bench split:\n$c")
      }
      // the training corpus is never reshuffled: the only exchange is
      // the per-doc aggregate over the (sparse) threshold matches
      assert(shuffleCount(df) <= 1,
        s"corpus-side shuffle leaked into semanticDecontaminate")
    }
  }

  test("dedup verify tails carry no forced broadcast hint (AQE decides)") {
    withStaticPlans {
      val docs = Tables.documents(spark, sfDir)
      val mh = Dedup.minHashLsh(docs, "doc_id", "text",
        k = 2, numHashes = 12, bands = 6, threshold = 0.5)
      assert(forcedHints(mh).isEmpty,
        "minHashLsh must not force a join strategy on the candidate set")
      val ng = Dedup.ngramJaccardCapped(docs, "doc_id", "text",
        k = 3, threshold = 0.5, maxDf = 20)
      assert(forcedHints(ng).isEmpty,
        "ngramJaccardCapped must not force a join strategy on the candidate set")
      val cp = Dedup.containmentPairs(docs, "doc_id", "text",
        k = 2, threshold = 0.8, maxDf = 20)
      assert(forcedHints(cp).isEmpty,
        "containmentPairs must not force a join strategy on the candidate set")
      graft.core.Caches.unpersistAll()
    }
  }

  test("dedup verify family reads one shingle aggregate, cached nowhere") {
    val docs = Tables.documents(spark, sfDir)
    val plans = Seq(
      "minHashLsh" -> Dedup.minHashLsh(docs, "doc_id", "text",
        k = 2, numHashes = 12, bands = 6, threshold = 0.5),
      "ngramJaccardCapped" -> Dedup.ngramJaccardCapped(docs, "doc_id", "text",
        k = 2, threshold = 0.5, maxDf = 20),
      "containmentPairs" -> Dedup.containmentPairs(docs, "doc_id", "text",
        k = 2, threshold = 0.8, maxDf = 20))
    plans.foreach { case (op, df) =>
      val cached = df.queryExecution.withCachedData.collect {
        case r: org.apache.spark.sql.execution.columnar.InMemoryRelation => r
      }
      assert(cached.isEmpty, s"$op plans over a cached relation")
    }
  }

  test("qc suite reuses one series-hash exchange across all window stages") {
    withStaticPlans {
      try {
        val df = SparkEntry.queries("q_qc_suite")(spark, sfDir)
        val n = shuffleCount(df)
        // the keep-first dedup partitions by the series keys, so the
        // persisted base's windows and the run masks (a window over
        // (keys, marker id)) plan no exchange above it; the one left is
        // the step branch's dedup exchange, which inferStep's aggregate
        // reuses.
        assert(n <= 1, s"q_qc_suite plans $n shuffles — exchange reuse regressed")
      } finally graft.core.Caches.unpersistAll()
    }
  }

  test("repetitionStats and chunkDocs plan with zero exchanges") {
    withStaticPlans {
      val docs = Tables.documents(spark, sfDir)
      val rep = graft.ext.TextStats.repetitionStats(docs, "doc_id", "text")
      assert(shuffleCount(rep) == 0,
        "repetitionStats must score each doc inside its scan task")
      val ch = graft.ext.TextStats.chunkDocs(docs, "doc_id", "text")
      assert(shuffleCount(ch) == 0,
        "chunkDocs must stay scan-local (explode, no shuffle)")
    }
  }

  test("pipeline timeseries keeps its shuffle budget") {
    withStaticPlans {
      try {
        val df = SparkEntry.queries("q_pipeline")(spark, sfDir)
        val n = shuffleCount(df)
        // downstream of the persisted cleaned base the final assembly
        // plans no shuffle: the suite's windows and run masks run in
        // the base's series partitioning, and side-band columns (sm_*,
        // qcband_*) ride existing joins.
        assert(n == 0, s"q_pipeline plans $n shuffles — assembly regressed")
      } finally graft.core.Caches.unpersistAll()
    }
  }

  test("the timeseries sink plans one shuffle, by station, above the persisted base") {
    withStaticPlans {
      try {
        import spark.implicits._
        import graft.pipeline.{Pipeline, PipelineConfig}
        val df = (0 until 40).flatMap(i => Seq("a", "b").map(st =>
          (st, "v1", new java.sql.Timestamp(1700000000000L + i * 900000L), 1.0 + i % 3)))
          .toDF("station", "variable", "ts", "value")
        val r = Pipeline.run(df, graft.core.SeriesSpec(Seq("station", "variable")),
          PipelineConfig(kVariance = 6, kZscore = 8, applySentem = false),
          variableCol = Some("variable"))
        val wide = Pipeline.wide(r.timeseries, "station", "variable", "ts", Seq("v1"))
        val shuffles = wide.queryExecution.executedPlan.collect {
          case s: ShuffleExchangeExec => s
        }
        assert(shuffles.size == 1, s"the timeseries sink plans ${shuffles.size} shuffles")
        shuffles.head.outputPartitioning match {
          case h: HashPartitioning =>
            assert(h.expressions.size == 1 &&
              h.expressions.head.references.map(_.name).toSet == Set("station"),
              s"the sink shuffles by ${h.expressions}")
          case p => fail(s"the sink shuffle is not a hash partitioning: $p")
        }
      } finally graft.core.Caches.unpersistAll()
    }
  }

  test("groupedLinearFit plans exactly one exchange with map-side partials") {
    withStaticPlans {
      val df = graft.operators.Diagnostics.groupedLinearFit(
        Tables.lineitem(spark, sfDir),
        Seq("l_returnflag", "l_linestatus"), "l_quantity", "l_extendedprice")
      assert(shuffleCount(df) == 1,
        "OLS moments must aggregate in one shuffle")
      // partial aggregation must sit BELOW the exchange so the shuffle
      // moves O(groups) moment rows per task, not raw rows
      val plan = df.queryExecution.executedPlan.toString
      val exchangeIdx = plan.indexOf("Exchange")
      val partialIdx = plan.indexOf("partial_")
      assert(partialIdx > exchangeIdx && exchangeIdx >= 0,
        s"no map-side partial aggregation below the exchange:\n$plan")
    }
  }

  test("heavy-hitter re-count broadcasts the candidate side only") {
    withStaticPlans {
      val df = graft.ext.TextStats.heavyHitterTokens(
        Tables.documents(spark, sfDir), "doc_id", "text",
        capacity = 127, supportPpm = 10000L)
      val bcasts = broadcastChildren(df)
      assert(bcasts.nonEmpty, "expected the candidate tokens broadcast")
      bcasts.foreach { c =>
        assert(c.contains("graft_heavy_hitters") || c.contains("__mg") ||
          c.contains("Aggregate") || c.contains("Generate"),
          s"broadcast subtree is not the sketch-candidate side:\n$c")
      }
    }
  }

  test("bucketed packing reuses the shard exchange for both windows") {
    withStaticPlans {
      val df = TextStats.packBatchesBucketed(
        Tables.documents(spark, sfDir), "doc_id", "text",
        budgetTokens = 2048, nShards = 16, nBuckets = 4)
      // ntile partitions by shard; the running sum by (shard, bucket) —
      // a refinement the shard hash already satisfies, so ONE shuffle.
      assert(shuffleCount(df) === 1,
        s"expected a single shard exchange:\n${df.queryExecution.executedPlan}")
    }
  }

  test("rerank adds only equi-joins on top of the declared retrieval scan") {
    withStaticPlans {
      val emb = Tables.embeddings(spark, sfDir)
      val df = Similarity.rerankTopK(
        emb.filter(col("vec_id") < 10), emb, "vec_id", "embedding",
        kRetrieve = 10, kFinal = 3)
      val nested = df.queryExecution.executedPlan.collect {
        case b: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec => b
        case c: org.apache.spark.sql.execution.joins.CartesianProductExec => c
      }
      // exactly the brute-force retrieval pair loop — the rerank joins
      // (candidates back to both vector sides) must all be equi-joins
      assert(nested.size === 1,
        s"rerank stage introduced a non-equi join:\n${df.queryExecution.executedPlan}")
      // the corpus side is probed by the BROADCAST candidate table and
      // must never shuffle; the only exchanges are the two rank
      // windows' repartitions of candidate-sized data (retrieval rank
      // + rerank rank, both hash-partitioned on query_id)
      assert(shuffleCount(df) <= 2,
        s"rerank shuffled the corpus:\n${df.queryExecution.executedPlan}")
    }
  }

  test("robust fit broadcasts the per-group pilot and scale tables") {
    withStaticPlans {
      val df = Diagnostics.groupedRobustFit(
        Tables.lineitem(spark, sfDir),
        Seq("l_returnflag", "l_linestatus"), "l_quantity", "l_extendedprice")
      try {
        // round 13: every per-round fit/scale table is CACHED (the
        // uncached lineage re-executed each previous round once per
        // consumer), so the per-round broadcasts live inside the
        // InMemoryRelation build plans — traverse into them: the
        // data axis must still meet every O(groups) table as a
        // broadcast build, never a shuffled join
        def closure(p: org.apache.spark.sql.execution.SparkPlan)
            : Seq[org.apache.spark.sql.execution.SparkPlan] =
          p.collect { case x => x }.flatMap {
            case s: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec =>
              s +: closure(s.relation.cachedPlan)
            case x => Seq(x)
          }
        val all = closure(df.queryExecution.executedPlan)
        val bcasts = all.count {
          case _: BroadcastExchangeExec => true
          case _ => false
        }
        val sortMergeJoins = all.count {
          case _: org.apache.spark.sql.execution.joins.SortMergeJoinExec => true
          case _ => false
        }
        assert(bcasts >= 3,
          s"fit/scale group tables must broadcast back to the data axis:\n${df.queryExecution.executedPlan}")
        assert(sortMergeJoins == 0,
          s"a group-table join shuffled the data axis:\n${df.queryExecution.executedPlan}")
        // data-axis shuffles across the cache closure: one per moment
        // aggregation (pilot + 2 per round) — nothing else. The r15
        // scan-level FanOut (round-robin, identity at cluster scale)
        // is excluded: it is the declared fan-out, not a data-axis
        // aggregation shuffle.
        val shuffles = all.count {
          case s: ShuffleExchangeExec =>
            !s.outputPartitioning.isInstanceOf[
              org.apache.spark.sql.catalyst.plans.physical.RoundRobinPartitioning]
          case _ => false
        }
        assert(shuffles <= 8,
          s"unexpected data-axis shuffles:\n${df.queryExecution.executedPlan}")
      } finally graft.core.Caches.unpersistAll()
    }
  }

  test("bm25 tokenizes the corpus once; top-k plans as WindowGroupLimit") {
    withStaticPlans {
      val docs = Tables.documents(spark, sfDir)
      val queries = docs.filter(col("doc_id") < 5)
        .select(col("doc_id").as("query_id"), col("text").as("qtext"))
      val df = graft.ext.Retrieval.bm25TopK(docs, "doc_id", "text",
        queries, "query_id", "qtext", k = 10)
      try {
        val plan = df.queryExecution.executedPlan.toString
        assert(plan.contains("WindowGroupLimit"),
          s"per-query top-k must plan as WindowGroupLimit:\n$plan")
        // the cached doc-term index must feed dfreq and the (N, avgdl)
        // scalars — only the index build and the query side may scan
        // the corpus (InMemoryRelation build plans echo the scan text,
        // so count executed FileSourceScans, not substrings)
        val scans = df.queryExecution.executedPlan.collect {
          case s: org.apache.spark.sql.execution.FileSourceScanExec => s
        }.size
        assert(scans <= 2,
          s"corpus re-tokenized: $scans parquet scans\n$plan")
      } finally graft.core.Caches.unpersistAll()
    }
  }

  test("prioritySample plans as TakeOrdered heap; per-stratum as WindowGroupLimit") {
    withStaticPlans {
      val docs = Tables.documents(spark, sfDir)
      val global = graft.ext.Sampling.prioritySample(docs, "doc_id",
        col("n_chars"), k = 25)
      val gp = global.queryExecution.executedPlan.toString
      // the corpus-axis top-(k+1) must be a per-partition heap merge,
      // never a full global sort of the corpus
      assert(gp.contains("TakeOrderedAndProject"),
        s"top-k must plan as TakeOrderedAndProject:\n$gp")
      val strat = graft.ext.Sampling.prioritySamplePerStratum(docs,
        "doc_id", "lang", col("n_chars"), k = 5)
      val sp = strat.queryExecution.executedPlan.toString
      assert(sp.contains("WindowGroupLimit"),
        s"per-stratum rank<=k must plan as WindowGroupLimit:\n$sp")
    }
  }

  test("quantileBuckets has no global-sort window; boundaries broadcast") {
    withStaticPlans {
      val docs = Tables.documents(spark, sfDir)
      val df = graft.ext.Sampling.quantileBuckets(docs, "doc_id",
        "n_chars", nBuckets = 10)
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("Window"),
        s"quantile bucketing must not plan a window (ntile anti-pattern):\n$plan")
      assert(broadcastChildren(df).nonEmpty,
        s"boundary array must ride a broadcast:\n$plan")
      // one exchange: the percentile aggregate's single-partition
      // reduce; the assignment side stays scan-local
      assert(shuffleCount(df) <= 1,
        s"unexpected shuffles:\n$plan")
    }
  }

  test("time-slice predicates reach the parquet scan as pushed filters") {
    withStaticPlans {
      val lo = 1500000000000000L
      val hi = 1600000000000000L
      val df = Tables.events(spark, sfDir, sliceUs = Some((lo, hi)))
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("PushedFilters"), s"no pushed filters:\n$plan")
      assert(plan.contains("GreaterThanOrEqual(ts") && plan.contains("LessThan(ts"),
        s"time-slice bounds not pushed to the scan:\n$plan")
    }
  }

  private def allPairsJoins(df: DataFrame) =
    df.queryExecution.executedPlan.collect {
      case c: org.apache.spark.sql.execution.joins.CartesianProductExec => c
      case b: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec => b
    }

  test("semanticDedup: assignment legs are exchange-free projections; " +
      "pair phase never all-pairs") {
    withStaticPlans {
      val emb = Tables.embeddings(spark, sfDir)
      val df = Similarity.semanticDedup(emb, "vec_id", "embedding",
        nSeeds = 8, tau = 0.35)
      assert(allPairsJoins(df).isEmpty,
        "all-pairs join in the semanticDedup plan")
      // the centroid argmax is a pure projection: the bottom-most
      // join is the within-cell self-join, and BOTH its legs must be
      // scan→project only — no aggregate, window or further join
      // below (the join's own distribution exchanges are expected).
      // If assignment ever grows heavier plumbing, the 100 TB story
      // gains a corpus-sized pre-join stage.
      val joins = df.queryExecution.executedPlan.collect {
        case j: org.apache.spark.sql.execution.joins.BaseJoinExec => j
      }
      val bottomJoins = joins.filter(j =>
        j.collect {
          case jj: org.apache.spark.sql.execution.joins.BaseJoinExec => jj
        }.size == 1)
      assert(bottomJoins.nonEmpty, "no bottom-most join found")
      bottomJoins.foreach { j =>
        val heavy = j.children.flatMap(_.collect {
          case a: org.apache.spark.sql.execution.aggregate.HashAggregateExec => a
          case a: org.apache.spark.sql.execution.aggregate.ObjectHashAggregateExec => a
          case a: org.apache.spark.sql.execution.aggregate.SortAggregateExec => a
          case w: org.apache.spark.sql.execution.window.WindowExec => w
        })
        assert(heavy.isEmpty,
          s"assignment leg carries non-projection work:\n" +
            heavy.headOption.map(_.toString).getOrElse(""))
      }
    }
  }

  test("bucketed marginMine plans bucket equi-joins — no all-pairs retrieval") {
    withStaticPlans {
      val emb = Tables.embeddings(spark, sfDir)
      val df = Similarity.marginMine(emb.filter(col("label") < 2),
        emb.filter(col("label") >= 2), "vec_id", "embedding",
        k = 4, minMargin = 1.2, retrieve = Similarity.lshRetriever(4))
      assert(allPairsJoins(df).isEmpty,
        "all-pairs join in the bucketed margin plan — the LSH " +
          "retriever must plan bucket equi-joins")
    }
  }

  test("dedupIngest: fresh batch is scanned once — all legs read the cached base") {
    withStaticPlans {
      val docs = Tables.documents(spark, sfDir)
      val df = Dedup.dedupIngest(
        docs.filter(pmod(col("doc_id"), lit(5)) === 0),
        docs.filter(pmod(col("doc_id"), lit(5)) =!= 0),
        "doc_id", "text", maxDist = 3)
      // live FileScans = the known side's two index passes ONLY (hash
      // index + fingerprint build); every fresh-side leg must read the
      // cached base/fingerprint tables — a third FileScan means the
      // one-batch-scan contract broke and ingest re-reads its input.
      val fileScans = df.queryExecution.executedPlan.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => f
      }
      assert(fileScans.size == 2,
        s"expected exactly the known side's 2 scans, got ${fileScans.size}:\n" +
          fileScans.mkString("\n"))
      val memScans = df.queryExecution.executedPlan.collect {
        case m: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec => m
      }
      assert(memScans.size >= 3,
        s"fresh-side legs must read the cached base/fingerprints, " +
          s"got ${memScans.size} in-memory scans")
      assert(allPairsJoins(df).isEmpty, "all-pairs join in the ingest plan")
      graft.core.Caches.unpersistAll()
    }
  }

  // The declared broadcast-scan designs: a small BROADCAST side (a
  // filtered query set, a bench split, seed labels, a k-row recall
  // probe) probed against the corpus scan in one pass — the corpus
  // itself never shuffles. Every other non-scalar nested-loop join in
  // any registry plan is a regression.
  private val allPairsAllowlist = Set(
    "q_ann_brute",            // exact top-k anchor: queries × corpus
    "q_ann_ivf_recall",       // recall bound rides the brute anchor
    "q_ann_pq",               // ADC scan: broadcast codebooks × corpus
    "q_ann_pq_recall",        // brute anchor + PQ scan
    "q_ann_rerank",           // declared: brute retrieval pair loop
    "q_decontaminate_semantic", // bench split broadcast × corpus scan
    "q_dedup_semantic_recall",  // exact-bound companion of SemDeDup
    "q_knn_label",            // seed broadcast × corpus scan
    "q_margin_mine",          // declared brute mining baseline
    "q_margin_mine_ivf_recall", // agreement row rides the brute form
    "q_margin_mine_recall",     // agreement row rides the brute form
    "q_rproj_recall")         // exact-bound companion of the projection

  test("registry sweep: no all-pairs join outside the declared allowlist") {
    withStaticPlans {
      try {
        val offenders = SparkEntry.queries.keys.toSeq.sorted.flatMap { name =>
          val plan = SparkEntry.queries(name)(spark, sfDir)
            .queryExecution.executedPlan
          assert(PlanAudit.cartesians(plan).isEmpty,
            s"$name plans a CartesianProduct — never acceptable:\n$plan")
          // PlanAudit.isScalarBnlj allows the scalar-join idiom (a
          // crossJoin against a 1-row groupless aggregate) ONLY when
          // the aggregate is the BUILD side
          if (PlanAudit.allPairsLoops(plan).nonEmpty &&
            !allPairsAllowlist.contains(name)) Some(name)
          else None
        }
        assert(offenders.isEmpty,
          s"non-scalar nested-loop joins outside the allowlist: $offenders")
      } finally graft.core.Caches.unpersistAll()
    }
  }

  test("perceptual-hash hamming pairs join on chunk equality, never all-pairs") {
    withStaticPlans {
      val fp = graft.ext.Multimodal.pngPerceptualHash(
        Tables.documents(spark, sfDir).select("doc_id"), "doc_id")
        .select("doc_id", "dhash")
      val df = Dedup.hammingPairs(fp, "doc_id", "dhash",
        nChunks = 4, chunkBits = 14, maxDist = 3)
      assert(allPairsJoins(df).isEmpty,
        "hamming pair join planned as all-pairs")
    }
  }
}
