package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Reference formulations of [[Dedup]]'s operators, which specs pin
  * the engine against; not part of the engine surface. The jaccard
  * family verifies from a cached distinct shingle table instead of
  * the engine's one per-document shingle aggregate; connected
  * components run as a DataFrame loop instead of the engine's RDD
  * loop.
  */
object DedupReference {

  /** Verify tail over a cached (id, sh60) shingle table: caches the
    * candidates, counts their distinct ids and approx-counts the
    * shingled docs (two jobs at build time), restricts the shingle
    * table to the candidate docs only when candidates cover less than
    * half of them, and scores the cached per-doc arrays with
    * [[Dedup.verifyJaccardArr]]. Scores are identical on both paths.
    */
  def verifyJaccard(sh: DataFrame, cands: DataFrame, id: String,
      threshold: Double, withInter: Boolean,
      containment: Boolean = false): DataFrame = {
    val candsC = graft.core.Caches.cached(cands)
    val candIds = candsC.select(col("id_a").as(id))
      .union(candsC.select(col("id_b").as(id))).distinct()
    val nCand = candIds.count()
    val nShDocs = sh.agg(approx_count_distinct(col(id)).as("n"))
      .head().getLong(0)
    val shC = if (nCand * 2 >= nShDocs) sh
      else graft.core.Caches.cached(sh.join(candIds, Seq(id)))
    val arr = graft.core.Caches.cached(
      shC.groupBy(id).agg(collect_list(col("sh60")).as("__shs"),
        count(lit(1)).as("n")))
    Dedup.verifyJaccardArr(arr, candsC, id, threshold, withInter, containment)
  }

  /** [[Dedup.ngramJaccardCapped]] over a cached shingle table. */
  def ngramJaccardCapped(df: DataFrame, id: String, text: String, k: Int,
      threshold: Double, maxDf: Int): DataFrame = {
    val sh = graft.core.Caches.cached(Dedup.shinglesHashed(df, id, text, k))
    verifyJaccard(sh, Dedup.dfCappedCandidates(sh, id, maxDf), id, threshold,
      withInter = true)
  }

  /** [[Dedup.containmentPairs]] over a cached shingle table. */
  def containmentPairs(df: DataFrame, id: String, text: String, k: Int,
      threshold: Double, maxDf: Int): DataFrame = {
    val sh = graft.core.Caches.cached(Dedup.shinglesHashed(df, id, text, k))
    verifyJaccard(sh, Dedup.dfCappedCandidates(sh, id, maxDf), id, threshold,
      withInter = true, containment = true)
  }

  /** [[Dedup.minHashLsh]] with its signatures aggregated from a cached
    * distinct shingle table, apart from the arrays the verify reads.
    */
  def minHashLsh(df: DataFrame, id: String, text: String, k: Int,
      numHashes: Int, bands: Int, threshold: Double): DataFrame = {
    val rows = numHashes / bands
    val sh = graft.core.Caches.cached(Dedup.shinglesHashed(df, id, text, k))
    val hex = md5(col("sh60").cast("string"))
    val shH = sh
      .withColumn("__h1", conv(substring(hex, 1, 15), 16, 10).cast("long"))
      .withColumn("__h2", conv(substring(hex, 16, 11), 16, 10).cast("long"))
    val sigAggs = (0 until numHashes).map(i =>
      min(col("__h1") + lit(i.toLong) * col("__h2")).as(s"sig_$i"))
    val sigs = shH.groupBy(id).agg(sigAggs.head, sigAggs.tail: _*)
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
    verifyJaccard(sh, cands, id, threshold, withInter = false)
  }

  /** Exact pairwise n-gram Jaccard via the inverted-index self-join
    * over EVERY shingle (a shingle shared by d docs yields d²/2
    * candidate rows): the quadratic baseline [[Dedup.ngramJaccardPrefix]]
    * must equal. Output: id_a < id_b, inter, jaccard (≥ threshold).
    */
  def ngramJaccard(df: DataFrame, id: String, text: String, k: Int,
      threshold: Double): DataFrame = {
    val sh = graft.core.Caches.cached(Dedup.shinglesHashed(df, id, text, k))
    val sizes = sh.groupBy(id).agg(count(lit(1)).as("n"))
    val pairs = sh.as("a")
      .join(sh.as("b"),
        col("a.sh60") === col("b.sh60") && col(s"a.$id") < col(s"b.$id"))
      .groupBy(col(s"a.$id").as("id_a"), col(s"b.$id").as("id_b"))
      .agg(count(lit(1)).as("inter"))
    pairs
      .join(sizes.withColumnRenamed(id, "id_a").withColumnRenamed("n", "na"), "id_a")
      .join(sizes.withColumnRenamed(id, "id_b").withColumnRenamed("n", "nb"), "id_b")
      .withColumn("jaccard",
        col("inter") * lit(1.0) / (col("na") + col("nb") - col("inter")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("inter"),
        round(col("jaccard"), 6).as("jaccard"))
  }

  /** [[Dedup.dupClusters]]' labels from a DataFrame loop: min-label
    * propagation with pointer doubling over the contracted edge table,
    * each round a neighbor-min aggregate, a hop self-join and a
    * localCheckpoint (the hop self-join doubles the logical plan per
    * round, so carrying lineage would make round k's analysis
    * O(2^k)). Round 0's neighbor-min is folded into the seed. Works
    * for any orderable key type. NULL endpoints drop out of the
    * equi-joins. Output: id, cluster_id, is_keeper.
    */
  def dupClustersSql(ids: DataFrame, pairs: DataFrame, id: String,
      maxIter: Int = 25): DataFrame = {
    val edges = graft.core.Caches.cached(
      pairs.select(col("id_a").as("src"), col("id_b").as("dst"))
        .union(pairs.select(col("id_b").as("src"), col("id_a").as("dst"))))
    val seedMin = edges.groupBy(col("dst").as("nid"))
      .agg(min(col("src")).as("__nlbl"))
    var labels = seedMin
      .select(col("nid"),
        least(col("nid"), col("__nlbl")).as("lbl"))
      .localCheckpoint(true)
    var converged = false
    var it = 0
    while (!converged && it < maxIter) {
      val cur = labels
      val nbrMin = edges.join(cur, edges("src") === cur("nid"))
        .groupBy(col("dst")).agg(min(col("lbl")).as("nlbl"))
      val hop = cur.select(col("lbl").as("hop_from"), col("nid"))
        .join(cur.select(col("nid").as("hop_from"), col("lbl").as("hlbl")),
          "hop_from")
        .select(col("nid"), col("hlbl"))
      val next = cur
        .join(nbrMin, cur("nid") === nbrMin("dst"), "left")
        .join(hop, "nid")
        .select(col("nid"),
          least(col("lbl"), coalesce(col("nlbl"), col("lbl")), col("hlbl")).as("lbl"),
          (least(col("lbl"), coalesce(col("nlbl"), col("lbl")), col("hlbl")) =!=
            col("lbl")).as("__chg"))
        .localCheckpoint(false)
      converged = next.filter(col("__chg")).count() == 0
      labels = next.drop("__chg")
      it += 1
    }
    require(converged, s"dupClustersSql did not converge in $maxIter rounds")
    ids.select(col(id).as("nid"))
      .join(labels.withColumnRenamed("lbl", "__lbl"), Seq("nid"), "left")
      .select(col("nid").as(id),
        coalesce(col("__lbl"), col("nid")).as("cluster_id"),
        (col("nid") === coalesce(col("__lbl"), col("nid"))).as("is_keeper"))
  }
}
