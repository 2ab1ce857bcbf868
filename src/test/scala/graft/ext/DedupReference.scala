package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Reference formulations of the jaccard family's verify operators,
  * which specs pin [[Dedup]] against; not part of the engine surface.
  * They verify from a cached distinct shingle table instead of the
  * engine's one per-document shingle aggregate.
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
}
