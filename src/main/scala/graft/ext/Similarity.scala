package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Embedding similarity search over `array<float>` columns. The dot
  * product is a codegen'd `aggregate(zip_with(...))` fold — no UDF.
  * Brute-force is the exactness baseline; the sign-LSH bucketed
  * variant is the scale path (bucket join instead of cross join).
  */
object Similarity {

  /** Σ aᵢ·bᵢ in double precision, sequential accumulation (matches
    * the oracle's list_sum(list_transform(...)) evaluation order).
    * Backed by the native codegen'd DotProduct expression registered
    * by GraftExtensions (sessions must set spark.sql.extensions=
    * graft.GraftExtensions — Sessions.local does) — the equivalent
    * higher-order-function fold runs interpreted closures per element;
    * the native loop lives inside whole-stage codegen.
    */
  def dot(a: Column, b: Column): Column = call_function("graft_dot", a, b)

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** Cosine with the undefined case pinned: a zero-norm side yields
    * −2.0 (strictly below every real cosine) instead of NaN, so a
    * desc-rank position never depends on an engine's NaN-ordering
    * convention. One definition for EVERY retriever scoring path
    * (brute/LSH/IVF/kNN) and semanticDedup, mirrored verbatim as
    * `CASE WHEN den > 0 THEN d/den ELSE -2.0 END` in the oracles.
    */
  def safeCosine(d: Column, den: Column): Column =
    when(den > 0, d / den).otherwise(lit(-2.0))

  /** Brute-force cosine top-k for each query vector (exact baseline;
    * O(|queries|·|corpus|) — broadcast the QUERIES side: the query set
    * is the small one by construction, while the corpus is the 100 TB
    * axis and must stay partitioned so every executor scans only its
    * corpus slice against the replicated queries).
    * `excludeSelf` skips candidates whose id equals the query id —
    * right when queries ⊆ corpus (the default self-search shape);
    * pass false for CROSS-pool search where an id collision between
    * two different tables is a legitimate candidate, not a self-pair.
    * Output: query_id, vec_id, cosine, rank (ties → smaller vec_id).
    */
  def bruteForceTopK(queries: DataFrame, corpus: DataFrame, id: String,
      vec: String, k: Int, excludeSelf: Boolean = true): DataFrame = {
    // norms are per-ROW, computed before the join — cosine inside the
    // pair loop would re-fold both arrays for every candidate pair
    val q = queries.select(col(id).as("query_id"), col(vec).as("__qv"),
      norm(col(vec)).as("__qn"))
    val c = corpus.select(col(id).as("vec_id"), col(vec).as("__cv"),
      norm(col(vec)).as("__cn"))
    val scored = broadcast(q).join(c,
      if (excludeSelf) col("query_id") =!= col("vec_id") else lit(true))
      .withColumn("cosine", safeCosine(dot(col("__qv"), col("__cv")), col("__qn") * col("__cn")))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cosine").desc, col("vec_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("vec_id"), round(col("cosine"), 6).as("cosine"),
        col("rank"))
  }

  /** Sign-LSH bucket: bit j = (vec[j] > 0) for the first `bitsUsed`
    * dimensions — axis-aligned random-hyperplane LSH, fully
    * deterministic and engine-portable.
    */
  def signBucket(vec: Column, bitsUsed: Int = 8): Column =
    (0 until bitsUsed).map(j =>
      when(element_at(vec, j + 1) > 0, lit(1L << j)).otherwise(0L)).reduce(_ + _)

  /** Approximate top-k: candidates restricted to the query's sign-LSH
    * bucket, then exact cosine rank within the bucket. At cluster
    * scale this is a shuffle on the bucket key instead of a cross
    * join; recall is traded via bitsUsed.
    * Output: query_id, vec_id, cosine, rank.
    */
  def lshTopK(queries: DataFrame, corpus: DataFrame, id: String, vec: String,
      k: Int, bitsUsed: Int = 8): DataFrame = {
    val q = queries.select(col(id).as("query_id"), col(vec).as("__qv"),
      norm(col(vec)).as("__qn"), signBucket(col(vec), bitsUsed).as("__bucket"))
    val c = corpus.select(col(id).as("vec_id"), col(vec).as("__cv"),
      norm(col(vec)).as("__cn"), signBucket(col(vec), bitsUsed).as("__bucket"))
    val scored = q.join(c, Seq("__bucket"))
      .filter(col("query_id") =!= col("vec_id"))
      .withColumn("cosine", safeCosine(dot(col("__qv"), col("__cv")), col("__qn") * col("__cn")))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cosine").desc, col("vec_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("vec_id"), round(col("cosine"), 6).as("cosine"),
        col("rank"))
  }

  /** Multi-probe sign-LSH top-k: the query probes its own bucket AND
    * every 1-bit-flip neighbor bucket (bitsUsed + 1 probes) — the
    * standard recall repair for bucketed ANN: a near neighbor that
    * disagrees on exactly one hyperplane sign is recovered without
    * raising bucket count or replicating the corpus. The corpus keeps
    * ONE row per vector (buckets partition it), so probing multiplies
    * only the query side — at cluster scale that is a bitsUsed+1-row
    * explosion of the small side feeding the same bucket equi-join.
    * Output: query_id, vec_id, cosine, rank.
    */
  def lshTopKMultiProbe(queries: DataFrame, corpus: DataFrame, id: String,
      vec: String, k: Int, bitsUsed: Int = 8,
      excludeSelf: Boolean = true): DataFrame = {
    val base = signBucket(col(vec), bitsUsed)
    val probes = array((base +: (0 until bitsUsed).map(j =>
      base.bitwiseXOR(lit(1L << j)))): _*)
    val q = queries.select(col(id).as("query_id"), col(vec).as("__qv"),
      norm(col(vec)).as("__qn"), explode(probes).as("__bucket"))
    val c = corpus.select(col(id).as("vec_id"), col(vec).as("__cv"),
      norm(col(vec)).as("__cn"), signBucket(col(vec), bitsUsed).as("__bucket"))
    val scored = q.join(c, Seq("__bucket"))
      .filter(if (excludeSelf) col("query_id") =!= col("vec_id") else lit(true))
      .withColumn("cosine", safeCosine(dot(col("__qv"), col("__cv")), col("__qn") * col("__cn")))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cosine").desc, col("vec_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("vec_id"), round(col("cosine"), 6).as("cosine"),
        col("rank"))
  }

  /** Retrieve-then-rerank — the two-stage ANN serving shape every
    * embedding search deploys: a cheap retriever over-fetches
    * `kRetrieve` candidates per query, then a heavier scorer re-ranks
    * ONLY those |queries|·kRetrieve pairs down to `kFinal` (the
    * cross-encoder slot; at 100 TB the expensive model never touches
    * the corpus axis, only the candidate table). Retrieval here is the
    * exact brute-force baseline so the contract is deterministic and
    * oracle-checkable; [[lshTopKMultiProbe]] drops in for the scale
    * path (same candidate schema). The container has no model runtime,
    * so the rerank scorer is a deterministic stand-in — retrieval
    * cosine blended with the strongest single-dimension interaction
    * (a late-interaction-style signal) — while the plumbing (candidate
    * join back to both vector sides, per-pair scoring, re-rank window)
    * is the real shape a model UDF would ride.
    * Output: query_id, vec_id, retrieval_cosine, rerank_score, rank.
    */
  def rerankTopK(queries: DataFrame, corpus: DataFrame, id: String,
      vec: String, kRetrieve: Int = 20, kFinal: Int = 5): DataFrame = {
    val cands = bruteForceTopK(queries, corpus, id, vec, kRetrieve)
      .select(col("query_id"), col("vec_id"),
        col("cosine").as("retrieval_cosine"))
    val q = queries.select(col(id).as("query_id"), col(vec).as("__qv"),
      norm(col(vec)).as("__qn"))
    val c = corpus.select(col(id).as("vec_id"), col(vec).as("__cv"),
      norm(col(vec)).as("__cn"))
    // queries stay broadcast, and the candidate table (k·|queries|
    // rows by construction) broadcasts against the corpus side — the
    // corpus is probed as a pure scan, never shuffled. Without the
    // hint, the candidates' size ESTIMATE inherits the brute-force
    // pair loop's |q|·|corpus| bound and static planning would
    // sort-merge-shuffle the whole corpus by vec_id.
    val paired = broadcast(cands.join(broadcast(q), Seq("query_id")))
      .join(c, Seq("vec_id"))
    val inter = safeCosine(array_max(zip_with(col("__qv"), col("__cv"),
      (a, b) => a.cast("double") * b.cast("double"))),
      col("__qn") * col("__cn"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("__score").desc, col("vec_id").asc)
    paired
      .withColumn("__score",
        col("retrieval_cosine") * 0.8 + inter * 0.2)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= kFinal)
      .select(col("query_id"), col("vec_id"), col("retrieval_cosine"),
        round(col("__score"), 6).as("rerank_score"), col("rank"))
  }

  /** IVF (inverted-file) approximate top-k: a k-means coarse
    * quantizer (the deterministic fixed-iteration [[lloyd]], trained
    * driver-side on a bounded id-ordered sample) assigns every corpus
    * vector to its nearest of `nlist` centroid cells; a query scans
    * only its `nprobe` closest cells. Assignment, probing and scoring
    * are pure projections against the (tiny, literal) centroid table
    * — the standard ANN shape at cluster scale, recall traded via
    * nlist/nprobe. Because the training trajectory is sequential IEEE
    * arithmetic, the ENTIRE chain including training is exact-hash
    * oracled (SimilarityQueries.lloydCtes replays the fit in unrolled SQL).
    * Output: query_id, vec_id, cosine, rank.
    */
  def ivfTopK(queries: DataFrame, corpus: DataFrame, id: String, vec: String,
      k: Int, nlist: Int = 16, nprobe: Int = 2,
      trainSample: Int = 100000, iters: Int = 10,
      excludeSelf: Boolean = true): DataFrame = {
    // Deterministic training set: orderBy(id) before limit — a bare
    // limit over a multi-partition scan is not a stable sample, so the
    // quantizer could vary run to run. The Lloyd fit runs DRIVER-side
    // on the bounded collected sample (the trainPq rationale: k·iters
    // MLlib jobs on a tiny sample are pure scheduling overhead), and
    // — because [[lloyd]]'s whole trajectory is deterministic
    // sequential IEEE arithmetic — the DuckDB oracle replays training
    // iteration by iteration, making the IVF chain exact-hash
    // checkable end to end.
    val sample = corpus
      .orderBy(col(id))
      .limit(trainSample)
      .select(col(vec).cast("array<double>"))
      .collect().map(_.getSeq[Double](0).toArray)
    val cents = lloyd(sample, nlist, iters)
    // Cell assignment is a pure projection (no broadcast join, no
    // per-row window sort over the corpus) through the NATIVE
    // NearestCells kernel — the declarative HOF twin below it is
    // spec-pinned equal; the corpus leg pays this per row, and at
    // cluster scale nlist grows with the corpus, so the interpreted
    // per-centroid fold was the serving path's scale term.
    val corpusCells = corpus
      .withColumn("cell", element_at(nearCells(cents, col(vec), 1), 1))
      .select(col(id).as("vec_id"), col(vec).as("__cv"),
        norm(col(vec)).as("__cn"), col("cell"))
    val queryCells = queries
      .withColumn("cell", explode(nearCells(cents, col(vec), nprobe)))
      .select(col(id).as("query_id"), col(vec).as("__qv"),
        norm(col(vec)).as("__qn"), col("cell"))
    val scored = queryCells.join(corpusCells, Seq("cell"))
      .filter(if (excludeSelf) col("query_id") =!= col("vec_id") else lit(true))
      .withColumn("cosine", safeCosine(dot(col("__qv"), col("__cv")), col("__qn") * col("__cn")))
    val wRank = Window.partitionBy("query_id")
      .orderBy(col("cosine").desc, col("vec_id").asc)
    scored.withColumn("rank", row_number().over(wRank))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("vec_id"), round(col("cosine"), 6).as("cosine"),
        col("rank"))
  }

  /** Nearest-`keep` coarse cells (ascending squared L2, ties to the
    * lower cell id) as an `array<int>` column — the native
    * [[graft.functions.NearestCells]] kernel.
    */
  private def nearCells(cents: Array[Array[Double]], vecCol: Column,
      keep: Int): Column =
    org.apache.spark.sql.graftbridge.Columns.of(
      graft.functions.NearestCells(
        org.apache.spark.sql.graftbridge.Columns.expr(vecCol), cents, keep))

  /** Test-visible alias of the native [[nearCells]] (the method
    * itself stays private so callers go through [[ivfTopK]]).
    */
  private[graft] def nearCellsTest(cents: Array[Array[Double]],
      vecCol: Column, keep: Int): Column = nearCells(cents, vecCol, keep)

  /** The declarative HOF twin of [[nearCells]] — per centroid the
    * sequential squared-difference fold inside transform →
    * array_sort → slice, cells projected out. Spec-pinned equal to
    * the native kernel (the assignCellsHof discipline); interpreted
    * per-centroid lambdas, so nothing ships on it.
    */
  private[graft] def nearCellsHof(cents: Array[Array[Double]],
      vecCol: Column, keep: Int): Column = {
    val centArr = array(cents.zipWithIndex.map { case (c, i) =>
      struct(lit(i).as("cell"), typedLit(c.toSeq).as("cent"))
    }: _*)
    def dist2(a: Column, b: Column): Column =
      aggregate(zip_with(a, b, (x, y) =>
        (x.cast("double") - y.cast("double")) * (x.cast("double") - y.cast("double"))),
        lit(0.0), (acc, v) => acc + v)
    transform(slice(array_sort(transform(centArr, ct =>
      struct(dist2(vecCol, ct.getField("cent")).as("d2"),
        ct.getField("cell").as("cell")))), 1, keep),
      st => st.getField("cell"))
  }

  /** Product-quantization codebooks: `m` subspaces × `ksub` centroids
    * each (trained per subspace with the deterministic driver-side Lloyd on a
    * bounded, deterministic sample). codebooks(j)(c) is the centroid
    * c of subspace j, of length dim/m.
    */
  final case class PqModel(m: Int, dsub: Int, codebooks: Array[Array[Array[Double]]])

  /** Train PQ codebooks on (L2-normalized) corpus vectors. The
    * training set is BOUNDED (`trainSample` rows, deterministic
    * id-ordered prefix) regardless of corpus size, so the m Lloyd
    * fits run driver-side on the collected sample — m × iters MLlib
    * fits on a tiny sample would cost hundreds of Spark jobs of pure
    * scheduling overhead (measured: 24 s → sub-second). Everything
    * downstream is a projection over the tiny literal codebooks.
    */
  def trainPq(corpus: DataFrame, vec: String, m: Int = 8, ksub: Int = 16,
      trainSample: Int = 100000, iters: Int = 10,
      idCol: String = "vec_id"): PqModel = {
    val dim = corpus.select(size(col(vec))).head().getInt(0)
    require(dim % m == 0, s"m=$m must divide dim=$dim")
    val dsub = dim / m
    val sample = corpus.orderBy(col(idCol)).limit(trainSample)
      .select(normalized(col(vec)).as("__u")).collect()
      .map(_.getSeq[Double](0).toArray)
    val books = (0 until m).map { j =>
      val sub = sample.map(u => java.util.Arrays.copyOfRange(u, j * dsub, (j + 1) * dsub))
      lloyd(sub, ksub, iters)
    }.toArray
    PqModel(m, dsub, books)
  }

  /** Deterministic Lloyd's k-means on a driver-side sample: the
    * initial centroids are the FIRST k sample points (the sample is
    * already a deterministic id-ordered prefix — an RNG-shuffled init
    * would bar any cross-engine replay); ties in the argmin go to the
    * lower cell index; empty clusters keep their previous centroid.
    * Every accumulation is a sequential left fold in sample/dim
    * order and every division a single correctly-rounded IEEE op, so
    * an oracle can replay the whole trajectory bit for bit.
    * O(n·k·d·iters) — microseconds-to-ms at any bounded sample size.
    */
  private def lloyd(points: Array[Array[Double]], k: Int,
      iters: Int): Array[Array[Double]] = {
    require(points.nonEmpty, "empty training sample")
    val d = points.head.length
    // k truncates to the sample size — wrapping init (duplicate
    // centroids that tie forever) would silently diverge from the
    // oracle's `WHERE ord <= k` truncation on tiny corpora
    val kEff = math.min(k, points.length)
    val cents = Array.tabulate(kEff)(i => points(i).clone())
    val sums = Array.ofDim[Double](kEff, d)
    val counts = new Array[Int](kEff)
    var it = 0
    while (it < iters) {
      java.util.Arrays.fill(counts, 0)
      sums.foreach(java.util.Arrays.fill(_, 0.0))
      points.foreach { p =>
        var best = 0; var bestD = Double.MaxValue
        var c = 0
        while (c < kEff) {
          var s = 0.0; var i = 0
          while (i < d) { val t = p(i) - cents(c)(i); s += t * t; i += 1 }
          if (s < bestD) { bestD = s; best = c }
          c += 1
        }
        var i = 0
        while (i < d) { sums(best)(i) += p(i); i += 1 }
        counts(best) += 1
      }
      var c = 0
      while (c < kEff) {
        if (counts(c) > 0) {
          var i = 0
          while (i < d) { cents(c)(i) = sums(c)(i) / counts(c); i += 1 }
        }
        c += 1
      }
      it += 1
    }
    cents
  }

  private def normalized(v: Column): Column = {
    val n = sqrt(call_function("graft_dot", v, v))
    transform(v, x => x.cast("double") / n)
  }

  /** Deterministic Rademacher (±1) sign matrix for random projection
    * (Achlioptas, "Database-friendly random projections", JCSS 66(4),
    * 2003: ±1 entries satisfy the Johnson-Lindenstrauss lemma like
    * Gaussians do, with exact integer-friendly arithmetic): sign(k,j)
    * = +1 iff the 60-bit md5 hash of "k:j" is even. Computed ONCE
    * driver-side and baked as literals into both the Spark plan and
    * the oracle SQL — no RNG state, reruns and engines agree exactly.
    */
  def rprojSigns(inDims: Int, outDims: Int): IndexedSeq[IndexedSeq[Double]] = {
    require(inDims > 0 && outDims > 0 && outDims <= inDims,
      s"need 0 < outDims <= inDims: $inDims -> $outDims")
    val md = java.security.MessageDigest.getInstance("MD5")
    (0 until outDims).map(k => (0 until inDims).map { j =>
      val hex = md.digest(s"$k:$j".getBytes("UTF-8"))
        .map(b => f"$b%02x").mkString.take(15)
      if ((java.lang.Long.parseLong(hex, 16) & 1L) == 0L) 1.0 else -1.0
    })
  }

  /** Johnson-Lindenstrauss random projection of the embedding column
    * to `signs.length` dimensions: y_k = Σ_j sign(k,j)·x_j, each
    * output dim one codegen'd graft_dot against a literal ±1 vector.
    * Multiplying by ±1.0 is EXACT in IEEE, so y_k is the same
    * left-to-right fold the DuckDB oracle's list_sum computes —
    * bit-identical cross-engine, no rounding column needed.
    *
    * Scale shape: a pure per-row projection (zero shuffles) that
    * shrinks every downstream shuffle/broadcast of the vector column
    * by inDims/outDims (64→16 = 4×) — the standard first move before
    * brute-force candidate generation at corpus scale. Adds `proj`
    * (array<double>, length outDims).
    */
  def randomProject(df: DataFrame, vec: String,
      signs: IndexedSeq[IndexedSeq[Double]]): DataFrame =
    df.withColumn("proj", array(signs.map(sv =>
      call_function("graft_dot", col(vec), typedLit(sv.toSeq))): _*))

  /** Brute-force cosine top-k in PROJECTED space: project both sides
    * (map-side, no shuffle), then [[bruteForceTopK]] over the short
    * vectors — the JL-shortlist retriever (rank by projected cosine,
    * optionally rerank the shortlist with true cosine via [[rerank]]).
    * Same output contract as bruteForceTopK.
    */
  def rprojTopK(queries: DataFrame, corpus: DataFrame, id: String,
      vec: String, k: Int, signs: IndexedSeq[IndexedSeq[Double]],
      excludeSelf: Boolean = true): DataFrame =
    bruteForceTopK(
      randomProject(queries, vec, signs).select(col(id), col("proj")),
      randomProject(corpus, vec, signs).select(col(id), col("proj")),
      id, "proj", k, excludeSelf)

  /** Stage unit vector + per-subspace slices as real columns:
    * `transform`/`slice` are not collapse-cheap, so Catalyst keeps
    * these Projects separate and each value is computed ONCE per row
    * — inlining them into the m × ksub centroid scores re-evaluated
    * the normalization per score (measured as the dominant PQ cost).
    */
  private def withSubvectors(df: DataFrame, vec: String, m: Int,
      dsub: Int): DataFrame = {
    val nrm = sqrt(call_function("graft_dot", col(vec), col(vec)))
    df.withColumn("__nrm", nrm)
      .withColumn("__unit", transform(col(vec), x => x.cast("double") / col("__nrm")))
      .withColumn("__subs", array((0 until m).map(j =>
        slice(col("__unit"), j * dsub + 1, dsub)): _*))
  }

  /** ‖c‖² − 2·a·c — the argmin-equivalent expansion of ‖a−c‖² (the
    * per-row ‖a‖² term is constant across centroids). The dot runs
    * through the native codegen'd graft_dot kernel: the naive
    * aggregate(zip_with(...)) square-difference fold evaluated
    * interpreted closures per element and dominated encode time
    * (measured ~10× slower end to end). The centroid is ONE array
    * Literal (typedLit), not a CreateArray of dsub scalar literals —
    * the m·ksub centroid references otherwise exploded the expression
    * tree dsub-fold, bloating analysis, codegen and every plan dump
    * (the BENCH_r12 tail died mid-print of exactly this tabulation).
    */
  private def centScore(a: Column, cent: Array[Double]): Column =
    lit(cent.map(x => x * x).sum) -
      lit(2.0) * call_function("graft_dot", a, typedLit(cent.toSeq))

  /** Encode each vector as `m` codebook indices (nearest sub-centroid
    * per subspace) — a pure projection against literal centroids, the
    * same no-join shape as the IVF cell assignment. Output: input
    * columns + `pq_codes: array<int>` (m entries in [0, ksub)).
    */
  def encodePq(df: DataFrame, vec: String, model: PqModel): DataFrame = {
    // fan an under-split corpus scan out before the m×ksub scoring
    // projection (guide §2.5): the encode is the PQ path's per-row
    // cost and otherwise runs on the scan's single split. Identity at
    // cluster scale (round-robin of raw rows, not a keyed corpus
    // shuffle — the serving joins above stay broadcast-driven).
    val staged = withSubvectors(graft.core.FanOut(df), vec, model.m, model.dsub)
    val codes = (0 until model.m).map { j =>
      val sub = element_at(col("__subs"), j + 1)
      val scored = array(model.codebooks(j).zipWithIndex.map { case (c, ci) =>
        struct(centScore(sub, c).as("d2"), lit(ci).as("code"))
      }: _*)
      element_at(array_sort(scored), 1).getField("code")
    }
    staged.withColumn("pq_codes", array(codes: _*))
      .drop("__nrm", "__unit", "__subs")
  }

  /** PQ top-k by asymmetric distance computation (ADC): per query,
    * the m × ksub table of exact partial squared distances from the
    * query's subvectors to every sub-centroid becomes a literal-free
    * COLUMN (array of per-subspace lookup arrays computed query-side);
    * a corpus candidate's approximate L2² is m table lookups instead
    * of dim multiplications, over codes 4-16× smaller than the float
    * vectors — the memory/bandwidth shape that makes billion-vector
    * scans feasible. Vectors are L2-normalized first, so L2 rank ≡
    * cosine rank. The (small) query side with its tables broadcasts;
    * the corpus streams its codes. Output: query_id, vec_id, adist
    * (approx L2², rounded), rank.
    */
  def pqTopK(queries: DataFrame, corpus: DataFrame, id: String, vec: String,
      k: Int, model: PqModel): DataFrame = {
    // per-query ADC tables: array(m) of array(ksub) partial distances;
    // each entry is ‖c‖² − 2 q_j·c, so Σ lookups + ‖q‖² (= 1 for unit
    // queries, added below) is the true approximate L2²
    val tables = array((0 until model.m).map { j =>
      val qsub = element_at(col("__subs"), j + 1)
      array(model.codebooks(j).map(c => centScore(qsub, c)): _*)
    }: _*)
    val q = withSubvectors(queries, vec, model.m, model.dsub)
      .select(col(id).as("query_id"), tables.as("__tab"))
    val c = encodePq(corpus, vec, model)
      .select(col(id).as("vec_id"), col("pq_codes"))
    val adist = aggregate(
      zip_with(col("pq_codes"), col("__tab"),
        (code, tab) => element_at(tab, code + 1)),
      lit(1.0), (acc, v) => acc + v) // seed 1.0 = ‖q‖² of the unit query
    val scored = broadcast(q).join(c, col("query_id") =!= col("vec_id"))
      .withColumn("adist", adist)
    val w = Window.partitionBy("query_id")
      .orderBy(col("adist").asc, col("vec_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("vec_id"), round(col("adist"), 6).as("adist"),
        col("rank"))
  }

  /** Per-vector symmetric int8 quantization — the storage scale path
    * for embedding corpora (4x smaller than float32, 8x than float64):
    * scale = 127 / max|vᵢ|, qᵢ = round(vᵢ·scale) ∈ [−127, 127], plus
    * the reconstruction MSE of q/scale against the original. All
    * element folds are sequential (same evaluation order in any
    * engine), so the output is deterministic and oracle-checkable.
    * Output: id, scale, q (array<int>), mse.
    */
  def quantizeInt8(df: DataFrame, id: String, vec: String): DataFrame = {
    val v = col(vec)
    val maxAbs = aggregate(v, lit(0.0), (acc, x) =>
      when(abs(x.cast("double")) > acc, abs(x.cast("double"))).otherwise(acc))
    val scale = when(col("__maxabs") > 0, lit(127.0) / col("__maxabs"))
    val q = transform(v, x =>
      round(x.cast("double") * col("__scale")).cast("int"))
    val err = aggregate(zip_with(v, col("__q"), (x, qi) => {
      val r = qi.cast("double") / col("__scale")
      (x.cast("double") - r) * (x.cast("double") - r)
    }), lit(0.0), (acc, e) => acc + e) / size(v)
    df.withColumn("__maxabs", maxAbs)
      .withColumn("__scale", scale)
      .withColumn("__q", q)
      .select(col(id), round(col("__scale"), 6).as("scale"),
        col("__q").as("q"), round(err, 9).as("mse"))
  }

  /** Near-duplicate pairs by cosine ≥ threshold. With bucketBits > 0
    * candidates are restricted to the same sign-LSH bucket — an
    * equi-join on the bucket key instead of an O(n²) cross join, the
    * only shape that survives at cluster scale (recall is traded via
    * bucketBits; 0 = exact brute force).
    * Output: id_a < id_b, cosine.
    */
  def cosinePairs(df: DataFrame, id: String, vec: String,
      threshold: Double, bucketBits: Int = 0): DataFrame = {
    val a = df.select(col(id).as("id_a"), col(vec).as("__va"),
      norm(col(vec)).as("__na"),
      signBucket(col(vec), math.max(bucketBits, 1)).as("__bucket"))
    val b = df.select(col(id).as("id_b"), col(vec).as("__vb"),
      norm(col(vec)).as("__nb"),
      signBucket(col(vec), math.max(bucketBits, 1)).as("__bucket"))
    val joined =
      if (bucketBits > 0)
        a.join(b, a("__bucket") === b("__bucket") && col("id_a") < col("id_b"))
      else a.join(b, col("id_a") < col("id_b"))
    joined
      .withColumn("cosine", safeCosine(dot(col("__va"), col("__vb")), col("__na") * col("__nb")))
      .filter(col("cosine") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("cosine"), 6).as("cosine"))
  }

  /** SemDeDup-style embedding-cluster dedup: cluster the corpus by
    * nearest centroid, then prune within each cluster — a document is
    * a semantic duplicate if an earlier (smaller-id) document in the
    * SAME cluster has cosine ≥ `tau`. Pairwise comparison never leaves
    * a cluster, so the candidate volume is Σ|cell|² instead of n² —
    * the shape that makes embedding dedup feasible at corpus scale
    * (SemDeDup, Abbas et al. 2023: clusters are sized so |cell| stays
    * bounded as k grows with n).
    *
    * Centroids are PINNED deterministically — the `nSeeds` smallest-id
    * vectors — so assignment (argmax cosine, ties → smaller seed id)
    * is a pure closed-form projection both engines replay exactly:
    * this is the closed-form member of the family (the Lloyd-trained
    * IVF quantizer in [[ivfTopK]] drops in for trained centroids —
    * itself exact-hash oracled via training replay). The seed collect is
    * bounded (nSeeds rows) and mirrors the IVF literal-centroid
    * pattern; at cluster scale a large centroid table becomes a
    * broadcast join with the identical plan downstream.
    *
    * Shape audit: assignment = two-level projection against the
    * literal seeds (zero shuffle, O(√k) per row — see [[assignCells]];
    * the r12/r13 flat form paid O(k) per row, quadratic on the k ∝ n
    * axis); within-cell pairs = one self-equi-join shuffled
    * by cell; the dup-edge reduction and the final id join are
    * |pairs|- and n-sized exchanges. Nothing is ever all-pairs.
    *
    * Determinism: cosines are identically-shaped IEEE folds on the
    * same float32 inputs in both engines (the green q_embed_pairs /
    * q_ann_brute contract), so the argmax and the τ threshold compare
    * bit-agree; ties break on integer seed/doc ids. A ZERO-NORM vector
    * (all-zero embedding) would make the cosine NaN — and the two
    * engines order NaN differently in the argmax (Spark's array_sort
    * puts NaN last; DuckDB's ORDER BY DESC puts it first), so the
    * undefined cosine is pinned to −2.0 (below any real cosine) on
    * BOTH sides: a zero-norm vector deterministically lands in the
    * smallest seed's cell and never forms a τ-pair.
    * Output: one row per input — id, cell (seed id), dup_of (smallest
    * earlier same-cell id with cosine ≥ τ; NULL for keepers), keep.
    */
  /** Pinned-seed cell assignment — the quantizer shared by
    * [[semanticDedup]] and [[clusterBalancedSample]]: seeds = the
    * nSeeds smallest-id vectors (bounded, deterministic collect — the
    * trainPq/ivfTopK sampling contract), every vector assigned by a
    * TWO-LEVEL (IVF-style) argmax-cosine: first to its nearest of the
    * nCoarse smallest-id seeds (the coarse quantizer), then to its
    * nearest seed among the seeds whose own coarse cell is that one.
    * With the default nCoarse = ⌈√nSeeds⌉ the per-row assignment work
    * is O(√k + E|group|) ≈ O(√k) instead of the flat quantizer's O(k)
    * — the term that was quadratic on the SemDeDup k ∝ n axis (seeds
    * grow with the corpus to keep E|cell| constant). Both levels are
    * pure projections: per candidate struct(-cos, seed_id),
    * array_sort, head — double negation is exact, so ascending -cos ≡
    * descending cos, ties to the smaller seed id; the fine level is a
    * literal map lookup coarse_id → its seed group. Coarse seeds
    * group to THEMSELVES (not their argmax), which guarantees every
    * coarse cell owns at least one fine seed, making the map lookup
    * total. The seed→coarse grouping runs driver-side on the (already
    * collected, bounded) seed rows with the same sequential IEEE fold
    * as graft_dot and the oracle's list_sum — bit-replayable.
    * nCoarse ≥ nSeeds (e.g. tiny fixtures) degenerates to the flat
    * single-level argmax exactly. Zero-norm guard: the shared
    * [[safeCosine]] pin (-2.0) so the NaN ordering divergence between
    * engines can never decide a cell — a zero-norm vector lands in
    * the smallest coarse seed's smallest fine cell.
    * Output: id, __v (the vector), __n (its norm), cell.
    */
  def assignCells(df: DataFrame, id: String, vec: String,
      nSeeds: Int, nCoarse: Int = 0): DataFrame =
    assignCellsImpl(df, id, vec, nSeeds, nCoarse, native = true)

  /** The declarative higher-order-function twin of [[assignCells]] —
    * per candidate struct(−safeCosine, seed_id) inside transform →
    * array_min, coarse then fine (literal map lookup by coarse id).
    * Kept as the spec-pinned reference implementation for the native
    * [[graft.functions.NearestSeedCell]] kernel (the dupClustersRdd /
    * dupClustersSql twin discipline); ~40× slower per row at bench
    * candidate counts, so nothing ships on it.
    */
  private[graft] def assignCellsHof(df: DataFrame, id: String, vec: String,
      nSeeds: Int, nCoarse: Int = 0): DataFrame =
    assignCellsImpl(df, id, vec, nSeeds, nCoarse, native = false)

  private def assignCellsImpl(df: DataFrame, id: String, vec: String,
      nSeeds: Int, nCoarse: Int, native: Boolean): DataFrame = {
    val seeds: Array[(Long, Array[Float])] = df.orderBy(col(id))
      .limit(nSeeds)
      .select(col(id).cast("long"), col(vec)).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray)).sortBy(_._1)
    require(seeds.nonEmpty,
      s"assignCells: no seeds (nSeeds=$nSeeds over an empty input?) — " +
        "every vector needs at least one candidate cell")
    val nc = math.min(seeds.length,
      if (nCoarse > 0) nCoarse
      else math.ceil(math.sqrt(seeds.length.toDouble)).toInt)
    val coarse = seeds.take(nc)
    // driver-side mirrors of graft_dot / the oracle's list_sum: the
    // identical sequential left fold (float→double casts are exact,
    // one correctly-rounded op per step) so the grouping both engines
    // derive independently is the same grouping
    def dotD(a: Array[Float], b: Array[Float]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i).toDouble * b(i).toDouble; i += 1 }
      s
    }
    def normD(a: Array[Float]): Double = math.sqrt(dotD(a, a))
    val coarseNorm = coarse.map(c => normD(c._2))
    def coarseOf(v: Array[Float]): Long = {
      val nv = normD(v)
      var bestId = coarse(0)._1
      var bestCos = Double.NegativeInfinity
      var i = 0
      while (i < nc) {
        val den = nv * coarseNorm(i)
        // length mismatch pinned to -2.0 like every other undefined
        // case (the kernel's cosOf and the coalesced HOF twin agree) —
        // and dotD must not be reached with ragged arrays at all
        val c =
          if (v.length != coarse(i)._2.length || !(den > 0)) -2.0
          else dotD(v, coarse(i)._2) / den
        // strict > over ascending ids ≡ ORDER BY cos DESC, id ASC
        if (c > bestCos) { bestCos = c; bestId = coarse(i)._1 }
        i += 1
      }
      bestId
    }
    // groups in ascending coarse-id order, members ascending by seed
    // id (groupBy preserves encounter order of the sorted seeds) —
    // the id-ascending layout is what makes position-order ties in
    // the native kernel identical to the HOF struct-min's id ties
    val groups: Seq[(Long, Array[(Long, Array[Float])])] =
      seeds.zipWithIndex
        .map { case ((sid, sv), i) =>
          (if (i < nc) sid else coarseOf(sv)) -> ((sid, sv))
        }
        .groupBy(_._1).view.mapValues(_.map(_._2)).toSeq.sortBy(_._1)
    val base = df.select(col(id), col(vec).as("__v"),
      norm(col(vec)).as("__n"))
    if (native) {
      // groups re-keyed by coarse POSITION for the native kernel
      val groupByCid = groups.toMap
      val fineByPos = coarse.map { case (cid, _) => groupByCid(cid) }
      val cellExpr = graft.functions.NearestSeedCell(
        org.apache.spark.sql.graftbridge.Columns.expr(col("__v")),
        org.apache.spark.sql.graftbridge.Columns.expr(col("__n")),
        coarse.map(_._2), coarseNorm,
        fineByPos.map(_.map(_._1)), fineByPos.map(_.map(_._2)),
        fineByPos.map(_.map(s => normD(s._2))))
      base.withColumn("cell",
        org.apache.spark.sql.graftbridge.Columns.of(cellExpr))
    } else {
      // seed norms baked into the literal structs (halves the
      // per-candidate fold work vs re-deriving norm(sv) per row); the
      // argmax is array_min over (negcos, seed_id) structs — the same
      // lexicographic ordering array_sort(...)[1] selects, in one
      // O(c) pass instead of an O(c log c) sort per row.
      def seedStruct(sid: Long, sv: Array[Float]): Column =
        struct(lit(sid).as("seed_id"), typedLit(sv.toSeq).as("sv"),
          lit(normD(sv)).as("snrm"))
      // negcos coalesced to 2.0 (cos −2.0): a NULL dot — reachable
      // only through a ragged (length-mismatched) or null vector —
      // must LOSE against every real candidate, as it does in the
      // native kernel (cosOf → −2.0) and in the oracle (DuckDB sorts
      // NULL cos0 last under DESC). Without the coalesce, Spark's
      // struct order puts the NULL field FIRST and the bad seed WINS.
      def argmaxCell(candidates: Column): Column =
        array_min(transform(candidates, st =>
          struct(coalesce(
            lit(0d) - safeCosine(dot(col("__v"), st.getField("sv")),
              col("__n") * st.getField("snrm")), lit(2.0)).as("negcos"),
            st.getField("seed_id").as("seed_id")))).getField("seed_id")
      val coarseArr = array(coarse.map { case (cid, cv) => seedStruct(cid, cv) }: _*)
      val groupMap = map(groups.flatMap { case (cid, ss) =>
        Seq(lit(cid), array(ss.map { case (sid, sv) => seedStruct(sid, sv) }: _*))
      }: _*)
      base.withColumn("cell",
        argmaxCell(element_at(groupMap, argmaxCell(coarseArr))))
    }
  }

  def semanticDedup(df: DataFrame, id: String, vec: String,
      nSeeds: Int = 16, tau: Double = 0.35, nCoarse: Int = 0): DataFrame = {
    // The assignment is MATERIALIZED before the self-join: the plan
    // consumes it three times (both pair legs + the final left join),
    // and without a boundary Catalyst re-evaluates the argmax
    // expression on every leg AND duplicates it into the join-key
    // null-prune filters (isnotnull(<whole argmax>)) — measured 198 s
    // vs 16 s at the 64k-row/512-seed bench shape. At cluster scale
    // this materialization is the SemDeDup recipe itself (assignments
    // are persisted between the clustering and pruning stages); the
    // cached row is (id, vec, norm, cell) — one corpus pass, reused
    // threefold.
    val assigned = graft.core.Caches.persisted(
      assignCells(df, id, vec, nSeeds, nCoarse))
    val a = assigned.select(col(id).as("id_a"), col("__v").as("__va"),
      col("__n").as("__na"), col("cell"))
    val b = assigned.select(col(id).as("id_b"), col("__v").as("__vb"),
      col("__n").as("__nb"), col("cell"))
    val dupEdges = a.join(b, Seq("cell"))
      .filter(col("id_a") < col("id_b"))
      .filter(safeCosine(dot(col("__va"), col("__vb")),
        col("__na") * col("__nb")) >= tau)
      .groupBy(col("id_b")).agg(min(col("id_a")).as("dup_of"))
    assigned.join(dupEdges, col(id) === col("id_b"), "left")
      .select(col(id), col("cell"), col("dup_of"),
        col("dup_of").isNull.as("keep"))
  }

  /** Recall companion for [[semanticDedup]] (the q_ann_ivf_recall
    * pattern, but fully oracled — both counts are exact relational
    * facts): n_true = ALL τ-pairs by brute force (the declared bounded
    * baseline, test-SF only), n_caught = τ-pairs whose endpoints share
    * a cell. recall_ok compares in exact integer cross-multiplication
    * (n_caught·100 ≥ n_true·minPct) — no float ratio near a rounding
    * midpoint. Output: 1 row — n_true, n_caught, recall_ok.
    */
  def semanticDedupRecall(df: DataFrame, id: String, vec: String,
      nSeeds: Int = 16, tau: Double = 0.35, minPct: Int = 10,
      nCoarse: Int = 0): DataFrame = {
    val cells = semanticDedup(df, id, vec, nSeeds, tau, nCoarse)
      .select(col(id), col("cell"))
    val truePairs = cosinePairs(df, id, vec, tau, bucketBits = 0)
      .select(col("id_a"), col("id_b"))
    val ca = cells.select(col(id).as("id_a"), col("cell").as("__cella"))
    val cb = cells.select(col(id).as("id_b"), col("cell").as("__cellb"))
    truePairs.join(ca, "id_a").join(cb, "id_b")
      .agg(count(lit(1)).as("n_true"),
        coalesce(sum(when(col("__cella") === col("__cellb"), 1L)
          .otherwise(0L)), lit(0L)).as("n_caught"))
      .select(col("n_true"), col("n_caught"),
        (col("n_caught") * 100 >= col("n_true") * minPct).as("recall_ok"))
  }

  /** Cluster-balanced diversity sampling — the D4 recipe (Tirumala
    * et al., "D4: Improving LLM Pretraining via Document
    * De-Duplication and Diversification", NeurIPS 2023): cluster the
    * corpus in embedding space, then sample per cluster so
    * over-represented regions (boilerplate-heavy domains, template
    * families) cannot dominate the training mix. Assignment is the
    * pinned-seed argmax-cosine quantizer ([[assignCells]] — a pure
    * broadcast projection, no shuffle); the per-cell keep is k by
    * deterministic hash rank ([[Sampling.prioritySamplePerStratum]]
    * with unit weights = uniform without-replacement per cell), which
    * plans as WindowGroupLimit — a k-sized heap per cell per task, no
    * cell ever materialized whole. Output: id, cell, sample_rank.
    */
  def clusterBalancedSample(df: DataFrame, id: String, vec: String,
      nSeeds: Int = 16, k: Int = 10, nCoarse: Int = 0): DataFrame =
    Sampling.prioritySamplePerStratum(
      assignCells(df, id, vec, nSeeds, nCoarse).select(col(id), col("cell")),
      id, "cell", lit(1L), k)
      .select(col(id), col("stratum").as("cell"), col("sample_rank"))

  /** Margin-based nearest-neighbor pair mining — the ratio-margin
    * criterion of Artetxe & Schwenk 2019 ("Margin-based Parallel
    * Corpus Mining"), the standard hubness-robust selector for bitext
    * / cross-corpus pair mining: raw cosine top-1 over-selects hub
    * vectors that are near EVERYTHING, so each candidate pair (x, y)
    * is scored by its cosine relative to both endpoints' neighborhood
    * densities, margin(x,y) = cos(x,y) /
    * ((Σ_{z∈NNk(x)} cos + Σ_{z∈NNk(y)} cos) / 2k),
    * and each source keeps its best-margin candidate iff margin ≥
    * `minMargin`.
    *
    * Retrieval is PLUGGABLE (`retrieve`): the default is the exact
    * brute-force baseline (the declared [[bruteForceTopK]] contract —
    * test-SF exactness so the oracle replays every stage); at corpus
    * scale pass [[lshRetriever]] / an [[ivfTopK]] closure for both
    * directions (same candidate schema: query_id, vec_id, cosine,
    * rank). The margin stage itself only ever
    * touches |src|·k candidate rows joined to two id-keyed
    * neighborhood-sum tables — never a pair matrix. With bucketed
    * retrieval a target that retrieves no backward candidates has no
    * neighborhood sum, so its forward candidates drop at the inner
    * join — the defined (and oracle-replayed) recall trade.
    *
    * Determinism: candidate ranks ride raw bit-identical cosines;
    * the 6-dp-rounded cosines then make every sum a DECIMAL(38,6)
    * exact fold, the denominator converts to double once, and the
    * margin is a de-gridded quotient (grid-constructed inputs, safe
    * to round at 6 dp; threshold and rank compares act on
    * bit-identical doubles).
    * Output: src_id, tgt_id, cosine (6 dp), margin (6 dp) — one row
    * per source whose best candidate clears the margin.
    */
  def marginMine(src: DataFrame, tgt: DataFrame, id: String, vec: String,
      k: Int = 4, minMargin: Double = 1.0,
      retrieve: (DataFrame, DataFrame, String, String, Int) => DataFrame =
        bruteRetriever): DataFrame = {
    def sumK(topk: DataFrame, key: String) = topk
      .groupBy(col(key))
      .agg(sum(col("cosine").cast("decimal(38,6)")).as("__sumk"))
    val fwd = retrieve(src, tgt, id, vec, k)
    val bwd = retrieve(tgt, src, id, vec, k)
    val sumX = sumK(fwd, "query_id")
      .select(col("query_id"), col("__sumk").as("__sx"))
    val sumY = sumK(bwd, "query_id")
      .select(col("query_id").as("vec_id"), col("__sumk").as("__sy"))
    val denom = ((col("__sx") + col("__sy")).cast("double")) / lit(2.0 * k)
    val w = Window.partitionBy("query_id")
      .orderBy(col("__margin").desc, col("vec_id").asc)
    fwd.join(sumX, "query_id").join(sumY, "vec_id")
      .withColumn("__margin", col("cosine") / denom)
      .withColumn("__rk", row_number().over(w))
      .filter(col("__rk") === 1 && col("__margin") >= minMargin)
      .select(col("query_id").as("src_id"), col("vec_id").as("tgt_id"),
        col("cosine"), round(col("__margin"), 6).as("margin"))
  }

  /** Default [[marginMine]] retriever — the exact brute baseline.
    * Cross-pool, so the self-pair exclusion is off: an id shared by a
    * src row and a tgt row is two different vectors.
    */
  val bruteRetriever: (DataFrame, DataFrame, String, String, Int) => DataFrame =
    (q, c, i, v, k) => bruteForceTopK(q, c, i, v, k, excludeSelf = false)

  /** Bucketed [[marginMine]] retriever — multi-probe sign-LSH, the
    * scale path: the fwd/bwd retrieval becomes a bucket equi-join
    * (probe side exploded bitsUsed+1×) instead of a pool×pool
    * broadcast-nested-loop. At cluster scale bitsUsed grows with the
    * corpus (bucket count ∝ n keeps per-bucket candidate volume flat —
    * the same k ∝ n contract [[semanticDedup]] documents).
    */
  def lshRetriever(bitsUsed: Int = 8)
      : (DataFrame, DataFrame, String, String, Int) => DataFrame =
    (q, c, i, v, k) =>
      lshTopKMultiProbe(q, c, i, v, k, bitsUsed, excludeSelf = false)

  /** IVF [[marginMine]] retriever — the trained-quantizer scale path
    * (the k-means side carries [[ivfTopK]]'s declared non-SQL
    * contract; the LSH retriever is the fully-oracled member of the
    * family). Driver-checked via q_margin_mine_ivf_recall — exact
    * brute count + the ≥40% agreement bound in-band (measured 56-68%
    * across SFs) — plus the ExtSpec agreement pin. Both directions
    * ride the coarse-quantizer cell join; nlist grows with the
    * corpus.
    */
  def ivfRetriever(nlist: Int = 16, nprobe: Int = 4)
      : (DataFrame, DataFrame, String, String, Int) => DataFrame =
    (q, c, i, v, k) =>
      ivfTopK(q, c, i, v, k, nlist, nprobe, excludeSelf = false)

  /** kNN label propagation — spread labels from a small hand-labeled
    * seed set to the unlabeled corpus by majority vote of each
    * document's k nearest labeled neighbors in embedding space: the
    * standard semi-supervised lift a curation pipeline runs when only
    * a seed set carries quality/domain labels (a trained classifier
    * slots into the same shape; the vote IS the contract).
    *
    * Scale shape: the labeled seed set is the SMALL side by
    * construction and is broadcast; the unlabeled corpus streams
    * map-side against it and is never reshuffled at pair width — the
    * rank ≤ k filter is a WindowGroupLimit (per-task k-heap before
    * the exchange), so the uid shuffle carries n·k rows, and the vote
    * is a groupBy over those. Ties: equal cosines break to the
    * smaller labeled id; equal votes break to the smaller label.
    *
    * Determinism: cosines are identically-shaped IEEE folds (the
    * q_ann_brute contract) with the undefined case pinned via
    * [[safeCosine]] (a zero-norm embedding votes last, never by an
    * engine's NaN rank); votes and tie-breaks are integer-exact.
    * Output: one row per unlabeled doc — id, label_pred, votes (how
    * many of the k neighbors carry label_pred).
    */
  def knnLabel(unlabeled: DataFrame, labeled: DataFrame, id: String,
      vec: String, labelCol: String, k: Int = 5): DataFrame = {
    val u = unlabeled.select(col(id).as("__uid"), col(vec).as("__uv"),
      norm(col(vec)).as("__un"))
    val l = labeled.select(col(id).as("__lid"), col(vec).as("__lv"),
      norm(col(vec)).as("__ln"), col(labelCol).as("__lab"))
    val scored = u.join(broadcast(l), lit(true))
      .withColumn("__cos", safeCosine(dot(col("__uv"), col("__lv")),
        col("__un") * col("__ln")))
    val wNear = Window.partitionBy("__uid")
      .orderBy(col("__cos").desc, col("__lid").asc)
    val topk = scored.withColumn("__rk", row_number().over(wNear))
      .filter(col("__rk") <= k)
      .select(col("__uid"), col("__lab"))
    val wVote = Window.partitionBy("__uid")
      .orderBy(col("__n").desc, col("__lab").asc)
    topk.groupBy(col("__uid"), col("__lab"))
      .agg(count(lit(1)).as("__n"))
      .withColumn("__vr", row_number().over(wVote))
      .filter(col("__vr") === 1)
      .select(col("__uid").as(id), col("__lab").as("label_pred"),
        col("__n").as("votes"))
  }

  /** Agreement companion for bucketed [[marginMine]] (the
    * semanticDedupRecall pattern — both counts are exact relational
    * facts an oracle replays): n_brute = pairs mined by the exact
    * brute baseline, n_agree = sources where the bucketed path mines
    * the SAME target. agree_ok compares in exact integer
    * cross-multiplication (n_agree·100 ≥ n_brute·minPct).
    * Output: 1 row — n_brute, n_agree, agree_ok.
    */
  def marginMineAgreement(src: DataFrame, tgt: DataFrame, id: String,
      vec: String, k: Int, minMargin: Double,
      retrieve: (DataFrame, DataFrame, String, String, Int) => DataFrame,
      minPct: Int): DataFrame = {
    val brute = marginMine(src, tgt, id, vec, k, minMargin)
      .select(col("src_id"), col("tgt_id").as("__bt"))
    val bucketed = marginMine(src, tgt, id, vec, k, minMargin, retrieve)
      .select(col("src_id"), col("tgt_id").as("__lt"))
    brute.join(bucketed, Seq("src_id"), "left")
      .agg(count(lit(1)).as("n_brute"),
        coalesce(sum(when(col("__lt") === col("__bt"), 1L).otherwise(0L)),
          lit(0L)).as("n_agree"))
      .select(col("n_brute"), col("n_agree"),
        (col("n_agree") * 100 >= col("n_brute") * minPct).as("agree_ok"))
  }

  /** Per-source embedding centroid drift — the embedding-space twin
    * of [[graft.ext.TextStats.sourceDivergence]]'s scorecard: the
    * cosine between each source's mean embedding and the whole-corpus
    * mean embedding. Sources near 1 sit at the corpus center of mass;
    * low/negative drift_cos marks a source whose embedding
    * distribution points elsewhere (a new domain or a broken encoder
    * feed) — the other half of the domain-shift monitor a multi-source
    * corpus runs per ingest.
    *
    * Shape: one posexplode to the (source, dim) axis (constant ×dims
    * blowup that map-side combines straight back down), aggregates of
    * O(sources·dims) rows, corpus marginal broadcast. Nothing touches
    * the corpus axis twice — 100 TB-safe by construction.
    *
    * Determinism: cosine is scale-invariant, so centroids are never
    * divided out — elements quantize to 3-dp integers (round of an
    * arbitrary float: a midpoint collision is measure-zero, unlike
    * rounding decimal-grid-constructed values) and every sum and
    * product after that is EXACT on both engines: per-dim sums stay
    * BIGINT (|sum| ≤ 1e4·n, int64-safe to n ≈ 9e14 vectors at the
    * |elem| ≤ 10 design bound), while the dot/norm terms — which are
    * n²-scaled and would overflow int64 from n ≈ 3e6 same-sign
    * vectors — multiply and sum as DECIMAL(38,0) (Spark) / HUGEINT
    * (DuckDB). The headroom bound must count the over-DIMS sum, not
    * just one product: each |sv·sc| ≤ (1e4·n)² = 1e8·n², so the
    * accumulated total is ≤ dims·1e8·n² and exactness to ~1e38
    * requires n ≤ 1e15/√dims — ≈ 3e13 vectors at dims = 1024, still
    * ≥ 4 orders of magnitude past a 100 TB corpus of 1 KB+ vectors.
    * Past the bound the decimal sum overflows to NULL (ANSI off),
    * which would silently report "no drift"; an assert_true guard
    * turns that into a loud analysis error instead (spec'd at the
    * bound in ExtSpec). The two exact
    * totals convert to double once at the end, and the final 6-dp
    * round acts on an irrational-valued cosine (sqrt) — measure-zero.
    * 3-dp quantization on unit-scale embeddings bounds the drift_cos
    * perturbation at ~1e-3 — a monitoring statistic, not a ranking
    * key. Output: source, n_vecs, drift_cos.
    */
  def centroidDrift(df: DataFrame, source: String, vec: String)
      : DataFrame = {
    val el = df
      .select(col(source).as("source"), posexplode(col(vec)))
      .toDF("source", "dim", "v")
    val iv = graft.core.FastRound.halfAwayLong(col("v").cast("double") * lit(1000.0))
    val q = el.select(col("source"), col("dim"), iv.as("iv"))
    val bySrc = q.groupBy("source", "dim")
      .agg(sum("iv").as("sv"), count(lit(1)).as("n"))
    val corpus = q.groupBy("dim").agg(sum("iv").as("sc"))
    // n²-scaled terms in exact decimal — int64 would overflow here
    def d19(c: org.apache.spark.sql.Column) = c.cast("decimal(19,0)")
    bySrc.join(broadcast(corpus), "dim")
      .groupBy("source")
      .agg(min(col("n")).as("n_vecs"), // min mirrors the oracle; ragged
        // vector lengths make per-dim counts differ and first() flap
        sum(d19(col("sv")) * d19(col("sc"))).as("__dot"),
        sum(d19(col("sv")) * d19(col("sv"))).as("__ss"),
        sum(d19(col("sc")) * d19(col("sc"))).as("__cc"),
        // overflow sentinel: with ANSI off a DECIMAL(38,0) sum
        // overflow yields NULL while its count stays > 0 — the one
        // state the exact accumulators can't reach legitimately
        count(col("sv")).as("__nsv"))
      .withColumn("__guard", when(
        col("__nsv") > 0 &&
          (col("__dot").isNull || col("__ss").isNull || col("__cc").isNull),
        assert_true(lit(false), lit(
          "centroidDrift: exact DECIMAL(38,0) accumulator overflowed — " +
            "dims*n beyond the documented n <= 1e15/sqrt(dims) bound"))))
      .select(col("source"), col("n_vecs"),
        when(col("__guard").isNull && col("__ss") > 0 && col("__cc") > 0,
          round(col("__dot").cast("double") /
            (sqrt(col("__ss").cast("double")) *
             sqrt(col("__cc").cast("double"))), 6)).as("drift_cos"))
  }
}
