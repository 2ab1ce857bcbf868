package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Declarative higher-order-function formulations of [[Similarity]]'s
  * native cell kernels, which specs pin the kernels against; not part
  * of the engine surface. Interpreted per-candidate lambdas, ~40×
  * slower per row than the kernels at bench candidate counts.
  */
object SimilarityReference {

  /** [[Similarity.assignCells]] with per candidate
    * struct(−safeCosine, seed_id) inside transform → array_min, coarse
    * then fine (literal map lookup by coarse id), over the same
    * [[Similarity.seedGroups]] seed table.
    */
  def assignCellsHof(df: DataFrame, id: String, vec: String,
      nSeeds: Int, nCoarse: Int = 0): DataFrame = {
    val sg = Similarity.seedGroups(df, id, vec, nSeeds, nCoarse)
    // seed norms baked into the literal structs (halves the
    // per-candidate fold work vs re-deriving norm(sv) per row); the
    // argmax is array_min over (negcos, seed_id) structs — the same
    // lexicographic ordering array_sort(...)[1] selects, in one
    // O(c) pass instead of an O(c log c) sort per row.
    def seedStruct(sid: Long, sv: Array[Float]): Column =
      struct(lit(sid).as("seed_id"), typedLit(sv.toSeq).as("sv"),
        lit(Similarity.normD(sv)).as("snrm"))
    // negcos coalesced to 2.0 (cos −2.0): a NULL dot — reachable
    // only through a ragged (length-mismatched) or null vector —
    // must LOSE against every real candidate, as it does in the
    // native kernel (cosOf → −2.0) and in the oracle (DuckDB sorts
    // NULL cos0 last under DESC). Without the coalesce, Spark's
    // struct order puts the NULL field FIRST and the bad seed WINS.
    def argmaxCell(candidates: Column): Column =
      array_min(transform(candidates, st =>
        struct(coalesce(
          lit(0d) - Similarity.safeCosine(
            Similarity.dot(col("__v"), st.getField("sv")),
            col("__n") * st.getField("snrm")), lit(2.0)).as("negcos"),
          st.getField("seed_id").as("seed_id")))).getField("seed_id")
    val coarseArr = array(sg.coarse.map { case (cid, cv) => seedStruct(cid, cv) }: _*)
    val groupMap = map(sg.groups.flatMap { case (cid, ss) =>
      Seq(lit(cid), array(ss.map { case (sid, sv) => seedStruct(sid, sv) }: _*))
    }: _*)
    df.select(col(id), col(vec).as("__v"), Similarity.norm(col(vec)).as("__n"))
      .withColumn("cell", argmaxCell(element_at(groupMap, argmaxCell(coarseArr))))
  }

  /** [[Similarity.nearCells]] as per centroid the sequential
    * squared-difference fold inside transform → array_sort → slice,
    * cells projected out.
    */
  def nearCellsHof(cents: Array[Array[Double]], vecCol: Column,
      keep: Int): Column = {
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
}
