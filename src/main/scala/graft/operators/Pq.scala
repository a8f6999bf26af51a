package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Product quantization (PQ) ANN: split the embedding into `m`
  * contiguous subspaces, learn a tiny k-means codebook per subspace,
  * encode every vector as `m` small code ids, and answer queries with
  * an asymmetric-distance (ADC) scan — per query one (m x kCodes)
  * table of exact sub-distances, so scoring a corpus vector is `m`
  * table lookups instead of a full-dimension dot product. The third
  * member of the ANN family: IVF buys recall via clustering
  * ([[Ivf]]), sign-LSH via hyperplane buckets
  * ([[Similarity.lshKnn]]); PQ buys a ~(dim*4 / m)-fold compression
  * of the scanned corpus — at 100 TB the codes table (m bytes-ish
  * per vector) is what a scan touches, embeddings are only fetched
  * for the shortlist re-rank.
  *
  * Scale shape: codebooks are (m x kCodes x subDim) doubles — driver
  * / broadcast-sized by construction. Training is `iters` relational
  * passes (explode components, broadcast-join the codebook, two-level
  * aggregate); nothing corpus-scale is ever collected. Search scores
  * codes against the BROADCAST per-query ADC table (corpus-side
  * never shuffles for it), shortlists by approximate distance, and
  * re-ranks only the shortlist with exact [[graft.functions.VecDot]]
  * cosines.
  *
  * Determinism: init picks the `kCodes` vectors with the smallest
  * xxhash64(vec_id) (the [[Ivf]] seeding trick — no RNG), iteration
  * count is fixed, and all argmins tie-break on the lower code id.
  * Codebook means are double avgs (shuffle-order sensitive in the
  * last ulp, same stance as [[Ivf.train]]) — which is why the
  * DECLARED gate config re-ranks the FULL shortlist: the result is
  * then the exact cosine top-k for ANY codebook, and qe1's brute
  * oracle applies verbatim. Honest-shortlist recall is measured in
  * PqSpec on the real corpus.
  */
object Pq {

  /** `codebooks((sub, code))` = the subspace-`sub` centroid for
    * `code`, indexed by LOCAL dim within the subspace.
    */
  final case class PqModel(m: Int, subDim: Int,
      codebooks: Map[(Int, Int), Array[Double]]) {
    def kCodes: Int = codebooks.keys.map(_._2).max + 1
  }

  private def toDouble(a: scala.collection.Seq[Float]): Array[Double] =
    a.map(_.toDouble).toArray

  /** Flat (sub, code, d, w) codebook frame, `d` GLOBAL so component
    * joins need no div/mod on the corpus side.
    */
  private def flatCodebook(df: DataFrame, model: PqModel): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    model.codebooks.toSeq.flatMap { case ((s, c), arr) =>
      arr.zipWithIndex.map { case (w, j) => (s, c, s * model.subDim + j, w) }
    }.toDF("sub", "code", "d", "w")
  }

  /** Per-(vector, subspace) nearest code by squared L2 — the encode
    * step. Relational argmin: explode components, broadcast-join all
    * kCodes candidates of the component's subspace, partial-agg the
    * sub-distances, min_by((dist, code)) for a deterministic
    * lower-code tie-break. One corpus-scale exchange (the (vec_id,
    * sub, code) partial aggregate's final hop).
    */
  def assignCodes(emb: DataFrame, model: PqModel): DataFrame =
    emb.select(col("vec_id"), posexplode(col("embedding")).as(Seq("d", "v")))
      .join(broadcast(flatCodebook(emb, model)), "d")
      .groupBy("vec_id", "sub", "code")
      .agg(sum((col("v").cast("double") - col("w"))
        * (col("v").cast("double") - col("w"))).as("dist"))
      .groupBy("vec_id", "sub")
      .agg(expr("min_by(code, struct(dist, code))").as("code"))

  /** Train per-subspace codebooks: hash-seeded init (the `kCodes`
    * vectors with the smallest xxhash64(vec_id) donate their
    * sub-vectors), then `iters` rounds of assign + per-(sub, code,
    * dim) mean. Collects only codebook-sized results (m x kCodes x
    * subDim rows).
    */
  def train(emb: DataFrame, m: Int, kCodes: Int, iters: Int = 2): PqModel = {
    val init = emb
      .withColumn("_h", xxhash64(col("vec_id")))
      .orderBy("_h")
      .limit(kCodes)
      .select(col("embedding"))
      .collect()
      .map(r => toDouble(r.getAs[scala.collection.Seq[Float]](0)))
    val dim = init.head.length
    require(dim % m == 0, s"dim $dim not divisible into $m subspaces")
    val subDim = dim / m
    var model = PqModel(m, subDim,
      (for (s <- 0 until m; c <- init.indices)
        yield (s, c) -> init(c).slice(s * subDim, (s + 1) * subDim)).toMap)
    (1 to iters).foreach { _ =>
      val comps = emb
        .select(col("vec_id"), posexplode(col("embedding")).as(Seq("d", "v")))
        .withColumn("sub", (col("d") / subDim).cast("int"))
      val next = comps
        .join(assignCodes(emb, model), Seq("vec_id", "sub"))
        .groupBy("sub", "code", "d")
        .agg(avg(col("v").cast("double")).as("mw"))
        .collect()
        .groupBy(r => (r.getAs[Int]("sub"), r.getAs[Int]("code")))
        .map { case (k, rows) =>
          val arr = new Array[Double](subDim)
          rows.foreach(r =>
            arr(r.getAs[Int]("d") - k._1 * subDim) = r.getAs[Double]("mw"))
          k -> arr
        }
      // codes that captured no vectors keep their previous centroid
      model = PqModel(m, subDim,
        model.codebooks.map { case (k, old) => k -> next.getOrElse(k, old) })
    }
    model
  }

  /** ADC top-k: approximate-distance shortlist, exact cosine re-rank.
    * `shortlist >= corpus size` makes the result EXACTLY the brute
    * cosine top-k (every candidate is re-ranked with true distances,
    * the ADC order stops mattering) — the declared qe8 parity config,
    * sharing qe1's oracle. Honest configs shrink `shortlist` so the
    * re-rank touches ~shortlist/corpus of the embeddings.
    *
    * `candidates` (query_id, vec_id), when given, restricts the ADC
    * scan to those pairs via a semi-join — the hook [[Ivf.searchPq]]
    * uses to compose coarse IVF cells in front of the PQ scan
    * (FAISS's IVF-PQ architecture). None scans the whole corpus per
    * query (flat PQ).
    */
  def search(emb: DataFrame, model: PqModel, queryIds: Seq[Long], k: Int,
             shortlist: Int,
             candidates: Option[DataFrame] = None): DataFrame = {
    val codes = assignCodes(emb, model)
    // per-query exact sub-distance table: nq x m x kCodes rows, tiny
    val adc = emb.filter(col("vec_id").isin(queryIds: _*))
      .select(col("vec_id").as("query_id"),
        posexplode(col("embedding")).as(Seq("d", "v")))
      .join(broadcast(flatCodebook(emb, model)), "d")
      .groupBy("query_id", "sub", "code")
      .agg(sum((col("v").cast("double") - col("w"))
        * (col("v").cast("double") - col("w"))).as("part"))
    val wShort = Window.partitionBy("query_id")
      .orderBy(col("adist").asc, col("vec_id"))
    val approxAll = codes
      .join(broadcast(adc), Seq("sub", "code"))
      .filter(col("vec_id") =!= col("query_id"))
      .groupBy("query_id", "vec_id")
      .agg(sum("part").as("adist"))
    val approx = candidates.fold(approxAll)(c =>
      approxAll.join(c, Seq("query_id", "vec_id"), "left_semi"))
    val short = approx
      .withColumn("srnk", row_number().over(wShort))
      .filter(col("srnk") <= shortlist)
      .select("query_id", "vec_id")
    // exact re-rank of the shortlist — output shape == bruteForceKnn
    val base = CosineTopK.withNorm(emb)
    CosineTopK.rerank(short, base, CosineTopK.queries(base, queryIds), k)
      .orderBy("query_id", "rnk", "vec_id")
  }
}
