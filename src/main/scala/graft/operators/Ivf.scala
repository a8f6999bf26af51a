package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** IVF (inverted-file) approximate nearest neighbor: cluster the
  * corpus once (mini k-means), then search only the `nProbe` cells
  * whose centroids are closest to the query.
  *
  * Scale shape: centroids are tiny (k × dim doubles) and live on the
  * driver/broadcast; training is `iters` passes of assign (broadcast
  * join + argmin) + recompute (explode components, partial-agg per
  * (cluster, dim)); search touches ~nProbe/k of the corpus. The
  * complementary trade-off to [[Similarity.lshKnn]]: IVF buys better
  * recall-per-candidate on clustered data at the cost of a training
  * pass; LSH is training-free.
  *
  * Determinism: centroid init is hash-based (no RNG), iteration count
  * fixed, ties broken by cluster id — same input, same index.
  */
object Ivf {

  final case class IvfModel(centroids: Array[(Int, Array[Double])]) {
    def k: Int = centroids.length
  }

  private def toDouble(a: Array[Float]): Array[Double] = a.map(_.toDouble)

  /** Train a k-cell IVF index. Deterministic: initial centroids are
    * the k vectors with the smallest xxhash64(vec_id) (a seeded
    * pseudo-random sample without an RNG in the plan).
    */
  def train(emb: DataFrame, k: Int, iters: Int = 3): IvfModel = {
    val spark = emb.sparkSession
    import spark.implicits._
    val init = emb
      .withColumn("_h", xxhash64(col("vec_id")))
      .orderBy("_h")
      .limit(k)
      .select(col("embedding"))
      .collect()
      .zipWithIndex
      .map { case (r, i) =>
        (i, toDouble(r.getAs[scala.collection.Seq[Float]](0).toArray))
      }
    var model = IvfModel(init)
    (1 to iters).foreach { _ =>
      val assigned = assign(emb, model)
      val next = assigned
        .select(col("cluster"), posexplode(col("embedding")).as(Seq("d", "v")))
        .groupBy("cluster", "d")
        .agg(avg(col("v").cast("double")).as("m"))
        .collect()
        .groupBy(_.getAs[Int]("cluster"))
        .map { case (c, rows) =>
          val dim = rows.map(_.getAs[Int]("d")).max + 1
          val arr = new Array[Double](dim)
          rows.foreach(r => arr(r.getAs[Int]("d")) = r.getAs[Double]("m"))
          (c, arr)
        }
        .toArray.sortBy(_._1)
      // empty clusters keep their previous centroid
      val byId = next.toMap
      model = IvfModel(model.centroids.map { case (c, old) =>
        (c, byId.getOrElse(c, old))
      })
    }
    model
  }

  /** The amortized index's sizing rule: k scales with the corpus as
    * sqrt(n), clamped to [4, 256], and two refinement passes.
    */
  def trainSized(emb: DataFrame): IvfModel = {
    val k = math.max(4, math.min(256, math.sqrt(emb.count().toDouble).toInt))
    train(emb, k = k, iters = 2)
  }

  /** Nearest-centroid assignment (cosine) as a relational matmul:
    * explode components, broadcast-join centroid weights, partial-agg
    * the per-centroid dots, argmax via max_by — fully codegen (the
    * literal-array HOF form evaluates interpreted, ~30x slower per
    * element; same lesson as Similarity.signatureBands).
    */
  private def assign(emb: DataFrame, model: IvfModel): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val cents = model.centroids.toSeq.flatMap { case (c, arr) =>
      val nrm = math.sqrt(arr.map(x => x * x).sum)
      arr.zipWithIndex.map { case (w, d) => (c, d, w / nrm) }
    }.toDF("cluster_id", "dim_idx", "w")
    val best = emb
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("dim_idx", "v")))
      .join(broadcast(cents), "dim_idx")
      .groupBy("vec_id", "cluster_id")
      .agg(sum(col("v").cast("double") * col("w")).as("dot"))
      .groupBy("vec_id")
      // max_by with a (dot, -id) struct: deterministic lower-id tie-break
      .agg(expr("max_by(cluster_id, struct(dot, -cluster_id))").as("cluster"))
    emb.join(best, "vec_id")
  }

  /** Nearest-cell assignment for operators composing on the coarse
    * quantizer (e.g. [[Similarity.semanticDedup]]): emb columns plus
    * `cluster`. Same relational-matmul shape as the private assign.
    */
  private[operators] def assignCells(emb: DataFrame,
                                     model: IvfModel): DataFrame =
    assign(emb, model)

  /** (vec_id, probe) — each vector exploded to its `n` nearest cell
    * ids, for cell-blocked join operators (e.g. the kNN self-join's
    * scale path, [[Similarity.knnGraphBlocked]]).
    */
  private[operators] def probeCells(emb: DataFrame, model: IvfModel,
                                    n: Int): DataFrame =
    emb.select(col("vec_id"),
      explode(nearestCentroids(model, n)).as("probe"))

  /** Every cell id with its probe RANK per vector — the FULL sorted
    * list [[probeCells]] takes its length-`n` prefix of, evaluated
    * once: `probeCells(emb, model, n)` ≡ `rankedProbeCells(emb,
    * model).filter(_pr < n)` because [[nearestCentroids]] slices the
    * same deterministic (sim, -id) sort (IvfLadderSpec pins the
    * prefix equality). Exists so ladder walks (the qs47 calibration) pay the
    * interpreted centroid-scoring HOF ONE pass instead of one per
    * rung — guide §1.2 "per-task work", round 17.
    */
  private[operators] def rankedProbeCells(emb: DataFrame,
                                          model: IvfModel): DataFrame =
    emb.select(col("vec_id"),
      posexplode(nearestCentroids(model, model.k)).as(Seq("_pr", "probe")))

  /** Column: array of the `n` nearest centroid ids to `embedding`. */
  private def nearestCentroids(model: IvfModel, n: Int)
      : org.apache.spark.sql.Column = {
    val cents = typedLit(model.centroids.toSeq.map { case (c, arr) =>
      (c, arr.toSeq)
    })
    // (sim, -id) max-sort: deterministic tie-break on lower id
    val scored = transform(cents, c =>
      struct(
        Similarity.dotD(c.getField("_2"), col("embedding"))
          ./(sqrt(Similarity.dotD(c.getField("_2"), c.getField("_2"))))
          .as("sim"),
        (-c.getField("_1")).as("negid")))
    val sorted = reverse(array_sort(scored))
    transform(slice(sorted, lit(1), lit(n)), s => -s.getField("negid"))
  }

  /** qe12 — IVF-PQ composed search (the FAISS architecture): coarse
    * quantizer first (score only the `nProbe` cells nearest each
    * query), PQ/ADC scan second (8-byte codes instead of embeddings
    * inside the admitted cells), exact re-rank of the ADC shortlist
    * last. Each stage cuts what the next one touches: cells cut the
    * candidate set to ~nProbe/k of the corpus, codes cut the scan
    * bytes 32×, the re-rank touches only `shortlist` embeddings —
    * which is why this is THE deployed billion-vector layout.
    *
    * At nProbe = model.k AND shortlist ≥ corpus the result provably
    * equals brute force for ANY codebooks (every candidate admitted,
    * every one exactly re-ranked) — the declared parity config,
    * sharing qe1's oracle; honest compound recall is measured in
    * PqSpec.
    */
  def searchPq(emb: DataFrame, model: IvfModel, pq: Pq.PqModel,
               queryIds: Seq[Long], k: Int, nProbe: Int,
               shortlist: Int): DataFrame = {
    val assigned = assign(emb, model)
    val q = assigned.filter(col("vec_id").isin(queryIds: _*))
      .select(col("vec_id").as("query_id"),
        explode(nearestCentroids(model, nProbe)).as("probe"))
    val cand = assigned.join(broadcast(q), col("cluster") === col("probe"))
      .filter(col("vec_id") =!= col("query_id"))
      .select("query_id", "vec_id")
    Pq.search(emb, pq, queryIds, k, shortlist, Some(cand))
  }

  /** Search: score only vectors in the nProbe cells nearest to each
    * query. Output shape matches [[Similarity.bruteForceKnn]].
    */
  def search(emb: DataFrame, model: IvfModel, queryIds: Seq[Long], k: Int,
             nProbe: Int = 4): DataFrame = {
    val assigned = assign(emb, model)
      .select(col("vec_id"), col("embedding"), col("cluster"),
        CosineTopK.norm(col("embedding")).as("nrm"))
    val q = CosineTopK.queries(assigned, queryIds,
      explode(nearestCentroids(model, nProbe)).as("probe"))
    CosineTopK(assigned.join(q, col("cluster") === col("probe"))
        .filter(col("vec_id") =!= col("query_id")), k)
      .orderBy("query_id", "rnk", "vec_id")
  }
}
