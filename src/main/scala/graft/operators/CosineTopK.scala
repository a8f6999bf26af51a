package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The exact-cosine top-k that every vector search ends in. Each
  * index only generates candidate pairs — the brute cross join, LSH
  * bands, IVF cells, the PQ/SQ/ADC shortlists, the stored-index
  * probe — and this object scores and ranks them, so the rule the
  * DuckDB oracle (`knnSql`) recomputes is written once:
  *
  *  - sim = VecDot(embedding, q_emb) / (nrm · q_nrm), the sequential
  *    double folds of [[graft.functions.VecDot]] (bit-equal to
  *    DuckDB's list_reduce);
  *  - rnk = rank() over (sim desc, vec_id) per query, kept <= k (tied
  *    sims share a rank, so a query can keep more than k rows);
  *  - output (query_id, vec_id, rnk, sim), unordered: a caller that
  *    returns an ordered frame adds its own orderBy.
  *
  * Self-exclusion and any attribute filter belong to the candidate
  * generation, before the pairs reach [[apply]].
  */
object CosineTopK {

  /** L2 norm: the square root of the sequential-fold self dot. */
  def norm(e: Column): Column = sqrt(graft.functions.VecDot.of(e, e))

  /** Cosine of two embedding columns given their norms. */
  def cosine(a: Column, b: Column, na: Column, nb: Column): Column =
    graft.functions.VecDot.of(a, b) / (na * nb)

  /** Each candidate row (embedding, nrm) against its query (q_emb,
    * q_nrm).
    */
  val sim: Column =
    cosine(col("embedding"), col("q_emb"), col("nrm"), col("q_nrm"))

  /** (vec_id, embedding, nrm): the candidate side. */
  def withNorm(emb: DataFrame): DataFrame =
    emb.select(col("vec_id"), col("embedding"),
      norm(col("embedding")).as("nrm"))

  /** The query side, broadcast-hinted: (query_id, q_emb, q_nrm,
    * extra...) for the `queryIds` rows of `from` (vec_id, embedding,
    * nrm). Bound: |queryIds| rows of one embedding each (the declared
    * searches pass `TrainingOps.knnQueryIds`, 5 ids), times the
    * length of an exploding `extra` (an IVF probe list: at most the
    * model's cell count). Columns a caller adds with `withColumn`
    * keep the hint.
    */
  def queries(from: DataFrame, queryIds: Seq[Long],
              extra: Column*): DataFrame =
    broadcast(from.filter(col("vec_id").isin(queryIds: _*))
      .select(Seq(col("vec_id").as("query_id"), col("embedding").as("q_emb"),
        col("nrm").as("q_nrm")) ++ extra: _*))

  /** The query side of an arrival batch (query_id, q_emb),
    * broadcast-hinted with q_nrm attached. Bound: one row per arrival
    * of the batch (`VecAdmission`'s src19 split, 1/20 of the
    * embeddings); a larger batch is a larger broadcast.
    */
  def batch(arrivals: DataFrame): DataFrame =
    broadcast(arrivals.select(col("query_id"), col("q_emb"),
      norm(col("q_emb")).as("q_nrm")))

  /** Rank `scored` (a `sim` column) within each `by` group on (sim
    * desc, `id`) as `rnk`, keeping rnk <= k.
    */
  def keepTop(scored: DataFrame, k: Int, by: Seq[String] = Seq("query_id"),
              id: String = "vec_id"): DataFrame =
    scored
      .withColumn("rnk", rank().over(Window.partitionBy(by.map(col): _*)
        .orderBy(col("sim").desc, col(id))))
      .filter(col("rnk") <= k)

  /** Exact top-k of candidate pairs (query_id, q_emb, q_nrm, vec_id,
    * embedding, nrm): (query_id, vec_id, rnk, sim).
    */
  def apply(pairs: DataFrame, k: Int): DataFrame =
    keepTop(pairs.withColumn("sim", sim), k)
      .select("query_id", "vec_id", "rnk", "sim")

  /** Exact re-rank of a (query_id, vec_id) shortlist: the float table
    * `corpus` (vec_id, embedding, nrm) joins on vec_id, the query
    * side `q` on query_id, then [[apply]].
    */
  def rerank(short: DataFrame, corpus: DataFrame, q: DataFrame,
             k: Int): DataFrame =
    apply(short.join(corpus, "vec_id").join(q, "query_id"), k)
}
