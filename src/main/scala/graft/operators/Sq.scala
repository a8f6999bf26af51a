package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Scalar quantization (SQ8) ANN: quantize every embedding dimension
  * to an 8-bit code on a per-dimension uniform [lo, hi] grid and pack
  * the codes into BIGINT words (8 codes per word), so the first-pass
  * corpus scan reads dim/8 longs per vector instead of dim floats —
  * a 4× byte cut with ~half the quantization error of [[Pq]] at the
  * same compression tier (SQ keeps every dimension; PQ merges them
  * into subspace codebooks). The FAISS "SQ8 flat" index member,
  * completing the family: exact flat ([[Similarity.bruteForceKnn]]),
  * IVF ([[Ivf]]), PQ/ADC ([[Pq]]), IVF-PQ ([[Ivf.searchPq]]), binary
  * Hamming ([[Similarity.hammingKnn]]), and now SQ8.
  *
  * Scale shape: the model is 2·dim doubles (driver/broadcast-sized by
  * construction — per-dim EXACT min/max, order-independent, from one
  * partial+final aggregate). Encoding is map-only codegen (shift/OR
  * over array accesses — no explode, no shuffle). The query scan is
  * the key design point: the approximate score against a query
  * decomposes as
  *   approx_dot = Σ_d q_d·(lo_d + (c_d + 0.5)·w_d)
  *              = const_q + Σ_d (q_d·w_d)·c_d
  * where const_q and the per-dim weights are DRIVER-SIDE LITERALS
  * (query vectors and the model are both tiny), so the per-row score
  * is a pure codegen expression over shift/mask extractions of the
  * packed words — no join, no explode, no lambda; the whole first
  * pass is scan → project → top-shortlist. The shortlist is then
  * exact-cosine re-ranked against the full embeddings (the [[Pq]]
  * re-rank tail), touching ~shortlist/corpus of the float data.
  *
  * Determinism: codes are exact float compares and floors (no float
  * SUM), the approx score is a fixed-order 64-term fold evaluated
  * identically on every row, and every rank ties on vec_id.
  *
  * The DECLARED gate config (qe16) uses `shortlist = ∞`: every
  * candidate is exact-re-ranked, so the result equals brute force for
  * ANY quantization grid (the qe4/qe8 parity move) and qe1's DuckDB
  * oracle applies verbatim. Honest-shortlist recall and the 4×
  * packing claim are measured in SqSpec.
  */
object Sq {

  /** Per-dimension uniform grid: `lo(d)` inclusive floor, `width(d)`
    * = (hi−lo)/256; degenerate dims (hi == lo) carry width 0 and
    * always code 0.
    */
  final case class SqModel(lo: Array[Double], hi: Array[Double]) {
    def dim: Int = lo.length
    def width(d: Int): Double = (hi(d) - lo(d)) / 256.0
    /** Midpoint dequantization of code `c` in dim `d`. */
    def deq(d: Int, c: Int): Double = lo(d) + (c + 0.5) * width(d)
  }

  /** Exact per-dim extrema — min/max are order-independent, so unlike
    * a mean the model is identical under any partitioning. One
    * posexplode scan into a dim-keyed partial+final aggregate
    * (bounded output: `dim` rows collected).
    */
  def train(emb: DataFrame): SqModel = {
    val rows = emb
      .select(posexplode(col("embedding")).as(Seq("d", "v")))
      .groupBy("d")
      .agg(min(col("v").cast("double")).as("lo"),
        max(col("v").cast("double")).as("hi"))
      .collect()
    val dim = rows.map(_.getAs[Int]("d")).max + 1
    val lo = new Array[Double](dim)
    val hi = new Array[Double](dim)
    rows.foreach { r =>
      lo(r.getAs[Int]("d")) = r.getAs[Double]("lo")
      hi(r.getAs[Int]("d")) = r.getAs[Double]("hi")
    }
    SqModel(lo, hi)
  }

  /** Code of dim `d` as a long in [0, 255] — clamped floor on the
    * uniform grid; pure codegen arithmetic on one array access.
    */
  private def codeCol(model: SqModel, d: Int): Column = {
    val x = element_at(col("embedding"), d + 1).cast("double")
    if (model.width(d) == 0.0) lit(0L)
    else least(greatest(
      floor((x - lit(model.lo(d))) / lit(model.hi(d) - model.lo(d)) * 256.0),
      lit(0.0)), lit(255.0)).cast("long")
  }

  /** (vec_id, w0..w(dim/8−1)): 8 codes packed per BIGINT, code of dim
    * d in bits [8·(d%8), 8·(d%8)+7] of word d/8. Map-only — the
    * 16-byte-per-64-dim-vector layout the scan reads.
    */
  def encodePacked(emb: DataFrame, model: SqModel): DataFrame = {
    require(model.dim % 8 == 0, s"dim ${model.dim} not packable into bytes of 8")
    val words = (0 until model.dim / 8).map { w =>
      (0 until 8).map { j =>
        val d = w * 8 + j
        shiftleft(codeCol(model, d), 8 * j)
      }.reduce(_.bitwiseOR(_)).as(s"w$w")
    }
    emb.select(col("vec_id") +: words: _*)
  }

  /** The literal-unrolled approximate dot of a packed row against
    * query vector `q`: const + Σ_d (q_d·w_d)·extract(word, byte).
    * Zero-width dims contribute only their constant term.
    */
  private def approxDot(model: SqModel, q: Array[Double]): Column = {
    val const = (0 until model.dim).map(d =>
      q(d) * (model.lo(d) + 0.5 * model.width(d))).sum
    val terms = (0 until model.dim).flatMap { d =>
      val w = q(d) * model.width(d)
      if (w == 0.0) None
      else Some(shiftright(col(s"w${d / 8}"), 8 * (d % 8))
        .bitwiseAND(lit(255L)).cast("double") * lit(w))
    }
    terms.foldLeft(lit(const): Column)(_ + _)
  }

  /** Integer-EXACT approximate shortlist — the qe20 evaluation form
    * of the SQ8 scan: score = Σ_d floor(q_d·w_d·10⁶)·c_d, a sum of
    * exact longs (the per-query constant term is constant within a
    * query's ranking and drops out), so BOTH engines produce the
    * identical shortlist under any row/summation order — which is
    * what lets the cross-engine quality harness hash-match where the
    * double-scored shortlist's last-ulp boundary could not. Same
    * packed-word scan and ≤4-query batching as [[search]].
    */
  def approxIntShortlist(emb: DataFrame, model: SqModel,
                         queryIds: Seq[Long], n: Int,
                         packedTable: Option[DataFrame] = None): DataFrame = {
    val qVecs: Seq[(Long, Array[Double])] = emb
      .filter(col("vec_id").isin(queryIds: _*))
      .select(col("vec_id"), col("embedding"))
      .collect()
      .map(r => (r.getLong(0),
        r.getAs[scala.collection.Seq[Float]](1).map(_.toDouble).toArray))
      .toSeq
    // .reduce on the per-batch union would throw on an empty iterator
    // (ADVICE r8): fail fast with the actual contract violation
    require(qVecs.nonEmpty,
      s"approxIntShortlist: none of queryIds $queryIds found in the corpus")
    val packed = packedTable.getOrElse(encodePacked(emb, model))
    // The sum is computed in DOUBLE and cast back to long: every term
    // w·c and every partial sum is an integer-valued double far below
    // 2^53 (|w| ≤ ~10⁶, c ≤ 255, 64 terms), so the result is the
    // EXACT integer under any summation order — while long arithmetic
    // under ANSI mode generates overflow-CHECKED multiply/add per
    // term, which blew the fused stage past Janino's 64 KB limit
    // (CodegenAudit caught the silent interpreted fallback).
    def scoreCol(q: Array[Double]): Column = {
      val terms = (0 until model.dim).flatMap { d =>
        val w = math.floor(q(d) * model.width(d) * 1e6)
        if (w == 0.0) None
        else Some(shiftright(col(s"w${d / 8}"), 8 * (d % 8))
          .bitwiseAND(lit(255L)).cast("double") * lit(w))
      }
      (if (terms.isEmpty) lit(0.0) else terms.reduce(_ + _)).cast("long")
    }
    val scored = qVecs.grouped(4).map { grp =>
      val wide = packed.select(col("vec_id") +: grp.map {
        case (qid, q) => scoreCol(q).as(s"a_$qid")
      }: _*)
      wide.select(col("vec_id"), explode(array(grp.map { case (qid, _) =>
        struct(lit(qid).as("query_id"), col(s"a_$qid").as("sco"))
      }: _*)).as("s"))
        .select(col("vec_id"), col("s.query_id").as("query_id"),
          col("s.sco").as("sco"))
    }.reduce(_.union(_))
      .filter(col("vec_id") =!= col("query_id"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("sco").desc, col("vec_id"))
    scored.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= n)
      .select(col("query_id"), col("vec_id"), col("rn").cast("int").as("rnk"))
  }

  /** SQ8 top-k: packed-word approximate scan, shortlist, exact cosine
    * re-rank. `shortlist >= corpus` ⇒ result ≡ brute force for any
    * grid (the declared qe16 config). Queries are collected driver-
    * side (bounded: |queryIds| vectors) so their scan weights become
    * literals — the corpus-side plan is scan → project → window, with
    * no join and no corpus broadcast before the shortlist.
    */
  def search(emb: DataFrame, model: SqModel, queryIds: Seq[Long], k: Int,
             shortlist: Int,
             packedTable: Option[DataFrame] = None): DataFrame = {
    val qVecs: Seq[(Long, Array[Double])] = emb
      .filter(col("vec_id").isin(queryIds: _*))
      .select(col("vec_id"), col("embedding"))
      .collect()
      .map(r => (r.getLong(0),
        r.getAs[scala.collection.Seq[Float]](1).map(_.toDouble).toArray))
      .toSeq
    // .reduce on the per-batch union would throw on an empty iterator
    // (ADVICE r8): fail fast with the actual contract violation
    require(qVecs.nonEmpty,
      s"Sq.search: none of queryIds $queryIds found in the corpus")
    val packed = packedTable.getOrElse(encodePacked(emb, model))
    // Two codegen-size rules shape this stage. (1) Each query's
    // 64-term scorer is materialized as its own column BEFORE the
    // explode — the repo CSE rule: a computed column inside
    // array()/Generate re-inlines per element, and the inlined sum of
    // |queries| × 64 terms in one Generate method breaches Janino's
    // 64 KB limit, silently dropping the scan to interpreted eval.
    // (2) Queries are processed in BATCHES of 4 per scan pass (the
    // FAISS query-batching shape): even materialized, a fused
    // scan+project+sort stage carrying hundreds of scorer columns
    // outgrows one generated method, so each union branch holds a
    // bounded ≤4×64-term scorer and the branches meet at the
    // shortlist exchange (union is shuffle-free).
    val scored = qVecs.grouped(4).map { grp =>
      val wide = packed.select(col("vec_id") +: grp.map {
        case (qid, q) => approxDot(model, q).as(s"a_$qid")
      }: _*)
      wide.select(col("vec_id"), explode(array(grp.map { case (qid, _) =>
        struct(lit(qid).as("query_id"), col(s"a_$qid").as("adot"))
      }: _*)).as("s"))
        .select(col("vec_id"), col("s.query_id").as("query_id"),
          col("s.adot").as("adot"))
    }.reduce(_.union(_))
      .filter(col("vec_id") =!= col("query_id"))
    val wShort = Window.partitionBy("query_id")
      .orderBy(col("adot").desc, col("vec_id"))
    val short = scored
      .withColumn("srnk", row_number().over(wShort))
      .filter(col("srnk") <= shortlist)
      .select("query_id", "vec_id")
    // exact re-rank of the shortlist — output shape == bruteForceKnn
    val base = CosineTopK.withNorm(emb)
    CosineTopK.rerank(short, base, CosineTopK.queries(base, queryIds), k)
      .orderBy("query_id", "rnk", "vec_id")
  }
}
