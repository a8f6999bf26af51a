package graft.operators

import graft.core.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Targeted data SELECTION — scoring a raw corpus against a
  * high-quality seed so the training mixture can be importance-
  * resampled toward the seed's distribution (Xie et al. 2023, "Data
  * Selection for Language Models via Importance Resampling"; the
  * GPT-3/LLaMA-style quality-classifier filter is the same log-ratio
  * scorer with a discriminative fit). Complements the corpus-health
  * family: qd4 scores documents against FIXED heuristics, qd42
  * against an n-gram LM of the corpus itself; DSIR scores them
  * against a TARGET corpus the user actually wants more of.
  */
object Selection {

  /** The dialect-shared per-token importance weight (valid verbatim
    * in Spark SQL and DuckDB, so IEEE op order cannot diverge — the
    * qd51 construction): add-1-smoothed log-likelihood ratio of the
    * target vs raw unigram models over the capped vocabulary,
    *   ln((c_tgt+1)/(t_tgt+vn)) − ln((c_all+1)/(t_all+vn)),
    * quantized to integer micro-nats (FLOOR(x·10⁶ + 0.5) — round-
    * half-up for either sign, the qd11/qd21 family) so per-doc sums
    * are exact long arithmetic. Expects columns `c_tgt`, `c_all`,
    * `t_tgt`, `t_all`, `vn` in scope.
    */
  val weightMicroSql: String =
    "CAST(FLOOR((LN((CAST(c_tgt AS DOUBLE) + 1.0) " +
      "/ (CAST(t_tgt AS DOUBLE) + CAST(vn AS DOUBLE))) " +
      "- LN((CAST(c_all AS DOUBLE) + 1.0) " +
      "/ (CAST(t_all AS DOUBLE) + CAST(vn AS DOUBLE)))) " +
      "* 1000000.0 + 0.5) AS BIGINT)"

  /** The trained DSIR model: the top-`vocabCap` corpus vocabulary
    * with exact (corpus, target) occurrence counts, plus the add-1
    * smoothing totals. Driver-sized by construction (≤ vocabCap rows
    * of token + two longs — low MB at the 65 536 default), the same
    * table the scoring join broadcasts anyway — the [[TrainingOps
    * .bigramModel]] class.
    */
  final case class DsirModel(vocab: Array[(String, Long, Long)],
                             vn: Long, tAll: Long, tTgt: Long)

  private val dsirModels = new graft.io.StampMemo[DsirModel]("documents")

  /** Token-grain (c_all, c_tgt) counts — the trainer's one corpus
    * pass: tokenize, then a single map-side-combined aggregate at
    * vocabulary grain (is_tgt folds in as a conditional sum, so no
    * per-source scan).
    */
  private def vocabCounts(docs: DataFrame, isTarget: Column): DataFrame =
    docs.select(isTarget.as("is_tgt"),
        explode(Dedup.tokens(col("text"))).as("token"))
      .groupBy("token")
      .agg(count(lit(1)).as("c_all"),
        sum(when(col("is_tgt"), 1L).otherwise(0L)).as("c_tgt"))

  /** Train a [[DsirModel]]: top-`vocabCap` tokens by (corpus count
    * DESC, token ASC) — orderBy+limit plans TakeOrderedAndProject
    * (map-side partial top-V, no global sort), and the collect is
    * bounded by the cap (the Ivf-collect class).
    */
  def trainDsir(docs: DataFrame, isTarget: Column,
                vocabCap: Int = 65536): DsirModel = {
    val rows = vocabCounts(docs, isTarget)
      .orderBy(col("c_all").desc, col("token")).limit(vocabCap)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    DsirModel(rows, rows.length.toLong,
      rows.map(_._2).sum, rows.map(_._3).sum)
  }

  /** The amortized declared-query model per cap, memoized over
    * `documents` by [[graft.io.StampMemo]]: production trains the
    * scorer once and scores many batches; Bench prebuilds it and
    * reports the cost in the details JSON, and the trainer path stays
    * measured by SelectionSpec's inline-trained parity pin.
    */
  def dsirModel(s: SparkSession, dir: String,
                vocabCap: Int = 65536): DsirModel =
    dsirModels(dir, vocabCap)(trainDsir(Tables.documents(s, dir),
      col("source") === "src0", vocabCap))

  /** The model as a broadcastable weight table (token, w_micro):
    * rebuilt from the LOCAL model rows, with [[weightMicroSql]] —
    * the SAME expression text the oracle evaluates — applied by
    * Spark's SQL engine over the local relation, so quantized
    * weights stay bit-identical cross-engine.
    */
  private def weightTable(s: SparkSession, m: DsirModel): DataFrame = {
    import s.implicits._
    m.vocab.toSeq.toDF("token", "c_all", "c_tgt")
      .withColumn("vn", lit(m.vn))
      .withColumn("t_all", lit(m.tAll))
      .withColumn("t_tgt", lit(m.tTgt))
      .select(col("token"), expr(weightMicroSql).as("w_micro"))
  }

  /** The dialect-shared Gumbel-top-k selection key (valid verbatim in
    * Spark SQL and DuckDB — the qd51/weightMicroSql construction):
    *   key = score + Gumbel(u),  u = (fp mod 4096 + 0.5) / 4096,
    * with score = score_micro/10⁶ nats and Gumbel(u) = −ln(−ln u).
    * Sorting by the key and keeping the top k draws k documents
    * WITHOUT replacement with inclusion odds ∝ exp(score) — the
    * Gumbel-top-k identity, which is exactly DSIR's importance
    * resampling step. The uniform comes from the portable qd5/qd12
    * rolling fingerprint, so the "randomness" is reproducible
    * cross-engine and across reruns (production data selection wants
    * a deterministic, auditable draw). u sits at bucket centers —
    * never 0 or 1, so both LNs are finite. The key is quantized to
    * integer micro-nats; ties (same bucket AND same quantized score)
    * break on doc_id. Expects columns `score_micro`, `fp` in scope.
    */
  val keyMicroSql: String =
    "CAST(FLOOR((CAST(score_micro AS DOUBLE) / 1000000.0 " +
      "- LN(-LN((CAST(fp % 4096 AS DOUBLE) + 0.5) / 4096.0))) " +
      "* 1000000.0 + 0.5) AS BIGINT)"

  /** qd55 — DSIR importance weights: per-document log importance
    * score Σ_t tf(d,t)·ln(p_target(t)/p_raw(t)) under add-1-smoothed
    * unigram models of the target seed vs the whole corpus,
    * restricted to the top-`vocabCap` corpus vocabulary. Positive
    * score ⇒ the document looks more like the seed than like the
    * average of the pool — the resampling weight for targeted data
    * selection. (The paper hashes BIGRAMS into a fixed bucket count;
    * unigrams-with-a-frequency-cap keeps the weight table exactly
    * reproducible cross-engine — the hashed-bigram variant is this
    * operator with `tokens` swapped for a pair generator and the cap
    * for a modulus, no new machinery.)
    *
    * Scale shape: scoring is ONE corpus pass — tokenize → one
    * (doc, token) map-side-combined aggregate → broadcast join
    * against the ≤vocabCap-row weight table → one doc-grain
    * aggregate (Round10OpsSpec pins the single Generate). The
    * trainer is its own single pass, amortized per (dir, stamp) via
    * [[dsirModel]]. Per-doc totals are exact BIGINT micro-nat sums
    * (tf ≤ dl, |w| ≤ ~20·10⁶ ⇒ far under 2⁶³). At 100 TB nothing is
    * corpus×corpus: token-grain state is vocabulary-sized, doc-grain
    * state one combined aggregate, and the weight table is exactly
    * the kind of stored-model artifact the qd23/qd35 tier ships.
    *
    * Parity: counts are exact BIGINTs both engines; the only doubles
    * are inside [[weightMicroSql]] — one shared expression text —
    * and the final micro→double division (same order both engines).
    * Ties at the vocabulary-cap boundary break on the token string;
    * docs with zero vocabulary tokens keep score 0 via the left
    * join.
    */
  /** Doc-grain micro-nat scores (unordered) — shared by the qd55
    * report and the qd56 resampler: ONE corpus pass, join-free at
    * corpus grain. `explode_outer` keeps token-free documents as a
    * single null-token row and the weight join is a LEFT broadcast
    * probe, so every document reaches the doc-grain aggregate and
    * zero-match docs score 0 WITHOUT a second corpus scan + doc-grain
    * zero-fill join (the first cut's shape — a whole SortMergeJoin
    * at 100 TB saved by a null row per empty doc). `carry` names
    * doc-constant columns (e.g. qd56's source/fingerprint) to thread
    * through the aggregates as extra keys — a few bytes per shuffle
    * row instead of ANOTHER doc-grain join; text itself never rides
    * the Generate output (the qd23 amplification trap).
    */
  private def scoreGrain(docs: DataFrame, model: DsirModel,
                         carry: Seq[String] = Nil): DataFrame = {
    val wv = weightTable(docs.sparkSession, model)
    val keys = "doc_id" +: carry
    docs.select(keys.map(col) :+
        explode_outer(Dedup.tokens(col("text"))).as("token"): _*)
      .groupBy((keys :+ "token").map(col): _*)
      .agg(count(lit(1)).as("tf"))
      .join(broadcast(wv), Seq("token"), "left")
      .groupBy(keys.map(col): _*)
      .agg(sum(col("tf") * coalesce(col("w_micro"), lit(0L)))
          .as("score_micro"),
        sum(when(col("w_micro").isNotNull, col("tf")).otherwise(0L))
          .as("matched_toks"))
  }

  def dsirScore(docs: DataFrame, model: DsirModel): DataFrame =
    scoreGrain(docs, model)
      .withColumn("score",
        col("score_micro").cast("double") / lit(1000000.0))
      .orderBy("doc_id")

  /** Train-and-score in one call — the spec/ad-hoc entry point (the
    * declared query rides the cached model instead).
    */
  def dsirWeights(docs: DataFrame, isTarget: Column,
                  vocabCap: Int = 65536): DataFrame =
    dsirScore(docs, trainDsir(docs, isTarget, vocabCap))

  /** qd55 declared form: src0 is the high-quality target seed (the
    * qd40/qd54 corpus convention), the pool is every document.
    */
  def dsirQuery(s: SparkSession, dir: String): DataFrame =
    dsirScore(Tables.documents(s, dir), dsirModel(s, dir))

  /** qd56 — DSIR importance RESAMPLING: draw `k` documents without
    * replacement with inclusion odds ∝ exp(importance score) — the
    * actual selection step of Xie et al. 2023 (qd55 computes the
    * weights; this consumes them). The draw is the Gumbel-top-k
    * identity over [[keyMicroSql]], with the uniform derived from
    * the portable qd5/qd12 rolling fingerprint, so the sample is
    * deterministic, auditable, and bit-reproducible cross-engine —
    * what a production curation pipeline wants from "random".
    *
    * Scale shape: the score side is [[scoreGrain]]'s single tokenize
    * pass; the fingerprint is a second map-only scan of the same
    * table (both shuffle once, doc-grain, for the left join); the
    * top-k plans as TakeOrderedAndProject — per-partition partial
    * top-k then a k-row driver merge, NO global sort exchange
    * (Round10OpsSpec pins it). k rows of output means the selection
    * itself never materializes corpus-grain state beyond the
    * doc-grain join.
    */
  def dsirResample(docs: DataFrame, model: DsirModel,
                   k: Int = 64): DataFrame = {
    // source and fp are doc-constant: thread them through scoreGrain's
    // aggregates as carried keys (a few bytes per token-grain shuffle
    // row) instead of the first cut's SECOND corpus text scan +
    // doc-grain join — fp is computed once per document in the
    // projection BELOW the Generate, so the text column never rides
    // the exploded rows (the qd23 amplification trap), and
    // explode_outer already keeps zero-token docs, so no zero-fill
    // coalesce is needed either.
    val withFp = docs.withColumn("fp",
      graft.functions.DocFingerprint.of(col("text")))
    scoreGrain(withFp, model, carry = Seq("source", "fp"))
      .withColumn("sel_key", expr(keyMicroSql))
      .select(col("doc_id"), col("source"), col("sel_key"),
        (col("score_micro").cast("double") / lit(1000000.0)).as("score"))
      .orderBy(col("sel_key").desc, col("doc_id"))
      .limit(k)
  }

  /** qd56 declared form: 64 docs drawn toward the src0 seed
    * distribution under the cached qd55 model.
    */
  def resampleQuery(s: SparkSession, dir: String): DataFrame =
    dsirResample(Tables.documents(s, dir), dsirModel(s, dir))

  // ── qd58: multiclass Naive Bayes language classifier ──────────────

  /** Dialect-shared per-(token, class) Naive Bayes log-likelihood
    * (valid verbatim in Spark SQL and DuckDB, the [[weightMicroSql]]
    * construction): add-1-smoothed ln((c+1)/(t_l+vn)) quantized to
    * integer micro-nats, where `c` is the class-conditional count of
    * the token, `t_l` the class's total count over the capped
    * vocabulary, and `vn` the vocabulary size. Expects columns `c`,
    * `t_l`, `vn` in scope.
    */
  val nbWeightMicroSql: String =
    "CAST(FLOOR(LN((CAST(c AS DOUBLE) + 1.0) " +
      "/ (CAST(t_l AS DOUBLE) + CAST(vn AS DOUBLE))) " +
      "* 1000000.0 + 0.5) AS BIGINT)"

  /** Dialect-shared class log-prior ln(n_l/n) in micro-nats; expects
    * columns `n_l`, `n` in scope.
    */
  val nbPriorMicroSql: String =
    "CAST(FLOOR(LN(CAST(n_l AS DOUBLE) / CAST(n AS DOUBLE)) " +
      "* 1000000.0 + 0.5) AS BIGINT)"

  /** The trained multinomial Naive Bayes model: class labels (sorted
    * ascending — the tie-break order), the zero-filled class-
    * conditional count grid over the top-`vocabCap` vocabulary, the
    * per-class in-vocabulary totals, and the document-count priors.
    * Driver-sized by construction (vocabCap × L longs — low MB at
    * the 8192×5 default), the same table the scoring join broadcasts.
    */
  final case class NbModel(langs: Array[String],
                           vocab: Array[(String, Array[Long])],
                           tl: Array[Long], vn: Long,
                           nl: Array[Long], n: Long)

  private val nbModels = new graft.io.StampMemo[NbModel]("documents")

  /** Train an [[NbModel]]: one tokenize pass to the (token, lang)
    * count grain (map-side combined), vocabulary capped by (corpus
    * count DESC, token ASC) exactly as [[trainDsir]], counts
    * collected only at the capped grain (≤ vocabCap × L rows — the
    * Ivf-collect class), priors from a lang-grain count.
    */
  def trainNb(docs: DataFrame, vocabCap: Int = 8192): NbModel = {
    val tl = docs.select(col("lang"),
        explode(Dedup.tokens(col("text"))).as("token"))
      .groupBy("token", "lang").agg(count(lit(1)).as("c"))
      .localCheckpoint() // two consumers: vocab cap + capped collect
    val vocabDf = tl.groupBy("token").agg(sum("c").as("c_all"))
      .orderBy(col("c_all").desc, col("token")).limit(vocabCap)
    val counts = tl.join(vocabDf.select("token"), "token")
      .collect()
      .map(r => ((r.getString(0), r.getString(1)), r.getLong(2))).toMap
    val priorRows = docs.groupBy("lang").agg(count(lit(1)).as("n_l"))
      .collect().map(r => (r.getString(0), r.getLong(1))).sortBy(_._1)
    val langs = priorRows.map(_._1)
    val vocabTokens = counts.keysIterator.map(_._1).toArray.distinct
    val grid = vocabTokens.map(t =>
      (t, langs.map(l => counts.getOrElse((t, l), 0L))))
    NbModel(langs, grid,
      langs.indices.map(i => grid.iterator.map(_._2(i)).sum).toArray,
      vocabTokens.length.toLong, priorRows.map(_._2), priorRows.map(_._2).sum)
  }

  /** The amortized declared-query model per cap, memoized over
    * `documents` by [[graft.io.StampMemo]].
    */
  def nbModel(s: SparkSession, dir: String, vocabCap: Int = 8192): NbModel =
    nbModels(dir, vocabCap)(trainNb(Tables.documents(s, dir), vocabCap))

  /** The model as a broadcastable WIDE weight table (token, w_0 …
    * w_{L-1}) — micro-nat weights evaluated from the local count
    * grid through [[nbWeightMicroSql]], the SAME expression text the
    * oracle runs, so they stay bit-identical cross-engine; then
    * pivoted to one column per class so scoring is L conditional
    * sums in ONE doc-grain aggregate instead of an L-way row blowup.
    */
  private def nbWeightTable(s: SparkSession, m: NbModel): DataFrame = {
    import s.implicits._
    val rows = for {
      (tok, cs) <- m.vocab.toSeq
      i <- m.langs.indices
    } yield (tok, m.langs(i), cs(i), m.tl(i))
    rows.toDF("token", "lang", "c", "t_l")
      .withColumn("vn", lit(m.vn))
      .select(col("token"), col("lang"), expr(nbWeightMicroSql).as("w"))
      .groupBy("token").pivot("lang", m.langs.toSeq).agg(first("w"))
      .select(col("token") +:
        m.langs.indices.map(i => col(m.langs(i)).as(s"w_$i")): _*)
  }

  /** Class log-priors in micro-nats, through [[nbPriorMicroSql]] —
    * same bit-parity argument as [[nbWeightTable]]; L-row collect.
    */
  private def nbPriors(s: SparkSession, m: NbModel): Array[Long] = {
    import s.implicits._
    m.langs.zip(m.nl).toSeq.toDF("lang", "n_l")
      .withColumn("n", lit(m.n))
      .select(col("lang"), expr(nbPriorMicroSql).as("p"))
      .collect().sortBy(_.getString(0)).map(_.getLong(1))
  }

  /** qd58 — multiclass Naive Bayes LANGUAGE CLASSIFIER, reported as
    * the resubstitution confusion matrix (actual lang × predicted
    * lang × count): the fastText-style linear text classifier as a
    * closed-form Spark plan. Complements qd4 (fixed marker-list
    * langid heuristic) with a model LEARNED from the corpus's own
    * labels — the production shape for routing unlabeled text, and
    * the standard report for "can the mixture's languages be told
    * apart at all".
    *
    * Scale shape: scoring is ONE corpus pass — tokenize →
    * (doc, token) map-side-combined tf aggregate → broadcast LEFT
    * probe of the ≤vocabCap-row WIDE weight table → ONE doc-grain
    * aggregate computing all L class sums at once → a map-side
    * argmax expression (array_min over (−score, lang) structs — a
    * codegen collection op, not a lambda HOF) → an L²-row confusion
    * aggregate. Two shuffles total, no doc×class row blowup, no
    * window. `explode_outer` keeps token-free documents (they score
    * prior-only, same as the oracle's CROSS JOIN + COALESCE 0).
    * The trainer is one additional pass, amortized per (dir, stamp)
    * via [[nbModel]].
    *
    * Parity: counts are exact BIGINTs both engines; the only doubles
    * are inside [[nbWeightMicroSql]]/[[nbPriorMicroSql]] — shared
    * expression texts evaluated from exact integer inputs — so
    * per-doc score sums are exact long arithmetic (|w| ≤ ~20·10⁶,
    * tf ≤ dl ⇒ far under 2⁶³). Argmax ties break (score DESC, lang
    * ASC) on both sides; vocabulary-cap ties break on the token
    * string.
    */
  def nbConfusion(docs: DataFrame, m: NbModel): DataFrame = {
    val s = docs.sparkSession
    val wide = nbWeightTable(s, m)
    val priors = nbPriors(s, m)
    val tf = docs.select(col("doc_id"), col("lang"),
        explode_outer(Dedup.tokens(col("text"))).as("token"))
      .groupBy("doc_id", "lang", "token").agg(count(lit(1)).as("tf"))
    val classSums = m.langs.indices.map(i =>
      sum(col("tf") * coalesce(col(s"w_$i"), lit(0L))).as(s"s_$i"))
    val sums = tf.join(broadcast(wide), Seq("token"), "left")
      .groupBy("doc_id", "lang")
      .agg(classSums.head, classSums.tail: _*)
    val cands = array(m.langs.indices.map(i => struct(
      (-(col(s"s_$i") + lit(priors(i)))).as("neg"),
      lit(m.langs(i)).as("cand"))): _*)
    sums
      .select(col("lang"), array_min(cands).getField("cand").as("pred_lang"))
      .groupBy("lang", "pred_lang").agg(count(lit(1)).as("n"))
      .orderBy("lang", "pred_lang")
  }

  /** qd58 declared form: the cached model's confusion matrix. */
  def nbQuery(s: SparkSession, dir: String): DataFrame =
    nbConfusion(Tables.documents(s, dir), nbModel(s, dir))
}
