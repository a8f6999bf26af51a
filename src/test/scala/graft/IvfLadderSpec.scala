package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Round-17 calibration-ladder restructure pins: the ladder walk in
  * [[VecAdmission.calibrateOperatingPoint]] now (a) takes per-rung
  * probe sets as PREFIXES of one ranked centroid list instead of
  * re-running the interpreted nearest-centroid HOF per rung, and
  * (b) reuses one scored-candidate frame across a probe rung's four
  * shortlist rungs through the [[VecAdmission.scoredCandidates]] /
  * [[VecAdmission.rerankShortlist]] split of admit. Both moves must
  * be result-IDENTICAL to running [[VecAdmission.admit]] at each
  * (nProbe, shortlist) pair — that is what keeps qs47's calibrated
  * operating point, and therefore its verdicts, unchanged.
  */
class IvfLadderSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  test("rankedProbeCells prefix equals probeCells at every rung") {
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val model = Ivf.train(emb, k = 8, iters = 2)
    val ranked = Ivf.rankedProbeCells(emb, model)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2)))
    for (n <- Seq(2, 4, 8)) {
      val prefix = ranked.filter(_._2 < n).map(t => (t._1, t._3)).toSet
      val direct = Ivf.probeCells(emb, model, n)
        .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
      assert(prefix == direct, s"prefix mismatch at nProbe=$n")
    }
  }

  test("ladder rung through the split halves equals admit at the same config") {
    val s = spark
    val model = VecAdmission.corpusModel(s, dir)
    val sq = VecAdmission.corpusSqModel(s, dir)
    val arrivals = VecAdmission.arrivalEmb(s, dir)
    val cells = VecAdmission.storedCells(s, dir)
    val codes = VecAdmission.storedCodes(s, dir)
    val corpus = VecAdmission.corpusEmb(s, dir)
    val q = arrivals.select(col("query_id"), col("q_emb"),
      sqrt(graft.functions.VecDot.of(col("q_emb"), col("q_emb")))
        .as("q_nrm"))
    val rankedProbes = Ivf.rankedProbeCells(
        arrivals.select(col("query_id").as("vec_id"),
          col("q_emb").as("embedding")), model)
      .select(col("vec_id").as("query_id"), col("_pr"), col("probe"))
    def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Int)] =
      df.select("query_id", "vec_id", "rnk")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    for (np <- Seq(2, 4); sl <- Seq(40, 80)) {
      val viaHalves = VecAdmission.rerankShortlist(
        VecAdmission.scoredCandidates(q,
          rankedProbes.filter(col("_pr") < np).select("query_id", "probe"),
          cells, codes, sq),
        corpus, q, k = 10, shortlist = sl)
      val viaAdmit = VecAdmission.admit(arrivals, cells, codes, corpus,
        model, sq, k = 10, nProbe = np, shortlist = sl)
      assert(pairs(viaHalves) == pairs(viaAdmit),
        s"rung (nProbe=$np, shortlist=$sl) diverged from admit")
    }
  }

  test("rungPairs one-job evaluation equals rerankShortlist per rung") {
    val s = spark
    val model = VecAdmission.corpusModel(s, dir)
    val sq = VecAdmission.corpusSqModel(s, dir)
    val arrivals = VecAdmission.arrivalEmb(s, dir)
    val cells = VecAdmission.storedCells(s, dir)
    val codes = VecAdmission.storedCodes(s, dir)
    val corpus = VecAdmission.corpusEmb(s, dir)
    val q = arrivals.select(col("query_id"), col("q_emb"),
      sqrt(graft.functions.VecDot.of(col("q_emb"), col("q_emb")))
        .as("q_nrm"))
    val rankedProbes = Ivf.rankedProbeCells(
        arrivals.select(col("query_id").as("vec_id"),
          col("q_emb").as("embedding")), model)
      .select(col("vec_id").as("query_id"), col("_pr"), col("probe"))
    // the calibration ladder's shape: nested rungs, k=10
    val shortLadder = Seq(40, 80, 160, 320)
    for (np <- Seq(2, 4)) {
      val scored = VecAdmission.scoredCandidates(q,
        rankedProbes.filter(col("_pr") < np).select("query_id", "probe"),
        cells, codes, sq)
      val bySl = VecAdmission.rungPairs(scored, corpus, q, k = 10,
          shortLadder)
        .collect().groupBy(_.getInt(0))
        .map { case (sl, rows) =>
          sl -> rows.map(r => (r.getLong(1), r.getLong(2))).toSet
        }
      for (sl <- shortLadder) {
        val direct = VecAdmission
          .rerankShortlist(scored, corpus, q, k = 10, shortlist = sl)
          .select("query_id", "vec_id")
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        assert(bySl.getOrElse(sl, Set.empty[(Long, Long)]) == direct,
          s"one-job rung (nProbe=$np, shortlist=$sl) diverged")
      }
    }
  }
}
