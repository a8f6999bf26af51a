package graft

import graft.operators.Relational

/** Plan-shape regression tests: the scale properties we audited by
  * hand (pushdown, pruning, broadcast joins, top-k without full
  * sort) asserted against the optimized physical plan, so a future
  * refactor can't silently regress them.
  */
class PlanSpec extends SparkSpec
    with org.scalatest.BeforeAndAfterAll {

  val sf = "/root/testdata/sf0.001"

  /** Plans are audited against uncached state: a raw-table cache left
    * by an earlier suite in the shared session makes CacheManager
    * substitute an InMemoryRelation whose rendering embeds the
    * full-column child FileScan, and every ReadSchema/pruning
    * assertion then reads the cached scan's line instead of this
    * query's (qd19 failed exactly this way under full-suite order).
    */
  override def beforeAll(): Unit = {
    super.beforeAll()
    spark.catalog.clearCache()
  }

  private def plan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("q02: filter is pushed into the parquet scan") {
    val p = plan(Relational.q02(spark, sf))
    assert(p.contains("PushedFilters") && p.contains("GreaterThan(l_quantity"))
  }

  test("q02: scan reads only the three projected columns") {
    val p = plan(Relational.q02(spark, sf))
    val read = p.linesIterator.find(_.contains("ReadSchema")).get
    assert(read.contains("l_orderkey") && read.contains("l_quantity"))
    assert(!read.contains("l_extendedprice") && !read.contains("l_shipdate"))
  }

  test("q04: all three dimension joins are broadcast, fact streams") {
    val p = plan(Relational.q04(spark, sf))
    assert("BroadcastHashJoin".r.findAllIn(p).size == 3, p)
    assert(!p.contains("SortMergeJoin"))
  }

  test("q12: top-k plans as TakeOrderedAndProject, not a global sort") {
    val p = plan(Relational.q12(spark, sf))
    assert(p.contains("TakeOrderedAndProject"))
  }

  test("q06: aggregation is partial+final (map-side combine present)") {
    val p = plan(Relational.q06(spark, sf))
    assert("HashAggregate".r.findAllIn(p).size >= 2)
  }

  test("qd1: dedup window group-limit prunes before the shuffle") {
    val p = plan(graft.operators.TrainingOps.dedupExact(spark, sf))
    assert(p.contains("WindowGroupLimit"))
  }

  // ---- dedup / ANN family: the scale shapes the specs otherwise
  // only prove by value (VERDICT r1 next-round #8) ----------------

  private def noAllPairs(p: String): Unit = {
    assert(!p.contains("CartesianProduct"), "all-pairs cartesian in plan")
    assert(!p.contains("BroadcastNestedLoopJoin"), "nested-loop join in plan")
  }

  test("qd6: minhash pipeline is equi-join only, with partial aggregation") {
    // materialize = false: the declared form eager-checkpoints its
    // pair-sized result (lifecycle), which would hide the pipeline
    // behind an ExistingRDD scan — the pin's subject is the
    // computation shape, identical modulo the materialization point
    val p = plan(graft.operators.Dedup.minhashNearDups(
      graft.core.Tables.documents(spark, sf), "doc_id", "text",
      threshold = 0.9, materialize = false))
    noAllPairs(p)
    // signature min-aggregates must combine map-side: partial + final
    assert("HashAggregate".r.findAllIn(p).size >= 2)
  }

  test("qe2: LSH kNN blocks via equi-join, no cartesian") {
    noAllPairs(plan(graft.operators.TrainingOps.knnLsh(spark, sf)))
  }

  test("qd59/qd61 sketch family: map-side-combined aggregates, " +
    "no corpus-scale join") {
    // qd59: the register path is aggregate-only off the one item
    // grain — partial + final HashAggregates, no join touches corpus
    // rows (the report join is sources × 2)
    val p59 = plan(graft.operators.Sketch.hllProfile(
      graft.core.Tables.documents(spark, sf)))
    noAllPairs(p59)
    assert("HashAggregate".r.findAllIn(p59).size >= 4,
      "register + exact aggregates must combine map-side")
    // qd61: the histogram leg is one map-combined aggregate; the only
    // per-row window is the exact TRUTH column's rank (the state the
    // sketch exists to replace — dropped in production)
    val p61 = plan(graft.operators.Sketch.quantileSketch(
      graft.core.Tables.documents(spark, sf)))
    noAllPairs(p61)
    assert("HashAggregate".r.findAllIn(p61).size >= 2)
  }

  test("qd62/qd63 sketch family: partial top-k before the shuffle, " +
    "broadcast report joins") {
    // qd62: the truth leg's top-5 must ride WindowGroupLimit (the
    // per-partition partial top-k — a regression to a full per-source
    // sort+window would be silent otherwise), the candidate side of
    // the report join must broadcast, and nothing goes all-pairs
    val docs = graft.core.Tables.documents(spark, sf)
    val p62 = plan(graft.operators.Sketch.cmHeavyHitters(docs))
    noAllPairs(p62)
    assert(p62.contains("WindowGroupLimit"),
      "top-5 must prune per-partition before the shuffle")
    assert(p62.contains("BroadcastHashJoin"),
      "the report join must broadcast the candidate side")
    // qd63: same WindowGroupLimit contract for the bottom-k sample
    val p63 = plan(graft.operators.Sketch.bottomkProfile(docs))
    noAllPairs(p63)
    assert(p63.contains("WindowGroupLimit"),
      "bottom-k must prune per-partition before the shuffle")
  }

  test("qe3 declared (parity geometry): broadcast verify, no pair shuffles") {
    // 1-bit bands degenerate to a complement-signature compare, so the
    // declared query is ONE broadcast nested-loop verify — the O(n^2)
    // work happens inside a codegen stage, and no exchange ever moves
    // pair rows (the only shuffles build the per-vector signatures).
    // materialize = false: plan-inspection mode (the qd6 pin's note).
    val df = graft.operators.Similarity.embeddingNearDups(
      graft.core.Tables.embeddings(spark, sf), threshold = 0.3,
      nPlanes = 16, nBands = 16, materialize = false)
    val p = plan(df)
    assert(p.contains("BroadcastNestedLoopJoin"))
    assert(!p.contains("CartesianProduct"))
    def allNodes(sp: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.SparkPlan] = sp match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        sp +: allNodes(a.executedPlan)
      case _ => sp +: sp.children.flatMap(allNodes)
    }
    val exchanges = allNodes(df.queryExecution.executedPlan).collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeLike =>
        e.output.map(_.name)
    }
    exchanges.foreach { out =>
      // the only pair-row exchange allowed is the final output sort of
      // the (already filtered) result — never candidate pairs, never
      // embedding payloads
      assert(out.toSet == Set("id_a", "id_b", "sim") ||
        !out.exists(n => n.startsWith("id_") || n.startsWith("emb_")),
        s"candidate pairs crossed an exchange: $out")
    }
  }

  test("qe3 selective geometry: exchanges carry ids, embeddings rejoin after distinct") {
    val df = graft.operators.Similarity.embeddingNearDups(
      spark.read.parquet(s"$sf/embeddings.parquet"), threshold = 0.3)
    val p = plan(df)
    noAllPairs(p)
    // every shuffle that moves pair rows must be embedding-free: no
    // exchange output may carry both pair-side embedding payloads.
    // (AQE wraps the plan in AdaptiveSparkPlanExec, which hides its
    // inner plan from TreeNode.collect — recurse through it.)
    def allNodes(sp: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.SparkPlan] = sp match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        sp +: allNodes(a.executedPlan)
      case _ => sp +: sp.children.flatMap(allNodes)
    }
    val exchanges = allNodes(df.queryExecution.executedPlan).collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeLike =>
        e.output.map(_.name)
    }
    assert(exchanges.nonEmpty)
    exchanges.foreach { out =>
      assert(!(out.contains("emb_a") && out.contains("emb_b")),
        s"pair-magnitude exchange carries embedding payloads: $out")
    }
    // the candidate-dedup exchange is exactly the two ids
    assert(exchanges.exists(out => out.toSet == Set("id_a", "id_b")),
      s"no ids-only distinct exchange found: $exchanges")
  }

  test("qd14: benchmark gram side broadcasts, source filters pushed to scans") {
    val p = plan(graft.operators.TrainingOps.decontaminate(spark, sf))
    assert(p.contains("BroadcastHashJoin"), "bench-gram join must broadcast")
    assert(!p.contains("SortMergeJoin"))
    // filter text differs by scan kind: FileScan renders PushedFilters
    // `EqualTo(source,src0)`, but when another suite has cached the
    // documents table the scan is an InMemoryTableScan rendering
    // `(source#N = src0)` — accept either, the invariant is that the
    // source predicates sit at scan level on both sides
    assert("EqualTo\\(source,src0\\)|\\(source#\\d+ = src0\\)".r
      .findFirstIn(p).isDefined,
      "benchmark filter must reach the scan")
    assert("Not\\(EqualTo\\(source,src0\\)\\)|NOT \\(source#\\d+ = src0\\)".r
      .findFirstIn(p).isDefined,
      "corpus filter must reach the scan")
  }

  test("qd42: model and stats broadcast, corpus side never gram-shuffles") {
    val p = plan(graft.operators.TrainingOps.crossPerplexity(spark, sf))
    assert(p.contains("BroadcastHashJoin"),
      "the scored-model join must broadcast the model side")
    assert(!p.contains("SortMergeJoin"),
      "the corpus bigram grain must never shuffle on the bigram key")
    // the 1-row stats frame rides BroadcastNestedLoopJoin cross joins
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).size >= 1, p)
  }

  test("qd30: hot-gram membership broadcasts; one per-doc lead window") {
    val p = plan(graft.operators.TrainingOps.hotSpansQuery(spark, sf))
    assert(p.contains("BroadcastHashJoin"),
      "the >= minDf hot-gram set is report-sized and must broadcast")
    // the gram subtree feeds TWO consumers (hot-gram derivation +
    // coverage join) and is deliberately NOT persisted (hotSpans
    // scaladoc: recompute measured cheaper at gate scale), so the
    // lead-window appears once per consumer — exactly twice, never
    // more (a third copy would mean a new unshared consumer)
    assert("\\bWindow\\b".r.findAllIn(p).size == 2,
      "one lead-window per gram consumer, three leads sharing each: " + p)
  }

  test("qp4: compacted read-back is scan + one range exchange") {
    // NOTE: building this frame EXECUTES the two write phases
    // (fragment + compact at sf0.001) — the declared query's contract
    val p = plan(graft.operators.Marts.compactionRoundtrip(spark, sf))
    assert("Exchange".r.findAllIn(p).size == 1,
      "read-back must be scan -> one rangepartitioning exchange " +
        "for the output sort, nothing else: " + p)
    assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastHashJoin"),
      "compaction is a pure layout change — no joins in the read-back")
  }

  test("qd66: eval gram side broadcasts, source filters pushed to scans") {
    val p = plan(graft.operators.Dedup.spanDecontaminateQuery(spark, sf))
    assert(p.contains("BroadcastHashJoin"), "eval-gram join must broadcast")
    // the rebuild's (doc_id, pos) join may sort-merge (both sides are
    // training-corpus-sized); the GRAM join must not — pin that no
    // sort-merge joins on the gram column
    assert(!"SortMergeJoin.*\\bg#".r.findFirstIn(p).isDefined,
      "gram join must not shuffle the training side on the gram key")
    assert("EqualTo\\(source,src0\\)|\\(source#\\d+ = src0\\)".r
      .findFirstIn(p).isDefined,
      "eval filter must reach the scan")
    assert("Not\\(EqualTo\\(source,src0\\)\\)|NOT \\(source#\\d+ = src0\\)".r
      .findFirstIn(p).isDefined,
      "training filter must reach the scan")
  }

  /** Every join line carrying the DP must short-circuit the cheap
    * prunes first: within the rendered condition the histogram-L1
    * fold (zip_with) has to appear BEFORE the banded levenshtein —
    * codegen evaluates conjuncts in printed order, and the regression
    * this pins was real (the pushed DP predicate landed ahead of
    * every prune and ran on each bucket collision).
    */
  private def assertBandedVerifyOrdered(p: String): Unit = {
    assert(p.contains("levenshtein") && p.contains("Some(12)"),
      "verify must be the threshold (banded-DP) levenshtein form: " + p)
    val joinLines = p.linesIterator.filter(l =>
      l.contains("Join") && l.contains("levenshtein")).toSeq
    assert(joinLines.nonEmpty, "DP predicate must sit on a join: " + p)
    joinLines.foreach { l =>
      val l1 = l.indexOf("hist_l1")
      val lev = l.indexOf("levenshtein")
      assert(l1 >= 0 && l1 < lev,
        "cheap prunes must short-circuit ahead of the DP: " + l)
      assert(!l.contains("zip_with") && !l.contains("element_at"),
        "L1 must be the HistL1 codegen loop — the HOF fold is " +
          "interpreted and the unrolled element_at form un-fuses the " +
          "stage: " + l)
    }
  }

  test("qd67: equi-join on the length bucket, banded verify, never cartesian") {
    val p = plan(graft.operators.EditJoin.editNearDupsQuery(spark, sf))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      "candidate generation must be an equi-join on the bucket key: " + p)
    assertBandedVerifyOrdered(p)
  }

  test("qd68: both candidate paths are equi-joins, never cartesian") {
    val p = plan(graft.operators.EditJoin.editNearDupsSegQuery(spark, sf))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      "segment index and band path must both stay equi-joins: " + p)
    assertBandedVerifyOrdered(p)
    // candidate pairs are distinct'd BEFORE the text join-backs — the
    // dedupe must aggregate (ida, idb), not carry texts through it
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      "pair distinct must be partial+final on ids only: " + p)
  }

  test("qd69: admission probes stored artifacts, never cartesian") {
    // NOTE: building this frame materializes the two ArtifactStore
    // inputs at sf0.001 (the declared query's contract, qp4 precedent)
    val p = plan(graft.operators.EditJoin.editAdmissionQuery(spark, sf))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      "index probe and band path must stay equi-joins: " + p)
    assert(p.contains("levenshtein") && p.contains("Some(12)"),
      "verify must be the threshold (banded-DP) levenshtein form: " + p)
    // both corpus-side inputs come from the stored parquet artifacts,
    // not a re-derivation: the window/signature scans read scratch
    // parquet (no posexplode of corpus text in THIS plan's long path
    // — only the batch side generates)
    assert(p.contains("graft-artifacts") || p.contains("edit_windex"),
      "corpus index must be read from the stored artifact: " + p)
  }

  test("qd76: gen-2 admission probes the PUBLISHED gen-1 artifacts, never cartesian") {
    // NOTE: building this frame materializes the gen-1 verdict +
    // published artifacts at sf0.001 (the qd69/qp4 precedent)
    val p = plan(graft.operators.EditJoin.editSeqAdmissionQuery(spark, sf))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      "index probe and band path must stay equi-joins: " + p)
    assert(p.contains("levenshtein") && p.contains("Some(12)"),
      "verify must be the threshold (banded-DP) levenshtein form: " + p)
    // the gen-2 probe's corpus side must be the PUBLISHED gen-1
    // artifacts (gen-0 ∪ survivors), not the gen-0 trees and not a
    // re-derivation — the sequential claim's read side
    assert(p.contains("edit_windex_g1") && p.contains("edit_sigs_g1"),
      "gen-2 must probe the published gen-1 artifacts: " + p)
  }

  // The streaming drains (qs39/qs44/qs46/qs48) hand the admission
  // operators a foreachBatch frame: a LogicalRDD with default, huge
  // statistics, so only hints or a small corpus side can broadcast.
  // The declared queries return the post-drain read, so their own
  // plans never show these; the pins run the operators as the drains
  // do (plans/r18/drain_*_after.txt records the same strategies).
  private def drainSplit: (org.apache.spark.sql.DataFrame,
      org.apache.spark.sql.DataFrame) = {
    import org.apache.spark.sql.functions.col
    val docs = graft.core.Tables.documents(spark, sf)
    val batch = docs.where(col("source") === "src19")
    (docs.where(col("source") =!= "src19"),
      spark.createDataFrame(batch.rdd, batch.schema))
  }

  private def joinCounts(p: String): (Int, Int) =
    ("BroadcastHashJoin".r.findAllIn(p).size, "SortMergeJoin".r.findAllIn(p).size)

  test("drain editAdmission: the batch probes broadcast corpus sides, never cartesian") {
    import graft.operators.EditJoin
    val (corpus, batch) = drainSplit
    val p = plan(EditJoin.editAdmission(corpus,
      EditJoin.storedWindowIndex(spark, sf, corpus),
      EditJoin.storedSignatures(spark, sf, corpus), batch, "doc_id", "text"))
    noAllPairs(p)
    // window probe, band probe, signature and text join-backs
    // broadcast; the candidate/batch join and the verdict join shuffle
    assert(joinCounts(p) == (4, 2), p)
  }

  test("drain admitAgainst: batch-derived sides broadcast, one verify shuffle") {
    val (corpus, batch) = drainSplit
    val p = plan(graft.operators.Dedup.admitAgainst(corpus,
      graft.operators.TrainingOps.corpusBands(spark, sf), batch,
      threshold = 0.9, materialize = false))
    noAllPairs(p)
    // batch bands (x3), the band-collision pair set, the candidate ids
    // (x2) and the verdicts broadcast; only the Jaccard verify shuffles
    assert(joinCounts(p) == (7, 1), p)
  }

  test("qe25: admission probes stored artifacts, never cartesian") {
    // NOTE: building this frame materializes the cell/code artifacts
    // at sf0.001 (the declared query's contract, qd69 precedent)
    val p = plan(graft.operators.VecAdmission.vecAdmissionQuery(spark, sf))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      "cell probe, code join and re-rank must all stay equi-joins: " + p)
    assert(p.contains("vec_admit_cells") && p.contains("vec_admit_codes"),
      "both corpus-side index inputs must be read from the stored " +
        "parquet artifacts, not re-derived: " + p)
    // the corpus never shuffles on a per-batch key: the probe list is
    // the broadcast side of the cell join
    assert(p.contains("BroadcastHashJoin"),
      "the batch side must broadcast into the stored index: " + p)
  }

  test("qe26: lang filter reaches the documents scan, cell join stays equi") {
    val p = plan(graft.operators.TrainingOps.knnFiltered(spark, sf))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      "filtered search must stay equi-joins: " + p)
    assert("EqualTo\\(lang,en\\)|\\(lang#\\d+ = en\\)".r.findFirstIn(p).isDefined,
      "the lang predicate must reach the documents scan: " + p)
    assert(p.contains("BroadcastHashJoin"),
      "probe list must broadcast into the filtered corpus: " + p)
  }

  test("qx29: the SQL surface's unbounded predicate plans banded, equi-join only") {
    val p = plan(graft.operators.Extras.editSqlSurface(spark, sf))
    assert(p.contains("Some(12)"),
      "the optimizer rule must rewrite the <= 12 predicate: " + p)
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      "LATERAL VIEW bucket neighbourhood must keep an equi-join: " + p)
    val joinLine = p.linesIterator
      .find(l => l.contains("Join") && l.contains("levenshtein")).get
    assert(joinLine.contains("Some(12)"),
      "the banded form must sit in the join condition: " + joinLine)
  }

  test("qx28: ORC read-back gets pushdown and pruning like parquet") {
    // building the frame writes the ORC tree once at sf0.001 (qp4
    // precedent: the declared query's contract includes its write)
    val p = plan(graft.operators.Extras.orcRoundtrip(spark, sf))
    assert(p.contains("PushedFilters") &&
      p.contains("GreaterThanOrEqual(n_chars,200)"),
      "the slice filter must reach the ORC scan: " + p)
    val read = p.linesIterator.find(_.contains("ReadSchema")).get
    assert(read.contains("source") && read.contains("n_chars") &&
      read.contains("doc_id") && !read.contains("text"),
      "projection must prune the text column at the ORC scan: " + read)
  }

  test("qs6: bounded-frame window is one Window over one partition shuffle") {
    val p = plan(graft.operators.Events.movingAvg(spark, sf))
    assert("\\bWindow\\b".r.findAllIn(p).size == 1, p)
    // both frame aggregates (sum + count) share the single Window node;
    // shuffles = the user_id partition + the final output sort only
    assert("Exchange".r.findAllIn(p).size <= 3)
  }

  test("qd15: explicit-values pivot is partial+final aggregation, one data shuffle") {
    val p = plan(graft.operators.TrainingOps.sourceLangPivot(spark, sf))
    assert("HashAggregate".r.findAllIn(p).size >= 2, "map-side combine")
    assert(!p.contains("Expand"), "explicit value list must not Expand")
  }

  test("qx11: typed top-k is a partial+final object aggregate") {
    val p = plan(graft.operators.Events.topSpendersTyped(spark, sf))
    // the TopKAggregator plans as ObjectHashAggregate partial+final —
    // losers are dropped map-side, never shuffled or sorted
    assert("ObjectHashAggregate".r.findAllIn(p).size >= 2, p)
  }

  test("qx12: salted join spreads keys over (key, salt), small side replicated") {
    val p = plan(graft.operators.Extras.saltedEnrich(spark, sf))
    assert(p.contains("_salt"), p)
    assert(p.contains("Generate"), s"salt replication (explode) missing:\n$p")
    noAllPairs(p)
  }

  test("qx13: bucketed tables join with zero hash-partition exchanges") {
    val p = plan(graft.operators.Extras.bucketedJoin(spark, sf))
    assert(p.contains("SortMergeJoin"), p)
    assert(p.contains("Bucketed: true"), s"scan is not bucketed:\n$p")
    // the only allowed exchange is the final output sort's range
    // partitioning — the join itself must be co-located
    assert(!p.contains("Exchange hashpartitioning"),
      s"bucketed join still shuffles:\n$p")
  }

  test("qp1: month/store predicates prune partitions at the scan") {
    val df = graft.operators.Marts.prunedMartRead(spark, sf)
    val p = plan(df)
    // the predicates must resolve against directory names, not rows
    assert("PartitionFilters: \\[[^\\]]*month".r.findFirstIn(p).isDefined,
      s"month predicate did not become a PartitionFilter:\n$p")
    assert("PartitionFilters: \\[[^\\]]*store".r.findFirstIn(p).isDefined,
      s"store predicate did not become a PartitionFilter:\n$p")
    // and the executed scan must open ONLY the matching directories
    df.collect()
    def allNodes(sp: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.SparkPlan] = sp match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        sp +: allNodes(a.executedPlan)
      // materialized AQE stages hang off .plan, not .children
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        sp +: allNodes(q.plan)
      case _ => sp +: sp.children.flatMap(allNodes)
    }
    val scan = allNodes(df.queryExecution.executedPlan).collectFirst {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }.get
    val root = new java.io.File(graft.operators.Marts.ensurePartitionedMart(spark, sf))
    def parquetFiles(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(parquetFiles)
      else if (f.getName.endsWith(".parquet")) Seq(f) else Seq.empty
    val all = parquetFiles(root)
    val matching = all.count { f =>
      val path = f.getAbsolutePath
      val m = "month=([0-9-]+)".r.findFirstMatchIn(path).get.group(1)
      val st = "store=([0-9]+)".r.findFirstMatchIn(path).get.group(1).toInt
      m >= "1996-01" && m < "1997-01" && st < 5
    }
    val scanned = scan.metrics("numFiles").value
    assert(matching > 0 && matching < all.size,
      s"degenerate layout: $matching of ${all.size} files match")
    assert(scanned == matching,
      s"scan opened $scanned files, expected the $matching matching ones " +
        s"of ${all.size}")
  }

  test("qp5: box predicate is pushed into the z-ordered scan") {
    val df = graft.operators.Marts.zorderBoxRead(spark, sf)
    // both range bounds of both keys must reach parquet — row-group
    // stats pruning over the z-clustered layout happens in the scan.
    // Read the scan node's metadata (plan toString truncates the list).
    def scans(sp: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.FileSourceScanExec] = sp match {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => Seq(f)
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        scans(a.executedPlan)
      case _ => sp.children.flatMap(scans)
    }
    val pushed = scans(df.queryExecution.executedPlan)
      .map(_.metadata("PushedFilters")).mkString("\n")
    assert(pushed.contains("GreaterThanOrEqual(l_partkey,100)"), pushed)
    assert(pushed.contains("LessThanOrEqual(l_partkey,199)"), pushed)
    assert(pushed.contains("GreaterThanOrEqual(l_suppkey,1)"), pushed)
    assert(pushed.contains("LessThanOrEqual(l_suppkey,4)"), pushed)
  }

  test("qd17: chunking is map-only — no exchange before the output sort") {
    val p = plan(graft.operators.TextPrep.chunkQuery(spark, sf))
    assert(p.contains("Generate") && p.contains("explode"), p)
    // the only exchange is the output-order range partitioning
    assert("Exchange".r.findAllIn(p).size == 1, p)
    assert(p.contains("rangepartitioning"), p)
  }

  test("qd18: stopword strip is shuffle-free, pure regex, no array HOF") {
    val p = plan(graft.operators.TextPrep.stripQuery(spark, sf))
    // the only exchange is the output-order range partitioning
    assert("Exchange".r.findAllIn(p).size == 1, p)
    // round-10 shape: three codegen regex traversals (2 replace +
    // 1 count) — the interpreted split/filter HOF form must stay out
    // of the declared plan (it drops the whole stage to interpreted
    // eval; stripStopwordsHof remains only as TextPrepSpec's truth)
    assert("regexp_replace\\(".r.findAllIn(p).size == 2, p)
    // regexp_count is RuntimeReplaceable → size(regexp_extract_all)
    assert("regexp_extract_all\\(".r.findAllIn(p).size == 1, p)
    assert(!p.contains("split("), p)
    assert(!p.contains("filter("), p)
  }

  test("qe5: norm audit combines map-side; the scan reads two columns") {
    // sf0.01, not this suite's sf0.001: SimilaritySpec caches the full
    // sf0.001 embeddings table, and the JVM-shared CacheManager would
    // legitimately substitute that InMemoryRelation here — hiding the
    // parquet scan this test pins.
    val p = plan(graft.operators.TrainingOps.normAudit(
      spark, "/root/testdata/sf0.01"))
    assert("HashAggregate".r.findAllIn(p).size >= 2, "partial+final")
    val read = p.linesIterator.find(_.contains("ReadSchema")).get
    assert(read.contains("embedding") && read.contains("label"))
    assert(!read.contains("vec_id"), read)
  }

  test("qx14: row_number and lead share ONE Window pass over one key exchange") {
    val p = plan(graft.operators.Scd2.customerHistory(spark, sf))
    assert("\\bWindow\\b".r.findAllIn(p).size == 1, p)
    assert("hashpartitioning\\(o_custkey".r.findAllIn(p).size == 1, p)
    // key exchange + output-order exchange, nothing else
    assert("Exchange".r.findAllIn(p).size == 2, p)
  }

  test("qd19: packing reuses the window's exchange for the aggregate") {
    val p = plan(graft.operators.TextPrep.packQuery(spark, sf))
    // one hash exchange on the shard key feeds BOTH the window cumsum
    // and the partial+final aggregate (group keys (source, bin) are
    // clustered by the source partitioning); the only other exchange
    // is the output-order range partitioning
    assert("hashpartitioning\\(source".r.findAllIn(p).size == 1, p)
    assert("Exchange".r.findAllIn(p).size == 2, p)
    assert("HashAggregate".r.findAllIn(p).size == 2, "partial+final")
    val read = p.linesIterator.find(_.contains("ReadSchema")).get
    assert(!read.contains("text") && !read.contains("lang"), read)
  }

  test("qx15: upsert prunes latest-per-key map-side and pushes the cutoff") {
    val p = plan(graft.operators.Scd2.customerUpsert(spark, sf))
    // each side gets a WindowGroupLimit BELOW its exchange (map-side
    // rn=1 prune) and one above: 4 total for the two sides
    assert("WindowGroupLimit".r.findAllIn(p).size == 4, p)
    assert(p.contains("SortMergeJoin FullOuter") ||
      p.contains("SortMergeJoin [o_custkey") || p.contains("FullOuter"), p)
    // the date cutoff reaches both parquet scans
    assert("PushedFilters: .*o_orderdate".r.findAllIn(p).size == 2, p)
  }

  test("qs10: native session windows — MergingSessions on one user_id exchange") {
    val p = plan(graft.operators.Events.sessionWindow(spark, sf))
    assert(p.contains("MergingSessions"), p)
    assert("hashpartitioning\\(user_id".r.findAllIn(p).size == 1, p)
  }

  test("qs11: funnel is ONE event scan, one grain exchange, three chained windows") {
    val p = plan(graft.operators.Events.funnel(spark, sf))
    assert("Scan parquet".r.findAllIn(p).size == 1,
      "funnel must not rescan events per stage")
    assert(p.contains("In(event_type"), "type filter pushed to the scan")
    assert("\\bWindow\\b".r.findAllIn(p).size == 3, p)
    assert("hashpartitioning\\(user_id#\\d+L, day".r.findAllIn(p).size == 1, p)
  }

  test("qd20: lexical diversity is map-only and prunes to (doc_id, text)") {
    val p = plan(graft.operators.TrainingOps.lexicalDiversity(spark, sf))
    // only the output-order range exchange — no hash shuffle at all
    assert(!p.contains("hashpartitioning"), p)
    val read = p.linesIterator.find(_.contains("ReadSchema")).get
    assert(!read.contains("lang") && !read.contains("source") &&
      !read.contains("n_chars"), read)
  }

  test("qd21: entropy exchanges carry histograms (partial agg below the shuffle)") {
    val p = plan(graft.operators.TrainingOps.charEntropy(spark, sf))
    // explode -> partial agg -> exchange on (doc_id, n_chars, ch),
    // then final+partial -> exchange on doc_id: two hash exchanges
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 2, p)
    assert("HashAggregate".r.findAllIn(p).size == 4, "partial+final x2")
    val read = p.linesIterator.find(_.contains("ReadSchema")).get
    assert(!read.contains("lang") && !read.contains("source"), read)
  }

  test("qx16: SQL-surface mart plans like the DataFrame twin (broadcast dims)") {
    val p = plan(graft.operators.Extras.sqlMart(spark, sf))
    assert("BroadcastHashJoin".r.findAllIn(p).size == 2, p)
    assert(!p.contains("SortMergeJoin"), p)
    assert("HashAggregate".r.findAllIn(p).size >= 2, "partial+final agg")
    assert("\\bWindow\\b".r.findAllIn(p).size == 1, p)
  }

  test("qx17: distribution windows share ONE Window pass") {
    val p = plan(graft.operators.Events.spendDistribution(spark, sf))
    // ntile + percent_rank (RowFrame) and cume_dist (RangeFrame) all
    // evaluate in a single Window node over one sorted pass; the only
    // hash exchanges are the spend agg's and the window's repartition
    assert("\\bWindow\\b".r.findAllIn(p).size == 1, p)
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 2, p)
  }

  test("qx18: grouping sets are ONE Expand + one partial+final aggregate") {
    val p = plan(graft.operators.Extras.groupingSetsAgg(spark, sf))
    assert("\\bExpand\\b".r.findAllIn(p).size == 1,
      "three grouping sets must share one Expand, not three scans")
    assert("Scan parquet".r.findAllIn(p).size == 1, p)
    assert("HashAggregate".r.findAllIn(p).size == 2, "partial+final")
  }

  test("qd22: vocab filter is a broadcast join — the token stream never reshuffles") {
    val p = plan(graft.operators.TrainingOps.pruneVocab(spark, sf))
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
    // docs scanned for the df build and the rewrite (+ the count-star
    // scalar, satisfied from parquet stats) — never more
    assert("Scan parquet".r.findAllIn(p).size <= 3, p)
  }

  test("qd23: the LM model broadcasts into the scoring join") {
    val p = plan(graft.operators.TrainingOps.bigramLm(spark, sf))
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("qp2: dim-side filter prunes fact partitions at RUNTIME (DPP)") {
    val df = graft.operators.Marts.dppMartRead(spark, sf)
    val p = plan(df)
    // no literal store predicate exists — pruning must come from the
    // join's broadcast, as a dynamicpruning expression in the scan
    assert(p.contains("dynamicpruningexpression"),
      s"no dynamic partition pruning in plan:\n$p")
    df.collect()
    def allNodes(sp: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.SparkPlan] = sp match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        sp +: allNodes(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        sp +: allNodes(q.plan)
      case _ => sp +: sp.children.flatMap(allNodes)
    }
    val scan = allNodes(df.queryExecution.executedPlan).collectFirst {
      case f: org.apache.spark.sql.execution.FileSourceScanExec
        if f.metrics.contains("staticFilesNum") => f
    }.get
    // staticFilesNum = files surviving static pruning (all of them —
    // there is no literal filter); numFiles = after the runtime DPP
    // cut. The gap IS the dynamic pruning.
    val static = scan.metrics("staticFilesNum").value
    val opened = scan.metrics("numFiles").value
    assert(opened < static,
      s"DPP opened $opened of $static files — nothing was pruned")
  }

  test("qp3: runtime bloom filter kills fact rows at the scan, inside the conf scope only") {
    graft.operators.Marts.withBloomConfs(spark) {
      val df = graft.operators.Marts.bloomJoinPlan(spark, sf)
      val p = plan(df)
      assert(p.contains("might_contain") && p.contains("bloom_filter_agg"),
        s"no injected runtime bloom filter in plan:\n$p")
      // the shape the filter exists for: a SHUFFLE join (broadcast is
      // scope-disabled), with the might_contain predicate evaluated
      // at the lineitem side BEFORE its exchange
      assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"), p)
      val mightContainAboveScan = p.linesIterator
        .dropWhile(!_.contains("might_contain("))
        .exists(_.contains("lineitem.parquet"))
      assert(mightContainAboveScan,
        "might_contain must sit on the scan side, not post-join")
    }
    // outside the scope the thresholds are back to defaults: the same
    // frame plans WITHOUT the bloom filter (10 GB application-side
    // floor) — proving the conf scope restored
    val after = plan(graft.operators.Marts.bloomJoinPlan(spark, sf))
    assert(!after.contains("might_contain"),
      "bloom conf leaked out of the query scope")
  }

  test("qs13: delta is one Window over the pre-reduced hourly grain") {
    val p = plan(graft.operators.Events.hourlyDelta(spark, sf))
    assert("\\bWindow\\b".r.findAllIn(p).size == 1, p)
    // the hourly aggregate reduces BEFORE the lag window's exchange —
    // partial+final agg, then (agg keys, window key) = 2 hash shuffles
    assert("HashAggregate".r.findAllIn(p).size == 2, "partial+final")
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 2, p)
  }

  test("qx19: correlated subqueries decorrelate to aggregate + broadcast joins") {
    val p = plan(graft.operators.Extras.corrSubquery(spark, sf))
    // one aggregate-over-orders per subquery, joined back LeftOuter —
    // never a per-outer-row subquery execution
    assert("BroadcastHashJoin .*LeftOuter".r.findAllIn(p).size == 2, p)
    assert("HashAggregate".r.findAllIn(p).size == 4, "partial+final x2")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("qd24: redaction is map-only and prunes to (doc_id, text)") {
    val p = plan(graft.operators.TextPrep.redactQuery(spark, sf))
    assert(!p.contains("hashpartitioning"), p)
    val read = p.linesIterator.find(_.contains("ReadSchema")).get
    assert(!read.contains("lang") && !read.contains("source") &&
      !read.contains("n_chars"), read)
  }

  test("qd25: repetition exchanges carry histograms, text never leaves the scan") {
    val p = plan(graft.operators.TrainingOps.repetition(spark, sf))
    // both signal branches reduce map-side before their exchanges
    assert("HashAggregate".r.findAllIn(p).size >= 6, "partial+final x3")
    // the exploded token stream must not carry the document text: the
    // generator expression itself reads text (that's the tokenize),
    // but the CARRIED child columns — the bracket before the output
    // list — must be doc_id only
    p.linesIterator.filter(_.contains("Generate posexplode")).foreach { g =>
      val carried = ", \\[([^\\]]*)\\], (?:false|true), \\[".r
        .findFirstMatchIn(g).map(_.group(1)).getOrElse("")
      assert(!carried.contains("text#"),
        s"Generate carries text past the scan:\n$g")
    }
  }

  test("qd26: NFC normalization is map-only, one codegen scan pass") {
    val p = plan(graft.operators.TextPrep.normalizeQuery(spark, sf))
    assert(!p.contains("hashpartitioning"), p)
    assert(p.contains("nfcnormalize"), p)
    val read = p.linesIterator.find(_.contains("ReadSchema")).get
    assert(!read.contains("lang") && !read.contains("source"), read)
  }

  test("qd27: signatures exchange, grams never do — equi-join on the pair spine") {
    val p = plan(graft.operators.TrainingOps.minhashEstimate(spark, sf))
    noAllPairs(p)
    // 16 min-aggregates combine map-side before the doc_id exchange
    assert("HashAggregate".r.findAllIn(p).size >= 2, "partial+final mins")
    // the self-join joins SIGNATURE frames (16 longs/doc); the gram
    // column must not appear in any join output
    val joinLines = p.linesIterator.filter(_.contains("Join")).toSeq
    assert(joinLines.nonEmpty && joinLines.forall(!_.contains("g#")),
      s"gram column crosses the join:\n${joinLines.mkString("\n")}")
  }

  test("qd28: per-source thresholds broadcast — the corpus never reshuffles") {
    val p = plan(graft.operators.TrainingOps.lengthFilter(spark, sf))
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
    val read = p.linesIterator.filter(_.contains("ReadSchema")).toSeq
    assert(read.forall(l => !l.contains("text") && !l.contains("lang")),
      s"scan must prune to (doc_id, source, n_chars):\n${read.mkString("\n")}")
  }

  test("qx20: merged read is ONE scan over both era paths, union schema") {
    val p = plan(graft.operators.Extras.schemaMergeRead(spark, sf))
    // no per-era Union: the file index holds both paths and the
    // reader NULL-fills each file's missing columns — one FileScan
    assert("FileScan parquet".r.findAllIn(p).size == 1, p)
    assert(p.contains("InMemoryFileIndex(2 paths)"), p)
    val read = p.linesIterator.find(_.contains("ReadSchema")).get
    assert(read.contains("o_totalprice") && read.contains("o_orderstatus"),
      s"merged union schema expected:\n$read")
  }

  test("qx21: null-safe equality stays a HASH join (EqualNullSafe is a join key)") {
    val p = plan(graft.operators.Extras.nullSafeJoin(spark, sf))
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"),
      "<=> must extract as an equi-join key, not a loop-join condition")
  }

  test("qs17: per-type spine join broadcasts, one forward-fill Window, no cartesian") {
    val p = plan(graft.operators.Events.gapFillHourly(spark, sf))
    assert("\\bWindow\\b".r.findAllIn(p).size == 1, p)
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftOuter"),
      "spine join must broadcast")
    noAllPairs(p)
  }

  test("qs18: retention needs NO join — cohorts come from a window over the reduced grain") {
    val p = plan(graft.operators.Events.retention(spark, sf))
    assert(!p.contains("Join"), s"self-join crept into retention:\n$p")
    assert("\\bWindow\\b".r.findAllIn(p).size == 2,
      "cohort min + cohort_size windows only")
  }

  test("qs19: trailing range frame is one Window over one hash exchange") {
    val p = plan(graft.operators.Events.trailingHourSpend(spark, sf))
    assert("\\bWindow\\b".r.findAllIn(p).size == 1, p)
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1, p)
  }

  test("qd29: keep-first prunes map-side (WindowGroupLimit) and the rebuild join broadcasts") {
    val p = plan(graft.operators.Dedup.chunkDedupQuery(spark, sf))
    assert(p.contains("WindowGroupLimit"), "losing chunks must prune pre-shuffle")
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftOuter"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("qd30: hot-gram membership and coverage joins broadcast — token stream never reshuffles for them") {
    val p = plan(graft.operators.TrainingOps.hotSpansQuery(spark, sf))
    assert(!p.contains("SortMergeJoin"), p)
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2,
      "hot-set membership + coverage anti/outer joins must broadcast")
    noAllPairs(p)
  }

  test("qd31: quotas broadcast into the rank join; one corpus-scale exchange") {
    val df = graft.operators.TrainingOps.temperatureSampleQuery(spark, sf)
    val p = plan(df)
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("qd32: emission reuses the packing window's exchange — one hash shuffle total") {
    val p = plan(graft.operators.TextPrep.packSeqQuery(spark, sf))
    assert("\\bWindow\\b".r.findAllIn(p).size == 1, p)
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1,
      "the (group, bin) aggregate must ride the window's group partitioning")
    assert("ObjectHashAggregate".r.findAllIn(p).size == 2, "partial+final collect")
  }

  test("qx22: moment statistics are one partial+final aggregate, nothing else") {
    val p = plan(graft.operators.Events.valueHourCorr(spark, sf))
    assert("HashAggregate".r.findAllIn(p).size == 2, p)
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1, p)
    assert(!p.contains("Join"), p)
  }

  test("qd33: pair counting combines map-side; the merge pair broadcasts as one row") {
    val p = plan(graft.operators.TrainingOps.bpeMergeQuery(spark, sf))
    assert("HashAggregate".r.findAllIn(p).size >= 2, "pair histogram partial agg")
    assert(p.contains("BroadcastNestedLoopJoin"),
      "1-row winner joins in broadcast form")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("qd37: corpus-scale pair aggregate runs once — branches reuse its exchange") {
    // the per-source (diagonal) and shared (off-diagonal) counts both
    // read the same (src_a, src_b) aggregate; if exchange reuse broke,
    // the tokenize+distinct+explode corpus work would execute three
    // times and this query would silently triple its scan cost
    val df = graft.operators.TrainingOps.sourceOverlap(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("ReusedExchange") || p.contains("ReusedQueryStage"),
      s"no exchange reuse in the executed plan:\n$p")
  }

  test("qd39: join-free — first-occurrence rides a window, not a self-join") {
    // the agg+self-join formulation shuffles the corpus-scale gram
    // frame twice (its join cannot reuse the aggregate's exchange —
    // measured 1.93 s vs 1.60 s at sf0.1); the window form must stay
    val df = graft.operators.TrainingOps.gramNovelty(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("Join"), s"qd39 regressed to a join plan:\n$p")
  }

  test("qd41: the per-gram aggregate runs once — pair and size branches reuse it") {
    // both consumers (ordered-pair explode, per-doc gram counts)
    // re-derive from the SAME groupBy(gh) aggregate; without reuse the
    // corpus tokenize would execute twice (measured 5.3 s vs 3.3 s)
    val df = graft.operators.TrainingOps.containment(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("ReusedExchange") || p.contains("ReusedQueryStage"),
      s"no exchange reuse in qd41's executed plan:\n$p")
  }

  test("qs33: anchor is a broadcast 1-row aggregate; one corpus exchange + sort") {
    val p = plan(graft.operators.Events.decayedSpend(spark, sf))
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"anchor day should broadcast into the scan:\n$p")
    // exchanges: the anchor's tiny aggregate, the user rollup, the
    // output sort — nothing else touches corpus magnitude twice
    assert("Exchange".r.findAllIn(p).size <= 4, p)
  }

  test("qd43: dup window keys on (hash, text); majority ranks the aggregated frame") {
    val p = plan(graft.operators.TrainingOps.corpusReport(spark, sf))
    assert(p.contains("xxhash64"),
      s"dedup window should sort 8-byte hash keys first:\n$p")
    // two Window nodes total: the dup flag (corpus) and the majority
    // rank over the tiny (source x lang) aggregate
    assert("\\bWindow\\b".r.findAllIn(p).size == 2, p)
  }

  test("qe13 blocked: cell-keyed equi-join — no corpus broadcast, no cartesian") {
    val model = graft.operators.TrainingOps.ivfModel(spark, sf)
    val p = plan(graft.operators.Similarity.knnGraphBlocked(
      graft.core.Tables.embeddings(spark, sf), model, 3, nProbe = 4))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"blocked kNN graph must stay an equi-join:\n$p")
  }

  test("qp7: equality on the bucket column prunes buckets at the scan") {
    val p = plan(graft.operators.Extras.bucketPrunedRead(spark, sf))
    val m = "SelectedBucketsCount: (\\d+) out of (\\d+)".r.findFirstMatchIn(p)
    assert(m.isDefined, s"bucketed scan must report bucket pruning:\n$p")
    assert(m.get.group(2).toInt == 8 && m.get.group(1).toInt <= 3,
      s"3 keys must select <= 3 of 8 buckets, got ${m.get.matched}")
  }

  test("qe16: SQ first pass is scan->project->window — no join, no corpus broadcast before the shortlist") {
    // the approximate scorer must stay a literal-unrolled projection;
    // the ONLY joins in the whole plan are the shortlist re-rank's
    // (ids equi-join + tiny query broadcast)
    val emb = graft.core.Tables.embeddings(spark, sf)
    val model = graft.operators.TrainingOps.sqModel(spark, sf)
    val p = plan(graft.operators.Sq.search(emb, model, Seq(0L, 1L), 10, 50))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
    assert("BroadcastHashJoin".r.findAllIn(p).size <= 2,
      s"only the re-rank joins may appear:\n$p")
  }

  test("qd45: rare-pair cut lands before the vocabulary joins") {
    val p = plan(graft.operators.TrainingOps.pmiCooccur(spark, sf))
    // the c_ab >= minCount filter must sit under the joins (on the
    // aggregated pair frame), not above them — assert the plan's
    // filter on c_ab appears, and no cartesian anywhere
    assert(p.contains("c_ab"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("qd45: unigram/pair aggregates reuse at runtime — the tokenize scan doesn't multiply") {
    // uni feeds three consumers (a-side, b-side, total T) and the
    // pair counts feed two (main spine, total P); AQE must reuse the
    // shuffle stages rather than re-run the corpus tokenize per
    // consumer (the qd41 reuse pin, executed-plan form)
    val df = graft.operators.TrainingOps.pmiCooccur(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("ReusedExchange") || p.contains("ReusedQueryStage"),
      s"no exchange reuse in qd45's executed plan:\n$p")
  }

  test("qd51: the tokenize aggregate is computed once — stats reuse its exchange") {
    // perDoc feeds BOTH the 1-row stats aggregate and the scoring
    // spine; the tokenize explode must not run twice at runtime (the
    // qd45 executed-plan reuse pin)
    val df = graft.operators.Search.bm25Search(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("ReusedExchange") || p.contains("ReusedQueryStage"),
      s"tokenize pass re-ran for the stats row:\n$p")
    assert("HashAggregate".r.findAllIn(p).size >= 2, "map-side combine")
  }

  test("qe22: fusion is an equi-join on (query_id, vec_id), never nested-loop") {
    val df = graft.operators.Search.hybridSearch(spark, sf)
    val p = plan(df)
    assert(!p.contains("CartesianProduct"))
    // the BNLJs allowed are the 5-row query broadcasts inside the
    // member rankings; the FULL-OUTER fusion itself must be keyed
    assert(
      "(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin) \\[[^\\]]*query_id[^\\]]*\\], \\[[^\\]]*\\], FullOuter".r
        .findFirstIn(p).isDefined, s"fusion must be a keyed equi-join:\n$p")
  }

  test("qe23: Gram matrix is join-free — only partial-sum exchanges") {
    val df = graft.operators.TrainingOps.gramMatrix(spark, sf)
    val p = plan(df)
    assert(!p.contains("Join"), s"Gram matrix must not join:\n$p")
    assert("Generate".r.findAllIn(p).size == 2, "two chained Generates")
    assert("HashAggregate".r.findAllIn(p).size >= 2, "map-side combine")
    // the scan must read ONLY the embedding column
    val read = p.linesIterator.find(_.contains("ReadSchema")).get
    assert(read.contains("embedding") && !read.contains("vec_id"), read)
  }

  test("qd71: word-grain piece counts carry NO broadcast hint") {
    // the distinct-word grain is Zipf-tail unbounded at corpus scale
    // (VERDICT r14 #3): the word-keyed equi-join must stay free to
    // shuffle — only measured-size AQE may choose broadcast. The pin
    // is on the ANALYZED plan (hints are consumed by the optimizer):
    // no ResolvedHint may cover the subtree producing `np`.
    val df = graft.operators.UnigramLm.encodeQuery(spark, sf)
    val hinted = df.queryExecution.analyzed.collect {
      case h: org.apache.spark.sql.catalyst.plans.logical.ResolvedHint
          if h.child.output.exists(_.name == "np") => h
    }
    assert(hinted.isEmpty,
      s"pieceCounts (np) must not be broadcast-hinted: $hinted")
  }

  test("global sweep: no declared query plans a CartesianProduct") {
    // BroadcastNestedLoopJoin is allowed ONLY where the operator is
    // deliberately O(n^2) at its declared verification config (qe3's
    // parity geometry, qe1's brute-force baseline) or broadcasts a
    // single scalar row (qd11's corpus-count N); a CartesianProduct
    // anywhere means a join lost its keys.
    val bnljAllowed =
      Set("qe3_embedding_neardups", "qe1_knn_brute", "qd11_doc_keywords",
        // qd22/qd23: corpus-count/total as a 1-row broadcast
        "qd22_prune_vocab", "qd23_bigram_lm",
        // qd33: the winning merge pair as a 1-row broadcast
        "qd33_bpe_merge",
        // qe10: label_a < label_b over two ~|labels|-row aggregate
        // outputs — a label-cardinality-bounded matrix, not a
        // corpus-scale nested loop
        "qe10_centroid_matrix",
        // qd42: the reference model's (t, V) scalars as a 1-row
        // broadcast (the qd22/qd23 class)
        "qd42_cross_perplexity",
        // qe11: brute scan BY DESIGN over 128-byte signatures — the
        // compressed-scan baseline (qe1's class; 2x the float bytes
        // at dim 64, order-of-magnitude at production dims)
        "qe11_knn_hamming",
        // qs33: the corpus anchor day as a 1-row broadcast (the
        // qd22/qd23 class)
        "qs33_decayed_spend",
        // qd45: the two corpus totals as 1-row broadcasts (the
        // qd22/qd23/qs33 class)
        "qd45_pmi",
        // qe19: the declared MIPS baseline is qe1's brute class (raw
        // dot instead of cosine); the blocked path is the augmented
        // reduction, spec-proved
        "qe19_mips",
        // qx27: four 1-row rule aggregates meeting at cross joins —
        // the qd22/qd23 scalar-broadcast class
        "qx27_quality_checks",
        // qe20: evaluates the brute truth (qe1's class) and the
        // qe11-style broadcast signature scan by construction
        "qe20_ann_quality",
        // qd51: the corpus stats (N, Σdl, per-term df) as a 1-row
        // broadcast into the scoring projection (the qd22/qd23 class)
        "qd51_bm25_search",
        // qd52: composes qd51's ranking, so it inherits the same
        // 1-row stats broadcast
        "qd52_prf_expansion",
        // qe22: fuses the qe11-class Hamming scan with the SQ8
        // artifact scan — the broadcast is the 5-query signature set
        "qe22_rrf_fusion",
        // qe24: evaluates the brute truth (qe1's broadcast-cross
        // class), same as qe20
        "qe24_opq_permute",
        // qd60: source_a < source_b over aggregate outputs bounded by
        // source cardinality (the qe10 label-matrix class) plus the
        // broadcast 256-row register spine — report-sized by
        // construction, never corpus-scale
        "qd60_hll_overlap",
        // qd64: the same src_a < src_b source-pair spine as qd60 over
        // per-source count aggregates, joined to broadcast S·k-row
        // sketch folds — report-sized by construction
        "qd64_bottomk_resemblance",
        // qd70: the seed-vocab total and the usage total as 1-row
        // broadcasts into vocab-grain projections (the qd22/qd23
        // class — both sides bounded by the piece table)
        "qd70_unigram_lm",
        // qd72/qd73: rounds 2-3's usage totals, same 1-row class
        "qd72_unigram_lm2", "qd73_unigram_lm3")
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      val p = plan(fn(spark, sf))
      assert(!p.contains("CartesianProduct"), s"$name plans a cartesian")
      if (!bnljAllowed(name))
        assert(!p.contains("BroadcastNestedLoopJoin"),
          s"$name plans a nested-loop join")
    }
  }
}
