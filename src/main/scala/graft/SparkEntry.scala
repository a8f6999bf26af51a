package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.ingest.JsonlIngest
import graft.operators.{AsOfJoin, Curation, Dedup, EditJoin, Events, Extras,
  Federation, Marts, Profile, RangeJoin, Relational, Scd2, Search, Selection,
  Similarity, Sketch, TextPrep, TrainingOps, UnigramLm, VecAdmission}
import graft.streaming.{Admission, EventStream, SessionStream, SketchStream}

/** Driver contract (SURVEY.md §7): `entry`, `queries`, `oracleSql` and
  * `rowsOnly`.
  *
  * Each declared query is one registry entry, `"name" -> Query(run,
  * check)`. The check is either `Oracle(sql)`, ANSI SQL that DuckDB runs
  * over the same parquet tables, or `RowsOnly(reason)` for an operator
  * with no exact SQL truth, for which the driver records a rows-only
  * check. `queries`, `oracleSql` and `rowsOnly` are views of the
  * registry, so adding a query is adding one entry. Column names and
  * row ORDER BY are kept identical on both sides; money aggregates go
  * through DECIMAL(18,2) in both engines so value hashes match bitwise
  * (see graft.core.Fns).
  */
object SparkEntry {

  /** What a query's rows are checked against. */
  sealed trait Check

  /** ANSI SQL that DuckDB runs over the same parquet tables; its rows
    * must hash-match the query's.
    */
  final case class Oracle(sql: String) extends Check

  /** No exact SQL truth exists; the reason says why, and where the
    * query's correctness is pinned instead.
    */
  final case class RowsOnly(reason: String) extends Check

  /** A declared query: its run function over an sf dir, and its check. */
  final case class Query(run: (SparkSession, String) => DataFrame,
                         check: Check)

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * The sales-mart incentive query — joins, groupBy, rank window,
    * conditional derive (SURVEY.md §3.3).
    */
  def entry(spark: SparkSession): DataFrame =
    Relational.q09(spark, "/root/testdata/sf0.001")

  /** The registry map of `entries`; throws naming every name declared
    * more than once (a Map literal would keep the last one silently).
    */
  private[graft] def declare(entries: (String, Query)*): Map[String, Query] = {
    val dups = entries.groupBy(_._1).collect { case (n, es) if es.size > 1 => n }
    require(dups.isEmpty,
      s"query declared more than once: ${dups.toSeq.sorted.mkString(", ")}")
    entries.toMap
  }

  /** The run function of every declared query. */
  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map { case (name, q) => name -> q.run }

  /** The oracle SQL of every query declared with an `Oracle`. */
  lazy val oracleSql: Map[String, String] =
    registry.collect { case (name, Query(_, Oracle(sql))) => name -> sql }

  /** The queries declared `RowsOnly`. */
  lazy val rowsOnly: Set[String] =
    registry.collect { case (name, Query(_, RowsOnly(_))) => name }.toSet

  /** Throws, naming each one, if any of `names` is not a declared query;
    * the mains call it on their arguments before building a session.
    */
  def requireDeclared(names: Seq[String]): Unit = {
    val unknown = names.filterNot(registry.contains).distinct
    require(unknown.isEmpty,
      s"unknown query name(s): ${unknown.mkString(", ")}")
  }

  private val monthExpr =
    "substring(CAST(CAST(%s AS DATE) AS VARCHAR), 1, 7)"
  private val oMonth = monthExpr.format("o_orderdate")
  private val oMonthQ = monthExpr.format("o.o_orderdate")

  /** q09's mart without the output ORDER BY — shared by q09/q14
    * verbatim and wrapped with a partition predicate by qp1. The rank
    * has no tie-break, as in RetailMarts: tied top totals all earn
    * the incentive.
    */
  private val q09SqlCore: String =
    s"""SELECT store, person, month, CAST(total_dec AS DOUBLE) AS total,
       |  CAST(CASE WHEN rnk = 1 THEN round(total_dec * 0.01, 2) ELSE 0 END AS DOUBLE) AS incentive
       |FROM (
       |  SELECT store, person, month, total_dec,
       |    rank() OVER (PARTITION BY store, month ORDER BY total_dec DESC) AS rnk
       |  FROM (
       |    SELECT n.n_nationkey AS store, s.s_suppkey AS person,
       |      $oMonthQ AS month,
       |      SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS total_dec
       |    FROM lineitem l
       |    JOIN orders o ON l.l_orderkey = o.o_orderkey
       |    JOIN supplier s ON l.l_suppkey = s.s_suppkey
       |    JOIN nation n ON s.s_nationkey = n.n_nationkey
       |    GROUP BY 1, 2, 3) g) r""".stripMargin

  private val q09Sql: String =
    q09SqlCore + "\nORDER BY store, month, person"

  /** Every declared query by name, one entry each. Lazy, so an entry
    * may read any helper string of this object.
    */
  private[graft] lazy val registry: Map[String, Query] = declare(
    "q01_scan_project" -> Query(Relational.q01 _, Oracle(
      "SELECT c_custkey, c_name, c_mktsegment FROM customer ORDER BY c_custkey")),
    "q02_filter" -> Query(Relational.q02 _, Oracle(
      "SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem " +
        "WHERE l_quantity > 30 ORDER BY l_orderkey, l_linenumber")),
    "q03_join" -> Query(Relational.q03 _, Oracle(q03Sql)),
    "q04_join3" -> Query(Relational.q04 _, Oracle(
      "SELECT l.l_orderkey, l.l_linenumber, c.c_name, s.s_name FROM lineitem l " +
        "JOIN orders o ON l.l_orderkey = o.o_orderkey " +
        "JOIN customer c ON o.o_custkey = c.c_custkey " +
        "JOIN supplier s ON l.l_suppkey = s.s_suppkey " +
        "ORDER BY l.l_orderkey, l.l_linenumber")),
    "q05_union" -> Query(Relational.q05 _, Oracle(
      "SELECT c_custkey AS k, c_name AS n FROM customer WHERE c_custkey % 2 = 0 " +
        "UNION ALL SELECT c_custkey AS k, c_name AS n FROM customer " +
        "WHERE c_custkey % 2 = 1 ORDER BY k")),
    "q06_group_month" -> Query(Relational.q06 _, Oracle(
      s"SELECT o_custkey, $oMonth AS month, " +
        "CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total " +
        "FROM orders GROUP BY 1, 2 ORDER BY 1, 2")),
    "q07_window_distinct" -> Query(Relational.q07 _, Oracle(
      s"SELECT DISTINCT o_custkey, month, CAST(total_dec AS DOUBLE) AS total FROM (" +
        s"SELECT o_custkey, $oMonth AS month, " +
        s"SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER (PARTITION BY o_custkey, $oMonth) AS total_dec " +
        "FROM orders) t ORDER BY o_custkey, month")),
    "q08_rank_topk" -> Query(Relational.q08 _, Oracle(
      "SELECT o_custkey, o_orderkey, CAST(rnk AS INTEGER) AS rnk FROM (" +
        "SELECT o_custkey, o_orderkey, rank() OVER (PARTITION BY o_custkey " +
        "ORDER BY o_totalprice DESC, o_orderkey) AS rnk FROM orders) t " +
        "WHERE rnk <= 3 ORDER BY o_custkey, rnk, o_orderkey")),
    "q09_incentive_mart" -> Query(Relational.q09 _, Oracle(q09Sql)),
    "q10_concat" -> Query(Relational.q10 _, Oracle(
      "SELECT s.s_suppkey, s.s_name || ' ' || n.n_name AS full_name FROM supplier s " +
        "JOIN nation n ON s.s_nationkey = n.n_nationkey ORDER BY s.s_suppkey")),
    "q11_distinct" -> Query(Relational.q11 _, Oracle(
      "SELECT DISTINCT o_orderstatus, o_orderpriority FROM orders " +
        "ORDER BY 1, 2")),
    "q12_topk_limit" -> Query(Relational.q12 _, Oracle(
      "SELECT o_orderkey, o_totalprice FROM orders " +
        "ORDER BY o_totalprice DESC, o_orderkey LIMIT 20")),
    "q13_customer_mart" -> Query(Marts.customerMart _, Oracle(
      s"SELECT c.c_custkey AS customer_id, c.c_name || ' ' || c.c_mktsegment AS full_name, " +
        s"$oMonthQ AS month, " +
        "CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_sales " +
        "FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey " +
        "GROUP BY 1, 2, 3 ORDER BY customer_id, month")),
    "q14_partitioned_roundtrip" -> Query(Marts.partitionedRoundtrip _, Oracle(q09Sql)),
    // qp1 reads q14's hive layout back WITH partition predicates —
    // the result is q09 restricted to the pruned month x store range
    "qp1_pruned_read" -> Query(Marts.prunedMartRead _, Oracle(
      s"SELECT store, person, month, total, incentive FROM (\n$q09SqlCore) q " +
        "WHERE month >= '1996-01' AND month < '1997-01' AND store < 5 " +
        "ORDER BY store, month, person")),
    "q15_union_fold" -> Query(Relational.q15 _, Oracle(
      "SELECT c_custkey, c_name, c_nationkey FROM customer ORDER BY c_custkey")),
    "qd1_dedup_exact" -> Query(TrainingOps.dedupExact _, Oracle(
      "SELECT doc_id, lang, source FROM (SELECT doc_id, lang, source, " +
        "row_number() OVER (PARTITION BY text ORDER BY doc_id) AS rn " +
        "FROM documents) t WHERE rn = 1 ORDER BY doc_id")),
    "qd2_token_stats" -> Query(TrainingOps.tokenStats _, Oracle(
      "SELECT doc_id, " +
        "CASE WHEN length(trim(text)) = 0 THEN 0 ELSE " +
        "CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS INTEGER) END AS n_tokens, " +
        "CAST(len(regexp_extract_all(text, '[A-Za-z0-9]+|[^A-Za-z0-9\\s]')) AS INTEGER) AS n_bpe " +
        "FROM documents ORDER BY doc_id")),
    "qd3_quality" -> Query(TrainingOps.quality _, Oracle(qualitySql)),
    "qd4_langid" -> Query(TrainingOps.langId _, Oracle(langIdSql)),
    "qd5_fingerprint" -> Query(TrainingOps.fingerprint _, Oracle(
      "SELECT doc_id, CASE WHEN length(text) = 0 THEN 0 ELSE " +
        "list_reduce(list_transform(string_split(text, ''), c -> CAST(unicode(c) AS BIGINT)), " +
        "(acc, x) -> (acc * 31 + x) % 2147483647) END AS fp " +
        "FROM documents ORDER BY doc_id")),
    "qd7_simhash" -> Query(TrainingOps.simhash _, Oracle(simhashSql)),
    "qd13_dup_clusters" -> Query(TrainingOps.dupClusters _, Oracle(dupClustersSql)),
    "qd44_cluster_reps" -> Query(TrainingOps.clusterRepresentatives _, Oracle(clusterRepsSql)),
    // qd16 computes the same components via large-star/small-star —
    // identical labels, identical oracle.
    "qd16_dup_clusters_star" -> Query(TrainingOps.dupClustersStar _, Oracle(dupClustersSql)),
    // qd54 refreshes a standing corpus label table with the batch via
    // cluster contraction — labels provably equal the full rebuild's
    // (min-label quotient argument in Dedup.refreshClusterLabels), so
    // the rebuild's recursive CTE is its oracle too.
    "qd54_refresh_labels" -> Query(TrainingOps.refreshedDupLabels _, Oracle(dupClustersSql)),
    // qd57 reads the PUBLISHED label artifact (qd54's output written
    // back through ArtifactStore — the loop's durable hand-off), so
    // the rebuild oracle applies for the same reason qd54's does:
    // what the store serves must equal the full rebuild.
    "qd57_refresh_publish" -> Query(TrainingOps.publishedLabels _, Oracle(dupClustersSql)),
    "qd55_dsir_weights" -> Query(Selection.dsirQuery _, Oracle(dsirSql)),
    "qd56_dsir_resample" -> Query(Selection.resampleQuery _, Oracle(dsirResampleSql)),
    "qd58_nb_classify" -> Query(Selection.nbQuery _, Oracle(nbSql)),
    "qd59_hll_profile" -> Query(Sketch.hllQuery _, Oracle(hllSql)),
    "qd60_hll_overlap" -> Query(Sketch.hllOverlapQuery _, Oracle(hllOverlapSql)),
    // qd61: every ingredient is exact integer arithmetic — bucket
    // index from bitlength+shift (the qd59 BIN/LENGTH convention),
    // k = ceil(p·n/100) in integer form, bucket lower edge from
    // shifts, exact side the rank-k order statistic (well-defined
    // under ties) — so the whole report is bit-identical cross-engine.
    "qd61_quantile_sketch" -> Query(Sketch.quantileQuery _, Oracle(quantileSql)),
    // qs43: bucket counts are a summable order-free monoid — the
    // drained streaming histogram provably equals qd61's batch one
    // for any micro-batch split, so qd61's oracle carries verbatim
    // (the fourth member of the bounded-state streaming tier).
    "qs43_stream_quantile" -> Query(SketchStream.quantileStreamGate _, Oracle(quantileSql)),
    // qd62: the count-min counters are plain BIGINT sums over the
    // same portable fingerprint + avalanche chain as qd59 (per-row
    // affine pre-mix, the portablePerms convention), the top-5 rank
    // ties to the lexically smaller token, and the estimate is a MIN
    // over 4 exact counters — every ingredient integer-exact, so the
    // report is bit-identical cross-engine.
    "qd62_heavy_hitters" -> Query(Sketch.cmQuery _, Oracle(cmSql)),
    // qs41: counter sums are an order-free monoid — the drained
    // streaming counter table provably equals qd62's batch counters
    // for ANY micro-batch split, so qd62's oracle carries verbatim
    // (the qs40 argument, third member of the sketch tier).
    "qs41_stream_cm" -> Query(SketchStream.cmStreamGate _, Oracle(cmSql)),
    // qd63: the bottom-k sample is the k smallest distinct avalanched
    // hashes (the qd59 chain verbatim), the estimator one dialect-
    // shared expression over (n_kept, kth_hash) — integer-exact
    // inputs, bit-identical report.
    "qd63_bottomk_profile" -> Query(Sketch.bottomkQuery _, Oracle(bkSql)),
    // qs42: min-k over a set is an order-free monoid (the streaming
    // aggregator's merge is union + take-k), so the drained sample
    // provably equals the batch bottom-k for any micro-batch split —
    // qd63's oracle carries verbatim.
    "qs42_stream_bottomk" -> Query(SketchStream.bottomkStreamGate _, Oracle(bkSql)),
    // qd64: both sketches, the union fold (k smallest of the tagged
    // union — the monoid merge in SQL), the membership counts and
    // both dialect-shared estimate expressions rebuilt — all exact
    // integer arithmetic, bit-identical cross-engine.
    "qd64_bottomk_resemblance" -> Query(Sketch.bottomkResQuery _, Oracle(bkResSql)),
    // qs40: qd59's token-grain register chain, estimate-only — the
    // streaming register-max aggregate provably equals the batch one
    // (max is an order-free monoid; micro-batch boundaries can't
    // change the drained register table), so the batch oracle
    // carries over. Registers over token OCCURRENCES equal registers
    // over DISTINCT tokens (max ignores duplicates), so the oracle
    // derives from the distinct grain.
    "qs40_stream_hll" -> Query(SketchStream.hllStreamGate _, Oracle(hllEstOnlySql)),
    // qd65: reads the STORED register artifact; storage cannot change
    // the registers, so the estimate-only chain carries verbatim.
    "qd65_sketch_store" -> Query(TrainingOps.storedSketchEstimate _, Oracle(hllEstOnlySql)),
    // qd66: qd53's exhaustive span machinery with cross-corpus-only
    // coverage — a training position is cut iff its 8-gram appears in
    // the src0 (eval) gram set; islands/rebuild carry verbatim. The
    // join against a DISTINCT eval gram set replaces qd53's rn >= 2
    // keep-first window (eval text must not leak at all), so no
    // window determinism caveat applies.
    "qd66_span_decontaminate" -> Query(Dedup.spanDecontaminateQuery _, Oracle(
      """WITH toks AS (
         |  SELECT doc_id, source, list_filter(string_split(
         |    regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'), ' '),
         |    x -> x != '') AS t
         |  FROM documents),
         |eg AS (SELECT DISTINCT array_to_string(t[i:i+7], ' ') AS gram
         |  FROM toks, unnest(range(1, len(t)-6)) AS u(i)
         |  WHERE source = 'src0' AND len(t) >= 8),
         |tok AS (SELECT doc_id, i-1 AS pos, t[i] AS tk
         |  FROM toks, unnest(range(1, len(t)+1)) AS u(i)
         |  WHERE source != 'src0'),
         |tg AS (SELECT doc_id, i-1 AS pos,
         |    array_to_string(t[i:i+7], ' ') AS gram
         |  FROM toks, unnest(range(1, len(t)-6)) AS u(i)
         |  WHERE source != 'src0' AND len(t) >= 8),
         |hit AS (SELECT DISTINCT tg.doc_id, tg.pos
         |  FROM tg JOIN eg USING (gram)),
         |cov AS (SELECT DISTINCT doc_id, pos + j AS pos
         |  FROM hit, unnest([0,1,2,3,4,5,6,7]) AS v(j)),
         |isl AS (SELECT doc_id, pos,
         |    pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos)
         |      AS grp FROM cov),
         |sp AS (SELECT doc_id, count(*) AS n_cut,
         |    count(DISTINCT grp) AS n_spans FROM isl GROUP BY 1),
         |marked AS (SELECT t.doc_id, t.pos, t.tk,
         |    c.pos IS NOT NULL AS hit
         |  FROM tok t LEFT JOIN cov c
         |    ON t.doc_id = c.doc_id AND t.pos = c.pos),
         |reb AS (SELECT doc_id,
         |    COALESCE(string_agg(CASE WHEN NOT hit THEN tk END,
         |      ' ' ORDER BY pos), '') AS dedup_text
         |  FROM marked GROUP BY 1)
         |SELECT d.doc_id, COALESCE(r.dedup_text, '') AS dedup_text,
         |  CAST(COALESCE(s.n_cut, 0) AS INTEGER) AS n_removed,
         |  CAST(COALESCE(s.n_spans, 0) AS INTEGER) AS n_spans
         |FROM documents d
         |LEFT JOIN reb r ON d.doc_id = r.doc_id
         |LEFT JOIN sp s ON d.doc_id = s.doc_id
         |WHERE d.source != 'src0'
         |ORDER BY d.doc_id""".stripMargin)),
    // qs39: qd40's exhaustive batch×corpus oracle re-framed on the
    // qd54 corpus split (src19 arrives, everything else stands) — the
    // streaming gate's micro-batch union is provably boundary-free
    // (per-doc verdicts are order-free; Dedup.admitAgainst scaladoc),
    // so the batch oracle carries over verbatim.
    "qs39_admission_gate" -> Query(Admission.admissionGate _, Oracle(
      s"""$shingleCte,
         |m AS (SELECT sh.doc_id, d.source != 'src19' AS corp, sh.s
         |  FROM sh JOIN documents d USING (doc_id)),
         |x AS (SELECT b.doc_id, CAST(min(c.doc_id) AS BIGINT) AS dup_of
         |  FROM m b JOIN m c ON NOT b.corp AND c.corp
         |    AND CAST(len(list_intersect(b.s, c.s)) AS DOUBLE)
         |      / CAST(len(list_distinct(list_concat(b.s, c.s)))
         |          AS DOUBLE) >= 0.9
         |  GROUP BY 1)
         |SELECT m.doc_id, x.dup_of, x.dup_of IS NOT NULL AS is_dup
         |FROM m LEFT JOIN x USING (doc_id) WHERE NOT m.corp
         |ORDER BY doc_id""".stripMargin)),
    // qd67: exhaustive edit-distance truth behind two SOUND
    // prefilters (ed >= |Δlen|; ed >= L1(charHist)/2 under any
    // alphabet projection — each edit moves the multiset by at most
    // one removal + one insertion), so the prefilters cannot drop a
    // qualifying pair. The candidate CTE is MATERIALIZED as an
    // optimization fence: without it DuckDB reorders the O(n·m)
    // levenshtein ahead of the histogram prune (39 candidate pairs
    // vs 6258 — 0.7 s vs 25 s at sf0.01), same rows either way.
    "qd67_edit_neardups" -> Query(EditJoin.editNearDupsQuery _, Oracle(editNearDupsSql)),
    // qd68: SAME truth through the segment-indexed candidate path —
    // the oracle is blocking-independent, so it carries verbatim
    // (the qd13/qd16 two-algorithms-one-truth precedent).
    "qd68_edit_neardups_seg" -> Query(EditJoin.editNearDupsSegQuery _, Oracle(editNearDupsSql)),
    // qx29: the SQL-surface declaration of the same truth (unbounded
    // levenshtein predicate, rewritten to the banded form by the
    // injected optimizer rule) — blocking-independent oracle carries.
    "qx29_edit_sql_surface" -> Query(Extras.editSqlSurface _, Oracle(editNearDupsSql)),
    // qd69: the same exhaustive machinery oriented batch(src19) ->
    // corpus, rolled up to one verdict per batch doc (best partner by
    // (distance, id); NULL/false when none within 12). Blocking- and
    // storage-independent truth, so the stored-index path carries.
    "qd69_edit_admission" -> Query(EditJoin.editAdmissionQuery _, Oracle(editAdmissionSql)),
    // qs44: per-doc verdicts are order-free (doc + standing index
    // only), so the micro-batch union provably equals qd69's
    // one-shot batch run and its oracle carries verbatim (the qs39
    // argument, edit family).
    "qs44_edit_admission_gate" -> Query(Admission.editAdmissionGate _, Oracle(editAdmissionSql)),
    // qx28: the oracle recomputes from the PARQUET source, so the
    // ORC roundtrip must be lossless for every carried type; SUM of
    // BIGINT is HUGEINT in DuckDB -> cast back (the dtype rule).
    "qx28_orc_roundtrip" -> Query(Extras.orcRoundtrip _, Oracle(
      """SELECT source, count(*) AS n_docs,
         |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
         |  min(doc_id) AS first_doc
         |FROM documents WHERE n_chars >= 200
         |GROUP BY source ORDER BY source""".stripMargin)),
    "qd14_decontaminate" -> Query(TrainingOps.decontaminate _, Oracle(decontaminateSql)),
    "qd36_leakage_split" -> Query(TrainingOps.leakageSplit _, Oracle(leakageSplitSql)),
    // qd37: the oracle takes the plain self-join formulation — same
    // distinct (source, gram) rows, same counts; the Spark side's
    // one-pass pair explode is an implementation choice, not a
    // semantic one. Jaccard is one double division over exact longs.
    "qd37_source_overlap" -> Query(TrainingOps.sourceOverlap _, Oracle(
      s"""$shingleCte,
         |sg AS (SELECT DISTINCT source, g FROM (
         |  SELECT d.source, unnest(sh.s) AS g
         |  FROM sh JOIN documents d USING (doc_id))),
         |cnt AS (SELECT source, CAST(count(*) AS BIGINT) AS n
         |  FROM sg GROUP BY 1),
         |p AS (SELECT a.source AS src_a, b.source AS src_b,
         |    CAST(count(*) AS BIGINT) AS shared
         |  FROM sg a JOIN sg b ON a.g = b.g AND a.source < b.source
         |  GROUP BY 1, 2)
         |SELECT src_a, src_b, ca.n AS grams_a, cb.n AS grams_b, shared,
         |  CAST(shared AS DOUBLE)
         |    / CAST(ca.n + cb.n - shared AS DOUBLE) AS gram_jaccard
         |FROM p JOIN cnt ca ON ca.source = p.src_a
         |JOIN cnt cb ON cb.source = p.src_b
         |ORDER BY src_a, src_b""".stripMargin)),
    // qd39: both engines derive the identical distinct-gram sets
    // (shingleCte == gramsRelational), so first-occurrence is an
    // exact min over BIGINT doc ids and novelty one division of
    // exact longs.
    "qd39_gram_novelty" -> Query(TrainingOps.gramNovelty _, Oracle(
      s"""$shingleCte,
         |g AS (SELECT doc_id, unnest(s) AS gram FROM sh),
         |f AS (SELECT gram, CAST(min(doc_id) AS BIGINT) AS first_doc
         |  FROM g GROUP BY 1)
         |SELECT g.doc_id, CAST(count(*) AS BIGINT) AS n_grams,
         |  CAST(SUM(CASE WHEN f.first_doc = g.doc_id THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_novel,
         |  CAST(SUM(CASE WHEN f.first_doc = g.doc_id THEN 1 ELSE 0 END)
         |      AS DOUBLE) / CAST(count(*) AS DOUBLE) AS novelty
         |FROM g JOIN f USING (gram) GROUP BY g.doc_id
         |ORDER BY doc_id""".stripMargin)),
    // qs24: the qx22 exact-moment construction — counts and moment
    // sums are exact BIGINTs, z is ONE closed-form double expression
    // over them on both engines; zero variance pins z = 0.
    "qs24_hourly_anomaly" -> Query(Events.hourlyAnomaly _, Oracle(
      """WITH hc AS (
         |  SELECT event_type, date_trunc('hour', ts) AS h,
         |    CAST(count(*) AS BIGINT) AS cnt
         |  FROM events GROUP BY 1, 2),
         |st AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
         |    CAST(SUM(cnt) AS BIGINT) AS sx,
         |    CAST(SUM(cnt * cnt) AS BIGINT) AS sxx
         |  FROM hc GROUP BY 1),
         |zt AS (SELECT hc.event_type, hc.h, hc.cnt,
         |    CASE WHEN n * sxx - sx * sx = 0 THEN 0.0
         |      ELSE CAST(n * hc.cnt - sx AS DOUBLE)
         |        / sqrt(CAST(n * sxx - sx * sx AS DOUBLE)) END AS z
         |  FROM hc JOIN st USING (event_type))
         |SELECT event_type, strftime(h, '%Y-%m-%d %H:00:00') AS hour,
         |  cnt, z, abs(z) >= 2.0 AS is_anomaly
         |FROM zt ORDER BY event_type, hour""".stripMargin)),
    // qd40: the qd6 banding-parity argument at threshold 0.9 — the
    // oracle is the exhaustive batch×corpus jaccard join (string
    // shingles; the Spark side blocks on hashed-shingle MinHash bands
    // with the same collision caveat qd6 documents).
    "qd40_incremental_dedup" -> Query(TrainingOps.incrementalDedup _, Oracle(
      s"""$shingleCte,
         |m AS (SELECT sh.doc_id, d.source = 'src0' AS corp, sh.s
         |  FROM sh JOIN documents d USING (doc_id)),
         |x AS (SELECT b.doc_id, CAST(min(c.doc_id) AS BIGINT) AS dup_of
         |  FROM m b JOIN m c ON NOT b.corp AND c.corp
         |    AND CAST(len(list_intersect(b.s, c.s)) AS DOUBLE)
         |      / CAST(len(list_distinct(list_concat(b.s, c.s)))
         |          AS DOUBLE) >= 0.9
         |  GROUP BY 1)
         |SELECT m.doc_id, x.dup_of, x.dup_of IS NOT NULL AS is_dup
         |FROM m LEFT JOIN x USING (doc_id) WHERE NOT m.corp
         |ORDER BY doc_id""".stripMargin)),
    // qs26: money through cents (exact ints), percentile bounds from
    // identical ints (the qs5 parity), quantized back to cents via
    // ceil/floor of identical doubles, clip+sum pure BIGINT, mean one
    // shared division chain.
    "qs26_winsorized" -> Query(Events.winsorizedStats _, Oracle(
      """WITH e AS (SELECT event_type,
         |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
         |  FROM events),
         |b AS (SELECT event_type,
         |    CAST(ceil(quantile_cont(c, 0.01)) AS BIGINT) AS lo,
         |    CAST(floor(quantile_cont(c, 0.99)) AS BIGINT) AS hi
         |  FROM e GROUP BY 1),
         |w AS (SELECT e.event_type, b.lo, b.hi,
         |    CAST(count(*) AS BIGINT) AS n,
         |    CAST(SUM(GREATEST(LEAST(e.c, b.hi), b.lo)) AS BIGINT) AS wsum
         |  FROM e JOIN b USING (event_type) GROUP BY 1, 2, 3)
         |SELECT event_type, n, CAST(lo AS DOUBLE) / 100.0 AS p01,
         |  CAST(hi AS DOUBLE) / 100.0 AS p99,
         |  CAST(wsum AS DOUBLE) / CAST(n AS DOUBLE) / 100.0
         |    AS winsorized_avg
         |FROM w ORDER BY event_type""".stripMargin)),
    // qs27: RANGE frame on floored epoch seconds (the qs19
    // convention), exact counts; same-second events are peers on
    // both engines.
    "qs27_burst_detect" -> Query(Events.burstDetect _, Oracle(
      """WITH e AS (SELECT user_id,
         |    CAST(floor(epoch(ts)) AS BIGINT) AS tsec FROM events),
         |w AS (SELECT user_id, count(*) OVER (
         |    PARTITION BY user_id ORDER BY tsec
         |    RANGE BETWEEN CURRENT ROW AND 59 FOLLOWING) AS in_window
         |  FROM e)
         |SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
         |  CAST(max(in_window) AS INTEGER) AS burst,
         |  max(in_window) >= 5 AS is_bot
         |FROM w GROUP BY user_id ORDER BY user_id""".stripMargin)),
    // qd41: identical distinct-gram sets both engines; shared counts
    // are exact longs, containment one division, the >= 0.8 filter
    // compares identical doubles.
    "qd41_containment" -> Query(TrainingOps.containment _, Oracle(
      s"""$shingleCte,
         |g AS (SELECT doc_id, unnest(s) AS gram FROM sh),
         |n AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS grams_a
         |  FROM g GROUP BY 1),
         |p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |    CAST(count(*) AS BIGINT) AS shared
         |  FROM g a JOIN g b ON a.gram = b.gram AND a.doc_id != b.doc_id
         |  GROUP BY 1, 2)
         |SELECT doc_a, doc_b, n.grams_a, shared,
         |  CAST(shared AS DOUBLE) / CAST(n.grams_a AS DOUBLE) AS containment
         |FROM p JOIN n ON n.doc_id = p.doc_a
         |WHERE CAST(shared AS DOUBLE) / CAST(n.grams_a AS DOUBLE) >= 0.8
         |ORDER BY doc_a, doc_b""".stripMargin)),
    // qs28: cents ints -> interpolated median (qs5 parity) -> exact
    // double deviations -> second interpolated median; ratio one
    // guarded shared division.
    "qs28_mad_stats" -> Query(Events.madStats _, Oracle(
      """WITH e AS (SELECT event_type,
         |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
         |  FROM events),
         |m AS (SELECT event_type, quantile_cont(c, 0.5) AS med
         |  FROM e GROUP BY 1),
         |d AS (SELECT e.event_type, m.med,
         |    abs(CAST(e.c AS DOUBLE) - m.med) AS ad
         |  FROM e JOIN m USING (event_type)),
         |s AS (SELECT event_type, med, CAST(count(*) AS BIGINT) AS n,
         |    quantile_cont(ad, 0.5) AS mad_raw FROM d GROUP BY 1, 2)
         |SELECT event_type, n, med / 100.0 AS median,
         |  mad_raw / 100.0 AS mad,
         |  CASE WHEN med = 0 THEN 0.0 ELSE mad_raw / med END AS robust_cv
         |FROM s ORDER BY event_type""".stripMargin)),
    // qe11: identical 1024-bit packing — generated from the SAME
    // stride list as the Spark side (hammingSigCtes): sign word +
    // 15 ordinal words; 1-based i maps to bit i-1; bit 63 is the
    // BIGINT min literal since DuckDB rejects 1<<63. Exact integer
    // Hamming = Σ popcount over the 16 words.
    "qe11_knn_hamming" -> Query(TrainingOps.knnHamming _, Oracle({
      val ids = graft.operators.TrainingOps.knnQueryIds.mkString(", ")
      s"""WITH ${hammingSigCtes("e", "s")},
         |${hammingQCte("q", "s", ids)},
         |h AS (SELECT q.query_id, s.vec_id,
         |    CAST(${hammingDist("s", "q")} AS INTEGER) AS hamming
         |  FROM s, q WHERE s.vec_id <> q.query_id),
         |r AS (SELECT query_id, vec_id, hamming,
         |    CAST(rank() OVER (PARTITION BY query_id
         |      ORDER BY hamming, vec_id) AS INTEGER) AS rnk FROM h)
         |SELECT query_id, vec_id, rnk, hamming FROM r WHERE rnk <= 10
         |ORDER BY query_id, rnk, vec_id""".stripMargin
    })),
    // qe10: qe7's exact-integer centroid CTEs, pair join on
    // label_a < label_b, the usual sequential-fold cosine.
    "qe10_centroid_matrix" -> Query(Similarity.centroidMatrixQuery _, Oracle(
      s"""WITH el AS (SELECT label, vec_id, i AS d,
         |    CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000000) AS BIGINT) AS q
         |  FROM embeddings, unnest(range(1, len(embedding)+1)) u(i)),
         |s AS (SELECT label, d, CAST(SUM(q) AS BIGINT) AS qsum,
         |    count(*) AS n
         |  FROM el GROUP BY 1, 2),
         |c AS (SELECT label, list(
         |    CAST(qsum AS DOUBLE) / (CAST(n AS DOUBLE) * 1000000.0)
         |    ORDER BY d) AS centroid
         |  FROM s GROUP BY label)
         |SELECT a.label AS label_a, b.label AS label_b,
         |  ${dotSql("a.centroid", "b.centroid")}
         |    / (sqrt(${dotSql("a.centroid", "a.centroid")})
         |       * sqrt(${dotSql("b.centroid", "b.centroid")})) AS cos
         |FROM c a JOIN c b ON a.label < b.label
         |ORDER BY label_a, label_b""".stripMargin)),
    // qe9: the 5 greedy rounds unrolled as CTEs; rel and pairwise
    // sims are the same sequential folds as knnSql, the MMR update
    // is one IEEE multiply-subtract over them on both engines, ties
    // pinned on vec_id every round.
    "qe9_mmr_rerank" -> Query(Similarity.mmrQuery _, Oracle(mmrSql)),
    // qs25: identical per-user (ts, event_id) step ordering, exact
    // pair counts, probability one division of exact longs.
    "qs25_type_transitions" -> Query(Events.typeTransitions _, Oracle(
      """WITH pr AS (
         |  SELECT event_type AS from_type,
         |    lead(event_type) OVER (
         |      PARTITION BY user_id ORDER BY ts, event_id) AS to_type
         |  FROM events),
         |c AS (SELECT from_type, to_type, CAST(count(*) AS BIGINT) AS n
         |  FROM pr WHERE to_type IS NOT NULL GROUP BY 1, 2),
         |t AS (SELECT from_type, CAST(SUM(n) AS BIGINT) AS tot
         |  FROM c GROUP BY 1)
         |SELECT c.from_type, c.to_type, c.n,
         |  CAST(c.n AS DOUBLE) / CAST(t.tot AS DOUBLE) AS p
         |FROM c JOIN t USING (from_type)
         |ORDER BY from_type, to_type""".stripMargin)),
    "qd15_source_lang_pivot" -> Query(TrainingOps.sourceLangPivot _, Oracle(
      "SELECT source, " +
        Seq("de", "en", "es", "fr", "zh").map(l =>
          s"CAST(SUM(CASE WHEN lang = '$l' THEN 1 ELSE 0 END) AS BIGINT) AS $l")
          .mkString(", ") +
        " FROM documents GROUP BY source ORDER BY source")),
    // unpivot of the wide matrix == per-(source, lang) conditional
    // counts, zeros kept
    "qx10_unpivot" -> Query(TrainingOps.sourceLangUnpivot _, Oracle(
      Seq("de", "en", "es", "fr", "zh").map(l =>
        s"SELECT source, '$l' AS lang, " +
          s"CAST(SUM(CASE WHEN lang = '$l' THEN 1 ELSE 0 END) AS BIGINT) AS n " +
          "FROM documents GROUP BY source")
        .mkString("", " UNION ALL ", " ORDER BY source, lang"))),
    "qe1_knn_brute" -> Query(TrainingOps.knnBrute _, Oracle(knnSql)),
    // qe25 (vector admission at full probe + full shortlist): both
    // parity arguments stack over the STORED corpus index — every
    // corpus vector admitted by the cell probe, every candidate
    // exactly re-ranked after the ADC pass — so the exhaustive
    // arrivals × corpus kNN below is exact for any centroids/grid.
    "qe25_vec_admission" -> Query(VecAdmission.vecAdmissionQuery _, Oracle(vecAdmitSql)),
    // qs45: per-arrival verdicts depend only on (that vector, the
    // standing index) — order-free, so the micro-batch union equals
    // qe25's one-shot batch run for ANY file split (the qs44 move).
    "qs45_vec_admission_gate" -> Query(Admission.vecAdmissionGate _, Oracle(vecAdmitSql)),
    // qd70: the unigram-LM EM step, DP unrolled per word position —
    // every ingredient integer-exact or shared-floor-quantized (see
    // unigramLmSql's scaladoc).
    "qd70_unigram_lm" -> Query(UnigramLm.emStepQuery _, Oracle(unigramLmSql)),
    // qe26 (filtered search at full probe): candidates provably = the
    // whole FILTERED corpus for any centroids, so the brute top-10
    // over the lang='en' slice is the exact truth (queries
    // unfiltered, self excluded by id).
    "qe26_knn_filtered" -> Query(TrainingOps.knnFiltered _, Oracle(knnFilteredSql)),
    // qe27 (hard negatives at full probe): candidates provably cover
    // each anchor's whole different-lang slice, so the exhaustive
    // complement top-10 is the exact truth.
    "qe27_hard_negatives" -> Query(TrainingOps.knnHardNegatives _, Oracle(hardNegativesSql)),
    // qd71: the trainer chain re-run + the pruned-vocab second DP +
    // doc rollup (see unigramEncodeSql's scaladoc).
    "qd71_unigram_encode" -> Query(UnigramLm.encodeQuery _, Oracle(unigramEncodeSql)),
    // qd72: EM round 2 — qd71's shared kept-vocab chain, then round
    // 1's M-step rules applied to the round-2 usage counts.
    "qd72_unigram_lm2" -> Query(UnigramLm.emRound2 _, Oracle(unigramLm2Sql)),
    // qd73: EM round 3 — one more kept-vocab chain + M-step; the
    // 3-round driver loop (qd35's BPE twin at the unigram tier).
    "qd73_unigram_lm3" -> Query(UnigramLm.emRound3 _, Oracle(unigramLm3Sql)),
    "qd74_unigram_fertility" -> Query(UnigramLm.encode3ByLang _, Oracle(unigramEncode3Sql)),
    "qd75_edit_publish" -> Query(EditJoin.editPublishQuery _, Oracle(editPublishSql)),
    // qd76: the two-generation SEQUENTIAL admission truth (gen-2
    // candidates meet corpus ∪ gen-1 survivors) — the published-index
    // probe's oracle; qs48 is the same semantics on the streaming
    // arrival path (generation-ordered micro-batches with per-batch
    // publish), so it shares the oracle verbatim — INCLUDING the gen
    // column, which pins the file source's modification-time batch
    // order (a flipped drain order would mislabel gen and fail).
    "qd76_edit_seq_admission" -> Query(EditJoin.editSeqAdmissionQuery _, Oracle(editSeqSql)),
    "qs48_seq_publish_gate" -> Query(Admission.seqPublishGate _, Oracle(editSeqSql)),
    // qd77: the five stage oracles (qd34 quality, qd13/qd44
    // components + reps, qd14 decontamination, qd31 temperature
    // sample, qd43 card) chained as MATERIALIZED CTEs; the edge set
    // rides the exact gram-equi-join Jaccard (identical to the
    // list_intersect form, relational speed).
    "qd77_curation_pipeline" -> Query(Curation.pipelineReport _, Oracle(curationPipelineSql)),
    // qs46: the composed admission verdict — the conjunction of the
    // three gate oracles (qs39 MinHash, qs44 edit, qs45 vector top-1
    // at the semantic threshold), one row per arrival.
    "qs46_composed_admission" -> Query(Admission.composedAdmissionGate _,
      Oracle(composedAdmissionSql)),
    "qs47_calibrated_admission" -> Query(Admission.calibratedAdmissionGate _,
      RowsOnly("approximate by design: the composed admission drain at " +
        "qe25's calibrated (nProbe, shortlist) operating point, whose " +
        "vector leg probes about nProbe/k of the corpus and trades recall " +
        "for it, so no exact SQL truth exists. Round16OpsSpec pins the " +
        "lexical legs exactly equal to qs46's oracle-checked verdicts and " +
        "floors the composed-verdict agreement and the vector leg's top-1 " +
        "recall against the parity drain.")),
    // qe2 (1-bit-band LSH) and qe4 (full-probe IVF) are declared at
    // provable-equivalence parameters — both reduce to exact cosine
    // top-k, so the brute-force SQL is their oracle verbatim.
    "qe2_knn_lsh" -> Query(TrainingOps.knnLsh _, Oracle(knnSql)),
    "qe4_knn_ivf" -> Query(TrainingOps.knnIvf _, Oracle(knnSql)),
    // qe8 (full-shortlist PQ/ADC) re-ranks every candidate with exact
    // cosines — equal to brute for ANY codebook, same oracle again.
    "qe8_knn_pq" -> Query(TrainingOps.knnPq _, Oracle(knnSql)),
    // qe12 (IVF-PQ at full probe + full shortlist): both parity
    // arguments stack — every candidate admitted, every one exactly
    // re-ranked — so brute's oracle applies for any codebooks.
    "qe12_knn_ivfpq" -> Query(TrainingOps.knnIvfPq _, Oracle(knnSql)),
    // qe14: the kNN SELF-join graph — knnSql's construction with
    // every vector as a query (same sequential-fold cosine, same rank
    // tie on the neighbor id), k=3, computed through the cell-blocked
    // equi-join at nProbe = nCells: full probe makes the candidate
    // set all pairs for any centroids, so the result provably equals
    // the exact graph this SQL recomputes (SimilaritySpec pins the
    // bit-for-bit parity against the demoted all-pairs baseline).
    // That baseline, qe13, left the gate: its broadcast crossJoin
    // cannot run at growing sf.
    "qe14_knn_graph_blocked" -> Query(TrainingOps.knnGraphBlockedFull _, Oracle(
      s"""WITH base AS (
         |  SELECT vec_id, embedding,
         |    sqrt(${dotSql("embedding", "embedding")}) AS nrm
         |  FROM embeddings),
         |s AS (
         |  SELECT a.vec_id, b.vec_id AS nbr_id,
         |    ${dotSql("b.embedding", "a.embedding")} / (b.nrm * a.nrm) AS sim
         |  FROM base a, base b WHERE b.vec_id <> a.vec_id),
         |r AS (SELECT vec_id, nbr_id, sim,
         |        CAST(rank() OVER (PARTITION BY vec_id
         |          ORDER BY sim DESC, nbr_id) AS INTEGER) AS rnk
         |      FROM s)
         |SELECT vec_id, nbr_id, rnk, sim FROM r WHERE rnk <= 3
         |ORDER BY vec_id, rnk, nbr_id""".stripMargin)),
    // qe3 at 1-bit-band geometry: a pair escapes blocking only when
    // all 16 sign bits differ — p ~ (acos(sim)/pi)^16, ~5e-7 per pair
    // at the 0.3 threshold and vanishing for higher sims — so the
    // result equals the exhaustive all-pairs cosine on the gate
    // corpora (verified at sf0.001/0.01/0.1; probabilistic like qd6's
    // banding bound, not a geometric guarantee). If the corpus is ever
    // regenerated or enlarged, RE-VERIFY this equivalence before
    // treating a qe3 gate failure as a code regression — a fresh
    // corpus can realize the ~5e-7 escape with no code change.
    "qe3_embedding_neardups" -> Query(TrainingOps.embeddingNearDups _, Oracle(nearDupsSql)),
    "qd6_minhash_pairs" -> Query(TrainingOps.minhashTopPairs _, Oracle(minhashPairsSql)),
    "qd10_pair_jaccard" -> Query(
      (s: SparkSession, d: String) => TrainingOps.pairJaccard(s, d),
      Oracle(pairJaccardSql)),
    // Deterministic mixture sampling: the rolling-hash fingerprint
    // (same expression as qd5's oracle) buckets content mod 100; the
    // per-source rate is a function of the source name both engines
    // compute identically.
    "qd12_hash_sample" -> Query(TrainingOps.hashSample _, Oracle(
      """WITH f AS (
         |  SELECT doc_id, source,
         |    CAST(CASE WHEN length(text) = 0 THEN 0 ELSE
         |      list_reduce(list_transform(string_split(text, ''), c -> CAST(unicode(c) AS BIGINT)),
         |        (acc, x) -> (acc * 31 + x) % 2147483647) END % 100 AS INTEGER) AS bucket
         |  FROM documents)
         |SELECT doc_id, source, bucket FROM f
         |WHERE bucket < 20 + 20 * (length(source) % 3)
         |ORDER BY doc_id""".stripMargin)),
    // TF-IDF: Math.log and DuckDB ln can differ by 1 ulp, so the
    // score is quantized to 6 decimals by the same floor construction
    // on both sides and the rank orders on the quantized value.
    "qd11_doc_keywords" -> Query(TrainingOps.docKeywords _, Oracle(
      """WITH toks AS (
         |  SELECT doc_id, unnest(list_filter(string_split(
         |    regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'), ' '),
         |    t -> t != '')) AS token
         |  FROM documents),
         |tf AS (SELECT doc_id, token, count(*) AS tf FROM toks GROUP BY 1, 2),
         |df AS (SELECT token, count(*) AS df FROM tf GROUP BY 1),
         |n AS (SELECT count(*) AS n FROM documents),
         |s AS (SELECT tf.doc_id, tf.token, tf.tf,
         |        CAST(floor(CAST(tf.tf AS DOUBLE) * ln(CAST(n.n AS DOUBLE) / CAST(df.df AS DOUBLE))
         |               * 1000000.0 + 0.5) AS DOUBLE) / 1000000.0 AS tfidf
         |      FROM tf JOIN df USING (token) CROSS JOIN n),
         |r AS (SELECT *, CAST(rank() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, token) AS INTEGER) AS rnk
         |      FROM s)
         |SELECT doc_id, token, CAST(tf AS BIGINT) AS tf, tfidf, rnk
         |FROM r WHERE rnk <= 5
         |ORDER BY doc_id, rnk, token""".stripMargin)),
    "qx1_left_join" -> Query(Extras.leftJoinOrders _, Oracle(
      "SELECT c.c_custkey, a.n_orders, a.total FROM customer c LEFT JOIN (" +
        "SELECT o_custkey, count(*) AS n_orders, " +
        "CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total " +
        "FROM orders GROUP BY 1) a ON c.c_custkey = a.o_custkey " +
        "ORDER BY c.c_custkey")),
    "qx2_semi_join" -> Query(Extras.semiJoin _, Oracle(
      "SELECT c_custkey, c_name FROM customer c WHERE EXISTS (" +
        "SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey) " +
        "ORDER BY c_custkey")),
    "qx3_anti_join" -> Query(Extras.antiJoin _, Oracle(
      "SELECT c_custkey, c_name FROM customer c WHERE NOT EXISTS (" +
        "SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey " +
        "AND o.o_totalprice > 400000) ORDER BY c_custkey")),
    "qx4_rollup" -> Query(Extras.rollupStatus _, Oracle(
      "SELECT o_orderstatus, o_orderpriority, count(*) AS n, " +
        "CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total " +
        "FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority) " +
        "ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST")),
    "qx5_cube" -> Query(Extras.cubeStatus _, Oracle(
      "SELECT o_orderstatus, o_orderpriority, count(*) AS n " +
        "FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority) " +
        "ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST")),
    "qx6_intersect" -> Query(Extras.intersectNations _, Oracle(
      "SELECT c_nationkey AS nk FROM customer INTERSECT " +
        "SELECT s_nationkey AS nk FROM supplier ORDER BY nk")),
    "qx7_except" -> Query(Extras.exceptNations _, Oracle(
      "SELECT c_nationkey AS nk FROM customer EXCEPT " +
        "SELECT s_nationkey AS nk FROM supplier WHERE s_acctbal > 8000 " +
        "ORDER BY nk")),
    // DuckDB's native ASOF JOIN is the oracle for our composed
    // union+window implementation. ts cast TIMESTAMP_NS -> TIMESTAMP
    // (microseconds) mirrors Spark's precision truncation.
    "qx8_asof_join" -> Query(AsOfJoin.eventAsOf _, Oracle(
      """WITH ev AS (SELECT event_id, user_id, event_type, value,
         |              CAST(ts AS TIMESTAMP) AS ts FROM events),
         |clicks AS (SELECT event_id, user_id, ts FROM ev WHERE event_type = 'click'),
         |purch AS (SELECT user_id, ts, max(CAST(value AS DECIMAL(18,2))) AS pval
         |          FROM ev WHERE event_type = 'purchase' GROUP BY 1, 2)
         |SELECT c.event_id, c.user_id,
         |  strftime(c.ts, '%Y-%m-%d %H:%M:%S') AS ts_s,
         |  COALESCE(CAST(p.pval AS DOUBLE), -1.0) AS last_purchase
         |FROM clicks c ASOF LEFT JOIN purch p
         |  ON c.user_id = p.user_id AND c.ts >= p.ts
         |ORDER BY c.event_id""".stripMargin)),
    // plain inequality join as oracle for the bucketed range join
    "qx9_range_join" -> Query(RangeJoin.errorClickBurst _, Oracle(
      """WITH ev AS (SELECT event_id, user_id, event_type,
         |              CAST(floor(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT) AS epoch
         |            FROM events),
         |e AS (SELECT event_id, user_id, epoch FROM ev WHERE event_type = 'error'),
         |c AS (SELECT user_id, epoch FROM ev WHERE event_type = 'click')
         |SELECT e.event_id, count(c.epoch) AS n_in_window
         |FROM e LEFT JOIN c ON c.user_id = e.user_id
         |  AND c.epoch <= e.epoch AND c.epoch > e.epoch - 300
         |GROUP BY 1 ORDER BY e.event_id""".stripMargin)),
    "qs1_event_hourly" -> Query(Events.hourlyStats _, Oracle(hourlyStatsSql)),
    // qs8 is qs1 recomputed incrementally (windowed streaming agg;
    // decimal sums are order-free) — same result, same oracle.
    "qs8_stream_hourly" -> Query(EventStream.hourlyStatsGate _, Oracle(hourlyStatsSql)),
    // qs9: event_ids are unique in the corpus, so the watermarked
    // streaming dedup provably equals the plain projection.
    "qs9_stream_dedup" -> Query(EventStream.dedupGate _, Oracle(
      "SELECT event_id, user_id, event_type FROM events " +
        "ORDER BY event_id")),
    // qs20: dropDuplicatesWithinWatermark — unique gate event_ids
    // make it the plain projection too (qs9's argument); the
    // differing-event-time duplicate model is StreamingSpec's.
    "qs20_stream_dedup_ww" -> Query(EventStream.dedupWwGate _, Oracle(
      "SELECT event_id, user_id, event_type FROM events " +
        "ORDER BY event_id")),
    "qs2_sessionize" -> Query((Events.sessionize(_, _)), Oracle(sessionizeSql)),
    // qs7 is qs2 recomputed incrementally (Structured Streaming drain
    // with per-user session state) — same result, same oracle.
    "qs7_stream_sessionize" -> Query(SessionStream.sessionizeGate _, Oracle(sessionizeSql)),
    // qs29: identical (user, day) fan-out on both engines; counts
    // exact, gap days from the same calendar spine.
    "qs29_rolling_actives" -> Query(Events.rollingActives _, Oracle(
      """WITH ud AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day
         |  FROM events),
         |b AS (SELECT min(day) AS d0, max(day) AS d1 FROM ud),
         |spine AS (SELECT CAST(unnest(generate_series(d0, d1,
         |    INTERVAL 1 DAY)) AS DATE) AS day FROM b),
         |dau AS (SELECT day, CAST(count(*) AS BIGINT) AS dau
         |  FROM ud GROUP BY 1),
         |cov AS (SELECT DISTINCT user_id, CAST(unnest(generate_series(day,
         |    day + INTERVAL 6 DAY, INTERVAL 1 DAY)) AS DATE) AS day
         |  FROM ud),
         |wau AS (SELECT day, CAST(count(*) AS BIGINT) AS wau7
         |  FROM cov GROUP BY 1)
         |SELECT strftime(s.day, '%Y-%m-%d') AS day,
         |  COALESCE(dau.dau, 0) AS dau, COALESCE(wau.wau7, 0) AS wau7
         |FROM spine s LEFT JOIN dau USING (day) LEFT JOIN wau USING (day)
         |ORDER BY day""".stripMargin)),
    // qs30: qs2's session CTEs reduced to durations (floored-epoch
    // diffs, exact BIGINTs), interpolated percentiles (qs5 parity),
    // one shared division for events/session.
    "qs30_session_stats" -> Query(Events.sessionStats _, Oracle(
      """WITH e AS (SELECT *, lag(ts) OVER (
         |    PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
         |  FROM events),
         |f AS (SELECT *, CASE WHEN prev_ts IS NULL THEN 1
         |    WHEN CAST(floor(epoch(ts)) AS BIGINT)
         |      - CAST(floor(epoch(prev_ts)) AS BIGINT) > 1800 THEN 1
         |    ELSE 0 END AS new_session FROM e),
         |g AS (SELECT *, SUM(new_session) OVER (
         |    PARTITION BY user_id ORDER BY ts, event_id
         |    ROWS UNBOUNDED PRECEDING) AS session_id FROM f),
         |s AS (SELECT user_id, session_id,
         |    CAST(count(*) AS BIGINT) AS n_events,
         |    CAST(floor(epoch(max(ts))) AS BIGINT)
         |      - CAST(floor(epoch(min(ts))) AS BIGINT) AS dur
         |  FROM g GROUP BY 1, 2)
         |SELECT CAST(count(*) AS BIGINT) AS n_sessions,
         |  CAST(SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS bounces,
         |  quantile_cont(dur, 0.5) AS med_dur_sec,
         |  quantile_cont(dur, 0.95) AS p95_dur_sec,
         |  CAST(SUM(n_events) AS DOUBLE) / CAST(count(*) AS DOUBLE)
         |    AS events_per_session
         |FROM s""".stripMargin)),
    "qs3_props_json" -> Query(Events.propsExtract _, Oracle(
      "SELECT event_id, CAST(json_extract_string(props, '$.k') AS INTEGER) AS k " +
        "FROM events ORDER BY event_id")),
    "qs5_percentiles" -> Query(Events.valuePercentiles _, Oracle(
      "SELECT event_type, quantile_cont(value, 0.5) AS med, " +
        "quantile_cont(value, 0.95) AS p95 " +
        "FROM events GROUP BY 1 ORDER BY event_type")),
    // bounded-frame window: decimal frame sum / exact count, division
    // in double on both sides; frame order pinned by (ts, event_id)
    "qs6_moving_avg" -> Query(Events.movingAvg _, Oracle(
      """WITH e AS (SELECT user_id, event_id,
         |             CAST(ts AS TIMESTAMP) AS ts, value FROM events)
         |SELECT user_id, event_id,
         |  strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_s,
         |  CAST(SUM(CAST(value AS DECIMAL(18,2)))
         |         OVER (PARTITION BY user_id ORDER BY ts, event_id
         |               ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS DOUBLE)
         |    / CAST(COUNT(*)
         |         OVER (PARTITION BY user_id ORDER BY ts, event_id
         |               ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS DOUBLE)
         |    AS avg5
         |FROM e ORDER BY user_id, ts_s, event_id""".stripMargin)),
    "qd8_source_stats" -> Query(TrainingOps.sourceStats _, Oracle(
      "SELECT source, count(*) AS n_docs, " +
        "count(DISTINCT lang) AS n_langs, CAST(SUM(n_chars) AS BIGINT) AS total_chars " +
        "FROM documents GROUP BY 1 ORDER BY source")),
    "qd9_token_freq" -> Query(TrainingOps.tokenFreq _, Oracle(
      "SELECT token, count(*) AS doc_freq FROM (" +
        "SELECT DISTINCT doc_id, unnest(list_filter(" +
        "string_split(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'), ' '), " +
        "t -> t != '')) AS token FROM documents) t " +
        "GROUP BY 1 ORDER BY doc_freq DESC, token LIMIT 50")),
    // qm1: the oracle recomputes the media attributes the Spark side
    // encodes into (and decodes back out of) real binary blobs — a
    // value check of the full encode→parse→aggregate round-trip.
    // payload_bytes == octet_length(text) on both branches: the valid
    // decode subtracts the header it added, the corrupt branch never
    // had one.
    "qm1_media_stats" -> Query(TrainingOps.mediaStats _, Oracle(
      """WITH m AS (
         |  SELECT doc_id,
         |    CASE WHEN doc_id % 50 = 0 THEN 'unknown'
         |         WHEN doc_id % 3 = 0 THEN 'image'
         |         WHEN doc_id % 3 = 1 THEN 'audio'
         |         ELSE 'video' END AS kind,
         |    CASE WHEN doc_id % 50 = 0 THEN 0 ELSE 16 + doc_id % 1024 END AS width,
         |    CASE WHEN doc_id % 50 = 0 THEN 0 ELSE 16 + (doc_id * 7) % 768 END AS height,
         |    CASE WHEN doc_id % 50 = 0 THEN 0
         |         WHEN doc_id % 3 = 0 THEN 1
         |         WHEN doc_id % 3 = 1 THEN 0
         |         ELSE 1 + doc_id % 120 END AS n_frames,
         |    octet_length(encode(text)) AS payload,
         |    CASE WHEN doc_id % 50 = 0 THEN 0 ELSE 1 END AS valid
         |  FROM documents)
         |SELECT kind, count(*) AS n,
         |  CAST(SUM(valid) AS BIGINT) AS n_valid,
         |  CAST(SUM(payload) AS BIGINT) AS total_payload,
         |  CAST(SUM(width) AS BIGINT) AS total_width,
         |  CAST(SUM(height) AS BIGINT) AS total_height,
         |  CAST(SUM(n_frames) AS BIGINT) AS total_frames
         |FROM m GROUP BY kind ORDER BY kind""".stripMargin)),
    // qm2: frame sampling is integer arithmetic over the encoded
    // geometry — frameLen = max(1, payload // n_frames), frames
    // 0,4,8,... < n_frames, last slice clipped to the payload end —
    // so the oracle recomputes counts and byte totals from
    // (doc_id, octet_length(text)) while Spark slices real bytes.
    "qm2_frame_sample" -> Query(TrainingOps.frameSample _, Oracle(
      """WITH v AS (
         |  SELECT doc_id, 1 + doc_id % 120 AS nf,
         |    octet_length(encode(text)) AS pl
         |  FROM documents
         |  WHERE doc_id % 3 = 2 AND doc_id % 50 <> 0),
         |f AS (SELECT doc_id, nf, pl, greatest(1, pl // nf) AS fl FROM v)
         |SELECT doc_id AS media_id,
         |  CAST((nf - 1) // 4 + 1 AS BIGINT) AS n_sampled,
         |  CAST(list_sum(list_transform(range(0, nf, 4),
         |    x -> greatest(0, least(fl, pl - x * fl)))) AS BIGINT) AS sampled_bytes
         |FROM f ORDER BY media_id""".stripMargin)),
    // qm3: output sizes are arithmetic over (doc_id, text bytes):
    // invalid (doc_id%50==0) blobs resize to empty, short payloads
    // pass through, long ones stride-sample to 16x16 bytes.
    "qm3_resize" -> Query(TrainingOps.resizeStats _, Oracle(
      "SELECT doc_id AS media_id, 16 AS width, 16 AS height, " +
        "CAST(CASE WHEN doc_id % 50 = 0 THEN 0 " +
        "ELSE least(octet_length(encode(text)), 256) END AS BIGINT) " +
        "AS resized_bytes_len " +
        "FROM documents ORDER BY media_id")),
    "qs4_top_spenders" -> Query(Events.topSpenders _, Oracle(topSpendersSql)),
    // qx11 recomputes qs4 through the typed TopKAggregator — same
    // result, same oracle (see Events.topSpendersTyped). Data-
    // dependent caveat, same class as qe3's: a spend tie crossing the
    // k=5 boundary would make rank() admit more rows than the bounded
    // buffer keeps (none exist in the gate corpora — decimal sums of
    // thousands of events). On a regenerated corpus, RE-CHECK for
    // boundary ties before reading a qx11 gate failure as a
    // regression.
    "qx11_topk_agg" -> Query(Events.topSpendersTyped _, Oracle(topSpendersSql)),
    // qx12's salted join must equal the plain join — the oracle IS
    // the unsalted form.
    "qx12_salted_join" -> Query(Extras.saltedEnrich _, Oracle(
      """WITH t AS (SELECT user_id,
         |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS user_total
         |  FROM events GROUP BY 1)
         |SELECT e.event_id, e.user_id, t.user_total
         |FROM events e JOIN t ON e.user_id = t.user_id
         |ORDER BY e.event_id""".stripMargin)),
    // qx13's bucketed co-located join must equal the plain join —
    // q03's oracle verbatim.
    "qx13_bucketed_join" -> Query(Extras.bucketedJoin _, Oracle(q03Sql)),
    // 200-char chunks, 150 stride: unnest(generate_series) mirrors
    // explode(sequence); substr is 1-based in both engines.
    "qd17_chunk" -> Query(TextPrep.chunkQuery _, Oracle(
      """WITH s AS (
         |  SELECT doc_id, text,
         |    unnest(generate_series(0, CAST(length(text) AS BIGINT) - 1, 150))
         |      AS start
         |  FROM documents WHERE length(text) > 0)
         |SELECT doc_id, CAST(start // 150 AS INTEGER) AS chunk_idx,
         |  substr(text, CAST(start + 1 AS INTEGER), 200) AS chunk_text,
         |  CAST(length(substr(text, CAST(start + 1 AS INTEGER), 200))
         |    AS INTEGER) AS chunk_chars
         |FROM s ORDER BY doc_id, chunk_idx""".stripMargin)),
    // Token-equality stopword strip; DuckDB string_split and Spark
    // split(_, " ") agree on empty-token runs, so the rejoin and the
    // removed-count are exact mirrors.
    "qd18_strip_boilerplate" -> Query(TextPrep.stripQuery _, Oracle(
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks
         |  FROM documents),
         |k AS (SELECT doc_id, toks,
         |  list_filter(toks, w -> NOT list_contains(
         |    ['the','a','of','to','and','in','is','it'], lower(w))) AS kept
         |  FROM t)
         |SELECT doc_id, array_to_string(kept, ' ') AS kept_text,
         |  CAST(len(toks) - len(kept) AS INTEGER) AS n_removed
         |FROM k ORDER BY doc_id""".stripMargin)),
    // L2 norms via the same sequential dot fold as knnSql; min/max
    // are order-independent, so the group aggregate is exact.
    "qe5_norm_audit" -> Query(TrainingOps.normAudit _, Oracle(
      s"""WITH n AS (SELECT label, CAST(len(embedding) AS INTEGER) AS dim,
         |  sqrt(${dotSql("embedding", "embedding")}) AS nrm
         |  FROM embeddings)
         |SELECT label, count(*) AS n_vecs,
         |  min(dim) AS min_dim, max(dim) AS max_dim,
         |  min(nrm) AS min_norm, max(nrm) AS max_norm
         |FROM n GROUP BY label ORDER BY label""".stripMargin)),
    // SCD2 validity intervals: row_number + lead share one window;
    // o_totalprice passes through unchanged (no arithmetic), so the
    // double is bit-exact without the decimal detour.
    "qx14_scd2_history" -> Query(Scd2.customerHistory _, Oracle(
      """SELECT o_custkey AS cust,
         |  CAST(row_number() OVER w AS INTEGER) AS version,
         |  o_orderstatus AS status, o_totalprice AS total,
         |  strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') AS valid_from,
         |  COALESCE(strftime(lead(o_orderdate) OVER w, '%Y-%m-%d %H:%M:%S'),
         |    '9999-12-31 00:00:00') AS valid_to,
         |  lead(o_orderdate) OVER w IS NULL AS is_current
         |FROM orders
         |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
         |ORDER BY cust, version""".stripMargin)),
    // Packing is all-integer math (running sum, DIV, min/max/count),
    // so the mirror is exact; DuckDB's window SUM widens to HUGEINT,
    // cast back to BIGINT to match Spark's long.
    "qd19_pack_bins" -> Query(TextPrep.packQuery _, Oracle(
      """WITH o AS (SELECT source, doc_id, n_chars,
         |  SUM(n_chars) OVER (PARTITION BY source ORDER BY doc_id) - n_chars
         |    AS off
         |  FROM documents)
         |SELECT source, CAST(off // 2000 AS INTEGER) AS bin,
         |  count(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS bin_chars,
         |  min(doc_id) AS first_doc, max(doc_id) AS last_doc
         |FROM o GROUP BY 1, 2 ORDER BY source, bin""".stripMargin)),
    // The merge's update/insert/carry split mirrors the full-outer
    // coalesce; latest-per-key on both sides, fixed cutoff.
    "qx15_upsert" -> Query(Scd2.customerUpsert _, Oracle(
      """WITH snap AS (
         |  SELECT o_custkey, o_orderstatus AS status, o_totalprice AS total,
         |    strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') AS as_of
         |  FROM (SELECT *, row_number() OVER (PARTITION BY o_custkey
         |      ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
         |    FROM orders WHERE o_orderdate < TIMESTAMP '2001-06-01') t
         |  WHERE rn = 1),
         |upd AS (
         |  SELECT o_custkey, o_orderstatus AS status, o_totalprice AS total,
         |    strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') AS as_of
         |  FROM (SELECT *, row_number() OVER (PARTITION BY o_custkey
         |      ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
         |    FROM orders WHERE o_orderdate >= TIMESTAMP '2001-06-01') t
         |  WHERE rn = 1)
         |SELECT COALESCE(u.o_custkey, s.o_custkey) AS cust,
         |  COALESCE(u.status, s.status) AS status,
         |  COALESCE(u.total, s.total) AS total,
         |  COALESCE(u.as_of, s.as_of) AS as_of,
         |  CASE WHEN s.o_custkey IS NULL THEN 'insert'
         |       WHEN u.o_custkey IS NULL THEN 'carry'
         |       ELSE 'update' END AS op
         |FROM snap s FULL OUTER JOIN upd u ON s.o_custkey = u.o_custkey
         |ORDER BY cust""".stripMargin)),
    // session_window merges an event landing EXACTLY gap after its
    // predecessor (verified empirically: sf0.1 has one 1800s-exact
    // pair and Spark keeps it in-session), so the new-session
    // condition is strictly > gap — same boundary as qs2's lag form.
    // Both engines compare second-truncated timestamps so the
    // nanos/micros precision gap cannot move a boundary. Ties need
    // event_id in BOTH window orders so lag and the cumsum walk rows
    // identically.
    "qs10_session_window" -> Query(((s, d) => Events.sessionWindow(s, d)),
      Oracle(sessionWindowSql)),
    // native STREAMING session windows (MergingSessions state store,
    // complete-mode drain) — same computation, same oracle
    "qs12_stream_session_window" -> Query(SessionStream.sessionWindowGate _,
      Oracle(sessionWindowSql)),
    "qx17_spend_distribution" -> Query(Events.spendDistribution _, Oracle(
      """WITH s AS (SELECT event_type, user_id,
         |  SUM(CAST(value AS DECIMAL(18,2))) AS spend_dec
         |  FROM events GROUP BY 1, 2)
         |SELECT event_type, user_id, CAST(spend_dec AS DOUBLE) AS spend,
         |  CAST(ntile(4) OVER w AS INTEGER) AS quartile,
         |  percent_rank() OVER w AS pct_rank,
         |  cume_dist() OVER w AS cume
         |FROM s WINDOW w AS (PARTITION BY event_type ORDER BY spend_dec DESC, user_id)
         |ORDER BY event_type, user_id""".stripMargin)),
    // Strict ordered funnel at (user, day) grain; ">= on floored
    // epoch seconds" is the tie rule both engines share.
    "qs11_funnel" -> Query(Events.funnel _, Oracle(
      """WITH e AS (SELECT user_id, CAST(ts AS DATE) AS day, event_type,
         |  CAST(floor(epoch(ts)) AS BIGINT) AS tsec FROM events),
         |v AS (SELECT user_id, day, min(tsec) AS t_view FROM e
         |  WHERE event_type = 'view' GROUP BY 1, 2),
         |c AS (SELECT e.user_id, e.day, min(tsec) AS t_click FROM e
         |  JOIN v USING (user_id, day)
         |  WHERE event_type = 'click' AND tsec >= t_view GROUP BY 1, 2),
         |p AS (SELECT e.user_id, e.day, min(tsec) AS t_purchase FROM e
         |  JOIN c USING (user_id, day)
         |  WHERE event_type = 'purchase' AND tsec >= t_click GROUP BY 1, 2)
         |SELECT '1_view' AS stage, count(*) AS n_user_days FROM v
         |UNION ALL SELECT '2_view_click' AS stage, count(*) AS n_user_days FROM c
         |UNION ALL SELECT '3_view_click_purchase' AS stage, count(*) AS n_user_days FROM p
         |ORDER BY stage""".stripMargin)),
    // qs31: qs11's oracle with the conversion deadline — inclusive
    // +3600 boundary on both engines, exact integer seconds.
    "qs31_timed_funnel" -> Query(Events.timedFunnel _, Oracle(
      """WITH e AS (SELECT user_id, CAST(ts AS DATE) AS day, event_type,
         |  CAST(floor(epoch(ts)) AS BIGINT) AS tsec FROM events),
         |v AS (SELECT user_id, day, min(tsec) AS t_view FROM e
         |  WHERE event_type = 'view' GROUP BY 1, 2),
         |c AS (SELECT e.user_id, e.day, min(tsec) AS t_click FROM e
         |  JOIN v USING (user_id, day)
         |  WHERE event_type = 'click' AND tsec >= t_view
         |    AND tsec <= t_view + 3600 GROUP BY 1, 2),
         |p AS (SELECT e.user_id, e.day, min(tsec) AS t_purchase FROM e
         |  JOIN c USING (user_id, day)
         |  WHERE event_type = 'purchase' AND tsec >= t_click
         |    AND tsec <= t_click + 3600 GROUP BY 1, 2)
         |SELECT '1_view' AS stage, count(*) AS n_user_days FROM v
         |UNION ALL SELECT '2_click_1h' AS stage, count(*) AS n_user_days FROM c
         |UNION ALL SELECT '3_purchase_1h' AS stage, count(*) AS n_user_days FROM p
         |ORDER BY stage""".stripMargin)),
    // qs32: exact DECIMAL totals, share one double division of
    // exactly-representable totals, rank on the double total with
    // the type name as tie-break.
    "qs32_spend_share" -> Query(Events.spendShare _, Oracle(
      """WITH t AS (SELECT event_type,
         |    SUM(CAST(value AS DECIMAL(18,2))) AS total_dec
         |  FROM events GROUP BY 1),
         |g AS (SELECT SUM(total_dec) AS grand FROM t)
         |SELECT event_type, CAST(total_dec AS DOUBLE) AS total,
         |  CAST(total_dec AS DOUBLE) / CAST(grand AS DOUBLE) AS share,
         |  CAST(rank() OVER (ORDER BY CAST(total_dec AS DOUBLE) DESC,
         |    event_type) AS INTEGER) AS rnk
         |FROM t, g ORDER BY rnk""".stripMargin)),
    // qs33: integral half-life decay — cents are exact BIGINTs
    // (DECIMAL(18,2)*100), age // 7 nonneg so DuckDB floor division
    // == Spark truncating div, the shift is exact integer math, and
    // the final /100.0 is one IEEE division of a <2^53 integer.
    "qs33_decayed_spend" -> Query(Events.decayedSpend _, Oracle(
      """WITH a AS (SELECT max(CAST(ts AS TIMESTAMP)::DATE) AS anchor_day
         |  FROM events),
         |e AS (SELECT user_id,
         |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents,
         |    LEAST(date_diff('day', CAST(ts AS TIMESTAMP)::DATE,
         |      (SELECT anchor_day FROM a)) // 7, 62) AS k
         |  FROM events),
         |s AS (SELECT user_id, CAST(SUM(cents) AS BIGINT) AS raw_cents,
         |    CAST(SUM(cents // (CAST(1 AS BIGINT) << CAST(k AS INTEGER)))
         |      AS BIGINT) AS decayed_cents
         |  FROM e GROUP BY 1)
         |SELECT user_id, raw_cents / 100.0 AS raw_spend,
         |  decayed_cents / 100.0 AS decayed_spend
         |FROM s ORDER BY user_id""".stripMargin)),
    // qs34: the day-range join form — equivalent to Spark's explode
    // fanout restricted to observed days; counts exact, one IEEE
    // division.
    "qs34_stickiness" -> Query(Events.stickiness _, Oracle(
      """WITH ud AS (SELECT DISTINCT user_id,
         |    CAST(ts AS TIMESTAMP)::DATE AS day FROM events),
         |days AS (SELECT DISTINCT day FROM ud),
         |dau AS (SELECT day, CAST(count(*) AS BIGINT) AS dau
         |  FROM ud GROUP BY 1),
         |wau AS (SELECT d.day, CAST(count(DISTINCT u.user_id) AS BIGINT)
         |    AS wau
         |  FROM days d JOIN ud u ON u.day BETWEEN d.day - 6 AND d.day
         |  GROUP BY 1)
         |SELECT strftime(dau.day, '%Y-%m-%d') AS day, dau.dau, wau.wau,
         |  CAST(dau.dau AS DOUBLE) / CAST(wau.wau AS DOUBLE) AS stickiness
         |FROM dau JOIN wau ON dau.day = wau.day
         |ORDER BY day""".stripMargin)),
    "qd20_lexical_diversity" -> Query(TrainingOps.lexicalDiversity _, Oracle(
      """WITH toks AS (
         |  SELECT doc_id, list_filter(string_split(
         |    regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'), ' '),
         |    t -> t != '') AS t
         |  FROM documents)
         |SELECT doc_id, CAST(len(t) AS BIGINT) AS n_tokens,
         |  CAST(len(list_distinct(t)) AS BIGINT) AS n_types,
         |  CASE WHEN len(t) > 0 THEN
         |    CAST(len(list_distinct(t)) AS DOUBLE) / CAST(len(t) AS DOUBLE)
         |  END AS ttr
         |FROM toks ORDER BY doc_id""".stripMargin)),
    // Entropy terms are quantized to integer micro-nats (qd11's floor
    // construction over the 1-ulp ln difference), so the per-doc sum
    // is exact integer arithmetic — order-independent on both sides.
    "qd21_char_entropy" -> Query(TrainingOps.charEntropy _, Oracle(
      """WITH ch AS (SELECT doc_id, n_chars, unnest(string_split(text, '')) AS ch FROM documents),
         |cnt AS (SELECT doc_id, n_chars, ch, count(*) AS c FROM ch GROUP BY 1, 2, 3),
         |t AS (SELECT doc_id,
         |    CAST(floor((CAST(c AS DOUBLE) / CAST(n_chars AS DOUBLE))
         |      * ln(CAST(c AS DOUBLE) / CAST(n_chars AS DOUBLE))
         |      * 1000000.0 + 0.5) AS BIGINT) AS tm
         |  FROM cnt)
         |SELECT doc_id, count(*) AS n_distinct_chars,
         |  CAST(-SUM(tm) AS DOUBLE) / 1000000.0 AS entropy
         |FROM t GROUP BY doc_id ORDER BY doc_id""".stripMargin)),
    // The SQL-surface query: the oracle IS the Spark-side text.
    "qx16_sql_api" -> Query(Extras.sqlMart _, Oracle(Extras.sqlMartText)),
    // Both engines use the same grouping_id bit convention
    // (leftmost grouping column = most significant bit, 1 = that
    // column aggregated out in this row).
    "qx18_grouping_sets" -> Query(Extras.groupingSetsAgg _, Oracle(
      """SELECT o_orderstatus, o_orderpriority,
         |  CAST(GROUPING(o_orderstatus, o_orderpriority) AS INTEGER) AS gid,
         |  count(*) AS n,
         |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
         |FROM orders
         |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
         |ORDER BY gid, o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST"""
        .stripMargin)),
    // list_filter preserves source order, so no position plumbing is
    // needed on the oracle side; len > 0 mirrors the Spark inner
    // join dropping fully-pruned documents. The relative min-df
    // threshold (df >= N/10) is integer cross-multiplied on both
    // sides — no float rounding in the cut.
    "qd22_prune_vocab" -> Query(((s, d) => TrainingOps.pruneVocab(s, d)), Oracle(
      """WITH toks AS (
         |  SELECT doc_id, list_filter(string_split(
         |    regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'), ' '),
         |    t -> t != '') AS t
         |  FROM documents),
         |dfreq AS (
         |  SELECT token, count(*) AS df FROM (
         |    SELECT DISTINCT doc_id, unnest(t) AS token FROM toks)
         |  GROUP BY token),
         |kv AS (SELECT list(token) AS kept FROM dfreq
         |       WHERE df * 10 >= (SELECT count(*) FROM documents)),
         |pruned AS (
         |  SELECT doc_id,
         |    list_filter(t, x -> list_contains(kv.kept, x)) AS p
         |  FROM toks CROSS JOIN kv)
         |SELECT doc_id, CAST(len(p) AS BIGINT) AS n_kept,
         |  array_to_string(p, ' ') AS pruned_text
         |FROM pruned WHERE len(p) > 0
         |ORDER BY doc_id""".stripMargin)),
    // Per-bigram ln P quantized to integer micro-nats -> exact
    // per-doc sums; the two trailing double divisions run in the
    // same order on both engines.
    // qm4: payload == the document's UTF-8 bytes under every header
    // branch (mediaFromDocs invariant), so the dup groups are exactly
    // the duplicate-text groups; sha-256 hex lowercase both engines.
    "qm4_media_dedup" -> Query(TrainingOps.mediaDedup _, Oracle(
      """SELECT sha256(text) AS content_sha,
         |  CAST(count(*) AS BIGINT) AS n_copies,
         |  CAST(min(doc_id) AS BIGINT) AS keeper_id,
         |  CAST((count(*) - 1) * min(octet_length(encode(text))) AS BIGINT)
         |    AS wasted_bytes
         |FROM documents GROUP BY text
         |ORDER BY keeper_id""".stripMargin)),
    // qm6: every ingredient is integer-exact and recomputable from
    // the source table — pixels are codepoints of the payload (the
    // DocFingerprint unicode(c) convention), sample index and
    // threshold are cleared of divisions ((i·len) div 64, p·64 > Σp),
    // bands are bit sums, and the 4-band pigeonhole blocking is EXACT
    // for hamming ≤ 3, so the oracle reproduces the pair set with the
    // same banding equi-join. doc_id % 50 = 0 blobs are the planted
    // invalid containers (excluded before feature-extract, the qm5
    // router), empty payloads likewise; doc_id % 40 = 7 docs also
    // land as re-wrapped copies at media_id doc_id + 10^9 (same
    // payload, different container — Multimodal.mediaWithRewraps),
    // which phash must pair at hamming 0.
    "qm6_phash_neardup" -> Query(TrainingOps.phashNearDups _, Oracle(
      """WITH px AS (
         |  SELECT doc_id AS media_id,
         |    list_transform(string_split(text, ''), c -> unicode(c)) AS cps
         |  FROM documents
         |  WHERE doc_id % 50 <> 0 AND length(text) > 0
         |  UNION ALL
         |  SELECT doc_id + 1000000000 AS media_id,
         |    list_transform(string_split(text, ''), c -> unicode(c)) AS cps
         |  FROM documents
         |  WHERE doc_id % 40 = 7 AND length(text) > 0),
         |sam AS (
         |  SELECT media_id, CAST(t.range AS INTEGER) AS i,
         |    cps[CAST((t.range * len(cps)) // 64 AS INTEGER) + 1] AS p
         |  FROM px, range(64) t),
         |ag AS (
         |  SELECT media_id, i, p,
         |    SUM(p) OVER (PARTITION BY media_id) AS s
         |  FROM sam),
         |bd AS (
         |  SELECT media_id, CAST(i // 16 AS INTEGER) AS bi,
         |    CAST(SUM(CASE WHEN p * 64 > s THEN 1 ELSE 0 END
         |      * (CAST(1 AS BIGINT) << CAST(i % 16 AS INTEGER)))
         |      AS BIGINT) AS bv
         |  FROM ag GROUP BY 1, 2),
         |cand AS (
         |  SELECT a.media_id AS media_a, b.media_id AS media_b
         |  FROM bd a JOIN bd b ON a.bi = b.bi AND a.bv = b.bv
         |    AND a.media_id < b.media_id
         |  GROUP BY 1, 2),
         |h AS (
         |  SELECT media_id,
         |    MAX(CASE WHEN bi = 0 THEN bv END) AS b0,
         |    MAX(CASE WHEN bi = 1 THEN bv END) AS b1,
         |    MAX(CASE WHEN bi = 2 THEN bv END) AS b2,
         |    MAX(CASE WHEN bi = 3 THEN bv END) AS b3
         |  FROM bd GROUP BY 1),
         |sc AS (
         |  SELECT media_a, media_b,
         |    CAST(bit_count(xor(ha.b0, hb.b0)) + bit_count(xor(ha.b1, hb.b1))
         |      + bit_count(xor(ha.b2, hb.b2)) + bit_count(xor(ha.b3, hb.b3))
         |      AS INTEGER) AS hamming
         |  FROM cand
         |  JOIN h ha ON cand.media_a = ha.media_id
         |  JOIN h hb ON cand.media_b = hb.media_id)
         |SELECT media_a, media_b, hamming FROM sc
         |WHERE hamming <= 3
         |ORDER BY media_a, media_b""".stripMargin)),
    // qm7: the Spark side runs the REAL binary decode (valid flag +
    // kind from the container header); the oracle recomputes both
    // from the mediaFromDocs contract's arithmetic (doc_id % 50 = 0
    // blobs invalid, kind = doc_id % 3), pairs media 2k with caption
    // doc/vector 2k+1 on the shared id space, and folds the same
    // sequential-double cosine — so the 0.2 reject-band counts and
    // the order-free min/max extrema match bit for bit.
    "qm7_crossmodal_align" -> Query(TrainingOps.crossModalAlign _, Oracle(
      s"""WITH m AS (
         |  SELECT a.vec_id AS media_id, d.source,
         |    CASE WHEN a.vec_id % 3 = 0 THEN 'image'
         |         WHEN a.vec_id % 3 = 1 THEN 'audio'
         |         ELSE 'video' END AS kind,
         |    ${dotSql("a.embedding", "b.embedding")} /
         |      (sqrt(${dotSql("a.embedding", "a.embedding")})
         |        * sqrt(${dotSql("b.embedding", "b.embedding")})) AS align
         |  FROM embeddings a
         |  JOIN embeddings b ON b.vec_id = a.vec_id + 1
         |  JOIN documents d ON d.doc_id = a.vec_id + 1
         |  JOIN documents dm ON dm.doc_id = a.vec_id
         |  WHERE a.vec_id % 2 = 0 AND a.vec_id % 50 <> 0)
         |SELECT source, kind, CAST(count(*) AS BIGINT) AS n_pairs,
         |  CAST(SUM(CASE WHEN align >= 0.2 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_aligned,
         |  min(align) AS min_align, max(align) AS max_align
         |FROM m GROUP BY 1, 2 ORDER BY source, kind""".stripMargin)),
    // qd42: qd23's char-bigram mirror split ref/score; Laplace terms
    // quantized to micro-nats AFTER identical double divisions, so
    // per-doc sums are exact integers; ln-vs-log ulp absorbed by the
    // qd43: dup flag partitions by text alone (Spark adds the hash
    // key only to cheapen the sort — text rides along, so groups are
    // identical); tokens are qd2's whitespace convention; avg_chars
    // is one IEEE division of exact BIGINT totals.
    "qd43_corpus_report" -> Query(TrainingOps.corpusReport _, Oracle(
      """WITH f AS (SELECT source, lang, text, n_chars,
         |    CASE WHEN row_number() OVER (PARTITION BY text
         |      ORDER BY doc_id) > 1 THEN 1 ELSE 0 END AS is_dup
         |  FROM documents),
         |s AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         |    CAST(SUM(is_dup) AS BIGINT) AS n_dup_docs,
         |    CAST(SUM(CASE WHEN length(trim(text)) = 0 THEN 0
         |      ELSE len(regexp_split_to_array(trim(text), '\s+')) END)
         |      AS BIGINT) AS total_tokens,
         |    CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
         |    CAST(SUM(n_chars) AS BIGINT) AS total_chars
         |  FROM f GROUP BY 1),
         |l AS (SELECT source, lang, count(*) AS cnt
         |  FROM documents GROUP BY 1, 2),
         |t AS (SELECT source, lang AS top_lang,
         |    row_number() OVER (PARTITION BY source
         |      ORDER BY cnt DESC, lang) AS rn FROM l)
         |SELECT s.source, n_docs, n_dup_docs, total_tokens, n_langs,
         |  t.top_lang,
         |  CAST(total_chars AS DOUBLE) / CAST(n_docs AS DOUBLE) AS avg_chars
         |FROM s JOIN t ON s.source = t.source AND t.rn = 1
         |ORDER BY s.source""".stripMargin)),
    // floor(+0.5) quantization (the qd11/qd23 precedent).
    "qd42_cross_perplexity" -> Query(TrainingOps.crossPerplexity _, Oracle(
      """WITH b AS (
         |  SELECT doc_id, ref, substr(text, CAST(i AS INTEGER), 2) AS bg
         |  FROM (SELECT doc_id, source = 'src0' AS ref, text,
         |          unnest(generate_series(1, CAST(n_chars AS BIGINT) - 1)) AS i
         |        FROM documents WHERE n_chars >= 2)),
         |m AS (SELECT bg, count(*) AS c FROM b WHERE ref GROUP BY 1),
         |st AS (SELECT CAST(SUM(c) AS BIGINT) AS t,
         |    CAST(count(*) AS BIGINT) AS v FROM m),
         |q AS (SELECT bg, CAST(floor(ln(CAST(c + 1 AS DOUBLE)
         |    / CAST((SELECT t FROM st) + (SELECT v FROM st) AS DOUBLE))
         |    * 1000000.0 + 0.5) AS BIGINT) AS tm FROM m),
         |sc AS (SELECT b.doc_id, q.tm FROM b LEFT JOIN q USING (bg)
         |  WHERE NOT b.ref)
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
         |  CAST(SUM(CASE WHEN tm IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_oov,
         |  CAST(SUM(CASE WHEN tm IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
         |    / CAST(count(*) AS DOUBLE) AS oov_rate,
         |  CAST(-SUM(COALESCE(tm, CAST(floor(ln(CAST(1 AS DOUBLE)
         |    / CAST((SELECT t FROM st) + (SELECT v FROM st) AS DOUBLE))
         |    * 1000000.0 + 0.5) AS BIGINT))) AS DOUBLE)
         |    / 1000000.0 / CAST(count(*) AS DOUBLE) AS avg_nll
         |FROM sc GROUP BY doc_id ORDER BY doc_id""".stripMargin)),
    "qd23_bigram_lm" -> Query(TrainingOps.bigramLm _, Oracle(
      """WITH b AS (
         |  SELECT doc_id, substr(text, CAST(i AS INTEGER), 2) AS bg
         |  FROM (SELECT doc_id, text,
         |          unnest(generate_series(1, CAST(n_chars AS BIGINT) - 1)) AS i
         |        FROM documents WHERE n_chars >= 2)),
         |m AS (SELECT bg, count(*) AS c FROM b GROUP BY 1),
         |tot AS (SELECT CAST(SUM(c) AS DOUBLE) AS t FROM m),
         |q AS (SELECT bg, CAST(floor(ln(CAST(c AS DOUBLE) / (SELECT t FROM tot))
         |        * 1000000.0 + 0.5) AS BIGINT) AS tm FROM m)
         |SELECT doc_id, count(*) AS n_bigrams,
         |  CAST(-SUM(tm) AS DOUBLE) / 1000000.0 / CAST(count(*) AS DOUBLE) AS avg_nll
         |FROM b JOIN q USING (bg)
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin)),
    "qe15_semantic_dedup" -> Query(TrainingOps.semanticDedupSingleCell _,
      Oracle(semanticDedupSql)),
    // qe16 (SQ8 at a full-corpus shortlist) re-ranks every candidate
    // with exact cosines — equal to brute for ANY quantization grid,
    // so qe1's oracle applies verbatim (the qe8/qe12 argument).
    "qe16_knn_sq" -> Query(TrainingOps.knnSq _, Oracle(knnSql)),
    "qe17_pagerank" -> Query(TrainingOps.knnPageRank _, Oracle(pageRankSql)),
    "qe20_ann_quality" -> Query(TrainingOps.annQuality _, Oracle(annQualitySql)),
    "qe24_opq_permute" -> Query(TrainingOps.opqPermuteReport _, Oracle(opqPermuteSql)),
    "qd51_bm25_search" -> Query(Search.bm25Search _, Oracle(bm25Sql)),
    "qe22_rrf_fusion" -> Query(Search.hybridSearch _, Oracle(rrfSql)),
    "qd52_prf_expansion" -> Query(Search.prfExpand _, Oracle(prfSql)),
    // qd53: exact repeated-span dedup. Both sides: tokenize (qd30's
    // CTE verbatim), anchor 8-token grams at 0-based positions,
    // row_number per gram over (doc_id, pos) — rn >= 2 sites are cut;
    // coverage union via generate/unnest of the 8 offsets; islands
    // (pos - row_number) count maximal removed extents; rebuild via
    // ordered string_agg of uncovered tokens. (doc_id, pos) is a key
    // within each gram partition, so rn is deterministic cross-engine.
    "qd53_span_dedup" -> Query(Dedup.spanDedupQuery _, Oracle(
      """WITH toks AS (
         |  SELECT doc_id, list_filter(string_split(
         |    regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'), ' '),
         |    x -> x != '') AS t
         |  FROM documents),
         |tok AS (SELECT doc_id, i-1 AS pos, t[i] AS tk
         |  FROM toks, unnest(range(1, len(t)+1)) AS u(i)),
         |g AS (SELECT doc_id, i-1 AS pos,
         |    array_to_string(t[i:i+7], ' ') AS gram
         |  FROM toks, unnest(range(1, len(t)-6)) AS u(i)
         |  WHERE len(t) >= 8),
         |dup AS (SELECT doc_id, pos FROM (
         |    SELECT doc_id, pos,
         |      row_number() OVER (PARTITION BY gram
         |        ORDER BY doc_id, pos) AS rn FROM g)
         |  WHERE rn >= 2),
         |cov AS (SELECT DISTINCT doc_id, pos + j AS pos
         |  FROM dup, unnest([0,1,2,3,4,5,6,7]) AS v(j)),
         |isl AS (SELECT doc_id, pos,
         |    pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos)
         |      AS grp FROM cov),
         |sp AS (SELECT doc_id, count(*) AS n_cut,
         |    count(DISTINCT grp) AS n_spans FROM isl GROUP BY 1),
         |marked AS (SELECT t.doc_id, t.pos, t.tk,
         |    c.pos IS NOT NULL AS hit
         |  FROM tok t LEFT JOIN cov c
         |    ON t.doc_id = c.doc_id AND t.pos = c.pos),
         |reb AS (SELECT doc_id,
         |    COALESCE(string_agg(CASE WHEN NOT hit THEN tk END,
         |      ' ' ORDER BY pos), '') AS dedup_text
         |  FROM marked GROUP BY 1)
         |SELECT d.doc_id, COALESCE(r.dedup_text, '') AS dedup_text,
         |  CAST(COALESCE(s.n_cut, 0) AS INTEGER) AS n_removed,
         |  CAST(COALESCE(s.n_spans, 0) AS INTEGER) AS n_spans
         |FROM documents d
         |LEFT JOIN reb r ON d.doc_id = r.doc_id
         |LEFT JOIN sp s ON d.doc_id = s.doc_id
         |ORDER BY d.doc_id""".stripMargin)),
    // qe23: two lateral unnests expand each vector's upper-triangle
    // component pairs; floor quantization + BIGINT sums are
    // order-free on both engines. posexplode is 0-based -> (i-1).
    "qe23_gram_matrix" -> Query(TrainingOps.gramMatrix _, Oracle(
      """SELECT CAST(i - 1 AS INTEGER) AS d_a,
         |  CAST(j - 1 AS INTEGER) AS d_b,
         |  CAST(count(*) AS BIGINT) AS n_vecs,
         |  CAST(SUM(CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000000)
         |      AS BIGINT)
         |    * CAST(floor(CAST(embedding[j] AS DOUBLE) * 1000000)
         |      AS BIGINT)) AS BIGINT) AS dot_q
         |FROM embeddings,
         |  unnest(range(1, len(embedding) + 1)) u(i),
         |  unnest(range(1, len(embedding) + 1)) v(j)
         |WHERE i <= j
         |GROUP BY 1, 2
         |ORDER BY d_a, d_b""".stripMargin)),
    // qd45: ordered skip-gram pairs at distance <= 2 — the two lead
    // columns mirror the 1-based list offsets; PMI's ln rides the
    // micro-nat floor over an identically-ordered double ratio of
    // exact BIGINT counts. Pair totals are counted BEFORE the
    // frequent-pair cut on both sides.
    "qd45_pmi" -> Query(TrainingOps.pmiCooccur _, Oracle(
      """WITH toks AS (
         |  SELECT doc_id, list_filter(string_split(
         |    regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'), ' '),
         |    t -> t != '') AS t
         |  FROM documents),
         |tok AS (SELECT doc_id, unnest(t) AS token FROM toks WHERE len(t) > 0),
         |pr AS (
         |  SELECT unnest(list_transform(range(1, len(t)), i -> t[i])) AS a,
         |    unnest(list_transform(range(1, len(t)), i -> t[i+1])) AS b
         |  FROM toks WHERE len(t) >= 2
         |  UNION ALL
         |  SELECT unnest(list_transform(range(1, len(t) - 1), i -> t[i])) AS a,
         |    unnest(list_transform(range(1, len(t) - 1), i -> t[i+2])) AS b
         |  FROM toks WHERE len(t) >= 3),
         |pc AS (SELECT a, b, CAST(count(*) AS BIGINT) AS c_ab
         |  FROM pr GROUP BY 1, 2),
         |uni AS (SELECT token, CAST(count(*) AS BIGINT) AS c
         |  FROM tok GROUP BY 1),
         |tt AS (SELECT CAST(count(*) AS BIGINT) AS t FROM tok),
         |tp AS (SELECT CAST(SUM(c_ab) AS BIGINT) AS p FROM pc)
         |SELECT pc.a, pc.b, pc.c_ab,
         |  CAST(floor(ln((CAST(pc.c_ab AS DOUBLE) * CAST(tt.t AS DOUBLE)
         |        * CAST(tt.t AS DOUBLE))
         |      / (CAST(tp.p AS DOUBLE) * CAST(ua.c AS DOUBLE)
         |        * CAST(ub.c AS DOUBLE))) * 1000000.0 + 0.5) AS BIGINT)
         |    / 1000000.0 AS pmi
         |FROM pc JOIN uni ua ON pc.a = ua.token
         |  JOIN uni ub ON pc.b = ub.token, tt, tp
         |WHERE pc.c_ab >= 5
         |ORDER BY a, b""".stripMargin)),
    // qd46: ln(rank)/ln(freq) quantized to integer MILLI-nats, then
    // the qx22 closed form over exact BIGINT moment sums — identical
    // double expression both engines.
    "qd46_zipf" -> Query(TrainingOps.zipfFit _, Oracle(
      """WITH toks AS (
         |  SELECT source, list_filter(string_split(
         |    regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'), ' '),
         |    t -> t != '') AS t
         |  FROM documents),
         |tok AS (SELECT source, unnest(t) AS token FROM toks WHERE len(t) > 0),
         |tc AS (SELECT source, token, CAST(count(*) AS BIGINT) AS c
         |  FROM tok GROUP BY 1, 2),
         |xy AS (SELECT source,
         |    CAST(floor(ln(CAST(row_number() OVER (PARTITION BY source
         |        ORDER BY c DESC, token) AS DOUBLE)) * 1000.0 + 0.5)
         |      AS BIGINT) AS x,
         |    CAST(floor(ln(CAST(c AS DOUBLE)) * 1000.0 + 0.5) AS BIGINT) AS y
         |  FROM tc),
         |m AS (SELECT source, CAST(count(*) AS BIGINT) AS n,
         |    CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
         |    CAST(SUM(x * x) AS BIGINT) AS sxx,
         |    CAST(SUM(x * y) AS BIGINT) AS sxy,
         |    CAST(SUM(y * y) AS BIGINT) AS syy
         |  FROM xy GROUP BY 1)
         |SELECT source, n AS n_types,
         |  CASE WHEN CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
         |      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) = 0
         |    THEN NULL ELSE
         |  (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
         |      - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
         |    / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
         |      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) END AS slope,
         |  CASE WHEN CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
         |        - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) = 0
         |      OR CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
         |        - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) = 0
         |    THEN NULL ELSE
         |  ((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
         |      - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
         |    * (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
         |      - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)))
         |    / ((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
         |      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
         |    * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
         |      - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))) END AS r2
         |FROM m ORDER BY source""".stripMargin)),
    // qs35: qs21's bounded-pair join with equal-split credit; integer
    // micro-cent division (// == DIV on the nonnegative corpus).
    "qs35_linear_attribution" -> Query(Events.linearAttribution _, Oracle(
      """WITH ev AS (SELECT event_id, user_id, event_type,
         |    CAST(ts AS TIMESTAMP) AS ts, value FROM events),
         |c AS (SELECT event_id AS click_id, user_id, ts AS c_ts
         |  FROM ev WHERE event_type = 'click'),
         |p AS (SELECT event_id AS purchase_id, user_id, ts AS p_ts,
         |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
         |  FROM ev WHERE event_type = 'purchase'),
         |j AS (SELECT p.purchase_id, c.click_id, p.user_id, p.cents
         |  FROM p JOIN c ON p.user_id = c.user_id
         |    AND c.c_ts >= p.p_ts - INTERVAL 30 MINUTE
         |    AND c.c_ts <= p.p_ts),
         |n AS (SELECT purchase_id, CAST(count(*) AS BIGINT) AS n_touches
         |  FROM j GROUP BY 1)
         |SELECT j.purchase_id, j.click_id, j.user_id, n.n_touches,
         |  CAST((j.cents * 1000000) // n.n_touches AS BIGINT) AS credit_micro
         |FROM j JOIN n USING (purchase_id)
         |ORDER BY purchase_id, click_id""".stripMargin)),
    // qp7: the oracle is the plain filtered aggregate — bucketing is
    // a pure layout property (PlanSpec pins SelectedBucketsCount).
    "qp7_bucket_pruned" -> Query(Extras.bucketPrunedRead _, Oracle(
      """SELECT o_custkey, CAST(count(*) AS BIGINT) AS n_orders,
         |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
         |    AS total_spend
         |FROM orders WHERE o_custkey IN (1, 2, 3)
         |GROUP BY o_custkey ORDER BY o_custkey""".stripMargin)),
    // qe18: full probe scores every (query, corpus) pair, so the
    // oracle is the brute radius filter — same sequential fold, same
    // >= boundary, bit-equal sims.
    "qe18_radius_search" -> Query(TrainingOps.radiusKnn _, Oracle({
      val ids = graft.operators.TrainingOps.knnQueryIds.mkString(", ")
      s"""WITH base AS (
         |  SELECT vec_id, embedding,
         |    sqrt(${dotSql("embedding", "embedding")}) AS nrm
         |  FROM embeddings),
         |q AS (SELECT vec_id AS query_id, embedding AS q_emb, nrm AS q_nrm
         |      FROM base WHERE vec_id IN ($ids)),
         |s AS (
         |  SELECT q.query_id, b.vec_id,
         |    ${dotSql("b.embedding", "q.q_emb")} / (b.nrm * q.q_nrm) AS sim
         |  FROM base b, q WHERE b.vec_id <> q.query_id)
         |SELECT query_id, vec_id, sim FROM s WHERE sim >= 0.25
         |ORDER BY query_id, vec_id""".stripMargin
    })),
    // qp8: the refreshed mart state — full history for the refreshed
    // stores, the pre-cutoff snapshot everywhere else; rows only a
    // correct partial (dynamic) partition replace can produce.
    "qp8_dynamic_overwrite" -> Query(Marts.dynamicOverwriteRefresh _, Oracle(
      """WITH old AS (
         |  SELECT n.n_nationkey AS store,
         |    substring(CAST(CAST(o.o_orderdate AS DATE) AS VARCHAR), 1, 7)
         |      AS month,
         |    SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS total_dec
         |  FROM lineitem l
         |  JOIN orders o ON l.l_orderkey = o.o_orderkey
         |  JOIN supplier s ON l.l_suppkey = s.s_suppkey
         |  JOIN nation n ON s.s_nationkey = n.n_nationkey
         |  WHERE o.o_orderdate < TIMESTAMP '1997-01-01'
         |  GROUP BY 1, 2),
         |refreshed AS (
         |  SELECT n.n_nationkey AS store,
         |    substring(CAST(CAST(o.o_orderdate AS DATE) AS VARCHAR), 1, 7)
         |      AS month,
         |    SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS total_dec
         |  FROM lineitem l
         |  JOIN orders o ON l.l_orderkey = o.o_orderkey
         |  JOIN supplier s ON l.l_suppkey = s.s_suppkey
         |  JOIN nation n ON s.s_nationkey = n.n_nationkey
         |  WHERE n.n_nationkey IN (1, 2, 3)
         |  GROUP BY 1, 2)
         |SELECT store, month, CAST(total_dec AS DOUBLE) AS total
         |FROM refreshed
         |UNION ALL
         |SELECT store, month, CAST(total_dec AS DOUBLE) AS total
         |FROM old WHERE store NOT IN (1, 2, 3)
         |ORDER BY store, month""".stripMargin)),
    // qe19: knnSql's construction minus the norm divisions — raw dot
    // ordering, same sequential fold, same (rank, vec_id) ties.
    "qe19_mips" -> Query((s, d) => Similarity.mipsKnn(
      graft.core.Tables.embeddings(s, d), TrainingOps.knnQueryIds, 10), Oracle {
      val ids = graft.operators.TrainingOps.knnQueryIds.mkString(", ")
      s"""WITH q AS (SELECT vec_id AS query_id, embedding AS q_emb
         |      FROM embeddings WHERE vec_id IN ($ids)),
         |s AS (
         |  SELECT q.query_id, b.vec_id,
         |    ${dotSql("b.embedding", "q.q_emb")} AS dot
         |  FROM embeddings b, q WHERE b.vec_id <> q.query_id),
         |r AS (SELECT query_id, vec_id, dot,
         |        CAST(rank() OVER (PARTITION BY query_id
         |          ORDER BY dot DESC, vec_id) AS INTEGER) AS rnk
         |      FROM s)
         |SELECT query_id, vec_id, rnk, dot FROM r WHERE rnk <= 10
         |ORDER BY query_id, rnk, vec_id""".stripMargin
    }),
    // qd47: qd38's unrolled merge-chain CTEs rolled up by language —
    // exact char totals, one BIGINT/BIGINT division per lang.
    "qd47_bpe_fertility" -> Query(TrainingOps.bpeFertility _, Oracle(bpeFertilitySql)),
    // qs36: strictly-preceding last-click carry (ROWS ... 1
    // PRECEDING), floored epoch gaps, interpolated percentiles over
    // exact BIGINTs (quantile_cont == Spark percentile on identical
    // ints — the qs5 parity).
    "qs36_time_to_convert" -> Query(Events.timeToConvert _, Oracle(
      """WITH ev AS (SELECT event_id, user_id, event_type,
         |    CAST(ts AS TIMESTAMP) AS ts FROM events
         |  WHERE event_type IN ('click', 'purchase')),
         |w AS (SELECT *,
         |    last_value(CASE WHEN event_type = 'click' THEN ts END
         |      IGNORE NULLS) OVER (PARTITION BY user_id
         |      ORDER BY ts, event_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
         |      AS last_click_ts
         |  FROM ev),
         |g AS (SELECT CAST(floor(epoch(ts)) AS BIGINT)
         |    - CAST(floor(epoch(last_click_ts)) AS BIGINT) AS gap
         |  FROM w WHERE event_type = 'purchase'
         |    AND last_click_ts IS NOT NULL)
         |SELECT CAST(count(*) AS BIGINT) AS n_conversions,
         |  CAST(min(gap) AS BIGINT) AS min_gap_sec,
         |  quantile_cont(gap, 0.5) AS p50_sec,
         |  quantile_cont(gap, 0.9) AS p90_sec,
         |  CAST(max(gap) AS BIGINT) AS max_gap_sec
         |FROM g""".stripMargin)),
    // qd48: exhaustive truth + portable-banding candidates, both
    // recomputed from the shared shingle/fingerprint constructions
    // (qd10's sets, qd27's affine minima).
    "qd48_dedup_quality" -> Query(TrainingOps.dedupQuality _, Oracle(dedupQualitySql)),
    // qx26: a correct nested round-trip is invisible — the oracle is
    // the plain flat projection.
    "qx26_nested_roundtrip" -> Query(Extras.nestedRoundtrip _, Oracle(
      "SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem " +
        "ORDER BY l_orderkey, l_linenumber, l_quantity")),
    // qx27: every rule recomputed as its own SQL aggregate; the
    // verdict column is the same violations = 0 predicate.
    "qx27_quality_checks" -> Query(Extras.qualityChecks _, Oracle(
      """SELECT 'lineitem.l_orderkey references orders' AS rule,
         |  CAST(count(*) AS BIGINT) AS violations, count(*) = 0 AS pass
         |FROM lineitem l WHERE NOT EXISTS
         |  (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)
         |UNION ALL
         |SELECT 'lineitem.l_quantity in [1, 60]',
         |  CAST(SUM(CASE WHEN l_quantity < 1 OR l_quantity > 60
         |    THEN 1 ELSE 0 END) AS BIGINT),
         |  SUM(CASE WHEN l_quantity < 1 OR l_quantity > 60
         |    THEN 1 ELSE 0 END) = 0
         |FROM lineitem
         |UNION ALL
         |SELECT 'orders.o_custkey is non-null',
         |  CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END)
         |    AS BIGINT),
         |  SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) = 0
         |FROM orders
         |UNION ALL
         |SELECT 'orders.o_custkey references customer',
         |  CAST(count(*) AS BIGINT), count(*) = 0
         |FROM orders o WHERE NOT EXISTS
         |  (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)
         |UNION ALL
         |SELECT 'orders.o_orderkey is unique',
         |  CAST(count(*) - count(DISTINCT o_orderkey) AS BIGINT),
         |  count(*) - count(DISTINCT o_orderkey) = 0
         |FROM orders
         |UNION ALL
         |SELECT 'orders.o_totalprice is positive',
         |  CAST(SUM(CASE WHEN o_totalprice <= 0 THEN 1 ELSE 0 END)
         |    AS BIGINT),
         |  SUM(CASE WHEN o_totalprice <= 0 THEN 1 ELSE 0 END) = 0
         |FROM orders
         |ORDER BY rule""".stripMargin)),
    // qd49: the corrupt lines are planted deterministically by the
    // query itself, so the ledger is fully recomputable — per-lang
    // counts from the source table plus the fixed quarantine row.
    "qd49_jsonl_roundtrip" -> Query(JsonlIngest.jsonlRoundtrip _, Oracle(
      """SELECT lang AS bucket, CAST(count(*) AS BIGINT) AS n,
         |  CAST(SUM(n_chars) AS BIGINT) AS total_chars
         |FROM documents GROUP BY lang
         |UNION ALL
         |SELECT '_corrupt', CAST(2 AS BIGINT), CAST(NULL AS BIGINT)
         |ORDER BY bucket""".stripMargin)),
    // qs38: the streaming drain of qd49's quarantined JSONL ingest —
    // counts and long-sums are order-free monoids, so the incremental
    // complete-mode ledger is bit-equal to the batch rescan and qd49's
    // oracle carries over verbatim.
    "qs38_jsonl_stream" -> Query(JsonlIngest.jsonlStreamGate _, Oracle(
      """SELECT lang AS bucket, CAST(count(*) AS BIGINT) AS n,
         |  CAST(SUM(n_chars) AS BIGINT) AS total_chars
         |FROM documents GROUP BY lang
         |UNION ALL
         |SELECT '_corrupt', CAST(2 AS BIGINT), CAST(NULL AS BIGINT)
         |ORDER BY bucket""".stripMargin)),
    // qs37: pre-reduced hourly grain self-joined at +24h; the qx22
    // exact-moment closed form. Pair roles pinned: x = count(t+24),
    // y = count(t).
    "qs37_daily_autocorr" -> Query(Events.dailyAutocorr _, Oracle(
      """WITH h AS (SELECT event_type, date_trunc('hour', ts) AS h,
         |    CAST(count(*) AS BIGINT) AS n
         |  FROM events GROUP BY 1, 2),
         |p AS (SELECT a.event_type, a.n AS x, b.n AS y
         |  FROM h a JOIN h b ON a.event_type = b.event_type
         |    AND a.h = b.h + INTERVAL 24 HOUR),
         |m AS (SELECT event_type, CAST(count(*) AS BIGINT) AS np,
         |    CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
         |    CAST(SUM(x * x) AS BIGINT) AS sxx,
         |    CAST(SUM(x * y) AS BIGINT) AS sxy,
         |    CAST(SUM(y * y) AS BIGINT) AS syy
         |  FROM p GROUP BY 1)
         |SELECT event_type, np AS n_pairs,
         |  CASE WHEN CAST(np AS DOUBLE) * CAST(sxx AS DOUBLE)
         |        - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) = 0
         |      OR CAST(np AS DOUBLE) * CAST(syy AS DOUBLE)
         |        - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) = 0
         |    THEN NULL ELSE
         |  (CAST(np AS DOUBLE) * CAST(sxy AS DOUBLE)
         |      - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
         |    / (sqrt(CAST(np AS DOUBLE) * CAST(sxx AS DOUBLE)
         |        - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
         |      * sqrt(CAST(np AS DOUBLE) * CAST(syy AS DOUBLE)
         |        - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))) END AS corr24
         |FROM m ORDER BY event_type""".stripMargin)),
    // qd50: every manifest column recomputed from the source table —
    // qd12's portable fingerprint, content-keyed shard = fp % 8,
    // bit_xor checksum order-independent on both engines.
    "qd50_shard_export" -> Query(TrainingOps.shardExport _, Oracle(
      """WITH f AS (SELECT doc_id, n_chars,
         |    CAST(CASE WHEN length(text) = 0 THEN 0 ELSE
         |      list_reduce(list_transform(string_split(text, ''),
         |        c -> CAST(unicode(c) AS BIGINT)),
         |        (acc, x) -> (acc * 31 + x) % 2147483647) END
         |      AS BIGINT) AS fp
         |  FROM documents)
         |SELECT CAST(fp % 8 AS INTEGER) AS shard,
         |  CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(SUM(n_chars) AS BIGINT) AS total_chars,
         |  CAST(min(doc_id) AS BIGINT) AS min_doc_id,
         |  CAST(max(doc_id) AS BIGINT) AS max_doc_id,
         |  CAST(bit_xor(fp) AS BIGINT) AS checksum
         |FROM f GROUP BY 1 ORDER BY shard""".stripMargin)),
    // qm5: kinds recomputed from the mediaFromDocs id rules; every
    // gate blob carries the 10-byte GFT0 header (including the
    // invalid-kind ones), so blob = payload + 10 exactly.
    "qm5_media_sniff" -> Query(TrainingOps.mediaSniff _, Oracle(
      """WITH k AS (SELECT doc_id,
         |    CASE WHEN doc_id % 50 = 0 THEN 'unknown'
         |         WHEN doc_id % 3 = 0 THEN 'image'
         |         WHEN doc_id % 3 = 1 THEN 'audio'
         |         ELSE 'video' END AS kind,
         |    CAST(octet_length(encode(text)) AS BIGINT) AS payload
         |  FROM documents)
         |SELECT kind, CAST(count(*) AS BIGINT) AS n,
         |  CAST(SUM(payload + 10) AS BIGINT) AS total_blob_bytes,
         |  CAST(SUM(payload) AS BIGINT) AS total_payload_bytes
         |FROM k GROUP BY kind ORDER BY kind""".stripMargin)),
    // qp2: runtime-pruned read — q09 joined to the filtered dim; the
    // Spark side must produce the same rows while only OPENING the
    // store partitions the broadcast dim admits (PlanSpec pins the
    // dynamicpruning PartitionFilter).
    "qp2_dpp_read" -> Query(Marts.dppMartRead _, Oracle(
      s"""WITH q AS (\n$q09SqlCore)
         |SELECT q.store, n.n_name AS nation, q.person, q.month,
         |  q.total, q.incentive
         |FROM q JOIN nation n ON q.store = n.n_nationkey
         |WHERE n.n_regionkey = 1
         |ORDER BY q.store, q.month, q.person""".stripMargin)),
    // qs13: lag window over the (type, hour) grain; delta on the
    // DECIMAL totals (exact subtraction), NULL for each type's first
    // hour. DuckDB lag default is NULL — same as Spark's.
    "qs13_hourly_delta" -> Query(Events.hourlyDelta _, Oracle(
      """WITH h AS (SELECT event_type, date_trunc('hour', ts) AS hour_ts,
         |  SUM(CAST(value AS DECIMAL(18,2))) AS total_dec
         |  FROM events GROUP BY 1, 2)
         |SELECT event_type, strftime(hour_ts, '%Y-%m-%d %H:00:00') AS hour,
         |  CAST(total_dec AS DOUBLE) AS total,
         |  CAST(total_dec - lag(total_dec)
         |    OVER (PARTITION BY event_type ORDER BY hour_ts) AS DOUBLE) AS delta
         |FROM h ORDER BY event_type, hour""".stripMargin)),
    // qx19: the oracle IS the Spark-side text (same convention as
    // qx16) — DuckDB decorrelates it with its own rewrite, landing on
    // the same values by the subquery's definition.
    "qx19_corr_subquery" -> Query(Extras.corrSubquery _, Oracle(Extras.corrSubqueryText)),
    // qd24: RE2 and Java agree on \b + alternation; DuckDB needs the
    // explicit 'g' flag where Spark's regexp_replace is global by
    // default.
    "qd24_redact" -> Query(TextPrep.redactQuery _, Oracle(
      """SELECT doc_id,
         |  regexp_replace(text, '\b(customer|key|stream)\b', '<PII>', 'g')
         |    AS redacted_text,
         |  CAST(len(regexp_extract_all(text, '\b(customer|key|stream)\b'))
         |    AS INTEGER) AS n_redacted
         |FROM documents ORDER BY doc_id""".stripMargin)),
    // qd25: same tokenizer as qd9/qd20; bigrams via 1-based list
    // indexing over range(1, len) = positions 1..len-1; ratios are
    // int/int double divisions (exact on both engines). Zero-token
    // docs drop out; single-token docs keep NULL dup_bigram_ratio
    // via the LEFT JOIN.
    "qd25_repetition" -> Query(TrainingOps.repetition _, Oracle(
      """WITH toks AS (
         |  SELECT doc_id, list_filter(string_split(
         |    regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'), ' '),
         |    t -> t != '') AS t
         |  FROM documents),
         |tok AS (SELECT doc_id, unnest(t) AS token FROM toks WHERE len(t) > 0),
         |tc AS (SELECT doc_id, token, count(*) AS c FROM tok GROUP BY 1, 2),
         |top AS (SELECT doc_id, max(c) AS max_c,
         |          CAST(SUM(c) AS BIGINT) AS n_tokens FROM tc GROUP BY 1),
         |g AS (SELECT doc_id, unnest(list_transform(range(1, len(t)),
         |        i -> t[i] || ' ' || t[i+1])) AS gram
         |      FROM toks WHERE len(t) >= 2),
         |gc AS (SELECT doc_id, gram, count(*) AS c FROM g GROUP BY 1, 2),
         |du AS (SELECT doc_id,
         |         SUM(CASE WHEN c > 1 THEN c ELSE 0 END) AS dup,
         |         SUM(c) AS tot FROM gc GROUP BY 1)
         |SELECT t.doc_id, t.n_tokens,
         |  CAST(t.max_c AS DOUBLE) / CAST(t.n_tokens AS DOUBLE)
         |    AS top_token_ratio,
         |  CAST(du.dup AS DOUBLE) / CAST(du.tot AS DOUBLE)
         |    AS dup_bigram_ratio
         |FROM top t LEFT JOIN du ON t.doc_id = du.doc_id
         |ORDER BY t.doc_id""".stripMargin)),
    // qd26: nfc_normalize is DuckDB-native; chr(769) = U+0301. The
    // suffix is decomposed, so every row takes the real rewrite path.
    "qd26_nfc_normalize" -> Query(TextPrep.normalizeQuery _, Oracle(
      """SELECT doc_id, norm_text,
         |  CAST(length(norm_text) AS INTEGER) AS n_chars_nfc
         |FROM (SELECT doc_id,
         |        nfc_normalize(text || ' cafe' || chr(769)) AS norm_text
         |      FROM documents)
         |ORDER BY doc_id""".stripMargin)),
    "qd27_minhash_estimate" -> Query(TrainingOps.minhashEstimate _, Oracle(minhashEstimateSql)),
    // qs14: stream-static join + aggregate ≡ the batch join+groupBy
    // (decimal sums are order-free under incremental accumulation)
    "qs14_stream_segment" -> Query(EventStream.segmentSpendGate _, Oracle(
      """SELECT c.c_mktsegment AS segment, count(*) AS n,
         |  CAST(SUM(CAST(e.value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
         |FROM events e JOIN customer c ON e.user_id = c.c_custkey
         |GROUP BY 1 ORDER BY segment""".stripMargin)),
    // qx20: the merged read == per-era CASE projections (era 1 = even
    // keys with price, era 2 = odd keys with status; the other
    // column is each era's NULL fill)
    "qx20_schema_merge" -> Query(Extras.schemaMergeRead _, Oracle(
      """SELECT o_orderkey,
         |  CASE WHEN o_orderkey % 2 = 0 THEN o_totalprice END AS o_totalprice,
         |  CASE WHEN o_orderkey % 2 = 1 THEN o_orderstatus END AS o_orderstatus
         |FROM orders ORDER BY o_orderkey""".stripMargin)),
    // qd28: thresholds micro-quantized on both sides (floor
    // construction) so the integer-vs-interpolated-double band
    // compare cannot flip on a last-ulp percentile difference
    "qd28_length_filter" -> Query(TrainingOps.lengthFilter _, Oracle(
      """WITH p AS (
         |  SELECT source,
         |    CAST(floor(quantile_cont(n_chars, 0.05) * 1000000.0 + 0.5)
         |      AS BIGINT) / 1000000.0 AS p05,
         |    CAST(floor(quantile_cont(n_chars, 0.95) * 1000000.0 + 0.5)
         |      AS BIGINT) / 1000000.0 AS p95
         |  FROM documents GROUP BY source)
         |SELECT d.doc_id, d.source, d.n_chars
         |FROM documents d JOIN p ON d.source = p.source
         |WHERE d.n_chars >= p.p05 AND d.n_chars <= p.p95
         |ORDER BY d.doc_id""".stripMargin)),
    // qs15: batch interval join on the same micros-truncated
    // timestamps (qx8's CAST convention); INTERVAL arithmetic is
    // exact micros on both engines
    "qs15_stream_stream_join" -> Query(EventStream.clickAttributionGate _, Oracle(
      """WITH ev AS (SELECT event_id, user_id, event_type,
         |              CAST(ts AS TIMESTAMP) AS ts FROM events),
         |c AS (SELECT event_id AS click_id, user_id, ts AS c_ts
         |      FROM ev WHERE event_type = 'click'),
         |p AS (SELECT event_id AS purchase_id, user_id AS p_user,
         |        ts AS p_ts
         |      FROM ev WHERE event_type = 'purchase')
         |SELECT c.click_id, p.purchase_id, c.user_id
         |FROM c JOIN p ON c.user_id = p.p_user
         |  AND p.p_ts >= c.c_ts
         |  AND p.p_ts <= c.c_ts + INTERVAL 30 MINUTE
         |ORDER BY click_id, purchase_id""".stripMargin)),
    // qx21: <=> == IS NOT DISTINCT FROM — the NULL group must match
    // across the two aggregates (plain = would drop it)
    "qx21_nullsafe_join" -> Query(Extras.nullSafeJoin _, Oracle(
      """WITH a AS (
         |  SELECT CASE WHEN o_orderstatus = 'P' THEN NULL
         |           ELSE o_orderstatus END AS k, count(*) AS n_all
         |  FROM orders GROUP BY 1),
         |b AS (
         |  SELECT CASE WHEN o_orderstatus = 'P' THEN NULL
         |           ELSE o_orderstatus END AS k, count(*) AS n_big
         |  FROM orders WHERE o_totalprice > 200000 GROUP BY 1)
         |SELECT a.k AS status_key, a.n_all, b.n_big
         |FROM a LEFT JOIN b ON a.k IS NOT DISTINCT FROM b.k
         |ORDER BY status_key NULLS FIRST""".stripMargin)),
    // qs16: unique event_ids make the batch-dir union provably the
    // plain projection; value is pass-through (bit-exact doubles)
    "qs16_foreachbatch_sink" -> Query(EventStream.foreachBatchGate _, Oracle(
      "SELECT event_id, user_id, event_type, value FROM events " +
        "ORDER BY event_id")),
    // qs17: per-type hourly spine (generate_series between that
    // type's min/max present hour) + IGNORE NULLS forward fill —
    // same frame, same decimal totals; `total` keeps NULL on
    // synthesized hours, exactly like the Spark left join.
    "qs17_gap_fill" -> Query(Events.gapFillHourly _, Oracle(
      """WITH h AS (SELECT event_type, date_trunc('hour', ts) AS hour_ts,
         |  SUM(CAST(value AS DECIMAL(18,2))) AS total_dec
         |  FROM events GROUP BY 1, 2),
         |b AS (SELECT event_type, min(hour_ts) AS h0, max(hour_ts) AS h1
         |  FROM h GROUP BY 1),
         |s AS (SELECT event_type,
         |  unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS hour_ts
         |  FROM b)
         |SELECT s.event_type, strftime(s.hour_ts, '%Y-%m-%d %H:00:00') AS hour,
         |  CAST(h.total_dec AS DOUBLE) AS total,
         |  CAST(last_value(h.total_dec IGNORE NULLS) OVER (
         |    PARTITION BY s.event_type ORDER BY s.hour_ts
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
         |    AS filled,
         |  h.total_dec IS NULL AS was_gap
         |FROM s LEFT JOIN h
         |  ON s.event_type = h.event_type AND s.hour_ts = h.hour_ts
         |ORDER BY s.event_type, hour""".stripMargin)),
    // qs18: both engines truncate weeks to Monday; offsets are
    // day-diff DIV 7 on week-truncated dates (always a multiple of
    // 7); count(*) at the distinct (user, week) grain IS the
    // distinct-user count; rate is int/int double division.
    "qs18_retention" -> Query(Events.retention _, Oracle(
      """WITH uw AS (SELECT DISTINCT user_id,
         |    date_trunc('week', ts) AS week FROM events),
         |c AS (SELECT user_id, week,
         |    min(week) OVER (PARTITION BY user_id) AS cohort_week
         |  FROM uw),
         |m AS (SELECT cohort_week,
         |    CAST(date_diff('day', cohort_week, week) // 7 AS INTEGER)
         |      AS week_offset,
         |    count(*) AS n_users
         |  FROM c GROUP BY 1, 2)
         |SELECT strftime(cohort_week, '%Y-%m-%d') AS cohort, week_offset,
         |  n_users,
         |  max(CASE WHEN week_offset = 0 THEN n_users END)
         |    OVER (PARTITION BY cohort_week) AS cohort_size,
         |  CAST(n_users AS DOUBLE) /
         |    CAST(max(CASE WHEN week_offset = 0 THEN n_users END)
         |      OVER (PARTITION BY cohort_week) AS DOUBLE) AS retention
         |FROM m ORDER BY cohort, week_offset""".stripMargin)),
    // qs19: RANGE frame on floored epoch seconds — peer-inclusive on
    // both engines, so same-second ties need no ordering tie-break;
    // the sum rides DECIMAL(18,2).
    "qs19_trailing_hour" -> Query(Events.trailingHourSpend _, Oracle(
      """SELECT user_id, event_id,
         |  strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_s,
         |  CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER (
         |    PARTITION BY user_id
         |    ORDER BY CAST(floor(epoch(ts)) AS BIGINT)
         |    RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW) AS DOUBLE)
         |    AS trailing_1h
         |FROM events ORDER BY user_id, event_id""".stripMargin)),
    // qd29: same slicing as qd17's oracle (generate_series stride =
    // size), keep-first on (doc_id, chunk_idx) — window partition by
    // the chunk TEXT (Spark's extra xxhash64 prefix key only
    // re-buckets the same groups); string_agg rebuilds in chunk
    // order, LEFT JOIN keeps chunk-free docs as empty text.
    "qd29_chunk_dedup" -> Query(Dedup.chunkDedupQuery _, Oracle(
      """WITH c AS (
         |  SELECT doc_id, CAST((i-1)//120 AS INTEGER) AS chunk_idx,
         |    substr(text, i, 120) AS chunk_text
         |  FROM documents, unnest(generate_series(1, len(text), 120)) AS u(i)
         |  WHERE len(text) > 0),
         |k AS (SELECT * FROM (
         |    SELECT doc_id, chunk_idx, chunk_text, row_number() OVER (
         |      PARTITION BY chunk_text ORDER BY doc_id, chunk_idx) AS rn
         |    FROM c) WHERE rn = 1)
         |SELECT d.doc_id,
         |  COALESCE(string_agg(k.chunk_text, '' ORDER BY k.chunk_idx), '')
         |    AS dedup_text,
         |  CAST(count(k.doc_id) AS INTEGER) AS n_chunks_kept
         |FROM documents d LEFT JOIN k ON d.doc_id = k.doc_id
         |GROUP BY d.doc_id ORDER BY d.doc_id""".stripMargin)),
    // qd30: same tokenizer as the shingle family; positions are
    // 0-based on both sides (posexplode vs i-1); a token is cut iff
    // ANY hot 4-gram occurrence covers its position.
    "qd30_hot_spans" -> Query(TrainingOps.hotSpansQuery _, Oracle(
      """WITH toks AS (
         |  SELECT doc_id, list_filter(string_split(
         |    regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'), ' '),
         |    x -> x != '') AS t
         |  FROM documents),
         |tok AS (SELECT doc_id, i-1 AS pos, t[i] AS tk
         |  FROM toks, unnest(range(1, len(t)+1)) AS u(i)),
         |g AS (SELECT doc_id, i-1 AS pos,
         |    t[i]||' '||t[i+1]||' '||t[i+2]||' '||t[i+3] AS gram
         |  FROM toks, unnest(range(1, len(t)-2)) AS u(i)
         |  WHERE len(t) >= 4),
         |hot AS (SELECT gram FROM (
         |    SELECT gram, count(DISTINCT doc_id) AS df FROM g GROUP BY 1)
         |  WHERE df >= 3),
         |cov AS (SELECT DISTINCT g.doc_id, g.pos + j AS pos
         |  FROM g JOIN hot USING (gram), unnest([0,1,2,3]) AS v(j)),
         |marked AS (SELECT t.doc_id, t.pos, t.tk,
         |    c.pos IS NOT NULL AS hit
         |  FROM tok t LEFT JOIN cov c
         |    ON t.doc_id = c.doc_id AND t.pos = c.pos)
         |SELECT d.doc_id,
         |  COALESCE(string_agg(CASE WHEN NOT m.hit THEN m.tk END,
         |    ' ' ORDER BY m.pos), '') AS clean_text,
         |  CAST(COALESCE(SUM(CASE WHEN m.hit THEN 1 ELSE 0 END), 0)
         |    AS INTEGER) AS n_removed
         |FROM documents d LEFT JOIN marked m ON d.doc_id = m.doc_id
         |GROUP BY d.doc_id ORDER BY d.doc_id""".stripMargin)),
    // qd31: all-integer quota arithmetic (floor(sqrt·1e6) weights,
    // integer sum, (target·w) // Σw) — no summation-order hazard;
    // rank rides the shared 31-bit rolling fingerprint (qd5/qd12).
    // qp3: the bloom filter is a pure pruning device — result
    // semantics are the plain filtered join+agg (money rule on both
    // double measures).
    "qp3_bloom_join" -> Query(Marts.bloomJoinRead _, Oracle(
      """SELECT p.p_partkey, count(*) AS n_items,
         |  CAST(SUM(CAST(l.l_quantity AS DECIMAL(18,2))) AS DOUBLE)
         |    AS sum_qty,
         |  CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
         |    AS total_price
         |FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
         |WHERE p.p_brand = 'Brand#12'
         |GROUP BY p.p_partkey ORDER BY p.p_partkey""".stripMargin)),
    // qs22: running distinct = Σ n_new on the day grain (first-seen
    // identity), mirrored exactly; both engines run the cumsum over
    // the tiny report frame.
    "qs22_cumulative_users" -> Query(Events.cumulativeUsers _, Oracle(
      """WITH ud AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day
         |  FROM events),
         |f AS (SELECT user_id, day,
         |    min(day) OVER (PARTITION BY user_id) AS first_day FROM ud),
         |d AS (SELECT day, count(*) AS n_active,
         |    CAST(SUM(CASE WHEN day = first_day THEN 1 ELSE 0 END)
         |      AS BIGINT) AS n_new
         |  FROM f GROUP BY 1)
         |SELECT strftime(day, '%Y-%m-%d') AS day, n_active, n_new,
         |  CAST(SUM(n_new) OVER (ORDER BY day
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |    AS BIGINT) AS cum_users
         |FROM d ORDER BY day""".stripMargin)),
    // qp4: compaction is a pure layout change — the read-back of the
    // compacted tree equals the plain projection.
    "qp4_compaction" -> Query(Marts.compactionRoundtrip _, Oracle(
      "SELECT event_id, event_type, user_id, value FROM events " +
        "ORDER BY event_id")),
    // qs21: equi-join on user + interval filter, earliest click wins
    // ((c_ts, click_id) tie rule); gap on floored epoch seconds.
    "qs21_first_touch" -> Query(Events.firstTouch _, Oracle(
      """WITH ev AS (SELECT event_id, user_id, event_type,
         |    CAST(ts AS TIMESTAMP) AS ts FROM events),
         |c AS (SELECT event_id AS click_id, user_id, ts AS c_ts
         |  FROM ev WHERE event_type = 'click'),
         |p AS (SELECT event_id AS purchase_id, user_id, ts AS p_ts
         |  FROM ev WHERE event_type = 'purchase'),
         |j AS (SELECT p.purchase_id, c.click_id, p.user_id, c.c_ts, p.p_ts,
         |    row_number() OVER (PARTITION BY p.purchase_id
         |      ORDER BY c.c_ts, c.click_id) AS rn
         |  FROM p JOIN c ON p.user_id = c.user_id
         |    AND c.c_ts >= p.p_ts - INTERVAL 30 MINUTE
         |    AND c.c_ts <= p.p_ts)
         |SELECT purchase_id, click_id, user_id,
         |  strftime(c_ts, '%Y-%m-%d %H:%M:%S') AS click_at,
         |  strftime(p_ts, '%Y-%m-%d %H:%M:%S') AS purchase_at,
         |  CAST(CAST(floor(epoch(p_ts)) AS BIGINT)
         |    - CAST(floor(epoch(c_ts)) AS BIGINT) AS INTEGER) AS gap_sec
         |FROM j WHERE rn = 1 ORDER BY purchase_id""".stripMargin)),
    // qx23: name-aligned union with NULL fill — column identity, not
    // position, pairs the two eras.
    "qx23_union_by_name" -> Query(Extras.unionByNameDrift _, Oracle(
      """SELECT o_orderkey, o_custkey, o_totalprice,
         |  CAST(NULL AS VARCHAR) AS o_orderstatus,
         |  CAST(NULL AS VARCHAR) AS o_orderpriority
         |FROM orders WHERE o_orderdate < TIMESTAMP '1996-01-01'
         |UNION ALL
         |SELECT o_orderkey, CAST(NULL AS BIGINT) AS o_custkey,
         |  o_totalprice, o_orderstatus, o_orderpriority
         |FROM orders WHERE o_orderdate >= TIMESTAMP '1996-01-01'
         |ORDER BY o_orderkey""".stripMargin)),
    // qd34: three verified stage oracles composed — qd1's keep-first
    // window, qd28's micro-quantized band, qd2's token count.
    "qd34_curation" -> Query(TrainingOps.curationVerdict _, Oracle(
      """WITH p AS (
         |  SELECT source,
         |    CAST(floor(quantile_cont(n_chars, 0.05) * 1000000.0 + 0.5)
         |      AS BIGINT) / 1000000.0 AS p05,
         |    CAST(floor(quantile_cont(n_chars, 0.95) * 1000000.0 + 0.5)
         |      AS BIGINT) / 1000000.0 AS p95
         |  FROM documents GROUP BY source),
         |c AS (SELECT doc_id, row_number() OVER (
         |    PARTITION BY text ORDER BY doc_id) AS rn FROM documents),
         |t AS (SELECT doc_id,
         |    CASE WHEN length(trim(text)) = 0 THEN 0 ELSE
         |      CAST(len(regexp_split_to_array(trim(text), '\s+'))
         |        AS INTEGER) END AS n_tokens
         |  FROM documents)
         |SELECT d.doc_id, c.rn = 1 AS canonical,
         |  d.n_chars >= p.p05 AND d.n_chars <= p.p95 AS in_band,
         |  t.n_tokens >= 30 AS enough_tokens,
         |  (c.rn = 1 AND d.n_chars >= p.p05 AND d.n_chars <= p.p95
         |    AND t.n_tokens >= 30) AS kept
         |FROM documents d
         |JOIN p ON d.source = p.source
         |JOIN c ON d.doc_id = c.doc_id
         |JOIN t ON d.doc_id = t.doc_id
         |ORDER BY d.doc_id""".stripMargin)),
    // qe6: integer codes from identical double arithmetic; the MSE
    // reduction is an integer micro-sum (qd21's device) so no
    // accumulation order exists to disagree.
    "qe6_pq_audit" -> Query(Similarity.pqAuditQuery _, Oracle(
      """WITH el AS (SELECT vec_id, i-1 AS dim,
         |    CAST(embedding[i] AS DOUBLE) AS x
         |  FROM embeddings, unnest(range(1, len(embedding)+1)) u(i)),
         |st AS (SELECT dim, min(x) AS lo, max(x) AS hi FROM el GROUP BY 1),
         |j AS (SELECT vec_id, x, lo, hi,
         |    CASE WHEN hi = lo THEN 0 ELSE
         |      CAST(least(floor((x - lo) / (hi - lo) * 256.0), 255.0)
         |        AS INTEGER) END AS code
         |  FROM el JOIN st USING (dim)),
         |d AS (SELECT vec_id, code,
         |    lo + (CAST(code AS DOUBLE) + 0.5) * (hi - lo) / 256.0 AS deq,
         |    x FROM j),
         |e AS (SELECT vec_id, code,
         |    CAST(floor((x - deq) * (x - deq) * 1e12 + 0.5) AS BIGINT) AS em
         |  FROM d)
         |SELECT vec_id, CAST(SUM(code) AS BIGINT) AS code_sum,
         |  CAST(SUM(em) AS DOUBLE) / 1e12 / CAST(count(*) AS DOUBLE) AS mse
         |FROM e GROUP BY vec_id ORDER BY vec_id""".stripMargin)),
    // qe7: the centroid is exact integer sums (floor(v*1e6) longs)
    // divided back to double ONCE — no float accumulation order to
    // disagree on; the cosine then rides the usual sequential fold.
    "qe7_centroid_outlier" -> Query(Similarity.centroidOutlierQuery _, Oracle(
      s"""WITH el AS (SELECT label, vec_id, i AS d,
         |    CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000000) AS BIGINT) AS q
         |  FROM embeddings, unnest(range(1, len(embedding)+1)) u(i)),
         |s AS (SELECT label, d, CAST(SUM(q) AS BIGINT) AS qsum,
         |    count(*) AS n
         |  FROM el GROUP BY 1, 2),
         |c AS (SELECT label, list(
         |    CAST(qsum AS DOUBLE) / (CAST(n AS DOUBLE) * 1000000.0)
         |    ORDER BY d) AS centroid
         |  FROM s GROUP BY label),
         |x AS (SELECT label, e.vec_id,
         |    ${dotSql("e.embedding", "c.centroid")}
         |      / (sqrt(${dotSql("e.embedding", "e.embedding")})
         |         * sqrt(${dotSql("c.centroid", "c.centroid")})) AS cos
         |  FROM embeddings e JOIN c USING (label))
         |SELECT label, vec_id, cos,
         |  CAST(rank() OVER (PARTITION BY label ORDER BY cos, vec_id)
         |    AS INTEGER) AS outlier_rank
         |FROM x ORDER BY label, outlier_rank""".stripMargin)),
    // qd33: adjacency-counted pairs via the char-list mirror (the
    // Spark side's overlapping lookahead is not RE2-expressible);
    // the winning pair is a literal alnum regex on both sides, and
    // greedy non-overlapping replace semantics agree (Java Matcher
    // and RE2 both scan left-to-right from each match end).
    "qd33_bpe_merge" -> Query(TrainingOps.bpeMergeQuery _, Oracle(
      """WITH ch AS (SELECT doc_id, string_split(text, '') AS cs
         |  FROM documents),
         |bg AS (SELECT unnest(list_filter(
         |    list_transform(range(1, len(cs)), i -> cs[i] || cs[i+1]),
         |    p -> regexp_matches(p, '^[a-z0-9]{2}$'))) AS pair
         |  FROM ch WHERE len(cs) >= 2),
         |cnt AS (SELECT pair, count(*) AS c FROM bg GROUP BY 1),
         |top AS (SELECT pair, c AS pair_count FROM cnt
         |  ORDER BY c DESC, pair LIMIT 1)
         |SELECT d.doc_id, t.pair, t.pair_count,
         |  CAST(len(regexp_extract_all(d.text, t.pair)) AS INTEGER)
         |    AS n_merges,
         |  regexp_replace(d.text, t.pair, '#', 'g') AS merged_text
         |FROM documents d CROSS JOIN top t
         |ORDER BY doc_id""".stripMargin)),
    // qx22: exact integer cents/hour moments, then the identical
    // closed-form double expression — corr() itself could never
    // hash-match (order-dependent double accumulation); the moments
    // can.
    "qx22_moment_corr" -> Query(Events.valueHourCorr _, Oracle(
      """WITH m AS (
         |  SELECT event_type, count(*) AS n,
         |    SUM(xc) AS sx, SUM(y) AS sy,
         |    SUM(xc * xc) AS sxx, SUM(xc * y) AS sxy, SUM(y * y) AS syy
         |  FROM (SELECT event_type,
         |      CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS xc,
         |      CAST(hour(ts) AS BIGINT) AS y
         |    FROM events)
         |  GROUP BY 1)
         |SELECT event_type, n,
         |  CASE WHEN CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
         |        - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) = 0
         |      OR CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
         |        - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) = 0
         |    THEN NULL ELSE
         |  (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
         |     - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) /
         |  (sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
         |     - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) *
         |   sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
         |     - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))) END AS corr,
         |  CASE WHEN CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
         |        - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) = 0
         |    THEN NULL ELSE
         |  (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
         |     - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) /
         |  (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
         |     - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
         |    END AS beta_hours_per_cent
         |FROM m ORDER BY event_type""".stripMargin)),
    // qd32: qd19's integer window-cumsum bin assignment, then the
    // sequences themselves — string_agg in id order with the literal
    // <eos> glue (unique doc_id makes RANGE==ROWS in both engines'
    // default frames, same as qd19).
    "qd32_pack_sequences" -> Query(TextPrep.packSeqQuery _, Oracle(
      """WITH o AS (SELECT source, doc_id, text,
         |    SUM(n_chars) OVER (PARTITION BY source ORDER BY doc_id)
         |      - n_chars AS off
         |  FROM documents),
         |b AS (SELECT source, doc_id, text,
         |    CAST(off // 2000 AS INTEGER) AS bin FROM o)
         |SELECT source, bin, count(*) AS n_docs,
         |  CAST(length(string_agg(text, '<eos>' ORDER BY doc_id))
         |    AS INTEGER) AS seq_chars,
         |  string_agg(text, '<eos>' ORDER BY doc_id) AS seq_text
         |FROM b GROUP BY 1, 2 ORDER BY source, bin""".stripMargin)),
    "qd31_temperature_sample" -> Query(TrainingOps.temperatureSampleQuery _, Oracle(
      """WITH f AS (
         |  SELECT doc_id, lang,
         |    CAST(CASE WHEN length(text) = 0 THEN 0 ELSE
         |      list_reduce(list_transform(string_split(text, ''),
         |        c -> CAST(unicode(c) AS BIGINT)),
         |        (acc, x) -> (acc * 31 + x) % 2147483647) END
         |      AS BIGINT) AS fp
         |  FROM documents),
         |s AS (SELECT lang, count(*) AS n_docs,
         |    CAST(floor(sqrt(count(*)) * 1e6) AS BIGINT) AS w
         |  FROM documents GROUP BY 1),
         |q AS (SELECT lang,
         |    CAST((250 * w) // SUM(w) OVER () AS BIGINT) AS quota
         |  FROM s),
         |r AS (SELECT doc_id, lang, fp, row_number() OVER (
         |    PARTITION BY lang ORDER BY fp, doc_id) AS rn FROM f)
         |SELECT r.lang, r.doc_id, CAST(rn AS INTEGER) AS rnk,
         |  CAST(quota AS INTEGER) AS quota
         |FROM r JOIN q USING (lang) WHERE rn <= quota
         |ORDER BY lang, doc_id""".stripMargin)),
    // qp5: the z-ordered layout is a pure clustering change — the
    // box read's content equals the same filter on the source table
    // (and the hash proves the clustered write lost nothing).
    "qp5_zorder" -> Query(Marts.zorderBoxRead _, Oracle(
      """SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
         |  l_quantity, l_extendedprice
         |FROM lineitem
         |WHERE l_partkey BETWEEN 100 AND 199
         |  AND l_suppkey BETWEEN 1 AND 4
         |ORDER BY l_orderkey, l_linenumber, l_partkey, l_suppkey,
         |  l_quantity, l_extendedprice""".stripMargin)),
    // qx25: CDC diff of the 2000-vs-2001 latest-state snapshots —
    // change predicate on status only (IS DISTINCT FROM mirrors
    // Spark's <=> negation), totals carried old/new without
    // triggering updates, no-change rows suppressed. Totals pass
    // through unchanged (no arithmetic) so doubles are bit-exact
    // without the decimal detour (qx14's argument).
    "qx25_snapshot_diff" -> Query(Scd2.customerDiff _, Oracle(
      """WITH b AS (
         |  SELECT o_custkey, o_orderstatus AS status, o_totalprice AS total
         |  FROM (SELECT *, row_number() OVER (PARTITION BY o_custkey
         |      ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
         |    FROM orders WHERE o_orderdate >= TIMESTAMP '2000-01-01'
         |      AND o_orderdate < TIMESTAMP '2001-01-01') t
         |  WHERE rn = 1),
         |a AS (
         |  SELECT o_custkey, o_orderstatus AS status, o_totalprice AS total
         |  FROM (SELECT *, row_number() OVER (PARTITION BY o_custkey
         |      ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
         |    FROM orders WHERE o_orderdate >= TIMESTAMP '2001-01-01') t
         |  WHERE rn = 1)
         |SELECT COALESCE(b.o_custkey, a.o_custkey) AS cust,
         |  CASE WHEN b.o_custkey IS NULL THEN 'insert'
         |       WHEN a.o_custkey IS NULL THEN 'delete'
         |       ELSE 'update' END AS op,
         |  b.status AS old_status, b.total AS old_total,
         |  a.status AS new_status, a.total AS new_total
         |FROM b FULL OUTER JOIN a ON b.o_custkey = a.o_custkey
         |WHERE b.o_custkey IS NULL OR a.o_custkey IS NULL
         |  OR b.status IS DISTINCT FROM a.status
         |ORDER BY cust""".stripMargin)),
    // qp6: per-column profile — exact counts/NDV, min/max rendered
    // AFTER the typed aggregate (money via DECIMAL(18,2), timestamps
    // via the canonical format) so string casts can't reorder.
    "qp6_profile" -> Query(Profile.ordersProfile _, Oracle(
      Seq(
        ("o_orderkey", "CAST(%s AS VARCHAR)"),
        ("o_custkey", "CAST(%s AS VARCHAR)"),
        ("o_orderstatus", "%s"),
        ("o_totalprice", "CAST(CAST(%s AS DECIMAL(18,2)) AS VARCHAR)"),
        ("o_orderdate", "strftime(%s, '%%Y-%%m-%%d %%H:%%M:%%S')"),
        ("o_orderpriority", "%s"))
        .map { case (c, r) =>
          s"SELECT '$c' AS col_name, count($c) AS n_nonnull, " +
            s"count(DISTINCT $c) AS ndv, " +
            s"${r.format(s"min($c)")} AS min_val, " +
            s"${r.format(s"max($c)")} AS max_val FROM orders"
        }
        .mkString("", " UNION ALL ", " ORDER BY col_name"))),
    // qs23: each event belongs to exactly the two epoch-aligned
    // 2-hour windows starting at trunc_hour(ts) and trunc_hour(ts)-1h
    // — the cross join against (0,1) materializes that assignment.
    "qs23_sliding_window" -> Query(Events.slidingHourly _, Oracle(
      """SELECT strftime(date_trunc('hour', ts) - k.k * INTERVAL 1 HOUR,
         |    '%Y-%m-%d %H:00:00') AS wstart,
         |  count(*) AS n,
         |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
         |FROM events CROSS JOIN (VALUES (0), (1)) k(k)
         |GROUP BY 1 ORDER BY wstart""".stripMargin)),
    // qx24: the csv and jdbc legs are written FROM the parquet table
    // inside the query, so federation reduces to the parquet table
    // tagged three times — the oracle needs no csv/jdbc reader.
    "qx24_federation" -> Query(Federation.federatedNation _, Oracle(
      """WITH legs AS (
         |  SELECT 'parquet' AS source, n_nationkey, n_name, n_regionkey
         |    FROM nation
         |  UNION ALL
         |  SELECT 'csv', n_nationkey, n_name, n_regionkey FROM nation
         |  UNION ALL
         |  SELECT 'jdbc', n_nationkey, n_name, n_regionkey FROM nation)
         |SELECT source, n_nationkey, n_name, n_regionkey FROM legs
         |ORDER BY source, n_nationkey""".stripMargin)),
    // qd35: qd33's char-list adjacency mirror, CHAINED for three
    // training rounds — each round's corpus CTE (t1/t2) feeds the
    // next round's candidate count with the merge symbol admitted
    // into the char class, exactly the Spark driver loop unrolled.
    "qd35_bpe_train" -> Query(TrainingOps.bpeTrainQuery _, Oracle(bpeTrainSql)),
    "qd38_bpe_encode" -> Query(TrainingOps.bpeEncodeQuery _, Oracle(bpeEncodeSql)),
  )

  /** qe17 oracle: rebuild the exact k=3 edge set from brute-force
    * cosines (the qe13 construction — provably the blocked graph's
    * edges at full probe), then unroll three integer PageRank
    * iterations as CTEs. Every quantity is a nonnegative BIGINT, so
    * DuckDB's flooring `//` equals Spark's truncating DIV throughout.
    */
  private lazy val pageRankSql: String = {
    val scale = 1000000000L
    def iter(r: Int): String =
      s"""i$r AS (SELECT e.dst AS id,
         |    CAST(SUM(r${r - 1}.pr // od.outdeg) AS BIGINT) AS inc
         |  FROM e JOIN r${r - 1} ON e.src = r${r - 1}.id
         |    JOIN od ON e.src = od.src
         |  GROUP BY e.dst),
         |r$r AS (SELECT r${r - 1}.id,
         |    CAST(15 * ($scale // n.cnt) // 100
         |      + (85 * COALESCE(i$r.inc, 0)) // 100 AS BIGINT) AS pr
         |  FROM r${r - 1} LEFT JOIN i$r ON r${r - 1}.id = i$r.id, n)"""
        .stripMargin
    s"""WITH base AS (
       |  SELECT vec_id, embedding,
       |    sqrt(${dotSql("embedding", "embedding")}) AS nrm
       |  FROM embeddings),
       |s AS (
       |  SELECT a.vec_id, b.vec_id AS nbr_id,
       |    ${dotSql("b.embedding", "a.embedding")} / (b.nrm * a.nrm) AS sim
       |  FROM base a, base b WHERE b.vec_id <> a.vec_id),
       |r AS (SELECT vec_id, nbr_id,
       |    rank() OVER (PARTITION BY vec_id ORDER BY sim DESC, nbr_id) AS rnk
       |  FROM s),
       |e AS (SELECT vec_id AS src, nbr_id AS dst FROM r WHERE rnk <= 3),
       |od AS (SELECT src, CAST(count(*) AS BIGINT) AS outdeg
       |  FROM e GROUP BY src),
       |n AS (SELECT CAST(count(*) AS BIGINT) AS cnt FROM od),
       |r0 AS (SELECT src AS id, CAST($scale // n.cnt AS BIGINT) AS pr
       |  FROM od, n),
       |${iter(1)},
       |${iter(2)},
       |${iter(3)}
       |SELECT id AS vec_id, pr FROM r3 ORDER BY vec_id""".stripMargin
  }

  /** qe15 oracle: SemDeDup at nCells=1 — dup_of is the global
    * "lowest vec_id below mine with cosine >= 0.3" (same sequential
    * fold as qe3), cluster is the single cell's id 0.
    */
  private lazy val semanticDedupSql: String =
    s"""WITH base AS (
       |  SELECT vec_id, embedding,
       |    sqrt(${dotSql("embedding", "embedding")}) AS nrm
       |  FROM embeddings),
       |d AS (
       |  SELECT a.vec_id, min(b.vec_id) AS dup_of
       |  FROM base a JOIN base b ON b.vec_id < a.vec_id
       |  WHERE ${dotSql("a.embedding", "b.embedding")}
       |    / (a.nrm * b.nrm) >= 0.3
       |  GROUP BY a.vec_id)
       |SELECT e.vec_id, 0 AS cluster, d.dup_of,
       |  d.dup_of IS NOT NULL AS is_dup
       |FROM embeddings e LEFT JOIN d ON e.vec_id = d.vec_id
       |ORDER BY e.vec_id""".stripMargin


  /** qd27's oracle, generated from the SAME [[Dedup.portablePerms]]
    * constants as the Spark side: per distinct gram, the 31-bit
    * rolling fingerprint (qd5's fold), then 16 affine minima per doc,
    * then component-match counts on the consecutive-pair spine.
    * Empty-gram docs (qd10's whole-doc "" shingle for token-free
    * text) fingerprint to 0 on both sides.
    */
  // lazy: textually above shingleCte's declaration — a strict val
  // would read it as null at object init
  private lazy val minhashEstimateSql: String = {
    val P = graft.functions.DocFingerprint.Modulus
    val mins = graft.operators.Dedup.portablePerms.zipWithIndex.map {
      case ((a, b), i) =>
        s"min((CAST($a AS BIGINT) * fp + $b) % $P) AS h$i"
    }.mkString(",\n|    ")
    val matches = graft.operators.Dedup.portablePerms.indices
      .map(i => s"(CASE WHEN a.h$i = b.h$i THEN 1 ELSE 0 END)")
      .mkString(" + ")
    val k = graft.operators.Dedup.portablePerms.size
    s"""$shingleCte,
       |g AS (SELECT doc_id, unnest(s) AS gram FROM sh),
       |f AS (SELECT doc_id, CASE WHEN gram = '' THEN 0 ELSE
       |        list_reduce(list_transform(string_split(gram, ''),
       |          c -> CAST(unicode(c) AS BIGINT)),
       |          (acc, x) -> (acc * 31 + x) % 2147483647) END AS fp
       |      FROM g),
       |m AS (SELECT doc_id,
       |    $mins
       |  FROM f GROUP BY doc_id)
       |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |  CAST($matches AS INTEGER) AS n_match,
       |  CAST($matches AS DOUBLE) / $k.0 AS est_jaccard
       |FROM m a JOIN m b ON b.doc_id = a.doc_id + 1
       |ORDER BY doc_a""".stripMargin
  }


  /** qd35 unrolled 3-round BPE trainer (see qd33 for the per-round
    * parity argument: adjacency counts via the char-list mirror,
    * literal alnum winners, RE2/Java-identical greedy replace).
    */
  /** One unrolled BPE round as CTEs (b$r candidates, w$r winner,
    * s$r stats, t$r rewritten corpus) — shared by the qd35 trainer
    * and the qd38 encoder oracles. Unreferenced CTEs (s$r for the
    * encoder) are never executed by DuckDB.
    */
  private def bpeRoundCte(r: Int, src: String, charset: String,
      sym: String): String =
    s"""b$r AS (SELECT unnest(list_filter(
       |    list_transform(range(1, len(cs)), i -> cs[i] || cs[i+1]),
       |    p -> regexp_matches(p, '^[$charset]{2}$$'))) AS pair
       |  FROM (SELECT string_split(text, '') AS cs FROM $src)
       |  WHERE len(cs) >= 2),
       |w$r AS (SELECT pair, count(*) AS c FROM b$r GROUP BY 1
       |  ORDER BY c DESC, pair LIMIT 1),
       |s$r AS (SELECT CAST($r AS INTEGER) AS round, w.pair,
       |    CAST(w.c AS BIGINT) AS pair_count,
       |    CAST(SUM(CASE WHEN regexp_matches(t.text, w.pair)
       |      THEN 1 ELSE 0 END) AS BIGINT) AS docs_touched,
       |    CAST(SUM(len(regexp_replace(t.text, w.pair, '$sym', 'g')))
       |      AS BIGINT) AS corpus_len_after
       |  FROM $src t CROSS JOIN w$r w GROUP BY w.pair, w.c),
       |t$r AS (SELECT t.doc_id,
       |    regexp_replace(t.text, w.pair, '$sym', 'g') AS text
       |  FROM $src t CROSS JOIN w$r w)""".stripMargin

  private val bpeRounds3: String =
    s"""WITH t0 AS (SELECT doc_id, text FROM documents),
       |${bpeRoundCte(1, "t0", "a-z0-9", "A")},
       |${bpeRoundCte(2, "t1", "a-z0-9A", "B")},
       |${bpeRoundCte(3, "t2", "a-z0-9AB", "C")}""".stripMargin

  private val bpeTrainSql: String =
    s"""$bpeRounds3
       |SELECT * FROM s1 UNION ALL SELECT * FROM s2
       |UNION ALL SELECT * FROM s3 ORDER BY round""".stripMargin

  /** qd38: encode = the trainer's t3 corpus; compression guards the
    * empty doc (DuckDB 0/0 is NULL, Spark NaN — both sides pin 1.0).
    */
  private val bpeEncodeSql: String =
    s"""$bpeRounds3
       |SELECT t0.doc_id, CAST(len(t0.text) AS BIGINT) AS len_before,
       |  CAST(len(t3.text) AS BIGINT) AS len_after,
       |  CASE WHEN len(t0.text) = 0 THEN 1.0
       |    ELSE CAST(len(t3.text) AS DOUBLE) / CAST(len(t0.text) AS DOUBLE)
       |  END AS compression
       |FROM t0 JOIN t3 USING (doc_id) ORDER BY t0.doc_id""".stripMargin

  /** qd48 oracle: the exhaustive pair-jaccard truth (qd10's string
    * shingle sets — n²/2 list intersections, gate-scale only) LEFT
    * JOINed to the portable-minhash banding candidates (qd27's affine
    * minima, 4 bands × 4 rows), counted per threshold. Thresholds
    * CAST to DOUBLE (a bare 0.5 VALUES literal is DECIMAL in DuckDB,
    * and the compare is dtype-strict).
    */
  private lazy val dedupQualitySql: String = {
    val P = graft.functions.DocFingerprint.Modulus
    val mins = graft.operators.Dedup.portablePerms.zipWithIndex.map {
      case ((a, b), i) => s"min((CAST($a AS BIGINT) * fp + $b) % $P) AS h$i"
    }.mkString(",\n    ")
    val bandEq = (0 until 4).map { bi =>
      (0 until 4).map(j => s"x.h${bi * 4 + j} = y.h${bi * 4 + j}")
        .mkString("(", " AND ", ")")
    }.mkString(" OR ")
    val trueSum = "SUM(CASE WHEN j.jaccard >= t.threshold THEN 1 ELSE 0 END)"
    val foundSum = "SUM(CASE WHEN j.jaccard >= t.threshold AND j.is_cand " +
      "THEN 1 ELSE 0 END)"
    s"""$shingleCte,
       |pj AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |    $jaccardExpr AS jaccard
       |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id),
       |gg AS (SELECT doc_id, unnest(s) AS gram FROM sh),
       |f AS (SELECT doc_id, CASE WHEN gram = '' THEN 0 ELSE
       |        list_reduce(list_transform(string_split(gram, ''),
       |          c -> CAST(unicode(c) AS BIGINT)),
       |          (acc, x) -> (acc * 31 + x) % 2147483647) END AS fp
       |      FROM gg),
       |m AS (SELECT doc_id,
       |    $mins
       |  FROM f GROUP BY doc_id),
       |cand AS (
       |  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
       |  FROM m x JOIN m y ON x.doc_id < y.doc_id AND ($bandEq)),
       |j AS (SELECT pj.doc_a, pj.doc_b, pj.jaccard,
       |    cand.doc_a IS NOT NULL AS is_cand
       |  FROM pj LEFT JOIN cand
       |    ON pj.doc_a = cand.doc_a AND pj.doc_b = cand.doc_b),
       |t(threshold) AS (VALUES (CAST(0.5 AS DOUBLE)),
       |  (CAST(0.7 AS DOUBLE)), (CAST(0.9 AS DOUBLE)))
       |SELECT t.threshold,
       |  CAST($trueSum AS BIGINT) AS true_pairs,
       |  CAST($foundSum AS BIGINT) AS found_pairs,
       |  CASE WHEN $trueSum = 0 THEN 1.0
       |    ELSE CAST($foundSum AS DOUBLE) / CAST($trueSum AS DOUBLE)
       |  END AS recall
       |FROM j CROSS JOIN t
       |GROUP BY t.threshold ORDER BY t.threshold""".stripMargin
  }

  /** qe20 oracle: exact-cosine truth (knnSql's construction), the
    * qe11 Hamming machinery at shortlist 50, and the SQ8 scan in its
    * INTEGER-weight form — Σ floor(q_d·w_d·10⁶)·c_d over the same
    * min/max grid, an exact-long sum so the shortlist boundary is
    * order-free on both engines — joined into per-query recall rows.
    */
  /** qd51 oracle: qd9's tokenizer verbatim, per-doc (dl, tf_i) from
    * one conditional aggregate, corpus stats (N over TOKENIZED docs,
    * Σdl, df_i) as one row, and each per-term BM25 score generated
    * from [[graft.operators.Search.bm25TermSql]] — the SAME
    * expression text the Spark side evaluates, so the IEEE op order
    * cannot diverge; micro-unit floors make per-doc sums exact longs.
    */
  /** Shared WITH-chain for qd51/qd52: tokenizer → per-doc tf/dl →
    * corpus stats → per-query micro scores → full ranking `r`.
    */
  private lazy val bm25Ctes: String = {
    val queries = Search.Bm25Queries
    val terms = queries.flatMap(_._2).distinct
    val ti = terms.zipWithIndex.toMap
    val tfCols = terms.map(t =>
      s"CAST(SUM(CASE WHEN token = '$t' THEN 1 ELSE 0 END) AS BIGINT)" +
        s" AS tf_${ti(t)}").mkString(",\n    ")
    val dfCols = terms.map(t =>
      s"CAST(SUM(CASE WHEN tf_${ti(t)} > 0 THEN 1 ELSE 0 END) AS BIGINT)" +
        s" AS df_${ti(t)}").mkString(",\n    ")
    val unions = queries.map { case (qid, ts) =>
      val micro = ts.map(t =>
        Search.bm25TermSql(s"tf_${ti(t)}", s"df_${ti(t)}"))
        .mkString("(", " + ", ")")
      val m = ts.map(t => s"tf_${ti(t)}").mkString("(", " + ", ") > 0")
      s"SELECT CAST($qid AS INTEGER) AS query_id, doc_id,\n" +
        s"    $micro AS micro, $m AS m FROM j"
    }.mkString("\n  UNION ALL ")
    s"""WITH toks AS (SELECT doc_id, unnest(list_filter(
       |    string_split(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'),
       |      ' '), t -> t != '')) AS token FROM documents),
       |pd AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS dl,
       |    $tfCols
       |  FROM toks GROUP BY 1),
       |st AS (SELECT CAST(count(*) AS BIGINT) AS n,
       |    CAST(SUM(dl) AS BIGINT) AS tdl,
       |    $dfCols
       |  FROM pd),
       |j AS (SELECT * FROM pd, st),
       |u AS (
       |  $unions),
       |r AS (SELECT query_id, doc_id, micro,
       |    CAST(rank() OVER (PARTITION BY query_id
       |      ORDER BY micro DESC, doc_id) AS INTEGER) AS rnk
       |  FROM u WHERE m)""".stripMargin
  }

  /** Shared qd55/qd56 CTE prefix: exact BIGINT counts at every grain,
    * capped-vocab weights through the dialect-shared
    * [[graft.operators.Selection.weightMicroSql]], doc-grain micro-nat
    * score sums in `sc`.
    */
  private lazy val dsirCtes: String =
    s"""WITH toks AS (SELECT doc_id, source = 'src0' AS is_tgt,
       |    unnest(list_filter(
       |    string_split(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'),
       |      ' '), t -> t != '')) AS token FROM documents),
       |tfd AS (SELECT doc_id, is_tgt, token,
       |    CAST(count(*) AS BIGINT) AS tf
       |  FROM toks GROUP BY 1, 2, 3),
       |vc AS (SELECT token, CAST(SUM(tf) AS BIGINT) AS c_all,
       |    CAST(SUM(CASE WHEN is_tgt THEN tf ELSE 0 END) AS BIGINT)
       |      AS c_tgt
       |  FROM tfd GROUP BY 1),
       |vocab AS (SELECT token, c_all, c_tgt FROM vc
       |  ORDER BY c_all DESC, token LIMIT 65536),
       |st AS (SELECT CAST(count(*) AS BIGINT) AS vn,
       |    CAST(SUM(c_all) AS BIGINT) AS t_all,
       |    CAST(SUM(c_tgt) AS BIGINT) AS t_tgt FROM vocab),
       |wv AS (SELECT token,
       |    ${graft.operators.Selection.weightMicroSql} AS w_micro
       |  FROM vocab, st),
       |sc AS (SELECT t.doc_id,
       |    CAST(SUM(t.tf * w.w_micro) AS BIGINT) AS score_micro,
       |    CAST(SUM(t.tf) AS BIGINT) AS matched_toks
       |  FROM tfd t JOIN wv w USING (token) GROUP BY 1)""".stripMargin

  /** qd55 oracle: the shared CTEs' exact BIGINT score sums; the only
    * doubles are inside [[graft.operators.Selection.weightMicroSql]]
    * — the SAME expression text the Spark side evaluates — and the
    * final micro→double division. Vocabulary cap ties break on the
    * token string; docs with no vocabulary tokens keep score 0 via
    * the left join.
    */
  private lazy val dsirSql: String =
    s"""$dsirCtes
       |SELECT d.doc_id,
       |  CAST(COALESCE(sc.score_micro, 0) AS BIGINT) AS score_micro,
       |  CAST(COALESCE(sc.matched_toks, 0) AS BIGINT) AS matched_toks,
       |  CAST(COALESCE(sc.score_micro, 0) AS DOUBLE) / 1000000.0
       |    AS score
       |FROM documents d LEFT JOIN sc ON d.doc_id = sc.doc_id
       |ORDER BY d.doc_id""".stripMargin

  /** qd56 oracle: the shared DSIR CTEs, the qd5/qd12 portable
    * rolling-fingerprint expression for the per-doc uniform, and the
    * dialect-shared [[graft.operators.Selection.keyMicroSql]] Gumbel
    * key — every double op evaluates from exact BIGINT inputs through
    * one shared expression text, so the drawn sample is identical
    * cross-engine. Top-64 by (key DESC, doc_id).
    */
  private lazy val dsirResampleSql: String =
    s"""$dsirCtes,
       |f AS (SELECT doc_id, source,
       |    CAST(CASE WHEN length(text) = 0 THEN 0 ELSE
       |      list_reduce(list_transform(string_split(text, ''),
       |          c -> CAST(unicode(c) AS BIGINT)),
       |        (acc, x) -> (acc * 31 + x) % 2147483647) END
       |      AS BIGINT) AS fp
       |  FROM documents),
       |j AS (SELECT f.doc_id, f.source, f.fp,
       |    CAST(COALESCE(sc.score_micro, 0) AS BIGINT) AS score_micro
       |  FROM f LEFT JOIN sc ON f.doc_id = sc.doc_id)
       |SELECT doc_id, source,
       |  ${graft.operators.Selection.keyMicroSql} AS sel_key,
       |  CAST(score_micro AS DOUBLE) / 1000000.0 AS score
       |FROM j
       |ORDER BY sel_key DESC, doc_id LIMIT 64""".stripMargin

  /** qd58 oracle: retrains the capped-vocabulary Naive Bayes model
    * from scratch — (token, lang) exact counts, top-8192 vocabulary
    * by (count DESC, token ASC), zero-filled class grid, per-class
    * totals — evaluates weights and priors through the SAME
    * dialect-shared micro-nat expressions the Spark side applies
    * ([[graft.operators.Selection.nbWeightMicroSql]] /
    * [[nbPriorMicroSql]]), scores every document against every class
    * (CROSS JOIN + COALESCE 0 covers token-free docs — the Spark
    * side's explode_outer + left-probe shape), and takes the argmax
    * with the same (score DESC, lang ASC) tie-break. Every score is
    * an exact BIGINT sum, so the confusion matrix is bit-equal.
    */
  private lazy val nbSql: String =
    s"""WITH toks AS (SELECT doc_id, lang, unnest(list_filter(
       |    string_split(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'),
       |      ' '), t -> t != '')) AS token FROM documents),
       |tfd AS (SELECT doc_id, lang, token, CAST(count(*) AS BIGINT) AS tf
       |  FROM toks GROUP BY 1, 2, 3),
       |vc AS (SELECT token, lang, CAST(SUM(tf) AS BIGINT) AS c
       |  FROM tfd GROUP BY 1, 2),
       |vocab AS (SELECT token FROM (
       |    SELECT token, CAST(SUM(c) AS BIGINT) AS c_all FROM vc GROUP BY 1)
       |  ORDER BY c_all DESC, token LIMIT 8192),
       |cl AS (SELECT DISTINCT lang FROM documents),
       |cnt AS (SELECT v.token, cl.lang,
       |    CAST(COALESCE(vc.c, 0) AS BIGINT) AS c
       |  FROM vocab v CROSS JOIN cl
       |  LEFT JOIN vc ON vc.token = v.token AND vc.lang = cl.lang),
       |tot AS (SELECT lang, CAST(SUM(c) AS BIGINT) AS t_l
       |  FROM cnt GROUP BY 1),
       |vv AS (SELECT CAST(count(*) AS BIGINT) AS vn FROM vocab),
       |wv AS (SELECT c.token, c.lang,
       |    ${graft.operators.Selection.nbWeightMicroSql} AS w
       |  FROM cnt c JOIN tot USING (lang), vv),
       |pri AS (SELECT nd.lang,
       |    ${graft.operators.Selection.nbPriorMicroSql} AS p
       |  FROM (SELECT lang, CAST(count(*) AS BIGINT) AS n_l
       |      FROM documents GROUP BY 1) nd,
       |    (SELECT CAST(count(*) AS BIGINT) AS n FROM documents) nn),
       |ts AS (SELECT t.doc_id, w.lang AS cand,
       |    CAST(SUM(t.tf * w.w) AS BIGINT) AS s
       |  FROM tfd t JOIN wv w ON t.token = w.token GROUP BY 1, 2),
       |sc AS (SELECT d.doc_id, d.lang AS actual, cl.lang AS cand,
       |    CAST(COALESCE(ts.s, 0) + pri.p AS BIGINT) AS score
       |  FROM documents d CROSS JOIN cl
       |  LEFT JOIN ts ON ts.doc_id = d.doc_id AND ts.cand = cl.lang
       |  JOIN pri ON pri.lang = cl.lang),
       |pred AS (SELECT actual, cand AS pred_lang,
       |    row_number() OVER (PARTITION BY doc_id
       |      ORDER BY score DESC, cand) AS rn
       |  FROM sc)
       |SELECT actual AS lang, pred_lang, CAST(count(*) AS BIGINT) AS n
       |FROM pred WHERE rn = 1 GROUP BY 1, 2
       |ORDER BY lang, pred_lang""".stripMargin

  /** qd59 oracle: rebuilds the portable two-grain HLL from first
    * principles — the qd37 shingle CTE for the gram leg (the SAME
    * text the near-dup oracles use) plus a token-occurrence leg off
    * its doc-grain token lists, the qd5/qd12 rolling fingerprint of
    * each item, the same Fibonacci avalanche / register split in
    * exact BIGINT ops (`//`, `%` ≡ the Spark side's
    * shiftright/bitwiseAND on these nonnegative fields), rank via
    * LENGTH(BIN(r)) which both engines evaluate identically, and the
    * estimator through the dialect-shared
    * [[graft.operators.Sketch.hllEstSql]] — so even the corrected
    * estimate matches to the bit.
    */
  /** qd62/qs41 oracle: recomputes the count-min counter table from
    * the token tf grain — per-row affine pre-mix over the 31-bit
    * fingerprint, the qd59 two-round avalanche, bucket = top 8 bits —
    * then the true per-source top-5 (row_number over (tf DESC, token))
    * and each candidate's MIN over its 4 counters. Exact BIGINT
    * arithmetic end to end; [[graft.operators.Sketch.cmOverSql]] is
    * the dialect-shared error expression.
    */
  private lazy val cmSql: String = {
    val perms = graft.operators.Sketch.cmPerms.zipWithIndex
      .map { case ((a, b), r) => s"($r, $a, $b)" }.mkString(", ")
    s"""$shingleCte,
       |items AS (SELECT d.source, unnest(t.t) AS item
       |  FROM toks t JOIN documents d USING (doc_id)),
       |tfc AS (SELECT source, item, CAST(count(*) AS BIGINT) AS tf
       |  FROM items GROUP BY 1, 2),
       |fps AS (SELECT source, item, tf,
       |    CAST(CASE WHEN length(item) = 0 THEN 0 ELSE
       |      list_reduce(list_transform(string_split(item, ''),
       |        c -> CAST(unicode(c) AS BIGINT)),
       |      (acc, x) -> (acc * 31 + x) % 2147483647) END AS BIGINT)
       |      AS fp
       |  FROM tfc),
       |m0 AS (SELECT source, item, tf, p.r,
       |    ((fp * p.a + p.bb) % 2147483647) * 2654435761
       |      % 2147483648 AS h1
       |  FROM fps, (VALUES $perms) p(r, a, bb)),
       |ha AS (SELECT source, item, tf, r,
       |    (xor(h1, h1 // 32768) * 2246822519) % 2147483648 AS h3
       |  FROM m0),
       |hb AS (SELECT source, item, tf, r,
       |    xor(h3, h3 // 8192) // 8388608 AS b
       |  FROM ha),
       |counters AS (SELECT source, r, b, CAST(SUM(tf) AS BIGINT) AS cnt
       |  FROM hb GROUP BY 1, 2, 3),
       |t5 AS (SELECT source, item, tf AS exact_tf, rnk FROM (
       |    SELECT source, item, tf,
       |      CAST(row_number() OVER (PARTITION BY source
       |        ORDER BY tf DESC, item) AS INTEGER) AS rnk
       |    FROM tfc) WHERE rnk <= 5),
       |e AS (SELECT t.source, t.rnk, t.item, t.exact_tf,
       |    MIN(c.cnt) AS cm_est
       |  FROM t5 t
       |  JOIN hb ON hb.source = t.source AND hb.item = t.item
       |  JOIN counters c ON c.source = hb.source AND c.r = hb.r
       |    AND c.b = hb.b
       |  GROUP BY 1, 2, 3, 4)
       |SELECT source, rnk, item, exact_tf, cm_est,
       |  ${graft.operators.Sketch.cmOverSql} AS over_micro
       |FROM e ORDER BY source, rnk""".stripMargin
  }

  /** qd63/qs42 oracle: distinct (source, token) → the qd59 avalanche
    * chain → distinct hashes; bottom-16 via row_number, then the
    * dialect-shared k-th-minimum estimator and error
    * ([[graft.operators.Sketch.bkEstSql]] / [[Sketch.bkErrSql]])
    * against the exact distinct-hash count.
    */
  private lazy val bkSql: String =
    s"""$shingleCte,
       |items AS (SELECT DISTINCT d.source, unnest(t.t) AS item
       |  FROM toks t JOIN documents d USING (doc_id)),
       |h0 AS (SELECT source,
       |    (CAST(CASE WHEN length(item) = 0 THEN 0 ELSE
       |      list_reduce(list_transform(string_split(item, ''),
       |        c -> CAST(unicode(c) AS BIGINT)),
       |      (acc, x) -> (acc * 31 + x) % 2147483647) END AS BIGINT)
       |     * 2654435761) % 2147483648 AS h1
       |  FROM items),
       |ha AS (SELECT source,
       |    (xor(h1, h1 // 32768) * 2246822519) % 2147483648 AS h3
       |  FROM h0),
       |hh AS (SELECT DISTINCT source, xor(h3, h3 // 8192) AS h2 FROM ha),
       |rk AS (SELECT source, h2,
       |    row_number() OVER (PARTITION BY source ORDER BY h2) AS rnk
       |  FROM hh),
       |kk AS (SELECT source, CAST(count(*) AS BIGINT) AS n_kept,
       |    MAX(h2) AS kth_hash
       |  FROM rk WHERE rnk <= ${graft.operators.Sketch.BottomK}
       |  GROUP BY 1),
       |ex AS (SELECT source, CAST(count(*) AS BIGINT) AS exact_distinct
       |  FROM hh GROUP BY 1),
       |e AS (SELECT kk.source, n_kept, kth_hash, exact_distinct,
       |    ${graft.operators.Sketch.bkEstSql} AS bk_est
       |  FROM kk JOIN ex ON ex.source = kk.source)
       |SELECT source, n_kept, kth_hash, exact_distinct, bk_est,
       |  ${graft.operators.Sketch.bkErrSql} AS err_micro
       |FROM e ORDER BY source""".stripMargin

  /** qd64 oracle: the bkSql hash chain, the per-source bottom-16,
    * the union fold as a tagged GROUP BY + row_number take-k (the
    * monoid merge in SQL), the exact distinct-hash equi-join, and
    * both dialect-shared estimate expressions.
    */
  private lazy val bkResSql: String =
    s"""$shingleCte,
       |items AS (SELECT DISTINCT d.source, unnest(t.t) AS item
       |  FROM toks t JOIN documents d USING (doc_id)),
       |h0 AS (SELECT source,
       |    (CAST(CASE WHEN length(item) = 0 THEN 0 ELSE
       |      list_reduce(list_transform(string_split(item, ''),
       |        c -> CAST(unicode(c) AS BIGINT)),
       |      (acc, x) -> (acc * 31 + x) % 2147483647) END AS BIGINT)
       |     * 2654435761) % 2147483648 AS h1
       |  FROM items),
       |ha AS (SELECT source,
       |    (xor(h1, h1 // 32768) * 2246822519) % 2147483648 AS h3
       |  FROM h0),
       |hh AS (SELECT DISTINCT source, xor(h3, h3 // 8192) AS h2 FROM ha),
       |rk AS (SELECT source, h2,
       |    row_number() OVER (PARTITION BY source ORDER BY h2) AS rnk
       |  FROM hh),
       |sk AS (SELECT source, h2 FROM rk
       |  WHERE rnk <= ${graft.operators.Sketch.BottomK}),
       |ex AS (SELECT source, CAST(count(*) AS BIGINT) AS exact_n
       |  FROM hh GROUP BY 1),
       |sp AS (SELECT a.source AS src_a, b.source AS src_b,
       |    a.exact_n AS exact_a, b.exact_n AS exact_b
       |  FROM ex a JOIN ex b ON a.source < b.source),
       |tg AS (SELECT sp.src_a, sp.src_b, s.h2,
       |    MAX(CASE WHEN s.source = sp.src_a THEN 1 ELSE 0 END) AS in_a,
       |    MAX(CASE WHEN s.source = sp.src_b THEN 1 ELSE 0 END) AS in_b
       |  FROM sp JOIN sk s ON s.source = sp.src_a OR s.source = sp.src_b
       |  GROUP BY 1, 2, 3),
       |ur AS (SELECT src_a, src_b, h2, in_a, in_b,
       |    row_number() OVER (PARTITION BY src_a, src_b ORDER BY h2)
       |      AS urnk
       |  FROM tg),
       |uk AS (SELECT src_a, src_b, CAST(count(*) AS BIGINT) AS k_union,
       |    CAST(SUM(in_a * in_b) AS BIGINT) AS shared_in_k
       |  FROM ur WHERE urnk <= ${graft.operators.Sketch.BottomK}
       |  GROUP BY 1, 2),
       |ov AS (SELECT x.source AS src_a, y.source AS src_b,
       |    CAST(count(*) AS BIGINT) AS ov
       |  FROM hh x JOIN hh y ON x.h2 = y.h2 AND x.source < y.source
       |  GROUP BY 1, 2),
       |j AS (SELECT sp.src_a, sp.src_b, exact_a, exact_b,
       |    CAST(COALESCE(ov.ov, 0) AS BIGINT) AS exact_overlap,
       |    k_union, shared_in_k
       |  FROM sp
       |  JOIN uk ON uk.src_a = sp.src_a AND uk.src_b = sp.src_b
       |  LEFT JOIN ov ON ov.src_a = sp.src_a AND ov.src_b = sp.src_b)
       |SELECT src_a, src_b, exact_a, exact_b, exact_overlap, k_union,
       |  shared_in_k,
       |  ${graft.operators.Sketch.jaccMicroSql} AS jacc_micro,
       |  ${graft.operators.Sketch.bkResSql} AS jacc_est_micro
       |FROM j ORDER BY src_a, src_b""".stripMargin

  /** qd61/qs43 oracle (shared: the drained streaming histogram is
    * the same summable monoid as the batch one). */
  private lazy val quantileSql: String =
    """WITH b AS (SELECT source,
         |    CASE WHEN n_chars <= 0 THEN 0 ELSE
         |      8 * CAST(length(bin(n_chars)) - 1 AS BIGINT)
         |      + ((n_chars << 3) >> CAST(length(bin(n_chars)) - 1
         |          AS INTEGER)) - 7 END AS idx,
         |    CAST(count(*) AS BIGINT) AS n_in
         |  FROM documents GROUP BY 1, 2),
         |c AS (SELECT source, idx,
         |    SUM(n_in) OVER (PARTITION BY source ORDER BY idx) AS cum
         |  FROM b),
         |t AS (SELECT source, CAST(count(*) AS BIGINT) AS n
         |  FROM documents GROUP BY 1),
         |k AS (SELECT source, n, p.pct,
         |    CAST((n * p.pct + 99) // 100 AS BIGINT) AS k
         |  FROM t, (VALUES (50), (90), (99)) p(pct)),
         |e AS (SELECT k.source, k.n, k.pct, MIN(c.idx) AS idx
         |  FROM k JOIN c ON c.source = k.source AND c.cum >= k.k
         |  GROUP BY 1, 2, 3),
         |ev AS (SELECT source, n, pct,
         |    CASE WHEN idx = 0 THEN 0 ELSE
         |      CAST((((idx - 1) % 8 + 8) << CAST((idx - 1) // 8
         |        AS INTEGER)) >> 3 AS BIGINT) END AS est_v
         |  FROM e),
         |r AS (SELECT source, n_chars AS v,
         |    row_number() OVER (PARTITION BY source ORDER BY n_chars)
         |      AS rn
         |  FROM documents),
         |x AS (SELECT k.source, k.pct, r.v AS exact_v
         |  FROM k JOIN r ON r.source = k.source AND r.rn = k.k)
         |SELECT ev.source, ev.pct, ev.n, x.exact_v, ev.est_v,
         |  CASE WHEN x.exact_v = 0 THEN 0 ELSE
         |    CAST(FLOOR((CAST(ev.est_v AS DOUBLE)
         |      / CAST(x.exact_v AS DOUBLE) - 1.0) * 1000000.0 + 0.5)
         |      AS BIGINT) END AS err_micro
         |FROM ev JOIN x ON x.source = ev.source AND x.pct = ev.pct
         |ORDER BY ev.source, ev.pct""".stripMargin

  /** qs40/qd65 oracle: qd59's register chain, estimate-only —
    * shared by the streaming register gate (max is an order-free
    * monoid) and the stored-register artifact read (what the store
    * serves equals the registers built from the live corpus). */
  private lazy val hllEstOnlySql: String =
    s"""$shingleCte,
         |items AS (SELECT DISTINCT d.source, unnest(t.t) AS item
         |  FROM toks t JOIN documents d USING (doc_id)),
         |h0 AS (SELECT source,
         |    (CAST(CASE WHEN length(item) = 0 THEN 0 ELSE
         |      list_reduce(list_transform(string_split(item, ''),
         |        c -> CAST(unicode(c) AS BIGINT)),
         |      (acc, x) -> (acc * 31 + x) % 2147483647) END AS BIGINT)
         |     * 2654435761) % 2147483648 AS h1
         |  FROM items),
         |ha AS (SELECT source,
         |    (xor(h1, h1 // 32768) * 2246822519) % 2147483648 AS h3
         |  FROM h0),
         |hx AS (SELECT source, xor(h3, h3 // 8192) AS h2 FROM ha),
         |rr AS (SELECT source, h2 // 8388608 AS idx,
         |    CASE WHEN h2 % 8388608 = 0 THEN 24
         |      ELSE 24 - CAST(length(bin(h2 % 8388608)) AS INTEGER) END AS rho
         |  FROM hx),
         |regs AS (SELECT source, idx, MAX(rho) AS mx
         |  FROM rr GROUP BY 1, 2),
         |sk AS (SELECT source,
         |    CAST(SUM(${graft.operators.Sketch.hllTermSql}) AS BIGINT)
         |      AS s_present,
         |    CAST(count(*) AS BIGINT) AS m_p
         |  FROM regs GROUP BY 1),
         |e AS (SELECT source, CAST(256 - m_p AS BIGINT) AS zeros,
         |    CAST(s_present + (256 - m_p) * 16777216 AS BIGINT) AS s_total
         |  FROM sk)
         |SELECT source, ${graft.operators.Sketch.hllEstSql} AS hll_est,
         |  zeros AS zero_regs
         |FROM e ORDER BY source""".stripMargin

  private lazy val hllSql: String =
    s"""$shingleCte,
       |items AS (
       |  SELECT d.source, 'token' AS grain, unnest(t.t) AS item
       |  FROM toks t JOIN documents d USING (doc_id)
       |  UNION ALL
       |  SELECT d.source, 'shingle' AS grain, unnest(sh.s) AS item
       |  FROM sh JOIN documents d USING (doc_id)),
       |tfc AS (SELECT source, grain, item, CAST(count(*) AS BIGINT) AS tf
       |  FROM items GROUP BY 1, 2, 3),
       |h0 AS (SELECT source, grain,
       |    (CAST(CASE WHEN length(item) = 0 THEN 0 ELSE
       |      list_reduce(list_transform(string_split(item, ''),
       |        c -> CAST(unicode(c) AS BIGINT)),
       |      (acc, x) -> (acc * 31 + x) % 2147483647) END AS BIGINT)
       |     * 2654435761) % 2147483648 AS h1
       |  FROM tfc),
       |ha AS (SELECT source, grain,
       |    (xor(h1, h1 // 32768) * 2246822519) % 2147483648 AS h3
       |  FROM h0),
       |hx AS (SELECT source, grain, xor(h3, h3 // 8192) AS h2 FROM ha),
       |rr AS (SELECT source, grain, h2 // 8388608 AS idx,
       |    CASE WHEN h2 % 8388608 = 0 THEN 24
       |      ELSE 24 - CAST(length(bin(h2 % 8388608)) AS INTEGER) END AS mx0
       |  FROM hx),
       |regs AS (SELECT source, grain, idx, MAX(mx0) AS mx
       |  FROM rr GROUP BY 1, 2, 3),
       |sk AS (SELECT source, grain,
       |    CAST(SUM(${graft.operators.Sketch.hllTermSql}) AS BIGINT)
       |      AS s_present,
       |    CAST(count(*) AS BIGINT) AS m_p
       |  FROM regs GROUP BY 1, 2),
       |st AS (SELECT source, grain, CAST(SUM(tf) AS BIGINT) AS n_items,
       |    CAST(count(*) AS BIGINT) AS exact_distinct
       |  FROM tfc GROUP BY 1, 2),
       |j AS (SELECT st.source, st.grain, n_items, exact_distinct,
       |    CAST(256 - m_p AS BIGINT) AS zeros,
       |    CAST(s_present + (256 - m_p) * 16777216 AS BIGINT) AS s_total
       |  FROM st JOIN sk ON st.source = sk.source AND st.grain = sk.grain),
       |e AS (SELECT source, grain, n_items, exact_distinct, zeros,
       |    ${graft.operators.Sketch.hllEstSql} AS hll_est FROM j)
       |SELECT source, grain, n_items, exact_distinct, hll_est,
       |  zeros AS zero_regs,
       |  ${graft.operators.Sketch.hllErrSql} AS err_micro
       |FROM e ORDER BY source, grain""".stripMargin

  /** qd60 oracle: rebuilds the qd59 portable registers at the
    * (source, distinct shingle) grain, densifies onto the 256-index
    * spine, folds pair unions with GREATEST (the register-max
    * monoid), and evaluates every estimate through the SAME
    * dialect-shared expressions the Spark side applies
    * ([[graft.operators.Sketch.hllTermSql]] / [[Sketch.hllEstSql]] /
    * [[Sketch.jaccMicroSql]] / [[Sketch.jaccEstMicroSql]]) — exact
    * BIGINT register sums in, bit-identical estimates out. The exact
    * columns are the qd37-style item equi-join recomputed in full.
    */
  private lazy val hllOverlapSql: String =
    s"""$shingleCte,
       |items AS (SELECT DISTINCT d.source, unnest(sh.s) AS item
       |  FROM sh JOIN documents d USING (doc_id)),
       |exn AS (SELECT source, CAST(count(*) AS BIGINT) AS exact_n
       |  FROM items GROUP BY 1),
       |exo AS (SELECT x.source AS src_a, y.source AS src_b,
       |    CAST(count(*) AS BIGINT) AS ov
       |  FROM items x JOIN items y
       |    ON x.item = y.item AND x.source < y.source
       |  GROUP BY 1, 2),
       |h0 AS (SELECT source,
       |    (CAST(CASE WHEN length(item) = 0 THEN 0 ELSE
       |      list_reduce(list_transform(string_split(item, ''),
       |        c -> CAST(unicode(c) AS BIGINT)),
       |      (acc, x) -> (acc * 31 + x) % 2147483647) END AS BIGINT)
       |     * 2654435761) % 2147483648 AS h1
       |  FROM items),
       |ha AS (SELECT source,
       |    (xor(h1, h1 // 32768) * 2246822519) % 2147483648 AS h3
       |  FROM h0),
       |hx AS (SELECT source, xor(h3, h3 // 8192) AS h2 FROM ha),
       |rr AS (SELECT source, h2 // 8388608 AS idx,
       |    CASE WHEN h2 % 8388608 = 0 THEN 24
       |      ELSE 24 - CAST(length(bin(h2 % 8388608)) AS INTEGER) END AS rho
       |  FROM hx),
       |regs AS (SELECT source, idx, MAX(rho) AS mx0
       |  FROM rr GROUP BY 1, 2),
       |dense AS (SELECT s.source, CAST(t.range AS BIGINT) AS idx,
       |    CAST(COALESCE(regs.mx0, 0) AS BIGINT) AS mx
       |  FROM (SELECT DISTINCT source FROM items) s
       |  CROSS JOIN range(256) t
       |  LEFT JOIN regs ON regs.source = s.source AND regs.idx = t.range),
       |e1p AS (SELECT source,
       |    CAST(SUM(${graft.operators.Sketch.hllTermSql}) AS BIGINT)
       |      AS s_present,
       |    CAST(count(*) AS BIGINT) AS m_nz
       |  FROM dense WHERE mx > 0 GROUP BY 1),
       |e1b AS (SELECT source, CAST(256 - m_nz AS BIGINT) AS zeros,
       |    CAST(s_present + (256 - m_nz) * 16777216 AS BIGINT) AS s_total
       |  FROM e1p),
       |e1 AS (SELECT source, ${graft.operators.Sketch.hllEstSql} AS est
       |  FROM e1b),
       |pup AS (SELECT a.source AS src_a, b.source AS src_b,
       |    GREATEST(a.mx, b.mx) AS mx
       |  FROM dense a JOIN dense b
       |    ON a.idx = b.idx AND a.source < b.source),
       |pue AS (SELECT src_a, src_b,
       |    CAST(SUM(${graft.operators.Sketch.hllTermSql}) AS BIGINT)
       |      AS s_present,
       |    CAST(count(*) AS BIGINT) AS m_nz
       |  FROM pup WHERE mx > 0 GROUP BY 1, 2),
       |pub AS (SELECT src_a, src_b, CAST(256 - m_nz AS BIGINT) AS zeros,
       |    CAST(s_present + (256 - m_nz) * 16777216 AS BIGINT) AS s_total
       |  FROM pue),
       |pu AS (SELECT src_a, src_b,
       |    ${graft.operators.Sketch.hllEstSql} AS est_union FROM pub),
       |j AS (SELECT na.source AS src_a, nb.source AS src_b,
       |    na.exact_n AS exact_a, nb.exact_n AS exact_b,
       |    CAST(COALESCE(exo.ov, 0) AS BIGINT) AS exact_overlap
       |  FROM exn na JOIN exn nb ON na.source < nb.source
       |  LEFT JOIN exo ON exo.src_a = na.source AND exo.src_b = nb.source),
       |f AS (SELECT j.*, ea.est AS est_a, eb.est AS est_b, pu.est_union
       |  FROM j JOIN e1 ea ON ea.source = j.src_a
       |  JOIN e1 eb ON eb.source = j.src_b
       |  JOIN pu ON pu.src_a = j.src_a AND pu.src_b = j.src_b)
       |SELECT src_a, src_b, exact_a, exact_b, exact_overlap,
       |  CAST(est_a + est_b - est_union AS BIGINT) AS est_overlap,
       |  ${graft.operators.Sketch.jaccMicroSql} AS jacc_micro,
       |  ${graft.operators.Sketch.jaccEstMicroSql} AS jacc_est_micro
       |FROM f ORDER BY src_a, src_b""".stripMargin

  private lazy val bm25Sql: String =
    s"""$bm25Ctes
       |SELECT query_id, doc_id, rnk,
       |  CAST(micro AS DOUBLE) / 1000000.0 AS score
       |FROM r WHERE rnk <= 10
       |ORDER BY query_id, rnk, doc_id""".stripMargin

  /** qd52 oracle: qd51's ranking CTEs verbatim, then the RM3
    * expansion — (doc, term) exact counts joined to each query's
    * top-10, original terms excluded via a VALUES anti-join, weight =
    * exact BIGINT sum, top-5 by (w DESC, term).
    */
  private lazy val prfSql: String = {
    val ex = graft.operators.Search.Bm25Queries
      .flatMap { case (qid, ts) => ts.map(t => s"($qid, '$t')") }
      .mkString(", ")
    s"""$bm25Ctes,
       |tfd AS (SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf
       |  FROM toks GROUP BY 1, 2),
       |topd AS (SELECT query_id, doc_id FROM r WHERE rnk <= 10),
       |ex(query_id, token) AS (VALUES $ex),
       |wg AS (SELECT t.query_id, f.token AS term,
       |    CAST(SUM(f.tf) AS BIGINT) AS w
       |  FROM topd t JOIN tfd f USING (doc_id)
       |  LEFT JOIN ex ON ex.query_id = t.query_id AND ex.token = f.token
       |  WHERE ex.token IS NULL
       |  GROUP BY 1, 2)
       |SELECT query_id, term, w, rnk FROM (
       |  SELECT query_id, term, w,
       |    CAST(rank() OVER (PARTITION BY query_id
       |      ORDER BY w DESC, term) AS INTEGER) AS rnk FROM wg)
       |WHERE rnk <= 5 ORDER BY query_id, rnk, term""".stripMargin
  }

  /** qe22 oracle: qe20's two bit-recomputable rankings — the 1024-bit
    * Hamming top-50 (qe11's CTEs) and the SQ8 integer-scored top-50 —
    * fused by exact-integer RRF: 10⁹ // (60 + rank) per list,
    * summed, top-10 by (rrf DESC, vec_id). Truncating // ≡ DIV on
    * the all-nonnegative ranks (the qs33/qe17 argument).
    */
  private lazy val rrfSql: String = {
    val ids = graft.operators.TrainingOps.knnQueryIds.mkString(", ")
    s"""WITH ${hammingSigCtes("he", "hs")},
       |${hammingQCte("hq", "hs", ids)},
       |hd AS (SELECT hq.query_id, hs.vec_id,
       |    CAST(${hammingDist("hs", "hq")} AS INTEGER) AS hamming
       |  FROM hs, hq WHERE hs.vec_id <> hq.query_id),
       |rh AS (SELECT query_id, vec_id, rnk FROM (
       |    SELECT query_id, vec_id,
       |      CAST(rank() OVER (PARTITION BY query_id
       |        ORDER BY hamming, vec_id) AS BIGINT) AS rnk
       |    FROM hd) WHERE rnk <= 50),
       |el AS (SELECT vec_id, i AS d, CAST(embedding[i] AS DOUBLE) AS x
       |  FROM embeddings, unnest(range(1, len(embedding)+1)) u(i)),
       |st AS (SELECT d, min(x) AS lo, max(x) AS hi FROM el GROUP BY d),
       |co AS (SELECT el.vec_id, el.d,
       |    CASE WHEN st.hi = st.lo THEN CAST(0 AS BIGINT)
       |      ELSE CAST(least(greatest(
       |        floor((el.x - st.lo) / (st.hi - st.lo) * 256.0),
       |        0.0), 255.0) AS BIGINT) END AS c
       |  FROM el JOIN st USING (d)),
       |qw AS (SELECT el.vec_id AS query_id, el.d,
       |    CAST(floor(el.x * ((st.hi - st.lo) / 256.0) * 1000000.0)
       |      AS BIGINT) AS w
       |  FROM el JOIN st USING (d) WHERE el.vec_id IN ($ids)),
       |sc AS (SELECT qw.query_id, co.vec_id,
       |    CAST(SUM(qw.w * co.c) AS BIGINT) AS sco
       |  FROM co JOIN qw USING (d) WHERE co.vec_id <> qw.query_id
       |  GROUP BY 1, 2),
       |rs AS (SELECT query_id, vec_id, rn FROM (
       |    SELECT query_id, vec_id,
       |      CAST(row_number() OVER (PARTITION BY query_id
       |        ORDER BY sco DESC, vec_id) AS BIGINT) AS rn
       |    FROM sc) WHERE rn <= 50),
       |f AS (SELECT COALESCE(rh.query_id, rs.query_id) AS query_id,
       |    COALESCE(rh.vec_id, rs.vec_id) AS vec_id,
       |    COALESCE(CAST(1000000000 AS BIGINT) // (60 + rh.rnk),
       |      CAST(0 AS BIGINT))
       |    + COALESCE(CAST(1000000000 AS BIGINT) // (60 + rs.rn),
       |      CAST(0 AS BIGINT)) AS rrf
       |  FROM rh FULL OUTER JOIN rs
       |    ON rh.query_id = rs.query_id AND rh.vec_id = rs.vec_id)
       |SELECT query_id, vec_id, rnk, rrf FROM (
       |  SELECT query_id, vec_id, rrf,
       |    CAST(rank() OVER (PARTITION BY query_id
       |      ORDER BY rrf DESC, vec_id) AS INTEGER) AS rnk FROM f)
       |WHERE rnk <= 10 ORDER BY query_id, rnk, vec_id""".stripMargin
  }

  /** Shared DuckDB CTE generator for the 1024-bit Hamming sketch
    * (qe11 / qe20 / qe22 all recompute it bit-for-bit): emits the
    * exploded-component CTE `e` and the 16-word signature CTE `s` —
    * sign word + ordinal-comparison words at
    * [[graft.operators.Similarity.hammingStrides]], modular
    * wraparound neighbor, and strides ≥ dim pinned to an all-zero
    * word on both engines so low-dim inputs agree by construction.
    * Generated from the SAME stride list the Spark operator uses, so
    * the two sides cannot drift on sketch geometry.
    */
  private def hammingSigCtes(e: String, sCte: String): String = {
    val strides = graft.operators.Similarity.hammingStrides
    val vn = strides.map(s =>
      s"    CAST(embedding[((i - 1 + $s) % len(embedding)) + 1] AS DOUBLE)" +
        s" AS vn$s,").mkString("\n")
    val sigs = (Seq("    bit_or(CASE WHEN v > 0 THEN bit" +
      " ELSE CAST(0 AS BIGINT) END) AS sig0") ++
      strides.map(s =>
        s"    bit_or(CASE WHEN $s <= dim - 1 AND v > vn$s THEN bit" +
          s" ELSE CAST(0 AS BIGINT) END) AS sig$s")).mkString(",\n")
    s"""$e AS (SELECT vec_id, len(embedding) AS dim,
       |    CAST(embedding[i] AS DOUBLE) AS v,
       |$vn
       |    CASE WHEN i = 64 THEN CAST(-9223372036854775808 AS BIGINT)
       |         ELSE CAST(1 AS BIGINT) << (i - 1) END AS bit
       |  FROM embeddings, unnest(range(1, len(embedding)+1)) u(i)),
       |$sCte AS (SELECT vec_id,
       |$sigs
       |  FROM $e GROUP BY 1)""".stripMargin
  }

  private def hammingWords: Seq[Int] =
    0 +: graft.operators.Similarity.hammingStrides

  private def hammingQCte(q: String, sCte: String, ids: String): String =
    s"$q AS (SELECT vec_id AS query_id, " +
      hammingWords.map(i => s"sig$i AS qsig$i").mkString(", ") +
      s" FROM $sCte WHERE vec_id IN ($ids))"

  // DuckDB's bit_count returns a TINYINT (int8_t): 16 words sum past
  // 127, so each term must widen BEFORE the addition
  private def hammingDist(sCte: String, qCte: String): String =
    hammingWords.map(i =>
      s"CAST(bit_count(xor($sCte.sig$i, $qCte.qsig$i)) AS INTEGER)")
      .mkString("\n       + ")

  /** Portable-PQ oracle CTEs (qe20 pq/ivfpq legs, qe24): mirrors
    * [[graft.operators.PqInt]] bit for bit — micro-quantized integer
    * components (`pc`), the 64-lowest-vec_id sample codebook, exact
    * BIGINT subspace distances, argmin codes (ties to the lower
    * code), per-query ADC LUTs and the row_number shortlist. `p`
    * prefixes every CTE so two subspace maps can coexist in one
    * query (qe24); `mapCte` must define `${p}mm(d, m)`. Requires a
    * `pc` CTE in scope (shared across prefixes).
    */
  private def pqSqlCtes(p: String, mapCte: String, ids: String): String =
    s"""$mapCte,
       |${p}cbs AS (SELECT vec_id,
       |    CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS c
       |  FROM (SELECT vec_id FROM embeddings ORDER BY vec_id LIMIT 64)),
       |${p}cb AS (SELECT ${p}mm.m, ${p}cbs.c, pc.d, pc.q AS qc
       |  FROM pc JOIN ${p}cbs USING (vec_id) JOIN ${p}mm USING (d)),
       |${p}pd AS (SELECT pc.vec_id, cb.m, cb.c,
       |    CAST(SUM((pc.q - cb.qc) * (pc.q - cb.qc)) AS BIGINT) AS dist
       |  FROM pc JOIN ${p}cb cb ON pc.d = cb.d GROUP BY 1, 2, 3),
       |${p}codes AS (SELECT vec_id, m, c AS code FROM (
       |    SELECT vec_id, m, c, row_number() OVER (PARTITION BY vec_id, m
       |      ORDER BY dist, c) AS rn FROM ${p}pd) WHERE rn = 1),
       |${p}lut AS (SELECT vec_id AS query_id, m, c AS code, dist
       |  FROM ${p}pd WHERE vec_id IN ($ids)),
       |${p}adc AS (SELECT l.query_id, co.vec_id,
       |    CAST(SUM(l.dist) AS BIGINT) AS adist
       |  FROM ${p}codes co JOIN ${p}lut l
       |    ON co.m = l.m AND co.code = l.code
       |  WHERE co.vec_id <> l.query_id GROUP BY 1, 2),
       |${p}rp AS (SELECT query_id, vec_id FROM (
       |    SELECT query_id, vec_id, row_number() OVER (
       |      PARTITION BY query_id ORDER BY adist, vec_id) AS rn
       |    FROM ${p}adc) WHERE rn <= 50)""".stripMargin

  /** The micro-quantized component CTE every PQ leg reads. */
  private val pcCte: String =
    """pc AS (SELECT vec_id, CAST(i - 1 AS INTEGER) AS d,
      |    CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000000) AS BIGINT) AS q
      |  FROM embeddings, unnest(range(1, len(embedding)+1)) u(i))"""
      .stripMargin

  /** Identity subspace map — plain contiguous PQ (m = d div 8). */
  private def pqMapIdentity(p: String): String =
    s"""${p}mm AS (SELECT CAST(i - 1 AS INTEGER) AS d,
       |    CAST((i - 1) // 8 AS INTEGER) AS m FROM range(1, 65) u(i))"""
      .stripMargin

  /** Variance-balanced round-robin map — the OPQ-init permutation,
    * through the SAME variance expression text the Spark side
    * evaluates ([[graft.operators.PqInt.varianceSql]]).
    */
  private def pqMapVariance(p: String): String =
    s"""${p}vm AS (SELECT d, CAST(count(*) AS BIGINT) AS n,
       |    CAST(SUM(q) AS BIGINT) AS s1,
       |    CAST(SUM(q * q) AS BIGINT) AS s2
       |  FROM pc GROUP BY d),
       |${p}mm AS (SELECT d, CAST((row_number() OVER (ORDER BY
       |    (${graft.operators.PqInt.varianceSql}) DESC, d) - 1) % 8
       |    AS INTEGER) AS m FROM ${p}vm)""".stripMargin

  /** IVF coarse-cell CTEs for the qe20 ivfpq leg: 8 deterministic
    * sample centroids, full-dim exact-int argmin assignment, 2-cell
    * probes, ADC over probed members only (prefix `i` codes/lut).
    */
  private def ivfpqSqlCtes(ids: String): String =
    s"""cc AS (SELECT vec_id,
       |    CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS cell
       |  FROM (SELECT vec_id FROM embeddings ORDER BY vec_id LIMIT 8)),
       |ccb AS (SELECT cc.cell, pc.d, pc.q AS qc
       |  FROM pc JOIN cc USING (vec_id)),
       |cd AS (SELECT pc.vec_id, ccb.cell,
       |    CAST(SUM((pc.q - ccb.qc) * (pc.q - ccb.qc)) AS BIGINT) AS dist
       |  FROM pc JOIN ccb ON pc.d = ccb.d GROUP BY 1, 2),
       |vcell AS (SELECT vec_id, cell FROM (
       |    SELECT vec_id, cell, row_number() OVER (PARTITION BY vec_id
       |      ORDER BY dist, cell) AS rn FROM cd) WHERE rn = 1),
       |probes AS (SELECT vec_id AS query_id, cell FROM (
       |    SELECT vec_id, cell, row_number() OVER (PARTITION BY vec_id
       |      ORDER BY dist, cell) AS rn FROM cd
       |    WHERE vec_id IN ($ids)) WHERE rn <= 2),
       |mem AS (SELECT p.query_id, v.vec_id FROM vcell v
       |  JOIN probes p USING (cell) WHERE v.vec_id <> p.query_id),
       |vadc AS (SELECT m.query_id, m.vec_id,
       |    CAST(SUM(l.dist) AS BIGINT) AS adist
       |  FROM mem m JOIN icodes co ON m.vec_id = co.vec_id
       |  JOIN ilut l ON l.query_id = m.query_id
       |    AND co.m = l.m AND co.code = l.code
       |  GROUP BY 1, 2),
       |riv AS (SELECT query_id, vec_id FROM (
       |    SELECT query_id, vec_id, row_number() OVER (
       |      PARTITION BY query_id ORDER BY adist, vec_id) AS rn
       |    FROM vadc) WHERE rn <= 50)""".stripMargin

  /** One recall leg: LEFT-join a shortlist CTE to the truth. */
  private def recallLegSql(cte: String, method: String,
                           short: String): String =
    s"""$cte AS (SELECT '$method' AS method, t.query_id,
       |    CAST(SUM(CASE WHEN $short.vec_id IS NOT NULL THEN 1 ELSE 0 END)
       |      AS BIGINT) AS n_hits
       |  FROM tr t LEFT JOIN $short
       |    ON t.query_id = $short.query_id AND t.vec_id = $short.vec_id
       |  GROUP BY 2)""".stripMargin

  private lazy val annQualitySql: String = {
    val ids = graft.operators.TrainingOps.knnQueryIds.mkString(", ")
    s"""WITH base AS (
       |  SELECT vec_id, embedding,
       |    sqrt(${dotSql("embedding", "embedding")}) AS nrm
       |  FROM embeddings),
       |qv AS (SELECT vec_id AS query_id, embedding AS q_emb, nrm AS q_nrm
       |      FROM base WHERE vec_id IN ($ids)),
       |sims AS (
       |  SELECT qv.query_id, b.vec_id,
       |    ${dotSql("b.embedding", "qv.q_emb")} / (b.nrm * qv.q_nrm) AS sim
       |  FROM base b, qv WHERE b.vec_id <> qv.query_id),
       |tr AS (SELECT query_id, vec_id FROM (
       |    SELECT query_id, vec_id,
       |      rank() OVER (PARTITION BY query_id
       |        ORDER BY sim DESC, vec_id) AS rnk
       |    FROM sims) WHERE rnk <= 10),
       |${hammingSigCtes("he", "hs")},
       |${hammingQCte("hq", "hs", ids)},
       |hd AS (SELECT hq.query_id, hs.vec_id,
       |    CAST(${hammingDist("hs", "hq")} AS INTEGER) AS hamming
       |  FROM hs, hq WHERE hs.vec_id <> hq.query_id),
       |rh AS (SELECT query_id, vec_id FROM (
       |    SELECT query_id, vec_id,
       |      rank() OVER (PARTITION BY query_id
       |        ORDER BY hamming, vec_id) AS rnk
       |    FROM hd) WHERE rnk <= 50),
       |el AS (SELECT vec_id, i AS d, CAST(embedding[i] AS DOUBLE) AS x
       |  FROM embeddings, unnest(range(1, len(embedding)+1)) u(i)),
       |st AS (SELECT d, min(x) AS lo, max(x) AS hi FROM el GROUP BY d),
       |co AS (SELECT el.vec_id, el.d,
       |    CASE WHEN st.hi = st.lo THEN CAST(0 AS BIGINT)
       |      ELSE CAST(least(greatest(
       |        floor((el.x - st.lo) / (st.hi - st.lo) * 256.0),
       |        0.0), 255.0) AS BIGINT) END AS c
       |  FROM el JOIN st USING (d)),
       |qw AS (SELECT el.vec_id AS query_id, el.d,
       |    CAST(floor(el.x * ((st.hi - st.lo) / 256.0) * 1000000.0)
       |      AS BIGINT) AS w
       |  FROM el JOIN st USING (d) WHERE el.vec_id IN ($ids)),
       |sc AS (SELECT qw.query_id, co.vec_id,
       |    CAST(SUM(qw.w * co.c) AS BIGINT) AS sco
       |  FROM co JOIN qw USING (d) WHERE co.vec_id <> qw.query_id
       |  GROUP BY 1, 2),
       |rs AS (SELECT query_id, vec_id FROM (
       |    SELECT query_id, vec_id,
       |      row_number() OVER (PARTITION BY query_id
       |        ORDER BY sco DESC, vec_id) AS rn
       |    FROM sc) WHERE rn <= 50),
       |$pcCte,
       |${pqSqlCtes("i", pqMapIdentity("i"), ids)},
       |${ivfpqSqlCtes(ids)},
       |${recallLegSql("hr", "hamming1024", "rh")},
       |${recallLegSql("sr", "sq8_int", "rs")},
       |${recallLegSql("pr", "pq64_int", "irp")},
       |${recallLegSql("vr", "ivfpq_int", "riv")}
       |SELECT method, query_id, n_hits,
       |  CAST(n_hits AS DOUBLE) / 10.0 AS recall
       |FROM (SELECT * FROM hr UNION ALL SELECT * FROM sr
       |  UNION ALL SELECT * FROM pr UNION ALL SELECT * FROM vr)
       |ORDER BY method, query_id""".stripMargin
  }

  /** qe24 oracle: qe20's truth + two [[pqSqlCtes]] instances — the
    * identity layout and the variance-balanced permutation — joined
    * into the same recall-rows shape.
    */
  private lazy val opqPermuteSql: String = {
    val ids = graft.operators.TrainingOps.knnQueryIds.mkString(", ")
    s"""WITH base AS (
       |  SELECT vec_id, embedding,
       |    sqrt(${dotSql("embedding", "embedding")}) AS nrm
       |  FROM embeddings),
       |qv AS (SELECT vec_id AS query_id, embedding AS q_emb, nrm AS q_nrm
       |      FROM base WHERE vec_id IN ($ids)),
       |sims AS (
       |  SELECT qv.query_id, b.vec_id,
       |    ${dotSql("b.embedding", "qv.q_emb")} / (b.nrm * qv.q_nrm) AS sim
       |  FROM base b, qv WHERE b.vec_id <> qv.query_id),
       |tr AS (SELECT query_id, vec_id FROM (
       |    SELECT query_id, vec_id,
       |      rank() OVER (PARTITION BY query_id
       |        ORDER BY sim DESC, vec_id) AS rnk
       |    FROM sims) WHERE rnk <= 10),
       |$pcCte,
       |${pqSqlCtes("i", pqMapIdentity("i"), ids)},
       |${pqSqlCtes("o", pqMapVariance("o"), ids)},
       |${recallLegSql("pr", "pq64_int", "irp")},
       |${recallLegSql("or2", "pq64_opq_perm", "orp")}
       |SELECT method, query_id, n_hits,
       |  CAST(n_hits AS DOUBLE) / 10.0 AS recall
       |FROM (SELECT * FROM pr UNION ALL SELECT * FROM or2)
       |ORDER BY method, query_id""".stripMargin
  }

  /** qd47: per-language rollup of the encoder's before/after chars —
    * the same t0/t3 corpus CTEs as qd38, joined to the lang column,
    * compression as ONE division of the exact totals.
    */
  private lazy val bpeFertilitySql: String =
    s"""$bpeRounds3
       |SELECT d.lang, CAST(count(*) AS BIGINT) AS docs,
       |  CAST(SUM(len(t0.text)) AS BIGINT) AS chars_before,
       |  CAST(SUM(len(t3.text)) AS BIGINT) AS chars_after,
       |  CASE WHEN SUM(len(t0.text)) = 0 THEN 1.0
       |    ELSE CAST(SUM(len(t3.text)) AS DOUBLE)
       |      / CAST(SUM(len(t0.text)) AS DOUBLE)
       |  END AS corpus_compression
       |FROM t0 JOIN t3 USING (doc_id)
       |JOIN documents d ON t0.doc_id = d.doc_id
       |GROUP BY d.lang ORDER BY d.lang""".stripMargin

  private val hourlyStatsSql: String =
    "SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:00:00') AS hour, " +
      "event_type, count(*) AS n, " +
      "CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value " +
      "FROM events GROUP BY 1, 2 ORDER BY hour, event_type"

  private val q03Sql: String =
    "SELECT o.o_orderkey, c.c_name, o.o_totalprice FROM orders o " +
      "JOIN customer c ON o.o_custkey = c.c_custkey ORDER BY o.o_orderkey"

  private val topSpendersSql: String =
    "WITH s AS (SELECT event_type, user_id, " +
      "SUM(CAST(value AS DECIMAL(18,2))) AS spend_dec FROM events GROUP BY 1, 2), " +
      "r AS (SELECT event_type, user_id, " +
      "CAST(rank() OVER (PARTITION BY event_type ORDER BY spend_dec DESC, user_id) AS INTEGER) AS rnk, " +
      "CAST(spend_dec AS DOUBLE) AS spend FROM s) " +
      "SELECT event_type, user_id, rnk, spend FROM r WHERE rnk <= 5 " +
      "ORDER BY event_type, rnk, user_id"

  /** Gap sessionization: both engines floor epoch seconds before the
    * 30-minute gap compare (Spark's unix_timestamp truncates).
    */
  private val sessionizeSql: String =
    """WITH e AS (SELECT *, lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts FROM events),
      |f AS (SELECT *, CASE WHEN prev_ts IS NULL THEN 1
      |                     WHEN CAST(floor(epoch(ts)) AS BIGINT) - CAST(floor(epoch(prev_ts)) AS BIGINT) > 1800 THEN 1
      |                     ELSE 0 END AS new_session FROM e),
      |g AS (SELECT *, SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS session_id FROM f)
      |SELECT user_id, CAST(session_id AS INTEGER) AS session_id, count(*) AS n_events,
      |  strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
      |  strftime(max(ts), '%Y-%m-%d %H:%M:%S') AS session_end,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS session_value
      |FROM g GROUP BY user_id, session_id
      |ORDER BY user_id, session_id""".stripMargin

  /** Native session-window oracle, shared by batch qs10 and streaming
    * qs12 (identical computation through two execution paths). The
    * lag+cumsum CTE mirrors MergingSessions' semantics: strictly
    * > gap starts a session, end = last event + gap, all on
    * second-truncated timestamps.
    */
  private val sessionWindowSql: String =
    """WITH e AS (SELECT user_id, event_id, date_trunc('second', ts) AS tsec, value FROM events),
      |f AS (SELECT *, lag(tsec) OVER (PARTITION BY user_id ORDER BY tsec, event_id) AS prev_t FROM e),
      |g AS (SELECT *, CASE WHEN prev_t IS NULL THEN 1
      |                     WHEN CAST(floor(epoch(tsec)) AS BIGINT) - CAST(floor(epoch(prev_t)) AS BIGINT) > 1800 THEN 1
      |                     ELSE 0 END AS ns FROM f),
      |h AS (SELECT *, SUM(ns) OVER (PARTITION BY user_id ORDER BY tsec, event_id ROWS UNBOUNDED PRECEDING) AS sid FROM g)
      |SELECT user_id,
      |  strftime(min(tsec), '%Y-%m-%d %H:%M:%S') AS session_start,
      |  strftime(max(tsec) + INTERVAL 30 MINUTE, '%Y-%m-%d %H:%M:%S') AS session_end,
      |  count(*) AS n_events,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS session_value
      |FROM h GROUP BY user_id, sid
      |ORDER BY user_id, session_start""".stripMargin

  /** Shared CTE: per-doc distinct word 3-gram shingle sets as strings,
    * mirroring Dedup.tokens + gramStrings (docs under 3 tokens fold to
    * one whole-doc shingle). String identity on both sides means set
    * sizes — and therefore Jaccard values — carry no hash-collision
    * caveat.
    */
  private val shingleCte: String =
    """WITH toks AS (
      |  SELECT doc_id, list_filter(string_split(
      |    regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'), ' '),
      |    t -> t != '') AS t
      |  FROM documents),
      |sh AS (
      |  SELECT doc_id, list_distinct(
      |    CASE WHEN len(t) >= 3 THEN list_transform(range(1, len(t) - 1),
      |           i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])
      |         ELSE [array_to_string(t, ' ')] END) AS s
      |  FROM toks)""".stripMargin

  private val jaccardExpr: String =
    "CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) / " +
      "CAST(len(list_distinct(list_concat(a.s, b.s))) AS DOUBLE)"

  /** Exhaustive all-pairs oracle for the LSH-blocked near-dup query:
    * sound at gate scale (n^2/2 list intersections), which the
    * distributed side must match while never going all-pairs.
    */
  private val minhashPairsSql: String =
    s"""$shingleCte
       |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, $jaccardExpr AS jaccard
       |FROM sh a JOIN sh b ON a.doc_id < b.doc_id
       |WHERE $jaccardExpr >= 0.9
       |ORDER BY doc_a, doc_b""".stripMargin

  private val pairJaccardSql: String =
    s"""$shingleCte
       |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, $jaccardExpr AS jaccard
       |FROM sh a JOIN sh b ON b.doc_id = a.doc_id + 1
       |ORDER BY doc_a""".stripMargin

  /** Duplicate-cluster oracle: same exhaustive-jaccard edge set as
    * qd6, then a recursive CTE propagates the minimum reachable doc
    * id over symmetrized edges — min(lbl) per doc IS its connected
    * component's smallest member (UNION dedups, so the walk
    * terminates). Every doc keeps a row; singletons label themselves.
    */
  /** Connected components over the exhaustive-jaccard edge set as a
    * reusable CTE chain ending in `cl(doc_id, cluster)` — shared by
    * qd13/qd16 (the clusters themselves) and qd36 (the cluster-keyed
    * split).
    */
  private val componentsCte: String = {
    val cte = shingleCte.replaceFirst("WITH ", "WITH RECURSIVE ")
    s"""$cte,
       |e AS (
       |  SELECT a.doc_id AS src, b.doc_id AS dst
       |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
       |  WHERE $jaccardExpr >= 0.9),
       |edges AS (SELECT src, dst FROM e UNION ALL SELECT dst, src FROM e),
       |walk(id, lbl) AS (
       |  SELECT doc_id, doc_id FROM documents
       |  UNION
       |  SELECT edges.dst, walk.lbl FROM walk JOIN edges ON edges.src = walk.id),
       |cl AS (
       |  SELECT id AS doc_id, CAST(min(lbl) AS BIGINT) AS cluster
       |  FROM walk GROUP BY id)""".stripMargin
  }

  private val dupClustersSql: String =
    s"""$componentsCte
       |SELECT doc_id, cluster FROM cl ORDER BY doc_id""".stripMargin

  /** qd44: qd13's components + keep-longest representative (tie:
    * lowest doc_id); singleton clusters keep themselves.
    */
  private val clusterRepsSql: String =
    s"""$componentsCte,
       |lab AS (SELECT cl.doc_id, cl.cluster, d.n_chars
       |  FROM cl JOIN documents d USING (doc_id)),
       |rep AS (SELECT cluster, doc_id AS rep_id,
       |    row_number() OVER (PARTITION BY cluster
       |      ORDER BY n_chars DESC, doc_id) AS rn FROM lab)
       |SELECT lab.doc_id, lab.cluster, rep.rep_id,
       |  lab.doc_id = rep.rep_id AS is_rep
       |FROM lab JOIN rep ON lab.cluster = rep.cluster AND rep.rn = 1
       |ORDER BY lab.doc_id""".stripMargin

  /** qd36: split = fingerprint of the CLUSTER id (same polynomial
    * fold as qd12, digits are ASCII so codepoints == UTF-8 bytes),
    * so near-duplicates can never straddle train/test by
    * construction. DuckDB list_reduce seeds acc with the first
    * element — equal to Spark's h=0 fold since 0*31+b = b.
    */
  private val leakageSplitSql: String =
    s"""$componentsCte
       |SELECT doc_id, cluster,
       |  CASE WHEN list_reduce(
       |      list_transform(string_split(CAST(cluster AS VARCHAR), ''),
       |        c -> CAST(unicode(c) AS BIGINT)),
       |      (acc, x) -> (acc * 31 + x) % 2147483647) % 100 < 80
       |    THEN 'train' ELSE 'test' END AS split
       |FROM cl ORDER BY doc_id""".stripMargin

  /** qd67/qd68 oracle: exhaustive edit-distance truth behind two
    * SOUND prefilters (ed >= |Δlen|; 2·ed >= L1(charHist) under any
    * alphabet projection — each edit moves the multiset by at most
    * one removal plus one insertion), so neither can drop a
    * qualifying pair. The candidate CTE is MATERIALIZED as an
    * optimization fence: without it DuckDB reorders the O(n·m)
    * levenshtein ahead of the histogram prune (39 verified pairs vs
    * 6258 — 0.7 s vs 25 s at sf0.01); rows identical either way.
    * Blocking-independent truth, shared by both blocking geometries.
    */
  private val editNearDupsSql: String =
    """WITH h AS (
      |  SELECT doc_id, text, length(text) AS len,
      |    [length(lt) - length(replace(lt, chr(c), ''))
      |     FOR c IN [97,98,99,100,101,102,103,104,105,106,107,108,
      |               109,110,111,112,113,114,115,116,117,118,119,
      |               120,121,122,32,48,49,50,51,52,53,54,55,56,57]]
      |      AS hist
      |  FROM (SELECT doc_id, text, lower(text) AS lt FROM documents)),
      |cand AS MATERIALIZED (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |    a.text AS ta, b.text AS tb
      |  FROM h a JOIN h b ON a.doc_id < b.doc_id
      |   AND abs(a.len - b.len) <= 12
      |   AND list_sum(list_transform(list_zip(a.hist, b.hist),
      |         x -> abs(x[1] - x[2]))) <= 24)
      |SELECT doc_a, doc_b, edit_dist FROM (
      |  SELECT doc_a, doc_b,
      |    CAST(levenshtein(ta, tb) AS INTEGER) AS edit_dist
      |  FROM cand)
      |WHERE edit_dist <= 12
      |ORDER BY doc_a, doc_b""".stripMargin

  /** qd69/qs44 oracle: the edit-distance truth oriented batch(src19)
    * -> corpus behind the same sound prefilters as
    * [[editNearDupsSql]], rolled up to one best-partner verdict per
    * batch doc (smallest distance, tie lowest corpus id; NULL/false
    * when none within 12). Blocking-, storage- and batch-split-
    * independent, so the stored-index batch query and the streaming
    * gate share it.
    */
  private val editAdmissionSql: String =
    """WITH h AS (
      |  SELECT doc_id, source, text, length(text) AS len,
      |    [length(lt) - length(replace(lt, chr(c), ''))
      |     FOR c IN [97,98,99,100,101,102,103,104,105,106,107,108,
      |               109,110,111,112,113,114,115,116,117,118,119,
      |               120,121,122,32,48,49,50,51,52,53,54,55,56,57]]
      |      AS hist
      |  FROM (SELECT doc_id, source, text, lower(text) AS lt
      |        FROM documents)),
      |cand AS MATERIALIZED (
      |  SELECT a.doc_id AS did, b.doc_id AS cid, a.text AS ta,
      |    b.text AS tb
      |  FROM h a JOIN h b ON a.source = 'src19' AND b.source != 'src19'
      |   AND abs(a.len - b.len) <= 12
      |   AND list_sum(list_transform(list_zip(a.hist, b.hist),
      |         x -> abs(x[1] - x[2]))) <= 24),
      |v AS (SELECT did, cid,
      |    CAST(levenshtein(ta, tb) AS INTEGER) AS ed FROM cand),
      |best AS (SELECT did, cid, ed,
      |    row_number() OVER (PARTITION BY did ORDER BY ed, cid) AS rn
      |  FROM v WHERE ed <= 12)
      |SELECT d.doc_id, b.cid AS dup_of, b.ed AS edit_dist,
      |  b.cid IS NOT NULL AS is_dup
      |FROM documents d
      |LEFT JOIN (SELECT * FROM best WHERE rn = 1) b ON d.doc_id = b.did
      |WHERE d.source = 'src19'
      |ORDER BY d.doc_id""".stripMargin

  /** Decontamination oracle: same word-3-gram derivation as the
    * jaccard family (shingleCte), benchmark = src0 grams, corpus =
    * the rest; a doc is contaminated iff any gram matches.
    */
  private val decontaminateSql: String =
    s"""$shingleCte,
       |bg AS (
       |  SELECT DISTINCT unnest(s) AS g
       |  FROM sh JOIN documents USING (doc_id) WHERE source = 'src0'),
       |cg AS (
       |  SELECT sh.doc_id, unnest(sh.s) AS g
       |  FROM sh JOIN documents USING (doc_id) WHERE source <> 'src0')
       |SELECT DISTINCT doc_id FROM cg JOIN bg USING (g)
       |ORDER BY doc_id""".stripMargin

  /** DuckDB double dot product with the same sequential fold order as
    * the Spark side's aggregate(zip_with(...)).
    */
  private def dotSql(a: String, b: String): String =
    s"list_reduce(list_transform(list_zip($a, $b), " +
      s"x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)), (acc, v) -> acc + v)"

  /** Portable 31-bit SimHash oracle, generated to mirror
    * Dedup.simhashPortableFrame bit for bit: tokenize exactly like
    * qd9's oracle, hash each token with the same rolling 31-poly fold
    * as qd5's (tokens are pure [a-z0-9] ASCII, so bytes ==
    * codepoints), sign-sum each of the 31 bits, pack. Zero-token docs
    * fall out of the unnest and re-enter via LEFT JOIN as simhash 0.
    */
  private val simhashSql: String = {
    val sums = (0 until 31).map(i =>
      s"SUM(CASE WHEN ((h >> $i) & 1) = 1 THEN 1 ELSE -1 END) AS c$i")
      .mkString(", ")
    val pack = (0 until 31).map(i =>
      s"(CASE WHEN c$i > 0 THEN ${1L << i} ELSE 0 END)").mkString(" + ")
    s"""WITH toks AS (
       |  SELECT doc_id, unnest(list_filter(string_split(
       |    regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'), ' '),
       |    t -> t != '')) AS token
       |  FROM documents),
       |h AS (
       |  SELECT doc_id, list_reduce(list_transform(string_split(token, ''),
       |    c -> CAST(unicode(c) AS BIGINT)),
       |    (acc, x) -> (acc * 31 + x) % 2147483647) AS h
       |  FROM toks),
       |c AS (SELECT doc_id, $sums FROM h GROUP BY doc_id),
       |p AS (SELECT doc_id, $pack AS sh FROM c)
       |SELECT d.doc_id, CAST(COALESCE(p.sh, 0) AS BIGINT) AS simhash
       |FROM documents d LEFT JOIN p USING (doc_id)
       |ORDER BY d.doc_id""".stripMargin
  }

  /** Exhaustive all-pairs cosine near-dups — sound at gate scale
    * (n^2/2 dot folds), which the LSH-blocked side must match; at the
    * declared 1-bit-band geometry a qualifying pair escapes blocking
    * w.p. ~5e-7 (verified equal on the gate corpora). Same dot-fold
    * parity as knnSql.
    */
  private val nearDupsSql: String =
    s"""WITH base AS (
       |  SELECT vec_id, embedding,
       |    sqrt(${dotSql("embedding", "embedding")}) AS nrm
       |  FROM embeddings),
       |p AS (
       |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       |    ${dotSql("a.embedding", "b.embedding")} / (a.nrm * b.nrm) AS sim
       |  FROM base a JOIN base b ON a.vec_id < b.vec_id)
       |SELECT id_a, id_b, sim FROM p WHERE sim >= 0.3
       |ORDER BY id_a, id_b""".stripMargin

  /** qe9 oracle: pool = exact top-20 cosine for query 0 (ties on
    * vec_id), pairwise pool sims, then the 5 greedy MMR rounds
    * unrolled — each sel_i picks the remaining candidate maximizing
    * `0.7*rel - (1-0.7)*max(sim to sel_1..sel_{i-1})`. All doubles
    * derive from the knnSql folds, so the Spark driver-greedy over
    * the collected matrix reproduces them bit for bit.
    */
  private lazy val mmrSql: String = {
    val lambda = 0.7
    def prevIds(i: Int) =
      (1 until i).map(j => s"SELECT vec_id FROM sel$j").mkString(" UNION ALL ")
    val rounds = (1 to 5).map { i =>
      if (i == 1)
        s"""sel1 AS (SELECT vec_id, rel,
           |    $lambda * rel - (CAST(1 AS DOUBLE) - $lambda) * 0.0 AS score
           |  FROM pool ORDER BY score DESC, vec_id LIMIT 1)""".stripMargin
      else
        s"""sel$i AS (SELECT vec_id, rel, score FROM (
           |  SELECT p.vec_id, p.rel, $lambda * p.rel - (CAST(1 AS DOUBLE) - $lambda) * (
           |      SELECT max(s2.s) FROM sims s2 WHERE s2.ia = p.vec_id
           |        AND s2.ib IN (${prevIds(i)})) AS score
           |  FROM pool p WHERE p.vec_id NOT IN (${prevIds(i)}))
           |  ORDER BY score DESC, vec_id LIMIT 1)""".stripMargin
    }.mkString(",\n")
    val out = (1 to 5).map(i =>
      s"SELECT CAST($i AS INTEGER) AS sel_rank, vec_id, rel, " +
        s"score AS mmr_score FROM sel$i").mkString("\nUNION ALL ")
    s"""WITH b AS (SELECT vec_id, embedding,
       |    sqrt(${dotSql("embedding", "embedding")}) AS nrm
       |  FROM embeddings),
       |q AS (SELECT embedding AS q_emb, nrm AS q_nrm FROM b
       |  WHERE vec_id = 0),
       |pool AS (SELECT b.vec_id, b.embedding, b.nrm,
       |    ${dotSql("b.embedding", "q.q_emb")} / (b.nrm * q.q_nrm) AS rel
       |  FROM b, q WHERE b.vec_id != 0
       |  ORDER BY rel DESC, vec_id LIMIT 20),
       |sims AS (SELECT a.vec_id AS ia, b2.vec_id AS ib,
       |    ${dotSql("a.embedding", "b2.embedding")} / (a.nrm * b2.nrm) AS s
       |  FROM pool a JOIN pool b2 ON a.vec_id != b2.vec_id),
       |$rounds
       |$out
       |ORDER BY sel_rank""".stripMargin
  }

  /** qd70 oracle: the unigram-LM EM step, fully recomputed — the
    * whitespace word-frequency table, the overlapping ≤4-char seed
    * windows, micro-nat scores via the shared floor(ln·10⁶ + 0.5)
    * construction, and the Viterbi DP UNROLLED over word positions
    * (the bpeRounds3 move; 16 steps is 2× the corpus-measured max
    * word length of 8, so a longer regenerated word fails loudly as
    * a row-count mismatch instead of silently truncating). Each step
    * carries a 4-deep (score, segmentation) history and extends by
    * the piece lengths valid at that position; invalid extensions
    * ride the shared BIGINT sentinel (never within 10⁶× of a real
    * path score); ties resolve to the longest last piece by CASE
    * order, mirroring the operator's `t > bt` rule exactly.
    */
  private object UnigramSql {
    val sent: String = graft.operators.UnigramLm.Sentinel.toString
    val sentBig: String = s"CAST($sent AS BIGINT)"
    val maxSteps = 16

    /** One unrolled Viterbi step: extend `prefix${j-1}`'s 4-deep
      * (score, segmentation) history by the piece lengths valid at
      * position j, scores looked up in `pieces`. `fallback` is what a
      * lookup miss coalesces to — the sentinel in every chain since
      * the MinSeedCount cap: a capped-out or pruned piece must be a
      * non-candidate (single chars are cap-exempt, so a valid path
      * always exists and the sentinel never wins).
      */
    def step(prefix: String, pieces: String, fallback: String,
             j: Int): String = {
      val ts = 1 to math.min(4, j)
      val joins = ts.map { t =>
        s"    LEFT JOIN $pieces ${prefix}p$t ON ${prefix}p$t.piece = " +
          s"substring(d.word, ${j - t + 1}, $t)"
      }.mkString("\n")
      def cand(t: Int): String =
        if (t <= j) s"d.b${t - 1} + COALESCE(${prefix}p$t.unat, $fallback)"
        else s"CAST($sent AS BIGINT)"
      def pieceStr(t: Int) = s"substring(d.word, ${j - t + 1}, $t)"
      def ext(t: Int) =
        s"CASE WHEN d.s${t - 1} = '' THEN ${pieceStr(t)} " +
          s"ELSE d.s${t - 1} || '|' || ${pieceStr(t)} END"
      s"""$prefix$j AS MATERIALIZED (
         |  SELECT word, c, nb AS b0, ns AS s0, nb1 AS b1, ns1 AS s1,
         |    nb2 AS b2, ns2 AS s2, nb3 AS b3, ns3 AS s3
         |  FROM (
         |    SELECT d.word, d.c,
         |      ${cand(1)} AS c1, ${cand(2)} AS c2,
         |      ${cand(3)} AS c3, ${cand(4)} AS c4,
         |      greatest(c1, c2, c3, c4) AS nb,
         |      CASE WHEN c4 = nb THEN ${if (4 <= j) ext(4) else "''"}
         |           WHEN c3 = nb THEN ${if (3 <= j) ext(3) else "''"}
         |           WHEN c2 = nb THEN ${if (2 <= j) ext(2) else "''"}
         |           ELSE ${ext(1)} END AS ns,
         |      d.b0 AS nb1, d.s0 AS ns1, d.b1 AS nb2, d.s1 AS ns2,
         |      d.b2 AS nb3, d.s2 AS ns3
         |    FROM $prefix${j - 1} d
         |$joins
         |    WHERE length(d.word) >= $j))""".stripMargin
    }

    def d0(prefix: String): String =
      s"""${prefix}0 AS MATERIALIZED (SELECT word, c,
         |    CAST(0 AS BIGINT) AS b0, '' AS s0,
         |    CAST($sent AS BIGINT) AS b1, '' AS s1,
         |    CAST($sent AS BIGINT) AS b2, '' AS s2,
         |    CAST($sent AS BIGINT) AS b3, '' AS s3 FROM dw)""".stripMargin

    def chain(prefix: String, pieces: String, fallback: String): String =
      (d0(prefix) +: (1 to maxSteps).map(step(prefix, pieces, fallback, _)))
        .mkString(",\n")

    def fin(name: String, prefix: String): String =
      s"$name AS (\n" + (1 to maxSteps).map(j =>
        s"  SELECT word, c, s0 AS seg FROM $prefix$j WHERE length(word) = $j")
        .mkString("\n  UNION ALL\n") + ")"

    /** The shared trainer body: word frequencies, seed windows,
      * micro-nat scores, seed-vocab Viterbi, usage re-estimation, and
      * the drop ranking — everything through `sc`/`rk`.
      */
    val trainerCtes: String = {
      val windows = (1 to 4).map { l =>
        s"""  SELECT unnest(list_transform(range(1, length(word) - $l + 2),
           |      i -> substring(word, CAST(i AS INTEGER), $l))) AS piece, c
           |  FROM dw WHERE length(word) >= $l""".stripMargin
      }.mkString("\n  UNION ALL\n")
      s"""dw AS MATERIALIZED (
         |  SELECT word, CAST(count(*) AS BIGINT) AS c
         |  FROM (SELECT unnest(string_split_regex(trim(text), '\\s+')) AS word
         |        FROM documents WHERE length(trim(text)) > 0)
         |  WHERE word <> '' GROUP BY 1),
         |pw AS (
         |$windows),
         |pc AS (SELECT piece, CAST(SUM(c) AS BIGINT) AS seed_count
         |       FROM pw GROUP BY 1),
         |pk AS (SELECT piece, seed_count FROM pc
         |       WHERE seed_count >= ${graft.operators.UnigramLm.MinSeedCount}
         |          OR length(piece) = 1),
         |tot AS (SELECT CAST(SUM(seed_count) AS BIGINT) AS t FROM pk),
         |p AS MATERIALIZED (SELECT piece, seed_count,
         |    CAST(floor(ln(CAST(seed_count AS DOUBLE) / CAST(t AS DOUBLE))
         |      * 1000000.0 + 0.5) AS BIGINT) AS unat
         |  FROM pk, tot),
         |${chain("d", "p", sentBig)},
         |${fin("fin", "d")},
         |us AS (SELECT unnest(string_split(seg, '|')) AS piece, c FROM fin),
         |ug AS (SELECT piece, CAST(SUM(c) AS BIGINT) AS usage
         |       FROM us GROUP BY 1),
         |tu AS (SELECT CAST(SUM(usage) AS BIGINT) AS t FROM ug),
         |sc AS MATERIALIZED (
         |  SELECT p.piece, p.seed_count, p.unat AS seed_unat, u.usage,
         |    CAST(floor(ln(CAST(u.usage AS DOUBLE) / CAST(tu.t AS DOUBLE))
         |      * 1000000.0 + 0.5) AS BIGINT) AS new_unat
         |  FROM p JOIN ug u ON p.piece = u.piece, tu),
         |rk AS (SELECT piece, row_number() OVER (ORDER BY usage, piece) AS rn,
         |    count(*) OVER () AS nm
         |  FROM sc WHERE length(piece) > 1)""".stripMargin
    }

    /** Kept vocabulary of the round whose M-step tables are
      * `sc`/`rk`/`tu` (suffixed), then the pruned-vocab Viterbi chain
      * over it: kept pieces at re-estimated scores, plus every corpus
      * single char the round never used at the OOV floor — exactly
      * the operator's [[graft.operators.UnigramLm]] `vocabFrom`
      * construction. Dropped pieces coalesce to the sentinel in the
      * chain, mirroring the non-strict DP's map-miss skip.
      */
    def kvChain(sfx: String, kvName: String, chainPrefix: String,
                finName: String): String =
      s"""$kvName AS MATERIALIZED (
         |  SELECT s.piece, s.new_unat AS unat
         |  FROM sc$sfx s LEFT JOIN rk$sfx r ON s.piece = r.piece
         |  WHERE length(s.piece) = 1 OR r.rn > r.nm // 5
         |  UNION ALL
         |  SELECT a.piece,
         |    CAST(floor(ln(CAST(1 AS DOUBLE) / CAST(tu$sfx.t AS DOUBLE))
         |      * 1000000.0 + 0.5) AS BIGINT) AS unat
         |  FROM (SELECT DISTINCT piece FROM pc WHERE length(piece) = 1) a,
         |    tu$sfx
         |  WHERE a.piece NOT IN (SELECT piece FROM sc$sfx)),
         |${chain(chainPrefix, kvName, sentBig)},
         |${fin(finName, chainPrefix)}""".stripMargin

    /** One M-step over the segmentation in `finTbl`: usage counts,
      * usage total, micro-nat re-scores, and the drop ranking —
      * trainerCtes' `us`→`rk` block with suffixed names, reusable per
      * round.
      */
    def mStep(finTbl: String, sfx: String): String =
      s"""ug$sfx AS (SELECT piece, CAST(SUM(c) AS BIGINT) AS usage
         |  FROM (SELECT unnest(string_split(seg, '|')) AS piece, c
         |        FROM $finTbl)
         |  GROUP BY 1),
         |tu$sfx AS (SELECT CAST(SUM(usage) AS BIGINT) AS t FROM ug$sfx),
         |sc$sfx AS MATERIALIZED (
         |  SELECT g.piece, g.usage,
         |    CAST(floor(ln(CAST(g.usage AS DOUBLE) / CAST(t.t AS DOUBLE))
         |      * 1000000.0 + 0.5) AS BIGINT) AS new_unat
         |  FROM ug$sfx g, tu$sfx t),
         |rk$sfx AS (SELECT piece,
         |    row_number() OVER (ORDER BY usage, piece) AS rn,
         |    count(*) OVER () AS nm
         |  FROM sc$sfx WHERE length(piece) > 1)""".stripMargin

    /** The round's declared output: every used piece with its usage,
      * re-estimated score, and the exact-integer keep verdict.
      */
    def roundSelect(sfx: String): String =
      s"""SELECT s.piece, s.usage, s.new_unat,
         |  (length(s.piece) = 1 OR r.rn > r.nm // 5) AS kept
         |FROM sc$sfx s LEFT JOIN rk$sfx r ON s.piece = r.piece
         |ORDER BY s.piece""".stripMargin

    /** Round-1 kept vocabulary (`kv`) and the pruned-vocab chain over
      * it (`fin2`) — the shared middle of qd71 (encode), qd72 (round-2
      * EM) and qd73 (which chains once more).
      */
    val keptVocabCtes: String = kvChain("", "kv", "e", "fin2")
  }

  private lazy val unigramLmSql: String =
    s"""WITH ${UnigramSql.trainerCtes}
       |SELECT s.piece, s.seed_count, s.seed_unat, s.usage, s.new_unat,
       |  (length(s.piece) = 1 OR r.rn > r.nm // 5) AS kept
       |FROM sc s LEFT JOIN rk r ON s.piece = r.piece
       |ORDER BY s.piece""".stripMargin

  /** qd71 oracle: the trainer chain's kept vocabulary (re-estimated
    * scores) drives a SECOND unrolled Viterbi over the same word
    * table — dropped pieces coalesce to the sentinel, so they are
    * non-candidates exactly like the operator's map-miss skip — then
    * per-word piece counts roll up to (doc, word)-grain token
    * accounting. Wordless docs pin fertility 1.0 (the qd38 empty-doc
    * convention).
    */
  private lazy val unigramEncodeSql: String = {
    s"""WITH ${UnigramSql.trainerCtes},
       |${UnigramSql.keptVocabCtes},
       |pcount AS (SELECT word,
       |    CAST(len(string_split(seg, '|')) AS BIGINT) AS np FROM fin2),
       |dwc AS (
       |  SELECT doc_id, word, CAST(count(*) AS BIGINT) AS n
       |  FROM (SELECT doc_id,
       |          unnest(string_split_regex(trim(text), '\\s+')) AS word
       |        FROM documents WHERE length(trim(text)) > 0)
       |  WHERE word <> '' GROUP BY 1, 2),
       |agg AS (
       |  SELECT doc_id, CAST(SUM(n) AS BIGINT) AS n_words,
       |    CAST(SUM(n * np) AS BIGINT) AS n_pieces,
       |    CAST(SUM(n * length(word)) AS BIGINT) AS n_chars
       |  FROM dwc JOIN pcount USING (word) GROUP BY 1)
       |SELECT d.doc_id,
       |  CAST(COALESCE(a.n_words, 0) AS BIGINT) AS n_words,
       |  CAST(COALESCE(a.n_pieces, 0) AS BIGINT) AS n_pieces,
       |  CAST(COALESCE(a.n_chars, 0) AS BIGINT) AS n_chars,
       |  CASE WHEN COALESCE(a.n_words, 0) = 0 THEN 1.0
       |    ELSE CAST(a.n_pieces AS DOUBLE) / CAST(a.n_words AS DOUBLE)
       |  END AS fertility
       |FROM documents d LEFT JOIN agg a USING (doc_id)
       |ORDER BY d.doc_id""".stripMargin
  }

  /** qd72 oracle: EM round 2 — the round-1 trainer chain, its kept
    * vocabulary, the pruned-vocab Viterbi re-segmentation (all shared
    * with qd71 via [[UnigramSql.keptVocabCtes]]), then the M-step
    * re-estimation and drop ranking applied to the ROUND-2 usage
    * counts (the same exact-integer rules as round 1's `sc`/`rk`).
    */
  private lazy val unigramLm2Sql: String =
    s"""WITH ${UnigramSql.trainerCtes},
       |${UnigramSql.keptVocabCtes},
       |${UnigramSql.mStep("fin2", "2")}
       |${UnigramSql.roundSelect("2")}""".stripMargin

  /** qd73 oracle: EM round 3 — qd72's whole chain (trainer, kept
    * vocab, round-2 segmentation + M-step), then round 2's kept
    * vocabulary drives a THIRD unrolled Viterbi and the same M-step
    * rules over its usage. Every chain/shared CTE MATERIALIZED (the
    * qd70 fence rule — three 16-step chains would otherwise
    * re-evaluate exponentially).
    */
  private lazy val unigramLm3Sql: String =
    s"""WITH ${UnigramSql.trainerCtes},
       |${UnigramSql.keptVocabCtes},
       |${UnigramSql.mStep("fin2", "2")},
       |${UnigramSql.kvChain("2", "kv2", "g", "fin3")},
       |${UnigramSql.mStep("fin3", "3")}
       |${UnigramSql.roundSelect("3")}""".stripMargin

  /** qd74 oracle: qd73's full trainer chain (rounds 1–3), then round
    * 3's kept vocabulary drives a FOURTH unrolled Viterbi (the qd71
    * encode pattern at the final vocab) and the per-word piece counts
    * roll up through (doc, word) grain to per-LANGUAGE token
    * accounting. Every chain/shared CTE MATERIALIZED (the qd70 fence
    * rule — four 16-step chains re-evaluate exponentially otherwise).
    */
  private lazy val unigramEncode3Sql: String =
    s"""WITH ${UnigramSql.trainerCtes},
       |${UnigramSql.keptVocabCtes},
       |${UnigramSql.mStep("fin2", "2")},
       |${UnigramSql.kvChain("2", "kv2", "g", "fin3")},
       |${UnigramSql.mStep("fin3", "3")},
       |${UnigramSql.kvChain("3", "kv3", "h", "fin4")},
       |pcount AS (SELECT word,
       |    CAST(len(string_split(seg, '|')) AS BIGINT) AS np FROM fin4),
       |dwc AS (
       |  SELECT doc_id, word, CAST(count(*) AS BIGINT) AS n
       |  FROM (SELECT doc_id,
       |          unnest(string_split_regex(trim(text), '\\s+')) AS word
       |        FROM documents WHERE length(trim(text)) > 0)
       |  WHERE word <> '' GROUP BY 1, 2),
       |agg AS (
       |  SELECT doc_id, CAST(SUM(n) AS BIGINT) AS n_words,
       |    CAST(SUM(n * np) AS BIGINT) AS n_pieces,
       |    CAST(SUM(n * length(word)) AS BIGINT) AS n_chars
       |  FROM dwc JOIN pcount USING (word) GROUP BY 1)
       |SELECT lang, docs, n_words, n_pieces, n_chars,
       |  CASE WHEN n_words = 0 THEN 1.0
       |    ELSE CAST(n_pieces AS DOUBLE) / CAST(n_words AS DOUBLE)
       |  END AS fertility
       |FROM (
       |  SELECT d.lang, CAST(count(*) AS BIGINT) AS docs,
       |    CAST(SUM(COALESCE(a.n_words, 0)) AS BIGINT) AS n_words,
       |    CAST(SUM(COALESCE(a.n_pieces, 0)) AS BIGINT) AS n_pieces,
       |    CAST(SUM(COALESCE(a.n_chars, 0)) AS BIGINT) AS n_chars
       |  FROM documents d LEFT JOIN agg a USING (doc_id)
       |  GROUP BY d.lang)
       |ORDER BY lang""".stripMargin

  /** qd75 oracle: rebuild-on-the-grown-corpus truth for the published
    * edit index. The admission chain (qd69's oracle prefilters +
    * exhaustive threshold DP) decides which src19 docs were admitted;
    * the grown corpus is everything else plus those survivors; each
    * doc's signature fields and window count re-derive from the
    * geometry constants (len, len div BucketWidth, and
    * len−SegWidth+1 windows for docs long enough to emit any). A
    * green hash therefore proves the STORE serves batch N+1 exactly
    * the from-scratch index of the grown corpus (the qd57 claim).
    */
  private lazy val editPublishSql: String = {
    val md = graft.operators.EditJoin.MaxDist
    val segW = graft.operators.EditJoin.SegWidth
    val bw = graft.operators.EditJoin.BucketWidth
    val minWin = (md + 1) * segW - md
    s"""WITH h AS (
       |  SELECT doc_id, source, text, length(text) AS len,
       |    [length(lt) - length(replace(lt, chr(c), ''))
       |     FOR c IN [97,98,99,100,101,102,103,104,105,106,107,108,
       |               109,110,111,112,113,114,115,116,117,118,119,
       |               120,121,122,32,48,49,50,51,52,53,54,55,56,57]]
       |      AS hist
       |  FROM (SELECT doc_id, source, text, lower(text) AS lt
       |        FROM documents)),
       |cand AS MATERIALIZED (
       |  SELECT a.doc_id AS did, a.text AS ta, b.text AS tb
       |  FROM h a JOIN h b ON a.source = 'src19' AND b.source != 'src19'
       |   AND abs(a.len - b.len) <= $md
       |   AND list_sum(list_transform(list_zip(a.hist, b.hist),
       |         x -> abs(x[1] - x[2]))) <= ${2 * md}),
       |edd AS (SELECT DISTINCT did FROM cand
       |        WHERE levenshtein(ta, tb) <= $md),
       |grown AS (
       |  SELECT doc_id, text FROM documents WHERE source <> 'src19'
       |  UNION ALL
       |  SELECT doc_id, text FROM documents
       |  WHERE source = 'src19'
       |    AND doc_id NOT IN (SELECT did FROM edd))
       |SELECT doc_id, CAST(length(text) AS INTEGER) AS len,
       |  CAST(length(text) // $bw AS BIGINT) AS bkt,
       |  CAST(CASE WHEN length(text) >= $minWin
       |    THEN length(text) - ${segW - 1} ELSE 0 END AS BIGINT)
       |    AS n_windows
       |FROM grown ORDER BY doc_id""".stripMargin
  }

  /** qd76/qs48 oracle: the SEQUENTIAL two-generation edit-admission
    * truth. Generation 1 (even src19 doc_ids) is admitted against the
    * corpus exactly as editAdmissionSql does; the GROWN side (corpus ∪
    * gen-1 survivors) then receives generation 2 (odd src19 doc_ids)
    * through the same prefiltered-exhaustive chain. Batch-2 verdicts
    * therefore depend on batch-1 outcomes — the order-DEPENDENT
    * composition the order-free per-gate oracles cannot express
    * (VERDICT r16 #1/#4). Every shared/chained CTE is MATERIALIZED
    * (the qd67 DP fence + qd70 inlining rule).
    */
  private lazy val editSeqSql: String = {
    val md = graft.operators.EditJoin.MaxDist
    val hist =
      """[length(lt) - length(replace(lt, chr(c), ''))
        |     FOR c IN [97,98,99,100,101,102,103,104,105,106,107,108,
        |               109,110,111,112,113,114,115,116,117,118,119,
        |               120,121,122,32,48,49,50,51,52,53,54,55,56,57]]""".stripMargin
    // gen split: portable fingerprint of the doc_id's decimal digits,
    // mod 2 — qd36's list_reduce construction verbatim (digits are
    // ASCII so codepoints == bytes)
    val gfp =
      """list_reduce(list_transform(
        |      string_split(CAST(doc_id AS VARCHAR), ''),
        |      c -> CAST(unicode(c) AS BIGINT)),
        |      (acc, x) -> (acc * 31 + x) % 2147483647) % 2""".stripMargin
    s"""WITH h AS MATERIALIZED (
       |  SELECT doc_id, source, text, length(text) AS len,
       |    $gfp AS gpar,
       |    $hist
       |      AS hist
       |  FROM (SELECT doc_id, source, text, lower(text) AS lt
       |        FROM documents)),
       |cand1 AS MATERIALIZED (
       |  SELECT a.doc_id AS did, b.doc_id AS cid, a.text AS ta,
       |    b.text AS tb
       |  FROM h a JOIN h b ON a.source = 'src19' AND a.gpar = 0
       |   AND b.source != 'src19'
       |   AND abs(a.len - b.len) <= $md
       |   AND list_sum(list_transform(list_zip(a.hist, b.hist),
       |         x -> abs(x[1] - x[2]))) <= ${2 * md}),
       |v1 AS (SELECT did, cid,
       |    CAST(levenshtein(ta, tb) AS INTEGER) AS ed FROM cand1),
       |best1 AS (SELECT did, cid, ed,
       |    row_number() OVER (PARTITION BY did ORDER BY ed, cid) AS rn
       |  FROM v1 WHERE ed <= $md),
       |ver1 AS MATERIALIZED (
       |  SELECT d.doc_id, b.cid AS dup_of, b.ed AS edit_dist,
       |    b.cid IS NOT NULL AS is_dup
       |  FROM h d
       |  LEFT JOIN (SELECT * FROM best1 WHERE rn = 1) b
       |    ON d.doc_id = b.did
       |  WHERE d.source = 'src19' AND d.gpar = 0),
       |hg AS MATERIALIZED (
       |  SELECT * FROM h WHERE source <> 'src19'
       |  UNION ALL
       |  SELECT h.* FROM h JOIN ver1 ON h.doc_id = ver1.doc_id
       |  WHERE NOT ver1.is_dup),
       |cand2 AS MATERIALIZED (
       |  SELECT a.doc_id AS did, b.doc_id AS cid, a.text AS ta,
       |    b.text AS tb
       |  FROM h a JOIN hg b ON a.source = 'src19' AND a.gpar = 1
       |   AND abs(a.len - b.len) <= $md
       |   AND list_sum(list_transform(list_zip(a.hist, b.hist),
       |         x -> abs(x[1] - x[2]))) <= ${2 * md}),
       |v2 AS (SELECT did, cid,
       |    CAST(levenshtein(ta, tb) AS INTEGER) AS ed FROM cand2),
       |best2 AS (SELECT did, cid, ed,
       |    row_number() OVER (PARTITION BY did ORDER BY ed, cid) AS rn
       |  FROM v2 WHERE ed <= $md),
       |ver2 AS (
       |  SELECT d.doc_id, b.cid AS dup_of, b.ed AS edit_dist,
       |    b.cid IS NOT NULL AS is_dup
       |  FROM h d
       |  LEFT JOIN (SELECT * FROM best2 WHERE rn = 1) b
       |    ON d.doc_id = b.did
       |  WHERE d.source = 'src19' AND d.gpar = 1)
       |SELECT doc_id, CAST(1 AS INTEGER) AS gen, dup_of, edit_dist,
       |  is_dup FROM ver1
       |UNION ALL
       |SELECT doc_id, CAST(2 AS INTEGER) AS gen, dup_of, edit_dist,
       |  is_dup FROM ver2
       |ORDER BY doc_id""".stripMargin
  }

  /** qd77 oracle: the end-to-end curation pipeline — the five stage
    * oracles chained as MATERIALIZED CTEs over the non-src0 pool
    * (src0 is the held-out benchmark). The near-dup edge set uses the
    * exact gram-equi-join Jaccard ci/(|A|+|B|−ci) — identical values
    * to the list_intersect form (both count distinct shared grams)
    * at relational speed; the component walk / representative /
    * quota constructions are the qd13/qd44/qd31 oracles verbatim,
    * re-seeded from each stage's survivor set.
    */
  private val curationPipelineSql: String =
    """WITH RECURSIVE toks AS (
      |  SELECT doc_id, list_filter(string_split(
      |    regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'), ' '),
      |    t -> t != '') AS t
      |  FROM documents),
      |sh AS MATERIALIZED (
      |  SELECT doc_id, list_distinct(
      |    CASE WHEN len(t) >= 3 THEN list_transform(range(1, len(t) - 1),
      |           i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])
      |         ELSE [array_to_string(t, ' ')] END) AS s
      |  FROM toks),
      |pool AS (SELECT * FROM documents WHERE source <> 'src0'),
      |p AS (SELECT source,
      |    CAST(floor(quantile_cont(n_chars, 0.05) * 1000000.0 + 0.5)
      |      AS BIGINT) / 1000000.0 AS p05,
      |    CAST(floor(quantile_cont(n_chars, 0.95) * 1000000.0 + 0.5)
      |      AS BIGINT) / 1000000.0 AS p95
      |  FROM pool GROUP BY source),
      |c AS (SELECT doc_id, row_number() OVER (
      |    PARTITION BY text ORDER BY doc_id) AS rn FROM pool),
      |tkc AS (SELECT doc_id,
      |    CASE WHEN length(trim(text)) = 0 THEN 0 ELSE
      |      CAST(len(regexp_split_to_array(trim(text), '\s+'))
      |        AS INTEGER) END AS n_tokens
      |  FROM pool),
      |kept AS MATERIALIZED (
      |  SELECT d.doc_id FROM pool d
      |  JOIN p ON d.source = p.source
      |  JOIN c ON d.doc_id = c.doc_id
      |  JOIN tkc ON d.doc_id = tkc.doc_id
      |  WHERE c.rn = 1 AND d.n_chars >= p.p05 AND d.n_chars <= p.p95
      |    AND tkc.n_tokens >= 30),
      |kg AS MATERIALIZED (
      |  SELECT sh.doc_id, len(sh.s) AS sz, unnest(sh.s) AS g
      |  FROM sh JOIN kept USING (doc_id)),
      |e AS (SELECT a.doc_id AS src, b.doc_id AS dst
      |  FROM kg a JOIN kg b ON a.g = b.g AND a.doc_id < b.doc_id
      |  GROUP BY a.doc_id, b.doc_id, a.sz, b.sz
      |  HAVING CAST(count(*) AS DOUBLE)
      |    / CAST(a.sz + b.sz - count(*) AS DOUBLE) >= 0.9),
      |edges AS (SELECT src, dst FROM e UNION ALL SELECT dst, src FROM e),
      |walk(id, lbl) AS (
      |  SELECT doc_id, doc_id FROM kept
      |  UNION
      |  SELECT edges.dst, walk.lbl FROM walk JOIN edges ON edges.src = walk.id),
      |cl AS (SELECT id AS doc_id, CAST(min(lbl) AS BIGINT) AS cluster
      |  FROM walk GROUP BY id),
      |lab AS (SELECT cl.doc_id, cl.cluster, d.n_chars
      |  FROM cl JOIN documents d USING (doc_id)),
      |rep AS (SELECT cluster, doc_id AS rep_id,
      |    row_number() OVER (PARTITION BY cluster
      |      ORDER BY n_chars DESC, doc_id) AS rn FROM lab),
      |reps AS MATERIALIZED (SELECT rep_id AS doc_id FROM rep WHERE rn = 1),
      |g5 AS MATERIALIZED (
      |  SELECT doc_id, unnest(list_distinct(list_transform(
      |    range(1, len(t) - 3), i -> array_to_string(t[i:i+4], ' ')))) AS g
      |  FROM toks WHERE len(t) >= 5),
      |bg AS MATERIALIZED (
      |  SELECT DISTINCT g5.g
      |  FROM g5 JOIN documents d USING (doc_id) WHERE d.source = 'src0'),
      |cg AS (SELECT g5.doc_id, g5.g FROM g5 JOIN reps USING (doc_id)),
      |contaminated AS (SELECT DISTINCT doc_id FROM cg JOIN bg USING (g)),
      |clean AS MATERIALIZED (SELECT doc_id FROM reps
      |  WHERE doc_id NOT IN (SELECT doc_id FROM contaminated)),
      |cd AS MATERIALIZED (
      |  SELECT d.* FROM documents d JOIN clean USING (doc_id)),
      |fp AS (SELECT doc_id, lang,
      |    CAST(CASE WHEN length(text) = 0 THEN 0 ELSE
      |      list_reduce(list_transform(string_split(text, ''),
      |        ch -> CAST(unicode(ch) AS BIGINT)),
      |        (acc, x) -> (acc * 31 + x) % 2147483647) END
      |      AS BIGINT) AS f
      |  FROM cd),
      |sq AS (SELECT lang, count(*) AS n_docs,
      |    CAST(floor(sqrt(count(*)) * 1e6) AS BIGINT) AS w
      |  FROM cd GROUP BY lang),
      |qt AS (SELECT lang,
      |    CAST((20 * w) // SUM(w) OVER () AS BIGINT) AS quota FROM sq),
      |rk AS (SELECT doc_id, lang, row_number() OVER (
      |    PARTITION BY lang ORDER BY f, doc_id) AS rn FROM fp),
      |samp AS MATERIALIZED (
      |  SELECT rk.doc_id FROM rk JOIN qt USING (lang) WHERE rn <= quota),
      |fl AS MATERIALIZED (
      |  SELECT d.source, d.lang, d.text, d.n_chars,
      |    kept.doc_id IS NOT NULL AS is_kept,
      |    reps.doc_id IS NOT NULL AS is_rep,
      |    clean.doc_id IS NOT NULL AS is_clean,
      |    samp.doc_id IS NOT NULL AS is_samp
      |  FROM pool d
      |  LEFT JOIN kept ON d.doc_id = kept.doc_id
      |  LEFT JOIN reps ON d.doc_id = reps.doc_id
      |  LEFT JOIN clean ON d.doc_id = clean.doc_id
      |  LEFT JOIN samp ON d.doc_id = samp.doc_id),
      |ag AS (
      |  SELECT source, CAST(count(*) AS BIGINT) AS n_input,
      |    CAST(SUM(CASE WHEN is_kept THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n_kept,
      |    CAST(SUM(CASE WHEN is_rep THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n_reps,
      |    CAST(SUM(CASE WHEN is_clean THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n_clean,
      |    CAST(SUM(CASE WHEN is_samp THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n_sampled,
      |    CAST(SUM(CASE WHEN is_samp THEN
      |      CASE WHEN length(trim(text)) = 0 THEN 0 ELSE
      |        len(regexp_split_to_array(trim(text), '\s+')) END
      |      ELSE 0 END) AS BIGINT) AS total_tokens,
      |    CAST(count(DISTINCT CASE WHEN is_samp THEN lang END) AS BIGINT)
      |      AS n_langs,
      |    CAST(SUM(CASE WHEN is_samp THEN n_chars END) AS BIGINT)
      |      AS chars_s
      |  FROM fl GROUP BY source),
      |tl AS (SELECT source, lang AS top_lang,
      |    row_number() OVER (PARTITION BY source
      |      ORDER BY count(*) DESC, lang) AS rn
      |  FROM fl WHERE is_samp GROUP BY source, lang)
      |SELECT ag.source, n_input, n_kept, n_reps, n_clean, n_sampled,
      |  total_tokens, n_langs, t2.top_lang,
      |  CASE WHEN n_sampled > 0
      |    THEN CAST(chars_s AS DOUBLE) / CAST(n_sampled AS DOUBLE)
      |  END AS avg_chars
      |FROM ag LEFT JOIN (SELECT * FROM tl WHERE rn = 1) t2
      |  ON ag.source = t2.source
      |ORDER BY ag.source""".stripMargin

  /** qe25/qs45 oracle: exhaustive arrivals-vs-corpus cosine top-10 —
    * knnSql's construction over the src19 split (embedding↔doc pairing
    * on the shared id space; the inner join scopes both sides to the
    * embedded population, which at sf0.1 is a prefix of the doc ids).
    */
  private val vecAdmitSql: String =
    s"""WITH base AS (
       |  SELECT e.vec_id, e.embedding,
       |    sqrt(${dotSql("e.embedding", "e.embedding")}) AS nrm, d.source
       |  FROM embeddings e JOIN documents d ON e.vec_id = d.doc_id),
       |q AS (SELECT vec_id AS query_id, embedding AS q_emb, nrm AS q_nrm
       |      FROM base WHERE source = 'src19'),
       |c AS (SELECT vec_id, embedding, nrm FROM base WHERE source <> 'src19'),
       |s AS (
       |  SELECT q.query_id, c.vec_id,
       |    ${dotSql("c.embedding", "q.q_emb")} / (c.nrm * q.q_nrm) AS sim
       |  FROM c, q),
       |r AS (SELECT query_id, vec_id, sim,
       |        CAST(rank() OVER (PARTITION BY query_id ORDER BY sim DESC, vec_id) AS INTEGER) AS rnk
       |      FROM s)
       |SELECT query_id, vec_id, rnk, sim FROM r WHERE rnk <= 10
       |ORDER BY query_id, rnk, vec_id""".stripMargin

  /** qs46 oracle: the composed admission verdict — the CONJUNCTION
    * of the three gate oracles, one row per arrival. The MinHash leg
    * is qs39's exhaustive batch×corpus truth, the edit leg qs44's
    * prefiltered-exhaustive truth (same sound prunes, same
    * MATERIALIZED fence), the vector leg the exhaustive top-1 cosine
    * against [[graft.streaming.Admission.VecNeighborThreshold]]
    * (bit-equal dot folds make the threshold comparison engine-safe).
    * Docs without embeddings coalesce the semantic leg to FALSE,
    * mirroring the operator's left join.
    */
  private lazy val composedAdmissionSql: String = {
    val thr = graft.streaming.Admission.VecNeighborThreshold
    s"""$shingleCte,
       |m AS MATERIALIZED (
       |  SELECT sh.doc_id, d.source != 'src19' AS corp, sh.s
       |  FROM sh JOIN documents d USING (doc_id)),
       |x AS (SELECT b.doc_id, CAST(min(c.doc_id) AS BIGINT) AS dup_of
       |  FROM m b JOIN m c ON NOT b.corp AND c.corp
       |    AND CAST(len(list_intersect(b.s, c.s)) AS DOUBLE)
       |      / CAST(len(list_distinct(list_concat(b.s, c.s)))
       |          AS DOUBLE) >= 0.9
       |  GROUP BY 1),
       |h AS (
       |  SELECT doc_id, source, text, length(text) AS len,
       |    [length(lt) - length(replace(lt, chr(c), ''))
       |     FOR c IN [97,98,99,100,101,102,103,104,105,106,107,108,
       |               109,110,111,112,113,114,115,116,117,118,119,
       |               120,121,122,32,48,49,50,51,52,53,54,55,56,57]]
       |      AS hist
       |  FROM (SELECT doc_id, source, text, lower(text) AS lt
       |        FROM documents)),
       |cand AS MATERIALIZED (
       |  SELECT a.doc_id AS did, b.doc_id AS cid, a.text AS ta,
       |    b.text AS tb
       |  FROM h a JOIN h b ON a.source = 'src19' AND b.source != 'src19'
       |   AND abs(a.len - b.len) <= 12
       |   AND list_sum(list_transform(list_zip(a.hist, b.hist),
       |         x -> abs(x[1] - x[2]))) <= 24),
       |edd AS (SELECT DISTINCT did FROM cand
       |        WHERE levenshtein(ta, tb) <= 12),
       |vbase AS MATERIALIZED (
       |  SELECT e.vec_id, e.embedding,
       |    sqrt(${dotSql("e.embedding", "e.embedding")}) AS nrm, d.source
       |  FROM embeddings e JOIN documents d ON e.vec_id = d.doc_id),
       |vq AS (SELECT vec_id AS query_id, embedding AS q_emb, nrm AS q_nrm
       |       FROM vbase WHERE source = 'src19'),
       |vcorp AS (SELECT vec_id, embedding, nrm FROM vbase
       |          WHERE source <> 'src19'),
       |vt AS (SELECT vq.query_id,
       |    max(${dotSql("vcorp.embedding", "vq.q_emb")}
       |        / (vcorp.nrm * vq.q_nrm)) AS vec_top_sim
       |  FROM vcorp, vq GROUP BY 1)
       |SELECT d.doc_id,
       |  x.dup_of IS NOT NULL AS minhash_dup,
       |  edd.did IS NOT NULL AS edit_dup,
       |  COALESCE(vt.vec_top_sim >= $thr, FALSE) AS vec_neighbor,
       |  vt.vec_top_sim AS vec_top_sim,
       |  NOT (x.dup_of IS NOT NULL OR edd.did IS NOT NULL
       |       OR COALESCE(vt.vec_top_sim >= $thr, FALSE)) AS admit
       |FROM documents d
       |LEFT JOIN x ON d.doc_id = x.doc_id
       |LEFT JOIN edd ON d.doc_id = edd.did
       |LEFT JOIN vt ON d.doc_id = vt.query_id
       |WHERE d.source = 'src19'
       |ORDER BY d.doc_id""".stripMargin
  }

  /** qe26 oracle: knnSql's construction with the corpus side
    * restricted to embeddings whose paired doc is lang='en' (queries
    * unrestricted; the join to documents IS the filter).
    */
  private val knnFilteredSql: String = {
    val ids = graft.operators.TrainingOps.knnQueryIds.mkString(", ")
    s"""WITH base AS (
       |  SELECT vec_id, embedding,
       |    sqrt(${dotSql("embedding", "embedding")}) AS nrm
       |  FROM embeddings),
       |q AS (SELECT vec_id AS query_id, embedding AS q_emb, nrm AS q_nrm
       |      FROM base WHERE vec_id IN ($ids)),
       |c AS (SELECT b.vec_id, b.embedding, b.nrm
       |      FROM base b JOIN documents d ON b.vec_id = d.doc_id
       |      WHERE d.lang = 'en'),
       |s AS (
       |  SELECT q.query_id, c.vec_id,
       |    ${dotSql("c.embedding", "q.q_emb")} / (c.nrm * q.q_nrm) AS sim
       |  FROM c, q WHERE c.vec_id <> q.query_id),
       |r AS (SELECT query_id, vec_id, sim,
       |        CAST(rank() OVER (PARTITION BY query_id ORDER BY sim DESC, vec_id) AS INTEGER) AS rnk
       |      FROM s)
       |SELECT query_id, vec_id, rnk, sim FROM r WHERE rnk <= 10
       |ORDER BY query_id, rnk, vec_id""".stripMargin
  }

  /** qe27 oracle: exhaustive different-lang top-10 per anchor — the
    * hard-negative truth (the per-anchor complement predicate sits in
    * the pair join, mirroring the operator's residual conjunct; full
    * probe makes candidates ≡ each anchor's whole complement slice).
    */
  private val hardNegativesSql: String = {
    val ids = graft.operators.TrainingOps.knnQueryIds.mkString(", ")
    s"""WITH base AS (
       |  SELECT e.vec_id, e.embedding,
       |    sqrt(${dotSql("e.embedding", "e.embedding")}) AS nrm, d.lang
       |  FROM embeddings e JOIN documents d ON e.vec_id = d.doc_id),
       |q AS (SELECT vec_id AS query_id, embedding AS q_emb, nrm AS q_nrm,
       |        lang AS q_lang
       |      FROM base WHERE vec_id IN ($ids)),
       |s AS (
       |  SELECT q.query_id, b.vec_id,
       |    ${dotSql("b.embedding", "q.q_emb")} / (b.nrm * q.q_nrm) AS sim
       |  FROM base b, q WHERE b.lang <> q.q_lang),
       |r AS (SELECT query_id, vec_id, sim,
       |        CAST(rank() OVER (PARTITION BY query_id ORDER BY sim DESC, vec_id) AS INTEGER) AS rnk
       |      FROM s)
       |SELECT query_id, vec_id, rnk, sim FROM r WHERE rnk <= 10
       |ORDER BY query_id, rnk, vec_id""".stripMargin
  }

  private val knnSql: String = {
    val ids = graft.operators.TrainingOps.knnQueryIds.mkString(", ")
    s"""WITH base AS (
       |  SELECT vec_id, embedding,
       |    sqrt(${dotSql("embedding", "embedding")}) AS nrm
       |  FROM embeddings),
       |q AS (SELECT vec_id AS query_id, embedding AS q_emb, nrm AS q_nrm
       |      FROM base WHERE vec_id IN ($ids)),
       |s AS (
       |  SELECT q.query_id, b.vec_id,
       |    ${dotSql("b.embedding", "q.q_emb")} / (b.nrm * q.q_nrm) AS sim
       |  FROM base b, q WHERE b.vec_id <> q.query_id),
       |r AS (SELECT query_id, vec_id, sim,
       |        CAST(rank() OVER (PARTITION BY query_id ORDER BY sim DESC, vec_id) AS INTEGER) AS rnk
       |      FROM s)
       |SELECT query_id, vec_id, rnk, sim FROM r WHERE rnk <= 10
       |ORDER BY query_id, rnk, vec_id""".stripMargin
  }

  private val qualitySql: String = {
    val nTok = "CASE WHEN length(trim(text)) = 0 THEN 0 ELSE " +
      "len(regexp_split_to_array(trim(text), '\\s+')) END"
    s"""SELECT doc_id,
       |  CASE WHEN length(text) = 0 THEN 0.0 ELSE
       |    CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE) / CAST(length(text) AS DOUBLE) END AS alpha_ratio,
       |  CASE WHEN length(text) = 0 THEN 0.0 ELSE
       |    CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS DOUBLE) / CAST(length(text) AS DOUBLE) END AS digit_ratio,
       |  CASE WHEN length(text) = 0 THEN 0.0 ELSE
       |    CAST(length(text) - length(regexp_replace(text, ' ', '', 'g')) AS DOUBLE) / CAST(length(text) AS DOUBLE) END AS space_ratio,
       |  CASE WHEN $nTok = 0 THEN 0.0 ELSE
       |    CAST(len(regexp_extract_all(lower(text), '\\b(the|a|of|to|and|in|is|it)\\b')) AS DOUBLE) / CAST($nTok AS DOUBLE) END AS stop_ratio,
       |  0.3 * (CASE WHEN length(text) = 0 THEN 0.0 ELSE
       |           CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE) / CAST(length(text) AS DOUBLE) END)
       |  + 0.2 * (1.0 - (CASE WHEN length(text) = 0 THEN 0.0 ELSE
       |           CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS DOUBLE) / CAST(length(text) AS DOUBLE) END))
       |  + 0.2 * (CASE WHEN $nTok = 0 THEN 0.0 ELSE
       |           CAST(len(regexp_extract_all(lower(text), '\\b(the|a|of|to|and|in|is|it)\\b')) AS DOUBLE) / CAST($nTok AS DOUBLE) END)
       |  + 0.3 * least(CAST(length(text) AS DOUBLE) / 500.0, 1.0) AS quality_score
       |FROM documents ORDER BY doc_id""".stripMargin
  }

  private val langIdSql: String = {
    val en = "len(regexp_extract_all(lower(text), '\\b(the|and|of|to|in|is)\\b'))"
    val de = "len(regexp_extract_all(lower(text), '\\b(der|die|das|und|ist|nicht)\\b'))"
    val fr = "len(regexp_extract_all(lower(text), '\\b(le|la|les|et|est|une)\\b'))"
    val es = "len(regexp_extract_all(lower(text), '\\b(el|los|las|es|una|del)\\b'))"
    s"""SELECT doc_id,
       |  CASE
       |    WHEN length(regexp_replace(text, '[^\\x{4e00}-\\x{9fff}]', '', 'g')) > 0 THEN 'zh'
       |    WHEN $en >= $de AND $en >= $fr AND $en >= $es AND $en > 0 THEN 'en'
       |    WHEN $de >= $fr AND $de >= $es AND $de > 0 THEN 'de'
       |    WHEN $fr >= $es AND $fr > 0 THEN 'fr'
       |    WHEN $es > 0 THEN 'es'
       |    ELSE 'und'
       |  END AS pred_lang
       |FROM documents ORDER BY doc_id""".stripMargin
  }
}
