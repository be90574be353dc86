package graft

import org.scalatest.funsuite.AnyFunSuite

/** Plan-shape regression tests: the "plans you'd want at 100×" bar, enforced
  * as a spec instead of by review. Each case executes the query (so AQE
  * finalizes) and asserts on the FINAL physical plan — a refactor that
  * introduces an extra shuffle, drops a broadcast, or double-evaluates a
  * comparator fails here even while correctness stays green.
  *
  * Counts are asserted against the local[8]/AQE environment the suite runs
  * in; they are exact on purpose — a plan change should be a conscious
  * decision, not a silent drift.
  */
class PlanSpec extends AnyFunSuite with SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  /** Execute the frame (AQE needs runtime stats to finalize) and return the
    * final-plan text only (the Initial Plan section would double-count). */
  private def finalPlan(name: String): String = {
    // wide plans (q243's three rank layouts) elide expression lists at
    // the 25-field default, hiding the windowspecdefinition text the
    // pins grep for — lift the cap BEFORE planning (cached-plan fragments
    // stringify during execution, so setting it at render time is too
    // late for subtrees inside TableCacheQueryStage)
    spark.conf.set("spark.sql.debug.maxToStringFields", "10000")
    val df = SparkEntry.queries(name)(spark, sf)
    try {
      df.queryExecution.toRdd.count()
      val s = df.queryExecution.executedPlan.toString
      val cut = s.indexOf("== Initial Plan ==")
      if (cut >= 0) s.substring(0, cut) else s
    } finally CachedFrames.drain()
  }

  /** Both sections of the AQE rendering: (final, full-incl-initial). The
    * final section shows MATERIALIZED stages as bare `ShuffleQueryStage n`
    * references with their subtrees hidden — a deep pipeline (q243's
    * three rank layouts feeding joins) can finish with every window
    * inside a materialized stage, so window-shape pins must read the full
    * string while node-count pins (cartesian etc.) read the final one. */
  private def finalAndFull(name: String): (String, String) = {
    spark.conf.set("spark.sql.debug.maxToStringFields", "10000")
    val df = SparkEntry.queries(name)(spark, sf)
    try {
      df.queryExecution.toRdd.count()
      val s = df.queryExecution.executedPlan.toString
      val cut = s.indexOf("== Initial Plan ==")
      (if (cut >= 0) s.substring(0, cut) else s, s)
    } finally CachedFrames.drain()
  }

  /** Count plan nodes by exact operator token ("Exchange" does NOT match
    * BroadcastExchange/ReusedExchange; codegen markers are stripped). */
  private def nodes(plan: String, op: String): Int =
    plan.linesIterator.count { line =>
      val t = line.dropWhile(c => c.isWhitespace || ":+-|".contains(c))
      val tok = (if (t.startsWith("*(")) t.dropWhile(_ != ')').drop(1) else t).trim
      tok.takeWhile(c => c.isLetterOrDigit).equals(op)
    }

  test("q1_agg: partial+final HashAggregate, one hash shuffle + one sort shuffle") {
    val p = finalPlan("q1_agg")
    assert(nodes(p, "HashAggregate") == 2, p)
    assert(p.contains("partial_sum"), p)
    assert(nodes(p, "Exchange") == 2, p) // hashpartitioning + rangepartitioning
  }

  test("q2_region_revenue: all three dimension joins broadcast, no sort-merge") {
    val p = finalPlan("q2_region_revenue")
    assert(nodes(p, "BroadcastHashJoin") == 3, p)
    assert(nodes(p, "SortMergeJoin") == 0, p)
    assert(nodes(p, "Exchange") == 1, p) // only the final aggregation shuffle
  }

  test("q12_topk: TakeOrderedAndProject, zero shuffles") {
    val p = finalPlan("q12_topk")
    assert(nodes(p, "TakeOrderedAndProject") == 1, p)
    assert(nodes(p, "Exchange") == 0, p)
  }

  test("q25_exact_dedup: map-side partial aggregation on the digest key") {
    val p = finalPlan("q25_exact_dedup")
    assert(nodes(p, "HashAggregate") >= 2, p) // partial + final
    assert(nodes(p, "Exchange") == 1, p)      // one shuffle on the digest
  }

  test("q31_centroids: fixed-point sums aggregate partially before the shuffle") {
    val p = finalPlan("q31_centroids")
    assert(p.contains("partial_sum"), p)
    // the scan right-sizing repartition (Tables.parallelized, a no-op at
    // cluster scale) + the one (label, idx) aggregation shuffle
    assert(nodes(p, "Exchange") == 2, p)
  }

  test("q57_oov_rate: vocabulary broadcasts back, corpus tokens never re-shuffle for the join") {
    val p = finalPlan("q57_oov_rate")
    assert(nodes(p, "BroadcastHashJoin") == 1, p)
    assert(nodes(p, "SortMergeJoin") == 0, p)
  }

  test("q58_decontaminate: benchmark gram set broadcasts against the corpus stream") {
    val p = finalPlan("q58_decontaminate")
    assert(nodes(p, "BroadcastHashJoin") == 1, p)
    assert(nodes(p, "SortMergeJoin") == 0, p)
  }

  test("q27_lsh_pairs: banded equi-join, never a cartesian/all-pairs plan") {
    val p = finalPlan("q27_lsh_pairs")
    // the candidate join is a HASH equi-join on (band, bkey) — the whole
    // point of LSH banding; any all-pairs fallback is a 100 TB killer
    assert("BroadcastHashJoin \\[band".r.findFirstIn(p).isDefined, p)
    assert(nodes(p, "CartesianProduct") == 0, p)
    assert(nodes(p, "BroadcastNestedLoopJoin") == 0, p)
    assert(nodes(p, "SortMergeJoin") == 0, p)
    // band join + two signature join-backs for the verify projection
    assert(nodes(p, "BroadcastHashJoin") == 3, p)
    // each pair leaves the band join once, in its lowest shared band, with
    // its shared-band count summed in-row: no pair aggregate, and the only
    // shuffle is the cached signature frame's scan right-sizing
    // (Tables.parallelized, inert at cluster scale)
    assert(nodes(p, "HashAggregate") == 0, p)
    assert(nodes(p, "Exchange") == 1, p)
  }

  test("q37_simhash_pairs: rotation-table equi-join, each pair once, no " +
      "pair aggregate") {
    val p = finalPlan("q37_simhash_pairs")
    // the table join is a HASH equi-join on (t, bucket); the lowest shared
    // table guard replaces the groupBy(id1, id2) pair count
    assert("HashJoin \\[t#\\d+, bucket#".r.findFirstIn(p).isDefined, p)
    assert(nodes(p, "HashAggregate") == 0, p)
    assert(nodes(p, "CartesianProduct") == 0, p)
    assert(nodes(p, "BroadcastNestedLoopJoin") == 0, p)
  }

  test("q53_span_dedup: spans shuffle once for exact dedup, survivors anti-join broadcast") {
    val p = finalPlan("q53_span_dedup")
    // exactly ONE shuffle keyed on span_id — the exact-dedup exchange; a
    // second one would mean the span frame re-shuffles downstream
    assert("hashpartitioning\\(span_id".r.findAllIn(p).size == 1, p)
    // span explode runs data-parallel (Generate, not a driver loop)
    assert(nodes(p, "Generate") >= 1, p)
    // duplicate spans are removed by a BROADCAST anti-join (the dup set is
    // tiny); kept-span reassembly aggregates map-side partials first
    assert(p.contains("LeftAnti"), p)
    assert(nodes(p, "SortMergeJoin") == 0, p)
    assert(p.contains("partial_collect_list"), p)
    // the exact keep is a min_by AGGREGATE on the content digest (partial
    // combine before the exchange) — never a min-over-window, which would
    // ship every copy of a boilerplate span to one reducer
    assert(p.contains("partial_min_by"), p)
    assert(!p.contains("WindowExec"), p)
    // full exchange census so any added shuffle is a conscious decision:
    // 2 scan right-sizings (outer + cached span frame), the span_id dedup
    // exchange, the md5-digest min_by exchange, the per-doc reassembly
    assert(nodes(p, "Exchange") == 5, p)
  }

  test("q47_range_join: interval bands broadcast into a BroadcastNestedLoopJoin") {
    val p = finalPlan("q47_range_join")
    // the band table (4 rows) must be the broadcast side of the interval
    // join — the lineitem stream is never materialized or shuffled for it
    assert(nodes(p, "BroadcastNestedLoopJoin") == 1, p)
    assert(p.contains("BroadcastExchange IdentityBroadcastMode"), p)
    assert(nodes(p, "CartesianProduct") == 0, p)
    // scan prunes to exactly the two referenced columns, quantity filter
    // pushed to parquet
    assert(p.contains("struct<l_quantity:double,l_extendedprice:double>"), p)
    assert(p.contains("PushedFilters: [IsNotNull(l_quantity)]"), p)
    // one aggregation shuffle with map-side partial sums
    assert(nodes(p, "Exchange") == 1, p)
    assert(p.contains("partial_sum"), p)
  }

  test("q59_pack_sequences: running sum shuffles on (source, _bkt) — B-way " +
    "parallel per source — and the offset branch reuses that exchange") {
    val p = finalPlan("q59_pack_sequences")
    // the two-phase prefix sum: the BIG-side window stage partitions by the
    // range bucket — B-way parallel per source, not one task per source
    // (the dominant-source serialization this plan exists to kill) — and
    // that full-data exchange appears exactly ONCE as a tree node: the
    // offsets branch consumes it through ReusedExchange below
    assert("\\+- Exchange hashpartitioning\\(source#\\d+, _bkt".r
      .findAllIn(p).size == 1, p)
    // exactly TWO source-only exchanges, both tiny branches: the |sources|-
    // row bounds aggregate and the B·|sources|-row offsets window. A third
    // would mean full data ran through a per-source window again.
    assert("\\+- Exchange hashpartitioning\\(source#\\d+, \\d+\\)".r
      .findAllIn(p).size == 2, p)
    // bucket totals REUSE phase 1's (source, _bkt) shuffle — the `_bkt`
    // non-nullability in distributedRunningSum exists to keep both
    // subtrees canonically equal; without it AQE re-scans the corpus
    assert("ReusedExchange \\[.*\\], Exchange hashpartitioning\\(source#\\d+, _bkt".r
      .findFirstIn(p).isDefined, p)
    // ... so the full corpus (the scan reading `text`) is scanned ONCE;
    // the only other scan is the 2-column bounds aggregate
    assert("ReadSchema: struct<doc_id:bigint,text:string".r
      .findAllIn(p).size == 1, p)
    // both the bounds table and the offsets table broadcast back
    assert(nodes(p, "BroadcastHashJoin") >= 2, p)
  }

  test("q98_bpe_encode: the ENCODE pass is a pure scan-bound projection — " +
    "merges ride as literals, zero exchanges, zero joins") {
    // training runs its own (vocab-local) jobs while the frame is being
    // CONSTRUCTED; the returned encode plan itself must be one corpus scan
    // with per-row aggregates — no join against a merge table, no shuffle
    val p = finalPlan("q98_bpe_encode")
    // the only exchange is the scan right-sizing round-robin, never a hash
    assert(nodes(p, "Exchange") == 1, p)
    assert(p.contains("RoundRobinPartitioning"), p)
    assert(!p.contains("Exchange hashpartitioning"), p)
    assert(nodes(p, "BroadcastHashJoin") == 0, p)
    assert(nodes(p, "SortMergeJoin") == 0, p)
    assert(nodes(p, "HashAggregate") == 0, p)
    // the trained pairs are literal arguments of the respell expression
    assert(p.contains("replace("), p)
  }

  test("q99_token_budget: the two-phase prefix sum holds — (source, _bkt) " +
    "exchange once, offsets reuse it, verdict is a projection") {
    val p = finalPlan("q99_token_budget")
    // same contract as q59 (shared distributedRunningSum): B-way-parallel
    // bucketed window, no one-task-per-source window over the corpus
    assert("\\+- Exchange hashpartitioning\\(source#\\d+, _bkt".r
      .findAllIn(p).size == 1, p)
    assert("\\+- Exchange hashpartitioning\\(source#\\d+, \\d+\\)".r
      .findAllIn(p).size == 2, p)
    assert("ReusedExchange \\[.*\\], Exchange hashpartitioning\\(source#\\d+, _bkt".r
      .findFirstIn(p).isDefined, p)
    assert("ReadSchema: struct<doc_id:bigint,text:string".r
      .findAllIn(p).size == 1, p)
    assert(nodes(p, "BroadcastHashJoin") >= 2, p)
  }

  test("q61_tfidf_cosine: query postings broadcast into the inverted index, top-k pushed down") {
    val p = finalPlan("q61_tfidf_cosine")
    // postings join is a broadcast hash equi-join on token (query side is
    // |queries| x sig terms — tiny); norms join back broadcast; plus the
    // cached signature's df join: 4 BHJs, never a sort-merge or cartesian
    assert(nodes(p, "BroadcastHashJoin") == 4, p)
    assert(nodes(p, "SortMergeJoin") == 0, p)
    assert(nodes(p, "CartesianProduct") == 0, p)
    // pair dot products combine map-side; both row_number top-ks run as
    // partial WindowGroupLimit BEFORE their shuffle (rank pushdown)
    assert(p.contains("partial_sum"), p)
    assert(nodes(p, "WindowGroupLimit") >= 2, p)
    // exchange census: pair-rank shuffle + cached sig's (tf agg, per-doc
    // window, scan right-sizing) — the corpus index shuffles by token ZERO
    // times on the probe path (the query side broadcasts instead)
    assert(nodes(p, "Exchange") == 4, p)
  }

  test("q101_corpus_diff: digests join once, text never shuffles") {
    val p = finalPlan("q101_corpus_diff")
    // exactly one join of the two digest streams, never quadratic; at
    // corpus scale AQE picks shuffle vs broadcast — either is fine, a
    // second join or a cartesian is not
    assert(nodes(p, "SortMergeJoin") + nodes(p, "BroadcastHashJoin") == 1, p)
    assert(nodes(p, "CartesianProduct") == 0, p)
    // any exchange moves (doc_id, md5) digests, not document text: no
    // exchange row schema carries the text column
    val badExchange = p.linesIterator.exists(l =>
      l.contains("Exchange hashpartitioning") && l.contains("text#"))
    assert(!badExchange, p)
  }

  test("q103_quality_tradeoff: one scan, one 1-row aggregate, no joins — " +
    "the whole grid rides as conditional agg columns") {
    val p = finalPlan("q103_quality_tradeoff")
    // per-threshold counts are conditional columns of a single partial+final
    // aggregate over ONE scan — since r17 the scan is the shared
    // qualityScored cache (full document schema on purpose: 15 quality-
    // family queries slice the same tracked artifact), still read once
    assert(nodes(p, "HashAggregate") == 2, p)
    assert(p.contains("partial_count"), p)
    assert(nodes(p, "BroadcastHashJoin") == 0, p)
    assert(nodes(p, "SortMergeJoin") == 0, p)
    assert("FileScan parquet".r.findAllIn(p).size == 1, p)
    assert(p.contains("InMemoryTableScan") || p.contains("Scan In-memory"), p)
  }

  test("q102_cohort_retention: one user-keyed exchange; cells and sizes " +
    "reuse the cached per-user frame, sizes broadcast back") {
    val p = finalPlan("q102_cohort_retention")
    // the corpus-sized exchange is the per-user collect_set groupBy; the
    // cell and size aggregates run over its cached result (InMemoryScan),
    // and the |cohorts|-row sizes table joins back broadcast
    assert(nodes(p, "BroadcastHashJoin") == 1, p)
    assert(nodes(p, "SortMergeJoin") == 0, p)
    assert(p.contains("InMemoryTableScan") || p.contains("Scan In-memory"), p)
    assert(p.contains("partial_count"), p)
  }

  test("q104_joint_admission: delta-vs-delta join, no cartesian, the corpus " +
    "only feeds the two index probes") {
    val p = finalPlan("q104_joint_admission")
    assert(nodes(p, "CartesianProduct") == 0, p)
    // the standing indexes broadcast into the batch side (text digest/band
    // probes + embedding cell probe + the final verdict join)
    assert(nodes(p, "BroadcastHashJoin") >= 3, p)
    assert(nodes(p, "SortMergeJoin") == 0, p)
  }

  test("q62_quantize_int8: pure codegen projection, no shuffle beyond scan right-sizing") {
    val p = finalPlan("q62_quantize_int8")
    assert(nodes(p, "HashAggregate") == 0, p)
    assert(nodes(p, "BroadcastHashJoin") == 0 && nodes(p, "SortMergeJoin") == 0, p)
    assert(nodes(p, "Exchange") == 1, p) // Tables.parallelized only
    // scan prunes to the two referenced columns
    assert(p.contains("struct<vec_id:bigint,embedding:array<float>>"), p)
  }

  test("q74_hash_ivf: codebook broadcasts for assignment, candidate join never sort-merges") {
    val p = finalPlan("q74_hash_ivf")
    // the 16-cell codebook is the broadcast side of the assignment
    // crossJoin; the corpus never shuffles to meet it
    assert(nodes(p, "BroadcastNestedLoopJoin") >= 1, p)
    assert(nodes(p, "SortMergeJoin") == 0, p)
    assert(nodes(p, "CartesianProduct") == 0, p)
    // top-nprobe collapses in a map-side partial aggregate BEFORE its
    // exchange (the q60 shuffle-volume lesson, shared via probeAssign)
    assert(p.contains("partial_first"), p)
  }

  test("q112_gopher_rules: pure codegen projection, no shuffle beyond scan right-sizing") {
    val p = finalPlan("q112_gopher_rules")
    assert(nodes(p, "HashAggregate") == 0, p)
    assert(nodes(p, "BroadcastHashJoin") == 0 && nodes(p, "SortMergeJoin") == 0, p)
    assert(nodes(p, "Exchange") == 1, p) // Tables.parallelized only
    assert(p.contains("struct<doc_id:bigint,text:string>"), p)
  }

  test("q116_curriculum: fixed-cut banding is a pure projection — no sort, no percentile pass") {
    val p = finalPlan("q116_curriculum")
    assert(nodes(p, "HashAggregate") == 0, p)
    assert(nodes(p, "Sort") == 0 && nodes(p, "Window") == 0, p)
    assert(nodes(p, "Exchange") == 1, p) // Tables.parallelized only
    // since r17 the banding projects the shared qualityScored cache (full
    // document schema, one FileScan inside the cached plan)
    assert("FileScan parquet".r.findAllIn(p).size == 1, p)
    assert(p.contains("InMemoryTableScan") || p.contains("Scan In-memory"), p)
  }

  test("q114_bloom_decontam: bitmap and exact set broadcast; corpus grams never sort-merge") {
    val p = finalPlan("q114_bloom_decontam")
    // 1-row bitmap map rides a BroadcastNestedLoopJoin; the measurement
    // twin's exact gram set is a BroadcastHashJoin
    assert(nodes(p, "BroadcastNestedLoopJoin") >= 1, p)
    assert(nodes(p, "BroadcastHashJoin") >= 1, p)
    assert(nodes(p, "SortMergeJoin") == 0, p)
    assert(nodes(p, "CartesianProduct") == 0, p)
  }

  test("q117_dedup_savings: text never shuffles, NO digest window — giant " +
      "digest groups collapse map-side before any exchange") {
    val p = finalPlan("q117_dedup_savings")
    // the viral-boilerplate guard: no window may partition by digest (it
    // would buffer every copy on one reducer; AQE skew splitting does not
    // apply to windows) — the keeper election is min_by aggregation
    assert(nodes(p, "Window") == 0, p)
    assert(p.contains("partial_min_by"), p)
    assert(nodes(p, "SortMergeJoin") == 0, p)
    // every exchange's hashpartitioning is on digest or source — none on text
    val exchanges = p.linesIterator.filter(_.contains("Exchange hashpartitioning")).toSeq
    assert(exchanges.nonEmpty, p)
    exchanges.foreach(l => assert(!l.contains("text"), l))
  }

  test("q76_hash_split: pure codegen projection, no shuffle beyond scan right-sizing") {
    val p = finalPlan("q76_hash_split")
    assert(nodes(p, "HashAggregate") == 0, p)
    assert(nodes(p, "BroadcastHashJoin") == 0 && nodes(p, "SortMergeJoin") == 0, p)
    assert(nodes(p, "Exchange") == 1, p) // Tables.parallelized only
    // scan prunes to the one referenced column
    assert(p.contains("ReadSchema: struct<doc_id:bigint>"), p)
  }

  test("q77_apply_mixture: |sources| weight table broadcasts onto the corpus projection") {
    val p = finalPlan("q77_apply_mixture")
    // the corpus side must NOT shuffle on source to meet the weights —
    // the weight table is |sources| rows and broadcasts
    assert(nodes(p, "BroadcastHashJoin") == 1, p)
    assert(nodes(p, "SortMergeJoin") == 0, p)
    assert(nodes(p, "CartesianProduct") == 0, p)
    // the corpus scan prunes to the two referenced columns
    assert(p.contains("struct<doc_id:bigint,source:string>"), p)
  }

  test("q78_embedding_admission: no sort-merge or quadratic join anywhere in the verdict path") {
    // the codebook assignment's broadcast nested-loop lives INSIDE the
    // cached assignment relation (q74's test pins it in its own final
    // plan); here the outer verdict path is what must stay broadcast-only
    // earlier AQE stages print as leaf references in the final-plan text,
    // so only the last stage's joins are countable — assert the verdict
    // join broadcasts and that NOTHING in the visible tree sort-merges or
    // goes quadratic
    val p = finalPlan("q78_embedding_admission")
    assert(nodes(p, "BroadcastHashJoin") >= 1, p)
    assert(nodes(p, "SortMergeJoin") == 0, p)
    assert(nodes(p, "CartesianProduct") == 0, p)
    // batch-side bound prunes the cached assignment scan
    assert(p.contains("vec_id") && p.contains("< 100"), p)
  }

  test("q66_funnel: stage aggregations combine map-side and reuse the user_id shuffle") {
    val p = finalPlan("q66_funnel")
    assert(nodes(p, "CartesianProduct") == 0, p)
    assert(p.contains("partial_min"), p)
    // view / click / purchase stages: TWO user_id aggregation shuffles — the
    // view stage's exchange is reused by the click join's inner copy (the
    // explicit user_id IS NOT NULL on the base keeps both subtrees
    // canonically equal) and the click stage's is reused by the purchase
    // stage — so events is scanned exactly once per event type, never re-
    // shuffled or re-scanned for a branch's second consumer
    assert(nodes(p, "Exchange") == 2, p)
    assert(nodes(p, "ReusedExchange") == 2, p)
    assert("FileScan parquet".r.findAllIn(p).size == 3, p)
  }

  test("q44_tf_df: DF derived from the TF aggregate — corpus scanned and exploded once") {
    val p = finalPlan("q44_tf_df")
    // the (doc_id, token) exchange is shared by the TF branch and the DF
    // rollup (the value-dependent count in df_ stops column pruning from
    // splitting the subtrees); only one scan and one explode of documents
    assert(nodes(p, "ReusedExchange") == 1, p)
    assert("FileScan parquet".r.findAllIn(p).size == 1, p)
    assert(nodes(p, "Generate") == 1, p)
    // top-3-per-doc runs as partial WindowGroupLimit before the final window
    assert(p.contains("WindowGroupLimit"), p)
  }

  test("q118_crossdup_scan: gram stream cached once, df side and probe side share the gram exchange") {
    val p = finalPlan("q118_crossdup_scan")
    // the cached gram explode is scanned in-memory on both sides of the
    // gram equi-join; the join itself never sort-merges or goes quadratic
    assert(nodes(p, "SortMergeJoin") == 0, p)
    assert(nodes(p, "CartesianProduct") == 0, p)
    assert(p.contains("InMemoryTableScan") || nodes(p, "ReusedExchange") >= 1, p)
    // the df aggregate combines map-side before its exchange
    assert(p.contains("partial_count"), p)
  }

  test("q122_contamination_report: benchmark grams broadcast against the corpus gram stream, no sort-merge") {
    val p = finalPlan("q122_contamination_report")
    assert(nodes(p, "BroadcastHashJoin") >= 1, p)
    assert(nodes(p, "SortMergeJoin") == 0, p)
    assert(nodes(p, "CartesianProduct") == 0, p)
    // the source rollup combines map-side
    assert(p.contains("partial_count"), p)
  }

  test("q121_label_propagation: vote tallies combine map-side; no quadratic join in the graph pass") {
    val p = finalPlan("q121_label_propagation")
    assert(nodes(p, "CartesianProduct") == 0, p)
    assert(p.contains("partial_count"), p)
  }

  test("q90_domain_cap: partial WindowGroupLimit before the shuffle — per-source top-k never buffers a source") {
    val p = finalPlan("q90_domain_cap")
    // map-side Partial group-limit caps each task's contribution at K rows
    // per source BEFORE the exchange; the Final pass ranks survivors only
    assert(p.contains("row_number(), 10, Partial"), p)
    assert(p.contains("row_number(), 10, Final"), p)
    // since r17 the input is the shared qualityScored cache: its plan
    // carries the scan-right-sizing repartition, plus the window exchange
    assert(nodes(p, "Exchange") == 2, p)
    assert("FileScan parquet".r.findAllIn(p).size == 1, p)
    assert(p.contains("InMemoryTableScan") || p.contains("Scan In-memory"), p)
  }

  test("q91_keep_best: winner + size in one map-side-combined aggregate, no window buffering") {
    val p = finalPlan("q91_keep_best")
    assert(nodes(p, "CartesianProduct") == 0, p)
    // max_by + count resolve in a single hash aggregate: partial combine
    // before the component exchange, so a giant cluster never buffers on
    // one task (a count-over-partition window would)
    assert(p.contains("partial_max_by") || p.contains("partial_maxby") ||
      "partial.*max_by".r.findFirstIn(p).isDefined, p)
    assert("hashpartitioning\\(component".r.findAllIn(p).size == 1, p)
    assert(!p.contains("WindowGroupLimit"), p)
  }

  test("q92_lm_bits: LM tables broadcast against one corpus pass, no sort-merge") {
    // FULL plan text (like q71's case): the cached unigram table nests an
    // adaptive plan whose Initial section would truncate finalPlan's census
    val df = SparkEntry.queries("q92_lm_bits")(spark, sf)
    val p = try { df.queryExecution.toRdd.count(); df.queryExecution.executedPlan.toString }
            finally CachedFrames.drain()
    // unigram (twice: current + previous token) and bigram joins all
    // broadcast — the position-exploded corpus stream never shuffles for
    // the LM lookups, only for the final per-doc rollup
    assert(nodes(p, "BroadcastHashJoin") >= 3, p)
    assert(nodes(p, "SortMergeJoin") == 0, p)
    assert(nodes(p, "CartesianProduct") == 0, p)
    // N/V ride as a broadcast 1-row aggregate, not a driver-side action
    assert(nodes(p, "BroadcastNestedLoopJoin") >= 1, p)
    // the per-doc sum combines map-side before the doc_id exchange
    assert(p.contains("partial_sum"), p)
  }

  test("q92 LM tables are vocab-cut BOUNDED: uni <= V+1 rows, big <= (V+1)^2, " +
    "top-V planned as a partial top-k, never a full vocabulary sort") {
    import org.apache.spark.sql.functions.col
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), col("text"))
    try {
      val (uni, big, _) = graft.ops.TextOps.lmTables(docs)
      // the synthetic corpus has 31 distinct whitespace tokens > V = 16,
      // so the cut genuinely engages at every test scale
      val v = graft.ops.TextOps.LmVocabV
      assert(uni.count() === v + 1L) // V in-vocab symbols + the <oov> row
      assert(big.count() <= (v + 1L) * (v + 1L))
      // residual mass present: the cut moved real counts into <oov>
      val oov = uni.filter(col("w") === graft.ops.TextOps.LmOov)
        .collect().map(_.getLong(1))
      assert(oov.length === 1 && oov.head > 0L)
      // the vocab cut's physical shape: orderBy+limit(V) becomes
      // TakeOrderedAndProject (per-partition partial top-V + V-row merge)
      val p = uni.queryExecution.executedPlan.toString
      assert(p.contains("TakeOrderedAndProject"), p)
    } finally CachedFrames.drain()
  }

  test("q93_dsir: bucket delta broadcasts against the cached gram stream; " +
    "the only corpus-sized exchange is the per-doc rollup") {
    val df = SparkEntry.queries("q93_dsir")(spark, sf)
    val p = try { df.queryExecution.toRdd.count(); df.queryExecution.executedPlan.toString }
            finally CachedFrames.drain()
    // scoring join (delta -> stream) is broadcast; the delta build's tiny
    // B-row full-outer may plan however it likes, but nothing corpus-sized
    // may sort-merge or go quadratic
    assert(nodes(p, "BroadcastHashJoin") >= 1, p)
    assert(nodes(p, "CartesianProduct") == 0, p)
    // explode_outer covers the roster in the same pass — no join back to
    // the documents table keyed on doc_id anywhere in the plan
    assert(!"Join \\[doc_id".r.findFirstIn(p).isDefined, p)
    assert(p.contains("partial_count"), p)
  }

  test("q100_nb_langid: cost table and priors broadcast against the cached " +
    "gram stream; the only corpus-sized exchange is the per-doc rollup") {
    val df = SparkEntry.queries("q100_nb_langid")(spark, sf)
    val p = try { df.queryExecution.toRdd.count(); df.queryExecution.executedPlan.toString }
            finally CachedFrames.drain()
    // scoring join (B+1-row cost table -> gram stream) and the 1-row
    // priors both broadcast; nothing corpus-sized sort-merges
    assert(nodes(p, "BroadcastHashJoin") >= 1, p)
    assert(nodes(p, "SortMergeJoin") == 0, p)
    assert(nodes(p, "CartesianProduct") == 0, p)
    // explode_outer covers the roster in one pass — no documents join-back
    assert(!"Join \\[doc_id".r.findFirstIn(p).isDefined, p)
    // the per-doc 5-way cost sum combines map-side
    assert(p.contains("partial_count"), p)
  }

  test("q95_heavy_hitters: top-k via TakeOrderedAndProject, sketch probes broadcast") {
    val df = SparkEntry.queries("q95_heavy_hitters")(spark, sf)
    val p = try { df.queryExecution.toRdd.count(); df.queryExecution.executedPlan.toString }
            finally CachedFrames.drain()
    // the exact top-k never global-sorts; the d×w sketch joins broadcast
    assert(nodes(p, "TakeOrderedAndProject") >= 1, p)
    assert(nodes(p, "Sort") == 0, p)
    assert(nodes(p, "BroadcastHashJoin") >= 1, p)
    assert(nodes(p, "SortMergeJoin") == 0, p)
  }

  test("q96_pii_scan: a pure projection — no joins, no aggregation, no shuffle " +
    "beyond scan right-sizing") {
    val p = finalPlan("q96_pii_scan")
    assert(nodes(p, "HashAggregate") == 0, p)
    assert(nodes(p, "BroadcastHashJoin") == 0, p)
    assert(nodes(p, "SortMergeJoin") == 0, p)
    assert(nodes(p, "Exchange") <= 1, p) // the parallelized round-robin only
    assert(p.contains("ReadSchema: struct<doc_id:bigint,text:string>"), p)
  }

  test("q67_winnowing: pure projection + explode — no shuffle before the fingerprint output") {
    val p = finalPlan("q67_winnowing")
    assert(nodes(p, "Generate") == 1, p)
    assert(nodes(p, "HashAggregate") == 0, p)
    assert(nodes(p, "BroadcastHashJoin") == 0 && nodes(p, "SortMergeJoin") == 0, p)
    assert(nodes(p, "Exchange") == 1, p) // Tables.parallelized only
  }

  test("q70_shuffle_shards: one hash exchange on shard + per-shard sort, never a global sort") {
    val p = finalPlan("q70_shuffle_shards")
    // the shard writer's contract: rows hash-exchange to their shard and
    // sort WITHIN it — a rangepartitioning here would mean a global sort,
    // a skew-prone single ordering no 100 TB run can afford
    assert("hashpartitioning\\(shard".r.findFirstIn(p).isDefined, p)
    assert(!p.contains("rangepartitioning"), p)
    assert(nodes(p, "Window") == 1, p)
    assert(nodes(p, "Exchange") == 2, p) // scan right-sizing + the shard exchange
    // scan prunes to the one referenced input column
    assert(p.contains("ReadSchema: struct<doc_id:bigint>"), p)
  }

  test("q71_incremental_dedup: corpus streams against broadcast batch keys, no sort-merge") {
    // FULL plan text (initial sections included): the cached batch nests an
    // adaptive plan whose Initial section would truncate finalPlan's census
    // mid-tree. q71's joins carry explicit broadcast() hints, so even the
    // pre-AQE initial plans must contain no sort-merge/cartesian — the
    // corpus side never shuffles for the admission check.
    val df = SparkEntry.queries("q71_incremental_dedup")(spark, sf)
    val p = try { df.queryExecution.toRdd.count(); df.queryExecution.executedPlan.toString }
            finally CachedFrames.drain()
    assert(nodes(p, "BroadcastHashJoin") >= 2, p) // band probe + verdict join-backs
    assert(nodes(p, "SortMergeJoin") == 0, p)
    assert(nodes(p, "CartesianProduct") == 0, p)
    // corpus-side source predicate reaches the parquet scan
    assert(p.contains("Not(EqualTo(source,src0))"), p)
  }

  test("q79_pq_encode: ONE broadcast fan-out join for all subspaces, argmin " +
    "collapses as a partial aggregation — no window, no self-joins") {
    // FULL plan text (like q71's case): the cached vector frame nests an
    // adaptive plan whose Initial section would truncate finalPlan's census
    val df = SparkEntry.queries("q79_pq_encode")(spark, sf)
    val p = try { df.queryExecution.toRdd.count(); df.queryExecution.executedPlan.toString }
            finally CachedFrames.drain()
    // the Ks-way candidate fan-out is a single broadcast hash join on the
    // subspace id (the long-format chain: M separate codebook builds and
    // an M-way code self-join would be M× the stages), and the per-(vec,
    // subspace) argmin is min(struct(d2, cell)) with a map-side
    // partial_min — a window here would shuffle the full Ks× fan-out
    // instead of one row per (vector, subspace)
    assert("BroadcastHashJoin \\[m".r.findFirstIn(p).isDefined, p)
    assert(nodes(p, "BroadcastNestedLoopJoin") == 0, p)
    assert(nodes(p, "CartesianProduct") == 0, p)
    assert(nodes(p, "SortMergeJoin") == 0, p)
    assert(nodes(p, "Window") == 0, p)
    assert(p.contains("partial_min"), p)
  }

  test("q80_pq_adc: coarse-cell candidate join + ONE broadcast LUT join on " +
    "the pair stream; one ranking window") {
    val p = finalPlan("q80_pq_adc")
    // the corpus side of the search only carries codes, and the query side
    // arrives as the fused per-query ADC lookup table: the pair stream must
    // see exactly ONE broadcast join on qid — the former M chained code_m
    // joins would each rebuild the whole pair stream
    assert("BroadcastHashJoin \\[qid".r.findAllIn(p).size == 1, p)
    assert("Join \\[code_".r.findFirstIn(p).isEmpty, p)
    assert(nodes(p, "SortMergeJoin") == 0, p)
    assert(nodes(p, "CartesianProduct") == 0, p)
    assert(nodes(p, "Window") == 1, p)
  }

  test("q81_anonymize: a pure projection — no shuffle beyond scan right-sizing") {
    val p = finalPlan("q81_anonymize")
    assert(nodes(p, "Exchange") <= 1, p) // parallelize()'s input right-sizing only
    assert(nodes(p, "HashAggregate") == 0, p)
    assert(nodes(p, "Window") == 0, p)
  }

  test("dedup_pairs: one exchange before the feature projection, each comparator once") {
    val p = finalPlan("dedup_pairs")
    // the only shuffle is Tables.parallelized's input right-sizing (reused by the
    // self-join's other side); the block join itself must not add one here
    assert(nodes(p, "Exchange") == 1, p)
    assert(nodes(p, "ReusedExchange") == 1, p)
    // exactly-once comparator evaluation: one levenshtein per feature
    // (a pushdown regression that re-evaluates per orientation doubles this)
    assert("levenshtein\\(".r.findAllIn(p).size == 2, p)
  }

  test("q106_semantic_keep: codebook broadcast, cell pairing and verdict join-back " +
      "never sort-merge, no cartesian product") {
    val p = finalPlan("q106_semantic_keep")
    // the assignment crossJoin against the k-row codebook must stay a
    // broadcast nested loop (k = 16 rows), never a real cartesian shuffle
    assert(nodes(p, "CartesianProduct") == 0, p)
    assert(nodes(p, "SortMergeJoin") == 0, p)
    assert(nodes(p, "BroadcastNestedLoopJoin") >= 1, p)
  }

  test("q108_value_drift: histogram aggregation combines map-side; day pairing " +
      "is a join, not a global sort window") {
    val p = finalPlan("q108_value_drift")
    assert(p.contains("partial_count"), p)
    // no Window operator (a lag() formulation would sort ALL days in one
    // partition); the previous-day probe must be a join
    assert(nodes(p, "Window") == 0, p)
    assert(nodes(p, "Sort") == 0 || nodes(p, "SortMergeJoin") > 0, p)
    assert(nodes(p, "CartesianProduct") == 0, p)
  }

  test("q125_knn_classify: label joins broadcast, vote combines map-side, " +
      "winner is a WindowGroupLimit — nothing past retrieval sort-merges") {
    val p = finalPlan("q125_knn_classify")
    assert(nodes(p, "SortMergeJoin") == 0, p)
    assert(p.contains("partial_count"), p) // the per-(query, label) vote
    assert(p.contains("WindowGroupLimit"), p) // winner cut, not a full sort+filter
  }

  test("q126_rolling_anomaly: one user exchange, one sort shared by the " +
      "window passes, null filters pushed to the scan") {
    val p = finalPlan("q126_rolling_anomaly")
    assert(nodes(p, "Exchange") == 1, p)
    assert(nodes(p, "Sort") == 1, p) // both window frames ride one sort
    // both null filters reach the scan (assert each individually — the
    // rendered ordering inside PushedFilters is not a behavior invariant)
    assert(p.contains("IsNotNull(value)"), p)
    assert(p.contains("IsNotNull(user_id)"), p)
    assert(nodes(p, "SortMergeJoin") == 0 && nodes(p, "CartesianProduct") == 0, p)
  }

  test("q129_quantile_normalize: the rank runs as the two-phase bucketed " +
      "rank — (source, _bkt) exchange, no bare per-source window/sort") {
    val p = finalPlan("q129_quantile_normalize")
    // the corpus-sized rank stage partitions by (source, _bkt) — B-way
    // parallel inside a dominant source, the q59 contract
    assert("hashpartitioning\\(source#\\d+, _bkt".r.findFirstIn(p).isDefined, p)
    // NO window anywhere runs on a bare source partition (the one-task
    // serialization this plan exists to kill) — every window is bucketed
    p.linesIterator.filter(_.contains("windowspecdefinition")).foreach { l =>
      assert(l.contains("_bkt"), l)
    }
    // offsets and sizes broadcast back; nothing sort-merges
    assert(nodes(p, "BroadcastHashJoin") >= 3, p)
    assert(nodes(p, "SortMergeJoin") == 0, p)
    // since r17 the scored projection reads the shared qualityScored
    // cache (one FileScan, full document schema, inside the cached plan)
    assert("FileScan parquet".r.findAllIn(p).size == 1, p)
    assert(p.contains("InMemoryTableScan") || p.contains("Scan In-memory"), p)
  }

  test("q134_rfm_segments: every rank window is bucket-partitioned — no " +
      "single-partition ntile sort anywhere (uncached plan, full tree)") {
    // built WITHOUT CachedFrames: a cached rollup whose plan carries its own
    // AdaptiveSparkPlan truncates executedPlan.toString at the nesting point
    // (Spark tree-printing quirk), hiding the rank subtrees from the pins
    val df = ops.Events.rfmOn(Tables(spark, sf, "events"), cache = false)
    df.queryExecution.toRdd.count()
    val s = df.queryExecution.executedPlan.toString
    val cut = s.indexOf("== Initial Plan ==")
    val p = if (cut >= 0) s.substring(0, cut) else s
    assert(!p.contains("ntile("), p)
    p.linesIterator.filter(_.contains("windowspecdefinition")).foreach { l =>
      assert(l.contains("_bkt"), l)
    }
    // the three metric ranks are present (one bucketed window each)
    assert(p.linesIterator.count(_.contains("windowspecdefinition")) == 3, p)
    // no global sort anywhere (a rangepartitioning exchange would mean an
    // orderBy snuck back in); the only sorts are the per-bucket window sorts
    assert(!p.contains("Exchange rangepartitioning"), p)
    // in the SHIPPED query the rollup is CachedFrames-tracked, so the
    // per-branch rollup exchanges visible here collapse to one cached scan
    // (EventsSpec pins value equality; the cache contract is Bench-audited)
  }

  test("q135_bitext_margin: one bounded-batch cross join, top-k pushed " +
      "into WindowGroupLimit, one src exchange, map-side collect_list") {
    val p = finalPlan("q135_bitext_margin")
    // the declared bounded-batch brute pass: exactly ONE nested-loop join
    // (queries × target side); a second would mean a duplicated corpus pass
    assert(nodes(p, "BroadcastNestedLoopJoin") == 1, p)
    assert(nodes(p, "SortMergeJoin") == 0, p)
    // rk <= MarginK is pushed down as a group-limit BEFORE the shuffle —
    // only ≤ K rows per query reach the src_id exchange
    assert(p.contains("WindowGroupLimit"), p)
    // one hash exchange (src_id) + the scan right-sizing round-robin
    assert(nodes(p, "Exchange") == 2, p)
    assert(p.contains("RoundRobinPartitioning"), p)
    assert(p.contains("partial_collect_list"), p)
  }

  test("q136_matryoshka_recall: ONE stacked queries×corpus pass ranks all " +
      "prefix levels — a single (d, id1) exchange, group-limit pushdown") {
    val p = finalPlan("q136_matryoshka_recall")
    // exactly one (d, query) rank exchange: all levels ride the same
    // stacked frame; a second would mean the crossJoin ran per level
    assert("hashpartitioning\\(d#\\d+, id1#\\d+L".r.findAllIn(p).size == 1, p)
    assert(p.contains("WindowGroupLimit"), p)
    assert(nodes(p, "SortMergeJoin") == 0, p)
    // two nested-loop joins: the queries×corpus pass and the 1-row
    // n_truth broadcast — nothing else may cartesian
    assert(nodes(p, "BroadcastNestedLoopJoin") == 2, p)
  }

  test("q137_l_diversity: one groupBy with expand-based count-distinct — " +
      "both phases partial-aggregated, no joins") {
    val p = finalPlan("q137_l_diversity")
    // the two-phase distinct expand: (qi, sensitive) partials, then the
    // (qi) rollup — every phase combines map-side before its exchange
    assert(nodes(p, "HashAggregate") >= 4, p)
    assert(p.contains("partial_count"), p)
    assert(p.contains("count(distinct"), p)
    assert(nodes(p, "Exchange") == 3, p) // round-robin + the two phases
    assert(nodes(p, "BroadcastHashJoin") == 0, p)
    assert(nodes(p, "SortMergeJoin") == 0, p)
  }

  test("q138_stickiness: presence distinct is the only corpus-sized " +
      "exchange; the trailing window is a broadcast range join (uncached " +
      "plan, full tree)") {
    val df = ops.Events.stickinessOn(Tables(spark, sf, "events"), cache = false)
    df.queryExecution.toRdd.count()
    val s = df.queryExecution.executedPlan.toString
    val cut = s.indexOf("== Initial Plan ==")
    val p = if (cut >= 0) s.substring(0, cut) else s
    // the WAU trailing window joins presence against the |days| frame via
    // BROADCAST (non-equi range condition) — never a sort-merge or shuffle
    // of the presence stream for the window
    assert(nodes(p, "BroadcastNestedLoopJoin") == 1, p)
    assert(nodes(p, "SortMergeJoin") == 0, p)
    assert(!p.contains("CartesianProduct"), p)
    // corpus-sized hash exchanges: the (day, user) distinct (×2 here only
    // because cache=false replans it per branch) + the two |days|-bounded
    // rollups; nothing exchanges on raw events
    assert("hashpartitioning\\(day#\\d+L, user_id#\\d+L".r
      .findAllIn(p).size == 2, p)
  }

  test("q139_hapax_ttr: two compact-key exchanges — (source, token) counts " +
      "then the |sources| rollup — and the text never shuffles") {
    val p = finalPlan("q139_hapax_ttr")
    assert(nodes(p, "Generate") == 1, p) // the single token explode
    // (source, w) count + (source) rollup; + the scan round-robin
    assert(p.linesIterator.count(_.contains("Exchange hashpartitioning")) == 2, p)
    assert(nodes(p, "Exchange") == 3, p)
    assert(p.contains("partial_count"), p)
    assert(p.contains("partial_sum"), p)
    assert(nodes(p, "SortMergeJoin") == 0, p)
    // the exploded text column is consumed by the first aggregate — no
    // window, no join ever sees raw tokens
    assert(nodes(p, "Window") == 0, p)
  }

  test("q140_length_percentiles: bucketed rank (no bare per-source " +
      "window), broadcast sizes, conditional-max rollup combines map-side") {
    val p = finalPlan("q140_length_percentiles")
    assert("hashpartitioning\\(source#\\d+, _bkt".r.findFirstIn(p).isDefined, p)
    p.linesIterator.filter(_.contains("windowspecdefinition")).foreach { l =>
      assert(l.contains("_bkt"), l)
    }
    assert(p.contains("partial_max(CASE WHEN"), p) // the percentile rollup
    assert(nodes(p, "SortMergeJoin") == 0, p)
    assert(nodes(p, "BroadcastHashJoin") >= 3, p) // bounds, offsets, sizes
  }

  test("q141_activity_trend: two compact-key exchanges, all five sums " +
      "partial-aggregated, no window/sort/join") {
    val p = finalPlan("q141_activity_trend")
    assert(nodes(p, "Exchange") == 2, p) // (user, day) then (user)
    assert(p.contains("partial_sum"), p)
    assert(nodes(p, "Window") == 0 && nodes(p, "Sort") == 0, p)
    assert(nodes(p, "BroadcastHashJoin") == 0 &&
      nodes(p, "SortMergeJoin") == 0, p)
    assert(p.contains("PushedFilters: [IsNotNull(user_id)]"), p)
  }

  test("q142_token_gini: the q139 shape — (source, token) count then the " +
      "|sources| rollup with the decimal sum riding the same pass") {
    val p = finalPlan("q142_token_gini")
    assert(nodes(p, "Generate") == 1, p)
    assert(p.linesIterator.count(_.contains("Exchange hashpartitioning")) == 2, p)
    assert(nodes(p, "Exchange") == 3, p)
    assert(p.contains("partial_sum"), p)
    assert(nodes(p, "Window") == 0, p)
    assert(nodes(p, "SortMergeJoin") == 0, p)
  }

  test("q144_t_closeness: the audit grid is built from aggregation outputs " +
      "— broadcast cross/hash joins only, term sum combines map-side") {
    val p = finalPlan("q144_t_closeness")
    // segments and the 1-row total broadcast into the grid; the class-seg
    // counts join by hash — the release projection itself never re-joins
    assert(nodes(p, "BroadcastNestedLoopJoin") == 2, p)
    assert(nodes(p, "BroadcastHashJoin") >= 1, p)
    assert(nodes(p, "SortMergeJoin") == 0, p)
    assert(p.contains("partial_sum"), p)
  }

  /** Count Exchange nodes (standalone, not Reused) whose key contains
    * `key` — the "this shuffle is computed once" pin. */
  private def hashExchanges(plan: String, key: String): Int =
    plan.linesIterator.count { line =>
      val t = line.dropWhile(c => c.isWhitespace || ":+-|".contains(c))
      val tok = (if (t.startsWith("*(")) t.dropWhile(_ != ')').drop(1) else t).trim
      tok.startsWith("Exchange hashpartitioning(") && tok.contains(key)
    }

  test("q146_textrank: iterate-on-the-edge-list — co-occurrence counts and " +
      "round sums combine map-side, node count rides one broadcast, top-k " +
      "is TakeOrderedAndProject") {
    val p = finalPlan("q146_textrank")
    assert(nodes(p, "CartesianProduct") == 0, p)
    assert(p.contains("partial_count") && p.contains("partial_sum"), p)
    // the 1-row nn broadcast (r18: each round re-attaches nn via the
    // broadcast instead of a node-keyed join-back to the previous rank
    // frame — earlier rounds' broadcasts sit inside materialized
    // ShuffleQueryStages the final-plan section hides, so count ≥ 1 and
    // pin the ABSENCE of any shuffled join, which is what the join-back
    // used to be)
    assert(nodes(p, "BroadcastNestedLoopJoin") >= 1, p)
    assert(nodes(p, "SortMergeJoin") == 0 &&
      nodes(p, "ShuffledHashJoin") == 0, p)
    assert(nodes(p, "TakeOrderedAndProject") == 1, p)
    assert(nodes(p, "Window") == 0 && nodes(p, "Generate") == 1, p)
  }

  test("q147_phrase_search: the phrase table broadcasts into every " +
      "positional probe — no shuffled or quadratic join touches postings") {
    val p = finalPlan("q147_phrase_search")
    assert(nodes(p, "BroadcastHashJoin") == 3, p) // phrase + two adjacency
    assert(nodes(p, "SortMergeJoin") == 0, p)
    assert(nodes(p, "CartesianProduct") == 0, p)
    assert(p.contains("partial_count"), p)
  }

  test("q148_ewma: one daily-rollup exchange + one per-user window " +
      "exchange; both window passes share the user partition") {
    val p = finalPlan("q148_ewma")
    assert(hashExchanges(p, "user_id") == 2, p)
    assert(nodes(p, "Exchange") == 2, p)
    assert(nodes(p, "Window") == 2, p) // the tap chain + the n_days/max pass
    assert(p.contains("partial_count"), p)
    assert(p.contains("PushedFilters: [IsNotNull(user_id)]"), p)
  }

  test("q143_mmr_select pool stage: ONE bounded-batch nested-loop pass " +
      "with the rank filter pushed into WindowGroupLimit, no cartesian") {
    // the greedy rounds are driver-round actions (no single executed plan
    // exists — see q143MmrSelect scaladoc); the pool is the only
    // corpus-sized stage, so it carries the pin
    val df = ops.Embeddings.mmrPool(spark, sf)
    try {
      df.queryExecution.toRdd.count()
      val s = df.queryExecution.executedPlan.toString
      val cut = s.indexOf("== Initial Plan ==")
      val p = if (cut >= 0) s.substring(0, cut) else s
      assert(nodes(p, "BroadcastNestedLoopJoin") == 1, p) // 8-query batch side
      assert(nodes(p, "CartesianProduct") == 0, p)
      assert(nodes(p, "WindowGroupLimit") >= 1, p) // rk<=PoolK pushed down
      assert(nodes(p, "SortMergeJoin") == 0, p)
    } finally CachedFrames.drain()
  }

  test("q145_triangle_count: wedge + closing joins are key-equi over the " +
      "edge list (never cartesian), per-node tallies combine map-side") {
    val p = finalPlan("q145_triangle_count")
    assert(nodes(p, "CartesianProduct") == 0, p)
    assert(nodes(p, "BroadcastNestedLoopJoin") == 0, p)
    assert(p.contains("partial_count"), p)
    // the a<b<c orientation makes both triangle joins equi-joins: the
    // wedge join keys on b, the closing join on (a, c)
    assert(nodes(p, "BroadcastHashJoin") + nodes(p, "ShuffledHashJoin")
      + nodes(p, "SortMergeJoin") >= 3, p) // wedge + closing + deg left-join
  }

  test("q166_substr_dedup: grams build per-row (one Generate, no " +
      "self-join), gram rollup combines map-side, postings join is " +
      "key-equi, coverage window partitions per doc") {
    // cache = false: the tracked frame's nested AdaptiveSparkPlan truncates
    // the plan text, hiding the rollup subtree (q134/q138 seam)
    val df = ops.TextOps.substrDedupOn(
      Tables(spark, sf, "documents"), cache = false)
    try {
      df.queryExecution.toRdd.count()
      val s = df.queryExecution.executedPlan.toString
      val cut = s.indexOf("== Initial Plan ==")
      val p = if (cut >= 0) s.substring(0, cut) else s
      assert(nodes(p, "CartesianProduct") == 0, p)
      assert(nodes(p, "BroadcastNestedLoopJoin") == 0, p)
      assert(p.contains("partial_min"), p) // packed-site min combines map-side
      // the sites explode feeds BOTH the gram rollup and the join-back
      // probe — two Generates over the (cached) token arrays by design:
      // re-running the codegen explode is cheaper than caching Σ-tokens of
      // gram strings; anything >2 would mean a third corpus pass appeared
      assert(nodes(p, "Generate") == 2, p)
      assert(!p.contains("windowspecdefinition(ORDER BY"), p) // per-doc only
    } finally CachedFrames.drain()
  }

  test("q167_score_auc: rollups combine map-side, the rank + prefix sum " +
      "run bucketed — no global-order window, and every single-partition " +
      "exchange is a 1-row rollup fed by a partial aggregate") {
    val p = finalPlan("q167_score_auc")
    // the DistRank/prefix-sum windows must partition by _bkt, never a bare
    // global ORDER BY (the one-task sort this query exists to avoid)
    assert(!p.contains("windowspecdefinition(ORDER BY"), p)
    assert(p.contains("windowspecdefinition(_bkt"), p)
    // SinglePartition exchanges are fine ONLY as global-agg funnels: each
    // must sit directly on a partial HashAggregate (≤ #partitions rows)
    val lines = p.linesIterator.toVector
    lines.zipWithIndex.filter(_._1.contains("Exchange SinglePartition"))
      .foreach { case (_, i) =>
        assert(lines.drop(i + 1).take(2).exists(_.contains("partial_")),
          lines.slice(i, i + 3).mkString("\n"))
      }
    assert(p.contains("partial_sum"), p)
    assert(nodes(p, "CartesianProduct") == 0, p)
  }

  test("q185_score_ap: the packed prefix sum runs bucketed ONCE with no " +
      "global-order window, its offsets branch rides ReusedExchange, " +
      "every single-partition exchange is a partial-agg funnel") {
    val p = finalPlan("q185_score_ap")
    assert(!p.contains("windowspecdefinition(ORDER BY"), p)
    assert(p.contains("windowspecdefinition(_bkt"), p)
    // ONE packed prefix-sum engine: ≤3 _bkt exchanges (DistRank's rank
    // bucketing + the engine's local and offsets passes); a second engine
    // (the pre-pack shape) pushes this to 5+
    assert(hashExchanges(p, "_bkt") <= 3, p)
    // branch dedup: pre-r17 the offsets branch rode ReusedExchange; the
    // shared qualityDigestCounts/ranked caches now carry that reuse as
    // TableCacheQueryStage reads (same sharing, cache-mediated)
    assert(nodes(p, "ReusedExchange") >= 1
      || p.contains("TableCacheQueryStage") || p.contains("InMemoryTableScan"), p)
    val lines = p.linesIterator.toVector
    lines.zipWithIndex.filter(_._1.contains("Exchange SinglePartition"))
      .foreach { case (_, i) =>
        assert(lines.drop(i + 1).take(2).exists(_.contains("partial_")),
          lines.slice(i, i + 3).mkString("\n"))
      }
    assert(p.contains("partial_sum"), p)
    assert(nodes(p, "CartesianProduct") == 0, p)
  }

  test("q187_vocab_richness: one token explode, map-side type count, " +
      "count-of-counts funnels through a partial agg — nothing " +
      "vocabulary-sized broadcasts") {
    val p = finalPlan("q187_vocab_richness")
    assert(nodes(p, "Generate") == 1, p)
    assert(nodes(p, "CartesianProduct") == 0, p)
    assert(nodes(p, "BroadcastNestedLoopJoin") == 0, p)
    assert(nodes(p, "BroadcastExchange") == 0, p)
    assert(p.contains("partial_count"), p)
    val lines = p.linesIterator.toVector
    lines.zipWithIndex.filter(_._1.contains("Exchange SinglePartition"))
      .foreach { case (_, i) =>
        assert(lines.drop(i + 1).take(2).exists(_.contains("partial_")),
          lines.slice(i, i + 3).mkString("\n"))
      }
  }

  test("q188_quality_ks: the packed prefix sum runs bucketed ONCE (no " +
      "global-order window) with its ReusedExchange, totals ride a 1-row " +
      "broadcast") {
    val p = finalPlan("q188_quality_ks")
    assert(!p.contains("windowspecdefinition(ORDER BY"), p)
    assert(p.contains("windowspecdefinition(_bkt"), p)
    // ≤3 _bkt exchanges = one packed engine (see the q185 pin)
    assert(hashExchanges(p, "_bkt") <= 3, p)
    // branch dedup rides the shared qualityScored cache since r17 (see
    // the q185 pin's comment)
    assert(nodes(p, "ReusedExchange") >= 1
      || p.contains("TableCacheQueryStage") || p.contains("InMemoryTableScan"), p)
    assert(nodes(p, "CartesianProduct") == 0, p)
    assert(p.contains("partial_sum"), p)
  }

  test("q189_token_gini: the rank runs bucketed (no global-order window), " +
      "the count is a 1-row broadcast, one moment rollup funnels " +
      "partial aggs") {
    val p = finalPlan("q189_token_gini")
    assert(!p.contains("windowspecdefinition(ORDER BY"), p)
    assert(p.contains("windowspecdefinition(_bkt"), p)
    assert(nodes(p, "CartesianProduct") == 0, p)
    // nested-loop joins are fine here ONLY as 1-row broadcasts: the
    // declared totals join plus DistRank's own bounds/offsets broadcasts —
    // all build sides are 1-row aggregates, never a data-sized frame
    assert(nodes(p, "BroadcastNestedLoopJoin") <= 5, p)
    assert(p.contains("partial_sum"), p)
  }

  test("q190_spend_mwu: the rank-sum prefix pass runs bucketed with its " +
      "ReusedExchange, no global-order window, 1-row rollups funnel " +
      "partial aggs") {
    val p = finalPlan("q190_spend_mwu")
    assert(!p.contains("windowspecdefinition(ORDER BY"), p)
    assert(p.contains("windowspecdefinition(_bkt"), p)
    assert(nodes(p, "ReusedExchange") >= 1, p)
    assert(nodes(p, "CartesianProduct") == 0, p)
    assert(p.contains("partial_sum"), p)
    val lines = p.linesIterator.toVector
    lines.zipWithIndex.filter(_._1.contains("Exchange SinglePartition"))
      .foreach { case (_, i) =>
        assert(lines.drop(i + 1).take(2).exists(_.contains("partial_")),
          lines.slice(i, i + 3).mkString("\n"))
      }
  }

  test("q192_centroid_coherence: one dim explode feeds a map-side " +
      "(label, dim) rollup; the global centroid rolls up THAT, never " +
      "re-scanning vectors; cosine is a tiny dim-keyed join") {
    // cache = false: the tracked (label, dim) frame's nested
    // AdaptiveSparkPlan truncates the plan text (q166's seam)
    val df = ops.Embeddings.centroidCoherenceOn(
      Tables(spark, sf, "embeddings"), cache = false)
    try {
      df.queryExecution.toRdd.count()
      val s = df.queryExecution.executedPlan.toString
      val cut = s.indexOf("== Initial Plan ==")
      val p = if (cut >= 0) s.substring(0, cut) else s
      // the (label, dim) rollup is consumed twice (global centroid +
      // cosine join): UNCACHED (this seam) its explode subtree prints
      // twice; the SHIPPED query tracks it, so the explode runs once —
      // anything >2 would mean a third corpus pass appeared
      assert(nodes(p, "Generate") == 2, p)
      assert(nodes(p, "CartesianProduct") == 0, p)
      assert(nodes(p, "BroadcastNestedLoopJoin") == 0, p)
      assert(p.contains("partial_sum"), p)
      // ≤3 embeddings scans in the uncached seam: the duplicated explode
      // pass + the per-label count
      assert("FileScan parquet".r.findAllIn(p).size <= 3, p)
    } finally CachedFrames.drain()
  }

  test("q195_join_fanout: four map-side child rollups union into ONE " +
      "grouped bucketed rank — no global-order window, no cartesian, " +
      "sizes ride a broadcast") {
    val p = finalPlan("q195_join_fanout")
    assert(!p.contains("windowspecdefinition(ORDER BY"), p)
    assert(p.contains("windowspecdefinition(edge"), p) // per-edge bucketed
    assert(nodes(p, "CartesianProduct") == 0, p)
    assert(p.contains("partial_count"), p)
    assert(nodes(p, "BroadcastHashJoin") >= 1, p) // the sizes broadcast
  }

  test("q168_mrr: the only nested-loop is the declared bounded query " +
      "batch; hit join is key-equi; 1-row rollups funnel partial aggs") {
    val p = finalPlan("q168_mrr")
    assert(nodes(p, "CartesianProduct") == 0, p)
    assert(p.contains("partial_count") || p.contains("partial_sum"), p)
    assert(nodes(p, "SortMergeJoin") == 0, p)
  }

  test("q169_binary_ann: codes build shuffle-free, the scan pass is the " +
      "one declared bounded-batch nested loop, rank pushes into " +
      "WindowGroupLimit") {
    val p = finalPlan("q169_binary_ann")
    assert(nodes(p, "CartesianProduct") == 0, p)
    assert(nodes(p, "BroadcastNestedLoopJoin") == 1, p) // 500-query batch
    assert(nodes(p, "WindowGroupLimit") >= 1, p)
    assert(nodes(p, "SortMergeJoin") == 0, p)
  }

  test("q170_link_predict: wedge join and both degree joins are key-equi " +
      "over the edge list; candidate counts combine map-side") {
    val p = finalPlan("q170_link_predict")
    assert(nodes(p, "CartesianProduct") == 0, p)
    assert(nodes(p, "BroadcastNestedLoopJoin") == 0, p)
    assert(p.contains("partial_count"), p)
  }

  test("q171_mde: one user-keyed collapse feeds a 1-row both-variant " +
      "rollup — no window, no join, nothing after the collapse scales") {
    val p = finalPlan("q171_mde")
    assert(hashExchanges(p, "user_id") == 1, p)
    assert(nodes(p, "Window") == 0, p)
    assert(nodes(p, "SortMergeJoin") + nodes(p, "BroadcastHashJoin")
      + nodes(p, "ShuffledHashJoin") + nodes(p, "BroadcastNestedLoopJoin")
      + nodes(p, "CartesianProduct") == 0, p)
    assert(p.contains("partial_sum"), p)
  }

  test("q172_gate_kappa: two per-row gate projections, one doc-keyed " +
      "join, one 1-row partial-agg rollup — no window, no second pass") {
    val p = finalPlan("q172_gate_kappa")
    assert(nodes(p, "CartesianProduct") == 0, p)
    assert(nodes(p, "Window") == 0, p)
    assert(p.contains("partial_count"), p)
    assert(nodes(p, "SortMergeJoin") + nodes(p, "ShuffledHashJoin")
      + nodes(p, "BroadcastHashJoin") == 1, p) // the one doc-keyed join
  }

  test("q173_spearman: both axes rank in ONE grouped bucketed layout (no " +
      "global-ORDER window), single-partition exchanges are partial-agg " +
      "funnels only") {
    val p = finalPlan("q173_spearman")
    assert(!p.contains("windowspecdefinition(ORDER BY"), p)
    assert(p.contains("windowspecdefinition(_axis"), p)
    val lines = p.linesIterator.toVector
    lines.zipWithIndex.filter(_._1.contains("Exchange SinglePartition"))
      .foreach { case (_, i) =>
        assert(lines.drop(i + 1).take(2).exists(_.contains("partial_")),
          lines.slice(i, i + 3).mkString("\n"))
      }
    assert(nodes(p, "CartesianProduct") == 0, p)
  }

  test("q174_spend_mad: one user collapse feeds both bucketed rank " +
      "passes; no global-ORDER window, funnels are partial-agg only") {
    val p = finalPlan("q174_spend_mad")
    assert(hashExchanges(p, "user_id") == 1, p)
    assert(!p.contains("windowspecdefinition(ORDER BY"), p)
    assert(p.contains("windowspecdefinition(_bkt"), p)
    assert(nodes(p, "CartesianProduct") == 0, p)
  }

  test("q175_jl_distortion: projections build map-side, the pair pass is " +
      "the declared bounded batch, the percentile rank runs bucketed") {
    val p = finalPlan("q175_jl_distortion")
    assert(nodes(p, "CartesianProduct") == 0, p)
    assert(nodes(p, "BroadcastNestedLoopJoin") >= 1, p) // bounded pair batch
    assert(!p.contains("windowspecdefinition(ORDER BY"), p)
    assert(p.contains("windowspecdefinition(_bkt"), p)
    assert(nodes(p, "SortMergeJoin") == 0, p)
  }

  test("q176_calibration: digest rollup combines map-side, the decile " +
      "rank runs bucketed — no global-ORDER window, no cartesian") {
    val p = finalPlan("q176_calibration")
    assert(!p.contains("windowspecdefinition(ORDER BY"), p)
    assert(p.contains("windowspecdefinition(_bkt"), p)
    assert(p.contains("partial_count"), p)
    assert(nodes(p, "CartesianProduct") == 0, p)
  }

  test("q239_brier_calibration: q176's layout carried — the decile rank " +
      "runs bucketed, no global-ORDER window, no cartesian beyond the " +
      "broadcast 1-row summaries") {
    val p = finalPlan("q239_brier_calibration")
    assert(!p.contains("windowspecdefinition(ORDER BY"), p)
    assert(p.contains("windowspecdefinition(_bkt"), p)
    assert(p.contains("partial_count"), p)
    assert(nodes(p, "CartesianProduct") == 0, p)
  }

  test("q241_dup_trend: the decile rank runs bucketed (q176's layout), " +
      "no global-ORDER window, no cartesian") {
    val p = finalPlan("q241_dup_trend")
    assert(!p.contains("windowspecdefinition(ORDER BY"), p)
    assert(p.contains("windowspecdefinition(_bkt"), p)
    assert(nodes(p, "CartesianProduct") == 0, p)
  }

  test("q242_term_burstiness: the top-K cut is the bucketed rank (no " +
      "global-ORDER window), term rollup funnels partial aggs, no " +
      "cartesian") {
    val p = finalPlan("q242_term_burstiness")
    assert(!p.contains("windowspecdefinition(ORDER BY"), p)
    assert(p.contains("windowspecdefinition(_bkt"), p)
    assert(p.contains("partial_count"), p)
    assert(nodes(p, "CartesianProduct") == 0, p)
  }

  test("q243_rfm_segments: all three quintile cuts rank in ONE grouped " +
      "bucketed layout (no global-ORDER window anywhere in the full " +
      "plan), segment rollup funnels partial aggs, no cartesian") {
    val (p, full) = finalAndFull("q243_rfm_segments")
    assert(!full.contains("windowspecdefinition(ORDER BY"), full.take(4000))
    assert(full.contains("windowspecdefinition(_axis"), full.take(4000))
    assert(full.contains("partial_count"), full.take(4000))
    assert(nodes(p, "CartesianProduct") == 0, p)
  }

  test("q244_basket_lift: the pair join keys on the orderkey (basket-" +
      "bounded, no cartesian), part counts join back keyed, no window") {
    val p = finalPlan("q244_basket_lift")
    assert(nodes(p, "CartesianProduct") == 0, p)
    assert(nodes(p, "Window") == 0, p)
    assert(p.contains("partial_count"), p)
  }

  test("q246_supplier_reliability: one key-projected join + a per-supplier " +
      "map-side rollup — no window, no cartesian") {
    val p = finalPlan("q246_supplier_reliability")
    assert(nodes(p, "Window") == 0, p)
    assert(nodes(p, "CartesianProduct") == 0, p)
    assert(p.contains("partial_count"), p)
  }

  test("q247_mad_outlier_days: both median picks rank bucketed (no " +
      "global-ORDER window anywhere in the full plan), no cartesian") {
    val (p, full) = finalAndFull("q247_mad_outlier_days")
    assert(!full.contains("windowspecdefinition(ORDER BY"), full.take(4000))
    assert(full.contains("windowspecdefinition(_bkt"), full.take(4000))
    assert(nodes(p, "CartesianProduct") == 0, p)
  }

  test("q177_benford: one <=9-group map-side rollup + a 1-row total + the " +
      "9-row literal grid — no window, no sort-merge") {
    val p = finalPlan("q177_benford")
    assert(nodes(p, "Window") == 0, p)
    assert(p.contains("partial_count"), p)
    assert(nodes(p, "SortMergeJoin") == 0, p)
    assert(nodes(p, "CartesianProduct") == 0, p)
  }

  test("q178_binary_recall: only the declared bounded-batch nested loops " +
      "(truth + code scan); every other join keys on qid over the " +
      "bounded batch") {
    val p = finalPlan("q178_binary_recall")
    assert(nodes(p, "CartesianProduct") == 0, p)
    // the roster left-join and hit join are qid-keyed over ≤|queries| rows
    // (the hits tally sits under the truth cache's truncated subtree, so
    // partial_count is not visible in this plan text)
    assert(p.contains("Join [qid"), p)
    assert(nodes(p, "SortMergeJoin") <= 1, p) // bounded-batch roster join
  }

  test("q179_fk_orphans: every edge is one pass — child LEFT-joins the " +
      "deduped parent keys, tallies combine map-side, no second scan") {
    val p = finalPlan("q179_fk_orphans")
    assert(nodes(p, "CartesianProduct") == 0, p)
    assert(nodes(p, "BroadcastNestedLoopJoin") == 0, p)
    assert(p.contains("partial_count"), p)
    assert(nodes(p, "BroadcastHashJoin") + nodes(p, "ShuffledHashJoin")
      + nodes(p, "SortMergeJoin") == 4, p) // exactly the four FK edges
  }

  test("q180_neyman_alloc: one map-side per-source moment rollup; the " +
      "only window ranks the <=|sources| apportionment frame (bounded by " +
      "schema, not data)") {
    val p = finalPlan("q180_neyman_alloc")
    assert(nodes(p, "CartesianProduct") == 0, p)
    assert(p.contains("partial_count"), p)
    assert(nodes(p, "Window") == 1, p) // the remainder ranking only
  }

  test("q181_churn_labels: one (user, week) map-side rollup; the label " +
      "join keys on (user, week+1) over the cached rollup — no window, " +
      "no events-squared anything") {
    val p = finalPlan("q181_churn_labels")
    assert(nodes(p, "CartesianProduct") == 0, p)
    assert(nodes(p, "Window") == 0, p)
    assert(p.contains("partial_count"), p)
    assert(nodes(p, "BroadcastNestedLoopJoin") == 1, p) // 1-row max-week
  }

  test("q182_fleiss_kappa: the q172 shape — gate projections joined " +
      "doc-keyed into one 1-row partial-agg rollup, no window") {
    val p = finalPlan("q182_fleiss_kappa")
    assert(nodes(p, "CartesianProduct") == 0, p)
    assert(nodes(p, "Window") == 0, p)
    assert(p.contains("partial_count"), p)
  }

  test("q183_substr_savings: q166's plan plus one doc-keyed source join " +
      "and a map-side |sources| rollup — nothing new that scales") {
    val p = finalPlan("q183_substr_savings")
    assert(nodes(p, "CartesianProduct") == 0, p)
    assert(nodes(p, "BroadcastNestedLoopJoin") == 0, p)
    assert(p.contains("partial_count") || p.contains("partial_sum"), p)
  }

  test("q184_substr_apply: q166's core (per-row grams, map-side site min, " +
      "equi postings join) plus per-doc spans and a codegen array rebuild — " +
      "no third corpus explode, no global-order window") {
    // cache = false: the tracked sized frame's nested AdaptiveSparkPlan
    // truncates the plan text (q166's seam)
    val df = ops.TextOps.substrApplyOn(
      Tables(spark, sf, "documents"), cache = false)
    try {
      df.queryExecution.toRdd.count()
      val s = df.queryExecution.executedPlan.toString
      val cut = s.indexOf("== Initial Plan ==")
      val p = if (cut >= 0) s.substring(0, cut) else s
      assert(nodes(p, "CartesianProduct") == 0, p)
      assert(nodes(p, "BroadcastNestedLoopJoin") == 0, p)
      assert(p.contains("partial_min"), p) // packed-site min combines map-side
      // sites explode feeds the rollup and the join-back probe — exactly
      // q166's two Generates; the rebuild itself is array HOFs, not a join
      assert(nodes(p, "Generate") == 2, p)
      assert(!p.contains("windowspecdefinition(ORDER BY"), p) // per-doc only
    } finally CachedFrames.drain()
  }

  test("q149_hits: both propagation rounds are key-joins + map-side " +
      "combined sums over the cached edge list — nothing quadratic") {
    val p = finalPlan("q149_hits")
    assert(nodes(p, "CartesianProduct") == 0, p)
    assert(nodes(p, "SortMergeJoin") == 0, p)
    assert(nodes(p, "BroadcastNestedLoopJoin") == 1, p) // the 1-row totals
    assert(p.contains("partial_count"), p)
  }

  test("q150_pps_sample: the bucketed prefix-sum shuffle is computed ONCE " +
      "(offsets branch rides ReusedExchange), total is a thin pushed " +
      "aggregate, payload re-attaches by broadcast probe") {
    val p = finalPlan("q150_pps_sample")
    assert(hashExchanges(p, "_bkt") == 1, p)
    assert(nodes(p, "ReusedExchange") == 1, p)
    assert(p.contains("partial_sum"), p)
    // the total branch scans ONE column, never re-running the prefix pass
    assert(p.contains("ReadSchema: struct<n_chars:bigint>"), p)
    assert(nodes(p, "BroadcastHashJoin") >= 1, p)
    assert(nodes(p, "CartesianProduct") == 0, p)
  }

  test("q151_cusum: the corpus collapses in one map-side (type, day) " +
      "rollup; every window runs on the calendar-bounded series") {
    val p = finalPlan("q151_cusum")
    assert(p.contains("partial_count"), p)
    assert(nodes(p, "CartesianProduct") == 0, p)
    assert(nodes(p, "SortMergeJoin") == 0, p)
    // all windows partition by event_type — none global
    assert(!p.contains("windowspecdefinition(ORDER BY"), p)
    assert(nodes(p, "BroadcastHashJoin") == 1, p) // mx joins back broadcast
  }

  test("q152_itemsets: one distinct collapse feeds both basket joins; " +
      "supports combine map-side") {
    val p = finalPlan("q152_itemsets")
    assert(nodes(p, "CartesianProduct") == 0, p)
    assert(p.contains("partial_count"), p)
    assert(hashExchanges(p, "user_id") == 1, p) // the distinct collapse
  }

  test("q153_assortativity: degree joins stay key-equi, all five moments " +
      "combine map-side into a 1-row result") {
    val p = finalPlan("q153_assortativity")
    assert(nodes(p, "CartesianProduct") == 0, p)
    assert(p.contains("partial_sum"), p)
    assert(nodes(p, "Window") == 0 && nodes(p, "Sort") == 0, p)
  }

  test("q154_bigram_novelty: first-occurrence rollup combines map-side, " +
      "join back is bigram-keyed — the text explodes once") {
    val p = finalPlan("q154_bigram_novelty")
    assert(nodes(p, "CartesianProduct") == 0, p)
    // the first-occurrence table joins back on the bigram key (its
    // min-rollup subtree sits on the truncated build side of the cache)
    assert(p.contains("Join [w1"), p)
    assert(p.contains("partial_count"), p)
    assert(nodes(p, "Generate") <= 1, p) // one posexplode (cached reuse)
  }

  test("q155_conversion_lag: one per-user collapse feeds rank, offsets " +
      "and count; the global percentile is the bucketed rank, not a " +
      "single-partition sort") {
    val p = finalPlan("q155_conversion_lag")
    assert(hashExchanges(p, "_bkt") == 1, p)
    assert(!p.contains("Exchange SinglePartition, ENSURE_REQUIREMENTS"), p)
    assert(nodes(p, "CartesianProduct") == 0, p)
    assert(nodes(p, "SortMergeJoin") == 0, p)
  }

  test("q156_kcore: every peeling round is checkpoint-cut — the final plan " +
      "is one degree count over the last round's materialized edges") {
    val p = finalPlan("q156_kcore")
    // the 3-refs-per-round lineage would otherwise grow the plan 3^R-fold
    assert(p.contains("Scan ExistingRDD"), p)
    assert(p.contains("partial_count"), p)
    assert(nodes(p, "Exchange") == 1, p)
  }

  test("q157_burstiness: the gap window and the moment rollup share one " +
      "user-keyed exchange") {
    val p = finalPlan("q157_burstiness")
    assert(hashExchanges(p, "user_id") == 1, p)
    assert(nodes(p, "Exchange") == 1, p)
    assert(nodes(p, "Window") == 1, p)
    assert(p.contains("partial_sum"), p)
    assert(p.contains("PushedFilters: [IsNotNull(user_id)]"), p)
  }

  test("q158_gram_power: the Gram build explodes per-row index pairs once " +
      "and combines map-side; rounds touch only d^2-row frames with 1-row " +
      "broadcasts — the corpus never shuffles") {
    val p = finalPlan("q158_gram_power")
    assert(nodes(p, "Generate") <= 1, p)
    assert(p.contains("partial_sum"), p)
    assert(nodes(p, "CartesianProduct") == 0, p)
    assert(nodes(p, "SortMergeJoin") == 0, p)
    // every hash exchange is keyed on the dim index — nothing row-keyed
    assert(hashExchanges(p, "j#") == hashExchanges(p, "") , p)
  }

  test("q159_mutual_nn: one bounded-batch cross pass feeds BOTH direction " +
      "argmaxes as rank-1 group limits; reciprocity is a tiny equi-join") {
    val p = finalPlan("q159_mutual_nn")
    assert(nodes(p, "WindowGroupLimit") == 2, p) // both argmax directions
    assert(nodes(p, "BroadcastNestedLoopJoin") == 1, p) // the bounded batch
    assert(nodes(p, "CartesianProduct") == 0, p)
    assert(nodes(p, "SortMergeJoin") == 0, p)
  }

  test("q160_cuped: one user-keyed collapse gated by a broadcast midpoint; " +
      "pooled and variant rollups combine map-side — no window, no " +
      "quadratic join") {
    val p = finalPlan("q160_cuped")
    assert(hashExchanges(p, "user_id") == 1, p)
    assert(p.contains("partial_sum"), p)
    assert(nodes(p, "Window") == 0 && nodes(p, "Sort") == 0, p)
    assert(nodes(p, "CartesianProduct") == 0, p)
    assert(nodes(p, "SortMergeJoin") == 0, p)
  }

  test("q161_srm_check: the q138 presence shape — distinct collapse then " +
      "a |days| rollup, both map-side combined, no joins") {
    val p = finalPlan("q161_srm_check")
    assert(hashExchanges(p, "day") == 2, p)
    assert(nodes(p, "Exchange") == 2, p)
    assert(p.contains("partial_sum") && p.contains("partial_count"), p)
    assert(nodes(p, "Window") == 0, p)
    assert(nodes(p, "SortMergeJoin") == 0 &&
      nodes(p, "BroadcastHashJoin") == 0, p)
  }

  test("q162_winsorized_means: one user collapse + one 2-row variant " +
      "rollup; the pooled cap rides a broadcast — no single-partition " +
      "sort, no window in the visible plan") {
    val p = finalPlan("q162_winsorized_means")
    assert(!p.contains("Exchange SinglePartition, ENSURE_REQUIREMENTS"), p)
    assert(nodes(p, "Window") == 0, p)
    assert(nodes(p, "CartesianProduct") == 0, p)
    assert(nodes(p, "SortMergeJoin") == 0, p)
    assert(p.contains("partial_sum"), p)
  }

  test("q163_negative_table: vocabulary-sized throughout — the cached " +
      "unigram frame serves every rank/prefix branch, no quadratic join") {
    val p = finalPlan("q163_negative_table")
    // the rank + prefix engines read ONE materialized unigram cache
    // instead of re-deriving the count per branch
    assert(nodes(p, "InMemoryTableScan") >= 1, p)
    assert(nodes(p, "CartesianProduct") == 0, p)
    assert(nodes(p, "SortMergeJoin") == 0, p)
    assert(p.contains("partial_count"), p)
  }

  test("q164_cell_balance: one |cells|-key count over the shared broadcast " +
      "assignment + a 1-row total — no corpus shuffle beyond it") {
    val p = finalPlan("q164_cell_balance")
    assert(nodes(p, "CartesianProduct") == 0, p)
    assert(nodes(p, "SortMergeJoin") == 0, p)
    assert(p.contains("partial_count"), p)
    assert(hashExchanges(p, "cell") == 1, p)
  }

  test("q165_cluster_fair_sample: digest-keyed weighting feeds q150's " +
      "engine — prefix shuffle computed once, nothing quadratic") {
    val p = finalPlan("q165_cluster_fair_sample")
    assert(nodes(p, "ReusedExchange") >= 1, p)
    assert(nodes(p, "CartesianProduct") == 0, p)
    assert(nodes(p, "SortMergeJoin") == 0, p)
    assert(p.contains("partial_count"), p)
  }

  test("q110_skew_report: NO unpartitioned window anywhere — the top-10 " +
      "rank runs as the triangular join (the shape this report flags)") {
    val p = finalPlan("q110_skew_report")
    assert(nodes(p, "Window") == 0, p)
    assert(nodes(p, "TakeOrderedAndProject") >= 1, p)
    assert(nodes(p, "CartesianProduct") == 0, p)
  }

  test("q130_dim_stats: one scan, partial+final aggregation, one exchange " +
      "bounded by the dimension count") {
    val p = finalPlan("q130_dim_stats")
    assert(nodes(p, "HashAggregate") == 2, p)
    assert(p.contains("partial_sum"), p)
    // exactly one HASH exchange (64 dim keys); the other is
    // Tables.parallelized's right-sizing round-robin every embedding op pays
    assert(p.linesIterator.count(_.contains("Exchange hashpartitioning")) == 1, p)
    assert(nodes(p, "Exchange") == 2, p)
    assert(nodes(p, "Generate") == 1, p) // the single posexplode
  }

  test("q196_split_leakage: edge classification is key-equi against the " +
      "split frame; sizes and totals ride broadcasts, no cartesian") {
    val p = finalPlan("q196_split_leakage")
    assert(nodes(p, "CartesianProduct") == 0, p)
    assert(p.contains("partial_count"), p)
    assert(nodes(p, "BroadcastHashJoin") >= 2, p) // the two sizes joins
  }

  test("q197_chi2_contingency: the corpus is scanned ONCE into the cached " +
      "cells frame; margins and the grid re-read the cache, the cross is " +
      "label-space-bounded broadcasts only") {
    val p = finalPlan("q197_chi2_contingency")
    // the tracked cells frame embeds its own AdaptiveSparkPlan, which
    // truncates executedPlan.toString at the first InMemoryRelation (the
    // rfmOn lesson) — the visible prefix still proves the shape: the one
    // corpus FileScan lives inside the cells rebuild, every margin branch
    // reads the cache, and the only join machinery is broadcast-sided
    assert("FileScan parquet".r.findAllIn(p).size <= 1, p)
    assert(nodes(p, "InMemoryTableScan") >= 1, p)
    assert(p.contains("InMemoryRelation"), p)
    assert(nodes(p, "CartesianProduct") == 0, p)
    assert(p.contains("partial_count") || p.contains("partial_sum"), p)
    assert(nodes(p, "BroadcastHashJoin") >= 1, p) // the grid → cells probe
  }

  test("q198_acf: the lag pairing is a key-equi join (no range/theta " +
      "join), no window anywhere, the energy term rides a broadcast") {
    val p = finalPlan("q198_acf")
    assert(nodes(p, "CartesianProduct") == 0, p)
    assert(nodes(p, "Window") == 0, p)
    assert(nodes(p, "BroadcastHashJoin") >= 1, p) // dev ⋈ dev on day+lag
    assert(p.contains("partial_count"), p)
  }

  test("q201_rank_copula: both decile cuts rank in ONE grouped bucketed " +
      "layout (no global-ORDER window), the grid is broadcast-sided, no " +
      "cartesian") {
    val p = finalPlan("q201_rank_copula")
    assert(!p.contains("windowspecdefinition(ORDER BY"), p)
    assert(p.contains("windowspecdefinition(_axis"), p)
    assert(nodes(p, "CartesianProduct") == 0, p)
  }

  test("q205_abc_analysis: the rank and the cumulative both run bucketed " +
      "(no unpartitioned ORDER BY window), no cartesian, 3-row rollup " +
      "funnels partial aggs") {
    val p = finalPlan("q205_abc_analysis")
    assert(!p.contains("windowspecdefinition(ORDER BY"), p)
    assert(nodes(p, "CartesianProduct") == 0, p)
    assert(p.contains("partial_count") || p.contains("partial_sum"), p)
  }

  test("q200_theil_sen: the slope median ranks bucketed (no global-ORDER " +
      "window); the only nested loop is the declared calendar-bounded " +
      "pair cross") {
    val p = finalPlan("q200_theil_sen")
    assert(!p.contains("windowspecdefinition(ORDER BY"), p)
    assert(p.contains("windowspecdefinition(_bkt"), p)
    assert(nodes(p, "CartesianProduct") == 0, p)
  }

  test("q221_blocking_quality: candidate pairs stay count arithmetic " +
      "(no cartesian), block stats funnel partial aggs, no unpartitioned " +
      "ORDER BY window") {
    val p = finalPlan("q221_blocking_quality")
    assert(!p.contains("windowspecdefinition(ORDER BY"), p)
    assert(nodes(p, "CartesianProduct") == 0, p)
    assert(p.contains("partial_count") || p.contains("partial_sum"), p)
  }

  test("q223_spend_mobility: both year deciles rank in ONE grouped " +
      "bucketed layout (no global-ORDER window), the grid is broadcast " +
      "label-space, no cartesian") {
    val p = finalPlan("q223_spend_mobility")
    assert(!p.contains("windowspecdefinition(ORDER BY"), p)
    assert(p.contains("windowspecdefinition(_axis"), p)
    assert(nodes(p, "CartesianProduct") == 0, p)
  }

  test("q224_order_gap: the lag window is customer-partitioned and the " +
      "percentile rank bucketed — no unpartitioned ORDER BY window, no " +
      "cartesian") {
    val p = finalPlan("q224_order_gap")
    assert(!p.contains("windowspecdefinition(ORDER BY"), p)
    assert(p.contains("windowspecdefinition(o_custkey"), p)
    assert(nodes(p, "CartesianProduct") == 0, p)
  }

  test("q226_discount_elasticity: ONE scan into a partial+final 6-counter " +
      "funnel — no join, no window, no cartesian") {
    val p = finalPlan("q226_discount_elasticity")
    assert(p.contains("partial_sum") || p.contains("partial_count"), p)
    assert(!p.contains("windowspecdefinition"), p)
    assert(nodes(p, "CartesianProduct") == 0, p)
    assert(nodes(p, "SortMergeJoin") == 0, p)
  }
  test("q253_graph_index_df: the index build is scan → explode → " +
      "partial+final count rollup — no join, no window, no cartesian") {
    val p = finalPlan("q253_graph_index_df")
    assert(p.contains("partial_count"), p)
    assert(!p.contains("windowspecdefinition"), p)
    assert(nodes(p, "CartesianProduct") == 0, p)
  }

  test("q251/q252 binding-cap pair: posting joins stay key-equi (no " +
      "cartesian), no unpartitioned ORDER BY window in either face") {
    for (name <- Seq("q251_binding_cap_admit", "q252_binding_cap_patch")) {
      val p = finalPlan(name)
      assert(!p.contains("windowspecdefinition(ORDER BY"), s"$name\n$p")
      assert(nodes(p, "CartesianProduct") == 0, s"$name\n$p")
    }
  }

  test("q254/q255 lsh faces: banded candidate generation is an equi-join " +
      "(no cartesian), aggregation funnels partial, no window") {
    for (name <- Seq("q254_lsh_admit", "q255_minhash_calibration")) {
      val p = finalPlan(name)
      assert(!p.contains("windowspecdefinition"), s"$name\n$p")
      assert(nodes(p, "CartesianProduct") == 0, s"$name\n$p")
      assert(p.contains("partial_count") || p.contains("partial_sum"),
        s"$name\n$p")
    }
  }

  test("q256_cohort_ltv: the cumulative window is cohort-partitioned " +
      "(never global), cohort sizes broadcast back, no cartesian") {
    val (f, full) = finalAndFull("q256_cohort_ltv")
    assert(!full.contains("windowspecdefinition(ORDER BY"), full)
    assert(full.contains("windowspecdefinition(cmkey"), full)
    assert(nodes(f, "CartesianProduct") == 0, f)
    assert(f.contains("BroadcastExchange") ||
      full.contains("BroadcastExchange"), f)
  }

  test("q257_semantic_decontam: the benchmark side rides a broadcast " +
      "nested-loop (never a shuffled cartesian), no window") {
    val p = finalPlan("q257_semantic_decontam")
    assert(nodes(p, "CartesianProduct") == 0, p)
    assert(p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("windowspecdefinition"), p)
  }

  test("q258_histogram_quantiles: min/max and bin counts funnel partial " +
      "aggs, the cumulative table is a broadcast triangular join over " +
      "bin-space — no window, no shuffled cartesian") {
    val p = finalPlan("q258_histogram_quantiles")
    assert(!p.contains("windowspecdefinition"), p)
    assert(nodes(p, "CartesianProduct") == 0, p)
    assert(p.contains("partial_count") || p.contains("partial_min"), p)
  }

  test("q259_dedup_mixture_shift: rides q131's shapes (component window " +
      "partitioned, banded equi candidates) plus a broadcast 1-row " +
      "total — no global-ORDER window, no cartesian") {
    val (f, full) = finalAndFull("q259_dedup_mixture_shift")
    assert(!full.contains("windowspecdefinition(ORDER BY"), full)
    assert(nodes(f, "CartesianProduct") == 0, f)
  }
}
