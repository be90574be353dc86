package graft.dedup

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import scala.collection.mutable.ArrayBuffer
import scala.util.hashing.MurmurHash3

/** The reference's skew-managed physical strategy for the block self-join
  * (D1–D6 of SURVEY.md §2.5), Spark-native:
  *
  *   1. block stats via a pruned-scan hash aggregate (only the blocking-key
  *      columns are read — Catalyst pushes the projection to parquet);
  *   2. [[DisDedupPlanner]] on the driver over ONLY the heavy (w > τ) blocks
  *      — bounded driver memory at any scale; tiny blocks are hash-routed
  *      executor-side without ever being collected;
  *   3. triangle replication of each tuple to ≤ l_i of its block's k_i
  *      reducers via an RDD `flatMap` (the reference mapper,
  *      `DisDedupMapper.scala:12-52`) — replication factor √(2k_i), the
  *      paper's communication-optimal bound;
  *   4. per-(reducer, block) pair generation under an EXPLICIT
  *      `HashPartitioner(k)` `groupByKey` (the reference reducer +
  *      partitioner, `DisDedupReducer.scala:12-68`): L×R bipartite or S
  *      upper-triangle nested loop. This stage is deliberately RDD, not
  *      Dataset: its input is linear but its output quadratic, and any
  *      input-byte-sized partitioning decision (AQE coalescing the
  *      equivalent `groupByKey` exchange to one partition) serializes the
  *      pair generation and everything pipelined behind it — k reducers
  *      must exist because the plan says so. The shuffle carries ONLY
  *      (id, blocking-key values), never tuple payloads;
  *   5. the exactly-once guard (pair kept only in its lowest shared
  *      ordinal's block, `Compare.scala:94,106`) runs in-line in that
  *      reducer — the same first-agreeing-key-value rule the declarative
  *      plan evaluates — and the feature projection runs AFTER the typed
  *      stages as codegen'd Column expressions, from
  *      [[DedupPipeline.featuresFor]]'s join back to the source (broadcast
  *      for dimension-sized inputs, shuffle join at scale).
  *
  * Determinism: the reference draws the triangle anchor from a shared
  * `Random` whose draw order depends on partition iteration; we derive it
  * from a Murmur3 hash of (tuple id, block) instead (SURVEY.md §4.1) so
  * results are stable under re-planning. The emitted pair SET is identical.
  *
  * Output is pair-set-equal to [[DedupPipeline.pairFeatures]] — the same
  * DuckDB oracle SQL validates both. This plan is not opt-in:
  * [[DedupStrategy.pairFeaturesAuto]] picks it when one block dominates
  * the key distribution, and the declarative plan otherwise.
  */
object TrianglePipeline {

  private val sideL = "L"
  private val sideS = "S"
  private val sideR = "R"

  /** Unoriented exactly-once pair ids: (id1, id2, bk). */
  def pairs(df: DataFrame, cfg: DedupConfig, k: Int): DataFrame = {
    val spark = df.sparkSession
    val seedInt = DisDedupPlanner.Seed.toInt
    val n = cfg.blockingKeys.size
    val idType = df.schema(cfg.idColumn).dataType

    // ---- D1: stats + plan (driver holds only heavy blocks) ----------------
    val counts = DedupPipeline.blockWork(df, cfg).cache()
    val totalWork = counts.agg(coalesce(sum(col("w")), lit(0L))).head().getLong(0)
    val heavy = counts
      .filter(col("w") > DisDedupPlanner.tau(totalWork, k))
      .select("k", "v", "n")
      .collect()
      .map(r => (BKV(r.getInt(0), r.getString(1)), r.getLong(2)))
      .toSeq
    counts.unpersist()
    val plan = DisDedupPlanner
      .assign(heavy, k, totalWork = Some(totalWork))
      .map { case (b, rids) => ((b.k, b.v), rids.toArray) }
    val bplan = spark.sparkContext.broadcast(plan)

    // ---- D2+D3: triangle replication (RDD flatMap; id + key values only).
    // D4's partitioner must be EXPLICIT (the reference's custom partitioner,
    // `DisDedupPartitioner`): the routed input is tiny (linear in tuples ×
    // √(2k)) while the reducer OUTPUT is quadratic in block sizes, so any
    // input-sized partitioning decision — in particular AQE coalescing the
    // groupByKey exchange of a Dataset formulation down to one partition —
    // serializes the pair generation AND everything pipelined after it
    // (measured 5× on the sf0.1 gate). An RDD HashPartitioner(k) stage is
    // immune to that: k reducers exist because the PLAN says so, exactly as
    // in the reference.
    val kVal = k
    val src = df.select(col(cfg.idColumn).as("id") +: DedupPipeline.keyColumns(cfg): _*)
    // (rid, bk, bv) -> (side, id, bv0..bv(n-1))
    val routed = src.rdd.flatMap { row =>
      val id = row.get(0)
      val bvs = Array.tabulate(n)(i => row.getString(i + 1))
      val idStr = String.valueOf(id)
      bvs.iterator.zipWithIndex.flatMap { case (bv, i) =>
        val bk = i + 1
        def rec(rid: Int, side: String) = ((rid, bk, bv), (side, id, bvs))
        bplan.value.get((bk, bv)) match {
          case None =>
            // tiny block (w ≤ τ, never collected): stable-hash single reducer
            val rid = Math.floorMod(MurmurHash3.stringHash(s"$bk|$bv", seedInt), kVal) + 1
            Iterator.single(rec(rid, sideS))
          case Some(rids) if rids.length == 1 =>
            Iterator.single(rec(rids(0), sideS))
          case Some(rids) =>
            // multi-reducer block: anchor a ∈ [1, l], then one S (diagonal),
            // L to column cells above, R to row cells right of the diagonal
            val l = DisDedupPlanner.getL(rids.length)
            val a = Math.floorMod(MurmurHash3.stringHash(s"$idStr|$bk|$bv", seedInt), l) + 1
            val out = new ArrayBuffer[((Int, Int, String), (String, Any, Array[String]))](l)
            var p = 1
            while (p < a) {
              out += rec(rids(DisDedupPlanner.cellIndex(l, p, a)), sideL)
              p += 1
            }
            out += rec(rids(DisDedupPlanner.cellIndex(l, a, a)), sideS)
            var q = a + 1
            while (q <= l) {
              out += rec(rids(DisDedupPlanner.cellIndex(l, a, q)), sideR)
              q += 1
            }
            out.iterator
        }
      }
    }

    // ---- D4-D6: group per (reducer, block), nested-loop pair generation ---
    val pairSchema = StructType(Seq(
      StructField("ua", idType, nullable = true),
      StructField("ub", idType, nullable = true),
      StructField("bk", IntegerType, nullable = false)))
    val nVal = n
    val numParts = math.max(kVal, spark.sparkContext.defaultParallelism)
    val rawPairs = routed
      .groupByKey(new org.apache.spark.HashPartitioner(numParts))
      .flatMap { case ((_, bk, _), it) =>
        val left = new ArrayBuffer[(String, Any, Array[String])]()
        val self = new ArrayBuffer[(String, Any, Array[String])]()
        val right = new ArrayBuffer[(String, Any, Array[String])]()
        it.foreach { r =>
          r._1 match {
            case `sideL` => left += r
            case `sideR` => right += r
            case _       => self += r
          }
        }
        // exactly-once guard in-line (reference Compare.scala:94,106): the
        // lowest shared ordinal is the first position whose key values
        // agree — O(#blockingFns) string equalities, so guarded duplicates
        // never reach the shuffle-back
        def emit(out: ArrayBuffer[Row],
            r1: (String, Any, Array[String]), r2: (String, Any, Array[String])): Unit = {
          var i = 0
          var lcb = Int.MaxValue
          while (i < nVal && lcb == Int.MaxValue) {
            if (r1._3(i) == r2._3(i)) lcb = i + 1
            i += 1
          }
          if (bk == lcb) out += Row(r1._2, r2._2, bk)
        }
        val out = new ArrayBuffer[Row]()
        if (left.nonEmpty && right.nonEmpty) {
          for (r1 <- left; r2 <- right) emit(out, r1, r2)
        } else {
          var i = 0
          while (i < self.length) {
            var j = i + 1
            while (j < self.length) { emit(out, self(i), self(j)); j += 1 }
            i += 1
          }
        }
        out.iterator
      }

    // ---- orientation in codegen ------------------------------------------
    spark.createDataFrame(rawPairs, pairSchema).select(
      when(col("ua") <= col("ub"), col("ua")).otherwise(col("ub")).as("id1"),
      when(col("ua") <= col("ub"), col("ub")).otherwise(col("ua")).as("id2"),
      col("bk"))
  }

  /** End-to-end: equivalent to [[DedupPipeline.pairFeatures]], different
    * physical strategy. */
  def pairFeatures(df: DataFrame, cfg: DedupConfig, k: Int): DataFrame =
    DedupPipeline.featuresFor(df, cfg, pairs(df, cfg, k).select("id1", "id2"))
}
