package graft.dedup

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Dis-Dedup semantics, Spark-first.
  *
  * The reference's whole `GenerateLabeledPoints` job
  * (`/root/reference/.../GenerateLabeledPoints.scala:47-111`) is semantically a
  * *block self-join*: explode each tuple into its blocking keys, join tuples
  * sharing a key, compare each pair exactly once (in its lowest-ordinal shared
  * block), and project per-column similarity features.
  *
  * This file holds the block model every physical plan shares — the
  * normalised key value, the (k, v) explode, the per-block workload — and
  * the declarative formulation: an inverted-index self-join that Catalyst
  * plans with whole-stage codegen and AQE skew handling. LSH bands and
  * SimHash tables ([[graft.ops.NearDup]]) are blocking functions too:
  * [[blockJoin]] emits their pairs once, in the lowest shared band or table.
  * At 100 TB the one shuffle key, (k, v), is well-distributed unless one
  * block dominates — in which case [[DedupStrategy]] picks
  * [[TrianglePipeline]] (the reference's skew-aware strategy) instead.
  */
object DedupPipeline {

  /** A tuple's block key value under one blocking function.
    * Reference: `Util.getBKVs` (Util.scala:45-58) — null key value ⇒ "". */
  private[dedup] def keyValue(key: Column): Column =
    coalesce(trim(key.cast("string")), lit(""))

  /** `bv0..bv(n-1)`: the tuple's key value under each blocking function. */
  private[dedup] def keyColumns(cfg: DedupConfig): Seq[Column] =
    cfg.blockingKeys.zipWithIndex.map { case (c, i) => keyValue(c).as(s"bv$i") }

  /** One `bkv` struct per blocking function — ordinal `k` (1-based) and key
    * value `v`, under the given field names — exploded from the `bv$i`
    * columns. */
  private def explodeKeys(m: Int, k: String = "k", v: String = "v"): Column =
    explode(array((0 until m).map(i =>
      struct(lit(i + 1).as(k), col(s"bv$i").as(v))): _*)).as("bkv")

  /** n(n−1)/2 over a block's tuple-count column `n`: the pairs the block
    * compares, its Dis-Dedup workload. */
  private[dedup] def blockPairs: Column = expr("n * (n - 1) DIV 2")

  /** (k, v, n, w): every block's tuple count `n` and workload `w`. */
  private[dedup] def blockWork(df: DataFrame, cfg: DedupConfig): DataFrame =
    df.select(keyColumns(cfg): _*)
      .select(explodeKeys(cfg.blockingKeys.size))
      .groupBy(col("bkv.k").as("k"), col("bkv.v").as("v"))
      .agg(count(lit(1)).as("n"))
      .withColumn("w", blockPairs)

  /** The exactly-once block self-join: rows `a` and `b` (aliases) carrying
    * `id`, the key values `bv$i` (`keys(i)`: one value type per call, null
    * never matches), `carry` and the ordinal/value columns named by `kv`,
    * one row per pair (a.id < b.id) in its lowest shared block only. The
    * caller right-sizes a scan-fed `df` ([[graft.Tables.parallelized]]).
    *
    * Exactly-once uses the reference's own guard (`Compare.scala:94,106` +
    * `Util.lowestCommonBlockNum`) rather than a groupBy(id1, id2)
    * dedup — the groupBy formulation re-shuffles every replicated pair
    * (Σ n_b² rows) a second time, which dominated the 20k-record Febrl run.
    * Because two tuples can only share a block AT THE SAME ordinal (a
    * blocking function emits exactly one key per tuple), the lowest shared
    * ordinal is `min{ i : v_i(a) = v_i(b) }` — a chain of plain scalar
    * comparisons over the carried key-value columns, fully inside
    * whole-stage codegen (an earlier array-HOF formulation of this guard
    * evaluated interpreted lambdas per joined row and was 2× slower).
    *
    * Shape at scale: ONE shuffle on (k, v) for the self-join (AQE splits
    * skewed blocks); the guard is O(#blockingFns) codegen'd comparisons
    * per candidate, evaluated in the join condition.
    */
  private[graft] def blockJoin(df: DataFrame, id: Column, keys: Seq[Column],
      carry: Seq[Column], kv: (String, String) = ("k", "v")): DataFrame = {
    val (k, v) = kv
    val idx = df
      .select(id.as("id") +: (keys.zipWithIndex.map { case (c, i) => c.as(s"bv$i") } ++
        carry): _*)
      .select(col("*"), explodeKeys(keys.size, k, v))
      .select(col("*"), col(s"bkv.$k").as(k), col(s"bkv.$v").as(v))
      .drop("bkv")
    val a = idx.alias("a")
    val b = idx.alias("b")
    // lowest shared ordinal: first i (1-based) whose key values agree
    val lcb = keys.indices.foldRight(lit(Int.MaxValue)) { case (i, rest) =>
      when(col(s"a.bv$i") === col(s"b.bv$i"), lit(i + 1)).otherwise(rest)
    }
    a.join(b,
      col(s"a.$k") === col(s"b.$k") && col(s"a.$v") === col(s"b.$v") &&
        col(s"a.$k") === lcb && col("a.id") < col("b.id"))
  }

  /** Σᵢ [a.bvᵢ = b.bvᵢ] over a [[blockJoin]] row's `m` key values: the
    * number of blocks the pair shares (bigint). */
  private[graft] def sharedKeys(m: Int): Column =
    (0 until m).map(i =>
      when(col(s"a.bv$i") === col(s"b.bv$i"), lit(1L)).otherwise(lit(0L))).reduce(_ + _)

  /** Candidate pairs (id1 < id2) sharing at least one blocking key, tagged
    * with the lowest shared ordinal `bk` — each pair EXACTLY ONCE even when
    * it co-occurs in blocks of several blocking functions. */
  def candidatePairs(df: DataFrame, cfg: DedupConfig): DataFrame =
    blockJoin(Tables.parallelized(df), col(cfg.idColumn), keyColumns(cfg), Nil)
      .select(col("a.id").as("id1"), col("b.id").as("id2"), col("a.k").as("bk"))

  /** Label (if configured) + similarity features of a pair whose two
    * tuples are aliased `l` and `r`, identified by their `id` column. */
  private def pairColumns(cfg: DedupConfig, l: String, r: String, id: String): Seq[Column] =
    cfg.label.toSeq.map(fn => fn(col(s"$l.$id"), col(s"$r.$id")).as("label")) ++
      cfg.features.map(f => f.cmp(col(s"$l.${f.column}"), col(s"$r.${f.column}")).as(f.name))

  /** Join a pair list (id1, id2) back to the source tuples and project the
    * similarity features (+ optional ground-truth label). Used by the
    * triangle plan and by callers holding a pair list of their own. */
  def featuresFor(df: DataFrame, cfg: DedupConfig, pairs: DataFrame): DataFrame =
    pairs
      .join(df.alias("t1"), pairs("id1") === col("t1." + cfg.idColumn))
      .join(df.alias("t2"), pairs("id2") === col("t2." + cfg.idColumn))
      .select(Seq(pairs("id1"), pairs("id2")) ++
        pairColumns(cfg, "t1", "t2", cfg.idColumn): _*)

  /** End-to-end: blocking → exactly-once candidate pairs → feature projection.
    * Equivalent to one full run of the reference's flagship job, minus the
    * CSV encode at the sink (kept typed; encode belongs to the writer).
    *
    * The comparator input columns ride THROUGH the block self-join (pruned
    * to exactly the columns the features need), so features project inline
    * off the join output — no join back to the source. At cluster scale
    * that removes two full-table shuffle joins; the cost is a modestly
    * wider payload in the one block shuffle.
    */
  def pairFeatures(df: DataFrame, cfg: DedupConfig): DataFrame =
    blockJoin(Tables.parallelized(df), col(cfg.idColumn), keyColumns(cfg),
        cfg.features.map(_.column).distinct.map(col))
      .select(Seq(col("a.id").as("id1"), col("b.id").as("id2")) ++
        pairColumns(cfg, "a", "b", "id"): _*)
}
