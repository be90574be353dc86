package graft.dedup

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** A named candidate blocking scheme: the key expressions that would go
  * into [[DedupConfig.blockingKeys]] (priority order — ordinal =
  * index + 1, the reference's `getBKVs` shape, Util.scala:45-58). */
final case class BlockingScheme(name: String, keys: Seq[Column])

/** One scheme's measured scoreboard row (the q221 Christen metrics,
  * generalized to multi-key schemes). */
final case class BlockingScore(name: String, nBlocks: Long, candPairs: Long,
    truthPairs: Long, covered: Long, pairCompleteness: Double)

/** MEASURED blocking-key selection — the planner that closes q221's
  * advisory gap: the scoreboard priced schemes but nothing fed the winner
  * back into [[DedupConfig]], leaving the flagship's keys fixed by
  * convention (exactly the reference's posture, Util.scala:45-58, that
  * this rebuild generalizes). [[pick]] selects the scheme with the best
  * measured pair-completeness whose comparison bill fits a cand_pairs
  * budget; the caller opts in with
  * `config.copy(blockingKeys = winner.keys)` — the shipped flagship
  * config is untouched, so dedup_pairs parity is unaffected.
  *
  * Semantics mirror the flagship's execution model exactly, so the score
  * predicts the real bill: a record lands in ONE block per key ordinal
  * (null keys as "" — a real block, the reference's
  * `Option(...).getOrElse("")`); the comparison cost of a scheme is
  * Σ_blocks c(c−1)/2 over ALL ordinals (the Dis-Dedup workload model —
  * every common block compares the pair; the lowest-common-block rule
  * only dedups the EMIT, not the work); a truth pair is covered iff the
  * records share at least one block under ANY ordinal.
  *
  * Scale shape: one column-pruned pass per (scheme, ordinal) for the key
  * projection; per-scheme cost is per-block COUNT arithmetic — candidate
  * pairs are never materialized; coverage is two id-keyed equi-joins of
  * the truth list. At 100 TB, run the planner on a uniform sample plus
  * the labeled truth set — both metrics are ratios, stable under
  * sampling — then apply the chosen keys to the full run. */
object BlockingPlanner {

  /** Score every scheme against a (id1, id2) truth pair set. The truth
    * list is CANONICALIZED first — orientation folded to (least, greatest)
    * and exact duplicates dropped — so a truth set carrying duplicate rows
    * or both orientations of a pair cannot deflate pair-completeness
    * (coverage was always counted over distinct pairs; the denominator now
    * matches it). Coverage itself is orientation-symmetric (a shared block
    * is a shared block), so folding never changes which pairs are hit. */
  def score(records: DataFrame, idColumn: String,
      schemes: Seq[BlockingScheme], truth: DataFrame): Seq[BlockingScore] = {
    require(schemes.nonEmpty, "at least one candidate scheme")
    val truthC = truth.select(
      least(col("id1"), col("id2")).as("id1"),
      greatest(col("id1"), col("id2")).as("id2")).distinct()
    val keyed = schemes.map { s =>
      s.keys.zipWithIndex.map { case (k, i) =>
        records.select(col(idColumn).as("rid"), lit(s.name).as("scheme"),
          lit(i + 1).as("ordinal"),
          DedupPipeline.keyValue(k).as("kb"))
      }.reduce(_ union _)
    }.reduce(_ union _)
    val keys = graft.CachedFrames.track(keyed)
    val blocks = keys.groupBy(col("scheme"), col("ordinal"), col("kb"))
      .agg(count(lit(1)).as("n"))
      .groupBy(col("scheme"))
      .agg(count(lit(1)).as("n_blocks"),
        coalesce(sum(DedupPipeline.blockPairs), lit(0L)).as("cand_pairs"))
    val nTruth = truthC.count()
    val cover = truthC
      .join(keys.select(col("rid").as("id1"), col("scheme"),
        col("ordinal"), col("kb").as("k1")), Seq("id1"))
      .join(keys.select(col("rid").as("id2"), col("scheme"),
        col("ordinal"), col("kb").as("k2")), Seq("id2", "scheme", "ordinal"))
      .groupBy(col("scheme"), col("id1"), col("id2"))
      .agg(max(when(col("k1") === col("k2"), 1L).otherwise(0L)).as("hit"))
      .groupBy(col("scheme"))
      .agg(sum(col("hit")).as("covered"))
    val rows = blocks.join(cover, Seq("scheme"), "left")
      .select(col("scheme"), col("n_blocks"), col("cand_pairs"),
        coalesce(col("covered"), lit(0L)).as("covered"))
      .collect()
      .map(r => BlockingScore(r.getString(0), r.getLong(1), r.getLong(2),
        nTruth, r.getLong(3),
        if (nTruth > 0) r.getLong(3).toDouble / nTruth.toDouble else 0.0))
      .toSeq
    // deterministic report order: best completeness, then cheapest
    rows.sortBy(s => (-s.pairCompleteness, s.candPairs, s.name))
  }

  /** The selection rule: among schemes whose comparison bill fits
    * `candPairsBudget`, the highest measured pair-completeness — ties to
    * the CHEAPER scheme, then name. If nothing fits the budget, the
    * cheapest scheme overall (blocking must bound the bill before it
    * optimizes recall). Returns the winner and the full scoreboard. */
  def pick(records: DataFrame, idColumn: String,
      schemes: Seq[BlockingScheme], truth: DataFrame,
      candPairsBudget: Long): (BlockingScheme, Seq[BlockingScore]) = {
    val scores = score(records, idColumn, schemes, truth)
    val byName = schemes.map(s => s.name -> s).toMap
    // score() already sorts best-completeness-first, ties to the cheaper
    // scheme then the name — the selection rule IS that order
    val within = scores.filter(_.candPairs <= candPairsBudget)
    val winner =
      if (within.nonEmpty) within.head else scores.minBy(_.candPairs)
    (byName(winner.name), scores)
  }

  /** A [[pick]] result as the one-row-per-scheme report frame shared by
    * the q250 gate entry and the PickBlocking CLI job: (scheme, n_blocks,
    * cand_pairs, truth_pairs, covered, pair_completeness, is_winner).
    * Driver-side by construction — the scoreboard is |schemes| rows; the
    * heavy work already ran distributed inside [[score]]. */
  def scoreboardFrame(spark: SparkSession, winner: BlockingScheme,
      scores: Seq[BlockingScore]): DataFrame = {
    import spark.implicits._
    scores.map(s => (s.name, s.nBlocks, s.candPairs, s.truthPairs, s.covered,
        s.pairCompleteness, s.name == winner.name))
      .toDF("scheme", "n_blocks", "cand_pairs", "truth_pairs", "covered",
        "pair_completeness", "is_winner")
  }
}
