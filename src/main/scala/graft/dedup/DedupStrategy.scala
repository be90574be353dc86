package graft.dedup

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Physical-strategy chooser for the dedup pair job (SURVEY.md §4.1): the
  * declarative self-join is the right plan for well-distributed blocks (AQE
  * splits moderate skew); the triangle pipeline wins when one block
  * dominates total workload so badly that even a split join leaves a
  * straggler — exactly the regime the Dis-Dedup paper targets.
  *
  * The decision statistic is the share of total pairwise workload carried
  * by the single heaviest block, read off [[DedupPipeline.blockWork]] (one
  * column-pruned scan + one small shuffle; the driver sees just two
  * longs). No caller option overrides it: the input picks the plan.
  */
object DedupStrategy {

  /** Heaviest-block workload share in [0, 1]; 0 for empty input. */
  def maxBlockShare(df: DataFrame, cfg: DedupConfig): Double = {
    val w = DedupPipeline.blockWork(df, cfg)
      .agg(coalesce(sum(col("w")), lit(0L)).as("total"),
        coalesce(max(col("w")), lit(0L)).as("mx"))
      .head()
    val total = w.getLong(0)
    if (total == 0L) 0.0 else w.getLong(1).toDouble / total
  }

  /** Above this heaviest-block share the triangle plan runs.
    *
    * Measured (graft.ScaleSmoke, Febrl 20k records / 50.6M pairs,
    * local[32]): declarative 148.7s vs triangle 263.5s — the codegen'd
    * inline feature projection beats the typed flatMapGroups path as long
    * as AQE can split the skewed join partitions. Triangle pays off when a
    * single block is so dominant that splitting the join still leaves one
    * task owning most of the pair GENERATION (share ≳ 0.5), or when
    * per-reducer memory must be bounded by √(2W/k) replication on a real
    * cluster. */
  private val SkewThreshold = 0.5

  /** The pair job with its physical plan picked from the input: triangle
    * over `k` reducers when the heaviest block carries more than
    * [[SkewThreshold]] of all pairwise work (a single reducer would own
    * that fraction of the job under the plain self-join), else the
    * Catalyst-planned declarative formulation. */
  def pairFeaturesAuto(df: DataFrame, cfg: DedupConfig, k: Int): DataFrame =
    if (maxBlockShare(df, cfg) > SkewThreshold)
      TrianglePipeline.pairFeatures(df, cfg, k)
    else
      DedupPipeline.pairFeatures(df, cfg)
}
