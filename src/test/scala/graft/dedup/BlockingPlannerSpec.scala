package graft.dedup

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSpec
import graft.ml.Febrl

/** Golden test of the measured blocking-key planner on the reference's own
  * Febrl data (its test.csv via [[graft.ReferenceFixtures]], 1,000 records, 779 true
  * duplicate pairs): the planner's scoreboard reproduces hand-computed
  * Christen metrics exactly, and at a realistic budget it SELECTS the
  * reference's own scheme (blocking_number + state, Util.scala:45-58) —
  * the convention the flagship ships is now a measured decision. The
  * flagship config itself is untouched (selection is opt-in via
  * config.copy), so dedup_pairs parity is unaffected. */
class BlockingPlannerSpec extends AnyFunSuite with SparkSpec {

  private lazy val recs = Febrl.read(spark, graft.ReferenceFixtures.csv("test.csv"))

  private lazy val truth = {
    val ids = recs.select(col("rec_id"),
      split(trim(col("rec_id")), "-").getItem(1).as("mid"))
    ids.alias("a").join(ids.alias("b"),
        col("a.mid") === col("b.mid") && col("a.rec_id") < col("b.rec_id"))
      .select(col("a.rec_id").as("id1"), col("b.rec_id").as("id2"))
  }

  private val schemes = Seq(
    BlockingScheme("reference", Febrl.config.blockingKeys),
    BlockingScheme("state_only", Seq(col("state"))),
    BlockingScheme("given_name", Seq(col("given_name"))),
    BlockingScheme("postcode", Seq(col("postcode"))),
    BlockingScheme("soc_sec", Seq(col("soc_sec_id"))))

  test("the scoreboard reproduces the hand-computed Christen metrics on " +
    "the reference data exactly (779 truth pairs; per-scheme block " +
    "arithmetic, multi-ordinal cost, any-ordinal coverage)") {
    val scores = try BlockingPlanner.score(recs, "rec_id", schemes, truth)
      finally graft.CachedFrames.drain()
    val byName = scores.map(s => s.name -> s).toMap
    assert(scores.forall(_.truthPairs === 779L))
    // independently computed (naive comma-split, null→'' blocks):
    assert(byName("reference") ===
      BlockingScore("reference", 72L, 139006L, 779L, 779L, 1.0))
    assert(byName("state_only").candPairs === 88900L)
    assert(byName("state_only").covered === 626L)
    assert(byName("given_name").candPairs === 1908L)
    assert(byName("given_name").covered === 429L)
    assert(byName("postcode").candPairs === 1056L)
    assert(byName("postcode").covered === 600L)
    assert(byName("soc_sec").candPairs === 587L)
    assert(byName("soc_sec").covered === 587L)
    // report order: best completeness first, ties cheaper-first
    assert(scores.head.name === "reference")
  }

  test("pick(): the reference's own keys WIN at a realistic budget; a " +
    "tight budget picks the best scheme that fits; an impossible budget " +
    "falls back to the cheapest") {
    def winner(budget: Long): String = {
      val (w, _) = try BlockingPlanner.pick(recs, "rec_id", schemes, truth,
        budget) finally graft.CachedFrames.drain()
      w.name
    }
    // generous budget (150k comparisons): the measured winner IS the
    // shipped flagship scheme — the reference's convention, now justified
    assert(winner(150000L) === "reference")
    // 2k-comparison budget: postcode (pc 0.77 at 1,056) beats given_name
    // (pc 0.55 at 1,908) and soc_sec (pc 0.75 at 587)
    assert(winner(2000L) === "postcode")
    // 700-comparison budget: only soc_sec fits
    assert(winner(700L) === "soc_sec")
    // nothing fits: cheapest overall
    assert(winner(100L) === "soc_sec")
  }

  test("opting in rewires DedupConfig without touching the shipped " +
    "flagship config (dedup_pairs parity unaffected)") {
    val (w, _) = try BlockingPlanner.pick(recs, "rec_id", schemes, truth,
      150000L) finally graft.CachedFrames.drain()
    val tuned = Febrl.config.copy(blockingKeys = w.keys)
    // the measured winner's keys ARE the shipped keys, expression for
    // expression — and the shipped config object is unchanged
    assert(tuned.blockingKeys.map(_.toString) ===
      Febrl.config.blockingKeys.map(_.toString))
    assert(Febrl.config.blockingKeys.map(_.toString) ===
      Seq(col("blocking_number").toString, col("state").toString))
  }
}
