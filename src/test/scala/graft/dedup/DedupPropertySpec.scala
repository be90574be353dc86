package graft.dedup

import graft.SparkSpec
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalacheck.{Gen, Prop, Test => ScTest}
import org.scalatest.funsuite.AnyFunSuite

/** Property tests for the Dis-Dedup invariants (SURVEY.md §5.2(2)): on
  * random skewed datasets with 1-3 overlapping blocking functions,
  *
  *   (a) every intra-block pair appears EXACTLY once in the output,
  *   (b) no cross-block pair appears,
  *   (c) the pair set equals the naive per-block all-pairs oracle computed
  *       in plain Scala,
  *   (d) the triangle physical variant emits the identical pair set for
  *       random reducer counts k,
  *   (e) `candidatePairs` tags each pair with its lowest shared ordinal.
  */
class DedupPropertySpec extends AnyFunSuite with SparkSpec {

  private val schema = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("b1", StringType, nullable = true),
    StructField("b2", StringType, nullable = true),
    StructField("b3", StringType, nullable = true),
    StructField("payload", StringType, nullable = true)))

  private case class Tuple(id: Long, b1: String, b2: String, b3: String, payload: String)

  /** Skewed key generator: one dominant value plus a uniform tail. */
  private def keyGen(card: Int): Gen[String] =
    Gen.frequency(
      (card, Gen.choose(0, card - 1).map(i => s"k$i")),
      (card, Gen.const("hot")),
      (1, Gen.const(null)))

  private val dataGen: Gen[(List[Tuple], Int, Int)] = for {
    n <- Gen.choose(0, 160)
    nBlocks <- Gen.choose(1, 3)
    card <- Gen.choose(1, 8)
    ks <- Gen.listOfN(n, Gen.zip(keyGen(card), keyGen(card), keyGen(card)))
    k <- Gen.oneOf(1, 2, 5, 16)
  } yield (
    ks.zipWithIndex.map { case ((a, b, c), i) => Tuple(i.toLong, a, b, c, s"p$i") },
    nBlocks, k)

  private def cfg(nBlocks: Int): DedupConfig = DedupConfig(
    idColumn = "id",
    blockingKeys = Seq(col("b1"), col("b2"), col("b3")).take(nBlocks),
    features = Seq(Feature("payload_sim", "payload", Comparators.levSim)))

  /** Plain-Scala oracle: all intra-block pairs, each exactly once, with
    * the lowest (1-based) blocking-function ordinal the pair shares. */
  private def oracle(rows: Seq[Tuple], nBlocks: Int): Map[(Long, Long), Int] = {
    def keys(t: Tuple): Seq[String] =
      Seq(t.b1, t.b2, t.b3).take(nBlocks).map(v => if (v == null) "" else v.trim)
    (for {
      a <- rows; b <- rows if a.id < b.id
      shared = keys(a).zip(keys(b)).indexWhere { case (x, y) => x == y }
      if shared >= 0
    } yield (a.id, b.id) -> (shared + 1)).toMap
  }

  test("declarative + triangle pipelines satisfy the Dis-Dedup invariants") {
    val prop = Prop.forAllNoShrink(dataGen) { case (rows, nBlocks, k) =>
      import spark.implicits._
      val df = spark.createDataFrame(
        spark.sparkContext.parallelize(rows.map(t => Row(t.id, t.b1, t.b2, t.b3, t.payload)), 4),
        schema)
      val expectedBk = oracle(rows, nBlocks)
      val expected = expectedBk.keySet

      val naiveRows = DedupPipeline.pairFeatures(df, cfg(nBlocks))
        .select("id1", "id2").as[(Long, Long)].collect()
      val triRows = TrianglePipeline.pairFeatures(df, cfg(nBlocks), k)
        .select("id1", "id2").as[(Long, Long)].collect()
      val candRows = DedupPipeline.candidatePairs(df, cfg(nBlocks))
        .select("id1", "id2", "bk").as[(Long, Long, Int)].collect()
      val candPairs = candRows.map { case (a, b, _) => (a, b) }

      val naiveExact = naiveRows.length == naiveRows.toSet.size // (a) exactly once
      val triExact = triRows.length == triRows.toSet.size
      val naiveMatch = naiveRows.toSet == expected              // (b)+(c): set equality
      val triMatch = triRows.toSet == expected                  // (d)
      val candExact = candPairs.length == candPairs.toSet.size
      val candMatch = candPairs.toSet == expected
      val candBk = candRows.forall { case (a, b, bk) => expectedBk.get((a, b)).contains(bk) } // (e)

      Prop.all(
        Prop(naiveExact) :| "declarative emits duplicates",
        Prop(triExact) :| s"triangle (k=$k) emits duplicates",
        Prop(naiveMatch) :| s"declarative set mismatch (${naiveRows.length} vs ${expected.size})",
        Prop(triMatch) :| s"triangle (k=$k) set mismatch (${triRows.length} vs ${expected.size})",
        Prop(candExact) :| "candidatePairs emits duplicates",
        Prop(candMatch) :| s"candidatePairs set mismatch (${candRows.length} vs ${expected.size})",
        Prop(candBk) :| "candidatePairs bk is not the lowest shared ordinal")
    }
    val res = ScTest.check(
      ScTest.Parameters.default.withMinSuccessfulTests(15), prop)
    assert(res.passed, res.status.toString)
  }
}
