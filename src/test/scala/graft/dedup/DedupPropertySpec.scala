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
  *   (e) `candidatePairs` tags each pair with its lowest shared ordinal,
  *   (f) the generic `blockJoin` over 4 `long` keys (the shape of LSH
  *       bands and SimHash tables) emits the oracle set exactly once, in
  *       its lowest agreeing ordinal, and `sharedKeys` equals the pair
  *       count of the plain unguarded join.
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

  private val nKeys = 4

  /** Rows of 4 nullable `long` keys drawn from a few family bases: each key
    * is kept (most often), redrawn or nulled, so pairs share 0–4 keys,
    * exact copies are common and null values (which never match) occur. */
  private val longKeysGen: Gen[List[Seq[Option[Long]]]] = for {
    bases <- Gen.choose(1, 5).flatMap(Gen.listOfN(_, Gen.listOfN(nKeys, Gen.choose(0L, 3L))))
    n <- Gen.choose(0, 60)
    rows <- Gen.listOfN(n, Gen.oneOf(bases).flatMap(base =>
      Gen.sequence[List[Option[Long]], Option[Long]](base.map(v => Gen.frequency(
        (6, Gen.const(Some(v))),
        (2, Gen.choose(0L, 3L).map(Some(_))),
        (1, Gen.const(None)))))))
  } yield rows

  test("blockJoin over long keys: exactly once, lowest agreeing ordinal, " +
    "sharedKeys = unguarded pair count") {
    val longSchema = StructType(StructField("id", LongType, nullable = false) +:
      (0 until nKeys).map(i => StructField(s"k$i", LongType, nullable = true)))
    val prop = Prop.forAllNoShrink(longKeysGen) { rows =>
      import spark.implicits._
      val df = spark.createDataFrame(spark.sparkContext.parallelize(
        rows.zipWithIndex.map { case (ks, id) => Row(id.toLong +: ks.map(_.getOrElse(null)): _*) }, 4),
        longSchema)
      val keys = (0 until nKeys).map(i => col(s"k$i"))

      // oracle: agreeing ordinals (1-based) per pair, nulls never agree
      val expected = (for {
        (a, i) <- rows.zipWithIndex; (b, j) <- rows.zipWithIndex if i < j
        agree = a.zip(b).zipWithIndex.collect {
          case ((Some(x), Some(y)), o) if x == y => o + 1 }
        if agree.nonEmpty
      } yield (i.toLong, j.toLong) -> (agree.min, agree.size.toLong)).toMap

      val got = DedupPipeline.blockJoin(df, col("id"), keys, Nil)
        .select(col("a.id"), col("b.id"), col("a.k"),
          DedupPipeline.sharedKeys(nKeys))
        .as[(Long, Long, Int, Long)].collect()
      val gotPairs = got.map { case (a, b, _, _) => (a, b) }

      val idx = df.select(col("id"), explode(array((0 until nKeys).map(i =>
        struct(lit(i).as("t"), col(s"k$i").as("v"))): _*)).as("e"))
        .select(col("id"), col("e.t").as("t"), col("e.v").as("v"))
      val unguarded = idx.alias("a").join(idx.alias("b"),
          col("a.t") === col("b.t") && col("a.v") === col("b.v") &&
            col("a.id") < col("b.id"))
        .groupBy(col("a.id"), col("b.id")).count()
        .as[(Long, Long, Long)].collect()
        .map { case (a, b, n) => (a, b) -> n }.toMap

      Prop.all(
        Prop(gotPairs.length == gotPairs.toSet.size) :| "blockJoin emits duplicates",
        Prop(gotPairs.toSet == expected.keySet) :|
          s"blockJoin set mismatch (${got.length} vs ${expected.size})",
        Prop(got.forall { case (a, b, k, _) => expected.get((a, b)).map(_._1).contains(k) }) :|
          "k is not the lowest agreeing ordinal",
        Prop(unguarded.keySet == expected.keySet) :| "unguarded join set mismatch",
        Prop(got.forall { case (a, b, _, n) => unguarded.get((a, b)).contains(n) }) :|
          "sharedKeys differs from the unguarded pair count")
    }
    val res = ScTest.check(
      ScTest.Parameters.default.withMinSuccessfulTests(15), prop)
    assert(res.passed, res.status.toString)
  }
}
