package graft.dedup

import org.scalatest.funsuite.AnyFunSuite

class DisDedupPlannerSpec extends AnyFunSuite {

  test("getL: largest triangle side fitting in k_i") {
    // triangle numbers: 1, 3, 6, 10, 15, 21, ...
    val expected = Seq(1 -> 1, 2 -> 1, 3 -> 2, 4 -> 2, 5 -> 2, 6 -> 3,
      9 -> 3, 10 -> 4, 14 -> 4, 15 -> 5, 20 -> 5, 21 -> 6, 49 -> 9)
    for ((ki, l) <- expected)
      assert(DisDedupPlanner.getL(ki) === l, s"getL($ki)")
  }

  test("cellIndex: bijection between triangle cells and 0..k_i-1") {
    for (l <- 1 to 8) {
      val cells = for (r <- 1 to l; c <- r to l) yield DisDedupPlanner.cellIndex(l, r, c)
      assert(cells.sorted === (0 until l * (l + 1) / 2))
    }
  }

  test("cellIndex: X-Y cover — any two anchors are compared in exactly one cell") {
    // emissions of a tuple with anchor a: L to cells (p, a) for p < a,
    // S to the diagonal (a, a), R to cells (a, q) for q > a. The reducer
    // compares a pair iff sides are (L,R)/(R,L) or (S,S) — assert that
    // happens in exactly one cell for every anchor combination.
    def emissions(l: Int, a: Int): Map[Int, String] =
      ((1 until a).map(p => DisDedupPlanner.cellIndex(l, p, a) -> "L") ++
        Seq(DisDedupPlanner.cellIndex(l, a, a) -> "S") ++
        (a + 1 to l).map(q => DisDedupPlanner.cellIndex(l, a, q) -> "R")).toMap
    for (l <- 1 to 6; a1 <- 1 to l; a2 <- 1 to l) {
      val e1 = emissions(l, a1)
      val e2 = emissions(l, a2)
      val compared = e1.keySet.intersect(e2.keySet).count { cell =>
        Set(e1(cell), e2(cell)) == Set("L", "R") || (e1(cell) == "S" && e2(cell) == "S")
      }
      assert(compared === 1, s"l=$l a1=$a1 a2=$a2")
    }
  }

  test("assign: every reducer id is within 1..k; multi slices are disjoint") {
    val stats = Seq(BKV(1, "big") -> 1000L, BKV(1, "mid") -> 100L,
      BKV(2, "a") -> 50L, BKV(2, "b") -> 10L, BKV(2, "c") -> 2L)
    val k = 10
    val plan = DisDedupPlanner.assign(stats, k)
    assert(plan.keySet === stats.map(_._1).toSet)
    for ((_, rids) <- plan) {
      assert(rids.nonEmpty)
      assert(rids.forall(r => r >= 1 && r <= k))
    }
    // multi-reducer blocks got contiguous disjoint slices of the shuffle
    val multis = plan.filter(_._2.size > 1).values.toSeq
    val all = multis.flatten
    assert(all.distinct.size === all.size, "multi slices overlap")
  }

  test("assign: k=1 degenerates to a single reducer for every block") {
    val stats = Seq(BKV(1, "x") -> 100L, BKV(2, "y") -> 3L)
    val plan = DisDedupPlanner.assign(stats, 1)
    assert(plan.values.forall(_ == Vector(1)))
  }

  test("assign: planning only the blocks above tau, given the full W, routes them as planning all blocks does") {
    // the rule TrianglePipeline's heavy-only collect relies on
    val rnd = new scala.util.Random(11)
    for (trial <- 1 to 40) {
      val stats = (1 to 2 + rnd.nextInt(60)).map { i =>
        BKV(1 + rnd.nextInt(3), s"b$i") ->
          (if (rnd.nextInt(8) == 0) 50L + rnd.nextInt(400) else 1L + rnd.nextInt(12))
      }
      val k = 1 + rnd.nextInt(64)
      val totalWork = stats.map { case (_, n) => n * (n - 1) / 2 }.sum
      val tau = DisDedupPlanner.tau(totalWork, k)
      val heavy = stats.filter { case (_, n) => n * (n - 1) / 2 > tau }
      val full = DisDedupPlanner.assign(stats, k)
      val heavyOnly = DisDedupPlanner.assign(heavy, k, totalWork = Some(totalWork))
      assert(heavyOnly === full.filter { case (b, _) => heavy.exists(_._1 == b) },
        s"trial $trial: k=$k, ${heavy.size} of ${stats.size} blocks above tau")
    }
  }

  test("golden: k=49 on the reference Febrl train set reproduces the README worker counts") {
    // Block sizes computed from the reference train.csv with the
    // reference's blocking functions (Util.scala:45-58): ordinal 1 =
    // blocking_number (col 13), ordinal 2 = state (col 8); README.md:210-227
    // lists the resulting multi-block worker assignment for --reducers 49.
    val lines = scala.io.Source.fromFile(graft.ReferenceFixtures.csv("train.csv")).getLines().drop(1).toSeq
    val stats = lines
      .flatMap { line =>
        val t = line.split(",")
        Seq(BKV(1, t(13).trim), BKV(2, t(8).trim))
      }
      .groupBy(identity)
      .map { case (b, xs) => (b, xs.size.toLong) }
      .toSeq
    val plan = DisDedupPlanner.assign(stats, 49)
    val multiCounts = plan.collect { case (b, rids) if rids.size > 1 || expectedMulti.contains(b) => (b, rids.size) }
    assert(expectedMulti.toSet.subsetOf(multiCounts.toSet),
      s"got ${multiCounts.toSeq.sortBy(b => (b._1.k, b._1.v))}")
    // every worker is used at most... all 49 assigned to multi blocks sum to 47
    assert(expectedMulti.map(_._2).sum === 47)
  }

  // README.md:210-227 — hmMultiKi (after optimization)
  private val expectedMulti: Map[BKV, Int] = Map(
    BKV(1, "0") -> 1, BKV(1, "1") -> 3, BKV(1, "2") -> 1, BKV(1, "3") -> 1,
    BKV(1, "4") -> 1, BKV(1, "5") -> 1, BKV(1, "6") -> 1, BKV(1, "7") -> 1,
    BKV(1, "8") -> 1, BKV(1, "9") -> 1,
    BKV(2, "") -> 3, BKV(2, "nsw") -> 15, BKV(2, "qld") -> 6,
    BKV(2, "vic") -> 10, BKV(2, "wa") -> 1)
}
