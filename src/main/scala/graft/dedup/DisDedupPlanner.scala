package graft.dedup

import scala.util.Random

/** Block-Key-Value: `k` = blocking-function ordinal (1 = highest priority),
  * `v` = block key value (reference `BKV.scala:3-13`). */
final case class BKV(k: Int, v: String)

/** Driver-side skew-aware worker assignment — the Dis-Dedup physical planner
  * (reference `Setup.scala:28-163`; Chu/Ilyas/Koutris, VLDB'16).
  *
  * Given per-block workloads `w_b = n(n-1)/2` and `k` logical reducers:
  *   - multi-reducer blocks (`w > W/k`) get `k_i = floor(w/W_multi · k)`
  *     workers rounded DOWN to a triangle number `l(l+1)/2`, then leftover
  *     workers are redistributed greedily to the blocks with the largest
  *     rounding deficit (the reference's improvement over the paper,
  *     `Setup.scala:104,120-136`);
  *   - single-reducer deterministic blocks (`W/k ≥ w > τ`, τ = W/(3k·ln k))
  *     get one worker round-robin, CONTINUING at the offset where the
  *     multi-block slicing stopped (`Setup.scala:149-155`);
  *   - single-reducer randomized blocks (`w ≤ τ`) get one seeded-random
  *     worker (`Setup.scala:157-160`).
  *
  * Reducer ids `1..k` are shuffled once with a `Random` seeded by [[Seed]]
  * and sliced contiguously per multi block (`Setup.scala:139-147`).
  *
  * Scale note (100 TB): callers need not pass EVERY block — only blocks with
  * `w > τ` influence the plan. [[TrianglePipeline]] collects just those
  * (bounded driver memory) and hash-routes unlisted tiny blocks
  * executor-side; pass `totalWork` explicitly in that case so thresholds are
  * computed over the full workload, not the collected subset.
  */
object DisDedupPlanner {

  /** The planner's random seed — the reference's, fixed at
    * `GenerateLabeledPoints.scala:71`. */
  private[dedup] val Seed = 647L

  /** τ = W/(3k·ln k): blocks with workload above it are planned, blocks at
    * or below it go to one seeded-random reducer. k = 1 ⇒ +∞ (everything
    * randomized). */
  def tau(totalWork: Long, k: Int): Double =
    if (k == 1) Double.PositiveInfinity else totalWork / (3.0 * k * math.log(k))

  /** Largest l with l(l+1)/2 ≤ ki (reference `Util.getL`, Util.scala:60-68). */
  def getL(ki: Int): Int = {
    val l = math.floor(math.sqrt(2.0 * ki)).toInt
    if (l.toLong * (l + 1) / 2 <= ki) l else l - 1
  }

  /** Reducer index (0-based, within a block's contiguous rid slice) of
    * triangle cell (r, c), 1 ≤ r ≤ c ≤ l — the arithmetic the reference
    * mapper uses for its L/S/R emissions (`DisDedupMapper.scala:30-48`). */
  def cellIndex(l: Int, r: Int, c: Int): Int =
    (2 * l - r + 2) * (r - 1) / 2 + (c - r)

  /** Per-multi-block worker counts after triangle rounding + greedy leftover
    * redistribution. Exposed separately for the README golden test. */
  def multiWorkerCounts(work: Seq[(BKV, Long)], k: Int): Map[BKV, Int] = {
    val workMulti = work.map(_._2).sum.toDouble
    val ki0 = work.map { case (b, w) => (b, math.floor(w / workMulti * k).toInt) }
    var kis: Map[BKV, Int] = ki0.map { case (b, k0) =>
      val l = getL(k0); (b, l * (l + 1) / 2)
    }.toMap
    var leftovers = k - kis.values.sum
    val byDeficit = ki0
      .flatMap { case (b, k0) =>
        val cur = kis(b)
        val l = getL(k0)
        val extra = (l + 1) * (l + 2) / 2 - cur
        if (k0 - cur > 0) Some((b, k0 - cur, extra)) else None
      }
      .sortBy { case (b, d, _) => (-d, b.k, b.v) }
    for ((b, _, extra) <- byDeficit if extra <= leftovers) {
      kis += b -> (kis(b) + extra)
      leftovers -= extra
    }
    kis
  }

  /** Assign reducer ids (1-based) to each block.
    *
    * @param stats     (block, tuple count) — at minimum every block with
    *                  workload above τ; blocks omitted here must be routed
    *                  by the caller (single reducer, any stable choice).
    * @param totalWork Σ n(n-1)/2 over ALL blocks; defaults to the sum over
    *                  `stats` (correct when stats is complete).
    */
  def assign(
      stats: Seq[(BKV, Long)],
      k: Int,
      totalWork: Option[Long] = None): Map[BKV, IndexedSeq[Int]] = {
    require(k >= 1, s"need at least one reducer, got $k")
    val work = stats.map { case (b, n) => (b, n * (n - 1) / 2) }
    val w = totalWork.getOrElse(work.map(_._2).sum)
    val multiThresh = w.toDouble / k
    val tau = DisDedupPlanner.tau(w, k)

    // Deterministic orders (the reference iterates hash maps — partition- and
    // runtime-dependent; the resulting PAIR SET is invariant, so we pick
    // stable orders instead: multi by workload desc, single-det by workload
    // asc as in Setup.scala:76-81).
    val multi = work.filter(_._2 > multiThresh).sortBy { case (b, x) => (-x, b.k, b.v) }
    val singleDet = work
      .filter { case (_, x) => x <= multiThresh && x > tau }
      .sortBy { case (b, x) => (x, b.k, b.v) }
    val singleRnd = work.filter(_._2 <= tau).sortBy { case (b, _) => (b.k, b.v) }

    val kis = multiWorkerCounts(multi, k)
    val rand = new Random(Seed)
    val s = rand.shuffle((1 to k).toVector)
    var n = 0
    val out = Map.newBuilder[BKV, IndexedSeq[Int]]
    for ((b, _) <- multi) {
      val ki = kis(b)
      out += b -> s.slice(n, n + ki)
      n += ki
    }
    for ((b, _) <- singleDet) {
      out += b -> Vector(s(n % k))
      n += 1
    }
    for ((b, _) <- singleRnd)
      out += b -> Vector(rand.nextInt(k) + 1)
    out.result()
  }
}
