package graft.ops

import graft.Tables
import graft.dedup.DedupPipeline
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Near-duplicate detection over `documents` — the scale path for corpus
  * dedup: MinHash signatures, LSH band-bucket candidate generation, and
  * SimHash bit-vote fingerprints (SURVEY.md §7 north-star ops).
  *
  * Everything is expressed with higher-order array functions over a portable
  * 56-bit hash (`md5` hex prefix → BIGINT) so the SAME math runs in DuckDB —
  * these queries get full value-level oracles, not rows-only checks.
  *
  * Scale shape (100 TB): signature computation is embarrassingly parallel
  * (one pass, no shuffle); the only shuffle is the LSH band join, whose key
  * (band, band-hash) is uniform by construction — the whole point of LSH
  * banding is to turn a quadratic similarity join into an equi-join with
  * bounded bucket sizes. No driver-side state anywhere.
  */
/** MinHash/LSH tuning. P(candidate | Jaccard j) = 1 - (1 - j^rowsPerBand)^numBands.
  * The defaults are demo-scale; at corpus scale raise numPerm/numBands (more
  * tables ⇒ higher recall, more rows per band ⇒ higher precision) — bucket
  * sizes stay bounded because the band key space grows with the corpus. */
final case class MinHashConfig(numPerm: Int = 16, numBands: Int = 4, rowsPerBand: Int = 4) {
  require(numBands * rowsPerBand == numPerm,
    s"numBands($numBands) * rowsPerBand($rowsPerBand) must equal numPerm($numPerm)")
}

/** SimHash banding tuning. With tables × prefixBits = 56 (the fingerprint
  * width) the rotated prefixes tile the fingerprint, so any pair within
  * Hamming distance tables-1 is guaranteed to collide in some table
  * (pigeonhole). At corpus scale widen prefixBits (smaller buckets) and add
  * tables (higher Hamming guarantee). */
final case class SimHashConfig(tables: Int = 4, prefixBits: Int = 14) {
  require(tables * prefixBits <= 56, "rotated prefixes must fit the 56-bit fingerprint")
}

/** Span-level dedup tuning: documents are cut into fixed-stride token
  * windows of `width`; a span is removed when an identical span exists
  * earlier in the corpus (exact) or when LSH banding finds an earlier span
  * with estimated Jaccard ≥ `minEstJaccard` (near). Wider spans ⇒ fewer,
  * more conservative removals. */
final case class SpanDedupConfig(width: Int = 8, minEstJaccard: Double = 0.75)

object NearDup {

  /** Demo-scale defaults; the driver-contract queries use exactly these so
    * the embedded oracle SQL (built from the same values) stays in sync. */
  val DefaultMinHash: MinHashConfig = MinHashConfig()
  val DefaultSimHash: SimHashConfig = SimHashConfig()

  /** Word 3-gram shingles (distinct) per document; documents shorter than
    * one shingle are dropped (both engines). Spark arrays are 0-indexed in
    * SQL subscripts, DuckDB lists 1-indexed — the oracle shifts accordingly. */
  private def shingled(df: DataFrame): DataFrame =
    df.withColumn("toks", expr("""split(trim(text), '\\s+')"""))
      .filter(expr("size(toks) >= 3"))
      .withColumn("shingles", expr(
        """array_distinct(transform(sequence(0, size(toks) - 3),
          |  i -> concat(toks[i], ' ', toks[i+1], ' ', toks[i+2])))""".stripMargin))

  /** Permutation family: one 56-bit md5 base hash per shingle, then each
    * permutation sd derives h_sd = (base·(2sd+1) + 981·sd) mod 2^56 — an
    * affine rehash with odd multiplier, max operand < 2^62 so the checked
    * BIGINT arithmetic in both engines never overflows. 16× fewer md5 calls
    * than hashing (seed, shingle) pairs. */
  private def withSignature(df: DataFrame, cfg: MinHashConfig): DataFrame = {
    graft.functions.GraftFunctions.register(df.sparkSession)
    // native codegen signature (graft.functions.MinHashAffine): one
    // O(numPerm·n) pass; minima are order-independent so the oracle's
    // per-permutation array_min formulation matches exactly
    df.withColumn("hs", expr(
      "transform(shingles, s -> md5_prefix56(s))"))
      .withColumn("sig", expr(s"minhash_affine(hs, ${cfg.numPerm})"))
      .drop("hs")
  }

  /** MinHash signatures: doc_id → 16-permutation signature vector, emitted
    * as an '_'-joined scalar string so the driver's oracle can sort/hash the
    * column (raw ARRAY columns break its pandas canonicalization). */
  def q26MinhashSig(spark: SparkSession, sfDir: String,
      cfg: MinHashConfig = DefaultMinHash): DataFrame =
    withSignature(shingled(Tables.parallelized(Tables(spark, sfDir, "documents"))), cfg)
      .select(col("doc_id"),
        expr("array_join(transform(sig, x -> CAST(x AS STRING)), '_')").as("sig"))

  /** DuckDB CTE text for shingling + MinHash signatures over relation
    * `from` (must expose doc_id, text): defines CTEs `sh` and `sig`. The
    * SINGLE source of the shingle/hash formulas for every oracle that uses
    * them (q26, q27, q51) — so a formula change cannot silently diverge. */
  private[ops] def minhashSqlCtes(from: String,
      cfg: MinHashConfig = DefaultMinHash): String = s"""
    sh AS (
      SELECT doc_id,
        list_distinct(list_transform(
          range(len(regexp_split_to_array(trim(text), '\\s+')) - 2),
          i -> regexp_split_to_array(trim(text), '\\s+')[i+1] || ' ' ||
               regexp_split_to_array(trim(text), '\\s+')[i+2] || ' ' ||
               regexp_split_to_array(trim(text), '\\s+')[i+3])) AS shingles
      FROM $from
      WHERE len(regexp_split_to_array(trim(text), '\\s+')) >= 3),
    sig AS (
      SELECT doc_id, shingles,
        list_transform(range(${cfg.numPerm}),
          sd -> list_min(list_transform(
            list_transform(shingles, s -> ('0x' || substr(md5(s), 1, 14))::BIGINT),
            h -> (h * (2*sd + 1) + 981 * sd) % 72057594037927936))) AS sig
      FROM sh)"""

  /** [[minhashSqlCtes]] plus the LSH banding join: adds CTEs `band` and
    * `pairs` (id1, id2, n_shared_bands). */
  private[ops] def lshCandidateSqlCtes(from: String,
      cfg: MinHashConfig = DefaultMinHash): String = s"""${minhashSqlCtes(from, cfg)},
    band AS (
      SELECT doc_id, b,
        md5(array_to_string(list_slice(sig, b*${cfg.rowsPerBand} + 1, b*${cfg.rowsPerBand} + ${cfg.rowsPerBand}), '_')) AS bkey
      FROM sig, range(${cfg.numBands}) t(b)),
    pairs AS (
      SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS n_shared_bands
      FROM band a JOIN band b ON a.b = b.b AND a.bkey = b.bkey AND a.doc_id < b.doc_id
      GROUP BY 1, 2)"""

  val q26MinhashSigSql: String = s"""
    WITH ${minhashSqlCtes("documents")}
    SELECT doc_id,
      array_to_string(list_transform(sig, x -> x::VARCHAR), '_') AS sig
    FROM sig
  """

  /** LSH band-bucket near-dup pairs: explode each signature into banded
    * md5 bucket keys, equi-join on (band, key), then score candidates with
    * the signature-estimated Jaccard and the exact shingle Jaccard. */
  def q27LshPairs(spark: SparkSession, sfDir: String,
      cfg: MinHashConfig = DefaultMinHash): DataFrame =
    lshPairsOn(Tables.parallelized(Tables(spark, sfDir, "documents")), cfg)

  /** Same candidate join over ANY (doc_id, text, ...) frame — reused by the
    * corpus-curation pipeline on an already-filtered document set. */
  /** The persisted LSH-BAND INDEX's signature table: (doc_id, sig,
    * shingles) — one row per document, the checkpoint every consumer of
    * the MinHash pipeline re-derives today. Persisting it is what lets an
    * admission (and q131's consolidation input) skip the corpus-wide
    * shingle+minhash pass entirely. */
  private[graft] def sigFrame(docs: DataFrame,
      cfg: MinHashConfig = DefaultMinHash): DataFrame =
    withSignature(shingled(docs), cfg)
      .select(col("doc_id"), col("sig"), col("shingles"))

  /** A signature's LSH band keys: band b's key is the md5 of its '_'-joined
    * `rowsPerBand` minhashes. */
  private def bandKeys(cfg: MinHashConfig): Seq[org.apache.spark.sql.Column] =
    (0 until cfg.numBands).map(b => md5(array_join(
      transform(slice(col("sig"), b * cfg.rowsPerBand + 1, cfg.rowsPerBand),
        _.cast("string")), "_")))

  /** The index's band-posting table from a signature table: (doc_id,
    * band, bkey) — the equi-join key space of the candidate generator. */
  private[graft] def bandsFrame(sigs: DataFrame,
      cfg: MinHashConfig = DefaultMinHash): DataFrame =
    sigs.select(col("doc_id"), explode(array(bandKeys(cfg).zipWithIndex.map {
        case (key, b) => struct(lit(b).as("band"), key.as("bkey")) }: _*)).as("bb"))
      .select(col("doc_id"), col("bb.band").as("band"), col("bb.bkey").as("bkey"))

  /** The candidate columns (est/true Jaccard) joined onto a pair list from
    * a signature table — shared by the from-scratch generator and the
    * index admission so the two paths cannot diverge. */
  private def withJaccards(pairs: DataFrame, sigs: DataFrame,
      cfg: MinHashConfig): DataFrame =
    pairs
      .join(sigs.select(col("doc_id"), col("sig").as("sig1"), col("shingles").as("sh1")),
        col("id1") === col("doc_id")).drop("doc_id")
      .join(sigs.select(col("doc_id"), col("sig").as("sig2"), col("shingles").as("sh2")),
        col("id2") === col("doc_id")).drop("doc_id")
      .select(
        col("id1"), col("id2"), col("n_shared_bands"),
        (expr("size(filter(zip_with(sig1, sig2, (x, y) -> x = y), v -> v))") /
          lit(cfg.numPerm.toDouble)).as("est_jaccard"),
        (expr("size(array_intersect(sh1, sh2))").cast("double") /
          expr("size(sh1) + size(sh2) - size(array_intersect(sh1, sh2))").cast("double"))
          .as("true_jaccard"))

  /** Admit a document batch against a persisted LSH-band index: the
    * batch's INCIDENT candidate pairs (batch↔standing and batch↔batch)
    * with the q27 columns — exactly `lshPairsOn(base ∪ batch)` restricted
    * to pairs touching a batch doc (the IndexFamilySpec law), while
    * shingling/signing only |batch| text; the standing corpus rides in as
    * its persisted sig + band tables. The incremental face of q131's
    * consolidation input: per batch, candidates come from one banded
    * equi-join against the posting table, never a corpus re-sign.
    *
    * Scale shape: the band join's key space is (band, bkey) — uniform by
    * construction; the batch side is |batch| × numBands rows; the
    * signature join-backs touch only candidate ids. */
  private[graft] def lshAdmitAgainstIndex(batch: DataFrame, sig: DataFrame,
      bands: DataFrame, cfg: MinHashConfig = DefaultMinHash): DataFrame =
    lshAdmitFromSig(sigFrame(batch, cfg), sig, bands, cfg)

  /** [[lshAdmitAgainstIndex]] with the batch's SIGNATURES precomputed —
    * signing is per-document (a doc's shingles/minhashes depend on its
    * text alone), so a caller already holding the batch's sig rows (a
    * split of a standing sig table, as in the q254/q265 gate splits) must
    * not pay a second shingle+minhash pass to admit. Real admissions
    * (CLI/stream) keep entering through the text form above. */
  private[graft] def lshAdmitFromSig(batchSig: DataFrame, sig: DataFrame,
      bands: DataFrame, cfg: MinHashConfig = DefaultMinHash): DataFrame = {
    val bsig = graft.CachedFrames.track(batchSig)
    val bbands = bandsFrame(bsig, cfg)
    val others = bands.unionByName(bbands)
    val pairs = bbands.alias("a")
      .join(others.alias("b"),
        col("a.band") === col("b.band") && col("a.bkey") === col("b.bkey") &&
          col("a.doc_id") =!= col("b.doc_id"))
      .select(least(col("a.doc_id"), col("b.doc_id")).as("id1"),
        greatest(col("a.doc_id"), col("b.doc_id")).as("id2"), col("a.band"))
      .distinct() // batch↔batch band hits arrive once per ORDER, not per side
      .groupBy(col("id1"), col("id2"))
      .agg(count(lit(1)).as("n_shared_bands"))
    withJaccards(pairs, sig.unionByName(bsig), cfg)
  }

  private[graft] def lshPairsOn(docs: DataFrame,
      cfg: MinHashConfig = DefaultMinHash): DataFrame =
    // persist: the signature frame is read multiple times (band explode +
    // two join-backs) — minhash recomputation dominates without it; at
    // corpus scale this materialization is the standard signature
    // checkpoint, and the PERSISTED form is the LSH-band index family
    lshPairsFromSig(graft.CachedFrames.track(sigFrame(docs, cfg)), cfg)

  /** The q27 candidate join from an ALREADY-SIGNED (and caller-tracked)
    * signature table — split out so a split of a standing sig table (the
    * q265 gate) can feed the generator without re-signing text. */
  private[graft] def lshPairsFromSig(sigs: DataFrame,
      cfg: MinHashConfig = DefaultMinHash): DataFrame =
    withJaccards(bandPairs(sigs, cfg), sigs, cfg)

  /** (id1 < id2, n_shared_bands): every doc pair sharing an LSH band
    * bucket. Bands are blocking functions of [[DedupPipeline.blockJoin]],
    * so each pair is emitted once, in its lowest shared band. The join
    * carries every band key, as the raw 16-byte digest rather than its hex
    * text: half the bytes per key keeps the band rows small enough to
    * broadcast at the sizes where the slim (doc_id, band, bkey) rows were. */
  private def bandPairs(sigs: DataFrame, cfg: MinHashConfig): DataFrame =
    DedupPipeline.blockJoin(sigs, col("doc_id"), bandKeys(cfg).map(unhex), Nil,
        ("band", "bkey"))
      .select(col("a.id").as("id1"), col("b.id").as("id2"),
        DedupPipeline.sharedKeys(cfg.numBands).as("n_shared_bands"))

  val q27LshPairsSql: String = s"""
    WITH ${lshCandidateSqlCtes("documents")}
    SELECT p.id1, p.id2, p.n_shared_bands,
      len(list_filter(list_zip(s1.sig, s2.sig), z -> z[1] = z[2])) / ${DefaultMinHash.numPerm}.0 AS est_jaccard,
      CAST(len(list_intersect(s1.shingles, s2.shingles)) AS DOUBLE) /
        CAST(len(s1.shingles) + len(s2.shingles) - len(list_intersect(s1.shingles, s2.shingles)) AS DOUBLE)
        AS true_jaccard
    FROM pairs p
    JOIN sig s1 ON p.id1 = s1.doc_id
    JOIN sig s2 ON p.id2 = s2.doc_id
  """

  /** Query sample bound for q107's measured-recall truth side — the text
    * analog of [[AnnConfig.knnQueryIds]]: ground truth is exact for every
    * pair anchored at a sampled lower id, and recall is measured over that
    * sample, never over the quadratic whole. */
  private val ScoreboardSampleN = 100

  /** Jaccard thresholds the q107 scoreboard reports. The synthetic corpus's
    * planted near-dups sit at j ≈ 0.99 with everything else far below 0.2,
    * so all three rows see the same truth set there — on a real corpus they
    * fan out into the precision/recall tradeoff curve. */
  private val ScoreboardTaus = Seq(0.2, 0.5, 0.8)

  /** q107: measured LSH candidate quality — the text-dedup twin of the ANN
    * recall scoreboard (q63/q75). For each Jaccard threshold τ it reports
    * how the banded candidate generator (q27) actually performed against
    * EXACT ground truth on a bounded sample: n_true exact pairs at ≥ τ
    * anchored at a sampled lower id, n_cand LSH candidates in the same
    * sample window, n_hit candidates whose true Jaccard clears τ, and the
    * derived recall (n_hit/n_true — hits are a subset of truth since any
    * pair with τ > 0 shares a shingle) and prec (n_hit/n_cand).
    *
    * Ground truth comes from the shingle posting-list join, not an
    * all-pairs scan: a pair with Jaccard > 0 shares at least one distinct
    * shingle, so joining the SAMPLE docs' postings against the corpus
    * postings finds every true pair exactly. Scale shape (100 TB): the
    * truth join's cost is Σ_s df_sample(s)·df(s) — linear in the sample
    * postings times ambient document frequency, the same bounded-sample
    * contract as q29's brute-force ANN truth; the candidate side is the
    * production q27 path unchanged. The three tiny per-τ aggregates are
    * broadcast theta-joins against a 3-row literal frame. */
  def q107LshScoreboard(spark: SparkSession, sfDir: String,
      cfg: MinHashConfig = DefaultMinHash): DataFrame = {
    import spark.implicits._
    val docs = Tables.parallelized(Tables(spark, sfDir, "documents"))
    val sh = graft.CachedFrames.track(
      shingled(docs).select(col("doc_id"), col("shingles")))
    val post = sh.select(col("doc_id"), explode(col("shingles")).as("s"))
    val tp = post.alias("a").filter(col("a.doc_id") < ScoreboardSampleN)
      .join(post.alias("b"),
        col("a.s") === col("b.s") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("id1"), col("b.doc_id").as("id2"))
      .agg(count(lit(1)).as("n_int"))
    val tj = tp
      .join(sh.select(col("doc_id").as("id1"), size(col("shingles")).as("n1")), "id1")
      .join(sh.select(col("doc_id").as("id2"), size(col("shingles")).as("n2")), "id2")
      .withColumn("j", col("n_int").cast("double") /
        (col("n1") + col("n2") - col("n_int")).cast("double"))
      .select(col("id1"), col("j"))
    val cand = graft.CachedFrames.track(
      lshPairsOn(docs, cfg).filter(col("id1") < ScoreboardSampleN)
        .select(col("id1"), col("true_jaccard")))
    val taus = ScoreboardTaus.toDF("tau")
    val truePerTau = taus.join(tj, col("j") >= col("tau"), "left")
      .groupBy(col("tau")).agg(count(col("id1")).as("n_true"))
    val hitPerTau = taus.join(cand, col("true_jaccard") >= col("tau"), "left")
      .groupBy(col("tau")).agg(count(col("id1")).as("n_hit"))
    val candAgg = cand.agg(count(lit(1)).as("n_cand"))
    truePerTau.join(hitPerTau, "tau").crossJoin(candAgg)
      .withColumn("recall", when(col("n_true") > 0,
        col("n_hit").cast("double") / col("n_true").cast("double")))
      .withColumn("prec", when(col("n_cand") > 0,
        col("n_hit").cast("double") / col("n_cand").cast("double")))
      .select(col("tau"), col("n_true"), col("n_cand"), col("n_hit"),
        col("recall"), col("prec"))
  }

  val q107LshScoreboardSql: String = s"""
    WITH ${lshCandidateSqlCtes("documents")},
    taus AS (SELECT unnest([${ScoreboardTaus.map(t => s"$t::DOUBLE").mkString(", ")}]) AS tau),
    post AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
    tp AS (
      SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS n_int
      FROM post a JOIN post b ON a.s = b.s AND a.doc_id < b.doc_id
      WHERE a.doc_id < $ScoreboardSampleN
      GROUP BY 1, 2),
    tj AS (
      SELECT tp.id1,
        CAST(n_int AS DOUBLE) /
          CAST(len(s1.shingles) + len(s2.shingles) - n_int AS DOUBLE) AS j
      FROM tp JOIN sh s1 ON tp.id1 = s1.doc_id JOIN sh s2 ON tp.id2 = s2.doc_id),
    cand AS (
      SELECT p.id1,
        CAST(len(list_intersect(s1.shingles, s2.shingles)) AS DOUBLE) /
          CAST(len(s1.shingles) + len(s2.shingles)
               - len(list_intersect(s1.shingles, s2.shingles)) AS DOUBLE) AS tjac
      FROM pairs p JOIN sig s1 ON p.id1 = s1.doc_id JOIN sig s2 ON p.id2 = s2.doc_id
      WHERE p.id1 < $ScoreboardSampleN),
    tcount AS (
      SELECT tau, count(tj.j) AS n_true
      FROM taus LEFT JOIN tj ON tj.j >= taus.tau GROUP BY 1),
    hcount AS (
      SELECT tau, count(cand.tjac) AS n_hit
      FROM taus LEFT JOIN cand ON cand.tjac >= taus.tau GROUP BY 1),
    ccount AS (SELECT count(*) AS n_cand FROM cand)
    SELECT t.tau, t.n_true, c.n_cand, h.n_hit,
      CASE WHEN t.n_true > 0
        THEN CAST(h.n_hit AS DOUBLE) / CAST(t.n_true AS DOUBLE) END AS recall,
      CASE WHEN c.n_cand > 0
        THEN CAST(h.n_hit AS DOUBLE) / CAST(c.n_cand AS DOUBLE) END AS prec
    FROM tcount t JOIN hcount h USING (tau) CROSS JOIN ccount c
  """

  /** SimHash banding: `cfg.tables` rotations, each bucketed on its
    * top-`cfg.prefixBits` bits. With tables × prefix = fingerprint width
    * (default 4 × 14 = 56) the prefixes tile the fingerprint, so by
    * pigeonhole any pair within Hamming distance tables-1 (= 3) shares at
    * least one untouched block and is guaranteed to collide — the standard
    * multi-table SimHash sharding (Manku et al., WWW'07 §3).
    *
    * Scale shape: bucket universe is tables × 2^prefixBits (4 × 16384 here
    * vs the naive single 256-bucket prefix); bucket size — and therefore the
    * quadratic within-bucket pair work — shrinks as corpus / 2^prefixBits,
    * and prefixBits grows with the corpus (more tables ⇒ higher Hamming
    * guarantee, wider prefixes ⇒ smaller buckets). */
  private val SimHashBits = 56

  /** Table r's rotated-prefix bucket for a simhash column — rotation r
    * moves block r to the top: rot = (x mod 2^(56-k))·2^k + (x div
    * 2^(56-k)), k = r·prefixBits; all operands < 2^56 so BIGINT arithmetic
    * never overflows. The one formula behind q37's pair join,
    * [[simhashBandsOn]] and the streaming admission probe
    * ([[graft.streaming.EventStreams.admissionStream]]), which needs the
    * per-table buckets as scalar columns (no explode: its stream side
    * stays one row per document through stateless static-index joins). */
  private[graft] def rotBucket(simhash: org.apache.spark.sql.Column, r: Int,
      cfg: SimHashConfig = DefaultSimHash): org.apache.spark.sql.Column = {
    val k = r * cfg.prefixBits
    val lowBits = SimHashBits - k
    val rot = (simhash.bitwiseAND(lit((1L << lowBits) - 1L)) * lit(1L << k)) +
      shiftright(simhash, lowBits)
    shiftright(rot, SimHashBits - cfg.prefixBits)
  }

  /** (doc_id, simhash, t, bucket) rows, one per table: the batch-vs-corpus
    * admission probes' side of the rotation banding. */
  private[graft] def simhashBandsOn(sims: DataFrame,
      cfg: SimHashConfig = DefaultSimHash): DataFrame = {
    import cfg.tables
    sims.select(col("doc_id") +: col("simhash") +:
      (0 until tables).map { r =>
        rotBucket(col("simhash"), r, cfg).as(s"b$r")
      }: _*)
      .select(col("doc_id"), col("simhash"),
        explode(array((0 until tables).map(r =>
          struct(lit(r).as("t"), col(s"b$r").as("bucket"))): _*)).as("tb"))
      .select(col("doc_id"), col("simhash"),
        col("tb.t").as("t"), col("tb.bucket").as("bucket"))
  }

  /** SimHash near-dup pairs: the rotation tables are blocking functions of
    * [[DedupPipeline.blockJoin]], so each pair is emitted once, in its
    * lowest shared table; its Hamming distance is the same in every table. */
  def q37SimhashPairs(spark: SparkSession, sfDir: String,
      cfg: SimHashConfig = DefaultSimHash): DataFrame = {
    val sims = graft.CachedFrames.track(q28Simhash(spark, sfDir)
      .select(col("doc_id"), col("simhash")))
    DedupPipeline.blockJoin(sims, col("doc_id"),
        (0 until cfg.tables).map(r => rotBucket(col("simhash"), r, cfg)),
        Seq(col("simhash")), ("t", "bucket"))
      .select(col("a.id").as("id1"), col("b.id").as("id2"),
        DedupPipeline.sharedKeys(cfg.tables).as("n_tables"),
        expr("bit_count(a.simhash ^ b.simhash)").as("hamming"))
  }

  /** DuckDB text for the rotation-band UNION over a (doc_id, simhash)
    * relation `fromS` — the oracle twin of [[simhashBandsOn]]. */
  private[graft] def simhashRotBucketSql(fromS: String): String =
    (0 until DefaultSimHash.tables).map { r =>
      val k = r * DefaultSimHash.prefixBits
      val lowBits = SimHashBits - k
      s"""SELECT doc_id, simhash, $r AS t,
         |  (((simhash & ${(1L << lowBits) - 1L}) * ${1L << k} + (simhash >> $lowBits))
         |   >> ${SimHashBits - DefaultSimHash.prefixBits}) AS bucket FROM $fromS""".stripMargin
    }.mkString("\nUNION ALL\n")

  /** DuckDB SELECT computing (doc_id, simhash) from a (doc_id, text)
    * relation — the oracle twin of [[withSimhash]]. */
  private[graft] def simhashSqlSelect(from: String): String = s"""
      SELECT doc_id,
        list_reduce(list_prepend(0::BIGINT, range(56)), (acc, j) -> acc +
          CASE WHEN list_reduce(list_prepend(0::BIGINT, th),
                      (a, h) -> a + CASE WHEN ((h >> j) & 1) = 1 THEN 1 ELSE -1 END) >= 0
               THEN (1::BIGINT << j) ELSE 0 END) AS simhash
      FROM (
        SELECT doc_id,
          list_transform(list_distinct(regexp_split_to_array(trim(text), '\\s+')),
            s -> ('0x' || substr(md5('0:' || s), 1, 14))::BIGINT) AS th
        FROM $from)"""

  val q37SimhashPairsSql: String = s"""
    WITH s AS (${simhashSqlSelect("documents")}),
    bands AS (
      ${simhashRotBucketSql("s")})
    SELECT a.doc_id AS id1, b.doc_id AS id2,
      count(*) AS n_tables,
      CAST(min(bit_count(xor(a.simhash, b.simhash))) AS INTEGER) AS hamming
    FROM bands a JOIN bands b
      ON a.t = b.t AND a.bucket = b.bucket AND a.doc_id < b.doc_id
    GROUP BY 1, 2
  """

  val DefaultSpanDedup: SpanDedupConfig = SpanDedupConfig()

  /** Span/paragraph-level dedup (C4/RefinedWeb-style boilerplate removal):
    * explode each document into fixed-stride `width`-token spans, remove a
    * span when (a) a byte-identical span exists earlier in the corpus
    * (exact, cross-document) or (b) LSH banding pairs it with an earlier
    * span at estimated Jaccard ≥ `minEstJaccard` (near). Emits the per-doc
    * surviving text: (doc_id, n_spans, n_kept, kept_text).
    *
    * "Earlier" = smaller span_id = doc_id·2^20 + span_idx (2^20 spans ⇒
    * 8M-token docs before collision; doc_id < 2^43 stays overflow-free in
    * checked BIGINT arithmetic) — a total order
    * both engines compare identically, so removal is deterministic without
    * a transitive-closure pass. Scale shape: the span explode is
    * embarrassingly parallel; exact dedup shuffles once on the uniform md5
    * key; near-dup reuses the sub-quadratic banded equi-join
    * ([[lshPairsOn]]); the per-doc fold buffers only one document's spans. */
  def q53SpanDedup(spark: SparkSession, sfDir: String,
      cfg: SpanDedupConfig = DefaultSpanDedup): DataFrame =
    spanDedupOn(Tables.parallelized(Tables(spark, sfDir, "documents")), cfg)

  /** [[q53SpanDedup]]'s core over ANY (doc_id BIGINT, text) frame. */
  private[ops] def spanDedupOn(docs: DataFrame,
      cfg: SpanDedupConfig = DefaultSpanDedup): DataFrame = {
    val w = cfg.width
    val spans = docs
      .withColumn("tk", expr("""split(trim(text), '\\s+')"""))
      .select(col("doc_id"),
        explode(expr(s"sequence(0, CAST(ceil(size(tk) / $w.0) AS INT) - 1)")).as("span_idx"),
        col("tk"))
      .select(col("doc_id"), col("span_idx"),
        // packing limits enforced at runtime, not just documented: outside
        // them the packed id silently collides into the next doc's id space
        // (wrong earlier-copy ordering, corrupted joins). assert_true yields
        // NULL when in range, so coalesce passes the packed id through.
        coalesce(
          expr(s"assert_true(span_idx < ${1L << 20} AND doc_id >= 0 AND doc_id < ${1L << 43}, " +
            s"'q53 span_id packing out of range: requires 0 <= doc_id < 2^43 and span_idx < 2^20 " +
            s"(document over ~8.4M tokens or doc_id too large)')"),
          col("doc_id") * lit(1L << 20) + col("span_idx")).as("span_id"),
        expr(s"concat_ws(' ', slice(tk, span_idx * $w + 1, $w))").as("span_text"))
    // exact: keep only the corpus-first copy of each identical span, via a
    // min_by aggregate on the content digest — map-side partial-combined,
    // so a boilerplate span duplicated across millions of documents emits
    // one candidate row per map task instead of shipping every copy to a
    // single reducer (a min-over-window partition would, and AQE's skew
    // splitting does not apply to window partitions). span_id is unique,
    // so min_by is a total order and deterministic under any combine order.
    // Cached too: the survivors feed the LSH signature pipeline AND the
    // final anti-join/reassembly.
    val exactKeep = graft.CachedFrames.track(spans
      .groupBy(md5(col("span_text")).as("ck"))
      .agg(min_by(
        struct(col("doc_id"), col("span_idx"), col("span_id"), col("span_text")),
        col("span_id")).as("r"))
      .select(col("r.doc_id").as("doc_id"), col("r.span_idx").as("span_idx"),
        col("r.span_id").as("span_id"), col("r.span_text").as("span_text")))
    // near: LSH over the exact survivors at span granularity; the later
    // span of every confident pair is dropped
    val dropIds = lshPairsOn(
        exactKeep.select(col("span_id").as("doc_id"), col("span_text").as("text")),
        DefaultMinHash)
      .filter(col("est_jaccard") >= cfg.minEstJaccard)
      .select(col("id2").as("span_id")).distinct()
    val kept = exactKeep.join(dropIds, Seq("span_id"), "left_anti")
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_kept"),
        expr("array_join(transform(array_sort(collect_list(struct(span_idx, span_text))), x -> x.span_text), ' ')")
          .as("kept_text"))
    // n_spans needs no second span explode: it is ceil(|tokens| / width)
    // per document straight off the scan
    docs.select(col("doc_id"),
        expr(s"CAST(ceil(size(split(trim(text), '\\\\s+')) / $w.0) AS BIGINT)").as("n_spans"))
      .join(kept, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_spans"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("kept_text"), lit("")).as("kept_text"))
  }

  val q53SpanDedupSql: String = q53SpanDedupSqlFrom("documents")

  /** q53's oracle parameterized by the source relation — the q191
    * waterfall composes it over the exact-dedup survivors CTE. */
  private[graft] def q53SpanDedupSqlFrom(from: String): String = {
    val w = DefaultSpanDedup.width
    s"""
    WITH toksd AS (
      SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS tk FROM $from),
    idxd AS (
      SELECT doc_id, tk,
        unnest(range(CAST(ceil(len(tk) / $w.0) AS BIGINT))) AS span_idx
      FROM toksd),
    spans AS (
      SELECT doc_id, span_idx, doc_id * ${1L << 20} + span_idx AS span_id,
        array_to_string(list_slice(tk, span_idx * $w + 1, span_idx * $w + $w), ' ') AS span_text
      FROM idxd),
    exact_keep AS (
      SELECT doc_id, span_idx, span_id, span_text FROM (
        SELECT *, min(span_id) OVER (PARTITION BY md5(span_text)) AS canon
        FROM spans)
      WHERE span_id = canon),
    su AS (SELECT span_id AS doc_id, span_text AS text FROM exact_keep),
    ${lshCandidateSqlCtes("su")},
    drop_ids AS (
      SELECT DISTINCT p.id2 AS span_id
      FROM pairs p JOIN sig s1 ON p.id1 = s1.doc_id JOIN sig s2 ON p.id2 = s2.doc_id
      WHERE len(list_filter(list_zip(s1.sig, s2.sig), z -> z[1] = z[2])) / ${DefaultMinHash.numPerm}.0
            >= ${DefaultSpanDedup.minEstJaccard}),
    kept AS (
      SELECT e.doc_id, count(*) AS n_kept,
        array_to_string(list(span_text ORDER BY span_idx), ' ') AS kept_text
      FROM exact_keep e ANTI JOIN drop_ids d ON e.span_id = d.span_id
      GROUP BY 1),
    tot AS (SELECT doc_id, count(*) AS n_spans FROM spans GROUP BY 1)
    SELECT t.doc_id, t.n_spans,
      COALESCE(k.n_kept, 0) AS n_kept,
      COALESCE(k.kept_text, '') AS kept_text
    FROM tot t LEFT JOIN kept k ON t.doc_id = k.doc_id
  """
  }

  /** SimHash: 56-bit bit-vote fingerprint over distinct word tokens.
    * Near-dup docs land within a small Hamming distance; at scale you pair
    * via rotated-prefix banding, the same equi-join shape as LSH above. */
  /** Add the 56-bit SimHash fingerprint to ANY frame with a `text` column —
    * the SINGLE source of the fingerprint formula, shared by q28/q37 and the
    * streaming near-dedup ([[graft.streaming.EventStreams.nearDedupStream]]),
    * so batch and stream fingerprints can never diverge. Native codegen
    * bit-vote (graft.functions.SimHash56) — votes are order-independent
    * integer sums, so the oracle's fold form matches exactly. */
  private[graft] def withSimhash(docs: DataFrame): DataFrame = {
    graft.functions.GraftFunctions.register(docs.sparkSession)
    docs
      .withColumn("__toks", expr("""array_distinct(split(trim(text), '\\s+'))"""))
      .withColumn("__th", expr(
        "transform(__toks, s -> md5_prefix56(concat('0:', s)))"))
      .withColumn("simhash", call_function("simhash56", col("__th")))
      .drop("__toks", "__th")
  }

  def q28Simhash(spark: SparkSession, sfDir: String): DataFrame =
    withSimhash(Tables.parallelized(Tables(spark, sfDir, "documents")))
      .select(col("doc_id"), col("simhash"))
      .withColumn("n_bits", bit_count(col("simhash")))

  val q28SimhashSql: String = """
    WITH x AS (
      SELECT doc_id,
        list_transform(list_distinct(regexp_split_to_array(trim(text), '\s+')),
          s -> ('0x' || substr(md5('0:' || s), 1, 14))::BIGINT) AS th
      FROM documents)
    SELECT doc_id,
      list_reduce(list_prepend(0::BIGINT, range(56)), (acc, j) -> acc +
        CASE WHEN list_reduce(list_prepend(0::BIGINT, th),
                    (a, h) -> a + CASE WHEN ((h >> j) & 1) = 1 THEN 1 ELSE -1 END) >= 0
             THEN (1::BIGINT << j) ELSE 0 END) AS simhash,
      CAST(bit_count(list_reduce(list_prepend(0::BIGINT, range(56)), (acc, j) -> acc +
        CASE WHEN list_reduce(list_prepend(0::BIGINT, th),
                    (a, h) -> a + CASE WHEN ((h >> j) & 1) = 1 THEN 1 ELSE -1 END) >= 0
             THEN (1::BIGINT << j) ELSE 0 END)) AS INTEGER) AS n_bits
    FROM x
  """

  /** q131 tuning: exact-Jaccard threshold above which a candidate pair is a
    * clustering edge. */
  val ConsolidateTau = 0.8

  /** q131: NEAR-DUP CLUSTER CONSOLIDATION — the full MinHash dedup pipeline
    * closed end to end: LSH candidates (q27) filtered to true-Jaccard ≥
    * [[ConsolidateTau]] edges, connected components over those edges (the
    * q49 dual-strategy CC), and ONE kept document per cluster — the
    * highest [[TextOps.withQualityStats quality score]], ties to the lowest
    * doc_id (q91's keep-best policy applied to near-dup clusters instead of
    * exact-digest groups). Every document gets a verdict row: its cluster,
    * the cluster size, the cluster's keeper, and whether it IS the keeper —
    * singletons keep themselves (component = own id).
    *
    * Scale shape: the candidate generator is the banded equi-join (never
    * quadratic); CC runs on the FILTERED edge list — output of the
    * similarity gate, orders of magnitude smaller than the corpus — via
    * the local union-find / iterative min-label split; and the keeper
    * election is one component-keyed window over cluster-bounded groups.
    * The corpus-sized work is exactly two passes: signatures and the
    * quality projection. */
  def q131NeardupConsolidate(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.parallelized(Tables(spark, sfDir, "documents"))
    val scored = TextOps.withQualityStats(docs)
      .select(col("doc_id"), col("quality_score"))
    val edges = q27LshPairs(spark, sfDir)
      .filter(col("true_jaccard") >= ConsolidateTau)
      .select(col("id1"), col("id2"))
    consolidateOn(scored, edges)
  }

  /** The consolidation core over ANY (doc_id, quality_score) frame and
    * (id1, id2) edge frame — fixture-testable. */
  private[graft] def consolidateOn(scored: DataFrame,
      edges: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cc = graft.dedup.Clustering.connectedComponents(edges)
      .select(col("id").as("doc_id"), col("component"))
    val w = Window.partitionBy(col("component"))
      .orderBy(col("quality_score").desc, col("doc_id").asc)
    val cw = Window.partitionBy(col("component"))
    scored.join(cc, Seq("doc_id"), "left")
      .withColumn("component", coalesce(col("component"), col("doc_id")))
      .withColumn("n_cluster", count(lit(1)).over(cw))
      .withColumn("keeper_id", first(col("doc_id")).over(w))
      .select(col("doc_id"), col("component"), col("quality_score"),
        col("n_cluster"), col("keeper_id"),
        (col("doc_id") === col("keeper_id")).as("keep"))
  }

  /** The q131 oracle replays the fixpoint with a recursive reachability CTE
    * (q49's pattern) over the same threshold-filtered candidate pairs. */
  val q131NeardupConsolidateSql: String = s"""
    WITH RECURSIVE ${lshCandidateSqlCtes("documents")},
    jp AS (
      SELECT p.id1, p.id2
      FROM pairs p
      JOIN sig s1 ON p.id1 = s1.doc_id
      JOIN sig s2 ON p.id2 = s2.doc_id
      WHERE CAST(len(list_intersect(s1.shingles, s2.shingles)) AS DOUBLE) /
        CAST(len(s1.shingles) + len(s2.shingles)
             - len(list_intersect(s1.shingles, s2.shingles)) AS DOUBLE)
        >= $ConsolidateTau),
    e AS (SELECT id1 AS src, id2 AS dst FROM jp UNION SELECT id2, id1 FROM jp),
    nodesg AS (SELECT DISTINCT src AS id FROM e),
    reach(a, b) AS (
      SELECT id, id FROM nodesg
      UNION
      SELECT r.a, e.dst FROM reach r JOIN e ON r.b = e.src),
    comp AS (SELECT a AS doc_id, min(b) AS component FROM reach GROUP BY a),
    xq AS (
      SELECT doc_id,
        ${TextOps.nCharsSql} AS n_chars_m,
        ${TextOps.nTokensSql} AS n_tokens,
        CAST(${TextOps.hitsSql("en")} AS DOUBLE) AS n_stop,
        ${TextOps.nPunctSql} AS n_punct
      FROM documents),
    sq AS (SELECT doc_id, ${TextOps.qualityFromStatsSql} AS quality_score FROM xq),
    fullt AS (
      SELECT s.doc_id, coalesce(c.component, s.doc_id) AS component,
        s.quality_score
      FROM sq s LEFT JOIN comp c ON s.doc_id = c.doc_id)
    SELECT doc_id, component, quality_score,
      count(*) OVER (PARTITION BY component) AS n_cluster,
      first_value(doc_id) OVER wk AS keeper_id,
      doc_id = first_value(doc_id) OVER wk AS keep
    FROM fullt
    WINDOW wk AS (PARTITION BY component
      ORDER BY quality_score DESC, doc_id ASC)
  """

  /** q265: INCREMENTAL CLUSTER MAINTENANCE — the assignment-table face of
    * the LSH admission loop: a standing corpus's near-dup components
    * ([[graft.dedup.Clustering.connectedComponents]] over its τ-filtered
    * edges, component = min member id) updated with an admitted batch's
    * INCIDENT edges only ([[lshAdmitAgainstIndex]] — the q254 face, never
    * a corpus re-sign), via
    * [[graft.dedup.Clustering.incrementalComponents]]: CC over the
    * delta's CONTRACTION graph + one broadcast relabel join. The oracle
    * recomputes the components FROM SCRATCH (q131's reachability CTE over
    * the full grown corpus's τ edges), so the gate hash proves the
    * incremental path lands on exactly the from-scratch assignment — the
    * law that lets a 100 TB cluster table be maintained per admission
    * instead of rebuilt (rebuild = re-sign + re-pair + re-converge the
    * whole corpus; increment = one banded probe + CC over the incident
    * edges + a delta-sized broadcast).
    *
    * Split: the %5 interleave (the lshband family's law split — LSH has
    * no monotone-id precondition). Exactness: labels are exact min ids;
    * no floats anywhere. Scale shape: base signatures are the lshband
    * index build (billed once, the q253 pattern); the batch probe is one
    * banded equi-join; the contraction CC sees only incident τ edges;
    * the standing table is touched by one broadcast join. */
  def q265IncrementalComponents(spark: SparkSession, sfDir: String): DataFrame = {
    // the q254 split of the shared full-corpus signature checkpoint:
    // base edges AND the admission probe both read the tracked split
    // tables instead of re-signing 4/5 of the corpus text
    val (baseSig, batchSig) = q254SigSplit(spark, sfDir)
    val baseEdges = lshPairsFromSig(baseSig)
      .filter(col("true_jaccard") >= ConsolidateTau)
      .select(col("id1"), col("id2"))
    val standing = graft.dedup.Clustering.connectedComponents(baseEdges)
    val incident = lshAdmitFromSig(batchSig, baseSig, bandsFrame(baseSig))
      .filter(col("true_jaccard") >= ConsolidateTau)
      .select(col("id1"), col("id2"))
    graft.dedup.Clustering.incrementalComponents(standing, incident)
      .select(col("id").as("doc_id"), col("component"))
  }

  /** The oracle ignores the split entirely: from-scratch reachability
    * over the GROWN corpus's τ edges (q131's CTE chain) — the strongest
    * form of the incremental law. */
  val q265IncrementalComponentsSql: String = s"""
    WITH RECURSIVE ${lshCandidateSqlCtes("documents")},
    jp AS (
      SELECT p.id1, p.id2
      FROM pairs p
      JOIN sig s1 ON p.id1 = s1.doc_id
      JOIN sig s2 ON p.id2 = s2.doc_id
      WHERE CAST(len(list_intersect(s1.shingles, s2.shingles)) AS DOUBLE) /
        CAST(len(s1.shingles) + len(s2.shingles)
             - len(list_intersect(s1.shingles, s2.shingles)) AS DOUBLE)
        >= $ConsolidateTau),
    e AS (SELECT id1 AS src, id2 AS dst FROM jp UNION SELECT id2, id1 FROM jp),
    nodesg AS (SELECT DISTINCT src AS id FROM e),
    reach(a, b) AS (
      SELECT id, id FROM nodesg
      UNION
      SELECT r.a, e.dst FROM reach r JOIN e ON r.b = e.src),
    comp AS (SELECT a AS doc_id, min(b) AS component FROM reach GROUP BY a)
    SELECT doc_id, component FROM comp
  """

  /** q191: DEDUP-STACK WATERFALL — the four dedup modalities COMPOSED in
    * production order, each stage priced by its MARGINAL token savings:
    * raw → exact whole-document dedup (md5 keep-first) → span/paragraph
    * dedup (q53's rewrite over the survivors) → substring dedup (q184's
    * rewrite over the span-rewritten corpus) → NEAR-DUP CONSOLIDATION
    * (q131's keep-best verdicts over the substring-cleaned survivors —
    * the stage real curation pipelines run LAST, removing the fuzzy
    * whole-document duplication no exact modality can see). The number a
    * curation lead actually decides with: whole-doc dedup is nearly
    * free, span dedup costs an LSH pass, substring dedup costs the gram
    * index, consolidation costs a second LSH pass + connected
    * components — the waterfall says what each ADDITIONAL pass still
    * removes after the cheaper ones ran, per stage, against the
    * raw-token baseline. This is also the composability proof: every
    * stage consumes the previous stage's REWRITE through the same public
    * cores the individual gates verify (spanDedupOn's kept_text,
    * substrApplyOn's cleaned_text, lshPairsOn + consolidateOn's keep
    * verdicts), so the oracle recomputes the full composition in SQL.
    *
    * Token measure: size(split(trim(text))) uniformly — the substring
    * family's convention — so every stage's token sum is commensurable.
    * A doc whose spans all drop leaves the corpus at stage 2; one whose
    * tokens all drop leaves at stage 3 (n_docs counts content-bearing
    * docs); stage 4 keeps one whole doc per near-dup cluster.
    *
    * Exactness: every count and token sum is an exact BIGINT; marginals
    * are integer differences; keep_ratio_vs_raw is one exact-cast
    * division per row. 5 rows out.
    *
    * Scale shape: stage 1 is one md5 rollup (map-side min_by); stage 2 is
    * q53's declared shape (banded LSH, never span×span); stage 3 is
    * q184's (gram rollup + postings join + per-row array rebuild); stage
    * 4 is q131's (banded LSH candidates, CC on the FILTERED edge list,
    * one component-keyed window); each stage's accounting is a 1-row
    * rollup riding broadcast into the final 5-row stack. The waterfall
    * adds NO new join shapes — only composition. */
  def q191DedupWaterfall(spark: SparkSession, sfDir: String): DataFrame =
    dedupWaterfallOn(Tables.parallelized(Tables(spark, sfDir, "documents"))
      .select(col("doc_id"), col("text")))

  /** The waterfall core over ANY (doc_id, text) frame — fixture-testable. */
  private[graft] def dedupWaterfallOn(docsIn: DataFrame): DataFrame = {
    val tok = (c: org.apache.spark.sql.Column) =>
      size(split(trim(c), "\\s+")).cast("bigint")
    val docs = graft.CachedFrames.track(docsIn)
    val a0 = docs.agg(count(lit(1)).as("d0"), sum(tok(col("text"))).as("t0"))
    val surv1 = graft.CachedFrames.track(docs
      .groupBy(md5(col("text")).as("dg"))
      .agg(min_by(struct(col("doc_id"), col("text")), col("doc_id")).as("r"))
      .select(col("r.doc_id").as("doc_id"), col("r.text").as("text")))
    val a1 = surv1.agg(count(lit(1)).as("d1"), sum(tok(col("text"))).as("t1"))
    val corpus2 = graft.CachedFrames.track(spanDedupOn(surv1)
      .filter(col("n_kept") > 0)
      .select(col("doc_id"), col("kept_text").as("text")))
    val a2 = corpus2.agg(count(lit(1)).as("d2"),
      sum(tok(col("text"))).as("t2"))
    // stage 3 now feeds its REWRITE forward (n_kept = n_tokens − n_removed
    // is the q184-proven identity, so the accounting is unchanged)
    val corpus3 = graft.CachedFrames.track(
      graft.ops.TextOps.substrApplyOn(corpus2)
        .filter(col("n_kept") > 0)
        .select(col("doc_id"), col("cleaned_text").as("text")))
    val a3 = corpus3.agg(count(lit(1)).as("d3"),
      sum(tok(col("text"))).as("t3"))
    val keepers = consolidateOn(
        graft.ops.TextOps.withQualityStats(corpus3)
          .select(col("doc_id"), col("quality_score")),
        lshPairsOn(corpus3).filter(col("true_jaccard") >= ConsolidateTau)
          .select(col("id1"), col("id2")))
      .filter(col("keep")).select(col("doc_id"))
    val a4 = corpus3.join(keepers, "doc_id")
      .agg(count(lit(1)).as("d4"), sum(tok(col("text"))).as("t4"))
    a0.crossJoin(broadcast(a1)).crossJoin(broadcast(a2))
      .crossJoin(broadcast(a3)).crossJoin(broadcast(a4))
      .selectExpr("""stack(5,
        'raw',       0, d0, t0, CAST(0 AS BIGINT),
          CASE WHEN t0 > 0 THEN 1.0D END,
        'exact_doc', 1, d1, t1, t0 - t1,
          CASE WHEN t0 > 0 THEN CAST(t1 AS DOUBLE) / CAST(t0 AS DOUBLE) END,
        'span',      2, d2, t2, t1 - t2,
          CASE WHEN t0 > 0 THEN CAST(t2 AS DOUBLE) / CAST(t0 AS DOUBLE) END,
        'substr',    3, d3, t3, t2 - t3,
          CASE WHEN t0 > 0 THEN CAST(t3 AS DOUBLE) / CAST(t0 AS DOUBLE) END,
        'neardup',   4, d4, t4, t3 - t4,
          CASE WHEN t0 > 0 THEN CAST(t4 AS DOUBLE) / CAST(t0 AS DOUBLE) END
        ) AS (stage, stage_order, n_docs, n_tokens, removed_vs_prev,
              keep_ratio_vs_raw)""")
  }

  val q191DedupWaterfallSql: String = s"""
    WITH RECURSIVE raw0 AS (SELECT doc_id, text FROM documents),
    a0 AS (
      SELECT CAST(count(*) AS BIGINT) AS d0,
        CAST(sum(len(regexp_split_to_array(trim(text), '\\s+'))) AS BIGINT)
          AS t0
      FROM raw0),
    s1 AS (
      SELECT doc_id, text FROM (
        SELECT doc_id, text,
          min(doc_id) OVER (PARTITION BY md5(text)) AS keep
        FROM raw0)
      WHERE doc_id = keep),
    a1 AS (
      SELECT CAST(count(*) AS BIGINT) AS d1,
        CAST(sum(len(regexp_split_to_array(trim(text), '\\s+'))) AS BIGINT)
          AS t1
      FROM s1),
    k53 AS (SELECT * FROM (${q53SpanDedupSqlFrom("s1")})),
    c2 AS (SELECT doc_id, kept_text AS text FROM k53 WHERE n_kept > 0),
    a2 AS (
      SELECT CAST(count(*) AS BIGINT) AS d2,
        CAST(sum(len(regexp_split_to_array(trim(text), '\\s+'))) AS BIGINT)
          AS t2
      FROM c2),
    k84 AS (SELECT * FROM (${graft.ops.TextOps.q184SubstrApplySqlFrom("c2")})),
    c3 AS (SELECT doc_id, cleaned_text AS text FROM k84 WHERE n_kept > 0),
    a3 AS (
      SELECT CAST(count(*) AS BIGINT) AS d3,
        CAST(sum(len(regexp_split_to_array(trim(text), '\\s+'))) AS BIGINT)
          AS t3
      FROM c3),
    ${lshCandidateSqlCtes("c3")},
    jp AS (
      SELECT p.id1, p.id2
      FROM pairs p
      JOIN sig s1 ON p.id1 = s1.doc_id
      JOIN sig s2 ON p.id2 = s2.doc_id
      WHERE CAST(len(list_intersect(s1.shingles, s2.shingles)) AS DOUBLE) /
        CAST(len(s1.shingles) + len(s2.shingles)
             - len(list_intersect(s1.shingles, s2.shingles)) AS DOUBLE)
        >= $ConsolidateTau),
    e AS (SELECT id1 AS src, id2 AS dst FROM jp UNION SELECT id2, id1 FROM jp),
    nodesg AS (SELECT DISTINCT src AS id FROM e),
    reach(a, b) AS (
      SELECT id, id FROM nodesg
      UNION
      SELECT r.a, e.dst FROM reach r JOIN e ON r.b = e.src),
    comp AS (SELECT a AS doc_id, min(b) AS component FROM reach GROUP BY a),
    xq4 AS (
      SELECT doc_id,
        ${TextOps.nCharsSql} AS n_chars_m,
        ${TextOps.nTokensSql} AS n_tokens,
        CAST(${TextOps.hitsSql("en")} AS DOUBLE) AS n_stop,
        ${TextOps.nPunctSql} AS n_punct
      FROM c3),
    sq4 AS (SELECT doc_id, ${TextOps.qualityFromStatsSql} AS quality_score
            FROM xq4),
    fullt AS (
      SELECT s.doc_id, coalesce(c.component, s.doc_id) AS component,
        s.quality_score
      FROM sq4 s LEFT JOIN comp c ON s.doc_id = c.doc_id),
    keepers AS (
      SELECT doc_id FROM (
        SELECT doc_id,
          first_value(doc_id) OVER (PARTITION BY component
            ORDER BY quality_score DESC, doc_id ASC) AS keeper_id
        FROM fullt)
      WHERE doc_id = keeper_id),
    a4 AS (
      SELECT CAST(count(*) AS BIGINT) AS d4,
        CAST(sum(len(regexp_split_to_array(trim(text), '\\s+'))) AS BIGINT)
          AS t4
      FROM c3 JOIN keepers USING (doc_id))
    SELECT 'raw' AS stage, 0 AS stage_order, d0 AS n_docs, t0 AS n_tokens,
      CAST(0 AS BIGINT) AS removed_vs_prev,
      CASE WHEN t0 > 0 THEN 1.0e0 END AS keep_ratio_vs_raw FROM a0
    UNION ALL
    SELECT 'exact_doc', 1, d1, t1, t0 - t1,
      CASE WHEN t0 > 0 THEN CAST(t1 AS DOUBLE) / CAST(t0 AS DOUBLE) END
    FROM a0, a1
    UNION ALL
    SELECT 'span', 2, d2, t2, t1 - t2,
      CASE WHEN t0 > 0 THEN CAST(t2 AS DOUBLE) / CAST(t0 AS DOUBLE) END
    FROM a0, a1, a2
    UNION ALL
    SELECT 'substr', 3, d3, t3, t2 - t3,
      CASE WHEN t0 > 0 THEN CAST(t3 AS DOUBLE) / CAST(t0 AS DOUBLE) END
    FROM a0, a2, a3
    UNION ALL
    SELECT 'neardup', 4, d4, t4, t3 - t4,
      CASE WHEN t0 > 0 THEN CAST(t4 AS DOUBLE) / CAST(t0 AS DOUBLE) END
    FROM a0, a3, a4
  """

  /** q221: BLOCKING-SCHEME QUALITY — the standard record-linkage blocking
    * scoreboard (Christen 2012: reduction ratio, pair completeness, pairs
    * quality) for three CHEAP single-key blocking schemes, scored against
    * the near-dup reference set the MinHash/LSH pipeline certifies
    * (q27 candidates at true Jaccard ≥ 0.5). The capacity-planning table
    * for the Dis-Dedup flagship: its triangle-distributed comparison cost
    * is Σ_b n_b(n_b−1)/2 over exactly these blocks, so "which blocking key
    * do I run" is priced by cand_pairs (cost) against pair_completeness
    * (recall of real near-dups) BEFORE committing the cluster. The three
    * schemes see progressively more of the text: a length bucket (free
    * from metadata), the first whitespace token, the first 8 characters.
    *
    * Exactness: every count exact BIGINT (Σc(c−1)/2 of even products via
    * DIV 2); each ratio is one final division. A document always carries a
    * key under every scheme (empty text keys as '' — a real block), so
    * truth_pairs is identical across schemes by construction.
    *
    * Scale shape: key projection is ONE map-side pass (stack = 3 rows per
    * doc); block stats are a (scheme, key) rollup — never materializing
    * candidate PAIRS, only their per-block count arithmetic; coverage is
    * two doc-keyed equi-joins of the |truth| pair list against the key
    * frame. The reference set rides the production q27 path (banded
    * postings join, never doc×doc). */
  def q221BlockingQuality(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.parallelized(Tables(spark, sfDir, "documents"))
    blockingQualityOn(docs,
      lshPairsOn(docs).filter(col("true_jaccard") >= 0.5)
        .select(col("id1"), col("id2")))
  }

  /** The scoreboard core over ANY (doc_id, text, n_chars) frame and ANY
    * (id1, id2) truth pair set — fixture-testable. */
  private[ops] def blockingQualityOn(docs: DataFrame,
      truth: DataFrame): DataFrame = {
    val keys = graft.CachedFrames.track(docs.select(col("doc_id"), expr(
      """stack(3,
        |  'len_bucket', CAST(n_chars DIV 64 AS STRING),
        |  'first_token', split(trim(text), '\\s+')[0],
        |  'prefix_8', substring(trim(text), 1, 8)) AS (scheme, kb)"""
        .stripMargin)))
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    val blocks = keys.groupBy(col("scheme"), col("kb"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("scheme"))
      .agg(count(lit(1)).as("n_blocks"),
        coalesce(sum(expr("c * (c - 1) DIV 2")), lit(0L)).as("cand_pairs"))
    val cover = truth
      .join(keys.select(col("doc_id").as("id1"), col("scheme"),
        col("kb").as("k1")), Seq("id1"))
      .join(keys.select(col("doc_id").as("id2"), col("scheme"),
        col("kb").as("k2")), Seq("id2", "scheme"))
      .groupBy(col("scheme"))
      .agg(count(lit(1)).as("truth_pairs"),
        sum(when(col("k1") === col("k2"), 1L).otherwise(0L)).as("covered"))
    blocks.join(cover, Seq("scheme"), "left")
      .crossJoin(broadcast(nDocs))
      .select(col("scheme"), col("n_blocks"), col("cand_pairs"),
        when(col("n_docs") >= 2, lit(1.0) - col("cand_pairs").cast("double")
          / expr("n_docs * (n_docs - 1) DIV 2").cast("double"))
          .as("reduction_ratio"),
        coalesce(col("truth_pairs"), lit(0L)).as("truth_pairs"),
        coalesce(col("covered"), lit(0L)).as("covered"),
        when(coalesce(col("truth_pairs"), lit(0L)) > 0,
          col("covered").cast("double") / col("truth_pairs").cast("double"))
          .as("pair_completeness"),
        when(col("cand_pairs") > 0,
          coalesce(col("covered"), lit(0L)).cast("double")
            / col("cand_pairs").cast("double")).as("pairs_quality"))
  }

  val q221BlockingQualitySql: String = s"""
    WITH ${lshCandidateSqlCtes("documents")},
    tr AS (
      SELECT p.id1, p.id2
      FROM pairs p
      JOIN sig s1 ON p.id1 = s1.doc_id
      JOIN sig s2 ON p.id2 = s2.doc_id
      WHERE CAST(len(list_intersect(s1.shingles, s2.shingles)) AS DOUBLE) /
        CAST(len(s1.shingles) + len(s2.shingles)
          - len(list_intersect(s1.shingles, s2.shingles)) AS DOUBLE)
        >= 0.5),
    k AS (
      SELECT doc_id, 'len_bucket' AS scheme,
        CAST(n_chars // 64 AS VARCHAR) AS kb FROM documents
      UNION ALL
      SELECT doc_id, 'first_token',
        regexp_split_to_array(trim(text), '\\s+')[1] FROM documents
      UNION ALL
      SELECT doc_id, 'prefix_8', substr(trim(text), 1, 8) FROM documents),
    nd AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
    bl AS (
      SELECT scheme, CAST(count(*) AS BIGINT) AS n_blocks,
        coalesce(CAST(sum(c * (c - 1) // 2) AS BIGINT), CAST(0 AS BIGINT))
          AS cand_pairs
      FROM (SELECT scheme, kb, CAST(count(*) AS BIGINT) AS c
            FROM k GROUP BY 1, 2)
      GROUP BY 1),
    cv AS (
      SELECT k1.scheme, CAST(count(*) AS BIGINT) AS truth_pairs,
        CAST(sum(CASE WHEN k1.kb = k2.kb THEN 1 ELSE 0 END) AS BIGINT)
          AS covered
      FROM tr
      JOIN k k1 ON tr.id1 = k1.doc_id
      JOIN k k2 ON tr.id2 = k2.doc_id AND k1.scheme = k2.scheme
      GROUP BY 1)
    SELECT bl.scheme, bl.n_blocks, bl.cand_pairs,
      CASE WHEN nd.n_docs >= 2 THEN
        1e0 - CAST(bl.cand_pairs AS DOUBLE)
          / CAST(nd.n_docs * (nd.n_docs - 1) // 2 AS DOUBLE) END
        AS reduction_ratio,
      coalesce(cv.truth_pairs, CAST(0 AS BIGINT)) AS truth_pairs,
      coalesce(cv.covered, CAST(0 AS BIGINT)) AS covered,
      CASE WHEN coalesce(cv.truth_pairs, CAST(0 AS BIGINT)) > 0 THEN
        CAST(cv.covered AS DOUBLE) / CAST(cv.truth_pairs AS DOUBLE) END
        AS pair_completeness,
      CASE WHEN bl.cand_pairs > 0 THEN
        CAST(coalesce(cv.covered, CAST(0 AS BIGINT)) AS DOUBLE)
          / CAST(bl.cand_pairs AS DOUBLE) END AS pairs_quality
    FROM bl LEFT JOIN cv ON bl.scheme = cv.scheme CROSS JOIN nd
  """

  /** q254: LSH-BAND INDEX ADMISSION — the lshband family
    * ([[graft.ops.LshBandIndexFamily]]) as an oracle-gated query: the q238
    * deterministic split run through build→admit, so a batch's near-dup
    * CANDIDATES (q131's consolidation input) come from one banded
    * equi-join against the standing sig/band tables — never a corpus
    * re-sign — and the oracle proves the incremental path reproduces the
    * from-scratch q27 generator restricted to batch-incident pairs,
    * Jaccard columns included. */
  def q254LshAdmit(spark: SparkSession, sfDir: String): DataFrame = {
    // both split sides are FILTERS of the one full-corpus signature table
    // (signing is per-document), whose plan is canonically equal to the
    // lsh bench group's shared checkpoint — so the gate prices the banded
    // admission probe, not a private re-sign of 4/5 of the corpus
    val (baseSig, batchSig) = q254SigSplit(spark, sfDir)
    lshAdmitFromSig(batchSig, baseSig, bandsFrame(baseSig))
  }

  /** The q254/q265 %5 split of the full-corpus signature table, tracked
    * so the two queries (and the lsh group's generator) share one
    * materialization. */
  private[ops] def q254SigSplit(spark: SparkSession, sfDir: String)
      : (DataFrame, DataFrame) = {
    val sigAll = graft.CachedFrames.track(
      sigFrame(Tables.parallelized(Tables(spark, sfDir, "documents"))))
    (graft.CachedFrames.track(sigAll.filter(col("doc_id") % 5 =!= 0)),
      sigAll.filter(col("doc_id") % 5 === 0))
  }

  val q254LshAdmitSql: String = s"""
    WITH ${lshCandidateSqlCtes("documents")}
    SELECT p.id1, p.id2, p.n_shared_bands,
      len(list_filter(list_zip(s1.sig, s2.sig), z -> z[1] = z[2])) / ${DefaultMinHash.numPerm}.0 AS est_jaccard,
      CAST(len(list_intersect(s1.shingles, s2.shingles)) AS DOUBLE) /
        CAST(len(s1.shingles) + len(s2.shingles) - len(list_intersect(s1.shingles, s2.shingles)) AS DOUBLE)
        AS true_jaccard
    FROM pairs p
    JOIN sig s1 ON p.id1 = s1.doc_id
    JOIN sig s2 ON p.id2 = s2.doc_id
    WHERE p.id1 % 5 = 0 OR p.id2 % 5 = 0
  """

  /** q255: MINHASH ESTIMATOR CALIBRATION — does the signature-estimated
    * Jaccard actually track the true one, level by level? For each
    * possible agreement count k of the numPerm-permutation signature
    * (est = k/numPerm), the candidate pairs at that level with their exact
    * shingle overlap rolled up MICRO-style: Σ|∩| / Σ|∪| (exact integer
    * sums, ONE division — never a reordered double mean) and the
    * estimator's bias at that level. The tuning readout for
    * [[MinHashConfig]]: a level whose micro-true sits far from k/16 says
    * the permutation count is too low for the corpus's shingle-set sizes
    * (E[est] = J only in expectation; variance ∝ 1/numPerm).
    *
    * Exactness: n_match/|∩|/|∪| are exact BIGINTs; est_jaccard and
    * micro_true_jaccard are one exact-int division each; bias is one
    * subtraction of those two doubles — bitwise both engines.
    *
    * Scale shape: rides the SAME signature checkpoint as q27 (the lsh
    * bench group / lshband index family); the rollup adds one ≤numPerm+1
    * row aggregation over the candidate list. */
  def q255MinhashCalibration(spark: SparkSession, sfDir: String): DataFrame = {
    val cfg = DefaultMinHash
    val sigs = graft.CachedFrames.track(sigFrame(
      Tables.parallelized(Tables(spark, sfDir, "documents")), cfg))
    bandPairs(sigs, cfg)
      .join(sigs.select(col("doc_id"), col("sig").as("sig1"),
        col("shingles").as("sh1")), col("id1") === col("doc_id")).drop("doc_id")
      .join(sigs.select(col("doc_id"), col("sig").as("sig2"),
        col("shingles").as("sh2")), col("id2") === col("doc_id")).drop("doc_id")
      .select(
        expr("CAST(size(filter(zip_with(sig1, sig2, (x, y) -> x = y), v -> v)) AS BIGINT)")
          .as("n_match"),
        expr("CAST(size(array_intersect(sh1, sh2)) AS BIGINT)").as("i"),
        expr("""CAST(size(sh1) + size(sh2)
               |  - size(array_intersect(sh1, sh2)) AS BIGINT)""".stripMargin)
          .as("u"))
      .groupBy(col("n_match"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(col("i")).as("sum_intersect"), sum(col("u")).as("sum_union"))
      .select(col("n_match"),
        (col("n_match").cast("double") / lit(cfg.numPerm.toDouble))
          .as("est_jaccard"),
        col("n_pairs"), col("sum_intersect"), col("sum_union"),
        (col("sum_intersect").cast("double") / col("sum_union").cast("double"))
          .as("micro_true_jaccard"),
        (col("n_match").cast("double") / lit(cfg.numPerm.toDouble)
          - col("sum_intersect").cast("double") / col("sum_union").cast("double"))
          .as("bias"))
  }

  val q255MinhashCalibrationSql: String = s"""
    WITH ${lshCandidateSqlCtes("documents")},
    pj AS (
      SELECT
        CAST(len(list_filter(list_zip(s1.sig, s2.sig), z -> z[1] = z[2]))
          AS BIGINT) AS n_match,
        CAST(len(list_intersect(s1.shingles, s2.shingles)) AS BIGINT) AS i,
        CAST(len(s1.shingles) + len(s2.shingles)
          - len(list_intersect(s1.shingles, s2.shingles)) AS BIGINT) AS u
      FROM pairs p
      JOIN sig s1 ON p.id1 = s1.doc_id
      JOIN sig s2 ON p.id2 = s2.doc_id)
    SELECT n_match,
      CAST(n_match AS DOUBLE) / ${DefaultMinHash.numPerm}.0 AS est_jaccard,
      CAST(count(*) AS BIGINT) AS n_pairs,
      CAST(sum(i) AS BIGINT) AS sum_intersect,
      CAST(sum(u) AS BIGINT) AS sum_union,
      CAST(sum(i) AS DOUBLE) / CAST(sum(u) AS DOUBLE) AS micro_true_jaccard,
      CAST(n_match AS DOUBLE) / ${DefaultMinHash.numPerm}.0
        - CAST(sum(i) AS DOUBLE) / CAST(sum(u) AS DOUBLE) AS bias
    FROM pj GROUP BY 1
  """

  /** q250 tuning: the comparison-pair budget for the measured pick. At
    * sf0.01 it sits BETWEEN the schemes (prefix8 450 and len_token 19,708
    * fit; src_lang 39,487 does not), so the budget rule — not just the
    * completeness sort — decides the winner on organic data. */
  private[ops] val BlockingPickBudget = 20000L

  /** The candidate schemes q250 prices on the documents table, in
    * [[graft.dedup.BlockingPlanner]]'s multi-ordinal execution model
    * (cost = Σ over ALL key ordinals; a truth pair is covered by ANY
    * shared block): cheap metadata keys (source, then lang), hybrid
    * length-bucket + first-token keys, and the 8-char text prefix. */
  private[ops] def blockingPickSchemes: Seq[graft.dedup.BlockingScheme] = Seq(
    graft.dedup.BlockingScheme("src_lang",
      Seq(col("source"), col("lang"))),
    graft.dedup.BlockingScheme("len_token",
      Seq(expr("n_chars DIV 64"), expr("""split(trim(text), '\\s+')[0]"""))),
    graft.dedup.BlockingScheme("prefix8",
      Seq(expr("substring(trim(text), 1, 8)"))))

  /** q250: MEASURED BLOCKING-KEY SELECTION — [[graft.dedup.BlockingPlanner]]
    * run as an oracle-gated query on organic data, closing the loop q221's
    * advisory scoreboard opened: three candidate schemes are priced against
    * the LSH-certified near-dup truth set (q27 candidates at true Jaccard
    * ≥ 0.5 — the q221 derivation) and the budget rule marks the winner
    * in-row (`is_winner`): among schemes whose comparison bill fits
    * [[BlockingPickBudget]], the best measured pair-completeness, ties to
    * the cheaper scheme then the name; nothing fits ⇒ cheapest overall.
    *
    * Exactness: all counts exact BIGINT (per-ordinal Σc(c−1)/2 of even
    * products via DIV 2); pair_completeness is ONE division of exact
    * counts (0.0 on an empty truth set, the planner's convention); the
    * winner is an ORDER on those exact/bitwise-stable values.
    *
    * Scale shape: the planner's own — one column-pruned pass per (scheme,
    * ordinal), per-block COUNT arithmetic (candidate pairs never
    * materialized), truth coverage as two id-keyed equi-joins; the truth
    * set rides the production LSH path. The only driver-side step is the
    * |schemes|-row scoreboard itself. */
  def q250BlockingPick(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.parallelized(Tables(spark, sfDir, "documents"))
    blockingPickOn(spark, docs,
      lshPairsOn(docs).filter(col("true_jaccard") >= 0.5)
        .select(col("id1"), col("id2")))
  }

  /** The pick core over ANY (doc_id, text, n_chars, source, lang) frame
    * and ANY (id1, id2) truth set — fixture-testable. */
  private[ops] def blockingPickOn(spark: SparkSession, docs: DataFrame,
      truth: DataFrame): DataFrame = {
    val (winner, scores) = graft.dedup.BlockingPlanner.pick(docs, "doc_id",
      blockingPickSchemes, truth, BlockingPickBudget)
    graft.dedup.BlockingPlanner.scoreboardFrame(spark, winner, scores)
  }

  val q250BlockingPickSql: String = s"""
    WITH ${lshCandidateSqlCtes("documents")},
    tr0 AS (
      SELECT p.id1, p.id2
      FROM pairs p
      JOIN sig s1 ON p.id1 = s1.doc_id
      JOIN sig s2 ON p.id2 = s2.doc_id
      WHERE CAST(len(list_intersect(s1.shingles, s2.shingles)) AS DOUBLE) /
        CAST(len(s1.shingles) + len(s2.shingles)
          - len(list_intersect(s1.shingles, s2.shingles)) AS DOUBLE)
        >= 0.5),
    tr AS (SELECT DISTINCT least(id1, id2) AS id1, greatest(id1, id2) AS id2
           FROM tr0),
    nt AS (SELECT CAST(count(*) AS BIGINT) AS truth_pairs FROM tr),
    k AS (
      SELECT doc_id, 'src_lang' AS scheme, 1 AS ordinal,
        coalesce(trim(CAST(source AS VARCHAR)), '') AS kb FROM documents
      UNION ALL SELECT doc_id, 'src_lang', 2,
        coalesce(trim(CAST(lang AS VARCHAR)), '') FROM documents
      UNION ALL SELECT doc_id, 'len_token', 1,
        coalesce(trim(CAST(n_chars // 64 AS VARCHAR)), '') FROM documents
      UNION ALL SELECT doc_id, 'len_token', 2,
        coalesce(trim(regexp_split_to_array(trim(text), '\\s+')[1]), '')
        FROM documents
      UNION ALL SELECT doc_id, 'prefix8', 1,
        coalesce(trim(substr(trim(text), 1, 8)), '') FROM documents),
    bl AS (
      SELECT scheme, CAST(count(*) AS BIGINT) AS n_blocks,
        coalesce(CAST(sum(c * (c - 1) // 2) AS BIGINT), CAST(0 AS BIGINT))
          AS cand_pairs
      FROM (SELECT scheme, ordinal, kb, CAST(count(*) AS BIGINT) AS c
            FROM k GROUP BY 1, 2, 3)
      GROUP BY 1),
    cv AS (
      SELECT scheme, CAST(sum(hit) AS BIGINT) AS covered FROM (
        SELECT k1.scheme, t.id1, t.id2,
          max(CASE WHEN k1.kb = k2.kb THEN 1 ELSE 0 END) AS hit
        FROM tr t
        JOIN k k1 ON t.id1 = k1.doc_id
        JOIN k k2 ON t.id2 = k2.doc_id
          AND k1.scheme = k2.scheme AND k1.ordinal = k2.ordinal
        GROUP BY 1, 2, 3)
      GROUP BY 1),
    sb AS (
      SELECT bl.scheme, bl.n_blocks, bl.cand_pairs, nt.truth_pairs,
        coalesce(cv.covered, CAST(0 AS BIGINT)) AS covered,
        CASE WHEN nt.truth_pairs > 0 THEN
          CAST(coalesce(cv.covered, CAST(0 AS BIGINT)) AS DOUBLE)
            / CAST(nt.truth_pairs AS DOUBLE) ELSE 0e0 END
          AS pair_completeness
      FROM bl LEFT JOIN cv ON bl.scheme = cv.scheme CROSS JOIN nt),
    win AS (
      SELECT coalesce(
        (SELECT scheme FROM sb WHERE cand_pairs <= $BlockingPickBudget
         ORDER BY pair_completeness DESC, cand_pairs, scheme LIMIT 1),
        (SELECT scheme FROM sb
         ORDER BY cand_pairs, pair_completeness DESC, scheme LIMIT 1))
        AS wname)
    SELECT sb.scheme, sb.n_blocks, sb.cand_pairs, sb.truth_pairs, sb.covered,
      sb.pair_completeness, sb.scheme = win.wname AS is_winner
    FROM sb CROSS JOIN win
  """
  /** q259: DEDUP MIXTURE SHIFT — what near-dup consolidation does to the
    * corpus's SOURCE MIXTURE: per source, documents before vs keepers
    * after q131's keep-best pass, with both shares and the shift in-row.
    * The pretraining-owner's question behind it: dedup is not
    * mixture-neutral — a source whose content is heavily templated loses
    * share to one that isn't, silently re-weighting the training mix that
    * q69/q77 then apply; this table makes the re-weighting visible before
    * it happens (read next to q117's savings-by-source, which prices
    * BYTES where this prices COMPOSITION).
    *
    * Exactness: counts exact; each share is one division; the shift is
    * one subtraction of two one-division doubles — bitwise both engines.
    *
    * Scale shape: q131's own (banded candidates, CC on the filtered edge
    * list, cluster-bounded keeper election — rides the shared LSH
    * signature checkpoint in the bench group), plus one source-keyed
    * rollup and a broadcast 1-row total. */
  def q259DedupMixtureShift(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.parallelized(Tables(spark, sfDir, "documents"))
    val scored = TextOps.withQualityStats(docs)
      .select(col("doc_id"), col("quality_score"))
    val edges = q27LshPairs(spark, sfDir)
      .filter(col("true_jaccard") >= ConsolidateTau)
      .select(col("id1"), col("id2"))
    val m = graft.CachedFrames.track(
      docs.select(col("doc_id"), col("source"))
        .join(consolidateOn(scored, edges).select(col("doc_id"), col("keep")),
          Seq("doc_id"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept")))
    val t = m.agg(sum(col("n_docs")).as("nt"), sum(col("n_kept")).as("kt"))
    m.crossJoin(broadcast(t))
      .select(col("source"), col("n_docs"), col("n_kept"),
        (col("n_docs").cast("double") / col("nt").cast("double"))
          .as("share_before"),
        (col("n_kept").cast("double") / col("kt").cast("double"))
          .as("share_after"),
        (col("n_kept").cast("double") / col("kt").cast("double")
          - col("n_docs").cast("double") / col("nt").cast("double"))
          .as("share_shift"))
  }

  val q259DedupMixtureShiftSql: String = s"""
    WITH verd AS (SELECT doc_id, keep FROM ($q131NeardupConsolidateSql)),
    m AS (
      SELECT d.source, CAST(count(*) AS BIGINT) AS n_docs,
        CAST(sum(CASE WHEN v.keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
      FROM verd v JOIN documents d ON v.doc_id = d.doc_id
      GROUP BY 1),
    t AS (SELECT CAST(sum(n_docs) AS BIGINT) AS nt,
            CAST(sum(n_kept) AS BIGINT) AS kt FROM m)
    SELECT m.source, m.n_docs, m.n_kept,
      CAST(m.n_docs AS DOUBLE) / CAST(t.nt AS DOUBLE) AS share_before,
      CAST(m.n_kept AS DOUBLE) / CAST(t.kt AS DOUBLE) AS share_after,
      CAST(m.n_kept AS DOUBLE) / CAST(t.kt AS DOUBLE)
        - CAST(m.n_docs AS DOUBLE) / CAST(t.nt AS DOUBLE) AS share_shift
    FROM m, t
  """
}
