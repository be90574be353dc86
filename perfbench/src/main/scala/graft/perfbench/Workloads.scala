package graft.perfbench

import graft.CachedFrames
import graft.cli.Cli
import graft.dedup.{Clustering, DedupPipeline, DedupStrategy, TrianglePipeline}
import graft.ml.{DedupMl, Febrl}
import graft.ops.{NearDup, TextOps}
import org.apache.spark.ml.PipelineModel
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import scala.collection.mutable

/** What one pass produced: result pairs, their quality against the planted
  * truth, and every failed output check. */
final case class Outcome(pairs: Long, recall: Double, precision: Double,
    problems: Vector[String])

/** One benchmark workload. `prepare` writes the seeded inputs and is
  * repeated with every set-up; `once` is set-up work done once per run
  * (training the model on `pairs-apply`); `pass` is one timed closed-loop
  * request: read the input, run the layers, check the result. */
trait Workload {
  def name: String
  def settings: String
  def prepare(spark: SparkSession, dir: Path): Unit
  def once(spark: SparkSession, dir: Path, tr: Option[Tracer]): Unit = ()
  def pass(spark: SparkSession, dir: Path): Outcome
  /** The same pass with every layer called on its own, materialised, inside
    * its own span; the enclosing `run` span is opened by the caller. */
  def tracedPass(spark: SparkSession, dir: Path, tr: Tracer, m: mutable.Map[String, Double]): Outcome
  /** One-time, untimed reference results the output checks compare with. */
  def reference(spark: SparkSession, dir: Path): Unit = ()
}

object Workloads {
  /** Settings per workload: the generator sizes BENCHMARK.json records. */
  val balanced = Gen.FebrlSettings(records = 1200, blocks = 10, hotShare = 0.0)
  val hotblock = Gen.FebrlSettings(records = 900, blocks = 10, hotShare = 0.55)
  val applyTrain = Gen.FebrlSettings(records = 1000, blocks = 10, hotShare = 0.0)
  val applyScore = Gen.FebrlSettings(records = 1400, blocks = 10, hotShare = 0.0)
  val corpusSettings = Gen.CorpusSettings(docs = 16000, families = 1200,
    boilerplate = 8, copies = 80)

  def byName(name: String, reducers: Int, seed: Long): Workload = name match {
    case "febrl-balanced" => new FebrlWorkload(name, balanced, reducers, seed)
    case "febrl-hotblock" => new FebrlWorkload(name, hotblock, reducers, seed)
    case "pairs-apply"    => new PairsApplyWorkload(seed)
    case "corpus-neardup" => new CorpusWorkload(seed)
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }

  val names: Seq[String] = Seq("febrl-balanced", "febrl-hotblock", "pairs-apply", "corpus-neardup")

  /** Runs `body` under span `name` when tracing. */
  def maybeSpan[T](tr: Option[Tracer], name: String)(body: => T): T =
    tr.fold(body)(_.span(name)(body))

  /** Cache and compute a frame, so a span covers exactly its layer. */
  def materialized(df: DataFrame): DataFrame = {
    val c = df.cache()
    c.count()
    c
  }

  def writeText(p: Path, s: String): Unit = {
    Files.createDirectories(p.getParent)
    Files.write(p, s.getBytes(UTF_8))
  }

  /** `<n>` of a Febrl id `rec-<n>-...`, as a Column. */
  def family(id: Column): Column = split(id, "-").getItem(1)

  /** Order-independent digest of a set of text lines: (lines, Σ xxhash64
    * low words, Σ murmur3 low words) — sums of 32-bit values, so no
    * overflow below 2^31 lines. */
  final case class Digest(lines: Long, a: Long, b: Long, dups: Long)

  /** Digest of the CSV lines under `dir`; `dups` counts lines whose first
    * two fields are ids of one planted family. */
  def febrlPairDigest(spark: SparkSession, dir: String): Digest = {
    val f = split(col("value"), ",")
    val r = spark.read.text(dir).agg(
      count(lit(1)),
      coalesce(sum(xxhash64(col("value")).bitwiseAND(0xFFFFFFFFL)), lit(0L)),
      coalesce(sum(hash(col("value")).cast("long").bitwiseAND(0xFFFFFFFFL)), lit(0L)),
      coalesce(sum(when(family(f.getItem(0)) === family(f.getItem(1)), 1L).otherwise(0L)), lit(0L)))
      .head()
    Digest(r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
  }

  /** A pair frame in GenerateLabeledPoints' CSV layout. */
  def pairCsvLayout(pairs: DataFrame, labeled: Boolean): DataFrame = {
    val label = if (labeled) col("label").cast("string") else lit("").as("label")
    pairs.select((Seq(col("id1"), col("id2"), label) ++ Febrl.featureCols.map(col)): _*)
  }

  def ratio(a: Long, b: Long): Double = if (b == 0) 0.0 else a.toDouble / b

  /** Records `<layer>.time_s` of the span named after the layer and
    * returns the Spark stats billed to it. */
  def layer(tr: Tracer, name: String, m: mutable.Map[String, Double]): SparkStats = {
    m(s"$name.time_s") = tr.get(name).fold(0.0)(_.seconds)
    tr.stats(name)
  }

  /** `cli.io.*` from the spans that read the input and write the output. */
  def ioMetrics(tr: Tracer, m: mutable.Map[String, Double]): Unit = {
    m("cli.io.read_s") = tr.get("cli.io.read").fold(0.0)(_.seconds)
    m("cli.io.write_s") = tr.get("cli.io.write").fold(0.0)(_.seconds)
    m("cli.io.bytes_read") = tr.stats("cli.io.read").bytesRead.toDouble
    m("cli.io.bytes_written") = tr.stats("cli.io.write").bytesWritten.toDouble
  }
}

import Workloads._

/** `febrl-balanced` / `febrl-hotblock`: records CSV → pairFeaturesAuto →
  * pair CSV, checked against the benchmark's own exactly-once count and
  * the other physical strategy's digest. */
final class FebrlWorkload(val name: String, s: Gen.FebrlSettings, k: Int, seed: Long) extends Workload {
  private var truth: Gen.FebrlTruth = _
  private var otherDigest: Option[Digest] = None
  /** `pairFeaturesAuto`'s default `skewThreshold`: above it the chooser
    * takes the triangle plan. */
  private val SkewThreshold = 0.5

  def settings: String = s.toString

  private def records(dir: Path) = dir.resolve("records.csv").toString
  private def out(dir: Path) = dir.resolve("pairs").toString

  def prepare(spark: SparkSession, dir: Path): Unit = {
    val recs = Gen.febrl(seed, s)
    truth = Gen.febrlTruth(recs)
    writeText(dir.resolve("records.csv"), Gen.febrlCsv(recs))
  }

  private def check(d: Digest): Outcome = {
    val problems = Vector.newBuilder[String]
    if (d.lines != truth.exactlyOnce)
      problems += s"$name: ${d.lines} pairs emitted, exactly-once count is ${truth.exactlyOnce}"
    otherDigest.foreach { o =>
      if (o != d)
        problems += s"$name: pair digest $d differs from the other strategy's $o"
    }
    Outcome(d.lines, ratio(d.dups, truth.plantedPairs), ratio(d.dups, d.lines), problems.result())
  }

  def pass(spark: SparkSession, dir: Path): Outcome = {
    val df = Febrl.read(spark, records(dir))
    pairCsvLayout(DedupStrategy.pairFeaturesAuto(df, Febrl.config, k), labeled = true)
      .write.mode("overwrite").csv(out(dir))
    check(febrlPairDigest(spark, out(dir)))
  }

  /** Digest of the strategy `pairFeaturesAuto` does NOT pick. */
  override def reference(spark: SparkSession, dir: Path): Unit = {
    val df = Febrl.read(spark, records(dir))
    val triangle = DedupStrategy.maxBlockShare(df, Febrl.config) > SkewThreshold
    val other = if (triangle) DedupPipeline.pairFeatures(df, Febrl.config)
                else TrianglePipeline.pairFeatures(df, Febrl.config, k)
    val refDir = dir.resolve("pairs-other").toString
    pairCsvLayout(other, labeled = true).write.mode("overwrite").csv(refDir)
    otherDigest = Some(febrlPairDigest(spark, refDir))
  }

  def tracedPass(spark: SparkSession, dir: Path, tr: Tracer, m: mutable.Map[String, Double]): Outcome = {
    val cfg = Febrl.config
    val df = tr.span("cli.io.read")(materialized(Febrl.read(spark, records(dir))))
    val share = tr.span("dedup.strategy")(DedupStrategy.maxBlockShare(df, cfg))
    val triangle = share > SkewThreshold
    // TrianglePipeline.pairs plans eagerly (block stats, the heavy-block
    // collect, DisDedupPlanner.assign, the plan broadcast) and returns the
    // lazy pair frame, so the planner span times the library's own planning
    val planned =
      if (triangle) tr.span("dedup.planner")(TrianglePipeline.pairs(df, cfg, k))
      else DedupPipeline.candidatePairs(df, cfg)
    val pairs = tr.span("dedup.pairs")(materialized(planned.select("id1", "id2")))
    val nRecords = df.count()
    val reducerLoads = if (triangle) pairsPerPartition(pairs) else Array.empty[Long]
    val feats = tr.span("dedup.features")(materialized(DedupPipeline.featuresFor(df, cfg, pairs)))
    tr.span("cli.io.write")(pairCsvLayout(feats, labeled = true).write.mode("overwrite").csv(out(dir)))
    val o = check(febrlPairDigest(spark, out(dir)))
    Seq(df, pairs, feats).foreach(_.unpersist())

    layer(tr, "dedup.strategy", m)
    m("dedup.strategy.max_block_share") = share
    val ps = layer(tr, "dedup.pairs", m)
    if (triangle) {
      layer(tr, "dedup.planner", m)
      plannerMetrics(nRecords, ps, reducerLoads, m)
    }
    m("dedup.pairs.wait_s") = ps.schedulerDelayMs / 1e3
    m("dedup.pairs.join_rows") = truth.joinRows.toDouble
    m("dedup.pairs.emitted") = o.pairs.toDouble
    m("dedup.pairs.keep_ratio") = ratio(o.pairs, truth.joinRows)
    m("dedup.pairs.shuffle_bytes") = ps.shuffleWriteBytes.toDouble
    m("dedup.pairs.task_skew") = ps.taskSkew
    val fs = layer(tr, "dedup.features", m)
    m("dedup.features.executor_s") = fs.executorMs / 1e3
    m("dedup.features.ns_per_pair") = if (o.pairs == 0) 0.0 else fs.executorMs * 1e6 / o.pairs
    m("dedup.features.gc_s") = fs.gcMs / 1e3
    ioMetrics(tr, m)
    if (math.abs(share - truth.maxBlockShare) > 1e-9)
      o.copy(problems = o.problems :+ s"$name: max block share $share, generator truth ${truth.maxBlockShare}")
    else o
  }

  /** Emitted pairs in each partition of a materialised triangle pair frame.
    * Its partitions are the pair-generation stage's reducer partitions: no
    * exchange follows the `groupByKey`. */
  private def pairsPerPartition(pairs: DataFrame): Array[Long] = {
    val got = pairs.groupBy(spark_partition_id()).count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    Array.tabulate(pairs.rdd.getNumPartitions)(got.getOrElse(_, 0L))
  }

  /** `dedup.planner.*` of the triangle plan the library ran:
    *  - replication: rows the routing stage shuffled (the pair span's
    *    largest shuffle write, read off the listener) ÷ (records ×
    *    blocking functions);
    *  - reducer_skew: max ÷ mean emitted pairs per reducer partition;
    *  - heavy_blocks: blocks with n(n−1)/2 > τ = W / (3k ln k), counted
    *    here from the generator's block sizes with the formula
    *    `TrianglePipeline.pairs` uses. The library does not expose its
    *    heavy list, so this one figure does not follow a change to τ. */
  private def plannerMetrics(records: Long, ps: SparkStats, loads: Array[Long],
      m: mutable.Map[String, Double]): Unit = {
    val tau = if (k == 1) Double.PositiveInfinity else truth.joinRows / (3.0 * k * math.log(k))
    m("dedup.planner.heavy_blocks") = truth.blockSizes.count(n => n * (n - 1) / 2 > tau).toDouble
    m("dedup.planner.replication") =
      ratio(ps.maxStageShuffleRecords, records * Febrl.config.blockingKeys.size)
    m("dedup.planner.reducer_skew") =
      if (loads.sum == 0) 0.0 else loads.max / (loads.sum.toDouble / loads.length)
  }
}

/** `pairs-apply`: score an unlabeled pair file with a GBT model trained in
  * set-up, write (pair, prediction), then cluster the predicted
  * duplicates into entities. */
final class PairsApplyWorkload(seed: Long) extends Workload {
  val name = "pairs-apply"
  def settings: String = s"train=${Workloads.applyTrain} score=${Workloads.applyScore}"
  private var model: PipelineModel = _
  private var plantedPairs = 0L
  private var scoredRows = 0L
  private var expected: Option[Digest] = None

  private def unlabeled(dir: Path) = dir.resolve("pairs-unlabeled").toString
  private def out(dir: Path) = dir.resolve("scored").toString

  def prepare(spark: SparkSession, dir: Path): Unit = {
    val train = Gen.febrl(seed, applyTrain)
    val score = Gen.febrl(seed + 1000003L, applyScore)
    plantedPairs = Gen.febrlTruth(score).plantedPairs
    writeText(dir.resolve("train.csv"), Gen.febrlCsv(train))
    writeText(dir.resolve("score.csv"), Gen.febrlCsv(score))
    val labeledDir = dir.resolve("pairs-labeled").toString
    pairCsvLayout(DedupPipeline.pairFeatures(
      Febrl.read(spark, dir.resolve("train.csv").toString), Febrl.config), labeled = true)
      .write.mode("overwrite").csv(labeledDir)
    pairCsvLayout(DedupPipeline.pairFeatures(
      Febrl.read(spark, dir.resolve("score.csv").toString), Febrl.config.copy(label = None)),
      labeled = false).write.mode("overwrite").csv(unlabeled(dir))
    expected = None
  }

  /** Trains with the reference hyperparameters (`DedupMl.train` defaults). */
  override def once(spark: SparkSession, dir: Path, tr: Option[Tracer]): Unit =
    model = maybeSpan(tr, "ml.train") {
      val ml = DedupMl.toMlFrame(Cli.readPairs(spark, dir.resolve("pairs-labeled").toString),
        Febrl.featureCols).cache()
      try DedupMl.train(ml)._1 finally ml.unpersist()
    }

  /** The written (pair, prediction) file; `pair` is `(id1,id2)`. */
  private def scoredFile(spark: SparkSession, dir: Path): DataFrame =
    spark.read.schema("pair STRING, prediction DOUBLE").csv(out(dir))
  private val ids = split(regexp_replace(col("pair"), "[()]", ""), ",")

  /** (pair, prediction) digest, with `dups` = same-family predicted pairs,
    * and the number of predicted duplicates. */
  private def scoredDigest(spark: SparkSession, dir: Path): (Digest, Long) = {
    val r = scoredFile(spark, dir).agg(
      count(lit(1)),
      coalesce(sum(xxhash64(col("pair"), col("prediction")).bitwiseAND(0xFFFFFFFFL)), lit(0L)),
      coalesce(sum(hash(col("pair"), col("prediction")).cast("long").bitwiseAND(0xFFFFFFFFL)), lit(0L)),
      coalesce(sum(when(col("prediction") === 1.0 &&
        family(ids.getItem(0)) === family(ids.getItem(1)), 1L).otherwise(0L)), lit(0L)),
      coalesce(sum(when(col("prediction") === 1.0, 1L).otherwise(0L)), lit(0L)))
      .head()
    (Digest(r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)), r.getLong(4))
  }

  private def predictedDups(spark: SparkSession, dir: Path): DataFrame =
    scoredFile(spark, dir).filter(col("prediction") === 1.0)
      .select(ids.getItem(0).as("id1"), ids.getItem(1).as("id2"))

  private def score(spark: SparkSession, dir: Path): DataFrame =
    DedupMl.score(model, DedupMl.toMlFrame(Cli.readPairs(spark, unlabeled(dir)), Febrl.featureCols))

  private def writeScored(scored: DataFrame, dir: Path): Unit =
    scored.select(concat(lit("("), col("id"), lit(")")).as("pair"), col("prediction"))
      .write.mode("overwrite").csv(out(dir))

  private def check(d: Digest, predicted: Long): Outcome = {
    val problems = Vector.newBuilder[String]
    expected match {
      case None => expected = Some(d)
      case Some(e) if e != d => problems += s"$name: prediction digest $d, first pass gave $e"
      case _ =>
    }
    if (scoredRows > 0 && d.lines != scoredRows)
      problems += s"$name: ${d.lines} scored rows for $scoredRows input pairs"
    Outcome(d.lines, ratio(d.dups, plantedPairs), ratio(d.dups, predicted), problems.result())
  }

  override def reference(spark: SparkSession, dir: Path): Unit =
    scoredRows = Cli.readPairs(spark, unlabeled(dir)).count()

  def pass(spark: SparkSession, dir: Path): Outcome = {
    writeScored(score(spark, dir), dir)
    val (d, predicted) = scoredDigest(spark, dir)
    // entities are the pass's last output; the checks are on the predictions
    Clustering.connectedComponents(predictedDups(spark, dir))
      .select(countDistinct(col("component"))).head()
    check(d, predicted)
  }

  def tracedPass(spark: SparkSession, dir: Path, tr: Tracer, m: mutable.Map[String, Double]): Outcome = {
    val pairs = tr.span("cli.io.read")(materialized(Cli.readPairs(spark, unlabeled(dir))))
    val scored = tr.span("ml.score")(materialized(
      DedupMl.score(model, DedupMl.toMlFrame(pairs, Febrl.featureCols))))
    tr.span("cli.io.write")(writeScored(scored, dir))
    val (d, predicted) = scoredDigest(spark, dir)
    val edges = materialized(predictedDups(spark, dir))
    val components = tr.span("dedup.cluster") {
      Clustering.connectedComponents(edges)
        .select(countDistinct(col("component"))).head().getLong(0)
    }
    m("ml.score.rows") = scored.count().toDouble
    m("dedup.cluster.edges") = edges.count().toDouble
    m("dedup.cluster.components") = components.toDouble
    Seq(pairs, scored, edges).foreach(_.unpersist())
    m("dedup.cluster.jobs") = layer(tr, "dedup.cluster", m).jobs.toDouble
    val ss = layer(tr, "ml.score", m)
    m("ml.score.stages") = ss.stages.toDouble
    m("ml.score.shuffle_bytes") = ss.shuffleWriteBytes.toDouble
    m("ml.train.jobs") = layer(tr, "ml.train", m).jobs.toDouble
    ioMetrics(tr, m)
    check(d, predicted)
  }
}

/** `corpus-neardup`: MinHash signing → banded self-join → consolidation
  * over a generated `documents.parquet`. */
final class CorpusWorkload(seed: Long) extends Workload {
  val name = "corpus-neardup"
  def settings: String = corpusSettings.toString
  private var family: Map[Long, Int] = Map.empty
  private var exactFamilies: Seq[Seq[Long]] = Nil
  private var plantedPairs = 0L

  def prepare(spark: SparkSession, dir: Path): Unit = {
    import spark.implicits._
    val docs = Gen.corpus(seed, corpusSettings)
    family = docs.filter(_.family >= 0).map(d => d.id -> d.family).toMap
    exactFamilies = docs.filter(_.exact).groupBy(_.family).values.map(_.map(_.id)).toSeq
    plantedPairs = Gen.plantedDocPairs(docs)
    docs.map(d => (d.id, d.text, d.lang, d.source, d.text.length.toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(dir.resolve("documents.parquet").toString)
  }

  private def check(pairs: Array[(Long, Long)], comp: Map[Long, Long]): Outcome = {
    val dups = pairs.count { case (a, b) =>
      family.get(a).exists(f => family.get(b).contains(f))
    }
    val problems = exactFamilies.collect {
      case ids if ids.map(i => comp.getOrElse(i, i)).distinct.size != 1 =>
        s"$name: exact-copy family of ${ids.size} docs spans several components"
    }.toVector
    Outcome(pairs.length, ratio(dups, plantedPairs), ratio(dups, pairs.length), problems)
  }

  private def collectPairs(pairs: DataFrame): Array[(Long, Long)] =
    pairs.select("id1", "id2").collect().map(r => (r.getLong(0), r.getLong(1)))

  /** Rows the banded self-join produced: one per shared band per pair. */
  private def joinRows(pairs: DataFrame): Long =
    pairs.agg(coalesce(sum(col("n_shared_bands")), lit(0L))).head().getLong(0)

  private def consolidate(spark: SparkSession, dir: Path, pairs: DataFrame): Map[Long, Long] = {
    val scored = TextOps.qualityScored(spark, dir.toString).select(col("doc_id"), col("quality_score"))
    val edges = pairs.filter(col("true_jaccard") >= NearDup.ConsolidateTau).select("id1", "id2")
    NearDup.consolidateOn(scored, edges).select("doc_id", "component").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  def pass(spark: SparkSession, dir: Path): Outcome =
    try {
      val pairs = NearDup.q27LshPairs(spark, dir.toString).cache()
      try check(collectPairs(pairs), consolidate(spark, dir, pairs))
      finally pairs.unpersist()
    } finally CachedFrames.drain()

  def tracedPass(spark: SparkSession, dir: Path, tr: Tracer, m: mutable.Map[String, Double]): Outcome =
    try {
      val docs = graft.Tables.parallelized(graft.Tables(spark, dir.toString, "documents"))
      val sig = tr.span("ops.neardup.sign")(materialized(NearDup.sigFrame(docs)))
      val pairs = tr.span("ops.neardup.bands")(materialized(NearDup.lshPairsFromSig(sig)))
      val got = collectPairs(pairs)
      val rows = joinRows(pairs)
      val edges = materialized(
        pairs.filter(col("true_jaccard") >= NearDup.ConsolidateTau).select("id1", "id2"))
      m("ops.neardup.sign.docs") = sig.count().toDouble
      m("dedup.cluster.edges") = edges.count().toDouble
      m("dedup.cluster.components") = tr.span("dedup.cluster") {
        Clustering.connectedComponents(edges).select(countDistinct(col("component"))).head().getLong(0)
      }.toDouble
      val comp = tr.span("ops.neardup.consolidate")(consolidate(spark, dir, pairs))
      val o = check(got, comp)
      Seq(sig, pairs, edges).foreach(_.unpersist())
      layer(tr, "ops.neardup.sign", m)
      val bs = layer(tr, "ops.neardup.bands", m)
      m("ops.neardup.bands.join_rows") = rows.toDouble
      m("ops.neardup.bands.pairs") = o.pairs.toDouble
      m("ops.neardup.bands.keep_ratio") = ratio(o.pairs, rows)
      m("ops.neardup.bands.shuffle_bytes") = bs.shuffleWriteBytes.toDouble
      m("ops.neardup.bands.task_skew") = bs.taskSkew
      m("dedup.cluster.jobs") = layer(tr, "dedup.cluster", m).jobs.toDouble
      layer(tr, "ops.neardup.consolidate", m)
      o
    } finally CachedFrames.drain()
}
