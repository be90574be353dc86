package graft.cli

import graft.dedup.DedupStrategy
import graft.ml.{DedupMl, Febrl}
import org.apache.spark.ml.PipelineModel
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Command-line surface mirroring the reference's three jobs (SURVEY.md
  * §2.1 S5 — the reference uses Scallop, `GenerateLabeledPoints.scala:37-45`;
  * scallop is not an offline dependency so flags are parsed with a plain
  * key-value loop). A user of the reference can run the same three steps:
  *
  *   runMain graft.cli.GenerateLabeledPoints --input data/train.csv \
  *     --output /tmp/pairs [--reducers 49] [--unlabeled]
  *     (`--reducers` sets k for the triangle plan; the strategy chooser,
  *     not a flag, picks which plan runs)
  *   runMain graft.cli.TrainDupClassifier --input /tmp/pairs --model /tmp/m \
  *     [--maxIter 100]
  *   runMain graft.cli.ApplyDupClassifier --input /tmp/pairs2 --model /tmp/m \
  *     --output /tmp/scored
  *
  * Overwrite semantics (reference S3: explicit recursive delete,
  * `GenerateLabeledPoints.scala:103-107`) are SaveMode.Overwrite here.
  */
object Cli {

  def parse(args: Array[String]): Map[String, String] = {
    val out = Map.newBuilder[String, String]
    var i = 0
    while (i < args.length) {
      require(args(i).startsWith("--"), s"expected --flag, got ${args(i)}")
      val key = args(i).drop(2)
      if (i + 1 < args.length && !args(i + 1).startsWith("--")) {
        out += key -> args(i + 1); i += 2
      } else { out += key -> "true"; i += 1 }
    }
    out.result()
  }

  /** Guard for artifact jobs that read parquet LAZILY from one directory
    * and write `--output`: pointing both flags at the same directory (the
    * natural spelling of an in-place extend/compact/forget) makes Spark
    * overwrite files it is still scheduled to read, corrupting the
    * artifact mid-job — so fail fast instead. Paths compare normalized
    * through the Hadoop Path/URI rules (trailing slashes, `file:` scheme
    * spellings), so `/a/b/` vs `/a/b` is caught; a symlink alias remains
    * the caller's responsibility. Keys absent from the args are skipped
    * (optional flags). */
  def requireFreshOutput(a: Map[String, String], inputKeys: String*): Unit = {
    def norm(p: String) =
      new org.apache.hadoop.fs.Path(p).toUri.normalize.toString
        .stripSuffix("/")
    val out = norm(a("output"))
    inputKeys.foreach { k =>
      a.get(k).foreach { v =>
        require(norm(v) != out,
          s"--output must differ from --$k ('$v'): the job reads that " +
            "directory lazily while writing, and overwriting files Spark " +
            "is still reading corrupts the artifact — write to a fresh " +
            "directory and swap afterwards")
      }
    }
  }

  /** Runs `f` with a session, stopping it afterwards only when this call
    * created it (an embedding application's session is left running). */
  def withSession[T](app: String)(f: SparkSession => T): T = {
    val preexisting = SparkSession.getDefaultSession.isDefined
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val s = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_GRAFT_MASTER", s"local[$cpus]"))
      .appName(app)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    try f(s) finally if (!preexisting) s.stop()
  }

  /** Pair-file schema written by GenerateLabeledPoints / read by the ML jobs:
    * id1, id2, label (empty when unlabeled), then the 14 features. */
  val pairSchema: StructType = StructType(
    Seq(StructField("id1", StringType), StructField("id2", StringType),
      StructField("label", DoubleType)) ++
      Febrl.featureCols.map(c => StructField(c, DoubleType)))

  def readPairs(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(pairSchema).csv(path)
}

/** Job 1 — blocking + exactly-once pair comparison (the flagship).
  * `--reducers k` sets the triangle plan's reducer count k (default: the
  * session's defaultParallelism); which physical plan runs is picked from
  * the input by [[graft.dedup.DedupStrategy]], never by a flag. */
object GenerateLabeledPoints {
  def main(args: Array[String]): Unit = {
    val a = Cli.parse(args)
    Cli.withSession("graft-generate") { spark =>
    val cfg0 = Febrl.config
    val cfg = if (a.contains("unlabeled")) cfg0.copy(label = None) else cfg0
    val df = Febrl.read(spark, a("input"))
    val k = a.get("reducers").fold(spark.sparkContext.defaultParallelism) { s =>
      val k = s.toIntOption.getOrElse(
        throw new IllegalArgumentException(s"--reducers must be an integer, got '$s'"))
      // k = 1 is a valid (degenerate) triangle layout — the planner handles it
      if (k < 1) throw new IllegalArgumentException(s"--reducers must be >= 1, got $k")
      k
    }
    val pairs = DedupStrategy.pairFeaturesAuto(df, cfg, k)
    val labelCol = if (cfg.label.isDefined) Seq(col("label").cast("string"))
                   else Seq(lit("").as("label"))
    pairs
      .select((Seq(col("id1"), col("id2")) ++ labelCol ++
        Febrl.featureCols.map(col)): _*)
      .write.mode("overwrite").csv(a("output"))
    }
  }
}

/** Job 2 — train the GBT duplicate classifier, print the confusion matrix /
  * metrics / feature importances, persist the PipelineModel. */
object TrainDupClassifier {
  def main(args: Array[String]): Unit = {
    val a = Cli.parse(args)
    Cli.withSession("graft-train") { spark =>
    val ml = DedupMl.toMlFrame(Cli.readPairs(spark, a("input")), Febrl.featureCols)
      .cache()
    val (model, testDf) =
      DedupMl.train(ml, maxIter = a.getOrElse("maxIter", "100").toInt)
    val m = DedupMl.evaluate(model, testDf)
    println(s"confusion matrix [tn fn; fp tp]: ${m.tn} ${m.fn} ; ${m.fp} ${m.tp}")
    println(f"accuracy=${m.accuracy}%.6f precision=${m.precision}%.6f " +
      f"recall=${m.recall}%.6f f1=${m.f1}%.6f")
    val gbt = model.stages.last
      .asInstanceOf[org.apache.spark.ml.classification.GBTClassificationModel]
    println("feature importances: " + Febrl.featureCols.zip(gbt.featureImportances.toArray)
      .sortBy(-_._2).map { case (c, v) => f"$c=$v%.4f" }.mkString(", "))
    model.write.overwrite().save(a("model"))
    }
  }
}

/** Job 4 — end-to-end corpus curation + deterministic sharding (beyond the
  * reference's surface: the training-data pipeline as one command). Reads a
  * documents parquet (doc_id, text, lang, source, ...), runs the q51
  * pipeline (language ID + quality filter → exact dedup → near-dup
  * representative), assigns survivors to training shards (q70's salted-hash
  * layout, `--shards N`, default 8), and writes one sorted parquet file per
  * shard directory via [[graft.sources.Io.writeShards]]:
  *
  *   runMain graft.cli.CurateCorpus --input docs.parquet --output /tmp/shards \
  *     [--shards 8]
  */
object CurateCorpus {
  def main(args: Array[String]): Unit = {
    val a = Cli.parse(args)
    Cli.withSession("graft-curate") { spark =>
    val nShards = a.getOrElse("shards", "8").toInt
    val docs = graft.Tables.parallelized(spark.read.parquet(a("input")))
    graft.ops.Curation.curateToShards(docs, nShards, a("output")): Unit
    graft.CachedFrames.drain()
    }
  }
}

/** Job 5 — materialize the corpus admission index (the two frames
  * `graft.ops.Curation.corpusIndexFrames` derives: exact digests and
  * rotation-banded SimHash entries) as parquet, so admission runs scan the
  * INDEX instead of re-fingerprinting the corpus:
  *
  *   runMain graft.cli.BuildCorpusIndex --input docs.parquet --output /tmp/idx
  *
  * Writes `<out>/digests` (ck, cid) and `<out>/bands` (t, bucket, simhash,
  * cid). Incremental maintenance is append-shaped: an admitted batch's own
  * digests/bands rows can be appended to the same layout (the probe side
  * never assumes uniqueness). At 100 TB the index is a fraction of the
  * corpus (one digest + `tables` band rows per document, no text). */
object BuildCorpusIndex {
  def main(args: Array[String]): Unit = {
    val a = Cli.parse(args)
    Cli.requireFreshOutput(a, "input")
    Cli.withSession("graft-build-index") { spark =>
    val docs = graft.Tables.parallelized(spark.read.parquet(a("input")))
    val (digests, bands) = graft.ops.Curation.corpusIndexFrames(docs)
    digests.write.mode("overwrite").parquet(s"${a("output")}/digests")
    bands.write.mode("overwrite").parquet(s"${a("output")}/bands")
    }
  }
}

/** Job 6 — admit a new document batch against a persisted index (job 5's
  * output): every batch document gets a `dup_exact` / `dup_near` / `new`
  * verdict plus the smallest matching corpus id — q71's semantics, with
  * the corpus side read from the index:
  *
  *   runMain graft.cli.AdmitBatch --input batch.parquet --index /tmp/idx \
  *     --output /tmp/verdicts
  */
object AdmitBatch {
  def main(args: Array[String]): Unit = {
    val a = Cli.parse(args)
    Cli.requireFreshOutput(a, "index", "input")
    Cli.withSession("graft-admit") { spark =>
    val batch = graft.Tables.parallelized(spark.read.parquet(a("input")))
    val digests = spark.read.parquet(s"${a("index")}/digests")
    val bands = spark.read.parquet(s"${a("index")}/bands")
    graft.ops.Curation.admitAgainstIndex(batch, digests, bands)
      .write.mode("overwrite").parquet(a("output"))
    graft.CachedFrames.drain()
    }
  }
}

/** Job 7 — materialize the EMBEDDING admission index (the two frames
  * `graft.ops.Embeddings.admissionIndexFrames` derives: the hash-seeded
  * codebook as one row and the per-cell corpus entry arrays) as parquet —
  * the vector-space sibling of job 5, so semantic admission runs scan the
  * index, never the corpus embeddings:
  *
  *   runMain graft.cli.BuildVectorIndex --input embeddings.parquet \
  *     --output /tmp/vidx [--rounds 3]
  *
  * Writes `<out>/codebook` (cents: array of (cell, c, cnorm2)) and
  * `<out>/cells` (cell, entries: array of (cid, cv, cn)). The codebook is
  * trained on the corpus ONLY — an admitted batch never shifts the
  * standing centroids; periodic re-trains rewrite both frames. */
object BuildVectorIndex {
  def main(args: Array[String]): Unit = {
    val a = Cli.parse(args)
    Cli.requireFreshOutput(a, "input")
    Cli.withSession("graft-build-vector-index") { spark =>
    val corpus = graft.Tables.parallelized(spark.read.parquet(a("input")))
    // --rounds N > 1 Lloyd-trains the codebook before indexing (q89's
    // measured recall gain) — build-time cost only, admission unchanged
    val (centsRow, cells) = graft.ops.Embeddings.admissionIndexFrames(
      corpus, a.getOrElse("rounds", "1").toInt)
    centsRow.write.mode("overwrite").parquet(s"${a("output")}/codebook")
    cells.write.mode("overwrite").parquet(s"${a("output")}/cells")
    graft.CachedFrames.drain() // probeAssign tracks the assignment frame
    }
  }
}

/** Job 8 — admit a vector batch against a persisted embedding index (job
  * 7's output): every batch vector gets a `dup_semantic` / `new` verdict
  * plus the smallest matching corpus id and best cosine — q78's semantics,
  * with the corpus side read from the index:
  *
  *   runMain graft.cli.AdmitVectors --input batch.parquet --index /tmp/vidx \
  *     --output /tmp/verdicts
  */
object AdmitVectors {
  def main(args: Array[String]): Unit = {
    val a = Cli.parse(args)
    Cli.requireFreshOutput(a, "index", "input")
    Cli.withSession("graft-admit-vectors") { spark =>
    val batch = graft.Tables.parallelized(spark.read.parquet(a("input")))
    graft.ops.Embeddings.admitVectorsAgainstIndex(batch,
        spark.read.parquet(s"${a("index")}/codebook"),
        spark.read.parquet(s"${a("index")}/cells"))
      .write.mode("overwrite").parquet(a("output"))
    graft.CachedFrames.drain()
    }
  }
}

/** Job 9 — deletion propagation ("right to be forgotten") for the TEXT
  * admission index: given a parquet of doc ids, write a copy of the index
  * with every row derived from those documents removed, so re-submitting a
  * forgotten document admits as `new`:
  *
  *   runMain graft.cli.ForgetDocs --index /tmp/idx --ids ids.parquet \
  *     --output /tmp/idx2
  */
object ForgetDocs {
  def main(args: Array[String]): Unit = {
    val a = Cli.parse(args)
    Cli.requireFreshOutput(a, "index", "ids")
    Cli.withSession("graft-forget") { spark =>
    val ids = spark.read.parquet(a("ids"))
    val (digests, bands) = graft.ops.Curation.forgetFromIndex(
      spark.read.parquet(s"${a("index")}/digests"),
      spark.read.parquet(s"${a("index")}/bands"), ids)
    digests.write.mode("overwrite").parquet(s"${a("output")}/digests")
    bands.write.mode("overwrite").parquet(s"${a("output")}/bands")
    }
  }
}

/** Job 10 — deletion propagation for the EMBEDDING admission index: copies
  * the codebook unchanged (centroids stay frozen between re-trains) and
  * filters the forgotten vectors out of every cell's entry array:
  *
  *   runMain graft.cli.ForgetVectors --index /tmp/vidx --ids ids.parquet \
  *     --output /tmp/vidx2
  */
object ForgetVectors {
  def main(args: Array[String]): Unit = {
    val a = Cli.parse(args)
    Cli.requireFreshOutput(a, "index", "ids")
    Cli.withSession("graft-forget-vectors") { spark =>
    val ids = spark.read.parquet(a("ids"))
    spark.read.parquet(s"${a("index")}/codebook")
      .write.mode("overwrite").parquet(s"${a("output")}/codebook")
    graft.ops.Embeddings.forgetFromVectorIndex(
        spark.read.parquet(s"${a("index")}/cells"), ids)
      .write.mode("overwrite").parquet(s"${a("output")}/cells")
    }
  }
}

/** Job 12 — extend the TEXT admission index with an admitted batch's own
  * rows, closing the incremental loop (Build → Admit → Extend → the next
  * batch admits against the grown index, no rebuild): the batch's
  * verdict-`new` slice derives its digest and band rows, which APPEND IN
  * PLACE — the whole point of the (ck, cid) / (t, bucket, simhash, cid)
  * layout is that extension never reads or rewrites the standing index.
  * A retried append only duplicates rows, and duplicate rows cannot
  * change any verdict (admission is min/exists over matches) — periodic
  * compaction (job 14, CompactCorpusIndex) is housekeeping, not
  * correctness:
  *
  *   runMain graft.cli.ExtendCorpusIndex --input batch.parquet \
  *     --verdicts /tmp/verdicts --index /tmp/idx
  */
object ExtendCorpusIndex {
  def main(args: Array[String]): Unit = {
    val a = Cli.parse(args)
    Cli.withSession("graft-extend-index") { spark =>
    val admitted = graft.Tables.parallelized(spark.read.parquet(a("input")))
      .join(spark.read.parquet(a("verdicts"))
        .filter(col("verdict") === "new").select("doc_id"), Seq("doc_id"))
    val (digests, bands) = graft.ops.Curation.corpusIndexFrames(admitted)
    digests.write.mode("append").parquet(s"${a("index")}/digests")
    bands.write.mode("append").parquet(s"${a("index")}/bands")
    }
  }
}

/** Job 13 — extend the EMBEDDING admission index with an admitted batch's
  * verdict-`new` vectors: each is assigned to its nearest STANDING
  * centroid (the codebook stays frozen between re-trains, so old entries
  * never move cells) and merged into that cell's entry array. The
  * cell-array layout needs a per-cell merge, so this job writes a new
  * index directory like ForgetVectors (the delta broadcasts; the standing
  * cells stream through one left join, never shuffling or exploding):
  *
  *   runMain graft.cli.ExtendVectorIndex --input batch.parquet \
  *     --verdicts /tmp/vverdicts --index /tmp/vidx --output /tmp/vidx2
  */
object ExtendVectorIndex {
  def main(args: Array[String]): Unit = {
    val a = Cli.parse(args)
    Cli.requireFreshOutput(a, "index", "input", "verdicts")
    Cli.withSession("graft-extend-vindex") { spark =>
    val admitted = graft.Tables.parallelized(spark.read.parquet(a("input")))
      .join(spark.read.parquet(a("verdicts"))
        .filter(col("verdict") === "new").select("vec_id"), Seq("vec_id"))
    val centsRow = spark.read.parquet(s"${a("index")}/codebook")
    centsRow.write.mode("overwrite").parquet(s"${a("output")}/codebook")
    graft.ops.Embeddings.extendVectorIndex(centsRow,
        spark.read.parquet(s"${a("index")}/cells"), admitted)
      .write.mode("overwrite").parquet(s"${a("output")}/cells")
    }
  }
}

/** Job 14 — compact the TEXT admission index: a retried ExtendCorpusIndex
  * append leaves duplicate rows behind (harmless for verdicts — admission
  * is min/exists over matches — but they accumulate storage and probe
  * work), so compaction rewrites both frames `distinct` to a fresh
  * directory. One shuffle per frame on its natural key, verdict-invariant
  * by construction (spec-pinned):
  *
  *   runMain graft.cli.CompactCorpusIndex --index /tmp/idx --output /tmp/idx2
  */
object CompactCorpusIndex {
  def main(args: Array[String]): Unit = {
    val a = Cli.parse(args)
    Cli.requireFreshOutput(a, "index")
    Cli.withSession("graft-compact-index") { spark =>
    spark.read.parquet(s"${a("index")}/digests").distinct()
      .write.mode("overwrite").parquet(s"${a("output")}/digests")
    spark.read.parquet(s"${a("index")}/bands").distinct()
      .write.mode("overwrite").parquet(s"${a("output")}/bands")
    }
  }
}

/** Job 11 — materialize an epoch plan: mixture-weighted repeats, token
  * packing and sharding over a (curated) documents parquet, written with
  * the sorted-shard sink so a data loader streams each `shard=K` file in
  * training order:
  *
  *   runMain graft.cli.PlanEpoch --input docs.parquet --output /tmp/epoch \
  *     [--shards 8]
  */
object PlanEpoch {
  def main(args: Array[String]): Unit = {
    val a = Cli.parse(args)
    Cli.withSession("graft-plan-epoch") { spark =>
    val docs = graft.Tables.parallelized(spark.read.parquet(a("input")))
    val plan = graft.ops.Curation.epochPlanOn(docs, a.getOrElse("shards", "8").toInt)
    // source leads the sort key: seq_id/offset restart per source, so two
    // sources tie on (seq_id, offset) and a stable sort would keep their
    // nondeterministic shuffle arrival order — (source, seq_id, offset) is
    // a total order (offsets strictly increase within a sequence), which
    // is what makes re-runs byte-identical
    graft.sources.Io.writeShards(plan, a("output"),
      orderCols = Seq("source", "seq_id", "offset"))
    graft.CachedFrames.drain()
    }
  }
}

/** Job 12 — PII-mask a documents parquet for release (q96's rules: emails,
  * SSN-shaped ids, phone-shaped numbers, long digit runs → typed
  * placeholders), writing the table with `text` replaced by the masked
  * form and the per-rule match counts alongside — the release analog of
  * the column-level Anonymize pass, for free-text:
  *
  *   runMain graft.cli.MaskCorpus --input docs.parquet --output /tmp/masked
  *
  * A pure projection end to end — at 100 TB this is a single scan-rewrite
  * with no shuffle beyond scan right-sizing. */
object MaskCorpus {
  def main(args: Array[String]): Unit = {
    val a = Cli.parse(args)
    Cli.withSession("graft-mask-corpus") { spark =>
    import org.apache.spark.sql.functions.col
    val docs = graft.Tables.parallelized(spark.read.parquet(a("input")))
    // fail fast instead of silently overwriting an input column that
    // collides with the appended outputs (e.g. re-masking a previous
    // MaskCorpus output would clobber its counts with already-masked ones)
    val appended = "masked" +:
      graft.ops.TextOps.PiiRules.map { case (n, _, _) => s"n_${n}s" }
    val collisions = docs.columns.toSet.intersect(appended.toSet)
    require(collisions.isEmpty,
      s"input already has column(s) ${collisions.toSeq.sorted.mkString(", ")} — " +
        "refusing to overwrite; rename or drop them first")
    graft.ops.TextOps.withPiiColumns(docs)
      .withColumn("text", col("masked")).drop("masked")
      .write.mode("overwrite").parquet(a("output"))
    }
  }
}

/** Job 12b — substring-dedup APPLY for release (q184): rewrite a documents
  * parquet with every repeated span of [[graft.ops.TextOps.SubstrW]]+
  * tokens removed from all but its canonical first site (Lee et al. 2022),
  * `text` replaced by the cleaned form and the removal accounting appended
  * (`n_substr_removed`, `n_substr_spans`) — the rewrite q166 only plans,
  * wired the same way MaskCorpus applies q96's PII plan:
  *
  *   runMain graft.cli.DedupSubstrings --input docs.parquet --output /tmp/clean
  *
  * At 100 TB this is q166's pipeline (gram rollup + postings join, never
  * doc×doc) plus one doc-keyed join back onto the corpus — the rewrite
  * itself is a codegen'd per-row array filter. */
object DedupSubstrings {
  def main(args: Array[String]): Unit = {
    val a = Cli.parse(args)
    Cli.withSession("graft-dedup-substrings") { spark =>
    val docs = graft.Tables.parallelized(spark.read.parquet(a("input")))
    val appended = Seq("n_substr_removed", "n_substr_spans")
    val collisions = docs.columns.toSet.intersect(appended.toSet)
    require(collisions.isEmpty,
      s"input already has column(s) ${collisions.toSeq.sorted.mkString(", ")} — " +
        "refusing to overwrite; rename or drop them first")
    try docs.drop("text")
      .join(graft.ops.TextOps.substrApplyOn(docs).select(col("doc_id"),
        col("cleaned_text").as("text"),
        col("n_removed").as("n_substr_removed"),
        col("n_spans").as("n_substr_spans")), "doc_id")
      .write.mode("overwrite").parquet(a("output"))
    finally graft.CachedFrames.drain()
    }
  }
}

/** Job 12c — materialize the substring-dedup GRAM INDEX of a standing
  * corpus (its writer-attributed (doc_id, gram) postings —
  * [[graft.ops.TextOps.substrIndexPostingsFrame]]) so later batches admit
  * against the index instead of re-scanning base text — the substring
  * sibling of BuildCorpusIndex. Attribution is what makes the artifact
  * forgettable (ForgetIndex --family substr) and replay-repairable (the
  * ingest loop's anti-join); admission itself only reads the gram column:
  *
  *   runMain graft.cli.BuildSubstrIndex --input docs.parquet --output /tmp/gidx
  */
object BuildSubstrIndex {
  def main(args: Array[String]): Unit = {
    val a = Cli.parse(args)
    Cli.requireFreshOutput(a, "input")
    Cli.withSession("graft-build-substr-index") { spark =>
    val docs = graft.Tables.parallelized(spark.read.parquet(a("input")))
    graft.ops.TextOps.substrIndexPostingsFrame(docs)
      .write.mode("overwrite").parquet(s"${a("output")}/grams")
    }
  }
}

/** Job 12d — admit a document batch against a persisted gram index (job
  * 12c's output): per batch doc, the q166 removal plan counting the base
  * as canonical (immutable-base contract — see
  * [[graft.ops.TextOps.substrAdmitAgainstIndex]]); the substring sibling
  * of AdmitBatch:
  *
  *   runMain graft.cli.AdmitSubstrings --input batch.parquet \
  *     --index /tmp/gidx --output /tmp/plan
  */
object AdmitSubstrings {
  def main(args: Array[String]): Unit = {
    val a = Cli.parse(args)
    Cli.requireFreshOutput(a, "index", "input")
    Cli.withSession("graft-admit-substrings") { spark =>
    val batch = graft.Tables.parallelized(spark.read.parquet(a("input")))
    val index = spark.read.parquet(s"${a("index")}/grams")
    try graft.ops.TextOps.substrAdmitAgainstIndex(batch, index)
      .write.mode("overwrite").parquet(a("output"))
    finally graft.CachedFrames.drain()
    }
  }
}

/** Job 12e — extend a persisted gram index with an admitted batch's grams
  * (a pure row union of the batch's derived postings — the base is NEVER
  * re-scanned), so the next admission sees base ∪ batch as its standing
  * corpus; the substring sibling of ExtendCorpusIndex. The law:
  * extend(index(base), batch) ≡ index(base ∪ batch) — pinned in CliSpec.
  *
  * SCHEMA-AWARE (the migration path): a standing index in the current
  * writer-attributed (doc_id, gram) shape extends with the batch's
  * postings by name; a LEGACY gram-only index (pre-attribution builds)
  * extends with the batch's distinct grams and stays legacy — the one
  * thing this job must never do is positionally union a 1-column frame
  * with a 2-column one or mix both schemas in one directory. distinct()
  * doubles as compaction for the ingest loop's at-least-once appends
  * (duplicate postings rows are probe-harmless but cost storage).
  *
  *   runMain graft.cli.ExtendSubstrIndex --index /tmp/gidx \
  *     --batch batch.parquet --output /tmp/gidx2
  */
object ExtendSubstrIndex {
  def main(args: Array[String]): Unit = {
    val a = Cli.parse(args)
    Cli.requireFreshOutput(a, "index", "batch")
    Cli.withSession("graft-extend-substr-index") { spark =>
    val index = spark.read.parquet(s"${a("index")}/grams")
    val batch = graft.Tables.parallelized(spark.read.parquet(a("batch")))
    val extended =
      if (index.columns.contains("doc_id"))
        index.unionByName(
          graft.ops.TextOps.substrIndexPostingsFrame(batch)).distinct()
      else index.unionByName(
        graft.ops.TextOps.substrIndexFrame(batch)).distinct()
    extended.write.mode("overwrite").parquet(s"${a("output")}/grams")
    }
  }
}

/** Job 12f — materialize the GRAPH INDEX of a standing corpus (its
  * winnowed fingerprint postings plus the df and capped-size rollups —
  * [[graft.ops.TextOps.graphIndexFps]] and friends), so the containment
  * graph family stops re-winnowing the corpus text every run — the graph
  * sibling of BuildCorpusIndex/BuildSubstrIndex:
  *
  *   runMain graft.cli.BuildGraphIndex --input docs.parquet --output /tmp/gx
  *
  * Writes `<out>/fps` (doc_id, fp), `<out>/df` (fp, fdf), `<out>/sizes`
  * (doc_id, n_fp). At 100 TB the postings are a fraction of the corpus
  * (winnowing keeps ~1/W of the gram hashes, no text). */
object BuildGraphIndex {
  def main(args: Array[String]): Unit = {
    val a = Cli.parse(args)
    Cli.requireFreshOutput(a, "input")
    Cli.withSession("graft-build-graph-index") { spark =>
    val docs = graft.Tables.parallelized(spark.read.parquet(a("input")))
      .select(col("doc_id"), col("text"))
    try {
      val fps = graft.CachedFrames.track(graft.ops.TextOps.graphIndexFps(docs))
      fps.write.mode("overwrite").parquet(s"${a("output")}/fps")
      graft.ops.TextOps.graphIndexDfOf(fps)
        .write.mode("overwrite").parquet(s"${a("output")}/df")
      graft.ops.TextOps.graphIndexSizesOf(fps)
        .write.mode("overwrite").parquet(s"${a("output")}/sizes")
    } finally graft.CachedFrames.drain()
    }
  }
}

/** Job 12g — admit a document batch against a persisted graph index (job
  * 12f's output): the batch's INCIDENT containment edges under the grown
  * corpus — exactly the from-scratch edges of base ∪ batch restricted to
  * pairs touching a batch doc, computed from |batch| text plus bounded
  * index lookups ([[graft.ops.TextOps.graphAdmitAgainstIndex]]). With
  * `--patch`, also writes the BASE↔BASE edge patch the admission implies
  * ([[graft.ops.TextOps.graphRetireOnAdmit]] — retirements and
  * denominator updates from batch-caused df-cap crossings), so a standing
  * edge artifact is kept current per admission without a full refresh:
  *
  *   runMain graft.cli.AdmitDocs --input batch.parquet --index /tmp/gx \
  *     --output /tmp/edges [--patch /tmp/edgepatch]
  */
object AdmitDocs {
  def main(args: Array[String]): Unit = {
    val a = Cli.parse(args)
    Cli.requireFreshOutput(a, "index", "input")
    Cli.withSession("graft-admit-docs") { spark =>
    val batch = graft.Tables.parallelized(spark.read.parquet(a("input")))
      .select(col("doc_id"), col("text"))
    val idx = a("index")
    val (fps, df, sizes) = (spark.read.parquet(s"$idx/fps"),
      spark.read.parquet(s"$idx/df"), spark.read.parquet(s"$idx/sizes"))
    try {
      graft.ops.TextOps.graphAdmitAgainstIndex(batch, fps, df, sizes)
        .write.mode("overwrite").parquet(a("output"))
      a.get("patch").foreach { p =>
        graft.ops.TextOps.graphRetireOnAdmit(batch, fps, df, sizes)
          .write.mode("overwrite").parquet(p)
      }
    } finally graft.CachedFrames.drain()
    }
  }
}

/** Job 12h — extend a persisted graph index with an admitted batch:
  * postings append + df count-merge + capped-size adjustment, never a
  * re-scan of base text. The law (GraphIndexSpec + CliSpec): every table
  * of extend(build(base), batch) equals the from-scratch
  * build(base ∪ batch) for doc_id-disjoint inputs.
  *
  *   runMain graft.cli.ExtendGraphIndex --index /tmp/gx \
  *     --batch batch.parquet --output /tmp/gx2
  */
object ExtendGraphIndex {
  def main(args: Array[String]): Unit = {
    val a = Cli.parse(args)
    Cli.requireFreshOutput(a, "index", "batch")
    Cli.withSession("graft-extend-graph-index") { spark =>
    val idx = a("index")
    val batch = graft.Tables.parallelized(spark.read.parquet(a("batch")))
      .select(col("doc_id"), col("text"))
    try {
      val (fps2, df2, sizes2) = graft.ops.TextOps.graphIndexExtend(
        spark.read.parquet(s"$idx/fps"), spark.read.parquet(s"$idx/df"),
        spark.read.parquet(s"$idx/sizes"), batch)
      fps2.write.mode("overwrite").parquet(s"${a("output")}/fps")
      df2.write.mode("overwrite").parquet(s"${a("output")}/df")
      sizes2.write.mode("overwrite").parquet(s"${a("output")}/sizes")
    } finally graft.CachedFrames.drain()
    }
  }
}

/** Tokenizer TRAINING job — run q97's merge loop over a (doc_id, text)
  * corpus and persist the merge table (rank, pair, n) as the tokenizer
  * artifact: the text pipeline's model sink (S4), same save/load-then-apply
  * contract as the GBT jobs. `--rounds` overrides the default merge count.
  * The artifact is K rows — coalesced to one file like any model. */
object TrainTokenizer {
  def main(args: Array[String]): Unit = {
    val a = Cli.parse(args)
    Cli.withSession("graft-train-tokenizer") { spark =>
      val docs = graft.Tables.parallelized(spark.read.parquet(a("input")))
        .select(col("doc_id"), col("text"))
      val rounds = a.get("rounds").map(_.toInt)
        .getOrElse(graft.ops.TextOps.BpeRounds)
      try graft.ops.TextOps.bpeTrainOn(docs, rounds)
        .coalesce(1).write.mode("overwrite").parquet(a("output"))
      finally graft.CachedFrames.drain()
    }
  }
}

/** Tokenizer APPLICATION job — load a persisted merge table and rewrite the
  * corpus with its real-tokenizer token count appended (`n_bpe`): q98's
  * encode pass against the saved artifact instead of retraining, so a
  * 100 TB encode run costs exactly one scan-rewrite (the K merge rows are
  * a driver-side read folded into the projection). Only `n_bpe` is
  * appended — the corpus's own columns (incl. the synthetic table's
  * n_chars) stay untouched. */
object EncodeCorpus {
  def main(args: Array[String]): Unit = {
    val a = Cli.parse(args)
    Cli.withSession("graft-encode-corpus") { spark =>
      val docs = graft.Tables.parallelized(spark.read.parquet(a("input")))
      require(!docs.columns.contains("n_bpe"),
        "input already has column n_bpe — refusing to overwrite; " +
          "rename or drop it first")
      val merges = spark.read.parquet(a("merges"))
        .orderBy(col("rank")).collect()
        .map(r => (r.getInt(0), r.getString(1), r.getLong(2))).toSeq
      graft.ops.TextOps.bpeWithNBpe(docs, merges)
        .write.mode("overwrite").parquet(a("output"))
    }
  }
}

/** The streaming ingestion loop as a run-to-completion job: process every
  * staged batch parquet under --input, write per-batch verdict dirs, grow
  * the persisted admission index, exit — the cron-driven form of
  * [[graft.streaming.EventStreams.admissionIngestStream]] (AvailableNow
  * trigger over the same foreachBatch body). The checkpoint is the memory
  * between invocations: re-running after new files land processes ONLY
  * the new ones, so `stage → IngestBatches → stage → IngestBatches` is
  * the BuildCorpusIndex/AdmitBatch/ExtendCorpusIndex loop without the
  * per-batch hand-holding (CliSpec pins exactly that sequence). */
object IngestBatches {
  def main(args: Array[String]): Unit = {
    val a = Cli.parse(args)
    Cli.withSession("graft-ingest-batches") { spark =>
      val schema = StructType(Seq(
        StructField("doc_id", LongType), StructField("text", StringType)))
      val stream = spark.readStream.schema(schema).parquet(a("input"))
      val q = graft.streaming.EventStreams
        .admissionIngestStream(stream, a("index"), a("verdicts"))
        .option("checkpointLocation", a("checkpoint"))
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
  }
}

/** Job 15b — the GENERIC ingestion loop: [[IngestBatches]] for EVERY
  * persisted index family, the cron-driven run-to-completion form of all
  * five `*IngestStream` loops (corpus / substr / graph / lshband /
  * vector). Process every staged batch parquet under --input, write
  * per-batch output dirs (verdicts / plans / edges / candidates /
  * verdicts respectively), grow the family's persisted artifact, exit.
  * The checkpoint is the memory between invocations — re-running after
  * new files land processes ONLY the new ones — and an unseeded --index
  * bootstraps from the first batch, so one command is the whole
  * Build → Admit → Extend loop for any family:
  *
  *   runMain graft.cli.IngestIndex --family lshband --input staged/ \
  *     --index /tmp/lx --output /tmp/cands --checkpoint /tmp/ckpt
  *
  * Text families stream (doc_id, text); `vector` streams
  * (vec_id, embedding). `--patches` (graph only) also maintains the
  * standing edge artifact per batch ([[graft.ops.TextOps.graphRetireOnAdmit]]). */
object IngestIndex {
  def main(args: Array[String]): Unit = {
    val a = Cli.parse(args)
    Cli.requireFreshOutput(a, "index", "input")
    Cli.withSession("graft-ingest-index") { spark =>
      val family = graft.ops.IndexFamily.byName(a("family")).name
      val schema =
        if (family == "vector") StructType(Seq(
          StructField("vec_id", LongType),
          StructField("embedding", ArrayType(FloatType))))
        else StructType(Seq(
          StructField("doc_id", LongType), StructField("text", StringType)))
      val stream = spark.readStream.schema(schema).parquet(a("input"))
      require(family == "graph" || a.get("patches").isEmpty,
        s"--patches is the graph family's flag, not $family's")
      val writer = family match {
        case "corpus" => graft.streaming.EventStreams
          .admissionIngestStream(stream, a("index"), a("output"))
        case "substr" => graft.streaming.EventStreams
          .substrIngestStream(stream, a("index"), a("output"))
        case "graph" => graft.streaming.EventStreams
          .graphIngestStream(stream, a("index"), a("output"), a.get("patches"))
        case "lshband" => graft.streaming.EventStreams
          .lshIngestStream(stream, a("index"), a("output"))
        case "vector" => graft.streaming.EventStreams
          .vectorIngestStream(stream, a("index"), a("output"))
      }
      val q = writer.option("checkpointLocation", a("checkpoint"))
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
  }
}

/** Job 3 — load the model, score unlabeled pairs, write (pair, prediction)
  * sorted by prediction. */
object ApplyDupClassifier {
  def main(args: Array[String]): Unit = {
    val a = Cli.parse(args)
    Cli.withSession("graft-apply") { spark =>
    val model = PipelineModel.load(a("model"))
    val ml = DedupMl.toMlFrame(Cli.readPairs(spark, a("input")), Febrl.featureCols)
    DedupMl.score(model, ml)
      .select(concat(lit("("), col("id"), lit(")")).as("pair"), col("prediction"))
      .write.mode("overwrite").csv(a("output"))
    }
  }
}

/** Column-profile job — the data-quality report an ingest runs before
  * anything else touches a new drop: profile ANY parquet table and write
  * the per-column stats as one small parquet. Exact by default (the q105
  * two-level aggregation, shuffle bounded by distinct-value volume);
  * `--approx` switches to the HLL bounded-state face for very wide or
  * high-cardinality inputs where even the distinct-value shuffle is
  * unwelcome. Columns are profiled in their canonical string cast, so a
  * heterogeneous schema needs no per-type plumbing — which also means
  * min_val/max_val are extremes in the STRING ordering ("9" > "10"); for
  * numeric extremes and moments run the numeric face (q109) over the
  * measure columns instead. */
object ProfileCorpus {
  def main(args: Array[String]): Unit = {
    val a = Cli.parse(args)
    Cli.withSession("graft-profile-corpus") { spark =>
      val df = spark.read.parquet(a("input"))
      val prof =
        if (a.contains("approx")) graft.ops.Profiling.profileApprox(df)
        else graft.ops.Profiling.profileExactOn(df)
      prof.coalesce(1).write.mode("overwrite").parquet(a("output"))
    }
  }
}

/** Key-skew report job — run the q110 diagnostic over any parquet table
  * and key column before choosing a join/shuffle strategy: top-10 heaviest
  * keys with shares, total/distinct/null-key counts, one small parquet
  * out. `--key` is the column name; values are ranked in their canonical
  * string cast like the profiler. */
object SkewReport {
  def main(args: Array[String]): Unit = {
    val a = Cli.parse(args)
    Cli.withSession("graft-skew-report") { spark =>
      import org.apache.spark.sql.functions.col
      val df = spark.read.parquet(a("input"))
      // fail fast with the engine's own resolution rules: Spark resolves
      // column names case-insensitively by default, so the guard must too
      val resolved = df.columns.filter(_.equalsIgnoreCase(a("key")))
      require(resolved.nonEmpty,
        s"column ${a("key")} not in ${df.columns.mkString(", ")}")
      // backtick-quote (doubling embedded backticks, Profiling.quoted's
      // idiom): col() parses dots as nested-field access, so a parquet
      // column literally named "user.id" would pass the guard above yet
      // misresolve — the quoted form always means the top-level column
      val quotedKey = "`" + resolved.head.replace("`", "``") + "`"
      try graft.ops.Profiling.skewReportOn(df, col(quotedKey).cast("string"))
        .coalesce(1).write.mode("overwrite").parquet(a("output"))
      finally graft.CachedFrames.drain() // track/drain contract (CachedFrames)
    }
  }
}

/** Job 21 — materialize a decontamination BLOOM FILTER from a benchmark
  * suite (every document in `--input` is benchmark material — no slice
  * predicate here, unlike q114's demo split): the ≤ BloomBuckets-row
  * (bucket, bits) bitmap parquet a 100 TB ingest probes instead of
  * broadcasting the gram set itself.
  *
  *   runMain graft.cli.BuildBloomFilter --input bench.parquet --output /tmp/bloom
  */
object BuildBloomFilter {
  def main(args: Array[String]): Unit = {
    val a = Cli.parse(args)
    Cli.withSession("graft-build-bloom") { spark =>
    graft.functions.GraftFunctions.register(spark)
    val docs = graft.Tables.parallelized(spark.read.parquet(a("input")))
    graft.ops.TextOps.bloomBitsOf(graft.ops.TextOps.gramSetOf(docs))
      .coalesce(1).write.mode("overwrite").parquet(a("output"))
    }
  }
}

/** Job 22 — probe a corpus drop against a persisted Bloom filter: per doc,
  * distinct gram count, claimed hits, and the contamination flag (q114's
  * probe columns; the exact-set measurement twin stays with q114 — this
  * job pays only the bitmap).
  *
  *   runMain graft.cli.ProbeBloom --input docs.parquet --bloom /tmp/bloom \
  *     --output /tmp/verdicts
  */
object ProbeBloom {
  def main(args: Array[String]): Unit = {
    val a = Cli.parse(args)
    Cli.withSession("graft-probe-bloom") { spark =>
    val docs = graft.Tables.parallelized(spark.read.parquet(a("input")))
    try graft.ops.TextOps.bloomProbeOn(docs, spark.read.parquet(a("bloom")))
      .write.mode("overwrite").parquet(a("output"))
    finally graft.CachedFrames.drain()
    }
  }
}

/** Job 23 — extend a persisted Bloom filter with a NEW benchmark suite:
  * bitwise-OR merge of the standing bitmap with the new suite's bits.
  * OR-merge of Bloom filters IS union of their element sets (same m, same
  * hash family) — CliSpec pins extend(A, B) cell-equal to build(A ∪ B) —
  * so suites can be added forever without re-reading old ones.
  *
  *   runMain graft.cli.ExtendBloomFilter --input newbench.parquet \
  *     --bloom /tmp/bloom --output /tmp/bloom2
  */
object ExtendBloomFilter {
  def main(args: Array[String]): Unit = {
    val a = Cli.parse(args)
    Cli.requireFreshOutput(a, "input", "bloom")
    Cli.withSession("graft-extend-bloom") { spark =>
    import org.apache.spark.sql.functions.{col, expr}
    graft.functions.GraftFunctions.register(spark)
    val docs = graft.Tables.parallelized(spark.read.parquet(a("input")))
    val fresh = graft.ops.TextOps.bloomBitsOf(graft.ops.TextOps.gramSetOf(docs))
    spark.read.parquet(a("bloom")).unionByName(fresh)
      .groupBy(col("bucket")).agg(expr("bit_or(bits)").as("bits"))
      .coalesce(1).write.mode("overwrite").parquet(a("output"))
    }
  }
}

/** Job 24 — the RELEASE REPORT: one command emitting the audit bundle a
  * corpus release signs off on, as a directory of parquet tables:
  *
  *   runMain graft.cli.ReleaseReport --input docs.parquet \
  *     --bench benchsuite.parquet --output /tmp/report
  *
  *   profile/         exact per-column stats            (q105 face)
  *   skew/            heaviest sources + shares         (q110 over source)
  *   dedup_savings/   per-source exact-dup cost         (q117 core, no
  *                                                       simulated recrawl)
  *   contamination/   per-source benchmark overlap      (q122 core, grams
  *                                                       from --bench)
  *   pii/             per-source PII incidence          (q96 counts rolled up)
  *
  * Every table is the SAME code path its gate query runs (CliSpec pins
  * two of them against the ops directly), so the numbers in the report
  * can never drift from what the pipeline would actually compute. */
object ReleaseReport {
  def main(args: Array[String]): Unit = {
    val a = Cli.parse(args)
    Cli.withSession("graft-release-report") { spark =>
    import org.apache.spark.sql.functions.{col, expr, count, sum, lit, when}
    val docs = graft.Tables.parallelized(spark.read.parquet(a("input")))
    // gramSetOf only reads text — a benchmark suite parquet needs no ids
    val bench = spark.read.parquet(a("bench")).select(col("text"))
    val out = a("output")
    try {
      graft.ops.Profiling.profileExactOn(docs)
        .coalesce(1).write.mode("overwrite").parquet(s"$out/profile")
      graft.ops.Profiling.skewReportOn(docs, col("source").cast("string"))
        .coalesce(1).write.mode("overwrite").parquet(s"$out/skew")
      graft.ops.Curation.dedupSavingsOn(
          docs.select(col("source"), col("doc_id"), col("text")))
        .coalesce(1).write.mode("overwrite").parquet(s"$out/dedup_savings")
      graft.ops.TextOps.contaminationOn(
          docs.select(col("source"), col("doc_id"), col("text")),
          graft.ops.TextOps.gramSetOf(bench))
        .coalesce(1).write.mode("overwrite").parquet(s"$out/contamination")
      // withPiiColumns keeps every input column (incl. source), so the
      // rollup needs no doc_id join-back — and a drop whose id spaces
      // repeat across sources can never cross-attribute counts
      val pii = graft.ops.TextOps.withPiiColumns(docs)
      val ruleCols = graft.ops.TextOps.PiiRules.map { case (n, _, _) => s"n_${n}s" }
      val total = ruleCols.map(col).reduce(_ + _)
      pii.withColumn("n_pii", total)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          (sum(when(col("n_pii") > 0, 1L).otherwise(0L)).as("docs_with_pii") +:
            ruleCols.map(c => sum(col(c)).as(c))): _*)
        .withColumn("pii_incidence", expr(
          "CAST(docs_with_pii AS DOUBLE) / CAST(n_docs AS DOUBLE)"))
        .coalesce(1).write.mode("overwrite").parquet(s"$out/pii")
      graft.ops.Curation.contingencyGridOn(
          docs.select(col("lang"), col("source")), "lang", "source")
        .coalesce(1).write.mode("overwrite").parquet(s"$out/contingency")
      graft.ops.Curation.dupFofOn(docs.select(col("text")))
        .coalesce(1).write.mode("overwrite").parquet(s"$out/dup_fof")
    } finally graft.CachedFrames.drain()
    }
  }
}

/** Job 25 — the GRAPH REPORT: materialize the winnowing-containment edge
  * list ONCE and run every graph analytic over that shared artifact:
  *
  *   runMain graft.cli.GraphReport --input docs.parquet --output /tmp/graph
  *
  *   edges/          (id1, id2, n_shared, contain1, contain2) — the artifact
  *   pagerank/       template-hub centrality                  (q127 core)
  *   triangles/      per-node triangles + lcc                 (q145 core)
  *   hits/           directed hub/authority path counts       (q149 core)
  *   assortativity/  corpus-level degree correlation          (q153 core)
  *   kcore/          densely-duplicated core after peeling    (q156 core)
  *   links/          predicted missing near-dup edges         (q170 core)
  *
  * The gate queries stay self-contained (each rebuilds its edges — the
  * oracle contract), but production runs THIS: the edge generator's ~5 s
  * dominates every individual graph query, and here its tracked output is
  * materialized once and shared by all five consumers plus the artifact
  * write. Every table is the SAME core its gate query runs (CliSpec pins
  * one against the op directly), so report numbers cannot drift.
  *
  * `--index <dir>`: read a persisted graph index (BuildGraphIndex /
  * ExtendGraphIndex output) and compute the edges FROM ITS POSTINGS
  * instead of re-winnowing `--input`'s text — the nightly-report face of
  * the incremental trio. The edges are identical by the
  * containmentFromPostings law (CliSpec pins the equality); at 100 TB
  * this replaces the corpus text scan + per-gram hashing with one df
  * rollup over the compact postings. `--input` is still read for the
  * document METADATA consumers (modularity's labels, split-leakage's doc
  * roster) — a column-pruned scan that never touches text. */
object GraphReport {
  def main(args: Array[String]): Unit = {
    val a = Cli.parse(args)
    Cli.withSession("graft-graph-report") { spark =>
      import org.apache.spark.sql.functions.col
      val docs = graft.Tables.parallelized(spark.read.parquet(a("input")))
      val out = a("output")
      try {
        val pairs = a.get("index") match {
          case Some(idx) => graft.ops.TextOps.containmentFromPostings(
            graft.Tables.parallelized(spark.read.parquet(s"$idx/fps")))
          case None => graft.ops.TextOps.containmentOn(
            docs.select(col("doc_id"), col("text")))
        }
        val ids = pairs.select(col("id1"), col("id2"))
        pairs.coalesce(1).write.mode("overwrite").parquet(s"$out/edges")
        graft.ops.TextOps.pagerankOn(ids)
          .coalesce(1).write.mode("overwrite").parquet(s"$out/pagerank")
        graft.ops.TextOps.triangleCountOn(ids)
          .coalesce(1).write.mode("overwrite").parquet(s"$out/triangles")
        graft.ops.TextOps.hitsOn(pairs.select(col("id1"), col("id2"),
            col("contain1"), col("contain2")))
          .coalesce(1).write.mode("overwrite").parquet(s"$out/hits")
        graft.ops.TextOps.assortativityOn(ids)
          .coalesce(1).write.mode("overwrite").parquet(s"$out/assortativity")
        graft.ops.TextOps.kCoreOn(ids)
          .coalesce(1).write.mode("overwrite").parquet(s"$out/kcore")
        graft.ops.TextOps.linkPredictOn(ids)
          .coalesce(1).write.mode("overwrite").parquet(s"$out/links")
        graft.ops.TextOps.modularityOn(ids,
            docs.select(col("doc_id"), col("lang")))
          .coalesce(1).write.mode("overwrite").parquet(s"$out/modularity")
        graft.ops.TextOps.splitLeakageOn(ids, docs.select(col("doc_id")))
          .coalesce(1).write.mode("overwrite").parquet(s"$out/split_leakage")
      } finally graft.CachedFrames.drain()
    }
  }
}

/** Job 26 — the TREND REPORT: the daily-series family over one events
  * drop, sharing the calendar-dense daily artifact:
  *
  *   runMain graft.cli.TrendReport --input events.parquet --output /tmp/t
  *
  *   daily/         the dense (day, count) series — the artifact
  *   acf/           lag-1..7 autocorrelation                  (q198 core)
  *   mann_kendall/  trend significance                        (q199 core)
  *   theil_sen/     trend size, robust slope                  (q200 core)
  *   new_returning/ daily acquisition vs retention split      (q208 core)
  *   traffic_grid/  dow×hour arrival contingency + lifts      (q209 core)
  *   funnel/        deadline-constrained conversion summary   (q206 core)
  *
  * All three cores call [[graft.ops.Events.denseDaily]] on the same
  * input frame, so [[graft.CachedFrames]]' canonicalized-plan refcounting
  * materializes the series ONCE across the whole job (same mechanism the
  * GraphReport bundle rides) — the gate queries stay self-contained for
  * the oracle contract. */
/** One-command WAREHOUSE AUDIT — the relational data-contract bundle next
  * to ReleaseReport (corpus) and TrendReport (events): referential
  * integrity (q179), join-fanout skew inputs (q195), candidate-FD health
  * with the g3 repair bill (q220), fulfillment SLA (q211), the revenue
  * series + trend readout (q212/q214) with its seasonality gate (q225),
  * urgency drift (q218), customer economics (q205 ABC, q223 mobility,
  * q224 cadence, q243 RFM), demand response (q226), the Benford forensic
  * screen on totals (q228), ledger reconciliation (q236), basket
  * affinity (q244) and supplier reliability (q246). Each table is the corresponding gate query VERBATIM
  * (single-sourced — CliSpec pins row-equality), written as one
  * parquet per audit under the output dir. Input is the warehouse table
  * directory (the Verify contract), output a report directory. */
object WarehouseReport {
  def main(args: Array[String]): Unit = {
    val a = Cli.parse(args)
    Cli.withSession("graft-warehouse-report") { spark =>
      val sf = a("input")
      val out = a("output")
      val parts: Seq[(String, () => org.apache.spark.sql.DataFrame)] = Seq(
        "fk_orphans" -> (() => graft.ops.Relational.q179FkOrphans(spark, sf)),
        "join_fanout" -> (() => graft.ops.Relational.q195JoinFanout(spark, sf)),
        "fd_audit" -> (() => graft.ops.Relational.q220FdAudit(spark, sf)),
        "ship_lag" -> (() => graft.ops.Relational.q211ShipLag(spark, sf)),
        "monthly_revenue" ->
          (() => graft.ops.Relational.q212MonthlyRevenue(spark, sf)),
        "revenue_trend" ->
          (() => graft.ops.Relational.q214RevenueTrend(spark, sf)),
        "month_effect" -> (() => graft.ops.Relational.q225MonthEffect(spark, sf)),
        "priority_drift" ->
          (() => graft.ops.Relational.q218PriorityDrift(spark, sf)),
        "abc" -> (() => graft.ops.Relational.q205AbcAnalysis(spark, sf)),
        "spend_mobility" ->
          (() => graft.ops.Relational.q223SpendMobility(spark, sf)),
        "order_gap" -> (() => graft.ops.Relational.q224OrderGap(spark, sf)),
        "discount_elasticity" ->
          (() => graft.ops.Relational.q226DiscountElasticity(spark, sf)),
        "price_benford" ->
          (() => graft.ops.Relational.q228PriceBenford(spark, sf)),
        "ledger_recon" ->
          (() => graft.ops.Relational.q236LedgerRecon(spark, sf)),
        "rfm_segments" ->
          (() => graft.ops.Relational.q243RfmSegments(spark, sf)),
        "basket_lift" ->
          (() => graft.ops.Relational.q244BasketLift(spark, sf)),
        "supplier_reliability" ->
          (() => graft.ops.Relational.q246SupplierReliability(spark, sf)))
      try parts.foreach { case (name, f) =>
        f().coalesce(1).write.mode("overwrite").parquet(s"$out/$name")
      } finally graft.CachedFrames.drain()
    }
  }
}

object TrendReport {
  def main(args: Array[String]): Unit = {
    val a = Cli.parse(args)
    Cli.withSession("graft-trend-report") { spark =>
      val events = graft.Tables.normalizeEventsTs(
        spark.read.parquet(a("input")))
      val out = a("output")
      try {
        graft.CachedFrames.track(graft.ops.Events.denseDaily(events))
          .coalesce(1).write.mode("overwrite").parquet(s"$out/daily")
        graft.ops.Events.acfOn(events)
          .coalesce(1).write.mode("overwrite").parquet(s"$out/acf")
        graft.ops.Events.mannKendallOn(events)
          .coalesce(1).write.mode("overwrite").parquet(s"$out/mann_kendall")
        graft.ops.Events.theilSenOn(events)
          .coalesce(1).write.mode("overwrite").parquet(s"$out/theil_sen")
        graft.ops.Events.newReturningOn(events)
          .coalesce(1).write.mode("overwrite").parquet(s"$out/new_returning")
        graft.ops.Events.trafficGridOn(events)
          .coalesce(1).write.mode("overwrite").parquet(s"$out/traffic_grid")
        graft.ops.Events.windowFunnelOn(events)
          .coalesce(1).write.mode("overwrite").parquet(s"$out/funnel")
      } finally graft.CachedFrames.drain()
    }
  }
}

/** Job 29 — measured blocking-key selection over a reference-format record
  * CSV ([[graft.dedup.BlockingPlanner]] as an operator's CLI face): scores
  * the flagship's own scheme against four single-key alternatives on the
  * Christen metrics, marks the budget-rule winner in-row, and writes the
  * scoreboard as one small parquet. Truth pairs derive from the Febrl
  * rec_id convention (records sharing the middle `-N-` group id are true
  * duplicates — `getLabel`, Util.scala:27-35 in the reference); `--budget`
  * bounds the comparison bill (default 150,000 — generous enough that the
  * winner is decided by measured completeness, CliSpec pins it to the
  * reference's own keys).
  *
  *   runMain graft.cli.PickBlocking --input data/test.csv --output /tmp/sb \
  *     [--budget 150000]
  */
object PickBlocking {
  def main(args: Array[String]): Unit = {
    val a = Cli.parse(args)
    Cli.withSession("graft-pick-blocking") { spark =>
      import graft.dedup.{BlockingPlanner, BlockingScheme}
      val recs = Febrl.read(spark, a("input"))
      val ids = recs.select(col("rec_id"),
        split(trim(col("rec_id")), "-").getItem(1).as("mid"))
      val truth = ids.alias("a").join(ids.alias("b"),
          col("a.mid") === col("b.mid") && col("a.rec_id") < col("b.rec_id"))
        .select(col("a.rec_id").as("id1"), col("b.rec_id").as("id2"))
      val schemes = Seq(
        BlockingScheme("reference", Febrl.config.blockingKeys),
        BlockingScheme("state_only", Seq(col("state"))),
        BlockingScheme("given_name", Seq(col("given_name"))),
        BlockingScheme("postcode", Seq(col("postcode"))),
        BlockingScheme("soc_sec", Seq(col("soc_sec_id"))))
      val budget = a.getOrElse("budget", "150000").toLong
      try {
        val (winner, scores) =
          BlockingPlanner.pick(recs, "rec_id", schemes, truth, budget)
        println(s"winner=${winner.name} (budget=$budget)")
        BlockingPlanner.scoreboardFrame(spark, winner, scores)
          .coalesce(1).write.mode("overwrite").parquet(a("output"))
      } finally graft.CachedFrames.drain()
    }
  }
}

/** Job 30 — the GENERIC index-family trio (the [[graft.ops.IndexFamily]]
  * contract's CLI face): one Build/Admit/Extend surface over every
  * persisted index family (`corpus`, `vector`, `substr`, `graph`,
  * `lshband`) instead of a hand-rolled job per family. The family-specific
  * jobs that predate the contract remain for their extra flags; these
  * three are what a NEW family gets for free.
  *
  *   runMain graft.cli.BuildIndex  --family lshband --input docs.parquet \
  *     --output /tmp/lx
  *   runMain graft.cli.AdmitIndex  --family lshband --input batch.parquet \
  *     --index /tmp/lx --output /tmp/cands
  *   runMain graft.cli.ExtendIndex --family lshband --index /tmp/lx \
  *     --batch batch.parquet --output /tmp/lx2
  */
object BuildIndex {
  def main(args: Array[String]): Unit = {
    val a = Cli.parse(args)
    Cli.requireFreshOutput(a, "input")
    Cli.withSession("graft-build-index") { spark =>
      import graft.ops.IndexFamily
      val f = IndexFamily.byName(a("family"))
      val corpus = graft.Tables.parallelized(spark.read.parquet(a("input")))
      try IndexFamily.write(a("output"), f.build(corpus), f)
      finally graft.CachedFrames.drain()
    }
  }
}

object AdmitIndex {
  def main(args: Array[String]): Unit = {
    val a = Cli.parse(args)
    Cli.requireFreshOutput(a, "index", "input")
    Cli.withSession("graft-admit-index") { spark =>
      import graft.ops.IndexFamily
      val f = IndexFamily.byName(a("family"))
      val batch = graft.Tables.parallelized(spark.read.parquet(a("input")))
      try f.admit(batch, IndexFamily.read(spark, a("index"), f))
        .write.mode("overwrite").parquet(a("output"))
      finally graft.CachedFrames.drain()
    }
  }
}

object ExtendIndex {
  def main(args: Array[String]): Unit = {
    val a = Cli.parse(args)
    Cli.requireFreshOutput(a, "index", "batch")
    Cli.withSession("graft-extend-index-family") { spark =>
      import graft.ops.IndexFamily
      val f = IndexFamily.byName(a("family"))
      val batch = graft.Tables.parallelized(spark.read.parquet(a("batch")))
      try IndexFamily.write(a("output"),
        f.extend(IndexFamily.read(spark, a("index"), f), batch), f)
      finally graft.CachedFrames.drain()
    }
  }
}

/** Job 30d — generic deletion propagation over the family contract: drop
  * every index row derived from the forgotten ids and write the surviving
  * artifact to a fresh directory. Every family forgets exactly now that
  * the substr artifact is writer-attributed; the one artifact that still
  * CANNOT is a legacy pre-attribution substr index (gram-only rows carry
  * nothing to forget by), and the job fails fast with that reason —
  * rebuild such an index from the surviving corpus instead. `--ids` is a
  * parquet of the family's id column.
  *
  *   runMain graft.cli.ForgetIndex --family lshband --index /tmp/lx \
  *     --ids del.parquet --output /tmp/lx2
  */
object ForgetIndex {
  def main(args: Array[String]): Unit = {
    val a = Cli.parse(args)
    Cli.requireFreshOutput(a, "index", "ids")
    Cli.withSession("graft-forget-index") { spark =>
      import graft.ops.IndexFamily
      val f = IndexFamily.byName(a("family"))
      val ids = spark.read.parquet(a("ids"))
      val tables0 = IndexFamily.read(spark, a("index"), f)
      try {
        f.forget(tables0, ids) match {
          case Some(tables) => IndexFamily.write(a("output"), tables, f)
          case None => throw new IllegalArgumentException(
            s"this '${f.name}' artifact cannot forget exactly (no row " +
              "attribution — a legacy gram-only substr index) — rebuild " +
              "the index from the surviving corpus instead")
        }
        // graph-only: the survivor-edge patch the deletion implies
        // (graphForgetEdgePatch — the forget mirror of AdmitDocs --patch),
        // so a standing edge artifact is maintained through deletions too
        a.get("edgepatch").foreach { p =>
          require(f.name == "graph",
            s"--edgepatch is the graph family's flag, not ${f.name}'s")
          graft.ops.TextOps.graphForgetEdgePatch(ids, tables0("fps"),
              tables0("df"), tables0("sizes"))
            .write.mode("overwrite").parquet(p)
        }
      } finally graft.CachedFrames.drain()
    }
  }
}

/** Job 30e — TOMBSTONE deletion: append the forgotten ids to
  * `<index>/tombstones` and return — the log-structured alternative to
  * [[ForgetIndex]] for a 100 TB artifact, where a GDPR delete should be
  * one tiny parquet append, not a synchronous corpus-scale rewrite.
  * Every generic read ([[graft.ops.IndexFamily.read]]: AdmitIndex,
  * ExtendIndex, ForgetIndex) AND every streaming ingestion loop
  * (the five `EventStreams.*IngestStream`s fold the tombstone ids into
  * their replay anti-join) applies the tombstones lazily, so the
  * deletion is visible to the very next admission; the next job that
  * WRITES the artifact (ExtendIndex, ForgetIndex) emits the filtered
  * tables to a fresh directory with no tombstone dir — extension doubles
  * as compaction. Appending to a family whose artifact cannot forget
  * (a legacy unattributed substr index) fails fast HERE, not at some
  * later read:
  *
  *   runMain graft.cli.TombstoneIndex --family lshband --index /tmp/lx \
  *     --ids del.parquet
  */
object TombstoneIndex {
  def main(args: Array[String]): Unit = {
    val a = Cli.parse(args)
    Cli.withSession("graft-tombstone-index") { spark =>
      import graft.ops.IndexFamily
      val f = IndexFamily.byName(a("family"))
      // fail fast on an un-forgettable artifact: a tombstone nothing can
      // apply would silently turn every later read into an error
      val grams = if (f.name == "substr")
        Some(spark.read.parquet(s"${a("index")}/grams")) else None
      require(f.name != "substr" || grams.get.columns.contains("doc_id"),
        s"this '${f.name}' artifact cannot forget exactly (no row " +
          "attribution — a legacy gram-only substr index); rebuild it " +
          "from the surviving corpus instead of tombstoning")
      spark.read.parquet(a("ids")).select(col(f.idColumn)).distinct()
        .write.mode("append").parquet(s"${a("index")}/tombstones")
    }
  }
}

/** Job 31 — apply an edge PATCH to a standing containment-edge artifact
  * (GraphReport's `edges` output): the admission patch from
  * `AdmitDocs --patch` (retire/update rows), or — with `--forget ids` —
  * the deletion patch from `ForgetIndex --edgepatch` (update/add rows
  * plus the deleted docs' own edges dropped). Closes the artifact loop:
  * a 100 TB edge list is built once and then only ever patched.
  *
  *   runMain graft.cli.PatchEdges --edges /tmp/graph/edges \
  *     --patch /tmp/edgepatch [--forget del.parquet] --output /tmp/edges2
  */
object PatchEdges {
  def main(args: Array[String]): Unit = {
    val a = Cli.parse(args)
    Cli.requireFreshOutput(a, "edges", "patch", "forget")
    Cli.withSession("graft-patch-edges") { spark =>
      val standing = spark.read.parquet(a("edges"))
      val patch = spark.read.parquet(a("patch"))
      val patched = a.get("forget") match {
        case Some(ids) => graft.ops.TextOps.applyGraphForgetPatch(standing,
          spark.read.parquet(ids), patch)
        case None => graft.ops.TextOps.applyGraphEdgePatch(standing, patch)
      }
      patched.write.mode("overwrite").parquet(a("output"))
    }
  }
}
