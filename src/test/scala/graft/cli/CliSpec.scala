package graft.cli

import java.nio.file.Files

import graft.SparkSpec
import org.scalatest.funsuite.AnyFunSuite

/** End-to-end three-job CLI run on the reference test fixture — the same
  * sequence a reference user runs (generate → train → apply). */
class CliSpec extends AnyFunSuite with SparkSpec {

  test("arg parsing: values and bare flags") {
    val a = Cli.parse(Array("--input", "x.csv", "--unlabeled", "--reducers", "7"))
    assert(a === Map("input" -> "x.csv", "unlabeled" -> "true", "reducers" -> "7"))
  }

  test("curate job writes sorted survivor shards matching the q51 gate query") {
    spark // force shared session so the CLI's getOrCreate reuses it
    val dir = Files.createTempDirectory("graft-curate").toString
    CurateCorpus.main(Array(
      "--input", "/root/testdata/sf0.001/documents.parquet",
      "--output", s"$dir/shards", "--shards", "4"))
    val expected = graft.ops.Curation
      .q51CorpusCuration(spark, "/root/testdata/sf0.001")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    graft.CachedFrames.drain()
    val back = spark.read.parquet(s"$dir/shards")
    assert(back.select("doc_id").collect().map(_.getLong(0)).toSet === expected)
    assert(back.columns.toSet === Set("doc_id", "shard", "pos", "quality_score", "text"))
    // the hive partition column spans exactly the requested shard range
    val shards = back.select("shard").distinct().collect().map(_.getInt(0)).toSet
    assert(shards.subsetOf((0 until 4).toSet) && shards.nonEmpty)
  }

  test("mask-corpus rewrites text with q96's masks, keeps every other column") {
    import org.apache.spark.sql.functions.col
    spark // force shared session so the CLI's getOrCreate reuses it
    val sf = "/root/testdata/sf0.001"
    val dir = Files.createTempDirectory("graft-mask").toString
    MaskCorpus.main(Array(
      "--input", s"$sf/documents.parquet", "--output", s"$dir/masked"))
    val back = spark.read.parquet(s"$dir/masked")
    val orig = spark.read.parquet(s"$sf/documents.parquet")
    // schema: original columns + the per-rule counts, text rewritten
    assert(back.columns.toSet === orig.columns.toSet ++
      graft.ops.TextOps.PiiRules.map { case (n, _, _) => s"n_${n}s" })
    assert(back.count() === orig.count())
    // text agrees with the gate query's masked column row-by-row
    val gateMasked = graft.ops.TextOps.piiScanOn(orig)
      .select(col("doc_id"), col("masked")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    back.select(col("doc_id"), col("text")).collect().foreach { r =>
      assert(r.getString(1) === gateMasked(r.getLong(0)), s"doc ${r.getLong(0)}")
    }
  }

  test("dedup-substrings rewrites text with q184's cleaned form, keeps " +
      "every other column, appends the removal accounting") {
    import org.apache.spark.sql.functions.col
    spark // force shared session so the CLI's getOrCreate reuses it
    val sf = "/root/testdata/sf0.001"
    val dir = Files.createTempDirectory("graft-substr").toString
    DedupSubstrings.main(Array(
      "--input", s"$sf/documents.parquet", "--output", s"$dir/clean"))
    val back = spark.read.parquet(s"$dir/clean")
    val orig = spark.read.parquet(s"$sf/documents.parquet")
    assert(back.columns.toSet === orig.columns.toSet ++
      Set("n_substr_removed", "n_substr_spans"))
    assert(back.count() === orig.count())
    // text and accounting agree with the gate query row-by-row
    val gate = graft.ops.TextOps.substrApplyOn(orig)
      .select(col("doc_id"), col("cleaned_text"), col("n_removed"),
        col("n_spans")).collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2), r.getLong(3))))
      .toMap
    graft.CachedFrames.drain()
    back.select(col("doc_id"), col("text"), col("n_substr_removed"),
      col("n_substr_spans")).collect().foreach { r =>
      assert((r.getString(1), r.getLong(2), r.getLong(3)) ===
        gate(r.getLong(0)), s"doc ${r.getLong(0)}")
    }
  }

  test("substr-index round-trip: build on the lower half, admit the upper " +
      "half against the artifact ≡ the full batch plan restricted to it, " +
      "then extend(index(base), batch) ≡ index(base ∪ batch)") {
    import org.apache.spark.sql.functions.col
    spark // force shared session so the CLI's getOrCreate reuses it
    val sf = "/root/testdata/sf0.001"
    val dir = Files.createTempDirectory("graft-gidx").toString
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    docs.filter(col("doc_id") < 250).write.parquet(s"$dir/base")
    docs.filter(col("doc_id") >= 250).write.parquet(s"$dir/delta")
    BuildSubstrIndex.main(Array(
      "--input", s"$dir/base", "--output", s"$dir/gidx"))
    AdmitSubstrings.main(Array(
      "--input", s"$dir/delta", "--index", s"$dir/gidx",
      "--output", s"$dir/plan"))
    val admitted = spark.read.parquet(s"$dir/plan")
      .collect().map(_.toSeq).toSet
    val unionPlan = graft.ops.TextOps.substrDedupOn(docs)
      .filter(col("doc_id") >= 250).collect().map(_.toSeq).toSet
    graft.CachedFrames.drain()
    assert(admitted === unionPlan)
    ExtendSubstrIndex.main(Array(
      "--index", s"$dir/gidx", "--batch", s"$dir/delta",
      "--output", s"$dir/gidx2"))
    val extended = spark.read.parquet(s"$dir/gidx2/grams")
      .collect().map(_.toSeq).toSet
    val full = graft.ops.TextOps.substrIndexPostingsFrame(docs)
      .collect().map(_.toSeq).toSet
    assert(extended === full)
    // LEGACY migration path: a pre-attribution gram-only index extends
    // by name (never the positional 1-vs-2-column union) and STAYS legacy
    graft.ops.TextOps.substrIndexFrame(spark.read.parquet(s"$dir/base"))
      .write.parquet(s"$dir/lgidx/grams")
    ExtendSubstrIndex.main(Array(
      "--index", s"$dir/lgidx", "--batch", s"$dir/delta",
      "--output", s"$dir/lgidx2"))
    val legacyExtended = spark.read.parquet(s"$dir/lgidx2/grams")
    assert(legacyExtended.columns.toSeq === Seq("gram"))
    assert(legacyExtended.collect().map(_.getString(0)).toSet ===
      full.map(_(1)))
    graft.CachedFrames.drain()
  }

  test("train-tokenizer → encode-corpus round-trips: persisted merges " +
      "reproduce the q98 gate counts and keep every input column") {
    import org.apache.spark.sql.functions.col
    spark // force shared session so the CLI's getOrCreate reuses it
    val sf = "/root/testdata/sf0.001"
    val dir = Files.createTempDirectory("graft-tok").toString
    TrainTokenizer.main(Array(
      "--input", s"$sf/documents.parquet", "--output", s"$dir/merges"))
    // the artifact IS q97's merge table
    val artifact = spark.read.parquet(s"$dir/merges")
      .collect().map(r => (r.getInt(0), r.getString(1), r.getLong(2))).toSet
    val q97 = graft.SparkEntry.queries("q97_bpe_train")(spark, sf)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getLong(2))).toSet
    graft.CachedFrames.drain()
    assert(artifact === q97)
    EncodeCorpus.main(Array(
      "--input", s"$sf/documents.parquet", "--merges", s"$dir/merges",
      "--output", s"$dir/encoded"))
    val back = spark.read.parquet(s"$dir/encoded")
    val orig = spark.read.parquet(s"$sf/documents.parquet")
    // only n_bpe is appended; the corpus's own columns (incl. its native
    // n_chars) stay untouched
    assert(back.columns.toSet === orig.columns.toSet + "n_bpe")
    assert(back.select("doc_id", "n_chars").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      === orig.select("doc_id", "n_chars").collect().map(r => (r.getLong(0), r.getLong(1))).toSet)
    // applying the SAVED artifact equals the train+apply gate query
    val gate = graft.SparkEntry.queries("q98_bpe_encode")(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    graft.CachedFrames.drain()
    val got = back.select(col("doc_id"), col("n_bpe"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === gate)
    // re-encoding an already-encoded corpus fails fast on the collision
    val e = intercept[IllegalArgumentException] {
      EncodeCorpus.main(Array(
        "--input", s"$dir/encoded", "--merges", s"$dir/merges",
        "--output", s"$dir/encoded2"))
    }
    assert(e.getMessage.contains("n_bpe"))
  }

  test("ingest-batches is cron-resumable: a second invocation processes only " +
      "newly staged files and catches cross-invocation duplicates") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    spark // force shared session so the CLI's getOrCreate reuses it
    val root = Files.createTempDirectory("graft-ingest-cli").toString
    val (inDir, idx, ver, ckpt) =
      (s"$root/in", s"$root/idx", s"$root/verdicts", s"$root/ckpt")
    // seed index from a 1-doc corpus
    val corpus = Seq((100L, "zeta eta theta iota kappa")).toDF("doc_id", "text")
    val (d0, b0) = graft.ops.Curation.corpusIndexFrames(corpus)
    d0.write.parquet(s"$idx/digests")
    b0.write.parquet(s"$idx/bands")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(inDir))
    // invocation 1: one staged batch
    Seq((1L, "alpha beta gamma delta epsilon"), (2L, "zeta eta theta iota kappa"))
      .toDF("doc_id", "text").coalesce(1).write.mode("append").parquet(inDir)
    IngestBatches.main(Array("--input", inDir, "--index", idx,
      "--verdicts", ver, "--checkpoint", ckpt))
    // invocation 2 (cron tick): a NEW file containing a copy of doc 1 —
    // which invocation 1 admitted into the index
    Seq((10L, "alpha beta gamma delta epsilon"), (11L, "omega psi chi phi upsilon"))
      .toDF("doc_id", "text").coalesce(1).write.mode("append").parquet(inDir)
    IngestBatches.main(Array("--input", inDir, "--index", idx,
      "--verdicts", ver, "--checkpoint", ckpt))
    val verdicts = spark.read.parquet(ver).collect()
      .map(r => r.getLong(0) -> ((r.getString(1),
        if (r.isNullAt(2)) -1L else r.getLong(2)))).toMap
    // each doc judged exactly once across both invocations
    assert(verdicts.keySet === Set(1L, 2L, 10L, 11L))
    assert(verdicts(1L)._1 === "new")
    assert(verdicts(2L) === (("dup_exact", 100L)))
    assert(verdicts(10L) === (("dup_exact", 1L))) // caught ACROSS invocations
    assert(verdicts(11L)._1 === "new")
    // the index grew by exactly the admitted docs
    assert(spark.read.parquet(s"$idx/digests").select("cid").as[Long]
      .collect().toSet === Set(100L, 1L, 11L))
    // and the checkpoint prevented reprocessing: batch dirs 0 and 1 only
    val batchDirs = new java.io.File(ver).listFiles()
      .filter(_.isDirectory).map(_.getName).toSet
    assert(batchDirs === Set("batch=0", "batch=1"))
  }

  test("ingest-batches bootstraps from NOTHING: no seeded index, the first " +
      "wave creates it, the second probes it") {
    import spark.implicits._
    spark // force shared session so the CLI's getOrCreate reuses it
    val root = Files.createTempDirectory("graft-ingest-boot").toString
    val (inDir, idx, ver, ckpt) =
      (s"$root/in", s"$root/idx", s"$root/verdicts", s"$root/ckpt")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(inDir))
    // NO corpusIndexFrames seeding — idx/ does not exist at all
    Seq((1L, "alpha beta gamma delta epsilon"), (2L, "omega psi chi phi upsilon"))
      .toDF("doc_id", "text").coalesce(1).write.mode("append").parquet(inDir)
    IngestBatches.main(Array("--input", inDir, "--index", idx,
      "--verdicts", ver, "--checkpoint", ckpt))
    Seq((10L, "alpha beta gamma delta epsilon")) // copy of wave-1 doc 1
      .toDF("doc_id", "text").coalesce(1).write.mode("append").parquet(inDir)
    IngestBatches.main(Array("--input", inDir, "--index", idx,
      "--verdicts", ver, "--checkpoint", ckpt))
    val verdicts = spark.read.parquet(ver).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(verdicts === Map(1L -> "new", 2L -> "new", 10L -> "dup_exact"))
    assert(spark.read.parquet(s"$idx/digests").select("cid").as[Long]
      .collect().toSet === Set(1L, 2L))
  }

  test("ingest-index (generic, family=vector) is cron-resumable: a second " +
      "invocation processes only newly staged files, catches a copy of an " +
      "invocation-1 vector via the grown cells, and bootstraps the " +
      "codebook from nothing; unknown families and misplaced --patches " +
      "fail fast") {
    import org.apache.spark.sql.functions.col
    spark // force shared session so the CLI's getOrCreate reuses it
    val root = Files.createTempDirectory("graft-ingest-vec").toString
    val (inDir, idx, ver, ckpt) =
      (s"$root/in", s"$root/vx", s"$root/verdicts", s"$root/ckpt")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(inDir))
    val raw = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    // invocation 1: one staged wave — NO seeded index (bootstrap)
    raw.filter(col("vec_id") < 40)
      .coalesce(1).write.mode("append").parquet(inDir)
    IngestIndex.main(Array("--family", "vector", "--input", inDir,
      "--index", idx, "--output", ver, "--checkpoint", ckpt))
    // invocation 2 (cron tick): a new wave containing an exact COPY of a
    // wave-1 vector under a fresh id
    raw.filter(col("vec_id") >= 40 && col("vec_id") < 50)
      .unionByName(raw.filter(col("vec_id") === 7L)
        .select((col("vec_id") + 100000L).as("vec_id"), col("embedding")))
      .coalesce(1).write.mode("append").parquet(inDir)
    IngestIndex.main(Array("--family", "vector", "--input", inDir,
      "--index", idx, "--output", ver, "--checkpoint", ckpt))
    val verdicts = spark.read.parquet(ver).collect()
      .map(r => r.getLong(0) -> ((r.getString(1),
        if (r.isNullAt(2)) -1L else r.getLong(2)))).toMap
    // each vector judged exactly once across both invocations
    assert(verdicts.size === 51)
    assert((0L until 40L).forall(verdicts(_) === (("new", -1L))))
    assert(verdicts(100007L) === (("dup_semantic", 7L))) // across invocations
    // checkpoint memory: batch dirs 0 and 1 only
    assert(new java.io.File(ver).listFiles().filter(_.isDirectory)
      .map(_.getName).toSet === Set("batch=0", "batch=1"))
    // the frozen codebook persisted at bootstrap
    assert(spark.read.parquet(s"$idx/codebook").count() === 1L)
    assertThrows[IllegalArgumentException] {
      IngestIndex.main(Array("--family", "nope", "--input", inDir,
        "--index", idx, "--output", ver, "--checkpoint", ckpt))
    }
    val e = intercept[IllegalArgumentException] {
      IngestIndex.main(Array("--family", "vector", "--input", inDir,
        "--index", idx, "--output", ver, "--checkpoint", ckpt,
        "--patches", s"$root/patches"))
    }
    assert(e.getMessage.contains("graph family's flag"))
  }

  test("artifact jobs refuse --output equal to a lazily-read input dir " +
      "(normalized: trailing slashes don't evade the guard)") {
    // fires BEFORE any session/IO — an in-place extend would make Spark
    // overwrite parquet files it is still scheduled to read
    val e = intercept[IllegalArgumentException] {
      ExtendIndex.main(Array("--family", "lshband", "--index", "/tmp/lx",
        "--batch", "/tmp/b", "--output", "/tmp/lx/"))
    }
    assert(e.getMessage.contains("must differ"))
    val e2 = intercept[IllegalArgumentException] {
      ForgetIndex.main(Array("--family", "graph", "--index", "/tmp/gx/",
        "--ids", "/tmp/del", "--output", "/tmp/gx"))
    }
    assert(e2.getMessage.contains("must differ"))
  }

  test("build-index → admit round-trips match the q71 gate query exactly") {
    import org.apache.spark.sql.functions.col
    spark // force shared session so the CLI's getOrCreate reuses it
    val sf = "/root/testdata/sf0.001"
    val dir = Files.createTempDirectory("graft-index").toString
    // stage the q71 split as standalone parquet inputs: src0 is the
    // arriving batch, everything else the standing corpus
    val raw = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), col("text"), col("source"))
    raw.filter(col("source") =!= "src0").drop("source")
      .write.parquet(s"$dir/corpus")
    raw.filter(col("source") === "src0").drop("source")
      .write.parquet(s"$dir/batch")
    BuildCorpusIndex.main(Array(
      "--input", s"$dir/corpus", "--output", s"$dir/idx"))
    // the persisted index has the declared layout
    assert(spark.read.parquet(s"$dir/idx/digests").columns.toSet === Set("ck", "cid"))
    assert(spark.read.parquet(s"$dir/idx/bands").columns.toSet ===
      Set("t", "bucket", "simhash", "cid"))
    AdmitBatch.main(Array(
      "--input", s"$dir/batch", "--index", s"$dir/idx",
      "--output", s"$dir/verdicts"))
    def toMapped(rows: Array[org.apache.spark.sql.Row]) = rows
      .map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) -1L else r.getLong(2))).toSet
    val got = toMapped(spark.read.parquet(s"$dir/verdicts")
      .select("doc_id", "verdict", "match_id").collect())
    val expected = toMapped(graft.ops.Curation.q71IncrementalDedup(spark, sf)
      .select("doc_id", "verdict", "match_id").collect())
    graft.CachedFrames.drain()
    assert(got === expected)
    assert(got.nonEmpty)
  }

  test("build-vector-index → admit-vectors round-trips match the q78 gate query exactly") {
    import org.apache.spark.sql.functions.col
    spark // force shared session so the CLI's getOrCreate reuses it
    val sf = "/root/testdata/sf0.001"
    val dir = Files.createTempDirectory("graft-vindex").toString
    // stage the q78 split as standalone parquet inputs: vec_id < bound is
    // the arriving batch, the rest the standing corpus
    val bound = graft.ops.Embeddings.AdmitBatchBound
    val raw = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    raw.filter(col("vec_id") >= bound).write.parquet(s"$dir/corpus")
    raw.filter(col("vec_id") < bound).write.parquet(s"$dir/batch")
    BuildVectorIndex.main(Array(
      "--input", s"$dir/corpus", "--output", s"$dir/idx"))
    // the persisted index has the declared layout
    assert(spark.read.parquet(s"$dir/idx/codebook").columns.toSet === Set("cents"))
    assert(spark.read.parquet(s"$dir/idx/cells").columns.toSet ===
      Set("cell", "entries"))
    AdmitVectors.main(Array(
      "--input", s"$dir/batch", "--index", s"$dir/idx",
      "--output", s"$dir/verdicts"))
    // best_cos compares EXACTLY: both paths max identical IEEE cosines
    def toMapped(rows: Array[org.apache.spark.sql.Row]) = rows
      .map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) -1L else r.getLong(2),
        if (r.isNullAt(3)) Double.NaN else r.getDouble(3))).toSet
    val got = toMapped(spark.read.parquet(s"$dir/verdicts")
      .select("vec_id", "verdict", "match_id", "best_cos").collect())
    val expected = toMapped(graft.ops.Embeddings.q78EmbeddingAdmission(spark, sf)
      .select("vec_id", "verdict", "match_id", "best_cos").collect())
    graft.CachedFrames.drain()
    assert(got === expected)
    assert(got.size === bound && got.exists(_._2 == "dup_semantic"))
  }

  test("forget removes a document from both admission indexes: re-admission " +
    "no longer matches it") {
    import org.apache.spark.sql.functions.col
    spark // force shared session so the CLI's getOrCreate reuses it
    val sf = "/root/testdata/sf0.001"
    val dir = Files.createTempDirectory("graft-forget").toString

    // TEXT index: find a batch doc whose verdict is dup_exact, forget its
    // matched corpus doc, re-admit — the exact match must be gone
    val raw = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), col("text"), col("source"))
    raw.filter(col("source") =!= "src0").drop("source")
      .write.parquet(s"$dir/corpus")
    raw.filter(col("source") === "src0").drop("source")
      .write.parquet(s"$dir/batch")
    BuildCorpusIndex.main(Array(
      "--input", s"$dir/corpus", "--output", s"$dir/idx"))
    AdmitBatch.main(Array(
      "--input", s"$dir/batch", "--index", s"$dir/idx",
      "--output", s"$dir/before"))
    val before = spark.read.parquet(s"$dir/before")
      .filter(col("verdict") =!= "new").select("doc_id", "match_id").collect()
    assert(before.nonEmpty, "need at least one dup verdict to forget")
    val (bid, forgot) = (before.head.getLong(0), before.head.getLong(1))
    spark.range(1).select(org.apache.spark.sql.functions.lit(forgot).as("doc_id"))
      .write.parquet(s"$dir/ids")
    ForgetDocs.main(Array(
      "--index", s"$dir/idx", "--ids", s"$dir/ids", "--output", s"$dir/idx2"))
    assert(spark.read.parquet(s"$dir/idx2/digests")
      .filter(col("cid") === forgot).count() === 0)
    assert(spark.read.parquet(s"$dir/idx2/bands")
      .filter(col("cid") === forgot).count() === 0)
    AdmitBatch.main(Array(
      "--input", s"$dir/batch", "--index", s"$dir/idx2",
      "--output", s"$dir/after"))
    val after = spark.read.parquet(s"$dir/after")
      .filter(col("doc_id") === bid).collect().head
    assert(after.isNullAt(2) || after.getLong(2) != forgot,
      "re-admission still matches the forgotten doc")

    // VECTOR index: same protocol on a dup_semantic match
    val vraw = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val bound = graft.ops.Embeddings.AdmitBatchBound
    vraw.filter(col("vec_id") >= bound).write.parquet(s"$dir/vcorpus")
    vraw.filter(col("vec_id") < bound).write.parquet(s"$dir/vbatch")
    BuildVectorIndex.main(Array(
      "--input", s"$dir/vcorpus", "--output", s"$dir/vidx"))
    AdmitVectors.main(Array(
      "--input", s"$dir/vbatch", "--index", s"$dir/vidx",
      "--output", s"$dir/vbefore"))
    val vbefore = spark.read.parquet(s"$dir/vbefore")
      .filter(col("verdict") === "dup_semantic").select("vec_id", "match_id").collect()
    assert(vbefore.nonEmpty, "need at least one semantic dup to forget")
    val (vbid, vforgot) = (vbefore.head.getLong(0), vbefore.head.getLong(1))
    spark.range(1).select(org.apache.spark.sql.functions.lit(vforgot).as("vec_id"))
      .write.parquet(s"$dir/vids")
    ForgetVectors.main(Array(
      "--index", s"$dir/vidx", "--ids", s"$dir/vids", "--output", s"$dir/vidx2"))
    assert(spark.read.parquet(s"$dir/vidx2/cells")
      .selectExpr("explode(entries) AS e").filter(col("e.cid") === vforgot)
      .count() === 0)
    AdmitVectors.main(Array(
      "--input", s"$dir/vbatch", "--index", s"$dir/vidx2",
      "--output", s"$dir/vafter"))
    val vafter = spark.read.parquet(s"$dir/vafter")
      .filter(col("vec_id") === vbid).collect().head
    assert(vafter.isNullAt(2) || vafter.getLong(2) != vforgot,
      "re-admission still matches the forgotten vector")
    graft.CachedFrames.drain()
  }

  test("interleaved forget→admit: a just-forgotten doc's near-copy re-admits " +
    "as new on both indexes (GDPR deletion propagation)") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    spark // force shared session so the CLI's getOrCreate reuses it
    val dir = Files.createTempDirectory("graft-interleave").toString

    // TEXT: doc 2 is a token-permuted near-copy of corpus doc 11 (the
    // CurationSpec incremental fixture). Admitted against the live index
    // it must block as dup_near; the instant 11 is forgotten, the SAME
    // batch must re-admit as new — a stale band/digest entry would keep
    // blocking content whose source document no longer exists
    Seq((10L, "alpha beta gamma delta epsilon zeta"),
        (11L, "one two three four five six seven"))
      .toDF("doc_id", "text").write.parquet(s"$dir/corpus")
    Seq((2L, "two one three four five six seven six"))
      .toDF("doc_id", "text").write.parquet(s"$dir/batch")
    BuildCorpusIndex.main(Array(
      "--input", s"$dir/corpus", "--output", s"$dir/idx"))
    AdmitBatch.main(Array(
      "--input", s"$dir/batch", "--index", s"$dir/idx",
      "--output", s"$dir/before"))
    val b = spark.read.parquet(s"$dir/before")
      .select("doc_id", "verdict", "match_id").collect().head
    assert(b.getString(1) === "dup_near" && b.getLong(2) === 11L, b.toString)
    Seq(11L).toDF("doc_id").write.parquet(s"$dir/ids")
    ForgetDocs.main(Array(
      "--index", s"$dir/idx", "--ids", s"$dir/ids", "--output", s"$dir/idx2"))
    AdmitBatch.main(Array(
      "--input", s"$dir/batch", "--index", s"$dir/idx2",
      "--output", s"$dir/after"))
    val a = spark.read.parquet(s"$dir/after")
      .select("doc_id", "verdict", "match_id").collect().head
    assert(a.getString(1) === "new" && a.isNullAt(2), a.toString)

    // VECTOR: batch vector 1 is a scaled copy of corpus vector 10 (cosine
    // 1.0), orthogonal to every other corpus vector (one-hot dims), so its
    // verdict is decided solely by whether 10 is still in the index
    def unit(i: Int, scale: Float): Array[Float] = {
      val v = Array.fill(64)(0f); v(i) = scale; v
    }
    (0 until 8).map(k => ((10 + k).toLong, unit(k, 1f)))
      .toDF("vec_id", "embedding").write.parquet(s"$dir/vcorpus")
    Seq((1L, unit(0, 0.5f)))
      .toDF("vec_id", "embedding").write.parquet(s"$dir/vbatch")
    BuildVectorIndex.main(Array(
      "--input", s"$dir/vcorpus", "--output", s"$dir/vidx"))
    AdmitVectors.main(Array(
      "--input", s"$dir/vbatch", "--index", s"$dir/vidx",
      "--output", s"$dir/vbefore"))
    val vb = spark.read.parquet(s"$dir/vbefore")
      .select("vec_id", "verdict", "match_id").collect().head
    assert(vb.getString(1) === "dup_semantic" && vb.getLong(2) === 10L, vb.toString)
    Seq(10L).toDF("vec_id").write.parquet(s"$dir/vids")
    ForgetVectors.main(Array(
      "--index", s"$dir/vidx", "--ids", s"$dir/vids", "--output", s"$dir/vidx2"))
    AdmitVectors.main(Array(
      "--input", s"$dir/vbatch", "--index", s"$dir/vidx2",
      "--output", s"$dir/vafter"))
    val va = spark.read.parquet(s"$dir/vafter")
      .select("vec_id", "verdict", "match_id").collect().head
    assert(va.getString(1) === "new" && va.isNullAt(2), va.toString)
    graft.CachedFrames.drain()
  }

  test("build-vector-index --rounds: a converged codebook is a Lloyd fixed " +
    "point and the trained index admits a corpus member's copy as dup_semantic") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    spark // force shared session so the CLI's getOrCreate reuses it
    val dir = Files.createTempDirectory("graft-trained-vidx").toString
    def unit(i: Int, scale: Float): Array[Float] = {
      val v = Array.fill(64)(0f); v(i) = scale; v
    }
    (0 until 8).map(k => ((10 + k).toLong, unit(k, 1f)))
      .toDF("vec_id", "embedding").write.parquet(s"$dir/corpus")
    Seq((1L, unit(0, 0.5f)))
      .toDF("vec_id", "embedding").write.parquet(s"$dir/batch")
    BuildVectorIndex.main(Array(
      "--input", s"$dir/corpus", "--output", s"$dir/seed"))
    BuildVectorIndex.main(Array(
      "--input", s"$dir/corpus", "--output", s"$dir/trained", "--rounds", "3"))
    // orthogonal one-hot cells are already converged, so further Lloyd
    // rounds must be a FIXED POINT — byte-identical codebooks (that
    // training moves centroids on real data is pinned by EmbeddingsSpec's
    // q89 distortion test, where ds(3) < ds(1))
    val seedCents = spark.read.parquet(s"$dir/seed/codebook").head().toSeq
    val trainedCents = spark.read.parquet(s"$dir/trained/codebook").head().toSeq
    assert(seedCents === trainedCents, "Lloyd moved an already-converged codebook")
    // and admission semantics hold on the trained index
    AdmitVectors.main(Array(
      "--input", s"$dir/batch", "--index", s"$dir/trained",
      "--output", s"$dir/verdicts"))
    val v = spark.read.parquet(s"$dir/verdicts")
      .select("vec_id", "verdict", "match_id", "best_cos").collect().head
    assert(v.getString(1) === "dup_semantic" && v.getLong(2) === 10L)
    assert(v.getDouble(3) === 1.0) // scaled copy: cosine exactly 1
    graft.CachedFrames.drain()
  }

  test("extend closes the incremental loop: an admitted batch's new docs " +
    "and vectors join the index and catch later re-ingests") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    spark // force shared session so the CLI's getOrCreate reuses it
    val dir = Files.createTempDirectory("graft-extend").toString

    // TEXT: doc 2 near-matches corpus 11 (blocked); doc 3 is new. After
    // Extend, doc 3's digest is in the index: a REPLAY of the same batch
    // stays verdict-stable (self-match exclusion — the same doc_id never
    // matches its own rows), while a re-ingest of the same text under a
    // FRESH id is caught as dup_exact of 3
    Seq((10L, "alpha beta gamma delta epsilon zeta"),
        (11L, "one two three four five six seven"))
      .toDF("doc_id", "text").write.parquet(s"$dir/corpus")
    Seq((2L, "two one three four five six seven six"),
        (3L, "totally disjoint vocabulary words here"))
      .toDF("doc_id", "text").write.parquet(s"$dir/batch")
    BuildCorpusIndex.main(Array(
      "--input", s"$dir/corpus", "--output", s"$dir/idx"))
    AdmitBatch.main(Array(
      "--input", s"$dir/batch", "--index", s"$dir/idx",
      "--output", s"$dir/verdicts"))
    def verdictsOf(path: String, idCol: String = "doc_id") =
      spark.read.parquet(path)
        .select(idCol, "verdict", "match_id").collect()
        .map(r => r.getLong(0) ->
          ((r.getString(1), if (r.isNullAt(2)) -1L else r.getLong(2)))).toMap
    val before = verdictsOf(s"$dir/verdicts")
    assert(before(2L) === (("dup_near", 11L)) && before(3L) === (("new", -1L)))
    ExtendCorpusIndex.main(Array(
      "--input", s"$dir/batch", "--verdicts", s"$dir/verdicts",
      "--index", s"$dir/idx"))
    AdmitBatch.main(Array(
      "--input", s"$dir/batch", "--index", s"$dir/idx",
      "--output", s"$dir/verdicts2"))
    val after = verdictsOf(s"$dir/verdicts2")
    assert(after(3L) === (("new", -1L)), "replayed doc must stay verdict-stable")
    assert(after(2L) === (("dup_near", 11L)), "blocked doc must stay blocked")
    // the index DID grow: the same text under a fresh id is caught
    Seq((30L, "totally disjoint vocabulary words here"))
      .toDF("doc_id", "text").write.parquet(s"$dir/reingest")
    AdmitBatch.main(Array(
      "--input", s"$dir/reingest", "--index", s"$dir/idx",
      "--output", s"$dir/verdicts3"))
    assert(verdictsOf(s"$dir/verdicts3")(30L) === (("dup_exact", 3L)),
      "re-ingested text must match the extended index")

    // VECTOR: vec 1 is a scaled copy of corpus 10 (blocked); vec 2 lives
    // on an untouched dimension (new). After Extend, vec 2 self-matches at
    // cosine 1; vec 1 keeps its original match
    def unit(i: Int, scale: Float): Array[Float] = {
      val v = Array.fill(64)(0f); v(i) = scale; v
    }
    (0 until 8).map(k => ((10 + k).toLong, unit(k, 1f)))
      .toDF("vec_id", "embedding").write.parquet(s"$dir/vcorpus")
    Seq((1L, unit(0, 0.5f)), (2L, unit(9, 1f)))
      .toDF("vec_id", "embedding").write.parquet(s"$dir/vbatch")
    BuildVectorIndex.main(Array(
      "--input", s"$dir/vcorpus", "--output", s"$dir/vidx"))
    AdmitVectors.main(Array(
      "--input", s"$dir/vbatch", "--index", s"$dir/vidx",
      "--output", s"$dir/vverdicts"))
    val vbefore = verdictsOf(s"$dir/vverdicts", "vec_id")
    assert(vbefore(1L) === (("dup_semantic", 10L)) && vbefore(2L) === (("new", -1L)))
    ExtendVectorIndex.main(Array(
      "--input", s"$dir/vbatch", "--verdicts", s"$dir/vverdicts",
      "--index", s"$dir/vidx", "--output", s"$dir/vidx2"))
    AdmitVectors.main(Array(
      "--input", s"$dir/vbatch", "--index", s"$dir/vidx2",
      "--output", s"$dir/vverdicts2"))
    val vafter = verdictsOf(s"$dir/vverdicts2", "vec_id")
    assert(vafter(2L) === (("dup_semantic", 2L)), "extended vec must self-match")
    assert(vafter(1L) === (("dup_semantic", 10L)))
    // and the self-match is exact: best_cos with itself is 1.0
    val selfCos = spark.read.parquet(s"$dir/vverdicts2")
      .filter(col("vec_id") === 2L).select("best_cos").head().getDouble(0)
    assert(selfCos === 1.0)
    graft.CachedFrames.drain()
  }

  test("compact collapses a retried append's duplicate rows without changing " +
    "any verdict") {
    import spark.implicits._
    spark // force shared session so the CLI's getOrCreate reuses it
    val dir = Files.createTempDirectory("graft-compact").toString
    Seq((10L, "alpha beta gamma delta epsilon zeta"))
      .toDF("doc_id", "text").write.parquet(s"$dir/corpus")
    Seq((3L, "totally disjoint vocabulary words here"))
      .toDF("doc_id", "text").write.parquet(s"$dir/batch")
    BuildCorpusIndex.main(Array(
      "--input", s"$dir/corpus", "--output", s"$dir/idx"))
    AdmitBatch.main(Array(
      "--input", s"$dir/batch", "--index", s"$dir/idx",
      "--output", s"$dir/verdicts"))
    // a retried append: the same extension lands twice
    (1 to 2).foreach { _ =>
      ExtendCorpusIndex.main(Array(
        "--input", s"$dir/batch", "--verdicts", s"$dir/verdicts",
        "--index", s"$dir/idx"))
    }
    val dup = spark.read.parquet(s"$dir/idx/digests")
    assert(dup.count() > dup.distinct().count(), "retry did not duplicate rows")
    CompactCorpusIndex.main(Array(
      "--index", s"$dir/idx", "--output", s"$dir/idx2"))
    val compacted = spark.read.parquet(s"$dir/idx2/digests")
    assert(compacted.count() === compacted.distinct().count())
    // verdicts are invariant under both duplication and compaction
    def verdicts(index: String, out: String) = {
      AdmitBatch.main(Array(
        "--input", s"$dir/batch", "--index", index, "--output", out))
      spark.read.parquet(out).select("doc_id", "verdict", "match_id").collect()
        .map(r => (r.getLong(0), r.getString(1),
          if (r.isNullAt(2)) -1L else r.getLong(2))).toSet
    }
    val withDups = verdicts(s"$dir/idx", s"$dir/v1")
    val afterCompact = verdicts(s"$dir/idx2", s"$dir/v2")
    assert(withDups === afterCompact)
    // self-match exclusion keeps the replayed doc verdict-stable through
    // duplication AND compaction alike
    assert(afterCompact === Set((3L, "new", -1L)))
    graft.CachedFrames.drain()
  }

  test("plan-epoch writes one sorted file per shard in training order") {
    import org.apache.spark.sql.functions.col
    spark // force shared session so the CLI's getOrCreate reuses it
    val dir = Files.createTempDirectory("graft-epoch").toString
    spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .write.parquet(s"$dir/docs")
    PlanEpoch.main(Array(
      "--input", s"$dir/docs", "--output", s"$dir/epoch", "--shards", "4"))
    val back = spark.read.parquet(s"$dir/epoch")
    assert(back.columns.toSet ===
      Set("source", "doc_id", "rep", "n_tokens", "seq_id", "offset", "shard"))
    val shards = back.select("shard").distinct().collect().map(_.getInt(0)).toSet
    assert(shards.subsetOf((0 until 4).toSet) && shards.nonEmpty)
    // one parquet file per shard dir, rows already in (source, seq_id,
    // offset) order — a TOTAL order (seq/offset restart per source), so
    // re-runs are byte-identical
    for (s <- shards) {
      val files = new java.io.File(s"$dir/epoch/shard=$s")
        .listFiles().filter(_.getName.endsWith(".parquet"))
      assert(files.length === 1, s"shard $s")
      val inOrder = spark.read.parquet(files.head.getPath)
        .select("source", "seq_id", "offset").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      assert(inOrder.sameElements(inOrder.sortBy(identity)), s"shard $s order")
    }
    graft.CachedFrames.drain()
  }

  test("generate → train → apply round-trips on the Febrl test fixture") {
    spark // force shared session so the CLI's getOrCreate reuses it
    val dir = Files.createTempDirectory("graft-cli").toString
    GenerateLabeledPoints.main(Array(
      "--input", graft.ReferenceFixtures.csv("test.csv"),
      "--output", s"$dir/pairs", "--reducers", "8"))
    TrainDupClassifier.main(Array(
      "--input", s"$dir/pairs", "--model", s"$dir/model", "--maxIter", "5"))
    ApplyDupClassifier.main(Array(
      "--input", s"$dir/pairs", "--model", s"$dir/model",
      "--output", s"$dir/scored"))

    val pairs = Cli.readPairs(spark, s"$dir/pairs")
    assert(pairs.count() === 129718L)
    assert(pairs.columns.length === 3 + 14)

    val scored = spark.read.csv(s"$dir/scored")
    assert(scored.count() === 129718L)
    val preds = scored.collect().map(_.getString(1).toDouble)
    assert(preds.forall(p => p == 0.0 || p == 1.0))
    assert(preds.exists(_ == 1.0), "no predicted duplicates at all")
  }

  test("generate: --reducers sets only k — same pair file with and without " +
    "it on a planted hot block, and bad values are still rejected") {
    spark // force shared session so the CLI's getOrCreate reuses it
    val dir = Files.createTempDirectory("graft-cli-gen")
    // Febrl-style records in families of three (rec-<f>-org, rec-<f>-dup-<d>);
    // 60% have a missing state, so the "" state block carries ~73% of the work
    val states = Seq("nsw", "vic", "qld", "wa")
    val names = Seq("alice", "bob", "carol", "dave", "erin", "frank", "grace")
    val rows = (0 until 120).map { i =>
      val id = s"rec-${i / 3}-" + (if (i % 3 == 0) "org" else s"dup-${i % 3}")
      val state = if (i % 5 < 3) "" else states(i % 4)
      Seq(id, names(i % 7), names((i / 3) % 7) + "son", s"${i % 40}",
        s"${i / 3} main st", "", "suburb" + (i % 9), s"${2000 + i % 50}",
        state, s"${19500101 + i}", s"${20 + i % 60}", s"0${400000000 + i}",
        s"${1000000 + i / 3}", s"${(i * 7) % 10}").mkString(",")
    }
    val csv = dir.resolve("records.csv")
    Files.write(csv, (graft.ml.Febrl.columns.mkString(",") +: rows).mkString("\n").getBytes)
    val recs = graft.ml.Febrl.read(spark, csv.toString)
    assert(graft.dedup.DedupStrategy.maxBlockShare(recs, graft.ml.Febrl.config) > 0.5,
      "the fixture must put the chooser on the triangle plan")

    def generate(out: String, extra: String*): Seq[String] = {
      GenerateLabeledPoints.main(Array("--input", csv.toString,
        "--output", dir.resolve(out).toString) ++ extra)
      spark.read.textFile(dir.resolve(out).toString).collect().toSeq.sorted
    }
    val byDefault = generate("default")
    val withK = generate("k3", "--reducers", "3")
    // exactly-once oracle: record pairs sharing a blocking number or a state
    val keys = rows.map(_.split(",", -1)).map(t => (t(13), t(8)))
    val expected = (for (i <- keys.indices; j <- i + 1 until keys.size
      if keys(i)._1 == keys(j)._1 || keys(i)._2 == keys(j)._2) yield 1).size
    assert(byDefault.size === expected)
    assert(withK === byDefault)

    for (bad <- Seq("0", "x")) {
      val e = intercept[IllegalArgumentException] {
        GenerateLabeledPoints.main(Array("--input", csv.toString,
          "--output", dir.resolve(s"bad-$bad").toString, "--reducers", bad))
      }
      assert(e.getMessage.contains("--reducers must be"), e.getMessage)
    }
  }

  test("profile-corpus job writes the q105 stats for an arbitrary parquet input, --approx switches face") {
    import org.apache.spark.sql.functions.col
    spark // force shared session so the CLI's getOrCreate reuses it
    val sf = "/root/testdata/sf0.001"
    val dir = Files.createTempDirectory("graft-profile").toString
    ProfileCorpus.main(Array(
      "--input", s"$sf/documents.parquet", "--output", s"$dir/prof"))
    val back = spark.read.parquet(s"$dir/prof")
    val exact = graft.ops.Profiling.profileExactOn(
      spark.read.parquet(s"$sf/documents.parquet"))
    assert(back.collect().map(_.toString).sorted.toSeq ===
      exact.collect().map(_.toString).sorted.toSeq)
    // the lineitem table exercises a schema q105 never sees (16 columns,
    // dates and decimals) — the string-cast plumbing must not care
    // the skew-report sibling drives the same generic path from the CLI
    SkewReport.main(Array(
      "--input", s"$sf/events.parquet", "--key", "user_id",
      "--output", s"$dir/skew"))
    val skew = spark.read.parquet(s"$dir/skew")
    assert(skew.count() === 10L)
    assert(skew.columns.toSeq ===
      Seq("rk", "key", "n", "share", "total", "n_keys", "n_null"))
    intercept[IllegalArgumentException] {
      SkewReport.main(Array(
        "--input", s"$sf/events.parquet", "--key", "no_such_col",
        "--output", s"$dir/skew2"))
    }
    ProfileCorpus.main(Array(
      "--input", s"$sf/lineitem.parquet", "--output", s"$dir/prof_li",
      "--approx"))
    val li = spark.read.parquet(s"$dir/prof_li")
    val nLi = spark.read.parquet(s"$sf/lineitem.parquet").count()
    assert(li.columns.contains("n_distinct_approx"))
    assert(li.select(col("col_name")).count() ===
      spark.read.parquet(s"$sf/lineitem.parquet").columns.length.toLong)
    assert(li.collect().forall(_.getLong(1) == nLi))
  }

  test("bloom jobs: build→probe matches the q114 probe columns, and " +
    "extend(A, B) is cell-equal to build(A ∪ B) — the OR-merge law") {
    import org.apache.spark.sql.functions.col
    val sf = "/root/testdata/sf0.001"
    val dir = java.nio.file.Files.createTempDirectory("cli-bloom").toString
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), col("text"))
    // the q114 demo split: bench = doc_id % 100 = 0
    docs.filter(col("doc_id") % 100 === 0)
      .write.mode("overwrite").parquet(s"$dir/bench")
    docs.filter(col("doc_id") % 100 =!= 0)
      .write.mode("overwrite").parquet(s"$dir/corpus")
    BuildBloomFilter.main(Array("--input", s"$dir/bench", "--output", s"$dir/bloom"))
    val bits = spark.read.parquet(s"$dir/bloom")
    assert(bits.count() <= graft.ops.TextOps.BloomBuckets.toLong)
    ProbeBloom.main(Array("--input", s"$dir/corpus", "--bloom", s"$dir/bloom",
      "--output", s"$dir/verdicts"))
    def keyed(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getBoolean(3)))).toMap
    val got = keyed(spark.read.parquet(s"$dir/verdicts")
      .select("doc_id", "n_grams", "n_bloom_hits", "bloom_flag"))
    val expected = keyed(graft.ops.TextOps.q114BloomDecontam(spark, sf)
      .select("doc_id", "n_grams", "n_bloom_hits", "bloom_flag"))
    graft.CachedFrames.drain()
    // probe covers EVERY input row; q114's gate roster is the >= n-gram
    // slice — rows beyond it must be the trivially-clean short docs
    assert(got.size === spark.read.parquet(s"$dir/corpus").count())
    expected.foreach { case (k, v) => assert(got(k) === v, s"doc $k") }
    (got.keySet -- expected.keySet)
      .foreach(k => assert(got(k) === ((0L, 0L, false)), s"short doc $k"))
    // OR-merge law: extending the bench filter with a second suite equals
    // building one filter over the union of both suites
    val suiteB = docs.filter(col("doc_id") % 100 === 1)
    suiteB.write.mode("overwrite").parquet(s"$dir/benchB")
    ExtendBloomFilter.main(Array("--input", s"$dir/benchB",
      "--bloom", s"$dir/bloom", "--output", s"$dir/bloom2"))
    docs.filter(col("doc_id") % 100 === 0).unionByName(suiteB)
      .write.mode("overwrite").parquet(s"$dir/benchAB")
    BuildBloomFilter.main(Array("--input", s"$dir/benchAB",
      "--output", s"$dir/bloomAB"))
    def cells(path: String) = spark.read.parquet(path).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cells(s"$dir/bloom2") === cells(s"$dir/bloomAB"))
  }

  test("graph-index round-trip: build on the base split, admit the batch " +
    "≡ the from-scratch incident edges, extend ≡ the from-scratch index, " +
    "and GraphReport --index reproduces the text-path edges exactly") {
    import org.apache.spark.sql.functions.col
    spark // force shared session so the CLI's getOrCreate reuses it
    val sf = "/root/testdata/sf0.001"
    val dir = java.nio.file.Files.createTempDirectory("cli-gidx").toString
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), col("text"))
    docs.filter(col("doc_id") % 5 =!= 0).write.parquet(s"$dir/base")
    docs.filter(col("doc_id") % 5 === 0).write.parquet(s"$dir/batch")
    BuildGraphIndex.main(Array(
      "--input", s"$dir/base", "--output", s"$dir/gx"))
    AdmitDocs.main(Array(
      "--input", s"$dir/batch", "--index", s"$dir/gx",
      "--output", s"$dir/edges", "--patch", s"$dir/edgepatch"))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSet
    val admitted = rows(spark.read.parquet(s"$dir/edges"))
    val truth = try rows(graft.ops.TextOps.containmentOn(docs)
        .filter(col("id1") % 5 === 0 || col("id2") % 5 === 0))
      finally graft.CachedFrames.drain()
    assert(admitted === truth)
    // --patch: applying the written base-edge patch to the standing
    // base↔base edges reproduces the full-refresh base↔base edges (at the
    // production cap this split has no crossings, so the patch is empty
    // and standing ≡ refresh — the binding-cap branches are pinned in
    // GraphIndexSpec's cap-3 law)
    val patch = spark.read.parquet(s"$dir/edgepatch")
    assert(patch.columns.toSeq ===
      Seq("id1", "id2", "n_shared", "contain1", "contain2", "op"))
    val baseDocs = docs.filter(col("doc_id") % 5 =!= 0)
    val patched = try rows(graft.ops.TextOps.applyGraphEdgePatch(
        graft.ops.TextOps.containmentOn(baseDocs), patch))
      finally graft.CachedFrames.drain()
    val refreshed = try rows(graft.ops.TextOps.containmentOn(docs)
        .filter(col("id1") % 5 =!= 0 && col("id2") % 5 =!= 0))
      finally graft.CachedFrames.drain()
    assert(patched === refreshed)
    ExtendGraphIndex.main(Array(
      "--index", s"$dir/gx", "--batch", s"$dir/batch",
      "--output", s"$dir/gx2"))
    val full = graft.CachedFrames.track(graft.ops.TextOps.graphIndexFps(docs))
    try {
      assert(rows(spark.read.parquet(s"$dir/gx2/fps")) === rows(full))
      assert(rows(spark.read.parquet(s"$dir/gx2/df")) ===
        rows(graft.ops.TextOps.graphIndexDfOf(full)))
      assert(rows(spark.read.parquet(s"$dir/gx2/sizes")) ===
        rows(graft.ops.TextOps.graphIndexSizesOf(full)))
    } finally graft.CachedFrames.drain()
    // GraphReport --index: edges computed from the EXTENDED postings
    // equal the text-path generator on the full corpus
    GraphReport.main(Array("--input", s"$sf/documents.parquet",
      "--index", s"$dir/gx2", "--output", s"$dir/graph"))
    val viaIndex = rows(spark.read.parquet(s"$dir/graph/edges"))
    val viaText = try rows(graft.ops.TextOps.containmentOn(docs))
      finally graft.CachedFrames.drain()
    assert(viaIndex === viaText)
  }

  test("pick-blocking job: the scoreboard lands with the Febrl golden " +
    "numbers and the generous-budget winner is the reference's own scheme") {
    spark
    val dir = Files.createTempDirectory("graft-pickb").toString
    PickBlocking.main(Array(
      "--input", graft.ReferenceFixtures.csv("test.csv"), "--output", s"$dir/sb"))
    val rows = spark.read.parquet(s"$dir/sb").collect()
      .map(r => r.getString(0) -> r).toMap
    assert(rows.size === 5)
    // the BlockingPlannerSpec goldens, through the CLI face
    val ref = rows("reference")
    assert((ref.getLong(1), ref.getLong(2), ref.getLong(3), ref.getLong(4),
      ref.getDouble(5)) === ((72L, 139006L, 779L, 779L, 1.0)))
    assert(rows.values.count(_.getBoolean(6)) === 1)
    assert(rows("reference").getBoolean(6), "reference scheme must win at " +
      "the default 150k budget")
    // a tight budget flips the winner to the best scheme that fits
    PickBlocking.main(Array(
      "--input", graft.ReferenceFixtures.csv("test.csv"), "--output", s"$dir/sb2",
      "--budget", "2000"))
    val w2 = spark.read.parquet(s"$dir/sb2")
      .filter(org.apache.spark.sql.functions.col("is_winner"))
      .collect().map(_.getString(0)).toSeq
    assert(w2 === Seq("postcode"))
  }
  test("generic index-family trio: build/admit/extend on the lshband " +
    "family reproduce the from-scratch candidates and the grown artifact " +
    "(what a new family gets for free from the contract)") {
    import org.apache.spark.sql.functions.col
    spark
    val sf = "/root/testdata/sf0.001"
    val dir = java.nio.file.Files.createTempDirectory("cli-lsh").toString
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), col("text"))
    docs.filter(col("doc_id") % 5 =!= 0).write.parquet(s"$dir/base")
    docs.filter(col("doc_id") % 5 === 0).write.parquet(s"$dir/batch")
    BuildIndex.main(Array("--family", "lshband",
      "--input", s"$dir/base", "--output", s"$dir/lx"))
    AdmitIndex.main(Array("--family", "lshband",
      "--input", s"$dir/batch", "--index", s"$dir/lx",
      "--output", s"$dir/cands"))
    ExtendIndex.main(Array("--family", "lshband",
      "--index", s"$dir/lx", "--batch", s"$dir/batch",
      "--output", s"$dir/lx2"))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSet
    val admitted = rows(spark.read.parquet(s"$dir/cands"))
    val truth = try rows(
        graft.SparkEntry.queries("q27_lsh_pairs")(spark, sf)
          .filter(col("id1") % 5 === 0 || col("id2") % 5 === 0))
      finally graft.CachedFrames.drain()
    assert(admitted === truth)
    assert(admitted.nonEmpty)
    // the extended artifact equals the from-scratch build of everything
    val full = graft.ops.LshBandIndexFamily.build(docs)
    try {
      assert(rows(spark.read.parquet(s"$dir/lx2/bands")) ===
        rows(full("bands")))
      assert(rows(spark.read.parquet(s"$dir/lx2/sig")) === rows(full("sig")))
    } finally graft.CachedFrames.drain()
  }
  test("forget-index job: the surviving lshband artifact equals the " +
    "rebuild of the surviving corpus; attributed substr forgets exactly; " +
    "a legacy gram-only substr artifact fails fast with the reason") {
    import org.apache.spark.sql.functions.col
    spark
    val sf = "/root/testdata/sf0.001"
    val dir = java.nio.file.Files.createTempDirectory("cli-forget").toString
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), col("text"))
    docs.write.parquet(s"$dir/corpus")
    docs.filter(col("doc_id") % 7 === 0).select(col("doc_id"))
      .write.parquet(s"$dir/del")
    BuildIndex.main(Array("--family", "lshband",
      "--input", s"$dir/corpus", "--output", s"$dir/lx"))
    ForgetIndex.main(Array("--family", "lshband",
      "--index", s"$dir/lx", "--ids", s"$dir/del", "--output", s"$dir/lx2"))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSet
    val survivors = docs.filter(col("doc_id") % 7 =!= 0)
    val ref = graft.ops.LshBandIndexFamily.build(survivors)
    try {
      assert(rows(spark.read.parquet(s"$dir/lx2/bands")) ===
        rows(ref("bands")))
      assert(rows(spark.read.parquet(s"$dir/lx2/sig")
          .select(col("doc_id"))) ===
        rows(ref("sig").select(col("doc_id"))))
    } finally graft.CachedFrames.drain()
    BuildIndex.main(Array("--family", "substr",
      "--input", s"$dir/corpus", "--output", s"$dir/sx"))
    ForgetIndex.main(Array("--family", "substr",
      "--index", s"$dir/sx", "--ids", s"$dir/del",
      "--output", s"$dir/sx2"))
    val substrRef = graft.ops.SubstrIndexFamily.build(survivors)
    try assert(rows(spark.read.parquet(s"$dir/sx2/grams")) ===
      rows(substrRef("grams")))
    finally graft.CachedFrames.drain()
    // a LEGACY pre-attribution artifact carries nothing to forget by —
    // the job fails fast with the reason instead of guessing
    spark.read.parquet(s"$dir/sx/grams").select(col("gram")).distinct()
      .write.parquet(s"$dir/lsx/grams")
    val e = intercept[IllegalArgumentException] {
      ForgetIndex.main(Array("--family", "substr",
        "--index", s"$dir/lsx", "--ids", s"$dir/del",
        "--output", s"$dir/lsx2"))
    }
    assert(e.getMessage.contains("cannot forget"))
    // graph family: --edgepatch writes the survivor-edge patch and
    // applying it to the standing edges reproduces the survivor refresh
    // (at the production cap this deletion un-drops nothing, so the law
    // holds with an empty patch — the binding branches are pinned in
    // GraphIndexSpec's cap-3 law)
    BuildIndex.main(Array("--family", "graph",
      "--input", s"$dir/corpus", "--output", s"$dir/gx"))
    ForgetIndex.main(Array("--family", "graph",
      "--index", s"$dir/gx", "--ids", s"$dir/del",
      "--output", s"$dir/gx2", "--edgepatch", s"$dir/gep"))
    val gep = spark.read.parquet(s"$dir/gep")
    assert(gep.columns.toSeq ===
      Seq("id1", "id2", "n_shared", "contain1", "contain2", "op"))
    val patched = try rows(graft.ops.TextOps.applyGraphForgetPatch(
        graft.ops.TextOps.containmentOn(docs),
        docs.filter(col("doc_id") % 7 === 0).select(col("doc_id")), gep))
      finally graft.CachedFrames.drain()
    val refreshed = try rows(graft.ops.TextOps.containmentOn(
        docs.filter(col("doc_id") % 7 =!= 0)))
      finally graft.CachedFrames.drain()
    assert(patched === refreshed)
    // ...and the SAME application through the PatchEdges CLI face: write
    // the standing edge artifact, patch it on disk, compare to the
    // survivor refresh
    try graft.ops.TextOps.containmentOn(docs)
        .write.parquet(s"$dir/edges")
      finally graft.CachedFrames.drain()
    PatchEdges.main(Array("--edges", s"$dir/edges", "--patch", s"$dir/gep",
      "--forget", s"$dir/del", "--output", s"$dir/edges2"))
    assert(rows(spark.read.parquet(s"$dir/edges2")) === refreshed)
  }

  test("tombstone-index: an appended deletion is visible to the next " +
    "generic read without any rewrite (admit ≡ admit vs the rebuilt " +
    "survivors), extension compacts the tombstones away, and a legacy " +
    "substr artifact refuses the tombstone up front") {
    import org.apache.spark.sql.functions.col
    spark
    val sf = "/root/testdata/sf0.001"
    val dir = java.nio.file.Files.createTempDirectory("cli-tomb").toString
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), col("text"))
    val base = docs.filter(col("doc_id") % 5 =!= 0)
    val batch = docs.filter(col("doc_id") % 5 === 0)
    base.write.parquet(s"$dir/base")
    batch.write.parquet(s"$dir/batch")
    base.filter(col("doc_id") % 7 === 0).select(col("doc_id"))
      .write.parquet(s"$dir/del")
    BuildIndex.main(Array("--family", "lshband",
      "--input", s"$dir/base", "--output", s"$dir/lx"))
    TombstoneIndex.main(Array("--family", "lshband",
      "--index", s"$dir/lx", "--ids", s"$dir/del"))
    // the delete was ONE tiny append — the artifact tables are untouched
    assert(new java.io.File(s"$dir/lx/tombstones").exists())
    AdmitIndex.main(Array("--family", "lshband",
      "--input", s"$dir/batch", "--index", s"$dir/lx",
      "--output", s"$dir/cands"))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSet
    val survivors = base.filter(col("doc_id") % 7 =!= 0)
    val admitted = rows(spark.read.parquet(s"$dir/cands"))
    val law = try rows(graft.ops.LshBandIndexFamily.admit(batch,
        graft.ops.LshBandIndexFamily.build(survivors)))
      finally graft.CachedFrames.drain()
    assert(admitted === law)
    // a tombstoned doc no longer matches; survivors still do
    val delIds = base.filter(col("doc_id") % 7 === 0)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(!admitted.exists(r => delIds(r.head.asInstanceOf[Long])))
    // extension WRITES the filtered artifact fresh — tombstones compacted
    ExtendIndex.main(Array("--family", "lshband", "--index", s"$dir/lx",
      "--batch", s"$dir/batch", "--output", s"$dir/lx2"))
    assert(!new java.io.File(s"$dir/lx2/tombstones").exists())
    val extended = rows(spark.read.parquet(s"$dir/lx2/sig")
      .select(col("doc_id")))
    val extLaw = try rows(graft.ops.LshBandIndexFamily
        .build(survivors.unionByName(batch))("sig").select(col("doc_id")))
      finally graft.CachedFrames.drain()
    assert(extended === extLaw)
    // legacy substr: nothing could ever apply the tombstone — refuse it
    graft.ops.TextOps.substrIndexFrame(base).write.parquet(s"$dir/lsx/grams")
    graft.CachedFrames.drain()
    val e = intercept[IllegalArgumentException] {
      TombstoneIndex.main(Array("--family", "substr",
        "--index", s"$dir/lsx", "--ids", s"$dir/del"))
    }
    assert(e.getMessage.contains("cannot forget"))
  }
}
