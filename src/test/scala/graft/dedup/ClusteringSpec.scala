package graft.dedup

import graft.SparkSpec
import graft.ml.Febrl
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class ClusteringSpec extends AnyFunSuite with SparkSpec {

  test("connected components: chains, cliques, isolated pairs (both strategies)") {
    import spark.implicits._
    // components: {1,2,3,4} (chain), {10,11,12} (clique), {20,21}
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L), (11L, 12L),
      (10L, 12L), (21L, 20L)).toDF("id1", "id2")
    val expected = Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 20L -> 20L, 21L -> 20L)
    // default: single-task union-find (edge list under the local threshold)
    val local = Clustering.connectedComponents(pairs)
      .as[(Long, Long)].collect().toMap
    assert(local === expected)
    // localThreshold = 0 forces the iterative propagation loop
    val iterative = Clustering.connectedComponents(pairs, localThreshold = 0L)
      .as[(Long, Long)].collect().toMap
    assert(iterative === expected)
  }

  test("incremental components equal the from-scratch CC of base ∪ delta: " +
    "transitive merges across standing components, new-only components, " +
    "delta chains through new ids, and the untouched component passes " +
    "through byte-identical") {
    import spark.implicits._
    // standing: {1,2,3} comp 1, {10,11} comp 10, {20,21} comp 20,
    // {30,31} comp 30 (untouched)
    val basePairs = Seq((1L, 2L), (2L, 3L), (10L, 11L), (20L, 21L),
      (30L, 31L)).toDF("id1", "id2")
    val standing = Clustering.connectedComponents(basePairs)
    // delta: 100 bridges comps 1 and 10 TRANSITIVELY through a new id
    // (3-100, 100-11); 200-201 is a brand-new component; 21-300 hangs a
    // new id off comp 20; comp 30 sees nothing
    val delta = Seq((3L, 100L), (100L, 11L), (200L, 201L), (21L, 300L))
      .toDF("id1", "id2")
    val got = Clustering.incrementalComponents(standing, delta)
      .as[(Long, Long)].collect().toMap
    val scratch = Clustering.connectedComponents(
        basePairs.unionByName(delta))
      .as[(Long, Long)].collect().toMap
    assert(got === scratch)
    assert(got(100L) === 1L && got(11L) === 1L) // transitive merge landed
    assert(got(200L) === 200L && got(201L) === 200L)
    assert(got(300L) === 20L)
    assert(got(30L) === 30L && got(31L) === 30L) // untouched
    // degenerate deltas: empty delta is the identity; a delta against an
    // EMPTY standing is just from-scratch CC of the delta
    val empty = Seq.empty[(Long, Long)].toDF("id1", "id2")
    assert(Clustering.incrementalComponents(standing, empty)
      .as[(Long, Long)].collect().toMap ===
      standing.as[(Long, Long)].collect().toMap)
    val fresh = Clustering.incrementalComponents(
        Clustering.connectedComponents(empty), delta)
      .as[(Long, Long)].collect().toMap
    assert(fresh === Clustering.connectedComponents(delta)
      .as[(Long, Long)].collect().toMap)
    // a delta edge between two docs of the SAME standing component is a
    // no-op (labels already minimal)
    val sameComp = Seq((1L, 3L)).toDF("id1", "id2")
    assert(Clustering.incrementalComponents(standing, sameComp)
      .as[(Long, Long)].collect().toMap ===
      standing.as[(Long, Long)].collect().toMap)
  }

  test("strategy switch at exactly localThreshold: both sides of the edge agree") {
    import spark.implicits._
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L), (11L, 12L),
      (10L, 12L), (21L, 20L)).toDF("id1", "id2")
    val expected = Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 20L -> 20L, 21L -> 20L)
    // the strategy decision compares the SYMMETRIZED distinct edge count
    // (7 pairs -> 14 directed edges) against the threshold
    val symEdges = 14L
    // exactly AT the threshold: union-find path (<=)
    val at = Clustering.connectedComponents(pairs, localThreshold = symEdges)
      .as[(Long, Long)].collect().toMap
    // one BELOW the threshold: iterative propagation path
    val below = Clustering.connectedComponents(pairs, localThreshold = symEdges - 1)
      .as[(Long, Long)].collect().toMap
    assert(at === expected)
    assert(below === expected)
  }

  test("local and iterative strategies agree on the Febrl ground-truth graph") {
    import spark.implicits._
    val pairs = DedupPipeline
      .pairFeatures(Febrl.read(spark, graft.ReferenceFixtures.csv("test.csv")), Febrl.config)
      .filter(col("label") === 1.0)
      .select(col("id1"), col("id2"))
      .cache()
    val local = Clustering.connectedComponents(pairs)
      .as[(String, String)].collect().toMap
    val iterative = Clustering.connectedComponents(pairs, localThreshold = 0L)
      .as[(String, String)].collect().toMap
    assert(local === iterative)
    assert(local.nonEmpty)
  }

  test("Febrl ground-truth pairs cluster into exactly the record families") {
    val pairs = DedupPipeline
      .pairFeatures(Febrl.read(spark, graft.ReferenceFixtures.csv("test.csv")), Febrl.config)
      .filter(col("label") === 1.0)
      .select(col("id1"), col("id2"))
      .cache()
    val comps = Clustering.connectedComponents(pairs)
      .withColumn("family", split(trim(col("id")), "-").getItem(1))
    // every component maps to exactly one rec-<n> family and vice versa
    val mixed = comps.groupBy(col("component"))
      .agg(countDistinct(col("family")).as("nf"))
      .filter(col("nf") > 1).count()
    assert(mixed === 0L, "a component mixes two ground-truth families")
    val split_ = comps.groupBy(col("family"))
      .agg(countDistinct(col("component")).as("nc"))
      .filter(col("nc") > 1).count()
    assert(split_ === 0L, "a ground-truth family split across components")
    assert(comps.count() > 0L)
  }
}
