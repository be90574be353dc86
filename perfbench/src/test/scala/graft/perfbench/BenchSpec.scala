package graft.perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import graft.dedup.DedupPipeline
import graft.ml.Febrl
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

class BenchSpec extends AnyFunSuite {

  test("a seed gives the same inputs byte for byte; another seed does not") {
    val s = Workloads.balanced
    assert(Gen.febrlCsv(Gen.febrl(7, s)) == Gen.febrlCsv(Gen.febrl(7, s)))
    assert(Gen.febrlCsv(Gen.febrl(7, s)) != Gen.febrlCsv(Gen.febrl(8, s)))
    val c = Gen.CorpusSettings(docs = 400, families = 20, boilerplate = 2, copies = 5)
    assert(Gen.corpus(3, c) == Gen.corpus(3, c))
    assert(Gen.corpus(3, c) != Gen.corpus(4, c))
  }

  test("generated families: one original each, ids carry the family, exact copies are equal") {
    val recs = Gen.febrl(5, Gen.FebrlSettings(records = 200, blocks = 4, hotShare = 0.5))
    assert(recs.size == 200)
    for ((f, members) <- recs.groupBy(_.family)) {
      assert(members.count(_.id.endsWith("-org")) == 1)
      assert(members.forall(_.id.split("-")(1) == f.toString))
    }
    val docs = Gen.corpus(9, Gen.CorpusSettings(docs = 400, families = 20, boilerplate = 2, copies = 5))
    assert(docs.size == 400 && docs.map(_.id).distinct.size == 400)
    for ((_, fam) <- docs.filter(_.exact).groupBy(_.family)) {
      assert(fam.size == 5 && fam.map(_.text).distinct.size == 1)
    }
  }

  test("truth counts and labels agree with the library's pair job on a tiny input") {
    val recs = Gen.febrl(11, Gen.FebrlSettings(records = 60, blocks = 3, hotShare = 0.3))
    val truth = Gen.febrlTruth(recs)
    val all = for (i <- recs.indices; j <- i + 1 until recs.size) yield (recs(i), recs(j))
    val sharing = all.filter { case (a, b) =>
      val (ka, kb) = (Gen.blockKeys(a), Gen.blockKeys(b))
      ka._1 == kb._1 || ka._2 == kb._2
    }
    assert(truth.exactlyOnce == sharing.size)
    assert(truth.plantedPairs == all.count { case (a, b) => a.family == b.family })

    val dir = Files.createTempDirectory("perfbench-spec")
    val csv = dir.resolve("records.csv")
    Files.writeString(csv, Gen.febrlCsv(recs))
    val spark = SparkSession.builder().master("local[2]").appName("perfbench-spec")
      .config("spark.ui.enabled", "false").config("spark.sql.shuffle.partitions", "2")
      .getOrCreate()
    try {
      val got = DedupPipeline.pairFeatures(Febrl.read(spark, csv.toString), Febrl.config)
        .select("id1", "id2", "label").collect()
        .map(r => ((r.getString(0), r.getString(1)), r.getDouble(2))).toMap
      val family = recs.map(r => r.id -> r.family).toMap
      val want = sharing.map { case (a, b) =>
        val (x, y) = if (a.id < b.id) (a.id, b.id) else (b.id, a.id)
        (x, y) -> (if (family(x) == family(y)) 1.0 else 0.0)
      }.toMap
      assert(got == want)
    } finally { spark.stop(); Main.deleteTree(dir) }
  }

  test("every metric name is well-formed and declared in BENCHMARK.json") {
    val file = Seq(Paths.get("BENCHMARK.json"), Paths.get("..", "BENCHMARK.json"))
      .find(Files.isRegularFile(_)).get
    val json = new ObjectMapper().readTree(file.toFile)
    def declared(key: String): Map[String, String] =
      json.get(key).elements().asScala.map(m => m.get("name").asText -> m.get("unit").asText).toMap
    val e2e = declared("end_to_end")
    val layers = declared("per_layer")
    val ours = Metrics.endToEnd ++ Metrics.perLayer
    ours.foreach(m => assert(m.name.matches("[A-Za-z0-9_.-]+"), m.name))
    assert(ours.map(_.name).distinct.size == ours.size)
    assert(Metrics.endToEnd.map(m => m.name -> m.unit).toMap == e2e)
    assert(Metrics.perLayer.map(m => m.name -> m.unit).toMap == layers)
    assert(json.get("workloads").elements().asScala.map(_.get("name").asText).toSeq ==
      Workloads.names)
  }
}
