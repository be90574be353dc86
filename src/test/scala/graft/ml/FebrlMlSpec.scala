package graft.ml

import graft.SparkSpec
import graft.dedup.DedupPipeline
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** End-to-end reference parity on the original Febrl test fixture
  * (test.csv via [[graft.ReferenceFixtures]], 1,000 records):
  *
  *   - the blocking + exactly-once pair pipeline must produce EXACTLY the
  *     reference's pair count — the published test confusion matrix sums to
  *     129,718 scored pairs with 779 true duplicates (BASELINE.md: TN
  *     128,939 + FN 23 + FP 0 + TP 756);
  *   - the GBT classifier (reference hyperparameters, fewer trees for test
  *     runtime) must reach the reference's quality band (recall ≥ 0.9,
  *     precision ≥ 0.9 on its eval split — reference reports ~97% recall).
  */
class FebrlMlSpec extends AnyFunSuite with SparkSpec {

  private lazy val pairs = {
    val df = Febrl.read(spark, graft.ReferenceFixtures.csv("test.csv"))
    DedupPipeline.pairFeatures(df, Febrl.config).cache()
  }

  test("pair generation reproduces the reference's test-set pair count exactly") {
    assert(pairs.count() === 129718L)
    assert(pairs.filter(col("label") === 1.0).count() === 779L)
  }

  test("GBT classifier reaches the reference quality band") {
    val ml = DedupMl.toMlFrame(pairs, Febrl.featureCols)
    val (model, testDf) = DedupMl.train(ml, maxIter = 20)
    val m = DedupMl.evaluate(model, testDf)
    info(s"confusion: tp=${m.tp} tn=${m.tn} fp=${m.fp} fn=${m.fn} " +
      f"precision=${m.precision}%.4f recall=${m.recall}%.4f f1=${m.f1}%.4f")
    assert(m.total > 30000L, "eval split unexpectedly small")
    assert(m.recall >= 0.9, s"recall ${m.recall}")
    assert(m.precision >= 0.9, s"precision ${m.precision}")
  }

  test("score: global sort by prediction keeps DataFrame lineage") {
    val ml = DedupMl.toMlFrame(pairs.limit(2000), Febrl.featureCols)
    val (model, _) = DedupMl.train(ml, maxIter = 3)
    val scored = DedupMl.score(model, ml)
    assert(scored.columns.toSeq === Seq("id", "prediction"))
    val preds = scored.select("prediction").collect().map(_.getDouble(0))
    assert(preds.sameElements(preds.sorted))
  }
}
