package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.ml.{Kda, OutcomePipeline}

class MlSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  test("outcome pipeline trains and beats the majority-class baseline floor") {
    val (accuracy, (nTrain, nValidate, nTest)) =
      OutcomePipeline.trainEval(spark, sf0001)
    val total = nTrain + nValidate + nTest
    assert(total == 1500L)
    // reference split fractions 0.7/0.005/0.295 — assert fractions, not
    // membership (SURVEY §7.4.7)
    assert(math.abs(nTrain.toDouble / total - 0.7) < 0.05)
    assert(accuracy >= 0.55, s"accuracy $accuracy below floor")
  }

  test("repeated trainEval holds no more cached data and keeps its accuracy") {
    // each fit's assembled training vectors are released once the
    // classifier is fit; the shared feature frame stays cached
    val sc = spark.sparkContext
    val (first, _) = OutcomePipeline.trainEval(spark, sf0001)
    val held = sc.getPersistentRDDs.size
    val (second, _) = OutcomePipeline.trainEval(spark, sf0001)
    assert(sc.getPersistentRDDs.size == held,
      s"persistent RDDs grew from $held to ${sc.getPersistentRDDs.size}")
    assert(second == first)
  }

  test("outcome pipeline at sf0.1: accuracy + confusion reported, floor pinned") {
    // the reference's only quality signal is a printed accuracy
    // (ct_estimator.py:133); this records ours at the largest local SF
    // as a tracked number. Seeded fit + seeded split → deterministic:
    // measured 0.6683 on 44361 test rows. The confusion matrix is
    // reported too because it tells the real story: with the
    // reference's 5×8 topology and 60 iterations the net converges to
    // the majority class at this scale — accuracy equals the class
    // prior, which is exactly what the reference's printed number
    // would show. The floor guards the pipeline (split, encode,
    // assemble, train) staying wired, not model quality.
    val f = OutcomePipeline.fit(spark, "/root/testdata/sf0.1")
    val report = OutcomePipeline.predictionReport(f, f.test).cache()
    val total = report.count()
    val accuracy = report.filter($"is_correct").count().toDouble / total
    val confusion = report
      .groupBy("expected_label", "predicted_label").count()
      .as[(String, String, Long)].collect().sortBy(r => (r._1, r._2))
    info(f"sf0.1 test accuracy = $accuracy%.4f over $total rows")
    confusion.foreach { case (exp, pred, n) =>
      info(s"confusion: expected=$exp predicted=$pred n=$n") }
    assert(total > 40000L)
    assert(accuracy >= 0.6, f"sf0.1 accuracy $accuracy%.4f below floor")
  }

  test("prediction report: schema, decode round-trip, probability pick (M10/M11)") {
    val f = OutcomePipeline.fit(spark, sf0001)
    val report = OutcomePipeline.predictionReport(f, f.validate).cache()
    assert(report.columns.toSeq == Seq("o_orderkey", "prediction",
      "probability_of_prediction", "predicted_label", "expected_label",
      "is_correct"))
    val rows = report.as[(Long, Double, Double, String, String, Boolean)]
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { case (_, pred, prob, predLabel, expLabel, correct) =>
      // decode round-trip: the string label is exactly the map image
      assert(predLabel == OutcomePipeline.labelDecode(pred))
      assert(Set("Completed", "Terminated")(expLabel))
      // probability of the PREDICTED class must be the winning one
      assert(prob >= 0.5 - 1e-9 && prob <= 1.0)
      assert(correct == (predLabel == expLabel))
    }
    // the reference's correct/total tally is one aggregation away
    val tally = report.filter($"is_correct").count().toDouble / rows.length
    assert(tally >= 0.0 && tally <= 1.0)
  }

  test("KDA relative weights: dominant driver wins, weights sum to R2") {
    // y = 2*x1 + eps; x2 pure noise → weight(x1) >> weight(x2), sum ≈ R²≈1
    val rnd = new scala.util.Random(7)
    val rows = (1 to 2000).map { _ =>
      val x1 = rnd.nextGaussian(); val x2 = rnd.nextGaussian()
      (x1, x2, 2.0 * x1 + 0.1 * rnd.nextGaussian())
    }
    val df = rows.toDF("x1", "x2", "y")
    val w = Kda.relativeWeights(df, "y", Seq("x1", "x2")).toMap
    assert(w("x1") > 0.9, s"x1 weight ${w("x1")}")
    assert(w("x2") < 0.05, s"x2 weight ${w("x2")}")
    val sum = w.values.sum
    assert(sum > 0.95 && sum <= 1.001, s"sum of weights $sum should be ~R²")
  }
}
