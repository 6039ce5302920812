package graft.ml

import org.apache.spark.ml.Pipeline
import org.apache.spark.ml.classification.MultilayerPerceptronClassifier
import org.apache.spark.ml.evaluation.MulticlassClassificationEvaluator
import org.apache.spark.ml.feature.{OneHotEncoder, VectorAssembler}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.jobs.RelationalQueries

/** The outcome-classifier dataflow (reference C4, ct_estimator.py:40-160)
  * re-expressed as one Spark ML `Pipeline`: one-hot indicator columns over
  * the integer categorical codes (reference M4), numeric passthrough into
  * a `VectorAssembler` (M5), and a DNN with the reference's 5×8 topology
  * (M8) — here `MultilayerPerceptronClassifier`.
  *
  * Label: order finished ('F') vs not — the Completed/Terminated binary of
  * the reference (ct_data.py:28-29,119-120) re-expressed on the star
  * schema. The feature frame is the q06 star-features relation, so the
  * whole extract→encode→train lineage is a single Catalyst plan feeding
  * the ML stage (no intermediate materialization).
  */
object OutcomePipeline {

  val categoricalCols: Seq[String] = Seq("priority_code", "segment_code", "epoch_bucket")
  val numericCols: Seq[String] = Seq("li_count", "supplier_count", "part_count", "revenue")

  /** Feature frame + binary label, derived from the q06 star features.
    * Rows with status O/P (not finished) get label 0; F gets 1. */
  def featureFrame(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    RelationalQueries.q06StarFeatures(spark, dir)
      .withColumn("label", when($"status_code" === 0, 1.0).otherwise(0.0))
  }

  /** Feature-preparation pipeline: one-hot the categorical codes (M4),
    * assemble with the numeric passthroughs (M5). */
  def featurePipeline: Pipeline = {
    val encoder = new OneHotEncoder()
      .setInputCols(categoricalCols.toArray)
      .setOutputCols(categoricalCols.map(_ + "_oh").toArray)
      .setHandleInvalid("keep")
    val assembler = new VectorAssembler()
      .setInputCols((numericCols ++ categoricalCols.map(_ + "_oh")).toArray)
      .setOutputCol("features")
    new Pipeline().setStages(Array(encoder, assembler))
  }

  /** The reference's train topology: 5 hidden layers × 8 units, 2 classes
    * (ct_estimator.py:117-120). */
  def classifier(inputSize: Int): MultilayerPerceptronClassifier =
    new MultilayerPerceptronClassifier()
      .setLayers(Array(inputSize, 8, 8, 8, 8, 8, 2))
      .setBlockSize(100) // reference batch_size=100 (ct_estimator.py:33)
      .setMaxIter(60)
      .setSeed(42L)
      .setFeaturesCol("features")
      .setLabelCol("label")

  /** M11: class-label decode map — the reference's `STATUS[class_id]`
    * (ct_data.py:28-29; ct_estimator.py:153-158) on our label
    * orientation (1.0 = order finished ≡ 'Completed'). */
  val labelDecode: Map[Double, String] =
    Map(1.0 -> "Completed", 0.0 -> "Terminated")

  /** Fitted artifacts + splits, shared by evaluate and report paths. */
  final case class Fitted(prep: org.apache.spark.ml.PipelineModel,
    model: org.apache.spark.ml.classification.MultilayerPerceptronClassificationModel,
    train: DataFrame, validate: DataFrame, test: DataFrame)

  /** Reference split fractions 0.7 / 0.005 / rest (ct_data.py:152) via
    * randomSplit; seeds pinned (SURVEY §7.4.7 — assert fractions, not
    * membership). */
  def fit(spark: SparkSession, dir: String, seed: Long = 42L): Fitted = {
    val frame = featureFrame(spark, dir).cache()
    val Array(train, validate, test) =
      frame.randomSplit(Array(0.7, 0.005, 0.295), seed)

    val prep = featurePipeline.fit(train)
    val trainVec = prep.transform(train).cache()
    // input width read off the actual assembled vector (one-hot sizes
    // depend on observed categories + handleInvalid=keep)
    val inputSize = trainVec.select("features").head()
      .getAs[org.apache.spark.ml.linalg.Vector](0).size
    val model = classifier(inputSize).fit(trainVec)
    // trainVec's plan carries the fitted prep model, so no later fit can
    // reuse its cache entry — release it here or every fit leaks one.
    // `frame` stays cached: its plan is identical across fits, and the
    // CacheManager serves the next fit (and the split counts) from it.
    trainVec.unpersist()
    Fitted(prep, model, train, validate, test)
  }

  /** M9: test-set accuracy. Returns (accuracy, rowCounts). */
  def trainEval(spark: SparkSession, dir: String, seed: Long = 42L): (Double, (Long, Long, Long)) = {
    val f = fit(spark, dir, seed)
    val predictions = f.model.transform(f.prep.transform(f.test))
    val accuracy = new MulticlassClassificationEvaluator()
      .setLabelCol("label").setPredictionCol("prediction")
      .setMetricName("accuracy")
      .evaluate(predictions)
    (accuracy, (f.train.count(), f.validate.count(), f.test.count()))
  }

  /** M10+M11: the per-row prediction report over a fitted model — the
    * reference's user-visible output (ct_estimator.py:136-160): each
    * validation row with its predicted class, the probability of that
    * class, the DECODED string labels for both prediction and truth,
    * and a correctness flag (the `correct/total` tally is one
    * aggregation away). All columns are expression-level (map literal
    * decode, vector_to_array probability pick) — no driver loop. */
  def predictionReport(f: Fitted, rows: DataFrame): DataFrame = {
    import org.apache.spark.ml.functions.vector_to_array
    val decode = typedlit(labelDecode)
    f.model.transform(f.prep.transform(rows))
      .withColumn("probability_of_prediction",
        round(element_at(vector_to_array(col("probability")),
          col("prediction").cast("int") + 1), 4))
      .withColumn("predicted_label", element_at(decode, col("prediction")))
      .withColumn("expected_label", element_at(decode, col("label")))
      .withColumn("is_correct", col("prediction") === col("label"))
      .select("o_orderkey", "prediction", "probability_of_prediction",
        "predicted_label", "expected_label", "is_correct")
  }
}
