package graft.ml

import org.apache.spark.sql.functions._

import graft.SparkSpec

class FraudPipelineSpec extends SparkSpec {

  private lazy val txns = Transactions.fromEvents(spark, sfDir).cache()

  test("synthesized transactions match the reference wire schema") {
    val expected = graft.schema.Transaction.schema
      .fields.map(f => f.name -> f.dataType).toSeq
    val got = txns.schema.fields.map(f => f.name -> f.dataType).toSeq
    assert(got == expected)
  }

  test("seed-42 split is deterministic and roughly 80/20") {
    val (tr1, te1) = FraudPipeline.split(txns)
    val (tr2, te2) = FraudPipeline.split(txns)
    assert(tr1.count() == tr2.count() && te1.count() == te2.count())
    val frac = te1.count().toDouble / txns.count()
    assert(frac > 0.1 && frac < 0.3, s"test fraction $frac")
  }

  test("classWeight column reproduces the reference arithmetic") {
    val weighted = FraudPipeline.withClassWeight(txns)
    val fraud = txns.filter(col("isFraud") === 1).count()
    val nonFraud = txns.count() - fraud
    val ratio = nonFraud.toDouble / fraud
    val distinctWeights = weighted.select("classWeight").distinct()
      .collect().map(_.getDouble(0)).sorted
    assert(distinctWeights.toSeq == Seq(1.0, ratio))
  }

  test("pipeline trains, detects the planted signal, and is reusable") {
    val (train, test) = FraudPipeline.split(txns)
    val model = FraudPipeline.train(train)
    val m = FraudPipeline.evaluate(model, test)
    // isFraud is a deterministic threshold on amount — linearly
    // separable modulo regularization; AUC must be near-perfect.
    assert(m.auc > 0.95, s"AUC ${m.auc}")
    assert(m.tp + m.fp + m.tn + m.fn == test.count())
    // The reference's heavy L1 (regParam 0.3, elasticNet 0.8) shrinks
    // hard; the model ranks near-perfectly (AUC) but classifies
    // conservatively at threshold 0.5 — accuracy only needs to beat
    // random, majority-rate-ish.
    assert(m.accuracy >= 0.8, s"accuracy ${m.accuracy}")
    // metrics JSON has the reference's shape
    val json = FraudPipeline.metricsJson(m)
    assert(json.contains("\"confusion_matrix\""))
    assert(json.contains("\"auc\""))
  }

  test("evaluate's single-pass confusion equals four filtered counts") {
    val (train, test) = FraudPipeline.split(txns)
    val model = FraudPipeline.train(train)
    val m = FraudPipeline.evaluate(model, test)
    val preds = model.transform(test)
    def cnt(p: Double, l: Int) = preds
      .filter(col("prediction") === p && col("isFraud") === l).count()
    assert((m.tp, m.fp, m.tn, m.fn) ==
      ((cnt(1.0, 1), cnt(1.0, 0), cnt(0.0, 0), cnt(0.0, 1))))
  }

  test("transform keeps every row, even an unseen type or a null numeric") {
    // ScoringStream counts a batch's records on model.transform(batch),
    // so the fitted pipeline must neither drop nor fail on a row;
    // handleInvalid=keep on the StringIndexer and the VectorAssembler
    // is what holds this.
    val (train, test) = FraudPipeline.split(txns)
    val model = FraudPipeline.train(train)
    val seen = test.limit(8)
    val batch = seen
      .union(seen.limit(1).withColumn("type", lit("NOT_A_TYPE")))
      .union(seen.limit(1).withColumn("amount", lit(null).cast("double")))
    val r = model.transform(batch)
      .agg(count(lit(1)), count(col("prediction"))).head()
    assert(batch.count() == 10)
    assert(r.getLong(0) == 10 && r.getLong(1) == 10, r)
  }

  test("save/load round-trips the model (S12) with sidecar files") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft_model").toString
    val path = s"$dir/fraud_detection_model"
    val (train, test) = FraudPipeline.split(txns)
    val model = FraudPipeline.train(train)
    FraudPipeline.save(model, path)
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(path, "feature_columns.json")))
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(dir, "model_ready.txt")))
    val reloaded = FraudPipeline.load(path)
    val a = FraudPipeline.predict(model, test)
      .select("fraud_prediction").collect().map(_.getInt(0)).toSeq
    val b = FraudPipeline.predict(reloaded, test)
      .select("fraud_prediction").collect().map(_.getInt(0)).toSeq
    assert(a == b)
  }

  test("predict projects fraud_prediction and fraud_probability (P7/P8)") {
    val (train, test) = FraudPipeline.split(txns)
    val model = FraudPipeline.train(train)
    val out = FraudPipeline.predict(model, test)
    assert(out.columns.contains("fraud_prediction"))
    assert(out.columns.contains("fraud_probability"))
    val probs = out.select("fraud_probability")
      .collect().map(_.getDouble(0))
    assert(probs.forall(p => p >= 0.0 && p <= 1.0))
  }
}
