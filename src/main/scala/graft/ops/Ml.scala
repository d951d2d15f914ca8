package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Tables, VerifiedQuery}
import graft.ml.{CongestionModel, DelayModel, FeatureEncoding, RandomForestPipeline}

/** Verified queries over the ML surface (SURVEY §2.8 M1-M9).
  *
  * The StringIndexer mapping is deterministic relational math (rank by
  * frequency) so it gets a full DuckDB oracle; model training/eval emits
  * VectorUDT columns and learned floats that no SQL engine reproduces, so
  * those queries register WITHOUT oracle SQL (driver rows-only check) and
  * the exact assertions (AUC bounds, importance normalization, save/load
  * round-trip) live in the scalatest suites.
  */
object Ml {

  /** The events-derived frame both models train on: the ETL analog features
    * (ops.Etl.etlFeatures) + encoded time_period. Cached — the frame feeds
    * indexer/OHE fits, the RF instance conversion, and the test transform,
    * and Spark's plan-keyed CacheManager lets the second model query reuse
    * the same InMemoryRelation. */
  private def features(spark: SparkSession, dir: String): DataFrame =
    FeatureEncoding.encode(Etl.etlFeatures(spark, dir), Seq("time_period")).cache()

  // ---------------------------------------------------------- StringIndexer

  /** M1 as an oracled query: StringIndexer(frequencyDesc) over the derived
    * time_period column == rank by (count DESC, label ASC) - 1. Emits the
    * label→index mapping with its support count.
    */
  def stringIndex(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val binned = graft.etl.TaxiFeatures.timePeriod(
      Tables.events(spark, dir).withColumn("hour", hour($"ts")))
    val (indexed, _) = FeatureEncoding.indexCategoricals(binned, Seq("time_period"))
    indexed.groupBy($"time_period", $"time_period_idx".cast("int").as("idx"))
      .agg(count(lit(1)).as("n"))
  }

  private val stringIndexSql =
    """SELECT time_period,
      |       CAST(ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, time_period ASC) - 1 AS INTEGER) AS idx,
      |       COUNT(*) AS n
      |FROM (SELECT CASE WHEN hour(ts) BETWEEN 6 AND 11 THEN 'morning'
      |                  WHEN hour(ts) BETWEEN 12 AND 16 THEN 'afternoon'
      |                  WHEN hour(ts) BETWEEN 17 AND 23 THEN 'evening'
      |                  ELSE 'night' END AS time_period
      |      FROM events)
      |GROUP BY time_period""".stripMargin

  // ------------------------------------------------------------- RF models

  /** Shared shape for both model queries: train, evaluate, rank importances,
    * emit everything as (kind, name, value) rows. Rows-only driver check;
    * exact properties are asserted in scalatest.
    */
  private def modelReport(spark: SparkSession,
                          trained: (org.apache.spark.ml.PipelineModel, DataFrame),
                          labelCol: String): DataFrame = {
    import spark.implicits._
    val (model, predictions) = trained
    val cached = predictions.cache()
    val metrics = RandomForestPipeline.evaluate(cached, labelCol)
      .toSeq.map { case (k, v) => ("metric", k, v) }
    val imps = RandomForestPipeline.featureImportances(model, cached)
      .take(10).map { case (n, v) => ("importance", n, v) }
    cached.unpersist()
    (metrics ++ imps).toDF("kind", "name", "value")
  }

  /** The analog congestion feature list (ops.Etl.etlFeatures columns) —
    * ONE definition for the RF query, its GBT twin and the
    * model-selection screen, so "identical features" across the model
    * comparisons is structural. */
  private val analogCongestionCols = Seq("trip_distance", "hour", "minute",
    "day_of_week", "day_of_month", "month", "is_holiday", "time_period_ohe",
    "avg_speed_time_period", "expected_duration")

  /** M3-M9 end-to-end: the congestion classifier on the events analog
    * (pipeline 3, nyc_taxi_final.py:738-923). The analog lacks the
    * weather/location columns of the real taxi frame, so the feature list
    * narrows to what ops.Etl.etlFeatures provides; the full
    * CongestionModel.featureCols path runs against the reference taxi
    * schema in scalatest. */
  def rfCongestion(spark: SparkSession, dir: String): DataFrame = {
    modelReport(spark,
      RandomForestPipeline.trainPredict(features(spark, dir), analogCongestionCols,
        CongestionModel.labelCol, sampleFraction = 0.3),
      CongestionModel.labelCol)
  }

  /** The delay classifier (pipeline 4, nyc_taxi_final.py:1047-1239), with
    * its own explicit sample (quirk §2.11.1 fixed). The events analog lacks
    * weather/location columns, so the feature list drops to the columns the
    * analog provides — semantics (assemble → RF → evaluate → importances)
    * unchanged. */
  def rfDelay(spark: SparkSession, dir: String): DataFrame = {
    val df = DelayModel.withLabel(features(spark, dir))
    val cols = Seq("trip_distance", "hour", "minute", "day_of_week",
      "day_of_month", "month", "is_holiday", "time_period_ohe",
      "avg_speed_time_period", "is_congested")
    modelReport(spark,
      RandomForestPipeline.trainPredict(df, cols, DelayModel.labelCol, sampleFraction = 0.3),
      DelayModel.labelCol)
  }

  /** Beyond-reference M-surface: the GBT twin of [[rfCongestion]]
    * (ml.GbtPipeline) — identical features, sample, split and seeds, so
    * the metric rows are directly comparable model-to-model (the
    * RF-vs-GBT readout a model-comparison workflow produces). Rows-only
    * driver check (learned floats); AUC floor, importance normalization
    * and RF-comparability are asserted in MlPipelineSpec. */
  def gbtCongestion(spark: SparkSession, dir: String): DataFrame = {
    modelReport(spark,
      graft.ml.GbtPipeline.trainPredict(features(spark, dir), analogCongestionCols,
        CongestionModel.labelCol, sampleFraction = 0.3),
      CongestionModel.labelCol)
  }

  /** Beyond-reference M-surface: hyperparameter selection
    * (ml.ModelSelection) — TrainValidationSplit screen over the tree-count
    * grid on a light sample of the congestion frame. One row per grid
    * point with its validation AUC and the winner flag. Rows-only driver
    * check (learned floats); fold math and winner selection are asserted
    * exactly in ModelSelectionSpec. */
  def modelSelect(spark: SparkSession, dir: String): DataFrame = {
    val df = features(spark, dir).sample(withReplacement = false, 0.1, 42)
    // same sampled-set right-sizing as RandomForestPipeline.trainPredict
    val tvs = graft.ml.ModelSelection.trainValidationSelect(
      df.repartition(4), analogCongestionCols, CongestionModel.labelCol)
    graft.ml.ModelSelection.report(spark, tvs.getEstimatorParamMaps, tvs.validationMetrics)
  }

  /** Beyond-reference M-surface: the fastText-style linear quality filter
    * (ml.QualityFilter — LogisticRegression on hashed bag-of-words), the
    * model-based tier of corpus curation beside the closed-form
    * LlmData.dsirSelect. Emits metric rows (held-out AUC/accuracy, split
    * sizes) plus per-lang keep rates at the 0.5 threshold. Rows-only
    * driver check (learned floats); separation and keep-rate ordering are
    * asserted in QualityFilterSpec. */
  def qualityClassifier(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val (_, heldOut, scored) = graft.ml.QualityFilter.trainScore(spark, dir)
    val cached = heldOut.cache()
    val metrics = RandomForestPipeline.evaluate(cached, "is_target")
      .toSeq.map { case (k, v) => ("metric", k, v) }
    val sizes = Seq(("metric", "n_heldout", cached.count().toDouble))
    cached.unpersist()
    val keepRates = scored.groupBy($"lang")
      .agg(avg(when($"prediction" === 1.0, 1.0).otherwise(0.0)).as("rate"))
      .collect().map(r => ("keep_rate", r.getString(0), r.getDouble(1)))
    (metrics ++ sizes ++ keepRates).toDF("kind", "name", "value")
      .orderBy($"kind", $"name")
  }

  // ---------------------------------------------------------------- registry

  val all: Seq[VerifiedQuery] = Seq(
    VerifiedQuery("q_string_index", stringIndex, Some(stringIndexSql)),
    VerifiedQuery("q_rf_congestion", rfCongestion, None,
      rowsOnly = Some(graft.RowsOnlyContract(
        reason = "learned floats: RF probabilities depend on MLlib's internal RNG/threading",
        columns = Seq("kind", "name", "value"),
        test = "MlPipelineSpec (AUC/accuracy floors)",
        exactRowsSql = Some("SELECT 15")))), // 5 evaluator metrics + top-10 importances
    VerifiedQuery("q_rf_delay", rfDelay, None,
      rowsOnly = Some(graft.RowsOnlyContract(
        reason = "learned floats (same RF family, delay label)",
        columns = Seq("kind", "name", "value"),
        test = "MlPipelineSpec floors",
        exactRowsSql = Some("SELECT 15")))),
    VerifiedQuery("q_gbt_congestion", gbtCongestion, None,
      rowsOnly = Some(graft.RowsOnlyContract(
        reason = "learned floats (boosted ensemble; same features/sample/split/seeds as the RF)",
        columns = Seq("kind", "name", "value"),
        test = "MlPipelineSpec (AUC floor, same-held-out-set assert)",
        exactRowsSql = Some("SELECT 15")))),
    VerifiedQuery("q_model_select", modelSelect, None,
      rowsOnly = Some(graft.RowsOnlyContract(
        reason = "learned floats: TrainValidationSplit fold metrics",
        columns = Seq("params", "val_auc", "is_best"),
        test = "ModelSelectionSpec (winner=argmax, grid/metric alignment, fold math)",
        exactRowsSql = Some("SELECT 2")))), // one row per grid point (ModelSelection.treeGrid)
    VerifiedQuery("q_quality_classifier", qualityClassifier, None,
      rowsOnly = Some(graft.RowsOnlyContract(
        reason = "learned floats: logistic weights over hashed bag-of-words",
        columns = Seq("kind", "name", "value"),
        test = "QualityFilterSpec (held-out AUC > 0.8, keep-vs-drop ordering)",
        // 5 evaluator metrics + n_heldout + one keep-rate row per language
        exactRowsSql = Some("SELECT 6 + count(DISTINCT lang) FROM documents")))),
  )
}
