package graft.ml

import org.apache.spark.ml.evaluation.RegressionEvaluator
import org.apache.spark.ml.feature.VectorAssembler
import org.apache.spark.ml.regression.{GBTRegressionModel, GBTRegressor}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** AQI t+1h forecasting (SURVEY.md §7.1 step 9) — the reference trains
  * LightGBM/XGBoost on a pandas frame (ml_training/train_lightgbm.py);
  * here the whole pipeline is Spark ML: the distributed feature matrix
  * from [[graft.features.Features]] feeds a GBTRegressor, with the same
  * time-ordered split and the same metric set (RMSE/MAE/MAPE/R²,
  * train_lightgbm.py:17-36).
  */
object Forecast {

  /** The full 22-feature set — the reference trains on every engineered
    * column incl. is_weekend (train_lightgbm.py excludes only metadata
    * cols; data_loader.py creates is_weekend as a feature). */
  val featureCols: Seq[String] = Seq(
    "hour", "day_of_week", "month_num", "day_of_year", "is_weekend",
    "aqi_lag_1h", "aqi_lag_24h", "aqi_lag_168h",
    "aqi_mean_7d", "aqi_std_7d", "aqi_max_7d", "aqi_min_7d", "aqi_mean_30d",
    "country_encoded", "latitude", "longitude",
    "pm25", "pm10", "o3", "co", "so2", "no2")

  /** Time-ordered split (no shuffle leakage): rows with datetime below the
    * per-dataset quantile boundary train, the rest test
    * (train_lightgbm.py time split). */
  def timeSplit(matrix: DataFrame, trainFrac: Double = 0.8)
      : (DataFrame, DataFrame) = {
    val cut = matrix.stat.approxQuantile(
      "ts_seconds", Array(trainFrac), 0.001)(0)
    val withTs = matrix
    (withTs.filter(col("ts_seconds") <= cut),
      withTs.filter(col("ts_seconds") > cut))
  }

  /** The 22-column vector assembly shared by training and serving —
    * the SAME null-fill and cast discipline on both sides, so a model
    * trained here scores serving frames without skew. */
  private def assemble(df: DataFrame): DataFrame = {
    val base = df
      .withColumn("is_weekend", col("is_weekend").cast("int")) // bool → 0/1
    val filled = featureCols.foldLeft(base) {
      (d, c) => d.withColumn(c, coalesce(col(c).cast("double"), lit(0.0)))
    }
    new VectorAssembler()
      .setInputCols(featureCols.toArray)
      .setOutputCol("features")
      .transform(filled)
  }

  private def prepare(matrix: DataFrame): DataFrame =
    assemble(matrix.withColumn("ts_seconds",
        unix_timestamp(col("datetime")).cast("double")))
      .filter(col("aqi_next").isNotNull)
      .withColumn("label", col("aqi_next"))

  def train(matrix: DataFrame, maxIter: Int = 20,
      maxDepth: Int = 5): (GBTRegressionModel, DataFrame) = {
    val prepared = prepare(matrix)
    val (trainDf, testDf) = timeSplit(prepared)
    val model = new GBTRegressor()
      .setMaxIter(maxIter)
      .setMaxDepth(maxDepth)
      .setSeed(42L)
      .fit(trainDf)
    (model, model.transform(testDf))
  }

  /** Model persistence — the train-once/serve-many contract the whole
    * reference serving path depends on (`ml_training/train_lightgbm
    * .py:192-202` saves the trained bundle; `app.py:118` loads it at
    * serving time). Spark ML's native writer persists the tree
    * ensemble + params as parquet/JSON under `path`; [[load]] restores
    * a scorer whose predictions are bit-identical to the trained one
    * (pinned by ForecastSpec). The artifact is a directory — on a
    * cluster, any Hadoop-compatible URI (hdfs://, s3a://) works
    * unchanged. */
  def save(model: GBTRegressionModel, path: String): Unit =
    model.write.overwrite().save(path)

  def load(path: String): GBTRegressionModel =
    GBTRegressionModel.load(path)

  /** Serving twin of app.py's create_features_for_prediction →
    * model.predict: assemble the same 22-feature vector over a serving
    * frame (e.g. [[graft.features.Features.inferenceFeatures]]' latest
    * per-station snapshot) and score it with a LOADED model. Row-local
    * (assembly is a projection, the ensemble scores per-row) — no
    * shuffle at any scale. */
  def serve(model: GBTRegressionModel, serving: DataFrame): DataFrame =
    model.transform(assemble(serving))
      .drop("features")
      .withColumnRenamed("prediction", "predicted_aqi_next")

  /** RMSE / MAE / MAPE / R² on held-out predictions
    * (train_lightgbm.py:17-36 metric set). */
  def metrics(predictions: DataFrame): Map[String, Double] = {
    def evalM(metric: String) = new RegressionEvaluator()
      .setMetricName(metric).evaluate(predictions)
    val mape = predictions
      .filter(col("label") =!= 0)
      .select(avg(abs((col("label") - col("prediction")) / col("label"))))
      .head().getDouble(0) * 100
    Map("rmse" -> evalM("rmse"), "mae" -> evalM("mae"),
      "r2" -> evalM("r2"), "mape" -> mape)
  }

  /** Persistence baseline: predict aqi(t+1h) = aqi(t) — the naive
    * forecaster every trained model must beat. Same test slice. */
  def persistenceRmse(predictions: DataFrame): Double =
    math.sqrt(predictions
      .select(avg(pow(col("label") - col("aqi"), 2)))
      .head().getDouble(0))
}

/** Parity-artifact main: trains the GBT on the sf-dir feature matrix and
  * prints the metric set + persistence baseline as one JSON line
  * (recorded in ML_PARITY.md next to the reference's published RMSE). */
object TrainMain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = graft.Session.build()
    val gold = graft.queries.PipelineQueries.gold(spark, sfDir)
    val matrix = graft.features.Features.featureMatrix(gold)
    val t0 = System.nanoTime()
    val (model, predictions) = Forecast.train(matrix)
    predictions.cache()
    val m = Forecast.metrics(predictions)
    val baseline = Forecast.persistenceRmse(predictions)
    val secs = (System.nanoTime() - t0) / 1e9
    println(f"""{"sf":"$sfDir","n_test_rows":${predictions.count()},""" +
      f""""rmse":${m("rmse")}%.4f,"mae":${m("mae")}%.4f,""" +
      f""""mape":${m("mape")}%.4f,"r2":${m("r2")}%.4f,""" +
      f""""persistence_rmse":$baseline%.4f,"train_sec":$secs%.1f,""" +
      f""""n_trees":${model.getMaxIter},"features":${Forecast.featureCols.size}}""")
    spark.stop()
  }
}
