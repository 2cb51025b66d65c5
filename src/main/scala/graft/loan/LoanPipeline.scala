package graft.loan

import org.apache.spark.ml.{Pipeline, PipelineModel, PipelineStage}
import org.apache.spark.ml.classification.{LogisticRegression, RandomForestClassifier}
import org.apache.spark.ml.evaluation.BinaryClassificationEvaluator
import org.apache.spark.ml.feature.{OneHotEncoder, StringIndexer, VectorAssembler}
import org.apache.spark.ml.param.ParamMap
import org.apache.spark.ml.tuning.{CrossValidator, CrossValidatorModel, ParamGridBuilder}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ml.{MedianImputer, PopulationScaler, StringModeImputer}

/** The reference's deployed dataflow program (SURVEY §2.7): sklearn
  * `ColumnTransformer(num: median-impute + standardize; cat: mode-impute +
  * one-hot) |> classifier`, rebuilt as ONE native MLlib Pipeline.
  *
  * sklearn-parity choices, each load-bearing for result parity:
  *  - exact interpolated median (custom [[graft.ml.MedianImputer]]);
  *  - mode ties -> lexicographically smallest ([[graft.ml.StringModeImputer]]);
  *  - population-std scaling, ddof=0 ([[graft.ml.PopulationScaler]]);
  *  - `StringIndexer(stringOrderType="alphabetAsc")` == sklearn's sorted
  *    `categories_`; `handleInvalid="keep"` + `OneHotEncoder(dropLast=true,
  *    handleInvalid="keep")` routes unseen categories (e.g. app.py:25
  *    Gender="Other") to the indexer's keep bucket, which IS a real
  *    one-hot slot (dropLast removes the encoder's own invalid-extra
  *    category, not the keep index — each block has numLabels+1 slots).
  *    The keep slot never activates during training, so L2 pins its
  *    coefficient to ~0: behaviorally `handle_unknown='ignore'`, with one
  *    extra (inert) dimension per block vs sklearn's layout;
  *  - assembler order: numeric block first, then categorical blocks
  *    (sklearn ColumnTransformer declaration order, main ipynb:760-763).
  *
  * Cost choices, none of which changes a feature value or a grown tree:
  *  - ONE multi-column `StringIndexer` over all five categorical columns
  *    (same `alphabetAsc`/`keep` per column): one label-collecting job at
  *    fit time instead of five, and one saved stage instead of five. Its
  *    feature vectors equal those of five single-column indexers;
  *    [[SqlScorer]] reads both layouts, so models saved with five
  *    indexers still score;
  *  - the RF caches each row's current node id between tree levels
  *    (`cacheNodeIds`) instead of re-routing every row from the root of
  *    every tree at every level; the forest is tree-for-tree the same.
  */
object LoanPipeline {

  import LoanSchemas.{categoricalCols, numericCols}

  val featuresCol = "features"

  /** Preprocessing stages shared by every model. */
  def preprocessingStages: Array[PipelineStage] = {
    val medianImpute = new MedianImputer().setInputCols(numericCols.toArray)
    val scale = new PopulationScaler().setInputCols(numericCols.toArray)
    val modeImpute = new StringModeImputer().setInputCols(categoricalCols.toArray)
    val indexer = new StringIndexer()
      .setInputCols(categoricalCols.toArray)
      .setOutputCols(categoricalCols.map(c => s"${c}__idx").toArray)
      .setStringOrderType("alphabetAsc")
      .setHandleInvalid("keep")
    val encoder = new OneHotEncoder()
      .setInputCols(categoricalCols.map(c => s"${c}__idx").toArray)
      .setOutputCols(categoricalCols.map(c => s"${c}__oh").toArray)
      .setDropLast(true)
      .setHandleInvalid("keep")
    val assembler = new VectorAssembler()
      .setInputCols((numericCols ++ categoricalCols.map(c => s"${c}__oh")).toArray)
      .setOutputCol(featuresCol)
    Array(medianImpute, scale, modeImpute, indexer, encoder, assembler)
  }

  /** M6: notebook RF hyperparams (main ipynb:775). */
  def randomForest: RandomForestClassifier = new RandomForestClassifier()
    .setFeaturesCol(featuresCol).setLabelCol("label")
    .setNumTrees(200).setMaxDepth(8).setMinInstancesPerNode(10).setSeed(42L)
    .setCacheNodeIds(true)

  /** M7: `LogisticRegression(max_iter=2000)`, sklearn defaults: L2 with
    * C=1.0 -> regParam = 1/(C*n); sklearn does not re-standardize inside
    * the solver, so standardization=false (features were scaled upstream). */
  def logisticRegression(nTrain: Long): LogisticRegression = new LogisticRegression()
    .setFeaturesCol(featuresCol).setLabelCol("label")
    .setMaxIter(2000)
    .setRegParam(1.0 / nTrain)
    .setElasticNetParam(0.0)
    .setStandardization(false)

  def pipeline(classifier: PipelineStage): Pipeline =
    new Pipeline().setStages(preprocessingStages :+ classifier)

  /** §2.9 README-claimed surface as first-class engine features: k-fold
    * cross-validation over a hyperparameter grid (sklearn GridSearchCV ↔
    * MLlib CrossValidator + ParamGridBuilder). Returns the fitted
    * CrossValidatorModel; `bestModel` is the refit-on-all-data winner,
    * `avgMetrics` the per-grid-point CV scores. Candidate models fit in
    * parallel (`parallelism`) — each fold's fit is itself a distributed
    * job, so this scales in both directions. */
  def crossValidated(prepared: DataFrame,
      gridFor: RandomForestClassifier => Array[ParamMap] = defaultGrid,
      numFolds: Int = 5, seed: Long = 42L,
      parallelism: Int = 4): CrossValidatorModel = {
    // the grid MUST be built against this exact estimator instance — param
    // maps bind by (parent uid, param), so a grid from a different
    // RandomForestClassifier would silently not apply
    val rf = randomForest
    new CrossValidator()
      .setEstimator(pipeline(rf))
      .setEvaluator(new BinaryClassificationEvaluator().setLabelCol("label"))
      .setEstimatorParamMaps(gridFor(rf))
      .setNumFolds(numFolds)
      .setSeed(seed)
      .setParallelism(parallelism)
      .fit(prepared)
  }

  /** Default hyperparameter grid (GridSearchCV parity, README.md:15). */
  def defaultGrid(rf: RandomForestClassifier): Array[ParamMap] =
    new ParamGridBuilder()
      .addGrid(rf.numTrees, Array(100, 200))
      .addGrid(rf.maxDepth, Array(4, 8))
      .addGrid(rf.minInstancesPerNode, Array(1, 10))
      .build()

  /** Full training dataflow of the main notebook (SURVEY §3.2): clean ->
    * label-encode -> stratified 80/20 split (seed 42) -> fit both models ->
    * keep the best. Returns (bestName, bestModel, perModelMetrics). */
  def trainAndSelect(merged: DataFrame, seed: Long = 42L)
      : (String, PipelineModel, Map[String, Evaluation.Report]) = {
    val prepared = LoanTransforms.withLabel(LoanTransforms.cleaned(merged))
      .filter(col("label").isNotNull)
    val (train, test) = StratifiedSplit.split(prepared, "label", 0.8, seed)
    train.cache(); test.cache()
    try {
      val nTrain = train.count()
      val candidates: Seq[(String, PipelineStage)] = Seq(
        "RandomForestClassifier" -> randomForest,
        "LogisticRegression" -> logisticRegression(nTrain))
      val fitted = candidates.map { case (name, clf) =>
        val model = pipeline(clf).fit(train)
        val report = Evaluation.report(model.transform(test))
        (name, model, report)
      }
      // Selection by accuracy (the notebook uses r2_score on labels —
      // reproduced in Evaluation.r2 as a documented quirk, main ipynb:841 —
      // but accuracy is the sane default and picks the same argmax here).
      val (bestName, bestModel, _) = fitted.maxBy(_._3.accuracy)
      (bestName, bestModel, fitted.map(f => f._1 -> f._3).toMap)
    } finally {
      train.unpersist(); test.unpersist()
    }
  }
}
