package graft.loan

import org.apache.spark.ml.PipelineModel
import org.apache.spark.ml.classification.LogisticRegressionModel
import org.apache.spark.ml.feature.{StringIndexerModel, VectorAssembler}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.ml.{MedianImputerModel, PopulationScalerModel, StringModeImputerModel}

/** Operator-fusion inference: compiles a fitted loan `PipelineModel`
  * (median-impute → scale → mode-impute → one-hot → logistic regression)
  * into ONE Catalyst expression computing the decision margin — no
  * feature vector is ever materialized, no MLlib transformer runs at
  * scoring time, and the whole scorer lives inside WholeStageCodegen as a
  * scan-side projection. This is the "ML inference as pure SQL" shape
  * (cf. ICDE'25 operator-fusion line of work): batch scoring at 100 TB
  * becomes a plain column expression with zero per-stage row copies.
  *
  * The fusion is algebraic, not approximate:
  * `margin = b + Σ_num w_i·(coalesce(x_i, median_i) − mean_i)/std_i
  *             + Σ_cat w_{c,value}` — the one-hot dot product collapses
  * to a per-column `when` lookup of the matched category's coefficient.
  * Unknown categories take the indexer keep-bucket slot's coefficient
  * (slot index = numLabels; it never activates in training, so L2 pins
  * it to ~0 — behaviorally sklearn's handle_unknown='ignore', but the
  * slot is real and the compiled layout must include it, exactly as the
  * assembled vector does). Term order follows the assembler's
  * slot order, the same left-to-right order as MLlib's dense dot, so
  * scores agree to float round-off (LoanSpec pins ≤ 1e-10 and exact
  * prediction equality).
  *
  * Tree ensembles are deliberately NOT compiled: 200 trees × depth 8
  * would explode the generated code past JIT limits; they stay on the
  * MLlib path ([[Scorer]]).
  */
object SqlScorer {

  /** The fused decision-margin expression for a fitted LR pipeline. */
  def marginExpr(model: PipelineModel): Column = {
    val stages = model.stages
    def stage[T](pf: PartialFunction[Any, T], what: String): T =
      stages.collectFirst(pf).getOrElse(throw new IllegalArgumentException(
        s"SqlScorer needs a $what stage in the fitted pipeline"))

    val medians = stage({ case m: MedianImputerModel => m.medians }, "MedianImputerModel")
    val scalerStats = stage({ case s: PopulationScalerModel => s.stats }, "PopulationScalerModel")
    val modes = stage({ case m: StringModeImputerModel => m.modes }, "StringModeImputerModel")
    val assembler = stage({ case a: VectorAssembler => a }, "VectorAssembler")
    val lr = stage({ case m: LogisticRegressionModel => m },
      "LogisticRegressionModel (tree ensembles are not compilable — use Scorer)")
    // one multi-column indexer, or one single-column indexer per column
    // (the layout of models saved before the indexers were merged)
    val labelsByCol = stages.collect { case i: StringIndexerModel =>
      val cols = if (i.isSet(i.inputCols)) i.getInputCols else Array(i.getInputCol)
      cols.zip(i.labelsArray.map(_.toSeq))
    }.flatten.toMap

    val w = lr.coefficients.toArray
    var off = 0
    val terms = Seq.newBuilder[Column]
    assembler.getInputCols.foreach {
      case c if scalerStats.contains(c) =>
        val (mean, std) = scalerStats(c)
        val x = (coalesce(col(c), lit(medians(c))) - lit(mean)) / lit(std)
        terms += x * lit(w(off))
        off += 1
      case oh if oh.endsWith("__oh") =>
        val c = oh.stripSuffix("__oh")
        val labels = labelsByCol.getOrElse(c, throw new IllegalArgumentException(
          s"no StringIndexerModel for categorical column $c"))
        val v = coalesce(col(c), lit(modes(c)))
        // one-hot ⋅ w == coefficient of the matched category; unmatched
        // values land in the indexer keep bucket = the block's LAST slot
        // (dropLast removes the ENCODER's extra invalid category, not the
        // indexer's keep index — verified against the assembled vectors)
        val lookup = labels.zipWithIndex
          .foldLeft(when(lit(false), 0.0)) { case (acc, (label, k)) =>
            acc.when(v === lit(label), lit(w(off + k)))
          }
          .otherwise(lit(w(off + labels.length)))
        terms += lookup
        off += labels.length + 1
      case other => throw new IllegalArgumentException(
        s"unrecognized assembler input $other — not a scaled numeric or one-hot block")
    }
    require(off == w.length,
      s"feature-layout mismatch: expression covers $off slots, model has ${w.length}")
    terms.result().foldLeft(lit(lr.intercept))(_ + _)
  }

  /** Scores `df` with the fused expression: `p1` (positive-class
    * probability, the sigmoid of the margin) and `prediction` (default 0.5
    * threshold ⇔ margin sign), matching `PipelineModel.transform`'s
    * `probability[1]` / `prediction` columns. */
  def score(model: PipelineModel, df: DataFrame): DataFrame = {
    val margin = marginExpr(model)
    df.withColumn("p1", lit(1.0) / (lit(1.0) + exp(-margin)))
      .withColumn("prediction", (margin > 0).cast("double"))
  }
}
