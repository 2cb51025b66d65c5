package graft.ml

import org.apache.spark.ml.{Estimator, Model}
import org.apache.spark.ml.param.{ParamMap, Params, StringArrayParam}
import org.apache.spark.ml.util.{Identifiable, MLReadable, MLReader, MLWritable, MLWriter}
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** M2: per-column standardization with sklearn `StandardScaler` parity.
  *
  * sklearn divides by the *population* std (ddof=0); MLlib's StandardScaler
  * uses the sample std (ddof=1) — a silent train-score skew if mixed
  * (SURVEY §2.7 M2). This stage computes mean and ddof=0 std in one agg
  * pass over all columns and rewrites each as `(x - mean) / std`
  * (columns with zero variance pass through unscaled, like sklearn's
  * `scale_=1` fallback).
  */
private[graft] trait PopulationScalerParams extends Params {
  final val inputCols = new StringArrayParam(this, "inputCols", "columns to scale")
  final def getInputCols: Array[String] = $(inputCols)
}

class PopulationScaler(override val uid: String)
    extends Estimator[PopulationScalerModel] with PopulationScalerParams {
  def this() = this(Identifiable.randomUID("graft_pop_scaler"))
  def setInputCols(v: Array[String]): this.type = set(inputCols, v)

  override def fit(ds: Dataset[_]): PopulationScalerModel = {
    val cols = $(inputCols).toIndexedSeq
    val aggs = cols.flatMap(c =>
      Seq(avg(col(c)).as(s"${c}__mean"), stddev_pop(col(c)).as(s"${c}__std")))
    val row = ds.toDF().select(aggs: _*).head()
    val stats = cols.zipWithIndex.map { case (c, i) =>
      val mean = if (row.isNullAt(2 * i)) 0.0 else row.getDouble(2 * i)
      val std0 = if (row.isNullAt(2 * i + 1)) 1.0 else row.getDouble(2 * i + 1)
      val std = if (std0 == 0.0) 1.0 else std0
      c -> ((mean, std))
    }.toMap
    copyValues(new PopulationScalerModel(uid, stats).setParent(this))
  }

  override def copy(extra: ParamMap): PopulationScaler = defaultCopy(extra)
  override def transformSchema(schema: StructType): StructType = schema
}

class PopulationScalerModel(override val uid: String,
    val stats: Map[String, (Double, Double)])
    extends Model[PopulationScalerModel] with PopulationScalerParams with MLWritable {

  override def transform(ds: Dataset[_]): DataFrame =
    stats.foldLeft(ds.toDF()) { case (df, (c, (mean, std))) =>
      df.withColumn(c, (col(c) - lit(mean)) / lit(std))
    }

  override def transformSchema(schema: StructType): StructType = schema
  override def copy(extra: ParamMap): PopulationScalerModel =
    copyValues(new PopulationScalerModel(uid, stats), extra).setParent(parent)

  override def write: MLWriter = new MLWriter {
    override protected def saveImpl(path: String): Unit = {
      MetaIO.write(PopulationScalerModel.this,
        classOf[PopulationScalerModel].getName, path, sparkSession,
        MetaIO.inputColsJson(get(inputCols)))
      val ss = sparkSession
      import ss.implicits._
      stats.toSeq.map { case (c, (m, s)) => (c, m, s) }.toDF("col", "mean", "std")
        .coalesce(1).write.mode("overwrite").parquet(MetaIO.dataPath(path))
    }
  }
}

object PopulationScalerModel extends MLReadable[PopulationScalerModel] {
  override def read: MLReader[PopulationScalerModel] = new MLReader[PopulationScalerModel] {
    override def load(path: String): PopulationScalerModel = {
      val (uid, paramMap) = MetaIO.read(path, sparkSession)
      val stats = sparkSession.read.parquet(MetaIO.dataPath(path))
        .collect().map(r => r.getString(0) -> ((r.getDouble(1), r.getDouble(2)))).toMap
      val m = new PopulationScalerModel(uid, stats)
      MetaIO.readInputCols(paramMap).foreach(m.set(m.inputCols, _))
      m
    }
  }
}
