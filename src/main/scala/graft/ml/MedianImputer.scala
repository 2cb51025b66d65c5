package graft.ml

import org.apache.spark.ml.{Estimator, Model}
import org.apache.spark.ml.param.{ParamMap, Params, StringArrayParam}
import org.apache.spark.ml.util.{Identifiable, MLReadable, MLReader, MLWritable, MLWriter}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** M1: median imputation over multiple numeric columns with sklearn
  * `SimpleImputer(strategy='median')` parity (main ipynb:750-753).
  *
  * MLlib's stock `Imputer` uses `approxQuantile`, which returns an actual
  * element — numpy/sklearn interpolate between the two middle values on
  * even counts. This stage computes the exact interpolated median via the
  * SQL `percentile` aggregate for *all* columns in ONE pass (a single agg
  * job regardless of column count).
  */
private[graft] trait MedianImputerParams extends Params {
  final val inputCols = new StringArrayParam(this, "inputCols", "columns to impute")
  final def getInputCols: Array[String] = $(inputCols)
}

class MedianImputer(override val uid: String)
    extends Estimator[MedianImputerModel] with MedianImputerParams {
  def this() = this(Identifiable.randomUID("graft_median_imputer"))
  def setInputCols(v: Array[String]): this.type = set(inputCols, v)

  override def fit(ds: Dataset[_]): MedianImputerModel = {
    val df = ds.toDF()
    val aggs = $(inputCols).toIndexedSeq.map(c =>
      expr(s"percentile(`$c`, 0.5D)").as(c))
    val row = df.select(aggs: _*).head()
    val medians = $(inputCols).indices.map { i =>
      // fail fast: an all-null column has no median, and imputing NaN
      // would silently poison every downstream feature
      require(!row.isNullAt(i),
        s"MedianImputer: column '${$(inputCols)(i)}' is entirely null; " +
          "drop it or impute it by other means")
      $(inputCols)(i) -> row.getDouble(i)
    }.toMap
    copyValues(new MedianImputerModel(uid, medians).setParent(this))
  }

  override def copy(extra: ParamMap): MedianImputer = defaultCopy(extra)
  override def transformSchema(schema: StructType): StructType = schema
}

class MedianImputerModel(override val uid: String, val medians: Map[String, Double])
    extends Model[MedianImputerModel] with MedianImputerParams with MLWritable {

  override def transform(ds: Dataset[_]): DataFrame =
    medians.foldLeft(ds.toDF()) { case (df, (c, m)) =>
      df.withColumn(c, coalesce(col(c), lit(m)))
    }

  override def transformSchema(schema: StructType): StructType = schema
  override def copy(extra: ParamMap): MedianImputerModel =
    copyValues(new MedianImputerModel(uid, medians), extra).setParent(parent)

  override def write: MLWriter = new MLWriter {
    override protected def saveImpl(path: String): Unit = {
      MetaIO.write(MedianImputerModel.this,
        classOf[MedianImputerModel].getName, path, sparkSession,
        MetaIO.inputColsJson(get(inputCols)))
      val ss = sparkSession
      import ss.implicits._
      medians.toSeq.toDF("col", "median")
        .coalesce(1).write.mode("overwrite").parquet(MetaIO.dataPath(path))
    }
  }
}

object MedianImputerModel extends MLReadable[MedianImputerModel] {
  override def read: MLReader[MedianImputerModel] = new MLReader[MedianImputerModel] {
    override def load(path: String): MedianImputerModel = {
      val (uid, paramMap) = MetaIO.read(path, sparkSession)
      val medians = sparkSession.read.parquet(MetaIO.dataPath(path))
        .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
      val m = new MedianImputerModel(uid, medians)
      MetaIO.readInputCols(paramMap).foreach(m.set(m.inputCols, _))
      m
    }
  }
}
