package graft.ml

import org.apache.spark.ml.{Estimator, Model}
import org.apache.spark.ml.param.{ParamMap, Params, StringArrayParam}
import org.apache.spark.ml.util.{Identifiable, MLReadable, MLReader, MLWritable, MLWriter}
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** M3: most-frequent imputation for string columns — MLlib's `Imputer` is
  * numeric-only (SURVEY §2.7 M3, §7.3). sklearn parity: ties broken by the
  * lexicographically smallest value (`SimpleImputer(strategy=
  * 'most_frequent')`, main ipynb:756).
  *
  * The fit melts all columns into (column, value) pairs with `stack` and
  * aggregates once — one distributed job for any number of columns, one
  * tiny (n_cols × n_distinct) shuffle, no per-column scan loop.
  */
private[graft] trait StringModeImputerParams extends Params {
  final val inputCols = new StringArrayParam(this, "inputCols", "columns to impute")
  final def getInputCols: Array[String] = $(inputCols)
}

class StringModeImputer(override val uid: String)
    extends Estimator[StringModeImputerModel] with StringModeImputerParams {
  def this() = this(Identifiable.randomUID("graft_mode_imputer"))
  def setInputCols(v: Array[String]): this.type = set(inputCols, v)

  override def fit(ds: Dataset[_]): StringModeImputerModel = {
    val cols = $(inputCols)
    val stackExpr = cols.map(c => s"'$c', `$c`").mkString(", ")
    val melted = ds.toDF()
      .select(expr(s"stack(${cols.length}, $stackExpr) as (c, v)"))
      .filter(col("v").isNotNull)
    val byCol = Window.partitionBy(col("c"))
      .orderBy(desc("cnt"), col("v"))
    val modes = melted.groupBy(col("c"), col("v")).agg(count(lit(1)).as("cnt"))
      .withColumn("rn", row_number().over(byCol))
      .filter(col("rn") === 1)
      .select(col("c"), col("v"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    copyValues(new StringModeImputerModel(uid, modes).setParent(this))
  }

  override def copy(extra: ParamMap): StringModeImputer = defaultCopy(extra)
  override def transformSchema(schema: StructType): StructType = schema
}

class StringModeImputerModel(override val uid: String, val modes: Map[String, String])
    extends Model[StringModeImputerModel] with StringModeImputerParams with MLWritable {

  override def transform(ds: Dataset[_]): DataFrame =
    modes.foldLeft(ds.toDF()) { case (df, (c, m)) =>
      df.withColumn(c, coalesce(col(c), lit(m)))
    }

  override def transformSchema(schema: StructType): StructType = schema
  override def copy(extra: ParamMap): StringModeImputerModel =
    copyValues(new StringModeImputerModel(uid, modes), extra).setParent(parent)

  override def write: MLWriter = new MLWriter {
    override protected def saveImpl(path: String): Unit = {
      MetaIO.write(StringModeImputerModel.this,
        classOf[StringModeImputerModel].getName, path, sparkSession,
        MetaIO.inputColsJson(get(inputCols)))
      val ss = sparkSession
      import ss.implicits._
      modes.toSeq.toDF("col", "mode")
        .coalesce(1).write.mode("overwrite").parquet(MetaIO.dataPath(path))
    }
  }
}

object StringModeImputerModel extends MLReadable[StringModeImputerModel] {
  override def read: MLReader[StringModeImputerModel] = new MLReader[StringModeImputerModel] {
    override def load(path: String): StringModeImputerModel = {
      val (uid, paramMap) = MetaIO.read(path, sparkSession)
      val modes = sparkSession.read.parquet(MetaIO.dataPath(path))
        .collect().map(r => r.getString(0) -> r.getString(1)).toMap
      val m = new StringModeImputerModel(uid, modes)
      MetaIO.readInputCols(paramMap).foreach(m.set(m.inputCols, _))
      m
    }
  }
}
