package graft.loan

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** M9: stratified train/test split (sklearn `train_test_split(stratify=y)`,
  * main ipynb:817-818). Spark has no built-in; this uses a per-row
  * deterministic uniform draw + per-class rank so the split is (a) an exact
  * partition of the input, (b) reproducible for a given seed regardless of
  * partitioning, (c) fully distributed (window over each class, no driver
  * collect).
  *
  * Rows are ranked within each class by a seeded hash; the first
  * ceil(trainFraction * classCount) go to train. Proportions are therefore
  * exact per class (like sklearn), not merely expected (like `sampleBy`).
  *
  * Output layout: each side is dealt over the session's
  * `spark.sql.shuffle.partitions` by its seeded-hash rank (row of rank r
  * goes to partition r mod n), so every partition of either side holds
  * the same number of rows of each class, give or take one. The layout
  * follows from row content alone, not from the input's partitioning.
  * Without it each side would keep the window's label-keyed layout — one
  * non-empty partition per class — and every later fit, evaluation and
  * save would run on at most #classes tasks at any cluster size. The
  * partition count is explicit, so AQE does not coalesce small sides back
  * into one partition.
  *
  * Size cliff (not fixed here): the class-keyed window itself still runs
  * as one task per class, so the rank step holds a whole class in one
  * task however large the input grows.
  *
  * Duplicate rows: identical rows share a hash, so their relative rank is
  * arbitrary — but they are interchangeable, so the split is deterministic
  * AS A MULTISET (train+test always re-compose the input; per-class counts
  * always exact). Only "which physical copy" of a duplicated row lands on
  * which side can vary, which no value-based consumer can observe.
  */
object StratifiedSplit {

  def split(df: DataFrame, labelCol: String, trainFraction: Double, seed: Long)
      : (DataFrame, DataFrame) = {
    import org.apache.spark.sql.expressions.Window
    require(trainFraction > 0 && trainFraction < 1, "trainFraction in (0,1)")
    val byClass = Window.partitionBy(col(labelCol))
    // xxhash64 of (all columns, seed) -> deterministic pseudo-uniform order
    val orderKey = xxhash64(df.columns.map(col).toIndexedSeq :+ lit(seed): _*)
    val ranked = df
      .withColumn("__rk", row_number().over(byClass.orderBy(orderKey)))
      .withColumn("__n", count(lit(1)).over(byClass))
      .withColumn("__train", col("__rk") <= ceil(col("__n") * trainFraction))
    val partitions = df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    def side(train: Column): DataFrame = ranked.filter(train)
      .repartitionById(partitions, pmod(col("__rk"), lit(partitions)))
      .drop("__rk", "__n", "__train")
    (side(col("__train")), side(!col("__train")))
  }
}
