package graft

import java.nio.file.Files

import org.apache.spark.ml.{Pipeline, PipelineModel}
import org.apache.spark.sql.functions._

import graft.ml._
import graft.loan.StratifiedSplit

/** Specs for the sklearn-parity custom MLlib stages (SURVEY §2.7 M1-M3, M9)
  * and their native Pipeline persistence round-trip.
  */
class MlSpec extends SparkSpec {
  import spark.implicits._

  test("MedianImputer computes the interpolated median (sklearn parity)") {
    // Even count: numpy median of [1,2,3,4] is 2.5 — approxQuantile would
    // return an actual element (2.0 or 3.0); the stage must interpolate.
    val df = Seq(Some(1.0), Some(2.0), Some(3.0), Some(4.0), None).toDF("x")
    val model = new MedianImputer().setInputCols(Array("x")).fit(df)
    assert(model.medians("x") == 2.5)
    val out = model.transform(df).select("x").collect().map(_.getDouble(0))
    assert(out.sorted.toSeq == Seq(1.0, 2.0, 2.5, 3.0, 4.0))
  }

  test("MedianImputer fails fast on an all-null column") {
    val df = Seq[Option[Double]](None, None, None).toDF("x")
    val e = intercept[IllegalArgumentException] {
      new MedianImputer().setInputCols(Array("x")).fit(df)
    }
    assert(e.getMessage.contains("entirely null"))
  }

  test("StringModeImputer fills with mode, ties to smallest value") {
    val df = Seq(Some("b"), Some("a"), Some("b"), Some("a"), None, Some("c"))
      .toDF("s")
    val model = new StringModeImputer().setInputCols(Array("s")).fit(df)
    assert(model.modes("s") == "a") // tie a/b -> lexicographically smallest
    val filled = model.transform(df).select("s").collect().map(_.getString(0))
    assert(!filled.contains(null) && filled.count(_ == "a") == 3)
  }

  test("PopulationScaler uses ddof=0 (population std), zero-var passthrough") {
    val df = Seq((1.0, 7.0), (2.0, 7.0), (3.0, 7.0), (4.0, 7.0)).toDF("x", "k")
    val model = new PopulationScaler().setInputCols(Array("x", "k")).fit(df)
    val (mean, std) = model.stats("x")
    assert(mean == 2.5 && math.abs(std - math.sqrt(1.25)) < 1e-12) // ddof=0
    assert(model.stats("k") == ((7.0, 1.0))) // zero variance -> scale 1
    val first = model.transform(df).orderBy("x").select("x").head().getDouble(0)
    assert(math.abs(first - (1.0 - 2.5) / math.sqrt(1.25)) < 1e-12)
  }

  test("custom stages survive a native PipelineModel save/load round-trip") {
    val df = Seq(
      (Some(1.0), Some("a")), (Some(2.0), None), (None, Some("b")),
      (Some(4.0), Some("a"))).toDF("x", "s")
    val pipe = new Pipeline().setStages(Array(
      new MedianImputer().setInputCols(Array("x")),
      new PopulationScaler().setInputCols(Array("x")),
      new StringModeImputer().setInputCols(Array("s"))))
    val model = pipe.fit(df)
    val dir = Files.createTempDirectory("graft-ml-io").toString + "/pipe"
    model.write.overwrite().save(dir)
    val loaded = PipelineModel.load(dir)
    val a = model.transform(df).orderBy("x", "s").collect().toSeq
    val b = loaded.transform(df).orderBy("x", "s").collect().toSeq
    assert(a == b)
    // params survive the round-trip too: getInputCols on a loaded stage
    // must not throw (paramMap is persisted, not just the fitted data)
    val loadedCols = loaded.stages.map {
      case m: MedianImputerModel => m.getInputCols.toSeq
      case m: PopulationScalerModel => m.getInputCols.toSeq
      case m: StringModeImputerModel => m.getInputCols.toSeq
      case other => fail(s"unexpected pipeline stage after load: $other")
    }
    assert(loadedCols.toSeq == Seq(Seq("x"), Seq("x"), Seq("s")))
  }

  test("StratifiedSplit is an exact per-class partition, repartition-invariant") {
    val df = (1 to 100).map(i => (i.toLong, if (i % 4 == 0) 1.0 else 0.0))
      .toDF("id", "label")
    val (train, test) = StratifiedSplit.split(df, "label", 0.8, seed = 42L)
    // exact partition of the input
    assert(train.count() + test.count() == 100)
    assert(train.intersect(test).count() == 0)
    // exact per-class proportions: ceil(0.8*25)=20, ceil(0.8*75)=60
    val byClass = train.groupBy("label").count().collect()
      .map(r => r.getDouble(0) -> r.getLong(1)).toMap
    assert(byClass(1.0) == 20L && byClass(0.0) == 60L)
    // deterministic under physical re-partitioning
    val (train2, _) = StratifiedSplit.split(df.repartition(7), "label", 0.8, 42L)
    assert(train.select("id").except(train2.select("id")).count() == 0)
  }

  test("StratifiedSplit spreads both sides evenly over the shuffle partitions") {
    assert(spark.conf.get("spark.sql.shuffle.partitions") == "4")
    val df = (1 to 2000).map(i => (i.toLong, if (i % 3 == 0) 1.0 else 0.0))
      .toDF("id", "label")
    val (train, test) = StratifiedSplit.split(df, "label", 0.8, seed = 42L)
    Seq("train" -> train, "test" -> test).foreach { case (side, part) =>
      val sizes = part.rdd.mapPartitions(it => Iterator(it.size)).collect()
      assert(sizes.length == 4, s"$side: ${sizes.mkString("/")}")
      assert(sizes.min > 0 && sizes.max <= 1.5 * sizes.min,
        s"$side partition sizes ${sizes.mkString("/")}")
    }
  }
}
