package graftbench

import java.io.File
import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.json4s._
import org.json4s.jackson.JsonMethods.parse
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.JdbcUpsert

/** Every workload at smoke scale, traced, so a broken harness fails here
  * before any timed run: outputs pass their checks, and the result object
  * carries exactly the metrics BENCHMARK.json declares. */
class SmokeSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val work = new File("work/smoke").getAbsoluteFile
  private lazy val spark: SparkSession = Main.session(2, work.getPath)

  override def beforeAll(): Unit = {
    Files.createDirectories(work.toPath)
    System.setProperty("derby.stream.error.file", s"$work/derby.log")
    System.setProperty("derby.language.statementCacheSize", "0")
  }

  override def afterAll(): Unit = spark.stop()

  private implicit val formats: Formats = DefaultFormats

  private lazy val declared: JValue = parse(new File("../BENCHMARK.json"))

  private def declaredMetrics(group: String): Seq[(String, String, String)] =
    (declared \ group).children.map(m => ((m \ "name").extract[String],
      (m \ "unit").extract[String], (m \ "better").extract[String]))

  test("Metrics mirrors BENCHMARK.json") {
    assert(Metrics.endToEnd.map(d => (d.name, d.unit, d.better)) == declaredMetrics("end_to_end"))
    assert(Metrics.perLayer.map(d => (d.name, d.unit, d.better)) == declaredMetrics("per_layer"))
    assert((declared \ "workloads").children.map(w => (w \ "name").extract[String]).toSet ==
      Main.workloads.keySet)
  }

  test("LoanTrain.wins keeps the row JdbcUpsert.dedupLastWins keeps") {
    import spark.implicits._
    val rows = Seq(
      ("a", Some("x"), Some(1.0)), ("a", Some("x"), Some(2.0)), ("a", None, Some(9.0)),
      ("b", None, None), ("b", None, Some(-1.0)),
      ("c", Some("y"), None), ("c", Some("z"), None), ("c", Some("z"), Some(0.5)))
    val df = rows.toDF("k", "s", "d")
    val kept = JdbcUpsert.dedupLastWins(df, Seq("k"), Seq()).collect()
      .map(r => r.getString(0) -> Seq[Any](r.get(1), r.get(2))).toMap
    val byWins = rows.groupBy(_._1).map { case (k, rs) =>
      k -> rs.map(r => Seq[Any](r._2.orNull, r._3.map(Double.box).orNull))
        .reduce((a, b) => if (LoanTrain.wins(a, b)) a else b)
    }
    assert(kept == byWins)
  }

  Main.workloads.keys.toSeq.sorted.foreach { name =>
    test(s"$name runs at smoke scale and passes its checks") {
      val args = Args(name, seed = 7, seconds = 1, trace = true, work = s"$work/$name",
        out = s"$work/out", cores = 2, sizes = Sizes.tiny)
      val o = Main.workloads(name)(new Ctx(spark, args))
      assert(o.attempted > 0)
      assert(o.failed == 0)
      Metrics.endToEnd.foreach(d => assert(o.endToEnd(d.name) > 0, d.name))
      for (trace <- Seq(false, true)) {
        val r = parse(Main.result(trace, o))
        assert((r \ "correct").extract[Boolean])
        val group = if (trace) "per_layer" else "end_to_end"
        assert((r \ "metrics").asInstanceOf[JObject].obj.map(_._1) ==
          declaredMetrics(group).map(_._1))
      }
      assert(o.spans.nonEmpty)
      assert(o.spans.forall(s => s.end >= s.start))
    }
  }
}
