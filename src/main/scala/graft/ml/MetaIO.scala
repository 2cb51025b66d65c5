package graft.ml

import org.apache.hadoop.fs.Path
import org.apache.spark.ml.param.Params
import org.apache.spark.sql.SparkSession

/** Metadata reader/writer compatible with Spark ML's DefaultParamsReader
  * JSON layout (class/timestamp/sparkVersion/uid/paramMap/defaultParamMap),
  * so graft's custom stages participate in native `Pipeline.save` /
  * `PipelineModel.load` round-trips. Spark's own DefaultParamsWriter is
  * `private[ml]`, hence this public-API reimplementation (format documented
  * in the Spark source: ml/util/ReadWrite.scala).
  */
private[graft] object MetaIO {
  import org.json4s._
  import org.json4s.JsonDSL._
  import org.json4s.jackson.JsonMethods._

  def write(instance: Params, className: String, path: String,
      spark: SparkSession, paramMap: JObject = JObject()): Unit = {
    val json: JObject =
      ("class" -> className) ~
      ("timestamp" -> System.currentTimeMillis()) ~
      ("sparkVersion" -> spark.version) ~
      ("uid" -> instance.uid) ~
      ("paramMap" -> paramMap) ~
      ("defaultParamMap" -> JObject())
    val metadataPath = new Path(path, "metadata").toString
    import spark.implicits._
    spark.createDataset(Seq(compact(render(json)))).coalesce(1)
      .write.mode("overwrite").text(metadataPath)
  }

  /** paramMap JSON for a stage whose only param is `inputCols` (unset →
    * empty map, matching DefaultParamsWriter's explicit-params-only rule). */
  def inputColsJson(cols: Option[Array[String]]): JObject =
    cols.fold(JObject())(a => JObject("inputCols" -> JArray(a.toList.map(JString(_)))))

  /** Extracts `inputCols` from a parsed paramMap, if persisted. Fails
    * loudly on malformed metadata (non-string array elements) rather than
    * silently truncating the column list. */
  def readInputCols(paramMap: JValue): Option[Array[String]] =
    paramMap \ "inputCols" match {
      case JArray(vs) =>
        val strs = vs.collect { case JString(s) => s }
        require(strs.size == vs.size,
          s"malformed inputCols metadata: expected JSON strings, got ${vs.mkString(", ")}")
        Some(strs.toArray)
      case _ => None
    }

  /** Returns (uid, parsed paramMap). */
  def read(path: String, spark: SparkSession): (String, JValue) = {
    val metadataPath = new Path(path, "metadata").toString
    val line = spark.read.text(metadataPath).head().getString(0)
    implicit val fmt: Formats = DefaultFormats
    val json = parse(line)
    ((json \ "uid").extract[String], json \ "paramMap")
  }

  def dataPath(path: String): String = new Path(path, "data").toString
}
