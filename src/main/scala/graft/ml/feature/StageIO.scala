package graft.ml.feature

import scala.reflect.runtime.universe.TypeTag

import org.apache.spark.ml.param.{DoubleArrayParam, DoubleParam, Param, Params}
import org.apache.spark.ml.util.{MLReader, MLWriter}
import org.apache.spark.sql.{Column, DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions.{col, lit, struct, to_json}
import org.apache.spark.sql.graftshim.DriverParquet
import org.apache.spark.sql.types.StructType
import org.json4s.{JInt, JNull, JObject, JString, jvalue2monadic}
import org.json4s.jackson.JsonMethods.{compact, parse, render}

/** The artifact layout of every `graft.ml.feature` stage, in the
  * reference's route (RapidsPCA.scala:218-253): a Spark-ML `metadata/`
  * document, so `Pipeline.load` finds the stage's reader, and one
  * parquet row of plain columns, readable by any parquet reader, DuckDB
  * included.
  *
  *  - An estimator's `params/` row is `uid` plus one column per
  *    explicitly-set param, named after the param.
  *  - A model's `data/` row (IDF: `meta/`) is the same fields as a
  *    `params` struct, then the stage's own payload columns.
  *
  * Save and load run on the driver, with no Spark job
  * ([[org.apache.spark.sql.graftshim.DriverParquet]]): each row is
  * built as a one-row local Dataset, collected without a job and
  * written through Spark's own parquet writer, one part file per
  * directory. A load takes the schema from the part file's footer,
  * decodes the row into a local DataFrame and sets each present,
  * non-null field through the param's own `jsonDecode`. An absent
  * field leaves its param unset, so an artifact written before a param
  * existed loads as it is; a field that names no param fails the load,
  * and so does a directory that holds other than one row. */
private[feature] object StageIO {

  /** `uid`, then one literal per explicitly-set param. */
  private[feature] def paramsFields(stage: Params): Seq[Column] =
    lit(stage.uid).as("uid") +: stage.params.toSeq.flatMap(p =>
      stage.get(p).map(v => lit(v).as(p.name)))

  /** `make(uid)` with every field of a `to_json`'d params row set. */
  private def build[T <: Params](json: String, make: String => T): T = {
    val fields = parse(json).asInstanceOf[JObject].obj
    val stage = make(fields.collectFirst { case ("uid", JString(u)) => u }
      .getOrElse(throw new IllegalArgumentException(s"params row without uid: $json")))
    fields.foreach {
      case ("uid", _) | (_, JNull) =>
      case (name, v) =>
        require(stage.hasParam(name),
          s"params field '$name' names no param of ${stage.getClass.getName}")
        val p = stage.getParam(name)
        // to_json spells infinities "Infinity"; DoubleParam reads "Inf"
        val value = (p: Any) match {
          case _: DoubleParam | _: DoubleArrayParam => v.transform {
            case JString("Infinity") => JString("Inf")
            case JString("-Infinity") => JString("-Inf")
          }
          case _ => v
        }
        stage.set(p, p.jsonDecode(compact(render(value))))
    }
    stage
  }

  /** `path/metadata`: the DefaultParamsWriter document, every value
    * rendered by its param's `jsonEncode`. */
  private def writeMetadata(path: String, spark: SparkSession, stage: Params): Unit = {
    val paramMap = stage.params.toList.flatMap(p => stage.get(p).map(v =>
      p.name -> parse(p.asInstanceOf[Param[Any]].jsonEncode(v))))
    val doc = JObject("class" -> JString(stage.getClass.getName),
      "timestamp" -> JInt(System.currentTimeMillis()),
      "sparkVersion" -> JString(spark.version), "uid" -> JString(stage.uid),
      "paramMap" -> JObject(paramMap), "defaultParamMap" -> JObject())
    DriverParquet.writeTextLine(spark, compact(render(doc)), s"$path/metadata")
  }

  class EstimatorWriter(stage: Params) extends MLWriter {
    override protected def saveImpl(path: String): Unit = {
      DriverParquet.writeParquet(sparkSession.createDataFrame(
        java.util.List.of(Row.empty), new StructType()).select(paramsFields(stage): _*),
        s"$path/params")
      writeMetadata(path, sparkSession, stage)
    }
  }

  class EstimatorReader[T <: Params](make: String => T) extends MLReader[T] {
    override def load(path: String): T = {
      val row = DriverParquet.readSingleRow(sparkSession, s"$path/params")
      build(row.select(to_json(struct(row.columns.toSeq.map(row.col): _*)))
        .as(Encoders.STRING).head(), make)
    }
  }

  class ModelWriter[P <: Product : TypeTag](stage: Params, payload: P,
      dir: String = "data") extends MLWriter {
    override protected def saveImpl(path: String): Unit = {
      DriverParquet.writeParquet(sparkSession.createDataset(Seq(payload))(Encoders.product[P])
        .select(struct(paramsFields(stage): _*).as("params"), col("*")), s"$path/$dir")
      writeMetadata(path, sparkSession, stage)
    }
  }

  /** `fix` patches an older payload layout before it is decoded. */
  class ModelReader[P <: Product : TypeTag, T <: Params](make: (String, P) => T,
      dir: String = "data", fix: DataFrame => DataFrame = identity)
      extends MLReader[T] {
    override def load(path: String): T = {
      val row = fix(DriverParquet.readSingleRow(sparkSession, s"$path/$dir"))
      val payload = row.columns.toSeq.filter(_ != "params").map(row.col)
      val (json, p) = row.select(to_json(row.col("params")), struct(payload: _*))
        .as(Encoders.tuple(Encoders.STRING, Encoders.product[P])).head()
      build(json, make(_, p))
    }
  }
}
