package graft.sources

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import graft.tick.TickJson.{JArr, JBool, JFloat, JInt, JNull, JStr, JV, obj, sortedObj, writeCompact}

/** The reference's output contract: `models.Result{Series: []Row}` with
  * per-(name,tags) series, `time` first column (models/result.go:9-43) —
  * what httpOut() serves and every golden test compares
  * (edge/messages.go:313-335). [[render]] produces the same JSON shape from
  * any DataFrame; [[httpOutJson]] is the cached-latest-result tap.
  *
  * Collect happens only here, at the result boundary — the operator
  * pipeline itself never materializes on the driver, exactly like the
  * reference where only httpOut holds a rendered Result.
  */
object ResultRenderer {

  case class Series(name: String, tags: Map[String, String], columns: Seq[String], values: Seq[Seq[Any]])
  case class Result(series: Seq[Series])

  /** Group rows into series by the given tag columns; remaining columns
    * become the series columns with `time` forced first when present. */
  def render(df: DataFrame, name: String, tagCols: Seq[String]): Result = {
    val dataCols = df.columns.filterNot(tagCols.contains).toSeq
    val ordered = if (dataCols.contains("time")) "time" +: dataCols.filterNot(_ == "time") else dataCols
    val rows = df.select((tagCols ++ ordered).map(col): _*).collect()
    val bySeries = rows.groupBy(r => tagCols.map(t => t -> Option(r.getAs[Any](t)).fold("")(_.toString)).toMap)
    val series = bySeries.toSeq
      .sortBy(_._1.toSeq.sortBy(_._1).mkString(","))
      .map { case (tags, rs) =>
        Series(name, tags, ordered,
          rs.toSeq.map(r => ordered.map(c => r.getAs[Any](c))))
      }
    Result(series)
  }

  /** One cell as Go's encoding/json renders the reference's `[]interface{}`
    * row values: float64 through [[graft.tick.TickJson.goFloat]] (`85`,
    * `1e-7`), integers bare, times as RFC3339Nano (`…:01.5Z`). */
  private def jsonValue(v: Any): JV = v match {
    case null => JNull
    case s: String => JStr(s)
    case t: java.sql.Timestamp =>
      val i = t.toInstant
      JStr(Replay.rfc3339Nano(i.getEpochSecond * 1000000000L + i.getNano))
    case b: Boolean => JBool(b)
    case l: Long => JInt(l)
    case i: Int => JInt(i.toLong)
    case n: Number => JFloat(n.doubleValue)
    case other => JStr(other.toString)
  }

  /** The httpOut()-equivalent JSON rendering of a Result. */
  def toJson(r: Result): String =
    writeCompact(obj("series" -> JArr(r.series.map { s =>
      obj(
        "name" -> JStr(s.name),
        "tags" -> sortedObj(s.tags.toSeq.map { case (k, v) => k -> jsonValue(v) }),
        "columns" -> JArr(s.columns.map(JStr)),
        "values" -> JArr(s.values.map(row => JArr(row.map(jsonValue)))))
    })))

  def httpOutJson(df: DataFrame, name: String, tagCols: Seq[String]): String =
    toJson(render(df, name, tagCols))
}
