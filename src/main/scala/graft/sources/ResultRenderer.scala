package graft.sources

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import graft.tick.TickJson.escapeGo

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

  private def jsonValue(v: Any): String = v match {
    case null => "null"
    case s: String => escapeGo(s)
    case t: java.sql.Timestamp => "\"" + t.toInstant.toString + "\""
    case b: Boolean => b.toString
    case n => n.toString
  }

  /** The httpOut()-equivalent JSON rendering of a Result. */
  def toJson(r: Result): String = {
    val series = r.series.map { s =>
      val tags = s.tags.toSeq.sortBy(_._1)
        .map { case (k, v) => s"${escapeGo(k)}:${jsonValue(v)}" }.mkString("{", ",", "}")
      val cols = s.columns.map(escapeGo).mkString("[", ",", "]")
      val vals = s.values.map(_.map(jsonValue).mkString("[", ",", "]")).mkString("[", ",", "]")
      s"""{"name":${escapeGo(s.name)},"tags":$tags,"columns":$cols,"values":$vals}"""
    }.mkString("[", ",", "]")
    s"""{"series":$series}"""
  }

  def httpOutJson(df: DataFrame, name: String, tagCols: Seq[String]): String =
    toJson(render(df, name, tagCols))
}
