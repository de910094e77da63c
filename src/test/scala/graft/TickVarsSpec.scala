package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.tick.TickVars
import graft.tick.TickVars.Var

/** Pins [[graft.tick.TickVars]] — the `vars` field of template/task GET
  * responses — to the client API value table (client/API.md §vars,
  * client/v1/client.go:825) and tick/eval.go's default-var extraction
  * (types :275-297, descriptions from the comment above :301-309,
  * evaluated values :386-399).
  */
class TickVarsSpec extends AnyFunSuite {

  test("the reference load template: every var typed like the API") {
    val script = RefFixtures.read("examples/load/templates/base_template.tick")
    val vs = TickVars.vars(script).toMap
    assert(vs("measurement") === Var("string", None, ""))
    assert(vs("where_filter") === Var("lambda", Some("TRUE"), ""))
    assert(vs("groups") === Var("list", Some(Seq("star" -> "")), ""))
    assert(vs("field") === Var("string", None, ""))
    assert(vs("warn") === Var("lambda", None, ""))
    assert(vs("crit") === Var("lambda", None, ""))
    assert(vs("window") === Var("duration", Some(300000000000L), ""))
    assert(vs("slack_channel") === Var("string", Some("#alerts"), ""))
    // declaration order is preserved
    assert(TickVars.vars(script).map(_._1) === Seq("measurement",
      "where_filter", "groups", "field", "warn", "crit", "window",
      "slack_channel"))
  }

  test("descriptions come from the comment above the declaration") {
    val script =
      """// Which measurement to consume
        |var measurement string
        |// Threshold value
        |// over two lines
        |var t = 42
        |stream
        ||from()
        |    .measurement(measurement)
        |""".stripMargin
    val vs = TickVars.vars(script).toMap
    assert(vs("measurement") ===
      Var("string", None, "Which measurement to consume"))
    assert(vs("t") === Var("int", Some(42L), "Threshold value\nover two lines"))
  }

  test("literal types: int/float/bool/string/regex/duration/star") {
    val script =
      """var i = 5
        |var f = 2.5
        |var b = TRUE
        |var s = 'str'
        |var re = /^cpu\d+/
        |var d = 90s
        |var st = *
        |var l = ['a', 'b']
        |stream|from()
        |""".stripMargin
    val vs = TickVars.vars(script).toMap
    assert(vs("i") === Var("int", Some(5L), ""))
    assert(vs("f") === Var("float", Some(2.5), ""))
    assert(vs("b") === Var("bool", Some(true), ""))
    assert(vs("s") === Var("string", Some("str"), ""))
    assert(vs("re") === Var("regex", Some("^cpu\\d+"), ""))
    assert(vs("d") === Var("duration", Some(90000000000L), ""))
    assert(vs("st") === Var("star", Some(""), ""))
    assert(vs("l") === Var("list", Some(Seq("string" -> "a", "string" -> "b")), ""))
  }

  test("computed values evaluate like tick.Evaluate (TypeOf on result)") {
    val script =
      """var base = 5s
        |// doubled window
        |var w = 2 * base
        |var n = 3 * 4
        |var x = n
        |stream|from()
        |""".stripMargin
    val vs = TickVars.vars(script).toMap
    assert(vs("w") === Var("duration", Some(10000000000L), "doubled window"))
    assert(vs("n") === Var("int", Some(12L), ""))
    assert(vs("x") === Var("int", Some(12L), ""))
  }

  test("chain vars are not vars in the API (InvalidType skipped)") {
    val script =
      """var data = stream
        ||from()
        |    .measurement('cpu')
        |var t = 1
        |data
        ||alert()
        |""".stripMargin
    assert(TickVars.vars(script).map(_._1) === Seq("t"))
  }

  test("varsJson renders the wire object shape (API.md example)") {
    val script = "// threshold value\nvar x = 5\nstream|from()"
    assert(TickVars.varsJson(script) ===
      """{"x":{"type":"int","value":5,"description":"threshold value"}}""")
    val lam = "var p = lambda: \"value\" > 5.0\nstream|from()"
    assert(TickVars.varsJson(lam) ===
      """{"p":{"type":"lambda","value":"\"value\" """ + "\\u003e" + """ 5.0","description":""}}""")
    val lst = "var g = ['host', *]\nstream|from()"
    assert(TickVars.varsJson(lst) ===
      """{"g":{"type":"list","value":[{"type":"string","value":"host"},{"type":"star","value":""}],"description":""}}""")
  }

  test("TaskRegistry.templateVars serves the template's vars") {
    val reg = new graft.tick.TaskRegistry
    reg.defineTemplate("tpl",
      "// which measurement\nvar m string\nstream|from().measurement(m)")
    assert(reg.templateVars("tpl").get ===
      Seq("m" -> Var("string", None, "which measurement")))
    assert(reg.templateVarsJson("tpl").get ===
      """{"m":{"type":"string","value":null,"description":"which measurement"}}""")
    assert(reg.templateVars("missing").isEmpty)
  }

  test("bound task vars round-trip the load vars-file shape") {
    import graft.tick.TickScript
    val reg = new graft.tick.TaskRegistry
    graft.tick.LoadDir.load(RefFixtures.path("examples/load"), reg)
    // the base task was created from base_template with other.json's vars
    val vs = reg.taskVars("base").get.toMap
    assert(vs("measurement") === Var("string", Some("cpu"), ""))
    assert(vs("field") === Var("string", Some("usage_idle"), ""))
    assert(vs("window") === Var("duration", Some(60000000000L), ""))
    assert(vs("slack_channel") === Var("string", Some("#alerts_testing"), ""))
    assert(vs("groups") === Var("list",
      Some(Seq("string" -> "host", "string" -> "dc")), ""))
    // lambdas render back to their vars-file expression text
    assert(vs("where_filter") === Var("lambda", Some("\"cpu\" == 'cpu-total'"), ""))
    assert(vs("warn") === Var("lambda", Some("\"mean\" < 30.0"), ""))
    assert(vs("crit") === Var("lambda", Some("\"mean\" < 10.0"), ""))
    // and the JSON form parses back semantically: lambda text re-parses
    val reparsed = TickScript.lambdaExpr(vs("warn").value.get.toString)
    assert(graft.tick.TickVars.exprString(reparsed) === "\"mean\" < 30.0")
  }

  test("exprString renders minimal parens that preserve precedence") {
    import graft.tick.TickScript
    def roundTrip(src: String): String =
      graft.tick.TickVars.exprString(TickScript.lambdaExpr(src))
    assert(roundTrip("\"a\" + 2.0 * \"b\"") === "\"a\" + 2.0 * \"b\"")
    assert(roundTrip("(\"a\" + 2.0) * \"b\"") === "(\"a\" + 2.0) * \"b\"")
    assert(roundTrip("\"v\" > 5.0 AND \"w\" < 2.0 OR \"u\" == 1.0") ===
      "\"v\" > 5.0 AND \"w\" < 2.0 OR \"u\" == 1.0")
    assert(roundTrip("(\"v\" > 5.0 OR \"w\" < 2.0) AND \"u\" == 1.0") ===
      "(\"v\" > 5.0 OR \"w\" < 2.0) AND \"u\" == 1.0")
    assert(roundTrip("sigma(\"value\") > 3.0") === "sigma(\"value\") > 3.0")
    assert(roundTrip("\"host\" =~ /^server\\d+/") === "\"host\" =~ /^server\\d+/")
    // round-trip is a fixed point
    val once = roundTrip("(\"a\"+1.0)*(\"b\"-2.0)")
    assert(roundTrip(once) === once)
  }

  test("a zero duration literal renders as 0s (influxql.FormatDuration)") {
    import graft.tick.TickScript.{Dur, EBin, EField, ELit}
    def gt(seconds: Double) = TickVars.exprString(EBin(">", EField("dt"), ELit(Dur(seconds))))
    assert(gt(0.0) === "\"dt\" > 0s")
    assert(gt(90.0) === "\"dt\" > 90s")
  }

  test("a lambda's duration literal keeps its unit: exprString round trip and second-scale Column") {
    import graft.tick.TickScript
    import graft.tick.TickScript.{Dur, EBin, EField, ELit}
    val parsed = TickScript.lambdaExpr("\"dt\" > 0s")
    assert(parsed === EBin(">", EField("dt"), ELit(Dur(0.0))))
    assert(TickVars.exprString(parsed) === "\"dt\" > 0s")
    assert(TickVars.boundVars(Map("crit" -> parsed)) ===
      Seq("crit" -> Var("lambda", Some("\"dt\" > 0s"), "")))
    val mixed = "\"elapsed\" >= 90s AND \"age\" < 2m"
    assert(TickVars.exprString(TickScript.lambdaExpr(mixed)) === mixed)
    // a duration var substituted into a lambda stays a duration too
    val resolved = TickScript.parseResolved(
      "var d = 5s\nstream|from()|where(lambda: \"dt\" > d)")
    val where = resolved.chains.flatMap(_.nodes).find(_.name == "where").get
    assert(where.args === Seq(EBin(">", EField("dt"), ELit(Dur(5.0)))))
    // the compiled predicate compares the field with the second count
    import org.apache.spark.sql.functions.{col, lit}
    assert(TickScript.exprToColumn(TickScript.lambdaExpr("\"dt\" > 1m")).toString ===
      (col("dt") > lit(60.0)).toString)
  }

  test("aliases of lambdas and lists stay vars (TypeOf is valid)") {
    val script =
      """var warn = lambda: "v" > 1.0
        |var crit = warn
        |var g = ['host']
        |var g2 = g
        |stream|from()
        |""".stripMargin
    val vs = TickVars.vars(script).toMap
    assert(vs("crit") === Var("lambda", Some("\"v\" > 1.0"), ""))
    assert(vs("g2") === Var("list", Some(Seq("string" -> "host")), ""))
    assert(TickVars.vars(script).map(_._1) === Seq("warn", "crit", "g", "g2"))
  }

  test("directly-defined tasks type bound vars from their own script") {
    val reg = new graft.tick.TaskRegistry
    reg.define("t", "var re regex\nvar g star\nstream|from()",
      Map("re" -> "^cpu\\d+", "g" -> "*"))
    val vs = reg.taskVars("t").get.toMap
    assert(vs("re") === Var("regex", Some("^cpu\\d+"), ""))
    assert(vs("g") === Var("star", Some(""), ""))
  }
}
