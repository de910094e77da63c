package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.tick.TickFormat.format

/** Pins [[graft.tick.TickFormat]] to the reference formatter's own test
  * vectors (tick/fmt_test.go:5-382, every case reproduced verbatim),
  * plus surface the Go suite leaves implicit (dbrp, type declarations,
  * string lists, triple quotes, idempotence).
  */
class TickFormatSpec extends AnyFunSuite {

  private def check(script: String, exp: String): Unit =
    assert(format(script) == exp)

  // ------------------------------------------------ fmt_test.go vectors

  test("literal declarations normalize spacing, keep lexemes") {
    check("var x = 1", "var x = 1\n")
    check("var x=1", "var x = 1\n")
    check("var x=1.0", "var x = 1.0\n")
    check("var x=01", "var x = 01\n")
    check("var x=0600", "var x = 0600\n")
    check("var x=1m", "var x = 1m\n")
    check("var x=60s", "var x = 60s\n") // not re-canonicalized to 1m
    check("var x= /.*/", "var x = /.*/\n")
    check("""var x= /^\/root\//""", "var x = /^\\/root\\//\n")
  }

  test("chains break: root, |node at +4, .prop at +8") {
    check(
      "var x=stream()|window().period(10s).every(10s)",
      """var x = stream()
        |    |window()
        |        .period(10s)
        |        .every(10s)
        |""".stripMargin)
  }

  test("comments attach to following node and normalize to '// '") {
    check(
      """var x = stream()
        |//Window data
        ||window()
        |// Period / Every 10s
        |.period(10s).every(10s)""".stripMargin,
      """var x = stream()
        |    // Window data
        |    |window()
        |        // Period / Every 10s
        |        .period(10s)
        |        .every(10s)
        |""".stripMargin)
  }

  test("multi-line call: one arg per line, no trailing comma") {
    check(
      """var x = stream()
        |@udf()
        |    .option(
        |        // Param 1
        |        1,
        |        // Param 2
        |        2,
        |        // Param 3
        |        3,
        |        // Param 4
        |        4,
        |                )
        |""".stripMargin,
      """var x = stream()
        |    @udf()
        |        .option(
        |            // Param 1
        |            1,
        |            // Param 2
        |            2,
        |            // Param 3
        |            3,
        |            // Param 4
        |            4
        |        )
        |""".stripMargin)
  }

  test("parens survive only on binary nodes") {
    check(
      """global(lambda: ("a" + (1)) / (( 4 +"b") * ("c")))""",
      "global(lambda: (\"a\" + 1) / ((4 + \"b\") * \"c\"))\n")
    check(
      "global(lambda: (1 + 2 - 3 * 4 / 5) < (sin(6)) AND (TRUE OR FALSE))",
      "global(lambda: (1 + 2 - 3 * 4 / 5) < sin(6) AND (TRUE OR FALSE))\n")
  }

  test("binary breaks after operator when operands span source lines") {
    check(
      """global(lambda:
        |(1 + 2 - 3 * 4 / 5)
        |<
        |(sin(6))
        |AND
        |(TRUE
        |OR (FALSE
        |AND TRUE)))""".stripMargin,
      """global(lambda: (1 + 2 - 3 * 4 / 5) <
        |    sin(6) AND
        |    (TRUE OR
        |        (FALSE AND
        |            TRUE)))
        |""".stripMargin)
  }

  test("comments inside a multi-line call and lambda") {
    check(
      """global(lambda:
        |// If this
        |// is less than that
        |(1 + 2 - 3 * 4 / 5)
        |< (sin(6))
        |AND
        |// more comments.
        |(TRUE OR FALSE), 'arg',)""".stripMargin,
      "global(\n" +
        "    lambda: \n" +
        "    // If this\n" +
        "    // is less than that\n" +
        "    (1 + 2 - 3 * 4 / 5) <\n" +
        "    sin(6) AND\n" +
        "    // more comments.\n" +
        "    (TRUE OR FALSE),\n" +
        "    'arg'\n" +
        ")\n")
  }

  test("comment block spacing preserved; blocks merge onto next token") {
    check(
      "// Preserve comments spacing\n" +
        "\n" +
        "// Comment block 1\n" +
        "// still 1\n" +
        "\n" +
        "// Comment block 2\n" +
        "// still 2\n" +
        "\n" +
        "// Preserve per line spacing\n" +
        "//     indented\n" +
        "//fix this line\n" +
        "//\n" +
        "\n" +
        "\n" +
        "var x = stream\n" +
        "\t|from()\n" +
        "\t\t//.measurement('mem')\n" +
        "\t\t.measurement('cpu')\n" +
        "\n" +
        "// This should be its own comment block\n" +
        "x |alert()\n" +
        "\t\n" +
        "\n" +
        "\n",
      "// Preserve comments spacing\n" +
        "\n" +
        "// Comment block 1\n" +
        "// still 1\n" +
        "\n" +
        "// Comment block 2\n" +
        "// still 2\n" +
        "\n" +
        "// Preserve per line spacing\n" +
        "//     indented\n" +
        "// fix this line\n" +
        "//\n" +
        "var x = stream\n" +
        "    |from()\n" +
        "        // .measurement('mem')\n" +
        "        .measurement('cpu')\n" +
        "\n" +
        "// This should be its own comment block\n" +
        "x\n" +
        "    |alert()\n")
  }

  test("comment all the things, incl. dangling end-of-program comment") {
    check(
      "// Comment all the things\n" +
        "var \n" +
        "x = \n" +
        "stream()\n" +
        "// 1\n" +
        "|\n" +
        "udf()\n" +
        "// 2\n" +
        "    .option(\n" +
        "        // 3\n" +
        "        1,\n" +
        "        // 4\n" +
        "        2.0,\n" +
        "        // 5\n" +
        "        3h,\n" +
        "        // 6\n" +
        "        'a',\n" +
        "    )\n" +
        "// 7\n" +
        "|\n" +
        "eval(\n" +
        "// 8\n" +
        "lambda:\n" +
        "a * b + c\n" +
        ",\n" +
        ")\n" +
        "// 9\n" +
        "|\n" +
        "groupBy(\n" +
        "//10 \n" +
        "*\n" +
        ")\n" +
        "// 11\n",
      "// Comment all the things\n" +
        "var x = stream()\n" +
        "    // 1\n" +
        "    |udf()\n" +
        "        // 2\n" +
        "        .option(\n" +
        "            // 3\n" +
        "            1,\n" +
        "            // 4\n" +
        "            2.0,\n" +
        "            // 5\n" +
        "            3h,\n" +
        "            // 6\n" +
        "            'a'\n" +
        "        )\n" +
        "    // 7\n" +
        "    |eval(\n" +
        "        // 8\n" +
        "        lambda: a * b + c\n" +
        "    )\n" +
        "    // 9\n" +
        "    |groupBy(\n" +
        "        // 10\n" +
        "        *\n" +
        "    )\n" +
        "\n" +
        "// 11\n" +
        "\n")
  }

  test("whole-script reformat: the top-scores example") {
    check(
      "\n" +
        "\t\t\t// Define a result that contains the most recent score per player.\n" +
        "var topPlayerScores = stream\n" +
        "    |from().measurement('scores')\n" +
        "    // Get the most recent score for each player per game.\n" +
        "// Not likely that a player is playing two games but just in case.\n" +
        ".groupBy('game', 'player')\n" +
        "    |window()\n" +
        "        // keep a buffer of the last 11s of scores\n" +
        "        // just in case a player score hasn't updated in a while\n" +
        "        .period(11s)\n" +
        "        // Emit the current score per player every second.\n" +
        ".every(1s)\n" +
        "        // Align the window boundaries to be on the second.\n" +
        ".align()\n" +
        "    |last('value')\n" +
        "\n" +
        "// Calculate the top 15 scores per game\n" +
        "var topScores = topPlayerScores\n" +
        "    |groupBy('game')\n" +
        "    |top(15, 'last', 'player')\n" +
        "\n" +
        "// Expose top scores over the HTTP API at the 'top_scores' endpoint.\n" +
        "// Now your app can just request the top scores from Kapacitor\n" +
        "// and always get the most recent result.\n" +
        "//\n" +
        "// http://localhost:9092/api/v1/top_scores/top_scores\n" +
        "topScores\n" +
        "   |httpOut('top_scores')\n" +
        "\n" +
        "// Sample the top scores and keep a score once every 10s\n" +
        "var topScoresSampled = topScores\n" +
        "    |sample(10s)\n" +
        "\n" +
        "// Store top fifteen player scores in InfluxDB.\n" +
        "topScoresSampled\n" +
        "    |influxDBOut()\n" +
        "        .database('game')\n" +
        "        .measurement('top_scores')\n" +
        "\n" +
        "// Calculate the max and min of the top scores.\n" +
        "var max = topScoresSampled\n" +
        "    |max('top')\n" +
        "var min = topScoresSampled\n" +
        "    |min('top')\n" +
        "\n" +
        "// Join the max and min streams back together and calculate the gap.\n" +
        "max|join(min)\n" +
        "        .as('max', 'min')\n" +
        "    // calculate the difference between the max and min scores.\n" +
        "|eval(lambda: \"max.max\" - \"min.min\", lambda: \"max.max\", lambda: \"min.min\")\n" +
        "        .as('gap', 'topFirst', 'topLast')\n" +
        "    // store the fields: gap, topFirst, and topLast in InfluxDB.\n" +
        "|influxDBOut()\n" +
        "        .database('game')\n" +
        "        .measurement('top_scores_gap')\n",
      "// Define a result that contains the most recent score per player.\n" +
        "var topPlayerScores = stream\n" +
        "    |from()\n" +
        "        .measurement('scores')\n" +
        "        // Get the most recent score for each player per game.\n" +
        "        // Not likely that a player is playing two games but just in case.\n" +
        "        .groupBy('game', 'player')\n" +
        "    |window()\n" +
        "        // keep a buffer of the last 11s of scores\n" +
        "        // just in case a player score hasn't updated in a while\n" +
        "        .period(11s)\n" +
        "        // Emit the current score per player every second.\n" +
        "        .every(1s)\n" +
        "        // Align the window boundaries to be on the second.\n" +
        "        .align()\n" +
        "    |last('value')\n" +
        "\n" +
        "// Calculate the top 15 scores per game\n" +
        "var topScores = topPlayerScores\n" +
        "    |groupBy('game')\n" +
        "    |top(15, 'last', 'player')\n" +
        "\n" +
        "// Expose top scores over the HTTP API at the 'top_scores' endpoint.\n" +
        "// Now your app can just request the top scores from Kapacitor\n" +
        "// and always get the most recent result.\n" +
        "//\n" +
        "// http://localhost:9092/api/v1/top_scores/top_scores\n" +
        "topScores\n" +
        "    |httpOut('top_scores')\n" +
        "\n" +
        "// Sample the top scores and keep a score once every 10s\n" +
        "var topScoresSampled = topScores\n" +
        "    |sample(10s)\n" +
        "\n" +
        "// Store top fifteen player scores in InfluxDB.\n" +
        "topScoresSampled\n" +
        "    |influxDBOut()\n" +
        "        .database('game')\n" +
        "        .measurement('top_scores')\n" +
        "\n" +
        "// Calculate the max and min of the top scores.\n" +
        "var max = topScoresSampled\n" +
        "    |max('top')\n" +
        "\n" +
        "var min = topScoresSampled\n" +
        "    |min('top')\n" +
        "\n" +
        "// Join the max and min streams back together and calculate the gap.\n" +
        "max\n" +
        "    |join(min)\n" +
        "        .as('max', 'min')\n" +
        "    // calculate the difference between the max and min scores.\n" +
        "    |eval(lambda: \"max.max\" - \"min.min\", lambda: \"max.max\", lambda: \"min.min\")\n" +
        "        .as('gap', 'topFirst', 'topLast')\n" +
        "    // store the fields: gap, topFirst, and topLast in InfluxDB.\n" +
        "    |influxDBOut()\n" +
        "        .database('game')\n" +
        "        .measurement('top_scores_gap')\n")
  }

  // --------------------------------------------- surface beyond fmt_test

  test("dbrp statements and type declarations") {
    check("dbrp \"telegraf\".\"autogen\"", "dbrp \"telegraf\".\"autogen\"\n")
    check("var x  stream", "var x stream\n")
  }

  test("string lists, stars, triple-quoted strings keep their shape") {
    check("var g = ['host' , 'dc']", "var g = ['host', 'dc']\n")
    check("var g = [*]", "var g = [*]\n")
    check("var s = '''no 'escaping' here'''",
      "var s = '''no 'escaping' here'''\n")
    check("var b = TRUE", "var b = TRUE\n")
    check("var n = !TRUE", "var n = !TRUE\n")
    check("var n = -5", "var n = -5\n")
  }

  test("regex vs division disambiguates on the previous token") {
    check("var x = 4 / 5", "var x = 4 / 5\n")
    check("global(lambda: (1 + 2) / 3)", "global(lambda: (1 + 2) / 3)\n")
    check("var r = /a\\/b/", "var r = /a\\/b/\n")
  }

  test("formatting is idempotent") {
    val scripts = Seq(
      "var x=stream()|window().period(10s).every(10s)",
      "global(lambda: (1 + 2 - 3 * 4 / 5) < (sin(6)) AND (TRUE OR FALSE))",
      "dbrp \"db\".\"rp\"\n\nvar x = stream\n|from().measurement('cpu')\n// end\n")
    scripts.foreach { s =>
      val once = format(s)
      assert(format(once) == once)
    }
  }

  test("malformed scripts throw IllegalArgumentException") {
    intercept[IllegalArgumentException](format("var x = 'unterminated"))
    intercept[IllegalArgumentException](format("var = 3"))
    intercept[IllegalArgumentException](format("f(1,"))
  }

  test("reference examples corpus: formats, idempotent, still parses") {
    import java.nio.file.Files
    import scala.jdk.CollectionConverters._
    val root = RefFixtures.root.resolve("examples")
    assume(Files.isDirectory(root))
    val ticks = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".tick")).toSeq.sortBy(_.toString)
    assert(ticks.size >= 40)
    var formatted = 0
    ticks.foreach { f =>
      val src = new String(Files.readAllBytes(f), "UTF-8")
      // a few examples are {placeholder} templates, not TICKscript;
      // the reference formatter rejects those too — skip what the
      // semantic parser itself cannot read
      val isScript =
        try { graft.tick.TickScript.parse(src); true }
        catch { case _: Exception => false }
      if (isScript) {
      formatted += 1
      val once = format(src)
      assert(format(once) == once, s"not idempotent: $f")
      // formatting must not change the semantics the compiler sees
      graft.tick.TickScript.parse(once)
      ()
      }
    }
    assert(formatted >= 35, s"only $formatted of ${ticks.size} formatted")
  }

  test("list items in a multi-line call repeat the indent (Go parity)") {
    // ListNode.Format forwards onNewLine to every element, and the Go
    // writeIndent never clears it (ast/node.go:1227-1242, :48-52) — a
    // string list inside a multi-line call therefore renders each
    // element with the indent inline. Reference-faithful, pinned here
    // so nobody "fixes" graft's formatter away from the Go output.
    check(
      "stream\n|groupBy(\n['host', 'dc']\n)\n",
      "stream\n" +
        "    |groupBy(\n" +
        "        [        'host',         'dc']\n" +
        "    )\n")
  }

  test("TickFmt formats files with the -w/-b laws (tickfmt CLI)") {
    import java.nio.file.{Files, Paths}
    val dir = Files.createTempDirectory("tickfmt")
    val f = dir.resolve("t.tick")
    Files.write(f, "var x=stream()|window().period(10s)".getBytes("UTF-8"))
    val exp = "var x = stream()\n    |window()\n        .period(10s)\n"
    // default: print, file untouched
    assert(graft.tools.TickFmt.formatFile(f.toString, write = false, backup = false) === exp)
    assert(new String(Files.readAllBytes(f), "UTF-8") ===
      "var x=stream()|window().period(10s)")
    // -w -b: rewrite in place, keep .orig
    assert(graft.tools.TickFmt.formatFile(f.toString, write = true, backup = true) === "")
    assert(new String(Files.readAllBytes(f), "UTF-8") === exp)
    assert(new String(Files.readAllBytes(
      Paths.get(f.toString + ".orig")), "UTF-8") ===
      "var x=stream()|window().period(10s)")
  }
}
