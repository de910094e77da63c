package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.tick.{TickGen, TickJson}

/** The reverse compiler (JSON → TICKscript) pinned against the
  * reference's pipeline/tick expected scripts, plus the strong
  * round-trip law: regenerated TICKscript re-marshals to the SAME task
  * JSON (the Chronograf edit loop closes). */
class TickGenSpec extends AnyFunSuite {

  /** canonical() must re-marshal to the same task JSON modulo id
    * renumbering — var extraction can reorder declarations relative to
    * the source (a fan-in parent extracts as a var ahead of the chain
    * that consumes it), which renumbers creation ids on reparse; the
    * reference has the same property (it only asserts reparseability).
    * Everything else — topology, fields, defaults — must be identical. */
  private def roundtrip(script: String): String = {
    val gen = TickGen.canonical(script)
    val m1 = structuralForm(TickJson.marshal(script))
    val m2 = structuralForm(TickJson.marshal(gen))
    assert(m2 === m1, s"regenerated script drifts:\n$gen")
    // canonicalization stabilizes after one extra pass: reordered var
    // declarations renumber once on reparse (from3 → from1), then stay
    val gen2 = TickGen.canonical(gen)
    assert(TickGen.canonical(gen2) === gen2, s"canonical not stable:\n$gen2")
    gen
  }

  /** A creation-order-independent structural form: the sorted multiset
    * of id-stripped node contents plus the sorted multiset of edges as
    * (parentContent, childContent) pairs. Var extraction renumbers and
    * reorders nodes; it must never change this. */
  private def structuralForm(json: String): (Seq[String], Seq[(String, String)]) = {
    import graft.tick.TickJson._
    val JObj(root) = TickJson.parseJson(json): @unchecked
    val JArr(nodes) = root.find(_._1 == "nodes").get._2: @unchecked
    val JArr(edges) = root.find(_._1 == "edges").get._2: @unchecked
    val contentById = nodes.collect { case JObj(fs) =>
      val id = fs.collectFirst { case ("id", JStr(i)) => i }.get
      id -> TickJson.write(JObj(fs.filterNot(_._1 == "id")))
    }.toMap
    val ns = contentById.values.toSeq.sorted
    val es = edges.collect { case JObj(fs) =>
      val p = fs.collectFirst { case ("parent", JStr(i)) => i }.get
      val c = fs.collectFirst { case ("child", JStr(i)) => i }.get
      (contentById(p), contentById(c))
    }.sorted
    (ns, es)
  }

  test("golden: window with period and every (window_test.go)") {
    val got = TickGen.canonical("""
      stream
        |from()
        |window().period(1s).every(1h).align().fillPeriod()""")
    assert(got === """stream
    |from()
    |window()
        .period(1s)
        .every(1h)
        .align()
        .fillPeriod()
""")
  }

  test("golden: window with period count and every count (window_test.go)") {
    val got = TickGen.canonical("""
      stream
        |from()
        |window().periodCount(10).everyCount(15)""")
    assert(got === """stream
    |from()
    |window()
        .periodCount(10)
        .everyCount(15)
""")
  }

  test("golden: join with var extraction (join_test.go)") {
    val got = TickGen.canonical("""
      var b1 = stream
        |from()
          .measurement('building_power')
          .groupBy('building')
      var b2 = stream
        |from()
          .measurement('floor_power')
          .groupBy('building', 'floor')
      b1
        |join(b2)
          .as('building', 'floor')
          .on('building')
          .streamName('kwh')
          .tolerance(1s)""")
    assert(got === """var from3 = stream
    |from()
        .measurement('floor_power')
        .groupBy('building', 'floor')

stream
    |from()
        .measurement('building_power')
        .groupBy('building')
    |join(from3)
        .as('building', 'floor')
        .on('building')
        .delimiter('.')
        .streamName('kwh')
        .tolerance(1s)
""")
  }

  test("golden: stats forces the observed node into a var (stats_test.go)") {
    val got = TickGen.canonical("""
      var data = stream
        |from()
      data
        |stats(2s)
          .align()""")
    assert(got === """var from1 = stream
    |from()

from1
    |stats(2s)
        .align()
""")
  }

  test("golden: udf options (udf_test.go)") {
    val got = TickGen.canonical("""
      stream
        |from()
        @delorean()
          .mph(88)
          .gigawatts(1.21)
          .nearClockTower(TRUE)
          .martySays('Doc!')
          .future(15778476m, 'years')""")
    // the JSON leg sorts options by name (pipeline/udf.go marshals the
    // option map — Go sorts map keys; the reference's unmarshalUDF want
    // list is alphabetical for the same reason). The direct
    // pipeline-object leg in the reference keeps declaration order —
    // a leg graft doesn't have, since tasks are defined by script.
    assert(got === """stream
    |from()
    @delorean()
        .future(15778476m, 'years')
        .gigawatts(1.21)
        .martySays('Doc!')
        .mph(88)
        .nearClockTower(TRUE)
""")
  }

  test("round-trip: chronograf threshold rule closes the edit loop") {
    val script = """var db = 'telegraf'
      var data = stream
        |from()
          .database(db)
          .retentionPolicy('autogen')
          .measurement('cpu')
          .groupBy(['host'])
          .where(lambda: "cpu" == 'cpu-total')
        |eval(lambda: "usage_system").as('value')
      var trigger = data
        |alert()
          .crit(lambda: "value" > 90)
          .stateChangesOnly()
          .message(' {{.ID}} is  {{.Level}}')
          .id('Rule:{{.Group}}')
          .idTag('alertID')
          .levelTag('level')
          .messageField('message')
          .durationField('duration')
          .post('http://howdy.local')
      trigger
        |influxDBOut()
          .create()
          .database('chronograf')
          .retentionPolicy('autogen')
          .measurement('alerts')
          .tag('alertName', 'Rule')
      trigger
        |httpOut('output')"""
    val gen = roundtrip(script)
    // spot checks on the regenerated source
    assert(gen.contains(".where(lambda: \"cpu\" == 'cpu-total')"))
    assert(gen.contains(".crit(lambda: \"value\" > 90)"))
    assert(gen.contains(".stateChangesOnly()"))
    assert(gen.contains(".history(21)")) // defaults materialize
    assert(gen.contains(".post('http://howdy.local')"))
    assert(gen.contains("var alert3 ")) // two children → var
  }

  test("round-trip: every marshalable node type survives regeneration") {
    Seq(
      """stream
        |from().measurement('m').truncate(1s)
        |barrier().idle(30s).delete(TRUE)
        |default().field('f', 0.5).tag('t', 'x')
        |delete().field('junk')
        |shift(-10s)
        |sample(5)
        |httpOut('a')""",
      """stream
        |from()
        |window().period(10s).every(10s)
        |percentile('value', 95.0)
        |derivative('value').as('d').unit(10s).nonNegative()
        |stateDuration(lambda: "d" > 0).unit(1m)
        |stateCount(lambda: "d" > 0)
        |httpOut('b')""",
      """stream
        |from()
        |eval(lambda: "a" + "b").as('c').tags('t').keep('a', 'c')
        |groupBy(*).exclude('dc')
        |where(lambda: "c" > 1 OR "c" < -1)
        |flatten().on('h').delimiter('_')
        |log().level('DEBUG')
        |kapacitorLoopback().database('db').measurement('m')""",
      """batch
        |query('SELECT mean(v) FROM "d"."r".m')
          .period(10m)
          .every(5m)
          .groupBy('host')
          .fill('previous')
        |changeDetect('mean')
        |influxDBOut().database('out').buffer(500).flushInterval(5s)""",
      """stream
        |from().measurement('m')
        |k8sAutoscale().resourceName('app').replicas(lambda: "d" * 2)
        |httpOut('k')""",
      """stream
        |from().measurement('m')
        |alert()
          .warn(lambda: "v" > 5)
          .crit(lambda: "v" > 10)
          .flapping(0.25, 0.5)
          .history(42)
          .inhibit('cat', 'host')
          .slack().channel('#ops')
          .email('x@y.z')
          .victorOps().routingKey('rk')
          .opsGenie2().teams('t1', 't2')
          .mqtt('top').qos(1)
          .log('/tmp/l.log').mode(416)""",
      """stream
        |from().measurement('m')
        |combine(lambda: "t" == 'a', lambda: TRUE).as('a', 'all').max(50)
        |httpOut('c')""",
      """var a = stream
        |from().measurement('m1')
      var b = stream
        |from().measurement('m2')
      a
        |union(b)
          .rename('u')
        |httpOut('u')"""
    ).foreach(roundtrip)
  }

  test("deadman round-trips as its expanded stats|derivative|alert form") {
    val script = """
      var data = stream
        |from().measurement('m')
        |httpOut('d')
      data
        |deadman(100.0, 10s)"""
    // with the deadman SERVICE defaults configured the synthesized
    // id/message are non-empty, render explicitly, and round-trip; an
    // EMPTY config falls back to the alert defaults on reparse (the
    // reference's Dot() skips empty strings the same way)
    val dm = TickJson.DeadmanConfig(
      id = "node 'NODE_NAME' in task '{{ .TaskName }}'",
      message = "{{ .ID }} is dead: INTERVAL")
    val j1 = TickJson.marshal(script, deadman = dm)
    val gen = TickGen.fromJson(j1)
    assert(gen.contains("|stats(10s)"))
    assert(gen.contains("|derivative('emitted')"))
    assert(gen.contains(".crit(lambda: \"emitted\" <= 100.0)"))
    assert(TickJson.marshal(gen) === j1)
  }

  test("octal log mode renders with a leading zero") {
    val gen = TickGen.canonical("""
      stream
        |from()
        |alert().crit(lambda: TRUE).log('/tmp/x').mode(420)""")
    assert(gen.contains(".mode(0644)"))
  }

  test("lambda parens regenerate by precedence (source parens are not marshaled)") {
    val gen = TickGen.canonical("""
      stream
        |from()
        |where(lambda: ("a" + "b") * 2 > 10 AND ("c" OR "d"))
        |httpOut('x')""")
    assert(gen.contains("""("a" + "b") * 2 > 10 AND ("c" OR "d")"""))
    // and the regenerated script still marshals identically
    roundtrip("""
      stream
        |from()
        |where(lambda: ("a" + "b") * 2 > 10 AND ("c" OR "d"))
        |httpOut('x')""")
  }
  test("reference examples corpus: marshal fixpoint + regeneration round-trip") {
    import java.nio.file.Files
    import scala.jdk.CollectionConverters._
    val root = RefFixtures.root.resolve("examples")
    assume(Files.isDirectory(root))
    val ticks = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".tick")).toSeq.sortBy(_.toString)
    var exercised = 0
    ticks.foreach { f =>
      val src = new String(Files.readAllBytes(f), "UTF-8")
      // bind declared template vars with type-appropriate dummies;
      // skip non-script placeholders and UDF scripts (udfs need a
      // registry, and funcs in lambdas do not survive JSON — the
      // documented reference quirk)
      val parsedOpt =
        try Some(graft.tick.TickScript.parse(src)) catch { case _: Exception => None }
      parsedOpt.foreach { parsed =>
        val binds: Map[String, Any] = parsed.declared.map {
          case (k, "string") => k -> "x"
          case (k, "duration") => k -> graft.tick.TickScript.Dur(60.0)
          case (k, "int") => k -> 1L
          case (k, "float") => k -> 1.5
          case (k, "bool") => k -> true
          case (k, "lambda") => k -> graft.tick.TickScript.lambdaExpr("\"v\" > 0")
          case (k, "list") => k -> Seq("a")
          case (k, "star") => k -> "*"
          case (k, _) => k -> "x"
        }
        val usable =
          try { TickJson.marshal(src, binds); true } catch { case _: Exception => false }
        if (usable) {
          exercised += 1
          val m = TickJson.marshal(src, binds)
          // canonical JSON fixpoint
          assert(TickJson.remarshal(m) === m, s"remarshal drift: $f")
          // regenerated TICKscript is structurally identical and stable.
          // Scripts whose lambdas CALL functions are excluded from this
          // leg: ast.FunctionNode.MarshalJSON drops the function name,
          // so the regenerated source is unparseable — in the reference
          // exactly as here (the documented JSON data-loss quirk).
          // (applies to groupBy(time(...)) dims the same way)
          val hasFuncNode = m.contains("\"typeOf\": \"func\"")
          if (!hasFuncNode) {
            val gen = TickGen.fromJson(m)
            val m2 = TickJson.marshal(gen)
            assert(structuralForm(m2) === structuralForm(m), s"regen drift: $f\n$gen")
            val gen2 = TickGen.canonical(gen)
            assert(TickGen.canonical(gen2) === gen2, s"unstable: $f")
          }
        }
      }
    }
    assert(exercised >= 30, s"only $exercised of ${ticks.size} exercised")
  }

}
