package graft

import graft.tick.{TaskRegistry, TickScript}
import org.apache.spark.sql.functions._

/** Task lifecycle registry (tick/TaskRegistry — the task_store service
  * analog, services/task_store/dao.go Task/Template semantics). */
class TaskRegistrySpec extends SparkSpec {
  import spark.implicits._

  private def src = Seq(
    ("cpu", "a", new java.sql.Timestamp(1000), 50.0),
    ("cpu", "b", new java.sql.Timestamp(2000), 90.0),
    ("mem", "a", new java.sql.Timestamp(3000), 10.0))
    .toDF("measurement", "host", "time", "value")

  private val script =
    """stream
      ||from().measurement('cpu')
      ||eval(lambda: "value" * 2.0).as('v2')
      |""".stripMargin

  test("define/enable/disable/delete lifecycle with status and timestamps") {
    val reg = new TaskRegistry
    val t = reg.define("t1", script)
    assert(t.taskType === reg.StreamTask)
    assert(t.status === reg.Disabled && t.error === "")
    // duplicate define is the reference's ErrTaskExists
    intercept[IllegalArgumentException](reg.define("t1", script))
    // enable compiles and runs
    val out = reg.enable("t1", src)
    assert(out.select("v2").as[Double].collect().sorted.toSeq === Seq(100.0, 180.0))
    val enabled = reg.get("t1").get
    assert(enabled.status === reg.Enabled && enabled.lastEnabledMs > 0)
    reg.disable("t1")
    assert(reg.get("t1").get.status === reg.Disabled)
    reg.delete("t1")
    assert(reg.get("t1").isEmpty)
    reg.delete("t1") // idempotent like the reference DELETE
  }

  test("pipelineJson serves the task's DAG with bound template vars") {
    import graft.tick.TickJson
    val reg = new TaskRegistry
    reg.define("tj", script)
    assert(reg.pipelineJson("tj") === Some(TickJson.marshal(script)))
    assert(reg.pipelineJson("missing") === None)
    // a template-bound task marshals with its vars resolved
    val tmplScript =
      """var m string
        |stream
        ||from().measurement(m)
        |""".stripMargin
    reg.defineTemplate("tpl", tmplScript)
    reg.defineFromTemplate("t2", "tpl", Map("m" -> "disk"))
    val j = reg.pipelineJson("t2").get
    assert(j.contains("\"measurement\": \"disk\""))
    assert(TickJson.remarshal(j) === j)
  }

  test("taskJson assembles the client Task wire document (client.go:832-848)") {
    import graft.tick.TickJson
    import graft.tick.TickJson._
    val reg = new TaskRegistry
    reg.define("wire1", script)
    val doc = reg.taskJson("wire1").get
    val JObj(fs) = TickJson.parseJson(doc): @unchecked
    // exact field order of the client Task struct
    assert(fs.map(_._1) === Seq("link", "id", "template-id", "type", "dbrps",
      "script", "vars", "dot", "status", "executing", "error", "stats",
      "created", "modified", "last-enabled"))
    def v(k: String) = fs.find(_._1 == k).get._2
    assert(v("link") === obj("rel" -> JStr("self"),
      "href" -> JStr("/kapacitor/v1/tasks/wire1")))
    assert(v("id") === JStr("wire1"))
    assert(v("type") === JStr("stream"))
    assert(v("status") === JStr("disabled"))
    assert(v("executing") === JBool(false))
    assert(v("stats") === obj())
    // the script field is the FORMATTED script; the dot field the graph
    assert(v("script") === JStr(reg.script("wire1").get))
    val JStr(dotS) = v("dot"): @unchecked
    assert(dotS.startsWith("digraph wire1 {"))
    // Go time rendering: RFC3339, zero time for never-enabled
    val JStr(created) = v("created"): @unchecked
    assert(created.matches("""\d{4}-\d{2}-\d{2}T\d{2}:\d{2}:\d{2}(\.\d+)?Z"""))
    assert(v("last-enabled") === JStr("0001-01-01T00:00:00Z"))
    // template instance carries template-id and bound vars
    val tmplScript =
      """var m string
        |stream
        ||from().measurement(m)
        |""".stripMargin
    reg.defineTemplate("wtpl", tmplScript)
    reg.defineFromTemplate("wire2", "wtpl", Map("m" -> "disk"))
    val JObj(fs2) = TickJson.parseJson(reg.taskJson("wire2").get): @unchecked
    def v2(k: String) = fs2.find(_._1 == k).get._2
    assert(v2("template-id") === JStr("wtpl"))
    val JObj(vars) = v2("vars"): @unchecked
    assert(vars.map(_._1) === Seq("m"))
    // the template document
    val JObj(tf) = TickJson.parseJson(reg.templateJson("wtpl").get): @unchecked
    assert(tf.map(_._1) === Seq("link", "id", "type", "script", "vars",
      "dot", "error", "created", "modified"))
  }

  test("listJson: field selection, pagination, script-format and dot-view dispatch") {
    import graft.tick.TickJson
    import graft.tick.TickJson._
    val reg = new TaskRegistry
    (1 to 5).foreach(i => reg.define(s"lt$i", script))
    reg.define("other", script)
    // pattern + pagination
    assert(reg.list("lt*").map(_.id) === Seq("lt1", "lt2", "lt3", "lt4", "lt5"))
    assert(reg.list("lt*", offset = 2, limit = 2).map(_.id) === Seq("lt3", "lt4"))
    intercept[IllegalArgumentException](reg.list("*", offset = -1))
    // field selection always carries id and link
    val JObj(root) = TickJson.parseJson(
      reg.listJson("lt*", fields = Seq("status"), limit = 2)): @unchecked
    val JArr(ts) = root.find(_._1 == "tasks").get._2: @unchecked
    assert(ts.size === 2)
    val JObj(t0) = ts.head: @unchecked
    assert(t0.map(_._1) === Seq("link", "id", "status"))
    // raw script format returns the stored text
    val JObj(rootRaw) = TickJson.parseJson(
      reg.listJson("lt1", scriptFormat = "raw")): @unchecked
    val JArr(Seq(JObj(traw))) = rootRaw.find(_._1 == "tasks").get._2: @unchecked
    assert(traw.collectFirst { case ("script", JStr(sc)) => sc }.get === script)
    intercept[IllegalArgumentException](reg.listJson("*", scriptFormat = "pretty"))
    intercept[IllegalArgumentException](reg.listJson("*", dotView = "3d"))
  }

  test("define validates: syntax, type mixing, unbound template vars") {
    val reg = new TaskRegistry
    intercept[Exception](reg.define("bad", "stream\n|from(\n"))
    intercept[IllegalArgumentException] {
      reg.define("mixed",
        "var a = stream\n|from()\nvar b = batch\n|query('SELECT 1')\n")
    }
    val templated =
      """dbrp "telegraf"."autogen"
        |var threshold float
        |stream
        ||from().measurement('cpu')
        ||where(lambda: "value" > threshold)
        |""".stripMargin
    val e = intercept[IllegalArgumentException](reg.define("t", templated))
    assert(e.getMessage.contains("threshold"))
    val ok = reg.define("t", templated, Map("threshold" -> 60.0))
    assert(ok.dbrps === Seq(("telegraf", "autogen")))
    assert(reg.enable("t", src).count() === 1) // only the 90.0 point
  }

  test("templates instantiate tasks with bound vars; enable failure is recorded") {
    val reg = new TaskRegistry
    val tpl =
      """var factor float
        |stream
        ||from().measurement('cpu')
        ||eval(lambda: "value" * factor).as('scaled')
        |""".stripMargin
    reg.defineTemplate("scaler", tpl)
    assert(reg.listTemplates().map(_.id) === Seq("scaler"))
    assert(reg.listTemplates().head.declaredVars.keySet === Set("factor"))
    val t = reg.defineFromTemplate("x10", "scaler", Map("factor" -> 10.0))
    assert(t.templateId === Some("scaler"))
    val out = reg.enable("x10", src)
    assert(out.select("scaled").as[Double].collect().sorted.toSeq === Seq(500.0, 900.0))
    // a task whose script fails to COMPILE against the source records the
    // error and stays disabled (Task.Error semantics)
    reg.define("broken", "stream\n|from().measurement('cpu')\n|sum('nope')\n")
    intercept[Exception](reg.enable("broken", src))
    val b = reg.get("broken").get
    assert(b.status === reg.Disabled && b.error.nonEmpty)
  }

  test("LoadDir: the reference's own examples/load tree populates a registry") {
    // services/load as data: templates, .tick tasks, template-instance
    // vars files (yaml AND json, typed vars), topic handler specs — the
    // reference's shipped example directory, verbatim
    val reg = new TaskRegistry
    val loaded = graft.tick.LoadDir.load(RefFixtures.path("examples/load"), reg)
    assert(loaded.templateIds.sorted === Seq("base_template", "implicit_template"))
    assert(loaded.taskIds.sorted ===
      Seq("another", "base", "cpu_alert", "implicit", "join", "other", "poll_cpu", "post"))
    // the json vars file decodes identically to the yaml ones
    val base = reg.get("base").get
    assert(base.templateId === Some("base_template"))
    assert(base.dbrps === Seq(("telegraf", "autogen")))
    assert(base.vars("window") === graft.tick.TickScript.Dur(60.0)) // "1m" typed
    assert(base.vars("groups") === Seq("host", "dc"))               // typed list
    assert(base.vars("measurement") === "cpu")
    assert(base.vars("warn").isInstanceOf[graft.tick.TickScript.Expr]) // lambda source
    val other = reg.get("other").get // the .json variant
    assert(other.vars("window") === graft.tick.TickScript.Dur(60.0))
    // handler specs carry the client.TopicHandlerOptions shape
    assert(loaded.handlers.map(h => (h.topic, h.id, h.kind, h.matchExpr)).sorted === Seq(
      ("cpu", "example", "slack", "changed() == TRUE"),
      ("cpu", "other", "slack", "changed() == TRUE")))
    assert(loaded.handlers.forall(_.options("channel") == "#alerts"))
    // a loaded template-instance task ENABLES: typed vars reach compile
    // (duration → window period, lambda → alert predicate, list → groupBy)
    val src = Seq(
      ("cpu", "cpu-total", "h1", "dc1", new java.sql.Timestamp(1000L), 5.0),
      ("cpu", "cpu-total", "h1", "dc1", new java.sql.Timestamp(2000L), 25.0),
      ("cpu", "cpu0", "h1", "dc1", new java.sql.Timestamp(3000L), 99.0))
      .toDF("measurement", "cpu", "host", "dc", "time", "usage_idle")
    val out = reg.enable("base", src)
    // mean of the two cpu-total points (15) trips warn (< 30) not crit (< 10)
    assert(out.count() === 1)
    assert(out.select("mean").as[Double].head() === 15.0)
    assert(reg.get("base").get.status === reg.Enabled)
    // a RE-load is the reference's update branch: status preserved for
    // both .tick tasks and template-instance vars files
    graft.tick.LoadDir.load(RefFixtures.path("examples/load"), reg)
    assert(reg.get("base").get.status === reg.Enabled)
    assert(reg.get("base").get.templateId === Some("base_template"))
  }

  test("list filters by glob pattern like the list handler") {
    val reg = new TaskRegistry
    Seq("cpu_alert", "cpu_batch", "mem_alert").foreach(id => reg.define(id, script))
    assert(reg.list().map(_.id) === Seq("cpu_alert", "cpu_batch", "mem_alert"))
    assert(reg.list("cpu_*").map(_.id) === Seq("cpu_alert", "cpu_batch"))
    assert(reg.list("*_alert").map(_.id) === Seq("cpu_alert", "mem_alert"))
    assert(reg.list("nope*").isEmpty)
  }

  test("script retrieval honors script-format like the GET handlers") {
    val reg = new TaskRegistry
    // raw on one line; formatted breaks the chain per the fmt laws
    reg.define("fmt", "stream|from().measurement('cpu')|eval(lambda: \"value\" * 2.0).as('v2')")
    assert(reg.script("fmt", "raw").get ===
      "stream|from().measurement('cpu')|eval(lambda: \"value\" * 2.0).as('v2')")
    assert(reg.script("fmt").get ===
      "stream\n" +
        "    |from()\n" +
        "        .measurement('cpu')\n" +
        "    |eval(lambda: \"value\" * 2.0)\n" +
        "        .as('v2')\n")
    // formatted is the default and idempotent through the formatter
    assert(reg.script("fmt") === reg.script("fmt", "formatted"))
    assert(reg.script("missing").isEmpty)
    intercept[IllegalArgumentException](reg.script("fmt", "pretty"))
    // templates take the same path
    reg.defineTemplate("tpl", "var m string\nstream|from().measurement(m)")
    assert(reg.templateScript("tpl").get ===
      "var m string\n\nstream\n    |from()\n        .measurement(m)\n")
    assert(reg.templateScript("tpl", "raw").get ===
      "var m string\nstream|from().measurement(m)")
  }

  test("template update propagates to associated tasks with rollback") {
    val reg = new TaskRegistry
    val v1 = "var m string\nstream|from().measurement(m)"
    reg.defineTemplate("tpl", v1)
    reg.defineFromTemplate("t1", "tpl", Map("m" -> "cpu"))
    reg.defineFromTemplate("t2", "tpl", Map("m" -> "mem"))
    reg.define("solo", script) // not associated — must stay untouched
    // propagation: both tasks take the new script, vars kept
    val v2 = "var m string\nstream|from().measurement(m).groupBy('host')"
    reg.redefineTemplate("tpl", v2)
    assert(reg.get("t1").get.tickscript === v2)
    assert(reg.get("t2").get.tickscript === v2)
    assert(reg.get("t1").get.vars === Map("m" -> "cpu"))
    assert(reg.get("solo").get.tickscript === script)
    // dbrps: replaced when either version declares header dbrps
    val v3 = "dbrp \"db\".\"rp\"\nvar m string\nstream|from().measurement(m)"
    reg.redefineTemplate("tpl", v3)
    assert(reg.get("t1").get.dbrps === Seq(("db", "rp")))
    // a DISABLED task accepts a script with a newly-declared unbound var
    // (the reference validates only at startTask); enable then fails
    val v4 = "var m string\nvar extra string\nstream|from().measurement(m)"
    reg.redefineTemplate("tpl", v4)
    assert(reg.get("t1").get.tickscript === v4)
  }

  test("template update rolls back tasks when an enabled task fails") {
    import spark.implicits._
    val reg = new TaskRegistry
    val v1 = "var m string\nstream|from().measurement(m)"
    reg.defineTemplate("tpl", v1)
    reg.defineFromTemplate("ok", "tpl", Map("m" -> "cpu"))
    reg.defineFromTemplate("live", "tpl", Map("m" -> "cpu"))
    val src = Seq(("cpu", new java.sql.Timestamp(1000L), 1.0))
      .toDF("measurement", "time", "value")
    reg.enable("live", src)
    assert(reg.get("live").get.status === reg.Enabled)
    // the new version declares a var the live task has not bound:
    // propagation fails at the enabled task and rolls tasks back...
    val v2 = "var m string\nvar extra string\nstream|from().measurement(m)"
    val e = intercept[IllegalArgumentException](reg.redefineTemplate("tpl", v2))
    assert(e.getMessage.contains("error reloading associated task live"))
    assert(e.getMessage.contains("extra"))
    assert(reg.get("ok").get.tickscript === v1)
    assert(reg.get("live").get.tickscript === v1)
    // ...but the template keeps the new definition (service.go saves it
    // before walking tasks; only tasks roll back)
    assert(reg.getTemplate("tpl").get.tickscript === v2)
  }
}
