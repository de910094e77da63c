package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.tick.TickDot

/** Pins [[graft.tick.TickDot]] to the reference's expected dot strings
  * (server_test.go:539/716/923 — the `kapacitor show` Dot field for
  * disabled and executing tasks), plus the naming/ordering laws for
  * fan-out, join, and the stats/deadman source expansion.
  */
class TickDotSpec extends AnyFunSuite {

  test("disabled stream task: edges only (server_test.go:539)") {
    assert(TickDot.dot("stream\n    |from()\n        .measurement('test')\n",
      "testTaskID") === "digraph testTaskID {\nstream0 -> from1;\n}")
  }

  test("disabled batch task: source node invisible (server_test.go:716)") {
    assert(TickDot.dot(
      "batch\n    |query('SELECT * from mydb.myrp.mymeas')\n    |log()\n",
      "testTaskID") === "digraph testTaskID {\nquery1 -> log2;\n}")
  }

  test("executing stream task with zero stats (server_test.go:923)") {
    val exp = """digraph testTaskID {
graph [throughput="0.00 points/s"];

stream0 [avg_exec_time_ns="0s" errors="0" working_cardinality="0" ];
stream0 -> from1 [processed="0"];

from1 [avg_exec_time_ns="0s" errors="0" working_cardinality="0" ];
}"""
    assert(TickDot.edot("stream\n    |from()\n        .measurement('test')\n",
      "testTaskID") === exp)
  }

  test("executing batch task: batches/s unit, hidden source") {
    val got = TickDot.edot(
      "batch|query('SELECT * from mydb.myrp.mymeas')|log()", "b")
    assert(got.contains("graph [throughput=\"0.00 batches/s\"];"))
    assert(!got.contains("batch0"))
    assert(got.contains("query1 -> log2 [processed=\"0\"];"))
  }

  test("labels view renders xlabel stats and label edges (node.go:256-293)") {
    val got = TickDot.edot("stream|from()", "t", labels = true,
      throughput = 12.5,
      stats = n => Seq("errors" -> "3", "avg_exec_time_ns" -> "5ms"),
      processed = (_, _) => 42L)
    assert(got.contains(
      "graph [label=\"Throughput: 12.50 points/s\" forcelabels=true pad=\"0.8,0.5\"];"))
    // sorted by key, joined with the \r right-justify marker
    assert(got.contains("stream0 [xlabel=\"avg_exec_time_ns=5ms\\rerrors=3\"];"))
    assert(got.contains("stream0 -> from1 [label=\"processed=42\"];"))
  }

  test("ids number in creation order; var fan-out and join parents") {
    // the top-scores shape: max|join(min) makes join a child of both
    val script =
      """var data = stream
        ||from()
        |    .measurement('scores')
        |var max = data
        ||max('v')
        |var min = data
        ||min('v')
        |max
        ||join(min)
        |    .as('max', 'min')
        ||influxDBOut()
        |    .database('db')
        |    .measurement('m')
        |""".stripMargin
    val got = TickDot.dot(script, "t")
    assert(got ===
      "digraph t {\n" +
        "stream0 -> from1;\n" +
        "from1 -> max2;\n" +
        "from1 -> min3;\n" +
        // the DFS-post-order-reversed walk (pipeline.go sort) lands the
        // first-visited sibling LAST after the reversal, so min3's edge
        // precedes max2's — the reference's order, not source order
        "min3 -> join4;\n" +
        "max2 -> join4;\n" +
        "join4 -> influxdb_out5;\n" +
        "}")
  }

  test("stats is a new source with a noop child on a childless node") {
    // pipeline/node.go:205-216: |stats() observes the node out-of-band
    val got = TickDot.dot(
      "var data = stream|from()\ndata|stats(10s)|httpOut('s')", "t")
    assert(got ===
      "digraph t {\n" +
        "stream0 -> from1;\n" +
        "from1 -> noop3;\n" +
        "stats2 -> http_out4;\n" +
        "}")
  }

  test("deadman expands to stats|derivative|alert (pipeline/node.go:239)") {
    val got = TickDot.dot(
      "var data = stream|from()\ndata|deadman(100.0, 10s)", "t")
    assert(got ===
      "digraph t {\n" +
        "stream0 -> from1;\n" +
        "from1 -> noop3;\n" +
        "stats2 -> derivative4;\n" +
        "derivative4 -> alert5;\n" +
        "}")
  }

  test("desc overrides use the reference's snake_case node names") {
    val got = TickDot.dot(
      "stream|from()|groupBy('host')|window()|mean('v')|alert()|httpOut('x')", "t")
    assert(got.contains("groupby2"))
    assert(got.contains("mean4"))
    assert(got.contains("http_out6"))
  }

  test("TaskRegistry.dot follows status like convertTask (service.go:1082)") {
    val reg = new graft.tick.TaskRegistry
    reg.define("d1", "stream|from().measurement('cpu')")
    // disabled: plain edge view
    assert(reg.dot("d1").get === "digraph d1 {\nstream0 -> from1;\n}")
    assert(reg.dot("missing").isEmpty)
    intercept[IllegalArgumentException](reg.dot("d1", "fancy"))
  }

  test("TaskRegistry.dot passes live throughput to the executing view") {
    import org.apache.spark.sql.SparkSession
    val spark = SparkSession.builder().master("local[2]")
      .config("spark.sql.shuffle.partitions", 2)
      .config(Graft.EngineConf)
      .getOrCreate()
    import spark.implicits._
    val reg = new graft.tick.TaskRegistry
    reg.define("live", "stream|from().measurement('cpu')")
    reg.enable("live", Seq(("cpu", new java.sql.Timestamp(1000L), 1.0))
      .toDF("measurement", "time", "value"))
    val got = reg.dot("live", throughput = 7.25).get
    assert(got.contains("graph [throughput=\"7.25 points/s\"];"))
  }
}
