package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.tick.TickJson

/** TickJson marshal pinned against the reference's own golden vectors
  * (pipeline/json_test.go TestPipeline_MarshalJSON) — byte-for-byte,
  * including Go's MarshalIndent formatting, HTML escaping, struct field
  * order, and the topological node/edge emission order. */
class TickJsonSpec extends AnyFunSuite {

  test("golden: marshal simple pipeline (stream|from|window)") {
    val script = """
      var w = stream
        |from()
        |window()

      w.period(10s)
      w.every(1s)"""
    val want = """{
    "nodes": [
        {
            "typeOf": "stream",
            "id": "0"
        },
        {
            "typeOf": "from",
            "id": "1",
            "where": null,
            "groupBy": null,
            "groupByMeasurement": false,
            "database": "",
            "retentionPolicy": "",
            "measurement": "",
            "round": "0s",
            "truncate": "0s"
        },
        {
            "typeOf": "window",
            "id": "2",
            "align": false,
            "fillPeriod": false,
            "periodCount": 0,
            "everyCount": 0,
            "period": "10s",
            "every": "1s"
        }
    ],
    "edges": [
        {
            "parent": "0",
            "child": "1"
        },
        {
            "parent": "1",
            "child": "2"
        }
    ]
}"""
    assert(TickJson.marshal(script) === want)
  }

  val chronografScript = """var db = 'telegraf'

      var rp = 'autogen'

      var measurement = 'cpu'

      var groupBy = ['host']

      var whereFilter = lambda: TRUE

      var name = 'Ruley McRuleface'

      var idVar = name + ':{{.Group}}'

      var message = ' {{.ID}} is  {{.Level}}'

      var idTag = 'alertID'

      var levelTag = 'level'

      var messageField = 'message'

      var durationField = 'duration'

      var outputDB = 'chronograf'

      var outputRP = 'autogen'

      var outputMeasurement = 'alerts'

      var triggerType = 'threshold'

      var crit = 90

      var data = stream
        |from()
          .database(db)
          .retentionPolicy(rp)
          .measurement(measurement)
          .groupBy(groupBy)
          .where(whereFilter)
        |eval(lambda: "usage_system")
          .as('value')

      var trigger = data
        |alert()
          .crit(lambda: "value" > crit)
          .stateChangesOnly()
          .message(message)
          .id(idVar)
          .idTag(idTag)
          .levelTag(levelTag)
          .messageField(messageField)
          .durationField(durationField)
          .post('http://howdy.local')

      trigger
        |influxDBOut()
          .create()
          .database(outputDB)
          .retentionPolicy(outputRP)
          .measurement(outputMeasurement)
          .tag('alertName', name)
          .tag('triggerType', triggerType)

      trigger
        |httpOut('output')"""

  test("golden: chronograf threshold rule") {
    val want = """{
    "nodes": [
        {
            "typeOf": "stream",
            "id": "0"
        },
        {
            "typeOf": "from",
            "id": "1",
            "where": {
                "expression": {
                    "bool": true,
                    "typeOf": "bool"
                },
                "typeOf": "lambda"
            },
            "groupBy": [
                "host"
            ],
            "groupByMeasurement": false,
            "database": "telegraf",
            "retentionPolicy": "autogen",
            "measurement": "cpu",
            "round": "0s",
            "truncate": "0s"
        },
        {
            "typeOf": "eval",
            "id": "2",
            "as": [
                "value"
            ],
            "tags": null,
            "lambdas": [
                {
                    "expression": {
                        "reference": "usage_system",
                        "typeOf": "reference"
                    },
                    "typeOf": "lambda"
                }
            ],
            "keep": false,
            "keepList": null
        },
        {
            "typeOf": "alert",
            "id": "3",
            "category": "",
            "topic": "",
            "alertId": "Ruley McRuleface:{{.Group}}",
            "message": " {{.ID}} is  {{.Level}}",
            "details": "{{ json . }}",
            "info": null,
            "warn": null,
            "crit": {
                "expression": {
                    "left": {
                        "reference": "value",
                        "typeOf": "reference"
                    },
                    "operator": "OP_GT",
                    "right": {
                        "base": 10,
                        "float64": 0,
                        "int64": 90,
                        "isfloat": false,
                        "isint": true,
                        "typeOf": "number"
                    },
                    "typeOf": "binary"
                },
                "typeOf": "lambda"
            },
            "infoReset": null,
            "warnReset": null,
            "critReset": null,
            "useFlapping": false,
            "flapLow": 0,
            "flapHigh": 0,
            "history": 21,
            "levelTag": "level",
            "levelField": "",
            "messageField": "message",
            "durationField": "duration",
            "idTag": "alertID",
            "idField": "",
            "all": false,
            "noRecoveries": false,
            "stateChangesOnly": true,
            "stateChangesOnlyDuration": 0,
            "inhibitors": null,
            "post": [
                {
                    "url": "http://howdy.local",
                    "endpoint": "",
                    "headers": null,
                    "captureResponse": false,
                    "timeout": 0,
                    "skipSSLVerification": false
                }
            ],
            "tcp": null,
            "email": null,
            "exec": null,
            "log": null,
            "victorOps": null,
            "pagerDuty": null,
            "pagerDuty2": null,
            "pushover": null,
            "sensu": null,
            "slack": null,
            "discord": null,
            "bigPanda": null,
            "telegram": null,
            "hipChat": null,
            "alerta": null,
            "opsGenie": null,
            "opsGenie2": null,
            "talk": null,
            "mqtt": null,
            "snmpTrap": null,
            "kafka": null,
            "teams": null,
            "serviceNow": null,
            "zenoss": null
        },
        {
            "typeOf": "httpOut",
            "id": "5",
            "endpoint": "output"
        },
        {
            "typeOf": "influxdbOut",
            "id": "4",
            "cluster": "",
            "database": "chronograf",
            "retentionPolicy": "autogen",
            "measurement": "alerts",
            "writeConsistency": "",
            "precision": "",
            "buffer": 1000,
            "tags": {
                "alertName": "Ruley McRuleface",
                "triggerType": "threshold"
            },
            "create": true,
            "flushInterval": "10s"
        }
    ],
    "edges": [
        {
            "parent": "0",
            "child": "1"
        },
        {
            "parent": "1",
            "child": "2"
        },
        {
            "parent": "2",
            "child": "3"
        },
        {
            "parent": "3",
            "child": "5"
        },
        {
            "parent": "3",
            "child": "4"
        }
    ]
}"""
    // Go HTML-escapes '>' inside JSON strings; the marker keeps the
    // backslash-u sequence out of Scala literal processing
    val wantEsc = want.replace("OP_GT", "\\u003e")
    val got = TickJson.marshal(chronografScript)
    if (got != wantEsc) {
      val gl = got.linesIterator.toSeq; val wl = wantEsc.linesIterator.toSeq
      val firstDiff = gl.zipAll(wl, "<EOF>", "<EOF>").indexWhere { case (a, b) => a != b }
      fail(s"mismatch at line $firstDiff:\n got: ${gl.lift(firstDiff)}\nwant: ${wl.lift(firstDiff)}")
    }
  }
  // ----------------------------------------------- unmarshal / remarshal

  val simpleScript = """
      var w = stream
        |from()
        |window()

      w.period(10s)
      w.every(1s)"""

  test("remarshal is the identity on marshal output (fixpoint)") {
    val m = TickJson.marshal(simpleScript)
    assert(TickJson.remarshal(m) === m)
    assert(TickJson.remarshal(TickJson.remarshal(m)) === m)
  }

  test("goFloat keeps the sign of negative zero, like Go") {
    assert(TickJson.goFloat(-0.0) === "-0")
    assert(TickJson.goFloat(0.0) === "0")
  }

  test("Bench.queryTimes reads bench_times.json's per-query map like the old regex reader") {
    val doc = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("bench_times.json")), "UTF-8")
    // the regex pair Bench used before it parsed its own output as JSON
    val qobj = """"queries":\{([^}]*)\}""".r.findFirstMatchIn(doc).map(_.group(1)).getOrElse("")
    val byRegex = """"([^"]+)":([-0-9.eE]+)""".r.findAllMatchIn(qobj)
      .map(m => m.group(1) -> m.group(2).toDouble).toMap
    assert(byRegex.size > 100)
    assert(Bench.queryTimes(doc) === byRegex)
    // a dev-mode stdout line, as the fresh-JVM re-measure reads its child's
    val line = """{"metric":"total","unit":"sec","sf":"sf0.1","n_queries":2,""" +
      """"queries":{"q_a":0.5688,"q_b":2},"isolated":{},"session":{"fresh_contended":false},"value":2.5688}"""
    assert(Bench.queryTimes(line) === Map("q_a" -> 0.5688, "q_b" -> 2.0))
    assert(Bench.queryTimes("not json") === Map.empty)
  }

  test("golden: the reference's compact unmarshal vector canonicalizes to the marshal form") {
    // TestPipeline_Unmarshal's input (alphabetical keys, compact) must
    // normalize to exactly what marshaling the equivalent TICKscript
    // produces — the same law the Go Unmarshal+Marshal pair obeys
    val compact = """{
      "nodes": [
        {"id": "0", "typeOf": "stream"},
        {
        "database": "",
        "groupBy": null,
        "groupByMeasurement": false,
        "id": "1",
        "measurement": "",
        "retentionPolicy": "",
        "round": "0s",
        "truncate": "0s",
        "typeOf": "from",
        "where": null
        },
        {
        "align": false,
        "every": "1s",
        "everyCount": 0,
        "fillPeriod": false,
        "id": "2",
        "period": "10s",
        "periodCount": 0,
        "typeOf": "window"
        }
      ],
      "edges": [{"parent": "0", "child": "1"}, {"parent": "1", "child": "2"}]
    }"""
    assert(TickJson.remarshal(compact) === TickJson.marshal(simpleScript))
  }

  test("unmarshal error laws match the reference") {
    def errOf(j: String): String =
      intercept[IllegalArgumentException](TickJson.unmarshal(j)).getMessage

    // cycle detection (PipelineSorter.visit)
    assert(errOf("""{"nodes":[{"id":"0","typeOf":"stream"}],
      "edges":[{"parent":"0","child":"1"},{"parent":"1","child":"0"}]}""")
      === "cycle detected. kapacitor pipelines must not have cycles")
    // a node absent from the edge list
    assert(errOf("""{"nodes":[{"id":"7","typeOf":"stream"}],
      "edges":[{"parent":"0","child":"1"}]}""")
      === "node 7 not listed in edges")
    // source with a parent
    assert(errOf("""{"nodes":[{"id":"0","typeOf":"stream"},{"id":"1","typeOf":"stream"}],
      "edges":[{"parent":"0","child":"1"}]}""")
      === "expected no parents for source node 1 but found 1")
    // chain node with two parents
    assert(errOf("""{"nodes":[{"id":"0","typeOf":"stream"},{"id":"1","typeOf":"stream"},
        {"id":"2","typeOf":"window"}],
      "edges":[{"parent":"0","child":"2"},{"parent":"1","child":"2"}]}""")
      === "expected one parent for node 2 but found 2")
    // from under a batch source
    assert(errOf("""{"nodes":[{"id":"0","typeOf":"batch"},{"id":"1","typeOf":"from"}],
      "edges":[{"parent":"0","child":"1"}]}""")
      === "parent of query node must be a StreamNode but is batch")
    // query under a stream source
    assert(errOf("""{"nodes":[{"id":"0","typeOf":"stream"},{"id":"1","typeOf":"query"}],
      "edges":[{"parent":"0","child":"1"}]}""")
      === "parent of query node must be a BatchNode but is stream")
    // union needs >1 parent
    assert(errOf("""{"nodes":[{"id":"0","typeOf":"stream"},{"id":"1","typeOf":"union"}],
      "edges":[{"parent":"0","child":"1"}]}""")
      === "expected more than one parent for node 1 but received 1")
    // zero stats interval (unmarshalStats)
    assert(errOf("""{"nodes":[{"id":"0","typeOf":"stream"},
        {"id":"1","typeOf":"stats","interval":"0","align":true}],
      "edges":[{"parent":"0","child":"1"}]}""")
      === "zero is an invalid stats interval")
    // unknown node type
    assert(errOf("""{"nodes":[{"id":"0","typeOf":"stream"},{"id":"1","typeOf":"bogus"}],
      "edges":[{"parent":"0","child":"1"}]}""")
      === "unknown function type bogus for node 1")
  }

  test("udf node canonicalizes as a key-sorted map (delorean vector)") {
    // Test_unmarshalUDF's option map: durations stay influxql strings,
    // ints stay integral, floats fractional, whole object key-sorted
    val j = """{
      "nodes": [
        {"id": "0", "typeOf": "stream"},
        {
          "mph": [88],
          "udfName": "delorean",
          "typeOf": "udf",
          "id": "1",
          "nearClockTower": [true],
          "gigawatts": [1.21],
          "martySays": ["Doc!"],
          "future": ["15778476m", "years"]
        }
      ],
      "edges": [{"parent": "0", "child": "1"}]
    }"""
    val want = """{
    "nodes": [
        {
            "typeOf": "stream",
            "id": "0"
        },
        {
            "future": [
                "15778476m",
                "years"
            ],
            "gigawatts": [
                1.21
            ],
            "id": "1",
            "martySays": [
                "Doc!"
            ],
            "mph": [
                88
            ],
            "nearClockTower": [
                true
            ],
            "typeOf": "udf",
            "udfName": "delorean"
        }
    ],
    "edges": [
        {
            "parent": "0",
            "child": "1"
        }
    ]
}"""
    assert(TickJson.remarshal(j) === want)
  }

  test("chronograf golden round-trips through unmarshal+remarshal byte-identically") {
    // the full threshold-rule JSON (lambdas, handlers, maps) survives
    // the decode→canonicalize cycle unchanged — the Chronograf edit loop
    val m = TickJson.marshal(chronografScript)
    val r = TickJson.remarshal(m)
    if (r != m) {
      val gl = r.linesIterator.toSeq; val wl = m.linesIterator.toSeq
      val d = gl.zipAll(wl, "<EOF>", "<EOF>").indexWhere { case (a, b) => a != b }
      fail(s"mismatch at line $d:\n got: ${gl.lift(d)}\nwant: ${wl.lift(d)}")
    }
  }

}
