package graft

import graft.functions.AlertHandlers
import org.apache.spark.sql.functions._

class AlertHandlersSpec extends SparkSpec {
  import spark.implicits._

  private val events = Seq(
    ("cpu:a", "cpu:a is \"CRITICAL\"", "CRITICAL", 1000L, 60L),
    ("cpu:b", "cpu:b is OK", "OK", 2000L, 0L))
    .toDF("id", "message", "level", "time_us", "duration_us")

  test("webhook payload is valid JSON with escaped message") {
    val out = events.select(AlertHandlers.webhook(
      $"id", $"message", $"level", $"time_us", $"duration_us")).as[String].collect()
    assert(out(0) == """{"id":"cpu:a","message":"cpu:a is \"CRITICAL\"","level":"CRITICAL","time":1000,"duration":60}""")
  }

  test("webhook escapes a two-line message containing < like Go's json.Marshal") {
    val df = Seq(("cpu:a", "value < 5\nfor 1m", "WARNING", 1000L, 60L))
      .toDF("id", "message", "level", "time_us", "duration_us")
    val out = df.select(AlertHandlers.webhook(
      $"id", $"message", $"level", $"time_us", $"duration_us")).as[String].head()
    assert(out ==
      "{\"id\":\"cpu:a\",\"message\":\"value \\u003c 5\\nfor 1m\",\"level\":\"WARNING\"," +
      "\"time\":1000,\"duration\":60}")
  }

  test("slack payload colors by level") {
    val out = events.select(AlertHandlers.slack($"message", $"level", "#alerts")).as[String].collect()
    assert(out(0).contains("\"color\":\"danger\"") && out(0).startsWith("""{"channel":"#alerts""""))
    assert(out(1).contains("\"color\":\"good\""))
  }

  test("pagerduty resolves on OK and triggers otherwise") {
    val out = events.select(AlertHandlers.pagerduty($"id", $"message", $"level", "rk1")).as[String].collect()
    assert(out(0).contains("\"event_action\":\"trigger\"") && out(0).contains("\"severity\":\"critical\""))
    assert(out(1).contains("\"event_action\":\"resolve\""))
  }

  test("log line is tab-separated") {
    val out = events.select(AlertHandlers.logLine($"id", $"message", $"level", $"time_us")).as[String].head()
    assert(out == "1000\tCRITICAL\tcpu:a\tcpu:a is \"CRITICAL\"")
  }

  test("alertData is the canonical alert.Data document (types.go field order)") {
    val out = events.select(AlertHandlers.alertData(
      $"id", $"message", lit("details"), $"time_us", $"duration_us",
      $"level", lit("OK"), lit(true))).as[String].collect()
    assert(out(0) ==
      """{"id":"cpu:a","message":"cpu:a is \"CRITICAL\"","details":"details",""" +
      """"time":"1970-01-01T00:00:00Z","duration":60000,"level":"CRITICAL",""" +
      """"data":{},"previousLevel":"OK","recoverable":true}""")
    // a JSON parser agrees field-for-field
    val parsed = events.select(from_json(AlertHandlers.alertData(
      $"id", $"message", lit("d"), $"time_us", $"duration_us", $"level",
      lit("OK"), lit(true)),
      org.apache.spark.sql.types.StructType.fromDDL(
        "id string, duration long, level string, recoverable boolean")).as("j"))
      .select("j.id", "j.duration", "j.level", "j.recoverable")
      .collect()
    assert(parsed(0).getString(0) == "cpu:a" && parsed(0).getLong(1) == 60000L &&
      parsed(0).getString(2) == "CRITICAL" && parsed(0).getBoolean(3))
  }

  test("emailMime wraps subject=message body=details") {
    val out = events.select(AlertHandlers.emailMime(
      "ops@example.com", "kapacitor@example.com", $"message", lit("<b>details</b>")))
      .as[String].head()
    assert(out.startsWith("From: kapacitor@example.com\r\nTo: ops@example.com\r\nSubject: cpu:a is \"CRITICAL\"\r\n"))
    assert(out.endsWith("\r\n\r\n<b>details</b>"))
  }

  // ------------- round-8 sweep: payloads byte-matched to the reference's
  // integration-test expectations (integrations/streamer_test.go, the
  // TestStream_Alert<Service> cases) for the canonical CRITICAL alert
  // id "kapacitor/cpu/serverA" with one cpu/serverA count row.

  private val critRow = Seq((
    "kapacitor/cpu/serverA",
    "kapacitor/cpu/serverA is CRITICAL",
    "CRITICAL",
    31536010L,
    """{"series":[{"name":"cpu","tags":{"host":"serverA"},"columns":["time","count"],"values":[["1971-01-01T00:00:10Z",10]]}]}"""))
    .toDF("id", "message", "level", "ts_s", "data")

  test("victorops payload matches TestStream_AlertVictorOps") {
    val out = critRow.select(AlertHandlers.victorops(
      $"level", $"id", $"message", $"ts_s", $"data")).as[String].head()
    assert(out ==
      """{"data":"{\"series\":[{\"name\":\"cpu\",\"tags\":{\"host\":\"serverA\"},\"columns\":[\"time\",\"count\"],\"values\":[[\"1971-01-01T00:00:10Z\",10]]}]}",""" +
      """"entity_id":"kapacitor/cpu/serverA","message_type":"CRITICAL",""" +
      """"monitoring_tool":"kapacitor",""" +
      """"state_message":"kapacitor/cpu/serverA is CRITICAL","timestamp":31536010}""")
  }

  test("telegram payload matches TestStream_AlertTelegram (both variants)") {
    val first = critRow.select(AlertHandlers.telegram(
      "12345678", $"message", parseMode = "HTML",
      disableWebPagePreview = true, disableNotification = true)).as[String].head()
    assert(first ==
      """{"chat_id":"12345678","disable_notification":true,""" +
      """"disable_web_page_preview":true,"parse_mode":"HTML",""" +
      """"text":"kapacitor/cpu/serverA is CRITICAL"}""")
    val second = critRow.select(AlertHandlers.telegram(
      "87654321", $"message", disableWebPagePreview = true)).as[String].head()
    assert(second ==
      """{"chat_id":"87654321","disable_web_page_preview":true,""" +
      """"text":"kapacitor/cpu/serverA is CRITICAL"}""")
  }

  test("teams card matches TestStream_AlertTeams") {
    val out = critRow.select(AlertHandlers.teams($"id", $"message", $"level"))
      .as[String].head()
    assert(out ==
      """{"@type":"MessageCard","@context":"http://schema.org/extensions",""" +
      """"title":"CRITICAL: [kapacitor/cpu/serverA]",""" +
      """"text":"kapacitor/cpu/serverA is CRITICAL",""" +
      """"summary":"CRITICAL: [kapacitor/cpu/serverA] - kapacitor/cpu/serverA is CRITICAL...",""" +
      """"themeColor":"CC4A31"}""")
  }

  test("serviceNow records match TestStream_AlertServiceNow (both variants)") {
    val full = critRow.select(AlertHandlers.serviceNow(
      "Kapacitor", lit("serverA"), lit("CPU"), lit("CPU-Total"), lit("idle"),
      concat(lit("Alert: "), $"id"), $"level", $"message",
      additionalInfo = Seq(
        "link" -> concat(lit("http://push/alert?id="), $"id"),
        "ticks" -> lit("666")))).as[String].head()
    assert(full ==
      """{"records":[{"source":"Kapacitor","node":"serverA","type":"CPU",""" +
      """"resource":"CPU-Total","metric_name":"idle",""" +
      """"message_key":"Alert: kapacitor/cpu/serverA","severity":"1",""" +
      """"description":"kapacitor/cpu/serverA is CRITICAL",""" +
      """"additional_info":"{\"link\":\"http://push/alert?id=kapacitor/cpu/serverA\",\"ticks\":\"666\"}"}]}""")
    val minimal = critRow.select(AlertHandlers.serviceNow(
      "Kapacitor", lit(""), lit(""), lit(""), lit(""), $"id", $"level",
      $"message")).as[String].head()
    assert(minimal ==
      """{"records":[{"source":"Kapacitor","message_key":"kapacitor/cpu/serverA",""" +
      """"severity":"1","description":"kapacitor/cpu/serverA is CRITICAL"}]}""")
  }

  test("opsgenie2 payload matches TestStream_AlertOpsGenie2") {
    val out = critRow.select(AlertHandlers.opsgenie2(
      Seq("test_team", "another_team"),
      Seq("test_recipient", "another_recipient"),
      $"message", $"id", $"level", $"data", lit("cpu"),
      tags = Seq("host" -> lit("serverA")))).as[String].head()
    assert(out ==
      """{"alias":"a2FwYWNpdG9yL2NwdS9zZXJ2ZXJB",""" +
      """"description":"{\"series\":[{\"name\":\"cpu\",\"tags\":{\"host\":\"serverA\"},\"columns\":[\"time\",\"count\"],\"values\":[[\"1971-01-01T00:00:10Z\",10]]}]}",""" +
      """"details":{"Kapacitor Task Name":"cpu","Level":"CRITICAL",""" +
      """"Monitoring Tool":"Kapacitor","host":"serverA"},""" +
      """"entity":"kapacitor/cpu/serverA",""" +
      """"message":"kapacitor/cpu/serverA is CRITICAL","note":"","priority":"P1",""" +
      """"responders":[{"name":"test_team","type":"team"},""" +
      """{"name":"another_team","type":"team"},""" +
      """{"type":"user","username":"test_recipient"},""" +
      """{"type":"user","username":"another_recipient"}]}""")
    // recovery path: note-only body, alias-addressed URL
    val rec = critRow.select(AlertHandlers.opsgenie2Recovery($"message")).as[String].head()
    assert(rec == """{"note":"kapacitor/cpu/serverA is CRITICAL"}""")
  }

  test("discord payload matches TestStream_AlertDiscord") {
    val out = critRow.select(AlertHandlers.discord(
      "testy", "", "", $"message", $"level")).as[String].head()
    assert(out ==
      """{"avatar_url":"","embeds":[{"color":16342867,"title":"",""" +
      """"description":"kapacitor/cpu/serverA is CRITICAL","timestamp":""}],""" +
      """"username":"testy"}""")
  }

  test("alerta payload matches TestStream_AlertAlerta (both variants)") {
    val msg = lit("kapacitor/cpu/serverA is CRITICAL @1971-01-01 00:00:10 +0000 UTC")
    val simple = critRow.select(AlertHandlers.alerta(
      resource = lit("cpu"), event = lit("serverA"),
      environment = lit("production"), level = $"level",
      group = lit("host=serverA"), value = lit(""), text = msg,
      origin = lit("Kapacitor"), services = Seq(lit("cpu")),
      correlate = Seq(lit("cpu")), timeoutS = 3600L,
      rawDataJson = lit("{}"))).as[String].head()
    assert(simple ==
      """{"correlate":["cpu"],"environment":"production","event":"serverA",""" +
      """"group":"host=serverA","origin":"Kapacitor","rawData":{},""" +
      """"resource":"cpu","service":["cpu"],"severity":"critical","tags":[],""" +
      """"text":"kapacitor/cpu/serverA is CRITICAL @1971-01-01 00:00:10 +0000 UTC",""" +
      """"timeout":3600,"value":""}""")
    val custom = critRow.select(AlertHandlers.alerta(
      resource = lit("resource: serverA"), event = lit("event: TestStream_Alert"),
      environment = lit("serverA"), level = $"level",
      group = lit("serverA"), value = lit("10"), text = msg,
      origin = lit("override"),
      services = Seq(lit("serviceA"), lit("serviceB"), lit("cpu")),
      correlate = Seq(lit("cpu")),
      attributes = Seq(
        "attributeA" -> lit("\"cpu\""), "attributeB" -> lit("true"),
        "attributeC" -> lit("9001")),
      timeoutS = 86400L)).as[String].head()
    assert(custom ==
      """{"attributes":{"attributeA":"cpu","attributeB":true,"attributeC":9001},""" +
      """"correlate":["cpu"],"environment":"serverA","event":"event: TestStream_Alert",""" +
      """"group":"serverA","origin":"override","rawData":{},""" +
      """"resource":"resource: serverA","service":["serviceA","serviceB","cpu"],""" +
      """"severity":"critical","tags":[],""" +
      """"text":"kapacitor/cpu/serverA is CRITICAL @1971-01-01 00:00:10 +0000 UTC",""" +
      """"timeout":86400,"value":"10"}""")
  }


  // ------------- round-8 completion sweep: the remaining 11 handlers

  test("opsgenie v1 payload matches TestStream_AlertOpsGenie") {
    val out = critRow.select(AlertHandlers.opsgenie(
      "api_key", Seq("test_team", "another_team"),
      Seq("test_recipient", "another_recipient"),
      $"message", $"id", $"level", $"data")).as[String].head()
    assert(out ==
      """{"alias":"kapacitor/cpu/serverA","apiKey":"api_key",""" +
      """"description":"{\"series\":[{\"name\":\"cpu\",\"tags\":{\"host\":\"serverA\"},\"columns\":[\"time\",\"count\"],\"values\":[[\"1971-01-01T00:00:10Z\",10]]}]}",""" +
      """"details":{"Level":"CRITICAL","Monitoring Tool":"Kapacitor"},""" +
      """"entity":"kapacitor/cpu/serverA",""" +
      """"message":"kapacitor/cpu/serverA is CRITICAL",""" +
      """"monitoring_tool":"kapacitor","note":"",""" +
      """"recipients":["test_recipient","another_recipient"],""" +
      """"teams":["test_team","another_team"]}""")
  }

  test("pagerduty v1 triggers on CRITICAL, resolves on OK") {
    val out = critRow.select(AlertHandlers.pagerduty1(
      "service_key", "http://kapacitor.example", $"id", $"message", $"level",
      $"data")).as[String].head()
    assert(out.startsWith("""{"client":"kapacitor","client_url":"http://kapacitor.example","""))
    assert(out.contains(""""event_type":"trigger""""))
    assert(out.contains(""""incident_key":"kapacitor/cpu/serverA""""))
    assert(out.contains(""""service_key":"service_key""""))
    val ok = critRow.select(AlertHandlers.pagerduty1(
      "sk", "u", $"id", $"message", lit("OK"), lit("{}"))).as[String].head()
    assert(ok.contains(""""event_type":"resolve""""))
  }

  test("sensu payload matches TestStream_AlertSensu (metadata merged, sorted)") {
    val out = critRow.select(AlertHandlers.sensu(
      "Kapacitor", Nil, $"id", $"message", $"level",
      metadata = Seq("k1" -> lit("\"v1\""), "k2" -> lit("5"))))
      .as[String].head()
    assert(out ==
      """{"handlers":[],"k1":"v1","k2":5,"name":"kapacitor/cpu/serverA",""" +
      """"output":"kapacitor/cpu/serverA is CRITICAL","source":"Kapacitor",""" +
      """"status":2}""")
  }

  test("pushover form body matches TestStream_AlertPushover field set") {
    val out = critRow.select(AlertHandlers.pushover(
      "KzGDORePKggMaC0QOYAMyEEuzJnyUi", "user", lit("alert msg"), $"level",
      device = "mydev", title = "mytitle", url = "http://example.com",
      urlTitle = "myurltitle", sound = "siren")).as[String].head()
    assert(out ==
      "device=mydev&message=alert+msg&priority=1&sound=siren&title=mytitle" +
      "&token=KzGDORePKggMaC0QOYAMyEEuzJnyUi&url=http%3A%2F%2Fexample.com" +
      "&url_title=myurltitle&user=user")
  }

  test("rowResultJson renders null fields and null tags as JSON null, never a NULL payload") {
    // a fill('null') outer join upstream of an alert leaves field/dim nulls
    // — Go json.Marshal renders them as null; a SQL-NULL payload would
    // silently drop the post
    val df = Seq((7L, Some(1.5), Option.empty[Double], Option.empty[String]))
      .toDF("t_us", "f1", "f2", "tag1")
    val json = df.select(AlertHandlers.rowResultJson(
      lit("m"), Seq("tag1" -> col("tag1")), col("t_us"),
      Seq("f1" -> col("f1"), "f2" -> col("f2")),
      AlertHandlers.fieldJsonFor(df.schema))).as[String].head()
    assert(json ==
      """{"series":[{"name":"m","tags":{"tag1":null},""" +
      """"columns":["time","f1","f2"],""" +
      """"values":[["1970-01-01T00:00:00Z",1.5,null]]}]}""")
  }

  test("pushover percent-encodes reserved bytes like Go url.Values.Encode") {
    // services/pushover/service.go body is url.Values.Encode output: '&',
    // '=', '+', '%' in the message must be percent-encoded (space → '+',
    // '*' → %2A, '~' kept — Go QueryEscape byte set)
    val out = critRow.select(AlertHandlers.pushover(
      "tok", "user", lit("a&b=c+d%e ~f*g/h"), $"level")).as[String].head()
    assert(out ==
      "message=a%26b%3Dc%2Bd%25e+~f%2Ag%2Fh&priority=1&token=tok&user=user")
  }

  test("hipchat payload matches TestStream_AlertHipChat") {
    val out = critRow.select(AlertHandlers.hipchat($"message", $"level"))
      .as[String].head()
    assert(out ==
      """{"color":"red","from":"kapacitor",""" +
      """"message":"kapacitor/cpu/serverA is CRITICAL","notify":true}""")
  }

  test("bigpanda payload matches TestStream_AlertBigPanda") {
    val out = critRow.select(AlertHandlers.bigpanda(
      "111111", $"id", $"message", $"level", $"ts_s",
      lit("TestStream_Alert"), lit("cpu"), host = lit("serverA"),
      detailsUrl = "https://example.org/link", primaryProperty = "host"))
      .as[String].head()
    assert(out ==
      """{"app_key":"111111","check":"kapacitor/cpu/serverA",""" +
      """"description":"kapacitor/cpu/serverA is CRITICAL",""" +
      """"details":"https://example.org/link","host":"serverA",""" +
      """"primary_property":"host","status":"critical",""" +
      """"task":"TestStream_Alert:cpu","timestamp":31536010}""")
  }

  test("zenoss event matches TestStream_AlertZenoss") {
    val out = critRow.select(AlertHandlers.zenoss(
      $"message", $"level", lit("#DEVICE001"), lit("CPU"),
      evClass = lit("/App"))).as[String].head()
    assert(out ==
      """{"action":"EventsRouter","method":"add_event","data":[{""" +
      """"component":"CPU","device":"#DEVICE001","evclass":"/App",""" +
      """"evclasskey":"","severity":"Critical",""" +
      """"summary":"kapacitor/cpu/serverA is CRITICAL"}],"type":"rpc","tid":1}""")
  }

  test("kafka body defaults to alert.Data; mqtt body is the message") {
    val kb = critRow.select(AlertHandlers.kafkaBody(
      $"id", $"message", lit(""), $"ts_s" * 1000000L, lit(0L), $"level"))
      .as[String].head()
    assert(kb.startsWith("""{"id":"kapacitor/cpu/serverA","""))
    assert(kb.contains(""""level":"CRITICAL""""))
    val mb = critRow.select(AlertHandlers.mqttBody($"message")).as[String].head()
    assert(mb == "kapacitor/cpu/serverA is CRITICAL")
  }

  test("snmpTrap varbinds match TestStream_AlertSNMPTrap (first trap)") {
    val out = critRow.select(AlertHandlers.snmpTrap("1.1.1", Seq(
      ("1.1.1.2", "c", lit("1")),
      ("1.1.1.2", "s", lit("SNMP ALERT")),
      ("1.1.1.2", "s", $"message")))).as[String].head()
    assert(out ==
      """{"trap_oid":"1.1.1","varbinds":[""" +
      """{"oid":"1.3.6.1.2.1.1.3.0","type":"TimeTicks"},""" +
      """{"oid":"1.3.6.1.6.3.1.1.4.1.0","type":"Oid","value":"1.1.1"},""" +
      """{"oid":"1.1.1.2","type":"Counter64","value":"1"},""" +
      """{"oid":"1.1.1.2","type":"OctetString","value":"SNMP ALERT"},""" +
      """{"oid":"1.1.1.2","type":"OctetString","value":"kapacitor/cpu/serverA is CRITICAL"}]}""")
  }

  test("goJsonFloat matches Go json.Marshal float64 rendering") {
    // Go: integral → no fraction; |x| in [1e-6, 1e21) → plain decimal;
    // outside → 'e' with the e-0X→e-X cleanup; NaN/Inf (json.Marshal
    // errors) → null so one bad field can't invalidate the payload
    val cases = Seq(
      10.0 -> "10",
      0.1 -> "0.1",
      -12.5 -> "-12.5",
      1e20 -> "100000000000000000000",
      1e15 -> "1000000000000000",
      1e21 -> "1e+21",
      -3.25e22 -> "-3.25e+22",
      2.5e-7 -> "2.5e-7",
      1.5e-10 -> "1.5e-10",
      1e-6 -> "0.000001",
      0.0 -> "0",
      -0.0 -> "-0",
      Double.NaN -> "null",
      Double.PositiveInfinity -> "null",
      Double.NegativeInfinity -> "null")
    cases.foreach { case (d, exp) =>
      assert(AlertHandlers.goJsonFloat(d) == exp, s"for $d")
    }
  }

  test("fieldJsonFor renders NaN/Inf double fields as JSON null in the payload") {
    val df = Seq((Double.NaN, 1.0)).toDF("bad", "good")
    val fj = AlertHandlers.fieldJsonFor(df.schema)
    val out = df.select(
      concat(lit("{\"bad\":"), fj(("bad", $"bad")),
        lit(",\"good\":"), fj(("good", $"good")), lit("}"))).as[String].head()
    assert(out == """{"bad":null,"good":1}""")
  }

  test("talk payload matches the reference talk handler mapping") {
    val out = critRow.select(AlertHandlers.talk("Kapacitor", $"id", $"message"))
      .as[String].head()
    assert(out ==
      """{"authorName":"Kapacitor","text":"kapacitor/cpu/serverA is CRITICAL",""" +
      """"title":"kapacitor/cpu/serverA"}""")
  }

}
