package graft

import graft.tick.{ConfigOverride, ServerConfig}
import org.scalatest.funsuite.AnyFunSuite

/** The server config file as data — loaded from the reference's OWN
  * shipped etc/kapacitor/kapacitor.conf. */
class ServerConfigSpec extends AnyFunSuite {

  private lazy val conf = ServerConfig.parse(
    RefFixtures.read("etc/kapacitor/kapacitor.conf"))

  test("the shipped kapacitor.conf loads: top-level keys and section census") {
    val top = conf("").head
    assert(top("hostname") === "localhost")
    assert(top("data_dir") === "/var/lib/kapacitor")
    assert(top("skip-config-overrides") === false)
    assert(top("default-retention-policy") === "")
    // every uncommented service section the file declares is present
    val expect = Seq("http", "tls", "config-override", "logging", "load",
      "replay", "task", "storage", "deadman", "influxdb", "kubernetes",
      "smtp", "snmptrap", "sensu", "slack", "telegram", "hipchat",
      "kafka", "alerta", "opsgenie", "opsgenie2", "victorops", "pagerduty",
      "pagerduty2", "pushover", "mqtt", "swarm", "ec2",
      "scraper", "azure", "consul", "dns", "file-discovery", "gce",
      "marathon", "nerve", "serverset", "static-discovery", "triton",
      "udf", "stats", "reporting")
    val missing = expect.filterNot(conf.contains)
    assert(missing.isEmpty, s"sections missing from the parse: $missing")
  }

  test("repeatable sections parse as array elements with typed values") {
    val influx = conf("influxdb")
    assert(influx.size === 1)
    val e = influx.head
    assert(e("enabled") === true && e("default") === true)
    assert(e("name") === "localhost")
    assert(e("urls") === Vector("http://localhost:8086"))
    assert(e("timeout") === 0L)
    // the dotted sub-tables nest into the element (Go toml struct decode)
    assert(e("subscriptions") === Map.empty[String, Any])
    assert(e("excluded-subscriptions") === Map.empty[String, Any])
    // [[slack]] default workspace
    val slack = conf("slack").head
    assert(slack("enabled") === false && slack("default") === true)
    assert(slack("global") === false)
    // [udf] nests its functions table
    assert(conf("udf").head("functions") === Map.empty[String, Any])
  }

  test("loaded config composes with dynamic overrides and redaction") {
    import ConfigOverride._
    val spec = SectionSpec("slack",
      options = Seq(OptionSpec("workspace"), OptionSpec("enabled", zero = false),
        OptionSpec("default", zero = false), OptionSpec("global", zero = false),
        OptionSpec("channel"), OptionSpec("username"),
        OptionSpec("icon-emoji"), OptionSpec("ssl-ca"), OptionSpec("ssl-cert"),
        OptionSpec("ssl-key"), OptionSpec("insecure-skip-verify", zero = false),
        OptionSpec("token", redact = true), OptionSpec("url", redact = true),
        OptionSpec("state-changes-only", zero = false)),
      elementKey = Some("workspace"))
    val loaded = Map("slack" -> conf("slack").map(_.filter(kv =>
      spec.options.exists(_.name == kv._1))))
    val out = overrideConfig(Seq(spec), loaded, Seq(
      Override("slack", element = "", options = Map(
        "enabled" -> true, "token" -> "s3cret", "channel" -> "#ops"))))
    val e = out("slack").head
    assert(e("enabled") === true && e("channel") === "#ops")
    val (red, names) = redacted(spec, e)
    assert(red("token") === true && names.contains("token"))

    // the /config GET document over the overridden state
    val doc = configSectionsJson(
      Seq(spec, SectionSpec("smtp", options = Seq(OptionSpec("host")))),
      out)
    assert(doc.contains("\"href\": \"/kapacitor/v1/config\""))
    assert(doc.contains("\"href\": \"/kapacitor/v1/config/slack\""))
    assert(doc.contains("\"channel\": \"#ops\""))
    assert(doc.contains("\"token\": true")) // redacted non-zero secret
    assert(doc.contains("\"redacted\": [\n"))
    // a schema section with no loaded elements marshals null (nil slice)
    assert(doc.contains("\"smtp\"") && doc.contains("\"elements\": null"))
    // map keys (sections, options) render sorted like Go marshal
    assert(doc.indexOf("\"slack\"") < doc.indexOf("\"smtp\""))
  }
}
