package graft.tick

import scala.collection.mutable.{ArrayBuffer, LinkedHashMap}
import graft.tick.TickScript._

/** The task-pipeline JSON surface — the reference's `pipeline/json.go`
  * (Marshal/Unmarshal of the node DAG) plus each node's `MarshalJSON`
  * (pipeline/&#42;.go) and the lambda/ast serialization
  * (tick/ast/json.go, tick/ast/node.go MarshalJSON methods). This is the
  * representation the task API exposes for every defined task and the
  * format Chronograf round-trips when editing alert rules.
  *
  * Byte-exactness laws matched against pipeline/json_test.go's golden
  * vectors (TestPipeline_MarshalJSON):
  *
  *  - output is Go `json.MarshalIndent(p, "", "    ")`: 4-space indent,
  *    HTML-escaped `<` `>` `&` (`<`…), struct fields in declaration
  *    order, map keys sorted;
  *  - every node object leads with `typeOf` + `id` (id is a STRING — the
  *    `json:"id,string"` tag), then the node struct's fields; fields a
  *    custom MarshalJSON shadows (durations re-rendered as influxql
  *    strings) move to the END in the shadow-struct's order
  *    (Go's embedded-struct conflict rule: the outer field wins and
  *    keeps the outer position) — e.g. window is `align, fillPeriod,
  *    periodCount, everyCount, period, every`;
  *  - nodes are listed in the pipeline's topological walk (DFS from
  *    sources in reverse creation order, post-order, reversed —
  *    pipeline.go:172-199); noop nodes are skipped; a stats node gets a
  *    synthesized edge from its observed node (json.go:140-147);
  *  - edges follow each node: one `{parent, child}` per parent in link
  *    order (json.go:149-156);
  *  - lambdas serialize as `{"expression": <ast>, "typeOf": "lambda"}`
  *    with the ast node rendered as a KEY-SORTED object (the reference
  *    ast marshal builds a map — Go sorts map keys): number nodes carry
  *    `base/float64/int64/isfloat/isint`, binary nodes
  *    `left/operator/right`, func nodes `args/functionType` (the
  *    function NAME is absent — a faithful reference quirk:
  *    ast.FunctionNode.MarshalJSON never writes it);
  *  - durations format influxql-style (`10s`, `2h`, `0s`; negative
  *    passes the sign through) except `stateChangesOnlyDuration` and
  *    handler `timeout`s, which the reference leaves as int64 nanos;
  *  - `elapsed` marshals `args: null` (the reference never sets
  *    Args for Elapsed — another faithful quirk), while
  *    top/bottom/percentile/movingAverage/holtWinters carry their
  *    argument lists (holtWinters: `[h, m, interval, includeFitData]`
  *    under typeOf `holtWinters` for the WithFit variant too, with
  *    `usePointTimes: true` always);
  *  - `ec2Autoscale` has NO custom marshal in the reference (absent
  *    from json.go's registries): it serializes with raw Go field names
  *    and nano-int durations and cannot be unmarshaled — reproduced
  *    as-is.
  *
  * Known representation bound: a duration LITERAL inside a lambda body
  * (`lambda: "dt" > 5m`) is held by the parser as seconds
  * (TickScript.parsePrimary) and marshals as a float number node, where
  * the reference emits a duration ast node. Duration-valued node
  * PROPERTIES and UDF options (the shapes the corpus uses) round-trip
  * exactly.
  */
object TickJson {

  // ======================================================== JSON model

  sealed trait JV
  case object JNull extends JV
  final case class JBool(b: Boolean) extends JV
  final case class JInt(v: Long) extends JV
  final case class JFloat(v: Double) extends JV
  final case class JStr(s: String) extends JV
  final case class JArr(vs: Seq[JV]) extends JV
  /** Insertion-ordered object (Go struct marshal). */
  final case class JObj(fs: Seq[(String, JV)]) extends JV

  def obj(fs: (String, JV)*): JObj = JObj(fs)
  /** Go map marshal: keys sorted. */
  def sortedObj(fs: Seq[(String, JV)]): JObj = JObj(fs.sortBy(_._1))

  // ------------------------------------------- Go-compatible rendering

  /** `json.MarshalIndent(v, "", "    ")`. */
  def write(v: JV): String = {
    val sb = new StringBuilder
    writeVal(sb, v, 0)
    sb.toString
  }

  private def writeVal(sb: StringBuilder, v: JV, depth: Int): Unit = v match {
    case JNull => sb ++= "null"
    case JBool(b) => sb ++= (if (b) "true" else "false")
    case JInt(l) => sb.append(l)
    case JFloat(d) => sb ++= goFloat(d)
    case JStr(s) => sb ++= escapeGo(s)
    case JArr(vs) =>
      if (vs.isEmpty) sb ++= "[]"
      else {
        sb ++= "[\n"
        vs.zipWithIndex.foreach { case (x, i) =>
          indent(sb, depth + 1); writeVal(sb, x, depth + 1)
          if (i < vs.size - 1) sb += ','
          sb += '\n'
        }
        indent(sb, depth); sb += ']'
      }
    case JObj(fs) =>
      if (fs.isEmpty) sb ++= "{}"
      else {
        sb ++= "{\n"
        fs.zipWithIndex.foreach { case ((k, x), i) =>
          indent(sb, depth + 1); sb ++= escapeGo(k); sb ++= ": "
          writeVal(sb, x, depth + 1)
          if (i < fs.size - 1) sb += ','
          sb += '\n'
        }
        indent(sb, depth); sb += '}'
      }
  }

  private def indent(sb: StringBuilder, depth: Int): Unit =
    sb ++= "    " * depth

  /** `json.NewEncoder(w).Encode(v)` WITHOUT the trailing newline the
    * Encoder appends — compact (no spaces), same escaping. */
  def writeCompact(v: JV): String = {
    val sb = new StringBuilder
    def go(x: JV): Unit = x match {
      case JNull => sb ++= "null"
      case JBool(b) => sb ++= (if (b) "true" else "false")
      case JInt(l) => sb.append(l)
      case JFloat(d) => sb ++= goFloat(d)
      case JStr(s) => sb ++= escapeGo(s)
      case JArr(vs) =>
        sb += '['
        vs.zipWithIndex.foreach { case (e, i) =>
          if (i > 0) sb += ','; go(e)
        }
        sb += ']'
      case JObj(fs) =>
        sb += '{'
        fs.zipWithIndex.foreach { case ((k, e), i) =>
          if (i > 0) sb += ','; sb ++= escapeGo(k); sb += ':'; go(e)
        }
        sb += '}'
    }
    go(v)
    sb.toString
  }

  /** Go encoding/json string escaping, quotes included: `"` `\` control
    * chars, and the HTML-safe escapes for `<` `>` `&` (and U+2028/U+2029).
    * The one JSON string encoder: every Go wire document, recording and
    * alert payload goes through it. */
  def escapeGo(s: String): String = {
    val sb = new StringBuilder(s.length + 2)
    sb += '"'
    s.foreach {
      case '"' => sb ++= "\\\""
      case '\\' => sb ++= "\\\\"
      case '\n' => sb ++= "\\n"
      case '\r' => sb ++= "\\r"
      case '\t' => sb ++= "\\t"
      case '<' => sb ++= "\\u003c"
      case '>' => sb ++= "\\u003e"
      case '&' => sb ++= "\\u0026"
      case c if c == '\u2028' => sb ++= "\\u2028"
      case c if c == '\u2029' => sb ++= "\\u2029"
      case c if c < ' ' => sb ++= f"\\u${c.toInt}%04x"
      case c => sb += c
    }
    (sb += '"').toString
  }

  /** Go json float formatting: 'f' (plain, shortest digits) for
    * 1e-6 ≤ |x| < 1e21, 'e' with `e+NN`/`e-N` styling outside; negative
    * zero keeps its sign (`-0`). NaN/±Inf are refused, as json.Marshal
    * refuses them. */
  def goFloat(d: Double): String = {
    if (d.isNaN || d.isInfinite)
      throw new IllegalArgumentException(s"json: unsupported value: $d")
    if (d == 0.0) return if (1.0 / d < 0) "-0" else "0"
    val abs = math.abs(d)
    val shortest = java.lang.Double.toString(d) // shortest-round-trip repr
    if (abs >= 1e-6 && abs < 1e21) {
      val plain = new java.math.BigDecimal(shortest).toPlainString
      // strip a trailing ".0" (Go prints integral floats bare)
      if (plain.endsWith(".0")) plain.dropRight(2)
      else if (plain.contains('.')) plain.reverse.dropWhile(_ == '0').reverse.stripSuffix(".")
      else plain
    } else {
      // 'e' format: mantissa without trailing ".0", exponent e±N
      // (single-digit exponents unpadded, like strconv 'e' -1 precision
      // after encoding/json's e-0N cleanup)
      val i = shortest.indexOf('E')
      val mant0 = shortest.substring(0, i)
      val mant = if (mant0.endsWith(".0")) mant0.dropRight(2) else mant0
      val exp = shortest.substring(i + 1).toInt
      val sign = if (exp < 0) "-" else "+"
      s"${mant}e$sign${math.abs(exp)}"
    }
  }

  // ------------------------------------------------ influxql durations

  /** influxql.FormatDuration: zero → "0s"; otherwise the largest unit
    * that divides evenly (w, d, h, m, s, ms, u, ns). */
  def formatDuration(nanos: Long): String = {
    if (nanos == 0) "0s"
    else if (nanos % 604800000000000L == 0) s"${nanos / 604800000000000L}w"
    else if (nanos % 86400000000000L == 0) s"${nanos / 86400000000000L}d"
    else if (nanos % 3600000000000L == 0) s"${nanos / 3600000000000L}h"
    else if (nanos % 60000000000L == 0) s"${nanos / 60000000000L}m"
    else if (nanos % 1000000000L == 0) s"${nanos / 1000000000L}s"
    else if (nanos % 1000000L == 0) s"${nanos / 1000000L}ms"
    else if (nanos % 1000L == 0) s"${nanos / 1000L}u"
    else s"${nanos}ns"
  }

  private def durNanos(seconds: Double): Long = math.round(seconds * 1e9)

  // =========================================== lambda / ast expression

  /** `{"expression": <ast>, "typeOf": "lambda"}` (keys sorted — the ast
    * marshal is a Go map). */
  def lambdaJson(e: Expr): JV =
    sortedObj(Seq("expression" -> exprJson(e, regexPos = false),
      "typeOf" -> JStr("lambda")))

  /** ast node JSON (tick/ast/node.go MarshalJSON family). `regexPos`
    * marks the right side of `=~`/`!~`, where a string literal is a
    * regex literal (the lexer folds both to strings). */
  private def exprJson(e: Expr, regexPos: Boolean): JV = e match {
    case EField(f) =>
      sortedObj(Seq("reference" -> JStr(f), "typeOf" -> JStr("reference")))
    case ELit(true) => sortedObj(Seq("bool" -> JBool(true), "typeOf" -> JStr("bool")))
    case ELit(false) => sortedObj(Seq("bool" -> JBool(false), "typeOf" -> JStr("bool")))
    case ELit(l: Long) => numberJson(isInt = true, i = l)
    case ELit(i: Int) => numberJson(isInt = true, i = i.toLong)
    case ELit(d: Double) => numberJson(isInt = false, f = d)
    case ELit(Dur(s)) =>
      sortedObj(Seq("duration" -> JStr(formatDuration(durNanos(s))),
        "typeOf" -> JStr("duration")))
    case ELit(s: String) if regexPos =>
      sortedObj(Seq("regex" -> JStr(s), "typeOf" -> JStr("regex")))
    case ELit(s: String) =>
      sortedObj(Seq("literal" -> JStr(s), "typeOf" -> JStr("string")))
    case ENeg(x) =>
      sortedObj(Seq("node" -> exprJson(x, regexPos = false),
        "operator" -> JStr("-"), "typeOf" -> JStr("unary")))
    case EBin(op, l, r) =>
      val regexRight = op == "=~" || op == "!~"
      sortedObj(Seq(
        "left" -> exprJson(l, regexPos = false),
        "operator" -> JStr(op),
        "right" -> exprJson(r, regexPos = regexRight),
        "typeOf" -> JStr("binary")))
    case EFn(_, args) =>
      // faithful quirk: ast.FunctionNode.MarshalJSON writes args +
      // functionType but NOT the function name (tick/ast/node.go)
      sortedObj(Seq(
        "args" -> JArr(args.map(exprJson(_, regexPos = false))),
        "functionType" -> JStr("global"),
        "typeOf" -> JStr("func")))
    case EVar(n) =>
      throw new IllegalArgumentException(s"unresolved var $n in lambda — marshal after parseResolved")
    case other =>
      throw new IllegalArgumentException(s"cannot marshal lambda node $other")
  }

  /** NumberNode: ints carry base 10; floats leave base 0 (the reference
    * parser only sets Base on integer literals). */
  private def numberJson(isInt: Boolean, i: Long = 0L, f: Double = 0.0): JV =
    sortedObj(Seq(
      "base" -> JInt(if (isInt) 10L else 0L),
      "float64" -> JFloat(if (isInt) 0.0 else f),
      "int64" -> JInt(if (isInt) i else 0L),
      "isfloat" -> JBool(!isInt),
      "isint" -> JBool(isInt),
      "typeOf" -> JStr("number")))

  // ======================================================== marshaling

  /** The deadman service defaults the `|deadman()` macro renders with
    * (pipeline.deadman — empty when no service is configured, like the
    * zero deadman the reference marshal tests use). */
  final case class DeadmanConfig(id: String = "", message: String = "")

  /** Marshal a TICKscript task to the reference's pipeline JSON. */
  def marshal(script: String, templateVars: Map[String, Any] = Map.empty,
      deadman: DeadmanConfig = DeadmanConfig()): String = {
    val resolved = TickScript.parseResolved(script, templateVars)
    write(pipelineJson(resolved, deadman))
  }

  // ------------------------------------------------------- DAG builder

  private final class JN(val id: Int, val typ: String) {
    val children = new ArrayBuffer[JN]
    val parents = new ArrayBuffer[JN] // in link order
    /** The script node this JN renders; props may still GROW after
      * creation (`w.period(10s)` property-application chains), so field
      * JSON is computed at emission, not here. */
    var src: Node = Node("", Nil, Nil)
    var synth: Option[AlertSynth] = None // deadman-synthesized alert defaults
    var udfName: String = ""
    var noop: Boolean = false
    var statsSource: Option[JN] = None // stats node's observed node
  }

  /** Names that OPEN a node when chained; anything else chained onto a
    * var (`w.period(10s)`) is a property application to the var's node. */
  private val nodeOpeners: Set[String] = Set(
    "from", "query", "queryFlux", "window", "where", "eval", "groupBy",
    "default", "delete", "shift", "sample", "flatten", "combine", "union",
    "join", "barrier", "derivative", "changeDetect", "stateDuration",
    "stateCount", "stats", "deadman", "sideload", "alert", "httpOut",
    "httpPost", "influxDBOut", "kapacitorLoopback", "log", "noop", "noOp",
    "trickle", "k8sAutoscale", "swarmAutoscale", "ec2Autoscale") ++ Set(
    "count", "distinct", "mean", "median", "mode", "spread", "sum",
    "first", "last", "min", "max", "stddev", "difference", "cumulativeSum",
    "percentile", "elapsed", "movingAverage", "holtWinters",
    "holtWintersWithFit", "top", "bottom")

  private def pipelineJson(script: Script, deadman: DeadmanConfig): JV = {
    var nextId = 0
    val sources = new ArrayBuffer[JN]
    val all = new ArrayBuffer[JN]
    def newNode(typ: String): JN = { val n = new JN(nextId, typ); nextId += 1; all += n; n }
    def link(p: JN, c: JN): Unit = { p.children += c; c.parents += p }

    val roots = script.chains.map(_.root).filter(r => r == "stream" || r == "batch").distinct
    require(roots.size == 1,
      s"task must be a single type, script has roots ${roots.mkString(", ")}")
    // every textual `stream`/`batch` chain root creates a FRESH source
    // node (the reference's join golden declares two stream statements
    // with distinct ids — pipeline/tick/join_test.go)
    val vars = scala.collection.mutable.Map.empty[String, JN]
    def resolve(name: String): JN = name match {
      case "stream" | "batch" =>
        val src = newNode(name); sources += src; src
      case other => vars.getOrElse(other,
        throw new IllegalArgumentException(s"chain from unknown var $other"))
    }

    def statsOn(cur: JN, nd: Node): JN = {
      val st = newNode("stats")
      st.statsSource = Some(cur)
      st.src = nd
      sources += st
      if (cur.children.isEmpty) { val no = newNode("noop"); no.noop = true; link(cur, no) }
      st
    }

    for (ch <- script.chains) {
      var cur = resolve(ch.root)
      for (nd <- ch.nodes) nd.name match {
        case "stats" =>
          cur = statsOn(cur, nd)
        case "deadman" =>
          // pipeline/node.go:282-312 — stats(interval).align()
          //   |derivative('emitted').unit(interval).nonNegative()
          //   |alert().id(...).message(...).crit("emitted" <= threshold AND …)
          val threshold = nd.args.headOption.map(anyDouble).getOrElse(0.0)
          val nsArg = nd.args.lift(1).getOrElse(Dur(0.0))
          val ns = anyDurNs(nsArg)
          val st = statsOn(cur, Node("stats", Seq(nsArg), Seq(Call("align", Nil))))
          val d = newNode("derivative"); link(st, d)
          d.src = Node("derivative", Seq("emitted"),
            Seq(Call("unit", Seq(nsArg)), Call("nonNegative", Nil)))
          val a = newNode("alert"); link(d, a)
          var crit: Expr = EBin("<=", EField("emitted"), ELit(threshold))
          nd.args.drop(2).foreach {
            case e: Expr => crit = EBin("AND", crit, e)
            case other => throw new IllegalArgumentException(s"deadman extra arg $other is not a lambda")
          }
          // the observed node's NAME uses the pipeline desc (http_out,
          // influxdb_out, ... — node.go Name = desc + id)
          val obsName =
            s"${TickDot.descOverride.getOrElse(cur.typ, cur.typ)}${cur.id}"
          a.src = Node("alert", Nil, nd.props)
          a.synth = Some(AlertSynth(
            id = deadman.id.replaceFirst("NODE_NAME", java.util.regex.Matcher.quoteReplacement(obsName)),
            message = deadman.message.replaceFirst("INTERVAL", Cli.goDurationNs(ns)),
            crit = crit))
          cur = a
        case "join" | "union" =>
          val extra = nd.args.collect { case a if vars.contains(a.toString) => resolve(a.toString) }
          val g = newNode(nd.name)
          link(cur, g); extra.foreach(link(_, g))
          g.src = nd
          cur = g
        case u if u.startsWith("@") =>
          val g = newNode("udf"); link(cur, g)
          g.udfName = u.substring(1); g.src = nd
          cur = g
        case "noop" | "noOp" | "trickle" =>
          val g = newNode(if (nd.name == "trickle") "trickle" else "noop")
          g.noop = nd.name != "trickle"
          link(cur, g); cur = g
        case other if !nodeOpeners(other) && ch.root != "stream" && ch.root != "batch" =>
          // property application onto a var's node (`w.period(10s)`) —
          // the parser opens a pseudo-node because the chain starts at a
          // var; the reference applies these as property calls on the
          // var's pipeline node (json_test.go's simple-pipeline script)
          cur.src = cur.src.copy(props =
            cur.src.props ++ (Call(other, nd.args) +: nd.props))
        case other =>
          val g = newNode(jsonTypeName(other)); link(cur, g)
          g.src = nd
          cur = g
      }
      ch.varName.foreach(v => vars(v) = cur)
    }

    // pipeline.go sort(): DFS from sources in reverse order, post-order
    // append, whole list reversed
    val done = new java.util.IdentityHashMap[JN, JN]
    val order = new ArrayBuffer[JN]
    def visit(n: JN): Unit = if (!done.containsKey(n)) {
      done.put(n, n); n.children.foreach(visit); order += n
    }
    sources.reverseIterator.foreach(visit)
    val sorted = order.reverse.toSeq

    val nodesOut = Seq.newBuilder[JV]
    val edgesOut = Seq.newBuilder[JV]
    def edge(p: JN, c: JN): JV =
      obj("parent" -> JStr(p.id.toString), "child" -> JStr(c.id.toString))
    for (n <- sorted) {
      if (!n.noop) {
        n.statsSource.foreach(src => edgesOut += edge(src, n))
        nodesOut += (n.typ match {
          case "udf" => JObj(udfFields(n.udfName, n.src, n.id)) // whole-map marshal, key-sorted incl typeOf/id
          case "ec2Autoscale" => JObj(nodeFields("ec2Autoscale", n.src)) // no TypeOf header — faithful quirk
          case "stream" | "batch" | "trickle" =>
            JObj(Seq("typeOf" -> JStr(n.typ), "id" -> JStr(n.id.toString)))
          case "stats" =>
            JObj(Seq("typeOf" -> JStr("stats"), "id" -> JStr(n.id.toString),
              "align" -> JBool(n.src.props.exists(_.name == "align")),
              "interval" -> JStr(formatDuration(
                n.src.args.headOption.map(anyDurNs).getOrElse(0L)))))
          case "union" =>
            JObj(Seq("typeOf" -> JStr("union"), "id" -> JStr(n.id.toString),
              "rename" -> JStr(propStr(n.src, "rename"))))
          case "join" =>
            JObj(Seq("typeOf" -> JStr("join"), "id" -> JStr(n.id.toString)) ++
              joinFields(n.src))
          case "alert" =>
            JObj(Seq("typeOf" -> JStr("alert"), "id" -> JStr(n.id.toString)) ++
              alertFields(n.src, n.synth))
          case t =>
            JObj(Seq("typeOf" -> JStr(t), "id" -> JStr(n.id.toString)) ++
              nodeFields(n.src.name, n.src))
        })
        n.parents.foreach(p => edgesOut += edge(p, n))
      }
    }
    obj("nodes" -> JArr(nodesOut.result()), "edges" -> JArr(edgesOut.result()))
  }

  /** script method name → JSON typeOf (json.go registries use the
    * camelCase method names; influxdbOut differs from the DSL). */
  private def jsonTypeName(name: String): String = name match {
    case "influxDBOut" => "influxdbOut"
    // both HoltWinters variants share the "holtWinters" method string
    // (chainnode.holtWinters); the fit flag rides in Args
    case "holtWintersWithFit" => "holtWinters"
    case other => other
  }

  // -------------------------------------------------- property helpers

  private def anyStr(a: Any): String = a match {
    case s: String => s
    case other => String.valueOf(other)
  }
  private def anyLong(a: Any): Long = a match {
    case l: Long => l; case i: Int => i.toLong
    case d: Double => d.toLong
    case Dur(s) => durNanos(s)
    case other => throw new IllegalArgumentException(s"expected int, got $other")
  }
  private def anyDouble(a: Any): Double = a match {
    case d: Double => d; case l: Long => l.toDouble; case i: Int => i.toDouble
    case other => throw new IllegalArgumentException(s"expected float, got $other")
  }
  private def anyDurNs(a: Any): Long = a match {
    case Dur(s) => durNanos(s)
    case l: Long => l // already nanos
    case d: Double => durNanos(d)
    case other => throw new IllegalArgumentException(s"expected duration, got $other")
  }
  /** A literal arg as a JSON value (default/fill/sideload values). */
  private def anyJson(a: Any): JV = a match {
    case s: String => JStr(s)
    case b: Boolean => JBool(b)
    case l: Long => JInt(l)
    case i: Int => JInt(i.toLong)
    case d: Double => JFloat(d)
    case Dur(s) => JStr(formatDuration(durNanos(s)))
    case e: Expr => lambdaJson(e)
    case other => JStr(String.valueOf(other))
  }

  private def calls(nd: Node, name: String): Seq[Call] = nd.props.filter(_.name == name)
  private def lastCall(nd: Node, name: String): Option[Call] = calls(nd, name).lastOption
  private def propStr(nd: Node, name: String, default: String = ""): String =
    lastCall(nd, name).flatMap(_.args.headOption).map(anyStr).getOrElse(default)
  private def propLong(nd: Node, name: String, default: Long = 0L): Long =
    lastCall(nd, name).flatMap(_.args.headOption).map(anyLong).getOrElse(default)
  private def propFlag(nd: Node, name: String): Boolean = calls(nd, name).nonEmpty
  private def propDurStr(nd: Node, name: String, defaultNs: Long = 0L): JV =
    JStr(formatDuration(lastCall(nd, name).flatMap(_.args.headOption)
      .map(anyDurNs).getOrElse(defaultNs)))
  private def propDurNanosInt(nd: Node, name: String): JV =
    JInt(lastCall(nd, name).flatMap(_.args.headOption).map(anyDurNs).getOrElse(0L))
  /** A lambda-position value as an Expr: scope resolution unwraps a
    * constant lambda (`lambda: TRUE`) to its literal — re-wrap it. */
  private def asExpr(a: Any): Expr = a match {
    case e: Expr => e
    case v => ELit(v)
  }
  private def propLambda(nd: Node, name: String): JV =
    lastCall(nd, name).flatMap(_.args.headOption) match {
      case Some(a) => lambdaJson(asExpr(a))
      case None => JNull
    }
  /** Accumulated string-list property (`.to('a').to('b')` or
    * `.on('a','b')`): null when never called (nil slice), else array. */
  private def propStrList(nd: Node, name: String): JV = {
    val cs = calls(nd, name)
    if (cs.isEmpty) JNull else JArr(cs.flatMap(_.args).map(a => JStr(anyStr(a))))
  }
  /** Accumulated k/v map property (`.field(k, v)`/`.tag(k, v)`): null
    * when never called (nil map), else key-sorted object. */
  private def propKvMap(nd: Node, name: String, str: Boolean = false): JV = {
    val cs = calls(nd, name)
    if (cs.isEmpty) JNull
    else sortedObj(cs.map(c => anyStr(c.args.head) ->
      (if (str) JStr(anyStr(c.args(1))) else anyJson(c.args(1)))))
  }

  /** groupBy/dimension args: strings, `*` (a star ast node), and
    * `time(...)` function calls (batch queries). Null when absent. */
  private def dimsJson(args: Seq[Any]): JV =
    if (args.isEmpty) JNull
    else JArr(args.map {
      case "*" => sortedObj(Seq("typeOf" -> JStr("star")))
      case FnArg(fn, fargs) => sortedObj(Seq(
        "args" -> JArr(fargs.map {
          case Dur(s) => sortedObj(Seq("duration" -> JStr(formatDuration(durNanos(s))),
            "typeOf" -> JStr("duration")))
          case other => exprLit(other)
        }),
        "functionType" -> JStr("global"),
        "typeOf" -> JStr("func")))
      case s => JStr(anyStr(s))
    })

  private def exprLit(a: Any): JV = a match {
    case e: Expr => exprJsonPublic(e)
    case l: Long => numberJson(isInt = true, i = l)
    case d: Double => numberJson(isInt = false, f = d)
    case b: Boolean => sortedObj(Seq("bool" -> JBool(b), "typeOf" -> JStr("bool")))
    case s: String => sortedObj(Seq("literal" -> JStr(s), "typeOf" -> JStr("string")))
    case other => JStr(String.valueOf(other))
  }
  private def exprJsonPublic(e: Expr): JV = exprJson(e, regexPos = false)

  // ------------------------------------------------- per-node schemas

  /** InfluxQL method names (influxql.go chain methods). */
  private val influxqlMethods: Set[String] = Set(
    "count", "distinct", "mean", "median", "mode", "spread", "sum",
    "first", "last", "min", "max", "stddev", "difference", "cumulativeSum",
    "percentile", "elapsed", "movingAverage", "holtWinters",
    "holtWintersWithFit", "top", "bottom")

  private def nodeFields(name: String, nd: Node): Seq[(String, JV)] = name match {
    case "from" => Seq(
      "where" -> propLambda(nd, "where"),
      "groupBy" -> dimsJson(calls(nd, "groupBy").flatMap(_.args)),
      "groupByMeasurement" -> JBool(propFlag(nd, "groupByMeasurement")),
      "database" -> JStr(propStr(nd, "database")),
      "retentionPolicy" -> JStr(propStr(nd, "retentionPolicy")),
      "measurement" -> JStr(propStr(nd, "measurement")),
      "round" -> propDurStr(nd, "round"),
      "truncate" -> propDurStr(nd, "truncate"))

    case "query" => Seq(
      "queryStr" -> JStr(nd.args.headOption.map(anyStr).getOrElse("")),
      "align" -> JBool(propFlag(nd, "align")),
      "cron" -> JStr(propStr(nd, "cron")),
      "alignGroup" -> JBool(propFlag(nd, "alignGroup")),
      "groupBy" -> dimsJson(calls(nd, "groupBy").flatMap(_.args)),
      "groupByMeasurement" -> JBool(propFlag(nd, "groupByMeasurement")),
      "fill" -> lastCall(nd, "fill").flatMap(_.args.headOption).map(anyJson).getOrElse(JNull),
      "cluster" -> JStr(propStr(nd, "cluster")),
      "period" -> propDurStr(nd, "period"),
      "every" -> propDurStr(nd, "every"),
      "offset" -> propDurStr(nd, "offset"))

    case "queryFlux" => Seq(
      "queryStr" -> JStr(nd.args.headOption.map(anyStr).getOrElse("")),
      "align" -> JBool(propFlag(nd, "align")),
      "cron" -> JStr(propStr(nd, "cron")),
      "cluster" -> JStr(propStr(nd, "cluster")),
      "org" -> JStr(propStr(nd, "org")),
      "orgid" -> JStr(propStr(nd, "orgID", propStr(nd, "orgid"))),
      "period" -> propDurStr(nd, "period"),
      "every" -> propDurStr(nd, "every"),
      "offset" -> propDurStr(nd, "offset"))

    case "window" => Seq(
      "align" -> JBool(propFlag(nd, "align")),
      "fillPeriod" -> JBool(propFlag(nd, "fillPeriod")),
      "periodCount" -> JInt(propLong(nd, "periodCount")),
      "everyCount" -> JInt(propLong(nd, "everyCount")),
      "period" -> propDurStr(nd, "period"),
      "every" -> propDurStr(nd, "every"))

    case "where" => Seq(
      "lambda" -> nd.args.headOption.map(a => lambdaJson(asExpr(a))).getOrElse(JNull))

    case "eval" => Seq(
      "as" -> propStrList(nd, "as"),
      "tags" -> propStrList(nd, "tags"),
      "lambdas" -> JArr(nd.args.map(a => lambdaJson(asExpr(a)))),
      "keep" -> JBool(propFlag(nd, "keep")),
      "keepList" -> {
        val ks = calls(nd, "keep").flatMap(_.args)
        if (ks.isEmpty) JNull else JArr(ks.map(a => JStr(anyStr(a))))
      })

    case "default" => Seq(
      "fields" -> propKvMap(nd, "field"),
      "tags" -> propKvMap(nd, "tag", str = true))

    case "delete" => Seq(
      "fields" -> propStrList(nd, "field"),
      "tags" -> propStrList(nd, "tag"))

    case "shift" => Seq(
      "shift" -> JStr(formatDuration(nd.args.headOption.map(anyDurNs).getOrElse(0L))))

    case "sample" =>
      val (n, durNs) = nd.args.headOption match {
        case Some(Dur(s)) => (0L, durNanos(s))
        case Some(v) => (anyLong(v), 0L)
        case None => (0L, 0L)
      }
      Seq("n" -> JInt(n), "duration" -> JStr(formatDuration(durNs)))

    case "flatten" => Seq(
      "on" -> propStrList(nd, "on"),
      "delimiter" -> JStr(propStr(nd, "delimiter", ".")),
      "tolerance" -> propDurStr(nd, "tolerance"),
      "dropOriginalFieldName" -> JBool(propFlag(nd, "dropOriginalFieldName")))

    case "combine" => Seq(
      "lambdas" -> JArr(nd.args.map(a => lambdaJson(asExpr(a)))),
      "as" -> propStrList(nd, "as"),
      "delimiter" -> JStr(propStr(nd, "delimiter", ".")),
      "max" -> JInt(propLong(nd, "max", 1000000L)),
      "tolerance" -> propDurStr(nd, "tolerance"))

    case "groupBy" => Seq(
      "dimensions" -> dimsJson(nd.args),
      "exclude" -> propStrList(nd, "exclude"),
      "byMeasurement" -> JBool(propFlag(nd, "byMeasurement")))

    case "barrier" =>
      val del = propFlag(nd, "delete")
      (if (del) Seq("delete" -> JBool(true)) else Nil) ++ Seq(
        "period" -> propDurStr(nd, "period"),
        "idle" -> propDurStr(nd, "idle"))

    case "derivative" =>
      val field = nd.args.headOption.map(anyStr).getOrElse("")
      Seq(
        "field" -> JStr(field),
        "as" -> JStr(propStr(nd, "as", field)),
        "nonNegative" -> JBool(propFlag(nd, "nonNegative")),
        "unit" -> propDurStr(nd, "unit", 1000000000L))

    case "changeDetect" => Seq(
      "fields" -> (if (nd.args.isEmpty) JNull else JArr(nd.args.map(a => JStr(anyStr(a))))))

    case "stateDuration" => Seq(
      "lambda" -> nd.args.headOption.map(a => lambdaJson(asExpr(a))).getOrElse(JNull),
      "as" -> JStr(propStr(nd, "as", "state_duration")),
      "unit" -> propDurStr(nd, "unit", 1000000000L))

    case "stateCount" => Seq(
      "lambda" -> nd.args.headOption.map(a => lambdaJson(asExpr(a))).getOrElse(JNull),
      "as" -> JStr(propStr(nd, "as", "state_count")))

    case "alert" => alertFields(nd, None)

    case "httpOut" => Seq(
      "endpoint" -> JStr(nd.args.headOption.map(anyStr).getOrElse("")))

    case "httpPost" => Seq(
      "endpoints" -> propStrList(nd, "endpoint"),
      "headers" -> propKvMap(nd, "header", str = true),
      "codeField" -> JStr(propStr(nd, "codeField")),
      "captureResponse" -> JBool(propFlag(nd, "captureResponse")),
      "urls" -> (if (nd.args.isEmpty) JNull else JArr(nd.args.map(a => JStr(anyStr(a))))),
      "timeout" -> propDurStr(nd, "timeout"))

    case "influxDBOut" => Seq(
      "cluster" -> JStr(propStr(nd, "cluster")),
      "database" -> JStr(propStr(nd, "database")),
      "retentionPolicy" -> JStr(propStr(nd, "retentionPolicy")),
      "measurement" -> JStr(propStr(nd, "measurement")),
      "writeConsistency" -> JStr(propStr(nd, "writeConsistency")),
      "precision" -> JStr(propStr(nd, "precision")),
      "buffer" -> JInt(propLong(nd, "buffer", 1000L)),
      "tags" -> propKvMap(nd, "tag", str = true),
      "create" -> JBool(propFlag(nd, "create")),
      "flushInterval" -> propDurStr(nd, "flushInterval", 10000000000L))

    case "kapacitorLoopback" => Seq(
      "database" -> JStr(propStr(nd, "database")),
      "retention_policy" -> JStr(propStr(nd, "retentionPolicy")),
      "measurement" -> JStr(propStr(nd, "measurement")),
      "tags" -> propKvMap(nd, "tag", str = true))

    case "log" => Seq(
      "level" -> JStr(propStr(nd, "level", "INFO")),
      "prefix" -> JStr(propStr(nd, "prefix")))

    case "sideload" => Seq(
      "source" -> JStr(propStr(nd, "source")),
      "order" -> propStrList(nd, "order"),
      "fields" -> propKvMap(nd, "field"),
      "tags" -> propKvMap(nd, "tag", str = true))

    case "k8sAutoscale" => Seq(
      "cluster" -> JStr(propStr(nd, "cluster")),
      "namespace" -> JStr(propStr(nd, "namespace")),
      "kind" -> JStr(propStr(nd, "kind", "deployments")),
      "resourceName" -> JStr(propStr(nd, "resourceName")),
      "resourceNameTag" -> JStr(propStr(nd, "resourceNameTag")),
      "currentField" -> JStr(propStr(nd, "currentField")),
      "max" -> JInt(propLong(nd, "max")),
      "min" -> JInt(propLong(nd, "min", 1L)),
      "replicas" -> propLambda(nd, "replicas"),
      "namespaceTag" -> JStr(propStr(nd, "namespaceTag", "namespace")),
      "kindTag" -> JStr(propStr(nd, "kindTag", "kind")),
      "resourceTag" -> JStr(propStr(nd, "resourceTag", "resource")),
      "increaseCooldown" -> propDurStr(nd, "increaseCooldown"),
      "decreaseCooldown" -> propDurStr(nd, "decreaseCooldown"))

    case "swarmAutoscale" => Seq(
      "cluster" -> JStr(propStr(nd, "cluster")),
      "serviceName" -> JStr(propStr(nd, "serviceName")),
      "serviceNameTag" -> JStr(propStr(nd, "serviceNameTag")),
      "outputServiceNameTag" -> JStr(propStr(nd, "outputServiceNameTag")),
      "currentField" -> JStr(propStr(nd, "currentField")),
      "max" -> JInt(propLong(nd, "max")),
      "min" -> JInt(propLong(nd, "min", 1L)),
      "replicas" -> propLambda(nd, "replicas"),
      "increaseCooldown" -> propDurStr(nd, "increaseCooldown"),
      "decreaseCooldown" -> propDurStr(nd, "decreaseCooldown"))

    case "ec2Autoscale" =>
      // no custom MarshalJSON in the reference: Go field names, duration
      // fields as int64 nanos, no typeOf/id header (pipeline/ec2_autoscale.go)
      Seq(
        "Cluster" -> JStr(propStr(nd, "cluster")),
        "GroupName" -> JStr(propStr(nd, "groupName")),
        "GroupNameTag" -> JStr(propStr(nd, "groupNameTag")),
        "OutputGroupNameTag" -> JStr(propStr(nd, "outputGroupNameTag")),
        "CurrentField" -> JStr(propStr(nd, "currentField")),
        "Max" -> JInt(propLong(nd, "max")),
        "Min" -> JInt(propLong(nd, "min", 1L)),
        "Replicas" -> propLambda(nd, "replicas"),
        "IncreaseCooldown" -> propDurNanosInt(nd, "increaseCooldown"),
        "DecreaseCooldown" -> propDurNanosInt(nd, "decreaseCooldown"))

    case m if influxqlMethods(m) => influxqlFields(m, nd)

    case other =>
      throw new IllegalArgumentException(s"cannot marshal node type $other")
  }

  private def joinFields(nd: Node): Seq[(String, JV)] = Seq(
    "as" -> propStrList(nd, "as"),
    "on" -> propStrList(nd, "on"),
    "delimiter" -> JStr(propStr(nd, "delimiter", ".")),
    "deleteAll" -> JBool(propFlag(nd, "deleteAll")),
    "streamName" -> JStr(propStr(nd, "streamName")),
    "fill" -> lastCall(nd, "fill").flatMap(_.args.headOption).map(anyJson).getOrElse(JNull),
    "tolerance" -> propDurStr(nd, "tolerance"))

  private def influxqlFields(method: String, nd: Node): Seq[(String, JV)] = {
    // typeOf is the method; WithFit folds onto "holtWinters"
    // (chainnode.holtWinters — both variants share the method string)
    val field = nd.args.headOption.map(anyStr).getOrElse("")
    def argsFor: JV = method match {
      case "percentile" =>
        JArr(Seq(JFloat(nd.args.lift(1).map(anyDouble).getOrElse(0.0))))
      case "top" | "bottom" =>
        // DSL order top(num, field, tags...) → Args = [num, tags...]
        JArr(JInt(nd.args.headOption.map(anyLong).getOrElse(0L)) +:
          nd.args.drop(2).map(a => JStr(anyStr(a))))
      case "movingAverage" =>
        JArr(Seq(JInt(nd.args.lift(1).map(anyLong).getOrElse(0L))))
      case "holtWinters" | "holtWintersWithFit" =>
        JArr(Seq(
          JInt(nd.args.lift(1).map(anyLong).getOrElse(0L)),
          JInt(nd.args.lift(2).map(anyLong).getOrElse(0L)),
          JStr(formatDuration(nd.args.lift(3).map(anyDurNs).getOrElse(0L))),
          JBool(method == "holtWintersWithFit")))
      case _ => JNull // incl. elapsed — the reference never sets Args for it
    }
    val topField = method match {
      case "top" | "bottom" => nd.args.lift(1).map(anyStr).getOrElse("")
      case _ => field
    }
    val usePointTimes = method == "holtWinters" || method == "holtWintersWithFit" ||
      propFlag(nd, "usePointTimes")
    Seq(
      "field" -> JStr(topField),
      "as" -> JStr(propStr(nd, "as", method match {
        case "holtWintersWithFit" => "holtWinters"
        case m => m
      })),
      "usePointTimes" -> JBool(usePointTimes),
      "args" -> argsFor)
  }

  // ------------------------------------------------------ alert schema

  private final case class AlertSynth(id: String, message: String, crit: Expr)

  /** Handler-opening property names → the sub-properties that chain onto
    * that handler (tick-settable fields of each handler struct,
    * pipeline/alert.go). A prop that is NOT in the current handler's set
    * falls back to the alert node itself (handlers embed AlertNodeData,
    * so alert-level props keep working mid-chain). */
  private val handlerSubProps: Map[String, Set[String]] = Map(
    "post" -> Set("endpoint", "header", "captureResponse", "timeout", "skipSSLVerification"),
    "tcp" -> Set.empty,
    "email" -> Set("to", "toTemplates"),
    "exec" -> Set.empty,
    "log" -> Set("mode"),
    "victorOps" -> Set("routingKey"),
    "pagerDuty" -> Set("serviceKey"),
    "pagerDuty2" -> Set("routingKey", "serviceKey", "link"),
    "pushover" -> Set("userKey", "device", "title", "uRL", "url", "uRLTitle", "urlTitle", "sound"),
    "sensu" -> Set("source", "handlers", "metadata"),
    "slack" -> Set("workspace", "channel", "username", "iconEmoji"),
    "discord" -> Set("workspace", "username", "avatarUrl", "avatarURL", "embedTitle"),
    "bigPanda" -> Set("appKey", "host", "primaryProperty", "secondaryProperty", "attribute"),
    "telegram" -> Set("chatId", "parseMode", "disableWebPagePreview", "disableNotification"),
    "hipChat" -> Set("room", "token"),
    "alerta" -> Set("token", "tokenPrefix", "resource", "event", "environment",
      "group", "value", "origin", "services", "correlated", "attribute", "timeout"),
    "opsGenie" -> Set("teams", "recipients"),
    "opsGenie2" -> Set("teams", "recipients", "recoveryAction", "details"),
    "talk" -> Set.empty,
    "mqtt" -> Set("brokerName", "qos", "retained"),
    "snmpTrap" -> Set("data"),
    "kafka" -> Set("cluster", "kafkaTopic", "template", "disablePartitionById", "partitionHashAlgorithm"),
    "teams" -> Set("channelURL", "channelUrl"),
    "serviceNow" -> Set("url", "username", "password", "source", "node", "type",
      "resource", "metricName", "messageKey", "additionalInfo"),
    "zenoss" -> Set("url", "username", "password", "action", "method", "type",
      "tid", "collector", "summary", "device", "component", "eventClassKey",
      "eventClass", "message", "customField"))

  /** AlertNodeData JSON field order (pipeline/alert.go struct). */
  private def alertFields(nd: Node, synth: Option[AlertSynth]): Seq[(String, JV)] = {
    // split the ordered prop list into alert-level props and per-handler
    // groups (a handler-opening call starts a group; subsequent calls
    // whose name is in that handler's sub-prop set attach to it)
    val alertProps = ArrayBuffer.empty[Call]
    val handlers = ArrayBuffer.empty[(String, ArrayBuffer[Call])]
    nd.props.foreach { c =>
      val inCurrent = handlers.lastOption.exists { case (h, _) =>
        handlerSubProps.getOrElse(h, Set.empty).contains(c.name) }
      if (inCurrent) handlers.last._2 += c
      else if (handlerSubProps.contains(c.name))
        handlers += ((c.name, ArrayBuffer(c)))
      else alertProps += c
    }
    val an = Node(nd.name, nd.args, alertProps.toSeq)

    def handlerList(kind: String)(build: Seq[Call] => JV): JV = {
      val hs = handlers.filter(_._1 == kind)
      if (hs.isEmpty) JNull else JArr(hs.map(h => build(h._2.toSeq)).toSeq)
    }
    def hn(cs: Seq[Call]) = Node("h", Nil, cs.drop(1)) // sub-props only
    def openArgs(cs: Seq[Call]): Seq[Any] = cs.head.args

    val stateChanges = calls(an, "stateChangesOnly")
    val inhibits = calls(an, "inhibit")
    val critExpr: JV = synth.map(s => lambdaJson(s.crit)).getOrElse(propLambda(an, "crit"))

    Seq(
      "category" -> JStr(propStr(an, "category")),
      "topic" -> JStr(propStr(an, "topic")),
      "alertId" -> JStr(synth.map(s => propStr(an, "id", s.id))
        .getOrElse(propStr(an, "id", "{{ .Name }}:{{ .Group }}"))),
      "message" -> JStr(synth.map(s => propStr(an, "message", s.message))
        .getOrElse(propStr(an, "message", "{{ .ID }} is {{ .Level }}"))),
      "details" -> JStr(propStr(an, "details", "{{ json . }}")),
      "info" -> propLambda(an, "info"),
      "warn" -> propLambda(an, "warn"),
      "crit" -> critExpr,
      "infoReset" -> propLambda(an, "infoReset"),
      "warnReset" -> propLambda(an, "warnReset"),
      "critReset" -> propLambda(an, "critReset"),
      "useFlapping" -> JBool(propFlag(an, "flapping")),
      "flapLow" -> JFloat(lastCall(an, "flapping").flatMap(_.args.headOption).map(anyDouble).getOrElse(0.0)),
      "flapHigh" -> JFloat(lastCall(an, "flapping").flatMap(_.args.lift(1)).map(anyDouble).getOrElse(0.0)),
      "history" -> JInt(propLong(an, "history", 21L)),
      "levelTag" -> JStr(propStr(an, "levelTag")),
      "levelField" -> JStr(propStr(an, "levelField")),
      "messageField" -> JStr(propStr(an, "messageField")),
      "durationField" -> JStr(propStr(an, "durationField")),
      "idTag" -> JStr(propStr(an, "idTag")),
      "idField" -> JStr(propStr(an, "idField")),
      "all" -> JBool(propFlag(an, "all")),
      "noRecoveries" -> JBool(propFlag(an, "noRecoveries")),
      "stateChangesOnly" -> JBool(stateChanges.nonEmpty),
      "stateChangesOnlyDuration" -> JInt(
        stateChanges.lastOption.flatMap(_.args.headOption).map(anyDurNs).getOrElse(0L)),
      "inhibitors" -> (if (inhibits.isEmpty) JNull else JArr(inhibits.map { c =>
        obj("category" -> JStr(anyStr(c.args.head)),
          "equalTags" -> (if (c.args.size <= 1) JNull
            else JArr(c.args.drop(1).map(a => JStr(anyStr(a))))))
      })),
      "post" -> handlerList("post") { cs =>
        val h = hn(cs)
        obj(
          "url" -> JStr(openArgs(cs).headOption.map(anyStr).getOrElse("")),
          "endpoint" -> JStr(propStr(h, "endpoint")),
          "headers" -> propKvMap(h, "header", str = true),
          "captureResponse" -> JBool(propFlag(h, "captureResponse")),
          "timeout" -> propDurNanosInt(h, "timeout"),
          "skipSSLVerification" -> JBool(propFlag(h, "skipSSLVerification")))
      },
      "tcp" -> handlerList("tcp") { cs =>
        obj("address" -> JStr(openArgs(cs).headOption.map(anyStr).getOrElse("")))
      },
      "email" -> handlerList("email") { cs =>
        val h = hn(cs)
        val to = openArgs(cs).map(anyStr) ++ calls(h, "to").flatMap(_.args).map(anyStr)
        obj(
          "to" -> (if (to.isEmpty) JNull else JArr(to.map(JStr(_)))),
          "to-templates" -> propStrList(h, "toTemplates"))
      },
      "exec" -> handlerList("exec") { cs =>
        obj("command" -> JArr(openArgs(cs).map(a => JStr(anyStr(a)))))
      },
      "log" -> handlerList("log") { cs =>
        val h = hn(cs)
        obj(
          "filePath" -> JStr(openArgs(cs).headOption.map(anyStr).getOrElse("")),
          "mode" -> JInt(propLong(h, "mode")))
      },
      "victorOps" -> handlerList("victorOps") { cs =>
        obj("routingKey" -> JStr(propStr(hn(cs), "routingKey")))
      },
      "pagerDuty" -> handlerList("pagerDuty") { cs =>
        obj("serviceKey" -> JStr(propStr(hn(cs), "serviceKey")))
      },
      "pagerDuty2" -> handlerList("pagerDuty2") { cs =>
        val h = hn(cs)
        val links = calls(h, "link")
        obj(
          "routingKey" -> JStr(propStr(h, "routingKey", propStr(h, "serviceKey"))),
          "links" -> (if (links.isEmpty) JNull else JArr(links.map(c => obj(
            "href" -> JStr(anyStr(c.args.head)),
            "text" -> JStr(c.args.lift(1).map(anyStr).getOrElse("")))))))
      },
      "pushover" -> handlerList("pushover") { cs =>
        val h = hn(cs)
        obj(
          "userKey" -> JStr(propStr(h, "userKey")),
          "device" -> JStr(propStr(h, "device")),
          "title" -> JStr(propStr(h, "title")),
          "url" -> JStr(propStr(h, "uRL", propStr(h, "url"))),
          "urlTitle" -> JStr(propStr(h, "uRLTitle", propStr(h, "urlTitle"))),
          "sound" -> JStr(propStr(h, "sound")))
      },
      "sensu" -> handlerList("sensu") { cs =>
        val h = hn(cs)
        obj(
          "source" -> JStr(propStr(h, "source")),
          "handlers" -> propStrList(h, "handlers"),
          "metadata" -> propKvMap(h, "metadata"))
      },
      "slack" -> handlerList("slack") { cs =>
        val h = hn(cs)
        obj(
          "workspace" -> JStr(propStr(h, "workspace")),
          "channel" -> JStr(propStr(h, "channel")),
          "username" -> JStr(propStr(h, "username")),
          "iconEmoji" -> JStr(propStr(h, "iconEmoji")))
      },
      "discord" -> handlerList("discord") { cs =>
        val h = hn(cs)
        obj(
          "workspace" -> JStr(propStr(h, "workspace")),
          "username" -> JStr(propStr(h, "username")),
          "avatarUrl" -> JStr(propStr(h, "avatarUrl", propStr(h, "avatarURL"))),
          "embedTitle" -> JStr(propStr(h, "embedTitle")))
      },
      "bigPanda" -> handlerList("bigPanda") { cs =>
        val h = hn(cs)
        obj(
          "app-key" -> JStr(propStr(h, "appKey")),
          "host" -> JStr(propStr(h, "host")),
          "primary-property" -> JStr(propStr(h, "primaryProperty")),
          "secondary-property" -> JStr(propStr(h, "secondaryProperty")),
          "attributes" -> propKvMap(h, "attribute"))
      },
      "telegram" -> handlerList("telegram") { cs =>
        val h = hn(cs)
        obj(
          "chatId" -> JStr(propStr(h, "chatId")),
          "parseMode" -> JStr(propStr(h, "parseMode")),
          "disableWebPagePreview" -> JBool(propFlag(h, "disableWebPagePreview")),
          "disableNotification" -> JBool(propFlag(h, "disableNotification")))
      },
      "hipChat" -> handlerList("hipChat") { cs =>
        val h = hn(cs)
        obj("room" -> JStr(propStr(h, "room")), "token" -> JStr(propStr(h, "token")))
      },
      "alerta" -> handlerList("alerta") { cs =>
        val h = hn(cs)
        obj(
          "token" -> JStr(propStr(h, "token")),
          "resource" -> JStr(propStr(h, "resource")),
          "event" -> JStr(propStr(h, "event")),
          "environment" -> JStr(propStr(h, "environment")),
          "group" -> JStr(propStr(h, "group")),
          "value" -> JStr(propStr(h, "value")),
          "origin" -> JStr(propStr(h, "origin")),
          "service" -> propStrList(h, "services"),
          "correlate" -> propStrList(h, "correlated"),
          "attributes" -> propKvMap(h, "attribute"),
          "timeout" -> propDurNanosInt(h, "timeout"))
      },
      "opsGenie" -> handlerList("opsGenie") { cs =>
        val h = hn(cs)
        obj("teams" -> propStrList(h, "teams"), "recipients" -> propStrList(h, "recipients"))
      },
      "opsGenie2" -> handlerList("opsGenie2") { cs =>
        val h = hn(cs)
        obj(
          "teams" -> propStrList(h, "teams"),
          "recipients" -> propStrList(h, "recipients"),
          "recovery_action" -> JStr(propStr(h, "recoveryAction")),
          "details" -> JBool(propFlag(h, "details")))
      },
      "talk" -> handlerList("talk")(_ => obj()),
      "mqtt" -> handlerList("mqtt") { cs =>
        val h = hn(cs)
        obj(
          "brokerName" -> JStr(propStr(h, "brokerName")),
          "topic" -> JStr(openArgs(cs).headOption.map(anyStr).getOrElse("")),
          "qos" -> JInt(propLong(h, "qos")),
          "retained" -> JBool(propFlag(h, "retained")))
      },
      "snmpTrap" -> handlerList("snmpTrap") { cs =>
        val h = hn(cs)
        val data = calls(h, "data")
        obj(
          "trapOid" -> JStr(openArgs(cs).headOption.map(anyStr).getOrElse("")),
          "data" -> (if (data.isEmpty) JNull else JArr(data.map(c => obj(
            "oid" -> JStr(anyStr(c.args.head)),
            "type" -> JStr(anyStr(c.args(1))),
            "value" -> JStr(anyStr(c.args(2))))))))
      },
      "kafka" -> handlerList("kafka") { cs =>
        val h = hn(cs)
        val alg = propStr(h, "partitionHashAlgorithm")
        val tmpl = propStr(h, "template")
        obj(Seq(
          "cluster" -> JStr(propStr(h, "cluster")),
          "kafka-topic" -> JStr(propStr(h, "kafkaTopic")),
          "disable-partition-by-id" -> JBool(propFlag(h, "disablePartitionById"))) ++
          // omitempty fields
          (if (alg.nonEmpty) Seq("partition-hash-algorithm" -> JStr(alg)) else Nil) ++
          (if (tmpl.nonEmpty) Seq("template" -> JStr(tmpl)) else Nil): _*)
      },
      "teams" -> handlerList("teams") { cs =>
        val h = hn(cs)
        obj("channel_url" -> JStr(propStr(h, "channelURL", propStr(h, "channelUrl"))))
      },
      "serviceNow" -> handlerList("serviceNow") { cs =>
        val h = hn(cs)
        obj(
          "url" -> JStr(propStr(h, "url")),
          "username" -> JStr(propStr(h, "username")),
          "password" -> JStr(propStr(h, "password")),
          "source" -> JStr(propStr(h, "source")),
          "node" -> JStr(propStr(h, "node")),
          "type" -> JStr(propStr(h, "type")),
          "resource" -> JStr(propStr(h, "resource")),
          "metric_name" -> JStr(propStr(h, "metricName")),
          "message_key" -> JStr(propStr(h, "messageKey")),
          "additional_info" -> propKvMap(h, "additionalInfo"))
      },
      "zenoss" -> handlerList("zenoss") { cs =>
        val h = hn(cs)
        obj(
          "url" -> JStr(propStr(h, "url")),
          "username" -> JStr(propStr(h, "username")),
          "password" -> JStr(propStr(h, "password")),
          "action" -> JStr(propStr(h, "action")),
          "method" -> JStr(propStr(h, "method")),
          "type" -> JStr(propStr(h, "type")),
          "tid" -> JInt(propLong(h, "tid")),
          "collector" -> JStr(propStr(h, "collector")),
          "summary" -> JStr(propStr(h, "summary")),
          "device" -> JStr(propStr(h, "device")),
          "component" -> JStr(propStr(h, "component")),
          "evclasskey" -> JStr(propStr(h, "eventClassKey")),
          "evclass" -> JStr(propStr(h, "eventClass")),
          "message" -> JStr(propStr(h, "message")),
          "customField" -> propKvMap(h, "customField"))
      })
  }

  // -------------------------------------------------------- UDF schema

  /** UDFNode marshals as ONE flat JSONNode map (typeOf/id/udfName +
    * one key per option), so the whole object is key-sorted
    * (pipeline/udf.go MarshalJSON). */
  private def udfFields(udfName: String, nd: Node, id: Int): Seq[(String, JV)] = {
    val opts = LinkedHashMap.empty[String, Seq[Any]]
    nd.props.foreach(c => opts(c.name) = c.args) // map semantics: last call wins
    sortedObj(Seq(
      "typeOf" -> JStr("udf"),
      "id" -> JStr(id.toString),
      "udfName" -> JStr(udfName)) ++
      opts.toSeq.map { case (k, args) =>
        k -> JArr(args.map {
          case Dur(s) => JStr(formatDuration(durNanos(s)))
          case b: Boolean => JBool(b)
          case l: Long => JInt(l)
          case i: Int => JInt(i.toLong)
          case d: Double => JFloat(d)
          case s: String => JStr(s)
          case other => JStr(String.valueOf(other))
        })
      }).fs
  }

  // ========================================================= unmarshal

  /** Minimal JSON reader producing [[JV]] — preserves object key order
    * and the int/float distinction (Go decodes into interface{} as
    * float64, but the reference's UDF option typing needs integral-vs-
    * fractional, and canonical re-marshal needs exact numerals). */
  def parseJson(s: String): JV = {
    var i = 0
    def err(msg: String) = throw new IllegalArgumentException(s"json: $msg at offset $i")
    def ws(): Unit = while (i < s.length && s.charAt(i).isWhitespace) i += 1
    def expect(c: Char): Unit = { ws(); if (i >= s.length || s.charAt(i) != c) err(s"expected '$c'"); i += 1 }
    def value(): JV = {
      ws()
      if (i >= s.length) err("unexpected end")
      s.charAt(i) match {
        case '{' =>
          i += 1; ws()
          val fs = Seq.newBuilder[(String, JV)]
          if (i < s.length && s.charAt(i) == '}') { i += 1 }
          else {
            var more = true
            while (more) {
              ws(); val k = str(); expect(':'); fs += (k -> value()); ws()
              if (i < s.length && s.charAt(i) == ',') { i += 1 } else { expect('}'); more = false }
            }
          }
          JObj(fs.result())
        case '[' =>
          i += 1; ws()
          val vs = Seq.newBuilder[JV]
          if (i < s.length && s.charAt(i) == ']') { i += 1 }
          else {
            var more = true
            while (more) {
              vs += value(); ws()
              if (i < s.length && s.charAt(i) == ',') { i += 1 } else { expect(']'); more = false }
            }
          }
          JArr(vs.result())
        case '"' => JStr(str())
        case 't' => if (s.startsWith("true", i)) { i += 4; JBool(true) } else err("bad literal")
        case 'f' => if (s.startsWith("false", i)) { i += 5; JBool(false) } else err("bad literal")
        case 'n' => if (s.startsWith("null", i)) { i += 4; JNull } else err("bad literal")
        case _ =>
          val start = i
          if (i < s.length && (s.charAt(i) == '-' || s.charAt(i) == '+')) i += 1
          while (i < s.length && (s.charAt(i).isDigit || "+-.eE".contains(s.charAt(i)))) i += 1
          val tok = s.substring(start, i)
          if (tok.isEmpty) err("unexpected char")
          if (tok.exists(c => c == '.' || c == 'e' || c == 'E')) JFloat(tok.toDouble)
          else try JInt(tok.toLong) catch { case _: NumberFormatException => JFloat(tok.toDouble) }
      }
    }
    def str(): String = {
      ws(); if (i >= s.length || s.charAt(i) != '"') err("expected string")
      i += 1
      val sb = new StringBuilder
      while (i < s.length && s.charAt(i) != '"') {
        val c = s.charAt(i)
        if (c == '\\') {
          i += 1
          s.charAt(i) match {
            case '"' => sb += '"'; case '\\' => sb += '\\'; case '/' => sb += '/'
            case 'n' => sb += '\n'; case 'r' => sb += '\r'; case 't' => sb += '\t'
            case 'b' => sb += '\b'; case 'f' => sb += '\f'
            case 'u' =>
              sb += Integer.parseInt(s.substring(i + 1, i + 5), 16).toChar
              i += 4
            case o => err(s"bad escape \\$o")
          }
          i += 1
        } else { sb += c; i += 1 }
      }
      if (i >= s.length) err("unterminated string")
      i += 1
      sb.toString
    }
    val v = value(); ws()
    if (i != s.length) err("trailing data")
    v
  }

  // ------------------------------------------------ unmarshaled model

  /** One unmarshaled node: `typeOf`, numeric id, the raw field map
    * (minus typeOf/id), and resolved parent ids in edge order. */
  final case class UnNode(typeOf: String, id: Long,
      fields: Seq[(String, JV)], parents: Seq[Long])

  /** An unmarshaled pipeline: nodes in topological order (parents
    * before children — json.go Unmarshal's construction order) plus the
    * edge list exactly as read. */
  final case class UnPipeline(nodes: Seq[UnNode], edges: Seq[(Long, Long)])

  /** `Pipeline.Unmarshal` (json.go:257-314): read nodes+edges,
    * topologically sort via the edges (cycle → error), then construct
    * each node with the reference's category/parent validation. Error
    * strings mirror the reference. */
  def unmarshal(json: String): UnPipeline = {
    val root = parseJson(json) match {
      case o: JObj => o
      case _ => throw new IllegalArgumentException("json: expected object")
    }
    def field(o: JObj, k: String): Option[JV] = o.fs.find(_._1 == k).map(_._2)
    val rawNodes = field(root, "nodes") match {
      case Some(JArr(vs)) => vs.map {
        case o: JObj => o
        case other => throw new IllegalArgumentException(s"json: node is not an object: $other")
      }
      case _ => Seq.empty
    }
    val edges = field(root, "edges") match {
      case Some(JArr(vs)) => vs.map {
        case o: JObj =>
          def idOf(k: String): Long = field(o, k) match {
            case Some(JStr(v)) => v.toLong
            case Some(JInt(v)) => v
            case other => throw new IllegalArgumentException(s"json: bad edge $k: $other")
          }
          (idOf("parent"), idOf("child"))
        case other => throw new IllegalArgumentException(s"json: edge is not an object: $other")
      }
      case _ => Seq.empty
    }

    // PipelineSorter (json.go:45-122): DFS over childrenOf with
    // temporary-mark cycle detection; sorted position = prepend order
    val childrenOf = edges.groupBy(_._1).map { case (k, es) => k -> es.map(_._2) }
    val parentsOf = edges.groupBy(_._2).map { case (k, es) => k -> es.map(_._1) }
    val permanent = scala.collection.mutable.Set.empty[Long]
    val temporary = scala.collection.mutable.Set.empty[Long]
    var sortedIds = List.empty[Long]
    def visit(id: Long): Unit = {
      if (!permanent(id)) {
        if (temporary(id))
          throw new IllegalArgumentException("cycle detected. kapacitor pipelines must not have cycles")
        temporary += id
        childrenOf.getOrElse(id, Nil).foreach(visit)
        permanent += id
        sortedIds = id :: sortedIds
      }
    }
    childrenOf.keys.toSeq.sorted.foreach(visit)
    val pos = sortedIds.zipWithIndex.toMap

    final case class IR(typeOf: String, id: Long, raw: JObj, pos: Int)
    val irs = rawNodes.map { o =>
      val typ = field(o, "typeOf") match {
        case Some(JStr(t)) => t
        case _ => "" // udf-like map nodes always carry typeOf; missing → unknown-type error below
      }
      val id = field(o, "id") match {
        case Some(JStr(v)) => v.toLong
        case Some(JInt(v)) => v
        case _ => throw new IllegalArgumentException("json: node missing id")
      }
      val p = pos.getOrElse(id,
        throw new IllegalArgumentException(s"node $id not listed in edges"))
      IR(typ, id, o, p)
    }.sortBy(_.pos)

    val sourceTypes = Set("stream", "batch")
    val chainTypes = Set("window", "swarmAutoscale", "stats", "stateDuration",
      "stateCount", "shift", "sideload", "sample", "log", "kapacitorLoopback",
      "k8sAutoscale", "influxdbOut", "httpPost", "httpOut", "flatten", "eval",
      "derivative", "changeDetect", "delete", "default", "combine", "alert",
      "barrier", "trickle")
    val filterTypes = Set("from", "query", "queryFlux")
    val multiTypes = Set("union", "join")
    val influxTypes = Set("count", "distinct", "mean", "median", "mode",
      "spread", "sum", "first", "last", "min", "max", "stddev", "difference",
      "cumulativeSum", "percentile", "elapsed", "movingAverage", "holtWinters")
    val uniqTypes = Set("top", "bottom", "where", "groupBy", "udf", "stats")

    val made = scala.collection.mutable.Map.empty[Long, UnNode]
    val outNodes = Seq.newBuilder[UnNode]
    for (ir <- irs) {
      val parents = parentsOf.getOrElse(ir.id, Nil)
      parents.foreach { p =>
        if (!made.contains(p))
          throw new IllegalArgumentException(s"parent $p of node ${ir.id} not yet created")
      }
      val t = ir.typeOf
      // category checks (json.go:315-390 + the uniq unmarshalers)
      if (sourceTypes(t)) {
        if (parents.nonEmpty)
          throw new IllegalArgumentException(
            s"expected no parents for source node ${ir.id} but found ${parents.size}")
      } else if (t == "stats") {
        if (parents.size != 1)
          throw new IllegalArgumentException(
            s"expected one parent for node ${ir.id} but found ${parents.size}")
        field(ir.raw, "interval") match {
          // the reference errors when the decoded Interval is zero —
          // any '0'/'0<unit>' spelling (unmarshalStats, json.go:466-470)
          case Some(JStr(d)) if !d.matches("0+[a-zµ]*") => ()
          case _ => throw new IllegalArgumentException("zero is an invalid stats interval")
        }
      } else if (chainTypes(t) || filterTypes(t) || influxTypes(t) ||
          t == "top" || t == "bottom" || t == "where" || t == "groupBy" || t == "udf") {
        if (parents.size != 1)
          throw new IllegalArgumentException(
            s"expected one parent for node ${ir.id} but found ${parents.size}")
        if (filterTypes(t)) {
          val p = made(parents.head)
          if (t == "from" && p.typeOf != "stream")
            throw new IllegalArgumentException(
              s"parent of query node must be a StreamNode but is ${p.typeOf}")
          if ((t == "query" || t == "queryFlux") && p.typeOf != "batch")
            throw new IllegalArgumentException(
              s"parent of query node must be a BatchNode but is ${p.typeOf}")
        }
      } else if (multiTypes(t)) {
        if (parents.size < 2)
          throw new IllegalArgumentException(
            s"expected more than one parent for node ${ir.id} but received ${parents.size}")
      } else {
        throw new IllegalArgumentException(s"unknown function type $t for node ${ir.id}")
      }
      val un = UnNode(t, ir.id,
        ir.raw.fs.filter { case (k, _) => k != "typeOf" && k != "id" }, parents)
      made(ir.id) = un
      outNodes += un
    }
    val _ = uniqTypes
    UnPipeline(outNodes.result(), edges)
  }

  // -------------------------------------- canonical re-marshal (fixpoint)

  private def emptyNode(name: String): Node = Node(name, Nil, Nil)

  /** Recursively key-sort every object — passthrough values (lambdas,
    * maps) are Go maps, which marshal sorted. */
  private def sortDeep(v: JV): JV = v match {
    case JObj(fs) => JObj(fs.map { case (k, x) => k -> sortDeep(x) }.sortBy(_._1))
    case JArr(vs) => JArr(vs.map(sortDeep))
    case other => other
  }

  /** Overlay parsed fields onto a node-type's default template: Go
    * unmarshal writes present keys over a default-constructed node, and
    * re-marshal emits the FULL canonical field set. */
  private def overlay(template: Seq[(String, JV)], fields: Seq[(String, JV)],
      handlers: Boolean = false): Seq[(String, JV)] = {
    val m = fields.toMap
    template.map { case (k, dv) =>
      k -> (m.get(k) match {
        case None => dv
        case Some(pv) =>
          if (handlers && handlerTemplates.contains(k)) pv match {
            case JArr(hs) => JArr(hs.map {
              case o: JObj => JObj(overlay(handlerTemplates(k), o.fs))
              case other => sortDeep(other)
            })
            case other => sortDeep(other)
          }
          else sortDeep(pv)
      })
    }
  }

  /** Per-handler default field templates, derived from the marshal
    * schema itself (a bare handler-opening call). */
  private lazy val handlerTemplates: Map[String, Seq[(String, JV)]] = {
    val handlerKinds = handlerSubProps.keys.toSeq
    handlerKinds.flatMap { kind =>
      val fs = alertFields(Node("alert", Nil, Seq(Call(kind, Nil))), None)
      val jsonKey = kind // handler json keys match the opening prop name
      fs.find(_._1 == jsonKey).collect {
        case (_, JArr(Seq(o: JObj))) => jsonKey -> o.fs
      }
    }.toMap
  }

  /** Unmarshal + canonical re-marshal: the fixpoint form every JSON
    * pipeline normalizes to (defaults filled, field order canonical,
    * maps sorted). `remarshal(marshal(s)) == marshal(s)` for every
    * marshalable script, and `remarshal` is idempotent. */
  def remarshal(json: String): String = {
    val p = unmarshal(json)
    // Reconstruct the PIPELINE's emission order (pipeline.go sort): the
    // unmarshal construction order is the creation order; sources are
    // stream/batch plus stats nodes (Stats() adds the node as a source,
    // its JSON edge being the synthesized observer edge); DFS from
    // sources in reverse creation order, post-order, reversed.
    val byId = p.nodes.map(n => n.id -> n).toMap
    val isStats = (id: Long) => byId(id).typeOf == "stats"
    // children in CREATION order — in the original pipeline ids are
    // assigned at creation, so id order IS linkChild order. (The
    // reference's own Unmarshal re-assigns ids by iterating a Go map in
    // PipelineSorter, so its unmarshal→marshal is not byte-stable; this
    // canonical form preserves ids and is a true fixpoint.)
    val realChildren: Map[Long, Seq[Long]] =
      p.edges.filterNot(e => isStats(e._2)).groupBy(_._1)
        .map { case (k, es) => k -> es.map(_._2).sorted }
    val srcs = p.nodes.filter(n => n.typeOf == "stream" || n.typeOf == "batch" ||
      n.typeOf == "stats").sortBy(_.id)
    val seen = scala.collection.mutable.Set.empty[Long]
    val order = scala.collection.mutable.ArrayBuffer.empty[Long]
    def visit(id: Long): Unit = if (!seen(id)) {
      seen += id
      realChildren.getOrElse(id, Nil).foreach(visit)
      order += id
    }
    srcs.reverseIterator.foreach(n => visit(n.id))
    val ordered = order.reverse.map(byId).toSeq
    val nodesOut2 = Seq.newBuilder[JV]
    val edgesOut2 = Seq.newBuilder[JV]
    def edgeJ(a: Long, b: Long): JV =
      obj("parent" -> JStr(a.toString), "child" -> JStr(b.toString))
    for (n <- ordered) {
      if (n.typeOf == "stats") {
        n.parents.headOption.foreach(src => edgesOut2 += edgeJ(src, n.id))
        nodesOut2 += renderUnNode(n)
      } else {
        nodesOut2 += renderUnNode(n)
        n.parents.foreach(pr => edgesOut2 += edgeJ(pr, n.id))
      }
    }
    write(obj("nodes" -> JArr(nodesOut2.result()), "edges" -> JArr(edgesOut2.result())))
  }

  private def renderUnNode(n: UnNode): JV = {
    {
      val fm = n.fields
      n.typeOf match {
        case "stream" | "batch" | "trickle" =>
          JObj(Seq("typeOf" -> JStr(n.typeOf), "id" -> JStr(n.id.toString)))
        case "udf" =>
          sortedObj(Seq("typeOf" -> JStr("udf"), "id" -> JStr(n.id.toString)) ++
            fm.map { case (k, v) => k -> sortDeep(v) })
        case "stats" =>
          JObj(Seq("typeOf" -> JStr("stats"), "id" -> JStr(n.id.toString)) ++
            overlay(Seq("align" -> JBool(false), "interval" -> JStr("0s")), fm))
        case "union" =>
          JObj(Seq("typeOf" -> JStr("union"), "id" -> JStr(n.id.toString)) ++
            overlay(Seq("rename" -> JStr("")), fm))
        case "join" =>
          JObj(Seq("typeOf" -> JStr("join"), "id" -> JStr(n.id.toString)) ++
            overlay(joinFields(emptyNode("join")), fm))
        case "alert" =>
          JObj(Seq("typeOf" -> JStr("alert"), "id" -> JStr(n.id.toString)) ++
            overlay(alertFields(emptyNode("alert"), None), fm, handlers = true))
        case m if influxTypesForRemarshal(m) =>
          JObj(Seq("typeOf" -> JStr(m), "id" -> JStr(n.id.toString)) ++
            overlay(influxqlFields(m, emptyNode(m)), fm))
        case "barrier" =>
          val del = fm.toMap.get("delete").contains(JBool(true))
          JObj(Seq("typeOf" -> JStr("barrier"), "id" -> JStr(n.id.toString)) ++
            (if (del) Seq("delete" -> JBool(true)) else Nil) ++
            overlay(Seq("period" -> JStr("0s"), "idle" -> JStr("0s")), fm))
        case t =>
          val scriptName = t match {
            case "influxdbOut" => "influxDBOut"
            case other => other
          }
          JObj(Seq("typeOf" -> JStr(t), "id" -> JStr(n.id.toString)) ++
            overlay(nodeFields(scriptName, emptyNode(scriptName)), fm))
      }
    }
  }

  private val influxTypesForRemarshal: Set[String] = Set(
    "count", "distinct", "mean", "median", "mode", "spread", "sum", "first",
    "last", "min", "max", "stddev", "difference", "cumulativeSum",
    "percentile", "elapsed", "movingAverage", "holtWinters", "top", "bottom")
}
