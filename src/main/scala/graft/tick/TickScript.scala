package graft.tick

import graft.api.Pipe
import graft.streaming.AlertStream
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** A TICKscript front-end for the core DSL subset, compiled onto the Pipe
  * algebra (reference tick/ast/lex.go + parser.go; evaluation model
  * tick/eval.go — the AST *is* the plan there, and here it folds into a
  * DataFrame plan the same way).
  *
  * Supported subset — the shapes the reference's README/examples use:
  *   stream |from().measurement(m).where(lambda).groupBy('t1','t2')
  *          |window().period(10s).every(10s)
  *          |mean('value')  (+ count/sum/min/max/median/spread/stddev/
  *                           first/last/percentile('f', n))
  *          |derivative/difference/movingAverage/cumulativeSum/elapsed
  *          |shift/sample/default/delete/where/eval(...).as(...)
  *          |changeDetect('f') |stateCount/stateDuration(lambda)
  *          |alert().info(l).warn(l).crit(l).stateChangesOnly()
  *          |httpOut('name')
  * Lambdas: "field" refs, 'string'/number/duration literals, + - * /,
  * comparisons, AND/OR, unary -, parens, and scalar functions
  * (abs/ceil/floor/log/exp/sqrt).
  *
  * Durations: 1u=µs 1ms 1s 1m 1h 1d 1w. Integer literals stay integral
  * (typed defaults, int arithmetic); documented deviation: `/` compiles to
  * Spark's fractional division even for int operands, where Go truncates —
  * pair with floor() when the reference's integer semantics matter.
  */
object TickScript {

  /** Per-compile uniquifier for queryFlux's temp views — concurrent
    * compiles in one SparkSession must not share catalog names. */
  private val fluxViewCounter = new java.util.concurrent.atomic.AtomicLong(0L)

  // ------------------------------------------------------------- lexer

  sealed trait Tok
  case class TIdent(s: String) extends Tok
  case class TStr(s: String) extends Tok
  case class TFieldRef(s: String) extends Tok
  case class TNum(v: Double, integral: Boolean = false) extends Tok
  case class TDur(seconds: Double) extends Tok
  case class TOp(s: String) extends Tok
  case object TLambda extends Tok

  private val unitSeconds = Map(
    "u" -> 1e-6, "ms" -> 1e-3, "s" -> 1.0, "m" -> 60.0, "h" -> 3600.0,
    "d" -> 86400.0, "w" -> 604800.0)

  def lex(src: String): List[Tok] = {
    val raw = List.newBuilder[Tok]
    var lastTok: Option[Tok] = None
    val out = new AnyRef {
      def +=(t: Tok): Unit = { lastTok = Some(t); raw += t }
      def result(): List[Tok] = raw.result()
    }
    var i = 0
    val s = src
    def peek(off: Int = 0): Char = if (i + off < s.length) s.charAt(i + off) else '\u0000'
    while (i < s.length) {
      val c = s.charAt(i)
      if (c.isWhitespace) i += 1
      else if (c == '/' && peek(1) == '/') { while (i < s.length && s.charAt(i) != '\n') i += 1 }
      else if (c == '\'' && peek(1) == '\'' && peek(2) == '\'') {
        // triple-quoted string (tick/ast lex.go lexTripleString) — the
        // examples' InfluxQL queries with embedded single quotes
        val j = s.indexOf("'''", i + 3)
        require(j > 0, s"unterminated triple-quoted string at $i")
        out += TStr(s.substring(i + 3, j)); i = j + 3
      } else if (c == '\'') {
        // single-quoted string with backslash escapes (tick/ast lex.go
        // lexString: \' and \\ unescape; other backslashes literal)
        val sb = new StringBuilder
        var j = i + 1
        while (j < s.length && s.charAt(j) != '\'') {
          if (s.charAt(j) == '\\' && j + 1 < s.length &&
              (s.charAt(j + 1) == '\'' || s.charAt(j + 1) == '\\')) {
            sb += s.charAt(j + 1); j += 2
          } else { sb += s.charAt(j); j += 1 }
        }
        require(j < s.length, s"unterminated string at $i")
        out += TStr(sb.toString); i = j + 1
      } else if (c == '"') {
        val j = s.indexOf('"', i + 1)
        require(j > 0, s"unterminated field ref at $i")
        out += TFieldRef(s.substring(i + 1, j)); i = j + 1
      } else if (c.isDigit) {
        var j = i
        while (j < s.length && (s.charAt(j).isDigit || s.charAt(j) == '.')) j += 1
        val num = s.substring(i, j)
        // duration suffix?
        var k = j
        while (k < s.length && s.charAt(k).isLetter) k += 1
        val suffix = s.substring(j, k)
        if (suffix.nonEmpty && unitSeconds.contains(suffix)) {
          out += TDur(num.toDouble * unitSeconds(suffix)); i = k
        } else if (num.length > 1 && num.head == '0' && !num.contains('.') &&
            num.forall(ch => ch >= '0' && ch <= '7')) {
          // leading-zero integer literals are OCTAL (tick/ast lex.go —
          // the log-handler .mode(0644) shape)
          out += TNum(java.lang.Long.parseLong(num, 8).toDouble, integral = true); i = j
        } else { out += TNum(num.toDouble, integral = !num.contains('.')); i = j }
      } else if (c.isLetter || c == '_' ||
          (c == '@' && (peek(1).isLetter || peek(1) == '_'))) {
        // leading '@' marks a UDF node name (tick/ast lexer lexIdent accepts
        // '@'-prefixed idents for `|@myFunc()`, pipeline/udf.go)
        var j = i + 1
        while (j < s.length && (s.charAt(j).isLetterOrDigit || s.charAt(j) == '_')) j += 1
        val w = s.substring(i, j)
        if (w == "lambda" && peek(j - i) == ':') { out += TLambda; i = j + 1 }
        else { out += TIdent(w); i = j }
      } else if (c == '/' && lastTok.exists {
          case TOp("=") | TOp("=~") | TOp("!~") | TOp("(") | TOp(",") => true
          case _ => false }) {
        // regex literal /re/ in value position (var x = /re/, "t" =~ /re/);
        // '/' after an operand stays division. Backslash-escaped chars (incl.
        // \/) do not terminate the literal; \/ unescapes to a plain slash.
        var j = i + 1
        while (j < s.length && s.charAt(j) != '/') {
          if (s.charAt(j) == '\\' && j + 1 < s.length) j += 2 else j += 1
        }
        require(j < s.length, s"unterminated regex at $i")
        out += TStr(s.substring(i + 1, j).replace("\\/", "/")); i = j + 1
      } else {
        val two = s.substring(i, math.min(i + 2, s.length))
        if (Set(">=", "<=", "==", "!=", "=~", "!~").contains(two)) { out += TOp(two); i += 2 }
        else { out += TOp(c.toString); i += 1 }
      }
    }
    out.result()
  }

  // ------------------------------------------------------------ parser

  case class Call(name: String, args: Seq[Any]) // args: Tok literals or Expr
  case class Node(name: String, args: Seq[Any], props: Seq[Call])
  /** A chain: its root ("stream" | "batch" | a var name) and its nodes;
    * `varName` is set for `var x = <chain>` declarations. */
  case class Chain(varName: Option[String], root: String, nodes: Seq[Node])
  case class FnArg(name: String, args: Seq[Any]) // fn-call argument, e.g. time(1m)
  /** A negated arg whose operand may be a script var, resolved (then
    * negated) at compile time — e.g. shift(-period). */
  case class NegArg(v: Any)
  /** A bare identifier in ARG position (a var reference or a chain-var
    * name) — kept distinct from a string LITERAL so var substitution
    * never captures a same-named string: `.tag('triggerType',
    * triggerType)` must substitute only the second arg (the reference
    * types these differently in the AST — ast.IdentifierNode vs
    * ast.StringNode). Unresolved idents unwrap to their name during
    * [[parseResolved]]. */
  case class Ident(name: String)
  /** A duration literal in ARG position (`.period(10s)`, `.opt(1s)`).
    * The wrapper keeps duration-ness through to UDF options: the
    * reference types option values (udf.proto OptionValue — a DURATION
    * arrives as int64 nanos, pipeline/udf.go), so an agent switching on
    * ValueType must see DURATION, not a bare DOUBLE. Node params unwrap
    * via [[num]] (seconds), identical arithmetic to the old bare-Double
    * representation. In a lambda a duration stays `ELit(Dur)`, so it
    * renders back as a duration; [[exprToColumn]] compiles it to its
    * second count. */
  case class Dur(seconds: Double)
  /** A parsed script: template var defaults (literals/lambdas/lists),
    * declared-but-unbound template vars (name → type), and the chains. */
  case class Script(defaults: Map[String, Any], declared: Map[String, String], chains: Seq[Chain],
      dbrps: Seq[(String, String)] = Nil)
  sealed trait Expr
  case class EField(name: String) extends Expr
  case class ELit(v: Any) extends Expr
  case class EBin(op: String, l: Expr, r: Expr) extends Expr
  case class ENeg(e: Expr) extends Expr
  case class EFn(name: String, args: Seq[Expr]) extends Expr
  /** A bare identifier inside a lambda — a script `var`, substituted at
    * compile time from the template/default scope. */
  case class EVar(name: String) extends Expr

  /** Chaining-method names (nodes) — used to disambiguate the deprecated
    * dot-chaining syntax from property calls. */
  private val chainNodeNames: Set[String] = Set(
    "from", "query", "window", "where", "eval", "groupBy", "default", "delete",
    "shift", "sample", "flatten", "combine", "union", "join", "barrier",
    "count", "sum", "mean", "median", "mode", "spread", "stddev", "distinct",
    "first", "last", "min", "max", "percentile", "top", "bottom", "elapsed",
    "difference", "movingAverage", "cumulativeSum", "holtWinters",
    "holtWintersWithFit", "derivative", "changeDetect", "stateDuration",
    "stateCount", "stats", "deadman", "sideload", "alert", "httpOut",
    "httpPost", "influxDBOut", "kapacitorLoopback", "log", "noOp", "noop", "trickle")

  /** Node properties whose names collide with chaining methods — on these
    * nodes a dot call with this name stays a property. */
  private val shadowedProps: Map[String, Set[String]] = Map(
    "from" -> Set("where", "groupBy"),
    "query" -> Set("groupBy"),
    // "mode" shadows the mode() aggregate when dot-chained on alert: it
    // is the LogHandler file-mode property (pipeline/alert.go LogHandler
    // .Mode); the mode aggregate remains reachable via the |mode() form
    "alert" -> Set("log", "mode"),
    "combine" -> Set("max"), // combine().max(n) is the pair cap, not an agg
    "barrier" -> Set("delete"),
    // autoscale bound props, not the min/max aggregates
    "k8sAutoscale" -> Set("min", "max"),
    "swarmAutoscale" -> Set("min", "max"),
    "ec2Autoscale" -> Set("min", "max"))

  private class P(var toks: List[Tok]) {
    def peek: Option[Tok] = toks.headOption
    def next(): Tok = { val t = toks.head; toks = toks.tail; t }
    def expectOp(op: String): Unit = next() match {
      case TOp(`op`) => ()
      case t => throw new IllegalArgumentException(s"expected '$op', got $t")
    }

    def parseScript(): Script = {
      // dbrp "db"."rp" declarations (reference load service task headers) —
      // captured: they are the dbrps the task SUBSCRIBES to, which the
      // loopback-loop validation needs
      val dbrps = Seq.newBuilder[(String, String)]
      def strTok(): String = next() match {
        case TStr(v) => v
        case TFieldRef(v) => v // "db" lexes as a double-quoted ref
        case t => throw new IllegalArgumentException(s"expected dbrp name, got $t")
      }
      while (peek.contains(TIdent("dbrp"))) {
        next()
        val db = strTok()
        expectOp(".")
        dbrps += ((db, strTok()))
      }
      val chains = Seq.newBuilder[Chain]
      val defaults = scala.collection.mutable.LinkedHashMap.empty[String, Any]
      val declared = Map.newBuilder[String, String]
      // the reference's full declared-type list (tick/eval.go:275-297)
      val typeNames = Set("string", "lambda", "duration", "int", "float",
        "bool", "regex", "list", "star")
      while (toks.nonEmpty) {
        var varName: Option[String] = None
        var isTemplateValue = false
        if (peek.contains(TIdent("var"))) {
          next()
          val TIdent(nm) = next(): @unchecked
          peek match {
            case Some(TIdent(t)) if typeNames(t) =>
              // `var field string`: declared template var, bound at task
              // definition (reference template tasks)
              next(); declared += nm -> t; isTemplateValue = true
            case _ =>
              expectOp("=")
              peek match {
                case Some(TIdent("stream")) | Some(TIdent("batch")) =>
                  varName = Some(nm)
                case Some(TIdent(_)) if toks.tail.headOption.contains(TOp("|")) ||
                    toks.tail.headOption.contains(TOp(".")) =>
                  varName = Some(nm) // chain rooted at a prior var
                case _ =>
                  defaults += nm -> parseTemplateValue(defaults.get)
                  isTemplateValue = true
              }
          }
        }
        if (!isTemplateValue) {
        val TIdent(root) = next(): @unchecked
        // `|name(...)` always opens a node; the DEPRECATED dot-chaining
        // syntax (`stream.from().window()...`, tick/ast deprecated method
        // syntax — the examples/scores and examples/telegraf corpus) makes
        // `.name(...)` a node too when `name` is a chaining method that the
        // current node does not shadow with a property of the same name
        // (from().where/.groupBy, alert().log, barrier().delete)
        val nodes = Seq.newBuilder[Node]
        var curName: String = null
        var curArgs: Seq[Any] = Nil
        var curProps = Seq.newBuilder[Call]
        def flushNode(): Unit = if (curName != null) {
          nodes += Node(curName, curArgs, curProps.result())
          curProps = Seq.newBuilder[Call]
        }
        def peekUdf = peek.exists {
          case TIdent(s) => s.startsWith("@"); case _ => false
        }
        while (peek.contains(TOp("|")) || peek.contains(TOp(".")) || peekUdf) {
          val pipe = peek.contains(TOp("|"))
          // `@name(...)` chains with the bare '@' itself — no '|' or '.'
          // (tick/ast: the UDF chaining operator, reference
          // TestStream_CustomFunctions script shape)
          val isUdf = peekUdf
          if (!isUdf) next()
          val TIdent(name) = next(): @unchecked
          val args = parseArgList()
          // on a UDF node every dot-call is an OPTION (the reference
          // reflects options off the agent's declared set; chaining off
          // a UDF requires the | form), so nothing shadows
          val opensNode = pipe || isUdf || curName == null ||
            (chainNodeNames(name) && !curName.startsWith("@") &&
              !shadowedProps.getOrElse(curName, Set.empty)(name))
          if (opensNode) { flushNode(); curName = name; curArgs = args }
          else curProps += Call(name, args)
        }
        flushNode()
        chains += Chain(varName, root, nodes.result())
        }
      }
      Script(defaults.toMap, declared.result(), chains.result(), dbrps.result())
    }

    /** A template var default: literal, lambda, [list], or constant
      * arithmetic over literals and prior vars (`var gb = 1024 * mb` —
      * tick/eval.go evaluates var declarations eagerly). `resolve` looks up
      * previously declared vars. */
    def parseTemplateValue(resolve: String => Option[Any]): Any = {
      peek match {
        case Some(TLambda) => next(); return parseOr()
        // a star template var (`var g = *`) — the same "*" representation
        // star ARG positions use, so groupBy(g) splices like groupBy(*)
        case Some(TOp("*")) => next(); return "*"
        case Some(TOp("[")) =>
          next()
          val items = Seq.newBuilder[Any]
          while (!peek.contains(TOp("]"))) {
            items += parseArg()
            if (peek.contains(TOp(","))) next()
          }
          next()
          return items.result()
        case _ => ()
      }
      // constant arithmetic with the reference's precedence (* / over + -,
      // tick/ast parser); var references stay SYMBOLIC (EVar) so template
      // overrides of a referenced var re-evaluate at compile time
      def primary(): Any = peek match {
        case Some(TStr(v)) => next(); v
        case Some(TNum(v, i)) => next(); if (i) v.toLong else v
        case Some(TDur(v)) => next(); Dur(v)
        case Some(TIdent("TRUE")) => next(); true
        case Some(TIdent("FALSE")) => next(); false
        case Some(TIdent(nm)) if resolve(nm).isDefined => next(); EVar(nm)
        case t => throw new IllegalArgumentException(s"unexpected template value $t")
      }
      def mk(op: String, l: Any, r: Any): Any = (l, r) match {
        case (a: Long, b: Long) =>
          // Go integer arithmetic: / truncates
          op match { case "*" => a * b; case "+" => a + b; case "-" => a - b
                     case _ => a / b }
        case (a: Double, b: Double) => op match {
          case "*" => a * b; case "+" => a + b; case "-" => a - b; case _ => a / b }
        case (a: Long, b: Double) => mk(op, a.toDouble, b)
        case (a: Double, b: Long) => mk(op, a, b.toDouble)
        // duration arithmetic stays a duration (Go: time.Duration is an
        // int64 — d+d, d-d, d*n, n*d, d/n are durations) except the
        // dimensionless ratio d/d, which is int64-nanos division and
        // TRUNCATES like the (Long, Long) case above
        case (Dur(a), Dur(b)) =>
          if (op == "/") math.round(a * 1e9) / math.round(b * 1e9)
          else Dur(mk(op, a, b).asInstanceOf[Double])
        case (Dur(a), b: Long)   => Dur(mk(op, a, b.toDouble).asInstanceOf[Double])
        case (Dur(a), b: Double) => Dur(mk(op, a, b).asInstanceOf[Double])
        case (a: Long, Dur(b))   => Dur(mk(op, a.toDouble, b).asInstanceOf[Double])
        case (a: Double, Dur(b)) => Dur(mk(op, a, b).asInstanceOf[Double])
        case _ =>
          def toE(x: Any): Expr = x match { case e: Expr => e; case v => ELit(v) }
          EBin(op, toE(l), toE(r))
      }
      def isOp(os: String*) = peek.exists { case TOp(o) => os.contains(o); case _ => false }
      def term(): Any = {
        var l = primary()
        while (isOp("*", "/")) { val TOp(o) = next(): @unchecked; l = mk(o, l, term0()) }
        l
      }
      def term0(): Any = primary()
      var v = term()
      while (isOp("+", "-")) { val TOp(o) = next(): @unchecked; v = mk(o, v, term()) }
      v
    }

    def parseArgList(): Seq[Any] = {
      expectOp("(")
      val args = Seq.newBuilder[Any]
      while (!peek.contains(TOp(")"))) {
        args += parseArg()
        if (peek.contains(TOp(","))) next()
      }
      next() // ')'
      args.result()
    }

    def parseArg(): Any = peek match {
      case Some(TLambda) => next(); parseOr()
      case Some(TStr(v)) => next(); v
      case Some(TNum(v, i)) => next(); if (i) v.toLong else v
      case Some(TDur(v)) => next(); Dur(v)
      case Some(TOp("-")) =>
        next()
        parseArg() match {
          case l: Long => -l
          case d: Double => -d
          case Dur(s) => Dur(-s)
          case other => NegArg(other) // a var ref: resolve first, negate then
        }
      case Some(TIdent(v)) =>
        next()
        if (peek.contains(TOp("("))) FnArg(v, parseArgList()) // e.g. time(1m)
        // bool literals are reserved words in arg position too (tick/ast
        // lexes TRUE/FALSE as bool tokens everywhere, not only in lambdas)
        else if (v == "TRUE") true
        else if (v == "FALSE") false
        else Ident(v)
      case Some(TOp("*")) => next(); "*" // star dimension
      case Some(TOp("[")) =>
        // a list LITERAL in arg position (`groupBy(['host'])`) — like a
        // list-valued var, it splices into the call's args at resolution
        next()
        val items = Seq.newBuilder[Any]
        while (!peek.contains(TOp("]"))) {
          items += parseArg()
          if (peek.contains(TOp(","))) next()
        }
        next()
        items.result()
      case t => throw new IllegalArgumentException(s"unexpected arg token $t")
    }

    // lambda expression grammar
    def parseOr(): Expr = {
      var l = parseAnd()
      while (peek.contains(TIdent("OR"))) { next(); l = EBin("OR", l, parseAnd()) }
      l
    }
    def parseAnd(): Expr = {
      var l = parseCmp()
      while (peek.contains(TIdent("AND"))) { next(); l = EBin("AND", l, parseCmp()) }
      l
    }
    def parseCmp(): Expr = {
      val l = parseAdd()
      peek match {
        case Some(TOp(op)) if Set(">", "<", ">=", "<=", "==", "!=", "=~", "!~")(op) =>
          next(); EBin(op, l, parseAdd())
        case _ => l
      }
    }
    def parseAdd(): Expr = {
      var l = parseMul()
      var go = true
      while (go) peek match {
        case Some(TOp(op @ ("+" | "-"))) => next(); l = EBin(op, l, parseMul())
        case _ => go = false
      }
      l
    }
    def parseMul(): Expr = {
      var l = parseUnary()
      var go = true
      while (go) peek match {
        case Some(TOp(op @ ("*" | "/"))) => next(); l = EBin(op, l, parseUnary())
        case _ => go = false
      }
      l
    }
    def parseUnary(): Expr = peek match {
      case Some(TOp("-")) => next(); ENeg(parseUnary())
      case _ => parsePrimary()
    }
    def parsePrimary(): Expr = next() match {
      case TFieldRef(f) => EField(f)
      case TStr(v) => ELit(v)
      case TNum(v, i) => ELit(if (i) v.toLong else v)
      case TDur(v) => ELit(Dur(v))
      case TIdent("TRUE") => ELit(true)
      case TIdent("FALSE") => ELit(false)
      case TIdent(fn) if peek.contains(TOp("(")) =>
        expectOp("(")
        val args = Seq.newBuilder[Expr]
        while (!peek.contains(TOp(")"))) {
          args += parseOr()
          if (peek.contains(TOp(","))) next()
        }
        next()
        EFn(fn, args.result())
      case TOp("(") => val e = parseOr(); expectOp(")"); e
      case TIdent(name) => EVar(name)
      case t => throw new IllegalArgumentException(s"unexpected token $t in lambda")
    }
  }

  /** Resolve a scope value SYMBOLICALLY: var references chase through
    * `scope` (cycles fail loudly), pure numeric arithmetic folds with Go
    * integer semantics, and anything lambda-shaped (field refs, fns,
    * comparisons — or a var ALIASING a lambda) passes through as the
    * Expr it is, to be substituted into lambda positions later. Shared
    * by [[compile]]'s scope resolution and the template-vars API
    * ([[TickVars]]). */
  private[tick] def resolveScopeVal(v: Any, scope: Map[String, Any],
      seen: Set[String]): Any = {
    def resolveBin(op: String, a: Double, b: Double): Double =
      op match { case "*" => a * b; case "+" => a + b; case "-" => a - b; case _ => a / b }
    v match {
      case EVar(n) =>
        require(!seen(n), s"cyclic var reference through $n")
        scope.get(n).map(resolveScopeVal(_, scope, seen + n))
          .getOrElse(throw new IllegalArgumentException(s"unknown var $n"))
      case ELit(x) => x
      case EBin(op @ ("*" | "+" | "-" | "/"), l, r) =>
        (resolveScopeVal(l, scope, seen), resolveScopeVal(r, scope, seen)) match {
          case (a: Long, b: Long) =>
            op match { case "*" => a * b; case "+" => a + b; case "-" => a - b
                       case _ => a / b } // Go int division truncates
          case (a: Double, b: Double) =>
            op match { case "*" => a * b; case "+" => a + b; case "-" => a - b
                       case _ => a / b }
          case (a: Long, b: Double) => resolveBin(op, a.toDouble, b)
          case (a: Double, b: Long) => resolveBin(op, a, b.toDouble)
          // string concatenation (tick/stateful eval: + on two strings —
          // the chronograf rule shape `var idVar = name + ':{{.Group}}'`)
          case (a: String, b: String) if op == "+" => a + b
          // duration arithmetic mirrors parseTemplateValue.mk: a duration
          // operand keeps duration-ness except the d/d ratio (truncated
          // int64-nanos division, like Go)
          case (Dur(a), Dur(b)) =>
            if (op == "/") math.round(a * 1e9) / math.round(b * 1e9)
            else Dur(resolveBin(op, a, b))
          case (Dur(a), b: Long)   => Dur(resolveBin(op, a, b.toDouble))
          case (Dur(a), b: Double) => Dur(resolveBin(op, a, b))
          case (a: Long, Dur(b))   => Dur(resolveBin(op, a.toDouble, b))
          case (a: Double, Dur(b)) => Dur(resolveBin(op, a, b))
          case (a, b) => // a lambda operand — stays a symbolic tree
            def toE(x: Any): Expr = x match { case e: Expr => e; case lv => ELit(lv) }
            EBin(op, toE(a), toE(b))
        }
      case other => other // lambdas, strings, durations, lists
    }
  }

  def parse(src: String): Script = new P(lex(src)).parseScript()

  /** Parse + RESOLVE: bind template vars (coerced by declared type),
    * evaluate the var scope (constant arithmetic, var chains), and
    * substitute resolved values into every node/prop arg position (list
    * vars splice; negated args fold). The returned Script's chains carry
    * only literal/lambda args — the form [[compile]] executes and the
    * form the task-JSON marshaler ([[TickJson]]) serializes, matching the
    * reference's eager var evaluation at pipeline-build time
    * (tick/eval.go:275-310). */
  def parseResolved(script: String,
      templateVars: Map[String, Any] = Map.empty): Script = {
    val parsed = parse(script)
    val missing = parsed.declared.keySet -- templateVars.keySet
    require(missing.isEmpty, s"unbound template vars: ${missing.mkString(", ")}")
    // coerce bindings by their DECLARED type: a duration-declared var
    // bound with a plain number (the natural caller binding — seconds)
    // must carry duration-ness to typed consumers (UDF options validate
    // DURATION vs DOUBLE), exactly as the reference coerces Var values
    // against the declared ast.ValueType (tick/eval.go:275-310)
    val boundVars = templateVars.map { case (k, v) =>
      k -> ((parsed.declared.get(k), v) match {
        case (Some("duration"), d: Double) => Dur(d)
        case (Some("duration"), l: Long)   => Dur(l.toDouble)
        case (Some("duration"), i: Int)    => Dur(i.toDouble)
        case _                             => v
      })
    }
    val rawScope = parsed.defaults ++ boundVars
    // a var default may be a deferred arithmetic tree over OTHER vars
    // (`var gb = 1024 * mb`) — evaluate it against the MERGED scope so a
    // templateVars override of the referenced var propagates (the
    // reference evaluates declarations in the overridden scope)
    val scope: Map[String, Any] =
      rawScope.map { case (k, v) => k -> resolveScopeVal(v, rawScope, Set(k)) }
    // substitute template vars into arg positions ([list] values splice)
    def substExpr(e: Expr): Expr = e match {
      case EVar(n) if scope.contains(n) => scope(n) match {
        case ex: Expr => substExpr(ex) // a var may reference further vars
        // a duration var stays a duration, like a duration literal
        case v => ELit(v)
      }
      case EBin(op, l, r) => EBin(op, substExpr(l), substExpr(r))
      case ENeg(x) => ENeg(substExpr(x))
      case EFn(f, as) => EFn(f, as.map(substExpr))
      case other => other
    }
    def resolveArgs(xs: Seq[Any]): Seq[Any] = xs.flatMap {
      // only IDENTS substitute — a string literal that happens to equal
      // a var name stays a literal
      case Ident(s) if scope.contains(s) => scope(s) match {
        case seq: Seq[_] => resolveArgs(seq)
        case v => Seq(v)
      }
      case Ident(s) => Seq(s) // chain-var names etc. unwrap to strings
      case seq: Seq[_] => resolveArgs(seq) // a list literal splices
      case NegArg(inner) => resolveArgs(Seq(inner)).map {
        case l: Long => -l
        case d: Double => -d
        case Dur(s) => Dur(-s)
        case other => throw new IllegalArgumentException(s"cannot negate $other")
      }
      case e: Expr => Seq(substExpr(e))
      case other => Seq(other)
    }
    parsed.copy(chains = parsed.chains.map(ch => ch.copy(nodes = ch.nodes.map(n =>
      n.copy(args = resolveArgs(n.args),
        props = n.props.map(c => c.copy(args = resolveArgs(c.args))))))))
  }

  /** Parse a standalone lambda expression (for supplying template vars). */
  def lambdaExpr(src: String): Expr = new P(lex(src)).parseOr()

  // --------------------------------------------------------- compile

  def exprToColumn(e: Expr): Column = e match {
    case EField(f) => if (f.contains(".")) col(s"`$f`") else col(f)
    case ELit(c: Column) => c // pre-compiled stateful sub-expression
    case ELit(Dur(s)) => lit(s) // durations compare and compute in seconds
    case ELit(v) => lit(v)
    case ENeg(x) => -exprToColumn(x)
    case EBin(op, l, r) =>
      val (a, b) = (exprToColumn(l), exprToColumn(r))
      op match {
        case "AND" => a && b
        case "OR" => a || b
        case ">" => a > b
        case "<" => a < b
        case ">=" => a >= b
        case "<=" => a <= b
        case "==" => a === b
        case "!=" => a =!= b
        case "=~" => a.rlike(r.asInstanceOf[ELit].v.toString)
        case "!~" => !a.rlike(r.asInstanceOf[ELit].v.toString)
        case "+" => a + b
        case "-" => a - b
        case "*" => a * b
        case "/" => a / b
      }
    case EVar(n) =>
      throw new IllegalArgumentException(s"unbound script var $n in lambda")
    case EFn(name, args) =>
      val cs = args.map(exprToColumn)
      name match {
        case "abs" => abs(cs.head)
        case "int" => cs.head.cast("long") // tick/ast int() → int64
        case "ceil" => ceil(cs.head)
        case "floor" => floor(cs.head)
        case "log" => log(cs.head)
        case "exp" => exp(cs.head)
        case "sqrt" => sqrt(cs.head)
        case "if" => when(cs(0), cs(1)).otherwise(cs(2))
        // time lambdas (reference tick/ast time funcs): now() is the
        // evaluation-time clock; unixNano takes a timestamp to epoch ns
        case "now" => current_timestamp()
        case "unixNano" => (unix_micros(cs.head) * 1000L).cast("long")
        case "year" => year(cs.head)
        case "month" => month(cs.head)
        case "day" => dayofmonth(cs.head)
        case "hour" => hour(cs.head)
        case "minute" => minute(cs.head)
        // rand()/rand(n): the reference reseeds a process-global mwc rng;
        // here the deterministic per-partition generator (seed 0) — same
        // distribution contract, different (documented) byte stream
        case "rand" if cs.isEmpty =>
          graft.functions.TickFunctions.randLambda(0L)
        case "rand" =>
          val n = args.head.asInstanceOf[ELit].v match {
            case l: Long => l; case i: Int => i.toLong; case d: Double => d.toLong
          }
          if (n == 0) lit(0L)
          else graft.functions.TickFunctions.randLambda(0L, n)
        case other => throw new IllegalArgumentException(s"unsupported function $other")
      }
  }

  /** Compilation state threaded through the node fold. */
  private case class St(pipe: Pipe, bucketed: Boolean)

  /** Compile a script against a source frame (time column + measurement +
    * field/tag columns). Supports multi-chain scripts with `var`
    * declarations (each chain roots at stream/batch or a prior var).
    * Returns the final DataFrame of the last anonymous chain; `httpOut`/
    * `influxDBOut` end a chain (rendering/writing is the caller's — see
    * ResultRenderer / Sinks). */
  def compile(script: String, source: DataFrame, timeCol: String = "time",
      measurementCol: String = "measurement", idCol: Option[String] = None,
      templateVars: Map[String, Any] = Map.empty,
      stageTap: Option[(String, Pipe) => Unit] = None,
      udfs: Map[String, (DataFrame, Seq[Call]) => DataFrame] = Map.empty,
      autoscaleInitial: Option[String => Long] = None): DataFrame = {
    val parsed = parseResolved(script, templateVars)
    val chains = parsed.chains
    // kapacitorLoopback() writing a dbrp this task subscribes to would
    // loop the task into itself — refuse at definition, like the
    // reference's start-time validation (TestStream_KapacitorLoopback_
    // PreventLoop; task.go loop check)
    for {
      ch <- chains
      n <- ch.nodes if n.name == "kapacitorLoopback"
      db <- n.props.find(_.name == "database").map(_.args.head.toString)
      rp <- n.props.find(_.name == "retentionPolicy").map(_.args.head.toString)
      if parsed.dbrps.contains((db, rp))
    } throw new IllegalArgumentException(
      s"kapacitorLoopback into $db.$rp would create a loop: the task subscribes to that dbrp")
    // a `|@name()` node must resolve at DEFINITION time, like the
    // reference's UDF lookup against the configured [udf.functions.*]
    // sections (task.go createNode → udf service lookup fails the define)
    for (ch <- chains; nd <- ch.nodes if nd.name.startsWith("@"))
      require(udfs.contains(nd.name.drop(1)),
        s"undefined UDF ${nd.name}: register it in compile(udfs = ...) — " +
          "the reference requires a matching [udf.functions." + nd.name.drop(1) + "] config")
    val vars = scala.collection.mutable.Map.empty[String, St]
    var last: Option[St] = None
    // node-stats tap (stats.go): nodes are numbered <name><ordinal> across
    // the whole DAG — stream0, from1, derivative2 ... — roots included
    val ord = new java.util.concurrent.atomic.AtomicInteger(0)
    chains.foreach { ch =>
      val st0 = ch.root match {
        case "stream" | "batch" => St(Pipe(source, timeCol = timeCol, idCol = idCol), bucketed = false)
        case ref => vars.getOrElse(ref, throw new IllegalArgumentException(s"unknown var $ref"))
      }
      stageTap.foreach { tap =>
        if (ch.root == "stream" || ch.root == "batch")
          tap(s"${ch.root}${ord.getAndIncrement()}", st0.pipe)
      }
      val stN = compileNodes(st0, ch.nodes, vars, measurementCol, timeCol,
        stageTap.map(tap => (n: Node, p: Pipe) => tap(s"${n.name}${ord.getAndIncrement()}", p)),
        udfs, autoscaleInitial)
      ch.varName match {
        case Some(nm) => vars(nm) = stN
        case None => last = Some(stN)
      }
    }
    last.orElse(vars.values.lastOption)
      .getOrElse(throw new IllegalArgumentException("script has no chain"))
      .pipe.df
  }

  /** Canonical `udfs` registry entry for [[compile]]: run the chain through
    * an external child process via [[graft.sources.ProcessUdf]], speaking
    * line protocol on stdin/stdout — the full migration path for a
    * reference `@udf` agent (pipeline/udf.go + udf/agent): declare the
    * process here (the `[udf.functions.x]` config section), invoke it as
    * `|@x()` in the script. Node properties become child argv via
    * `propsToArgs` (default `.alpha(0.5)` → `--alpha 0.5`, mirroring
    * InitRequest.options, udf.proto:40-58). `inFields` are serialized as
    * typed line-protocol fields; the child's output points come back as
    * `outFields` double columns with `tagCols` and event time preserved. */
  def processUdf(
      cmd: Seq[String],
      tagCols: Seq[String],
      inFields: Seq[String],
      outFields: Seq[String],
      timeCol: String = "time",
      measurementCol: String = "measurement",
      propsToArgs: Seq[Call] => Seq[String] = defaultUdfArgs)
      : (DataFrame, Seq[Call]) => DataFrame = (df, props) => {
    val meas =
      if (df.columns.contains(measurementCol)) col(measurementCol) else lit("points")
    // exact event-time nanos when the frame carries them; µs→ns otherwise
    val ns =
      if (df.columns.contains("ts_ns")) col("ts_ns")
      else unix_micros(col(timeCol)) * lit(1000L)
    val out = graft.sources.ProcessUdf.transform(
      df.withColumn("__udf_ns", ns),
      cmd ++ propsToArgs(props),
      meas,
      tagCols.map(t => t -> col(t)),
      inFields,
      col("__udf_ns"))
    out.select(
      col("time").as(timeCol) +:
        col("measurement").as(measurementCol) +:
        (tagCols.map(t => col("tags")(t).as(t)) ++
          outFields.map(f => coalesce(col("fieldsFloat")(f),
            col("fieldsInt")(f).cast("double")).as(f))): _*)
  }

  /** Default property→argv mapping for [[processUdf]]: durations render
    * as their second count; bools via toString, which already matches
    * Go's strconv.FormatBool ("true"/"false"). */
  def defaultUdfArgs(props: Seq[Call]): Seq[String] =
    props.flatMap(c => s"--${c.name}" +: c.args.map {
      case ELit(v) => v.toString
      case Dur(s)  => s.toString
      case v       => v.toString
    })

  /** Registry entry like [[processUdf]], but for an UNMODIFIED reference
    * protobuf agent (the varint-framed udf.proto protocol — the exact
    * agent the reference's `[udf.functions.x]` config attaches, as a
    * child process or a unix socket, whichever `agent` names): node
    * properties become `InitRequest.options` (pipeline/udf.go maps
    * `.alpha(0.5)` the same way), `inFields` split into the typed
    * fieldsDouble/Int/String/Bool maps by column type exactly like the
    * reference server's fieldsToTypedMaps (udf/server.go:521-554), and
    * the agent's output points come back as columns: `outFields` are
    * NUMERIC outputs (fieldsDouble coalesced with fieldsInt, as double);
    * agents emitting string or bool output fields list those in
    * `outFieldsStr` / `outFieldsBool` so each lands with its own type
    * (a name in the wrong list reads the wrong typed map → null, the
    * same miss a reference task sees when a field changes type). */
  def protobufUdf(
      agent: graft.sources.UdfProto.Agent,
      tagCols: Seq[String],
      inFields: Seq[String],
      outFields: Seq[String],
      outFieldsStr: Seq[String] = Nil,
      outFieldsBool: Seq[String] = Nil,
      timeCol: String = "time",
      measurementCol: String = "measurement",
      propsToOptions: Seq[Call] => Seq[(String, Seq[graft.sources.UdfProto.OptVal])] = defaultUdfOptions)
      : (DataFrame, Seq[Call]) => DataFrame = (df, props) => {
    import graft.sources.UdfProto
    val spark = df.sparkSession
    import spark.implicits._
    val pts = typedUdfInput(df, tagCols, inFields, timeCol, measurementCol)
      .as[(Long, String, Map[String, String], Map[String, Double],
           Map[String, Long], Map[String, String], Map[String, Boolean])]
      .map { case (t, n, tg, fd, fi, fs, fb) =>
        UdfProto.ProtoPoint(t, n, "", "", "", Nil, tg, fd, fi, fs, fb, byName = false)
      }
    protoPointsFrame(UdfProto.pipePoints(pts, agent, propsToOptions(props)).toDF(),
      tagCols, outFields, outFieldsStr, outFieldsBool, timeCol, measurementCol)
  }

  /** Shared output projection for the point-producing protobuf binders:
    * a ProtoPoint frame back to chain columns, each output field typed
    * by its list (numeric outFields coalesce double|int; string/bool by
    * name). */
  private def protoPointsFrame(
      out: DataFrame, tagCols: Seq[String], outFields: Seq[String],
      outFieldsStr: Seq[String], outFieldsBool: Seq[String],
      timeCol: String, measurementCol: String): DataFrame =
    out.select(
      timestamp_micros(expr("time DIV 1000")).as(timeCol) +:
        col("name").as(measurementCol) +:
        (tagCols.map(t => col("tags")(t).as(t)) ++
          outFields.map(f => coalesce(col("fieldsDouble")(f),
            col("fieldsInt")(f).cast("double")).as(f)) ++
          outFieldsStr.map(f => col("fieldsString")(f).as(f)) ++
          outFieldsBool.map(f => col("fieldsBool")(f).as(f))): _*)

  /** Shared typed-maps projection for the protobuf UDF builders: the
    * frame reduced to (_t ns, _n measurement, _tg tags, _fd/_fi/_fs/_fb
    * typed field maps) — `inFields` split by column type exactly like
    * the reference server's fieldsToTypedMaps (udf/server.go:521-554). */
  private def typedUdfInput(
      df: DataFrame, tagCols: Seq[String], inFields: Seq[String],
      timeCol: String, measurementCol: String,
      extraCols: Seq[org.apache.spark.sql.Column] = Nil): DataFrame = {
    import org.apache.spark.sql.types._
    val meas =
      if (df.columns.contains(measurementCol)) col(measurementCol) else lit("points")
    val ns =
      if (df.columns.contains("ts_ns")) col("ts_ns")
      else unix_micros(col(timeCol)) * lit(1000L)
    val byType = inFields.groupBy(f => df.schema(f).dataType match {
      case DoubleType | FloatType | _: DecimalType => 'd'
      case LongType | IntegerType | ShortType      => 'i'
      case BooleanType                             => 'b'
      case _                                       => 's'
    })
    def fieldMap(tpe: Char, cast: String) = byType.get(tpe) match {
      case Some(fs) => map(fs.flatMap(f => Seq(lit(f), col(f).cast(cast))): _*)
      case None     => map().cast(s"map<string,$cast>")
    }
    val tagMap =
      if (tagCols.isEmpty) map().cast("map<string,string>")
      else map(tagCols.flatMap(t => Seq(lit(t), col(t).cast("string"))): _*)
    df.select(Seq(
      ns.cast("long").as("_t"), meas.cast("string").as("_n"),
      tagMap.as("_tg"), fieldMap('d', "double").as("_fd"),
      fieldMap('i', "long").as("_fi"), fieldMap('s', "string").as("_fs"),
      fieldMap('b', "boolean").as("_fb")) ++ extraCols: _*)
  }

  /** Registry entry for a BATCH-edge protobuf agent on a WINDOWED chain
    * (`stream |from() |window() |@outliers()` — the reference feeds such
    * a UDF whole batches, one BeginBatch/Point/EndBatch framing per
    * window per group, udf/server.go:445-519): rows group into one
    * ProtoBatch per (measurement, window bucket, tag group), stream
    * through [[graft.sources.UdfProto.pipeBatches]], and the agent's
    * derived batches explode back to rows. Batch meta must ride through
    * the agent the way the reference's batch reassembly expects
    * (End.tags become the output group — BatchStatsAgent-style agents
    * that echo Begin/End meta satisfy this); the window bucket travels
    * in a reserved `__bucket_s` batch tag so the chain stays windowed
    * downstream. Each batch buffers in memory exactly once
    * (window-bounded, the same bound the reference's BufferedBatch
    * holds). Output typing follows [[protobufUdf]]: numeric `outFields`,
    * typed `outFieldsStr`/`outFieldsBool`. */
  def protobufBatchUdf(
      agent: graft.sources.UdfProto.Agent,
      tagCols: Seq[String],
      inFields: Seq[String],
      outFields: Seq[String],
      outFieldsStr: Seq[String] = Nil,
      outFieldsBool: Seq[String] = Nil,
      timeCol: String = "time",
      measurementCol: String = "measurement",
      bucketCol: String = "bucket_s",
      propsToOptions: Seq[Call] => Seq[(String, Seq[graft.sources.UdfProto.OptVal])] = defaultUdfOptions)
      : (DataFrame, Seq[Call]) => DataFrame = (df, props) => {
    import graft.sources.UdfProto
    val spark = df.sparkSession
    import spark.implicits._
    val batches = assembleUdfBatches(df, tagCols, inFields, timeCol,
      measurementCol, bucketCol)
    val out = UdfProto.pipeBatches(batches, agent, propsToOptions(props))
      .flatMap(b => b.points.map(p =>
        (b.name, b.tags, p.time, p.tags, p.fieldsDouble, p.fieldsInt,
          p.fieldsString, p.fieldsBool)))
      .toDF("_n", "_btags", "_t", "_ptags", "_fd", "_fi", "_fs", "_fb")
    // Agents must echo Begin/End batch meta (including the synthetic
    // __bucket_s tag); an agent that rewrites batch tags would otherwise
    // yield a silently-null bucket column downstream — fail loudly instead.
    val bucketBack = when(element_at(col("_btags"), "__bucket_s").isNull,
      raise_error(concat(
        lit("protobufBatchUdf: agent response lost the __bucket_s batch tag "
          + "(measurement="), col("_n"),
        lit("); agents must echo BeginBatch/EndBatch meta tags"))))
      .otherwise(element_at(col("_btags"), "__bucket_s").cast("long"))
    out.select(
      timestamp_micros(expr("_t DIV 1000")).as(timeCol) +:
        col("_n").as(measurementCol) +:
        bucketBack.as(bucketCol) +:
        (tagCols.map(t => coalesce(
          element_at(col("_ptags"), t), element_at(col("_btags"), t)).as(t)) ++
          outFields.map(f => coalesce(col("_fd")(f),
            col("_fi")(f).cast("double")).as(f)) ++
          outFieldsStr.map(f => col("_fs")(f).as(f)) ++
          outFieldsBool.map(f => col("_fb")(f).as(f))): _*)
  }

  /** Registry entry for a BATCH→STREAM protobuf agent on a windowed
    * chain — the reference's moving_avg example shape
    * (udf/agent/examples/moving_avg): each (measurement, window, group)
    * batch streams to the agent as BeginBatch/Points/EndBatch, and the
    * agent answers with PLAIN POINTS (no batch framing back), so the
    * chain continues as a point stream — no bucket column survives, the
    * same edge change the reference applies when a batch-wants agent
    * provides a stream. Input assembly is [[protobufBatchUdf]]'s; output
    * typing follows [[protobufUdf]]. */
  def protobufBatchToPointsUdf(
      agent: graft.sources.UdfProto.Agent,
      tagCols: Seq[String],
      inFields: Seq[String],
      outFields: Seq[String],
      outFieldsStr: Seq[String] = Nil,
      outFieldsBool: Seq[String] = Nil,
      timeCol: String = "time",
      measurementCol: String = "measurement",
      bucketCol: String = "bucket_s",
      propsToOptions: Seq[Call] => Seq[(String, Seq[graft.sources.UdfProto.OptVal])] = defaultUdfOptions)
      : (DataFrame, Seq[Call]) => DataFrame = (df, props) => {
    import graft.sources.UdfProto
    val batches = assembleUdfBatches(df, tagCols, inFields, timeCol,
      measurementCol, bucketCol)
    protoPointsFrame(
      UdfProto.pipeBatchesToPoints(batches, agent, propsToOptions(props)).toDF(),
      tagCols, outFields, outFieldsStr, outFieldsBool, timeCol, measurementCol)
  }

  /** Shared batch assembly for the BATCH-edge binders: rows of a
    * windowed chain group into one ProtoBatch per (measurement, window
    * bucket, tag group), time-ordered like the reference's buffered
    * batches (the window bound caps the buffer); the bucket travels in
    * the reserved `__bucket_s` batch tag. */
  private def assembleUdfBatches(
      df: DataFrame, tagCols: Seq[String], inFields: Seq[String],
      timeCol: String, measurementCol: String, bucketCol: String)
      : org.apache.spark.sql.Dataset[graft.sources.UdfProto.ProtoBatch] = {
    import graft.sources.UdfProto
    val spark = df.sparkSession
    import spark.implicits._
    require(df.columns.contains(bucketCol),
      s"@batch-edge UDF needs a windowed chain: no '$bucketCol' column — " +
        "add |window() before the @udf, or use protobufUdf for stream edges")
    typedUdfInput(df, tagCols, inFields, timeCol, measurementCol,
        extraCols = Seq(col(bucketCol).cast("long").as("_bk")))
      .as[(Long, String, Map[String, String], Map[String, Double],
           Map[String, Long], Map[String, String], Map[String, Boolean], Long)]
      .groupByKey { case (_, n, tg, _, _, _, _, bk) =>
        (n, bk, tg.toSeq.sortBy(_._1).map { case (k, v) => s"$k=$v" }.mkString(","))
      }
      .mapGroups { (key, it) =>
        val (n, bk, gstr) = key
        val rows = it.toVector.sortBy(_._1)
        UdfProto.ProtoBatch(
          name = n, group = gstr,
          tags = rows.head._3 + ("__bucket_s" -> bk.toString),
          byName = false, tmax = rows.map(_._1).max,
          points = rows.map { case (t, _, tg, fd, fi, fs, fb, _) =>
            UdfProto.ProtoPoint(t, "", "", "", gstr, Nil, tg, fd, fi, fs, fb,
              byName = false)
          })
      }
  }

  /** Default property→InitRequest.options mapping for [[protobufUdf]]:
    * `.size(7)` → option "size" [OptInt 7], typed by the literal. */
  def defaultUdfOptions(props: Seq[Call]): Seq[(String, Seq[graft.sources.UdfProto.OptVal])] = {
    import graft.sources.UdfProto._
    def conv(a: Any): OptVal = a match {
      case ELit(v)    => conv(v)
      case b: Boolean => OptBool(b)
      case l: Long    => OptInt(l)
      case i: Int     => OptInt(i.toLong)
      case d: Double  => OptDouble(d)
      case s: String  => OptString(s)
      case Dur(s)     => OptDuration(math.round(s * 1e9)) // int64 nanos on the wire
      case other      => OptString(other.toString)
    }
    props.map(c => c.name -> c.args.map(conv))
  }

  /** A lambda-position argument: an Expr, or a scope-folded constant
    * (e.g. `var t = lambda: 60 * 5` folds to 300) re-wrapped as a literal. */
  private def asExpr(a: Any): Expr = a match {
    case e: Expr => e
    case v => ELit(v)
  }

  /** Prop-arg scalar for LITERAL (non-numeric-param) positions —
    * default()/sideload field values, query-node fill: durations surface
    * as their second count (`lit(Dur)` is not a Spark literal), booleans
    * and everything else pass through. */
  private def scalarArg(a: Any): Any = a match {
    case Dur(s)  => s
    case ELit(v) => v
    case other   => other
  }

  /** TICKscript numerals surface as Long (integral literal) or Double
    * (float/duration); node params accept either. */
  private def num(a: Any): Double = a match {
    case d: Double => d
    case l: Long   => l.toDouble
    case i: Int    => i.toDouble
    case Dur(s)    => s // node params take durations as seconds
    case other     => throw new IllegalArgumentException(s"expected number, got $other")
  }

  private def compileNodes(
      st0: St, nodes: Seq[Node],
      vars: scala.collection.mutable.Map[String, St],
      measurementCol: String, timeCol: String,
      nodeTap: Option[(Node, Pipe) => Unit] = None,
      udfs: Map[String, (DataFrame, Seq[Call]) => DataFrame] = Map.empty,
      autoscaleInitial: Option[String => Long] = None): St = {
    var st = st0

    def aggCall(fn: (Pipe, Seq[String], String, String) => DataFrame, field: String, as: String): Unit = {
      // measurement is constant within a from() chain, so carrying it as a
      // grouping key changes nothing and keeps {{ .Name }} renderable in
      // downstream alert templates (the reference's points carry Name
      // through every aggregation)
      val meas = if (st.pipe.df.columns.contains(measurementCol)) Seq(measurementCol) else Nil
      val keys = meas ++ st.pipe.dims ++ (if (st.bucketed) Seq("bucket_s") else Nil)
      // the window bucket survives the aggregation as the row's time axis
      // (the reference emits the aggregate at the window time), so it stays
      // a join/grouping key downstream
      var out = fn(st.pipe, keys, field, as)
      // the aggregate point's time IS the window emit time — rematerialize
      // the time column so downstream stateful nodes (sigma, derivative…)
      // keep their order axis; the pre-agg row id is gone, drop it
      if (!out.columns.contains(st.pipe.timeCol) && out.columns.contains("bucket_s"))
        out = out.withColumn(st.pipe.timeCol, timestamp_seconds(col("bucket_s")))
      st = St(st.pipe.copy(df = out, dims = st.pipe.dims,
        idCol = st.pipe.idCol.filter(out.columns.contains)), bucketed = st.bucketed)
    }

    nodes.foreach { n =>
      def prop(name: String): Option[Call] = n.props.find(_.name == name)
      // aggregate output column name: .as('name') override or the default
      def asName(default: String): String =
        prop("as").map(_.args.head.toString).getOrElse(default)
      n.name match {
        case "from" =>
          var p = st.pipe
          prop("measurement").foreach { c =>
            p = p.where(col(measurementCol) === lit(c.args.head.toString))
          }
          prop("where").foreach(c => p = p.where(exprToColumn(asExpr(c.args.head))))
          prop("groupBy").foreach { c =>
            // groupBy(*) = all tags of the dynamic tags map (reference
            // star dimension); otherwise the named dims
            if (c.args == Seq("*")) p = p.groupByStar()
            else p = p.groupBy(c.args.map(_.toString): _*)
          }
          prop("truncate").foreach { c =>
            val secs = num(c.args.head).toLong
            p = p.copy(df = p.df.withColumn(timeCol,
              timestamp_seconds((floor(unix_micros(col(timeCol)) / 1000000.0 / secs) * secs).cast("long"))))
          }
          st = St(p, bucketed = false)
        case "window" =>
          val period = prop("period").map(c => num(c.args.head).toLong)
            .getOrElse(throw new IllegalArgumentException("window needs .period()"))
          val every = prop("every").map(c => num(c.args.head).toLong).getOrElse(period)
          if (prop("fillPeriod").isDefined || (prop("align").isDefined && period != every)) {
            // .align() on a sliding window: boundaries on the k*every epoch
            // grid; .fillPeriod(): suppress emission until a full period
            // elapsed — both are the closed-form arming/trigger derivation
            // of Pipe.windowAligned. A TUMBLING window (period == every,
            // no fillPeriod) is aligned by construction — windowTumbling's
            // floor grid — and keeps its start-labeled buckets.
            val p = st.pipe.windowAligned(period, every,
              fillPeriod = prop("fillPeriod").isDefined)
            st = St(p.copy(df = p.df.withColumnRenamed("wemit_s", "bucket_s")), bucketed = true)
          } else if (period == every) st = St(st.pipe.windowTumbling(every), bucketed = true)
          else {
            val p = st.pipe.windowSliding(period, every)
            st = St(p.copy(df = p.df.withColumnRenamed("wstart_s", "bucket_s").drop("wend_s")), bucketed = true)
          }
        case "where" =>
          st = St(st.pipe.where(exprToColumn(asExpr(n.args.head))), st.bucketed)
        case "groupBy" =>
          // standalone groupBy node (group_by.go): re-dimension mid-stream;
          // groupBy(*).exclude(tags…) filters the tag map before the star key
          if (n.args == Seq("*")) {
            val excluded = prop("exclude").map(_.args.map(_.toString)).getOrElse(Nil)
            var p = st.pipe
            if (excluded.nonEmpty && p.df.columns.contains("tags"))
              p = p.copy(df = p.df.withColumn("tags",
                map_filter(col("tags"), (k, _) => !k.isInCollection(excluded))))
            st = St(p.groupByStar(), st.bucketed)
          } else st = St(st.pipe.groupBy(n.args.map(_.toString): _*), st.bucketed)
        case "eval" if n.args.isEmpty =>
          // eval().keep('f1','f2'): retain only time/dims/kept fields
          val keep = prop("keep").map(_.args.map(_.toString)).getOrElse(Nil)
          st = St(st.pipe.evalKeep(keep), st.bucketed)
        case "eval" =>
          val names = n.props.find(_.name == "as")
            .map(_.args.map(_.toString))
            .getOrElse(throw new IllegalArgumentException("eval needs .as()"))
          // sigma(f) is STATEFUL (running mean/std per group, tick/stateful
          // functions.go sigma) — substituted here where the group context
          // (dims, time order) is known, before the pure-expression compile
          def subSigma(e: Expr): Expr = e match {
            case EFn("sigma", Seq(inner)) =>
              val c = graft.functions.TickFunctions.sigma(
                exprToColumn(subSigma(inner)), st.pipe.dims.map(col),
                col(st.pipe.timeCol), st.pipe.idCol.map(col).toSeq)
              ELit(c)
            case EBin(op, l, r) => EBin(op, subSigma(l), subSigma(r))
            case ENeg(x) => ENeg(subSigma(x))
            case EFn(f, as) => EFn(f, as.map(subSigma))
            case other => other
          }
          val exprs = n.args.map(a => exprToColumn(subSigma(asExpr(a))))
          st = St(st.pipe.eval(names.zip(exprs): _*), st.bucketed)
        case "mean" => aggCall(graft.operators.InfluxQL.mean, n.args.head.toString, asName("mean"))
        case "count" => aggCall(graft.operators.InfluxQL.count, n.args.head.toString, asName("count"))
        case "sum" => aggCall(graft.operators.InfluxQL.sum, n.args.head.toString, asName("sum"))
        case "median" => aggCall(graft.operators.InfluxQL.median, n.args.head.toString, asName("median"))
        case "spread" => aggCall(graft.operators.InfluxQL.spread, n.args.head.toString, asName("spread"))
        case "stddev" => aggCall(graft.operators.InfluxQL.stddev, n.args.head.toString, asName("stddev"))
        case "first" => aggCall(graft.operators.InfluxQL.first, n.args.head.toString, asName("first"))
        case "last" => aggCall(graft.operators.InfluxQL.last, n.args.head.toString, asName("last"))
        case "min" => aggCall(graft.operators.InfluxQL.minSel, n.args.head.toString, asName("min"))
        case "max" => aggCall(graft.operators.InfluxQL.maxSel, n.args.head.toString, asName("max"))
        case "mode" => aggCall(graft.operators.InfluxQL.mode, n.args.head.toString, asName("mode"))
        case "distinct" => aggCall(graft.operators.InfluxQL.distinct, n.args.head.toString, asName("distinct"))
        case "percentile" =>
          val Seq(field, pct) = n.args.take(2)
          val keys = st.pipe.dims ++ (if (st.bucketed) Seq("bucket_s") else Nil)
          st = St(st.pipe.copy(df = graft.operators.InfluxQL.percentile(
            st.pipe, keys, field.toString, num(pct), "percentile")), bucketed = st.bucketed)
        case "top" | "bottom" =>
          val Seq(cnt, field) = n.args.take(2)
          val keys = st.pipe.dims ++ (if (st.bucketed) Seq("bucket_s") else Nil)
          val fn = if (n.name == "top") graft.operators.InfluxQL.top _
          else graft.operators.InfluxQL.bottom _
          st = St(st.pipe.copy(df = fn(
            st.pipe, keys, field.toString, num(cnt).toInt,
            asName(n.name), n.args.drop(2).map(_.toString))), bucketed = st.bucketed)
        case "holtWinters" | "holtWintersWithFit" =>
          // holtWinters(field, h, m, interval) (pipeline/influxql.go:555-581);
          // always point times (PointTimes=true in the reference), per
          // (dims, window) batch when windowed
          val Seq(field, hArg, mArg, ivl) = n.args.take(4)
          val keys = st.pipe.dims ++ (if (st.bucketed) Seq("bucket_s") else Nil)
          val hw = st.pipe.df
            .groupBy(keys.map(col): _*)
            .agg(graft.operators.HoltWinters.holtWinters(
              (unix_micros(col(timeCol)) / 1000000L).cast("long"), col(field.toString),
              num(hArg).toInt, num(mArg).toInt,
              num(ivl).toLong,
              withFit = n.name == "holtWintersWithFit").as("__hw"))
            .select((keys.map(col) :+ explode(col("__hw")).as("__p")): _*)
            .select((keys.map(col) :+ timestamp_seconds(col("__p.t")).as(timeCol)
              :+ col("__p.v").as("holtWinters")): _*)
          st = St(st.pipe.copy(df = hw), bucketed = st.bucketed)
        case "flatten" =>
          // flatten().on(dims…).tolerance(d)[.delimiter(s)]
          // [.dropOriginalFieldName()]: the pivot universe is discovered
          // with one distinct scan (bounded — flatten dims are
          // low-cardinality by construction in the reference's use)
          val dims = prop("on").map(_.args.map(_.toString))
            .getOrElse(throw new IllegalArgumentException("flatten needs .on()"))
          val tol = prop("tolerance").map(c => num(c.args.head).toLong).getOrElse(1L)
          val delim = prop("delimiter").map(_.args.head.toString).getOrElse(".")
          val dropName = prop("dropOriginalFieldName").isDefined
          var p = st.pipe
          val flatDim = "__flat"
          p = p.copy(df = p.df.withColumn(flatDim,
            concat_ws(delim, dims.map(col): _*)), dims = (p.dims.filterNot(dims.contains) :+ flatDim))
          val universe = p.df.select(flatDim).distinct()
            .limit(10001).collect().map(_.getString(0)).sorted.toSeq
          require(universe.size <= 10000, "flatten universe too large")
          val fields = p.df.columns
            .filterNot(c => p.dims.contains(c) || dims.contains(c) || c == timeCol || c == measurementCol)
          st = St(p.flattenOnFields(flatDim, universe, fields.toSeq, tol, delim, dropName), bucketed = true)
        case "combine" =>
          // combine(lambda…).as(names…).tolerance(d)[.max(n)]
          val preds = n.args.map(a => exprToColumn(asExpr(a)))
          val names = prop("as").map(_.args.map(_.toString))
            .getOrElse(throw new IllegalArgumentException("combine needs .as()"))
          val tol = prop("tolerance").map(c => num(c.args.head).toLong).getOrElse(1L)
          val maxC = prop("max").map(c => num(c.args.head).toLong).getOrElse(10000L)
          val delim = prop("delimiter").map(_.args.head.toString).getOrElse(".")
          var out = st.pipe.combineK(preds, tol, names, maxC)
          // combineK prefixes with '_'; the DSL's .delimiter() renames
          names.foreach { nm =>
            out.columns.filter(_.startsWith(s"${nm}_")).foreach { c =>
              out = out.withColumnRenamed(c, nm + delim + c.drop(nm.length + 1))
            }
          }
          st = St(st.pipe.copy(df = out), bucketed = true)
        case "sideload" =>
          // sideload().source('file://dir').order('t0/{{.t0}}.yml', …)
          //   .field(name, default)….tag(name, default)…
          val src = prop("source").map(_.args.head.toString.stripPrefix("file://"))
            .getOrElse(throw new IllegalArgumentException("sideload needs .source()"))
          val cfg = graft.operators.Sideload.loadDir(st.pipe.df.sparkSession, src)
          val tmplVar = "\\{\\{\\s*\\.(\\w+)\\s*\\}\\}".r
          val levels = prop("order").map(_.args.map { a =>
            val t = a.toString
            // template → concat of literals and tag columns
            val parts = scala.collection.mutable.ArrayBuffer.empty[Column]
            var pos = 0
            tmplVar.findAllMatchIn(t).foreach { mm =>
              if (mm.start > pos) parts += lit(t.substring(pos, mm.start))
              parts += col(mm.group(1)).cast("string")
              pos = mm.end
            }
            if (pos < t.length) parts += lit(t.substring(pos))
            concat(parts.toSeq: _*)
          }).getOrElse(throw new IllegalArgumentException("sideload needs .order()"))
          val defaults = n.props.filter(c => c.name == "field" || c.name == "tag")
            .map(c => c.args(0).toString -> lit(scalarArg(c.args(1))).cast("string"))
          st = St(st.pipe.copy(df = graft.operators.Sideload.sideload(
            st.pipe.df, levels, cfg, defaults.toMap)), st.bucketed)
        case "stats" =>
          // stats(interval): interval point-throughput of the wrapped node
          val interval = num(n.args.head).toLong
          val groupCol = st.pipe.dims.headOption.getOrElse(
            throw new IllegalArgumentException("stats needs a grouped stream"))
          val withTus = st.pipe.df.withColumn("__tus", unix_micros(col(timeCol)))
          st = St(st.pipe.copy(df = graft.operators.Deadman.stats(
            withTus, "__tus", groupCol, interval)), bucketed = false)
        case "derivative" =>
          val p = st.pipe.derivative(n.args.head.toString,
            prop("unit").map(c => num(c.args.head)).getOrElse(1.0),
            nonNegative = prop("nonNegative").isDefined,
            as = prop("as").map(_.args.head.toString).getOrElse("derivative"))
          st = St(p, st.bucketed)
        case "difference" => st = St(st.pipe.difference(n.args.head.toString), st.bucketed)
        case "movingAverage" =>
          st = St(st.pipe.movingAverage(n.args.head.toString, num(n.args(1)).toInt), st.bucketed)
        case "cumulativeSum" => st = St(st.pipe.cumulativeSum(n.args.head.toString), st.bucketed)
        case "elapsed" =>
          st = St(st.pipe.elapsed(n.args.lift(1).map(num).getOrElse(1.0)), st.bucketed)
        case "changeDetect" => st = St(st.pipe.changeDetect(n.args.head.toString), st.bucketed)
        case "stateCount" =>
          st = St(st.pipe.stateCount(exprToColumn(asExpr(n.args.head)),
            asName("state_count")), st.bucketed)
        case "stateDuration" =>
          // .unit(d): reporting unit for the duration (reference
          // pipeline/state_tracking.go; default 1s)
          val unit = prop("unit").map(c => num(c.args.head)).getOrElse(1.0)
          st = St(st.pipe.stateDuration(exprToColumn(asExpr(n.args.head)),
            asName("state_duration"), unit), st.bucketed)
        case "shift" =>
          // shift(d) moves point times; a windowed stream's bucket axis
          // moves with them (the reference re-windows the shifted points —
          // shifting both is the closed form of that)
          val secs = num(n.args.head).toLong
          var p2 = st.pipe.shift(secs)
          if (st.bucketed && p2.df.columns.contains("bucket_s"))
            p2 = p2.copy(df = p2.df.withColumn("bucket_s", col("bucket_s") + secs))
          st = St(p2, st.bucketed)
        case "sample" => st = St(st.pipe.sampleN(num(n.args.head).toInt), st.bucketed)
        case "default" =>
          val kvs = n.props.filter(_.name == "field")
            .map(c => c.args(0).toString -> scalarArg(c.args(1)))
          // .tag() defaults use the missing-or-empty rule (default.go:100-106)
          val tags = n.props.filter(_.name == "tag").map(c => c.args(0).toString -> c.args(1).toString)
          st = St(st.pipe.default(kvs: _*).defaultTags(tags: _*), st.bucketed)
        case "delete" =>
          // deleting a grouped .tag() regroups (Pipe.delete drops the dim)
          val cols = n.props.filter(p => p.name == "field" || p.name == "tag")
            .map(_.args.head.toString)
          st = St(st.pipe.delete(cols: _*), st.bucketed)
        case "alert" =>
          val info = prop("info").map(c => exprToColumn(asExpr(c.args.head))).getOrElse(lit(false))
          val warn = prop("warn").map(c => exprToColumn(asExpr(c.args.head))).getOrElse(lit(false))
          val crit = prop("crit").map(c => exprToColumn(asExpr(c.args.head))).getOrElse(lit(false))
          var p = st.pipe.eval("level" -> AlertStream.levelColumn(info, warn, crit))
          val levelName = element_at(
            typedlit(graft.streaming.AlertStream.levelNames), col("level") + 1)
          val nameCol =
            if (p.df.columns.contains(measurementCol)) col(measurementCol).cast("string")
            else lit("")
          // template tag lookups: the raw tags map when it survived, else a
          // map synthesized from the group-by dims (a point's tags ARE its
          // group key after aggregation)
          val tagsCol =
            if (p.df.columns.contains("tags")) Some(col("tags"))
            else if (p.dims.nonEmpty) Some(map(
              p.dims.flatMap(d => Seq(lit(d), col(d).cast("string"))): _*))
            else None
          // {{ .Group }} renders the models.GroupID string: dim k=v pairs
          // comma-joined in sorted-dim order, "nil" when ungrouped
          // (reference alert.go:1349-1357, models/point.go:82-117)
          val groupCol =
            if (p.dims.nonEmpty)
              concat_ws(",", p.dims.sorted.map(d =>
                concat(lit(d + "="), col(d).cast("string"))): _*)
            else lit("nil")
          val baseScope =
            Map("Name" -> nameCol, "Level" -> levelName, "Group" -> groupCol)
          // .id()/.message() Go templates compile to codegen'd concat
          // (AlertTemplates); default id is "{{ .Name }}:{{ .Group }}"
          // (reference pipeline/alert.go:18)
          val idCol2 = prop("id")
            .map(c => graft.functions.AlertTemplates.compile(
              c.args.head.toString, baseScope, tagsCol))
            .getOrElse(concat(nameCol, lit(":"), groupCol))
          p = p.eval("id" -> idCol2)
          val msgScope = baseScope + ("ID" -> col("id"))
          val messageCol = prop("message")
            .map(c => graft.functions.AlertTemplates.compile(
              c.args.head.toString, msgScope, tagsCol))
            .getOrElse(concat(col("id"), lit(" is "), levelName))
          p = p.eval("message" -> messageCol)
          // .category() / .inhibit(category, equalTags...) become metadata
          // columns the caller routes through AlertTopics (fanOut /
          // applyInhibitors) — the engine computes, the topic bus delivers
          prop("category").foreach(c =>
            p = p.eval("alert_category" -> lit(c.args.head.toString)))
          val inhibits = n.props.filter(_.name == "inhibit")
          if (inhibits.nonEmpty)
            p = p.eval("inhibits" -> array(inhibits.map(c => struct(
              lit(c.args.head.toString).as("category"),
              typedlit(c.args.tail.map(_.toString)).as("equal_tags"))): _*))
          if (prop("stateChangesOnly").isDefined) p = p.changeDetect("level")
          // handler chains: ordered prop scan — a handler prop opens a
          // group, its known sub-props (checked FIRST, so opsGenie2's
          // .teams() is not mistaken for the teams handler) configure it;
          // each group renders one payload_<handler> column via the
          // AlertHandlers formatter
          p = attachHandlerPayloads(p, n.props, levelName, tagsCol, baseScope)
          st = St(p, st.bucketed)
        case "query" =>
          // batch |query('SELECT fn(field) FROM "db"."rp".measurement'):
          // the InfluxQL SELECT subset the reference's examples use —
          // aggregate + measurement, .groupBy(time(d), dims…), .fill(v).
          val sql = n.args.head.toString
          // task-start validation (reference task.go/batch.go via
          // TestBatch_InvalidQuery, batcher_test.go:64-101): the query must
          // be exactly one SELECT — a second statement or a DDL verb is a
          // loud task error, never silently dropped
          val stmts = sql.split(";").map(_.trim).filter(_.nonEmpty)
          if (stmts.length != 1) throw new IllegalArgumentException(
            s"query must be a single select statement, got ${stmts.length} statements")
          if (!stmts.head.toUpperCase.startsWith("SELECT"))
            throw new IllegalArgumentException(
              s"""query is not a select statement "${stmts.head}"""")
          val measurement = "(?i)FROM\\s+(\\S+)".r.findFirstMatchIn(sql)
            .map(_.group(1).split('.').last.replaceAll("\"", ""))
            .getOrElse(throw new IllegalArgumentException(s"query needs FROM: $sql"))
          var p = st.pipe.where(col(measurementCol) === lit(measurement))
          // WHERE tag = 'v' [AND ...] — the equality-conjunction subset the
          // examples corpus uses. Anything else (OR, !=, range comparisons,
          // functions) would silently change semantics if dropped or
          // AND-chained, so the clause must REDUCE to nothing once the
          // recognized equalities and ANDs are removed — quoted values are
          // consumed whole, so literals containing 'or'/'!=' can't trip it
          val neqRe = "\"?([\\w.]+)\"?\\s*(?:!=|<>)\\s*'([^']*)'".r
          val eqRe = "\"?([\\w.]+)\"?\\s*=\\s*'([^']*)'".r
          // (?s): InfluxQL queries span lines — the clause must still be
          // found (and validated) when WHERE and GROUP BY sit on
          // different lines
          "(?is)WHERE\\s+(.*?)(?:GROUP\\s+BY|ORDER\\s+BY|$)".r.findFirstMatchIn(sql)
            .foreach { m =>
              val clause = m.group(1)
              // inequalities first: their tail would otherwise half-match
              // as an equality
              val afterNeq = neqRe.replaceAllIn(clause, " ")
              val residue = eqRe.replaceAllIn(afterNeq, " ")
                .replaceAll("(?i)\\bAND\\b", " ")
                .replaceAll("[()]", " ").trim // parenthesized conjunctions are fine
              require(residue.isEmpty,
                s"query WHERE supports only AND-ed (in)equality filters, got: $clause")
              neqRe.findAllMatchIn(clause)
                .foreach(ne => p = p.where(col(ne.group(1)) =!= lit(ne.group(2))))
              eqRe.findAllMatchIn(afterNeq)
                .foreach(eq => p = p.where(col(eq.group(1)) === lit(eq.group(2))))
            }
          var bucketSecs: Option[Long] = None
          prop("groupBy").foreach(_.args.foreach {
            case FnArg("time", ds) if ds.nonEmpty => bucketSecs = Some(num(ds.head).toLong)
            case "*" => p = p.groupByStar()
            case s: String => p = p.groupBy((p.dims :+ s): _*)
            case _ => ()
          })
          // no groupBy(time(d)): each batch is one aggregation window of
          // .period(p) width emitted every .every(e) (batch.go). Disjoint
          // batches (p == e) bucket tumbling; overlapping batches (p > e)
          // render as the sliding window generator keyed on the window end
          // — each emission aggregates the full trailing period.
          var slid = false
          if (bucketSecs.isEmpty) {
            val periodS = prop("period").map(c => num(c.args.head).toLong)
            val everyS = prop("every").map(c => num(c.args.head).toLong)
            (periodS, everyS) match {
              case (Some(pd), Some(ev)) if pd != ev =>
                p = p.copy(df = p.windowSliding(pd, ev).df
                  .withColumn("bucket_s", col("wend_s"))
                  .drop("wstart_s", "wend_s"))
                slid = true
                bucketSecs = Some(ev)
              case (pd, ev) => bucketSecs = pd.orElse(ev)
            }
          }
          if (!slid) bucketSecs.foreach(bs => p = p.windowTumbling(bs))
          // SELECT list: `fn(field) [AS alias]`, `expr op fn(field) AS alias`,
          // a bare field list, or `*` (raw pass-through — no aggregation)
          val selectSrc = "(?i)SELECT\\s+(.*?)\\s+FROM".r.findFirstMatchIn(sql)
            .map(_.group(1).trim)
            .getOrElse(throw new IllegalArgumentException(s"query needs SELECT: $sql"))
          val aggRe = "(?i)(?:(\\d+(?:\\.\\d+)?)\\s*-\\s*)?(\\w+)\\(\"?(\\w+)\"?\\)(?:\\s+AS\\s+\"?(\\w+)\"?)?".r
          val aggMatches = aggRe.findAllMatchIn(selectSrc).toList
          if (aggMatches.nonEmpty) {
              // residue validation, mirroring the WHERE clause: strip each
              // recognized `fn(field) [AS alias]` term; anything left beyond
              // commas/whitespace would otherwise be computed by InfluxDB
              // but silently dropped here → reject loudly
              val residue = aggMatches.foldLeft(selectSrc)((s, m) => s.replace(m.matched, ""))
              require(residue.matches("[\\s,]*"),
                s"unsupported SELECT term(s) '${residue.trim}' in: $sql")
              val keys = p.dims ++ bucketSecs.map(_ => "bucket_s").toSeq
              // default aliases repeat per InfluxDB's mean, mean_1, … rule
              val seen = scala.collection.mutable.Map.empty[String, Int]
              val aliased = aggMatches.map { m =>
                val fn = m.group(2).toLowerCase
                val field = m.group(3)
                val alias0 = Option(m.group(4)).getOrElse(fn)
                val n = seen.getOrElse(alias0, 0)
                seen(alias0) = n + 1
                val alias = if (n == 0) alias0 else s"${alias0}_$n"
                val agg0 = fn match {
                  case "sum" => sum(col(field))
                  case "mean" => avg(col(field))
                  case "count" => count(lit(1))
                  case "min" => min(col(field))
                  case "max" => max(col(field))
                  case other => throw new IllegalArgumentException(s"unsupported query agg $other")
                }
                // `100 - mean(f) AS stat` prefix arithmetic
                alias -> Option(m.group(1)).map(c => lit(c.toDouble) - agg0).getOrElse(agg0)
              }
              val aggCols = aliased.map { case (a, c) => c.as(a) }
              var out = p.df.groupBy(keys.map(col): _*).agg(aggCols.head, aggCols.tail: _*)
              // fill(v): complete per-group bucket axis, constant for gaps
              prop("fill").foreach { c =>
                bucketSecs.foreach { bs =>
                  val range = out.agg(min(col("bucket_s")).as("b0"), max(col("bucket_s")).as("b1"))
                    .select(explode(sequence(col("b0"), col("b1"), lit(bs))).as("bucket_s"))
                  val groups = out.select(p.dims.map(col): _*).distinct()
                  out = aliased.map(_._1).foldLeft(
                    groups.crossJoin(range)
                      .join(out, (p.dims :+ "bucket_s").toSeq, "left")) {
                    (d, a) => d.withColumn(a, coalesce(col(a), lit(scalarArg(c.args.head))))
                  }
                }
              }
              // aggregate points carry the bucket time (see aggCall)
              if (!out.columns.contains(p.timeCol) && out.columns.contains("bucket_s"))
                out = out.withColumn(p.timeCol, timestamp_seconds(col("bucket_s")))
              st = St(p.copy(df = out, idCol = p.idCol.filter(out.columns.contains)),
                bucketed = bucketSecs.isDefined)
          } else {
              // raw selection: `*` keeps every column; a field list prunes
              // to (time, dims, fields) — no aggregation, rows pass through
              val out =
                if (selectSrc == "*") p.df
                else {
                  val fields = selectSrc.split(",").map(_.trim.stripPrefix("\"").stripSuffix("\""))
                  val keep = (Seq(p.timeCol) ++ p.dims ++ p.idCol.toSeq ++
                    Seq("bucket_s") ++ fields).distinct
                    .filter(p.df.columns.contains)
                  p.df.select(keep.map(col): _*)
                }
              st = St(p.copy(df = out), bucketed = bucketSecs.isDefined)
          }
          () // end SELECT dispatch
        case "join" =>
          // join(o1, o2, ...).as('n0', 'n1', ...)[.tolerance(d)][.fill(v)]:
          // equi-join on (dims, bucket) — or (dims, tolerance-rounded time)
          // for unbucketed streams — with name-prefixed fields (reference
          // join.go prefix semantics, pipeline/join.go:120-150 fill);
          // the receiving chain is the first frame
          val others = n.args.map(a => vars.getOrElse(a.toString,
            throw new IllegalArgumentException(s"join of unknown var $a")))
          val names = prop("as").map(_.args.map(_.toString))
            .getOrElse((0 to others.size).map(i => s"s$i"))
          require(names.size == others.size + 1, "join .as() needs one name per side")
          val fill = prop("fill").map(_.args.head)
          val delim = prop("delimiter").map(_.args.head.toString).getOrElse(".")
          val tolSecs = prop("tolerance").map(c => num(c.args.head))
          val timeKeyed = !st.bucketed
          // .on(dims…): subset-dimension join — sides match on the named
          // tags; each side's FINER dims ride through unprefixed (they are
          // the output point's tags, reference join.go:157-238)
          val onDims = prop("on").map(_.args.map(_.toString))
          val keys = onDims.getOrElse(st.pipe.dims) ++
            (if (st.bucketed) Seq("bucket_s") else Seq("__jt"))
          def prefixed(s2: St, nm: String) = {
            val d0 = s2.pipe.df
            // Go time.Round: half away from zero; exact time when no tolerance
            val d = if (!timeKeyed) d0 else d0.withColumn("__jt", tolSecs match {
              case Some(t) => (floor(unix_micros(col(timeCol)) / lit(1000000.0) / t + lit(0.5)) * t).cast("long")
              case None    => unix_micros(col(timeCol))
            })
            val passDims = if (onDims.isDefined) s2.pipe.dims.filterNot(keys.contains) else Nil
            val dataCols = d.columns.filterNot(c =>
              keys.contains(c) || passDims.contains(c) || (timeKeyed && c == timeCol))
            d.select((keys ++ passDims).map(col) ++ dataCols.map(c => col(c).as(s"$nm$delim$c")): _*)
          }
          val frames = (st +: others).zip(names).map { case (s2, nm) => prefixed(s2, nm) }
          val how = if (fill.isDefined) "full_outer" else "inner"
          val joined0 = frames.reduce((a, b) => a.join(b, keys, how))
          val joined = fill match {
            case Some(v: java.lang.Double) =>
              // fill(value) patches missing *fields*; tags/measurement of an
              // absent side stay null (the reference has no point to copy)
              val numeric = joined0.schema.fields.collect {
                case f if f.dataType.isInstanceOf[org.apache.spark.sql.types.NumericType] => f.name
              }.toSet
              joined0.select(joined0.columns.map(c =>
                if (!keys.contains(c) && numeric(c))
                  coalesce(col(s"`$c`"), lit(v.doubleValue)).as(c)
                else col(s"`$c`")): _*)
            case _ => joined0 // fill('null') / absent
          }
          st = St(st.pipe.copy(df = joined), st.bucketed)
        case "union" =>
          // union(o1, o2, ...): merge streams by name (reference union.go)
          val others = n.args.map(a => vars.getOrElse(a.toString,
            throw new IllegalArgumentException(s"union of unknown var $a")))
          st = St(st.pipe.union(others.map(_.pipe): _*), st.bucketed)
        case "deadman" =>
          // deadman(threshold, interval) macro (reference
          // pipeline/node.go:282-312): zero-filled interval throughput
          // with CRITICAL at or below the threshold
          val threshold = num(n.args(0)).toLong
          val interval = num(n.args(1)).toLong
          val groupCol = st.pipe.dims.headOption.getOrElse(
            throw new IllegalArgumentException("deadman needs a grouped stream"))
          val withTus = st.pipe.df.withColumn("__tus", unix_micros(col(timeCol)))
          st = St(st.pipe.copy(df = graft.operators.Deadman.deadman(
            withTus, "__tus", groupCol, interval, threshold)), bucketed = false)
        case "httpOut" | "httpPost" | "influxDBOut" | "log" | "kapacitorLoopback"
           | "noOp" | "noop" | "trickle" | "barrier" => () // terminal/diagnostic/representation; rendering/writing is the caller's
        case "queryFlux" =>
          // batch|queryFlux('<query text>') (pipeline/batch.go:367-430;
          // fluxquery.go:1-35): the reference never parses Flux — it ships
          // the text verbatim to the remote engine on a schedule (period/
          // every/align/cron/offset). The Spark-native analog ships the
          // text to Catalyst: the chain's frame is registered as
          // `__source` (with an epoch-µs `time_us`), and the SCHEDULE is
          // materialized as a `__windows` view (tick_us, start_us,
          // stop_us — one row per tick, window [tick-offset-period,
          // tick-offset)) the query joins. Scheduling-as-data keeps a
          // 100 TB backfill ONE optimized query with the time predicate
          // pushed down, instead of one remote query per tick; replay
          // bounds come from the observed data range, the same
          // convention the golden replay harness drives query() with.
          val fluxSql = n.args.head.toString
          val fStmts = fluxSql.split(";").map(_.trim).filter(_.nonEmpty)
          if (fStmts.length != 1) throw new IllegalArgumentException(
            s"queryFlux must be a single statement, got ${fStmts.length} statements")
          val fHead = fStmts.head.toUpperCase
          if (!fHead.startsWith("SELECT") && !fHead.startsWith("WITH"))
            throw new IllegalArgumentException(
              s"""queryFlux is not a select statement "${fStmts.head}"""")
          require(!(prop("every").isDefined && prop("cron").isDefined),
            "queryFlux: .every() and .cron() are mutually exclusive")
          // the reference's TestBatch_Flux script sets only .every(1s) —
          // a Flux script owns its own range(), so period defaults to the
          // tick interval when omitted (window = one tick)
          val fPeriod = prop("period").map(c => num(c.args.head).toLong)
            .orElse(prop("every").map(c => num(c.args.head).toLong))
            .getOrElse(throw new IllegalArgumentException(
              "queryFlux requires .period() (or .every() to default it)"))
          val fOffset = prop("offset").map(c => num(c.args.head).toLong).getOrElse(0L)
          val fTicker: graft.operators.BatchScheduler.Ticker =
            prop("cron")
              .map(c => graft.operators.BatchScheduler.CronTicker(c.args.head.toString): graft.operators.BatchScheduler.Ticker)
              .getOrElse {
                val ev = prop("every").map(c => num(c.args.head).toLong).getOrElse(
                  throw new IllegalArgumentException("queryFlux requires .every() or .cron()"))
                graft.operators.BatchScheduler.EveryTicker(ev, prop("align").isDefined)
              }
          val sp = st.pipe.df.sparkSession
          import sp.implicits._
          // the replay-bounds min/max below is a batch job; on a
          // streaming frame it would surface as Spark's generic
          // "streaming sources must be executed with writeStream" —
          // refuse with the actual reason and the supported path
          require(!st.pipe.df.isStreaming,
            "queryFlux compiles its schedule from the source's observed " +
              "time range (the batch replay convention) and cannot run on " +
              "a streaming frame; run the flux SQL over a batch source, or " +
              "express the pipeline with stream|from() nodes")
          val fSrc = st.pipe.df
            .withColumn("time_us", unix_micros(col(st.pipe.timeCol)))
          // Replay-bounds convention: the observed data range seeds the
          // schedule (one eager min/max job at compile — same contract the
          // golden replay harness drives query() with). An EMPTY source
          // schedules zero batches, like the reference looping over an
          // empty tick range — the query still compiles and yields an
          // empty frame with its own schema (the min/max agg row exists
          // but holds nulls, so no require / no throw).
          val mm = fSrc.agg(min("time_us"), max("time_us")).head
          val fTicks =
            if (mm.isNullAt(0)) Seq.empty[(Long, Long, Long)]
            else {
              val fStart = Math.floorDiv(mm.getLong(0), 1000000L)
              val fStop = Math.floorDiv(mm.getLong(1), 1000000L) + 1
              graft.operators.BatchScheduler
                .queries(fTicker, fStart, fStop, fPeriod, fOffset)
            }
          // The public contract names the views `__source`/`__windows`,
          // but registering those literally is session-global state — two
          // scripts compiling in one SparkSession would clobber each
          // other. Register per-compile unique names, rewrite the query
          // text to them, and drop both right after sql() (analysis is
          // eager, so the resolved plan no longer needs the catalog).
          val fTag = fluxViewCounter.incrementAndGet()
          val srcView = s"__graft_flux_source_$fTag"
          val winView = s"__graft_flux_windows_$fTag"
          val rewritten = fluxSql
            .replaceAll("\\b__source\\b", srcView)
            .replaceAll("\\b__windows\\b", winView)
          fSrc.createOrReplaceTempView(srcView)
          fTicks.map { case (t, a, b) => (t * 1000000L, a * 1000000L, b * 1000000L) }
            .toDF("tick_us", "start_us", "stop_us")
            .createOrReplaceTempView(winView)
          val fluxDf =
            try sp.sql(rewritten)
            finally {
              sp.catalog.dropTempView(srcView)
              sp.catalog.dropTempView(winView)
            }
          st = St(st.pipe.copy(df = fluxDf, dims = Nil, idCol = None),
            bucketed = false)
        case an @ ("k8sAutoscale" | "swarmAutoscale" | "ec2Autoscale") =>
          // The shared autoscale engine (autoscale.go:32-411) behind all
          // three DSL nodes (pipeline/k8s_autoscale.go & siblings):
          // replicas lambda per point → clamp → cooldown FSM → {old,new}
          // scale events. The FSM itself is streaming/AutoscaleStream;
          // here the lambda compiles to a column evaluated BEFORE the
          // fold, so `.currentField()` (a lambda reading FSM state) needs
          // the engine API instead and is refused loudly. Without a
          // cluster client there is no live first-sight replica query —
          // resources seed at `min` (documented deviation; inject
          // initialReplicas via AutoscaleStream for full fidelity).
          require(prop("currentField").isEmpty,
            s"$an.currentField() binds the live replica count into the lambda, " +
              "which is FSM state; use graft.streaming.AutoscaleStream with a " +
              "replicas(value, current) function instead")
          val replExpr = prop("replicas").map(_.args.head).getOrElse(
            throw new IllegalArgumentException(s"$an requires .replicas(lambda)"))
          val desired = exprToColumn(asExpr(replExpr)).cast("long")
          // resource identity: fixed name or tag, per-connector prop names
          // (resourceName[Tag] / serviceName[Tag] / groupName[Tag])
          val resCol = Seq("resourceName", "serviceName", "groupName")
            .flatMap(p => prop(p)).headOption
            .map(c => lit(c.args.head.toString))
            .orElse(Seq("resourceNameTag", "serviceNameTag", "groupNameTag")
              .flatMap(p => prop(p)).headOption
              .map(c => col(c.args.head.toString)))
            .getOrElse(throw new IllegalArgumentException(
              s"$an requires a resource name or name tag"))
          val minR = prop("min").map(c => num(c.args.head).toLong).getOrElse(1L)
          val maxR = prop("max").map(c => num(c.args.head).toLong).getOrElse(0L)
          val incCd = prop("increaseCooldown")
            .map(c => (num(c.args.head) * 1000000L).toLong).getOrElse(0L)
          val decCd = prop("decreaseCooldown")
            .map(c => (num(c.args.head) * 1000000L).toLong).getOrElse(0L)
          val sp = st.pipe.df.sparkSession
          import sp.implicits._
          val pts = st.pipe.df.select(
              resCol.cast("string").as("resource"),
              unix_micros(col(st.pipe.timeCol)).as("timeUs"),
              desired.cast("double").as("value"))
            .as[graft.streaming.AutoscaleStream.AutoscalePoint]
          // the autoscaler.Replicas(id) first-sight query: injectable via
          // compile(autoscaleInitial = ...) — the cluster-client seam;
          // without one, resources seed at `min` (documented deviation)
          val cfg = graft.streaming.AutoscaleStream.AutoscaleConfig(
            minR, maxR, incCd, decCd,
            replicas = (v, _) => v.toLong,
            initialReplicas = autoscaleInitial.getOrElse((_: String) => minR))
          val ev = graft.streaming.AutoscaleStream.runBatch(pts, cfg)
            .toDF("resource", "__tus", "old", "new")
            .withColumn(st.pipe.timeCol, timestamp_micros(col("__tus")))
            .drop("__tus")
          st = St(st.pipe.copy(df = ev, dims = Seq("resource"), idCol = None),
            bucketed = false)
        case uname if uname.startsWith("@") =>
          // `|@name()` UDF node (pipeline/udf.go): the registered function
          // receives the chain's frame plus the node's property calls (the
          // reference's declared Init options) and returns the new frame.
          // Dims/grouping ride through untouched — the reference keeps the
          // group assignment of points a UDF emits; a row id does not
          // survive an external process that may emit arbitrary points.
          val fn = udfs(uname.drop(1)) // presence validated at definition
          val out = fn(st.pipe.df, n.props)
          st = St(st.pipe.copy(df = out,
            idCol = st.pipe.idCol.filter(out.columns.contains)), st.bucketed)
        case other => throw new IllegalArgumentException(s"unsupported node $other")
      }
      nodeTap.foreach(_(n, st.pipe))
    }
    st
  }

  /** Alert-node handler chains → payload columns (see the alert case).
    * Unknown handlers are left to the generic webhook; string sub-prop
    * values run through the alert template compiler so reference scripts
    * like `.node('{{ index .Tags "host" }}')` work verbatim. */
  private def attachHandlerPayloads(
      p0: Pipe, props: Seq[Call], levelName: Column,
      tagsCol: Option[Column],
      scope: Map[String, Column]): Pipe = {
    import graft.functions.AlertHandlers
    var p = p0
    // the event-time column: raw time when it survived, else the window
    // bucket the aggregate was emitted at
    val timeUsC: Column =
      if (p0.df.columns.contains(p0.timeCol)) unix_micros(col(p0.timeCol))
      else if (p0.df.columns.contains("bucket_s")) col("bucket_s") * 1000000L
      else lit(0L)
    val handlerSub: Map[String, Set[String]] = Map(
      "post" -> Set("endpoint", "header", "captureResponse", "timeout", "skipSSLVerification"),
      "slack" -> Set("channel", "username", "iconEmoji", "workspace"),
      "victorOps" -> Set("routingKey"),
      "telegram" -> Set("chatId", "parseMode", "disableNotification", "disableWebPagePreview"),
      "teams" -> Set("channelURL"),
      "discord" -> Set("username", "workspace", "embedTitle", "timestamp"),
      "opsGenie2" -> Set("teams", "recipients", "recoveryAction"),
      "pagerDuty2" -> Set("routingKey", "serviceKey", "link"),
      "serviceNow" -> Set("node", "type", "resource", "metricName", "messageKey", "additionalInfo", "source"),
      "alerta" -> Set("token", "tokenPrefix", "environment", "origin", "resource", "event", "group", "value", "services", "correlated", "attribute", "timeout"),
      "email" -> Set("to"),
      "tcp" -> Set.empty[String],
      "log" -> Set("mode"),
      "exec" -> Set.empty[String])
    // group the ordered prop list
    val groups = scala.collection.mutable.ArrayBuffer.empty[(String, scala.collection.mutable.ArrayBuffer[Call])]
    props.foreach { c =>
      val inCurrentSub = groups.lastOption.exists { case (h, _) =>
        handlerSub.getOrElse(h, Set.empty).contains(c.name) }
      if (inCurrentSub) groups.last._2 += c
      else if (handlerSub.contains(c.name))
        groups += ((c.name, scala.collection.mutable.ArrayBuffer(c)))
      // any other prop is an alert-level prop handled by the alert case
    }
    val scopeWithId = scope + ("ID" -> col("id"))
    // the triggering batch's Result JSON (models.Result) — what handlers
    // with JSONData attach as `data`: the alert row's field columns as a
    // one-point series (alert.go event data; victorops JSONData)
    val metaCols = Set(p0.timeCol, "bucket_s", "wemit_s", "level", "id",
      "message", "alert_category", "inhibits", "tags", "group_id") ++
      p0.dims ++ p0.idCol // the row-id tiebreak is pipeline metadata
    val fieldCols = p0.df.schema.fields
      .map(_.name)
      .filterNot(c => metaCols.contains(c) || c.startsWith("payload_") ||
        c == "measurement")
      .toSeq
    val dataJson = AlertHandlers.rowResultJson(
      scope.getOrElse("Name", lit("")),
      p0.dims.map(d => d -> col(d)),
      timeUsC,
      fieldCols.map(c => c -> col(c)),
      AlertHandlers.fieldJsonFor(p0.df.schema))
    def tpl(v: Any): Column = v match {
      case s: String => graft.functions.AlertTemplates.compile(s, scopeWithId, tagsCol)
      case other => lit(other)
    }
    def sub(g: Seq[Call], name: String): Option[Call] = g.find(_.name == name)
    def subStr(g: Seq[Call], name: String, default: String): String =
      sub(g, name).map(_.args.head.toString).getOrElse(default)
    val seen = scala.collection.mutable.Map.empty[String, Int]
    groups.foreach { case (h, calls) =>
      val g = calls.toSeq.tail // sub-props (head is the handler call itself)
      val head = calls.head
      val idx = seen.updateWith(h)(c => Some(c.getOrElse(0) + 1)).get
      val colName = if (idx == 1) s"payload_$h" else s"payload_${h}_$idx"
      val payload: Column = h match {
        case "post" | "tcp" | "log" | "exec" | "email" =>
          // alert.Data transports: the canonical JSON document; `data` is
          // the nested Result object of the triggering batch
          AlertHandlers.alertData(col("id"), col("message"), lit(""),
            timeUsC, lit(0L), levelName, lit("OK"), lit(true), dataJson)
        case "slack" =>
          AlertHandlers.slack(col("message"), levelName, subStr(g, "channel", "#alerts"))
        case "victorOps" =>
          // OK-level events recover: message_type "RECOVERY", not "OK"
          // (reference services/victorops/service.go:193-200); data is the
          // triggering batch's Result JSON (JSONData, service.go:90-128)
          AlertHandlers.victorops(
            when(col("level") === 0, lit("RECOVERY")).otherwise(levelName),
            col("id"), col("message"), timeUsC / 1000000L, dataJson)
        case "telegram" =>
          AlertHandlers.telegram(
            subStr(g, "chatId", ""), col("message"), subStr(g, "parseMode", ""),
            disableWebPagePreview = sub(g, "disableWebPagePreview").isDefined,
            disableNotification = sub(g, "disableNotification").isDefined)
        case "teams" =>
          AlertHandlers.teams(col("id"), col("message"), levelName)
        case "pagerDuty2" =>
          // .serviceKey() is the backwards-compatible routing-key setter
          // (pipeline/alert.go:1144-1148); explicit routingKey/serviceKey
          // beats the service default "routing_key"
          AlertHandlers.pagerduty(col("id"), col("message"), levelName,
            subStr(g, "serviceKey", subStr(g, "routingKey", "routing_key")))
        case "discord" =>
          AlertHandlers.discord(subStr(g, "username", ""), "",
            subStr(g, "embedTitle", ""), col("message"), levelName)
        case "opsGenie2" =>
          // OK-level events recover: the body is the note-only close
          // payload (services/opsgenie2/service.go:156-176)
          when(col("level") === 0,
            AlertHandlers.opsgenie2Recovery(col("message")))
          .otherwise(AlertHandlers.opsgenie2(
            sub(g, "teams").map(_.args.map(_.toString)).getOrElse(Nil),
            sub(g, "recipients").map(_.args.map(_.toString)).getOrElse(Nil),
            col("message"), col("id"), levelName, lit("{}"),
            scope.getOrElse("Name", lit(""))))
        case "serviceNow" =>
          AlertHandlers.serviceNow(
            subStr(g, "source", "Kapacitor"),
            sub(g, "node").map(c => tpl(c.args.head)).getOrElse(lit("")),
            sub(g, "type").map(c => tpl(c.args.head)).getOrElse(lit("")),
            sub(g, "resource").map(c => tpl(c.args.head)).getOrElse(lit("")),
            sub(g, "metricName").map(c => tpl(c.args.head)).getOrElse(lit("")),
            sub(g, "messageKey").map(c => tpl(c.args.head)).getOrElse(col("id")),
            levelName, col("message"),
            g.filter(_.name == "additionalInfo").map(c =>
              c.args.head.toString -> tpl(c.args(1))))
        case "alerta" =>
          AlertHandlers.alerta(
            resource = sub(g, "resource").map(c => tpl(c.args.head)).getOrElse(scope.getOrElse("Name", lit(""))),
            event = sub(g, "event").map(c => tpl(c.args.head)).getOrElse(col("id")),
            environment = sub(g, "environment").map(c => tpl(c.args.head)).getOrElse(lit("")),
            level = levelName,
            group = sub(g, "group").map(c => tpl(c.args.head)).getOrElse(lit("")),
            value = sub(g, "value").map(c => tpl(c.args.head)).getOrElse(lit("")),
            text = col("message"),
            origin = sub(g, "origin").map(c => tpl(c.args.head)).getOrElse(lit("Kapacitor")),
            services = sub(g, "services").map(_.args.map(tpl)).getOrElse(Nil),
            correlate = sub(g, "correlated").map(_.args.map(tpl)).getOrElse(Nil),
            timeoutS = sub(g, "timeout").map(c => num(c.args.head).toLong).getOrElse(86400L))
        case other =>
          AlertHandlers.webhook(col("id"), col("message"), levelName,
            timeUsC, lit(0L))
      }
      val _ = head // handler args (URLs, paths) are transport config — caller's
      p = p.eval(colName -> payload)
    }
    p
  }
}
