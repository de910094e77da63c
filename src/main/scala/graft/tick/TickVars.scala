package graft.tick

import graft.tick.TickJson.{JArr, JBool, JFloat, JInt, JNull, JObj, JStr, JV, obj, writeCompact}

/** The template-vars API surface — the `vars` field of template (and
  * task) GET responses: every var a TICKscript defines or declares,
  * typed as the client wire shape `{"type": t, "value": v,
  * "description": d}` (client/v1/client.go:825 Var, client/API.md §vars,
  * task_store service.go:1260-1320 convertToClientVarFromTick).
  *
  * Laws matched:
  *  - types are bool/int/float/string/regex/duration/lambda/list/star
  *    (tick/eval.go:275-297); a `var x = <literal>` infers its type,
  *    a `var x int` declaration carries the type with a null value;
  *  - the description is the comment block directly above the `var`
  *    statement (tick/eval.go:301-309 node.Comment.CommentString);
  *  - durations are int64 nanos, lambdas are the rendered expression
  *    text (ast LambdaNode.ExpressionString), star renders as "",
  *    lists are arrays of {type, value} string/star elements, regex is
  *    the pattern source (client/API.md vars value table);
  *  - computed rhs (constant arithmetic, references to earlier vars)
  *    resolve to their evaluated value, typed by the result — the
  *    reference evaluates the script and calls ast.TypeOf on the value
  *    (tick/eval.go:386-399);
  *  - vars whose value is a pipeline chain are NOT vars in the API
  *    (ast.TypeOf yields InvalidType → skipped).
  */
object TickVars {

  /** One var as the client API renders it. `value` is None for a
    * declared-but-unbound template var (JSON null). */
  final case class Var(tpe: String, value: Option[Any], description: String)

  /** All vars of a script in declaration order. */
  def vars(script: String): Seq[(String, Var)] = {
    val sem = TickScript.parse(script)
    val syn = TickFormat.synVars(script)

    // semantic fallback for computed rhs: the compiler's own scope fold
    // (constant arithmetic + var-reference chasing), then type by the
    // evaluated value like ast.TypeOf
    def semVar(name: String): Option[Var] =
      sem.defaults.get(name).flatMap { raw =>
        TickScript.resolveScopeVal(raw, sem.defaults, Set(name)) match {
          case b: Boolean => Some(Var("bool", Some(b), ""))
          case l: Long => Some(Var("int", Some(l), ""))
          case d: Double => Some(Var("float", Some(d), ""))
          case s: String => Some(Var("string", Some(s), ""))
          case TickScript.Dur(s) =>
            Some(Var("duration", Some(math.round(s * 1e9)), ""))
          // a var ALIASING a lambda or list resolves to the value here —
          // ast.TypeOf yields TLambda/TList (valid types), so it stays a
          // var in the API; only chain-valued vars fall through to None
          case e: TickScript.Expr => Some(Var("lambda", Some(exprString(e)), ""))
          case items: Seq[_] => Some(Var("list", Some(listVal(items)), ""))
          case _ => None // pipeline chains (ast.TypeOf InvalidType)
        }
      }

    syn.flatMap { sv =>
      val v: Option[Var] = (sv.declaredType, sv.tpe) match {
        case (Some(t), _) => Some(Var(t, None, sv.description))
        case (None, Some(t)) => Some(Var(t, sv.value, sv.description))
        case (None, None) => semVar(sv.name).map(_.copy(description = sv.description))
      }
      v.map(sv.name -> _)
    }
  }

  /** The vars map as the API's JSON object (key order = declaration
    * order; Go maps are unordered, so byte-for-byte key order is not a
    * reference law — the per-var object shape is). */
  def varsJson(script: String): String = writeCompact(varsObj(vars(script)))

  /** Vars as the wire object the task and template GET documents embed. */
  def varsObj(vs: Seq[(String, Var)]): JObj =
    JObj(vs.map { case (name, v) => name -> varJson(v) })

  private def varJson(v: Var): JV = {
    val value = v.value match {
      case None => JNull
      case Some(b: Boolean) => JBool(b)
      case Some(l: Long) => JInt(l)
      case Some(d: Double) => JFloat(d)
      case Some(items: Seq[_]) =>
        JArr(items.map {
          case (t: String, value: Any) => obj("type" -> JStr(t), "value" -> JStr(value.toString))
          case other => JStr(other.toString)
        })
      case Some(other) => JStr(other.toString)
    }
    obj("type" -> JStr(v.tpe), "value" -> value, "description" -> JStr(v.description))
  }

  // ---------------------------------------------------- bound task vars

  /** Render the BOUND vars of a template-instance task (the `vars`
    * field of a task GET, mirroring the vars-file input shape the load
    * service reads — client.TaskVars). `declared` supplies the
    * template's `var x <type>` declarations so regex/star/lambda typing
    * survives the runtime representation; values fall back to typing by
    * runtime class. Ordered by name (Go map order is not a law). */
  def boundVars(vars: Map[String, Any],
      declared: Map[String, String] = Map.empty): Seq[(String, Var)] =
    vars.toSeq.sortBy(_._1).map { case (name, value) =>
      name -> boundVar(value, declared.get(name))
    }

  private def listVal(items: Seq[_]): Seq[(String, Any)] = items.map {
    case "*" => "star" -> ""
    case s: String => "string" -> s
    case other => "string" -> other.toString
  }

  private def boundVar(value: Any, declaredType: Option[String]): Var = {
    (declaredType, value) match {
      case (Some("regex"), s: String) => Var("regex", Some(s), "")
      case (Some("star"), _) => Var("star", Some(""), "")
      case (Some("lambda"), e: TickScript.Expr) =>
        Var("lambda", Some(exprString(e)), "")
      case (_, e: TickScript.Expr) => Var("lambda", Some(exprString(e)), "")
      case (_, items: Seq[_]) => Var("list", Some(listVal(items)), "")
      case (_, TickScript.Dur(sec)) =>
        Var("duration", Some(math.round(sec * 1e9)), "")
      case (_, b: Boolean) => Var("bool", Some(b), "")
      case (_, l: Long) => Var("int", Some(l), "")
      case (_, i: Int) => Var("int", Some(i.toLong), "")
      case (_, d: Double) => Var("float", Some(d), "")
      case (_, "*") => Var("star", Some(""), "")
      case (_, s: String) => Var(declaredType.getOrElse("string"), Some(s), "")
      case (_, other) => Var("string", Some(String.valueOf(other)), "")
    }
  }

  // -------------------------------------------------- lambda rendering

  private val prec = Map("OR" -> 0, "AND" -> 1,
    "==" -> 2, "!=" -> 2, "=~" -> 2, "!~" -> 2,
    ">" -> 3, ">=" -> 3, "<" -> 3, "<=" -> 3,
    "+" -> 4, "-" -> 4, "*" -> 5, "/" -> 5, "%" -> 5)

  /** Render a compiled lambda Expr back to TICKscript text (the
    * LambdaNode.ExpressionString analog for BOUND vars, whose source
    * text the compiler did not keep). Canonical minimal-parens form:
    * parentheses appear exactly where precedence requires them, so a
    * round-trip through the parser preserves semantics; byte-parity
    * with a source that carried redundant parens is not promised. */
  def exprString(e: TickScript.Expr): String = renderE(e, 0)

  private def renderE(e: TickScript.Expr, min: Int): String = e match {
    case TickScript.EField(n) => "\"" + n + "\""
    case TickScript.EVar(n) => n
    case TickScript.ENeg(x) => "-" + renderE(x, 6)
    case TickScript.EFn(n, args) =>
      n + "(" + args.map(renderE(_, 0)).mkString(", ") + ")"
    case TickScript.ELit(v) => litString(v)
    case TickScript.EBin(op, l, r) =>
      val p = prec.getOrElse(op, 0)
      val rhs = r match {
        // the rhs of a regex match is a regex literal, not a string
        case TickScript.ELit(s: String) if op == "=~" || op == "!~" =>
          "/" + s.replace("/", "\\/") + "/"
        case _ => renderE(r, p + 1)
      }
      val out = renderE(l, p) + " " + op + " " + rhs
      if (p < min) "(" + out + ")" else out
  }

  private def litString(v: Any): String = v match {
    case s: String => "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"
    case b: Boolean => if (b) "TRUE" else "FALSE"
    case l: Long => l.toString
    case i: Int => i.toString
    case d: Double =>
      val s = graft.sources.Replay.lineFloat(d)
      if (s.contains('.') || s.contains('e') || s.contains("Inf") || s == "NaN") s
      else s + ".0"
    case TickScript.Dur(sec) => TickJson.formatDuration(math.round(sec * 1e9))
    case other => String.valueOf(other)
  }
}
