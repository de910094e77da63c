package graft.tick

/** Dynamic config-override resolution as data — the semantics of
  * `services/config/override/override.go` (the pure 796-LoC core of the
  * config service) with the Go-reflection walk replaced by an explicit
  * schema: a config is a map of named sections, each a list of elements
  * (single-struct sections are one-element lists), and an override is a
  * (section, element, options, delete, create) record applied with the
  * reference's laws:
  *
  *  - Override.Validate (override.go:51-68): section required; delete
  *    needs an element; create must NOT name an element (the key rides
  *    in options); delete excludes options and create.
  *  - weak value copy (:349-473): same-kind copies directly (recursing
  *    into maps/lists), numeric destinations accept any numeric or a
  *    parseable string, string destinations accept strings; anything
  *    else errors with the option name.
  *  - element keys cannot be overridden except at create (:229-231);
  *    created elements start from the section's Init defaults (:268-271)
  *    and must receive a string element key via options (:278-297).
  *  - unknown options error with their names (:134-137); unknown
  *    sections error (:140-142); per-section validators run on the
  *    modified element (:143-148).
  *  - the result maps every section (overridden or not) to its elements
  *    sorted by element id (:652-682); single-struct sections carry the
  *    empty element id.
  *  - Redacted (:518-525): option maps with `redact`-tagged fields
  *    replaced by a non-zero boolean, plus the redacted-name list.
  */
object ConfigOverride {

  /** One declared option: its name, whether it redacts, and its zero
    * value (the Go zero of its type — "" for strings, 0L for int64s …),
    * used when creating elements. */
  final case class OptionSpec(
      name: String, redact: Boolean = false, zero: Any = "")

  /** One section's schema. `elementKey` marks a list section (the
    * element-key= struct tag); `init` is the Initer default applied to
    * created elements; `validate` the element's Validator. */
  final case class SectionSpec(
      name: String,
      options: Seq[OptionSpec],
      elementKey: Option[String] = None,
      init: Map[String, Any] = Map.empty,
      validate: Map[String, Any] => Option[String] = _ => None)

  /** services/config Override (override.go:34-48). */
  final case class Override(
      section: String,
      element: String = "",
      options: Map[String, Any] = Map.empty,
      delete: Boolean = false,
      create: Boolean = false) {

    /** Override.Validate (override.go:51-68). */
    def validate: Option[String] =
      if (section.isEmpty) Some("section cannot be empty")
      else if (delete && element.isEmpty)
        Some("element cannot be empty if deleting an element")
      else if (create && element.nonEmpty)
        Some("element must be empty if creating an element, set the element key value via the options")
      else if (delete && options.nonEmpty)
        Some("cannot delete an element and provide options in the same override")
      else if (delete && create)
        Some("cannot create and delete an element in the same override")
      else None
  }

  type Element = Map[String, Any]

  class OverrideException(msg: String) extends IllegalArgumentException(msg)
  private def fail(msg: String): Nothing = throw new OverrideException(msg)

  /** weakCopyValue (override.go:349-473): the existing value's type is
    * the destination kind; numbers convert weakly, numeric destinations
    * parse strings, same-kind containers copy recursively. */
  private[tick] def weakCopy(name: String, dst: Any, src: Any): Any = (dst, src) match {
    case (_: Long, v: Long) => v
    case (_: Long, v: Int) => v.toLong
    case (_: Long, v: Double) => v.toLong
    case (_: Long, v: String) =>
      try v.toLong
      catch { case _: Exception => fail(s"cannot set option $name: cannot convert string \"$v\" into int64") }
    case (_: Int, v: Long) => v.toInt
    case (_: Int, v: Int) => v
    case (_: Int, v: Double) => v.toInt
    case (_: Int, v: String) =>
      try v.toLong.toInt
      catch { case _: Exception => fail(s"cannot set option $name: cannot convert string \"$v\" into int") }
    case (_: Double, v: Double) => v
    case (_: Double, v: Long) => v.toDouble
    case (_: Double, v: Int) => v.toDouble
    case (_: Double, v: String) =>
      try v.toDouble
      catch { case _: Exception => fail(s"cannot set option $name: cannot convert string \"$v\" into float64") }
    case (_: Boolean, v: Boolean) => v
    case (_: String, v: String) => v
    case (d: Map[_, _], v: Map[_, _]) =>
      // new map, recursively copied against the destination's value shape
      val proto = d.asInstanceOf[Map[String, Any]].values.headOption
      v.asInstanceOf[Map[String, Any]].map { case (k, sv) =>
        k -> proto.map(p => weakCopy(name, p, sv)).getOrElse(sv)
      }
    case (d: Seq[_], v: Seq[_]) =>
      val proto = d.headOption
      v.map(sv => proto.map(p => weakCopy(name, p, sv)).getOrElse(sv))
    case (d, v) =>
      fail(s"cannot set option $name: wrong kind ${kindOf(v)}, expected value of kind ${kindOf(d)}")
  }

  private def kindOf(v: Any): String = v match {
    case _: Long | _: Int => "int64"
    case _: Double => "float64"
    case _: Boolean => "bool"
    case _: String => "string"
    case _: Map[_, _] => "map"
    case _: Seq[_] => "slice"
    case other => String.valueOf(other)
  }

  private def applyOptions(
      spec: SectionSpec,
      element: Element,
      o: Override): Element = {
    var out = element
    var used = Set[String]()
    for ((k, v) <- o.options) {
      // field-name lookup falls back to lowercase (override.go:223-227)
      val key =
        if (out.contains(k)) Some(k)
        else if (out.contains(k.toLowerCase)) Some(k.toLowerCase)
        else None
      key match {
        case Some(name) =>
          if (!o.create && spec.elementKey.contains(name))
            fail(s"cannot override element key $name")
          out = out.updated(name, weakCopy(name, out(name), v))
          used += k
        case None => ()
      }
    }
    val unused = o.options.keySet -- used
    if (unused.nonEmpty)
      fail(s"unknown options ${unused.toSeq.sorted.mkString("[", " ", "]")} in section ${o.section}")
    spec.validate(out).foreach(m => fail(s"failed validation: $m"))
    out
  }

  /** OverrideConfig (override.go:98-121): apply all overrides to a copy
    * and return EVERY section, elements sorted by element id. Throws
    * [[OverrideException]] with the reference's message shapes. */
  def overrideConfig(
      schema: Seq[SectionSpec],
      config: Map[String, Seq[Element]],
      os: Seq[Override]): Map[String, Seq[Element]] = {
    val specs = schema.map(s => s.name -> s).toMap
    var state: Map[String, Seq[Element]] =
      schema.map(s => s.name -> config.getOrElse(s.name, Nil)).toMap

    for (o <- os) {
      o.validate.foreach(m => fail(s"invalid override: $m"))
      val spec = specs.getOrElse(o.section, fail(s"unknown section ${o.section}"))
      val elements = state(o.section)
      spec.elementKey match {
        case None =>
          // single-struct section: exactly one element, no delete/create
          if (o.delete || o.create)
            fail(s"section ${o.section} is not a list section")
          if (o.element.nonEmpty) fail(s"unknown section ${o.section}")
          // overrides apply onto the zero struct when the section is
          // absent from the config (the reference's typed config struct
          // always exists), same as the create path's Initer defaults
          val cur = elements.headOption.getOrElse(
            spec.options.map(op =>
              op.name -> spec.init.getOrElse(op.name, op.zero)).toMap)
          state = state.updated(o.section, Seq(applyOptions(spec, cur, o)))
        case Some(key) =>
          if (o.delete) {
            if (!elements.exists(_.get(key).contains(o.element)))
              fail(s"unknown element ${o.element} in section ${o.section}")
            state = state.updated(o.section,
              elements.filterNot(_.get(key).contains(o.element)))
          } else if (o.create) {
            val keyValue = o.options.getOrElse(key,
              fail(s"element key \"$key\" not present in options"))
            keyValue match {
              case _: String => ()
              case other => fail(s"type of element key must be a string, got ${kindOf(other)}")
            }
            // Initer defaults under a zero element (override.go:259-276)
            val zero: Element = spec.options.map { op =>
              op.name -> spec.init.getOrElse(op.name, op.zero)
            }.toMap
            val created = applyOptions(spec, zero, o)
            state = state.updated(o.section, elements :+ created)
          } else {
            val idx = elements.indexWhere(_.get(key).contains(o.element))
            if (idx < 0) fail(s"unknown element ${o.element} in section ${o.section}")
            state = state.updated(o.section,
              elements.updated(idx, applyOptions(spec, elements(idx), o)))
          }
      }
    }

    // sections map sorted by element id (override.go:677-682)
    state.map { case (name, els) =>
      val spec = specs(name)
      name -> spec.elementKey.map(k =>
        els.sortBy(_.get(k).map(String.valueOf).getOrElse(""))).getOrElse(els)
    }
  }

  /** The `/config` GET document (services/config/service.go:485-515 +
    * client.ConfigSections/ConfigSection/ConfigElement): every schema
    * section whose name has the requested prefix, each element rendered
    * REDACTED with its self link (single-struct sections' empty element
    * id folds into the section href, path.Join style); a section with
    * no elements marshals `"elements": null` (the Go nil slice). */
  def configSectionsJson(schema: Seq[SectionSpec],
      config: Map[String, Seq[Element]], sectionPrefix: String = "",
      basePath: String = "/kapacitor/v1"): String = {
    import TickJson._
    def jv(v: Any): JV = v match {
      case null => JNull
      case s: String => JStr(s)
      case b: Boolean => JBool(b)
      case i: Int => JInt(i.toLong)
      case l: Long => JInt(l)
      case d: Double => JFloat(d)
      case m: Map[_, _] =>
        sortedObj(m.toSeq.map { case (k, x) => String.valueOf(k) -> jv(x) })
      case xs: Seq[_] => JArr(xs.map(jv))
      case other => JStr(String.valueOf(other))
    }
    val base = s"$basePath/config"
    val secs = schema.filter(_.name.startsWith(sectionPrefix)).map { spec =>
      val els = config.getOrElse(spec.name, Nil).map { e =>
        val (opts, names) = redacted(spec, e)
        val eid = spec.elementKey
          .flatMap(k => e.get(k).map(String.valueOf)).getOrElse("")
        val href = if (eid.isEmpty) s"$base/${spec.name}"
          else s"$base/${spec.name}/$eid"
        obj(
          "link" -> obj("rel" -> JStr("self"), "href" -> JStr(href)),
          "options" -> sortedObj(opts.toSeq.map { case (k, v) => k -> jv(v) }),
          "redacted" -> (if (names.isEmpty) JNull else JArr(names.map(JStr(_)))))
      }
      spec.name -> obj(
        "link" -> obj("rel" -> JStr("self"),
          "href" -> JStr(s"$base/${spec.name}")),
        "elements" -> (if (els.isEmpty) JNull else JArr(els)))
    }
    write(obj(
      "link" -> obj("rel" -> JStr("self"), "href" -> JStr(base)),
      "sections" -> sortedObj(secs)))
  }

  /** Element.Redacted (override.go:518-525): redact-tagged options map
    * to a non-zero boolean; returns (options, redacted names). */
  def redacted(spec: SectionSpec, element: Element): (Map[String, Any], Seq[String]) = {
    val redactedNames = spec.options.filter(_.redact).map(_.name)
    val opts = element.map { case (k, v) =>
      if (redactedNames.contains(k)) k -> nonZero(v) else k -> v
    }
    (opts, redactedNames)
  }

  private def nonZero(v: Any): Boolean = v match {
    case null => false
    case s: String => s.nonEmpty
    case l: Long => l != 0L
    case i: Int => i != 0
    case d: Double => d != 0.0
    case b: Boolean => b
    case m: Map[_, _] => m.nonEmpty
    case s: Seq[_] => s.nonEmpty
    case _ => true
  }
}
