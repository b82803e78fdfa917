package graft.spec

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}
import scala.jdk.CollectionConverters._

/** Typed model of the reference's 7-section JSON pipeline config
  * (OETLProcessor.java:221-233: `config / begin / source / extractor /
  * transformers / loader / end`). Each component is `{name: {options}}`
  * — the single field name selects the component from the registry
  * (OETLProcessor.java:516-519, OETLComponentFactory.java:195-226).
  *
  * We parse to plain Scala case classes at driver side; the plan builder
  * ([[graft.engine.Engine]]) compiles the spec to ONE lazy DataFrame plan
  * (SURVEY.md §7.1 — inversion of the reference's per-record interpreter).
  */
final case class ComponentSpec(name: String, options: Map[String, Any]) {
  def str(key: String): Option[String] = options.get(key).map(_.toString)
  def strOr(key: String, dflt: String): String = str(key).getOrElse(dflt)
  def bool(key: String, dflt: Boolean): Boolean =
    options.get(key).map(_.toString.toBoolean).getOrElse(dflt)
  def int(key: String, dflt: Int): Int =
    options.get(key).map(_.toString.toDouble.toInt).getOrElse(dflt)
  def long(key: String): Option[Long] = options.get(key).map { v =>
    // integers must not round-trip through Double (values past 2^53
    // would silently lose precision); the Double path is only for
    // decimal-formatted config values
    val s = v.toString
    try s.toLong catch { case _: NumberFormatException => s.toDouble.toLong }
  }
  def list(key: String): Seq[Any] = options.get(key) match {
    case Some(s: Seq[_]) => s
    case Some(other) => Seq(other)
    case None => Nil
  }
  def strList(key: String): Seq[String] = list(key).map(_.toString)
  def map(key: String): Map[String, Any] = options.get(key) match {
    case Some(m: Map[_, _]) => m.asInstanceOf[Map[String, Any]]
    case _ => Map.empty
  }
  /** Common per-component options (OAbstractETLComponent.java:420-432):
    * `if` predicate, `output` variable capture, `log` level. */
  def ifExpr: Option[String] = str("if")
  def outputVar: Option[String] = str("output")
}

final case class PipelineSpec(
    config: Map[String, Any],
    begin: Seq[ComponentSpec],
    source: Option[ComponentSpec],
    extractor: Option[ComponentSpec],
    transformers: Seq[ComponentSpec],
    loader: Option[ComponentSpec],
    end: Seq[ComponentSpec])

object PipelineSpec {
  // The reference parses configs with OrientDB's lenient ODocument JSON
  // (its shipped resources/config*.json use unquoted keys) — accept the
  // same relaxed syntax so those files run verbatim.
  private val mapper = {
    import com.fasterxml.jackson.core.json.JsonReadFeature
    val m = new ObjectMapper()
    m.enable(JsonReadFeature.ALLOW_UNQUOTED_FIELD_NAMES.mappedFeature())
    m.enable(JsonReadFeature.ALLOW_SINGLE_QUOTES.mappedFeature())
    m.enable(JsonReadFeature.ALLOW_JAVA_COMMENTS.mappedFeature())
    m.enable(JsonReadFeature.ALLOW_TRAILING_COMMA.mappedFeature())
    m
  }

  def parse(json: String): PipelineSpec = fromNode(mapper.readTree(json))

  def fromNode(root: JsonNode): PipelineSpec =
    fromMap(toScala(root).asInstanceOf[Map[String, Any]])

  /** Legacy component-name aliases used by the reference's SHIPPED
    * config files (resources/config.json, config-jdbc.json) but absent
    * from its own era's factory (`skip` is not in
    * OETLComponentFactory.java:195-226 — the shipped config is broken
    * in the reference; we implement the documented intent):
    *  - extractor `line` ≡ `row`, with its `path` hoisted to a `file`
    *    source when none is configured (the old extractor owned the
    *    file handle);
    *  - transformer `skip` {expression} ≡ `flow` {operation: skip, if};
    *  - loaders `orientdb_doc`/`orientdb_graph` ≡ `orientdb` with
    *    dbType document/graph (dbURL defaults to a plocal tmp dir when
    *    omitted, as the old loader defaulted its db location). */
  private def normalize(spec: PipelineSpec): PipelineSpec = {
    var source = spec.source
    val extractor = spec.extractor.map { e =>
      if (e.name == "line") {
        if (source.isEmpty && e.options.contains("path"))
          source = Some(ComponentSpec("file",
            e.options.filter { case (k, _) => k == "path" || k == "lock" }))
        ComponentSpec("row", e.options - "path" - "lock")
      } else e
    }
    val transformers = spec.transformers.map { t =>
      if (t.name == "skip")
        ComponentSpec("flow", Map("operation" -> "skip") ++
          t.str("expression").map("if" -> _).toMap)
      else t
    }
    val loader = spec.loader.map { l =>
      if (l.name == "orientdb_doc" || l.name == "orientdb_graph") {
        val dbType = if (l.name == "orientdb_graph") "graph" else "document"
        val url = l.str("dbURL").getOrElse(
          s"plocal:${System.getProperty("java.io.tmpdir")}/graft_odb_default")
        ComponentSpec("orientdb",
          l.options ++ Map("dbType" -> dbType, "dbURL" -> url))
      } else l
    }
    spec.copy(source = source, extractor = extractor,
      transformers = transformers, loader = loader)
  }

  /** The one constructor from parsed config: [[parse]] and [[fromNode]]
    * come here through `toScala`, and so does the nested `etl` stage's
    * inline `pipeline` map. Each component is a map with exactly one key;
    * the legacy aliases are mapped by [[normalize]]. */
  def fromMap(root: Map[String, Any]): PipelineSpec = {
    def component(v: Any): ComponentSpec = v match {
      case m: Map[_, _] if m.size == 1 =>
        ComponentSpec(m.head._1.toString, m.head._2.asInstanceOf[Map[String, Any]])
      case other =>
        throw new IllegalArgumentException(s"component must have exactly one key: $other")
    }
    def comps(name: String): Seq[ComponentSpec] = root.get(name) match {
      case Some(s: Seq[_]) => s.map(component)
      case Some(o) => Seq(component(o))
      case None => Nil
    }
    normalize(PipelineSpec(
      config = root.get("config").map(_.asInstanceOf[Map[String, Any]]).getOrElse(Map.empty),
      begin = comps("begin"),
      source = root.get("source").map(component),
      extractor = root.get("extractor").map(component),
      transformers = comps("transformers"),
      loader = root.get("loader").map(component),
      end = comps("end")))
  }

  private def toScala(n: JsonNode): Any = n match {
    case o: ObjectNode =>
      o.properties().asScala.map(e => e.getKey -> toScala(e.getValue)).toMap
    case a: ArrayNode => a.elements().asScala.map(toScala).toSeq
    case v if v.isTextual => v.asText()
    case v if v.isIntegralNumber => v.asLong()
    case v if v.isNumber => v.asDouble()
    case v if v.isBoolean => v.asBoolean()
    case v if v.isNull => null
    case v => v.asText()
  }
}
