package graft.pipeline

/** Textual pipeline config → [[Pipeline.PipelineSpec]] — EP1 parity
  * (SURVEY §3): the reference's YAML config resolves to a validated
  * component graph; here a minimal indentation-free config dialect compiles
  * to the typed spec, then [[Pipeline.validate]] applies the same
  * plan-time checks (unknown op / missing param / undefined route).
  *
  * Dialect (one directive per line, `#` comments):
  * {{{
  * pipeline: canonical
  * operator: severity_tag
  * operator: lookup_enrich
  * operator: sample drop_ratio=0.0 condition=true
  * route: sink_errors severity_number >= 17
  * route: sink_tools tool != ''
  * route: sink_default true
  * sink: sink_errors
  * }}}
  */
object PipelineConfig {

  def parse(text: String): Pipeline.PipelineSpec = {
    var name = "pipeline"
    val ops = Seq.newBuilder[Pipeline.OperatorSpec]
    val routes = Seq.newBuilder[Pipeline.RouteSpec]
    val sinks = Seq.newBuilder[String]
    text.linesIterator
      .map(_.trim)
      .filter(l => l.nonEmpty && !l.startsWith("#"))
      .foreach { line =>
        val (key, rest) = line.span(_ != ':')
        val value = rest.drop(1).trim
        key.trim match {
          case "pipeline" => name = value
          case "operator" =>
            val parts = value.split("\\s+").toSeq
            val params = parts.tail.map { kv =>
              kv.split("=", 2) match {
                case Array(k, v) => k -> v
                case _ => throw new IllegalArgumentException(
                  s"operator '${parts.head}': parameter '$kv' is not key=value")
              }
            }.toMap
            ops += Pipeline.OperatorSpec(parts.head, params)
          case "route" =>
            val (rname, pred) = value.span(!_.isWhitespace)
            require(pred.trim.nonEmpty, s"route '$rname' needs a predicate")
            routes += Pipeline.RouteSpec(rname, pred.trim)
          case "sink" => sinks += value
          case other =>
            throw new IllegalArgumentException(s"unknown directive '$other'")
        }
      }
    Pipeline.PipelineSpec(name, ops.result(), routes.result(), sinks.result())
  }

  /** Parse + validate in one step (config errors are plan-time, EP1 step 3). */
  def load(text: String): Pipeline.PipelineSpec =
    Pipeline.validate(parse(text)) match {
      case Right(spec) => spec
      case Left(errs) =>
        throw new IllegalArgumentException(s"invalid config: ${errs.mkString("; ")}")
    }
}
