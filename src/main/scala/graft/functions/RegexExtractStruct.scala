package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Single-pass regex struct extraction: evaluates `pattern` ONCE per row and
  * returns a struct of all capture groups, vs N separate `regexp_extract`
  * calls = N regex executions over the same UTF-8 bytes.
  *
  * This is the engine's grok primitive — the equivalent of the stanza
  * `regex_parser` operator's named-capture-groups-to-attributes semantics
  * (used 125× across the reference's plugins, e.g.
  * plugins/nginx_logs.yaml:95-106: one regex application produces every
  * attribute of the record). The compiled `java.util.regex.Pattern` is
  * kernel state, a per-plan reference object, so the match runs inside
  * whole-stage codegen with no virtual dispatch per group.
  *
  * No-match ⇒ null struct (caller maps that to stanza `on_error: drop|send`).
  */
object RegexExtractStruct {

  /** The compiled pattern; compares by pattern text and field names. */
  final case class Grok(pattern: String, fieldNames: Seq[String]) {
    private val compiled = java.util.regex.Pattern.compile(pattern)

    def extract(s: UTF8String): InternalRow = {
      val m = compiled.matcher(s.toString)
      if (m.find()) {
        val arr = new Array[Any](fieldNames.length)
        var i = 0
        while (i < fieldNames.length) {
          val g = m.group(i + 1)
          arr(i) = if (g == null) null else UTF8String.fromString(g)
          i += 1
        }
        new GenericInternalRow(arr)
      } else null
    }

    override def toString: String = s"grok[${fieldNames.mkString(",")}]"
  }

  /** Column-facing API: `regexExtractStruct($"text", pat, Seq("ip", ...))`.
    * A non-matching (non-null) input still yields a null struct, so the
    * result is nullable whatever the input's nullability.
    */
  def of(c: Column, pattern: String, fieldNames: Seq[String]): Column =
    Kernel.invoke(Grok(pattern, fieldNames.toVector), "extract",
      StructType(fieldNames.map(StructField(_, StringType, nullable = true))),
      Seq(c), returnNullable = true)
}
