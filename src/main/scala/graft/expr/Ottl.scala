package graft.expr

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** OTTL statement forms (transformprocessor, manifests/observIQ/
  * manifest.yaml:110; the reference wraps OTTL statements behind
  * expr/ottl_expression.go:44 and ottl_condition.go:41): `set(target,
  * value) where cond`, `delete_key`, `delete_matching_keys`,
  * `replace_pattern`, `keep_keys`, `truncate_all` — compiled to Catalyst
  * column edits (each statement is one conditional projection; a statement
  * list folds into a single plan, no per-record interpreter).
  *
  * Error semantics: a `where` clause that evaluates to NULL does not apply
  * the edit (OTTL conditions are false-on-error).
  */
object Ottl {

  sealed trait Target
  /** Plain column (through the Record-env aliases: body → text, …). */
  case class ColTarget(name: String) extends Target
  /** One key of a map-typed column: `attributes["env"]`. */
  case class MapKeyTarget(mapCol: String, key: String) extends Target

  private val aliases = Map("body" -> "text", "timestamp" -> "ts")

  private val MapKeyRe = """^\s*([A-Za-z_][\w.]*)\s*\[\s*["']([^"']+)["']\s*\]\s*$""".r
  private val ColRe = """^\s*([A-Za-z_][\w.]*)\s*$""".r

  def parseTarget(s: String): Target = s match {
    case MapKeyRe(m, k) => MapKeyTarget(aliases.getOrElse(m, m), k)
    case ColRe(c) => ColTarget(aliases.getOrElse(c, c))
    case other => throw new IllegalArgumentException(s"bad OTTL target: '$other'")
  }

  /** Split `fn(args) [where cond]`: depth-count to the MATCHING close paren
    * of the call (a greedy regex would swallow a parenthesized where-clause
    * into the args), then treat the remainder as the optional condition.
    */
  private def splitStatement(src: String): (String, String, Option[String]) = {
    val s = src.trim
    val open = s.indexOf('(')
    require(open > 0 && s.take(open).trim.matches("\\w+"),
      s"bad OTTL statement: '$src'")
    var depth = 0; var quote: Char = 0; var close = -1
    var i = open
    while (i < s.length && close < 0) {
      val c = s(i)
      if (quote != 0) { if (c == quote) quote = 0 }
      else c match {
        case '\'' | '"' => quote = c
        case '(' => depth += 1
        case ')' => depth -= 1; if (depth == 0) close = i
        case _ =>
      }
      i += 1
    }
    require(close > 0, s"unbalanced parens in OTTL statement: '$src'")
    val rest = s.substring(close + 1).trim
    val cond =
      // word-boundary required: `whereas ...` must reject, not parse as `as ...`
      if (rest.isEmpty) None
      else if (rest.matches("(?s)where\\s.+")) Some(rest.stripPrefix("where").trim)
      else throw new IllegalArgumentException(s"bad OTTL statement tail: '$rest'")
    (s.take(open).trim, s.substring(open + 1, close), cond)
  }

  /** Split `s` on every `sep` outside quotes and parens/brackets, trimming
    * each piece; a trailing empty piece is dropped — a plain split corrupts
    * `replace_pattern(body, 'a;b', 'x')` and `f(g(a, b), c)`.
    */
  private[graft] def splitTopLevel(s: String, sep: Char): Seq[String] = {
    val out = scala.collection.mutable.ListBuffer[String]()
    var depth = 0; var quote: Char = 0; val cur = new StringBuilder
    s.foreach { c =>
      if (quote != 0) { cur += c; if (c == quote) quote = 0 }
      else c match {
        case '\'' | '"' => quote = c; cur += c
        case '(' | '[' => depth += 1; cur += c
        case ')' | ']' => depth -= 1; cur += c
        case `sep` if depth == 0 => out += cur.result().trim; cur.clear()
        case _ => cur += c
      }
    }
    val last = cur.result().trim
    if (last.nonEmpty) out += last
    out.toSeq
  }

  /** OTTL glob patterns (replace_match family): `*` and `?` wildcards over
    * the WHOLE value — anchored, everything else literal.
    */
  private[graft] def globToRegex(glob: String): String =
    "^" + glob.flatMap {
      case '*' => ".*"
      case '?' => "."
      case c if "\\.[]{}()+-^$|".contains(c) => "\\" + c
      case c => c.toString
    } + "$"

  private def stripQuotes(s: String): String = {
    val t = s.trim
    if (t.length >= 2 && (t.head == '\'' || t.head == '"') && t.last == t.head)
      t.substring(1, t.length - 1)
    else t
  }

  /** Replace/insert one key of a map column (setNestedValue parity for the
    * map context): existing key removed, new entry appended.
    */
  def setMapKey(m: Column, key: String, v: Column): Column =
    map_concat(map_filter(m, (k, _) => k =!= key), map(lit(key), v.cast("string")))

  /** Compile ONE statement to a DataFrame transform. */
  def statement(src: String, columns: Set[String]): DataFrame => DataFrame = {
    val (fn, argSrc, whereSrc) = splitStatement(src)
    val rawArgs = splitTopLevel(argSrc, ',')
    val cond: Option[Column] = whereSrc.map(w => ExprLang.boolExpr(w, columns))
    // false-on-error: only a definite `true` condition applies the edit
    def guarded(old: Column, edited: Column): Column = cond match {
      case Some(c) => when(coalesce(c, lit(false)), edited).otherwise(old)
      case None => edited
    }

    fn match {
      case "set" =>
        val value = ExprLang.valueExpr(rawArgs(1), columns)
        parseTarget(rawArgs(0)) match {
          case ColTarget(c) => df =>
            val old = if (df.columns.contains(c)) col(c) else lit(null).cast("string")
            df.withColumn(c, guarded(old, value))
          case MapKeyTarget(m, k) => df =>
            df.withColumn(m, guarded(col(m), setMapKey(col(m), k, value)))
        }

      case "delete_key" =>
        val ColTargetOnly = parseTarget(rawArgs(0)) match {
          case ColTarget(c) => c
          case t => throw new IllegalArgumentException(s"delete_key needs a map column, got $t")
        }
        val key = stripQuotes(rawArgs(1))
        df => df.withColumn(ColTargetOnly,
          guarded(col(ColTargetOnly),
            map_filter(col(ColTargetOnly), (k, _) => k =!= key)))

      case "delete_matching_keys" =>
        val m = parseTarget(rawArgs(0)).asInstanceOf[ColTarget].name
        val pat = stripQuotes(rawArgs(1))
        df => df.withColumn(m,
          guarded(col(m), map_filter(col(m), (k, _) => !k.rlike(pat))))

      case "keep_keys" =>
        val m = parseTarget(rawArgs(0)).asInstanceOf[ColTarget].name
        val keys = rawArgs.drop(1).map(stripQuotes)
        df => df.withColumn(m,
          guarded(col(m), map_filter(col(m), (k, _) => k.isin(keys: _*))))

      case "replace_pattern" =>
        val pat = stripQuotes(rawArgs(1))
        val rep = stripQuotes(rawArgs(2))
        parseTarget(rawArgs(0)) match {
          case ColTarget(c) => df =>
            df.withColumn(c, guarded(col(c), regexp_replace(col(c), pat, rep)))
          case MapKeyTarget(m, k) => df =>
            // absent key → no-op (must not insert key→NULL into the map)
            df.withColumn(m, guarded(col(m),
              when(col(m).getItem(k).isNotNull,
                setMapKey(col(m), k, regexp_replace(col(m).getItem(k), pat, rep)))
                .otherwise(col(m))))
        }

      case "replace_all_patterns" => // over every value of a map column
        val m = parseTarget(rawArgs(0)).asInstanceOf[ColTarget].name
        val pat = stripQuotes(rawArgs(1))
        val rep = stripQuotes(rawArgs(2))
        df => df.withColumn(m,
          guarded(col(m), transform_values(col(m),
            (_, v) => regexp_replace(v, pat, rep))))

      case "truncate_all" => // cap every string value of a map column
        val m = parseTarget(rawArgs(0)).asInstanceOf[ColTarget].name
        val limit = rawArgs(1).trim.toInt
        df => df.withColumn(m,
          guarded(col(m), transform_values(col(m), (_, v) => substring(v, 1, limit))))

      case "limit" => // cap map entry count; priority keys survive first
        val m = parseTarget(rawArgs(0)).asInstanceOf[ColTarget].name
        val n = rawArgs(1).trim.toInt
        require(n >= 0, s"limit: the limit must be non-negative, got $n")
        val priorityCount = rawArgs.drop(2).length
        require(n >= priorityCount, s"limit: limit $n cannot be less than " +
          s"the number of priority keys ($priorityCount)")
        // ottlfuncs limit(target, limit, priority_keys[]): every PRESENT
        // priority key survives, the remaining budget fills with
        // non-priority keys in ORIGINAL map order, and the surviving map
        // keeps the original entry order (RemoveIf preserves order) — no
        // priority-first reordering
        val priority = rawArgs.drop(2).map(stripQuotes)
        df => df.withColumn(m, guarded(col(m), {
          val entries = map_entries(col(m))
          val isPri = (e: Column) =>
            priority.foldLeft(lit(false))((acc, p) => acc || e.getField("key") === p)
          val priCount = size(filter(entries, e => isPri(e)))
          val budget = greatest(lit(n) - priCount, lit(0))
          // a non-priority entry survives when its 1-based rank among
          // non-priority entries fits the budget (maps are attribute-sized,
          // so the O(n²) prefix count stays trivial)
          val kept = when(size(entries) <= n, entries).otherwise(
            filter(entries, (e, i) => isPri(e) ||
              size(filter(slice(entries, lit(1), i + 1), ne => !isPri(ne))) <= budget))
          map_from_entries(kept)
        }))

      case "append" =>
        // append(target, value...): grows an array target; a missing or
        // null target starts a fresh array (upstream append creates the
        // slice when absent). Element TYPE follows upstream appendTo: an
        // existing array target keeps its element type and appended values
        // cast into it; a scalar target is promoted to a slice holding the
        // old value then the appended ones (engine-context deviation: the
        // promotion applies to the whole COLUMN, including rows whose
        // `where` is false — a relational column has one type, same
        // documented deviation as the other type-narrowing editors); only
        // a fresh (absent) target defaults to array<string>.
        val tgt = parseTarget(rawArgs(0)).asInstanceOf[ColTarget].name
        val values = rawArgs.drop(1).map(a => ExprLang.valueExpr(a, columns))
        df => {
          import org.apache.spark.sql.types.ArrayType
          val (old, elem) =
            if (!df.columns.contains(tgt))
              (lit(null).cast("array<string>"), "string")
            else df.schema(tgt).dataType match {
              case ArrayType(et, _) => (col(tgt), et.sql)
              case et => // scalar promotion to a one-element slice
                (when(col(tgt).isNotNull, array(col(tgt))), et.sql)
            }
          df.withColumn(tgt, guarded(old,
            concat(coalesce(old, array().cast(s"array<$elem>")),
              array(values.map(_.cast(elem)): _*))))
        }

      case "replace_match" =>
        // whole-value GLOB match replaces the ENTIRE value (vs
        // replace_pattern's regex substring substitution)
        val pat = globToRegex(stripQuotes(rawArgs(1)))
        val rep = stripQuotes(rawArgs(2))
        parseTarget(rawArgs(0)) match {
          case ColTarget(c) => df =>
            df.withColumn(c, guarded(col(c),
              when(col(c).rlike(pat), rep).otherwise(col(c))))
          case MapKeyTarget(m, k) => df =>
            df.withColumn(m, guarded(col(m),
              when(coalesce(col(m).getItem(k).rlike(pat), lit(false)),
                setMapKey(col(m), k, lit(rep))).otherwise(col(m))))
        }

      case "replace_all_matches" => // glob whole-value over every map value
        val m = parseTarget(rawArgs(0)).asInstanceOf[ColTarget].name
        val pat = globToRegex(stripQuotes(rawArgs(1)))
        val rep = stripQuotes(rawArgs(2))
        df => df.withColumn(m,
          guarded(col(m), transform_values(col(m),
            (_, v) => when(v.rlike(pat), rep).otherwise(v))))

      case "keep_matching_keys" => // inverse of delete_matching_keys
        val m = parseTarget(rawArgs(0)).asInstanceOf[ColTarget].name
        val pat = stripQuotes(rawArgs(1))
        df => df.withColumn(m,
          guarded(col(m), map_filter(col(m), (k, _) => k.rlike(pat))))

      case "flatten" => // editor form of the Flatten converter
        val m = parseTarget(rawArgs(0)).asInstanceOf[ColTarget].name
        val flattened = ExprLang.Converters("Flatten")(
          col(m) :: rawArgs.drop(1).map(a => lit(stripQuotes(a))).toList)
        df => df.withColumn(m, guarded(col(m), flattened))

      case "merge_maps" => // editor form of the MergeMaps converter
        val m = parseTarget(rawArgs(0)).asInstanceOf[ColTarget].name
        val source = ExprLang.valueExpr(rawArgs(1), columns)
        val merged = ExprLang.Converters("MergeMaps")(
          List(col(m), source, lit(stripQuotes(rawArgs(2)))))
        df => df.withColumn(m, guarded(col(m), merged))

      case other =>
        throw new IllegalArgumentException(s"unsupported OTTL statement '$other'")
    }
  }

  /** The statements of a ';'-separated statement LIST; empty ones drop. */
  def splitStatements(src: String): Seq[String] =
    splitTopLevel(src, ';').filter(_.nonEmpty)

  /** A statement LIST folds into one plan, applied in order (OTTL statement
    * sequencing semantics — later statements see earlier edits).
    */
  def apply(statements: Seq[String], columns: Set[String]): DataFrame => DataFrame =
    df => statements.foldLeft(df) { (acc, s) =>
      statement(s, acc.columns.toSet ++ columns)(acc)
    }
}
