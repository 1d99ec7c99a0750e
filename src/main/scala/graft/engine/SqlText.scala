package graft.engine

import org.apache.spark.sql.types._

/** Statement-level SQL text utilities: splitting scripts into
  * statements, splitting argument lists at paren depth 0, extracting
  * balanced-paren blocks, and parsing the MultiSQL column-definition
  * dialect (types BOOLEAN / INT / UNSIGNED INT / FLOAT / TEXT /
  * TIMESTAMP; options NULL / NOT NULL / UNIQUE / DEFAULT expr /
  * AUTO_INCREMENT — reference src/data/value/value_type/mod.rs:38-50
  * and src/data/column.rs:12-79).
  *
  * Full query text is parsed by Spark's own parser; these helpers only
  * carve statements into the pieces [[Statement.parse]] and the
  * [[Engine]]'s handlers need.
  */
object SqlText {

  /** Split a script into statements on ';', respecting single/double
    * quotes (with '' escape inside string literals). */
  def splitStatements(script: String): Seq[String] =
    splitTop(script, ';').map(_.trim).filter(_.nonEmpty)

  /** Split at top level (paren depth 0, outside quotes) on `sep`. */
  def splitTop(s: String, sep: Char): Seq[String] = {
    val out = scala.collection.mutable.ListBuffer.empty[String]
    val cur = new StringBuilder
    var depth = 0
    var quote: Char = 0
    var i = 0
    while (i < s.length) {
      val c = s(i)
      if (quote != 0) {
        cur += c
        if (c == quote) quote = 0
      } else c match {
        case '\'' | '"' | '`' => quote = c; cur += c
        case '(' => depth += 1; cur += c
        case ')' => depth -= 1; cur += c
        case `sep` if depth == 0 => out += cur.toString; cur.clear()
        case _ => cur += c
      }
      i += 1
    }
    if (cur.nonEmpty) out += cur.toString
    out.toSeq
  }

  /** Content of the first balanced paren block starting at or after
    * `from`, plus the index one past its closing paren. */
  def parenBlock(s: String, from: Int): (String, Int) = {
    val open = s.indexOf('(', from)
    require(open >= 0, s"expected '(' in: $s")
    var depth = 0
    var quote: Char = 0
    var i = open
    while (i < s.length) {
      val c = s(i)
      if (quote != 0) { if (c == quote) quote = 0 }
      else c match {
        case '\'' | '"' | '`' => quote = c
        case '(' => depth += 1
        case ')' =>
          depth -= 1
          if (depth == 0) return (s.substring(open + 1, i), i + 1)
        case _ =>
      }
      i += 1
    }
    throw new IllegalArgumentException(s"unbalanced parens in: $s")
  }

  /** Strip surrounding backticks/double-quotes from an identifier. */
  def cleanIdent(s: String): String = {
    val t = s.trim
    if (t.length >= 2 && ((t.head == '`' && t.last == '`') || (t.head == '"' && t.last == '"')))
      t.substring(1, t.length - 1)
    else t
  }

  /** `db.table` or `table` → (Option(db), table). */
  def splitQualified(name: String): (Option[String], String) = {
    val parts = splitTop(name.trim, '.').map(cleanIdent)
    parts match {
      case Seq(t) => (None, t)
      case Seq(d, t) => (Some(d), t)
      case _ => throw new EngineException(s"invalid table name: $name")
    }
  }

  /** MultiSQL declared type → Spark type (SURVEY.md §1.2 mapping).
    * Unknown/absent type = Any → string, matching the reference's
    * permissive Any column (value_type/mod.rs:20-24). */
  def parseType(t: String): DataType = t.trim.toUpperCase.replaceAll("\\s+", " ") match {
    case "BOOLEAN" | "BOOL" => BooleanType
    case "INT" | "INTEGER" | "BIGINT" | "UNSIGNED INT" => LongType
    case "FLOAT" | "DOUBLE" | "REAL" => DoubleType
    case "TEXT" | "STRING" | "VARCHAR" => StringType
    case "TIMESTAMP" => TimestampType
    case "" | "ANY" => StringType
    case other if other.startsWith("VARCHAR") || other.startsWith("CHAR") => StringType
    case other if other.startsWith("DECIMAL") || other.startsWith("NUMERIC") => DoubleType
    case other => throw new EngineException(s"unsupported column type: $other")
  }

  def typeName(dt: DataType): String = dt match {
    case BooleanType => "BOOLEAN"
    case LongType => "BIGINT"
    case DoubleType => "DOUBLE"
    case StringType => "STRING"
    case TimestampType => "TIMESTAMP"
    case other => other.sql
  }

  private val wordRe = "^[A-Za-z_][A-Za-z0-9_]*".r

  /** Parse one column definition: `name [TYPE] [options…]`. */
  def parseColumnDef(defn: String): ColumnMeta = {
    val s = defn.trim
    val name = cleanIdent(s.takeWhile(c => !c.isWhitespace))
    var rest = s.drop(name.length).trim
    val up = rest.toUpperCase

    // Two-word type first (UNSIGNED INT), then one-word.
    val typeTok =
      if (up.startsWith("UNSIGNED INT")) "UNSIGNED INT"
      else wordRe.findFirstIn(rest).getOrElse("")
    val knownType = typeTok.nonEmpty && (try { parseType(typeTok); true } catch { case _: EngineException => false })
    val dataType = if (knownType) parseType(typeTok) else StringType
    if (knownType) rest = rest.drop(typeTok.length).trim

    var nullable = true
    var uniq = false
    var autoInc = false
    var default: Option[String] = None
    var u = rest
    while (u.nonEmpty) {
      val uu = u.toUpperCase
      if (uu.startsWith("NOT NULL")) { nullable = false; u = u.drop(8).trim }
      else if (uu.startsWith("NULL")) { nullable = true; u = u.drop(4).trim }
      else if (uu.startsWith("UNIQUE")) { uniq = true; u = u.drop(6).trim }
      else if (uu.startsWith("PRIMARY KEY")) { uniq = true; nullable = false; u = u.drop(11).trim }
      else if (uu.startsWith("AUTO_INCREMENT") || uu.startsWith("AUTOINCREMENT")) {
        autoInc = true
        u = u.drop(if (uu.startsWith("AUTO_INCREMENT")) 14 else 13).trim
      } else if (uu.startsWith("DEFAULT")) {
        // DEFAULT <expr>: expr runs to the next recognized option
        // keyword at depth 0, or end of definition.
        val tail = u.drop(7).trim
        val stop = Seq("NOT NULL", "NULL", "UNIQUE", "AUTO_INCREMENT", "AUTOINCREMENT", "PRIMARY KEY")
        var cut = tail.length
        var depth = 0
        var quote: Char = 0
        var i = 0
        while (i < tail.length && cut == tail.length) {
          val c = tail(i)
          if (quote != 0) { if (c == quote) quote = 0 }
          else c match {
            case '\'' | '"' => quote = c
            case '(' => depth += 1
            case ')' => depth -= 1
            case _ =>
              if (depth == 0 && (i == 0 || tail(i - 1).isWhitespace)) {
                val rem = tail.substring(i).toUpperCase
                if (stop.exists(rem.startsWith)) cut = i
              }
          }
          i += 1
        }
        default = Some(tail.substring(0, cut).trim)
        u = tail.substring(cut).trim
      } else {
        throw new EngineException(s"unsupported column option near: $u")
      }
    }
    // AUTO_INCREMENT draws i64 counter values; any other type is
    // rejected up front (reference alter_table/error.rs:40-41 — "only
    // INTEGER is allowed" — declared but unenforced there: its
    // 3-arg assert_error! is an always-true `matches!` binding).
    if (autoInc && dataType != LongType)
      throw new EngineException(
        s"column '$name' of data type '${typeName(dataType)}' is unsupported " +
          "for auto increment, only INTEGER is allowed")
    ColumnMeta(name, dataType, nullable, uniq, autoInc, default)
  }

  /** Parse a full `( col defs… )` block into column metadata. */
  def parseColumnDefs(block: String): Seq[ColumnMeta] =
    splitTop(block, ',').map(_.trim).filter(_.nonEmpty).map(parseColumnDef)
}

/** Engine-level error with a reference-style message (the reference
  * surfaces typed errors per executor module; we carry the category in
  * the message text). */
final class EngineException(msg: String) extends RuntimeException(msg)
