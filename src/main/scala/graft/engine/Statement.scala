package graft.engine

import scala.util.matching.Regex
import SqlText._

/** One statement of the engine's dialect, classified from its text
  * once — the analogue of the reference's `Statement` AST
  * (src/parse_sql.rs:6-16), which its executor runs in one match
  * (src/executor/execute.rs:55-177). [[Statement.parse]] reads the
  * leading keywords at a keyword boundary (`SELECT*` is SELECT,
  * `select_log` is a name), runs that form's one regex, and returns
  * the case below with the regex's captures. Query text is left to
  * Spark's parser; [[Engine]] plans every [[Statement.Query]] through
  * one function, so `execute`, `query`, `prepare`, EXPLAIN and
  * INSERT's source accept the same forms and plan them the same way.
  *
  * Table names are carried raw (`db.tbl`, possibly quoted) for the
  * engine to resolve against the current database; column, index and
  * database names come unquoted.
  */
sealed trait Statement extends Product with Serializable

object Statement {

  /** A query: it returns rows. `writes` is true only for a WITH whose
    * CTE body is an INSERT. */
  sealed trait Query extends Statement { def writes: Boolean = isInstanceOf[InsertCte] }
  /** SELECT, WITH, TABLE or a parenthesized query: Spark's grammar. */
  final case class Select(text: String) extends Query
  /** A query whose first keyword, past any opening parens, is VALUES. */
  final case class Values(text: String) extends Query
  /** `EXECUTE OPERATOR name(k = v, …)`: the pipeline-operator facade,
    * with `args` unquoted (`''` unescaped) and keys lower-cased. */
  final case class Operator(name: String, args: Map[String, String]) extends Query
  /** `WITH name AS (INSERT …) rest`: the insert runs, and its rows are
    * the CTE `name` that `rest` reads (reference set_expr.rs:83-97). */
  final case class InsertCte(name: String, insert: Insert, rest: Query) extends Query

  final case class CreateDatabase(name: String, ifNotExists: Boolean, location: Option[String]) extends Statement
  final case class DropDatabase(name: String) extends Statement
  /** CREATE TABLE: `body` is the AS query (Left) or the parsed
    * column-definition block (Right, [[SqlText.parseColumnDefs]]). */
  final case class CreateTable(table: String, ifNotExists: Boolean,
      body: Either[Query, Seq[ColumnMeta]]) extends Statement
  /** INSERT INTO table [(columns)] source; no columns means all. */
  final case class Insert(table: String, columns: Seq[String], source: Query) extends Statement
  /** `set` is the assignment list, split by the engine. */
  final case class Update(table: String, set: String, where: Option[String]) extends Statement
  final case class Delete(table: String, where: Option[String]) extends Statement
  final case class Truncate(table: String) extends Statement
  final case class DropTable(table: String, ifExists: Boolean) extends Statement
  final case class CompactTable(table: String, targetMb: Option[Long]) extends Statement
  final case class CreateIndex(unique: Boolean, name: String, table: String, columns: Seq[String]) extends Statement
  final case class DropIndex(name: String, table: String) extends Statement

  /** The four ALTER TABLE forms. */
  sealed trait Alter extends Statement { def table: String }
  final case class RenameTable(table: String, to: String) extends Alter
  final case class RenameColumn(table: String, from: String, to: String) extends Alter
  /** `column` is the definition text ([[SqlText.parseColumnDef]]). */
  final case class AddColumn(table: String, column: String) extends Alter
  final case class DropColumn(table: String, column: String, ifExists: Boolean) extends Alter

  /** SET @name = value; the value is kept as literal text. */
  final case class SetVariable(name: String, value: String) extends Statement
  final case class ExecuteFile(path: String) extends Statement
  case object ShowOperators extends Statement
  /** CREATE [OR REPLACE] VIEW, DROP VIEW and USE: Spark runs the text,
    * and the statement answers `payload`. */
  final case class PassThrough(text: String, payload: Payload) extends Statement

  /** The EXPLAIN family. */
  sealed trait ExplainForm extends Statement
  /** EXPLAIN of any other statement; the engine plans queries, INSERT
    * and COMPACT TABLE, and refuses the rest. */
  final case class Explain(inner: Statement) extends ExplainForm
  /** EXPLAIN ALL: the databases. */
  case object ExplainAll extends ExplainForm
  /** EXPLAIN ALL_TABLE: every (database, table). */
  case object ExplainAllTables extends ExplainForm
  final case class ExplainFiles(table: String) extends ExplainForm
  /** EXPLAIN name: a database's tables, or a table's columns. */
  final case class Describe(name: String) extends ExplainForm

  private val createDbRe =
    """(?is)CREATE\s+(?:DATABASE|SCHEMA)\s+(IF\s+NOT\s+EXISTS\s+)?([`"\w.]+)(?:\s+LOCATION\s+'([^']*)')?\s*""".r
  private val dropDbRe = """(?is)DROP\s+(?:DATABASE|SCHEMA)\s+(?:IF\s+EXISTS\s+)?([`"\w.]+)\s*""".r
  private val createTableRe = """(?is)CREATE\s+TABLE\s+(IF\s+NOT\s+EXISTS\s+)?([`"\w.]+)\s*(.*)""".r
  private val insertRe = """(?is)INSERT\s+INTO\s+([`"\w.]+)\s*(.*)""".r
  private val insertCteRe = """(?is)WITH\s+([`"\w]+)\s+AS\s*(\(.*)""".r
  private val updateRe = """(?is)UPDATE\s+([`"\w.]+)\s+SET\s+(.*?)(?:\s+WHERE\s+(.*))?""".r
  private val deleteRe = """(?is)DELETE\s+FROM\s+([`"\w.]+)(?:\s+WHERE\s+(.*))?""".r
  private val renameTableRe = """(?is)ALTER\s+TABLE\s+([`"\w.]+)\s+RENAME\s+TO\s+([`"\w.]+)\s*""".r
  private val renameColumnRe =
    """(?is)ALTER\s+TABLE\s+([`"\w.]+)\s+RENAME\s+COLUMN\s+([`"\w]+)\s+TO\s+([`"\w]+)\s*""".r
  private val addColumnRe = """(?is)ALTER\s+TABLE\s+([`"\w.]+)\s+ADD\s+COLUMN\s+(.*)""".r
  private val dropColumnRe =
    """(?is)ALTER\s+TABLE\s+([`"\w.]+)\s+DROP\s+COLUMN\s+(?:(IF\s+EXISTS)\s+)?([`"\w]+)\s*""".r
  private val truncateRe = """(?is)TRUNCATE\s+(?:TABLE\s+)?([`"\w.]+)\s*""".r
  private val dropTableRe = """(?is)DROP\s+TABLE\s+(IF\s+EXISTS\s+)?([`"\w.]+)\s*""".r
  private val compactRe = """(?is)COMPACT\s+TABLE\s+([`"\w.]+)(?:\s+TARGET\s+(\d+))?\s*""".r
  private val createIndexRe =
    """(?is)CREATE\s+(UNIQUE\s+)?INDEX\s+([`"\w]+)\s+ON\s+([`"\w.]+)\s*\(([^)]*)\)\s*""".r
  private val dropIndexRe = """(?is)DROP\s+INDEX\s+([`"\w]+)\s+ON\s+([`"\w.]+)\s*""".r
  private val setVarRe = """(?is)SET\s+@([A-Za-z_]\w*)\s*=\s*(.+)""".r
  private val executeFileRe = """(?is)EXECUTE\s+FILE\s+'([^']+)'\s*""".r
  // EXPLAIN OPERATOR names an operator without EXECUTE
  private val operatorRe = """(?is)(?:EXECUTE\s+)?OPERATOR\s+([A-Za-z_]\w*)\s*(\(.*\))?\s*""".r

  /** The one classification of `text` (trimmed, no trailing `;`). */
  def parse(text: String): Statement =
    statement(text.trim).getOrElse(throw new EngineException(s"unsupported statement: ${text.take(60)}"))

  /** Up to four leading words, upper-cased; a word is a run of
    * letters, digits and `_`, so `(SELECT` leads with an empty word. */
  private def words(s: String): IndexedSeq[String] =
    s.split("\\W+", 5).take(4).map(_.toUpperCase).toIndexedSeq.padTo(4, "")

  /** `re`'s captures over all of `s` (null where a group did not take
    * part), else the one parse error. */
  private def captures(re: Regex, s: String): List[String] =
    re.unapplySeq(s).getOrElse(throw cannotParse(s))

  private def cannotParse(s: String) = new EngineException(s"cannot parse: ${s.take(60)}")

  private val queryWords = Set("SELECT", "WITH", "VALUES", "TABLE")
  private val nameRe = """[`"\w.]+""".r

  /** None when the leading keywords name no statement. */
  private def statement(s: String): Option[Statement] = {
    val w = words(s)
    def re(r: Regex) = captures(r, s)
    Some((w(0), w(1)) match {
      case _ if s.startsWith("(") || queryWords(w(0)) || w(0) == "EXECUTE" && w(1) == "OPERATOR" =>
        query(s)
      case ("CREATE", "DATABASE" | "SCHEMA") =>
        val List(ifNot, name, location) = re(createDbRe)
        CreateDatabase(cleanIdent(name), ifNot != null, Option(location))
      case ("DROP", "DATABASE" | "SCHEMA") => DropDatabase(cleanIdent(re(dropDbRe).head))
      case ("CREATE", "TABLE") =>
        val List(ifNot, table, rest) = re(createTableRe)
        CreateTable(table, ifNot != null,
          if (words(rest)(0) == "AS") Left(sourceQuery(rest.trim.drop(2).trim, "CREATE TABLE … AS"))
          else Right(parseColumnDefs(parenBlock(rest, 0)._1)))
      case ("CREATE", "INDEX" | "UNIQUE") =>
        val List(unique, name, table, cols) = re(createIndexRe)
        CreateIndex(unique != null, cleanIdent(name), table, splitTop(cols, ',').map(cleanIdent).filter(_.nonEmpty))
      case ("DROP", "INDEX") =>
        val List(name, table) = re(dropIndexRe)
        DropIndex(cleanIdent(name), table)
      case ("CREATE", "VIEW") => PassThrough(s, Payload.Create)
      case ("CREATE", "OR") if w(2) == "REPLACE" && w(3) == "VIEW" => PassThrough(s, Payload.Create)
      case ("DROP", "VIEW") => PassThrough(s, Payload.DropTable)
      case ("USE", _) => PassThrough(s, Payload.Success)
      case ("DROP", "TABLE") =>
        val List(ifExists, table) = re(dropTableRe)
        DropTable(table, ifExists != null)
      case ("INSERT", _) => insert(s)
      case ("UPDATE", _) =>
        val List(table, set, where) = re(updateRe)
        Update(table, set, Option(where))
      case ("DELETE", _) =>
        val List(table, where) = re(deleteRe)
        Delete(table, Option(where))
      case ("ALTER", "TABLE") => s match {
        case renameTableRe(t, to) => RenameTable(t, to)
        case renameColumnRe(t, from, to) => RenameColumn(t, cleanIdent(from), cleanIdent(to))
        case addColumnRe(t, colDef) => AddColumn(t, colDef.trim)
        case dropColumnRe(t, ifExists, c) => DropColumn(t, cleanIdent(c), ifExists != null)
        case _ => throw cannotParse(s)
      }
      case ("TRUNCATE", _) => Truncate(re(truncateRe).head)
      case ("COMPACT", _) =>
        val List(table, targetMb) = re(compactRe)
        CompactTable(table, Option(targetMb).map(_.toLong))
      case ("EXPLAIN", _) => explain(s.drop("EXPLAIN".length).trim)
      case ("SET", _) =>
        val List(name, value) = re(setVarRe)
        SetVariable(name, value.trim)
      case ("EXECUTE", "FILE") => ExecuteFile(re(executeFileRe).head)
      case ("SHOW", "OPERATORS") => ShowOperators
      case _ => return None
    })
  }

  private def query(s: String): Query = {
    val w = words(s)
    if (w(0) == "EXECUTE") operator(s)
    else if (words(s.dropWhile(c => c == '(' || c.isWhitespace))(0) == "VALUES") Values(s)
    else if (w(0) == "WITH") s match {
      case insertCteRe(name, tail) =>
        val (body, end) = parenBlock(tail, 0)
        if (words(body.trim)(0) != "INSERT") Select(s)
        else {
          val rest = tail.substring(end).trim
          InsertCte(cleanIdent(name), insert(body.trim),
            sourceQuery(if (rest.startsWith(",")) "WITH " + rest.drop(1) else rest, "WITH … AS (INSERT …)"))
        }
      case _ => Select(s)
    }
    else Select(s)
  }

  /** `s` as the query that `what` reads its rows from. */
  private def sourceQuery(s: String, what: String): Query = statement(s) match {
    case Some(q: Query) => q
    case _ => throw new EngineException(s"$what needs a query, got: ${s.take(60)}")
  }

  private def insert(s: String): Insert = {
    val List(table, rest0) = captures(insertRe, s)
    val rest = rest0.trim
    // An explicit column list is a paren block that does not open a
    // query source.
    val listed = rest.startsWith("(") && {
      val inner = parenBlock(rest, 0)._1.trim
      !inner.startsWith("(") && !queryWords(words(inner)(0))
    }
    if (!listed) Insert(table, Seq.empty, sourceQuery(rest, "INSERT"))
    else {
      val (block, end) = parenBlock(rest, 0)
      Insert(table, splitTop(block, ',').map(cleanIdent), sourceQuery(rest.substring(end).trim, "INSERT"))
    }
  }

  private def operator(s: String): Operator = {
    val List(name, argsBlock) = captures(operatorRe, s)
    val args = Option(argsBlock).map { b =>
      splitTop(parenBlock(b.trim, 0)._1, ',').map(_.trim).filter(_.nonEmpty).map { kv =>
        val eq = kv.indexOf('=')
        if (eq <= 0) throw new EngineException(s"operator argument must be name = value, got: $kv")
        kv.substring(0, eq).trim.toLowerCase -> unquoteValue(kv.substring(eq + 1).trim)
      }.toMap
    }.getOrElse(Map.empty)
    Operator(name.toLowerCase, args)
  }

  /** `'quoted'` → unquoted with `''` unescaped; bare values verbatim. */
  private def unquoteValue(v: String): String =
    if (v.length >= 2 && v.head == '\'' && v.last == '\'')
      v.substring(1, v.length - 1).replace("''", "'")
    else v

  /** EXPLAIN's argument. A name, possibly qualified or quoted, is an
    * object to describe, whatever its first word: `EXPLAIN insert_log`,
    * `EXPLAIN files` and `EXPLAIN update.t` describe those objects. So
    * is text whose leading keywords name no statement. */
  private def explain(arg: String): ExplainForm = {
    val w = words(arg)
    if (arg.equalsIgnoreCase("ALL")) ExplainAll
    else if (arg.equalsIgnoreCase("ALL_TABLE")) ExplainAllTables
    else if (nameRe.matches(arg)) Describe(arg)
    else if (w(0) == "FILES") ExplainFiles(arg.drop("FILES".length).trim)
    else if (w(0) == "OPERATOR") Explain(operator(arg))
    else statement(arg).fold[ExplainForm](Describe(arg))(Explain)
  }
}
