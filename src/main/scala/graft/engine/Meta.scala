package graft.engine

import org.apache.spark.sql.types._

/** Column-level constraint metadata the Spark catalog does not carry:
  * UNIQUE, AUTO_INCREMENT, DEFAULT expressions, and the declared
  * nullability we enforce on the write path. Mirrors the reference's
  * column options (/root/reference/src/data/column.rs:12-79) — Spark
  * stores the shape, the Engine enforces the constraints.
  */
final case class ColumnMeta(
    name: String,
    dataType: DataType,
    nullable: Boolean = true,
    unique: Boolean = false,
    autoIncrement: Boolean = false,
    /** DEFAULT expression as SQL text, evaluated per inserted row when
      * the column is absent from the INSERT column list. */
    default: Option[String] = None) {
  def sparkField: StructField = StructField(name, dataType, nullable = true)
}

/** Secondary-index metadata (reference src/data/index.rs:12-17). The
  * physical analogue in a Spark/parquet world is clustered layout:
  * [[Engine]] sorts the table by the indexed column on creation so
  * parquet row-group min/max stats give the scan-range pruning an
  * index would. */
final case class IndexMeta(name: String, column: String, unique: Boolean)

/** Where a table's rows live: the reference's backend enum
  * `Connection` (src/database/mod.rs:25-38), bound per table at mount
  * or CREATE TABLE and never persisted ([[MetaJson]]).
  *  - [[Storage.Managed]]: a parquet directory that keeps `.graft_meta`;
  *  - [[Storage.Csv]]: one local file (reference src/databases/csv),
  *    appended by INSERT and rewritten whole by the other statements;
  *  - [[Storage.Xlsx]]: a workbook sheet (reference src/databases/sheet)
  *    queried through a parquet mirror; every mutation re-renders the book;
  *  - [[Storage.Jdbc]]: an external database's table, read and INSERTed
  *    through Spark's JDBC relation and never rewritten (input_file_name()
  *    is empty on its scan; the reference's ODBC backend is read-mostly). */
sealed trait Storage {
  /** Keeps `.graft_meta`: crash repair, cross-process sync, COMPACT. */
  def keepsMeta: Boolean = this match {
    case Storage.Managed => true
    case _: Storage.Csv | _: Storage.Xlsx | Storage.Jdbc => false
  }
}

object Storage {
  case object Managed extends Storage
  final case class Csv(path: String, header: Boolean) extends Storage
  final case class Xlsx(path: String, sheet: String) extends Storage
  case object Jdbc extends Storage
}

final case class TableMeta(
    columns: Seq[ColumnMeta],
    indexes: Seq[IndexMeta] = Seq.empty,
    storage: Storage = Storage.Managed,
    /** Next AUTO_INCREMENT value (reference
      * src/database/auto_increment.rs:6-33 keeps per-column counters;
      * single counter per table covers the reference's single
      * auto-column usage). */
    autoCounter: Long = 1L,
    /** Mutation epoch, bumped by every persisted mutation of the
      * table and stamped into its `.graft_meta` control file. Under
      * the writer lock, a mutation whose in-memory epoch differs from
      * the persisted one KNOWS another process wrote the table since
      * this session last saw it — it merges the AUTO_INCREMENT
      * counter and refreshes the cached file listing before
      * validating, which is what makes alternating cross-process
      * writers sound (the reference sidesteps this by flocking for
      * the whole process lifetime; per-mutation leases are strictly
      * more concurrent and need the freshness probe). */
    epoch: Long = 0L,
    /** True while an AUTO_INCREMENT append is in flight: stamped
      * durable BEFORE the write job starts, cleared (with the
      * advanced counter) after it lands. A crash in between leaves
      * rows on disk whose ids the persisted counter does not cover —
      * the next reader of a dirty record recomputes the counter from
      * max(id) over the data instead of re-issuing those ids. */
    counterDirty: Boolean = false) {
  def schema: StructType = StructType(columns.map(_.sparkField))
  /** The workbook an [[Storage.Xlsx]] table mirrors. */
  def workbook: Option[String] = storage match {
    case Storage.Xlsx(path, _) => Some(path)
    case _ => None
  }
  def column(name: String): Option[ColumnMeta] =
    columns.find(_.name.equalsIgnoreCase(name))
  /** The columns every write path keeps unique: UNIQUE columns
    * (PRIMARY KEY included) and the columns of unique indexes. */
  def uniqueColumns: Seq[ColumnMeta] =
    columns.filter(c => c.unique ||
      indexes.exists(i => i.unique && i.column.equalsIgnoreCase(c.name)))
}

/** Engine-side registry of constraint metadata, keyed by lowercase
  * `db.table`. Session-scoped, like the Engine itself. */
final class MetaStore {
  private val tables = scala.collection.mutable.Map.empty[String, TableMeta]

  private def key(db: String, table: String) = s"${db.toLowerCase}.${table.toLowerCase}"

  def put(db: String, table: String, meta: TableMeta): Unit =
    tables(key(db, table)) = meta
  def get(db: String, table: String): Option[TableMeta] =
    tables.get(key(db, table))
  def remove(db: String, table: String): Unit =
    tables.remove(key(db, table))
  /** Drop every table entry of a database (DROP DATABASE CASCADE). */
  def removeDb(db: String): Unit =
    tables.keys.filter(_.startsWith(s"${db.toLowerCase}.")).toSeq
      .foreach(tables.remove)
  def rename(db: String, from: String, to: String): Unit =
    tables.remove(key(db, from)).foreach(m => tables(key(db, to)) = m)
  def update(db: String, table: String)(f: TableMeta => TableMeta): Unit =
    tables.get(key(db, table)).foreach(m => tables(key(db, table)) = f(m))
  /** All (dbKey.tableKey, meta) entries — used to find sibling tables
    * of a shared XLSX workbook. */
  def entries: Seq[(String, TableMeta)] = tables.toSeq

  // Database-level backend binding: a Sheet database remembers its
  // workbook path even while it has no tables, so CREATE TABLE can
  // persist new sheets (reference src/databases/sheet/mod.rs creates
  // tables in the workbook, not beside it).
  private val xlsxDbs = scala.collection.mutable.Map.empty[String, String]
  def putXlsxDb(db: String, path: String): Unit = xlsxDbs(db.toLowerCase) = path
  def xlsxDb(db: String): Option[String] = xlsxDbs.get(db.toLowerCase)
  def removeXlsxDb(db: String): Unit = xlsxDbs.remove(db.toLowerCase)
}
