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

final case class TableMeta(
    columns: Seq[ColumnMeta],
    indexes: Seq[IndexMeta] = Seq.empty,
    /** Single-file CSV storage path — set only for CSV-database tables
      * (reference src/databases/csv): inserts append to this file
      * driver-side, since a lone CSV file is not distributed storage. */
    csvPath: Option[String] = None,
    csvHasHeader: Boolean = true,
    /** XLSX workbook path + worksheet name — set for Sheet-database
      * tables (reference src/databases/sheet): mutations rewrite the
      * whole book, queries scan the parquet mirror. */
    xlsxPath: Option[String] = None,
    sheetName: String = "",
    /** Next AUTO_INCREMENT value (reference
      * src/database/auto_increment.rs:6-33 keeps per-column counters;
      * single counter per table covers the reference's single
      * auto-column usage). */
    autoCounter: Long = 1L,
    /** True for tables mounted from an external JDBC database. INSERT
      * writes through Spark's JDBC relation; UPDATE/DELETE are
      * rejected loudly — the copy-on-write DML path is file-granular
      * parquet machinery (input_file_name() is EMPTY on a JDBC scan,
      * which would silently match zero files), and the reference's
      * ODBC backend is likewise read-mostly (odbc/base.rs: "no writes
      * of consequence"). */
    jdbc: Boolean = false,
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
