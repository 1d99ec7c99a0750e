package perfbench

import scala.collection.mutable
import org.apache.spark.sql.SparkSession

import graft.engine.{Engine, EngineException, Payload}

/** `glue_statements`: the reference's own bench (tables A, B, C; filter,
  * find, group-sum, join) through `Engine.execute`, with small writes
  * interleaved. The seed generates the table contents and the whole
  * statement stream; an in-memory model of A, B and C checks every
  * result and the final state.
  *
  *  - A: `pk INTEGER PRIMARY KEY`, 10,000 rows, indexed, never changed.
  *  - B: `pk AUTO_INCREMENT PRIMARY KEY, fk, val`, 100,000 rows, indexed.
  *  - C: the same as B without an index.
  *
  * A pass is one block of [[GlueWorkload.block]]: the same class mix
  * every time, in a seeded order with seeded arguments, so a pass's wall
  * time is comparable across seeds. */
final class GlueWorkload(work: String, seed: Long) extends Workload {
  import GlueWorkload._

  private val rows = Rows
  private val aRows = rows / 10
  private var engine: Engine = _
  private var dbDir: java.io.File = _
  private val rng = new java.util.SplittableRandom(seed)
  private val salt = java.lang.Math.floorMod(seed * 7919L, aRows.toLong)

  // Model: pk -> (fk, val) for B and C; A is 1..aRows.
  private val model = Map("B" -> new java.util.TreeMap[Long, (Long, Double)](),
    "C" -> new java.util.TreeMap[Long, (Long, Double)]())
  private val nextPk = mutable.Map("B" -> 1L, "C" -> 1L)
  private val failures = mutable.ArrayBuffer.empty[String]
  override def opFailures: Seq[String] = failures.toSeq

  private def fkOf(id: Long): Long = 1 + java.lang.Math.floorMod(id * 7919L + salt, aRows.toLong)
  private def valOf(id: Long): Double = java.lang.Math.floorMod(id * 104729L + seed, 1000L).toDouble

  /** A set-up loads 210,000 rows and builds two indexes (about 4 s). */
  val setupReps = 3
  /** A block takes 6–9 s on a 4-core host; two keep a run inside its
    * share of the benchmark's time budget. */
  val passes = 2

  def setup(spark: SparkSession, rep: Int): Map[String, Double] = {
    val t0 = System.nanoTime()
    engine = new Engine(spark)
    val dir = new java.io.File(s"$work/glue/rep$rep")
    if (dbDir != null) org.apache.commons.io.FileUtils.deleteDirectory(dbDir)
    dbDir = dir
    engine.execute(s"CREATE DATABASE bench LOCATION '${dir.getAbsolutePath}'")
    engine.execute("CREATE TABLE bench.A (pk INTEGER PRIMARY KEY)")
    engine.execute(s"INSERT INTO bench.A SELECT id FROM range(1, ${aRows + 1})")
    engine.execute("CREATE INDEX a_pk ON bench.A (pk)")
    for (t <- Seq("B", "C")) {
      engine.execute(s"CREATE TABLE bench.$t (pk INTEGER AUTO_INCREMENT PRIMARY KEY, fk INTEGER, val FLOAT)")
      engine.execute(s"INSERT INTO bench.$t (fk, val) SELECT " +
        s"1 + pmod(id * 7919 + $salt, $aRows), CAST(pmod(id * 104729 + $seed, 1000) AS DOUBLE) " +
        s"FROM range(0, $rows)")
    }
    engine.execute("CREATE INDEX b_pk ON bench.B (pk)")
    Map("engine.load_ms" -> (System.nanoTime() - t0) / 1e6)
  }

  /** The loaded tables must equal the model built from the same formulas.
    * Then one untimed block, checked like the timed ones, warms the
    * statement paths up, so every timed block runs warm whatever their
    * number. */
  def check(spark: SparkSession): (Int, Seq[String]) = {
    for ((t, m) <- model) {
      m.clear()
      (0L until rows).foreach(id => m.put(id + 1, (fkOf(id), valOf(id))))
      nextPk(t) = rows + 1L
    }
    val bad = tableState()
    val warm = mutable.ArrayBuffer.empty[Op]
    pass(spark, -1, new Hooks(spark, null, enabled = false), warm)
    val warmBad = failures.toSeq
    failures.clear()
    (3 + warm.size, bad ++ warmBad)
  }

  override def finalCheck(spark: SparkSession): (Int, Seq[String]) = (3, tableState())

  private def tableState(): Seq[String] = {
    val out = mutable.ArrayBuffer.empty[String]
    val a = selectRows("SELECT pk FROM bench.A").map(_.head.asInstanceOf[Long]).sorted
    if (a != (1L to aRows.toLong)) out += s"A holds ${a.size} rows, expected 1..$aRows"
    for ((t, m) <- model) {
      val got = selectRows(s"SELECT pk, fk, val FROM bench.$t").map(rowOf).sortBy(_._1)
      val want = modelRows(m)
      if (got != want) out += s"$t final state differs: ${got.size} rows vs model ${want.size}, " +
        s"first difference ${got.zipAll(want, null, null).find(p => p._1 != p._2)}"
    }
    out.toSeq
  }

  private def selectRows(sql: String): Seq[Seq[Any]] = engine.execute(sql) match {
    case Payload.Select(_, rs) => rs
    case p => throw new IllegalStateException(s"expected rows from $sql, got $p")
  }
  private def rowOf(r: Seq[Any]): (Long, Long, Double) =
    (r(0).asInstanceOf[Long], r(1).asInstanceOf[Long], r(2).asInstanceOf[Double])
  private def modelRows(m: java.util.SortedMap[Long, (Long, Double)]): Seq[(Long, Long, Double)] = {
    val b = Seq.newBuilder[(Long, Long, Double)]
    m.forEach((k, v) => b += ((k, v._1, v._2)))
    b.result()
  }

  /** A generated statement: SQL plus what the model expects of it. */
  private final case class Stmt(cls: String, table: String, sql: String, check: Payload => Option[String])

  private def range(t: String, lo: Long, hi: Long) = model(t).subMap(lo, hi)

  /** Draws the next statement of the stream, of class `cls` on table
    * `t`. Arguments come only from the seeded generator, never from
    * table state. */
  private def next(cls: String, t: String): Stmt = {
    val maxPk = rows.toLong
    def checkRows(want: => Seq[(Long, Long, Double)]): Payload => Option[String] = {
      case Payload.Select(_, rs) =>
        val got = rs.map(rowOf).sortBy(_._1)
        val w = want
        if (got == w) None else Some(s"${got.size} rows, model ${w.size}")
      case p => Some(s"unexpected payload $p")
    }
    def checkSums(t: String, joinA: Boolean): Payload => Option[String] = {
      case Payload.Select(_, rs) =>
        val got = rs.map(r => r(0).asInstanceOf[Long] -> r(1).asInstanceOf[Double]).toMap
        val want = mutable.Map.empty[Long, Double]
        model(t).forEach((_, v) => want(v._1) = want.getOrElse(v._1, 0.0) + v._2)
        val w = if (joinA) want.filter(_._1 <= aRows).toMap else want.toMap
        if (got == w) None else Some(s"${got.size} groups, model ${w.size}")
      case p => Some(s"unexpected payload $p")
    }
    cls match {
      case "filter_idx" | "filter_noidx" =>
        val lo = 1 + rng.nextLong(maxPk - 99)
        Stmt(cls, t, s"SELECT pk, fk, val FROM bench.$t WHERE pk >= $lo AND pk < ${lo + 100}",
          checkRows(modelRows(range(t, lo, lo + 100))))
      case "find_idx" | "find_noidx" =>
        val k = 1 + rng.nextLong(maxPk)
        Stmt(cls, t, s"SELECT pk, fk, val FROM bench.$t WHERE pk = $k",
          checkRows(modelRows(range(t, k, k + 1))))
      case "sum_group" =>
        Stmt(cls, t, s"SELECT fk, SUM(val) AS s FROM bench.$t GROUP BY fk",
          checkSums(t, joinA = false))
      case "join" =>
        Stmt(cls, t, s"SELECT a.pk, SUM(x.val) AS s FROM bench.A AS a JOIN bench.$t AS x " +
          "ON x.fk = a.pk GROUP BY a.pk", checkSums(t, joinA = true))
      case "insert" =>
        val vals = Seq.fill(InsertRows)((1 + rng.nextLong(aRows.toLong), rng.nextLong(1000L).toDouble))
        Stmt(cls, t, s"INSERT INTO bench.$t (fk, val) VALUES " +
          vals.map { case (f, v) => s"($f, $v)" }.mkString(", "), {
          case Payload.Insert(n) if n == vals.size =>
            vals.foreach { v => model(t).put(nextPk(t), v); nextPk(t) += 1 }
            None
          case p => Some(s"unexpected payload $p")
        })
      case "insert_reject" =>
        val dup = 1 + rng.nextLong(aRows.toLong)
        val fresh = (1 to InsertRows - 1).map(i => aRows.toLong + i)
        val keys = fresh.patch(rng.nextInt(InsertRows), Seq(dup), 0)
        Stmt(cls, t, s"INSERT INTO bench.$t (pk) VALUES " + keys.map(k => s"($k)").mkString(", "),
          p => Some(s"duplicate key $dup was accepted: $p"))
      case "update" =>
        val lo = 1 + rng.nextLong(maxPk - UpdateRange)
        val d = 1 + rng.nextLong(9L)
        Stmt(cls, t, s"UPDATE bench.$t SET val = val + $d WHERE pk >= $lo AND pk < ${lo + UpdateRange}", {
          case Payload.Update(n) =>
            val hit = range(t, lo, lo + UpdateRange)
            val want = hit.size.toLong
            hit.replaceAll((_, v) => (v._1, v._2 + d))
            if (n == want) None else Some(s"updated $n rows, model $want")
          case p => Some(s"unexpected payload $p")
        })
      case "delete" =>
        val lo = 1 + rng.nextLong(maxPk - DeleteRange)
        Stmt(cls, t, s"DELETE FROM bench.$t WHERE pk >= $lo AND pk < ${lo + DeleteRange}", {
          case Payload.Delete(n) =>
            val hit = range(t, lo, lo + DeleteRange)
            val want = hit.size.toLong
            hit.clear()
            if (n == want) None else Some(s"deleted $n rows, model $want")
          case p => Some(s"unexpected payload $p")
        })
    }
  }

  private def dataFiles(t: String): Set[String] =
    Option(dbDir.listFiles()).toSeq.flatten.find(_.getName.equalsIgnoreCase(t))
      .flatMap(d => Option(d.listFiles())).toSeq.flatten
      .filter(f => f.isFile && !f.getName.startsWith(".") && !f.getName.startsWith("_"))
      .map(_.getName).toSet

  def pass(spark: SparkSession, pass: Int, hooks: Hooks, ops: mutable.ArrayBuffer[Op]): Unit = {
    val order = new scala.util.Random(rng.nextLong()).shuffle(block)
    order.zipWithIndex.foreach { case ((cls, table), pos) =>
      val s = next(cls, table)
      val idx = ops.size
      val traced = hooks.traced(pass, pos)
      val rewrites = traced && (cls == "update" || cls == "delete")
      val before = if (rewrites) dataFiles(s.table) else Set.empty[String]
      hooks.begin(idx, traced)
      val t0 = System.nanoTime()
      val result: Either[Exception, Payload] =
        try Right(engine.execute(s.sql)) catch { case e: Exception => Left(e) }
      val t1 = System.nanoTime()
      hooks.end(traced)
      val verdict = (cls, result) match {
        case ("insert_reject", Left(e: EngineException)) if RejectMessage.matches(String.valueOf(e.getMessage)) => None
        case (_, Left(e)) => Some(s"failed: ${e.getMessage}")
        case (_, Right(p)) => s.check(p)
      }
      verdict.foreach(v => failures += s"$cls `${s.sql.take(120)}`: $v")
      val rowsOut = result match {
        case Right(Payload.Select(_, rs)) => rs.size.toLong
        case _ => -1L
      }
      val after = if (rewrites) dataFiles(s.table) else Set.empty[String]
      ops += Op(idx, pass, cls, cls, t0, t0, t1, ok = verdict.isEmpty,
        traced, rowsOut, before.size, (before -- after).size)
    }
  }

  /** Read and write latency of the untraced statements, and which
    * percentile each tail is. */
  def readWriteMetrics(ops: Seq[Op]): (Seq[(String, (Double, String))], Seq[String]) = {
    val (r, w) = ops.partition(o => reads(o.cls))
    val parts = Seq("read" -> r, "write" -> w).map { case (k, os) =>
      val ms = os.map(_.ms)
      val (p, v) = Stats.tail(ms)
      (Seq(s"${k}_p50_ms" -> (Stats.median(ms) -> "ms"), s"${k}_tail_ms" -> (v -> "ms")),
        s"tail ${k}_tail_ms is p$p of ${ms.size} samples")
    }
    (parts.flatMap(_._1), parts.map(_._2))
  }

  override def layerMetrics(ls: Seq[OpLayers]): Map[String, Double] = {
    def p50(os: Seq[Op]) = if (os.isEmpty) 0.0 else Stats.median(os.map(_.ms))
    def tail(os: Seq[Op]) = if (os.isEmpty) 0.0 else Stats.tail(os.map(_.ms))._2
    val ops = ls.map(_.op)
    val byCls = ls.groupBy(_.op.cls)
    val (r, w) = ls.partition(l => reads(l.op.cls))
    def jobsPer(xs: Seq[OpLayers]) = if (xs.isEmpty) 0.0 else xs.map(_.jobs.size).sum.toDouble / xs.size
    def rowsReadPerRow(c: String) = {
      val xs = byCls.getOrElse(c, Nil)
      xs.map(_.tasks.inputRecords).sum.toDouble / math.max(1L, xs.map(_.op.rows).sum)
    }
    def rewritten(c: String) = {
      val xs = byCls.getOrElse(c, Nil).map(_.op)
      if (xs.isEmpty) 0.0 else xs.map(_.filesRewritten).sum.toDouble / xs.size
    }
    val cow = ops.filter(o => o.cls == "update" || o.cls == "delete")
    PerLayer.glueClasses.map(c => s"engine.${c}_p50_ms" -> p50(byCls.getOrElse(c, Nil).map(_.op))).toMap ++ Map(
      "engine.read_p50_ms" -> p50(r.map(_.op)),
      "engine.read_tail_ms" -> tail(r.map(_.op)),
      "engine.write_p50_ms" -> p50(w.map(_.op)),
      "engine.write_tail_ms" -> tail(w.map(_.op)),
      "engine.jobs_per_stmt.read" -> jobsPer(r),
      "engine.jobs_per_stmt.write" -> jobsPer(w),
      "engine.rows_read_per_row.find_idx" -> rowsReadPerRow("find_idx"),
      "engine.rows_read_per_row.filter_idx" -> rowsReadPerRow("filter_idx"),
      "engine.files_rewritten_per_stmt.update" -> rewritten("update"),
      "engine.files_rewritten_per_stmt.delete" -> rewritten("delete"),
      "engine.files_rewritten_frac" ->
        cow.map(_.filesRewritten).sum.toDouble / math.max(1, cow.map(_.filesBefore).sum),
      "engine.table_files_end" -> Seq("A", "B", "C").map(dataFiles(_).size).sum.toDouble)
  }
}

object GlueWorkload {
  /** Rows of B and C; A has a tenth of them. */
  val Rows = 100000
  val InsertRows = 10
  /** The engine's UNIQUE violation on A's key; any other error of a
    * duplicate-key INSERT is a failure. */
  val RejectMessage = "(?is).*duplicate entry in unique column pk.*".r
  val UpdateRange = 50
  val DeleteRange = 10

  /** One pass as (class, table): 13 reads and 7 writes, the same mix of
    * classes and tables every time, so that a pass's wall and latency
    * quantiles do not depend on the seed's draws. The classes' latencies
    * form separate clusters (point reads, group-sum, join, UPDATE/DELETE,
    * INSERT); with this mix the median of two blocks is the middle of
    * the four group-sums and the tail (p75) falls inside the UPDATE/DELETE
    * cluster, not at the edge between two clusters, where a percentile
    * would jump from one class to the other between runs. */
  val block: Seq[(String, String)] =
    Seq("filter_idx" -> "B", "filter_noidx" -> "C", "find_idx" -> "B", "find_noidx" -> "C").flatMap(c => Seq(c, c)) ++
      Seq("find_idx" -> "B") ++
      Seq("sum_group", "join", "insert", "update", "delete").flatMap(c => Seq(c -> "B", c -> "C")) :+
      ("insert_reject" -> "A")

  val reads: Set[String] = Set("filter_idx", "filter_noidx", "find_idx", "find_noidx", "sum_group", "join")
}
