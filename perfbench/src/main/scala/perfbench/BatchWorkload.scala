package perfbench

import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{SparkEntry, Tables}

/** `relational` (the q*, e* and f* battery entries) or `llm_pipeline`
  * (d*, t*, s*, p*, m* and c1) from `SparkEntry.queries`. Each op builds
  * the entry's DataFrame, then executes it fully through a `noop` write,
  * as `graft.Bench` does. The seed permutes the query order of every pass. */
final class BatchWorkload(workload: String, dir: String, seed: Long,
                          golden: Option[String], recordGolden: Option[String]) extends Workload {

  private val queries: Seq[(String, (SparkSession, String) => DataFrame)] =
    SparkEntry.queries.toSeq.filter { case (n, _) => BatchWorkload.member(workload, n) }.sortBy(_._1)
  require(queries.nonEmpty, s"no battery entries for $workload")

  /** A set-up takes about 0.3 s, so five of them cost little and steady
    * the median against a slow session start. */
  val setupReps = 5
  /** One timed pass after the warm-up pass: about 10 s for `relational`
    * on a 4-core host, about a minute for `llm_pipeline`. */
  val passes = 1

  def setup(spark: SparkSession, rep: Int): Map[String, Double] = {
    val t0 = System.nanoTime()
    Tables.registerAll(spark, dir)
    Map("tables.register_ms" -> (System.nanoTime() - t0) / 1e6)
  }

  /** Row count and an order-independent row hash of every entry,
    * compared with the golden file, then the warm-up. The check is
    * untimed, so it runs `CheckClients` entries at a time to keep the run
    * short. It leaves much of the JIT compilation to the first
    * single-client `noop` pass, which then compiles on about two cores, so
    * that it runs slow and slows down further with any other load on the
    * host; one untimed pass, run as the timed one is, takes that part of
    * the warm-up out of the timing. */
  def check(spark: SparkSession): (Int, Seq[String]) = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(BatchWorkload.CheckClients)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutorService(pool)
    val futures = order(-1).map { case (n, fn) =>
      n -> scala.concurrent.Future {
        try Right(BatchWorkload.digest(fn(spark, dir), BatchWorkload.approximate(n)))
        catch { case e: Exception => Left(String.valueOf(e.getMessage).take(300)) }
      }
    }
    val got = futures.map { case (n, f) =>
      n -> scala.concurrent.Await.result(f, scala.concurrent.duration.Duration.Inf)
    }.toMap
    pool.shutdown()
    recordGolden.foreach { p =>
      val body = got.toSeq.sortBy(_._1).map {
        case (n, Right((rows, h))) => s"  ${Stats.str(n)}: [$rows, ${Stats.str(h)}]"
        case (n, Left(e)) => sys.error(s"cannot record a golden: $n failed: $e")
      }.mkString("{\n", ",\n", "\n}\n")
      java.nio.file.Files.writeString(java.nio.file.Paths.get(p), body)
    }
    val want = golden.map(BatchWorkload.readGolden).getOrElse(Map.empty)
    val failures = got.toSeq.sortBy(_._1).flatMap {
      case (n, Left(e)) => Some(s"$n failed: $e")
      case (n, Right(rh)) if golden.nonEmpty && !want.get(n).contains(rh) =>
        Some(s"$n: got rows/hash $rh, golden ${want.getOrElse(n, "missing")}")
      case _ => None
    }
    val warm = mutable.ArrayBuffer.empty[Op]
    pass(spark, -1, new Hooks(spark, null, enabled = false), warm)
    (got.size + warm.size, failures ++ warm.filterNot(_.ok).map(o => s"${o.name} failed in the warm-up pass"))
  }

  private def order(pass: Int) =
    new scala.util.Random(seed * 1000003L + pass).shuffle(queries)

  def pass(spark: SparkSession, pass: Int, hooks: Hooks, ops: mutable.ArrayBuffer[Op]): Unit =
    order(pass).zipWithIndex.foreach { case ((name, fn), pos) =>
      val idx = ops.size
      val traced = hooks.traced(pass, pos)
      hooks.begin(idx, traced)
      val t0 = System.nanoTime()
      var t1 = t0
      val ok = try {
        val df = fn(spark, dir)
        t1 = System.nanoTime()
        df.write.format("noop").mode("overwrite").save()
        true
      } catch {
        case e: Exception =>
          System.err.println(s"[perfbench] $name failed: ${e.getMessage}")
          false
      }
      val t2 = System.nanoTime()
      if (t1 == t0) t1 = t2
      hooks.end(traced)
      ops += Op(idx, pass, name, name.takeWhile(_ != '_'), t0, t1, t2, ok, traced)
    }
}

object BatchWorkload {
  val CheckClients = 3
  private val relational = Set('q', 'e', 'f')
  private val llm = Set('d', 't', 's', 'p', 'm')

  def member(workload: String, name: String): Boolean = workload match {
    case "relational" => relational(name.head)
    case "llm_pipeline" => llm(name.head) || name.startsWith("c1_")
    case _ => false
  }

  /** Approximate entries: only their row count is checked. */
  def approximate(name: String): Boolean =
    name.startsWith("q31_") || name.startsWith("q36_")

  /** (row count, hash) of a result. The hash is the sum over rows of
    * xxhash64 of the columns in name order, so it does not depend on
    * row order; floating-point values enter rounded to 12 significant
    * digits and maps as sorted JSON. */
  def digest(df: DataFrame, countOnly: Boolean): (Long, String) = {
    def norm(c: org.apache.spark.sql.Column, t: DataType): org.apache.spark.sql.Column = t match {
      case FloatType | DoubleType => format_string("%.12g", c.cast(DoubleType))
      case _: MapType => to_json(map_from_entries(array_sort(map_entries(c))))
      case _ => c
    }
    if (countOnly) (df.count(), "-")
    else {
      // Positional names: a result may repeat a column name.
      val named = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
      val cols = df.schema.fields.zipWithIndex.sortBy(_._1.name)
        .map { case (f, i) => norm(col(s"c$i"), f.dataType) }
      val r = named.select(xxhash64(cols.toSeq: _*).cast(DecimalType(38, 0)).as("h"))
        .agg(count(lit(1)), sum(col("h"))).head()
      (r.getLong(0), Option(r.getDecimal(1)).map(_.toPlainString).getOrElse("0"))
    }
  }

  def readGolden(path: String): Map[String, (Long, String)] = {
    val entry = """"([^"]+)":\s*\[(\d+),\s*"([^"]*)"\]""".r
    entry.findAllMatchIn(new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(path)), "UTF-8"))
      .map(m => m.group(1) -> (m.group(2).toLong, m.group(3))).toMap
  }
}
