package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Loaders for the driver-provided testdata tables (TESTDATA.md).
  *
  * At cluster scale these would be catalog tables (Parquet/Delta);
  * reading straight from parquet keeps the Catalyst source V2 path —
  * filter pushdown + column pruning reach the scan unchanged.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Schema cache keyed by (path, mtime). Without an explicit schema,
    * EVERY spark.read.parquet launches a footer-inference job at
    * DataFrame-build time (verified with the status tracker — one job
    * even for a single file); with it, building a scan costs zero
    * jobs. A battery query builds each of its tables once per run, so
    * this removes a ~50–100 ms job per table per query. The mtime in
    * the key makes in-place regeneration safe: rewriting a parquet at
    * the same path serves the NEW schema on the next load instead of a
    * stale one for the JVM lifetime (the round-10 testdata regen
    * realized exactly that hazard). The stat is a ~µs local call. */
  private val schemaCache =
    new java.util.concurrent.ConcurrentHashMap[String, StructType]()

  /** (mtime, length) stamp: mtime alone has ms (sometimes whole-s)
    * granularity, so a regeneration landing in the same tick would
    * serve the stale schema — the length narrows that window to
    * same-tick AND same-size (round-11 ADVICE). */
  private def stampOf(path: String): String = {
    val f = new java.io.File(path)
    if (f.exists) s"${f.lastModified}:${f.length}" else "-1"
  }

  private def cachedSchema(spark: SparkSession, path: String): StructType = {
    val key = s"$path@${stampOf(path)}"
    val hit = schemaCache.get(key)
    if (hit != null) hit
    else {
      val schema = spark.read.parquet(path).schema
      // One live generation per path: drop prior stamps so repeated
      // in-place regenerations (the localverify/bench loop) don't
      // accumulate unboundedly.
      schemaCache.keySet.removeIf(_.startsWith(path + "@"))
      schemaCache.put(key, schema)
      schema
    }
  }

  /** Opt-in HOT-TABLE mode for the small-query floor: q2/q29-class
    * queries on local[32] are dominated by the fixed cost of a cold
    * parquet scan job (~70–100 ms) against a native engine's ~80 µs
    * point read (BASELINE.md names cached-hot-table serving as the
    * mitigation). Enabling pins the named tables as in-memory
    * columnar caches (materialized eagerly, so the first query isn't
    * the loading pass) and [[t]] serves them for every later read of
    * the same (dir, table). Deliberately NOT default-on: the round-2
    * controlled experiment showed blanket caching makes string-heavy
    * operators up to 40× slower once the storage pool churns, so the
    * battery's recorded numbers stay cold-scan honest and the mode is
    * a serving-layer switch ([[Bench]] honors SPARK_GRAFT_HOT_TABLES;
    * README records cold AND warm). Scope to the RELATIONAL tables —
    * corpus text/embeddings are the churn case. */
  private val hotTables =
    new java.util.concurrent.ConcurrentHashMap[String, DataFrame]()

  /** Default hot set: the TPC-H-ish relational tables (dims + facts),
    * not the corpus text/media tables. */
  val defaultHotSet: Seq[String] =
    Seq("region", "nation", "customer", "supplier", "part", "orders", "lineitem")

  def enableHotTables(spark: SparkSession, dir: String,
                      names: Seq[String] = defaultHotSet): Unit =
    names.filterNot(_ == "events").foreach { n =>
      hotTables.computeIfAbsent(s"$dir/$n", _ => {
        val df = t(spark, dir, n)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        df.count()
        df
      })
    }

  def disableHotTables(): Unit = {
    hotTables.values.forEach(df => { df.unpersist(blocking = false); () })
    hotTables.clear()
  }

  def t(spark: SparkSession, dir: String, name: String): DataFrame = {
    val hot = hotTables.get(s"$dir/$name")
    if (hot != null) hot
    else if (name == "events") {
      // Two on-disk generations of events.ts exist: TIMESTAMP(NANOS)
      // (rejected by Spark's parquet reader — PARQUET_TYPE_ILLEGAL —
      // so it must be read as a long via nanosAsLong and truncated to
      // µs) and plain timestamp[us] (current driver testdata). Branch
      // on the LOADED dtype rather than assuming either; the round-10
      // hard-coded nanos path broke 21/113 battery entries when the
      // driver regenerated the data as µs.
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val path = s"$dir/events.parquet"
      normalizeEventTs(
        spark.read.schema(cachedSchema(spark, path)).parquet(path))
    } else {
      val path = s"$dir/$name.parquet"
      spark.read.schema(cachedSchema(spark, path)).parquet(path)
    }
  }

  /** Normalize `ts` to a session-tz TIMESTAMP whatever the on-disk
    * generation shows after load:
    *  - nanos long (TIMESTAMP(NANOS) read via nanosAsLong) → truncate
    *    to µs (the DuckDB oracles use epoch_us(ts), which truncates
    *    identically);
    *  - TIMESTAMP_NTZ (pandas-written timestamp[us], naive) → cast to
    *    TIMESTAMP — value-preserving under the UTC session timezone
    *    every entry point sets, and required because watermarks and
    *    unix_micros reject NTZ;
    *  - already TIMESTAMP → as-is.
    * Shared by the batch loader and the streaming reader. */
  def normalizeEventTs(df: DataFrame): DataFrame =
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        df.withColumn("ts", col("ts").cast(org.apache.spark.sql.types.TimestampType))
      case _ => df
    }

  /** Raw events schema (on-disk: nanos-long or µs timestamp) for the
    * streaming reader, which must declare the on-disk schema, not the
    * converted one. Callers normalize with [[normalizeEventTs]]. */
  def rawEventsSchema(spark: SparkSession, dir: String): StructType = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    cachedSchema(spark, s"$dir/events.parquet")
  }

  /** Register every table as a temp view (for SQL-path queries).
    * Idempotent per (session, dir) and cached: a battery run calls
    * this from every facade query, and re-registering re-reads ten
    * parquet footers each time — measured at ~0.5–1 s per call, which
    * dominated f2-style short queries. A different dir re-registers
    * (last one wins, same as before). */
  private val registeredDir =
    java.util.Collections.synchronizedMap(
      new java.util.WeakHashMap[SparkSession, String]())

  def registerAll(spark: SparkSession, dir: String): Unit =
    if (registeredDir.get(spark) != dir) {
      // Per-table fault isolation: one unreadable parquet must cost
      // ONLY the queries that read that table (its view is simply
      // absent → "table not found" for those queries), not every
      // facade-routed query. Round 10 lost documents-only operators
      // to an events-table schema drift through this exact path.
      var allClean = true
      all.foreach { n =>
        try t(spark, dir, n).createOrReplaceTempView(n)
        catch {
          case e: Exception =>
            allClean = false
            // Drop any stale view from a previous dir: failing loudly
            // beats silently serving the previous catalog's data.
            spark.catalog.dropTempView(n)
            System.err.println(
              s"[graft] WARNING: table '$n' unreadable at $dir — " +
                s"queries over it will fail: ${String.valueOf(e.getMessage).take(200)}")
        }
      }
      // Record the dir ONLY on a clean sweep: a partial registration
      // must retry on the next call, so a parquet fixed in place gets
      // its view back instead of staying dropped for the JVM lifetime
      // while preflight reports all-healthy (round-11 ADVICE). A
      // partial sweep also CLEARS any previous record — the catalog
      // is now a mix of dirs, so the next call for either dir must
      // do a full re-register, not an idempotence skip.
      if (allClean) registeredDir.put(spark, dir)
      else registeredDir.remove(spark)
    }

  /** Load preflight: attempt a scan-build of every table, returning
    * (table, error) for each unreadable one. Zero jobs per healthy
    * table (schema comes from the cache path); used by Bench to print
    * one loud line per broken table before the battery starts. */
  def preflight(spark: SparkSession, dir: String): Seq[(String, String)] =
    all.flatMap { n =>
      try { t(spark, dir, n).schema; None }
      catch { case e: Exception =>
        Some((n, String.valueOf(e.getMessage).take(200))) }
    }
}
