package graft

import org.apache.spark.sql.SparkSession

/** The one place the shipped Spark session conf is written. Every main
  * and the test fixture build their session here, so the plans the
  * tests pin, the plans PlanDump prints, the plans Verify checks and the
  * plans Bench times all come from the same conf.
  *
  * [[builder]] returns the shipped conf for a caller that adds a
  * deployment key of its own (warehouse dir, parquet block size,
  * executor options); [[start]] builds it and sets the log level.
  */
object GraftSession {

  /** Env var holding session-conf overrides, `k=v;k2=v2`, applied last by
    * [[withExtraConf]] so a conf candidate can be timed (Bench), checked
    * against the oracle (Verify) and its plans dumped (PlanDump) through
    * the same session it would ship in. */
  private val ExtraConfEnv = "SPARK_GRAFT_EXTRA_CONF"

  /** The shipped conf: one shuffle partition per core, UTC session time,
    * no UI, and shuffled hash join allowed when its build side fits
    * (`preferSortMergeJoin=false`). The join setting was adopted from an
    * interleaved sf1 A/B: q30's two sort-merge joins become shuffled hash
    * joins (two Sort nodes gone, 0.85× wall), battery total 0.95×, no
    * query regressed beyond noise. It is scale-safe: the planner only
    * picks a shuffled hash join when the per-partition build side fits
    * its size conditions. A zstd shuffle codec was A/B'd the same way
    * and rejected (flat total, q6 1.20× and q33 1.11× regressions). */
  def builder(cpus: Int, master: String): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.join.preferSortMergeJoin", "false")

  /** The shipped conf on `local[cpus]`. */
  def builder(cpus: Int): SparkSession.Builder = builder(cpus, s"local[$cpus]")

  def start(b: SparkSession.Builder, logLevel: String = "WARN"): SparkSession = {
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    spark
  }

  /** The shipped session with [[ExtraConfEnv]]'s overrides applied. */
  def withExtraConf(cpus: Int): SparkSession =
    start(builder(cpus).config(parseConf(sys.env.getOrElse(ExtraConfEnv, ""))))

  /** Core count from SPARK_GRAFT_CPUS, else `default`. */
  def cpus(default: Int): Int =
    sys.env.get("SPARK_GRAFT_CPUS").fold(default)(_.trim.toInt)

  /** Parses `k=v;k2=v2`. Empty tokens (a trailing `;`) are skipped; a
    * token with no `=` or an empty key throws, so a mistyped candidate
    * cannot silently measure the baseline. */
  def parseConf(raw: String): Map[String, String] =
    raw.split(";").iterator.map(_.trim).filter(_.nonEmpty).map { kv =>
      val i = kv.indexOf('=')
      if (i <= 0) throw new IllegalArgumentException(
        s"$ExtraConfEnv: malformed token '$kv' (expected key=value)")
      kv.take(i).trim -> kv.drop(i + 1)
    }.toMap
}
