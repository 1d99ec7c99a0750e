package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{FloatType, TimestampNTZType}

/** Deterministic local scale-up generator for the driver testdata
  * (TESTDATA.md). Produces an sfN directory with the same ten tables,
  * the same schemas (including TIMESTAMP_NTZ micros on disk and
  * `array<float>` embeddings), the same value domains (so every
  * battery literal stays non-vacuous), and the same structural
  * quirks that the pipeline operators' costs depend on:
  *
  *  - documents: 30-word vocabulary, 10–100 words/doc, ~5% of docs
  *    are a near-duplicate of an earlier doc (base text + " dup"),
  *    lang skewed 41% en / ~15% each zh,de,fr,es, 20 sources;
  *  - embeddings: unit-norm 64-d float vectors with a weak label
  *    cluster signal (own-centroid cosine ≈ 0.07, matching sf0.1);
  *  - events: arrival-ordered timestamps over the same 30-day window
  *    (so the window density grows with sf, as a real stream would),
  *    ~Exp(50) values, 10%-of-customer-count distinct users;
  *  - lineitem/orders: uniform key draws (Poisson-ish lines/order).
  *
  * Randomness is xxhash64-derived from (id, salt) — fully
  * deterministic, distributed, and codegen'd; no per-row RNG state.
  * region/nation are copied from the reference sf0.1 (fixed tables).
  *
  * Correctness at sf1 is self-consistent (Spark and the DuckDB
  * oracle read the SAME files), so the generator's job is fidelity
  * of shape, not bit-identity with the driver's generator.
  *
  * ADVERSARIAL-SKEW MODE (`skew` third arg; round-14 verdict task 3):
  * the benign generator never stresses the census caps, salting and
  * adaptive bits that ARE the 100 TB story, so this mode plants the
  * pathologies they exist for — all still fully deterministic:
  *
  *  - documents: heavy-tailed (zipf-ish) word counts — the p99 doc is
  *    ~100× the median, the max ~5000 words (straggler-task and
  *    posting-list stress for d2/d13/t8's budget scans);
  *  - documents: ~5% of docs are BYTE-IDENTICAL copies of one viral
  *    boilerplate text (one mega band-key/fp bucket — the exact shape
  *    MaxBandBucket/MaxShingleDf drop-whole tiers are documented
  *    for), on top of the usual ~5% near-dup tail;
  *  - documents: one mega-language — 90% en (per-language prefix
  *    machinery degrades to one giant group for t8's budgets);
  *  - lineitem: ONE hot l_orderkey carrying ~30% of all rows (AQE
  *    skew-join stress, q33's shape at corpus scale);
  *  - embeddings: a near-identical cluster of min(10k, n/2) vectors
  *    (pairwise cosine ≈ 1 — every hyperplane sign agrees, so finer
  *    adaptive bits CANNOT split it; d5/d10 must take their census-
  *    cap representative-star tier, not enumerate ~10k²/2 pairs).
  *
  * Usage: graft.DataGen <outDir> [scale] [skew]   (scale=1.0 → sf1)
  */
object DataGen {
  private val BaseDir = "/root/testdata/sf0.1"

  /** Uniform double in [0,1) derived from hashed columns. */
  private def u(salt: Int, cols: Column*): Column =
    pmod(xxhash64((cols :+ lit(salt)): _*), lit(1000000007L)) / 1000000007.0

  /** Uniform int in [0, n) derived from hashed columns. */
  private def h(salt: Int, n: Int, cols: Column*): Column =
    pmod(xxhash64((cols :+ lit(salt)): _*), lit(n.toLong)).cast("int")

  /** Standard normal via Box–Muller from two hash-uniforms. */
  private def gauss(salt: Int, cols: Column*): Column = {
    val u1 = u(salt, cols: _*) + lit(1e-9)
    val u2 = u(salt + 7919, cols: _*)
    sqrt(lit(-2.0) * log(u1)) * cos(lit(2.0 * math.Pi) * u2)
  }

  private def pick(vals: Seq[String], salt: Int, cols: Column*): Column =
    element_at(array(vals.map(lit): _*), h(salt, vals.size, cols: _*) + 1)

  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val scale = if (args.length > 1) args(1).toDouble else 1.0
    val skewed = args.length > 2 && args(2).equalsIgnoreCase("skew")
    // ~20 MB row groups: a single-file table still scans in
    // parallel (Spark assigns row groups to byte-range splits) —
    // the multi-row-group layout a pyarrow-style generator
    // produces, and the shape a real large table always has.
    val spark = GraftSession.start(GraftSession.builder(GraftSession.cpus(8))
      .config("spark.hadoop.parquet.block.size", (20 * 1024 * 1024).toString))
    new java.io.File(outDir).mkdirs()
    write(spark, outDir, scale, skewed)
    spark.stop()
  }

  /** Writes all ten tables; returns per-table row counts. */
  def write(spark: SparkSession, outDir: String, scale: Double,
            skewed: Boolean = false): Map[String, Long] = {
    val nCust = (150000 * scale).toLong
    val nSupp = (10000 * scale).toLong
    val nPart = (200000 * scale).toLong
    val nOrd = (1500000 * scale).toLong
    val nLine = (6000000 * scale).toLong
    val nEvt = (1000000 * scale).toLong
    val nDoc = (50000 * scale).toLong
    val nEmb = (20000 * scale).toLong
    val nUser = math.max(1L, nCust / 10)

    def ids(n: Long) = spark.range(0, n, 1, 32)

    // Fixed dimension tables: copy the driver's own values verbatim.
    val region = spark.read.parquet(s"$BaseDir/region.parquet")
    val nation = spark.read.parquet(s"$BaseDir/nation.parquet")

    val customer = ids(nCust).select(
      col("id").as("c_custkey"),
      format_string("Customer#%09d", col("id")).as("c_name"),
      h(11, 25, col("id")).as("c_nationkey"),
      round(lit(-1000.0) + u(12, col("id")) * 11000.0, 2).as("c_acctbal"),
      pick(Seq("AUTOMOBILE", "HOUSEHOLD", "FURNITURE", "MACHINERY", "BUILDING"),
        13, col("id")).as("c_mktsegment"))

    val supplier = ids(nSupp).select(
      col("id").as("s_suppkey"),
      format_string("Supplier#%09d", col("id")).as("s_name"),
      h(21, 25, col("id")).as("s_nationkey"),
      round(lit(-1000.0) + u(22, col("id")) * 11000.0, 2).as("s_acctbal"))

    val adjs = Seq("small", "red", "new", "blue", "old", "cold", "large", "hot")
    val nouns = Seq("gizmo", "ring", "gear", "bolt", "plate", "rod", "widget", "anvil")
    val part = ids(nPart).select(
      col("id").as("p_partkey"),
      concat(pick(adjs, 31, col("id")), lit(" "), pick(nouns, 32, col("id"))).as("p_name"),
      format_string("Brand#%d", h(33, 25, col("id")) + 1).as("p_brand"),
      pick(Seq("ECONOMY", "MEDIUM", "LARGE", "STANDARD", "PROMO", "SMALL"),
        34, col("id")).as("p_type"),
      (h(35, 50, col("id")) + 1).as("p_size"),
      round(lit(900.0) + pmod(col("id"), lit(1000L)) * 0.1, 1).as("p_retailprice"))

    // o_orderdate: uniform days over [1995-01-01, 2001-08-01], midnight NTZ.
    val orders = ids(nOrd).select(
      col("id").as("o_orderkey"),
      h(41, nCust.toInt.max(1), col("id")).cast("long").as("o_custkey"),
      pick(Seq("O", "P", "F"), 42, col("id")).as("o_orderstatus"),
      round(lit(1000.0) + u(43, col("id")) * 499000.0, 2).as("o_totalprice"),
      date_add(to_date(lit("1995-01-01")), h(44, 2404, col("id")))
        .cast(TimestampNTZType).as("o_orderdate"),
      pick(Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"),
        45, col("id")).as("o_orderpriority"))

    // Skew mode: one hot order key (42) draws ~30% of all lineitem
    // rows — the canonical skew-join pathology AQE's skew split and
    // q34-style salting exist for.
    val lOrderkey =
      if (skewed)
        when(u(62, col("id")) < 0.30, lit(42L))
          .otherwise(h(51, nOrd.toInt.max(1), col("id")).cast("long"))
      else h(51, nOrd.toInt.max(1), col("id")).cast("long")
    val lineitem = ids(nLine).select(
      lOrderkey.as("l_orderkey"),
      h(52, nPart.toInt.max(1), col("id")).cast("long").as("l_partkey"),
      h(53, nSupp.toInt.max(1), col("id")).cast("long").as("l_suppkey"),
      (h(54, 7, col("id")) + 1).as("l_linenumber"),
      (h(55, 50, col("id")) + 1).cast("double").as("l_quantity"),
      round(lit(900.0) + u(56, col("id")) * 104100.0, 2).as("l_extendedprice"),
      round(h(57, 11, col("id")) * 0.01, 2).as("l_discount"),
      round(h(58, 9, col("id")) * 0.01, 2).as("l_tax"),
      pick(Seq("A", "N", "R"), 59, col("id")).as("l_returnflag"),
      pick(Seq("O", "F"), 60, col("id")).as("l_linestatus"),
      date_add(to_date(lit("1995-01-02")), h(61, 2498, col("id")))
        .cast(TimestampNTZType).as("l_shipdate"))

    // events: draw uniform instants over a fixed 30-day window, then
    // order by time and number sequentially — the driver data is
    // arrival-ordered with event_id monotone in ts. Micros precision.
    // 2024-01-01T00:00:00Z in epoch micros; session tz is UTC so the
    // timestamp_micros→NTZ cast preserves the wall-clock instant.
    val winStartMicros = 1704067200000000L
    val evtRaw = ids(nEvt).select(
      col("id"),
      timestamp_micros(lit(winStartMicros) +
        (u(71, col("id")) * 2592000.0 * 1e6).cast("long"))
        .cast(TimestampNTZType).as("ts"),
      h(72, nUser.toInt.max(1), col("id")).cast("long").as("user_id"),
      pick(Seq("view", "click", "signup", "purchase", "error"), 73, col("id"))
        .as("event_type"),
      round(least(lit(-50.0) * log(lit(1.0) - u(74, col("id")) + lit(1e-12)),
        lit(999.0)), 2).as("value"),
      format_string("{\"k\": %d}", h(75, 100, col("id"))).as("props"))
    val events = evtRaw
      .withColumn("event_id",
        row_number().over(org.apache.spark.sql.expressions.Window.orderBy("ts", "id"))
          .cast("long") - 1)
      .select("event_id", "ts", "user_id", "event_type", "value", "props")

    // documents: 30-word vocab, 10–100 words, ~5% near-dups of an
    // earlier doc (base text + " dup") — same shape the d-series
    // dedup operators were tuned on at sf0.1.
    val vocab = Seq("a", "agg", "batch", "big", "column", "customer", "data",
      "fast", "filter", "group", "hash", "join", "key", "line", "merge",
      "order", "part", "query", "row", "scan", "slow", "small", "sort",
      "spark", "stream", "table", "the", "value", "vector", "window")
    val vocabCol = array(vocab.map(lit): _*)
    // Word count per doc: benign = uniform 10–100; skew = zipf-ish
    // heavy tail 10–5000 via inverse-power sampling (u^-0.8 scaled so
    // the median stays ~30 words but p99 runs to thousands — the
    // straggler-task / mega-posting-list shape real crawl corpora
    // have and uniform draws never produce).
    val nWords =
      if (skewed)
        least(lit(5000), lit(9) + floor(lit(17.0) *
          pow(lit(1.0) - u(81, col("id")) + lit(1e-9), lit(-0.8))).cast("int"))
      else h(81, 91, col("id")) + 9
    // Viral boilerplate (skew only): ~5% of docs are BYTE-IDENTICAL —
    // one mega fp/band-key bucket for the census caps to handle.
    val viralText = (0 until 40)
      .map(i => vocab((i * 2654435761L % 30).toInt)).mkString(" ")
    val baseDocs = ids(nDoc).select(
      col("id").as("doc_id"),
      array_join(transform(sequence(lit(0), nWords),
        i => element_at(vocabCol, pmod(xxhash64(col("id"), i, lit(82)), lit(30L)).cast("int") + 1)),
        " ").as("text0"),
      (u(83, col("id")) < 0.05 && col("id") > 0).as("is_dup"),
      (lit(skewed) && u(88, col("id")) < 0.05 && col("id") > 0).as("is_viral"),
      pmod(xxhash64(col("id"), lit(84)), greatest(col("id"), lit(1L))).as("base_id"),
      when(u(85, col("id")) < (if (skewed) 0.90 else 0.41), "en")
        .otherwise(pick(Seq("zh", "de", "fr", "es"), 86, col("id"))).as("lang"),
      format_string("src%d", h(87, 20, col("id"))).as("source"))
    val bases = baseDocs.select(col("doc_id").as("b_id"), col("text0").as("b_text"))
    val documents = baseDocs
      .join(broadcast_if_small(bases, nDoc), col("base_id") === col("b_id"), "left")
      .select(
        col("doc_id"),
        when(col("is_viral"), lit(viralText))
          .otherwise(when(col("is_dup"), concat(col("b_text"), lit(" dup")))
            .otherwise(col("text0"))).as("text"),
        col("lang"), col("source"))
      .withColumn("n_chars", length(col("text")).cast("long"))

    // embeddings: unit-norm 64-d with weak label clusters (cos≈0.07).
    // Skew mode: the first min(10k, n/2) vectors form a NEAR-IDENTICAL
    // cluster — one shared gaussian direction plus 0.1%-scale private
    // noise (pairwise cosine ≈ 0.999998). Every hyperplane sign
    // agrees across the cluster, so adaptive-bit refinement cannot
    // split it: d5/d10 must survive via their census-cap
    // representative-star tier instead of ~10k²/2 pair enumeration.
    val dim = 64
    val clusterN = math.min(10000L, nEmb / 2)
    def rawExpr(idc: Column) =
      transform(sequence(lit(0), lit(dim - 1)),
        j => gauss(91, idc, j) + lit(0.07) * gauss(92, pmod(idc, lit(10L)), j))
    val clusterExpr =
      transform(sequence(lit(0), lit(dim - 1)),
        j => gauss(94, lit(0L), j) + lit(0.001) * gauss(95, col("id"), j))
    val raw = ids(nEmb).select(
      col("id").as("vec_id"),
      (if (skewed) when(col("id") < clusterN, clusterExpr).otherwise(rawExpr(col("id")))
       else rawExpr(col("id"))).as("rawv"),
      h(93, 10, col("id")).as("label"))
    val embeddings = raw.select(
      col("vec_id"),
      transform(col("rawv"), x =>
        (x / sqrt(aggregate(col("rawv"), lit(0.0), (acc, v) => acc + v * v)))
          .cast(FloatType)).as("embedding"),
      col("label"))

    val tables: Seq[(String, DataFrame)] = Seq(
      "region" -> region, "nation" -> nation, "customer" -> customer,
      "supplier" -> supplier, "part" -> part, "orders" -> orders,
      "lineitem" -> lineitem, "events" -> events, "documents" -> documents,
      "embeddings" -> embeddings)

    tables.map { case (name, df) =>
      val tmp = s"$outDir/.tmp_$name"
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      // Single FILE per table, like the driver's layout ({dir}/{t}.parquet
      // is a file there) — keeps DuckDB's read_parquet and the schema
      // cache behavior identical between the sf dirs.
      val partFile = new java.io.File(tmp).listFiles()
        .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
        .getOrElse(sys.error(s"no part file written for $name"))
      val dest = new java.io.File(s"$outDir/$name.parquet")
      if (dest.exists()) dest.delete()
      if (!partFile.renameTo(dest)) sys.error(s"rename failed for $name")
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
      val n = spark.read.parquet(dest.getPath).count()
      println(s"[datagen] $name: $n rows -> ${dest.getPath}")
      name -> n
    }.toMap
  }

  /** Broadcast the dedup-base side only while it comfortably fits —
    * at larger scales let AQE pick; the join is 1:1 on a unique key. */
  private def broadcast_if_small(df: DataFrame, n: Long): DataFrame =
    if (n <= 2000000L) broadcast(df) else df
}
