package graft.operators

import graft.Tables.t
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Text-analysis operators for a training-data pipeline over the
  * `documents` table: token counting, quality scoring, language ID,
  * fingerprinting. All are single-pass narrow transformations built
  * from codegen'd `functions._` expressions — at 100 TB they run
  * embarrassingly parallel with zero shuffle, and the projections
  * prune the scan to the columns used.
  */
object TextOps {

  /** Whitespace tokenization + counts. split on \s+ matches the
    * oracle's string_split_regex. */
  def tokenStats(spark: SparkSession, dir: String): DataFrame =
    tokenStatsOn(t(spark, dir, "documents"))

  /** Source-parameterized form (SQL facade entry). */
  def tokenStatsOn(docs: DataFrame): DataFrame =
    docs
      .select(
        col("doc_id"),
        size(split(trim(col("text")), "\\s+")).as("n_tokens"),
        length(col("text")).as("n_chars_measured"),
        col("n_chars"))

  /** Quality scoring: length, mean token length, stopword ratio,
    * all-alpha ratio — the standard cheap heuristics applied before
    * expensive model-based filtering. */
  def qualityScore(spark: SparkSession, dir: String): DataFrame =
    qualityScoreOn(t(spark, dir, "documents"))

  /** Source-parameterized form (SQL facade entry). */
  def qualityScoreOn(docs: DataFrame): DataFrame = {
    val toks = size(split(trim(col("text")), "\\s+"))
    val stops = size(split(col("text"), "\\bthe\\b")) - 1
    docs
      .select(
        col("doc_id"),
        col("lang"),
        length(col("text")).as("n_chars_m"),
        toks.as("n_tokens"),
        (length(col("text")).cast("double") / toks.cast("double")).as("mean_tok_len"),
        (stops.cast("double") / toks.cast("double")).as("stop_ratio"))
  }

  /** Language ID by stopword-marker counting — a deterministic n-gram
    * heuristic (real pipelines use fastText; same plan shape). The
    * marker count for language L = occurrences of L's most common
    * function word as a standalone token. */
  def langId(spark: SparkSession, dir: String): DataFrame =
    langIdOn(t(spark, dir, "documents"))

  /** Source-parameterized form (SQL facade entry). */
  def langIdOn(docs: DataFrame): DataFrame = {
    def marker(word: String) =
      (length(col("text")) - length(regexp_replace(col("text"), lit(" " + word + " "), lit("")))) /
        lit(word.length + 2)
    val en = marker("the"); val fr = marker("le"); val de = marker("der")
    val es = marker("el"); val zh = marker("de")
    docs
      .select(col("doc_id"), col("lang"),
        en.as("c_en"), fr.as("c_fr"), de.as("c_de"), es.as("c_es"), zh.as("c_zh"))
      .withColumn("predicted",
        when(col("c_en") >= greatest(col("c_fr"), col("c_de"), col("c_es"), col("c_zh")), "en")
          .when(col("c_fr") >= greatest(col("c_de"), col("c_es"), col("c_zh")), "fr")
          .when(col("c_de") >= greatest(col("c_es"), col("c_zh")), "de")
          .when(col("c_es") >= col("c_zh"), "es")
          .otherwise("zh"))
      .select(col("doc_id"), col("lang"), col("predicted"))
  }

  /** Per-language ID accuracy rollup (tests the heuristic end-to-end). */
  def langIdAccuracy(spark: SparkSession, dir: String): DataFrame =
    langId(spark, dir)
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("predicted") === col("lang"), 1).otherwise(0)).as("n_correct"))

  /** DuckDB oracle for [[langIdAccuracy]] — same marker-count formula
    * (literal replace diff / marker width) and same tie-break chain. */
  def langIdOracleSql: String = {
    def m(word: String) =
      s"(length(text) - length(replace(text, ' $word ', ''))) / ${word.length + 2}"
    s"""WITH m AS (
       |  SELECT doc_id, lang,
       |    ${m("the")} AS c_en,
       |    ${m("le")} AS c_fr,
       |    ${m("der")} AS c_de,
       |    ${m("el")} AS c_es,
       |    ${m("de")} AS c_zh
       |  FROM documents),
       |p AS (
       |  SELECT doc_id, lang,
       |    CASE WHEN c_en >= greatest(c_fr, c_de, c_es, c_zh) THEN 'en'
       |         WHEN c_fr >= greatest(c_de, c_es, c_zh) THEN 'fr'
       |         WHEN c_de >= greatest(c_es, c_zh) THEN 'de'
       |         WHEN c_es >= c_zh THEN 'es'
       |         ELSE 'zh' END AS predicted
       |  FROM m)
       |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(CASE WHEN predicted = lang THEN 1 ELSE 0 END) AS BIGINT) AS n_correct
       |FROM p GROUP BY lang""".stripMargin
  }

  /** Document fingerprint: md5 of the normalized text (lowercase,
    * alphanumeric+space only, collapsed whitespace). The idiomatic
    * exact-dup key at scale — 16 bytes/doc instead of the full text. */
  def fingerprint(spark: SparkSession, dir: String): DataFrame =
    fingerprintOn(t(spark, dir, "documents"))

  /** Source-parameterized form (SQL facade entry). Normalization is
    * the fused single-pass [[graft.functions.NormalizeAscii]] — the
    * two-regex + lower chain it replaces allocated two full-length
    * intermediates per document and was the WHOLE cost of t4 at sf10
    * (regex 24.6 s vs scan 0.25 s); byte-for-byte parity with the
    * regex form is property-pinned incl. non-BMP input. */
  def fingerprintOn(docs: DataFrame): DataFrame =
    docs
      .select(
        col("doc_id"),
        md5(graft.functions.CharNorm.normalizeAscii(col("text"))).as("fp"))

  /** t5: deterministic train/val/test split — assignment is a pure
    * function of (doc_id, salt), so it is reproducible across runs,
    * engines, and re-shards, and adding documents never reassigns
    * existing ones (the property a training pipeline needs from its
    * split). Portable 60-bit md5 hash mod 100 → 0-79 train, 80-89
    * val, 90-99 test; a narrow codegen'd expression, zero shuffle
    * until the verification groupBy. */
  def splitAssign(spark: SparkSession, dir: String, salt: String = "graft_v1"): DataFrame =
    splitAssignOn(t(spark, dir, "documents"), salt)

  /** Source-parameterized form (SQL facade: `EXECUTE OPERATOR
    * split_assign(source = …, salt = …)`). */
  def splitAssignOn(docs: DataFrame, salt: String = "graft_v1"): DataFrame = {
    val h = Dedup.portableHash(concat_ws(":", lit(salt), col("doc_id"))) % 100
    docs
      .select(col("doc_id"),
        when(h < 80, "train").when(h < 90, "val").otherwise("test").as("split"))
  }

  def splitAssignOracleSql(salt: String): String =
    s"""WITH h AS (
       |  SELECT doc_id,
       |    ('0x' || substr(md5('$salt' || ':' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 100 AS b
       |  FROM documents)
       |SELECT doc_id,
       |  CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val' ELSE 'test' END AS split
       |FROM h""".stripMargin

  /** t7: deterministic STRATIFIED SAMPLING — per-language keep rates
    * (downsample the dominant language, keep the rest whole: the
    * standard multilingual-corpus rebalancing move), decided by the
    * same salted portable hash as t5's split. A document's fate is a
    * pure function of (salt, doc_id): reproducible across runs,
    * engines and reshards, and NEVER changes as the corpus grows —
    * the property a curriculum/re-mix pipeline needs. The filter is
    * one narrow codegen'd expression, zero shuffle, pushed into the
    * scan's residual; no per-stratum pass over the data. */
  val SampleRates: Seq[(String, Int)] = // permille kept per lang
    Seq("en" -> 400, "fr" -> 1000, "de" -> 1000, "es" -> 700, "zh" -> 700)

  def stratifiedSample(spark: SparkSession, dir: String, salt: String = "graft_s1"): DataFrame =
    stratifiedSampleOn(t(spark, dir, "documents"), salt)

  /** Source-parameterized form (SQL facade entry). */
  def stratifiedSampleOn(docs: DataFrame, salt: String = "graft_s1"): DataFrame = {
    val h = Dedup.portableHash(concat_ws(":", lit(salt), col("doc_id"))) % 1000
    val rate = SampleRates.foldRight(lit(0): org.apache.spark.sql.Column) {
      case ((l, r), acc) => when(col("lang") === l, lit(r)).otherwise(acc)
    }
    docs
      .select(col("doc_id"), col("lang"))
      .filter(h < rate)
  }

  def stratifiedSampleOracleSql(salt: String): String = {
    val cases = SampleRates.map { case (l, r) => s"WHEN '$l' THEN $r" }.mkString(" ")
    s"""WITH h AS (
       |  SELECT doc_id, lang,
       |    ('0x' || substr(md5('$salt' || ':' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 1000 AS b
       |  FROM documents)
       |SELECT doc_id, lang FROM h
       |WHERE b < CASE lang $cases ELSE 0 END""".stripMargin
  }

  /** t8: per-language TOKEN-BUDGET packing — the data-mix step that
    * turns "keep rates" into "token counts": fill each language's
    * token budget in deterministic salted-hash order (same portable
    * hash as t5/t7, so the packed set is reproducible and stable
    * under reshards), keeping every document whose PRECEDING
    * cumulative token total is still under budget — the greedy fill
    * a pretraining mix actually uses. The running total is a
    * [[DistributedPrefix.sumBeforeHashOrdered]]: each language's
    * hash-ordered stream is sliced by the hash's own top bits (no
    * range sampling — the hash is uniform by construction) and
    * summed as per-slice locals + broadcast offsets, so no task ever
    * sorts a whole language however large the corpus. */
  def tokenBudget(spark: SparkSession, dir: String, budgetTokens: Long = 2000L,
                  salt: String = "graft_v1"): DataFrame =
    tokenBudgetOn(t(spark, dir, "documents"), budgetTokens, salt)

  /** Source-parameterized form (SQL facade entry). */
  def tokenBudgetOn(docs: DataFrame, budgetTokens: Long = 2000L,
                    salt: String = "graft_v1"): DataFrame = {
    val h = Dedup.portableHash(concat_ws(":", lit(salt), col("doc_id")))
    val base = docs
      .select(col("doc_id"), col("lang"),
        size(split(trim(col("text")), "\\s+")).cast("long").as("n_tokens"),
        h.as("h"))
    DistributedPrefix
      .sumBeforeHashOrdered(base, "lang", "h", "doc_id", "n_tokens", "cum_before")
      .filter(col("cum_before") < budgetTokens)
      .select(col("doc_id"), col("lang"), col("n_tokens"), col("cum_before"))
  }

  def tokenBudgetOracleSql(budgetTokens: Long, salt: String): String =
    s"""WITH d AS (
       |  SELECT doc_id, lang,
       |    CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS n_tokens,
       |    ('0x' || substr(md5('$salt' || ':' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT AS h
       |  FROM documents),
       |c AS (
       |  SELECT doc_id, lang, n_tokens,
       |    CAST(coalesce(sum(n_tokens) OVER (PARTITION BY lang ORDER BY h, doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum_before
       |  FROM d)
       |SELECT doc_id, lang, n_tokens, cum_before
       |FROM c WHERE cum_before < $budgetTokens""".stripMargin

  /** t9: corpus-statistics quality scoring — the KenLM/CCNet
    * perplexity-filter plan shape with a unigram frequency table
    * standing in for the language model: pass 1 aggregates corpus-
    * wide token frequencies (output is VOCABULARY-sized — ~10⁵ rows
    * for a BPE vocab no matter how big the corpus), pass 2 re-scans
    * the corpus, explodes tokens and BROADCAST-joins the frequency
    * table, reducing per document. Signals: mean corpus term
    * frequency (low = jargon/noise/garbage) and the rarest token's
    * frequency. Counts stay integral until one final division, so
    * the DuckDB oracle hash-matches bit-for-bit.
    *
    * 100 TB shape: the freq aggregation map-side combines to one row
    * per token per partition before its exchange; the scoring join
    * broadcasts the vocab (never shuffles the corpus on token); the
    * per-doc reduce is the only corpus-sized shuffle and its
    * aggregates are all partial-combined. */
  def corpusFreqScore(spark: SparkSession, dir: String): DataFrame =
    corpusFreqScoreOn(t(spark, dir, "documents"))

  /** Source-parameterized form (SQL facade entry). */
  def corpusFreqScoreOn(docs: DataFrame): DataFrame = {
    val toks = docs
      .select(col("doc_id"), explode(split(trim(col("text")), "\\s+")).as("tok"))
    val freq = toks.groupBy(col("tok")).agg(count(lit(1)).as("tf"))
    toks.join(broadcast(freq), "tok")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(col("tf")).as("sum_tf"),
        min(col("tf")).as("min_tf"))
      .select(col("doc_id"), col("n_tokens"), col("sum_tf"), col("min_tf"),
        (col("sum_tf").cast("double") / col("n_tokens").cast("double")).as("mean_tf"))
  }

  def corpusFreqScoreOracleSql: String =
    """WITH tk AS (
      |  SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS tok FROM documents),
      |f AS (SELECT tok, CAST(count(*) AS BIGINT) AS tf FROM tk GROUP BY tok)
      |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
      |  CAST(sum(tf) AS BIGINT) AS sum_tf, CAST(min(tf) AS BIGINT) AS min_tf,
      |  CAST(sum(tf) AS DOUBLE) / count(*) AS mean_tf
      |FROM tk JOIN f USING (tok) GROUP BY doc_id""".stripMargin

  /** t6: repetition-based quality filters — the Gopher/MassiveText
    * heuristics (Rae et al. 2021, §A1.1; the same signal family C4
    * and RefinedWeb gate on): type-token ratio, most-frequent-word
    * mass, most-frequent-bigram mass, mean word length, reduced to a
    * keep/drop flag. Repetition is THE dominant crawl-quality signal
    * a token-count filter (t1/t2) cannot see.
    *
    * Every signal is a per-document higher-order array expression
    * over one split — zero shuffle at any corpus size (PlanShapeSpec
    * pins the narrow plan). Counts stay integers until one final
    * division so the DuckDB oracle matches bit-for-bit; the O(d·n)
    * mode-count is bounded by document length, not corpus size. */
  def repetitionFilter(spark: SparkSession, dir: String): DataFrame =
    repetitionColumns(t(spark, dir, "documents"))

  /** The pure t6 transform, source-agnostic: every expression is a
    * narrow stateless projection, so the same code runs on a batch
    * frame or on a `readStream` of documents — the quality gate drops
    * straight into a streaming ingest pipeline with no rewrite
    * (StreamingSpec proves stream output set-equals batch). */
  def repetitionColumns(docs: DataFrame): DataFrame = {
    // All five integral stats in ONE pass via the native RepStats
    // kernel (graft.functions.TextHash) — the previous form ran two
    // interpreted sort+run-length folds, an array_distinct, a length
    // fold, and materialized the bigram array per document. `st` is
    // projected in its own Select: referenced 5× and non-cheap, so
    // CollapseProject cannot inline the kernel per field reference
    // (the d13 hoist guarantee). Values bit-identical (TextHashSpec).
    val base = docs
      .select(col("doc_id"),
        graft.functions.TextHash.repStats(split(trim(col("text")), "\\s+")).as("st"))
      .select(
        col("doc_id"),
        col("st.n_words").as("n_words"),
        col("st.n_distinct").as("n_distinct"),
        col("st.top_word_n").as("top_word_n"),
        col("st.top_bigram_n").as("top_bigram_n"),
        col("st.sum_word_len").as("sum_word_len"))
    base.select(
      col("doc_id"), col("n_words"),
      (col("n_distinct").cast("double") / col("n_words").cast("double")).as("ttr"),
      (col("sum_word_len").cast("double") / col("n_words").cast("double")).as("mean_word_len"),
      (col("top_word_n").cast("double") / col("n_words").cast("double")).as("top_word_frac"),
      (col("top_bigram_n").cast("double") / greatest(col("n_words") - 1, lit(1L)).cast("double"))
        .as("top_bigram_frac"))
      .withColumn("keep",
        col("mean_word_len").between(3.0, 10.0) && col("ttr") >= 0.10 &&
          col("top_word_frac") <= 0.20 && col("top_bigram_frac") <= 0.20)
  }

  /** DuckDB oracle for [[repetitionFilter]]: same tokenization, same
    * integer mode counts, same single final divisions (1-based list
    * indexing; range(1, n) is end-exclusive = Spark's
    * sequence(1, n-1)). */
  def repetitionFilterOracleSql: String =
    """WITH w AS (
      |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS ws FROM documents),
      |b AS (
      |  SELECT doc_id, ws,
      |    CASE WHEN len(ws) >= 2 THEN
      |      list_transform(range(1, len(ws)), i -> ws[i] || ' ' || ws[i + 1])
      |    ELSE [] END AS bg
      |  FROM w),
      |c AS (
      |  SELECT doc_id,
      |    CAST(len(ws) AS BIGINT) AS n_words,
      |    CAST(len(list_distinct(ws)) AS BIGINT) AS n_distinct,
      |    CAST(list_max(list_transform(list_distinct(ws),
      |      w -> len(list_filter(ws, x -> x = w)))) AS BIGINT) AS top_word_n,
      |    CAST(CASE WHEN len(bg) > 0 THEN
      |      list_max(list_transform(list_distinct(bg),
      |        b2 -> len(list_filter(bg, x -> x = b2))))
      |    ELSE 0 END AS BIGINT) AS top_bigram_n,
      |    CAST(list_sum(list_transform(ws, x -> length(x))) AS BIGINT) AS sum_word_len
      |  FROM b)
      |SELECT doc_id, n_words,
      |  CAST(n_distinct AS DOUBLE) / n_words AS ttr,
      |  CAST(sum_word_len AS DOUBLE) / n_words AS mean_word_len,
      |  CAST(top_word_n AS DOUBLE) / n_words AS top_word_frac,
      |  CAST(top_bigram_n AS DOUBLE) / greatest(n_words - 1, 1) AS top_bigram_frac,
      |  (CAST(sum_word_len AS DOUBLE) / n_words BETWEEN 3.0 AND 10.0)
      |    AND CAST(n_distinct AS DOUBLE) / n_words >= 0.10
      |    AND CAST(top_word_n AS DOUBLE) / n_words <= 0.20
      |    AND CAST(top_bigram_n AS DOUBLE) / greatest(n_words - 1, 1) <= 0.20 AS keep
      |FROM c""".stripMargin

  // ------------------------------------------------------------------
  // t10: BPE-tokenizer token counts
  // ------------------------------------------------------------------

  /** Symbol separator for the BPE working representation. U+0001 never
    * appears in the corpus (checked: zero non-printable bytes at every
    * SF) and survives both engines' string functions unmangled. */
  private val BpeSep = "\u0001"

  /** The merge table lives with the hot-path expression. */
  val BpeMerges: Seq[String] = graft.functions.Bpe.Merges

  /** Merge rules compiled to (pattern, replacement) over the
    * separator-delimited symbol string: `⟦a⟧b⟦` → `⟦ab⟧` (⟦ = U+0001).
    * Each applied merge removes exactly ONE separator character, so
    * tokens(w) = length(folded) − length(w) − 1 with no second pass
    * over the folded string. */
  private val bpeRules: Seq[(String, String)] = BpeMerges.map { m =>
    val Array(a, b) = m.split(" ")
    (BpeSep + a + BpeSep + b + BpeSep, BpeSep + a + b + BpeSep)
  }

  /** t10: MODEL-token counts per document via greedy BPE over the
    * inline merge table — the question a training-data user asks
    * first ("how many tokens is this corpus?") that the whitespace
    * counts of t1/t8 cannot answer. Tokenization semantics, identical
    * in both engines: lowercase, split on \s+, then apply each merge
    * rule once in rank order as a left-to-right non-overlapping
    * replace (Spark and DuckDB replace share these semantics, which
    * is what makes the operator oracle-hashable; the
    * one-pass-per-rule discipline undercounts only on same-pair runs
    * like "aaaa", absent from natural text).
    *
    * 100 TB shape: the merge table ships in the task binary (the
    * vocab analogue of t9's broadcast), the per-row count is ONE
    * codegen'd native expression ([[graft.functions.BpeDocTokenCount]]
    * — a zero-allocation span walk; the interpreted HOF fold it
    * replaced cost ~2 s at sf0.1), and the whole operator is a
    * narrow projection: zero shuffle at any corpus size. */
  /** Lowercased, empty-filtered word array — t10's n_words. */
  private def bpeWords: org.apache.spark.sql.Column =
    filter(split(trim(lower(col("text"))), "\\s+"), w => length(w) > lit(0))

  /** Per-document BPE token total: the native codegen'd expression.
    * Null text coalesces to 0 — the convention every oracle's LEFT
    * JOIN + coalesce emits. */
  private[operators] def bpeDocTokens: org.apache.spark.sql.Column =
    coalesce(
      org.apache.spark.sql.graft.Shims.column(
        graft.functions.BpeDocTokenCount(
          org.apache.spark.sql.graft.Shims.expression(col("text")))),
      lit(0L))

  def bpeTokenCounts(spark: SparkSession, dir: String): DataFrame =
    bpeTokenCountsOn(t(spark, dir, "documents"))

  /** Source-parameterized form (SQL facade entry). */
  def bpeTokenCountsOn(docs: DataFrame): DataFrame =
    docs
      .select(
        col("doc_id"),
        size(bpeWords).cast("long").as("n_words"),
        bpeDocTokens.as("n_bpe_tokens"))

  /** A string literal for DuckDB that may contain U+0001: emitted as
    * `chr(1)`-spliced concatenation. */
  private def duckStr(s: String): String = {
    val toks = s.split("\u0001", -1).zipWithIndex.flatMap { case (seg, i) =>
      (if (i > 0) Seq("chr(1)") else Seq.empty) ++
        (if (seg.nonEmpty) Seq(s"'$seg'") else Seq.empty)
    }
    if (toks.isEmpty) "''" else toks.mkString(" || ")
  }

  /** The rank-ordered merge fold as generated DuckDB SQL — shared by
    * every oracle that replays t10's tokenizer (t10, t8b, t11, c1). */
  private[operators] def bpeOracleFold(repr: String): String =
    bpeRules.foldLeft(repr) { case (acc, (p, r)) =>
      s"replace($acc, ${duckStr(p)}, ${duckStr(r)})"
    }

  /** The per-word separator-string representation (lambda var `w`). */
  private val bpeWordReprSql: String =
    "chr(1) || array_to_string(list_transform(range(1, length(w) + 1), " +
      "i -> substr(w, CAST(i AS INT), 1)), chr(1)) || chr(1)"

  /** The shared word-unnest + per-doc token-sum CTE pair (`wx`/`tc`) —
    * ONE definition so the four tokenizer-replaying oracles cannot
    * silently desynchronize. */
  private[operators] def bpeTokensCteSql: String = {
    val folded = bpeOracleFold(bpeWordReprSql)
    s"""wx AS (
       |  SELECT doc_id,
       |    unnest(list_filter(string_split_regex(trim(lower(text)), '\\s+'),
       |      x -> x <> '')) AS w
       |  FROM documents),
       |tc AS (
       |  SELECT doc_id, count(*) AS n_words,
       |    sum(length($folded) - length(w) - 1) AS n_bpe
       |  FROM wx GROUP BY doc_id)""".stripMargin
  }

  def bpeTokenCountsOracleSql: String =
    s"""WITH ${bpeTokensCteSql}
       |SELECT d.doc_id,
       |  CAST(coalesce(tc.n_words, 0) AS BIGINT) AS n_words,
       |  CAST(coalesce(tc.n_bpe, 0) AS BIGINT) AS n_bpe_tokens
       |FROM documents d LEFT JOIN tc ON d.doc_id = tc.doc_id""".stripMargin

  /** t8b: the t8 budget fill restated in MODEL tokens — same greedy
    * per-language salted-hash order, but the packed quantity is t10's
    * BPE count, so the budget is denominated in the unit a
    * pretraining mix actually reasons about (the round-7 verdict's
    * point: a 2000-WORD budget means nothing to a token-bought
    * training run). Same plan shape as t8: narrow per-doc token
    * expression, ONE shuffle on lang, a spillable running ROWS-frame
    * window — the t10 fold adds per-row CPU, never a shuffle. */
  def tokenBudgetBpe(spark: SparkSession, dir: String, budgetTokens: Long = 3000L,
                     salt: String = "graft_v1"): DataFrame =
    tokenBudgetBpeOn(t(spark, dir, "documents"), budgetTokens, salt)

  /** Source-parameterized form (SQL facade entry). */
  def tokenBudgetBpeOn(docs: DataFrame, budgetTokens: Long = 3000L,
                       salt: String = "graft_v1"): DataFrame = {
    val h = Dedup.portableHash(concat_ws(":", lit(salt), col("doc_id")))
    val base = docs
      .select(col("doc_id"), col("lang"), bpeDocTokens.as("n_tokens"), h.as("h"))
    DistributedPrefix
      .sumBeforeHashOrdered(base, "lang", "h", "doc_id", "n_tokens", "cum_before")
      .filter(col("cum_before") < budgetTokens)
      .select(col("doc_id"), col("lang"), col("n_tokens"), col("cum_before"))
  }

  def tokenBudgetBpeOracleSql(budgetTokens: Long, salt: String): String =
    s"""WITH ${bpeTokensCteSql},
       |d AS (
       |  SELECT dd.doc_id, dd.lang,
       |    CAST(coalesce(tc.n_bpe, 0) AS BIGINT) AS n_tokens,
       |    ('0x' || substr(md5('$salt' || ':' || CAST(dd.doc_id AS VARCHAR)), 1, 15))::BIGINT AS h
       |  FROM documents dd LEFT JOIN tc ON dd.doc_id = tc.doc_id),
       |c AS (
       |  SELECT doc_id, lang, n_tokens,
       |    CAST(coalesce(sum(n_tokens) OVER (PARTITION BY lang ORDER BY h, doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum_before
       |  FROM d)
       |SELECT doc_id, lang, n_tokens, cum_before
       |FROM c WHERE cum_before < $budgetTokens""".stripMargin

  /** t11: SEQUENCE PACKING — the final step between a curated corpus
    * and a training run: concatenate documents (per language, in the
    * same deterministic salted-hash order as t5/t7/t8) into one token
    * stream and chunk it into fixed-size training contexts; each
    * document lands at (example_id, offset) = (cum ÷ ctx, cum mod
    * ctx) of its language's stream — the GPT-style pack-and-chunk
    * where documents straddle context boundaries rather than pad.
    * All-integer outputs over t10's BPE counts, so the oracle
    * hash-matches bit-for-bit.
    *
    * 100 TB shape: identical to t8/t8b — a hash-sliced
    * [[DistributedPrefix.sumBeforeHashOrdered]] running total (no
    * per-language single-task sort); the division/modulo are free
    * row-local arithmetic on its output. */
  def sequencePack(spark: SparkSession, dir: String, ctxTokens: Long = 512L,
                   salt: String = "graft_v1"): DataFrame =
    sequencePackOn(t(spark, dir, "documents"), ctxTokens, salt)

  /** Source-parameterized form (SQL facade entry). */
  def sequencePackOn(docs: DataFrame, ctxTokens: Long = 512L,
                     salt: String = "graft_v1"): DataFrame = {
    val h = Dedup.portableHash(concat_ws(":", lit(salt), col("doc_id")))
    val base = docs
      .select(col("doc_id"), col("lang"), bpeDocTokens.as("n_tokens"), h.as("h"))
    DistributedPrefix
      .sumBeforeHashOrdered(base, "lang", "h", "doc_id", "n_tokens", "cum_before")
      .select(col("doc_id"), col("lang"), col("n_tokens"),
        // integer `div`, not double `/`+cast: exact past 2^53 tokens
        expr(s"cum_before div $ctxTokens").as("example_id"),
        (col("cum_before") % ctxTokens).as("offset"))
  }

  def sequencePackOracleSql(ctxTokens: Long, salt: String): String = {
    s"""WITH ${bpeTokensCteSql},
       |d AS (
       |  SELECT dd.doc_id, dd.lang,
       |    CAST(coalesce(tc.n_bpe, 0) AS BIGINT) AS n_tokens,
       |    ('0x' || substr(md5('$salt' || ':' || CAST(dd.doc_id AS VARCHAR)), 1, 15))::BIGINT AS h
       |  FROM documents dd LEFT JOIN tc ON dd.doc_id = tc.doc_id),
       |c AS (
       |  SELECT doc_id, lang, n_tokens,
       |    CAST(coalesce(sum(n_tokens) OVER (PARTITION BY lang ORDER BY h, doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum_before
       |  FROM d)
       |SELECT doc_id, lang, n_tokens,
       |  CAST(cum_before // $ctxTokens AS BIGINT) AS example_id,
       |  CAST(cum_before % $ctxTokens AS BIGINT) AS offset
       |FROM c""".stripMargin
  }

  /** t12: FIXED-K per-stratum sampling — "exactly k documents per
    * language", the eval-set construction t7's rate-based sampling
    * cannot give (rates yield binomial counts, not exact k).
    * Deterministic: rank by the salted portable hash (doc_id
    * tiebreak), keep rank ≤ k — the same reproducibility contract as
    * t5/t7, and adding documents only ever displaces the highest
    * hashes. Ranked by [[DistributedPrefix.rowNumberHashOrdered]]
    * (per-slice row_number + broadcast count offsets over hash-bit
    * slices), so no task ever sorts a whole language; k rows per
    * stratum survive. */
  def fixedKSample(spark: SparkSession, dir: String, k: Int = 50,
                   salt: String = "graft_k1"): DataFrame =
    fixedKSampleOn(t(spark, dir, "documents"), k, salt)

  /** Source-parameterized form (SQL facade entry). */
  def fixedKSampleOn(docs: DataFrame, k: Int = 50,
                     salt: String = "graft_k1"): DataFrame = {
    val h = Dedup.portableHash(concat_ws(":", lit(salt), col("doc_id")))
    val base = docs.select(col("doc_id"), col("lang"), h.as("h"))
    // recomputeInput: a deterministic (id, lang, md5-hash) projection
    // — re-deriving beats a corpus-scale checkpoint
    DistributedPrefix.rowNumberHashOrdered(base, "lang", "h", "doc_id", "rk",
        recomputeInput = true)
      .filter(col("rk") <= k)
      .select(col("doc_id"), col("lang"), col("rk"))
  }

  def fixedKSampleOracleSql(k: Int, salt: String): String =
    s"""WITH h AS (
       |  SELECT doc_id, lang,
       |    ('0x' || substr(md5('$salt' || ':' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT AS h
       |  FROM documents),
       |r AS (
       |  SELECT doc_id, lang,
       |    CAST(row_number() OVER (PARTITION BY lang ORDER BY h, doc_id) AS BIGINT) AS rk
       |  FROM h)
       |SELECT doc_id, lang, rk FROM r WHERE rk <= $k""".stripMargin

  /** t13: deterministic corpus SHUFFLE-SHARDING — assign every
    * document a (shard, pos) address in a reproducible random
    * permutation, the layout a training job reads (webdataset /
    * tfrecord sharding: N shard files, each internally shuffled,
    * readers stream shards independently). shard = portable hash mod
    * N gives balanced shards; pos = rank of the hash WITHIN the
    * shard gives the in-shard shuffle order. Crucially there is no
    * global sort and no single-partition window: the only wide op is
    * one shuffle on `shard`, and each window partition holds
    * ~corpus/N rows — at 100 TB you raise N to hold per-shard size
    * at the target file size (1k–100k shards) and the plan is
    * unchanged. Deterministic tie-break by doc_id. */
  def shuffleShard(spark: SparkSession, dir: String, shards: Int = 64,
                   salt: String = "graft_sh1"): DataFrame =
    shuffleShardOn(t(spark, dir, "documents"), shards, salt)

  /** Source-parameterized form (SQL facade: `EXECUTE OPERATOR
    * shuffle_shard(source = …, shards = …, salt = …)`). */
  def shuffleShardOn(docs: DataFrame, shards: Int = 64,
                     salt: String = "graft_sh1"): DataFrame = {
    val h = Dedup.portableHash(concat_ws(":", lit(salt), col("doc_id")))
    val base = docs
      .select(col("doc_id"), h.as("h"))
      .withColumn("shard", pmod(col("h"), lit(shards.toLong)).cast("long"))
    // in-shard position via the distributed rank — one shard is
    // corpus/shards rows, which a single window task would otherwise
    // sort whole however the shard count is tuned. recomputeInput:
    // the (id, hash, shard) projection is deterministic and cheap.
    DistributedPrefix.rowNumberHashOrdered(base, "shard", "h", "doc_id", "rk",
        recomputeInput = true)
      .select(col("doc_id"), col("shard"), (col("rk") - 1L).as("pos"))
  }

  def shuffleShardOracleSql(shards: Int, salt: String): String =
    s"""WITH h AS (
       |  SELECT doc_id,
       |    ('0x' || substr(md5('$salt' || ':' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT AS h
       |  FROM documents)
       |SELECT doc_id, h % $shards AS shard,
       |  CAST(row_number() OVER (PARTITION BY h % $shards ORDER BY h, doc_id) - 1 AS BIGINT) AS pos
       |FROM h""".stripMargin

  /** t13b: SHARD MANIFESTS — the per-shard index artifact a training
    * job ships beside t13's layout: doc/token/char totals plus an
    * ORDER-SENSITIVE digest of the in-shard doc sequence (md5 of the
    * doc_ids joined in pos order), which is what lets a reader
    * verify it consumed the right docs in the right order. One scan
    * and ONE exchange total: the pos window partitions by `shard`,
    * and the following groupBy is on the same key, so Catalyst
    * reuses the window's distribution for the aggregate
    * (plan-pinned). The per-shard id list materializes inside the
    * digest aggregate — bounded by shard size, which the t13 layout
    * already tunes to the target file size (raise N at 100 TB),
    * never by corpus size. */
  def shardManifest(spark: SparkSession, dir: String, shards: Int = 64,
                    salt: String = "graft_sh1"): DataFrame =
    shardManifestOn(t(spark, dir, "documents"), shards, salt)

  /** Source-parameterized form (SQL facade entry). */
  def shardManifestOn(docs: DataFrame, shards: Int = 64,
                      salt: String = "graft_sh1"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val h = Dedup.portableHash(concat_ws(":", lit(salt), col("doc_id")))
    val w = Window.partitionBy(col("shard"))
      .orderBy(col("h").asc, col("doc_id").asc)
    docs
      .select(col("doc_id"), h.as("h"),
        size(split(trim(col("text")), "\\s+")).cast("long").as("toks"),
        length(col("text")).cast("long").as("chars"))
      .withColumn("shard", pmod(col("h"), lit(shards.toLong)).cast("long"))
      .withColumn("pos", (row_number().over(w) - 1).cast("long"))
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("toks")).as("n_tokens"),
        sum(col("chars")).as("n_chars"),
        md5(array_join(
          transform(array_sort(collect_list(struct(col("pos"), col("doc_id")))),
            s => s.getField("doc_id").cast("string")),
          ",")).as("manifest_md5"))
  }

  def shardManifestOracleSql(shards: Int, salt: String): String =
    s"""WITH h AS (
       |  SELECT doc_id,
       |    ('0x' || substr(md5('$salt' || ':' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT AS h,
       |    CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS toks,
       |    CAST(length(text) AS BIGINT) AS chars
       |  FROM documents),
       |a AS (
       |  SELECT doc_id, toks, chars, h % $shards AS shard,
       |    row_number() OVER (PARTITION BY h % $shards ORDER BY h, doc_id) - 1 AS pos
       |  FROM h)
       |SELECT shard,
       |  CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(toks) AS BIGINT) AS n_tokens,
       |  CAST(sum(chars) AS BIGINT) AS n_chars,
       |  md5(string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY pos)) AS manifest_md5
       |FROM a GROUP BY shard""".stripMargin

  /** t14: MEASURED data-mixture construction — build a training mix
    * that hits target per-source proportions of a fixed document
    * budget, with keep-rates derived from the OBSERVED source sizes
    * (the DoReMi/Pile move: the mixture spec is in proportions, the
    * corpus is whatever it is, the engine closes the gap). Two
    * phases: a source-cardinality aggregate (rows = #sources, tiny)
    * joined broadcast back onto the corpus, then the same pure
    * (salt, doc_id) hash filter as t5/t7 — so membership is still
    * deterministic and growth-stable FOR A GIVEN rate table, and the
    * whole plan is one tiny agg + one broadcast join + a narrow
    * filter: 100 TB-safe, no corpus shuffle. Rates are integer ppm
    * (floor division) so Spark and the oracle agree bit-for-bit;
    * a source whose target exceeds its size caps at keep-all. */
  val MixtureWeights: Seq[(String, Int)] = // target % of the budget
    Seq("src0" -> 30, "src1" -> 25, "src2" -> 20, "src3" -> 15, "src4" -> 10)

  def mixtureSample(spark: SparkSession, dir: String, budget: Long = 60L,
                    salt: String = "graft_m1"): DataFrame =
    mixtureSampleOn(t(spark, dir, "documents"), budget, salt)

  /** Source-parameterized form (SQL facade entry). */
  def mixtureSampleOn(src: DataFrame, budget: Long = 60L,
                      salt: String = "graft_m1"): DataFrame = {
    val docs = src.select(col("doc_id"), col("source"))
    val wExpr = MixtureWeights.foldRight(lit(0L): org.apache.spark.sql.Column) {
      case ((s0, w0), acc) => when(col("source") === s0, lit(w0.toLong)).otherwise(acc)
    }
    val rates = docs.groupBy("source").agg(count(lit(1)).as("cnt"))
      .withColumn("w", wExpr)
      .filter(col("w") > 0)
      .withColumn("rate_ppm",
        least(lit(1000000L),
          expr("(1000000 * " + budget + " * w) div (100 * cnt)")))
      .select(col("source"), col("rate_ppm"))
    val h = Dedup.portableHash(concat_ws(":", lit(salt), col("doc_id"))) % 1000000L
    docs.join(broadcast(rates), "source")
      .filter(h < col("rate_ppm"))
      .select(col("doc_id"), col("source"))
  }

  def mixtureSampleOracleSql(budget: Long, salt: String): String = {
    val vals = MixtureWeights.map { case (s0, w0) => s"('$s0', $w0)" }.mkString(", ")
    s"""WITH w(source, w) AS (VALUES $vals),
       |c AS (SELECT source, count(*) AS cnt FROM documents GROUP BY source),
       |r AS (
       |  SELECT c.source,
       |    least(1000000, (1000000 * $budget * w.w) // (100 * c.cnt)) AS rate_ppm
       |  FROM c JOIN w USING (source)),
       |h AS (
       |  SELECT doc_id, source,
       |    ('0x' || substr(md5('$salt' || ':' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 1000000 AS hb
       |  FROM documents)
       |SELECT h.doc_id, h.source
       |FROM h JOIN r ON h.source = r.source
       |WHERE h.hb < r.rate_ppm""".stripMargin
  }

  /** t15: the CORPUS CARD — the per-(lang, source) summary table a
    * pipeline publishes with every dataset release (datasheet /
    * data-card row counts: docs, whitespace tokens, chars, length
    * extremes). One scan, one map-side-combined aggregate whose
    * output is #strata rows — at 100 TB this is the cheapest wide op
    * in the battery (the exchange carries a few hundred partial-agg
    * rows per task). Every output stays integral so the oracle
    * hash-matches without float formatting hazards; means/ratios are
    * the caller's division away. */
  def corpusCard(spark: SparkSession, dir: String): DataFrame =
    corpusCardOn(t(spark, dir, "documents"))

  /** Source-parameterized form (SQL facade entry). */
  def corpusCardOn(docs: DataFrame): DataFrame =
    docs
      .select(col("lang"), col("source"),
        size(split(trim(col("text")), "\\s+")).cast("long").as("toks"),
        length(col("text")).cast("long").as("chars"))
      .groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("toks")).as("n_tokens"),
        sum(col("chars")).as("n_chars_total"),
        min(col("chars")).as("min_chars"),
        max(col("chars")).as("max_chars"))

  val corpusCardOracleSql: String =
    """SELECT lang, source,
      |  count(*) AS n_docs,
      |  CAST(sum(len(string_split_regex(trim(text), '\s+'))) AS BIGINT) AS n_tokens,
      |  CAST(sum(length(text)) AS BIGINT) AS n_chars_total,
      |  CAST(min(length(text)) AS BIGINT) AS min_chars,
      |  CAST(max(length(text)) AS BIGINT) AS max_chars
      |FROM documents
      |GROUP BY lang, source""".stripMargin

  /** t16: VOCABULARY GROWTH stats — the Heaps-law datasheet row per
    * language: type count (distinct words), token count, hapax
    * legomena (corpus frequency exactly 1 — the OOV/misspelling
    * mass a tokenizer team watches), and an integer-ppm type-token
    * ratio. The word-frequency shuffle is the t9 corpus-freq shape:
    * map-side combine collapses each partition's repeats before the
    * exchange, so the shuffle carries per-partition DISTINCT words
    * (vocab-bounded, Heaps-sublinear), never the corpus token
    * stream; the second aggregate is #langs rows. The per-lang doc
    * count rides a separate #langs-row aggregate joined back
    * (broadcast). ttr_ppm uses integer `div` — exact and identical
    * in both engines, no float hash hazard. */
  def vocabStats(spark: SparkSession, dir: String): DataFrame =
    vocabStatsOn(t(spark, dir, "documents"))

  /** Source-parameterized form (SQL facade entry). */
  def vocabStatsOn(docs: DataFrame): DataFrame = {
    val freq = docs
      .select(col("lang"),
        explode(split(trim(col("text")), "\\s+")).as("w"))
      .groupBy(col("lang"), col("w"))
      .agg(count(lit(1)).as("cnt"))
    val vocab = freq.groupBy(col("lang")).agg(
      count(lit(1)).as("n_types"),
      sum(col("cnt")).as("n_tokens"),
      count_if(col("cnt") === 1).as("n_hapax"))
    val perLangDocs = docs.groupBy(col("lang")).agg(count(lit(1)).as("n_docs"))
    vocab.join(broadcast(perLangDocs), "lang")
      .select(col("lang"), col("n_docs"),
        col("n_tokens").cast("long").as("n_tokens"),
        col("n_types").cast("long").as("n_types"),
        col("n_hapax").cast("long").as("n_hapax"),
        expr("(n_types * 1000000L) div n_tokens").as("ttr_ppm"))
  }

  val vocabStatsOracleSql: String =
    """WITH words AS (
      |  SELECT lang, unnest(string_split_regex(trim(text), '\s+')) AS w
      |  FROM documents),
      |freq AS (
      |  SELECT lang, w, count(*) AS cnt FROM words GROUP BY 1, 2),
      |vocab AS (
      |  SELECT lang,
      |    CAST(count(*) AS BIGINT) AS n_types,
      |    CAST(sum(cnt) AS BIGINT) AS n_tokens,
      |    CAST(count(*) FILTER (WHERE cnt = 1) AS BIGINT) AS n_hapax
      |  FROM freq GROUP BY 1),
      |d AS (SELECT lang, count(*) AS n_docs FROM documents GROUP BY 1)
      |SELECT v.lang, d.n_docs, v.n_tokens, v.n_types, v.n_hapax,
      |  CAST((v.n_types * 1000000) // v.n_tokens AS BIGINT) AS ttr_ppm
      |FROM vocab v JOIN d USING (lang)""".stripMargin

  /** t17: BIGRAM PREDICTABILITY — per document, the fraction of
    * bigrams whose second word is the corpus-wide MOST LIKELY
    * continuation of the first (the argmax of a bigram LM trained on
    * the corpus itself). High values flag templated / boilerplate /
    * memorization-prone text the unigram signals (t2, t9) miss;
    * low values flag noise. The model is the t9 KenLM/CCNet plan
    * shape one order up: the bigram-count aggregate is map-side
    * combined to per-partition DISTINCT pairs (vocab²-bounded but
    * Zipf-sparse in practice), the per-w1 argmax window runs over
    * that vocab-sized table only (never the corpus), and the argmax
    * table broadcasts back onto the bigram stream — the corpus
    * never shuffles on words. The broadcast is SIZE-GATED on the
    * ARGMAX TABLE'S OWN row count (one row per distinct w1 — the
    * frame actually shipped): it is cached MEMORY_AND_DISK and
    * counted once, and that count decides between broadcasting it
    * and a shuffle equi-join on w1. At a 100 TB vocab the fallback
    * join is the only semantics-preserving choice — every corpus w1
    * has an argmax row, so a Zipf-head truncation would drop bigrams
    * from the output — and AQE's skew-join split handles the hot
    * stop-word keys that shuffle concentrates.
    * Ties break lexicographically on w2 in BOTH engines (binary
    * collation on the ASCII corpus). Output is integral (ppm) — no
    * float hash hazard. Docs with fewer than two tokens have no
    * bigrams and drop out in both engines. */
  def bigramPredictability(spark: SparkSession, dir: String): DataFrame =
    bigramPredictability(spark, dir, BigramModelBroadcastCap)

  /** Rows of the bigram-count model above which the per-w1 argmax
    * table stops broadcasting and joins by shuffle instead. 4M rows
    * of (w1, top_w2) short strings ≈ low hundreds of MB — the upper
    * end of a sane executor broadcast. */
  val BigramModelBroadcastCap = 4000000L

  /** `materialize = false` (tests only) skips the cache and the eager
    * result checkpoint so PlanShapeSpec can pin the operator's pure
    * declarative plan — a checkpointed result explains as LogicalRDD. */
  private[graft] def bigramPredictability(
      spark: SparkSession, dir: String, broadcastCap: Long,
      materialize: Boolean = true): DataFrame =
    bigramPredictabilityOn(t(spark, dir, "documents"), broadcastCap, materialize)

  /** Source-parameterized form (SQL facade entry). */
  def bigramPredictabilityOn(docs: DataFrame,
      broadcastCap: Long = BigramModelBroadcastCap,
      materialize: Boolean = true): DataFrame = {
    val bgs = docs
      .select(col("doc_id"), split(trim(col("text")), "\\s+").as("ws"))
      // Native WordBigrams kernel (short docs yield an empty array —
      // the retired lambda needed an explicit guard because
      // sequence(1, 0) generates a DESCENDING [1, 0]); the stream
      // feeds two consumers, so the interpreted per-position struct
      // build was paid twice. Parity pinned in PairsSpec.
      .select(col("doc_id"),
        explode(graft.functions.Pairs.wordBigrams(col("ws"))).as("bg"))
      .select(col("doc_id"), col("bg.w1").as("w1"), col("bg.w2").as("w2"))
    // Per-w1 argmax as ONE map-side-combined aggregation (round 19,
    // guide §2.3 "aggregate before you shuffle" / §2.4): the previous
    // shape ran row_number() over a w1-partitioned window — a full
    // exchange of every (w1, w2, c) model row followed by a
    // per-partition SORT, only to keep rank 1. min_by(w2,
    // struct(-c, w2)) picks the identical row (largest c, ties to the
    // lexicographically smallest w2 — exactly the window's ORDER BY
    // c DESC, w2 ASC at rn=1) inside an aggregate: partial min_by
    // runs upstream of the exchange, so the second shuffle carries
    // one candidate per (partition, w1) instead of the whole model,
    // and the sort disappears. The persist + count() broadcast probe
    // now caches and counts THIS argmax table — the frame the
    // broadcast decision is actually about (and the one the
    // BigramModelBroadcastCap scaladoc always described) — instead
    // of the strictly larger (w1, w2, c) counts model. The explicit
    // broadcast hint stays: under the cap the corpus bigram stream
    // must never be exchanged at all, which AQE's runtime SMJ→BHJ
    // rewrite cannot promise (the probe side's shuffle write has
    // already happened by the time AQE sees the build side's size).
    val best0 = bgs.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c"))
      .groupBy(col("w1"))
      .agg(min_by(col("w2"), struct((-col("c")).as("nc"), col("w2"))).as("top_w2"))
    val best =
      if (materialize)
        best0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      else best0
    try {
    val modelRows = best.count()
    val model = if (modelRows <= broadcastCap) broadcast(best) else best
    val result = bgs.join(model, "w1")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        count_if(col("w2") === col("top_w2")).as("n_predicted"))
      .select(col("doc_id"),
        col("n_bigrams").cast("long").as("n_bigrams"),
        col("n_predicted").cast("long").as("n_predicted"),
        expr("(n_predicted * 1000000L) div n_bigrams").as("predict_ppm"))
    if (materialize) result.localCheckpoint(true) else result
    } finally { if (materialize) best.unpersist(false) }
  }

  val bigramPredictabilityOracleSql: String =
    """WITH ws AS (
      |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS ws FROM documents),
      |bg AS (
      |  SELECT doc_id, unnest(list_transform(range(1, len(ws)),
      |    i -> {'w1': ws[i], 'w2': ws[i + 1]}), recursive := true)
      |  FROM ws),
      |cnt AS (SELECT w1, w2, count(*) AS c FROM bg GROUP BY 1, 2),
      |best AS (
      |  SELECT w1, w2 AS top_w2 FROM (
      |    SELECT w1, w2,
      |      row_number() OVER (PARTITION BY w1 ORDER BY c DESC, w2 ASC) AS rn
      |    FROM cnt) WHERE rn = 1)
      |SELECT doc_id,
      |  CAST(count(*) AS BIGINT) AS n_bigrams,
      |  CAST(count(*) FILTER (WHERE w2 = top_w2) AS BIGINT) AS n_predicted,
      |  CAST((count(*) FILTER (WHERE w2 = top_w2) * 1000000) // count(*) AS BIGINT)
      |    AS predict_ppm
      |FROM bg JOIN best USING (w1)
      |GROUP BY doc_id""".stripMargin

  /** t18: BPE vocabulary LEARNING (Sennrich et al. 2016) — the stage
    * that produces the merge table t10 merely applies: k rounds of
    * corpus-wide pair-count aggregate → argmax → re-segment.
    *
    * Merge-application semantics are exactly t10's separator-string
    * replace (left-to-right non-overlapping `|a|b|` → `|ab|`, so the
    * pair immediately after a merge is blocked for the rest of that
    * pass): Spark's, DuckDB's and Java's literal replace all share
    * them, which is what lets the learner have a HASH-EXACT oracle —
    * a generated k-round CTE chain replaying the identical schedule —
    * where Sennrich's overlapping re-merge would not be expressible.
    * Ties in the argmax break (count DESC, lhs ASC, rhs ASC) in both
    * engines. BpeLearnSpec pins that on a crafted weighted corpus the
    * learned table reproduces t10's [[BpeMerges]] rule-for-rule.
    *
    * 100 TB shape (round 12 — the production learner): the corpus is
    * scanned ONCE (word-frequency aggregate, map-side combined,
    * vocab-bounded shuffle), and the resulting word-frequency table —
    * vocab-bounded, MBs at ANY corpus size — is collected to the
    * driver where the k merges run locally with incremental
    * pair-count maintenance. This is the shape every production BPE
    * trainer uses (Sennrich's learn_bpe, HuggingFace tokenizers):
    * greedy BPE is inherently merge-sequential, so after the one
    * distributed pass the only scalable design is a driver-local loop
    * whose cost is independent of corpus size. The previous
    * k-distributed-rounds form was O(k) Spark jobs — right at k=12,
    * dead at a production k of 30k–50k; this one is O(k log P) driver
    * work (lazy-deletion priority queue over pair counts, only the
    * words containing the merged pair touched per round). */
  val BpeLearnRounds = 256

  /** Vocabulary-prune defaults for the learner's driver-side collect
    * (round-12 verdict: a 100 TB web corpus has 10⁸–10⁹ DISTINCT
    * words — tens of GB — so an unpruned word-frequency collect is a
    * driver OOM, and every production trainer prunes first).
    *
    *  - `BpeLearnMinCount` — drop words seen fewer times (Sennrich's
    *    `--min-frequency`; hapax/rare-word prune). 1 = keep all; the
    *    battery corpus default, and the PRODUCTION lever: the filter
    *    runs inside the distributed aggregate, and on a web corpus
    *    min_count = 2 alone removes the hapax majority of the vocab.
    *  - `BpeLearnMaxVocab` — hard top-N backstop (by count DESC,
    *    word ASC — deterministic) applied AFTER min_count, bounding
    *    the collect at N rows no matter the corpus. Runs as
    *    TakeOrderedAndProject: per-partition bounded heaps, one
    *    final-N reducer, N rows to the driver. 0 disables.
    *
    * A merge table learned from the pruned vocabulary equals the
    * table learned from a corpus lacking the pruned words entirely —
    * rare tails contribute pair counts below any winning argmax until
    * k is extreme, which is why the trainers prune. Battery results
    * are unchanged at the defaults (31-word vocab ≪ 2²⁰;
    * BpeLearnSpec pins capped == uncapped there AND the prune
    * actually dropping words on a crafted corpus). */
  val BpeLearnMinCount = 1L
  val BpeLearnMaxVocab: Int = 1 << 20

  def bpeLearn(spark: SparkSession, dir: String,
               rounds: Int = BpeLearnRounds,
               minCount: Long = BpeLearnMinCount,
               maxVocab: Int = BpeLearnMaxVocab): DataFrame =
    bpeLearnOn(t(spark, dir, "documents"), rounds, minCount, maxVocab)

  def bpeLearnOn(docs: DataFrame, rounds: Int,
                 minCount: Long = BpeLearnMinCount,
                 maxVocab: Int = BpeLearnMaxVocab): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    learnMergesFromDocs(docs, rounds, minCount, maxVocab)
      .toDF("merge_rank", "lhs", "rhs", "pair_count")
  }

  /** The full learn pipeline returning the driver-local merge table:
    * one corpus pass (the [[bpeInitialSegs]] aggregate — the ONLY
    * distributed work), then [[localBpeMerges]]. The collect is
    * bounded: ≤ `maxVocab` rows (see [[BpeLearnMaxVocab]]). */
  private[operators] def learnMergesFromDocs(
      docs: DataFrame, rounds: Int,
      minCount: Long = BpeLearnMinCount,
      maxVocab: Int = BpeLearnMaxVocab): Seq[(Long, String, String, Long)] = {
    val wf = bpeInitialSegs(docs, minCount, maxVocab).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    localBpeMerges(wf, rounds)
  }

  /** Unsigned-byte lexicographic comparison of the UTF-8 encodings —
    * the collation DuckDB's ORDER BY and Spark's UTF8String both use
    * for the argmax tie-break. Java String.compareTo (UTF-16 code
    * units) differs for supplementary-plane characters adjacent to
    * U+E000–U+FFFF, so the driver-local learner must NOT use it
    * (round-11 ADVICE). */
  private[operators] def utf8Less(a: String, b: String): Boolean = {
    val x = a.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val y = b.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    var i = 0
    while (i < x.length && i < y.length) {
      val d = (x(i) & 0xff) - (y(i) & 0xff)
      if (d != 0) return d < 0
      i += 1
    }
    x.length < y.length
  }

  /** Driver-local greedy BPE over a (separator-form word, weight)
    * frequency table — the merge-sequential half of the learner,
    * incremental like the production trainers:
    *
    *  - pair counts are maintained in a hash map, updated only for
    *    the words a merge actually touches (a postings map pair →
    *    word-ids says which those are; stale entries are lazily
    *    skipped via a contains() check);
    *  - the argmax is a lazy-deletion priority queue: every count
    *    update pushes a fresh (count, l, r) entry, pops discard
    *    entries whose count no longer matches — O(log P) per update
    *    instead of an O(P) scan per round;
    *  - merge application is Java String.replace on the separator
    *    form — the exact left-to-right non-overlapping semantics
    *    (including the blocked-pair-after-a-merge quirk) that
    *    DuckDB's replace() and the native [[graft.functions.Bpe]]
    *    span walk share, which is what keeps the k-round oracle
    *    chain hash-exact;
    *  - ties break (count DESC, lhs ASC, rhs ASC) in UTF-8 byte
    *    order on both engines ([[utf8Less]]).
    *
    * Stops early when no pair remains (a small corpus "dries" before
    * a production k — the oracle chain goes empty the same round). */
  private[operators] def localBpeMerges(
      wordFreqs: Seq[(String, Long)],
      rounds: Int): Seq[(Long, String, String, Long)] = {
    import scala.collection.mutable
    val segs = wordFreqs.map(_._1).toArray
    val ws = wordFreqs.map(_._2).toArray
    val pairCount = mutable.HashMap.empty[(String, String), Long]
    val postings = mutable.HashMap.empty[(String, String), mutable.BitSet]
    // Max count first, then lhs/rhs ascending in UTF-8 byte order.
    val ord = Ordering.fromLessThan[(Long, String, String)] { (p, q) =>
      if (p._1 != q._1) p._1 < q._1
      else if (p._2 != q._2) utf8Less(q._2, p._2)
      else utf8Less(q._3, p._3)
    }
    val queue = mutable.PriorityQueue.empty[(Long, String, String)](ord)
    def pairsOf(seg: String): Array[(String, String)] = {
      val ls = seg.split(BpeSep).filter(_.nonEmpty)
      Array.tabulate(math.max(0, ls.length - 1))(i => (ls(i), ls(i + 1)))
    }
    def bump(p: (String, String), delta: Long): Unit = {
      val c = pairCount.getOrElse(p, 0L) + delta
      if (c <= 0L) pairCount.remove(p)
      else {
        pairCount(p) = c
        queue.enqueue((c, p._1, p._2))
      }
    }
    var i = 0
    while (i < segs.length) {
      pairsOf(segs(i)).foreach { p =>
        bump(p, ws(i))
        postings.getOrElseUpdate(p, mutable.BitSet.empty) += i
      }
      i += 1
    }
    val merges = mutable.ArrayBuffer.empty[(Long, String, String, Long)]
    var r = 0
    var dried = false
    while (r < rounds && !dried) {
      // Pop to the first queue entry whose count is still current.
      var best: Option[(String, String, Long)] = None
      while (best.isEmpty && queue.nonEmpty) {
        val (c, l, rr) = queue.dequeue()
        if (pairCount.get((l, rr)).contains(c)) best = Some((l, rr, c))
      }
      best match {
        case None => dried = true
        case Some((l, rr, c)) =>
          merges += ((r + 1L, l, rr, c))
          val pat = BpeSep + l + BpeSep + rr + BpeSep
          val rep = BpeSep + l + rr + BpeSep
          val holders = postings.remove((l, rr)).getOrElse(mutable.BitSet.empty)
          holders.foreach { idx =>
            val old = segs(idx)
            if (old.contains(pat)) { // skip lazily-stale postings
              pairsOf(old).foreach(p => bump(p, -ws(idx)))
              val neu = old.replace(pat, rep)
              segs(idx) = neu
              pairsOf(neu).foreach { p =>
                bump(p, ws(idx))
                postings.getOrElseUpdate(p, mutable.BitSet.empty) += idx
              }
            }
          }
      }
      r += 1
    }
    merges.toSeq
  }

  /** The learner's ONLY corpus-scale pass: the word-frequency table in
    * separator-string form. Words carrying the separator char are
    * excluded on both sides (none exist in the testdata; keeps the
    * encoding total on arbitrary corpora). */
  private[operators] def bpeInitialSegs(
      docs: DataFrame,
      minCount: Long = BpeLearnMinCount,
      maxVocab: Int = BpeLearnMaxVocab): DataFrame = {
    val counted = docs
      .select(explode(split(trim(lower(col("text"))), "\\s+")).as("word"))
      .filter(length(col("word")) > 0 && !col("word").contains(BpeSep))
      .groupBy(col("word")).agg(count(lit(1)).as("n"))
    // prune BEFORE the driver collect: min_count inside the aggregate
    // output (distributed filter), then the deterministic top-N
    // backstop (count DESC, word ASC ties) as TakeOrderedAndProject
    val pruned =
      if (minCount > 1L) counted.filter(col("n") >= minCount) else counted
    val capped =
      if (maxVocab > 0) pruned.orderBy(col("n").desc, col("word").asc)
        .limit(maxVocab)
      else pruned
    capped.select(
      concat(lit(BpeSep),
        regexp_replace(col("word"), "(.)", "$1" + BpeSep)).as("seg"),
      col("n"))
  }

  /** The learner's k-round CTE chain (s0, b1/s1, …, b_k/s_k) —
    * shared by the t18 oracle and the t19 learned-apply oracle so
    * the two cannot silently desynchronize. CTEs are MATERIALIZED
    * (DuckDB-only syntax; this SQL never runs in Spark): the default
    * inlining re-evaluates the whole chain for every reference —
    * O(k²) chain re-runs took the oracle from seconds to minutes.
    *
    * Two structural choices exist purely to survive a production k
    * under DuckDB's binder limits (max expression depth 1000 counts
    * the CTE dependency chain):
    *  - TWO CTEs per round, not three — the pair-count subquery is
    *    inlined into the argmax CTE b_k;
    *  - s_k carries b_k as coalesced scalar subqueries with a chr(2)
    *    sentinel instead of a cross join, so when the corpus DRIES
    *    (b_k empty — guaranteed at k=256 on a 31-word vocab) s_k is
    *    an exact no-op copy of s_{k-1} rather than going empty: the
    *    chain stays populated for t19's final-segmentation join and
    *    later b rounds stay empty exactly like the driver-local
    *    learner's early stop (round-11 ADVICE dry-safety, now the
    *    REQUIRED behavior rather than a latent edge). */
  private def bpeLearnCtes(rounds: Int): String = {
    val sb = new StringBuilder
    sb ++= s"""WITH s0 AS MATERIALIZED (
      |  SELECT chr(1) || array_to_string(list_transform(range(1, length(word) + 1),
      |      i -> substr(word, CAST(i AS INT), 1)), chr(1)) || chr(1) AS seg,
      |    CAST(count(*) AS BIGINT) AS n
      |  FROM (SELECT unnest(list_filter(string_split_regex(trim(lower(text)), '\\s+'),
      |      x -> x <> '' AND NOT contains(x, chr(1)))) AS word FROM documents)
      |  GROUP BY 1)""".stripMargin
    for (k <- 1 to rounds) {
      sb ++= s""",
        |b$k AS MATERIALIZED (
        |  SELECT l, r, CAST(sum(n) AS BIGINT) AS c FROM (
        |    SELECT n, ls[i] AS l, ls[i + 1] AS r FROM (
        |      SELECT n, ls, unnest(range(1, len(ls))) AS i FROM (
        |        SELECT n, list_filter(string_split(seg, chr(1)), x -> x <> '') AS ls
        |        FROM s${k - 1})))
        |  GROUP BY l, r ORDER BY c DESC, l ASC, r ASC LIMIT 1),
        |s$k AS MATERIALIZED (SELECT replace(seg,
        |    coalesce((SELECT chr(1) || l || chr(1) || r || chr(1) FROM b$k), chr(2)),
        |    coalesce((SELECT chr(1) || l || r || chr(1) FROM b$k), chr(2))) AS seg, n
        |  FROM s${k - 1})""".stripMargin
    }
    sb.toString
  }

  /** The learner replayed as a generated k-round DuckDB CTE chain —
    * identical segmentation encoding, pair extraction, tie-break and
    * replace schedule, so the driver's hash compare is exact. */
  def bpeLearnOracleSql(rounds: Int = BpeLearnRounds): String =
    bpeLearnCtes(rounds) + (1 to rounds).map(k =>
      s"SELECT CAST($k AS BIGINT) AS merge_rank, l AS lhs, r AS rhs, c AS pair_count FROM b$k")
      .mkString("\n", "\nUNION ALL ", "")

  /** t19: tokenize with the LEARNED merges — the learn→apply closure
    * of the tokenizer pipeline: per-document token counts under the
    * corpus's OWN learned vocabulary (t18's table), not t10's canned
    * one. The real pipeline shape: a vocab is learned once per
    * corpus, then applied to every document.
    *
    * 100 TB shape (round 12): the learning phase is t18's (one
    * corpus pass + driver-local merges); the k learned rules then
    * ride into the task closure as ONE reference object inside the
    * generalized native [[graft.functions.BpeDocTokenCount]]
    * expression (rule loop is data, not plan — the k-literal
    * replace-fold it replaced grew the Catalyst tree and codegen
    * linearly in k, failing exactly at a production 30k–50k vocab),
    * and the application is ONE narrow codegen'd per-document
    * projection — zero shuffle at any corpus size and any k. */
  def bpeLearnedTokens(spark: SparkSession, dir: String,
                       rounds: Int = BpeLearnRounds): DataFrame =
    bpeLearnedTokensOn(t(spark, dir, "documents"), rounds)

  /** Source-parameterized form (SQL facade entry). */
  def bpeLearnedTokensOn(docs: DataFrame,
                         rounds: Int = BpeLearnRounds,
                         minCount: Long = BpeLearnMinCount,
                         maxVocab: Int = BpeLearnMaxVocab): DataFrame = {
    val merges = learnMergesFromDocs(docs, rounds, minCount, maxVocab)
      .sortBy(_._1).map(m => (m._2, m._3))
    bpeApplyMergesOn(docs, merges)
  }

  /** t10's apply shape parameterized by an arbitrary merge table:
    * the generalized native span-walk expression, codegen'd, rules
    * shipped as a reference object. BpeLearnSpec pins it against
    * [[bpeApplyMergesFoldOn]] — the independent separator-string
    * replace-fold implementation of the same semantics — and against
    * t10's canned-table path.
    *
    * Corpora are assumed U+0001-free (documented at t10): the fold
    * path drops separator-carrying words to stay total, the native
    * walk counts them as opaque symbols; none exist in any input
    * this library reads. */
  private[operators] def bpeApplyMergesOn(docs: DataFrame,
                                          merges: Seq[(String, String)]): DataFrame = {
    val words = filter(split(trim(lower(col("text"))), "\\s+"),
      w => length(w) > lit(0) && !w.contains(BpeSep))
    val tokens = coalesce(
      org.apache.spark.sql.graft.Shims.column(
        graft.functions.BpeDocTokenCount(
          org.apache.spark.sql.graft.Shims.expression(col("text")), merges)),
      lit(0L))
    docs.select(
      col("doc_id"),
      size(words).cast("long").as("n_words"),
      tokens.as("n_tokens"))
  }

  /** The replace-fold form of [[bpeApplyMergesOn]] — kept as the
    * spec's independent reference implementation (HOF fold over
    * literal patterns; interpreted, k-sized plan — NOT the
    * production path). */
  private[operators] def bpeApplyMergesFoldOn(docs: DataFrame,
                                              merges: Seq[(String, String)]): DataFrame = {
    val words = filter(split(trim(lower(col("text"))), "\\s+"),
      w => length(w) > lit(0) && !w.contains(BpeSep))
    def perWord(w: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
      val repr = concat(lit(BpeSep), regexp_replace(w, "(.)", "$1" + BpeSep))
      val folded = merges.foldLeft(repr) { case (acc, (l, r)) =>
        replace(acc, lit(BpeSep + l + BpeSep + r + BpeSep),
          lit(BpeSep + l + r + BpeSep))
      }
      // Each applied merge removes exactly one separator char, so
      // tokens = length(folded) − length(word) − 1 (same identity as
      // t10's fold).
      (length(folded) - length(w) - lit(1)).cast("long")
    }
    docs.select(
      col("doc_id"),
      size(words).cast("long").as("n_words"),
      coalesce(aggregate(words, lit(0L), (acc, w) => acc + perWord(w)), lit(0L))
        .as("n_tokens"))
  }

  /** t19 oracle: the learner chain's FINAL segmentation table joined
    * back onto the word unnest — a word's learned token count is the
    * symbol count of its final segmentation, so no per-word replay
    * of the merge schedule is needed at all. (The previous form
    * replayed all k merges as a nested replace fold per word; at a
    * production k that nests past DuckDB's binder recursion limit —
    * this form is O(1) expression depth regardless of k.) The join
    * key strips the separators: a segment string with chr(1) removed
    * IS its word, and s0 was grouped by seg, so the join is 1:1.
    * Dry-safety comes from the chain itself: s_k after drying is a
    * no-op copy (see [[bpeLearnCtes]]), never empty. */
  def bpeLearnedTokensOracleSql(rounds: Int = BpeLearnRounds): String = {
    s"""${bpeLearnCtes(rounds)},
       |wx AS (
       |  SELECT doc_id,
       |    unnest(list_filter(string_split_regex(trim(lower(text)), '\\s+'),
       |      x -> x <> '' AND NOT contains(x, chr(1)))) AS w
       |  FROM documents),
       |tc AS (
       |  SELECT doc_id, count(*) AS n_words,
       |    sum(len(list_filter(string_split(s.seg, chr(1)), x -> x <> ''))) AS n_tok
       |  FROM wx JOIN s$rounds s ON replace(s.seg, chr(1), '') = wx.w
       |  GROUP BY doc_id)
       |SELECT d.doc_id,
       |  CAST(coalesce(tc.n_words, 0) AS BIGINT) AS n_words,
       |  CAST(coalesce(tc.n_tok, 0) AS BIGINT) AS n_tokens
       |FROM documents d LEFT JOIN tc ON d.doc_id = tc.doc_id""".stripMargin
  }

  /** The t10 tokenizer as a plain Scala function — the single source
    * of truth the spec pins both engines against. */
  private[operators] def bpeTokenCountScala(word: String): Int = {
    // Locale.ROOT like Bpe.docTokens — default-locale lowercasing
    // diverges on e.g. Turkish dotless-i JVMs
    val w = word.toLowerCase(java.util.Locale.ROOT)
    val repr = BpeSep + w.toCharArray.mkString(BpeSep) + BpeSep
    val folded = bpeRules.foldLeft(repr) { case (acc, (p, r)) => acc.replace(p, r) }
    folded.length - w.length - 1
  }
}
