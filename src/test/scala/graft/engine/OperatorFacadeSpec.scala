package graft.engine

import graft.{SparkFixture, Tables}
import graft.operators.{Dedup, Pii, Similarity, TextOps}
import org.scalatest.funsuite.AnyFunSuite

/** EXECUTE OPERATOR — the SQL facade over the pipeline operator
  * library (graft.engine.Operators). Pins: result parity with the
  * Scala entry points (defaults and explicit args), both the
  * `query` (DataFrame) and `execute` (Payload) routes, engine-table
  * resolution for `source`, and every argument-parsing error the
  * facade promises (unknown operator / unknown argument / missing
  * required / malformed pair). */
class OperatorFacadeSpec extends AnyFunSuite {

  private lazy val spark = SparkFixture.session
  private val dir = SparkFixture.Sf0001
  private lazy val g = { Tables.registerAll(spark, dir); new Engine(spark) }

  private def rows(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(_.toSeq).toSet

  test("exact_dedup via facade matches the Scala entry point (default source)") {
    val got = rows(g.query("EXECUTE OPERATOR exact_dedup(source = 'documents')"))
    assert(got == rows(Dedup.exactDedup(spark, dir)) && got.nonEmpty)
  }

  test("no-paren and empty-paren forms both run with defaults") {
    val a = rows(g.query("EXECUTE OPERATOR exact_dedup"))
    val b = rows(g.query("EXECUTE OPERATOR exact_dedup()"))
    assert(a == b && a == rows(Dedup.exactDedup(spark, dir)))
  }

  test("numeric and string arguments parse and reach the operator") {
    val viaSql = rows(g.query(
      "EXECUTE OPERATOR minhash_lsh(source = 'documents', min_sim = 0.5, max_bucket = 10)"))
    assert(viaSql == rows(Dedup.minhashLsh(spark, dir, 0.5, 10)))
    val salted = rows(g.query(
      "EXECUTE OPERATOR split_assign(salt = 'other_salt')"))
    assert(salted == rows(TextOps.splitAssign(spark, dir, "other_salt")))
    assert(salted != rows(TextOps.splitAssign(spark, dir)))
  }

  test("execute() returns the rows as a Select payload") {
    g.execute("EXECUTE OPERATOR brute_topk(source = 'embeddings', qid = 3, k = 5)") match {
      case Payload.Select(cols, rs) =>
        assert(cols == Seq("vec_id", "cos_sim") && rs.size == 5)
        val direct = Similarity.bruteTopK(spark, dir, 3L, 5)
          .collect().map(_.toSeq).toSeq
        assert(rs == direct)
      case other => fail(s"expected Select payload, got $other")
    }
  }

  test("source resolves through the engine's table rules (db.tbl)") {
    g.execute("DROP DATABASE IF EXISTS opdb")
    val loc = java.nio.file.Files.createTempDirectory("graft_opdb").toFile.getAbsolutePath
    g.execute(s"CREATE DATABASE opdb LOCATION '$loc'")
    g.execute("CREATE TABLE opdb.docs AS SELECT doc_id, text FROM documents WHERE doc_id < 100")
    val got = rows(g.query("EXECUTE OPERATOR pii_scan(source = 'opdb.docs')"))
    val direct = rows(Pii.piiScanOn(spark.table("documents")
      .filter(org.apache.spark.sql.functions.col("doc_id") < 100)))
    assert(got == direct && got.nonEmpty)
    g.execute("DROP DATABASE opdb")
  }

  test("SHOW OPERATORS lists every registered operator with its params") {
    g.execute("SHOW OPERATORS") match {
      case Payload.Select(cols, rows) =>
        assert(cols == Seq("operator", "description", "parameters"))
        assert(rows.map(_.head) == Operators.all.keys.toSeq.sorted)
        val bpe = rows.find(_.head == "bpe_learn").get
        assert(bpe(2).toString.contains("rounds = "))
        val ivf = rows.find(_.head == "ivf_topk").get
        assert(ivf(2).toString.contains("dir (required)"))
      case other => fail(s"expected Select payload, got $other")
    }
  }

  test("EXPLAIN OPERATOR surfaces the plan shape without running the operator") {
    g.execute("EXPLAIN OPERATOR token_budget(source = 'documents')") match {
      case Payload.Select(cols, rs) =>
        assert(cols == Seq("plan"))
        val text = rs.map(_.head.toString)
        assert(text.head == "== Shape ==")
        val shape = text.takeWhile(_.nonEmpty)
        assert(shape.exists(_.startsWith("scans: ")))
        assert(shape.exists(_.startsWith("exchanges: ")))
        assert(shape.exists(_.startsWith("broadcast joins: ")))
        assert(shape.exists(_.startsWith("pushed filters: ")))
        // the full formatted plan follows the summary
        assert(text.exists(_.contains("== Physical Plan ==")))
      case other => fail(s"expected Select payload, got $other")
    }
    // argument handling is EXECUTE's: same errors, same defaults
    assert(intercept[EngineException](
      g.execute("EXPLAIN OPERATOR nope()")).getMessage.contains("unknown operator"))
    assert(intercept[EngineException](
      g.execute("EXPLAIN OPERATOR token_budget(bogus = 1)"))
      .getMessage.contains("unknown argument"))
  }

  test("EXPLAIN OPERATOR shows a pushed filter for a pushdown operator") {
    g.execute("EXPLAIN OPERATOR percentiles(source = 'lineitem')") match {
      case Payload.Select(_, rs) =>
        val text = rs.map(_.head.toString)
        val shape = text.takeWhile(_.nonEmpty)
        // q30 drops NULL values before ranking — the IsNotNull filter
        // must reach the scan and be visible in the summary line
        assert(shape.exists(l => l.startsWith("pushed filters: ") && l.contains("IsNotNull")),
          s"expected a pushed IsNotNull in:\n${shape.mkString("\n")}")
      case other => fail(s"expected Select payload, got $other")
    }
  }

  /** Round 14: the rest of the top-expensive battery set is
    * EXPLAIN-visible — the plan facts README argues from (shuffle
    * counts, no accidental cartesians, census-before-collect shapes)
    * surfaced to the SQL-only user for d2/d6/d9 like round 13 did for
    * q30/d13/s11. */
  private def shapeOf(stmt: String): Seq[String] =
    g.execute(stmt) match {
      case Payload.Select(cols, rs) =>
        assert(cols == Seq("plan"))
        val text = rs.map(_.head.toString)
        assert(text.head == "== Shape ==")
        assert(text.exists(_.contains("== Physical Plan ==")))
        text.takeWhile(_.nonEmpty)
      case other => fail(s"expected Select payload, got $other")
    }

  private def shapeInt(shape: Seq[String], key: String): Int =
    shape.find(_.startsWith(s"$key: "))
      .map(_.stripPrefix(s"$key: ").trim.toInt)
      .getOrElse(fail(s"no '$key:' line in:\n${shape.mkString("\n")}"))

  test("EXPLAIN OPERATOR ngram_jaccard (d2): distributed shape, no cartesian") {
    val shape = shapeOf(
      "EXPLAIN OPERATOR ngram_jaccard(source = 'documents', threshold = 0.5)")
    // posting-list equi-join machinery: shuffles yes, cartesian never;
    // the plan fronts the capped-posting-list lazy checkpoint, so the
    // summary must surface that boundary instead of "scans: 0" alone
    assert(shapeInt(shape, "exchanges") > 0, shape.mkString("\n"))
    assert(shapeInt(shape, "checkpoint scans") > 0, shape.mkString("\n"))
  }

  test("EXPLAIN OPERATOR dup_groups (d6): star-contraction shape surfaces") {
    val shape = shapeOf(
      "EXPLAIN OPERATOR dup_groups(source = 'documents', min_sim = 0.25)")
    // d6 iterates at CONSTRUCTION time (label-propagation rounds run
    // to produce the returned frame — documented in Engine.explain),
    // so its EXPLAIN surfaces the final round's plan, fronted by the
    // last contraction checkpoint — visible as a materialization
    // boundary, not hidden as "scans: 0"
    assert(shapeInt(shape, "exchanges") > 0, shape.mkString("\n"))
    assert(shapeInt(shape, "checkpoint scans") > 0, shape.mkString("\n"))
  }

  test("EXPLAIN OPERATOR canonical_select (d9): election shape surfaces") {
    val shape = shapeOf(
      "EXPLAIN OPERATOR canonical_select(source = 'documents', min_sim = 0.25)")
    assert(shapeInt(shape, "exchanges") > 0, shape.mkString("\n"))
    assert(shapeInt(shape, "scans") > 0, shape.mkString("\n"))
  }

  test("EXPLAIN OPERATOR exact_substring (d14): posting shape with the gram cache visible") {
    val shape = shapeOf(
      "EXPLAIN OPERATOR exact_substring(source = 'documents')")
    // d14 (like d2/d6) materializes at construction time: its
    // returned frame reads the final posting-merge checkpoint, so the
    // honest surfaced plan is that boundary — a checkpoint scan, not
    // a hidden "scans: 0" — and never a cartesian. The summary must
    // also carry the cached-scans metric (the gram cache's surface
    // for plans that front an InMemoryRelation instead).
    assert(shapeInt(shape, "checkpoint scans") > 0, shape.mkString("\n"))
    assert(shape.exists(_.startsWith("cached scans: ")), shape.mkString("\n"))
    assert(!shape.exists(_.contains("CartesianProduct")), shape.mkString("\n"))
  }

  test("EXPLAIN INSERT: g3's constraint-batch VALUES plan shows every check, stage-free") {
    g.execute("DROP DATABASE IF EXISTS xg3")
    val loc = java.nio.file.Files.createTempDirectory("graft_xg3").toFile.getAbsolutePath
    g.execute(s"CREATE DATABASE xg3 LOCATION '$loc'")
    g.execute(
      """CREATE TABLE xg3.u (id INTEGER AUTO_INCREMENT,
        |name TEXT NOT NULL UNIQUE, score FLOAT DEFAULT 2.5)""".stripMargin)
    // g3's exact batch shape: a VALUES INSERT into the
    // AUTO_INCREMENT + NOT NULL + UNIQUE + DEFAULT table. VALUES is
    // statically bounded, so the plan must stage nothing — the batch
    // is collected once and filled on the driver — while listing every
    // constraint pass it will run.
    val shape = shapeOf("EXPLAIN INSERT INTO xg3.u (name) VALUES ('a'), ('b')")
    assert(shape.exists(_ == "target: xg3.u"), shape.mkString("\n"))
    assert(shape.exists(l => l.startsWith("staging: none — bounded batch")),
      shape.mkString("\n"))
    assert(shape.exists(_ == "auto_increment: id (driver row-order fill)"), shape.mkString("\n"))
    assert(shape.exists(_ == "not_null checks: [name]"), shape.mkString("\n"))
    assert(shape.exists(_ == "unique checks: [name]"), shape.mkString("\n"))
    assert(shape.exists(_ == "unique check name: driver key probe"), shape.mkString("\n"))
    // dry run: nothing written, auto counter untouched
    assert(g.query("SELECT count(*) AS n FROM xg3.u").head.getLong(0) == 0L)
    g.execute("INSERT INTO xg3.u (name) VALUES ('a')")
    assert(g.query("SELECT id FROM xg3.u").head.getAs[Number](0).longValue() == 1L,
      "EXPLAIN INSERT must not consume auto-increment ids")
    g.execute("DROP DATABASE xg3")
  }

  test("EXPLAIN INSERT: g7's bulk path plans stage-free with the auto fill visible") {
    g.execute("DROP DATABASE IF EXISTS xpdb")
    val loc = java.nio.file.Files.createTempDirectory("graft_xpdb").toFile.getAbsolutePath
    g.execute(s"CREATE DATABASE xpdb LOCATION '$loc'")
    g.execute("CREATE TABLE xpdb.li (id INTEGER AUTO_INCREMENT, okey INTEGER, qty FLOAT)")
    // g7's exact batch shape: INSERT…SELECT off a deterministic narrow
    // scan — the staging policy must plan NO checkpoint (re-reads
    // identically from lineage) while the auto-increment fill shows.
    val shape = shapeOf(
      "EXPLAIN INSERT INTO xpdb.li (okey, qty) SELECT l_orderkey, l_quantity FROM lineitem")
    assert(shape.exists(_ == "target: xpdb.li"), shape.mkString("\n"))
    assert(shape.exists(l => l.startsWith("staging: none — deterministic narrow batch")),
      shape.mkString("\n"))
    assert(shape.exists(_.startsWith("auto_increment: id")), shape.mkString("\n"))
    // a shuffled batch flips the decision: ORDER BY forces an exchange
    // upstream of the auto fill, so the plan must stage
    val shuffled = shapeOf(
      "EXPLAIN INSERT INTO xpdb.li (okey, qty) " +
        "SELECT l_orderkey, l_quantity FROM lineitem ORDER BY l_quantity")
    assert(shuffled.exists(l => l.startsWith("staging: lazy 2-replica disk localCheckpoint")),
      shuffled.mkString("\n"))
    // each UNIQUE column names its check: fresh auto ids take the
    // stored-range probe, any other key the distributed group-by
    g.execute("CREATE TABLE xpdb.pk (id INTEGER AUTO_INCREMENT PRIMARY KEY, okey INTEGER UNIQUE)")
    val keyed = shapeOf("EXPLAIN INSERT INTO xpdb.pk (okey) SELECT l_orderkey FROM lineitem")
    assert(keyed.exists(_ == "unique check id: fresh auto ids: stored-range probe"),
      keyed.mkString("\n"))
    assert(keyed.exists(_ == "unique check okey: distributed group-by"), keyed.mkString("\n"))
    // dry run: nothing was written
    assert(g.query("SELECT count(*) AS n FROM xpdb.li").head.getLong(0) == 0L)
    g.execute("DROP DATABASE xpdb")
  }

  test("EXPLAIN <identifier> beats keyword-prefix collisions (round-14 ADVICE)") {
    // A table whose NAME merely begins with a dispatcher keyword
    // (insert_log, selection, operator_log, with_t) must hit the
    // describe-object branch, as the reference's EXPLAIN <table>
    // does — not be parsed as an INSERT/SELECT/OPERATOR statement.
    g.execute("DROP DATABASE IF EXISTS xkw")
    val loc = java.nio.file.Files.createTempDirectory("graft_xkw").toFile.getAbsolutePath
    g.execute(s"CREATE DATABASE xkw LOCATION '$loc'")
    val prevDb = spark.catalog.currentDatabase // shared session — restore below
    g.execute("USE xkw")
    try {
      for (t <- Seq("insert_log", "selection", "operator_log", "with_t")) {
        g.execute(s"CREATE TABLE xkw.$t (id INTEGER, note TEXT)")
        val Payload.Select(cols, rows) = g.execute(s"EXPLAIN $t"): @unchecked
        assert(cols.head == "column", s"$t routed to the wrong branch: $cols")
        assert(rows.map(_.head) == Seq("id", "note"), s"$t: $rows")
      }
      // The real statement forms still route: keyword + whitespace.
      val Payload.Select(h, _) = g.execute(
        "EXPLAIN SELECT 1 AS one"): @unchecked
      assert(h == Seq("plan"))
    } finally {
      g.execute(s"USE `$prevDb`")
      g.execute("DROP DATABASE xkw")
    }
  }

  test("unknown operator names what is available") {
    val e = intercept[EngineException](g.query("EXECUTE OPERATOR no_such_op()"))
    assert(e.getMessage.contains("unknown operator") &&
      e.getMessage.contains("exact_dedup"))
  }

  test("unknown argument names the expected ones") {
    val e = intercept[EngineException](
      g.query("EXECUTE OPERATOR exact_dedup(bogus = 1)"))
    assert(e.getMessage.contains("unknown argument bogus") &&
      e.getMessage.contains("source"))
  }

  test("missing required argument is an error (ivf_topk needs dir)") {
    val e = intercept[EngineException](g.query("EXECUTE OPERATOR ivf_topk(k = 5)"))
    assert(e.getMessage.contains("missing required argument dir"))
  }

  test("malformed argument pair is an error") {
    val e = intercept[EngineException](
      g.query("EXECUTE OPERATOR exact_dedup(documents)"))
    assert(e.getMessage.contains("name = value"))
  }

  test("round-11 battery routes match their Scala entry points (d6, d14, t13)") {
    assert(rows(g.query(
      "EXECUTE OPERATOR dup_groups(source = 'documents', min_sim = 0.25)"))
      == rows(Dedup.dupGroups(spark, dir)))
    assert(rows(g.query("EXECUTE OPERATOR exact_substring(source = 'documents')"))
      == rows(Dedup.exactSubstring(spark, dir)))
    assert(rows(g.query(
      "EXECUTE OPERATOR shuffle_shard(source = 'documents', shards = 64, salt = 'graft_sh1')"))
      == rows(TextOps.shuffleShard(spark, dir)))
  }

  test("bpe_learn routes with a rounds argument") {
    val got = g.query("EXECUTE OPERATOR bpe_learn(source = 'documents', rounds = 3)")
      .collect().map(_.toSeq)
    assert(got.length == 3 &&
      got.toSeq == graft.operators.TextOps.bpeLearn(spark, dir, 3)
        .collect().map(_.toSeq).toSeq)
  }

  test("ivf_topk routes with its dir argument") {
    val got = rows(g.query(s"EXECUTE OPERATOR ivf_topk(dir = '$dir', qid = 0, k = 10)"))
    assert(got == rows(Similarity.ivfTopK(spark, dir, 0L, 10)) && got.size == 10)
  }

  /** Round 12: the registry covers the whole pipeline library — every
    * new registration gets a route-parity check against its Scala
    * entry point on the same data (table-driven; empty-and-equal
    * would be vacuous, so non-emptiness is asserted where the
    * sf0.001 corpus produces rows). */
  private lazy val routeParity: Seq[(String, String, org.apache.spark.sql.DataFrame, Boolean)] = Seq(
    ("percentiles", "EXECUTE OPERATOR percentiles(source = 'lineitem')",
      graft.operators.CoreQueries.q30Percentiles(spark, dir), true),
    ("ngram_jaccard", "EXECUTE OPERATOR ngram_jaccard(source = 'documents', threshold = 0.5)",
      Dedup.ngramJaccard(spark, dir), true),
    ("simhash_dups", "EXECUTE OPERATOR simhash_dups(source = 'documents')",
      Dedup.simhashDups(spark, dir), true),
    ("embedding_dup", "EXECUTE OPERATOR embedding_dup(source = 'embeddings', threshold = 0.4)",
      Dedup.embeddingDup(spark, dir, 0.4), false),
    ("incremental_dedup", s"EXECUTE OPERATOR incremental_dedup(dir = '$dir')",
      Dedup.incrementalDedup(spark, dir), true),
    ("contamination", "EXECUTE OPERATOR contamination(source = 'documents')",
      Dedup.contamination(spark, dir), true),
    ("canonical_select", "EXECUTE OPERATOR canonical_select(source = 'documents')",
      Dedup.canonicalSelect(spark, dir), true),
    ("semantic_dedup", s"EXECUTE OPERATOR semantic_dedup(dir = '$dir', threshold = 0.4)",
      Similarity.semanticDedup(spark, dir, 0.4), false),
    ("paragraph_dedup", "EXECUTE OPERATOR paragraph_dedup(source = 'documents')",
      Dedup.paragraphDedup(spark, dir), true),
    ("winnow_dups", "EXECUTE OPERATOR winnow_dups(source = 'documents')",
      Dedup.winnowDups(spark, dir), true),
    ("span_minhash", "EXECUTE OPERATOR span_minhash(source = 'documents')",
      Dedup.spanMinhashDups(spark, dir), true),
    ("ann_lsh", "EXECUTE OPERATOR ann_lsh(source = 'embeddings', qid = 0, k = 10)",
      Similarity.annLsh(spark, dir, 0L, 10), true),
    ("lsh_buckets", "EXECUTE OPERATOR lsh_buckets(source = 'embeddings')",
      Similarity.lshBucketStats(spark, dir), true),
    ("ann_multiprobe", "EXECUTE OPERATOR ann_multiprobe(source = 'embeddings', qid = 0, k = 10)",
      Similarity.annMultiProbe(spark, dir, 0L, 10), true),
    ("batch_knn", "EXECUTE OPERATOR batch_knn(source = 'embeddings', n_queries = 8, k = 5)",
      Similarity.batchKnn(spark, dir, 8, 5), true),
    ("ivf_batch_knn", s"EXECUTE OPERATOR ivf_batch_knn(dir = '$dir', n_queries = 8, k = 5)",
      Similarity.ivfBatchKnn(spark, dir, 8, 5), true),
    ("pq_topk", s"EXECUTE OPERATOR pq_topk(dir = '$dir', qid = 0, k = 10)",
      Similarity.pqTopK(spark, dir, 0L, 10), true),
    ("pq_rerank", s"EXECUTE OPERATOR pq_rerank(dir = '$dir', qid = 0, k = 10, candidates = 50)",
      Similarity.pqRerank(spark, dir, 0L, 10, 50), true),
    ("sq_topk", "EXECUTE OPERATOR sq_topk(source = 'embeddings', qid = 0, k = 10)",
      Similarity.sqTopK(spark, dir, 0L, 10), true),
    ("ivfpq_topk", s"EXECUTE OPERATOR ivfpq_topk(dir = '$dir', qid = 0, k = 10)",
      Similarity.ivfPqTopK(spark, dir, 0L, 10), true),
    ("token_stats", "EXECUTE OPERATOR token_stats(source = 'documents')",
      TextOps.tokenStats(spark, dir), true),
    ("fingerprint", "EXECUTE OPERATOR fingerprint(source = 'documents')",
      TextOps.fingerprint(spark, dir), true),
    ("bpe_tokens", "EXECUTE OPERATOR bpe_tokens(source = 'documents')",
      TextOps.bpeTokenCounts(spark, dir), true),
    ("learned_tokens", "EXECUTE OPERATOR learned_tokens(source = 'documents', rounds = 8)",
      TextOps.bpeLearnedTokens(spark, dir, 8), true),
    ("corpus_card", "EXECUTE OPERATOR corpus_card(source = 'documents')",
      TextOps.corpusCard(spark, dir), true),
    // round 12b: the rest of the library surface
    ("quality_score", "EXECUTE OPERATOR quality_score(source = 'documents')",
      TextOps.qualityScore(spark, dir), true),
    ("lang_id", "EXECUTE OPERATOR lang_id(source = 'documents')",
      TextOps.langId(spark, dir), true),
    ("repetition_filter", "EXECUTE OPERATOR repetition_filter(source = 'documents')",
      TextOps.repetitionFilter(spark, dir), true),
    ("stratified_sample", "EXECUTE OPERATOR stratified_sample(source = 'documents', salt = 'graft_s1')",
      TextOps.stratifiedSample(spark, dir), true),
    ("token_budget", "EXECUTE OPERATOR token_budget(source = 'documents', budget_tokens = 2000)",
      TextOps.tokenBudget(spark, dir), true),
    ("bpe_budget", "EXECUTE OPERATOR bpe_budget(source = 'documents', budget_tokens = 3000)",
      TextOps.tokenBudgetBpe(spark, dir), true),
    ("corpus_freq", "EXECUTE OPERATOR corpus_freq(source = 'documents')",
      TextOps.corpusFreqScore(spark, dir), true),
    ("sequence_pack", "EXECUTE OPERATOR sequence_pack(source = 'documents', ctx_tokens = 512)",
      TextOps.sequencePack(spark, dir), true),
    ("fixed_k_sample", "EXECUTE OPERATOR fixed_k_sample(source = 'documents', k = 50)",
      TextOps.fixedKSample(spark, dir), true),
    ("shard_manifest", "EXECUTE OPERATOR shard_manifest(source = 'documents', shards = 64)",
      TextOps.shardManifest(spark, dir), true),
    ("mixture_sample", "EXECUTE OPERATOR mixture_sample(source = 'documents', budget = 60)",
      TextOps.mixtureSample(spark, dir), true),
    ("vocab_growth", "EXECUTE OPERATOR vocab_growth(source = 'documents')",
      TextOps.vocabStats(spark, dir), true),
    ("bigram_predict", "EXECUTE OPERATOR bigram_predict(source = 'documents')",
      TextOps.bigramPredictability(spark, dir), true),
    ("pii_positive", s"EXECUTE OPERATOR pii_positive(dir = '$dir')",
      Pii.piiPositive(spark, dir), true),
    ("cc_scrub", s"EXECUTE OPERATOR cc_scrub(dir = '$dir')",
      Pii.ccScrub(spark, dir), true),
    ("corpus_prep", s"EXECUTE OPERATOR corpus_prep(dir = '$dir')",
      graft.operators.CorpusPrep.cleanCorpus(spark, dir), true),
    ("media_meta", s"EXECUTE OPERATOR media_meta(dir = '$dir')",
      graft.operators.Multimodal.m1MediaMeta(spark, dir), true),
    ("frame_sample", s"EXECUTE OPERATOR frame_sample(dir = '$dir')",
      graft.operators.Multimodal.m2FrameSample(spark, dir), true),
    ("perceptual_hash", s"EXECUTE OPERATOR perceptual_hash(dir = '$dir')",
      graft.operators.Multimodal.m5PerceptualHash(spark, dir), true),
    ("phash_dup", s"EXECUTE OPERATOR phash_dup(dir = '$dir')",
      graft.operators.Multimodal.phashDups(spark, dir), true),
    ("frame_dedup", s"EXECUTE OPERATOR frame_dedup(dir = '$dir')",
      graft.operators.Multimodal.m7FrameDedup(spark, dir), true),
    ("silence_segments", s"EXECUTE OPERATOR silence_segments(dir = '$dir')",
      graft.operators.Multimodal.m8SilenceSegments(spark, dir), true),
    ("scene_changes", s"EXECUTE OPERATOR scene_changes(dir = '$dir')",
      graft.operators.Multimodal.m9SceneChanges(spark, dir), true),
    ("tumbling_counts", s"EXECUTE OPERATOR tumbling_counts(dir = '$dir')",
      graft.streaming.EventOps.tumblingCounts(spark, dir), true),
    ("json_props", s"EXECUTE OPERATOR json_props(dir = '$dir')",
      graft.streaming.EventOps.jsonProps(spark, dir), true),
    ("sessionize", s"EXECUTE OPERATOR sessionize(dir = '$dir')",
      graft.streaming.EventOps.sessionize(spark, dir), true),
    ("funnel", s"EXECUTE OPERATOR funnel(dir = '$dir')",
      graft.streaming.EventOps.funnel(spark, dir), true),
    ("asof_join", s"EXECUTE OPERATOR asof_join(dir = '$dir')",
      graft.streaming.EventOps.asofJoin(spark, dir), true),
    ("range_join", s"EXECUTE OPERATOR range_join(dir = '$dir')",
      graft.streaming.EventOps.rangeJoin(spark, dir), true),
    ("retention", s"EXECUTE OPERATOR retention(dir = '$dir')",
      graft.streaming.EventOps.retention(spark, dir), true),
    ("trailing_velocity", s"EXECUTE OPERATOR trailing_velocity(dir = '$dir')",
      graft.streaming.EventOps.trailingVelocity(spark, dir), true),
    ("trending_topk", s"EXECUTE OPERATOR trending_topk(dir = '$dir', k = 3)",
      graft.streaming.EventOps.trendingTopK(spark, dir), true))

  routeParity.foreach { case (name, stmt, direct, expectRows) =>
    test(s"route parity: $name") {
      val got = rows(g.query(stmt))
      assert(got == rows(direct), s"$name facade route diverges from Scala entry")
      if (expectRows) assert(got.nonEmpty, s"$name parity is vacuous (0 rows)")
    }
  }

  test("route parity: media_resize (binary content compared by digest)") {
    // Array[Byte] rows don't compare by value — project content to
    // its md5 on both routes before the set comparison.
    def dig(df: org.apache.spark.sql.DataFrame) =
      rows(df.selectExpr("doc_id", "media_type", "md5(content) AS c", "meta"))
    val got = dig(g.query(
      s"EXECUTE OPERATOR media_resize(dir = '$dir', target_bytes = 1024)"))
    assert(got == dig(graft.operators.Multimodal.resizeStub(spark, dir)) && got.nonEmpty)
  }

  test("registry covers the full pipeline-operator library") {
    assert(Operators.all.size >= 60, s"only ${Operators.all.size} registered")
    // Every registered op is exercised by a parity test above or one
    // of the named tests — keep the lists in sync.
    val pinned = routeParity.map(_._1).toSet ++ Set(
      "exact_dedup", "minhash_lsh", "split_assign", "brute_topk",
      "pii_scan", "dup_groups", "exact_substring", "shuffle_shard",
      "bpe_learn", "ivf_topk", "media_resize")
    val unpinned = Operators.all.keySet -- pinned
    assert(unpinned.isEmpty, s"registered but not parity-tested: $unpinned")
  }
}
