package graft.operators

import graft.Tables.t
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines: exact
  * (hash-groupBy), MinHash+LSH, SimHash, n-gram Jaccard, and
  * embedding-cosine near-dup.
  *
  * Scale design (100 TB): nothing here compares all pairs. Exact dedup
  * shuffles 16-byte digests, not documents. MinHash/SimHash reduce each
  * doc to a small signature, then LSH banding turns "find similar
  * pairs" into an equi-join on band keys — shuffle-friendly and
  * skew-tolerant (a hot band key is at worst one bucket, and AQE
  * skew-join splits it). The Jaccard verify stage joins only LSH/
  * shingle candidates, never the full cross product.
  *
  * All hashes are *portable* (derived from md5 hex + integer mod
  * arithmetic) so the DuckDB oracle can reproduce them bit-for-bit.
  */
object Dedup {

  /** Modulus for portable integer hashing (fits (P-1)^2 in Int64). */
  val P: Long = 1000000007L
  /** MinHash permutation count and deterministic coefficients. */
  val NumHashes = 16
  val As: Seq[Long] = (0 until NumHashes).map(i => ((i * 2654435761L) + 1L) % P)
  val Bs: Seq[Long] = (0 until NumHashes).map(i => ((i * 40503L) + 17L) % P)

  /** Portable 60-bit hash of a string: first 15 hex chars of md5,
    * parsed base-16 (same value from DuckDB's
    * ('0x'||substr(md5(s),1,15))::BIGINT). */
  def portableHash(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast("long")

  /** Word 3-gram shingles, distinct, as (doc_id, shingle) pairs. */
  private def shingles(spark: SparkSession, dir: String): DataFrame =
    shinglesOn(t(spark, dir, "documents"))

  private def shinglesOn(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), split(trim(col("text")), "\\s+").as("w"))
      .filter(size(col("w")) >= 3)
      // Native WordGrams kernel: the `array_distinct(transform(
      // sequence(...), i -> concat_ws(' ', slice(w, i, 3))))` form it
      // replaces ran interpreted and allocated a slice + joined string
      // per position (parity pinned in TextHashSpec/TextHashPropSpec).
      // The shingle rides as its RAW 16-byte md5 (md5-as-identity —
      // d1's whole-document contract applied per gram): d2 and d8 use
      // it purely as a group/join key that never reaches output, and
      // this stream is exchanged on that key, so half the key bytes
      // is half the shuffle volume. Same distinct set per doc.
      .select(col("doc_id"),
        explode(graft.functions.TextHash.wordGramDigests(col("w"), 3)).as("shingle"))

  /** Exact dedup: group by content fingerprint, keep the smallest
    * doc_id as canonical. Shuffles digests only. */
  def exactDedup(spark: SparkSession, dir: String): DataFrame =
    exactDedupOn(t(spark, dir, "documents"))

  /** Source-parameterized form (the SQL facade's entry —
    * `EXECUTE OPERATOR exact_dedup(source = …)`). */
  def exactDedupOn(docs: DataFrame): DataFrame =
    docs
      .groupBy(md5(col("text")).as("fp"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
      .filter(col("n_copies") >= 1)
      .select(col("fp"), col("keep_id"), col("n_copies"))

  /** Document-frequency cap for n-gram Jaccard: shingles shared by
    * more than this many docs are boilerplate — near-zero Jaccard
    * signal, quadratic join cost (k docs sharing a shingle → k²/2
    * candidate rows on ONE key). Dropping them before the self-join is
    * the standard DF-cap and the thing that keeps this plan alive at
    * 100 TB (a viral 3-gram can no longer produce 10¹² rows). */
  val MaxShingleDf = 50

  /** N-gram Jaccard near-dup via the inverted index: group the
    * shingle stream ONCE per branch — `groupBy(shingle)` collects
    * each shingle's (sorted) posting list AND applies the DF cap in
    * the same aggregation (`size(ds) <= maxDf`, no separate window
    * pass); candidate pairs are generated locally inside each capped
    * posting list (≤ maxDf²/2 per shingle, bounded by construction),
    * never through a self-join — this build reuses no exchanges, so a
    * self-join would recompute the tokenize+explode stage four times.
    * Exact Jaccard = |A∩B| / (|A|+|B|−|A∩B|) over the capped sets. */
  def ngramJaccard(spark: SparkSession, dir: String, threshold: Double = 0.5,
                   maxDf: Int = MaxShingleDf): DataFrame =
    ngramJaccardOn(t(spark, dir, "documents"), threshold, maxDf)

  /** Source-parameterized form (SQL facade entry). */
  def ngramJaccardOn(docs: DataFrame, threshold: Double = 0.5,
                     maxDf: Int = MaxShingleDf): DataFrame = {
    // NOTE (measured, not assumed): buckets feeds both branches below
    // and recomputes per consumer. AQE's stage reuse does not fire on
    // this shape (verified: the same self-join reuses its exchange
    // only with AQE off), an EAGER localCheckpoint does not pay (the
    // separate materialization pass offsets the saved recompute —
    // round-2 measurement), but a LAZY one does: the first consumer
    // materializes the capped posting lists in passing and the second
    // reads them back — 3.0 → 1.9 s warm at sf0.1 (min of 3). The
    // cached RDD is GC-tracked (ContextCleaner unpersists it when the
    // frame is unreferenced), unlike DataFrame.persist whose
    // CacheManager entry would outlive the call. Lineage truncation
    // is the same availability trade dupGroups already makes with its
    // eager per-round checkpoints. DISK-only tier: the blocks linger
    // until the next driver GC, and a corpus-scale checkpoint in the
    // memory tier squats the unified pool's protected storage half,
    // making LATER queries in the session spill (measured on
    // DistributedPrefix's identical pattern at sf10 — see
    // DistributedPrefix.shared); the lazy-materialize win this NOTE
    // records is unchanged, disk reads ride the OS page cache.
    val buckets = shinglesOn(docs)
      .groupBy(col("shingle"))
      .agg(sort_array(collect_list(col("doc_id"))).as("ds"))
      .filter(size(col("ds")) <= maxDf)
      .select(col("ds"))
      .localCheckpoint(eager = false,
        org.apache.spark.storage.StorageLevel.DISK_ONLY_2)
    val counts = buckets.select(explode(col("ds")).as("doc_id"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_sh"))
    val pairs = buckets
      // Native SortedPairs kernel: the nested flatten(transform(
      // slice...)) form it replaces ran interpreted and allocated a
      // slice + nested array per element per posting list
      // (parity pinned in PairsSpec).
      .select(explode(graft.functions.Pairs.sortedPairs(col("ds"), "id_a", "id_b")).as("p"))
      .groupBy(col("p.id_a").as("id_a"), col("p.id_b").as("id_b"))
      .agg(count(lit(1)).as("inter"))
    pairs
      .join(counts.select(col("doc_id"), col("n_sh").as("na")), col("id_a") === col("doc_id"))
      .drop("doc_id")
      .join(counts.select(col("doc_id"), col("n_sh").as("nb")), col("id_b") === col("doc_id"))
      .drop("doc_id")
      .select(col("id_a"), col("id_b"),
        (col("inter").cast("double") /
          (col("na") + col("nb") - col("inter")).cast("double")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** d12: WINNOWING fingerprint matching (Schleimer et al. 2003 —
    * the MOSS local-fingerprinting algorithm; public-domain spec).
    * Hash every word [[WinnowK]]-gram, slide a window of [[WinnowW]]
    * consecutive hashes, keep each window's minimum: the selected
    * ~2/(W+1) fraction of gram hashes carries a GUARANTEE d2's full
    * posting set buys with 2.5× the index — any shared word run of
    * length ≥ W + K − 1 produces at least one shared fingerprint
    * (both docs' windows over that run select the same minimum), and
    * nothing shorter than K is ever detected. Selection is one
    * narrow higher-order expression per doc (the gram-hash array is
    * bound ONCE via lambda scoping — the c1 lesson: a plain column
    * reference would re-inline the transform per consumer); matching
    * reuses d2's capped posting-list shape — group by fingerprint,
    * DF cap bounds the quadratic term, pairs generated inside each
    * list, never a self-join. Shuffles carry 8-byte fingerprints. */
  val WinnowK = 3
  val WinnowW = 4

  private def winnowFpsOn(docs: DataFrame): DataFrame =
    // Selection runs in the native graft.functions.WinnowSelect kernel:
    // the previous nested higher-order form evaluated md5 inside an
    // interpreted lambda and allocated a fresh sliced array PER WINDOW
    // (`array_min(slice(hs, j, W))` — millions of transient arrays at
    // sf1); the kernel hashes each gram once into a primitive array
    // and keeps a rolling window minimum. Values are bit-identical
    // (same 60-bit md5 prefix, same window layout, same
    // first-occurrence distinct) — pinned by TextHashSpec.
    docs
      .select(col("doc_id"), split(trim(col("text")), "\\s+").as("w"))
      .filter(size(col("w")) >= WinnowK)
      .select(col("doc_id"),
        explode(graft.functions.TextHash.winnowSelect(col("w"), WinnowK, WinnowW)).as("fp"))

  def winnowDups(spark: SparkSession, dir: String, minShared: Long = 2L,
                 maxDf: Int = MaxShingleDf): DataFrame =
    winnowDupsOn(t(spark, dir, "documents"), minShared, maxDf)

  /** Source-parameterized form (SQL facade entry). */
  def winnowDupsOn(docs: DataFrame, minShared: Long = 2L,
                   maxDf: Int = MaxShingleDf): DataFrame =
    winnowFpsOn(docs)
      .groupBy(col("fp"))
      .agg(sort_array(collect_list(col("doc_id"))).as("ds"))
      .filter(size(col("ds")) > 1 && size(col("ds")) <= maxDf)
      .select(explode(graft.functions.Pairs.sortedPairs(col("ds"), "id_a", "id_b")).as("p"))
      .groupBy(col("p.id_a").as("id_a"), col("p.id_b").as("id_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)

  def winnowDupsOracleSql(minShared: Long, maxDf: Int): String =
    s"""WITH w AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS ws FROM documents),
       |g AS (SELECT doc_id,
       |  list_transform(range(1, len(ws) - ${WinnowK - 1} + 1), i ->
       |    ('0x' || substr(md5(array_to_string(list_slice(ws, i, i + ${WinnowK - 1}), ' ')), 1, 15))::BIGINT) AS hs
       |  FROM w WHERE len(ws) >= $WinnowK),
       |f AS (SELECT DISTINCT doc_id, unnest(list_distinct(list_transform(
       |    range(1, greatest(len(hs) - ${WinnowW - 1}, 1) + 1), j ->
       |    list_min(list_slice(hs, j, j + ${WinnowW - 1}))))) AS fp
       |  FROM g),
       |posting AS (SELECT fp FROM f GROUP BY fp
       |  HAVING count(*) > 1 AND count(*) <= $maxDf),
       |pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_shared
       |  FROM f a JOIN f b ON a.fp = b.fp AND a.doc_id < b.doc_id
       |  JOIN posting p ON a.fp = p.fp
       |  GROUP BY 1, 2)
       |SELECT id_a, id_b, n_shared FROM pairs WHERE n_shared >= $minShared""".stripMargin

  /** Per-doc MinHash signature (NumHashes portable permutations).
    * ROW-LOCAL: each doc's distinct gram hashes and all permutation
    * minima compute in one narrow projection (GramHashes +
    * MinHashSigs kernels) — no shingle explode, no groupBy(doc_id)
    * shuffle. Values are bit-identical to the explode + 16-way min
    * aggregation this replaces (min over the same hash set, same
    * (x*a+b)%p arithmetic — the form the DuckDB oracle replays), and
    * d3/d6/d9's signature stage sheds its corpus-wide exchange: the
    * only remaining shuffle in d3 is the banding groupBy itself. */
  def minhashSignatures(spark: SparkSession, dir: String): DataFrame =
    minhashSignaturesOn(t(spark, dir, "documents"))

  def minhashSignaturesOn(docs: DataFrame): DataFrame = {
    val sig = graft.functions.TextHash.minhashSigs(
      graft.functions.TextHash.gramHashes(col("w"), 3, P, distinct = true),
      As, Bs, P)
    docs
      .select(col("doc_id"), split(trim(col("text")), "\\s+").as("w"))
      .filter(size(col("w")) >= 3)
      // bind sig in its own projection: referenced 16× below, and
      // CollapseProject keeps non-cheap multi-referenced expressions
      // in their own Project, so the kernel chain runs once per doc
      .select(col("doc_id"), sig.as("sig"))
      .select(col("doc_id") +: (0 until NumHashes).map(i =>
        element_at(col("sig"), i + 1).as(s"mh$i")): _*)
  }

  /** Band-bucket size cap for MinHash-LSH: in-bucket pair generation
    * is quadratic in bucket size, so a degenerate corpus (one viral
    * band key — e.g. thousands of byte-identical boilerplate docs)
    * would turn one bucket into a k²/2 explosion. Buckets above the
    * cap are dropped whole, like d2's [[MaxShingleDf]]: their
    * members are exact/near-exact clones of each other that d1
    * (exact dedup) already collapses at O(n), and a genuine near-dup
    * neighborhood this large doesn't exist in real corpora. */
  val MaxBandBucket = 50

  /** Storage level of the two corpus-sized dedup caches: d13's
    * distinct span contents (four consumers re-read it; see
    * spanMinhashDupsOn) and d14's grams (census + posting probe; see
    * exactSubstringOn). Measured against MEMORY_AND_DISK for d13 at
    * sf0.1, sf1 and sf10 (min of 3 passes each, a q33-style join run
    * right after each d13 in the same session): DISK_ONLY ties or wins
    * on d13 itself (sf0.1 2.35 vs 2.32 s — even; sf1 6.12 vs 6.43 s;
    * sf10 21.9 vs 22.9 s) and the after-join is identical (sf1 1.85 vs
    * 1.82 s, sf10 6.67 vs 6.67 s). Both caches are released in a
    * finally, so neither tier squats the pool past the query: the tier
    * only trades the operator's own execution memory against re-read
    * cost, and the re-read rides the OS page cache. DISK_ONLY is also
    * the right posture at 100 TB: a corpus-scale side-materialization
    * has no business borrowing the unified pool's storage half
    * mid-query. */
  val CorpusCacheLevel: org.apache.spark.storage.StorageLevel =
    org.apache.spark.storage.StorageLevel.DISK_ONLY

  /** MinHash + LSH near-dup: band signatures (bands of rows=2), bucket
    * by band value, emit candidate pairs per bucket, estimate
    * similarity as the fraction of matching minhashes. The banding
    * join is the scale path: shuffle on (band_id, band_key), never n². */
  def minhashLsh(spark: SparkSession, dir: String, minEstSim: Double = 0.25,
                 maxBucket: Int = MaxBandBucket): DataFrame =
    minhashLshOn(t(spark, dir, "documents"), minEstSim, maxBucket)

  /** Source-parameterized form (SQL facade: `EXECUTE OPERATOR
    * minhash_lsh(source = …, min_sim = …, max_bucket = …)`). */
  def minhashLshOn(docs: DataFrame, minEstSim: Double = 0.25,
                   maxBucket: Int = MaxBandBucket): DataFrame = {
    val nBands = NumHashes / 2
    // Signature pipeline (shingle explode + 16-way min agg over
    // millions of rows) is the expensive stage — a band SELF-JOIN
    // computes it twice (no exchange reuse fires, verified on the
    // executed plan). Instead: compute once, ONE shuffle grouping
    // band rows into buckets, generate candidate pairs inside each
    // bucket locally. Signatures ride along, so est-sim needs no
    // further join. Bucket pair-blowup is inherently quadratic in
    // bucket size for ANY LSH formulation; near-dup buckets are
    // small, and buckets beyond maxBucket are dropped whole
    // ([[MaxBandBucket]]) — the quadratic term is bounded by
    // construction, like d2's DF cap.
    val bands = minhashSignaturesOn(docs)
      .select(col("doc_id"),
        array((0 until NumHashes).map(i => col(s"mh$i")): _*).as("sig"))
      .select(col("doc_id"), col("sig"),
        explode(array((0 until nBands).map { b =>
          struct(lit(b).as("band_id"),
            concat_ws(":", col("sig").getItem(2 * b), col("sig").getItem(2 * b + 1)).as("band_key"))
        }: _*)).as("bk"))
      .select(col("doc_id"), col("sig"), col("bk.band_id"), col("bk.band_key"))
    bands
      .groupBy(col("band_id"), col("band_key"))
      .agg(array_sort(collect_list(struct(col("doc_id"), col("sig")))).as("ms"))
      .filter(size(col("ms")) > 1 && size(col("ms")) <= maxBucket)
      // all (i < j) pairs within the bucket; ms sorted by doc_id so
      // id_a < id_b holds by construction. Native SigAgreePairs
      // kernel: pair build + 16-way signature-agreement count in one
      // pass, replacing the interpreted nested transform + per-pair
      // aggregate(zip_with(...)) fold (parity pinned in PairsSpec).
      .select(explode(graft.functions.Pairs.sigAgreePairs(col("ms"), "id_a", "id_b")).as("p"))
      .select(col("p.id_a").as("id_a"), col("p.id_b").as("id_b"),
        (col("p.n_eq").cast("double") / NumHashes).as("est_sim"))
      .distinct() // a pair matching in k bands appears k times, same est_sim
      .filter(col("est_sim") >= minEstSim)
  }

  /** Round budget for [[dupGroups]]' label propagation. Banded-LSH
    * near-dup components are near-cliques (every member pair shares a
    * band bucket with high probability), so the diameter — which
    * bounds label-prop rounds — is tiny in practice; past this budget
    * the loop hands off to [[starContract]] (O(log n) rounds) instead
    * of aborting, so adversarial long-chain graphs still converge. */
  val MaxCcIters = 25

  /** Alternating large-star/small-star contraction — the O(log n)
    * connected-components algorithm (Kiveris et al., "Connected
    * Components in MapReduce and Beyond", SoCC'14). Each round halves
    * tall trees instead of walking them one hop per round, so a
    * diameter-D chain finishes in O(log D) rounds where label
    * propagation needs D.
    *
    *  - large-star (per node u): connect every LARGER neighbor to
    *    m = min(Γ(u) ∪ u);
    *  - small-star (per node u, edges directed larger→smaller):
    *    connect u and its smaller neighbors to their minimum.
    *
    * Both steps are one groupBy-min + one equi-join per round, every
    * aggregate map-side combined; edges stay canonical (a > b) and
    * distinct, and each round localCheckpoints so lineage stays flat.
    * At the fixpoint the edge set is exactly the star graph
    * (member → component-min), which IS the label assignment.
    * Fixpoint test: set equality via two counts (both sides already
    * distinct) — union-distinct count equals the old count iff the
    * sets match. */
  private[operators] def starContract(edges: DataFrame): DataFrame = {
    var e = edges
      .select(greatest(col("src"), col("dst")).as("a"),
        least(col("src"), col("dst")).as("b"))
      .filter(col("a") =!= col("b")).distinct().localCheckpoint(true)
    var converged = false
    var iters = 0
    var nOld = e.count() // carried across rounds: = previous ss.count()
    val maxRounds = 2 * MaxCcIters // O(log n) needs far fewer; loud bound
    while (!converged && iters < maxRounds) {
      // large-star
      val bidir = e.select(col("a").as("u"), col("b").as("v"))
        .unionAll(e.select(col("b").as("u"), col("a").as("v")))
      val mins = bidir.groupBy(col("u")).agg(min(col("v")).as("mn"))
        .select(col("u"), least(col("u"), col("mn")).as("m"))
      val ls = bidir.join(mins, "u").filter(col("v") > col("u"))
        .select(col("v").as("a"), col("m").as("b"))
        .filter(col("a") =!= col("b")).distinct().localCheckpoint(true)
      // small-star (ls is canonical a > b by construction)
      val mins2 = ls.groupBy(col("a")).agg(min(col("b")).as("m"))
      val ss = ls.join(mins2, "a").select(col("b").as("x"), col("m"))
        .unionAll(mins2.select(col("a").as("x"), col("m")))
        .filter(col("x") =!= col("m"))
        .select(col("x").as("a"), col("m").as("b"))
        .distinct().localCheckpoint(true)
      val nNew = ss.count()
      converged = nNew == nOld &&
        ss.unionAll(e).distinct().count() == nOld
      e = ss
      nOld = nNew
      iters += 1
    }
    require(converged, s"star contraction did not converge in $maxRounds rounds")
    e.select(col("a").as("id"), col("b").as("lbl"))
      .unionAll(e.select(col("b").as("id"), col("b").as("lbl")))
      .distinct()
  }

  /** d6: resolve near-dup PAIRS into GROUPS — the step a dedup
    * pipeline actually acts on. Connected components over the d3
    * MinHash-LSH pair graph by min-label propagation, electing the
    * smallest doc_id in each component as its canonical document:
    * every row is (doc_id, canonical_id, group_size); keep rows where
    * doc_id = canonical_id, drop the rest.
    *
    * Scale shape: each round is ONE shuffle join (edges × labels) +
    * ONE groupBy-min, both map-side combined; labels only ever
    * decrease, so `sum(label)` is strictly monotone and one tiny agg
    * per round detects the fixpoint exactly. Rounds = component
    * diameter (see [[MaxCcIters]]). Every round's result is
    * localCheckpoint'ed so the plan stays flat instead of growing a
    * join-per-iteration lineage. At 1000-executor scale this is the
    * textbook Spark CC loop (GraphFrames/Pregel do the same joins);
    * if the diameter exceeds `maxIters` (adversarial chains) the loop
    * hands off to [[starContract]] for O(log n) convergence. */
  /** Source-parameterized form (SQL facade: `EXECUTE OPERATOR
    * dup_groups(source = …, min_sim = …)`): the pair graph comes from
    * [[minhashLshOn]] over the given frame; the component machinery
    * is shared via `pairsOverride`. */
  def dupGroupsOn(docs: DataFrame, minEstSim: Double = 0.25): DataFrame =
    dupGroups(docs.sparkSession, "", minEstSim,
      pairsOverride = Some(minhashLshOn(docs, minEstSim)))

  def dupGroups(spark: SparkSession, dir: String, minEstSim: Double = 0.25,
                pairsOverride: Option[DataFrame] = None,
                maxIters: Int = MaxCcIters): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val pairs = pairsOverride.getOrElse(minhashLsh(spark, dir, minEstSim))
      .select(col("id_a"), col("id_b")).localCheckpoint(true)
    // An empty pair graph means no dup groups — return the empty
    // result instead of letting the label-sum read NULL.
    if (pairs.isEmpty)
      return pairs.select(col("id_a").as("doc_id"),
        col("id_a").as("canonical_id"), lit(0L).as("group_size"))
    val edges = pairs.select(col("id_a").as("src"), col("id_b").as("dst"))
      .unionAll(pairs.select(col("id_b").as("src"), col("id_a").as("dst")))
      .localCheckpoint(true)
    // Each round's labels are checkpointed EAGERLY so the next round
    // joins against a flat LogicalRDD: a lazy persist lets every round
    // nest the previous round's join inside its lineage, and once the
    // nested plans stop matching the cached ones each round recomputes
    // the whole chain (measured 51 → 672 tasks). The convergence sum is
    // then a tiny aggregate over the checkpointed blocks. labels is
    // non-empty here (pairs.isEmpty returned above), so the sum is
    // never NULL.
    def checkpointWithSum(df: DataFrame): (DataFrame, Long) = {
      val ck = df.localCheckpoint(true)
      (ck, ck.agg(sum(col("lbl"))).head().getLong(0))
    }
    var (labels, prevSum) = checkpointWithSum(
      edges.select(col("src").as("id")).distinct()
        .select(col("id"), col("id").as("lbl")))
    var converged = false
    var iters = 0
    while (!converged && iters < maxIters) {
      val msgs = edges.join(labels.withColumnRenamed("id", "src"), "src")
        .select(col("dst").as("id"), col("lbl"))
      val (next, nextSum) = checkpointWithSum(
        labels.unionAll(msgs)
          .groupBy(col("id")).agg(min(col("lbl")).as("lbl")))
      labels = next
      converged = nextSum == prevSum
      prevSum = nextSum
      iters += 1
    }
    // Diameter exceeded the round budget (adversarial chain, not a
    // near-clique LSH graph): hand off to the O(log n) contraction
    // instead of aborting the query.
    if (!converged) labels = starContract(edges)
    labels.select(col("id").as("doc_id"), col("lbl").as("canonical_id"))
      .withColumn("group_size", count(lit(1)).over(Window.partitionBy(col("canonical_id"))))
  }

  /** d7: INCREMENTAL ingest dedup — classify a NEW batch (one
    * source) against the already-ingested corpus, the shape a daily
    * crawl pipeline runs: the corpus is NOT re-deduped, only the
    * batch is judged. Exact dups via content-fingerprint equi-join
    * (16-byte digests shuffle, never text — d1's property); near
    * dups via the d3 MinHash-LSH pair graph restricted to pairs that
    * cross the batch/corpus boundary, so the band-bucket machinery
    * (incl. the MaxBandBucket cap) is exactly the battle-tested d3
    * path. One row per new document: exact match, near-dup count,
    * best near match, and an exact/near/unique status. */
  def incrementalDedup(spark: SparkSession, dir: String, newSource: String = "src19",
                       minEstSim: Double = 0.25,
                       docsOverride: Option[DataFrame] = None,
                       pairsOverride: Option[DataFrame] = None): DataFrame = {
    // Overrides: the testdata has no cross-source exact dups, so
    // IncrementalDedupSpec drives the exact branch (and the
    // exact-beats-near precedence) through synthetic docs/pairs —
    // the same trick as dupGroups' pairsOverride.
    val docs = docsOverride.getOrElse(t(spark, dir, "documents"))
      .select(col("doc_id"), col("source"), col("text"))
    val newDocs = docs.filter(col("source") === newSource)
    val exact = newDocs.select(col("doc_id"), md5(col("text")).as("fp"))
      .join(docs.filter(col("source") =!= newSource)
        .select(md5(col("text")).as("fp"), col("doc_id").as("old_id")), "fp")
      .groupBy(col("doc_id")).agg(min(col("old_id")).as("exact_match"))
    val src = docs.select(col("doc_id"), (col("source") === newSource).as("is_new"))
    val cross = pairsOverride.getOrElse(minhashLsh(spark, dir, minEstSim))
      .join(src.select(col("doc_id").as("id_a"), col("is_new").as("a_new")), "id_a")
      .join(src.select(col("doc_id").as("id_b"), col("is_new").as("b_new")), "id_b")
      .filter(col("a_new") =!= col("b_new"))
      .select(
        when(col("a_new"), col("id_a")).otherwise(col("id_b")).as("doc_id"),
        when(col("a_new"), col("id_b")).otherwise(col("id_a")).as("old_id"))
    val near = cross.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_near"), min(col("old_id")).as("best_near"))
    newDocs.select(col("doc_id"))
      .join(exact, Seq("doc_id"), "left")
      .join(near, Seq("doc_id"), "left")
      .select(col("doc_id"), col("exact_match"),
        coalesce(col("n_near"), lit(0L)).as("n_near"), col("best_near"),
        when(col("exact_match").isNotNull, "exact")
          .when(coalesce(col("n_near"), lit(0L)) > 0, "near")
          .otherwise("unique").as("status"))
  }

  /** Oracle: d3's pair SQL nested as a CTE, filtered to boundary-
    * crossing pairs; exact matches via md5 self-join across the
    * source split. */
  def incrementalDedupOracleSql(newSource: String, minEstSim: Double): String =
    s"""WITH pairs AS (
       |${minhashLshOracleSql(minEstSim)}
       |),
       |src AS (SELECT doc_id, (source = '$newSource') AS is_new FROM documents),
       |cross_pairs AS (
       |  SELECT CASE WHEN a.is_new THEN p.id_a ELSE p.id_b END AS doc_id,
       |         CASE WHEN a.is_new THEN p.id_b ELSE p.id_a END AS old_id
       |  FROM pairs p
       |  JOIN src a ON p.id_a = a.doc_id
       |  JOIN src b ON p.id_b = b.doc_id
       |  WHERE a.is_new <> b.is_new),
       |near AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_near,
       |    min(old_id) AS best_near
       |  FROM cross_pairs GROUP BY 1),
       |ex AS (SELECT nw.doc_id, min(o.doc_id) AS exact_match
       |  FROM documents nw JOIN documents o
       |    ON md5(nw.text) = md5(o.text) AND o.source <> '$newSource'
       |  WHERE nw.source = '$newSource' GROUP BY 1)
       |SELECT d.doc_id, ex.exact_match,
       |  coalesce(near.n_near, 0) AS n_near, near.best_near,
       |  CASE WHEN ex.exact_match IS NOT NULL THEN 'exact'
       |       WHEN near.n_near > 0 THEN 'near' ELSE 'unique' END AS status
       |FROM documents d
       |LEFT JOIN ex ON d.doc_id = ex.doc_id
       |LEFT JOIN near ON d.doc_id = near.doc_id
       |WHERE d.source = '$newSource'""".stripMargin

  /** Oracle: the same component labels via transitive closure in a
    * recursive CTE over the identical pair set (d3's SQL nested as a
    * CTE), canonical = least(id, min(reachable)). */
  def dupGroupsOracleSql(minEstSim: Double): String =
    s"""WITH RECURSIVE pairs AS (
       |${minhashLshOracleSql(minEstSim)}
       |),
       |edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
       |  UNION SELECT id_b, id_a FROM pairs),
       |reach AS (
       |  SELECT src AS id, dst AS r FROM edges
       |  UNION
       |  SELECT e.src, r.r FROM edges e JOIN reach r ON r.id = e.dst),
       |canon AS (SELECT id, least(id, min(r)) AS c FROM reach GROUP BY id)
       |SELECT id AS doc_id, c AS canonical_id,
       |  count(*) OVER (PARTITION BY c) AS group_size
       |FROM canon""".stripMargin

  /** SimHash (32-bit): per-token portable hashes vote bit-by-bit;
    * docs with identical simhash are near-dup candidates.
    *
    * The explode+groupBy looks shuffle-heavy but is not: Catalyst's
    * partial (map-side) aggregation collapses every doc's token votes
    * to one row per doc per partition before the exchange, so only
    * per-doc partial sums shuffle — and the codegen'd explode path
    * measured ~30% faster than an interpreted higher-order-function
    * rewrite of the same computation. */
  val SimHashBits = 32
  def simhash(spark: SparkSession, dir: String): DataFrame =
    simhashOn(t(spark, dir, "documents"))

  def simhashOn(docs: DataFrame): DataFrame =
    // Native row-local SimHash kernel: the whole fingerprint in one
    // pass over the token array — the retired form exploded tokens
    // and shuffled O(corpus tokens) rows into a groupBy(doc_id) with
    // SimHashBits conditional-sum aggregates. Votes and recompose
    // arithmetic are term-identical (parity pinned in TextHashSpec);
    // the DuckDB oracle still replays the explode+aggregate form.
    docs.select(col("doc_id"),
      graft.functions.TextHash.simHash(
        split(trim(col("text")), "\\s+"), SimHashBits).as("simhash"))

  /** SimHash bucket dup groups: simhash values shared by >1 doc. */
  def simhashDups(spark: SparkSession, dir: String): DataFrame =
    simhashDupsOn(t(spark, dir, "documents"))

  /** Source-parameterized form (SQL facade entry). */
  def simhashDupsOn(docs: DataFrame): DataFrame =
    simhashOn(docs)
      .groupBy(col("simhash"))
      .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("keep_id"))
      .filter(col("n_docs") > 1)

  /** Census cap for d5's in-bucket pair enumeration. Adaptive bits
    * ([[Similarity.adaptiveBits]]) bound the UNIFORM part of pair
    * volume, but a degenerate cluster of near-identical vectors
    * agrees on every hyperplane sign — finer hashing cannot split
    * it, so one adversarial cluster (a million copies of the same
    * boilerplate page's embedding at 100 TB) would still make a
    * single quadratic bucket. Buckets above the cap switch to a
    * REPRESENTATIVE STAR: each member is exact-cosine-verified
    * against the bucket's min-vec_id vector only — linear in bucket
    * size. Unlike d3's drop-whole policy, members of a giant
    * near-identical cluster are still reported as dups (of the
    * representative), which is all a dedup consumer needs — it keeps
    * one member either way; what is given up is the pair list among
    * non-representative members. The cap sits well above the worst
    * measured occupancy (sf1: max bucket 520 at 12 bits), so battery
    * results are unchanged at every measured scale; the DuckDB
    * oracle replays both tiers exactly. */
  val MaxEmbBucket = 1024

  /** Embedding-cosine near-dup pairs via hyperplane-LSH candidate
    * generation: bucket every vector by [[Similarity.bucketExpr]]
    * (sign pattern of 8 deterministic hyperplanes), equi-join on the
    * bucket id, exact cosine verify within buckets only. This is the
    * 100 TB shape — the join shuffles on a small int key and the work
    * is Σ n_b² over buckets instead of n² (round 1 did the outright
    * all-pairs cross join). Near-identical vectors agree on nearly
    * every hyperplane sign, so recall at cos ≥ 0.98 is high; the plane
    * count scales up with corpus size to keep buckets bounded, and a
    * census cap ([[MaxEmbBucket]]) bounds the one case finer hashing
    * cannot: an adversarial near-identical cluster.
    * Norms/dots sum in index order so the oracle matches exactly. */
  def embeddingDup(spark: SparkSession, dir: String, threshold: Double = 0.98): DataFrame =
    embeddingDupOn(t(spark, dir, "embeddings"), threshold)

  /** Source-parameterized form (SQL facade entry). */
  def embeddingDupOn(emb: DataFrame, threshold: Double = 0.98,
                     maxBucket: Int = MaxEmbBucket): DataFrame = {
    // Adaptive bucket granularity (Similarity.adaptiveBits): one cheap
    // count sizes the hyperplane-bit count so expected occupancy — and
    // with it the all-pairs-within-bucket volume — stays constant per
    // row at any corpus size. The sf1 run measured the fixed-8-bit
    // form at 37.8× cost for 10× data (quadratic); with count-scaled
    // bits the same corpus enumerates ~linearly.
    val bits = Similarity.adaptiveBits(emb.count())
    // Norms and pair dots through the native codegen'd ArrayDot —
    // same left-to-right fold as the interpreted zip_with form and
    // the oracle's list_sum, so results are bit-identical; the pair
    // loop stops paying ~10 µs of interpreter per candidate.
    val e = emb
      .select(col("vec_id"), expr("transform(embedding, x -> cast(x as double))").as("v"))
      .withColumn("nrm", sqrt(graft.functions.ArrayDot.dot(col("v"), col("v"))))
      .withColumn("bucket", Similarity.bucketExprBits(bits))
    // Bucket census as a WINDOW over the same bucket partitioning the
    // pair join shuffles on — zero additional shuffles (a separate
    // census aggregate + tag join measured 0.35 → 0.73 s at sf0.1;
    // the window form costs one spillable within-partition sort).
    // rep = min(vec_id), so star pairs keep id_a < id_b by
    // construction (every non-rep member id exceeds the min). Both
    // tiers ride ONE bucket-keyed equi-join — the tier split lives in
    // the join condition: an under-cap a-row pairs with every later
    // bucket-mate, an over-cap a-row pairs only if it IS the
    // representative. Never a cross product; per-bucket output is
    // min(n_b²/2, n_b − 1).
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("bucket"))
    val a = e.withColumn("n_b", count(lit(1)).over(w))
      .withColumn("rep", min(col("vec_id")).over(w))
    val dot = graft.functions.ArrayDot.dot(col("a.v"), col("b.v"))
    a.as("a").join(e.as("b"),
        col("a.bucket") === col("b.bucket") && (
          (col("a.n_b") <= maxBucket && col("a.vec_id") < col("b.vec_id")) ||
          (col("a.n_b") > maxBucket && col("a.vec_id") === col("a.rep") &&
            col("b.vec_id") =!= col("a.rep"))))
      .select(col("a.vec_id").as("id_a"), col("b.vec_id").as("id_b"),
        (dot / (col("a.nrm") * col("b.nrm"))).as("cos_sim"))
      .filter(col("cos_sim") >= threshold)
  }

  /** Per-row MinHash signature as ONE narrow expression — the doc's
    * distinct 3-gram hashes folded through the NumHashes permutations
    * with array_min, no explode, no groupBy. Bit-identical to
    * [[minhashSignatures]] (min over the same hash set), but
    * STATELESS: the form a streaming ingest pipeline computes per
    * row (graft.streaming.DedupStream). Docs under 3 words get NULL
    * (they have no shingles; the batch path filters them the same
    * way). */
  def sigExpr(text: Column): Column = {
    val w = split(trim(text), "\\s+")
    // Fused native chain: distinct 3-gram hashes (GramHashes — the
    // interpreted array_distinct(transform(...concat_ws(slice)...))
    // + per-gram md5 lambda it replaces) into the one-pass
    // permutation minima (MinHashSigs). Bit-identical values
    // (TextHashSpec / TextHashPropSpec).
    val xs = graft.functions.TextHash.gramHashes(w, 3, P, distinct = true)
    when(size(w) >= 3, graft.functions.TextHash.minhashSigs(xs, As, Bs, P))
  }

  /** d8: benchmark-contamination detection — the decontamination pass
    * a pretraining pipeline runs before trusting its eval numbers
    * (GPT-3 and PaLM both report n-gram-overlap scrubs of the train
    * set against benchmarks; same shape here over the d2 word-3-gram
    * shingles): for each TEST-split document (t5's salted
    * deterministic split), the fraction of its distinct 3-grams that
    * occur anywhere in the TRAIN split.
    *
    * Scale shape: split membership is a pure function of doc_id, so
    * tagging shingles is a projection, not a join. The only shuffles
    * are the distinct over train grams and one gram-keyed equi-join —
    * posting-list shaped, never doc×doc. At 100 TB the standard cheap
    * pre-filter (a Bloom filter over train grams, broadcast) would
    * drop in front of the exact join; the exact join is kept as the
    * confirm stage so the DuckDB oracle arbitrates bit-for-bit. */
  def contamination(spark: SparkSession, dir: String, salt: String = "graft_v1"): DataFrame =
    contaminationOn(t(spark, dir, "documents"), salt)

  /** Source-parameterized form (SQL facade entry). */
  def contaminationOn(docs: DataFrame, salt: String = "graft_v1"): DataFrame = {
    val b = portableHash(concat_ws(":", lit(salt), col("doc_id"))) % 100
    val tagged = shinglesOn(docs)
      .withColumn("split",
        when(b < 80, "train").when(b < 90, "val").otherwise("test"))
    val trainGrams = tagged.filter(col("split") === "train")
      .select(col("shingle")).distinct().withColumn("hit", lit(1L))
    tagged.filter(col("split") === "test")
      .join(trainGrams, Seq("shingle"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"),
        sum(coalesce(col("hit"), lit(0L))).as("n_overlap"))
      .select(col("doc_id"), col("n_grams"), col("n_overlap"),
        (col("n_overlap").cast("double") / col("n_grams").cast("double"))
          .as("contamination"))
  }

  /** d9: canonical selection — the step AFTER d6 group resolution
    * that a dedup pipeline actually ships: keep ONE representative
    * per duplicate group. Policy: longest content wins (n_chars
    * DESC), lowest doc_id breaks ties — the common "keep the fullest
    * version" rule. The group table covers dup members only (a
    * sliver of the corpus), so it BROADCASTs into the metadata join
    * at real scale; the election window partitions by group, bounded
    * by group size, never corpus-wide. */
  def canonicalSelect(spark: SparkSession, dir: String, minEstSim: Double = 0.25): DataFrame =
    canonicalSelectOn(t(spark, dir, "documents"), minEstSim)

  /** Source-parameterized form (SQL facade entry).
    *
    * Null contract (round-19 advice): the election treats a NULL
    * n_chars as shortest (it ranks LAST, after any non-negative
    * length — the old window's desc_nulls_last behavior), via the
    * coalesce(-1) below. Corpus n_chars is NOT NULL, so the declared
    * d9 query is untouched; the guard exists for caller-supplied
    * frames through the facade. */
  def canonicalSelectOn(docsIn: DataFrame, minEstSim: Double = 0.25): DataFrame = {
    val groups = dupGroupsOn(docsIn, minEstSim)
    // coalesce BEFORE the aggregation: struct ordering sorts a null
    // field FIRST, so a bare min_by over -n_chars would elect a
    // null-length row over every real one — the opposite of the
    // window ordering this aggregate replaced. -1 restores nulls-last
    // against the schema's length domain (n_chars >= 0); keep_n_chars
    // still reports the row's ORIGINAL n_chars.
    val docs = docsIn.select(col("doc_id"), col("n_chars"))
      .withColumn("rank_chars", coalesce(col("n_chars"), lit(-1L)))
    // Per-group representative as ONE map-side-combined aggregation
    // (round 19, guide §2.3 "aggregate before you shuffle"): the
    // previous row_number() window exchanged every member row by
    // canonical_id and SORTED each partition just to keep rank 1.
    // min_by over struct(-n_chars, doc_id) elects the identical row
    // (longest doc, ties to the smallest doc_id — the window's ORDER
    // BY n_chars DESC, doc_id ASC at rk=1; n_chars is NOT NULL in the
    // corpus schema, so the desc-nulls-last arm is vacuous), with
    // partial aggregation upstream so the exchange carries one
    // candidate per (partition, group) instead of every member.
    // group_size is constant within a group — first() is exact.
    docs.join(broadcast(groups), "doc_id")
      .groupBy(col("canonical_id"))
      .agg(
        min_by(struct(col("doc_id"), col("n_chars")),
          struct((-col("rank_chars")).as("neg"), col("doc_id"))).as("keep"),
        first(col("group_size")).as("group_size"))
      .select(col("canonical_id"), col("keep.doc_id").as("keep_id"),
        col("group_size"), col("keep.n_chars").as("keep_n_chars"))
  }

  // ------------------------------------------------------------------
  // DuckDB oracle SQL — generated from the same constants as the Spark
  // plans above, so hash values match bit-for-bit.
  // ------------------------------------------------------------------

  /** Shared shingle CTE prefix (word 3-grams, distinct per doc). */
  private def shingleCte: String =
    """WITH tok AS (
      |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS w FROM documents),
      |tok3 AS (SELECT * FROM tok WHERE len(w) >= 3),
      |sh AS (
      |  SELECT DISTINCT doc_id, shingle FROM (
      |    SELECT doc_id,
      |      unnest([w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] FOR i IN range(len(w) - 2)]) AS shingle
      |    FROM tok3))""".stripMargin

  def ngramJaccardOracleSql(threshold: Double, maxDf: Int = MaxShingleDf): String =
    s"""$shingleCte,
       |shf AS (
       |  SELECT doc_id, shingle FROM (
       |    SELECT doc_id, shingle, count(*) OVER (PARTITION BY shingle) AS df FROM sh)
       |  WHERE df <= $maxDf),
       |cnt AS (SELECT doc_id, count(*) AS n_sh FROM shf GROUP BY 1),
       |pairs AS (
       |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
       |  FROM shf a JOIN shf b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2)
       |SELECT id_a, id_b,
       |  CAST(inter AS DOUBLE) / (ca.n_sh + cb.n_sh - inter) AS jaccard
       |FROM pairs JOIN cnt ca ON ca.doc_id = id_a JOIN cnt cb ON cb.doc_id = id_b
       |WHERE CAST(inter AS DOUBLE) / (ca.n_sh + cb.n_sh - inter) >= $threshold""".stripMargin

  def minhashLshOracleSql(minEstSim: Double): String = {
    val mh = (0 until NumHashes)
      .map(i => s"min((xm * ${As(i)} + ${Bs(i)}) % $P) AS mh$i").mkString(",\n    ")
    // Pair condition mirrors the Spark pipeline *including the
    // MaxBandBucket cap*: a pair qualifies iff SOME band bucket of
    // size in [2, cap] contains both docs.
    val bandsUnion = (0 until NumHashes / 2)
      .map(b => s"SELECT doc_id, $b AS band_id, mh${2 * b} AS k1, mh${2 * b + 1} AS k2 FROM sig")
      .mkString("\n  UNION ALL ")
    val est = (0 until NumHashes)
      .map(i => s"CASE WHEN a.mh$i = b.mh$i THEN 1 ELSE 0 END").mkString(" + ")
    s"""$shingleCte,
       |shx AS (SELECT doc_id,
       |  ('0x' || substr(md5(shingle), 1, 15))::BIGINT % $P AS xm FROM sh),
       |sig AS (SELECT doc_id,
       |    $mh
       |  FROM shx GROUP BY doc_id),
       |bands AS (
       |  $bandsUnion),
       |bc AS (SELECT band_id, k1, k2, count(*) AS n FROM bands GROUP BY 1, 2, 3),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM bands a
       |  JOIN bands b ON a.band_id = b.band_id AND a.k1 = b.k1 AND a.k2 = b.k2
       |    AND a.doc_id < b.doc_id
       |  JOIN bc ON bc.band_id = a.band_id AND bc.k1 = a.k1 AND bc.k2 = a.k2
       |  WHERE bc.n <= $MaxBandBucket)
       |SELECT c.id_a, c.id_b, ($est) / ${NumHashes}.0 AS est_sim
       |FROM cand c
       |JOIN sig a ON a.doc_id = c.id_a
       |JOIN sig b ON b.doc_id = c.id_b
       |WHERE ($est) / ${NumHashes}.0 >= $minEstSim""".stripMargin
  }

  def simhashOracleSql: String = {
    val bitSums = (0 until SimHashBits)
      .map(b => s"sum(CASE WHEN ((h >> $b) & 1) = 1 THEN 1 ELSE -1 END) AS s$b")
      .mkString(",\n    ")
    val recompose = (0 until SimHashBits)
      .map(b => s"CASE WHEN s$b > 0 THEN CAST(${1L << b} AS BIGINT) ELSE CAST(0 AS BIGINT) END")
      .mkString(" + ")
    s"""WITH tk AS (
       |  SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS tok FROM documents),
       |th AS (SELECT doc_id, ('0x' || substr(md5(tok), 1, 15))::BIGINT AS h FROM tk),
       |bits AS (SELECT doc_id,
       |    $bitSums
       |  FROM th GROUP BY doc_id),
       |sh AS (SELECT doc_id, $recompose AS simhash FROM bits)
       |SELECT simhash, CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(min(doc_id) AS BIGINT) AS keep_id
       |FROM sh GROUP BY simhash HAVING count(*) > 1""".stripMargin
  }

  /** Oracle: same shingles, same salted split function, same
    * left-join count — integer counts, one final division. */
  def contaminationOracleSql(salt: String): String =
    s"""$shingleCte,
       |tag AS (SELECT doc_id, shingle,
       |  ('0x' || substr(md5('$salt' || ':' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 100 AS b
       |  FROM sh),
       |tr AS (SELECT DISTINCT shingle FROM tag WHERE b < 80),
       |te AS (SELECT doc_id, shingle FROM tag WHERE b >= 90)
       |SELECT te.doc_id, CAST(count(*) AS BIGINT) AS n_grams,
       |  CAST(sum(CASE WHEN tr.shingle IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_overlap,
       |  CAST(sum(CASE WHEN tr.shingle IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE) / count(*) AS contamination
       |FROM te LEFT JOIN tr ON te.shingle = tr.shingle
       |GROUP BY te.doc_id""".stripMargin

  /** Oracle: d6's recursive-CTE closure extended with the documents
    * join and the same (n_chars DESC, doc_id ASC) election. */
  def canonicalSelectOracleSql(minEstSim: Double): String =
    s"""WITH RECURSIVE pairs AS (
       |${minhashLshOracleSql(minEstSim)}
       |),
       |edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
       |  UNION SELECT id_b, id_a FROM pairs),
       |reach AS (
       |  SELECT src AS id, dst AS r FROM edges
       |  UNION
       |  SELECT e.src, r.r FROM edges e JOIN reach r ON r.id = e.dst),
       |canon AS (SELECT id, least(id, min(r)) AS c FROM reach GROUP BY id),
       |grp AS (SELECT id AS doc_id, c AS canonical_id,
       |  count(*) OVER (PARTITION BY c) AS group_size FROM canon),
       |j AS (SELECT g.canonical_id, g.doc_id, g.group_size, d.n_chars,
       |  row_number() OVER (PARTITION BY g.canonical_id
       |    ORDER BY d.n_chars DESC, g.doc_id ASC) AS rk
       |  FROM grp g JOIN documents d ON g.doc_id = d.doc_id)
       |SELECT CAST(canonical_id AS BIGINT) AS canonical_id,
       |  CAST(doc_id AS BIGINT) AS keep_id,
       |  CAST(group_size AS BIGINT) AS group_size,
       |  CAST(n_chars AS BIGINT) AS keep_n_chars
       |FROM j WHERE rk = 1""".stripMargin

  def embeddingDupOracleSql(threshold: Double,
                            maxBucket: Int = MaxEmbBucket): String =
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |bits AS (SELECT ${Similarity.adaptiveBitsSql("count(*)")} AS b FROM embeddings),
       |n AS (SELECT vec_id, v,
       |  sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm,
       |  ${Similarity.bucketSqlBits("v", "(SELECT b FROM bits)")} AS bucket FROM e),
       |c AS (SELECT bucket, count(*) AS n_b, min(vec_id) AS rep FROM n GROUP BY bucket),
       |small AS (
       |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       |    list_sum(list_transform(range(1, 65), i -> a.v[i] * b.v[i])) / (a.nrm * b.nrm) AS cos_sim
       |  FROM n a JOIN c ON a.bucket = c.bucket AND c.n_b <= $maxBucket
       |  JOIN n b ON a.bucket = b.bucket AND a.vec_id < b.vec_id),
       |big AS (
       |  SELECT r.vec_id AS id_a, m.vec_id AS id_b,
       |    list_sum(list_transform(range(1, 65), i -> r.v[i] * m.v[i])) / (r.nrm * m.nrm) AS cos_sim
       |  FROM n m JOIN c ON m.bucket = c.bucket AND c.n_b > $maxBucket AND m.vec_id <> c.rep
       |  JOIN n r ON r.vec_id = c.rep)
       |SELECT id_a, id_b, cos_sim FROM small WHERE cos_sim >= $threshold
       |UNION ALL
       |SELECT id_a, id_b, cos_sim FROM big WHERE cos_sim >= $threshold""".stripMargin

  // ------------------------------------------------------------------
  // d11: paragraph/span-level exact dedup
  // ------------------------------------------------------------------

  /** Words per span for d11. Lee et al. 2022 dedup 50-token windows;
    * 10 fits this corpus's 10–110-word documents while keeping the
    * same machinery. */
  val SpanWords = 10

  /** d11: SUB-document exact dedup — the boilerplate/template remover
    * (Lee et al. 2022 "Deduplicating Training Data Makes Language
    * Models Better"; CCNet's paragraph dedup) that whole-document
    * d1–d10 cannot see: a crawl's nav bars, license headers and
    * templates repeat ACROSS documents that are not themselves dups.
    * Two-level split: blank-line paragraphs first (`\n\s*\n` — the
    * natural unit when the corpus has them; this corpus is
    * single-line, so it passes through whole), then each paragraph
    * re-chunked into non-overlapping [[SpanWords]]-word spans so a
    * span is a bounded unit regardless of paragraph length. A span is
    * boilerplate when its exact fingerprint appears in ≥2 DISTINCT
    * documents. Output: per-document span counts + boilerplate
    * fraction — the score a cleaning pass thresholds on.
    *
    * 100 TB shape: the explode multiplies rows by ~n_words/10 but
    * each carries only (doc_id, 32-char md5) — the text itself never
    * shuffles (d1's digests-not-text discipline). The distinct-doc
    * count per fingerprint is a WINDOW set-collect over the fp
    * partition, not a spans⋈freq self-join: the join form re-ran the
    * whole scan+explode subtree on both sides (two document scans;
    * the exchanges hash different plans so ReusedExchange never
    * fires), while the window form is ONE scan and two digest-only
    * exchanges (fp window, then doc_id rollup). Per-partition heap is
    * O(distinct docs sharing the span) — linear, the k rows a
    * repeated span costs anyway; no pair enumeration, no quadratic
    * blowup to cap. */
  def paragraphDedup(spark: SparkSession, dir: String): DataFrame =
    paragraphDedupOn(t(spark, dir, "documents").select(col("doc_id"), col("text")))

  /** d11's span extraction over any (doc_id, text) frame: paragraph
    * split, then [[SpanWords]]-word chunking, one (doc_id, fp) row
    * per span. Stateless narrow ops only, so it runs unchanged on a
    * STREAMING frame (the d11 streaming twin reuses it verbatim —
    * one definition, two execution modes). */
  def spanFps(docs: DataFrame): DataFrame = {
    val w = SpanWords
    docs
      .select(col("doc_id"), explode(split(col("text"), "\\n\\s*\\n")).as("para"))
      .select(col("doc_id"),
        filter(split(trim(col("para")), "\\s+"), x => length(x) > lit(0)).as("ws"))
      .filter(size(col("ws")) > 0)
      .select(col("doc_id"), explode(transform(
        sequence(lit(1), ceil(size(col("ws")) / lit(w.toDouble)).cast("int")),
        c => md5(concat_ws(" ", slice(col("ws"), (c - lit(1)) * w + lit(1), lit(w))))
      )).as("fp"))
  }

  /** Core of d11 over any (doc_id, text) frame — the spec drives this
    * with synthetic multi-paragraph strings the corpus lacks. */
  def paragraphDedupOn(docs: DataFrame): DataFrame = {
    val spans = spanFps(docs)
    val byFp = org.apache.spark.sql.expressions.Window.partitionBy(col("fp"))
    spans
      .withColumn("nd", size(collect_set(col("doc_id")).over(byFp)).cast("long"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_spans"),
        sum(when(col("nd") >= 2, 1L).otherwise(0L)).as("n_dup_spans"))
      .select(col("doc_id"), col("n_spans"), col("n_dup_spans"),
        (col("n_dup_spans").cast("double") / col("n_spans").cast("double")).as("dup_frac"))
  }

  /** d13: span-level NEAR-dup detection — d11's sub-document tier
    * relaxed from exact fingerprints to MinHash Jaccard, catching
    * the lightly-EDITED boilerplate (dates/names substituted into a
    * template) that exact span hashing misses and whole-document
    * d3 dilutes away. Unit = d11's [[SpanWords]]-word span,
    * identified by (doc_id, fp) — identical spans within one doc
    * collapse to a single unit. Signature = [[NumHashes]] word-SET
    * minhashes computed as row-local array expressions (no shingle
    * explode — a span is already ≤[[SpanWords]] words); banding,
    * bucket cap and in-bucket pair generation are exactly d3's
    * (quadratic term bounded by [[MaxBandBucket]], cross-document
    * pairs only), and a span pair counts when ≥ `minEq` of the 16
    * minhashes agree (integer threshold — no float compare). Output
    * rolls up to document pairs with their near-dup span counts —
    * the evidence table a template-removal pass consumes.
    * TWO-TIER shape: identical spans short-circuit the minhash
    * machinery entirely — equal word sequences imply equal
    * signatures, so their cross-doc pairs come straight off an exact
    * fp-groupBy (d11's digest discipline) and never enter the band
    * explode, where they used to re-meet in every band and re-verify
    * 16 minhashes per pair per band. Banding then runs over DISTINCT
    * span contents only, so bucket population (and the cap) counts
    * contents, not span instances. One upfront cap replaces the old
    * per-bucket-instance cap: contents held by more than `maxBucket`
    * docs drop out whole — such spans are corpus boilerplate (d11
    * already reports them) and their doc-pair fan-out is exactly the
    * quadratic term the d3 cap philosophy bounds.
    * 100 TB shape: only (32-char fp, 16 longs, capped doc_id sets)
    * shuffle; text never moves, no all-pairs stage exists. */
  def spanMinhashDups(spark: SparkSession, dir: String,
                      minEq: Int = NumHashes / 2,
                      maxBucket: Int = MaxBandBucket): DataFrame =
    spanMinhashDupsOn(
      t(spark, dir, "documents").select(col("doc_id"), col("text")), minEq, maxBucket)

  /** d13's distinct-span-content frame: one row per distinct span
    * content — (fp, docs = sorted capped holder set, sig = 16-long
    * MinHash signature). Shared by the batch pair enumeration below
    * and the streaming ingest twin ([[graft.streaming.DedupStream
    * .streamingSpanNearDup]]), which builds it ONCE as its standing
    * static index — the two tiers' candidate sets must come from the
    * same derivation or replay set-equality would be luck. */
  def spanContents(docs: DataFrame, maxBucket: Int): DataFrame = {
    val w = SpanWords
    // One row per distinct span CONTENT in ONE exchange (round 19,
    // guide §2.4 "remove shuffles outright"): the previous shape ran a
    // per-instance (doc_id, fp, ws) DISTINCT — a full exchange of the
    // span stream — before the groupBy(fp). collect_set(doc_id) +
    // first(ws) subsume that dedup exactly (collect_set drops repeat
    // holders; within an fp group every instance carries identical ws,
    // the same determinism first(ws) always relied on), and both
    // aggregates partial-combine map-side, so the one remaining
    // exchange carries one (set-fragment, ws) per (map partition, fp)
    // — what the second exchange already carried — and the
    // per-instance exchange disappears. (Computing the signature
    // map-side per INSTANCE instead was tried and measured: it pushes
    // the 16-hash kernel onto every boilerplate span repeat — +28%
    // executor CPU on this corpus — for a 9% shuffle saving; the
    // per-distinct-content form below keeps the kernel off the
    // over-cap contents entirely, exactly as before.)
    val grouped = docs
      .select(col("doc_id"), explode(split(col("text"), "\\n\\s*\\n")).as("para"))
      .select(col("doc_id"),
        filter(split(trim(col("para")), "\\s+"), x => length(x) > lit(0)).as("pws"))
      .filter(size(col("pws")) > 0)
      .select(col("doc_id"), explode(transform(
        sequence(lit(1), ceil(size(col("pws")) / lit(w.toDouble)).cast("int")),
        c => slice(col("pws"), (c - lit(1)) * w + lit(1), lit(w)))).as("ws"))
      .select(col("doc_id"), md5(concat_ws(" ", col("ws"))).as("fp"), col("ws"))
      .groupBy(col("fp"))
      .agg(sort_array(collect_set(col("doc_id"))).as("docs"),
        first(col("ws")).as("ws")) // ws identical within an fp group
      .filter(size(col("docs")) <= maxBucket)
    // Hoist the word hash: portableHash is an md5 + base-conv per
    // word, and evaluating it inside each of the 16 permutation
    // array_mins re-ran it 16× per word (measured ~40% of d13 wall).
    // As a separate multi-referenced projection column it computes
    // once per word — CollapseProject keeps non-cheap expressions
    // referenced >1× in their own Project, so the optimizer cannot
    // inline it back. Native GramHashes kernel at w=1 (per-word form,
    // null words propagate per element — the interpreted
    // `transform(ws, wd -> portableHash(wd) % P)` lambda it replaces,
    // bit-identical, parity-pinned in TextHashPropSpec).
    val hs = graft.functions.TextHash.gramHashes(col("ws"), 1, P, distinct = false)
    // All 16 permutation minima in ONE pass over hs via the native
    // MinHashSigs kernel — the 16 × array_min(transform(...)) form
    // allocated a permuted array per permutation per span and ran
    // interpreted. Bit-identical arithmetic (TextHashSpec).
    val sig = graft.functions.TextHash.minhashSigs(col("hs"), As, Bs, P)
    grouped.withColumn("hs", hs)
      .select(col("fp"), col("docs"), sig.as("sig"))
  }

  /** `materialize = false` (plan dumps / tests only) skips the cache
    * and every eager checkpoint so the declarative pipeline can be
    * explained — a checkpointed result explains as a LogicalRDD stub
    * (same seam as t17's bigramPredictability). */
  def spanMinhashDupsOn(docs: DataFrame, minEq: Int,
                        maxBucket: Int,
                        materialize: Boolean = true): DataFrame = {
    val nBands = NumHashes / 2
    // `contents` fans out to four consumers (exact tier, band census,
    // band probe, near-tier holder expansion): cache it so the
    // scan+explode+two-shuffle subtree above materializes once —
    // without it each branch re-runs the whole subtree (the exchanges
    // hash different parent plans, so ReusedExchange never fires).
    // Disk-backed: at 100 TB "distinct span contents" is corpus-sized.
    // persist + materialize-result + finally-unpersist, NOT a lazy
    // localCheckpoint: a checkpointed RDD becomes a stats-less
    // LogicalRDD (sizeInBytes = defaultSizeInBytes), which demoted
    // the four consumers' joins from broadcast to sort-merge — a
    // measured ~2× wall regression. The persist keeps InMemoryRelation
    // stats for planning; the eager localCheckpoint of the (tiny)
    // result below lets the finally release the cache before this
    // returns, so no CacheManager entry outlives the call.
    val contents0 = spanContents(docs, maxBucket)
    val contents = if (materialize) contents0.persist(CorpusCacheLevel) else contents0
    try {

    // EXACT tier: identical spans pair straight off the holder set
    // (16/16 signature agreement is implied, always ≥ minEq).
    val exactPairs = contents
      .filter(size(col("docs")) > 1)
      .select(col("fp"),
        explode(graft.functions.Pairs.sortedPairs(col("docs"), "id_a", "id_b")).as("p"))
      .select(col("p.id_a").as("id_a"), col("fp").as("fp_a"),
        col("p.id_b").as("id_b"), col("fp").as("fp_b"))

    // NEAR tier: band DISTINCT contents, verify 16-minhash agreement
    // once per content pair, then expand to cross-doc span-instance
    // pairs through the capped holder sets.
    val bands = contents
      .select(col("fp"), col("sig"),
        explode(array((0 until nBands).map { b =>
          struct(lit(b).as("band_id"),
            concat_ws(":", col("sig").getItem(2 * b), col("sig").getItem(2 * b + 1))
              .as("band_key"))
        }: _*)).as("bk"))
      .select(col("fp"), col("sig"), col("bk.band_id"), col("bk.band_key"))
    // Bucket census BEFORE the collect: a tiny-vocab corpus collides
    // thousands of contents onto one band key, and collecting then
    // sorting a mega-bucket only for the size filter to discard it
    // was the dominant d13 cost. The census is a map-combined
    // aggregate over skinny (band_id, band_key) rows; joined back as
    // a filter it keeps mega-bucket members out of collect_list
    // entirely. AQE broadcasts the census when small; at 100 TB it
    // rides the same (band_id, band_key) shuffle the groupBy needs.
    val liveBuckets = bands
      .groupBy(col("band_id"), col("band_key")).agg(count(lit(1)).as("bn"))
      .filter(col("bn") > 1 && col("bn") <= maxBucket)
      .select(col("band_id"), col("band_key"))
    val contentPairs = bands
      .join(liveBuckets, Seq("band_id", "band_key"))
      .groupBy(col("band_id"), col("band_key"))
      .agg(array_sort(collect_list(struct(col("fp"), col("sig")))).as("ms"))
      .select(explode(graft.functions.Pairs.sigAgreePairs(col("ms"), "fp_a", "fp_b")).as("p"))
      .filter(col("p.n_eq") >= minEq)
      .select(col("p.fp_a").as("fp_a"), col("p.fp_b").as("fp_b"))
      .distinct() // a content pair matching in k bands appears k times
    // Holder attach (round 20, guide §2.3/§5 — round-19 verdict item
    // 3): the old shape joined contentPairs against the FULL contents
    // cache twice (once per pair side) — two corpus-scale cache passes
    // just to fetch the docs arrays of the handful of fps that survive
    // banding + minhash verification. Instead: materialize the
    // surviving pairs (result-sized — they feed two consumers, so
    // without the checkpoint the whole band pipeline would run twice),
    // pull the docs arrays of exactly the surviving fps in ONE
    // broadcast-probed semi-join pass over the cache, and attach both
    // sides from that result-sized lookup via broadcast joins. One
    // full cache pass replaces two, the contents frame is never
    // exchanged (the round-19 measured rejection this design routes
    // around), and every broadcast is result-bound — nothing
    // corpus-scale ships to executors at any SF.
    val survivors =
      if (materialize) contentPairs.localCheckpoint(true) else contentPairs
    val liveFps = survivors.select(col("fp_a").as("fp"))
      .unionAll(survivors.select(col("fp_b").as("fp")))
      .distinct()
    val pairDocs0 = contents.select(col("fp"), col("docs"))
      .join(broadcast(liveFps), Seq("fp"), "leftsemi")
    // result-sized; both attach joins broadcast it
    val pairDocs = if (materialize) pairDocs0.localCheckpoint(true) else pairDocs0
    val nearPairs = survivors
      .join(broadcast(pairDocs.select(col("fp").as("fp_a"), col("docs").as("docs_a"))), "fp_a")
      .join(broadcast(pairDocs.select(col("fp").as("fp_b"), col("docs").as("docs_b"))), "fp_b")
      .select(col("fp_a"), col("fp_b"),
        // Native CrossPairsNe kernel: the interpreted
        // filter(flatten(transform×transform)) cross it replaces
        // allocated a nested array per element (PairsSpec parity).
        explode(graft.functions.Pairs.crossPairsNe(col("docs_a"), col("docs_b"))).as("p"))
      .select(
        when(col("p.da") < col("p.db"), col("p.da")).otherwise(col("p.db")).as("id_a"),
        when(col("p.da") < col("p.db"), col("fp_a")).otherwise(col("fp_b")).as("fp_a"),
        when(col("p.da") < col("p.db"), col("p.db")).otherwise(col("p.da")).as("id_b"),
        when(col("p.da") < col("p.db"), col("fp_b")).otherwise(col("fp_a")).as("fp_b"))
    // Eager checkpoint materializes the pair counts (result-sized,
    // not corpus-sized) while the cache is live; the finally can then
    // release `contents` before the frame is handed to the caller.
    val result = exactPairs.unionAll(nearPairs)
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("n_near_spans"))
    if (materialize) result.localCheckpoint(true) else result
    } finally { if (materialize) contents.unpersist(false) }
  }

  def spanMinhashDupsOracleSql(minEq: Int, maxBucket: Int): String = {
    val w = SpanWords
    val mh = (0 until NumHashes).map(i =>
      s"list_min(list_transform(ws, wd -> (((('0x' || substr(md5(wd), 1, 15))::BIGINT % $P) * ${As(i)} + ${Bs(i)}) % $P))) AS mh$i")
      .mkString(",\n    ")
    val bandsUnion = (0 until NumHashes / 2)
      .map(b => s"SELECT fp, $b AS band_id, mh${2 * b} AS k1, mh${2 * b + 1} AS k2 FROM sigc")
      .mkString("\n  UNION ALL ")
    val est = (0 until NumHashes)
      .map(i => s"CASE WHEN sa.mh$i = sb.mh$i THEN 1 ELSE 0 END").mkString(" + ")
    s"""WITH p AS (
       |  SELECT doc_id, unnest(string_split_regex(text, '\\n\\s*\\n')) AS para
       |  FROM documents),
       |wd AS (
       |  SELECT doc_id,
       |    list_filter(string_split_regex(trim(para), '\\s+'), x -> x <> '') AS pws
       |  FROM p WHERE len(list_filter(string_split_regex(trim(para), '\\s+'), x -> x <> '')) > 0),
       |u0 AS (
       |  SELECT doc_id, unnest(list_transform(range(1, CAST(ceil(len(pws) / $w.0) AS BIGINT) + 1),
       |    c -> list_slice(pws, (c - 1) * $w + 1, c * $w))) AS ws
       |  FROM wd),
       |units AS (SELECT DISTINCT doc_id, md5(array_to_string(ws, ' ')) AS fp, ws FROM u0),
       |capped AS (
       |  SELECT fp FROM units GROUP BY fp HAVING count(DISTINCT doc_id) <= $maxBucket),
       |ud AS (SELECT DISTINCT u.fp, u.doc_id FROM units u JOIN capped USING (fp)),
       |cws AS (SELECT DISTINCT u.fp, u.ws FROM units u JOIN capped USING (fp)),
       |sigc AS (SELECT fp,
       |    $mh
       |  FROM cws),
       |exact AS (
       |  SELECT a.doc_id AS id_a, a.fp AS fp_a, b.doc_id AS id_b, b.fp AS fp_b
       |  FROM ud a JOIN ud b ON a.fp = b.fp AND a.doc_id < b.doc_id),
       |bands AS (
       |  $bandsUnion),
       |bcap AS MATERIALIZED (
       |  SELECT band_id, k1, k2 FROM bands GROUP BY 1, 2, 3
       |  HAVING count(*) <= $maxBucket),
       |bandsf AS MATERIALIZED (
       |  SELECT a.fp, a.band_id, a.k1, a.k2
       |  FROM bands a JOIN bcap USING (band_id, k1, k2)),
       |cpair AS (
       |  SELECT DISTINCT a.fp AS fp_a, b.fp AS fp_b
       |  FROM bandsf a
       |  JOIN bandsf b ON a.band_id = b.band_id AND a.k1 = b.k1 AND a.k2 = b.k2
       |    AND a.fp < b.fp),
       |cfilt AS (
       |  SELECT c.fp_a, c.fp_b FROM cpair c
       |  JOIN sigc sa ON sa.fp = c.fp_a
       |  JOIN sigc sb ON sb.fp = c.fp_b
       |  WHERE ($est) >= $minEq),
       |near AS (
       |  SELECT CASE WHEN a.doc_id < b.doc_id THEN a.doc_id ELSE b.doc_id END AS id_a,
       |    CASE WHEN a.doc_id < b.doc_id THEN c.fp_a ELSE c.fp_b END AS fp_a,
       |    CASE WHEN a.doc_id < b.doc_id THEN b.doc_id ELSE a.doc_id END AS id_b,
       |    CASE WHEN a.doc_id < b.doc_id THEN c.fp_b ELSE c.fp_a END AS fp_b
       |  FROM cfilt c
       |  JOIN ud a ON a.fp = c.fp_a
       |  JOIN ud b ON b.fp = c.fp_b
       |  WHERE a.doc_id <> b.doc_id),
       |allp AS (SELECT * FROM exact UNION ALL SELECT * FROM near)
       |SELECT id_a, id_b, CAST(count(*) AS BIGINT) AS n_near_spans
       |FROM allp GROUP BY 1, 2""".stripMargin
  }

  def paragraphDedupOracleSql: String = {
    val w = SpanWords
    s"""WITH p AS (
       |  SELECT doc_id, unnest(string_split_regex(text, '\\n\\s*\\n')) AS para
       |  FROM documents),
       |wd AS (
       |  SELECT doc_id,
       |    list_filter(string_split_regex(trim(para), '\\s+'), x -> x <> '') AS ws
       |  FROM p WHERE len(list_filter(string_split_regex(trim(para), '\\s+'), x -> x <> '')) > 0),
       |s AS (
       |  SELECT doc_id, unnest(list_transform(range(1, CAST(ceil(len(ws) / $w.0) AS BIGINT) + 1),
       |    c -> md5(array_to_string(list_slice(ws, (c - 1) * $w + 1, c * $w), ' ')))) AS fp
       |  FROM wd),
       |f AS (SELECT fp, count(DISTINCT doc_id) AS nd FROM s GROUP BY fp),
       |d AS (
       |  SELECT s.doc_id, count(*) AS n_spans,
       |    sum(CASE WHEN f.nd >= 2 THEN 1 ELSE 0 END) AS n_dup
       |  FROM s JOIN f USING (fp) GROUP BY s.doc_id)
       |SELECT doc_id, CAST(n_spans AS BIGINT) AS n_spans,
       |  CAST(n_dup AS BIGINT) AS n_dup_spans,
       |  CAST(n_dup AS DOUBLE) / n_spans AS dup_frac
       |FROM d""".stripMargin
  }

  /** Posting-list cap for d14: a gram whose (doc, pos) posting list
    * exceeds this is corpus boilerplate (licence headers, templates)
    * whose pair fan-out is the quadratic term — dropped whole, the
    * d2 [[MaxShingleDf]] philosophy at gram granularity. */
  val ExactSubstrPostingCap = 200

  /** d14: EXACT-SUBSTRING dedup (the Lee et al. 2022 "ExactSubstr"
    * recipe, arXiv:2107.06499, re-expressed distributed): find every
    * pair of documents sharing a VERBATIM token run of ≥ `w` tokens.
    * Where the paper builds one giant suffix array, the distributed
    * form slides a stride-1 window of `w` tokens over each doc and
    * digests it (md5, d1's digests-not-text discipline): an overlap
    * of length L ≥ w contains exactly L−w+1 shared grams, so
    * gram-digest equality is a LOSSLESS detector and the run length
    * reconstructs exactly. Shared grams group by digest (capped
    * posting lists — see [[ExactSubstrPostingCap]]), explode to
    * cross-doc (pos_a, pos_b) hits, and coalesce into maximal runs
    * with the diagonal trick: hits of one contiguous overlap share
    * diag = pos_a − pos_b, and pos_a − row_number() over
    * (pair, diag | order pos_a) is constant exactly within a
    * consecutive run. Output per doc pair: longest overlap in
    * tokens, run count, total shared grams — all integral.
    * 100 TB shape: the gram stream is O(corpus tokens) rows of
    * (doc_id, pos, 32-char digest) — linear, the same budget the
    * suffix array pays — and every shuffle (digest groupBy, capped
    * pair explode, per-pair window, final rollup) carries digests
    * and ids only; text never moves, no all-pairs stage exists. */
  def exactSubstring(spark: SparkSession, dir: String,
                     minTokens: Int = SpanWords,
                     postingCap: Int = ExactSubstrPostingCap): DataFrame =
    exactSubstringOn(
      t(spark, dir, "documents").select(col("doc_id"), col("text")),
      minTokens, postingCap)

  /** `materialize = false` (plan dumps / tests only): skip the gram
    * cache and the eager result checkpoint so the declarative plan
    * can be explained (same seam as d13/t17). */
  private[graft] def exactSubstringOn(docs: DataFrame, w: Int,
                                      postingCap: Int,
                                      materialize: Boolean = true): DataFrame = {
    val grams1 = docs
      .select(col("doc_id"),
        filter(split(trim(col("text")), "\\s+"), x => length(x) > lit(0)).as("ws"))
      .filter(size(col("ws")) >= w)
      // Native GramDigests kernel: the higher-order form ran md5 in
      // an interpreted lambda and allocated a slice + joined string
      // per position (stride-1 windows touch every word w times).
      // BINARY digests (raw 16 md5 bytes, not the 32-char hex): the
      // digest is purely a group/join key here — never output — and
      // this stream shuffles three times (census, probe join,
      // collect), so half the key bytes is half the exchange volume.
      // hex(g) parity with the hex form pinned by TextHashSpec.
      .select(col("doc_id"),
        explode(graft.functions.TextHash.gramDigestsBin(col("ws"), w)).as("t"))
      .select(col("doc_id"), col("t.pos").as("pos"), col("t.g").as("g"))
      // Two consumers (census, posting probe): disk-cache one gram
      // materialization instead of re-running the scan+window explode
      // — the cache is O(corpus tokens), a shuffle-spill-sized cost.
      // persist (kept for InMemoryRelation stats — a checkpointed
      // LogicalRDD is stats-less and demotes downstream join plans)
      // with a finally-unpersist after the result materializes below,
      // so no CacheManager entry outlives the call.
    val grams = if (materialize) grams1.persist(CorpusCacheLevel) else grams1
    try {
    // Census first (d13's lesson): posting lists are only collected
    // for grams that are both shared across ≥2 docs (min≠max doc is a
    // full-distinct check for free) and under the boilerplate cap.
    val live = grams.groupBy(col("g"))
      .agg(count(lit(1)).as("n"),
        min(col("doc_id")).as("d0"), max(col("doc_id")).as("d1"))
      .filter(col("n") <= postingCap && col("d0") =!= col("d1"))
      .select(col("g"))
    val hits = grams.join(live, "g")
      .groupBy(col("g"))
      .agg(array_sort(collect_list(struct(col("doc_id"), col("pos")))).as("ms"))
      // Native PosPairs kernel: cross-doc (i < j) position pairs in
      // one pass — the nested transform/filter/slice form it
      // replaces ran interpreted (PairsSpec parity).
      .select(explode(graft.functions.Pairs.posPairs(col("ms"))).as("p"))
      .select(col("p.id_a").as("id_a"), col("p.pos_a").as("pos_a"),
        col("p.id_b").as("id_b"), col("p.pos_b").as("pos_b"))
    val runs = hits
      .withColumn("diag", col("pos_a") - col("pos_b"))
      .withColumn("grp", col("pos_a") -
        row_number().over(org.apache.spark.sql.expressions.Window
          .partitionBy(col("id_a"), col("id_b"), col("diag"))
          .orderBy(col("pos_a"))))
      .groupBy(col("id_a"), col("id_b"), col("diag"), col("grp"))
      .agg(count(lit(1)).as("run_grams"))
    // Eager checkpoint of the (pair-sized) result lets the finally
    // release the gram cache before the frame reaches the caller.
    val res = runs.groupBy(col("id_a"), col("id_b"))
      .agg((max(col("run_grams")) + lit(w - 1)).cast("long").as("max_overlap_tokens"),
        count(lit(1)).as("n_runs"),
        sum(col("run_grams")).cast("long").as("n_shared_grams"))
    if (materialize) res.localCheckpoint(true) else res
    } finally { if (materialize) grams.unpersist(false) }
  }

  def exactSubstringOracleSql(w: Int, postingCap: Int): String =
    s"""WITH d AS (
       |  SELECT doc_id,
       |    list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '') AS ws
       |  FROM documents),
       |g0 AS (
       |  SELECT doc_id, unnest(list_transform(range(1, len(ws) - ${w - 1} + 1),
       |    p -> {'pos': p,
       |          'g': md5(array_to_string(list_slice(ws, p, p + ${w - 1}), ' '))}),
       |    recursive := true)
       |  FROM d WHERE len(ws) >= $w),
       |live AS (
       |  SELECT g FROM g0 GROUP BY g
       |  HAVING count(*) <= $postingCap AND min(doc_id) <> max(doc_id)),
       |pr AS (
       |  SELECT a.doc_id AS id_a, a.pos AS pos_a, b.doc_id AS id_b, b.pos AS pos_b
       |  FROM g0 a JOIN g0 b ON a.g = b.g AND a.doc_id < b.doc_id
       |  JOIN live ON live.g = a.g),
       |rn AS (
       |  SELECT id_a, id_b, pos_a - pos_b AS diag,
       |    pos_a - row_number() OVER (
       |      PARTITION BY id_a, id_b, pos_a - pos_b ORDER BY pos_a) AS grp
       |  FROM pr),
       |rl AS (
       |  SELECT id_a, id_b, diag, grp, count(*) AS run_grams
       |  FROM rn GROUP BY 1, 2, 3, 4)
       |SELECT id_a, id_b,
       |  CAST(max(run_grams) + ${w - 1} AS BIGINT) AS max_overlap_tokens,
       |  CAST(count(*) AS BIGINT) AS n_runs,
       |  CAST(sum(run_grams) AS BIGINT) AS n_shared_grams
       |FROM rl GROUP BY 1, 2""".stripMargin
}
