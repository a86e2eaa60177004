package graft.llm

import graft.{QueryModule, Tables}
import graft.functions.Hashing
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators (SURVEY §2.10 U1-U2 + north-star EXT tier):
  * exact (content-hash groupBy), n-gram Jaccard near-dup, MinHash+LSH.
  *
  * Scale design:
  *  - exact dedup is one hash-shuffle on the content hash — the canonical
  *    100 TB dedup; never `dropDuplicates(text)` on raw text (shuffles the
  *    full payload), hash first and shuffle the 16-byte digest.
  *  - pairwise Jaccard is O(n²) per block and exists as the verification
  *    stage; candidate generation at scale is the MinHash/LSH path below
  *    (shingle-explode → per-permutation min → band-key equi-join), whose
  *    shuffles are all on small keys.
  */
object Dedup extends QueryModule {

  private def words(c: Column): Column = split(c, " ")

  /** Word 3-gram shingle set, materialized as distinct 60-bit hashes (not
    * strings): set ops on fixed-width longs are several times cheaper than
    * on ~20-char strings, and since both engines apply the identical hash,
    * set sizes/intersections — and therefore every downstream Jaccard —
    * are identical too (even a collision would collide identically).
    * Computed by the fused native expression (one MD5 per gram over a byte
    * range of the text — no per-gram strings/arrays; see
    * org.apache.spark.sql.graft.NgramHash, value-pinned by NgramHashSpec).
    */
  private def shingles(text: Column): Column =
    graft.functions.VectorExpressions.word_ngram_hashes(text, 3, distinct = true)

  private val duckShingles =
    "list_distinct(list_transform(range(1, greatest(len(string_split(text, ' ')) - 1, 2)), " +
      "i -> CAST('0x' || substr(md5(array_to_string(string_split(text, ' ')[i:i+2], ' ')), 1, 15) AS BIGINT)))"

  /** The connected-components chain over the Jaccard ≥ 0.8 pair graph
    * with PREFIXED CTE names (cl_*) so it composes into OTHER oracles
    * (refinery_dedup_pack) without colliding with their CTEs; exposes
    * `cl_losers(doc_id)` — the non-canonical members of every near-dup
    * cluster, i.e. exactly the docs a representative-keeping dedup
    * drops (the Spark side's `dedupClusters.filter(!canonical)`). The
    * enclosing query must open `WITH RECURSIVE`.
    */
  private[llm] val duckClusterLoserCtes: String = duckClusterLoserCtesOver("")

  /** [[duckClusterLoserCtes]] parameterized by a WHERE clause on the source
    * corpus ("" reproduces the original byte-for-byte) — the Jaccard-pair
    * predicate is PAIRWISE, so a closure over `documents WHERE survivor`
    * equals the full closure minus edges touching removed docs, which is
    * exactly the rebuild [[Forget]]'s cascade oracles must replay.
    */
  private[llm] def duckClusterLoserCtesOver(where: String): String =
    duckClusterLoserCtesNamed("cl_", where)

  /** [[duckClusterLoserCtesOver]] with a caller-chosen CTE-name prefix, so
    * one statement can hold TWO closures (full corpus + takedown
    * survivors — the forget audit's before/after).
    */
  private[llm] def duckClusterLoserCtesNamed(p: String, where: String): String =
    s"""${p}d AS (
       |  SELECT doc_id, lang, $duckShingles AS s FROM documents$where
       |), ${p}pairs AS (
       |  SELECT a.doc_id AS pa, b.doc_id AS pb
       |  FROM ${p}d a JOIN ${p}d b ON a.lang = b.lang AND a.doc_id < b.doc_id
       |  WHERE ROUND(len(list_intersect(a.s, b.s))::DOUBLE /
       |              (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))), 6) >= 0.8
       |), ${p}edges AS (
       |  SELECT pa AS a, pb AS b FROM ${p}pairs
       |  UNION SELECT pb, pa FROM ${p}pairs
       |), ${p}reach(n, m) AS (
       |  SELECT a, b FROM ${p}edges
       |  UNION
       |  SELECT r.n, e.b FROM ${p}reach r JOIN ${p}edges e ON r.m = e.a WHERE e.b <> r.n
       |), ${p}losers AS (
       |  SELECT n AS doc_id FROM ${p}reach GROUP BY n
       |  HAVING LEAST(n, MIN(m)) <> n
       |)""".stripMargin

  // ------------------------------------------------------------ exact dedup

  /** U1: exact dedup via content hash — keep min doc_id per digest. */
  def dedupExact(spark: SparkSession, sfDir: String): DataFrame = {
    Tables.documents(spark, sfDir)
      .groupBy(md5(col("text")).as("content_hash"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
      .select("keep_id", "content_hash", "n_copies")
      .orderBy("keep_id")
  }

  // --------------------------------------------------- n-gram Jaccard pairs

  /** U2a: near-duplicate pairs by exact 3-gram-shingle Jaccard ≥ 0.8, via a
    * prefix-filtered set-similarity join (the PPJoin family of
    * all-pairs-similarity algorithms from the ICDE/WWW literature, minus the
    * positional refinement).
    *
    * Prefix-filter lemma: under any fixed total order of tokens (ascending
    * hash here), J(A,B) ≥ t implies overlap ≥ ⌈t·max(|A|,|B|)⌉, so the
    * (n − ⌈t·n⌉ + 1)-prefixes of both sets must share ≥1 token. Exploding
    * only those short prefixes (≈(1−t)·n tokens per doc) and equi-joining on
    * (lang, token) makes candidate generation an inverted-index probe:
    * unrelated docs almost never share a specific rare shingle, so the
    * quadratic all-pairs space never materializes. Candidates then pass the
    * cheap size-ratio test (J ≥ t ⇒ min/max ≥ t) before exact verification.
    * All stages are equi-joins/groupBys — shuffle-partitionable at 100 TB.
    */
  def dedupNgramJaccard(spark: SparkSession, sfDir: String): DataFrame =
    jaccardPairs(spark, sfDir, t = 0.8)
      .select("doc_a", "doc_b", "jacc")
      .orderBy("doc_a", "doc_b")

  /** The PPJoin pipeline above, parameterized by threshold — (doc_a, doc_b,
    * jacc, lang) rows for every within-language pair with J ≥ t. Lower t
    * widens the explored prefix ((1−t)·n tokens per doc), so cost rises as
    * t falls; exact at every t.
    */
  private[llm] def jaccardPairs(spark: SparkSession, sfDir: String, t: Double): DataFrame =
    jaccardPairsOf(Tables.documents(spark, sfDir), t)

  private[llm] def jaccardPairsOf(docs: DataFrame, t: Double): DataFrame = {
    // The pinned doc_id exchange sits BELOW the shingle projection (r14):
    // shingling above the shared exchange runs WIDE (the exchange spreads
    // rows over the cluster) and ships raw text instead of the larger
    // sorted-shingle arrays; ReuseExchange still shares the one exchange
    // across the two probe sides + two verify joins, which now each
    // shingle their own reference in parallel — 3 wide passes beat the
    // old single-task pass a 1-row-group scan forced below the exchange
    // (guide §2.5; before: stage-time probe showed the whole shingling
    // serialized into the scan task).
    val d = docs
      .select(col("doc_id"), col("lang"), col("text"))
      .repartition(col("doc_id"))
      .select(col("doc_id"), col("lang"), sort_array(shingles(col("text"))).as("s"))
      .withColumn("n", size(col("s")))
    val prefix = slice(col("s"), lit(1), (col("n") - ceil(col("n") * t) + 1).cast("int"))
    val probes = d.select(col("doc_id"), col("lang"), col("n"), explode(prefix).as("tok"))
    val cand = probes.as("x").join(probes.as("y"),
        col("x.lang") === col("y.lang") && col("x.tok") === col("y.tok") &&
        col("x.doc_id") < col("y.doc_id") &&
        least(col("x.n"), col("y.n")).cast("double") / greatest(col("x.n"), col("y.n")) >= t)
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
        col("x.lang").as("lang"))
      .distinct()
    // both sides sorted-distinct → the native merge count ≡ array_intersect
    val inter = graft.functions.VectorExpressions
      .sorted_intersect_count(col("sa"), col("sb"))
    val jacc = inter.cast("double") / (size(col("sa")) + size(col("sb")) - inter)
    cand
      .join(d.select(col("doc_id").as("doc_a"), col("s").as("sa")), "doc_a")
      .join(d.select(col("doc_id").as("doc_b"), col("s").as("sb")), "doc_b")
      .withColumn("jacc", round(jacc, 6))
      .filter(col("jacc") >= t)
      .select("doc_a", "doc_b", "jacc", "lang")
  }

  /** Sorted-shingle signature rows (doc_id, lang, s) of a (doc_id, lang,
    * text) frame — the per-doc artifact the STANDING PPJOIN INDEX stores:
    * everything the exact prefix-probe candidate generation and the
    * Jaccard verification need, with no re-read of the original text.
    */
  private[graft] def shingleSigs(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), col("lang"),
      sort_array(shingles(col("text"))).as("s"))

  /** INCREMENTAL exact-Jaccard pairs — the per-batch half of the standing
    * dedup index: verified J ≥ t pairs touching the NEW docs, against the
    * standing corpus (`olds`, the accumulated signature index) and within
    * the batch itself. Candidates come from the same PPJoin prefix-token
    * probes + length-ratio filter as [[jaccardPairsOf]], so over a drained
    * stream the union of per-batch pair sets EQUALS the batch PPJoin pair
    * set: for any qualifying pair the later-arriving endpoint finds the
    * earlier one in the index (or beside it in the same batch), and the
    * candidate predicate is symmetric. Pairs are normalized (doc_a <
    * doc_b) to the batch orientation. Scale: the probe join is
    * batch × index on (lang, prefix-token) — the small batch side
    * broadcasts, so each micro-batch costs one index scan with zero
    * shuffle of the index (a tok-bucketed index layout would prune even
    * the scan); verification re-joins signatures for CANDIDATES only.
    */
  private[graft] def incrementalJaccardPairs(
      news: DataFrame, olds: DataFrame, t: Double): DataFrame = {
    def withPrefix(sigs: DataFrame): DataFrame = {
      val d = sigs.withColumn("n", size(col("s")))
      val prefix =
        slice(col("s"), lit(1), (col("n") - ceil(col("n") * t) + 1).cast("int"))
      d.select(col("doc_id"), col("lang"), col("n"), explode(prefix).as("tok"))
    }
    val np = withPrefix(news)
    val op = withPrefix(olds)
    def ratioOk = least(col("x.n"), col("y.n")).cast("double") /
      greatest(col("x.n"), col("y.n")) >= t
    val candNewOld = broadcast(np).as("x").join(op.as("y"),
        col("x.lang") === col("y.lang") && col("x.tok") === col("y.tok") && ratioOk)
      .select(least(col("x.doc_id"), col("y.doc_id")).as("doc_a"),
        greatest(col("x.doc_id"), col("y.doc_id")).as("doc_b"))
    val candNewNew = np.as("x").join(np.as("y"),
        col("x.lang") === col("y.lang") && col("x.tok") === col("y.tok") &&
        col("x.doc_id") < col("y.doc_id") && ratioOk)
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
    val cand = candNewOld.unionAll(candNewNew).distinct()
    val all = news.select("doc_id", "s").unionAll(olds.select("doc_id", "s"))
    val inter = graft.functions.VectorExpressions
      .sorted_intersect_count(col("sa"), col("sb"))
    val jacc = inter.cast("double") / (size(col("sa")) + size(col("sb")) - inter)
    cand
      .join(all.select(col("doc_id").as("doc_a"), col("s").as("sa")), "doc_a")
      .join(all.select(col("doc_id").as("doc_b"), col("s").as("sb")), "doc_b")
      .withColumn("jacc", round(jacc, 6))
      .filter(col("jacc") >= t)
      .select("doc_a", "doc_b", "jacc")
  }

  // ------------------------------------------------------------ MinHash/LSH

  /** U2b: MinHash signatures + LSH banding + exact-Jaccard verification.
    *
    * Stages (each a narrow shuffle, no quadratic blow-up before banding):
    *  1. explode distinct shingles → (doc, shingle_hash)
    *  2. broadcast the 16 permutation params, min per (doc, perm)
    *  3. band key = 4 consecutive minhashes joined (4 bands × 4 rows)
    *  4. equi-self-join on (band, key) → candidate pairs
    *  5. verify candidates with exact shingle Jaccard ≥ 0.5
    *
    * With s ≈ 0.96 planted near-dups, P(candidate) = 1−(1−s⁴)⁴ ≈ 0.9995.
    */
  /** Word 3-gram shingle hashes of a (doc_id, text, ...) frame — the shared
    * front half of every shingle-based operator (batch LSH here, the
    * streaming band registry in graft.streaming.StatefulOps).
    */
  def shingled(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), shingles(col("text")).as("s"))

  /** LSH band rows (doc_id, band, band_key) from a (doc_id, s) frame.
    * Per-doc signatures in ONE fused native-expression traversal of the
    * shingle array (graft_minhash; see MinhashSignature scaladoc) — zero
    * shuffle: signature computation is a pure map stage; only whatever
    * consumes the band rows (self-join in batch, keyed state in streaming)
    * needs an exchange. Values are exactly the 16-fold HOF formulation's,
    * so the DuckDB oracle is untouched.
    */
  def bandRowsOf(shingledDocs: DataFrame): DataFrame = {
    val sig = shingledDocs.select(col("doc_id"),
      graft.functions.VectorExpressions
        .minhash_signature(col("s"), Hashing.MinhashParams, Hashing.MinhashP).as("mh"))
    // 4 bands × 4 rows: band key = the 4 minhashes joined; one row per band.
    val bandStructs = (0 until 4).map { b =>
      struct(lit(b).as("band"),
        concat_ws("-", (0 until 4).map(r =>
          element_at(col("mh"), b * 4 + r + 1).cast("string")): _*).as("band_key"))
    }
    sig
      .select(col("doc_id"), explode(array(bandStructs: _*)).as("bk"))
      .select(col("doc_id"), col("bk.band").as("band"), col("bk.band_key").as("band_key"))
  }

  def dedupMinhash(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = shingled(Tables.documents(spark, sfDir))

    val bands = bandRowsOf(docs)

    val cand = bands.as("x").join(bands.as("y"),
        col("x.band") === col("y.band") && col("x.band_key") === col("y.band_key") &&
        col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()

    // sort once per doc (not per pair) so the native merge count applies
    val sortedDocs = docs.select(col("doc_id"), sort_array(col("s")).as("s"))
    val inter = graft.functions.VectorExpressions
      .sorted_intersect_count(col("sa"), col("sb"))
    val jacc = inter.cast("double") / (size(col("sa")) + size(col("sb")) - inter)
    cand
      .join(sortedDocs.select(col("doc_id").as("doc_a"), col("s").as("sa")), "doc_a")
      .join(sortedDocs.select(col("doc_id").as("doc_b"), col("s").as("sb")), "doc_b")
      .withColumn("jacc", round(jacc, 6))
      .filter(col("jacc") >= 0.5)
      .select("doc_a", "doc_b", "jacc")
      .orderBy("doc_a", "doc_b")
  }

  /** Incremental near-dedup — the daily-ingest shape: score each NEW
    * batch document (doc_id mod 4 = 3 stands in for today's arrivals)
    * against the EXISTING corpus (the other 75%) only, never corpus
    * self-pairs. Candidates come from the same banded-LSH equi-join as
    * `dedupMinhash`, but DIRECTED new→old — at scale the old side's band
    * rows are the PRE-BUILT signature index (materialized once in the
    * curated zone, appended per batch), so a daily batch costs O(batch)
    * signature computation plus an equi-join against the index instead of
    * an O(corpus) self-join. Verification matches `dedupMinhash` (exact
    * Jaccard ≥ 0.5 via the sorted-merge native count); output is each new
    * doc's BEST existing match (highest jaccard, lowest old id on ties) —
    * the keep/drop decision an ingest gate acts on.
    */
  def dedupIncremental(spark: SparkSession, sfDir: String): DataFrame = {
    val all = shingled(Tables.documents(spark, sfDir))
    val isNew = col("doc_id") % 4 === 3
    val newBands = bandRowsOf(all.filter(isNew))
    val oldBands = bandRowsOf(all.filter(!isNew))
    incrementalBest(all, newBands, oldBands)
  }

  /** The back half [[dedupIncremental]] and [[dedupIncrementalIndexed]]
    * share: banded candidates new→old, exact-Jaccard verification, best
    * existing match per new doc.
    */
  private def incrementalBest(
      all: DataFrame, newBands: DataFrame, oldBands: DataFrame): DataFrame = {
    val cand = newBands.as("n").join(oldBands.as("o"),
        col("n.band") === col("o.band") && col("n.band_key") === col("o.band_key"))
      .select(col("n.doc_id").as("new_id"), col("o.doc_id").as("old_id"))
      .distinct()
    val sortedDocs = all.select(col("doc_id"), sort_array(col("s")).as("s"))
    val inter = graft.functions.VectorExpressions
      .sorted_intersect_count(col("sa"), col("sb"))
    val jacc = inter.cast("double") / (size(col("sa")) + size(col("sb")) - inter)
    val best = org.apache.spark.sql.expressions.Window
      .partitionBy("new_id").orderBy(col("jacc").desc, col("old_id"))
    cand
      .join(sortedDocs.select(col("doc_id").as("new_id"), col("s").as("sa")), "new_id")
      .join(sortedDocs.select(col("doc_id").as("old_id"), col("s").as("sb")), "old_id")
      .withColumn("jacc", round(jacc, 6))
      .filter(col("jacc") >= 0.5)
      .withColumn("rn", row_number().over(best))
      .filter(col("rn") === 1)
      .select(col("new_id"), col("old_id").as("dup_of"), col("jacc"))
      .orderBy("new_id")
  }

  /** (JVM, corpus-fingerprint) → materialized band-index parquet path —
    * the signature index a deployment keeps appended in the curated zone
    * (the Graph.materializedPrior discipline: fingerprint in the key so
    * in-place corpus regeneration invalidates, SHA-256 path component so
    * keys can't collide).
    */
  private val bandIndexMemo = scala.collection.mutable.Map[String, String]()

  private def materializedBandIndex(spark: SparkSession, sfDir: String): String =
    bandIndexMemo.synchronized {
      val key = s"$sfDir@${Bpe.corpusFingerprint(spark, sfDir)}"
      bandIndexMemo.getOrElseUpdate(key, {
        val digest = java.security.MessageDigest.getInstance("SHA-256")
          .digest(key.getBytes("UTF-8")).map("%02x".format(_)).mkString
        // cross-process safety: atomic rename-into-place (Fs scaladoc)
        graft.Fs.writeParquetAtomic(
          bandRowsOf(shingled(Tables.documents(spark, sfDir))
            .filter(col("doc_id") % 4 =!= 3)),
          java.nio.file.Paths.get(
            sys.props("java.io.tmpdir"), "graft_dedup", digest, "band_index"))
      })
    }

  /** The PRODUCTION incremental-dedup path, priced honestly: read the
    * standing SIGNATURE INDEX (the old corpus's band rows) from its
    * materialized parquet and score only today's batch against it —
    * [[dedupIncremental]] keeps recomputing the old side's signatures
    * inside the query so its single hash pins indexed ≡ recomputed
    * end-to-end; this entry SHARES that exact oracle (the oracle never
    * sees the parquet round-trip) while its bench number prices what the
    * pipeline actually pays per batch: batch-side signatures + an
    * equi-join against the index + candidate-only verification. (First
    * invocation per JVM pays the index build into the memo; Bench's
    * min-of-two records the warm indexed cost — the steady state.
    * Verification re-shingles only candidate-joined docs' text, which is
    * the by-id content fetch a real store serves.)
    */
  def dedupIncrementalIndexed(spark: SparkSession, sfDir: String): DataFrame = {
    val oldBands = spark.read.parquet(materializedBandIndex(spark, sfDir))
    val all = shingled(Tables.documents(spark, sfDir))
    val newBands = bandRowsOf(all.filter(col("doc_id") % 4 === 3))
    incrementalBest(all, newBands, oldBands)
  }

  /** LSH recall report — the measurement that justifies trusting MinHash
    * banding at scale: exact all-pairs Jaccard ≥ 0.5 ground truth (PPJoin
    * at t = 0.5, still prefix-filtered) LEFT JOIN the LSH pipeline's
    * verified output, recall per language. With 4 bands × 4 rows,
    * P(candidate | J=s) = 1−(1−s⁴)⁴ — borderline pairs (J ≈ 0.5) are
    * where recall visibly drops below 1, which is exactly what this
    * report exists to show. Integer-exact counting; the division happens
    * on identical longs.
    */
  def dedupLshRecall(spark: SparkSession, sfDir: String): DataFrame = {
    val truth = jaccardPairs(spark, sfDir, t = 0.5)
    val found = dedupMinhash(spark, sfDir)
      .select(col("doc_a"), col("doc_b"), lit(1).as("hit"))
    truth.join(found, Seq("doc_a", "doc_b"), "left")
      .groupBy("lang")
      .agg(
        count(lit(1)).as("n_true"),
        count(col("hit")).as("n_found"),
        round(count(col("hit")) / count(lit(1)), 4).as("recall"))
      .orderBy("lang")
  }

  /** LSH banding S-CURVE sweep — the (bands × rows) tuning table behind
    * every MinHash deployment: over ONE 16-minhash signature, each split
    * b×r (1×16, 2×8, 4×4, 8×2, 16×1) trades recall for candidate volume
    * along P(candidate | J=s) = 1−(1−s^r)^b — 1×16 fires only on
    * near-identical docs, 16×1 on any shared minhash. One row per
    * config: candidate-pair count, within-language ground-truth count
    * (exact PPJoin at J ≥ 0.5 — shared across configs), truth pairs the
    * banding surfaced, recall, and hit rate per million candidates (the
    * verification-cost side of the trade). Scale: candidates always come
    * from the (band, key) equi-self-join, never corpus×corpus; the
    * signature table (16 ints/doc) and the truth pairs are each
    * materialized ONCE via lineage cuts and re-read by all five configs
    * instead of recomputing the shingle scan 10× — the SuffixDedup
    * one-shot release contract (cut the 5-row result, release the
    * corpus-sized cuts).
    */
  def dedupLshSweep(spark: SparkSession, sfDir: String): DataFrame =
    // NOT widened (r14 A/B): widening the signature/truth cuts made the
    // sweep SLOWER (5.4 vs 3.5 s, 267 vs ~60 tasks) — its 25 per-config
    // broadcast builds each pay per-task overhead over tiny cut blocks,
    // so one medium task beats 32 micro-tasks here
    lshSweepOver(Tables.documents(spark, sfDir))

  /** [[dedupLshSweep]] restricted to the deterministic
    * [[CalibSamplePct]]% hash sample of docs — the form the calibration
    * itself runs at 100 TB: the exact PPJoin ground truth is quadratic
    * in corpus size, so production tunes band/row configs on a sample
    * (cost drops ~(pct∕100)² ≈ 6×) and applies the chosen config
    * corpus-wide. Both engines filter on the SAME doc_id hash before
    * anything else, so the oracle replays the sampled sweep end to end;
    * sweep logic is shared verbatim with the full tier, and the
    * sampled-vs-full recall agreement at sf0.1 is probed in SCRATCH_r9.
    */
  def dedupLshSweepSampled(spark: SparkSession, sfDir: String): DataFrame =
    lshSweepOver(calibSample(Tables.documents(spark, sfDir)))

  /** Deterministic calibration sample: keep a doc iff
    * hash60(doc_id) mod 100 < pct — the `sample_hash` discipline, so
    * DuckDB applies the identical predicate and samples nest across pct.
    */
  private[llm] val CalibSamplePct = 40

  private def calibSample(docs: DataFrame): DataFrame =
    docs.filter(
      pmod(Hashing.hash60(col("doc_id").cast("string")), lit(100)) < CalibSamplePct)

  private def lshSweepOver(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.graft.PlanBridge
    // NOT overlapped (r14 session-4 A/B): materializing the two
    // independent cuts from driver threads (PlanBridge.scoped's overlap)
    // measured NEUTRAL here — warm min-of-3 2.25 → 2.21 s — because the
    // signature cut is a fraction of the PPJoin truth cut's cost, so
    // there is nothing for it to back-fill; reverted per the
    // only-where-measured rule.
    PlanBridge.scoped(docs.sparkSession) { s =>
      val sig = s.cut(
        shingled(docs).select(col("doc_id"),
          graft.functions.VectorExpressions
            .minhash_signature(col("s"), Hashing.MinhashParams, Hashing.MinhashP)
            .as("mh")))
      val truth = s.cut(jaccardPairsOf(docs, t = 0.5).select("doc_a", "doc_b"))
      val nTrue = truth.agg(count(lit(1)).as("n_true"))
      val configs = Seq(1 -> 16, 2 -> 8, 4 -> 4, 8 -> 2, 16 -> 1)
      // CFG-COLUMNED single chain (r14, the ksweep discipline, guide §2.4):
      // all five (bands × rows) splits ride one literal cfg column (= b,
      // unique per config) through ONE band explode, ONE join-key-pinned
      // shared exchange (both self-join sides co-partitioned — the
      // simhash_pairs discipline), ONE distinct and per-cfg aggregates —
      // instead of five unioned branches each paying its own explode,
      // self-join exchanges and scalar aggregates. Per-config band keys and
      // pair sets are untouched: cfg rides every join and group key.
      val bandStructs = configs.flatMap { case (b, r) =>
        (0 until b).map { bi =>
          struct(lit(b).as("cfg"), lit(bi).as("band"),
            concat_ws("-", (0 until r).map(ri =>
              element_at(col("mh"), bi * r + ri + 1).cast("string")): _*)
              .as("band_key"))
        }
      }
      val bands = sig
        .select(col("doc_id"), explode(array(bandStructs: _*)).as("bk"))
        .select(col("doc_id"), col("bk.cfg").as("cfg"), col("bk.band").as("band"),
          col("bk.band_key").as("band_key"))
        .repartition(col("cfg"), col("band"), col("band_key"))
      val cand = bands.as("x").join(bands.as("y"),
          col("x.cfg") === col("y.cfg") && col("x.band") === col("y.band") &&
          col("x.band_key") === col("y.band_key") &&
          col("x.doc_id") < col("y.doc_id"))
        .select(col("x.cfg").as("cfg"),
          col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
        .distinct()
      val nCand = cand.groupBy("cfg").agg(count(lit(1)).as("n_cand"))
      // per-cfg hits: cand is distinct per (cfg, pair), so the inner join
      // counts each truth pair once per cfg that surfaced it — exactly the
      // per-config left_semi count the unioned form computed
      val nHit = truth.join(cand, Seq("doc_a", "doc_b"))
        .groupBy("cfg").agg(count(lit(1)).as("n_hit"))
      // the config list rides the 1-row n_true frame so a config with ZERO
      // candidates still emits its row (the unioned form's n_cand = 0 row)
      val cfgRows = nTrue.select(col("n_true"), explode(expr(
          "array(" + configs.map { case (b, r) =>
            s"named_struct('bands', $b, 'rows_per_band', $r)" }.mkString(",") +
          ")")).as("c"))
        .select(col("c.bands").as("bands"), col("c.rows_per_band").as("rows_per_band"),
          col("n_true"))
      cfgRows
        .join(broadcast(nCand), col("bands") === nCand("cfg"), "left").drop("cfg")
        .join(broadcast(nHit), col("bands") === nHit("cfg"), "left").drop("cfg")
        .select(col("bands"), col("rows_per_band"),
          coalesce(col("n_cand"), lit(0L)).as("n_cand"), col("n_true"),
          coalesce(col("n_hit"), lit(0L)).as("n_hit"))
        .select(col("bands"), col("rows_per_band"),
          col("n_cand"), col("n_true"), col("n_hit"),
          // degenerate-corpus guards on BOTH ratios (mirrored in the
          // oracle): zero truth pairs / zero candidates would otherwise
          // diverge silently (Spark NULL) vs loudly (DuckDB) — the same
          // class, so the same CASE on both engines
          expr("CASE WHEN n_true = 0 THEN CAST(0.0 AS DOUBLE) " +
            "ELSE round(CAST(n_hit AS DOUBLE) / n_true, 4) END").as("recall"),
          expr("CASE WHEN n_cand = 0 THEN CAST(0 AS BIGINT) " +
            "ELSE n_hit * 1000000 div n_cand END").as("hit_per_cand_ppm"))
        .orderBy("bands")
    }
  }

  /** MinHash as an ESTIMATOR, calibrated against its own ground truth:
    * for every banded candidate pair, the signature-agreement estimate
    * Ĵ = |{i : mhᵃᵢ = mhᵇᵢ}| ∕ 16 (the property the whole scheme rests
    * on — P(mhᵢ agrees) = J exactly, so agreement∕16 is an unbiased
    * 16-sample estimate) beside the EXACT shingle Jaccard and the
    * signed error — the `sketch_kmv`-style exact-oracled estimate
    * table, showing ±1∕16-granular error concretely instead of citing
    * the variance bound. Estimate in exact ppm (matches·62500);
    * per-pair agreement is one 16-element array walk on the
    * candidate-only joined pairs, so the extra cost over
    * [[dedupMinhash]] is O(candidates).
    */
  def dedupMinhashEstimate(spark: SparkSession, sfDir: String): DataFrame =
    minhashEstimateOver(Tables.repartitionIfNarrow(Tables.documents(spark, sfDir)))

  /** [[dedupMinhashEstimate]] on the deterministic [[CalibSamplePct]]%
    * hash sample — estimator calibration priced for 100 TB: the ±1∕16
    * agreement-granularity error table needs only a representative pair
    * population, not the whole corpus, and the hash sample keeps it
    * reproducible AND oracle-replayable (same predicate both engines).
    */
  def dedupMinhashEstimateSampled(spark: SparkSession, sfDir: String): DataFrame =
    minhashEstimateOver(Tables.repartitionIfNarrow(calibSample(Tables.documents(spark, sfDir))))

  private def minhashEstimateOver(corpus: DataFrame): DataFrame = {
    val docs = shingled(corpus)
    val sig = docs.select(col("doc_id"),
      graft.functions.VectorExpressions
        .minhash_signature(col("s"), Hashing.MinhashParams, Hashing.MinhashP).as("mh"))
    val bands = bandRowsOf(docs)
    val cand = bands.as("x").join(bands.as("y"),
        col("x.band") === col("y.band") && col("x.band_key") === col("y.band_key") &&
        col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()
    val sortedDocs = docs.select(col("doc_id"), sort_array(col("s")).as("s"))
    val inter = graft.functions.VectorExpressions
      .sorted_intersect_count(col("sa"), col("sb"))
    val jacc = inter.cast("double") / (size(col("sa")) + size(col("sb")) - inter)
    val matches = aggregate(
      zip_with(col("ma"), col("mb"), (a, b) => when(a === b, 1L).otherwise(0L)),
      lit(0L), (acc, x) => acc + x)
    cand
      .join(sortedDocs.select(col("doc_id").as("doc_a"), col("s").as("sa")), "doc_a")
      .join(sortedDocs.select(col("doc_id").as("doc_b"), col("s").as("sb")), "doc_b")
      .join(sig.select(col("doc_id").as("doc_a"), col("mh").as("ma")), "doc_a")
      .join(sig.select(col("doc_id").as("doc_b"), col("mh").as("mb")), "doc_b")
      .withColumn("jacc", round(jacc, 6))
      .filter(col("jacc") >= 0.5)
      .select(col("doc_a"), col("doc_b"), col("jacc"),
        (matches * 62500L).as("est_ppm"))
      .withColumn("err_ppm",
        col("est_ppm") - round(col("jacc") * 1000000).cast("long"))
      .orderBy("doc_a", "doc_b")
  }

  /** Cross-SOURCE duplication matrix — which feeds duplicate which: the
    * verified MinHash near-dup pairs ([[dedupMinhash]], J ≥ 0.5) keyed by
    * the unordered source pair of their endpoints, with pair count and
    * distinct docs touched per cell. The src_lo = src_hi diagonal is
    * within-feed duplication; off-diagonal cells are the mirror/scrape
    * relationships between feeds — the table a corpus team reads before
    * deciding which source to DROP rather than dedup doc-by-doc. Scale:
    * everything after the banded pipeline is a broadcast-joinable
    * (pairs × 2 source lookups) + a source²-bounded groupBy.
    */
  def dedupSourceMatrix(spark: SparkSession, sfDir: String): DataFrame = {
    val src = Tables.documents(spark, sfDir).select("doc_id", "source")
    dedupMinhash(spark, sfDir)
      .join(src.select(col("doc_id").as("doc_a"), col("source").as("sa")), "doc_a")
      .join(src.select(col("doc_id").as("doc_b"), col("source").as("sb")), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        least(col("sa"), col("sb")).as("src_lo"),
        greatest(col("sa"), col("sb")).as("src_hi"))
      .groupBy("src_lo", "src_hi")
      .agg(count(lit(1)).as("n_pairs"),
        countDistinct(col("doc_a")).as("n_docs_a"),
        countDistinct(col("doc_b")).as("n_docs_b"))
      .orderBy("src_lo", "src_hi")
  }

  /** U2e: asymmetric CONTAINMENT near-dup — doc_a's shingle set ⊆-ish
    * doc_b's (|Sa∩Sb|/|Sa| ≥ 0.9), the doc-inside-doc case symmetric
    * Jaccard misses (a paragraph quoted whole inside a long page scores
    * low Jaccard but containment 1.0). Directional: exact twins emit both
    * directions. Same PPJoin discipline as the Jaccard path, adapted to
    * the asymmetric measure: only the CONTAINED side explodes a
    * (n−⌈t·n⌉+1)-prefix of its hash-sorted set; the container side
    * explodes fully (the shared_spans-scale intermediate), candidates come
    * from one (lang, token) equi-join with a container-size pre-filter
    * (|Sb| ≥ ⌈t·|Sa|⌉), and the exact intersection runs only on survivors.
    */
  def dedupContainment(spark: SparkSession, sfDir: String): DataFrame = {
    val t = 0.9
    // repartition pins ONE exchange over the shingled table; all four
    // consumers (both probe sides + both verify joins) branch after it, so
    // ReuseExchange computes the md5 shingling once instead of four times.
    val d = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("lang"), sort_array(shingles(col("text"))).as("s"))
      .withColumn("n", size(col("s")))
      .repartition(col("doc_id"))
    val prefix = slice(col("s"), lit(1), (col("n") - ceil(col("n") * t) + 1).cast("int"))
    val probesA = d.select(col("doc_id"), col("lang"), col("n"), explode(prefix).as("tok"))
    // (measured dead end: semi-joining this full explode against the
    // distinct prefix vocabulary prunes 85% of its rows but doesn't move
    // wall-clock locally — stage overhead dominates — and the vocabulary
    // broadcast grows with the corpus, so it inverts at scale. The plain
    // explode keeps shuffle volume linear with no unbounded broadcast.)
    val probesB = d.select(col("doc_id"), col("lang"), col("n"), explode(col("s")).as("tok"))
    val cand = probesA.as("x").join(probesB.as("y"),
        col("x.lang") === col("y.lang") && col("x.tok") === col("y.tok") &&
        col("x.doc_id") =!= col("y.doc_id") &&
        col("y.n") >= ceil(col("x.n") * t))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()
    val inter = graft.functions.VectorExpressions
      .sorted_intersect_count(col("sa"), col("sb"))
    cand
      .join(d.select(col("doc_id").as("doc_a"), col("s").as("sa")), "doc_a")
      .join(d.select(col("doc_id").as("doc_b"), col("s").as("sb")), "doc_b")
      .withColumn("cont", round(inter.cast("double") / size(col("sa")), 6))
      .filter(col("cont") >= t)
      .select("doc_a", "doc_b", "cont")
      .orderBy("doc_a", "doc_b")
  }

  /** Block-level corpus dedup (the C4/RefinedWeb "remove duplicated spans,
    * keep the doc" repair, block-aligned): each doc splits into 16-word
    * aligned blocks, a block whose hash appears in ≥2 DISTINCT docs is
    * corpus-duplicated boilerplate, and the report gives per-doc block
    * counts, the duplicated share (integer ppm), and the word count that
    * survives dropping duplicated blocks. Whole-doc dedup (U1/U2) misses
    * this case — two mostly-unique docs sharing one injected template
    * paragraph — while block dedup repairs it without discarding either
    * doc. Scale shape: one explode to block rows carrying 16-word hashes
    * (corpus-linear), a countDistinct per hash (vocabulary-sized result),
    * one hash-keyed join back — no pairwise anything, safe at any corpus
    * size. Within-doc repeats (df=1) are deliberately kept: this pass
    * targets cross-doc boilerplate; in-doc repetition is `text_repetition`'s
    * signal.
    */
  def dedupBlocks(spark: SparkSession, sfDir: String): DataFrame = {
    val d = Tables.documents(spark, sfDir)
      .select(col("doc_id"), words(col("text")).as("w"))
      .withColumn("nb", ceil(size(col("w")) / lit(16.0)).cast("int"))
    val blocks = d.select(col("doc_id"), explode(expr(
        "transform(sequence(0, nb - 1), b -> struct(" +
          "md5(concat_ws(' ', slice(w, b*16+1, 16))) AS bh, " +
          "size(slice(w, b*16+1, 16)) AS bsize))")).as("blk"))
      .select(col("doc_id"), col("blk.bh").as("bh"), col("blk.bsize").as("bsize"))
    val dfreq = blocks.groupBy("bh").agg(countDistinct(col("doc_id")).as("df"))
    blocks.join(dfreq, "bh")
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_blocks"),
        count(when(col("df") >= 2, lit(1))).as("dup_blocks"),
        sum(when(col("df") < 2, col("bsize")).otherwise(lit(0))).as("words_kept"))
      .withColumn("dup_ratio_ppm", expr("dup_blocks * 1000000 div n_blocks"))
      .select("doc_id", "n_blocks", "dup_blocks", "dup_ratio_ppm", "words_kept")
      .orderBy("doc_id")
  }

  /** Per-source novelty report — for each source, the share of its 16-word
    * blocks whose FIRST corpus occurrence (min doc_id) is its own: the
    * marginal-value signal a data-acquisition loop reads to decide which
    * sources still contribute new content vs re-serving what the corpus
    * already has. Rides the same block-hash normal form as dedupBlocks
    * (one explode, linear), one min-aggregation per block hash
    * (vocabulary-sized), one hash-keyed join back, a sources-sized
    * groupBy — no pairwise stage at any corpus size. Attribution is
    * by min doc_id (= ingestion order here); a production run would use
    * ingestion timestamp the same way.
    */
  def sourceNovelty(spark: SparkSession, sfDir: String): DataFrame = {
    val d = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("source"), words(col("text")).as("w"))
      .withColumn("nb", ceil(size(col("w")) / lit(16.0)).cast("int"))
    val blocks = d.select(col("doc_id"), col("source"), explode(expr(
        "transform(sequence(0, nb - 1), b -> md5(concat_ws(' ', slice(w, b*16+1, 16))))")).as("bh"))
    val first = blocks.groupBy("bh").agg(min(col("doc_id")).as("first_doc"))
    blocks.join(first, "bh")
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_blocks"),
        count(when(col("first_doc") === col("doc_id"), lit(1))).as("novel_blocks"))
      .withColumn("novelty_ppm", expr("novel_blocks * 1000000 div n_blocks"))
      .select("source", "n_blocks", "novel_blocks", "novelty_ppm")
      .orderBy("source")
  }

  // ---------------------------------------------------------------- SimHash

  /** U2c: 60-bit SimHash over the distinct word set (unit weights).
    * bit_j(simhash) = 1 iff Σ_words (bit_j(hash(word)) ? +1 : −1) > 0.
    * One explode + one groupBy with 60 conditional sums — a single shuffle.
    * (32 bits saturates on this shared-vocabulary corpus — 1k+ pairs at
    * hamming 0; 60 bits restores discriminative power.)
    */
  /** Corpus-duplicated SPAN extraction — the remediation step of
    * substring-level dedup (Lee et al., "Deduplicating Training Data
    * Makes Language Models Better", 2107.06499, public literature): any
    * repeated substring of ≥ k tokens necessarily repeats one of its
    * sliding k-grams, so the duplicated REGIONS of every document are the
    * merged intervals of its corpus-duplicated sliding 8-grams. The
    * suffix-array machinery of the paper is a single-machine construct;
    * the k-gram contract is its distributable equivalent at fixed k, and
    * what it emits is the actionable output a masking/removal pass
    * consumes: per doc, the merged word ranges to cut.
    *
    * Shape at scale: one fused n-gram pass (posexplode keeps positions),
    * one gram-hash groupBy (map-side combined, compact longs), one join
    * back, then per-doc interval merging — a doc_id-partitioned window
    * (gaps-and-islands: island break when a span starts past the running
    * max end + 1, adjacent spans merge), never anything cross-doc. The
    * duplicated-position set is tiny relative to the corpus (only
    * genuinely repeated mass survives the occ ≥ 2 filter), so the window
    * stage is load-proportional to the duplication it reports.
    */
  def dedupSpans(spark: SparkSession, sfDir: String): DataFrame =
    dedupSpansOf(Tables.documents(spark, sfDir))

  /** Frame-level form — package-visible so crafted-corpus specs pin the
    * interval algebra against hand-derived spans.
    */
  /** (doc_id, s, g): 1-based position + 60-bit hash of every sliding
    * 8-gram — the gram normal form shared by [[dedupSpansOf]] and the
    * forget cascade's span recount ([[Forget.requalifySpansOver]]).
    */
  private[graft] def gramPositionsOf(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"),
        posexplode(graft.functions.VectorExpressions
          .word_ngram_hashes(col("text"), 8, distinct = false)))
      .select(col("doc_id"), (col("pos") + 1).cast("long").as("s"), col("col").as("g"))

  /** (doc_id, nw): word count, the span-end clamp's bound. */
  private[graft] def docLensOf(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      size(split(col("text"), " ")).cast("long").as("nw"))

  /** Gaps-and-islands merge of per-position intervals (doc_id, s, e) into
    * maximal (doc_id, span_start, span_end) runs — per-doc windows only,
    * shared by [[dedupSpansOf]] and the forget span recount.
    */
  private[graft] def mergedIslandsOf(dup: DataFrame): DataFrame = {
    val byStart = Window.partitionBy("doc_id").orderBy("s")
    val prevMax = max(col("e")).over(
      byStart.rowsBetween(Window.unboundedPreceding, -1))
    dup
      .withColumn("brk",
        when(col("s") > coalesce(prevMax, lit(-1L)) + 1, 1L).otherwise(0L))
      .withColumn("island",
        sum(col("brk")).over(byStart.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy("doc_id", "island")
      .agg(min(col("s")).as("span_start"), max(col("e")).as("span_end"))
  }

  private[graft] def dedupSpansOf(docs: DataFrame): DataFrame = {
    val grams = gramPositionsOf(docs)
    val occ = grams.groupBy("g").agg(count(lit(1)).as("occ"))
    // span_end clamps to the document's word count: a doc shorter than the
    // gram width emits one PARTIAL gram (house n-gram contract), and its
    // unclamped s + 7 would report a span past the document's end —
    // overstating span_words in the remediation report (masking was always
    // unaffected; positions past the end match no word). The length
    // attaches to the DUPLICATED rows only, via a doc-keyed join
    // co-partitioned with the merge window right below — carrying nw
    // through the generate instead made Catalyst defer size(split(text))
    // PAST the explode (requiredChildOutput kept the full text), which
    // re-split the text once per GRAM row: measured 1.8x on the whole
    // query at sf0.1 (SCRATCH_r8 isolation).
    val lens = docLensOf(docs)
    val dup = grams.join(occ.filter(col("occ") >= 2), "g")
      .join(lens, "doc_id")
      .select(col("doc_id"), col("s"), least(col("s") + 7, col("nw")).as("e"))
    mergedIslandsOf(dup)
      .select(col("doc_id"), col("span_start"), col("span_end"),
        (col("span_end") - col("span_start") + 1).as("span_words"))
      .orderBy("doc_id", "span_start")
  }

  /** The remediation [[dedupSpans]] reports, APPLIED: every document with
    * its corpus-duplicated word ranges cut out, as (doc_id, kept/removed
    * counts, md5 of the masked text) — the pass a training corpus
    * actually ships (Lee et al. cut the duplicated spans rather than
    * dropping whole documents). Docs without duplicated spans pass
    * through untouched. The span set joins back doc-grouped (an array of
    * at most a handful of intervals per affected doc), and masking is a
    * per-row array filter — no word-level shuffle; the md5 keeps the
    * output compact and hash-comparable.
    */
  def dedupMask(spark: SparkSession, sfDir: String): DataFrame =
    dedupMaskOf(Tables.documents(spark, sfDir))

  private[graft] def dedupMaskOf(docs: DataFrame): DataFrame =
    maskWithSpans(docs, dedupSpansOf(docs))

  /** The masking algebra over an ARBITRARY span report (doc_id,
    * span_start, span_end) — shared by the gram tier (above) and the
    * suffix-exact tier (`SuffixDedup`'s mask query): one definition of
    * "cut these word ranges" so the two reports stay comparable.
    */
  private[graft] def maskWithSpans(docs: DataFrame, spanReport: DataFrame): DataFrame =
    maskedFrame(docs, spanReport)
      .select(col("doc_id"),
        size(col("w")).cast("long").as("n_words"),
        size(col("kept")).cast("long").as("n_kept"),
        (size(col("w")) - size(col("kept"))).cast("long").as("n_removed"),
        md5(concat_ws(" ", expr("transform(kept, p -> p.x)"))).as("masked_md5"))
      .orderBy("doc_id")

  /** Materializable form of the mask: the full masked TEXT per doc — what
    * a sink pass (Refinery.refineryWrite) actually ships to the curated
    * zone; maskWithSpans hashes exactly this string.
    */
  private[graft] def maskedTextWithSpans(docs: DataFrame, spanReport: DataFrame): DataFrame =
    maskedFrame(docs, spanReport)
      .select(col("doc_id"),
        // size(kept), not size(split(masked_text)): a fully-masked doc's
        // text is "" whose split is [""] — word count 1, not 0
        size(col("kept")).cast("long").as("n_kept_words"),
        concat_ws(" ", expr("transform(kept, p -> p.x)")).as("masked_text"))

  /** Common (doc_id, w, kept) frame of the two mask forms above. */
  private def maskedFrame(docs: DataFrame, spanReport: DataFrame): DataFrame = {
    val spans = spanReport
      .groupBy(col("doc_id").as("sd"))
      .agg(collect_list(struct(col("span_start"), col("span_end"))).as("spans"))
    docs.join(spans, col("doc_id") === col("sd"), "left")
      .withColumn("w", split(col("text"), " "))
      .withColumn("kept", expr(
        "filter(transform(w, (x, i) -> struct(x AS x, CAST(i + 1 AS BIGINT) AS j)), " +
          "p -> spans IS NULL OR NOT exists(spans, " +
          "s -> p.j >= s.span_start AND p.j <= s.span_end))"))
  }

  /** Content-defined chunk divisor: boundary after word i when the 60-bit
    * hash of the 4-gram ending at i ≡ 0 (mod CdcDivisor) — expected chunk
    * ≈ CdcDivisor words. Frozen for the oracle.
    */
  private[graft] val CdcDivisor = 16

  /** Content-defined chunking dedup — the insertion-robust complement to
    * [[dedupBlocks]]' fixed 16-word blocks (the rolling-hash boundary idea
    * behind rsync/LBFS-style storage dedup, public literature): chunk
    * boundaries fall where a rolling window hash hits a divisor
    * condition, so they are anchored to CONTENT, not to offsets. Insert
    * one word at the front of a document and every fixed block shifts and
    * misses; the content-defined boundaries realign after the first
    * post-edit boundary and the remaining chunks dedup again
    * (spec-demonstrated). Per doc: chunk count and how much of it is
    * corpus-duplicated chunk mass.
    *
    * Scale shape: chunking is ONE shuffle-free scan (fused n-gram pass →
    * per-doc boundary array → consecutive-pair slices of the word array),
    * then one chunk-hash groupBy for occurrence counts, one join back,
    * one per-doc rollup — every shuffle map-side combinable, nothing
    * pairwise, and nothing word-level ever crosses the wire.
    */
  def dedupCdcChunks(spark: SparkSession, sfDir: String): DataFrame =
    dedupCdcChunksOf(Tables.documents(spark, sfDir))

  private[graft] def dedupCdcChunksOf(docs: DataFrame): DataFrame = {
    // Whole computation up to the chunk-hash groupBy is ONE shuffle-free
    // scan: boundary END positions (gram at 0-based index i ends at
    // 1-based word i+4) become a per-doc array, consecutive (start, end)
    // pairs slice the word array directly — no word-level explode, no
    // (doc, position) join, no per-doc window. A boundary exactly at the
    // last word would open an empty trailing chunk; the s <= e filter
    // drops it. The short-doc partial gram (house n-gram contract) has
    // end position 4 > word count and is excluded by the p <= size(w)
    // guard.
    val chunks = docs
      .select(col("doc_id"), split(col("text"), " ").as("w"),
        graft.functions.VectorExpressions
          .word_ngram_hashes(col("text"), 4, distinct = false).as("gh"))
      .withColumn("bounds", expr(
        s"filter(transform(gh, (g, i) -> IF(pmod(g, $CdcDivisor) = 0, i + 4, -1))," +
          " p -> p > 0 AND p <= size(w))"))
      .withColumn("spans", expr(
        "filter(zip_with(concat(array(1), transform(bounds, b -> b + 1))," +
          " concat(bounds, array(size(w)))," +
          " (s, e) -> struct(s AS s, e AS e)), c -> c.s <= c.e)"))
      .select(col("doc_id"), col("w"), explode(col("spans")).as("c"))
      .select(col("doc_id"),
        md5(concat_ws(" ", expr("slice(w, c.s, c.e - c.s + 1)"))).as("ch"),
        expr("cast(c.e - c.s + 1 AS bigint)").as("n_words"))
    // occurrence counts as a chash-partitioned window, not groupBy+join:
    // the join form re-runs the whole chunking scan on both sides (the
    // frame has no materialization barrier), the window runs it once and
    // pays a single shuffle by chunk hash
    chunks
      .withColumn("occ", count(lit(1)).over(Window.partitionBy("ch")))
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_chunks"),
        sum(col("n_words")).as("n_words"),
        sum(when(col("occ") >= 2, 1L).otherwise(0L)).as("dup_chunks"),
        sum(when(col("occ") >= 2, col("n_words")).otherwise(0L)).as("dup_words"))
      .withColumn("dup_ppm", expr("dup_words * 1000000 div n_words"))
      .orderBy("doc_id")
  }

  def dedupSimhash(spark: SparkSession, sfDir: String): DataFrame =
    simhashOf(Tables.documents(spark, sfDir)).orderBy("doc_id")

  /** U2d: SimHash near-dup pairs — Hamming distance ≤ 6 within language
    * blocks, with pigeonhole chunk blocking: split the 60 bits into 7
    * chunks (9,9,9,9,8,8,8); two hashes within Hamming distance 6 differ in
    * at most 6 chunks, so they must agree EXACTLY on at least one — making
    * candidate generation an equi-join on (lang, chunk_id, chunk_value)
    * instead of all-pairs, with zero recall loss. The exact bit_count
    * verification then runs only on candidates. (The canonical
    * Manku/Jain/Sarma web-dedup decomposition.)
    */
  def dedupSimhashPairs(spark: SparkSession, sfDir: String): DataFrame = {
    // widened (guide §2.5): the per-token simhash accumulation is the
    // expensive map side; a 1-row-group scan ran it on one task
    val sim = simhashOf(Tables.repartitionIfNarrow(Tables.documents(spark, sfDir)))
    val lang = Tables.documents(spark, sfDir).select(col("doc_id"), col("lang"))
    val s = sim.join(lang, "doc_id")

    // chunk offsets/widths over the 60-bit hash
    val widths = Seq(9, 9, 9, 9, 8, 8, 8)
    val offsets = widths.scanLeft(0)(_ + _).init
    val chunkStructs = widths.zip(offsets).zipWithIndex.map { case ((w, off), id) =>
      struct(lit(id).as("cid"),
        shiftright(col("simhash"), off).bitwiseAND(lit((1L << w) - 1)).as("cval"))
    }
    // pinned exchange → the simhash aggregation + chunk explode feed both
    // self-join sides once (ReuseExchange), instead of running twice.
    // Keyed on the JOIN key (r14): pinned on doc_id, the self-join added
    // its own (lang, cid, cval) exchange on EACH side — three shuffles of
    // the probe table; pinned on the join key, both sides are already
    // co-partitioned and the probes shuffle exactly once at any scale.
    val probes = s.select(col("doc_id"), col("lang"), col("simhash"),
        explode(array(chunkStructs: _*)).as("c"))
      .select(col("doc_id"), col("lang"), col("simhash"),
        col("c.cid").as("cid"), col("c.cval").as("cval"))
      .repartition(col("lang"), col("cid"), col("cval"))

    val cand = probes.as("x").join(probes.as("y"),
        col("x.lang") === col("y.lang") && col("x.cid") === col("y.cid") &&
        col("x.cval") === col("y.cval") && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
        col("x.simhash").as("ha"), col("y.simhash").as("hb"))
      .distinct()

    cand
      .withColumn("hamming", expr("bit_count(ha ^ hb)"))
      .filter(col("hamming") <= 6)
      .select("doc_a", "doc_b", "hamming")
      .orderBy("doc_a", "doc_b")
  }

  // ------------------------------------------------------- cluster + canon

  /** Near-dup CLUSTERS from the pairwise matches (U2 capstone): connected
    * components over the Jaccard ≥ 0.8 pair graph, canonical doc = min
    * doc_id per cluster. Pairs alone can't drive dedup — A~B and B~C must
    * drop {B, C} together even when A~C wasn't matched directly; the
    * component step is what makes the survivor rule transitive-consistent.
    * See graft.operators.ConnectedComponents for the scale design.
    */
  def dedupClusters(spark: SparkSession, sfDir: String): DataFrame = {
    val pairs = dedupNgramJaccard(spark, sfDir)
      .select(col("doc_a").as("a"), col("doc_b").as("b"))
    graft.operators.ConnectedComponents.components(pairs)
      .select(
        col("component").as("cluster"),
        col("node").as("doc_id"),
        (col("node") === col("component")).as("canonical"))
      .orderBy("cluster", "doc_id")
  }

  /** Cluster-size profile of the near-dup graph (the dedup-impact report a
    * curation run emits: how much of the corpus collapses, and how big the
    * worst template cluster is). Rides the `dedupClusters` components
    * output with one more tiny groupBy — cluster count is ≤ corpus size,
    * so the added aggregation is never the bottleneck.
    */
  def dedupClusterSizes(spark: SparkSession, sfDir: String): DataFrame = {
    dedupClusters(spark, sfDir)
      .groupBy("cluster")
      .agg(
        count(lit(1)).as("csize"),
        min(col("doc_id")).as("doc_min"),
        max(col("doc_id")).as("doc_max"))
      .orderBy("cluster")
  }

  /** SOFT dedup — duplicate-discounted sampling weights, the
    * "keep everything, downweight copies" alternative to hard
    * representative-keeping dedup: each near-dup cluster is normalized to
    * unit total sampling mass (weight = 1e6∕csize ppm per member,
    * singletons keep 1e6), so a 40-copy boilerplate template contributes
    * one template's worth of expected training tokens instead of forty,
    * without discarding the cross-copy wording variation a hard dedup
    * loses. Reported per source: raw vs effective (weight-discounted)
    * token mass — the number that tells a corpus team how much of a feed
    * survives soft dedup. Scale: rides [[dedupClusters]]' bounded
    * component solve; csize is one window over the cluster key (cluster
    * ids are high-cardinality — no low-cardinality-key window); the
    * corpus attach is a doc_id equi-join (cluster members only — the
    * left side stays un-shuffled under AQE's broadcast of the small
    * cluster frame at test scale, a plain hash join at 100 TB); the
    * report groupBy is source-sized.
    */
  def dedupSoftWeight(spark: SparkSession, sfDir: String): DataFrame = {
    val cl = dedupClusters(spark, sfDir)
      .withColumn("csize", count(lit(1)).over(Window.partitionBy("cluster")))
      .select("doc_id", "csize")
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("source"),
        size(words(col("text"))).cast("long").as("nw"))
    docs.join(cl, Seq("doc_id"), "left")
      .withColumn("cs", coalesce(col("csize"), lit(1L)))
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("cs") > 1, 1L).otherwise(0L)).as("dup_docs"),
        sum(col("nw")).as("words_total"),
        sum(col("nw") * expr("1000000 div cs")).as("eff_words_micro"))
      .withColumn("eff_ppm", expr("eff_words_micro div words_total"))
      .orderBy("source")
  }

  /** Core simhash pass over any (doc_id, text) frame — public so callers can
    * simhash arbitrary corpora, not just the test tables.
    *
    * One fused map-stage expression per doc (distinct-word hashes →
    * graft_simhash60 bit votes) — value-identical to the original
    * explode → 60-conditional-sums aggregation (integer votes are
    * order-independent; `SimhashSpec` A/Bs the two forms), with the
    * corpus-×-vocabulary exploded intermediate and its shuffle gone.
    * word_ngram_hashes(n=1, distinct) IS hash60 over array_distinct(words):
    * a 1-gram's bytes are the word's bytes.
    */
  def simhashOf(docs: DataFrame): DataFrame = {
    val ve = graft.functions.VectorExpressions
    docs.select(col("doc_id"),
      ve.simhash60(ve.word_ngram_hashes(col("text"), 1, distinct = true)).as("simhash"))
  }

  /** The builtin-only simhash formulation the fused expression replaced —
    * kept as the A/B reference (SimhashSpec asserts row equality).
    */
  private[llm] def simhashOfBuiltin(docs: DataFrame): DataFrame = {
    val wordHashes = docs
      .select(col("doc_id"), explode(array_distinct(words(col("text")))).as("wd"))
      .select(col("doc_id"), Hashing.hash60(col("wd")).as("h"))
    val bitSums = (0 until 60).map { j =>
      sum(when(col("h").bitwiseAND(lit(1L << j)) =!= 0, 1).otherwise(-1)).as(s"s$j")
    }
    val simhash = (0 until 60).map { j =>
      when(col(s"s$j") > 0, lit(1L << j)).otherwise(lit(0L))
    }.reduce(_ + _)
    wordHashes.groupBy("doc_id")
      .agg(bitSums.head, bitSums.tail: _*)
      .select(col("doc_id"), simhash.as("simhash"))
  }

  override def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "dedup_exact"         -> (dedupExact _),
    "dedup_ngram_jaccard" -> (dedupNgramJaccard _),
    "dedup_minhash"       -> (dedupMinhash _),
    "dedup_minhash_estimate" -> (dedupMinhashEstimate _),
    "dedup_minhash_estimate_sampled" -> (dedupMinhashEstimateSampled _),
    "dedup_incremental"   -> (dedupIncremental _),
    "dedup_incremental_indexed" -> (dedupIncrementalIndexed _),
    "dedup_lsh_recall"    -> (dedupLshRecall _),
    "dedup_lsh_sweep"     -> (dedupLshSweep _),
    "dedup_lsh_sweep_sampled" -> (dedupLshSweepSampled _),
    "dedup_source_matrix" -> (dedupSourceMatrix _),
    "dedup_simhash"       -> (dedupSimhash _),
    "dedup_simhash_pairs" -> (dedupSimhashPairs _),
    "dedup_clusters"      -> (dedupClusters _),
    "dedup_cluster_sizes" -> (dedupClusterSizes _),
    "dedup_soft_weight"   -> (dedupSoftWeight _),
    "dedup_containment"   -> (dedupContainment _),
    "dedup_blocks"        -> (dedupBlocks _),
    "text_source_novelty" -> (sourceNovelty _),
    "text_dedup_spans"    -> (dedupSpans _),
    "text_dedup_mask"     -> (dedupMask _),
    "dedup_cdc_chunks"    -> (dedupCdcChunks _),
  )

  /** Shared CTE chain of the duplicated-span oracles: sliding-8-gram
    * positions → corpus occurrence counts → duplicated positions →
    * gaps-and-islands interval ids (`isl` with doc_id, s, e, island;
    * `d` with doc_id, w).
    */
  private lazy val dupSpanCtes: String =
    s"""d AS (
       |  SELECT doc_id, string_split(text, ' ') AS w FROM documents
       |), g AS (
       |  SELECT doc_id, len(w) AS nw, i AS s,
       |    ${Hashing.duckHash60("array_to_string(w[i:i+7], ' ')")} AS g
       |  FROM (SELECT doc_id, w,
       |          unnest(range(1, greatest(len(w) - 6, 2))) AS i
       |        FROM d)
       |), occ AS (
       |  SELECT g, COUNT(*) AS occ FROM g GROUP BY g
       |), dup AS (
       |  SELECT doc_id, s, LEAST(s + 7, nw) AS e
       |  FROM g JOIN occ USING (g) WHERE occ.occ >= 2
       |), brk AS (
       |  SELECT doc_id, s, e,
       |    CASE WHEN s > COALESCE(MAX(e) OVER (PARTITION BY doc_id
       |        ORDER BY s ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
       |      -1) + 1 THEN 1 ELSE 0 END AS brk
       |  FROM dup
       |), isl AS (
       |  SELECT doc_id, s, e,
       |    SUM(brk) OVER (PARTITION BY doc_id ORDER BY s
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
       |  FROM brk
       |)""".stripMargin

  override def oracles: Map[String, String] = {
    val permValues = Hashing.MinhashParams.zipWithIndex
      .map { case ((a, b), i) => s"($i, ${a}, ${b})" }.mkString(", ")
    // Deterministic calibration-sample predicate — the DuckDB mirror of
    // calibSample, appended to the documents scan of *_sampled variants
    // so both engines sample BEFORE any shingle/signature work.
    val duckCalibWhere =
      s"\n  WHERE ${Hashing.duckHash60("CAST(doc_id AS VARCHAR)")} % 100 < $CalibSamplePct"
    // Estimator-calibration oracle over a caller-chosen documents scan
    // (full corpus or the calibration sample).
    def minhashEstimateSql(srcWhere: String): String =
      s"""WITH d AS (
         |  SELECT doc_id, $duckShingles AS s FROM documents$srcWhere
         |), sh AS (
         |  SELECT doc_id, sh % ${Hashing.MinhashP} AS h
         |  FROM (SELECT doc_id, unnest(s) AS sh FROM d)
         |), perms(i, pa, pb) AS (VALUES $permValues),
         |sig AS (
         |  SELECT doc_id, i, MIN((pa * h + pb) % ${Hashing.MinhashP}) AS mh
         |  FROM sh CROSS JOIN perms GROUP BY doc_id, i
         |), sigl AS (
         |  SELECT doc_id, list(mh ORDER BY i) AS mh FROM sig GROUP BY doc_id
         |), bands AS (
         |  SELECT doc_id, i // 4 AS band,
         |    string_agg(CAST(mh AS VARCHAR), '-' ORDER BY i) AS band_key
         |  FROM sig GROUP BY doc_id, i // 4
         |), cand AS (
         |  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
         |  FROM bands x JOIN bands y
         |    ON x.band = y.band AND x.band_key = y.band_key AND x.doc_id < y.doc_id
         |), v AS (
         |  SELECT doc_a, doc_b,
         |    ROUND(len(list_intersect(a.s, b.s))::DOUBLE /
         |          (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))), 6) AS jacc,
         |    CAST(len(list_filter(range(1, 17), i -> ma.mh[i] = mb.mh[i])) * 62500
         |      AS BIGINT) AS est_ppm
         |  FROM cand JOIN d a ON cand.doc_a = a.doc_id JOIN d b ON cand.doc_b = b.doc_id
         |  JOIN sigl ma ON cand.doc_a = ma.doc_id JOIN sigl mb ON cand.doc_b = mb.doc_id
         |  WHERE ROUND(len(list_intersect(a.s, b.s))::DOUBLE /
         |              (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))), 6) >= 0.5
         |)
         |SELECT doc_a, doc_b, jacc, est_ppm,
         |  est_ppm - CAST(ROUND(jacc * 1000000) AS BIGINT) AS err_ppm
         |FROM v ORDER BY doc_a, doc_b""".stripMargin
    // Band/row S-curve sweep oracle over a caller-chosen documents scan.
    def lshSweepSql(srcWhere: String): String = {
      def config(b: Int): String = {
        val r = 16 / b
        s"""bands$b AS (
           |  SELECT doc_id, i // $r AS band,
           |    string_agg(CAST(mh AS VARCHAR), '-' ORDER BY i) AS band_key
           |  FROM sig GROUP BY doc_id, i // $r
           |), cand$b AS (
           |  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
           |  FROM bands$b x JOIN bands$b y
           |    ON x.band = y.band AND x.band_key = y.band_key
           |   AND x.doc_id < y.doc_id
           |), s$b AS (
           |  SELECT $b AS bands, $r AS rows_per_band,
           |    (SELECT COUNT(*) FROM cand$b) AS n_cand,
           |    (SELECT COUNT(*) FROM truth) AS n_true,
           |    (SELECT COUNT(*) FROM truth t JOIN cand$b c
           |       ON t.doc_a = c.doc_a AND t.doc_b = c.doc_b) AS n_hit
           |)""".stripMargin
      }
      s"""WITH d AS (
         |  SELECT doc_id, lang, $duckShingles AS s FROM documents$srcWhere
         |), truth AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM d a JOIN d b ON a.lang = b.lang AND a.doc_id < b.doc_id
         |  WHERE ROUND(len(list_intersect(a.s, b.s))::DOUBLE /
         |              (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))), 6) >= 0.5
         |), sh AS (
         |  SELECT doc_id, sh % ${Hashing.MinhashP} AS h
         |  FROM (SELECT doc_id, unnest(s) AS sh FROM d)
         |), perms(i, pa, pb) AS (VALUES $permValues),
         |sig AS (
         |  SELECT doc_id, i, MIN((pa * h + pb) % ${Hashing.MinhashP}) AS mh
         |  FROM sh CROSS JOIN perms GROUP BY doc_id, i
         |),
         |${Seq(1, 2, 4, 8, 16).map(config).mkString(",\n")}
         |SELECT CAST(bands AS INTEGER) AS bands,
         |  CAST(rows_per_band AS INTEGER) AS rows_per_band,
         |  n_cand, n_true, n_hit,
         |  CASE WHEN n_true = 0 THEN CAST(0 AS DOUBLE)
         |       ELSE ROUND(n_hit::DOUBLE / n_true, 4)
         |  END AS recall,
         |  CASE WHEN n_cand = 0 THEN CAST(0 AS BIGINT)
         |       ELSE CAST(n_hit * 1000000 // n_cand AS BIGINT)
         |  END AS hit_per_cand_ppm
         |FROM (SELECT * FROM s1 UNION ALL SELECT * FROM s2
         |      UNION ALL SELECT * FROM s4 UNION ALL SELECT * FROM s8
         |      UNION ALL SELECT * FROM s16)
         |ORDER BY bands""".stripMargin
    }
    val bitSumExprs = (0 until 60)
      .map(j => s"SUM(CASE WHEN (h & (CAST(1 AS BIGINT) << $j)) <> 0 THEN 1 ELSE -1 END) AS s$j")
      .mkString(",\n        |    ")
    val bitsToNum = (0 until 60)
      .map(j => s"CASE WHEN s$j > 0 THEN CAST(1 AS BIGINT) << $j ELSE CAST(0 AS BIGINT) END")
      .mkString(" + ")
    // Connected components over the Jaccard>=0.8 pair graph (recursive CTE)
    // — shared by dedup_clusters (per-doc rows) and dedup_cluster_sizes.
    val duckClusterBase =
      s"""WITH RECURSIVE d AS (
         |  SELECT doc_id, lang, $duckShingles AS s FROM documents
         |), pairs AS (
         |  SELECT a.doc_id AS pa, b.doc_id AS pb
         |  FROM d a JOIN d b ON a.lang = b.lang AND a.doc_id < b.doc_id
         |  WHERE ROUND(len(list_intersect(a.s, b.s))::DOUBLE /
         |              (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))), 6) >= 0.8
         |), edges AS (
         |  SELECT pa AS a, pb AS b FROM pairs
         |  UNION SELECT pb, pa FROM pairs
         |), reach(n, m) AS (
         |  SELECT a, b FROM edges
         |  UNION
         |  SELECT r.n, e.b FROM reach r JOIN edges e ON r.m = e.a WHERE e.b <> r.n
         |)
         |SELECT LEAST(n, MIN(m)) AS cluster, n AS doc_id,
         |  (LEAST(n, MIN(m)) = n) AS canonical
         |FROM reach GROUP BY n""".stripMargin
    Map(
      "dedup_blocks" ->
        """WITH d AS (
          |  SELECT doc_id, string_split(text, ' ') AS w FROM documents
          |), b AS (
          |  SELECT doc_id,
          |    md5(array_to_string(w[(i*16+1):(i*16+16)], ' ')) AS bh,
          |    len(w[(i*16+1):(i*16+16)]) AS bsize
          |  FROM (SELECT doc_id, w,
          |          unnest(range(0, CAST(ceil(len(w) / 16.0) AS BIGINT))) AS i
          |        FROM d)
          |), df AS (
          |  SELECT bh, COUNT(DISTINCT doc_id) AS df FROM b GROUP BY bh
          |)
          |SELECT b.doc_id, COUNT(*) AS n_blocks,
          |  COUNT(CASE WHEN df.df >= 2 THEN 1 END) AS dup_blocks,
          |  CAST(COUNT(CASE WHEN df.df >= 2 THEN 1 END) * 1000000 // COUNT(*) AS BIGINT) AS dup_ratio_ppm,
          |  CAST(SUM(CASE WHEN df.df < 2 THEN b.bsize ELSE 0 END) AS BIGINT) AS words_kept
          |FROM b JOIN df ON b.bh = df.bh
          |GROUP BY b.doc_id ORDER BY b.doc_id""".stripMargin,
      "text_source_novelty" ->
        """WITH d AS (
          |  SELECT doc_id, source, string_split(text, ' ') AS w FROM documents
          |), b AS (
          |  SELECT doc_id, source,
          |    md5(array_to_string(w[(i*16+1):(i*16+16)], ' ')) AS bh
          |  FROM (SELECT doc_id, source, w,
          |          unnest(range(0, CAST(ceil(len(w) / 16.0) AS BIGINT))) AS i
          |        FROM d)
          |), f AS (
          |  SELECT bh, MIN(doc_id) AS first_doc FROM b GROUP BY bh
          |)
          |SELECT b.source, COUNT(*) AS n_blocks,
          |  COUNT(CASE WHEN f.first_doc = b.doc_id THEN 1 END) AS novel_blocks,
          |  COUNT(CASE WHEN f.first_doc = b.doc_id THEN 1 END) * 1000000
          |    // COUNT(*) AS novelty_ppm
          |FROM b JOIN f ON b.bh = f.bh
          |GROUP BY b.source ORDER BY b.source""".stripMargin,
      // text_dedup_spans: positions from the same sliding-8-gram contract
      // as text_shared_spans (range is end-exclusive: i = 1..len-7), then
      // gaps-and-islands interval merge per doc. s is produced as BIGINT
      // on both sides; the Spark window's running SUM stays BIGINT while
      // DuckDB's goes HUGEINT — island ids are internal, outputs cast.
      "text_dedup_spans" ->
        s"""WITH $dupSpanCtes
           |SELECT doc_id, CAST(MIN(s) AS BIGINT) AS span_start,
           |  CAST(MAX(e) AS BIGINT) AS span_end,
           |  CAST(MAX(e) - MIN(s) + 1 AS BIGINT) AS span_words
           |FROM isl GROUP BY doc_id, island
           |ORDER BY doc_id, span_start""".stripMargin,
      // text_dedup_mask: the same merged spans, applied — words whose
      // 1-based position falls inside any span are cut; string_agg over
      // zero kept rows is NULL, coalesced to '' to match Spark's
      // concat_ws over an empty array.
      "text_dedup_mask" ->
        s"""WITH $dupSpanCtes, sp AS (
           |  SELECT doc_id, MIN(s) AS ss, MAX(e) AS se
           |  FROM isl GROUP BY doc_id, island
           |), wd AS (
           |  SELECT doc_id, j, w[j] AS word FROM (
           |    SELECT doc_id, w, unnest(range(1, len(w) + 1)) AS j FROM d)
           |), kept AS (
           |  SELECT wd.doc_id, wd.j, wd.word
           |  FROM wd LEFT JOIN sp
           |    ON wd.doc_id = sp.doc_id AND wd.j BETWEEN sp.ss AND sp.se
           |  WHERE sp.doc_id IS NULL
           |), ka AS (
           |  SELECT doc_id, COUNT(*) AS n_kept,
           |    string_agg(word, ' ' ORDER BY j) AS masked
           |  FROM kept GROUP BY doc_id
           |)
           |SELECT d.doc_id, CAST(len(d.w) AS BIGINT) AS n_words,
           |  CAST(COALESCE(ka.n_kept, 0) AS BIGINT) AS n_kept,
           |  CAST(len(d.w) - COALESCE(ka.n_kept, 0) AS BIGINT) AS n_removed,
           |  md5(COALESCE(ka.masked, '')) AS masked_md5
           |FROM d LEFT JOIN ka ON d.doc_id = ka.doc_id
           |ORDER BY d.doc_id""".stripMargin,
      // dedup_cdc_chunks: boundary positions from the n=4 house n-gram
      // contract (i = 1..greatest(len-3,1), end word p = i+3; the short-doc
      // partial gram's p > len never lands on a word, mirrored by the
      // explicit p <= len guard), then the same window/cumsum chunk ids
      // and chunk-hash occurrence counts.
      "dedup_cdc_chunks" ->
        s"""WITH d AS (
           |  SELECT doc_id, string_split(text, ' ') AS w FROM documents
           |), fl AS (
           |  SELECT doc_id, i + 3 AS p FROM (
           |    SELECT doc_id, w, unnest(range(1, greatest(len(w) - 2, 2))) AS i
           |    FROM d)
           |  WHERE ${Hashing.duckHash60("array_to_string(w[i:i+3], ' ')")}
           |      % $CdcDivisor = 0
           |    AND i + 3 <= len(w)
           |), wd AS (
           |  SELECT doc_id, j, w[j] AS word FROM (
           |    SELECT doc_id, w, unnest(range(1, len(w) + 1)) AS j FROM d)
           |), cid AS (
           |  SELECT wd.doc_id, wd.j, wd.word,
           |    COALESCE(SUM(CASE WHEN fl.p IS NULL THEN 0 ELSE 1 END)
           |      OVER (PARTITION BY wd.doc_id ORDER BY wd.j
           |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS chunk_id
           |  FROM wd LEFT JOIN fl ON wd.doc_id = fl.doc_id AND wd.j = fl.p
           |), ch AS (
           |  SELECT doc_id, chunk_id,
           |    md5(string_agg(word, ' ' ORDER BY j)) AS chash,
           |    COUNT(*) AS nw
           |  FROM cid GROUP BY doc_id, chunk_id
           |), occ AS (
           |  SELECT chash, COUNT(*) AS occ FROM ch GROUP BY chash
           |)
           |SELECT doc_id, COUNT(*) AS n_chunks,
           |  CAST(SUM(nw) AS BIGINT) AS n_words,
           |  CAST(SUM(CASE WHEN occ.occ >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS dup_chunks,
           |  CAST(SUM(CASE WHEN occ.occ >= 2 THEN nw ELSE 0 END) AS BIGINT) AS dup_words,
           |  CAST(SUM(CASE WHEN occ.occ >= 2 THEN nw ELSE 0 END) * 1000000
           |    // SUM(nw) AS BIGINT) AS dup_ppm
           |FROM ch JOIN occ USING (chash)
           |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
      "dedup_exact" ->
        """SELECT min(doc_id) AS keep_id, md5(text) AS content_hash, COUNT(*) AS n_copies
          |FROM documents GROUP BY md5(text) ORDER BY keep_id""".stripMargin,
      "dedup_ngram_jaccard" ->
        s"""WITH d AS (
           |  SELECT doc_id, lang, $duckShingles AS s FROM documents
           |)
           |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           |  ROUND(len(list_intersect(a.s, b.s))::DOUBLE /
           |        (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))), 6) AS jacc
           |FROM d a JOIN d b ON a.lang = b.lang AND a.doc_id < b.doc_id
           |WHERE ROUND(len(list_intersect(a.s, b.s))::DOUBLE /
           |            (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))), 6) >= 0.8
           |ORDER BY doc_a, doc_b""".stripMargin,
      // dedup_incremental_indexed shares this oracle verbatim: the
      // parquet-round-tripped index must produce the IDENTICAL best-match
      // table to an engine that recomputes every signature — indexed ≡
      // recomputed, the Graph fold's proof shape
      "dedup_incremental_indexed" ->
        s"""WITH d AS (
           |  SELECT doc_id, $duckShingles AS s FROM documents
           |), sh AS (
           |  SELECT doc_id, sh % ${Hashing.MinhashP} AS h
           |  FROM (SELECT doc_id, unnest(s) AS sh FROM d)
           |), perms(i, pa, pb) AS (VALUES $permValues),
           |sig AS (
           |  SELECT doc_id, i, MIN((pa * h + pb) % ${Hashing.MinhashP}) AS mh
           |  FROM sh CROSS JOIN perms GROUP BY doc_id, i
           |), bands AS (
           |  SELECT doc_id, i // 4 AS band,
           |    string_agg(CAST(mh AS VARCHAR), '-' ORDER BY i) AS band_key
           |  FROM sig GROUP BY doc_id, i // 4
           |), cand AS (
           |  SELECT DISTINCT x.doc_id AS new_id, y.doc_id AS old_id
           |  FROM bands x JOIN bands y
           |    ON x.band = y.band AND x.band_key = y.band_key
           |  WHERE x.doc_id % 4 = 3 AND y.doc_id % 4 <> 3
           |), scored AS (
           |  SELECT new_id, old_id,
           |    ROUND(len(list_intersect(a.s, b.s))::DOUBLE /
           |          (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))), 6) AS jacc
           |  FROM cand JOIN d a ON cand.new_id = a.doc_id
           |            JOIN d b ON cand.old_id = b.doc_id
           |  WHERE ROUND(len(list_intersect(a.s, b.s))::DOUBLE /
           |              (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))), 6) >= 0.5
           |), best AS (
           |  SELECT new_id, old_id AS dup_of, jacc,
           |    row_number() OVER (PARTITION BY new_id ORDER BY jacc DESC, old_id) AS rn
           |  FROM scored
           |)
           |SELECT new_id, dup_of, jacc FROM best WHERE rn = 1
           |ORDER BY new_id""".stripMargin,
      "dedup_incremental" ->
        s"""WITH d AS (
           |  SELECT doc_id, $duckShingles AS s FROM documents
           |), sh AS (
           |  SELECT doc_id, sh % ${Hashing.MinhashP} AS h
           |  FROM (SELECT doc_id, unnest(s) AS sh FROM d)
           |), perms(i, pa, pb) AS (VALUES $permValues),
           |sig AS (
           |  SELECT doc_id, i, MIN((pa * h + pb) % ${Hashing.MinhashP}) AS mh
           |  FROM sh CROSS JOIN perms GROUP BY doc_id, i
           |), bands AS (
           |  SELECT doc_id, i // 4 AS band,
           |    string_agg(CAST(mh AS VARCHAR), '-' ORDER BY i) AS band_key
           |  FROM sig GROUP BY doc_id, i // 4
           |), cand AS (
           |  SELECT DISTINCT x.doc_id AS new_id, y.doc_id AS old_id
           |  FROM bands x JOIN bands y
           |    ON x.band = y.band AND x.band_key = y.band_key
           |  WHERE x.doc_id % 4 = 3 AND y.doc_id % 4 <> 3
           |), scored AS (
           |  SELECT new_id, old_id,
           |    ROUND(len(list_intersect(a.s, b.s))::DOUBLE /
           |          (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))), 6) AS jacc
           |  FROM cand JOIN d a ON cand.new_id = a.doc_id
           |            JOIN d b ON cand.old_id = b.doc_id
           |  WHERE ROUND(len(list_intersect(a.s, b.s))::DOUBLE /
           |              (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))), 6) >= 0.5
           |), best AS (
           |  SELECT new_id, old_id AS dup_of, jacc,
           |    row_number() OVER (PARTITION BY new_id ORDER BY jacc DESC, old_id) AS rn
           |  FROM scored
           |)
           |SELECT new_id, dup_of, jacc FROM best WHERE rn = 1
           |ORDER BY new_id""".stripMargin,
      "dedup_minhash" ->
        s"""WITH d AS (
           |  SELECT doc_id, $duckShingles AS s FROM documents
           |), sh AS (
           |  SELECT doc_id, sh % ${Hashing.MinhashP} AS h
           |  FROM (SELECT doc_id, unnest(s) AS sh FROM d)
           |), perms(i, pa, pb) AS (VALUES $permValues),
           |sig AS (
           |  SELECT doc_id, i, MIN((pa * h + pb) % ${Hashing.MinhashP}) AS mh
           |  FROM sh CROSS JOIN perms GROUP BY doc_id, i
           |), bands AS (
           |  SELECT doc_id, i // 4 AS band,
           |    string_agg(CAST(mh AS VARCHAR), '-' ORDER BY i) AS band_key
           |  FROM sig GROUP BY doc_id, i // 4
           |), cand AS (
           |  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
           |  FROM bands x JOIN bands y
           |    ON x.band = y.band AND x.band_key = y.band_key AND x.doc_id < y.doc_id
           |)
           |SELECT doc_a, doc_b,
           |  ROUND(len(list_intersect(a.s, b.s))::DOUBLE /
           |        (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))), 6) AS jacc
           |FROM cand JOIN d a ON cand.doc_a = a.doc_id JOIN d b ON cand.doc_b = b.doc_id
           |WHERE ROUND(len(list_intersect(a.s, b.s))::DOUBLE /
           |            (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))), 6) >= 0.5
           |ORDER BY doc_a, doc_b""".stripMargin,
      "dedup_minhash_estimate" -> minhashEstimateSql(""),
      "dedup_minhash_estimate_sampled" -> minhashEstimateSql(duckCalibWhere),
      "dedup_lsh_recall" ->
        s"""WITH d AS (
           |  SELECT doc_id, lang, $duckShingles AS s FROM documents
           |), truth AS (
           |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.lang
           |  FROM d a JOIN d b ON a.lang = b.lang AND a.doc_id < b.doc_id
           |  WHERE ROUND(len(list_intersect(a.s, b.s))::DOUBLE /
           |              (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))), 6) >= 0.5
           |), sh AS (
           |  SELECT doc_id, sh % ${Hashing.MinhashP} AS h
           |  FROM (SELECT doc_id, unnest(s) AS sh FROM d)
           |), perms(i, pa, pb) AS (VALUES $permValues),
           |sig AS (
           |  SELECT doc_id, i, MIN((pa * h + pb) % ${Hashing.MinhashP}) AS mh
           |  FROM sh CROSS JOIN perms GROUP BY doc_id, i
           |), bands AS (
           |  SELECT doc_id, i // 4 AS band,
           |    string_agg(CAST(mh AS VARCHAR), '-' ORDER BY i) AS band_key
           |  FROM sig GROUP BY doc_id, i // 4
           |), cand AS (
           |  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
           |  FROM bands x JOIN bands y
           |    ON x.band = y.band AND x.band_key = y.band_key AND x.doc_id < y.doc_id
           |), found AS (
           |  SELECT doc_a, doc_b, 1 AS hit
           |  FROM cand JOIN d a ON cand.doc_a = a.doc_id JOIN d b ON cand.doc_b = b.doc_id
           |  WHERE ROUND(len(list_intersect(a.s, b.s))::DOUBLE /
           |              (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))), 6) >= 0.5
           |)
           |SELECT truth.lang, COUNT(*) AS n_true, COUNT(found.hit) AS n_found,
           |  ROUND(COUNT(found.hit)::DOUBLE / COUNT(*), 4) AS recall
           |FROM truth LEFT JOIN found
           |  ON truth.doc_a = found.doc_a AND truth.doc_b = found.doc_b
           |GROUP BY truth.lang
           |ORDER BY truth.lang""".stripMargin,
      "dedup_lsh_sweep" -> lshSweepSql(""),
      "dedup_lsh_sweep_sampled" -> lshSweepSql(duckCalibWhere),
      "dedup_source_matrix" ->
        s"""WITH d AS (
           |  SELECT doc_id, $duckShingles AS s FROM documents
           |), sh AS (
           |  SELECT doc_id, sh % ${Hashing.MinhashP} AS h
           |  FROM (SELECT doc_id, unnest(s) AS sh FROM d)
           |), perms(i, pa, pb) AS (VALUES $permValues),
           |sig AS (
           |  SELECT doc_id, i, MIN((pa * h + pb) % ${Hashing.MinhashP}) AS mh
           |  FROM sh CROSS JOIN perms GROUP BY doc_id, i
           |), bands AS (
           |  SELECT doc_id, i // 4 AS band,
           |    string_agg(CAST(mh AS VARCHAR), '-' ORDER BY i) AS band_key
           |  FROM sig GROUP BY doc_id, i // 4
           |), cand AS (
           |  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
           |  FROM bands x JOIN bands y
           |    ON x.band = y.band AND x.band_key = y.band_key AND x.doc_id < y.doc_id
           |), ver AS (
           |  SELECT doc_a, doc_b
           |  FROM cand JOIN d a ON cand.doc_a = a.doc_id JOIN d b ON cand.doc_b = b.doc_id
           |  WHERE ROUND(len(list_intersect(a.s, b.s))::DOUBLE /
           |              (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))), 6) >= 0.5
           |)
           |SELECT LEAST(da.source, db.source) AS src_lo,
           |  GREATEST(da.source, db.source) AS src_hi,
           |  COUNT(*) AS n_pairs,
           |  COUNT(DISTINCT v.doc_a) AS n_docs_a,
           |  COUNT(DISTINCT v.doc_b) AS n_docs_b
           |FROM ver v
           |JOIN documents da ON v.doc_a = da.doc_id
           |JOIN documents db ON v.doc_b = db.doc_id
           |GROUP BY LEAST(da.source, db.source), GREATEST(da.source, db.source)
           |ORDER BY src_lo, src_hi""".stripMargin,
      "dedup_simhash" ->
        s"""WITH wh AS (
           |  SELECT doc_id, ${Hashing.duckHash60("wd")} AS h
           |  FROM (SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS wd
           |        FROM documents)
           |), sums AS (
           |  SELECT doc_id,
           |    $bitSumExprs
           |  FROM wh GROUP BY doc_id
           |)
           |SELECT doc_id, $bitsToNum AS simhash
           |FROM sums ORDER BY doc_id""".stripMargin,
      "dedup_clusters" -> s"$duckClusterBase ORDER BY cluster, doc_id",
      "dedup_containment" ->
        s"""WITH d AS (
           |  SELECT doc_id, lang, $duckShingles AS s FROM documents
           |)
           |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           |  ROUND(len(list_intersect(a.s, b.s))::DOUBLE / len(a.s), 6) AS cont
           |FROM d a JOIN d b ON a.lang = b.lang AND a.doc_id <> b.doc_id
           |WHERE ROUND(len(list_intersect(a.s, b.s))::DOUBLE / len(a.s), 6) >= 0.9
           |ORDER BY doc_a, doc_b""".stripMargin,
      "dedup_cluster_sizes" ->
        s"""SELECT cluster, COUNT(*) AS csize,
           |  MIN(doc_id) AS doc_min, MAX(doc_id) AS doc_max
           |FROM ($duckClusterBase) GROUP BY cluster ORDER BY cluster""".stripMargin,
      "dedup_soft_weight" ->
        s"""WITH m AS (
           |  SELECT doc_id, COUNT(*) OVER (PARTITION BY cluster) AS csize
           |  FROM ($duckClusterBase)
           |)
           |SELECT d.source,
           |  COUNT(*) AS n_docs,
           |  COUNT(m.doc_id) AS dup_docs,
           |  CAST(SUM(len(string_split(d.text, ' '))) AS BIGINT) AS words_total,
           |  CAST(SUM(len(string_split(d.text, ' ')) *
           |           (1000000 // COALESCE(m.csize, 1))) AS BIGINT) AS eff_words_micro,
           |  CAST(CAST(SUM(len(string_split(d.text, ' ')) *
           |                (1000000 // COALESCE(m.csize, 1))) AS BIGINT) //
           |       CAST(SUM(len(string_split(d.text, ' '))) AS BIGINT) AS BIGINT) AS eff_ppm
           |FROM documents d LEFT JOIN m ON d.doc_id = m.doc_id
           |GROUP BY d.source ORDER BY d.source""".stripMargin,
      "dedup_simhash_pairs" ->
        s"""WITH wh AS (
           |  SELECT doc_id, ${Hashing.duckHash60("wd")} AS h
           |  FROM (SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS wd
           |        FROM documents)
           |), sums AS (
           |  SELECT doc_id,
           |    $bitSumExprs
           |  FROM wh GROUP BY doc_id
           |), sim AS (
           |  SELECT s.doc_id, d.lang, $bitsToNum AS simhash
           |  FROM sums s JOIN documents d ON s.doc_id = d.doc_id
           |)
           |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           |  CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
           |FROM sim a JOIN sim b ON a.lang = b.lang AND a.doc_id < b.doc_id
           |WHERE bit_count(xor(a.simhash, b.simhash)) <= 6
           |ORDER BY doc_a, doc_b""".stripMargin,
    )
  }
}
