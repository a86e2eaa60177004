package graft.llm

import graft.{QueryModule, Tables}
import graft.functions.Hashing
import graft.operators.ConnectedComponents
import graft.queries.Ml
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.graft.{CutScope, PlanBridge}
import org.apache.spark.sql.functions._

/** Right-to-be-forgotten delete propagation — the takedown cascade a
  * training-data deployment legally owes its sources, done INCREMENTALLY.
  *
  * At 100 TB a deletion request cannot trigger a corpus rebuild: the
  * curated zone, the dedup verdicts, and the packed loader artifacts are
  * all DERIVED from the raw corpus, and a takedown of 0.1% of documents
  * must invalidate only the derived state those documents actually touch.
  * The catch is that dedup verdicts are NOT per-doc: removing a document
  * can change OTHER documents' verdicts —
  *
  *   - canonical deleted → the cluster's next-smallest surviving member is
  *     promoted, and a doc the pipeline previously DROPPED as a duplicate
  *     re-enters the corpus ("readmission");
  *   - bridge deleted → a cluster held together through the deleted doc
  *     splits into several components, each with its own new canonical.
  *
  * A cascade that only tombstones the deleted rows silently ships a corpus
  * that no longer equals what a from-scratch rebuild would produce — the
  * readmitted docs stay lost. These queries do the re-adjudication
  * incrementally (only clusters containing a deleted member are re-solved)
  * and their DuckDB oracles replay the FULL REBUILD on the filtered
  * corpus, so the hash match is the statement that matters:
  * cascade ≡ rebuild.
  *
  * Soundness condition (why "re-solve affected clusters only" is exact):
  * both pair rules here — 16-word-block containment and 3-gram-shingle
  * Jaccard — are PAIRWISE predicates: whether (a,b) is an edge depends on
  * a and b alone. Deleting docs therefore only ever REMOVES edges, every
  * post-delete component is a subset of exactly one pre-delete component,
  * and unaffected clusters keep their standing labels verbatim. A pair
  * rule whose edges depend on corpus state (e.g. a df-capped posting join,
  * where deleting a spammer can bring a hot block back UNDER the cap and
  * CREATE edges) breaks this monotonicity and must take the full-fold path
  * instead — the cap/monotonicity trade is a design decision this module
  * pins in code review, not at 3am during an incident.
  *
  * Frozen-gate decision: the quality classifier is trained on the
  * pre-deletion corpus and NOT retrained by the cascade (both engines
  * replay the full-corpus trainer). A 2-feature logistic gate carries
  * aggregate statistics, not verbatim content, so takedowns don't oblige a
  * retrain — and a deployment that wants retrain-on-forget composes
  * `curate_classifier`'s trainer over the filtered corpus instead; the
  * frozen form is pinned here because it is what the standing artifact
  * registry actually holds between requests.
  *
  * The delete set is a deterministic salted-hash sample (≈15% of doc ids)
  * so both engines derive it independently — the salt decorrelates it from
  * the classifier's own train-split hash. In production the set arrives as
  * a table of ids; everything downstream is identical.
  *
  * Reference anchor: the reference pipeline keeps derived copies of every
  * object it ingests (transformed/{key} — lambda/ingest-handler.ts:36-56);
  * deleting a source object there leaves the derived copy live, which is
  * exactly the gap this module closes at corpus scale.
  *
  * Scale shape: the standing cluster labeling is a parquet artifact (here
  * recomputed in-query so the oracle can see the same state — the same
  * in-query-vs-standing equivalence `sim_ann_ivf_append` proves for the
  * IVF index); the affected-cluster filter is a broadcast semi-join on the
  * (tiny) delete set; the re-solve runs connected components over ONLY the
  * retained edges of affected clusters — work proportional to the blast
  * radius, not the corpus.
  */
object Forget extends QueryModule {

  /** Takedown fraction (percent of doc ids) for the registered queries. */
  val ForgetPct = 15

  private def words(c: Column): Column = split(c, " ")

  /** The deterministic delete set: salted 60-bit hash of the doc id. */
  private[graft] def deletedOf(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"))
      .filter(pmod(
        Hashing.hash60(concat(lit("forget#"), col("doc_id").cast("string"))),
        lit(100)) < ForgetPct)

  private def duckDeleted: String =
    s"""fdel AS (
       |  SELECT doc_id FROM documents
       |  WHERE ${Hashing.duckHash60("'forget#' || CAST(doc_id AS VARCHAR)")} % 100 < $ForgetPct)""".stripMargin

  // ------------------------------------------------- block near-dup graph

  /** Doc pairs sharing at least one 16-word block — the chunk-granular
    * near-dup graph (`dedup_blocks`' normal form turned into edges). One
    * explode to (doc, block-hash) rows, then a hash-keyed self-join: the
    * posting-list equi-join every banded dedup here uses, never
    * corpus×corpus. Uncapped by design — see the monotonicity note in the
    * object scaladoc; a production run bounds hot blocks the way the LSH
    * band index does, and in doing so moves this graph OFF the incremental
    * path.
    */
  private[llm] def blockPairsOf(docs: DataFrame): DataFrame = {
    val blk = docs
      .select(col("doc_id"), words(col("text")).as("w"))
      .withColumn("nb", ceil(size(col("w")) / lit(16.0)).cast("int"))
      .select(col("doc_id"), explode(expr(
        "transform(sequence(0, nb - 1), b -> md5(concat_ws(' ', slice(w, b*16+1, 16))))")).as("bh"))
      .distinct()
    blk.as("x").join(blk.as("y"),
        col("x.bh") === col("y.bh") && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"))
      .distinct()
  }

  // ------------------------------------------------------ forget_requalify

  /** Per-doc verdict delta for every member of an AFFECTED cluster (a
    * block-graph near-dup cluster containing ≥1 deleted doc): old vs new
    * cluster label, old vs new state, and the `readmitted` flag (loser →
    * canonical — the docs a tombstone-only cascade would silently lose).
    * Injectable delete set so specs can drive constructed cases (bridge
    * deletion → split); the registered query binds the salted-hash set.
    */
  private[llm] def requalifyOver(docs: DataFrame, del: DataFrame): DataFrame = {
    // ONE block-pair pass (the forgetCascadeOver "ONE PPJoin pass"
    // discipline, r14 session 5): the block self-join chain is referenced
    // by BOTH component solves — each solve's canonicalization cut used to
    // re-derive it from scratch (explode + distinct + self-join + distinct,
    // twice per run; at corpus scale that is a second full block self-join
    // for nothing). Materialize it once behind a lineage cut; the before
    // solve, the affected-edge restriction, and the after solve all read
    // the cut. One-shot callers leave the pinned blocks to the
    // ContextCleaner (the copurchase-edges practice); an A/B with an
    // additional final-output cut + eager release measured SLOWER at bench
    // SF (the verdict-table persist cost more than early release bought),
    // so the pair cut alone ships.
    val (pairs, _, _) = org.apache.spark.sql.graft.PlanBridge.cutLineage(
      blockPairsOf(docs))
    val before = ConnectedComponents.components(
        pairs.select(col("a"), col("b")))
      .select(col("node").as("doc_id"), col("component").as("old_cluster"))
    val affected = before.join(del, Seq("doc_id"), "left_semi")
      .select("old_cluster").distinct()
    val affDocs = before.join(broadcast(affected), Seq("old_cluster"))
    // retained edges of affected clusters: both endpoints survive; the
    // cluster restriction rides endpoint a (edges never cross clusters)
    val affEdges = pairs
      .join(affDocs.select(col("doc_id").as("a")), Seq("a"), "left_semi")
      .join(del.select(col("doc_id").as("a")), Seq("a"), "left_anti")
      .join(del.select(col("doc_id").as("b")), Seq("b"), "left_anti")
    val after = ConnectedComponents.components(affEdges.select(col("a"), col("b")))
      .select(col("node").as("doc_id"), col("component").as("kept_cluster"))
    val isDel = del.select(col("doc_id"), lit(true).as("is_del"))
    affDocs
      .join(isDel, Seq("doc_id"), "left")
      .join(after, Seq("doc_id"), "left")
      .select(
        col("doc_id"),
        col("old_cluster"),
        when(col("doc_id") === col("old_cluster"), lit("canonical"))
          .otherwise(lit("loser")).as("old_state"),
        when(col("is_del"), lit(null).cast("long"))
          .otherwise(coalesce(col("kept_cluster"), col("doc_id"))).as("new_cluster"),
        when(col("is_del"), lit("deleted"))
          .when(coalesce(col("kept_cluster"), col("doc_id")) === col("doc_id"),
            lit("canonical"))
          .otherwise(lit("loser")).as("new_state"))
      .withColumn("readmitted",
        col("old_state") === "loser" && col("new_state") === "canonical")
      .orderBy("doc_id")
  }

  def forgetRequalify(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    requalifyOver(docs, deletedOf(docs))
  }

  // ----------------------------------------------------------- forget_pack

  /** The post-takedown curated manifest — gate ∘ re-adjudicated cluster
    * dedup ∘ pack, computed the incremental way: standing losers of
    * UNAFFECTED Jaccard clusters are kept verbatim; affected clusters are
    * re-solved over retained edges; survivors = gated ∧ ¬deleted ∧ ¬loser.
    * Token counts are the PRE-MASK stage-3 figures (the
    * `refinery_waterfall` dedup-stage convention) — the span mask is a
    * pair-local recount whose incremental form needs gram-support
    * provenance and ships separately. The oracle rebuilds from scratch:
    * full-corpus trainer (frozen gate), cluster closure over the FILTERED
    * corpus, pack — so the hash equality IS cascade ≡ rebuild,
    * end to end.
    */
  def forgetPack(spark: SparkSession, sfDir: String): DataFrame =
    forgetPackOver(spark, sfDir, deletedOf(Tables.documents(spark, sfDir)))

  /** [[forgetPack]] with an injectable delete set — the publication entry
    * point of the STREAMED takedown queue ([[forgetStream]]) and of
    * constructed spec cases.
    */
  private[llm] def forgetPackOver(
      spark: SparkSession, sfDir: String, del0: DataFrame): DataFrame = {
    // overlap (PlanBridge.scoped): the eager loser solve runs in a branch
    // while the caller cuts the narrow gate ∘ ¬deleted survivor base
    PlanBridge.scoped(spark) { s =>
      val del = del0.select("doc_id")
      val (base, (losers, _)) = s.overlap(
        s.cut(Refinery.gatedDocs(spark, sfDir)
          .join(del, Seq("doc_id"), "left_anti")
          .select("doc_id", "lang", "n_words")),
        forgetLosersOver(s, spark, sfDir, del))
      val survivors = base.join(losers, Seq("doc_id"), "left_anti")
      Sampling.cumBeforeByLang(
          survivors.select(col("doc_id"), col("lang"), col("n_words").as("toks")))
        .withColumn("bin", expr(s"cum_before div ${Sampling.PackBudget}"))
        .groupBy("lang", "bin")
        .agg(count(lit(1)).as("n_docs"), sum(col("toks")).as("bin_tokens"))
        .orderBy("lang", "bin")
    }
  }

  /** The cascade's shared core: (survivors, full-corpus cluster
    * labeling). Exposing the labeling lets [[forgetAudit]] derive its
    * 'before' frame from the SAME PPJoin + components pass the survivor
    * cut already pays (advisor-caught: the audit used to re-run both via
    * `Dedup.dedupClusters` — the exact duplication the "ONE PPJoin pass"
    * note below forbids, hidden from the PlanSpec shingle-kernel guard
    * behind the lineage cuts). The pair cut is released with scope `s`.
    */
  private[llm] def forgetCascadeOver(
      s: CutScope, spark: SparkSession, sfDir: String, del0: DataFrame)
      : (DataFrame, DataFrame) = {
    val del = del0.select("doc_id")
    val (losers, cl) = forgetLosersOver(s, spark, sfDir, del)
    val survivors = Refinery.gatedDocs(spark, sfDir)
      .join(del, Seq("doc_id"), "left_anti")
      .join(losers, Seq("doc_id"), "left_anti")
    (survivors, cl)
  }

  /** The cascade's LOSER half — everything up to (standing ∪ re-solved)
    * cluster losers, the part that is eager at construction: split out of
    * [[forgetCascadeOver]] so [[forgetPackOver]] can overlap it with its
    * survivor-base cut while [[forgetAudit]] keeps consuming
    * the composed survivors via [[forgetCascadeOver]] unchanged.
    */
  private[llm] def forgetLosersOver(
      s: CutScope, spark: SparkSession, sfDir: String, del: DataFrame)
      : (DataFrame, DataFrame) = {
    // ONE PPJoin pass: materialize the verified pair set behind a lineage
    // cut and derive the standing cluster labeling, the affected-cluster
    // retained edges, AND the audit's before-frame from it (calling
    // dedupClusters AND jaccardPairs re-ran the candidate+verify
    // self-join twice — review-caught; ReuseExchange shares the shingled
    // scan, not the join work).
    val pairs = s.cut(
      Dedup.jaccardPairs(spark, sfDir, t = 0.8)
        .select(col("doc_a").as("a"), col("doc_b").as("b")))
    val cl = ConnectedComponents.components(pairs)
      .select(col("component").as("cluster"), col("node").as("doc_id"),
        (col("node") === col("component")).as("canonical"))
    val affected = cl.join(del, Seq("doc_id"), "left_semi")
      .select("cluster").distinct()
    val standingLosers = cl.filter(!col("canonical"))
      .join(broadcast(affected), Seq("cluster"), "left_anti")
      .select("doc_id")
    val affEdges = pairs
      .join(cl.select(col("doc_id").as("a"), col("cluster")), Seq("a"))
      .join(broadcast(affected), Seq("cluster"), "left_semi")
      .join(del.select(col("doc_id").as("a")), Seq("a"), "left_anti")
      .join(del.select(col("doc_id").as("b")), Seq("b"), "left_anti")
      .select(col("a"), col("b"))
    val newLosers = ConnectedComponents.components(affEdges)
      .filter(col("node") =!= col("component"))
      .select(col("node").as("doc_id"))
    (standingLosers.union(newLosers), cl)
  }

  // ---------------------------------------------------------- forget_spans

  /** Span-level readmission: deleting the OTHER copy un-masks your spans.
    *
    * The gram-grade span family (`text_dedup_spans`) marks a position
    * duplicated when its 8-gram occurs ≥ 2 times in the corpus; the
    * refinery cuts those words. A takedown lowers gram support, so a
    * surviving doc's masked spans can SHRINK — words the pipeline was
    * withholding become shippable again, and a cascade that doesn't
    * re-derive them silently under-serves the corpus forever. This is the
    * mask tier's version of [[forgetRequalify]]'s readmission, and it is
    * incrementalizable for exactly the same reason clusters are: gram
    * support is MONOTONE under deletion (occurrences only leave), so only
    * grams whose support crosses the dup threshold (occ ≥ 2 →
    * survivor-occ < 2) can change any position's verdict, and only
    * surviving docs CONTAINING such a gram need their islands re-merged.
    * (The suffix-grade family (`SuffixDedup.dupSpansExact`) is corpus-
    * global by construction — adjacent-suffix LCP — and re-derives whole;
    * a deployment picks the gram family precisely when it needs
    * incremental maintenance, which is why the registry keeps both.)
    *
    * Output: one row per AFFECTED surviving doc — masked span words
    * before, after, and restored (before − after ≥ 0 by monotonicity).
    * The oracle recomputes BOTH sides from scratch (full corpus, then
    * filtered corpus) and restricts to the affected set, so the hash
    * match again says cascade ≡ rebuild. Scale, stated precisely: the
    * full-corpus gram/occ frames here are the IN-QUERY stand-in for the
    * standing posting index (`text_postings` — the sim_ann_ivf_append
    * convention: recompute the artifact so the oracle can see it); a
    * deployment reads the index, so its cascade pays only the DELETED
    * docs' gram lookups + the occ decrements + the per-affected-doc
    * re-merge windows — blast radius, not corpus. Only that last
    * (re-merge) stage is restricted in-query too.
    */
  def forgetSpans(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    requalifySpansOver(docs, deletedOf(docs))
  }

  /** Injectable core of [[forgetSpans]] (constructed cases in ForgetSpec).
    * Gram/length/island machinery is SHARED with [[Dedup.dedupSpansOf]]
    * ([[Dedup.gramPositionsOf]]/[[Dedup.docLensOf]]/
    * [[Dedup.mergedIslandsOf]]) — one site owns the house n-gram contract
    * and the hard-won deferred-length-join convention.
    */
  private[llm] def requalifySpansOver(docs: DataFrame, del: DataFrame): DataFrame = {
    // NOT persisted although referenced five times (occ, delOcc, affDocs,
    // twice via affGrams): r14 A/B'd a lazy persist here and it was
    // neutral-to-negative at bench SF (101 vs 85 AQE stages, min-of-3
    // 5.0 vs 4.4 s) — the gram explode is cheap to recompute relative to
    // the stage boundaries a cached read adds. At 100 TB the deployment
    // reads the standing posting index instead (scaladoc above).
    val grams = Dedup.gramPositionsOf(docs)
    val occ = grams.groupBy("g").agg(count(lit(1)).as("occ"))
    val delOcc = grams.join(del, Seq("doc_id"), "left_semi")
      .groupBy("g").agg(count(lit(1)).as("del_occ"))
    // grams whose dup verdict flips: was duplicated, no longer is
    val changed = occ.join(delOcc, Seq("g"))
      .filter(col("occ") >= 2 && col("occ") - col("del_occ") < 2)
      .select("g")
    val affDocs = grams.join(broadcast(changed), Seq("g"), "left_semi")
      .join(del, Seq("doc_id"), "left_anti")
      .select("doc_id").distinct()
    val lens = Dedup.docLensOf(docs)
    // islands-merge → per-doc masked word total, over a given dup-verdict
    def spanSum(dupPos: DataFrame, out: String): DataFrame =
      Dedup.mergedIslandsOf(dupPos)
        .groupBy("doc_id")
        .agg(sum(col("span_end") - col("span_start") + 1).as(out))
    val affGrams = grams.join(broadcast(affDocs), Seq("doc_id"), "left_semi")
      .join(lens, Seq("doc_id"))
    val beforePos = affGrams.join(occ.filter(col("occ") >= 2), Seq("g"))
      .select(col("doc_id"), col("s"), least(col("s") + 7, col("nw")).as("e"))
    val afterPos = affGrams
      .join(occ, Seq("g"))
      .join(delOcc, Seq("g"), "left")
      .filter(col("occ") - coalesce(col("del_occ"), lit(0L)) >= 2)
      .select(col("doc_id"), col("s"), least(col("s") + 7, col("nw")).as("e"))
    affDocs
      .join(spanSum(beforePos, "span_words_before"), Seq("doc_id"), "left")
      .join(spanSum(afterPos, "span_words_after"), Seq("doc_id"), "left")
      .select(
        col("doc_id"),
        coalesce(col("span_words_before"), lit(0L)).as("span_words_before"),
        coalesce(col("span_words_after"), lit(0L)).as("span_words_after"))
      .withColumn("words_restored",
        col("span_words_before") - col("span_words_after"))
      .orderBy("doc_id")
  }

  // ---------------------------------------------------------- forget_audit

  /** THE COMPLIANCE TABLE — the one-page summary a takedown review signs
    * off, stitched from every cascade tier under ONE replayed-rebuild
    * hash: how many docs left (`deleted_docs`), how many previously-
    * dropped near-dups came BACK (`readmitted_docs` — the number a
    * tombstone-only cascade silently gets wrong), how many survivors had
    * masked spans re-opened and how many words that returned
    * (`span_affected_docs` / `span_words_restored`), and the curated
    * corpus totals before vs after (`kept_docs_*` / `kept_tokens_*` —
    * pre-mask stage-3 figures). The DuckDB oracle is the deepest single
    * statement in the suite: classifier retrain, TWO Jaccard-cluster
    * closures (full corpus and survivors), the block-graph double
    * closure, and the span support recount, all feeding eight aggregate
    * rows. Scale: eight bounded aggregates over frames the standalone
    * queries already price; nothing new shuffles.
    */
  def forgetAudit(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    val del = deletedOf(docs)
    // THREE independent sub-solves overlap (PlanBridge.scoped): the span
    // recount behind its own cut, block-graph requalify and the jaccard
    // cascade. Left lazy, the spans chain ran SERIALLY inside the final
    // action (measured: the gram-explode recount while 31 cores idled).
    PlanBridge.scoped(spark) { s =>
      val (spans, requal, (after, cl)) = s.overlap(
        s.cut(requalifySpansOver(docs, del)),
        requalifyOver(docs, del),
        forgetCascadeOver(s, spark, sfDir, del))
      // the before-frame's loser set comes from the SAME labeling the
      // cascade core computed — one PPJoin + one full-corpus components
      // pass serve both sides of the audit (advisor-caught: this used to
      // re-run both via Dedup.dedupClusters behind the lineage cut)
      val before = Refinery.gatedDocs(spark, sfDir)
        .join(cl.filter(!col("canonical")).select("doc_id"),
          Seq("doc_id"), "left_anti")
      def one(metric: String, df: DataFrame, v: Column): DataFrame =
        df.agg(v.cast("long").as("value")).select(lit(metric).as("metric"), col("value"))
      // counts, not sums-of-flags: an EMPTY blast radius must read 0 in
      // both engines (Spark's sum over zero rows is NULL, COUNT(*) is 0 —
      // the review-caught divergence); the words total coalesces for the
      // same reason, mirrored in the oracle
      one("deleted_docs", del, count(lit(1)))
        .unionByName(one("readmitted_docs", requal,
          count(when(col("readmitted"), lit(1)))))
        .unionByName(one("span_affected_docs", spans, count(lit(1))))
        .unionByName(one("span_words_restored", spans,
          coalesce(sum(col("words_restored")), lit(0L))))
        .unionByName(one("kept_docs_before", before, count(lit(1))))
        .unionByName(one("kept_tokens_before", before, sum(col("n_words"))))
        .unionByName(one("kept_docs_after", after, count(lit(1))))
        .unionByName(one("kept_tokens_after", after, sum(col("n_words"))))
        .orderBy("metric")
    }
  }

  // ----------------------------------------------------- forget_gate_drift

  /** FROZEN vs RETRAIN-ON-FORGET — the gate-policy question quantified.
    * The module's frozen-gate decision (object scaladoc) says a takedown
    * doesn't oblige retraining a 2-feature aggregate model; this query is
    * the evidence a policy review reads before agreeing: the 2×2
    * confusion of the frozen full-corpus gate vs a gate retrained on the
    * post-takedown corpus (same trainer, survivor train split, survivor
    * base-rate threshold), over all surviving docs, with doc and token
    * mass per cell. Off-diagonal mass ≈ 0 ⇒ freezing is safe;
    * material off-diagonal mass ⇒ this corpus's gate is
    * deletion-sensitive and the cascade should retrain. Both engines
    * train BOTH models from scratch (the oracle holds two GD trainers in
    * one statement via the prefix-named CTE builder), so the hash pins
    * the whole comparison, not just the counts. Scale: two bounded GD
    * loops (d+2 scalars per round) + one gated scan — the gates are
    * literal-weight projections folded into the scan.
    */
  def forgetGateDrift(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    val del = deletedOf(docs)
    val survivors = docs.join(del, Seq("doc_id"), "left_anti")
    val (fw1, fw2, fb, fthr) = Ml.curateModel(spark, sfDir)
    val (rw1, rw2, rb, rthr) = Ml.logregTrain(Ml.curateFeatsOf(survivors))
    survivors
      .selectExpr("doc_id",
        "CAST(size(split(text, ' ')) AS BIGINT) AS nw",
        s"${Ml.LogregFeats1} AS x1",
        s"${Ml.LogregFeats2} AS x2")
      .withColumn("frozen_keep", expr(s"${Ml.logregSig(fw1, fw2, fb)} >= $fthr"))
      .withColumn("retrained_keep", expr(s"${Ml.logregSig(rw1, rw2, rb)} >= $rthr"))
      .groupBy("frozen_keep", "retrained_keep")
      .agg(count(lit(1)).as("n_docs"), sum(col("nw")).as("tokens"))
      .orderBy("frozen_keep", "retrained_keep")
  }

  // --------------------------------------------------------- forget stream

  /** The takedown QUEUE deployed on a stream: deletion requests arrive as
    * NDJSON objects of doc ids; each micro-batch appends its distinct ids
    * to a standing tombstone zone (`batch=<id>` subdirectory, overwrite —
    * a failure-retry REPLACES its own partial output, the exactly-once
    * discipline every zone here uses). The CASCADE runs at publication
    * ([[manifestFromTombstones]]), not per batch — same reason cluster
    * closure and packing publish late: the re-adjudicated verdict is a
    * function of the CUMULATIVE delete set, and while deletion cascades
    * do compose (removal is monotone, so forget(D₁∪D₂) =
    * forget(D₂) ∘ forget(D₁) on the cluster state), the pack manifest is
    * corpus-global either way — publication is where it must be derived.
    * Accumulate-then-cascade also makes the queue ORDER-INDEPENDENT: any
    * interleaving of arrivals publishes the identical manifest.
    *
    * Zone lifecycle: tombstones are doc_ids only (metadata-scale —
    * bytes per takedown, not documents), so the zone grows negligibly;
    * once a hard-delete epoch has applied the cascade to every standing
    * artifact ([[graft.sources.Maintenance.forgetArtifacts]] per zone),
    * the consumed batch dirs consolidate to one parquet via the atomic
    * writer and retire through `vacuumArtifacts` like any superseded
    * generation.
    */
  def forgetStream(
      spark: SparkSession,
      sfDir: String,
      landingDir: String,
      tombstoneDir: String,
      checkpointDir: String): org.apache.spark.sql.streaming.StreamingQuery = {
    import org.apache.spark.sql.streaming.Trigger
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(StructField("doc_id", LongType)))
    spark.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", 1)
      .json(landingDir)
      .writeStream
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        batch.select(col("doc_id")).distinct()
          .write.mode("overwrite").parquet(s"$tombstoneDir/batch=$id")
        ()
      }
      .start()
  }

  /** Publication over the accumulated tombstones: the post-takedown
    * curated manifest for everything deleted so far — ≡ the batch
    * [[forgetPack]] under the same cumulative set (StreamingForgetSpec).
    */
  def manifestFromTombstones(
      spark: SparkSession, sfDir: String, tombstoneDir: String): DataFrame =
    forgetPackOver(spark, sfDir,
      spark.read.parquet(tombstoneDir).select("doc_id").distinct())

  // -------------------------------------------------------------- registry

  override def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "forget_requalify" -> (forgetRequalify _),
    "forget_pack" -> (forgetPack _),
    "forget_spans" -> (forgetSpans _),
    "forget_audit" -> (forgetAudit _),
    "forget_gate_drift" -> (forgetGateDrift _),
  )

  // ------------------------------------------------- oracle CTE builders
  // Prefix-parameterized so the standalone oracles and the audit share
  // ONE source of truth per stack (the duckClusterLoserCtesNamed shape);
  // "" reproduces the standalone statements' names.

  private def duckDocsCte(name: String): String =
    s"""$name AS (
       |  SELECT doc_id, string_split(text, ' ') AS w FROM documents)""".stripMargin

  /** Block near-dup graph + double closure: ${p}blk .. ${p}ac over `docs`. */
  private def duckBlockCtes(p: String, docs: String): String = Seq(
    s"""${p}blk AS (
       |  SELECT DISTINCT doc_id,
       |    md5(array_to_string(w[(i*16+1):(i*16+16)], ' ')) AS bh
       |  FROM (SELECT doc_id, w,
       |          unnest(range(0, CAST(ceil(len(w) / 16.0) AS BIGINT))) AS i
       |        FROM $docs))""".stripMargin,
    s"""${p}fp AS (
       |  SELECT x.doc_id AS pa, y.doc_id AS pb
       |  FROM ${p}blk x JOIN ${p}blk y ON x.bh = y.bh AND x.doc_id < y.doc_id
       |  GROUP BY 1, 2)""".stripMargin,
    s"${p}be AS (\n  SELECT pa AS a, pb AS b FROM ${p}fp UNION SELECT pb, pa FROM ${p}fp)",
    s"""${p}br(n, m) AS (
       |  SELECT a, b FROM ${p}be
       |  UNION
       |  SELECT r.n, e.b FROM ${p}br r JOIN ${p}be e ON r.m = e.a WHERE e.b <> r.n)""".stripMargin,
    s"""${p}bc AS (
       |  SELECT n AS doc_id, LEAST(n, MIN(m)) AS old_cluster FROM ${p}br GROUP BY n)""".stripMargin,
    s"${p}aff AS (\n  SELECT DISTINCT old_cluster FROM ${p}bc JOIN fdel USING (doc_id))",
    s"""${p}rp AS (
       |  SELECT pa, pb FROM ${p}fp
       |  WHERE pa NOT IN (SELECT doc_id FROM fdel)
       |    AND pb NOT IN (SELECT doc_id FROM fdel))""".stripMargin,
    s"${p}ae AS (\n  SELECT pa AS a, pb AS b FROM ${p}rp UNION SELECT pb, pa FROM ${p}rp)",
    s"""${p}ar(n, m) AS (
       |  SELECT a, b FROM ${p}ae
       |  UNION
       |  SELECT r.n, e.b FROM ${p}ar r JOIN ${p}ae e ON r.m = e.a WHERE e.b <> r.n)""".stripMargin,
    s"""${p}ac AS (
       |  SELECT n AS doc_id, LEAST(n, MIN(m)) AS kept_cluster FROM ${p}ar GROUP BY n)""".stripMargin)
    .mkString(",\n")

  /** Gram support recount: ${p}g .. ${p}adup over `docs` (before = full
    * occ, after = occ RECOUNTED over survivors — a genuine rebuild). */
  private def duckSpanCtes(p: String, docs: String): String = Seq(
    s"""${p}g AS (
       |  SELECT doc_id, len(w) AS nw, i AS s,
       |    ${Hashing.duckHash60("array_to_string(w[i:i+7], ' ')")} AS g
       |  FROM (SELECT doc_id, w,
       |          unnest(range(1, greatest(len(w) - 6, 2))) AS i
       |        FROM $docs))""".stripMargin,
    s"${p}occ AS (\n  SELECT g, COUNT(*) AS occ FROM ${p}g GROUP BY g)",
    s"""${p}occ2 AS (
       |  SELECT g, COUNT(*) AS occ2 FROM ${p}g
       |  WHERE doc_id NOT IN (SELECT doc_id FROM fdel) GROUP BY g)""".stripMargin,
    s"""${p}changed AS (
       |  SELECT ${p}occ.g FROM ${p}occ LEFT JOIN ${p}occ2 USING (g)
       |  WHERE ${p}occ.occ >= 2 AND COALESCE(${p}occ2.occ2, 0) < 2)""".stripMargin,
    s"""${p}aff AS (
       |  SELECT DISTINCT doc_id FROM ${p}g JOIN ${p}changed USING (g)
       |  WHERE doc_id NOT IN (SELECT doc_id FROM fdel))""".stripMargin,
    s"""${p}bdup AS (
       |  SELECT ${p}g.doc_id, ${p}g.s, LEAST(${p}g.s + 7, ${p}g.nw) AS e
       |  FROM ${p}g JOIN ${p}occ USING (g) JOIN ${p}aff USING (doc_id)
       |  WHERE ${p}occ.occ >= 2)""".stripMargin,
    s"""${p}adup AS (
       |  SELECT ${p}g.doc_id, ${p}g.s, LEAST(${p}g.s + 7, ${p}g.nw) AS e
       |  FROM ${p}g JOIN ${p}occ2 USING (g) JOIN ${p}aff USING (doc_id)
       |  WHERE ${p}occ2.occ2 >= 2)""".stripMargin)
    .mkString(",\n")

  /** Gaps-and-islands merge + per-doc span sum over a dup-position CTE. */
  private def duckSpanIslands(dupCte: String, p: String): String =
    s"""${p}brk AS (
       |  SELECT doc_id, s, e,
       |    CASE WHEN s > COALESCE(MAX(e) OVER (PARTITION BY doc_id
       |        ORDER BY s ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
       |      -1) + 1 THEN 1 ELSE 0 END AS brk
       |  FROM $dupCte
       |), ${p}isl AS (
       |  SELECT doc_id, s, e,
       |    SUM(brk) OVER (PARTITION BY doc_id ORDER BY s
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
       |  FROM ${p}brk
       |), ${p}sum AS (
       |  SELECT doc_id, CAST(SUM(se - ss + 1) AS BIGINT) AS sw
       |  FROM (SELECT doc_id, island, MIN(s) AS ss, MAX(e) AS se
       |        FROM ${p}isl GROUP BY doc_id, island)
       |  GROUP BY doc_id)""".stripMargin

  override def oracles: Map[String, String] = {
    val (trainCtes, thCte, keepdCte) = Refinery.duckGateCtes
    val requalifySql =
      Seq(duckDeleted, duckDocsCte("d"), duckBlockCtes("", "d"),
        """st AS (
          |  SELECT bc.doc_id, bc.old_cluster,
          |    CASE WHEN bc.doc_id = bc.old_cluster
          |         THEN 'canonical' ELSE 'loser' END AS old_state,
          |    CASE WHEN fdel.doc_id IS NOT NULL THEN NULL
          |         ELSE COALESCE(ac.kept_cluster, bc.doc_id) END AS new_cluster,
          |    CASE WHEN fdel.doc_id IS NOT NULL THEN 'deleted'
          |         WHEN COALESCE(ac.kept_cluster, bc.doc_id) = bc.doc_id
          |         THEN 'canonical' ELSE 'loser' END AS new_state
          |  FROM bc
          |  JOIN aff ON bc.old_cluster = aff.old_cluster
          |  LEFT JOIN fdel ON bc.doc_id = fdel.doc_id
          |  LEFT JOIN ac ON bc.doc_id = ac.doc_id
          |)""".stripMargin)
        .mkString("WITH RECURSIVE ", ",\n", "\n") +
        """SELECT doc_id, old_cluster, old_state, new_cluster, new_state,
          |  (old_state = 'loser' AND new_state = 'canonical') AS readmitted
          |FROM st ORDER BY doc_id""".stripMargin
    val packSql =
      (trainCtes ++ Seq(
        thCte,
        keepdCte,
        duckDeleted,
        Dedup.duckClusterLoserCtesOver(
          "\n  WHERE doc_id NOT IN (SELECT doc_id FROM fdel)"),
        """surv AS (
          |  SELECT k.doc_id, k.lang, k.nw AS toks FROM keepd k
          |  WHERE k.doc_id NOT IN (SELECT doc_id FROM fdel)
          |    AND k.doc_id NOT IN (SELECT doc_id FROM cl_losers))""".stripMargin,
        s"""cum AS (
           |  SELECT lang, toks,
           |    CAST(COALESCE(SUM(toks) OVER (PARTITION BY lang ORDER BY doc_id
           |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum_before
           |  FROM surv)""".stripMargin))
        .mkString("WITH RECURSIVE ", ",\n", "\n") +
        s"""SELECT lang, CAST(cum_before // ${Sampling.PackBudget} AS BIGINT) AS bin,
           |  COUNT(*) AS n_docs, CAST(SUM(toks) AS BIGINT) AS bin_tokens
           |FROM cum GROUP BY lang, cum_before // ${Sampling.PackBudget}
           |ORDER BY lang, bin""".stripMargin
    val spansSql =
      Seq(duckDeleted, duckDocsCte("d"), duckSpanCtes("", "d"),
        duckSpanIslands("bdup", "b"), duckSpanIslands("adup", "a"))
        .mkString("WITH ", ",\n", "\n") +
        """SELECT aff.doc_id,
          |  COALESCE(bsum.sw, 0) AS span_words_before,
          |  COALESCE(asum.sw, 0) AS span_words_after,
          |  COALESCE(bsum.sw, 0) - COALESCE(asum.sw, 0) AS words_restored
          |FROM aff
          |LEFT JOIN bsum ON aff.doc_id = bsum.doc_id
          |LEFT JOIN asum ON aff.doc_id = asum.doc_id
          |ORDER BY aff.doc_id""".stripMargin
    // the audit: every tier's rebuild replayed in ONE statement — gate
    // trainer, TWO Jaccard closures (cl_ = full corpus, cx_ = survivors),
    // the block-graph double closure (q-prefixed), the span support
    // recount (s-prefixed) — feeding eight labeled aggregate rows; the
    // counts/COALESCEs mirror the Spark side's empty-blast-radius zeros
    val auditSql =
      (trainCtes ++ Seq(
        thCte,
        keepdCte,
        duckDeleted,
        Dedup.duckClusterLoserCtesNamed("cl_", ""),
        Dedup.duckClusterLoserCtesNamed("cx_",
          "\n  WHERE doc_id NOT IN (SELECT doc_id FROM fdel)"),
        """bsurv AS (
          |  SELECT k.doc_id, k.nw FROM keepd k
          |  WHERE k.doc_id NOT IN (SELECT doc_id FROM cl_losers))""".stripMargin,
        """asurv AS (
          |  SELECT k.doc_id, k.nw FROM keepd k
          |  WHERE k.doc_id NOT IN (SELECT doc_id FROM fdel)
          |    AND k.doc_id NOT IN (SELECT doc_id FROM cx_losers))""".stripMargin,
        duckDocsCte("qd"),
        duckBlockCtes("q", "qd"),
        """qre AS (
          |  SELECT qbc.doc_id FROM qbc
          |  JOIN qaff ON qbc.old_cluster = qaff.old_cluster
          |  LEFT JOIN fdel ON qbc.doc_id = fdel.doc_id
          |  LEFT JOIN qac ON qbc.doc_id = qac.doc_id
          |  WHERE qbc.doc_id <> qbc.old_cluster
          |    AND fdel.doc_id IS NULL
          |    AND COALESCE(qac.kept_cluster, qbc.doc_id) = qbc.doc_id)""".stripMargin,
        duckSpanCtes("s", "qd"),
        duckSpanIslands("sbdup", "sb"),
        duckSpanIslands("sadup", "sa"),
        """srest AS (
          |  SELECT saff.doc_id,
          |    COALESCE(sbsum.sw, 0) - COALESCE(sasum.sw, 0) AS restored
          |  FROM saff
          |  LEFT JOIN sbsum ON saff.doc_id = sbsum.doc_id
          |  LEFT JOIN sasum ON saff.doc_id = sasum.doc_id)""".stripMargin))
        .mkString("WITH RECURSIVE ", ",\n", "\n") +
        """SELECT 'deleted_docs' AS metric,
          |  (SELECT CAST(COUNT(*) AS BIGINT) FROM fdel) AS value
          |UNION ALL SELECT 'kept_docs_after',
          |  (SELECT CAST(COUNT(*) AS BIGINT) FROM asurv)
          |UNION ALL SELECT 'kept_docs_before',
          |  (SELECT CAST(COUNT(*) AS BIGINT) FROM bsurv)
          |UNION ALL SELECT 'kept_tokens_after',
          |  (SELECT CAST(SUM(nw) AS BIGINT) FROM asurv)
          |UNION ALL SELECT 'kept_tokens_before',
          |  (SELECT CAST(SUM(nw) AS BIGINT) FROM bsurv)
          |UNION ALL SELECT 'readmitted_docs',
          |  (SELECT CAST(COUNT(*) AS BIGINT) FROM qre)
          |UNION ALL SELECT 'span_affected_docs',
          |  (SELECT CAST(COUNT(*) AS BIGINT) FROM srest)
          |UNION ALL SELECT 'span_words_restored',
          |  (SELECT CAST(COALESCE(SUM(restored), 0) AS BIGINT) FROM srest)
          |ORDER BY metric""".stripMargin
    // frozen vs retrained gate: TWO GD trainers in one statement (the
    // retrained one r-prefixed, its feature split filtered to survivors),
    // each with its own base-rate threshold, cross-tabbed over survivors
    val gateDriftSql = {
      val retrainCtes = Ml.logregTrainCtesNamed("r",
        s"""rf AS (
           |  SELECT x1, x2, y FROM (
           |    SELECT ${Ml.LogregFeats1} AS x1,
           |           ${Ml.LogregFeats2Duck} AS x2,
           |           ${Ml.LogregLabel} AS y,
           |           ${Hashing.duckHash60("CAST(doc_id AS VARCHAR)")} % 100 AS h
           |    FROM documents
           |    WHERE doc_id NOT IN (SELECT doc_id FROM fdel)) WHERE h < ${Ml.CurateTrainPct})""".stripMargin)
      (Seq(duckDeleted) ++ trainCtes ++ Seq(thCte) ++ retrainCtes ++ Seq(
        s"""rth AS (
           |  SELECT CAST(CAST(sum(y) AS BIGINT) * 1000000 // count(*) AS BIGINT) AS t
           |  FROM rf)""".stripMargin,
        s"""svdocs AS (
           |  SELECT doc_id,
           |    CAST(len(string_split(text, ' ')) AS BIGINT) AS nw,
           |    ${Ml.LogregFeats1} AS x1,
           |    ${Ml.LogregFeats2Duck} AS x2
           |  FROM documents
           |  WHERE doc_id NOT IN (SELECT doc_id FROM fdel))""".stripMargin,
        s"""lab AS (
           |  SELECT s.nw,
           |    (${Ml.logregSigDuck("fw.w1", "fw.w2", "fw.b")} >= th.t) AS frozen_keep,
           |    (${Ml.logregSigDuck("rw.w1", "rw.w2", "rw.b")} >= rth.t) AS retrained_keep
           |  FROM svdocs s, w${Ml.LogregIters} fw, rw${Ml.LogregIters} rw, th, rth)""".stripMargin))
        .mkString("WITH ", ",\n", "\n") +
        """SELECT frozen_keep, retrained_keep,
          |  COUNT(*) AS n_docs, CAST(SUM(nw) AS BIGINT) AS tokens
          |FROM lab GROUP BY frozen_keep, retrained_keep
          |ORDER BY frozen_keep, retrained_keep""".stripMargin
    }
    Map(
      "forget_requalify" -> requalifySql,
      "forget_pack" -> packSql,
      "forget_spans" -> spansSql,
      "forget_audit" -> auditSql,
      "forget_gate_drift" -> gateDriftSql,
    )
  }
}
