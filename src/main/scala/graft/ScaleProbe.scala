package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.PlanBridge

import graft.operators.ConnectedComponents

/** Iterative-operator scaling probe (dev tool, not part of the driver
  * contract): MEASURES — rather than argues — the two scale claims the
  * connected-components tier rests on, on synthetic graphs far larger
  * than any driver corpus (SCALING.md records the results):
  *
  *  1. Star contraction's round count is O(log² n) and INDEPENDENT of
  *     component diameter: a 10⁶-node hash graph (10⁷ edges, giant
  *     component) and a 10⁶-node union of 100 paths of diameter 10⁴ must
  *     both converge in single-digit rounds. (The replaced min-label
  *     propagation loop needed ~diameter rounds — 10⁴ here.)
  *  2. Incremental folds cost O(batch + touched members), not O(corpus):
  *     with a fixed bridge batch over a block-structured corpus, fold
  *     time must stay near-flat as the corpus grows 10×, while the full
  *     re-solve it replaces grows with the corpus.
  *
  * All graphs are DETERMINISTIC (id arithmetic + xxhash64 — no rand(),
  * no wall clock), so runs are comparable across rounds.
  *
  * Usage: `runMain graft.ScaleProbe [small]` — `small` divides sizes by
  * 10 for a quick smoke pass. One JSON line per measurement.
  */
object ScaleProbe {

  private def time[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = body
    (a, (System.nanoTime() - t0) / 1e9)
  }

  /** `nPaths` disjoint paths of `pathLen` nodes each: worst-case diameter
    * per node count — the graph family that broke round-capped label
    * propagation. */
  private def pathGraph(spark: SparkSession, nPaths: Int, pathLen: Int): DataFrame =
    spark.range(nPaths.toLong * pathLen)
      .filter(col("id") % pathLen =!= (pathLen - 1))
      .select(col("id").as("a"), (col("id") + 1).as("b"))

  /** `e` pseudo-random edges over `n` nodes (xxhash64 arithmetic): one
    * giant component plus noise — the organic near-dup-graph shape. */
  private def hashGraph(spark: SparkSession, n: Long, e: Long): DataFrame =
    spark.range(e).select(
      pmod(xxhash64(col("id")), lit(n)).as("a"),
      pmod(xxhash64(col("id") * 7 + 1), lit(n)).as("b"))

  /** Block-structured corpus: edges stay INSIDE 10-node blocks, so the
    * corpus is `n/10` small components and a bridge batch touches a fixed
    * number of them regardless of corpus size. Two deterministic edges
    * per node → every block is connected. */
  private def blockCorpus(spark: SparkSession, n: Long): DataFrame = {
    // `div`, not `/`: Spark's `/` on integers is DOUBLE division, which
    // would turn the block floor into id-valued FP noise and degrade the
    // corpus into 2-node fragments (review-caught measurement bug)
    val block = expr("id div 10 * 10")
    spark.range(n).select(
      (block + pmod(xxhash64(col("id")), lit(10))).as("a"),
      (block + pmod(xxhash64(col("id") * 31 + 7), lit(10))).as("b"))
  }

  /** Fixed-size batch bridging consecutive blocks: always touches
    * ~2×`nBridges` components however large the corpus is. */
  private def bridgeBatch(spark: SparkSession, nBridges: Int): DataFrame =
    spark.range(nBridges).select(
      (col("id") * 10).as("a"), ((col("id") + 1) * 10).as("b"))

  /** Deterministic letters-only corpus for the tokenizer-trainer probe:
    * each doc concatenates `blocks` md5 hexes of (id, block) with digits
    * translated to letters — 32·blocks chars/doc of stable character-pair
    * statistics, no rand(), identical across runs. */
  private def textCorpus(spark: SparkSession, nDocs: Long, blocks: Int): DataFrame =
    spark.range(nDocs).select(
      col("id").as("doc_id"),
      translate(
        concat((1 to blocks).map(j =>
          md5(concat(col("id").cast("string"), lit(s"-$j")))): _*),
        "0123456789", "ghijklmnop").as("text"))

  /** Spaced deterministic corpus: `words` 8-char md5-derived words per
    * doc — the word-level probes' input (no rand(), identical across
    * runs).
    */
  private def spacedCorpus(spark: SparkSession, nDocs: Long, words: Int): DataFrame =
    spark.range(nDocs).select(
      col("id").as("doc_id"),
      concat_ws(" ", (1 to words).map(j =>
        substring(md5(concat(col("id").cast("string"), lit(s"-$j"))), 1, 8)): _*).as("text"))

  def main(args: Array[String]): Unit = {
    val div = if (args.contains("small")) 10 else 1
    // section filters: pass any of cc / inc / bpe / gd / pairs / cdc to
    // run a subset (isolating a claim keeps its timings clear of the
    // other probes' block-manager and GC residue)
    val sections = Set("cc", "ccab", "inc", "bpe", "gd", "pairs", "cdc", "lpa", "sfx", "prefix", "rrf", "kcore", "ivf", "ivfappend", "forget", "rerank", "kcoreinc", "annwave", "unigramzone", "script", "unigramfold").filter(args.contains)
    def on(s: String): Boolean = sections.isEmpty || sections(s)
    val spark = Graft.localSession(Graft.envCores)
    spark.sparkContext.setLogLevel("WARN")

    def solveStats(name: String, edges: DataFrame, nodes: Long, nEdges: Long): Unit = {
      val ((labels, handle), sec) =
        time(ConnectedComponents.componentsManaged(edges))
      val (nLabeled, labelSec) = time(labels.count())
      println(f"""{"probe":"$name","nodes":$nodes,"edges":$nEdges,""" +
        f""""rounds":${ConnectedComponents.lastRounds.get()},""" +
        f""""contract_sec":$sec%.1f,"label_sec":$labelSec%.1f,"labeled":$nLabeled}""")
      handle.release()
    }

    // claim 1: round count independent of shape and diameter
    if (on("cc")) {
    solveStats("hash_graph",
      hashGraph(spark, 1000000L / div, 10000000L / div),
      1000000L / div, 10000000L / div)
    solveStats("path_graph_diameter_1e4",
      pathGraph(spark, 100 / div, 10000),
      100L / div * 10000, 100L / div * (10000 - 1))
    }

    // claim 1b: the local finish vs the pure distributed loop, SAME box
    // SAME hour — recorded wall times drift across boxes/days, so the
    // speedup claim is only honest as a paired A/B (min-of-2 each)
    if (on("ccab")) {
    for (mode <- Seq("local_finish", "distributed_only");
         thr = if (mode == "local_finish")
           ConnectedComponents.LocalFinishMaxEdges else 0L) {
      val sec = (1 to 2).map { _ =>
        val ((labels, handle), s) = time {
          val r = ConnectedComponents.componentsManaged(
            hashGraph(spark, 1000000L / div, 10000000L / div),
            localFinishMaxEdges = thr)
          r._1.count()
          r
        }
        handle.release(); s
      }.min
      println(f"""{"probe":"cc_ab","mode":"$mode","edges":${10000000L / div},""" +
        f""""rounds":${ConnectedComponents.lastRounds.get()},""" +
        f""""local_finish":${ConnectedComponents.lastLocalFinish.get()},""" +
        f""""solve_sec":$sec%.1f}""")
    }
    }

    // claim 2: incremental fold flat as corpus grows, batch fixed.
    // Warm-up fold first: the first fold ever JIT-compiles and
    // codegen-compiles the whole incremental path, which otherwise lands
    // entirely on the smallest corpus and inverts the trend.
    if (on("inc")) {
    locally {
      val (warmLabels, warmHandle) =
        ConnectedComponents.componentsManaged(blockCorpus(spark, 10000L))
      val (wp, wpRdd, _) = PlanBridge.cutLineage(warmLabels)
      warmHandle.release() // the warm-up must not leave its own residue
      val (wf, wfH) = ConnectedComponents.incrementalComponentsManaged(
        wp, bridgeBatch(spark, 10))
      wf.count(); wfH.unpersist(); wpRdd.unpersist()
    }
    for (n <- Seq(100000L, 300000L, 1000000L).map(_ / div)) {
      val corpus = blockCorpus(spark, n)
      val batch = bridgeBatch(spark, 1000 / div)
      val ((prior, priorHandle), priorSec) =
        time(ConnectedComponents.componentsManaged(corpus))
      // standing labeling materialized (the steady state a daily pipeline
      // holds); the timed fold still pays its own linear cut of it
      val (p, pRdd, nPrior) = PlanBridge.cutLineage(prior)
      priorHandle.release()
      // min-of-3: this box shows intermittent multi-x slowdowns (observed
      // 14 s -> 126 s on an identical fold), so one-shot walls are noise
      val foldSec = (1 to 3).map { _ =>
        val ((_, h), s) = time {
          val r = ConnectedComponents.incrementalComponentsManaged(p, batch)
          r._1.count() // materialize: the fold isn't done until labels exist
          r
        }
        h.unpersist(); s
      }.min
      val fullSec = (1 to 3).map { _ =>
        val ((_, h), s) = time {
          val r = ConnectedComponents.componentsManaged(corpus.union(batch))
          r._1.count(); r
        }
        h.unpersist(); s
      }.min
      println(f"""{"probe":"incremental_vs_full","corpus_nodes":$n,""" +
        f""""prior_members":$nPrior,"batch_edges":${1000 / div},""" +
        f""""prior_solve_sec":$priorSec%.1f,"fold_sec":$foldSec%.1f,""" +
        f""""full_resolve_sec":$fullSec%.1f}""")
      pRdd.unpersist()
    }
    }

    // claim 3 (round-5 trainers): BPE training cost is LINEAR in corpus
    // bytes and per-round cost stays flat across rounds (the chained
    // literal replaces over the persisted state do not compound), at
    // corpora 10-100x the bench SF (sf0.1 = 5e3 docs).
    if (on("bpe")) for (n <- Seq(50000L, 150000L, 500000L).map(_ / div)) {
      val docs = llm.Bpe.state0Of(textCorpus(spark, n, 4))
      var merges = 0 // report the count actually learned, not the ask
      val t6 = (1 to 3).map { _ =>
        val ((m, _), sec) = time(llm.Bpe.train(docs, 6)); merges = m.size; sec
      }.min
      val t1 = (1 to 3).map(_ => time(llm.Bpe.train(docs, 1))._2).min
      println(f"""{"probe":"bpe_train","docs":$n,"chars_per_doc":128,""" +
        f""""merges":$merges,"train6_sec":$t6%.1f,"train1_sec":$t1%.1f}""")
    }

    // claim 4: one GD iteration is a single map-side-combinable aggregate
    // whose cost is linear in rows (the shuffle carries d+1 scalars), at
    // 2-30x the bench SF's lineitem (6e5 rows).
    if (on("gd")) for (n <- Seq(1000000L, 3000000L, 10000000L).map(_ / div)) {
      val feats = spark.range(n).selectExpr(
        "CAST(CAST(id % 50 + 1 AS DECIMAL(9,2)) * 0.02 AS DECIMAL(6,4)) AS x1",
        "CAST(CAST((id % 11) AS DECIMAL(6,2)) * 0.01 * 10 AS DECIMAL(4,2)) AS x2",
        "CAST(CAST((id % 50 + 1) * ((id * 2654435761) % 1000 + 900) AS DECIMAL(14,2)) * 0.00001 AS DECIMAL(8,7)) AS y")
      val err = "CAST(round(CAST(0.100000 AS DECIMAL(8,6)) * x1 + CAST(0.100000 AS DECIMAL(8,6)) * x2" +
        " + CAST(0.100000 AS DECIMAL(8,6)) - y, 6) AS DECIMAL(11,6))"
      val sec = (1 to 3).map { _ =>
        time {
          feats.selectExpr(s"$err AS err", "x1", "x2")
            .selectExpr("count(1) AS n", "round(sum(err * x1), 6) AS g1",
              "round(sum(err * x2), 6) AS g2", "round(sum(err), 6) AS g0")
            .collect()
        }._2
      }.min
      println(f"""{"probe":"gd_iteration","rows":$n,"iter_sec":$sec%.2f}""")
    }

    // claim 5 (round-6 hot paths): the native adjacent-pairs byte scan
    // (WordPairs) vs the builtin split/transform/element_at chain it
    // replaced, and CDC chunking's linearity — both on a spaced synthetic
    // corpus 60-200x the bench SF's documents table (sf0.1 = 5e3 docs).
    if (on("pairs")) for (n <- Seq(300000L, 1000000L).map(_ / div)) {
      val docs = spacedCorpus(spark, n, 16).persist()
      docs.count() // pin: both variants must read cached strings
      def run(df: DataFrame): Double =
        (1 to 3).map(_ => time(df.agg(count(col("p.a"))).collect())._2).min
      val tNative = run(docs.select(explode(
        functions.VectorExpressions.word_pairs(col("text"))).as("p")))
      val tBuiltin = run(docs
        .withColumn("w", split(col("text"), " "))
        .filter(size(col("w")) >= 2)
        .select(explode(expr(
          "transform(sequence(1, size(w) - 1), " +
            "i -> struct(element_at(w, i) AS a, element_at(w, i + 1) AS b))")).as("p")))
      println(f"""{"probe":"word_pairs","docs":$n,"words_per_doc":16,""" +
        f""""native_sec":$tNative%.2f,"builtin_sec":$tBuiltin%.2f,""" +
        f""""speedup":${tBuiltin / tNative}%.1f}""")
      docs.unpersist(blocking = false)
    }
    if (on("cdc")) for (n <- Seq(100000L, 300000L, 1000000L).map(_ / div)) {
      val docs = spacedCorpus(spark, n, 16)
      val sec = (1 to 3).map(_ =>
        time(llm.Dedup.dedupCdcChunksOf(docs).count())._2).min
      println(f"""{"probe":"cdc_chunks","docs":$n,"chunk_sec":$sec%.2f}""")
    }

    // claim 7 (round-7): the suffix-grade span pass's heavy stages are
    // bounded by DUPLICATED-doc mass, not corpus mass — the candidate
    // prune is the only full-corpus work. Synthetic corpus: 16 md5 words
    // per doc, with a deterministic fraction of docs carrying one of 32
    // shared 8-word runs (the duplicated mass). Measured two ways: corpus
    // grows at fixed 20% dup rate (cost ∝ corpus only through the cheap
    // prune), and dup rate grows at fixed corpus (the suffix stages'
    // input scales with rate).
    if (on("sfx")) {
      def dupCorpus(n: Long, dupPct: Int): DataFrame = {
        val base = spacedCorpus(spark, n, 16)
        val shared = concat_ws(" ", (1 to 8).map(j =>
          substring(md5(concat(pmod(col("doc_id"), lit(32L)).cast("string"),
            lit(s"#$j"))), 1, 8)): _*)
        base.select(col("doc_id"),
          when(pmod(col("doc_id"), lit(100L)) < dupPct,
            concat_ws(" ",
              substring_index(col("text"), " ", 4), shared,
              substring_index(col("text"), " ", -4)))
            .otherwise(col("text")).as("text"))
      }
      for (n <- Seq(100000L, 300000L, 1000000L).map(_ / div)) {
        val sec = (1 to 2).map(_ =>
          time(llm.SuffixDedup.dupSpansExactOf(dupCorpus(n, 20)).count())._2).min
        println(f"""{"probe":"suffix_spans","docs":$n,"dup_pct":20,"sec":$sec%.1f}""")
      }
      for (pct <- Seq(10, 20, 40)) {
        val sec = (1 to 2).map(_ =>
          time(llm.SuffixDedup.dupSpansExactOf(dupCorpus(300000L / div, pct)).count())._2).min
        println(f"""{"probe":"suffix_spans_rate","docs":${300000L / div},"dup_pct":$pct,"sec":$sec%.1f}""")
      }
    }

    // claim 6 (round-7): converged label propagation's round count is set
    // by community structure, NOT corpus size (block corpus: 10-node
    // communities at every n), and total cost grows ~linearly in edges —
    // the run-until-stable production form with per-round cutLineage.
    if (on("lpa")) for (n <- Seq(100000L, 300000L, 1000000L).map(_ / div)) {
      val e = blockCorpus(spark, n).filter(col("a") =!= col("b"))
      val und = e.union(e.select(col("b").as("a"), col("a").as("b")))
        .distinct()
        .select(col("a").as("src"), col("b").as("dst"))
      val nodes = spark.range(n).select(col("id").as("node"))
      val ((labels, rounds, release), sec) =
        time(queries.Graph.labelPropConverged(und, nodes))
      val nComm = labels.select("lab").distinct().count()
      println(f"""{"probe":"label_prop_converged","nodes":$n,""" +
        f""""rounds":$rounds,"communities":$nComm,"total_sec":$sec%.1f}""")
      release()
    }
    // claim 9 (round-8): k-core peeling converges in FEW rounds on
    // organic (hash-random) graphs and its per-round cost tracks the
    // SHRINKING survivor set, so total time grows near-linearly with
    // edges — the claim graph_kcore's per-round cut-and-release loop
    // rests on. (Deep cascades — long pendant paths — are the known
    // pathological family; the operator's maxRounds bound throws there
    // by design rather than iterate unboundedly.)
    if (on("kcore")) for (n <- Seq(100000L, 300000L, 1000000L).map(_ / div)) {
      val e = hashGraph(spark, n, 10 * n).filter(col("a") =!= col("b"))
      val und = e.union(e.select(col("b").as("a"), col("a").as("b")))
        .distinct()
        .select(col("a").as("src"), col("b").as("dst"))
      // k = 10 sits ABOVE the random-graph core-emergence threshold at
      // mean degree ~20 (c_k ≈ k + √(k·log k) ≈ 15), so a giant core
      // SURVIVES and the peel must separate it from the cascading fringe
      // — the realistic shape; k past the threshold just empties the
      // graph in the same few rounds
      val ((core, rounds, release), sec) =
        time {
          val r = queries.Graph.kcoreOf(und, k = 10)
          r._1.count()
          r
        }
      val coreN = core.count()
      println(f"""{"probe":"kcore_peel","nodes":$n,"edges":${10 * n},""" +
        f""""k":10,"rounds":$rounds,"core_nodes":$coreN,"total_sec":$sec%.1f}""")
      release()
    }

    // claim 13 (round-11): the anchored k-core fold costs the batch's
    // cascade region, not a corpus re-peel. Standing graph = 99% of
    // edges (its core solved UNTIMED — the standing artifact, exactly
    // ivfappend's amortization argument), batch = the held-out 1%.
    // A/B per wave: full re-peel of the union vs kcoreFoldOf against
    // the standing core; identical core (count + id checksum) required.
    if (on("kcoreinc")) {
      val n = 1000000L / div
      val e = hashGraph(spark, n, 10 * n).filter(col("a") =!= col("b"))
      val und = e.union(e.select(col("b").as("a"), col("a").as("b")))
        .distinct()
        .select(col("a").as("src"), col("b").as("dst"))
      // deterministic 1% batch, symmetric-consistent (keyed on the
      // canonical undirected pair so both directions land together)
      val isNew = pmod(xxhash64(
        least(col("src"), col("dst")), greatest(col("src"), col("dst"))),
        lit(100L)) === 99L
      val ((standing, _, relS), standingSec) = time {
        val r = queries.Graph.kcoreOf(und.filter(!isNew), k = 10)
        r._1.count()
        r
      }
      def checksum(core: DataFrame): (Long, Long) = {
        val r = core.agg(count(lit(1)), sum(col("node"))).head
        (r.getLong(0), r.getLong(1))
      }
      def repeel(): (Long, Long) = {
        val (core, _, rel) = queries.Graph.kcoreOf(und, k = 10)
        val cs = checksum(core); rel(); cs
      }
      def fold(): (Long, Long) = {
        val (core, _, rel) = queries.Graph.kcoreFoldOf(und, standing, k = 10)
        val cs = checksum(core); rel(); cs
      }
      val rp = (1 to 2).map(_ => time(repeel())).minBy(_._2)
      val fd = (1 to 2).map(_ => time(fold())).minBy(_._2)
      require(rp._1 == fd._1,
        s"fold diverges from re-peel: ${rp._1} vs ${fd._1}")
      relS()
      println(f"""{"probe":"kcore_incremental","nodes":$n,"edges":${10 * n},""" +
        f""""k":10,"batch_pct":1,"core_nodes":${rp._1._1},""" +
        f""""core_checksum":${rp._1._2},"standing_solve_sec":$standingSec%.1f,""" +
        f""""repeel_sec":${rp._2}%.1f,"fold_sec":${fd._2}%.1f}""")
    }

    // claim 8 (round-8): the hierarchical packing prefix
    // (Sampling.cumBeforeByLang) holds where the naive per-lang window
    // stalls — a MONO-LINGUAL-DOMINANT corpus (90% of docs one language:
    // the naive plan puts 90% of the corpus on ONE task). Same rows, same
    // bins (cross-checked by total-aggregate equality), wall-clock A/B.
    if (on("prefix")) for (n <- Seq(10000000L, 30000000L).map(_ / div)) {
      import org.apache.spark.sql.expressions.Window
      // 90% lang0, remainder spread over 9 tail languages; toks a small
      // deterministic integer
      val docs = spark.range(n).select(
        col("id").as("doc_id"),
        when(pmod(xxhash64(col("id")), lit(10L)) < 9, lit("lang0"))
          .otherwise(concat(lit("lang"),
            (pmod(xxhash64(col("id") * 13 + 5), lit(9L)) + 1).cast("string")))
          .as("lang"),
        (pmod(xxhash64(col("id") * 31 + 1), lit(200L)) + 20).cast("int").as("toks"))
        .persist()
      docs.count()
      val budget = 2048
      def bins(cum: DataFrame): DataFrame = cum
        .withColumn("bin", expr(s"cum_before div $budget"))
        .groupBy("lang", "bin")
        .agg(count(lit(1)).as("n_docs"), sum(col("toks")).as("bin_tokens"))
      def fingerprint(df: DataFrame): (Long, Long) = {
        val r = df.agg(count(lit(1)), sum(expr("bin * n_docs + bin_tokens"))).collect()(0)
        (r.getLong(0), r.getLong(1))
      }
      // PROBE-ONLY BASELINE — do NOT promote into a registered query:
      // a bare partitionBy("lang") cumsum funnels each language through
      // ONE task (the exact anti-pattern cumBeforeByLang exists to
      // avoid); it lives here solely as the A/B control this probe
      // measures the hierarchical form against.
      val w = Window.partitionBy("lang").orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
      val naive = bins(docs.withColumn("cum_before",
        coalesce(sum(col("toks")).over(w), lit(0L))))
      val hier = bins(llm.Sampling.cumBeforeByLang(docs))
      val (fpN, tNaive) = time(fingerprint(naive))
      val (fpH, tHier) = time(fingerprint(hier))
      require(fpN == fpH, s"hierarchical prefix diverged: $fpN vs $fpH")
      println(f"""{"probe":"pack_prefix","docs":$n,"dominant_lang_pct":90,""" +
        f""""naive_window_sec":$tNaive%.1f,"hierarchical_sec":$tHier%.1f,""" +
        f""""identical_bins":true}""")
      docs.unpersist(blocking = false)
    }
    // claim 9 (round-8 second wave): the RRF ensemble's THREE per-lang
    // ranks hold on a mono-lingual-dominant corpus where the naive form
    // runs three single-task sorts of 90% of the corpus plus a fourth
    // for the top-10. Same rows; the two top-10 row SETS (100 rows) are
    // asserted identical, wall-clock A/B.
    if (on("rrf")) for (n <- Seq(10000000L, 30000000L).map(_ / div)) {
      import org.apache.spark.sql.expressions.Window
      val scored = spark.range(n).select(
        col("id").as("doc_id"),
        when(pmod(xxhash64(col("id")), lit(10L)) < 9, lit("lang0"))
          .otherwise(concat(lit("lang"),
            (pmod(xxhash64(col("id") * 13 + 5), lit(9L)) + 1).cast("string")))
          .as("lang"),
        round(pmod(xxhash64(col("id") * 7 + 3), lit(100000L))
          .cast("double") / 10000.0, 4).as("nll"),
        pmod(xxhash64(col("id") * 17 + 11), lit(1000000L)).as("ttr_ppm"),
        pmod(xxhash64(col("id") * 23 + 19), lit(1000000L)).as("dom_ppm"))
        .persist()
      scored.count()
      // PROBE-ONLY BASELINE — do NOT promote into a registered query:
      // four bare per-lang windows, each a single-task sort of the
      // dominant language; kept only as the A/B control for rrfTopK's
      // hierarchical ranks.
      val wL = Window.partitionBy("lang")
      val naive = scored
        .withColumn("r_nll",
          row_number().over(wL.orderBy(col("nll"), col("doc_id"))).cast("long"))
        .withColumn("r_ttr",
          row_number().over(wL.orderBy(col("ttr_ppm").desc, col("doc_id"))).cast("long"))
        .withColumn("r_dom",
          row_number().over(wL.orderBy(col("dom_ppm"), col("doc_id"))).cast("long"))
        .withColumn("rrf_nano",
          expr("1000000000 div (60 + r_nll) + 1000000000 div (60 + r_ttr)" +
            " + 1000000000 div (60 + r_dom)"))
        .withColumn("sel_rank",
          row_number().over(wL.orderBy(col("rrf_nano").desc, col("doc_id"))).cast("long"))
        .filter(col("sel_rank") <= 10)
      val hier = llm.TextAnalysis.rrfTopK(scored)
        .withColumn("sel_rank", col("sel_rank").cast("long"))
      def rows(df: DataFrame): Set[(String, Long, Long, Long)] =
        df.select("lang", "sel_rank", "doc_id", "rrf_nano").collect()
          .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
          .toSet
      val (top10N, tNaive) = time(rows(naive))
      val (top10H, tHier) = time(rows(hier))
      require(top10N == top10H, s"rrf top-10 diverged at n=$n")
      println(f"""{"probe":"rrf_ranks","docs":$n,"dominant_lang_pct":90,""" +
        f""""naive_windows_sec":$tNaive%.1f,"hierarchical_sec":$tHier%.1f,""" +
        f""""identical_top10":true}""")
      scored.unpersist(blocking = false)
    }
    // claim 10 (round-9): the IVF family's cost knob is the CELL SIZE
    // n/k — candidate volume per query (and probe wall time) must fall
    // ~k-fold as k grows at fixed n, which is why a production index
    // sizes k ~ √N (the corpus's k = 8 is corpus-appropriate, not a
    // design constant). Synthetic 64-dim vectors from xxhash64
    // arithmetic; assignment materialized (cutLineage) so the probe A/B
    // times ONLY the search half against a standing assignment — the
    // sim_ann_ivf_indexed deployment shape.
    if (on("ivf")) {
      import graft.functions.VectorExpressions.cosine_sim
      import org.apache.spark.sql.expressions.Window
      val n = 1000000L / div
      val vecs = spark.range(n).select(
        col("id").as("vec_id"),
        transform(sequence(lit(0), lit(63)),
          j => ((pmod(xxhash64(col("id") * 64 + j), lit(2000L)) - 1000L)
            .cast("double") / 1000.0)).as("e"))
      for (k <- Seq(8, 256)) {
        val cents = vecs.filter(col("vec_id") < k)
          .select(col("vec_id").as("cent_id"), col("e").as("cente"))
        val byCent = Window.partitionBy("vec_id")
          .orderBy(col("ccos").desc, col("cent_id"))
        // PROBE-ONLY BASELINE — the window-argmax form: sorts k rows per
        // vector inside a per-vec_id window; the A/B control the shipped
        // aggregate-argmax ivfAssignTo was measured against (and replaced)
        def assignWindow(): DataFrame =
          vecs.crossJoin(broadcast(cents))
            .withColumn("ccos", cosine_sim(col("e"), col("cente")))
            .withColumn("crn", row_number().over(byCent))
            .filter(col("crn") === 1)
            .select(col("vec_id"), col("e"), col("cent_id").as("cluster"))
        // aggregate form (the registered ivfAssignTo shape): max(struct)
        // argmax — map-side combinable, no per-vector sort; the agg
        // buffer carries the 64-dim vector
        def assignAgg(): DataFrame =
          vecs.crossJoin(broadcast(cents))
            .withColumn("ccos", cosine_sim(col("e"), col("cente")))
            .groupBy("vec_id")
            .agg(max(struct(col("ccos"), (-col("cent_id")).as("negc"),
              col("e"))).as("best"))
            .select(col("vec_id"), col("best.e").as("e"),
              (-col("best.negc")).as("cluster"))
        // min-of-2 per form; losing cuts (and the winner's, once the
        // probe is done) are RELEASED — pinned dead blocks would inflate
        // the later measurements, the exact residue the section-filter
        // convention exists to avoid
        def timedCut(mk: () => DataFrame)
            : (DataFrame, org.apache.spark.rdd.RDD[_], Double) = {
          val ((df1, rdd1, _), s1) = time(PlanBridge.cutLineage(mk()))
          val ((df2, rdd2, _), s2) = time(PlanBridge.cutLineage(mk()))
          if (s1 <= s2) { PlanBridge.releaseCut(rdd2); (df1, rdd1, s1) }
          else { PlanBridge.releaseCut(rdd1); (df2, rdd2, s2) }
        }
        val (_, winRdd, assignWindowSec) = timedCut(assignWindow _)
        PlanBridge.releaseCut(winRdd) // timing-only; the probe uses the agg cut
        val (assigned, aggRdd, assignSec) = timedCut(assignAgg _)
        val q = assigned.filter(col("vec_id") < 10)
          .select(col("vec_id").as("q_id"), col("e").as("qe"), col("cluster"))
        val c = assigned.select(
          col("vec_id").as("cand_id"), col("e").as("ce"), col("cluster"))
        val byCos = Window.partitionBy("q_id")
          .orderBy(col("cos").desc, col("cand_id"))
        def probe(): (Long, Long) = {
          val cand = q.join(c, Seq("cluster"))
            .filter(col("q_id") =!= col("cand_id"))
          val nCand = cand.count()
          val top3 = cand
            .withColumn("cos", round(cosine_sim(col("qe"), col("ce")), 6))
            .withColumn("rn", row_number().over(byCos))
            .filter(col("rn") <= 3).count()
          (nCand, top3)
        }
        val runs = (1 to 2).map(_ => time(probe()))
        val ((nCand, _), sec) = runs.minBy(_._2)
        PlanBridge.releaseCut(aggRdd)
        println(f"""{"probe":"ivf_cell_size","vectors":$n,"k":$k,""" +
          f""""assign_window_sec":$assignWindowSec%.1f,""" +
          f""""assign_agg_sec":$assignSec%.1f,"candidates":$nCand,""" +
          f""""probe_sec":$sec%.1f}""")
      }
    }
    // claim 11 (round-10): the standing-index batch append removes the
    // HISTORY-side assignment from the daily ingestion wave. Per wave,
    // the in-query append (`sim_ann_ivf_append` shape) pays corpus×k
    // broadcast-argmax; the indexed append
    // (`sim_ann_ivf_indexed_append` shape) pays one standing-index scan
    // + batch×k for the 1% arriving slice. The index build itself is
    // NOT timed — a deployment amortizes it across every wave (it IS
    // the artifact), which is the whole point of the A/B.
    if (on("ivfappend")) {
      import graft.functions.VectorExpressions.cosine_sim
      val n = 1000000L / div
      val k = 64
      val vecs = spark.range(n).select(
        col("id").as("vec_id"),
        transform(sequence(lit(0), lit(63)),
          j => ((pmod(xxhash64(col("id") * 64 + j), lit(2000L)) - 1000L)
            .cast("double") / 1000.0)).as("e"))
      val cents = vecs.filter(col("vec_id") < k)
        .select(col("vec_id").as("cent_id"), col("e").as("cente"))
      def assignTo(vs: DataFrame): DataFrame =
        vs.crossJoin(broadcast(cents))
          .withColumn("ccos", cosine_sim(col("e"), col("cente")))
          .groupBy("vec_id")
          .agg(max(struct(col("ccos"), (-col("cent_id")).as("negc"),
            col("e"))).as("best"))
          .select(col("vec_id"), col("best.e").as("e"),
            (-col("best.negc")).as("cluster"))
      val isNew = col("vec_id") % 100 === 99
      val idxDir = java.nio.file.Files
        .createTempDirectory("graft-probe-ivfappend").toString
      assignTo(vecs.filter(!isNew))
        .write.mode("overwrite").parquet(s"$idxDir/assigned")
      // drain through an aggregate that REFERENCES every assignment
      // column — a bare count() lets the optimizer prune the argmax
      // (and the vector) out of the plan entirely, timing nothing
      def wave(df: DataFrame): (Long, Long) = {
        val r = df.agg(count(lit(1)), sum(col("cluster")),
          sum(element_at(col("e"), 1))).head
        (r.getLong(0), r.getLong(1))
      }
      def waveInQuery(): (Long, Long) =
        wave(assignTo(vecs.filter(!isNew))
          .unionAll(assignTo(vecs.filter(isNew))))
      def waveIndexed(): (Long, Long) =
        wave(spark.read.parquet(s"$idxDir/assigned")
          .unionByName(assignTo(vecs.filter(isNew))))
      val inQ = (1 to 2).map(_ => time(waveInQuery())).minBy(_._2)
      val idx = (1 to 2).map(_ => time(waveIndexed())).minBy(_._2)
      // cross-check, not just cost: the indexed wave's assignment set
      // must EQUAL the in-query wave's (count and cluster checksum)
      require(inQ._1 == idx._1, s"wave results diverge: ${inQ._1} vs ${idx._1}")
      println(f"""{"probe":"ivf_append_wave","vectors":$n,"k":$k,""" +
        f""""batch_pct":1,"rows":${inQ._1._1},"cluster_sum":${inQ._1._2},""" +
        f""""in_query_wave_sec":${inQ._2}%.1f,""" +
        f""""indexed_wave_sec":${idx._2}%.1f}""")
      graft.Fs.deleteRecursively(new java.io.File(idxDir))
    }

    // claim 12 (round-11): the re-rank stage's marginal cost is the
    // BY-ID fp64 fetch wave — the one part of `sim_ann_ivfpq_rerank`
    // whose price the sf0.01 oracle can't show (300 rows there; a
    // deployment fetches R×queries vectors out of a standing zone that
    // at 100 TB is the dominant IO). The index build, ADC pass, and
    // fp64 truth are each materialized behind cuts so every per-R wave
    // times ONLY shortlist → fetch → exact score, A/B'd across the two
    // zone layouts: a FLAT parquet zone (the fetch degenerates to a
    // full scan — the naive layout's honest price) vs an id-SHARDED
    // zone fetched through the shard key (dynamic partition pruning
    // reads only the buckets the shortlist touches — the layout a
    // deployment keys by id precisely for this wave). Recall vs the
    // brute-force fp64 truth completes the recall/IO operating table.
    if (on("rerank")) {
      import org.apache.spark.sql.expressions.Window
      import graft.functions.VectorExpressions.cosine_sim
      val n = 1000000L / div
      val k = 64
      val nprobe = 2
      val nQ = 10
      val nShards = 64
      val vecs = spark.range(n).select(
        col("id").as("vec_id"),
        transform(sequence(lit(0), lit(63)),
          j => ((pmod(xxhash64(col("id") * 64 + j), lit(2000L)) - 1000L)
            .cast("double") / 1000.0)).as("e"))
      val zoneDir = java.nio.file.Files
        .createTempDirectory("graft-probe-rerank").toString
      vecs.write.mode("overwrite").parquet(s"$zoneDir/flat")
      vecs.withColumn("shard", pmod(col("vec_id"), lit(nShards)))
        .write.mode("overwrite").partitionBy("shard")
        .parquet(s"$zoneDir/sharded")
      // the layout the fetch actually wants: id-SORTED files (range
      // partition + in-file sort), so a pushed-down IN-filter on the
      // shortlist ids skips whole row groups via min/max stats — the
      // zone-map fetch, vs the flat layout's full scan
      vecs.repartitionByRange(32, col("vec_id"))
        .sortWithinPartitions(col("vec_id"))
        .write.mode("overwrite").parquet(s"$zoneDir/sorted")
      // id order CANNOT localize a random shortlist (its ids are
      // uniform over the id space — the scatter is the data, not the
      // layout). The fetch's true locality unit is the IVF CELL: every
      // shortlist is cell-local by construction (candidates come from
      // the query's nprobe probed cells), so a zone sorted by cluster
      // turns the fetch into a probed-cells range read — nprobe/k of
      // the zone. Written AFTER assignment below.
      val cents = vecs.filter(col("vec_id") < k)
        .select(col("vec_id").as("cent_id"), col("e").as("cente"))
      // coarse assignment — the shipped aggregate-argmax shape
      val assigned = vecs.crossJoin(broadcast(cents))
        .withColumn("ccos", cosine_sim(col("e"), col("cente")))
        .groupBy("vec_id")
        .agg(max(struct(col("ccos"), (-col("cent_id")).as("negc"),
          col("e"))).as("best"))
        .select(col("vec_id"), col("best.e").as("e"),
          (-col("best.negc")).as("cluster"))
      // PQ codes against first-16 seed codebooks (8 subspaces × 8 dims)
      val subs = assigned
        .select(col("vec_id"), col("cluster"), posexplode(expr(
          "transform(sequence(0, 7), s -> slice(e, s*8+1, 8))")))
        .select(col("vec_id"), col("cluster"),
          col("pos").as("s"), col("col").as("sub"))
      val pcb = subs.filter(col("vec_id") < 16)
        .select(col("s"), col("vec_id").as("cent_id"), col("sub").as("csub"))
      val subD2 =
        graft.functions.VectorExpressions.l2_sq(col("sub"), col("csub"))
      val postingsPlan = subs.join(broadcast(pcb), Seq("s"))
        .withColumn("d2", subD2)
        .groupBy("vec_id", "cluster", "s")
        .agg(min(struct(col("d2"), col("cent_id"))).as("b"))
        .select(col("vec_id").as("cand_id"), col("cluster"),
          col("s"), col("b.cent_id").as("cid"))
      val ((postings, postRdd, _), encodeSec) =
        time(PlanBridge.cutLineage(postingsPlan))
      assigned.repartitionByRange(32, col("cluster"), col("vec_id"))
        .sortWithinPartitions(col("cluster"), col("vec_id"))
        .write.mode("overwrite").parquet(s"$zoneDir/bycell")
      val q = vecs.filter(col("vec_id") < nQ)
        .select(col("vec_id").as("q_id"), col("e").as("qe"))
      val byCent = Window.partitionBy("q_id")
        .orderBy(col("ccos").desc, col("cent_id"))
      val probed = q.crossJoin(broadcast(cents))
        .withColumn("ccos", cosine_sim(col("qe"), col("cente")))
        .withColumn("prn", row_number().over(byCent))
        .filter(col("prn") <= nprobe)
        .select(col("q_id"), col("cent_id").as("cluster"))
      val luts = q.select(col("q_id"), posexplode(expr(
          "transform(sequence(0, 7), s -> slice(qe, s*8+1, 8))")))
        .select(col("q_id"), col("pos").as("s"), col("col").as("sub"))
        .join(broadcast(pcb), Seq("s"))
        .withColumn("pd2", round(subD2, 6).cast("decimal(18,6)"))
        .select(col("q_id").as("lut_q"), col("s").as("lut_s"),
          col("cent_id").as("lut_cid"), col("pd2"))
      val adcPlan = postings
        .join(broadcast(probed), Seq("cluster"))
        .join(broadcast(luts),
          col("q_id") === col("lut_q") && col("s") === col("lut_s") &&
            col("cid") === col("lut_cid"))
        .filter(col("q_id") =!= col("cand_id"))
        .groupBy(col("q_id"), col("cand_id"))
        .agg(sum(col("pd2")).as("adc"))
      val ((adc, adcRdd, nAdc), adcSec) = time(PlanBridge.cutLineage(adcPlan))
      PlanBridge.releaseCut(postRdd)
      // fp64 truth: brute-force exact top-3 per query over the zone
      val l2 = graft.functions.VectorExpressions.l2_sq(col("qe"), col("ce"))
      val byL2 = Window.partitionBy("q_id").orderBy(col("d2").asc, col("cand_id"))
      val truthPlan = spark.read.parquet(s"$zoneDir/flat")
        .select(col("vec_id").as("cand_id"), col("e").as("ce"))
        .crossJoin(broadcast(q))
        .filter(col("q_id") =!= col("cand_id"))
        .withColumn("d2", l2)
        .withColumn("rn", row_number().over(byL2))
        .filter(col("rn") <= 3)
        .select(col("q_id"), col("cand_id"))
      val ((truth, truthRdd, nTruth), truthSec) =
        time(PlanBridge.cutLineage(truthPlan))
      val byAdc = Window.partitionBy("q_id").orderBy(col("adc").asc, col("cand_id"))
      def shortlistOf(r: Int) = adc
        .withColumn("arn", row_number().over(byAdc))
        .filter(col("arn") <= r)
        .select(col("q_id"), col("cand_id"))
      // drain through the rank + hit flag — the rank depends on the L2
      // fold, so Catalyst cannot prune the exact scoring out of the
      // timing (the r10 argmax lesson). Besides (scored, hits), report
      // the rows the ZONE SCAN actually emitted — wall time can't
      // separate layouts on a page-cache-resident 500 MB zone, but the
      // scan row count IS the 100 TB IO story (post row-group-skip,
      // pre-join), read off the executed plan's FileSourceScan metrics.
      def scanRowsOf(p: org.apache.spark.sql.execution.SparkPlan): Long =
        p match {
          case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
            scanRowsOf(a.executedPlan)
          case qs: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
            scanRowsOf(qs.plan)
          case s: org.apache.spark.sql.execution.FileSourceScanExec =>
            s.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
          case other => other.children.map(scanRowsOf).sum
        }
      def rerank(fetched: DataFrame): ((Long, Long), Long) = {
        val aggDf = fetched
          .withColumn("d2", l2)
          .withColumn("rn", row_number().over(byL2))
          .join(truth.withColumn("hit", lit(1)), Seq("q_id", "cand_id"), "left")
          .agg(count(lit(1)),
            sum(when(col("rn") <= 3 && col("hit").isNotNull, 1L)
              .otherwise(0L)))
        // collect(), NOT head: head() executes a DERIVED limit(1)
        // QueryExecution, leaving this one's plan unexecuted and every
        // metric zero (measured — the debug session that found it)
        val row = aggDf.collect()(0)
        ((row.getLong(0), row.getLong(1)),
          scanRowsOf(aggDf.queryExecution.executedPlan))
      }
      for (r <- Seq(10, 100, 1000)) {
        def waveFlat(): ((Long, Long), Long) = rerank(
          spark.read.parquet(s"$zoneDir/flat")
            .select(col("vec_id").as("cand_id"), col("e").as("ce"))
            .join(broadcast(shortlistOf(r)), Seq("cand_id"))
            .join(broadcast(q), Seq("q_id")))
        def waveSharded(): ((Long, Long), Long) = rerank(
          spark.read.parquet(s"$zoneDir/sharded")
            .select(col("shard"), col("vec_id").as("cand_id"), col("e").as("ce"))
            .join(broadcast(shortlistOf(r)
              .withColumn("shard", pmod(col("cand_id"), lit(nShards)))),
              Seq("shard", "cand_id"))
            .join(broadcast(q), Seq("q_id")))
        // the production fetch: the shortlist ids (R×queries rows —
        // driver-scale BY CONSTRUCTION) become a pushed-down IN filter
        // over the id-sorted zone, so parquet min/max row-group stats
        // skip everything the shortlist doesn't touch
        def waveSortedPushdown(): ((Long, Long), Long) = {
          val ids = shortlistOf(r).select("cand_id")
            .collect().map(_.getLong(0))
          rerank(
            spark.read.parquet(s"$zoneDir/sorted")
              .filter(col("vec_id").isin(ids: _*))
              .select(col("vec_id").as("cand_id"), col("e").as("ce"))
              .join(broadcast(shortlistOf(r)), Seq("cand_id"))
              .join(broadcast(q), Seq("q_id")))
        }
        // the cell-sorted fetch: filter to the probed CELLS (a bounded
        // driver list — nprobe×queries pairs), which the cluster-sorted
        // layout serves as a row-group range read of nprobe/k of the
        // zone; the id join then narrows within the cells
        def waveCellSorted(): ((Long, Long), Long) = {
          val cells = probed.select("cluster").distinct()
            .collect().map(_.getLong(0))
          rerank(
            spark.read.parquet(s"$zoneDir/bycell")
              .filter(col("cluster").isin(cells: _*))
              .select(col("vec_id").as("cand_id"), col("e").as("ce"))
              .join(broadcast(shortlistOf(r)), Seq("cand_id"))
              .join(broadcast(q), Seq("q_id")))
        }
        val flat = (1 to 2).map(_ => time(waveFlat())).minBy(_._2)
        val shard = (1 to 2).map(_ => time(waveSharded())).minBy(_._2)
        val sorted = (1 to 2).map(_ => time(waveSortedPushdown())).minBy(_._2)
        val bycell = (1 to 2).map(_ => time(waveCellSorted())).minBy(_._2)
        require(flat._1._1 == shard._1._1 && flat._1._1 == sorted._1._1 &&
            flat._1._1 == bycell._1._1,
          s"zone layouts disagree: ${flat._1._1} / ${shard._1._1} / " +
            s"${sorted._1._1} / ${bycell._1._1}")
        val (nScored, hits) = flat._1._1
        println(f"""{"probe":"rerank_fetch_wave","vectors":$n,"r":$r,""" +
          f""""adc_candidates":$nAdc,"scored":$nScored,"hits":$hits,""" +
          f""""truth":$nTruth,"encode_sec":$encodeSec%.1f,""" +
          f""""adc_sec":$adcSec%.1f,"truth_sec":$truthSec%.1f,""" +
          f""""flat_fetch_sec":${flat._2}%.1f,""" +
          f""""sharded_fetch_sec":${shard._2}%.1f,""" +
          f""""sorted_pushdown_fetch_sec":${sorted._2}%.1f,""" +
          f""""cell_sorted_fetch_sec":${bycell._2}%.1f,""" +
          f""""flat_scan_rows":${flat._1._2},""" +
          f""""sharded_scan_rows":${shard._1._2},""" +
          f""""sorted_pushdown_scan_rows":${sorted._1._2},""" +
          f""""cell_sorted_scan_rows":${bycell._1._2}}""")
      }
      PlanBridge.releaseCut(adcRdd)
      PlanBridge.releaseCut(truthRdd)
      graft.Fs.deleteRecursively(new java.io.File(zoneDir))
    }

    // the forget cascade's blast-radius claim, measured: re-adjudicating
    // ONLY the clusters a takedown touches vs rebuilding the labeling
    // from scratch, on 10⁶ nodes in 2·10⁵ five-node CHAIN clusters (the
    // shape where deletion both promotes and SPLITS). ~0.1% of nodes
    // deleted (ids ≡ 17 mod 997 — prime, so the in-chain position
    // varies: mid-chain splits, end deletions, canonical deletions all
    // occur). Both paths produce a FULL labeling of the survivors
    // (edgeless survivors label themselves) and must agree on count and
    // label checksum — result equality, not just speed.
    if (on("forget")) {
      // `big` scales the corpus ×10: the claim is a SLOPE (rebuild grows
      // with the corpus, the cascade with the blast radius), so it needs
      // two sizes on the same box to be honest
      val n = (if (args.contains("big")) 10000000L else 1000000L) / div
      val nodes = spark.range(n).select(col("id").as("node"))
      val edges = spark.range(n).filter(col("id") % 5 =!= 4)
        .select(col("id").as("a"), (col("id") + 1).as("b"))
      val del = nodes.filter(col("node") % 997 === 17)
      // the standing labeling a deployment keeps (min id per chain)
      val standing = nodes.select(col("node"),
        (col("node") - pmod(col("node"), lit(5))).as("component"))
      val survivors = nodes.join(del, Seq("node"), "left_anti")
      val retained = edges
        .join(del.select(col("node").as("a")), Seq("a"), "left_anti")
        .join(del.select(col("node").as("b")), Seq("b"), "left_anti")
      def checksum(lbl: DataFrame): (Long, Long) = {
        val r = lbl.agg(count(lit(1)), sum(col("component"))).head
        (r.getLong(0), r.getLong(1))
      }
      def rebuild(): (Long, Long) = {
        val (cc, h) = ConnectedComponents.componentsManaged(retained)
        val cs = checksum(survivors.join(cc, Seq("node"), "left")
          .select(col("node"),
            coalesce(col("component"), col("node")).as("component")))
        h.release(); cs
      }
      def incremental(): (Long, Long) = {
        val aff = standing.join(del, Seq("node"), "left_semi")
          .select("component").distinct()
        val affNodes = standing.join(broadcast(aff), Seq("component"))
          .select("node")
        val affEdges = retained
          .join(affNodes.select(col("node").as("a")), Seq("a"), "left_semi")
        val (sub, h) = ConnectedComponents.componentsManaged(affEdges)
        val affSurv = affNodes.join(del, Seq("node"), "left_anti")
        val merged = standing
          .join(broadcast(aff), Seq("component"), "left_anti")
          .unionByName(affSurv.join(sub, Seq("node"), "left")
            .select(col("node"),
              coalesce(col("component"), col("node")).as("component")))
        val cs = checksum(merged); h.release(); cs
      }
      val rb = (1 to 2).map(_ => time(rebuild())).minBy(_._2)
      val inc = (1 to 2).map(_ => time(incremental())).minBy(_._2)
      require(rb._1 == inc._1,
        s"cascade diverges from rebuild: ${rb._1} vs ${inc._1}")
      val nDel = del.count()
      println(f"""{"probe":"forget_cascade","nodes":$n,"deleted":$nDel,""" +
        f""""survivors":${rb._1._1},"label_checksum":${rb._1._2},""" +
        f""""rebuild_sec":${rb._2}%.1f,"incremental_sec":${inc._2}%.1f}""")
    }

    // claim 13 (round-12): the WHOLE IVF-PQ deployment chain at 10⁷ —
    // the flagship family's measured slope, composing everything the
    // sf-scale queries pin piecewise. Standing artifacts are built in 3
    // incremental waves (the `ivfPqIndexStream` cost model: each wave
    // pays O(batch·k) assignment + O(batch·16·8) encode against FROZEN
    // codebooks and APPENDS to the codes zone — never touching prior
    // generations), the cell-sorted fp64 vector zone is one amortized
    // layout rewrite, and then the PROBE-ONLY wave runs over ONLY the
    // standing artifacts: codes-zone ADC over the probed cells →
    // shortlist → cell-pruned fp64 fetch → exact re-rank. Build and
    // probe are priced separately (a deployment amortizes the build
    // across every query); the probe wave is A/B'd against the IN-QUERY
    // chain (sim_ann_ivfpq_rerank's shape: re-assign + re-encode inside
    // the query) with a REQUIRED result checksum — the standing path
    // must return bit-identical top-3 rows, not just comparable cost.
    if (on("annwave")) {
      import org.apache.spark.sql.expressions.Window
      import graft.functions.VectorExpressions.cosine_sim
      val n = (if (args.contains("small")) 1000000L else 10000000L)
      val k = 64; val nprobe = 2; val nQ = 30; val rShort = 10
      val vecs = spark.range(n).select(
        col("id").as("vec_id"),
        transform(sequence(lit(0), lit(63)),
          j => ((pmod(xxhash64(col("id") * 64 + j), lit(2000L)) - 1000L)
            .cast("double") / 1000.0)).as("e"))
      val cents = vecs.filter(col("vec_id") < k)
        .select(col("vec_id").as("cent_id"), col("e").as("cente"))
      def assignTo(vs: DataFrame): DataFrame =
        vs.crossJoin(broadcast(cents))
          .withColumn("ccos", cosine_sim(col("e"), col("cente")))
          .groupBy("vec_id")
          .agg(max(struct(col("ccos"), (-col("cent_id")).as("negc"),
            col("e"))).as("best"))
          .select(col("vec_id"), col("best.e").as("e"),
            (-col("best.negc")).as("cluster"))
      def subsOf(assigned: DataFrame): DataFrame = assigned
        .select(col("vec_id"), col("cluster"), posexplode(expr(
          "transform(sequence(0, 7), s -> slice(e, s*8+1, 8))")))
        .select(col("vec_id"), col("cluster"),
          col("pos").as("s"), col("col").as("sub"))
      // frozen PQ codebooks: the first-16 seed vectors' subspaces —
      // bounded, computed once, identical for every wave and both paths
      val pcb = subsOf(assignTo(vecs.filter(col("vec_id") < 16)))
        .select(col("s"), col("vec_id").as("cent_id"), col("sub").as("csub"))
        .persist()
      pcb.count()
      val subD2 =
        graft.functions.VectorExpressions.l2_sq(col("sub"), col("csub"))
      def codesOf(assigned: DataFrame): DataFrame =
        subsOf(assigned).join(broadcast(pcb), Seq("s"))
          .withColumn("d2", subD2)
          .groupBy("vec_id", "cluster", "s")
          .agg(min(struct(col("d2"), col("cent_id"))).as("b"))
          .select(col("vec_id").as("cand_id"), col("cluster"),
            col("s"), col("b.cent_id").as("cid"))
      val dir = java.nio.file.Files
        .createTempDirectory("graft-probe-annwave").toString
      // BUILD: 3 incremental waves — per wave, assign + encode ONLY the
      // arriving third and append; prior generations untouched (the
      // stream's per-batch cost, measured per batch at this n)
      val buildSecs = (0 until 3).map { b =>
        val batch = vecs.filter(pmod(col("vec_id"), lit(3)) === b)
        val (_, sec) = time {
          val assigned = assignTo(batch)
          assigned.select("vec_id", "cluster", "e")
            .write.mode("append").parquet(s"$dir/vstage")
          // cluster-clustered within the generation, as the stream
          // writes it — the layout the probe's pushed cells filter
          // skips row groups against
          codesOf(assigned)
            .repartitionByRange(col("cluster"), col("cand_id"))
            .sortWithinPartitions("cluster", "cand_id")
            .write.mode("append").parquet(s"$dir/codes")
        }
        sec
      }
      // the amortized layout rewrite: the cell-keyed, (cluster, vec_id)-
      // sorted fp64 vector zone (the rerank probe's winning layout)
      val (_, zoneSec) = time {
        spark.read.parquet(s"$dir/vstage")
          .repartitionByRange(32, col("cluster"), col("vec_id"))
          .sortWithinPartitions("cluster", "vec_id")
          .write.mode("overwrite").parquet(s"$dir/bycell")
      }
      // the probe side (queries + their LUTs + probed cells) is shared
      // verbatim by both paths — the A/B isolates the corpus-side work
      val q = vecs.filter(col("vec_id") < nQ)
        .select(col("vec_id").as("q_id"), col("e").as("qe"))
      val byCent = Window.partitionBy("q_id")
        .orderBy(col("ccos").desc, col("cent_id"))
      val probed = q.crossJoin(broadcast(cents))
        .withColumn("ccos", cosine_sim(col("qe"), col("cente")))
        .withColumn("prn", row_number().over(byCent))
        .filter(col("prn") <= nprobe)
        .select(col("q_id"), col("cent_id").as("cluster"))
      val luts = q.select(col("q_id"), posexplode(expr(
          "transform(sequence(0, 7), s -> slice(qe, s*8+1, 8))")))
        .select(col("q_id"), col("pos").as("s"), col("col").as("sub"))
        .join(broadcast(pcb), Seq("s"))
        .withColumn("pd2", round(subD2, 6).cast("decimal(18,6)"))
        .select(col("q_id").as("lut_q"), col("s").as("lut_s"),
          col("cent_id").as("lut_cid"), col("pd2"))
      val l2 = graft.functions.VectorExpressions.l2_sq(col("qe"), col("ce"))
      val byL2 = Window.partitionBy("q_id").orderBy(col("d2").asc, col("cand_id"))
      val byAdc = Window.partitionBy("q_id").orderBy(col("adc").asc, col("cand_id"))
      def waveOver(postings: DataFrame, zone: DataFrame): (Long, Long) = {
        val adc = postings
          .join(broadcast(probed), Seq("cluster"))
          .join(broadcast(luts),
            col("q_id") === col("lut_q") && col("s") === col("lut_s") &&
              col("cid") === col("lut_cid"))
          .filter(col("q_id") =!= col("cand_id"))
          .groupBy(col("q_id"), col("cand_id"))
          .agg(sum(col("pd2")).as("adc"))
        val shortlist = adc.withColumn("arn", row_number().over(byAdc))
          .filter(col("arn") <= rShort)
          .select(col("q_id"), col("cand_id"))
        val top3 = zone
          .select(col("vec_id").as("cand_id"), col("e").as("ce"))
          .join(broadcast(shortlist), Seq("cand_id"))
          .join(broadcast(q), Seq("q_id"))
          .withColumn("d2", l2)
          .withColumn("rn", row_number().over(byL2))
          .filter(col("rn") <= 3)
        // drain through a checksum that references q_id, cand_id AND the
        // exact rank, so neither the fetch nor the scoring prunes away
        val row = top3.agg(count(lit(1)),
          sum(col("q_id") * 1000000 + col("cand_id") * col("rn"))).head
        (row.getLong(0), row.getLong(1))
      }
      // PROBE-ONLY wave: every corpus-side input is a standing artifact —
      // the codes zone scan + the cell-pruned vector zone fetch
      def waveStanding(): (Long, Long) = {
        val cells = probed.select("cluster").distinct()
          .collect().map(_.getLong(0))
        // BOTH standing scans prune to the probed cells via a pushed
        // In(cluster, …) — the fix this probe's first run motivated:
        // unpruned, the codes scan alone made the probe-only wave
        // SLOWER than the in-query chain at 10⁶
        waveOver(
          spark.read.parquet(s"$dir/codes")
            .filter(col("cluster").isin(cells: _*))
            .select("cluster", "cand_id", "s", "cid"),
          spark.read.parquet(s"$dir/bycell")
            .filter(col("cluster").isin(cells: _*)))
      }
      // IN-QUERY wave: the same chain but re-assigning and re-encoding
      // the corpus inside the query — what a deployment WITHOUT standing
      // artifacts pays per probe batch
      def waveInQuery(): (Long, Long) = {
        val assigned = assignTo(vecs)
        waveOver(codesOf(assigned), assigned)
      }
      val standing = (1 to 2).map(_ => time(waveStanding())).minBy(_._2)
      val inQuery = (1 to 2).map(_ => time(waveInQuery())).minBy(_._2)
      require(standing._1 == inQuery._1,
        s"standing-artifact wave diverges from the in-query chain: " +
          s"${standing._1} vs ${inQuery._1}")
      pcb.unpersist(blocking = false)
      println(f"""{"probe":"ann_wave","vectors":$n,"k":$k,"nprobe":$nprobe,""" +
        f""""queries":$nQ,"rerank_r":$rShort,""" +
        f""""build_batch_secs":[${buildSecs.map(s => f"$s%.1f").mkString(",")}],""" +
        f""""zone_layout_sec":$zoneSec%.1f,""" +
        f""""probe_only_wave_sec":${standing._2}%.1f,""" +
        f""""in_query_wave_sec":${inQuery._2}%.1f,""" +
        f""""top3_rows":${standing._1._1},"checksum":${standing._1._2}}""")
      graft.Fs.deleteRecursively(new java.io.File(dir))
    }
    // claim (r13): the unigram model's word→np encode map must stay
    // DISTRIBUTED. The r12 form collected it per-word-TYPE to the driver
    // (Unigram.trainOver's collect) and re-broadcast it as a local
    // relation in every encode query; the refactor persists it as a
    // standing parquet generation and joins it distributively. This
    // probe prices BOTH shapes on the same synthetic model at 10⁶/10⁷
    // word types (the real 100 TB vocabulary scale) against a corpus-
    // words frame, checksum-equal — the result-invariance proof the
    // refactor ships with, at the scale sf0.1 cannot reach.
    if (on("unigramzone")) {
    for (nTypes <- Seq(1000000L / div, 10000000L / div)) {
      val dir = new java.io.File(
        sys.props("java.io.tmpdir"), s"graft_probe_unigram_$nTypes")
      graft.Fs.deleteRecursively(dir)
      def wOf(id: org.apache.spark.sql.Column) = translate(
        substring(md5(id.cast("string")), 1, 12), "0123456789", "ghijklmnop")
      // deterministic trained-model stand-in: 12-char letter word types,
      // np in 1..4 (the segmentation arity range at MaxPieceLen = 4)
      val model = spark.range(nTypes).select(
        wOf(col("id")).as("w"),
        (pmod(xxhash64(col("id") * 13 + 5), lit(4)) + 1).as("np"))
      // corpus-words side: 4 occurrences per type across 10⁶ docs — the
      // shape every encode query joins the model against
      val rep = 4L
      val docWords = spark.range(nTypes * rep).select(
        pmod(xxhash64(col("id") * 7 + 3), lit(1000000L)).as("doc_id"),
        wOf(col("id") % nTypes).as("w"))
      def encodeOver(np: DataFrame): (Long, Long) = {
        val enc = docWords.join(np, "w")
          .groupBy("doc_id").agg(sum(col("np")).as("toks"))
        // drain through a checksum referencing BOTH computed columns so
        // neither the join nor the agg prunes out of the timing
        val row = enc.agg(count(lit(1)),
          sum(col("doc_id") * 7 + col("toks"))).collect()(0)
        (row.getLong(0), row.getLong(1))
      }
      // NEW shape: standing parquet generation, distributed join (the
      // planner picks broadcast vs shuffle by the artifact's real size)
      val (genPath, installSec) = time(graft.Fs.writeParquetAtomic(
        model, new java.io.File(dir, "wordnp_gen1").toPath))
      val artifact = (1 to 2)
        .map(_ => time(encodeOver(spark.read.parquet(genPath)))).minBy(_._2)
      // OLD (r12) shape: collect the word-type table to the driver, then
      // broadcast it back as a local relation per encode
      val (local, collectSec) = time(
        model.collect().map(r => (r.getString(0), r.getLong(1))).toSeq)
      val bcast = (1 to 2).map { _ =>
        time {
          import spark.implicits._
          encodeOver(broadcast(local.toDF("w", "np")))
        }
      }.minBy(_._2)
      require(artifact._1 == bcast._1,
        s"artifact-join encode diverges from the collect+broadcast " +
          s"shape: ${artifact._1} vs ${bcast._1}")
      println(f"""{"probe":"unigram_zone","word_types":$nTypes,""" +
        f""""corpus_words":${nTypes * rep},""" +
        f""""artifact_install_sec":$installSec%.1f,""" +
        f""""artifact_encode_sec":${artifact._2}%.1f,""" +
        f""""driver_collect_sec":$collectSec%.1f,""" +
        f""""broadcast_encode_sec":${bcast._2}%.1f,""" +
        f""""enc_docs":${artifact._1._1},"checksum":${artifact._1._2}}""")
      graft.Fs.deleteRecursively(dir)
    }
    }
    // claim (r13): refreshing the unigram model folds the batch into the
    // STANDING word-count generation (the trainer's sufficient
    // statistic) instead of re-counting the corpus. Price both at 10⁷
    // word types: fold = O(zone + batch) merge; rebuild = the
    // corpus-scale re-count it replaces (4×10⁷ occurrence rows here; at
    // 100 TB that side is the whole corpus, the fold side is unchanged).
    // Checksum equality REQUIRED — the fold must be exact, not close.
    if (on("unigramfold")) {
    locally {
      val nTypes = 10000000L / div
      val dir = new java.io.File(
        sys.props("java.io.tmpdir"), s"graft_probe_unifold_$nTypes")
      graft.Fs.deleteRecursively(dir)
      def wOf(id: org.apache.spark.sql.Column) = translate(
        substring(md5(id.cast("string")), 1, 12), "0123456789", "ghijklmnop")
      val rep = 4L
      // the corpus the statistic summarizes (only the REBUILD path scans it)
      val corpusWords = spark.range(nTypes * rep)
        .select(wOf(col("id") % nTypes).as("w"))
      // standing statistic zone (what the FOLD path reads instead)
      val zonePath = graft.Fs.writeParquetAtomic(
        corpusWords.groupBy("w").agg(count(lit(1)).as("cw")),
        new java.io.File(dir, "wordcounts_gen1").toPath)
      // batch: 10⁶ occurrences — half existing types, half new words
      val batchWords = spark.range(1000000L / div).select(
        when(col("id") % 2 === 0, wOf(col("id") % nTypes))
          .otherwise(concat(lit("zz"), wOf(col("id")))).as("w"))
      def checksumOf(counts: DataFrame): (Long, Long) = {
        // bounded per-row product: raw xxhash64 * cw overflows ANSI longs
        val row = counts.agg(count(lit(1)),
          sum(pmod(xxhash64(col("w")), lit(1000003L)) * col("cw"))).collect()(0)
        (row.getLong(0), row.getLong(1))
      }
      def fold(): (Long, Long) = checksumOf(
        spark.read.parquet(zonePath)
          .unionAll(batchWords.groupBy("w").agg(count(lit(1)).as("cw")))
          .groupBy("w").agg(sum(col("cw")).as("cw")))
      def rebuild(): (Long, Long) = checksumOf(
        corpusWords.select("w").unionAll(batchWords)
          .groupBy("w").agg(count(lit(1)).as("cw")))
      val f = (1 to 2).map(_ => time(fold())).minBy(_._2)
      val r = (1 to 2).map(_ => time(rebuild())).minBy(_._2)
      require(f._1 == r._1,
        s"statistic fold diverges from the corpus re-count: ${f._1} vs ${r._1}")
      println(f"""{"probe":"unigram_fold","word_types":$nTypes,""" +
        f""""corpus_words":${nTypes * rep},"batch_words":${1000000L / div},""" +
        f""""fold_sec":${f._2}%.1f,"rebuild_sec":${r._2}%.1f,""" +
        f""""types_after":${f._1._1},"checksum":${f._1._2}}""")
      graft.Fs.deleteRecursively(dir)
    }
    }

    // claim (r13): the script tier is a pure map stage — per-row
    // translate/regex expression work + one script-sized groupBy — so
    // its cost is a scan-rate, not a shuffle. Price the coverage report
    // at 10⁶ docs (4 planted script classes, ~100-char docs) and report
    // docs/sec; no driver state, no corpus-sized shuffle to regress.
    if (on("script")) {
    locally {
      val n = 1000000L / div
      val docs = spark.range(n).select(
        col("id").as("doc_id"),
        concat_ws(" ", (1 to 12).map(j =>
          substring(md5(concat(col("id").cast("string"), lit(s"-$j"))), 1, 8)): _*).as("text"))
      def coverageOver(d: DataFrame): Seq[String] = {
        import graft.llm.Script
        val planted = d.select(col("doc_id"), Script.plantedCol.as("t"))
        planted.select(
            Script.scriptOf(col("t")).as("script"),
            Script.latinPipeTokens(col("t")).cast("long").as("lt"),
            Script.awareTokens(col("t")).cast("long").as("at"))
          .groupBy("script")
          .agg(count(lit(1)).as("n"), sum("lt").as("lt"), sum("at").as("at"))
          .orderBy("script")
          .collect().map(_.mkString(":")).toSeq
      }
      val runs = (1 to 2).map(_ => time(coverageOver(docs)))
      val best = runs.minBy(_._2)
      println(f"""{"probe":"script_coverage","docs":$n,""" +
        f""""coverage_sec":${best._2}%.1f,""" +
        f""""docs_per_sec":${(n / best._2).toLong},""" +
        f""""classes":${best._1.size}}""")
    }
    }
    spark.stop()
  }
}
