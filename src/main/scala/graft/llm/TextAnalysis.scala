package graft.llm

import graft.{QueryModule, Tables}
import graft.functions.Hashing
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-analysis operators for a training-data pipeline (SURVEY §2.10 U4 +
  * north-star EXT tier): token statistics, language ID, quality scoring,
  * token counting, document fingerprinting. Everything is per-row expression
  * work — builtins and higher-order functions only, so the whole tier is a
  * map stage over the corpus: embarrassingly parallel, no shuffle, safe at
  * any scale.
  */
object TextAnalysis extends QueryModule {

  /** Conservative tokenizer both engines implement identically. */
  private def words(c: Column): Column = split(c, " ")

  val Stopwords: Seq[String] = Seq("the", "a", "of", "and", "to", "in", "is")

  /** Per-language marker words for the n-gram/stopword language heuristic.
    * Tie-break is the fixed order below (first wins).
    */
  val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and"),
    "de" -> Seq("der", "die", "das", "und"),
    "fr" -> Seq("le", "la", "les", "et"),
    "es" -> Seq("el", "los", "una", "y"),
    "zh" -> Seq("的", "是"),
  )

  // ------------------------------------------------------------------ stats

  def textStats(spark: SparkSession, sfDir: String): DataFrame = {
    val w = words(col("text"))
    Tables.documents(spark, sfDir)
      .select(
        col("doc_id"),
        size(w).as("n_words"),
        size(array_distinct(w)).as("n_uniq"),
        round(size(array_distinct(w)).cast("double") / size(w), 6).as("uniq_ratio"),
        round(aggregate(w, lit(0), (acc, x) => acc + length(x)).cast("double") / size(w), 6).as("mean_wlen"),
        round(size(filter(w, x => x.isin(Stopwords.map(s => s: Any): _*))).cast("double") / size(w), 6).as("stop_ratio"))
      .orderBy("doc_id")
  }

  // ---------------------------------------------------------------- lang id

  /** Stopword-marker language ID: count marker hits per language, argmax
    * with a fixed priority order, 'und' (undetermined) when no marker hits.
    */
  def langId(spark: SparkSession, sfDir: String): DataFrame = {
    val w = words(col("text"))
    val scoreCols = LangMarkers.map { case (lang, markers) =>
      size(filter(w, x => x.isin(markers.map(s => s: Any): _*))).as(s"score_$lang")
    }
    val scored = Tables.documents(spark, sfDir)
      .select((col("doc_id") +: col("lang").as("label_lang") +: scoreCols): _*)
    // argmax with fixed tie-break order = chained "is this lang >= all later,
    // > all earlier" comparisons; simplest deterministic form: fold a CASE.
    val langs = LangMarkers.map(_._1)
    val best = langs.foldRight(lit("und")) { (lang, elseExpr) =>
      val c = col(s"score_$lang")
      val beatsAll = langs.filter(_ != lang).map { other =>
        val o = col(s"score_$other")
        if (langs.indexOf(other) < langs.indexOf(lang)) c > o else c >= o
      }.reduce(_ && _)
      when(c > 0 && beatsAll, lit(lang)).otherwise(elseExpr)
    }
    scored
      .withColumn("pred_lang", best)
      .select("doc_id", "label_lang", "pred_lang")
      .orderBy("doc_id")
  }

  /** Classifier-evaluation rollup: confusion matrix of the lang-id
    * heuristic against the corpus labels (the accuracy report a pipeline
    * emits before trusting a filter). Rides `langId` with one extra tiny
    * groupBy — the matrix is |langs|² rows at any corpus size.
    */
  def langConfusion(spark: SparkSession, sfDir: String): DataFrame =
    langId(spark, sfDir)
      .groupBy("label_lang", "pred_lang")
      .agg(count(lit(1)).as("n"))
      .orderBy("label_lang", "pred_lang")

  // ---------------------------------------------------------------- quality

  /** The composite-score pieces, shared with Curation (same expression tree
    * there = same values, and Catalyst dedups the common subtrees).
    */
  def lenScoreOf(text: Column): Column =
    least(length(text).cast("double") / 400.0, lit(1.0))
  def uniqRatioOf(text: Column): Column = {
    val w = split(text, " ")
    size(array_distinct(w)).cast("double") / size(w)
  }
  def stopRatioOf(text: Column): Column = {
    val w = split(text, " ")
    size(filter(w, x => x.isin(Stopwords.map(s => s: Any): _*))).cast("double") / size(w)
  }
  def qualityScoreOf(text: Column): Column =
    round(lenScoreOf(text) * 0.5 + uniqRatioOf(text) * 0.3 + stopRatioOf(text) * 0.2, 6)

  /** Composite quality score: length saturation, lexical diversity,
    * stopword presence. Weights fixed; `keep` is the filter decision a
    * pipeline would act on.
    */
  def quality(spark: SparkSession, sfDir: String): DataFrame = {
    val lenScore = lenScoreOf(col("text"))
    val uniqRatio = uniqRatioOf(col("text"))
    val stopRatio = stopRatioOf(col("text"))
    val score = qualityScoreOf(col("text"))
    Tables.documents(spark, sfDir)
      .select(
        col("doc_id"),
        round(lenScore, 6).as("len_score"),
        round(uniqRatio, 6).as("uniq_ratio"),
        round(stopRatio, 6).as("stop_ratio"),
        score.as("score"),
        (score >= 0.5).as("keep"))
      .orderBy("doc_id")
  }

  // ------------------------------------------------------------ token count

  /** Whitespace tokens vs BPE-ish regex tokens (word runs + single
    * non-word-non-space chars — the classic pre-tokenizer split).
    */
  def tokenCount(spark: SparkSession, sfDir: String): DataFrame = {
    Tables.documents(spark, sfDir)
      .select(
        col("doc_id"),
        size(words(col("text"))).as("n_ws"),
        regexp_count(col("text"), lit("[A-Za-z0-9]+|[^A-Za-z0-9 ]")).as("n_tok"),
        length(col("text")).as("n_chars_calc"),
        col("n_chars"))
      .orderBy("doc_id")
  }

  // ------------------------------------------------------------ fingerprint

  /** Document fingerprint: min/max 60-bit hash over word 5-grams (the
    * winnowing building block). Same md5-derived hash in the oracle.
    */
  def fingerprint(spark: SparkSession, sfDir: String): DataFrame = {
    Tables.documents(spark, sfDir)
      // 5-grams exist only for docs with ≥5 words (corpus minimum is 10);
      // fused native hasher == the md5/conv builtin pipeline (NgramHashSpec)
      .withColumn("hashes",
        graft.functions.VectorExpressions.word_ngram_hashes(col("text"), 5, distinct = false))
      .select(
        col("doc_id"),
        array_min(col("hashes")).as("fp_min"),
        array_max(col("hashes")).as("fp_max"),
        size(col("hashes")).as("n_grams"))
      .orderBy("doc_id")
  }

  // ------------------------------------------------------------- repetition
  /** Intra-document repetition score (the Gopher-style repetition filter):
    * fraction of word 3-grams that are repeats of an earlier gram in the
    * same doc. Pure per-row array math — map-stage only.
    */
  def repetition(spark: SparkSession, sfDir: String): DataFrame = {
    Tables.documents(spark, sfDir)
      .withColumn("w", words(col("text")))
      .withColumn("grams",
        expr("transform(sequence(1, greatest(size(w) - 2, 1)), i -> concat_ws(' ', slice(w, i, 3)))"))
      .select(
        col("doc_id"),
        size(col("grams")).as("n_grams"),
        size(array_distinct(col("grams"))).as("n_uniq_grams"),
        round(lit(1.0) - size(array_distinct(col("grams"))).cast("double") / size(col("grams")), 6)
          .as("rep_ratio"))
      .orderBy("doc_id")
  }

  // ---------------------------------------------------------------- entropy
  /** Per-document word-distribution Shannon entropy (nats) — the classic
    * gibberish/boilerplate quality signal (low entropy = repetitive
    * template, high = diverse text). Pure per-row array math: the distinct
    * words are SORTED before the fold so both engines accumulate the
    * (irrational) per-word terms in the identical sequential order, then
    * round once at the end. Map-stage only — no shuffle at any scale.
    */
  def entropy(spark: SparkSession, sfDir: String): DataFrame = {
    Tables.documents(spark, sfDir)
      .withColumn("w", words(col("text")))
      .withColumn("n", size(col("w")).cast("double"))
      .withColumn("ent",
        expr("""aggregate(
          |  sort_array(array_distinct(w)), cast(0.0 as double),
          |  (acc, u) -> acc - (size(filter(w, x -> x = u)) / n)
          |                  * ln(size(filter(w, x -> x = u)) / n))""".stripMargin))
      .select(
        col("doc_id"),
        col("n").cast("int").as("n_words"),
        size(array_distinct(col("w"))).as("n_uniq"),
        round(col("ent"), 6).as("entropy"))
      .orderBy("doc_id")
  }

  // -------------------------------------------------------------- pii scrub
  /** PII redaction pass (the compliance step every training-data pipeline
    * runs before anything else). The corpus is synthetic, so deterministic
    * PII is planted per row (an email, a phone, an IP derived from
    * doc_id/source), then scrubbed by regex class — email → phone → IP, in
    * that fixed order. Counting happens pre-scrub. Patterns avoid lookaround
    * and word boundaries so Java (Spark) and RE2 (DuckDB) agree exactly.
    * Pure per-row regex work: map-stage only, no shuffle at any scale.
    */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val PhoneRe = "555-[0-9]{4}"
  val IpRe    = "[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}"

  def piiScrub(spark: SparkSession, sfDir: String): DataFrame = {
    val planted = concat(
      col("text"),
      lit(" contact user"), col("doc_id").cast("string"),
      lit("@"), col("source"), lit(".org call 555-"),
      lpad(pmod(col("doc_id"), lit(10000)).cast("string"), 4, "0"),
      lit(" ip 10.0."), pmod(col("doc_id"), lit(256)).cast("string"), lit(".17"))
    Tables.documents(spark, sfDir)
      .withColumn("planted", planted)
      .select(
        col("doc_id"),
        regexp_count(col("planted"), lit(EmailRe)).as("n_emails"),
        regexp_count(col("planted"), lit(PhoneRe)).as("n_phones"),
        regexp_count(col("planted"), lit(IpRe)).as("n_ips"),
        regexp_replace(
          regexp_replace(
            regexp_replace(col("planted"), EmailRe, "<EMAIL>"),
            PhoneRe, "<PHONE>"),
          IpRe, "<IP>").as("scrubbed"))
      .orderBy("doc_id")
  }

  // ----------------------------------------------------------- shared spans
  /** Inter-document repeated spans: 8-gram fingerprints that occur in more
    * than one document mark boilerplate/templated spans (the cross-doc
    * complement of `text_repetition`'s intra-doc score, and the
    * intra-corpus form of `decontaminate`). Per doc: how many of its grams
    * are shared with any other doc, as a removal-decision ratio. Shape:
    * explode grams → two groupBys (gram-level doc-frequency, then per-doc
    * rollup) — both map-side-combined shuffles on compact longs; at
    * 100 TB the gram→df table is the big intermediate and stays
    * partitioned by gram hash throughout.
    */
  def sharedSpans(spark: SparkSession, sfDir: String): DataFrame = {
    val grams = Tables.documents(spark, sfDir)
      .select(col("doc_id"),
        explode(graft.functions.VectorExpressions
          .word_ngram_hashes(col("text"), 8, distinct = true)).as("g"))
      // distinct=true already dedups within a doc (one vote per (doc, gram))
    val docFreq = grams.groupBy("g")
      .agg(countDistinct(col("doc_id")).as("df"))
    grams.join(docFreq, "g")
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_grams"),
        sum(when(col("df") >= 2, 1).otherwise(0)).cast("long").as("n_shared"),
        round(sum(when(col("df") >= 2, 1.0).otherwise(0.0)) / count(lit(1)), 6).as("shared_ratio"))
      .orderBy("doc_id")
  }

  /** Per-source boilerplate detection — the web-corpus curation step that
    * strips navigation chrome, license footers, and template text: a
    * 5-gram is boilerplate when it recurs in ≥ 3 DISTINCT documents of the
    * SAME source (cross-source repeats are legitimate shared language and
    * are deliberately not flagged — that is [[sharedSpans]]' corpus-wide
    * view). Output is per document: total 5-gram occurrences, boilerplate
    * occurrences, and the integer-ppm boilerplate ratio a downstream
    * filter thresholds on.
    *
    * Scale shape: one fused-codegen n-gram pass
    * ([[graft.functions.VectorExpressions.word_ngram_hashes]]), a
    * (source, gram) groupBy whose partial aggregation collapses per-doc
    * repeats map-side, and one shuffle join back on (source, gram) —
    * identical topology to the TF-IDF pipeline, no all-pairs anything.
    * The df threshold is an absolute document count (CCNet-style), so at
    * 100 TB the flagged set grows only with genuinely repeated template
    * mass, not with corpus size.
    */
  def boilerplate(spark: SparkSession, sfDir: String): DataFrame = {
    val grams = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("source"),
        explode(graft.functions.VectorExpressions
          .word_ngram_hashes(col("text"), 5, distinct = false)).as("g"))
    val docFreq = grams.groupBy("source", "g")
      .agg(countDistinct(col("doc_id")).as("df"))
    grams.join(docFreq, Seq("source", "g"))
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_grams"),
        sum(when(col("df") >= 3, 1).otherwise(0)).cast("long").as("n_boiler"))
      .withColumn("boiler_ppm", expr("n_boiler * 1000000 div n_grams"))
      .orderBy("doc_id")
  }

  // --------------------------------------------------------------- tokenize
  /** Vocab-encode: the text→token-ids step of a training pipeline. The
    * dictionary is the top-`VocabSize` corpus words by frequency (ties
    * lexicographic), id = rank; documents are exploded to positioned
    * tokens, joined to the BROADCAST dictionary, and re-aggregated to a
    * per-doc profile (token/OOV counts + a position-weighted id checksum,
    * which pins every id at every position without an array output column).
    * Scale notes: the dictionary build takes the top-`VocabSize` rows with
    * a global orderBy+limit (TakeOrdered — per-partition top-k then a
    * driver merge of k·partitions, never a single-task sort of the whole
    * vocabulary, which is corpus-shaped at web scale); only the LIMITED
    * k-row dictionary goes through the rank window (the boundedPartition
    * idiom marks that bound). Encoding is a map-side broadcast join — the
    * corpus is never shuffled.
    */
  val VocabSize = 1000

  def tokenizeIds(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    val byFreq = org.apache.spark.sql.expressions.Window
      .partitionBy(graft.operators.BlockedRank.boundedPartition(col("word")))
      .orderBy(col("cnt").desc, col("word"))
    val vocab = docs
      .select(explode(words(col("text"))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("word")).limit(VocabSize)
      .withColumn("vid", row_number().over(byFreq))
      .select("word", "vid")
    docs
      .select(col("doc_id"), posexplode(words(col("text"))).as(Seq("pos", "word")))
      .join(broadcast(vocab), Seq("word"), "left")
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_tokens"),
        sum(when(col("vid").isNull, 1).otherwise(0)).cast("long").as("n_oov"),
        sum((col("pos") + 1) * coalesce(col("vid"), lit(0))).cast("long").as("checksum"))
      .orderBy("doc_id")
  }

  // --------------------------------------------------------------- chunking
  /** Context-window chunking: split each document into fixed-size word
    * windows with overlap (size 64, stride 48 — the overlap preserves
    * cross-boundary context exactly like training-corpus packing does).
    * Chunk count, slicing, and the per-chunk fingerprint are all pure
    * per-row array math — a generator stage with no shuffle; downstream
    * ops treat chunks as documents.
    */
  val ChunkSize = 64
  val ChunkStride = 48

  def chunk(spark: SparkSession, sfDir: String): DataFrame = {
    Tables.documents(spark, sfDir)
      .withColumn("w", words(col("text")))
      .withColumn("nchunks",
        expr(s"(greatest(size(w) - $ChunkSize, 0) + $ChunkStride - 1) div $ChunkStride + 1"))
      .select(col("doc_id"),
        posexplode(expr(
          s"transform(sequence(0, nchunks - 1), k -> slice(w, k * $ChunkStride + 1, $ChunkSize))"))
          .as(Seq("chunk_idx", "chunk")))
      .select(
        col("doc_id"),
        col("chunk_idx"),
        size(col("chunk")).as("n_words"),
        Hashing.hash60(concat_ws(" ", col("chunk"))).as("fp"))
      .orderBy("doc_id", "chunk_idx")
  }

  // ------------------------------------------------------------------ vocab
  /** Corpus vocabulary: top-10 words per language by frequency (tie-break
    * lexicographic). explode → partial-agg groupBy → LOSSLESS two-phase
    * per-lang top-k ([[graft.operators.BlockedRank.saltedTopK]]): the
    * shuffle carries (lang, word, partial count), never raw text,
    * map-side combine collapses the heavy hitters before the exchange,
    * and no task ever sorts a whole language's vocabulary — the naive
    * per-lang window would put each language's (corpus-sized at 100 TB)
    * vocabulary on one task.
    */
  def vocabTopk(spark: SparkSession, sfDir: String): DataFrame = {
    graft.operators.BlockedRank.saltedTopK(
        Tables.documents(spark, sfDir)
          .select(col("lang"), explode(words(col("text"))).as("word"))
          .groupBy("lang", "word")
          .agg(count(lit(1)).as("cnt")),
        groups = Seq("lang"),
        order = Seq(col("cnt").desc, col("word")),
        salt = Hashing.hash60(col("word")),
        k = 10, outRank = "rn")
      .select("lang", "rn", "word", "cnt")
      .orderBy("lang", "rn")
  }

  // ------------------------------------------------------------- unigram LM
  /** Corpus-unigram-LM document scoring — the CCNet/Gopher-style perplexity
    * proxy: score each document by the mean negative log-probability of its
    * tokens under the corpus's own unigram distribution (templated/spammy
    * docs full of ultra-common tokens score low, rare-token gibberish
    * scores high; both tails get filtered). Shape at scale: one vocab
    * groupBy (map-side combinable), a 1-row total broadcast, one
    * token→logprob equi-join (broadcast while the vocab fits, plain
    * shuffle join past that), one doc-level groupBy. Cross-engine
    * exactness: each per-token ln is rounded onto the 6dp decimal grid
    * BEFORE the per-doc sum, so the sum is order-independent — the one
    * float op both engines must agree on is ln itself on identical
    * doubles (the same contract text_entropy already pins).
    */
  private def lmScores(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    val toks = docs.select(col("doc_id"), col("lang"),
      explode(words(col("text"))).as("w"))
    val vocab = toks.groupBy("w").agg(count(lit(1)).as("cnt"))
    val total = toks.agg(count(lit(1)).cast("double").as("tot"))
    val logp = vocab.crossJoin(broadcast(total))
      .select(col("w"),
        round(log(col("cnt") / col("tot")), 6).cast("decimal(12,6)").as("logp"))
    toks.join(logp, "w")
      .groupBy("doc_id", "lang")
      .agg(
        count(lit(1)).as("n_tokens"),
        sum(col("logp")).as("slp"))
      .select(col("doc_id"), col("lang"), col("n_tokens"),
        round(-col("slp").cast("double") / col("n_tokens"), 6).as("nll"))
  }

  def unigramLm(spark: SparkSession, sfDir: String): DataFrame =
    lmScores(spark, sfDir).select("doc_id", "n_tokens", "nll").orderBy("doc_id")

  /** Bigram LM with add-one smoothing — one order deeper than the unigram
    * scorer: P(w|v) = (c(v,w)+1)/(c(v)+|V|), doc score = mean −log P over
    * its bigrams. Catches word-salad that unigram scoring can't (every
    * token common, no two ever adjacent in real text). Same scale shape
    * plus one more count table: bigram groupBy (map-side combinable;
    * vocabulary² is the worst case but Zipf keeps observed bigrams near
    * corpus size), context groupBy, then a (v,w)-keyed join back. Same
    * decimal-grid rounding before the per-doc sum → order-independent.
    * (Corpus min doc length is 10 words, so every doc has bigrams.)
    */
  def bigramLm(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    // Native adjacent-pairs byte scan (TokenPairsSpec pins equality with
    // the split/transform/element_at chain it replaced on ≥2-word docs;
    // corpus min doc length is 10 words).
    val bigrams = docs
      .select(col("doc_id"),
        explode(graft.functions.VectorExpressions.word_pairs(col("text"))).as("b"))
      .select(col("doc_id"), col("b.a").as("v"), col("b.b").as("wn"))
    val bgCounts = bigrams.groupBy("v", "wn").agg(count(lit(1)).as("cbg"))
    val ctxCounts = bigrams.groupBy("v").agg(count(lit(1)).as("cv"))
    val vsz = docs.select(explode(words(col("text"))).as("w"))
      .agg(countDistinct(col("w")).as("vsz"))
    val scored = bgCounts.join(ctxCounts, "v").crossJoin(broadcast(vsz))
      .select(col("v"), col("wn"),
        round(log((col("cbg") + 1) / (col("cv") + col("vsz"))), 6)
          .cast("decimal(12,6)").as("logp"))
    bigrams.join(scored, Seq("v", "wn"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"), sum(col("logp")).as("slp"))
      .select(col("doc_id"), col("n_bigrams"),
        round(-col("slp").cast("double") / col("n_bigrams"), 6).as("nll"))
      .orderBy("doc_id")
  }

  /** Interpolated KNESER-NEY bigram scoring — the canonical n-gram
    * smoothing (Kneser & Ney 1995; Chen & Goodman 1999 found the
    * interpolated form best across every corpus size), upgrading
    * [[bigramLm]]'s add-one: P(w|v) = (c(vw)−d + d·N₁₊(v·)·P_cont(w)) ∕
    * c(v) with d = 0.75 and the CONTINUATION probability P_cont(w) =
    * N₁₊(·w) ∕ N₁₊(··) — "how many contexts does w complete", the term
    * that stops high-count-but-single-context words (the "San Francisco"
    * problem) from leaking mass. No max(·,0) clamp is needed: every
    * scored bigram comes from the corpus, so c(vw) ≥ 1 > d. All count
    * tables are map-side-combinable groupBys over the (v, w) types
    * frame; the per-pair probability is one double expression on
    * identical integer inputs in identical operation order, rounded to
    * the 6dp decimal grid before the order-free decimal sum — the
    * [[bigramLm]] cross-engine discipline.
    */
  def bigramLmKn(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    val bigrams = docs
      .select(col("doc_id"),
        explode(graft.functions.VectorExpressions.word_pairs(col("text"))).as("b"))
      .select(col("doc_id"), col("b.a").as("v"), col("b.b").as("wn"))
    val bg = bigrams.groupBy("v", "wn").agg(count(lit(1)).as("cbg"))
    val ctx = bigrams.groupBy("v").agg(count(lit(1)).as("cv"))
    val n1v = bg.groupBy("v").agg(count(lit(1)).as("n1v"))
    val n1w = bg.groupBy("wn").agg(count(lit(1)).as("n1w"))
    val tt = bg.agg(count(lit(1)).as("tt"))
    val p = ((col("cbg") - 0.75) +
      lit(0.75) * col("n1v") * col("n1w") / col("tt")) / col("cv")
    val scored = bg.join(ctx, "v").join(n1v, "v").join(n1w, "wn")
      .crossJoin(broadcast(tt))
      .select(col("v"), col("wn"),
        round(log(p), 6).cast("decimal(12,6)").as("logp"))
    bigrams.join(scored, Seq("v", "wn"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"), sum(col("logp")).as("slp"))
      .select(col("doc_id"), col("n_bigrams"),
        round(-col("slp").cast("double") / col("n_bigrams"), 6).as("nll_kn"))
      .orderBy("doc_id")
  }

  /** Per-doc per-language tercile over the LM score — the exact ntile(3)
    * (rounded score, doc_id tiebreak: engine-independent), computed
    * WITHOUT `Window.partitionBy(lang)` over the corpus: that plan puts
    * an entire language on one task (the round-7 plan-audit finding for
    * a mono-lingual-dominant 100 TB corpus). Instead the per-lang rank
    * comes from [[graft.operators.BlockedRank.blockedPrefix]] — blocks =
    * the centi-rounded score (a monotone coarsening, so the only
    * per-lang window runs over the bounded score-grid summary) — and the
    * tercile falls out of [[graft.operators.BlockedRank.ntileFromRank]]
    * as a map-side expression. Value-identical to the naive ntile; both
    * consumers' oracles pin it cross-engine.
    */
  private def tercileScores(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.operators.BlockedRank
    // blockedPrefix feeds the scores into two branches (block partials,
    // join back); AQE stage reuse shares the scoring's deepest shuffle,
    // and the residual per-branch recompute was MEASURED cheaper than a
    // lineage cut here (cut: 1.79 s vs 1.48 s at sf0.1 — the
    // materialization costs more than the post-shuffle agg it saves;
    // SCRATCH_r8). The ~0.7 s over the naive per-lang window at sf0.1 is
    // the price of no single-task stage at 100 TB.
    BlockedRank.blockedPrefix(
        lmScores(spark, sfDir),
        partition = Seq("lang"),
        blocks = Seq(("__tc_b", round(col("nll"), 2))),
        blockDesc = Seq(false),
        localOrder = Seq(col("nll"), col("doc_id")),
        outRank = "__tc_r", outTotalN = "__tc_n",
        broadcastOffsets = true)
      .withColumn("bucket",
        BlockedRank.ntileFromRank(col("__tc_r"), col("__tc_n"), 3))
      .drop("__tc_r", "__tc_n")
  }

  /** CCNet-style head/middle/tail quality bucketing: tercile of the
    * unigram-LM score within each language (per-language because token
    * distributions aren't comparable across languages), reported as bucket
    * profiles. The ntile runs on the ROUNDED score with doc_id tiebreak, so
    * bucket assignment is engine-independent; [[tercileScores]] carries
    * the hierarchical plan.
    */
  def qualityBuckets(spark: SparkSession, sfDir: String): DataFrame = {
    tercileScores(spark, sfDir)
      .groupBy("lang", "bucket")
      .agg(
        count(lit(1)).as("n_docs"),
        min(col("nll")).as("nll_lo"),
        max(col("nll")).as("nll_hi"))
      .orderBy("lang", "bucket")
  }

  /** CCNet-style perplexity GATE (Wenzek et al., arXiv:1911.00359): the
    * deployment decision [[qualityBuckets]] only profiles — keep the
    * head + middle terciles of the per-language LM score, drop the tail,
    * and report per-source survivor rates (the number a corpus team
    * watches to see which feeds die under the gate). Same deterministic
    * ntile (rounded score, doc_id tiebreak — [[tercileScores]]'s
    * hierarchical plan), so the keep decision is engine-independent; the
    * report groupBy is source-sized.
    */
  def curatePerplexity(spark: SparkSession, sfDir: String): DataFrame = {
    val bucketed = tercileScores(spark, sfDir)
    val src = Tables.documents(spark, sfDir).select("doc_id", "source")
    bucketed.join(src, "doc_id")
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("bucket") <= 2, 1L).otherwise(0L)).as("kept"))
      .withColumn("keep_ppm", expr("kept * 1000000 div n_docs"))
      .orderBy("source")
  }

  /** The SAMPLED-CUTOFF form of the perplexity gate — what production
    * CCNet actually runs: instead of ranking every doc (even
    * hierarchically), derive one tercile CUTOFF per language from the
    * score HISTOGRAM and gate by comparison. keep ⟺ nll ≤ cutoff where
    * cutoff is the smallest score value whose cumulative count reaches
    * ⅔ of the language (so ties AT the cutoff are all kept — the
    * documented difference from the exact ntile, which splits a
    * straddling tie by doc_id; survivor counts differ only by those
    * ties). Scale shape: one (lang, score) groupBy (map-side
    * combinable; the frame is the per-lang distinct 6dp score grid —
    * vocabulary-bounded, not corpus-bounded), a per-lang window over
    * THAT bounded frame, a broadcast of the L-row cutoff table, and a
    * per-row comparison the scan can apply. Fully deterministic — both
    * engines compare the identical 6dp-rounded doubles — so the oracle
    * is exact, not approximate.
    */
  def curatePerplexityScaled(spark: SparkSession, sfDir: String): DataFrame = {
    val scores = lmScores(spark, sfDir)
    val byLangScore = org.apache.spark.sql.expressions.Window
      .partitionBy("lang").orderBy("nll")
    val cutoffs = scores
      .groupBy("lang", "nll").agg(count(lit(1)).as("c"))
      .withColumn("cum", sum(col("c")).over(
        byLangScore.rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("n_lang", sum(col("c")).over(
        byLangScore.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
      .filter(col("cum") * 3 >= col("n_lang") * 2)
      .groupBy("lang").agg(min(col("nll")).as("cutoff"))
    val src = Tables.documents(spark, sfDir).select("doc_id", "source")
    scores.join(broadcast(cutoffs), "lang").join(src, "doc_id")
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("nll") <= col("cutoff"), 1L).otherwise(0L)).as("kept"))
      .withColumn("keep_ppm", expr("kept * 1000000 div n_docs"))
      .orderBy("source")
  }

  /** Reciprocal-rank-fusion quality ENSEMBLE (Cormack/Clarke/Büttcher,
    * SIGIR'09): no single quality signal survives contact with a web
    * corpus — LM perplexity punishes rare-domain text, TTR punishes
    * legitimate repetition, dominance misses fluent spam — so production
    * gates fuse several. RRF is the standard scale-free fusion: each doc
    * is ranked per-language under each signal, fused score =
    * Σ 1∕(60 + rank) (the canonical k=60, here in exact integer
    * nanounits: Σ 10⁹ div (60 + rank)), and the per-language top-10 is
    * reported with its per-signal ranks — rank fusion needs no
    * cross-signal calibration, which is why it beats z-score averaging
    * on incomparable signals. Signals: unigram-LM nll (asc — lower is
    * better), per-doc type-token ratio (desc), top-word dominance (asc).
    * Scale: every per-lang rank comes from
    * [[graft.operators.BlockedRank.blockedPrefix]] (blocks = the
    * coarsened signal grid, so the only per-lang windows run over
    * bounded score-grid summaries — never `Window.partitionBy(lang)`
    * over the corpus), and the final top-10 uses
    * [[graft.operators.BlockedRank.saltedTopK]]. All ranks tie-break on
    * doc_id, so both engines rank identically and the oracle is exact.
    */
  def rrfEnsemble(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    // Features from one (doc, word) groupBy — the gopher battery's R4
    // shape (map-side combinable). A per-row HOF fold over the sorted
    // word array was tried and measured 2-3x WORSE at sf0.1 (HOFs don't
    // codegen; the interpreted fold over ~100-word arrays costs more
    // than the combinable shuffle it saves).
    val wc = docs.select(col("doc_id"), explode(words(col("text"))).as("w"))
      .groupBy("doc_id", "w").agg(count(lit(1)).as("c"))
    val feat = wc.groupBy("doc_id").agg(
        count(lit(1)).as("nd"), sum(col("c")).as("nt"), max(col("c")).as("mx"))
      .select(col("doc_id"),
        expr("nd * 1000000 div nt").as("ttr_ppm"),
        expr("mx * 1000000 div nt").as("dom_ppm"))
    // Lineage cut: the scored frame feeds SIX plan branches (two per
    // blockedPrefix — partials + join-back — times three chained rank
    // passes, compounding to 8 leaf scans of the LM-scoring join tree).
    // tercileScores measured a cut WORSE at its 2 branches; at 8 the
    // math flips — materializing one narrow 5-scalar-per-doc frame
    // replaces 8 recomputes of the explode + vocab-join chain.
    // Measured at sf0.1: 5.5 s cutless → see SCRATCH_r8.
    org.apache.spark.sql.graft.PlanBridge.scoped(spark) { s =>
      val scored = s.cut(lmScores(spark, sfDir).select("doc_id", "lang", "nll")
        .join(feat, "doc_id"))
      rrfTopK(scored)
        .select(col("lang"), col("sel_rank").cast("long").as("sel_rank"),
          col("doc_id"), col("r_nll"), col("r_ttr"), col("r_dom"),
          col("rrf_nano"))
        .orderBy("lang", "sel_rank")
    }
  }

  /** The RRF rank-and-select core over any (doc_id, lang, nll, ttr_ppm,
    * dom_ppm) frame — split out so `ScaleProbe rrf` can A/B the SHIPPED
    * plan against the naive three-per-lang-windows form on synthetic
    * skewed corpora: three hierarchical ranks (score-grid blocks, never
    * a per-lang corpus window), integer-nano fusion, per-lang top-10 via
    * saltedTopK. Value-identical to the naive form (every rank
    * tie-breaks on doc_id).
    */
  private[graft] def rrfTopK(scored: DataFrame): DataFrame = {
    import graft.operators.BlockedRank

    def rankBy(df: DataFrame, sig: Column, out: String, desc: Boolean,
        block: Column): DataFrame =
      BlockedRank.blockedPrefix(df, partition = Seq("lang"),
          blocks = Seq((s"__rrf_$out", block)), blockDesc = Seq(desc),
          localOrder = Seq(if (desc) sig.desc else sig.asc, col("doc_id")),
          outRank = out, outTotalN = s"__rrf_n_$out", broadcastOffsets = true)
        .drop(s"__rrf_n_$out")

    // Rank each signal INDEPENDENTLY from the input and join the three
    // narrow (doc_id, rank) frames back — chaining the rank passes
    // instead (pass 3's two plan branches re-running pass 2, whose
    // branches re-run pass 1) measured SLOWER than even the naive
    // window form at 3e6 rows (ScaleProbe rrf caught it: 63.5 s chained
    // vs 50.0 s naive); independent ranks keep post-leaf work linear in
    // the signal count, and the three joins co-partition on doc_id.
    val ranked = Seq(
      ("r_nll", col("nll"), false, round(col("nll"), 2)),
      ("r_ttr", col("ttr_ppm"), true, BlockedRank.idiv(col("ttr_ppm"), lit(10000L))),
      ("r_dom", col("dom_ppm"), false, BlockedRank.idiv(col("dom_ppm"), lit(10000L))))
      .map { case (out, sig, desc, block) =>
        rankBy(scored, sig, out, desc, block).select("doc_id", out)
      }
      .foldLeft(scored)((acc, r) => acc.join(r, "doc_id"))
    val fused = ranked.withColumn("rrf_nano",
      BlockedRank.idiv(lit(1000000000L), col("r_nll") + 60) +
        BlockedRank.idiv(lit(1000000000L), col("r_ttr") + 60) +
        BlockedRank.idiv(lit(1000000000L), col("r_dom") + 60))
    BlockedRank.saltedTopK(fused, groups = Seq("lang"),
      order = Seq(col("rrf_nano").desc, col("doc_id")),
      salt = hash(col("doc_id")), k = 10, outRank = "sel_rank")
  }

  /** Tech-domain terms for the domain-router heuristic (the topic-mixing
    * knob of corpus assembly: route technical docs to a code/tech bucket).
    * Frozen list so the oracle embeds the identical set.
    */
  val DomainTerms: Seq[String] = Seq(
    "spark", "agg", "join", "query", "scan", "hash", "shuffle", "table",
    "column", "sort", "merge", "batch")

  /** Per-source type-token ratio — the vocabulary-richness signal behind
    * source-level quality triage (template/boilerplate farms have low TTR,
    * organic text high). distinct-per-source needs one (source, word)
    * shuffle; the ratio is integer ppm (distinct·10⁶ div total), bit-stable
    * at any scale.
    */
  def ttr(spark: SparkSession, sfDir: String): DataFrame = {
    Tables.documents(spark, sfDir)
      .select(col("source"), explode(words(col("text"))).as("word"))
      .groupBy("source")
      .agg(count(lit(1)).as("total_tokens"),
        countDistinct(col("word")).as("distinct_tokens"))
      .withColumn("ttr_ppm", expr("distinct_tokens * 1000000 div total_tokens"))
      .orderBy("source")
  }

  /** Domain-router report: per-source share of tech-domain tokens plus how
    * many docs cross the 50% routing threshold — the corpus-mixing
    * diagnostic behind "how much of src N is technical content". Doc-level
    * ppm uses integer division, so the threshold decision is exact; one
    * explode → per-doc groupBy (map-side combinable) → per-source rollup.
    */
  def domainMix(spark: SparkSession, sfDir: String): DataFrame = {
    val isDomain = col("word").isin(DomainTerms.map(s => s: Any): _*)
    Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("source"), explode(words(col("text"))).as("word"))
      .groupBy("doc_id", "source")
      .agg(count(lit(1)).as("toks"),
        count(when(isDomain, lit(1))).as("dtoks"))
      .withColumn("doc_ppm", expr("dtoks * 1000000 div toks"))
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        count(when(col("doc_ppm") >= 500000, lit(1))).as("n_tech"),
        sum(col("toks")).as("total_tokens"),
        sum(col("dtoks")).as("domain_tokens"))
      .withColumn("jargon_ppm", expr("domain_tokens * 1000000 div total_tokens"))
      .orderBy("source")
  }

  /** Vocabulary coverage curve — share of all token OCCURRENCES covered by
    * the top-k most frequent words, at k ∈ {10, 25, 50, 100}: the report
    * that sizes a tokenizer vocabulary (how big must k be before OOV rate
    * is acceptable). Word counts are the map-side-combined explode shape;
    * only the max-k rows reach the rank window (global orderBy+limit →
    * TakeOrdered, so no single-task sort of the corpus-shaped vocabulary;
    * ranks past max-k can't contribute to any coverage bucket); ties rank
    * deterministically (count desc, word asc) so the top-k SET is
    * identical in both engines even when a tie straddles k.
    */
  def vocabCoverage(spark: SparkSession, sfDir: String): DataFrame = {
    val ks = Seq(10, 25, 50, 100)
    val cnt = Tables.documents(spark, sfDir)
      .select(explode(split(col("text"), " ")).as("word"))
      .groupBy("word").agg(count(lit(1)).as("c"))
    val byFreq = org.apache.spark.sql.expressions.Window
      .partitionBy(graft.operators.BlockedRank.boundedPartition(col("word")))
      .orderBy(col("c").desc, col("word"))
    val tot = cnt.agg(sum(col("c")).as("total_tokens"))
    cnt.orderBy(col("c").desc, col("word")).limit(ks.max)
      .withColumn("rk", row_number().over(byFreq))
      .withColumn("k", explode(array(ks.map(lit): _*)))
      .groupBy("k")
      .agg(sum(when(col("rk") <= col("k"), col("c")).otherwise(lit(0L))).as("covered_tokens"))
      .crossJoin(broadcast(tot))
      .withColumn("coverage_ppm", expr("covered_tokens * 1000000 div total_tokens"))
      .select("k", "covered_tokens", "total_tokens", "coverage_ppm")
      .orderBy("k")
  }

  /** Pairwise Jensen-Shannon divergence between source word distributions —
    * the corpus-similarity matrix behind mixture design: which sources are
    * near-duplicates of each other distributionally (candidates to
    * down-weight in `mix_sources`) and which add genuinely new text. The
    * JS grid is (source-pairs × vocabulary) — bounded BY CONSTRUCTION: at
    * web scale the vocabulary is capped to the top-k words (the
    * vocab_coverage report says what k captures; here the whole ~100-word
    * synthetic vocabulary). Per-cell terms are identical double
    * arithmetic in both engines, rounded onto the 9dp decimal grid BEFORE
    * the per-pair sum — the reduction-order-free discipline every scoring
    * op here follows. Zero-probability sides contribute only the other
    * side's half-term (the 0·ln0 := 0 convention), so JS stays ≤ ln 2.
    */
  def sourceDivergence(spark: SparkSession, sfDir: String): DataFrame = {
    val wc = Tables.documents(spark, sfDir)
      .select(col("source"), explode(split(col("text"), " ")).as("word"))
      .groupBy("source", "word").agg(count(lit(1)).as("c"))
    val n = wc.groupBy("source").agg(sum(col("c")).as("n"))
    val p = wc.join(n, "source")
      .select(col("source"), col("word"), (col("c") / col("n")).as("p"))
    val vocab = wc.select("word").distinct()
    val sources = n.select("source")
    val pairs = sources.as("a").join(sources.as("b"),
        col("a.source") < col("b.source"))
      .select(col("a.source").as("sa"), col("b.source").as("sb"))
    val grid = pairs.crossJoin(broadcast(vocab))
    val term = expr(
      "CASE WHEN pa > 0 THEN 0.5 * pa * ln(pa / ((pa + pb) / 2)) ELSE 0 END + " +
      "CASE WHEN pb > 0 THEN 0.5 * pb * ln(pb / ((pa + pb) / 2)) ELSE 0 END")
    grid
      .join(p.select(col("source").as("sa"), col("word"), col("p").as("pa0")),
        Seq("sa", "word"), "left")
      .join(p.select(col("source").as("sb"), col("word"), col("p").as("pb0")),
        Seq("sb", "word"), "left")
      .select(col("sa"), col("sb"),
        coalesce(col("pa0"), lit(0.0)).as("pa"),
        coalesce(col("pb0"), lit(0.0)).as("pb"))
      .withColumn("t", round(term, 9).cast("decimal(14,9)"))
      .groupBy("sa", "sb")
      .agg(sum(col("t")).cast("double").as("js"))
      .orderBy("sa", "sb")
  }

  /** Linear classifier INFERENCE via the hashing trick — the fasttext-style
    * quality-model scoring pass every curated corpus runs, with the weight
    * table replaced by a hash-derived stand-in (no vocabulary join, no
    * broadcast: the "model" is a per-token expression, which is exactly how
    * a hashed linear model deploys at 100 TB). Per-token weight ∈ [−1000,
    * 1000] from the frozen md5 family; the document score is an EXACT
    * integer sum, so keep/drop labels are grid-free; only the mean-weight
    * diagnostic takes the one rounded double division. One explode + one
    * (doc) groupBy — embarrassingly partition-parallel, no shuffle besides
    * the doc-key agg.
    */
  def classifierScore(spark: SparkSession, sfDir: String): DataFrame = {
    Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("source"),
        explode(words(col("text"))).as("tok"))
      .filter(length(col("tok")) > 0)
      .withColumn("w", pmod(Hashing.hash60(col("tok")), lit(2001L)) - 1000L)
      .groupBy("doc_id", "source")
      .agg(
        count(lit(1)).as("n_tokens"),
        sum(col("w")).as("raw_score"))
      .select(
        col("doc_id"), col("source"), col("n_tokens"), col("raw_score"),
        round(col("raw_score").cast("double") / col("n_tokens"), 6).as("mean_w"),
        when(col("raw_score") >= 0, lit("keep")).otherwise(lit("drop")).as("label"))
      .orderBy("doc_id")
  }

  override def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "text_classifier_score" -> (classifierScore _),
    "vocab_coverage" -> (vocabCoverage _),
    "text_source_divergence" -> (sourceDivergence _),
    "text_ttr"         -> (ttr _),
    "text_domain_mix"  -> (domainMix _),
    "text_unigram_lm"  -> (unigramLm _),
    "text_bigram_lm"   -> (bigramLm _),
    "text_bigram_lm_kn" -> (bigramLmKn _),
    "text_quality_buckets" -> (qualityBuckets _),
    "curate_perplexity" -> (curatePerplexity _),
    "curate_perplexity_scaled" -> (curatePerplexityScaled _),
    "curate_rrf_ensemble" -> (rrfEnsemble _),
    "text_stats"       -> (textStats _),
    "text_lang_id"     -> (langId _),
    "text_lang_confusion" -> (langConfusion _),
    "text_quality"     -> (quality _),
    "text_token_count" -> (tokenCount _),
    "text_fingerprint" -> (fingerprint _),
    "text_repetition"  -> (repetition _),
    "text_pii_scrub"   -> (piiScrub _),
    "text_entropy"     -> (entropy _),
    "text_tokenize_ids" -> (tokenizeIds _),
    "text_shared_spans" -> (sharedSpans _),
    "text_boilerplate" -> (boilerplate _),
    "text_chunk"       -> (chunk _),
    "vocab_topk"       -> (vocabTopk _),
  )

  private def duckStopList(xs: Seq[String]): String =
    xs.map(s => s"'$s'").mkString("[", ", ", "]")

  override def oracles: Map[String, String] = {
    val stop = duckStopList(Stopwords)
    val domain = duckStopList(DomainTerms)
    val langScores = LangMarkers.map { case (lang, markers) =>
      s"CAST(len(list_filter(string_split(text, ' '), x -> list_contains(${duckStopList(markers)}, x))) AS INTEGER) AS score_$lang"
    }.mkString(",\n        |  ")
    val langs = LangMarkers.map(_._1)
    val caseChain = langs.foldRight("'und'") { (lang, elseExpr) =>
      val beats = langs.filter(_ != lang).map { other =>
        if (langs.indexOf(other) < langs.indexOf(lang)) s"score_$lang > score_$other"
        else s"score_$lang >= score_$other"
      }.mkString(" AND ")
      s"CASE WHEN score_$lang > 0 AND $beats THEN '$lang' ELSE $elseExpr END"
    }
    val duckLmPerDoc =
      """WITH toks AS (
        |  SELECT doc_id, lang, unnest(string_split(text, ' ')) AS w FROM documents
        |), vocab AS (
        |  SELECT w, COUNT(*) AS cnt FROM toks GROUP BY w
        |), total AS (
        |  SELECT COUNT(*)::DOUBLE AS tot FROM toks
        |), logp AS (
        |  SELECT w, CAST(ROUND(ln(cnt / tot), 6) AS DECIMAL(12,6)) AS logp
        |  FROM vocab CROSS JOIN total
        |), per_doc AS (
        |  SELECT t.doc_id, t.lang, COUNT(*) AS n_tokens,
        |    ROUND(-CAST(SUM(l.logp) AS DOUBLE) / COUNT(*), 6) AS nll
        |  FROM toks t JOIN logp l ON t.w = l.w
        |  GROUP BY t.doc_id, t.lang
        |)""".stripMargin
    Map(
      "text_classifier_score" ->
        s"""WITH tok AS (
           |  SELECT doc_id, source, unnest(string_split(text, ' ')) AS tok
           |  FROM documents
           |), w AS (
           |  SELECT doc_id, source,
           |    ${Hashing.duckHash60("tok")} % 2001 - 1000 AS w
           |  FROM tok WHERE length(tok) > 0
           |)
           |SELECT doc_id, source, COUNT(*) AS n_tokens,
           |  CAST(SUM(w) AS BIGINT) AS raw_score,
           |  ROUND(CAST(SUM(w) AS DOUBLE) / COUNT(*), 6) AS mean_w,
           |  CASE WHEN CAST(SUM(w) AS BIGINT) >= 0 THEN 'keep' ELSE 'drop' END AS label
           |FROM w GROUP BY doc_id, source
           |ORDER BY doc_id""".stripMargin,
      "text_source_divergence" ->
        """WITH wc AS (
          |  SELECT source, word, COUNT(*) AS c FROM (
          |    SELECT source, unnest(string_split(text, ' ')) AS word FROM documents)
          |  GROUP BY source, word
          |), n AS (
          |  SELECT source, SUM(c) AS n FROM wc GROUP BY source
          |), p AS (
          |  SELECT wc.source, wc.word, wc.c / n.n::DOUBLE AS p
          |  FROM wc JOIN n ON wc.source = n.source
          |), vocab AS (
          |  SELECT DISTINCT word FROM wc
          |), pairs AS (
          |  SELECT a.source AS sa, b.source AS sb
          |  FROM n a JOIN n b ON a.source < b.source
          |), grid AS (
          |  SELECT sa, sb, vocab.word AS word,
          |    COALESCE(pa.p, 0) AS pa, COALESCE(pb.p, 0) AS pb
          |  FROM pairs CROSS JOIN vocab
          |  LEFT JOIN p pa ON pa.source = sa AND pa.word = vocab.word
          |  LEFT JOIN p pb ON pb.source = sb AND pb.word = vocab.word
          |)
          |SELECT sa, sb,
          |  CAST(SUM(CAST(ROUND(
          |    CASE WHEN pa > 0 THEN 0.5 * pa * ln(pa / ((pa + pb) / 2)) ELSE 0 END +
          |    CASE WHEN pb > 0 THEN 0.5 * pb * ln(pb / ((pa + pb) / 2)) ELSE 0 END, 9)
          |    AS DECIMAL(14,9))) AS DOUBLE) AS js
          |FROM grid GROUP BY sa, sb ORDER BY sa, sb""".stripMargin,
      "vocab_coverage" ->
        """WITH w AS (
          |  SELECT unnest(string_split(text, ' ')) AS word FROM documents
          |), cnt AS (
          |  SELECT word, COUNT(*) AS c FROM w GROUP BY word
          |), r AS (
          |  SELECT c, row_number() OVER (ORDER BY c DESC, word) AS rk FROM cnt
          |), tot AS (
          |  SELECT SUM(c) AS total_tokens FROM cnt
          |)
          |SELECT k,
          |  CAST(SUM(CASE WHEN rk <= k THEN c ELSE 0 END) AS BIGINT) AS covered_tokens,
          |  CAST(tot.total_tokens AS BIGINT) AS total_tokens,
          |  CAST(SUM(CASE WHEN rk <= k THEN c ELSE 0 END) * 1000000
          |    // tot.total_tokens AS BIGINT) AS coverage_ppm
          |FROM r, (SELECT unnest([10, 25, 50, 100]) AS k), tot
          |GROUP BY k, tot.total_tokens ORDER BY k""".stripMargin,
      "text_ttr" ->
        """WITH tok AS (
          |  SELECT source, unnest(string_split(text, ' ')) AS word FROM documents
          |)
          |SELECT source, COUNT(*) AS total_tokens,
          |  COUNT(DISTINCT word) AS distinct_tokens,
          |  CAST(COUNT(DISTINCT word) * 1000000 // COUNT(*) AS BIGINT) AS ttr_ppm
          |FROM tok GROUP BY source
          |ORDER BY source""".stripMargin,
      "text_domain_mix" ->
        s"""WITH tok AS (
           |  SELECT doc_id, source, unnest(string_split(text, ' ')) AS word
           |  FROM documents
           |), perdoc AS (
           |  SELECT doc_id, source, COUNT(*) AS toks,
           |    COUNT(CASE WHEN list_contains($domain, word) THEN 1 END) AS dtoks
           |  FROM tok GROUP BY doc_id, source
           |)
           |SELECT source, COUNT(*) AS n_docs,
           |  COUNT(CASE WHEN dtoks * 1000000 // toks >= 500000 THEN 1 END) AS n_tech,
           |  CAST(SUM(toks) AS BIGINT) AS total_tokens,
           |  CAST(SUM(dtoks) AS BIGINT) AS domain_tokens,
           |  CAST(CAST(SUM(dtoks) AS BIGINT) * 1000000 // CAST(SUM(toks) AS BIGINT) AS BIGINT)
           |    AS jargon_ppm
           |FROM perdoc GROUP BY source
           |ORDER BY source""".stripMargin,
      "text_bigram_lm_kn" ->
        """WITH d AS (
          |  SELECT doc_id, string_split(text, ' ') AS ws FROM documents
          |), g AS (
          |  SELECT doc_id, unnest(range(1, len(ws))) AS i, ws FROM d
          |), bigrams AS (
          |  SELECT doc_id, ws[i] AS v, ws[i + 1] AS wn FROM g
          |), bg AS (
          |  SELECT v, wn, COUNT(*) AS cbg FROM bigrams GROUP BY v, wn
          |), ctx AS (
          |  SELECT v, COUNT(*) AS cv FROM bigrams GROUP BY v
          |), n1v AS (
          |  SELECT v, COUNT(*) AS n1v FROM bg GROUP BY v
          |), n1w AS (
          |  SELECT wn, COUNT(*) AS n1w FROM bg GROUP BY wn
          |), tt AS (
          |  SELECT COUNT(*) AS tt FROM bg
          |), scored AS (
          |  SELECT bg.v, bg.wn,
          |    CAST(ROUND(ln(((bg.cbg - 0.75) + 0.75 * n1v.n1v * n1w.n1w / tt.tt) / ctx.cv), 6)
          |      AS DECIMAL(12,6)) AS logp
          |  FROM bg JOIN ctx ON bg.v = ctx.v
          |  JOIN n1v ON bg.v = n1v.v JOIN n1w ON bg.wn = n1w.wn
          |  CROSS JOIN tt
          |)
          |SELECT b.doc_id, COUNT(*) AS n_bigrams,
          |  ROUND(-CAST(SUM(s.logp) AS DOUBLE) / COUNT(*), 6) AS nll_kn
          |FROM bigrams b JOIN scored s ON b.v = s.v AND b.wn = s.wn
          |GROUP BY b.doc_id
          |ORDER BY b.doc_id""".stripMargin,
      "text_bigram_lm" ->
        """WITH d AS (
          |  SELECT doc_id, string_split(text, ' ') AS ws FROM documents
          |), g AS (
          |  SELECT doc_id, unnest(range(1, len(ws))) AS i, ws FROM d
          |), bigrams AS (
          |  SELECT doc_id, ws[i] AS v, ws[i + 1] AS wn FROM g
          |), bg AS (
          |  SELECT v, wn, COUNT(*) AS cbg FROM bigrams GROUP BY v, wn
          |), ctx AS (
          |  SELECT v, COUNT(*) AS cv FROM bigrams GROUP BY v
          |), vsz AS (
          |  SELECT COUNT(DISTINCT w) AS vsz
          |  FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
          |), scored AS (
          |  SELECT bg.v, bg.wn,
          |    CAST(ROUND(ln((bg.cbg + 1) / (ctx.cv + vsz.vsz)), 6) AS DECIMAL(12,6)) AS logp
          |  FROM bg JOIN ctx ON bg.v = ctx.v CROSS JOIN vsz
          |)
          |SELECT b.doc_id, COUNT(*) AS n_bigrams,
          |  ROUND(-CAST(SUM(s.logp) AS DOUBLE) / COUNT(*), 6) AS nll
          |FROM bigrams b JOIN scored s ON b.v = s.v AND b.wn = s.wn
          |GROUP BY b.doc_id
          |ORDER BY b.doc_id""".stripMargin,
      "text_unigram_lm" ->
        s"""$duckLmPerDoc
           |SELECT doc_id, n_tokens, nll FROM per_doc ORDER BY doc_id""".stripMargin,
      "text_quality_buckets" ->
        s"""$duckLmPerDoc, b AS (
           |  SELECT lang, nll,
           |    CAST(ntile(3) OVER (PARTITION BY lang ORDER BY nll, doc_id) AS INTEGER) AS bucket
           |  FROM per_doc
           |)
           |SELECT lang, bucket, COUNT(*) AS n_docs,
           |  MIN(nll) AS nll_lo, MAX(nll) AS nll_hi
           |FROM b GROUP BY lang, bucket
           |ORDER BY lang, bucket""".stripMargin,
      "curate_perplexity" ->
        s"""$duckLmPerDoc, b AS (
           |  SELECT doc_id,
           |    CAST(ntile(3) OVER (PARTITION BY lang
           |      ORDER BY nll, doc_id) AS INTEGER) AS bucket
           |  FROM per_doc
           |)
           |SELECT d.source, COUNT(*) AS n_docs,
           |  CAST(SUM(CASE WHEN b.bucket <= 2 THEN 1 ELSE 0 END) AS BIGINT)
           |    AS kept,
           |  CAST(SUM(CASE WHEN b.bucket <= 2 THEN 1 ELSE 0 END) AS BIGINT)
           |    * 1000000 // COUNT(*) AS keep_ppm
           |FROM b JOIN documents d USING (doc_id)
           |GROUP BY d.source ORDER BY d.source""".stripMargin,
      // curate_perplexity_scaled: the same histogram-cutoff derivation —
      // per-(lang, nll) counts, per-lang cumulative over the score grid,
      // cutoff = min score whose cum count reaches 2/3, keep = nll <=
      // cutoff. Exact, not approximate: both engines compare identical
      // 6dp-rounded doubles.
      "curate_perplexity_scaled" ->
        s"""$duckLmPerDoc, hist AS (
           |  SELECT lang, nll, COUNT(*) AS c FROM per_doc GROUP BY lang, nll
           |), cum AS (
           |  SELECT lang, nll,
           |    SUM(c) OVER (PARTITION BY lang ORDER BY nll
           |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
           |    SUM(c) OVER (PARTITION BY lang) AS n_lang
           |  FROM hist
           |), cut AS (
           |  SELECT lang, MIN(nll) AS cutoff FROM cum
           |  WHERE cum * 3 >= n_lang * 2 GROUP BY lang
           |)
           |SELECT d.source, COUNT(*) AS n_docs,
           |  CAST(SUM(CASE WHEN p.nll <= c.cutoff THEN 1 ELSE 0 END) AS BIGINT)
           |    AS kept,
           |  CAST(SUM(CASE WHEN p.nll <= c.cutoff THEN 1 ELSE 0 END) AS BIGINT)
           |    * 1000000 // COUNT(*) AS keep_ppm
           |FROM per_doc p JOIN cut c USING (lang) JOIN documents d USING (doc_id)
           |GROUP BY d.source ORDER BY d.source""".stripMargin,
      // curate_rrf_ensemble: the same per-doc nll chain + per-doc
      // TTR/dominance features, three per-lang row_number ranks
      // (doc_id tiebreak — deterministic), integer-nano RRF fusion,
      // per-lang top-10.
      "curate_rrf_ensemble" ->
        s"""$duckLmPerDoc, wc AS (
           |  SELECT doc_id, w, COUNT(*) AS c FROM toks GROUP BY doc_id, w
           |), feat AS (
           |  SELECT doc_id,
           |    CAST(COUNT(*) * 1000000 // SUM(c) AS BIGINT) AS ttr_ppm,
           |    CAST(MAX(c) * 1000000 // SUM(c) AS BIGINT) AS dom_ppm
           |  FROM wc GROUP BY doc_id
           |), r AS (
           |  SELECT p.doc_id, p.lang,
           |    row_number() OVER (PARTITION BY p.lang
           |      ORDER BY p.nll, p.doc_id) AS r_nll,
           |    row_number() OVER (PARTITION BY p.lang
           |      ORDER BY f.ttr_ppm DESC, p.doc_id) AS r_ttr,
           |    row_number() OVER (PARTITION BY p.lang
           |      ORDER BY f.dom_ppm, p.doc_id) AS r_dom
           |  FROM per_doc p JOIN feat f USING (doc_id)
           |), fused AS (
           |  SELECT doc_id, lang, r_nll, r_ttr, r_dom,
           |    1000000000 // (60 + r_nll) + 1000000000 // (60 + r_ttr) +
           |      1000000000 // (60 + r_dom) AS rrf_nano
           |  FROM r
           |), top AS (
           |  SELECT *, row_number() OVER (PARTITION BY lang
           |    ORDER BY rrf_nano DESC, doc_id) AS sel_rank
           |  FROM fused
           |)
           |SELECT lang, sel_rank, doc_id, r_nll, r_ttr, r_dom,
           |  CAST(rrf_nano AS BIGINT) AS rrf_nano
           |FROM top WHERE sel_rank <= 10
           |ORDER BY lang, sel_rank""".stripMargin,
      "text_stats" ->
        s"""SELECT doc_id,
           |  CAST(len(string_split(text, ' ')) AS INTEGER) AS n_words,
           |  CAST(len(list_distinct(string_split(text, ' '))) AS INTEGER) AS n_uniq,
           |  ROUND(len(list_distinct(string_split(text, ' ')))::DOUBLE / len(string_split(text, ' ')), 6) AS uniq_ratio,
           |  ROUND(list_sum(list_transform(string_split(text, ' '), x -> strlen(x)))::DOUBLE / len(string_split(text, ' ')), 6) AS mean_wlen,
           |  ROUND(len(list_filter(string_split(text, ' '), x -> list_contains($stop, x)))::DOUBLE / len(string_split(text, ' ')), 6) AS stop_ratio
           |FROM documents ORDER BY doc_id""".stripMargin,
      "text_lang_id" ->
        s"""WITH scored AS (
           |  SELECT doc_id, lang AS label_lang,
           |  $langScores
           |  FROM documents
           |)
           |SELECT doc_id, label_lang, $caseChain AS pred_lang
           |FROM scored ORDER BY doc_id""".stripMargin,
      "text_lang_confusion" ->
        s"""WITH scored AS (
           |  SELECT doc_id, lang AS label_lang,
           |  $langScores
           |  FROM documents
           |), pred AS (
           |  SELECT doc_id, label_lang, $caseChain AS pred_lang FROM scored
           |)
           |SELECT label_lang, pred_lang, COUNT(*) AS n
           |FROM pred GROUP BY label_lang, pred_lang
           |ORDER BY label_lang, pred_lang""".stripMargin,
      "text_quality" ->
        s"""SELECT doc_id,
           |  ROUND(LEAST(strlen(text)::DOUBLE / 400.0, 1.0), 6) AS len_score,
           |  ROUND(len(list_distinct(string_split(text, ' ')))::DOUBLE / len(string_split(text, ' ')), 6) AS uniq_ratio,
           |  ROUND(len(list_filter(string_split(text, ' '), x -> list_contains($stop, x)))::DOUBLE / len(string_split(text, ' ')), 6) AS stop_ratio,
           |  ROUND(LEAST(strlen(text)::DOUBLE / 400.0, 1.0) * 0.5
           |      + len(list_distinct(string_split(text, ' ')))::DOUBLE / len(string_split(text, ' ')) * 0.3
           |      + len(list_filter(string_split(text, ' '), x -> list_contains($stop, x)))::DOUBLE / len(string_split(text, ' ')) * 0.2, 6) AS score,
           |  (ROUND(LEAST(strlen(text)::DOUBLE / 400.0, 1.0) * 0.5
           |      + len(list_distinct(string_split(text, ' ')))::DOUBLE / len(string_split(text, ' ')) * 0.3
           |      + len(list_filter(string_split(text, ' '), x -> list_contains($stop, x)))::DOUBLE / len(string_split(text, ' ')) * 0.2, 6) >= 0.5) AS keep
           |FROM documents ORDER BY doc_id""".stripMargin,
      "text_token_count" ->
        """SELECT doc_id,
          |  CAST(len(string_split(text, ' ')) AS INTEGER) AS n_ws,
          |  CAST(len(regexp_extract_all(text, '[A-Za-z0-9]+|[^A-Za-z0-9 ]')) AS INTEGER) AS n_tok,
          |  CAST(strlen(text) AS INTEGER) AS n_chars_calc,
          |  n_chars
          |FROM documents ORDER BY doc_id""".stripMargin,
      "text_repetition" ->
        """WITH g AS (
          |  SELECT doc_id,
          |    list_transform(
          |      range(1, greatest(len(string_split(text, ' ')) - 1, 2)),
          |      i -> array_to_string(string_split(text, ' ')[i:i+2], ' ')) AS grams
          |  FROM documents
          |)
          |SELECT doc_id,
          |  CAST(len(grams) AS INTEGER) AS n_grams,
          |  CAST(len(list_distinct(grams)) AS INTEGER) AS n_uniq_grams,
          |  ROUND(1.0 - len(list_distinct(grams))::DOUBLE / len(grams), 6) AS rep_ratio
          |FROM g ORDER BY doc_id""".stripMargin,
      "text_entropy" ->
        """WITH d AS (
          |  SELECT doc_id, string_split(text, ' ') AS ws,
          |    len(string_split(text, ' '))::DOUBLE AS n
          |  FROM documents
          |)
          |SELECT doc_id,
          |  CAST(n AS INTEGER) AS n_words,
          |  CAST(len(list_distinct(ws)) AS INTEGER) AS n_uniq,
          |  ROUND(-list_sum(list_transform(list_sort(list_distinct(ws)), u ->
          |    (len(list_filter(ws, x -> x = u)) / n)
          |      * ln(len(list_filter(ws, x -> x = u)) / n))), 6) AS entropy
          |FROM d ORDER BY doc_id""".stripMargin,
      "text_pii_scrub" ->
        s"""WITH p AS (
           |  SELECT doc_id,
           |    text || ' contact user' || CAST(doc_id AS VARCHAR) || '@' || source
           |         || '.org call 555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
           |         || ' ip 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.17' AS planted
           |  FROM documents
           |)
           |SELECT doc_id,
           |  CAST(len(regexp_extract_all(planted, '$EmailRe')) AS INTEGER) AS n_emails,
           |  CAST(len(regexp_extract_all(planted, '$PhoneRe')) AS INTEGER) AS n_phones,
           |  CAST(len(regexp_extract_all(planted, '$IpRe')) AS INTEGER) AS n_ips,
           |  regexp_replace(regexp_replace(regexp_replace(planted,
           |    '$EmailRe', '<EMAIL>', 'g'),
           |    '$PhoneRe', '<PHONE>', 'g'),
           |    '$IpRe', '<IP>', 'g') AS scrubbed
           |FROM p ORDER BY doc_id""".stripMargin,
      "text_shared_spans" ->
        s"""WITH g AS (
           |  SELECT DISTINCT doc_id,
           |    ${Hashing.duckHash60("gram")} AS g
           |  FROM (
           |    SELECT doc_id,
           |      unnest(list_transform(
           |        range(1, greatest(len(string_split(text, ' ')) - 6, 2)),
           |        i -> array_to_string(string_split(text, ' ')[i:i+7], ' '))) AS gram
           |    FROM documents
           |  )
           |), df AS (
           |  SELECT g, COUNT(DISTINCT doc_id) AS df FROM g GROUP BY g
           |)
           |SELECT g.doc_id,
           |  COUNT(*) AS n_grams,
           |  CAST(SUM(CASE WHEN df.df >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_shared,
           |  ROUND(SUM(CASE WHEN df.df >= 2 THEN 1.0 ELSE 0.0 END) / COUNT(*), 6) AS shared_ratio
           |FROM g JOIN df USING (g)
           |GROUP BY g.doc_id ORDER BY g.doc_id""".stripMargin,
      "text_boilerplate" ->
        s"""WITH g AS (
           |  SELECT doc_id, source,
           |    ${Hashing.duckHash60("gram")} AS g
           |  FROM (
           |    SELECT doc_id, source,
           |      unnest(list_transform(
           |        range(1, greatest(len(string_split(text, ' ')) - 3, 2)),
           |        i -> array_to_string(string_split(text, ' ')[i:i+4], ' '))) AS gram
           |    FROM documents
           |  )
           |), df AS (
           |  SELECT source, g, COUNT(DISTINCT doc_id) AS df FROM g GROUP BY source, g
           |)
           |SELECT g.doc_id,
           |  COUNT(*) AS n_grams,
           |  CAST(SUM(CASE WHEN df.df >= 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_boiler,
           |  CAST(SUM(CASE WHEN df.df >= 3 THEN 1 ELSE 0 END) * 1000000
           |       // COUNT(*) AS BIGINT) AS boiler_ppm
           |FROM g JOIN df USING (source, g)
           |GROUP BY g.doc_id ORDER BY g.doc_id""".stripMargin,
      "text_tokenize_ids" ->
        s"""WITH allw AS (
           |  SELECT unnest(string_split(text, ' ')) AS word FROM documents
           |), counts AS (
           |  SELECT word, COUNT(*) AS cnt FROM allw GROUP BY word
           |), ranked AS (
           |  SELECT word, CAST(row_number() OVER (ORDER BY cnt DESC, word) AS INTEGER) AS vid
           |  FROM counts
           |), vocab AS (
           |  SELECT word, vid FROM ranked WHERE vid <= $VocabSize
           |), tok AS (
           |  SELECT doc_id,
           |    unnest(range(1, len(string_split(text, ' ')) + 1)) AS pos,
           |    string_split(text, ' ') AS ws
           |  FROM documents
           |), t2 AS (
           |  SELECT doc_id, pos, ws[pos] AS word FROM tok
           |)
           |SELECT doc_id, COUNT(*) AS n_tokens,
           |  CAST(SUM(CASE WHEN v.vid IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
           |  CAST(SUM(pos * COALESCE(v.vid, 0)) AS BIGINT) AS checksum
           |FROM t2 LEFT JOIN vocab v USING (word)
           |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
      "text_chunk" ->
        s"""WITH d AS (
           |  SELECT doc_id, string_split(text, ' ') AS w FROM documents
           |), n AS (
           |  SELECT doc_id, w,
           |    (greatest(len(w) - $ChunkSize, 0) + ${ChunkStride - 1}) // $ChunkStride + 1 AS nchunks
           |  FROM d
           |), c AS (
           |  SELECT doc_id, w, unnest(range(0, nchunks)) AS k FROM n
           |), s AS (
           |  SELECT doc_id, CAST(k AS INTEGER) AS chunk_idx,
           |    w[k * $ChunkStride + 1 : k * $ChunkStride + $ChunkSize] AS chunk
           |  FROM c
           |)
           |SELECT doc_id, chunk_idx, CAST(len(chunk) AS INTEGER) AS n_words,
           |  ${Hashing.duckHash60("array_to_string(chunk, ' ')")} AS fp
           |FROM s ORDER BY doc_id, chunk_idx""".stripMargin,
      "vocab_topk" ->
        """WITH w AS (
          |  SELECT lang, unnest(string_split(text, ' ')) AS word FROM documents
          |), counted AS (
          |  SELECT lang, word, COUNT(*) AS cnt FROM w GROUP BY lang, word
          |), ranked AS (
          |  SELECT lang, word, cnt,
          |    CAST(row_number() OVER (PARTITION BY lang ORDER BY cnt DESC, word) AS INTEGER) AS rn
          |  FROM counted
          |)
          |SELECT lang, rn, word, cnt FROM ranked WHERE rn <= 10
          |ORDER BY lang, rn""".stripMargin,
      "text_fingerprint" ->
        s"""WITH g AS (
           |  SELECT doc_id,
           |    list_transform(
           |      range(1, greatest(len(string_split(text, ' ')) - 3, 1)),
           |      i -> ${Hashing.duckHash60("array_to_string(string_split(text, ' ')[i:i+4], ' ')")}) AS hashes
           |  FROM documents
           |)
           |SELECT doc_id,
           |  list_aggregate(hashes, 'min') AS fp_min,
           |  list_aggregate(hashes, 'max') AS fp_max,
           |  CAST(len(hashes) AS INTEGER) AS n_grams
           |FROM g ORDER BY doc_id""".stripMargin,
    )
  }
}
