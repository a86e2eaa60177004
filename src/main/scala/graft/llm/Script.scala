package graft.llm

import graft.{QueryModule, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Non-Latin / script-aware text tier (north-star EXT; judge-directed):
  * every trained-tokenizer and curation path in this engine normalizes
  * through `[^a-z]+` ([[Unigram]]/[[Bpe]]'s token-boundary contract),
  * which silently COLLAPSES a CJK/Cyrillic/Arabic document to an empty
  * token stream — it vanishes from fertility, packing, and curation
  * gates without an error. Real 100 TB web corpora are majority
  * non-English, so the loss must at minimum be MEASURED, and a
  * codepoint-class-aware path must exist for text the Latin pipeline
  * cannot see.
  *
  * Corpus planting: the synthetic documents table is ASCII, so
  * deterministic non-Latin derivatives are planted by per-character
  * transliteration (`translate` — identical Postgres semantics in Spark
  * and DuckDB): doc_id % 11 == 3 → Cyrillic, == 5 → CJK (spaces deleted
  * too — CJK text carries no word separators, the property that breaks
  * space-based tokenizers), == 7 → Arabic; every other doc keeps its
  * Latin text. Both engines replay the planting from the raw table, so
  * the whole tier oracles end-to-end.
  *
  * Script classification is data-derived (never the planting rule):
  * per-class letter counts via delete-`translate` (exact, no regex
  * dialect risk), argmax with a fixed priority (latin, cyrillic, cjk,
  * arabic — first wins ties).
  *
  * The AWARE tokenization: word runs over the union alphabet of the
  * spaced scripts (Latin ∪ Cyrillic ∪ Arabic) + ONE TOKEN PER CJK CHAR
  * (the standard CJK heuristic — no spaces to split on). Everything is
  * per-row expression work: a map stage over the corpus, no shuffle
  * until the script-sized groupBy — safe at any scale.
  */
object Script extends QueryModule {

  /** The planted alphabets — 26 letters each, all BMP codepoints (so
    * char-counting agrees across engines). Cyrillic: а..щ (26 of 33);
    * CJK: 26 common Han chars; Arabic: 26 of the 28 base letters. */
  val Latin = "abcdefghijklmnopqrstuvwxyz"
  val Cyr = "абвгдежзийклмнопрстуфхцчшщ"
  val Cjk = "的一是不了人我在有他这中大来上国个到说们为子和你地出"
  val Arab = "ابتثجحخدذرزسشصضطظعغفقكلمنه"
  require(Seq(Cyr, Cjk, Arab).forall(_.length == 26),
    "planted alphabets must map 1:1 from the 26 Latin letters")

  /** The planted corpus: (doc_id, t) with deterministic script classes.
    * CJK planting maps `from` = Latin + space onto 26 chars — translate
    * deletes chars with no counterpart, so CJK docs lose their spaces. */
  private[graft] def plantedCol: Column = {
    val s = lower(col("text"))
    when(col("doc_id") % 11 === 3, translate(s, Latin, Cyr))
      .when(col("doc_id") % 11 === 5, translate(s, Latin + " ", Cjk))
      .when(col("doc_id") % 11 === 7, translate(s, Latin, Arab))
      .otherwise(s)
  }

  /** Letters of `alpha` in `t`, by delete-translate — exact and
    * regex-dialect-free in both engines. */
  private def nOf(t: Column, alpha: String): Column =
    length(t) - length(translate(t, alpha, ""))

  /** The CURRENT Latin pipeline's token count (the `[^a-z]+`
    * normalization every trained tokenizer uses) — nonempty word runs
    * only, so an all-non-Latin doc counts ZERO. */
  private[graft] def latinPipeTokens(t: Column): Column =
    size(filter(split(trim(regexp_replace(t, "[^a-z]+", " ")), " "),
      w => length(w) >= 1))

  /** Script-aware token count: spaced-script word runs + one token per
    * CJK char. */
  private[graft] def awareTokens(t: Column): Column =
    regexp_count(t, lit(s"[$Latin$Cyr$Arab]+")) + nOf(t, Cjk)

  /** Data-derived script class — fixed priority (latin, cyrillic, cjk,
    * arabic; earlier wins ties), mirrored verbatim in the oracle. */
  private[graft] def scriptOf(t: Column): Column = {
    val (nl, ncy, ncj, na) = (nOf(t, Latin), nOf(t, Cyr), nOf(t, Cjk), nOf(t, Arab))
    when(ncy > nl && ncy >= ncj && ncy >= na, lit("cyrillic"))
      .when(ncj > nl && ncj > ncy && ncj >= na, lit("cjk"))
      .when(na > nl && na > ncy && na > ncj, lit("arabic"))
      .otherwise(lit("latin"))
  }

  /** EXT: the per-script RETENTION report — what the `[a-z]` pipeline
    * keeps vs what a script-aware tokenization sees, per classified
    * script: `lost_docs` counts documents the current pipeline drops
    * ENTIRELY (zero Latin tokens, nonzero aware tokens — they vanish
    * from every downstream gate), `retained_permille` is the token-mass
    * fraction the Latin path retains. On the planted corpus the three
    * non-Latin classes must show retention ≈ 0 — the measured loss this
    * tier exists to surface — while Latin retains ≈ 1000. */
  def scriptCoverage(spark: SparkSession, sfDir: String): DataFrame = {
    val t = col("t")
    Tables.documents(spark, sfDir)
      .select(col("doc_id"), plantedCol.as("t"))
      .select(col("doc_id"),
        scriptOf(t).as("script"),
        latinPipeTokens(t).cast("long").as("latin_toks"),
        awareTokens(t).cast("long").as("aware_toks"))
      .groupBy("script")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("latin_toks")).as("latin_tokens"),
        sum(col("aware_toks")).as("aware_tokens"),
        sum(when(col("latin_toks") === 0 && col("aware_toks") > 0, 1L)
          .otherwise(0L)).as("lost_docs"))
      .withColumn("retained_permille",
        expr("latin_tokens * 1000 div aware_tokens"))
      .orderBy("script")
  }

  /** Script-aware word counts — the [[Unigram.wordCountsOf]] shape over
    * the union alphabet (plus per-char CJK tokens): the normalization a
    * multilingual tokenizer train run feeds its trainer instead of the
    * `[a-z]` path. Package-visible so the survival spec pins that a
    * non-Latin doc yields word types here while yielding NONE through
    * the Latin path. */
  /** The aware word array of a text column: pad each CJK char with
    * spaces (its own token), then split on the union-alphabet
    * complement. */
  private def awareWordsCol(text: Column): Column = {
    val t = lower(text)
    val spacedCjk = regexp_replace(t, s"([$Cjk])", " $1 ")
    split(trim(regexp_replace(spacedCjk, s"[^$Latin$Cyr$Arab$Cjk]+", " ")), " ")
  }

  private[llm] def wordCountsAware(docs: DataFrame): DataFrame =
    docs
      .select(explode(awareWordsCol(col("text"))).as("w0"))
      .filter(length(col("w0")) >= 1)
      .select(substring(col("w0"), 1, Unigram.MaxWordLen).as("w"))
      .groupBy("w").agg(count(lit(1)).as("cw"))

  /** EXT: per-SCRIPT fertility of the trained multi-script unigram
    * model — the tokenizer-equity table ([[Bpe.bpeFertility]]'s shape)
    * on the script axis: chars-per-token of the ONE shared multilingual
    * vocab per script class. This is the number multilingual vocab
    * sizing gets decided on (a vocab trained on a skewed script mix
    * compresses the dominant script best; per-char CJK shows fertility
    * ≈ 1 by construction of the aware tokenizer). One corpus-words scan
    * + the standing word→np artifact join + a script-sized groupBy;
    * the oracle re-learns the model AND re-derives each doc's script
    * class independently. */
  def unigramMultiFertility(spark: SparkSession, sfDir: String): DataFrame =
    fertilityOverZone(spark, sfDir,
      Unigram.modelZoneFor(spark, sfDir, "multi",
        wordCountsAware(Tables.documents(spark, sfDir)
          .select(col("doc_id"), plantedCol.as("text")))))

  /** Per-script fertility off one model zone's word→np artifact. */
  private def fertilityOverZone(
      spark: SparkSession, sfDir: String, root: java.io.File): DataFrame = {
    val np = graft.sources.Maintenance.readZoneThroughManifest(
      spark, new java.io.File(root, "manifest"), Unigram.WordNpZone)
      .select("w", "np")
    // widened when the scan is row-group-narrow (guide §2.5; Tables
    // scaladoc): the planting CASE + 8 classification translates + the
    // two aware-tokenization regex passes are the per-row-expensive kind
    // that otherwise run on ONE task over a 1-row-group table
    // (r14-measured: a single 1.8 s task carried this whole query)
    Tables.repartitionIfNarrow(Tables.documents(spark, sfDir).select(col("doc_id"), col("text")))
      .select(col("doc_id"), plantedCol.as("t"))
      // script class attaches BEFORE the explode: scriptOf is 8
      // whole-document translates, so computing it per exploded WORD
      // row multiplies that by the doc's token count (~70× here,
      // unbounded at scale) — measured 25 s → sub-second at sf0.1
      .select(col("doc_id"), scriptOf(col("t")).as("script"), col("t"))
      .select(col("script"), explode(awareWordsCol(col("t"))).as("w0"))
      .filter(length(col("w0")) >= 1)
      .select(col("script"), substring(col("w0"), 1, Unigram.MaxWordLen).as("w"))
      .join(np, "w")
      .groupBy("script")
      .agg(count(lit(1)).as("n_words"),
        sum(length(col("w"))).cast("long").as("chars"),
        sum(col("np")).as("tokens"))
      .withColumn("chars_per_token_micro", expr("chars * 1000000 div tokens"))
      .orderBy("script")
  }

  /** Per-SCRIPT seed/prune budgets — the equity FIX: the shared-pool
    * trainer gives the dominant script every multi-char slot (measured:
    * `text_unigram_multi_fertility` shows Latin at 1.43 chars/token and
    * Cyrillic/Arabic at exactly 1.0), so the balanced variant budgets
    * the multi-char inventory PER SCRIPT CLASS — the UniMax-style
    * budget-per-group idea applied to vocab slots. */
  val BalancedSeedPerScript = 10
  val BalancedKeepPerScript = 7

  /** Script class of a PIECE (pieces are single-script because planted
    * words are): membership by delete-translate, fixed priority. */
  private def pieceClass(p: Column): Column =
    when(length(p) > length(translate(p, Cyr, "")), lit("cyrillic"))
      .when(length(p) > length(translate(p, Cjk, "")), lit("cjk"))
      .when(length(p) > length(translate(p, Arab, "")), lit("arabic"))
      .otherwise(lit("latin"))

  /** Per-class top-`per` multi-char pieces (cnt DESC, piece ASC) — the
    * balanced seed/prune strategy plugged into
    * [[Unigram.trainFramesWith]]. Bounded window: the piece table is
    * model-sized. */
  private def perScriptTop(per: Int)(multi: DataFrame): DataFrame = {
    val byCls = org.apache.spark.sql.expressions.Window
      .partitionBy("cls").orderBy(col("cnt").desc, col("piece"))
    multi.withColumn("cls", pieceClass(col("piece")))
      .withColumn("rn", row_number().over(byCls))
      .filter(col("rn") <= per)
      .select("piece", "cnt")
  }

  /** EXT: per-script fertility under the BALANCED multi-script model —
    * the measure → fix → re-measure loop closed: same schedule, same
    * corpus, same aware tokenization as `text_unigram_multi_fertility`,
    * but the multi-char vocab slots are budgeted per script, so the
    * tail scripts learn real pieces (fertility rises above 1.0) at a
    * small dominant-script cost. The oracle re-learns the balanced
    * schedule — the per-class windowed seed/prune replayed in SQL. */
  def unigramBalancedFertility(spark: SparkSession, sfDir: String): DataFrame =
    fertilityOverZone(spark, sfDir,
      Unigram.modelZoneFor(spark, sfDir, "multibal",
        wordCountsAware(Tables.documents(spark, sfDir)
          .select(col("doc_id"), plantedCol.as("text"))),
        w => Unigram.trainFramesWith(w,
          perScriptTop(BalancedSeedPerScript),
          perScriptTop(BalancedKeepPerScript))))

  /** EXT: the MULTI-SCRIPT unigram tokenizer train — the same Kudo-2018
    * schedule ([[Unigram]]: seed → E → M → prune → E → M), fed the
    * script-AWARE word counts of the planted multi-script corpus instead
    * of the `[a-z]` normalization. Everything downstream of the word
    * table is alphabet-agnostic (length/substr/cut-bitmask work on any
    * codepoints; string order is binary = codepoint order in both
    * engines), so the learned piece inventory mixes Latin, Cyrillic,
    * Arabic pieces and per-char CJK — a real multilingual vocab's shape.
    * The model persists as its own fingerprint-keyed standing zone
    * (variant "multi"); the oracle RE-LEARNS the full schedule over the
    * identically-planted, identically-normalized word table, so the
    * aware normalization AND the trainer's alphabet-independence are
    * pinned cross-engine end to end. */
  def unigramTrainMulti(spark: SparkSession, sfDir: String): DataFrame = {
    val root = Unigram.modelZoneFor(spark, sfDir, "multi",
      wordCountsAware(Tables.documents(spark, sfDir)
        .select(col("doc_id"), plantedCol.as("text"))))
    Unigram.trainReportOf(graft.sources.Maintenance.readZoneThroughManifest(
      spark, new java.io.File(root, "manifest"), Unigram.VocabZone))
  }

  /** Byte-level BPE over the planted multi-script corpus — the GPT-2
    * byte-fallback tokenizer: the state is UTF-8 BYTES rendered as hex
    * pairs in the [[Bpe]] pipe-wrap representation (`|D0||B0|` for
    * Cyrillic а), so the UNCHANGED merge trainer runs verbatim — byte
    * tokens can never contain `|`, and a merged token is just a longer
    * hex string. This is the normalization-free guarantee the Latin
    * pipeline lacks: EVERY script yields tokens (worst case one per
    * byte), no codepoint class list to maintain. Truncation happens on
    * CHARS before the encode (identical in both engines — a byte-level
    * cap could split a multi-byte codepoint differently than DuckDB's
    * char semantics). */
  val ByteBpeRounds = 6
  val ByteBpeMaxChars = 60

  private def byteState(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .select(col("doc_id"), plantedCol.as("t"))
      .select(col("doc_id"),
        regexp_replace(
          hex(encode(substring(col("t"), 1, ByteBpeMaxChars), "UTF-8")),
          "(..)", "|$1|").as("state"))
      .filter(length(col("state")) >= 8) // ≥ 2 byte tokens

  private val byteMergeMemo = scala.collection.concurrent.TrieMap
    .empty[String, Seq[(Int, String, String, Long)]]

  private def byteMerges(
      spark: SparkSession, sfDir: String): Seq[(Int, String, String, Long)] =
    byteMergeMemo.getOrElseUpdate(
      s"$sfDir#bytebpe@${Bpe.corpusFingerprint(spark, sfDir)}",
      Bpe.train(byteState(spark, sfDir), ByteBpeRounds)._1)

  /** EXT: the byte-level BPE merge table learned on the multi-script
    * corpus. The learned pairs themselves demonstrate the fallback:
    * beside ASCII digraphs, the trainer merges the multi-byte UTF-8
    * lead/continuation pairs of the planted non-Latin scripts (e.g.
    * `D0|B0` → `D0B0` = Cyrillic а) — text the `[a-z]` pipeline drops
    * entirely becomes learnable structure. The oracle re-learns all
    * rounds over the identically-planted byte state. */
  def bpeBytesTrain(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    byteMerges(spark, sfDir).toDF("round", "a", "b", "cnt").orderBy("round")
  }

  /** EXT: per-script fertility of the byte-level tokenizer — BYTES per
    * token per script class under the learned merges. The byte
    * fallback's contract, as a number: every script is ≥ 1.0 (nothing
    * vanishes), and scripts whose byte pairs won merge slots compress
    * beyond it. One codegen'd chained-replace scan + the script-class
    * attach + a script-sized groupBy. */
  def bpeBytesFertility(spark: SparkSession, sfDir: String): DataFrame = {
    val enc = Bpe.applyMerges(byteState(spark, sfDir), byteMerges(spark, sfDir))
      .selectExpr("doc_id",
        "CAST(size(split(substring(state, 2, length(state) - 2), '\\\\|\\\\|')) AS BIGINT) AS n_tokens",
        "CAST(length(state) AS BIGINT) AS len_state")
      .selectExpr("doc_id", "(len_state - 2 * n_tokens) div 2 AS n_bytes", "n_tokens")
    Tables.documents(spark, sfDir)
      .select(col("doc_id"), plantedCol.as("t"))
      .select(col("doc_id"), scriptOf(col("t")).as("script"))
      .join(enc, "doc_id")
      .groupBy("script")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_bytes")).cast("long").as("bytes"),
        sum(col("n_tokens")).as("tokens"))
      .withColumn("bytes_per_token_micro", expr("bytes * 1000000 div tokens"))
      .orderBy("script")
  }

  override def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "text_script_coverage" -> (scriptCoverage _),
    "text_unigram_multi" -> (unigramTrainMulti _),
    "text_unigram_multi_fertility" -> (unigramMultiFertility _),
    "text_unigram_balanced_fertility" -> (unigramBalancedFertility _),
    "text_bpe_bytes" -> (bpeBytesTrain _),
    "text_bpe_bytes_fertility" -> (bpeBytesFertility _),
  )

  /** SQL piece-class CASE over `src` (same membership-by-translate and
    * priority as [[pieceClass]]). */
  private def clsCase(src: String): String =
    s"""CASE WHEN length($src) > length(translate($src, '$Cyr', '')) THEN 'cyrillic'
       |     WHEN length($src) > length(translate($src, '$Cjk', '')) THEN 'cjk'
       |     WHEN length($src) > length(translate($src, '$Arab', '')) THEN 'arabic'
       |     ELSE 'latin' END""".stripMargin

  /** The multi-script chain with the BALANCED per-class seed/prune CTEs
    * swapped in for the global top-k vocab0/vocab1. */
  private def balancedCtes: Seq[String] = {
    val v0 =
      s"""u_vocab0 AS (
         |  SELECT piece, cnt FROM u_subs WHERE length(piece) = 1
         |  UNION ALL
         |  SELECT piece, cnt FROM (
         |    SELECT piece, cnt, row_number() OVER (PARTITION BY cls ORDER BY cnt DESC, piece) AS rn
         |    FROM (SELECT piece, cnt, ${clsCase("piece")} AS cls
         |          FROM u_subs WHERE length(piece) >= 2) z) y
         |  WHERE rn <= $BalancedSeedPerScript)""".stripMargin
    val v1 =
      s"""u_vocab1 AS (
         |  SELECT v.piece, COALESCE(m.cnt, 0) AS cnt
         |  FROM u_vocab0 v LEFT JOIN u_m1 m ON v.piece = m.piece WHERE length(v.piece) = 1
         |  UNION ALL
         |  SELECT piece, cnt FROM (
         |    SELECT piece, cnt, row_number() OVER (PARTITION BY cls ORDER BY cnt DESC, piece) AS rn
         |    FROM (SELECT v.piece AS piece, COALESCE(m.cnt, 0) AS cnt, ${clsCase("v.piece")} AS cls
         |          FROM u_vocab0 v LEFT JOIN u_m1 m ON v.piece = m.piece
         |          WHERE length(v.piece) >= 2) z) y
         |  WHERE rn <= $BalancedKeepPerScript)""".stripMargin
    Unigram.unigramCtesWith(awareWordsCte).map {
      case c if c.startsWith("u_vocab0 AS") => v0
      case c if c.startsWith("u_vocab1 AS") => v1
      case c => c
    }
  }

  /** The planted + aware-normalized u_words CTE pair (DuckDB) — the
    * [[Unigram.latinWordsCte]] swap-in for the multi-script chain. The
    * CJK pad uses RE2's `\\1` backreference (Spark side uses `$1`);
    * both engines then split on the union-alphabet complement. */
  /** The planted multi-script corpus as a standalone CTE (DuckDB). */
  private def plantedCte: String =
    s"""planted AS (
       |  SELECT doc_id,
       |    CASE WHEN doc_id % 11 = 3 THEN translate(lower(text), '$Latin', '$Cyr')
       |         WHEN doc_id % 11 = 5 THEN translate(lower(text), '$Latin ', '$Cjk')
       |         WHEN doc_id % 11 = 7 THEN translate(lower(text), '$Latin', '$Arab')
       |         ELSE lower(text) END AS t
       |  FROM documents)""".stripMargin

  private def awareWordsCte: String =
    plantedCte + ",\n" +
    s"""u_words AS (
       |  SELECT substr(w0, 1, ${Unigram.MaxWordLen}) AS w, count(*) AS cw FROM (
       |    SELECT unnest(string_split(trim(regexp_replace(
       |      regexp_replace(t, '([$Cjk])', ' \\1 ', 'g'),
       |      '[^$Latin$Cyr$Arab$Cjk]+', ' ', 'g')), ' ')) AS w0
       |    FROM planted) t2
       |  WHERE length(w0) >= 1 GROUP BY 1)""".stripMargin

  override def oracles: Map[String, String] = Map(
    "text_script_coverage" ->
      s"""WITH planted AS (
         |  SELECT doc_id,
         |    CASE WHEN doc_id % 11 = 3 THEN translate(lower(text), '$Latin', '$Cyr')
         |         WHEN doc_id % 11 = 5 THEN translate(lower(text), '$Latin ', '$Cjk')
         |         WHEN doc_id % 11 = 7 THEN translate(lower(text), '$Latin', '$Arab')
         |         ELSE lower(text) END AS t
         |  FROM documents
         |), f AS (
         |  SELECT doc_id, t,
         |    length(t) - length(translate(t, '$Latin', '')) AS nl,
         |    length(t) - length(translate(t, '$Cyr', '')) AS ncy,
         |    length(t) - length(translate(t, '$Cjk', '')) AS ncj,
         |    length(t) - length(translate(t, '$Arab', '')) AS na,
         |    len(list_filter(string_split(trim(regexp_replace(t, '[^a-z]+', ' ', 'g')), ' '),
         |        w -> length(w) >= 1)) AS latin_toks,
         |    len(regexp_extract_all(t, '[$Latin$Cyr$Arab]+'))
         |      + (length(t) - length(translate(t, '$Cjk', ''))) AS aware_toks
         |  FROM planted
         |), c AS (
         |  SELECT doc_id, latin_toks, aware_toks,
         |    CASE WHEN ncy > nl AND ncy >= ncj AND ncy >= na THEN 'cyrillic'
         |         WHEN ncj > nl AND ncj > ncy AND ncj >= na THEN 'cjk'
         |         WHEN na > nl AND na > ncy AND na > ncj THEN 'arabic'
         |         ELSE 'latin' END AS script
         |  FROM f
         |)
         |SELECT script, COUNT(*) AS n_docs,
         |  CAST(SUM(latin_toks) AS BIGINT) AS latin_tokens,
         |  CAST(SUM(aware_toks) AS BIGINT) AS aware_tokens,
         |  CAST(SUM(CASE WHEN latin_toks = 0 AND aware_toks > 0 THEN 1 ELSE 0 END) AS BIGINT) AS lost_docs,
         |  CAST(SUM(latin_toks) AS BIGINT) * 1000 // CAST(SUM(aware_toks) AS BIGINT) AS retained_permille
         |FROM c GROUP BY script ORDER BY script""".stripMargin,
    // NOTE: CTE blocks concatenate OUTSIDE any stripMargin (the
    // double-stripMargin trap eats a `|` from line-leading `||`).
    "text_unigram_multi" ->
      (Unigram.unigramCtesWith(awareWordsCte).mkString("WITH ", ",\n", "") + "\n" +
      s"""SELECT piece, CAST(length(piece) AS INTEGER) AS piece_len, CAST(cnt AS BIGINT) AS cnt,
         |  round(ln((cnt + 1.0) / (tot + v)), 6) AS logp
         |FROM u_final, (SELECT CAST(SUM(cnt) AS BIGINT) AS tot, COUNT(*) AS v FROM u_final)
         |ORDER BY cnt DESC, piece""".stripMargin),
    "text_unigram_multi_fertility" ->
      (Unigram.unigramCtesWith(awareWordsCte).mkString("WITH ", ",\n", "") +
        fertilityOracleTail),
    "text_unigram_balanced_fertility" ->
      (balancedCtes.mkString("WITH ", ",\n", "") + fertilityOracleTail),
    "text_bpe_bytes" ->
      (Bpe.oracleCteList(ByteBpeRounds, byteS0Cte).mkString("WITH ", ",\n", "") +
        "\nSELECT * FROM (" +
        (1 to ByteBpeRounds)
          .map(r => s"SELECT $r AS round, a, b, cnt FROM b$r WHERE cnt > 0")
          .mkString(" UNION ALL ") +
        ") ORDER BY round"),
    "text_bpe_bytes_fertility" ->
      (Bpe.oracleCteList(ByteBpeRounds, byteS0Cte).mkString("WITH ", ",\n", "") + ",\n" +
        s"""enc AS (
           |  SELECT doc_id,
           |    CAST(len(string_split(substr(state, 2, length(state)-2), '||')) AS BIGINT) AS n_tokens,
           |    CAST(length(state) AS BIGINT) AS len_state
           |  FROM s$ByteBpeRounds
           |), bts AS (
           |  SELECT doc_id, (len_state - 2 * n_tokens) // 2 AS n_bytes, n_tokens FROM enc
           |), """.stripMargin + clsCte + "\n" +
        s"""SELECT c.script, COUNT(*) AS n_docs,
           |  CAST(SUM(n_bytes) AS BIGINT) AS bytes,
           |  CAST(SUM(n_tokens) AS BIGINT) AS tokens,
           |  CAST(SUM(n_bytes) AS BIGINT) * 1000000
           |    // CAST(SUM(n_tokens) AS BIGINT) AS bytes_per_token_micro
           |FROM bts JOIN cls c USING (doc_id)
           |GROUP BY c.script ORDER BY c.script""".stripMargin),
  )

  /** Byte-state s0 (planted corpus → UTF-8 hex pairs, pipe-wrapped). */
  private def byteS0Cte: String =
    plantedCte + ",\n" +
    s"""s0 AS (
       |  SELECT doc_id,
       |    regexp_replace(hex(encode(substr(t, 1, $ByteBpeMaxChars))), '(..)', '|\\1|', 'g') AS state
       |  FROM planted
       |  WHERE length(regexp_replace(hex(encode(substr(t, 1, $ByteBpeMaxChars))), '(..)', '|\\1|', 'g')) >= 8)""".stripMargin

  /** The per-doc script-class CTE (DuckDB) shared by the fertility
    * oracles — same membership counts and priority as [[scriptOf]]. */
  private def clsCte: String =
    s"""cls AS (
       |  SELECT doc_id,
       |    CASE WHEN ncy > nl AND ncy >= ncj AND ncy >= na THEN 'cyrillic'
       |         WHEN ncj > nl AND ncj > ncy AND ncj >= na THEN 'cjk'
       |         WHEN na > nl AND na > ncy AND na > ncj THEN 'arabic'
       |         ELSE 'latin' END AS script
       |  FROM (
       |    SELECT doc_id,
       |      length(t) - length(translate(t, '$Latin', '')) AS nl,
       |      length(t) - length(translate(t, '$Cyr', '')) AS ncy,
       |      length(t) - length(translate(t, '$Cjk', '')) AS ncj,
       |      length(t) - length(translate(t, '$Arab', '')) AS na
       |    FROM planted) x
       |)""".stripMargin

  /** The fertility report CTE tail shared by the pooled and balanced
    * chains (concatenated OUTSIDE any stripMargin). */
  private def fertilityOracleTail: String =
    ",\n" +
      s"""u_docw AS (
         |  SELECT doc_id, substr(w0, 1, ${Unigram.MaxWordLen}) AS w FROM (
         |    SELECT doc_id, unnest(string_split(trim(regexp_replace(
         |      regexp_replace(t, '([$Cjk])', ' \\1 ', 'g'),
         |      '[^$Latin$Cyr$Arab$Cjk]+', ' ', 'g')), ' ')) AS w0
         |    FROM planted) q
         |  WHERE length(w0) >= 1
         |), cls AS (
         |  SELECT doc_id,
         |    CASE WHEN ncy > nl AND ncy >= ncj AND ncy >= na THEN 'cyrillic'
         |         WHEN ncj > nl AND ncj > ncy AND ncj >= na THEN 'cjk'
         |         WHEN na > nl AND na > ncy AND na > ncj THEN 'arabic'
         |         ELSE 'latin' END AS script
         |  FROM (
         |    SELECT doc_id,
         |      length(t) - length(translate(t, '$Latin', '')) AS nl,
         |      length(t) - length(translate(t, '$Cyr', '')) AS ncy,
         |      length(t) - length(translate(t, '$Cjk', '')) AS ncj,
         |      length(t) - length(translate(t, '$Arab', '')) AS na
         |    FROM planted) x
         |)
         |SELECT c.script, COUNT(*) AS n_words,
         |  CAST(SUM(length(d.w)) AS BIGINT) AS chars,
         |  CAST(SUM(b.np) AS BIGINT) AS tokens,
         |  CAST(SUM(length(d.w)) AS BIGINT) * 1000000
         |    // CAST(SUM(b.np) AS BIGINT) AS chars_per_token_micro
         |FROM u_docw d JOIN u_best2 b ON d.w = b.w JOIN cls c ON d.doc_id = c.doc_id
         |GROUP BY c.script ORDER BY c.script""".stripMargin
}
