package graft.functions

import graft.SparkSpec
import graft.llm.Similarity
import org.apache.spark.sql.functions._

class VectorExpressionsSpec extends SparkSpec {
  import spark.implicits._

  private def vecs = Seq(
    (1L, Seq(1.0, 2.0, 3.0), Seq(4.0, 5.0, 6.0)),
    (2L, Seq(0.5, 0.25), Seq(0.125, 1.0)),
    (3L, Seq(1.5, -2.5), Seq(-1.0, 2.0)),
  ).toDF("id", "a", "b")

  test("native dot/cosine agree bit-for-bit with the HOF fold") {
    val native = vecs.select(
      VectorExpressions.dot_product(col("a"), col("b")).as("d"),
      VectorExpressions.cosine_sim(col("a"), col("b")).as("c"))
    val hof = vecs.select(
      Similarity.hofDot(col("a"), col("b")).as("d"),
      Similarity.hofCosine(col("a"), col("b")).as("c"))
    assert(native.collect().map(r => (r.getDouble(0), r.getDouble(1))).toSeq ===
      hof.collect().map(r => (r.getDouble(0), r.getDouble(1))).toSeq)
  }

  test("native l2_sq agrees bit-for-bit with the HOF fold, including on the corpus") {
    val hofL2 = org.apache.spark.sql.functions.expr(
      "aggregate(zip_with(a, b, (x, y) -> (x-y)*(x-y)), 0D, (acc, x) -> acc + x)")
    val small = vecs.select(
      VectorExpressions.l2_sq(col("a"), col("b")).as("n"), hofL2.as("h"))
    assert(small.collect().map(r => (r.getDouble(0), r.getDouble(1)))
      .forall { case (n, h) => n == h })
    val emb = Tables2.embeddingsDouble
    val hofL2e = org.apache.spark.sql.functions.expr(
      "aggregate(zip_with(ex, ey, (p, q) -> (p-q)*(p-q)), 0D, (acc, x) -> acc + x)")
    val pairs = emb.as("x").crossJoin(emb.as("y")).limit(2000)
      .select(col("x.e").as("ex"), col("y.e").as("ey"))
      .select(VectorExpressions.l2_sq(col("ex"), col("ey")).as("native"),
        hofL2e.as("hof"))
    assert(pairs.filter(col("native") =!= col("hof")).count() === 0)
  }

  test("native expression matches on the full embeddings corpus") {
    val emb = Tables2.embeddingsDouble
    val pairs = emb.as("x").crossJoin(emb.as("y")).limit(2000)
      .select(
        VectorExpressions.cosine_sim(col("x.e"), col("y.e")).as("native"),
        Similarity.hofCosine(col("x.e"), col("y.e")).as("hof"))
    assert(pairs.filter(col("native") =!= col("hof")).count() === 0)
  }

  test("zero-norm vector yields NaN (not an ANSI divide error)") {
    val df = Seq((1L, Seq(0.0, 0.0), Seq(1.0, 2.0))).toDF("id", "a", "b")
    val v = df.select(VectorExpressions.cosine_sim(col("a"), col("b")).as("c"))
      .head().getDouble(0)
    assert(v.isNaN)
  }

  test("null array, null element, and length mismatch all yield null") {
    val df = Seq(
      (1L, Seq[java.lang.Double](1.0, 2.0), null.asInstanceOf[Seq[java.lang.Double]]),
      (2L, Seq[java.lang.Double](1.0, null), Seq[java.lang.Double](1.0, 2.0)),
      (3L, Seq[java.lang.Double](1.0), Seq[java.lang.Double](1.0, 2.0)),
    ).toDF("id", "a", "b")
    val out = df.select(col("id"), VectorExpressions.dot_product(col("a"), col("b")).as("d"))
      .orderBy("id").collect()
    assert(out.forall(_.isNullAt(1)))
  }

  test("float arrays implicitly cast (embedding column works unconverted)") {
    val raw = spark.read.parquet(s"$sf0001/embeddings.parquet").limit(5)
    val out = raw.select(
      VectorExpressions.cosine_sim(col("embedding"), col("embedding")).as("self"))
      .collect().map(_.getDouble(0))
    assert(out.forall(v => math.abs(v - 1.0) < 1e-9))
  }

  test("Graft.install registers the whole graft_* SQL surface") {
    graft.Graft.install(spark)
    val r = spark.sql(
      "SELECT graft_intersect_count(array(1L, 2L, 5L), array(2L, 3L, 5L)) AS c")
      .collect()
    assert(r.head.getInt(0) === 2)
  }

  test("SQL registration: graft_suffix_lcp callable from spark.sql") {
    graft.Graft.install(spark)
    val r = spark.sql(
      "SELECT graft_suffix_lcp(array('x','a','b','c'), 2L, " +
        "array('y','a','b','d'), 2L) AS l").collect()
    assert(r.head.getLong(0) === 2L)
  }

  test("SQL registration: graft_cosine callable from spark.sql") {
    spark.read.parquet(s"$sf0001/embeddings.parquet").limit(3)
      .createOrReplaceTempView("emb_t")
    val r = spark.sql("SELECT graft_cosine(embedding, embedding) AS c FROM emb_t")
      .collect().map(_.getDouble(0))
    assert(r.forall(v => math.abs(v - 1.0) < 1e-9))
  }

  test("SQL registration: graft_word_ngrams60 + graft_simhash60 compose in spark.sql") {
    spark.read.parquet(s"$sf0001/documents.parquet").limit(5)
      .createOrReplaceTempView("docs_t")
    val viaSql = spark.sql(
      "SELECT doc_id, graft_simhash60(graft_word_ngrams60(text, 1, true)) AS sh FROM docs_t")
    val viaApi = spark.read.parquet(s"$sf0001/documents.parquet").limit(5)
      .select(col("doc_id"),
        VectorExpressions.simhash60(
          VectorExpressions.word_ngram_hashes(col("text"), 1, distinct = true)).as("expected"))
    val diff = viaSql.join(viaApi, "doc_id")
      .filter(col("sh") =!= col("expected")).count()
    assert(diff === 0)
  }

  test("SQL registration: the adjacent-pairs family callable from spark.sql") {
    val r = spark.sql(
      "SELECT graft_word_pairs('a b c') AS wp, " +
        "graft_token_pairs('|a||b||c|') AS tp, " +
        "graft_adjacent_pairs(array('a', 'b', 'c')) AS ap").collect().head
    def pairs(i: Int): Seq[(String, String)] =
      r.getSeq[org.apache.spark.sql.Row](i).map(s => (s.getString(0), s.getString(1)))
    assert(pairs(0) === Seq(("a", "b"), ("b", "c")))
    assert(pairs(1) === Seq(("a", "b"), ("b", "c")))
    assert(pairs(2) === Seq(("a", "b"), ("b", "c")))
  }

  test("expression participates in whole-stage codegen (no fallback)") {
    // needs a non-local source: local Seqs get constant-folded at plan time
    val df = spark.read.parquet(s"$sf0001/embeddings.parquet")
      .select(VectorExpressions.cosine_sim(col("embedding"), col("embedding")).as("c"))
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("*("), p) // codegen stage wraps the projection
    assert(p.contains("graft_cosine"), p)
  }

  test("sorted intersect count equals array_intersect on the shingle corpus") {
    // real corpus shingle sets in normal form (sorted-distinct), all pairs
    // within a language — non-foldable source so codegen actually runs
    val d = graft.Tables.documents(spark, sf0001)
      .withColumn("w", split(col("text"), " "))
      .select(col("doc_id"), col("lang"), sort_array(expr(
        "array_distinct(transform(sequence(1, greatest(size(w) - 2, 1)), " +
          "i -> cast(conv(substring(md5(concat_ws(' ', slice(w, i, 3))), 1, 15), 16, 10) as bigint)))")).as("s"))
      .limit(60)
    val pairs = d.as("x").join(d.as("y"), col("x.lang") === col("y.lang"))
      .select(
        VectorExpressions.sorted_intersect_count(col("x.s"), col("y.s")).as("merge"),
        size(array_intersect(col("x.s"), col("y.s"))).as("builtin"))
    assert(pairs.count() > 0)
    assert(pairs.filter(col("merge") =!= col("builtin")).count() === 0)
  }

  test("sorted intersect count: disjoint, subset, null, empty edges") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("a", ArrayType(LongType), nullable = true),
      StructField("b", ArrayType(LongType), nullable = true)))
    val df = spark.createDataFrame(java.util.List.of(
      Row(Seq(1L, 5L, 9L), Seq(2L, 6L, 10L)),         // disjoint → 0
      Row(Seq(2L, 6L), Seq(1L, 2L, 6L, 8L)),          // subset → 2
      Row(Seq.empty[Long], Seq(1L, 2L)),              // empty → 0
      Row(null, Seq(1L)),                             // null input → null
    ), schema)
    val out = df.select(
      VectorExpressions.sorted_intersect_count(col("a"), col("b")).as("c")).collect()
    assert(out(0).getInt(0) === 0)
    assert(out(1).getInt(0) === 2)
    assert(out(2).getInt(0) === 0)
    assert(out(3).isNullAt(0))
  }

  test("fused minhash signature equals the 16 HOF folds on the corpus") {
    val p = Hashing.MinhashP
    val shingles = graft.Tables.documents(spark, sf0001)
      .withColumn("w", split(col("text"), " "))
      .select(col("doc_id"), expr(
        "array_distinct(transform(sequence(1, greatest(size(w) - 2, 1)), " +
          "i -> cast(conv(substring(md5(concat_ws(' ', slice(w, i, 3))), 1, 15), 16, 10) as bigint)))").as("s"))
    val hofExprs = Hashing.MinhashParams.zipWithIndex.map { case ((pa, pb), i) =>
      aggregate(col("s"), lit(p),
        (acc, h) => least(acc, (lit(pa) * (h % p) + lit(pb)) % p)).as(s"mh$i")
    }
    val both = shingles.select(
      (col("doc_id") +:
        VectorExpressions.minhash_signature(col("s"), Hashing.MinhashParams, p).as("fused") +:
        hofExprs): _*)
    val mismatches = both.filter(
      (0 until 16).map(i => element_at(col("fused"), i + 1) =!= col(s"mh$i")).reduce(_ || _))
    assert(mismatches.count() === 0)
  }

  test("minhash signature of empty set is all-P; null array is null") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(StructField("s", ArrayType(LongType), nullable = true)))
    val df = spark.createDataFrame(
      java.util.List.of(Row(Seq.empty[Long]), Row(null)), schema)
    val out = df.select(
      VectorExpressions.minhash_signature(col("s"), Hashing.MinhashParams, Hashing.MinhashP).as("m"))
      .collect()
    assert(out(0).getSeq[Long](0).forall(_ == Hashing.MinhashP))
    assert(out(1).isNullAt(0))
  }

  private object Tables2 {
    def embeddingsDouble = spark.read.parquet(s"$sf0001/embeddings.parquet")
      .select(col("vec_id"), transform(col("embedding"), x => x.cast("double")).as("e"))
  }
}
