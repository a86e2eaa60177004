package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.GraftOptimizations

class GraftOptimizationsSpec extends SparkSpec {

  // parquet-backed (a LocalRelation would be folded away before the rule
  // could be observed in the optimized plan)
  private def fixture = graft.Tables.customer(spark, sf0001)
  private val probe = "Customer#000000042"

  /** Evaluates `body` with the engine's rules excluded from every optimizer
    * batch: the builtin baseline each A/B compares against, scoped so the
    * shared session keeps its rules for every other suite.
    */
  private def builtin[T](body: => T): T = {
    val key = "spark.sql.optimizer.excludedRules"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, GraftOptimizations.rules.map(_.ruleName).mkString(","))
    try body
    finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("levenshtein <= k is rewritten to the banded kernel, results unchanged") {
    val df = fixture
    def keys(q: org.apache.spark.sql.DataFrame): Set[Long] =
      q.select("c_custkey").collect().map(_.getLong(0)).toSet
    val unbanded = builtin {
      val q = df.filter(levenshtein(col("c_name"), lit(probe)) <= 2)
      assert(!q.queryExecution.optimizedPlan.toString.contains("Some(2)) >= 0"))
      keys(q)
    }
    assert(unbanded.nonEmpty)

    val q = df.filter(levenshtein(col("c_name"), lit(probe)) <= 2)
    val optimized = q.queryExecution.optimizedPlan.toString
    assert(optimized.contains("Some(2)) >= 0"),
      s"expected banded 3-arg levenshtein in:\n$optimized")
    assert(keys(q) === unbanded)

    // strict < and reversed comparisons band too
    val lt = df.filter(levenshtein(col("c_name"), lit(probe)) < 3)
    assert(lt.queryExecution.optimizedPlan.toString.contains("Some(2)) >= 0"))
    assert(keys(lt) === unbanded)

    val rev = df.filter(lit(2) >= levenshtein(col("c_name"), lit(probe)))
    assert(keys(rev) === unbanded)
  }

  test("size(array_intersect) on sorted-distinct longs rewrites to the merge count") {
    // parquet-backed long arrays in the provable normal form; sequence()
    // yields containsNull=false elements so the soundness gate passes
    val df = fixture.selectExpr(
      "c_custkey",
      "sort_array(array_distinct(sequence(c_custkey % 7, c_custkey % 7 + 9))) AS a",
      "sort_array(array_distinct(sequence(c_custkey % 11, c_custkey % 11 + 6))) AS b")
    def counts(q: org.apache.spark.sql.DataFrame): Map[Long, Int] =
      q.collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val base = builtin {
      val q = df.selectExpr("c_custkey", "size(array_intersect(a, b)) AS c")
      assert(!q.queryExecution.optimizedPlan.toString.contains("graft_intersect_count"))
      counts(q)
    }
    assert(base.values.exists(_ > 0))

    val q = df.selectExpr("c_custkey", "size(array_intersect(a, b)) AS c")
    val optimized = q.queryExecution.optimizedPlan.toString
    assert(optimized.contains("graft_intersect_count"),
      s"expected merge-count rewrite in:\n$optimized")
    assert(counts(q) === base)

    // unproven sortedness (plain array construction) must NOT rewrite
    val bare = df.selectExpr(
      "size(array_intersect(array(c_custkey % 7, c_custkey % 7 + 1), a)) AS c")
    assert(!bare.queryExecution.optimizedPlan.toString.contains("graft_intersect_count"))
  }

  test("the builtin bigram idiom rewrites to the adjacent-pairs kernel, names and errors preserved") {
    val bigramExpr = "transform(sequence(1, size(w) - 1), " +
      "i -> struct(element_at(w, i) AS wa, element_at(w, i + 1) AS wb))"
    val docs = graft.Tables.documents(spark, sf0001)
    def pairs(q: org.apache.spark.sql.DataFrame): Seq[(String, String, Long)] =
      q.groupBy("p.wa", "p.wb").count()
        .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq.sorted
    def query = docs
      .selectExpr("split(text, ' ') AS w")
      .filter(size(col("w")) >= 2)
      .selectExpr(s"explode($bigramExpr) AS p")
    val base = builtin {
      assert(!query.queryExecution.optimizedPlan.toString.contains("graft_array_adjacent_pairs"))
      pairs(query)
    }
    assert(base.nonEmpty)

    val q = query
    val optimized = q.queryExecution.optimizedPlan.toString
    assert(optimized.contains("graft_array_adjacent_pairs"),
      s"expected adjacent-pairs rewrite in:\n$optimized")
    // the user's field names survive the rewrite (p.wa / p.wb resolved)
    assert(pairs(q) === base)
    // the one-word error path is PRESERVED: without the size guard a
    // single-word text drives element_at(w, 0), which must still error
    // after the rewrite (the size-guard falls through to the
    // original chain)
    import spark.implicits._
    val oneWord = Seq("solo").toDF("text").selectExpr("split(text, ' ') AS w")
      .selectExpr(s"explode($bigramExpr) AS p")
    assert(oneWord.queryExecution.optimizedPlan.toString.contains("graft_array_adjacent_pairs"))
    intercept[Exception] { oneWord.collect() }
  }

  test("adjacent-pairs rewrite is structurally idempotent across plan copies") {
    // The guard shape keeps the ORIGINAL transform as the If's else branch;
    // a stateful (TreeNodeTag) guard both (a) depended on tags surviving
    // node copies for termination and (b) SKIPPED the rewrite when a
    // cached/reused Dataset was re-optimized with the tag already set.
    // Structural idempotence must rewrite a FRESH copy of the same
    // expression tree, and applying the rule to its own output must be a
    // fixpoint (no nested guard Ifs).
    import org.apache.spark.sql.graft.AdjacentWordPairsRule
    val bigramExpr = "transform(sequence(1, size(w) - 1), " +
      "i -> struct(element_at(w, i) AS wa, element_at(w, i + 1) AS wb))"
    def freshPlan = graft.Tables.documents(spark, sf0001)
      .selectExpr("split(text, ' ') AS w")
      .selectExpr(s"$bigramExpr AS p")
      .queryExecution.analyzed
    val once = AdjacentWordPairsRule(freshPlan)
    assert(once.toString.contains("graft_array_adjacent_pairs"),
      s"rule must fire on an analyzed plan:\n$once")
    val twice = AdjacentWordPairsRule(once)
    assert(twice.toString === once.toString,
      "re-applying the rule to its own output must be a fixpoint")
    // a SECOND fresh copy of the same tree (what a re-optimized cached
    // Dataset presents) must still rewrite — no instance-level state
    val again = AdjacentWordPairsRule(freshPlan)
    assert(again.toString.contains("graft_array_adjacent_pairs"),
      "an identical fresh plan copy must still be rewritten")
  }

  test("install is idempotent") {
    GraftOptimizations.install(spark)
    GraftOptimizations.install(spark)
    val n = spark.experimental.extraOptimizations
      .count(GraftOptimizations.rules.contains)
    assert(n === GraftOptimizations.rules.size)
  }
}
