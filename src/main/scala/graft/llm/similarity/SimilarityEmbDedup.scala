package graft.llm

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._


/** Embedding-space deduplication: the exact cosine-threshold ground-truth
  * tier, its probe-sampled and RP-LSH production forms, and SemDeDup-style
  * per-cell semantic dedup.
  *
  * Mechanically moved from the former monolithic Similarity.scala (round
  * 11); behavior-identical — proved by the normalized plan-identity diff
  * and the untouched CORRECTNESS hashes.
  */

trait SimilarityEmbDedup extends SimilarityCore {

  /** Embedding-cosine near-duplicate pairs (the dedup family's vector
    * member): all pairs with cosine ≥ 0.45. This is the exact verification
    * stage run brute-force — correct at test scale and the ground truth the
    * approximate paths are judged against; at 100 TB the candidate set
    * comes from the RP-LSH buckets above (or banded multi-table LSH) and
    * only candidates reach this exact check, exactly like the
    * minhash→jaccard pipeline.
    */
  def dedupEmbedding(spark: SparkSession, sfDir: String): DataFrame =
    // widened when the scan is row-group-narrow (guide §2.5; Tables
    // scaladoc): the N² exact-verify loop streams the LEFT side, so a
    // 1-row-group table otherwise runs the whole pair scan on one task
    dedupEmbeddingOver(embDouble(Tables.repartitionIfNarrow(Tables.embeddings(spark, sfDir))))

  /** [[dedupEmbedding]]'s calibration tier as a PROBE sample: the
    * deterministic [[Dedup.CalibSamplePct]]% hash sample of vec_ids are
    * the probes, and each probe's exact ≥0.45 neighbors are found
    * against the FULL corpus — one row per (probe, neighbor), the
    * probe-centric view recall calibration actually consumes. Sampling
    * PROBES (not both endpoints) is the load-bearing design choice:
    * both-endpoint sampling thins the true-pair population by
    * (pct∕100)² — on a sparse-dup corpus it goes empty and the
    * "ground truth" calibrates nothing (observed: this corpus's 14
    * true pairs all lose ≥1 endpoint at 40%) — while probe sampling
    * keeps every sampled probe's denominator exact. Cost drops to
    * (pct∕100)·N² from N²; both engines filter on the identical hash
    * predicate before any vector math.
    */
  def dedupEmbeddingSampled(spark: SparkSession, sfDir: String): DataFrame = {
    // widened like dedupEmbedding (the probe×corpus loop streams probes)
    val emb = embDouble(Tables.repartitionIfNarrow(Tables.embeddings(spark, sfDir)))
      .withColumn("nrm", normOf(col("e")))
    val probes = emb
      .filter(pmod(graft.functions.Hashing.hash60(col("vec_id").cast("string")),
        lit(100)) < Dedup.CalibSamplePct)
      .select(col("vec_id").as("probe_id"), col("e").as("ea"), col("nrm").as("na"))
    val cands = emb
      .select(col("vec_id").as("nbr_id"), col("e").as("eb"), col("nrm").as("nb"))
    probes.join(cands, col("probe_id") =!= col("nbr_id"))
      .withColumn("cos",
        round(cosinePrenorm(col("ea"), col("eb"), col("na"), col("nb")), 6))
      .filter(col("cos") >= 0.45)
      .select("probe_id", "nbr_id", "cos")
      .orderBy("probe_id", "nbr_id")
  }

  protected def dedupEmbeddingOver(embeddings: DataFrame): DataFrame = {
    val emb = embeddings.withColumn("nrm", normOf(col("e")))
    val a = emb.select(col("vec_id").as("vec_a"), col("e").as("ea"), col("nrm").as("na"))
    val b = emb.select(col("vec_id").as("vec_b"), col("e").as("eb"), col("nrm").as("nb"))
    a.join(b, col("vec_a") < col("vec_b"))
      .withColumn("cos",
        round(cosinePrenorm(col("ea"), col("eb"), col("na"), col("nb")), 6))
      .filter(col("cos") >= 0.45)
      .select("vec_a", "vec_b", "cos")
      .orderBy("vec_a", "vec_b")
  }

  /** The SCALE path for `dedup_embedding`: identical threshold-pair
    * semantics, but candidates come from RP-LSH buckets with Hamming≤2
    * multiprobe (own bucket + 8 one-flip + 28 two-flip neighbors) instead
    * of the corpus×corpus comparison — candidate generation is an
    * equi-join on the bucket id, and only candidates pay the exact
    * cosine. Found pairs are a SUBSET of the exact form's (same verify
    * threshold), so |lsh| ∕ |exact| IS the recall — measured against
    * `dedupEmbedding` in `EmbeddingDedupLshSpec` and pinned. Honest
    * geometry note: at this corpus's only populated band (cos ≈ 0.45,
    * θ ≈ 63°) per-plane agreement is 1 − θ/π ≈ 0.65, so 8-plane
    * Hamming≤2 recall is only ≈ p⁸+8p⁷q+28p⁶q² ≈ 0.43 — LSH is the
    * wrong tool for LOW-similarity thresholds. At a production near-dup
    * threshold (cos ≥ 0.9, p ≈ 0.86) the same index recalls ≈ 0.9; the
    * synthetic corpus simply has no such pairs, so the query keeps the
    * low threshold to stay non-empty and the spec pins the measured
    * recall at it. Shape discipline: candidate dedup runs on bare id
    * pairs (vectors re-attached after), so the distinct never shuffles
    * 64-dim payloads.
    */
  def dedupEmbeddingLsh(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.functions.{Hashing, VectorExpressions}
    val planes = Hashing.RpPlanes
    val bucket = planes.zipWithIndex.map { case (p, j) =>
      when(VectorExpressions.dot_product(col("e"), typedlit(p)) > 0.0, lit(1 << j))
        .otherwise(lit(0))
    }.reduce(_ + _)
    val emb = embDouble(Tables.embeddings(spark, sfDir))
      .select(col("vec_id"), col("e"), bucket.as("bucket"))
    val flips = planes.indices.map(j => col("bucket").bitwiseXOR(lit(1 << j))) ++
      (for { i <- planes.indices; j <- planes.indices if i < j }
        yield col("bucket").bitwiseXOR(lit((1 << i) | (1 << j))))
    val probes = array(col("bucket") +: flips: _*)
    val aIds = emb.select(col("vec_id").as("vec_a"), explode(probes).as("pb"))
    val bIds = emb.select(col("vec_id").as("vec_b"), col("bucket").as("pb"))
    val cand = aIds.join(bIds, Seq("pb"))
      .filter(col("vec_a") < col("vec_b"))
      .select("vec_a", "vec_b").distinct()
    val va = emb.select(col("vec_id").as("vec_a"), col("e").as("ea"))
    val vb = emb.select(col("vec_id").as("vec_b"), col("e").as("eb"))
    cand.join(va, Seq("vec_a")).join(vb, Seq("vec_b"))
      .withColumn("cos", round(cosine(col("ea"), col("eb")), 6))
      .filter(col("cos") >= 0.45)
      .select("vec_a", "vec_b", "cos")
      .orderBy("vec_a", "vec_b")
  }

  /** SemDeDup-style SEMANTIC deduplication (Abbas et al., "SemDeDup: Data-
    * efficient learning at web-scale through semantic deduplication",
    * arXiv:2303.09540): cluster the embedding space, then compare pairs
    * ONLY within a cluster — the observation that semantic duplicates land
    * in the same k-means cell is what turns corpus×corpus cosine into
    * k × (cell × cell), the same cell-bounded discipline as `simAnnIvf`.
    *
    * Output is a per-vector keep/drop verdict: a vector DROPS iff some
    * SMALLER-id vector in its cluster has cosine ≥ τ with it
    * (`matched_to` = the smallest such id; NULL ⇒ kept). The keep-rule is
    * a deterministic policy knob: the paper keeps the member farthest
    * from the centroid, and a transitive-exact variant would run the
    * within-cluster pair graph through `ConnectedComponents` (that
    * pattern is `dedup_clusters`); min-id is engine-independent and makes
    * the whole verdict ORACLE-EXACT. τ = 0.45 targets the corpus's one
    * populated similarity band (see `dedupEmbeddingLsh`'s geometry note).
    *
    * At 100 TB: assignment is a broadcast-k map pass; the pair join
    * shuffles each cell once (cells are the unit of parallelism, sized by
    * k — more centroids ⇒ smaller cells ⇒ cheaper pairs at some recall
    * cost across cell boundaries, the standard SemDeDup tradeoff); the
    * verdict join shuffles ids + booleans, never vectors.
    */
  /** [[dedupSemantic]]'s loser set as PREFIXED CTEs (`sem_*`) so it
    * composes into the refinery oracle without colliding (the
    * `Curation.duckDecontCtes` discipline); exposes `sem_losers(doc_id)`
    * — the vec_ids the min-id SemDeDup verdict drops, id-joined to their
    * owning documents.
    */
  private[llm] def duckSemLoserCtes: String =
    s"""sem_e AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |  FROM embeddings
       |), sem_cents AS (
       |  SELECT vec_id AS cent_id, v AS cv FROM sem_e WHERE vec_id < $NCentroids
       |), sem_assigned AS (
       |  SELECT vec_id, v, cluster FROM (
       |    SELECT sem_e.vec_id, sem_e.v, sem_cents.cent_id AS cluster,
       |      row_number() OVER (PARTITION BY sem_e.vec_id
       |        ORDER BY ${duckCos("sem_e.v", "sem_cents.cv")} DESC, sem_cents.cent_id) AS crn
       |    FROM sem_e CROSS JOIN sem_cents)
       |  WHERE crn = 1
       |), sem_losers AS (
       |  SELECT DISTINCT b.vec_id AS doc_id
       |  FROM sem_assigned a JOIN sem_assigned b
       |    ON a.cluster = b.cluster AND a.vec_id < b.vec_id
       |   AND ROUND(${duckCos("a.v", "b.v")}, 6) >= $SemDedupTau
       |)""".stripMargin

  def dedupSemantic(spark: SparkSession, sfDir: String): DataFrame = {
    val emb = embDouble(Tables.embeddings(spark, sfDir))
    val cents = emb.filter(col("vec_id") < NCentroids)
      .select(col("vec_id").as("cent_id"), col("e").as("cente"))
    val byCent = Window.partitionBy("vec_id")
      .orderBy(col("ccos").desc, col("cent_id"))
    // pinned exchange on cluster: the assignment pass (broadcast-k argmax)
    // feeds both pair-join sides and the verdict join once (ReuseExchange)
    val assigned = emb.crossJoin(broadcast(cents))
      .withColumn("ccos", cosine(col("e"), col("cente")))
      .withColumn("crn", row_number().over(byCent))
      .filter(col("crn") === 1)
      .select(col("vec_id"), col("e"), col("cent_id").as("cluster"))
      .repartition(col("cluster"))
    val lo = assigned.select(
      col("cluster"), col("vec_id").as("va"), col("e").as("ea"))
    val hi = assigned.select(
      col("cluster").as("cluster_h"), col("vec_id").as("vb"), col("e").as("eb"))
    // within-cell pairs, cosine at the SAME rounded grid as the oracle;
    // per higher id keep only its smallest τ-neighbor
    val rep = lo.join(hi,
        col("cluster") === col("cluster_h") && col("va") < col("vb") &&
          round(cosine(col("ea"), col("eb")), 6) >= SemDedupTau)
      .groupBy(col("vb").as("vec_id"))
      .agg(min(col("va")).as("matched_to"))
    assigned.select(col("vec_id"), col("cluster"))
      .join(rep, Seq("vec_id"), "left_outer")
      .select(col("vec_id"), col("cluster"), col("matched_to"),
        col("matched_to").isNull.as("keep"))
      .orderBy("vec_id")
  }

  protected val SemDedupTau = 0.45

  protected def embDedupQueries: Map[String, (SparkSession, String) => DataFrame] = Map(

    "dedup_embedding" -> (dedupEmbedding _),
    "dedup_embedding_sampled" -> (dedupEmbeddingSampled _),
    "dedup_embedding_lsh" -> (dedupEmbeddingLsh _),
    "dedup_semantic"  -> (dedupSemantic _),

  )

  protected def embDedupOracles: Map[String, String] = Map(

    "dedup_embedding" ->
      s"""WITH e AS (
         |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
         |  FROM embeddings
         |)
         |SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
         |  ROUND(${duckCos("a.v", "b.v")}, 6) AS cos
         |FROM e a JOIN e b ON a.vec_id < b.vec_id
         |WHERE ROUND(${duckCos("a.v", "b.v")}, 6) >= 0.45
         |ORDER BY vec_a, vec_b""".stripMargin,
    "dedup_embedding_sampled" ->
      s"""WITH e AS (
         |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
         |  FROM embeddings
         |), s AS (
         |  SELECT * FROM e
         |  WHERE ${graft.functions.Hashing.duckHash60("CAST(vec_id AS VARCHAR)")} % 100 < ${Dedup.CalibSamplePct}
         |)
         |SELECT s.vec_id AS probe_id, c.vec_id AS nbr_id,
         |  ROUND(${duckCos("s.v", "c.v")}, 6) AS cos
         |FROM s JOIN e c ON s.vec_id <> c.vec_id
         |WHERE ROUND(${duckCos("s.v", "c.v")}, 6) >= 0.45
         |ORDER BY probe_id, nbr_id""".stripMargin,
    "dedup_embedding_lsh" ->
      s"""WITH e AS (
         |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
         |  FROM embeddings
         |), b AS (
         |  SELECT vec_id, v, $duckBucket AS bucket FROM e
         |), probes AS (
         |  SELECT vec_id AS vec_a,
         |    unnest([bucket, ${{
              val idx = graft.functions.Hashing.RpPlanes.indices
              (idx.map(j => s"xor(bucket, ${1 << j})") ++
                (for { i <- idx; j <- idx if i < j }
                  yield s"xor(bucket, ${(1 << i) | (1 << j)})")).mkString(", ")
            }}]) AS pb
         |  FROM b
         |), cand AS (
         |  SELECT DISTINCT p.vec_a, c.vec_id AS vec_b
         |  FROM probes p JOIN b c ON p.pb = c.bucket
         |  WHERE p.vec_a < c.vec_id
         |)
         |SELECT cand.vec_a, cand.vec_b,
         |  ROUND(${duckCos("va.v", "vb.v")}, 6) AS cos
         |FROM cand
         |JOIN b va ON cand.vec_a = va.vec_id
         |JOIN b vb ON cand.vec_b = vb.vec_id
         |WHERE ROUND(${duckCos("va.v", "vb.v")}, 6) >= 0.45
         |ORDER BY vec_a, vec_b""".stripMargin,
    "dedup_semantic" ->
      s"""WITH e AS (
         |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
         |  FROM embeddings
         |), cents AS (
         |  SELECT vec_id AS cent_id, v AS cv FROM e WHERE vec_id < $NCentroids
         |), assigned AS (
         |  SELECT vec_id, v, cluster FROM (
         |    SELECT e.vec_id, e.v, cents.cent_id AS cluster,
         |      row_number() OVER (PARTITION BY e.vec_id
         |        ORDER BY ${duckCos("e.v", "cents.cv")} DESC, cents.cent_id) AS crn
         |    FROM e CROSS JOIN cents)
         |  WHERE crn = 1
         |), rep AS (
         |  SELECT b.vec_id, MIN(a.vec_id) AS matched_to
         |  FROM assigned a JOIN assigned b
         |    ON a.cluster = b.cluster AND a.vec_id < b.vec_id
         |   AND ROUND(${duckCos("a.v", "b.v")}, 6) >= $SemDedupTau
         |  GROUP BY b.vec_id
         |)
         |SELECT s.vec_id, s.cluster, r.matched_to,
         |  (r.matched_to IS NULL) AS keep
         |FROM assigned s LEFT JOIN rep r ON s.vec_id = r.vec_id
         |ORDER BY s.vec_id""".stripMargin,

  )

}
