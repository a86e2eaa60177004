package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.graft.VectorBridge

/** Public API for the native vector expressions (implementation in
  * org.apache.spark.sql.graft.VectorFolds — hosted in the sql package
  * because the Expression→Column bridge and implicit-cast input typing are
  * `private[sql]`).
  *
  * Preference order honored (builtin > higher-order fn > native Expression
  * > UDF): these exist because the cosine needs three HOF folds and a
  * per-row intermediate array, while the native expression is one fused
  * codegen loop. Results are bit-identical to the HOF formulation (same
  * sequential double accumulation).
  */
object VectorExpressions {

  /** dot(a, b) over array<double> (array<float> implicitly casts). */
  def dot_product(a: Column, b: Column): Column = VectorBridge.dotProduct(a, b)

  /** cosine similarity in one fused traversal. */
  def cosine_sim(a: Column, b: Column): Column = VectorBridge.cosineSim(a, b)

  /** squared L2 distance Σ(aᵢ−bᵢ)² in one fused traversal — the IVF-PQ
    * encode/ADC/re-rank kernel (bit-identical to the HOF fold: same
    * sequential accumulation). */
  def l2_sq(a: Column, b: Column): Column = VectorBridge.l2Sq(a, b)

  /** All MinHash permutation minima over an array<long> shingle set in one
    * fused traversal (vs one interpreted `aggregate` fold per permutation).
    */
  def minhash_signature(shingles: Column, params: Seq[(Long, Long)], p: Long): Column =
    VectorBridge.minhashSignature(shingles, params, p)

  /** |A ∩ B| of two ascending-sorted distinct array<long> columns by
    * allocation-free two-pointer merge; equals size(array_intersect(a,b))
    * on that normal form (see SortedIntersectCount scaladoc).
    */
  def sorted_intersect_count(a: Column, b: Column): Column =
    VectorBridge.sortedIntersectCount(a, b)

  /** Word-n-gram 60-bit hashes of a text column in one fused pass —
    * bit-identical to the builtin
    * transform(sequence)/slice/concat_ws/md5/conv pipeline (see
    * org.apache.spark.sql.graft.NgramHash), with `distinct` reproducing
    * array_distinct (first occurrence, insertion order).
    */
  def word_ngram_hashes(text: Column, n: Int, distinct: Boolean): Column =
    VectorBridge.wordNgramHashes(text, n, distinct)

  /** 60-bit SimHash over an array<long> of token hashes in one fused pass
    * (order-independent integer votes == the explode+sum aggregation form).
    */
  def simhash60(tokenHashes: Column): Column = VectorBridge.simhash60(tokenHashes)

  /** Adjacent token pairs of a pipe-wrapped BPE state in one byte scan —
    * bit-identical to the split/transform/element_at chain it replaces
    * (see org.apache.spark.sql.graft.TokenPairs); fewer than two tokens
    * yields an empty array (the size filter, absorbed).
    */
  def token_pairs(state: Column): Column = VectorBridge.tokenPairs(state)

  /** Adjacent space-separated word pairs of a raw text column in one byte
    * scan — bit-identical to the split(text, " ")/transform/element_at
    * chain it replaces (see org.apache.spark.sql.graft.WordPairs); fewer
    * than two words yields an empty array (the size filter, absorbed).
    */
  def word_pairs(text: Column): Column = VectorBridge.wordPairs(text)

  /** Word-level longest-common-prefix of two document suffixes (1-based
    * start positions) in one fused early-exit scan — replaces the
    * interpreted filter/sequence HOF chain (HOF lambdas don't codegen;
    * see org.apache.spark.sql.graft.SuffixLcp).
    */
  def suffix_lcp(w1: Column, p1: Column, w2: Column, p2: Column): Column =
    VectorBridge.suffixLcp(w1, p1, w2, p2)
}
