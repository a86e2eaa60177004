package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.PlanBridge

/** Distributed connected components — the missing step between
  * "near-duplicate PAIRS" and an actionable dedup decision: pairs form
  * clusters (A~B, B~C ⇒ {A,B,C}), and the pipeline keeps one canonical
  * doc per cluster, not one per pair.
  *
  * Algorithm: alternating LARGE-STAR / SMALL-STAR contraction (Kiveris,
  * Lattanzi, Mirrokni, Rastogi, Vassilvitskii — "Connected Components in
  * MapReduce and Beyond", SoCC'14; the same two operations behind
  * GraphFrames' production CC). Each operation rewires every node's
  * neighbors onto the minimum of its closed neighborhood:
  *   - large-star: each node connects its STRICTLY LARGER neighbors to
  *     min(Γ⁺); preserves connectivity, never increases edge count;
  *   - small-star: each node connects its smaller-or-equal neighbors AND
  *     itself to min(Γ⁺);
  * the edge set converges to a union of stars centered at each
  * component's minimum id, and labels read off as min over the closed
  * neighborhood. Replaces the earlier min-label-propagation + pointer-
  * jumping loop, whose plateau structure (local minima stall the global
  * min's spread to ~edge speed) cost 28 rounds on the 10⁴-node
  * co-purchase graph where star contraction takes 7 — and whose round
  * count grew ~linearly with component diameter, so a fixed cap was a
  * silent-wrong-answer risk at larger corpora. Star contraction is
  * provably O(log² n) rounds (O(log n) in practice) INDEPENDENT of
  * diameter; a randomized 300-graph property sim (paths, stars, dense,
  * shuffled ids) converged within 9 rounds, so `maxIter = 50` is a pure
  * runaway bound. Convergence detection is EXACT: equal edge counts plus
  * an empty anti-join (both sides distinct ⇒ set equality), two
  * cached-frame jobs per round — no probabilistic fingerprints.
  *
  * Scale notes (the reason this is join-based, not graph-library-based):
  *  - each round is two (groupBy-min + equi-join) passes over the edge
  *    list — plain shuffles that partition like any other key at 100 TB,
  *    and the edge list only SHRINKS as stars contract;
  *  - a lineage cut after every round (PlanBridge.cutLineage — see its
  *    scaladoc for why NOT `localCheckpoint`: inherited size estimates
  *    square per round and drown the driver in BigInt stats arithmetic)
  *    keeps the plan flat; when the session has a RELIABLE CHECKPOINT DIR
  *    set, every per-round cut is also written there (wired inside
  *    PlanBridge.cutLineage) — the cut blocks are the only copy of the
  *    contracted edge set, so on a real cluster executor loss mid-loop
  *    would otherwise kill the job;
  *  - the driver sees only per-round scalars (edge count, empty-check),
  *    never node data;
  *  - LOCAL FINISH: contraction shrinks the edge set geometrically, so
  *    after the bulk rounds the loop is paying 4-5 fixed-cost shuffle
  *    stages per round to converge a tail that fits one task. Once the
  *    materialized edge count is ≤ [[LocalFinishMaxEdges]] a single-task
  *    union-find emits the fixpoint star set directly (the same shortcut
  *    GraphFrames ships) — bit-identical labels, A/B'd against the pure
  *    distributed loop across the randomized property sim.
  */
object ConnectedComponents {

  /** The persisted blocks backing a returned labeling. A one-shot query
    * can ignore it (the ContextCleaner reclaims blocks once the frame is
    * unreferenced), but an ITERATIVE deployment — a streaming fold
    * absorbing batch after batch — must `release()` each superseded
    * labeling explicitly, or every fold pins a full-corpus labeling copy
    * in the block manager until a driver GC happens to run (the same
    * discipline as the per-round `eRdd.unpersist` inside the loop).
    */
  final class LabelingHandle private[operators] (
      private[operators] val rdds: Seq[org.apache.spark.rdd.RDD[_]]) {
    /** Unpin the blocks only. Safe even if the frame is read again — it
      * recomputes from the reliable checkpoint (if one was written) or
      * re-materializes; nothing is deleted.
      */
    def unpersist(): Unit = rdds.foreach(_.unpersist(blocking = false))

    /** DESTRUCTIVE: unpersist AND delete the cut's reliable-checkpoint
      * files (PlanBridge.releaseCut). Call only once the labeling is
      * truly superseded — the frame must never be read afterward; on a
      * cluster with a checkpoint dir, a later read fails at runtime.
      */
    def release(): Unit =
      rdds.foreach(org.apache.spark.sql.graft.PlanBridge.releaseCut)
  }

  /** Whether the most recent components() call in this JVM finished with
    * the single-task union-find (diagnostic test hook, like
    * [[lastRounds]]). Not part of the query contract.
    */
  val lastLocalFinish = new java.util.concurrent.atomic.AtomicBoolean(false)

  /** Default edge-count threshold below which the contraction loop
    * finishes in ONE single-task union-find pass instead of more
    * distributed rounds (the same production shortcut GraphFrames ships).
    * Star contraction shrinks the edge set geometrically, so at any
    * corpus size the loop spends O(1) distributed rounds on the bulk and
    * then pays per-round FIXED cost (4-5 shuffle stages + 2 driver
    * actions) for a tail that fits one task — measured 7 rounds for the
    * 10⁴-edge co-purchase graph where the local pass needs one.
    * Memory math for the bound: the union-find keeps ≤ 2·edges nodes in
    * primitive open-addressed arrays (~24 B/node at 0.5 load), so 2²⁰
    * edges ⇒ ≤ ~50 MB in the one task — far inside any sane executor
    * budget, while covering every contracted tail a 100 TB solve leaves
    * behind. Pass 0 to force the pure distributed loop.
    */
  val LocalFinishMaxEdges: Long = 1L << 20

  /** Contraction rounds of the most recent components() call in this JVM
    * — diagnostic observability for the scaling probe (`graft.ScaleProbe`,
    * SCALING.md's measured round counts). Not part of the query contract.
    */
  val lastRounds = new java.util.concurrent.atomic.AtomicInteger(0)

  /** Canonical undirected edge set: a < b, self-loops dropped, distinct. */
  private def canon(df: DataFrame): DataFrame =
    df.select(least(col("a"), col("b")).as("a"),
        greatest(col("a"), col("b")).as("b"))
      .filter(col("a") =!= col("b"))
      .distinct()

  /** Both directions of a canonical edge set — (a, b) = (node, neighbor). */
  private def dirAdj(e: DataFrame): DataFrame =
    e.union(e.select(col("b").as("a"), col("a").as("b")))

  /** (u, m): m = min over the node's CLOSED neighborhood (neighbors ∪ u).
    * Column names are fresh on both sides of every downstream join, so no
    * shared-lineage ambiguous predicate can form (PlanSpec-guarded).
    */
  private def minNbr(d: DataFrame): DataFrame =
    d.groupBy(col("a")).agg(min(col("b")).as("mn"))
      .select(col("a").as("u"), least(col("a"), col("mn")).as("m"))

  /** Large-star: for every node u, connect each neighbor v > u to m(u).
    * `private[operators]` (not private): the loop's per-round plans hide
    * behind cutLineage's RDD leaves, so the repo-wide PlanSpec guards
    * never see them — `ConnectedComponentsSpec` pins ONE round's plan
    * shape through this access instead.
    */
  private[operators] def largeStar(e: DataFrame): DataFrame = {
    val d = dirAdj(e)
    canon(d.filter(col("b") > col("a"))
      .join(minNbr(d), col("a") === col("u"))
      .select(col("b").as("a"), col("m").as("b")))
  }

  /** Small-star: for every node v, connect each neighbor u < v — and v
    * itself — to m(v).
    */
  private[operators] def smallStar(e: DataFrame): DataFrame = {
    val d = dirAdj(e)
    val m = minNbr(d)
    val smaller = d.filter(col("b") < col("a"))
      .join(m, col("a") === col("u"))
      .select(col("b").as("a"), col("m").as("b"))
    canon(smaller.union(m.select(col("u").as("a"), col("m").as("b"))))
  }

  /** The fixpoint star set of an edge set SMALL ENOUGH FOR ONE TASK:
    * `coalesce(1)` + a primitive-array union-find emitting exactly the
    * (component-min, member) star edges the distributed loop would
    * converge to — so the caller's read-off and handle discipline are
    * identical on both paths. Column types are preserved (ids round-trip
    * through Long losslessly; the contraction only ever compares and
    * copies them).
    */
  private[operators] def localStar(e: DataFrame): DataFrame = {
    val dt = e.schema("a").dataType
    val spark = e.sparkSession
    import spark.implicits._
    e.select(col("a").cast("long"), col("b").cast("long"))
      .as[(Long, Long)]
      .coalesce(1)
      .mapPartitions(localUnionFind)
      .toDF("a", "b")
      .select(col("a").cast(dt).as("a"), col("b").cast(dt).as("b"))
  }

  /** Single-pass union-find over an edge iterator, no boxing: an
    * open-addressed long→dense-index table (slot 0 = empty, so key 0
    * needs no sentinel) plus Int parent links, union-by-min-ORIGINAL-id
    * (the greater root attaches under the smaller, so a root is always
    * its component's min id) with path-halving finds. Emits (min, member)
    * for every non-root member — the canonical star set.
    */
  private def localUnionFind(
      it: Iterator[(Long, Long)]): Iterator[(Long, Long)] = {
    var cap = 1 << 10                       // power of two; grown at 0.5 load
    var table = new Array[Long](cap)        // key at slot
    var slot = new Array[Int](cap)          // dense index + 1; 0 = empty
    var ids = new Array[Long](cap / 2)      // dense index → original id
    var parent = new Array[Int](cap / 2)    // dense index → parent index
    var n = 0
    def hash(k: Long): Int = {
      val x = k * -7046029254386353131L
      ((x ^ (x >>> 32)) & (cap - 1)).toInt
    }
    def grow(): Unit = {
      val oldTable = table; val oldSlot = slot
      cap <<= 1
      table = new Array[Long](cap); slot = new Array[Int](cap)
      var i = 0
      while (i < oldTable.length) {
        if (oldSlot(i) != 0) {
          var h = hash(oldTable(i))
          while (slot(h) != 0) h = (h + 1) & (cap - 1)
          table(h) = oldTable(i); slot(h) = oldSlot(i)
        }
        i += 1
      }
      ids = java.util.Arrays.copyOf(ids, cap / 2)
      parent = java.util.Arrays.copyOf(parent, cap / 2)
    }
    def idx(k: Long): Int = {
      var h = hash(k)
      while (true) {
        val s = slot(h)
        if (s == 0) {
          if (2 * (n + 1) > cap) { grow(); return idx(k) }
          table(h) = k; slot(h) = n + 1; ids(n) = k; parent(n) = n
          n += 1
          return n - 1
        } else if (table(h) == k) return s - 1
        h = (h + 1) & (cap - 1)
      }
      -1 // unreachable
    }
    def find(x0: Int): Int = {
      var x = x0
      while (parent(x) != x) {
        parent(x) = parent(parent(x)) // path halving
        x = parent(x)
      }
      x
    }
    while (it.hasNext) {
      val (a, b) = it.next()
      val ra = find(idx(a)); val rb = find(idx(b))
      if (ra != rb) {
        if (ids(ra) < ids(rb)) parent(rb) = ra else parent(ra) = rb
      }
    }
    val out = Array.newBuilder[(Long, Long)]
    out.sizeHint(n)
    var i = 0
    while (i < n) {
      val r = find(i)
      if (r != i) out += ((ids(r), ids(i)))
      i += 1
    }
    out.result().iterator
  }

  /** `edges`: two long columns (`a`, `b`), undirected, self-loops/dups ok.
    * Returns (node, component) with component = min node id in the
    * component; only nodes appearing in a non-self-loop edge are labeled.
    *
    * `maxIter` is a runaway bound, not a tuning knob — star contraction
    * converges in O(log² n) rounds regardless of diameter, and the loop
    * exits on the exact fixpoint (edge set unchanged by a full round).
    * Once the contracted edge set is ≤ `localFinishMaxEdges` the loop
    * finishes in one single-task union-find pass (see
    * [[LocalFinishMaxEdges]]); results are bit-identical either way
    * (A/B'd across the randomized property sim in
    * `ConnectedComponentsSpec`).
    */
  def components(edges: DataFrame, maxIter: Int = 50,
      localFinishMaxEdges: Long = LocalFinishMaxEdges): DataFrame =
    componentsManaged(edges, maxIter, localFinishMaxEdges)._1

  /** `components` plus the handle freeing the labeling's pinned blocks —
    * for iterative callers (streaming folds) that supersede labelings. */
  def componentsManaged(
      edges: DataFrame, maxIter: Int = 50,
      localFinishMaxEdges: Long = LocalFinishMaxEdges
  ): (DataFrame, LabelingHandle) = {
    var (e, eRdd, eCount) =
      PlanBridge.cutLineage(canon(edges.select(col("a"), col("b"))))
    var iter = 0
    var converged = false
    lastLocalFinish.set(false)
    // ONE contraction round per materialization — measured as optimal, do
    // not "batch rounds to save driver actions": each star operator
    // references its input 2-4× (dirAdj union + the min-neighbor join),
    // and only a MATERIALIZED leaf makes those references cheap re-scans
    // of persisted blocks. Composing two rounds into one plan re-executes
    // the un-materialized inner round once per outer reference — measured
    // 2.2× SLOWER on the sf0.1 co-purchase graph (6.5 s → 14.3 s) despite
    // halving job launches. The cut is load-bearing for subtree reuse,
    // not just for the stats cliff.
    while (!converged && iter < maxIter) {
      if (eCount <= localFinishMaxEdges) {
        // the contracted tail fits one task: a single union-find pass
        // emits the fixpoint star set directly — same output contract as
        // the loop's convergence, minus O(log n) rounds of fixed
        // per-round stage cost. The cut materializes + persists it so the
        // read-off below sees the same RDD-leaf shape either way.
        val (e2, e2Rdd, _) = PlanBridge.cutLineage(localStar(e))
        PlanBridge.releaseCut(eRdd)
        e = e2
        eRdd = e2Rdd
        converged = true
        lastLocalFinish.set(true)
      } else {
        val (e2, e2Rdd, e2Count) =
          PlanBridge.cutLineage(smallStar(largeStar(e)))
        // exact set equality: both frames are distinct, so equal
        // cardinality (counts rode along with materialization — no extra
        // job) + "no edge of e2 outside e" ⇒ identical edge sets. Per
        // round the driver runs exactly TWO actions: the
        // materialize-count and this anti-join.
        val same = e2Count == eCount &&
          e2.join(e, Seq("a", "b"), "left_anti").isEmpty
        if (same) {
          PlanBridge.releaseCut(e2Rdd)
          converged = true
        } else {
          // superseded round's blocks are dead once e2 has materialized
          // (cutLineage is eager) — unpersist NOW instead of waiting for
          // the ContextCleaner, so a long-lived session running many
          // cluster queries doesn't accumulate pinned block-manager
          // entries (releaseCut also drops the round's reliable-
          // checkpoint files — a many-round loop must not fill the
          // checkpoint filesystem)
          PlanBridge.releaseCut(eRdd)
          e = e2
          eRdd = e2Rdd
          eCount = e2Count
        }
        iter += 1
      }
    }
    lastRounds.set(iter)
    // Reading labels off a NON-fixpoint edge set would return silently
    // wrong components; the bound is unreachable for star contraction
    // (O(log² n) rounds — a 300-graph property sim converged within 9),
    // so hitting it means a broken edge derivation or a bug here. Fail
    // loudly rather than answer wrong.
    if (!converged) {
      PlanBridge.releaseCut(eRdd)
      throw new IllegalStateException(
        s"connected components did not reach the contraction fixpoint in $maxIter rounds " +
          s"(edge count at abort: $eCount) — refusing to read labels off an unconverged edge set")
    }
    // fixpoint edges are stars centered at component minima: the label is
    // the min of the closed neighborhood. The final edge RDD stays
    // persisted backing the returned frame (same discipline as before).
    (minNbr(dirAdj(e)).select(col("u").as("node"), col("m").as("component")),
      new LabelingHandle(Seq(eRdd)))
  }

  /** Incremental update: fold a batch of NEW edges into a standing
    * labeling without re-running components over the whole corpus — the
    * daily-growth counterpart of `Dedup.dedupIncremental`. At 100 TB the
    * full edge set is the corpus; a day's arrivals touch a sliver of it,
    * and re-clustering everything to absorb them is the classic
    * accidental-quadratic pipeline cost.
    *
    * Only components INCIDENT to a new edge are re-solved: their members
    * re-enter contraction as star edges (node → component), which
    * preserve exact connectivity and min-ids because every prior
    * component is already a star by construction; untouched components
    * pass through verbatim (one semi-join + one anti-join — no
    * contraction work at all). Cost is O(new edges + members of touched
    * components), independent of corpus size.
    *
    * `prior` must be a components() output (node, component) — in
    * particular every component has ≥ 2 members, so each root re-enters
    * the contraction via some member's star edge even though its own
    * (root, root) self-loop drops. Result is EXACTLY components(old edges
    * ∪ new edges) restricted to... nothing — the equivalence is total,
    * and the oracle of `graph_copurchase_incremental` pins it against the
    * batch closure each round.
    */
  def incrementalComponents(prior: DataFrame, newEdges: DataFrame): DataFrame =
    incrementalComponentsManaged(prior, newEdges)._1

  /** `incrementalComponents` plus the handle freeing the fold's pinned
    * blocks. A streaming deployment folds batch after batch — it should
    * unpersist the PREVIOUS labeling's handle once this fold's result is
    * materialized, or every fold leaves a full-corpus labeling copy in
    * the block manager (`StreamingComponentsSpec` pins the drain shape).
    */
  def incrementalComponentsManaged(
      prior: DataFrame, newEdges: DataFrame): (DataFrame, LabelingHandle) = {
    // Materialize the standing labeling ONCE: `prior` is referenced three
    // times below (touched / frozen / starEdges), and a components()
    // output is a LAZY label read-off over the fixpoint edges — without
    // the cut each reference would re-run that corpus-sized aggregation,
    // tripling the pass the O(batch + touched) claim budgets for.
    // `touched` (component ids, batch-bounded) is referenced twice and
    // cut for the same reason. Both backing RDDs stay persisted: `frozen`
    // IS part of the returned frame (the returned handle — or the
    // ContextCleaner, for one-shot callers — reclaims them).
    val (p, pRdd, _) = PlanBridge.cutLineage(
      prior.select(col("node"), col("component")))
    val ends = newEdges.select(col("a").as("node"))
      .union(newEdges.select(col("b").as("node")))
      .distinct()
    val (touched, touchedRdd, _) = PlanBridge.cutLineage(
      p.join(ends, Seq("node"), "left_semi")
        .select(col("component")).distinct())
    val frozen = p.join(touched, Seq("component"), "left_anti")
      .select(col("node"), col("component"))
    val starEdges = p.join(touched, Seq("component"), "left_semi")
      .select(col("node").as("a"), col("component").as("b"))
    val (relabeled, relabeledHandle) =
      componentsManaged(starEdges.union(newEdges.select(col("a"), col("b"))))
    (frozen.union(relabeled.select(col("node"), col("component"))),
      new LabelingHandle(Seq(pRdd, touchedRdd) ++ relabeledHandle.rdds))
  }
}
