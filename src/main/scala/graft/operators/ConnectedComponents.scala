package graft.operators

import org.apache.spark.sql.{DataFrame, Encoders, Observation}
import org.apache.spark.sql.functions._

/** Connected components over a near-duplicate pair list — the step
  * that turns pairwise dedup output (L2/L3/L5) into actionable
  * CLUSTERS: each component keeps one canonical document (the lowest
  * id) and drops the rest. Without this step, pairwise output
  * under-deletes: pairs (a,b), (b,c) without (a,c) would keep both a
  * and c if deletion is done per-pair.
  *
  * Two paths, picked from the size of the symmetric, self-loop-free,
  * distinct edge table (counted by an observation on its fence, so the
  * count costs no job):
  *
  *  - rows × 16 B ≤ `spark.sql.autoBroadcastJoinThreshold`: union-find
  *    in ONE task over primitive arrays (16 B per row: the endpoints of
  *    every a < b row plus a sorted id copy, and one int per node), so
  *    the task holds about as much as Spark already accepts for a
  *    broadcast table (10 MB by default, 4 MB under
  *    GraftSession's `lowMemory`). Union by smaller root makes every
  *    root its component's minimum id. One task replaces the loop's
  *    ~5 jobs per round: at near-dup sizes the edge table is kilobytes
  *    and the loop is bound by job count, not bytes.
  *  - otherwise (or threshold ≤ 0): distributed min-label propagation
  *    with pointer jumping (the map-reduce connected-components family
  *    of Kiveris et al., "Connected Components in MapReduce and
  *    Beyond", SoCC'14). Each round every node takes the minimum label
  *    in its 1-hop neighborhood and resolves its label one extra hop
  *    (label := label(label)), which collapses label chains and gives
  *    O(log n) rounds on a path instead of O(n). Each round is one
  *    key-partitioned join + one aggregation over the EDGE list — no
  *    per-node adjacency list is materialized, so a hub node with
  *    millions of neighbors costs map-side-combined min aggregation.
  *    The checkpoint fence (Checkpoints.fence — executor-local by
  *    default, reliable FS under `spark.graft.reliableCheckpoints`)
  *    truncates lineage so round r's plan does not replay rounds
  *    1..r-1. Measured on the committed sf0.1 pair graphs: 12–13
  *    rounds — the banded/embedding pair lists contain one
  *    chain-shaped component (near-dups of near-dups), so rounds ≈
  *    log2(chain length), not the 2-3 a clique-only graph would need.
  *
  * Both paths return the same (id, comp = min reachable id) rows.
  */
object ConnectedComponents {

  /** Bytes per symmetric edge row held by the single-task path. */
  private val BytesPerEdgeRow = 16L

  /** Spark's own ceiling on a broadcast table (8 GB), which also keeps
    * the single task's arrays under the JVM's array length limit. */
  private val MaxSingleTaskBytes = 8L << 30

  /** (id, component) for every node of a non-self-loop edge in
    * `edges` (id1, id2); component = the minimum node id reachable
    * from the node. The distributed path throws if it has not
    * converged after `maxRounds` rounds. */
  def components(edges: DataFrame, maxRounds: Int = 25): DataFrame = {
    val e = edges.select(col("id1").cast("long").as("a"), col("id2").cast("long").as("b"))
    // symmetric, self-loop-free edge list — both orientations in ONE
    // pass (Graph.symmetrized): the union form computes the pair
    // subtree twice (the CC consumers feed an UNFENCED banded
    // candidate + verify pipeline here — only the deepest exchange is
    // reused across the union's branches, the CPU-dense verify re-runs
    // per branch) and doubles the partition count entering distinct
    val rowsObs = Observation()
    val sym = Checkpoints.fence(
      Graph.symmetrized(e)
        .where(col("a") =!= col("b"))
        .distinct()
        .observe(rowsObs, count(lit(1)).as("rows")))
    val rows = rowsObs.get("rows").asInstanceOf[Long]
    val threshold = math.min(
      sym.sparkSession.sessionState.conf.autoBroadcastJoinThreshold, MaxSingleTaskBytes)
    if (threshold > 0 && rows * BytesPerEdgeRow <= threshold) singleTask(sym, rows)
    else distributed(sym, maxRounds)
  }

  private def singleTask(sym: DataFrame, rows: Long): DataFrame = {
    val pairs = Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong)
    sym.as(pairs).coalesce(1)
      .mapPartitions(it => unionFind(it, rows.toInt))(pairs)
      .toDF("id", "comp")
  }

  /** (id, min id of its component) for a symmetric edge list holding
    * `rows` rows. Each undirected edge appears twice, so only a < b
    * rows are kept: `rows` endpoints in all. Dense node indices are
    * id ranks, so the smaller root index is the smaller id. */
  private def unionFind(edges: Iterator[(Long, Long)], rows: Int): Iterator[(Long, Long)] = {
    val ends = new Array[Long](rows)
    var n = 0
    edges.foreach { case (a, b) =>
      if (a < b) {
        ends(n) = a
        ends(n + 1) = b
        n += 2
      }
    }
    val ids = java.util.Arrays.copyOf(ends, n)
    java.util.Arrays.sort(ids)
    var k = 0
    var i = 0
    while (i < n) {
      if (k == 0 || ids(i) != ids(k - 1)) { ids(k) = ids(i); k += 1 }
      i += 1
    }
    val parent = Array.range(0, k)
    def find(x0: Int): Int = {
      var x = x0
      while (parent(x) != x) { parent(x) = parent(parent(x)); x = parent(x) }
      x
    }
    i = 0
    while (i < n) {
      val ra = find(java.util.Arrays.binarySearch(ids, 0, k, ends(i)))
      val rb = find(java.util.Arrays.binarySearch(ids, 0, k, ends(i + 1)))
      if (ra < rb) parent(rb) = ra else if (rb < ra) parent(ra) = rb
      i += 2
    }
    Iterator.range(0, k).map(j => (ids(j), ids(find(j))))
  }

  private def distributed(sym: DataFrame, maxRounds: Int): DataFrame = {
    // label(id) starts at min(id, min neighbor) — one round for free
    var assign = Checkpoints.fence(
      sym.groupBy(col("a").as("id"))
        .agg(least(min(col("b")), col("a")).as("comp")))

    var round = 0
    var prevSum: java.math.BigDecimal = null
    var converged = false
    while (!converged && round < maxRounds) {
      // FUSED hop + pointer jump, one join + one aggregation per round
      // (was: nbrMin join + hop left-join + jump join — the CC rounds
      // are tiny-frame jobs, so per-round exchange/job COUNT, not
      // bytes, is the measured cost locally; at scale one fewer
      // data-sized join per round is one fewer shuffle of the label
      // map). The label map doubles as extra directed edges
      // (i → L(i)): taking the min label over the union graph yields
      //   L'(i) = min( min_{j∈N(i)} L(j),  L(L(i)) )
      // — exactly the 1-hop neighbor min plus the chain-collapsing
      // pointer jump. L(x) ≤ x holds inductively, so L(L(i)) ≤ L(i)
      // keeps the update pointwise non-increasing and the fixpoint
      // (label constant per component, min labels itself) unchanged —
      // the min reachable id, identical to the unfused rounds.
      val ptr = assign.select(col("id").as("a"), col("comp").as("b"))
      val next = sym.unionByName(ptr)
        .join(assign.withColumnRenamed("id", "b"), "b")
        .groupBy(col("a").as("id"))
        .agg(min(col("comp")).as("comp"))
      // convergence rides the round's materialization as an observed
      // metric — labels are pointwise non-increasing, so an unchanged
      // label SUM (exact DECIMAL, no overflow at any scale) means no
      // label changed; no __old column and no separate changed-rows
      // job. One extra fixpoint-confirming round, same as the old
      // changed==0 check.
      val obs = Observation()
      val fenced = Checkpoints.fence(next
        .observe(obs, sum(col("comp").cast("decimal(38,0)")).as("lsum")))
      val s = obs.get("lsum").asInstanceOf[java.math.BigDecimal]
      // null sum = empty label table (no edges): nothing can change
      converged = s == null || (prevSum != null && s.compareTo(prevSum) == 0)
      prevSum = s
      assign = fenced
      round += 1
    }
    // labels that have not reached the fixpoint are wrong components,
    // not approximate ones: fail rather than return them
    if (!converged)
      throw new IllegalStateException(
        s"connected components did not converge in maxRounds = $maxRounds rounds")
    // measurement affordance (stderr only): the round count is the
    // distributed path's cost driver, and it is invisible in plans
    // (the loop runs behind checkpoint fences at construction time)
    System.err.println(s"[cc] converged after $round rounds")
    assign
  }

  /** Cluster summary: one row per component with its size and sorted
    * member list — the dedup "keep component id, drop the rest" view. */
  def clusters(edges: DataFrame, maxRounds: Int = 25): DataFrame =
    components(edges, maxRounds)
      .groupBy(col("comp").as("component"))
      .agg(count(lit(1)).as("n_members"),
        array_join(array_sort(collect_list(col("id"))), ",").as("members"))

  /** X135: canonical-keeper selection — dedup's POLICY step: within
    * each near-dup cluster, which member survives? `dropClustered`
    * hard-codes "smallest id"; real pipelines keep the best document
    * (longest, preferred source, then id as the tiebreak). One
    * component-keyed window over the cluster membership joined to the
    * doc metadata — component cardinality is high and cluster sizes
    * are bounded by dedup density, so the sort parallelizes like any
    * high-cardinality window. Returns one row per multi-member
    * cluster: (component, keeper_id, n_members, n_removed). */
  def canonicalKeepers(docs: DataFrame, edges: DataFrame,
                       lengthCol: String = "n_chars",
                       idCol: String = "doc_id",
                       maxRounds: Int = 25): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val member = components(edges, maxRounds)
      .join(docs.select(col(idCol).cast("long").as("id"),
        col(lengthCol).as("__len")), Seq("id"))
    val w = Window.partitionBy(col("comp"))
      .orderBy(col("__len").desc, col("id"))
    member
      .withColumn("__rn", row_number().over(w))
      .withColumn("n_members", count(lit(1)).over(Window.partitionBy(col("comp"))))
      .where(col("__rn") === 1 && col("n_members") > 1)
      .select(col("comp").as("component"), col("id").as("keeper_id"),
        col("n_members"), (col("n_members") - 1).as("n_removed"))
      .orderBy(col("component"))
  }

  /** Drop every non-canonical member of every cluster from `docs`:
    * the end-to-end "pairs → survivors" dedup contract. */
  def dropClustered(docs: DataFrame, edges: DataFrame,
                    idCol: String = "doc_id", maxRounds: Int = 25): DataFrame = {
    val losers = components(edges, maxRounds)
      .where(col("id") =!= col("comp"))
      .select(col("id"))
    docs.join(losers.withColumnRenamed("id", idCol), Seq(idCol), "left_anti")
  }
}
