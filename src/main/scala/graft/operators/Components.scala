package graft.operators

import org.apache.spark.HashPartitioner
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.storage.StorageLevel

/** Connected components over a near-dup pair list — the exact closure of
  * the pair graph into clusters (vs dedup_keep_min's one-pass single-link
  * approximation). Two strategies behind one signature:
  *
  *  1. Min-label propagation as Pregel rounds [GraphX, OSDI'14]: every
  *     vertex whose label dropped last round sends it to its neighbors,
  *     each vertex keeps the min of its label and the messages it got,
  *     converging in O(diameter) rounds. Near-dup clusters are shallow
  *     quasi-cliques, so this is the default path and almost always
  *     converges in a few rounds.
  *  2. Alternating large-star/small-star [Kiveris et al., "Connected
  *     Components in MapReduce and Beyond", SoCC'14]: O(log d) rounds on
  *     deep chain-shaped graphs. Chosen automatically when propagation
  *     has not converged after `PropagationThreshold` rounds — the
  *     escalation path for pathological deep clusters at 100 TB.
  *
  * Iteration discipline (the 100 TB concerns for any driver loop):
  *  - propagation runs on RDDs that share one hash partitioner
  *    (`spark.sql.shuffle.partitions` partitions): the adjacency lists are
  *    partitioned once and persisted, and the labels stay on the same
  *    partitioner, so the message join and the label join are narrow.
  *    The one shuffle per round is the message combine
  *    (`reduceByKey(min)`), and it carries only the ACTIVE set's
  *    messages — vertices whose label dropped last round — so late
  *    rounds ship the frontier, not the graph;
  *  - each round is exactly ONE Spark job: the count of vertices whose
  *    label dropped is both the convergence check and the action that
  *    materializes the round's labels. No SQL planning runs between
  *    rounds;
  *  - each round's labels are localCheckpoint'ed, so lineage is
  *    truncated every round — the job's DAG stays O(1) in the iteration
  *    count instead of nesting joins;
  *  - the PREVIOUS round's snapshot is unpersisted as soon as the next
  *    round is materialized, so at most two label snapshots are ever
  *    live. Cluster runs should swap localCheckpoint for a reliable
  *    `checkpoint` dir — local checkpoints don't survive executor loss;
  *  - non-convergence at maxIter is loudly logged instead of silently
  *    returning partially-propagated labels.
  */
object Components {

  private lazy val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Propagation rounds before escalating to large-star/small-star. */
  private[graft] val PropagationThreshold = 8

  /** edges: two long columns (a, b). Returns (node, comp) for every
    * node appearing in an edge, comp = min node id of its connected
    * component. `maxIter` bounds the TOTAL rounds across both phases.
    */
  def connectedComponents(edges: DataFrame, maxIter: Int = 20): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val part = new HashPartitioner(math.max(1,
      spark.conf.get("spark.sql.shuffle.partitions", "32").toInt))
    val Seq(ca, cb) = edges.columns.toSeq.take(2).map(col)
    // bidirectional adjacency lists keyed by node — every round joins
    // against them; released before returning
    val adj = edges.select(ca, cb).rdd
      .flatMap { r =>
        val (a, b) = (r.getLong(0), r.getLong(1))
        Iterator(a -> b, b -> a)
      }
      .groupByKey(part)
      .mapValues(_.toArray.distinct)
      .persist(StorageLevel.MEMORY_AND_DISK)
    // (node, (label, dropped this round)); round 0: every node is its
    // own label and every node is active
    var state: RDD[(Long, (Long, Boolean))] = adj.mapPartitions(
      _.map { case (v, _) => (v, (v, true)) }, preservesPartitioning = true)
    var iter = 0
    var converged = false
    val propRounds = math.min(PropagationThreshold, maxIter)
    while (iter < propRounds && !converged) {
      val msgs = state.filter(_._2._2).join(adj)
        .flatMap { case (_, ((l, _), ns)) => ns.iterator.map(_ -> l) }
        .reduceByKey(part, math.min(_, _))
      val next = state.leftOuterJoin(msgs).mapValues {
        case ((old, _), Some(m)) if m < old => (m, true)
        case ((old, _), _) => (old, false)
      }.localCheckpoint()
      converged = next.filter(_._2._2).count() == 0L
      // the snapshot this round superseded is freed once the new one is
      // materialized → at most two live at any instant
      state.unpersist(blocking = false)
      state = next
      iter += 1
    }
    adj.unpersist(blocking = false)
    def labels = state.map { case (v, (l, _)) => (v, l) }.toDF("node", "comp")
    if (converged) return labels
    if (iter >= maxIter) {
      log.warn(s"connectedComponents: no convergence after $maxIter " +
        "iterations — labels may be partially propagated; raise maxIter")
      return labels
    }
    // Deep graph: propagation is crawling at O(diameter). Escalate to
    // the O(log d) star algorithm on the original edge list (the partial
    // labels are discarded — star rounds contract chains exponentially,
    // so restarting costs less than crawling on).
    log.info(s"connectedComponents: not converged after $iter propagation " +
      "rounds — escalating to large-star/small-star")
    state.unpersist(blocking = false)
    starComponents(edges, maxIter - iter)
  }

  /** Alternating large-star/small-star [Kiveris et al. SoCC'14]. Each
    * round is two grouped-min + join passes over the (shrinking) edge
    * set; no per-node neighbor lists are ever collected, so a high-degree
    * hub costs a wide join fan-out but never a giant aggregation buffer.
    * Converges in O(log d) rounds to a forest of stars whose centers are
    * the component minima.
    */
  private[graft] def starComponents(edges: DataFrame,
      maxRounds: Int): DataFrame = {
    val Seq(ca, cb) = edges.columns.toSeq.take(2).map(col)
    val allNodes = edges.select(ca.as("node"))
      .union(edges.select(cb.as("node"))).distinct()
      .localCheckpoint(true)
    // parent-pointer edge set, oriented high→low, self-loops dropped
    var e = edges.select(greatest(ca, cb).as("a"), least(ca, cb).as("b"))
      .filter(col("a") =!= col("b")).distinct()
      .localCheckpoint(true)
    var prev: DataFrame = null
    var round = 0
    var converged = false
    while (round < maxRounds && !converged) {
      if (prev != null) { ColumnBridge.unpersistCheckpoint(prev); prev = null }
      // large-star: for each node u, m = min(N(u) ∪ {u}); every STRICTLY
      // LARGER neighbor v > u re-points to m. Computed as a grouped min
      // + join-back on the bidirectional view (no neighbor lists).
      val bi = e.select(col("a").as("u"), col("b").as("v"))
        .union(e.select(col("b").as("u"), col("a").as("v")))
      val mins = bi.groupBy(col("u"))
        .agg(min(col("v")).as("mv"))
        .select(col("u"), least(col("mv"), col("u")).as("m"))
      val ls = bi.filter(col("v") > col("u"))
        .join(mins, "u")
        .select(col("v").as("a"), col("m").as("b"))
        .filter(col("a") =!= col("b")).distinct()
      // small-star: for each node a (edges already high→low), m = min of
      // its smaller neighbors; all of them plus a itself link to m.
      val sMins = ls.groupBy(col("a")).agg(min(col("b")).as("m"))
      val ss = ls.join(sMins, "a")
        .select(col("b").as("a"), col("m").as("b"))
        .union(sMins.select(col("a"), col("m").as("b")))
        .filter(col("a") =!= col("b")).distinct()
        .localCheckpoint(true)
      // converged when a round is a no-op (same parent-pointer set).
      // Both sides are distinct sets: equal counts + empty one-sided
      // difference ⇔ equality.
      val nNext = ss.count()
      converged = nNext == e.count() &&
        ss.exceptAll(e).limit(1).count() == 0L
      prev = e
      e = ss
      round += 1
    }
    if (prev != null) ColumnBridge.unpersistCheckpoint(prev)
    if (!converged)
      log.warn(s"starComponents: no convergence after $maxRounds rounds — " +
        "labels may be partially contracted; raise maxIter")
    else
      log.info(s"starComponents: converged in $round rounds")
    // converged edge set = (child, component-min) star pointers; roots
    // carry their own id.
    val out = allNodes
      .join(e.select(col("a").as("node"), col("b").as("parent")), Seq("node"),
        "left")
      .select(col("node"), coalesce(col("parent"), col("node")).as("comp"))
    out
  }
}
