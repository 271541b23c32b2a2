package graft.operators

import org.apache.spark.sql.{DataFrame, Row, functions => F}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StructField, StructType}

/** Connected-component labeling over an arbitrary undirected graph —
  * the frame-shaped core of the near-dup clustering family
  * (`graft.queries.LlmOps3` q57/q80 delegate here).
  *
  * Algorithm: min-label propagation + pointer jumping. Every node
  * starts as its own label; each round takes the min label over its
  * neighborhood (one shuffle join), then path-halves by replacing its
  * label with that node's label (a second join). The jump preserves
  * the invariant "my label is the id of a node in my component with
  * id ≤ my previous label", so the fixed point is unchanged
  * (component-min labels) but long chains collapse in O(log diameter)
  * rounds instead of O(diameter). Lineage is truncated per round
  * (`localCheckpoint`) so the plan does not grow with iterations — the
  * standard large-graph CC shape when a graph library isn't warranted.
  *
  * Scale posture: above `broadcastNodeCap` nodes, edges are persisted
  * PRE-PARTITIONED on the join key, so each round's join reuses that
  * partitioning and only the (node-sized) label relation shuffles —
  * never the edge list. Below the cap the label side is
  * broadcast-hinted (checkpointed frames carry no stats, so without
  * the hint the planner would sort-merge the full edge list EVERY
  * round) and the edges persist unpartitioned — every join is
  * map-side, so pre-partitioning would only add a full edge shuffle.
  * Once contraction shrinks the label-level edge set under
  * `driverFinishEdgeCap`, the remaining merges finish with a bounded
  * driver-side union-find (see [[labels]]) instead of paying the
  * multi-round scheduling tail. A component with diameter beyond
  * `maxIters` rounds (reachable only above that cap) raises instead of
  * silently splitting.
  */
object ConnectedComponents {

  /** Labels `(id, label)` with label = min node id in the component.
    * `nodes`: one column `id` (every node, including isolated ones);
    * `edges`: columns `src`, `dst` (undirected — symmetrized here).
    *
    * `driverFinishEdgeCap`: once per-round contraction shrinks the
    * label-level edge set to at most this many rows, the remaining
    * merges are finished with a driver-side union-find instead of more
    * distributed rounds — the tail rounds of label propagation move a
    * few thousand labels through full cluster barriers, which is pure
    * scheduling latency at any scale. The collect is BOUNDED by the cap
    * (≤ cap rows × 2 ids ≈ 16 MB at the default for long ids); above
    * the cap the distributed loop continues and contraction shrinks the
    * relation geometrically until the finish triggers. Output is
    * byte-identical: the contracted graph's components correspond 1:1
    * to the unresolved merges, and a component's min node is always its
    * own label, so min-root union-find over the contracted edges yields
    * exactly the distributed fixed point. */
  def labels(nodes: DataFrame, edgesIn: DataFrame,
      broadcastNodeCap: Long = 4000000L, maxIters: Int = 30,
      driverFinishEdgeCap: Long = 500000L,
      driverWholeGraphNodeCap: Long = 1000L): DataFrame = {
    val s = nodes.sparkSession
    import s.implicits._
    // The node set is derived ONCE (optimization r16): the init-label
    // checkpoint runs first, and every other whole-set question — the
    // tiny-graph probe, the broadcast-cap count — reads the checkpointed
    // blocks instead of re-executing the caller's node derivation
    // (q57/q80 pass a distinct over the membership relation; the old
    // probe → count → init order re-ran that distinct three times).
    val initLabels = graft.Hygiene.labeled(s, "cc: init labels")(
      nodes.select($"id", $"id".as("label")).localCheckpoint())
    // TINY-GRAPH fast path (optimization r16): at or under
    // `driverWholeGraphNodeCap` nodes the whole problem fits the driver
    // — collect nodes and edges (edges ≤ n²/2 ≈ 500k rows at the
    // default cap, the same bound class as driverFinishEdgeCap) and
    // run the min-root union-find directly. The distributed loop costs
    // ≥ ~10 sequential driver-latency jobs per call even on a 100-row
    // graph (count, persist, per-round join+count+contract), which is
    // pure scheduling tail at any scale — exactly the regime the
    // leakage-safe split hits on a quota-bounded mix. Output identical:
    // min-root union-find IS the distributed fixed point (see
    // [[driverFinish]]). The probe is a limit(cap+1) collect over the
    // checkpointed labels — block-cache cheap, early-terminating, and
    // when it does not overflow its length IS the node count.
    val nodeCapInt = math.min(driverWholeGraphNodeCap,
      Int.MaxValue.toLong - 1).toInt
    val nodeProbe = graft.Hygiene.labeled(s, "cc: tiny-graph probe")(
      initLabels.select(col("id")).limit(nodeCapInt + 1).collect())
    if (nodeProbe.length <= nodeCapInt) {
      // the edge collect is bounded too: a tiny node set admits at most
      // n² DISTINCT directed pairs, but the input is a multiset — an
      // upstream pair generator replaying duplicates must not turn this
      // into an unbounded driver collect. Probe cap² + 1 rows (≤ ~32 MB
      // of long pairs at the 1000 default); beyond that, fall through to
      // the distributed loop, whose contraction distincts. Null
      // endpoints are dropped to match the join semantics of the
      // distributed rounds (an equi-join never matches NULL, so such
      // edges carry no information there either).
      val edgeProbeCap = math.min(
        driverWholeGraphNodeCap * driverWholeGraphNodeCap,
        Int.MaxValue.toLong - 1)
      val es = graft.Hygiene.labeled(s, "cc: tiny-graph edge collect")(
        edgesIn.select(col("src"), col("dst"))
          .filter(col("src").isNotNull && col("dst").isNotNull)
          .limit(edgeProbeCap.toInt + 1).collect())
      if (es.length <= edgeProbeCap) {
        val idType = nodes.schema("id").dataType
        val parent = scala.collection.mutable.HashMap.empty[Any, Any]
        def find(x: Any): Any = {
          var r = x
          while (parent.getOrElse(r, r) != r) r = parent(r)
          var c = x
          while (parent.getOrElse(c, c) != r) {
            val n = parent(c); parent(c) = r; c = n
          }
          r
        }
        es.foreach { row =>
          val (ra, rb) = (find(row.get(0)), find(row.get(1)))
          if (ra != rb) {
            if (ltIds(ra, rb)) parent(rb) = ra else parent(ra) = rb
          }
        }
        val out = nodeProbe.map(r => Row(r.get(0), find(r.get(0))))
        return s.createDataFrame(
          s.sparkContext.parallelize(out.toSeq, 1),
          StructType(Seq(StructField("id", idType),
            StructField("label", idType))))
      }
    }
    val nNodes = graft.Hygiene.labeled(s, "cc: node count")(
      initLabels.count()) // block-cache cheap: counts the checkpoint
    val bcastLabels = nNodes <= broadcastNodeCap
    // Scale-adaptive reduce-partition count for the loop (optimization
    // r17 session 2 — VERDICT r16 item 2's data-derived fix): every
    // shuffle inside the loop is NODE-sized on its reduce side (the
    // neighborhood-min and contract-distinct aggregations partial-
    // aggregate map-side, so the reduce pulls ≤ nNodes-keyed rows
    // regardless of edge volume; the propagate and pointer-jump joins
    // are node × node), yet each ran at the session's shuffle-partition
    // count — on the 4k-node sf0.1 rep graph at 32 slots that is ~125
    // rows per task, pure per-task scheduling latency (the
    // shuffle.partitions=8 A/B measured q57 3.70 → 3.07 s). The count
    // is derived from the KNOWN checkpointed node count and scoped to
    // the loop by [[graft.Hygiene.scopedShuffleParts]]: at corpus scale
    // it saturates at the configured value, so this only ever coalesces
    // the small-graph regime. Dense graphs with few nodes but many
    // edges stay safe: map sides run at the PARENT partitioning and the
    // per-round contract collapses near-clique components geometrically
    // (the r16 measurement: 4.5M symmetric edges → 2582 after round 1).
    graft.Hygiene.scopedShuffleParts(s, nNodes) {
    // pre-partition on the join key only when the label side will
    // shuffle (above the cap); in the broadcast regime every per-round
    // join is map-side and the repartition would be a pure extra
    // shuffle of the full edge list
    // symmetrize via ONE explode, not a self-union: `edgesIn` is often
    // an expensive lazy relation (q57/q80 pass the mask-group non-equi
    // pair join), and unionAll's two subtrees evaluate it TWICE inside
    // the first job that materializes the persist (measured r17: the
    // round-0 propagate carried two ~0.5 s twin jobs at 32 cores; the
    // explode form runs the derivation once for both directions)
    val sym = edgesIn
      .select(explode(array(
        struct($"src".as("src"), $"dst".as("dst")),
        struct($"dst".as("src"), $"src".as("dst")))).as("e"))
      .select($"e.src".as("src"), $"e.dst".as("dst"))
    val edges = (if (bcastLabels) sym else sym.repartition($"dst")).persist()
    try {
      def labelSide(l: DataFrame): DataFrame =
        if (bcastLabels) broadcast(l) else l
      var labels = initLabels
      var edgesCur = edges
      var changed = 1L
      var iter = 0
      while (changed > 0 && iter < maxIters) {
        // round 0 runs against identity labels, so the neighborhood min
        // label is just the min neighbor id — no label join needed over
        // the full edge list, and the pointer jump below is a no-op
        val neighborMin =
          if (iter == 0) edgesCur.groupBy($"src").agg(F.min($"dst").as("nlabel"))
          else edgesCur.join(labelSide(labels),
              edgesCur("dst") === labels("id"))
            .groupBy($"src").agg(F.min($"label").as("nlabel"))
        val propagated = labels.as("l")
          .join(neighborMin.as("n"), $"l.id" === $"n.src", "left")
          .select($"l.id".as("id"), $"l.label".as("prev"),
            least($"l.label", coalesce($"nlabel", $"l.label")).as("label"))
        // pointer jump through the PREVIOUS round's checkpointed labels —
        // rescanning them is free, while jumping through `propagated`
        // would recompute the neighbor join twice per round. The previous
        // label rides along so convergence is a filter+count over this
        // frame — not a fourth join per round.
        val next = graft.Hygiene.labeled(s, s"cc: round $iter propagate")(
          (if (iter == 0) propagated
          else propagated.as("x")
            .join(labels.select($"id".as("jid"), $"label".as("jlabel")).as("y"),
              $"x.label" === $"y.jid", "left")
            .select($"x.id".as("id"), $"x.prev".as("prev"),
              least($"x.label", coalesce($"jlabel", $"x.label")).as("label")))
          .localCheckpoint())
        // round 0 skips the changed count (one driver-latency job per
        // call): with identity labels, "no label changed" can only mean
        // the (null-filtered) edge set is empty or self-loops — the
        // unconditional round-0 contract below then produces an empty
        // relation and the driver finish terminates the loop with the
        // same labels the count-guarded exit returned. Later rounds
        // keep the count: it is the loop's only convergence signal
        // above the driver-finish cap.
        changed =
          if (iter == 0) 1L
          else graft.Hygiene.labeled(s, s"cc: round $iter changed count")(
            next.filter($"label" =!= $"prev").count())
        labels = next.select($"id", $"label")
        // CONTRACT the edge set through the fresh labels: an edge whose
        // endpoints already share a label carries no further information
        // and is dropped; the rest collapse onto label-representatives.
        // On dense graphs (near-clique components — the near-dup corpus
        // regime) this removes almost everything after round 1, so later
        // rounds scan a vanishing relation instead of the full edge list
        // every time (on the sf0.1 near-dup rep graph the 4.5M symmetric
        // edges collapse to 2582 after round 1). A node contracted out of the edge
        // set keeps converging through the pointer jump above. The
        // checkpointed per-round edge frames are dropped by the context
        // cleaner; only the caller-visible `edges` persist is released
        // explicitly below.
        if (changed > 0) {
          val lbl = labelSide(labels)
          val contracted = edgesCur.as("e")
            .join(lbl.select($"id".as("sid"), $"label".as("slabel")),
              $"e.src" === $"sid")
            .join(lbl.select($"id".as("did"), $"label".as("dlabel")),
              $"e.dst" === $"did")
            .select($"slabel".as("src"), $"dlabel".as("dst"))
            .filter($"src" =!= $"dst").distinct()
          edgesCur = graft.Hygiene.labeled(s, s"cc: round $iter contract")(
            (if (bcastLabels) contracted
            else contracted.repartition($"dst")).localCheckpoint())
          // driver finish, gated by BOUNDED limit-probes instead of
          // count jobs (optimization r17, guide §2.6 job-count surgery:
          // the old sequence was count + chain checkpoint + chain count
          // + union collect — four full-barrier driver round trips per
          // finishing round; these two probes are the same two
          // executions the finish needs anyway, and executeTake
          // early-terminates when the relation is over the cap).
          // The contracted edges alone are NOT the full pending state:
          // a node whose label-node moved this round is one jump behind
          // (label(x)=l, label(l)<l), and that chase lives only in the
          // label relation — so the chain pairs (l, label(l)) join the
          // union-find input, under the same bounded-cap gate.
          val eCapInt = math.min(driverFinishEdgeCap,
            Int.MaxValue.toLong - 1).toInt
          val eRows = graft.Hygiene.labeled(s, s"cc: round $iter edge probe")(
            edgesCur.limit(eCapInt + 1).collect())
          if (eRows.length <= driverFinishEdgeCap) {
            val remaining = driverFinishEdgeCap - eRows.length
            val remInt = math.min(remaining, Int.MaxValue.toLong - 1).toInt
            val chainRows = graft.Hygiene.labeled(s, "cc: driver finish")(
              labels.as("a")
              .join(labelSide(labels.select($"id".as("jid"), $"label".as("jlabel"))),
                $"a.label" === $"jid")
              .filter($"jlabel" =!= $"a.label")
              .select($"a.label".as("src"), $"jlabel".as("dst")).distinct()
              .limit(remInt + 1).collect())
            if (chainRows.length <= remaining) {
              labels = driverFinish(labels, eRows ++ chainRows)
              changed = 0L
            }
          }
        }
        iter += 1
      }
      if (changed > 0) {
        // a component with diameter > iteration cap would silently split
        throw new IllegalStateException(
          s"label propagation did not converge after $iter rounds " +
            s"($changed labels still changing)")
      }
      labels
      // labels are localCheckpointed, so releasing the edge persist is
      // safe on BOTH paths — the finally keeps the non-convergence throw
      // from leaking the symmetrized edge relation in a long-lived session
    } finally edges.unpersist()
    } // scoped parts
  }

  /** Driver-side id ordering, shared by the tiny-graph fast path,
    * [[driverFinish]] and the leakage-safe split's driver path
    * ([[graft.Graft.leakageSafeSplit]]): string ids must compare the
    * way the distributed rounds' min/least do — UTF8String's
    * unsigned-byte (code point) order. Java String compareTo is UTF-16
    * code-unit order, which diverges once supplementary characters mix
    * with U+E000..U+FFFF. */
  private[graft] def ltIds(a: Any, b: Any): Boolean = (a, b) match {
    case (x: String, y: String) =>
      org.apache.spark.unsafe.types.UTF8String.fromString(x)
        .compareTo(org.apache.spark.unsafe.types.UTF8String.fromString(y)) < 0
    case _ => a.asInstanceOf[Comparable[Any]].compareTo(b) < 0
  }

  /** Union-find over a (bounded, already-collected) label-level edge
    * set, then one broadcast-joined remap of the label relation. Roots
    * are the per-component min under the ids' natural ordering — the
    * same ordering Spark's `min`/`least` use for the distributed
    * rounds, so the result matches the distributed fixed point
    * exactly. `es` is collected by the caller's limit-probes (bounded
    * by driverFinishEdgeCap). */
  private def driverFinish(labels: DataFrame, es: Array[Row]): DataFrame = {
    val s = labels.sparkSession
    import s.implicits._
    if (es.isEmpty) return labels
    val lt = ltIds _
    val parent = scala.collection.mutable.HashMap.empty[Any, Any]
    def find(x: Any): Any = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent(r)
      var c = x
      while (parent.getOrElse(c, c) != r) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    es.foreach { row =>
      val (ra, rb) = (find(row.get(0)), find(row.get(1)))
      if (ra != rb) {
        if (lt(ra, rb)) parent(rb) = ra else parent(ra) = rb
      }
    }
    val idType = labels.schema("label").dataType
    // materialize keys before remapping: find() path-compresses the map
    val remap = parent.keys.toArray
      .map(k => (k, find(k))).filter(kv => kv._1 != kv._2)
      .map(kv => Row(kv._1, kv._2)).toSeq
    val remapDf = s.createDataFrame(
      s.sparkContext.parallelize(remap, 1),
      StructType(Seq(StructField("ml", idType), StructField("mr", idType))))
    labels.as("l")
      .join(broadcast(remapDf), col("l.label") === $"ml", "left")
      .select(col("l.id").as("id"), coalesce($"mr", col("l.label")).as("label"))
  }
}
