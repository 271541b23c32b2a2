package graft.operators

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Frame-shaped CC operator vs a local union-find on random graphs,
  * isolated nodes, and a long chain (the pointer-jumping path). */
class ConnectedComponentsSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def unionFind(ids: Seq[Long],
      edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map(ids.map(d => d -> d): _*)
    def find(x: Long): Long = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x
      while (parent(c) != r) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    // canonical label = min id per component
    val byRoot = ids.groupBy(find)
    byRoot.flatMap { case (_, ms) => val m = ms.min; ms.map(_ -> m) }
  }

  test("random graph with isolated nodes == union-find") {
    import spark.implicits._
    val rng = new scala.util.Random(11)
    val ids = (0L until 500L).toSeq
    val edges = (0 until 400).map(_ =>
      (rng.nextInt(500).toLong, rng.nextInt(500).toLong))
      .filter(e => e._1 != e._2)
    val want = unionFind(ids, edges)
    val got = ConnectedComponents.labels(
        ids.toDF("id"), edges.toDF("src", "dst"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == want)
    assert(got.values.toSet.size > 1, "degenerate fixture: one component")
  }

  test("adaptive loop partitioning restores the session conf — on " +
      "success and on the non-convergence throw") {
    import spark.implicits._
    val key = "spark.sql.shuffle.partitions"
    val before = spark.conf.get(key)
    val ids = (0L until 300L).toSeq
    val edges = (0L until 299L).map(i => (i, i + 1))
    // distributed loop forced (caps 0), tiny graph → the derived count
    // is below the session's and the scoped override actually engages
    val got = ConnectedComponents.labels(
        ids.toDF("id"), edges.toDF("src", "dst"), driverFinishEdgeCap = 0L,
        driverWholeGraphNodeCap = 0L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.values.forall(_ == 0L))
    assert(spark.conf.get(key) == before,
      "labels() must restore the shuffle-partition conf it scoped")
    // failure path: maxIters=1 cannot converge a 300-chain — the throw
    // must still restore the conf (the finally)
    intercept[IllegalStateException] {
      ConnectedComponents.labels(ids.toDF("id"), edges.toDF("src", "dst"),
        maxIters = 1, driverFinishEdgeCap = 0L, driverWholeGraphNodeCap = 0L)
    }
    assert(spark.conf.get(key) == before,
      "the non-convergence throw must restore the conf too")
  }

  test("a 200-node chain converges in O(log n) pointer-jumping rounds") {
    import spark.implicits._
    val ids = (0L until 200L).toSeq
    val edges = (0L until 199L).map(i => (i, i + 1))
    // default maxIters=30 ≫ log2(200)≈8 but ≪ the chain length 200 —
    // convergence inside the cap proves the jump is actually halving.
    // driverFinishEdgeCap=0 keeps the union-find shortcut out of the
    // way (and driverWholeGraphNodeCap=0 the tiny-graph fast path) so
    // the distributed rounds are what converges here.
    val got = ConnectedComponents.labels(
        ids.toDF("id"), edges.toDF("src", "dst"), driverFinishEdgeCap = 0L,
        driverWholeGraphNodeCap = 0L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.values.forall(_ == 0L))
  }

  test("driver union-find finish == fully distributed convergence") {
    import spark.implicits._
    val rng = new scala.util.Random(47)
    val ids = (0L until 400L).toSeq
    val edges = (0 until 250).map(_ =>
      (rng.nextInt(400).toLong, rng.nextInt(400).toLong))
      .filter(e => e._1 != e._2)
    def run(cap: Long) = ConnectedComponents.labels(
        ids.toDF("id"), edges.toDF("src", "dst"), driverFinishEdgeCap = cap,
        driverWholeGraphNodeCap = 0L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val finished = run(Long.MaxValue) // finish after the first round
    val distributed = run(0L)         // never finish on the driver
    assert(finished == distributed)
    assert(finished == unionFind(ids, edges))
  }

  test("mid-round finish triggers: every cap point == union-find") {
    import spark.implicits._
    // cap=∞ fires the finish after round 1; cap=0 never fires. The
    // hazard lives BETWEEN those: a finish fired at round k>1 must fold
    // in the labels that are still mid-chase (label(x) moved this
    // round). Sweep caps so the trigger round varies — a 300-node chain
    // maximizes chase depth — and cross seeds on random graphs.
    val chainIds = (0L until 300L).toSeq
    val chainEdges = (0L until 299L).map(i => (i, i + 1))
    val chainWant = unionFind(chainIds, chainEdges)
    for (cap <- Seq(1L, 25L, 120L)) {
      val got = ConnectedComponents.labels(
          chainIds.toDF("id"), chainEdges.toDF("src", "dst"),
          driverFinishEdgeCap = cap, driverWholeGraphNodeCap = 0L)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == chainWant, s"chain diverged at driverFinishEdgeCap=$cap")
    }
    for (seed <- Seq(3, 29)) {
      val rng = new scala.util.Random(seed)
      val ids = (0L until 400L).toSeq
      val edges = (0 until 260).map(_ =>
        (rng.nextInt(400).toLong, rng.nextInt(400).toLong))
        .filter(e => e._1 != e._2)
      val want = unionFind(ids, edges)
      for (cap <- Seq(20L, 200L)) {
        val got = ConnectedComponents.labels(
            ids.toDF("id"), edges.toDF("src", "dst"),
            driverFinishEdgeCap = cap, driverWholeGraphNodeCap = 0L)
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        assert(got == want, s"seed=$seed cap=$cap diverged")
      }
    }
  }

  test("string node ids: driver finish orders labels like Spark's min") {
    import spark.implicits._
    // the q57/q80 path uses long rep ids, but the operator is
    // id-type-generic; driverFinish compares collected ids through
    // Comparable, which must agree with the distributed rounds'
    // min/least ordering (lexicographic for strings)
    val ids = Seq("alpha", "beta", "gamma", "delta", "epsilon", "zeta")
    val edges = Seq(("beta", "gamma"), ("gamma", "alpha"),
      ("zeta", "epsilon"))
    def run(cap: Long) = ConnectedComponents.labels(
        ids.toDF("id"), edges.toDF("src", "dst"), driverFinishEdgeCap = cap,
        driverWholeGraphNodeCap = 0L)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    val want = Map("alpha" -> "alpha", "beta" -> "alpha",
      "gamma" -> "alpha", "delta" -> "delta",
      "epsilon" -> "epsilon", "zeta" -> "epsilon")
    assert(run(Long.MaxValue) == want)
    assert(run(0L) == want)
  }

  test("non-BMP string ids: driver finish uses Spark's UTF8 binary order") {
    import spark.implicits._
    // Java's UTF-16 code-unit compareTo and Spark's UTF8String
    // (code point) order DISAGREE between supplementary characters and
    // U+E000..U+FFFF: U+1F600 (surrogate pair D83D DE00) sorts BELOW
    // U+FFFD for Java but ABOVE it for Spark. The 4-chain below leaves
    // the contracted graph with a (repl-labeled, emoji-labeled) edge at
    // finish time, so the driver union-find must compare exactly that
    // diverging pair when it picks the component root.
    val repl = "\ufffd"            // U+FFFD — Spark min of the component
    val mid = "\ufffe"             // U+FFFE
    val emoji1 = "\ud83d\ude00"    // U+1F600 — Java min of the component
    val emoji2 = "\ud83d\ude01"    // U+1F601
    val ids = Seq(repl, mid, emoji2, emoji1)
    val edges = Seq((repl, mid), (mid, emoji2), (emoji2, emoji1))
    def run(cap: Long) = ConnectedComponents.labels(
        ids.toDF("id"), edges.toDF("src", "dst"), driverFinishEdgeCap = cap,
        driverWholeGraphNodeCap = 0L)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    val want = ids.map(_ -> repl).toMap
    assert(run(0L) == want, "distributed rounds should label by UTF8 min")
    assert(run(Long.MaxValue) == want,
      "driver finish diverged from Spark's string ordering on non-BMP ids")
    // the tiny-graph fast path shares ltIds with driverFinish — pin it
    // against the same diverging pair (default caps: the fast path fires)
    val fast = ConnectedComponents.labels(
        ids.toDF("id"), edges.toDF("src", "dst"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(fast == want,
      "tiny-graph fast path diverged from Spark's string ordering on non-BMP ids")
  }

  test("empty edge set: every node is its own component") {
    import spark.implicits._
    val ids = Seq(3L, 5L, 9L)
    val got = ConnectedComponents.labels(ids.toDF("id"),
        Seq.empty[(Long, Long)].toDF("src", "dst"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(3L -> 3L, 5L -> 5L, 9L -> 9L))
  }

  test("labels above the broadcast cap: shuffle path == broadcast path") {
    import spark.implicits._
    // broadcastNodeCap = 0 forces the at-scale plan (label side shuffles
    // against the pre-partitioned edge persist every round) — output
    // must be identical to the default broadcast-hinted path
    val rng = new scala.util.Random(23)
    val ids = (0L until 500L).toSeq
    val edges = (0 until 300).map(_ =>
      (rng.nextInt(500).toLong, rng.nextInt(500).toLong))
      .filter(e => e._1 != e._2)
    val want = unionFind(ids, edges)
    val got = ConnectedComponents.labels(
        ids.toDF("id"), edges.toDF("src", "dst"), broadcastNodeCap = 0L,
        driverFinishEdgeCap = 0L, driverWholeGraphNodeCap = 0L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == want)
    assert(got.values.toSet.size > 1, "degenerate fixture: one component")
  }

  test("tiny-graph fast path == distributed rounds (optimization r16)") {
    import spark.implicits._
    // at or under driverWholeGraphNodeCap nodes the whole union-find
    // runs on the driver (zero propagation rounds) — output must stay
    // identical to the distributed fixed point, duplicate/self/null
    // edges included
    val rng = new scala.util.Random(71)
    val ids = (0L until 300L).toSeq
    val edges = (0 until 220).map(_ =>
      (rng.nextInt(300).toLong, rng.nextInt(300).toLong))
      .filter(e => e._1 != e._2)
    val withDups = edges ++ edges.take(40) // multiset input is legal
    val fast = ConnectedComponents.labels(
        ids.toDF("id"), withDups.toDF("src", "dst"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val dist = ConnectedComponents.labels(
        ids.toDF("id"), withDups.toDF("src", "dst"),
        driverWholeGraphNodeCap = 0L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fast == dist)
    assert(fast == unionFind(ids, edges))
    // null edge endpoints carry no information on either path (an
    // equi-join never matches NULL) — the fast path must agree
    val withNulls = withDups.map { case (a, b) => (Some(a), Some(b)) } ++
      Seq((Some(0L), Option.empty[Long]), (Option.empty[Long], Some(5L)))
    val fastN = ConnectedComponents.labels(
        ids.toDF("id"), withNulls.toDF("src", "dst"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fastN == fast)
  }

  test("fast-path edge probe overflow falls through to the distributed loop") {
    import spark.implicits._
    // 2 nodes pass the node probe at cap=2, but cap²+1 = 5 duplicate
    // edge rows overflow the bounded edge probe: the fast path must
    // refuse the driver collect and the distributed loop must still
    // produce the right labels
    val ids = Seq(0L, 1L)
    val edges = Seq.fill(5)((0L, 1L))
    val got = ConnectedComponents.labels(
        ids.toDF("id"), edges.toDF("src", "dst"),
        driverWholeGraphNodeCap = 2L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(0L -> 0L, 1L -> 0L))
  }

  test("non-convergence throw does not leak the persisted edge relation") {
    import spark.implicits._
    // ADVICE r4: unpersist ran only on the success path, so the
    // IllegalStateException left the symmetrized edges cached for the
    // life of the session. Force the throw with an impossible cap. The
    // observable is the DataFrame cache manager: only the edges
    // `.persist()` registers there (the per-round localCheckpoint RDDs
    // are context-cleaner-owned and out of scope for this guarantee).
    assert(spark.sharedState.cacheManager.isEmpty)
    intercept[IllegalStateException] {
      ConnectedComponents.labels(
        (0L until 10L).toDF("id"),
        (0L until 9L).map(i => (i, i + 1)).toDF("src", "dst"),
        maxIters = 1, driverFinishEdgeCap = 0L,
        driverWholeGraphNodeCap = 0L)
    }
    assert(spark.sharedState.cacheManager.isEmpty,
      "non-convergence leaked the persisted edge relation")
  }
}
