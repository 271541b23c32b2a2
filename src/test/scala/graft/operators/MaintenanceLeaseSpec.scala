package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Local filesystem under an object-store-shaped contract: `setTimes`
  * is unsupported (S3A historically no-ops it; other adapters throw).
  * Reuses [[graft.filemover.FakeHdfsFileSystem]]'s eager-permission
  * statuses so non-`file` schemes survive the lazy permission loader. */
class NoSetTimesFileSystem extends graft.filemover.FakeHdfsFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("notimes://nn")
  override def getScheme: String = "notimes"
  override def setTimes(p: Path, mtime: Long, atime: Long): Unit =
    throw new UnsupportedOperationException("setTimes is not supported")
}

object FlakyReads { @volatile var fail = false }

/** Local filesystem whose reads fail on demand — the transient
  * open/read hiccup (object store throttle, NN failover) of ADVICE
  * r12: the heartbeat must skip the tick and retry, not stop. */
class FlakyReadFileSystem extends graft.filemover.FakeHdfsFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("flaky://nn")
  override def getScheme: String = "flaky"
  override def open(f: Path, bufferSize: Int)
      : org.apache.hadoop.fs.FSDataInputStream =
    if (FlakyReads.fail)
      throw new java.io.IOException("injected transient read failure")
    else super.open(f, bufferSize)
}

/** The maintenance concurrency lease (VERDICT r9 task 3) plus the r9
  * ADVICE hardening of the compaction/stats machinery: a writer racing
  * another writer is refused LOUDLY (naming the holder) instead of
  * silently losing an increment in the rename swap; a crashed writer's
  * stale lease is broken by mtime; degenerate compaction inputs are
  * no-ops, not manufactured crash states; root side files survive the
  * swap; a truncated meta dir degrades the health probe to its
  * documented sentinel instead of killing it. */
class MaintenanceLeaseSpec extends AnyFunSuite with BeforeAndAfterAll
    with org.scalatest.concurrent.TimeLimits {

  // a refused probe+append must fail its caller, not block it: interrupt
  // the test thread if the call hangs
  implicit val signaler: org.scalatest.concurrent.Signaler =
    org.scalatest.concurrent.ThreadSignaler
  private def failFast[A](f: => A): A =
    failAfter(org.scalatest.time.Span(60, org.scalatest.time.Seconds))(f)

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def fs =
    new Path("/").getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private def docs(n: Int): DataFrame = {
    import spark.implicits._
    (0L until n.toLong).map(i =>
      (i, Seq("a", "b", s"t${i % 5}", s"u${i % 3}"))).toDF("doc_id", "toks")
  }

  private def holdLease(dir: String, text: String): Path = {
    val p = new Path(s"${dir}__lease")
    val out = fs.create(p, false)
    try out.write(text.getBytes("UTF-8")) finally out.close()
    p
  }

  test("store append/compact refuse while a fresh lease is held, naming " +
      "the holder; release re-admits") {
    val dir = tmp("lease_store")
    NearDupSignatureStore.build(docs(20), dir, threshold = 0.5)
    val lease = holdLease(dir, "rival-compactor@elsewhere")
    val e1 = intercept[IllegalStateException] {
      NearDupSignatureStore.append(spark, dir, docs(4))
    }
    assert(e1.getMessage.contains("rival-compactor@elsewhere"))
    assert(e1.getMessage.contains(dir))
    val e2 = intercept[IllegalStateException] {
      NearDupSignatureStore.compact(spark, dir)
    }
    assert(e2.getMessage.contains("rival-compactor@elsewhere"))
    val e3 = failFast(intercept[IllegalStateException] {
      NearDupSignatureStore.probeThenAppend(spark, dir, docs(4))
    })
    assert(e3.getMessage.contains("rival-compactor@elsewhere"))
    // the refused calls must not have broken the live lease
    assert(fs.exists(lease), "refused writer deleted the holder's lease")
    fs.delete(lease, false)
    NearDupSignatureStore.append(spark, dir, docs(4)) // re-admitted
    assert(!fs.exists(lease), "lease not released after append")

    // the Hamming store's fused probe+append takes the same lease
    import spark.implicits._
    val hdir = tmp("lease_hamstore")
    HammingStore.build((0L until 20L).map(i => (i, i * 0x9E3779B97F4A7C15L))
      .toDF("doc_id", "fp"), hdir, "doc_id", "fp", maxDist = 3)
    val hlease = holdLease(hdir, "rival-compactor@elsewhere")
    val e4 = failFast(intercept[IllegalStateException] {
      HammingStore.probeThenAppend(spark, hdir,
        Seq((100L, 7L)).toDF("doc_id", "fp"))
    })
    assert(e4.getMessage.contains("rival-compactor@elsewhere"))
    assert(fs.exists(hlease), "refused writer deleted the holder's lease")
    fs.delete(hlease, false)

    // a dir with no store fails both fused calls (no meta), and frees
    // the lease the call took
    val none = tmp("lease_nostore")
    Seq(
      () => NearDupSignatureStore.probeThenAppend(spark, none, docs(4)),
      () => HammingStore.probeThenAppend(spark, none,
        Seq((100L, 7L)).toDF("doc_id", "fp"))).foreach { call =>
      val e = failFast(intercept[IllegalArgumentException](call()))
      assert(e.getMessage.contains("run build"), e.getMessage)
      assert(!fs.exists(new Path(s"${none}__lease")), "lease not released")
    }
  }

  test("ivf append/compact take the same lease on the index dir") {
    import spark.implicits._
    val dir = tmp("lease_ivf")
    val emb = (0L until 40L).map(i =>
      (i, Seq.tabulate(4)(d => ((i + d) % 7).toDouble + 0.5)))
      .toDF("vec_id", "v")
    IvfIndex.build(emb, dir, c = 4)
    val lease = holdLease(dir, "rival-append")
    val e = intercept[IllegalStateException] {
      IvfIndex.compact(spark, dir)
    }
    assert(e.getMessage.contains("rival-append"))
    fs.delete(lease, false)
    IvfIndex.compact(spark, dir) // re-admitted, lease released
    assert(!fs.exists(lease))
  }

  test("break(): the operator override evicts a fresh lease and names " +
      "the evicted holder (the crashed-compact-blocks-maintenance case)") {
    val dir = tmp("lease_break")
    NearDupSignatureStore.build(docs(20), dir, threshold = 0.5)
    holdLease(dir, "crashed-compact@deadhost")
    val evicted = MaintenanceLease.break(spark, dir)
    assert(evicted.exists(_.contains("crashed-compact@deadhost")), evicted)
    NearDupSignatureStore.append(spark, dir, docs(4)) // re-admitted now
    assert(MaintenanceLease.break(spark, dir).isEmpty) // nothing held
  }

  test("a stale lease (mtime beyond staleMs) is broken, not honored") {
    val dir = tmp("lease_stale")
    NearDupSignatureStore.build(docs(20), dir, threshold = 0.5)
    val lease = holdLease(dir, "dead-process")
    // age the lease past the default 1 h threshold
    fs.setTimes(lease, System.currentTimeMillis - 2L * 60 * 60 * 1000, -1)
    NearDupSignatureStore.append(spark, dir, docs(4)) // broken + acquired
    assert(!fs.exists(lease), "stale lease not cleaned up after the run")
  }

  test("stale break is single-winner: a breaker whose observed-stale " +
      "lease was replaced by a FRESH one refuses instead of evicting it " +
      "(ADVICE r10)") {
    val dir = tmp("lease_race")
    val lease = holdLease(dir, "dead-process")
    val staleMtime = System.currentTimeMillis - 2L * 60 * 60 * 1000
    fs.setTimes(lease, staleMtime, -1)
    // rival B observed the stale mtime; before B's break lands, rival A
    // breaks the stale lease and creates a FRESH one (the interleave the
    // old delete-then-create turned into a double acquisition)
    assert(MaintenanceLease.breakIfStillStale(fs, lease, staleMtime),
      "first breaker must win against the genuinely stale lease")
    val fresh = holdLease(dir, "rival-A-fresh")
    // B's break now runs with its STALE observation: must refuse and
    // leave A's fresh lease untouched, content intact
    assert(!MaintenanceLease.breakIfStillStale(fs, lease, staleMtime),
      "second breaker evicted a fresh lease (double-acquisition race)")
    assert(fs.exists(fresh), "fresh lease deleted by the losing breaker")
    val in = fs.open(fresh)
    val buf = new Array[Byte](64)
    val n = try in.read(buf) finally in.close()
    assert(new String(buf, 0, n, "UTF-8") == "rival-A-fresh")
    // and no tombstone litter is left beside the lease
    val litter = fs.listStatus(new Path(dir).getParent)
      .map(_.getPath.getName).filter(_.contains("broken"))
    assert(litter.isEmpty, s"tombstone litter: ${litter.mkString(",")}")
    fs.delete(fresh, false)
  }

  test("release deletes only the holder's OWN lease: a job that outran " +
      "staleMs must not evict its successor's fresh lease (ADVICE r10)") {
    val dir = tmp("lease_own")
    NearDupSignatureStore.build(docs(20), dir, threshold = 0.5)
    val lease = new Path(s"${dir}__lease")
    // inside the guarded op, simulate the overrun: the lease is broken
    // and a NEW writer's lease sits at the path when the finally runs
    MaintenanceLease.withLease(spark, dir, "slow-append") {
      fs.delete(lease, false)
      val out = fs.create(lease, false)
      try out.write("successor-writer@otherhost".getBytes("UTF-8"))
      finally out.close()
    }
    assert(fs.exists(lease),
      "finally-release deleted the successor's lease (would admit a " +
        "third concurrent writer)")
    val in = fs.open(lease)
    val buf = new Array[Byte](64)
    val n = try in.read(buf) finally in.close()
    assert(new String(buf, 0, n, "UTF-8") == "successor-writer@otherhost")
    fs.delete(lease, false)
  }

  private def leaseText(p: Path): String = {
    val in = fs.open(p)
    val buf = new Array[Byte](256)
    val n = try in.read(buf) finally in.close()
    new String(buf, 0, n, "UTF-8")
  }

  test("heartbeat: a holder that outruns staleMs KEEPS its exclusion — " +
      "a rival's acquisition mid-hold refuses on the fresh mtime " +
      "(VERDICT r11 task 2)") {
    val dir = tmp("lease_beat")
    val lease = new Path(s"${dir}__lease")
    MaintenanceLease.withLease(spark, dir, "slow-fold", staleMs = 3000) {
      Thread.sleep(7000) // > 2× staleMs; heartbeat re-touches every 1 s
      val e = intercept[IllegalStateException] {
        MaintenanceLease.withLease(spark, dir, "rival", staleMs = 3000)(())
      }
      assert(e.getMessage.contains("slow-fold"), e.getMessage)
      assert(fs.exists(lease), "rival's refused attempt removed the lease")
    }
    assert(!fs.exists(lease), "lease not released after the long hold")
    // the crashed-holder path stays green: a lease NOBODY heartbeats
    // (dead process) still goes stale and is broken by the successor
    val dead = holdLease(dir, "dead-process")
    fs.setTimes(dead, System.currentTimeMillis - 60000, -1)
    MaintenanceLease.withLease(spark, dir, "successor", staleMs = 3000)(())
    assert(!fs.exists(lease), "stale dead lease survived the successor")
  }

  test("holder identity carries a per-acquisition nonce: an overrun " +
      "job's release must not match a SAME-OP successor's lease in the " +
      "same JVM (ADVICE r11)") {
    val dir = tmp("lease_nonce")
    val lease = new Path(s"${dir}__lease")
    var successorText: String = null
    MaintenanceLease.withLease(spark, dir, "fold") { // the overrun job
      // simulate: this job outran staleMs, a rival broke its lease, and
      // a SAME-OP retry in the SAME JVM re-acquired
      fs.delete(lease, false)
      MaintenanceLease.withLease(spark, dir, "fold") {
        successorText = leaseText(lease)
      }
      // the nested call had to release to exit; put the successor's
      // lease back as it would still sit at the path mid-run
      val out = fs.create(lease, false)
      try out.write(successorText.getBytes("UTF-8")) finally out.close()
    } // the overrun job's release runs HERE
    assert(fs.exists(lease),
      "overrun job's release evicted the same-op successor's lease " +
        "(holder text not unique per acquisition)")
    assert(leaseText(lease) == successorText)
    fs.delete(lease, false)
  }

  test("object-store-safe heartbeat: on a filesystem whose setTimes " +
      "THROWS, a live holder outrunning staleMs still keeps its " +
      "exclusion via the beat sidecar, and a dead holder is still " +
      "broken (VERDICT r12 task 1)") {
    spark.sparkContext.hadoopConfiguration
      .set("fs.notimes.impl", classOf[NoSetTimesFileSystem].getName)
    val localDir = tmp("lease_os")
    val dir = s"notimes://nn$localDir/guarded"
    val osFs = new Path(dir).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    intercept[UnsupportedOperationException] {
      osFs.setTimes(new Path(dir), System.currentTimeMillis, -1)
    } // precondition: this REALLY is a setTimes-less filesystem
    val lease = new Path(s"${dir}__lease")
    MaintenanceLease.withLease(spark, dir, "slow-fold-os", staleMs = 3000) {
      Thread.sleep(7000) // > 2× staleMs; only the beat can prove liveness
      val e = intercept[IllegalStateException] {
        MaintenanceLease.withLease(spark, dir, "rival-os", staleMs = 3000)(())
      }
      assert(e.getMessage.contains("slow-fold-os"), e.getMessage)
      assert(osFs.exists(lease), "rival's refused attempt removed the lease")
    }
    assert(!osFs.exists(lease), "lease not released after the long hold")
    assert(!osFs.exists(new Path(s"${dir}__lease.beat")),
      "beat sidecar not cleaned up at release")
    // dead-process path unchanged: a lease NOBODY beats goes stale and
    // is broken (aged via the raw local file — the wrapper can't)
    val out = osFs.create(lease, false)
    try out.write("dead-process-os".getBytes("UTF-8")) finally out.close()
    assert(new java.io.File(s"$localDir/guarded__lease")
      .setLastModified(System.currentTimeMillis - 60000))
    MaintenanceLease.withLease(spark, dir, "successor-os", staleMs = 3000)(())
    assert(!osFs.exists(lease), "stale dead lease survived the successor")
  }

  test("heartbeat survives TRANSIENT lease-read failures: a flaky-read " +
      "window must skip ticks and retry, not permanently stop the " +
      "heartbeat and forfeit the exclusion (ADVICE r12)") {
    spark.sparkContext.hadoopConfiguration
      .set("fs.flaky.impl", classOf[FlakyReadFileSystem].getName)
    val localDir = tmp("lease_flaky")
    val dir = s"flaky://nn$localDir/guarded"
    val flakyFs = new Path(dir).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val lease = new Path(s"${dir}__lease")
    FlakyReads.fail = false
    try {
      MaintenanceLease.withLease(spark, dir, "flaky-hold", staleMs = 3000) {
        Thread.sleep(1400)      // first tick beats cleanly
        FlakyReads.fail = true  // reads fail across ~2 ticks
        Thread.sleep(2200)
        FlakyReads.fail = false // store recovers; beats must RESUME
        Thread.sleep(2000)
        // by now the acquisition is >5.5 s old — far past staleMs. If
        // the flaky window had stopped the heartbeat (the r12
        // behavior), the last liveness evidence would be >4 s old and
        // this rival would break the lease and take over mid-hold.
        val e = intercept[IllegalStateException] {
          MaintenanceLease.withLease(spark, dir, "rival-flaky",
            staleMs = 3000)(())
        }
        assert(e.getMessage.contains("flaky-hold"), e.getMessage)
      }
    } finally FlakyReads.fail = false
    assert(!flakyFs.exists(lease), "lease not released after the hold")
  }

  test("break re-checks the beat: a beat that CHANGED or APPEARED " +
      "between the staleness observation and the rename refuses the " +
      "break — the object-store analogue of the mtime-identity check") {
    val dir = tmp("lease_beatrace")
    val lease = holdLease(dir, "os-holder")
    val staleM = System.currentTimeMillis - 2L * 60 * 60 * 1000
    fs.setTimes(lease, staleM, -1)
    val beatP = new Path(s"${dir}__lease.beat")
    def writeBeat(s: String): Unit = {
      val out = fs.create(beatP, true)
      try out.write(s.getBytes("UTF-8")) finally out.close()
    }
    writeBeat("os-holder beat=7 ms=123")
    val observed = Some((staleM, "os-holder beat=7 ms=123"))
    // a live holder's tick lands in the window: the body changes (the
    // monotone counter makes every tick distinct even under coarse
    // mtime granularity)
    writeBeat("os-holder beat=8 ms=456")
    assert(!MaintenanceLease.breakIfStillStale(fs, lease, staleM, observed),
      "break proceeded over a beat that changed in the window")
    assert(fs.exists(lease), "lease evicted under a live beat")
    assert(leaseText(lease) == "os-holder", "lease body not restored")
    // beat APPEARED where none was observed: same refusal
    assert(!MaintenanceLease.breakIfStillStale(fs, lease, staleM, None),
      "break proceeded over a beat that appeared in the window")
    assert(fs.exists(lease))
    // with the beat UNCHANGED since observation the break proceeds and
    // clears both the lease and its beat residue
    assert(MaintenanceLease.breakIfStillStale(fs, lease, staleM,
      Some((staleM, "os-holder beat=8 ms=456"))))
    assert(!fs.exists(lease) && !fs.exists(beatP))
  }

  test("a residue beat from a DIFFERENT holder does not block breaking " +
      "a stale lease (r13 review): the break's beat re-check is " +
      "holder-matched, else maintenance deadlocks until a manual break") {
    val dir = tmp("lease_residue")
    val lease = holdLease(dir, "dead-holder")
    val staleM = System.currentTimeMillis - 2L * 60 * 60 * 1000
    fs.setTimes(lease, staleM, -1)
    // residue from an earlier, unrelated holder's crash window
    val beatP = new Path(s"${dir}__lease.beat")
    val out = fs.create(beatP, true)
    try out.write("other-holder beat=5 ms=1".getBytes("UTF-8"))
    finally out.close()
    fs.setTimes(beatP, staleM, -1)
    // the observation holder-filters the beat (names other-holder, the
    // lease names dead-holder) → observedBeat = None; the re-check
    // inside the break must apply the SAME filter or (None, Some)
    // refuses this break on every retry forever
    assert(MaintenanceLease.breakIfStillStale(fs, lease, staleM, None),
      "foreign residue beat blocked a stale break")
    assert(!fs.exists(lease), "break did not clear the stale lease")
    // the foreign beat is deliberately LEFT by the break (ADVICE r13:
    // a beat naming someone else could be a successor's own — only a
    // beat naming the BROKEN holder is clobbered); the next
    // acquisition's residue-clean removes it, holder-matched against
    // the new lease
    assert(fs.exists(beatP),
      "break clobbered a beat naming a different holder")
    MaintenanceLease.withLease(spark, dir, "tidy", staleMs = 3000)(())
    assert(!fs.exists(beatP),
      "acquisition did not clean the foreign residue beat")
    // end-to-end: the same shape through withLease
    val lease2 = holdLease(dir, "dead-holder-2")
    fs.setTimes(lease2, staleM, -1)
    val out2 = fs.create(beatP, true)
    try out2.write("other-holder beat=9 ms=2".getBytes("UTF-8"))
    finally out2.close()
    fs.setTimes(beatP, staleM, -1)
    MaintenanceLease.withLease(spark, dir, "successor", staleMs = 3000)(())
    assert(!fs.exists(lease2), "stale lease survived under foreign residue")
  }

  test("TORN beat reads refuse, never break (r13 seed): a beat body " +
      "truncated inside the holder token — the mid-write state a " +
      "non-atomic create-overwrite exposes — is unconfirmable " +
      "evidence at BOTH read paths, not a foreign/absent beat") {
    val dir = tmp("lease_torn")
    val beatP = new Path(s"${dir}__lease.beat")
    def writeBeat(s: String): Unit = {
      val out = fs.create(beatP, true)
      try out.write(s.getBytes("UTF-8")) finally out.close()
    }
    // (a) the break re-check: observed no beat, a TORN prefix of the
    // captured holder's own beat appears in the window — without the
    // torn-prefix rule it reads as foreign → filtered to None →
    // (None, None) unmoved → a live holder broken mid-write
    val lease = holdLease(dir, "os-holder2")
    val staleM = System.currentTimeMillis - 2L * 60 * 60 * 1000
    fs.setTimes(lease, staleM, -1)
    writeBeat("os-hol") // torn inside the holder token
    assert(!MaintenanceLease.breakIfStillStale(fs, lease, staleM, None),
      "break proceeded over a torn read of the holder's own beat")
    assert(fs.exists(lease), "lease evicted under a torn beat read")
    assert(leaseText(lease) == "os-holder2", "lease body not restored")
    // the EXTREME torn state: an EMPTY beat (created, body not yet
    // written) is equally unconfirmable — refuse, don't read it as
    // foreign
    val out0 = fs.create(beatP, true); out0.close()
    assert(!MaintenanceLease.breakIfStillStale(fs, lease, staleM, None),
      "break proceeded over an empty (mid-create) beat")
    assert(fs.exists(lease), "lease evicted under an empty beat read")
    // ...but DEAD residue stays breakable (r14 review): a live holder
    // re-creates its beat every staleMs/3, so a torn/empty body whose
    // OWN mtime is beyond staleMs is a crash artifact, not a mid-write
    // — byte-identical stale evidence passes the unchanged-evidence
    // comparison and the break proceeds instead of deadlocking until a
    // manual break()
    fs.setTimes(beatP, staleM, -1)
    assert(MaintenanceLease.breakIfStillStale(fs, lease, staleM,
      Some((staleM, "<empty lease file>"))),
      "hours-old empty beat residue deadlocked the stale break")
    assert(!fs.exists(lease), "stale lease survived under dead residue")
    // (b) the observation path: a stale-looking lease whose FRESH beat
    // reads torn must still count as liveness evidence — the rival is
    // refused naming the holder, instead of observing 'stale' and
    // entering the break
    val lease2 = holdLease(dir, "live-holder")
    fs.setTimes(lease2, staleM, -1)
    writeBeat("live-hol") // fresh mtime, torn body
    val e = intercept[IllegalStateException] {
      MaintenanceLease.withLease(spark, dir, "rival-torn",
        staleMs = 3000)(())
    }
    assert(e.getMessage.contains("live-holder"), e.getMessage)
    assert(fs.exists(lease2), "rival broke a holder with a fresh torn beat")
    // a torn read is evidence for THIS holder only: a body that is not
    // a prefix of the holder token stays foreign and the break proceeds
    writeBeat("someone-else beat=1 ms=2")
    fs.setTimes(beatP, staleM, -1)
    assert(MaintenanceLease.breakIfStillStale(fs, lease2, staleM, None),
      "a genuinely foreign beat blocked the stale break")
    assert(!fs.exists(lease2))
    fs.delete(beatP, false)
  }

  test("the lease releases on a FAILED operation too") {
    val dir = tmp("lease_fail")
    NearDupSignatureStore.build(docs(20), dir, threshold = 0.5)
    import spark.implicits._
    val badDelta = Seq((1L, "not-a-token-array")).toDF("doc_id", "wrong")
    intercept[Exception] {
      NearDupSignatureStore.append(spark, dir, badDelta)
    }
    assert(!fs.exists(new Path(s"${dir}__lease")),
      "lease leaked by a failed append (would deadlock the next writer " +
        "until the stale break)")
  }

  test("compactPartitioned with zero matching leaves is a (0,0) no-op — " +
      "never a manufactured crash state (ADVICE r9)") {
    val dir = tmp("compact_empty")
    // a dir with content, but none of it matching the partition prefix
    fs.mkdirs(new Path(s"$dir/unrelated"))
    val out = fs.create(new Path(s"$dir/side.txt"), false)
    try out.write("keep".getBytes("UTF-8")) finally out.close()
    assert(Compaction.compactPartitioned(spark, dir, "cell=", 1L << 20)
      == ((0, 0)))
    // the live dir must be untouched: no swap happened
    assert(fs.exists(new Path(s"$dir/unrelated")))
    assert(fs.exists(new Path(s"$dir/side.txt")))
    assert(!fs.exists(new Path(s"${dir}__old")))
  }

  test("non-leaf root entries (side files/dirs) survive compactPartitioned " +
      "byte-for-byte (ADVICE r9)") {
    import spark.implicits._
    val dir = tmp("compact_side") + "/table"
    val d = (0L until 30L).map(i => (i, i % 3)).toDF("id", "cell")
    d.write.partitionBy("cell").parquet(dir)
    d.write.mode("append").partitionBy("cell").parquet(dir) // 2nd sliver set
    val out = fs.create(new Path(s"$dir/_side_note"), true)
    try out.write("side-payload".getBytes("UTF-8")) finally out.close()
    fs.mkdirs(new Path(s"$dir/_sidecar_dir"))
    val out2 = fs.create(new Path(s"$dir/_sidecar_dir/inner"), true)
    try out2.write("inner-payload".getBytes("UTF-8")) finally out2.close()
    val (before, after) =
      Compaction.compactPartitioned(spark, dir, "cell=", 1L << 30)
    assert(before > after && after == 3, s"expected 1 file/cell, got $after")
    // content identical, side entries preserved
    assert(spark.read.parquet(dir).orderBy("id").collect().map(_.getLong(0))
      .toSeq == ((0L until 30L) ++ (0L until 30L)).sorted)
    val in = fs.open(new Path(s"$dir/_side_note"))
    val buf = new Array[Byte](64)
    val n = try in.read(buf) finally in.close()
    assert(new String(buf, 0, n, "UTF-8") == "side-payload")
    val in2 = fs.open(new Path(s"$dir/_sidecar_dir/inner"))
    val n2 = try in2.read(buf) finally in2.close()
    assert(new String(buf, 0, n2, "UTF-8") == "inner-payload")
  }

  test("IvfIndex.stats on a truncated (empty) meta dir reports the -1.0 " +
      "sentinel instead of throwing (ADVICE r9)") {
    import spark.implicits._
    val dir = tmp("ivf_meta")
    val emb = (0L until 20L).map(i =>
      (i, Seq.tabulate(4)(d => ((i + d) % 5).toDouble + 0.5)))
      .toDF("vec_id", "v")
    IvfIndex.build(emb, dir, c = 2)
    // simulate the crash window: overwrite truncated meta, then died
    fs.delete(new Path(s"$dir/meta"), true)
    fs.mkdirs(new Path(s"$dir/meta"))
    val st = IvfIndex.stats(spark, dir)
    assert(st.appendedFraction == -1.0)
    assert(st.rows == 20L)
  }
}
