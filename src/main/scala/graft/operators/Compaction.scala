package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** Small-file compaction: rewrite a parquet directory into files near a
  * target size. Long-running pipelines accrete small files (per-batch
  * streaming commits, over-parallel writes); at 100 TB scan cost is
  * dominated by file-open/footer overhead once the average file drops
  * below a few MB, and compaction is the standing maintenance job that
  * fixes it.
  *
  * The rewrite uses `coalesce`, not `repartition`: merging partitions
  * down needs no shuffle (each output task reads a disjoint set of
  * input files whole), so the job moves every byte exactly once. The
  * trade is balance — coalesce packs input partitions greedily, so
  * output files vary around the target instead of matching it; for a
  * maintenance job that halves file counts, shuffle-free wins. Callers
  * that need exact sizing (or size-sorted clustering) should
  * `repartitionByRange` on their sort key instead and pay the shuffle.
  *
  * Compact per leaf directory (one hive partition at a time) — merging
  * across partition boundaries would destroy partition pruning.
  *
  * Every rewrite is written in the state codec (zstd,
  * [[StateTables.recode]]), whatever codec its input files carry, so
  * compaction is also how an older state turns wholly zstd. Inputs are
  * read job-free: the files are listed on the driver and typed by the
  * newest one's footer ([[StateTables.readFlat]]), with no
  * schema-inference job per read.
  */
object Compaction {
  final case class Stats(inFiles: Int, inBytes: Long, outFiles: Int)

  // ---- swap-protocol dispatch (VERDICT r13 task 1) ---------------------
  //
  // The rename-pair swap below assumes `fs.rename` is an atomic metadata
  // operation — true on HDFS and POSIX filesystems, FALSE on object
  // stores, where rename = copy-every-file + delete (SURVEY §4.3 row 6).
  // There the swap's windows stretch from milliseconds to a full-tree
  // copy, and worse: a reader listing the live path MID-copy sees a
  // PARTIALLY-copied tree and reads it successfully — a silent torn
  // read, exactly the outcome the no-reader-lease design forbids
  // (demonstrated on a copy-rename filesystem in PointerSwapSpec).
  // On such filesystems the swap dispatches to POINTER INDIRECTION
  // instead: the new tree is written (or staged) under a
  // generation-unique sibling name, and the commit is a create-overwrite
  // of ONE small pointer file — atomic enough on every store (an object
  // PUT is all-or-nothing). Readers resolve the pointer via
  // [[resolveLive]]; with no pointer present it returns the path itself,
  // so rename-capable filesystems keep the zero-indirection fast path.

  /** Schemes whose `rename` is a copy+delete, not an atomic metadata
    * operation. Conservative public-knowledge list (S3 and friends, GCS
    * connector, Aliyun OSS, Tencent COS, OpenStack Swift, Azure wasb);
    * per-scheme override: hadoop conf `graft.swap.atomic-rename.<scheme>`
    * = true/false (e.g. set it false for a custom FUSE mount, true for
    * an S3 gateway that really serializes renames). */
  private val NonAtomicRenameSchemes =
    Set("s3", "s3a", "s3n", "gs", "oss", "cosn", "swift", "wasb", "wasbs")

  /** The dispatch rule: rename-pair swap iff the filesystem's rename is
    * an atomic metadata op (conf override first, then the known-scheme
    * list, default atomic — HDFS/local/viewfs). */
  private[graft] def renameIsAtomic(
      fs: org.apache.hadoop.fs.FileSystem): Boolean = {
    val scheme = Option(fs.getUri.getScheme).getOrElse("file")
    Option(fs.getConf.get(s"graft.swap.atomic-rename.$scheme"))
      .map(_.toBoolean)
      .getOrElse(!NonAtomicRenameSchemes.contains(scheme))
  }

  private def ptrPath(live: String) = new Path(s"${live}__ptr")

  /** Read a small control file fully (loop until EOF — a single
    * `in.read` may legally return short, ADVICE r13). Shared with the
    * pipeline's journal reads — the one EOF-loop for control files
    * (the lease keeps its own Option-returning variant: different
    * error contract). */
  private[graft] def readSmall(fs: org.apache.hadoop.fs.FileSystem,
      p: Path): String = {
    val in = fs.open(p)
    try {
      val out = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](4096)
      var n = in.read(buf)
      while (n > 0) { out.write(buf, 0, n); n = in.read(buf) }
      new String(out.toByteArray, "UTF-8")
    } finally in.close()
  }

  /** Resolve the LIVE tree of a swappable directory: the pointer's
    * generation dir once a pointer-mode swap has committed one, else
    * `live` itself (the rename-mode / never-swapped layout — zero
    * indirection cost beyond one `exists`). Every reader and every
    * in-place writer (append) of a swappable dir must go through this.
    * A pointer naming a MISSING generation is state corruption (manual
    * delete?) and throws loudly rather than silently reading the stale
    * in-place tree. */
  def resolveLive(fs: org.apache.hadoop.fs.FileSystem,
      live: String): String = {
    val pp = ptrPath(live)
    if (!fs.exists(pp)) live
    else {
      // The pointer commits via create-overwrite; on stores where that
      // is truncate-then-write a racing reader can see an EMPTY or
      // partially-written body — a transient torn read, not
      // corruption (the same non-atomic-create threat model the lease
      // beats handle; r14 review). Retry briefly before declaring the
      // state corrupt.
      var attempt = 0
      var resolved: String = null
      var lastName = ""
      while (resolved == null) {
        lastName =
          (try readSmall(fs, pp) catch {
            case _: java.io.IOException => ""
          }).trim
        if (lastName.nonEmpty) {
          val target = new Path(new Path(live).getParent, lastName)
          if (fs.exists(target)) resolved = target.toString
        } else if (!fs.exists(pp)) {
          resolved = live // pointer cleared (clearIndirection) mid-read
        }
        if (resolved == null) {
          attempt += 1
          if (attempt >= 5)
            throw new IllegalArgumentException(
              s"swap pointer $pp names a missing generation " +
                s"'$lastName' — state is corrupt; restore the " +
                s"generation dir or delete the pointer to fall back " +
                s"to $live")
          Thread.sleep(20L * attempt)
        }
      }
      resolved
    }
  }

  def resolveLive(spark: SparkSession, live: String): String =
    resolveLive(new Path(live)
      .getFileSystem(spark.sparkContext.hadoopConfiguration), live)

  /** Existence of a swappable dir's live tree (a committed pointer
    * implies one — [[resolveLive]] verifies on read). */
  def liveExists(fs: org.apache.hadoop.fs.FileSystem,
      live: String): Boolean =
    fs.exists(ptrPath(live)) || fs.exists(new Path(live))

  /** Per-JVM nonce in every generation name (the RunTmp pattern):
    * nanoTime's origin is per-JVM-arbitrary, so two RESTARTS of the
    * same maintenance can land on the same tick — writers are
    * lease-excluded, but uniqueness should be structural, not
    * probabilistic. Names stay `<live>__gen-*` (orphan GC and the
    * keep-set match by that prefix / by full name, both unaffected). */
  private val genNonce: String =
    java.util.UUID.randomUUID().toString.take(8)

  private def genName(live: String): String =
    s"${live}__gen-${java.lang.System.nanoTime}-$genNonce"

  /** Staging dir for a tree that will [[swapDir]] over `live`:
    * generation-unique in pointer mode (the staged tree BECOMES the
    * live tree — a fixed name would be clobbered by the next
    * maintenance's staging write), the classic fixed `__compacting`
    * name in rename mode (where dead-run leftovers are findable). A
    * fixed-name tmp passed to a pointer-mode swap still works — the
    * swap renames it to a generation name first, at the cost of one
    * tree copy on object stores. */
  def stagingDir(fs: org.apache.hadoop.fs.FileSystem, live: String): String =
    if (renameIsAtomic(fs)) s"${live}__compacting" else genName(live)

  /** Drop a dir's pointer indirection (pointer file + every generation
    * dir) — for BUILD paths that overwrite the dir in place: writing to
    * the unresolved path under a live pointer would leave readers on
    * the old generation forever. Callers hold the dir's maintenance
    * lease. */
  private[graft] def clearIndirection(fs: org.apache.hadoop.fs.FileSystem,
      live: String): Unit = {
    fs.delete(ptrPath(live), false)
    val livP = new Path(live)
    val parent = livP.getParent
    val prefix = s"${livP.getName}__gen-"
    if (fs.exists(parent))
      fs.listStatus(parent).foreach { st =>
        if (st.isDirectory && st.getPath.getName.startsWith(prefix))
          fs.delete(st.getPath, true)
      }
  }

  /** Test seam (VERDICT r12 task 3): the racing-reader specs must hold
    * a swap INSIDE each of its two windows while a probe runs from a
    * second thread — a sleep cannot pin that interleave. Fires with
    * `"swap-mid"` between the two renames (the no-live-dir window) and
    * `"swap-pre-clean"` after the new tree is live but before the
    * `__old` copy is deleted. None (a no-op) in production — same
    * spirit as [[graft.queries.CorpusPipelineDelta]]'s CrashPointConf. */
  @volatile private[graft] var pauseHook: Option[String => Unit] = None
  private def pause(point: String): Unit = pauseHook.foreach(_(point))

  /** Un-crash a half-finished [[swapDir]]. Rename mode: if `live` is
    * missing but its `…__old` sibling exists, a previous swap died
    * between its two renames — put the original back. Pointer mode: the
    * pointer flip is atomic, so there is no torn state to un-crash —
    * the pointer target is verified (loud on corruption) and a
    * crash-orphaned generation dir is left for the next successful
    * swap's garbage collection. Safe to call unconditionally before
    * compacting. */
  def recoverSwap(spark: SparkSession, live: String): Unit = {
    val livP = new Path(live)
    val fs = livP.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(ptrPath(live))) { resolveLive(fs, live); return }
    val oldP = new Path(s"${live}__old")
    if (!fs.exists(livP) && fs.exists(oldP))
      require(fs.rename(oldP, livP), s"swap recovery: restore $live failed")
    ()
  }

  /** Swap `tmp` over `live` — the commit step of every maintenance
    * rewrite. DISPATCHES on [[renameIsAtomic]]:
    *
    * RENAME MODE (HDFS, local, any atomic-rename filesystem): a rename
    * pair. The crash window between the two renames leaves NO live
    * dir — a LOUD failure on the next read, never silent data loss —
    * and [[recoverSwap]] (or a manual `…__old` rename) restores it.
    *
    * POINTER MODE (object stores — rename there is copy+delete, and a
    * reader listing mid-copy would see a partial tree SILENTLY): `tmp`
    * becomes (or is renamed to) a generation-unique sibling of `live`,
    * and the commit is a create-overwrite of the single small
    * `…__ptr` file naming it — atomic on every store. Readers resolve
    * via [[resolveLive]]. The IMMEDIATELY-PREVIOUS live tree is kept as
    * grace garbage until the NEXT swap (a reader that resolved the
    * pointer just before the flip may still be listing it); older
    * generations are collected here. Residual window, stated plainly:
    * a reader that stalls for a FULL maintenance cycle between
    * resolving the pointer and listing the tree can race that deferred
    * delete — a missing-file failure (loud) or, listing mid-delete, a
    * partial tree; bound it by maintenance cadence, the standard
    * object-store snapshot-retention argument.
    *
    * Either way there is no rollback after a SUCCESSFUL swap, so a
    * caller must validate `tmp`'s contents before swapping (the
    * compaction specs assert content equality pre/post). */
  def swapDir(spark: SparkSession, live: String, tmp: String): Unit = {
    val livP = new Path(live)
    val fs = livP.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!renameIsAtomic(fs)) return pointerSwap(fs, live, tmp)
    val oldP = new Path(s"${live}__old")
    if (fs.exists(oldP)) fs.delete(oldP, true)
    require(fs.rename(livP, oldP), s"swap: rename $live aside failed")
    pause("swap-mid")
    require(fs.rename(new Path(tmp), livP),
      s"swap: rename $tmp into place failed ($live is at $oldP)")
    pause("swap-pre-clean")
    fs.delete(oldP, true)
    ()
  }

  /** Pointer-mode commit (see [[swapDir]]). Both pause windows have a
    * complete live tree — a racing reader succeeds in EITHER (the
    * pointer resolves to the old tree at `swap-mid`, the new one at
    * `swap-pre-clean`), which the racing specs assert on a
    * copy-rename filesystem. */
  private def pointerSwap(fs: org.apache.hadoop.fs.FileSystem,
      live: String, tmp: String): Unit = {
    val livP = new Path(live)
    val isGen = tmp.startsWith(s"${live}__gen-")
    val gen =
      if (isGen) new Path(tmp)
      else {
        // fixed-name staging (__next — the pipeline's staged commit
        // protocol): COPY it under a generation-unique name, never
        // consume it pre-commit. The staging dir's continued existence
        // is what makes the caller's retry protocol idempotent
        // (finishSwap reads "__next missing" as "swap already
        // completed") — a rename would consume it BEFORE the pointer
        // commit, and a crash in that window would silently lose a
        // COMMITTED increment (r14 review): the restart would report
        // done while the pointer still serves the pre-increment tree
        // and the orphaned gen is later GC'd. Copy-then-commit-then-
        // delete keeps every crash window re-runnable: mid-copy →
        // __next intact, the restart re-copies into a fresh gen (the
        // partial orphan is collected by this swap's GC); post-commit
        // pre-delete → the restart re-copies the SAME content and
        // re-commits, idempotent by content. Costs one tree copy —
        // fixed-name staging is the delta-scale mix/meta path; bulk
        // maintenance stages gen-named via [[stagingDir]] directly.
        val g = new Path(genName(live))
        require(org.apache.hadoop.fs.FileUtil.copy(fs, new Path(tmp),
          fs, g, false, fs.getConf), s"swap: stage $tmp as $g failed")
        g
      }
    val prevLive = resolveLive(fs, live)
    pause("swap-mid") // pointer (or in-place tree) still serves the OLD gen
    // COMMIT: one small create-overwrite — atomic on every filesystem
    val out = fs.create(ptrPath(live), true)
    try out.write(gen.getName.getBytes("UTF-8")) finally out.close()
    pause("swap-pre-clean") // pointer serves the new gen; old tree intact
    // GC: drop every generation except the new live and its immediate
    // predecessor (grace for readers that resolved just before the
    // flip); crash-orphaned generations from dead runs go here too.
    // Compared by NAME — listStatus returns qualified paths while
    // `live` may be scheme-less.
    val keep = Set(gen.getName, new Path(prevLive).getName)
    val prefix = s"${livP.getName}__gen-"
    fs.listStatus(livP.getParent).foreach { st =>
      if (st.isDirectory && st.getPath.getName.startsWith(prefix) &&
          !keep(st.getPath.getName))
        fs.delete(st.getPath, true)
    }
    // POST-commit retirements: the consumed staging source and the
    // pre-pointer in-place tree (garbage once no longer the immediate
    // predecessor)
    if (!isGen) fs.delete(new Path(tmp), true)
    if (prevLive != live && fs.exists(livP)) { fs.delete(livP, true); () }
  }

  /** Hive-partition-aware IN-PLACE compaction: each `<partPrefix>*`
    * leaf directory of `dir` is compacted (shuffle-free, per
    * [[compact]]) into a parallel tree that preserves the hive layout —
    * and with it partition pruning — then the tree swaps over the
    * original via [[swapDir]]. Crash-recoverable ([[recoverSwap]] runs
    * first), contents untouched, file count drops to
    * ~⌈bytes/targetBytes⌉ per leaf. Root entries that are NOT
    * `<partPrefix>*` leaf dirs (a `_SUCCESS` marker, side metadata
    * files or dirs) are copied into the new tree before the swap, so
    * they survive compaction byte-for-byte. Not concurrency-safe
    * against a simultaneous writer — the maintenance window is the
    * caller's (enforceable via [[MaintenanceLease]]).
    * Returns (filesBefore, filesAfter).
    *
    * Leaves merge in BATCHES of `cellsPerJob` per Spark job
    * (optimization r17): each batch is one shuffle-free union of
    * per-leaf coalesced reads written back through partitionBy, so a
    * 1024-cell store costs ~16 jobs instead of the r16 formulation's
    * ~1024 pooled per-leaf jobs (family 10c measured that shape
    * driver-job-latency bound at ~36 s, nearly data-independent).
    * Output tree is byte-identical to the per-leaf form — every output
    * task holds one coalesced slice of exactly one cell. Batches run
    * from `parallelism` driver threads so a straggler overlaps the
    * next. Any failure aborts before the swap; the staging tree is
    * reclaimed by the next call's cleanup. */
  def compactPartitioned(spark: SparkSession, dir: String,
      partPrefix: String, targetBytes: Long,
      parallelism: Int = 16, cellsPerJob: Int = 64): (Int, Int) = {
    require(parallelism >= 1, s"parallelism must be positive: $parallelism")
    require(cellsPerJob >= 1, s"cellsPerJob must be positive: $cellsPerJob")
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = new Path(dir).getFileSystem(conf)
    recoverSwap(spark, dir)
    // all physical reads/listings go through the RESOLVED live tree —
    // under a committed pointer the data lives in a generation dir
    def live(): String = resolveLive(fs, dir)
    def leaves(): Array[Path] = fs.listStatus(new Path(live()))
      .filter(s => s.isDirectory && s.getPath.getName.startsWith(partPrefix))
      .map(_.getPath)
    def countParts(): Int = leaves().map(p => fs.listStatus(p)
      .count(f => f.isFile && f.getPath.getName.startsWith("part-"))).sum
    // Zero matching leaves (degenerate-but-valid: empty table, wrong
    // prefix) must be a no-op — entering the swap would rename the live
    // dir aside and then fail on the never-created tmp tree,
    // manufacturing the no-live-dir crash state on a healthy table
    // (ADVICE r9).
    if (leaves().isEmpty) return (0, 0)
    val before = countParts()
    val tmp = stagingDir(fs, dir)
    if (fs.exists(new Path(tmp))) fs.delete(new Path(tmp), true)
    val ls = leaves()
    // K CELLS PER JOB (optimization r17, the r16 "next rung": the
    // per-leaf formulation ran one near-constant Spark job per cell —
    // 1024 cells meant ~1024 driver round trips, wave-latency bound at
    // ~33-36 s even from the 16-thread pool). Each batch is ONE
    // shuffle-free job: the k per-cell reads union (coalesce merges
    // within a cell, union concatenates across cells — no exchange
    // anywhere), every row is tagged with its leaf's partition value,
    // and one partitionBy write routes each task's single-cell rows
    // back into its cell dir — per-cell file counts and contents are
    // exactly the per-leaf formulation's (each output task holds one
    // coalesced slice of exactly one cell, so maxFilesPerCell
    // contracts hold). Every branch reads under ONE pre-read schema:
    // per-branch footer inference was measured as the dominant
    // per-batch driver cost (~1.8 s/job at 64 branches). A whole-tree
    // single-scan alternative (basePath + partition discovery, one
    // job) was measured faster still (4.7 s) but scatters a cell's
    // rows across size-packed splits — per-cell file counts then track
    // split boundaries, not ⌈bytes/target⌉, breaking the store specs'
    // maxFilesPerCell pin — measured-and-rejected. Batches ride the
    // pool so a straggling batch overlaps the next (guide §2.6).
    require(partPrefix.endsWith("="),
      s"partPrefix must be '<column>=' to rebuild the hive layout: $partPrefix")
    val colName = partPrefix.dropRight(1)
    val leafSchema = StateTables.readFlat(spark,
      StateTables.Table(dir, None), ls.head.toString).schema
    val batches = ls.grouped(math.max(1, cellsPerJob)).toSeq.zipWithIndex
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.max(1, math.min(parallelism, batches.length)))
    try {
      val futures = batches.map { case (batch, bi) =>
        pool.submit(new java.util.concurrent.Callable[Unit] {
          override def call(): Unit = {
            val branches = batch.map { leaf =>
              val files = fs.listStatus(leaf).filter(f =>
                f.isFile && f.getPath.getName.startsWith("part-"))
              // same misuse guard as the flat compact: a partless leaf
              // means this is not the layout the caller thinks it is
              require(files.nonEmpty,
                s"compact expects a flat parquet dir with part- files " +
                  s"at the top level, found none in $leaf (compact per " +
                  "leaf partition)")
              val bytes = files.map(_.getLen).sum
              val n = math.max(1L,
                (bytes + targetBytes - 1) / targetBytes).toInt
              val value = org.apache.spark.sql.catalyst.catalog
                .ExternalCatalogUtils
                .unescapePathName(leaf.getName.stripPrefix(partPrefix))
              StateTables.readFlat(spark,
                  StateTables.Table(dir, Some(leafSchema)), leaf.toString)
                .coalesce(n)
                .withColumn(colName,
                  org.apache.spark.sql.functions.lit(value))
            }
            // each batch commits through its OWN staging subdir:
            // concurrent jobs writing one shared output path race on
            // the committer's shared _temporary tree (each job's
            // commit cleans it up under the others — observed as
            // FileNotFoundException on sibling task attempts). The
            // batches' cell sets are disjoint, so the driver then just
            // renames the finished cell dirs up into the staging root.
            val bTmp = s"$tmp/__batch$bi"
            StateTables.recode(branches.reduce(_ unionByName _))
              .mode("overwrite").partitionBy(colName).parquet(bTmp)
            fs.listStatus(new Path(bTmp))
              .filter(st => st.isDirectory &&
                st.getPath.getName.startsWith(partPrefix))
              .foreach { cellDir =>
                require(fs.rename(cellDir.getPath,
                  new Path(s"$tmp/${cellDir.getPath.getName}")),
                  s"staging move failed for ${cellDir.getPath}")
              }
            fs.delete(new Path(bTmp), true)
          }
        })
      }
      futures.foreach { f =>
        try f.get()
        catch { // surface the batch's own failure, not the wrapper
          case e: java.util.concurrent.ExecutionException =>
            throw e.getCause
        }
      }
    } finally pool.shutdownNow()
    // Carry non-leaf root entries (copy, not move: the original tree
    // stays intact until the swap commits, keeping the crash window
    // recoverable) — without this a root _SUCCESS or any side file a
    // future caller keeps beside the partitions would silently vanish
    // in the swap (ADVICE r9).
    fs.listStatus(new Path(live()))
      .filterNot(s => s.isDirectory && s.getPath.getName.startsWith(partPrefix))
      .foreach { side =>
        org.apache.hadoop.fs.FileUtil.copy(fs, side.getPath,
          fs, new Path(s"$tmp/${side.getPath.getName}"), false, conf)
      }
    swapDir(spark, dir, tmp)
    (before, countParts())
  }

  /** Rewrite `in` (a flat parquet dir) into `out` with ~`targetBytes`
    * files. Returns before/after stats. `out` must differ from `in` —
    * the swap (rename over the original) is the caller's commit step:
    * [[swapDir]] for rename-capable filesystems, or the file-mover
    * protocol / a metastore swap where stronger atomicity exists.
    *
    * `sortCol` (optional) locally sorts each merged output partition —
    * still shuffle-free, same row multiset — so that row-group min/max
    * stats on that column stay tight through the rewrite. Without it,
    * coalesce concatenates the input files' sorted runs and a merged
    * row group can span the column's whole range, defeating any reader
    * that prunes row groups by predicate on it (the signature store's
    * toksets ledger is the motivating caller).
    */
  def compact(spark: SparkSession, in: String, out: String,
      targetBytes: Long, sortCol: Option[String] = None): Stats = {
    require(in != out, "compact target must differ from source")
    val conf = spark.sparkContext.hadoopConfiguration
    val inPath = new Path(in)
    val fs = inPath.getFileSystem(conf)
    val parts = fs.listStatus(inPath)
      .filter(f => f.isFile && f.getPath.getName.startsWith("part-"))
    // Enforce the per-leaf-dir contract instead of trusting the caller:
    // on a hive-partitioned (or empty) input the top-level listing holds
    // no part- files, totalBytes would be 0 and n 1 — and the read below
    // would still see the nested data, silently coalescing an arbitrarily
    // large partitioned dataset into ONE file and discarding its layout.
    require(parts.nonEmpty,
      s"compact expects a flat parquet dir with part- files at the top " +
        s"level, found none in $in (compact per leaf partition)")
    val totalBytes = parts.map(_.getLen).sum
    val n = math.max(1L, (totalBytes + targetBytes - 1) / targetBytes).toInt
    val merged =
      StateTables.readFlat(spark, StateTables.Table(in, None), in).coalesce(n)
    StateTables.recode(sortCol.fold(merged)(c => merged.sortWithinPartitions(c)))
      .mode("overwrite").parquet(out)
    val outPath = new Path(out)
    val outParts = outPath.getFileSystem(conf).listStatus(outPath)
      .count(f => f.isFile && f.getPath.getName.startsWith("part-"))
    Stats(parts.length, totalBytes, outParts)
  }
}
