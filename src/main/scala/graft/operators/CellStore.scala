package graft.operators

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions.{col, lit}

import scala.concurrent.{Await, Future, Promise}
import scala.concurrent.duration.Duration
import scala.reflect.runtime.universe.TypeTag

/** The persisted, log-structured hive `cell=` store layout shared by
  * [[NearDupSignatureStore]] and [[HammingStore]]. A store at `dir` is
  * data tables `dir/<table>` plus `dir/meta`, one parquet row of the
  * store's frozen shape `M` (a top-level case class: a nested one forces
  * the encoder onto its interpreted path). The probed table's live
  * tree holds two levels (compaction may swap a table through a
  * pointer, so reads and appends go through [[live]]):
  *
  *  - the CELLS, `cell=<n>/` dirs written only by [[build]]'s and
  *    [[compact]]'s [[CellStore.writeClustered]] (or the per-cell merge),
  *    ~one file per cell;
  *  - the L0 RUNS, flat under `_l0/` (the LSM tree's level 0): each
  *    append writes its rows as one run sorted on `cell`
  *    ([[CellStore.appendRun]]), so an increment adds one file, not one
  *    per touched cell. Spark's file index skips `_`-prefixed dirs, so
  *    a plain read of the live tree sees only the cells; the probe
  *    ([[CellStore.scan]]) and the full-table read ([[CellStore.table]])
  *    union L0 in, and [[compact]] folds L0 into the cells.
  *
  * Every table is a [[StateTables]] table: written zstd through
  * [[StateTables.write]], read with its declared schema and a
  * driver-side file listing, so no read here runs a Spark job (no
  * footer inference, no parallel listing of many cell dirs).
  *
  * [[exists]] is keyed on `meta` and [[build]] commits it LAST, so a
  * build that dies anywhere leaves `exists() == false` and the caller's
  * replay builds again (the overwrite replaces any partial table, L0
  * included). `kind` names the store in errors. */
private[graft] final class CellStore[M <: Product : TypeTag](kind: String) {

  private val metaTable = StateTables.storeMeta[M]

  def fs(spark: SparkSession, dir: String): FileSystem =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  def metaPath(dir: String): String = s"$dir/meta"

  /** True iff a store was built at `dir`. */
  def exists(spark: SparkSession, dir: String): Boolean =
    fs(spark, dir).exists(new Path(metaPath(dir)))

  private def metaWrite(spark: SparkSession, m: M) =
    StateTables.write(metaTable,
      spark.createDataset(Seq(m))(Encoders.product[M]).toDF().repartition(1))

  def writeMeta(spark: SparkSession, dir: String, m: M): Unit =
    metaWrite(spark, m).mode("overwrite").parquet(metaPath(dir))

  def readMeta(spark: SparkSession, dir: String): M = {
    require(exists(spark, dir), s"no $kind at $dir (run build)")
    StateTables.readFlat(spark, metaTable, metaPath(dir))
      .as(Encoders.product[M]).collect().head
  }

  /** Re-encode `meta` (whose row is `m`) in the state codec when any of
    * its files is in another — a store built before the codec, at
    * compaction. The new file lands beside the old before the old is
    * deleted, so `meta` is never absent (an overwrite would make
    * `exists` false mid-way); a crash between the two leaves two equal
    * rows, which [[readMeta]] reads alike and the next call tidies. */
  def recodeMeta(spark: SparkSession, dir: String, m: M): Unit = {
    val fs = this.fs(spark, dir)
    val old = fs.listStatus(new Path(metaPath(dir))).map(_.getPath)
      .filter(_.getName.startsWith("part-"))
    if (old.exists(!_.getName.endsWith(s".${StateTables.Codec}.parquet"))) {
      metaWrite(spark, m).mode("append").parquet(metaPath(dir))
      old.foreach(fs.delete(_, false))
    }
  }

  /** Some(meta) when a store exists at `dir`, for callers that read it
    * early beside their own jobs (and own the exclusion that keeps it
    * stable). */
  def preloadMeta(spark: SparkSession, dir: String): Option[M] =
    if (exists(spark, dir)) Some(readMeta(spark, dir)) else None

  /** The unresolved path of `table`: what compaction swaps over. */
  def path(dir: String, table: String): String = s"$dir/$table"

  /** The PHYSICAL live tree of `table`: a pointer-mode compact's
    * generation dir, else the plain path (one `exists` of cost). */
  def live(spark: SparkSession, dir: String, table: String): String =
    Compaction.resolveLive(fs(spark, dir), path(dir, table))

  /** Build the store at `dir` under the caller's lease: any old meta
    * goes first, `write` rewrites `tables` in place, the new meta
    * commits last. A RE-build drops the tables' pointer indirection
    * first: writing under a live pointer would leave every reader on the
    * old generation forever. */
  def build(spark: SparkSession, dir: String, meta: M, tables: String*)(
      write: => Unit): Unit = {
    val fs = this.fs(spark, dir)
    fs.delete(new Path(metaPath(dir)), true)
    tables.foreach(t => Compaction.clearIndirection(fs, path(dir, t)))
    write
    writeMeta(spark, dir, meta)
  }

  /** Probe then append under ONE store lease, run on `exec`. `probe`
    * runs inside the lease and returns the store's pair frame, append
    * thunk and release thunk. The pairs return as soon as they are
    * materialized (eager local checkpoint: strictly pre-append); the
    * append, then the release, follow on `exec`. The caller MUST await
    * the returned future before any step that needs the append durable;
    * it carries any append failure. A failure before the pairs exist
    * fails this call itself, so the caller never blocks on them. */
  def probeThenAppendOverlapped(spark: SparkSession, dir: String,
      exec: java.util.concurrent.Executor,
      staleMs: Long = MaintenanceLease.DefaultStaleMs)(
      probe: => (DataFrame, () => Unit, () => Unit))
      : (DataFrame, Future[Unit]) = {
    val probed = Promise[DataFrame]()
    val done = Promise[Unit]()
    exec.execute(() =>
      try {
        MaintenanceLease.withLease(spark, dir, "probe+append", staleMs) {
          val (frame, append, release) = probe
          try {
            probed.success(frame.localCheckpoint(eager = true))
            append()
          } finally release()
        }
        done.success(())
      } catch {
        case t: Throwable =>
          probed.tryFailure(t)
          done.failure(t)
      })
    (Await.result(probed.future, Duration.Inf), done.future)
  }

  /** [[probeThenAppendOverlapped]] run sequentially on the calling
    * thread; returns once the append is durable. */
  def probeThenAppend(spark: SparkSession, dir: String,
      staleMs: Long = MaintenanceLease.DefaultStaleMs)(
      probe: => (DataFrame, () => Unit, () => Unit)): DataFrame = {
    val (out, done) =
      probeThenAppendOverlapped(spark, dir, (r: Runnable) => r.run(),
        staleMs)(probe)
    Await.result(done, Duration.Inf)
    out
  }

  /** Compact `table`, committed by one [[Compaction.swapDir]]; returns
    * its data files (cells plus L0) before and after. With no L0 run
    * and no `dedupe` this is the per-cell merge
    * ([[Compaction.compactPartitioned]]: shuffle-free, files near
    * `targetBytes`, byte-identical rows per cell). Otherwise it is one
    * [[CellStore.writeClustered]] rewrite of cells ∪ L0 — ~one file per
    * cell, no L0 left — that keeps the row multiset, or with `dedupe`
    * reduces it to the set. The caller holds the store lease. */
  def compact(spark: SparkSession, dir: String, t: StateTables.Table,
      targetBytes: Long, dedupe: Boolean = false): (Int, Int) = {
    val table = t.name
    val fs = this.fs(spark, dir)
    val p = path(dir, table)
    Compaction.recoverSwap(spark, p)
    def files(l: String): Int =
      CellStore.filesPerCell(fs, l).sum + CellStore.l0Files(fs, l)
    val l = live(spark, dir, table)
    if (!dedupe && CellStore.l0Files(fs, l) == 0)
      Compaction.compactPartitioned(spark, p, "cell=", targetBytes)
    else {
      val before = files(l)
      if (before == 0) (0, 0) // empty/never-built tree: no-op
      else {
        val tmp = Compaction.stagingDir(fs, p)
        fs.delete(new Path(tmp), true) // leftover from a dead run
        // `cell` comes back as the hive partition column and as an L0
        // data column; duplicates share a cell by construction, so a
        // `distinct` here has global set semantics
        val rows = CellStore.table(spark, l, t)
        CellStore.writeClustered(if (dedupe) rows.distinct() else rows,
          "overwrite", tmp, t)
        Compaction.swapDir(spark, p, tmp)
        (before, files(live(spark, dir, table)))
      }
    }
  }
}

private[graft] object CellStore {

  /** Write `rows` (carrying a `cell` column) into the hive `cell=` table
    * at `path`, hash-clustered on cell first — build's and the clustered
    * compaction's write. Without the shuffle every
    * input partition writes a sliver into every cell (~input partitions
    * × cells tiny files) and probes pay one file-open per sliver —
    * measured 2× the whole probe at sf0.1. Hash clustering puts each
    * cell in exactly one task, and AQE only merges whole partitions, so
    * the write leaves exactly one file per cell. No partition count:
    * AQE never coalesces a fixed-count shuffle, so a count would cost
    * that many tasks however small the write; without one AQE sizes the
    * task count from the bytes written. */
  def writeClustered(rows: DataFrame, mode: String, path: String,
      t: StateTables.Table = undeclared): Unit =
    StateTables.write(t, rows.repartition(col("cell")))
      .mode(mode).partitionBy("cell").parquet(path)

  /** The L0 dir of the table whose live tree is `live`. */
  def l0(live: String): String = s"$live/_l0"

  /** Append `rows` (carrying a `cell` column) as one L0 run under
    * `live`: the same AQE-sized hash clustering as [[writeClustered]],
    * but into flat files sorted on `cell` (row-group stats then prune
    * the probe's `cell IN (…)` filter) — a small increment is one file,
    * however many cells it touches. A cell-dir append would create one
    * file per touched cell (the 150-doc fold increment: 60 files plus
    * their checksums, ~85 % of the fold's state growth). */
  def appendRun(rows: DataFrame, live: String, t: StateTables.Table): Unit =
    StateTables.write(t,
      rows.repartition(col("cell")).sortWithinPartitions("cell"))
      .mode("append").parquet(l0(live))

  /** The L0 runs of `t` under `live`, or None when there are none: the
    * run files go to the reader as one flat table (its declared schema,
    * `cell` a data column), so no Spark job runs and Spark never sees
    * the `_l0` dir as a root path (it would warn that it ignores a
    * `_`-prefixed root on every read). */
  private def l0Read(spark: SparkSession, live: String,
      t: StateTables.Table): Option[DataFrame] = {
    val p = new Path(l0(live))
    if (!p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p))
      None
    else Some(StateTables.readFlat(spark, t, p.toString))
  }

  /** The probe's read: the pruned `cell=` dirs unioned with the L0 runs,
    * both filtered to `cells` ([[StateTables.readCells]]: listed on the
    * driver, no listing or inference job however many cells). */
  def scan(spark: SparkSession, live: String, cells: Seq[Int],
      t: StateTables.Table): DataFrame = {
    val pruned = StateTables.readCells(spark, t, live, "cell", Some(cells))
    l0Read(spark, live, t).fold(pruned)(r => pruned.unionByName(
      r.filter(if (cells.isEmpty) lit(false) else col("cell").isin(cells: _*))))
  }

  /** The whole table `t` under `live`: every cell ∪ every L0 run. */
  def table(spark: SparkSession, live: String,
      t: StateTables.Table = undeclared): DataFrame = {
    val cells = StateTables.readCells(spark, t, live, "cell")
    l0Read(spark, live, t).fold(cells)(cells.unionByName(_))
  }

  /** A cell table typed by its files' own footers (for reads and writes
    * outside a store's declared tables). */
  private def undeclared = StateTables.Table("cells", None)

  /** L0 run files under `live`: the table's compaction debt. */
  def l0Files(fs: FileSystem, live: String): Int =
    partFiles(fs, new Path(l0(live)))

  /** Number of `part-` files directly under `p` (0 if it is absent). */
  def partFiles(fs: FileSystem, p: Path): Int =
    if (!fs.exists(p)) 0
    else fs.listStatus(p)
      .count(f => f.isFile && f.getPath.getName.startsWith("part-"))

  /** [[partFiles]] of each `cell=` directory under the table `root`. */
  def filesPerCell(fs: FileSystem, root: String): Array[Int] = {
    val r = new Path(root)
    if (!fs.exists(r)) Array.empty
    else fs.listStatus(r)
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("cell="))
      .map(s => partFiles(fs, s.getPath))
  }
}
