package graft.operators

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions.col

import scala.concurrent.{Await, Future, Promise}
import scala.concurrent.duration.Duration
import scala.reflect.runtime.universe.TypeTag

/** The persisted hive `cell=` store layout shared by
  * [[NearDupSignatureStore]] and [[HammingStore]]. A store at `dir` is
  * data tables `dir/<table>` — the probed one partitioned by `cell` and
  * written only through [[CellStore.writeClustered]]; compaction may
  * swap a table through a pointer, so reads and in-place appends go
  * through [[live]] — plus `dir/meta`, one parquet row of the store's
  * frozen shape `M` (a top-level case class: a nested one forces the
  * encoder onto its interpreted path). [[exists]] is keyed on `meta`
  * and [[build]] commits it LAST, so a build that dies anywhere leaves
  * `exists() == false` and the caller's replay builds again (the
  * overwrite replaces any partial table). `kind` names the store in
  * errors. */
private[graft] final class CellStore[M <: Product : TypeTag](kind: String) {

  def fs(spark: SparkSession, dir: String): FileSystem =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  def metaPath(dir: String): String = s"$dir/meta"

  /** True iff a store was built at `dir`. */
  def exists(spark: SparkSession, dir: String): Boolean =
    fs(spark, dir).exists(new Path(metaPath(dir)))

  def writeMeta(spark: SparkSession, dir: String, m: M): Unit =
    spark.createDataset(Seq(m))(Encoders.product[M]).toDF()
      .repartition(1).write.mode("overwrite").parquet(metaPath(dir))

  def readMeta(spark: SparkSession, dir: String): M = {
    require(exists(spark, dir), s"no $kind at $dir (run build)")
    spark.read.parquet(metaPath(dir)).as(Encoders.product[M]).collect().head
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
}

private[graft] object CellStore {

  /** Write `rows` (carrying a `cell` column) into the hive `cell=` table
    * at `path`, hash-clustered on cell first. Without the shuffle every
    * input partition writes a sliver into every cell (~input partitions
    * × cells tiny files) and probes pay one file-open per sliver —
    * measured 2× the whole probe at sf0.1. Hash clustering puts each
    * cell in exactly one task, and AQE only merges whole partitions, so
    * every write (build, append, deduping compact) adds at most one
    * file per touched cell: the file count stays O(cells × writes),
    * compactable per cell dir. No partition count: AQE never coalesces
    * a fixed-count shuffle, so a count would cost that many tasks
    * however small the write; without one AQE sizes the task count from
    * the bytes written. */
  def writeClustered(rows: DataFrame, mode: String, path: String): Unit =
    rows.repartition(col("cell"))
      .write.mode(mode).partitionBy("cell").parquet(path)

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
