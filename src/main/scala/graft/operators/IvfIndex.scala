package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted IVF (inverted-file) ANN index — the build-once /
  * query-many serving shape of the q48 formulation
  * (`graft.queries.ApproxOps`). The index is two plain parquet tables:
  *
  *  - `centroids`  (cent_id, cv): the deterministic k-means codebook
  *    ([[KMeans]] — farthest-first seeding over a bounded sample);
  *  - `assignments` (vec_id, v), HIVE-PARTITIONED BY cent_id: every
  *    vector in its nearest cell.
  *
  * Because cells are partition directories, a query that probes
  * `nprobe` of `c` cells READS only those directories — partition
  * pruning makes query cost O(nprobe/c) of the corpus, on any Spark
  * cluster, with no custom index format. The probed cell ids are
  * collected driver-side (≤ |queries|·nprobe values — metadata, not
  * data) and pushed as a static partition filter, which is visible as
  * `PartitionFilters` in the scan (asserted in IvfIndexSpec). */
object IvfIndex {

  /** The assignments table's PHYSICAL live tree — [[compact]] on object
    * stores commits via pointer indirection ([[Compaction.swapDir]]);
    * every read and every in-place append resolves through this
    * (rename-mode/never-swapped indexes resolve to the plain path). */
  private def assignLive(spark: SparkSession, dir: String): String =
    Compaction.resolveLive(new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration),
      s"$dir/assignments")

  /** Nearest-centroid assignment: broadcast codebook + bounded-heap
    * argmax (k=1) — the partial pass collapses the c candidate rows
    * per vector before any exchange. */
  private def assign(emb: DataFrame, cents: DataFrame): DataFrame = {
    val s = emb.sparkSession
    import s.implicits._
    import graft.plans.GraftOps
    GraftOps.topKPerGroup(
        emb.join(broadcast(cents))
          .select($"vec_id", $"v", $"cent_id",
            graft.functions.CosineSimilarity.cosineSim($"v", $"cv").as("sim")),
        1, Seq("vec_id"),
        Seq(GraftOps.Order("sim", desc = true), GraftOps.Order("cent_id")))
      .select($"vec_id", $"v", $"cent_id")
  }

  /** Build the index over `emb` (vec_id, v: array&lt;double&gt;) into `dir`.
    * Assignments are clustered onto their cell before the partitioned
    * write (one shuffle; ≤1 file per cell, vs one sliver per input
    * partition × cell — the signature-store file-count rule), and the
    * built row count lands in `meta` so [[stats]] can report how much
    * of the index arrived by [[append]]. */
  def build(emb: DataFrame, dir: String, c: Int = 16): Unit = {
    val spark = emb.sparkSession
    MaintenanceLease.withLease(spark, dir, "build") {
    import spark.implicits._
    // un-indexable vectors (null / NaN / zero-norm) are dropped — they
    // can never produce a rankable score, and a null embedding NPEs
    // the k-means sampler (r9 adversarial contract,
    // LlmOps.wellFormedVec; same rule at append and query)
    val clean = emb.filter(graft.queries.LlmOps.wellFormedVec($"v"))
    val cents = KMeans.fit(clean, c)
    cents.write.mode("overwrite").parquet(s"$dir/centroids")
    // a RE-build over a pointer-mode index must drop the indirection
    // first (writing in place under a live pointer strands readers on
    // the old generation)
    Compaction.clearIndirection(new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration),
      s"$dir/assignments")
    val assigned = assign(clean, cents).repartition($"cent_id")
    assigned.write.mode("overwrite").partitionBy("cent_id")
      .parquet(s"$dir/assignments")
    Seq(spark.read.parquet(s"$dir/assignments").count())
      .toDF("build_rows").repartition(1)
      .write.mode("overwrite").parquet(s"$dir/meta")
    }
  }

  /** Incrementally add vectors to an existing index WITHOUT refitting
    * the quantizer (VERDICT r7 task 4): the stored codebook is read
    * back, the new vectors take one broadcast nearest-centroid
    * assignment, and the rows append into their cell partitions — no
    * k-means job, no rewrite of existing cells.
    *
    * Drift bound: the codebook stays FROZEN, so query geometry is
    * unchanged — a probe still scans exactly the `nprobe` cells
    * nearest the query under the same centroids every vector
    * (original or appended) was assigned with, which is the invariant
    * the recall bound rests on. What a refit would additionally buy is
    * re-BALANCED cells: as the appended fraction grows and the data
    * distribution shifts, cells fatten unevenly and probe cost drifts
    * toward (fattest-cells/corpus) instead of nprobe/c — a cost drift,
    * not a correctness drift. Rebuild via [[build]] when the appended
    * fraction is no longer small (the usual IVF practice: increments
    * append, compactions refit). */
  def append(spark: SparkSession, dir: String, emb: DataFrame): Unit =
    MaintenanceLease.withLease(spark, dir, "append") {
      import spark.implicits._
      val cents = spark.read.parquet(s"$dir/centroids")
      assign(emb.filter(graft.queries.LlmOps.wellFormedVec($"v")), cents)
        .repartition($"cent_id")
        .write.mode("append").partitionBy("cent_id")
        .parquet(assignLive(spark, dir))
    }

  /** Compact the index's assignment files — the remedy for [[append]]'s
    * one-file-per-cell-per-increment growth, mirroring
    * `NearDupSignatureStore.compact`: per-cell shuffle-free merge via
    * [[Compaction.compactPartitioned]] (hive layout — and the probe's
    * static partition pruning — preserved), rename-swapped,
    * crash-recoverable. `centroids`/`meta` are never touched, so query
    * results are identical before and after (asserted in the spec).
    * Returns (filesBefore, filesAfter). */
  def compact(spark: SparkSession, dir: String,
      targetBytes: Long = 128L * 1024 * 1024): (Int, Int) =
    MaintenanceLease.withLease(spark, dir, "compact") {
      Compaction.compactPartitioned(spark, s"$dir/assignments", "cent_id=",
        targetBytes)
    }

  /** Cell-balance health of the index at `dir` — the operational half
    * of [[append]] (VERDICT r8 task 6): appends never move the
    * centroids, so the cost model drifts only through cell BALANCE,
    * and these are exactly the numbers a caller needs to decide
    * append-more vs refit:
    *
    *  - `fattestCellFraction`: rows in the largest cell / total rows.
    *    A probe reads `nprobe` cells, so its worst-case scan fraction
    *    tends toward `nprobe × fattestCellFraction` instead of the
    *    balanced `nprobe / cells`;
    *  - `skew`: fattestCellFraction × cells — 1.0 is perfectly
    *    balanced, `cells` is everything-in-one-cell. Refit when it is
    *    a multiple of its post-build value;
    *  - `appendedFraction`: rows added since [[build]] over total rows
    *    (the build records its row count in `meta`) — the "appended
    *    fraction is no longer small" signal the [[append]] scaladoc's
    *    rebuild rule keys on. −1.0 for a pre-meta index (unknown).
    *
    * One aggregate job over the assignments table; run it on the
    * maintenance cadence, not per query. */
  final case class IndexStats(cells: Int, rows: Long,
      fattestCellFraction: Double, skew: Double, appendedFraction: Double)

  def stats(spark: SparkSession, dir: String): IndexStats = {
    import spark.implicits._
    val perCell = spark.read.parquet(assignLive(spark, dir))
      .groupBy($"cent_id").count().collect()
      .map(r => r.getLong(1))
    val rows = perCell.sum
    val cells = spark.read.parquet(s"$dir/centroids").count().toInt
    val fattest =
      if (rows == 0L) 0.0 else perCell.max.toDouble / rows
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val appended =
      if (!fs.exists(new org.apache.hadoop.fs.Path(s"$dir/meta"))) -1.0
      else {
        // Try + headOption, not bare head: a re-build that crashed
        // between truncating `meta` (mode overwrite) and writing the
        // new row leaves an existing-but-EMPTY meta dir — the read
        // throws (no schema to infer) or collects nothing, and the
        // health probe must report the documented -1.0 unknown
        // sentinel, not itself die (ADVICE r9)
        scala.util.Try(spark.read.parquet(s"$dir/meta").collect().headOption)
          .toOption.flatten match {
          case Some(r) =>
            val built = r.getLong(0)
            if (rows == 0L) 0.0 else (rows - built).toDouble / rows
          case None => -1.0
        }
      }
    IndexStats(cells, rows, fattest,
      if (cells == 0) 0.0 else fattest * cells, appended)
  }

  /** Top-k cosine neighbors for `queries` (query_id, qv) from the index
    * at `dir`, probing the `nprobe` nearest cells per query. Index
    * vectors whose vec_id equals the query_id are excluded (self). */
  def query(spark: SparkSession, dir: String, queries: DataFrame,
      k: Int = 10, nprobe: Int = 4): DataFrame = {
    import spark.implicits._
    import graft.plans.GraftOps
    val cents = spark.read.parquet(s"$dir/centroids")
    val probes = GraftOps.topKPerGroup(
        queries.filter(graft.queries.LlmOps.wellFormedVec($"qv"))
          .join(broadcast(cents))
          .select($"query_id", $"qv", $"cent_id",
            graft.functions.CosineSimilarity.cosineSim($"qv", $"cv").as("sim")),
        nprobe, Seq("query_id"),
        Seq(GraftOps.Order("sim", desc = true), GraftOps.Order("cent_id")))
      .select($"query_id", $"qv", $"cent_id")
    // static partition prune: the probed cell set is metadata-sized.
    // PrunedRead also skips DISCOVERY of the unprobed cell dirs — same
    // O(cells)-listings-per-query cost the signature-store probe shed
    // (r10; measurement in StateTables.readCells' scaladoc)
    val cells = probes.select($"cent_id").distinct().collect()
      .map(_.getLong(0)).toSeq
    val scored = broadcast(probes)
      .join(PrunedRead.partitions(spark, assignLive(spark, dir), "cent_id",
        cells), "cent_id")
      .filter($"vec_id" =!= $"query_id")
      .select($"query_id", $"vec_id",
        round(graft.functions.CosineSimilarity.cosineSim($"qv", $"v"), 6)
          .as("score"))
    graft.queries.LlmOps.topKByScore(scored, k)
  }
}
