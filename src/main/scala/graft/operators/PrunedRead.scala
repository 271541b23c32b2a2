package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Partition-pruned read of a hive-partitioned parquet dir that also
  * prunes the DRIVER-side partition DISCOVERY, not just the scan, and
  * runs no Spark job: [[StateTables.readCells]] over a table whose
  * schema is the newest read file's footer (one driver-side footer
  * read, no inference job).
  *
  * `spark.read.parquet(root).filter(col.isin(values))` prunes what is
  * READ, but partition discovery still LISTS every partition directory
  * under `root` — one LIST RPC per partition per call on an object
  * store (measurement in [[StateTables.readCells]]). Only for integral
  * partition values (enforced with a loud `require`): a string value
  * containing any character hive escapes (`%2F`-style) would MISS its
  * directory silently and the rows would vanish from the read.
  */
object PrunedRead {
  def partitions(spark: SparkSession, root: String, partCol: String,
      values: Seq[Any]): DataFrame =
    StateTables.readCells(spark, StateTables.Table(root, None), root,
      partCol, Some(values))
}
