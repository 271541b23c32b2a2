package graft.queries

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Source/sink format coverage beyond parquet+CSV (Q02): JSON and ORC
  * round-trips, verified against the oracle over the original table —
  * i.e. the round-trip must be lossless for the projected columns.
  */
object Sources {

  // ---- Q50: JSON round-trip (events projection) -----------------------
  def q50(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val out = graft.RunTmp.dir("q50_json")
    val ev = Tables(s, dir, "events")
      .select($"event_id", $"user_id", $"event_type", $"value")
    ev.write.mode("overwrite").json(out)
    s.read.schema(ev.schema).json(out)
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n"),
        Relational.rd(sum(Relational.dec($"value"))).as("sum_value"))
      // NULLS LAST pinned (adversarial-events finding): the null-type
      // group sorted first in Spark, last in DuckDB
      .orderBy($"event_type".asc_nulls_last)
  }
  val q50Sql: String =
    """SELECT event_type, COUNT(*) AS n,
      |  CAST(ROUND(SUM(CAST(value AS DECIMAL(18,4))),2) AS DOUBLE) AS sum_value
      |FROM events GROUP BY event_type
      |ORDER BY event_type NULLS LAST""".stripMargin

  // ---- Q60: parquet round-trip with zstd compression ------------------
  // Codec choice changes bytes on disk, never values; at 100 TB zstd is
  // the default trade (≈parquet-snappy ratio × ~1.4 at similar speed).
  // The engine's own state is written the same way: every fold and
  // store table goes through `graft.operators.StateTables.write`, which
  // passes this same per-write option.
  def q60(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val out = graft.RunTmp.dir("q60_zstd")
    val supplier = Tables(s, dir, "supplier")
    supplier.write.mode("overwrite").option("compression", "zstd").parquet(out)
    val files = new java.io.File(out).listFiles()
    require(files.exists(_.getName.contains(".zstd.")),
      "zstd codec not applied")
    s.read.parquet(out).orderBy($"s_suppkey")
      .select($"s_suppkey", $"s_name", $"s_nationkey", $"s_acctbal")
  }
  val q60Sql: String =
    "SELECT s_suppkey, s_name, s_nationkey, s_acctbal FROM supplier ORDER BY s_suppkey"

  // ---- Q81: XML round-trip (customer projection) ----------------------
  // Spark 4 ships the (formerly spark-xml) XML source built in; rowTag
  // is mandatory on both sides. Strings survive XML entity escaping
  // losslessly, so the round-trip is value-exact for this projection.
  def q81(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val out = graft.RunTmp.dir("q81_xml")
    val cust = Tables(s, dir, "customer")
      .select($"c_custkey", $"c_name", $"c_nationkey", $"c_mktsegment")
    cust.write.mode("overwrite").option("rowTag", "customer").xml(out)
    s.read.schema(cust.schema).option("rowTag", "customer").xml(out)
      .groupBy($"c_mktsegment")
      .agg(count(lit(1)).as("n"),
        min($"c_custkey").as("min_key"), max($"c_custkey").as("max_key"))
      .orderBy($"c_mktsegment")
  }
  val q81Sql: String =
    """SELECT c_mktsegment, COUNT(*) AS n,
      |  MIN(c_custkey) AS min_key, MAX(c_custkey) AS max_key
      |FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin

  // ---- Q85: raw-text round-trip (documents corpus) --------------------
  // The most common LLM-pipeline ingest format: one document per line
  // via the text source (single string column on write; fixture text is
  // newline-free, which the write would silently corrupt otherwise —
  // production pipelines escape or frame multi-line docs, e.g. JSONL =
  // q50's path). Verified content-sensitively: the read-back lines are
  // aggregated with an order-independent sum of the portable content
  // hash over the FULL line (4096-byte cap ≫ the fixture's max doc
  // length — the 64-byte prefix q84 uses as a sort key would miss
  // length-preserving corruption past position 64), so any mangled or
  // dropped line changes the output.
  def q85(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val out = graft.RunTmp.dir("q85_text")
    Tables(s, dir, "documents").select($"text").write.mode("overwrite").text(out)
    s.read.text(out)
      .agg(count(lit(1)).as("n_lines"),
        sum(length($"value")).as("total_chars"),
        sum(graft.functions.RollingHash.rollingHash($"value", 4096)).as("hash_sum"))
  }
  // The oracle models the LINE semantics of a text sink faithfully
  // (r9 adversarial finding): a document containing '\n' round-trips
  // as MULTIPLE lines (the sink writes raw text + a row terminator,
  // the source splits on newlines — document boundaries are NOT
  // preserved, the classic text-sink footgun), and a NULL document
  // writes as one empty line. The old per-document formulation
  // coincided with this only on newline-free corpora. '\r' line
  // endings are out of the declared domain (Hadoop's reader treats
  // them as terminators; string_split models '\n' only).
  val q85Sql: String =
    """WITH lines AS (
      |  SELECT unnest(string_split(coalesce(text, ''), chr(10))) AS line
      |  FROM documents)
      |SELECT COUNT(*) AS n_lines,
      |  CAST(SUM(len(line)) AS BIGINT) AS total_chars,
      |  CAST(SUM(list_reduce(list_prepend(CAST(0 AS BIGINT),
      |      list_transform(generate_series(1, least(len(line), 4096)),
      |                     i -> CAST(ascii(line[i]) AS BIGINT))),
      |    (acc, x) -> (acc * 31 + x) % 1000000007)) AS BIGINT) AS hash_sum
      |FROM lines""".stripMargin

  // ---- Q86: multi-source federation (parquet ⋈ CSV ⋈ JSON) ------------
  // One query over three formats: parquet lineitem joined to a
  // CSV-materialized orders projection and a JSON-materialized customer
  // projection. The planner treats every source as a relation — filters
  // push into each scan in its format's capability (parquet: real
  // pushdown; csv/json: Spark-side filters after parse) and the join
  // strategy is chosen by size as usual. The oracle runs on the
  // original tables, so the materialization steps must be lossless.
  def q86(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import Relational.{dec, rd}
    val out = graft.RunTmp.dir("q86_multi")
    val ordProj = Tables(s, dir, "orders")
      .select($"o_orderkey", $"o_custkey", $"o_orderstatus")
    ordProj.write.mode("overwrite").option("header", "true").csv(s"$out/orders")
    val custProj = Tables(s, dir, "customer")
      .select($"c_custkey", $"c_mktsegment")
    custProj.write.mode("overwrite").json(s"$out/customer")
    val ordCsv = s.read.schema(ordProj.schema).option("header", "true")
      .csv(s"$out/orders")
    val custJson = s.read.schema(custProj.schema).json(s"$out/customer")
    Tables(s, dir, "lineitem")
      .select($"l_orderkey", dec($"l_quantity").as("qty"))
      .join(ordCsv.filter($"o_orderstatus" === "F"),
        $"l_orderkey" === $"o_orderkey")
      .join(custJson, $"o_custkey" === $"c_custkey")
      .groupBy($"c_mktsegment")
      .agg(count(lit(1)).as("n_items"), rd(sum($"qty")).as("total_qty"))
      .orderBy($"c_mktsegment")
  }
  val q86Sql: String =
    """SELECT c_mktsegment, COUNT(*) AS n_items,
      |  CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(18,4))), 2) AS DOUBLE) AS total_qty
      |FROM lineitem
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |WHERE o_orderstatus = 'F'
      |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin

  // ---- Q51: ORC round-trip (nation) -----------------------------------
  def q51(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val out = graft.RunTmp.dir("q51_orc")
    val nation = Tables(s, dir, "nation")
    nation.write.mode("overwrite").orc(out)
    s.read.schema(nation.schema).orc(out).orderBy($"n_nationkey")
  }
  val q51Sql: String =
    "SELECT n_nationkey, n_name, n_regionkey FROM nation ORDER BY n_nationkey"

  // ---- Q90: small-file compaction round-trip ---------------------------
  // Fragment the documents table into 64 deliberately-tiny parquet
  // files, compact them back toward an 8 MB target with the shuffle-free
  // coalesce rewrite ([[graft.operators.Compaction]]), and verify the
  // compacted copy is value-identical to the source table. The file-count
  // collapse itself (64 → ceil(bytes/8 MB)) is asserted in
  // IncrementalSpec; the oracle proves no row was lost or altered in
  // the rewrite.
  def q90(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val small = graft.RunTmp.dir("q90_small")
    val packed = graft.RunTmp.dir("q90_packed")
    Tables(s, dir, "documents").repartition(64)
      .write.mode("overwrite").parquet(small)
    graft.operators.Compaction.compact(s, small, packed, targetBytes = 8L << 20)
    s.read.parquet(packed)
      .select($"doc_id", $"lang", $"source", $"n_chars")
      .orderBy($"doc_id")
  }
  val q90Sql: String =
    "SELECT doc_id, lang, source, n_chars FROM documents ORDER BY doc_id"

  // ---- Q110: bucketed tables + co-located (exchange-free) join --------
  // The storage-side answer to the repeated-join shuffle: persist both
  // sides bucketed (and bucket-sorted) on the join key, and every later
  // join on that key reads bucket i against bucket i with NO exchange —
  // at 100 TB this converts the nightly orders⋈customer shuffle into a
  // one-time layout cost amortized across every downstream query.
  // BucketJoinSpec pins the plan property (no ShuffleExchange under the
  // join); this gated query pins the results against the plain-join
  // oracle. Both sides are repartitioned by the bucket column before
  // the write so each bucket lands in one file per side (the layout a
  // compacted production table would have).
  def q110(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    bucketedTables(s, dir)
    val j = s.table("q110_orders_b").join(s.table("q110_customer_b"),
      $"o_custkey" === $"c_custkey")
    j.groupBy($"c_mktsegment")
      .agg(count(lit(1)).as("n_orders"),
        Relational.rd(sum(Relational.dec($"o_totalprice"))).as("revenue"))
      .orderBy($"c_mktsegment")
  }
  val q110Sql: String =
    """SELECT c_mktsegment, count(*) AS n_orders,
      |  CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,4))), 2) AS DOUBLE) AS revenue
      |FROM orders JOIN customer ON o_custkey = c_custkey
      |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin

  /** Writes `customer`/`orders` as 8-bucket tables keyed on custkey
    * into this run's scratch dir (external-path `saveAsTable` on the
    * session's in-memory catalog; `overwrite` keeps re-runs in one
    * session idempotent). Shared by q110 and BucketJoinSpec. */
  def bucketedTables(s: SparkSession, dir: String): Unit = {
    Tables(s, dir, "customer").repartition(8, col("c_custkey"))
      .write.mode("overwrite").format("parquet")
      .bucketBy(8, "c_custkey").sortBy("c_custkey")
      .option("path", graft.RunTmp.dir("q110_customer_b"))
      .saveAsTable("q110_customer_b")
    Tables(s, dir, "orders").repartition(8, col("o_custkey"))
      .write.mode("overwrite").format("parquet")
      .bucketBy(8, "o_custkey").sortBy("o_custkey")
      .option("path", graft.RunTmp.dir("q110_orders_b"))
      .saveAsTable("q110_orders_b")
  }
}
