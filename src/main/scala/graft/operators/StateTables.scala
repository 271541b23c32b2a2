package graft.operators

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.parquet.hadoop.{Footer, ParquetFileReader}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, DataFrameWriter, Encoders, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.datasources.{FileStatusCache, HadoopFsRelation, InMemoryFileIndex, PartitionPath, PartitionSpec}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.types._

import scala.reflect.runtime.universe.TypeTag

/** The one format of the engine's persisted state: every table the
  * incremental fold ([[graft.queries.CorpusPipelineDelta]]) and its two
  * cell stores ([[NearDupSignatureStore]], [[HammingStore]]) keep is
  * declared here, written through [[write]] and read through
  * [[readFlat]] / [[readCells]].
  *
  *  - WRITE: zstd, as a per-write option (no session conf is read or
  *    set). Measured on the benchmark's 150-row fold increment: the
  *    state it adds shrinks ~22 % against Spark's default snappy (the
  *    hex SHA-256 digest run alone 5.7 → 3.3 KB). Reads are
  *    codec-agnostic, so a state written in snappy keeps folding and
  *    its files turn zstd as appends, swaps and compaction rewrite
  *    them. Every write is checked against the table's declaration, so
  *    a declaration that drifts from what the engine writes fails at
  *    once, not at a later read.
  *  - READ: no Spark job. The engine wrote every file, so it knows the
  *    schema and lists the files itself. `spark.read.parquet(dir)` with
  *    no schema runs a footer-inference job when the frame is created,
  *    and past `parallelPartitionDiscovery.threshold` (32) explicit
  *    paths Spark lists them in a parallel job (the signature store's
  *    probe of 60 touched cells: ~0.3 s of a fold's critical path).
  *    Here the driver lists the wanted directories (`listStatus`, one
  *    per directory), hands the files to an [[InMemoryFileIndex]] via a
  *    filled [[FileStatusCache]] and an explicit [[PartitionSpec]], and
  *    reads them under the declared schema. One driver-side footer
  *    read of the newest file checks that schema: a column whose type
  *    drifted throws, naming the table, instead of being silently
  *    re-inferred; a declared column the file lacks (a legacy fold
  *    `meta`) reads as NULL, which is Parquet's own rule.
  *
  * `_`- and `.`-prefixed names are skipped like Spark's own index does,
  * so a live tree's `_l0` runs, `_SUCCESS` markers and `_temporary`
  * staging never reach a cell read; the L0 runs are read as their own
  * flat table ([[CellStore.scan]]). */
private[graft] object StateTables {

  /** The state codec, passed on every state write. */
  val Codec = "zstd"

  /** A persisted table. `schema` lists every column the engine writes,
    * hive partition columns included; None means the newest file's
    * footer is the schema (tables whose columns the caller names).
    * `callerTyped` columns are integral ids whose width follows the
    * caller's input (a store keeps the ids it was given): declared
    * LongType, read with the file's own integral type. */
  final case class Table(name: String, schema: Option[StructType],
      callerTyped: Set[String] = Set.empty)

  private def table(name: String, cols: (String, DataType)*): Table =
    Table(name, Some(StructType(cols.map { case (n, t) => StructField(n, t) })))

  /** The fold's one-row `meta`. Columns after `max_id` are absent in
    * states written before they existed and read as NULL there. */
  val FoldMeta: Table = table("meta", "max_id" -> LongType,
    "last_batch" -> LongType, "cfg_fp" -> StringType,
    "batch_lo" -> LongType, "batch_hi" -> LongType, "batch_n" -> LongType,
    "media_max_id" -> LongType)

  /** The fold's exact-dedup ledger: one hex SHA-256 digest per doc. */
  val Digests: Table = table("digests", "__digest" -> StringType)

  /** The fold's media-id ledger (fp NULL for fingerprint-less rows). */
  val MediaSeen: Table = table("media_seen", "doc_id" -> LongType,
    "fp" -> LongType)

  /** The fold's media near-dup pair log. */
  val MediaPairs: Table = table("media_pairs", "doc_id_a" -> LongType,
    "doc_id_b" -> LongType, "hamming" -> IntegerType)

  /** The fold's per-source quota survivors: the config-named id, source,
    * language and text columns, typed as the fold's delta carries them
    * (or, without a delta in hand, as the newest file's footer does). */
  def mix(schema: Option[StructType]): Table = Table("mix", schema)

  /** The signature store's band signatures, hive-partitioned by `cell`. */
  val Sigs: Table = table("sigs", "doc_id" -> LongType,
    "band" -> IntegerType, "sig" -> LongType, "mask" -> LongType,
    "cell" -> IntegerType).copy(callerTyped = Set("doc_id"))

  /** The signature store's token-set ledger. */
  val Toksets: Table = table("toksets", "doc_id" -> LongType,
    "toks" -> ArrayType(StringType)).copy(callerTyped = Set("doc_id"))

  /** The Hamming store's band rows, hive-partitioned by `cell`. */
  val Bands: Table = table("bands", "id" -> LongType, "f" -> LongType,
    "band" -> IntegerType, "bkey" -> LongType, "cell" -> IntegerType)
    .copy(callerTyped = Set("id", "f"))

  /** A store's one-row `meta`: the columns of its case class. */
  def storeMeta[M <: Product : TypeTag]: Table =
    Table("meta", Some(Encoders.product[M].schema))

  // ---- write -------------------------------------------------------------

  /** The writer of every state file: `rows` checked against `table`,
    * the state codec set. The caller picks mode, layout and path. */
  def write(table: Table, rows: DataFrame): DataFrameWriter[Row] = {
    table.schema.foreach(declared => declared.fields.foreach { f =>
      val got = rows.schema.find(_.name == f.name).getOrElse(
        throw new IllegalStateException(s"state table '${table.name}': " +
          s"write lacks declared column ${f.name} (${rows.schema.simpleString})"))
      conform(table, f, got.dataType, "this write")
    })
    recode(rows)
  }

  /** The state codec alone, for rewrites that copy a table's own rows
    * back ([[Compaction]]). */
  def recode(rows: DataFrame): DataFrameWriter[Row] =
    rows.write.option("compression", Codec)

  // ---- read --------------------------------------------------------------

  /** `table`'s files directly under `dir` (a flat table, or an L0 run
    * dir), every declared column a data column. An empty `dir` reads
    * as an empty frame of the declared schema; an absent one throws. */
  def readFlat(spark: SparkSession, table: Table, dir: String): DataFrame = {
    val fs = fsOf(spark, dir)
    val root = fs.makeQualified(new Path(dir))
    val files = dataFiles(fs, root)
    relation(spark, table, Seq(root -> files), None)
  }

  /** `table`'s hive `partCol=<v>` dirs under `root`, partition-pruned
    * on the driver: ONE root listing is intersected with the wanted
    * `values` (None: every dir), so unwanted dirs are never listed
    * (measured r10: a 20-doc probe of an 8192-cell store spent ~9 s of
    * its 11.5 s listing 8160 dirs it never read; 2.3 s pruned). A
    * wanted value with no dir is simply absent. The `isin` filter is
    * still applied: plan-shape specs pin it (`PartitionFilters`), and
    * it keeps the read exact if a layout ever splits a dir
    * differently.
    *
    * Only for partition values whose `toString` is their dir-name
    * encoding (ints and longs, enforced loudly): a string value with a
    * character hive escapes (`%2F`-style) would miss its dir silently
    * and its rows would vanish. */
  def readCells(spark: SparkSession, table: Table, root: String,
      partCol: String, values: Option[Seq[Any]] = None): DataFrame = {
    values.toSeq.flatten.find {
      case _: Int | _: Long | _: Short | _: Byte => false
      case _ => true
    }.foreach(v => throw new IllegalArgumentException(
      s"a pruned cell read only supports integral partition values " +
        s"(got ${v.getClass.getName} '$v'): non-integral values need " +
        "hive escaping in the directory name and would be missed " +
        "silently"))
    val fs = fsOf(spark, root)
    val rootP = fs.makeQualified(new Path(root))
    val all = fs.listStatus(rootP).toSeq.filter(s =>
      s.isDirectory && s.getPath.getName.startsWith(s"$partCol="))
    val want = values.map(_.map(v => s"$partCol=$v").toSet)
    val dirs = all.filter(s => want.forall(_(s.getPath.getName)))
      .map(s => s.getPath -> dataFiles(fs, s.getPath))
    val parsed = dirs.map { case (d, _) =>
      BigInt(d.getName.stripPrefix(s"$partCol=")) }
    val partType = table.schema.flatMap(_.find(_.name == partCol))
      .map(_.dataType).getOrElse(
        if (parsed.forall(_.isValidInt)) IntegerType else LongType)
    val spec = PartitionSpec(StructType(Seq(StructField(partCol, partType))),
      dirs.zip(parsed).map { case ((d, _), v) =>
        PartitionPath(InternalRow(
          if (partType == IntegerType) v.toInt else v.toLong), d) })
    // an undeclared table with no wanted file still needs a schema: the
    // footer of any one cell's file
    val t =
      if (table.schema.nonEmpty || dirs.exists(_._2.nonEmpty)) table
      else all.iterator.map(s => dataFiles(fs, s.getPath)).find(_.nonEmpty)
        .fold(table)(f => table.copy(schema = Some(footerSchema(spark, f.head))))
    val df = relation(spark, t, dirs, Some(spec))
    values.fold(df)(vs => df.filter(
      if (vs.isEmpty) lit(false) else col(partCol).isin(vs: _*)))
  }

  /** The declared-or-footer schema of `table` for its data files, checked
    * against the newest of them. */
  private def relation(spark: SparkSession, table: Table,
      dirs: Seq[(Path, Array[FileStatus])],
      spec: Option[PartitionSpec]): DataFrame = {
    val partCols = spec.map(_.partitionColumns).getOrElse(new StructType())
    val newest = dirs.flatMap(_._2).sortBy(f =>
      (f.getModificationTime, f.getPath.getName)).lastOption
    val footer = newest.map(f => footerSchema(spark, f))
    val declared = table.schema.orElse(footer).getOrElse(
      throw new IllegalStateException(s"state table '${table.name}': " +
        s"no data file under ${dirs.map(_._1).mkString(", ")} to take " +
        "its schema from"))
    val dataSchema = StructType(declared.fields
      .filterNot(f => partCols.fieldNames.contains(f.name))
      .map { f =>
        footer.flatMap(_.find(_.name == f.name)).fold(f) { got =>
          conform(table, f, got.dataType, newest.get.getPath.toString)
          if (table.callerTyped(f.name)) f.copy(dataType = got.dataType) else f
        }
      })
    val cache = new FileStatusCache {
      private val leaves = dirs.toMap
      override def getLeafFiles(p: Path): Option[Array[FileStatus]] =
        leaves.get(p)
      override def putLeafFiles(p: Path, files: Array[FileStatus]): Unit = ()
      override def invalidateAll(): Unit = ()
    }
    val index = new InMemoryFileIndex(spark, dirs.map(_._1), Map.empty,
      Some(StructType(dataSchema.fields ++ partCols.fields)), cache, spec,
      None)
    spark.baseRelationToDataFrame(HadoopFsRelation(index, partCols,
      dataSchema, None, new ParquetFileFormat, Map.empty)(spark))
  }

  /** `declared` is what `table` should hold in column `f`; `got` is what
    * `where` holds. Nullability is not compared (file writes make every
    * column nullable). */
  private def conform(table: Table, f: StructField, got: DataType,
      where: String): Unit = {
    val ok =
      if (table.callerTyped(f.name))
        Seq(ByteType, ShortType, IntegerType, LongType).contains(got)
      else got.catalogString == f.dataType.catalogString
    if (!ok)
      throw new IllegalStateException(s"state table '${table.name}': " +
        s"column ${f.name} is ${got.catalogString} in $where, declared " +
        s"${if (table.callerTyped(f.name)) "an integral type"
           else f.dataType.catalogString}")
  }

  private def fsOf(spark: SparkSession, p: String): FileSystem =
    new Path(p).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Data files directly under `dir`; a missing `dir` throws (a table
    * whose live tree is gone — a torn swap — must never read as empty). */
  private def dataFiles(fs: FileSystem, dir: Path): Array[FileStatus] =
    fs.listStatus(dir).filter { s =>
      val n = s.getPath.getName
      s.isFile && !n.startsWith("_") && !n.startsWith(".")
    }

  /** The Spark schema of one parquet file, read on the driver from its
    * footer (Spark's own rule: the schema Spark stored, else the
    * converted parquet schema). */
  private def footerSchema(spark: SparkSession, f: FileStatus): StructType = {
    val conf = spark.sparkContext.hadoopConfiguration
    val reader = ParquetFileReader.open(HadoopInputFile.fromStatus(f, conf))
    try ParquetFileFormat.readSchemaFromFooter(
      new Footer(f.getPath, reader.getFooter),
      new ParquetToSparkSchemaConverter(
        org.apache.spark.sql.internal.SQLConf.get))
    finally reader.close()
  }
}
