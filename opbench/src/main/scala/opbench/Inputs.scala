package opbench

import java.util.SplittableRandom

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The benchmark's generated inputs.
  *
  * The documents are one fixed generated block at fixed ids: the
  * document with id `IdBase + i` has the text and language of entry `i`
  * of the block. `Block` is a multiple of 97, 2 and 20, so the q107
  * slices (`doc_id % 97`, `doc_id % 2`) and the sources (`doc_id % 20`)
  * fall as they would in any block. The workload seed picks the order in
  * which each staged input holds its rows: every seed reads the same
  * rows, does the same work and gets the same answer, in a different
  * order, which the engine's answer must not depend on. The seed does
  * not pick the ids: the hash partitioning that follows from them makes
  * some id ranges' ops 10 % dearer than others'. */
object Inputs {
  final case class Doc(doc_id: Long, text: String, lang: String,
      source: String, n_chars: Long)

  val CorpusSeed = 20240517L
  val Block = 3880 // 2 * 97 * 20

  private val Vocab = Vector("spark", "window", "merge", "table", "column",
    "vector", "stream", "value", "data", "small", "join", "filter", "big",
    "group", "hash", "customer", "sort", "order", "slow", "line", "part",
    "fast", "row", "the", "agg", "key", "query", "a", "scan", "batch")

  /** Id of the first document: a multiple of `Block`, so the slices
    * fall as in any block, and every id has six digits. */
  val IdBase: Long = Block.toLong * 27

  /** The block, shaped like the engine's test data: 10–100 words over a
    * 30-word vocabulary (so token sets overlap heavily and the near-dup
    * stage has real work), five languages, 5 % near copies of an
    * earlier document (`… dup`) and a few exact copies. */
  lazy val documents: IndexedSeq[Doc] = {
    val rng = new SplittableRandom(CorpusSeed)
    val texts = new Array[String](Block)
    (0 until Block).map { i =>
      val r = rng.nextDouble()
      texts(i) =
        if (i > 0 && r < 0.05) texts(rng.nextInt(i)) + " dup"
        else if (i > 0 && r < 0.055) texts(rng.nextInt(i))
        else Seq.fill(10 + rng.nextInt(91))(Vocab(rng.nextInt(Vocab.size)))
          .mkString(" ")
      val l = rng.nextDouble()
      val lang =
        if (l < 0.41) "en" else if (l < 0.56) "de" else if (l < 0.71) "fr"
        else if (l < 0.86) "es" else "zh"
      val id = IdBase + i
      Doc(id, texts(i), lang, s"src${id % 20}", texts(i).length.toLong)
    }
  }

  /** Writes `rows`, in the order `seed` picks, as one parquet directory
    * and reads it back, so ops read their input the way a pipeline
    * would. */
  def stage(s: SparkSession, rows: Seq[Doc], path: String,
      seed: Long): DataFrame = {
    s.createDataFrame(new scala.util.Random(seed).shuffle(rows))
      .coalesce(1).write.mode("overwrite").parquet(path)
    s.read.parquet(path)
  }
}
