package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Seeded `documents` table (doc_id, text, lang, source, n_chars) with the
  * shape of the engine's text fixture, `documents.parquet` at every scale
  * factor (measured on its three tables, of 500, 500 and 5000 rows):
  *
  *  - a text is 10 to 99 words drawn uniformly, each uniform over the same
  *    30-word vocabulary (each word 3.3 % ± 0.1 % of all words);
  *  - the source is `src<doc_id % 20>`;
  *  - the language is `en` for about 40 % of documents (39–44 % over the
  *    three tables) and each of `de`, `es`, `fr` and `zh` for about 15 %,
  *    independent of the text;
  *  - exactly one document in 20 is a near-duplicate: another document's
  *    text with the word `dup` appended. It keeps its own id, source and
  *    language. A copy of a copy, or two copies of one text, occur as in
  *    the fixture (8 exact-duplicate pairs in its 5000 rows);
  *  - `n_chars` is the length of the text.
  *
  * The fixture itself is not in the repository, so the benchmark makes a
  * table of its shape. Generated in the harness process from
  * `java.util.Random(seed)`: the same seed gives the same table. */
object Corpus {
  val Sources = 20
  private val Vocab = Array("agg", "batch", "big", "column", "customer", "data", "fast",
    "filter", "group", "hash", "join", "key", "line", "merge", "order", "part", "query",
    "row", "scan", "slow", "small", "sort", "spark", "stream", "table", "value", "vector",
    "window", "the", "a")
  private val MinWords = 10
  private val MaxWords = 99
  private val Langs = Seq("en" -> 0.4, "de" -> 0.15, "es" -> 0.15, "fr" -> 0.15, "zh" -> 0.15)
  /** One document in `DupEvery` is a near-duplicate. */
  private val DupEvery = 20

  final case class Doc(doc_id: Long, text: String, lang: String, source: String, n_chars: Long)

  def docs(seed: Long, n: Int): Seq[Doc] = {
    val rnd = new java.util.Random(seed)
    def pickLang(): String = {
      val u = rnd.nextDouble()
      var acc = 0.0
      Langs.find { case (_, p) => acc += p; u < acc }.map(_._1).getOrElse("en")
    }
    val texts = Array.fill(n) {
      val len = MinWords + rnd.nextInt(MaxWords - MinWords + 1)
      Array.fill(len)(Vocab(rnd.nextInt(Vocab.length))).mkString(" ")
    }
    val langs = Array.fill(n)(pickLang())
    // the near-duplicates: n / 20 seeded positions, each taking the current
    // text of another document, so copies of copies can occur
    val positions = (0 until n).toArray
    for (i <- n - 1 until 0 by -1) {
      val j = rnd.nextInt(i + 1)
      val t = positions(i); positions(i) = positions(j); positions(j) = t
    }
    if (n > 1) positions.take(n / DupEvery).foreach { i =>
      val j = (i + 1 + rnd.nextInt(n - 1)) % n
      texts(i) = texts(j) + " dup"
    }
    (0 until n).map(i => Doc(i, texts(i), langs(i), s"src${i % Sources}", texts(i).length.toLong))
  }

  def frame(spark: SparkSession, seed: Long, n: Int): DataFrame = {
    import spark.implicits._
    docs(seed, n).toDF()
  }

  /** Write `df` as exactly one parquet file at `file` (harness staging: a
    * single-task write into a scratch dir, then a rename). */
  def writeOneFile(ctx: Ctx, df: DataFrame, file: String): Unit = {
    val stage = file + ".stage"
    df.coalesce(1).write.mode("overwrite").parquet(stage)
    val fs = ctx.fs
    val part = fs.globStatus(new org.apache.hadoop.fs.Path(s"$stage/part-*.parquet"))(0).getPath
    fs.mkdirs(new org.apache.hadoop.fs.Path(file).getParent)
    fs.rename(part, new org.apache.hadoop.fs.Path(file))
    fs.delete(new org.apache.hadoop.fs.Path(stage), true)
  }
}
