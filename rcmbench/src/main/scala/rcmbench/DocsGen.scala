package rcmbench

import org.apache.spark.sql.SparkSession

/** Deterministic, seeded `documents` table for the curation DAG, drawn
  * from the same distributions as the repository's sf0.1 `documents`
  * testdata (5,000 rows): `doc_id bigint, text string, lang string,
  * source string, n_chars bigint`, where
  *  - a text is 10-100 words (uniform) drawn uniformly from the same
  *    30-word vocabulary, one line, and `n_chars` is its length;
  *  - `lang` is `en` with probability 0.4, else `zh`, `es`, `fr` or `de`;
  *  - `source` is `src<doc_id % 20>`;
  *  - 5% of the documents are near-duplicates: another document's text
  *    with the word `dup` appended (the testdata has 250 in 5,000);
  *  - 0.16% repeat another document's text exactly (8 in 5,000). */
object DocsGen {

  private val vocab = Vector("a", "the", "key", "agg", "row", "scan", "slow", "fast",
    "table", "value", "part", "hash", "merge", "batch", "spark", "line", "sort",
    "window", "order", "data", "column", "join", "small", "big", "customer", "query",
    "stream", "filter", "group", "vector")
  private val otherLangs = Vector("zh", "es", "fr", "de")

  final case class Doc(doc_id: Long, text: String, lang: String, source: String, n_chars: Long)

  def docs(n: Int, seed: Long): Seq[Doc] = {
    val rnd = new java.util.SplittableRandom(seed * 7919L + 17L)
    val texts = Array.fill(n)(Seq.fill(10 + rnd.nextInt(91))(vocab(rnd.nextInt(vocab.size))).mkString(" "))
    // copies replace texts in id order, so a copy may be of an earlier copy
    for (i <- 0 until n) {
      val u = rnd.nextDouble()
      def other = texts((i + 1 + rnd.nextInt(n - 1)) % n)
      if (u < 0.05) texts(i) = other + " dup"
      else if (u < 0.0516) texts(i) = other
    }
    (0 until n).map { i =>
      val lang = if (rnd.nextDouble() < 0.4) "en" else otherLangs(rnd.nextInt(otherLangs.size))
      Doc(i.toLong, texts(i), lang, s"src${i % 20}", texts(i).length.toLong)
    }
  }

  /** Writes `<dir>/documents.parquet` as one file. */
  def write(spark: SparkSession, dir: String, n: Int, seed: Long): Unit = {
    import spark.implicits._
    docs(n, seed).toDS().coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
  }
}
