package perfbench

import org.apache.spark.sql.SparkSession

/** Seeded document generator of the text workload. Everything is a
  * pure function of (seed, id), so equal seeds give equal corpora.
  *
  * Text is lowercase words separated by single spaces, so whitespace
  * tokens, shingles and the quality features can be recomputed on the
  * driver without the engine. About a fifth of the tokens are English
  * stopwords; the rest come from a seeded 4,000-word vocabulary with a
  * skewed (u^1.5) draw, so no 3-token shingle is common enough to be cut by
  * a document-frequency cap.
  */
final class Gen(seed: Long) {
  import Gen._

  private val vocab: Array[String] = {
    val words = scala.collection.mutable.LinkedHashSet.empty[String]
    var i = 0L
    while (words.size < VocabSize) {
      val h = mix(seed * 31 + i)
      val len = 3 + (h & 7).toInt
      val w = (0 until len).map(j => ('a' + (mix(h + j) >>> 33) % 26).toChar).mkString
      if (!Stopwords.contains(w)) words += w
      i += 1
    }
    words.toArray
  }

  def uniform(key: Long): Double = (mix(seed ^ mix(key)) >>> 11).toDouble / (1L << 53)

  def word(key: Long): String =
    if (uniform(key) < 0.2) Stopwords((uniform(key + 1) * Stopwords.size).toInt)
    else vocab((math.pow(uniform(key + 2), 1.5) * vocab.length).toInt)

  /** A document of `n` tokens, all drawn from `key`. */
  def doc(key: Long, n: Int): Array[String] =
    Array.tabulate(n)(j => word(key * 1009 + j * 3))

  /** Copy of `tokens` with about `rate` of them, and at least one, replaced
    * by other words.
    */
  def edit(tokens: Array[String], key: Long, rate: Double): Array[String] = {
    val forced = (uniform(key * 7919 - 1) * tokens.length).toInt
    tokens.zipWithIndex.map { case (t, j) =>
      if (j == forced || uniform(key * 7919 + j) < rate) {
        val w = word(key * 7919 + j + 100000007L)
        if (w == t) vocab((vocab.indexOf(t) + 1) % vocab.length) else w
      } else t
    }
  }

  /** Whole-number token ("4821") for the digit-heavy documents. */
  def number(key: Long): String = (1000 + (uniform(key) * 9000).toInt).toString
}

object Gen {
  val Stopwords: IndexedSeq[String] = IndexedSeq("the", "a", "and", "of", "to", "in", "is")
  val VocabSize = 4000

  def mix(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** 3-token shingles of a whitespace-tokenized text. */
  def shingles(tokens: Array[String], k: Int = 3): Set[String] =
    tokens.sliding(k).filter(_.length == k).map(_.mkString(" ")).toSet

  def jaccard(a: Set[String], b: Set[String]): Double =
    if (a.isEmpty && b.isEmpty) 1.0
    else (a intersect b).size.toDouble / (a union b).size

  /** Write `(doc_id, text)` rows as `<dir>/documents.parquet`, in the
    * layout `graft.sources.Tables.documents` reads.
    */
  def writeDocs(spark: SparkSession, dir: String, docs: Seq[(Long, String)],
                files: Int): Unit = {
    import spark.implicits._
    docs.map { case (id, t) => (id, t, "en", "gen", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .repartition(files).write.mode("overwrite").parquet(s"$dir/documents.parquet")
  }
}
