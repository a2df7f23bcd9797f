package perfbench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.SparkSession


/** Seeded input generation. The program only ever sees these generated
  * tables: a `documents.parquet` in the shape of the repo's test data
  * (doc_id, text, lang, source, n_chars), from which the program's own
  * `Fixtures.ensure` derives the crawl fixture. */
object Inputs {

  /** Token vocabulary of the generated documents (the test data's). */
  val Vocab: Vector[String] = Vector(
    "the", "a", "fast", "slow", "big", "small", "key", "value", "order", "sort",
    "table", "scan", "merge", "join", "hash", "part", "window", "batch", "stream",
    "spark", "dup", "group", "query", "row", "data", "filter", "customer", "line",
    "agg", "column", "vector")
  /** Long-tail terms ("t0".."t1999"), drawn skewed toward low indices. */
  val TailSize: Int = 2000
  def tailWord(i: Int): String = s"t$i"

  val Langs: Vector[String] = Vector("en", "en", "en", "fr", "es", "de", "zh")
  val Sources: Int = 20

  final case class Doc(doc_id: Long, text: String, lang: String, source: String, n_chars: Long)

  /** `n` documents drawn from `seed`. Token counts span 12..90 so the
    * quality gate (≥30 tokens) keeps about three quarters; three tokens in
    * ten come from the long tail; every 9th
    * document is a one-token edit of an earlier one, so near-duplicate
    * clusters exist for the dedup stage. */
  def docs(seed: Long, n: Int): Seq[Doc] = {
    val rnd = new java.util.SplittableRandom(seed * 0x9e3779b97f4a7c15L + 17)
    val texts = new Array[Array[String]](n)
    (0 until n).map { i =>
      val toks =
        if (i % 9 == 8 && i > 9) {
          val src = texts(i - 1 - rnd.nextInt(math.min(i - 1, 40)))
          val t = src.clone(); t(rnd.nextInt(t.length)) = Vocab(rnd.nextInt(Vocab.size)); t
        } else Array.fill(12 + rnd.nextInt(79)) {
          if (rnd.nextInt(10) < 3) tailWord(math.min(rnd.nextInt(TailSize), rnd.nextInt(TailSize)))
          else Vocab(rnd.nextInt(Vocab.size))
        }
      texts(i) = toks
      val text = toks.mkString(" ")
      Doc(i.toLong, text, Langs(rnd.nextInt(Langs.size)), s"src${i % Sources}", text.length.toLong)
    }
  }

  /** Write `ds` under `dir` and return the dir (an "sf dir" the program's
    * Fixtures accepts). */
  def writeDocs(spark: SparkSession, dir: Path, ds: Seq[Doc]): String = {
    import spark.implicits._
    Files.createDirectories(dir)
    ds.toDS().coalesce(1).write.mode("overwrite")
      .parquet(dir.resolve("documents.parquet").toString)
    dir.toString
  }

  /** Content fingerprint of a generated document set, for the report. */
  def fingerprint(ds: Seq[Doc]): String = f"${scala.util.hashing.MurmurHash3.seqHash(ds)}%08x"
}
