package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded replicas of the documents table, delivered as an append stream.
  *
  * Each batch holds `batchDocs` documents. A document's text is either
  * fresh, an exact copy of an earlier document of the same batch, or an
  * exact copy of a document of an earlier batch. Texts run 10 to 100 words,
  * so the 20..80 word quality gate rejects some; a few carry an e-mail
  * address or an IPv4 address for the redaction stage. */
final class FeedData(val seed: Long, val batchDocs: Int) {
  val minWords = 20
  val maxWords = 80

  /** (text, dedup key) of the i-th document of batch b. The key is the
    * text with its one PII token replaced by its kind, which is what the
    * feed's fingerprint sees once PII is masked. */
  def doc(b: Long, i: Int): (String, String) = {
    val k = b * 1000003L + i
    val u = Rng.u(seed, k, 1)
    if (u < 0.05 && i > 0) doc(b, Rng.below(seed, k, 2, i))
    else if (u < 0.15 && b > 0)
      doc(Rng.below(seed, k, 3, b.toInt).toLong, Rng.below(seed, k, 4, batchDocs))
    else fresh(k)
  }

  private def fresh(k: Long): (String, String) = {
    val nWords = 10 + Rng.below(seed, k, 5, 91)
    val ws = Array.tabulate(nWords)(j =>
      Rng.words(Rng.below(seed, k, 100 + j, Rng.words.length)))
    val pii = Rng.u(seed, k, 6)
    if (pii < 0.03) {
      val at = Rng.below(seed, k, 7, nWords)
      val key = ws.updated(at, "<EMAIL>").mkString(" ")
      ws(at) = s"user$k@example.com"
      (ws.mkString(" "), key)
    } else if (pii < 0.05) {
      val at = Rng.below(seed, k, 8, nWords)
      val key = ws.updated(at, "<IP>").mkString(" ")
      ws(at) = s"10.${k % 250}.${(k / 250) % 250}.${1 + k % 200}"
      (ws.mkString(" "), key)
    } else {
      val t = ws.mkString(" ")
      (t, t)
    }
  }

  def passesGate(text: String): Boolean = {
    val n = text.split(" ").length
    n >= minWords && n <= maxWords
  }

  def write(spark: SparkSession, b: Long, dir: String): Unit = {
    val rows = (0 until batchDocs).map { i =>
      val (text, _) = doc(b, i)
      Row(b * 1000003L + i, text, "en", s"src${i % 7}", text.length.toLong)
    }
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), FeedData.schema)
      .write.mode("overwrite").parquet(dir)
  }
}

object FeedData {
  val schema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("lang", StringType), StructField("source", StringType),
    StructField("n_chars", LongType)))
}

/** The planted truth of a feed: which dedup keys have been accepted. */
final class FeedTruth(data: FeedData) {
  private val seen = mutable.HashSet.empty[String]
  var corpus = 0L
  /** One manifest entry per delivered batch. */
  val manifest = mutable.ArrayBuffer.empty[String]

  /** Admit batch b: its novel documents are the distinct keys past the
    * quality gate that no earlier batch delivered. */
  def admit(b: Long): Unit = {
    val keys = (0 until data.batchDocs).map(i => data.doc(b, i))
      .filter { case (text, _) => data.passesGate(text) }.map(_._2)
    val distinct = keys.distinct
    val fresh = distinct.filterNot(seen)
    seen ++= fresh
    corpus += fresh.size
    manifest += s"""{"batch": $b, "docs": ${data.batchDocs}, "past_gate": ${keys.size}, """ +
      s""""distinct": ${distinct.size}, "in_batch_duplicates": ${keys.size - distinct.size}, """ +
      s""""seen_before": ${distinct.size - fresh.size}, "novel": ${fresh.size}}"""
  }
}
