package perfbench

import java.io.File

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, sum}

import graft.ops.{CuratedFeed, Tokenize}

/** `curated_feed`: one op appends the next batch to a curated feed. */
final class FeedWorkload(seed: Long, batchDocs: Int, root: File, work: File)
    extends Workload {
  val name = "curated_feed"
  // compact a store once it holds more than one batch partition, so every
  // run of a few batches spans several seen-store and feed-store cycles
  private val maxBatchParts = 1
  def cycle: Int = 3
  private val seqLen = 2048
  private val data = new FeedData(seed, batchDocs)
  private val truth = new FeedTruth(data)
  private val in = new File(work, "in")
  private var stateDir = new File(work, "feed")
  private var merges: Seq[(String, String)] = Nil
  private var appendedBytes = 0L

  private def append(docs: org.apache.spark.sql.DataFrame, batch: Long, dir: File): Unit =
    CuratedFeed.curatedAppend(docs, batch, dir.getPath, merges, seqLen = seqLen,
      nShards = 8, minWords = data.minWords, maxWords = data.maxWords,
      maxBatchParts = maxBatchParts)

  def generate(spark: SparkSession): Unit = ()

  def setup(spark: SparkSession, rep: Int): Unit = {
    merges = Tokenize.loadMerges(spark.read.parquet(
      new File(root, "src/test/resources/bpe_bytes_merges.parquet").getPath))
    // warm-up: a throwaway feed of one differently seeded batch
    val warmDir = new File(work, s"warm_feed_$rep")
    val warmIn = new File(work, s"warm_in_$rep")
    new FeedData(seed ^ 0x5bd1e995L, batchDocs / 4).write(spark, 0L, warmIn.getPath)
    append(spark.read.parquet(warmIn.getPath), 0L, warmDir)
    Files.deleteTree(warmDir)
    Files.deleteTree(warmIn)
    Files.deleteTree(stateDir)
    stateDir = new File(work, s"feed_$rep")
  }

  private def batchDir(op: Int) = new File(in, s"batch_$op")

  def prepare(spark: SparkSession, op: Int): Unit = {
    data.write(spark, op.toLong, batchDir(op).getPath)
    appendedBytes += Files.size(batchDir(op))
    truth.admit(op.toLong)
  }

  def op(spark: SparkSession, op: Int): Any =
    append(spark.read.parquet(batchDir(op).getPath), op.toLong, stateDir)

  // batch partitions left in the two stores after each op; a drop
  // means the op compacted
  private var parts = 0L
  private var compactions = 0
  private var checked = 0
  private var readS = 0.0
  private var novelFrac = 0.0

  private def batchParts: Long = Files.walk(stateDir)
    .flatMap(f => Iterator.iterate(f.getParentFile)(_.getParentFile)
      .takeWhile(d => d != null && d != stateDir))
    .filter(d => d.getName.startsWith("__batch=") && d.getName != "__batch=-1")
    .toSeq.distinct.size.toLong

  def check(spark: SparkSession, op: Int, result: Any): Seq[String] = {
    val t0 = System.nanoTime()
    val led = CuratedFeed.ledger(spark, stateDir.getPath)
      .agg(sum(col("novel_docs")), sum(col("rows_in"))).head()
    val ledgerNovel = if (led.isNullAt(0)) 0L else led.getLong(0)
    val corpus = CuratedFeed.corpus(spark, stateDir.getPath).count()
    readS = (System.nanoTime() - t0) / 1e9
    novelFrac = if (led.isNullAt(1)) 0.0 else ledgerNovel.toDouble / led.getLong(1)
    val nowParts = batchParts
    if (op > 0 && nowParts <= parts) compactions += 1
    parts = nowParts
    checked += 1
    Seq(
      if (ledgerNovel == truth.corpus) None
      else Some(s"ledger novel_docs sum: got $ledgerNovel, planted ${truth.corpus}"),
      if (corpus == truth.corpus) None
      else Some(s"corpus rows: got $corpus, planted ${truth.corpus}")).flatten
  }

  def rowsPerOp: Long = batchDocs
  def inputBytes: Long = appendedBytes
  def inputDir: File = in
  override def feedDir: Option[File] = Some(stateDir)
  override def manifest: Seq[String] = truth.manifest.toSeq
  override def observe(spark: SparkSession, op: Int): Map[String, Double] =
    Map("read_s" -> readS)
  override def gauges: Map[String, Double] =
    Map("feed.novel_frac" -> novelFrac, "feed.compact_frac" -> compactions.toDouble / checked)
  override def describe: String =
    s"docs_per_batch=$batchDocs max_batch_parts=$maxBatchParts seq_len=$seqLen"
}
