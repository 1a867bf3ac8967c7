package perfbench

import java.io.File

import org.apache.spark.sql.{Row, SparkSession}

/** `full_diff`: stateless whole-table validation. Every op re-runs both
  * jobs with `incremental: false` over the same planted pair, so the
  * `Validator` join algebra, the fuzzy kernel and the report writers do
  * all the work and nothing is stored between ops but the reports. */
final class FullDiffWorkload(seed: Long, n: Int, work: File) extends Workload {
  val name = "full_diff"
  private val files = 16
  private val data = new DiffData(seed, n, files)
  private val truth = new DiffTruth(data, new ReplicaState)
  private val in = new File(work, "in")
  private val outRoot = new File(work, "out")

  def generate(spark: SparkSession): Unit = {
    val st = new ReplicaState
    data.writeSide(spark, new File(in, "first").getPath, second = false, st)
    data.writeSide(spark, new File(in, "second").getPath, second = true, st)
    truth.init()
  }

  // a stateless run's summary frames are the Validator's algebra
  private def runBoth(spark: SparkSession, out: File) =
    PairJobs.runBoth(spark, PairJobs.configs(in, out, None), Summaries.core[Array[Row]] _)

  /** Each round warms up with both jobs into a throwaway directory;
    * stateless, so nothing else is set up. */
  def setup(spark: SparkSession, rep: Int): Unit = {
    val warm = new File(work, s"warm_$rep")
    runBoth(spark, warm)
    Files.deleteTree(warm)
  }

  // every op is the same job over the same inputs; three, so that the
  // median holds when a burst of load on the host stretches one op
  def cycle: Int = 3
  def prepare(spark: SparkSession, op: Int): Unit = ()
  def op(spark: SparkSession, op: Int): Any = runBoth(spark, outRoot)
  def check(spark: SparkSession, op: Int, result: Any): Seq[String] =
    PairJobs.check(truth, result)
  override def manifest: Seq[String] =
    Seq(s"""{"kind": "planted", ${PairJobs.summaryJson(truth)}}""")

  /** A kernel probe, separate from the ops: the engine's
    * `DifflibRatio.ratioGteNullSafe` on the benchmark's thread, over the
    * pair's unequal note pairs, repeated for half a second. */
  override def gauges: Map[String, Double] = {
    val pairs = (0L until data.n.toLong).iterator
      .filter(k => !data.plantedMissingInSecond(k))
      .flatMap(k => (data.firstRow(k).note, data.secondRow(k, 0).note) match {
        case (Some(a), Some(b)) if a != b => Some((a, b))
        case _ => None
      }).toArray
    var scored = 0L
    val t0 = System.nanoTime()
    while (System.nanoTime() - t0 < 500000000L) {
      pairs.foreach { case (a, b) =>
        graft.functions.DifflibRatio.ratioGteNullSafe(a, b, DiffData.noteThreshold)
      }
      scored += pairs.length
    }
    Map("functions.probe_pairs_per_s" -> scored / ((System.nanoTime() - t0) / 1e9))
  }

  def rowsPerOp: Long = truth.nFirst + truth.nSecond
  def inputBytes: Long = Files.size(in)
  override def reportDirs: Seq[File] = Seq(outRoot)
  def inputDir: File = in
  override def describe: String =
    s"rows_per_side=$n files_per_side=$files note_threshold=${DiffData.noteThreshold}"
}
