package perfbench

import java.io.File

import org.apache.spark.sql.{Row, SparkSession}

import graft.config.{CheckSpec, SourceSpec, ValidationConfig}
import graft.core.ValidationJob

/** Planted truth of a source/replica pair: per-id differences, and the
  * summary counts every validation of the pair must report. */
final class DiffTruth(data: DiffData, st: ReplicaState) {
  // per-id bits: 1 in replica, 2 in both tables, 4 amount differs,
  // 8 event_date differs, 16 note differs
  private val dense = new Array[Byte](data.n + data.nExtra)
  private val inserted = scala.collection.mutable.HashMap.empty[Long, Int]
  // ids in replica, ids in both, then differing ids per check column
  private val counts = new Array[Long](5)

  def init(): Unit = {
    java.util.stream.IntStream.range(0, dense.length).parallel()
      .forEach(i => dense(i) = flagsOf(i.toLong).toByte)
    dense.foreach(f => add(f, +1))
  }

  private def flagsOf(k: Long): Int = {
    val inSecond = !st.deleted(k) &&
      (if (k < data.n) !data.plantedMissingInSecond(k)
       else k < dense.length || st.inserted(k))
    if (!inSecond) 0
    else if (!data.inFirst(k)) 1
    else {
      val a = data.firstRow(k)
      val b = data.secondRow(k, st.versions.getOrElse(k, 0))
      val noteDiffers = (a.note, b.note) match {
        case (None, None) => false
        case (Some(x), Some(y)) => x != y && Difflib.ratio(x, y) < DiffData.noteThreshold
        case _ => true
      }
      3 | (if (a.amountCents != b.amountCents) 4 else 0) |
        (if (a.day != b.day) 8 else 0) | (if (noteDiffers) 16 else 0)
    }
  }

  private def add(f: Int, sign: Int): Unit =
    for (bit <- 0 until 5 if (f & (1 << bit)) != 0) counts(bit) += sign

  /** Recompute one id after the replica changed. */
  def set(k: Long): Unit = {
    add(if (k < dense.length) dense(k.toInt) else inserted.getOrElse(k, 0), -1)
    val f = flagsOf(k)
    add(f, +1)
    if (k < dense.length) dense(k.toInt) = f.toByte else inserted(k) = f
  }

  def nFirst: Long = data.n
  def nSecond: Long = counts(0)

  /** (n_first, n_second, missing_in_first, missing_in_second,
    * n_differing, n_matched) of one check column. */
  def summary(col: String): Seq[Long] = {
    val both = counts(1)
    val differing = counts(Seq("amount", "event_date", "note").indexOf(col) + 2)
    Seq(nFirst, nSecond, nSecond - both, nFirst - both, differing, both)
  }
}

/** The two jobs both diff workloads run on a pair, and the check of
  * their summaries against the planted truth. */
object PairJobs {
  /** One numeric check, and a numeric, a date and a fuzzy string check in
    * one pass; config defaults otherwise. */
  def configs(in: File, outRoot: File, stateRoot: Option[File])
      : (ValidationConfig, ValidationConfig) = {
    def spec(side: String) = SourceSpec("parquet", path = Some(new File(in, side).getPath))
    val single = ValidationConfig(spec("first"), spec("second"), "src", "rep",
      Seq("region", "acct"), "amount", "numeric",
      outputDirectory = new File(outRoot, "single").getPath,
      incremental = stateRoot.isDefined,
      stateDirectory = stateRoot.map(r => new File(r, "single").getPath))
    val multi = single.copy(
      outputDirectory = new File(outRoot, "multi").getPath,
      stateDirectory = stateRoot.map(r => new File(r, "multi").getPath),
      checkColumns = Seq(CheckSpec("amount", "numeric"),
        CheckSpec("event_date", "date"),
        CheckSpec("note", "string", DiffData.noteThreshold)))
    (single, multi)
  }

  /** Run both jobs with their reports and collect both summaries;
    * `collect` names the layer that built the summary frames. */
  def runBoth(spark: SparkSession, cfgs: (ValidationConfig, ValidationConfig),
      collect: (=> Array[Row]) => Array[Row]): (Array[Row], Array[Row]) = {
    val (single, multi) = cfgs
    val (_, s1) = ValidationJob.run(spark, single)
    val r1 = collect(s1.collect())
    val (s2, _) = ValidationJob.runMulti(spark, multi)
    (r1, collect(s2.collect()))
  }

  // the planted truth: row and missing counts, and the differing ids of
  // each check column (one-null cells differ, both-null cells do not)
  def summaryJson(truth: DiffTruth): String = {
    val Seq(nf, ns, mif, mis, _, _) = truth.summary("amount")
    s""""n_first": $nf, "n_second": $ns, "missing_in_first": $mif, """ +
      s""""missing_in_second": $mis, "differing": {""" +
      Seq("amount", "event_date", "note").map(c => s""""$c": ${truth.summary(c)(4)}""")
        .mkString(", ") + "}"
  }

  def check(truth: DiffTruth, result: Any): Seq[String] = {
    val (single, multi) = result.asInstanceOf[(Array[Row], Array[Row])]
    val names = Seq("n_first", "n_second", "missing_in_first", "missing_in_second",
      "n_differing", "n_matched")
    def cmp(label: String, row: Row, col: String): Seq[String] =
      names.flatMap { c =>
        val got = row.getAs[Long](c)
        val want = truth.summary(col)(names.indexOf(c))
        if (got == want) None else Some(s"$label.$c: got $got, planted $want")
      }
    val one = if (single.length != 1) Seq(s"run: ${single.length} summary rows")
      else cmp("run.amount", single.head, "amount")
    val cols = Seq("amount", "event_date", "note")
    val many = if (multi.length != cols.size) Seq(s"runMulti: ${multi.length} summary rows")
      else cols.flatMap { c =>
        multi.find(_.getAs[String]("column_name") == c) match {
          case Some(r) => cmp(s"runMulti.$c", r, c)
          case None => Seq(s"runMulti: no summary row for $c")
        }
      }
    one ++ many
  }
}

/** `daily_revalidate`: a source/replica pair re-validated every day with
  * `incremental: true`. Set-up builds the stored state; each op applies
  * the next day's churn to the replica (written before the op is timed)
  * and re-runs both jobs with their reports. */
final class DailyWorkload(seed: Long, n: Int, work: File) extends Workload {
  val name = "daily_revalidate"
  private val files = 16
  private val data = new DiffData(seed, n, files)
  private val st = new ReplicaState
  private val truth = new DiffTruth(data, st)
  private val in = new File(work, "in")
  private var stateRoot = new File(work, "state")
  private var outRoot = new File(work, "out")
  private var lastInsert = data.n.toLong + data.nExtra

  def generate(spark: SparkSession): Unit = {
    data.writeSide(spark, new File(in, "first").getPath, second = false, st)
    data.writeSide(spark, new File(in, "second").getPath, second = true, st)
    truth.init()
    planted += s"""{"day": 0, "kind": "planted", ${PairJobs.summaryJson(truth)}}"""
  }

  // summaries of an incremental run derive from the stored state
  private def runBoth(spark: SparkSession) =
    PairJobs.runBoth(spark, PairJobs.configs(in, outRoot, Some(stateRoot)),
      Summaries.state[Array[Row]] _)

  /** Each round builds the stored state from the full pair into empty
    * state and report directories, which also warms the job up. */
  def setup(spark: SparkSession, rep: Int): Unit = {
    Files.deleteTree(stateRoot); Files.deleteTree(outRoot)
    stateRoot = new File(work, s"state_$rep"); outRoot = new File(work, s"out_$rep")
    runBoth(spark)
  }

  // The daily traffic is an assumption, not a measured trace: a
  // three-day cycle of small churn inside one recent id range (40
  // updates, 2 deletes, 2 inserts: few enough ids to take the surgery
  // path), a day with no change, and a bulk day updating 1% of all rows
  // (enough to rebuild). The seed picks the ids.
  private val days = Seq("small", "none", "bulk")
  def cycle: Int = days.size
  def dayKind(op: Int): String = days(op % days.size)

  def prepare(spark: SparkSession, op: Int): Unit = {
    val day = op + 1L
    val touched = scala.collection.mutable.LinkedHashSet.empty[Long]
    def present(k: Long) =
      !st.deleted(k) && (k >= data.n || !data.plantedMissingInSecond(k))
    def update(k: Long): Unit = if (present(k)) {
      st.versions(k) = st.versions.getOrElse(k, 0) + 1; touched += k
    }
    dayKind(op) match {
      case "none" =>
      case "small" =>
        val f = Rng.below(seed, day, 200, files)
        val ids = data.baseIds(f).filter(_ < data.n).toIndexedSeq
        for (j <- 0 until 40) update(ids(Rng.below(seed, day, 300 + j, ids.size)))
        for (j <- 0 until 2) {
          val k = ids(Rng.below(seed, day, 400 + j, ids.size))
          if (present(k)) { st.deleted += k; touched += k }
        }
        for (_ <- 0 until 2) {
          while (java.lang.Math.floorMod(lastInsert - data.n, files.toLong) != f) lastInsert += 1
          st.inserted += lastInsert; touched += lastInsert; lastInsert += 1
        }
      case "bulk" =>
        for (j <- 0 until data.n / 100) update(Rng.below(seed, day, 500 + j, data.n).toLong)
    }
    touched.foreach(truth.set)
    planted += s"""{"day": $day, "kind": "${dayKind(op)}", "ids_touched": ${touched.size}, """ +
      s"""${PairJobs.summaryJson(truth)}}"""
    if (touched.nonEmpty)
      data.writeSide(spark, new File(in, "second").getPath, second = true, st,
        only = Some(touched.map(data.fileOf).toSet))
  }

  def op(spark: SparkSession, op: Int): Any = runBoth(spark)

  private val planted = scala.collection.mutable.ArrayBuffer.empty[String]
  override def manifest: Seq[String] = planted.toSeq

  def check(spark: SparkSession, op: Int, result: Any): Seq[String] =
    PairJobs.check(truth, result)

  // traced runs: the stored report surfaces' digest witnesses before the op
  // (bucket -> digest row) and whether the last write rebuilt the store
  private var witnesses = Map.empty[File, (Map[Any, String], Long)]

  private def surfaces: Seq[File] =
    Files.walk(stateRoot).map(_.getParentFile)
      .filter(_.getName == "report_digests").map(_.getParentFile).toSeq.distinct

  private def witness(spark: SparkSession, surface: File): (Map[Any, String], Long) = {
    val rows = spark.read.parquet(new File(surface, "report_digests").getPath).collect()
    // a rebuild rewrites the whole report store, and with it its marker
    val marker = new File(surface, "report/_SUCCESS")
    (rows.map(r => r.get(r.fieldIndex("bucket")) -> r.toString).toMap,
      if (marker.exists) marker.lastModified else -1L)
  }

  override def snapshot(spark: SparkSession): Unit =
    witnesses = surfaces.map(s => s -> witness(spark, s)).toMap

  /** Per stored surface: the buckets whose digest the op changed, whether
    * it rebuilt the store, and the buckets it kept. */
  override def observe(spark: SparkSession, op: Int): Map[String, Double] =
    surfaces.map { s =>
      val (after, mark) = witness(spark, s)
      val (before, mark0) = witnesses.getOrElse(s, (Map.empty[Any, String], -2L))
      val rebuilt = mark != mark0
      val dirty = (after.keySet ++ before.keySet).count(b => after.get(b) != before.get(b))
      Map("surface_runs" -> 1.0, "rebuilds" -> (if (rebuilt) 1.0 else 0.0),
        "dirty_buckets" -> (if (rebuilt) after.size else dirty).toDouble,
        "total_buckets" -> after.size.toDouble,
        "clean_buckets" -> (if (rebuilt) 0 else after.size - dirty).toDouble)
    }.foldLeft(Map.empty[String, Double]) { (acc, m) =>
      m.foldLeft(acc) { case (a, (k, v)) => a.updated(k, a.getOrElse(k, 0.0) + v) }
    }

  def rowsPerOp: Long = truth.nFirst + truth.nSecond
  def inputBytes: Long = Files.size(in)
  override def stateDirs: Seq[File] = Seq(stateRoot)
  override def reportDirs: Seq[File] = Seq(outRoot)
  def inputDir: File = in
  override def describe: String =
    s"rows_per_side=$n files_per_side=$files note_threshold=${DiffData.noteThreshold}"
}
