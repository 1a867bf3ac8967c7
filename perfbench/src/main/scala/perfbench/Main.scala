package perfbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** One benchmark workload: inputs, set-up, and a closed loop of ops. */
trait Workload {
  def name: String
  /** Write the seeded inputs (before set-up, not timed). */
  def generate(spark: SparkSession): Unit
  /** Warm up and build any stored state; called once per set-up round. */
  def setup(spark: SparkSession, rep: Int): Unit
  /** Untimed work before op `op` (the next day's churn, the next batch). */
  def prepare(spark: SparkSession, op: Int): Unit
  /** The timed operation. */
  def op(spark: SparkSession, op: Int): Any
  /** Mismatches between the op's output and the planted truth. */
  def check(spark: SparkSession, op: Int, result: Any): Seq[String]
  /** Input rows one op processes. */
  def rowsPerOp: Long
  def inputBytes: Long
  def inputDir: File
  /** Where the workload's stored state, reports and feed stores live. */
  def stateDirs: Seq[File] = Nil
  def reportDirs: Seq[File] = Nil
  def feedDir: Option[File] = None
  def describe: String = ""
  /** Ops in one cycle of the workload's traffic: the fewest ops a run
    * makes. A traced run traces one cycle, then runs one untraced. */
  def cycle: Int
  /** Traced runs: record what the next op starts from. */
  def snapshot(spark: SparkSession): Unit = ()
  /** Traced runs: per-op observations, summed over the traced ops. */
  def observe(spark: SparkSession, op: Int): Map[String, Double] = Map.empty
  /** Traced runs: values that describe the whole run so far. */
  def gauges: Map[String, Double] = Map.empty
  /** The planted truth, one JSON object per day or batch. */
  def manifest: Seq[String] = Nil
}

object Files {
  def walk(f: File): Iterator[File] =
    if (f.isDirectory) Option(f.listFiles()).iterator.flatten.flatMap(walk)
    else if (f.isFile) Iterator(f) else Iterator.empty
  def size(f: File): Long = walk(f).map(_.length).sum
  def count(f: File): Long = walk(f).size.toLong
  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
}

object Main {
  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
      root: File, work: File, cores: Int)

  private def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toInt, m("trace") == "1",
      new File(m("root")).getAbsoluteFile, new File(m("work")).getAbsoluteFile,
      m("cores").toInt)
  }

  // run-to-run sizes; a later change to them is a change of the benchmark
  private def workload(a: Args): Workload = a.workload match {
    case "full_diff" => new FullDiffWorkload(a.seed, 10000, a.work)
    case "daily_revalidate" => new DailyWorkload(a.seed, 10000, a.work)
    case "curated_feed" => new FeedWorkload(a.seed, 1000, a.root, a.work)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  private def session(a: Args): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[${a.cores}]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", a.cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(a.work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(a.work, "warehouse").getPath)
    // traced runs count file-system operations from the first session on
    val s = (if (a.trace) b.config("spark.hadoop.fs.file.impl", classOf[CountingFileSystem].getName)
      else b).getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** A run whose host lost more than this share of its CPU time to other
    * tenants is stamped `contended`: its times are not comparable with an
    * uncontended run's. */
  val ContendedSteal = 0.05

  private def loadavg(): Double =
    try scala.io.Source.fromFile("/proc/loadavg").mkString.split(" ")(0).toDouble
    catch { case NonFatal(_) => -1.0 }

  /** (steal, total) CPU ticks of the whole host so far: on a virtual
    * machine, steal is time the hypervisor ran someone else. */
  private def cpuTicks(): (Long, Long) =
    try {
      val f = scala.io.Source.fromFile("/proc/stat").getLines().next()
        .split("\\s+").drop(1).map(_.toLong)
      (if (f.length > 7) f(7) else 0L, f.sum)
    } catch { case NonFatal(_) => (0L, 0L) }

  /** Used heap after a full GC. Spark's cleaner drops shuffle and
    * broadcast state only once a GC has cleared their references, so
    * collect, let it run, and collect again. */
  private def usedHeapMb(): Double = {
    System.gc()
    Thread.sleep(200)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  private val t0 = System.nanoTime()
  /** Progress on stderr, so stdout holds only the result. */
  def log(msg: String): Unit =
    System.err.println(f"perfbench ${(System.nanoTime() - t0) / 1e9}%8.2fs $msg")

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    a.work.mkdirs()
    val loadStart = loadavg()
    val ticksStart = cpuTicks()
    val w = workload(a)
    var spark = session(a)
    val genStart = System.nanoTime()
    w.generate(spark)
    val genS = (System.nanoTime() - genStart) / 1e9
    log(s"inputs generated in $genS s")

    // set-up: session start, warm-up and state build, three times over;
    // the last round's session and state serve the timed ops
    val setupS = (0 until 3).map { rep =>
      val t0 = System.nanoTime()
      spark.stop()
      spark = session(a)
      w.setup(spark, rep)
      val dt = (System.nanoTime() - t0) / 1e9
      log(s"set-up round $rep took $dt s")
      dt
    }

    val tracer = if (a.trace) Some(new Tracer(spark, a.cores, w)) else None
    val minOps = if (a.trace) 2 * w.cycle else w.cycle
    val opS = ArrayBuffer.empty[Double]
    val untracedS = ArrayBuffer.empty[Double]
    val errors = ArrayBuffer.empty[String]
    var failed = 0
    var rows = 0L
    var peakHeap = usedHeapMb()
    val loopStart = System.nanoTime()
    var i = 0
    while (i < minOps || (System.nanoTime() - loopStart) / 1e9 < a.seconds) {
      val traced = tracer.isDefined && i < w.cycle
      var problems: Seq[String] = Nil
      try {
        w.prepare(spark, i)
        if (traced) { w.snapshot(spark); tracer.get.begin(i) }
        val t0 = System.nanoTime()
        var dt = 0.0
        val result = try w.op(spark, i) finally {
          dt = (System.nanoTime() - t0) / 1e9
          if (traced) tracer.get.end()
        }
        opS += dt
        if (!traced) untracedS += dt
        log(s"op $i took $dt s (codegen compiles so far: " +
          s"${org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount})")
        rows += w.rowsPerOp
        peakHeap = math.max(peakHeap, usedHeapMb())
        problems = w.check(spark, i, result)
        if (traced) tracer.get.afterCheck(i, last = i == w.cycle - 1)
      } catch {
        case NonFatal(e) => problems = Seq(s"op threw ${e.getClass.getName}: ${e.getMessage}")
      }
      if (problems.nonEmpty) {
        failed += 1
        problems.foreach(p => errors += s"op $i: $p")
      }
      i += 1
    }
    val attempted = i
    val stored = (w.stateDirs ++ w.reportDirs ++ w.feedDir).map(Files.size).sum.toDouble
    val inputBytes = w.inputBytes
    val sparkVersion = spark.version
    val metrics: Seq[(String, Double, String)] =
      if (!a.trace) Seq(
        ("setup_s", Stats.median(setupS), "s"),
        ("op_p50_s", Stats.median(opS.toSeq), "s"),
        ("rows_per_s", rows / opS.sum, "1/s"),
        ("stored_bytes_per_input_byte", stored / inputBytes, "ratio"),
        ("peak_heap_mb", peakHeap, "MB"))
      else tracer.get.metrics(Stats.median(untracedS.toSeq))
    tracer.foreach { t =>
      t.close()
      t.writeSpans(new File(a.root, s".bench_out/spans_${w.name}_${a.seed}.jsonl"))
    }
    spark.stop()

    val stealFrac = {
      val (steal, total) = cpuTicks()
      (steal - ticksStart._1).toDouble / math.max(1L, total - ticksStart._2)
    }
    w.manifest.foreach(m => println(s"# manifest $m"))
    errors.foreach(e => println(s"# MISMATCH $e"))
    val env = Seq(
      "workload" -> s"\"${w.name}\"", "seed" -> a.seed.toString,
      "trace" -> (if (a.trace) "1" else "0"), "cores" -> a.cores.toString,
      "loadavg_start" -> loadStart.toString, "loadavg_end" -> loadavg().toString,
      "steal_frac" -> f"$stealFrac%.4f",
      "contended" -> (stealFrac > ContendedSteal).toString,
      "spark" -> s"\"$sparkVersion\"",
      "jdk" -> s"\"${System.getProperty("java.version")}\"",
      "input_bytes" -> inputBytes.toString, "rows_per_op" -> w.rowsPerOp.toString,
      "shape" -> s"\"${w.describe}\"", "gen_s" -> f"$genS%.3f",
      "setup_runs_s" -> setupS.map(x => f"$x%.3f").mkString("[", ",", "]"),
      "ops" -> opS.size.toString,
      "op_s" -> opS.map(x => f"$x%.3f").mkString("[", ",", "]"),
      "error_rate" -> (failed.toDouble / attempted).toString)
    println("# env " + env.map { case (k, v) => s"\"$k\": $v" }.mkString("{", ", ", "}"))
    metrics.foreach { case (n, v, u) => println(f"# $n%-32s $v%14.6f $u") }
    println(f"# error_rate ${failed.toDouble / attempted}%.4f ($failed of $attempted ops)")
    val ms = metrics.map { case (n, v, u) =>
      s""""$n": {"value": ${if (v.isNaN || v.isInfinite) "0" else v.toString}, "unit": "$u"}"""
    }
    println(s"""{"correct": ${failed == 0}, "attempted": $attempted, "failed": $failed, """ +
      s""""metrics": ${ms.mkString("{", ", ", "}")}}""")
  }
}
