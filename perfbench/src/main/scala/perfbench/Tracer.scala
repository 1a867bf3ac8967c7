package perfbench

import java.io.{File, PrintWriter}

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.execution.ui.{SparkListenerDriverAccumUpdates, SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionStart}

/** Layers are the engine's modules, recognised by the class of a stack
  * frame. A frame of a layer class is a span of that layer. */
object Layers {
  private val byPrefix = Seq(
    "graft.sources." -> "sources",
    "graft.core.IncrementalValidation" -> "state",
    "graft.ops.IncrementalAgg" -> "state",
    "graft.core.Validator" -> "core",
    "graft.core.ValidationJob" -> "core",
    "graft.functions." -> "functions",
    "graft.report." -> "report",
    "graft.ops.CuratedFeed" -> "feed",
    "graft.ops.Curation" -> "feed",
    "graft.ops.Tokenize" -> "feed",
    "graft.ops.SequenceFeed" -> "feed",
    "perfbench.Summaries$" -> "state.summary")
  // summaries derived from stored state are their own sub-layer of state;
  // the benchmark collects a stateless run's summaries as `core`'s
  private def sub(layer: String, method: String): String =
    if (layer == "state" && method.startsWith("summary")) "state.summary"
    else if (layer == "state.summary" && method == "core") "core"
    else layer

  /** (span name, layer) of a frame, if it belongs to a layer. */
  def of(f: StackTraceElement): Option[(String, String)] = {
    val cls = f.getClassName
    byPrefix.find(p => cls.startsWith(p._1)).map { case (_, layer) =>
      val simple = cls.substring(cls.lastIndexOf('.') + 1).takeWhile(_ != '$')
      // lambdas and forwarders carry their enclosing method's name
      val m = f.getMethodName.stripPrefix("$anonfun$").takeWhile(_ != '$')
      (s"$simple.$m", sub(layer, m))
    }
  }

  /** Outermost-first layer spans on a stack, consecutive repeats merged. */
  def path(stack: Array[StackTraceElement]): Vector[(String, String)] = {
    val b = Vector.newBuilder[(String, String)]
    var last: (String, String) = null
    var i = stack.length - 1
    while (i >= 0) {
      Layers.of(stack(i)).foreach { s => if (s != last) { b += s; last = s } }
      i -= 1
    }
    b.result()
  }
}

/** Summary frames are lazy; the benchmark collects them inside a method
  * named for the layer that built them, so their jobs and time land on
  * that layer: a `state.summary` span for summaries derived from stored
  * state, a `core` span for the `Validator`'s summaries. */
object Summaries {
  def state[T](f: => T): T = f
  def core[T](f: => T): T = f
}

final case class Span(id: Int, op: Int, name: String, layer: String, parent: Int,
    start: Long, var end: Long = -1L)

/** Per-layer figures of the traced ops. */
final class LayerFigures {
  var selfNs = 0L; var jobs = 0L; var stages = 0L; var tasks = 0L
  var taskMs = 0L; var shuffleBytes = 0L; var fsOps = 0L
}

object Tracer {
  val SampleMs = 2L
  /** Executor task threads are sampled every this many op-thread samples. */
  val TaskSampleEvery = 5
}

/** The traced run: a stack sampler on the op thread turns layer frames into
  * spans (name, start, end, parent, op id); a SparkListener attributes each
  * job, its stages and their task time to the innermost span of the job's
  * call site; the counting file system's operations are attributed to the
  * innermost span at each sample. The same sampler reads the executor task
  * threads' stacks and counts the time they spend inside the engine's
  * `functions` kernels. Spans stay in memory until the run ends. */
final class Tracer(spark: SparkSession, cores: Int, w: Workload) {
  private val target = Thread.currentThread()
  private val spans = ArrayBuffer.empty[Span]
  private val open = ArrayBuffer.empty[Span]
  private val figures = mutable.LinkedHashMap.empty[String, LayerFigures]
  private def fig(layer: String) = figures.getOrElseUpdate(layer, new LayerFigures)
  @volatile private var op = -1
  @volatile private var active = false
  private var opStart = 0L
  private var opWallNs = 0L
  private val opWalls = ArrayBuffer.empty[Double]
  private val observed = mutable.LinkedHashMap.empty[String, Double]
  private val inputPath = w.inputDir.getAbsolutePath

  // listener state (listener bus thread)
  private val stageLayer = mutable.HashMap.empty[Int, String]
  private val execLayer = mutable.HashMap.empty[Long, String]
  private val scanTimeIds = mutable.HashSet.empty[Long]
  private val filesSizeIds = mutable.HashSet.empty[Long]
  private var scanMs = 0L
  private var inputBytes = 0L
  private var peakExecMem = 0L

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = locked {
      // a SQL job belongs to its query's action, whose call site the
      // execution-start event carries (adaptive query stages are submitted
      // from a pool thread); other jobs carry their own action's call site
      val exec = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.sql.execution.id"))).map(_.toLong)
      val layer = exec.flatMap(execLayer.get).getOrElse(
        layerOf(e.stageInfos.sortBy(-_.stageId).headOption.map(_.details).getOrElse("")))
      fig(layer).jobs += 1
      e.stageIds.foreach(id => stageLayer.getOrElseUpdate(id, layer))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = locked {
      val si = e.stageInfo
      val f = fig(stageLayer.getOrElse(si.stageId, "bench"))
      f.stages += 1
      f.tasks += si.numTasks
      f.taskMs += si.taskMetrics.executorRunTime
      f.shuffleBytes += si.taskMetrics.shuffleWriteMetrics.bytesWritten
      si.accumulables.values.foreach { a =>
        if (scanTimeIds(a.id)) a.value.foreach(v => scanMs += v.toString.toLong)
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = locked {
      if (e.taskMetrics != null)
        peakExecMem = math.max(peakExecMem, e.taskMetrics.peakExecutionMemory)
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart => locked {
        execLayer(s.executionId) = layerOf(s.details)
        plan(s.sparkPlanInfo)
      }
      case u: SparkListenerSQLAdaptiveExecutionUpdate => locked(plan(u.sparkPlanInfo))
      case d: SparkListenerDriverAccumUpdates => locked {
        d.accumUpdates.foreach { case (id, v) => if (filesSizeIds(id)) inputBytes += v }
      }
      case _ =>
    }
  }
  private def locked(body: => Unit): Unit = synchronized { if (active) body }
  spark.sparkContext.addSparkListener(listener)

  /** Remember the metric ids of every scan of the workload's inputs. */
  private def plan(p: SparkPlanInfo): Unit = {
    if (p.nodeName.startsWith("Scan") &&
        p.metadata.get("Location").exists(_.contains(inputPath))) {
      p.metrics.foreach { m =>
        if (m.name == "scan time") scanTimeIds += m.accumulatorId
        if (m.name == "size of files read") filesSizeIds += m.accumulatorId
      }
    }
    p.children.foreach(plan)
  }

  private def layerOf(details: String): String =
    Layers.path(callSite(details)).lastOption.map(_._2).getOrElse("bench")

  private def callSite(details: String): Array[StackTraceElement] =
    details.split("\n").flatMap { line =>
      // "graft.report.ReportWriter$.writeTidy(ReportWriter.scala:25)"
      val l = line.trim
      val paren = l.indexOf('(')
      val dot = if (paren > 0) l.lastIndexOf('.', paren) else -1
      if (dot <= 0) None
      else Some(new StackTraceElement(l.substring(0, dot), l.substring(dot + 1, paren), null, -1))
    }

  // task-thread time inside `graft.functions` (sampler thread only)
  @volatile private var kernelNs = 0L

  /** Sample the executor task threads once; `dt` is the time since the
    * last task sample, credited to each thread found inside a kernel. */
  private def sampleTasks(threads: Seq[Thread], dt: Long): Unit =
    threads.foreach { t =>
      if (t.getStackTrace.exists(_.getClassName.startsWith("graft.functions."))) kernelNs += dt
    }

  private def taskThreads(): Seq[Thread] = {
    import scala.jdk.CollectionConverters._
    Thread.getAllStackTraces.keySet.asScala.toSeq
      .filter(_.getName.startsWith("Executor task launch worker"))
  }

  @volatile private var running = true
  private val sampler = new Thread("perfbench-sampler") {
    setDaemon(true)
    override def run(): Unit = {
      var lastNs = 0L; var lastFs = 0L; var lastLayer = "bench"
      var tick = 0L; var lastTaskNs = 0L; var threads = Seq.empty[Thread]
      while (running) {
        if (active) {
          val now = System.nanoTime()
          if (tick % (20 * Tracer.TaskSampleEvery) == 0) threads = taskThreads()
          if (tick % Tracer.TaskSampleEvery == 0) {
            if (lastTaskNs > 0) sampleTasks(threads, now - lastTaskNs)
            lastTaskNs = now
          }
          tick += 1
          val path = Layers.path(target.getStackTrace)
          val fsNow = CountingFileSystem.ops.get()
          Tracer.this.synchronized {
            if (active) {
              if (lastNs > 0) {
                fig(lastLayer).selfNs += now - lastNs
                fig(lastLayer).fsOps += fsNow - lastFs
              }
              advance(path, now)
              lastLayer = open.lastOption.map(_.layer).getOrElse("bench")
              lastNs = now; lastFs = fsNow
            } else lastNs = 0L
          }
        } else { lastNs = 0L; lastTaskNs = 0L; tick = 0L }
        Thread.sleep(Tracer.SampleMs)
      }
    }
  }
  sampler.start()

  /** Close the spans the stack left, open the ones it entered. */
  private def advance(path: Vector[(String, String)], now: Long): Unit = {
    var common = 0
    while (common < open.size && common < path.size &&
        open(common).name == path(common)._1) common += 1
    open.drop(common).foreach(_.end = now)
    open.remove(common, open.size - common)
    path.drop(common).foreach { case (name, layer) =>
      val s = Span(spans.size, op, name, layer, open.lastOption.map(_.id).getOrElse(-1), now)
      spans += s
      open += s
    }
  }

  def begin(i: Int): Unit = synchronized {
    op = i
    opStart = System.nanoTime()
    active = true
  }

  def end(): Unit = {
    val now = System.nanoTime()
    org.apache.spark.perfbench.ListenerBusAccess.drain(spark.sparkContext)
    synchronized {
      active = false
      advance(Vector.empty, now)
      opWallNs += now - opStart
      opWalls += (now - opStart) / 1e9
    }
  }

  private var gauges = Map.empty[String, Double]

  /** Workload observations after a traced op's check; after the last
    * traced op, the sizes of everything the workload stores. */
  def afterCheck(i: Int, last: Boolean): Unit = {
    w.observe(spark, i).foreach { case (k, v) => observed(k) = observed.getOrElse(k, 0.0) + v }
    if (last) {
      def sized(key: String, dirs: Seq[File]) = Seq(
        s"$key.files" -> dirs.map(Files.count).sum.toDouble,
        s"$key.mb" -> dirs.map(Files.size).sum / 1048576.0)
      gauges = (sized("state", w.stateDirs) ++ sized("report", w.reportDirs) ++
        sized("feed.store", w.feedDir.toSeq)).toMap ++ w.gauges
    }
  }

  def metrics(untracedP50: Double): Seq[(String, Double, String)] = {
    val n = opWalls.size.toDouble
    def per(x: Double) = x / n
    def f(l: String) = figures.getOrElse(l, new LayerFigures)
    def selfS(l: String) = per(f(l).selfNs / 1e9)
    def obs(k: String) = observed.getOrElse(k, 0.0)
    val all = figures.values
    val taskMs = all.map(_.taskMs).sum
    val sizes = gauges
    val mb = 1048576.0
    Seq(
      ("sources.scan_s", per(scanMs / 1000.0), "s"),
      ("sources.input_mb", per(inputBytes / mb), "MB"),
      ("core.validate_s", selfS("core"), "s"),
      ("core.shuffle_mb", per(f("core").shuffleBytes / mb), "MB"),
      ("core.jobs", per(f("core").jobs), "count"),
      ("functions.fuzzy_s", per(kernelNs / 1e9), "s"),
      ("functions.probe_pairs_per_s", sizes.getOrElse("functions.probe_pairs_per_s", 0.0), "1/s"),
      ("state.maintain_s", selfS("state"), "s"),
      ("state.summary_s", selfS("state.summary"), "s"),
      ("state.jobs", per(f("state").jobs + f("state.summary").jobs), "count"),
      ("state.dirty_buckets", per(obs("dirty_buckets")), "count"),
      ("state.clean_frac",
        if (obs("total_buckets") > 0) obs("clean_buckets") / obs("total_buckets") else 0.0, "ratio"),
      ("state.rebuild_frac",
        if (obs("surface_runs") > 0) obs("rebuilds") / obs("surface_runs") else 0.0, "ratio"),
      ("state.fs_ops", per(f("state").fsOps + f("state.summary").fsOps), "count"),
      ("state.files", sizes.getOrElse("state.files", 0.0), "count"),
      ("state.mb", sizes.getOrElse("state.mb", 0.0), "MB"),
      ("report.write_s", selfS("report"), "s"),
      ("report.files", sizes.getOrElse("report.files", 0.0), "count"),
      ("report.mb", sizes.getOrElse("report.mb", 0.0), "MB"),
      ("feed.append_s", selfS("feed"), "s"),
      ("feed.jobs", per(f("feed").jobs), "count"),
      ("feed.novel_frac", sizes.getOrElse("feed.novel_frac", 0.0), "ratio"),
      ("feed.compact_frac", sizes.getOrElse("feed.compact_frac", 0.0), "ratio"),
      ("feed.store_files", sizes.getOrElse("feed.store.files", 0.0), "count"),
      ("feed.store_mb", sizes.getOrElse("feed.store.mb", 0.0), "MB"),
      ("feed.read_s", per(obs("read_s")), "s"),
      ("spark.jobs", per(all.map(_.jobs).sum), "count"),
      ("spark.stages", per(all.map(_.stages).sum), "count"),
      ("spark.tasks", per(all.map(_.tasks).sum), "count"),
      ("spark.task_s", per(taskMs / 1000.0), "s"),
      ("spark.slot_busy_frac", taskMs / 1000.0 / (opWallNs / 1e9 * cores), "ratio"),
      ("spark.peak_exec_mem_mb", peakExecMem / mb, "MB"),
      ("trace.overhead_frac", Stats.median(opWalls.toSeq) / untracedP50 - 1, "ratio"))
  }

  /** Stop sampling and listening. */
  def close(): Unit = {
    running = false
    sampler.join()
    spark.sparkContext.removeSparkListener(listener)
  }

  def writeSpans(f: File): Unit = {
    f.getParentFile.mkdirs()
    val out = new PrintWriter(f)
    try spans.foreach { s =>
      out.println(s"""{"id": ${s.id}, "op": ${s.op}, "name": "${s.name}", """ +
        s""""layer": "${s.layer}", "parent": ${s.parent}, "start_ns": ${s.start}, """ +
        s""""end_ns": ${s.end}}""")
    } finally out.close()
  }
}
