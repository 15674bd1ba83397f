package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.streaming.StreamingQueryListener

/** The traced run's recorder, built only from the benchmark's side:
  *  - spans around the benchmark's own calls into graft's public API;
  *  - a SparkListener for job/stage task metrics;
  *  - SQL execution starts (through `onOtherEvent`) whose call-site
  *    `details` name the graft frames that issued each execution;
  *  - a StreamingQueryListener for micro-batch durations.
  *
  * Stages are attributed to a graft module through the chain of
  * `graft.` frames in their execution's call site — rolled up by the
  * innermost and by the outermost frame. A streaming query pins every
  * job's call site to where the query was started, so for stages whose
  * call site holds no graft frame the chain is taken from the stream
  * execution thread's own stack, sampled every few milliseconds while
  * the stage ran. Failing both, a stage falls back to the span the
  * benchmark had open when it was submitted (a job-local property).
  */
final class Trace(spark: SparkSession, val cores: Int) extends SparkListener {
  import Trace._

  @volatile private var recording = true
  def stopRecording(): Unit = recording = false

  // --- spans -------------------------------------------------------------
  private val spans = new ConcurrentLinkedQueue[SpanRec]()
  private val open = new ThreadLocal[List[Array[Double]]] { override def initialValue() = Nil }

  /** Time `body` as span `layer/name`; the span also tags every job
    * submitted meanwhile from this thread, and reports self time (its
    * wall minus the walls of spans opened inside it).
    */
  def span[A](layer: String, name: String)(body: => A): A = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty(SpanProp)
    sc.setLocalProperty(SpanProp, layer)
    val childWall = Array(0.0)
    open.set(childWall :: open.get)
    val t0 = Proc.now
    try body finally {
      val wall = Proc.now - t0
      open.set(open.get.tail)
      open.get.headOption.foreach(a => a(0) += wall)
      sc.setLocalProperty(SpanProp, prev)
      if (recording) spans.add(SpanRec(layer, name, wall, wall - childWall(0)))
    }
  }

  // --- Spark events -------------------------------------------------------
  private val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageTags = new ConcurrentHashMap[(Int, Int), (Option[Long], String)]()
  private val stages = new ConcurrentLinkedQueue[StageRec]()
  private val execDetails = new ConcurrentHashMap[Long, Seq[String]]()
  val batches = new ConcurrentLinkedQueue[Map[String, Double]]()

  private def execId(p: java.util.Properties): Option[Long] =
    Option(p).flatMap(pp => Option(pp.getProperty("spark.sql.execution.id"))).map(_.toLong)
  private def spanOf(p: java.util.Properties): String =
    Option(p).flatMap(pp => Option(pp.getProperty(SpanProp))).getOrElse("")

  private val stageJob = new ConcurrentHashMap[Int, Int]()

  override def onJobStart(e: SparkListenerJobStart): Unit = if (recording) {
    jobs.put(e.jobId, JobRec(e.jobId, e.time, -1L))
    e.stageIds.foreach(id => stageJob.putIfAbsent(id, e.jobId))
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(j => jobs.put(e.jobId, j.copy(end = e.time)))
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    stageTags.put((e.stageInfo.stageId, e.stageInfo.attemptNumber()),
      (execId(e.properties), spanOf(e.properties)))
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = if (recording) {
    val i = e.stageInfo
    val (ex, sp) = Option(stageTags.get((i.stageId, i.attemptNumber()))).getOrElse((None, ""))
    val m = i.taskMetrics
    if (m != null) stages.add(StageRec(i.stageId, ex, sp, i.numTasks, i.submissionTime.getOrElse(0L),
      m.executorRunTime / 1e3, m.executorCpuTime / 1e9,
      m.shuffleWriteMetrics.bytesWritten, m.memoryBytesSpilled + m.diskBytesSpilled,
      m.inputMetrics.bytesRead, m.inputMetrics.recordsRead, m.outputMetrics.bytesWritten,
      i.completionTime.getOrElse(0L)))
  }
  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      execDetails.put(s.executionId, graftFrames(s.details))
    case _ =>
  }

  private[perfbench] val streamListener = new StreamingQueryListener {
    def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      if (recording && e.progress.numInputRows > 0)
        batches.add(e.progress.durationMs.asScala.map { case (k, v) => k -> v.toDouble / 1e3 }.toMap)
  }

  // --- stream thread sampling ----------------------------------------------
  private val samples = new ConcurrentLinkedQueue[(Long, Seq[String])]()
  private val sampler = new Thread(() => {
    var streams = Seq.empty[Thread]
    var n = 0
    while (recording) {
      if (n % 100 == 0) streams = Thread.getAllStackTraces.keySet.asScala.toSeq
        .filter(_.getName.startsWith("stream execution thread"))
      n += 1
      streams.foreach { th =>
        val c = th.getStackTrace.toSeq.map(_.getClassName).filter(_.startsWith("graft."))
        if (c.nonEmpty) samples.add((System.currentTimeMillis(), c))
      }
      Thread.sleep(SampleMs)
    }
  }, "perfbench-stream-sampler")
  sampler.setDaemon(true)
  sampler.start()

  private lazy val sampleSeq: Array[(Long, Seq[String])] =
    samples.asScala.toArray.sortBy(_._1)

  /** The most frequent sampled stream-thread chain while a stage ran. */
  private def sampledChain(s: StageRec): Seq[String] = {
    val in = sampleSeq.filter { case (t, _) => t >= s.submitted - SampleMs && t <= s.done }
    if (in.isEmpty) Nil else in.groupBy(_._2).maxBy(_._2.length)._1
  }

  // --- rollups ------------------------------------------------------------
  /** The graft frame chain (innermost first) a stage was issued from. */
  def chainOf(s: StageRec): Seq[String] =
    s.exec.flatMap(id => Option(execDetails.get(id))).filter(_.nonEmpty).getOrElse(sampledChain(s))

  /** Module of a stage by its innermost (or outermost) graft frame,
    * else by the benchmark span that was open, else "unattributed".
    */
  def moduleOf(s: StageRec, innermost: Boolean): String = {
    val c = chainOf(s)
    if (c.nonEmpty) moduleName(if (innermost) c.head else c.last)
    else if (s.span.nonEmpty) s.span
    else "unattributed"
  }

  def allStages: Seq[StageRec] = stages.asScala.toSeq

  /** The job a stage ran for (the earliest job listing it). */
  def jobOfStage(s: StageRec): Option[Int] = Option(stageJob.get(s.id))
  def allJobs: Seq[JobRec] = jobs.asScala.values.toSeq.sortBy(_.start)

  /** Jobs whose start falls in [t0, t1] (epoch ms). */
  def jobsIn(t0: Long, t1: Long): Seq[JobRec] = allJobs.filter(j => j.start >= t0 && j.start <= t1)
  def stagesIn(t0: Long, t1: Long): Seq[StageRec] =
    allStages.filter(s => s.done >= t0 && s.done <= t1)

  /** Wall (s) covered by the union of the given jobs' intervals, clipped to [t0, t1]. */
  def coveredS(js: Seq[JobRec], t0: Long, t1: Long): Double = {
    val iv = js.map(j => (math.max(j.start, t0), math.min(if (j.end < 0) t1 else j.end, t1)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var (total, curS, curE) = (0L, -1L, -1L)
    iv.foreach { case (a, b) =>
      if (a > curE) { if (curE > curS) total += curE - curS; curS = a; curE = b }
      else curE = math.max(curE, b)
    }
    if (curE > curS) total += curE - curS
    total / 1e3
  }

  def spanRollup: Seq[Map[String, Any]] =
    spans.asScala.toSeq.groupBy(s => (s.layer, s.name)).toSeq.sortBy(_._1).map { case ((l, n), ss) =>
      Map[String, Any]("kind" -> "span", "layer" -> l, "name" -> n, "count" -> ss.size,
        "total_s" -> ss.map(_.wall).sum, "self_s" -> ss.map(_.self).sum,
        "median_s" -> Stats.median(ss.map(_.wall)))
    }

  def moduleRollup(innermost: Boolean): Seq[Map[String, Any]] = {
    val by = allStages.groupBy(s => moduleOf(s, innermost))
    val jobsBy = allStages.groupBy(s => moduleOf(s, innermost))
      .map { case (m, ss) => m -> ss.flatMap(jobOfStage).distinct }
    by.toSeq.sortBy(_._1).map { case (mod, ss) =>
      Map[String, Any]("kind" -> "module", "by" -> (if (innermost) "innermost" else "outermost"),
        "module" -> mod, "jobs" -> jobsBy.get(mod).map(_.size).getOrElse(0),
        "stages" -> ss.size, "tasks" -> ss.map(_.tasks).sum,
        "task_s" -> ss.map(_.runS).sum, "task_cpu_s" -> ss.map(_.cpuS).sum,
        "shuffle_write_bytes" -> ss.map(_.shuffleWrite).sum, "spill_bytes" -> ss.map(_.spill).sum,
        "input_bytes" -> ss.map(_.inBytes).sum, "input_rows" -> ss.map(_.inRows).sum,
        "output_bytes" -> ss.map(_.outBytes).sum)
    }
  }

  /** Whole-chain rollup: task time per distinct graft frame chain. */
  def chainRollup: Seq[Map[String, Any]] =
    allStages.groupBy(s => chainOf(s).map(moduleName).distinct.mkString(">"))
      .toSeq.map { case (c, ss) => (c, ss.map(_.runS).sum, ss.size) }
      .sortBy(-_._2).map { case (c, t, n) =>
        Map[String, Any]("kind" -> "chain", "chain" -> (if (c.isEmpty) "(none)" else c),
          "stages" -> n, "task_s" -> t)
      }

  def unattributedRatio: Double = {
    val total = allStages.map(_.runS).sum
    if (total <= 0) 0.0
    else allStages.filter(s => moduleOf(s, innermost = true) == "unattributed").map(_.runS).sum / total
  }

  /** Inclusive figures for one module: stages with a frame of it anywhere
    * in their chain (or, chainless, issued under its span).
    */
  def module(name: String): ModuleFig = {
    val ss = allStages.filter { s =>
      val c = chainOf(s)
      if (c.nonEmpty) c.exists(f => moduleName(f) == name) else s.span == name
    }
    ModuleFig(ss.map(_.runS).sum, ss.map(_.shuffleWrite).sum.toDouble, ss.map(_.spill).sum.toDouble,
      ss.map(_.outBytes).sum.toDouble, ss.flatMap(jobOfStage).distinct.size.toDouble)
  }

  def rollup(ops: Seq[OpRec]): Seq[Map[String, Any]] =
    ops.map(r => Map[String, Any]("kind" -> "op", "name" -> r.name, "pass" -> r.pass,
      "wall" -> r.wall, "ok" -> r.ok) ++ r.extra) ++
      spanRollup ++ moduleRollup(innermost = true) ++ moduleRollup(innermost = false) ++ chainRollup
}

object Trace {
  val SpanProp = "perfbench.span"

  final case class SpanRec(layer: String, name: String, wall: Double, self: Double)
  final case class JobRec(id: Int, start: Long, end: Long)
  val SampleMs = 5L

  final case class StageRec(id: Int, exec: Option[Long], span: String, tasks: Int, submitted: Long,
      runS: Double, cpuS: Double,
      shuffleWrite: Long, spill: Long, inBytes: Long, inRows: Long, outBytes: Long, done: Long)
  final case class ModuleFig(taskS: Double, shuffleWrite: Double, spill: Double, outBytes: Double,
      jobs: Double)

  private val Frame = """^\s*(?:at\s+)?(graft\.[\w.$]+)\.[\w$]+\(([^)]*)\)""".r

  /** `graft.` frames of a call-site long form, innermost first. */
  def graftFrames(details: String): Seq[String] =
    Option(details).toSeq.flatMap(_.split("\n")).flatMap(l => Frame.findFirstMatchIn(l).map(_.group(1)))

  /** Layer name of a graft class: operators keep their object name,
    * the other packages roll up to the package.
    */
  def moduleName(cls: String): String = {
    val parts = cls.split('.').toSeq.map(_.takeWhile(_ != '$'))
    parts.drop(1) match {
      case Seq("operators", "Dedup", _*) => "dedup"
      case Seq("operators", "Similarity", _*) => "similarity"
      case Seq("operators", "Ingest", _*) => "ingest"
      case Seq("operators", "DupState", _*) => "dupstate"
      case Seq("operators", "StateVersions", _*) => "state"
      case Seq("operators", o, _*) => s"operators.$o"
      case Seq("queries", _*) => "queries"
      case Seq("sources", _*) => "sources"
      case Seq("streaming", _*) => "stream"
      case Seq("functions", _*) => "functions"
      case Seq("plans", _*) | Seq("GraftSession", _*) | Seq("GraftExtensions", _*) => "session"
      case Seq(other, _*) => other
      case _ => "graft"
    }
  }

  def install(spark: SparkSession, cores: Int): Trace = {
    val t = new Trace(spark, cores)
    spark.sparkContext.addSparkListener(t)
    spark.streams.addListener(t.streamListener)
    t
  }
}
