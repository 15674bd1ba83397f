package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession

/** Command line of one benchmark run (the JVM half; run.py builds it). */
final case class Opts(
    workload: String,
    seed: Long,
    seconds: Double,
    trace: Boolean,
    data: String,
    work: String,
    cache: String,
    out: String,
    throwIn: Option[String],
    prepareOnly: Boolean)

object Opts {
  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def req(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    Opts(req("workload"), req("seed").toLong, req("seconds").toDouble, req("trace") == "1",
      req("data"), req("work"), req("cache"), req("out"), m.get("throw"),
      m.get("prepare-only").contains("1"))
  }
}

/** One closed-loop operation's record. `extra` carries workload fields
  * (build/plan/exec phases, rebase flags, per-op layer figures).
  */
final case class OpRec(name: String, pass: Int, wall: Double, ok: Boolean, err: String,
    extra: Map[String, Any])

/** The process-level clocks the end-to-end metrics read: CPU, GC and
  * the kernel's per-process I/O counters — no Spark listener involved.
  */
object Proc {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  def cpuS: Double = os.getProcessCpuTime / 1e9
  def gcS: Double = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).sum / 1e3
  private def procField(file: String, key: String): Long =
    java.nio.file.Files.readAllLines(java.nio.file.Paths.get(file)).asScala
      .find(_.startsWith(key)).map(_.drop(key.length).trim.split("\\s+")(0).toLong).getOrElse(0L)
  def wchar: Long = procField("/proc/self/io", "wchar:")
  def peakRssMb: Double = procField("/proc/self/status", "VmHWM:") / 1024.0
  def now: Double = System.nanoTime() / 1e9

  /** Between ops, outside their timing: collect garbage so no op pays
    * for the previous one's.
    */
  def settle(): Unit = System.gc()

  /** Cumulative CPU jiffies of the box, from /proc/stat. */
  final case class Jiffies(busy: Long, steal: Long, total: Long)

  def jiffies: Jiffies = {
    val f = java.nio.file.Files.readAllLines(java.nio.file.Paths.get("/proc/stat")).asScala
      .find(_.startsWith("cpu ")).map(_.split("\\s+").drop(1).map(_.toLong)).getOrElse(Array(0L))
    def at(i: Int) = if (f.length > i) f(i) else 0L
    // user + nice + system + irq + softirq; steal
    Jiffies(at(0) + at(1) + at(2) + at(5) + at(6), at(7), f.sum)
  }

  /** busy / (busy + steal) between two snapshots: the share of the CPU
    * time runnable work asked for that it got. A wall times this is the
    * wall of the same work on a host that steals nothing from this guest.
    */
  def unstolen(a: Jiffies, b: Jiffies): Double = {
    val (busy, steal) = (b.busy - a.busy, b.steal - a.steal)
    if (busy + steal <= 0) 1.0 else busy.toDouble / (busy + steal)
  }

  /** Wall of `body` and its unstolen share. */
  def timed[A](body: => A): (A, Double, Double) = {
    val (j0, t0) = (jiffies, now)
    val a = body
    (a, now - t0, unstolen(j0, jiffies))
  }
}

object Main {
  val cores: Int = Runtime.getRuntime.availableProcessors()

  /** A fresh session shaped the way graft's own harness builds one:
    * the library's tuned confs, `local[nproc]`, shuffle partitions =
    * nproc, every scratch path inside the benchmark's work dir.
    */
  def session(work: String): SparkSession = {
    val b = SparkSession.builder().master(s"local[$cores]").appName("perfbench")
    graft.GraftSession.tune(b)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
  }

  def stopSession(s: SparkSession): Unit = {
    s.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  def main(args: Array[String]): Unit = {
    val o = Opts.parse(args)
    new File(o.work).mkdirs()
    val wl: Workload = o.workload match {
      case "interactive_sql" => new CatalogWorkload(Entries.interactive, o, 24.0)
      case "corpus_dedup" => new CatalogWorkload(Entries.corpusDedup, o, 4.0)
      case "daily_cycle" => new DailyWorkload(o)
      case w => sys.error(s"unknown workload $w")
    }

    // once per checkout: inputs a workload caches between runs
    if (!wl.prepared) {
      val s = session(o.work)
      s.sparkContext.setLogLevel("ERROR")
      wl.prepare(s)
      stopSession(s)
    }
    if (o.prepareOnly) return

    // set-up, repeated: each round starts a fresh session and redoes
    // the workload's one-time work (warm-up, restore)
    var spark: SparkSession = null
    val rounds = wl.setupRounds
    val setupWalls = (1 to rounds).map { round =>
      if (spark != null) stopSession(spark)
      val (_, wall, unstolen) = Proc.timed {
        spark = session(o.work)
        spark.sparkContext.setLogLevel("ERROR")
        wl.setup(spark, round)
      }
      Seq(wall, unstolen)
    }

    val tracer = if (o.trace) Some(Trace.install(spark, cores)) else None
    val ops = ArrayBuffer.empty[OpRec]
    val passWalls = ArrayBuffer.empty[Seq[Double]]
    val (cpu0, gc0, w0, j0, t0) = (Proc.cpuS, Proc.gcS, Proc.wchar, Proc.jiffies, Proc.now)
    // a fixed amount of work per run: as many whole passes as the
    // workload's nominal pass length fits in --seconds (at least one)
    val passes = math.max(1, (o.seconds / wl.nominalPassS).toInt)
    (0 until passes).foreach { pass =>
      val (passOps, wall, unstolen) = Proc.timed(wl.pass(spark, pass, tracer))
      ops ++= passOps
      passWalls += Seq(wall, unstolen)
    }
    val timed = Proc.now - t0
    val (cpu, gc, written) = (Proc.cpuS - cpu0, Proc.gcS - gc0, Proc.wchar - w0)
    val j1 = Proc.jiffies
    val stealShare = (j1.steal - j0.steal).toDouble / math.max(1L, j1.total - j0.total)
    tracer.foreach(_.stopRecording())

    // correctness and post-run figures, outside the timed region
    val checks = wl.verify(spark)
    val layers = tracer.map(t => wl.layerFigures(spark, t, ops.toSeq) ++ Map("session.gc_s" -> gc,
      "trace.pass_s" -> Stats.median(passWalls.map(_.head).toSeq)))
      .getOrElse(Map.empty)
    val result = Map[String, Any](
      "workload" -> o.workload, "seed" -> o.seed, "trace" -> o.trace,
      "cores" -> cores, "heap_mb" -> Runtime.getRuntime.maxMemory / (1 << 20),
      "spark" -> spark.version,
      "setup_s" -> setupWalls, "pass_s" -> passWalls.toSeq, "timed_s" -> timed,
      "cpu_s" -> cpu, "gc_s" -> gc, "steal_share" -> stealShare, "write_bytes" -> written,
      "input_bytes_per_pass" -> wl.inputBytesPerPass,
      "peak_rss_mb" -> Proc.peakRssMb,
      "ops" -> ops.toSeq.map(r => Map[String, Any]("name" -> r.name, "pass" -> r.pass,
        "wall" -> r.wall, "ok" -> r.ok, "err" -> r.err) ++ r.extra),
      "checks" -> checks,
      "layers" -> layers,
      "rollup" -> tracer.map(_.rollup(ops.toSeq)).getOrElse(Nil))
    Json.writeFile(o.out, result)
    wl.close()
    stopSession(spark)
  }
}

/** A benchmark workload: set-up, one timed pass, post-run checks. */
trait Workload {
  /** One set-up round (1-based) on a fresh session; the timed passes
    * use the last round's session and state.
    */
  def setup(spark: SparkSession, round: Int): Unit
  def setupRounds: Int = 2
  /** False while the workload's per-checkout cache is missing. */
  def prepared: Boolean = true
  def prepare(spark: SparkSession): Unit = ()
  def pass(spark: SparkSession, pass: Int, tracer: Option[Trace]): Seq[OpRec]
  /** Named correctness checks run after the timed region. */
  def verify(spark: SparkSession): Map[String, Any]
  /** Per-layer figures of the traced run. */
  def layerFigures(spark: SparkSession, t: Trace, ops: Seq[OpRec]): Map[String, Double]
  def inputBytesPerPass: Long
  /** Pass length (s) on a 4-core box; a run makes seconds / nominal passes. */
  def nominalPassS: Double
  def close(): Unit = ()
}

/** Minimal JSON writer for the nested maps/seqs the harness emits. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => m.map { case (k, x) => str(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case other => str(other.toString)
  }
  def writeFile(path: String, v: Any): Unit =
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path), apply(v))
}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      (s((s.size - 1) / 2) + s(s.size / 2)) / 2
    }
}
