package perfbench

import java.io.File
import java.nio.file.{Files, Paths, StandardCopyOption}
import scala.collection.mutable
import scala.util.Random
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import graft.operators.{Dedup, DupState, Ingest}
import graft.sources.{Lake, Tables}
import graft.streaming.EventStream

/** The product's ingest path, wired as tools/DailyDriver wires it: both
  * state families bootstrapped from the corpus, then daily drops land in
  * a watched folder consumed by ONE checkpointed `dailyCycleStream` with
  * the recommended rebase cadences, retention and the stream tag pin.
  *
  * A cycle is 8 batches (versions 1..8): ingest rebases at v4 and v8,
  * dup at v8. Its prefix — bootstrap plus batches 0..5 over fixed
  * (seed-independent) drops — is the same in every run, so it is built
  * once per checkout and cached (`prepare`). Each run restores that
  * prefix, and times batches 6..7 over drops made from the run's seed:
  * the v7 delta day and the v8 day on which both families rebase.
  *
  * Set-up (one round): fresh session, restore the prefix, advance the
  * in-memory `Ingest.advanceOnce` reference chain over the seeded drops
  * (also the warm-up of the dedup kernels both families share), restart
  * the stream from its checkpoint.
  * One op = one day, from the drop landing to `processAllAvailable`.
  */
final class DailyWorkload(o: Opts) extends Workload {
  val PrefixDays = 6
  val TimedDays = 2
  private val PrefixSeed = 0L
  private val PerKind = 24

  private val cycle = s"${o.work}/cycle"
  private val cache = s"${o.cache}/daily_prefix"
  private val ingDir = s"$cycle/state_ingest"
  private val dupDir = s"$cycle/state_dup"
  private val dropDir = s"$cycle/drops"
  private val reportDir = s"$cycle/reports"
  private val ckpt = s"$cycle/ckpt"
  private val stageDir = s"${o.work}/stage"

  private var corpusDf: DataFrame = null
  private var query: StreamingQuery = null
  private var chain: Ingest.States = null
  private val figures = mutable.Map.empty[String, Double]

  private def corpus(spark: SparkSession): DataFrame =
    Tables.documents(spark, o.data).select(col("doc_id"), col("text"))

  /** Batch b's drop: exact and near copies of corpus docs, novel docs,
    * and copies of earlier batches' novel docs. Batches before
    * PrefixDays use a fixed seed, the rest the run's seed.
    */
  private def allDrops(spark: SparkSession): Seq[Seq[(Long, String)]] = {
    val docs = corpus(spark).collect().map(x => (x.getLong(0), x.getString(1))).toSeq
    val novel = mutable.ArrayBuffer.empty[(Long, String)]
    (0 until PrefixDays + TimedDays).map { b =>
      val r = new Random((if (b < PrefixDays) PrefixSeed else o.seed) * 1000003L + b)
      val base = 100000000L * (b + 1)
      def pick(n: Int) = r.shuffle(docs).take(n)
      val exact = pick(PerKind).zipWithIndex.map { case ((_, t), i) => (base + i, t) }
      val near = pick(PerKind).zipWithIndex.map { case ((_, t), i) =>
        (base + 1000000L + i, s"$t graft marker d$b w${r.nextInt(1000)}")
      }
      val fresh = (0 until PerKind).map { i =>
        (base + 2000000L + i, Seq.fill(40)(s"nv${r.nextInt(60000)}").mkString(" "))
      }
      val again = r.shuffle(novel.toSeq).take(PerKind / 2).zipWithIndex.map { case ((_, t), i) =>
        (base + 3000000L + i, t)
      }
      novel ++= fresh
      exact ++ near ++ fresh ++ again
    }
  }

  private def dropDf(spark: SparkSession, rows: Seq[(Long, String)]): DataFrame =
    spark.createDataFrame(rows).toDF("doc_id", "text")

  /** Land batch b's drop: copy beside the watched folder, then rename
    * in, so the file source never lists a half-written file.
    */
  private def deliver(b: Int): Unit = {
    val incoming = new File(s"$cycle/incoming")
    incoming.mkdirs()
    new File(s"$stageDir/day$b").listFiles.filter(_.getName.endsWith(".parquet")).foreach { f =>
      val tmp = Paths.get(incoming.getPath, s"day${b}_${f.getName}")
      Files.copy(f.toPath, tmp, StandardCopyOption.REPLACE_EXISTING)
      Files.move(tmp, Paths.get(dropDir, tmp.getFileName.toString), StandardCopyOption.ATOMIC_MOVE)
    }
  }

  private def stage(spark: SparkSession, drops: Seq[Seq[(Long, String)]], days: Range): Unit =
    days.foreach(b => dropDf(spark, drops(b)).coalesce(1).write.mode("overwrite").parquet(s"$stageDir/day$b"))

  private def startStream(spark: SparkSession): StreamingQuery =
    EventStream.dailyCycleStream(EventStream.readSnapshots(spark, dropDir, corpusDf),
        ingDir, dupDir, reportDir, keepLast = Some(4),
        ingestRebaseEvery = Some(EventStream.IngestRebaseRecommended),
        dupRebaseEvery = Some(EventStream.DupRebaseRecommended),
        streamTag = Some(ckpt))
      .option("checkpointLocation", ckpt)
      .start()

  override def prepared: Boolean = new File(s"$cache/_COMPLETE").exists

  /** Build the cached prefix: bootstrap both families, run batches
    * 0..PrefixDays-1 through the stream, and save the in-memory
    * reference chain's state at the same point.
    */
  override def prepare(spark: SparkSession): Unit = {
    Files.createDirectories(Paths.get(o.cache))
    FileTree.delete(new File(cache))
    FileTree.delete(new File(cycle))
    corpusDf = corpus(spark)
    val drops = allDrops(spark)
    stage(spark, drops, 0 until PrefixDays)
    val init = Ingest.initStates(corpusDf, col("doc_id"), col("text"))
    Ingest.saveStates(init, ingDir, 0L, buckets = Some(graft.GraftSession.profileOf(spark).lakeBuckets))
    DupState.save(DupState.init(corpusDf, col("doc_id"), col("text")), dupDir, 0L)
    new File(dropDir).mkdirs()
    val q = startStream(spark)
    try (0 until PrefixDays).foreach { b => deliver(b); q.processAllAvailable() } finally q.stop()
    val st = (0 until PrefixDays).foldLeft(init) {
      (s, b) => Ingest.advanceOnce(dropDf(spark, drops(b)), s, col("doc_id"), col("text"))._2
    }
    Ingest.saveStates(st, s"$cache/chain", 0L)
    FileTree.copy(new File(cycle), new File(s"$cache/cycle"))
    Files.createFile(Paths.get(cache, "_COMPLETE"))
    FileTree.delete(new File(cycle))
  }

  override def setupRounds: Int = 1

  def setup(spark: SparkSession, round: Int): Unit = {
    corpusDf = corpus(spark)
    FileTree.delete(new File(cycle))
    FileTree.copy(new File(s"$cache/cycle"), new File(cycle))
    val drops = allDrops(spark)
    val timedDays = PrefixDays until PrefixDays + TimedDays
    stage(spark, drops, timedDays)
    // the reference chain: cached prefix state advanced over the seeded
    // drops in memory (also the warm-up)
    chain = timedDays.foldLeft(Ingest.loadStates(spark, s"$cache/chain")._2) { (s, b) =>
      Ingest.advanceOnce(dropDf(spark, drops(b)), s, col("doc_id"), col("text"))._2
    }
    query = startStream(spark)
    query.processAllAvailable()
  }

  def nominalPassS: Double = Double.PositiveInfinity

  def pass(spark: SparkSession, p: Int, tracer: Option[Trace]): Seq[OpRec] =
    (PrefixDays until PrefixDays + TimedDays).map { b =>
      val version = b + 1
      val ingRebase = version % EventStream.IngestRebaseRecommended == 0
      val dupRebase = version % EventStream.DupRebaseRecommended == 0
      val ms0 = System.currentTimeMillis()
      val (j0, t0) = (Proc.jiffies, Proc.now)
      val err = try {
        tracer.fold { deliver(b); query.processAllAvailable() } { t =>
          t.span("op", s"day$b") { t.span("stream", "day") { deliver(b); query.processAllAvailable() } }
        }
        ""
      } catch { case t: Throwable => s"${t.getClass.getSimpleName}: ${t.getMessage}".take(300) }
      val wall = Proc.now - t0
      val unstolen = Proc.unstolen(j0, Proc.jiffies)
      Proc.settle()
      OpRec(s"day$b", p, wall, err.isEmpty, err, Map("unstolen" -> unstolen, "ingest_rebase" -> ingRebase,
        "dup_rebase" -> dupRebase, "t0_ms" -> ms0, "t1_ms" -> System.currentTimeMillis(),
        "cached_bytes" -> spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum))
    }

  /** Rows in exactly one of a and b (multiset difference, both ways). */
  private def symDiff(a: DataFrame, b: DataFrame): Long =
    a.exceptAll(b).unionByName(b.exceptAll(a)).count()

  private def timed[A](key: String)(f: => A): A = {
    val t0 = Proc.now
    try f finally figures(key) = Proc.now - t0
  }

  /** After the last day: (1) the dup head equals a from-scratch
    * `Dedup.dedupClusters` over the corpus plus every drop; (2) the
    * ingest head equals the in-memory `Ingest.advanceOnce` chain over
    * the same drops; (3) a `Lake.readRange` over the lifted per-day
    * reports returns exactly the requested days.
    */
  def verify(spark: SparkSession): Map[String, Any] = {
    query.stop()
    import spark.implicits._
    val batches = 0 until PrefixDays + TimedDays
    val drops = allDrops(spark)

    // (3) lake lift + range read
    val reports = spark.read.option("basePath", reportDir)
      .parquet(batches.map(b => s"$reportDir/batch=$b"): _*)
    val lake = s"$cycle/lake"
    timed("sources.lake_write_s") {
      Lake.write(reports.withColumn("day",
        date_add(lit("2024-01-01").cast("date"), col("batch_id").cast("int"))), lake, col("day"))
    }
    val r = new Random(o.seed)
    val lo = r.nextInt(batches.size - 1)
    val hi = lo + 1 + r.nextInt(batches.size - lo - 1)
    val day = (b: Int) => java.time.LocalDate.parse("2024-01-01").plusDays(b.toLong).toString
    val got = timed("sources.lake_read_s") {
      Lake.readRange(spark, lake, day(lo), day(hi)).select(col("batch_id")).as[Long].collect().sorted.toSeq
    }
    val lakeOk = got == (lo to hi).map(_.toLong)
    val rep = reports.agg(sum("n_batch"), sum("n_surv")).head()
    figures("ingest.admit_ratio") = rep.getLong(1).toDouble / rep.getLong(0)

    // (1) dup head vs from-scratch closure over everything that arrived
    val (vDup, dst) = timed("dupstate.load_s") {
      val (v, s) = DupState.load(spark, dupDir); s.comp.count(); (v, s)
    }
    val everything = drops.map(dropDf(spark, _)).foldLeft(corpusDf)(_ unionByName _)
    val scratch = Dedup.dedupClusters(everything, col("doc_id"), col("text"))
    val dupDiff = symDiff(dst.comp, scratch)

    // (2) ingest head vs the in-memory advance chain
    val (vIng, ist) = timed("ingest.load_s") {
      val (v, s) = Ingest.loadStates(spark, ingDir); s.keepers.count(); (v, s)
    }
    def tables(s: Ingest.States) = Seq("keepers" -> s.keepers, "sigs" -> s.sigs, "ng3" -> s.ng3,
      "ng8" -> s.ng8, "kmv" -> s.kmv, "cms" -> s.cms)
    val ingDiff = tables(ist).zip(tables(chain)).map { case ((n, a), (_, b)) => n -> symDiff(a, b) }.toMap

    // live state after retention
    val files = Seq(ingDir, dupDir).flatMap(d => FileTree.files(new File(d)))
    figures("state.versions_live") = Seq(ingDir, dupDir)
      .map(d => Option(new File(d).listFiles).toSeq.flatten.count(_.getName.startsWith("v="))).sum
    figures("state.files_live") = files.size
    figures("state.bytes_live") = files.map(_.length).sum
    val inputBytes = new File(s"${o.data}/documents.parquet").length +
      FileTree.files(new File(dropDir)).map(_.length).sum
    figures("state.bytes_per_input_byte") = figures("state.bytes_live") / inputBytes

    val head = PrefixDays + TimedDays
    val ok = lakeOk && dupDiff == 0 && ingDiff.values.forall(_ == 0) && vIng == head && vDup == head
    Map("ok" -> ok, "lake_range" -> Seq(lo, hi), "lake_batches" -> got, "lake_ok" -> lakeOk,
      "dup_head" -> vDup, "dup_parity_diff" -> dupDiff, "ingest_head" -> vIng,
      "ingest_parity_diff" -> ingDiff)
  }

  def inputBytesPerPass: Long = (PrefixDays until PrefixDays + TimedDays)
    .flatMap(b => FileTree.files(new File(s"$stageDir/day$b")))
    .filter(_.getName.endsWith(".parquet")).map(_.length).sum

  def layerFigures(spark: SparkSession, t: Trace, ops: Seq[OpRec]): Map[String, Double] = {
    def medWall(f: OpRec => Boolean) = Stats.median(ops.filter(f).map(_.wall))
    val rebase = (r: OpRec) => r.extra("ingest_rebase") == true || r.extra("dup_rebase") == true
    val b = t.batches.toArray(Array.empty[Map[String, Double]]).toSeq
    def bm(k: String) = Stats.median(b.map(_.getOrElse(k, 0.0)))
    Layers.common(spark, t, ops, o) ++ figures ++ Map(
      "state.rebase_op_s" -> medWall(rebase),
      "state.delta_op_s" -> medWall(r => !rebase(r)),
      "stream.add_batch_s" -> bm("addBatch"),
      "stream.latest_offset_s" -> bm("latestOffset"),
      "stream.wal_commit_s" -> bm("walCommit"),
      "stream.commit_offsets_s" -> bm("commitOffsets"),
      "stream.query_planning_s" -> bm("queryPlanning"),
      "stream.overhead_s" -> Stats.median(b.map(m =>
        m.getOrElse("triggerExecution", 0.0) - m.getOrElse("addBatch", 0.0))))
  }

  override def close(): Unit = if (query != null && query.isActive) query.stop()
}

object FileTree {
  def files(f: File): Seq[File] =
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten.flatMap(files) else if (f.exists) Seq(f) else Nil

  def delete(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten.foreach(delete)
    f.delete()
  }

  /** Recursive copy keeping modification times (the file source's
    * seen-file log compares them).
    */
  def copy(from: File, to: File): Unit =
    if (from.isDirectory) {
      to.mkdirs()
      Option(from.listFiles).toSeq.flatten.foreach(c => copy(c, new File(to, c.getName)))
    } else Files.copy(from.toPath, to.toPath, StandardCopyOption.REPLACE_EXISTING,
      StandardCopyOption.COPY_ATTRIBUTES)
}
