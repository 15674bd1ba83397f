package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.types.{LongType, StructType}
import graft.operators.{Dedup, DupState, Ingest, StateVersions}
import graft.streaming.EventStream
import org.scalatest.concurrent.Eventually._
import org.scalatest.time.{Seconds, Span}

/** The two-family PERSISTED daily cycle (q134's contract, VERDICT r15
  * #1): one batch driver advances BOTH state dirs in lockstep —
  * ingest saved first, dup-cluster second — and a crash between the
  * two saves leaves dup exactly one version behind. The replay of the
  * same batch must re-converge both heads to the clean run's states
  * byte-for-byte: ingest's save rewrites its own version idempotently
  * (marker removed first), dup's save writes the version it never
  * got. This spec drives that crash corner directly; the happy-path
  * disk cycle is oracle-gated by q134 itself.
  */
class DailyCycleSpec extends SparkSpecBase {

  private def baseText(j: Long) = (0 until 24).map(i => s"d${j}_w$i").mkString(" ")
  private def nearText(j: Long) = baseText(j) + " graft extra marker"
  private def novelText(id: Long) = (0 until 24).map(j => s"nv${id}_$j").mkString(" ")

  private def docs(rows: (Long, String)*): DataFrame = {
    val sp = spark
    import sp.implicits._
    rows.toDF("doc_id", "text")
  }

  private def corpus = docs((0L to 3L).map(j => (j, baseText(j))): _*)
  // all three ingest classes AND two dup-edge classes in one batch:
  // an exact copy (chunk-gate death + dup edge), a near copy
  // (signature-gate death + dup edge), a novel doc (admitted)
  private def batch = docs((100L, baseText(0)), (101L, nearText(1)),
    (102L, novelText(102L)))

  private val (kw, k, depth, width) = (12, 16, 2, 32)

  private def tmp(tag: String) = "file://" +
    java.nio.file.Files.createTempDirectory(s"graft_cycle_$tag").toString

  /** One daily cycle over both dirs — the q134 driver shape: each
    * family loads ≤ batchId and writes v=batchId+1, ingest first.
    */
  private def cycle(ingDir: String, dupDir: String, batchId: Long,
      b: DataFrame, crashBetweenSaves: Boolean = false): Unit = {
    val (_, ist) = Ingest.loadStates(spark, ingDir, upTo = batchId)
    val (_, _, dd) = Ingest.advanceOnceDelta(b, ist, col("doc_id"), col("text"),
      kw, k, depth, width)
    Ingest.saveStatesDelta(dd, ingDir, batchId + 1)
    if (crashBetweenSaves) return
    val (_, dst) = DupState.load(spark, dupDir, upTo = batchId)
    DupState.saveDelta(DupState.advance(dst, b, col("doc_id"), col("text")),
      dupDir, batchId + 1)
  }

  private def bootstrap(ingDir: String, dupDir: String): Unit = {
    Ingest.saveStates(Ingest.initStates(corpus, col("doc_id"), col("text"),
      kw, k, depth, width), ingDir, 0L)
    DupState.save(DupState.init(corpus, col("doc_id"), col("text")), dupDir, 0L)
  }

  private def same(a: DataFrame, b: DataFrame, tag: String): Unit =
    assert(a.except(b).isEmpty && b.except(a).isEmpty, s"$tag diverged")

  private def labels(df: DataFrame): Map[Long, Long] =
    df.select(col("doc_id"), col("cluster_id")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("a crash between the two family saves re-converges on replay") {
    // clean control run: bootstrap + one full cycle
    val (ingC, dupC) = (tmp("ing_ctl"), tmp("dup_ctl"))
    bootstrap(ingC, dupC)
    cycle(ingC, dupC, 0L, batch)
    // crashed run: ingest's v=1 commits, the driver dies before dup's
    val (ingX, dupX) = (tmp("ing_crash"), tmp("dup_crash"))
    bootstrap(ingX, dupX)
    cycle(ingX, dupX, 0L, batch, crashBetweenSaves = true)
    assert(Ingest.loadStates(spark, ingX)._1 == 1L)
    assert(DupState.load(spark, dupX)._1 == 0L) // one version behind
    // the scheduler replays batch 0 (its cycle never acknowledged):
    // ingest rewrites v=1 idempotently, dup catches up to v=1
    cycle(ingX, dupX, 0L, batch)
    // both heads converge to the clean run's states
    val (vI, stX) = Ingest.loadStates(spark, ingX)
    val (vD, duX) = DupState.load(spark, dupX)
    assert(vI == 1L && vD == 1L)
    val (_, stC) = Ingest.loadStates(spark, ingC)
    same(stX.keepers, stC.keepers, "keepers")
    same(stX.sigs, stC.sigs, "sigs")
    same(stX.ng3, stC.ng3, "ng3")
    same(stX.ng8, stC.ng8, "ng8")
    same(stX.cms, stC.cms, "cms")
    assert(labels(duX.comp) == labels(DupState.load(spark, dupC)._2.comp))
    // and the converged assignment equals the from-scratch closure
    assert(labels(duX.comp) ==
      labels(Dedup.dedupClusters(corpus.unionByName(batch), col("doc_id"), col("text"))))
  }

  test("a bootstrap crash that left dup AHEAD of ingest re-converges on replay") {
    // r17 advice: q134/q135 OVERLAP the two bootstraps (par2), so a
    // crash in that window can leave dup v=0 committed while ingest
    // has nothing — the INVERSE of the delta steps' documented
    // dup-one-behind state. Benign at v=0: the replay re-runs both
    // bootstraps from the same corpus; saveStates/save rewrite v=0
    // idempotently (un-publish → rewrite → re-publish) and both heads
    // converge to the clean run's states with no delta above them to
    // orphan.
    val (ingC, dupC) = (tmp("ing_bctl"), tmp("dup_bctl"))
    bootstrap(ingC, dupC)
    cycle(ingC, dupC, 0L, batch)
    val (ingX, dupX) = (tmp("ing_bcrash"), tmp("dup_bcrash"))
    // crashed overlapped bootstrap: ONLY dup committed its v=0
    DupState.save(DupState.init(corpus, col("doc_id"), col("text")), dupX, 0L)
    assert(DupState.load(spark, dupX)._1 == 0L)
    intercept[IllegalArgumentException] { Ingest.loadStates(spark, ingX) }
    // replay from the top: both bootstraps re-run, then the cycle
    bootstrap(ingX, dupX)
    cycle(ingX, dupX, 0L, batch)
    val (vI, stX) = Ingest.loadStates(spark, ingX)
    val (vD, duX) = DupState.load(spark, dupX)
    assert(vI == 1L && vD == 1L)
    val (_, stC) = Ingest.loadStates(spark, ingC)
    same(stX.keepers, stC.keepers, "keepers")
    same(stX.sigs, stC.sigs, "sigs")
    same(stX.ng3, stC.ng3, "ng3")
    same(stX.ng8, stC.ng8, "ng8")
    same(stX.cms, stC.cms, "cms")
    assert(labels(duX.comp) == labels(DupState.load(spark, dupC)._2.comp))
  }

  /** The sink-crash fixture: bootstrap both dirs, land `batch` as one
    * file-source drop, pre-create `v=1` of the dir `blocked` picks as a
    * plain FILE (so that family's parquet write cannot mkdir), run
    * dailyCycleStream until the failure kills the query, check
    * `afterCrash(ingDir, dupDir)`, then clear the blocker and restart
    * on the SAME checkpoint: the replay of batch 0 must bring both
    * heads to v=1 with the from-scratch closure as dup's labels.
    */
  private def sinkCrashThenRestart(tag: String, blocked: (String, String) => String)(
      afterCrash: (String, String) => Unit): Unit = {
    val (ingDir, dupDir) = (tmp(s"${tag}_ing"), tmp(s"${tag}_dup"))
    val reportDir = tmp(s"${tag}_rep")
    bootstrap(ingDir, dupDir)
    val dropDir = java.nio.file.Files.createTempDirectory("graft_cycle_drop").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_cycle_ckpt").toString
    val stage = java.nio.file.Files.createTempDirectory("graft_cycle_stage").toString
    batch.write.mode("overwrite").parquet(stage)
    new java.io.File(stage).listFiles.filter(_.getName.endsWith(".parquet"))
      .foreach(f => java.nio.file.Files.move(f.toPath,
        java.nio.file.Paths.get(dropDir, f.getName)))
    // the injected crash: one family's v=1 path exists as a plain file
    val blocker = new java.io.File(blocked(ingDir, dupDir).stripPrefix("file://"), "v=1")
    assert(blocker.createNewFile())
    def startQuery() = EventStream.dailyCycleStream(
        EventStream.readSnapshots(spark, dropDir, batch),
        ingDir, dupDir, reportDir, kw, k, depth, width, streamTag = Some(ckpt))
      .option("checkpointLocation", ckpt).start()
    val q1 = startQuery()
    intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      try q1.processAllAvailable() finally q1.stop()
    }
    afterCrash(ingDir, dupDir)
    // operator clears the blocker and restarts the SAME checkpoint
    assert(blocker.delete())
    val q2 = startQuery()
    try q2.processAllAvailable() finally q2.stop()
    assert(Ingest.loadStates(spark, ingDir)._1 == 1L)
    assert(DupState.load(spark, dupDir)._1 == 1L)
    assert(labels(DupState.load(spark, dupDir)._2.comp) ==
      labels(Dedup.dedupClusters(corpus.unionByName(batch), col("doc_id"), col("text"))))
    assert(spark.read.parquet(s"$reportDir/batch=0").count() == 1L)
  }

  test("sink-level crash between the family saves replays and converges on restart") {
    // the DailyCycleSpec cycle() test drives the crash corner through
    // the batch API; this one drives it through the SINK's own
    // foreachBatch + checkpoint machinery: dup's save FAILS mid-batch
    // after ingest's v=1 committed — the query dies, the blocker is
    // cleared, and a restart on the SAME checkpoint replays batch 0:
    // ingest rewrites v=1 idempotently (the arithmetic guard admits
    // the legitimate replay), dup catches up, both heads converge
    sinkCrashThenRestart("sink_crash", (_, dup) => dup) { (ingDir, dupDir) =>
      // ingest committed its half; dup is one version behind
      assert(Ingest.loadStates(spark, ingDir)._1 == 1L)
      assert(DupState.load(spark, dupDir)._1 == 0L)
    }
  }

  test("an ingest-leg failure while the dup advance runs publishes neither family's v=1") {
    // the sink runs ingest's load/advance/save and dup's load/advance
    // as two concurrent par2 legs; dup's save waits for both. Ingest's
    // save failing (its v=1 blocked) must therefore leave dup unsaved
    // too — dup never ahead of ingest — and the restart converges
    sinkCrashThenRestart("ing_leg_crash", (ing, _) => ing) { (ingDir, dupDir) =>
      assert(Ingest.loadStates(spark, ingDir)._1 == 0L)
      assert(DupState.load(spark, dupDir)._1 == 0L)
    }
  }

  test("every job of both sink legs runs under the stream query's job group") {
    // query.stop() cancels the run's job group; the dup leg runs on a
    // pool thread, so par2 must carry the group there explicitly — and
    // the micro-batch id: a reused pool thread otherwise keeps the one
    // of the batch that created it
    val sp = spark
    import sp.implicits._
    val (ingDir, dupDir) = (tmp("grp_ing"), tmp("grp_dup"))
    bootstrap(ingDir, dupDir)
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[(String, String, String)]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).foreach(p => jobs.add((p.getProperty("spark.jobGroup.id"),
          p.getProperty("spark.job.tags", ""), p.getProperty("streaming.sql.batchId"))))
    }
    val mem = MemoryStream[(Long, String)](sp)
    val q = EventStream.dailyCycleStream(mem.toDF.toDF("doc_id", "text"),
      ingDir, dupDir, tmp("grp_rep"), kw, k, depth, width).start()
    sp.sparkContext.addSparkListener(listener)
    try {
      mem.addData((100L, baseText(0)), (101L, nearText(1)), (102L, novelText(102L)))
      q.processAllAvailable()
      mem.addData((200L, nearText(0)), (201L, novelText(201L)))
      q.processAllAvailable()
    } finally q.stop()
    import scala.jdk.CollectionConverters._
    val legTag = "graft-par2-(\\d+)-([ab])".r
    // ((par2 call, leg), (job group, job tags, batch id)) per leg job
    def legJobs = jobs.asScala.toSeq.flatMap { case (group, tags, batch) =>
      tags.split(',').collectFirst { case legTag(call, leg) => ((call, leg), (group, tags, batch)) }
    }
    try eventually(timeout(Span(30, Seconds))) {
      val legs = legJobs.map(_._1).toSet
      assert(legs.exists(_._2 == "a") && legs.exists(_._2 == "b"))
      assert(legJobs.map(_._2._3).toSet == Set("0", "1"))
    } finally sp.sparkContext.removeSparkListener(listener)
    val runId = q.runId.toString
    legJobs.foreach { case (_, (group, tags, _)) =>
      assert(group == runId, s"leg job (tags $tags) ran in job group $group, not $runId")
    }
    // every job of one par2 call carries the batch id of the batch that
    // made the call, on both legs
    legJobs.groupBy(_._1._1).foreach { case (call, js) =>
      val batches = js.map(_._2._3).toSet
      assert(batches.size == 1 && js.map(_._1._2).toSet == Set("a", "b"),
        s"par2 call $call: legs ${js.map(_._1._2).distinct} carried batch ids $batches")
    }
    assert(DupState.load(spark, dupDir)._1 == 2L)
  }

  /** A two-task job that runs for two minutes unless its tasks are
    * killed — the doomed leg the par2 specs cancel.
    */
  private def slowJob(): Unit = spark.sparkContext.parallelize(1 to 2, 2).foreach { _ =>
    val ctx = org.apache.spark.TaskContext.get()
    val end = System.nanoTime() + 120L * 1000000000L
    while (!ctx.isInterrupted() && System.nanoTime() < end) Thread.sleep(20)
  }

  private def awaitRunningJob(): Unit = eventually(timeout(Span(60, Seconds))) {
    assert(spark.sparkContext.statusTracker.getActiveJobIds().nonEmpty)
  }

  test("a failed par2 leg cancels the other leg's jobs and both settle before the rethrow") {
    spark // par2 binds the session at call time: create it before the call
    def failing(tag: String): Unit = { awaitRunningJob(); throw new IllegalStateException(tag) }
    // either leg may fail first; the survivor is cancelled, not awaited out
    for (failA <- Seq(true, false)) {
      val survivorSettled = new java.util.concurrent.atomic.AtomicBoolean
      def survivor(): Unit = try slowJob() finally survivorSettled.set(true)
      val t0 = System.nanoTime()
      val e = intercept[IllegalStateException] {
        if (failA) StateVersions.par2(failing("a failed"), survivor())
        else StateVersions.par2(survivor(), failing("b failed"))
      }
      val secs = (System.nanoTime() - t0) / 1e9
      assert(e.getMessage == (if (failA) "a failed" else "b failed"))
      assert(survivorSettled.get, "par2 returned with a leg still running")
      assert(secs < 60, f"the doomed leg was awaited out ($secs%.1f s), not cancelled")
      assert(e.getSuppressed.exists(_.isInstanceOf[org.apache.spark.SparkException]),
        "the survivor's cancellation is not attached to the failure")
    }
  }

  test("an interrupted par2 await cancels and drains leg b, then keeps the interrupt flag") {
    // query.stop() interrupts the stream thread while it waits on the
    // dup leg: par2 must neither orphan the leg nor swallow the flag
    spark // par2 binds the session at call time: create it before the call
    val bSettled = new java.util.concurrent.atomic.AtomicBoolean
    val seen = new java.util.concurrent.atomic.AtomicReference[(Throwable, Boolean, Boolean)]
    val caller = new Thread(() => {
      val err = try { StateVersions.par2((), try slowJob() finally bSettled.set(true)); null }
        catch { case t: Throwable => t }
      seen.set((err, bSettled.get, Thread.currentThread().isInterrupted))
    })
    caller.start()
    awaitRunningJob()
    caller.interrupt()
    caller.join(60000)
    assert(!caller.isAlive, "par2 did not return after the interrupt")
    val (err, settled, flag) = seen.get
    assert(err.isInstanceOf[InterruptedException], s"got: $err")
    assert(settled, "par2 returned with leg b still running")
    assert(flag, "par2 swallowed the interrupt")
  }

  test("recommended rebase cadences are pinned to the measured values") {
    // the constants exist so the scaladoc's cited measurements
    // (DeltaFanInProbe: optimum ≈ 4; DupFanInProbe: retention-bound,
    // conservative 8) can never drift from what callers are told to
    // wire — a probe re-measurement must update BOTH, here and there
    assert(EventStream.IngestRebaseRecommended == 4)
    assert(EventStream.DupRebaseRecommended == 8)
  }

  test("dailyCycleStream advances both families in lockstep from one batch driver") {
    val sp = spark
    import sp.implicits._
    val (ingDir, dupDir) = (tmp("sink_ing"), tmp("sink_dup"))
    val reportDir = tmp("sink_rep")
    bootstrap(ingDir, dupDir)
    val mem = MemoryStream[(Long, String)](sp)
    val q = EventStream.dailyCycleStream(mem.toDF.toDF("doc_id", "text"),
      ingDir, dupDir, reportDir, kw, k, depth, width,
      ingestRebaseEvery = Some(2), dupRebaseEvery = Some(2), stateBuckets = Some(2)).start()
    val b2 = Seq((200L, nearText(0)), (201L, novelText(201L)))
    try {
      mem.addData((100L, baseText(0)), (101L, nearText(1)), (102L, novelText(102L)))
      q.processAllAvailable()
      mem.addData(b2: _*)
      q.processAllAvailable()
    } finally q.stop()
    // lockstep heads: both chains at v=2, v=2 the rebase (full) layer
    assert(Ingest.loadStates(spark, ingDir)._1 == 2L)
    assert(DupState.load(spark, dupDir)._1 == 2L)
    // the persisted dup assignment equals the from-scratch closure
    val all = corpus.unionByName(batch).unionByName(docs(b2: _*))
    assert(labels(DupState.load(spark, dupDir)._2.comp) ==
      labels(Dedup.dedupClusters(all, col("doc_id"), col("text"))))
    // per-batch reports carry the ingest counters plus the dup head size
    val r = spark.read.parquet(s"$reportDir/batch=1")
    assert(r.columns.contains("n_dup_assign") && r.count() == 1L)
    assert(r.select(col("n_batch")).head.getLong(0) == 2L)
    // the size counted in memory is the size of the head just published:
    // v=1 a delta, v=2 a rebase
    for (batchId <- Seq(0L, 1L)) {
      val got = spark.read.parquet(s"$reportDir/batch=$batchId")
        .select(col("n_dup_assign")).head.getLong(0)
      assert(got == DupState.load(spark, dupDir, upTo = batchId + 1)._2.comp.count(),
        s"batch $batchId reported n_dup_assign = $got")
    }
    // both loads, at the delta head and at the bucketed rebase head
    for (upTo <- Seq(1L, 2L)) loadSchemasMatchInference(ingDir, dupDir, upTo)
  }

  /** Spark jobs whose start `body` caused on this thread: the body runs
    * under a job group of its own, and a marker job after it bounds the
    * (asynchronous, in-order) listener delivery.
    */
  private def jobsOf(body: => Unit): Int = {
    val sc = spark.sparkContext
    val group = s"graft-jobs-of-${System.nanoTime()}"
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .foreach(seen.add)
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "counted")
      try body finally sc.clearJobGroup()
      sc.setJobGroup(s"$group-marker", "marker")
      try sc.parallelize(1 to 1, 1).count() finally sc.clearJobGroup()
      eventually(timeout(Span(30, Seconds))) { assert(seen.contains(s"$group-marker")) }
      seen.toArray.count(_ == group)
    } finally sc.removeSparkListener(listener)
  }

  /** Both families' loads at `upTo` schedule no Spark job, and every
    * table they return has exactly the column types a plain
    * schema-inferring `spark.read.parquet` of the same dirs (and the
    * `unionByName` of the comp layers) gives.
    */
  private def loadSchemasMatchInference(ingDir: String, dupDir: String, upTo: Long): Unit = {
    var ing: Ingest.States = null
    var dup: DupState.LoadedDupState = null
    val jobs = jobsOf {
      ing = Ingest.loadStates(spark, ingDir, upTo)._2
      dup = DupState.load(spark, dupDir, upTo)._2
    }
    assert(jobs == 0, s"the loads at v=$upTo ran $jobs Spark job(s)")
    def plain(paths: String*) = spark.read.parquet(paths: _*).schema
    def chainOf(dir: String, family: StateVersions.Family) = {
      val c = StateVersions.resolve(spark, dir, family).chainAt(upTo).get
      (c.head, c.base, c.deltas)
    }
    def same(got: DataFrame, exp: StructType, what: String) =
      assert(got.schema == exp, s"$what at v=$upTo: ${got.schema.toDDL} != ${exp.toDDL}")
    val (ih, ib, ids) = chainOf(ingDir, Ingest.family)
    def ingPaths(t: String) = s"$ingDir/v=$ib/$t" +: ids.map(v => s"$ingDir/v=$v/$t.d")
    Seq("keepers" -> ing.keepers, "sigs" -> ing.sigs, "ng3" -> ing.ng3, "ng8" -> ing.ng8)
      .foreach { case (t, df) => same(df, plain(ingPaths(t): _*), s"ingest $t") }
    same(ing.kmv, plain(s"$ingDir/v=$ih/kmv"), "ingest kmv")
    same(ing.cms, plain(s"$ingDir/v=$ih/cms"), "ingest cms")
    ing.layers.foreach { l =>
      Seq("keepers" -> l.keepers, "ng3" -> l.ng3, "ng8" -> l.ng8).foreach { case (t, layers) =>
        layers.zip(ingPaths(t)).foreach { case (df, p) => same(df, plain(p), s"ingest $t layer $p") }
      }
    }
    val (_, db, dds) = chainOf(dupDir, DupState.family)
    def dupPaths(t: String) = s"$dupDir/v=$db/$t" +: dds.map(v => s"$dupDir/v=$v/$t.d")
    Seq("bands" -> dup.bands, "ngr" -> dup.ngr, "sizes" -> dup.sizes)
      .foreach { case (t, df) => same(df, plain(dupPaths(t): _*), s"dup $t") }
    same(dup.compLayers, ((db +: dds).zip(dupPaths("comp")).map { case (v, p) =>
      spark.read.parquet(p).withColumn("layer", lit(v))
    }.reduce(_ unionByName _)).schema, "dup compLayers")
  }

  test("state loads take Spark's inferred column types, int-typed ids included") {
    // int doc ids: the comp delta widens them to long, which the comp
    // layers' unionByName must widen exactly as before; the ingest base
    // is bucketed, so its key tables load through the catalog
    val asInt = (df: DataFrame) => df.withColumn("doc_id", col("doc_id").cast("int"))
    val (ingDir, dupDir) = (tmp("int_ing"), tmp("int_dup"))
    Ingest.saveStates(Ingest.initStates(asInt(corpus), col("doc_id"), col("text"),
      kw, k, depth, width), ingDir, 0L, buckets = Some(2))
    DupState.save(DupState.init(asInt(corpus), col("doc_id"), col("text")), dupDir, 0L)
    cycle(ingDir, dupDir, 0L, asInt(batch))
    val dup = DupState.load(spark, dupDir)._2
    assert(spark.read.parquet(s"$dupDir/v=1/comp.d").schema("doc_id").dataType == LongType)
    assert(dup.compLayers.schema("doc_id").dataType == LongType)
    for (upTo <- Seq(0L, 1L)) loadSchemasMatchInference(ingDir, dupDir, upTo)
  }

  test("the sink's report row value-equals the batch API's report on the same batch") {
    // stretch r16 #9: the lockstep test pins the report's SHAPE and
    // n_batch; this pins every ingest counter VALUE to what the batch
    // API (q134's driver shape) computes on the same bootstrap+batch,
    // so the sink's report row cannot drift from the entry's
    val sp = spark
    import sp.implicits._
    val (ingDir, dupDir) = (tmp("rep_ing"), tmp("rep_dup"))
    val reportDir = tmp("rep_rep")
    bootstrap(ingDir, dupDir)
    val (_, ist) = Ingest.loadStates(spark, ingDir, upTo = 0L)
    val (expReport, _, _) = Ingest.advanceOnceDelta(batch, ist,
      col("doc_id"), col("text"), kw, k, depth, width)
    val expCols = expReport.columns.toSeq
    val exp = expReport.collect().head
    val mem = MemoryStream[(Long, String)](sp)
    val q = EventStream.dailyCycleStream(mem.toDF.toDF("doc_id", "text"),
      ingDir, dupDir, reportDir, kw, k, depth, width).start()
    mem.addData((100L, baseText(0)), (101L, nearText(1)), (102L, novelText(102L)))
    try q.processAllAvailable() finally q.stop()
    val got = spark.read.parquet(s"$reportDir/batch=0")
    // full column contract: the advance report plus exactly the two
    // sink-added columns
    assert(got.columns.sorted.toSeq == (expCols ++ Seq("batch_id", "n_dup_assign")).sorted,
      s"report columns drifted: ${got.columns.mkString(",")}")
    assert(got.select(expCols.map(col): _*).collect().head == exp,
      "sink report values diverged from the batch API's advance report")
    assert(got.select(col("n_dup_assign")).head.getLong(0) ==
      DupState.load(spark, dupDir)._2.comp.count())
  }

  test("streamTag rejects a fresh checkpoint even after exactly one advance") {
    val sp = spark
    import sp.implicits._
    // chain advanced exactly ONCE under stream A: this is the
    // one-advance hole where version arithmetic alone cannot tell a
    // fresh checkpoint's batch 0 from a legitimate replay (max
    // committed = 1 ≤ batchId + 1)
    val dir = tmp("tag")
    DupState.save(DupState.init(corpus, col("doc_id"), col("text")), dir, 0L)
    StateVersions.requireStreamTag(spark, dir, "ckpt/A", "dup-cluster") // A adopts
    val st0 = DupState.load(spark, dir, upTo = 0L)._2
    DupState.saveDelta(DupState.advance(st0, docs((100L, baseText(0))),
      col("doc_id"), col("text")), dir, 1L)
    // same tag: a genuine replay of stream A passes the guard
    StateVersions.requireStreamTag(spark, dir, "ckpt/A", "dup-cluster")
    // stream B (fresh checkpoint, batch ids restart at 0) is rejected
    // on its FIRST batch — before the arithmetic guard would pass it
    val mem = MemoryStream[(Long, String)](sp)
    val q = EventStream.dupClusterStream(mem.toDF.toDF("doc_id", "text"), dir,
      streamTag = Some("ckpt/B")).start()
    mem.addData((300L, baseText(2)))
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      try q.processAllAvailable() finally q.stop()
    }
    assert(e.getMessage.contains("pinned to stream"), s"got: ${e.getMessage}")
    // nothing was written: head still v=1, assignment intact
    assert(DupState.load(spark, dir)._1 == 1L)
    assert(labels(DupState.load(spark, dir)._2.comp) ==
      labels(Dedup.dedupClusters(corpus.unionByName(docs((100L, baseText(0)))),
        col("doc_id"), col("text"))))
  }

  test("recreating the checkpoint at the SAME path is rejected by the query-id pin") {
    // VERDICT r16 #3: the location-string tag matched a
    // deleted-and-recreated checkpoint at the same path by
    // construction, reopening the one-advance rewrite window for
    // exactly the "operator wiped the corrupt checkpoint dir"
    // mistake. The tag now carries the checkpoint's query id
    // (StateVersions.tagFromCheckpoint), which Spark REGENERATES on
    // recreation — so run 2 is rejected on its first batch
    val sp = spark
    import sp.implicits._
    val dir = tmp("tag_same_path")
    DupState.save(DupState.init(corpus, col("doc_id"), col("text")), dir, 0L)
    val ckpt = java.nio.file.Files.createTempDirectory("graft_tag_ckpt").toString
    // run 1: advance the chain exactly ONCE under checkpoint `ckpt`
    val mem1 = MemoryStream[(Long, String)](sp)
    val q1 = EventStream.dupClusterStream(mem1.toDF.toDF("doc_id", "text"), dir,
      streamTag = Some(ckpt)).option("checkpointLocation", ckpt).start()
    mem1.addData((100L, baseText(0)))
    try q1.processAllAvailable() finally q1.stop()
    assert(DupState.load(spark, dir)._1 == 1L)
    // the operator mistake: wipe the checkpoint and start "fresh" at
    // the SAME path — batch ids restart at 0, arithmetic alone would
    // admit the v=1 rewrite (max = 1 ≤ 0 + 1)
    def rmAll(f: java.io.File): Unit = {
      Option(f.listFiles).foreach(_.foreach(rmAll)); f.delete()
    }
    rmAll(new java.io.File(ckpt))
    val mem2 = MemoryStream[(Long, String)](sp)
    val q2 = EventStream.dupClusterStream(mem2.toDF.toDF("doc_id", "text"), dir,
      streamTag = Some(ckpt)).option("checkpointLocation", ckpt).start()
    mem2.addData((300L, baseText(2)))
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      try q2.processAllAvailable() finally q2.stop()
    }
    assert(e.getMessage.contains("pinned to stream"), s"got: ${e.getMessage}")
    // chain intact: head still v=1, v=1's data unreplaced
    assert(DupState.load(spark, dir)._1 == 1L)
    assert(labels(DupState.load(spark, dir)._2.comp) ==
      labels(Dedup.dedupClusters(corpus.unionByName(docs((100L, baseText(0)))),
        col("doc_id"), col("text"))))
  }

  test("an arithmetic rejection does not leave a wrong-stream pin behind") {
    // ADVICE r16 (medium): the guards used to run tag-first, so a
    // misdirected fresh checkpoint against an untagged ≥2-advanced
    // chain ADOPTED the tag and only then failed arithmetic — pinning
    // the dir to the wrong stream and blocking the legitimate
    // checkpoint's resume. Arithmetic now runs first: the rejection
    // must leave NO _STREAM_TAG
    val sp = spark
    import sp.implicits._
    val dir = tmp("tag_order")
    DupState.save(DupState.init(corpus, col("doc_id"), col("text")), dir, 0L)
    val st0 = DupState.load(spark, dir, upTo = 0L)._2
    DupState.saveDelta(DupState.advance(st0, docs((100L, baseText(0))),
      col("doc_id"), col("text")), dir, 1L)
    val st1 = DupState.load(spark, dir, upTo = 1L)._2
    DupState.saveDelta(DupState.advance(st1, docs((101L, nearText(1))),
      col("doc_id"), col("text")), dir, 2L)
    val mem = MemoryStream[(Long, String)](sp)
    val q = EventStream.dupClusterStream(mem.toDF.toDF("doc_id", "text"), dir,
      streamTag = Some("ckpt/wrong")).start()
    mem.addData((300L, baseText(2)))
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      try q.processAllAvailable() finally q.stop()
    }
    assert(e.getMessage.contains("does not match the state dir's history"),
      s"got: ${e.getMessage}")
    assert(!new java.io.File(dir.stripPrefix("file://"),
      StateVersions.StreamTagMarker).exists(), "arithmetic rejection left a tag pin")
  }

  test("an empty stream-tag marker is treated as absent and rewritten") {
    // ADVICE r16 (low): tag adoption used create-then-write — a crash
    // between the two left a zero-byte marker that pinned every later
    // batch to stream ''. Adoption now publishes via temp+rename, and
    // an empty marker reads as ABSENT
    val dir = tmp("tag_empty")
    DupState.save(DupState.init(corpus, col("doc_id"), col("text")), dir, 0L)
    val marker = new java.io.File(dir.stripPrefix("file://"),
      StateVersions.StreamTagMarker)
    assert(marker.createNewFile() && marker.length() == 0L)
    StateVersions.requireStreamTag(spark, dir, "ckpt/X", "dup-cluster") // adopts
    assert(marker.length() > 0L)
    StateVersions.requireStreamTag(spark, dir, "ckpt/X", "dup-cluster") // same passes
    val e = intercept[IllegalArgumentException] {
      StateVersions.requireStreamTag(spark, dir, "ckpt/Y", "dup-cluster")
    }
    assert(e.getMessage.contains("pinned to stream 'ckpt/X'"), s"got: ${e.getMessage}")
  }
}
