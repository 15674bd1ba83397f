package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import graft.operators.Ingest
import graft.streaming.EventStream
import java.sql.Timestamp

/** Delta-state persistence (the 100 TB advance shape): a chain of
  * [[Ingest.saveStatesDelta]] versions over a full base must read back
  * EQUAL to the same advances persisted with full [[Ingest.saveStates]]
  * rewrites — per table, as sets — under the family's id-order arrival
  * contract; the marker protocol, replay resolution and compaction
  * must treat delta versions exactly like full ones, EXCEPT that
  * compaction never strands a retained delta's base chain.
  */
class IngestDeltaSpec extends SparkSpecBase {

  private def novelText(id: Long) = (0 until 24).map(j => s"nv${id}_$j").mkString(" ")
  private val t0 = Timestamp.valueOf("2024-01-01 10:00:00")
  private val (kw, k, depth, width) = (12, 16, 2, 32)

  private def corpusDf = {
    val sp = spark
    import sp.implicits._
    (0 until 4).map(i => (i.toLong, novelText(i))).toDF("doc_id", "text")
  }

  /** batch v: one fully novel doc + (for v=2) one doc sharing its first
    * 12-word chunk with batch 1's doc — survives the gates on its novel
    * half, so its delta must EXCLUDE the n-grams batch 1 introduced
    * (the anti-join under test).
    */
  private def batchDf(v: Long) = {
    val sp = spark
    import sp.implicits._
    val base = Seq((100L + v, novelText(100L + v)))
    val rows = if (v == 2)
      base :+ ((200L, (0 until 12).map(j => s"nv101_$j").mkString(" ") + " " + novelText(200L).split(" ").take(12).mkString(" ")))
    else base
    rows.toDF("doc_id", "text")
  }

  // the pinned on-disk layouts of the two version shapes
  private val fullTree = committedTree(Seq("keepers", "sigs", "ng3", "ng8", "kmv", "cms"))
  private val deltaTree =
    committedTree(Seq("keepers.d", "sigs.d", "ng3.d", "ng8.d", "kmv", "cms"))

  private def same(a: org.apache.spark.sql.DataFrame, b: org.apache.spark.sql.DataFrame,
      tag: String): Unit =
    assert(a.except(b).isEmpty && b.except(a).isEmpty, s"$tag diverged")

  private def sameStates(a: Ingest.States, b: Ingest.States): Unit = {
    same(a.keepers, b.keepers, "keepers")
    same(a.sigs, b.sigs, "sigs")
    same(a.ng3, b.ng3, "ng3")
    same(a.ng8, b.ng8, "ng8")
    same(a.cms, b.cms, "cms")
    assert(a.kmv.select(col("ks")).collect().map(_.getSeq[Long](0)).head ==
      b.kmv.select(col("ks")).collect().map(_.getSeq[Long](0)).head, "kmv diverged")
  }

  test("delta chain round trip ≡ full-save chain, including mid-chain upTo reads") {
    val fullDir = "file://" +
      java.nio.file.Files.createTempDirectory("graft_delta_full").toString
    val deltaDir = "file://" +
      java.nio.file.Files.createTempDirectory("graft_delta_delta").toString
    val st0 = Ingest.initStates(corpusDf, col("doc_id"), col("text"), kw, k, depth, width)
    Ingest.saveStates(st0, fullDir, 0L)
    Ingest.saveStates(st0, deltaDir, 0L)

    var stF = st0
    (1L to 3L).foreach { v =>
      val (rF, nextF) = Ingest.advanceOnce(batchDf(v), stF, col("doc_id"), col("text"),
        kw, k, depth, width)
      val (rD, _, d) = Ingest.advanceOnceDelta(batchDf(v), Ingest.loadStates(spark, deltaDir)._2,
        col("doc_id"), col("text"), kw, k, depth, width)
      assert(rF.collect().map(_.toSeq).toSeq == rD.collect().map(_.toSeq).toSeq,
        s"advance $v report diverged between regimes")
      Ingest.saveStates(nextF, fullDir, v)
      Ingest.saveStatesDelta(d, deltaDir, v)
      stF = nextF
    }
    val (vF, a) = Ingest.loadStates(spark, fullDir)
    val (vD, b) = Ingest.loadStates(spark, deltaDir)
    assert(vF == 3L && vD == 3L)
    sameStates(a, b)
    // a mid-chain replay read resolves through base + the deltas ≤ upTo
    sameStates(Ingest.loadStates(spark, fullDir, upTo = 2L)._2,
      Ingest.loadStates(spark, deltaDir, upTo = 2L)._2)
    // the shared-chunk doc's reused n-grams live in batch 1's delta ONLY
    val d2 = spark.read.parquet(s"$deltaDir/v=2/ng3.d")
    val d1 = spark.read.parquet(s"$deltaDir/v=1/ng3.d")
    assert(d2.join(d1, Seq("ng")).count() == 0, "a delta re-introduced an earlier layer's key")
  }

  test("a crashed delta save is invisible and rewritable under the same marker protocol") {
    val dirUri = "file://" +
      java.nio.file.Files.createTempDirectory("graft_delta_crash").toString
    val st0 = Ingest.initStates(corpusDf, col("doc_id"), col("text"), kw, k, depth, width)
    Ingest.saveStates(st0, dirUri, 0L)
    val (_, _, d1) = Ingest.advanceOnceDelta(batchDf(1), st0, col("doc_id"), col("text"),
      kw, k, depth, width)
    Ingest.saveStatesDelta(d1, dirUri, 1L)
    // crash mid-save at v=2: one delta table written, no marker
    val (_, _, d2) = Ingest.advanceOnceDelta(batchDf(2), Ingest.loadStates(spark, dirUri)._2,
      col("doc_id"), col("text"), kw, k, depth, width)
    d2.sigs.write.mode("overwrite").parquet(s"$dirUri/v=2/sigs.d")
    assert(Ingest.loadStates(spark, dirUri)._1 == 1L)
    // replay rewrites the same delta version and publishes
    Ingest.saveStatesDelta(d2, dirUri, 2L)
    assert(Ingest.loadStates(spark, dirUri)._1 == 2L)
  }

  test("compaction keeps a retained delta's whole base chain, reclaims below a rebase") {
    val dirUri = "file://" +
      java.nio.file.Files.createTempDirectory("graft_delta_compact").toString
    val st0 = Ingest.initStates(corpusDf, col("doc_id"), col("text"), kw, k, depth, width)
    Ingest.saveStates(st0, dirUri, 0L)
    (1L to 3L).foreach { v =>
      val (_, _, d) = Ingest.advanceOnceDelta(batchDf(v), Ingest.loadStates(spark, dirUri)._2,
        col("doc_id"), col("text"), kw, k, depth, width)
      Ingest.saveStatesDelta(d, dirUri, v)
    }
    // v=0 full, v=1..3 delta: keepLast=1 retains {3}, whose chain is
    // 0+1+2+3 — nothing may be reclaimed
    assert(Ingest.compactStates(spark, dirUri, keepLast = 1, debrisGraceMs = 0L).isEmpty)
    val (v3, st3) = Ingest.loadStates(spark, dirUri)
    assert(v3 == 3L)
    // rebase: write v=4 FULL from the loaded chain
    val (_, next4, _) = Ingest.advanceOnceDelta(batchDf(4), st3, col("doc_id"), col("text"),
      kw, k, depth, width)
    Ingest.saveStates(next4, dirUri, 4L)
    // count BEFORE compaction: next4 is lazy over the chain's files
    val sigsAtRebase = spark.read.parquet(s"$dirUri/v=4/sigs").count()
    // now keepLast=1 retains {4}, a base — everything below reclaims
    assert(Ingest.compactStates(spark, dirUri, keepLast = 1, debrisGraceMs = 0L) ==
      Seq(0L, 1L, 2L, 3L))
    assert(Ingest.loadStates(spark, dirUri)._1 == 4L)
    assert(Ingest.loadStates(spark, dirUri)._2.sigs.count() == sigsAtRebase && sigsAtRebase >= 8L)
  }

  test("bucketed base layout: layered load ≡ plain chain, advance parity, rewrite drops the layout") {
    val plainDir = "file://" +
      java.nio.file.Files.createTempDirectory("graft_delta_bplain").toString
    val bucketDir = "file://" +
      java.nio.file.Files.createTempDirectory("graft_delta_bbuck").toString
    val st0 = Ingest.initStates(corpusDf, col("doc_id"), col("text"), kw, k, depth, width)
    Ingest.saveStates(st0, plainDir, 0L)
    Ingest.saveStates(st0, bucketDir, 0L, buckets = Some(4))
    // the bucketed base carries Spark's bucket-file naming + the layout marker
    val fs = new org.apache.hadoop.fs.Path(bucketDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$bucketDir/v=0/${Ingest.BucketsMarker}")))
    assert(versionTree(bucketDir, 0L) == fullTree + "_BUCKETS")
    assert(fs.globStatus(new org.apache.hadoop.fs.Path(s"$bucketDir/v=0/ng8/*_00003*")).nonEmpty,
      "bucketed ng8 base missing bucket-suffixed files")
    (1L to 2L).foreach { v =>
      val (rP, _, dP) = Ingest.advanceOnceDelta(batchDf(v), Ingest.loadStates(spark, plainDir)._2,
        col("doc_id"), col("text"), kw, k, depth, width)
      val stB = Ingest.loadStates(spark, bucketDir)._2
      assert(stB.layers.nonEmpty, "bucketed chain load must expose layers")
      assert(stB.layers.get.ng8.size == v.toInt, s"expected ${v.toInt} ng8 layers before advance $v")
      val (rB, _, dB) = Ingest.advanceOnceDelta(batchDf(v), stB,
        col("doc_id"), col("text"), kw, k, depth, width)
      assert(rP.collect().map(_.toSeq).toSeq == rB.collect().map(_.toSeq).toSeq,
        s"advance $v report diverged between plain and bucketed-layered state")
      Ingest.saveStatesDelta(dP, plainDir, v)
      Ingest.saveStatesDelta(dB, bucketDir, v)
      assert(versionTree(bucketDir, v) == deltaTree)
    }
    sameStates(Ingest.loadStates(spark, plainDir)._2, Ingest.loadStates(spark, bucketDir)._2)
    // a plain rewrite of the bucketed base drops the layout marker —
    // a later load must not trust stale bucket metadata
    Ingest.saveStates(st0, bucketDir, 0L)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$bucketDir/v=0/${Ingest.BucketsMarker}")))
    assert(versionTree(bucketDir, 0L) == fullTree)
    assert(Ingest.loadStates(spark, bucketDir)._2.layers.isEmpty)
  }

  test("a version rewrite removes the opposite layout's stale dirs (crashed-save crossover)") {
    val dirUri = "file://" +
      java.nio.file.Files.createTempDirectory("graft_delta_xover").toString
    val st0 = Ingest.initStates(corpusDf, col("doc_id"), col("text"), kw, k, depth, width)
    Ingest.saveStates(st0, dirUri, 0L)
    assert(versionTree(dirUri, 0L) == fullTree)
    val (_, next1, d1) = Ingest.advanceOnceDelta(batchDf(1), st0, col("doc_id"), col("text"),
      kw, k, depth, width)
    // crashed FULL save at v=1: full tables land (with _SUCCESS), no marker —
    // e.g. deltaRebaseEvery phase flipped across a restart
    next1.keepers.write.mode("overwrite").parquet(s"$dirUri/v=1/keepers")
    next1.sigs.write.mode("overwrite").parquet(s"$dirUri/v=1/sigs")
    // the replay persists v=1 as a DELTA: the stale full dirs must go,
    // or listFullVersions would adopt v=1 as the chain base and read
    // the stale full tables instead of base ∪ delta
    Ingest.saveStatesDelta(d1, dirUri, 1L)
    val fs = new org.apache.hadoop.fs.Path(dirUri)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$dirUri/v=1/keepers")),
      "stale full-layout keepers dir survived a delta rewrite")
    assert(versionTree(dirUri, 1L) == deltaTree)
    val (v1, loaded) = Ingest.loadStates(spark, dirUri)
    assert(v1 == 1L)
    sameStates(loaded, next1)
    // and the reverse: a crashed DELTA save at v=2 rewritten as FULL
    // must not leave `.d` dirs for the chain read to double-count
    val (_, next2, d2) = Ingest.advanceOnceDelta(batchDf(2), loaded, col("doc_id"), col("text"),
      kw, k, depth, width)
    d2.ng3.write.mode("overwrite").parquet(s"$dirUri/v=2/ng3.d")
    Ingest.saveStates(next2, dirUri, 2L)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$dirUri/v=2/ng3.d")),
      "stale delta-layout ng3.d dir survived a full rewrite")
    assert(versionTree(dirUri, 2L) == fullTree)
    sameStates(Ingest.loadStates(spark, dirUri)._2, next2)
  }

  test("compaction refuses (loudly) when the retained floor's base chain is unreadable") {
    val dirUri = "file://" +
      java.nio.file.Files.createTempDirectory("graft_delta_strand").toString
    val st0 = Ingest.initStates(corpusDf, col("doc_id"), col("text"), kw, k, depth, width)
    Ingest.saveStates(st0, dirUri, 0L)
    (1L to 2L).foreach { v =>
      val (_, _, d) = Ingest.advanceOnceDelta(batchDf(v), Ingest.loadStates(spark, dirUri)._2,
        col("doc_id"), col("text"), kw, k, depth, width)
      Ingest.saveStatesDelta(d, dirUri, v)
    }
    // the base vanishes externally: the chain is already unreadable —
    // compaction must not also delete the remaining forensic versions
    val fs = new org.apache.hadoop.fs.Path(dirUri)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(s"$dirUri/v=0"), true)
    intercept[IllegalArgumentException] {
      Ingest.compactStates(spark, dirUri, keepLast = 1, debrisGraceMs = 0L)
    }
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$dirUri/v=1")) &&
      fs.exists(new org.apache.hadoop.fs.Path(s"$dirUri/v=2")),
      "a refused compaction must leave every version in place")
  }

  test("stream sink with deltaRebaseEvery: delta/base layout, parity, retention-safe") {
    val sp = spark
    import sp.implicits._
    implicit val sc = sp.sqlContext
    val stateDir = java.nio.file.Files.createTempDirectory("graft_delta_stream").toString
    val reportDir = java.nio.file.Files.createTempDirectory("graft_delta_streamr").toString
    val st0 = Ingest.initStates(corpusDf, col("doc_id"), col("text"), kw, k, depth, width)
    Ingest.saveStates(st0, stateDir, 0L)

    val mem = MemoryStream[IngestDoc]
    val q = EventStream.ingestAdvanceStream(mem.toDF(), stateDir, reportDir,
      kw, k, depth, width, keepLast = Some(2), deltaRebaseEvery = Some(2)).start()
    try {
      (1 to 3).foreach { i =>
        mem.addData(Seq(IngestDoc(100L + i, t0, novelText(100L + i))))
        q.processAllAvailable()
      }
    } finally q.stop()

    val fs = new org.apache.hadoop.fs.Path(stateDir)
      .getFileSystem(sp.sparkContext.hadoopConfiguration)
    // v1 delta, v2 rebase (full), v3 delta; keepLast=2 after batch 2
    // retains {2,3} and reclaims {0,1} (v2 is a base, chain intact)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$stateDir/v=0")))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$stateDir/v=1")))
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$stateDir/v=2/keepers")))
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$stateDir/v=3/keepers.d")))
    // parity with the manual delta chain from the same bootstrap
    var st = st0
    (1L to 3L).foreach { v =>
      val batch = Seq((100L + v, novelText(100L + v))).toDF("doc_id", "text")
      val (_, next, _) = Ingest.advanceOnceDelta(batch, st, col("doc_id"), col("text"),
        kw, k, depth, width)
      st = next
    }
    val (vHead, streamed) = Ingest.loadStates(sp, stateDir)
    assert(vHead == 3L)
    sameStates(streamed, st)
    assert(sp.read.parquet(reportDir).select("batch_id").distinct().count() == 3L)
  }
}
