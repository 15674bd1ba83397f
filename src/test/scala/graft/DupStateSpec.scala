package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import graft.operators.{Dedup, DupState, StateVersions}
import graft.streaming.EventStream

/** Persisted dup-cluster subsystem lifecycle: a chain of DupState delta
  * versions over a full base must read back the SAME assignment a
  * from-scratch dedupClusters over all docs computes (the q130 oracle
  * invariant, pinned here without DuckDB); the marker protocol, layout
  * crossovers, retention, and the streaming sink follow the Ingest
  * family's contracts.
  */
class DupStateSpec extends SparkSpecBase {

  // doc j: 24 distinct words; a near copy shares all of them plus 3
  // extra (3-shingle jaccard ≈ 0.85, well above the 0.5 gate); docs
  // with different j share nothing
  private def baseText(j: Long) = (0 until 24).map(i => s"d${j}_w$i").mkString(" ")
  private def nearText(j: Long) = baseText(j) + " graft extra marker"

  private def docs(rows: (Long, String)*): DataFrame = {
    val sp = spark
    import sp.implicits._
    rows.toDF("doc_id", "text")
  }

  private def corpus = docs((0L to 7L).map(j => (j, baseText(j))): _*)

  private def labels(df: DataFrame): Map[Long, Long] =
    df.select(col("doc_id"), col("cluster_id")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap

  private def tmp(tag: String) = "file://" +
    java.nio.file.Files.createTempDirectory(s"graft_dup_$tag").toString

  test("two-delta chain reads back the from-scratch assignment; appends are exact") {
    val dir = tmp("chain")
    DupState.save(DupState.init(corpus, col("doc_id"), col("text")), dir, 0L)
    val b1 = docs((100L, baseText(0)), (101L, nearText(1)), (102L, baseText(50)))
    val st0 = DupState.load(spark, dir, upTo = 0L)._2
    DupState.saveDelta(DupState.advance(st0, b1, col("doc_id"), col("text")), dir, 1L)
    val b2 = docs((200L, nearText(0)), (201L, baseText(50)), (202L, baseText(60)))
    val st1 = DupState.load(spark, dir, upTo = 1L)._2
    DupState.saveDelta(DupState.advance(st1, b2, col("doc_id"), col("text")), dir, 2L)
    val st2 = DupState.load(spark, dir, upTo = 2L)._2

    val allDocs = corpus.unionByName(b1).unionByName(b2)
    val scratch = labels(Dedup.dedupClusters(allDocs, col("doc_id"), col("text")))
    assert(labels(st2.comp) == scratch)
    // cross-BATCH pair (101 never met 200's text, but 100/200 both copy
    // doc 0): the chain must have clustered {0, 100, 200}
    assert(scratch(200L) == 0L && scratch(100L) == 0L)
    // batch-only cluster across two batches: {102, 201} copy unseen doc 50
    assert(labels(st2.comp)(201L) == 102L)
    // append tables carry exactly one row set per doc, all layers united
    val expectNgr = allDocs.select(col("doc_id"),
      explode(Dedup.hashedNgrams(allDocs, col("text"), 3)).as("ng"))
    assert(st2.ngr.except(expectNgr).isEmpty && expectNgr.except(st2.ngr).isEmpty)
    assert(st2.sizes.count() == 14L && st2.bands.count() == 14L * 4)
  }

  test("mid-chain upTo read reproduces that advance's state") {
    val dir = tmp("upto")
    DupState.save(DupState.init(corpus, col("doc_id"), col("text")), dir, 0L)
    val b1 = docs((100L, baseText(2)))
    val st0 = DupState.load(spark, dir, upTo = 0L)._2
    DupState.saveDelta(DupState.advance(st0, b1, col("doc_id"), col("text")), dir, 1L)
    val b2 = docs((200L, baseText(2)))
    val st1 = DupState.load(spark, dir, upTo = 1L)._2
    DupState.saveDelta(DupState.advance(st1, b2, col("doc_id"), col("text")), dir, 2L)
    val at1 = labels(DupState.load(spark, dir, upTo = 1L)._2.comp)
    assert(at1 == labels(Dedup.dedupClusters(corpus.unionByName(b1),
      col("doc_id"), col("text"))))
    assert(DupState.load(spark, dir)._1 == 2L)
  }

  test("an uncommitted version is invisible and its replay republishes") {
    val dir = tmp("crash")
    DupState.save(DupState.init(corpus, col("doc_id"), col("text")), dir, 0L)
    val b1 = docs((100L, baseText(3)))
    val st0 = DupState.load(spark, dir, upTo = 0L)._2
    val d1 = DupState.advance(st0, b1, col("doc_id"), col("text"))
    DupState.saveDelta(d1, dir, 1L)
    // crash simulation: strip v=1's marker — the chain head must fall
    // back to v=0
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(s"$dir/v=1/_COMMITTED"), false)
    assert(DupState.load(spark, dir)._1 == 0L)
    // replay rewrites the same version and republishes
    DupState.saveDelta(d1, dir, 1L)
    assert(DupState.load(spark, dir)._1 == 1L)
    assert(labels(DupState.load(spark, dir)._2.comp) ==
      labels(Dedup.dedupClusters(corpus.unionByName(b1), col("doc_id"), col("text"))))
  }

  test("layout crossover removes the stale opposite layout") {
    val dir = tmp("cross")
    // the pinned on-disk layouts of the two version shapes
    val fullTree = committedTree(Seq("bands", "ngr", "sizes", "comp"))
    val deltaTree = committedTree(Seq("bands.d", "ngr.d", "sizes.d", "comp.d"))
    DupState.save(DupState.init(corpus, col("doc_id"), col("text")), dir, 0L)
    assert(versionTree(dir, 0L) == fullTree)
    val b1 = docs((100L, baseText(4)))
    val st0 = DupState.load(spark, dir, upTo = 0L)._2
    val d1 = DupState.advance(st0, b1, col("doc_id"), col("text"))
    // delta at v=1, then a FULL rewrite at the same version (the
    // crashed-save-replayed-as-rebase shape): the delta dirs must go
    DupState.saveDelta(d1, dir, 1L)
    assert(versionTree(dir, 1L) == deltaTree)
    DupState.save(DupState.merged(st0, d1), dir, 1L)
    assert(versionTree(dir, 1L) == fullTree)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$dir/v=1/comp.d")))
    val full = labels(DupState.load(spark, dir, upTo = 1L)._2.comp)
    // and back: a delta rewrite over the full layout removes full dirs
    DupState.saveDelta(d1, dir, 1L)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$dir/v=1/comp")))
    assert(versionTree(dir, 1L) == deltaTree)
    assert(labels(DupState.load(spark, dir, upTo = 1L)._2.comp) == full)
  }

  test("compaction slides to the chain base and refuses a strand") {
    val dir = tmp("compact")
    DupState.save(DupState.init(corpus, col("doc_id"), col("text")), dir, 0L)
    var st = DupState.load(spark, dir, upTo = 0L)._2
    (1L to 3L).foreach { v =>
      // copies of corpus docs 0..2, so comp stays populated through the chain
      val b = docs((100L + v, baseText(v - 1)))
      DupState.saveDelta(DupState.advance(st, b, col("doc_id"), col("text")), dir, v)
      st = DupState.load(spark, dir, upTo = v)._2
    }
    // keepLast=2 would cut at v=2, but v=2 is a delta whose base is
    // v=0: the floor slides to v=0 and nothing is deleted
    DupState.compact(spark, dir, keepLast = 2)
    assert(StateVersions.resolve(spark, dir, DupState.family).committed == Seq(0L, 1L, 2L, 3L))
    // rebase at v=4 and one delta above it: the floor (v=4) is now a
    // full base, so everything below reclaims
    val d4 = DupState.advance(st, docs((300L, baseText(20))), col("doc_id"), col("text"))
    DupState.save(DupState.merged(st, d4), dir, 4L)
    val st4 = DupState.load(spark, dir, upTo = 4L)._2
    DupState.saveDelta(DupState.advance(st4, docs((301L, baseText(21))),
      col("doc_id"), col("text")), dir, 5L)
    DupState.compact(spark, dir, keepLast = 2)
    assert(StateVersions.resolve(spark, dir, DupState.family).committed == Seq(4L, 5L))
    assert(labels(DupState.load(spark, dir)._2.comp).nonEmpty)
    // external damage: remove the base, leave its deltas — compaction
    // must refuse loudly rather than delete the remaining evidence
    val st5 = DupState.load(spark, dir, upTo = 5L)._2
    DupState.saveDelta(DupState.advance(st5, docs((302L, baseText(22))),
      col("doc_id"), col("text")), dir, 6L)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(s"$dir/v=4"), true)
    val e = intercept[IllegalArgumentException](DupState.compact(spark, dir, keepLast = 1))
    assert(e.getMessage.contains("refusing to compact"))
    assert(StateVersions.resolve(spark, dir, DupState.family).committed == Seq(5L, 6L))
  }

  test("streaming sink: three micro-batches with a rebase equal the from-scratch run") {
    val sp = spark
    import sp.implicits._
    val dir = tmp("stream")
    DupState.save(DupState.init(corpus, col("doc_id"), col("text")), dir, 0L)
    val mem = MemoryStream[(Long, String)](sp)
    val q = EventStream.dupClusterStream(
      mem.toDF.toDF("doc_id", "text"), dir, rebaseEvery = Some(2)).start()
    val batches = Seq(
      Seq((100L, baseText(0)), (101L, baseText(30))),
      Seq((200L, nearText(0)), (201L, baseText(30))),
      Seq((300L, baseText(31)), (301L, nearText(31))))
    try batches.foreach { b => mem.addData(b: _*); q.processAllAvailable() }
    finally q.stop()
    val all = corpus.unionByName(docs(batches.flatten: _*))
    assert(labels(DupState.load(spark, dir)._2.comp) ==
      labels(Dedup.dedupClusters(all, col("doc_id"), col("text"))))
    assert(DupState.load(spark, dir)._1 == 3L)
    // v=2 was the rebase (full layout), v=3 a delta above it
    assert(StateVersions.resolve(spark, dir, DupState.family).chainAt().get.base == 2L)
  }

  test("a zero-divisor shingle-hash collision drops the pair instead of killing the job") {
    // both 3-gram shingles of this 4-word text poly-hash to 244116388
    // (found by brute force over the 31-bit space — the collision a
    // 100 TB corpus hits constantly): two verbatim copies then have
    // join-multiplied inter = 4 against na + nb - inter = 0, the ANSI
    // division crash fixed in r15. try_divide's NULL must DROP the
    // pair — exactly the DuckDB oracle's division-by-zero (NULL) —
    // never throw.
    val t = "x37642 qa qb y7832"
    val d = docs((1L, t), (2L, t))
    assert(Dedup.minHashLshPairs(d, col("doc_id"), col("text"), 3, 4, 4, 0.5).count() == 0L)
    // the persisted-state advance path survives the same corner (its
    // cross-candidate verify is the same join-multiplied intersection)
    val dir = tmp("collide")
    DupState.save(DupState.init(docs((1L, t)), col("doc_id"), col("text")), dir, 0L)
    val st = DupState.load(spark, dir, upTo = 0L)._2
    val adv = DupState.advance(st, docs((100L, t)), col("doc_id"), col("text"))
    assert(adv.comp.count() == 0L)
  }

  test("a fresh checkpoint against an already-advanced chain is rejected, not overwritten") {
    val sp = spark
    import sp.implicits._
    val dir = tmp("ckpt")
    // chain advanced to v=2 by a previous stream/driver
    DupState.save(DupState.init(corpus, col("doc_id"), col("text")), dir, 0L)
    val st0 = DupState.load(spark, dir, upTo = 0L)._2
    DupState.saveDelta(DupState.advance(st0, docs((100L, baseText(0))),
      col("doc_id"), col("text")), dir, 1L)
    val st1 = DupState.load(spark, dir, upTo = 1L)._2
    DupState.saveDelta(DupState.advance(st1, docs((101L, baseText(1))),
      col("doc_id"), col("text")), dir, 2L)
    // a NEW query (fresh checkpoint: batch ids restart at 0) against the
    // same dir must fail the first batch instead of overwriting v=1
    // under the committed v=2 (a mixed-history head)
    val mem = MemoryStream[(Long, String)](sp)
    val q = EventStream.dupClusterStream(mem.toDF.toDF("doc_id", "text"), dir).start()
    mem.addData((300L, baseText(2)))
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      try q.processAllAvailable() finally q.stop()
    }
    assert(e.getMessage.contains("does not match"), s"got: ${e.getMessage}")
    // nothing was written: the chain still reads back v=2 intact
    assert(DupState.load(spark, dir)._1 == 2L)
  }
}
