package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.operators.{Ingest, StateVersions}
import graft.streaming.EventStream
import java.sql.Timestamp

// top-level, NOT an inner class (UnsafeProjection codegen)
final case class IngestDoc(doc_id: Long, ts: Timestamp, text: String)

/** The composed ingest-advance stream (q127's chain as a foreachBatch
  * sink) must equal the batch advance on the same rows under id-order
  * arrival, THROUGH the versioned-parquet state round trip: two
  * micro-batches advance the persisted family, a batch-2 verbatim copy
  * of a batch-1 doc dies at the chunk gate (cross-batch state works),
  * and the final states + reports equal chaining Ingest.advanceOnce by
  * hand from the same bootstrap.
  */
class IngestStreamSpec extends SparkSpecBase {

  private def word(i: Int, j: Int) = s"w${(i * 7 + j * 3) % 10}"
  private def docText(i: Int) = (0 until 24).map(j => word(i, j)).mkString(" ")
  private def novelText(id: Long) = (0 until 24).map(j => s"nv${id}_$j").mkString(" ")
  private val t0 = Timestamp.valueOf("2024-01-01 10:00:00")

  test("ingestAdvanceStream ≡ chained batch advances through the state round trip") {
    val sp = spark
    import sp.implicits._
    implicit val sc = sp.sqlContext
    val (kw, k, depth, width) = (12, 16, 2, 32)
    val stateDir = java.nio.file.Files.createTempDirectory("graft_ingest_state").toString
    val reportDir = java.nio.file.Files.createTempDirectory("graft_ingest_report").toString

    val corpus = (0 until 8).map(i => (i.toLong, docText(i))).toDF("doc_id", "text")
    Ingest.saveStates(Ingest.initStates(corpus, col("doc_id"), col("text"), kw, k, depth, width),
      stateDir, 0L)

    val batch1 = Seq(
      IngestDoc(101L, t0, docText(1)),      // exact copy of corpus doc 1
      IngestDoc(103L, t0, novelText(103L))) // novel
    val batch2 = Seq(
      IngestDoc(201L, t0, novelText(103L)), // verbatim copy of the BATCH-1 novel doc
      IngestDoc(203L, t0, novelText(203L))) // novel

    val mem = MemoryStream[IngestDoc]
    val q = EventStream.ingestAdvanceStream(mem.toDF(), stateDir, reportDir,
      kw, k, depth, width).start()
    try {
      mem.addData(batch1); q.processAllAvailable()
      mem.addData(batch2); q.processAllAvailable()
    } finally q.stop()

    // manual chain from the same bootstrap
    val st0 = Ingest.initStates(corpus, col("doc_id"), col("text"), kw, k, depth, width)
    val (r1, st1) = Ingest.advanceOnce(batch1.toDF(), st0, col("doc_id"), col("text"),
      kw, k, depth, width)
    val (r2, st2) = Ingest.advanceOnce(batch2.toDF(), st1, col("doc_id"), col("text"),
      kw, k, depth, width)

    // reports match the manual chain row for row
    val reports = sp.read.parquet(reportDir)
    def row(df: org.apache.spark.sql.DataFrame) = df
      .select("n_batch", "n_chunk_surv", "n_simhash_dup", "n_surv",
        "novel_ppm", "n_selfrep_spans", "est_vocab")
      .collect().map(_.toSeq).toSeq
    assert(row(reports.filter(col("batch_id") === 0)) == row(r1))
    assert(row(reports.filter(col("batch_id") === 1)) == row(r2))
    // cross-batch state: batch 2's verbatim copy of the batch-1 novel
    // doc dies at the CHUNK gate (its chunks entered keepers at v=1)
    val rep2 = reports.filter(col("batch_id") === 1)
      .select("n_batch", "n_chunk_surv").collect().head
    assert(rep2.getLong(0) == 2L && rep2.getLong(1) == 1L,
      "batch-2 copy of a batch-1 doc must be chunk-gated by the ADVANCED state")

    // final persisted states ≡ the manual chain's (set equality)
    val (v, streamed) = Ingest.loadStates(sp, stateDir)
    assert(v == 2L)
    def same(a: org.apache.spark.sql.DataFrame, b: org.apache.spark.sql.DataFrame,
        tag: String): Unit =
      assert(a.except(b).isEmpty && b.except(a).isEmpty, s"$tag state diverged")
    same(streamed.keepers, st2.keepers, "keepers")
    same(streamed.sigs, st2.sigs, "sigs")
    same(streamed.ng3, st2.ng3, "ng3")
    same(streamed.ng8, st2.ng8, "ng8")
    same(streamed.cms, st2.cms, "cms")
    assert(streamed.kmv.select(col("ks")).collect().map(_.getSeq[Long](0)).head ==
      st2.kmv.select(col("ks")).collect().map(_.getSeq[Long](0)).head, "kmv state diverged")

    // backfill mergeability: the chained family ≡ a from-scratch
    // bootstrap — keepers on the chunk-hash SET over every seen doc
    // (the keep owner follows arrival), the gated states over the
    // corpus plus the ADMITTED docs (read back from the final sigs)
    val all = corpus.unionByName((batch1 ++ batch2).toDF().select("doc_id", "text"))
    val admitted = all.join(st2.sigs.select(col("doc_id")), Seq("doc_id"))
    val ref = Ingest.initStates(admitted, col("doc_id"), col("text"), kw, k, depth, width)
    same(st2.keepers.select(col("h")),
      Ingest.initStates(all, col("doc_id"), col("text"), kw, k, depth, width)
        .keepers.select(col("h")), "keepers vs from-scratch")
    same(st2.sigs, ref.sigs, "sigs vs from-scratch")
    same(st2.ng3, ref.ng3, "ng3 vs from-scratch")
    same(st2.ng8, ref.ng8, "ng8 vs from-scratch")
    same(st2.cms, ref.cms, "cms vs from-scratch")
    assert(st2.kmv.select(col("ks")).collect().map(_.getSeq[Long](0)).head ==
      ref.kmv.select(col("ks")).collect().map(_.getSeq[Long](0)).head,
      "kmv diverged from the from-scratch build")
  }

  test("keepLast retention in the sink: versions bounded, crash-replay still resolves") {
    val sp = spark
    import sp.implicits._
    implicit val sc = sp.sqlContext
    val (kw, k, depth, width) = (12, 16, 2, 32)
    val stateDir = java.nio.file.Files.createTempDirectory("graft_ingest_keep").toString
    val reportDir = java.nio.file.Files.createTempDirectory("graft_ingest_keepr").toString
    val corpus = (0 until 8).map(i => (i.toLong, docText(i))).toDF("doc_id", "text")
    Ingest.saveStates(Ingest.initStates(corpus, col("doc_id"), col("text"), kw, k, depth, width),
      stateDir, 0L)

    val mem = MemoryStream[IngestDoc]
    val q = EventStream.ingestAdvanceStream(mem.toDF(), stateDir, reportDir,
      kw, k, depth, width, keepLast = Some(2)).start()
    try {
      (1 to 3).foreach { i =>
        mem.addData(Seq(IngestDoc(100L + i, t0, novelText(100L + i))))
        q.processAllAvailable()
      }
    } finally q.stop()

    // batches 0..2 saved v=1..3; retention kept the newest two: {2, 3}
    assert(StateVersions.resolve(sp, stateDir, Ingest.family).committed == Seq(2L, 3L))
    // a crash-replay of the LAST batch (id 2, the only one foreachBatch
    // can replay) loads version ≤ 2 — still within retention
    assert(Ingest.loadStates(sp, stateDir, upTo = 2L)._1 == 2L)
    // older replays fail loudly, never re-bootstrap
    intercept[IllegalArgumentException] { Ingest.loadStates(sp, stateDir, upTo = 1L) }
    // every batch's report landed despite compaction running in-sink
    assert(sp.read.parquet(reportDir).select("batch_id").distinct().count() == 3L)
    // keepLast = 1 would compact away the replay version — rejected at wiring
    intercept[IllegalArgumentException] {
      EventStream.ingestAdvanceStream(mem.toDF(), stateDir, reportDir,
        kw, k, depth, width, keepLast = Some(1))
    }
  }
}
