package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Dedup, StateVersions}

/** The Cluster1000 staging contract (ADVICE r8): stageEager's
  * MEMORY_AND_DISK fallback must not leak cached blocks in a
  * long-lived session. Residency is bounded — each staging entry
  * point releases the previous invocation's blocks on entry — and
  * `Dedup.releaseStaged` is the explicit cleanup handle that frees
  * the last invocation's blocks too. Runs against a newSession
  * tagged cluster1000 (profileOf is per-session conf) sharing the
  * test SparkContext. Block-level freeing is asserted on the
  * ngramJaccardPairs path via RDD-id set deltas (its staged path
  * persists WITHOUT the CC localCheckpoints that the funnel path
  * leaves to the ContextCleaner); the funnel path asserts on the
  * registry gauge, which is what entry-release and the handle act on.
  */
class StagedReleaseSpec extends AnyFunSuite {

  private def clusterSession = {
    val s = TestSpark.spark.newSession()
    s.conf.set("spark.graft.profile", "cluster1000")
    s
  }

  private def persistedIds = TestSpark.spark.sparkContext.getPersistentRDDs.keySet

  test("cluster-profile funnel staging is bounded across calls and freed by releaseStaged") {
    val s = clusterSession
    import s.implicits._
    val docs = (1 to 40).map(i => (i.toLong, s"alpha beta gamma delta epsilon doc$i"))
      .toDF("doc_id", "text")

    assert(Dedup.stagedBlockCount(s) == 0)
    val r1 = Dedup.dedupFunnel(docs, col("doc_id"), col("text"))
    assert(r1.count() == 4)
    val afterFirst = Dedup.stagedBlockCount(s)
    assert(afterFirst > 0, "cluster profile should stage via persist and register")

    // a second staging operator releases the PREVIOUS call's blocks at
    // entry — the registry never accumulates call-over-call
    val r2 = Dedup.dedupFunnel(docs, col("doc_id"), col("text"))
    assert(r2.count() == 4)
    assert(Dedup.stagedBlockCount(s) <= afterFirst,
      "staging registry accumulated across calls")

    // the explicit handle empties the registry; idempotent after
    Dedup.releaseStaged(s)
    assert(Dedup.stagedBlockCount(s) == 0)
    Dedup.releaseStaged(s)
    assert(Dedup.stagedBlockCount(s) == 0)
  }

  test("ngramJaccardPairs' staged shingles persist and releaseStaged frees the actual blocks") {
    val s = clusterSession
    // stageEager routes to the persist branch only when NO
    // context-level checkpoint dir is set — fail loudly (skip) if
    // another suite set one, instead of silently testing nothing
    // (r10: block-level assertions moved from fuzzyJoin1 — whose
    // sampled detection no longer stages anything — to the
    // ngramJaccardPairs hashed-shingle staging, which is
    // unconditional on the cluster profile)
    assume(s.sparkContext.getCheckpointDir.isEmpty,
      "a checkpoint dir routes stageEager away from the persist branch")
    import s.implicits._
    val docs = (1 to 30).map(i => (i.toLong, s"alpha beta gamma delta epsilon zeta doc$i"))
      .toDF("doc_id", "text")
    val base = persistedIds
    val out = Dedup.ngramJaccardPairs(docs, col("doc_id"), col("text"), 3, 1000, 0.1)
    // ids created by THIS call (snapshot immediately after return):
    // the release assertion below is restricted to these, so a
    // concurrent suite persisting/unpersisting unrelated RDDs in the
    // background can't flake it
    val created = persistedIds -- base
    assert(out.count() > 0)
    assert(Dedup.stagedBlockCount(s) == 1, "hashed-shingle staging registered")
    assert(created.nonEmpty, "staged blocks live before release")
    Dedup.releaseStaged(s)
    assert(Dedup.stagedBlockCount(s) == 0)
    assert(persistedIds.intersect(created).isEmpty,
      "releaseStaged must unpersist every block this call staged")
  }

  test("concurrent scopes: entry-release never frees an in-flight invocation's blocks") {
    // The ADVICE r9 hazard, now a contract: invocation A stages and
    // HOLDS its scope open on another thread; invocation B enters
    // (entry-release runs) and must skip A's live token; once A's
    // scope closes, the next entrant frees A's now-completed staging.
    val s = clusterSession
    assume(s.sparkContext.getCheckpointDir.isEmpty,
      "a checkpoint dir routes stageEager away from the persist branch")
    import s.implicits._
    val df = (1 to 10).map(i => (i.toLong, s"v$i")).toDF("id", "v")
    val staged = new java.util.concurrent.CountDownLatch(1)
    val release = new java.util.concurrent.CountDownLatch(1)
    @volatile var aFailed: Throwable = null
    val tA = new Thread(() => {
      try Dedup.withStagingScope(s) {
        Dedup.stageEager(df)
        staged.countDown()
        release.await()
      } catch { case t: Throwable => aFailed = t; staged.countDown() }
    })
    tA.start()
    staged.await()
    assert(aFailed == null, s"staging thread failed: $aFailed")
    assert(Dedup.stagedBlockCount(s) == 1)
    // B enters and exits while A is still in flight
    var seenDuringB = -1
    Dedup.withStagingScope(s) { seenDuringB = Dedup.stagedBlockCount(s) }
    assert(seenDuringB == 1,
      "B's entry-release must NOT free the in-flight invocation's staging")
    release.countDown(); tA.join(30000)
    assert(!tA.isAlive)
    // A's token is retired — the next entrant releases its blocks
    Dedup.withStagingScope(s) {
      assert(Dedup.stagedBlockCount(s) == 0,
        "completed invocation's staging must be freed on the next entry")
    }
    Dedup.releaseStaged(s)
  }

  test("nested scopes restore the outer token — post-nested staging stays in-flight") {
    // The ADVICE r10 reentrancy hazard, now a contract: a composed
    // entry point (ForecastPipeline.run calling a staging operator)
    // opens a scope INSIDE another. When the nested scope exits it
    // must restore the OUTER invocation's token, so the outer's
    // subsequent stageEager entries stay tagged in-flight — before the
    // fix they were tagged null and a concurrent entrant freed them
    // mid-invocation.
    val s = clusterSession
    assume(s.sparkContext.getCheckpointDir.isEmpty,
      "a checkpoint dir routes stageEager away from the persist branch")
    import s.implicits._
    val inner = (1 to 10).map(i => (i.toLong, s"i$i")).toDF("id", "v")
    val outer = (1 to 10).map(i => (i.toLong, s"o$i")).toDF("id", "v")
    Dedup.withStagingScope(s) {
      Dedup.withStagingScope(s) { Dedup.stageEager(inner) }
      // nested token retired; this entry must carry the restored OUTER
      // token, not null
      Dedup.stageEager(outer)
      var seenAfterB = -1
      val tB = new Thread(() =>
        Dedup.withStagingScope(s) { seenAfterB = Dedup.stagedBlockCount(s) })
      tB.start(); tB.join(30000)
      assert(!tB.isAlive)
      // B's entry-release frees the COMPLETED nested invocation's block
      // and must keep the outer's in-flight one
      assert(seenAfterB == 1,
        "outer-token staging freed mid-flight — token not restored after nested scope")
    }
    Dedup.releaseStaged(s)
    assert(Dedup.stagedBlockCount(s) == 0)
  }

  test("a helper thread carrying the caller's token stages in-flight (par2 contract)") {
    // r17 verdict #1: par2's future leg ran with a NULL staging token,
    // so its staged blocks were releasable mid-flight by the other
    // leg's scope entries. The leg now installs the caller's token;
    // staging done in StateVersions.par2's pool-thread leg must
    // survive a concurrent entrant for as long as the caller's scope
    // is live.
    val s = clusterSession
    assume(s.sparkContext.getCheckpointDir.isEmpty,
      "a checkpoint dir routes stageEager away from the persist branch")
    import s.implicits._
    val df = (1 to 10).map(i => (i.toLong, s"p$i")).toDF("id", "v")
    Dedup.withStagingScope(s) {
      assert(Dedup.currentStagingToken != null,
        "scope must install a token on the calling thread")
      val (_, legThread) = StateVersions.par2((), {
        Dedup.stageEager(df); Thread.currentThread()
      })
      assert(legThread ne Thread.currentThread(), "leg b must run on a pool thread")
      assert(Dedup.stagedBlockCount(s) == 1)
      // a concurrent entrant's entry-release must keep the block: it is
      // tagged with the CALLER's live token, not null
      var seen = -1
      val tB = new Thread(() =>
        Dedup.withStagingScope(s) { seen = Dedup.stagedBlockCount(s) })
      tB.start(); tB.join(30000)
      assert(!tB.isAlive)
      assert(seen == 1,
        "helper-thread staging freed mid-flight — caller token not propagated")
    }
    Dedup.releaseStaged(s)
    assert(Dedup.stagedBlockCount(s) == 0)
  }

  test("local profile stages via localCheckpoint — releaseStaged is a no-op") {
    val s = TestSpark.spark
    import s.implicits._
    val docs = (1 to 20).map(i => (i.toLong, s"zeta eta theta doc$i")).toDF("doc_id", "text")
    assert(Dedup.dedupFunnel(docs, col("doc_id"), col("text")).count() == 4)
    assert(Dedup.stagedBlockCount(s) == 0)
    Dedup.releaseStaged(s)
  }
}
