package graft

import org.apache.spark.sql.functions._
import graft.operators.{Ingest, StateVersions}

/** The state family's persistence contract on its own filesystem API:
  * version discovery goes through the Hadoop FileSystem of the dir's
  * scheme (exercised here through an explicit `file:` URI — the same
  * code path an HDFS/S3 dir takes, unlike a bare local path which
  * java.io would also have handled), `≤ upTo` replay resolution, and
  * [[Ingest.compactStates]] retention: compaction keeps the newest N
  * versions, a replay within retention still resolves, and a replay
  * OLDER than retention fails loudly on loadStates' require instead of
  * silently re-bootstrapping.
  */
class IngestStateSpec extends SparkSpecBase {

  private def novelText(id: Long) = (0 until 24).map(j => s"nv${id}_$j").mkString(" ")

  private def freshFamily(dirUri: String): Unit = {
    val sp = spark
    import sp.implicits._
    val corpus = (0 until 4).map(i => (i.toLong, novelText(i))).toDF("doc_id", "text")
    var st = Ingest.initStates(corpus, col("doc_id"), col("text"), 12, 8, 2, 16)
    Ingest.saveStates(st, dirUri, 0L)
    (1L to 3L).foreach { v =>
      val batch = Seq((100L + v, novelText(100L + v))).toDF("doc_id", "text")
      val (_, next) = Ingest.advanceOnce(batch, st, col("doc_id"), col("text"), 12, 8, 2, 16)
      st = next
      Ingest.saveStates(st, dirUri, v)
    }
  }

  test("save/load round trip through an explicit file: URI (Hadoop FS path)") {
    val dirUri = "file://" +
      java.nio.file.Files.createTempDirectory("graft_state_uri").toString
    freshFamily(dirUri)
    val (v, st) = Ingest.loadStates(spark, dirUri)
    assert(v == 3L)
    assert(st.keepers.count() > 0 && st.sigs.count() > 0 && st.kmv.count() == 1)
    // replay resolution: a crashed attempt re-reads the version ≤ its id
    val (v1, _) = Ingest.loadStates(spark, dirUri, upTo = 1L)
    assert(v1 == 1L)
    // half-written NEWER versions are ignored by the ≤ upTo contract
    val (v2, _) = Ingest.loadStates(spark, dirUri, upTo = 2L)
    assert(v2 == 2L)
  }

  test("missing dir fails loudly (no silent empty-family bootstrap)") {
    val e = intercept[IllegalArgumentException] {
      Ingest.loadStates(spark, "file:///tmp/graft_state_does_not_exist_xyz")
    }
    assert(e.getMessage.contains("no state version"))
  }

  test("a crashed save (no commit marker) is invisible to loadStates and rewritable") {
    val dirUri = "file://" +
      java.nio.file.Files.createTempDirectory("graft_state_crash").toString
    freshFamily(dirUri)
    val (v3, st3) = Ingest.loadStates(spark, dirUri)
    assert(v3 == 3L)
    // simulate a crash mid-save at v=4: some tables written, no marker
    st3.keepers.write.mode("overwrite").parquet(s"$dirUri/v=4/keepers")
    st3.sigs.write.mode("overwrite").parquet(s"$dirUri/v=4/sigs")
    // the half-written version must NOT be adopted as latest
    assert(Ingest.loadStates(spark, dirUri)._1 == 3L)
    // the replay rewrites the same version and publishes it atomically
    Ingest.saveStates(st3, dirUri, 4L)
    val (v4, st4) = Ingest.loadStates(spark, dirUri)
    assert(v4 == 4L)
    assert(st4.keepers.count() == st3.keepers.count())
    // a dir where EVERY version is uncommitted fails loudly — and since
    // it is indistinguishable from a pre-marker family, the failure
    // names the migration; the adopt helper still refuses the
    // incomplete dir (one table of six), so nothing gets published
    val lone = "file://" +
      java.nio.file.Files.createTempDirectory("graft_state_lone").toString
    st3.kmv.write.parquet(s"$lone/v=0/kmv")
    val e = intercept[IllegalArgumentException] { Ingest.loadStates(spark, lone) }
    assert(e.getMessage.contains("adoptLegacyVersions"))
    assert(Ingest.adoptLegacyVersions(spark, lone).isEmpty)
    intercept[IllegalArgumentException] { Ingest.loadStates(spark, lone) }
  }

  test("compactStates sweeps superseded crash debris, leaves in-flight attempts") {
    val dirUri = "file://" +
      java.nio.file.Files.createTempDirectory("graft_state_debris").toString
    freshFamily(dirUri) // committed v=0..3
    val (_, st) = Ingest.loadStates(spark, dirUri)
    // debris BELOW the newest committed version: superseded crash, swept
    st.kmv.write.parquet(s"$dirUri/v=2/extra_junk") // inside a committed dir: untouched
    val fs = new org.apache.hadoop.fs.Path(dirUri)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(s"$dirUri/v=1/${StateVersions.CommitMarker}"), false)
    // v=1 is now an unmarked (crashed-looking) dir below max committed (3)
    // debris ABOVE the newest committed version: possibly in-flight, kept
    st.kmv.write.parquet(s"$dirUri/v=9/kmv")
    // grace 0: this test exercises the position rules, not the window
    val deleted = Ingest.compactStates(spark, dirUri, keepLast = 3, debrisGraceMs = 0L)
    // committed set is {0,2,3}: retention keeps all 3, debris sweep takes v=1
    assert(deleted == Seq(1L))
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$dirUri/v=9")))
    assert(Ingest.loadStates(spark, dirUri)._1 == 3L)
    assert(Ingest.loadStates(spark, dirUri, upTo = 2L)._1 == 2L)
  }

  test("debris grace window: a live below-max rewrite survives compaction, then republishes") {
    val dirUri = "file://" +
      java.nio.file.Files.createTempDirectory("graft_state_grace").toString
    freshFamily(dirUri) // committed v=0..3
    // a replay rewrite derives v=2 from v=1 (never from v=2's own files)
    val (_, st1) = Ingest.loadStates(spark, dirUri, upTo = 1L)
    val fs = new org.apache.hadoop.fs.Path(dirUri)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // simulate a time-travel rewrite of in-retention v=2 caught mid-write:
    // saveStates un-publishes first, so the dir is unmarked below max —
    // positionally identical to crashed debris, but freshly modified
    fs.delete(new org.apache.hadoop.fs.Path(s"$dirUri/v=2/${StateVersions.CommitMarker}"), false)
    val deleted = Ingest.compactStates(spark, dirUri, keepLast = 4)
    assert(deleted.isEmpty, s"fresh below-max rewrite swept: $deleted")
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$dirUri/v=2")))
    // the rewrite completes and republishes over the surviving dir
    Ingest.saveStates(st1, dirUri, 2L)
    assert(Ingest.loadStates(spark, dirUri, upTo = 2L)._1 == 2L)
  }

  test("compaction never touches an in-flight save at max committed + 1, which then publishes") {
    val dirUri = "file://" +
      java.nio.file.Files.createTempDirectory("graft_state_inflight").toString
    freshFamily(dirUri) // committed v=0..3
    val (_, st) = Ingest.loadStates(spark, dirUri)
    // an in-flight saveStates(4): tables partially written, no marker yet
    st.kmv.write.parquet(s"$dirUri/v=4/kmv")
    st.cms.write.parquet(s"$dirUri/v=4/cms")
    val fs = new org.apache.hadoop.fs.Path(dirUri)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // even with NO grace, position alone (v ≥ max committed) protects it
    val deleted = Ingest.compactStates(spark, dirUri, keepLast = 2, debrisGraceMs = 0L)
    assert(deleted == Seq(0L, 1L))
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$dirUri/v=4")))
    // the in-flight writer finishes and publishes over its surviving dir
    Ingest.saveStates(st, dirUri, 4L)
    assert(Ingest.loadStates(spark, dirUri)._1 == 4L)
  }

  test("legacy pre-marker family: loadStates names the migration; adoptLegacyVersions publishes complete dirs only") {
    val dirUri = "file://" +
      java.nio.file.Files.createTempDirectory("graft_state_legacy").toString
    freshFamily(dirUri) // committed v=0..3 under the CURRENT protocol
    val fs = new org.apache.hadoop.fs.Path(dirUri)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // strip every marker: the family now looks pre-upgrade
    (0L to 3L).foreach(v =>
      fs.delete(new org.apache.hadoop.fs.Path(s"$dirUri/v=$v/${StateVersions.CommitMarker}"), false))
    // and make v=3 INCOMPLETE (one table's _SUCCESS gone = crashed save)
    fs.delete(new org.apache.hadoop.fs.Path(s"$dirUri/v=3/sigs/_SUCCESS"), false)
    val e = intercept[IllegalArgumentException] { Ingest.loadStates(spark, dirUri) }
    assert(e.getMessage.contains("adoptLegacyVersions"),
      s"legacy family must be steered to the migration, got: ${e.getMessage}")
    val adopted = Ingest.adoptLegacyVersions(spark, dirUri)
    assert(adopted == Seq(0L, 1L, 2L)) // v=3 lacks a _SUCCESS: stays invisible
    val (v, st) = Ingest.loadStates(spark, dirUri)
    assert(v == 2L && st.keepers.count() > 0)
    // idempotent: nothing left to adopt (v=3 still incomplete)
    assert(Ingest.adoptLegacyVersions(spark, dirUri).isEmpty)
  }

  test("compactStates keeps the newest N, preserves in-retention replay, fails old replay loudly") {
    val dirUri = "file://" +
      java.nio.file.Files.createTempDirectory("graft_state_compact").toString
    freshFamily(dirUri)
    val deleted = Ingest.compactStates(spark, dirUri, keepLast = 2)
    assert(deleted == Seq(0L, 1L))
    // newest two versions remain loadable — including an in-retention replay
    assert(Ingest.loadStates(spark, dirUri)._1 == 3L)
    assert(Ingest.loadStates(spark, dirUri, upTo = 2L)._1 == 2L)
    // a replay older than retention must fail loudly, never re-bootstrap
    val e = intercept[IllegalArgumentException] {
      Ingest.loadStates(spark, dirUri, upTo = 1L)
    }
    assert(e.getMessage.contains("no state version"))
    // idempotent: nothing left to drop at the same retention
    assert(Ingest.compactStates(spark, dirUri, keepLast = 2).isEmpty)
    // keepLast = 0 would re-bootstrap the family — rejected
    intercept[IllegalArgumentException] { Ingest.compactStates(spark, dirUri, 0) }
  }

  test("StateAdmin --check: exit-0 on a healthy chain, named failures on each unhealthy class") {
    import graft.tools.StateAdmin
    val dirUri = "file://" +
      java.nio.file.Files.createTempDirectory("graft_state_check").toString
    freshFamily(dirUri)
    val grace = 60L * 60 * 1000
    // healthy: committed full chain, no debris, no tag
    assert(StateAdmin.check(spark, dirUri, grace).isEmpty)
    val local = dirUri.stripPrefix("file://")
    // stale debris: an uncommitted dir below max committed, aged past
    // the grace window (mtime pushed into the past)
    val debrisDir = new java.io.File(local, "v=1")
    val marker = new java.io.File(debrisDir, "_COMMITTED")
    assert(marker.delete())
    assert(debrisDir.setLastModified(System.currentTimeMillis() - 2 * grace))
    val f1 = StateAdmin.check(spark, dirUri, grace)
    assert(f1.exists(_.contains("stale crash debris v=1")), s"got: $f1")
    // fresh debris inside the grace window is NOT flagged
    assert(debrisDir.setLastModified(System.currentTimeMillis()))
    assert(StateAdmin.check(spark, dirUri, grace).isEmpty)
    // empty tag marker: flagged as a crashed adoption
    val tag = new java.io.File(local, "_STREAM_TAG")
    assert(tag.createNewFile())
    val f2 = StateAdmin.check(spark, dirUri, grace)
    assert(f2.exists(_.contains("empty _STREAM_TAG")), s"got: $f2")
    assert(tag.delete())
    // unreadable chain: every committed FULL base removed — deltas
    // (none here) or nothing loadable remains
    (0L to 3L).foreach { v =>
      val d = new java.io.File(local, s"v=$v")
      if (v != 1L) {
        def rm(f: java.io.File): Unit = {
          Option(f.listFiles).foreach(_.foreach(rm)); f.delete()
        }
        rm(d)
      }
    }
    // v=1 alone, uncommitted → no committed version at all
    val f3 = StateAdmin.check(spark, dirUri, grace)
    assert(f3.nonEmpty, "a chain with no committed base must fail the check")
    // the dup-cluster family goes through the same check: a bootstrapped
    // base plus two delta advances is healthy, aged debris is flagged
    val sp = spark
    import sp.implicits._
    import graft.operators.DupState
    val dupUri = "file://" +
      java.nio.file.Files.createTempDirectory("graft_state_check_dup").toString
    val docs = (0 until 4).map(i => (i.toLong, novelText(i))).toDF("doc_id", "text")
    DupState.save(DupState.init(docs, col("doc_id"), col("text")), dupUri, 0L)
    (1L to 2L).foreach { v =>
      val st = DupState.load(spark, dupUri, upTo = v - 1)._2
      val batch = Seq((100L + v, novelText(0))).toDF("doc_id", "text")
      DupState.saveDelta(DupState.advance(st, batch, col("doc_id"), col("text")), dupUri, v)
    }
    assert(StateAdmin.check(spark, dupUri, grace).isEmpty)
    val dupDebris = new java.io.File(dupUri.stripPrefix("file://"), "v=1")
    assert(new java.io.File(dupDebris, "_COMMITTED").delete())
    assert(dupDebris.setLastModified(System.currentTimeMillis() - 2 * grace))
    val f4 = StateAdmin.check(spark, dupUri, grace)
    assert(f4.exists(_.contains("stale crash debris v=1")), s"got: $f4")
  }
}
