package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.Dedup

/** Incremental cluster-state maintenance (Dedup.clusterStateAdvance):
  * advancing a min-label assignment by a batch of edges must equal a
  * from-scratch connected-components run over the union edge set —
  * the invariant q129's DuckDB oracle (q53's recursive closure
  * verbatim) gates at the catalog level; here it is pinned on
  * adversarial small graphs and on multi-advance chains.
  */
class ClusterIncrSpec extends SparkSpecBase {
  import TestSpark.spark.implicits._

  private def edges(ps: (Long, Long)*): DataFrame =
    ps.toSeq.toDF("id_a", "id_b")

  private def cc(e: DataFrame): DataFrame =
    Dedup.connectedComponents(e.select(col("id_a"), col("id_b")))

  private def labels(df: DataFrame): Map[Long, Long] =
    df.select(col("doc_id"), col("cluster_id")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap

  private def assertAdvanceMatchesScratch(oldE: DataFrame, newE: DataFrame): Unit = {
    val incr = labels(Dedup.clusterStateAdvance(cc(oldE), newE))
    val scratch = labels(cc(oldE.unionByName(newE)))
    assert(incr == scratch)
  }

  test("batch edge merging two existing clusters relabels both to the global min") {
    val oldE = edges((5L, 9L), (9L, 12L), (20L, 30L))
    val newE = edges((12L, 30L))
    assertAdvanceMatchesScratch(oldE, newE)
    // and the merged label is the min across BOTH old clusters
    val out = labels(Dedup.clusterStateAdvance(cc(oldE), newE))
    assert(out(30L) == 5L && out(20L) == 5L && out(9L) == 5L)
  }

  test("batch-only cluster (all-new nodes) appears with its own min label") {
    val oldE = edges((1L, 2L))
    val newE = edges((100L, 200L), (200L, 150L))
    assertAdvanceMatchesScratch(oldE, newE)
    val out = labels(Dedup.clusterStateAdvance(cc(oldE), newE))
    assert(out(150L) == 100L && out(200L) == 100L && out(1L) == 1L)
  }

  test("a new node bridging three old clusters with a smaller id becomes the label") {
    val oldE = edges((10L, 11L), (20L, 21L), (30L, 31L))
    val newE = edges((3L, 11L), (3L, 21L), (3L, 31L))
    assertAdvanceMatchesScratch(oldE, newE)
    val out = labels(Dedup.clusterStateAdvance(cc(oldE), newE))
    assert(Set(10L, 11L, 20L, 21L, 30L, 31L, 3L).forall(out(_) == 3L))
  }

  test("edges internal to existing clusters collapse: state is unchanged") {
    val oldE = edges((5L, 9L), (9L, 12L), (20L, 30L))
    val st = cc(oldE)
    val out = labels(Dedup.clusterStateAdvance(st, edges((5L, 12L), (20L, 30L))))
    assert(out == labels(st))
  }

  test("empty batch leaves the state unchanged") {
    val oldE = edges((5L, 9L))
    val st = cc(oldE)
    val out = labels(Dedup.clusterStateAdvance(st, edges()))
    assert(out == labels(st))
  }

  test("a corpus doc with no prior edge pairing against a batch doc joins the domain") {
    // node 7 was never in the state (no old edge); the batch pairs it
    // with new node 10007 — both must appear, labeled min(7, 10007)
    val oldE = edges((1L, 2L))
    val newE = edges((7L, 10007L))
    assertAdvanceMatchesScratch(oldE, newE)
    val out = labels(Dedup.clusterStateAdvance(cc(oldE), newE))
    assert(out(7L) == 7L && out(10007L) == 7L)
  }

  test("three chained advances equal one from-scratch run on all edges") {
    val oldE = edges((5L, 9L), (20L, 30L), (40L, 41L))
    val b1 = edges((9L, 30L), (100L, 101L))          // merge + new cluster
    val b2 = edges((101L, 41L))                       // chain the new cluster into an old one
    val b3 = edges((2L, 5L), (300L, 301L), (301L, 2L)) // new global min 2 via a new-node path
    var st = cc(oldE)
    st = Dedup.clusterStateAdvance(st, b1)
    st = Dedup.clusterStateAdvance(st, b2)
    st = Dedup.clusterStateAdvance(st, b3)
    val scratch = labels(cc(oldE.unionByName(b1).unionByName(b2).unionByName(b3)))
    assert(labels(st) == scratch)
    // components: {2,5,9,20,30,300,301} (b1 merged 9-30, b3 pulled in 2/300/301)
    // and {40,41,100,101} (b1's new cluster chained into 40's via b2)
    assert(scratch(301L) == 2L && scratch(30L) == 2L && scratch(100L) == 40L)
  }

  test("duplicate and reversed batch edges are harmless") {
    val oldE = edges((5L, 9L))
    val newE = edges((9L, 20L), (20L, 9L), (9L, 20L))
    assertAdvanceMatchesScratch(oldE, newE)
  }

  test("randomized parity sweep: advance ≡ from-scratch on 12 seeded graphs") {
    // deterministic seeds; graphs skewed toward the adversarial shapes
    // (many small clusters, batch edges both merging and attaching)
    (1 to 12).foreach { seed =>
      val rnd = new scala.util.Random(seed)
      val n = 30 + rnd.nextInt(40)
      val allE = Seq.fill(60 + rnd.nextInt(60))(
        (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong)).filter(p => p._1 != p._2)
      val (oldPs, newPs) = allE.splitAt(allE.size * 2 / 3)
      if (oldPs.nonEmpty && newPs.nonEmpty)
        assertAdvanceMatchesScratch(edges(oldPs: _*), edges(newPs: _*))
    }
  }

  test("the advance output is a valid state: labels are component minima with self rows") {
    val oldE = edges((5L, 9L), (20L, 30L))
    val st = Dedup.clusterStateAdvance(cc(oldE), edges((9L, 30L), (100L, 101L)))
    val m = labels(st)
    // every label is itself a labeled node pointing at itself
    assert(m.values.toSet.forall(l => m.get(l).contains(l)))
  }
}
