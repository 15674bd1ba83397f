package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Dedup

/** The CC session contract: connected components run in the CALLER's
  * session and never touch its conf — a session-global toggle would
  * leak into any job overlapped on the same session (par2 legs) — and
  * the result belongs to the caller's session, so downstream consumers
  * (which execute under their root Dataset's session) plan with the
  * caller's conf. Both finishes are covered: the driver union-find
  * (default budget) and star rounds (a 1-byte broadcast budget).
  */
class CcSessionSpec extends AnyFunSuite {

  private def labelMap(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
    df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("driver-path CC returns a caller-session result") {
    val s = TestSpark.spark
    import s.implicits._
    assert(s.conf.get("spark.sql.adaptive.enabled") == "true")
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id_a", "id_b")
    val out = Dedup.connectedComponents(pairs)
    assert(out.sparkSession eq s, "CC result must belong to the caller's session")
    assert(s.conf.get("spark.sql.adaptive.enabled") == "true",
      "CC must not mutate the caller session's AQE conf")
    assert(labelMap(out) ==
      Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))
  }

  test("star CC returns a caller-session result too") {
    // a 1-byte broadcast budget forces the star finish
    val s = TestSpark.spark.newSession()
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "1")
    val pairs = s.createDataFrame((1L until 13L).map(i => (i, i + 1))).toDF("id_a", "id_b")
    val out = Dedup.connectedComponents(pairs)
    assert(out.sparkSession eq s)
    assert(s.conf.get("spark.sql.adaptive.enabled") == "true")
    assert(labelMap(out) == (1L to 13L).map(_ -> 1L).toMap)
  }
}
