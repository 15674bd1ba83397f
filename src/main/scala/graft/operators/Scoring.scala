package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Prediction-market scoring / outcome enumeration, re-expressed as
  * distributed DataFrame ops (reference: crates/oracle/src/oracle.rs
  * update_entry_scores 484-770, db/outcome_generator.rs).
  */
object Scoring {

  /** Over/Par/Under points for one field: entrant picked `choice`
    * ('over'|'par'|'under') against `forecast` vs `observed`.
    * Par=20, Over/Under=10 (oracle.rs:505-507).
    */
  def oupPoints(choice: Column, forecast: Column, observed: Column): Column =
    when(choice === "over" && observed > forecast, 10)
      .when(choice === "par" && observed === forecast, 20)
      .when(choice === "under" && observed < forecast, 10)
      .otherwise(0)

  /** Composite total score with timestamp tie-break:
    * max(10000, base*10000) - (tsMillis % 10000) (oracle.rs:745-760).
    */
  def totalScore(baseScore: Column, tsMillis: Column): Column =
    greatest(lit(10000L), baseScore.cast("long") * 10000L) - pmod(tsMillis.cast("long"), lit(10000L))

  /** Rank entries per event by total score descending (earlier entry
    * wins ties by construction of totalScore); keep top `k` winners.
    */
  def rankWinners(scores: DataFrame, eventKey: Column, score: Column, k: Int): DataFrame = {
    val w = Window.partitionBy(eventKey).orderBy(score.desc)
    scores.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /** All ordered rankings of `k` winners out of the player set, plus
    * the "refund all" sentinel (-1,...) — distributed enumeration of
    * outcome_generator.rs:5-14 (P(n,k) + 1 outcomes). Enumerated via
    * k-way join with inequality filters: no driver-side combinatorics,
    * scales to large n as a shuffle join chain.
    */
  def rankingPermutations(players: DataFrame, k: Int): DataFrame = {
    require(k >= 1 && k <= 4, "k in 1..4 supported")
    val p = players.select(col(players.columns.head).as("p"))
    var out: DataFrame = p.select(col("p").as("p1"))
    for (i <- 2 to k) {
      val next = p.select(col("p").as(s"p$i"))
      out = out.crossJoin(next)
      for (j <- 1 until i)
        out = out.filter(col(s"p$j") =!= col(s"p$i"))
    }
    val sentinel = out.sparkSession.range(1).select((1 to k).map(i => lit(-1L).as(s"p$i")): _*)
    out.select((1 to k).map(i => col(s"p$i").cast("long")): _*).unionByName(sentinel)
  }

  /** Outcome message bytes for each ranking (outcome_generator.rs:16-26):
    * big-endian concatenation of the winner indices.
    */
  def outcomeMessage(perm: Seq[Long]): Array[Byte] =
    perm.flatMap(i => java.nio.ByteBuffer.allocate(8).putLong(i).array()).toArray

  /** Deterministic mock attestation: SHA-256 over (event, outcome) —
    * stands in for the reference's musig2/dlctix signing (oracle.rs),
    * which is transport-layer crypto out of engine scope.
    */
  def attest(eventId: String, outcome: Array[Byte]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    md.update(eventId.getBytes("UTF-8"))
    md.update(outcome)
    md.digest().map("%02x".format(_)).mkString
  }
}
