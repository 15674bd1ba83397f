package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Geospatial helpers — the reference maps stations to NOAA grid
  * coordinates and serves per-station queries
  * (crates/daemon/src/coordinates.rs, weather map UI). Re-expressed as
  * a nearest-neighbor join against a broadcast station dimension.
  */
object Geo {

  /** Squared equirectangular distance — polynomial double ops only
    * (no libm trig), so results are bit-identical across engines;
    * monotone in true distance at city scale, which is all a
    * nearest-station argmin needs.
    */
  def dist2(lat1: Column, lon1: Column, lat2: Column, lon2: Column): Column =
    (lat1 - lat2) * (lat1 - lat2) + (lon1 - lon2) * (lon1 - lon2)

  /** Nearest-hub join: for every left row, the right row (small dim,
    * broadcast) minimizing dist2, ties by right id. One pass over the
    * left side — right side broadcast; at 100 TB the left stays
    * partition-local (no shuffle before the rank, which partitions on
    * the left key).
    */
  def nearestJoin(left: DataFrame, leftId: Column, leftLat: Column, leftLon: Column,
      right: DataFrame, rightId: Column, rightLat: Column, rightLon: Column): DataFrame = {
    val l = left.select(leftId.as("left_id"), leftLat.as("llat"), leftLon.as("llon"))
    val r = broadcast(right.select(rightId.as("right_id"), rightLat.as("rlat"), rightLon.as("rlon")))
    // argmin via min_by aggregation (total order: d2 then id): partial
    // aggregation collapses the |left|×|right| scored rows to one row
    // per left key map-side — the shuffle carries |left| rows, never
    // the cross product (a window-rank here would sort the full
    // product). Same pattern the reference's per-station argmax
    // queries need at 100 TB.
    l.crossJoin(r)
      .withColumn("d2", dist2(col("llat"), col("llon"), col("rlat"), col("rlon")))
      .groupBy(col("left_id"))
      .agg(min_by(struct(col("right_id"), col("d2")), struct(col("d2"), col("right_id"))).as("best"))
      .select(col("left_id"), col("best.right_id").as("right_id"), col("best.d2").as("d2"))
  }
}
