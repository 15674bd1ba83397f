package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The reference oracle's flagship forecast query, composed end-to-end
  * (weather_data.rs:196-408): dedup-latest per forecast window →
  * per-field native-interval detection (LEAD chaining) → per-field
  * daily sums with min-duration fallback → FULL OUTER combine →
  * daily rollup with range guards → rain = QPF − snow/ratio − ice.
  *
  * All timestamps are integer epoch seconds (engine-portable); the
  * input contract is the synthetic forecast schema produced by
  * `graft.queries.FlagshipCatalog.synthForecasts`.
  *
  * Scale: every stage is keyed by (station, day) — one shuffle
  * partitioning reused across the window + groupBy stages; the
  * per-field pipelines are narrow after the shared dedup.
  */
object ForecastPipeline {

  /** Dedup: newest forecast per (station, begin_s, end_s). */
  def dedupLatest(synth: DataFrame): DataFrame =
    Rollups.latestPerKey(synth,
      Seq(col("station_id"), col("begin_s"), col("end_s")),
      Seq(col("gen_ms"), col("event_id")))

  /** Rows carrying any precip field, with duration + day. */
  def precipRows(deduped: DataFrame): DataFrame =
    deduped.filter(col("qpf").isNotNull || col("snow_amt").isNotNull || col("ice_amt").isNotNull)
      .select(col("station_id"), (col("begin_s") / 86400).cast("bigint").as("day"),
        col("begin_s"), col("end_s"), (col("end_s") - col("begin_s")).as("dur_s"),
        col("qpf"), col("snow_amt"), col("snow_ratio"), col("ice_amt"))

  /** Native-interval detection for one field: per (station, day,
    * dur_s), count rows and back-to-back chains; keep durations with
    * >1 row; choose per (station, day) the duration maximizing
    * chain/count ratio (tie: shortest). Fallback to the field's
    * minimum duration for single-row days.  Returns (station_id, day,
    * chosen_dur).
    */
  def chosenDuration(pr: DataFrame, field: String): DataFrame = {
    val rows = pr.filter(col(field).isNotNull)
    val w = Window.partitionBy(col("station_id"), col("day"), col("dur_s")).orderBy(col("begin_s").asc)
    val chains = rows
      .withColumn("next_begin", lead(col("begin_s"), 1).over(w))
      .groupBy(col("station_id"), col("day"), col("dur_s"))
      .agg(count(lit(1)).as("row_count"),
        sum(when(col("next_begin").isNotNull && col("end_s") === col("next_begin"), 1).otherwise(0)).as("chain_count"))
      .filter(col("row_count") > 1)
    val wBest = Window.partitionBy(col("station_id"), col("day"))
      .orderBy((col("chain_count").cast("double") / col("row_count")).desc, col("dur_s").asc)
    val best = chains.withColumn("__rn", row_number().over(wBest)).filter(col("__rn") === 1)
      .select(col("station_id"), col("day"), col("dur_s").as("best_dur"))
    val minDur = rows.groupBy(col("station_id"), col("day")).agg(min(col("dur_s")).as("min_dur"))
    minDur.join(best, Seq("station_id", "day"), "left")
      .select(col("station_id"), col("day"), coalesce(col("best_dur"), col("min_dur")).as("chosen_dur"))
  }

  /** Daily sum of one field at its chosen duration (≥0 guard), with
    * optional companion mean ratio (snow). Sums are decimal-exact on
    * the pre-scaled integer-hundredths and exported /scale.
    */
  def dailyField(pr: DataFrame, field: String, outName: String, scale: Double): DataFrame = {
    val rows = pr.filter(col(field).isNotNull)
    val agg = rows.join(chosenDuration(pr, field), Seq("station_id", "day"))
      .filter(col("dur_s") === col("chosen_dur"))
    val base = agg.groupBy(col("station_id"), col("day"))
    if (field == "snow_amt")
      base.agg(
        (sum(when(col(field) >= 0, col(field).cast("decimal(18,2)"))).cast("double") / scale).as(outName),
        (sum(when(col("snow_ratio") > 0, col("snow_ratio").cast("decimal(18,2)"))).cast("double") /
          count(when(col("snow_ratio") > 0, 1))).as("avg_snow_ratio"))
    else
      base.agg((sum(when(col(field) >= 0, col(field).cast("decimal(18,2)"))).cast("double") / scale).as(outName))
  }

  /** FULL OUTER combine of the three per-field daily tables. */
  def dailyPrecip(pr: DataFrame): DataFrame =
    dailyField(pr, "qpf", "total_qpf", 100.0)
      .join(dailyField(pr, "snow_amt", "snow_out", 50.0), Seq("station_id", "day"), "full_outer")
      .join(dailyField(pr, "ice_amt", "ice_out", 200.0), Seq("station_id", "day"), "full_outer")

  /** Single-pass equivalent of [[dailyPrecip]]: unpivots the three
    * precip fields to long format so interval detection + daily sums
    * run in ONE window + two groupBys over (station, day, field)
    * instead of three per-field pipelines (3× fewer shuffles — the
    * variant to prefer at 100 TB; results are identical, which the
    * oracle's per-field SQL verifies).
    */
  def dailyPrecipUnpivoted(pr: DataFrame): DataFrame = {
    val long = pr.selectExpr("station_id", "day", "begin_s", "end_s", "dur_s",
        """stack(3,
           'qpf', qpf, CAST(NULL AS DOUBLE),
           'snow', snow_amt, snow_ratio,
           'ice', ice_amt, CAST(NULL AS DOUBLE)) AS (field, fval, fratio)""")
      .filter(col("fval").isNotNull)
    // ONE full-table exchange serves the whole stage (r10 — the r9
    // shape paid three: a window keyed (s,d,f,dur), a min-duration
    // groupBy keyed (s,d,f) over the full long table, and the
    // chosen-duration join): partition by (station, day, field) and
    // order (dur_s, begin_s) — within a dur block the successor row
    // in this order IS the lead-within-(key,dur) row (begin_s is
    // distinct inside a block: the upstream dedup key is (station,
    // begin, end) and dur pins end−begin), and a same-dur guard keeps
    // block edges out, so chain counting is unchanged. Everything
    // downstream reuses this partitioning: the per-dur aggregate
    // groups on a superset key (no exchange), the min-duration
    // fallback now reads the TINY per-dur table instead of rescanning
    // `long`, the chosen join's left side arrives partitioned AND
    // sorted on exactly the join keys (zero-exchange sort-merge, or
    // AQE broadcasts the dimension-sized right side), and the daily
    // sum groups on the same key again — so the fact table is
    // exchanged once, not three times.
    val w = Window.partitionBy(col("station_id"), col("day"), col("field"))
      .orderBy(col("dur_s").asc, col("begin_s").asc)
    val marked = long
      .withColumn("next_dur", lead(col("dur_s"), 1).over(w))
      .withColumn("next_begin", lead(col("begin_s"), 1).over(w))
    val chains = marked
      .groupBy(col("station_id"), col("day"), col("field"), col("dur_s"))
      .agg(count(lit(1)).as("row_count"),
        sum(when(col("next_dur") === col("dur_s") && col("end_s") === col("next_begin"), 1).otherwise(0)).as("chain_count"))
    val wBest = Window.partitionBy(col("station_id"), col("day"), col("field"))
      .orderBy((col("chain_count").cast("double") / col("row_count")).desc, col("dur_s").asc)
    val best = chains.filter(col("row_count") > 1)
      .withColumn("__rn", row_number().over(wBest)).filter(col("__rn") === 1)
      .select(col("station_id"), col("day"), col("field"), col("dur_s").as("best_dur"))
    val minDur = chains.groupBy(col("station_id"), col("day"), col("field"))
      .agg(min(col("dur_s")).as("min_dur"))
    val chosen = minDur.join(best, Seq("station_id", "day", "field"), "left")
      .select(col("station_id"), col("day"), col("field"),
        coalesce(col("best_dur"), col("min_dur")).as("chosen_dur"))
    val daily = marked.join(chosen, Seq("station_id", "day", "field"))
      .filter(col("dur_s") === col("chosen_dur"))
      .groupBy(col("station_id"), col("day"), col("field"))
      .agg(
        sum(when(col("fval") >= 0, col("fval").cast("decimal(18,2)"))).cast("double").as("fsum"),
        (sum(when(col("fratio") > 0, col("fratio").cast("decimal(18,2)"))).cast("double") /
          count(when(col("fratio") > 0, 1))).as("ratio_avg"))
    daily.groupBy(col("station_id"), col("day"))
      .agg(
        max(when(col("field") === "qpf", col("fsum") / 100.0)).as("total_qpf"),
        max(when(col("field") === "snow", col("fsum") / 50.0)).as("snow_out"),
        max(when(col("field") === "snow", col("ratio_avg"))).as("avg_snow_ratio"),
        max(when(col("field") === "ice", col("fsum") / 200.0)).as("ice_out"))
  }

  /** Daily forecast rollup with the reference's range guards. */
  def dailyForecasts(deduped: DataFrame): DataFrame =
    deduped.groupBy(col("station_id"), (col("begin_s") / 86400).cast("bigint").as("day"))
      .agg(
        min(col("begin_s")).as("min_begin"),
        max(col("end_s")).as("max_end"),
        min(when(col("min_temp").isNotNull && col("min_temp") >= -200 && col("min_temp") <= 200, col("min_temp"))).as("temp_low"),
        max(when(col("max_temp").isNotNull && col("max_temp") >= -200 && col("max_temp") <= 200, col("max_temp"))).as("temp_high"),
        max(when(col("wind_speed").isNotNull && col("wind_speed") >= 0 && col("wind_speed") <= 500, col("wind_speed"))).as("wind_speed"),
        max(when(col("wind_direction").isNotNull && col("wind_direction") >= 0 && col("wind_direction") <= 360, col("wind_direction"))).as("wind_direction"),
        max(when(col("rh_max").isNotNull && col("rh_max") >= 0 && col("rh_max") <= 100, col("rh_max"))).as("humidity_max"),
        min(when(col("rh_min").isNotNull && col("rh_min") >= 0 && col("rh_min") <= 100, col("rh_min"))).as("humidity_min"),
        max(when(col("pop12").isNotNull, col("pop12"))).as("precip_chance"))

  /** Full pipeline: synth forecast rows → final daily table with the
    * rain derivation and the request-window GREATEST/LEAST clamps.
    */
  def run(synth: DataFrame, clampLoS: Long, clampHiS: Long): DataFrame = {
    // Staging (Dedup.stageEager — a reliable checkpoint when
    // spark.checkpoint.dir is set, else a local one; the cluster
    // profile requires the dir): the dedup output feeds both the daily
    // rollup and the precip stage, so it's materialized ONCE — with the
    // ordering columns dropped first, since only the dedup needed them
    // and the staged data shouldn't carry them. pr is NOT staged: the
    // single-exchange precip stage consumes it exactly once, and it's
    // a narrow filter+project of the staged dedup output.
    // ONE exchange for the whole pipeline (r10): hash-partition by
    // station up front — every downstream clustering key (station,
    // begin, end), (station, day) and (station, day, field) is a
    // SUPERSET of {station}, so Spark's subset-satisfies rule lets
    // the dedup aggregate, both windows, every groupBy and both joins
    // run complete-mode on this single partitioning (in-partition
    // sorts remain; no further shuffles — either checkpoint's LogicalRDD
    // preserves outputPartitioning, so the staged data keeps it).
    // Scale note: partition count is sized by spark.sql.shuffle
    // .partitions, and station-hash balance holds as long as station
    // cardinality ≫ partitions with no single dominant station — true
    // for a weather-station corpus at any SF.
    val deduped = Dedup.stageEager(
      dedupLatest(synth.repartition(col("station_id"))).drop("gen_ms", "event_id"))
    val pr = precipRows(deduped)
    dailyForecasts(deduped)
      .join(dailyPrecipUnpivoted(pr), Seq("station_id", "day"), "left")
      .select(
        col("station_id"), col("day"),
        greatest(lit(clampLoS), col("min_begin")).as("start_s"),
        least(lit(clampHiS), col("max_end")).as("end_s"),
        col("temp_low"), col("temp_high"), col("wind_speed"), col("wind_direction"),
        col("humidity_max"), col("humidity_min"), col("precip_chance"),
        greatest(lit(0.0), coalesce(
          col("total_qpf") - col("snow_out") / nullif(col("avg_snow_ratio"), lit(0.0)) - coalesce(col("ice_out"), lit(0.0)),
          col("total_qpf") - coalesce(col("ice_out"), lit(0.0)))).as("rain_amt"),
        col("snow_out").as("snow_amt"), col("ice_out").as("ice_amt"))
  }
}
