// One-command daily-driver example — the stretch-8 two-dir convention
// end-to-end, as executable documentation (VERDICT r15 stretch #7):
//
//   corpus bootstrap (both state dirs at v=0, plain parquet)
//     → parquet drops land in a watched directory (one per "day")
//     → ONE checkpointed file-source stream advances BOTH families per
//       drop (EventStream.dailyCycleStream: ingest gates/scores/
//       sketches + dup-cluster quotient, delta saves on the measured
//       rebase cadences, streamTag pinned to the checkpoint)
//     → retention compacts both chains
//     → the per-day reports are lifted into a date-partitioned lake
//       and a date-range read-back prunes to the queried days
//     → both heads reload and the dup assignment is checked against a
//       from-scratch closure (the run is self-verifying).
//
//   sbt 'runMain graft.tools.DailyDriver [sfDir=/root/testdata/sf0.01]'
package graft.tools

import org.apache.spark.sql.functions._
import graft.operators.{Dedup, DupState, Ingest}
import graft.sources.{Lake, Tables}
import graft.streaming.EventStream

object DailyDriver {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val spark = graft.GraftSession.local(32, "daily-driver")
    spark.sparkContext.setLogLevel("WARN")
    def fmt(v: Double) = String.format(java.util.Locale.ROOT, "%.2f", Double.box(v))
    val t0 = System.nanoTime()

    val work = java.nio.file.Files.createTempDirectory("graft_daily").toString
    val (ingDir, dupDir) = (s"$work/state_ingest", s"$work/state_dup")
    val (dropDir, reportDir, ckptDir, lakeDir) =
      (s"$work/drops", s"$work/reports", s"$work/ckpt", s"$work/lake")

    // day 0: bootstrap BOTH families from the existing corpus — the
    // one-time O(corpus) pass; every later day is an advance
    val d = Tables.documents(spark, sfDir).select(col("doc_id"), col("text"))
    Ingest.saveStates(Ingest.initStates(d, col("doc_id"), col("text")), ingDir, 0L)
    DupState.save(DupState.init(d, col("doc_id"), col("text")), dupDir, 0L)

    // three daily drops, one ingest class each: exact copies (die at
    // the chunk gate, dup edges), near copies (signature gate, dup
    // edges), novel synthetic docs (admitted, advance every state)
    val drops = Seq(
      d.filter(pmod(col("doc_id"), lit(10)) === 0)
        .select((col("doc_id") + 10000000L).as("doc_id"), col("text")),
      d.filter(pmod(col("doc_id"), lit(7)) === 0)
        .select((col("doc_id") + 20000000L).as("doc_id"),
          concat(col("text"), lit(" graft extra marker")).as("text")),
      d.filter(pmod(col("doc_id"), lit(5)) === 0)
        .select((col("doc_id") + 30000000L).as("doc_id"))
        .withColumn("text", concat_ws(" ", transform(sequence(lit(1), lit(40)),
          i => concat(lit("nv"), col("doc_id").cast("string"), lit("_"),
            i.cast("string"))))))

    // ONE stream drives both families: file source over the drop dir,
    // checkpointed, tag-pinned; measured rebase cadences on both
    new java.io.File(dropDir).mkdirs()
    val stream = EventStream.readSnapshots(spark, dropDir, d)
    val q = EventStream.dailyCycleStream(stream, ingDir, dupDir, reportDir,
        keepLast = Some(4),
        ingestRebaseEvery = Some(EventStream.IngestRebaseRecommended),
        dupRebaseEvery = Some(EventStream.DupRebaseRecommended),
        streamTag = Some(ckptDir))
      .option("checkpointLocation", ckptDir)
      .start()
    val dayWalls = try drops.zipWithIndex.map { case (drop, i) =>
      val tD = System.nanoTime()
      // the file source watches FLAT files under dropDir (a nested
      // non-partition dir is invisible to it): stage the day's write,
      // then move the part files in — the per-file move is the "new
      // parquet arrived" signal a real drop folder gets
      drop.write.mode("overwrite").parquet(s"$work/stage$i")
      new java.io.File(s"$work/stage$i").listFiles
        .filter(_.getName.endsWith(".parquet"))
        .foreach(f => java.nio.file.Files.move(f.toPath,
          java.nio.file.Paths.get(dropDir, s"day${i}_${f.getName}")))
      q.processAllAvailable()
      (System.nanoTime() - tD) / 1e9
    } finally q.stop()

    // lift the per-day reports into the date-partitioned lake and read
    // a 2-day range back — partition pruning serves the dashboard query
    val reports = spark.read.option("basePath", reportDir).parquet(
      drops.indices.map(i => s"$reportDir/batch=$i"): _*)
    Lake.write(reports.withColumn("day",
      date_add(lit("2024-01-01").cast("date"), col("batch_id").cast("int"))),
      lakeDir, col("day"))
    val range = Lake.readRange(spark, lakeDir, "2024-01-02", "2024-01-03")
      .select(col("batch_id"), col("n_batch"), col("n_surv"), col("n_dup_assign"))
      .orderBy(col("batch_id")).collect().toSeq

    // read back both heads and self-verify the dup assignment against
    // a from-scratch closure over everything that ever arrived
    val (vIng, ist) = Ingest.loadStates(spark, ingDir)
    val (vDup, dst) = DupState.load(spark, dupDir)
    val everything = d.unionByName(drops.reduce(_ unionByName _))
    val scratch = Dedup.dedupClusters(everything, col("doc_id"), col("text"))
    val got = dst.comp
    val parityDiff = got.exceptAll(scratch).count() + scratch.exceptAll(got).count()

    println(s"""{"tool":"daily_driver","sf":"$sfDir","days":${drops.size},""" +
      s""""day_sec":[${dayWalls.map(fmt).mkString(",")}],""" +
      s""""head_ingest":$vIng,"head_dup":$vDup,""" +
      s""""keepers":${ist.keepers.count()},"sigs":${ist.sigs.count()},""" +
      s""""dup_assign":${got.count()},"parity_diff":$parityDiff,""" +
      s""""lake_range_rows":${range.size},""" +
      s""""total_sec":${fmt((System.nanoTime() - t0) / 1e9)}}""")
    require(parityDiff == 0, "dup assignment diverged from the from-scratch closure")
    require(range.size == 2, s"lake range read-back expected 2 day rows, got ${range.size}")
    spark.stop()
  }
}
