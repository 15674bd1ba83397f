package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The composed ingest-advance step — q127's gate+score+sketch chain as
  * a REUSABLE batch×state function over persisted state tables, i.e.
  * the recurring ETL loop the reference daemon runs (oracle.rs:484-770:
  * score new data against stored state, update state, report) as one
  * callable unit. [[advanceOnce]] is pure batch — the streaming face
  * ([[graft.streaming.EventStream.ingestAdvanceStream]]) calls it per
  * micro-batch via foreachBatch, and a backfill job calls it per lake
  * partition; both advance the SAME six state tables:
  *
  *   keepers — chunk-hash keeper table ([[Dedup.chunkKeepers]] layout);
  *   sigs    — per-doc 62-bit SimHash signatures (admitted docs only);
  *   ng3/ng8 — n-gram → first-introducer tables ([[Dedup.ngramFirstDocs]]);
  *   kmv     — global k-smallest vocabulary sketch ([[Kmv]]);
  *   cms     — depth×width frequency cells ([[Stats.cmsCells]]).
  *
  * Every advance uses the shared operator (chunkKeepersMerged /
  * unionByName+min / Kmv.advance / Stats.cmsMerge) — mergeability is
  * what makes the persisted state exact at any batch cadence.
  *
  * Arrival contract: a batch's docs are NEW ids, larger than every id
  * already in state, so keepers/sigs/ng3/ng8 only ever gain rows the
  * batch introduced — the append shape a delta version persists
  * ([[StateDeltas]]). Persistence is versioned parquet under
  * [[StateVersions]], which owns the layout, the commit protocol,
  * chain reads and retention; a step reads version ≤ batchId and
  * overwrites version batchId+1, so a replayed micro-batch rewrites the
  * same version instead of double-advancing.
  */
object Ingest {

  final case class States(keepers: DataFrame, sigs: DataFrame,
      ng3: DataFrame, ng8: DataFrame, kmv: DataFrame, cms: DataFrame)

  /** One advance's batch-sized increments of the four APPEND-SHAPED
    * state tables, plus the two sketches in full (they are bounded —
    * k rows / depth×width cells — so "delta" and "full" coincide).
    * The append shape is exact under the family's documented arrival
    * contract: keepers/sigs/ng3/ng8 only ever gain rows introduced by
    * this batch (old keepers win conflicts, admitted docs are new,
    * an n-gram already in state keeps its first introducer), so each
    * key appears in exactly ONE delta across a chain and `base ∪
    * deltas` IS the state — no merge aggregate needed at read time.
    */
  final case class StateDeltas(keepers: DataFrame, sigs: DataFrame,
      ng3: DataFrame, ng8: DataFrame, kmv: DataFrame, cms: DataFrame)

  private def tok(f: DataFrame): DataFrame =
    f.select(explode(Dedup.hashedNgramSeq(f, col("text"), 1)).as("ng"))

  /** Bootstrap the state family from an existing corpus (the one-time
    * backfill before the incremental loop starts).
    *
    * STAGED like [[advanceOnce]] (r12 VERDICT missing #2): the six
    * state tables are six independent downstream actions
    * ([[saveStates]] runs six writes), and every one re-scanned and
    * re-parsed the whole corpus — at 100 TB the bootstrap is the
    * single biggest job this family ever runs and it paid ~6× parse.
    * The NORMALIZED CORPUS is staged once (all six consumers re-read
    * it); the shared unigram token table is deliberately NOT staged —
    * a staging probe (round 13, since deleted) measured every toggle
    * combination and at 500k docs (sf10) token-table staging is a net
    * LOSS (one row per word occurrence: materializing it costs more
    * than KMV+CMS's two re-derivations), while corpus staging wins
    * 1.20× and grows with scale. See PLANS.md round 13 for the paired
    * rows. Semantics-free — the tables are byte-identical either way
    * (IngestStateSpec/IngestStreamSpec).
    */
  def initStates(corpus: DataFrame, id: Column, text: Column,
      chunkWords: Int = 12, k: Int = 64, depth: Int = 4,
      width: Int = 256): States = {
    val c = Dedup.stageEager(corpus.select(id.as("doc_id"), text.as("text")))
    val tokC = tok(c)
    States(
      keepers = Dedup.chunkKeepers(c, col("doc_id"), col("text"), chunkWords),
      sigs = Dedup.simHashDf(c, col("doc_id"), col("text")),
      ng3 = Dedup.ngramFirstDocs(c, col("doc_id"), col("text"), 3),
      ng8 = Dedup.ngramFirstDocs(c, col("doc_id"), col("text"), 8),
      kmv = Kmv.sketch(tokC, Seq.empty, col("ng"), k),
      cms = Stats.cmsCells(tokC, col("ng"), depth, width))
  }

  /** One ingest step: chunk-gate the batch against `keepers`, signature-
    * gate the chunk survivors against `sigs`, score the admitted docs
    * (novelty ppm vs ng3, repeated spans vs ng8), advance every state,
    * and emit a one-row report. Admitted docs (survivors of BOTH gates)
    * are what enter the signature/ngram/sketch states; the keeper table
    * advances with the whole batch (its contract records every seen
    * chunk hash — [[Dedup.chunkKeepersMerged]]). An empty survivor set
    * reports novel_ppm = 0.
    *
    * The survivor sets are STAGED ([[Dedup.stageEager]]: a reliable
    * checkpoint when `spark.checkpoint.dir` is set, else a local one)
    * before fan-out: the report plus the six next-state tables trigger
    * seven independent actions downstream, and without staging each one
    * would re-run the two gate joins — at daily-batch scale the gates
    * are the expensive part, so a 7× recompute dominates the advance.
    * Staging is semantics-free (IngestStreamSpec parity holds
    * unchanged); Spark's ContextCleaner frees the staged data once the
    * returned frames are unreachable.
    */
  def advanceOnce(batch: DataFrame, st: States, id: Column, text: Column,
      chunkWords: Int = 12, k: Int = 64, depth: Int = 4,
      width: Int = 256): (DataFrame, States) = {
    val (report, d) = advanceDeltas(batch, st, id, text, chunkWords, k, depth, width,
      fullMode = true)
    val next = States(
      // keepers delta is already "new hashes only": union ≡ chunkKeepersMerged
      keepers = st.keepers.unionByName(d.keepers),
      sigs = st.sigs.unionByName(d.sigs),
      // min-groupBy merge: exact against a from-scratch build under ANY
      // id order (min associativity) — the batch API's contract
      ng3 = st.ng3.unionByName(d.ng3ByMin).groupBy(col("ng")).agg(min(col("first_doc")).as("first_doc")),
      ng8 = st.ng8.unionByName(d.ng8ByMin).groupBy(col("ng")).agg(min(col("first_doc")).as("first_doc")),
      kmv = d.kmv,
      cms = d.cms)
    (report, next)
  }

  /** [[advanceOnce]] that ALSO returns the batch-sized
    * [[StateDeltas]], for delta persistence ([[saveStatesDelta]]):
    * the returned next-States are `state ∪ delta` per append table,
    * which equals advanceOnce's merge exactly under the ingest-id
    * invariant the incremental family documents (new docs get new,
    * larger ids — [[Dedup.chunkDedupIncremental]]) and under stream
    * arrival order unconditionally (arrival IS the keep order there).
    * The ONLY divergence from [[advanceOnce]] is ng3/ng8 when a batch
    * doc id sorts BELOW an n-gram's persisted first introducer:
    * min-merge would rewrite the introducer, append keeps the
    * earlier-ARRIVED one — out of contract for the ingest loop either
    * way.
    */
  def advanceOnceDelta(batch: DataFrame, st: States, id: Column, text: Column,
      chunkWords: Int = 12, k: Int = 64, depth: Int = 4,
      width: Int = 256): (DataFrame, States, StateDeltas) = {
    val (report, d) = advanceDeltas(batch, st, id, text, chunkWords, k, depth, width,
      fullMode = false)
    val next = States(
      keepers = st.keepers.unionByName(d.keepers),
      sigs = st.sigs.unionByName(d.sigs),
      ng3 = st.ng3.unionByName(d.ng3),
      ng8 = st.ng8.unionByName(d.ng8),
      kmv = d.kmv,
      cms = d.cms)
    (report, next, d.toDeltas)
  }

  /** Internal: (report, raw deltas). `ng3ByMin`/`ng8ByMin` on the
    * returned holder are the batch tables BEFORE the state anti-join —
    * the min-merge path must see batch introducers that tie-break
    * against state rows, while the append path takes the anti-joined
    * new-key-only tables.
    */
  private final case class RawDeltas(keepers: DataFrame, sigs: DataFrame,
      ng3: DataFrame, ng8: DataFrame, ng3ByMin: DataFrame, ng8ByMin: DataFrame,
      kmv: DataFrame, cms: DataFrame) {
    def toDeltas: StateDeltas = StateDeltas(keepers, sigs, ng3, ng8, kmv, cms)
  }

  private def advanceDeltas(batch: DataFrame, st: States, id: Column, text: Column,
      chunkWords: Int, k: Int, depth: Int,
      width: Int,
      fullMode: Boolean): (DataFrame, RawDeltas) = {
    val b = batch.select(id.as("doc_id"), text.as("text"))
    // ONE chunk-table pass feeds gate 1 AND the keeper delta: the
    // batch-first rows surviving the keeper-state anti-join carry both
    // the reconstruct columns (the gate's survivors) and the (h, keep)
    // key — r14: previously the keeper delta re-ran the whole chunk
    // derivation + state anti-join a second time
    val newKeeperRows = Dedup.stageEager(Dedup.newKeeperChunkRows(
      b, st.keepers, col("doc_id"), col("text"), chunkWords))
    val s1 = Dedup.stageEager(b.join(
      Dedup.reconstructDocs(newKeeperRows).select(col("doc_id")), Seq("doc_id")))
    // composite-band signature join (r13): the 4×16-bit single-chunk
    // scheme's candidate volume owned 143 of the advance's 157 s at
    // 500k docs — same exact pair set, 4× less verify volume
    val shDup = Dedup.stageEager(
      Dedup.simHashPairsIncrementalBanded(st.sigs, s1, col("doc_id"), col("text"),
          maxDist = 3)
        .select(col("id_new").as("doc_id")).distinct())
    val s2 = Dedup.stageEager(s1.join(shDup, Seq("doc_id"), "left_anti"))
    val kmv1 = Kmv.advance(st.kmv, tok(s2), Seq.empty, col("ng"), k)
    // the ng8 batch table ≡ the self-rep batch-owner table (same
    // per-key min over the same ngram hashes) — staged once, consumed
    // by the owner join AND the delta / min-merge path
    val ng8b = Dedup.stageEager(Dedup.ngramFirstDocs(s2, col("doc_id"), col("text"), 8))
    // ng3b is consumed twice in full mode (novelty delta + min-merge)
    // but once in delta mode — staged only where shared (the r13
    // staging-probe lesson: staging single-consumer tables is a loss)
    val ng3b0 = Dedup.ngramFirstDocs(s2, col("doc_id"), col("text"), 3)
    val ng3b = if (fullMode) Dedup.stageEager(ng3b0) else ng3b0
    // the ng3 DELTA doubles as the novelty numerator: its rows are
    // exactly the batch-first ngrams absent from state, so novel_ppm =
    // |delta| · 1e6 DIV |batch (doc, ngram) pairs| — one ng3 state
    // join per advance instead of ngramNoveltyIncremental's second.
    // Staged in delta mode only (there the report AND saveStatesDelta
    // consume it; in full mode the report alone does)
    val ng3d0 = ng3b.join(st.ng3.select(col("ng")), Seq("ng"), "left_anti")
    val ng3d = if (fullMode) ng3d0 else Dedup.stageEager(ng3d0)
    val nn3 = s2.select(explode(Dedup.hashedNgrams(s2, col("text"), 3)).as("ng"))
    // the report's seven row counts in ONE aggregate over one union of
    // the sources, each row tagged with its source: a cross join of
    // one-row aggregates costs a shuffle and a broadcast per count
    val counted = Seq("n_batch" -> b, "n_chunk_surv" -> s1, "n_simhash_dup" -> shDup,
      "n_surv" -> s2, "__novel" -> ng3d, "__nn" -> nn3,
      "n_selfrep_spans" -> Dedup.selfRepSpansIncrementalWithOwn(s2, Some(ng8b), st.ng8,
        col("doc_id"), col("text"), 8))
    val perSource = counted.zipWithIndex.map { case ((name, _), i) =>
      count(when(col("__src") === i, 1)).as(name) }
    val counts = counted.zipWithIndex.map { case ((_, f), i) => f.select(lit(i).as("__src")) }
      .reduce(_ union _)
      .agg(perSource.head, perSource.tail: _*)
    val report = counts.select(col("n_batch"), col("n_chunk_surv"), col("n_simhash_dup"),
        col("n_surv"), expr(
          "CASE WHEN __nn = 0 THEN CAST(0 AS BIGINT) ELSE __novel * 1000000 DIV __nn END")
          .as("novel_ppm"), col("n_selfrep_spans"))
      .crossJoin(kmv1.select(Kmv.estimate(col("ks"), k, Dedup.PolyP1).as("est_vocab")))
    val deltas = RawDeltas(
      // new chunk hashes only (old keepers win: Dedup.chunkKeepersMerged's
      // contract) — the staged gate rows, keyed
      keepers = newKeeperRows.select(col("h"), col("keep")),
      sigs = Dedup.simHashDf(s2, col("doc_id"), col("text")),
      ng3 = ng3d,
      ng8 = ng8b.join(st.ng8.select(col("ng")), Seq("ng"), "left_anti"),
      ng3ByMin = ng3b,
      ng8ByMin = ng8b,
      kmv = kmv1,
      cms = Stats.cmsMerge(st.cms, Stats.cmsCells(tok(s2), col("ng"), depth, width)))
    (report, deltas)
  }

  /** The family's declaration to [[StateVersions]], which owns the
    * on-disk layout: six plain parquet tables; a delta version writes
    * the four append-shaped ones as `<t>.d` and the bounded kmv/cms
    * sketches in full; `keepers` marks a full version.
    */
  private[graft] val family = StateVersions.Family("ingest",
    tables = Seq("keepers", "sigs", "ng3", "ng8", "kmv", "cms"),
    deltaTables = Seq("keepers", "sigs", "ng3", "ng8"),
    classifier = "keepers")

  /** Write the six state tables as the FULL version `dir/v=version`
    * ([[StateVersions.writeVersion]]: published by its commit marker,
    * created last, so a crashed save is invisible and its replay
    * rewrites the same version). Every table is plain parquet; the
    * advance's batch×state joins are planned from the sizes the engine
    * observes (AQE), not from a write-time layout.
    *
    * ONE writer per state dir. The intended writer is a single
    * streaming query whose checkpoint serializes versions
    * ([[graft.streaming.EventStream.ingestAdvanceStream]]); concurrent
    * BACKFILLS go to separate dirs and merge by folding one dir's
    * batches into the other's chain as sequential [[advanceOnce]] +
    * [[saveStates]] steps.
    */
  def saveStates(st: States, dir: String, version: Long): Unit =
    StateVersions.writeVersion(family, dir, version, delta = false,
      family.tables.zip(Seq(st.keepers, st.sigs, st.ng3, st.ng8, st.kmv, st.cms)))

  /** [[saveStates]], with `buckets` IGNORED: the hash-bucketed base
    * layout it once selected is retired (PLANS.md, "Measured and
    * rejected"). Kept only so existing callers that still pass
    * `buckets` compile; a base written bucketed by an older build is
    * plain parquet files and loads like any other.
    */
  @deprecated("the bucketed layout is retired; `buckets` is ignored", "0.1.0")
  def saveStates(st: States, dir: String, version: Long, buckets: Option[Int]): Unit =
    saveStates(st, dir, version)

  /** Write one advance's [[StateDeltas]] as the DELTA version
    * `dir/v=version`: O(batch) parquet per advance, where
    * [[saveStates]] rewrites the O(corpus) state. A periodic full
    * [[saveStates]] rebases the chain so read fan-in and retention stay
    * bounded ([[graft.streaming.EventStream.ingestAdvanceStream]] wires
    * `deltaRebaseEvery`).
    */
  def saveStatesDelta(d: StateDeltas, dir: String, version: Long): Unit =
    StateVersions.writeVersion(family, dir, version, delta = true,
      family.tables.zip(Seq(d.keepers, d.sigs, d.ng3, d.ng8, d.kmv, d.cms)))

  /** One-time migration for a family written before the commit-marker
    * protocol existed ([[StateVersions.adoptLegacy]]): after an upgrade
    * [[loadStates]] would otherwise see an empty family and steer the
    * operator toward a re-bootstrap that loses the corpus memory
    * (ADVICE r12). Run it ONCE, with no writer active on the family (a
    * post-upgrade in-flight rewrite is marker-less by design). Returns
    * the versions published.
    */
  def adoptLegacyVersions(spark: SparkSession, dir: String): Seq[Long] =
    StateVersions.adoptLegacy(spark, dir, family)

  /** The state at the newest committed version ≤ `upTo` (replay
    * safety: a crashed attempt's half-written NEWER version is ignored
    * and overwritten): the append tables as their base ∪ delta layers,
    * kmv/cms from the head alone. A chain whose base was compacted away
    * fails loudly — [[compactStates]] never strands a retained delta.
    * Every table is read as plain parquet, so a base an older build
    * wrote hash-bucketed loads the same way; its `_BUCKETS` file is
    * inert.
    */
  def loadStates(spark: SparkSession, dir: String,
      upTo: Long = Long.MaxValue): (Long, States) =
    loadResolved(StateVersions.resolve(spark, dir, family), upTo)

  /** [[loadStates]] from a resolution the caller already holds (a
    * stream sink's guard resolved the dir for this batch).
    */
  private[graft] def loadResolved(r: StateVersions.Resolved, upTo: Long): (Long, States) = {
    // zero committed but unmarked v=N dirs present = a pre-marker
    // family after upgrade: halting with the migration by name beats
    // a misleading "run initStates first" that invites a re-bootstrap
    val c = r.loadChain(upTo,
      if (r.committed.isEmpty && r.versions.nonEmpty)
        s"no COMMITTED state version under ${r.dir} but ${r.versions.length} unmarked v=N " +
          "dir(s) exist — if this family predates the commit-marker protocol, verify and " +
          "publish it with Ingest.adoptLegacyVersions(spark, dir) (adopts versions whose six " +
          "tables all carry parquet _SUCCESS); do NOT re-bootstrap"
      else s"no state version ≤ $upTo under ${r.dir} — run initStates + saveStates first")
    (c.head, States(c.read("keepers"), c.read("sigs"), c.read("ng3"), c.read("ng8"),
      c.readHead("kmv"), c.readHead("cms")))
  }

  /** The stream sinks' ingest step for batch `batchId`: load ≤ batchId
    * from the batch's resolution, advance, and save v=batchId+1 — the
    * min-merge [[advanceOnce]] and a full save on every version when
    * `rebaseEvery` is None, else [[advanceOnceDelta]] and a full or
    * delta save by [[StateVersions.rebaseAt]]. Returns the report.
    */
  private[graft] def sinkStep(b: DataFrame, r: StateVersions.Resolved, batchId: Long,
      rebaseEvery: Option[Int], chunkWords: Int, k: Int, depth: Int,
      width: Int): DataFrame = {
    val (_, st) = loadResolved(r, upTo = batchId)
    val version = batchId + 1
    rebaseEvery match {
      case None =>
        val (report, next) = advanceOnce(b, st, col("doc_id"), col("text"),
          chunkWords, k, depth, width)
        saveStates(next, r.dir, version)
        report
      case Some(_) =>
        val (report, next, d) = advanceOnceDelta(b, st, col("doc_id"), col("text"),
          chunkWords, k, depth, width)
        if (StateVersions.rebaseAt(version, rebaseEvery)) saveStates(next, r.dir, version)
        else saveStatesDelta(d, r.dir, version)
        report
    }
  }

  /** Retention ([[StateVersions.compact]] with this family): keep the
    * newest `keepLast` committed versions, never stranding a retained
    * delta's base, and sweep crash debris older than `debrisGraceMs`.
    * A replay older than retention fails loudly on [[loadStates]]'
    * require rather than silently re-bootstrapping. `keepLast ≥ 1`.
    * Returns the versions deleted.
    */
  def compactStates(spark: SparkSession, dir: String, keepLast: Int,
      debrisGraceMs: Long = 15 * 60 * 1000L): Seq[Long] =
    StateVersions.compact(spark, dir, keepLast, family, debrisGraceMs)
}
