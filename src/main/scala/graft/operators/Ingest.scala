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

  /** The per-layer view of the three KEY-JOINED append tables when the
    * family was loaded from a delta chain: base first, then one entry
    * per committed delta. The advance's batch×state joins run per
    * layer ([[graft.operators.Dedup.antiJoinLayers]]) so a
    * bucket-co-located base joins with no state-side exchange — the
    * single-frame unions in [[States]] would erase that partitioning.
    */
  final case class StateLayers(keepers: Seq[DataFrame], ng3: Seq[DataFrame],
      ng8: Seq[DataFrame])

  final case class States(keepers: DataFrame, sigs: DataFrame,
      ng3: DataFrame, ng8: DataFrame, kmv: DataFrame, cms: DataFrame,
      layers: Option[StateLayers] = None) {
    // the advance consumes these; a States built in memory (no layers)
    // degrades to the single-frame form, which is the same join
    private[graft] def keeperLayers: Seq[DataFrame] =
      layers.map(_.keepers).getOrElse(Seq(keepers))
    private[graft] def ng3Layers: Seq[DataFrame] =
      layers.map(_.ng3).getOrElse(Seq(ng3))
    private[graft] def ng8Layers: Seq[DataFrame] =
      layers.map(_.ng8).getOrElse(Seq(ng8))
  }

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
    * tools/InitStageProbe measured every toggle combination and at
    * 500k docs (sf10) token-table staging is a net LOSS (one row per
    * word occurrence: materializing it costs more than KMV+CMS's two
    * re-derivations), while corpus staging wins 1.20× and grows with
    * scale. See PLANS.md round 13 for the paired rows. Semantics-free
    * — the tables are byte-identical either way
    * (IngestStateSpec/IngestStreamSpec).
    */
  def initStates(corpus: DataFrame, id: Column, text: Column,
      chunkWords: Int = 12, k: Int = 64, depth: Int = 4,
      width: Int = 256): States = Dedup.withStagingScope(corpus.sparkSession) {
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
    * The survivor sets are STAGED ([[Dedup.stageEager]], profile-aware)
    * before fan-out: the report plus the six next-state tables trigger
    * seven independent actions downstream, and without staging each one
    * would re-run the two gate joins — at daily-batch scale the gates
    * are the expensive part, so a 7× recompute dominates the advance.
    * Staging is semantics-free (IngestStreamSpec parity holds
    * unchanged); block residency follows the [[Dedup.withStagingScope]]
    * contract (released on the next entrant / [[Dedup.releaseStaged]]).
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
      fullMode: Boolean): (DataFrame, RawDeltas) = Dedup.withStagingScope(batch.sparkSession) {
    val b = batch.select(id.as("doc_id"), text.as("text"))
    // ONE chunk-table pass feeds gate 1 AND the keeper delta: the
    // batch-first rows surviving the keeper-state anti-join carry both
    // the reconstruct columns (the gate's survivors) and the (h, keep)
    // key — r14: previously the keeper delta re-ran the whole chunk
    // derivation + state anti-join a second time
    val newKeeperRows = Dedup.stageEager(Dedup.newKeeperChunkRows(
      b, st.keeperLayers, col("doc_id"), col("text"), chunkWords))
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
    // InitStageProbe lesson: staging single-consumer tables is a loss)
    val ng3b0 = Dedup.ngramFirstDocs(s2, col("doc_id"), col("text"), 3)
    val ng3b = if (fullMode) Dedup.stageEager(ng3b0) else ng3b0
    // the ng3 DELTA doubles as the novelty numerator: its rows are
    // exactly the batch-first ngrams absent from state, so novel_ppm =
    // |delta| · 1e6 DIV |batch (doc, ngram) pairs| — one ng3 state
    // join per advance instead of ngramNoveltyIncremental's second.
    // Staged in delta mode only (there the report AND saveStatesDelta
    // consume it; in full mode the report alone does)
    val ng3d0 = Dedup.antiJoinLayers(ng3b, "ng", st.ng3Layers)
    val ng3d = if (fullMode) ng3d0 else Dedup.stageEager(ng3d0)
    val nn3 = s2.select(explode(Dedup.hashedNgrams(s2, col("text"), 3)).as("ng"))
    // the report's seven row counts in ONE aggregate over one union of
    // the sources, each row tagged with its source: a cross join of
    // one-row aggregates costs a shuffle and a broadcast per count
    val counted = Seq("n_batch" -> b, "n_chunk_surv" -> s1, "n_simhash_dup" -> shDup,
      "n_surv" -> s2, "__novel" -> ng3d, "__nn" -> nn3,
      "n_selfrep_spans" -> Dedup.selfRepSpansIncrementalWithOwn(s2, Some(ng8b), st.ng8Layers,
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
      ng8 = Dedup.antiJoinLayers(ng8b, "ng", st.ng8Layers),
      ng3ByMin = ng3b,
      ng8ByMin = ng8b,
      kmv = kmv1,
      cms = Stats.cmsMerge(st.cms, Stats.cmsCells(tok(s2), col("ng"), depth, width)))
    (report, deltas)
  }

  /** Name of the per-version bucket-layout marker: present (holding
    * the bucket count) iff the version's keepers/ng3/ng8 were written
    * hash-bucketed by their join key.
    */
  private[graft] val BucketsMarker = "_BUCKETS"

  /** The family's declaration to [[StateVersions]], which owns the
    * on-disk layout: six tables; a delta version writes the four
    * append-shaped ones as `<t>.d` and the bounded kmv/cms sketches in
    * full; `keepers` marks a full version; every rewrite clears the
    * bucket-layout marker (rewritten by a bucketed full save).
    */
  private[graft] val family = StateVersions.Family("ingest",
    tables = Seq("keepers", "sigs", "ng3", "ng8", "kmv", "cms"),
    deltaTables = Seq("keepers", "sigs", "ng3", "ng8"),
    classifier = "keepers", markers = Seq(BucketsMarker))

  /** Bucketed-by-join-key parquet write of one state table (the
    * bucket-co-location the advance's batch×state joins exploit —
    * the loaded base then reports HashPartitioning and never
    * shuffles). Spark's bucket layout rides the catalog, so the write
    * goes through a transient external table entry that is dropped
    * right after (files stay — external). Pre-repartitioning on the
    * key gives each task exactly one bucket → ONE file per bucket, the
    * shape under which the reader also trusts SORTED BY and skips its
    * own sort.
    */
  private def writeBucketedTable(df: DataFrame, path: String, key: String,
      buckets: Int): Unit = {
    val spark = df.sparkSession
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // the version is un-published here (marker removed by the caller):
    // saveAsTable refuses to Overwrite an existing un-cataloged path
    if (fs.exists(p)) fs.delete(p, true)
    val name = s"graft_state_w_${java.lang.Integer.toUnsignedString(path.hashCode)}"
    spark.sql(s"DROP TABLE IF EXISTS $name")
    df.repartition(buckets, col(key))
      .write.mode("overwrite")
      .bucketBy(buckets, key).sortBy(key)
      .option("path", path).format("parquet").saveAsTable(name)
    spark.sql(s"DROP TABLE $name")
  }

  /** Re-register a bucketed state table over its existing files (a
    * fresh session's catalog does not know it) and return the catalog
    * scan — the only read path that carries the bucket spec into
    * planning; a plain parquet read of the same files returns the same
    * rows but a shuffling plan.
    */
  private def readBucketedTable(spark: SparkSession, path: String, key: String,
      buckets: Int): DataFrame = {
    val name = s"graft_state_r_${java.lang.Integer.toUnsignedString(path.hashCode)}"
    // always re-register: a version rewritten in-session at the same
    // path may have changed bucket count or file listing, and a stale
    // catalog entry (or its cached FileIndex) would silently serve it
    spark.sql(s"DROP TABLE IF EXISTS $name")
    val ddl = StateVersions.parquetSchema(spark, Seq(path)).toDDL
    spark.sql(s"CREATE TABLE $name ($ddl) USING PARQUET " +
      s"CLUSTERED BY ($key) SORTED BY ($key) INTO $buckets BUCKETS LOCATION '$path'")
    spark.table(name)
  }

  /** Join keys of the bucket-co-located tables. sigs is gated through
    * band keys derived from the signatures (never key-joined) and
    * kmv/cms are sketch-bounded — none of the three benefits from
    * bucketing, so they stay plain in every layout.
    */
  private val bucketKeys = Map("keepers" -> "h", "ng3" -> "ng", "ng8" -> "ng")

  /** Write the six state tables as the FULL version `dir/v=version`
    * ([[StateVersions.writeVersion]]: published by its commit marker,
    * created last, so a crashed save is invisible and its replay
    * rewrites the same version).
    *
    * `buckets = Some(B)` bucket-co-locates the three KEY-JOINED tables
    * (keepers by h, ng3/ng8 by ng — [[bucketKeys]]) so every
    * batch×state join of later advances runs with NO state-side
    * exchange ([[loadStates]] exposes the layered view); costs one
    * extra shuffle+sort per table at write (StateBucketProbe: ~3× a
    * plain base write — pay it at bootstrap/rebase, never per delta).
    *
    * ONE writer per state dir. The intended writer is a single
    * streaming query whose checkpoint serializes versions
    * ([[graft.streaming.EventStream.ingestAdvanceStream]]); concurrent
    * BACKFILLS go to separate dirs and merge by folding one dir's
    * batches into the other's chain as sequential [[advanceOnce]] +
    * [[saveStates]] steps.
    */
  def saveStates(st: States, dir: String, version: Long,
      buckets: Option[Int] = None): Unit =
    StateVersions.writeVersion(family, dir, version, delta = false,
      family.tables.zip(Seq(st.keepers, st.sigs, st.ng3, st.ng8, st.kmv, st.cms)),
      markers = buckets.map(b => BucketsMarker -> b.toString).toSeq,
      write = (t, df, path) => (buckets, bucketKeys.get(t)) match {
        case (Some(b), Some(key)) => writeBucketedTable(df, path, key, b)
        case _ => df.write.mode("overwrite").parquet(path)
      })

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
    // When the base was written bucketed, ALSO expose the key-joined
    // tables as layers whose base leg is the registered bucketed scan:
    // the advance's batch×state joins then run per layer and the
    // O(state) side never shuffles. The single-frame unions below stay
    // plain reads — same rows, and resilient to any catalog state.
    val layers = c.baseMarker(BucketsMarker).map(_.trim.toInt).map { b =>
      def layered(t: String): Seq[DataFrame] = {
        val paths = c.layers(t).map(_._2)
        readBucketedTable(r.spark, paths.head, bucketKeys(t), b) +:
          paths.tail.map(StateVersions.readParquet(r.spark, _))
      }
      StateLayers(layered("keepers"), layered("ng3"), layered("ng8"))
    }
    (c.head, States(c.read("keepers"), c.read("sigs"), c.read("ng3"), c.read("ng8"),
      c.readHead("kmv"), c.readHead("cms"), layers))
  }

  /** The stream sinks' ingest step for batch `batchId`: load ≤ batchId
    * from the batch's resolution, advance, and save v=batchId+1 — the
    * min-merge [[advanceOnce]] and a full save on every version when
    * `rebaseEvery` is None, else [[advanceOnceDelta]] and a full or
    * delta save by [[StateVersions.rebaseAt]]. Returns the report.
    */
  private[graft] def sinkStep(b: DataFrame, r: StateVersions.Resolved, batchId: Long,
      rebaseEvery: Option[Int], buckets: Option[Int], chunkWords: Int, k: Int, depth: Int,
      width: Int): DataFrame = {
    val (_, st) = loadResolved(r, upTo = batchId)
    val version = batchId + 1
    rebaseEvery match {
      case None =>
        val (report, next) = advanceOnce(b, st, col("doc_id"), col("text"),
          chunkWords, k, depth, width)
        saveStates(next, r.dir, version, buckets)
        report
      case Some(_) =>
        val (report, next, d) = advanceOnceDelta(b, st, col("doc_id"), col("text"),
          chunkWords, k, depth, width)
        if (StateVersions.rebaseAt(version, rebaseEvery)) saveStates(next, r.dir, version, buckets)
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
