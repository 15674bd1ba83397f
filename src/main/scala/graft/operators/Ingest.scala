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
  * Persistence is VERSIONED parquet (`dir/v=N/<table>`): a step reads
  * version ≤ batchId and overwrites version batchId+1, so replaying a
  * failed micro-batch rewrites the same version instead of
  * double-advancing — the standard idempotent-foreachBatch contract.
  * A version is only visible once its `_COMMITTED` marker exists
  * ([[saveStates]] creates it AFTER all six table writes succeed), so
  * a crash mid-save can never be adopted as the latest state.
  * Old versions are retained (time travel / audit); [[compactStates]]
  * is the retention policy (keep the newest N versions). All path
  * handling goes through the Hadoop FileSystem of the dir's own
  * scheme, so `dir` may be local, HDFS or an object store alike.
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

  private val tables = Seq("keepers", "sigs", "ng3", "ng8", "kmv", "cms")
  /** Tables persisted incrementally by [[saveStatesDelta]] (as
    * `<table>.d`); kmv/cms are always written in full.
    */
  private val appendTables = Seq("keepers", "sigs", "ng3", "ng8")

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
    val report = b.agg(count(lit(1)).as("n_batch"))
      .crossJoin(s1.agg(count(lit(1)).as("n_chunk_surv")))
      .crossJoin(shDup.agg(count(lit(1)).as("n_simhash_dup")))
      .crossJoin(s2.agg(count(lit(1)).as("n_surv")))
      .crossJoin(ng3d.agg(count(lit(1)).as("__novel"))
        .crossJoin(nn3.agg(count(lit(1)).as("__nn")))
        .select(expr(
          "CASE WHEN __nn = 0 THEN CAST(0 AS BIGINT) ELSE __novel * 1000000 DIV __nn END")
          .as("novel_ppm")))
      .crossJoin(Dedup.selfRepSpansIncrementalWithOwn(s2, Some(ng8b), st.ng8Layers,
          col("doc_id"), col("text"), 8)
        .agg(count(lit(1)).as("n_selfrep_spans")))
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

  /** Name of the per-version commit marker — [[StateVersions]]' (the
    * protocol is shared with [[DupState]]; see the module scaladoc).
    */
  private[graft] val CommitMarker = StateVersions.CommitMarker

  /** Name of the per-version bucket-layout marker: present (holding
    * the bucket count) iff the version's keepers/ng3/ng8 were written
    * hash-bucketed by their join key. Written BEFORE the commit
    * marker, so a committed version's layout is always readable.
    */
  private[graft] val BucketsMarker = "_BUCKETS"

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
    val ddl = spark.read.parquet(path).schema.toDDL
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

  /** Bucket count of a committed version's key tables, if bucketed. */
  private def bucketsOf(spark: SparkSession, dir: String, version: Long): Option[Int] = {
    val p = new org.apache.hadoop.fs.Path(s"$dir/v=$version/$BucketsMarker")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try Some(new String(org.apache.hadoop.io.IOUtils.readFullyToByteArray(in),
        "UTF-8").trim.toInt)
      finally in.close()
    }
  }

  /** Write the six state tables under `dir/v=version`, then publish
    * the version ATOMICALLY by creating the [[CommitMarker]] file as
    * the last step. Six sequential parquet writes are individually
    * atomic but not jointly: a crash between them leaves a version
    * with missing (or committer-partial) tables, and a `loadStates`
    * with the default `upTo` would otherwise adopt that half-state as
    * latest — silent truncation of the corpus memory. With the
    * marker, a crashed save is simply invisible; the replay rewrites
    * the same version (the marker is removed FIRST, so a crash
    * mid-rewrite un-publishes rather than exposing a mix of old and
    * new tables) and re-publishes at the end.
    *
    * `buckets = Some(B)` bucket-co-locates the three KEY-JOINED tables
    * (keepers by h, ng3/ng8 by ng — [[bucketKeys]]) so every
    * batch×state join of later advances runs with NO state-side
    * exchange ([[loadStates]] exposes the layered view); costs one
    * extra shuffle+sort per table at write (StateBucketProbe: ~3× a
    * plain base write — pay it at bootstrap/rebase, never per delta).
    *
    * Concurrency contract: ONE writer per state dir. The marker makes
    * a crashed-and-replayed save of the same version safe, but two
    * LIVE writers racing the same `v=N` would interleave table
    * overwrites that no marker ordering can fence (the same reason
    * every log-structured store serializes its manifest). The intended
    * driver is a single streaming query/scheduler whose checkpoint
    * serializes versions ([[graft.streaming.EventStream.ingestAdvanceStream]]);
    * concurrent BACKFILLS go to separate dirs and merge by folding one
    * dir's batches into the other's chain as sequential
    * [[advanceOnce]] + [[saveStates]] steps.
    */
  def saveStates(st: States, dir: String, version: Long,
      buckets: Option[Int] = None): Unit = {
    // Stale-path rule (ADVICE r13): rewriting a version that previously
    // held (or crashed holding) the DELTA layout must not leave `<t>.d`
    // dirs behind — loadStates' layer scan unions every `.d` dir of
    // versions above the base, so a stale delta dir would silently
    // double rows into the chain read. The buckets marker of a previous
    // layout goes with them — rewritten below when asked for.
    val (fs, base) = StateVersions.beginVersionWrite(st.keepers.sparkSession, dir, version,
      appendTables.map(t => s"$t.d") :+ BucketsMarker)
    // the six writes run concurrently (StateVersions.writeAll — §2.6
    // overlap; marker still last): a full save's wall becomes the
    // slowest table, not the sum of six task tails + commits
    StateVersions.writeAll(
      Seq(st.keepers, st.sigs, st.ng3, st.ng8, st.kmv, st.cms).zip(tables).map {
        case (df, t) => () => buckets match {
          case Some(b) if bucketKeys.contains(t) =>
            writeBucketedTable(df, s"$base/$t", bucketKeys(t), b)
          case _ => df.write.mode("overwrite").parquet(s"$base/$t")
        }
      })
    buckets.foreach { b =>
      val out = fs.create(new org.apache.hadoop.fs.Path(s"$base/$BucketsMarker"), true)
      try out.write(b.toString.getBytes("UTF-8")) finally out.close()
    }
    StateVersions.publish(fs, base)
  }

  /** Write one advance's [[StateDeltas]] as a DELTA version (append
    * tables as `<table>.d`, the bounded kmv/cms sketches in full),
    * same atomic [[CommitMarker]] protocol as [[saveStates]]. This is
    * the 100 TB-shaped advance persistence: [[saveStates]] rewrites
    * the FULL corpus-sized state every version — O(corpus) of parquet
    * written per daily batch, i.e. rewriting the lake daily — while a
    * delta version writes O(batch). [[loadStates]] reads
    * `newest full base ≤ upTo` ∪ the committed deltas above it (the
    * LSM/log-structured read path, a plain multi-dir parquet scan —
    * no merge aggregate, every key lives in exactly one layer by the
    * append contract on [[StateDeltas]]); a periodic full
    * [[saveStates]] rebases the chain so read fan-in and retention
    * stay bounded ([[graft.streaming.EventStream.ingestAdvanceStream]]
    * wires `deltaRebaseEvery`).
    */
  def saveStatesDelta(d: StateDeltas, dir: String, version: Long): Unit = {
    // Stale-path rule (ADVICE r13 medium): rewriting a version that
    // previously held (or crashed holding) the FULL layout must not
    // leave its table dirs behind — listFullVersions classifies a
    // version as a chain base by the presence of a `keepers` dir, so a
    // stale full-layout `keepers` (e.g. a crashed full save at v
    // replayed as a delta after a restart flipped deltaRebaseEvery's
    // phase) would make loadStates adopt v as the base and read the
    // stale/partial full tables instead of the committed delta chain.
    val (fs, base) = StateVersions.beginVersionWrite(d.keepers.sparkSession, dir, version,
      appendTables :+ BucketsMarker)
    // all six delta writes overlap (StateVersions.writeAll, §2.6);
    // marker still last
    StateVersions.writeAll(
      Seq(d.keepers, d.sigs, d.ng3, d.ng8).zip(appendTables).map {
        case (df, t) => () => df.write.mode("overwrite").parquet(s"$base/$t.d")
      } ++ Seq(
        () => d.kmv.write.mode("overwrite").parquet(s"$base/kmv"),
        () => d.cms.write.mode("overwrite").parquet(s"$base/cms")))
    StateVersions.publish(fs, base)
  }

  /** COMMITTED version directories under `dir` —
    * [[StateVersions.listVersions]] (one globStatus for all markers;
    * Hadoop FS of the dir's own scheme, so HDFS/S3 dirs work alike).
    */
  private[graft] def listVersions(spark: SparkSession, dir: String): Array[Long] =
    StateVersions.listVersions(spark, dir)

  /** One-time migration for a family written BEFORE the
    * [[CommitMarker]] protocol existed: such dirs carry no marker, so
    * after an upgrade [[loadStates]] would see an empty family and
    * steer the operator toward a re-bootstrap that loses the corpus
    * memory (ADVICE r12). A legacy version is adopted — its marker
    * touched — only when ALL six table subdirs carry a parquet
    * `_SUCCESS` file, i.e. every write completed through its
    * committer; anything less stays invisible, exactly like a crashed
    * save. Run this ONCE, with no writer active on the family (a
    * post-upgrade in-flight rewrite is marker-less by design and must
    * not be adopted mid-write). Returns the versions published.
    */
  def adoptLegacyVersions(spark: SparkSession, dir: String): Seq[Long] = {
    val path = new org.apache.hadoop.fs.Path(dir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // Full-layout check only, and that is exhaustive: the delta layout
    // postdates the marker protocol, so a genuine pre-marker family can
    // only ever carry full tables — do NOT point this at a
    // marker-stripped delta chain and conclude its data is gone.
    val adopted = StateVersions.listVersionDirs(spark, dir).collect { case (v, false) => v }
      .filter(v => tables.forall(t =>
        fs.exists(new org.apache.hadoop.fs.Path(s"$dir/v=$v/$t/_SUCCESS"))))
      .sorted
    adopted.foreach(v =>
      fs.create(new org.apache.hadoop.fs.Path(s"$dir/v=$v/$CommitMarker"), true).close())
    adopted.toSeq
  }

  /** Versions carrying the FULL table layout (bootstrap or rebase
    * bases), classified by the `keepers` dir only full versions have
    * (delta versions carry `keepers.d`).
    */
  private def listFullVersions(spark: SparkSession, dir: String): Array[Long] =
    StateVersions.layoutVersions(spark, dir, "keepers")

  /** Latest persisted version ≤ `upTo` (replay safety: a crashed
    * attempt's half-written NEWER version is ignored and overwritten).
    * Delta-aware: each append table reads the newest committed FULL
    * base ≤ `upTo` plus every committed delta version above it — a
    * plain multi-directory parquet scan (each key lives in exactly one
    * layer by the [[StateDeltas]] append contract, so no merge step);
    * kmv/cms always read from the newest version alone (full there in
    * both layouts). A chain whose base was compacted away fails
    * loudly — [[compactStates]] never strands a retained delta.
    */
  def loadStates(spark: SparkSession, dir: String,
      upTo: Long = Long.MaxValue): (Long, States) = {
    val all = StateVersions.listVersionDirs(spark, dir)
    val versions = all.collect { case (v, true) => v }.filter(_ <= upTo)
    // zero committed but unmarked v=N dirs present = a pre-marker
    // family after upgrade: halting with the migration by name beats
    // a misleading "run initStates first" that invites a re-bootstrap
    require(versions.nonEmpty,
      if (versions.isEmpty && all.exists(!_._2) && !all.exists(_._2))
        s"no COMMITTED state version under $dir but ${all.length} unmarked v=N dir(s) exist — " +
          "if this family predates the commit-marker protocol, verify and publish it with " +
          "Ingest.adoptLegacyVersions(spark, dir) (adopts versions whose six tables all carry " +
          "parquet _SUCCESS); do NOT re-bootstrap"
      else s"no state version ≤ $upTo under $dir — run initStates + saveStates first")
    val resolved = StateVersions.chain(versions, listFullVersions(spark, dir).toSet)
    require(resolved.nonEmpty,
      s"version ${versions.max} under $dir is a delta with no full base ≤ $upTo — the chain's " +
        "bootstrap/rebase base is missing (compacted externally?); rebuild a base with saveStates")
    val (head, vb, deltaVs) = resolved.get
    def tbl(t: String) = spark.read.parquet(
      (s"$dir/v=$vb/$t" +: deltaVs.map(v => s"$dir/v=$v/$t.d")): _*)
    def atHead(t: String) = spark.read.parquet(s"$dir/v=$head/$t")
    // When the base was written bucketed, ALSO expose the key-joined
    // tables as layers whose base leg is the registered bucketed scan:
    // the advance's batch×state joins then run per layer and the
    // O(state) side never shuffles. The single-frame unions below stay
    // plain reads — same rows, and resilient to any catalog state.
    val layers = bucketsOf(spark, dir, vb).map { b =>
      def layered(t: String): Seq[DataFrame] =
        readBucketedTable(spark, s"$dir/v=$vb/$t", bucketKeys(t), b) +:
          deltaVs.map(v => spark.read.parquet(s"$dir/v=$v/$t.d"))
      StateLayers(layered("keepers"), layered("ng3"), layered("ng8"))
    }
    (head, States(tbl("keepers"), tbl("sigs"), tbl("ng3"), tbl("ng8"),
      atHead("kmv"), atHead("cms"), layers))
  }

  /** Retention: delete state versions older than the newest `keepLast`
    * (the compaction policy the versioned layout otherwise delegates to
    * the caller — the state-family analogue of
    * [[graft.sources.Lake.compactPartition]]). Keeps the `keepLast`
    * HIGHEST versions; replay safety is preserved because
    * [[loadStates]]' `≤ upTo` contract still resolves for any
    * `upTo ≥` the oldest retained version, and a replay older than
    * retention fails loudly on loadStates' own require rather than
    * silently double-advancing. `keepLast ≥ 1` — compacting away every
    * version would turn the next advance into a silent re-bootstrap.
    * Returns the versions deleted.
    *
    * Concurrency (ADVICE r12): an in-flight [[saveStates]] of a NEW
    * version (max committed + 1, the foreachBatch contract) is never
    * touched — unmarked dirs at or above the newest committed version
    * are left alone. A concurrent marker-less REWRITE of an older
    * in-retention version (the time-travel `upTo` workflow re-saves
    * below max) is indistinguishable from crashed-save debris by
    * position alone, so the debris sweep additionally skips unmarked
    * dirs whose modification time falls within `debrisGraceMs`
    * (saveStates' marker delete and table writes keep the dir mtime
    * fresh for the whole rewrite). The grace is best-effort on stores
    * with weak directory mtimes — when in doubt, run compaction
    * mutually exclusive with any below-max rewrite; the normal
    * append-at-max loop needs no coordination.
    */
  def compactStates(spark: SparkSession, dir: String, keepLast: Int,
      debrisGraceMs: Long = 15 * 60 * 1000L): Seq[Long] =
    StateVersions.compact(spark, dir, keepLast, "keepers", debrisGraceMs)
}
