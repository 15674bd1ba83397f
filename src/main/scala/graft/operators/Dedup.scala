package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines (SURVEY.md §2C).
  *
  * Scale design: nothing here ever compares all pairs. Exact dedup
  * groups on a 128-bit content hash (the shuffle carries hash+id, not
  * text). Near-dup ops generate candidates via bucket joins (LSH bands
  * / shared rare n-grams / SimHash chunks) and only verify within
  * buckets; hot buckets are bounded by document-frequency caps.
  */
object Dedup {

  /** Portable poly-hash parameters: both (base, modulus) pairs are
    * replayable in DuckDB SQL (see graft.functions.PolyHash scaladoc),
    * which is what lets the LSH pipelines be oracle-verified.
    */
  val PolyP1 = 2147483647L // 2^31 - 1 (Mersenne prime)
  val PolyP2 = 2147483629L // largest prime below it
  val PolyB1 = 131
  val PolyB2 = 137

  /** Portable polynomial string hash column: native codegen kernel when
    * GraftExtensions is installed, else the bit-identical HOF fold.
    */
  def polyHash(df: DataFrame, c: Column, b: Int, p: Long): Column =
    if (df.sparkSession.sessionState.functionRegistry.functionExists(graft.functions.PolyHash.identifier))
      call_function("graft_polyhash", c, lit(b), lit(p))
    else {
      val codes = transform(sequence(lit(1), length(c)), i => ascii(substring(c, i, lit(1))))
      aggregate(codes, lit(0L), (acc, cp) => (acc * b + cp) % p)
    }

  /** Eagerly materialize a staged intermediate that multiple
    * consumers re-read — deployment-aware (ADVICE r7): executor-local
    * checkpoint blocks are NOT fault-tolerant, so at cluster scale a
    * lost executor would fail the job instead of recomputing.
    *  - a RELIABLE checkpoint dir is set (`sc.setCheckpointDir`, the
    *    cluster submit's job): fault-tolerant `checkpoint`;
    *  - cluster profile without one: persist MEMORY_AND_DISK with
    *    LINEAGE RETAINED — slower re-derivation on executor loss,
    *    never job-fatal;
    *  - local harness: `localCheckpoint` — fastest, and executor loss
    *    there is JVM loss anyway.
    */
  private[graft] def stageEager(df: DataFrame): DataFrame = {
    val sess = df.sparkSession
    if (sess.sparkContext.getCheckpointDir.isDefined) df.checkpoint(eager = true)
    else if (graft.GraftSession.profileOf(sess).name == graft.GraftSession.Cluster1000.name) {
      import org.apache.spark.storage.StorageLevel
      val d = df.persist(StorageLevel.MEMORY_AND_DISK); d.count()
      // Register under the LIST lock with an identity re-check (ADVICE
      // r10): releaseCompleted may remove an emptied list from the map
      // between our computeIfAbsent and add — an entry added to that
      // orphaned list could never be released. Removal also holds the
      // list lock, so `map.get eq list` under it is race-free; retry on
      // a fresh list if we lost.
      val entry = StagedEntry(currentToken.get, d)
      var registered = false
      while (!registered) {
        val list = stagedBySession.computeIfAbsent(sess, _ =>
          java.util.Collections.synchronizedList(
            new java.util.ArrayList[StagedEntry]()))
        list.synchronized {
          if (stagedBySession.get(sess) eq list) { list.add(entry); registered = true }
        }
      }
      d
    } else df.localCheckpoint(eager = true)
  }

  /** A staged block plus the entry-point invocation that registered
    * it (`token` is null only if [[stageEager]] ran outside any entry
    * scope — treated as a completed invocation's block).
    */
  private final case class StagedEntry(token: AnyRef, df: DataFrame)

  /** Staging blocks persisted by [[stageEager]]'s Cluster1000
    * MEMORY_AND_DISK fallback, per session. Disk-backed cache blocks
    * are only freed on unpersist or app end, so in a long-lived
    * cluster session each staged intermediate would otherwise leak —
    * its consumers are lazy (the caller acts on the returned
    * DataFrame AFTER the operator returns), so the operator itself
    * cannot know when unpersisting is cache-safe. Contract instead:
    * every staging entry point ([[dedupFunnel]], [[fuzzyJoin1]],
    * [[ngramJaccardPairs]], [[ngramContainmentPairs]],
    * [[ForecastPipeline.run]]) releases the
    * blocks of previously COMPLETED invocations on entry — residency
    * is bounded by the in-flight invocations plus the most recent
    * completed one, instead of growing with call count — and
    * [[releaseStaged]] is the explicit cleanup handle a session calls
    * once its last dedup result has been consumed. Entries are tagged
    * with their invocation's token, so a concurrent entrant on the
    * same session (concurrent Spark jobs are a normal driver pattern)
    * never unpersists another invocation's blocks mid-flight — it
    * releases only tokens no longer live. Releasing before a prior
    * RESULT was consumed is still possible (results are lazy and
    * outlive their invocation) and is lineage-safe (the persist
    * branch retains lineage by design): the consumer recomputes
    * without the cache — slower, never wrong.
    *
    * Lifecycle caveat: the map holds strong references to sessions
    * (weak keys can't work — the staged DataFrames reference their
    * session, so the values would pin the keys anyway). A long-lived
    * driver that mints many short-lived sessions (session-per-user
    * servers) MUST call [[releaseStaged]] when retiring a session, or
    * the session, its plans, and its disk-backed cache blocks stay
    * pinned for the app lifetime — there is no session-end event in
    * Spark to hook this automatically.
    */
  private val stagedBySession =
    new java.util.concurrent.ConcurrentHashMap[org.apache.spark.sql.SparkSession,
      java.util.List[StagedEntry]]()

  /** Tokens of entry-point invocations currently executing (on any
    * thread); entry-release skips their blocks.
    */
  private val liveTokens =
    java.util.concurrent.ConcurrentHashMap.newKeySet[AnyRef]()

  /** The entry-point invocation token for the current thread, set for
    * the duration of [[withStagingScope]] so [[stageEager]] can tag
    * the entries it registers.
    */
  private val currentToken = new ThreadLocal[AnyRef]

  /** Runs a staging entry point: mints an invocation token, releases
    * the blocks of every COMPLETED prior invocation on this session
    * (bounded residency), and retires the token when the body
    * returns. The body's own staged blocks stay registered — their
    * consumers are lazy — and are freed by the next entrant or by
    * [[releaseStaged]].
    */
  private[graft] def withStagingScope[A](sess: org.apache.spark.sql.SparkSession)(body: => A): A = {
    val tok = new Object
    // Reentrant (ADVICE r10): a composed entry point (e.g. a pipeline
    // calling fuzzyJoin1 inside its own scope) must get the OUTER token
    // back when the nested scope exits, or the outer invocation's
    // subsequent stageEager entries would be tagged null and become
    // releasable mid-flight by any concurrent entrant.
    val prev = currentToken.get
    liveTokens.add(tok)
    currentToken.set(tok)
    releaseCompleted(sess)
    try body
    finally {
      if (prev == null) currentToken.remove() else currentToken.set(prev)
      liveTokens.remove(tok)
    }
  }

  /** Unpersist and deregister this session's staged blocks whose
    * invocation is no longer live (entry-release; never touches an
    * in-flight concurrent invocation's staging).
    */
  private def releaseCompleted(sess: org.apache.spark.sql.SparkSession): Unit = {
    val staged = stagedBySession.get(sess)
    if (staged != null) staged.synchronized {
      val it = staged.iterator()
      while (it.hasNext) {
        val e = it.next()
        if (e.token == null || !liveTokens.contains(e.token)) {
          e.df.unpersist(blocking = false); it.remove()
        }
      }
      if (staged.isEmpty) stagedBySession.remove(sess, staged)
    }
  }

  /** Release ALL Cluster1000 staging blocks this session holds,
    * including any in-flight invocation's (the explicit cleanup
    * handle — call after the last dedup result is consumed, and when
    * retiring a session in a multi-session driver). Lineage-safe even
    * if called early: consumers recompute without the cache.
    */
  def releaseStaged(spark: org.apache.spark.sql.SparkSession): Unit = {
    val staged = stagedBySession.remove(spark)
    if (staged != null) staged.synchronized {
      staged.forEach(e => { e.df.unpersist(blocking = false); () })
    }
  }

  /** Registered-but-unreleased staging entries for a session (spec
    * observability — the bounded-residency contract's direct gauge).
    */
  private[graft] def stagedBlockCount(spark: org.apache.spark.sql.SparkSession): Int = {
    val l = stagedBySession.get(spark)
    if (l == null) 0 else l.size
  }

  /** The calling thread's staging-scope token (null outside any
    * scope) — capture it before handing work to a helper thread, then
    * install it there with [[withStagingToken]]. A pool thread that
    * stages WITHOUT the caller's token registers null-token entries,
    * which [[releaseCompleted]] treats as a completed invocation's
    * blocks — any concurrent entry point could unpersist them
    * mid-flight (r17 verdict #1: the par2 overlap could cancel itself
    * exactly that way on the Cluster1000 staging path).
    */
  private[graft] def currentStagingToken: AnyRef = currentToken.get

  /** Run `body` with `tok` installed as this thread's staging token
    * (set/restore) — the helper-thread half of the token-propagation
    * contract above. Passing null runs body unscoped, as before.
    */
  private[graft] def withStagingToken[A](tok: AnyRef)(body: => A): A = {
    val prev = currentToken.get
    if (tok == null) currentToken.remove() else currentToken.set(tok)
    try body
    finally { if (prev == null) currentToken.remove() else currentToken.set(prev) }
  }

  /** [[stageEager]] for ITERATIVE loop state (CC label/edge tables):
    * lineage GROWTH is what the checkpoint truncates, so the
    * persist-with-lineage branch is not an option — reliable
    * checkpoint when a dir is set, executor-local otherwise.
    */
  private def iterEager(df: DataFrame): DataFrame =
    if (df.sparkSession.sparkContext.getCheckpointDir.isDefined) df.checkpoint(eager = true)
    else df.localCheckpoint(eager = true)

  /** Exact duplicate groups by md5 content hash. Returns one row per
    * duplicated content: (keep_id = min doc id, n_copies).
    */
  def exactGroups(df: DataFrame, id: Column, text: Column): DataFrame =
    df.groupBy(md5(text.cast("binary")).as("content_hash"))
      .agg(min(id).as("keep_id"), count(lit(1)).as("n_copies"))
      .filter(col("n_copies") > 1)

  /** 62-bit chunk content key: two independent portable poly-hashes
    * packed as h1 + h2·2³¹ (both < 2³¹, so the sum fits in 62 bits —
    * exact in both engines' BIGINT). Shared by the batch and
    * incremental chunk-dedup paths so the keeper-table key format can
    * only change in one place.
    */
  private[graft] def chunkKey62(df: DataFrame, c: Column): Column =
    polyHash(df, c, PolyB1, PolyP1) + polyHash(df, c, PolyB2, PolyP2) * lit(1L << 31)

  /** Chunk-level (paragraph-level) exact dedup with document
    * reconstruction (RefinedWeb/C4-style "remove duplicated paragraphs,
    * keep the rest of the document"): split each document into
    * fixed-size word chunks, keep only the globally FIRST occurrence of
    * each distinct chunk (min (doc_id, chunk_idx)), and rebuild each
    * document from its surviving chunks in original order. Documents
    * whose every chunk duplicates an earlier one vanish entirely —
    * which is exactly doc-level exact dedup falling out as the
    * degenerate case.
    *
    * Scale shape: the chunk table is exploded once; the keeper table is
    * a partial-aggregating groupBy on the chunk hash whose shuffle rows
    * are (hash, 12 bytes) — chunk TEXT crosses the wire only in the
    * re-join and the per-doc regroup, both chunk-sized not corpus². No
    * window over a low-cardinality key: parallelism is one task per
    * hash/doc partition. The chunk key is a 62-BIT combination of two
    * independent poly-hashes (h1 + h2·2³¹, the SimHash62 construction):
    * a single 31-bit hash gives ~240 false chunk merges per 1M distinct
    * chunks (birthday bound) — each silently deleting real content from
    * text_kept — while the 62-bit key pushes that far past corpus
    * scale. The DuckDB oracle replays the same two hashes, so the (now
    * negligible) collisions stay cross-engine exact.
    *
    * Returns (doc_id, n_chunks, n_kept, text_kept) for docs with at
    * least one surviving chunk.
    */
  def chunkDedup(df: DataFrame, id: Column, text: Column, chunkWords: Int): DataFrame = {
    val hashed = chunkTable(df, id, text, chunkWords)
    // first global occurrence per chunk content: partial-agg min struct,
    // narrow shuffle rows (no per-key window sort)
    val keepers = hashed.groupBy(col("h"))
      .agg(min(struct(col("doc_id"), col("idx"))).as("keep"))
    reconstructDocs(hashed.join(keepers, Seq("h"))
      .filter(col("doc_id") === col("keep.doc_id") && col("idx") === col("keep.idx")))
  }

  /** The exploded + 62-bit-hashed chunk staging table behind both
    * chunk-dedup paths: (doc_id, n_chunks, idx, chunk, h).
    */
  private def chunkTable(df: DataFrame, id: Column, text: Column, chunkWords: Int): DataFrame = {
    val w = split(text, " ")
    val nChunks = floor((size(w) + lit(chunkWords - 1)) / lit(chunkWords)).cast("int")
    val chunks = df.select(
        id.as("doc_id"), nChunks.as("n_chunks"),
        posexplode(transform(sequence(lit(1), nChunks),
          i => array_join(slice(w, (i - lit(1)) * chunkWords + lit(1), lit(chunkWords)), " "))))
      .withColumnRenamed("pos", "idx")
      .withColumnRenamed("col", "chunk")
    chunks.withColumn("h", chunkKey62(chunks, col("chunk")))
  }

  /** Rebuild (doc_id, n_chunks, n_kept, text_kept) from surviving
    * (doc_id, n_chunks, idx, chunk) rows, original chunk order.
    * (package-visible: the ingest advance stages the survivor rows
    * once and reconstructs + keeper-deltas from the same frame.)
    */
  private[graft] def reconstructDocs(survivors: DataFrame): DataFrame =
    survivors.groupBy(col("doc_id"))
      .agg(max(col("n_chunks")).as("n_chunks"), count(lit(1)).as("n_kept"),
        array_join(transform(array_sort(collect_list(struct(col("idx"), col("chunk")))),
          x => x.getField("chunk")), " ").as("text_kept"))

  /** The persisted chunk-dedup STATE: first global occurrence per
    * 62-bit chunk hash — (h, keep = struct(doc_id, idx)). At 100 TB
    * this is the table an ingest pipeline writes (bucketed by h) so
    * that each day's batch dedups against state instead of re-scanning
    * the corpus.
    */
  def chunkKeepers(df: DataFrame, id: Column, text: Column, chunkWords: Int): DataFrame =
    chunkTable(df, id, text, chunkWords).groupBy(col("h"))
      .agg(min(struct(col("doc_id"), col("idx"))).as("keep"))

  /** Incremental chunk dedup — the daily-ingest shape of chunkDedup
    * (the q67 pattern applied to the chunk family): dedup a NEW batch
    * against the persisted keeper state only. A batch chunk survives
    * iff its hash is absent from `keepers` AND it is the first
    * occurrence within the batch itself; surviving chunks rebuild the
    * batch documents in original order (same output contract as
    * chunkDedup, batch docs only).
    *
    * Equivalence: when batch ids sort after corpus ids (the ingest
    * invariant — new docs get new, larger ids), this equals the full
    * recompute `chunkDedup(corpus ∪ batch)` restricted to batch docs
    * (parity-spec'd). Cost shape: every stage — explode, hash, batch
    * first-occurrence groupBy — scales with the BATCH; the only
    * corpus-sized touch is the anti-join against the keeper table,
    * which at 100 TB is bucket-co-located on h (no corpus shuffle).
    */
  def chunkDedupIncremental(newBatch: DataFrame, keepers: DataFrame,
      id: Column, text: Column, chunkWords: Int): DataFrame =
    reconstructDocs(newKeeperChunkRows(newBatch, Seq(keepers), id, text, chunkWords))

  /** `left` minus rows whose `key` appears in ANY state layer — ≡ one
    * left_anti against the layers' union (anti-join distributes over
    * union, no contract needed), but evaluated as a JOIN CHAIN with
    * the base layer FIRST: a bucket-co-located base then joins with NO
    * state-side exchange (the union form erases the base scan's
    * hash-partitioning), and the batch-sized delta layers join the
    * already-partitioned remainder. StateBucketProbe measured the
    * orderings at sf10: base-first ≥ union ≥ deltas-first.
    *
    * Delta legs are PINNED to shuffle-hash: left alone (or under AQE)
    * a 10-100 MB delta goes broadcast, and since the advance fans out
    * into seven independent actions the driver then re-collects and
    * re-builds that HashedRelation PER ACTION PER LAYER —
    * IngestDeltaProbe measured the bucketed chain growing 28 → 41 →
    * 62 s/advance with layer count from exactly this. As SHJ the delta
    * shuffles once per action (executor-side, partition-local) and the
    * batch side reuses the partitioning it already has from the base
    * join.
    */
  private[graft] def antiJoinLayers(left: DataFrame, key: String,
      layers: Seq[DataFrame]): DataFrame = layers match {
    case base +: deltas =>
      deltas.foldLeft(left.join(base.select(col(key)), Seq(key), "left_anti"))(
        (l, st) => l.join(st.select(col(key)).hint("shuffle_hash"), Seq(key), "left_anti"))
    case _ => left
  }

  /** The SHARED intermediate of the chunk gate and the keeper-state
    * delta: batch-first chunk rows (h, keep, doc_id, n_chunks, idx,
    * chunk) that survive the keeper-state anti-join.
    * [[reconstructDocs]] turns them into the gate's surviving docs;
    * selected (h, keep) they ARE the keeper delta ([[chunkKeepers]] of
    * the batch minus state — batchFirst's min-struct agg is exactly
    * chunkKeepers' keep). The ingest advance stages this frame once
    * instead of running the chunk-table derivation + state anti-join
    * twice. The keeper state comes as LAYERS (base first, then
    * deltas — [[graft.operators.Ingest.loadStates]]' chain shape): the
    * state anti-join runs per layer so a bucketed base never shuffles.
    */
  private[graft] def newKeeperChunkRows(newBatch: DataFrame, keepers: Seq[DataFrame],
      id: Column, text: Column, chunkWords: Int): DataFrame = {
    val hashed = chunkTable(newBatch, id, text, chunkWords)
    val batchFirst = hashed.groupBy(col("h"))
      .agg(min(struct(col("doc_id"), col("idx"))).as("keep"))
    antiJoinLayers(
      hashed.join(batchFirst, Seq("h"))
        .filter(col("doc_id") === col("keep.doc_id") && col("idx") === col("keep.idx")),
      "h", keepers)
  }

  /** Advance the keeper state past a batch: old keepers win every
    * conflict (they are earlier by the ingest-id invariant), new
    * hashes enter with their batch-first occurrence. The ingest loop
    * is `state = chunkKeepersMerged(state, batch, …)` after each
    * `chunkDedupIncremental(batch, state, …)`.
    */
  def chunkKeepersMerged(keepers: DataFrame, newBatch: DataFrame,
      id: Column, text: Column, chunkWords: Int): DataFrame =
    keepers.unionByName(
      chunkKeepers(newBatch, id, text, chunkWords)
        .join(keepers.select(col("h")), Seq("h"), "left_anti"))

  /** Word n-gram array (1-based sliding windows), distinct. */
  def wordNgrams(text: Column, n: Int): Column = {
    val w = split(text, " ")
    // transform over 1..(len-n+1); empty when too short
    array_distinct(transform(
      sequence(lit(1), greatest(size(w) - (n - 1), lit(0))),
      i => concat_ws(" ", (0 until n).map(j => element_at(w, i + j)): _*)))
  }

  /** Distinct word-n-gram poly-hashes: the native one-pass kernel when
    * GraftExtensions is installed, else the composed HOF form (same
    * values — dedup by ngram string, then poly-hash).
    */
  def hashedNgrams(df: DataFrame, text: Column, n: Int): Column =
    if (df.sparkSession.sessionState.functionRegistry.functionExists(graft.functions.NgramHashes.identifier))
      call_function("graft_ngram_hashes", text, lit(n), lit(PolyB1), lit(PolyP1))
    else transform(wordNgrams(text, n), ng => polyHash(df, ng, PolyB1, PolyP1))

  /** POSITIONAL word-n-gram poly-hashes — one element per position, in
    * document order, duplicates kept (element k hashes words [k, k+n)).
    * Native kernel when installed, else the HOF form without the
    * distinct. The positional sibling of [[hashedNgrams]] for span
    * surgery (`posexplode` recovers token offsets) and occurrence
    * counting.
    */
  def hashedNgramSeq(df: DataFrame, text: Column, n: Int): Column =
    if (df.sparkSession.sessionState.functionRegistry.functionExists(graft.functions.NgramHashSeq.identifier))
      call_function("graft_ngram_hash_seq", text, lit(n), lit(PolyB1), lit(PolyP1))
    else {
      val w = split(text, " ")
      transform(
        sequence(lit(1), greatest(size(w) - (n - 1), lit(0))),
        i => polyHash(df, concat_ws(" ", (0 until n).map(j => element_at(w, i + j)): _*), PolyB1, PolyP1))
    }

  /** Span-level exact-substring decontamination: every position where a
    * training document shares a hashed word-n-gram with the benchmark
    * set becomes a token span [pos, pos+n-1], and overlapping or
    * ADJACENT spans (gap 0 — removal would fuse them anyway) merge into
    * maximal contaminated ranges per document. Output: one row per
    * merged span (doc_id, span_start, span_end, span_tokens, n_grams),
    * 1-based inclusive token offsets — the surgery table a cleaning job
    * applies to cut spans instead of dropping whole documents (the
    * doc-level q50 contract).
    *
    * Scale shape: bench n-gram set = distinct 8-byte hashes (small by
    * nature — benchmarks, not corpora; join left unhinted so AQE
    * broadcasts it when it fits); train side explodes positions
    * scan-local and ships (doc_id, pos) + 8-byte hash into the match
    * join, never text. Span merge = one window keyed by doc_id —
    * data-proportional partitioning, same shape as q73's interval
    * merge.
    */
  def contaminationSpans(train: DataFrame, bench: DataFrame,
      id: Column, text: Column, n: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val bng = bench.select(explode(hashedNgrams(bench, text, n)).as("ng")).distinct()
    val tng = train.select(id.as("doc_id"), posexplode(hashedNgramSeq(train, text, n)))
      .select(col("doc_id"), (col("pos") + 1).cast("long").as("st"),
        (col("pos") + n).cast("long").as("en"), col("col").as("ng"))
    val hits = tng.join(bng, Seq("ng")).select(col("doc_id"), col("st"), col("en"))
    mergeSpans(hits)
  }

  /** Merge overlapping/ADJACENT (gap 0) hit ranges into maximal spans
    * per document — the q73 interval-merge chain on token offsets; one
    * doc-partitioned window over hit rows only. Shared tail of
    * [[contaminationSpans]] and [[selfRepSpans]].
    */
  private def mergeSpans(hits: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byDoc = Window.partitionBy(col("doc_id")).orderBy(col("st"))
    val prevMax = max(col("en")).over(byDoc.rowsBetween(Window.unboundedPreceding, -1))
    hits
      .withColumn("new_grp", when(prevMax.isNull || col("st") > prevMax + 1, 1L).otherwise(0L))
      .withColumn("grp", sum(col("new_grp")).over(byDoc))
      .groupBy(col("doc_id"), col("grp"))
      .agg(min(col("st")).as("span_start"), max(col("en")).as("span_end"),
        count(lit(1)).as("n_grams"))
      .withColumn("span_tokens", col("span_end") - col("span_start") + 1)
      .select(col("doc_id"), col("span_start"), col("span_end"),
        col("span_tokens"), col("n_grams"))
  }

  /** Corpus-internal repeated-span surgery — exact-substring
    * SELF-dedup (Lee et al. 2021, "Deduplicating Training Data Makes
    * Language Models Better": remove every later copy of a repeated
    * ≥ n-token substring, keep the first). An n-gram hash is OWNED by
    * the smallest doc_id containing it; every occurrence in a LATER
    * document becomes token span [pos, pos+n-1], and
    * overlapping/adjacent spans merge into maximal cut ranges
    * ([[mergeSpans]]). The first document keeps its text intact —
    * within-owner repeats are not marked (the keep unit is the first
    * DOCUMENT: q75/q90's first-occurrence contract at span
    * granularity). Output: the same surgery-table schema as
    * [[contaminationSpans]] — a cleaning job applies it with
    * [[graft.operators.TextAnalysis.scrubSpans]].
    *
    * Scale shape: positions come scan-local from the NgramHashSeq
    * kernel; the owner table is ONE partial-aggregating groupBy on the
    * 8-byte hash (min over occurrences ≡ min over containing docs — no
    * distinct stage); the occurrence×owner join is 8-byte-keyed both
    * sides (text never shuffles), and the span merge window runs on
    * hit rows only (cross-doc repeats), not the corpus.
    */
  def selfRepSpans(df: DataFrame, id: Column, text: Column, n: Int): DataFrame = {
    val tng = df.select(id.as("doc_id"), posexplode(hashedNgramSeq(df, text, n)))
      .select(col("doc_id"), (col("pos") + 1).cast("long").as("st"),
        (col("pos") + n).cast("long").as("en"), col("col").as("ng"))
    val owners = tng.groupBy(col("ng")).agg(min(col("doc_id")).as("owner"))
    val hits = tng.join(owners, Seq("ng"))
      .filter(col("doc_id") > col("owner"))
      .select(col("doc_id"), col("st"), col("en"))
    mergeSpans(hits)
  }

  /** Incremental repeated-span surgery — the batch×state shape for
    * [[selfRepSpans]] (completing the q67/q80/q81/q95 incremental
    * family): a NEW batch's spans computed against the persisted
    * [[ngramFirstDocs]] state (the SAME state table incremental
    * novelty reads — one materialized hash→first-doc table serves
    * both). The effective owner of a batch hash is the smaller of the
    * state's first doc and the batch's own first doc, so
    * batch-internal repeats cut correctly too; equals full-corpus
    * [[selfRepSpans]] restricted to batch docs whenever batch ids
    * sort after the corpus (parity-spec'd). Every stage scales with
    * the BATCH — the corpus is touched only through the hash-keyed
    * state join (bucket-co-located at a real lake); state advance is
    * unionByName + min-groupBy at compaction, exactly the novelty
    * state's.
    */
  def selfRepSpansIncremental(batch: DataFrame, state: DataFrame,
      id: Column, text: Column, n: Int): DataFrame =
    selfRepSpansIncrementalWithOwn(batch, None, Seq(state), id, text, n)

  /** [[selfRepSpansIncremental]] with the first-doc state as layers
    * and an optional PRECOMPUTED batch-owner table.
    *
    * The owner resolution left-joins each layer separately (the
    * bucketed base exchange-free, deltas broadcast) and coalesces the
    * per-layer first_doc columns — exact ≡ the union form whenever a
    * key lives in at most ONE layer, which is the
    * [[graft.operators.Ingest.StateDeltas]] append contract; with
    * overlapping layers the union form's min would be needed, so the
    * layered form is for the chain shape only.
    *
    * The batch-owner table is (ng, first_doc) — the ingest advance
    * passes its staged [[ngramFirstDocs]] batch table, which is the
    * same groupBy-min over the same ngram hashes (positional vs
    * doc-distinct derivation cannot change a per-key min over the same
    * doc set), saving the second O(batch-ngrams) aggregation.
    */
  private[graft] def selfRepSpansIncrementalWithOwn(batch: DataFrame,
      precomputedOwn: Option[DataFrame], state: Seq[DataFrame],
      id: Column, text: Column, n: Int): DataFrame = {
    val tng = batch.select(id.as("doc_id"), posexplode(hashedNgramSeq(batch, text, n)))
      .select(col("doc_id"), (col("pos") + 1).cast("long").as("st"),
        (col("pos") + n).cast("long").as("en"), col("col").as("ng"))
    val batchOwn = precomputedOwn
      .map(_.select(col("ng"), col("first_doc").as("bown")))
      .getOrElse(tng.groupBy(col("ng")).agg(min(col("doc_id")).as("bown")))
    // delta legs pinned to shuffle-hash for the same per-action
    // broadcast-rebuild reason as antiJoinLayers
    val withLayers = state.zipWithIndex.foldLeft(batchOwn) { case (acc, (st, i)) =>
      val leg = st.select(col("ng"), col("first_doc").as(s"__fd_$i"))
      acc.join(if (i == 0) leg else leg.hint("shuffle_hash"), Seq("ng"), "left")
    }
    val stateFirst = coalesce(state.indices.map(i => col(s"__fd_$i")) :+ col("bown"): _*)
    val owners = withLayers
      .select(col("ng"), least(col("bown"), stateFirst).as("owner"))
    val hits = tng.join(owners, Seq("ng"))
      .filter(col("doc_id") > col("owner"))
      .select(col("doc_id"), col("st"), col("en"))
    mergeSpans(hits)
  }

  /** Canonical-form dedup keep-best: documents are keyed by a 62-bit
    * hash of their NORMALIZED text (punctuation [.,!?;:] → space,
    * whitespace runs collapsed, trimmed) and each canonical group keeps
    * the version CLOSEST to canonical — shortest raw text, ties to the
    * smallest id. Output: one row per canonical group
    * (doc_id = the keeper, n_versions, canon_tokens). Catches the
    * near-dups exact dedup misses (same content, different
    * punctuation/spacing noise) without any pair generation.
    * Deliberately NO case folding: locale-dependent case maps (ß→SS,
    * dotted İ) don't replay portably across engines — a casefold layer
    * belongs in an ICU-backed normalizer, not here.
    *
    * Scale shape: normalization + hashing are scan-local; the group agg
    * is ONE partial-aggregating groupBy on the 8-byte canonical key
    * (min-struct keep-best — no window), the exact dedup_exact shape.
    */
  def normalizeDedup(df: DataFrame, id: Column, text: Column): DataFrame = {
    val keyed = df.select(id.as("doc_id"), text.as("t"))
      .withColumn("canon",
        trim(regexp_replace(regexp_replace(col("t"), "[.,!?;:]+", " "), " +", " ")))
    keyed
      .withColumn("ck", chunkKey62(keyed, col("canon")))
      .withColumn("canon_tokens", size(split(col("canon"), " ")).cast("long"))
      .groupBy(col("ck"))
      .agg(min(struct(length(col("t")).as("lt"), col("doc_id"))).as("best"),
        count(lit(1)).as("n_versions"), min(col("canon_tokens")).as("canon_tokens"))
      .select(col("best.doc_id").as("doc_id"), col("n_versions"), col("canon_tokens"))
  }

  /** Shared candidate stage for the exact rare-ngram pair family:
    * per-pair shared-rare-ngram counts (id_a < id_b, inter) plus the
    * per-doc distinct-ngram sizes — WITHOUT a self-join.
    *
    * Shape: the kernel's distinct-hash array gives `nn` scan-locally
    * (no corpus-wide groupBy for sizes), and the df-cap + member list
    * come from ONE partial aggregation into [[BoundedSetAgg]] buckets
    * (cap = maxDf+1 — saturation ⟺ df > maxDf, so the filter is
    * exact); pairs are then generated LOCALLY per bucket row
    * (≤ C(maxDf,2) per ngram, knob-bounded) and counted. vs the
    * classic rare-filter + self-join: three occurrence-sized exchanges
    * and a persisted staging table collapse into one partial-agg'd
    * exchange whose per-key payload is ≤ cap longs — a stop-phrase
    * ngram with 10^9 occurrences costs cap longs instead of 10^9 rows
    * into one task. Hashing shingles to longs BEFORE the shuffle keeps
    * every exchange 8-byte-keyed (the corpus vocabulary never ships as
    * strings). The oracle replays the same portable hash over the
    * self-join formulation — identical pair counts, collisions and
    * all.
    */
  private def rarePairCounts(df: DataFrame, id: Column, text: Column, n: Int,
      maxDf: Int): (DataFrame, DataFrame) = {
    // the hashed-shingle staging has THREE consumers (the bucket
    // aggregate plus the two size joins below) — materialize it once
    // (memory-and-disk) instead of re-running the split/hash/distinct
    // kernel over the corpus per consumer; at lake scale this is the
    // standard persist-the-exploded-staging trade (storage for two
    // saved corpus passes)
    val docs = stageEager(
      df.select(id.as("doc_id"), hashedNgrams(df, text, n).as("ngs")))
    val sizes = docs.select(col("doc_id"), size(col("ngs")).cast("long").as("nn"))
    val cap = if (maxDf >= Int.MaxValue - 1) Int.MaxValue else maxDf + 1
    val buckets = docs.select(col("doc_id"), explode(col("ngs")).as("ng"))
      .groupBy(col("ng"))
      .agg(graft.functions.BoundedSetAgg.boundedSet(cap)(col("doc_id")).as("ids"))
      .filter(size(col("ids")).between(2, maxDf))
    // ids are sorted ascending, so nested-transform pair expansion
    // yields id_a < id_b directly; expansion is scan-local and bounded
    // by the df cap, never a join
    val inter = buckets
      .select(explode(expr(
        "flatten(transform(ids, (a, i) -> transform(slice(ids, i + 2, size(ids) - i - 1), " +
          "b -> named_struct('id_a', a, 'id_b', b))))")).as("p"))
      .groupBy(col("p.id_a").as("id_a"), col("p.id_b").as("id_b"))
      .agg(count(lit(1)).as("inter"))
    (inter, sizes)
  }

  /** Near-duplicate pairs by exact word-n-gram Jaccard, with candidate
    * generation via shared n-grams whose document frequency is below
    * `maxDf` (bounds bucket size → no quadratic blowup on stock
    * phrases). Returns (id_a, id_b, jaccard) for jaccard >= minJaccard.
    */
  def ngramJaccardPairs(df: DataFrame, id: Column, text: Column, n: Int,
      maxDf: Int, minJaccard: Double): DataFrame = withStagingScope(df.sparkSession) {
    val (inter, sizes) = rarePairCounts(df, id, text, n, maxDf)
    inter
      .join(sizes.select(col("doc_id").as("id_a"), col("nn").as("na")), Seq("id_a"))
      .join(sizes.select(col("doc_id").as("id_b"), col("nn").as("nb")), Seq("id_b"))
      .withColumn("jaccard", col("inter").cast("double") / (col("na") + col("nb") - col("inter")))
      .filter(col("jaccard") >= minJaccard)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** Asymmetric near-duplicate CONTAINMENT pairs: for documents a, b
    * sharing rare n-grams, containment = |ngrams(contained) ∩
    * ngrams(container)| / |ngrams(contained)| where the contained doc
    * is the one with FEWER distinct n-grams (ties → smaller id).
    * Catches subset duplication symmetric Jaccard blurs: a snippet or
    * truncation of a document scores containment 1.0 but Jaccard
    * ~|snippet|/|doc| — the quote/excerpt/prefix-crawl case a corpus
    * dedup pass actually wants to catch. Reported as exact integer
    * parts-per-million (inter·10^6 div nn — engine-portable, no double
    * division in the filter).
    *
    * Same candidate generation as [[ngramJaccardPairs]] (shared n-grams
    * with document frequency ≤ maxDf — stock phrases excluded BY
    * DESIGN, so the reported intersection is over informative shingles;
    * bucket sizes stay bounded at corpus scale). Scale shape identical:
    * the shared [[rarePairCounts]] bounded-bucket stage — one
    * partial-agg'd 8-byte-keyed exchange, no self-join.
    */
  def ngramContainmentPairs(df: DataFrame, id: Column, text: Column, n: Int,
      maxDf: Int, minPpm: Long): DataFrame = withStagingScope(df.sparkSession) {
    val (inter, sizes) = rarePairCounts(df, id, text, n, maxDf)
    val swap = col("na") > col("nb") // contained side = smaller ngram set; na=nb → a (id_a < id_b)
    inter
      .join(sizes.select(col("doc_id").as("id_a"), col("nn").as("na")), Seq("id_a"))
      .join(sizes.select(col("doc_id").as("id_b"), col("nn").as("nb")), Seq("id_b"))
      .select(
        when(swap, col("id_b")).otherwise(col("id_a")).as("id_contained"),
        when(swap, col("id_a")).otherwise(col("id_b")).as("id_container"),
        col("inter"),
        when(swap, col("nb")).otherwise(col("na")).as("nn_contained"))
      .withColumn("cont_ppm", expr("inter * 1000000 DIV nn_contained"))
      .filter(col("cont_ppm") >= minPpm)
  }

  /** Per-group corpus-level MinHash sketches: ONE partial-aggregating
    * groupBy over the (group, ngram-hash) staging rows computes, per
    * group, the minimum of each of `numHashes` seed permutations —
    * min over duplicate occurrences equals min over the distinct set,
    * so there is deliberately NO distinct/explode stage; the exchange
    * carries numHashes longs per group per mapper. Output: (grp, sig
    * array<long>). The whole-corpus profile pass behind
    * [[corpusOverlapBySource]].
    */
  def corpusMinSigBy(df: DataFrame, grp: Column, text: Column, n: Int,
      numHashes: Int): DataFrame = {
    val ngr = df.select(grp.as("grp"), explode(hashedNgrams(df, text, n)).as("ng"))
    val mins = (0 until numHashes).map(s => min(minHashPerm(col("ng"), s)).as(s"m$s"))
    ngr.groupBy(col("grp")).agg(mins.head, mins.tail: _*)
      .select(col("grp"), array((0 until numHashes).map(i => col(s"m$i")): _*).as("sig"))
  }

  /** Pairwise corpus-overlap matrix between document groups (sources,
    * snapshots, splits): resemblance between the groups' n-gram SETS
    * estimated from corpus-level MinHash sketches — the fraction of
    * seed permutations whose min agrees estimates the Jaccard of the
    * two groups' shingle sets (Broder 1997). Output: one row per
    * unordered group pair (grp_a < grp_b, n_perms, n_agree, est_ppm
    * = n_agree·10^6 div n_perms) — exact integers the oracle replays
    * bit-for-bit (the estimate is deterministic; only its RELATION to
    * true Jaccard is statistical).
    *
    * Scale shape: the corpus is touched ONCE (scan-local hashing into
    * a partial min-agg; no distinct, no explode-by-seed exchange); the
    * pair comparison runs on |groups| sketch rows — at 100 TB that is
    * a few-KB self-join after a single corpus pass, where the exact
    * pairwise set-Jaccard would need |groups|² distinct-intersection
    * jobs over the full corpus.
    */
  def corpusOverlapBySource(df: DataFrame, grp: Column, text: Column, n: Int,
      numHashes: Int): DataFrame = {
    val sigs = corpusMinSigBy(df, grp, text, n, numHashes)
    val a = sigs.select(col("grp").as("grp_a"), col("sig").as("sig_a"))
    val b = sigs.select(col("grp").as("grp_b"), col("sig").as("sig_b"))
    a.join(b, col("grp_a") < col("grp_b"))
      .select(col("grp_a"), col("grp_b"),
        lit(numHashes).cast("long").as("n_perms"),
        aggregate(zip_with(col("sig_a"), col("sig_b"),
            (x, y) => when(x === y, 1L).otherwise(0L)),
          lit(0L), (acc, x) => acc + x).as("n_agree"))
      .withColumn("est_ppm", expr("n_agree * 1000000 DIV n_perms"))
  }

  /** Content-defined chunking (CDC): variable-size chunk boundaries
    * placed where the rolling window hash satisfies h % divisor == 0 —
    * the FastCDC/Rabin principle at word granularity. Because
    * boundaries depend only on LOCAL content (the `window`-word hash),
    * an insertion or deletion shifts at most the chunks it touches;
    * every later boundary re-synchronizes — the property fixed-width
    * chunking (q75's chunkTable) lacks, and the reason dedup storage
    * and edit-robust near-dup pipelines chunk this way. Expected chunk
    * length ≈ divisor words.
    *
    * Output: one row per chunk (doc_id, chunk_idx, start_word,
    * end_word, chunk_words), 1-based inclusive word offsets covering
    * the document exactly. Docs shorter than the window produce one
    * whole-doc chunk (no positions → tail chunk only); empty-ish docs
    * still chunk (`split` never yields zero words).
    *
    * Scale shape: positions come scan-local from the positional ngram
    * kernel; the boundary rows (≈ corpus/divisor) pay ONE
    * doc-partitioned window (lag) — data-proportional partitioning,
    * the q73/q83 interval shape; the per-doc tail chunk is a
    * doc-sized left join, and chunk_idx is a second window over
    * chunk rows (≈ corpus/divisor rows, not occurrences).
    */
  def cdcChunks(df: DataFrame, id: Column, text: Column, window: Int,
      divisor: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = df.select(id.as("doc_id"), size(split(text, " ")).cast("long").as("nw"),
      hashedNgramSeq(df, text, window).as("hs"))
    val pos = docs.select(col("doc_id"), posexplode(col("hs")))
      .select(col("doc_id"), (col("pos") + 1).cast("long").as("p"), col("col").as("h"))
    // boundary = END of a chunk at word p + window - 1 would overlap the
    // next window; simplest exact contract: boundary closes the chunk AT
    // the window's first word p (chunk covers … ≤ p), next starts p+1
    val bounds = pos.filter(col("h") % divisor === 0)
    val byDoc = Window.partitionBy(col("doc_id")).orderBy(col("p"))
    val mid = bounds
      .withColumn("start_word", coalesce(lag(col("p"), 1).over(byDoc) + 1L, lit(1L)))
      .select(col("doc_id"), col("start_word"), col("p").as("end_word"))
    val lastB = bounds.groupBy(col("doc_id")).agg(max(col("p")).as("lb"))
    val tail = docs.select(col("doc_id"), col("nw"))
      .join(lastB, Seq("doc_id"), "left")
      .filter(coalesce(col("lb"), lit(0L)) < col("nw"))
      .select(col("doc_id"), (coalesce(col("lb"), lit(0L)) + 1L).as("start_word"),
        col("nw").as("end_word"))
    val ordered = Window.partitionBy(col("doc_id")).orderBy(col("start_word"))
    mid.unionByName(tail)
      .withColumn("chunk_idx", row_number().over(ordered).cast("long"))
      .withColumn("chunk_words", col("end_word") - col("start_word") + 1L)
      .select(col("doc_id"), col("chunk_idx"), col("start_word"), col("end_word"),
        col("chunk_words"))
  }

  /** Per-document n-gram NOVELTY: for each document, the fraction of
    * its distinct n-gram hashes whose global FIRST introducer (minimum
    * doc_id across the corpus) is this document — exact integer ppm.
    * The duplication-pressure profile of a corpus: verbatim and
    * near-verbatim copies score ~0, fresh content scores high, and the
    * novelty-vs-id curve is the "how much of each new crawl is
    * actually new" signal an ingest pipeline tracks. First-occurrence
    * semantics match the chunk-dedup family, at shingle granularity.
    *
    * Scale shape: the occurrence-sized staging table feeds two partial
    * aggs — per-doc sizes, and the per-hash min-introducer table
    * IMMEDIATELY re-aggregated to (first_doc, novel-count) — so the
    * final join is doc-count-sized on BOTH sides; the naive form
    * (join the vocabulary table back onto every (doc, hash) row)
    * ships the corpus' occurrence list through a vocab join and
    * measured 2× slower at sf1. No windows, no text on any exchange.
    */
  def ngramNovelty(df: DataFrame, id: Column, text: Column, n: Int): DataFrame = {
    val ngr = df.select(id.as("doc_id"), explode(hashedNgrams(df, text, n)).as("ng"))
    val sizes = ngr.groupBy(col("doc_id")).agg(count(lit(1)).as("nn"))
    val novels = ngr.groupBy(col("ng")).agg(min(col("doc_id")).as("first_doc"))
      .groupBy(col("first_doc")).agg(count(lit(1)).as("novel"))
      .select(col("first_doc").as("doc_id"), col("novel"))
    sizes.join(novels, Seq("doc_id"), "left")
      .select(col("doc_id"), col("nn"), coalesce(col("novel"), lit(0L)).as("novel"))
      .withColumn("novelty_ppm", expr("novel * 1000000 DIV nn"))
  }

  /** The persisted state behind incremental novelty: one row per
    * distinct n-gram hash with its first introducer (min doc id) —
    * q90's intermediate as a table a lake materializes and advances
    * per ingest batch (bucketed by the hash at 100 TB, like the q80
    * chunk-keeper state).
    */
  def ngramFirstDocs(df: DataFrame, id: Column, text: Column, n: Int): DataFrame =
    df.select(id.as("doc_id"), explode(hashedNgrams(df, text, n)).as("ng"))
      .groupBy(col("ng")).agg(min(col("doc_id")).as("first_doc"))

  /** Incremental n-gram novelty — the batch×state shape for the q90
    * profile (the q67/q80/q81 family): a NEW batch scored against the
    * persisted [[ngramFirstDocs]] state. A batch doc's n-gram is novel
    * iff its hash is ABSENT from the state AND this doc is the batch's
    * first introducer — identical to full-corpus q90 restricted to
    * batch docs whenever batch ids sort after the corpus (parity-
    * spec'd), with no id-ordering assumption in the computation
    * itself. Every stage scales with the BATCH; the corpus is touched
    * only through the hash-keyed state anti-join (bucket-co-located
    * at a real lake). State advance = unionByName + min-groupBy, or
    * just ngramFirstDocs over corpus ∪ batch at compaction.
    */
  def ngramNoveltyIncremental(batch: DataFrame, state: DataFrame,
      id: Column, text: Column, n: Int): DataFrame = {
    val ngr = batch.select(id.as("doc_id"), explode(hashedNgrams(batch, text, n)).as("ng"))
    val sizes = ngr.groupBy(col("doc_id")).agg(count(lit(1)).as("nn"))
    val novels = antiJoinLayers(
        ngr.groupBy(col("ng")).agg(min(col("doc_id")).as("first_doc")), "ng", Seq(state))
      .groupBy(col("first_doc")).agg(count(lit(1)).as("novel"))
      .select(col("first_doc").as("doc_id"), col("novel"))
    sizes.join(novels, Seq("doc_id"), "left")
      .select(col("doc_id"), col("nn"), coalesce(col("novel"), lit(0L)).as("novel"))
      .withColumn("novelty_ppm", expr("novel * 1000000 DIV nn"))
  }

  /** Seed-s MinHash permutation of a base poly-hash value: an affine
    * map in Z_p (odd multiplier 2s+1, offset s·7919+1). With h < 2^31
    * and s < 64 (the corpus-overlap sketches use 64 seeds) the
    * product stays under 2^38 — exact in both engines' 64-bit integer
    * arithmetic, so the oracle can replay it verbatim.
    */
  def minHashPerm(h: Column, s: Int): Column =
    (h * (2 * s + 1) + (s * 7919 + 1)) % PolyP1

  /** MinHash signature: for each seed, min over shingles of the
    * permuted portable poly-hash. Sig length = numHashes.
    * (Column form — the batch path in minHashLshPairs uses the
    * exploded/codegen equivalent, which is much faster.)
    */
  def minHashSig(df: DataFrame, ngrams: Column, numHashes: Int): Column =
    transform(sequence(lit(0), lit(numHashes - 1)),
      s => array_min(transform(ngrams, ng =>
        (polyHash(df, ng, PolyB1, PolyP1) * (s * 2 + 1) + (s * 7919 + 1)) % PolyP1)))

  /** MinHash-LSH near-dup pairs: band the signature (bands × rowsPerBand
    * = sig length), bucket-join on (band, band-key), verify candidates
    * with exact n-gram Jaccard. Standard S-curve candidate generation;
    * only bucket collisions are ever compared.
    *
    * The shingle hash is the portable poly-hash — computed ONCE per
    * (doc, ngram) row inside whole-stage codegen, then permuted per
    * seed with two integer ops — and the band key is the plain
    * comma-joined signature slice, so the whole candidate generation
    * is replayable in the DuckDB oracle (no rows-only check).
    *
    * `salts > 1` spreads a hot band bucket (a near-identical cluster —
    * boilerplate, templated spam — that floods one (band, key) cell at
    * 100 TB) over `salts` tasks: the left side is salted on
    * hash(doc_id), the right side replicated once per salt. Output is
    * identical to salts=1; only the shuffle layout changes.
    */
  /** (doc_id [, carry…], band, bh [, sig]) rows from an exploded
    * (doc_id [, carry…], ng) staging table: the MinHash signature per
    * doc (one groupBy, numHashes codegen'd min-aggregates) exploded
    * into one row per band with the band's signature slice as the
    * bucket key. The ONE implementation behind the exact, incremental,
    * and estimator LSH variants — band-key format and seed permutation
    * can only change in one place (the DuckDB oracles mirror it).
    */
  private[operators] def sigBands(ngr: DataFrame, carry: Seq[String], bands: Int,
      rowsPerBand: Int, withSig: Boolean = false): DataFrame = {
    val numHashes = bands * rowsPerBand
    val mins = (0 until numHashes).map(s => min(minHashPerm(col("ng"), s)).as(s"m$s"))
    val groupCols = ("doc_id" +: carry).map(col)
    val sigs = ngr.groupBy(groupCols: _*).agg(mins.head, mins.tail: _*)
    val sigCols = if (withSig) Seq(array((0 until numHashes).map(i => col(s"m$i")): _*).as("sig")) else Nil
    // one row per (doc, band): band key = that band's slice of the sig
    sigs.select(groupCols ++ sigCols :+
        explode(array((0 until bands).map(b => struct(lit(b).as("band"),
          concat_ws(",", (b * rowsPerBand until (b + 1) * rowsPerBand)
            .map(i => col(s"m$i").cast("string")): _*).as("bh"))): _*)).as("bk"): _*)
      .select(groupCols ++ (if (withSig) Seq(col("sig")) else Nil)
        ++ Seq(col("bk.band"), col("bk.bh")): _*)
  }

  def minHashLshPairs(df: DataFrame, id: Column, text: Column, n: Int,
      bands: Int, rowsPerBand: Int, minJaccard: Double, salts: Int = 1): DataFrame = {
    // exploded distinct (doc, ngram-hash) rows, consumed by sizes,
    // signatures, and the verify join (what a production pipeline
    // would materialize as a stage table at 100 TB). Not persisted
    // HERE: the EXPLODED rows are occurrence-sized and each consumer
    // prunes them differently; rarePairCounts persists the compact
    // per-doc ARRAY form instead, where the measurement went the
    // other way (three consumers of the split/hash/distinct kernel).
    // r18 re-measured the ARRAY form here too (stageEager of
    // (doc_id, ngs) + scan-local sizes, and staged banded tables in
    // the est-pair siblings): q53 2.07→2.34 s, q104 3.95→4.50 s,
    // q93 1.88→1.96 s at sf0.1 — a LOSS. All consumers live inside
    // ONE action, where AQE materializes the redundant subtrees as
    // CONCURRENT stages; eager staging serializes that into
    // stage-then-consume and adds the checkpoint write. Don't re-try
    // without a shape where consumers are separate actions.
    val ngr = df.select(id.as("doc_id"), explode(hashedNgrams(df, text, n)).as("ng"))
    val sizes = ngr.groupBy(col("doc_id")).agg(count(lit(1)).as("nn"))
    val banded = sigBands(ngr, Nil, bands, rowsPerBand)
    // candidates carry ids only
    val candA = banded.select(col("doc_id").as("id_a"), col("band"), col("bh"))
    val candB = banded.select(col("doc_id").as("id_b"), col("band"), col("bh"))
    val joined =
      if (salts <= 1) candA.join(candB, Seq("band", "bh"))
      else candA.withColumn("__salt", pmod(xxhash64(col("id_a")), lit(salts)))
        .join(candB.withColumn("__salt",
          explode(sequence(lit(0), lit(salts - 1)).cast("array<bigint>"))),
          Seq("band", "bh", "__salt"))
    val cand = joined
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b")).distinct()
    // verify: count shared ngrams only for candidate pairs
    val inter = cand
      .join(ngr.select(col("doc_id").as("id_a"), col("ng")), Seq("id_a"))
      .join(ngr.select(col("doc_id").as("id_b"), col("ng")), Seq("id_b", "ng"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.select(col("doc_id").as("id_a"), col("nn").as("na")), Seq("id_a"))
      .join(sizes.select(col("doc_id").as("id_b"), col("nn").as("nb")), Seq("id_b"))
      // try_divide: a 31-bit shingle-hash collision inside both docs
      // makes the intersection join over-count, and na + nb - inter can
      // reach ZERO on verbatim copies sharing the collision — ANSI `/`
      // would kill the job (guaranteed to fire at lake scale; observed
      // at 200k docs by NgrLayoutProbe). try_divide yields NULL → the
      // pair drops, exactly the DuckDB oracle's division-by-zero (NULL)
      .withColumn("jaccard", try_divide(col("inter").cast("double"),
        col("na") + col("nb") - col("inter")))
      .filter(col("jaccard") >= minJaccard)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** Incremental MinHash-LSH dedup: near-dup pairs between a NEW batch
    * and an EXISTING corpus only — never corpus × corpus. This is the
    * daily-ingest shape at 100 TB: the lake's signatures/bands are
    * precomputed at ingest (the same layout dedupBySimhash stamps),
    * so deduping a day's batch re-pairs only (batch × bucket), not the
    * whole lake. Implementation tags each side and requires a
    * cross-side band-bucket collision; verification is the exact
    * ngram-intersection join, like minHashLshPairs. Returns
    * (id_new, id_old, jaccard ≥ minJaccard).
    */
  def minHashLshPairsIncremental(oldDocs: DataFrame, newDocs: DataFrame,
      id: Column, text: Column, n: Int, bands: Int, rowsPerBand: Int,
      minJaccard: Double): DataFrame = {
    val tagged = oldDocs.select(id.as("doc_id"), text.as("__text"), lit(0).as("src"))
      .unionByName(newDocs.select(id.as("doc_id"), text.as("__text"), lit(1).as("src")))
    val ngr = tagged.select(col("doc_id"), col("src"),
      explode(hashedNgrams(tagged, col("__text"), n)).as("ng"))
    // every per-doc table keys on (doc_id, src): the two sides are
    // independent id NAMESPACES and may overlap (a batch id equal to a
    // corpus id must not merge their ngram sets)
    val sizes = ngr.groupBy(col("doc_id"), col("src")).agg(count(lit(1)).as("nn"))
    val banded = sigBands(ngr, Seq("src"), bands, rowsPerBand)
    val candNew = banded.filter(col("src") === 1)
      .select(col("doc_id").as("id_new"), col("band"), col("bh"))
    val candOld = banded.filter(col("src") === 0)
      .select(col("doc_id").as("id_old"), col("band"), col("bh"))
    val cand = candNew.join(candOld, Seq("band", "bh"))
      .select(col("id_new"), col("id_old")).distinct()
    val ngrNew = ngr.filter(col("src") === 1).select(col("doc_id").as("id_new"), col("ng"))
    val ngrOld = ngr.filter(col("src") === 0).select(col("doc_id").as("id_old"), col("ng"))
    val inter = cand
      .join(ngrNew, Seq("id_new"))
      .join(ngrOld, Seq("id_old", "ng"))
      .groupBy(col("id_new"), col("id_old"))
      .agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.filter(col("src") === 1)
        .select(col("doc_id").as("id_new"), col("nn").as("na")), Seq("id_new"))
      .join(sizes.filter(col("src") === 0)
        .select(col("doc_id").as("id_old"), col("nn").as("nb")), Seq("id_old"))
      // try_divide: see minHashLshPairs — the batch side is verbatim
      // copies of corpus docs by construction, the exact shape where a
      // shared internal hash collision zeroes the divisor
      .withColumn("jaccard", try_divide(col("inter").cast("double"),
        col("na") + col("nb") - col("inter")))
      .filter(col("jaccard") >= minJaccard)
      .select(col("id_new"), col("id_old"), col("jaccard"))
  }

  /** MinHash-LSH pairs with ESTIMATED Jaccard — the verify-free scale
    * variant of minHashLshPairs: candidates come from the same band
    * bucket join, but similarity is the classic signature-agreement
    * estimator (matching seeds / numHashes) instead of an exact n-gram
    * intersection join. The signatures ride through the band join, so
    * after staging the (doc, ngram) table is never touched again — at
    * 100 TB that removes the two largest joins of the exact pipeline
    * (candidate×ngr twice) and the estimate's ±1/√numHashes error is
    * the standard dedup-threshold tradeoff. Exact integer/fraction
    * arithmetic (k/numHashes) keeps the output engine-portable.
    */
  def minHashEstPairs(df: DataFrame, id: Column, text: Column, n: Int,
      bands: Int, rowsPerBand: Int, minEst: Double): DataFrame = {
    val ngr = df.select(id.as("doc_id"), explode(hashedNgrams(df, text, n)).as("ng"))
    val numHashes = bands * rowsPerBand
    val banded = sigBands(ngr, Nil, bands, rowsPerBand, withSig = true)
    val candA = banded.select(col("doc_id").as("id_a"), col("sig").as("sig_a"), col("band"), col("bh"))
    val candB = banded.select(col("doc_id").as("id_b"), col("sig").as("sig_b"), col("band"), col("bh"))
    // sigs (numHashes longs) ride through the dedup shuffle — still
    // ~128 B/row, far cheaper than re-joining the ngram table
    candA.join(candB, Seq("band", "bh"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), col("sig_a"), col("sig_b")).distinct()
      .withColumn("matches", aggregate(
        zip_with(col("sig_a"), col("sig_b"), (a, b) => when(a === b, lit(1)).otherwise(lit(0))),
        lit(0), (acc, x) => acc + x))
      .withColumn("est_jaccard", col("matches").cast("double") / numHashes)
      .filter(col("est_jaccard") >= minEst)
      .select(col("id_a"), col("id_b"), col("est_jaccard"))
  }

  /** Verify-free CONTAINMENT estimator — the q59-style scale path for
    * [[ngramContainmentPairs]]: banded MinHash candidates, then
    * containment of the smaller n-gram set inside the larger estimated
    * from the signature agreement and the EXACT per-doc set sizes,
    * with no re-join against the n-gram table. From J ≈ m/k and
    * |A∩B| = J·(|A|+|B|)/(1+J):
    *   cont_est_ppm = m·(na+nb)·10^6 DIV ((k+m)·min(na,nb))
    * — exact integer arithmetic throughout (m, k, na, nb are ints;
    * the estimate is deterministic and oracle-replayable; only its
    * RELATION to true containment is statistical). Safe while
    * m·(na+nb)·10^6 < 2^63, i.e. docs under ~10^10 distinct shingles.
    *
    * Banding for containment is NOT the near-dup S-curve: subset pairs
    * are LOW-Jaccard by construction (a half-prefix has J ≈ 1/3, and
    * P[4×4-band collision] ≈ 10% — the estimator would miss most of
    * what containment exists to find). Use bands = k, rowsPerBand = 1:
    * candidate iff ANY seed's min agrees, P = 1-(1-J)^k ≈ 99.8% at
    * J = 1/3, k = 16. The cost is single-min bucket keys (larger
    * buckets on stock-phrase-heavy corpora — the maxDf guard of the
    * exact path does not exist here; pairs dedup before scoring, and
    * the df cap can be re-introduced upstream by filtering ngr).
    *
    * Scale shape: signatures ride the band join (~128 B/row); sizes
    * are one partial agg joined onto CANDIDATE PAIRS (≪ corpus); the
    * exact path's two candidate×ngram joins are gone.
    */
  def containmentEstPairs(df: DataFrame, id: Column, text: Column, n: Int,
      bands: Int, rowsPerBand: Int, minPpm: Long): DataFrame = {
    val k = bands * rowsPerBand
    val ngr = df.select(id.as("doc_id"), explode(hashedNgrams(df, text, n)).as("ng"))
    val sizes = ngr.groupBy(col("doc_id")).agg(count(lit(1)).as("nn"))
    val banded = sigBands(ngr, Nil, bands, rowsPerBand, withSig = true)
    val candA = banded.select(col("doc_id").as("id_a"), col("sig").as("sig_a"), col("band"), col("bh"))
    val candB = banded.select(col("doc_id").as("id_b"), col("sig").as("sig_b"), col("band"), col("bh"))
    val swap = col("na") > col("nb") // contained side = smaller ngram set; na=nb → a (id_a < id_b)
    candA.join(candB, Seq("band", "bh"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), col("sig_a"), col("sig_b")).distinct()
      .withColumn("m", aggregate(
        zip_with(col("sig_a"), col("sig_b"), (a, b) => when(a === b, lit(1L)).otherwise(lit(0L))),
        lit(0L), (acc, x) => acc + x))
      .join(sizes.select(col("doc_id").as("id_a"), col("nn").as("na")), Seq("id_a"))
      .join(sizes.select(col("doc_id").as("id_b"), col("nn").as("nb")), Seq("id_b"))
      .select(
        when(swap, col("id_b")).otherwise(col("id_a")).as("id_contained"),
        when(swap, col("id_a")).otherwise(col("id_b")).as("id_container"),
        col("m"),
        when(swap, col("nb")).otherwise(col("na")).as("nn_contained"),
        col("na"), col("nb"))
      .withColumn("cont_est_ppm",
        expr(s"m * (na + nb) * 1000000 DIV (($k + m) * nn_contained)"))
      .filter(col("cont_est_ppm") >= minPpm)
      .select(col("id_contained"), col("id_container"), col("m"),
        col("nn_contained"), col("cont_est_ppm"))
  }

  /** Connected components over an undirected near-duplicate pair set
    * (id_a, id_b) — the step that turns pairwise dedup output into
    * actionable clusters: every member gets `cluster_id` = the minimum
    * doc id reachable through near-dup edges, so "keep the canonical
    * copy" is `doc_id = cluster_id` and everything else is a drop.
    * Pairwise drop-the-higher-id keeps every member not adjacent to a
    * smaller one (both leaves of a star survive), so how much survives
    * depends on which edges LSH happened to emit; clustering gives the
    * production contract — exactly ONE representative per connected
    * component, edge-set-stable. Every endpoint gets a row (a node seen
    * only in self-loops is its own cluster); both columns are longs.
    *
    * One entry point whose plan is chosen from the size observed once
    * the pairs are materialized (Shark's partial-DAG rule). The pairs
    * are persisted and counted; if the worst-case label table — 2 ×
    * edges × 16 B — fits under the session's
    * `spark.sql.autoBroadcastJoinThreshold`, the edges stream to the
    * driver and a min-root union-find labels them there
    * ([[unionFindLabels]]), returned as a local relation in the
    * caller's session. The driver then holds at most the budget Spark
    * already grants one broadcast relation: 16 B per edge of endpoints,
    * a sorted copy of them and a 4-byte parent per node (≤ 1.25 × the
    * threshold), plus the label table itself. Near-dup graphs are
    * batch- or pair-set-sized, so this is the common path. Larger
    * graphs run [[connectedComponentsStar]]'s O(log d) rounds in the
    * caller's session, whose AQE (pinned on by every graft profile)
    * plans the per-round joins from runtime sizes.
    */
  def connectedComponents(pairs: DataFrame): DataFrame = ccWithPath(pairs)._1

  /** [[connectedComponents]] plus whether it finished on the driver
    * (false: star rounds) — for specs.
    */
  private[graft] def ccWithPath(pairs: DataFrame): (DataFrame, Boolean) =
    withCountedPairs(pairs) { (pr, nEdges) =>
      // the array bound keeps 2 × edges inside one JVM array index
      if (2L * nEdges * 16L <= pr.sparkSession.sessionState.conf.autoBroadcastJoinThreshold &&
          nEdges < (1L << 30)) (unionFindLabels(pr, nEdges.toInt), true)
      else (starRounds(pr, nEdges, StarMaxRounds)._1, false)
    }

  private val StarMaxRounds = 20

  /** Persist `pairs` as long (id_a, id_b), count it and run `body` on
    * both; unpersists after — neither CC finish reads the pairs once
    * it returns (a local relation, or star's checkpointed labels).
    */
  private def withCountedPairs[A](pairs: DataFrame)(body: (DataFrame, Long) => A): A = {
    val pr = pairs
      .select(col("id_a").cast("long").as("id_a"), col("id_b").cast("long").as("id_b"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try body(pr, pr.count()) finally pr.unpersist()
  }

  /** Min-root union-find over the counted pairs, on the driver. The
    * edges stream in one partition at a time (`toLocalIterator`) into
    * one primitive array of endpoints; a sorted, deduplicated copy is
    * the node table, so node index order is id order, and every union
    * hangs the larger root under the smaller — each root is its
    * component's minimum id. Path halving keeps `find` near-constant.
    */
  private def unionFindLabels(pr: DataFrame, nEdges: Int): DataFrame = {
    val ends = new Array[Long](2 * nEdges)
    val it = pr.toLocalIterator()
    var e = 0
    while (it.hasNext) {
      val r = it.next()
      ends(e) = r.getLong(0); ends(e + 1) = r.getLong(1); e += 2
    }
    val nodes = ends.clone()
    java.util.Arrays.sort(nodes)
    var m = 0
    for (i <- nodes.indices) if (i == 0 || nodes(i) != nodes(i - 1)) { nodes(m) = nodes(i); m += 1 }
    val parent = Array.tabulate(m)(identity)
    def find(x: Int): Int = {
      var y = x
      while (parent(y) != y) { parent(y) = parent(parent(y)); y = parent(y) }
      y
    }
    def root(id: Long): Int = find(java.util.Arrays.binarySearch(nodes, 0, m, id))
    for (k <- 0 until e by 2) {
      val (ra, rb) = (root(ends(k)), root(ends(k + 1)))
      if (ra < rb) parent(rb) = ra else if (rb < ra) parent(ra) = rb
    }
    val rows = new java.util.ArrayList[org.apache.spark.sql.Row](m)
    for (i <- 0 until m) rows.add(org.apache.spark.sql.Row(nodes(i), nodes(find(i))))
    pr.sparkSession.createDataFrame(rows, new org.apache.spark.sql.types.StructType()
      .add("doc_id", "long").add("cluster_id", "long"))
  }

  /** The production dedup-clustering front door: documents in, cluster
    * labels out — (doc_id, cluster_id = min doc id reachable through
    * near-dup edges), so "keep the canonical copy" is `doc_id =
    * cluster_id` and everything else is a drop.
    *
    * One entry point with the measured defaults, so a caller never has
    * to choose a CC finish or hand-tune skew knobs:
    *  - candidate pairs via MinHash-LSH with `salts = 4` — a hot band
    *    bucket (boilerplate cluster flooding one (band, key) cell at
    *    100 TB) spreads over 4 tasks; output identical to unsalted,
    *    only the shuffle layout changes;
    *  - clustering via [[connectedComponents]] — a driver union-find
    *    when the label table fits the broadcast budget, O(log d) star
    *    rounds otherwise.
    *
    * Docs with no near-dup edge don't appear in the output (they are
    * trivially their own cluster) — anti-join semantics: drop where
    * `doc_id != cluster_id`, keep everything else.
    */
  def dedupClusters(df: DataFrame, id: Column, text: Column, n: Int = 3,
      bands: Int = 4, rowsPerBand: Int = 4, minJaccard: Double = 0.5,
      salts: Int = graft.GraftSession.Local32.salts): DataFrame = {
    connectedComponents(minHashLshPairs(df, id, text, n, bands, rowsPerBand, minJaccard, salts))
  }

  /** Incremental duplicate-cluster maintenance — advance a persisted
    * min-label cluster assignment by one batch of near-dup edges
    * WITHOUT re-running connected components over the whole corpus.
    *
    * `comp` is the existing assignment (doc_id, cluster_id) with the
    * min-label convention [[connectedComponents]] produces (cluster_id =
    * min doc id reachable; every node incident to an edge has a row,
    * including the representative labeling itself). `newEdges`
    * (id_a, id_b, undirected) are the batch's verified pairs —
    * batch×batch plus batch×corpus, e.g. [[minHashLshPairs]] on the
    * batch unioned with [[minHashLshPairsIncremental]] against the
    * corpus. Returns the advanced assignment over the same domain
    * rule: every node incident to any old or new edge.
    *
    * Exactness (why incremental ≡ from-scratch): mapping each endpoint
    * to its current representative is a graph quotient, so components
    * of (contracted new edges) correspond 1:1 to the merged components
    * of (old edges ∪ new edges). Min-label transfers through the
    * quotient because each old cluster_id IS the minimum of its old
    * component and an unlabeled endpoint is its own singleton minimum:
    * the min over a contracted component's node ids equals the min
    * over the merged component's doc ids. Relabeling old rows by
    * cluster_id and labeling fresh endpoints by their contracted
    * component therefore reproduces exactly what [[dedupClusters]]
    * would compute from scratch on the full edge set (oracle-gated by
    * q129, whose DuckDB SQL is q53's from-scratch recursive closure
    * verbatim).
    *
    * Scale shape (the whole point): the O(corpus) side — `comp` — is
    * scanned once and joined ONLY through broadcasts. The touched-row
    * lookup broadcasts the batch-bounded endpoint set into the state
    * scan; the contracted CC runs on ≤ 2·|newEdges| nodes (batch-
    * sized, so it finishes on the driver); the relabel broadcasts the
    * contracted label map (bounded by affected components ≤ batch
    * endpoints) back over the state scan. Nothing O(state) ever
    * exchanges, and the per-advance CC cost is independent of corpus
    * size.
    */
  def clusterStateAdvance(comp: DataFrame, newEdges: DataFrame): DataFrame = {
    val (relabeled, _, newRows) = clusterAdvanceParts(comp, newEdges)
    relabeled.unionByName(newRows)
  }

  /** Changed-rows form of [[clusterStateAdvance]]: ONLY the state rows
    * whose label changed plus the fresh endpoints' rows — O(affected)
    * output instead of O(state), which is what a persisted assignment
    * wants to WRITE per advance (merge-on-read latest-layer-wins per
    * doc_id reconstructs exactly the full advance output, since every
    * unchanged row's old layer still holds). Same exactness argument.
    */
  def clusterStateAdvanceDelta(comp: DataFrame, newEdges: DataFrame): DataFrame = {
    val (_, changed, newRows) = clusterAdvanceParts(comp, newEdges)
    changed.unionByName(newRows)
  }

  private def clusterAdvanceParts(comp: DataFrame,
      newEdges: DataFrame): (DataFrame, DataFrame, DataFrame) = {
    // materialized once (batch-bounded by contract): the edge set is
    // consumed by three independent actions (endpoint broadcast,
    // contraction, fresh-row anti-join), and when it arrives as a lazy
    // LSH pair chain each consumer would otherwise re-run the whole
    // candidate+verify derivation (bench: ~3× the q129 edge cost)
    val edges = iterEager(newEdges
      .select(col("id_a").cast("long").as("id_a"), col("id_b").cast("long").as("id_b"))
      .filter(col("id_a") =!= col("id_b")))
    val eps = edges.select(col("id_a").as("id"))
      .unionByName(edges.select(col("id_b").as("id"))).distinct()
    // state rows the batch touches: broadcast the batch-bounded
    // endpoint set into the one O(state) scan (no state shuffle)
    val repOf = comp.join(broadcast(eps), comp("doc_id") === eps("id"))
      .select(comp("doc_id").as("id"), comp("cluster_id").as("rep"))
    // contract: endpoint -> current representative (itself when absent
    // from state); edges internal to one existing cluster collapse
    val ra = repOf.select(col("id").as("__ia"), col("rep").as("__ra"))
    val rb = repOf.select(col("id").as("__ib"), col("rep").as("__rb"))
    val contracted = edges
      .join(broadcast(ra), col("id_a") === col("__ia"), "left")
      .join(broadcast(rb), col("id_b") === col("__ib"), "left")
      .select(coalesce(col("__ra"), col("id_a")).as("id_a"),
        coalesce(col("__rb"), col("id_b")).as("id_b"))
      .filter(col("id_a") =!= col("id_b"))
    // CC over the batch-sized contracted graph.
    // Node ids here are old representatives or fresh endpoints; the
    // resulting label is the merged component's global minimum.
    val labelMap = connectedComponents(contracted)
      .select(col("doc_id").as("node"), col("cluster_id").as("new_lbl"))
    // relabel O(state) rows through a broadcast map keyed on cluster_id
    // (a merge renames the whole old cluster in one pass)
    val relabeled = comp
      .join(broadcast(labelMap), comp("cluster_id") === col("node"), "left")
      .select(comp("doc_id"), coalesce(col("new_lbl"), comp("cluster_id")).as("cluster_id"))
    val changed = comp
      .join(broadcast(labelMap), comp("cluster_id") === col("node"))
      .filter(col("new_lbl") =!= comp("cluster_id"))
      .select(comp("doc_id"), col("new_lbl").as("cluster_id"))
    // fresh endpoints (no state row yet): label = their contracted
    // component, or themselves when every incident edge collapsed into
    // an existing cluster's interior (impossible for truly new ids, but
    // kept for the general contract). Anti-join against repOf — the
    // batch-bounded touched-row set — NOT against comp: "endpoint with
    // no repOf row" ≡ "endpoint with no comp row" by construction, and
    // an anti-join against comp would be the O(state) exchange this
    // operator exists to delete.
    val newRows = eps.join(broadcast(repOf.select(col("id"))), Seq("id"), "left_anti")
      .join(broadcast(labelMap), col("id") === col("node"), "left")
      .select(col("id").as("doc_id"), coalesce(col("new_lbl"), col("id")).as("cluster_id"))
    (relabeled, changed, newRows)
  }

  /** Staged dedup-cascade report — the funnel a production pipeline
    * runs cheapest-first (exact → canonical-form → estimator screen →
    * exact near-dup cluster) so each stage's pair/cluster work sees
    * only the previous stage's survivors: exact dedup costs one hash
    * groupBy, canonical dedup one more, then the VERIFY-FREE
    * [[minHashEstPairs]] screen at a high threshold (est ≥ 0.75, i.e.
    * ≥ 12/16 signature seeds agree) removes the near-verbatim dup
    * mass — boilerplate, templated spam, trivially-edited copies, the
    * bulk of real dup mass — for the price of a band join with NO
    * candidate×ngram verify joins, and only the remainder pays the
    * full exact-Jaccard [[dedupClusters]] pass at the 0.5 threshold.
    * Keep rules: min doc_id per md5 group, [[normalizeDedup]]
    * keep-best per canonical key, greedy smaller-id-wins per
    * estimator pair (the screen — no closure), min-id component
    * representative for the exact cluster stage. Output: one
    * row per stage (stage, n_in, n_removed, n_out) — the
    * before/after audit a pipeline dashboard shows, with n_out of
    * one stage = n_in of the next (the funnel invariant specs
    * assert).
    *
    * Scale shape: stages 1–2 are partial-agg groupBys on 8/16-byte
    * keys joined back onto the id spine; stage 3's exchanges carry
    * signatures (~128 B/row) and never re-touch the n-gram table;
    * stage 4 is [[dedupClusters]] (salted LSH + connected components)
    * over the screened remainder — at 100 TB the expensive
    * candidate×ngram verify joins run on the post-screen corpus
    * only. The counts are five 1-row aggregates cross-joined
    * (bounded broadcast), exploded to the 4-row report — no stage
    * materializes anything the next stage doesn't need.
    */
  def dedupFunnel(df: DataFrame, id: Column, text: Column,
      estScreenMinRows: Long = 0L): DataFrame = withStagingScope(df.sparkSession) {
    val base = df.select(id.as("doc_id"), text.as("text"))
    val k1 = base.groupBy(md5(col("text").cast("binary")).as("h"))
      .agg(min(col("doc_id")).as("doc_id"))
    val s1 = base.join(k1.select(col("doc_id")), Seq("doc_id"))
    val k2 = normalizeDedup(s1, col("doc_id"), col("text")).select(col("doc_id"))
    // s2/s3 each feed three consumers (the next stage's pair chain,
    // the survivor join, and the stage count) — materialize once so
    // the md5/canonical/est prefix isn't recomputed per consumer
    val s2 = stageEager(s1.join(k2, Seq("doc_id")))
    // greedy pairwise screen, NO closure: drop the larger id of every
    // estimator pair (id_a < id_b by construction). A screen is
    // allowed to be greedy — docs that are only TRANSITIVELY similar
    // (never directly paired at est ≥ 0.75) survive to stage 4, whose
    // exact clustering handles chains properly — and skipping the
    // iterative CC here keeps the stage one band join + one anti-join
    // on both engines (the oracle replays it without a recursive CTE)
    // ADAPTIVE BYPASS (knob, default off): the screen's fixed cost
    // (signature build + band join, ~0.7 s at sf0.1) only pays for
    // itself when the input is big enough that stage 4's
    // candidate×ngram verify work dominates — below
    // `estScreenMinRows`, stage 4 alone is cheaper and the screen row
    // reports n_removed = 0. The survivor set can differ marginally
    // between the two shapes (greedy est-pair screen vs exact
    // clustering), so the ORACLE-GATED entry pins the deterministic
    // always-screen path (threshold 0); deployments size the knob to
    // the corpus (recommended: ≥ ~10⁶ rows per the sf1 profile in
    // PLANS.md). The count is one job over the already-staged s2.
    val runScreen = estScreenMinRows <= 0L || s2.count() >= estScreenMinRows
    val s3 =
      if (!runScreen) s2
      else {
        val estPairs = minHashEstPairs(s2, col("doc_id"), col("text"), 3, 4, 4, 0.75)
        stageEager(s2.join(estPairs.select(col("id_b").as("doc_id")).distinct(),
          Seq("doc_id"), "left_anti"))
      }
    val labels = dedupClusters(s3, col("doc_id"), col("text"))
    val s4 = s3.join(labels, Seq("doc_id"), "left")
      .filter(col("cluster_id").isNull || col("cluster_id") === col("doc_id"))
    val Seq(n0, n1, n2, n3, n4) = Seq(base, s1, s2, s3, s4).zipWithIndex.map {
      case (d, i) => d.agg(count(lit(1)).as(s"n$i"))
    }
    n0.crossJoin(n1).crossJoin(n2).crossJoin(n3).crossJoin(n4)
      .select(explode(array(
        struct(lit("1_exact").as("stage"), col("n0").as("n_in"),
          (col("n0") - col("n1")).as("n_removed"), col("n1").as("n_out")),
        struct(lit("2_canonical").as("stage"), col("n1").as("n_in"),
          (col("n1") - col("n2")).as("n_removed"), col("n2").as("n_out")),
        struct(lit("3_est_screen").as("stage"), col("n2").as("n_in"),
          (col("n2") - col("n3")).as("n_removed"), col("n3").as("n_out")),
        struct(lit("4_neardup").as("stage"), col("n3").as("n_in"),
          (col("n3") - col("n4")).as("n_removed"), col("n4").as("n_out")))).as("r"))
      .select(col("r.stage").as("stage"), col("r.n_in").as("n_in"),
        col("r.n_removed").as("n_removed"), col("r.n_out").as("n_out"))
  }

  /** Leakage-safe train/val/test split assignment: the split decision
    * is hashed at the near-dup CLUSTER level, not the document level —
    * a doc's split comes from the salted portable hash of its cluster
    * representative (its [[dedupClusters]] label; singleton docs are
    * their own representative), so two near-duplicates can NEVER land
    * in different splits. Doc-level hashing leaks: a train doc's
    * near-copy in val inflates eval exactly like verbatim
    * contamination, and at corpus scale the S-curve guarantees such
    * straddling pairs exist. Buckets are pmod(hash, 100): bucket <
    * testPct → "test", < testPct+valPct → "val", else "train" —
    * deterministic per cluster, reproducible across retries, and
    * replayable by the oracle.
    *
    * Scale shape: the pair + CC stages are [[dedupClusters]] (salted
    * LSH, connected components); the label table is near-dup-sized
    * (pairs only), LEFT-joined back onto the doc-id spine; split
    * hashing is scan-local. Returns (doc_id, rep, split).
    */
  def splitAssign(df: DataFrame, id: Column, text: Column,
      valPct: Int = 1, testPct: Int = 1, n: Int = 3, bands: Int = 4,
      rowsPerBand: Int = 4, minJaccard: Double = 0.5): DataFrame = {
    require(valPct >= 0 && testPct >= 0 && valPct + testPct <= 100)
    val labels = dedupClusters(df, id, text, n, bands, rowsPerBand, minJaccard)
    val spine = df.select(id.as("doc_id"))
    val withRep = spine.join(labels, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("cluster_id"), col("doc_id")).as("rep"))
    val bucket = pmod(polyHash(df,
      concat(col("rep").cast("string"), lit("/split")), PolyB1, PolyP1), lit(100))
    withRep.withColumn("split",
      when(bucket < testPct, lit("test"))
        .when(bucket < testPct + valPct, lit("val"))
        .otherwise(lit("train")))
  }

  /** Connected components by alternating large-star/small-star
    * contraction (Kiveris et al., "Connected Components in MapReduce
    * and Beyond", SoCC'14) — [[connectedComponents]]' finish for
    * graphs whose label table exceeds the broadcast budget, in
    * O(log d) rounds for diameter d. A templated-drift corpus (each
    * copy one edit from the previous — real at 100 TB) emits a pair
    * CHAIN; star contraction halves its effective diameter every round.
    *
    * Each round is two grouped-min passes over the edge set:
    *  - large-star: every node's strictly-larger neighbors re-point to
    *    the minimum of its closed neighborhood;
    *  - small-star: every node's smaller-or-equal neighbors (edges are
    *    kept oriented larger→smaller) and the node itself re-point to
    *    that minimum.
    * Edges only ever re-point to smaller ids, and the fixed point is a
    * disjoint union of min-rooted stars — detected by the scalar "no
    * node is both a star child and a star root" aggregate, one
    * exchange per round (no data collect). A graph that has not
    * converged within `maxRounds` raises instead of returning partial
    * labels. Output contract identical to connectedComponents:
    * (doc_id, cluster_id = min id reachable through near-dup edges).
    */
  def connectedComponentsStar(pairs: DataFrame, maxRounds: Int = StarMaxRounds): DataFrame =
    ccStarWithRounds(pairs, maxRounds)._1

  /** connectedComponentsStar plus the number of contraction rounds it
    * took to converge (exposed for the O(log d) property spec).
    */
  private[graft] def ccStarWithRounds(pairs: DataFrame, maxRounds: Int): (DataFrame, Int) =
    withCountedPairs(pairs)((pr, nEdges) => starRounds(pr, nEdges, maxRounds))

  private def starRounds(pr: DataFrame, nEdges: Long, maxRounds: Int): (DataFrame, Int) = {
    if (nEdges == 0)
      return (pr.select(col("id_a").as("doc_id"), col("id_a").as("cluster_id")).limit(0), 0)
    val p = math.max(1, math.min(pr.sparkSession.sparkContext.defaultParallelism,
      (nEdges / 250000L).toInt))
    // canonical orientation larger→smaller (hi, lo); self-loops drop.
    // Each round's edge set is localCheckpoint'ed: a round references
    // the previous edges ~5× (symmetric view + two grouped-min
    // joins), so an un-truncated lineage would grow the LOGICAL PLAN
    // exponentially in the round count — O(log d) execution rounds
    // with O(c^rounds) analysis cost. Checkpointing pins each round
    // to a constant-size block-backed plan (the materialization is
    // free — the convergence check scans the round anyway). The
    // checkpoint leaves carry no statistics, so it is AQE's runtime
    // sizes that turn the per-round joins into broadcasts.
    var edges = pr
      .select(greatest(col("id_a"), col("id_b")).as("hi"),
        least(col("id_a"), col("id_b")).as("lo"))
      .filter(col("hi") =!= col("lo")).distinct()
      .repartition(p, col("hi"))
      .transform(iterEager)
    var round = 0
    // a set of edges is a fixed point iff it is a disjoint union of
    // stars: no node appears both as a child (hi) and a root (lo),
    // AND every child has exactly one parent edge (two "stars"
    // sharing a child are one unmerged component, not stars). Roots
    // are then the component minima (root < every child, and a
    // shared node would merge two stars). One aggregate, no collect.
    def isStars(e: DataFrame): Boolean =
      e.select(col("hi").as("n"), lit(1).as("c"), lit(0).as("r"))
        .unionByName(e.select(col("lo").as("n"), lit(0).as("c"), lit(1).as("r")))
        .groupBy(col("n")).agg(sum(col("c")).as("cs"), max(col("c")).as("c"), max(col("r")).as("r"))
        .filter((col("c") === 1 && col("r") === 1) || col("cs") > 1)
        .isEmpty
    var converged = isStars(edges)
    while (!converged && round < maxRounds) {
      // large-star: closed-neighborhood min per node over the
      // symmetric edge view; larger neighbors re-point to it
      val sym = edges.select(col("hi").as("u"), col("lo").as("v"))
        .unionByName(edges.select(col("lo").as("u"), col("hi").as("v")))
      val lmin = sym.groupBy(col("u"))
        .agg(least(min(col("v")), first(col("u"))).as("m"))
      val large = sym.join(lmin, Seq("u"))
        .filter(col("v") > col("u"))
        .select(col("v").as("hi"), col("m").as("lo"))
        .distinct()
      // small-star: per hi-node min over its smaller neighbors; those
      // neighbors and the node itself re-point to it
      val smin = large.groupBy(col("hi")).agg(min(col("lo")).as("m"))
      val next = large.join(smin, Seq("hi"))
        .select(col("lo").as("hi"), col("m").as("lo"))
        .unionByName(smin.select(col("hi"), col("m").as("lo")))
        .filter(col("hi") =!= col("lo"))
        .distinct()
        .repartition(p, col("hi"))
        .transform(iterEager)
      converged = isStars(next)
      edges = next
      round += 1
    }
    if (!converged) throw new IllegalStateException(
      s"connectedComponentsStar did not converge within $maxRounds rounds: the pair graph's " +
        "diameter exceeds the round budget and the labels would be silently partial. " +
        "Raise maxRounds (star needs O(log diameter) rounds).")
    // label the full node universe of the input pair set: contraction
    // dropped self-loop edges, but a node seen only in self-loops is
    // still a (singleton) component under the connectedComponents
    // contract — coalesce it to its own id
    val starLabels = edges.select(col("hi").as("doc_id"), col("lo").as("cluster_id"))
      .unionByName(edges.select(col("lo").as("doc_id"), col("lo").as("cluster_id")).distinct())
    val nodes = pr.select(col("id_a").as("doc_id"))
      .unionByName(pr.select(col("id_b").as("doc_id"))).distinct()
    val out = nodes.join(starLabels, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("cluster_id"), col("doc_id")).as("cluster_id"))
      .transform(iterEager)
    (out, round)
  }

  /** SimHash signature width: 31 bits from each of two independent
    * poly-hashes. 62 < 64 bits, so 8×8-bit chunk banding still covers
    * the signature (the top two bits are constant 0 — harmless).
    */
  val SimHashBits = 62

  /** Per-document SimHash signatures. Native one-pass kernel
    * (graft_simhash62) when GraftExtensions is installed — signatures
    * become a scan-local projection with NO exchange, the only layout
    * that works when they are computed at ingest over 100 TB. Fallback
    * is the exploded form: one row per (doc, token), 62 codegen'd
    * bit-majority sums in one groupBy pass. Both token hashes are
    * portable poly-hashes, so the oracle replays identical signatures.
    */
  def simHashDf(df: DataFrame, id: Column, text: Column): DataFrame =
    if (df.sparkSession.sessionState.functionRegistry.functionExists(graft.functions.SimHash62.identifier))
      df.select(id.as("doc_id"), call_function("graft_simhash62", text).as("sh"))
    else simHashDfExploded(df, id, text)

  /** Exploded/aggregated SimHash formulation (the HOF fallback and the
    * parity baseline for the native kernel).
    */
  def simHashDfExploded(df: DataFrame, id: Column, text: Column): DataFrame = {
    val tok = df.select(id.as("doc_id"), explode(split(trim(text), "\\s+")).as("t"))
      .withColumn("h1", polyHash(df, col("t"), PolyB1, PolyP1))
      .withColumn("h2", polyHash(df, col("t"), PolyB2, PolyP2))
    val bitSums = (0 until SimHashBits).map { b =>
      val src = if (b < 31) col("h1") else col("h2")
      val sh = if (b < 31) b else b - 31
      sum(call_function("shiftright", src, lit(sh)).bitwiseAND(1) * 2 - 1).as(s"b$b")
    }
    tok.groupBy(col("doc_id"))
      .agg(bitSums.head, bitSums.tail: _*)
      .select(col("doc_id"),
        (0 until SimHashBits).map(b => when(col(s"b$b") > 0, lit(1L << b)).otherwise(0L)).reduce(_ + _).as("sh"))
  }

  /** SimHash near-dup pairs with Hamming distance <= maxDist, candidates
    * via nChunks-way chunk banding (pigeonhole: dist < nChunks ⇒ some
    * chunk equal — recall is guaranteed only for maxDist < nChunks).
    *
    * nChunks is the CORPUS-SCALE knob: the random collision rate per
    * chunk is 2^-width (width = 62/nChunks rounded up), so 8×8-bit
    * chunks stop discriminating around ~10^4 docs (expected random
    * candidate pairs = nChunks·C(n,2)/2^width — quadratic once cells
    * crowd), while 4×16-bit chunks (maxDist <= 3, the typical near-dup
    * regime) cut the background collision rate 256× and stay
    * bucket-bounded far longer. The sf1 probe measures exactly this:
    * at 50k docs the dist<=7/8-chunk contract is candidate-heavy in
    * BOTH engines (inherent to a 62-bit signature), and the 100 TB
    * configuration is nChunks=4, maxDist<=3 — output-identical to the
    * 8-chunk run at the same maxDist (spec-asserted).
    */
  def simHashPairs(df: DataFrame, id: Column, text: Column, maxDist: Int,
      nChunks: Int = 8): DataFrame = {
    require(nChunks >= 2 && nChunks <= 8, "nChunks must be in [2, 8]")
    require(maxDist < nChunks,
      s"$nChunks-chunk banding guarantees recall only for dist < $nChunks")
    val width = (SimHashBits + nChunks - 1) / nChunks
    val mask = (1L << width) - 1
    val docs = simHashDf(df, id, text)
    val chunked = simHashChunked(docs, nChunks, width, mask)
    val a = chunked.select(col("doc_id").as("id_a"), col("sh").as("sh_a"), col("chunk"), col("cv"))
    val b = chunked.select(col("doc_id").as("id_b"), col("sh").as("sh_b"), col("chunk"), col("cv"))
    a.join(b, Seq("chunk", "cv"))
      .filter(col("id_a") < col("id_b") && simHashFirstMatch(nChunks, width, mask))
      .withColumn("dist", bit_count(col("sh_a").bitwiseXOR(col("sh_b"))))
      .filter(col("dist") <= maxDist)
      .select(col("id_a"), col("id_b"), col("dist"))
  }

  /** One row per (doc, signature chunk): (doc_id, sh, chunk, cv). */
  private def simHashChunked(docs: DataFrame, nChunks: Int, width: Int, mask: Long): DataFrame =
    docs.select(col("doc_id"), col("sh"),
      explode(transform(sequence(lit(0), lit(nChunks - 1)),
        c => struct(c.as("chunk"), call_function("shiftright", col("sh"), c.cast("int") * width).bitwiseAND(mask).as("cv")))).as("ck"))
      .select(col("doc_id"), col("sh"), col("ck.chunk"), col("ck.cv"))

  /** Canonical-chunk pair generation predicate: a pair is emitted only
    * at its FIRST matching chunk (all lower chunks must differ), so
    * pairs are unique by construction and the distinct shuffle
    * disappears — near-identical docs match on all chunks, so without
    * this every true pair is produced nChunks×. Hamming-filter runs in
    * the same codegen stage; the exchange after the join carries
    * nothing. Expects sh_a/sh_b columns in scope.
    */
  private def simHashFirstMatch(nChunks: Int, width: Int, mask: Long): Column =
    (0 until nChunks - 1).map { cp =>
      (col("chunk") <= lit(cp)) ||
        (call_function("shiftright", col("sh_a"), lit(cp * width)).bitwiseAND(mask) =!=
          call_function("shiftright", col("sh_b"), lit(cp * width)).bitwiseAND(mask))
    }.reduce(_ && _)

  /** Incremental SimHash dedup — the daily-ingest shape of
    * simHashPairs (the q67/q80 pattern for the signature family):
    * near-dup pairs between a NEW batch and the EXISTING corpus only,
    * never corpus × corpus. The corpus side arrives as its PERSISTED
    * signature table (doc_id, sh) — exactly what `simHashDf` stamps at
    * ingest (and what streaming `dedupBySimhash` maintains), so a
    * day's dedup reads one long per corpus doc and never re-tokenizes
    * the lake. Candidates via the same nChunks-way chunk banding,
    * cross-side collisions only; pairs are canonical-chunk unique; the
    * two sides are independent id namespaces (an id_new equal to some
    * id_old names a DIFFERENT document — the pair is reported, never
    * merged). Returns (id_new, id_old, dist ≤ maxDist).
    *
    */
  def simHashPairsIncremental(corpusSigs: DataFrame, newDocs: DataFrame,
      id: Column, text: Column, maxDist: Int, nChunks: Int = 8): DataFrame = {
    require(nChunks >= 2 && nChunks <= 8, "nChunks must be in [2, 8]")
    require(maxDist < nChunks,
      s"$nChunks-chunk banding guarantees recall only for dist < $nChunks")
    val width = (SimHashBits + nChunks - 1) / nChunks
    val mask = (1L << width) - 1
    val newSigs = simHashDf(newDocs, id, text)
    val a = simHashChunked(newSigs, nChunks, width, mask)
      .select(col("doc_id").as("id_new"), col("sh").as("sh_a"), col("chunk"), col("cv"))
    val b = simHashChunked(corpusSigs.select(col("doc_id"), col("sh")), nChunks, width, mask)
      .select(col("doc_id").as("id_old"), col("sh").as("sh_b"), col("chunk"), col("cv"))
    a.join(b, Seq("chunk", "cv"))
      .filter(simHashFirstMatch(nChunks, width, mask))
      .withColumn("dist", bit_count(col("sh_a").bitwiseXOR(col("sh_b"))))
      .filter(col("dist") <= maxDist)
      .select(col("id_new"), col("id_old"), col("dist"))
  }

  /** [[simHashPairsIncremental]] with COMPOSITE (two-chunk) bands —
    * the corpus-scale form of the signature join. Single-chunk
    * banding's candidate volume explodes on natural text because
    * chunk values are heavily biased: at 500k docs the 4×16-bit
    * scheme produced 764M candidate pairs with 58% in the top ten
    * (chunk, cv) buckets (SimHashSkewProbe), and the verify volume —
    * not task placement — owned the gate's wall (salting the hot
    * buckets was measured a net LOSS: 49 s unsalted vs 58-65 s at
    * salts 4-32, SigGateProbe). The fix is more specific candidates:
    * split the signature into m = maxDist + 2 chunks and band on
    * every PAIR of chunks — C(m, 2) bands whose keys carry TWO chunk
    * values (~2× the bits of a single-chunk key). Exactness is the
    * same pigeonhole one level up: ≤ maxDist flipped bits touch
    * ≤ maxDist chunks, leaving ≥ 2 chunks intact, and that intact
    * pair is one of the enumerated bands — recall is guaranteed, and
    * since the dist ≤ maxDist filter is unchanged the OUTPUT is
    * set-identical to the single-chunk scheme (OperatorsSpec parity).
    * Pairs are canonical-band unique (first matching band in band
    * order, the [[simHashFirstMatch]] idea generalized), so no
    * distinct exchange. For maxDist = 3: 5 chunks of ≤ 13 bits,
    * 10 bands, 26-bit keys — measured 48.0 → 11.8 s on the 500k-doc
    * gate with identical gate output (SigGateProbe; wider bands lose
    * again — r = 3 needs 11-bit chunks whose values are MORE biased,
    * measured 54.9 s — so bandSize stays 2).
    */
  private[graft] def simHashPairsIncrementalBanded(corpusSigs: DataFrame, newDocs: DataFrame,
      id: Column, text: Column, maxDist: Int, bandSize: Int = 2): DataFrame = {
    val r = bandSize
    val m = maxDist + r
    require(maxDist >= 1 && m <= 10, s"maxDist + bandSize must be ≤ 10 (was $m)")
    val w = (SimHashBits + m - 1) / m
    val mask = (1L << w) - 1
    val bands: Seq[Seq[Int]] = (0 until m).combinations(r).map(_.toSeq).toSeq
    def cv(sh: Column, c: Int): Column =
      call_function("shiftright", sh, lit(c * w)).bitwiseAND(mask)
    def bandKey(sh: Column, chunks: Seq[Int]): Column =
      chunks.map(cv(sh, _)).reduce((acc, c) =>
        call_function("shiftleft", acc, lit(w)) + c)
    def banded(sigs: DataFrame, idName: String, shName: String): DataFrame =
      sigs.select(col("doc_id").as(idName), col("sh").as(shName),
        explode(array(bands.zipWithIndex.map { case (chunks, bi) =>
          struct(lit(bi).as("band"), bandKey(col("sh"), chunks).as("bv"))
        }: _*)).as("bk"))
        .select(col(idName), col(shName), col("bk.band"), col("bk.bv"))
    val a = banded(simHashDf(newDocs, id, text), "id_new", "sh_a")
    val b = banded(corpusSigs.select(col("doc_id"), col("sh")), "id_old", "sh_b")
    // canonical-band predicate: emit a pair only at its FIRST matching
    // band — all earlier bands must have a differing chunk
    val firstMatch = (0 until bands.size - 1).map { bp =>
      (col("band") <= lit(bp)) +: bands(bp).map(c =>
        cv(col("sh_a"), c) =!= cv(col("sh_b"), c))
    }.map(_.reduce(_ || _)).reduceOption(_ && _).getOrElse(lit(true))
    // pin sort-merge: both sides are row-exploded ×C(m,2), and the
    // corpus side at scale is millions of rows that AQE's post-shuffle
    // size estimate can still fit under the broadcast threshold
    // (compressed) — a broadcast conversion then has the DRIVER build
    // a multi-million-row hash relation and die (observed at 500k docs
    // through q127's derived-sigs plan). SMJ streams the hot-key runs
    // with no build-side memory at any scale.
    a.join(b.hint("merge"), Seq("band", "bv"))
      .filter(firstMatch)
      .withColumn("dist", bit_count(col("sh_a").bitwiseXOR(col("sh_b"))))
      .filter(col("dist") <= maxDist)
      .select(col("id_new"), col("id_old"), col("dist"))
  }

  /** Edit-distance ≤ 1 similarity JOIN (entity resolution / fuzzy key
    * match — the join form of q33's pairwise edit distance) with an
    * EXACT candidate guarantee: the PassJoin 2-segment pigeonhole.
    * Split every right string s into two halves; one Levenshtein edit
    * touches at most one half, so any t with ed(t, s) ≤ 1 contains the
    * OTHER half verbatim — as a prefix (first half untouched) or as a
    * suffix (second half untouched), at the half-length implied by
    * |s| ∈ [|t|−1, |t|+1]. The left side therefore emits ≤ 6
    * (kind, key) probes per string, the right side 2 — an equi-join
    * on (kind, key), never a cross join — and the verify step runs
    * `levenshtein` only on deduped candidate pairs. No false
    * negatives BY CONSTRUCTION (spec'd against brute force).
    *
    * Scale shape: candidates ∝ segment-key selectivity. On
    * natural-key corpora halves are discriminating; a constant shared
    * prefix (e.g. 'Supplier#...' serial names) degenerates the P-key
    * to one hot bucket — measured 664k candidates vs 7k on
    * diverse-title data at the same size. The candidate COUNT is
    * inherent to the pigeonhole (those pairs must all be verified);
    * what salting fixes is WHERE they land: without it one task owns
    * the whole hot (kind, key) cell. Mitigation is ADAPTIVE, the q44
    * salted-LSH contract: segment-key-sized count passes over BOTH
    * sides find buckets where either side ≥ `hotThreshold` (left
    * probe skew stalls a task just as surely as right skew); in hot
    * buckets only,
    * the left side salts on hash(l_id) % salts and the right side
    * replicates once per salt, so the cell's verify work spreads over
    * `salts` tasks. Cold buckets join on salt 0 — zero inflation —
    * and the hot-key list is broadcast-sized BY CONSTRUCTION
    * (≤ |rows| / hotThreshold keys). Output is identical to the
    * unsalted join (FuzzyJoinSpec: brute-force parity on a planted
    * constant-prefix corpus; only the shuffle layout changes).
    *
    * Exchange hygiene: segments ship as xxhash64(kind, key, len) — an
    * 8-byte join key instead of the substring itself — through a
    * SHUFFLE-HASH join (near-unique key, bounded per-partition build:
    * sort-merge's two segment-table sorts are pure waste here, r10);
    * the strings ride the segment rows once, verify runs inline, and
    * the final distinct ships verified (l_id, r_id, dist) triples
    * only. A hash collision can only ADD a candidate, and every
    * candidate is verified exactly, so recall is untouched (the
    * no-false-negative proof rides on the probe enumeration, not the
    * key encoding). Hot detection is SAMPLED (r10 — see the inline
    * scaladoc): salting is load balancing, so an exact census is
    * waste. Returns (l_id, r_id, dist ∈ {0, 1}).
    */
  def fuzzyJoin1(left: DataFrame, lId: Column, lStr: Column,
      right: DataFrame, rId: Column, rStr: Column,
      salts: Int = graft.GraftSession.Local32.salts,
      hotThreshold: Long = graft.GraftSession.Local32.hotBucketThreshold,
      collapseDuplicates: Boolean = false): DataFrame =
      if (collapseDuplicates) {
        // Weight-carrying distinct (r10 VERDICT's structural lever):
        // collapse identical strings per side BEFORE segmenting — the
        // segment/candidate/verify work then runs on DISTINCT strings
        // (candidate multiplicity shrinks with the PRODUCT of the two
        // sides' duplication factors), and verified string pairs expand
        // back to id pairs by two joins that are output-sized anyway.
        // The string itself rides as the id through the core (exact —
        // no synthetic-key collision can merge two strings). Wins on
        // boilerplate-heavy corpora (titles repeat); on near-distinct
        // corpora (the catalog corpus measures 1.01–1.06× duplication)
        // the two distincts + two expansion joins are pure overhead —
        // measured in tools/FuzzyCollapseProbe, hence opt-in.
        // distinct (id, string) rows before the expansion joins: the
        // core path's final distinct already collapses repeated input
        // rows, so without this the two modes would disagree on
        // multiset inputs (the expansion joins multiply any repeated
        // lBase/rBase row and nothing downstream dedups them)
        val lBase = left.select(lId.as("l_id"), lStr.as("l_s")).distinct()
        val rBase = right.select(rId.as("r_id"), rStr.as("r_s")).distinct()
        fuzzyJoin1(lBase.select(col("l_s")).distinct(), col("l_s"), col("l_s"),
            rBase.select(col("r_s")).distinct(), col("r_s"), col("r_s"),
            salts, hotThreshold)
          .select(col("l_id").as("l_s"), col("r_id").as("r_s"), col("dist"))
          .join(lBase, Seq("l_s")).join(rBase, Seq("r_s"))
          .select(col("l_id"), col("r_id"), col("dist"))
      } else withStagingScope(left.sparkSession) {
    val lBase = left.select(lId.as("l_id"), lStr.as("l_s"))
    val rBase = right.select(rId.as("r_id"), rStr.as("r_s"))
    // The TARGET LENGTH rides in the segment key: a left probe built
    // for target length sl can only certify matches against right
    // strings of exactly that length, so hashing (kind, key, len)
    // instead of (kind, key) prunes the cross-length collisions
    // (e.g. ll=10's sl=9 P-half colliding with an rl=8 P-half of the
    // same 4 chars) BEFORE the exchange, where the old plan shipped
    // them and killed them with the post-join |ll−rl| ≤ 1 filter.
    // No-false-negative proof is unchanged — it always paired probe
    // sl with right length rl = sl.
    def rsegOf(base: DataFrame): DataFrame = base
      .withColumn("rl", char_length(col("r_s")))
      .select(col("r_id"), col("r_s"), col("rl"), explode(expr(
        """array(
          |  named_struct('kind', 'P', 'key', substring(r_s, 1, rl div 2), 'len', rl),
          |  named_struct('kind', 'S', 'key', substring(r_s, CAST(rl div 2 AS INT) + 1, rl - rl div 2), 'len', rl))""".stripMargin)).as("seg"))
      .select(col("r_id"), col("r_s"), col("rl"),
        xxhash64(col("seg.kind"), col("seg.key"), col("seg.len")).as("hk"))
    def lkeyOf(base: DataFrame): DataFrame = base
      .withColumn("ll", char_length(col("l_s")))
      .select(col("l_id"), col("l_s"), col("ll"), explode(expr(
        """array_distinct(flatten(transform(sequence(ll - 1, ll + 1), sl -> array(
          |  named_struct('kind', 'P', 'key', substring(l_s, 1, sl div 2), 'len', sl),
          |  named_struct('kind', 'S', 'key',
          |    substring(l_s, CAST(ll - (sl - sl div 2) AS INT) + 1, sl - sl div 2), 'len', sl)))))""".stripMargin)).as("seg"))
      .select(col("l_id"), col("l_s"), col("ll"),
        xxhash64(col("seg.kind"), col("seg.key"), col("seg.len")).as("hk"))
    val rseg = rsegOf(rBase)
    val lkey = lkeyOf(lBase)
    // The segment join carries a near-uniform 8-byte key with a small
    // bounded build side per partition — SHUFFLE HASH beats Spark's
    // default sort-merge here (no per-partition sort of either
    // segment table; measured 2.1 s → sub-1 s on the 3M×1M join at
    // the 10× replica), and the per-partition hash map is bounded by
    // |right|/partitions — no OOM risk at scale with sized shuffles.
    def segJoin(l: DataFrame, r: DataFrame, keys: Seq[String]): DataFrame =
      l.join(r.hint("shuffle_hash"), keys)
    // SAMPLED hot-cell detection (r10, replaces the r8 staged exact
    // detection and the r9 possibility probe): salting is LOAD
    // BALANCING, not correctness — the no-false-negative proof rides
    // on the probe enumeration, and a mis-salted cell only skews one
    // task — so the hot list doesn't need an exact count. A `rate`
    // sample of each side sized so a threshold-sized cell yields ~200
    // sampled rows (rate = 200/hotThreshold, capped at 1) is counted
    // at cut = threshold·rate/2: a truly hot cell is missed with
    // probability ≤ exp(−200·(1−ln2)) ≈ 0 (Chernoff), sub-threshold
    // cells down to threshold/2 may over-salt (harmless), and the
    // detection pass shrinks from two full segment-table aggregations
    // + eager staging to one 2·rate-sized scan-agg — the segment
    // tables are now consumed exactly ONCE (by the join), so the
    // staging machinery the exact path needed disappears with it.
    // rate ≥ 1 (tiny thresholds, e.g. spec harnesses) degrades to the
    // exact count at the exact threshold.
    val joined =
      if (salts <= 1) segJoin(lkey, rseg, Seq("hk"))
      else {
        val rate = math.min(1.0, 200.0 / math.max(1L, hotThreshold).toDouble)
        val cut = if (rate >= 1.0) hotThreshold
          else math.max(2L, math.round(hotThreshold * rate / 2.0))
        val (lDet, rDet) =
          if (rate >= 1.0) (lkey, rseg)
          else (lkeyOf(lBase.sample(rate, 1031L)), rsegOf(rBase.sample(rate, 1033L)))
        // hot = max(left, right) bucket count: a cell can stall a task
        // from EITHER side's skew (huge left probe cell × modest right
        // cell still yields a large per-task verify product), and
        // salting handles both the same way — left rows spread over
        // `salts`, right rows replicate once per salt. The hot list
        // stays broadcast-sized BY CONSTRUCTION (≤ sampled rows / cut
        // keys).
        val hot = rDet.groupBy(col("hk")).agg(count(lit(1)).as("__n"))
          .unionByName(lDet.groupBy(col("hk")).agg(count(lit(1)).as("__n")))
          .groupBy(col("hk")).agg(max(col("__n")).as("__n"))
          .filter(col("__n") >= cut)
          .select(col("hk"), lit(true).as("__hot"))
        // the hot list is a bounded aggregate (≤ sampled rows / cut
        // keys, i.e. ≤ 2·|segments|/hotThreshold) — collect it to the
        // driver ONCE, like any other broadcast-threshold-sized
        // aggregate, and inline it as a literal set (ADVICE r10):
        // salted-join correctness needs l2 and r2 to observe IDENTICAL
        // hot sets, which three separate evaluations of a sampled
        // aggregate only guaranteed via deterministic recomputation
        // (task retry / plan-layout nondeterminism could in principle
        // diverge the sides and drop pairs). A literal removes the
        // hazard and two extra jobs. When the set is EMPTY (the
        // healthy-corpus common case) take the plain join outright:
        // the salted plumbing (per-row salt + explode over the full
        // segment tables) measured ~1 s of pure overhead at the 10×
        // replica when every bucket was cold.
        val hotKeys: Array[Long] = hot.select(col("hk")).collect().map(_.getLong(0))
        if (hotKeys.isEmpty) segJoin(lkey, rseg, Seq("hk"))
        else {
          val isHot = col("hk").isInCollection(hotKeys)
          val l2 = lkey.withColumn("__salt",
            when(isHot, pmod(xxhash64(col("l_id")), lit(salts))).otherwise(lit(0L)))
          val r2 = rseg.withColumn("__salt", explode(when(isHot,
            sequence(lit(0L), lit(salts - 1L))).otherwise(array(lit(0L)))))
          segJoin(l2, r2, Seq("hk", "__salt"))
        }
      }
    // verify FIRST, dedup LAST: duplicate candidates (a pair matching
    // on both halves / multiple probe lengths) are ≤ 2× the pair
    // count, so re-running the levenshtein on them costs less than
    // an extra exchange of candidate STRINGS — the final distinct
    // then ships only the verified (l_id, r_id, dist) triples
    // (dist is functionally determined by the pair)
    // bounded levenshtein (threshold = 1): the banded DP early-exits
    // at O(threshold·n) per pair instead of O(n²) — ~15× less verify
    // arithmetic at 30-char strings; returns −1 past the bound, which
    // the ≥ 0 guard folds into the same ≤ 1 filter
    joined
      .filter(abs(col("ll") - col("rl")) <= 1)
      .withColumn("dist", levenshtein(col("l_s"), col("r_s"), 1).cast("long"))
      .filter(col("dist") >= 0 && col("dist") <= 1)
      .select(col("l_id"), col("r_id"), col("dist")).distinct()
  }
}
