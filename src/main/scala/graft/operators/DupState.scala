package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted near-dup CLUSTER state — the [[Dedup.clusterStateAdvance]]
  * operator as a versioned on-disk subsystem, so a daily ingest can
  * maintain duplicate-cluster assignments across batches without ever
  * re-shingling the corpus or re-running CC over the full dup graph.
  *
  * Four tables (the LSH working set plus the assignment):
  *  - `bands` (doc_id, band, bh): each doc's MinHash band keys — what
  *    candidate generation joins on;
  *  - `ngr`   (doc_id, ng): each doc's distinct hashed shingles — what
  *    exact-Jaccard verification intersects. A per-doc ARRAY layout
  *    (~200× fewer rows, hypothesized r14 as the cure for the
  *    subsystem's last corpus-growth term) was built and MEASURED
  *    (probe since deleted, 200k/500k docs, identical outputs): the
  *    advance is a wash (13.27 vs 13.22 s at 500k) and the bootstrap
  *    is 1.7× SLOWER (its three consumers re-explode the array the
  *    exploded layout reads materialized) — the broadcast-filtered
  *    scan is value-dominated, not row-count-dominated, so the
  *    exploded layout stays;
  *  - `sizes` (doc_id, nn): shingle-set sizes — the Jaccard denominator;
  *  - `comp`  (doc_id, cluster_id): the min-label assignment over docs
  *    incident to at least one verified near-dup edge (q53's contract).
  *
  * The first three are APPEND-ONLY (a batch's docs are new ids — same
  * arrival contract as [[Ingest]]'s append tables), so a delta version
  * writes O(batch). `comp` is the one table an advance can REWRITE
  * (a merge relabels old rows), and it is stored as changed-rows
  * layers: the delta holds only rows whose label changed plus fresh
  * endpoints ([[Dedup.clusterStateAdvanceDelta]]), and the read side
  * merges latest-layer-wins per doc_id. comp's domain is only the
  * near-dup docs (a sliver of the corpus), so the merge-on-read
  * aggregate is bounded by the DUP mass while the O(corpus·shingle)
  * tables never rewrite and never merge.
  *
  * Persistence: versioned parquet under [[StateVersions]], which owns
  * the layout, the commit protocol, chain reads and retention (the
  * same rules as [[Ingest]]'s family).
  *
  * Scale shape of an advance: the batch's shingles/signatures are
  * computed once (batch-sized); candidate pairs come from broadcasting
  * the batch's band keys into ONE scan of the persisted `bands`;
  * verification broadcasts the candidate old-id set into ONE scan of
  * `ngr`/`sizes`; the cluster advance is the [[Dedup.clusterStateAdvance]]
  * quotient (batch-sized CC + broadcast relabel). Nothing O(state)
  * shuffles, nothing O(state) is rewritten, and old text is never
  * re-shingled — the three properties a 100 TB daily dedup needs.
  */
object DupState {

  /** One advance's writes: `bands`/`ngr`/`sizes` are the batch's rows
    * (append), `comp` the changed+new assignment rows.
    */
  final case class DupDeltas(bands: DataFrame, ngr: DataFrame,
      sizes: DataFrame, comp: DataFrame)

  /** The loaded state: append tables as plain unions of their layers;
    * `compLayers` tagged with their version for latest-wins merging.
    */
  final case class LoadedDupState(bands: DataFrame, ngr: DataFrame,
      sizes: DataFrame, compLayers: DataFrame) {
    /** The current assignment: latest layer wins per doc_id (exactly
      * the full advance output, since an unchanged row's old layer
      * still holds). Bounded by the dup-doc domain, not the corpus.
      */
    def comp: DataFrame =
      compLayers.groupBy(col("doc_id"))
        .agg(expr("max_by(cluster_id, layer)").as("cluster_id"))
  }

  /** Batch-side derivations, shared by init and advance: the exploded
    * (doc_id, ng) shingle table (the persisted layout — the MEASURED
    * winner over a per-doc array, see the object scaladoc), set sizes,
    * band keys. Docs shorter than n words carry no row.
    */
  private def derive(docs: DataFrame, id: Column, text: Column, n: Int,
      bands: Int, rowsPerBand: Int): (DataFrame, DataFrame, DataFrame) = {
    val ngr = Dedup.stageEager(docs.select(id.as("doc_id"),
      explode(Dedup.hashedNgrams(docs, text, n)).as("ng")))
    val sizes = Dedup.stageEager(ngr.groupBy(col("doc_id")).agg(count(lit(1)).as("nn")))
    val banded = Dedup.sigBands(ngr, Nil, bands, rowsPerBand)
      .select(col("doc_id"), col("band"), col("bh"))
    (ngr, sizes, banded)
  }

  /** Exact-Jaccard verification of candidate (id_a, id_b) pairs from
    * the two sides' shingle tables — the [[Dedup.minHashLshPairs]]
    * verify stage over explicit inputs.
    *
    * `try_divide`, not `/`: the shingle hashes live in a 31-bit space,
    * so a doc can carry the SAME hash for two different shingles — the
    * intersection join then over-counts and `na + nb - inter` can
    * reach zero on verbatim copies sharing the collision (found by
    * a layout probe at 200k docs, since deleted; GUARANTEED at lake
    * scale). Under ANSI that divided to a job-killing error;
    * try_divide yields NULL → the pair is dropped, exactly what the
    * DuckDB oracle computes (its double division by zero is NULL).
    */
  private def verify(cand: DataFrame, ngrA: DataFrame, ngrB: DataFrame,
      sizesA: DataFrame, sizesB: DataFrame, minJaccard: Double): DataFrame = {
    val inter = cand
      .join(ngrA.select(col("doc_id").as("id_a"), col("ng")), Seq("id_a"))
      .join(ngrB.select(col("doc_id").as("id_b"), col("ng")), Seq("id_b", "ng"))
      .groupBy(col("id_a"), col("id_b")).agg(count(lit(1)).as("inter"))
    inter
      .join(sizesA.select(col("doc_id").as("id_a"), col("nn").as("na")), Seq("id_a"))
      .join(sizesB.select(col("doc_id").as("id_b"), col("nn").as("nb")), Seq("id_b"))
      .filter(try_divide(col("inter").cast("double"),
        col("na") + col("nb") - col("inter")) >= minJaccard)
      .select(col("id_a"), col("id_b"))
  }

  /** Salted band-bucket self-join over one banded table: candidate
    * (id_a < id_b) pairs, a hot (band, key) cell — templated/
    * boilerplate floods — spread over `salts` tasks. Output identical
    * to the unsalted join (only the shuffle layout changes); shared by
    * [[init]] and [[advance]]'s intra-batch leg so the hot-bucket
    * mitigation of the dedupClusters front door carries into both
    * (ADVICE r14).
    */
  private def selfCandidates(banded: DataFrame, salts: Int): DataFrame = {
    val candA = banded.select(col("doc_id").as("id_a"), col("band"), col("bh"))
    val candB = banded.select(col("doc_id").as("id_b"), col("band"), col("bh"))
    val joined =
      if (salts <= 1) candA.join(candB, Seq("band", "bh"))
      else candA.withColumn("__salt", pmod(xxhash64(col("id_a")), lit(salts)))
        .join(candB.withColumn("__salt",
          explode(sequence(lit(0), lit(salts - 1)).cast("array<bigint>"))),
          Seq("band", "bh", "__salt"))
    joined.filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b")).distinct()
  }

  /** The session profile's salt factor — `salts = 0` (the default on
    * [[init]]/[[advance]]) resolves here, so a Cluster1000 session
    * gets its 32-way spread without the call site naming a profile
    * (ADVICE r14: the old default pinned Local32).
    */
  private def resolveSalts(salts: Int, df: DataFrame): Int =
    if (salts > 0) salts else graft.GraftSession.profileOf(df.sparkSession).salts

  /** Bootstrap the four tables from an initial corpus (the one-time
    * O(corpus) pass; every later batch is [[advance]]). The cluster
    * assignment is derived from the SAME staged shingle/band tables the
    * state persists — the corpus is shingled exactly once, and the pair
    * chain is [[Dedup.minHashLshPairs]]' candidate+verify stages over
    * those tables (same band-key format, same salting for hot buckets,
    * so the labels equal the dedupClusters front door's).
    * `salts = 0` resolves to the session profile's factor.
    */
  def init(docs: DataFrame, id: Column, text: Column, n: Int = 3,
      bands: Int = 4, rowsPerBand: Int = 4, minJaccard: Double = 0.5,
      salts: Int = 0): DupDeltas = {
    val (ngr, sizes, banded0) = derive(docs, id, text, n, bands, rowsPerBand)
    val banded = Dedup.stageEager(banded0)
    val cand = selfCandidates(banded, resolveSalts(salts, docs))
    val pairs = verify(cand, ngr, ngr, sizes, sizes, minJaccard)
    val comp = Dedup.connectedComponents(pairs)
    DupDeltas(banded, ngr, sizes, comp)
  }

  /** Advance the persisted state by one batch of NEW docs (ids not in
    * the state — the append arrival contract). Returns the batch's
    * append rows plus the changed-rows comp delta; persistence is the
    * caller's [[saveDelta]] (or [[save]] on a rebase tick, with
    * `comp` = the merged full assignment). The intra-batch self-join
    * is salted like [[init]]'s (`salts = 0` = session profile) — a
    * batch carrying a templated flood would otherwise stall one task
    * on the hot cell; the cross leg needs no salt (the batch's band
    * keys are broadcast, so the state scan never shuffles at all).
    */
  def advance(st: LoadedDupState, docs: DataFrame, id: Column, text: Column,
      n: Int = 3, bands: Int = 4, rowsPerBand: Int = 4,
      minJaccard: Double = 0.5, salts: Int = 0): DupDeltas = {
    val (bNgr, bSizes, bBands0) = derive(docs, id, text, n, bands, rowsPerBand)
    val bBands = Dedup.stageEager(bBands0)
    // cross candidates: broadcast the batch's band keys into ONE scan
    // of the persisted bands table — the state side never exchanges
    val candCross = st.bands
      .join(broadcast(bBands.select(col("doc_id").as("id_a"), col("band"), col("bh"))),
        Seq("band", "bh"))
      .select(col("id_a"), col("doc_id").as("id_b")).distinct()
    // old-side verify inputs: ONE scan of ngr/sizes, filtered by the
    // batch-bounded candidate old-id set (broadcast semi-join)
    val oldIds = candCross.select(col("id_b").as("doc_id")).distinct()
    val oldNgr = st.ngr.join(broadcast(oldIds), Seq("doc_id"))
    val oldSizes = st.sizes.join(broadcast(oldIds), Seq("doc_id"))
    val crossPairs = verify(candCross, bNgr, oldNgr, bSizes, oldSizes, minJaccard)
    // intra candidates: the batch against itself (id_a < id_b),
    // salted like init's corpus self-join
    val candIntra = selfCandidates(bBands, resolveSalts(salts, docs))
    val intraPairs = verify(candIntra, bNgr, bNgr, bSizes, bSizes, minJaccard)
    val edges = crossPairs.unionByName(intraPairs)
    val compDelta = Dedup.clusterStateAdvanceDelta(st.comp, edges)
    DupDeltas(bBands, bNgr, bSizes, compDelta)
  }

  /** Merge a loaded state with one advance's deltas into FULL tables —
    * the rebase write: append tables union; comp latest-wins with the
    * delta as the newest layer (tag Long.MaxValue sorts above any
    * version number).
    */
  def merged(st: LoadedDupState, d: DupDeltas): DupDeltas =
    DupDeltas(st.bands.unionByName(d.bands),
      st.ngr.unionByName(d.ngr),
      st.sizes.unionByName(d.sizes),
      st.compLayers.unionByName(d.comp.withColumn("layer", lit(Long.MaxValue)))
        .groupBy(col("doc_id"))
        .agg(expr("max_by(cluster_id, layer)").as("cluster_id")))

  /** The family's declaration to [[StateVersions]], which owns the
    * on-disk layout: four tables, all written as `<t>.d` by a delta
    * version (comp's delta is a changed-rows layer, merged latest-wins
    * on read); `comp` marks a full version.
    */
  private[graft] val family = StateVersions.Family("dup-cluster",
    tables = Seq("bands", "ngr", "sizes", "comp"),
    deltaTables = Seq("bands", "ngr", "sizes", "comp"), classifier = "comp")

  /** Write a FULL version (bootstrap or rebase) at `dir/v=version`. */
  def save(d: DupDeltas, dir: String, version: Long): Unit =
    StateVersions.writeVersion(family, dir, version, delta = false,
      family.tables.zip(Seq(d.bands, d.ngr, d.sizes, d.comp)))

  /** Write a DELTA version: the advance's append rows and changed-rows
    * comp layer.
    */
  def saveDelta(d: DupDeltas, dir: String, version: Long): Unit =
    StateVersions.writeVersion(family, dir, version, delta = true,
      family.tables.zip(Seq(d.bands, d.ngr, d.sizes, d.comp)))

  /** The stream sinks' save of `version`: `full` (the merged tables,
    * evaluated only then) on a rebase version, else the delta `d`.
    */
  private[graft] def sinkSave(d: DupDeltas, full: => DupDeltas, dir: String, version: Long,
      rebaseEvery: Option[Int]): Unit =
    if (StateVersions.rebaseAt(version, rebaseEvery)) save(full, dir, version)
    else saveDelta(d, dir, version)

  /** Read the state at `upTo` (default: newest committed): append
    * tables as plain multi-dir unions of their layers, comp layered for
    * latest-wins.
    */
  def load(spark: SparkSession, dir: String,
      upTo: Long = Long.MaxValue): (Long, LoadedDupState) =
    loadResolved(StateVersions.resolve(spark, dir, family), upTo)

  /** [[load]] from a resolution the caller already holds. */
  private[graft] def loadResolved(r: StateVersions.Resolved,
      upTo: Long): (Long, LoadedDupState) = {
    val c = r.loadChain(upTo, s"no committed DupState version ≤ $upTo under ${r.dir}")
    val compLayers = c.layers("comp")
      .map { case (v, p) => StateVersions.readParquet(r.spark, p).withColumn("layer", lit(v)) }
      .reduce(_ unionByName _)
    (c.head, LoadedDupState(c.read("bands"), c.read("ngr"), c.read("sizes"), compLayers))
  }

  /** Retention ([[StateVersions.compact]] with this family): keep the
    * newest `keepLast` committed versions, never stranding a retained
    * delta's chain base, and sweep crash debris older than
    * `debrisGraceMs`. Returns the versions deleted.
    */
  def compact(spark: SparkSession, dir: String, keepLast: Int,
      debrisGraceMs: Long = 15 * 60 * 1000L): Seq[Long] =
    StateVersions.compact(spark, dir, keepLast, family, debrisGraceMs)
}
