package graft

import org.apache.spark.sql.SparkSession

/** Tuned SparkSession factory for the graft engine, parameterized by
  * a deployment [[GraftSession.Profile]] — the knobs every operator
  * docstring's "at 100 TB" claim depends on, encoded as runnable
  * config instead of prose (PLANS.md carries the knob → operator
  * mapping table).
  *
  * Two published profiles:
  *  - [[GraftSession.Local32]] — the test/bench harness: one JVM,
  *    32 threads, SF ≤ 1 parquet under /root/testdata or /tmp.
  *  - [[GraftSession.Cluster1000]] — the 100 TB deployment shape the
  *    operator docstrings argue for: ~1000 executors × 4 cores.
  *    Partition counts scale with cores (AQE coalesces the excess),
  *    broadcast stays dimension-sized (executor memory is bigger but
  *    the driver still ships every broadcast), scan splits grow to
  *    amortize footer/task overhead on object storage, and the
  *    skew/salting knobs engage at hot-bucket sizes that would
  *    actually stall a task (not at local-test sizes).
  */
object GraftSession {

  /** Deployment knobs. Spark confs are applied by [[tune]]; the
    * operator-level values (buckets, salts, thresholds, IVF sizing)
    * are the recommended arguments for the corresponding operators —
    * pulled by callers, not ambient state, so a query's behavior is
    * explicit at the call site.
    *
    * @param shufflePartitions   2× total cores — enough parallelism
    *                            for the largest shuffle; AQE coalesces
    *                            small stages back down
    * @param broadcastBytes      auto-broadcast cap: dimension tables
    *                            and bounded aggregates only — a
    *                            broadcast costs driver memory × sites
    * @param maxPartitionBytes   parquet scan split target; larger on a
    *                            cluster to amortize task startup and
    *                            object-store round trips
    * @param openCostBytes       modeled cost of opening one file /
    *                            starting one split — the FLOOR on
    *                            split size (Spark caps splits at
    *                            max(openCost, bytes/cores)). Local
    *                            NVMe opens are ~free, so a small
    *                            floor lets a 32-core box parallelize
    *                            the 5-50 MB files the harness reads;
    *                            object-store GETs are not, so the
    *                            cluster floor is 4× the default
    * @param lakeBuckets         Lake.writeBucketed bucket count —
    *                            sized so one bucket ≈ one task's
    *                            comfortable input (≈ corpus / (cores × 2))
    * @param salts               hot-bucket spread factor for salted
    *                            joins (q44 LSH, fuzzyJoin1): a hot
    *                            cell's work lands on this many tasks
    * @param hotBucketThreshold  rows in one join cell before salting
    *                            engages — below it, salting only adds
    *                            a shuffle column
    * @param ivfCellFloor        minimum IVF centroid spacing; spacing
    *                            = max(floor, largest pow2 ≤ √n) keeps
    *                            k-means training O(n^1.5) and cells
    *                            probe-sized (Similarity.ivfCentroidEvery)
    */
  final case class Profile(
      name: String,
      shufflePartitions: Int,
      broadcastBytes: Long,
      maxPartitionBytes: Long,
      openCostBytes: Long,
      lakeBuckets: Int,
      salts: Int,
      hotBucketThreshold: Long,
      ivfCellFloor: Int)

  /** The local[32] harness profile — what every gate/bench runs. */
  val Local32: Profile = Profile(
    name = "local32",
    shufflePartitions = 32,
    broadcastBytes = 64L * 1024 * 1024,
    maxPartitionBytes = 128L * 1024 * 1024,
    openCostBytes = 1L * 1024 * 1024,
    lakeBuckets = 8,
    salts = 4,
    hotBucketThreshold = 5000L,
    ivfCellFloor = 16)

  /** The 1000-executor × 4-core deployment shape (100 TB corpus).
    * 8192 shuffle partitions ≈ 2× cores (a 100 TB shuffle lands
    * ~12 GB per partition pre-AQE — AQE's skew split and coalesce
    * adjust both tails at runtime); 10^6-row hot-bucket threshold =
    * the point where one cell's verify work (~minutes) dominates a
    * task; 32-way salt caps any cell at ~3% of a straggler.
    *
    * The cluster submit sets `spark.checkpoint.dir` (a reliable,
    * shared store): staging (`Dedup.stageEager`) checkpoints there so
    * a lost executor is recomputed from the checkpoint, never
    * job-fatal, and refuses to run under this profile without it.
    */
  val Cluster1000: Profile = Profile(
    name = "cluster1000",
    shufflePartitions = 8192,
    broadcastBytes = 128L * 1024 * 1024,
    maxPartitionBytes = 512L * 1024 * 1024,
    openCostBytes = 16L * 1024 * 1024,
    lakeBuckets = 4096,
    salts = 32,
    hotBucketThreshold = 1000000L,
    ivfCellFloor = 64)

  /** The Spark confs a profile pins (pure — spec-testable without
    * building a session). Engine-behavior confs (AQE, pushdown,
    * codegen'd extensions, UTC) are profile-independent: they are
    * correctness/optimizer posture, not sizing.
    */
  def confs(p: Profile): Map[String, String] = Map(
    // the active profile's name rides in the session conf so operator
    // call sites can pull the matching operator-level knobs (salts,
    // buckets, thresholds) via [[profileOf]] — one source of truth
    // from sbt test to the 1000-executor submit
    "spark.graft.profile" -> p.name,
    "spark.sql.extensions" -> "graft.GraftExtensions",
    // FAIR job scheduling (guide §2.6): the engine overlaps independent
    // jobs inside one application — StateVersions.par2's legs (the
    // daily-cycle sink EventStream.dailyCycleStream and the
    // q127/q129/q131/q134/q135 catalog entries) and
    // StateVersions.writeAll's concurrent table writes. Under FIFO a
    // leg whose jobs fill every core starves the other leg until its
    // own tail; FAIR round-robins the concurrent jobs so both legs
    // progress (sequential queries are unaffected — one job at a time
    // schedules identically under both). SparkContext-level conf, so
    // it must ride the builder, not a session toggle.
    "spark.scheduler.mode" -> "FAIR",
    // FileOutputCommitter v2 (task commits rename straight into the
    // destination; job commit is O(1) instead of a driver-side
    // sequential merge of every task/partition dir): the engine's
    // write surface is many small parquet writes — 4-6 state tables
    // per version plus cent_id-partitioned IVF cell trees (~600 dirs
    // at sf0.1) — where v1's job-commit merge is pure driver latency.
    // Visibility-on-crash semantics are NOT load-bearing here: every
    // state-version read is gated by StateVersions' _COMMITTED marker
    // (written after all table writes return), and the IVF tree is
    // single-maintainer by contract and rebuilt after a failed append
    // (Similarity.appendIvfIndex's crash model). At cluster scale an
    // object-store deployment replaces this with the store's manifest
    // committer anyway; speculative execution stays off.
    "spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version" -> "2",
    // reliable-checkpoint files (staging when spark.checkpoint.dir is
    // set) are deleted by the ContextCleaner once their RDD is
    // unreachable — the lifetime local-checkpoint blocks already have —
    // instead of piling up in the dir for the application's lifetime.
    // SparkContext-level conf, like the scheduler mode.
    "spark.cleaner.referenceTracking.cleanCheckpoints" -> "true",
    // Spark's JVM-wide LRU cache of compiled whole-stage-codegen classes
    // (default 100 entries) sized to the engine's working set, so each
    // generated class is compiled once per JVM instead of once per
    // eviction (Janino, ~26 ms per class). Distinct classes, counted
    // with a cache that never evicts, at sf0.01: corpus_dedup's 5 entries
    // 329, one daily_cycle day 327, interactive_sql's 53 entries 1,102, the
    // full 149-entry catalog (graft.Verify) 3,353; pinned at the next
    // power of two ≥ 1.25× the catalog's. A static conf read once, when
    // CodeGenerator is first used: it takes effect only if no codegen
    // runs before the tuned session exists, so it rides the builder.
    "spark.sql.codegen.cache.maxEntries" -> "8192",
    "spark.sql.shuffle.partitions" -> p.shufflePartitions.toString,
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.adaptive.coalescePartitions.enabled" -> "true",
    "spark.sql.adaptive.skewJoin.enabled" -> "true",
    "spark.sql.autoBroadcastJoinThreshold" -> p.broadcastBytes.toString,
    "spark.sql.files.maxPartitionBytes" -> p.maxPartitionBytes.toString,
    "spark.sql.files.openCostInBytes" -> p.openCostBytes.toString,
    "spark.sql.parquet.filterPushdown" -> "true",
    "spark.sql.parquet.aggregatePushdown" -> "true",
    // PIN the (already-default) runtime row-level Bloom pruning for
    // large shuffle joins — the injected complement of q68's explicit
    // bitmap pre-filter; pinned so a deployment profile that disables
    // it doesn't silently cost the fact-fact joins (dedup verify,
    // decontamination) at lake scale
    "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
    // events.parquet carries TIMESTAMP(NANOS) which vanilla Spark
    // rejects; read as long nanos and convert explicitly (Tables).
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.ui.enabled" -> "false")

  /** Published profiles by name (the `spark.graft.profile` values). */
  val profiles: Map[String, Profile] =
    Seq(Local32, Cluster1000).map(p => p.name -> p).toMap

  /** The profile the session was tuned with — how operator call sites
    * consume the operator-level knobs (salts, lakeBuckets,
    * hotBucketThreshold, ivfCellFloor) instead of hardcoding them.
    * Sessions built outside [[tune]] default to [[Local32]].
    */
  def profileOf(spark: SparkSession): Profile =
    spark.conf.getOption("spark.graft.profile").flatMap(profiles.get).getOrElse(Local32)

  /** Apply a profile's confs to any builder (default: the harness). */
  def tune(b: SparkSession.Builder, p: Profile = Local32): SparkSession.Builder =
    confs(p).foldLeft(b) { case (bb, (k, v)) => bb.config(k, v) }

  def local(cores: Int = 32, appName: String = "graft"): SparkSession = {
    val s = tune(SparkSession.builder().master(s"local[$cores]").appName(appName)).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
