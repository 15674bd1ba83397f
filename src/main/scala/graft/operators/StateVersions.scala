package graft.operators

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{DataType, StructType}

/** The on-disk protocol of graft's persisted state families, and the
  * ONE module that knows it. A family ([[Ingest]]'s six-table ingest
  * state, [[DupState]]'s four-table dup-cluster state) declares its
  * tables once as a [[Family]] and calls this module to resolve, read,
  * write, guard and retain its versions; a third family starts here.
  *
  * Layout of a state dir:
  *  - `dir/v=N` holds version N. It is PUBLISHED only once its
  *    zero-byte [[CommitMarker]] exists, created LAST: the table
  *    writes of a save are individually atomic but not jointly, so an
  *    unmarked dir (a save in flight, or a crashed one) is invisible;
  *  - a FULL version (bootstrap or rebase) holds every table as a
  *    plain `<t>` dir. A DELTA version holds the family's append
  *    tables as `<t>.d` (one advance's new rows) and its other tables
  *    plain. The family's classifier table is a plain dir only in full
  *    versions, so its presence marks a version full. Every table dir
  *    is plain parquet, read by path; any other file in a version dir
  *    is ignored;
  *  - `dir/_STREAM_TAG` ([[StreamTagMarker]]) pins the dir to the one
  *    stream driving it; it lives outside every version.
  *
  * Rules:
  *  - WRITE ([[writeVersion]]): un-publish (delete the commit marker),
  *    delete the opposite layout's dirs, write the tables
  *    ([[writeAll]]), publish. A crashed full save replayed as a delta
  *    (or the reverse) thus leaves no dir the other read path would
  *    adopt: a stale classifier dir would make a delta a chain base, a
  *    stale `.d` dir would double rows. A crash anywhere leaves the
  *    version unpublished, and its replay rewrites it. ONE writer per
  *    dir: the commit marker fences a crashed and replayed save of a
  *    version, not two live writers;
  *  - READ ([[resolve]], then [[Resolved.chainAt]]): the newest
  *    committed full base ≤ upTo plus the committed deltas above it
  *    ([[chain]]). An append table reads `base/<t>` ∪ every delta's
  *    `<t>.d` (each key lives in exactly one layer under the family's
  *    arrival contract, so no merge); a plain table reads the head. A
  *    resolution is ONE listing of `dir` plus ONE glob of the names the
  *    protocol reads inside the versions;
  *  - RETAIN ([[compact]]): keep the newest `keepLast` committed
  *    versions, sliding the floor DOWN to the retained chain's base so
  *    no delta a load still serves is stranded; refuse loudly when that
  *    base is missing; sweep uncommitted dirs below the newest committed
  *    version (superseded crash debris) once past a grace window;
  *  - STREAM SINKS ([[requireSinkArgs]], [[guardBatch]],
  *    [[rebaseAt]]): batch N loads ≤ N and writes v=N+1, full on a
  *    rebase version and delta otherwise; before anything is written,
  *    every dir's checkpoint arithmetic and then its stream-tag pin
  *    reject a stream whose checkpoint does not match the dir.
  *
  * All path handling goes through the Hadoop FileSystem of the dir's
  * OWN scheme, so `dir` may be local, HDFS or an object store alike.
  */
private[graft] object StateVersions {

  /** Name of the per-version commit marker. A version dir is PUBLISHED
    * only once this zero-byte file exists; no resolution serves an
    * unmarked one.
    */
  val CommitMarker = "_COMMITTED"

  private def fsOf(spark: SparkSession, dir: String): FileSystem =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** A state family's declaration: its `name` (in messages), the
    * `tables` of a full version, the `deltaTables` a delta version
    * writes as `<t>.d` (the others are plain in both layouts) and the
    * `classifier` table whose plain dir marks a full version.
    */
  final case class Family(name: String, tables: Seq[String], deltaTables: Seq[String],
      classifier: String) {
    /** The dir table `t` is written to in a delta or a full version. */
    def tableDir(t: String, delta: Boolean): String =
      if (delta && deltaTables.contains(t)) s"$t.d" else t
    /** What a rewrite into the given layout deletes before writing. */
    private[StateVersions] def stale(delta: Boolean): Seq[String] =
      deltaTables.map(tableDir(_, !delta))
  }

  /** One `v=N` dir as [[resolve]] saw it: committed, full (the
    * classifier's plain dir present), and its modification time.
    */
  final case class Version(v: Long, committed: Boolean, full: Boolean, mtime: Long)

  /** A state dir's versions, ascending, and the family detected from
    * its tables (None when no version holds a candidate family's
    * classifier, plain or `.d`).
    */
  final case class Resolved(spark: SparkSession, fs: FileSystem, dir: String,
      family: Option[Family], versions: Seq[Version]) {
    def committed: Seq[Long] = versions.filter(_.committed).map(_.v)

    /** Uncommitted dirs below the newest committed version: superseded
      * crash debris, or a live below-max rewrite (the mtime tells them
      * apart). Dirs at or above it may be a save in flight.
      */
    def debris: Seq[Version] =
      committed.lastOption.toSeq.flatMap(m => versions.filter(x => !x.committed && x.v < m))

    /** The read chain at `upTo`; None when no committed version ≤ upTo
      * has a committed full base at or below it.
      */
    def chainAt(upTo: Long = Long.MaxValue): Option[Chain] =
      chain(committed.filter(_ <= upTo).toArray, versions.filter(_.full).map(_.v).toSet)
        .map { case (head, base, deltas) => Chain(this, head, base, deltas) }

    /** [[chainAt]] for a load: fails loudly with `none` when no
      * committed version ≤ upTo exists, and names the missing base when
      * the newest one has none.
      */
    def loadChain(upTo: Long, none: => String): Chain = {
      val vs = committed.filter(_ <= upTo)
      require(vs.nonEmpty, none)
      val c = chainAt(upTo)
      require(c.nonEmpty,
        s"version ${vs.max} under $dir is a delta with no full base ≤ $upTo — the chain's " +
          "bootstrap/rebase base is missing (compacted externally?); rebuild a base with a full save")
      c.get
    }
  }

  /** A resolved read chain: `head`, its full `base` and the `deltas`
    * between them, ascending.
    */
  final case class Chain(r: Resolved, head: Long, base: Long, deltas: Seq[Long]) {
    /** Append table `t`'s layers, base first, with their versions. */
    def layers(t: String): Seq[(Long, String)] =
      (base -> s"${r.dir}/v=$base/$t") +: deltas.map(v => v -> s"${r.dir}/v=$v/$t.d")
    /** Append table `t`: the union of its layers. */
    def read(t: String): DataFrame = readParquet(r.spark, layers(t).map(_._2): _*)
    /** Plain table `t`, read from the head alone. */
    def readHead(t: String): DataFrame = readParquet(r.spark, s"${r.dir}/v=$head/$t")
  }

  private val VersionDir = "^v=(\\d+)$".r

  private def readString(fs: FileSystem, p: Path): String = {
    val in = fs.open(p)
    try new String(org.apache.hadoop.io.IOUtils.readFullyToByteArray(in), "UTF-8")
    finally in.close()
  }

  /** Resolve `dir` against the candidate `families` in ONE listing of
    * the dir (every `v=N`, with its mtime) plus ONE glob of the names
    * the protocol reads inside them: the commit marker and each
    * family's classifier (plain and `.d`). A missing dir is an
    * empty family (first-ever bootstrap), not an error.
    */
  def resolve(spark: SparkSession, dir: String, families: Family*): Resolved = {
    val fs = fsOf(spark, dir)
    val dirs = (try fs.listStatus(new Path(dir)).toSeq
      catch { case _: java.io.FileNotFoundException => Nil })
      .flatMap { st =>
        val name = st.getPath.getName
        VersionDir.findFirstMatchIn(name).map(m => (m.group(1).toLong, name, st.getModificationTime))
      }.sortBy(_._1)
    val names = (CommitMarker +: families.flatMap(f =>
      Seq(f.classifier, s"${f.classifier}.d"))).distinct
    // globStatus may return null (not empty) on some FS when nothing matches
    val found = if (dirs.isEmpty) Map.empty[String, Set[String]]
      else Option(fs.globStatus(new Path(s"$dir/v=*/{${names.mkString(",")}}")))
        .getOrElse(Array.empty).toSeq
        .groupBy(_.getPath.getParent.getName)
        .map { case (v, sts) => v -> sts.map(_.getPath.getName).toSet }
    val family = families.find(f =>
      found.values.exists(n => n(f.classifier) || n(s"${f.classifier}.d")))
    val versions = dirs.map { case (v, name, mtime) =>
      val n = found.getOrElse(name, Set.empty[String])
      Version(v, n(CommitMarker), family.exists(f => n(f.classifier)), mtime)
    }
    Resolved(spark, fs, dir, family, versions)
  }

  /** Resolve the read chain over an already-`≤ upTo`-filtered
    * committed version set: (head, newest full base ≤ head, committed
    * delta versions between base and head, ascending). None when no
    * full base exists under the head.
    */
  def chain(versions: Array[Long], fulls: Long => Boolean): Option[(Long, Long, Seq[Long])] =
    if (versions.isEmpty) None
    else {
      val head = versions.max
      versions.filter(fulls).maxOption.map { base =>
        (head, base, versions.filter(_ > base).sorted.toSeq)
      }
    }

  /** The key under which Spark stores a written frame's schema in every
    * parquet footer (Spark's `ParquetReadSupport.SPARK_METADATA_KEY`).
    */
  private val SparkRowMetadata = "org.apache.spark.sql.parquet.row.metadata"

  /** The schema `spark.read.parquet(paths: _*)` infers, read by this
    * call rather than a Spark job. Spark (no summary files, no
    * `mergeSchema`) takes it from ONE footer — a data file of the
    * first path that has one — and launches a one-task job to read it;
    * a state load reads up to a dozen table dirs, so those jobs were a
    * fixed per-batch cost. Every
    * data file of one Spark write carries the same schema, so the
    * lexicographically first file of that path stands for all of them.
    * A footer without Spark's schema (a file not written by Spark)
    * falls back to Spark's own inference.
    */
  def parquetSchema(spark: SparkSession, paths: Seq[String]): StructType = {
    val conf = spark.sparkContext.hadoopConfiguration
    val first = paths.iterator.map(new Path(_)).flatMap { p =>
      val fs = p.getFileSystem(conf)
      if (!fs.exists(p)) None
      else fs.listStatus(p).filter { st =>
        val n = st.getPath.getName
        st.isFile && !n.startsWith("_") && !n.startsWith(".")
      }.sortBy(_.getPath.getName).headOption
    }.nextOption()
    val json = first.flatMap { st =>
      val reader = ParquetFileReader.open(HadoopInputFile.fromStatus(st, conf))
      try Option(reader.getFileMetaData.getKeyValueMetaData.get(SparkRowMetadata))
      finally reader.close()
    }
    json.flatMap(j => scala.util.Try(DataType.fromJson(j)).toOption)
      .collect { case s: StructType => s }
      .getOrElse(spark.read.parquet(paths: _*).schema)
  }

  /** `spark.read.parquet(paths: _*)` with its schema from
    * [[parquetSchema]]: same rows, same column types, no inference job.
    */
  def readParquet(spark: SparkSession, paths: String*): DataFrame =
    spark.read.schema(parquetSchema(spark, paths)).parquet(paths: _*)


  /** Write `dir/v=version` of `family` in the delta or the full layout
    * (see the module rules): un-publish, delete [[Family.stale]], write
    * every `(table, frame)` as plain parquet concurrently, and publish
    * last.
    */
  def writeVersion(family: Family, dir: String, version: Long, delta: Boolean,
      tables: Seq[(String, DataFrame)]): Unit = {
    val base = s"$dir/v=$version"
    val fs = fsOf(tables.head._2.sparkSession, base)
    val marker = new Path(s"$base/$CommitMarker")
    if (fs.exists(marker)) fs.delete(marker, false)
    family.stale(delta).foreach { s =>
      val p = new Path(s"$base/$s")
      if (fs.exists(p)) fs.delete(p, true)
    }
    writeAll(tables.map { case (t, df) =>
      () => df.write.mode("overwrite").parquet(s"$base/${family.tableDir(t, delta)}")
    })
    fs.create(marker, true).close()
  }

  /** One-time migration for a family written BEFORE the commit-marker
    * protocol existed: publish each unmarked version whose full-layout
    * tables ALL carry a parquet `_SUCCESS` (every write completed through
    * its committer); anything less stays invisible, like a crashed save.
    * Full layout only, and that is exhaustive: the delta layout
    * postdates the marker protocol. Returns the versions published.
    */
  def adoptLegacy(spark: SparkSession, dir: String, family: Family): Seq[Long] = {
    val r = resolve(spark, dir, family)
    val adopted = r.versions.filterNot(_.committed).map(_.v).filter(v =>
      family.tables.forall(t => r.fs.exists(new Path(s"$dir/v=$v/$t/_SUCCESS"))))
    adopted.foreach(v => r.fs.create(new Path(s"$dir/v=$v/$CommitMarker"), true).close())
    adopted
  }

  /** Run one version's table writes CONCURRENTLY from a transient
    * driver-side pool (one thread per table, ≤ 6): the tables of a
    * save are independent actions over already-staged inputs, and
    * running them sequentially leaves the cluster idle through every
    * write's task tail and commit protocol — the scheduler happily
    * back-fills executors with the next write's tasks (optimization
    * guide §2.6). Threads only reorder the writes BETWEEN
    * [[writeVersion]]'s un-publish and publish; the commit marker still
    * goes last, after every write returned, so crash atomicity is
    * exactly the sequential protocol's. Any failure propagates after
    * all writes settle — the version stays unpublished, as before.
    * Spark actions are thread-safe by contract; each write targets its
    * own table dir, so no two tasks share mutable state.
    */
  def writeAll(writes: Seq[() => Unit]): Unit = {
    if (writes.sizeIs <= 1) writes.foreach(_.apply())
    else {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(writes.size)
      try {
        val futures = writes.map(w => pool.submit(new java.util.concurrent.Callable[Unit] {
          def call(): Unit = w()
        }))
        // await ALL before propagating, so the marker-last invariant
        // holds even on partial failure (no write races past publish).
        // An InterruptedException counts as a failure but must NOT
        // abort the drain (r17 advice: pool.shutdown() does not cancel
        // in-flight writes, so an early unwind would let them race past
        // the caller under the unpublished version); the interrupt flag
        // is restored after the drain.
        var interrupted = false
        val errs = futures.flatMap(f =>
          try { f.get(); None }
          catch {
            case e: java.util.concurrent.ExecutionException => Some(e.getCause)
            case e: InterruptedException => interrupted = true; Some(e)
          })
        if (interrupted) Thread.currentThread().interrupt()
        errs.headOption.foreach(throw _)
      } finally pool.shutdown()
    }
  }

  /** Local properties leg `b` of [[par2]] takes from the caller. Pool
    * threads are reused and inherit the properties of whichever thread
    * created them, so the leg sets these explicitly (and restores them
    * on exit); a property the caller lacks is cleared on the leg. The
    * job group matters most: a stream's `query.stop()` cancels its
    * run's job group, which must reach both legs' jobs. The SQL
    * execution and stream ids attribute the leg's jobs to the caller's
    * query and micro-batch instead of the batch that created the thread.
    */
  private val CarriedProperties = Seq("spark.jobGroup.id", "spark.job.description",
    "spark.job.interruptOnCancel", "spark.job.tags",
    "spark.sql.execution.id", "spark.sql.execution.root.id",
    "streaming.sql.batchId", "sql.streaming.queryId")

  private val par2Calls = new java.util.concurrent.atomic.AtomicLong

  /** Run two independent legs CONCURRENTLY (guide §2.6: overlap
    * independent jobs) and return both results: `a` on the calling
    * thread, `b` on a pool thread. Used by the two-family daily cycle
    * (q131/q134/q135 and `EventStream.dailyCycleStream`'s sink), whose
    * ingest and dup-cluster advances read neither the other's state,
    * and by q127/q129. Any ORDERED step (the documented ingest-before-
    * dup save order) stays OUTSIDE the legs — see the call sites.
    *
    * Leg `b` runs under the caller's Spark context: the active session
    * and the [[CarriedProperties]]. Each leg runs in its OWN FAIR pool
    * (GraftSession pins spark.scheduler.mode=FAIR): under FIFO a leg
    * whose jobs fill every core starves the other until its own task
    * tail. Pool and tag properties are inherited by threads a leg
    * creates, so a nested [[writeAll]] stays in its leg's pool and
    * under its leg's tag.
    *
    * Never returns with a leg still running, and never waits forever
    * on a doomed one. Each leg's jobs carry a job tag of their own;
    * once either leg fails, the other leg's jobs are cancelled by tag
    * (again every 100 ms, until it settles, so a job it starts later
    * is cancelled too) and then awaited. An interrupt of the calling
    * thread (`query.stop()` interrupts the stream thread) dooms the
    * call the same way: the await keeps draining, as [[writeAll]]'s
    * does, and the interrupt flag is restored afterwards. The first
    * failure is rethrown with the others attached as suppressed. A
    * cancelled mid-write version stays unpublished (marker last).
    */
  def par2[A, B](a: => A, b: => B): (A, B) = {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration._
    import scala.util.{Failure, Success, Try}
    val session = SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
    val sc = session.map(_.sparkContext)
    val carried = CarriedProperties.map(k => k -> sc.map(_.getLocalProperty(k)).orNull)
    val call = par2Calls.incrementAndGet()
    val (tagA, tagB) = (s"graft-par2-$call-a", s"graft-par2-$call-b")
    // the failure that doomed the call: whichever leg (or an interrupt)
    // failed first — the other leg's cancellation is only its echo
    val first = new java.util.concurrent.atomic.AtomicReference[Throwable]
    def attempt[T](body: => T): Try[T] =
      try Success(body)
      catch { case t: Throwable => first.compareAndSet(null, t); Failure(t) }
    // set/restore: the carried properties, the leg's pool and its tag
    def leg[T](pool: String, tag: String)(body: => T): T = sc match {
      case None => body
      case Some(c) =>
        val props = carried :+ ("spark.scheduler.pool" -> pool)
        val prev = props.map { case (k, _) => k -> c.getLocalProperty(k) }
        props.foreach { case (k, v) => c.setLocalProperty(k, v) }
        c.addJobTag(tag)
        try body
        finally prev.foreach { case (k, v) => c.setLocalProperty(k, v) }
    }
    def cancel(tag: String): Unit = sc.foreach(
      _.cancelJobsWithTag(tag, "par2: the other leg failed or the caller was interrupted"))
    val aSettled = new java.util.concurrent.CountDownLatch(1)
    val fb = Future {
      val prevSession = SparkSession.getActiveSession
      session.foreach(SparkSession.setActiveSession)
      try attempt(leg("graft-par2-b", tagB)(b))
      finally prevSession.fold(SparkSession.clearActiveSession())(SparkSession.setActiveSession)
    }(ExecutionContext.global)
    // b failed while a still runs: cancel a's jobs until a settles
    fb.foreach { rb =>
      if (rb.isFailure) while ({ cancel(tagA); !aSettled.await(100, MILLISECONDS) }) ()
    }(ExecutionContext.global)
    val ra = try attempt(leg("graft-par2-a", tagA)(a)) finally aSettled.countDown()
    var interrupted = ra.failed.toOption.exists(_.isInstanceOf[InterruptedException])
    var rb: Option[Try[B]] = None
    while (rb.isEmpty) {
      if (first.get != null) cancel(tagB)
      try rb = Await.ready(fb, 100.millis).value.map(_.flatten)
      catch {
        case _: java.util.concurrent.TimeoutException =>
        case e: InterruptedException => interrupted = true; first.compareAndSet(null, e)
      }
    }
    if (interrupted) Thread.currentThread().interrupt()
    Option(first.get) match {
      case None => (ra.get, rb.get.get)
      case Some(e) =>
        (ra.failed.toOption ++ rb.get.failed.toOption).filter(_ ne e).foreach(e.addSuppressed)
        throw e
    }
  }

  /** Retention + debris sweep (the module's RETAIN rule): keep the
    * newest `keepLast` committed versions, sliding the floor DOWN to the
    * retained chain's full base; refuse loudly when the retained floor
    * has no committed base at or below it (the chain is already
    * unreadable — deleting the remaining versions would destroy the
    * forensic evidence). Uncommitted dirs below the newest committed
    * version are swept unless modified within `debrisGraceMs` (a live
    * below-max time-travel rewrite is positionally identical to debris
    * — a save keeps the dir mtime fresh for the whole rewrite); dirs at
    * or above it may be another attempt's in-flight write and are left
    * alone. Returns the versions deleted. `keepLast ≥ 1`: compacting
    * away every version would turn the next advance into a silent
    * re-bootstrap.
    */
  def compact(spark: SparkSession, dir: String, keepLast: Int, family: Family,
      debrisGraceMs: Long): Seq[Long] = {
    require(keepLast >= 1,
      s"keepLast must be ≥ 1 (was $keepLast): an empty state dir re-bootstraps silently")
    val r = resolve(spark, dir, family)
    val drop = r.committed.takeRight(keepLast).headOption match {
      case None => Nil
      case Some(floor) =>
        val chainFloor = r.chainAt(floor).map(_.base)
        require(chainFloor.nonEmpty,
          s"retained floor v=$floor under $dir is a delta with no committed full base ≤ it — " +
            "the chain is unreadable (base removed externally?); refusing to compact; " +
            "rebuild a base with a full save first")
        r.committed.filter(_ < chainFloor.get)
    }
    val cutoff = System.currentTimeMillis() - debrisGraceMs
    val gone = (drop ++ r.debris.filter(_.mtime <= cutoff).map(_.v)).sorted
    gone.foreach(v => r.fs.delete(new Path(s"$dir/v=$v"), true))
    gone
  }

  /** The stream sinks' argument checks. `keepLast ≥ 2` is stricter than
    * [[compact]]'s own ≥ 1: a replayed batch N reads version ≤ N, and
    * after batch N's own compaction the two newest versions are
    * {N, N+1} — keepLast = 1 would turn the next crash-replay into a
    * loud failure. Each named rebase cadence must be ≥ 1.
    */
  def requireSinkArgs(keepLast: Option[Int], cadences: (String, Option[Int])*): Unit = {
    keepLast.foreach(n => require(n >= 2,
      s"keepLast must be ≥ 2 for the stream sink (was $n): a crash-replay of batch N loads " +
        "version ≤ N, which keepLast = 1 compacts away right after N commits"))
    cadences.foreach { case (name, c) => c.foreach(r => require(r >= 1,
      s"$name must be ≥ 1 (was $r); 1 = rebase every batch (full saves)")) }
  }

  /** Whether a sink writes `version` as a full rebase: every version
    * when the cadence is None, else every `every`-th.
    */
  def rebaseAt(version: Long, every: Option[Int]): Boolean = every.forall(version % _ == 0)

  /** The stream sinks' per-batch guard over the dirs they write: resolve
    * each dir ONCE (the resolution then serves the batch's load), run
    * EVERY dir's [[requireCheckpointMatch]] and only then pin each dir
    * to the stream ([[requireStreamTag]], when a `streamTag` is given):
    * an arithmetic rejection on any dir must not adopt a tag on its way
    * out and pin a dir to the wrong stream (ADVICE r16). Returns the
    * resolutions, in order.
    */
  def guardBatch(spark: SparkSession, batchId: Long, streamTag: Option[String],
      dirs: (Family, String)*): Seq[Resolved] = {
    val rs = dirs.map { case (f, d) => f -> resolve(spark, d, f) }
    rs.foreach { case (f, r) => requireCheckpointMatch(r, batchId, f.name) }
    streamTag.foreach { t =>
      val tag = tagFromCheckpoint(spark, t)
      rs.foreach { case (f, r) => requireStreamTag(spark, r.dir, tag, f.name) }
    }
    rs.map(_._2)
  }

  /** The checkpoint guard (ADVICE r14): a batch N loads `≤ N` and writes
    * v=N+1, so in any legitimate run the dir's MAX committed version is
    * at most batchId + 1 (equal only when replaying a batch whose save
    * committed before the checkpoint did). A FRESH checkpoint (batch
    * ids restarting at 0) against an already-advanced chain violates
    * this — without the guard it would silently overwrite low versions
    * while higher committed versions remain, and a later default load
    * would read a head mixing two histories. Empty dirs pass through:
    * the family's own load raises the bootstrap error.
    *
    * RESIDUAL ONE-ADVANCE HOLE (ADVICE r15): version arithmetic alone
    * cannot reject a fresh checkpoint's batch 0 against a chain
    * advanced exactly ONCE — max committed = 1 ≤ batchId + 1 is
    * indistinguishable from a legitimate replay of batch 0. The
    * `streamTag` pin ([[requireStreamTag]]) closes it.
    */
  private def requireCheckpointMatch(r: Resolved, batchId: Long, family: String): Unit =
    r.committed.lastOption.foreach { m =>
      require(m <= batchId + 1,
        s"$family state dir ${r.dir} has committed version v=$m but this stream is at batch " +
          s"$batchId (writes v=${batchId + 1}) — the streaming checkpoint does not match the " +
          "state dir's history (fresh checkpoint against an advanced chain?). Writing would " +
          "overwrite low versions while higher committed versions remain, leaving a head that " +
          "mixes two histories. Resume with the original checkpoint, or point the sink at a " +
          "state dir bootstrapped at v=0")
    }

  /** Name of the optional per-dir stream-identity marker. */
  val StreamTagMarker = "_STREAM_TAG"

  /** The raw content of `dir`'s stream-tag marker, if present (empty
    * when an adoption crashed before the rename-based publish existed).
    */
  def readStreamTag(fs: FileSystem, dir: String): Option[String] = {
    val p = new Path(s"$dir/$StreamTagMarker")
    if (!fs.exists(p)) None else Some(readString(fs, p))
  }

  /** Resolve a sink's `streamTag` (documented: the checkpoint
    * location) to the identity actually pinned: the checkpoint's own
    * query id — the UUID Spark writes to `<ckpt>/metadata` when a
    * query FIRST starts on that location, stable across legitimate
    * restarts of the same checkpoint and REGENERATED when the dir is
    * deleted and recreated at the same path. Pinning
    * `<location>#<queryId>` therefore rejects BOTH misdirection
    * classes on their first batch: a fresh checkpoint at a different
    * location (path differs) and a deleted-and-recreated checkpoint at
    * the SAME path (query id differs) — exactly the "operator wiped
    * the corrupt checkpoint dir" mistake the arithmetic guard's
    * one-advance hole used to readmit (VERDICT r16 #3). The metadata
    * file exists by the time any foreachBatch runs (StreamExecution
    * writes it before batch 0); if `tag` is not a live checkpoint
    * location (no readable `metadata`, e.g. a plain label) the raw
    * string is pinned as before, which keeps location-level protection
    * only.
    */
  def tagFromCheckpoint(spark: SparkSession, tag: String): String = {
    val p = new Path(s"$tag/metadata")
    val idPattern = """"id"\s*:\s*"([0-9a-fA-F-]+)"""".r
    try {
      val fs = fsOf(spark, tag)
      if (!fs.exists(p)) tag
      else idPattern.findFirstMatchIn(readString(fs, p)).map(m => s"$tag#${m.group(1)}")
        .getOrElse(tag)
    } catch { case _: java.io.IOException => tag }
  }

  /** Pin a state dir to ONE driving stream, closing
    * [[requireCheckpointMatch]]'s residual one-advance hole: the first
    * guarded batch writes `tag` (the sink passes
    * [[tagFromCheckpoint]]'s `<location>#<queryId>` resolution) to
    * [[StreamTagMarker]] at the dir root; every later guarded batch
    * must present the SAME tag, so a fresh checkpoint — at another
    * location OR recreated at the same path (the query id regenerates)
    * — is rejected on its very first batch, no version arithmetic
    * involved. Adoption is first-writer (an existing pre-tag chain
    * adopts the next guarded stream's tag). The marker publish is
    * crash-invisible like the version commits: written to a temp path
    * and renamed into place, and an empty marker (a crash before any
    * rename-based protocol existed, or a truncated copy) is treated as
    * ABSENT and rewritten rather than pinning every future batch to
    * `''`. The marker is version-dir-external, so compaction and the
    * `v=N` listing never touch it.
    */
  def requireStreamTag(spark: SparkSession, dir: String, tag: String,
      family: String): Unit = {
    val fs = fsOf(spark, dir)
    val p = new Path(s"$dir/$StreamTagMarker")
    readStreamTag(fs, dir).filter(_.nonEmpty) match {
      case None =>
        val tmp = new Path(s"$dir/.${StreamTagMarker}.tmp")
        val out = fs.create(tmp, true)
        try out.write(tag.getBytes("UTF-8")) finally out.close()
        fs.delete(p, false) // clear an empty marker so the rename lands
        require(fs.rename(tmp, p),
          s"could not publish $p — two writers adopting one state dir violates the " +
            "one-writer-per-dir discipline")
      case Some(e) =>
        require(e == tag,
          s"$family state dir $dir is pinned to stream '$e' but this stream presents " +
            s"'$tag' — a different checkpoint is driving the same state dir, and its batch " +
            "ids would rewrite committed versions from another history. Resume with the " +
            "original checkpoint, or bootstrap a new state dir")
    }
  }
}
