package graft.operators

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{DataType, StructType}

/** The version/marker/compaction protocol SHARED by the persisted
  * state families — [[Ingest]]'s six-table ingest state and
  * [[DupState]]'s four-table dup-cluster state. Extracted (VERDICT
  * r14 #1) because the protocol had been duplicated: the r13 ADVICE
  * layout-crossover fix had to be hand-mirrored into both copies, and
  * the next protocol bug would have been fixed in one family and not
  * the other. Both families now consume this module; a third state
  * family starts here.
  *
  * The protocol (each family's scaladoc carries the family-specific
  * table layout; the rules below are family-independent):
  *
  *  - a version lives at `dir/v=N` and is PUBLISHED only once its
  *    zero-byte [[CommitMarker]] exists, created LAST — six (or four)
  *    sequential parquet writes are individually atomic but not
  *    jointly, so a crash mid-save must stay invisible;
  *  - a REWRITE un-publishes first (marker deleted), removes the
  *    opposite layout's stale dirs (a crashed full save replayed as a
  *    delta, or vice versa, must not leave dirs the other read path
  *    would adopt), writes tables, re-publishes;
  *  - FULL versions carry plain table dirs (chain bases); DELTA
  *    versions carry `<table>.d` appends;
  *  - reads resolve `newest committed full base ≤ upTo` plus the
  *    committed deltas above it ([[chain]]);
  *  - compaction ([[compact]]) keeps the newest `keepLast` committed
  *    versions, slides the floor DOWN to the retained chain's base
  *    (never strands a delta loadable state still serves), refuses
  *    loudly when that base is missing, and sweeps committed-
  *    superseded crash debris under an mtime grace window;
  *  - ONE writer per dir (the markers fence crashed-and-replayed
  *    saves of the same version, not two live writers).
  *
  * All path handling goes through the Hadoop FileSystem of the dir's
  * OWN scheme, so `dir` may be local, HDFS or an object store alike;
  * marker discovery is one `globStatus` per listing (object-store
  * `exists` calls are HEAD requests — N sequential RPCs per load
  * otherwise).
  */
private[graft] object StateVersions {

  /** Name of the per-version commit marker. A version directory is
    * PUBLISHED only once this zero-byte file exists; [[listVersions]]
    * (and therefore every family's load) never sees an unmarked one.
    */
  val CommitMarker = "_COMMITTED"

  def fsOf(spark: SparkSession, dir: String): FileSystem =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

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

  /** The write prologue every full/delta save runs: un-publish
    * `dir/v=version` (delete its marker — a crash mid-rewrite then
    * un-publishes rather than exposing a mix of old and new tables)
    * and delete the `stale` paths (version-dir-relative) the layout
    * crossover leaves behind. Returns (fs, version dir) for the
    * table writes and [[publish]].
    */
  def beginVersionWrite(spark: SparkSession, dir: String, version: Long,
      stale: Seq[String]): (FileSystem, String) = {
    val base = s"$dir/v=$version"
    val fs = fsOf(spark, base)
    val marker = new Path(s"$base/$CommitMarker")
    if (fs.exists(marker)) fs.delete(marker, false)
    stale.foreach { s =>
      val p = new Path(s"$base/$s")
      if (fs.exists(p)) fs.delete(p, true)
    }
    (fs, base)
  }

  /** Publish a version ATOMICALLY by creating its marker — the last
    * step of every save.
    */
  def publish(fs: FileSystem, base: String): Unit =
    fs.create(new Path(s"$base/$CommitMarker"), true).close()

  /** Run one version's table writes CONCURRENTLY from a transient
    * driver-side pool (one thread per table, ≤ 6): the tables of a
    * save are independent actions over already-staged inputs, and
    * running them sequentially leaves the cluster idle through every
    * write's task tail and commit protocol — the scheduler happily
    * back-fills executors with the next write's tasks (optimization
    * guide §2.6). Threads only reorder the writes BETWEEN
    * [[beginVersionWrite]] and [[publish]]; the commit marker still
    * goes last, after every write returned, so crash atomicity is
    * exactly the sequential protocol's. Any failure propagates after
    * all writes settle — the version stays unpublished, as before.
    * Spark actions are thread-safe by contract; each write targets its
    * own table dir (and, for bucketed writes, its own transient
    * catalog name), so no two tasks share mutable state.
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
    * Leg `b` runs under the caller's Spark context: the active session,
    * the [[CarriedProperties]] and the caller's staging token (a
    * null-token `stageEager` on the pool thread registers blocks that
    * `releaseCompleted` treats as a completed invocation's, so the
    * other leg's scope entries could unpersist them mid-flight). Each
    * leg runs in its OWN FAIR pool (GraftSession pins
    * spark.scheduler.mode=FAIR): under FIFO a leg whose jobs fill every
    * core starves the other until its own task tail. Pool and tag
    * properties are inherited by threads a leg creates, so a nested
    * [[writeAll]] stays in its leg's pool and under its leg's tag.
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
    val tok = Dedup.currentStagingToken
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
      try attempt(leg("graft-par2-b", tagB)(Dedup.withStagingToken(tok)(b)))
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

  /** All `v=N` dirs under `dir` with their committed flag. Markers
    * are fetched in ONE `globStatus` call; a missing dir is an empty
    * family (first-ever bootstrap), not an error.
    */
  def listVersionDirs(spark: SparkSession, dir: String): Array[(Long, Boolean)] = {
    val path = new Path(dir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(path)) Array.empty
    else {
      // globStatus may return null (not empty) on some FS when nothing matches
      val committed = Option(fs.globStatus(new Path(s"$dir/v=*/$CommitMarker")))
        .getOrElse(Array.empty)
        .map(_.getPath.getParent.getName).toSet
      fs.listStatus(path).flatMap { st =>
        val name = st.getPath.getName
        "^v=(\\d+)$".r.findFirstMatchIn(name)
          .map(m => (m.group(1).toLong, committed(name)))
      }
    }
  }

  /** COMMITTED version numbers under `dir` (unmarked dirs are crashed
    * saves and are skipped).
    */
  def listVersions(spark: SparkSession, dir: String): Array[Long] =
    listVersionDirs(spark, dir).collect { case (v, true) => v }

  /** Versions carrying the FULL table layout, classified by the
    * presence of the family's `classifier` table dir (delta versions
    * carry `<classifier>.d` instead) — one globStatus. Exhaustive
    * because every delta save removes stale full dirs before
    * publishing, so a committed version carries exactly one layout.
    * Marker-blind: callers intersect with the committed set.
    */
  def layoutVersions(spark: SparkSession, dir: String, classifier: String): Array[Long] = {
    val path = new Path(dir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(path)) Array.empty
    else Option(fs.globStatus(new Path(s"$dir/v=*/$classifier")))
      .getOrElse(Array.empty)
      .flatMap(st => "^v=(\\d+)$".r.findFirstMatchIn(st.getPath.getParent.getName)
        .map(_.group(1).toLong))
  }

  /** Resolve the read chain over an already-`≤ upTo`-filtered
    * committed version set: (head, newest full base ≤ head, committed
    * delta versions between base and head, ascending). None when no
    * full base exists under the head — the caller raises its
    * family-specific error.
    */
  def chain(versions: Array[Long], fulls: Long => Boolean): Option[(Long, Long, Seq[Long])] =
    if (versions.isEmpty) None
    else {
      val head = versions.max
      versions.filter(fulls).maxOption.map { base =>
        (head, base, versions.filter(_ > base).sorted.toSeq)
      }
    }

  /** Retention + debris sweep (the policy both families delegate to):
    * keep the newest `keepLast` committed versions, sliding the floor
    * DOWN to the retained chain's full base (classified by
    * `fullClassifier`) so compaction can never strand a version a load
    * still serves; refuse loudly when the retained floor has no
    * committed base at or below it (the chain is already unreadable —
    * deleting the remaining versions would destroy the forensic
    * evidence). Uncommitted dirs strictly below the newest committed
    * version are superseded crash debris and are swept, unless
    * modified within `debrisGraceMs` (a live below-max time-travel
    * rewrite is positionally identical to debris — saveStates keeps
    * the dir mtime fresh for the whole rewrite); uncommitted dirs AT
    * or ABOVE the newest committed version may be another attempt's
    * in-flight write and are left alone. Returns the versions
    * deleted. `keepLast ≥ 1`: compacting away every version would
    * turn the next advance into a silent re-bootstrap.
    */
  def compact(spark: SparkSession, dir: String, keepLast: Int,
      fullClassifier: String, debrisGraceMs: Long): Seq[Long] = {
    require(keepLast >= 1,
      s"keepLast must be ≥ 1 (was $keepLast): an empty state dir re-bootstraps silently")
    val all = listVersionDirs(spark, dir)
    val committed = all.collect { case (v, true) => v }.sorted
    val drop = committed.takeRight(keepLast).headOption match {
      case None => Array.empty[Long]
      case Some(floor) =>
        val fulls = layoutVersions(spark, dir, fullClassifier).toSet
        val chainFloor = committed.filter(v => v <= floor && fulls(v)).lastOption
        require(chainFloor.nonEmpty,
          s"retained floor v=$floor under $dir is a delta with no committed full base ≤ it — " +
            "the chain is unreadable (base removed externally?); refusing to compact; " +
            "rebuild a base with a full save first")
        committed.filter(_ < chainFloor.get)
    }
    val fs = fsOf(spark, dir)
    val cutoff = System.currentTimeMillis() - debrisGraceMs
    val debris = if (committed.isEmpty) Array.empty[Long]
      else all.collect { case (v, false) if v < committed.max => v }
        .filter { v =>
          val p = new Path(s"$dir/v=$v")
          try fs.getFileStatus(p).getModificationTime <= cutoff
          catch { case _: java.io.FileNotFoundException => false }
        }
    (drop ++ debris).foreach(v => fs.delete(new Path(s"$dir/v=$v"), true))
    (drop ++ debris).toSeq.sorted
  }

  /** Guard for the streaming sinks' idempotent-rewrite contract
    * (ADVICE r14): a batch N loads `≤ N` and writes v=N+1, so in any
    * legitimate run the dir's MAX committed version is at most
    * batchId + 1 (equal only when replaying a batch whose save
    * committed before the checkpoint did). A FRESH checkpoint (batch
    * ids restarting at 0) against an already-advanced chain violates
    * this — without the guard it would silently overwrite low
    * versions while higher committed versions remain, and a later
    * default load would read a head mixing two histories. Empty dirs
    * pass through: the family's own load raises the bootstrap error.
    *
    * RESIDUAL ONE-ADVANCE HOLE (ADVICE r15): version arithmetic alone
    * cannot reject a fresh checkpoint's batch 0 against a chain
    * advanced exactly ONCE — max committed = 1 ≤ batchId + 1 is
    * indistinguishable from a legitimate replay of batch 0, so that
    * first rewrite of v=1 passes and silently replaces its data. The
    * guard only hard-fails from the second advance on. To close the
    * hole, give the sink a `streamTag` (its checkpoint location):
    * [[requireStreamTag]] pins the dir to the FIRST tag that advanced
    * it and rejects any other tag on its first batch — no version
    * arithmetic involved. The sinks run THIS guard first, then the
    * tag guard (ADVICE r16): an arithmetic rejection must not adopt a
    * tag on its way out and pin the dir to the wrong stream.
    */
  def requireCheckpointMatch(spark: SparkSession, dir: String, batchId: Long,
      family: String): Unit =
    listVersions(spark, dir).maxOption.foreach { m =>
      require(m <= batchId + 1,
        s"$family state dir $dir has committed version v=$m but this stream is at batch " +
          s"$batchId (writes v=${batchId + 1}) — the streaming checkpoint does not match the " +
          "state dir's history (fresh checkpoint against an advanced chain?). Writing would " +
          "overwrite low versions while higher committed versions remain, leaving a head that " +
          "mixes two histories. Resume with the original checkpoint, or point the sink at a " +
          "state dir bootstrapped at v=0")
    }

  /** Name of the optional per-dir stream-identity marker. */
  val StreamTagMarker = "_STREAM_TAG"

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
      else {
        val in = fs.open(p)
        val txt =
          try new String(org.apache.hadoop.io.IOUtils.readFullyToByteArray(in), "UTF-8")
          finally in.close()
        idPattern.findFirstMatchIn(txt).map(m => s"$tag#${m.group(1)}").getOrElse(tag)
      }
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
    val existing = if (!fs.exists(p)) None else {
      val in = fs.open(p)
      val bytes = try org.apache.hadoop.io.IOUtils.readFullyToByteArray(in) finally in.close()
      if (bytes.isEmpty) None else Some(new String(bytes, "UTF-8"))
    }
    existing match {
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
