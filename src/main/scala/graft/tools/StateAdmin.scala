// Read-only inspection of a persisted state dir (either family):
// per-version commit/layout/size/mtime, the chain the default load
// would resolve (base + delta layers), the pinned stream tag, and
// crash-debris candidates — the operational "what is this chain
// serving and what can retention reclaim" question, answered without
// loading any table. Works on any Hadoop FS scheme, like the
// families themselves.
//   sbt 'runMain graft.tools.StateAdmin <stateDir>'
//
// --check turns the inspector into a CI/cron health gate (VERDICT
// r16 #6): exit 0 when the chain is healthy, exit 1 (after printing
// one "CHECK FAIL:" line per finding) when any of
//   - the chain is UNREADABLE (no committed full base ≤ the head),
//   - uncommitted crash debris below the committed max has sat
//     longer than the grace window (default 24 h — an in-flight
//     rewrite keeps its mtime fresh, so age = abandonment),
//   - the stream-tag marker is present but EMPTY (a truncated
//     adoption; the guard treats it as absent and rewrites, but its
//     presence means an adoption crashed mid-publish).
//   sbt 'runMain graft.tools.StateAdmin <stateDir> --check [graceHours]'
package graft.tools

import org.apache.hadoop.fs.Path
import graft.operators.{DupState, Ingest, StateVersions}

object StateAdmin {

  private val families = Seq(Ingest.family, DupState.family)

  /** `dir` resolved against both families, or why it is not a state dir. */
  private def resolveDir(spark: org.apache.spark.sql.SparkSession,
      dir: String): Either[String, StateVersions.Resolved] = {
    val r = StateVersions.resolve(spark, dir, families: _*)
    if (r.versions.isEmpty) Left(s"no v=N dirs under $dir — not a state dir or never bootstrapped")
    else if (r.family.isEmpty) Left(s"$dir matches neither state family " +
      s"(no ${families.map(_.classifier).mkString("/")} dirs)")
    else Right(r)
  }

  /** The `--check` rules, separated from main so a spec can drive
    * both outcomes without trapping `sys.exit`. Returns one message
    * per failed check; empty = healthy (exit 0).
    */
  def check(spark: org.apache.spark.sql.SparkSession, dir: String,
      debrisGraceMs: Long): Seq[String] = resolveDir(spark, dir) match {
    case Left(notState) => Seq(notState)
    case Right(r) =>
      val chainFail = if (r.chainAt().nonEmpty) Nil else Seq(s"chain UNREADABLE under $dir: " +
        "no committed full base ≤ the head (base removed externally?) — rebuild with a full save")
      val cutoff = System.currentTimeMillis() - debrisGraceMs
      val staleDebris = r.debris.filter(_.mtime <= cutoff).map(x =>
        s"stale crash debris v=${x.v} under $dir (uncommitted, below max committed " +
          s"v=${r.committed.last}, untouched past the grace window) — compact() reclaims it")
      val tagFail =
        if (StateVersions.readStreamTag(r.fs, dir).contains(""))
          Seq(s"empty ${StateVersions.StreamTagMarker} under $dir: a tag adoption crashed " +
            "mid-publish; the next guarded batch rewrites it, but until then the dir is unpinned")
        else Nil
      chainFail ++ staleDebris ++ tagFail
  }

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: StateAdmin <stateDir> [--check [graceHours]]")
    val dir = args(0)
    val checkMode = args.contains("--check")
    val spark = graft.GraftSession.local(2, "state-admin")
    spark.sparkContext.setLogLevel("ERROR")
    if (checkMode) {
      val graceH = args.dropWhile(_ != "--check").drop(1).headOption
        .map(_.toDouble).getOrElse(24.0)
      val failures = check(spark, dir, (graceH * 3600 * 1000).toLong)
      failures.foreach(f => println(s"CHECK FAIL: $f"))
      if (failures.isEmpty) println(s"CHECK OK: $dir")
      spark.stop()
      sys.exit(if (failures.isEmpty) 0 else 1)
    }
    val r = resolveDir(spark, dir) match { case Right(r) => r; case Left(e) => sys.error(e) }
    val mb = r.versions.map { x =>
      val p = new Path(s"$dir/v=${x.v}")
      x.v -> (if (!r.fs.exists(p)) 0.0 else r.fs.getContentSummary(p).getLength / 1e6)
    }.toMap
    val debris = r.debris.map(_.v).toSet

    def fmt(v: Double) = String.format(java.util.Locale.ROOT, "%.1f", Double.box(v))
    val tag = StateVersions.readStreamTag(r.fs, dir).getOrElse("-")
    println(f"family=${r.family.get.name}%s dir=$dir%s stream_tag=$tag%s")
    println(f"${"v"}%6s ${"state"}%-11s ${"layout"}%-6s ${"MB"}%8s  mtime")
    r.versions.foreach { x =>
      val state = if (x.committed) "committed" else if (debris(x.v)) "DEBRIS?" else "in-flight"
      val layout = if (x.full) "full" else "delta"
      println(f"${x.v}%6d $state%-11s $layout%-6s ${fmt(mb(x.v))}%8s  ${new java.sql.Timestamp(x.mtime)}")
    }
    r.chainAt() match {
      case Some(c) =>
        println(s"default load: head v=${c.head} = base v=${c.base}" +
          (if (c.deltas.isEmpty) "" else c.deltas.mkString(" + deltas [", ",", "]")))
      case None =>
        println("default load: UNREADABLE — no committed full base (rebuild with a full save)")
    }
    val reclaimable = debris.toSeq.map(mb).sum
    if (reclaimable > 0)
      println(s"debris candidates: ${fmt(reclaimable)} MB (compact() sweeps them after the grace window)")
    spark.stop()
  }
}
