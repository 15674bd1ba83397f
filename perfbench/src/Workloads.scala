package perfbench

import java.io.File
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.functions._
import graft.queries.{CoreCatalog, ExtrasCatalog, FlagshipCatalog}

object Entries {
  /** Entries that write to fixed paths outside the caller's data dir
    * (a lake, a bucketed table, z-ordered copies under the system temp
    * dir); the benchmark keeps every write inside its own work dir.
    */
  val writesOutsideWorkDir: Set[String] =
    Set("lake_daily_prune", "q36_bucketed_latest", "q109_zorder_prune", "q116_copy_verify")

  /** The oracle's query surface: q1 plus the core, extras and
    * flagship catalogs.
    */
  lazy val interactive: Seq[String] =
    (Seq("q1_agg") ++ (CoreCatalog.all ++ ExtrasCatalog.all ++ FlagshipCatalog.all).map(_.name))
      .filterNot(writesOutsideWorkDir)

  /** Batch training-data operators: candidate joins, connected
    * components and approximate nearest neighbours.
    */
  val corpusDedup: Seq[String] = Seq(
    "dedup_ngram_jaccard", "dedup_simhash", "q86_containment_dedup", "q53_dup_clusters", "knn_ivf")

  /** The operator module each corpus entry's returned plan is built by:
    * the traced run attributes that plan's execution — triggered by the
    * benchmark's own `collect()`, so its call site holds no graft frame —
    * to this module.
    */
  val operatorOf: Map[String, String] = Map("dedup_ngram_jaccard" -> "dedup",
    "dedup_simhash" -> "dedup", "q86_containment_dedup" -> "dedup",
    "q53_dup_clusters" -> "dedup", "knn_ivf" -> "similarity")
}

/** A pass runs every catalog entry once, in a seeded order. One op =
  * `Q.fn`, forcing the executed plan, then `collect()`. Each set-up
  * round starts a fresh session and warms up every entry (runs it
  * untimed); the first round dumps each entry's rows to parquet, which
  * run.py checks against the DuckDB reference. Every timed op's rows
  * must hash like that dump.
  */
final class CatalogWorkload(entries: Seq[String], o: Opts, val nominalPassS: Double)
    extends Workload {
  private val fns = graft.SparkEntry.queries
  private val digests = mutable.Map.empty[String, (Long, Int)]
  private val warmErrors = mutable.Map.empty[String, String]

  private def digest(rows: Array[Row]): (Long, Int) =
    (rows.length.toLong, scala.util.hashing.MurmurHash3.orderedHash(rows.iterator.map(_.toString)))

  def setup(spark: SparkSession, round: Int): Unit = entries.foreach { e =>
    try {
      val df = fns(e)(spark, o.data)
      val rows = df.collect()
      if (round == 1) {
        digests(e) = digest(rows)
        spark.createDataFrame(rows.toSeq.asJava, df.schema).coalesce(1)
          .write.mode("overwrite").parquet(s"${o.work}/dumps/$e")
      }
    } catch {
      case t: Throwable => warmErrors(e) = s"${t.getClass.getSimpleName}: ${t.getMessage}".take(300)
    }
    spark.catalog.clearCache()
  }

  def pass(spark: SparkSession, p: Int, tracer: Option[Trace]): Seq[OpRec] = {
    val order = new Random(o.seed * 7919L + p).shuffle(entries)
    val sc = spark.sparkContext
    order.map { e =>
      def sp[A](layer: String, n: String)(b: => A): A = tracer.fold(b)(_.span(layer, n)(b))
      val ms0 = System.currentTimeMillis()
      val (j0, t0) = (Proc.jiffies, Proc.now)
      var phases = Map.empty[String, Any]
      val res = try {
        if (o.throwIn.contains(e)) throw new IllegalStateException(s"injected failure in $e")
        sp("op", e) {
          val df = sp("queries", "build") { fns(e)(spark, o.data) }
          val t1 = Proc.now
          sp("session", "plan") { df.queryExecution.executedPlan }
          val t2 = Proc.now
          val rows = sp(Entries.operatorOf.getOrElse(e, "queries"), "exec") { df.collect() }
          val t3 = Proc.now
          phases = Map("build_s" -> (t1 - t0), "plan_s" -> (t2 - t1), "exec_s" -> (t3 - t2))
          if (tracer.isDefined) phases ++= Map("join_rows" -> joinRows(df.queryExecution.executedPlan),
            "result_rows" -> rows.length.toLong)
          rows
        }
      } catch { case t: Throwable => t }
      val wall = Proc.now - t0
      val ms1 = System.currentTimeMillis()
      phases += "unstolen" -> Proc.unstolen(j0, Proc.jiffies)
      if (tracer.isDefined) phases ++= Map("t0_ms" -> ms0, "t1_ms" -> ms1,
        "cached_bytes" -> sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum)
      spark.catalog.clearCache()
      Proc.settle()
      res match {
        case rows: Array[Row] =>
          val ok = digests.get(e).contains(digest(rows))
          OpRec(e, p, wall, ok, if (ok) "" else warmErrors.getOrElse(e, "rows differ from the checked dump"), phases)
        case t: Throwable =>
          OpRec(e, p, wall, ok = false, s"${t.getClass.getSimpleName}: ${t.getMessage}".take(300), phases)
      }
    }
  }

  def verify(spark: SparkSession): Map[String, Any] =
    Map("warmup_errors" -> warmErrors.toMap)

  def inputBytesPerPass: Long = Option(new File(o.data).listFiles).toSeq.flatten.map(_.length).sum

  def layerFigures(spark: SparkSession, t: Trace, ops: Seq[OpRec]): Map[String, Double] = {
    def med(k: String) = Stats.median(ops.flatMap(_.extra.get(k)).map(_.toString.toDouble))
    val joined = ops.filter(r => r.extra.get("join_rows").exists(_.toString.toLong > 0))
    val pairYield =
      if (joined.isEmpty) 0.0
      else joined.map(_.extra("result_rows").toString.toDouble).sum /
        joined.map(_.extra("join_rows").toString.toDouble).sum
    Layers.common(spark, t, ops, o) ++ Map(
      "session.plan_s" -> med("plan_s"),
      "queries.build_s" -> med("build_s"),
      "queries.exec_s" -> med("exec_s"),
      "dedup.pair_yield" -> pairYield)
  }

  /** Rows out of the executed plan's joins (final AQE plan). */
  private def joinRows(p: SparkPlan): Long = p match {
    case a: AdaptiveSparkPlanExec => joinRows(a.executedPlan)
    case q: QueryStageExec => joinRows(q.plan)
    case j: BaseJoinExec =>
      j.metrics.get("numOutputRows").map(_.value).getOrElse(0L) + j.children.map(joinRows).sum
    case other => other.children.map(joinRows).sum
  }
}

/** Per-layer figures every traced run reports, whatever the workload:
  * the session's slot use and GC, source input, the module rollups and
  * the standalone kernel rates.
  */
object Layers {
  def common(spark: SparkSession, t: Trace, ops: Seq[OpRec], o: Opts): Map[String, Double] = {
    val stages = t.allStages
    val taskS = stages.map(_.runS).sum
    val jobs = t.allJobs
    val covered = if (jobs.isEmpty) 0.0
      else t.coveredS(jobs, jobs.map(_.start).min, jobs.map(j => math.max(j.end, j.start)).max)
    // per op: jobs/stages/tasks issued in its window, and the share
    // of its wall no job covered (driver-side time)
    val timedOps = ops.filter(_.extra.contains("t0_ms"))
    val perOp = timedOps.map { r =>
      val (a, b) = (r.extra("t0_ms").toString.toLong, r.extra("t1_ms").toString.toLong)
      val (js, ss) = (t.jobsIn(a, b), t.stagesIn(a, b))
      (r.wall - t.coveredS(js, a, b), js.size.toDouble, ss.size.toDouble, ss.map(_.tasks).sum.toDouble)
    }
    val cached = timedOps.flatMap(_.extra.get("cached_bytes")).map(_.toString.toDouble)
    def mod(n: String) = t.module(n)
    val (dd, sim, ing, dup) = (mod("dedup"), mod("similarity"), mod("ingest"), mod("dupstate"))
    val passes = (ops.map(_.pass).maxOption.getOrElse(0) + 1).toDouble
    Map(
      "session.slot_idle_ratio" -> (if (covered <= 0) 0.0 else 1.0 - taskS / (covered * t.cores)),
      "sources.input_bytes" -> stages.map(_.inBytes).sum / passes,
      "sources.input_rows" -> stages.map(_.inRows).sum / passes,
      "dedup.task_s" -> dd.taskS, "dedup.shuffle_write_bytes" -> dd.shuffleWrite,
      "dedup.spill_bytes" -> dd.spill, "dedup.jobs" -> dd.jobs,
      "similarity.task_s" -> sim.taskS, "similarity.shuffle_write_bytes" -> sim.shuffleWrite,
      "ingest.task_s" -> ing.taskS, "ingest.output_bytes" -> ing.outBytes,
      "dupstate.task_s" -> dup.taskS, "dupstate.output_bytes" -> dup.outBytes,
      "session.driver_s" -> Stats.median(perOp.map(_._1)),
      "session.jobs" -> Stats.median(perOp.map(_._2)),
      "session.stages" -> Stats.median(perOp.map(_._3)),
      "session.tasks" -> Stats.median(perOp.map(_._4)),
      "session.cached_bytes_after_op" -> Stats.median(cached),
      "trace.unattributed_task_ratio" -> t.unattributedRatio,
      "trace.task_s" -> taskS) ++
      Kernels.rates(spark, o.data)
  }
}

/** Standalone projections of the kernels the dedup and similarity
  * operators are built from, each over the corpus (replicated to a
  * measurable size) and timed median-of-3.
  */
object Kernels {
  def rates(spark: SparkSession, data: String): Map[String, Double] = {
    import graft.operators.{Dedup, Similarity}
    val rep = 8
    val cores = spark.sparkContext.defaultParallelism
    val base = graft.sources.Tables.documents(spark, data).select(col("doc_id"), col("text"))
      .repartition(cores).cache()
    val docs = base.crossJoin(spark.range(rep).toDF("r"))
      .select((col("doc_id") * rep + col("r")).as("doc_id"), col("text")).repartition(cores).cache()
    val emb = graft.sources.Tables.embeddings(spark, data).select(col("vec_id"), col("embedding"))
      .crossJoin(spark.range(rep).toDF("r"))
      .select((col("vec_id") * rep + col("r")).as("vec_id"), col("embedding")).repartition(cores).cache()
    val nBase = base.count().toDouble
    val nDocs = docs.count().toDouble
    val nEmb = emb.count().toDouble
    val probe = emb.limit(64).select(col("embedding").as("q")).cache()
    val nPairs = probe.count() * nEmb
    def rate(n: Double)(f: => Any): Double = {
      val ts = (1 to 3).map { _ => val t0 = Proc.now; f; Proc.now - t0 }
      n / Stats.median(ts)
    }
    val ng = Dedup.hashedNgrams(docs, col("text"), 3)
    val out = Map(
      "functions.ngram_hash_rows_per_s" -> rate(nDocs) {
        docs.select(sum(size(ng))).collect() },
      // the Column-form signature is interpreted per n-gram: the
      // unreplicated corpus keeps it to seconds
      "functions.minhash_sig_rows_per_s" -> rate(nBase) {
        base.select(sum(hash(Dedup.minHashSig(base, Dedup.wordNgrams(col("text"), 3), 16)))).collect() },
      "functions.simhash_rows_per_s" -> rate(nDocs) {
        Dedup.simHashDf(docs, col("doc_id"), col("text")).select(sum(hash(col("sh")))).collect() },
      "functions.rh_sig_rows_per_s" -> rate(nEmb) {
        emb.select(sum(Similarity.rhSignatureExpr(spark, col("embedding"), 16))).collect() },
      "functions.cosine_pairs_per_s" -> rate(nPairs.toDouble) {
        probe.crossJoin(emb).select(sum(Similarity.cosine(col("q"), col("embedding"),
          Similarity.normSq(col("q")), Similarity.normSq(col("embedding"))))).collect() },
      "functions.cms_rows_per_s" -> rate(nDocs) {
        docs.select(explode(ng).as("h"))
          .select(graft.functions.CmsSketchAgg.sketch(4, 256)(col("h")).as("c"))
          .select(hash(col("c"))).collect() })
    Seq(base, docs, emb, probe).foreach(_.unpersist())
    out
  }
}
