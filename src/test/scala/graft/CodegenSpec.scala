package graft

import org.apache.spark.sql.functions._

/** Guards the whole-stage-codegen contract of the native kernels, and
  * that the session's codegen cache holds the engine's working set.
  *
  * Each test places TWO instances of a kernel in ONE projection — the
  * shape real catalog plans produce (two poly-hashes in a dedup staging
  * projection; a cosine re-rank next to an rh-signature) — and runs it
  * under `spark.sql.codegen.factoryMode=CODEGEN_ONLY` +
  * `spark.sql.codegen.fallback=false`, which turn the silent
  * interpreted fallback into a hard failure. Before the ctx.freshName
  * fix, fixed local names ("int i", "long h", …) collided in Janino
  * ("Redefinition of local variable") and the whole projection dropped
  * to interpreted mode, visible only as a WARN. These tests fail loudly
  * if that regresses.
  */
class CodegenSpec extends SparkSpecBase {

  /** Run `body` with codegen forced on (no interpreted fallback). */
  private def codegenOnly[T](body: => T): T = {
    val prevFactory = spark.conf.getOption("spark.sql.codegen.factoryMode")
    val prevFallback = spark.conf.getOption("spark.sql.codegen.fallback")
    spark.conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try body
    finally {
      prevFactory.fold(spark.conf.unset("spark.sql.codegen.factoryMode"))(
        spark.conf.set("spark.sql.codegen.factoryMode", _))
      prevFallback.fold(spark.conf.unset("spark.sql.codegen.fallback"))(
        spark.conf.set("spark.sql.codegen.fallback", _))
    }
  }

  private def vecDf = {
    import TestSpark.spark.implicits._
    Seq(
      (Array(1.0f, 0.0f, 2.0f, -1.0f), Array(0.5f, 1.0f, -2.0f, 3.0f)),
      (Array(0.0f, 1.0f, 1.0f, 1.0f), Array(1.0f, 1.0f, 0.0f, -1.0f))
    ).toDF("a", "b")
  }

  test("two graft_cosine instances compile in one projection under CODEGEN_ONLY") {
    val rows = codegenOnly {
      vecDf
        .select(
          expr("graft_cosine(a, b)").as("ab"),
          expr("graft_cosine(b, a)").as("ba"))
        .collect()
    }
    assert(rows.length == 2)
    rows.foreach { r =>
      // cosine is symmetric; both instances must agree bit-for-bit
      assert(java.lang.Double.compare(r.getDouble(0), r.getDouble(1)) == 0)
    }
  }

  test("two graft_polyhash instances (distinct b/p) compile in one projection under CODEGEN_ONLY") {
    import TestSpark.spark.implicits._
    val df = Seq("alpha", "beta", "γδε").toDF("s")
    val rows = codegenOnly {
      df.select(
          expr("graft_polyhash(s, 257, 1000000007)").as("h1"),
          expr("graft_polyhash(s, 263, 998244353)").as("h2"))
        .collect()
    }
    assert(rows.length == 3)
    // codegen values must match the interpreted eval contract
    val expected1 = graft.functions.PolyHash(
      org.apache.spark.sql.catalyst.expressions.Literal("alpha"), 257, 1000000007L)
      .eval(null).asInstanceOf[Long]
    assert(rows(0).getLong(0) == expected1)
  }

  test("two graft_rhsig instances (distinct widths) compile in one projection under CODEGEN_ONLY") {
    import TestSpark.spark.implicits._
    val df = Seq(Array.tabulate(16)(i => (i - 8).toFloat)).toDF("e")
    val rows = codegenOnly {
      df.select(
          expr("graft_rhsig(e, 12)").as("s12"),
          expr("graft_rhsig(e, 24)").as("s24"))
        .collect()
    }
    // a 12-bit signature is the low 12 bits of the 24-bit one (same
    // hyperplane family, prefix property)
    assert((rows(0).getLong(1) & 0xFFFL) == rows(0).getLong(0))
  }

  test("two graft_ngram_hash_seq instances (distinct n) compile in one projection under CODEGEN_ONLY") {
    import TestSpark.spark.implicits._
    val df = Seq("q r q r").toDF("s")
    val rows = codegenOnly {
      df.select(
          expr("graft_ngram_hash_seq(s, 2, 131, 2147483647)").as("g2"),
          expr("graft_ngram_hash_seq(s, 3, 131, 2147483647)").as("g3"))
        .collect()
    }
    val g2 = rows(0).getSeq[Long](0)
    val g3 = rows(0).getSeq[Long](1)
    // positional contract: one element per position, duplicates KEPT
    assert(g2.length == 3 && g3.length == 2)
    assert(g2(0) == g2(2)) // "q r" at positions 0 and 2
    assert(g2(0) != g2(1))
    // element values are the plain poly-hash of the ngram string
    val expected = graft.functions.PolyHash(
      org.apache.spark.sql.catalyst.expressions.Literal("q r"), 131, 2147483647L)
      .eval(null).asInstanceOf[Long]
    assert(g2(0) == expected)
  }

  test("mixed kernels (cosine + rhsig + polyhash ×2 each) in one projection under CODEGEN_ONLY") {
    import TestSpark.spark.implicits._
    val df = Seq(
      (Array(1.0f, 2.0f, 3.0f, 4.0f), Array(4.0f, 3.0f, 2.0f, 1.0f), "doc one"),
      (Array(-1.0f, 0.5f, 0.0f, 2.0f), Array(2.0f, 2.0f, 2.0f, 2.0f), "doc two")
    ).toDF("a", "b", "s")
    val rows = codegenOnly {
      df.select(
          expr("graft_cosine(a, b)").as("c1"),
          expr("graft_cosine(b, b)").as("c2"),
          expr("graft_rhsig(a, 16)").as("r1"),
          expr("graft_rhsig(b, 16)").as("r2"),
          expr("graft_polyhash(s, 31, 2147483647)").as("h1"),
          expr("graft_polyhash(s, 257, 1000000007)").as("h2"))
        .collect()
    }
    assert(rows.length == 2)
    // self-cosine is exactly 1.0
    rows.foreach(r => assert(math.abs(r.getDouble(1) - 1.0) < 1e-12))
  }

  test("a working set larger than Spark's default codegen cache is compiled once") {
    // 150 projections, each inlining its own literal: more distinct
    // generated classes than Spark's default 100-entry cache holds, so
    // at that size LRU evicts each class before the next round reaches
    // it and the second round recompiles every one; at the size
    // GraftSession.confs pins, the second round finds all of them cached.
    // (Catalog entries make a flaky working set here: AQE re-plans some
    // of them by stage-completion order, so a later round can still meet
    // a few classes it has not compiled yet.)
    def round(): Unit =
      (1 to 150).foreach(i => spark.range(4).selectExpr(s"id * $i + 1 AS x").collect())
    def compiles: Long =
      org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    round()
    val before = compiles
    round()
    assert(compiles - before == 0, "classes recompiled in the second round")
  }
}
