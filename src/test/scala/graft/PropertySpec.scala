package graft

import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalacheck.rng.Seed

/** Property-based contracts for the custom operators, checked against
  * plain in-memory reference implementations on randomized inputs
  * (fixed seed — deterministic CI). Raw ScalaCheck driven through
  * Test.check; spark-touching properties run fewer cases.
  */
class PropertySpec extends SparkSpecBase {

  private def check(prop: Prop, cases: Int): Unit = {
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(cases)
        .withInitialSeed(Seed(42L)), prop)
    assert(res.passed, res.status.toString)
  }

  test("graft_polyhash equals the codepoint fold for arbitrary strings") {
    // includes a supplementary-plane codepoint (surrogate pair) so a
    // char-by-char fold regression would be caught
    val gen = Gen.listOf(Gen.oneOf(Gen.alphaNumChar.map(_.toString),
        Gen.oneOf(" ", "ä", "日", "€", new String(Character.toChars(0x1F642)))))
      .map(_.mkString)
    check(Prop.forAll(gen) { s =>
      val expr = graft.functions.PolyHash(
        org.apache.spark.sql.catalyst.expressions.Literal(
          org.apache.spark.unsafe.types.UTF8String.fromString(s)), 131, 2147483647L)
      val ref = {
        var h = 0L; var i = 0
        while (i < s.length) {
          val cp = s.codePointAt(i); h = (h * 131 + cp) % 2147483647L
          i += Character.charCount(cp)
        }
        h
      }
      expr.eval(null).asInstanceOf[Long] == ref
    }, 100)
  }

  test("TopKAgg equals sort-take with (score desc, id asc) tie order") {
    val sp = spark
    import sp.implicits._
    val rows = Gen.listOfN(40, for {
      q <- Gen.choose(0L, 2L); s <- Gen.choose(0, 5); id <- Gen.choose(0L, 30L)
    } yield (q, s.toDouble, id))
    check(Prop.forAll(rows) { data =>
      val dedup = data.distinct // duplicate (q, score, id) rows are legal but simplify the oracle
      if (dedup.isEmpty) true else {
        val got = dedup.toDF("qid", "score", "id")
          .groupBy(col("qid"))
          .agg(graft.functions.TopKAgg.topk(3)(col("score"), col("id")).as("tk"))
          .select(col("qid"), explode(col("tk")).as("t"))
          .select(col("qid"), col("t._1").as("s"), col("t._2").as("id"))
          .collect().map(r => (r.getLong(0), (r.getDouble(1), r.getLong(2))))
          .groupBy(_._1).view.mapValues(_.map(_._2).toList).toMap
        val want = dedup.groupBy(_._1).view.mapValues(v =>
          v.map(t => (t._2, t._3)).distinct.sortBy(t => (-t._1, t._2)).take(3).toList).toMap
        got == want
      }
    }, 12)
  }

  test("connectedComponents equals union-find on random graphs") {
    // every graph runs in the default session (driver union-find) and
    // in one whose 1-byte broadcast budget forces star rounds
    val starSess = spark.newSession()
    starSess.conf.set("spark.sql.autoBroadcastJoinThreshold", "1")
    val edges = Gen.listOfN(15, for {
      a <- Gen.choose(0L, 12L); b <- Gen.choose(0L, 12L) if a != b
    } yield (math.min(a, b), math.max(a, b)))
    check(Prop.forAll(edges) { es =>
      if (es.isEmpty) true else {
        val got = Seq(spark, starSess).map(s =>
          graft.operators.Dedup.connectedComponents(s.createDataFrame(es).toDF("id_a", "id_b"))
            .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap)
        // union-find reference
        val parent = scala.collection.mutable.Map[Long, Long]()
        def find(x: Long): Long = {
          val p = parent.getOrElseUpdate(x, x)
          if (p == x) x else { val r = find(p); parent(x) = r; r }
        }
        es.foreach { case (a, b) =>
          val (ra, rb) = (find(a), find(b))
          if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
        }
        val want = parent.keys.map(x => x -> find(x)).toMap
        got.forall(_ == want)
      }
    }, 10)
  }

  test("connectedComponentsStar equals union-find on random graphs") {
    val sp = spark
    import sp.implicits._
    val edges = Gen.listOfN(15, for {
      a <- Gen.choose(0L, 12L); b <- Gen.choose(0L, 12L) if a != b
    } yield (math.min(a, b), math.max(a, b)))
    check(Prop.forAll(edges) { es =>
      if (es.isEmpty) true else {
        val got = graft.operators.Dedup.connectedComponentsStar(es.toDF("id_a", "id_b"))
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        val parent = scala.collection.mutable.Map[Long, Long]()
        def find(x: Long): Long = {
          val p = parent.getOrElseUpdate(x, x)
          if (p == x) x else { val r = find(p); parent(x) = r; r }
        }
        es.foreach { case (a, b) =>
          val (ra, rb) = (find(a), find(b))
          if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
        }
        val want = parent.keys.map(x => x -> find(x)).toMap
        got == want
      }
    }, 10)
  }

  test("connectedComponentsStar converges in O(log d) rounds on a planted chain") {
    val sp = spark
    import sp.implicits._
    // a 200-hop path: min-label propagation needs ~diameter rounds
    // (one hop per shuffle); star contraction must do it in O(log d)
    val n = 200L
    val chain = (0L until n).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val (out, rounds) = graft.operators.Dedup.ccStarWithRounds(chain, maxRounds = 20)
    val labels = out.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels.keySet == (0L to n).toSet)
    assert(labels.values.forall(_ == 0L),
      "every chain node must label to the component minimum 0")
    assert(rounds <= 12, s"expected O(log 200) <= 12 contraction rounds, took $rounds")
  }

  test("asOfJoin equals the per-row latest-at-or-before reference") {
    val sp = spark
    import sp.implicits._
    val gen = for {
      ls <- Gen.listOfN(12, for {
        k <- Gen.choose(0L, 2L); t <- Gen.choose(0L, 50L)
      } yield (k, t))
      rs0 <- Gen.listOfN(12, for {
        k <- Gen.choose(0L, 2L); t <- Gen.choose(0L, 50L); v <- Gen.choose(0.0, 9.0); tb <- Gen.choose(0L, 5L)
      } yield (k, t, v, tb))
      // one right row per (k, t, tb): two rows tying on the full sort
      // key with different v would make BOTH the operator and the
      // reference order-dependent
    } yield (ls, rs0.groupBy(r => (r._1, r._2, r._4)).values.map(_.head).toList)
    check(Prop.forAll(gen) { case (ls, rs) =>
      val left = ls.zipWithIndex.map { case ((k, t), i) => (i.toLong, k, t) }
      val got = graft.operators.Rollups.asOfJoin(
          left.toDF("lid", "k", "lt"), rs.toDF("k", "rt", "v", "tb"),
          "k", "lt", "rt", "v", "tb")
        .select(col("lid"), col("asof_value")).collect()
        .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toMap
      val want = left.map { case (lid, k, lt) =>
        val cand = rs.filter(r => r._1 == k && r._2 <= lt)
        lid -> (if (cand.isEmpty) None else Some(cand.maxBy(r => (r._2, r._4))._3))
      }.toMap
      got == want
    }, 10)
  }

  test("boundedRangeJoin equals the brute-force range filter") {
    val sp = spark
    import sp.implicits._
    val gen = for {
      rs <- Gen.listOfN(10, for {
        k <- Gen.choose(0L, 2L); s <- Gen.choose(0L, 500L); len <- Gen.choose(0L, 100L)
      } yield (k, s, s + len))
      ps <- Gen.listOfN(25, for {
        k <- Gen.choose(0L, 2L); t <- Gen.choose(0L, 600L)
      } yield (k, t))
    } yield (rs, ps)
    check(Prop.forAll(gen) { case (rs, ps) =>
      val ranges = rs.zipWithIndex.map { case ((k, s, e), i) => (i.toLong, k, s, e) }
      val got = graft.operators.Rollups.boundedRangeJoin(
          ranges.toDF("rid", "k", "s", "e"), ps.toDF("k", "t"), "k", "s", "e", "t", 100L)
        .select(col("rid"), col("t")).collect().map(r => (r.getLong(0), r.getLong(1)))
        .groupBy(identity).view.mapValues(_.size).toMap
      val want = (for {
        (rid, k, s, e) <- ranges; (pk, t) <- ps if pk == k && t >= s && t <= e
      } yield (rid, t)).groupBy(identity).view.mapValues(_.size).toMap
      got == want
    }, 10)
  }

  test("StateVersions.chain resolves base/deltas correctly on random version sets") {
    // the read-chain resolver every state load in BOTH families goes
    // through (newest full base ≤ head + the committed deltas above
    // it): on arbitrary committed sets and full-subset choices it must
    // return head = max, base = newest full ≤ head, deltas = exactly
    // the versions strictly between base and head ascending — and None
    // exactly when no full version exists (an unreadable chain, which
    // the families turn into their loud missing-base error)
    val gen = for {
      vs <- Gen.nonEmptyListOf(Gen.choose(0L, 30L)).map(_.distinct)
      fulls <- Gen.someOf(vs)
    } yield (vs.toArray, fulls.toSet)
    check(Prop.forAll(gen) { case (vs, fulls) =>
      graft.operators.StateVersions.chain(vs, fulls) match {
        case None => fulls.isEmpty
        case Some((head, base, deltas)) =>
          head == vs.max &&
            base == vs.filter(fulls).max &&
            deltas == vs.filter(_ > base).sorted.toSeq &&
            deltas.forall(!fulls(_))
      }
    }, 200)
  }
}
