package graft

import org.apache.spark.sql.functions._
import graft.operators._

class RollupsSpec extends SparkSpecBase {
  import TestSpark.spark.implicits._

  test("latestPerKey keeps the newest row per key") {
    val df = Seq((1L, 10L, "a"), (1L, 20L, "b"), (2L, 5L, "c")).toDF("k", "ord", "v")
    val out = Rollups.latestPerKey(df, Seq(col("k")), Seq(col("ord")))
      .orderBy("k").select("k", "v").as[(Long, String)].collect()
    assert(out.toSeq == Seq((1L, "b"), (2L, "c")))
  }

  test("sessionize splits on gaps > gapMs") {
    val df = Seq((1L, 0L, 1L), (1L, 100L, 2L), (1L, 5000L, 3L), (2L, 0L, 4L))
      .toDF("k", "ms", "id")
    val out = Rollups.sessionize(df, col("k"), col("ms"), col("id"), 1000L)
      .select("k", "id", "session_idx").orderBy("k", "id")
      .as[(Long, Long, Long)].collect()
    assert(out.toSeq == Seq((1L, 1L, 0L), (1L, 2L, 0L), (1L, 3L, 1L), (2L, 4L, 0L)))
  }

  test("leadChain counts chained successors") {
    val df = Seq((1L, "x", 0L), (1L, "x", 500L), (1L, "x", 5000L)).toDF("k", "b", "ms")
    val out = Rollups.leadChain(df, col("k"), col("b"), col("ms"), 1000L)
      .select("row_count", "chain_count").as[(Long, Long)].collect()
    assert(out.toSeq == Seq((3L, 1L)))
  }
}

class WeatherSpec extends SparkSpecBase {
  import TestSpark.spark.implicits._

  test("magnus humidity: saturated air -> 100%") {
    val df = Seq((20.0, 20.0), (20.0, 10.0)).toDF("t", "d")
    val out = df.select(Weather.magnusHumidity(col("t"), col("d"))).as[Long].collect()
    assert(out(0) == 100L)
    assert(out(1) > 40 && out(1) < 60) // ~52% at t=20,d=10
  }

  test("temperature conversion round-trips") {
    val df = Seq(0.0, 100.0, -40.0).toDF("c")
    val out = df.select(Weather.fToC(Weather.cToF(col("c")))).as[Double].collect()
    assert(out.toSeq == Seq(0.0, 100.0, -40.0))
  }

  test("precip classification: metar codes beat temperature heuristic") {
    val df = Seq(("SN", 10.0), ("FZRA BR", 5.0), ("RA", 1.0), (null, 1.0), (null, 10.0))
      .toDF("wx", "t")
    val out = df.select(Weather.classifyPrecip(col("wx"), col("t"))).as[String].collect()
    assert(out.toSeq == Seq("snow", "ice", "rain", "snow", "rain"))
  }
}

class ScoringSpec extends SparkSpecBase {
  import TestSpark.spark.implicits._

  test("over/par/under points") {
    val df = Seq(("over", 10L, 20L), ("par", 10L, 10L), ("under", 10L, 5L), ("over", 10L, 5L))
      .toDF("c", "fc", "obs")
    val out = df.select(Scoring.oupPoints(col("c"), col("fc"), col("obs"))).as[Int].collect()
    assert(out.toSeq == Seq(10, 20, 10, 0))
  }

  test("ranking permutations count = P(n,k) + 1 (reference test parity, outcome_generator.rs:34)") {
    val players = spark.range(5).toDF("user_id")
    assert(Scoring.rankingPermutations(players, 3).count() == 61L)
  }

  test("outcome message/attestation deterministic") {
    val m1 = Scoring.outcomeMessage(Seq(1L, 2L, 3L))
    assert(m1.length == 24)
    assert(Scoring.attest("ev", m1) == Scoring.attest("ev", Scoring.outcomeMessage(Seq(1L, 2L, 3L))))
  }
}

class DedupSpec extends SparkSpecBase {
  import TestSpark.spark.implicits._

  test("exact groups find planted duplicates only") {
    val df = Seq((1L, "aa bb cc"), (2L, "dd ee ff"), (3L, "aa bb cc")).toDF("id", "text")
    val out = Dedup.exactGroups(df, col("id"), col("text"))
      .select("keep_id", "n_copies").as[(Long, Long)].collect()
    assert(out.toSeq == Seq((1L, 2L)))
  }

  test("minhash-lsh finds near duplicates, skips unrelated") {
    val base = "the quick brown fox jumps over the lazy dog again and again today"
    val df = Seq((1L, base), (2L, base + " ok"), (3L, "completely different words entirely unrelated content here now then")).toDF("id", "text")
    val pairs = Dedup.minHashLshPairs(df, col("id"), col("text"), 3, 4, 4, 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect()
    assert(pairs.toSeq == Seq((1L, 2L)))
  }

  test("simhash hamming distance 0 for identical docs") {
    val df = Seq((1L, "one two three four five"), (2L, "one two three four five")).toDF("id", "text")
    val out = Dedup.simHashPairs(df, col("id"), col("text"), 7)
      .select("dist").as[Long].collect()
    assert(out.toSeq == Seq(0L))
  }

  test("chunk dedup removes duplicated chunks, keeps the rest, drops fully-duplicated docs") {
    val df = Seq(
      (1L, "a b c d e f"), // 3 chunks of 2: "a b" "c d" "e f"
      (2L, "a b c d e f"), // exact copy — every chunk duplicates doc 1 → vanishes
      (3L, "a b x y"),     // first chunk duplicates doc 1, keeps "x y"
      (4L, "q r q r")      // within-doc duplicate: keeps first "q r" only
    ).toDF("id", "text")
    val out = Dedup.chunkDedup(df, col("id"), col("text"), 2)
      .orderBy("doc_id")
      .select("doc_id", "n_chunks", "n_kept", "text_kept")
      .as[(Long, Int, Long, String)].collect()
    assert(out.toSeq == Seq(
      (1L, 3, 3L, "a b c d e f"),
      (3L, 2, 1L, "x y"),
      (4L, 2, 1L, "q r")))
  }

  test("simHashPairsIncremental equals full simHashPairs restricted to cross-side pairs") {
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "one two three four five six seven eight"),
      (3L, "totally different content with other words here now")
    ).toDF("id", "text")
    val batch = Seq(
      (10L, "alpha beta gamma delta epsilon zeta eta theta"), // exact copy of 1
      (11L, "one two three four five six seven nine"),        // near copy of 2
      (12L, "fresh unrelated text that matches nothing at all")
    ).toDF("id", "text")
    val sigs = Dedup.simHashDf(corpus, col("id"), col("text"))
    val incr = Dedup.simHashPairsIncremental(sigs, batch, col("id"), col("text"),
        maxDist = 3, nChunks = 4)
      .select("id_new", "id_old", "dist").as[(Long, Long, Long)].collect().toSet
    // full recompute over the union: cross-side pairs are exactly those
    // spanning the id boundary (batch ids sort after corpus ids)
    val full = Dedup.simHashPairs(corpus.unionByName(batch), col("id"), col("text"),
        maxDist = 3, nChunks = 4)
      .filter(col("id_a") < 10L && col("id_b") >= 10L)
      .select(col("id_b"), col("id_a"), col("dist")).as[(Long, Long, Long)].collect().toSet
    assert(incr == full)
    assert(incr.map(p => (p._1, p._2)).contains((10L, 1L))) // exact copy found
    assert(!incr.exists(_._1 == 12L)) // unrelated doc pairs with nothing
    // the composite-band form is an exact scheme for the same distance
    // bound — its pair SET must equal the single-chunk scheme's, at
    // every legal band size (the candidate sets differ, the verified
    // output cannot)
    Seq(2, 3, 4).foreach { r =>
      val banded = Dedup.simHashPairsIncrementalBanded(sigs, batch, col("id"), col("text"),
          maxDist = 3, bandSize = r)
        .select("id_new", "id_old", "dist").as[(Long, Long, Long)].collect().toSet
      assert(banded == incr, s"banded (r=$r) pair set diverged from single-chunk")
    }
    // a pair exactly AT the distance bound survives both schemes: doc 11
    // vs 2 differs by one word — check it's present with dist ≤ 3, then
    // tighten the bound to dist ≥ its actual distance - 1 and re-compare
    val d11 = incr.find(p => p._1 == 11L && p._2 == 2L)
    if (d11.nonEmpty && d11.get._3 >= 1) {
      val tight = d11.get._3.toInt
      val a = Dedup.simHashPairsIncremental(sigs, batch, col("id"), col("text"),
        maxDist = tight, nChunks = 8).select("id_new", "id_old").as[(Long, Long)].collect().toSet
      val b = Dedup.simHashPairsIncrementalBanded(sigs, batch, col("id"), col("text"),
        maxDist = tight).select("id_new", "id_old").as[(Long, Long)].collect().toSet
      assert(a == b, "pair sets diverged at the exact distance bound")
    }
  }

  test("chunkDedupIncremental equals full recompute restricted to the batch") {
    val corpus = Seq(
      (1L, "a b c d e f"),
      (2L, "g h i j"),
      (3L, "k l m n")
    ).toDF("id", "text")
    // batch ids sort after corpus ids (the ingest invariant)
    val batch = Seq(
      (10L, "a b c d e f"),      // full duplicate of doc 1 → vanishes
      (11L, "a b x y"),          // keeps only "x y"
      (12L, "x y p q"),          // "x y" now already taken by doc 11 → keeps "p q"
      (13L, "fresh new words here") // untouched
    ).toDF("id", "text")
    val keepers = Dedup.chunkKeepers(corpus, col("id"), col("text"), 2)
    val incr = Dedup.chunkDedupIncremental(batch, keepers, col("id"), col("text"), 2)
      .orderBy("doc_id")
      .select("doc_id", "n_chunks", "n_kept", "text_kept")
      .as[(Long, Int, Long, String)].collect().toSeq
    val full = Dedup.chunkDedup(corpus.unionByName(batch), col("id"), col("text"), 2)
      .filter(col("doc_id") >= 10L)
      .orderBy("doc_id")
      .select("doc_id", "n_chunks", "n_kept", "text_kept")
      .as[(Long, Int, Long, String)].collect().toSeq
    assert(incr == full)
    assert(incr.map(_._1) == Seq(11L, 12L, 13L))
    // state advance: merged keepers over (corpus ∪ batch) must equal
    // keepers computed from scratch on the union
    val merged = Dedup.chunkKeepersMerged(keepers, batch, col("id"), col("text"), 2)
    val mergedSet = merged
      .select(col("h"), col("keep.doc_id").as("kid"), col("keep.idx"))
      .as[(Long, Long, Int)].collect().toSet
    val scratch = Dedup.chunkKeepers(corpus.unionByName(batch), col("id"), col("text"), 2)
      .select(col("h"), col("keep.doc_id").as("kid"), col("keep.idx"))
      .as[(Long, Long, Int)].collect().toSet
    assert(mergedSet == scratch)
    // a second batch deduped against the ADVANCED state equals the
    // full recompute over all three generations
    val batch2 = Seq((20L, "p q z z"), (21L, "fresh new words here")).toDF("id", "text")
    val incr2 = Dedup.chunkDedupIncremental(batch2, merged, col("id"), col("text"), 2)
      .orderBy("doc_id").select("doc_id", "text_kept").as[(Long, String)].collect().toSeq
    val full2 = Dedup.chunkDedup(corpus.unionByName(batch).unionByName(batch2),
        col("id"), col("text"), 2)
      .filter(col("doc_id") >= 20L)
      .orderBy("doc_id").select("doc_id", "text_kept").as[(Long, String)].collect().toSeq
    assert(incr2 == full2)
  }
}

class ConnectedComponentsSpec extends SparkSpecBase {
  import TestSpark.spark.implicits._

  test("min-label propagation resolves transitive chains and isolates") {
    // 1-2-3-4 is a diameter-3 chain (needs >1 round), 10-11 a pair,
    // 20-21 + 21-22 + 20-22 a triangle with a redundant edge.
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L),
      (20L, 21L), (21L, 22L), (20L, 22L)).toDF("id_a", "id_b")
    val out = Dedup.connectedComponents(pairs)
      .orderBy("doc_id").as[(Long, Long)].collect().toSeq
    assert(out == Seq(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 20L -> 20L, 21L -> 20L, 22L -> 20L))
  }

  test("CC path: driver under the budget, star above") {
    // the same graphs in the default session (64 MB budget: driver
    // union-find) and in a session whose 1-byte budget forces star
    val starSess = spark.newSession()
    starSess.conf.set("spark.sql.autoBroadcastJoinThreshold", "1")
    val chainEdges = (0L until 300L).map(i => (i, i + 1))
    val shallowEdges = Seq((1L, 2L), (2L, 3L), (10L, 11L), (20L, 21L))
    def run(s: org.apache.spark.sql.SparkSession, es: Seq[(Long, Long)]) =
      Dedup.ccWithPath(s.createDataFrame(es).toDF("id_a", "id_b"))
    for ((s, wantDriver) <- Seq(spark -> true, starSess -> false)) {
      // 300-hop chain: every one of the 301 nodes labels to 0 either way
      val (deep, onDriver) = run(s, chainEdges)
      assert(onDriver == wantDriver, s"chain took the wrong path (driver = $onDriver)")
      val labels = deep.select("cluster_id").distinct().as[Long].collect().toSeq
      assert(labels == Seq(0L), s"chain not fully contracted: $labels")
      assert(deep.count() == 301)
      val (out, onDriver2) = run(s, shallowEdges)
      assert(onDriver2 == wantDriver)
      assert(out.orderBy("doc_id").as[(Long, Long)].collect().toSeq == Seq(1L -> 1L, 2L -> 1L,
        3L -> 1L, 10L -> 10L, 11L -> 10L, 20L -> 20L, 21L -> 20L))
    }
  }

  test("canonical member is its own cluster id") {
    val pairs = Seq((5L, 9L), (9L, 7L)).toDF("id_a", "id_b")
    val cc = Dedup.connectedComponents(pairs)
    val canon = cc.filter(col("doc_id") === col("cluster_id"))
      .select("doc_id").as[Long].collect().toSeq
    assert(canon == Seq(5L))
  }

  test("plain CC RAISES on a chain deeper than its round budget (no silent partial labels)") {
    // 40-hop chain with maxRounds=2: star contraction cannot converge;
    // returning its partially-contracted labels would look correct
    val chain = (0L until 40L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val e = intercept[IllegalStateException] {
      Dedup.ccStarWithRounds(chain, maxRounds = 2)
    }
    assert(e.getMessage.contains("did not converge"))
  }

  test("dedupClusters front door: salted pairs + auto CC, one canonical per cluster") {
    // three planted near-dup groups (exact + near copies) and two
    // singletons; the front door must label every member with the
    // minimum reachable id, regardless of which LSH edges fired
    val base = "the quick brown fox jumps over the lazy dog near the river bank today"
    val docs = Seq(
      (1L, base), (2L, base), (3L, base + " extra"),
      (10L, "completely different text about spark shuffles and partitions at scale here"),
      (20L, "a third corpus document with its own unique and unmistakable wording style"),
      (21L, "a third corpus document with its own unique and unmistakable wording style!")
    ).toDF("doc_id", "text")
    val labels = Dedup.dedupClusters(docs, col("doc_id"), col("text"), 3, 4, 4, 0.5)
    val byCluster = labels.as[(Long, Long)].collect().groupBy(_._2)
    // every cluster's canonical id is its own minimum member
    byCluster.foreach { case (cid, members) =>
      assert(members.map(_._1).min == cid, s"cluster $cid canonical != min member")
    }
    // the planted exact-copy group {1,2,3} must collapse to cluster 1
    val g1 = labels.filter(col("cluster_id") === 1L).select("doc_id").as[Long].collect().toSet
    assert(Set(1L, 2L, 3L).subsetOf(g1))
    // salts must not change the labeling (pure shuffle-layout knob)
    val unsalted = Dedup.dedupClusters(docs, col("doc_id"), col("text"), 3, 4, 4, 0.5, salts = 1)
    assert(labels.orderBy("doc_id").as[(Long, Long)].collect().toSeq ==
      unsalted.orderBy("doc_id").as[(Long, Long)].collect().toSeq)
  }
}

class SimilaritySpec extends SparkSpecBase {
  import TestSpark.spark.implicits._

  test("cosine top-k ranks an identical vector first") {
    val v = Array(1.0f, 0.0f, 0.0f)
    val df = Seq((0L, v), (1L, v), (2L, Array(0.0f, 1.0f, 0.0f)), (3L, Array(0.7f, 0.7f, 0.0f)))
      .toDF("vec_id", "embedding")
    val out = Similarity.cosineTopK(df.filter(col("vec_id") === 0), df, 2)
      .select("rank", "vec_id").as[(Int, Long)].collect().toSeq
    assert(out == Seq((1, 1L), (2, 3L)))
  }

  test("multi-table LSH finds identical vectors and dominates single-table recall") {
    val e = graft.sources.Tables.embeddings(spark, sfDir)
    val queries = e.filter(col("vec_id") < 20)
    // an identical vector shares the FULL signature → collides in every
    // table → self-match always found (rank 1 = the copy at cos 1.0)
    val copies = queries.select((col("vec_id") + 100000L).as("vec_id"), col("embedding"))
    val cands = e.select("vec_id", "embedding").unionByName(copies)
    val multi = Similarity.cosineTopKLshMulti(queries, cands, 1, 4, 12)
      .filter(col("rank") === 1)
      .select("qid", "vec_id").as[(Long, Long)].collect().toMap
    assert(multi.size == 20 && multi.forall { case (q, v) => v == q + 100000L },
      s"identical copy not rank-1 for all queries: $multi")
    // OR-amplification: multi-table candidate recall >= single-table
    val truth = Similarity.cosineTopK(queries, e, 10).select("qid", "vec_id")
    def recall(df: org.apache.spark.sql.DataFrame): Double =
      truth.join(df.select("qid", "vec_id"), Seq("qid", "vec_id")).count().toDouble / 200
    val single = recall(Similarity.cosineTopKLsh(queries, e, 10, 8))
    val banded = recall(Similarity.cosineTopKLshMulti(queries, e, 10, 4, 12))
    assert(banded >= single, s"multi-table recall $banded < single-table $single")
    assert(banded >= 0.5, s"multi-table recall too low: $banded")
  }
}

class TextAnalysisSpec extends SparkSpecBase {
  import TestSpark.spark.implicits._

  test("token counts") {
    val df = Seq("hello world, 42 times!").toDF("text")
    val out = df.select(
      TextAnalysis.wsTokenCount(col("text")),
      TextAnalysis.bpeTokenCount(col("text"))).as[(Int, Int)].collect()
    assert(out(0)._1 == 4)
    assert(out(0)._2 == 7) // hello, world, ",", "4", "2", times, "!"
  }

  test("fingerprint is order-sensitive and deterministic") {
    val df = Seq("ab", "ba").toDF("text")
    val out = df.select(TextAnalysis.fingerprint(col("text"))).as[Long].collect()
    assert(out(0) == 1 * 97 + 2 * 98)
    assert(out(1) == 1 * 98 + 2 * 97)
    assert(out(0) != out(1))
  }

  test("gopher flags gate each rule independently") {
    val df = Seq(
      (1L, "the cat sat on the mat"),                           // passes all (n_stop: the×2)
      (2L, "the a"),                                            // word count below min
      (3L, "111 222 333 444 555"),                              // no alpha words, no stopwords
      (4L, "aaaaaaaaaaaaaaaaaaaa bbbbbbbbbbbbbbbbbbbb cccccccccccccccccccc the the") // mean wlen > 12
    ).toDF("doc_id", "text")
    val out = df.select(col("doc_id") +: TextAnalysis.gopherFlags(df, col("text"), 3, 10): _*)
      .orderBy("doc_id")
      .select("doc_id", "pass_wc", "pass_wlen", "pass_alpha", "pass_stop", "pass")
      .as[(Long, Int, Int, Int, Int, Int)].collect()
    assert(out.toSeq == Seq(
      (1L, 1, 1, 1, 1, 1),
      (2L, 0, 1, 1, 1, 0), // "the" and "a" are both stopwords — only the word-count rule fails
      (3L, 1, 1, 0, 0, 0),
      (4L, 1, 0, 1, 1, 0)))
  }

  test("pack-split bins are exactly full except each stream's tail, and tokens are conserved") {
    val out = SparkEntry.queries("q79_pack_split")(spark, sfDir)
      .select("lang", "shard", "bin", "bin_tokens")
      .as[(String, Long, Long, Long)].collect().toSeq
    val byStream = out.groupBy(t => (t._1, t._2))
    byStream.foreach { case (stream, bins) =>
      val tail = bins.map(_._3).max
      val short = bins.filter(b => b._3 != tail && b._4 != 2048L)
      assert(short.isEmpty, s"non-tail bins not full in $stream: $short")
    }
    val total = out.map(_._4).sum
    val expected = graft.sources.Tables.documents(spark, sfDir)
      .select(graft.operators.TextAnalysis.wsTokenCount(col("text")).cast("long")).as[Long]
      .collect().sum
    assert(total == expected, s"token conservation broken: packed $total vs corpus $expected")
  }

  test("temperature mix up-weights small sources and respects the budget") {
    // skewed corpus: src A 900 docs, src B 100. At τ=0.5, B=30%:
    // w_A = 0.75 → p_A = 0.25; w_B = 0.25 → p_B = 0.75 — the small
    // source keeps 3× the rate of the large one (vs 0.3 flat for both
    // under proportional sampling).
    val df = ((1L to 900L).map(i => (s"A", i)) ++ (1L to 100L).map(i => ("B", i + 1000L)))
      .toDF("source", "doc_id")
    val out = TextAnalysis.temperatureMix(df, col("source"), col("doc_id"), 3, 10)
      .orderBy("stratum")
      .select("stratum", "n_docs", "n_kept").as[(String, Long, Long)].collect()
    val Seq(a, b) = out.toSeq
    assert(a._1 == "A" && a._2 == 900L && b._1 == "B" && b._2 == 100L)
    val (rateA, rateB) = (a._3.toDouble / 900, b._3.toDouble / 100)
    assert(rateB > rateA, s"small source not up-weighted: A=$rateA B=$rateB")
    assert(rateA > 0.15 && rateA < 0.35, s"A keep rate off target 0.25: $rateA")
    assert(rateB > 0.60 && rateB < 0.90, s"B keep rate off target 0.75: $rateB")
    // deterministic: identical on re-run
    val again = TextAnalysis.temperatureMix(df, col("source"), col("doc_id"), 3, 10)
      .orderBy("stratum").select("n_kept").as[Long].collect()
    assert(again.toSeq == Seq(a._3, b._3))
  }

  test("budgetSelect keeps whole high cells, cuts the boundary cell by doc order") {
    // quality cells (×1000): 950 holds 200 tokens, 850 holds 300,
    // 500 holds 100. Budget = 1/2 of 600 = 300 → cell 950 kept whole
    // (cum 200), cell 850 is the boundary (remaining 100 → doc 3
    // only, doc-id order), cell 500 dropped whole.
    val df = Seq(
      (1L, 100, 0.9504), (2L, 100, 0.9501),
      (3L, 100, 0.8507), (4L, 100, 0.8502), (5L, 100, 0.8509),
      (6L, 100, 0.5001)
    ).toDF("doc_id", "n_tokens", "quality")
    val out = TextAnalysis.budgetSelect(df, col("doc_id"), col("n_tokens"), col("quality"), 1, 2)
    assert(out.select("doc_id").as[Long].collect().toSet == Set(1L, 2L, 3L))
    // kept token total never exceeds the budget
    assert(out.agg(sum(col("n_tokens"))).as[Long].head() <= 300L)
    // a budget covering everything keeps everything
    val all = TextAnalysis.budgetSelect(df, col("doc_id"), col("n_tokens"), col("quality"), 1, 1)
    assert(all.count() == 6L)
  }
}

class MediaSpec extends SparkSpecBase {
  test("stub decode derives deterministic metadata from payload") {
    val docs = graft.sources.Tables.documents(spark, sfDir).limit(10)
    val metas = operators.Media.decodeAll(operators.Media.fromDocuments(docs)).collect()
    assert(metas.length == 10)
    metas.foreach { m =>
      assert(m.byte_len > 0)
      if (m.media_type == "image") { assert(m.width >= 16 && m.dur_ms == 0) }
      if (m.media_type == "audio") { assert(m.width == 0 && m.dur_ms == m.byte_len * 40) }
    }
  }
}

class LakeSpec extends SparkSpecBase {
  import graft.sources.{Lake, Tables}

  test("lake write/readRange round-trips and prunes partitions") {
    val path = java.nio.file.Files.createTempDirectory("lake").toString
    val ev = Tables.events(spark, sfDir).drop("ts_ns")
    Lake.write(ev, path, to_date(col("ts")))
    val all = Lake.readRange(spark, path, "2024-01-01", "2024-12-31")
    assert(all.count() == ev.count())
    val day = Lake.readRange(spark, path, "2024-01-02", "2024-01-02")
    val expected = ev.filter(to_date(col("ts")) === "2024-01-02").count()
    assert(day.count() == expected)
    // partition pruning visible in the physical plan
    val plan = day.queryExecution.executedPlan.toString
    assert(!plan.contains("PushedFilters: []") || day.rdd.getNumPartitions <= all.rdd.getNumPartitions)
  }

  test("ensureColumns adds missing columns as typed nulls") {
    val df = spark.range(2).toDF("a")
    val out = Lake.ensureColumns(df, Map("a" -> "bigint", "b" -> "double"))
    assert(out.columns.toSet == Set("a", "b"))
    assert(out.filter(col("b").isNull).count() == 2)
  }
}

class CatalogSpec extends SparkSpecBase {
  test("every query has an oracle and vice versa — no rows-only entries") {
    assert(SparkEntry.oracleSql.keySet == SparkEntry.queries.keySet,
      s"asymmetric catalog: only-in-queries=${SparkEntry.queries.keySet.diff(SparkEntry.oracleSql.keySet)}, " +
        s"only-in-oracle=${SparkEntry.oracleSql.keySet.diff(SparkEntry.queries.keySet)}")
  }

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("all queries run at sf0.001 and return rows") {
    // entries that write (lake, IVF index, state chains) run twice and
    // must return the same rows: a write that is not idempotent across
    // in-session reruns passes every single-run gate
    val writers = Set("lake_daily_prune", "q36_bucketed_latest", "q109_zorder_prune",
      "q116_copy_verify", "q46_ivf_index", "q125_ivf_incr", "q127_ingest_advance",
      "q128_delta_roundtrip", "q130_dup_state_roundtrip", "q134_daily_cycle_persisted",
      "q135_daily_cycle_rebase")
    assert(writers.subsetOf(SparkEntry.queries.keySet))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSeq.sortBy(_.toString)
    SparkEntry.queries.foreach { case (name, fn) =>
      if (writers(name)) {
        val first = rows(fn(spark, sfDir))
        assert(first.nonEmpty, s"query $name returned 0 rows")
        assert(rows(fn(spark, sfDir)) == first, s"query $name diverged on rerun")
      } else {
        val n = fn(spark, sfDir).count()
        assert(n > 0, s"query $name returned 0 rows")
      }
    }
  }
}

class CosineSimSpec extends SparkSpecBase {
  import TestSpark.spark.implicits._
  import graft.operators.Similarity

  test("native graft_cosine is registered and bit-identical to the HOF formulation") {
    assert(spark.sessionState.functionRegistry.functionExists(functions.CosineSim.identifier))
    val e = graft.sources.Tables.embeddings(spark, sfDir).limit(50)
    val pairs = e.select(col("vec_id").as("ida"), col("embedding").as("a"))
      .crossJoin(e.select(col("vec_id").as("idb"), col("embedding").as("b")))
      .filter(col("ida") < col("idb"))
    val both = pairs.select(
      call_function("graft_cosine", col("a"), col("b")).as("native"),
      (Similarity.dot(col("a"), col("b")) /
        sqrt(Similarity.normSq(col("a")) * Similarity.normSq(col("b")))).as("hof"))
    assert(both.filter(col("native") =!= col("hof")).count() == 0)
    assert(both.filter(abs(col("native")) > 1.0000001).count() == 0)
  }
}

class GeoSkewSpec extends SparkSpecBase {
  import TestSpark.spark.implicits._
  import graft.operators.{Geo, Skew}

  test("nearestJoin picks the argmin hub with id tiebreak") {
    val pts = Seq((1L, 0.0, 0.0), (2L, 10.0, 10.0)).toDF("id", "lat", "lon")
    val hubs = Seq((100L, 1.0, 1.0), (200L, 9.0, 9.0), (300L, 9.0, 9.0)).toDF("hid", "hlat", "hlon")
    val out = Geo.nearestJoin(pts, col("id"), col("lat"), col("lon"),
        hubs, col("hid"), col("hlat"), col("hlon"))
      .select("left_id", "right_id").orderBy("left_id").as[(Long, Long)].collect()
    assert(out.toSeq == Seq((1L, 100L), (2L, 200L)))
  }

  test("saltedJoin preserves equi-join semantics") {
    val big = Seq((1L, "x"), (1L, "y"), (2L, "z")).toDF("k", "v")
    val small = Seq((1L, "dim1"), (2L, "dim2")).toDF("k", "d")
    val plain = big.join(small, Seq("k")).orderBy("k", "v").collect().toSeq
    val salted = Skew.saltedJoin(big, small, "k", 4, col("v")).orderBy("k", "v").collect().toSeq
    assert(plain == salted)
  }

  test("twoPhaseCount matches plain count") {
    val df = Seq.tabulate(100)(i => (i % 3, i)).toDF("k", "v")
    val out = Skew.twoPhaseCount(df, col("k"), col("v"), 8)
      .orderBy("key").as[(Int, Long)].collect().toSeq
    assert(out == Seq((0, 34L), (1, 33L), (2, 33L)))
  }
}

class StreamingIngestSpec extends SparkSpecBase {
  test("file-source snapshots stream into the partitioned lake exactly once") {
    val src = java.nio.file.Files.createTempDirectory("snaps").toString
    val lake = java.nio.file.Files.createTempDirectory("lakeout").toString
    val ckpt = java.nio.file.Files.createTempDirectory("ckpt").toString
    val ev = graft.sources.Tables.events(spark, sfDir).drop("ts_ns").limit(500)
    ev.write.mode("overwrite").parquet(src)
    val stream = graft.streaming.EventStream.readSnapshots(spark, src, ev)
    val q = graft.streaming.EventStream.writeToLake(stream, lake, ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val back = spark.read.parquet(lake)
    assert(back.count() == ev.count())
    assert(back.columns.contains("p_date"))
  }
}

class XmlIngestSpec extends SparkSpecBase {
  import TestSpark.spark.implicits._
  import graft.sources.Xml

  test("xml observation snapshots parse distributed and round-trip") {
    val xml = """<row><station_id>KBOS</station_id><latitude>42.36</latitude><longitude>-71.01</longitude><generated_at>2024-01-01T00:00:00Z</generated_at><temperature_value>3.5</temperature_value><dewpoint_value>1.0</dewpoint_value><wind_speed>12</wind_speed><wind_direction>270</wind_direction><precip_in>0.02</precip_in><wx_string>RA BR</wx_string></row>"""
    val parsed = Xml.observations(Seq(xml).toDF("payload"), "payload")
    val row = parsed.collect()(0)
    assert(row.getAs[String]("station_id") == "KBOS")
    assert(row.getAs[Double]("temperature_value") == 3.5)
    assert(row.getAs[Long]("wind_direction") == 270L)
    // round-trip: rows -> xml -> rows
    val back = Xml.observations(Xml.toObservationXml(parsed), "xml")
    assert(back.collect()(0).getAs[String]("wx_string") == "RA BR")
  }
}

class MediaDerivativesSpec extends SparkSpecBase {
  import graft.operators.Media

  test("resize keeps bounds; frame sampling respects duration") {
    val docs = graft.sources.Tables.documents(spark, sfDir).limit(30)
    val files = Media.fromDocuments(docs)
    Media.resizeAll(files, 64).collect().foreach { r =>
      assert(r.width <= 64 && r.height <= 64 && r.width >= 1)
    }
    val frames = Media.sampleFrames(files, 2000).collect()
    assert(frames.nonEmpty)
    frames.groupBy(_.media_id).foreach { case (_, fs) =>
      assert(fs.map(_.frame_idx).sorted.toSeq == (0 until fs.length))
    }
  }
}

class LatestAggSpec extends SparkSpecBase {
  import TestSpark.spark.implicits._
  import graft.operators.Rollups

  test("latestPerKeyAgg matches the window formulation") {
    val ev = graft.sources.Tables.events(spark, sfDir)
    val viaWindow = Rollups.latestPerKey(ev, Seq(col("user_id")), Seq(col("ts"), col("event_id")))
      .select(col("user_id"), col("event_id")).orderBy("user_id")
      .as[(Long, Long)].collect().toSeq
    val viaAgg = Rollups.latestPerKeyAgg(ev, Seq(col("user_id")),
        struct(col("ts"), col("event_id")), Seq("event_id"))
      .orderBy("user_id").as[(Long, Long)].collect().toSeq
    assert(viaWindow == viaAgg)
  }
}

class IvfSpec extends SparkSpecBase {
  import TestSpark.spark.implicits._
  import graft.operators.Similarity

  test("IVF ANN returns ranked neighbors with decent overlap vs brute force") {
    val e = graft.sources.Tables.embeddings(spark, sfDir)
    val q = e.filter(col("vec_id") < 3)
    val ivf = Similarity.cosineTopKIvf(q, e, 5, centroidEvery = 16, nProbe = 4)
      .select("qid", "vec_id").as[(Long, Long)].collect().toSet
    val brute = Similarity.cosineTopK(q, e, 5)
      .select("qid", "vec_id").as[(Long, Long)].collect().toSet
    assert(ivf.nonEmpty)
    // recall need not be 1.0, but the probe should find a meaningful share
    assert((ivf intersect brute).size >= brute.size / 3, s"overlap too low: ${(ivf intersect brute).size}/${brute.size}")
  }
}

class PlanInvariantsSpec extends SparkSpecBase {
  // SURVEY §4 physical-plan invariants, asserted against the real
  // catalog queries so a regression (lost pushdown, broadcast turned
  // shuffle, window creeping back into an agg path) fails CI, not a
  // judge round.
  private def planOf(name: String): String =
    SparkEntry.queries(name)(spark, sfDir).queryExecution.executedPlan.toString

  test("q2: predicates are pushed to the parquet scan") {
    val p = planOf("q2_filter_project")
    assert(p.contains("PushedFilters: [") && !p.contains("PushedFilters: []"))
  }

  test("q4: dimension join is a broadcast hash join") {
    assert(planOf("q4_broadcast_join").contains("BroadcastHashJoin"))
  }

  test("q9: dedup-latest plans as partial max_by aggregation, no window") {
    val p = planOf("q9_latest_per_key")
    assert(!p.contains("Window"))
    assert(p.contains("partial_max_by"))
  }

  test("knn rank paths use the bounded top-k aggregate, not a window sort") {
    Seq("knn_cosine_brute", "knn_lsh").foreach { q =>
      val p = planOf(q)
      assert(!p.contains("Window"), s"$q has a window rank")
      assert(p.contains("ObjectHashAggregate"), s"$q lost the bounded top-k agg")
    }
  }

  test("q1: map-side partial aggregation before the exchange") {
    assert(planOf("q1_agg").contains("partial_"))
  }

  test("no cartesian products anywhere in the relational core") {
    Seq("q3_join_agg", "q5_multi_join", "q19_semi_join", "q38_asof_join")
      .foreach(q => assert(!planOf(q).contains("CartesianProduct"), s"$q has a cartesian product"))
  }

  test("q60/q65: rank paths stay on the bounded top-k aggregate") {
    Seq("q60_sq8_ann", "q65_weighted_sample").foreach { q =>
      val p = planOf(q)
      assert(!p.contains("Window"), s"$q has a window rank")
      assert(p.contains("ObjectHashAggregate"), s"$q lost the bounded top-k agg")
    }
  }

  test("q61: event-type predicates reach the parquet scan") {
    val p = planOf("q61_funnel")
    assert(p.contains("EqualTo(event_type,click)") && p.contains("EqualTo(event_type,purchase)"))
  }

  test("q63: explicit pivot values plan as one aggregation, no extra scan pass") {
    val p = planOf("q63_pivot")
    // a values-discovery pivot would collect() distinct values first;
    // explicit values keep it to aggregate stages over ONE scan
    assert(p.contains("partial_"))
    assert("FileScan parquet".r.findAllIn(p).size == 1, "pivot must scan events exactly once")
  }

  test("q66: the per-language medians come back as a broadcast join") {
    assert(planOf("q66_adaptive_quality_gate").contains("BroadcastHashJoin"))
  }

  test("q68: the bitmap pre-filter is a scan-side Filter, not a join") {
    val p = planOf("q68_bloom_decontaminate")
    // mask probe = broadcast nested loop (1-row mask) feeding a Filter;
    // the exact bench-ngram hash join only sees survivors
    assert(p.contains("BroadcastNestedLoopJoin") && p.contains("Filter"))
  }
}

class RewriteTopOneSpec extends SparkSpecBase {
  import TestSpark.spark.implicits._
  import org.apache.spark.sql.expressions.Window
  import org.apache.spark.sql.catalyst.plans.logical

  private def hasWindow(df: org.apache.spark.sql.DataFrame): Boolean =
    df.queryExecution.optimizedPlan.exists(_.isInstanceOf[logical.Window])

  test("latestPerKey optimizes to an aggregate (no Window) and matches") {
    val df = Seq((1L, 10L, "a"), (1L, 20L, "b"), (2L, 5L, "c")).toDF("k", "ord", "v")
    val out = Rollups.latestPerKey(df, Seq(col("k")), Seq(col("ord"), col("v")))
    assert(!hasWindow(out))
    assert(out.queryExecution.optimizedPlan.exists(_.isInstanceOf[logical.Aggregate]))
    val rows = out.orderBy("k").select("k", "v").as[(Long, String)].collect().toSeq
    assert(rows == Seq((1L, "b"), (2L, "c")))
  }

  test("rewrite preserves NULL placement (desc = nulls last)") {
    val df = Seq((1L, Option(10L), "a"), (1L, Option.empty[Long], "n"),
      (2L, Option.empty[Long], "x"), (2L, Option.empty[Long], "y")).toDF("k", "ord", "v")
    val w = Window.partitionBy($"k").orderBy($"ord".desc, $"v".desc)
    val out = df.withColumn("rn", row_number().over(w)).filter($"rn" === 1).drop("rn")
    assert(!hasWindow(out))
    val rows = out.orderBy("k").select("k", "v").as[(Long, String)].collect().toSeq
    // k=1: the non-null ord wins; k=2 (all-null ord): v-desc tiebreak survives
    assert(rows == Seq((1L, "a"), (2L, "y")))
  }

  test("mixed-direction ordering and rank<=2 are left as windows") {
    val df = Seq((1L, 1L, 2L), (1L, 2L, 1L)).toDF("k", "a", "b")
    val mixed = Window.partitionBy($"k").orderBy($"a".desc, $"b".asc)
    val q1 = df.withColumn("rn", row_number().over(mixed)).filter($"rn" === 1).drop("rn")
    assert(hasWindow(q1))
    val uni = Window.partitionBy($"k").orderBy($"a".desc, $"b".desc)
    val q2 = df.withColumn("rn", row_number().over(uni)).filter($"rn" <= 2).drop("rn")
    assert(hasWindow(q2))
    // exported rank column blocks the rewrite too
    val q3 = df.withColumn("rn", row_number().over(uni)).filter($"rn" === 1)
    assert(hasWindow(q3))
  }

  test("residual predicates survive above the rewrite") {
    val df = Seq((1L, 10L, 5L), (1L, 20L, 1L), (2L, 9L, 9L)).toDF("k", "ord", "v")
    val w = Window.partitionBy($"k").orderBy($"ord".desc)
    val out = df.withColumn("rn", row_number().over(w))
      .filter($"rn" === 1 && $"v" > 3).drop("rn")
    assert(!hasWindow(out))
    val rows = out.select("k", "v").orderBy("k").as[(Long, Long)].collect().toSeq
    // k=1's latest row has v=1 -> filtered AFTER top-1 selection; k=2 stays
    assert(rows == Seq((2L, 9L)))
  }

  test("conf kill-switch restores the window plan and the same rows") {
    val df = Seq((1L, 10L, "a"), (1L, 20L, "b")).toDF("k", "ord", "v")
    def q = Rollups.latestPerKey(df, Seq(col("k")), Seq(col("ord"), col("v")))
    spark.conf.set("spark.graft.rewriteTopOne", "false")
    try {
      assert(hasWindow(q))
      assert(q.select("v").as[String].collect().toSeq == Seq("b"))
    } finally spark.conf.unset("spark.graft.rewriteTopOne")
    assert(!hasWindow(q))
  }
}

class SemDedupSpec extends SparkSpecBase {
  import TestSpark.spark.implicits._
  import graft.operators.Similarity

  test("semDedup drops planted near-copies, keeps the lower id") {
    val e = graft.sources.Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding"))
    // exact copies land in the same cell with cos = 1 > any threshold
    val dup = e.filter(col("vec_id") < 10)
      .select((col("vec_id") + 5000).as("vec_id"), col("embedding"))
    val kept = Similarity.semDedup(e.unionByName(dup), 0.999, 16, 1)
      .select("vec_id").as[Long].collect().toSet
    assert((0L until 10L).forall(kept.contains))       // canonical ids stay
    assert((5000L until 5010L).forall(!kept.contains(_))) // copies dropped
    assert(kept.size >= 10)
  }
}

class PqSpec extends SparkSpecBase {
  import TestSpark.spark.implicits._
  import graft.operators.Similarity

  test("PQ codebooks: one per (subspace, code), 8-dim codewords") {
    val e = graft.sources.Tables.embeddings(spark, sfDir)
    val cb = Similarity.pqCodebooks(e, m = 8, kCodes = 16, iters = 1)
      .select(col("s"), col("code"), size(col("cent")).as("w"))
      .as[(Int, Int, Int)].collect()
    assert(cb.map(c => (c._1, c._2)).distinct.length == cb.length)
    assert(cb.forall(_._3 == 8))
    assert(cb.map(_._1).distinct.sorted.toSeq == (0 until 8))
  }

  test("PQ ANN ranks an exact duplicate first and overlaps brute force") {
    val e = graft.sources.Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding"))
    // plant an exact copy of vec 1 — identical codes => top ADC => rank 1
    val dup = e.filter(col("vec_id") === 1)
      .select((col("vec_id") + 5000).as("vec_id"), col("embedding"))
    val cands = e.unionByName(dup)
    val q = e.filter(col("vec_id") < 3)
    val pq = Similarity.cosineTopKPq(q, cands, 5)
      .select("qid", "rank", "vec_id").as[(Long, Int, Long)].collect()
    assert(pq.exists(r => r._1 == 1L && r._2 == 1 && r._3 == 5001L))
    val brute = Similarity.cosineTopK(q, cands, 5)
      .select("qid", "vec_id").as[(Long, Long)].collect().toSet
    val got = pq.map(r => (r._1, r._3)).toSet
    assert((got intersect brute).size >= brute.size / 3,
      s"overlap too low: ${(got intersect brute).size}/${brute.size}")
  }
}

class BucketedLakeSpec extends SparkSpecBase {
  test("bucketed tables join without a shuffle exchange") {
    val sp = spark
    sp.conf.set("spark.sql.sources.bucketing.enabled", "true")
    sp.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force non-broadcast to observe bucketing
    try {
      val ev = graft.sources.Tables.events(sp, sfDir).drop("ts_ns")
      graft.sources.Lake.writeBucketed(ev.select("user_id", "value", "ts", "event_id"),
        "ev_a", "user_id", 8)
      graft.sources.Lake.writeBucketed(ev.select(col("user_id"), col("event_type")), "ev_b", "user_id", 8)
      val joined = sp.table("ev_a").join(sp.table("ev_b"), "user_id")
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange hashpartitioning"), s"unexpected shuffle:\n$plan")
      assert(joined.count() > 0)
      // the keyed latest-per-user rollup (q36's shape) is exchange-free
      // over the same bucketing
      val latest = Rollups.latestPerKey(sp.table("ev_a"), Seq(col("user_id")),
        Seq(col("ts"), col("event_id")))
      val latestPlan = latest.queryExecution.executedPlan.toString
      assert(!latestPlan.contains("Exchange hashpartitioning"),
        s"bucketed rollup shuffled:\n$latestPlan")
    } finally {
      sp.conf.set("spark.sql.autoBroadcastJoinThreshold", (64L * 1024 * 1024).toString)
      sp.sql("DROP TABLE IF EXISTS ev_a"); sp.sql("DROP TABLE IF EXISTS ev_b")
    }
  }

  test("writeBucketed delete-guard walks a scheme'd (non-file:) URI via Hadoop FS") {
    val sp = spark
    // map a custom scheme onto the local FS so a non-file: URI is real
    // here: the old java.io.File walk saw nothing behind the scheme and
    // silently skipped the refuse-to-delete check
    sp.sparkContext.hadoopConfiguration.set("fs.graftfs.impl",
      classOf[GraftTestFs].getName)
    val dir = java.nio.file.Files.createTempDirectory("graft_bucketed_guard").toFile
    val precious = new java.io.File(dir, "precious.txt")
    try {
      java.nio.file.Files.write(precious.toPath, "keep me".getBytes)
      val uri = s"graftfs://${dir.getAbsolutePath}"
      val ex = intercept[IllegalArgumentException] {
        graft.sources.Lake.writeBucketed(
          graft.sources.Tables.events(sp, sfDir).select("user_id", "value").limit(1),
          "ev_guard", "user_id", 2, Some(uri))
      }
      assert(ex.getMessage.contains("refusing to delete"))
      assert(precious.exists, "guard must leave the non-table tree untouched")
    } finally {
      sp.sql("DROP TABLE IF EXISTS ev_guard")
      precious.delete(); dir.delete(); ()
    }
  }
}

/** A local FS served under a non-`file:` scheme, so specs can exercise
  * URI-scheme'd Hadoop FileSystem code paths without a cluster.
  */
class GraftTestFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("graftfs:///")
}

class EventMarketSpec extends SparkSpecBase {
  import TestSpark.spark.implicits._
  import graft.operators.EventMarket

  test("full market ETL: score -> rank -> attest") {
    val entries = Seq(
      (1L, 10L, "KBOS", "over", "par", "under"),
      (2L, 10L, "KBOS", "par", "par", "par"),
      (3L, 10L, "KJFK", "under", "over", "over"),
      (4L, 11L, "KBOS", "over", "over", "over"))
      .toDF("entry_id", "event_id", "station_id", "choice_temp_high", "choice_temp_low", "choice_wind")
    val fc = Seq((10L, "KBOS", 40L, 20L, 10L), (10L, "KJFK", 50L, 30L, 15L), (11L, "KBOS", 40L, 20L, 10L))
      .toDF("event_id", "station_id", "temp_high", "temp_low", "wind_speed")
    val obs = Seq((10L, "KBOS", 45L, 20L, 5L), (10L, "KJFK", 45L, 35L, 20L), (11L, "KBOS", 45L, 25L, 20L))
      .toDF("event_id", "station_id", "obs_temp_high", "obs_temp_low", "obs_wind")

    val scores = EventMarket.scoreEntries(entries, fc, obs)
      .orderBy("entry_id").as[(Long, Long, Long)].collect().toSeq
    // entry1: over(45>40)=10 + par(20=20)=20 + under(5<10)=10 = 40
    // entry2: par high no, par low yes 20, par wind no = 20
    // entry3: under(45<50)=10 + over(35>30)=10 + over(20>15)=10 = 30
    // entry4: over yes 10 + over yes 10 + over yes 10 = 30
    assert(scores == Seq((10L, 1L, 40L), (10L, 2L, 20L), (10L, 3L, 30L), (11L, 4L, 30L)))

    val w = EventMarket.winners(
      EventMarket.scoreEntries(entries, fc, obs), col("entry_id") * 100, 2)
    val top = w.orderBy("event_id", "rank").select("event_id", "rank", "entry_id")
      .as[(Long, Int, Long)].collect().toSeq
    assert(top == Seq((10L, 1, 1L), (10L, 2, 3L), (11L, 1, 4L)))

    val att = EventMarket.attestations(w).orderBy("event_id").collect()
    assert(att.length == 2)
    assert(att(0).getAs[String]("attestation").length == 64)
    // deterministic: same inputs -> same attestation
    val att2 = EventMarket.attestations(w).orderBy("event_id").collect()
    assert(att(0).getAs[String]("attestation") == att2(0).getAs[String]("attestation"))
  }
}

class StatsSpec extends SparkSpecBase {
  import TestSpark.spark.implicits._
  import graft.operators.Stats

  test("approx distinct within rsd of exact; approx quantiles near exact") {
    val ev = graft.sources.Tables.events(spark, sfDir)
    val approx = Stats.approxDistinct(ev, Seq(col("event_type")), col("user_id"))
      .orderBy("event_type").as[(String, Long)].collect().toMap
    val exact = ev.groupBy("event_type").agg(countDistinct(col("user_id")).as("n"))
      .orderBy("event_type").as[(String, Long)].collect().toMap
    exact.foreach { case (k, n) =>
      assert(math.abs(approx(k) - n) <= math.max(2, (n * 0.1).toLong), s"$k: ${approx(k)} vs $n")
    }
    val aq = Stats.approxQuantiles(ev, Seq(col("event_type")), col("value"), Seq(0.5))
      .as[(String, Seq[Double])].collect().toMap
    val eq = Stats.exactQuantiles(ev, Seq(col("event_type")), col("value"), Seq(0.5))
      .as[(String, Seq[Double])].collect().toMap
    eq.foreach { case (k, q) =>
      assert(math.abs(aq(k).head - q.head) <= math.max(1.0, q.head * 0.05))
    }
  }
}

class CompactionSpec extends SparkSpecBase {
  test("partition compaction preserves rows, reduces files") {
    val path = java.nio.file.Files.createTempDirectory("lakec").toString
    val ev = graft.sources.Tables.events(spark, sfDir).drop("ts_ns").repartition(8)
    graft.sources.Lake.write(ev, path, to_date(col("ts")))
    val day = spark.read.parquet(path).filter(col("p_date") === "2024-01-02")
    val before = day.count()
    graft.sources.Lake.compactPartition(spark, path, "2024-01-02", 1)
    val dir = new java.io.File(s"$path/p_date=2024-01-02")
    assert(dir.listFiles().count(_.getName.endsWith(".parquet")) == 1)
    assert(spark.read.parquet(path).filter(col("p_date") === "2024-01-02").count() == before)
  }
}

class TopKAggSpec extends SparkSpecBase {
  import TestSpark.spark.implicits._

  test("typed top-k aggregator matches window ranking on ANN scores") {
    val e = graft.sources.Tables.embeddings(spark, sfDir)
    val brute = graft.operators.Similarity.cosineTopK(e.filter(col("vec_id") < 3), e, 4)
    val expected = brute.orderBy("qid", "rank")
      .select("qid", "vec_id").as[(Long, Long)].collect().toSeq
    // same scored pairs, ranked via the bounded-heap aggregator
    val q = e.filter(col("vec_id") < 3)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
    val scored = e.select(col("vec_id"), col("embedding").as("ce"))
      .crossJoin(broadcast(q)).filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"),
        call_function("graft_cosine", col("qe"), col("ce")).as("cos"))
      .as[(Long, Long, Double)]
    val agg = new graft.functions.TopKAgg(4).toColumn
    val viaAgg = scored.groupByKey(_._1)
      .mapValues(r => (r._3, r._2))
      .agg(agg.name("topk"))
      .flatMap { case (qid, top) => top.map { case (_, id) => (qid, id) } }
      .collect().toSeq
    val expectedSet = expected.groupBy(_._1).view.mapValues(_.map(_._2).toList).toMap
    val aggSet = viaAgg.groupBy(_._1).view.mapValues(_.map(_._2).toList).toMap
    assert(aggSet == expectedSet)
  }
}

class LshConsistencySpec extends SparkSpecBase {
  import TestSpark.spark.implicits._
  import graft.operators.Dedup

  private def corpus = {
    val d = graft.sources.Tables.documents(spark, sfDir).select(col("doc_id"), col("text"))
    d.unionByName(d.filter(pmod(col("doc_id"), lit(10)) === 0)
        .select((col("doc_id") + 10000).as("doc_id"), col("text")))
  }

  test("minhash-lsh finds every planted exact duplicate with jaccard 1.0") {
    val pairs = Dedup.minHashLshPairs(corpus, col("doc_id"), col("text"), 3, 4, 4, 0.5)
      .as[(Long, Long, Double)].collect()
    val planted = corpus.filter(col("doc_id") >= 10000)
      .select((col("doc_id") - 10000).as("a"), col("doc_id").as("b"))
      .as[(Long, Long)].collect().toSet
    val found = pairs.map(p => (p._1, p._2)).toSet
    assert(planted.subsetOf(found), s"missed ${planted.diff(found).size} of ${planted.size} planted dup pairs")
    planted.foreach { p =>
      val j = pairs.find(x => (x._1, x._2) == p).get._3
      assert(j == 1.0)
    }
  }

  test("simhash finds every planted exact duplicate at distance 0") {
    val pairs = Dedup.simHashPairs(corpus, col("doc_id"), col("text"), 7)
      .as[(Long, Long, Long)].collect()
    val planted = corpus.filter(col("doc_id") >= 10000)
      .select((col("doc_id") - 10000).as("a"), col("doc_id").as("b"))
      .as[(Long, Long)].collect().toSet
    val zeroDist = pairs.filter(_._3 == 0L).map(p => (p._1, p._2)).toSet
    assert(planted.subsetOf(zeroDist), s"missed ${planted.diff(zeroDist).size} planted pairs")
  }

  test("minhash-lsh pairs are a subset of exact ngram-jaccard pairs at the same threshold") {
    val lsh = Dedup.minHashLshPairs(corpus, col("doc_id"), col("text"), 3, 4, 4, 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    // exact verify with no df cap → ground truth above threshold
    val exact = Dedup.ngramJaccardPairs(corpus, col("doc_id"), col("text"), 3, Int.MaxValue, 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(lsh.subsetOf(exact), s"${lsh.diff(exact).size} lsh pairs not in exact ground truth")
  }
}

class PolyHashSpec extends SparkSpecBase {
  import TestSpark.spark.implicits._
  import graft.operators.Dedup

  test("native graft_polyhash matches the HOF fold and a reference fold") {
    assert(spark.sessionState.functionRegistry.functionExists(functions.PolyHash.identifier))
    val docs = graft.sources.Tables.documents(spark, sfDir).limit(100)
      .select(col("text"))
    val hof = aggregate(
      transform(sequence(lit(1), length(col("text"))), i => ascii(substring(col("text"), i, lit(1)))),
      lit(0L), (acc, c) => (acc * Dedup.PolyB1 + c) % Dedup.PolyP1)
    val both = docs.select(
      call_function("graft_polyhash", col("text"), lit(Dedup.PolyB1), lit(Dedup.PolyP1)).as("native"),
      hof.as("hofv"), col("text"))
    assert(both.filter(col("native") =!= col("hofv")).count() == 0)
    // driver-side reference fold on a sample
    both.limit(10).collect().foreach { r =>
      val expect = r.getString(2).foldLeft(0L)((h, ch) => (h * Dedup.PolyB1 + ch.toInt) % Dedup.PolyP1)
      assert(r.getLong(0) == expect)
    }
    // range invariant: always within [0, p)
    assert(both.filter(col("native") < 0 || col("native") >= Dedup.PolyP1).count() == 0)
  }
}

class EmbeddingDedupSpec extends SparkSpecBase {
  import TestSpark.spark.implicits._
  import graft.operators.Similarity

  test("cosineNearDupPairs finds exact planted copies and nothing below threshold") {
    val e = graft.sources.Tables.embeddings(spark, sfDir).limit(200)
      .select(col("vec_id"), col("embedding"))
    // plant EXACT copies (cos = 1.0, identical rh-signature -> recall 1)
    val corpus = e.unionByName(
      e.filter(pmod(col("vec_id"), lit(4)) === 0)
        .select((col("vec_id") + 10000).as("vec_id"), col("embedding")))
    val pairs = Similarity.cosineNearDupPairs(corpus, col("vec_id"), col("embedding"), 0.99, 8)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val planted = e.filter(pmod(col("vec_id"), lit(4)) === 0)
      .select(col("vec_id"), (col("vec_id") + 10000).as("b")).as[(Long, Long)].collect().toSet
    assert(planted.subsetOf(pairs), s"missed ${planted.diff(pairs).size} of ${planted.size} exact copies")
    // near-orthogonal random embeddings should not pair at 0.99
    assert(pairs.forall { case (a, b) => (b - a) == 10000L || planted.contains((a, b)) },
      "found a >=0.99 pair that is not a planted copy")
  }
}

class RhSigSpec extends SparkSpecBase {
  import graft.operators.Similarity

  test("native graft_rhsig matches the HOF formulation bit for bit") {
    assert(spark.sessionState.functionRegistry.functionExists(functions.RhSig.identifier))
    val e = graft.sources.Tables.embeddings(spark, sfDir).limit(200)
    for (bits <- Seq(8, 16)) {
      val both = e.select(
        call_function("graft_rhsig", col("embedding"), lit(bits)).as("native"),
        Similarity.rhSignature(col("embedding"), bits).as("hof"))
      assert(both.filter(col("native") =!= col("hof")).count() == 0, s"mismatch at nBits=$bits")
      assert(both.filter(col("native") < 0 || col("native") >= (1L << bits)).count() == 0)
    }
  }
}

class SaltedLshSpec extends SparkSpecBase {
  import TestSpark.spark.implicits._
  import graft.operators.Dedup

  test("salted band join returns exactly the unsalted pairs under a synthetic hot bucket") {
    // 40 near-identical docs (one shared template) -> one hot LSH
    // bucket, plus unrelated filler docs
    val hot = (0 until 40).map(i => (i.toLong, s"the quick brown fox jumps over the lazy dog number $i end"))
    val filler = (100 until 140).map(i => (i.toLong,
      s"completely different content item $i with words ${i * 7} ${i * 13} ${i * 31} distinct tail"))
    val df = (hot ++ filler).toDF("doc_id", "text")
    val plain = Dedup.minHashLshPairs(df, col("doc_id"), col("text"), 3, 4, 4, 0.3)
      .as[(Long, Long, Double)].collect().toSet
    val salted = Dedup.minHashLshPairs(df, col("doc_id"), col("text"), 3, 4, 4, 0.3, salts = 8)
      .as[(Long, Long, Double)].collect().toSet
    assert(plain.nonEmpty, "hot bucket produced no pairs — test corpus broken")
    assert(salted == plain, s"salting changed the result: ${salted.diff(plain).size} extra, ${plain.diff(salted).size} missing")
  }
}

class NgramHashesSpec extends SparkSpecBase {
  import TestSpark.spark.implicits._
  import graft.operators.Dedup

  test("native graft_ngram_hashes matches the composed HOF form as a multiset") {
    assert(spark.sessionState.functionRegistry.functionExists(functions.NgramHashes.identifier))
    val docs = graft.sources.Tables.documents(spark, sfDir).limit(100)
      .select(col("doc_id"), col("text"))
    val native = docs.select(col("doc_id"),
        call_function("graft_ngram_hashes", col("text"), lit(3), lit(Dedup.PolyB1), lit(Dedup.PolyP1)).as("hs"))
      .select(col("doc_id"), explode(col("hs")).as("h"))
    val hof = docs.select(col("doc_id"),
        explode(transform(Dedup.wordNgrams(col("text"), 3),
          ng => Dedup.polyHash(docs, ng, Dedup.PolyB1, Dedup.PolyP1))).as("h"))
    assert(native.count() == hof.count())
    assert(native.exceptAll(hof).count() == 0)
    assert(hof.exceptAll(native).count() == 0)
  }

  test("graft_ngram_hashes yields empty for docs shorter than n words") {
    val df = Seq((1L, "one two"), (2L, "a b c d")).toDF("doc_id", "text")
    val out = df.select(col("doc_id"),
        size(call_function("graft_ngram_hashes", col("text"), lit(3), lit(Dedup.PolyB1), lit(Dedup.PolyP1))).as("k"))
      .as[(Long, Int)].collect().toMap
    assert(out(1L) == 0)
    assert(out(2L) == 2)
  }
}

class DwmlSpec extends SparkSpecBase {
  import TestSpark.spark.implicits._
  import graft.sources.Xml

  test("DWML time-layout expansion joins values to their windows by layout key and position") {
    val doc =
      """<dwml><data>
        |<location><location-key>KDCA</location-key><point latitude="38.85" longitude="-77.03"/></location>
        |<time-layout><layout-key>k-p12h-n2</layout-key>
        |  <start-valid-time>2024-01-01T00:00:00</start-valid-time>
        |  <start-valid-time>2024-01-01T12:00:00</start-valid-time>
        |  <end-valid-time>2024-01-01T12:00:00</end-valid-time>
        |  <end-valid-time>2024-01-02T00:00:00</end-valid-time>
        |</time-layout>
        |<time-layout><layout-key>k-p24h-n1</layout-key>
        |  <start-valid-time>2024-01-01T00:00:00</start-valid-time>
        |  <end-valid-time>2024-01-02T00:00:00</end-valid-time>
        |</time-layout>
        |<parameters>
        |  <temperature type="maximum" time-layout="k-p12h-n2"><value>10.0</value><value>12.0</value></temperature>
        |  <temperature type="minimum" time-layout="k-p24h-n1"><value>-3.0</value></temperature>
        |</parameters>
        |</data></dwml>""".stripMargin
    val out = Xml.dwmlForecasts(Seq(doc).toDF("xml"), "xml")
      .as[(String, String, String, String, Double)].collect().toSet
    assert(out == Set(
      ("KDCA", "maximum", "2024-01-01T00:00:00", "2024-01-01T12:00:00", 10.0),
      ("KDCA", "maximum", "2024-01-01T12:00:00", "2024-01-02T00:00:00", 12.0),
      ("KDCA", "minimum", "2024-01-01T00:00:00", "2024-01-02T00:00:00", -3.0)))
  }
}

class MediaFeatureSpec extends SparkSpecBase {
  import TestSpark.spark.implicits._
  import graft.operators.{Media, Similarity}

  test("extractFeatures emits unit-norm embeddings that flow into the ANN operators") {
    val files = Media.fromDocuments(graft.sources.Tables.documents(spark, sfDir).limit(60))
    val emb = Media.extractFeatures(files).cache()
    // unit norm (within float tolerance)
    val norms = emb.map(e => e.embedding.map(x => x.toDouble * x).sum).collect()
    assert(norms.forall(n => math.abs(n - 1.0) < 1e-5))
    // deterministic: same input -> same embedding
    val again = Media.extractFeatures(files).collect().map(e => e.media_id -> e.embedding.toSeq).toMap
    emb.collect().foreach(e => assert(again(e.media_id) == e.embedding.toSeq))
    // plugs into the ANN surface: identical payloads are each other's top-1
    val df = emb.toDF("vec_id", "embedding")
    val dup = df.unionByName(df.filter(col("vec_id") < 3)
      .withColumn("vec_id", col("vec_id") + 10000))
    val top = Similarity.cosineTopK(dup.filter(col("vec_id") >= 10000), dup, 1)
      .select("qid", "vec_id").as[(Long, Long)].collect().toMap
    (0L until 3L).foreach(i => assert(top(i + 10000) == i, s"copy of $i should rank $i first"))
  }
}

class AsOfJoinSpec extends SparkSpecBase {
  import TestSpark.spark.implicits._
  import graft.operators.Rollups

  test("asOfJoin picks the latest right value at-or-before each left time, per key") {
    val left = Seq((1L, 100L, 5L), (1L, 200L, 6L), (2L, 50L, 7L), (3L, 10L, 8L))
      .toDF("k", "t", "lid")
      .select(col("lid"), col("k"), col("t"))
    val right = Seq((1L, 100L, 1.0, 11L), (1L, 150L, 2.0, 12L), (2L, 60L, 9.0, 13L),
        (1L, 150L, 3.0, 14L)) // duplicate ts for k=1: larger tiebreak id wins
      .toDF("k", "t", "v", "rid")
    val out = Rollups.asOfJoin(left, right, "k", "t", "t", "v", "rid")
      .select(col("lid"), col("asof_value")).as[(Long, Option[Double])].collect().toMap
    assert(out(5L) == Some(1.0))  // inclusive: right at t=100 visible to left at t=100
    assert(out(6L) == Some(3.0))  // latest (t=150), tiebreak rid=14 wins over rid=12
    assert(out(7L) == None)       // right at t=60 is after left t=50
    assert(out(8L) == None)       // key 3 has no right rows
  }
}

class SimHash62Spec extends SparkSpecBase {
  import TestSpark.spark.implicits._
  import graft.operators.Dedup

  test("native graft_simhash62 matches the exploded/aggregated formulation") {
    assert(spark.sessionState.functionRegistry.functionExists(functions.SimHash62.identifier))
    val docs = graft.sources.Tables.documents(spark, sfDir).limit(150)
      .select(col("doc_id"), col("text"))
      // exercise tokenizer edges the corpus lacks
      .unionByName(Seq((9001L, "  leading and trailing  "), (9002L, "a\tb\nc"),
        (9003L, "single")).toDF("doc_id", "text"))
    val native = Dedup.simHashDf(docs, col("doc_id"), col("text"))
      .withColumnRenamed("sh", "sh_native")
    val exploded = Dedup.simHashDfExploded(docs, col("doc_id"), col("text"))
      .withColumnRenamed("sh", "sh_exploded")
    val joined = native.join(exploded, "doc_id")
    assert(joined.count() == docs.count())
    assert(joined.filter(col("sh_native") =!= col("sh_exploded")).count() == 0)
  }
}

class RangeJoinSpec extends SparkSpecBase {
  import TestSpark.spark.implicits._
  import graft.operators.Rollups

  test("boundedRangeJoin matches the naive non-equi join exactly, each pair once") {
    val ranges = Seq((1L, 10L, 0L, 100L), (1L, 11L, 50L, 650L), (2L, 12L, 0L, 600L))
      .toDF("k", "rid", "s", "e")
    val points = Seq((1L, 0L), (1L, 100L), (1L, 101L), (1L, 600L), (1L, 651L), (2L, 599L), (3L, 5L))
      .toDF("k", "p")
    val fast = Rollups.boundedRangeJoin(ranges, points, "k", "s", "e", "p", 600L)
      .select("rid", "p").as[(Long, Long)].collect().sorted.toSeq
    val naive = ranges.join(points, Seq("k"))
      .filter(col("p") >= col("s") && col("p") <= col("e"))
      .select("rid", "p").as[(Long, Long)].collect().sorted.toSeq
    assert(fast == naive, s"fast=$fast naive=$naive")
    assert(fast.distinct == fast, "a pair was produced more than once")
    assert(fast.contains((10L, 0L)) && fast.contains((10L, 100L)) && fast.contains((11L, 600L)))
  }
}

class AdhocSpec extends SparkSpecBase {
  import graft.operators.Adhoc

  private def events = {
    graft.sources.Tables.events(spark, sfDir).createOrReplaceTempView("adhoc_events")
    spark.table("adhoc_events")
  }

  test("binds $n placeholders, repeated and out of order") {
    val n = events.filter(col("event_type") === "click" && col("value") >= 10.0).count()
    val bound = Adhoc.query(spark,
      "SELECT * FROM adhoc_events WHERE event_type = $2 AND value >= $1 AND value >= $1",
      Seq(10.0, "click")).count()
    assert(bound == n && n > 0)
  }

  test("injection through a parameter value is impossible") {
    events
    val evil = Adhoc.query(spark,
      "SELECT * FROM adhoc_events WHERE event_type = $1", Seq("click' OR '1'='1"))
    assert(evil.count() == 0, "injected predicate must bind as a plain string value")
  }

  test("$n inside a string literal stays literal text (both quote styles)") {
    events
    val r = Adhoc.query(spark, "SELECT '$1 costs $2' AS s FROM adhoc_events LIMIT 1", Seq.empty)
      .collect()(0).getString(0)
    assert(r == "$1 costs $2")
    // Spark's default dialect reads double-quoted text as a string literal
    val rd = Adhoc.query(spark, """SELECT "$1 costs $2" AS s FROM adhoc_events LIMIT 1""", Seq.empty)
      .collect()(0).getString(0)
    assert(rd == "$1 costs $2")
  }

  test("commands are rejected (read-only surface)") {
    events
    Seq(
      "DROP TABLE adhoc_events",
      "CREATE TABLE sneaky(x INT) USING parquet",
      "INSERT INTO adhoc_events SELECT * FROM adhoc_events",
      "SET spark.sql.shuffle.partitions=1"
    ).foreach { sql =>
      val e = intercept[IllegalArgumentException](Adhoc.query(spark, sql, Seq.empty))
      assert(e.getMessage.contains("read-only"), s"'$sql' not rejected as read-only")
    }
  }
}

class IvfRecallSpec extends SparkSpecBase {
  import graft.operators.Similarity

  test("k-means-trained IVF recall@5 beats the id-mod quantizer and clears a floor") {
    val e = graft.sources.Tables.embeddings(spark, sfDir)
    val q = e.filter(col("vec_id") < 20)
    val brute = Similarity.cosineTopK(q, e, 5)
      .select("qid", "vec_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def recall(iters: Int): Double = {
      val ivf = Similarity.cosineTopKIvf(q, e, 5, 32, 4, kmeansIters = iters)
        .select("qid", "vec_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      ivf.intersect(brute).size.toDouble / brute.size
    }
    val (init, trained) = (recall(0), recall(2))
    // everything is deterministic (id-mod init, quantized means), so
    // these are fixed values, not flaky samples: 0.50 → 0.53 here
    assert(trained >= init, s"training regressed recall: $trained < $init")
    assert(trained >= 0.45, s"trained recall@5 too low: $trained")
  }
}

class SimHashChunkSpec extends SparkSpecBase {
  import TestSpark.spark.implicits._
  import graft.operators.Dedup

  test("4x16-bit chunk banding is output-identical to 8x8 at the same maxDist") {
    val d = graft.sources.Tables.documents(spark, sfDir).select(col("doc_id"), col("text"))
    val corpus = d.unionByName(d.filter(pmod(col("doc_id"), lit(10)) === 0)
      .select((col("doc_id") + 10000).as("doc_id"), col("text")))
    val p8 = Dedup.simHashPairs(corpus, col("doc_id"), col("text"), 3, nChunks = 8)
      .as[(Long, Long, Long)].collect().toSet
    val p4 = Dedup.simHashPairs(corpus, col("doc_id"), col("text"), 3, nChunks = 4)
      .as[(Long, Long, Long)].collect().toSet
    assert(p8.nonEmpty, "planted exact dups (dist 0) must pair")
    assert(p4 == p8, s"chunking changed the result: ${p4.diff(p8).size} extra, ${p8.diff(p4).size} missing")
  }
}

class IvfIndexSpec extends SparkSpecBase {
  import graft.operators.Similarity

  test("cell-partitioned IVF index probe prunes partitions and matches in-memory results") {
    val e = graft.sources.Tables.embeddings(spark, sfDir)
    val path = java.nio.file.Files.createTempDirectory("ivfidx").toString
    Similarity.writeIvfIndex(e, path, 32, 2)
    val q = e.filter(col("vec_id") < 5)
    val probed = Similarity.probeIvfIndex(spark, path, q, 3, 4)
    assert(probed.queryExecution.executedPlan.toString.contains("dynamicpruning"),
      "index scan must carry a dynamic partition pruning filter on cent_id")
    val fromIndex = probed.orderBy("qid", "rank").collect().map(_.toString).toSeq
    val inMemory = Similarity.cosineTopKIvf(q, e, 3, 32, 4, 2)
      .orderBy("qid", "rank").collect().map(_.toString).toSeq
    assert(fromIndex.nonEmpty && fromIndex == inMemory)
  }
}

class CurationOpsSpec extends SparkSpecBase {
  import TestSpark.spark.implicits._
  import graft.operators.{Dedup, TextAnalysis => TA}

  test("stratifiedSample is deterministic, quota-monotone, and a subset per stratum") {
    val d = graft.sources.Tables.documents(spark, sfDir)
    val s1 = TA.stratifiedSample(d, col("doc_id"), col("lang"), Map("en" -> 60), 10)
      .select("doc_id").as[Long].collect().toSet
    val s2 = TA.stratifiedSample(d, col("doc_id"), col("lang"), Map("en" -> 60), 10)
      .select("doc_id").as[Long].collect().toSet
    assert(s1 == s2, "same quotas must keep the same exact set")
    val wider = TA.stratifiedSample(d, col("doc_id"), col("lang"), Map("en" -> 90), 10)
      .filter(col("lang") === "en").select("doc_id").as[Long].collect().toSet
    val narrow = TA.stratifiedSample(d, col("doc_id"), col("lang"), Map("en" -> 30), 10)
      .filter(col("lang") === "en").select("doc_id").as[Long].collect().toSet
    assert(narrow.subsetOf(wider), "raising a quota must only ADD docs (resumable mixing)")
    assert(narrow.size < wider.size)
  }

  test("stratifiedAlloc draws exactly the budget with quota-property allocations") {
    // skewed strata: 70 / 25 / 5 rows; budget 20 → exact shares
    // 14 / 5 / 1 — largest-remainder must give each stratum the floor
    // or ceiling of its share and the total must be EXACTLY the budget
    val rows = ((1 to 70).map(i => (i.toLong, "big")) ++
      (71 to 95).map(i => (i.toLong, "mid")) ++
      (96 to 100).map(i => (i.toLong, "tiny"))).toDF("doc_id", "stratum")
    val w = pmod(Dedup.polyHash(rows, concat(col("doc_id").cast("string"), lit("/t")),
      Dedup.PolyB1, Dedup.PolyP1) * lit(Dedup.PolyP2), lit(1L << 53))
    val got = TA.stratifiedAlloc(rows, col("doc_id"), col("stratum"), w, 20)
      .select(col("id").as[Long], col("stratum").as[String]).collect()
    assert(got.length == 20, s"budget not exact: ${got.length}")
    val by = got.groupBy(_._2).view.mapValues(_.length).toMap
    // exact shares: big 14.0, mid 5.0, tiny 1.0 — integral, so the
    // allocation is forced exactly
    assert(by == Map("big" -> 14, "mid" -> 5, "tiny" -> 1), s"allocation off: $by")
    // deterministic
    val again = TA.stratifiedAlloc(rows, col("doc_id"), col("stratum"), w, 20)
      .select(col("id").as[Long]).collect().toSet
    assert(again == got.map(_._1).toSet)
    // non-integral shares get floor-or-ceiling: budget 10 over
    // 70/25/5 → shares 7.0/2.5/0.5; floors 7/2/0 sum 9, one leftover
    // seat goes to the largest remainder (tie rem .5/.5 → stratum asc
    // = "mid"); every allocation within floor..ceil of its share
    val g10 = TA.stratifiedAlloc(rows, col("doc_id"), col("stratum"), w, 10)
      .select(col("stratum").as[String]).collect()
      .groupBy(identity).view.mapValues(_.length).toMap
    assert(g10.values.sum == 10)
    assert(g10("big") == 7 && g10("mid") == 3 && g10.getOrElse("tiny", 0) == 0, s"$g10")
  }

  test("ngramRepetition totals and distincts match the composed HOF formulation") {
    val d = graft.sources.Tables.documents(spark, sfDir).limit(200)
    val (total, distinctN) = TA.ngramRepetition(d, col("text"), 3)
    val kernel = d.select(col("doc_id"), total.as("t"), distinctN.as("u"))
    val w = split(col("text"), " ")
    val grams = transform(
      sequence(lit(1), greatest(size(w) - 2, lit(0))),
      i => concat_ws(" ", element_at(w, i), element_at(w, i + 1), element_at(w, i + 2)))
    val composed = d.select(col("doc_id"), size(grams).as("t"), size(array_distinct(grams)).as("u"))
    assert(kernel.exceptAll(composed).isEmpty && composed.exceptAll(kernel).isEmpty)
  }
}

class MinhashEstSpec extends SparkSpecBase {
  import org.apache.spark.sql.functions._
  import graft.operators.Dedup

  test("signature-agreement estimate tracks exact jaccard on planted duplicates") {
    val d = graft.sources.Tables.documents(spark, sfDir).select(col("doc_id"), col("text"))
    // exact copies + light near copies, like the oracle corpus
    val corpus = d
      .unionByName(d.filter(col("doc_id") % 10 === 0)
        .select((col("doc_id") + 10000).as("doc_id"), col("text")))
    val est = Dedup.minHashEstPairs(corpus, col("doc_id"), col("text"), 3, 4, 4, 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val exact = Dedup.minHashLshPairs(corpus, col("doc_id"), col("text"), 3, 4, 4, 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    // every exact copy pair must be estimated at 1.0 (all 16 seeds agree)
    val copies = exact.keys.filter { case (a, b) => b == a + 10000 }
    assert(copies.nonEmpty)
    copies.foreach { p => assert(est.getOrElse(p, 0.0) == 1.0, s"copy pair $p must estimate 1.0") }
    // estimator error vs exact jaccard bounded on the shared pair set
    val shared = est.keySet intersect exact.keySet
    assert(shared.nonEmpty)
    shared.foreach { p =>
      assert(math.abs(est(p) - exact(p)) <= 0.35, s"pair $p: est=${est(p)} exact=${exact(p)}")
    }
  }
}

class Sq8AnnSpec extends SparkSpecBase {
  import org.apache.spark.sql.functions._
  import graft.operators.Similarity

  test("SQ8 shortlist + re-rank has high overlap with brute force and is deterministic") {
    val e = graft.sources.Tables.embeddings(spark, sfDir)
    val q = e.filter(col("vec_id") < 5)
    val sq = Similarity.cosineTopKSq8(q, e, 3, 16).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val brute = Similarity.cosineTopK(q, e, 3).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(sq.size == 15, "5 queries x top-3")
    // 16-deep integer-dot shortlist should keep nearly all true top-3
    assert((sq intersect brute).size >= 12, s"overlap too low: ${(sq intersect brute).size}/15")
    val again = Similarity.cosineTopKSq8(q, e, 3, 16).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(sq == again, "quantization + ranking must be deterministic")
  }

  test("sq8 codes stay in [-127, 127] under the global symmetric scale") {
    val e = graft.sources.Tables.embeddings(spark, sfDir)
    val stats = broadcast(Similarity.sqScale(e, col("embedding")))
    val codes = e.crossJoin(stats).select(Similarity.sq8Codes(col("embedding")).as("c"))
      .select(explode(col("c")).as("v"))
    val Array(mn, mx) = codes.agg(min("v"), max("v")).collect().head.toSeq.map(_.asInstanceOf[Long]).toArray
    assert(mn >= -127L && mx <= 127L)
  }
}

class SlidingFunnelSpec extends SparkSpecBase {
  import org.apache.spark.sql.functions._

  test("sliding 2h/1h window counts every event exactly twice") {
    val e = graft.sources.Tables.events(spark, sfDir)
    val n = e.count()
    val windowed = e.groupBy(col("user_id"), window(col("ts"), "2 hours", "1 hour"))
      .agg(count(lit(1)).as("n"))
    assert(windowed.agg(sum("n")).collect().head.getLong(0) == 2 * n)
  }

  test("moving average equals day sum when a user has one day of data") {
    val e = graft.sources.Tables.events(spark, sfDir)
    val q62 = graft.SparkEntry.queries("q62_moving_avg")(spark, sfDir)
    // first row of every user's window frame is its own day: ma7 = day_sum / n of that day
    val firsts = q62.groupBy(col("user_id"))
      .agg(min_by(struct(col("day_sum"), col("ma7")), col("date")).as("f"))
      .select(col("user_id"), col("f.day_sum").as("day_sum"), col("f.ma7").as("ma7"))
    val frame = e.groupBy(col("user_id"), to_date(col("ts")).as("d"))
      .agg(sum(col("value").cast("decimal(18,2)")).as("dsum"), count(lit(1)).as("cnt"))
    val firstDay = frame.groupBy(col("user_id"))
      .agg(min_by(struct(col("dsum"), col("cnt")), col("d")).as("g"))
      .select(col("user_id"), col("g.dsum").cast("double").as("dsum"), col("g.cnt").as("cnt"))
    val joined = firsts.join(firstDay, Seq("user_id"))
    assert(joined.count() == frame.select("user_id").distinct().count())
    val bad = joined.filter(
      abs(col("ma7") - col("dsum") / col("cnt")) > 1e-9 ||
        abs(col("day_sum") - col("dsum")) > 1e-9).count()
    assert(bad == 0, "per-user first-day ma7/day_sum must equal the recomputed frame values")
  }
}

class IncrementalDedupSpec extends SparkSpecBase {
  import org.apache.spark.sql.functions._
  import graft.operators.Dedup

  test("incremental dedup finds batch-vs-corpus copies and only cross-side pairs") {
    val d = graft.sources.Tables.documents(spark, sfDir).select(col("doc_id"), col("text"))
    val batch = d.filter(col("doc_id") % 10 === 0)
      .select((col("doc_id") + 10000).as("doc_id"), col("text"))
    val pairs = Dedup.minHashLshPairsIncremental(d, batch, col("doc_id"), col("text"), 3, 4, 4, 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(pairs.nonEmpty)
    // every planted copy is caught against its source with jaccard 1.0
    val expected = d.filter(col("doc_id") % 10 === 0).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    val caught = pairs.filter { case (n, o, j) => n == o + 10000 && j == 1.0 }.map(_._2).toSet
    assert(expected.subsetOf(caught), s"missing: ${expected diff caught}")
    // the new side only ever carries batch ids, the old side corpus ids
    assert(pairs.forall(_._1 >= 10000) && pairs.forall(_._2 < 10000))
  }
}

class BitmapFilterSpec extends SparkSpecBase {
  import org.apache.spark.sql.functions._
  import graft.operators.{Dedup, Stats}

  test("bitmap filter has zero false negatives and bounded false positives") {
    val d = graft.sources.Tables.documents(spark, sfDir)
    val hashes = d.select(explode(Dedup.hashedNgrams(d, col("text"), 8)).as("ng")).distinct()
    val mBits = 1 << 17
    val mask = broadcast(Stats.bitmap(hashes, col("ng"), mBits))
    // every inserted hash must test positive
    val misses = hashes.crossJoin(mask)
      .filter(!Stats.bitmapMightContain(col("mask"), col("ng"), mBits)).count()
    assert(misses == 0L, "a bitmap filter must never drop an inserted hash")
    // disjoint probes (shifted hashes) should mostly test negative
    val n = hashes.count()
    val probes = hashes.select((col("ng") + 987654321L).as("ng"))
      .join(hashes, Seq("ng"), "left_anti")
    val fp = probes.crossJoin(mask)
      .filter(Stats.bitmapMightContain(col("mask"), col("ng"), mBits)).count()
    val total = probes.count()
    assert(fp.toDouble / total <= 3.0 * n.toDouble / mBits + 0.02,
      s"false-positive rate $fp/$total too high for $n hashes in $mBits bits")
  }
}

class RedactPiiSpec extends SparkSpecBase {
  import org.apache.spark.sql.functions._

  test("planted PII docs are flagged and clean docs score zero") {
    val out = graft.SparkEntry.queries("q71_redact_pii")(spark, sfDir).collect()
    val (planted, clean) = out.partition(_.getLong(0) % 11 == 0)
    assert(planted.nonEmpty && clean.nonEmpty)
    planted.foreach { r =>
      assert(r.getInt(1) == 1 && r.getInt(2) == 1 && r.getInt(3) >= 1,
        s"doc ${r.getLong(0)} should carry exactly the planted email/url and a digit run")
    }
    clean.foreach { r =>
      assert(r.getInt(1) == 0 && r.getInt(2) == 0 && r.getInt(3) == 0,
        s"clean doc ${r.getLong(0)} must have no PII hits")
    }
  }
}

class DedupEdgeCasesSpec extends SparkSpecBase {
  import org.apache.spark.sql.functions._
  import graft.operators.Dedup

  test("connectedComponents on an empty pair set returns an empty labeling") {
    val sp = spark
    import sp.implicits._
    val empty = Seq.empty[(Long, Long)].toDF("id_a", "id_b")
    assert(Dedup.connectedComponents(empty).count() == 0L)
  }

  test("incremental dedup is correct when batch and corpus ids overlap") {
    val sp = spark
    import sp.implicits._
    // corpus doc 1 and batch doc 1 are DIFFERENT texts under the same id;
    // batch doc 2 is a verbatim copy of corpus doc 7
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (7L, "one two three four five six seven eight nine ten")).toDF("doc_id", "text")
    val batch = Seq(
      (1L, "totally different words nothing shared here at all"),
      (2L, "one two three four five six seven eight nine ten")).toDF("doc_id", "text")
    val pairs = Dedup.minHashLshPairsIncremental(corpus, batch, col("doc_id"), col("text"), 3, 4, 4, 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(pairs.toSeq == Seq((2L, 7L, 1.0)),
      s"expected only the cross-side copy pair, got ${pairs.toSeq}")
  }
}
