package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Tables
import graft.operators.{Dedup, Ingest, Kmv, Media, Similarity, Stats, TextAnalysis => TA}

/** Training-data pipeline surface (SURVEY.md §2C): dedup, ANN
  * similarity, text analysis, multimodal plumbing — over the
  * documents/embeddings tables. The sketch family lives in
  * [[SketchCatalog]] and the persisted-state family in
  * [[StateCatalog]] (split r16); REGISTRATION for all of §2C stays in
  * [[all]] here (same keys, same order as before the split), and the
  * shared oracle-SQL fragments below stay here at `private[queries]`
  * so the from-scratch and incremental/persisted oracles can never
  * drift apart.
  *
  * The documents table has no natural duplicates, so dedup queries run
  * on a constructed corpus with planted exact (10%) and near (1-in-7)
  * duplicates — identical construction in the DuckDB oracle.
  */
object PipelineCatalog {

  /** Base ∪ exact copies (doc_id+10000 for doc_id%10=0) ∪ near copies
    * (doc_id+20000, 3 words appended, for doc_id%7=0).
    */
  private def corpus(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir).select(col("doc_id"), col("text"))
    d.unionByName(d.filter(pmod(col("doc_id"), lit(10)) === 0)
        .select((col("doc_id") + 10000).as("doc_id"), col("text")))
      .unionByName(d.filter(pmod(col("doc_id"), lit(7)) === 0)
        .select((col("doc_id") + 20000).as("doc_id"),
          concat(col("text"), lit(" graft extra marker")).as("text")))
  }

  private[queries] val corpusSql =
    """SELECT doc_id, text FROM documents
      |  UNION ALL SELECT doc_id + 10000, text FROM documents WHERE doc_id % 10 = 0
      |  UNION ALL SELECT doc_id + 20000, text || ' graft extra marker' FROM documents WHERE doc_id % 7 = 0""".stripMargin

  // Portable poly-hash as DuckDB SQL (must mirror graft.functions.PolyHash
  // and graft.operators.Dedup's (base, modulus) pairs exactly).

  private[queries] def polySql(c: String, b: Int, p: Long): String =
    s"list_reduce(list_concat([CAST(0 AS BIGINT)], list_transform(generate_series(1, length($c)), " +
      s"i -> CAST(unicode($c[i:i]) AS BIGINT))), (acc, c) -> (acc * $b + c) % $p)"

  /** Shared (doc, hashed-ngram) CTE chain for the word-3-gram dedup
    * oracles — ngrams are poly-hashed to longs exactly like the Spark
    * side, so join keys and any collisions agree across engines.
    */
  private val ngrSql =
    s"""words AS (SELECT doc_id, string_split(text, ' ') AS w FROM corpus),
       |ngr0 AS (SELECT DISTINCT doc_id,
       |  unnest(list_transform(generate_series(1, greatest(len(w) - 2, 0)),
       |    i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS ng0
       |  FROM words),
       |ngr AS (SELECT doc_id, ${polySql("ng0", Dedup.PolyB1, Dedup.PolyP1)} AS ng FROM ngr0),
       |sizes AS (SELECT doc_id, COUNT(*) AS nn FROM ngr GROUP BY doc_id)""".stripMargin

  // dedup_exact — §2#25 ------------------------------------------------------

  private val dedupExact = Q(
    "dedup_exact",
    (s, dir) =>
      Dedup.exactGroups(corpus(s, dir), col("doc_id"), col("text"))
        .select(col("keep_id"), col("n_copies"))
        .orderBy(col("keep_id")),
    Some(s"""WITH corpus AS ($corpusSql)
            |SELECT MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
            |FROM corpus GROUP BY md5(text) HAVING COUNT(*) > 1
            |ORDER BY keep_id""".stripMargin))

  // dedup_ngram_jaccard — §2#28 ---------------------------------------------

  private val dedupNgram = Q(
    "dedup_ngram_jaccard",
    (s, dir) =>
      Dedup.ngramJaccardPairs(corpus(s, dir), col("doc_id"), col("text"), 3, 20, 0.5)
        .orderBy(col("id_a"), col("id_b")),
    Some(s"""WITH corpus AS ($corpusSql),
            |$ngrSql,
            |rare AS (SELECT * FROM ngr QUALIFY COUNT(*) OVER (PARTITION BY ng) <= 20),
            |pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS inter
            |  FROM rare a JOIN rare b USING (ng) WHERE a.doc_id < b.doc_id GROUP BY 1, 2)
            |SELECT id_a, id_b, CAST(inter AS DOUBLE) / (sa.nn + sb.nn - inter) AS jaccard
            |FROM pairs JOIN sizes sa ON id_a = sa.doc_id JOIN sizes sb ON id_b = sb.doc_id
            |WHERE CAST(inter AS DOUBLE) / (sa.nn + sb.nn - inter) >= 0.5
            |ORDER BY id_a, id_b""".stripMargin))

  // dedup_minhash_lsh — §2#26: shingle→MinHash→band bucket join→exact
  // Jaccard verify. Fully oracle-checked since the shingle hash is the
  // portable poly-hash and band keys are plain signature slices.

  /** CTE chain corpus→…→pairs(id_a, id_b, jaccard >= 0.5): MinHash
    * signatures, band buckets, candidate join, exact Jaccard verify.
    * Mirrors Dedup.minHashLshPairs(…, 3, 4, 4, 0.5) exactly. Expects a
    * `corpus` CTE in scope; shared by dedup_minhash_lsh and the
    * curate_corpus composition.
    */
  private[queries] val minhashPairsSql =
    s"""$ngrSql,
       |sig AS (SELECT doc_id, s, MIN((ng * (2*s+1) + (s*7919+1)) % ${Dedup.PolyP1}) AS m
       |  FROM ngr CROSS JOIN (SELECT unnest(generate_series(0, 15)) AS s) seeds
       |  GROUP BY doc_id, s),
       |band AS (SELECT doc_id, s // 4 AS band, string_agg(CAST(m AS VARCHAR), ',' ORDER BY s) AS bh
       |  FROM sig GROUP BY doc_id, s // 4),
       |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM band a JOIN band b USING (band, bh) WHERE a.doc_id < b.doc_id),
       |inter AS (SELECT c.id_a, c.id_b, COUNT(*) AS inter
       |  FROM cand c JOIN ngr a ON a.doc_id = c.id_a JOIN ngr b ON b.doc_id = c.id_b AND b.ng = a.ng
       |  GROUP BY 1, 2),
       |pairs AS (
       |  SELECT id_a, id_b, CAST(inter AS DOUBLE) / (sa.nn + sb.nn - inter) AS jaccard
       |  FROM inter JOIN sizes sa ON id_a = sa.doc_id JOIN sizes sb ON id_b = sb.doc_id
       |  WHERE CAST(inter AS DOUBLE) / (sa.nn + sb.nn - inter) >= 0.5)""".stripMargin

  /** Recursive min-label reachability CTEs over a pair CTE
    * `src(id_a, id_b)`: `edges` (undirected) + `reach(id, lbl)` — the
    * q53 closure every cluster oracle replays. Needs `WITH RECURSIVE`
    * at the query head. One definition (ADVICE r14: the copies in
    * q53/q129/q130 had already tripled) so a closure edit can never
    * drift between the from-scratch and incremental oracles.
    */
  private[queries] def ccReachSql(src: String): String =
    s"""edges AS (SELECT id_a AS id, id_b AS nbr FROM $src
       |  UNION ALL SELECT id_b, id_a FROM $src),
       |reach(id, lbl) AS (
       |  SELECT id, id FROM (SELECT DISTINCT id FROM edges)
       |  UNION
       |  SELECT e.id, r.lbl FROM edges e JOIN reach r ON r.id = e.nbr)""".stripMargin

  /** The full closure query tail — [[ccReachSql]] plus the
    * (doc_id, cluster_id = min reachable id) SELECT that q53, q74,
    * q129 and q130 all end on.
    */
  private[queries] def minLabelClosureSql(src: String): String =
    s"""${ccReachSql(src)}
       |SELECT id AS doc_id, MIN(lbl) AS cluster_id FROM reach
       |GROUP BY id ORDER BY doc_id""".stripMargin

  private val dedupMinhash = Q(
    "dedup_minhash_lsh",
    (s, dir) =>
      Dedup.minHashLshPairs(corpus(s, dir), col("doc_id"), col("text"), 3, 4, 4, 0.5)
        .orderBy(col("id_a"), col("id_b")),
    Some(s"""WITH corpus AS ($corpusSql),
            |$minhashPairsSql
            |SELECT id_a, id_b, jaccard FROM pairs ORDER BY id_a, id_b""".stripMargin))

  // q133_collision_tolerance — the 31-bit shingle-hash collision corner
  // ORACLE-gated (the r15 try_divide fix, promoted from spec-only):
  // two planted verbatim copies of a 4-word text whose only two
  // 3-gram shingles poly-hash IDENTICALLY (brute-forced offline) ride
  // the standard MinHash-LSH chain. Their intersection join
  // over-counts (inter = 4 against na + nb − inter = 0), so the
  // Jaccard divisor is exactly zero: DuckDB's division by zero is
  // NULL → the pair is dropped by the ≥ 0.5 filter; Spark's
  // try_divide must make the same NULL decision — under plain ANSI
  // division the planted pair would kill the whole query. Every real
  // pair must come out IDENTICAL to dedup_minhash_lsh's (the planted
  // text shares no shingle with the corpus).

  private val collisionTolerance = Q(
    "q133_collision_tolerance",
    (s, dir) => {
      val collide = s.range(2).select((col("id") + 40001L).as("doc_id"),
        lit("x37642 qa qb y7832").as("text"))
      Dedup.minHashLshPairs(corpus(s, dir).unionByName(collide),
          col("doc_id"), col("text"), 3, 4, 4, 0.5)
        .orderBy(col("id_a"), col("id_b"))
    },
    Some(s"""WITH corpus AS ($corpusSql
            |  UNION ALL SELECT 40001, 'x37642 qa qb y7832'
            |  UNION ALL SELECT 40002, 'x37642 qa qb y7832'),
            |$minhashPairsSql
            |SELECT id_a, id_b, jaccard FROM pairs ORDER BY id_a, id_b""".stripMargin))

  // q44_salted_lsh — the salted MinHash-LSH band join through the
  // oracle gate: a planted hot bucket (25 verbatim clones of one doc —
  // the boilerplate/templated-spam shape that floods one (band, key)
  // cell at 100 TB) is spread over salts=4 tasks. Salting changes ONLY
  // the shuffle layout: the result is identical to the unsalted join
  // (spec-asserted in SkewSpec), so the unsalted SQL chain is the
  // oracle.

  private def hotCorpus(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir).select(col("doc_id"), col("text"))
    val clones = d.filter(col("doc_id") === 1)
      .select(explode(sequence(lit(0L), lit(24L))).as("cid"), col("text"))
      .select((col("cid") + 30000L).as("doc_id"), col("text"))
    d.unionByName(clones)
  }

  private val hotCorpusSql =
    """SELECT doc_id, text FROM documents
      |  UNION ALL SELECT 30000 + t.g AS doc_id, d.text
      |  FROM documents d CROSS JOIN generate_series(0, 24) t(g) WHERE d.doc_id = 1""".stripMargin

  private val saltedLsh = Q(
    "q44_salted_lsh",
    (s, dir) =>
      Dedup.minHashLshPairs(hotCorpus(s, dir), col("doc_id"), col("text"), 3, 4, 4, 0.5,
          salts = graft.GraftSession.profileOf(s).salts)
        .orderBy(col("id_a"), col("id_b")),
    Some(s"""WITH corpus AS ($hotCorpusSql),
            |$minhashPairsSql
            |SELECT id_a, id_b, jaccard FROM pairs ORDER BY id_a, id_b""".stripMargin))

  // q53_dup_clusters — connected components over the MinHash-LSH pair
  // set: pairs → clusters → canonical doc (cluster_id = min reachable
  // id). The corpus's planted copies create transitive clusters (base
  // ~ exact copy ~ near copy), where cluster semantics — exactly one
  // representative per component, independent of which edges LSH
  // emitted — are what production dedup wants. The oracle replays the
  // fixpoint with a recursive min-label closure.

  private val dupClusters = Q(
    "q53_dup_clusters",
    (s, dir) =>
      // the production front door: salted LSH pairs + connected
      // components (a driver union-find at this size)
      Dedup.dedupClusters(corpus(s, dir), col("doc_id"), col("text"), 3, 4, 4, 0.5,
          salts = graft.GraftSession.profileOf(s).salts)
        .orderBy(col("doc_id")),
    Some(s"""WITH RECURSIVE corpus AS ($corpusSql),
            |$minhashPairsSql,
            |${minLabelClosureSql("pairs")}""".stripMargin))

  // q74_cc_star — the O(log d) star-contraction CC finish, gated:
  // same LSH pair set as q53 UNIONED with a planted 100-hop id chain
  // (doc_id → doc_id+1 within aligned 100-blocks) — the templated-
  // drift shape where star contraction pays log(hops) rounds, called
  // directly so the distributed rounds stay oracle-checked. Labels must
  // equal the closure over the combined edge set; the oracle replays it
  // with the same recursive min-label CTE as q53.

  private val ccStar = Q(
    "q74_cc_star",
    (s, dir) => {
      val c = corpus(s, dir)
      val pairs = Dedup.minHashLshPairs(c, col("doc_id"), col("text"), 3, 4, 4, 0.5)
        .select(col("id_a"), col("id_b"))
      val ids = Tables.documents(s, dir).select(col("doc_id"))
      val chain = ids.filter(pmod(col("doc_id"), lit(100)) =!= 99)
        .join(ids.select(col("doc_id").as("nxt")), col("doc_id") + 1 === col("nxt"))
        .select(col("doc_id").as("id_a"), col("nxt").as("id_b"))
      Dedup.connectedComponentsStar(pairs.unionByName(chain))
        .orderBy(col("doc_id"))
    },
    Some(s"""WITH RECURSIVE corpus AS ($corpusSql),
            |$minhashPairsSql,
            |chain AS (SELECT d.doc_id AS id_a, d.doc_id + 1 AS id_b FROM documents d
            |  JOIN documents e ON e.doc_id = d.doc_id + 1 WHERE d.doc_id % 100 != 99),
            |allp AS (SELECT id_a, id_b FROM pairs UNION ALL SELECT id_a, id_b FROM chain),
            |${minLabelClosureSql("allp")}""".stripMargin))

  // curate_corpus — flagship training-data composition: near-dup drop
  // (MinHash-LSH pairs -> drop the higher id) -> quality gate ->
  // language gate -> curated (doc_id, n_tokens, quality). The whole
  // chain a 100 TB curation job runs, as ONE oracle-checked query.

  private val curateCorpus = Q(
    "curate_corpus",
    (s, dir) => {
      val c = corpus(s, dir)
      val dropIds = Dedup.minHashLshPairs(c, col("doc_id"), col("text"), 3, 4, 4, 0.5)
        .select(col("id_b").as("doc_id")).distinct()
      val kept = c.join(dropIds, Seq("doc_id"), "left_anti")
      kept.select(col("doc_id"),
          length(col("text")).as("n_chars"),
          TA.wsTokenCount(col("text")).as("n_words"),
          TA.punctCount(col("text")).as("n_punct"),
          TA.stopHits(col("text")).as("n_stop"),
          TA.langHits(col("text"), TA.langProfiles.head._2).as("h_en"))
        .withColumn("quality",
          TA.qualityScore(col("n_chars"), col("n_words"), col("n_punct"), col("n_stop")))
        .filter(col("quality") >= 0.5 && col("h_en") >= 1)
        .select(col("doc_id"), col("n_words").as("n_tokens"), col("quality"))
        .orderBy(col("doc_id"))
    },
    Some(s"""WITH corpus AS ($corpusSql),
            |$minhashPairsSql,
            |dropids AS (SELECT DISTINCT id_b AS doc_id FROM pairs),
            |kept AS (SELECT c.doc_id, c.text FROM corpus c
            |  LEFT JOIN dropids d ON c.doc_id = d.doc_id WHERE d.doc_id IS NULL),
            |feat AS (SELECT doc_id, length(text) AS n_chars,
            |    len(string_split_regex(trim(text), '\\s+')) AS n_words,
            |    length(text) - length(regexp_replace(text, '[^a-zA-Z0-9\\s]', '', 'g')) AS n_punct,
            |    len(regexp_extract_all(text, '\\b(the|a|of|to|and|in|is)\\b')) AS n_stop
            |  FROM kept),
            |q AS (SELECT doc_id, n_words, n_stop,
            |    LEAST(CAST(n_chars AS DOUBLE) / 500.0, 1.0) * 0.4
            |      + LEAST(CAST(n_stop AS DOUBLE) * 4.0 / GREATEST(n_words, 1), 1.0) * 0.4
            |      + (1.0 - LEAST(CAST(n_punct AS DOUBLE) * 5.0 / GREATEST(n_chars, 1), 1.0)) * 0.2 AS quality
            |  FROM feat)
            |SELECT doc_id, n_words AS n_tokens, quality FROM q
            |WHERE quality >= 0.5 AND n_stop >= 1
            |ORDER BY doc_id""".stripMargin))

  // q58_cluster_curate — the flagship curation chain with cluster
  // semantics: where curate_corpus drops the higher id of every
  // near-dup PAIR (so survivors depend on which edges LSH emitted —
  // both leaves of a star survive), this clusters the pair graph
  // first (q53's connected components) and keeps exactly ONE
  // canonical doc — the minimum id — per component, then applies the
  // same quality + language gates. Pairs → clusters → canonical keep
  // → gates is the shape production LLM curation pipelines run.

  private val clusterCurate = Q(
    "q58_cluster_curate",
    (s, dir) => {
      val c = corpus(s, dir)
      // members that are NOT their cluster's canonical id get dropped.
      // dedupClusters = salted LSH pairs + connected components.
      val dropIds = Dedup.dedupClusters(c, col("doc_id"), col("text"), 3, 4, 4, 0.5,
          salts = graft.GraftSession.profileOf(s).salts)
        .filter(col("doc_id") =!= col("cluster_id"))
        .select(col("doc_id"))
      val kept = c.join(dropIds, Seq("doc_id"), "left_anti")
      kept.select(col("doc_id"),
          length(col("text")).as("n_chars"),
          TA.wsTokenCount(col("text")).as("n_words"),
          TA.punctCount(col("text")).as("n_punct"),
          TA.stopHits(col("text")).as("n_stop"),
          TA.langHits(col("text"), TA.langProfiles.head._2).as("h_en"))
        .withColumn("quality",
          TA.qualityScore(col("n_chars"), col("n_words"), col("n_punct"), col("n_stop")))
        .filter(col("quality") >= 0.5 && col("h_en") >= 1)
        .select(col("doc_id"), col("n_words").as("n_tokens"), col("quality"))
        .orderBy(col("doc_id"))
    },
    Some(s"""WITH RECURSIVE corpus AS ($corpusSql),
            |$minhashPairsSql,
            |${ccReachSql("pairs")},
            |dropids AS (SELECT id AS doc_id FROM reach GROUP BY id HAVING id <> MIN(lbl)),
            |kept AS (SELECT c.doc_id, c.text FROM corpus c
            |  LEFT JOIN dropids d ON c.doc_id = d.doc_id WHERE d.doc_id IS NULL),
            |feat AS (SELECT doc_id, length(text) AS n_chars,
            |    len(string_split_regex(trim(text), '\\s+')) AS n_words,
            |    length(text) - length(regexp_replace(text, '[^a-zA-Z0-9\\s]', '', 'g')) AS n_punct,
            |    len(regexp_extract_all(text, '\\b(the|a|of|to|and|in|is)\\b')) AS n_stop
            |  FROM kept),
            |q AS (SELECT doc_id, n_words, n_stop,
            |    LEAST(CAST(n_chars AS DOUBLE) / 500.0, 1.0) * 0.4
            |      + LEAST(CAST(n_stop AS DOUBLE) * 4.0 / GREATEST(n_words, 1), 1.0) * 0.4
            |      + (1.0 - LEAST(CAST(n_punct AS DOUBLE) * 5.0 / GREATEST(n_chars, 1), 1.0)) * 0.2 AS quality
            |  FROM feat)
            |SELECT doc_id, n_words AS n_tokens, quality FROM q
            |WHERE quality >= 0.5 AND n_stop >= 1
            |ORDER BY doc_id""".stripMargin))

  // dedup_simhash — §2#27: 62-bit two-poly-hash SimHash, Hamming verify,
  // candidates via chunk banding. The GATED contract is the CORPUS-SCALE
  // configuration: nChunks=4 (16-bit chunks), maxDist<=3. Per-chunk
  // random collision rate is 2^-width, so 4×16-bit cells stay
  // discriminating ~256× longer than 8×8-bit ones — the 8-chunk/dist<=7
  // banding goes candidate-quadratic past ~10^4 docs (measured: the one
  // super-linear query of the round-4 catalog at sf1) and remains
  // available only as the documented pathological variant via the
  // `nChunks`/`maxDist` knobs on Dedup.simHashPairs.

  private val dedupSimhash = Q(
    "dedup_simhash",
    (s, dir) =>
      Dedup.simHashPairs(corpus(s, dir), col("doc_id"), col("text"), maxDist = 3, nChunks = 4)
        .orderBy(col("id_a"), col("id_b")),
    Some(s"""WITH corpus AS ($corpusSql),
            |tok AS (SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS t FROM corpus),
            |h AS (SELECT doc_id,
            |  ${polySql("t", Dedup.PolyB1, Dedup.PolyP1)} AS h1,
            |  ${polySql("t", Dedup.PolyB2, Dedup.PolyP2)} AS h2 FROM tok),
            |bits AS (SELECT doc_id, b,
            |  SUM(CASE WHEN ((CASE WHEN b < 31 THEN h1 >> b ELSE h2 >> (b - 31) END) & 1) = 1 THEN 1 ELSE -1 END) AS s
            |  FROM h CROSS JOIN (SELECT unnest(generate_series(0, ${Dedup.SimHashBits - 1})) AS b) bs
            |  GROUP BY doc_id, b),
            |sig AS (SELECT doc_id, CAST(SUM(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << b) ELSE 0 END) AS BIGINT) AS sh
            |  FROM bits GROUP BY doc_id),
            |chunk AS (SELECT doc_id, sh, c, (sh >> (c * 16)) & 65535 AS cv
            |  FROM sig CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS c) cs),
            |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b, a.sh AS sh_a, b.sh AS sh_b
            |  FROM chunk a JOIN chunk b ON a.c = b.c AND a.cv = b.cv AND a.doc_id < b.doc_id)
            |SELECT id_a, id_b, CAST(bit_count(xor(sh_a, sh_b)) AS BIGINT) AS dist
            |FROM cand WHERE bit_count(xor(sh_a, sh_b)) <= 3
            |ORDER BY id_a, id_b""".stripMargin))

  // q81_simhash_incr — the daily-ingest shape of dedup_simhash (the
  // q67/q80 batch×state pattern for the signature family): a NEW
  // batch simhashed and chunk-banded against the corpus's PERSISTED
  // signature table — one long per corpus doc, the lake is never
  // re-tokenized. Cross-side band collisions only; same gated
  // corpus-scale contract as dedup_simhash (4×16-bit chunks,
  // dist ≤ 3). The oracle replays both sides' signatures from text
  // (the state table IS derivable — that's the point of a
  // deterministic portable signature).

  private val simhashIncr = Q(
    "q81_simhash_incr",
    (s, dir) => {
      val d = Tables.documents(s, dir).select(col("doc_id"), col("text"))
      val batch = d.filter(pmod(col("doc_id"), lit(10)) === 0)
        .select((col("doc_id") + 10000).as("doc_id"), col("text"))
        .unionByName(d.filter(pmod(col("doc_id"), lit(7)) === 0)
          .select((col("doc_id") + 20000).as("doc_id"),
            concat(col("text"), lit(" graft extra marker")).as("text")))
      val corpusSigs = Dedup.simHashDf(d, col("doc_id"), col("text"))
      Dedup.simHashPairsIncremental(corpusSigs, batch, col("doc_id"), col("text"),
          maxDist = 3, nChunks = 4)
        .orderBy(col("id_new"), col("id_old"))
    },
    Some(s"""WITH corpus AS (
            |  SELECT doc_id, text, 0 AS src FROM documents
            |  UNION ALL SELECT doc_id + 10000, text, 1 FROM documents WHERE doc_id % 10 = 0
            |  UNION ALL SELECT doc_id + 20000, text || ' graft extra marker', 1 FROM documents WHERE doc_id % 7 = 0),
            |tok AS (SELECT doc_id, src, unnest(string_split_regex(trim(text), '\\s+')) AS t FROM corpus),
            |h AS (SELECT doc_id, src,
            |  ${polySql("t", Dedup.PolyB1, Dedup.PolyP1)} AS h1,
            |  ${polySql("t", Dedup.PolyB2, Dedup.PolyP2)} AS h2 FROM tok),
            |bits AS (SELECT doc_id, src, b,
            |  SUM(CASE WHEN ((CASE WHEN b < 31 THEN h1 >> b ELSE h2 >> (b - 31) END) & 1) = 1 THEN 1 ELSE -1 END) AS s
            |  FROM h CROSS JOIN (SELECT unnest(generate_series(0, ${Dedup.SimHashBits - 1})) AS b) bs
            |  GROUP BY doc_id, src, b),
            |sig AS (SELECT doc_id, src, CAST(SUM(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << b) ELSE 0 END) AS BIGINT) AS sh
            |  FROM bits GROUP BY doc_id, src),
            |chunk AS (SELECT doc_id, src, sh, c, (sh >> (c * 16)) & 65535 AS cv
            |  FROM sig CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS c) cs),
            |cand AS (SELECT DISTINCT a.doc_id AS id_new, b.doc_id AS id_old, a.sh AS sh_a, b.sh AS sh_b
            |  FROM chunk a JOIN chunk b ON a.c = b.c AND a.cv = b.cv
            |  WHERE a.src = 1 AND b.src = 0)
            |SELECT id_new, id_old, CAST(bit_count(xor(sh_a, sh_b)) AS BIGINT) AS dist
            |FROM cand WHERE bit_count(xor(sh_a, sh_b)) <= 3
            |ORDER BY id_new, id_old""".stripMargin))

  // q82_budget_select — token-budget corpus selection (the
  // data-constrained-pretraining step: keep the highest-quality docs
  // until 30% of corpus tokens are spent) WITHOUT a global sort:
  // histogram-threshold over 1000 quality cells (one ≤1001-row
  // exchange), whole cells kept/dropped, and only the ONE boundary
  // cell (~1/1000 of the corpus) pays an ordered per-doc cumsum.
  // Budget arithmetic is exact integer DIV (the q77 pattern); the
  // oracle replays cells, threshold, and boundary cumsum verbatim.

  private val budgetSelect = Q(
    "q82_budget_select",
    (s, dir) => {
      val d = Tables.documents(s, dir)
      val feat = d.select(col("doc_id"),
          length(col("text")).as("n_chars"),
          TA.wsTokenCount(col("text")).as("n_words"),
          TA.punctCount(col("text")).as("n_punct"),
          TA.stopHits(col("text")).as("n_stop"))
        .withColumn("quality",
          TA.qualityScore(col("n_chars"), col("n_words"), col("n_punct"), col("n_stop")))
      TA.budgetSelect(feat, col("doc_id"), col("n_words"), col("quality"), 3, 10)
        .orderBy(col("doc_id"))
    },
    Some("""WITH feat AS (SELECT doc_id, length(text) AS n_chars,
           |    len(string_split_regex(trim(text), '\s+')) AS n_words,
           |    length(text) - length(regexp_replace(text, '[^a-zA-Z0-9\s]', '', 'g')) AS n_punct,
           |    len(regexp_extract_all(text, '\b(the|a|of|to|and|in|is)\b')) AS n_stop
           |  FROM documents),
           |q AS (SELECT doc_id, n_words AS n_tokens,
           |    LEAST(CAST(n_chars AS DOUBLE) / 500.0, 1.0) * 0.4
           |      + LEAST(CAST(n_stop AS DOUBLE) * 4.0 / GREATEST(n_words, 1), 1.0) * 0.4
           |      + (1.0 - LEAST(CAST(n_punct AS DOUBLE) * 5.0 / GREATEST(n_chars, 1), 1.0)) * 0.2 AS quality
           |  FROM feat),
           |bq AS (SELECT doc_id, n_tokens, quality, CAST(floor(quality * 1000) AS BIGINT) AS b FROM q),
           |bud AS (SELECT (SUM(n_tokens) * 3) // 10 AS budget FROM bq),
           |hist AS (SELECT b, SUM(n_tokens) AS tok FROM bq GROUP BY b),
           |cells AS (SELECT b, tok,
           |    COALESCE(SUM(tok) OVER (ORDER BY b DESC ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_above
           |  FROM hist),
           |kind AS (SELECT c.b, c.cum_above, bud.budget,
           |    CASE WHEN c.cum_above + c.tok <= bud.budget THEN 'full'
           |         WHEN c.cum_above <= bud.budget THEN 'boundary' ELSE 'drop' END AS cell_keep
           |  FROM cells c CROSS JOIN bud),
           |fullk AS (SELECT doc_id, n_tokens, quality FROM bq JOIN kind USING (b) WHERE cell_keep = 'full'),
           |boundk AS (SELECT doc_id, n_tokens, quality FROM (
           |    SELECT bq.doc_id, bq.n_tokens, bq.quality, k.cum_above, k.budget,
           |      SUM(bq.n_tokens) OVER (PARTITION BY bq.b ORDER BY bq.doc_id ROWS UNBOUNDED PRECEDING) AS cum_in
           |    FROM bq JOIN kind k USING (b) WHERE k.cell_keep = 'boundary') x
           |  WHERE cum_above + cum_in <= budget)
           |SELECT doc_id, n_tokens, quality FROM fullk
           |UNION ALL SELECT doc_id, n_tokens, quality FROM boundk
           |ORDER BY doc_id""".stripMargin))

  // dedup_embedding_cosine — §2C: embedding near-dup pairs via portable
  // random-hyperplane buckets + exact cosine verify, on a corpus with
  // planted perturbed copies (vec_id+10000, deterministic float noise).

  private def embCorpus(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir).select(col("vec_id"), col("embedding"))
    val pert = e.filter(pmod(col("vec_id"), lit(5)) === 0)
      .select(col("vec_id"),
        zip_with(col("embedding"), sequence(lit(0), size(col("embedding")) - 1),
          (x, d) => (x.cast("double") +
            (((col("vec_id") + d) % 7).cast("double") - 3.0) * 0.003).cast("float")).as("pe"))
      .select((col("vec_id") + 10000).as("vec_id"), col("pe").as("embedding"))
    e.unionByName(pert)
  }

  private val embCorpusSql =
    """SELECT vec_id, embedding FROM embeddings
      |  UNION ALL
      |  SELECT vec_id + 10000 AS vec_id, pe AS embedding FROM (
      |    SELECT vec_id, list_transform(generate_series(1, 64),
      |      i -> CAST(CAST(embedding[i] AS DOUBLE) + (CAST((vec_id + i - 1) % 7 AS DOUBLE) - 3.0) * 0.003 AS FLOAT)) AS pe
      |    FROM embeddings WHERE vec_id % 5 = 0)""".stripMargin

  /** DuckDB random-hyperplane signature over float[64] `e` aliased rows,
    * mirroring Similarity.rhSignature's LCG weights and left fold.
    */
  private def rhSigSql(nBits: Int): String =
    s"""SELECT vec_id, embedding, CAST(SUM(CASE WHEN dp > 0 THEN (CAST(1 AS BIGINT) << j) ELSE 0 END) AS BIGINT) AS sig
       |    FROM (
       |      SELECT vec_id, embedding, j,
       |        list_reduce(list_concat([CAST(0 AS DOUBLE)], list_transform(generate_series(1, 64),
       |          i -> CAST(embedding[i] AS DOUBLE) *
       |            (CAST(((j * 64 + (i - 1)) * 1103515245 + 12345) % 2147483647 % 1000 AS DOUBLE) / 1000.0 - 0.5))),
       |          (a, b) -> a + b) AS dp
       |      FROM base CROSS JOIN (SELECT unnest(generate_series(0, ${nBits - 1})) AS j) js) t
       |    GROUP BY vec_id, embedding""".stripMargin

  private val cosSql =
    "list_reduce(list_concat([CAST(0 AS DOUBLE)], list_transform(generate_series(1, 64), " +
      "i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE))), (x, y) -> x + y) " +
      "/ sqrt(a.n2 * b.n2)"

  private val dedupEmbCosine = Q(
    "dedup_embedding_cosine",
    (s, dir) =>
      Similarity.cosineNearDupPairs(embCorpus(s, dir), col("vec_id"), col("embedding"), 0.99, 8)
        .orderBy(col("id_a"), col("id_b")),
    Some(s"""WITH base AS ($embCorpusSql),
            |sigs AS (
            |    ${rhSigSql(8)}),
            |n AS (SELECT vec_id, embedding, sig,
            |    list_reduce(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (x, y) -> x + y) AS n2
            |  FROM sigs)
            |SELECT a.vec_id AS id_a, b.vec_id AS id_b, $cosSql AS cos
            |FROM n a JOIN n b ON a.sig = b.sig AND a.vec_id < b.vec_id
            |WHERE $cosSql >= 0.99
            |ORDER BY id_a, id_b""".stripMargin))

  // q55_semdedup — SemDeDup-style semantic dedup: k-means cells (the
  // trained IVF quantizer) bound the candidate pairs instead of fixed
  // random-hyperplane buckets; within-cell cosine >= 0.99 drops the
  // higher id. Runs on the perturbed-copy corpus; the oracle replays
  // quantizer training, assignment, pair drop, and the kept set.

  private val semDedup = Q(
    "q55_semdedup",
    (s, dir) =>
      Similarity.semDedup(embCorpus(s, dir), 0.99, 32, 2)
        .orderBy(col("vec_id")),
    Some(s"""WITH base AS ($embCorpusSql),
            |n AS (SELECT vec_id, embedding,
            |    list_reduce(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (x, y) -> x + y) AS n2
            |  FROM base),
            |c0 AS (SELECT vec_id AS cent_id, embedding AS cent FROM base WHERE vec_id % 32 = 0),
            |${lloydIterSql("c0", "a0", "d0", "c1")},
            |${lloydIterSql("c1", "a1", "d1", "c2")},
            |asg AS (SELECT vec_id, embedding, n2, cent_id FROM (
            |    SELECT v.vec_id, v.embedding, v.n2, c.cent_id,
            |      row_number() OVER (PARTITION BY v.vec_id
            |        ORDER BY ${ivfCosFull("v.embedding", "c.cent")} DESC, c.cent_id ASC) AS rn
            |    FROM n v CROSS JOIN c2 c) t WHERE rn = 1),
            |drops AS (SELECT DISTINCT b.vec_id FROM asg a JOIN asg b
            |  ON a.cent_id = b.cent_id AND a.vec_id < b.vec_id
            |  WHERE ${ivfCos("a.embedding", "b.embedding", "a.n2", "b.n2")} >= 0.99)
            |SELECT a.vec_id AS vec_id, a.cent_id FROM asg a
            |LEFT JOIN drops d ON a.vec_id = d.vec_id WHERE d.vec_id IS NULL
            |ORDER BY a.vec_id""".stripMargin))

  // knn_cosine_brute — §2#29 -------------------------------------------------

  private val knnBrute = Q(
    "knn_cosine_brute",
    (s, dir) => {
      val e = Tables.embeddings(s, dir)
      Similarity.cosineTopK(e.filter(col("vec_id") < 5), e, 3)
        .orderBy(col("qid"), col("rank"))
    },
    Some("""WITH n AS (SELECT vec_id, embedding,
           |    list_reduce(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (a, b) -> a + b) AS n2
           |  FROM embeddings),
           |q AS (SELECT vec_id AS qid, embedding AS qe, n2 AS qn2 FROM n WHERE vec_id < 5),
           |scored AS (
           |  SELECT q.qid, n.vec_id,
           |    list_reduce(list_transform(generate_series(1, 64), i -> CAST(q.qe[i] AS DOUBLE) * CAST(n.embedding[i] AS DOUBLE)), (a, b) -> a + b)
           |      / sqrt(q.qn2 * n.n2) AS cos
           |  FROM q, n WHERE n.vec_id <> q.qid)
           |SELECT qid, rank, vec_id, cos FROM (
           |  SELECT *, CAST(row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id ASC) AS INT) AS rank
           |  FROM scored) r
           |WHERE rank <= 3 ORDER BY qid, rank""".stripMargin))

  // knn_lsh — §2#30: random-hyperplane bucketed ANN, oracle-checked
  // (the LCG-derived hyperplanes are plain integer arithmetic DuckDB
  // replays exactly; cosine re-rank folds left like the brute oracle).

  private val knnLsh = Q(
    "knn_lsh",
    (s, dir) => {
      val e = Tables.embeddings(s, dir)
      Similarity.cosineTopKLsh(e.filter(col("vec_id") < 5), e, 3, 8)
        .orderBy(col("qid"), col("rank"))
    },
    Some(s"""WITH base AS (SELECT vec_id, embedding FROM embeddings),
            |sigs AS (
            |    ${rhSigSql(8)}),
            |n AS (SELECT vec_id, embedding, sig,
            |    list_reduce(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (x, y) -> x + y) AS n2
            |  FROM sigs),
            |scored AS (
            |  SELECT b.vec_id AS qid, a.vec_id, $cosSql AS cos
            |  FROM n a JOIN n b ON a.sig = b.sig AND a.vec_id <> b.vec_id
            |  WHERE b.vec_id < 5)
            |SELECT qid, rank, vec_id, cos FROM (
            |  SELECT *, CAST(row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id ASC) AS INT) AS rank
            |  FROM scored) r
            |WHERE rank <= 3 ORDER BY qid, rank""".stripMargin))

  // knn_ivf — §2 IVF scale path: deterministic k-means coarse
  // quantizer (id-mod init, 2 Lloyd steps with integer-quantized
  // per-dim means — see Similarity.kmeansCentroids), nearest-cell
  // assignment, 4-cell probe, exact re-rank. Every step is plain
  // arithmetic + total-order ranking, so DuckDB replays the WHOLE
  // training loop and query exactly (the quantized mean makes the
  // centroid sums order-independent in both engines).

  private def ivfCos(x: String, y: String, n2x: String, n2y: String): String =
    s"list_reduce(list_concat([CAST(0 AS DOUBLE)], list_transform(generate_series(1, 64), " +
      s"i -> CAST($x[i] AS DOUBLE) * CAST($y[i] AS DOUBLE))), (a, b) -> a + b) / sqrt($n2x * $n2y)"

  /** Cosine with inline norms (for centroid lists, which have no
    * precomputed n2 column) — identical folds to ivfCos / the native
    * kernel.
    */
  private[queries] def ivfCosFull(x: String, y: String): String =
    s"list_reduce(list_concat([CAST(0 AS DOUBLE)], list_transform(generate_series(1, 64), " +
      s"i -> CAST($x[i] AS DOUBLE) * CAST($y[i] AS DOUBLE))), (a, b) -> a + b) / sqrt(" +
      s"list_reduce(list_transform($x, e -> CAST(e AS DOUBLE) * CAST(e AS DOUBLE)), (a, b) -> a + b) * " +
      s"list_reduce(list_transform($y, e -> CAST(e AS DOUBLE) * CAST(e AS DOUBLE)), (a, b) -> a + b))"

  /** One Lloyd step as CTEs: assign every vector to its nearest `inC`
    * centroid (ties → smaller cent_id, like the Spark min_by), then
    * per-cell per-dim quantized means → `outC`. Mirrors one iteration
    * of Similarity.kmeansCentroids exactly.
    */
  private[queries] def lloydIterSql(inC: String, aT: String, dT: String, outC: String,
      src: String = "n"): String =
    s"""$aT AS (SELECT vec_id, embedding, cent_id FROM (
       |    SELECT v.vec_id, v.embedding, c.cent_id,
       |      row_number() OVER (PARTITION BY v.vec_id
       |        ORDER BY ${ivfCosFull("v.embedding", "c.cent")} DESC, c.cent_id ASC) AS rn
       |    FROM $src v CROSS JOIN $inC c) t WHERE rn = 1),
       |$dT AS (SELECT cent_id, g.i AS d,
       |    CAST(CAST(SUM(CAST(round(CAST(embedding[g.i] AS DOUBLE) * 1000.0) AS BIGINT)) AS DOUBLE)
       |      / (COUNT(*) * 1000.0) AS FLOAT) AS mx
       |  FROM $aT CROSS JOIN generate_series(1, 64) g(i) GROUP BY cent_id, g.i),
       |$outC AS (SELECT cent_id, list(mx ORDER BY d) AS cent FROM $dT GROUP BY cent_id)""".stripMargin

  /** Shared by knn_ivf and q46_ivf_index: both must produce exactly
    * this (trained-quantizer assign → probe → re-rank) result.
    */
  private val knnIvfOracle =
    s"""WITH n AS (SELECT vec_id, embedding,
            |    list_reduce(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (x, y) -> x + y) AS n2
            |  FROM embeddings),
            |c0 AS (SELECT vec_id AS cent_id, embedding AS cent FROM embeddings WHERE vec_id % 32 = 0),
            |${lloydIterSql("c0", "a0", "d0", "c1")},
            |${lloydIterSql("c1", "a1", "d1", "c2")},
            |asg AS (SELECT vec_id, embedding, n2, cent_id FROM (
            |    SELECT v.vec_id, v.embedding, v.n2, c.cent_id,
            |      row_number() OVER (PARTITION BY v.vec_id
            |        ORDER BY ${ivfCosFull("v.embedding", "c.cent")} DESC, c.cent_id ASC) AS rn
            |    FROM n v CROSS JOIN c2 c) t WHERE rn = 1),
            |probes AS (SELECT qid, qe, qn2, cent_id FROM (
            |    SELECT v.vec_id AS qid, v.embedding AS qe, v.n2 AS qn2, c.cent_id,
            |      row_number() OVER (PARTITION BY v.vec_id
            |        ORDER BY ${ivfCosFull("v.embedding", "c.cent")} DESC, c.cent_id ASC) AS rn
            |    FROM n v CROSS JOIN c2 c WHERE v.vec_id < 5) t WHERE rn <= 4),
            |scored AS (SELECT p.qid, a.vec_id, ${ivfCos("p.qe", "a.embedding", "p.qn2", "a.n2")} AS cos
            |  FROM asg a JOIN probes p USING (cent_id) WHERE a.vec_id <> p.qid)
            |SELECT qid, rank, vec_id, cos FROM (
            |  SELECT *, CAST(row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id ASC) AS INT) AS rank
            |  FROM scored) r
            |WHERE rank <= 3 ORDER BY qid, rank""".stripMargin

  private val knnIvf = Q(
    "knn_ivf",
    (s, dir) => {
      val e = Tables.embeddings(s, dir)
      Similarity.cosineTopKIvf(e.filter(col("vec_id") < 5), e, 3, 32, 4, kmeansIters = 2)
        .orderBy(col("qid"), col("rank"))
    },
    Some(knnIvfOracle))

  // q46_ivf_index — the PERSISTED IVF path through the oracle gate:
  // write the cell-partitioned index (trained quantizer + assignments
  // on disk, cent_id = partition dir), then answer the query from the
  // index via the dynamic-partition-pruned probe join. Must equal the
  // in-memory knn_ivf bit-for-bit, so it shares its oracle — the gate
  // proves the storage layout loses nothing.

  private val ivfIndex = Q(
    "q46_ivf_index",
    (s, dir) => {
      val e = Tables.embeddings(s, dir)
      val path = s"/tmp/graft_ivf_index/${new java.io.File(dir).getName}"
      Similarity.writeIvfIndex(e, path, 32, 2)
      Similarity.probeIvfIndex(s, path, e.filter(col("vec_id") < 5), 3, 4)
        .orderBy(col("qid"), col("rank"))
    },
    Some(knnIvfOracle))

  // q125_ivf_incr — incremental ANN index advance
  // (Similarity.appendIvfIndex): the index is trained and built on
  // the BASE corpus only (vec_id % 3 ≠ 0 — same seeding/Lloyd chain,
  // restricted), then a batch (vec_id % 3 = 0) is INSERTED by
  // assigning to the existing centroids and appending cells — no
  // retrain, no rewrite of existing cells. The probe must then equal
  // a from-scratch assignment of the FULL corpus to the base-trained
  // quantizer, which is exactly what the oracle replays: base-only
  // Lloyd steps, full-corpus assignment, identical probe/re-rank.

  private val ivfIncr = Q(
    "q125_ivf_incr",
    (s, dir) => {
      val e = Tables.embeddings(s, dir)
      val path = s"/tmp/graft_ivf_incr/${new java.io.File(dir).getName}"
      Similarity.writeIvfIndex(e.filter(pmod(col("vec_id"), lit(3)) =!= 0), path, 32, 2)
      Similarity.appendIvfIndex(e.filter(pmod(col("vec_id"), lit(3)) === 0), path)
      Similarity.probeIvfIndex(s, path, e.filter(col("vec_id") < 5), 3, 4)
        .orderBy(col("qid"), col("rank"))
    },
    Some(s"""WITH n AS (SELECT vec_id, embedding,
            |    list_reduce(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (x, y) -> x + y) AS n2
            |  FROM embeddings),
            |nb AS (SELECT vec_id, embedding, n2 FROM n WHERE vec_id % 3 <> 0),
            |c0 AS (SELECT vec_id AS cent_id, embedding AS cent FROM embeddings
            |  WHERE vec_id % 3 <> 0 AND vec_id % 32 = 0),
            |${lloydIterSql("c0", "a0", "d0", "c1", "nb")},
            |${lloydIterSql("c1", "a1", "d1", "c2", "nb")},
            |asg AS (SELECT vec_id, embedding, n2, cent_id FROM (
            |    SELECT v.vec_id, v.embedding, v.n2, c.cent_id,
            |      row_number() OVER (PARTITION BY v.vec_id
            |        ORDER BY ${ivfCosFull("v.embedding", "c.cent")} DESC, c.cent_id ASC) AS rn
            |    FROM n v CROSS JOIN c2 c) t WHERE rn = 1),
            |probes AS (SELECT qid, qe, qn2, cent_id FROM (
            |    SELECT v.vec_id AS qid, v.embedding AS qe, v.n2 AS qn2, c.cent_id,
            |      row_number() OVER (PARTITION BY v.vec_id
            |        ORDER BY ${ivfCosFull("v.embedding", "c.cent")} DESC, c.cent_id ASC) AS rn
            |    FROM n v CROSS JOIN c2 c WHERE v.vec_id < 5) t WHERE rn <= 4),
            |scored AS (SELECT p.qid, a.vec_id, ${ivfCos("p.qe", "a.embedding", "p.qn2", "a.n2")} AS cos
            |  FROM asg a JOIN probes p USING (cent_id) WHERE a.vec_id <> p.qid)
            |SELECT qid, rank, vec_id, cos FROM (
            |  SELECT *, CAST(row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id ASC) AS INT) AS rank
            |  FROM scored) r
            |WHERE rank <= 3 ORDER BY qid, rank""".stripMargin))

  // q105_embed_outliers — embedding-space outlier scrub: vectors
  // strictly below their k-means cell's p10 cosine-to-centroid. Shares
  // the knn_ivf training replay (same c0 → Lloyd ×2 chain) plus a
  // per-cell quantile_cont threshold — the per-cell adaptivity is the
  // point (tight cells cut near 1.0, diffuse cells low). Cosine
  // exported as integer ppm (round half away from zero, both engines).

  private val embedOutliers = Q(
    "q105_embed_outliers",
    (s, dir) =>
      Similarity.embeddingOutliers(Tables.embeddings(s, dir), 32, 2, 0.1)
        .orderBy(col("vec_id")),
    Some(s"""WITH n AS (SELECT vec_id, embedding,
            |    list_reduce(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (x, y) -> x + y) AS n2
            |  FROM embeddings),
            |c0 AS (SELECT vec_id AS cent_id, embedding AS cent FROM embeddings WHERE vec_id % 32 = 0),
            |${lloydIterSql("c0", "a0", "d0", "c1")},
            |${lloydIterSql("c1", "a1", "d1", "c2")},
            |ac AS (SELECT v.vec_id, c.cent_id, ${ivfCosFull("v.embedding", "c.cent")} AS cos
            |  FROM n v CROSS JOIN c2 c),
            |asgf AS (SELECT vec_id, cent_id, cos FROM (
            |    SELECT vec_id, cent_id, cos,
            |      row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, cent_id ASC) AS rn
            |    FROM ac) t WHERE rn = 1),
            |thr AS (SELECT cent_id, quantile_cont(cos, 0.1) AS thr FROM asgf GROUP BY cent_id)
            |SELECT a.vec_id, a.cent_id, CAST(round(a.cos * 1000000) AS BIGINT) AS cd_ppm
            |FROM asgf a JOIN thr t USING (cent_id)
            |WHERE a.cos < t.thr ORDER BY a.vec_id""".stripMargin))

  // q54_knn_pq — product-quantization ANN: deterministic PQ codebooks
  // (8 subspaces × 16 codes, quantized-mean Lloyd step), fixed-point
  // ADC scores, exact cosine re-rank of the top-16 ADC candidates.
  // The oracle replays codebook training, encoding, the ADC sum, and
  // the re-rank — same exactness recipe as knn_ivf.

  /** Fold-left squared L2 over width-8 subvector slices `x`,`y`. */
  private def pqD2(x: String, y: String): String =
    s"list_reduce(list_concat([CAST(0 AS DOUBLE)], list_transform(generate_series(1, 8), " +
      s"i -> (CAST($x[i] AS DOUBLE) - CAST($y[i] AS DOUBLE)) * (CAST($x[i] AS DOUBLE) - CAST($y[i] AS DOUBLE)))), (a, b) -> a + b)"

  private def pqDot(x: String, y: String): String =
    s"list_reduce(list_concat([CAST(0 AS DOUBLE)], list_transform(generate_series(1, 8), " +
      s"i -> CAST($x[i] AS DOUBLE) * CAST($y[i] AS DOUBLE))), (a, b) -> a + b)"

  /** Nearest-codeword assignment of `sub` rows against codebook CTE
    * `cbT` → (vec_id, s, code); ties to the smaller code, like the
    * Spark min_by struct order.
    */
  private def pqAssignSql(cbT: String): String =
    s"""SELECT vec_id, s, code FROM (
       |    SELECT sub.vec_id, sub.s, c.code,
       |      row_number() OVER (PARTITION BY sub.vec_id, sub.s
       |        ORDER BY ${pqD2("sub.sv", "c.cent")} ASC, c.code ASC) AS rn
       |    FROM sub JOIN $cbT c USING (s)) t WHERE rn = 1""".stripMargin

  private val knnPq = Q(
    "q54_knn_pq",
    (s, dir) => {
      val e = Tables.embeddings(s, dir)
      Similarity.cosineTopKPq(e.filter(col("vec_id") < 5), e, 3)
        .orderBy(col("qid"), col("rank"))
    },
    Some(s"""WITH sub AS (SELECT vec_id, g.s AS s, embedding[g.s*8+1 : g.s*8+8] AS sv
            |  FROM embeddings CROSS JOIN generate_series(0, 7) g(s)),
            |cb0 AS (SELECT s, CAST(vec_id AS INT) AS code, sv AS cent FROM sub WHERE vec_id < 16),
            |a0 AS (${pqAssignSql("cb0")}),
            |d0 AS (SELECT a0.s, a0.code, g.i AS i,
            |    CAST(CAST(SUM(CAST(round(CAST(sv[g.i] AS DOUBLE) * 1000.0) AS BIGINT)) AS DOUBLE)
            |      / (COUNT(*) * 1000.0) AS FLOAT) AS mx
            |  FROM a0 JOIN sub USING (vec_id, s) CROSS JOIN generate_series(1, 8) g(i)
            |  GROUP BY a0.s, a0.code, g.i),
            |cb1 AS (SELECT s, code, list(mx ORDER BY i) AS cent FROM d0 GROUP BY s, code),
            |enc AS (${pqAssignSql("cb1")}),
            |lut AS (SELECT q.vec_id AS qid, c.s, c.code,
            |    CAST(round(${pqDot("q.sv", "c.cent")} * 1000000.0) AS BIGINT) AS dpq,
            |    CAST(round(list_reduce(list_transform(c.cent, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (a, b) -> a + b) * 1000000.0) AS BIGINT) AS cq
            |  FROM sub q JOIN cb1 c USING (s) WHERE q.vec_id < 5),
            |scored AS (SELECT l.qid, e.vec_id,
            |    CAST(SUM(l.dpq) AS BIGINT) AS sdp, CAST(SUM(l.cq) AS BIGINT) AS scn
            |  FROM enc e JOIN lut l ON e.s = l.s AND e.code = l.code
            |  GROUP BY l.qid, e.vec_id),
            |adc AS (SELECT qid, vec_id,
            |    CAST(sdp AS DOUBLE) / sqrt(CAST(GREATEST(scn, 1) AS DOUBLE)) AS adc
            |  FROM scored WHERE vec_id <> qid),
            |cand AS (SELECT qid, vec_id FROM (
            |    SELECT qid, vec_id, row_number() OVER (PARTITION BY qid ORDER BY adc DESC, vec_id ASC) AS rn
            |    FROM adc) t WHERE rn <= 16),
            |n AS (SELECT vec_id, embedding,
            |    list_reduce(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (x, y) -> x + y) AS n2
            |  FROM embeddings),
            |rescored AS (SELECT c.qid, c.vec_id, ${ivfCos("q.embedding", "v.embedding", "q.n2", "v.n2")} AS cos
            |  FROM cand c JOIN n v ON v.vec_id = c.vec_id JOIN n q ON q.vec_id = c.qid)
            |SELECT qid, rank, vec_id, cos FROM (
            |  SELECT *, CAST(row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id ASC) AS INT) AS rank
            |  FROM rescored) r
            |WHERE rank <= 3 ORDER BY qid, rank""".stripMargin))

  // q47_corpus_mix — training-data mixing: deterministic stratified
  // downsampling by language (en kept at 60%, de 30%, others 10%).
  // The keep decision is the portable poly-hash of the doc id mod 100
  // (not rand() — reproducible across task retries AND replayable by
  // the oracle), so the exact kept-set is part of the correctness
  // contract, not just the counts.

  private val corpusMix = Q(
    "q47_corpus_mix",
    (s, dir) => {
      val d = Tables.documents(s, dir)
      TA.stratifiedSample(d, col("doc_id"), col("lang"), Map("en" -> 60, "de" -> 30), 10)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_kept"), min(col("doc_id")).as("first_id"),
          max(col("doc_id")).as("last_id"))
        .orderBy(col("lang"))
    },
    Some(s"""SELECT lang, COUNT(*) AS n_kept, MIN(doc_id) AS first_id, MAX(doc_id) AS last_id
            |FROM (SELECT lang, doc_id,
            |    ${polySql("ds", Dedup.PolyB1, Dedup.PolyP1)} % 100 AS bucket
            |  FROM (SELECT lang, doc_id, CAST(doc_id AS VARCHAR) AS ds FROM documents)) t
            |WHERE bucket < (CASE lang WHEN 'en' THEN 60 WHEN 'de' THEN 30 ELSE 10 END)
            |GROUP BY lang ORDER BY lang""".stripMargin))

  // q48_pack_sequences — sequence packing for pretraining batches:
  // per-packing-stream running token total over a deterministic doc
  // order, bin = tokens-before // budget (chunk boundaries of a
  // 2048-token packing pass). The packing stream key is COMPOSITE:
  // (lang, shard) with shard = portable-hash(doc_id) % nShards — a
  // language alone has ~5 values, so a lang-only window funnels the
  // whole corpus through 5 sort tasks at 100 TB. nShards makes the
  // stream count data-proportional (sizing rule in PLANS.md: pick
  // nShards so corpus_tokens / (n_langs·nShards) ≈ one task's sort
  // budget; the shard set is also the training-shard artifact, which
  // scales with the corpus anyway). Hash sharding is deterministic —
  // retries, reruns, and the oracle replay the identical assignment.

  private val packSequences = Q(
    "q48_pack_sequences",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val nShards = 32
      val d = Tables.documents(s, dir)
      val h = Dedup.polyHash(d, col("doc_id").cast("string"), Dedup.PolyB1, Dedup.PolyP1)
      val w = Window.partitionBy(col("lang"), col("shard")).orderBy(col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      d.select(col("lang"), (h % nShards).as("shard"), col("doc_id"),
          TA.wsTokenCount(col("text")).as("n"))
        .withColumn("cum", sum(col("n")).over(w))
        .withColumn("bin", expr("(cum - n) div 2048"))
        .groupBy(col("lang"), col("shard"), col("bin"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n")).as("bin_tokens"))
        .orderBy(col("lang"), col("shard"), col("bin"))
    },
    Some(s"""SELECT lang, shard, bin, COUNT(*) AS n_docs, CAST(SUM(n) AS BIGINT) AS bin_tokens FROM (
            |  SELECT lang, shard, doc_id, n, CAST((cum - n) // 2048 AS BIGINT) AS bin FROM (
            |    SELECT lang, shard, doc_id, n,
            |      SUM(n) OVER (PARTITION BY lang, shard ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS cum
            |    FROM (SELECT lang, ${polySql("ds", Dedup.PolyB1, Dedup.PolyP1)} % 32 AS shard,
            |        doc_id, len(string_split_regex(trim(text), '\\s+')) AS n
            |      FROM (SELECT lang, doc_id, CAST(doc_id AS VARCHAR) AS ds, text FROM documents))))
            |GROUP BY lang, shard, bin ORDER BY lang, shard, bin""".stripMargin))

  // q79_pack_split — sequence packing WITH document splitting: q48
  // bins whole docs ((cum-n) div W), which leaves bins ragged; real
  // pretraining packing splits a document across the 2048-token
  // boundary so every bin is exactly full. Each doc occupies token
  // interval [cum-n, cum) of its packing stream; one row per (doc,
  // bin) overlap, aggregated per bin: docs touching it, tokens landing
  // in it (= 2048 except each stream's tail), and how many docs were
  // SPLIT at its boundary. Same data-proportional (lang, shard) stream
  // key as q48; the per-doc bin fan-out is a scan-local explode
  // (sequence over firstBin..lastBin) and all arithmetic is integer —
  // both engines replay it exactly.

  private val packSplit = Q(
    "q79_pack_split",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val nShards = 32
      val d = Tables.documents(s, dir)
      val h = Dedup.polyHash(d, col("doc_id").cast("string"), Dedup.PolyB1, Dedup.PolyP1)
      val w = Window.partitionBy(col("lang"), col("shard")).orderBy(col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      d.select(col("lang"), (h % nShards).as("shard"), col("doc_id"),
          TA.wsTokenCount(col("text")).as("n"))
        .filter(col("n") > 0)
        .withColumn("cum", sum(col("n")).over(w))
        .withColumn("bin", explode(expr("sequence((cum - n) div 2048, (cum - 1) div 2048)")))
        .withColumn("tok_in_bin",
          least(col("cum"), (col("bin") + 1) * 2048) - greatest(col("cum") - col("n"), col("bin") * 2048))
        .withColumn("split", (expr("(cum - n) div 2048") =!= expr("(cum - 1) div 2048")).cast("int"))
        .groupBy(col("lang"), col("shard"), col("bin"))
        .agg(count(lit(1)).as("n_docs"), sum(col("tok_in_bin")).as("bin_tokens"),
          sum(col("split")).as("n_split_docs"))
        .orderBy(col("lang"), col("shard"), col("bin"))
    },
    Some(s"""SELECT lang, shard, bin, COUNT(*) AS n_docs,
            |  CAST(SUM(LEAST(cum, (bin + 1) * 2048) - GREATEST(cum - n, bin * 2048)) AS BIGINT) AS bin_tokens,
            |  CAST(SUM(CASE WHEN (cum - n) // 2048 <> (cum - 1) // 2048 THEN 1 ELSE 0 END) AS BIGINT) AS n_split_docs
            |FROM (
            |  SELECT lang, shard, doc_id, n, cum,
            |    unnest(generate_series((cum - n) // 2048, (cum - 1) // 2048)) AS bin FROM (
            |    SELECT lang, shard, doc_id, n,
            |      CAST(SUM(n) OVER (PARTITION BY lang, shard ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
            |    FROM (SELECT lang, ${polySql("ds", Dedup.PolyB1, Dedup.PolyP1)} % 32 AS shard,
            |        doc_id, len(string_split_regex(trim(text), '\\s+')) AS n
            |      FROM (SELECT lang, doc_id, CAST(doc_id AS VARCHAR) AS ds, text FROM documents))
            |    WHERE n > 0))
            |GROUP BY lang, shard, bin ORDER BY lang, shard, bin""".stripMargin))

  // q49_vocab_topk — frequency vocabulary: top-50 whitespace tokens by
  // document frequency-weighted count, deterministic tiebreak on the
  // token. The groupBy partial-aggregates map-side; the final top-k is
  // a TakeOrdered (no global sort materialization).

  private val vocabTopk = Q(
    "q49_vocab_topk",
    (s, dir) =>
      Tables.documents(s, dir)
        .select(explode(split(trim(col("text")), "\\s+")).as("token"))
        .groupBy(col("token"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("token"))
        .limit(50),
    Some("""SELECT token, CAST(COUNT(*) AS BIGINT) AS n
           |FROM (SELECT unnest(string_split_regex(trim(text), '\s+')) AS token FROM documents)
           |GROUP BY token ORDER BY n DESC, token LIMIT 50""".stripMargin))

  // q50_decontaminate — train/test contamination scrub: any training
  // doc sharing a hashed word-8-gram with the benchmark set is
  // dropped (the planted +10000 exact copies and the +20000 near
  // copies of benchmark docs are exactly what it must catch). The
  // 8-gram tables carry 8-byte poly-hashes, the overlap check is a
  // distinct semi-join on that key, and the scrub is an anti-join —
  // no text ever shuffles.

  /** q50's exact semi-join oracle — shared verbatim by q68: the Bloom
    * pre-filter must change NOTHING about the result. */
  private val decontaminateSql = s"""WITH corpus AS ($corpusSql),
            |bench AS (SELECT doc_id, text FROM corpus WHERE doc_id % 10 = 0 AND doc_id < 10000),
            |train AS (SELECT c.doc_id, c.text FROM corpus c
            |  LEFT JOIN bench b ON c.doc_id = b.doc_id WHERE b.doc_id IS NULL),
            |bw AS (SELECT doc_id, string_split(text, ' ') AS w FROM bench),
            |tw AS (SELECT doc_id, string_split(text, ' ') AS w FROM train),
            |bng0 AS (SELECT DISTINCT unnest(list_transform(generate_series(1, greatest(len(w) - 7, 0)),
            |    i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' || w[i+4] || ' ' || w[i+5] || ' ' || w[i+6] || ' ' || w[i+7])) AS ng0
            |  FROM bw),
            |bng AS (SELECT DISTINCT ${polySql("ng0", Dedup.PolyB1, Dedup.PolyP1)} AS ng FROM bng0),
            |tng0 AS (SELECT DISTINCT doc_id, unnest(list_transform(generate_series(1, greatest(len(w) - 7, 0)),
            |    i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' || w[i+4] || ' ' || w[i+5] || ' ' || w[i+6] || ' ' || w[i+7])) AS ng0
            |  FROM tw),
            |tng AS (SELECT doc_id, ${polySql("ng0", Dedup.PolyB1, Dedup.PolyP1)} AS ng FROM tng0)
            |SELECT DISTINCT doc_id FROM tng JOIN bng USING (ng)
            |ORDER BY doc_id""".stripMargin

  private val decontaminate = Q(
    "q50_decontaminate",
    (s, dir) => {
      val c = corpus(s, dir)
      val bench = c.filter(pmod(col("doc_id"), lit(10)) === 0 && col("doc_id") < 10000)
      val train = c.join(bench.select(col("doc_id")), Seq("doc_id"), "left_anti")
      val bngr = bench.select(explode(Dedup.hashedNgrams(bench, col("text"), 8)).as("ng")).distinct()
      val tngr = train.select(col("doc_id"), explode(Dedup.hashedNgrams(train, col("text"), 8)).as("ng"))
      val contaminated = tngr.join(bngr, Seq("ng")).select(col("doc_id")).distinct()
      contaminated.orderBy(col("doc_id"))
    },
    Some(decontaminateSql))

  // q68_bloom_decontaminate — sketch-accelerated decontamination: the
  // benchmark 8-gram set is folded into a 2ⁱ⁷-bit one-row bitmap
  // (Stats.bitmap — a k=1 Bloom filter, mBits/8 bytes ≈ 10× smaller
  // than the exact hash set), broadcast into the train-side SCAN as a
  // codegen Column pre-filter; only surviving (doc, ngram) rows reach
  // the exact semi-join. False positives cost a verify row, false
  // negatives are impossible — so the oracle is q50's exact SQL
  // VERBATIM: the sketch must change nothing. At 100 TB this is the
  // difference between shuffling every train ngram into the
  // contamination join and shuffling ~FPR of them.

  private val bloomDecontaminate = Q(
    "q68_bloom_decontaminate",
    (s, dir) => {
      val mBits = 1 << 17
      val c = corpus(s, dir)
      val bench = c.filter(pmod(col("doc_id"), lit(10)) === 0 && col("doc_id") < 10000)
      val train = c.join(bench.select(col("doc_id")), Seq("doc_id"), "left_anti")
      val bngr = bench.select(explode(Dedup.hashedNgrams(bench, col("text"), 8)).as("ng")).distinct()
      val mask = broadcast(graft.operators.Stats.bitmap(bngr, col("ng"), mBits))
      val tngr = train.select(col("doc_id"), explode(Dedup.hashedNgrams(train, col("text"), 8)).as("ng"))
      val survivors = tngr.crossJoin(mask)
        .filter(graft.operators.Stats.bitmapMightContain(col("mask"), col("ng"), mBits))
        .select(col("doc_id"), col("ng"))
      val contaminated = survivors.join(bngr, Seq("ng")).select(col("doc_id")).distinct()
      contaminated.orderBy(col("doc_id"))
    },
    Some(decontaminateSql))

  // q51_repetition_filter — repetition-based quality gate: documents
  // whose duplicated-3-gram fraction exceeds 20% are flagged (the
  // corpus plants repetitive docs by doubling text for doc_id%9==0).
  // rep_ratio is a double division of exact integers — deterministic.

  private val repetitionFilter = Q(
    "q51_repetition_filter",
    (s, dir) => {
      val d = Tables.documents(s, dir).select(col("doc_id"),
        when(pmod(col("doc_id"), lit(9)) === 0, concat(col("text"), lit(" "), col("text")))
          .otherwise(col("text")).as("text"))
      val (total, distinctN) = TA.ngramRepetition(d, col("text"), 3)
      d.select(col("doc_id"), total.as("n_grams"), distinctN.as("n_distinct"))
        .withColumn("rep_ratio",
          lit(1.0) - col("n_distinct").cast("double") / greatest(col("n_grams"), lit(1)))
        .filter(col("rep_ratio") > 0.2)
        .orderBy(col("doc_id"))
    },
    Some("""SELECT doc_id, n_grams, n_distinct,
           |  1.0 - CAST(n_distinct AS DOUBLE) / GREATEST(n_grams, 1) AS rep_ratio
           |FROM (
           |  SELECT doc_id,
           |    len(grams) AS n_grams, len(list_distinct(grams)) AS n_distinct
           |  FROM (
           |    SELECT doc_id, list_transform(generate_series(1, greatest(len(w) - 2, 0)),
           |        i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]) AS grams
           |    FROM (SELECT doc_id, string_split(CASE WHEN doc_id % 9 = 0 THEN text || ' ' || text ELSE text END, ' ') AS w
           |      FROM documents)))
           |WHERE 1.0 - CAST(n_distinct AS DOUBLE) / GREATEST(n_grams, 1) > 0.2
           |ORDER BY doc_id""".stripMargin))

  // q56_shard_order — deterministic training order: shard = portable
  // hash of the doc id (mod nShards), position = rank of the hash
  // within the shard. This is the "shuffle" step of a pretraining
  // pipeline done reproducibly: no rand(), so task retries, reruns,
  // and the oracle all see the identical order. nShards is the
  // data-proportional parameter (NOT a fixed 8): per-shard sort size is
  // corpus/nShards, so nShards scales with the corpus exactly like the
  // training-shard artifact it produces — sizing rule in PLANS.md. The
  // gated contract runs 64 shards → a 64-way-parallel rank stage.

  private val shardOrder = Q(
    "q56_shard_order",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val nShards = 64
      val d = Tables.documents(s, dir)
      val h = Dedup.polyHash(d, col("doc_id").cast("string"), Dedup.PolyB1, Dedup.PolyP1)
      val w = Window.partitionBy(col("shard")).orderBy(col("h"), col("doc_id"))
      d.select(col("doc_id"), (h % nShards).as("shard"), h.as("h"))
        .withColumn("pos", row_number().over(w).cast("int"))
        .select(col("shard"), col("pos"), col("doc_id"))
        .orderBy(col("shard"), col("pos"))
    },
    Some(s"""SELECT shard, CAST(row_number() OVER (PARTITION BY shard ORDER BY h, doc_id) AS INT) AS pos, doc_id
            |FROM (SELECT doc_id, h % 64 AS shard, h FROM (
            |  SELECT doc_id, ${polySql("ds", Dedup.PolyB1, Dedup.PolyP1)} AS h
            |  FROM (SELECT doc_id, CAST(doc_id AS VARCHAR) AS ds FROM documents)))
            |ORDER BY shard, pos""".stripMargin))

  // q57_tfidf_topterms — rarity-weighted term extraction: per doc, the
  // top-3 tokens by tf/df (document frequency from the corpus-wide
  // term table — stopwords have huge df and sink). The score is ONE
  // double division of exact integers, so it is deterministic across
  // engines and partitionings (no log-idf, whose libm rounding is not
  // portable); ties break on the token's binary collation, identical
  // in Spark and DuckDB.

  private val tfidfTopTerms = Q(
    "q57_tfidf_topterms",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val tok = Tables.documents(s, dir)
        .select(col("doc_id"), explode(split(trim(col("text")), "\\s+")).as("token"))
      val tf = tok.groupBy(col("doc_id"), col("token")).agg(count(lit(1)).as("tf"))
      val dfreq = tf.groupBy(col("token")).agg(count(lit(1)).as("dfreq"))
      val w = Window.partitionBy(col("doc_id")).orderBy(col("score").desc, col("token").asc)
      tf.join(dfreq, Seq("token"))
        .withColumn("score", col("tf").cast("double") / col("dfreq"))
        .withColumn("rank", row_number().over(w).cast("int"))
        .filter(col("rank") <= 3)
        .select(col("doc_id"), col("rank"), col("token"), col("tf"), col("dfreq"), col("score"))
        .orderBy(col("doc_id"), col("rank"))
    },
    Some("""WITH tok AS (SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS token FROM documents),
           |tf AS (SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS tf FROM tok GROUP BY 1, 2),
           |df AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS dfreq FROM tf GROUP BY 1),
           |scored AS (SELECT doc_id, token, tf, dfreq, CAST(tf AS DOUBLE) / dfreq AS score
           |  FROM tf JOIN df USING (token))
           |SELECT doc_id, rank, token, tf, dfreq, score FROM (
           |  SELECT *, CAST(row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, token ASC) AS INT) AS rank
           |  FROM scored) t
           |WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin))

  // text_tokens — §2#33 ------------------------------------------------------

  private val textTokens = Q(
    "text_tokens",
    (s, dir) =>
      Tables.documents(s, dir)
        .select(col("doc_id"),
          TA.wsTokenCount(col("text")).as("ws_tokens"),
          TA.bpeTokenCount(col("text")).as("bpe_tokens"))
        .orderBy(col("doc_id")),
    Some(s"""SELECT doc_id,
            |  len(string_split_regex(trim(text), '\\s+')) AS ws_tokens,
            |  len(regexp_extract_all(text, '${TA.bpePattern}')) AS bpe_tokens
            |FROM documents ORDER BY doc_id""".stripMargin))

  // text_quality — §2#31 -----------------------------------------------------

  private val textQuality = Q(
    "text_quality",
    (s, dir) =>
      Tables.documents(s, dir)
        .select(col("doc_id"), length(col("text")).as("n_chars"),
          TA.wsTokenCount(col("text")).as("n_words"),
          TA.punctCount(col("text")).as("n_punct"),
          TA.stopHits(col("text")).as("n_stop"))
        .withColumn("quality",
          TA.qualityScore(col("n_chars"), col("n_words"), col("n_punct"), col("n_stop")))
        .orderBy(col("doc_id")),
    Some("""SELECT doc_id, n_chars, n_words, n_punct, n_stop,
           |  LEAST(CAST(n_chars AS DOUBLE) / 500.0, 1.0) * 0.4
           |    + LEAST(CAST(n_stop AS DOUBLE) * 4.0 / GREATEST(n_words, 1), 1.0) * 0.4
           |    + (1.0 - LEAST(CAST(n_punct AS DOUBLE) * 5.0 / GREATEST(n_chars, 1), 1.0)) * 0.2 AS quality
           |FROM (
           |  SELECT doc_id, length(text) AS n_chars,
           |    len(string_split_regex(trim(text), '\s+')) AS n_words,
           |    length(text) - length(regexp_replace(text, '[^a-zA-Z0-9\s]', '', 'g')) AS n_punct,
           |    len(regexp_extract_all(text, '\b(the|a|of|to|and|in|is)\b')) AS n_stop
           |  FROM documents) t
           |ORDER BY doc_id""".stripMargin))

  // text_langid — §2#32 ------------------------------------------------------

  private val textLangid = Q(
    "text_langid",
    (s, dir) => {
      val d = Tables.documents(s, dir)
      val withHits = TA.langProfiles.foldLeft(d) { case (df, (lang, pat)) =>
        df.withColumn(s"h_$lang", TA.langHits(col("text"), pat))
      }
      withHits.withColumn("lang_guess",
          when(col("h_en") >= col("h_de") && col("h_en") >= col("h_fr") &&
            col("h_en") >= col("h_es") && col("h_en") >= col("h_zh"), "en")
            .when(col("h_de") >= col("h_fr") && col("h_de") >= col("h_es") && col("h_de") >= col("h_zh"), "de")
            .when(col("h_fr") >= col("h_es") && col("h_fr") >= col("h_zh"), "fr")
            .when(col("h_es") >= col("h_zh"), "es")
            .otherwise("zh"))
        .select(col("doc_id"), col("h_en"), col("h_de"), col("h_fr"), col("h_es"), col("lang_guess"))
        .orderBy(col("doc_id"))
    },
    Some("""SELECT doc_id, h_en, h_de, h_fr, h_es,
           |  CASE WHEN h_en >= h_de AND h_en >= h_fr AND h_en >= h_es AND h_en >= h_zh THEN 'en'
           |       WHEN h_de >= h_fr AND h_de >= h_es AND h_de >= h_zh THEN 'de'
           |       WHEN h_fr >= h_es AND h_fr >= h_zh THEN 'fr'
           |       WHEN h_es >= h_zh THEN 'es'
           |       ELSE 'zh' END AS lang_guess
           |FROM (
           |  SELECT doc_id,
           |    len(regexp_extract_all(text, '\b(the|a|of|to|and|in|is)\b')) AS h_en,
           |    len(regexp_extract_all(text, '\b(der|die|das|und|ist|nicht)\b')) AS h_de,
           |    len(regexp_extract_all(text, '\b(le|la|et|les|des|est)\b')) AS h_fr,
           |    len(regexp_extract_all(text, '\b(el|la|de|que|y|los)\b')) AS h_es,
           |    len(regexp_extract_all(text, '[\x{4e00}-\x{9fff}]')) AS h_zh
           |  FROM documents) t
           |ORDER BY doc_id""".stripMargin))

  // text_fingerprint — §2#34 -------------------------------------------------

  private val textFingerprint = Q(
    "text_fingerprint",
    (s, dir) =>
      Tables.documents(s, dir)
        .select(col("doc_id"),
          (expr("""aggregate(transform(sequence(1, length(text)), i -> CAST(i AS BIGINT) * ascii(substring(text, i, 1))), CAST(0 AS BIGINT), (acc, x) -> acc + x)""")
            % 1000000007L).as("fp"))
        .orderBy(col("doc_id")),
    Some("""SELECT doc_id,
           |  CAST(list_sum(list_transform(generate_series(1, length(text)), i -> i * unicode(text[i:i]))) % 1000000007 AS BIGINT) AS fp
           |FROM documents ORDER BY doc_id""".stripMargin))

  // mm_media_meta — §2#35 ----------------------------------------------------

  private val mmMediaMeta = Q(
    "mm_media_meta",
    (s, dir) =>
      Media.decodeAll(Media.fromDocuments(Tables.documents(s, dir)))
        .toDF()
        .orderBy(col("media_id")),
    Some("""SELECT doc_id AS media_id,
           |  CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS media_type,
           |  octet_length(encode(text)) AS byte_len,
           |  CASE doc_id % 3 WHEN 1 THEN 0 ELSE CAST(16 + octet_length(encode(text)) % 640 AS INT) END AS width,
           |  CASE doc_id % 3 WHEN 1 THEN 0 ELSE CAST(16 + (octet_length(encode(text)) * 7) % 480 AS INT) END AS height,
           |  CASE doc_id % 3 WHEN 0 THEN 0 ELSE octet_length(encode(text)) * 40 END AS dur_ms
           |FROM documents ORDER BY media_id""".stripMargin))

  // q59_minhash_est — the verify-free scale variant of minhash dedup:
  // same band-bucket candidate generation, similarity = the classic
  // signature-agreement estimator (matching seeds / 16) instead of the
  // exact ngram-intersection join. At 100 TB this removes the two
  // largest joins of the exact pipeline (candidates × ngram table,
  // twice) — the ngram table is never touched after staging. Exact
  // k/16 arithmetic keeps the estimate bit-identical across engines.

  private val minhashEst = Q(
    "q59_minhash_est",
    (s, dir) =>
      Dedup.minHashEstPairs(corpus(s, dir), col("doc_id"), col("text"), 3, 4, 4, 0.5)
        .orderBy(col("id_a"), col("id_b")),
    Some(s"""WITH corpus AS ($corpusSql),
            |$ngrSql,
            |sig AS (SELECT doc_id, s, MIN((ng * (2*s+1) + (s*7919+1)) % ${Dedup.PolyP1}) AS m
            |  FROM ngr CROSS JOIN (SELECT unnest(generate_series(0, 15)) AS s) seeds
            |  GROUP BY doc_id, s),
            |band AS (SELECT doc_id, s // 4 AS band, string_agg(CAST(m AS VARCHAR), ',' ORDER BY s) AS bh
            |  FROM sig GROUP BY doc_id, s // 4),
            |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
            |  FROM band a JOIN band b USING (band, bh) WHERE a.doc_id < b.doc_id),
            |est AS (SELECT c.id_a, c.id_b,
            |    CAST(SUM(CASE WHEN sa.m = sb.m THEN 1 ELSE 0 END) AS DOUBLE) / 16 AS est_jaccard
            |  FROM cand c JOIN sig sa ON sa.doc_id = c.id_a
            |  JOIN sig sb ON sb.doc_id = c.id_b AND sb.s = sa.s
            |  GROUP BY 1, 2)
            |SELECT id_a, id_b, est_jaccard FROM est WHERE est_jaccard >= 0.5
            |ORDER BY id_a, id_b""".stripMargin))

  // q60_sq8_ann — scalar-quantized (SQ8) ANN: one global symmetric
  // scale (max |x|, broadcast), int8-range codes, shortlist ranked by
  // the quantized cosine sxy/√(sxx·syy) whose sums are exact integers,
  // float cosine re-rank of the shortlist only. The 4×-compression
  // companion to q54's PQ (32×): at 100 TB the codes live next to the
  // lake and the float embeddings are read only for shortlist rows.
  // Every step is fixed-order double or integer arithmetic — DuckDB
  // replays scale, codes, shortlist, and re-rank exactly.

  private val sq8Ann = Q(
    "q60_sq8_ann",
    (s, dir) => {
      val e = Tables.embeddings(s, dir)
      Similarity.cosineTopKSq8(e.filter(col("vec_id") < 5), e, 3, 16)
        .orderBy(col("qid"), col("rank"))
    },
    Some("""WITH n AS (SELECT vec_id, embedding FROM embeddings),
           |st AS (SELECT MAX(ABS(CAST(x AS DOUBLE))) AS scale FROM (SELECT unnest(embedding) AS x FROM n)),
           |cd AS (SELECT vec_id, embedding,
           |    list_transform(embedding, x -> CAST(FLOOR(CAST(x AS DOUBLE) * 127.0 / st.scale + 0.5) AS BIGINT)) AS code
           |  FROM n CROSS JOIN st),
           |cn AS (SELECT vec_id, code,
           |    list_reduce(list_transform(code, x -> x * x), (a, b) -> a + b) AS cn
           |  FROM cd),
           |q AS (SELECT vec_id AS qid, code AS qc, cn AS qn FROM cn WHERE vec_id < 5),
           |dq AS (SELECT q.qid, c.vec_id,
           |    list_reduce(list_transform(generate_series(1, 64), i -> q.qc[i] * c.code[i]), (a, b) -> a + b)
           |      / sqrt(CAST(GREATEST(q.qn * c.cn, 1) AS DOUBLE)) AS qcos
           |  FROM q, cn c WHERE c.vec_id <> q.qid),
           |short AS (SELECT qid, vec_id FROM (
           |    SELECT *, row_number() OVER (PARTITION BY qid ORDER BY qcos DESC, vec_id ASC) AS rn FROM dq) t
           |  WHERE rn <= 16),
           |n2 AS (SELECT vec_id, embedding,
           |    list_reduce(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (a, b) -> a + b) AS n2
           |  FROM n),
           |scored AS (SELECT s.qid, s.vec_id,
           |    list_reduce(list_transform(generate_series(1, 64), i -> CAST(qq.embedding[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE)), (a, b) -> a + b)
           |      / sqrt(qq.n2 * c.n2) AS cos
           |  FROM short s JOIN n2 c ON c.vec_id = s.vec_id JOIN n2 qq ON qq.vec_id = s.qid)
           |SELECT qid, rank, vec_id, cos FROM (
           |  SELECT *, CAST(row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id ASC) AS INT) AS rank
           |  FROM scored) r
           |WHERE rank <= 3 ORDER BY qid, rank""".stripMargin))

  // q67_incremental_dedup — the daily-ingest dedup shape: a NEW batch
  // (the planted exact + near copies) near-dup-checked against the
  // EXISTING corpus only — batch×bucket collisions, never
  // corpus×corpus. At 100 TB the lake side's signatures/bands are
  // precomputed at ingest, so a day's dedup cost scales with the
  // batch, not the lake. Full oracle replay (portable poly-hash).

  private val incrementalDedup = Q(
    "q67_incremental_dedup",
    (s, dir) => {
      val d = Tables.documents(s, dir).select(col("doc_id"), col("text"))
      val batch = d.filter(pmod(col("doc_id"), lit(10)) === 0)
        .select((col("doc_id") + 10000).as("doc_id"), col("text"))
        .unionByName(d.filter(pmod(col("doc_id"), lit(7)) === 0)
          .select((col("doc_id") + 20000).as("doc_id"),
            concat(col("text"), lit(" graft extra marker")).as("text")))
      Dedup.minHashLshPairsIncremental(d, batch, col("doc_id"), col("text"), 3, 4, 4, 0.5)
        .orderBy(col("id_new"), col("id_old"))
    },
    Some(s"""WITH corpus AS (
            |  SELECT doc_id, text, 0 AS src FROM documents
            |  UNION ALL SELECT doc_id + 10000, text, 1 FROM documents WHERE doc_id % 10 = 0
            |  UNION ALL SELECT doc_id + 20000, text || ' graft extra marker', 1 FROM documents WHERE doc_id % 7 = 0),
            |words AS (SELECT doc_id, src, string_split(text, ' ') AS w FROM corpus),
            |ngr0 AS (SELECT DISTINCT doc_id, src,
            |  unnest(list_transform(generate_series(1, greatest(len(w) - 2, 0)),
            |    i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS ng0
            |  FROM words),
            |ngr AS (SELECT doc_id, src, ${polySql("ng0", Dedup.PolyB1, Dedup.PolyP1)} AS ng FROM ngr0),
            |sizes AS (SELECT doc_id, COUNT(*) AS nn FROM ngr GROUP BY doc_id),
            |sig AS (SELECT doc_id, src, s, MIN((ng * (2*s+1) + (s*7919+1)) % ${Dedup.PolyP1}) AS m
            |  FROM ngr CROSS JOIN (SELECT unnest(generate_series(0, 15)) AS s) seeds
            |  GROUP BY 1, 2, 3),
            |band AS (SELECT doc_id, src, s // 4 AS band, string_agg(CAST(m AS VARCHAR), ',' ORDER BY s) AS bh
            |  FROM sig GROUP BY 1, 2, 3),
            |cand AS (SELECT DISTINCT a.doc_id AS id_new, b.doc_id AS id_old
            |  FROM band a JOIN band b USING (band, bh) WHERE a.src = 1 AND b.src = 0),
            |inter AS (SELECT c.id_new, c.id_old, COUNT(*) AS inter
            |  FROM cand c JOIN ngr a ON a.doc_id = c.id_new JOIN ngr b ON b.doc_id = c.id_old AND b.ng = a.ng
            |  GROUP BY 1, 2)
            |SELECT id_new, id_old, CAST(inter AS DOUBLE) / (sa.nn + sb.nn - inter) AS jaccard
            |FROM inter JOIN sizes sa ON id_new = sa.doc_id JOIN sizes sb ON id_old = sb.doc_id
            |WHERE CAST(inter AS DOUBLE) / (sa.nn + sb.nn - inter) >= 0.5
            |ORDER BY id_new, id_old""".stripMargin))

  // q69_tokenize_encode — vocabulary encoding, the step between q49's
  // vocab build and q48's packing: top-1000 tokens by frequency get
  // ids (rank order, deterministic tiebreak), every doc is encoded by
  // a BROADCAST vocab join (never a shuffle of the token stream
  // against the vocab), OOV → 0. Exported as per-doc scalars
  // (count/oov/first/last/checksum) — the id sequence itself is the
  // intermediate a packing job consumes.

  private val tokenizeEncode = Q(
    "q69_tokenize_encode",
    (s, dir) => {
      val d = Tables.documents(s, dir)
      val toks = d.select(col("doc_id"),
        posexplode(split(trim(col("text")), "\\s+")).as(Seq("pos", "tok")))
      // top-k FIRST (orderBy+limit → TakeOrdered, the q49 shape: per-
      // partition heaps, never a global sort — or a single-task window
      // — over the unbounded distinct-token aggregate, VERDICT r16
      // #1), THEN rank the 1000-row bounded result with NO window at
      // all: one sorted array of (-n, tok) structs (struct order =
      // field-wise ascending = the limit's own (n desc, tok) total
      // order) positionally exploded into ids — identical ids by
      // construction, and the only single-point step is an aggregate
      // over a knob-sized input
      val vocab = toks.groupBy(col("tok")).agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("tok")).limit(1000)
        .agg(sort_array(collect_list(struct((-col("n")).as("nn"), col("tok")))).as("vs"))
        .select(posexplode(col("vs")).as(Seq("i", "v")))
        .select(col("v.tok").as("tok"), (col("i") + 1).cast("int").as("id"))
      toks.join(broadcast(vocab), Seq("tok"), "left")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_tokens"),
          count(when(col("id").isNull, 1)).as("n_oov"),
          min_by(coalesce(col("id"), lit(0)), col("pos")).as("first_id"),
          max_by(coalesce(col("id"), lit(0)), col("pos")).as("last_id"),
          sum(coalesce(col("id"), lit(0))).as("id_sum"))
        .orderBy(col("doc_id"))
    },
    Some("""WITH words AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS w FROM documents),
           |toks AS (SELECT doc_id, unnest(generate_series(0, len(w) - 1)) AS pos, unnest(w) AS tok FROM words),
           |vocab AS (SELECT tok, id FROM (
           |    SELECT tok, CAST(row_number() OVER (ORDER BY COUNT(*) DESC, tok) AS INT) AS id
           |    FROM toks GROUP BY tok) v WHERE id <= 1000)
           |SELECT t.doc_id, COUNT(*) AS n_tokens,
           |  COUNT(*) FILTER (WHERE v.id IS NULL) AS n_oov,
           |  min_by(COALESCE(v.id, 0), t.pos) AS first_id,
           |  max_by(COALESCE(v.id, 0), t.pos) AS last_id,
           |  CAST(SUM(COALESCE(v.id, 0)) AS BIGINT) AS id_sum
           |FROM toks t LEFT JOIN vocab v ON t.tok = v.tok
           |GROUP BY t.doc_id ORDER BY t.doc_id""".stripMargin))

  // q70_rarity_score — corpus-relative rarity: the mean document
  // frequency of a doc's distinct 3-grams. The df table is the same
  // staging product the dedup family uses; docs dominated by rare
  // ngrams (low avg_df) are unusual/noisy, stock phrasing scores
  // high — the corpus-adaptive cousin of q51's repetition gate.
  // Integer counts + one double division: engine-exact.

  private val rarityScore = Q(
    "q70_rarity_score",
    (s, dir) => {
      val d = Tables.documents(s, dir)
      val ngr = d.select(col("doc_id"), explode(Dedup.hashedNgrams(d, col("text"), 3)).as("ng"))
      val dfTab = ngr.groupBy(col("ng")).agg(count(lit(1)).as("df"))
      ngr.join(dfTab, Seq("ng"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_ngrams"), sum(col("df")).as("df_sum"))
        .select(col("doc_id"), col("n_ngrams"),
          (col("df_sum").cast("double") / col("n_ngrams")).as("avg_df"))
        .orderBy(col("doc_id"))
    },
    Some(s"""WITH words AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
            |ngr0 AS (SELECT DISTINCT doc_id,
            |  unnest(list_transform(generate_series(1, greatest(len(w) - 2, 0)),
            |    i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS ng0
            |  FROM words),
            |ngr AS (SELECT doc_id, ${polySql("ng0", Dedup.PolyB1, Dedup.PolyP1)} AS ng FROM ngr0),
            |dft AS (SELECT ng, COUNT(*) AS df FROM ngr GROUP BY ng)
            |SELECT n.doc_id, COUNT(*) AS n_ngrams,
            |  CAST(CAST(SUM(d.df) AS BIGINT) AS DOUBLE) / COUNT(*) AS avg_df
            |FROM ngr n JOIN dft d ON n.ng = d.ng
            |GROUP BY n.doc_id ORDER BY n.doc_id""".stripMargin))

  // q71_redact_pii — PII scrubbing signals: per-doc counts of emails /
  // URLs / long digit runs, and the post-redaction length (emails
  // replaced) — the scan-local scrub pass every pretraining corpus
  // runs. PII is PLANTED deterministically (doc_id%11) since the
  // synthetic corpus is clean; patterns are RE2-and-Java-compatible,
  // and DuckDB's regexp_replace needs the explicit 'g' flag to match
  // Spark's replace-all default.

  private val redactPii = Q(
    "q71_redact_pii",
    (s, dir) => {
      val email = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
      val url = "https?://[^ ]+"
      val num = "\\b[0-9]{3,}\\b"
      val d = Tables.documents(s, dir).select(col("doc_id"),
        when(pmod(col("doc_id"), lit(11)) === 0,
          concat(col("text"), lit(" contact bob@example.com or visit https://ex.com/page or call 555 1234")))
          .otherwise(col("text")).as("text"))
      d.select(col("doc_id"),
          size(regexp_extract_all(col("text"), lit(email), lit(0))).as("n_emails"),
          size(regexp_extract_all(col("text"), lit(url), lit(0))).as("n_urls"),
          size(regexp_extract_all(col("text"), lit(num), lit(0))).as("n_numbers"),
          length(regexp_replace(col("text"), email, "<EMAIL>")).as("clean_len"))
        .orderBy(col("doc_id"))
    },
    Some("""WITH d AS (SELECT doc_id,
           |    CASE WHEN doc_id % 11 = 0
           |      THEN text || ' contact bob@example.com or visit https://ex.com/page or call 555 1234'
           |      ELSE text END AS text
           |  FROM documents)
           |SELECT doc_id,
           |  CAST(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS INT) AS n_emails,
           |  CAST(len(regexp_extract_all(text, 'https?://[^ ]+')) AS INT) AS n_urls,
           |  CAST(len(regexp_extract_all(text, '\b[0-9]{3,}\b')) AS INT) AS n_numbers,
           |  CAST(length(regexp_replace(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g')) AS INT) AS clean_len
           |FROM d ORDER BY doc_id""".stripMargin))

  // q65_weighted_sample — deterministic weighted priority sampling:
  // keep the top-100 docs per language by priority u/w, where u is the
  // portable poly-hash of the doc id in [0, 1e6) and the weight w is
  // the token count — length-proportional sampling for training mixes,
  // with the same reproducibility contract as q47 (no rand(): task
  // retries, reruns, and the oracle all draw the identical sample).
  // Per-language top-k goes through the bounded TopKAgg (partial
  // aggregation keeps ≤ k rows per language per mapper — no global
  // sort, no window over the full corpus).

  private val weightedSample = Q(
    "q65_weighted_sample",
    (s, dir) => {
      val d = Tables.documents(s, dir)
        .select(col("lang"), col("doc_id"),
          greatest(TA.wsTokenCount(col("text")), lit(1)).as("n"))
        .withColumn("u", pmod(Dedup.polyHash(Tables.documents(s, dir),
          col("doc_id").cast("string"), Dedup.PolyB1, Dedup.PolyP1), lit(1000000)))
        .withColumn("pri", col("u").cast("double") / col("n"))
      d.groupBy(col("lang"))
        .agg(graft.functions.TopKAgg.topk(100)(-col("pri"), col("doc_id")).as("tk"))
        .select(col("lang"), posexplode(col("tk")))
        .select(col("lang"), (col("pos") + 1).cast("int").as("rank"),
          col("col._2").as("doc_id"), (-col("col._1")).as("pri"))
        .orderBy(col("lang"), col("rank"))
    },
    Some(s"""WITH d AS (SELECT lang, doc_id,
            |    GREATEST(len(string_split_regex(trim(text), '\\s+')), 1) AS n,
            |    ${polySql("ds", Dedup.PolyB1, Dedup.PolyP1)} % 1000000 AS u
            |  FROM (SELECT lang, doc_id, text, CAST(doc_id AS VARCHAR) AS ds FROM documents))
            |SELECT lang, rank, doc_id, pri FROM (
            |  SELECT lang, doc_id, CAST(u AS DOUBLE) / n AS pri,
            |    CAST(row_number() OVER (PARTITION BY lang
            |      ORDER BY CAST(u AS DOUBLE) / n ASC, doc_id ASC) AS INT) AS rank
            |  FROM d) t
            |WHERE rank <= 100 ORDER BY lang, rank""".stripMargin))

  // q66_adaptive_quality_gate — per-group quantile thresholding: keep
  // docs at or above their LANGUAGE'S median token count (a data-
  // adaptive quality floor, not a global constant — the gate a mixed-
  // language corpus actually needs). The per-language medians are a
  // tiny aggregate joined back as a broadcast dim; percentile() /
  // quantile_cont share the interpolation definition bit-for-bit
  // (proved by q40).

  private val adaptiveGate = Q(
    "q66_adaptive_quality_gate",
    (s, dir) => {
      val d = Tables.documents(s, dir)
        .select(col("lang"), col("doc_id"), TA.wsTokenCount(col("text")).as("n"))
      val med = d.groupBy(col("lang")).agg(expr("percentile(n, 0.5)").as("p50"))
      d.join(broadcast(med), Seq("lang"))
        .filter(col("n") >= col("p50"))
        .groupBy(col("lang"), col("p50"))
        .agg(count(lit(1)).as("n_kept"), min(col("doc_id")).as("first_id"),
          max(col("doc_id")).as("last_id"))
        .select(col("lang"), col("p50"), col("n_kept"), col("first_id"), col("last_id"))
        .orderBy(col("lang"))
    },
    Some("""WITH d AS (SELECT lang, doc_id, len(string_split_regex(trim(text), '\s+')) AS n FROM documents),
           |m AS (SELECT lang, quantile_cont(n, 0.5) AS p50 FROM d GROUP BY 1)
           |SELECT d.lang, m.p50, COUNT(*) AS n_kept,
           |  MIN(doc_id) AS first_id, MAX(doc_id) AS last_id
           |FROM d JOIN m ON d.lang = m.lang
           |WHERE d.n >= m.p50
           |GROUP BY 1, 2 ORDER BY 1""".stripMargin))

  // q78_knn_lsh_multi — OR-amplified multi-table LSH ANN: 12 tables of
  // 4 bits sliced from ONE 48-bit rh-signature; a pair is a candidate
  // if it collides in ANY table (minhash-banding semantics for the
  // embedding side). Single-table recall@10 on this corpus is 0.03
  // (RecallProbe); 4×12 lifts it to 0.78 at similar cost. nBits must
  // track corpus size (rule: nBits ≈ log2(n_vecs / target_bucket),
  // here log2(2000/125) = 4; a 1B-vector lake runs ~20×3) — the table
  // count, not the bucket width, is the recall knob. Oracle replays
  // the wide signature and the shift/mask slicing exactly.

  private val knnLshMulti = Q(
    "q78_knn_lsh_multi",
    (s, dir) => {
      val e = Tables.embeddings(s, dir)
      Similarity.cosineTopKLshMulti(e.filter(col("vec_id") < 5), e, 3, 4, 12)
        .orderBy(col("qid"), col("rank"))
    },
    Some(s"""WITH base AS (SELECT vec_id, embedding FROM embeddings),
            |sigs AS (
            |    ${rhSigSql(48)}),
            |tabs AS (SELECT vec_id, t, (sig >> (t * 4)) & 15 AS bsig
            |  FROM sigs CROSS JOIN (SELECT unnest(generate_series(0, 11)) AS t) ts),
            |q AS (SELECT vec_id AS qid, t, bsig FROM tabs WHERE vec_id < 5),
            |pairs AS (SELECT DISTINCT q.qid, c.vec_id
            |  FROM tabs c JOIN q ON c.t = q.t AND c.bsig = q.bsig AND c.vec_id <> q.qid),
            |n AS (SELECT vec_id, embedding,
            |    list_reduce(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (x, y) -> x + y) AS n2
            |  FROM base),
            |scored AS (SELECT p.qid, p.vec_id, $cosSql AS cos
            |  FROM pairs p JOIN n a ON a.vec_id = p.vec_id JOIN n b ON b.vec_id = p.qid)
            |SELECT qid, rank, vec_id, cos FROM (
            |  SELECT *, CAST(row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id ASC) AS INT) AS rank
            |  FROM scored) r
            |WHERE rank <= 3 ORDER BY qid, rank""".stripMargin))

  // q75_chunk_dedup — paragraph-level dedup with reconstruction
  // (RefinedWeb/C4-style): remove every chunk that duplicates an
  // earlier one ANYWHERE in the corpus, keep the rest of the document.
  // Runs on the planted-duplicate corpus: exact copies (+10000) lose
  // every chunk and vanish; near copies (+20000) keep only their
  // trailing marker chunk. Operator: Dedup.chunkDedup (partial-agg
  // keeper table on the chunk hash — no low-cardinality window; chunk
  // text shuffles only chunk-sized rows). The oracle replays the
  // identical 12-word chunking and poly-hash.

  private val chunkDedup = Q(
    "q75_chunk_dedup",
    (s, dir) =>
      Dedup.chunkDedup(corpus(s, dir), col("doc_id"), col("text"), 12)
        .orderBy(col("doc_id")),
    Some(s"""WITH corpus AS ($corpusSql),
            |words AS (SELECT doc_id, string_split(text, ' ') AS w FROM corpus),
            |ch0 AS (SELECT doc_id, (len(w) + 11) // 12 AS n_chunks, w,
            |    unnest(generate_series(1, (len(w) + 11) // 12)) AS i FROM words),
            |ch AS (SELECT doc_id, n_chunks, i - 1 AS idx,
            |    array_to_string(w[(i-1)*12+1:(i-1)*12+12], ' ') AS chunk FROM ch0),
            |hh AS (SELECT doc_id, n_chunks, idx, chunk,
            |    ${polySql("chunk", Dedup.PolyB1, Dedup.PolyP1)}
            |      + ${polySql("chunk", Dedup.PolyB2, Dedup.PolyP2)} * 2147483648 AS h FROM ch),
            |kept AS (SELECT doc_id, n_chunks, idx, chunk FROM hh
            |  QUALIFY ROW_NUMBER() OVER (PARTITION BY h ORDER BY doc_id, idx) = 1)
            |SELECT doc_id, MAX(n_chunks) AS n_chunks, COUNT(*) AS n_kept,
            |  string_agg(chunk, ' ' ORDER BY idx) AS text_kept
            |FROM kept GROUP BY doc_id ORDER BY doc_id""".stripMargin))

  // q80_chunk_dedup_incr — the daily-ingest shape of q75 (the q67
  // pattern applied to the chunk family): a NEW batch (planted exact +
  // near copies) chunk-deduped against the PERSISTED keeper state of
  // the existing corpus only. Every stage — explode, hash, batch
  // first-occurrence — scales with the BATCH; the corpus is touched
  // solely through the keeper table (bucket-co-located anti-join on h
  // at 100 TB). The oracle replays the incremental semantics directly
  // — first occurrence WITHIN the batch, anti-joined against the
  // corpus chunk-hash state — with no id-ordering assumption, so it
  // stays correct at SFs where planted batch ids interleave corpus
  // ids (sf1's block-structured doc_ids taught us the union-recompute
  // formulation silently breaks there).

  private val chunkDedupIncr = Q(
    "q80_chunk_dedup_incr",
    (s, dir) => {
      val d = Tables.documents(s, dir).select(col("doc_id"), col("text"))
      val batch = d.filter(pmod(col("doc_id"), lit(10)) === 0)
        .select((col("doc_id") + 10000).as("doc_id"), col("text"))
        .unionByName(d.filter(pmod(col("doc_id"), lit(7)) === 0)
          .select((col("doc_id") + 20000).as("doc_id"),
            concat(col("text"), lit(" graft extra marker")).as("text")))
      val keepers = Dedup.chunkKeepers(d, col("doc_id"), col("text"), 12)
      Dedup.chunkDedupIncremental(batch, keepers, col("doc_id"), col("text"), 12)
        .orderBy(col("doc_id"))
    },
    Some(s"""WITH batch AS (
            |  SELECT doc_id + 10000 AS doc_id, text FROM documents WHERE doc_id % 10 = 0
            |  UNION ALL SELECT doc_id + 20000, text || ' graft extra marker' FROM documents WHERE doc_id % 7 = 0),
            |-- corpus chunk-hash STATE (what chunkKeepers persists);
            |-- chunk string materialized BEFORE hashing: polySql's
            |-- lambda variable i would shadow the unnest i otherwise
            |words_c AS (SELECT string_split(text, ' ') AS w FROM documents),
            |ch_c0 AS (SELECT w, unnest(generate_series(1, (len(w) + 11) // 12)) AS i FROM words_c),
            |ch_cc AS (SELECT array_to_string(w[(i-1)*12+1:(i-1)*12+12], ' ') AS chunk FROM ch_c0),
            |hh_c AS (SELECT DISTINCT
            |    ${polySql("chunk", Dedup.PolyB1, Dedup.PolyP1)}
            |      + ${polySql("chunk", Dedup.PolyB2, Dedup.PolyP2)} * 2147483648 AS h FROM ch_cc),
            |-- batch chunks
            |words_b AS (SELECT doc_id, string_split(text, ' ') AS w FROM batch),
            |ch0 AS (SELECT doc_id, (len(w) + 11) // 12 AS n_chunks, w,
            |    unnest(generate_series(1, (len(w) + 11) // 12)) AS i FROM words_b),
            |ch AS (SELECT doc_id, n_chunks, i - 1 AS idx,
            |    array_to_string(w[(i-1)*12+1:(i-1)*12+12], ' ') AS chunk FROM ch0),
            |hh AS (SELECT doc_id, n_chunks, idx, chunk,
            |    ${polySql("chunk", Dedup.PolyB1, Dedup.PolyP1)}
            |      + ${polySql("chunk", Dedup.PolyB2, Dedup.PolyP2)} * 2147483648 AS h FROM ch),
            |-- incremental semantics: first occurrence WITHIN the batch,
            |-- then anti-join the corpus state (no id-ordering assumption)
            |firstb AS (SELECT doc_id, n_chunks, idx, chunk, h FROM hh
            |  QUALIFY ROW_NUMBER() OVER (PARTITION BY h ORDER BY doc_id, idx) = 1),
            |surv AS (SELECT f.doc_id, f.n_chunks, f.idx, f.chunk
            |  FROM firstb f LEFT JOIN hh_c c ON f.h = c.h WHERE c.h IS NULL)
            |SELECT doc_id, MAX(n_chunks) AS n_chunks, COUNT(*) AS n_kept,
            |  string_agg(chunk, ' ' ORDER BY idx) AS text_kept
            |FROM surv GROUP BY doc_id ORDER BY doc_id""".stripMargin))

  // q76_gopher_gate — rule-based quality gate (Gopher §A1.1): hard
  // boolean rules over scan-local word stats, the rule companion to
  // text_quality's soft score. One codegen'd pass, no shuffle — the
  // cheapest possible 100 TB operator shape. Flags are 0/1 ints.

  private val gopherGate = Q(
    "q76_gopher_gate",
    (s, dir) => {
      val d = Tables.documents(s, dir)
      d.select(col("doc_id") +: TA.gopherFlags(d, col("text"), 20, 1000): _*)
        .orderBy(col("doc_id"))
    },
    Some("""WITH t AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS w, text FROM documents),
           |f AS (SELECT doc_id, len(w) AS n_words,
           |    CAST(CAST(list_sum(list_transform(w, x -> length(x))) AS BIGINT) AS DOUBLE)
           |      / GREATEST(len(w), 1) AS mean_wlen,
           |    CAST(len(list_filter(w, x -> regexp_matches(x, '[a-zA-Z]'))) AS DOUBLE)
           |      / GREATEST(len(w), 1) AS alpha_frac,
           |    len(regexp_extract_all(text, '\b(the|a|of|to|and|in|is)\b')) AS n_stop
           |  FROM t)
           |SELECT doc_id, n_words, mean_wlen, alpha_frac, n_stop,
           |  CASE WHEN n_words >= 20 AND n_words <= 1000 THEN 1 ELSE 0 END AS pass_wc,
           |  CASE WHEN mean_wlen >= 2.0 AND mean_wlen <= 12.0 THEN 1 ELSE 0 END AS pass_wlen,
           |  CASE WHEN alpha_frac >= 0.8 THEN 1 ELSE 0 END AS pass_alpha,
           |  CASE WHEN n_stop >= 2 THEN 1 ELSE 0 END AS pass_stop,
           |  (CASE WHEN n_words >= 20 AND n_words <= 1000 THEN 1 ELSE 0 END)
           |    * (CASE WHEN mean_wlen >= 2.0 AND mean_wlen <= 12.0 THEN 1 ELSE 0 END)
           |    * (CASE WHEN alpha_frac >= 0.8 THEN 1 ELSE 0 END)
           |    * (CASE WHEN n_stop >= 2 THEN 1 ELSE 0 END) AS pass
           |FROM f ORDER BY doc_id""".stripMargin))

  // q77_temperature_mix — temperature-scaled domain mixing (the
  // multi-source sampling rule every pretraining mix uses: weight
  // source s ∝ count_s^τ with τ=0.5, so small sources are UP-weighted
  // relative to proportional sampling). Per-source keep probability
  // p_s = B·w_s/c_s with w_s = √c_s/Σ√c_s and budget B = 30% of the
  // corpus; a doc is kept iff its portable-hash bucket falls under
  // p_s — deterministic across retries, replayed exactly by the
  // oracle. The p_s comparison is EXACT integer cross-multiplication
  // in pinned-width decimals (the q72 pattern): the only float is
  // sqrt, which is IEEE-correctly-rounded (identical in both engines)
  // and snapped to an integer (×10⁶, round) before any further
  // arithmetic — no float accumulation order anywhere. Scale shape:
  // one partial-agg count per source, a one-row total, two broadcast
  // joins back into the scan — the corpus never shuffles.

  private val temperatureMix = Q(
    "q77_temperature_mix",
    (s, dir) =>
      TA.temperatureMix(Tables.documents(s, dir), col("source"), col("doc_id"), 3, 10)
        .withColumnRenamed("stratum", "source")
        .orderBy(col("source")),
    Some(s"""WITH cnt AS (SELECT source, COUNT(*) AS n_docs,
            |    CAST(round(sqrt(CAST(COUNT(*) AS DOUBLE)) * 1000000) AS BIGINT) AS sqrtm
            |  FROM documents GROUP BY source),
            |tot AS (SELECT CAST(SUM(n_docs) AS BIGINT) AS n_total,
            |    CAST(SUM(sqrtm) AS BIGINT) AS tot_sqrtm FROM cnt),
            |th AS (SELECT source, n_docs, sqrtm, tot_sqrtm, (n_total * 3) // 10 AS b
            |  FROM cnt CROSS JOIN tot),
            |hm AS (SELECT source, ${polySql("ds", Dedup.PolyB1, Dedup.PolyP1)} % 1000000 AS hm
            |  FROM (SELECT source, CAST(doc_id AS VARCHAR) || '/tmix' AS ds FROM documents))
            |SELECT h.source, MAX(t.n_docs) AS n_docs,
            |  -- first operand cast to DECIMAL(19): DuckDB clamps a
            |  -- narrow-operand decimal product to DECIMAL(18) internal
            |  -- INT64 (overflows at sf1); width >= 19 forces INT128 and
            |  -- the true p1+p2 result type. Widths budget 19+12+7 = 38;
            |  -- a cast overflow (n_docs >= 1e7, tot_sqrtm >= 1e12)
            |  -- raises loudly rather than diverging silently.
            |  CAST(SUM(CASE WHEN
            |      CAST(h.hm AS DECIMAL(19,0)) * CAST(t.tot_sqrtm AS DECIMAL(12,0))
            |        * CAST(t.n_docs AS DECIMAL(7,0))
            |      < CAST(t.b AS DECIMAL(19,0)) * CAST(t.sqrtm AS DECIMAL(12,0))
            |        * CAST(1000000 AS DECIMAL(7,0))
            |    THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
            |FROM hm h JOIN th t ON h.source = t.source
            |GROUP BY h.source ORDER BY h.source""".stripMargin))

  // q83_contam_spans — SPAN-level exact-substring decontamination (the
  // surgical form of q50: cut the contaminated token ranges, keep the
  // document). Every train position sharing a hashed word-8-gram with
  // the benchmark set becomes span [p, p+7]; overlapping/adjacent spans
  // merge per doc (q73's interval-merge shape on token offsets). The
  // planted exact copies of benchmark docs (+10000 twins are train-side
  // here only via the near-copy family) and the +20000 near copies
  // yield long head spans with clean tails — exactly the rows whole-doc
  // q50 would have thrown away. Positions come from the NgramHashSeq
  // kernel (positional, non-distinct — the NgramHashes sibling).

  private val contamSpans = Q(
    "q83_contam_spans",
    (s, dir) => {
      val c = corpus(s, dir)
      val bench = c.filter(pmod(col("doc_id"), lit(10)) === 0 && col("doc_id") < 10000)
      val train = c.join(bench.select(col("doc_id")), Seq("doc_id"), "left_anti")
      Dedup.contaminationSpans(train, bench, col("doc_id"), col("text"), 8)
        .orderBy(col("doc_id"), col("span_start"))
    },
    Some(s"""WITH corpus AS ($corpusSql),
            |bench AS (SELECT doc_id, text FROM corpus WHERE doc_id % 10 = 0 AND doc_id < 10000),
            |train AS (SELECT c.doc_id, c.text FROM corpus c
            |  LEFT JOIN bench b ON c.doc_id = b.doc_id WHERE b.doc_id IS NULL),
            |bw AS (SELECT doc_id, string_split(text, ' ') AS w FROM bench),
            |bng0 AS (SELECT DISTINCT unnest(list_transform(generate_series(1, greatest(len(w) - 7, 0)),
            |    i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' || w[i+4] || ' ' || w[i+5] || ' ' || w[i+6] || ' ' || w[i+7])) AS ng0
            |  FROM bw),
            |bng AS (SELECT DISTINCT ${polySql("ng0", Dedup.PolyB1, Dedup.PolyP1)} AS ng FROM bng0),
            |tw AS (SELECT doc_id, string_split(text, ' ') AS w FROM train),
            |-- ngram string materialized BEFORE hashing, position aliased
            |-- p: polySql's lambda variable i would shadow an unnest i
            |tp0 AS (SELECT doc_id, w, unnest(generate_series(1, greatest(len(w) - 7, 0))) AS p FROM tw),
            |tp AS (SELECT doc_id, p,
            |    w[p] || ' ' || w[p+1] || ' ' || w[p+2] || ' ' || w[p+3] || ' ' || w[p+4] || ' ' || w[p+5] || ' ' || w[p+6] || ' ' || w[p+7] AS ng0
            |  FROM tp0),
            |tng AS (SELECT doc_id, p, ${polySql("ng0", Dedup.PolyB1, Dedup.PolyP1)} AS ng FROM tp),
            |hits AS (SELECT doc_id, p AS st, p + 7 AS en FROM tng JOIN bng USING (ng)),
            |flagged AS (SELECT doc_id, st, en,
            |  CASE WHEN MAX(en) OVER (PARTITION BY doc_id ORDER BY st
            |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
            |    OR st > MAX(en) OVER (PARTITION BY doc_id ORDER BY st
            |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) + 1
            |    THEN 1 ELSE 0 END AS new_grp FROM hits),
            |grouped AS (SELECT doc_id, st, en,
            |    CAST(SUM(new_grp) OVER (PARTITION BY doc_id ORDER BY st) AS BIGINT) AS grp
            |  FROM flagged)
            |SELECT doc_id, MIN(st) AS span_start, MAX(en) AS span_end,
            |  MAX(en) - MIN(st) + 1 AS span_tokens, COUNT(*) AS n_grams
            |FROM grouped GROUP BY doc_id, grp
            |ORDER BY doc_id, span_start""".stripMargin))

  // q101_selfrep_spans — corpus-INTERNAL repeated-span surgery (exact
  // substring self-dedup, Lee et al. 2021): an 8-gram hash is owned by
  // the smallest doc_id containing it; occurrences in later docs become
  // spans, merged per doc. On the planted corpus the +10000 exact
  // copies span head-to-tail (they vanish after scrubbing) and the
  // +20000 near copies span everything but the appended-marker tail —
  // plus any natural cross-doc 8-gram repeats. Same surgery-table
  // schema as q83; q102 applies it.

  private val selfRepSpansQ = Q(
    "q101_selfrep_spans",
    (s, dir) =>
      Dedup.selfRepSpans(corpus(s, dir), col("doc_id"), col("text"), 8)
        .orderBy(col("doc_id"), col("span_start")),
    Some(s"""WITH corpus AS ($corpusSql),
            |tw AS (SELECT doc_id, string_split(text, ' ') AS w FROM corpus),
            |tp0 AS (SELECT doc_id, w, unnest(generate_series(1, greatest(len(w) - 7, 0))) AS p FROM tw),
            |tp AS (SELECT doc_id, p,
            |    w[p] || ' ' || w[p+1] || ' ' || w[p+2] || ' ' || w[p+3] || ' ' || w[p+4] || ' ' || w[p+5] || ' ' || w[p+6] || ' ' || w[p+7] AS ng0
            |  FROM tp0),
            |tng AS (SELECT doc_id, p, ${polySql("ng0", Dedup.PolyB1, Dedup.PolyP1)} AS ng FROM tp),
            |own AS (SELECT ng, MIN(doc_id) AS owner FROM tng GROUP BY ng),
            |hits AS (SELECT t.doc_id, p AS st, p + 7 AS en
            |  FROM tng t JOIN own o USING (ng) WHERE t.doc_id > o.owner),
            |flagged AS (SELECT doc_id, st, en,
            |  CASE WHEN MAX(en) OVER (PARTITION BY doc_id ORDER BY st
            |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
            |    OR st > MAX(en) OVER (PARTITION BY doc_id ORDER BY st
            |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) + 1
            |    THEN 1 ELSE 0 END AS new_grp FROM hits),
            |grouped AS (SELECT doc_id, st, en,
            |    CAST(SUM(new_grp) OVER (PARTITION BY doc_id ORDER BY st) AS BIGINT) AS grp
            |  FROM flagged)
            |SELECT doc_id, MIN(st) AS span_start, MAX(en) AS span_end,
            |  MAX(en) - MIN(st) + 1 AS span_tokens, COUNT(*) AS n_grams
            |FROM grouped GROUP BY doc_id, grp
            |ORDER BY doc_id, span_start""".stripMargin))

  // q102_scrub_spans — the cleaning job that APPLIES the surgery table:
  // q101's spans cut from the corpus, survivors re-joined; exact copies
  // scrub to "" (doc-level dedup as the degenerate case), near copies
  // keep only their divergent tail. One row per corpus doc with
  // n_tokens_raw / n_tokens_kept / text_clean — the scrubbed corpus a
  // downstream length filter then gates.

  private val scrubSpansQ = Q(
    "q102_scrub_spans",
    (s, dir) => {
      val c = corpus(s, dir)
      TA.scrubSpans(c, Dedup.selfRepSpans(c, col("doc_id"), col("text"), 8),
          col("doc_id"), col("text"))
        .orderBy(col("doc_id"))
    },
    Some(s"""WITH corpus AS ($corpusSql),
            |tw AS (SELECT doc_id, string_split(text, ' ') AS w FROM corpus),
            |tp0 AS (SELECT doc_id, w, unnest(generate_series(1, greatest(len(w) - 7, 0))) AS p FROM tw),
            |tp AS (SELECT doc_id, p,
            |    w[p] || ' ' || w[p+1] || ' ' || w[p+2] || ' ' || w[p+3] || ' ' || w[p+4] || ' ' || w[p+5] || ' ' || w[p+6] || ' ' || w[p+7] AS ng0
            |  FROM tp0),
            |tng AS (SELECT doc_id, p, ${polySql("ng0", Dedup.PolyB1, Dedup.PolyP1)} AS ng FROM tp),
            |own AS (SELECT ng, MIN(doc_id) AS owner FROM tng GROUP BY ng),
            |hits AS (SELECT t.doc_id, p AS st, p + 7 AS en
            |  FROM tng t JOIN own o USING (ng) WHERE t.doc_id > o.owner),
            |flagged AS (SELECT doc_id, st, en,
            |  CASE WHEN MAX(en) OVER (PARTITION BY doc_id ORDER BY st
            |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
            |    OR st > MAX(en) OVER (PARTITION BY doc_id ORDER BY st
            |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) + 1
            |    THEN 1 ELSE 0 END AS new_grp FROM hits),
            |grouped AS (SELECT doc_id, st, en,
            |    CAST(SUM(new_grp) OVER (PARTITION BY doc_id ORDER BY st) AS BIGINT) AS grp
            |  FROM flagged),
            |spans AS (SELECT doc_id, MIN(st) AS span_start, MAX(en) AS span_end
            |  FROM grouped GROUP BY doc_id, grp),
            |tokpos AS (SELECT doc_id, w, unnest(generate_series(1, len(w))) AS i FROM tw),
            |keep AS (SELECT t.doc_id, t.i, t.w[t.i] AS tok FROM tokpos t
            |  LEFT JOIN spans s ON t.doc_id = s.doc_id AND t.i BETWEEN s.span_start AND s.span_end
            |  WHERE s.doc_id IS NULL),
            |agg AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens_kept,
            |    string_agg(tok, ' ' ORDER BY i) AS text_clean FROM keep GROUP BY doc_id)
            |SELECT c.doc_id, CAST(len(string_split(c.text, ' ')) AS BIGINT) AS n_tokens_raw,
            |  COALESCE(a.n_tokens_kept, 0) AS n_tokens_kept,
            |  COALESCE(a.text_clean, '') AS text_clean
            |FROM corpus c LEFT JOIN agg a USING (doc_id)
            |ORDER BY c.doc_id""".stripMargin))

  // q104_dedup_funnel — the staged cascade report (exact → canonical →
  // estimator screen → exact near-dup), cheapest-first so each stage's
  // work runs on the previous stage's survivors only. On the planted
  // corpus stage 1 removes the +10000 exact copies, stage 2 the
  // canonical collapses, stage 3 (verify-free minhash estimate ≥ 0.75
  // = ≥ 12/16 seeds agree, greedy smaller-id-wins per pair, no
  // closure) the near-verbatim +20000 copies WITHOUT touching the
  // n-gram table past signatures, and stage 4 (exact Jaccard ≥ 0.5)
  // whatever moderate-similarity pairs the screen let through — with
  // n_out(k) = n_in(k+1) as the spec'd funnel invariant. Oracle
  // replays the full chain: the screen is a plain anti-join, the
  // exact stage keeps its recursive min-label closure.

  private val dedupFunnelQ = Q(
    "q104_dedup_funnel",
    (s, dir) =>
      Dedup.dedupFunnel(corpus(s, dir), col("doc_id"), col("text"))
        .orderBy(col("stage")),
    Some(s"""WITH RECURSIVE base AS ($corpusSql),
            |e1 AS (SELECT MIN(doc_id) AS doc_id FROM base GROUP BY md5(text)),
            |s1 AS (SELECT b.doc_id, b.text FROM base b JOIN e1 USING (doc_id)),
            |canon AS (SELECT doc_id, text,
            |    trim(regexp_replace(regexp_replace(text, '[.,!?;:]+', ' ', 'g'), ' +', ' ', 'g')) AS c
            |  FROM s1),
            |keyed AS (SELECT doc_id, text,
            |    ${polySql("c", Dedup.PolyB1, Dedup.PolyP1)}
            |      + ${polySql("c", Dedup.PolyB2, Dedup.PolyP2)} * 2147483648 AS ck
            |  FROM canon),
            |k2 AS (SELECT doc_id FROM (SELECT doc_id,
            |    ROW_NUMBER() OVER (PARTITION BY ck ORDER BY length(text), doc_id) AS rn
            |  FROM keyed) t WHERE rn = 1),
            |s2 AS (SELECT k.doc_id, s.text FROM k2 k JOIN s1 s USING (doc_id)),
            |xwords AS (SELECT doc_id, string_split(text, ' ') AS w FROM s2),
            |xngr0 AS (SELECT DISTINCT doc_id,
            |  unnest(list_transform(generate_series(1, greatest(len(w) - 2, 0)),
            |    i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS ng0
            |  FROM xwords),
            |xngr AS (SELECT doc_id, ${polySql("ng0", Dedup.PolyB1, Dedup.PolyP1)} AS ng FROM xngr0),
            |xsig AS (SELECT doc_id, s, MIN((ng * (2*s+1) + (s*7919+1)) % ${Dedup.PolyP1}) AS m
            |  FROM xngr CROSS JOIN (SELECT unnest(generate_series(0, 15)) AS s) seeds
            |  GROUP BY doc_id, s),
            |xband AS (SELECT doc_id, s // 4 AS band, string_agg(CAST(m AS VARCHAR), ',' ORDER BY s) AS bh
            |  FROM xsig GROUP BY doc_id, s // 4),
            |xcand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
            |  FROM xband a JOIN xband b USING (band, bh) WHERE a.doc_id < b.doc_id),
            |xest AS (SELECT c.id_a, c.id_b
            |  FROM xcand c JOIN xsig sa ON sa.doc_id = c.id_a
            |  JOIN xsig sb ON sb.doc_id = c.id_b AND sb.s = sa.s
            |  GROUP BY 1, 2 HAVING SUM(CASE WHEN sa.m = sb.m THEN 1 ELSE 0 END) >= 12),
            |xdrop AS (SELECT DISTINCT id_b AS doc_id FROM xest),
            |s3 AS (SELECT s.doc_id, s.text FROM s2 s LEFT JOIN xdrop d USING (doc_id)
            |  WHERE d.doc_id IS NULL),
            |corpus AS (SELECT doc_id, text FROM s3),
            |$minhashPairsSql,
            |${ccReachSql("pairs")},
            |lbl AS (SELECT id AS doc_id, MIN(lbl) AS cluster_id FROM reach GROUP BY id),
            |s4 AS (SELECT s.doc_id FROM s3 s LEFT JOIN lbl l USING (doc_id)
            |  WHERE l.cluster_id IS NULL OR l.cluster_id = s.doc_id),
            |n0 AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM base),
            |n1 AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM s1),
            |n2 AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM s2),
            |n3 AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM s3),
            |n4 AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM s4)
            |SELECT stage, n_in, n_removed, n_out FROM (
            |  SELECT '1_exact' AS stage, n0.n AS n_in, n0.n - n1.n AS n_removed, n1.n AS n_out FROM n0, n1
            |  UNION ALL SELECT '2_canonical', n1.n, n1.n - n2.n, n2.n FROM n1, n2
            |  UNION ALL SELECT '3_est_screen', n2.n, n2.n - n3.n, n3.n FROM n2, n3
            |  UNION ALL SELECT '4_neardup', n3.n, n3.n - n4.n, n4.n FROM n3, n4) r
            |ORDER BY stage""".stripMargin))

  // q84_normalize_dedup — canonical-form dedup keep-best: documents
  // keyed by a 62-bit hash of their normalized text (punctuation →
  // space, whitespace collapsed); each group keeps the version closest
  // to canonical (shortest raw text, then min id). Runs on the planted
  // corpus ∪ punctuation-noise variants (+30000 for doc_id%5=0:
  // ' , ' between words, ' !!' appended) — the variants normalize back
  // to their base text and collapse into its group, which exact dedup
  // (dedup_exact) can never see. No case folding BY CONTRACT
  // (locale-dependent case maps don't replay portably).

  private val normalizeDedupQ = Q(
    "q84_normalize_dedup",
    (s, dir) => {
      val d = Tables.documents(s, dir).select(col("doc_id"), col("text"))
      val noisy = d.filter(pmod(col("doc_id"), lit(5)) === 0)
        .select((col("doc_id") + 30000).as("doc_id"),
          concat(expr("replace(text, ' ', ' , ')"), lit(" !!")).as("text"))
      Dedup.normalizeDedup(corpus(s, dir).unionByName(noisy), col("doc_id"), col("text"))
        .orderBy(col("doc_id"))
    },
    Some(s"""WITH corpus AS ($corpusSql),
            |corpus2 AS (SELECT doc_id, text FROM corpus UNION ALL
            |  SELECT doc_id + 30000, replace(text, ' ', ' , ') || ' !!' FROM documents WHERE doc_id % 5 = 0),
            |canon AS (SELECT doc_id, text,
            |    trim(regexp_replace(regexp_replace(text, '[.,!?;:]+', ' ', 'g'), ' +', ' ', 'g')) AS c
            |  FROM corpus2),
            |keyed AS (SELECT doc_id, text, c,
            |    ${polySql("c", Dedup.PolyB1, Dedup.PolyP1)}
            |      + ${polySql("c", Dedup.PolyB2, Dedup.PolyP2)} * 2147483648 AS ck
            |  FROM canon)
            |SELECT doc_id, n_versions, canon_tokens FROM (
            |  SELECT doc_id, ck, COUNT(*) OVER (PARTITION BY ck) AS n_versions,
            |    CAST(len(string_split(c, ' ')) AS BIGINT) AS canon_tokens,
            |    ROW_NUMBER() OVER (PARTITION BY ck ORDER BY length(text), doc_id) AS rn
            |  FROM keyed) t
            |WHERE rn = 1 ORDER BY doc_id""".stripMargin))

  // q85_bigram_coverage — corpus-distribution quality scoring: fraction
  // of each document's bigram occurrences that are FREQUENT in the
  // corpus (global count ≥ 10), as exact integer parts-per-million. The
  // signal per-doc feature gates can't compute: it needs the corpus
  // bigram distribution (an LM-coverage proxy with no logs and no
  // doubles). Runs on the raw documents table.

  private val bigramCoverage = Q(
    "q85_bigram_coverage",
    (s, dir) =>
      TA.bigramCoverage(Tables.documents(s, dir), col("doc_id"), col("text"), 10L)
        .orderBy(col("doc_id")),
    Some(s"""WITH words AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
            |bp0 AS (SELECT doc_id, w, unnest(generate_series(1, greatest(len(w) - 1, 0))) AS p FROM words),
            |bp AS (SELECT doc_id, w[p] || ' ' || w[p+1] AS ng0 FROM bp0),
            |bg1 AS (SELECT doc_id, ${polySql("ng0", Dedup.PolyB1, Dedup.PolyP1)} AS ng FROM bp),
            |bg AS (SELECT doc_id, ng, COUNT(*) AS c FROM bg1 GROUP BY doc_id, ng),
            |freq AS (SELECT ng FROM (
            |    SELECT ng, CAST(SUM(c) AS BIGINT) AS tot FROM bg GROUP BY ng) t
            |  WHERE tot >= 10),
            |agg AS (SELECT b.doc_id, CAST(SUM(b.c) AS BIGINT) AS total_bg,
            |    CAST(SUM(CASE WHEN f.ng IS NOT NULL THEN b.c ELSE 0 END) AS BIGINT) AS covered_bg
            |  FROM bg b LEFT JOIN freq f ON b.ng = f.ng GROUP BY b.doc_id)
            |SELECT doc_id, total_bg, covered_bg,
            |  covered_bg * 1000000 // total_bg AS score_ppm
            |FROM agg ORDER BY doc_id""".stripMargin))

  // q86_containment_dedup — asymmetric near-dup CONTAINMENT: pairs
  // where the smaller document's rare n-gram set is ≥ 80% inside the
  // larger's, reported as exact integer ppm. Catches subset
  // duplication (snippets, truncated crawls, quoted excerpts) that
  // symmetric Jaccard blurs: a half-document prefix scores containment
  // 1.0 but Jaccard ~0.5 — below every dedup threshold. Corpus: raw
  // documents ∪ planted prefix snippets (+40000 for doc_id%9=0: the
  // first ⌈len/2⌉ words), which land near ppm=10^6 while their Jaccard
  // to the base doc stays ~0.5.

  private val containmentDedup = Q(
    "q86_containment_dedup",
    (s, dir) => {
      val d = Tables.documents(s, dir).select(col("doc_id"), col("text"))
      val w = split(col("text"), " ")
      val snip = d.filter(pmod(col("doc_id"), lit(9)) === 0)
        .select((col("doc_id") + 40000).as("doc_id"),
          concat_ws(" ", slice(w, lit(1), ((size(w) + 1) / 2).cast("int"))).as("text"))
      Dedup.ngramContainmentPairs(d.unionByName(snip), col("doc_id"), col("text"), 3, 20, 800000L)
        .orderBy(col("id_contained"), col("id_container"))
    },
    Some(s"""WITH corpus AS (SELECT doc_id, text FROM documents
            |  UNION ALL SELECT doc_id + 40000, array_to_string(w[1:(len(w)+1)//2], ' ')
            |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents) WHERE doc_id % 9 = 0),
            |$ngrSql,
            |rare AS (SELECT * FROM ngr QUALIFY COUNT(*) OVER (PARTITION BY ng) <= 20),
            |pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS inter
            |  FROM rare a JOIN rare b USING (ng) WHERE a.doc_id < b.doc_id GROUP BY 1, 2),
            |j AS (SELECT id_a, id_b, inter, sa.nn AS na, sb.nn AS nb
            |  FROM pairs JOIN sizes sa ON id_a = sa.doc_id JOIN sizes sb ON id_b = sb.doc_id),
            |c AS (SELECT
            |    CASE WHEN na > nb THEN id_b ELSE id_a END AS id_contained,
            |    CASE WHEN na > nb THEN id_a ELSE id_b END AS id_container,
            |    inter, CASE WHEN na > nb THEN nb ELSE na END AS nn_contained FROM j)
            |SELECT id_contained, id_container, inter, nn_contained,
            |  inter * 1000000 // nn_contained AS cont_ppm
            |FROM c WHERE inter * 1000000 // nn_contained >= 800000
            |ORDER BY id_contained, id_container""".stripMargin))

  // q87_domain_cap — per-domain quota: every source keeps its 5
  // highest-quality docs (quality desc, ties → smaller id) via the
  // bounded TopKAgg partial aggregate — NO window sort; the exchange
  // carries ≤ 5 (score, id) pairs per source per mapper. The
  // anti-over-representation cap a crawl corpus applies per domain
  // before mixing.

  private val domainCapQ = Q(
    "q87_domain_cap",
    (s, dir) => {
      val feat = Tables.documents(s, dir).select(col("doc_id"), col("source"),
        length(col("text")).as("n_chars"),
        TA.wsTokenCount(col("text")).as("n_words"),
        TA.punctCount(col("text")).as("n_punct"),
        TA.stopHits(col("text")).as("n_stop"))
      val scored = feat.withColumn("q",
        TA.qualityScore(col("n_chars"), col("n_words"), col("n_punct"), col("n_stop")))
      TA.domainCap(scored, col("source"), col("doc_id"), col("q"), 5)
        .orderBy(col("source"), col("rank"))
    },
    Some(s"""WITH feat AS (SELECT doc_id, source, length(text) AS n_chars,
           |    len(string_split_regex(trim(text), '\\s+')) AS n_words,
           |    length(text) - length(regexp_replace(text, '[^a-zA-Z0-9\\s]', '', 'g')) AS n_punct,
           |    len(regexp_extract_all(text, '\\b(the|a|of|to|and|in|is)\\b')) AS n_stop
           |  FROM documents),
           |q AS (SELECT doc_id, source,
           |    LEAST(CAST(n_chars AS DOUBLE) / 500.0, 1.0) * 0.4
           |      + LEAST(CAST(n_stop AS DOUBLE) * 4.0 / GREATEST(n_words, 1), 1.0) * 0.4
           |      + (1.0 - LEAST(CAST(n_punct AS DOUBLE) * 5.0 / GREATEST(n_chars, 1), 1.0)) * 0.2 AS score
           |  FROM feat),
           |r AS (SELECT source, doc_id, score,
           |    CAST(row_number() OVER (PARTITION BY source ORDER BY score DESC, doc_id) AS BIGINT) AS rank
           |  FROM q)
           |SELECT source, rank, doc_id, score FROM r WHERE rank <= 5
           |ORDER BY source, rank""".stripMargin))

  // q88_source_overlap — pairwise corpus-overlap matrix between the
  // documents table's sources: per-source corpus-level MinHash
  // sketches (64 seed permutations, ONE partial-agg corpus pass, no
  // distinct) compared pairwise — agreeing mins / 64 estimates the
  // Jaccard of the two sources' 3-gram SETS (Broder 1997). The
  // corpus-profiling pass (which crawls overlap? is a snapshot a
  // re-crawl?) that exact pairwise set-intersection would price at
  // |sources|² corpus scans.

  private val sourceOverlap = Q(
    "q88_source_overlap",
    (s, dir) =>
      Dedup.corpusOverlapBySource(Tables.documents(s, dir), col("source"), col("text"), 3, 64)
        .orderBy(col("grp_a"), col("grp_b")),
    Some(s"""WITH ngr0 AS (SELECT source, string_split(text, ' ') AS w FROM documents),
            |ngr1 AS (SELECT source,
            |  unnest(list_transform(generate_series(1, greatest(len(w) - 2, 0)),
            |    i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS ng0 FROM ngr0),
            |ngr AS (SELECT source, ${polySql("ng0", Dedup.PolyB1, Dedup.PolyP1)} AS ng FROM ngr1),
            |sig AS (SELECT source, s, MIN((ng * (2*s+1) + (s*7919+1)) % ${Dedup.PolyP1}) AS m
            |  FROM ngr CROSS JOIN (SELECT unnest(generate_series(0, 63)) AS s) seeds
            |  GROUP BY source, s),
            |pair AS (SELECT a.source AS grp_a, b.source AS grp_b,
            |    CAST(SUM(CASE WHEN a.m = b.m THEN 1 ELSE 0 END) AS BIGINT) AS n_agree
            |  FROM sig a JOIN sig b ON a.s = b.s AND a.source < b.source GROUP BY 1, 2)
            |SELECT grp_a, grp_b, CAST(64 AS BIGINT) AS n_perms, n_agree,
            |  n_agree * 1000000 // 64 AS est_ppm
            |FROM pair ORDER BY grp_a, grp_b""".stripMargin))

  // q89_boilerplate_strip — per-source template boilerplate: docs of a
  // source sharing an identical leading 4-word prefix in ≥ 3 docs are
  // boilerplate carriers (the banner a template stamps on every page).
  // Corpus: documents ∪ planted banner variants (+50000 for
  // doc_id%4=0: 'banner <source> subscribe now ' prepended). Output is
  // the per-doc surgery table (n_docs sharing the prefix, kept_words
  // after the strip).

  private val boilerplateQ = Q(
    "q89_boilerplate_strip",
    (s, dir) => {
      val d = Tables.documents(s, dir).select(col("doc_id"), col("source"), col("text"))
      val banner = d.filter(pmod(col("doc_id"), lit(4)) === 0)
        .select((col("doc_id") + 50000).as("doc_id"), col("source"),
          concat(lit("banner "), col("source"), lit(" subscribe now "), col("text")).as("text"))
      TA.boilerplateStrip(d.unionByName(banner), col("doc_id"), col("source"), col("text"), 4, 3L)
        .orderBy(col("doc_id"))
    },
    Some(s"""WITH corpus AS (SELECT doc_id, source, text FROM documents
            |  UNION ALL SELECT doc_id + 50000, source, 'banner ' || source || ' subscribe now ' || text
            |  FROM documents WHERE doc_id % 4 = 0),
            |ws AS (SELECT doc_id, source, string_split(text, ' ') AS w FROM corpus),
            |pf AS (SELECT doc_id, source, CAST(len(w) AS BIGINT) AS n_words,
            |    array_to_string(w[1:4], ' ') AS p FROM ws WHERE len(w) >= 4),
            |ph AS (SELECT doc_id, source, n_words,
            |    ${polySql("p", Dedup.PolyB1, Dedup.PolyP1)}
            |      + ${polySql("p", Dedup.PolyB2, Dedup.PolyP2)} * 2147483648 AS ph FROM pf),
            |cnt AS (SELECT source, ph, CAST(COUNT(*) AS BIGINT) AS n_docs FROM ph GROUP BY 1, 2)
            |SELECT doc_id, source, n_docs, n_words, n_words - 4 AS kept_words
            |FROM ph JOIN cnt USING (source, ph) WHERE n_docs >= 3
            |ORDER BY doc_id""".stripMargin))

  // q90_ngram_novelty — duplication-pressure profile: per doc, the
  // fraction of its distinct 3-gram hashes FIRST introduced by this
  // doc (global min doc_id), exact ppm. On the planted corpus the
  // +10000 verbatim copies score 0 and the +20000 near-copies score
  // ~3/nn (only the appended-marker shingles are new).

  private val ngramNoveltyQ = Q(
    "q90_ngram_novelty",
    (s, dir) =>
      Dedup.ngramNovelty(corpus(s, dir), col("doc_id"), col("text"), 3)
        .orderBy(col("doc_id")),
    Some(s"""WITH corpus AS ($corpusSql),
            |$ngrSql,
            |fst AS (SELECT ng, MIN(doc_id) AS first_doc FROM ngr GROUP BY ng),
            |agg AS (SELECT n.doc_id, CAST(COUNT(*) AS BIGINT) AS nn,
            |    CAST(SUM(CASE WHEN f.first_doc = n.doc_id THEN 1 ELSE 0 END) AS BIGINT) AS novel
            |  FROM ngr n JOIN fst f USING (ng) GROUP BY n.doc_id)
            |SELECT doc_id, nn, novel, novel * 1000000 // nn AS novelty_ppm
            |FROM agg ORDER BY doc_id""".stripMargin))

  // q91_target_affinity — DSIR-style data selection score (ratio
  // form): per doc, Σ target-df of its distinct word hashes vs
  // Σ corpus-df, exact ppm. Target = the benchmark-like subset
  // (doc_id%10=0, <10000) — benchmark-flavored docs score high,
  // generic docs ~|target|/|corpus|. num pinned DECIMAL(12,0), both
  // engines fail at the same bound (q77 pattern).

  private val targetAffinityQ = Q(
    "q91_target_affinity",
    (s, dir) => {
      val d = Tables.documents(s, dir).select(col("doc_id"), col("text"))
      TA.targetAffinity(d, pmod(col("doc_id"), lit(10)) === 0 && col("doc_id") < 10000,
          col("doc_id"), col("text"))
        .orderBy(col("doc_id"))
    },
    Some(s"""WITH cw AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
            |cng0 AS (SELECT DISTINCT doc_id, unnest(w) AS g FROM cw),
            |cng AS (SELECT doc_id, ${polySql("g", Dedup.PolyB1, Dedup.PolyP1)} AS ng FROM cng0),
            |tng AS (SELECT doc_id, ng FROM cng WHERE doc_id % 10 = 0 AND doc_id < 10000),
            |dft AS (SELECT ng, CAST(COUNT(*) AS BIGINT) AS df_t FROM tng GROUP BY ng),
            |dfr AS (SELECT ng, CAST(COUNT(*) AS BIGINT) AS df_r FROM cng GROUP BY ng),
            |agg AS (SELECT c.doc_id,
            |    CAST(SUM(COALESCE(t.df_t, 0)) AS BIGINT) AS t_mass,
            |    CAST(SUM(r.df_r) AS BIGINT) AS r_mass
            |  FROM cng c JOIN dfr r USING (ng) LEFT JOIN dft t ON c.ng = t.ng
            |  GROUP BY c.doc_id),
            |p AS (SELECT doc_id, CAST(CAST(t_mass AS DECIMAL(12,0)) AS BIGINT) AS t_mass, r_mass FROM agg)
            |SELECT doc_id, t_mass, r_mass, t_mass * 1000000 // r_mass AS affinity_ppm
            |FROM p ORDER BY doc_id""".stripMargin))

  // q92_cdc_chunks — content-defined chunking: boundaries where the
  // rolling 4-word window hash ≡ 0 (mod 16) — FastCDC/Rabin at word
  // granularity, expected chunk ~16 words. Insertion-robust (a shifted
  // document re-synchronizes after the edit), unlike fixed-width
  // chunking. Output: the exact chunk-partition table per doc.

  private val cdcChunksQ = Q(
    "q92_cdc_chunks",
    (s, dir) =>
      Dedup.cdcChunks(Tables.documents(s, dir), col("doc_id"), col("text"), 4, 16)
        .orderBy(col("doc_id"), col("chunk_idx")),
    Some(s"""WITH tw AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
            |docs AS (SELECT doc_id, CAST(len(w) AS BIGINT) AS nw FROM tw),
            |tp0 AS (SELECT doc_id, w, unnest(generate_series(1, greatest(len(w) - 3, 0))) AS p FROM tw),
            |tp AS (SELECT doc_id, p, w[p] || ' ' || w[p+1] || ' ' || w[p+2] || ' ' || w[p+3] AS ng0 FROM tp0),
            |th AS (SELECT doc_id, CAST(p AS BIGINT) AS p, ${polySql("ng0", Dedup.PolyB1, Dedup.PolyP1)} AS h FROM tp),
            |bounds AS (SELECT doc_id, p FROM th WHERE h % 16 = 0),
            |mid AS (SELECT doc_id,
            |    COALESCE(LAG(p) OVER (PARTITION BY doc_id ORDER BY p) + 1, 1) AS start_word,
            |    p AS end_word FROM bounds),
            |lastb AS (SELECT doc_id, MAX(p) AS lb FROM bounds GROUP BY doc_id),
            |tl AS (SELECT d.doc_id, COALESCE(l.lb, 0) + 1 AS start_word, d.nw AS end_word
            |  FROM docs d LEFT JOIN lastb l USING (doc_id) WHERE COALESCE(l.lb, 0) < d.nw),
            |chunks AS (SELECT * FROM mid UNION ALL SELECT * FROM tl)
            |SELECT doc_id,
            |  CAST(ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY start_word) AS BIGINT) AS chunk_idx,
            |  start_word, end_word, end_word - start_word + 1 AS chunk_words
            |FROM chunks ORDER BY doc_id, chunk_idx""".stripMargin))

  // q93_containment_est — the verify-free ESTIMATOR sibling of q86
  // (q59's relationship to the exact minhash pairs): 16×1-banded
  // MinHash candidates (candidate iff ANY seed's min agrees — subset
  // pairs are LOW-Jaccard, the near-dup 4×4 S-curve would miss ~90%
  // of them), containment estimated from signature agreement + the
  // exact per-doc set sizes — m·(na+nb)·10^6 DIV ((k+m)·min(na,nb)),
  // exact integers, no candidate×ngram re-join. Same planted
  // prefix-snippet corpus as q86; lower gate (600k ppm) because a
  // 16-seed estimate is coarse.

  private val containmentEstQ = Q(
    "q93_containment_est",
    (s, dir) => {
      val d = Tables.documents(s, dir).select(col("doc_id"), col("text"))
      val w = split(col("text"), " ")
      val snip = d.filter(pmod(col("doc_id"), lit(9)) === 0)
        .select((col("doc_id") + 40000).as("doc_id"),
          concat_ws(" ", slice(w, lit(1), ((size(w) + 1) / 2).cast("int"))).as("text"))
      Dedup.containmentEstPairs(d.unionByName(snip), col("doc_id"), col("text"), 3, 16, 1, 600000L)
        .orderBy(col("id_contained"), col("id_container"))
    },
    Some(s"""WITH corpus AS (SELECT doc_id, text FROM documents
            |  UNION ALL SELECT doc_id + 40000, array_to_string(w[1:(len(w)+1)//2], ' ')
            |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents) WHERE doc_id % 9 = 0),
            |$ngrSql,
            |sig AS (SELECT doc_id, s, MIN((ng * (2*s+1) + (s*7919+1)) % ${Dedup.PolyP1}) AS m
            |  FROM ngr CROSS JOIN (SELECT unnest(generate_series(0, 15)) AS s) seeds
            |  GROUP BY doc_id, s),
            |band AS (SELECT doc_id, s AS band, CAST(m AS VARCHAR) AS bh FROM sig),
            |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
            |  FROM band a JOIN band b USING (band, bh) WHERE a.doc_id < b.doc_id),
            |est AS (SELECT c.id_a, c.id_b,
            |    CAST(SUM(CASE WHEN sa.m = sb.m THEN 1 ELSE 0 END) AS BIGINT) AS m
            |  FROM cand c JOIN sig sa ON sa.doc_id = c.id_a
            |  JOIN sig sb ON sb.doc_id = c.id_b AND sb.s = sa.s
            |  GROUP BY 1, 2),
            |j AS (SELECT id_a, id_b, m, sa.nn AS na, sb.nn AS nb
            |  FROM est JOIN sizes sa ON id_a = sa.doc_id JOIN sizes sb ON id_b = sb.doc_id),
            |c2 AS (SELECT
            |    CASE WHEN na > nb THEN id_b ELSE id_a END AS id_contained,
            |    CASE WHEN na > nb THEN id_a ELSE id_b END AS id_container,
            |    m, CASE WHEN na > nb THEN nb ELSE na END AS nn_contained, na, nb FROM j)
            |SELECT id_contained, id_container, m, nn_contained,
            |  m * (na + nb) * 1000000 // ((16 + m) * nn_contained) AS cont_est_ppm
            |FROM c2 WHERE m * (na + nb) * 1000000 // ((16 + m) * nn_contained) >= 600000
            |ORDER BY id_contained, id_container""".stripMargin))

  // q94_mrl_ann — matryoshka two-stage ANN: shortlist on the first 16
  // of 64 dimensions (the fraction of embedding bytes a lake's prefix
  // column would cost), exact full-dim re-rank on shortlist rows only.
  // The synthetic embeddings are isotropic (prefix recall 0.11 —
  // MRL's premise doesn't hold on random vectors), so the entry
  // plants the front-loaded mass an MRL-TRAINED model produces:
  // dimension i scaled by 1/(1+(i-1)/4), float-rounded identically in
  // both engines. Measured shortlist recall on the decayed table:
  // 62/63 at sf0.1. Deterministic sequential-fold cosine both
  // stages — DuckDB replays slice, fold, and tie order exactly.

  private val mrlAnn = Q(
    "q94_mrl_ann",
    (s, dir) => {
      val e = Tables.embeddings(s, dir).select(col("vec_id"),
        zip_with(col("embedding"), sequence(lit(1), lit(64)),
          (x, i) => (x.cast("double") / (lit(1.0) + (i - 1).cast("double") * 0.25)).cast("float"))
          .as("embedding"))
      Similarity.cosineTopKMrl(e.filter(col("vec_id") < 5), e, 3, 16, 12)
        .orderBy(col("qid"), col("rank"))
    },
    Some("""WITH n AS (SELECT vec_id,
           |    list_transform(generate_series(1, 64),
           |      i -> CAST(CAST(embedding[i] AS DOUBLE) / (1.0 + (i-1)*0.25) AS REAL)) AS embedding
           |  FROM embeddings),
           |np AS (SELECT vec_id, embedding[1:16] AS pe,
           |    list_reduce(list_transform(embedding[1:16], x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (a, b) -> a + b) AS pn2
           |  FROM n),
           |qp AS (SELECT vec_id AS qid, pe AS qpe, pn2 AS qpn2 FROM np WHERE vec_id < 5),
           |pre AS (SELECT q.qid, c.vec_id,
           |    list_reduce(list_transform(generate_series(1, 16), i -> CAST(q.qpe[i] AS DOUBLE) * CAST(c.pe[i] AS DOUBLE)), (a, b) -> a + b)
           |      / sqrt(q.qpn2 * c.pn2) AS pcos
           |  FROM qp q, np c WHERE c.vec_id <> q.qid),
           |short AS (SELECT qid, vec_id FROM (
           |    SELECT *, row_number() OVER (PARTITION BY qid ORDER BY pcos DESC, vec_id ASC) AS rn FROM pre) t
           |  WHERE rn <= 12),
           |nf AS (SELECT vec_id, embedding,
           |    list_reduce(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (a, b) -> a + b) AS n2
           |  FROM n),
           |qf AS (SELECT vec_id AS qid, embedding AS qe, n2 AS qn2 FROM nf WHERE vec_id < 5),
           |rer AS (SELECT s.qid, s.vec_id,
           |    list_reduce(list_transform(generate_series(1, 64), i -> CAST(q.qe[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE)), (a, b) -> a + b)
           |      / sqrt(q.qn2 * c.n2) AS cos
           |  FROM short s JOIN nf c ON c.vec_id = s.vec_id JOIN qf q ON q.qid = s.qid)
           |SELECT qid, rank, vec_id, cos FROM (
           |  SELECT *, CAST(row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id ASC) AS INT) AS rank
           |  FROM rer) r
           |WHERE rank <= 3 ORDER BY qid, rank""".stripMargin))

  // q95_novelty_incr — incremental novelty (the batch×state shape for
  // q90, completing the q67/q80/q81 incremental family): the planted
  // variant docs (+10000 exact, +20000 near) arrive as a BATCH scored
  // against the raw corpus's persisted ngram-first-doc state. Exact
  // copies score 0; near copies count only their appended-marker
  // shingles.

  private val noveltyIncrQ = Q(
    "q95_novelty_incr",
    (s, dir) => {
      val d = Tables.documents(s, dir).select(col("doc_id"), col("text"))
      val batch = d.filter(pmod(col("doc_id"), lit(10)) === 0)
        .select((col("doc_id") + 10000).as("doc_id"), col("text"))
        .unionByName(d.filter(pmod(col("doc_id"), lit(7)) === 0)
          .select((col("doc_id") + 20000).as("doc_id"),
            concat(col("text"), lit(" graft extra marker")).as("text")))
      val state = Dedup.ngramFirstDocs(d, col("doc_id"), col("text"), 3)
      Dedup.ngramNoveltyIncremental(batch, state, col("doc_id"), col("text"), 3)
        .orderBy(col("doc_id"))
    },
    Some(s"""WITH batch AS (
            |  SELECT doc_id + 10000 AS doc_id, text FROM documents WHERE doc_id % 10 = 0
            |  UNION ALL SELECT doc_id + 20000, text || ' graft extra marker' FROM documents WHERE doc_id % 7 = 0),
            |sw AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
            |sng0 AS (SELECT DISTINCT doc_id,
            |  unnest(list_transform(generate_series(1, greatest(len(w) - 2, 0)),
            |    i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS ng0 FROM sw),
            |state AS (SELECT DISTINCT ${polySql("ng0", Dedup.PolyB1, Dedup.PolyP1)} AS ng FROM sng0),
            |bw AS (SELECT doc_id, string_split(text, ' ') AS w FROM batch),
            |bng0 AS (SELECT DISTINCT doc_id,
            |  unnest(list_transform(generate_series(1, greatest(len(w) - 2, 0)),
            |    i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS ng0 FROM bw),
            |bng AS (SELECT doc_id, ${polySql("ng0", Dedup.PolyB1, Dedup.PolyP1)} AS ng FROM bng0),
            |sizes AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS nn FROM bng GROUP BY doc_id),
            |bfirst AS (SELECT ng, MIN(doc_id) AS first_doc FROM bng GROUP BY ng),
            |fresh AS (SELECT b.first_doc FROM bfirst b LEFT JOIN state s ON b.ng = s.ng WHERE s.ng IS NULL),
            |novels AS (SELECT first_doc AS doc_id, CAST(COUNT(*) AS BIGINT) AS novel FROM fresh GROUP BY first_doc)
            |SELECT s.doc_id, s.nn, COALESCE(n.novel, 0) AS novel,
            |  COALESCE(n.novel, 0) * 1000000 // s.nn AS novelty_ppm
            |FROM sizes s LEFT JOIN novels n USING (doc_id)
            |ORDER BY s.doc_id""".stripMargin))

  // q106_selfrep_incr — incremental span surgery (the batch×state
  // shape for q101): the planted copy batch cut against the RAW
  // corpus's persisted ngram-first-doc state (the same table q95
  // reads). Exact copies span head-to-tail, near copies everything but
  // the marker tail; batch-internal repeats are owned by the least of
  // state owner and batch first-doc.

  private val selfRepIncrQ = Q(
    "q106_selfrep_incr",
    (s, dir) => {
      val d = Tables.documents(s, dir).select(col("doc_id"), col("text"))
      val batch = d.filter(pmod(col("doc_id"), lit(10)) === 0)
        .select((col("doc_id") + 10000).as("doc_id"), col("text"))
        .unionByName(d.filter(pmod(col("doc_id"), lit(7)) === 0)
          .select((col("doc_id") + 20000).as("doc_id"),
            concat(col("text"), lit(" graft extra marker")).as("text")))
      val state = Dedup.ngramFirstDocs(d, col("doc_id"), col("text"), 8)
      Dedup.selfRepSpansIncremental(batch, state, col("doc_id"), col("text"), 8)
        .orderBy(col("doc_id"), col("span_start"))
    },
    Some(s"""WITH batch AS (
            |  SELECT doc_id + 10000 AS doc_id, text FROM documents WHERE doc_id % 10 = 0
            |  UNION ALL SELECT doc_id + 20000, text || ' graft extra marker' FROM documents WHERE doc_id % 7 = 0),
            |sw AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
            |sng0 AS (SELECT DISTINCT doc_id,
            |  unnest(list_transform(generate_series(1, greatest(len(w) - 7, 0)),
            |    i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' || w[i+4] || ' ' || w[i+5] || ' ' || w[i+6] || ' ' || w[i+7])) AS ng0 FROM sw),
            |state AS (SELECT ng, MIN(doc_id) AS first_doc FROM
            |  (SELECT doc_id, ${polySql("ng0", Dedup.PolyB1, Dedup.PolyP1)} AS ng FROM sng0) GROUP BY ng),
            |bw AS (SELECT doc_id, string_split(text, ' ') AS w FROM batch),
            |tp0 AS (SELECT doc_id, w, unnest(generate_series(1, greatest(len(w) - 7, 0))) AS p FROM bw),
            |tp AS (SELECT doc_id, p,
            |    w[p] || ' ' || w[p+1] || ' ' || w[p+2] || ' ' || w[p+3] || ' ' || w[p+4] || ' ' || w[p+5] || ' ' || w[p+6] || ' ' || w[p+7] AS ng0
            |  FROM tp0),
            |tng AS (SELECT doc_id, p, ${polySql("ng0", Dedup.PolyB1, Dedup.PolyP1)} AS ng FROM tp),
            |bown AS (SELECT ng, MIN(doc_id) AS bown FROM tng GROUP BY ng),
            |own AS (SELECT b.ng, LEAST(b.bown, COALESCE(s.first_doc, b.bown)) AS owner
            |  FROM bown b LEFT JOIN state s USING (ng)),
            |hits AS (SELECT t.doc_id, p AS st, p + 7 AS en
            |  FROM tng t JOIN own o USING (ng) WHERE t.doc_id > o.owner),
            |flagged AS (SELECT doc_id, st, en,
            |  CASE WHEN MAX(en) OVER (PARTITION BY doc_id ORDER BY st
            |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
            |    OR st > MAX(en) OVER (PARTITION BY doc_id ORDER BY st
            |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) + 1
            |    THEN 1 ELSE 0 END AS new_grp FROM hits),
            |grouped AS (SELECT doc_id, st, en,
            |    CAST(SUM(new_grp) OVER (PARTITION BY doc_id ORDER BY st) AS BIGINT) AS grp
            |  FROM flagged)
            |SELECT doc_id, MIN(st) AS span_start, MAX(en) AS span_end,
            |  MAX(en) - MIN(st) + 1 AS span_tokens, COUNT(*) AS n_grams
            |FROM grouped GROUP BY doc_id, grp
            |ORDER BY doc_id, span_start""".stripMargin))

  // q96_dedup_report — the one-row corpus-health audit a pipeline
  // dashboard shows before/after every dedup run: doc count, exact-dup
  // group count, deletable copies (Σ n_copies−1), LSH near-dup pair
  // count, and the exact-dup fraction in ppm — a COMPOSITION of the
  // already-gated primitives (dedup_exact's md5 groups +
  // dedup_minhash_lsh's pair chain) into one scan-and-aggregate pass
  // per primitive. Single-row output, all exact integers.

  private val dedupReport = Q(
    "q96_dedup_report",
    (s, dir) => {
      val c = corpus(s, dir)
      val nDocs = c.agg(count(lit(1)).as("n_docs"))
      val ex = Dedup.exactGroups(c, col("doc_id"), col("text"))
        .agg(count(lit(1)).as("n_exact_groups"),
          sum(col("n_copies") - 1).as("n_exact_extra"))
      val near = Dedup.minHashLshPairs(c, col("doc_id"), col("text"), 3, 4, 4, 0.5)
        .agg(count(lit(1)).as("n_near_pairs"))
      nDocs.crossJoin(ex).crossJoin(near)
        .withColumn("exact_dup_ppm", expr("n_exact_extra * 1000000 DIV n_docs"))
    },
    Some(s"""WITH corpus AS ($corpusSql),
            |$minhashPairsSql,
            |nd AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM corpus),
            |eg AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_exact_groups,
            |    CAST(SUM(n_copies - 1) AS BIGINT) AS n_exact_extra
            |  FROM (SELECT COUNT(*) AS n_copies FROM corpus GROUP BY md5(text) HAVING COUNT(*) > 1) g),
            |np AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_near_pairs FROM pairs)
            |SELECT n_docs, n_exact_groups, n_exact_extra, n_near_pairs,
            |  n_exact_extra * 1000000 // n_docs AS exact_dup_ppm
            |FROM nd, eg, np""".stripMargin))

  // q97_surprisal_lm — unigram-LM perplexity filtering in exact
  // integers: per doc, the mean bit-surprisal of its word occurrences
  // under the corpus unigram distribution (floor(log2(N div c)) bits
  // per word — bit-length arithmetic, no float log, so the oracle
  // replays the score bit-for-bit). High tail = gibberish/OCR noise,
  // low tail = stopword soup — the two cuts a perplexity gate makes.

  private val surprisalLm = Q(
    "q97_surprisal_lm",
    (s, dir) =>
      TA.surprisalScore(Tables.documents(s, dir), col("doc_id"), col("text"))
        .orderBy(col("doc_id")),
    Some(s"""WITH words AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
            |tok0 AS (SELECT doc_id, unnest(w) AS t FROM words),
            |tok AS (SELECT doc_id, ${polySql("t", Dedup.PolyB1, Dedup.PolyP1)} AS ng FROM tok0),
            |vocab AS (SELECT ng, CAST(COUNT(*) AS BIGINT) AS c FROM tok GROUP BY ng),
            |tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n_total FROM vocab),
            |sc AS (SELECT doc_id, CAST(length(format('{:b}', n_total // c)) - 1 AS BIGINT) AS bits
            |  FROM tok JOIN vocab USING (ng) CROSS JOIN tot),
            |agg AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tok,
            |    CAST(SUM(bits) AS BIGINT) AS bits_sum FROM sc GROUP BY doc_id)
            |SELECT doc_id, n_tok, bits_sum, bits_sum * 1000000 // n_tok AS mean_bits_ppm
            |FROM agg ORDER BY doc_id""".stripMargin))
  // q99_epoch_upsample — fractional-epoch repeat mixing: src0 runs 2.5
  // epochs (every doc twice, hash-selected half a third time), src1
  // runs 3, everything else 1 — deterministic per doc via the salted
  // portable hash, emitted as a scan-local sequence explode (the
  // corpus never shuffles).

  private val epochUpsample = Q(
    "q99_epoch_upsample",
    (s, dir) =>
      TA.epochUpsample(Tables.documents(s, dir), col("source"), col("doc_id"),
          Map("src0" -> ((5, 2)), "src1" -> ((3, 1))), 1, 1)
        .orderBy(col("doc_id"), col("copy")),
    Some(s"""WITH d AS (SELECT source AS stratum, doc_id,
            |    CASE WHEN source = 'src0' THEN 5 WHEN source = 'src1' THEN 3 ELSE 1 END AS en,
            |    CASE WHEN source = 'src0' THEN 2 ELSE 1 END AS ed
            |  FROM documents),
            |h AS (SELECT stratum, doc_id, en, ed,
            |    ${polySql("(CAST(doc_id AS VARCHAR) || '/upsm')", Dedup.PolyB1, Dedup.PolyP1)} % ed AS b
            |  FROM d),
            |n AS (SELECT stratum, doc_id,
            |    en // ed + CASE WHEN b < en % ed THEN 1 ELSE 0 END AS n_copies FROM h)
            |SELECT stratum, doc_id, CAST(unnest(generate_series(1, n_copies)) AS BIGINT) AS copy
            |FROM n WHERE n_copies >= 1 ORDER BY doc_id, copy""".stripMargin))

  // q100_split_assign — leakage-safe train/val/test assignment: the
  // split hash is taken at the near-dup CLUSTER level (dedupClusters
  // labels; singletons are their own representative), so a train doc's
  // near-copy can never land in val/test — doc-level hashing WOULD
  // straddle pairs and contaminate eval. 98/1/1 via pmod(hash(rep),
  // 100); per-split doc and cluster counts, all exact.

  private val splitAssignQ = Q(
    "q100_split_assign",
    (s, dir) =>
      Dedup.splitAssign(corpus(s, dir), col("doc_id"), col("text"), 1, 1)
        .groupBy(col("split"))
        .agg(count(lit(1)).as("n_docs"), countDistinct(col("rep")).as("n_clusters"))
        .orderBy(col("split")),
    Some(s"""WITH RECURSIVE corpus AS ($corpusSql),
            |$minhashPairsSql,
            |${ccReachSql("pairs")},
            |lbl AS (SELECT id AS doc_id, MIN(lbl) AS cluster_id FROM reach GROUP BY id),
            |rep AS (SELECT c.doc_id, COALESCE(l.cluster_id, c.doc_id) AS rep
            |  FROM corpus c LEFT JOIN lbl l USING (doc_id)),
            |spl AS (SELECT doc_id, rep,
            |    CASE WHEN b < 1 THEN 'test' WHEN b < 2 THEN 'val' ELSE 'train' END AS split
            |  FROM (SELECT doc_id, rep,
            |    ${polySql("(CAST(rep AS VARCHAR) || '/split')", Dedup.PolyB1, Dedup.PolyP1)} % 100 AS b
            |    FROM rep))
            |SELECT split, CAST(COUNT(*) AS BIGINT) AS n_docs,
            |  CAST(COUNT(DISTINCT rep) AS BIGINT) AS n_clusters
            |FROM spl GROUP BY split ORDER BY split""".stripMargin))

  // q107_bpe_train / q108_bpe_encode — BPE tokenizer training and
  // corpus encoding (operators/Bpe.scala). The training loop's state
  // is the DISTINCT-WORD frequency table — one corpus-scale groupBy,
  // then every merge round runs over vocab-sized data only — so the
  // 100 TB cost is a single corpus scan. The oracle replays the same
  // greedy gaps-and-islands merge rounds as chained CTEs, generated
  // below from the same round count (bit-exact winner tie-break:
  // count DESC, lhs ASC, rhs ASC — binary string order both engines).

  private val BpeRounds = 8

  // The per-round CTEs are AS MATERIALIZED: DuckDB inlines plain CTEs
  // at every reference, and each round references the previous one
  // through several paths — inlining would re-expand the whole prefix
  // chain (and re-open the parquet) exponentially in the round count.
  private def bpeSqlChain(m: Int): String = {
    val base =
      s"""w00 AS (SELECT unnest(string_split(text, ' ')) AS t FROM documents),
         |w0 AS (SELECT t AS w, CAST(COUNT(*) AS BIGINT) AS freq FROM w00 WHERE length(t) > 0 GROUP BY t),
         |s0 AS MATERIALIZED (SELECT w, freq, list_transform(generate_series(1, length(w)), i -> w[i:i]) AS syms FROM w0)""".stripMargin
    val rounds = (1 to m).map { r =>
      s"""x$r AS MATERIALIZED (SELECT w, freq, pos, sym, lead(sym) OVER (PARTITION BY w ORDER BY pos) AS nxt
         |  FROM (SELECT w, freq, unnest(generate_series(1, len(syms))) AS pos, unnest(syms) AS sym FROM s${r - 1})),
         |t$r AS MATERIALIZED (SELECT sym AS a, nxt AS b, CAST(SUM(freq) AS BIGINT) AS n FROM x$r WHERE nxt IS NOT NULL
         |  GROUP BY sym, nxt ORDER BY n DESC, a, b LIMIT 1),
         |c$r AS MATERIALIZED (SELECT x.w, x.freq, x.pos, x.sym, x.nxt, t.a, t.b, (x.sym = t.a AND x.nxt = t.b) AS cand
         |  FROM x$r x CROSS JOIN t$r t),
         |k$r AS MATERIALIZED (SELECT w, pos FROM (
         |    SELECT w, pos, row_number() OVER (PARTITION BY w, pos - rn ORDER BY pos) AS ri
         |    FROM (SELECT w, pos, row_number() OVER (PARTITION BY w ORDER BY pos) AS rn FROM c$r WHERE cand))
         |  WHERE ri % 2 = 1),
         |s$r AS MATERIALIZED (SELECT w, freq, list(sym2 ORDER BY pos) AS syms FROM (
         |    SELECT c.w, c.freq, c.pos, CASE WHEN k1.pos IS NOT NULL THEN c.a || c.b ELSE c.sym END AS sym2
         |    FROM c$r c
         |    LEFT JOIN k$r k1 ON k1.w = c.w AND k1.pos = c.pos
         |    LEFT JOIN k$r k2 ON k2.w = c.w AND k2.pos = c.pos - 1
         |    WHERE k2.pos IS NULL)
         |  GROUP BY w, freq)""".stripMargin
    }
    (base +: rounds).mkString(",\n")
  }

  private val bpeTrain = Q(
    "q107_bpe_train",
    (s, dir) =>
      graft.operators.Bpe.trainMerges(Tables.documents(s, dir), col("text"), BpeRounds)
        .orderBy(col("rank")),
    Some {
      val union = (1 to BpeRounds).map { r =>
        s"""SELECT CAST($r AS INT) AS "rank", a AS lhs, b AS rhs, n AS pair_n FROM t$r"""
      }.mkString("\nUNION ALL ")
      s"""WITH ${bpeSqlChain(BpeRounds)}
         |SELECT * FROM (
         |$union
         |) ORDER BY "rank"""".stripMargin
    })

  private val bpeEncode = Q(
    "q108_bpe_encode",
    (s, dir) => {
      val d = Tables.documents(s, dir)
      val state = graft.operators.Bpe.train(d, col("text"), BpeRounds)._1
      val words = d.select(col("source"), col("doc_id"),
          explode(split(col("text"), " ")).as("w"))
        .filter(char_length(col("w")) > 0)
      // the encoded-vocab join is hash-partitioned on the word (AQE
      // broadcasts at test SF; a 100 TB vocab stays a shuffle join)
      words.join(state, Seq("w"))
        .groupBy(col("source"))
        .agg(countDistinct(col("doc_id")).as("n_docs"),
          count(lit(1)).as("n_words"),
          sum(char_length(col("w"))).as("n_chars"),
          sum(size(col("syms")).cast("long")).as("n_bpe_tokens"))
        .withColumn("tokens_per_kchar", expr("n_bpe_tokens * 1000 div n_chars"))
        .orderBy(col("source"))
    },
    Some(s"""WITH ${bpeSqlChain(BpeRounds)},
            |dw0 AS (SELECT source, doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
            |dw AS (SELECT source, doc_id, w FROM dw0 WHERE length(w) > 0)
            |SELECT d.source, CAST(COUNT(DISTINCT d.doc_id) AS BIGINT) AS n_docs,
            |  CAST(COUNT(*) AS BIGINT) AS n_words,
            |  CAST(SUM(length(d.w)) AS BIGINT) AS n_chars,
            |  CAST(SUM(len(s.syms)) AS BIGINT) AS n_bpe_tokens,
            |  CAST(SUM(len(s.syms)) AS BIGINT) * 1000 // CAST(SUM(length(d.w)) AS BIGINT) AS tokens_per_kchar
            |FROM dw d JOIN s$BpeRounds s USING (w)
            |GROUP BY d.source ORDER BY d.source""".stripMargin))

  // q111_bpe_pack — the tokenizer→packing integration: q48's
  // data-proportional (lang, shard) packing run on TRAINED-BPE token
  // counts instead of whitespace counts — the actual unit a
  // pretraining batch is budgeted in. Per-doc count = one join of the
  // doc's words against the trained word→symbols table (vocab-sized),
  // then the identical cumulative-bin arithmetic as q48.

  private val bpePack = Q(
    "q111_bpe_pack",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val d = Tables.documents(s, dir)
      val state = graft.operators.Bpe.train(d, col("text"), BpeRounds)._1
      val docTok = d.select(col("lang"), col("doc_id"),
          explode(split(col("text"), " ")).as("w"))
        .filter(char_length(col("w")) > 0)
        .join(state.select(col("w"), size(col("syms")).as("wn")), Seq("w"))
        .groupBy(col("lang"), col("doc_id"))
        .agg(sum(col("wn")).as("n"))
      val h = Dedup.polyHash(docTok, col("doc_id").cast("string"), Dedup.PolyB1, Dedup.PolyP1)
      val w = Window.partitionBy(col("lang"), col("shard")).orderBy(col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      docTok.withColumn("shard", h % 32)
        .withColumn("cum", sum(col("n")).over(w))
        .withColumn("bin", expr("(cum - n) div 2048"))
        .groupBy(col("lang"), col("shard"), col("bin"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n")).as("bin_tokens"))
        .orderBy(col("lang"), col("shard"), col("bin"))
    },
    Some(s"""WITH ${bpeSqlChain(BpeRounds)},
            |dw0 AS (SELECT lang, doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
            |dw AS (SELECT lang, doc_id, w FROM dw0 WHERE length(w) > 0),
            |dt AS (SELECT d.lang, d.doc_id, CAST(SUM(len(s.syms)) AS BIGINT) AS n
            |  FROM dw d JOIN s$BpeRounds s USING (w) GROUP BY d.lang, d.doc_id),
            |sh AS (SELECT lang, doc_id, n,
            |    ${polySql("(CAST(doc_id AS VARCHAR))", Dedup.PolyB1, Dedup.PolyP1)} % 32 AS shard FROM dt),
            |cm AS (SELECT lang, shard, doc_id, n,
            |    SUM(n) OVER (PARTITION BY lang, shard ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS cum FROM sh)
            |SELECT lang, shard, CAST((cum - n) // 2048 AS BIGINT) AS bin,
            |  COUNT(*) AS n_docs, CAST(SUM(n) AS BIGINT) AS bin_tokens
            |FROM cm GROUP BY lang, shard, bin ORDER BY lang, shard, bin""".stripMargin))

  // q110_fuzzy_join — edit-distance-≤1 similarity join
  // (Dedup.fuzzyJoin1): document titles (first 30 chars) vs planted
  // single-edit variants (substitution / deletion / verbatim by
  // id mod 3, edit position id-hashed). The PassJoin 2-segment
  // pigeonhole makes candidate generation an equi-join with zero
  // false negatives; the oracle replays the identical segment keys
  // and verify (DuckDB levenshtein ≡ Spark levenshtein).

  private val fuzzyJoinQ = Q(
    "q110_fuzzy_join",
    (s, dir) => {
      val t = Tables.documents(s, dir)
        .select(col("doc_id").as("r_id"), substring(col("text"), 1, 30).as("r_s"))
      val pos = (pmod(col("r_id"), char_length(col("r_s"))) + 1).cast("int")
      val v = t.select((col("r_id") + 1000000).as("v_id"),
        when(pmod(col("r_id"), lit(3)) === 0,
          concat(col("r_s").substr(lit(1), pos - 1), lit("q"),
            col("r_s").substr(pos + 1, char_length(col("r_s")))))
          .when(pmod(col("r_id"), lit(3)) === 1,
            concat(col("r_s").substr(lit(1), pos - 1),
              col("r_s").substr(pos + 1, char_length(col("r_s")))))
          .otherwise(col("r_s")).as("v_name"))
      val p = graft.GraftSession.profileOf(s)
      Dedup.fuzzyJoin1(v, col("v_id"), col("v_name"), t, col("r_id"), col("r_s"),
          salts = p.salts, hotThreshold = p.hotBucketThreshold)
        .select(col("l_id").as("v_id"), col("r_id").as("doc_id"), col("dist"))
        .orderBy(col("v_id"), col("doc_id"))
    },
    Some("""WITH t AS (SELECT doc_id AS r_id, text[1:30] AS r_s FROM documents),
           |v AS (
           |  SELECT r_id + 1000000 AS v_id,
           |    CASE WHEN r_id % 3 = 0 THEN r_s[1:(1 + r_id % length(r_s))-1] || 'q' || r_s[(1 + r_id % length(r_s))+1:length(r_s)]
           |         WHEN r_id % 3 = 1 THEN r_s[1:(1 + r_id % length(r_s))-1] || r_s[(1 + r_id % length(r_s))+1:length(r_s)]
           |         ELSE r_s END AS v_name
           |  FROM t),
           |rseg AS (
           |  SELECT r_id, r_s, length(r_s) AS rl, 'P' AS kind, r_s[1:length(r_s)//2] AS key FROM t
           |  UNION ALL
           |  SELECT r_id, r_s, length(r_s), 'S', r_s[length(r_s)//2+1:length(r_s)] FROM t),
           |lk0 AS (SELECT v_id, v_name, length(v_name) AS ll,
           |    unnest(generate_series(length(v_name)-1, length(v_name)+1)) AS sl FROM v),
           |lkey AS (
           |  SELECT DISTINCT v_id, v_name, ll, 'P' AS kind, v_name[1:sl//2] AS key FROM lk0
           |  UNION
           |  SELECT DISTINCT v_id, v_name, ll, 'S', v_name[ll-(sl-sl//2)+1:ll] FROM lk0),
           |cand AS (SELECT DISTINCT l.v_id, l.v_name, r.r_id, r.r_s
           |  FROM lkey l JOIN rseg r ON l.kind = r.kind AND l.key = r.key AND abs(l.ll - r.rl) <= 1)
           |SELECT v_id, r_id AS doc_id, CAST(levenshtein(v_name, r_s) AS BIGINT) AS dist
           |FROM cand WHERE levenshtein(v_name, r_s) <= 1
           |ORDER BY v_id, doc_id""".stripMargin))

  import SketchCatalog.{heavyHitters, kmvDistinct, kmvMerge, kmvDedupReport, kmvIncr,
    hllDistinct, hllMergeQ, sampleQuantiles, cmsIncr, stratAlloc, kmvIntersect, hllSliding}
  import StateCatalog.{clusterIncr, dupStateRoundtrip, ingestAdvance, deltaRoundtrip,
    dailyPipeline, dailyCyclePersisted, dailyCycleRebase}

  lazy val all: Seq[Q] = Seq(dedupExact, dedupNgram, dedupMinhash, saltedLsh, collisionTolerance, dedupSimhash, minhashEst, sq8Ann,
    bpeTrain, bpeEncode, bpePack, fuzzyJoinQ, kmvDistinct, kmvMerge, kmvDedupReport, kmvIncr,
    hllDistinct, hllMergeQ, sampleQuantiles, cmsIncr, stratAlloc, kmvIntersect, hllSliding,
    ingestAdvance, deltaRoundtrip, dailyPipeline, dailyCyclePersisted, dailyCycleRebase,
    surprisalLm, heavyHitters, epochUpsample, splitAssignQ,
    containmentDedup, domainCapQ, sourceOverlap, boilerplateQ, ngramNoveltyQ, targetAffinityQ, cdcChunksQ,
    containmentEstQ, mrlAnn, noveltyIncrQ, selfRepIncrQ, dedupReport,
    contamSpans, selfRepSpansQ, scrubSpansQ, dedupFunnelQ, normalizeDedupQ, bigramCoverage,
    chunkDedup, chunkDedupIncr, simhashIncr, budgetSelect, gopherGate, temperatureMix, knnLshMulti, packSplit,
    weightedSample, adaptiveGate, incrementalDedup, tokenizeEncode, rarityScore, redactPii,
    dedupEmbCosine, dupClusters, clusterIncr, dupStateRoundtrip, ccStar, semDedup, curateCorpus, clusterCurate,
    knnBrute, knnLsh, knnIvf, ivfIndex, ivfIncr, knnPq, embedOutliers, corpusMix,
    packSequences, vocabTopk, decontaminate, bloomDecontaminate, repetitionFilter, shardOrder, tfidfTopTerms,
    textTokens, textQuality, textLangid, textFingerprint, mmMediaMeta)
}
