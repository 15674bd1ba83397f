package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.sources.Tables
import graft.operators.{Dedup, Ingest, Kmv, Similarity, Stats}
import graft.operators.StateVersions.par2
import PipelineCatalog.{corpusSql, minhashPairsSql, minLabelClosureSql, ccReachSql, polySql, lloydIterSql, ivfCosFull}

/** The persisted/incremental STATE family of SURVEY.md §2C, split out
  * of PipelineCatalog (VERDICT r15 #5 — the 4,190-line file held 91
  * entries and every round edited it): the two state lifecycles'
  * oracle-gated entries — the dup-cluster quotient (q129) and its
  * disk round trip (q130), the composed ingest advance (q127), the
  * delta-persistence round trip (q128), the two-family in-memory
  * daily cycle (q131), and the two-family PERSISTED daily cycle
  * (q134, both chains through disk in lockstep). Registration stays
  * in PipelineCatalog.all (same keys, same order); the closure/LSH
  * oracle fragments stay in PipelineCatalog, while the cycle-family
  * fragments shared by q128/q134 ([[cycleBatchSql]] /
  * [[ingestChainSql]] / [[ingestReportSelectSql]]) live here — in
  * both cases one definition, so the from-scratch, incremental and
  * persisted oracles can never drift apart.
  */
object StateCatalog {
  /** A per-JVM scratch root (VERDICT r12 nit: a fixed /tmp path
    * silently accreted index copies across rounds). Fresh per process,
    * recursively deleted at JVM exit; the same run's repeated
    * invocations of an entry still overwrite one path, keeping its
    * round trip deterministic within a session.
    */
  private def jvmScratch(prefix: String): String = {
    val p = java.nio.file.Files.createTempDirectory(prefix)
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles).getOrElse(Array.empty).foreach(rm)
        f.delete(); ()
      }
      rm(p.toFile)
    }))
    p.toString
  }

  /** Scratch root for q127's IVF index round trip. Kept apart from
    * [[ingestDeltaScratch]]: both key their subdirectory on the SF dir
    * name, so one shared root would make q127 and q128 collide.
    */
  private[queries] lazy val ivfIngestScratch: String = jvmScratch("graft_ivf_ingest")

  /** Scratch root for q128's delta-state round trip and the other
    * state entries' chains.
    */
  private[queries] lazy val ingestDeltaScratch: String = jvmScratch("graft_delta_rt")

  // q129_cluster_incr — incremental duplicate-cluster maintenance:
  // the corpus's existing min-label assignment (bootstrapped in-query,
  // like every *_incr state entry) advanced by ONE batch of near-dup
  // edges — q67's planted batch, paired batch×corpus via the
  // incremental LSH and batch×batch via the plain LSH — through
  // Dedup.clusterStateAdvance: a batch-sized contracted CC plus two
  // broadcast joins over one state scan, never a full-graph CC. The
  // oracle is q53's from-scratch recursive min-label closure over the
  // SAME union corpus VERBATIM: the incremental advance must equal a
  // recompute from scratch, edge for edge, label for label.

  private[queries] val clusterIncr = Q(
    "q129_cluster_incr",
    (s, dir) => Dedup.withStagingScope(s) {
      val d = Tables.documents(s, dir).select(col("doc_id"), col("text"))
      val batch = d.filter(pmod(col("doc_id"), lit(10)) === 0)
        .select((col("doc_id") + 10000).as("doc_id"), col("text"))
        .unionByName(d.filter(pmod(col("doc_id"), lit(7)) === 0)
          .select((col("doc_id") + 20000).as("doc_id"),
            concat(col("text"), lit(" graft extra marker")).as("text")))
      // the corpus-side CC (its pair job and driver finish) and the
      // batch-side pair DERIVATION are independent until the quotient
      // advance consumes both — overlapped (StateVersions.par2, §2.6). The
      // batch leg is staged EAGERLY inside the overlap: minHashLshPairs/
      // minHashLshPairsIncremental build lazy plans, so without the
      // stage the leg overlapped nothing and par2 measured exactly
      // 0.000 s here (r17 verdict/advice). The staged edge table is
      // batch-bounded; clusterStateAdvance's own iterEager then merely
      // re-pins the already-materialized rows.
      val (comp, edges) = par2(
        Dedup.connectedComponents(
          Dedup.minHashLshPairs(d, col("doc_id"), col("text"), 3, 4, 4, 0.5,
              salts = graft.GraftSession.profileOf(s).salts)
            .select(col("id_a"), col("id_b"))), {
          val cross = Dedup
            .minHashLshPairsIncremental(d, batch, col("doc_id"), col("text"), 3, 4, 4, 0.5)
            .select(col("id_new").as("id_a"), col("id_old").as("id_b"))
          val intra = Dedup.minHashLshPairs(batch, col("doc_id"), col("text"), 3, 4, 4, 0.5,
              salts = graft.GraftSession.profileOf(s).salts)
            .select(col("id_a"), col("id_b"))
          Dedup.stageEager(cross.unionByName(intra))
        })
      Dedup.clusterStateAdvance(comp, edges)
        .orderBy(col("doc_id"))
    },
    Some(s"""WITH RECURSIVE corpus AS ($corpusSql),
            |$minhashPairsSql,
            |${minLabelClosureSql("pairs")}""".stripMargin))

  // q130_dup_state_roundtrip — the persisted cluster subsystem
  // oracle-gated end-to-end: bootstrap DupState from the corpus
  // (bands/ngr/sizes/comp), persist as the full base v=0, then advance
  // TWO batches through the disk round trip (exact copies, then near
  // copies) — each advance pairs the batch against the PERSISTED
  // bands/ngr (old text is never re-shingled), saves a delta version
  // (append rows + changed-rows comp layer), and the final read merges
  // the three comp layers latest-wins. Output = the reloaded merged
  // assignment; oracle = q53's from-scratch recursive closure over the
  // full union corpus VERBATIM — a lost append row, a doubled layer, a
  // misclassified base, or a wrong latest-wins merge all break it.

  private[queries] val dupStateRoundtrip = Q(
    "q130_dup_state_roundtrip",
    (s, dir) => {
      import graft.operators.DupState
      val d = Tables.documents(s, dir).select(col("doc_id"), col("text"))
      val batch1 = d.filter(pmod(col("doc_id"), lit(10)) === 0)
        .select((col("doc_id") + 10000).as("doc_id"), col("text"))
      val batch2 = d.filter(pmod(col("doc_id"), lit(7)) === 0)
        .select((col("doc_id") + 20000).as("doc_id"),
          concat(col("text"), lit(" graft extra marker")).as("text"))
      val stateDir = s"$ingestDeltaScratch/dup_${new java.io.File(dir).getName}"
      DupState.save(DupState.init(d, col("doc_id"), col("text")), stateDir, 0L)
      // upTo pinned on every load: the q128 idempotent-replay contract
      val (_, st0) = DupState.load(s, stateDir, upTo = 0L)
      DupState.saveDelta(DupState.advance(st0, batch1, col("doc_id"), col("text")),
        stateDir, 1L)
      val (_, st1) = DupState.load(s, stateDir, upTo = 1L)
      DupState.saveDelta(DupState.advance(st1, batch2, col("doc_id"), col("text")),
        stateDir, 2L)
      val (_, st2) = DupState.load(s, stateDir, upTo = 2L)
      st2.comp.orderBy(col("doc_id"))
    },
    Some(s"""WITH RECURSIVE corpus AS ($corpusSql),
            |$minhashPairsSql,
            |${minLabelClosureSql("pairs")}""".stripMargin))

  // q127_ingest_advance — the COMPOSED daily-ingest flagship: one batch
  // advanced through the full persisted-state operator family in one
  // chain, emitting the one-row advance report a pipeline dashboard
  // ingests after every daily drop. This is the Spark-native form of
  // the reference's recurring ETL loop (oracle.rs:484-770, etl_data
  // 355-430: score new data against stored state, update, report),
  // composed from the SHARED batch×state operators — nothing is
  // re-derived inline:
  //   gate 1  chunkDedupIncremental vs the chunkKeepers state (q80),
  //           then chunkKeepersMerged ADVANCES the keeper state;
  //   gate 2  simHashPairsIncremental vs the simHashDf signature state
  //           (q81) — survivors of gate 1 only;
  //   score   ngramNoveltyIncremental (q95) + selfRepSpansIncremental
  //           (q106) against the SAME ngramFirstDocs state family;
  //   sketch  Kmv.advance per-source vocabulary sketches (q118 —
  //           the batch's new 'synthetic' source exercises the
  //           new-group append path) merged to one global estimate;
  //           Stats.cmsMerge advances the frequency cells and the
  //           tracked-candidate hitter list re-thresholds (q122);
  //   index   Similarity.appendIvfIndex inserts the day's embedding
  //           drop into the persisted IVF index (q125), counters read
  //           BACK from the index (write round trip).
  // The batch plants all three ingest classes: exact copies (+10000,
  // die at the chunk gate), near copies (+20000, marker chunk survives
  // gate 1, the signature gate catches them), and genuinely novel docs
  // (+30000, synthetic token streams — pass every gate and drive the
  // novelty/sketch advances). Survivors keep their ORIGINAL text: the
  // gates filter; span surgery is reported, not applied (the q102
  // scrub is a downstream job). In a real lake every state table here
  // is READ (materialized at prior ingests); deriving them from the
  // corpus in-query stands in for that read, exactly as in
  // q80/q81/q95/q106/q118/q122/q125. All counters are exact integers;
  // the oracle replays the whole chain stage by stage.

  private[queries] val ingestAdvance = Q(
    "q127_ingest_advance",
    (s, dir) => Dedup.withStagingScope(s) {
      val d = Tables.documents(s, dir).select(col("doc_id"), col("source"), col("text"))
      val batch = d.filter(pmod(col("doc_id"), lit(10)) === 0)
        .select((col("doc_id") + 10000).as("doc_id"), col("source"), col("text"))
        .unionByName(d.filter(pmod(col("doc_id"), lit(7)) === 0)
          .select((col("doc_id") + 20000).as("doc_id"), col("source"),
            concat(col("text"), lit(" graft extra marker")).as("text")))
        .unionByName(d.filter(pmod(col("doc_id"), lit(5)) === 0)
          // two steps, NOT one select: in a one-select form the text
          // expression's doc_id would silently resolve to the child's
          // ORIGINAL doc_id (child output outranks lateral column
          // aliases in Spark) — the +30000 id must already be bound
          .select((col("doc_id") + 30000).as("doc_id"), lit("synthetic").as("source"))
          .withColumn("text", concat_ws(" ", transform(sequence(lit(1), lit(40)),
            i => concat(lit("nv"), col("doc_id").cast("string"), lit("_"),
              i.cast("string"))))))
      val nBatch = batch.agg(count(lit(1)).as("n_batch"))
      // gate 1: chunk dedup vs keeper state, then advance the state
      val keepers = Dedup.chunkKeepers(d, col("doc_id"), col("text"), 12)
      val s1tab = Dedup.chunkDedupIncremental(batch, keepers, col("doc_id"), col("text"), 12)
        .select(col("doc_id"), col("n_kept"))
      val chunkAgg = s1tab.agg(count(lit(1)).as("n_chunk_surv"),
        sum(col("n_kept")).as("n_chunks_kept"))
      val keepAgg = Dedup.chunkKeepersMerged(keepers, batch, col("doc_id"), col("text"), 12)
        .agg(count(lit(1)).as("n_keepers_after"))
      val corpusSigs = Dedup.simHashDf(d, col("doc_id"), col("text"))
      // the gate staging chain (text) and the IVF index write+append
      // (embeddings) are INDEPENDENT until the final report join, and
      // both are eager — Q127AnatomyProbe: gates 2.3 s, IVF 3.7 s of
      // the 7.1 s entry. Overlapped (StateVersions.par2, §2.6);
      // everything after is lazy until the report action.
      val e = Tables.embeddings(s, dir)
      val path = s"$ivfIngestScratch/${new java.io.File(dir).getName}"
      val ((s1docs, shDup, s2docs), _) = par2({
        // survivors carry their original batch text into the later
        // stages; staged once — four downstream stages re-read them
        val s1d = Dedup.stageEager(batch.join(s1tab.select(col("doc_id")), Seq("doc_id")))
        // gate 2: signature near-dup vs the persisted corpus
        // signatures — composite-band form (r13), same exact pair set
        // as the oracle's banding-then-verify replay (DISTINCT doc_id
        // with an exact bit_count filter is scheme-independent), 4×
        // less verify volume
        val sh = Dedup.simHashPairsIncrementalBanded(corpusSigs, s1d,
            col("doc_id"), col("text"), maxDist = 3)
          .select(col("id_new").as("doc_id")).distinct()
        val s2d = Dedup.stageEager(s1d.join(sh, Seq("doc_id"), "left_anti"))
        (s1d, sh, s2d)
      }, {
        // index advance: the day's embedding drop appended to the IVF
        // index; counters read back from the written cells (round trip)
        Similarity.writeIvfIndex(e.filter(pmod(col("vec_id"), lit(3)) =!= 0), path, 32, 2)
        Similarity.appendIvfIndex(e.filter(pmod(col("vec_id"), lit(3)) === 0), path)
      })
      val shAgg = shDup.agg(count(lit(1)).as("n_simhash_dup"))
      val survAgg = s2docs.agg(count(lit(1)).as("n_surv"))
      // scoring: novelty + repeated-span surgery vs the ngram states
      val novAgg = Dedup.ngramNoveltyIncremental(s2docs,
          Dedup.ngramFirstDocs(d, col("doc_id"), col("text"), 3),
          col("doc_id"), col("text"), 3)
        .agg(expr("sum(novel) * 1000000 DIV sum(nn)").as("novel_ppm"))
      val repAgg = Dedup.selfRepSpansIncremental(s2docs,
          Dedup.ngramFirstDocs(d, col("doc_id"), col("text"), 8),
          col("doc_id"), col("text"), 8)
        .agg(count(lit(1)).as("n_selfrep_spans"),
          coalesce(sum(col("span_tokens")), lit(0L)).as("selfrep_tokens"))
      // sketch advances: per-source KMV vocabulary + CMS frequency cells
      def tokHash(f: DataFrame) = f.select(col("source"),
        explode(Dedup.hashedNgramSeq(f, col("text"), 1)).as("ng"))
      val kAdv = Kmv.advance(Kmv.sketch(tokHash(d), Seq(col("source")), col("ng"), 64),
        tokHash(s2docs), Seq(col("source")), col("ng"), 64)
      val kGroups = kAdv.agg(count(lit(1)).as("n_kmv_groups"))
      val kEst = Kmv.merge(kAdv, Seq.empty, 64)
        .select(Kmv.estimate(col("ks"), 64, Dedup.PolyP1).as("est_vocab"))
      val occC = d.select(explode(Dedup.hashedNgramSeq(d, col("text"), 1)).as("ng"))
      val occB = s2docs.select(explode(Dedup.hashedNgramSeq(s2docs, col("text"), 1)).as("ng"))
      // ONE corpus CMS cell sketch, staged (≤ depth×width = 1024 rows),
      // feeds the merge, the hitter-candidate screen AND both
      // thresholds (§2.4 — this entry previously tokenized the corpus
      // 6×: cmsHeavyHitters alone re-derived occC 4 times, and both
      // thresholds re-counted it; every replacement below is
      // value-exact, oracle-gated):
      //  - candidates: cmsHeavyHitters(occC).select(ng) ≡ the est-
      //    filter over occC's own sketch (its exact-count join never
      //    filters — inner on the est keys), i.e. cmsEstimate(cellsC,
      //    occC) ≥ (totC·2) DIV 100;
      //  - counts: every occurrence lands in exactly one cell per seed
      //    row, so count(occ) = sum(cells) DIV depth — the q128
      //    n_token_occ identity.
      val cellsC = Dedup.stageEager(Stats.cmsCells(occC, col("ng"), 4, 256))
      val cAdv = Stats.cmsMerge(cellsC, Stats.cmsCells(occB, col("ng"), 4, 256))
      val threshC = cellsC.agg(expr("(CAST(sum(cell) DIV 4 AS BIGINT) * 2) DIV 100")
        .as("min_est"))
      val cCands = Stats.cmsEstimate(cellsC, occC, 4, 256)
        .crossJoin(broadcast(threshC))
        .filter(col("est") >= col("min_est")).select(col("ng"))
        .unionByName(occB.select(col("ng")).distinct()).distinct()
      val cThresh = cAdv.agg(expr("(CAST(sum(cell) DIV 4 AS BIGINT) * 2) DIV 100")
        .as("min_est"))
      val hitAgg = Stats.cmsEstimate(cAdv, cCands, 4, 256)
        .crossJoin(broadcast(cThresh))
        .filter(col("est") >= col("min_est"))
        .agg(count(lit(1)).as("n_hitters"))
      val ivfAgg = s.read.parquet(s"$path/cells")
        .filter(pmod(col("vec_id"), lit(3)) === 0)
        .agg(count(lit(1)).as("n_vecs_appended"),
          countDistinct(col("cent_id")).as("n_cells_touched"))
      nBatch.crossJoin(chunkAgg).crossJoin(keepAgg).crossJoin(shAgg).crossJoin(survAgg)
        .crossJoin(novAgg).crossJoin(repAgg).crossJoin(kGroups).crossJoin(kEst)
        .crossJoin(hitAgg).crossJoin(ivfAgg)
    },
    Some(s"""WITH batch AS (
            |  SELECT doc_id + 10000 AS doc_id, source, text FROM documents WHERE doc_id % 10 = 0
            |  UNION ALL SELECT doc_id + 20000, source, text || ' graft extra marker' FROM documents WHERE doc_id % 7 = 0
            |  UNION ALL SELECT doc_id + 30000, 'synthetic',
            |    array_to_string(list_transform(generate_series(1, 40),
            |      i -> 'nv' || CAST(doc_id + 30000 AS VARCHAR) || '_' || CAST(i AS VARCHAR)), ' ')
            |  FROM documents WHERE doc_id % 5 = 0),
            |nbatch AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_batch FROM batch),
            |-- gate 1: chunk dedup vs corpus keeper state (q80 replay)
            |words_c AS (SELECT string_split(text, ' ') AS w FROM documents),
            |ch_c0 AS (SELECT w, unnest(generate_series(1, (len(w) + 11) // 12)) AS i FROM words_c),
            |ch_cc AS (SELECT array_to_string(w[(i-1)*12+1:(i-1)*12+12], ' ') AS chunk FROM ch_c0),
            |hh_c AS (SELECT DISTINCT
            |    ${polySql("chunk", Dedup.PolyB1, Dedup.PolyP1)}
            |      + ${polySql("chunk", Dedup.PolyB2, Dedup.PolyP2)} * 2147483648 AS h FROM ch_cc),
            |words_b AS (SELECT doc_id, string_split(text, ' ') AS w FROM batch),
            |ch0 AS (SELECT doc_id, w, unnest(generate_series(1, (len(w) + 11) // 12)) AS i FROM words_b),
            |ch AS (SELECT doc_id, i - 1 AS idx,
            |    array_to_string(w[(i-1)*12+1:(i-1)*12+12], ' ') AS chunk FROM ch0),
            |hh AS (SELECT doc_id, idx,
            |    ${polySql("chunk", Dedup.PolyB1, Dedup.PolyP1)}
            |      + ${polySql("chunk", Dedup.PolyB2, Dedup.PolyP2)} * 2147483648 AS h FROM ch),
            |firstb AS (SELECT doc_id, idx, h FROM hh
            |  QUALIFY ROW_NUMBER() OVER (PARTITION BY h ORDER BY doc_id, idx) = 1),
            |surv AS (SELECT f.doc_id FROM firstb f LEFT JOIN hh_c c ON f.h = c.h WHERE c.h IS NULL),
            |s1 AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_kept FROM surv GROUP BY doc_id),
            |chunkagg AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_chunk_surv,
            |    CAST(SUM(n_kept) AS BIGINT) AS n_chunks_kept FROM s1),
            |keepagg AS (SELECT CAST(COUNT(DISTINCT h) AS BIGINT) AS n_keepers_after
            |  FROM (SELECT h FROM hh_c UNION ALL SELECT h FROM hh)),
            |s1docs AS (SELECT b.doc_id, b.source, b.text FROM batch b JOIN s1 USING (doc_id)),
            |-- gate 2: simhash near-dup vs corpus signature state (q81 replay)
            |shtok AS (SELECT doc_id, src, unnest(string_split_regex(trim(text), '\\s+')) AS t FROM
            |  (SELECT doc_id, 0 AS src, text FROM documents
            |   UNION ALL SELECT doc_id, 1, text FROM s1docs)),
            |shh AS (SELECT doc_id, src,
            |  ${polySql("t", Dedup.PolyB1, Dedup.PolyP1)} AS h1,
            |  ${polySql("t", Dedup.PolyB2, Dedup.PolyP2)} AS h2 FROM shtok),
            |shbits AS (SELECT doc_id, src, b,
            |  SUM(CASE WHEN ((CASE WHEN b < 31 THEN h1 >> b ELSE h2 >> (b - 31) END) & 1) = 1 THEN 1 ELSE -1 END) AS sb
            |  FROM shh CROSS JOIN (SELECT unnest(generate_series(0, ${Dedup.SimHashBits - 1})) AS b) bs
            |  GROUP BY doc_id, src, b),
            |shsig AS (SELECT doc_id, src, CAST(SUM(CASE WHEN sb > 0 THEN (CAST(1 AS BIGINT) << b) ELSE 0 END) AS BIGINT) AS sh
            |  FROM shbits GROUP BY doc_id, src),
            |shchunk AS (SELECT doc_id, src, sh, c, (sh >> (c * 16)) & 65535 AS cv
            |  FROM shsig CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS c) cs),
            |shdup AS (SELECT DISTINCT a.doc_id AS doc_id
            |  FROM shchunk a JOIN shchunk b ON a.c = b.c AND a.cv = b.cv
            |  WHERE a.src = 1 AND b.src = 0 AND bit_count(xor(a.sh, b.sh)) <= 3),
            |shagg AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_simhash_dup FROM shdup),
            |s2docs AS (SELECT s1d.doc_id, s1d.source, s1d.text FROM s1docs s1d
            |  LEFT JOIN shdup dp ON s1d.doc_id = dp.doc_id WHERE dp.doc_id IS NULL),
            |survagg AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_surv FROM s2docs),
            |-- novelty of survivors vs the 3-gram first-doc state (q95 replay)
            |n3w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
            |n3g0 AS (SELECT DISTINCT doc_id,
            |  unnest(list_transform(generate_series(1, greatest(len(w) - 2, 0)),
            |    i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS ng0 FROM n3w),
            |state3 AS (SELECT DISTINCT ${polySql("ng0", Dedup.PolyB1, Dedup.PolyP1)} AS ng FROM n3g0),
            |b3w AS (SELECT doc_id, string_split(text, ' ') AS w FROM s2docs),
            |b3g0 AS (SELECT DISTINCT doc_id,
            |  unnest(list_transform(generate_series(1, greatest(len(w) - 2, 0)),
            |    i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS ng0 FROM b3w),
            |b3g AS (SELECT doc_id, ${polySql("ng0", Dedup.PolyB1, Dedup.PolyP1)} AS ng FROM b3g0),
            |novsz AS (SELECT CAST(COUNT(*) AS BIGINT) AS nn FROM b3g),
            |novfr AS (SELECT CAST(COUNT(*) AS BIGINT) AS novel
            |  FROM (SELECT DISTINCT ng FROM b3g) bd LEFT JOIN state3 st ON bd.ng = st.ng
            |  WHERE st.ng IS NULL),
            |novagg AS (SELECT novel * 1000000 // nn AS novel_ppm FROM novfr, novsz),
            |-- repeated-span surgery of survivors vs the 8-gram state (q106 replay)
            |s8w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
            |s8g0 AS (SELECT DISTINCT doc_id,
            |  unnest(list_transform(generate_series(1, greatest(len(w) - 7, 0)),
            |    i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' || w[i+4] || ' ' || w[i+5] || ' ' || w[i+6] || ' ' || w[i+7])) AS ng0 FROM s8w),
            |state8 AS (SELECT ng, MIN(doc_id) AS first_doc FROM
            |  (SELECT doc_id, ${polySql("ng0", Dedup.PolyB1, Dedup.PolyP1)} AS ng FROM s8g0) GROUP BY ng),
            |r8w AS (SELECT doc_id, string_split(text, ' ') AS w FROM s2docs),
            |rtp0 AS (SELECT doc_id, w, unnest(generate_series(1, greatest(len(w) - 7, 0))) AS p FROM r8w),
            |rtp AS (SELECT doc_id, p,
            |    w[p] || ' ' || w[p+1] || ' ' || w[p+2] || ' ' || w[p+3] || ' ' || w[p+4] || ' ' || w[p+5] || ' ' || w[p+6] || ' ' || w[p+7] AS ng0
            |  FROM rtp0),
            |rtng AS (SELECT doc_id, p, ${polySql("ng0", Dedup.PolyB1, Dedup.PolyP1)} AS ng FROM rtp),
            |rbown AS (SELECT ng, MIN(doc_id) AS bown FROM rtng GROUP BY ng),
            |rown AS (SELECT b.ng, LEAST(b.bown, COALESCE(st.first_doc, b.bown)) AS owner
            |  FROM rbown b LEFT JOIN state8 st USING (ng)),
            |rhits AS (SELECT t.doc_id, p AS st, p + 7 AS en
            |  FROM rtng t JOIN rown o USING (ng) WHERE t.doc_id > o.owner),
            |rflag AS (SELECT doc_id, st, en,
            |  CASE WHEN MAX(en) OVER (PARTITION BY doc_id ORDER BY st
            |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
            |    OR st > MAX(en) OVER (PARTITION BY doc_id ORDER BY st
            |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) + 1
            |    THEN 1 ELSE 0 END AS new_grp FROM rhits),
            |rgrp AS (SELECT doc_id, st, en,
            |    CAST(SUM(new_grp) OVER (PARTITION BY doc_id ORDER BY st) AS BIGINT) AS grp
            |  FROM rflag),
            |rspans AS (SELECT doc_id, grp, MIN(st) AS st, MAX(en) AS en FROM rgrp GROUP BY doc_id, grp),
            |repagg AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_selfrep_spans,
            |    CAST(COALESCE(SUM(en - st + 1), 0) AS BIGINT) AS selfrep_tokens FROM rspans),
            |-- KMV vocabulary advance (q118 replay: advance ≡ sketch-of-union)
            |occ_c AS (SELECT source, ${polySql("t", Dedup.PolyB1, Dedup.PolyP1)} AS ng FROM
            |  (SELECT source, unnest(string_split(text, ' ')) AS t FROM documents)),
            |occ_b AS (SELECT source, ${polySql("t", Dedup.PolyB1, Dedup.PolyP1)} AS ng FROM
            |  (SELECT source, unnest(string_split(text, ' ')) AS t FROM s2docs)),
            |kg AS (SELECT CAST(COUNT(DISTINCT source) AS BIGINT) AS n_kmv_groups
            |  FROM (SELECT source FROM occ_c UNION ALL SELECT source FROM occ_b)),
            |kall AS (SELECT DISTINCT ng FROM (SELECT ng FROM occ_c UNION ALL SELECT ng FROM occ_b)),
            |kn AS (SELECT CAST(COUNT(*) AS BIGINT) AS nm FROM kall),
            |kth AS (SELECT ng FROM kall ORDER BY ng LIMIT 1 OFFSET 63),
            |kest AS (SELECT CAST(CASE WHEN kn.nm < 64 THEN kn.nm
            |    ELSE CAST(63 AS BIGINT) * ${Dedup.PolyP1} // (SELECT ng FROM kth) END AS BIGINT) AS est_vocab
            |  FROM kn),
            |-- CMS frequency advance + tracked-candidate re-threshold (q122 replay)
            |cseeds AS (SELECT unnest(generate_series(0, 3)) AS s),
            |csb AS (SELECT s, (ng * (2*s+1) + (s*7919+1)) % ${Dedup.PolyP1} % 256 AS bucket,
            |    CAST(COUNT(*) AS BIGINT) AS cell
            |  FROM occ_c CROSS JOIN cseeds GROUP BY 1, 2),
            |csn AS (SELECT s, (ng * (2*s+1) + (s*7919+1)) % ${Dedup.PolyP1} % 256 AS bucket,
            |    CAST(COUNT(*) AS BIGINT) AS cell
            |  FROM occ_b CROSS JOIN cseeds GROUP BY 1, 2),
            |csm AS (SELECT s, bucket, CAST(SUM(cell) AS BIGINT) AS cell
            |  FROM (SELECT * FROM csb UNION ALL SELECT * FROM csn) GROUP BY 1, 2),
            |cthb AS (SELECT CAST(COUNT(*) AS BIGINT) * 2 // 100 AS min_est FROM occ_c),
            |ckeysb AS (SELECT DISTINCT ng FROM occ_c),
            |cestb AS (SELECT ng, MIN(cell) AS est
            |  FROM (SELECT ng, s, (ng * (2*s+1) + (s*7919+1)) % ${Dedup.PolyP1} % 256 AS bucket
            |        FROM ckeysb CROSS JOIN cseeds) k
            |  JOIN csb USING (s, bucket) GROUP BY ng),
            |chitb AS (SELECT ng FROM cestb CROSS JOIN cthb WHERE est >= min_est),
            |ccand AS (SELECT ng FROM chitb UNION SELECT DISTINCT ng FROM occ_b),
            |ceste AS (SELECT ng, CAST(MIN(cell) AS BIGINT) AS est
            |  FROM (SELECT ng, s, (ng * (2*s+1) + (s*7919+1)) % ${Dedup.PolyP1} % 256 AS bucket
            |        FROM ccand CROSS JOIN cseeds) k
            |  JOIN csm USING (s, bucket) GROUP BY ng),
            |ctha AS (SELECT CAST((SELECT COUNT(*) FROM occ_c) + (SELECT COUNT(*) FROM occ_b) AS BIGINT)
            |    * 2 // 100 AS min_est),
            |hitagg AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_hitters
            |  FROM ceste e CROSS JOIN ctha WHERE e.est >= ctha.min_est),
            |-- IVF append (q125 replay: base-trained quantizer, batch assigned)
            |ivnb AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 3 <> 0),
            |ivc0 AS (SELECT vec_id AS cent_id, embedding AS cent FROM embeddings
            |  WHERE vec_id % 3 <> 0 AND vec_id % 32 = 0),
            |${lloydIterSql("ivc0", "iva0", "ivd0", "ivc1", "ivnb")},
            |${lloydIterSql("ivc1", "iva1", "ivd1", "ivc2", "ivnb")},
            |ivasg AS (SELECT vec_id, cent_id FROM (
            |    SELECT v.vec_id, c.cent_id,
            |      row_number() OVER (PARTITION BY v.vec_id
            |        ORDER BY ${ivfCosFull("v.embedding", "c.cent")} DESC, c.cent_id ASC) AS rn
            |    FROM (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 3 = 0) v
            |    CROSS JOIN ivc2 c) t WHERE rn = 1),
            |ivagg AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_vecs_appended,
            |    CAST(COUNT(DISTINCT cent_id) AS BIGINT) AS n_cells_touched FROM ivasg)
            |SELECT nb.n_batch, ca.n_chunk_surv, ca.n_chunks_kept, ka.n_keepers_after,
            |  sa.n_simhash_dup, sv.n_surv, na.novel_ppm, ra.n_selfrep_spans, ra.selfrep_tokens,
            |  kgg.n_kmv_groups, ke.est_vocab, ha.n_hitters, iv.n_vecs_appended, iv.n_cells_touched
            |FROM nbatch nb, chunkagg ca, keepagg ka, shagg sa, survagg sv, novagg na,
            |  repagg ra, kg kgg, kest ke, hitagg ha, ivagg iv""".stripMargin))

  /** The q127-planted 3-class batch (2-col form): exact copies
    * (+10000), near copies (+20000), novel synthetic (+30000) — the
    * CTE the q128 and q134 oracles share (one definition, so the
    * batch a persisted-cycle oracle replays can never drift from the
    * delta round trip's).
    */
  private val cycleBatchSql =
    s"""batch AS (
       |  SELECT doc_id + 10000 AS doc_id, text FROM documents WHERE doc_id % 10 = 0
       |  UNION ALL SELECT doc_id + 20000, text || ' graft extra marker' FROM documents WHERE doc_id % 7 = 0
       |  UNION ALL SELECT doc_id + 30000,
       |    array_to_string(list_transform(generate_series(1, 40),
       |      i -> 'nv' || CAST(doc_id + 30000 AS VARCHAR) || '_' || CAST(i AS VARCHAR)), ' ')
       |  FROM documents WHERE doc_id % 5 = 0)""".stripMargin

  /** The corpus-derived ingest STATE CTEs (chunk-keeper hashes, ng3/
    * ng8 tables with ownership, unigram occurrences) — the v=0
    * bootstrap every advance replay reads. Shared by
    * [[ingestChainSql]] (day 1 reads it directly) and q135's day-2
    * state composition (which unions it with day 1's additions).
    */
  private val ingestCorpusStateSql =
    s"""words_c AS (SELECT string_split(text, ' ') AS w FROM documents),
       |ch_c0 AS (SELECT w, unnest(generate_series(1, (len(w) + 11) // 12)) AS i FROM words_c),
       |ch_cc AS (SELECT array_to_string(w[(i-1)*12+1:(i-1)*12+12], ' ') AS chunk FROM ch_c0),
       |hh_c AS (SELECT DISTINCT
       |    ${polySql("chunk", Dedup.PolyB1, Dedup.PolyP1)}
       |      + ${polySql("chunk", Dedup.PolyB2, Dedup.PolyP2)} * 2147483648 AS h FROM ch_cc),
       |n3w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
       |n3g0 AS (SELECT DISTINCT doc_id,
       |  unnest(list_transform(generate_series(1, greatest(len(w) - 2, 0)),
       |    i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS ng0 FROM n3w),
       |state3 AS (SELECT DISTINCT ${polySql("ng0", Dedup.PolyB1, Dedup.PolyP1)} AS ng FROM n3g0),
       |s8w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
       |s8g0 AS (SELECT DISTINCT doc_id,
       |  unnest(list_transform(generate_series(1, greatest(len(w) - 7, 0)),
       |    i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' || w[i+4] || ' ' || w[i+5] || ' ' || w[i+6] || ' ' || w[i+7])) AS ng0 FROM s8w),
       |state8 AS (SELECT ng, MIN(doc_id) AS first_doc FROM
       |  (SELECT doc_id, ${polySql("ng0", Dedup.PolyB1, Dedup.PolyP1)} AS ng FROM s8g0) GROUP BY ng),
       |occ_c AS (SELECT ${polySql("t", Dedup.PolyB1, Dedup.PolyP1)} AS ng FROM
       |  (SELECT unnest(string_split(text, ' ')) AS t FROM documents))""".stripMargin

  /** Every CTE name [[ingestAdvanceSql]]'s template defines — the
    * rename set that suffixes a second instantiation so two advances
    * can live in one WITH clause (q135).
    */
  private val ingestAdvanceCtes = Seq("nbatch", "words_b", "ch0", "ch", "hh", "firstb", "surv", "s1", "chunkagg", "keepagg", "s1docs", "shtok", "shh", "shbits", "shsig", "shchunk", "shdup", "shagg", "s2docs", "survagg", "b3w", "b3g0", "b3g", "novsz", "novfr", "novagg", "r8w", "rtp0", "rtp", "rtng", "rbown", "rown", "rhits", "rflag", "rgrp", "rspans", "repagg", "occ_b", "kall", "kn", "kth", "kest", "sigcnt", "ng3cnt", "ng8cnt", "occcnt")

  /** ONE ingest-advance oracle chain (gates → scoring → KMV →
    * after-counts) as a template: `x` suffixes every CTE the chain
    * defines, and the batch/state names are injected so a second
    * instantiation can advance over the FIRST advance's composed
    * state. Day 1 (`x = ""`, corpus state) regenerates q128's chain
    * exactly — q128/q134/q135 share one definition, so the delta
    * round trip, the persisted cycle and the rebase-boundary cycle
    * can never drift apart.
    */
  private def ingestAdvanceSql(x: String, batch: String, stateHh: String,
      sigDocs: String, st3: String, st8: String, stOcc: String,
      sigBase: String): String = {
    val t = s"""nbatch AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_batch FROM @BATCH@),
       |words_b AS (SELECT doc_id, string_split(text, ' ') AS w FROM @BATCH@),
       |ch0 AS (SELECT doc_id, w, unnest(generate_series(1, (len(w) + 11) // 12)) AS i FROM words_b),
       |ch AS (SELECT doc_id, i - 1 AS idx,
       |    array_to_string(w[(i-1)*12+1:(i-1)*12+12], ' ') AS chunk FROM ch0),
       |hh AS (SELECT doc_id, idx,
       |    ${polySql("chunk", Dedup.PolyB1, Dedup.PolyP1)}
       |      + ${polySql("chunk", Dedup.PolyB2, Dedup.PolyP2)} * 2147483648 AS h FROM ch),
       |firstb AS (SELECT doc_id, idx, h FROM hh
       |  QUALIFY ROW_NUMBER() OVER (PARTITION BY h ORDER BY doc_id, idx) = 1),
       |surv AS (SELECT f.doc_id FROM firstb f LEFT JOIN @STATEHH@ c ON f.h = c.h WHERE c.h IS NULL),
       |s1 AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_kept FROM surv GROUP BY doc_id),
       |chunkagg AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_chunk_surv FROM s1),
       |keepagg AS (SELECT CAST(COUNT(DISTINCT h) AS BIGINT) AS n_keepers_after
       |  FROM (SELECT h FROM @STATEHH@ UNION ALL SELECT h FROM hh)),
       |s1docs AS (SELECT b.doc_id, b.text FROM @BATCH@ b JOIN s1 USING (doc_id)),
       |shtok AS (SELECT doc_id, src, unnest(string_split_regex(trim(text), '\\s+')) AS t FROM
       |  (SELECT doc_id, 0 AS src, text FROM @SIGDOCS@
       |   UNION ALL SELECT doc_id, 1, text FROM s1docs)),
       |shh AS (SELECT doc_id, src,
       |  ${polySql("t", Dedup.PolyB1, Dedup.PolyP1)} AS h1,
       |  ${polySql("t", Dedup.PolyB2, Dedup.PolyP2)} AS h2 FROM shtok),
       |shbits AS (SELECT doc_id, src, b,
       |  SUM(CASE WHEN ((CASE WHEN b < 31 THEN h1 >> b ELSE h2 >> (b - 31) END) & 1) = 1 THEN 1 ELSE -1 END) AS sb
       |  FROM shh CROSS JOIN (SELECT unnest(generate_series(0, ${Dedup.SimHashBits - 1})) AS b) bs
       |  GROUP BY doc_id, src, b),
       |shsig AS (SELECT doc_id, src, CAST(SUM(CASE WHEN sb > 0 THEN (CAST(1 AS BIGINT) << b) ELSE 0 END) AS BIGINT) AS sh
       |  FROM shbits GROUP BY doc_id, src),
       |shchunk AS (SELECT doc_id, src, sh, c, (sh >> (c * 16)) & 65535 AS cv
       |  FROM shsig CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS c) cs),
       |shdup AS (SELECT DISTINCT a.doc_id AS doc_id
       |  FROM shchunk a JOIN shchunk b ON a.c = b.c AND a.cv = b.cv
       |  WHERE a.src = 1 AND b.src = 0 AND bit_count(xor(a.sh, b.sh)) <= 3),
       |shagg AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_simhash_dup FROM shdup),
       |s2docs AS (SELECT s1d.doc_id, s1d.text FROM s1docs s1d
       |  LEFT JOIN shdup dp ON s1d.doc_id = dp.doc_id WHERE dp.doc_id IS NULL),
       |survagg AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_surv FROM s2docs),
       |b3w AS (SELECT doc_id, string_split(text, ' ') AS w FROM s2docs),
       |b3g0 AS (SELECT DISTINCT doc_id,
       |  unnest(list_transform(generate_series(1, greatest(len(w) - 2, 0)),
       |    i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS ng0 FROM b3w),
       |b3g AS (SELECT doc_id, ${polySql("ng0", Dedup.PolyB1, Dedup.PolyP1)} AS ng FROM b3g0),
       |novsz AS (SELECT CAST(COUNT(*) AS BIGINT) AS nn FROM b3g),
       |novfr AS (SELECT CAST(COUNT(*) AS BIGINT) AS novel
       |  FROM (SELECT DISTINCT ng FROM b3g) bd LEFT JOIN @ST3@ st ON bd.ng = st.ng
       |  WHERE st.ng IS NULL),
       |novagg AS (SELECT novel * 1000000 // nn AS novel_ppm FROM novfr, novsz),
       |r8w AS (SELECT doc_id, string_split(text, ' ') AS w FROM s2docs),
       |rtp0 AS (SELECT doc_id, w, unnest(generate_series(1, greatest(len(w) - 7, 0))) AS p FROM r8w),
       |rtp AS (SELECT doc_id, p,
       |    w[p] || ' ' || w[p+1] || ' ' || w[p+2] || ' ' || w[p+3] || ' ' || w[p+4] || ' ' || w[p+5] || ' ' || w[p+6] || ' ' || w[p+7] AS ng0
       |  FROM rtp0),
       |rtng AS (SELECT doc_id, p, ${polySql("ng0", Dedup.PolyB1, Dedup.PolyP1)} AS ng FROM rtp),
       |rbown AS (SELECT ng, MIN(doc_id) AS bown FROM rtng GROUP BY ng),
       |rown AS (SELECT b.ng, LEAST(b.bown, COALESCE(st.first_doc, b.bown)) AS owner
       |  FROM rbown b LEFT JOIN @ST8@ st USING (ng)),
       |rhits AS (SELECT t.doc_id, p AS st, p + 7 AS en
       |  FROM rtng t JOIN rown o USING (ng) WHERE t.doc_id > o.owner),
       |rflag AS (SELECT doc_id, st, en,
       |  CASE WHEN MAX(en) OVER (PARTITION BY doc_id ORDER BY st
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
       |    OR st > MAX(en) OVER (PARTITION BY doc_id ORDER BY st
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) + 1
       |    THEN 1 ELSE 0 END AS new_grp FROM rhits),
       |rgrp AS (SELECT doc_id, st, en,
       |    CAST(SUM(new_grp) OVER (PARTITION BY doc_id ORDER BY st) AS BIGINT) AS grp
       |  FROM rflag),
       |rspans AS (SELECT doc_id, grp, MIN(st) AS st, MAX(en) AS en FROM rgrp GROUP BY doc_id, grp),
       |repagg AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_selfrep_spans FROM rspans),
       |occ_b AS (SELECT ${polySql("t", Dedup.PolyB1, Dedup.PolyP1)} AS ng FROM
       |  (SELECT unnest(string_split(text, ' ')) AS t FROM s2docs)),
       |kall AS (SELECT DISTINCT ng FROM (SELECT ng FROM @STOCC@ UNION ALL SELECT ng FROM occ_b)),
       |kn AS (SELECT CAST(COUNT(*) AS BIGINT) AS nm FROM kall),
       |kth AS (SELECT ng FROM kall ORDER BY ng LIMIT 1 OFFSET 63),
       |kest AS (SELECT CAST(CASE WHEN kn.nm < 64 THEN kn.nm
       |    ELSE CAST(63 AS BIGINT) * ${Dedup.PolyP1} // (SELECT ng FROM kth) END AS BIGINT) AS est_vocab
       |  FROM kn),
       |sigcnt AS (SELECT @SIGBASE@
       |    + (SELECT n_surv FROM survagg) AS n_sigs_after),
       |ng3cnt AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_ng3_after
       |  FROM (SELECT ng FROM @ST3@ UNION SELECT ng FROM b3g)),
       |ng8cnt AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_ng8_after
       |  FROM (SELECT ng FROM @ST8@ UNION SELECT ng FROM rtng)),
       |occcnt AS (SELECT CAST((SELECT COUNT(*) FROM @STOCC@)
       |    + (SELECT COUNT(*) FROM occ_b) AS BIGINT) AS n_token_occ)""".stripMargin
    val renamed = if (x.isEmpty) t else ingestAdvanceCtes.foldLeft(t)((a, n) =>
      a.replaceAll("\\b" + n + "\\b", n + x))
    renamed.replace("@BATCH@", batch).replace("@STATEHH@", stateHh)
      .replace("@SIGDOCS@", sigDocs).replace("@ST3@", st3).replace("@ST8@", st8)
      .replace("@STOCC@", stOcc).replace("@SIGBASE@", sigBase)
  }

  private val ingestChainSql = ingestCorpusStateSql + ",\n" +
    ingestAdvanceSql("", "batch", "hh_c", "documents", "state3", "state8",
      "occ_c", "(SELECT CAST(COUNT(*) AS BIGINT) FROM documents)")

  /** q128's report column list + FROM over [[ingestChainSql]]'s
    * aggregate CTEs (q134 appends its cluster columns/table).
    */
  private val ingestReportSelectSql =
    s"""SELECT nb.n_batch, ca.n_chunk_surv, sa.n_simhash_dup, sv.n_surv, na.novel_ppm,
       |  ra.n_selfrep_spans, ke.est_vocab, ka.n_keepers_after, sc.n_sigs_after,
       |  n3.n_ng3_after, n8.n_ng8_after, oc.n_token_occ
       |FROM nbatch nb, chunkagg ca, keepagg ka, shagg sa, survagg sv, novagg na,
       |  repagg ra, kest ke, sigcnt sc, ng3cnt n3, ng8cnt n8, occcnt oc""".stripMargin


  /** Day-2 batch for the rebase-boundary cycle (q135), the second
    * day's id offsets: EXACT copies of day 1's admitted novel docs
    * (+40000 — these must die at the chunk gate purely on day 1's
    * DELTA layer additions, the sharpest possible delta-loss probe),
    * near copies of the corpus with a DIFFERENT marker (+50000 —
    * survive the chunk gate, die at the signature gate against the
    * base sigs, exactly like day 1's near class), and fresh novel
    * synthetic (+60000, admitted). Qualified `d.doc_id` everywhere:
    * an unqualified reference beside the `AS doc_id` alias would be
    * ambiguous under DuckDB's lateral-alias resolution.
    */
  private val cycleBatch2Sql =
    s"""batch2 AS (
       |  SELECT d.doc_id + 40000 AS doc_id,
       |    array_to_string(list_transform(generate_series(1, 40),
       |      i -> 'nv' || CAST(d.doc_id + 30000 AS VARCHAR) || '_' || CAST(i AS VARCHAR)), ' ') AS text
       |  FROM documents d WHERE d.doc_id % 10 = 0
       |  UNION ALL SELECT doc_id + 50000, text || ' graft second marker' FROM documents WHERE doc_id % 7 = 0
       |  UNION ALL SELECT d.doc_id + 60000,
       |    array_to_string(list_transform(generate_series(1, 40),
       |      i -> 'nv' || CAST(d.doc_id + 60000 AS VARCHAR) || '_' || CAST(i AS VARCHAR)), ' ')
       |  FROM documents d WHERE d.doc_id % 5 = 0)""".stripMargin

  /** The ingest state AFTER day 1's advance, composed from day 1's
    * own chain CTEs — exactly the append contract
    * [[graft.operators.Ingest.advanceOnceDelta]] persists: keepers
    * gain EVERY batch chunk hash (gate-independent), sigs/ng3/ng8/
    * occurrences gain only the admitted survivors (`s2docs`), and
    * ng8 ownership min-merges (equal to append's old-introducer-wins
    * under the ingest-id invariant: batch ids always sort above).
    * Feeds [[ingestAdvanceSql]]'s day-2 instantiation in q135.
    */
  private val ingestDay2StateSql =
    s"""hh_c2 AS (SELECT h FROM hh_c UNION SELECT h FROM hh),
       |sigdocs2 AS (SELECT doc_id, text FROM documents UNION ALL SELECT doc_id, text FROM s2docs),
       |state3_2 AS (SELECT ng FROM state3 UNION SELECT ng FROM b3g),
       |state8_2 AS (SELECT ng, MIN(fd) AS first_doc FROM (
       |    SELECT ng, first_doc AS fd FROM state8 UNION ALL SELECT ng, doc_id AS fd FROM rtng) GROUP BY ng),
       |occ_s2 AS (SELECT ng FROM occ_c UNION ALL SELECT ng FROM occ_b)""".stripMargin

  /** The q127-planted 3-class batch (2-col Spark side of
    * [[cycleBatchSql]]): exact copies (+10000), near copies (+20000),
    * novel synthetic (+30000) — shared by q128/q131/q134 so the three
    * cycle entries always advance the SAME day's drop.
    */
  private def cycleBatch(d: DataFrame): DataFrame =
    d.filter(pmod(col("doc_id"), lit(10)) === 0)
      .select((col("doc_id") + 10000).as("doc_id"), col("text"))
      .unionByName(d.filter(pmod(col("doc_id"), lit(7)) === 0)
        .select((col("doc_id") + 20000).as("doc_id"),
          concat(col("text"), lit(" graft extra marker")).as("text")))
      .unionByName(d.filter(pmod(col("doc_id"), lit(5)) === 0)
        // two steps, NOT one select: in a one-select form the text
        // expression's doc_id would silently resolve to the child's
        // ORIGINAL doc_id (child output outranks lateral column
        // aliases in Spark) — the +30000 id must already be bound
        .select((col("doc_id") + 30000).as("doc_id"))
        .withColumn("text", concat_ws(" ", transform(sequence(lit(1), lit(40)),
          i => concat(lit("nv"), col("doc_id").cast("string"), lit("_"),
            i.cast("string"))))))

  /** Day-2 batch (Spark side of [[cycleBatch2Sql]]): exact copies of
    * day 1's admitted novel docs (+40000, text keyed off the SOURCE
    * id + 30000 so it equals day 1's novel text byte-for-byte), near
    * copies of the corpus with a different marker (+50000), fresh
    * novel synthetic (+60000).
    */
  private def cycleBatch2(d: DataFrame): DataFrame =
    d.filter(pmod(col("doc_id"), lit(10)) === 0)
      .select((col("doc_id") + 40000).as("doc_id"),
        (col("doc_id") + 30000).as("src_id"))
      .withColumn("text", concat_ws(" ", transform(sequence(lit(1), lit(40)),
        i => concat(lit("nv"), col("src_id").cast("string"), lit("_"),
          i.cast("string")))))
      .drop("src_id")
      .unionByName(d.filter(pmod(col("doc_id"), lit(7)) === 0)
        .select((col("doc_id") + 50000).as("doc_id"),
          concat(col("text"), lit(" graft second marker")).as("text")))
      .unionByName(d.filter(pmod(col("doc_id"), lit(5)) === 0)
        .select((col("doc_id") + 60000).as("doc_id"))
        .withColumn("text", concat_ws(" ", transform(sequence(lit(1), lit(40)),
          i => concat(lit("nv"), col("doc_id").cast("string"), lit("_"),
            i.cast("string"))))))

  // q128_delta_roundtrip — the DELTA persistence layer oracle-gated
  // end-to-end (VERDICT r13 #2): bootstrap the six-table state family
  // from the corpus, persist it as the full base (v=0), reload, run
  // Ingest.advanceOnceDelta on the q127-planted batch, persist the
  // batch-sized StateDeltas as a delta version (v=1), reload the
  // base∪delta chain, and report the advance counters PLUS the
  // reloaded chain's table counts. Under the StateDeltas append
  // contract the chain read must equal a from-scratch merge, so every
  // column is derivable by the oracle from corpus+batch alone — a
  // lost/doubled delta row or a misclassified chain base breaks the
  // hash compare. The gate/score CTEs are q127's verbatim (the
  // persistence layout must change nothing about the advance).

  private[queries] val deltaRoundtrip = Q(
    "q128_delta_roundtrip",
    (s, dir) => {
      val d = Tables.documents(s, dir).select(col("doc_id"), col("text"))
      val batch = cycleBatch(d)
      val stateDir = s"$ingestDeltaScratch/${new java.io.File(dir).getName}"
      // the base is saved BUCKETED (profile lakeBuckets), so the gate/
      // score joins below run the layered bucket-co-located read path —
      // the oracle therefore gates that layout end-to-end as well
      Ingest.saveStates(Ingest.initStates(d, col("doc_id"), col("text")), stateDir, 0L,
        buckets = Some(graft.GraftSession.profileOf(s).lakeBuckets))
      // upTo pinned on both loads (the idempotent-replay contract): a
      // REPEATED invocation in one session otherwise loads the previous
      // invocation's v=1 as state and then overwrites the very files its
      // lazy plan still references (bench r14: rerun-only failure)
      val (_, st0) = Ingest.loadStates(s, stateDir, upTo = 0L)
      val (report, _, dd) = Ingest.advanceOnceDelta(batch, st0, col("doc_id"), col("text"))
      Ingest.saveStatesDelta(dd, stateDir, 1L)
      val (_, st1) = Ingest.loadStates(s, stateDir, upTo = 1L)
      report
        .crossJoin(st1.keepers.agg(count(lit(1)).as("n_keepers_after")))
        .crossJoin(st1.sigs.agg(count(lit(1)).as("n_sigs_after")))
        .crossJoin(st1.ng3.agg(count(lit(1)).as("n_ng3_after")))
        .crossJoin(st1.ng8.agg(count(lit(1)).as("n_ng8_after")))
        // every occurrence lands in one cell per seed row, so the cell
        // sum is depth × total unigram occurrences (corpus + admitted)
        .crossJoin(st1.cms.agg(expr("CAST(sum(cell) DIV 4 AS BIGINT)").as("n_token_occ")))
    },
    Some(s"""WITH $cycleBatchSql,
            |$ingestChainSql
            |$ingestReportSelectSql""".stripMargin))

  // q131_daily_pipeline — the COMPOSED daily cycle across BOTH state
  // families in one entry (VERDICT r14 #4): the reference's recurring
  // ETL loop runs ALL its steps per cycle (oracle.rs:484-770 scores new
  // data against every stored state, updates, reports), and graft's
  // equivalent is the q127 ingest chain PLUS the q129 dup-cluster
  // quotient — here composed as one oracle-checked chain over the SAME
  // 3-class batch (exact copies +10000, near copies +20000, novel
  // synthetic +30000). The ingest half is the REUSABLE per-batch
  // operator itself (Ingest.advanceOnce — the exact step the streaming
  // sink runs), not a re-derivation; the cluster half advances the
  // corpus's min-label assignment by the batch's LSH edges through
  // Dedup.clusterStateAdvance and reports assignment/cluster/dup-doc
  // counts. The oracle replays the gates/scoring/KMV stage by stage
  // (q128's CTEs) and the cluster counts via q53's recursive min-label
  // closure over documents ∪ batch — a drift in EITHER family's
  // advance breaks the hash compare. States are derived in-query from
  // the corpus (standing in for the lake read, as in q80/q81/q95/q127);
  // the persisted round trips are q128/q130's own gates.

  private[queries] val dailyPipeline = Q(
    "q131_daily_pipeline",
    (s, dir) => Dedup.withStagingScope(s) {
      val d = Tables.documents(s, dir).select(col("doc_id"), col("text"))
      val batch = cycleBatch(d)
      // the ingest advance and the dup-cluster quotient advance are
      // independent until the final report join — their eager phases
      // (staging chain / CC) overlap (StateVersions.par2,
      // §2.6 — the same two legs EventStream.dailyCycleStream's sink
      // runs per batch)
      val (report, adv) = par2({
        // ingest family: the one-call per-batch step (gates → scoring →
        // sketch advances), exactly what ingestAdvanceStream runs
        val st = Ingest.initStates(d, col("doc_id"), col("text"))
        Ingest.advanceOnce(batch, st, col("doc_id"), col("text"))._1
      }, {
        // dup-cluster family: q129's quotient advance on the same batch
        val comp = Dedup.connectedComponents(
          Dedup.minHashLshPairs(d, col("doc_id"), col("text"), 3, 4, 4, 0.5,
              salts = graft.GraftSession.profileOf(s).salts)
            .select(col("id_a"), col("id_b")))
        val cross = Dedup
          .minHashLshPairsIncremental(d, batch, col("doc_id"), col("text"), 3, 4, 4, 0.5)
          .select(col("id_new").as("id_a"), col("id_old").as("id_b"))
        val intra = Dedup.minHashLshPairs(batch, col("doc_id"), col("text"), 3, 4, 4, 0.5,
            salts = graft.GraftSession.profileOf(s).salts)
          .select(col("id_a"), col("id_b"))
        Dedup.clusterStateAdvance(comp, cross.unionByName(intra))
      })
      report.crossJoin(adv.agg(
        count(lit(1)).as("n_cluster_rows"),
        countDistinct(col("cluster_id")).as("n_clusters"),
        sum(when(col("doc_id") >= 10000, lit(1L)).otherwise(lit(0L)))
          .as("n_batch_dup_docs")))
    },
    Some(s"""WITH RECURSIVE batch AS (
            |  SELECT doc_id + 10000 AS doc_id, text FROM documents WHERE doc_id % 10 = 0
            |  UNION ALL SELECT doc_id + 20000, text || ' graft extra marker' FROM documents WHERE doc_id % 7 = 0
            |  UNION ALL SELECT doc_id + 30000,
            |    array_to_string(list_transform(generate_series(1, 40),
            |      i -> 'nv' || CAST(doc_id + 30000 AS VARCHAR) || '_' || CAST(i AS VARCHAR)), ' ')
            |  FROM documents WHERE doc_id % 5 = 0),
            |nbatch AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_batch FROM batch),
            |-- gate 1: chunk dedup vs corpus keeper state (q127's replay)
            |words_c AS (SELECT string_split(text, ' ') AS w FROM documents),
            |ch_c0 AS (SELECT w, unnest(generate_series(1, (len(w) + 11) // 12)) AS i FROM words_c),
            |ch_cc AS (SELECT array_to_string(w[(i-1)*12+1:(i-1)*12+12], ' ') AS chunk FROM ch_c0),
            |hh_c AS (SELECT DISTINCT
            |    ${polySql("chunk", Dedup.PolyB1, Dedup.PolyP1)}
            |      + ${polySql("chunk", Dedup.PolyB2, Dedup.PolyP2)} * 2147483648 AS h FROM ch_cc),
            |words_b AS (SELECT doc_id, string_split(text, ' ') AS w FROM batch),
            |ch0 AS (SELECT doc_id, w, unnest(generate_series(1, (len(w) + 11) // 12)) AS i FROM words_b),
            |ch AS (SELECT doc_id, i - 1 AS idx,
            |    array_to_string(w[(i-1)*12+1:(i-1)*12+12], ' ') AS chunk FROM ch0),
            |hh AS (SELECT doc_id, idx,
            |    ${polySql("chunk", Dedup.PolyB1, Dedup.PolyP1)}
            |      + ${polySql("chunk", Dedup.PolyB2, Dedup.PolyP2)} * 2147483648 AS h FROM ch),
            |firstb AS (SELECT doc_id, idx, h FROM hh
            |  QUALIFY ROW_NUMBER() OVER (PARTITION BY h ORDER BY doc_id, idx) = 1),
            |surv AS (SELECT f.doc_id FROM firstb f LEFT JOIN hh_c c ON f.h = c.h WHERE c.h IS NULL),
            |s1 AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_kept FROM surv GROUP BY doc_id),
            |chunkagg AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_chunk_surv FROM s1),
            |s1docs AS (SELECT b.doc_id, b.text FROM batch b JOIN s1 USING (doc_id)),
            |-- gate 2: simhash near-dup vs corpus signature state
            |shtok AS (SELECT doc_id, src, unnest(string_split_regex(trim(text), '\\s+')) AS t FROM
            |  (SELECT doc_id, 0 AS src, text FROM documents
            |   UNION ALL SELECT doc_id, 1, text FROM s1docs)),
            |shh AS (SELECT doc_id, src,
            |  ${polySql("t", Dedup.PolyB1, Dedup.PolyP1)} AS h1,
            |  ${polySql("t", Dedup.PolyB2, Dedup.PolyP2)} AS h2 FROM shtok),
            |shbits AS (SELECT doc_id, src, b,
            |  SUM(CASE WHEN ((CASE WHEN b < 31 THEN h1 >> b ELSE h2 >> (b - 31) END) & 1) = 1 THEN 1 ELSE -1 END) AS sb
            |  FROM shh CROSS JOIN (SELECT unnest(generate_series(0, ${Dedup.SimHashBits - 1})) AS b) bs
            |  GROUP BY doc_id, src, b),
            |shsig AS (SELECT doc_id, src, CAST(SUM(CASE WHEN sb > 0 THEN (CAST(1 AS BIGINT) << b) ELSE 0 END) AS BIGINT) AS sh
            |  FROM shbits GROUP BY doc_id, src),
            |shchunk AS (SELECT doc_id, src, sh, c, (sh >> (c * 16)) & 65535 AS cv
            |  FROM shsig CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS c) cs),
            |shdup AS (SELECT DISTINCT a.doc_id AS doc_id
            |  FROM shchunk a JOIN shchunk b ON a.c = b.c AND a.cv = b.cv
            |  WHERE a.src = 1 AND b.src = 0 AND bit_count(xor(a.sh, b.sh)) <= 3),
            |shagg AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_simhash_dup FROM shdup),
            |s2docs AS (SELECT s1d.doc_id, s1d.text FROM s1docs s1d
            |  LEFT JOIN shdup dp ON s1d.doc_id = dp.doc_id WHERE dp.doc_id IS NULL),
            |survagg AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_surv FROM s2docs),
            |-- novelty of survivors vs the 3-gram first-doc state
            |n3w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
            |n3g0 AS (SELECT DISTINCT doc_id,
            |  unnest(list_transform(generate_series(1, greatest(len(w) - 2, 0)),
            |    i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS ng0 FROM n3w),
            |state3 AS (SELECT DISTINCT ${polySql("ng0", Dedup.PolyB1, Dedup.PolyP1)} AS ng FROM n3g0),
            |b3w AS (SELECT doc_id, string_split(text, ' ') AS w FROM s2docs),
            |b3g0 AS (SELECT DISTINCT doc_id,
            |  unnest(list_transform(generate_series(1, greatest(len(w) - 2, 0)),
            |    i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS ng0 FROM b3w),
            |b3g AS (SELECT doc_id, ${polySql("ng0", Dedup.PolyB1, Dedup.PolyP1)} AS ng FROM b3g0),
            |novsz AS (SELECT CAST(COUNT(*) AS BIGINT) AS nn FROM b3g),
            |novfr AS (SELECT CAST(COUNT(*) AS BIGINT) AS novel
            |  FROM (SELECT DISTINCT ng FROM b3g) bd LEFT JOIN state3 st ON bd.ng = st.ng
            |  WHERE st.ng IS NULL),
            |novagg AS (SELECT novel * 1000000 // nn AS novel_ppm FROM novfr, novsz),
            |-- repeated-span surgery of survivors vs the 8-gram state
            |s8w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
            |s8g0 AS (SELECT DISTINCT doc_id,
            |  unnest(list_transform(generate_series(1, greatest(len(w) - 7, 0)),
            |    i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' || w[i+4] || ' ' || w[i+5] || ' ' || w[i+6] || ' ' || w[i+7])) AS ng0 FROM s8w),
            |state8 AS (SELECT ng, MIN(doc_id) AS first_doc FROM
            |  (SELECT doc_id, ${polySql("ng0", Dedup.PolyB1, Dedup.PolyP1)} AS ng FROM s8g0) GROUP BY ng),
            |r8w AS (SELECT doc_id, string_split(text, ' ') AS w FROM s2docs),
            |rtp0 AS (SELECT doc_id, w, unnest(generate_series(1, greatest(len(w) - 7, 0))) AS p FROM r8w),
            |rtp AS (SELECT doc_id, p,
            |    w[p] || ' ' || w[p+1] || ' ' || w[p+2] || ' ' || w[p+3] || ' ' || w[p+4] || ' ' || w[p+5] || ' ' || w[p+6] || ' ' || w[p+7] AS ng0
            |  FROM rtp0),
            |rtng AS (SELECT doc_id, p, ${polySql("ng0", Dedup.PolyB1, Dedup.PolyP1)} AS ng FROM rtp),
            |rbown AS (SELECT ng, MIN(doc_id) AS bown FROM rtng GROUP BY ng),
            |rown AS (SELECT b.ng, LEAST(b.bown, COALESCE(st.first_doc, b.bown)) AS owner
            |  FROM rbown b LEFT JOIN state8 st USING (ng)),
            |rhits AS (SELECT t.doc_id, p AS st, p + 7 AS en
            |  FROM rtng t JOIN rown o USING (ng) WHERE t.doc_id > o.owner),
            |rflag AS (SELECT doc_id, st, en,
            |  CASE WHEN MAX(en) OVER (PARTITION BY doc_id ORDER BY st
            |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
            |    OR st > MAX(en) OVER (PARTITION BY doc_id ORDER BY st
            |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) + 1
            |    THEN 1 ELSE 0 END AS new_grp FROM rhits),
            |rgrp AS (SELECT doc_id, st, en,
            |    CAST(SUM(new_grp) OVER (PARTITION BY doc_id ORDER BY st) AS BIGINT) AS grp
            |  FROM rflag),
            |rspans AS (SELECT doc_id, grp, MIN(st) AS st, MAX(en) AS en FROM rgrp GROUP BY doc_id, grp),
            |repagg AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_selfrep_spans FROM rspans),
            |-- KMV vocabulary advance (advance ≡ sketch-of-union)
            |occ_c AS (SELECT ${polySql("t", Dedup.PolyB1, Dedup.PolyP1)} AS ng FROM
            |  (SELECT unnest(string_split(text, ' ')) AS t FROM documents)),
            |occ_b AS (SELECT ${polySql("t", Dedup.PolyB1, Dedup.PolyP1)} AS ng FROM
            |  (SELECT unnest(string_split(text, ' ')) AS t FROM s2docs)),
            |kall AS (SELECT DISTINCT ng FROM (SELECT ng FROM occ_c UNION ALL SELECT ng FROM occ_b)),
            |kn AS (SELECT CAST(COUNT(*) AS BIGINT) AS nm FROM kall),
            |kth AS (SELECT ng FROM kall ORDER BY ng LIMIT 1 OFFSET 63),
            |kest AS (SELECT CAST(CASE WHEN kn.nm < 64 THEN kn.nm
            |    ELSE CAST(63 AS BIGINT) * ${Dedup.PolyP1} // (SELECT ng FROM kth) END AS BIGINT) AS est_vocab
            |  FROM kn),
            |-- dup-cluster advance: q53's closure over documents ∪ batch
            |corpus AS (SELECT doc_id, text FROM documents
            |  UNION ALL SELECT doc_id, text FROM batch),
            |$minhashPairsSql,
            |${ccReachSql("pairs")},
            |clo AS (SELECT id AS doc_id, MIN(lbl) AS cluster_id FROM reach GROUP BY id),
            |clagg AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_cluster_rows,
            |    CAST(COUNT(DISTINCT cluster_id) AS BIGINT) AS n_clusters,
            |    CAST(SUM(CASE WHEN doc_id >= 10000 THEN 1 ELSE 0 END) AS BIGINT) AS n_batch_dup_docs
            |  FROM clo)
            |SELECT nb.n_batch, ca.n_chunk_surv, sa.n_simhash_dup, sv.n_surv, na.novel_ppm,
            |  ra.n_selfrep_spans, ke.est_vocab, cl.n_cluster_rows, cl.n_clusters, cl.n_batch_dup_docs
            |FROM nbatch nb, chunkagg ca, shagg sa, survagg sv, novagg na,
            |  repagg ra, kest ke, clagg cl""".stripMargin))

  // q134_daily_cycle_persisted — the two-family PERSISTED daily cycle
  // (VERDICT r15 #1): q131 composes both state families in-memory and
  // q128/q130 gate each family's disk round trip separately; this
  // entry gates the composed DISK cycle — the two-dir lockstep
  // convention the PLANS stretch-8 paragraph documents (two state
  // dirs, versions advancing in lockstep, one batch driver; the
  // reference's loop persists everything it scores, oracle.rs:484-770).
  // Both dirs bootstrap at v=0 from the same corpus, ONE 3-class batch
  // advances through Ingest.advanceOnceDelta → saveStatesDelta AND
  // DupState.advance → saveDelta (v=1 on both chains), then BOTH
  // chains are reloaded from disk and the report joins the advance
  // counters with each family's reloaded table counts. The oracle is
  // q128's ingest chain (shared CTEs — [[ingestChainSql]]) composed
  // with q53's recursive closure over documents ∪ batch: a lost delta
  // row, a misread chain, or a drifted advance in EITHER family breaks
  // the hash compare. The crash-between-saves case (one family saved
  // at v=N+1, the other not, batch replayed) is spec-gated in
  // DailyCycleSpec — replay re-converges both heads byte-identically.

  private[queries] val dailyCyclePersisted = Q(
    "q134_daily_cycle_persisted",
    (s, dir) => {
      import graft.operators.DupState
      val d = Tables.documents(s, dir).select(col("doc_id"), col("text"))
      val batch = cycleBatch(d)
      val base = new java.io.File(dir).getName
      val ingDir = s"$ingestDeltaScratch/cyc_ing_$base"
      val dupDir = s"$ingestDeltaScratch/cyc_dup_$base"
      // lockstep bootstrap: BOTH dirs at v=0 before the first batch.
      // The two families' bootstraps are independent (different dirs,
      // both derived from the same corpus), so they run OVERLAPPED
      // (StateVersions.par2, §2.6) — the barrier below still puts
      // both at v=0 before any advance, which is all "lockstep"
      // requires. Crash window
      // (r17 advice): overlapping lets dup v=0 commit BEFORE ingest
      // v=0 — the inverse of the delta steps' documented dup-one-
      // behind state — but at v=0 that inversion is benign: the replay
      // re-runs BOTH bootstraps from the same corpus and saveStates/
      // save rewrite v=0 idempotently (un-publish → rewrite →
      // re-publish), converging both heads byte-identically with no
      // delta above them to orphan. DailyCycleSpec drives exactly this
      // dup-ahead-at-bootstrap replay.
      par2(
        Ingest.saveStates(Ingest.initStates(d, col("doc_id"), col("text")), ingDir, 0L,
          buckets = Some(graft.GraftSession.profileOf(s).lakeBuckets)),
        DupState.save(DupState.init(d, col("doc_id"), col("text")), dupDir, 0L))
      // batch 0: each family loads ≤ 0 and writes v=1 — ingest first,
      // then dup (the documented save order; a crash between the two
      // leaves dup one version behind, and the batch replay rewrites
      // ingest's v=1 idempotently while dup catches up — DailyCycleSpec
      // drives exactly that). upTo pinned on every load (q128 lesson).
      // The two ADVANCE computations are independent and overlap; only
      // the SAVES are ordered — dup's v=1 write starts strictly after
      // ingest's v=1 committed, exactly the documented choreography
      // (EventStream.dailyCycleStream's sink runs these same legs)
      val (report, dupDelta) = par2({
        val (_, ist0) = Ingest.loadStates(s, ingDir, upTo = 0L)
        val (rep, _, d1) = Ingest.advanceOnceDelta(batch, ist0, col("doc_id"), col("text"))
        Ingest.saveStatesDelta(d1, ingDir, 1L)
        rep
      }, {
        val (_, dst0) = DupState.load(s, dupDir, upTo = 0L)
        DupState.advance(dst0, batch, col("doc_id"), col("text"))
      })
      DupState.saveDelta(dupDelta, dupDir, 1L)
      // reload BOTH chains from disk: the report below is entirely a
      // function of what the two persisted heads actually serve
      val (_, ist1) = Ingest.loadStates(s, ingDir, upTo = 1L)
      val (_, dst1) = DupState.load(s, dupDir, upTo = 1L)
      report
        .crossJoin(ist1.keepers.agg(count(lit(1)).as("n_keepers_after")))
        .crossJoin(ist1.sigs.agg(count(lit(1)).as("n_sigs_after")))
        .crossJoin(ist1.ng3.agg(count(lit(1)).as("n_ng3_after")))
        .crossJoin(ist1.ng8.agg(count(lit(1)).as("n_ng8_after")))
        // cell sum = depth × total unigram occurrences (q128's check)
        .crossJoin(ist1.cms.agg(expr("CAST(sum(cell) DIV 4 AS BIGINT)").as("n_token_occ")))
        .crossJoin(dst1.comp.agg(
          count(lit(1)).as("n_cluster_rows"),
          countDistinct(col("cluster_id")).as("n_clusters"),
          sum(when(col("doc_id") >= 10000, lit(1L)).otherwise(lit(0L)))
            .as("n_batch_dup_docs")))
    },
    Some(s"""WITH RECURSIVE $cycleBatchSql,
            |$ingestChainSql,
            |corpus AS (SELECT doc_id, text FROM documents
            |  UNION ALL SELECT doc_id, text FROM batch),
            |$minhashPairsSql,
            |${ccReachSql("pairs")},
            |clo AS (SELECT id AS doc_id, MIN(lbl) AS cluster_id FROM reach GROUP BY id),
            |clagg AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_cluster_rows,
            |    CAST(COUNT(DISTINCT cluster_id) AS BIGINT) AS n_clusters,
            |    CAST(SUM(CASE WHEN doc_id >= 10000 THEN 1 ELSE 0 END) AS BIGINT) AS n_batch_dup_docs
            |  FROM clo)
            |SELECT nb.n_batch, ca.n_chunk_surv, sa.n_simhash_dup, sv.n_surv, na.novel_ppm,
            |  ra.n_selfrep_spans, ke.est_vocab, ka.n_keepers_after, sc.n_sigs_after,
            |  n3.n_ng3_after, n8.n_ng8_after, oc.n_token_occ,
            |  cl.n_cluster_rows, cl.n_clusters, cl.n_batch_dup_docs
            |FROM nbatch nb, chunkagg ca, keepagg ka, shagg sa, survagg sv, novagg na,
            |  repagg ra, kest ke, sigcnt sc, ng3cnt n3, ng8cnt n8, occcnt oc, clagg cl""".stripMargin))

  // q135_daily_cycle_rebase — the composed two-family cycle gated
  // THROUGH a rebase boundary (VERDICT r16 #2): q134 gates one delta
  // version; this entry advances TWO day-batches at cadence 2 —
  // day 1 writes v=1 DELTAS on both chains, day 2 loads each
  // base∪delta chain, advances, and writes v=2 as ingest's FULL
  // REBASE while dup stays delta (so the final dup read is
  // base∪delta∪delta, the deepest chain any oracle reads). The day-2
  // batch is built to die on day 1's ADDITIONS: its exact class
  // copies day 1's admitted novel docs, so a lost v=1 delta row
  // changes day-2's gate counters, not just the after-counts. The
  // oracle instantiates the SHARED advance template twice — day 2
  // over the composed day-1 state ([[ingestDay2StateSql]]) — plus
  // q53's recursive closure over documents ∪ batch ∪ batch2; both
  // days' advance counters, the rebased head's table counts and the
  // dup head's cluster counts all feed one hash.

  private[queries] val dailyCycleRebase = Q(
    "q135_daily_cycle_rebase",
    (s, dir) => {
      import graft.operators.DupState
      val d = Tables.documents(s, dir).select(col("doc_id"), col("text"))
      val b1 = cycleBatch(d)
      val b2 = cycleBatch2(d)
      val base = new java.io.File(dir).getName
      val ingDir = s"$ingestDeltaScratch/cyc2_ing_$base"
      val dupDir = s"$ingestDeltaScratch/cyc2_dup_$base"
      val buckets = Some(graft.GraftSession.profileOf(s).lakeBuckets)
      // both bootstraps overlapped (independent dirs —
      // StateVersions.par2, §2.6); barrier before day 1, so
      // lockstep-at-v=0 holds as before. Dup-ahead-at-bootstrap crash
      // window: benign — see q134 (replay rewrites both v=0
      // idempotently; DailyCycleSpec drives it)
      par2(
        Ingest.saveStates(Ingest.initStates(d, col("doc_id"), col("text")), ingDir, 0L,
          buckets = buckets),
        DupState.save(DupState.init(d, col("doc_id"), col("text")), dupDir, 0L))
      // day 1 → v=1: cadence 2 ⇒ 1 % 2 ≠ 0 ⇒ DELTA on both chains.
      // Per day, the two families' ADVANCE computations overlap; the
      // saves keep the documented order (ingest v=N commits, then dup
      // v=N starts) — see q134
      val (r1, dup1) = par2({
        val (_, i0) = Ingest.loadStates(s, ingDir, upTo = 0L)
        val (rep, _, dd1) = Ingest.advanceOnceDelta(b1, i0, col("doc_id"), col("text"))
        Ingest.saveStatesDelta(dd1, ingDir, 1L)
        rep
      }, {
        val (_, du0) = DupState.load(s, dupDir, upTo = 0L)
        DupState.advance(du0, b1, col("doc_id"), col("text"))
      })
      DupState.saveDelta(dup1, dupDir, 1L)
      // day 2 → v=2: each family loads its base∪delta chain; 2 % 2 = 0
      // ⇒ ingest FULL REBASE (the boundary under gate), dup stays
      // delta ⇒ its head read below is base∪delta∪delta
      val (r2, dup2) = par2({
        val (_, i1) = Ingest.loadStates(s, ingDir, upTo = 1L)
        val (rep, next2, _) = Ingest.advanceOnceDelta(b2, i1, col("doc_id"), col("text"))
        Ingest.saveStates(next2, ingDir, 2L, buckets = buckets)
        rep
      }, {
        val (_, du1) = DupState.load(s, dupDir, upTo = 1L)
        DupState.advance(du1, b2, col("doc_id"), col("text"))
      })
      DupState.saveDelta(dup2, dupDir, 2L)
      // reload BOTH heads from disk — the report is entirely a
      // function of what the persisted chains serve after the rebase
      val (_, i2) = Ingest.loadStates(s, ingDir, upTo = 2L)
      val (_, du2) = DupState.load(s, dupDir, upTo = 2L)
      def sfx(df: DataFrame, x: String) =
        df.columns.foldLeft(df)((acc, c) => acc.withColumnRenamed(c, c + x))
      // both reports are 1-row; the day-2 report's plan is too deep
      // for a size estimate, so hint it broadcast or the planner falls
      // back to a CartesianProduct
      sfx(r1, "_d1").crossJoin(broadcast(sfx(r2, "_d2")))
        .crossJoin(i2.keepers.agg(count(lit(1)).as("n_keepers_after")))
        .crossJoin(i2.sigs.agg(count(lit(1)).as("n_sigs_after")))
        .crossJoin(i2.ng3.agg(count(lit(1)).as("n_ng3_after")))
        .crossJoin(i2.ng8.agg(count(lit(1)).as("n_ng8_after")))
        .crossJoin(i2.cms.agg(expr("CAST(sum(cell) DIV 4 AS BIGINT)").as("n_token_occ")))
        .crossJoin(du2.comp.agg(
          count(lit(1)).as("n_cluster_rows"),
          countDistinct(col("cluster_id")).as("n_clusters"),
          sum(when(col("doc_id") >= 10000, lit(1L)).otherwise(lit(0L)))
            .as("n_batch_dup_docs")))
    },
    Some(s"""WITH RECURSIVE $cycleBatchSql,
            |$ingestChainSql,
            |$cycleBatch2Sql,
            |$ingestDay2StateSql,
            |${ingestAdvanceSql("2", "batch2", "hh_c2", "sigdocs2", "state3_2",
               "state8_2", "occ_s2",
               "((SELECT CAST(COUNT(*) AS BIGINT) FROM documents) + (SELECT n_surv FROM survagg))")},
            |corpus AS (SELECT doc_id, text FROM documents
            |  UNION ALL SELECT doc_id, text FROM batch
            |  UNION ALL SELECT doc_id, text FROM batch2),
            |$minhashPairsSql,
            |${ccReachSql("pairs")},
            |clo AS (SELECT id AS doc_id, MIN(lbl) AS cluster_id FROM reach GROUP BY id),
            |clagg AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_cluster_rows,
            |    CAST(COUNT(DISTINCT cluster_id) AS BIGINT) AS n_clusters,
            |    CAST(SUM(CASE WHEN doc_id >= 10000 THEN 1 ELSE 0 END) AS BIGINT) AS n_batch_dup_docs
            |  FROM clo)
            |SELECT nb.n_batch AS n_batch_d1, ca.n_chunk_surv AS n_chunk_surv_d1,
            |  sa.n_simhash_dup AS n_simhash_dup_d1, sv.n_surv AS n_surv_d1,
            |  na.novel_ppm AS novel_ppm_d1, ra.n_selfrep_spans AS n_selfrep_spans_d1,
            |  ke.est_vocab AS est_vocab_d1,
            |  nb2.n_batch AS n_batch_d2, ca2.n_chunk_surv AS n_chunk_surv_d2,
            |  sa2.n_simhash_dup AS n_simhash_dup_d2, sv2.n_surv AS n_surv_d2,
            |  na2.novel_ppm AS novel_ppm_d2, ra2.n_selfrep_spans AS n_selfrep_spans_d2,
            |  ke2.est_vocab AS est_vocab_d2,
            |  ka2.n_keepers_after, sc2.n_sigs_after, n32.n_ng3_after, n82.n_ng8_after,
            |  oc2.n_token_occ, cl.n_cluster_rows, cl.n_clusters, cl.n_batch_dup_docs
            |FROM nbatch nb, chunkagg ca, shagg sa, survagg sv, novagg na, repagg ra, kest ke,
            |  nbatch2 nb2, chunkagg2 ca2, shagg2 sa2, survagg2 sv2, novagg2 na2,
            |  repagg2 ra2, kest2 ke2, keepagg2 ka2, sigcnt2 sc2, ng3cnt2 n32,
            |  ng8cnt2 n82, occcnt2 oc2, clagg cl""".stripMargin))
}
