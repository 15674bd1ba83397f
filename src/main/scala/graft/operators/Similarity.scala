package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor operators over an embedding column
  * (array<float>), SURVEY.md §2C.
  *
  * Determinism: all dot products fold left in array order with a
  * double accumulator, so results are bit-identical to DuckDB's
  * list_reduce fold — no rounding fudge needed for the oracle.
  */
object Similarity {

  /** Sequential-fold dot product of two array<float> columns, in double. */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, x) => acc + x)

  /** Sequential-fold squared L2 norm. */
  def normSq(a: Column): Column =
    aggregate(transform(a, x => x.cast("double") * x.cast("double")),
      lit(0.0), (acc, x) => acc + x)

  def cosine(a: Column, b: Column, normSqA: Column, normSqB: Column): Column =
    dot(a, b) / sqrt(normSqA * normSqB)

  /** Native CosineSim kernel when GraftExtensions is installed (bit-
    * identical result, whole-stage codegen), else the HOF formulation.
    */
  private def cosineExpr(spark: org.apache.spark.sql.SparkSession, a: Column, b: Column,
      normSqA: Column, normSqB: Column): Column =
    if (spark.sessionState.functionRegistry.functionExists(graft.functions.CosineSim.identifier))
      call_function("graft_cosine", a, b)
    else cosine(a, b, normSqA, normSqB)

  /** Final per-query ranking via the bounded top-k aggregator
    * (functions.TopKAgg): partial aggregation keeps only k (score, id)
    * pairs per query per mapper, so the rank shuffle carries
    * |queries|·k·mappers rows — NOT the full N×Q scored product a
    * window rank would funnel into |queries| sort tasks. Ordering is
    * identical to `row_number() OVER (ORDER BY cos DESC, vec_id ASC)`:
    * score descending, ties toward the smaller id.
    */
  private def topKPerQuery(scored: DataFrame, k: Int): DataFrame =
    scored.groupBy(col("qid"))
      .agg(graft.functions.TopKAgg.topk(k)(col("cos"), col("vec_id")).as("tk"))
      .select(col("qid"), posexplode(col("tk")))
      .select(col("qid"), (col("pos") + 1).cast("int").as("rank"),
        col("col._2").as("vec_id"), col("col._1").as("cos"))

  /** Brute-force cosine top-k: every query (small set, broadcast) against
    * every candidate — the exact baseline. One scan of the candidate
    * table; per-query top-k via the bounded aggregator (no global sort,
    * SURVEY §4).
    */
  def cosineTopK(queries: DataFrame, candidates: DataFrame, k: Int): DataFrame = {
    val q = broadcast(queries.select(col("vec_id").as("qid"), col("embedding").as("qe"))
      .withColumn("qn2", normSq(col("qe"))))
    val c = candidates.select(col("vec_id"), col("embedding").as("ce"))
      .withColumn("cn2", normSq(col("ce")))
    val scored = c.crossJoin(q)
      .filter(col("vec_id") =!= col("qid"))
      .withColumn("cos", cosineExpr(candidates.sparkSession, col("qe"), col("ce"), col("qn2"), col("cn2")))
    topKPerQuery(scored, k)
  }

  /** Matryoshka-style two-stage ANN (MRL, Kusupati et al. 2022 —
    * public): shortlist by cosine over only the FIRST `dPrefix`
    * dimensions (matryoshka-trained embeddings front-load semantic
    * mass, so the prefix is a usable coarse score), then exact
    * full-dimension re-rank of the shortlist. The scan-cost story at
    * 100 TB: the prefix can live as its own (dPrefix/d)-sized column
    * in the lake, so stage 1 reads a fraction of the embedding bytes
    * and stage 2 touches full vectors for shortlist rows only —
    * ColumnPruning gives the same effect here (the stage-1 scan
    * projects `slice(embedding, 1, dPrefix)` immediately).
    *
    * Deterministic and oracle-replayable: both stages are the same
    * sequential-fold cosine as the brute path, on sliced vs full
    * arrays; ranking ties break toward the smaller id in both stages.
    */
  def cosineTopKMrl(queries: DataFrame, candidates: DataFrame, k: Int,
      dPrefix: Int, shortlist: Int): DataFrame = {
    val sp = candidates.sparkSession
    val qp = broadcast(queries.select(col("vec_id").as("qid"),
        slice(col("embedding"), 1, dPrefix).as("qe"))
      .withColumn("qn2", normSq(col("qe"))))
    val cp = candidates.select(col("vec_id"), slice(col("embedding"), 1, dPrefix).as("ce"))
      .withColumn("cn2", normSq(col("ce")))
    val pre = cp.crossJoin(qp)
      .filter(col("vec_id") =!= col("qid"))
      .withColumn("cos", cosineExpr(sp, col("qe"), col("ce"), col("qn2"), col("cn2")))
    val short = topKPerQuery(pre, shortlist).select(col("qid"), col("vec_id"))
    val qf = broadcast(queries.select(col("vec_id").as("qid"), col("embedding").as("qe"))
      .withColumn("qn2", normSq(col("qe"))))
    val cf = candidates.select(col("vec_id"), col("embedding").as("ce"))
      .withColumn("cn2", normSq(col("ce")))
    val rer = short.join(cf, Seq("vec_id")).join(qf, Seq("qid"))
      .withColumn("cos", cosineExpr(sp, col("qe"), col("ce"), col("qn2"), col("cn2")))
    topKPerQuery(rer, k)
  }

  /** Random-hyperplane signature: bit j = sign of dot(embedding, h_j),
    * where h_j components are deterministic pseudo-random in [-0.5,0.5)
    * from an LCG mix of (j, dim-index) — plain 64-bit integer
    * arithmetic, so the identical planes are reproducible on any
    * cluster AND in the DuckDB oracle (no rows-only check). The dot
    * folds left in array order like every other float reduction here.
    */
  def rhSignature(emb: Column, nBits: Int): Column =
    aggregate(
      sequence(lit(0), lit(nBits - 1)),
      lit(0L),
      (acc, j) => acc + when(
        aggregate(zip_with(emb, sequence(lit(0), size(emb) - 1),
          (x, d) => x.cast("double") *
            ((((j * 64 + d) * 1103515245L + 12345L) % 2147483647L % 1000L).cast("double") / 1000.0 - 0.5)),
          lit(0.0), (s, x) => s + x) > 0,
        call_function("shiftleft", lit(1L), j.cast("int"))).otherwise(0L))

  /** Native RhSig kernel when GraftExtensions is installed (bit-
    * identical, whole-stage codegen), else the HOF formulation above.
    */
  def rhSignatureExpr(spark: org.apache.spark.sql.SparkSession, emb: Column, nBits: Int): Column =
    if (spark.sessionState.functionRegistry.functionExists(graft.functions.RhSig.identifier))
      call_function("graft_rhsig", emb, lit(nBits))
    else rhSignature(emb, nBits)

  /** Embedding-cosine near-duplicate pairs (brief §2C): candidates
    * share an nBits random-hyperplane bucket (portable signature — see
    * rhSignature), then exact cosine >= minCos within buckets. Returns
    * (id_a, id_b, cos). The bucket join bounds the pair count by
    * Σ bucket² — never all-pairs; at 100 TB the signature is computed
    * at ingest and the lake bucketed by it, making this a co-located
    * join. Skewed buckets (mass near one hyperplane cell) → salt the
    * sig key, same recipe as the LSH band join (Skew.saltedJoin).
    */
  def cosineNearDupPairs(df: DataFrame, id: Column, emb: Column,
      minCos: Double, nBits: Int = 8): DataFrame = {
    val v = df.select(id.as("vid"), emb.as("ve"))
      .withColumn("n2", normSq(col("ve")))
      .withColumn("sig", rhSignatureExpr(df.sparkSession, col("ve"), nBits))
    val a = v.select(col("vid").as("id_a"), col("ve").as("ea"), col("n2").as("na"), col("sig"))
    val b = v.select(col("vid").as("id_b"), col("ve").as("eb"), col("n2").as("nb"), col("sig"))
    a.join(b, Seq("sig"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("cos", cosineExpr(df.sparkSession, col("ea"), col("eb"), col("na"), col("nb")))
      .filter(col("cos") >= minCos)
      .select(col("id_a"), col("id_b"), col("cos"))
  }

  /** SemDeDup-style semantic deduplication (Abbas et al. 2023, made
    * deterministic): train the same coarse quantizer as IVF, assign
    * every embedding to its nearest cell, compare pairs ONLY within a
    * cell (cells are data-ADAPTIVE buckets — they chase the density,
    * where fixed random-hyperplane buckets split it blindly), and drop
    * the higher id of every pair with cosine >= minCos. Returns the
    * kept set (vec_id, cent_id).
    *
    * Scale shape: pair count is Σ cell², bounded by the centroid count
    * knob; at 100 TB the assignment is an ingest-time projection (cell
    * id = storage partition key, same layout writeIvfIndex produces)
    * and this becomes a partition-local self-join — no corpus-wide
    * shuffle. A hot cell (embedding-space boilerplate) salts like any
    * other bucket join. The assigned table is persisted: it is consumed
    * by both pair sides and the final anti-join, and re-deriving it
    * would re-run quantizer training per consumer.
    */
  def semDedup(df: DataFrame, minCos: Double, centroidEvery: Int = 32,
      kmeansIters: Int = 2): DataFrame = {
    val spark = df.sparkSession
    val v = df.select(col("vec_id"), col("embedding").as("ce"))
    val cents = broadcast(kmeansCentroids(df, centroidEvery, kmeansIters))
    val assigned = v.join(nearestCell(v, cents), Seq("vec_id"))
      .withColumn("cn2", normSq(col("ce")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val a = assigned.select(col("cent_id"), col("vec_id").as("id_a"), col("ce").as("ea"), col("cn2").as("na"))
    val b = assigned.select(col("cent_id"), col("vec_id").as("id_b"), col("ce").as("eb"), col("cn2").as("nb"))
    val drops = a.join(b, Seq("cent_id"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("cos", cosineExpr(spark, col("ea"), col("eb"), col("na"), col("nb")))
      .filter(col("cos") >= minCos)
      .select(col("id_b").as("vec_id")).distinct()
    assigned.join(drops, Seq("vec_id"), "left_anti")
      .select(col("vec_id"), col("cent_id"))
  }

  /** Deterministic k-means-style coarse quantizer for IVF: init
    * centroids are the vectors whose id ≡ 0 (mod centroidEvery)
    * (reproducible, no RNG), then `iters` Lloyd steps. Each step
    * assigns every vector to its nearest centroid (the min_by argmin —
    * same plan shape as the IVF assign) and recomputes each cell's
    * centroid as the per-dimension mean.
    *
    * The mean is computed from integer-quantized components:
    * SUM(round(x·1000) AS BIGINT) / (1000·count), cast to float. The
    * integer sum is exact and ORDER-INDEPENDENT (a raw float/double sum
    * is neither), and round-to-integer is identical in Spark and
    * DuckDB (any .5 tie is exactly representable; both round half away
    * from zero) — so the oracle replays the full training loop
    * bit-for-bit and knn_ivf stays hash-checked with TRAINED
    * centroids. Cells that lose all members in an iteration disappear
    * (standard Lloyd empty-cell drop) — both engines agree because
    * assignments agree.
    */
  def kmeansCentroids(candidates: DataFrame, centroidEvery: Int, iters: Int): DataFrame = {
    val v = candidates.select(col("vec_id"), col("embedding").as("ce"))
    var cents = candidates
      .filter(pmod(col("vec_id"), lit(centroidEvery)) === 0)
      .select(col("vec_id").as("cent_id"), col("embedding").as("cent"))
    for (_ <- 0 until iters) {
      val asg = v.join(nearestCell(v, broadcast(cents)), Seq("vec_id"))
      cents = asg.select(col("cent_id"), posexplode(col("ce")))
        .groupBy(col("cent_id"), col("pos"))
        .agg(sum(round(col("col").cast("double") * 1000.0).cast("long")).as("sx"),
          count(lit(1)).as("n"))
        .withColumn("mx", (col("sx").cast("double") / (col("n") * 1000.0)).cast("float"))
        .groupBy(col("cent_id"))
        .agg(transform(array_sort(collect_list(struct(col("pos"), col("mx")))),
          s => s.getField("mx")).as("cent"))
    }
    cents
  }

  /** IVF-style ANN (scale path #2): a deterministic coarse quantizer
    * (kmeansIters Lloyd steps from id-mod init — see kmeansCentroids)
    * maps every vector to its nearest centroid cell (broadcast argmin);
    * queries probe their nProbe nearest cells and re-rank exactly
    * within them. At 100 TB the cell id becomes a storage partition
    * key, turning query-time into a pruned scan of nProbe cells.
    */
  def cosineTopKIvf(queries: DataFrame, candidates: DataFrame, k: Int,
      centroidEvery: Int = 32, nProbe: Int = 4, kmeansIters: Int = 2): DataFrame = {
    // persist: the trained table is tiny (|candidates|/centroidEvery
    // rows) but consumed by BOTH the assign and the probe sides —
    // without it each consumer re-runs the whole Lloyd chain
    val cents = broadcast(kmeansCentroids(candidates, centroidEvery, kmeansIters)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    ivfProbeRerank(queries, candidates, cents, k, nProbe)
  }

  /** √N cell sizing for the k-means quantizer family (IVF / SemDeDup /
    * outlier scrub): centroidEvery = the largest power of two ≤ √n,
    * floored at `floorEvery`. cells = n/centroidEvery ≈ √n, so
    * quantizer training and assignment are O(n·cells) = O(n^1.5)
    * instead of the pinned-spacing O(n²/32) — the pinned-32 contract
    * is right for the oracle-replayed gate queries (cells scale with
    * the corpus, DuckDB replays the identical loop) but quadratic as a
    * deployment default. √N also balances the two query-time costs:
    * probing more cells vs scanning bigger cells — per-cell member
    * count ≈ centroidEvery ≈ √n matches the probe-side budget.
    * FLOOR to a power of two: rounding the SPACING down gives MORE
    * cells (bounded extra assignment compute); rounding up doubles
    * every cell's scan size. The floor keeps tiny corpora from
    * degenerating into 1-2 member cells.
    */
  def ivfCentroidEvery(n: Long,
      floorEvery: Int = graft.GraftSession.Local32.ivfCellFloor): Int = {
    val s = math.floor(math.sqrt(math.max(1.0, n.toDouble))).toLong
    math.max(floorEvery, java.lang.Long.highestOneBit(math.max(1L, s)).toInt)
  }

  /** cosineTopKIvf with AUTO-calibrated cell spacing: one cheap count
    * of the candidate corpus derives centroidEvery via
    * [[ivfCentroidEvery]] — correctly sized from 2k test vectors to a
    * 100 TB lake without re-tuning literals (the [[lshMultiKnobs]]
    * pattern; at ingest-time deployments the count is a table
    * statistic — free).
    */
  def cosineTopKIvfAuto(queries: DataFrame, candidates: DataFrame, k: Int,
      nProbe: Int = 4, kmeansIters: Int = 2): DataFrame =
    cosineTopKIvf(queries, candidates, k,
      ivfCentroidEvery(candidates.count(),
        graft.GraftSession.profileOf(candidates.sparkSession).ivfCellFloor),
      nProbe, kmeansIters)

  /** Embedding-space outlier detection — the curation pass that flags
    * garbled/noise vectors (OCR junk, truncated decodes, wrong-modality
    * rows) as the vectors that fit their OWN semantic neighborhood
    * worst: train the deterministic k-means quantizer
    * ([[kmeansCentroids]] — same id-mod init + quantized-mean Lloyd
    * steps the IVF/SemDeDup family uses), assign every vector to its
    * nearest cell WITH the cosine, and flag vectors strictly below
    * their cell's `pct` quantile of cosine-to-centroid (exact
    * interpolated percentile — the q40/q66-proven portable one). The
    * per-CELL threshold is the point: a tight cluster's p10 sits near
    * 1.0 while a diffuse cell's sits low, so "outlier" adapts to local
    * density instead of one global cut. Returns
    * (vec_id, cent_id, cd_ppm) — the cosine snapped to integer ppm.
    *
    * Scale shape: one broadcast-argmin assign pass (the IVF assign
    * shape), one partial-agg percentile over the (cell, cosine) pairs
    * (cells are the knob-bounded key space), thresholds broadcast back.
    * Nothing pairwise anywhere — cost is O(N·cells), same as the IVF
    * assign the lake already runs at ingest.
    */
  def embeddingOutliers(df: DataFrame, centroidEvery: Int = 32,
      kmeansIters: Int = 2, pct: Double = 0.1): DataFrame = {
    val spark = df.sparkSession
    val v = df.select(col("vec_id"), col("embedding").as("ce"))
    val cents = broadcast(kmeansCentroids(df, centroidEvery, kmeansIters))
    val assigned = v.crossJoin(cents)
      .withColumn("cd", cosineExpr(spark, col("ce"), col("cent"),
        normSq(col("ce")), normSq(col("cent"))))
      .groupBy(col("vec_id"))
      .agg(min_by(struct(col("cent_id"), col("cd")),
        struct((-col("cd")).as("nc"), col("cent_id"))).as("b"))
      .select(col("vec_id"), col("b.cent_id").as("cent_id"), col("b.cd").as("cd"))
    val thr = assigned.groupBy(col("cent_id"))
      .agg(expr(s"percentile(cd, $pct)").as("thr"))
    assigned.join(broadcast(thr), Seq("cent_id"))
      .filter(col("cd") < col("thr"))
      .select(col("vec_id"), col("cent_id"),
        round(col("cd") * 1000000).cast("long").as("cd_ppm"))
  }

  /** Nearest-centroid cell per (vec_id, ce) row → (vec_id, cent_id):
    * the narrow argmax shared by Lloyd iterations and the IVF assign.
    * Ordering (-cd, cent_id) ≡ `row_number() OVER (ORDER BY cd DESC,
    * cent_id ASC) = 1` in the oracle.
    */
  private def nearestCell(vectors: DataFrame, cents: DataFrame): DataFrame =
    vectors.crossJoin(cents)
      .withColumn("cd", cosineExpr(vectors.sparkSession, col("ce"), col("cent"),
        normSq(col("ce")), normSq(col("cent"))))
      .select(col("vec_id"), col("cent_id"), col("cd"))
      .groupBy(col("vec_id"))
      .agg(min_by(col("cent_id"), struct((-col("cd")).as("nc"), col("cent_id"))).as("cent_id"))

  /** Shared IVF dataflow: assign candidates to their nearest centroid
    * cell, probe each query's nProbe nearest cells, re-rank exactly.
    */
  private[operators] def ivfProbeRerank(queries: DataFrame, candidates: DataFrame,
      cents: DataFrame, k: Int, nProbe: Int): DataFrame = {
    val spark = candidates.sparkSession
    def scoreCents(df: DataFrame, embCol: String): DataFrame =
      df.crossJoin(cents)
        .withColumn("cd", cosineExpr(spark, col(embCol), col("cent"),
          normSq(col(embCol)), normSq(col("cent"))))
    // Candidate → cell assignment is an argmax: min_by over the total
    // order (-cd, cent_id) collapses the |candidates|×|centroids|
    // product map-side (PARTIAL aggregation — the exchange carries one
    // row per vector), where a window-rank would shuffle and sort the
    // whole product into |vectors| rank groups (the Geo.nearestJoin
    // pattern). nearestCell projects the embedding OUT before the
    // aggregation and it is joined back by vec_id afterwards: the
    // struct-ordered min_by plans as SortAggregate, and sorting the
    // product with a 64-float array in flight means an interpreted
    // per-element comparator on every row — measured 149 s vs ~2 s at
    // 20k×630 on the sf1 probe. Narrow (vec_id, cent_id, cd) rows
    // sort on a long prefix; the join-back is |vectors| rows on a
    // long key.
    val v = candidates.select(col("vec_id"), col("embedding").as("ce"))
    val assigned = v.join(nearestCell(v, cents), Seq("vec_id"))
      .withColumn("cn2", normSq(col("ce")))
    // query probes keep nProbe cells each: the query set is small (it
    // is broadcast below), so a per-query window over |q|×|centroids|
    // rows is negligible
    val pw = Window.partitionBy(col("qid")).orderBy(col("cd").desc, col("cent_id").asc)
    val probes = scoreCents(queries.select(col("vec_id").as("qid"), col("embedding").as("qe")), "qe")
      .withColumn("__rn", row_number().over(pw)).filter(col("__rn") <= nProbe)
      .drop("cd", "cent", "__rn")
      .withColumn("qn2", normSq(col("qe")))
    val scored = assigned.join(broadcast(probes), Seq("cent_id"))
      .filter(col("vec_id") =!= col("qid"))
      .withColumn("cos", cosineExpr(spark, col("qe"), col("ce"), col("qn2"), col("cn2")))
    topKPerQuery(scored, k)
  }

  /** Materialize an IVF index as a cent_id-PARTITIONED parquet layout:
    * train the quantizer, assign every vector to its cell, and write
    * (vec_id, ce, cn2) under `path` partitioned by cent_id, plus the
    * centroids under `path`/_centroids. This is the 100 TB layout the
    * cosineTopKIvf scaladoc promises: cell id = storage partition key,
    * so a probe query reads nProbe directories instead of the corpus.
    */
  def writeIvfIndex(candidates: DataFrame, path: String,
      centroidEvery: Int = 32, kmeansIters: Int = 2): Unit = {
    val cents = kmeansCentroids(candidates, centroidEvery, kmeansIters)
    cents.write.mode("overwrite").parquet(s"$path/_centroids")
    val v = candidates.select(col("vec_id"), col("embedding").as("ce"))
    val written = v.join(nearestCell(v, broadcast(candidates.sparkSession.read.parquet(s"$path/_centroids")
        .select(col("cent_id"), col("cent")))), Seq("vec_id"))
      .withColumn("cn2", normSq(col("ce")))
    // repartition on the partition column first: each cell directory is
    // then written by exactly one task — one file per cell instead of
    // (shuffle partitions × cells) fragments, which is both the local
    // win and the small-files discipline a 100 TB index needs
    written.repartition(col("cent_id"))
      .write.mode("overwrite").partitionBy("cent_id").parquet(s"$path/cells")
  }

  /** INCREMENTAL IVF insert — the batch×state advance for the ANN
    * index (the q118/q122 pattern for vectors): assign a new batch to
    * the index's EXISTING trained centroids (broadcast argmin — no
    * retraining, the standard IVF insert) and append the assigned
    * rows to their cell directories. The probe path then sees old +
    * new vectors EXACTLY as if the whole corpus had been assigned to
    * these centroids from scratch (q125's oracle proves it) — the
    * index never re-reads or rewrites existing cells, so a daily
    * embedding drop costs O(batch · cells) assignment + an append.
    * Centroid drift under sustained inserts is handled by the rebuild
    * path ([[writeIvfIndex]] retrain), the standard IVF maintenance
    * trade.
    *
    * Crash model: the append is not atomic. Under the pinned
    * FileOutputCommitter v2 (GraftSession.confs) each task renames its
    * cell files straight into `path`/cells, so an append that fails
    * part-way can leave some of its cell files visible. IVF reads are
    * not gated by a `_COMMITTED` marker (unlike state versions), so a
    * probe then sees a partial batch. Retrying the append could add
    * the already-visible rows a second time: after a failed append the
    * caller must rebuild the index with [[writeIvfIndex]] before it
    * retries.
    */
  def appendIvfIndex(newVecs: DataFrame, path: String): Unit = {
    val spark = newVecs.sparkSession
    val cents = broadcast(spark.read.parquet(s"$path/_centroids")
      .select(col("cent_id"), col("cent")))
    val v = newVecs.select(col("vec_id"), col("embedding").as("ce"))
    v.join(nearestCell(v, cents), Seq("vec_id"))
      .withColumn("cn2", normSq(col("ce")))
      .repartition(col("cent_id"))
      .write.mode("append").partitionBy("cent_id").parquet(s"$path/cells")
  }

  /** Probe a written IVF index: score queries against the (small)
    * stored centroids, keep nProbe cells per query, and join the
    * broadcast probes against the cell-partitioned index on cent_id —
    * Catalyst's dynamic partition pruning turns the index scan into a
    * read of only the probed cell directories (OperatorsSpec's
    * "cell-partitioned IVF index probe prunes partitions" asserts the
    * scan shows `dynamicpruning` in PartitionFilters). Results are
    * identical to cosineTopKIvf with the same quantizer.
    */
  def probeIvfIndex(spark: org.apache.spark.sql.SparkSession, path: String,
      queries: DataFrame, k: Int, nProbe: Int = 4): DataFrame = {
    val cents = broadcast(spark.read.parquet(s"$path/_centroids")
      .select(col("cent_id"), col("cent")))
    val pw = Window.partitionBy(col("qid")).orderBy(col("cd").desc, col("cent_id").asc)
    val probes = queries.select(col("vec_id").as("qid"), col("embedding").as("qe"))
      .crossJoin(cents)
      .withColumn("cd", cosineExpr(spark, col("qe"), col("cent"),
        normSq(col("qe")), normSq(col("cent"))))
      .withColumn("__rn", row_number().over(pw)).filter(col("__rn") <= nProbe)
      .drop("cd", "cent", "__rn")
      .withColumn("qn2", normSq(col("qe")))
    val index = spark.read.parquet(s"$path/cells")
    val scored = index.join(broadcast(probes), Seq("cent_id"))
      .filter(col("vec_id") =!= col("qid"))
      .withColumn("cos", cosineExpr(spark, col("qe"), col("ce"), col("qn2"), col("cn2")))
    topKPerQuery(scored, k)
  }

  // --- Product quantization (PQ) ------------------------------------------

  /** Sequential-fold squared L2 distance of two array<float> columns. */
  private def sqDist(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) =>
      (x.cast("double") - y.cast("double")) * (x.cast("double") - y.cast("double"))),
      lit(0.0), (acc, x) => acc + x)

  /** (id, s, sv) subvector rows: the embedding split into m contiguous
    * width-(dim/m) slices — the relational layout PQ training and ADC
    * scoring both consume (s is the subspace index).
    */
  private def subVectors(df: DataFrame, id: Column, emb: Column, m: Int, width: Int): DataFrame =
    df.select(id.as("vec_id"), posexplode(transform(sequence(lit(0), lit(m - 1)),
        s => slice(emb, s * width + 1, lit(width)))))
      .select(col("vec_id"), col("pos").cast("int").as("s"), col("col").as("sv"))

  /** Nearest codeword per (vec_id, s): the same narrow argmin as the
    * IVF nearestCell — arrays are projected OUT before the aggregation
    * (d2 is a scalar), the exchange carries one row per (vector,
    * subspace), ties go to the smaller code in both engines.
    */
  private def pqAssign(sub: DataFrame, cb: DataFrame): DataFrame =
    sub.join(cb, Seq("s"))
      .withColumn("d2", sqDist(col("sv"), col("cent")))
      .select(col("vec_id"), col("s"), col("code"), col("d2"))
      .groupBy(col("vec_id"), col("s"))
      .agg(min_by(col("code"), struct(col("d2"), col("code"))).as("code"))

  /** Deterministic PQ codebooks: per subspace s, kCodes codewords
    * trained by the same quantized-mean Lloyd loop as kmeansCentroids
    * (init = the sub-vectors of vec_id 0..kCodes-1, exact integer
    * per-dimension sums, ties to the smaller code) — so the DuckDB
    * oracle replays the training bit-for-bit. Returns (s, code, cent).
    */
  def pqCodebooks(candidates: DataFrame, m: Int = 8, kCodes: Int = 16,
      iters: Int = 1, dim: Int = 64): DataFrame = {
    val width = dim / m
    val sub = subVectors(candidates, col("vec_id"), col("embedding"), m, width)
    var cb = sub.filter(col("vec_id") < kCodes)
      .select(col("s"), col("vec_id").cast("int").as("code"), col("sv").as("cent"))
    for (_ <- 0 until iters) {
      val asg = pqAssign(sub, broadcast(cb))
      cb = asg.join(sub, Seq("vec_id", "s"))
        .select(col("s"), col("code"), posexplode(col("sv")))
        .groupBy(col("s"), col("code"), col("pos"))
        .agg(sum(round(col("col").cast("double") * 1000.0).cast("long")).as("sx"),
          count(lit(1)).as("n"))
        .withColumn("mx", (col("sx").cast("double") / (col("n") * 1000.0)).cast("float"))
        .groupBy(col("s"), col("code"))
        .agg(transform(array_sort(collect_list(struct(col("pos"), col("mx")))),
          t => t.getField("mx")).as("cent"))
    }
    cb
  }

  /** PQ-compressed ANN with asymmetric-distance (ADC) scoring — the
    * 100 TB memory-side of the ANN story (IVF prunes IO; PQ shrinks
    * what's left: m byte-ish codes per vector instead of dim floats, a
    * 32× compression at m=8/dim=64 that lets a scan hold the whole
    * corpus's codes in memory).
    *
    * Dataflow: train codebooks → encode every candidate as (vec_id, s,
    * code) rows (at rest this is an m-byte array per vector; the
    * relational form is what the broadcast-LUT join + map-side partial
    * aggregation want) → per query, a LUT of subspace dot products
    * against every codeword (|Q|·m·kCodes rows, broadcast) → ADC score
    * = Σ_s lut[s, code[s]] via an exact FIXED-POINT sum
    * (round(dot·10^6) as long — order-independent across any
    * partitioning, same trick as the quantized k-means means) → top
    * `rerank` candidates per query through the bounded TopKAgg (no
    * window sort) → exact cosine re-rank of those few → top k.
    * Everything is integer or deterministic double arithmetic, so the
    * DuckDB oracle replays training, encoding, ADC, and re-rank
    * exactly.
    */
  def cosineTopKPq(queries: DataFrame, candidates: DataFrame, k: Int,
      m: Int = 8, kCodes: Int = 16, iters: Int = 1, rerank: Int = 16,
      dim: Int = 64): DataFrame = {
    val spark = candidates.sparkSession
    val width = dim / m
    // tiny (m·kCodes rows) but consumed by both the encode pass and the
    // query LUT — persist so the training loop runs once, not twice
    val cb = pqCodebooks(candidates, m, kCodes, iters, dim)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // NOT persisted: measured 2.9 s vs 2.7 s warm at sf0.1 — the
    // narrow scan+posexplode recompute is cheaper than caching the
    // exploded slices (same result as the ngram staging tables)
    val sub = subVectors(candidates, col("vec_id"), col("embedding"), m, width)
    val enc = pqAssign(sub, broadcast(cb))
    val qsub = subVectors(queries, col("vec_id"), col("embedding"), m, width)
      .withColumnRenamed("vec_id", "qid")
    val lut = qsub.join(cb, Seq("s"))
      .select(col("qid"), col("s"), col("code"),
        round(dot(col("sv"), col("cent")) * 1e6).cast("long").as("dpq"),
        round(normSq(col("cent")) * 1e6).cast("long").as("cq"))
    val scored = enc.join(broadcast(lut), Seq("s", "code"))
      .groupBy(col("qid"), col("vec_id"))
      .agg(sum(col("dpq")).as("sdp"), sum(col("cq")).as("scn"))
      .filter(col("vec_id") =!= col("qid"))
      .withColumn("adc",
        col("sdp").cast("double") / sqrt(greatest(col("scn"), lit(1L)).cast("double")))
    val cand = scored.groupBy(col("qid"))
      .agg(graft.functions.TopKAgg.topk(rerank)(col("adc"), col("vec_id")).as("tk"))
      .select(col("qid"), explode(col("tk")).as("t"))
      .select(col("qid"), col("t._2").as("vec_id"))
    val q = broadcast(queries.select(col("vec_id").as("qid"), col("embedding").as("qe"))
      .withColumn("qn2", normSq(col("qe"))))
    val c = candidates.select(col("vec_id"), col("embedding").as("ce"))
      .withColumn("cn2", normSq(col("ce")))
    val rescored = c.join(broadcast(cand), Seq("vec_id")).join(q, Seq("qid"))
      .withColumn("cos", cosineExpr(spark, col("qe"), col("ce"), col("qn2"), col("cn2")))
    topKPerQuery(rescored, k)
  }

  /** LSH-bucketed ANN (scale path): candidates share a 16-bit
    * random-hyperplane signature bucket; exact cosine re-rank within
    * buckets. Recall < 1 by design; bucket size bounds the join.
    */
  def cosineTopKLsh(queries: DataFrame, candidates: DataFrame, k: Int, nBits: Int = 16): DataFrame = {
    val q = broadcast(queries.select(col("vec_id").as("qid"), col("embedding").as("qe"))
      .withColumn("qn2", normSq(col("qe")))
      .withColumn("sig", rhSignatureExpr(queries.sparkSession, col("qe"), nBits)))
    val c = candidates.select(col("vec_id"), col("embedding").as("ce"))
      .withColumn("cn2", normSq(col("ce")))
      .withColumn("sig", rhSignatureExpr(candidates.sparkSession, col("ce"), nBits))
    val scored = c.join(q, Seq("sig"))
      .filter(col("vec_id") =!= col("qid"))
      .withColumn("cos", cosineExpr(candidates.sparkSession, col("qe"), col("ce"), col("qn2"), col("cn2")))
    topKPerQuery(scored, k)
  }

  /** Multi-table (OR-amplified) LSH ANN: L independent nBits-bit
    * hash tables, candidate = collides with the query in ANY table —
    * the rh-LSH analog of MinHash banding. A single-table signature's
    * pair-hit probability is p^nBits (p = per-bit agreement, 1 − θ/π),
    * which collapses at moderate neighbor cosine — a recall probe
    * (since deleted) measured 0.03 recall@10 for 1×8 bits on the real
    * embeddings; OR over L tables lifts it to 1 − (1 − p^nBits)^L at
    * L× the candidate cost.
    *
    * The L tables are SLICES of one wide (nBits·L ≤ 62) signature from
    * the native kernel: table t's key is bits [t·nBits, (t+1)·nBits) —
    * one signature computation per row, and the DuckDB oracle replays
    * the slicing with shift/mask arithmetic. Candidate pairs are
    * DEDUPED (groupBy over the narrow (qid, vec_id) pair before any
    * cosine) so a pair colliding in several tables is scored once.
    * Scale shape: candidate count ≤ L·Σ bucket², embeddings cross the
    * wire only on deduped pair rows; at 100 TB the full signature is
    * an ingest-time column and each table join is bucket-co-located.
    */
  /** The measured sizing rule (recall probe since deleted), encoded:
    * per-table width nBits = ⌊log₂(n / targetBucket)⌋ keeps the
    * expected bucket near targetBucket vectors regardless of corpus
    * size (too narrow → buckets crowd and the candidate set goes
    * quadratic; too wide → per-table hit probability p^nBits collapses
    * and recall dies), and the table count L — the recall knob — takes
    * the rest of the 62-bit signature budget, capped at 12 (more tables
    * past that buy candidate cost, not recall). targetBucket = 125 is
    * the MEASURED default: on the real embeddings it yields 4×12 at 2k
    * vectors (recall@10 0.781) and 7×8 at 20k (0.806) — both above the
    * 0.7 bar, where the former ceil/bucket-16 rule picked 7×8 at 2k
    * (0.276). FLOOR, not ceil: rounding bits down doubles the bucket
    * (bounded extra verify cost); rounding up halves the per-table hit
    * probability ~p-fold (unbounded recall loss).
    */
  def lshMultiKnobs(n: Long, targetBucket: Int = 125): (Int, Int) = {
    val nBits = math.min(16, math.max(2,
      math.floor(math.log(math.max(2.0, n.toDouble / targetBucket)) / math.log(2.0)).toInt))
    val nTables = math.min(12, math.max(3, 62 / nBits))
    (nBits, nTables)
  }

  /** cosineTopKLshMulti with AUTO-calibrated knobs: one cheap count of
    * the candidate corpus derives (nBits, nTables) via lshMultiKnobs,
    * so the operator stays correctly sized from 2k test vectors to a
    * 100 TB lake without anyone re-tuning literals. At ingest-time
    * deployments the count is a table statistic — free.
    */
  def cosineTopKLshMultiAuto(queries: DataFrame, candidates: DataFrame, k: Int,
      targetBucket: Int = 125): DataFrame = {
    val (nBits, nTables) = lshMultiKnobs(candidates.count(), targetBucket)
    cosineTopKLshMulti(queries, candidates, k, nBits, nTables)
  }

  def cosineTopKLshMulti(queries: DataFrame, candidates: DataFrame, k: Int,
      nBits: Int = 6, nTables: Int = 8): DataFrame = {
    require(nBits * nTables <= 62, s"signature width ${nBits * nTables} exceeds 62 bits")
    val spark = candidates.sparkSession
    val mask = (1L << nBits) - 1
    def withTables(df: DataFrame): DataFrame = df
      .withColumn("fullsig", rhSignatureExpr(spark, col("e"), nBits * nTables))
      .select(df.columns.toIndexedSeq.map(col) :+
        posexplode(expr(s"transform(sequence(0, ${nTables - 1}), " +
          s"t -> shiftright(fullsig, CAST(t * $nBits AS INT)) & ${mask}L)")): _*)
      .withColumnRenamed("pos", "t").withColumnRenamed("col", "bsig")
    val q = withTables(queries.select(col("vec_id").as("qid"), col("embedding").as("e")))
    val c = withTables(candidates.select(col("vec_id"), col("embedding").as("e")))
    // bucket-join on (table, sub-signature) with BARE ids only, dedup
    // the pair across tables, THEN join the candidate embedding back
    // once per deduped pair — a pair colliding in several tables must
    // not drag the 64-dim embedding through the shuffle once per
    // collision. One cosine per pair; the query embedding rides the
    // broadcast, never the pair aggregation.
    val pairs = c.select(col("vec_id"), col("t"), col("bsig"))
      .join(broadcast(q.select(col("qid"), col("t"), col("bsig"))), Seq("t", "bsig"))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id")).distinct()
    val scored = pairs
      .join(candidates.select(col("vec_id"), col("embedding").as("ce")), Seq("vec_id"))
      .join(broadcast(queries.select(col("vec_id").as("qid"), col("embedding").as("qe"))
        .withColumn("qn2", normSq(col("qe")))), Seq("qid"))
      .withColumn("cn2", normSq(col("ce")))
      .withColumn("cos", cosineExpr(spark, col("qe"), col("ce"), col("qn2"), col("cn2")))
    topKPerQuery(scored, k)
  }

  /** Global symmetric scalar-quantization scale: max |x| over every
    * element of the corpus, as ONE broadcast row. A single scalar (not
    * per-dimension affine) is what keeps the quantized DOT PRODUCT a
    * plain integer sum — per-dim shifts/scales would put per-dim
    * cross terms back into the score. Distributed max (map-side
    * partial), computed once at ingest at 100 TB.
    */
  def sqScale(candidates: DataFrame, emb: Column): DataFrame =
    candidates.select(explode(emb).as("x"))
      .agg(max(abs(col("x").cast("double"))).as("scale"))

  /** Symmetric SQ8 code array, given a `scale` column in scope:
    * code[d] = floor(x_d·127/scale + 0.5) ∈ [−127, 127]. floor(v+0.5)
    * (not round()) — plain double arithmetic with a fixed operation
    * order, identical in DuckDB, immune to the engines' round()
    * half-tie divergence (PLANS.md).
    */
  def sq8Codes(emb: Column): Column =
    transform(emb, x =>
      floor(x.cast("double") * 127.0 / col("scale") + 0.5))

  /** Scalar-quantized (SQ8) ANN — the 4× memory-compression companion
    * to PQ (cosineTopKPq): every vector is an array of 64 int8-range
    * codes instead of 64 floats, and the candidate scan ranks by the
    * QUANTIZED cosine sxy/√(sxx·syy) whose three sums are exact
    * integers (|code| ≤ 127 ⇒ Σ ≤ 64·127² ≪ 2⁶³ — order-independent,
    * overflow-free; one sqrt+division per pair is engine-portable).
    * The top `shortlist` per query survive through the bounded TopKAgg
    * (no window sort) and only those rows are re-ranked with exact
    * float cosine. At 100 TB the codes are precomputed at ingest next
    * to the parquet lake and the float embeddings are read only for
    * shortlist rows — scan IO drops 4×, the rank shuffle carries
    * ≤ shortlist rows per query per mapper.
    */
  def cosineTopKSq8(queries: DataFrame, candidates: DataFrame, k: Int,
      shortlist: Int = 16): DataFrame = {
    val spark = candidates.sparkSession
    val stats = broadcast(sqScale(candidates, col("embedding")))
    def codeCols(df: DataFrame, emb: String): DataFrame = df
      .crossJoin(stats)
      .withColumn("cc", sq8Codes(col(emb)))
      .withColumn("cn", aggregate(transform(col("cc"), x => x * x), lit(0L),
        (acc, x) => acc + x.cast("long")))
    val c = codeCols(candidates.select(col("vec_id"), col("embedding").as("ce")), "ce")
      .select(col("vec_id"), col("cc"), col("cn"))
    val q = broadcast(
      codeCols(queries.select(col("vec_id").as("qid"), col("embedding").as("qe")), "qe")
        .select(col("qid"), col("cc").as("qc"), col("cn").as("qn")))
    val scored = c.crossJoin(q)
      .filter(col("vec_id") =!= col("qid"))
      .withColumn("sxy", aggregate(zip_with(col("qc"), col("cc"), (a, b) => a * b),
        lit(0L), (acc, x) => acc + x.cast("long")))
      .withColumn("qcos", col("sxy").cast("double") /
        sqrt(greatest(col("qn") * col("cn"), lit(1L)).cast("double")))
    val cand = scored.groupBy(col("qid"))
      .agg(graft.functions.TopKAgg.topk(shortlist)(col("qcos"), col("vec_id")).as("tk"))
      .select(col("qid"), explode(col("tk")).as("t"))
      .select(col("qid"), col("t._2").as("vec_id"))
    val qf = broadcast(queries.select(col("vec_id").as("qid"), col("embedding").as("qe"))
      .withColumn("qn2", normSq(col("qe"))))
    val cf = candidates.select(col("vec_id"), col("embedding").as("ce"))
      .withColumn("cn2", normSq(col("ce")))
    val rescored = cf.join(broadcast(cand), Seq("vec_id")).join(qf, Seq("qid"))
      .withColumn("cos", cosineExpr(spark, col("qe"), col("ce"), col("qn2"), col("cn2")))
    topKPerQuery(rescored, k)
  }
}
