package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions

/**
 * Similarity search over an embedding column (`array<float>`):
 * brute-force cosine top-k as the exact baseline, and an LSH-bucketed
 * variant as the 100 TB scale path.
 *
 * All vector math uses higher-order functions (`zip_with` / `aggregate`)
 * over doubles — codegen'd, no UDFs, and bit-identical to a sequential
 * left-to-right fold (mirrorable in the DuckDB oracle).
 */
object Similarity {

  /** elementwise-double dot product via zip_with + left fold */
  def dot(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0),
      (acc, x) => acc + x)

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column =
    dot(a, b) / (norm(a) * norm(b))

  /** Native codegen'd cosine (graft.functions.VecCosine): no per-row array
    * allocation; bit-identical to [[cosine]]'s sequential double fold. */
  def cosineFast(a: Column, b: Column): Column = GraftFunctions.vec_cosine(a, b)

  /**
   * Salted two-phase per-query top-k over a scored candidate set. A
   * single `Window.partitionBy(query_id)` funnels the ENTIRE scored set
   * (|corpus| × |queries| rows) into `|queries|` tasks — with a handful
   * of queries against a 100 TB corpus that is a single-task-class
   * bottleneck. Phase 1 takes the top-k within (query, salt-of-candidate)
   * — `salts`× the parallelism, each group provably containing any global
   * top-k member — and phase 2 ranks only the ≤ salts·k survivors per
   * query. Ties order identically in both phases, so the result is
   * bit-equal to the single-window plan.
   */
  private def saltedTopK(scored: DataFrame, k: Int, orderCols: Seq[Column],
      salts: Int = 64): DataFrame = {
    val local = Window
      .partitionBy(col("query_id"),
        pmod(hash(col("neighbor_id")), lit(salts)))
      .orderBy(orderCols: _*)
    val global = Window.partitionBy(col("query_id")).orderBy(orderCols: _*)
    scored
      .withColumn("__lr", row_number().over(local))
      .filter(col("__lr") <= k)
      .withColumn("rank", row_number().over(global))
      .filter(col("rank") <= k)
      .drop("__lr")
  }

  /**
   * Exact brute-force cosine top-k: for each query vector, the k nearest
   * corpus vectors (self-match excluded). `queries` should be small — it is
   * broadcast so the corpus is scanned exactly once with no shuffle on the
   * big side; the per-query cut is the salted two-phase top-k
   * ([[saltedTopK]]), so a small query workload never serializes the
   * scored set through a handful of window tasks.
   */
  def bruteForceTopK(queries: DataFrame, corpus: DataFrame, k: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("__qv"))
    // (r17 note: a Par.fanOut of the corpus side measured SLOWER in an
    // interleaved A/B — the scan fuses with the broadcast crossjoin +
    // cosine + salted-window phase 1 into one stage, and breaking that
    // fusion with an exchange costs more than the parallelism buys on
    // the MB-scale corpora where the gate would fire; left as-is)
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("__cv"))
    val scored = c.crossJoin(broadcast(q))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        cosineFast(col("__qv"), col("__cv")).as("__sim"))
    saltedTopK(scored, k, Seq(col("__sim").desc, col("neighbor_id").asc))
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        round(col("__sim"), 4).as("cosine_sim"))
  }

  /**
   * Exact brute-force EUCLIDEAN top-k — [[bruteForceTopK]] with the L2
   * metric (nearest = smallest distance): the right metric when embedding
   * magnitude carries signal (cosine ignores it). Same scale shape —
   * broadcast queries, one corpus scan, no shuffle on the big side,
   * salted two-phase per-query cut.
   */
  def bruteForceTopKL2(queries: DataFrame, corpus: DataFrame, k: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("__qv"))
    // no corpus fan-out, for the reason documented in [[bruteForceTopK]]
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("__cv"))
    val scored = c.crossJoin(broadcast(q))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        GraftFunctions.vec_l2(col("__qv"), col("__cv")).as("__dist"))
    saltedTopK(scored, k, Seq(col("__dist").asc, col("neighbor_id").asc))
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        round(col("__dist"), 4).as("l2_dist"))
  }

  /**
   * Reciprocal-rank fusion (Cormack, Clarke & Büttcher, SIGIR 2009 —
   * public literature): combine several ranked lists per query into one
   * ranking by `score(d) = Σ_lists 1/(c + rank_list(d))` — the standard
   * hybrid-retrieval merge (BM25 lexical + dense embedding ranks fuse
   * without any score calibration, since only RANKS enter the formula).
   * Docs absent from a list simply contribute nothing. Ties (same
   * contribution set from different lists) break on the doc id, so the
   * output is deterministic.
   *
   * Scale shape: inputs are already |queries|·k rows each (the corpus
   * work happened upstream); fusion is a union + one (query,doc)-keyed
   * aggregate + the salted per-query top-k cut — shuffle bounded by the
   * ranked sets, never the corpus.
   */
  def rrfFuse(rankedLists: Seq[DataFrame], k: Int, c: Int = 60,
      queryCol: String = "query_id", docCol: String = "neighbor_id",
      rankCol: String = "rank"): DataFrame = {
    require(rankedLists.nonEmpty, "rrfFuse needs at least one ranked list")
    require(k >= 1, s"k must be positive, got $k")
    require(c >= 0, s"rrf constant must be non-negative, got $c")
    val contribs = rankedLists.map(_.select(
      col(queryCol).as("query_id"), col(docCol).as("neighbor_id"),
      (lit(1.0) / (lit(c.toDouble) + col(rankCol).cast("double"))).as("__contrib")))
    val scored = contribs.reduce(_ unionByName _)
      .groupBy(col("query_id"), col("neighbor_id"))
      .agg(sum(col("__contrib")).as("rrf_score"))
    saltedTopK(scored, k, Seq(col("rrf_score").desc, col("neighbor_id").asc))
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        round(col("rrf_score"), 6).as("rrf_score"))
  }

  /**
   * Deterministic random-hyperplane LSH signature: `planes` sign bits packed
   * into a long. Plane coefficients are pseudo-random derived from
   * xxhash64(dim, plane) — identical across executors with no state.
   */
  /** splitmix64 — deterministic pseudo-random plane coefficients computed
    * once on the driver and shipped as literals (no per-row hashing). */
  private def splitmix64(x0: Long): Long = {
    var z = x0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  private def planeCoeff(seed: Int, plane: Int, d: Int): Double = {
    val h = splitmix64(seed.toLong * 1000003L + plane.toLong * 131L + d)
    (h >>> 11).toDouble / (1L << 53).toDouble * 2.0 - 1.0 // [-1, 1)
  }

  /** The deterministic plane-coefficient table (seed = LSH table id), so an
    * external oracle can replicate the exact signatures: row p is the
    * `dim` coefficients of plane p. */
  def planeCoefficients(seed: Int, planes: Int, dim: Int): Seq[Seq[Double]] =
    (0 until planes).map(p => (0 until dim).map(d => planeCoeff(seed, p, d)))

  /** All `planes` sign bits in one native codegen pass
    * ([[graft.functions.HyperplaneSig]]): per-plane projections accumulate
    * left-to-right from 0.0, bit-identical to the former
    * `aggregate(zip_with(...))` formulation (and the DuckDB oracle's
    * `list_sum` replay) while doing no per-row array allocation. */
  def hyperplaneSignature(vec: Column, dim: Int, planes: Int = 16,
      seed: Int = 0): Column =
    GraftFunctions.hyperplane_sig(vec, planeCoefficients(seed, planes, dim))

  /**
   * LSH-bucketed ANN top-k — the scale path: corpus is bucketed by
   * hyperplane signature; each query only scores candidates that share a
   * bucket under at least one of `tables` independent signature sets.
   * Returns the same shape as bruteForceTopK (approximate contents).
   */
  def lshTopK(queries: DataFrame, corpus: DataFrame, k: Int, dim: Int,
      idCol: String = "vec_id", vecCol: String = "embedding",
      planes: Int = 12, tables: Int = 4): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("__qv"))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("__cv"))
    // signatures drop the vector: only (id, table_id, sig) enters the
    // band join, so the bucket shuffle and the candidate distinct exchange
    // two longs + an int per row — never the embedding arrays
    def signatures(df: DataFrame, id: String, v: String): DataFrame =
      df.select(col(id),
        posexplode(array((0 until tables).map(t =>
          // independent plane set per table via the seed
          hyperplaneSignature(col(v), dim, planes, seed = t)): _*))
          .as(Seq("table_id", "sig")))
    val candIds = signatures(q, "query_id", "__qv")
      .join(signatures(c, "neighbor_id", "__cv"), Seq("table_id", "sig"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select("query_id", "neighbor_id")
      .distinct()
    // rejoin the one-row-per-id vector tables only for surviving pairs;
    // the query side is small by contract (same as bruteForceTopK)
    val cands = candIds
      .join(broadcast(q), Seq("query_id"))
      .join(c, Seq("neighbor_id"))
    val scored = cands.select(col("query_id"), col("neighbor_id"),
      cosineFast(col("__qv"), col("__cv")).as("__sim"))
    saltedTopK(scored, k, Seq(col("__sim").desc, col("neighbor_id").asc))
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        round(col("__sim"), 4).as("cosine_sim"))
  }

  /**
   * IVF-style ANN: the corpus is clustered into `nCells` Voronoi cells
   * (k-means over a deterministic sample); each query scores only the
   * candidates in its `nProbe` nearest cells. The inverted-file layout is
   * the list-per-cell grouping IVF indexes use — here expressed as a
   * cell-id equi-join, which scales to shuffled billions of vectors where
   * the LSH variant's bucket quality degrades with dimensionality.
   */
  def ivfTopK(queries: DataFrame, corpus: DataFrame, k: Int,
      idCol: String = "vec_id", vecCol: String = "embedding",
      nCells: Int = 16, nProbe: Int = 4, seed: Long = 42L): DataFrame =
    ivfSearch(queries, buildIvfIndex(corpus, idCol, vecCol, nCells, seed),
      k, idCol, vecCol, nProbe)

  /** A fitted IVF index: the tiny centroid table (`__cell`, `__center`)
    * and the cell-assigned corpus (`neighbor_id`, `__cv`, `__cell`).
    * Building it (the k-means fit) is the expensive one-time INDEXING
    * step; [[ivfSearch]] is the per-query-batch step. Callers that issue
    * many batches against one corpus should build once and reuse — that
    * is exactly how a production IVF index amortizes. */
  final case class IvfIndex(centers: DataFrame, assigned: DataFrame)

  /** K-means fit + corpus cell assignment — the indexing half of
    * [[ivfTopK]], split out so the fit can be done once per corpus. */
  def buildIvfIndex(corpus: DataFrame,
      idCol: String = "vec_id", vecCol: String = "embedding",
      nCells: Int = 16, seed: Long = 42L): IvfIndex = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    val corpusVec = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("__cv"))
      .withColumn("__features", array_to_vector(col("__cv").cast("array<double>")))
    // few iterations suffice: cells only need to partition space sensibly,
    // not converge — ANN recall comes from nProbe, not centroid precision
    val model = new KMeans().setK(nCells).setSeed(seed).setMaxIter(5)
      .setFeaturesCol("__features")
      .fit(corpusVec)
    val centers = model.clusterCenters
    val assigned = model.transform(corpusVec)
      .select(col("neighbor_id"), col("__cv"), col("prediction").as("__cell"))
    val sp = corpus.sparkSession
    import sp.implicits._
    val centerRows = centers.zipWithIndex.map { case (c, i) => (i, c.toArray.toSeq) }
      .toSeq.toDF("__cell", "__center")
    IvfIndex(centerRows, assigned)
  }

  /**
   * Persist a fitted IVF index as two graft tables under `location`:
   * `centers` (the tiny centroid table) and `assigned`, PARTITIONED BY
   * CELL — the inverted lists become table partitions, so a probed
   * search reads only its probe cells' files from storage. This is how a
   * production IVF index amortizes: [[buildIvfIndex]] (the k-means fit +
   * corpus assignment) runs once per corpus version; every query batch
   * after that is [[ivfSearch]] over [[loadIvfIndex]] with
   * `pruneScan = true`, an O(probed lists) read of a 100 TB corpus.
   * Table-format versioning comes free: re-indexing is a new snapshot,
   * and a serving reader can pin the previous one.
   */
  def saveIvfIndex(index: IvfIndex, location: String): Unit = {
    import graft.table.GraftTable
    val sp = index.centers.sparkSession
    GraftTable.createOrReplace(sp, s"$location/centers", "graft.ivf_centers",
      index.centers.schema).append(index.centers)
    GraftTable.createOrReplace(sp, s"$location/assigned", "graft.ivf_assigned",
      index.assigned.schema, partitionCols = Seq("__cell"))
      .append(index.assigned)
  }

  /**
   * Euclidean argmin assignment to FROZEN IVF centers — the maintenance
   * half of a persisted index: centers (<= nCells rows, driver-safe) are
   * collected into codegen'd literal expressions, so assignment is a
   * NARROW MAP over the vectors, zero exchange (plan-pinned for the
   * cosine twin in PlanQualitySpec; same shape). Deterministic ties:
   * first minimum in ascending `__cell` order. Output matches the
   * persisted `assigned` schema (`neighbor_id`, `__cv`, `__cell`).
   */
  def assignIvfCells(vectors: DataFrame, centers: DataFrame,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    assignIvfCellsImpl(vectors, centers, idCol, vecCol).drop("__d2")

  /** [[assignIvfCells]] plus `__d2` (the squared euclidean distance to
    * the assigned center, NULL for null/empty vectors) and optional
    * passthrough columns — the staleness signal [[ivfDriftStats]]'
    * entry point; same guarded unrolled/joined paths, same tie rule. */
  private def assignIvfCellsImpl(vectors: DataFrame, centers: DataFrame,
      idCol: String, vecCol: String,
      passthrough: Seq[String] = Seq.empty): DataFrame = {
    // ONE action over the centers plan: collect, then derive the unroll
    // gate (nCells · dim) and both paths' inputs from the rows — centers
    // are driver-safe by contract (buildIvfIndex collects them too), and
    // the previous count() + head() + collect() tripled the index read
    // on every delta refresh
    val cents = centers
      .select(col("__cell").cast("int").as("__cell"), col("__center"))
      .orderBy("__cell").collect()
      .map(r => (r.getInt(0), r.getSeq[Double](1)))
    require(cents.nonEmpty, "assignIvfCells: empty centers table")
    require(cents.forall(_._2 != null),
      "assignIvfCells: centers table contains a NULL center vector")
    val dim = cents.head._2.size.toLong
    val base = vectors.select((Seq(col(idCol).as("neighbor_id"),
      col(vecCol).as("__cv")) ++ passthrough.map(col)): _*)
    val v = col("__cv").cast("array<double>")
    def d2(center: Column) = aggregate(
      zip_with(v, center, (x, y) => (x - y) * (x - y)),
      lit(0.0), (acc, x) => acc + x)
    val vecOk = col("__cv").isNotNull && size(col("__cv")) > 0
    if (cents.length * dim <= UnrolledAssignLimit) {
      val d2s = array(cents.map { case (_, c) => d2(typedlit(c)) }: _*)
      val ids = typedlit(cents.map(_._1))
      // the when() guard is load-bearing (the assignToCentroids lesson):
      // element_at on a FOLDABLE array with a null index constant-folds to
      // a non-null element in Spark 4.1, so a null/empty vector must be
      // forced to a NULL cell before the literal lookup
      base
        .withColumn("__d2s", when(vecOk, d2s))
        .withColumn("__cell", when(vecOk, element_at(ids,
          array_position(col("__d2s"), array_min(col("__d2s"))).cast("int"))))
        .withColumn("__d2", when(vecOk, array_min(col("__d2s"))))
        .drop("__d2s")
    } else {
      // Above the unroll limit the nCells literal expressions per row hit
      // the JVM/codegen method-size cliff (the assignToCentroids lesson):
      // fall back to a broadcast-join argmin. Same per-pair IEEE double
      // math (zip_with/aggregate in identical operation order) and the
      // same deterministic tie rule — min over (d2, __cell) structs picks
      // the smallest distance, then the smallest cell id. Null/empty
      // vectors get a NULL cell, matching the unrolled path's guard.
      // Keyed on (id, vector), NOT id alone: duplicate ids carrying
      // different vectors must each keep their own per-row answer, as the
      // unrolled path does (spec-pinned) — map-side partial min still
      // collapses the nCells expansion before the exchange. The broadcast
      // side is rebuilt from the already-collected rows: no second read
      // of the centers table.
      val sp = vectors.sparkSession
      import sp.implicits._
      val centsDf = cents.toSeq.toDF("__cell", "__center")
      val best = base.filter(vecOk)
        .select(col("neighbor_id"), col("__cv"))
        .crossJoin(broadcast(centsDf))
        .groupBy(col("neighbor_id"), col("__cv"))
        .agg(min(struct(d2(col("__center")).as("__d2"), col("__cell"))).as("__best"))
        .select(col("neighbor_id").as("__nid"), col("__cv").as("__nv"),
          col("__best.__cell").as("__cell"), col("__best.__d2").as("__d2"))
      // null-safe on BOTH keys: a NULL-id row with a valid vector gets a
      // real cell in the unrolled path, so === on the id (NULL === NULL
      // -> no match) would silently diverge between the two gates
      base.join(best,
          col("neighbor_id") <=> col("__nid") && col("__cv") <=> col("__nv"),
          "left")
        .drop("__nid", "__nv")
    }
  }

  /**
   * IVF staleness signal for the [[refreshIvfIndex]] path: after enough
   * delta refreshes the FROZEN centers stop describing the corpus, and
   * probed-cell recall quietly decays. For each value of `batchCol`
   * (e.g. an ingest-round id), assign the batch through the frozen
   * centers and compare its mean squared assigned-center distance to the
   * fit-time baseline batch's: a growing ratio means the new data lands
   * ever farther from every center — the documented REFIT TRIGGER is
   * `refit_due` (ratio > `refitRatio`), at which point rebuild with
   * [[buildIvfIndex]] + [[saveIvfIndex]] instead of refreshing again.
   *
   * Returns one row per batch:
   * `(batch, n_vectors, mean_d2, baseline_d2, drift_ratio, refit_due)`;
   * null/empty vectors are excluded from the means, and a batch whose
   * vectors are ALL invalid still emits its row (n_vectors=0, null
   * mean_d2/drift_ratio/refit_due) rather than vanishing. Every distance is
   * deterministic IEEE double math through the same guarded assignment
   * as the refresh path itself.
   *
   * Scale shape: one narrow guarded assignment over the vectors, a
   * batch-keyed partial-aggregated mean (|batches| rows), and a 1-row
   * broadcast of the baseline — nothing corpus-sized shuffles.
   */
  def ivfDriftStats(vectors: DataFrame, centers: DataFrame,
      batchCol: String, baselineBatch: Column,
      idCol: String = "vec_id", vecCol: String = "embedding",
      refitRatio: Double = 2.0): DataFrame = {
    // |batches|-row frame, pinned: both the baseline extraction and the
    // final projection consume it — unpinned, the corpus-wide assignment
    // and aggregation would execute twice. The checkpoint is EAGER by
    // design: a drift call exists to be consumed, and eagerness lets the
    // no-valid-vectors case fail at the call site instead of returning a
    // silently empty monitoring frame.
    // Aggregate over ALL rows of every batch (no pre-filter): a batch
    // whose vectors are ALL null/empty must still surface as a row with
    // n_vectors=0 / null mean_d2 — a fully-corrupt ingest batch vanishing
    // from the monitoring output would defeat the monitor. Only the MEAN
    // excludes invalid vectors (avg skips nulls natively).
    val stats = assignIvfCellsImpl(vectors, centers, idCol, vecCol,
        passthrough = Seq(batchCol))
      .groupBy(col(batchCol).as("batch"))
      .agg(count(col("__d2")).as("n_vectors"), avg(col("__d2")).as("mean_d2"))
      .localCheckpoint()
    require(!stats.filter(col("n_vectors") > 0).isEmpty,
      "ivfDriftStats: no batch contains a valid (non-null, non-empty) vector")
    // 1-row aggregate (never empty) + raise_error: a missing or all-null
    // baseline batch must fail loudly — a silently empty result would read
    // as "no batches to check" in a monitoring pipeline
    val baseline = stats.agg(
      min(when(col("batch") === baselineBatch, col("mean_d2")))
        .as("baseline_d2"))
    stats.crossJoin(broadcast(baseline))
      .withColumn("baseline_d2",
        when(col("baseline_d2").isNull, raise_error(lit(
          "ivfDriftStats: the baseline batch is absent or has no valid vectors")))
          .otherwise(col("baseline_d2")))
      .select(col("batch"), col("n_vectors"), col("mean_d2"),
        col("baseline_d2"),
        (col("mean_d2") / col("baseline_d2")).as("drift_ratio"),
        (col("mean_d2") / col("baseline_d2") > lit(refitRatio)).as("refit_due"))
  }

  /**
   * Incremental maintenance of a [[saveIvfIndex]]-persisted index: on a
   * corpus append, assign ONLY the delta through the frozen centers
   * ([[assignIvfCells]] — a narrow map over the delta) and append the
   * result to the `assigned` table as one snapshot. At 100 TB the full
   * index rebuild is the cost center — the table format exists precisely
   * to make the delta cheap: O(|delta|) compute, one commit, probed
   * partitions gain files without rewriting the inverted lists, and
   * serving readers can pin the pre-refresh snapshot for as long as they
   * need. Delta assignment provably equals what a full reassignment
   * against the same centers would produce for every row (the
   * assignment is per-row in frozen literals — s_ann_ivf_refresh
   * hash-pins the equality corpus-wide across three appends).
   *
   * Staleness: deltas assigned through frozen centers decay recall as
   * the corpus distribution moves — monitor each refresh with
   * [[ivfDriftStats]] and REBUILD (not refresh) once `refit_due` fires.
   */
  def refreshIvfIndex(spark: org.apache.spark.sql.SparkSession,
      location: String, delta: DataFrame,
      idCol: String = "vec_id", vecCol: String = "embedding"): Unit = {
    import graft.table.GraftTable
    val centers = GraftTable.load(spark, s"$location/centers").toDF
    GraftTable.load(spark, s"$location/assigned")
      .append(assignIvfCells(delta, centers, idCol, vecCol))
  }

  /** Reload a [[saveIvfIndex]]-persisted index. The assigned side is a
    * partitioned graft scan, so cell filters prune at the file level. */
  def loadIvfIndex(spark: org.apache.spark.sql.SparkSession,
      location: String): IvfIndex = {
    import graft.table.GraftTable
    IvfIndex(
      GraftTable.load(spark, s"$location/centers").toDF,
      GraftTable.load(spark, s"$location/assigned").toDF
        // partition values read back as strings from the hive layout;
        // restore the cell id's numeric type for the probe equi-join
        .withColumn("__cell", col("__cell").cast("int")))
  }

  /** The query half of [[ivfTopK]]: probe the `nProbe` nearest cells per
    * query and score only those cells' candidates. With `pruneScan` the
    * probed cell ids (bounded by nCells — driver-safe) are collected and
    * pushed into the corpus scan as a partition filter, so a persisted
    * index ([[saveIvfIndex]]) reads ONLY the probed inverted lists from
    * storage — without it the cell join still touches every list file. */
  def ivfSearch(queries: DataFrame, index: IvfIndex, k: Int,
      idCol: String = "vec_id", vecCol: String = "embedding",
      nProbe: Int = 4, pruneScan: Boolean = false): DataFrame = {
    val assigned0 = index.assigned
    // nProbe nearest centroids per query, computed on the driver-broadcast
    // centroid table (nCells rows — always tiny)
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("__qv"))
    val probes = q.crossJoin(broadcast(index.centers))
      .select(col("query_id"), col("__qv"), col("__cell"),
        cosineFast(col("__qv").cast("array<double>"), col("__center")).as("__csim"))
    val wCell = Window.partitionBy(col("query_id")).orderBy(col("__csim").desc, col("__cell").asc)
    val probed = probes.withColumn("__cr", row_number().over(wCell))
      .filter(col("__cr") <= nProbe)
      .select("query_id", "__qv", "__cell")
    val assigned =
      if (!pruneScan) assigned0
      else {
        // collect the probed cell ids (≤ nCells) and push them into the
        // scan as a static IN-filter: on a saved index this is hive
        // partition pruning — unprobed list files are never opened
        val cells = probed.select("__cell").distinct()
          .collect().map(_.get(0)).toSeq
        assigned0.filter(col("__cell").isin(cells: _*))
      }
    val scored = probed.join(assigned, Seq("__cell"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        cosineFast(col("__qv"), col("__cv")).as("__sim"))
    saltedTopK(scored, k, Seq(col("__sim").desc, col("neighbor_id").asc))
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        round(col("__sim"), 4).as("cosine_sim"))
  }

  /**
   * IVF search with QUANTIZED candidate scoring — the IVF-PQ-flavored
   * two-stage retrieval production ANN uses: probed cells' candidates are
   * first ranked by cosine over symmetric int8 quantizations (scales
   * cancel in the cosine, and the candidate exchange carries int8 arrays
   * — 4x fewer shuffle bytes than floats), then only the top `rescore`
   * per query join back to the full-precision vectors (an id-keyed join,
   * not a vector shuffle) for exact scoring and the final top-k.
   *
   * With `nProbe = nCells` and `rescore` >= corpus size the pipeline is
   * provably exhaustive-exact (the oracle config, s_ann_ivf_pq);
   * production tunes both down for the recall/cost trade
   * (AccuracySpec bounds recall for the tuned config).
   */
  def ivfSearchQuantized(queries: DataFrame, index: IvfIndex, k: Int,
      idCol: String = "vec_id", vecCol: String = "embedding",
      nProbe: Int = 4, rescore: Int = 32): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("__qv"))
    val probes = q.crossJoin(broadcast(index.centers))
      .select(col("query_id"), col("__qv"), col("__cell"),
        cosineFast(col("__qv").cast("array<double>"), col("__center")).as("__csim"))
    val wCell = Window.partitionBy(col("query_id"))
      .orderBy(col("__csim").desc, col("__cell").asc)
    val probed = probes.withColumn("__cr", row_number().over(wCell))
      .filter(col("__cr") <= nProbe)
      .select("query_id", "__qv", "__cell")
    // int8-quantize both sides; ties in the approx ordering broken by id
    // so the exact-config path stays deterministic
    val qQuant = quantizeInt8(probed, "query_id", "__qv")
      .select(col("query_id"), col("__qv"), col("__cell"), col("qvec").as("__qq"))
    val cQuant = quantizeInt8(
      index.assigned.select(col("neighbor_id"), col("__cell"), col("__cv")),
      "neighbor_id", "__cv")
      .select(col("neighbor_id"), col("__cell"), col("qvec").as("__cq"))
    val approxScored = qQuant.join(cQuant, Seq("__cell"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("__qv"), col("neighbor_id"),
        // int arrays cast for the native expression; the 4x shuffle saving
        // is in the EXCHANGE (int8-representable values), the score math
        // runs in double either way
        cosineFast(col("__qq").cast("array<double>"),
          col("__cq").cast("array<double>")).as("__asim"))
    val shortlist = saltedTopK(approxScored, rescore,
        Seq(col("__asim").desc, col("neighbor_id").asc))
      .select("query_id", "__qv", "neighbor_id")
    // exact rescore: fetch full-precision vectors by id (id-keyed join)
    val full = index.assigned.select(col("neighbor_id"), col("__cv"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("__sim").desc, col("neighbor_id").asc)
    shortlist.join(full, Seq("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        cosineFast(col("__qv"), col("__cv")).as("__sim"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        round(col("__sim"), 4).as("cosine_sim"))
  }

  // ─────────────── product quantization (the FAISS IVF-PQ shape) ───────────

  /** Driver-side left-to-right Σ x² — the quantized-codeword norm table
    * entry; the fold order matches DuckDB's `list_sum(list_transform(cw,
    * x -> x*x))`, so both engines hold the identical IEEE double. */
  private def norm2Seq(xs: Array[Double]): Double = {
    var s = 0.0; var i = 0
    while (i < xs.length) { s += xs(i) * xs(i); i += 1 }
    s
  }

  /** Upper bound on the m·ksub·dsub literal codebook payload (doubles):
    * the FAISS defaults (m=8..64, ksub=256) stay far under it; beyond it
    * the codebook belongs in a broadcast join, not a plan literal. */
  private val PqLiteralLimit = 4 * 1000 * 1000

  private def collectCodebooks(codebooks: DataFrame)
      : Array[Array[Array[Double]]] = {
    val rows = codebooks
      .select(col("__sub").cast("int"), col("__code").cast("int"),
        col("__codeword"))
      .collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2).toArray))
    require(rows.nonEmpty, "pq: empty codebooks table")
    require(rows.forall(_._3 != null), "pq: null codeword in codebooks table")
    val m = rows.map(_._1).max + 1
    val ksub = rows.map(_._2).max + 1
    require(rows.length == m * ksub,
      s"pq: codebooks must be dense over sub [0,$m) x code [0,$ksub); " +
        s"got ${rows.length} rows")
    val cb = Array.ofDim[Array[Double]](m, ksub)
    rows.foreach { case (s, c, w) => cb(s)(c) = w }
    cb
  }

  /**
   * Train product-quantization codebooks — the public FAISS PQ shape
   * (Jégou et al., "Product quantization for nearest neighbor search",
   * TPAMI 2011): split the embedding space into `m` contiguous sub-spaces
   * of dim/m, and fit an independent `ksub`-entry L2 k-means codebook in
   * each, so that a vector compresses to m codes of ⌈log2 ksub⌉ bits
   * ([[pqEncode]]) and search scores candidates via per-query
   * asymmetric-distance lookup tables ([[pqSearch]] / [[ivfSearchPq]]).
   *
   * Training follows the [[kmeansTrain]] quantized-trajectory pattern:
   * codebooks initialize from the first `ksub` vectors in `idCol` order
   * (exact float→double values), and every Lloyd round assigns each
   * sub-vector to its nearest codeword (first minimum in ascending code
   * order) then replaces codewords with their member means ROUNDED to
   * `roundDp` decimals at the driver sync — quantized updates make the
   * whole iterative float pipeline bit-replayable by an independent
   * engine (the s_pq_train / s_ann_pq DuckDB oracles chain the same
   * rounded CTE rounds). A codeword that loses all members keeps its
   * previous round's value (ids must stay stable — codes are storage).
   *
   * Scale shape: per round, ONE corpus pass — a narrow explode into m
   * sub-vectors (total element count unchanged), nearest-codeword
   * assignment against the driver-literal codebooks (a lambda over a
   * runtime array: no per-code codegen unrolling, no method-size cliff),
   * and one (sub, code, dim)-keyed aggregation whose map-side partials
   * bound the shuffle at dim·ksub rows per partition. Driver state is
   * m·ksub·(dim/m) = dim·ksub doubles — 128 KB at the FAISS defaults.
   *
   * Returns wide codebooks `(__sub, __code, __codeword)`.
   */
  def pqTrain(corpus: DataFrame, m: Int = 8, ksub: Int = 256,
      iters: Int = 3, idCol: String = "vec_id", vecCol: String = "embedding",
      roundDp: Int = 4): DataFrame = {
    require(m >= 1 && iters >= 1, s"pqTrain: m=$m, iters=$iters")
    require(ksub >= 1 && ksub <= 256,
      s"pqTrain: ksub must be in [1,256] (codes are stored as offset " +
        s"tinyint bytes), got $ksub")
    val spark = corpus.sparkSession
    import spark.implicits._
    val dim = vectorDim(corpus, vecCol).toInt
    require(dim > 0 && dim % m == 0,
      s"pqTrain: dim=$dim must be a positive multiple of m=$m")
    val dsub = dim / m
    require(m.toLong * ksub * dsub <= PqLiteralLimit,
      s"pqTrain: codebook payload m*ksub*dsub=${m.toLong * ksub * dsub} " +
        s"exceeds the plan-literal bound $PqLiteralLimit")
    val v = col(vecCol).cast("array<double>")
    val vecOk = col(vecCol).isNotNull && size(col(vecCol)) === dim
    // deterministic init: sub-slices of the first ksub vectors in id order
    val initRows = corpus.filter(vecOk).orderBy(col(idCol)).limit(ksub)
      .select(v.as("__v")).collect().map(_.getSeq[Double](0).toArray)
    require(initRows.nonEmpty, "pqTrain: no valid vectors to train on")
    val k0 = initRows.length // adapts below ksub on tiny corpora
    var cb: Array[Array[Array[Double]]] = Array.tabulate(m)(s =>
      initRows.map(r => r.slice(s * dsub, (s + 1) * dsub)))
    // one exploded (id, sub, sub-vector) frame reused every round
    val subs = corpus.filter(vecOk).select(
        posexplode(transform(sequence(lit(0), lit(m - 1)),
          s => slice(v, s * lit(dsub) + lit(1), lit(dsub))))
          .as(Seq("__sub", "__sv")))
    for (_ <- 1 to iters) {
      val cbLit = typedlit(cb.map(_.map(_.toSeq).toSeq).toSeq)
      val d2s = transform(element_at(cbLit, col("__sub") + 1), cw =>
        aggregate(zip_with(col("__sv"), cw, (x, y) => (x - y) * (x - y)),
          lit(0.0), (acc, x) => acc + x))
      val updated = subs
        .withColumn("__d2s", d2s)
        .withColumn("__codep",
          array_position(col("__d2s"), array_min(col("__d2s"))).cast("int"))
        .select(col("__sub"), (col("__codep") - 1).as("__code"),
          posexplode(col("__sv")).as(Seq("__dim", "__x")))
        .groupBy("__sub", "__code", "__dim")
        // + 0.0 folds IEEE -0.0 into +0.0 (the kmeansStep rule) so both
        // engines' rounded means agree on sign
        .agg((round(avg(col("__x")), roundDp) + lit(0.0)).as("__v"))
        .collect()
        .map(r => ((r.getInt(0), r.getInt(1), r.getInt(2)), r.getDouble(3)))
        .toMap
      cb = Array.tabulate(m)(s => Array.tabulate(k0)(c =>
        Array.tabulate(dsub)(d => updated.getOrElse((s, c, d), cb(s)(c)(d)))))
    }
    cb.zipWithIndex.flatMap { case (codes, s) =>
      codes.zipWithIndex.map { case (cw, c) => (s, c, cw.toSeq) }
    }.toSeq.toDF("__sub", "__code", "__codeword")
  }

  /**
   * Encode vectors against trained PQ codebooks: each row gains
   * `__codes` — m ONE-BYTE codes (`array<tinyint>`, stored with the
   * standard −128 offset so ksub=256 fits a signed byte) — and
   * `__rnorm`, the reconstruction norm √Σₛ‖cw[s][codeₛ]‖² (sub-spaces are
   * disjoint coordinate ranges, so the identity is exact), which is all
   * the cosine ADC scorer needs besides the codes. Null/wrong-dim
   * vectors encode to NULL codes. Compression: dim·4 float bytes → m
   * code bytes — 32× at the dim=64/m=8 shape (spec-asserted).
   *
   * Scale shape: a pure narrow per-row map — codebooks ride as one plan
   * literal (dim·ksub doubles), assignment is the same
   * first-minimum-in-code-order rule as training, and nothing shuffles.
   */
  def pqEncode(vectors: DataFrame, codebooks: DataFrame,
      idCol: String = "vec_id", vecCol: String = "embedding",
      passthrough: Seq[String] = Seq.empty): DataFrame = {
    val cb = collectCodebooks(codebooks)
    val cbSeq = cb.map(_.map(_.toSeq).toSeq).toSeq
    val normSeq = cb.map(_.map(norm2Seq).toSeq).toSeq
    // native codegen'd assignment (expressions.scala PqEncodeCodes /
    // PqReconNorm): same ascending-order d² folds, first-minimum-in-code-
    // order rule, and squared-norm fold + sqrt as the HOF chain it
    // replaced — PqAdcSpec pins bit-parity, so the oracle replay and any
    // previously persisted code table stay valid
    vectors.select((Seq(col(idCol).as("neighbor_id")) ++
        passthrough.map(col) :+ col(vecCol).as("__cv")): _*)
      .withColumn("__codes",
        GraftFunctions.pq_encode(col("__cv").cast("array<double>"), cbSeq))
      .withColumn("__rnorm",
        GraftFunctions.pq_recon_norm(col("__codes"), normSeq))
  }

  /**
   * PQ search by asymmetric distance computation (ADC) over an encoded
   * corpus: per query, build the m×ksub inner-product lookup table
   * ⟨q-sub, codeword⟩ ONCE (a narrow map against the literal codebooks),
   * rank every candidate by the table-summed approximate cosine
   * Σₛ ADC[s][codeₛ] / (‖q‖·rnorm) — m one-byte lookups per pair instead
   * of a dim-wide float walk, and the candidate side carries m code
   * bytes instead of dim·4 vector bytes — then exact-rescore only the
   * top `rescore` per query through an id-keyed join to the
   * full-precision vectors.
   *
   * The approximate ordering is rounded to 9 decimals before ranking
   * (ties then break by id): the quantized-codebook trajectory makes
   * every ADC value engine-reproducible, and the rounding absorbs
   * sub-ulp summation drift so an independent replay (the s_ann_pq
   * DuckDB oracle) selects the identical shortlist.
   *
   * Scale shape: queries (with their ADC tables and full vectors)
   * broadcast twice — probe rows and payloads separately, so the
   * per-query table never rides the per-pair exchange — the encoded
   * corpus streams map-side, and both cuts are the salted two-phase
   * top-k. `encoded` is [[pqEncode]] output; persist it once per corpus
   * version (the [[saveIvfIndex]] economics) and every batch after that
   * reads code bytes, never vectors, until the rescore.
   */
  def pqSearch(queries: DataFrame, encoded: DataFrame, codebooks: DataFrame,
      full: DataFrame, k: Int, rescore: Int = 32,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("__qv"))
    // every (query, candidate) pair: the probe relation is the full
    // broadcast query-id set (the brute-ADC semantics)
    val cand = encoded
      .select(col("neighbor_id"), col("__codes"), col("__rnorm"))
      .crossJoin(broadcast(q.select(col("query_id").as("__pq"))))
    pqSearchOver(q, cand, codebooks, full, k, rescore, idCol, vecCol)
  }

  /**
   * Persist a trained PQ serving set as graft tables under `location`:
   * `pq_codebooks` (m·ksub codeword rows — metadata-sized) and
   * `pq_encoded`, the corpus's code bytes + reconstruction norms
   * PARTITIONED BY CELL — the [[saveIvfIndex]] economics applied to
   * codes: encoding runs ONCE per corpus version, every query batch
   * after that reads m code bytes per candidate from only the probed
   * cells' partitions, and the full-precision vectors are touched only
   * by the id-keyed rescore. Re-encoding is a new snapshot; serving
   * readers can pin the previous one.
   */
  def savePqIndex(codebooks: DataFrame, encoded: DataFrame,
      location: String): Unit = {
    import graft.table.GraftTable
    val sp = codebooks.sparkSession
    GraftTable.createOrReplace(sp, s"$location/pq_codebooks",
      "graft.pq_codebooks", codebooks.schema).append(codebooks)
    val partCols =
      if (encoded.columns.contains("__cell")) Seq("__cell") else Seq.empty
    GraftTable.createOrReplace(sp, s"$location/pq_encoded",
      "graft.pq_encoded", encoded.schema, partitionCols = partCols)
      .append(encoded)
  }

  /** Load a [[savePqIndex]]-persisted serving set:
    * (codebooks, encoded). */
  def loadPqIndex(spark: org.apache.spark.sql.SparkSession,
      location: String): (DataFrame, DataFrame) = {
    import graft.table.GraftTable
    (GraftTable.load(spark, s"$location/pq_codebooks").toDF,
      GraftTable.load(spark, s"$location/pq_encoded").toDF)
  }

  /**
   * IVF + PQ — the full FAISS IVFPQ serving stack: probe the `nProbe`
   * nearest inverted lists (hive-partition-pruned on a
   * [[saveIvfIndex]]-persisted index), ADC-rank ONLY the probed cells'
   * PQ codes, exact-rescore the top `rescore`. With `nProbe = nCells`
   * and unbounded `rescore` the pipeline is provably exhaustive-exact
   * (the s_ann_ivfpq oracle config — the exact rescore of an
   * all-candidate shortlist recovers brute force regardless of the
   * approximation); production tunes both down and reads m bytes per
   * candidate instead of dim·4.
   */
  def ivfSearchPq(queries: DataFrame, index: IvfIndex, codebooks: DataFrame,
      k: Int, idCol: String = "vec_id", vecCol: String = "embedding",
      nProbe: Int = 4, rescore: Int = 32,
      encoded: Option[DataFrame] = None,
      pruneScan: Boolean = false): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("__qv"))
    val probes = q.crossJoin(broadcast(index.centers))
      .select(col("query_id"), col("__cell"),
        cosineFast(col("__qv").cast("array<double>"), col("__center")).as("__csim"))
    val wCell = Window.partitionBy(col("query_id"))
      .orderBy(col("__csim").desc, col("__cell").asc)
    val probed = probes.withColumn("__cr", row_number().over(wCell))
      .filter(col("__cr") <= nProbe)
      .select("query_id", "__cell")
    // encoded codes: the persisted table ([[savePqIndex]] — the serving
    // path, encode-once) or an inline encode of the assigned corpus
    val enc0 = encoded.getOrElse(pqEncode(
      index.assigned.select(col("neighbor_id").as("vec_id"), col("__cell"),
        col("__cv").as(vecCol)),
      codebooks, idCol = "vec_id", vecCol = vecCol,
      passthrough = Seq("__cell")))
    val enc =
      if (!pruneScan) enc0
      else {
        // the saveIvfIndex pruning idiom: probed cell ids pushed as a
        // static IN-filter — on a persisted cell-partitioned encoded
        // table this is hive partition pruning, unprobed code files are
        // never opened
        val cells = probed.select("__cell").distinct()
          .collect().map(_.get(0)).toSeq
        enc0.filter(col("__cell").isin(cells: _*))
      }
    // probed-cell candidates only: the (query, cell) probe rows broadcast,
    // the encoded lists stream — the corpus never shuffles
    val cand = enc
      .select(col("neighbor_id"), col("__cell"), col("__codes"), col("__rnorm"))
      .join(broadcast(probed), Seq("__cell"))
      .select(col("query_id").as("__pq"), col("neighbor_id"),
        col("__codes"), col("__rnorm"))
    val fullVecs = index.assigned
      .select(col("neighbor_id").as(idCol), col("__cv").as(vecCol))
    pqSearchOver(q, cand, codebooks, fullVecs, k, rescore, idCol, vecCol)
  }

  /** [[pqSearch]] over a PRE-JOINED (query, candidate-codes) pair set —
    * the IVF-probed variant's scorer; `cand` carries `__pq` (the probe's
    * query id), `neighbor_id`, `__codes`, `__rnorm`. */
  private def pqSearchOver(q: DataFrame, cand: DataFrame,
      codebooks: DataFrame, full: DataFrame, k: Int, rescore: Int,
      idCol: String, vecCol: String): DataFrame = {
    val cb = collectCodebooks(codebooks)
    val ksub = cb(0).length
    val qv = col("__qv").cast("array<double>")
    // native codegen'd ADC (expressions.scala PqAdcTable/PqAdcSum):
    // bit-identical to the interpreted transform/aggregate/element_at HOF
    // chain it replaced (same ascending-order left-to-right double folds,
    // PqAdcSpec pins parity), ~one tight loop per query row for the table
    // and m byte-indexed reads per candidate pair for the sum
    val adc = GraftFunctions.pq_adc_table(qv,
      cb.map(_.map(_.toSeq).toSeq).toSeq)
    val qpay = q.select(col("query_id"), col("__qv"), adc.as("__adc"),
      norm(col("__qv")).as("__qn"))
    val asum = GraftFunctions.pq_adc_sum(col("__codes"), col("__adc"), ksub)
    val scored = cand
      .filter(col("__codes").isNotNull)
      .join(broadcast(qpay), col("__pq") === col("query_id") &&
        col("query_id") =!= col("neighbor_id"))
      .withColumn("__asim", round(
        when(col("__qn") > 0.0 && col("__rnorm") > 0.0,
          asum / (col("__qn") * col("__rnorm"))).otherwise(lit(0.0)), 9))
      // project BEFORE the top-k exchanges: the per-query ADC table and
      // vectors must never ride the per-pair shuffle — that would undo
      // the m-bytes-per-candidate economics
      .select(col("query_id"), col("neighbor_id"), col("__asim"))
    val shortlist = saltedTopK(scored, rescore,
        Seq(col("__asim").desc, col("neighbor_id").asc))
      .select("query_id", "neighbor_id", "__asim")
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("__sim").desc, col("neighbor_id").asc)
    shortlist
      .join(full.select(col(idCol).as("neighbor_id"), col(vecCol).as("__cv")),
        Seq("neighbor_id"))
      .join(broadcast(qpay.select(col("query_id"), col("__qv"))), Seq("query_id"))
      .select(col("query_id"), col("neighbor_id"), col("__asim"),
        cosineFast(col("__qv"), col("__cv")).as("__sim"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        round(col("__asim"), 4).as("adc_sim"),
        round(col("__sim"), 4).as("cosine_sim"))
  }

  /**
   * Hard-negative mining for contrastive training (the in-batch-negatives
   * upgrade every dense-retriever pipeline runs — e.g. DPR, Karpukhin et
   * al. 2020; public literature): for each query, the top-k most similar
   * corpus items that are NOT its known positives — maximally confusing
   * negatives. `positives` is a (query id, positive id) relation; known
   * pairs are excluded BEFORE the cut, so every returned row is a true
   * negative at full rank depth.
   *
   * Scale shape: one corpus scan against broadcast queries (the
   * bruteForceTopK economics; swap [[ivfSearch]] candidates in at ANN
   * scale), an anti join against the positives keyed on
   * (query, candidate) — strategy left to AQE: broadcast for
   * pipeline-sized pair sets, shuffle join when positives are
   * dataset-sized — then the salted two-phase top-k.
   */
  def hardNegatives(queries: DataFrame, corpus: DataFrame,
      positives: DataFrame, k: Int,
      idCol: String = "vec_id", vecCol: String = "embedding",
      posQueryCol: String = "query_id", posIdCol: String = "positive_id")
      : DataFrame = {
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("__qv"))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("__cv"))
    val pos = positives.select(col(posQueryCol).as("__pq"),
      col(posIdCol).as("__pp"))
    val scored = c.crossJoin(broadcast(q))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        cosineFast(col("__qv"), col("__cv")).as("__sim"))
      .join(pos, col("query_id") === col("__pq") &&
        col("neighbor_id") === col("__pp"), "left_anti")
    saltedTopK(scored, k, Seq(col("__sim").desc, col("neighbor_id").asc))
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        round(col("__sim"), 4).as("cosine_sim"))
  }

  /** All pairs above a cosine threshold (embedding near-dup detection),
    * brute force over a small/sampled input. */
  def cosineNearDupPairs(df: DataFrame, threshold: Double,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val a = df.select(col(idCol).as("id_a"), col(vecCol).as("__va"))
    val b = df.select(col(idCol).as("id_b"), col(vecCol).as("__vb"))
    a.crossJoin(b)
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        round(cosineFast(col("__va"), col("__vb")), 4).as("cosine_sim"))
      .filter(col("cosine_sim") >= threshold)
  }

  /**
   * Margin-based cross-set nearest-neighbor mining — the bitext-mining
   * criterion of Artetxe & Schwenk 2019 (LASER / CCMatrix parallel-corpus
   * mining; ratio margin — public literature): for every vector `a` of
   * set A, its single best match `b` in set B by cosine, scored by
   * `margin(a,b) = cos(a,b) / ((avgK(a→B) + avgK(b→A)) / 2)` where
   * `avgK(x→S)` is the mean cosine of x's k nearest neighbors in S. The
   * margin divides out each point's local "hubness" — a pair survives
   * only if it is MUTUALLY exceptional, not merely close to a vector
   * that is close to everything — which is what makes this the standard
   * alignment-mining filter. Pairs below `minMargin` are dropped; ties
   * rank by ascending neighbor id, so the output is deterministic.
   *
   * This is the EXACT form: one cross join scores every (a, b) once, and
   * both ranks, both k-NN averages and the best-match selection are read
   * off that single scored pass (RDD-pinned — three consumers). Cost is
   * |A|·|B| cosines, the ground-truth shape: production mining runs it
   * per candidate bucket (IVF cell / LSH band — the [[semDedupPairs]]
   * economics), where |A|·|B| is the BUCKET product, never the corpus's.
   */
  def marginMinePairs(a: DataFrame, b: DataFrame,
      idCol: String = "vec_id", vecCol: String = "embedding",
      k: Int = 4, minMargin: Double = 1.0): DataFrame = {
    require(k >= 1, s"k must be positive, got $k")
    import org.apache.spark.sql.expressions.Window
    val pa = a.select(col(idCol).as("id_a"), col(vecCol).as("__va"))
    val pb = b.select(col(idCol).as("id_b"), col(vecCol).as("__vb"))
    // lazy localCheckpoint (r17): the ranked set has three consumers; an
    // .rdd persist round-tripped every scored row through boxed external
    // Rows — the pinned 250k-row set read back as ~40 MB per consumer
    // (profiled); the checkpoint stores the operator's UnsafeRows directly
    // (~4x smaller, no conversion) and adds no barrier.
    // Fault-tolerance trade (r18, advisory): localCheckpoint TRUNCATES
    // lineage into non-replicated storage — on a real cluster an executor
    // loss mid-query fails the query instead of recomputing the pinned
    // partitions.
    val ranked = pa.crossJoin(pb)
      .select(col("id_a"), col("id_b"),
        cosineFast(col("__va"), col("__vb")).as("__cos"))
      .withColumn("__ra", row_number().over(
        Window.partitionBy(col("id_a")).orderBy(col("__cos").desc, col("id_b").asc)))
      .withColumn("__rb", row_number().over(
        Window.partitionBy(col("id_b")).orderBy(col("__cos").desc, col("id_a").asc)))
      .localCheckpoint(false)
    val avgA = ranked.filter(col("__ra") <= k)
      .groupBy(col("id_a")).agg(avg(col("__cos")).as("__avga"))
    val avgB = ranked.filter(col("__rb") <= k)
      .groupBy(col("id_b")).agg(avg(col("__cos")).as("__avgb"))
    ranked.filter(col("__ra") === 1)
      .join(avgA, Seq("id_a"))
      .join(avgB, Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        round(col("__cos"), 4).as("cosine_sim"),
        round(col("__cos") / ((col("__avga") + col("__avgb")) / 2), 4).as("margin"))
      .filter(col("margin") >= minMargin)
  }

  /**
   * Within-cluster near-identical pairs over a nearest-centroid-assigned
   * corpus (the candidate step of [[semDedup]]). Input must carry a
   * `cluster_id` column (from [[assignToCentroids]]); only vectors
   * sharing a cluster are compared, via a self-equi-join on `cluster_id`
   * — candidate work is Σ|cell|², never the corpus-wide all-pairs of
   * [[cosineNearDupPairs]], and cell size is controlled by the centroid
   * count k. Same rounded-cosine threshold rule as the brute path, so
   * the two pair sources are directly comparable.
   */
  def semDedupPairs(assigned: DataFrame, threshold: Double,
      idCol: String = "vec_id", vecCol: String = "embedding",
      maxCellSize: Int = Int.MaxValue): DataFrame = {
    // cell-size cap (off by default): a skewed centroid table can
    // concentrate the corpus into few cells, unbounding the Σ|cell|² pair
    // work. Cells larger than `maxCellSize` are split into ceil(n/cap)
    // sub-cells on xxhash64 of the EMBEDDING — deterministic, and exact
    // duplicates always hash into the same sub-cell, so they are never
    // missed; genuinely-near (not identical) pairs across a split are the
    // accepted recall cost of bounding skew, the same trade
    // Dedup.minhashNearDups' oversized-bucket guard makes. The cell-size
    // census is k rows — broadcast.
    val cells =
      if (maxCellSize == Int.MaxValue) assigned.withColumn("__sub", lit(0L))
      else {
        val sizes = assigned.groupBy(col("cluster_id"))
          .agg(count(lit(1)).as("__n"))
          .withColumn("__splits",
            ceil(col("__n").cast("double") / maxCellSize).cast("long"))
          .select(col("cluster_id").as("__sc"), col("__splits"))
        assigned.join(broadcast(sizes), col("cluster_id") === col("__sc"))
          .withColumn("__sub", pmod(xxhash64(col(vecCol)), col("__splits")))
          .drop("__sc", "__splits")
      }
    // the probe side pays |cell| cosine kernels per row — fan out a
    // single-task small scan (no-op when already parallel); the build
    // side stays unfanned (it broadcasts)
    val a = Par.fanOut(cells, col(idCol))
      .select(col("cluster_id"), col("__sub"), col(idCol).as("id_a"),
      col(vecCol).as("__va"))
    val b = cells.select(col("cluster_id").as("__cb"), col("__sub").as("__sb"),
      col(idCol).as("id_b"), col(vecCol).as("__vb"))
    a.join(b, col("cluster_id") === col("__cb") && col("__sub") === col("__sb")
        && col("id_a") < col("id_b"))
      .select(col("cluster_id"), col("id_a"), col("id_b"),
        round(cosineFast(col("__va"), col("__vb")), 4).as("cosine_sim"))
      .filter(col("cosine_sim") >= threshold)
  }

  /**
   * SemDeDup-style semantic deduplication (Abbas et al. 2023,
   * arXiv:2303.09540): assign every embedding to its max-cosine centroid,
   * detect near-identical pairs ONLY within each cluster cell, then keep
   * one representative per duplicate component (minimum id, via the same
   * [[Dedup.keepRepresentatives]] tail every other near-dup source
   * feeds) plus every unpaired row. Returns the assigned frame
   * (input columns + `cluster_id`) filtered to the kept rows.
   *
   * The cluster bucketing is what makes this the 100 TB path: pairwise
   * cosine never crosses cells, and with corpus-proportional k the
   * expected cell stays bounded, so the quadratic term is per-cell, not
   * per-corpus — with `maxCellSize` as the guard against SKEWED cells
   * (see [[semDedupPairs]]). Deterministic given a fixed centroid table
   * (argmax ties break toward the lowest centroid id; the threshold
   * applies to the 4-decimal-rounded cosine), so exactly replayable by a
   * SQL oracle.
   */
  def semDedup(vectors: DataFrame, centroids: DataFrame, threshold: Double,
      idCol: String = "vec_id", vecCol: String = "embedding",
      centroidIdCol: String = "vec_id",
      maxCellSize: Int = Int.MaxValue): DataFrame = {
    // the assignment feeds three consumers (both sides of the pair
    // self-join and the keep-representatives rejoin); since
    // assignToCentroids is pure narrow map work over the scan, the three
    // re-evaluations are cheap re-scans — measured FASTER than
    // persist/localCheckpoint, whose serialization of the embedding
    // arrays costs more than the recompute saves
    val assigned =
      assignToCentroids(vectors, centroids, idCol, vecCol, centroidIdCol)
    // semDedup pairs never cross cells, so components are cell-local:
    // the grouped union-find CC (one id-only shuffle) replaces the
    // generic iterative loop, whose per-round checkpoint + convergence
    // jobs dominated the whole pipeline's cost (r10 profile: ~3.5 s of a
    // 3.7 s total at sf0.1 for a 1081-edge graph)
    val pairs = semDedupPairs(assigned, threshold, idCol, vecCol, maxCellSize)
    Dedup.keepByComponents(assigned,
      Dedup.groupedConnectedComponents(pairs, "cluster_id"), idCol)
  }

  /**
   * Nearest-centroid assignment — the "online" half of k-means and the
   * semantic-clustering step of a corpus pipeline (topic bucketing,
   * cluster-balanced sampling, per-cluster dedup). Every vector is
   * assigned to its max-cosine centroid (ties broken by lowest centroid
   * id). Unlike [[ivfTopK]] this takes the centroid table as INPUT, so
   * assignment is fully deterministic and replayable in SQL.
   *
   * Scale shape, small k (k*dim literals ≤ [[UnrolledAssignLimit]]): ZERO
   * shuffle and zero row expansion. The k centroid rows are collected to
   * the driver — bounded by the unroll limit, so never unbounded row data
   * — and unrolled into k codegen'd [[cosineFast]] calls per corpus row;
   * the argmax is find-first-max over that similarity array, so ties
   * break toward the lowest centroid id exactly like a
   * (sim desc, cid asc) window ordering would.
   *
   * Above the limit (corpus-proportional k — semDedup's 100 TB design
   * point), unrolling would blow past JVM/codegen method limits and
   * driver memory, so assignment falls back to a broadcast-hash-join
   * argmax: corpus crossJoin broadcast(centroids), then ONE hash
   * aggregation taking max(struct(sim, -cluster_id)) per id — map-side
   * partial aggregation collapses each partition to one struct per id, so
   * the exchange carries id-keyed 16-byte structs, never the k-expanded
   * embeddings the former window shape shuffled — and an id-keyed rejoin
   * to the input row. Tie-breaking (max sim, then lowest centroid id) is
   * identical in both paths.
   *
   * Null/empty-embedding contract (both paths): `cluster_id` is NULL.
   * Such rows are never compared by [[semDedupPairs]] (the cell equi-join
   * drops null keys) and are always kept by the dedup tail — the caller
   * filters them explicitly if they should not survive.
   */
  def assignToCentroids(vectors: DataFrame, centroids: DataFrame,
      idCol: String = "vec_id", vecCol: String = "embedding",
      centroidIdCol: String = "vec_id"): DataFrame = {
    val k = centroids.count()
    require(k > 0, "assignToCentroids: empty centroid table")
    val vecOk = col(vecCol).isNotNull && size(col(vecCol)) > 0
    // (r17 note: a Par.fanOut of `vectors` here measured SLOWER in an
    // interleaved A/B (+0.11 s assign, +0.57 s over a 3-round kmeans
    // train) — k unrolled cosines per row are cheaper than an exchange,
    // and the training loop pays the exchange once per iteration)
    val src = vectors
    if (k * vectorDim(centroids, vecCol) <= UnrolledAssignLimit) {
      val cents = centroids
        .select(col(centroidIdCol).cast("long").as("cluster_id"),
          col(vecCol).cast("array<double>").as("__centroid"))
        .orderBy("cluster_id")
        .collect()
        .map(r => (r.getLong(0), r.getSeq[Double](1)))
        .toSeq
      assignUnrolled(src, cents, vecCol)
    } else {
      val cents = centroids.select(
        col(centroidIdCol).cast("long").as("__cent_id"),
        col(vecCol).cast("array<double>").as("__centroid"))
      val best = src
        .filter(vecOk)
        .select(col(idCol).as("__vid"), col(vecCol).as("__v"))
        .crossJoin(broadcast(cents))
        .groupBy(col("__vid"))
        .agg(max(struct(
          cosineFast(col("__v").cast("array<double>"), col("__centroid")).as("s"),
          (-col("__cent_id")).as("negId"))).as("__best"))
        .select(col("__vid"), (-col("__best.negId")).as("cluster_id"))
      src.join(best, src(idCol) === col("__vid"), "left")
        .drop("__vid")
    }
  }

  /** The unrolled small-k assignment over DRIVER-LOCAL centroids — the
    * shared core of [[assignToCentroids]]' literal path, split out (r18)
    * so [[kmeansTrain]] can feed each round's centroids straight from the
    * previous round's collected rows instead of paying a count() job, a
    * dim-probe head() job, and a LocalRelation round-trip per iteration.
    * `cents` must be sorted by cluster id ascending (find-first argmax
    * then ties toward the lowest id, identical to a (sim desc, cid asc)
    * window ordering). */
  private[ops] def assignUnrolled(src: DataFrame,
      cents: Seq[(Long, Seq[Double])], vecCol: String): DataFrame = {
    val vecOk = col(vecCol).isNotNull && size(col(vecCol)) > 0
    val sims = array(cents.map { case (_, v) =>
      cosineFast(col(vecCol).cast("array<double>"), typedlit(v)) }: _*)
    val ids = typedlit(cents.map(_._1))
    // the outer when() is load-bearing: element_at on a FOLDABLE array
    // with a null index constant-folds to a non-null element in Spark
    // 4.1, so null must be forced before the literal lookup
    src
      .withColumn("__sims", when(vecOk, sims))
      .withColumn("cluster_id",
        when(vecOk, element_at(ids,
          array_position(col("__sims"), array_max(col("__sims"))).cast("int"))))
      .drop("__sims")
  }

  /** Unroll threshold for [[assignToCentroids]]: above ~10k literal
    * doubles the generated code risks the JVM method-size cliff (silent
    * interpreted fallback) and the driver collect stops being "bounded by
    * k". Overridable for tests. */
  private[graft] var UnrolledAssignLimit: Long = 10000L

  private def vectorDim(df: DataFrame, vecCol: String): Long =
    df.select(size(col(vecCol))).head() match {
      case r if r.isNullAt(0) => 0L
      case r => r.getInt(0).toLong
    }

  /**
   * Symmetric per-vector int8 quantization — the embedding-storage
   * compression step (4x over float32) of a large-scale vector pipeline.
   * Adds `scale` (= max|x| / 127) and `qvec` (each element
   * `clamp(round(x / scale), -127, 127)`) to every row; dequantization is
   * `q * scale`. All-zero vectors quantize to zeros with scale 0. Every
   * step is deterministic IEEE double math (division, then half-away-from-
   * zero rounding — the same rule DuckDB's `round` applies), so the
   * transform is exactly replayable in the oracle.
   *
   * Scale shape: pure narrow per-row map work, no shuffle.
   */
  def quantizeInt8(df: DataFrame, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    // (r17 note: a Par.fanOut here re-measured as noise (+0.01 s
    // interleaved) and PlanQualitySpec pins this op as a pure narrow map
    // — no exchange before the write; left narrow deliberately)
    // r18: the quantization runs in the native QuantizeInt8 expression —
    // one codegen'd pass per row where an aggregate + transform HOF chain
    // paid interpreted per-ELEMENT lambda eval (s_quantize: 0.78 s of
    // stable single-task lambda time at sf0.1, ~1.5 ms/row on 64-dim
    // vectors). Bit-identical to that chain (QuantizeParitySpec keeps it
    // as the reference, including the null/NaN/Inf quirks).
    val q = GraftFunctions.quantize_int8(col(vecCol).cast("array<double>"))
    df.withColumn("__q8", q)
      .withColumn("scale", col("__q8.scale"))
      .withColumn("qvec", col("__q8.qvec"))
      .drop("__q8")
  }

  /**
   * One full (Lloyd) k-means iteration as a DataFrame transform: assign
   * every vector to its nearest centroid ([[assignToCentroids]]), then
   * recompute each centroid as the per-dimension mean of its members.
   * Returns the updated centroids in long form — `(cluster_id, dim,
   * centroid_val, n_vecs)` — which composes directly into the next
   * iteration's centroid table (or a convergence check) and keeps the
   * output oracle-checkable without array-equality comparisons.
   *
   * Scale shape: the assignment is [[assignToCentroids]]' narrow
   * zero-exchange map (k unrolled codegen'd cosine calls per row; no
   * window, no corpus expansion — broadcast-join argmax above the unroll
   * limit); the mean update is one narrow posexplode and ONE hash
   * aggregation on (cluster_id, dim) — k*dim output rows — with map-side
   * partial aggregation collapsing each partition's sums, so the shuffle
   * carries k*dim partial states per partition, never the vectors.
   */
  def kmeansStep(vectors: DataFrame, centroids: DataFrame,
      idCol: String = "vec_id", vecCol: String = "embedding",
      centroidIdCol: String = "vec_id"): DataFrame =
    meanUpdate(
      assignToCentroids(vectors, centroids, idCol, vecCol, centroidIdCol),
      vecCol)

  /** The per-dimension mean update over an assigned frame — shared by
    * [[kmeansStep]] and [[kmeansTrain]]'s driver-local fast loop so both
    * run the exact same expressions. */
  private def meanUpdate(assigned: DataFrame, vecCol: String): DataFrame =
    assigned
      .select(col("cluster_id"), posexplode(col(vecCol)).as(Seq("dim", "__x")))
      .groupBy(col("cluster_id"), col("dim"))
      // + 0.0 folds IEEE negative zero into +0.0 so engines that round a
      // tiny negative mean to -0.0 (DuckDB) agree with ones that don't
      .agg((round(avg(col("__x").cast("double")), 4) + lit(0.0)).as("centroid_val"),
        count(lit(1)).as("n_vecs"))

  /**
   * Full Lloyd's k-means TRAINING LOOP: `iters` [[kmeansStep]] rounds with
   * a driver sync between them — after every step the k·dim centroid rows
   * (metadata-sized by definition) are collected and rebuilt as a fresh
   * local centroid relation, exactly the Spark MLlib iteration pattern.
   * The driver sync is load-bearing twice over: it RESETS THE LINEAGE
   * (chaining the step transform symbolically would double the plan per
   * iteration), and it materializes each round's centroids at the same
   * 4-decimal quantization the step emits, so an independent engine
   * replaying the loop (the DuckDB oracle chains the same rounded CTEs)
   * lands on bit-identical centroids every round — quantized updates are
   * what make an iterative float pipeline cross-engine reproducible.
   *
   * Per-iteration cost is one corpus pass: the narrow unrolled assignment
   * + one (cluster, dim)-keyed aggregation whose map-side partials bound
   * the shuffle at k·dim rows per partition. Clusters that lose all
   * members drop out (both engines agree). Returns the FINAL round's long
   * form `(cluster_id, dim, centroid_val, n_vecs)`.
   */
  def kmeansTrain(vectors: DataFrame, initCentroids: DataFrame, iters: Int,
      idCol: String = "vec_id", vecCol: String = "embedding",
      centroidIdCol: String = "vec_id"): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    val spark = vectors.sparkSession
    import spark.implicits._
    // r18: the centroids live on the DRIVER between rounds. The previous
    // loop rebuilt a LocalRelation each round and re-entered
    // assignToCentroids, which re-collected it, re-probed its dimension
    // (a head() job) and re-counted it (another job) before the step —
    // three extra driver-synced jobs per iteration on a loop whose stage
    // work is ~0.5 s under a ~1.1 s wall at sf0.1. One initial collect
    // replaces all of that; each round feeds the unrolled assignment
    // straight from the previous round's collected rows. Semantics are
    // byte-identical: same ordered collect, same unrolled expressions
    // (assignUnrolled + meanUpdate are the exact code kmeansStep runs),
    // same 4-dp quantized driver sync the oracle replays.
    var cents = initCentroids.select(
        col(centroidIdCol).cast("long").as("vec_id"),
        col(vecCol).cast("array<double>").as("embedding"))
      .orderBy("vec_id").collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1))).toSeq
    require(cents.nonEmpty, "assignToCentroids: empty centroid table")
    val dim0 = Option(cents.head._2).map(_.length.toLong).getOrElse(0L)
    var lastRows: Array[org.apache.spark.sql.Row] = Array.empty
    if (cents.size * dim0 > UnrolledAssignLimit) {
      // corpus-proportional k (semDedup's design point): the broadcast-
      // join argmax path — per-round centroid tables stay DataFrames
      var centsDf = cents.toDF("vec_id", "embedding")
      for (_ <- 0 until iters) {
        lastRows = kmeansStep(vectors, centsDf, idCol, vecCol, "vec_id")
          .collect()
        centsDf = lastRows.groupBy(_.getLong(0)).toSeq.sortBy(_._1)
          .map { case (cid, rs) =>
            (cid, rs.sortBy(_.getInt(1)).map(_.getDouble(2)).toSeq)
          }.toDF("vec_id", "embedding")
      }
    } else {
      for (_ <- 0 until iters) {
        lastRows = meanUpdate(assignUnrolled(vectors, cents, vecCol), vecCol)
          .collect()
        cents = lastRows.groupBy(_.getLong(0)).toSeq.sortBy(_._1)
          .map { case (cid, rs) =>
            (cid, rs.sortBy(_.getInt(1)).map(_.getDouble(2)).toSeq)
          }
      }
    }
    lastRows.toSeq
      .map(r => (r.getLong(0), r.getInt(1), r.getDouble(2), r.getLong(3)))
      .toDF("cluster_id", "dim", "centroid_val", "n_vecs")
  }

  /** sequential left-to-right cosine over plain arrays — the in-task twin
    * of [[cosine]], same fold order so both produce identical doubles */
  private def cosineArr(a: Array[Double], b: Array[Double]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < a.length) {
      dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  /**
   * Maximal Marginal Relevance diversified top-k (Carbonell & Goldstein
   * 1998 — public literature; the reference ships no retrieval ops, this
   * is mandated LLM-pipeline surface): greedily pick `k` of each query's
   * `poolSize` most-relevant candidates, each round maximizing
   * `λ·rel(c) − (1−λ)·max_{s∈selected} sim(c, s)` — the standard rerank
   * that keeps retrieval results (or per-topic training-data picks) from
   * collapsing onto near-duplicates of one hit.
   *
   * Scale shape: relevance is ONE corpus scan against broadcast queries
   * (bruteForceTopK's shape — swap [[ivfSearch]] in as the pool source at
   * ANN scale); the greedy rerank then runs per query over its ≤poolSize
   * pool inside a single task (`flatMapGroups`) — O(poolSize²·d) flops
   * per query, constant by construction, perfectly parallel across
   * queries — so candidate vectors shuffle exactly once, keyed by query.
   * Ties rank by (score desc, neighbor id asc) so the greedy trajectory
   * is deterministic and independently replayable (the DuckDB oracle
   * unrolls the rounds).
   */
  def mmrSelect(queries: DataFrame, corpus: DataFrame, poolSize: Int, k: Int,
      lambda: Double = 0.7, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    require(k >= 1 && poolSize >= k,
      s"need poolSize >= k >= 1, got poolSize=$poolSize k=$k")
    require(lambda >= 0.0 && lambda <= 1.0,
      s"lambda must be in [0,1], got $lambda")
    val spark = queries.sparkSession
    import spark.implicits._
    val q = queries.select(col(idCol).cast("long").as("query_id"),
      col(vecCol).cast("array<double>").as("__qv"))
    val c = corpus.select(col(idCol).cast("long").as("neighbor_id"),
      col(vecCol).cast("array<double>").as("__cv"))
    val scored = c.crossJoin(broadcast(q))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        cosine(col("__qv"), col("__cv")).as("__rel"), col("__cv"))
      // zero-magnitude vectors cosine to NaN — excluded, or the greedy
      // argmax below would have no total order to pick from
      .filter(!isnan(col("__rel")))
    saltedTopK(scored, poolSize,
        Seq(col("__rel").desc, col("neighbor_id").asc))
      .select(col("query_id"), col("neighbor_id"), col("__rel"), col("__cv"))
      .as[(Long, Long, Double, Seq[Double])]
      .groupByKey(_._1)
      .flatMapGroups { (qid, it) =>
        val cand = it.toArray.sortBy(t => (-t._3, t._2))
        val n = cand.length
        val vecs = cand.map(_._4.toArray)
        val picked = new Array[Boolean](n)
        // max cosine from each candidate to the selected set so far.
        // -Inf marks "never read" — round 1 scores λ·rel directly, and the
        // post-pick update overwrites every unpicked slot, so a NEGATIVE
        // best cosine to the selected set stays a (diversity-rewarding)
        // negative penalty instead of silently flooring at zero
        val maxSim = Array.fill(n)(Double.NegativeInfinity)
        val out = Seq.newBuilder[(Long, Int, Long, Double)]
        var r = 0
        while (r < math.min(k, n)) {
          var best = -1; var bestScore = Double.NegativeInfinity
          var i = 0
          while (i < n) {
            if (!picked(i)) {
              val s = if (r == 0) lambda * cand(i)._3
                else lambda * cand(i)._3 - (1 - lambda) * maxSim(i)
              if (s > bestScore ||
                  (s == bestScore && cand(i)._2 < cand(best)._2)) {
                best = i; bestScore = s
              }
            }
            i += 1
          }
          picked(best) = true
          out += ((qid, r + 1, cand(best)._2, bestScore))
          i = 0
          while (i < n) {
            if (!picked(i)) {
              val s = cosineArr(vecs(i), vecs(best))
              if (s > maxSim(i)) maxSim(i) = s
            }
            i += 1
          }
          r += 1
        }
        out.result().iterator
      }
      .toDF("query_id", "rank", "neighbor_id", "__score")
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        round(col("__score"), 4).as("mmr_score"))
  }

  /**
   * Simplified (centroid-based) silhouette — the cluster-quality
   * diagnostic that is actually computable at corpus scale. The classic
   * silhouette needs all pairwise point distances (O(n²), a non-starter
   * at 100 TB); the simplified variant (Hruschka et al.) scores each
   * point against CENTROIDS only, in cosine dissimilarity:
   * `a = 1 - cos(x, nearest centroid)`, `b = 1 - cos(x, second nearest)`,
   * `s = (b - a) / max(a, b)` (0 when both are 0). Adds `cluster_id`
   * (nearest centroid, ties to the lowest id) and `silhouette` to every
   * non-null-vector row.
   *
   * Scale shape mirrors [[assignToCentroids]]: below the unroll limit the
   * k centroids become codegen literals and the whole score is narrow
   * zero-exchange map work; above it, a broadcast cross join with a
   * per-id two-smallest aggregate (k-bounded `sort_array(collect_list)`)
   * — either way the corpus is never shuffled against itself.
   */
  def silhouette(vectors: DataFrame, centroids: DataFrame,
      idCol: String = "vec_id", vecCol: String = "embedding",
      centroidIdCol: String = "vec_id"): DataFrame = {
    val vecOk = col(vecCol).isNotNull && size(col(vecCol)) > 0
    val k = centroids.count()
    require(k >= 2, s"silhouette needs >= 2 centroids, got $k")
    val src = vectors
    if (k * vectorDim(centroids, vecCol) <= UnrolledAssignLimit) {
      val cents = centroids
        .select(col(centroidIdCol).cast("long").as("cluster_id"),
          col(vecCol).cast("array<double>").as("__centroid"))
        .orderBy("cluster_id")
        .collect()
        .map(r => (r.getLong(0), r.getSeq[Double](1)))
      val dis = array(cents.map { case (_, v) =>
        lit(1.0) -
          cosineFast(col(vecCol).cast("array<double>"), typedlit(v)) }: _*)
      val ids = typedlit(cents.map(_._1))
      src.filter(vecOk)
        .withColumn("__dis", dis)
        // array_position takes the FIRST index of the min — with cents
        // sorted, a distance tie assigns the lowest cluster_id, matching
        // the fallback's min(struct(d, id)) and the oracle's
        // ORDER BY d, cluster_id
        .withColumn("cluster_id", element_at(ids,
          array_position(col("__dis"), array_min(col("__dis"))).cast("int")))
        .withColumn("__srt", sort_array(col("__dis")))
        .withColumn("silhouette", silhouetteOf(
          col("__srt")(0), col("__srt")(1)))
        .drop("__dis", "__srt")
    } else {
      val cents = broadcast(centroids.select(
        col(centroidIdCol).cast("long").as("__cid"),
        col(vecCol).cast("array<double>").as("__centroid")))
      val scored = src.filter(vecOk)
        .select(col(idCol).as("__vid"), col(vecCol).as("__v"))
        .crossJoin(cents)
        .withColumn("__d", lit(1.0) -
          cosineFast(col("__v").cast("array<double>"), col("__centroid")))
      val perVec = scored
        .groupBy(col("__vid"))
        .agg(min(struct(col("__d"), col("__cid"))).as("__best"),
          sort_array(collect_list(col("__d"))).as("__srt"))
        .select(col("__vid"), col("__best").getField("__cid").as("cluster_id"),
          silhouetteOf(col("__srt")(0), col("__srt")(1)).as("silhouette"))
      src.filter(vecOk)
        .join(perVec, col(idCol) === col("__vid"))
        .drop("__vid")
    }
  }

  /** `(b - a) / max(a, b)`, 0 when the max is 0 (point == both centroids). */
  private def silhouetteOf(a: Column, b: Column): Column =
    when(greatest(a, b) === 0d, lit(0d))
      .otherwise((b - a) / greatest(a, b))
}
