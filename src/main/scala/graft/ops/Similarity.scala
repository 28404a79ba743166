package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over an embedding column
  * (builder brief; beyond-reference extension per SURVEY §2.9/§7.4).
  *
  * Two paths, both pure DataFrame/Catalyst (no MLlib, no UDF):
  *
  *  - [[bruteForceTopK]]: exact cosine top-k — the correctness
  *    baseline. The (small) query set is broadcast against the corpus,
  *    so the scan stays embarrassingly parallel: no shuffle of the
  *    100 TB side at all; only the per-query top-k window shuffles, and
  *    it shuffles score rows (q × corpus), pre-prunable per partition.
  *
  *  - [[ivfTopK]]: the scale path — an IVF (inverted-file) index:
  *    k-means-style centroids (here: per-label means, i.e. one Lloyd
  *    iteration seeded by labels), every corpus vector assigned to its
  *    nearest centroid (broadcast join — the corpus never shuffles),
  *    queries probe only the `nprobe` nearest centroid lists. At 1000
  *    executors the probe join hits ~nprobe/nlist of the data —
  *    partition-prunable when the corpus is written bucketed/
  *    partitioned by cluster id, which is exactly how this would be
  *    laid out at 100 TB.
  *
  * Centroid components are quantized to micros before use so the
  * (order-sensitive) float averaging can never disagree with the
  * oracle's; all downstream cosine math follows the [[Vectors]]
  * sequential-fold contract.
  */
object Similarity {

  /** Exact top-k neighbors for each query row (queryPred selects the
    * query subset; neighbors exclude self).
    * Output: (qid, rank, neighbor_id, cos_micros).
    */
  def bruteForceTopK(embs: DataFrame, idCol: String, vecCol: String,
      queryPred: Column, k: Int): DataFrame = {
    // norms once per row, not once per (query, row) pair — identical
    // fold order, so cosine values (and the oracle) are unchanged.
    // Zero-norm vectors DROP (cosine is undefined; under ANSI the
    // division would throw — hit by all-zero MRL prefixes, round 12)
    val base = baseOf(embs, idCol, vecCol).filter(col("nrm") > 0)
    val queries = base.filter(queryPred)
      .select(col("id").as("qid"), col("v").as("qv"), col("nrm").as("qnrm"))
    val scored = base.join(broadcast(queries), col("id") =!= col("qid"))
      .select(col("qid"), col("id").as("neighbor_id"),
        (Vectors.dot(col("qv"), col("v")) / (col("qnrm") * col("nrm"))).as("cos"))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("cos").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("qid"), col("rank"), col("neighbor_id"),
        round(col("cos") * 1e6).cast("long").as("cos_micros"))
  }

  def bruteForceTopKSql(id: String, vec: String, table: String,
      queryPredSql: String, k: Int): String =
    s"""WITH e0 AS (SELECT $id AS id, ${Vectors.toDoubleSql(vec)} AS v FROM $table),
       |e AS (SELECT id, v FROM e0 WHERE ${Vectors.normSql("v")} > 0),
       |q AS (SELECT id AS qid, v AS qv FROM e WHERE $queryPredSql),
       |scored AS (
       |  SELECT qid, e.id AS neighbor_id, ${Vectors.cosineSql("qv", "e.v")} AS cos
       |  FROM q JOIN e ON e.id <> qid),
       |r AS (SELECT qid, neighbor_id, cos, row_number() OVER (
       |        PARTITION BY qid ORDER BY cos DESC, neighbor_id) AS rank
       |      FROM scored)
       |SELECT qid, rank::BIGINT AS rank, neighbor_id,
       |  round(cos * 1e6)::BIGINT AS cos_micros
       |FROM r WHERE rank <= $k""".stripMargin

  /** Per-cluster centroids: mean of each dimension, quantized to
    * micros. Seeded by the given cluster column (one Lloyd step; a
    * full k-means is this same dataflow iterated).
    * Output: (cl, cent: array<double>).
    */
  def centroids(embs: DataFrame, clusterCol: String, vecCol: String): DataFrame =
    embs
      .select(col(clusterCol).as("cl"),
        posexplode(Vectors.toDouble(col(vecCol))).as(Seq("d", "x")))
      .groupBy(col("cl"), col("d"))
      .agg((round(avg(col("x")) * 1e6) / 1e6).as("cx"))
      .groupBy(col("cl"))
      .agg(transform(array_sort(collect_list(struct(col("d"), col("cx")))),
        s => s.getField("cx")).as("cent"))

  def centroidsSql(cluster: String, vec: String, table: String): String =
    s"""SELECT $cluster AS cl, list(cx ORDER BY d) AS cent FROM (
       |  SELECT $cluster, d, round(avg(v[d + 1]) * 1e6) / 1e6 AS cx
       |  FROM (SELECT $cluster, ${Vectors.toDoubleSql(vec)} AS v FROM $table)
       |    CROSS JOIN range(0, 64) t(d)
       |  GROUP BY 1, 2) GROUP BY 1""".stripMargin

  // cached once per distinct base plan: every search/training pass
  // re-reads (id, v, nrm); all call sites over the same table share
  // one materialization (lifecycle contract: [[Caching.cachedOnce]])
  private def baseOf(embs: DataFrame, idCol: String, vecCol: String): DataFrame =
    Caching.cachedOnce(
      embs.select(col(idCol).as("id"), Vectors.toDouble(col(vecCol)).as("v"))
        .withColumn("nrm", Vectors.norm(col("v"))))

  private[ops] def withCNorm(centroids: DataFrame): DataFrame =
    centroids.withColumn("cnrm", Vectors.norm(col("cent")))

  /** Corpus → its `massign` nearest centroids, output (id, cl) rows —
    * a ZERO-shuffle narrow map: the (≤nlist-row) centroid table is
    * collapsed to a single array row, broadcast, and each corpus
    * vector picks its top-m lists with an in-row sort over nlist
    * candidate structs. No fan-out rows, no exchange — the assignment
    * stays co-partitioned with the corpus scan, which is exactly the
    * 100 TB shape (an IVF index build is one narrow pass over the
    * corpus). The in-row HOF sort is interpreted (ArraySort is
    * CodegenFallback) but touches only nlist tiny structs per row.
    *
    * massign > 1 is IVF *multiple assignment*: each vector is posted
    * to every list it straddles, so index storage grows ×massign and
    * recall at a fixed nprobe rises sharply (boundary vectors stop
    * hiding in unprobed lists). Tie-breaks (cos desc, cl asc) match
    * the oracle's row_number ordering exactly.
    *
    * The most expensive search stage — computed once per centroid set
    * and shared across probe widths (see [[ivfRecallSweep]]).
    */
  private[ops] def assignToNearest(base: DataFrame, cents: DataFrame,
      massign: Int = 1): DataFrame =
    assignWithVec(base, cents, massign).select(col("id"), col("cl"))

  /** [[assignToNearest]] carrying the vector THROUGH the pick:
    * (id, v, nrm, cl) with zero exchange. Callers that need the
    * assigned vectors used to re-join `base` on id — a broadcast
    * build locally, but TWO corpus-wide exchanges per call at scale
    * (guide §2.4: remove shuffles outright). Since the pick itself is
    * a narrow map over `base`, the vector columns ride along for
    * free; plain [[assignToNearest]] projects them away and column
    * pruning keeps its plan unchanged.
    */
  private[ops] def assignWithVec(base: DataFrame, cents: DataFrame,
      massign: Int = 1): DataFrame = {
    // the (≤nlist-row) centroid table collapses to ONE broadcast row of
    // parallel arrays ordered by cluster id (array_sort on the struct
    // sorts by its first field, cl); the per-row pick is the native
    // codegen'd arg_top_m_cos — key and tie-break order identical to
    // the struct-sort pipeline it replaces (position asc ≡ cl asc), so
    // oracle values are unchanged, but the corpus-side projection now
    // stays inside whole-stage codegen (ArraySort is CodegenFallback)
    val centArr = cents.agg(
        array_sort(collect_list(struct(col("cl"), col("cent"), col("cnrm")))).as("cs"))
      .select(
        transform(col("cs"), c => c.getField("cl")).as("cls"),
        transform(col("cs"), c => c.getField("cent")).as("cmat"),
        transform(col("cs"), c => c.getField("cnrm")).as("cnrms"))
    base.join(broadcast(centArr))
      .select(col("id"), col("v"), col("nrm"), col("cls"),
        explode(graft.functions.ArrayExprs.argTopMCos(col("v"), col("nrm"),
          col("cmat"), col("cnrms"), massign)).as("pos"))
      .select(col("id"), col("v"), col("nrm"),
        element_at(col("cls"), col("pos") + 1).as("cl"))
  }

  /** The IVF probe/rank stage over a prebuilt assignment: each query
    * probes its `nprobe` nearest centroid lists and ranks only those
    * vectors. `cents` must carry cnrm ([[withCNorm]]); `dedupCands`
    * must be set when the assignment is multiple (massign > 1), so a
    * vector reachable through several probed lists is ranked once.
    */
  private def searchAssigned(base: DataFrame, cents: DataFrame,
      assigned: DataFrame, queryPred: Column, k: Int, nprobe: Int,
      dedupCands: Boolean = false): DataFrame = {
    // queries → nprobe nearest centroids
    val queries = base.filter(queryPred)
      .select(col("id").as("qid"), col("v").as("qv"), col("nrm").as("qnrm"))
    val wProbe = Window.partitionBy(col("qid"))
      .orderBy(col("pcos").desc, col("cl").asc)
    val probes = queries.join(broadcast(cents))
      .select(col("qid"), col("qv"), col("qnrm"), col("cl"),
        (Vectors.dot(col("qv"), col("cent")) / (col("qnrm") * col("cnrm"))).as("pcos"))
      .withColumn("prn", row_number().over(wProbe))
      .filter(col("prn") <= nprobe)
      .select(col("qid"), col("qv"), col("qnrm"), col("cl"))

    // rank within probed lists only; with multiple assignment the same
    // (query, vector) pair can arrive via several shared lists — dedup
    // the (tiny: queries × candidates) pair set before scoring
    val pairs0 = probes
      .join(assigned, "cl")
      .filter(col("id") =!= col("qid"))
      .select(col("qid"), col("qv"), col("qnrm"), col("id"))
    val pairs = if (dedupCands) pairs0.distinct() else pairs0
    val candidates = pairs
      .join(base, "id")
      .select(col("qid"), col("id").as("neighbor_id"),
        (Vectors.dot(col("qv"), col("v")) / (col("qnrm") * col("nrm"))).as("cos"))
    val wTop = Window.partitionBy(col("qid"))
      .orderBy(col("cos").desc, col("neighbor_id").asc)
    candidates.withColumn("rank", row_number().over(wTop).cast("long"))
      .filter(col("rank") <= k)
      .select(col("qid"), col("rank"), col("neighbor_id"),
        round(col("cos") * 1e6).cast("long").as("cos_micros"))
  }

  /** One-shot IVF search over a raw centroid table (cl, cent):
    * assignment + probe/rank in one plan.
    */
  private def searchLists(base: DataFrame, centroids: DataFrame,
      queryPred: Column, k: Int, nprobe: Int): DataFrame = {
    val cents = withCNorm(centroids)
    searchAssigned(base, cents, assignToNearest(base, cents),
      queryPred, k, nprobe)
  }

  /** IVF search with label-seeded (one Lloyd step) centroids.
    * Output: (qid, rank, neighbor_id, cos_micros).
    */
  def ivfTopK(embs: DataFrame, idCol: String, vecCol: String,
      clusterCol: String, queryPred: Column, k: Int, nprobe: Int): DataFrame =
    searchLists(baseOf(embs, idCol, vecCol),
      centroids(embs, clusterCol, vecCol), queryPred, k, nprobe)

  // ------------------------------------------------- trained k-means IVF

  /** Integer-exact per-cluster centroids over (cl, v) rows: each
    * component is quantized to micros (exact long per element), summed
    * as integers — associative, so partition order CANNOT perturb the
    * result, unlike a float avg — and the mean re-quantized to micros.
    * This is what makes an ITERATED k-means bit-reproducible in the
    * oracle: float-sum nondeterminism can never compound across
    * rounds.
    */
  def centroidsExact(assigned: DataFrame, dim: Int): DataFrame = {
    // ONE partial-aggregated exchange (r17, guide §2.3/§2.4): the old
    // shape exploded every vector to `dim` (cl, d, x) rows and paid
    // THREE exchanges per Lloyd round — (cl, d) partial→final, then a
    // collect_list ObjectHashAggregate pair to re-assemble the array
    // (interpreted, not codegen). Aggregating the per-element integer
    // micro-sums as `dim` LONG columns in a single groupBy(cl) keeps
    // the round inside whole-stage codegen, shuffles nlist·(dim+2)
    // longs instead of corpus·dim exploded rows, and needs no
    // re-assembly sort. Values are bit-identical: same per-element
    // round(x·1e6) long, same associative integer sum, same
    // round(sum/count)/1e6 re-quantization (the SQL twin already
    // hardcodes the dimension — `centroidsExactSql(…, dim)`).
    val sums = (0 until dim).map(d =>
      sum(round(element_at(col("v"), d + 1) * 1e6).cast("long"))
        .as(s"__s$d"))
    assigned
      .groupBy(col("cl"))
      .agg(count(lit(1)).as("__n"), sums: _*)
      .select(col("cl"), array((0 until dim).map(d =>
        round(col(s"__s$d").cast("double") / col("__n")) / 1e6): _*)
        .as("cent"))
  }

  /** Vector width, probed once from the data (one aggregate job).
    * Every corpus these operators see must be fixed-width: a ragged
    * one fails here naming both widths, rather than having the
    * centroids silently truncate the wider rows to a sampled narrower
    * width. An empty corpus probes as width 1.
    */
  private[ops] def vecDim(embs: DataFrame, vecCol: String): Int = {
    val r = embs.agg(min(size(col(vecCol))), max(size(col(vecCol)))).head()
    if (r.isNullAt(0)) 1
    else {
      require(r.getInt(0) == r.getInt(1),
        s"vector column $vecCol is ragged: widths ${r.getInt(0)} and " +
          s"${r.getInt(1)} — every vector must have the same width")
      r.getInt(0)
    }
  }

  def centroidsExactSql(assign: String, dim: Int): String =
    s"""SELECT cl, list(cx ORDER BY d) AS cent FROM (
       |  SELECT cl, d,
       |    round(sum(round(v[d + 1] * 1e6)::BIGINT)::DOUBLE / count(*)) / 1e6 AS cx
       |  FROM $assign CROSS JOIN range(0, $dim) t(d)
       |  GROUP BY 1, 2) GROUP BY 1""".stripMargin

  /** Deterministic Lloyd iteration: seed centroids from the label
    * column (integer-exact means), then `iters` rounds of
    * assign-to-nearest-by-cosine + integer-exact recompute. Clusters
    * that lose every point keep their previous centroid. All
    * tie-breaks explicit, every arithmetic step exact or quantized —
    * the oracle unrolls the SAME rounds and matches bit-for-bit.
    */
  def kmeans(embs: DataFrame, idCol: String, vecCol: String,
      seedCol: String, iters: Int): DataFrame =
    kmeansAt(embs, idCol, vecCol, seedCol, iters, vecDim(embs, vecCol))

  /** [[kmeans]] at an already-probed width `dim` ([[vecDim]]). */
  private[ops] def kmeansAt(embs: DataFrame, idCol: String, vecCol: String,
      seedCol: String, iters: Int, dim: Int): DataFrame = {
    val spark = embs.sparkSession
    val base = baseOf(embs, idCol, vecCol)
    val seed = centroidsExact(
      embs.select(col(seedCol).as("cl"), Vectors.toDouble(col(vecCol)).as("v")),
      dim)
    // The centroid table is ≤ nlist rows (tens), so each Lloyd round's
    // "keep the previous centroid when a cluster empties" merge lives
    // on the DRIVER: collect the round's aggregate (the one job a
    // round fundamentally needs) and rebuild a LocalRelation. The old
    // shape did the merge as a cents⟗computed join + localCheckpoint —
    // 3-4 extra scheduled jobs per round of pure overhead (job counts:
    // queries here run 1-task jobs at ~0.1 s fixed cost each) plus
    // checkpoint blocks the ContextCleaner had to chase (the
    // Bench System.gc() note). Values are bit-identical: same
    // integer-exact aggregate, same keep-previous rule, now a Scala
    // map lookup; downstream consumers broadcast the (sorted)
    // centroid rows, and every consumer aggregates them through
    // array_sort(collect_list(...)), so row order never mattered.
    val schema = seed.schema
    def toDf(rows: Array[org.apache.spark.sql.Row]) =
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
    var centRows = seed.collect().sortBy(_.get(0).toString)
    for (_ <- 1 to iters) {
      // assignWithVec: the round's (cl, v) pairs come straight off the
      // narrow broadcast pick — no per-round re-join of `base` on id
      // (guide §2.4: that join is two corpus exchanges at scale)
      val assigned = assignWithVec(base, withCNorm(toDf(centRows)))
        .select(col("cl"), col("v"))
      val computed = centroidsExact(assigned, dim).collect()
      val byCl = computed.map(r => r.get(0) -> r.get(1)).toMap
      centRows = centRows.map { r =>
        byCl.get(r.get(0))
          .map(c => org.apache.spark.sql.Row(r.get(0), c))
          .getOrElse(r)
      }
    }
    toDf(centRows)
  }

  /** IVF search over TRAINED (iterated k-means) centroids; `massign`
    * posts each corpus vector to that many nearest lists
    * ([[assignToNearest]]).
    */
  def ivfTopKTrained(embs: DataFrame, idCol: String, vecCol: String,
      seedCol: String, queryPred: Column, k: Int, nprobe: Int,
      iters: Int, massign: Int = 1): DataFrame = {
    val base = baseOf(embs, idCol, vecCol)
    val cents = withCNorm(kmeans(embs, idCol, vecCol, seedCol, iters))
    searchAssigned(base, cents, assignToNearest(base, cents, massign),
      queryPred, k, nprobe, dedupCands = massign > 1)
  }

  /** X127 — cluster-balanced sample: an exact per-CLUSTER quota over
    * the trained k-means partition of embedding space — the
    * topic-balanced subset selection step (eval-set construction,
    * diversity-budgeted training mixes) where a plain corpus-wide
    * sample would reproduce the corpus's topic skew. [[kmeans]]
    * trains the centroids (deterministic, oracle-unrolled), every
    * vector single-assigns to its nearest list, and each cluster
    * yields its `n` lowest-salted-hash members ([[
    * Curation.stratifiedSample]]'s exact-quota shape, keyed on the
    * LEARNED cluster instead of a metadata column) — reproducible,
    * unbiased w.r.t. ingest order, independent of the split/mix/shard
    * salts. Output: (cl, vec_id, rank), ≤ nlist·n rows.
    *
    * == 100 TB shape ==
    *
    * Training cost is the bounded Lloyd loop (nlist-row centroid
    * table per round); assignment is [[assignToNearest]]'s
    * zero-shuffle narrow map; the quota is a per-cluster window that
    * compiles to WindowGroupLimit — each input partition forwards at
    * most n rows per cluster BEFORE the exchange (the X95 domain-cap
    * shape), so the corpus never rides the sample's shuffle.
    */
  def clusterSample(embs: DataFrame, idCol: String, vecCol: String,
      seedCol: String, iters: Int, n: Int): DataFrame = {
    val base = baseOf(embs, idCol, vecCol)
    val cents = withCNorm(kmeans(embs, idCol, vecCol, seedCol, iters))
    val w = Window.partitionBy(col("cl")).orderBy(col("h"), col("id"))
    assignToNearest(base, cents)
      .withColumn("h",
        Hashing.hash60(concat(lit("clsample_"), col("id").cast("string"))))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= n)
      .select(col("cl"), col("id").as("vec_id"), col("rank"))
  }

  /** The frozen centroid set: cluster ids (cl asc — the order
    * [[assignToNearest]]'s collapsed array uses, so frozen and batch
    * tie-breaks agree positionally), centroid vectors, and their
    * norms AS COMPUTED by the batch expression (collected, not
    * recomputed — double math stays bit-identical). nlist·(dim+2)
    * doubles IS the model.
    */
  final case class CentroidModel(cls: IndexedSeq[Long],
      cents: IndexedSeq[IndexedSeq[Double]], cnrms: IndexedSeq[Double])

  /** The offline half of the streaming cluster assignment: train
    * [[kmeans]] on the static corpus and collect the centroid table.
    * One bounded action (nlist rows) at stage construction.
    */
  def freezeCentroids(embs: DataFrame, idCol: String, vecCol: String,
      seedCol: String, iters: Int): CentroidModel = {
    val rows = withCNorm(kmeans(embs, idCol, vecCol, seedCol, iters))
      .select(col("cl").cast("long"), col("cent"), col("cnrm"))
      .orderBy(col("cl")).collect()
    CentroidModel(
      rows.map(_.getLong(0)).toIndexedSeq,
      rows.map(_.getSeq[Double](1).toIndexedSeq).toIndexedSeq,
      rows.map(_.getDouble(2)).toIndexedSeq)
  }

  /** Assign docs to their nearest frozen centroid — a pure narrow
    * map (the centroid matrix is a literal; the per-row pick is the
    * codegen'd arg-top-m expression, cos-desc/cl-asc tie-breaks
    * identical to [[assignToNearest]]'s, so on the corpus the model
    * was frozen from the assignment matches the in-plan training
    * path exactly). Adds a `cl` column (long).
    */
  def assignFrozen(docs: DataFrame, vecCol: String,
      model: CentroidModel): DataFrame = {
    val v = Vectors.toDouble(col(vecCol))
    docs
      .withColumn("cl", element_at(typedLit(model.cls),
        graft.functions.ArrayExprs.argTopMCos(v, Vectors.norm(v),
          typedLit(model.cents), typedLit(model.cnrms), 1)(0).cast("int") + 1))
  }

  /** DuckDB twin of [[clusterSample]]: the [[ivfTrainedPrefixSql]]
    * training/assignment CTEs (query side unused), then the same
    * salted-hash quota window over the final assignment.
    */
  def clusterSampleSql(id: String, vec: String, seed: String,
      table: String, iters: Int, dim: Int, n: Int): String =
    s"""${ivfTrainedPrefixSql(id, vec, seed, table, "false", 1, iters, dim)}
       |SELECT cl, id AS vec_id, rank FROM (
       |  SELECT cl, id, row_number() OVER (PARTITION BY cl
       |    ORDER BY ${Hashing.hash60Sql("'clsample_' || id::VARCHAR")}, id
       |  )::BIGINT AS rank FROM af)
       |WHERE rank <= $n""".stripMargin

  /** Approximate kNN GRAPH: every corpus vector's k nearest neighbors
    * among vectors sharing at least one of its assigned trained-IVF
    * lists (a blocked kNN self-join). The building block under kNN
    * classification over embeddings, graph-based diversity sampling
    * and connectivity clustering: unlike the query-set searches
    * (ivfTopKTrained — a FEW queries probe the corpus), here EVERY
    * vector is a query, so the candidate stage must be a self-join on
    * the block key, never queries × corpus.
    *
    * massign > 1 widens each vector's candidate set to all vectors of
    * its m straddled lists (the same boundary-vector fix as the IVF
    * search); a pair reachable via several shared lists scores
    * identically and dedups before ranking.
    *
    * == 100 TB shape ==
    *
    * One narrow assignment pass (broadcast centroids), one join back
    * to the cached base for the vectors, one self-join on the list id
    * — cost Σ|list|², bounded by sizing nlist ∝ √n so lists stay
    * ~√n — and one top-k window keyed on the high-cardinality vector
    * id. The skew knob is the same as every posting join here: an
    * overfull list salts into (cl, salt) sub-blocks scored
    * independently (X35's machinery — dedup is salt-invariant).
    * Output: (src_id, rank, neighbor_id, cos_micros), k rows per
    * vector.
    */
  def knnGraph(embs: DataFrame, idCol: String, vecCol: String,
      seedCol: String, k: Int, iters: Int, massign: Int = 1): DataFrame = {
    val base = baseOf(embs, idCol, vecCol)
    val cents = withCNorm(kmeans(embs, idCol, vecCol, seedCol, iters))
    knnGraphAt(base, cents, k, massign)
      .select(col("src_id"), col("rank"), col("neighbor_id"),
        col("cos_micros"))
  }

  /** [[knnGraph]]'s block/score/rank stage at GIVEN centroids — the
    * fixed-parameters entry [[GraphStore]] builds and maintains
    * through (the [[Index.encode]] analog). Returns the public edge
    * columns PLUS `cos_raw`, the unrounded ranking key: an
    * incremental merge must re-rank stored edges against new
    * candidates on the exact doubles a full rebuild ranks on
    * (`cos_micros` is rounded — ranking on it could order near-ties
    * differently and break rebuild-equivalence).
    */
  private[graft] def knnGraphAt(base: DataFrame, cents: DataFrame,
      k: Int, massign: Int): DataFrame = {
    val assigned = Caching.cachedOnce(
      assignWithVec(base, cents, massign))
    knnRankPairs(
      assigned
        .select(col("cl"), col("id").as("src_id"), col("v").as("sv"),
          col("nrm").as("snrm"))
        .join(assigned.select(col("cl"), col("id").as("neighbor_id"),
          col("v"), col("nrm")), Seq("cl"))
        .filter(col("src_id") =!= col("neighbor_id"))
        .select(col("src_id"), col("neighbor_id"),
          (Vectors.dot(col("sv"), col("v")) / (col("snrm") * col("nrm")))
            .as("cos")),
      k, dedup = massign > 1)
  }

  /** Top-k per src over scored (src_id, neighbor_id, cos) pairs with
    * the graph family's exact ordering contract: (cos desc, id asc),
    * optional exact dedup (identical pairs from different shared
    * lists carry identical cos bits — same expression over the same
    * operands). Shared by the full build and the incremental merge.
    */
  private[ops] def knnRankPairs(pairs: DataFrame, k: Int,
      dedup: Boolean): DataFrame = {
    val scored = if (dedup) pairs.distinct() else pairs
    val w = Window.partitionBy(col("src_id"))
      .orderBy(col("cos").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("src_id"), col("rank"), col("neighbor_id"),
        round(col("cos") * 1e6).cast("long").as("cos_micros"),
        col("cos").as("cos_raw"))
  }

  /** DuckDB twin of [[knnGraph]]: the same seeded/unrolled training
    * ([[ivfTrainedPrefixSql]] — its query/truth CTEs go unreferenced
    * and unevaluated), the same blocked self-join on the final
    * assignment, the same (cos desc, id) ranking.
    */
  /** `memberPredSql` restricts GRAPH MEMBERSHIP over the assignment
    * aliases `a1` (source) and `a2` (neighbor) — "a1.id % 3 <> 0 AND
    * a2.id % 3 <> 0" spells a graph whose deleted vectors are gone
    * from both sides while training still saw everything (the
    * [[graft.ops.GraphStore.delete]] oracle).
    */
  def knnGraphSql(id: String, vec: String, seed: String, table: String,
      k: Int, iters: Int, dim: Int, massign: Int = 1,
      trainPredSql: String = "true",
      memberPredSql: String = "true"): String = {
    val distinctKw = if (massign > 1) "DISTINCT " else ""
    s"""${ivfTrainedPrefixSql(id, vec, seed, table, "false", k, iters, dim,
        massign, trainPredSql)},
       |pairs AS (
       |  SELECT ${distinctKw}a1.id AS src_id, a2.id AS neighbor_id,
       |    ${Vectors.cosineSql("a1.v", "a2.v")} AS cos
       |  FROM af a1 JOIN af a2 ON a1.cl = a2.cl AND a1.id <> a2.id
       |  WHERE ($memberPredSql))
       |SELECT src_id, rank, neighbor_id, cos_micros FROM (
       |  SELECT src_id, row_number() OVER (PARTITION BY src_id
       |      ORDER BY cos DESC, neighbor_id)::BIGINT AS rank,
       |    neighbor_id, round(cos * 1e6)::BIGINT AS cos_micros
       |  FROM pairs)
       |WHERE rank <= $k""".stripMargin
  }

  /** kNN classification by majority vote over the blocked kNN graph
    * ([[knnGraph]]): every vector's predicted label is the most
    * frequent label among its top-k neighbors (ties break on the
    * smaller label — fully deterministic), reported beside the true
    * label and a correctness flag. This is the label-propagation /
    * weak-supervision building block (classify unlabeled embeddings
    * from their labeled neighbors) run in the "every vector is a
    * query" regime the graph was built for.
    *
    * Cost on top of the graph: one id-keyed shuffle join to attach
    * neighbor labels (n·k rows against the corpus id→label
    * projection), one partial-aggregated vote count at (src, label)
    * granularity, one per-src window over ≤ k rows. All integer math.
    */
  def knnClassify(embs: DataFrame, idCol: String, vecCol: String,
      labelCol: String, k: Int, iters: Int, massign: Int = 1): DataFrame = {
    val graph = knnGraph(embs, idCol, vecCol, labelCol, k, iters, massign)
    val labels = embs.select(col(idCol).as("neighbor_id"),
      col(labelCol).cast("long").as("nlabel"))
    val votes = graph.join(labels, "neighbor_id")
      .groupBy(col("src_id"), col("nlabel"))
      .agg(count(lit(1)).as("votes"))
    val w = Window.partitionBy(col("src_id"))
      .orderBy(col("votes").desc, col("nlabel").asc)
    votes.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("src_id").as("id"), col("nlabel").as("pred_label"),
        col("votes"))
      .join(embs.select(col(idCol).as("id"),
        col(labelCol).cast("long").as("label")), "id")
      .select(col("id"), col("pred_label"), col("votes"), col("label"),
        (col("pred_label") === col("label")).cast("long").as("correct"))
  }

  /** DuckDB twin of [[knnClassify]]: the [[knnGraphSql]] graph as a
    * CTE + the same vote/tie-break windows.
    */
  def knnClassifySql(id: String, vec: String, label: String, table: String,
      k: Int, iters: Int, dim: Int, massign: Int = 1): String =
    s"""WITH g AS (
       |${knnGraphSql(id, vec, label, table, k, iters, dim, massign)}),
       |votes AS (
       |  SELECT g.src_id, e.$label::BIGINT AS nlabel, count(*)::BIGINT AS votes
       |  FROM g JOIN $table e ON g.neighbor_id = e.$id
       |  GROUP BY 1, 2),
       |pred AS (
       |  SELECT src_id AS id, nlabel AS pred_label, votes FROM (
       |    SELECT src_id, nlabel, votes, row_number() OVER (
       |      PARTITION BY src_id ORDER BY votes DESC, nlabel) AS rn
       |    FROM votes) WHERE rn = 1)
       |SELECT p.id, p.pred_label, p.votes, e.$label::BIGINT AS label,
       |  (CASE WHEN p.pred_label = e.$label::BIGINT THEN 1 ELSE 0 END)::BIGINT
       |    AS correct
       |FROM pred p JOIN $table e ON p.id = e.$id""".stripMargin

  /** recall@k of the trained-IVF search against the exact brute-force
    * ground truth, per query: |ivf hits ∩ true top-k| / k in micros.
    * The quality metric that makes the ANN path measurable rather
    * than asserted.
    */
  def ivfRecall(embs: DataFrame, idCol: String, vecCol: String,
      seedCol: String, queryPred: Column, k: Int, nprobe: Int,
      iters: Int, massign: Int = 1): DataFrame = {
    val truth = bruteForceTopK(embs, idCol, vecCol, queryPred, k)
    val approx = ivfTopKTrained(embs, idCol, vecCol, seedCol, queryPred,
      k, nprobe, iters, massign)
    truth.as("t")
      .join(approx.as("a"),
        col("t.qid") === col("a.qid") &&
          col("t.neighbor_id") === col("a.neighbor_id"), "left")
      .groupBy(col("t.qid").as("qid"))
      .agg(round(count(col("a.neighbor_id")).cast("double") / k * 1e6)
        .cast("long").as("recall_micros"))
  }

  /** X129 Matryoshka truncation recall: recall@k of brute-force
    * cosine search over PREFIX sub-embeddings (`embedding[0:d]`, the
    * MRL layout where nested prefixes are trained to be usable
    * embeddings) against the full-dimension truth, one row per
    * (dim, query). The dim column is the serving knob this measures:
    * at 100 TB a d-of-D prefix scan reads d/D of the vector bytes
    * and the recall curve tells you what that costs — the same
    * measured-recall discipline as [[ivfRecall]].
    */
  def mrlRecall(embs: DataFrame, idCol: String, vecCol: String,
      queryPred: Column, k: Int, dims: Seq[Int]): DataFrame = {
    val truth = bruteForceTopK(embs, idCol, vecCol, queryPred, k)
    dims.map { d =>
      val approx = bruteForceTopK(
        embs.select(col(idCol), slice(col(vecCol), 1, d).as(vecCol)),
        idCol, vecCol, queryPred, k)
      truth.as("t")
        .join(approx.as("a"),
          col("t.qid") === col("a.qid") &&
            col("t.neighbor_id") === col("a.neighbor_id"), "left")
        .groupBy(col("t.qid").as("qid"))
        .agg(round(count(col("a.neighbor_id")).cast("double") / k * 1e6)
          .cast("long").as("recall_micros"))
        .withColumn("dim", lit(d.toLong))
    }.reduce(_ unionByName _)
      .select(col("dim"), col("qid"), col("recall_micros"))
  }

  /** [[bruteForceTopKSql]] over a dimension prefix (dim = 0 → full). */
  private def bruteForceTopKSqlAt(id: String, vec: String, table: String,
      queryPredSql: String, k: Int, dim: Int): String = {
    val vExpr =
      if (dim > 0) s"(${Vectors.toDoubleSql(vec)})[1:$dim]"
      else Vectors.toDoubleSql(vec)
    s"""WITH e0 AS (SELECT $id AS id, $vExpr AS v FROM $table),
       |e AS (SELECT id, v FROM e0 WHERE ${Vectors.normSql("v")} > 0),
       |q AS (SELECT id AS qid, v AS qv FROM e WHERE $queryPredSql),
       |scored AS (
       |  SELECT qid, e.id AS neighbor_id, ${Vectors.cosineSql("qv", "e.v")} AS cos
       |  FROM q JOIN e ON e.id <> qid),
       |r AS (SELECT qid, neighbor_id, cos, row_number() OVER (
       |        PARTITION BY qid ORDER BY cos DESC, neighbor_id) AS rank
       |      FROM scored)
       |SELECT qid, rank::BIGINT AS rank, neighbor_id,
       |  round(cos * 1e6)::BIGINT AS cos_micros
       |FROM r WHERE rank <= $k""".stripMargin
  }

  def mrlRecallSql(id: String, vec: String, table: String,
      queryPredSql: String, k: Int, dims: Seq[Int]): String =
    dims.map { d =>
      s"""SELECT $d::BIGINT AS dim, t.qid AS qid,
         |  round(count(a.neighbor_id)::DOUBLE / $k * 1e6)::BIGINT AS recall_micros
         |FROM (${bruteForceTopKSqlAt(id, vec, table, queryPredSql, k, 0)}) t
         |LEFT JOIN (${bruteForceTopKSqlAt(id, vec, table, queryPredSql, k, d)}) a
         |  ON t.qid = a.qid AND t.neighbor_id = a.neighbor_id
         |GROUP BY 1, 2""".stripMargin
    }.mkString("\n", "\nUNION ALL\n", "\n")

  /** X129's serving form — truncate-then-rerank (adaptive retrieval):
    * stage 1 scans the d-prefix for `k·factor` candidates (d/D of the
    * vector bytes), stage 2 re-scores ONLY those candidates at full
    * dimension. Exact output contract (top-k of the candidate set,
    * ties on id), so the oracle pins it end-to-end; recall vs the
    * full scan is [[mrlRecall]] at the widened k.
    */
  def mrlRerank(embs: DataFrame, idCol: String, vecCol: String,
      queryPred: Column, k: Int, dim: Int, factor: Int): DataFrame = {
    val cand = bruteForceTopK(
      embs.select(col(idCol), slice(col(vecCol), 1, dim).as(vecCol)),
      idCol, vecCol, queryPred, k * factor)
      .select(col("qid"), col("neighbor_id"))
    val base = baseOf(embs, idCol, vecCol).filter(col("nrm") > 0)
    val queries = base.filter(queryPred)
      .select(col("id").as("qid"), col("v").as("qv"), col("nrm").as("qnrm"))
    // candidates are |queries|·k·factor rows — broadcast against the
    // full-vector base, never a second full scan pairing
    val scored = broadcast(cand)
      .join(base, col("id") === col("neighbor_id"))
      .join(broadcast(queries), "qid")
      .select(col("qid"), col("neighbor_id"),
        (Vectors.dot(col("qv"), col("v")) / (col("qnrm") * col("nrm")))
          .as("cos"))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("cos").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("qid"), col("rank"), col("neighbor_id"),
        round(col("cos") * 1e6).cast("long").as("cos_micros"))
  }

  def mrlRerankSql(id: String, vec: String, table: String,
      queryPredSql: String, k: Int, dim: Int, factor: Int): String =
    s"""WITH cand AS (
       |  SELECT qid, neighbor_id
       |  FROM (${bruteForceTopKSqlAt(id, vec, table, queryPredSql,
                   k * factor, dim)})),
       |e0 AS (SELECT $id AS id, ${Vectors.toDoubleSql(vec)} AS v FROM $table),
       |e AS (SELECT id, v FROM e0 WHERE ${Vectors.normSql("v")} > 0),
       |q AS (SELECT id AS qid, v AS qv FROM e WHERE $queryPredSql),
       |scored AS (
       |  SELECT c.qid, c.neighbor_id, ${Vectors.cosineSql("q.qv", "e.v")} AS cos
       |  FROM cand c JOIN e ON e.id = c.neighbor_id
       |    JOIN q ON q.qid = c.qid),
       |r AS (SELECT qid, neighbor_id, cos, row_number() OVER (
       |        PARTITION BY qid ORDER BY cos DESC, neighbor_id) AS rank
       |      FROM scored)
       |SELECT qid, rank::BIGINT AS rank, neighbor_id,
       |  round(cos * 1e6)::BIGINT AS cos_micros
       |FROM r WHERE rank <= $k""".stripMargin

  /** Deterministic random hyperplanes for the RP-LSH path: component
    * d of plane (table, bit) = hash60("rp_{table}_{bit}_{d}") mod P,
    * centered to (h/P − 0.5). Generated JVM-side with the SAME hash
    * as the engines use, and inlined as integer literals into both
    * the Spark plan and the oracle SQL — so bucket keys match exactly.
    */
  def hyperplanes(tables: Int, bits: Int, dim: Int): Seq[Seq[Seq[Long]]] =
    (0 until tables).map(t => (0 until bits).map(b => (0 until dim).map(d =>
      graft.functions.ArrayExprs.hash60(
        org.apache.spark.unsafe.types.UTF8String.fromString(s"rp_${t}_${b}_$d"))
        % graft.ops.Hashing.P)))

  private def planeVec(ws: Seq[Long]): Column =
    typedLit(ws.map(h => h.toDouble / graft.ops.Hashing.P - 0.5))

  /** Random-hyperplane (SimHash-for-vectors) LSH near-neighbor pairs:
    * `tables` independent hash tables of `bits` sign-bits each;
    * vectors sharing a bucket in ANY table are candidates, verified
    * at cosine ≥ threshold. Probabilistic recall (tune tables × bits
    * to the target cosine); candidates ~linear, never O(n²). The
    * bucket keys are deterministic, so the oracle reproduces the
    * candidate set bit-for-bit.
    */
  def rpLshPairs(embs: DataFrame, idCol: String, vecCol: String,
      tables: Int, bits: Int, dim: Int, threshold: Double): DataFrame = {
    val planes = hyperplanes(tables, bits, dim)
    val base = embs.select(col(idCol).as("id"), Vectors.toDouble(col(vecCol)).as("v"))
      .withColumn("nrm", Vectors.norm(col("v")))
    val keys = array(planes.map { tablePlanes =>
      tablePlanes.zipWithIndex.map { case (ws, b) =>
        when(Vectors.dot(col("v"), planeVec(ws)) > 0, lit(1L << b)).otherwise(lit(0L))
      }.reduce(_ + _)
    }: _*)
    val buckets = base.select(col("id"), col("v"), col("nrm"),
      posexplode(keys).as(Seq("tbl", "key")))
    buckets.as("l")
      .join(buckets.as("r"),
        col("l.tbl") === col("r.tbl") && col("l.key") === col("r.key") &&
          col("l.id") < col("r.id"))
      .select(col("l.id").as("id1"), col("r.id").as("id2"),
        round(Vectors.dot(col("l.v"), col("r.v")) /
          (col("l.nrm") * col("r.nrm")) * 1e6).cast("long").as("cos_micros"))
      .distinct()
      .filter(col("cos_micros") >= (threshold * 1e6).toLong)
  }

  /** base + buckets CTE prefix shared by the RP-LSH oracles: hash keys
    * of `tables` tables over the deterministic plane family.
    */
  private def rpLshBucketsSql(id: String, vec: String, table: String,
      tables: Int, bits: Int, dim: Int): String = {
    val planes = hyperplanes(tables, bits, dim)
    val P = graft.ops.Hashing.P
    val keyExprs = planes.zipWithIndex.map { case (tablePlanes, t) =>
      val bitSum = tablePlanes.zipWithIndex.map { case (ws, b) =>
        val lits = ws.mkString("[", ", ", "]")
        val wvec = s"[x::DOUBLE / $P - 0.5 for x in $lits]"
        s"CASE WHEN ${Vectors.dotSql("v", wvec)} > 0 THEN ${1L << b} ELSE 0 END"
      }.mkString(" + ")
      s"SELECT id, v, nrm, $t AS tbl, ($bitSum)::BIGINT AS key FROM base"
    }.mkString(" UNION ALL ")
    s"""base AS (
       |  SELECT $id AS id, ${Vectors.toDoubleSql(vec)} AS v,
       |    ${Vectors.normSql(Vectors.toDoubleSql(vec))} AS nrm
       |  FROM $table),
       |buckets AS ($keyExprs)""".stripMargin
  }

  def rpLshPairsSql(id: String, vec: String, table: String,
      tables: Int, bits: Int, dim: Int, threshold: Double): String =
    s"""WITH ${rpLshBucketsSql(id, vec, table, tables, bits, dim)},
       |pairs AS (
       |  SELECT DISTINCT l.id AS id1, r.id AS id2,
       |    round(${Vectors.dotSql("l.v", "r.v")} / (l.nrm * r.nrm) * 1e6)::BIGINT AS cos_micros
       |  FROM buckets l JOIN buckets r
       |    ON l.tbl = r.tbl AND l.key = r.key AND l.id < r.id)
       |SELECT id1, id2, cos_micros FROM pairs
       |WHERE cos_micros >= ${(threshold * 1e6).toLong}""".stripMargin

  /** Recall of RP-LSH pair retrieval vs the EXACT pair set at the same
    * cosine threshold, for several table counts over ONE plane family
    * (table t's planes are a prefix of table t+1's — nested indexes,
    * one family) — the curve that turns tables × bits tuning from
    * folklore into measurement, like [[ivfRecallSweep]] for IVF.
    *
    * Found pairs are threshold-VERIFIED, so found ⊆ truth and recall
    * is a pure count ratio — no pair join needed. The truth pass is
    * the one O(n²) stage (cosine over all id1 < id2); it runs once,
    * shares [[baseOf]]'s cached (id, v, nrm), and is the measurement
    * harness, not the retrieval path.
    * Output: (n_tables, n_true, n_found, recall_micros).
    */
  def rpLshRecallSweep(embs: DataFrame, idCol: String, vecCol: String,
      tablesSweep: Seq[Int], bits: Int, dim: Int,
      threshold: Double): DataFrame = {
    val base = baseOf(embs, idCol, vecCol)
    val truth = base.as("l")
      .join(base.as("r"), col("l.id") < col("r.id"))
      .select((round(Vectors.dot(col("l.v"), col("r.v")) /
        (col("l.nrm") * col("r.nrm")) * 1e6)).cast("long").as("cm"))
      .filter(col("cm") >= (threshold * 1e6).toLong)
      .agg(count(lit(1)).as("n_true"))
    tablesSweep.map { t =>
      rpLshPairs(embs, idCol, vecCol, t, bits, dim, threshold)
        .agg(count(lit(1)).as("n_found"))
        .select(lit(t.toLong).as("n_tables"), col("n_found"))
    }.reduce(_.unionByName(_))
      .join(broadcast(truth))
      .select(col("n_tables"), col("n_true"), col("n_found"),
        round(col("n_found").cast("double") / col("n_true") * 1e6)
          .cast("long").as("recall_micros"))
  }

  /** DuckDB twin of [[rpLshRecallSweep]] — same plane family, same
    * verified pair sets, same exact truth.
    */
  def rpLshRecallSweepSql(id: String, vec: String, table: String,
      tablesSweep: Seq[Int], bits: Int, dim: Int,
      threshold: Double): String = {
    val th = (threshold * 1e6).toLong
    val maxT = tablesSweep.max
    val founds = tablesSweep.map { t =>
      s"""SELECT $t::BIGINT AS n_tables, count(*)::BIGINT AS n_found FROM (
         |  SELECT DISTINCT l.id, r.id FROM buckets l JOIN buckets r
         |  ON l.tbl = r.tbl AND l.key = r.key AND l.id < r.id
         |    AND l.tbl < $t
         |  WHERE round(${Vectors.dotSql("l.v", "r.v")} / (l.nrm * r.nrm) * 1e6) >= $th)""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH ${rpLshBucketsSql(id, vec, table, maxT, bits, dim)},
       |truth AS (
       |  SELECT count(*)::BIGINT AS n_true FROM base l JOIN base r ON l.id < r.id
       |  WHERE round(${Vectors.dotSql("l.v", "r.v")} / (l.nrm * r.nrm) * 1e6) >= $th),
       |founds AS ($founds)
       |SELECT n_tables, n_true, n_found,
       |  round(n_found::DOUBLE / n_true * 1e6)::BIGINT AS recall_micros
       |FROM founds CROSS JOIN truth""".stripMargin
  }

  /** Random-projection DIMENSIONALITY REDUCTION (Johnson–Lindenstrauss
    * by signs-free projection — the same deterministic centered plane
    * family as [[rpLshPairs]], kept REAL-valued instead of sign-bitted):
    * each vector maps to its `rdim` plane dot products, a pure narrow
    * map of `rdim` codegen'd folds per row — zero shuffle, co-located
    * with the scan. The memory/IO story at 100 TB: a dim→rdim cut is a
    * dim/rdim× byte cut on every downstream scan, join and cache, and
    * unlike SQ/PQ/BQ (which compress the REPRESENTATION at full
    * dimensionality) it composes with them — project first, quantize
    * the short vectors after.
    *
    * Search in the reduced space is [[bruteForceTopK]]'s broadcast
    * shape over the projected columns; distances are approximate (JL
    * distortion), so the family-standard measurement twin
    * ([[rpProjectRecall]]) reports recall@k against the full-space
    * exact truth. Output: (qid, rank, neighbor_id, rcos_micros) —
    * `rcos` says REDUCED-space cosine out loud (an exact-cosine column
    * here would be a lie).
    */
  def rpProjectTopK(embs: DataFrame, idCol: String, vecCol: String,
      queryPred: Column, k: Int, rdim: Int, dim: Int): DataFrame = {
    val planes = hyperplanes(1, rdim, dim).head
    val base = baseOf(embs, idCol, vecCol)
    val proj = base.select(col("id"),
        array(planes.map(ws => Vectors.dot(col("v"), planeVec(ws))): _*).as("pv"))
      .withColumn("pnrm", Vectors.norm(col("pv")))
    val queries = proj.filter(queryPred)
      .select(col("id").as("qid"), col("pv").as("qv"), col("pnrm").as("qnrm"))
    val scored = proj.join(broadcast(queries), col("id") =!= col("qid"))
      .select(col("qid"), col("id").as("neighbor_id"),
        (Vectors.dot(col("qv"), col("pv")) / (col("qnrm") * col("pnrm"))).as("cos"))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("cos").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("qid"), col("rank"), col("neighbor_id"),
        round(col("cos") * 1e6).cast("long").as("rcos_micros"))
  }

  /** base + projected CTE prefix shared by the projection oracles:
    * the `rdim` plane dot products inlined as integer-literal weight
    * vectors, exactly the Spark plan's fold order.
    */
  private def rpProjPrefixSql(id: String, vec: String, table: String,
      rdim: Int, dim: Int): String = {
    val planes = hyperplanes(1, rdim, dim).head
    val P = graft.ops.Hashing.P
    val comps = planes.map { ws =>
      val lits = ws.mkString("[", ", ", "]")
      Vectors.dotSql("v", s"[x::DOUBLE / $P - 0.5 for x in $lits]")
    }.mkString("[", ",\n    ", "]")
    s"""base AS (SELECT $id AS id, ${Vectors.toDoubleSql(vec)} AS v FROM $table),
       |proj AS (SELECT id, $comps AS pv FROM base),
       |pn AS (SELECT id, pv, ${Vectors.normSql("pv")} AS pnrm FROM proj)""".stripMargin
  }

  /** DuckDB twin of [[rpProjectTopK]]. */
  def rpProjectTopKSql(id: String, vec: String, table: String,
      queryPredSql: String, k: Int, rdim: Int, dim: Int): String =
    s"""WITH ${rpProjPrefixSql(id, vec, table, rdim, dim)},
       |q AS (SELECT id AS qid, pv AS qv, pnrm AS qnrm FROM pn
       |      WHERE $queryPredSql),
       |scored AS (
       |  SELECT qid, e.id AS neighbor_id,
       |    ${Vectors.dotSql("qv", "e.pv")} / (qnrm * e.pnrm) AS cos
       |  FROM q JOIN pn e ON e.id <> qid),
       |r AS (SELECT qid, neighbor_id, cos, row_number() OVER (
       |        PARTITION BY qid ORDER BY cos DESC, neighbor_id) AS rank
       |      FROM scored)
       |SELECT qid, rank::BIGINT AS rank, neighbor_id,
       |  round(cos * 1e6)::BIGINT AS rcos_micros
       |FROM r WHERE rank <= $k""".stripMargin

  /** Recall@k of the reduced-space search vs the FULL-space exact
    * truth, per (width, query), for several target widths over ONE
    * nested projection family — plane j of width w is plane j of
    * width w' > w (the [[rpLshRecallSweep]] prefix property), so the
    * sweep projects ONCE at `rdims.max` and each width ranks over a
    * slice. The width/fidelity curve that decides whether a corpus
    * tolerates the byte cut — measured, not assumed (truth LEFT JOIN
    * got: an all-miss query still emits (width, qid, 0)).
    * Output: (n_dims, qid, recall_micros).
    */
  def rpProjectRecallSweep(embs: DataFrame, idCol: String, vecCol: String,
      queryPred: Column, k: Int, rdims: Seq[Int], dim: Int): DataFrame = {
    val planes = hyperplanes(1, rdims.max, dim).head
    val base = baseOf(embs, idCol, vecCol)
    // the one full-width projection every width slices from
    val proj = Caching.cachedOnce(base.select(col("id"),
      array(planes.map(ws => Vectors.dot(col("v"), planeVec(ws))): _*).as("pv")))
    val truth = bruteForceTopK(embs, idCol, vecCol, queryPred, k)
      .select(col("qid"), col("neighbor_id"))
    rdims.map { rd =>
      val pn = proj.select(col("id"), slice(col("pv"), 1, rd).as("pv"))
        .withColumn("pnrm", Vectors.norm(col("pv")))
      val queries = pn.filter(queryPred)
        .select(col("id").as("qid"), col("pv").as("qv"), col("pnrm").as("qnrm"))
      val w = Window.partitionBy(col("qid"))
        .orderBy(col("cos").desc, col("neighbor_id").asc)
      val got = pn.join(broadcast(queries), col("id") =!= col("qid"))
        .select(col("qid"), col("id").as("neighbor_id"),
          (Vectors.dot(col("qv"), col("pv")) / (col("qnrm") * col("pnrm"))).as("cos"))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= k)
        .select(col("qid"), col("neighbor_id"), lit(1).as("hit"))
      truth.join(got, Seq("qid", "neighbor_id"), "left")
        .groupBy(col("qid")).agg(count(col("hit")).as("hits"))
        .select(lit(rd.toLong).as("n_dims"), col("qid"),
          round(col("hits").cast("double") / k * 1e6).cast("long")
            .as("recall_micros"))
    }.reduce(_.unionByName(_))
  }

  /** DuckDB twin of [[rpProjectRecallSweep]] — same nested plane
    * family, one max-width projection, per-width slices.
    */
  def rpProjectRecallSweepSql(id: String, vec: String, table: String,
      queryPredSql: String, k: Int, rdims: Seq[Int], dim: Int): String = {
    val widthCtes = rdims.map { rd =>
      s"""pn_$rd AS (SELECT id, pv[1:$rd] AS pv,
         |  ${Vectors.normSql(s"pv[1:$rd]")} AS pnrm FROM proj),
         |q_$rd AS (SELECT id AS qid, pv AS qv, pnrm AS qnrm FROM pn_$rd
         |          WHERE $queryPredSql),
         |got_$rd AS (
         |  SELECT qid, neighbor_id FROM (
         |    SELECT qid, e.id AS neighbor_id, row_number() OVER (
         |      PARTITION BY qid
         |      ORDER BY ${Vectors.dotSql("qv", "e.pv")} / (qnrm * e.pnrm)
         |        DESC, e.id) AS rank
         |    FROM q_$rd q JOIN pn_$rd e ON e.id <> q.qid)
         |  WHERE rank <= $k)""".stripMargin
    }.mkString(",\n")
    val selects = rdims.map { rd =>
      s"""SELECT $rd::BIGINT AS n_dims, qid,
         |  round(count(hit)::DOUBLE / $k * 1e6)::BIGINT AS recall_micros
         |FROM (SELECT t.qid AS qid, g.neighbor_id AS hit
         |      FROM truth t LEFT JOIN got_$rd g
         |        ON g.qid = t.qid AND g.neighbor_id = t.neighbor_id)
         |GROUP BY qid""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH ${rpProjPrefixSql(id, vec, table, rdims.max, dim)},
       |truth AS (
       |  SELECT qid, neighbor_id FROM (
       |${bruteForceTopKSql(id, vec, table, queryPredSql, k)})),
       |$widthCtes
       |$selects""".stripMargin
  }

  /** recall@k per (nprobe, query) for several probe widths over ONE
    * trained centroid set — the recall/cost tradeoff curve that drives
    * nprobe tuning. Training runs once; each probe width re-runs only
    * the (cheap) search stage.
    */
  def ivfRecallSweep(embs: DataFrame, idCol: String, vecCol: String,
      seedCol: String, queryPred: Column, k: Int, nprobes: Seq[Int],
      iters: Int, massign: Int = 1): DataFrame = {
    val base = baseOf(embs, idCol, vecCol)
    val cents = withCNorm(kmeans(embs, idCol, vecCol, seedCol, iters))
    // the assignment — the expensive full-corpus stage — runs ONCE per
    // centroid set; each probe width re-runs only the probe/rank stage
    val assigned = Caching.cachedOnce(assignToNearest(base, cents, massign))
    val truth = bruteForceTopK(embs, idCol, vecCol, queryPred, k)
    nprobes.map { np =>
      val approx = searchAssigned(base, cents, assigned, queryPred, k, np,
        dedupCands = massign > 1)
      truth.as("t")
        .join(approx.as("a"),
          col("t.qid") === col("a.qid") &&
            col("t.neighbor_id") === col("a.neighbor_id"), "left")
        .groupBy(col("t.qid").as("qid"))
        .agg(round(count(col("a.neighbor_id")).cast("double") / k * 1e6)
          .cast("long").as("recall_micros"))
        .select(lit(np.toLong).as("nprobe"), col("qid"), col("recall_micros"))
    }.reduce(_.unionByName(_))
  }

  /** Shared CTE prefix of the trained-IVF oracles: embeddings (e),
    * training subset (et — all of e unless `trainPredSql` narrows it,
    * which is how the build/append split's oracle trains on the built
    * half while the FINAL assignment covers the whole corpus), seeded
    * centroids (cents0), `iters` unrolled Lloyd rounds (assign →
    * integer-exact means → empty-cluster fallback → cents1..N), final
    * corpus assignment (af), queries (q), and the brute-force truth.
    */
  private[ops] def ivfTrainedPrefixSql(id: String, vec: String, seed: String,
      table: String, queryPredSql: String, k: Int, iters: Int,
      dim: Int, massign: Int = 1, trainPredSql: String = "true"): String = {
    // training always single-assigns (Lloyd); only the FINAL index
    // assignment (af) is multiple when massign > 1
    def assign(cents: String, m: Int, src: String): String =
      s"""SELECT id, cl, v FROM (
         |    SELECT e.id, c.cl, e.v, row_number() OVER (PARTITION BY e.id
         |      ORDER BY ${Vectors.cosineSql("e.v", "c.cent")} DESC, c.cl) AS arn
         |    FROM $src e CROSS JOIN $cents c) WHERE arn <= $m""".stripMargin
    val rounds = (1 to iters).map { r =>
      s"""a$r AS (${assign(s"cents${r - 1}", 1, "et")}),
         |m$r AS (${centroidsExactSql(s"a$r", dim)}),
         |cents$r AS (
         |  SELECT o.cl, coalesce(n.cent, o.cent) AS cent
         |  FROM cents${r - 1} o LEFT JOIN m$r n ON o.cl = n.cl),""".stripMargin
    }.mkString("\n")
    s"""WITH e AS (
       |  SELECT $id AS id, $seed AS lab, ${Vectors.toDoubleSql(vec)} AS v,
       |    ${Vectors.normSql(Vectors.toDoubleSql(vec))} AS nrm FROM $table),
       |et AS (SELECT * FROM e WHERE $trainPredSql),
       |cents0 AS (${centroidsExactSql(s"(SELECT lab AS cl, v FROM et) s0", dim)}),
       |$rounds
       |af AS (${assign(s"cents$iters", massign, "e")}),
       |q AS (SELECT id AS qid, v AS qv, nrm AS qnrm FROM e WHERE $queryPredSql),
       |truth AS (
       |  SELECT qid, neighbor_id FROM (
       |    SELECT q.qid, e.id AS neighbor_id,
       |      row_number() OVER (PARTITION BY q.qid
       |        ORDER BY ${Vectors.cosineSql("q.qv", "e.v")} DESC, e.id) AS rank
       |    FROM q JOIN e ON e.id <> q.qid) WHERE rank <= $k)""".stripMargin
  }

  /** One probe width's search CTEs (probes$np, ivf$np) over the
    * [[ivfTrainedPrefixSql]] tables.
    */
  private def ivfSearchCteSql(np: Int, k: Int, iters: Int,
      massign: Int = 1): String = {
    // mirror searchAssigned's dedupCands: under multiple assignment a
    // (query, vector) pair reachable through several probed lists must
    // rank once, so dedup before the row_number
    val distinctKw = if (massign > 1) "DISTINCT " else ""
    s"""probes$np AS (
       |  SELECT qid, qv, cl FROM (
       |    SELECT q.qid, q.qv, c.cl, row_number() OVER (PARTITION BY q.qid
       |      ORDER BY ${Vectors.cosineSql("q.qv", "c.cent")} DESC, c.cl) AS prn
       |    FROM q CROSS JOIN cents$iters c) WHERE prn <= $np),
       |ivf$np AS (
       |  SELECT qid, neighbor_id FROM (
       |    SELECT qid, neighbor_id, row_number() OVER (PARTITION BY qid
       |        ORDER BY cos DESC, neighbor_id) AS rank FROM (
       |      SELECT ${distinctKw}p.qid, e.id AS neighbor_id,
       |        ${Vectors.cosineSql("p.qv", "e.v")} AS cos
       |      FROM probes$np p JOIN af a ON a.cl = p.cl
       |      JOIN e ON e.id = a.id WHERE e.id <> p.qid))
       |  WHERE rank <= $k)""".stripMargin
  }

  private def recallSelectSql(np: Int, k: Int, withNprobe: Boolean): String = {
    val head = if (withNprobe) s"SELECT $np::BIGINT AS nprobe, t.qid" else "SELECT t.qid"
    s"""$head,
       |  round(count(a.neighbor_id)::DOUBLE / $k * 1e6)::BIGINT AS recall_micros
       |FROM truth t LEFT JOIN ivf$np a
       |  ON t.qid = a.qid AND t.neighbor_id = a.neighbor_id
       |GROUP BY t.qid""".stripMargin
  }

  /** DuckDB twin of the trained-IVF top-k itself (what
    * [[ivfTopKTrained]] — and the flat persisted-index search reading
    * the same artifact — emits): probe the nprobe nearest trained
    * lists, rank probed candidates by EXACT cosine.
    */
  def ivfTrainedTopKSql(id: String, vec: String, seed: String, table: String,
      queryPredSql: String, k: Int, nprobe: Int, iters: Int,
      dim: Int, massign: Int = 1): String = {
    val distinctKw = if (massign > 1) "DISTINCT " else ""
    s"""${ivfTrainedPrefixSql(id, vec, seed, table, queryPredSql, k, iters, dim, massign)},
       |probes AS (
       |  SELECT qid, qv, cl FROM (
       |    SELECT q.qid, q.qv, c.cl, row_number() OVER (PARTITION BY q.qid
       |      ORDER BY ${Vectors.cosineSql("q.qv", "c.cent")} DESC, c.cl) AS prn
       |    FROM q CROSS JOIN cents$iters c) WHERE prn <= $nprobe)
       |SELECT qid, rank, neighbor_id, cos_micros FROM (
       |  SELECT qid, row_number() OVER (PARTITION BY qid
       |      ORDER BY cos DESC, neighbor_id)::BIGINT AS rank,
       |    neighbor_id, round(cos * 1e6)::BIGINT AS cos_micros FROM (
       |    SELECT ${distinctKw}p.qid, e.id AS neighbor_id,
       |      ${Vectors.cosineSql("p.qv", "e.v")} AS cos
       |    FROM probes p JOIN af a ON a.cl = p.cl
       |    JOIN e ON e.id = a.id WHERE e.id <> p.qid))
       |WHERE rank <= $k""".stripMargin
  }

  /** DuckDB twin of [[ivfRecall]]: the SAME seeded centroids, the SAME
    * `iters` Lloyd rounds unrolled as CTE stages, the same probe/rank
    * search, and the same brute-force truth — recall values match
    * bit-for-bit because every stage is exact or micro-quantized.
    */
  def ivfRecallSql(id: String, vec: String, seed: String, table: String,
      queryPredSql: String, k: Int, nprobe: Int, iters: Int,
      dim: Int, massign: Int = 1): String =
    s"""${ivfTrainedPrefixSql(id, vec, seed, table, queryPredSql, k, iters, dim, massign)},
       |${ivfSearchCteSql(nprobe, k, iters, massign)}
       |${recallSelectSql(nprobe, k, withNprobe = false)}""".stripMargin

  /** DuckDB twin of [[ivfRecallSweep]] — one training, a search CTE
    * pair per probe width, unioned recall rows.
    */
  def ivfRecallSweepSql(id: String, vec: String, seed: String, table: String,
      queryPredSql: String, k: Int, nprobes: Seq[Int], iters: Int,
      dim: Int, massign: Int = 1): String =
    s"""${ivfTrainedPrefixSql(id, vec, seed, table, queryPredSql, k, iters, dim, massign)},
       |${nprobes.map(ivfSearchCteSql(_, k, iters, massign)).mkString(",\n")}
       |${nprobes.map(recallSelectSql(_, k, withNprobe = true))
           .mkString("\nUNION ALL\n")}""".stripMargin

  def ivfTopKSql(id: String, vec: String, cluster: String, table: String,
      queryPredSql: String, k: Int, nprobe: Int): String =
    s"""WITH e AS (SELECT $id AS id, $cluster AS lab, ${Vectors.toDoubleSql(vec)} AS v
       |  FROM $table),
       |cents AS (${centroidsSql(cluster, vec, table)}),
       |assigned AS (
       |  SELECT id, cl FROM (
       |    SELECT e.id, c.cl, row_number() OVER (PARTITION BY e.id
       |      ORDER BY ${Vectors.cosineSql("e.v", "c.cent")} DESC, c.cl) AS arn
       |    FROM e CROSS JOIN cents c) WHERE arn = 1),
       |q AS (SELECT id AS qid, v AS qv FROM e WHERE $queryPredSql),
       |probes AS (
       |  SELECT qid, qv, cl FROM (
       |    SELECT q.qid, q.qv, c.cl, row_number() OVER (PARTITION BY q.qid
       |      ORDER BY ${Vectors.cosineSql("q.qv", "c.cent")} DESC, c.cl) AS prn
       |    FROM q CROSS JOIN cents c) WHERE prn <= $nprobe),
       |cands AS (
       |  SELECT p.qid, e.id AS neighbor_id, ${Vectors.cosineSql("p.qv", "e.v")} AS cos
       |  FROM probes p JOIN assigned a ON a.cl = p.cl
       |  JOIN e ON e.id = a.id WHERE e.id <> p.qid),
       |r AS (SELECT qid, neighbor_id, cos, row_number() OVER (
       |        PARTITION BY qid ORDER BY cos DESC, neighbor_id) AS rank FROM cands)
       |SELECT qid, rank::BIGINT AS rank, neighbor_id,
       |  round(cos * 1e6)::BIGINT AS cos_micros
       |FROM r WHERE rank <= $k""".stripMargin

  // ------------------------------------------- nearest-centroid classifier

  /** Rocchio / nearest-centroid classification: one integer-exact
    * centroid per label from the TRAINING rows ([[centroidsExact]] —
    * the associative micro-sum mean, so partition order cannot perturb
    * it), every vector assigned to its nearest centroid by cosine
    * ([[assignToNearest]] — the zero-shuffle broadcast pick). The
    * cheapest embedding classifier there is: the model is |labels|
    * centroids (here ≤ a few dozen rows), training is ONE
    * partial-aggregated shuffle of (label, dim) cells, and inference
    * is a narrow map over the corpus scan — the shape that classifies
    * 100 TB of embeddings without any pairwise work, vs [[knnClassify]]
    * whose candidate self-join pays Σ|block|² for higher fidelity.
    *
    * Output: (id, label, pred_label, correct, is_train) — per-vector,
    * train rows flagged (their self-classification is the resubstitution
    * accuracy; held-out rows are the honest estimate).
    */
  def centroidClassify(embs: DataFrame, idCol: String, vecCol: String,
      labelCol: String, trainPred: Column): DataFrame = {
    val base = baseOf(embs, idCol, vecCol)
    val labels = embs.select(col(idCol).as("id"),
      col(labelCol).cast("long").as("label"))
    val train = base.join(labels, "id").filter(trainPred)
    val cents = withCNorm(
      centroidsExact(train.select(col("label").as("cl"), col("v")),
        vecDim(embs, vecCol)))
    assignToNearest(base, cents)
      .join(labels, "id")
      .select(col("id"), col("label"), col("cl").as("pred_label"),
        (col("label") === col("cl")).cast("long").as("correct"),
        trainPred.cast("long").as("is_train"))
  }

  /** DuckDB twin of [[centroidClassify]]. `trainPredSql` must be the
    * SQL spelling of the Scala `trainPred` over column `id`.
    */
  def centroidClassifySql(id: String, vec: String, label: String,
      table: String, trainPredSql: String, dim: Int): String =
    s"""WITH e AS (
       |  SELECT $id AS id, $label::BIGINT AS lab,
       |    ${Vectors.toDoubleSql(vec)} AS v FROM $table),
       |tr AS (SELECT lab AS cl, v FROM e WHERE $trainPredSql),
       |cents AS (${centroidsExactSql("tr", dim)})
       |SELECT id, lab AS label, cl AS pred_label,
       |  (lab = cl)::BIGINT AS correct,
       |  ($trainPredSql)::BIGINT AS is_train
       |FROM (
       |  SELECT e.id, e.lab, c.cl, row_number() OVER (PARTITION BY e.id
       |    ORDER BY ${Vectors.cosineSql("e.v", "c.cent")} DESC, c.cl) AS arn
       |  FROM e CROSS JOIN cents c)
       |WHERE arn = 1""".stripMargin
}
