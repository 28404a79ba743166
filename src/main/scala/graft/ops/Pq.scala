package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Product quantization (PQ) ANN — the memory-side scale path that
  * complements IVF's compute-side one: each vector is compressed to M
  * subspace codes (here 16 × 4-dim subspaces, 32 centroids each →
  * 16 bytes/vector instead of 256), queries score the WHOLE corpus
  * through per-subspace lookup tables (ADC — asymmetric distance
  * computation), and only a small reranked candidate set ever touches
  * the full vectors. At 100 TB the codes table is ~1/16th the
  * embedding bytes and the scoring pass is a narrow scan + one partial
  * aggregated sum — the classic big-corpus ANN layout (IVF composes on
  * top by restricting the scored set to probed lists).
  *
  * Everything is bit-reproducible against the DuckDB oracle:
  *
  *  - per-subspace codebooks train with the SAME integer-exact Lloyd
  *    machinery as the IVF k-means ([[Similarity.centroidsExact]]),
  *    assignment by min L2 = max(dot(x, c) − ½|c|²) with explicit
  *    (score desc, cl asc) tie-breaks;
  *  - ADC parts dot(q_m, cent) are micro-quantized to LONGS before the
  *    16-way sum — cross-partition float summation order can never
  *    perturb the ranking;
  *  - candidate ranking quantizes approx-cosine to micros (tie: id),
  *    and the final top-k reranks candidates with EXACT cosines, so
  *    emitted scores are identical to the brute-force values.
  */
object Pq {

  /** The vector width the persisted PQ/SQ/BQ codes are built for (BQ
    * packs one 64-bit word per vector).
    */
  private[ops] val Width = 64

  /** The subspace width for `m` subspaces of `dim`-wide vectors —
    * failing loud, naming the width, unless `dim` is [[Width]] and the
    * m slices tile it exactly ([[tallOf]] would otherwise slice short
    * or past the end, and the SQ/BQ codes would hit an ANSI
    * `element_at` error or drop dimensions).
    */
  private[ops] def subDimOf(dim: Int, m: Int): Int = {
    require(dim == Width,
      s"vector width $dim: the PQ/SQ/BQ codes are built for $Width-dim vectors")
    val subDim = Width / m
    require(m * subDim == Width,
      s"m=$m subspaces of width $subDim do not tile the $Width-dim vectors")
    subDim
  }

  /** In-row slice of the m-th subspace (1-based slice). */
  private[ops] def sub(v: Column, m: Int, subDim: Int): Column =
    slice(v, m * subDim + 1, subDim)

  /** (id, m, sv) tall subvector table of `vcol` — one narrow pass, M
    * rows per vector. Shared by the in-plan PQ queries and the
    * persisted-index build/append ([[Index]]).
    */
  private[ops] def tallOf(vdf: DataFrame, vcol: String, m: Int,
      subDim: Int): DataFrame =
    vdf.select(col("id"), posexplode(array(
      (0 until m).map(mi => sub(col(vcol), mi, subDim)): _*)).as(Seq("m", "sv")))

  /** Per-(query, subspace, centroid) micro-quantized ADC parts —
    * queries × m × ksub rows, tiny, broadcast by callers.
    */
  private[ops] def lutOf(queries: DataFrame, cb: DataFrame, m: Int,
      subDim: Int): DataFrame = {
    val qtall = queries.select(col("qid"), posexplode(array(
      (0 until m).map(mi => sub(col("qv"), mi, subDim)): _*)).as(Seq("m", "qsv")))
    qtall.join(cb, "m")
      .select(col("qid"), col("m"), col("cl"),
        round(Vectors.dot(col("qsv"), col("cent")) * 1e6)
          .cast("long").as("part_micros"))
  }

  /** Per-(subspace, cluster) integer-exact centroids — the (m, cl)
    * generalization of [[Similarity.centroidsExact]], so EVERY
    * subspace's Lloyd round runs in one aggregation instead of M
    * sequential jobs. `assigned` holds (m, cl, v).
    */
  private def centroidsExactByM(assigned: DataFrame, subDim: Int): DataFrame = {
    // ONE partial-aggregated exchange (r18, guide §2.3/§2.4 — the
    // [[Similarity.centroidsExact]] r17 shape applied to the (m, cl)
    // key): the old explode shape shuffled corpus·m·subDim (m, cl, d,
    // x) rows through a (m, cl, d) aggregation and then re-assembled
    // arrays via an interpreted collect_list ObjectHashAggregate.
    // Aggregating the per-element integer micro-sums as `subDim` LONG
    // columns in a single groupBy(m, cl) stays inside whole-stage
    // codegen and shuffles m·ksub·(subDim+3) longs instead. Values
    // are bit-identical: same per-element round(x·1e6) long, same
    // associative integer sum, same round(sum/count)/1e6
    // re-quantization. `subDim` comes from the caller ([[tallOf]]
    // slices are exactly subDim wide by construction).
    val sums = (0 until subDim).map(d =>
      sum(round(element_at(col("v"), d + 1) * 1e6).cast("long"))
        .as(s"__s$d"))
    assigned
      .groupBy(col("m"), col("cl"))
      .agg(count(lit(1)).as("__n"), sums: _*)
      .select(col("m"), col("cl"), array((0 until subDim).map(d =>
        round(col(s"__s$d").cast("double") / col("__n")) / 1e6): _*)
        .as("cent"))
  }

  /** Nearest-centroid-by-L2 code pick for ALL subspaces at once, as a
    * zero-shuffle narrow map (the per-m codebooks collapse to 16
    * broadcast array rows): score = dot(x, c) − ½|c|², ties to the
    * lower cl. `tall` holds (id, m, sv); output (id, m, cl).
    */
  private[ops] def assignL2All(tall: DataFrame, cents: DataFrame): DataFrame =
    assignL2AllWithVec(tall, cents).select(col("id"), col("m"), col("cl"))

  /** [[assignL2All]] carrying the subvector THROUGH the pick:
    * (id, m, sv, cl) with zero exchange — the Lloyd loop used to
    * re-join `tall` on (id, m) to recover sv, a per-round shuffle of
    * the whole tall table at scale (guide §2.4). Plain [[assignL2All]]
    * projects sv away; column pruning keeps its plan unchanged.
    */
  private[ops] def assignL2AllWithVec(tall: DataFrame,
      cents: DataFrame): DataFrame = {
    // per-m codebooks collapse to 16 broadcast rows of parallel arrays
    // ordered by cl; the pick is the native codegen'd arg_min_l2 —
    // same key (half − dot) and tie-break (position asc ≡ cl asc) as
    // the struct-sort pipeline it replaces, but the tall-side
    // projection stays inside whole-stage codegen
    val byM = cents
      .withColumn("half", Vectors.dot(col("cent"), col("cent")) / 2)
      .groupBy(col("m"))
      .agg(array_sort(collect_list(struct(col("cl"), col("cent"), col("half")))).as("cs"))
      .select(col("m"),
        transform(col("cs"), c => c.getField("cl")).as("cls"),
        transform(col("cs"), c => c.getField("cent")).as("cmat"),
        transform(col("cs"), c => c.getField("half")).as("halves"))
    tall.join(broadcast(byM), "m")
      .select(col("id"), col("m"), col("sv"),
        element_at(col("cls"), graft.functions.ArrayExprs.argMinL2(col("sv"),
          col("cmat"), col("halves")) + 1).as("cl"))
  }

  /** All M codebooks trained together: `iters` L2-assignment Lloyd
    * rounds over the tall (id, m, sv) table — ONE assignment + ONE
    * centroid aggregation + ONE (tiny, m×ksub-row) checkpoint per
    * round, regardless of M. (The first cut trained each subspace in
    * its own loop: 2M checkpoint barriers of pure scheduling latency.)
    * Assignment is L2, not cosine — subvector norms carry signal in
    * PQ; mirror of [[Similarity.kmeans]] otherwise.
    */
  private[ops] def kmeansL2All(tall: DataFrame, ksub: Int, iters: Int,
      subDim: Int): DataFrame = {
    // The codebook table is m·ksub rows (hundreds), so each Lloyd
    // round's "keep the previous centroid when a cluster empties"
    // merge lives on the DRIVER: collect the round's aggregate (the
    // one job a round fundamentally needs) and rebuild a
    // LocalRelation — the [[Similarity.kmeans]] r18 shape. The old
    // form did a cents⟗computed join + localCheckpoint per round
    // (3-4 extra ~0.1 s scheduled jobs each, plus the checkpoint's
    // attribute-id-collision hazard its comment documented — a
    // LocalRelation has fresh attributes by construction). Values are
    // bit-identical: same integer-exact aggregate, same keep-previous
    // rule; every consumer aggregates the codebook through
    // array_sort(collect_list(...)), so row order never mattered.
    val spark = tall.sparkSession
    val seed = centroidsExactByM(tall.select(col("m").as("m"),
      pmod(col("id"), lit(ksub)).as("cl"), col("sv").as("v")), subDim)
    val schema = seed.schema
    def toDf(rows: Array[org.apache.spark.sql.Row]) =
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
    var centRows = seed.collect()
      .sortBy(r => (r.get(0).toString, r.get(1).toString))
    for (_ <- 1 to iters) {
      // assignL2AllWithVec: the round's (m, cl, v) rows come straight
      // off the narrow broadcast pick — no per-round (id, m) re-join
      // of the tall table (guide §2.4)
      val assigned = assignL2AllWithVec(tall, toDf(centRows))
        .select(col("m").as("m"), col("cl").as("cl"), col("sv").as("v"))
      val computed = centroidsExactByM(assigned, subDim).collect()
      val byKey = computed.map(r => (r.get(0), r.get(1)) -> r.get(2)).toMap
      centRows = centRows.map { r =>
        byKey.get((r.get(0), r.get(1)))
          .map(c => org.apache.spark.sql.Row(r.get(0), r.get(1), c))
          .getOrElse(r)
      }
    }
    toDf(centRows)
  }

  /** Shared PQ machinery: base (id, v, nrm), queries, trained
    * codebooks, corpus codes and the per-query LUT.
    */
  private case class PqParts(base: DataFrame, queries: DataFrame,
      codes: DataFrame, lut: DataFrame)

  private def build(embs: DataFrame, idCol: String, vecCol: String,
      queryPred: Column, m: Int, ksub: Int, iters: Int,
      dim: Int): PqParts = {
    val subDim = subDimOf(dim, m)
    val base = embs.select(col(idCol).as("id"),
        Vectors.toDouble(col(vecCol)).as("v"))
      .withColumn("nrm", Vectors.norm(col("v")))

    val tall = tallOf(base, "v", m, subDim)
    val cb = kmeansL2All(tall, ksub, iters, subDim)
    val codes = assignL2All(tall, cb)

    val queries = base.filter(queryPred)
      .select(col("id").as("qid"), col("v").as("qv"), col("nrm").as("qnrm"))
    PqParts(base, queries, codes, lutOf(queries, cb, m, subDim))
  }

  /** ADC candidate ranking + exact rerank over a prebuilt approx-dot
    * table (qid, id, adot_micros): integer parts already summed;
    * approx cosine re-quantized for ranking; emitted scores are exact.
    */
  private[ops] def rerankExact(base: DataFrame, queries: DataFrame,
      approx: DataFrame, k: Int, rerank: Int): DataFrame = {
    val wCand = Window.partitionBy(col("qid"))
      .orderBy(col("akey").desc, col("id").asc)
    val cands = approx
      .join(base.select(col("id"), col("nrm")), "id")
      .join(broadcast(queries.select(col("qid"), col("qnrm"))), "qid")
      .withColumn("akey",
        round(col("adot_micros").cast("double") / (col("qnrm") * col("nrm")))
          .cast("long"))
      .withColumn("crn", row_number().over(wCand))
      .filter(col("crn") <= rerank)
      .select(col("qid"), col("id"))

    val wTop = Window.partitionBy(col("qid"))
      .orderBy(col("cos").desc, col("neighbor_id").asc)
    // cands is ≤ rerank × |queries| rows by construction — broadcast
    // it so the exact-rerank join never shuffles the corpus
    broadcast(cands)
      .join(base, "id")
      .join(broadcast(queries), "qid")
      .select(col("qid"), col("id").as("neighbor_id"),
        (Vectors.dot(col("qv"), col("v")) / (col("qnrm") * col("nrm"))).as("cos"))
      .withColumn("rank", row_number().over(wTop).cast("long"))
      .filter(col("rank") <= k)
      .select(col("qid"), col("rank"), col("neighbor_id"),
        round(col("cos") * 1e6).cast("long").as("cos_micros"))
  }

  /** PQ-ADC top-k with exact rerank.
    * Output: (qid, rank, neighbor_id, cos_micros) — cos_micros are
    * EXACT cosines (the rerank recomputes them), only the candidate
    * set is approximate.
    */
  def topK(embs: DataFrame, idCol: String, vecCol: String,
      queryPred: Column, k: Int, m: Int, ksub: Int, iters: Int,
      rerank: Int): DataFrame = {
    val p = build(embs, idCol, vecCol, queryPred, m, ksub, iters,
      Similarity.vecDim(embs, vecCol))
    // ADC over the WHOLE corpus: integer parts sum associatively
    val approx = p.codes.join(broadcast(p.lut), Seq("m", "cl"))
      .groupBy(col("qid"), col("id"))
      .agg(sum(col("part_micros")).as("adot_micros"))
      .filter(col("id") =!= col("qid"))
    rerankExact(p.base, p.queries, approx, k, rerank)
  }

  /** IVF × PQ — the composed big-corpus layout: IVF probing restricts
    * the scored set to the probed centroid lists (~nprobe/nlist of the
    * corpus), and ADC scores those candidates from 16-byte codes
    * instead of full vectors; exact rerank on the survivors only. Both
    * halves are the already-oracle-proven components (trained cosine
    * IVF with multiple assignment; L2 PQ codebooks), glued by one
    * candidate join.
    */
  def ivfPqTopK(embs: DataFrame, idCol: String, vecCol: String,
      seedCol: String, queryPred: Column, k: Int, nprobe: Int,
      itersIvf: Int, massign: Int, m: Int, ksub: Int, itersPq: Int,
      rerank: Int): DataFrame = {
    // one width probe serves both the PQ guard and the IVF training
    val dim = Similarity.vecDim(embs, vecCol)
    val p = build(embs, idCol, vecCol, queryPred, m, ksub, itersPq, dim)
    val cents = Similarity.withCNorm(
      Similarity.kmeansAt(embs, idCol, vecCol, seedCol, itersIvf, dim))
    val assigned = Similarity.assignToNearest(p.base, cents, massign)

    // queries → nprobe nearest centroid lists (qid, cl)
    val wProbe = Window.partitionBy(col("qid"))
      .orderBy(col("pcos").desc, col("cl").asc)
    val probes = p.queries.join(broadcast(cents))
      .select(col("qid"), col("cl"),
        (Vectors.dot(col("qv"), col("cent")) / (col("qnrm") * col("cnrm"))).as("pcos"))
      .withColumn("prn", row_number().over(wProbe))
      .filter(col("prn") <= nprobe)
      .select(col("qid"), col("cl"))

    // candidate pairs from the probed lists (dedup: multiple
    // assignment can reach a vector through several lists)
    val candPairs = probes.join(assigned, "cl")
      .filter(col("id") =!= col("qid"))
      .select(col("qid"), col("id")).distinct()

    // ADC only over the probed candidates
    val approx = candPairs
      .join(p.codes, "id")
      .join(broadcast(p.lut), Seq("qid", "m", "cl"))
      .groupBy(col("qid"), col("id"))
      .agg(sum(col("part_micros")).as("adot_micros"))
    rerankExact(p.base, p.queries, approx, k, rerank)
  }

  /** recall@k of the PQ search vs the brute-force truth — the measured
    * quality number, like [[Similarity.ivfRecall]].
    */
  def recall(embs: DataFrame, idCol: String, vecCol: String,
      queryPred: Column, k: Int, m: Int, ksub: Int, iters: Int,
      rerank: Int): DataFrame = {
    val truth = Similarity.bruteForceTopK(embs, idCol, vecCol, queryPred, k)
    val approx = topK(embs, idCol, vecCol, queryPred, k, m, ksub, iters, rerank)
    truth.as("t")
      .join(approx.as("a"),
        col("t.qid") === col("a.qid") &&
          col("t.neighbor_id") === col("a.neighbor_id"), "left")
      .groupBy(col("t.qid").as("qid"))
      .agg(round(count(col("a.neighbor_id")).cast("double") / k * 1e6)
        .cast("long").as("recall_micros"))
  }

  /** recall@k of [[ivfPqTopK]] vs the brute-force truth. */
  def ivfPqRecall(embs: DataFrame, idCol: String, vecCol: String,
      seedCol: String, queryPred: Column, k: Int, nprobe: Int,
      itersIvf: Int, massign: Int, m: Int, ksub: Int, itersPq: Int,
      rerank: Int): DataFrame = {
    val truth = Similarity.bruteForceTopK(embs, idCol, vecCol, queryPred, k)
    val approx = ivfPqTopK(embs, idCol, vecCol, seedCol, queryPred, k,
      nprobe, itersIvf, massign, m, ksub, itersPq, rerank)
    truth.as("t")
      .join(approx.as("a"),
        col("t.qid") === col("a.qid") &&
          col("t.neighbor_id") === col("a.neighbor_id"), "left")
      .groupBy(col("t.qid").as("qid"))
      .agg(round(count(col("a.neighbor_id")).cast("double") / k * 1e6)
        .cast("long").as("recall_micros"))
  }

  // ------------------------------------------------------------ oracle

  private def subSql(v: String, mi: Int, subDim: Int): String =
    s"$v[${mi * subDim + 1}:${(mi + 1) * subDim}]"

  /** CTE chain for one subspace's codebook + codes: cents0_m (seeded),
    * `iters` Lloyd rounds (L2 assignment, integer-exact means,
    * empty-cluster fallback), codes_m (final assignment). Training
    * runs over `trainPredSql`'s subset of e (all of it by default);
    * codes always cover the whole corpus — the build/append split.
    */
  private def subspaceSql(mi: Int, subDim: Int, ksub: Int,
      iters: Int, trainPredSql: String = "true"): String = {
    def assign(cents: String, src: String): String =
      s"""SELECT id, cl, v FROM (
         |    SELECT s.id, c.cl, s.v, row_number() OVER (PARTITION BY s.id
         |      ORDER BY ${Vectors.dotSql("s.v", "c.cent")}
         |        - ${Vectors.dotSql("c.cent", "c.cent")} / 2 DESC, c.cl) AS arn
         |    FROM $src s CROSS JOIN $cents c) WHERE arn = 1""".stripMargin
    val rounds = (1 to iters).map { r =>
      s"""a${r}_$mi AS (${assign(s"cents${r - 1}_$mi", s"subt$mi")}),
         |m${r}_$mi AS (${Similarity.centroidsExactSql(s"a${r}_$mi", subDim)}),
         |cents${r}_$mi AS (
         |  SELECT o.cl, coalesce(n.cent, o.cent) AS cent
         |  FROM cents${r - 1}_$mi o LEFT JOIN m${r}_$mi n ON o.cl = n.cl),""".stripMargin
    }.mkString("\n")
    s"""sub$mi AS (SELECT id, id % $ksub AS seed, ${subSql("v", mi, subDim)} AS v FROM e),
       |subt$mi AS (SELECT * FROM sub$mi WHERE $trainPredSql),
       |cents0_$mi AS (${Similarity.centroidsExactSql(
          s"(SELECT seed AS cl, v FROM subt$mi) s0_$mi", subDim)}),
       |$rounds
       |codes_$mi AS (SELECT id, $mi AS m, cl FROM (${assign(s"cents${iters}_$mi", s"sub$mi")}))""".stripMargin
  }

  /** DuckDB twin of [[topK]] minus the final projection — emits the
    * shared prefix through the reranked `pq` CTE.
    */
  private def prefixSql(id: String, vec: String, table: String,
      queryPredSql: String, k: Int, m: Int, ksub: Int, iters: Int,
      rerank: Int): String = {
    val subDim = Width / m
    val subspaces = (0 until m).map(subspaceSql(_, subDim, ksub, iters))
      .mkString(",\n")
    val codesTall = (0 until m).map(mi => s"SELECT * FROM codes_$mi")
      .mkString(" UNION ALL ")
    val lutTall = (0 until m).map { mi =>
      s"""SELECT q.qid, $mi AS m, c.cl,
         |  round(${Vectors.dotSql(s"${subSql("q.qv", mi, subDim)}", "c.cent")} * 1e6)::BIGINT AS part_micros
         |FROM q CROSS JOIN cents${iters}_$mi c""".stripMargin
    }.mkString(" UNION ALL ")
    s"""WITH e AS (
       |  SELECT $id AS id, ${Vectors.toDoubleSql(vec)} AS v,
       |    ${Vectors.normSql(Vectors.toDoubleSql(vec))} AS nrm
       |  FROM $table),
       |$subspaces,
       |codes AS ($codesTall),
       |q AS (SELECT id AS qid, v AS qv, nrm AS qnrm FROM e WHERE $queryPredSql),
       |lut AS ($lutTall),
       |adc AS (
       |  SELECT l.qid, c.id, sum(l.part_micros)::BIGINT AS adot_micros
       |  FROM codes c JOIN lut l ON l.m = c.m AND l.cl = c.cl
       |  WHERE c.id <> l.qid GROUP BY 1, 2),
       |cands AS (
       |  SELECT qid, id FROM (
       |    SELECT a.qid, a.id, row_number() OVER (PARTITION BY a.qid
       |      ORDER BY round(a.adot_micros::DOUBLE / (q.qnrm * e.nrm)) DESC, a.id) AS crn
       |    FROM adc a JOIN e ON e.id = a.id JOIN q ON q.qid = a.qid)
       |  WHERE crn <= $rerank),
       |pq AS (
       |  SELECT qid, neighbor_id, cos FROM (
       |    SELECT c.qid, c.id AS neighbor_id,
       |      ${Vectors.cosineSql("q.qv", "e.v")} AS cos,
       |      row_number() OVER (PARTITION BY c.qid
       |        ORDER BY ${Vectors.cosineSql("q.qv", "e.v")} DESC, c.id) AS rank
       |    FROM cands c JOIN e ON e.id = c.id JOIN q ON q.qid = c.qid)
       |  WHERE rank <= $k)""".stripMargin
  }

  def topKSql(id: String, vec: String, table: String, queryPredSql: String,
      k: Int, m: Int, ksub: Int, iters: Int, rerank: Int): String =
    s"""${prefixSql(id, vec, table, queryPredSql, k, m, ksub, iters, rerank)}
       |SELECT qid, row_number() OVER (PARTITION BY qid
       |    ORDER BY cos DESC, neighbor_id)::BIGINT AS rank,
       |  neighbor_id, round(cos * 1e6)::BIGINT AS cos_micros
       |FROM pq""".stripMargin

  def recallSql(id: String, vec: String, table: String, queryPredSql: String,
      k: Int, m: Int, ksub: Int, iters: Int, rerank: Int): String =
    s"""${prefixSql(id, vec, table, queryPredSql, k, m, ksub, iters, rerank)},
       |truth AS (
       |  SELECT qid, neighbor_id FROM (
       |    SELECT q.qid, e.id AS neighbor_id,
       |      row_number() OVER (PARTITION BY q.qid
       |        ORDER BY ${Vectors.cosineSql("q.qv", "e.v")} DESC, e.id) AS rank
       |    FROM q JOIN e ON e.id <> q.qid) WHERE rank <= $k)
       |SELECT t.qid,
       |  round(count(p.neighbor_id)::DOUBLE / $k * 1e6)::BIGINT AS recall_micros
       |FROM truth t LEFT JOIN pq p
       |  ON t.qid = p.qid AND t.neighbor_id = p.neighbor_id
       |GROUP BY t.qid""".stripMargin

  /** DuckDB twin of [[ivfPqTopK]]: the IVF training/assignment prefix
    * (Similarity.ivfTrainedPrefixSql — e carries nrm, af is the
    * massign assignment, q the queries) + the PQ subspace codebooks
    * over the SAME `e`, with ADC restricted to the probed candidate
    * pairs.
    */
  /** `candPredSql` restricts the CANDIDATE (indexed) side over the
    * assignment rows `a` — "a.id % 2 = 0" spells an index that no
    * longer contains the odd ids (the [[graft.ops.Index.delete]]
    * oracle); queries and training are unaffected.
    */
  def ivfPqTopKSql(id: String, vec: String, seed: String, table: String,
      queryPredSql: String, k: Int, nprobe: Int, itersIvf: Int,
      massign: Int, m: Int, ksub: Int, itersPq: Int, rerank: Int,
      trainPredSql: String = "true", candPredSql: String = "true"): String = {
    val subDim = Width / m
    val subspaces = (0 until m)
      .map(subspaceSql(_, subDim, ksub, itersPq, trainPredSql))
      .mkString(",\n")
    val codesTall = (0 until m).map(mi => s"SELECT * FROM codes_$mi")
      .mkString(" UNION ALL ")
    val lutTall = (0 until m).map { mi =>
      s"""SELECT q.qid, $mi AS m, c.cl,
         |  round(${Vectors.dotSql(s"${subSql("q.qv", mi, subDim)}", "c.cent")} * 1e6)::BIGINT AS part_micros
         |FROM q CROSS JOIN cents${itersPq}_$mi c""".stripMargin
    }.mkString(" UNION ALL ")
    s"""${Similarity.ivfTrainedPrefixSql(id, vec, seed, table, queryPredSql,
          k, itersIvf, Width, massign, trainPredSql)},
       |$subspaces,
       |codes AS ($codesTall),
       |lut AS ($lutTall),
       |probes AS (
       |  SELECT qid, cl FROM (
       |    SELECT q.qid, c.cl, row_number() OVER (PARTITION BY q.qid
       |      ORDER BY ${Vectors.cosineSql("q.qv", "c.cent")} DESC, c.cl) AS prn
       |    FROM q CROSS JOIN cents$itersIvf c) WHERE prn <= $nprobe),
       |candp AS (
       |  SELECT DISTINCT p.qid, a.id FROM probes p JOIN af a ON a.cl = p.cl
       |  WHERE a.id <> p.qid AND ($candPredSql)),
       |adc AS (
       |  SELECT cp.qid, cp.id, sum(l.part_micros)::BIGINT AS adot_micros
       |  FROM candp cp JOIN codes c ON c.id = cp.id
       |  JOIN lut l ON l.qid = cp.qid AND l.m = c.m AND l.cl = c.cl
       |  GROUP BY 1, 2),
       |cands AS (
       |  SELECT qid, id FROM (
       |    SELECT a.qid, a.id, row_number() OVER (PARTITION BY a.qid
       |      ORDER BY round(a.adot_micros::DOUBLE / (q.qnrm * e.nrm)) DESC, a.id) AS crn
       |    FROM adc a JOIN e ON e.id = a.id JOIN q ON q.qid = a.qid)
       |  WHERE crn <= $rerank)
       |SELECT qid, rank, neighbor_id, cos_micros FROM (
       |  SELECT c.qid AS qid, row_number() OVER (PARTITION BY c.qid
       |      ORDER BY ${Vectors.cosineSql("q.qv", "e.v")} DESC, c.id)::BIGINT AS rank,
       |    c.id AS neighbor_id,
       |    round(${Vectors.cosineSql("q.qv", "e.v")} * 1e6)::BIGINT AS cos_micros
       |  FROM cands c JOIN e ON e.id = c.id JOIN q ON q.qid = c.qid)
       |WHERE rank <= $k""".stripMargin
  }
}
