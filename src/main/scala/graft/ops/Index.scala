package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Persisted ANN index — the build/search split that turns the
  * oracle-proven in-plan ANN queries ([[Similarity.ivfTopKTrained]],
  * [[Pq.ivfPqTopK]]) into the shape a 100 TB deployment actually runs:
  * train ONCE, write the index as bucketed tables, serve MANY searches
  * that read the artifact with no training stage at all.
  *
  * == Artifact layout (four tables under one `name` prefix) ==
  *
  *  - `<name>_cents`     (cl, cent, cnrm): trained IVF centroids
  *    (deterministic integer-exact k-means, [[Similarity.kmeans]]) —
  *    nlist rows, broadcast at search time.
  *  - `<name>_codebooks` (m, cl, cent): PQ subspace codebooks
  *    ([[Pq.kmeansL2All]]) — m × ksub rows, broadcast at search time.
  *  - `<name>_postings`  (cl, id): the inverted file — every corpus
  *    vector posted to its `massign` nearest lists, hash-BUCKETED BY
  *    `cl` ([[Bucketing]]): the probe join reads only matching
  *    buckets and never shuffles the posting side.
  *  - `<name>_codes`     (id, m, cl): 16-byte-per-vector PQ codes,
  *    bucketed by `id`: the ADC join shuffles only the (tiny)
  *    candidate pairs, never the codes.
  *
  * plus `<name>_meta` (massign, m, ksub, nBuckets) so search/append
  * don't re-specify build parameters.
  *
  * == Why this matters at scale ==
  *
  * The in-plan queries retrain k-means inside every execution — correct
  * for the DuckDB oracle gate, but it pays ~6 Lloyd-round checkpoint
  * barriers per query and re-reads the whole corpus. Here training cost
  * is paid once at [[build]]; [[search]] is probe (broadcast cents) →
  * candidate pairs (bucketed postings, no exchange on the corpus side)
  * → ADC (bucketed codes ⨝ broadcast LUT → partial-agg LONG sum) →
  * exact rerank (≤ rerank × |queries| rows). The only corpus-wide work
  * left in a search is the bucketed-scan fraction the probes touch:
  * ~massign·nprobe/nlist of the postings.
  *
  * Search output is bit-identical to [[Pq.ivfPqTopK]] at the same
  * parameters (the artifact stores exactly the quantized values the
  * in-plan query computes), so `q_sim_index_search` shares the
  * `q_sim_ivfpq` oracle.
  *
  * [[append]] is the maintenance delta: assign + encode ONLY the new
  * vectors at the FIXED trained centroids/codebooks and append them to
  * the bucketed tables — committed files are never rewritten
  * (IndexSpec proves byte-identity of untouched files, and that
  * append-then-search equals encode-from-scratch at the same
  * centroids). Retraining cadence stays a policy decision above the
  * engine, as in production IVF/PQ systems.
  */
object Index {

  /** Build parameters persisted with the artifact. */
  final case class Meta(massign: Int, m: Int, ksub: Int, nBuckets: Int)

  private def part(name: String, p: String) = s"${name}_$p"

  /** The index's own directory: always namespaced by `name`, so two
    * indexes sharing a baseDir can never overwrite each other's files.
    */
  private def indexDir(baseDir: Option[String], name: String): String =
    s"${baseDir.getOrElse(s"${sys.props("java.io.tmpdir")}/graft_index")}/$name"

  /** Every part's current directories live in ONE [[Generations]]
    * state: a bucketed part names one directory, or — after
    * [[appendCommitted]]`(manifestCommit = true)` — its chain of
    * segment directories.
    */
  private def stateOf(dir: String): Generations.State =
    Generations.stateOf(dir, " — build the index first")

  /** The id column is CAST TO LONG at the artifact boundary (advice
    * r13): [[delete]]'s touched-bucket digest hashes the del ids as
    * long, and Spark's Murmur3 hashes IntegerType and LongType
    * DIFFERENTLY — an int-typed source id would put the digest in the
    * wrong hash family and deleted rows could silently survive in
    * "kept" files. One cast here makes every bucketed part uniformly
    * long-keyed (the [[TextIndex.tokTf]] convention), so bucketBy and
    * the digest always agree.
    */
  private[graft] def baseOf(embs: DataFrame, idCol: String, vecCol: String): DataFrame =
    Caching.cachedOnce(
      embs.select(col(idCol).cast("long").as("id"),
          Vectors.toDouble(col(vecCol)).as("v"))
        .withColumn("nrm", Vectors.norm(col("v"))))

  /** Train + encode + persist. One corpus-wide training pass (IVF
    * k-means + PQ codebooks), one assignment pass, then the bucketed
    * writes — the pay-once side of the split.
    */
  def build(spark: SparkSession, embs: DataFrame, idCol: String,
      vecCol: String, seedCol: String, name: String,
      itersIvf: Int = 4, massign: Int = 2, m: Int = 16, ksub: Int = 32,
      itersPq: Int = 2, nBuckets: Int = 8,
      baseDir: Option[String] = None): Unit = {
    ArtifactFiles.requireArtifactName(name)
    // one width probe serves the code-width guard and the k-means
    val dim = Similarity.vecDim(embs, vecCol)
    val subDim = Pq.subDimOf(dim, m)
    import spark.implicits._

    val base = baseOf(embs, idCol, vecCol)
    val cents = Similarity.withCNorm(
      Similarity.kmeansAt(embs, idCol, vecCol, seedCol, itersIvf, dim))
    val postings = Similarity.assignToNearest(base, cents, massign)
      .select(col("cl"), col("id"))

    val tall = Pq.tallOf(base, "v", m, subDim)
    val cb = Pq.kmeansL2All(tall, ksub, itersPq, subDim)
    val codes = Pq.assignL2All(tall, cb)

    // SQ tier: per-dim ranges + 1-byte codes — the 4×-memory serving
    // option next to PQ's 16× and flat's none, from the same artifact
    val sqRanges = Sq.rangesTall(base)

    // BQ tier: one sign-packed long per vector (32×) — the coarsest
    // serving option, an 8-byte full sweep instead of a probe
    val bqCodes = base.select(col("id"), Bq.packCol("v", Pq.Width).as("code"))

    val dir = indexDir(baseDir, name)
    def loc(p: String) = s"$dir/$p"
    // trained parameters first (tiny tables; training itself already
    // ran eagerly through the kmeans collects) — the three writes are
    // independent (distinct tables/dirs), land them concurrently
    // (r18: they were sequential, three ~0.3 s scheduling latencies
    // in a row on every build-bearing gate)
    Par.jobs(Seq(
      () => cents.write.mode("overwrite").format("parquet")
        .option("path", loc("cents")).saveAsTable(part(name, "cents")),
      () => cb.write.mode("overwrite").format("parquet")
        .option("path", loc("codebooks")).saveAsTable(part(name, "codebooks")),
      () => sqRanges.write.mode("overwrite").format("parquet")
        .option("path", loc("sq_ranges")).saveAsTable(part(name, "sq_ranges"))))
    // ... then encode from the WRITTEN ranges (64 rows — re-reading
    // them beats re-aggregating the corpus; micros are integral
    // doubles, so the parquet round trip is exact) and land the four
    // encoded parts CONCURRENTLY: each bucketed write is only
    // nBuckets tasks wide, the four are independent (distinct tables,
    // distinct dirs, shared inputs read-only), and the shared `base`
    // cache materializes once under the block manager's per-partition
    // locks whichever job touches a partition first.
    val sqCodes = base.join(broadcast(
        Sq.collapseRanges(spark.table(part(name, "sq_ranges")))))
      .select(col("id"), Sq.codeCol(Pq.Width, clamp = false).cast("array<int>")
        .as("code"))
    Par.jobs(Seq(
      () => Bucketing.writeBucketed(postings, part(name, "postings"), "cl",
        nBuckets, Some(loc("postings"))),
      () => Bucketing.writeBucketed(codes, part(name, "codes"), "id",
        nBuckets, Some(loc("codes"))),
      () => Bucketing.writeBucketed(sqCodes, part(name, "sq_codes"), "id",
        nBuckets, Some(loc("sq_codes"))),
      () => Bucketing.writeBucketed(bqCodes, part(name, "bq_codes"), "id",
        nBuckets, Some(loc("bq_codes")))))
    Seq((massign, m, ksub, nBuckets))
      .toDF("massign", "m", "ksub", "nBuckets")
      .write.mode("overwrite").format("parquet")
      .option("path", loc("meta")).saveAsTable(part(name, "meta"))
    // a rebuild is a NEW index: it does not extend grace promises of
    // the one it replaces (retrain cadence is an offline, coordinated
    // act), and its commit sweeps every superseded generation
    Generations.rebuild(dir, Parts.map(p => p -> Seq(p)).toMap)
  }

  private val Parts =
    Seq("cents", "codebooks", "sq_ranges", "postings", "codes", "sq_codes",
      "bq_codes", "meta")

  /** The bucketed (key-clustered) parts and their bucket keys. */
  private val BucketedParts =
    Seq("postings" -> "cl", "codes" -> "id", "sq_codes" -> "id",
      "bq_codes" -> "id")

  private def readMeta(spark: SparkSession, name: String): Meta = {
    val r = spark.table(part(name, "meta")).collect()(0)
    Meta(r.getAs[Int]("massign"), r.getAs[Int]("m"), r.getAs[Int]("ksub"),
      r.getAs[Int]("nBuckets"))
  }

  /** Whether `name` is already attached in this session's catalog. */
  def exists(spark: SparkSession, name: String): Boolean =
    spark.catalog.tableExists(part(name, "meta"))

  /** Re-attach an index BUILT BY A PREVIOUS SESSION from its files:
    * recreates the catalog entries (including the bucketing spec —
    * without it the zero-exchange join layout would be lost) over the
    * existing locations, resolved through the committed state (so
    * compacted parts are found, and a crashed maintenance run cannot
    * strand the index). The bucket count comes from the persisted
    * meta table — a caller-supplied value could silently declare a
    * false bucket spec and drop join candidates. No data is read or
    * written beyond metadata. This is what makes the artifact an
    * artifact: build once, serve from any number of later sessions.
    */
  def register(spark: SparkSession, name: String, baseDir: String): Unit = {
    ArtifactFiles.requireArtifactName(name)
    val dir = s"$baseDir/$name"
    val st = stateOf(dir)
    for (p <- Seq("cents", "codebooks", "sq_ranges", "meta"))
      Generations.attachBucketed(spark, part(name, p), s"$dir/${st.dir(p)}")
    attachParts(spark, name, dir, st, readMeta(spark, name).nBuckets)
  }

  /** Re-attach the bucketed parts: a one-directory part as a bucketed
    * table, a manifest-mode segment chain as a union view
    * ([[attachView]]).
    */
  private def attachParts(spark: SparkSession, name: String, dir: String,
      st: Generations.State, nBuckets: Int): Unit =
    for ((p, key) <- BucketedParts) {
      val ds = st.current(p)
      if (ds.size == 1)
        Generations.attachBucketed(spark, part(name, p), s"$dir/${ds.head}",
          key, nBuckets)
      else attachView(spark, name, p, dir, ds)
    }

  /** (postings, codes, sq_codes, bq_codes) of `embs` encoded at the
    * STORED centroids, codebooks and ranges — the no-training encode
    * pass shared by [[append]] and the rebuild-equivalence spec. Four
    * zero-shuffle broadcast-assign maps; nothing here ever retrains.
    * SQ codes CLAMP to [0, 255]: new vectors may fall outside the
    * stored per-dim ranges (the fixed-parameters analog of assigning
    * to the fixed centroids). BQ sign codes have no trained
    * parameters at all — encode is the same pack as build.
    */
  def encode(spark: SparkSession, name: String, embs: DataFrame,
      idCol: String, vecCol: String)
      : (DataFrame, DataFrame, DataFrame, DataFrame) = {
    val meta = readMeta(spark, name)
    val subDim = Pq.Width / meta.m
    val base = baseOf(embs, idCol, vecCol)
    val postings = Similarity.assignToNearest(base,
        spark.table(part(name, "cents")), meta.massign)
      .select(col("cl"), col("id"))
    val codes = Pq.assignL2All(
      Pq.tallOf(base, "v", meta.m, subDim),
      spark.table(part(name, "codebooks")))
    val sqCodes = base.join(broadcast(
        Sq.collapseRanges(spark.table(part(name, "sq_ranges")))))
      .select(col("id"), Sq.codeCol(Pq.Width, clamp = true).cast("array<int>")
        .as("code"))
    val bqCodes = base.select(col("id"), Bq.packCol("v", Pq.Width).as("code"))
    (postings, codes, sqCodes, bqCodes)
  }

  /** IN-PLACE incremental append — the spec-only fast path, NOT a
    * serving write path: [[encode]] ONLY `newEmbs` (no retraining, no
    * Lloyd rounds) and drip the delta files straight into the live
    * bucketed postings/codes tables. Committed files are untouched
    * and cost stays ∝ |delta| (IndexSpec proves byte-identity), but
    * the files become visible ONE BY ONE and a crash mid-append
    * leaves a half-landed delta in the served index. Every public
    * maintenance path therefore goes through [[appendCommitted]]
    * (atomic generation swap; same results, spec-proven equal) —
    * this method exists only so the specs can prove that equality
    * and exercise compaction over dripped files.
    */
  private[graft] def appendInPlace(spark: SparkSession, name: String,
      newEmbs: DataFrame, idCol: String, vecCol: String): Unit = {
    val meta = readMeta(spark, name)
    val (postings, codes, sqCodes, bqCodes) =
      encode(spark, name, newEmbs, idCol, vecCol)
    // four independent delta writes (distinct tables), issued
    // concurrently — each is only nBuckets tasks wide ([[Par.jobs]])
    Par.jobs(Seq(
      () => Bucketing.appendBucketed(postings, part(name, "postings"), "cl",
        meta.nBuckets),
      () => Bucketing.appendBucketed(codes, part(name, "codes"), "id",
        meta.nBuckets),
      () => Bucketing.appendBucketed(sqCodes, part(name, "sq_codes"), "id",
        meta.nBuckets),
      () => Bucketing.appendBucketed(bqCodes, part(name, "bq_codes"), "id",
        meta.nBuckets)))
  }

  /** THE append path: the encoded delta is bucket-written to
    * `.staging`, and each part's fresh generation — hard links to its
    * committed files plus the staged ones, metadata only — is
    * committed for all four parts in ONE [[Generations]] swap (the
    * in-place drip survives only as the package-private
    * [[appendInPlace]] spec fixture). A crash during the delta writes
    * leaves no trace in the served index (IndexSpec pins it), a
    * graced cross-session reader keeps its file set for
    * `graceCommits` further commits, and an at-least-once replay
    * re-commits a fresh generation whose duplicate rows the
    * duplicate-tolerant search and [[compact]] absorb.
    *
    * With `manifestCommit = true` no file is linked or moved: the
    * delta writes straight into its own segment directory and the
    * commit appends that segment to the part's directory list — the
    * object-store-safe shape (S3-style stores have no links and copy
    * on rename), exactly the Delta/Iceberg snapshot. The part then
    * attaches as a union view (no bucket spec is declarable over
    * several directories — [[attachView]]) until [[compact]]
    * collapses the chain; search results are identical either way
    * (IndexSpec proves byte-identity).
    *
    * Cost stays ∝ |delta| + O(#files) link metadata, never ∝ corpus
    * bytes. Single writer, like all index maintenance.
    */
  def appendCommitted(spark: SparkSession, name: String, newEmbs: DataFrame,
      idCol: String, vecCol: String, graceCommits: Int = 0,
      manifestCommit: Boolean = false): Unit = {
    val meta = readMeta(spark, name)
    val (postings, codes, sqCodes, bqCodes) =
      encode(spark, name, newEmbs, idCol, vecCol)
    val dir = Generations.rootOf(spark, part(name, "meta"))
    val st = stateOf(dir)
    val u = Generations.uid()
    val parts = Seq(("postings", "cl", postings), ("codes", "id", codes),
      ("sq_codes", "id", sqCodes), ("bq_codes", "id", bqCodes))
    def target(p: String) =
      if (manifestCommit) s"${p}_s$u" else s"${Generations.Staging}/${p}_$u"
    // the four delta bucket-writes run CONCURRENTLY (distinct stage
    // tables and target dirs, all invisible until the commit)
    Par.jobs(parts.map { case (p, key, df) => () =>
      Bucketing.stageBucketed(df, s"${part(name, p)}_stage_$u", key,
        meta.nBuckets, s"$dir/${target(p)}")
    })
    val next =
      if (manifestCommit)
        Generations.commit(dir, st, parts.map { case (p, _, _) =>
          p -> (st.current(p) :+ target(p)) }.toMap,
          graceCommits = graceCommits)
      else
        Generations.commitFiles(dir, st, parts.map { case (p, _, _) =>
          p -> (Generations.filesOf(dir, st.current(p)) ++
            Generations.dataFiles(java.nio.file.Paths.get(dir, target(p))))
        }.toMap, graceCommits)
    attachParts(spark, name, dir, next, meta.nBuckets)
  }

  /** Operational snapshot of the artifact — the
    * [[graft.streaming.StateTable.describe]] analog for the index:
    * one row per part with its committed directories, the gen counter,
    * grace policy and the part's still-graced retirees, its segment
    * count (a manifest-committed chain lists >1 until [[compact]]
    * collapses it) and the file count/bytes of the CURRENT data,
    * straight from the filesystem — no data read, no job.
    */
  def describe(spark: SparkSession, name: String): DataFrame = {
    import spark.implicits._
    val dir = Generations.rootOf(spark, part(name, "meta"))
    val st = stateOf(dir)
    val rows = Parts.map { p =>
      val ds = st.current(p)
      val files = Generations.filesOf(dir, ds)
      (p, ds.mkString(","), st.gen, st.grace,
        st.retired.count(_._2.contains(p)).toLong, ds.size.toLong,
        files.size.toLong, files.map(java.nio.file.Files.size(_)).sum)
    }
    rows.toDF("part", "current", "gen", "grace", "n_retired",
      "n_segments", "n_files", "bytes")
  }

  /** Consult-and-compact — the [[TextIndex.maybeCompact]] analog for
    * the ANN artifact (r14 verdict #7 named BOTH indexes' delta
    * chains): every [[appendCommitted]] adds one file set per batch
    * (manifest commits accrete whole segments), so a long-lived
    * maintenance stream grows the file count without bound unless
    * some cron compacts. If any bucketed part's CURRENT generation
    * holds more than `maxFilesPerPart` data files, run [[compact]]
    * (which also reclaims at-least-once replays' duplicate rows);
    * filesystem metadata only while under threshold. Search output
    * unchanged either way. Returns whether it compacted.
    */
  def maybeCompact(spark: SparkSession, name: String,
      maxFilesPerPart: Int): Boolean = {
    val dir = Generations.rootOf(spark, part(name, "meta"))
    val st = stateOf(dir)
    // clamp to the post-compact floor (compact leaves one file per
    // bucket): an unsatisfiable threshold would otherwise re-run a
    // full compact after EVERY batch (review r15)
    val threshold = math.max(maxFilesPerPart, readMeta(spark, name).nBuckets)
    val over = BucketedParts.exists { case (p, _) =>
      Generations.filesOf(dir, st.current(p)).size > threshold }
    if (over) compact(spark, name)
    over
  }

  /** Catalog entry for a MANIFEST-mode part: a view unioning
    * path-scans of the segment directories. The bucket spec is not
    * declarable on a multi-directory scan (Spark's bucketed tables are
    * single-location), so manifest-mode parts trade the zero-exchange
    * join for commit cheapness — search RESULTS are identical
    * (IndexSpec proves it byte-for-byte); on a real object store the
    * partition-preserving analog is a DSv2 relation reporting
    * storage-partitioned joins, which this view stands in for.
    */
  private def attachView(spark: SparkSession, name: String, p: String,
      dir: String, segments: Seq[String]): Unit = {
    Generations.dropEntry(spark, part(name, p))
    val legs = segments
      .map(s => s"SELECT * FROM parquet.`$dir/$s`")
      .mkString(" UNION ALL ")
    spark.sql(s"CREATE VIEW ${part(name, p)} AS $legs")
  }

  /** Offline compaction for an append-heavy index: every [[append]]
    * adds one file per touched bucket, so after many deltas the
    * postings/codes tables hold (appends × buckets) small files.
    * Rewrites each bucketed part as ONE file per bucket into a fresh
    * directory (dropping exact-duplicate rows — the parts are sets, so
    * the only source of duplicates is an at-least-once maintenance
    * replay) and commits all four in one [[Generations]] swap — search
    * output unchanged; file count re-pinned to the bucket count; a
    * manifest-mode chain collapses back to one plain bucketed
    * directory.
    */
  def compact(spark: SparkSession, name: String,
      graceCommits: Int = 0): Unit = {
    val dir = Generations.rootOf(spark, part(name, "meta"))
    val st = stateOf(dir)
    val nBuckets = readMeta(spark, name).nBuckets
    val u = Generations.uid()
    // read the committed files by PATH; repartition on the bucket key
    // (same murmur3 hash family as bucketBy) so each bucket's rows
    // land wholly in one task → one file per bucket
    Par.jobs(BucketedParts.map { case (p, key) => () =>
      Bucketing.stageBucketed(
        spark.read.parquet(st.current(p).map(d => s"$dir/$d"): _*)
          .distinct().repartition(nBuckets, col(key)),
        s"${part(name, p)}_stage_$u", key, nBuckets, s"$dir/${p}_c$u")
    })
    val next = Generations.commit(dir, st,
      BucketedParts.map { case (p, _) => p -> Seq(s"${p}_c$u") }.toMap,
      graceCommits = graceCommits)
    attachParts(spark, name, dir, next, nBuckets)
  }

  /** Takedown maintenance — remove `delIds` from every encoded part
    * (the right-to-be-forgotten half of the index lifecycle, next to
    * [[append]]/[[appendCommitted]]/[[compact]]): each bucketed part
    * is rewritten minus the deleted ids into a fresh generation
    * directory and committed through the same [[Generations]] swap
    * as every other maintenance op — a crash mid-delete leaves
    * the served index untouched, and graced readers keep their
    * snapshot (which is a FEATURE for audits and a RETENTION BOUND
    * for takedowns: set `graceCommits = 0`, the default, when the
    * point is that the data is gone, then [[compact]]/sweep reclaims
    * bytes).
    *
    * The TRAINED parameters (centroids, codebooks, ranges) are
    * deliberately not retrained — [[append]]'s fixed-parameter
    * contract in reverse: a delete changes the encoded SET, not the
    * model, so search-after-delete equals the same search with
    * candidates restricted to survivors (`q_sim_index_delete` proves
    * it through the in-plan oracle with a candidate predicate).
    * Retraining cadence stays an offline, coordinated act
    * ([[build]]).
    *
    * Cost: BUCKET-PRUNED on the id-keyed parts (codes/sq_codes/
    * bq_codes — the [[appendCommitted]] file-surgery shape in
    * reverse): the deleted ids hash to ≤ |delIds| of the nBuckets
    * id-buckets, so only the FILES of those buckets are read,
    * anti-joined and rewritten; every untouched bucket file is
    * hard-linked into the new generation byte-identical (IndexSpec
    * proves name + content identity). At 100 TB a single-document
    * takedown therefore rewrites ~1/nBuckets of each codes table, not
    * the whole table. The postings part is full-touch by necessity —
    * it is bucketed by `cl`, and deleted ids scatter across cluster
    * buckets (finding which would read all postings anyway). The four
    * part rewrites land concurrently ([[Par.jobs]]); reads resolve
    * through the committed state, so link-mode AND manifest-mode
    * parts both collapse to a plain bucketed dir.
    */
  def delete(spark: SparkSession, name: String, delIds: DataFrame,
      idCol: String, graceCommits: Int = 0): Unit =
    upsertImpl(spark, name, None, Some(delIds), idCol, graceCommits)

  /** Upsert — replace-or-insert `embs` and take down `delIds`, in ONE
    * generation commit per part (the [[TextIndex.upsert]] shape on
    * the vector artifact, r15 verdict #3: the CDC feed would
    * otherwise run [[delete]] then [[appendCommitted]] as TWO commit
    * rounds — twice the staging/link/swap machinery, and a window
    * where a re-embedded id is absent from the served index).
    * Semantics: every id in `embs` ∪ `delIds` leaves the encoded
    * parts, then `embs` is encoded at the FIXED trained
    * centroids/codebooks ([[append]]'s contract) and ingested —
    * search-after == the same search over
    * (corpus \ (embs.ids ∪ delIds)) ∪ embs (`q_pipe_cdc_ann` proves
    * it through the in-plan IVF×PQ oracle over the merged corpus).
    *
    * Replay-idempotent WITHOUT markers: a replayed upsert removes
    * exactly the rows it itself added (the removal set is its own
    * ingest ids) and re-encodes the same vectors at the same fixed
    * params — byte-equal state, so the streaming CDC feed
    * ([[graft.streaming.TrilogyStream.applyChanges]]) needs no marker
    * table (unlike [[TextIndex]], whose append-side content guards
    * made un-marked replays observable in the stats).
    *
    * Cost: the removal side is bucket-pruned exactly like [[delete]]
    * (id-keyed parts rewrite only the touched buckets' files;
    * postings full-touch by necessity); the ingest side stages only
    * the delta's encoded bytes; untouched files hard-link into the
    * fresh generation byte-identical (IndexSpec).
    */
  def upsert(spark: SparkSession, name: String, embs: DataFrame,
      idCol: String, vecCol: String,
      delIds: Option[DataFrame] = None, delCol: String = "id",
      graceCommits: Int = 0): Unit =
    upsertImpl(spark, name, Some((embs, idCol, vecCol)), delIds, delCol,
      graceCommits)

  /** The one removal+ingest commit path behind [[upsert]] AND
    * [[delete]] (delete is its empty-ingest specialization — one
    * removal path, the [[TextIndex.upsertImpl]] discipline): the
    * bucket-pruned removal rewrites AND the encoded ingest delta stage
    * concurrently per part, kept files hard-link, and all four parts
    * commit in ONE [[Generations]] swap — never a half-applied batch
    * across parts.
    */
  private def upsertImpl(spark: SparkSession, name: String,
      ingest: Option[(DataFrame, String, String)],
      delIds: Option[DataFrame], delCol: String,
      graceCommits: Int): Unit = {
    val dir = Generations.rootOf(spark, part(name, "meta"))
    val meta = readMeta(spark, name)
    // removal set: every ingested id leaves first (an upsert of an
    // indexed id must REPLACE it), plus the explicit tombstones
    val removalSrcs =
      ingest.map { case (df, ic, _) =>
        df.select(col(ic).cast("long").as("__del_id")) }.toSeq ++
      delIds.map(_.select(col(delCol).cast("long").as("__del_id"))).toSeq
    if (removalSrcs.isEmpty) return
    // explicit persist + finally-unpersist (NOT cachedOnce): the CDC
    // feed calls this once per micro-batch with batch-unique plans,
    // so leaked entries would grow without bound (the
    // TextIndex.append r13 discipline). ingestBase pins the SAME
    // cache entry encode's internal baseOf resolves (cachedOnce
    // dedups by canonicalized plan), so it too is released here.
    val del = removalSrcs.reduce(_ union _).distinct().persist()
    val ingestBase = ingest.map { case (df, ic, vc) => baseOf(df, ic, vc) }
    try {
    // ONE bounded probe job (r18: was three ~0.1 s jobs —
    // requireUniqueIds, ingest isEmpty, touched digest):
    //  - the touched id-buckets — bucketBy's own hash family
    //    (functions.hash IS HashPartitioning's Murmur3 seed-42
    //    expression, pmod nBuckets). ≤ nBuckets values: a bounded
    //    driver-side digest, not a corpus collect (collect_set is
    //    restricted to the del side's bucket values);
    //  - the unique-ingest-id precondition (advice r16;
    //    multi-version batches LWW-collapse first in
    //    TrilogyStream.applyChanges) and "a PRESENT-but-empty ingest
    //    frame is a pure takedown" (verdict r16 #2: it used to
    //    bucket-write and link four empty delta files per
    //    generation) both read off the same aggregate.
    val probeRows = (Seq(
        del.select(lit("d").as("t"),
          pmod(hash(col("__del_id")), lit(meta.nBuckets))
            .cast("long").as("k"))) ++
      ingestBase.map(b => b.select(lit("i").as("t"), col("id").as("k"))))
      .reduce(_ unionByName _)
      .groupBy(col("t"), col("k")).agg(count(lit(1)).as("c"))
      .groupBy(col("t")).agg(
        collect_set(when(col("t") === "d", col("k"))).as("bkts"),
        count(lit(1)).as("groups"),
        max(when(col("c") > 1, col("k"))).as("dupk"),
        sum(when(col("c") > 1, lit(1)).otherwise(lit(0))).as("dups"))
      .collect().map(r => r.getString(0) -> r).toMap
    probeRows.get("i").filter(_.getLong(4) > 0).foreach { r =>
      throw new IllegalArgumentException(
        s"requirement failed: upsert ingest contains duplicate ids " +
          s"(e.g. ${r.get(3)}) — collapse to one row per id " +
          "(last-writer-wins) before upserting")
    }
    val hasIngest = probeRows.get("i").exists(_.getLong(2) > 0)
    val touched = probeRows.get("d")
      .map(_.getSeq[Long](1).map(_.toInt).toSet)
      .getOrElse(Set.empty[Int])
    // a batch with nothing to remove AND nothing to ingest advances
    // no generation at all (every id hashes to a bucket, so an empty
    // touched set ⟹ an empty removal set)
    if (touched.isEmpty && !hasIngest) return
    // encode the ingest delta at the FIXED trained params (lazy
    // frames — materialized by the phase-1 staging writes, before any
    // catalog re-attach)
    val deltaOf: Map[String, DataFrame] =
      (if (hasIngest) ingest else None).map { case (df, ic, vc) =>
        val (po, co, sq, bq) = encode(spark, name, df, ic, vc)
        Map("postings" -> po, "codes" -> co, "sq_codes" -> sq,
          "bq_codes" -> bq)
      }.getOrElse(Map.empty)
    val st = stateOf(dir)
    val u = Generations.uid()
    // CONCURRENT per-part staging (distinct stage tables and dirs;
    // readers still serve the old generation): id-keyed parts rewrite
    // ONLY the files of touched buckets and keep the rest; postings
    // rewrites fully
    val staged = Par.collect(BucketedParts.map { case (p, key) => () =>
      val files = Generations.filesOf(dir, st.current(p))
      // a file with no parseable bucket tag is conservatively treated
      // as touched (rewritten) — never silently kept
      val (rewrite, keep) =
        if (key != "id") (files, Seq.empty[java.nio.file.Path])
        else files.partition(f => ArtifactFiles
          .bucketIdOf(f.getFileName.toString).forall(touched.contains))
      val rewritten =
        if (rewrite.isEmpty) Nil
        else Generations.stage(spark.read.parquet(rewrite.map(_.toString): _*)
          .join(del, col("id") === col("__del_id"), "left_anti")
          .repartition(meta.nBuckets, col(key)),
          dir, name, p, s"r$u", key, meta.nBuckets)
      // the ingest delta joins the SAME generation — removal and
      // ingest publish in one swap
      p -> (keep ++ rewritten ++ deltaOf.get(p).toSeq.flatMap(
        Generations.stage(_, dir, name, p, s"i$u", key, meta.nBuckets)))
    })
    attachParts(spark, name, dir,
      Generations.commitFiles(dir, st, staged.toMap, graceCommits),
      meta.nBuckets)
    } finally { del.unpersist(); ingestBase.foreach(_.unpersist()) }
  }

  /** Search the persisted index for the corpus rows selected by
    * `queryPred` — the serve-many side of the split. The plan contains
    * NO training stage (PlanSpec asserts no checkpoint scans) and no
    * exchange on the postings/codes side (bucketed layout + broadcast
    * small sides). Output: (qid, rank, neighbor_id, cos_micros), exact
    * cosines — bit-identical to [[Pq.ivfPqTopK]] at the same params.
    */
  def search(spark: SparkSession, name: String, embs: DataFrame,
      idCol: String, vecCol: String, queryPred: Column, k: Int,
      nprobe: Int, rerank: Int): DataFrame = {
    val base = baseOf(embs, idCol, vecCol)
    val queries = base.filter(queryPred)
      .select(col("id").as("qid"), col("v").as("qv"), col("nrm").as("qnrm"))
    searchQueries(spark, name, base, queries, k, nprobe, rerank)
  }

  /** FLAT search over the persisted index: probe the nprobe nearest
    * lists, rank the probed candidates by EXACT cosine against the
    * full vectors — no PQ codes, no rerank stage. The serving shape
    * for corpora whose vectors still fit the IO budget (reads
    * ~massign·nprobe/nlist of the corpus rows per query batch);
    * [[searchQueries]] is the 16-byte-code path for when they don't.
    * Output identical to the in-plan [[Similarity.ivfTopKTrained]] at
    * the build parameters (shared oracle).
    */
  def searchFlat(spark: SparkSession, name: String, embs: DataFrame,
      idCol: String, vecCol: String, queryPred: Column, k: Int,
      nprobe: Int): DataFrame = {
    val base = baseOf(embs, idCol, vecCol)
    searchFlatQueries(spark, name, base,
      base.filter(queryPred).select(col("id").as("qid"), col("v").as("qv"),
        col("nrm").as("qnrm")), k, nprobe)
  }

  private def searchFlatQueries(spark: SparkSession, name: String,
      base: DataFrame, queries: DataFrame, k: Int, nprobe: Int): DataFrame = {
    val cents = spark.table(part(name, "cents"))
    val postings = spark.table(part(name, "postings"))
    val wProbe = Window.partitionBy(col("qid"))
      .orderBy(col("pcos").desc, col("cl").asc)
    val probes = queries.join(broadcast(cents))
      .select(col("qid"), col("cl"),
        (Vectors.dot(col("qv"), col("cent")) / (col("qnrm") * col("cnrm"))).as("pcos"))
      .withColumn("prn", row_number().over(wProbe))
      .filter(col("prn") <= nprobe)
      .select(col("qid"), col("cl"))
    // dedup on the ids alone (the query VECTOR would otherwise ride
    // every candidate row through the distinct's exchange), then
    // re-attach the broadcast query table for the exact scoring
    val pairs = broadcast(probes).join(postings, "cl")
      .filter(col("id") =!= col("qid"))
      .select(col("qid"), col("id")).distinct()
    val wTop = Window.partitionBy(col("qid"))
      .orderBy(col("cos").desc, col("neighbor_id").asc)
    pairs.join(base, "id")
      .join(broadcast(queries), "qid")
      .select(col("qid"), col("id").as("neighbor_id"),
        (Vectors.dot(col("qv"), col("v")) / (col("qnrm") * col("nrm"))).as("cos"))
      .withColumn("rank", row_number().over(wTop).cast("long"))
      .filter(col("rank") <= k)
      .select(col("qid"), col("rank"), col("neighbor_id"),
        round(col("cos") * 1e6).cast("long").as("cos_micros"))
  }

  /** SQ8 search over the persisted index — the middle serving tier:
    * probe the nprobe nearest lists, score the probed candidates from
    * their 1-BYTE-per-dim SQ codes (asymmetric midpoint
    * reconstruction, [[Sq]]), exact-rerank the top-`rerank`. Reads 4×
    * fewer candidate bytes than [[searchFlat]] and needs no codebook
    * training; [[searchQueries]] (PQ, 16×) is the tier below. Output
    * bit-identical to the in-plan [[Sq.ivfSqTopK]] at the build
    * parameters (shared oracle). The sq_codes table is bucketed by id:
    * the candidate join shuffles only the (tiny) probe pairs, never
    * the codes.
    */
  def searchSq(spark: SparkSession, name: String, embs: DataFrame,
      idCol: String, vecCol: String, queryPred: Column, k: Int,
      nprobe: Int, rerank: Int): DataFrame = {
    val base = baseOf(embs, idCol, vecCol)
    val queries = base.filter(queryPred)
      .select(col("id").as("qid"), col("v").as("qv"), col("nrm").as("qnrm"))
    searchSqQueries(spark, name, base, queries, k, nprobe, rerank)
  }

  /** [[searchSq]] with an explicit query table (qid, qv, qnrm) — the
    * streaming-probe entry point ([[graft.streaming.IndexStream]]),
    * like [[searchQueries]] for the PQ tier.
    */
  def searchSqQueries(spark: SparkSession, name: String, base: DataFrame,
      queries: DataFrame, k: Int, nprobe: Int, rerank: Int): DataFrame = {
    val cents = spark.table(part(name, "cents"))
    val postings = spark.table(part(name, "postings"))
    val ranges = Sq.collapseRanges(spark.table(part(name, "sq_ranges")))
    val sqCodes = spark.table(part(name, "sq_codes"))

    val wProbe = Window.partitionBy(col("qid"))
      .orderBy(col("pcos").desc, col("cl").asc)
    val probes = queries.join(broadcast(cents))
      .select(col("qid"), col("cl"),
        (Vectors.dot(col("qv"), col("cent")) / (col("qnrm") * col("cnrm"))).as("pcos"))
      .withColumn("prn", row_number().over(wProbe))
      .filter(col("prn") <= nprobe)
      .select(col("qid"), col("cl"))
    val pairs = broadcast(probes).join(postings, "cl")
      .filter(col("id") =!= col("qid"))
      .select(col("qid"), col("id")).distinct()
    // reconstruction once per DISTINCT candidate id, not per pair (and
    // not for unprobed corpus rows). dropDuplicates: an at-least-once
    // maintenance replay appends identical code rows; duplicates here
    // would make the rerank-cut window see the same candidate twice
    // and evict a distinct one — dup rows are byte-identical, so the
    // pick is value-deterministic; on clean data this is an identity.
    val candCodes = Sq.withRecon(
      pairs.select(col("id")).distinct()
        .join(sqCodes, "id")
        .dropDuplicates("id")
        .withColumn("code", col("code").cast("array<double>"))
        .join(broadcast(ranges)), Pq.Width)
    val scored = pairs.join(candCodes, "id")
      .join(broadcast(queries), "qid")
    Sq.cutAndRerank(base, queries, scored, k, rerank)
  }

  /** BQ search over the persisted index — the coarsest serving tier:
    * NO probe at all; the stored one-long sign codes are swept in
    * full (8 bytes per corpus vector — a 32× cut; at 100 TB of
    * float32 this sweep reads ~3 TB), candidates cut by xor+popcount
    * Hamming, then the family's exact rerank. Query codes pack
    * in-plan from the query vectors — bit-identical to the stored
    * codes for in-corpus queries (the pack has no trained
    * parameters), so output matches the in-plan [[Bq.topK]] exactly
    * (shared oracle). dropDuplicates on the code scan: an
    * at-least-once maintenance replay appends identical code rows;
    * duplicates would crowd distinct candidates out of the
    * rank-window cut — dup rows are byte-identical, so the drop is
    * value-deterministic and an identity on clean data.
    */
  def searchBq(spark: SparkSession, name: String, embs: DataFrame,
      idCol: String, vecCol: String, queryPred: Column, k: Int,
      rerank: Int, dim: Int = 64): DataFrame = {
    val base = baseOf(embs, idCol, vecCol)
    val queries = base.filter(queryPred)
      .select(col("id").as("qid"), col("v").as("qv"), col("nrm").as("qnrm"))
    searchBqQueries(spark, name, base, queries, k, rerank, dim)
  }

  /** [[searchBq]] with an explicit query table (qid, qv, qnrm) — the
    * streaming-probe entry point ([[graft.streaming.IndexStream]]),
    * like [[searchQueries]] / [[searchSqQueries]] for the other tiers.
    */
  def searchBqQueries(spark: SparkSession, name: String, base: DataFrame,
      queries: DataFrame, k: Int, rerank: Int, dim: Int = 64): DataFrame = {
    val packed = spark.table(part(name, "bq_codes")).dropDuplicates("id")
    val qPacked = queries.select(col("qid"), Bq.packCol("qv", dim).as("qcode"))
    Bq.cutAndRerank(packed, qPacked, base, queries, k, rerank)
  }

  /** Search with an explicit query table (qid, qv, qnrm) — the entry
    * point the streaming probe uses ([[graft.streaming.IndexStream]]):
    * query vectors need not be part of the indexed corpus. `base` is
    * the corpus (id, v, nrm) for the exact rerank.
    */
  def searchQueries(spark: SparkSession, name: String, base: DataFrame,
      queries: DataFrame, k: Int, nprobe: Int, rerank: Int): DataFrame = {
    val meta = readMeta(spark, name)
    val subDim = Pq.Width / meta.m
    val cents = spark.table(part(name, "cents"))
    val cb = spark.table(part(name, "codebooks"))
    val postings = spark.table(part(name, "postings"))
    val codes = spark.table(part(name, "codes"))

    // queries → nprobe nearest centroid lists; the centroid table is
    // nlist rows — broadcast, so probing never shuffles anything wider
    // than the query set itself
    val wProbe = Window.partitionBy(col("qid"))
      .orderBy(col("pcos").desc, col("cl").asc)
    val probes = queries.join(broadcast(cents))
      .select(col("qid"), col("cl"),
        (Vectors.dot(col("qv"), col("cent")) / (col("qnrm") * col("cnrm"))).as("pcos"))
      .withColumn("prn", row_number().over(wProbe))
      .filter(col("prn") <= nprobe)
      .select(col("qid"), col("cl"))

    // candidate pairs from the probed lists: the probe set (queries ×
    // nprobe rows) broadcasts against the bucketed postings — the
    // posting side is scanned in place, never exchanged. distinct():
    // multiple assignment can reach a vector through several lists.
    val candPairs = broadcast(probes).join(postings, "cl")
      .filter(col("id") =!= col("qid"))
      .select(col("qid"), col("id")).distinct()

    // ADC over the probed candidates only: codes stay bucketed-in-place,
    // the LUT is queries × m × ksub rows — broadcast. The distinct
    // before the LUT join makes the ADC sum immune to DUPLICATED code
    // rows (an at-least-once [[graft.streaming.IndexStream.maintain]]
    // replay appends a batch twice; without it each duplicate doubles
    // that vector's approximate dot and biases the candidate cut) —
    // on clean data it is an identity over (queries × candidates × m)
    // rows, so search output is unchanged.
    val lut = Pq.lutOf(queries, cb, meta.m, subDim)
    val approx = candPairs
      .join(codes, "id")
      .select(col("qid"), col("id"), col("m"), col("cl")).distinct()
      .join(broadcast(lut), Seq("qid", "m", "cl"))
      .groupBy(col("qid"), col("id"))
      .agg(sum(col("part_micros")).as("adot_micros"))
    Pq.rerankExact(base, queries, approx, k, rerank)
  }
}
