package graft.streaming

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Persistent per-source admission quota — the streaming twin of
  * [[graft.ops.Curation.sourceCap]] (X95): the batch operator caps a
  * STATIC corpus at the `cap` highest-quality docs per source; this
  * store enforces the same cap over an UNBOUNDED stream, across
  * micro-batches and across runs. A crawl does not deliver a domain's
  * documents at once, so admission must remember how much of every
  * source's budget is already spent — that count is the state, in the
  * [[StateTable]] bucketed copy-on-write layout (hash(source) →
  * bucket; atomic manifest commits; grace GC; generic compaction).
  *
  * Per micro-batch:
  *
  *  1. rank the batch per source by (quality desc, id asc) — the X95
  *     ordering, so WITHIN a batch the best docs claim the remaining
  *     budget first;
  *  2. read ONLY the buckets the batch's sources hash into; admit a
  *     row iff spent + rank ≤ cap;
  *  3. append admitted rows to `outDir`, then commit the bumped
  *     per-source counts through the manifest protocol (untouched
  *     sources in touched buckets carry forward copy-on-write).
  *
  * Work per trigger ∝ batch + touched buckets, never ∝ history — the
  * [[DedupStore]] cost shape with the fingerprint set swapped for a
  * |sources|-bounded count table (tiny: one long per source ever
  * seen).
  *
  * == Failure contract ==
  *
  * Admitted rows are written BEFORE the count commit (the family's
  * at-least-once output contract). Replay safety is the
  * [[CardStore]]/[[TokenQuotaStore]] high-water, NOT the count
  * arithmetic: admission is additive, so a post-commit replay would
  * re-admit its ranked prefix again whenever the source still has
  * slots free (double-count + duplicate output). Each state row
  * carries the (run, batch) mark of the last batch that spent
  * against it — run = the checkpoint lineage via
  * [[RunMark.forCheckpoint]], so a crash-restarted driver resumes
  * the same id — and a batch re-arriving at or below a source's
  * mark admits NOTHING for that source. Crash between emit and
  * commit (mark not yet bumped) replays into the same admissions:
  * duplicate output, correct state; post-commit replay is a pure
  * no-op on both, so the cap can never over-admit.
  *
  * == Ordering caveat (by design) ==
  *
  * Which docs of a source survive depends on arrival order across
  * batches — first-come over the stream, best-first within a batch.
  * That is what an online cap IS; the retrospective best-of-corpus
  * selection is the batch operator (a one-batch run of this store
  * equals it exactly — the spec pins that equivalence).
  */
object SourceQuotaStore {

  /** Admit `batch` rows under the per-source cap, emit admitted rows
    * to `outDir`, commit the bumped counts. Public for batch-mode
    * reuse and tests; [[maintain]] is the streaming driver.
    */
  def applyBatch(batch: DataFrame, idCol: String, textCol: String,
      sourceCol: String, cap: Int, tableDir: String, outDir: String,
      runId: String, batchId: Long, nBucketsIfNew: Int,
      graceCommits: Int = 0): Unit = {
    val spark = batch.sparkSession
    Files.createDirectories(Paths.get(tableDir))
    val st = StateTable.manifestOf(tableDir)
    val nBuckets = st.nBuckets.getOrElse(nBucketsIfNew)
    def bucket = pmod(hash(col("__src")), lit(nBuckets))

    val w = Window.partitionBy(col("__src"))
      .orderBy(col("__q").desc, col(idCol).asc)
    val ranked = batch
      .withColumn("__src", col(sourceCol))
      .withColumn("__q",
        graft.ops.TextAnalysis.qualityMicros(col(textCol)))
      .withColumn("__rn", row_number().over(w))
      .withColumn("__b", bucket.cast("int"))
      .persist()
    try {
      val touched = ranked.select(col("__b")).distinct()
        .collect().map(_.getInt(0)).toSeq.sorted
      if (touched.isEmpty) return
      // committed bucket files hold (source, n_spent); the bucket id
      // is the directory, recomputed when carrying rows forward
      val existingPaths = touched.flatMap(b =>
        st.buckets.get(b).map(v => s"$tableDir/b$b/$v"))
      val existing =
        if (existingPaths.nonEmpty) spark.read.parquet(existingPaths: _*)
        else ranked.select(col("__src").as("source"),
          lit(0L).as("n_spent"), lit("").as("run_id"),
          lit(-1L).as("last_batch")).limit(0)

      // the high-water guard: a source whose mark covers this
      // (run, batch) already spent it — admit nothing for it
      val fresh = !(col("__srid").isNotNull &&
        col("__srid") === lit(runId) && lit(batchId) <= col("__slb"))
      val admitted = ranked
        .join(existing.select(col("source").as("__src"), col("n_spent"),
          col("run_id").as("__srid"), col("last_batch").as("__slb")),
          Seq("__src"), "left")
        .filter(fresh && coalesce(col("n_spent"), lit(0L)) + col("__rn") <= cap)
        .persist()
      try {
        // emit BEFORE the state commit (see failure contract)
        admitted.drop("__src", "__q", "__rn", "__b", "n_spent",
            "__srid", "__slb")
          .write.mode("append").parquet(outDir)
        // bumped counts: every touched-bucket source carries forward;
        // batch sources that admitted rows add their count + the mark
        val admCounts = admitted.groupBy(col("__src").as("source"))
          .agg(count(lit(1)).as("__na"))
        val newState = existing.join(admCounts, Seq("source"), "full")
          .select(col("source"),
            (coalesce(col("n_spent"), lit(0L))
              + coalesce(col("__na"), lit(0L))).as("n_spent"),
            when(col("__na").isNotNull, lit(runId))
              .otherwise(coalesce(col("run_id"), lit(""))).as("run_id"),
            when(col("__na").isNotNull, lit(batchId))
              .otherwise(coalesce(col("last_batch"), lit(-1L)))
              .as("last_batch"))
          .withColumn("b",
            pmod(hash(col("source")), lit(nBuckets)).cast("int"))
        val version =
          s"v${batchId}_${java.util.UUID.randomUUID().toString.take(8)}"
        StateTable.commitPartitioned(tableDir, newState, nBuckets, st,
          version, graceCommits)
      } finally admitted.unpersist()
    } finally ranked.unpersist()
  }

  /** Run the admission query: streaming `docs` → admitted rows
    * appended to `outDir`, per-source spend at `tableDir`. Single
    * writer (the checkpoint serializes batches).
    */
  def maintain(docs: DataFrame, idCol: String, textCol: String,
      sourceCol: String, cap: Int, tableDir: String, outDir: String,
      checkpointDir: String, nBuckets: Int = StateTable.DefaultBuckets,
      graceCommits: Int = 0): StreamingQuery = {
    // mark scope = checkpoint lineage (see failure contract)
    val runId = RunMark.forCheckpoint(checkpointDir)
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applyBatch(batch, idCol, textCol, sourceCol, cap, tableDir,
          outDir, runId, batchId, nBuckets, graceCommits)
      }
      .start()
  }

  /** Takedown companion (the X94 family move for quota STATE): docs
    * removed from the corpus give their admission slots back, so
    * future documents of the same source can fill them. `dels` is
    * (source, n) — how many admitted docs of each source were taken
    * down; counts floor at zero. Touched-bucket rewrite through the
    * manifest protocol, like every maintenance op.
    */
  def release(dels: DataFrame, sourceCol: String, nCol: String,
      tableDir: String, graceCommits: Int = 0): Unit = {
    val spark = dels.sparkSession
    val st = StateTable.manifestOf(tableDir)
    val nBuckets = st.nBuckets.getOrElse(
      sys.error(s"no committed quota state at $tableDir"))
    val rel = dels
      .select(col(sourceCol).as("source"), col(nCol).cast("long").as("__rel"))
      .groupBy(col("source")).agg(sum(col("__rel")).as("__rel"))
      .withColumn("__b", pmod(hash(col("source")), lit(nBuckets)).cast("int"))
      .persist()
    try {
      val touched = rel.select(col("__b")).distinct()
        .collect().map(_.getInt(0)).toSeq.sorted
      val existingPaths = touched.flatMap(b =>
        st.buckets.get(b).map(v => s"$tableDir/b$b/$v"))
      if (existingPaths.isEmpty) return
      val existing = spark.read.parquet(existingPaths: _*)
      val newState = existing.join(rel.drop("__b"), Seq("source"), "left")
        .select(col("source"),
          greatest(col("n_spent") - coalesce(col("__rel"), lit(0L)),
            lit(0L)).as("n_spent"),
          col("run_id"), col("last_batch"))
        .withColumn("b",
          pmod(hash(col("source")), lit(nBuckets)).cast("int"))
      val version =
        s"rel_${java.util.UUID.randomUUID().toString.take(8)}"
      StateTable.commitPartitioned(tableDir, newState, nBuckets, st,
        version, graceCommits)
    } finally rel.unpersist()
  }

  /** The committed per-source spend (all buckets) — audit view. */
  def spend(spark: SparkSession, tableDir: String): DataFrame =
    StateTable.read(spark, tableDir).select(col("source"), col("n_spent"))
}
