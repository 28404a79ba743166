package graft.streaming

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Persistent per-source TOKEN-budget admission (X108): the live
  * enforcement half of [[graft.ops.Curation.tokenBudgetPlan]] (X107).
  * The planner says how many training tokens each source may
  * contribute; this store spends that budget over an unbounded
  * stream — across micro-batches and across runs — admitting a doc
  * iff the source's spent tokens plus the doc's own stay inside its
  * allocation. [[SourceQuotaStore]] (X98) counts DOCS against a flat
  * cap; counting TOKENS against a per-source plan is what the
  * mixture actually needs (a domain's budget is a token mass, and
  * docs are not interchangeable sizes).
  *
  * Per micro-batch:
  *
  *  1. rank the batch per source by (quality desc, id asc) — best
  *     docs claim remaining budget first within a batch — and
  *     running-sum their token counts in that order;
  *  2. read ONLY the touched buckets' spent counters; admit a row
  *     iff spent + running_sum ≤ alloc (the plan joins in broadcast;
  *     sources absent from the plan have no budget and admit
  *     nothing). Admission is a maximal QUALITY-RANK PREFIX per
  *     (source, batch), NOT first-fit: once a doc overflows the
  *     budget, lower-ranked docs of its source reject in that batch
  *     even if they would fit alone — the budget never skips a
  *     better doc to admit a worse one (and the declarative cumsum
  *     stays order-deterministic where greedy skipping would be a
  *     sequential scan);
  *  3. append admitted rows to `outDir`, then commit the bumped
  *     per-source token counters through the manifest protocol.
  *
  * State: one (spent, run_id, last_batch) row per source ever seen;
  * work per trigger ∝ batch + touched buckets. Replay safety is the
  * [[CardStore]] high-water, not the budget arithmetic: spending is
  * additive, so a post-commit replay of a batch would re-admit its
  * top-ranked prefix again whenever the source still has slack ≥
  * that prefix's tokens (double-counting spend AND duplicating
  * output). Each state row therefore carries the (run, batch) mark
  * of the last micro-batch that spent against it — scoped to the
  * checkpoint lineage via [[RunMark.forCheckpoint]] so a
  * crash-restarted driver resumes the same run id — and a batch
  * re-arriving at or below a source's mark admits NOTHING for that
  * source. Crash-replay between emit and commit (mark not yet
  * bumped) re-admits identically: duplicate output, correct state;
  * post-commit replay is a pure no-op on both output and state, so
  * the budget can never over-spend. Which docs of a source survive
  * depends on arrival order across batches — that is what an online
  * budget IS; the retrospective plan is [[graft.ops.Curation
  * .tokenBudgetPlan]] and a one-batch run equals the batch
  * rank+prefix-sum selection exactly (spec-pinned).
  */
object TokenQuotaStore {

  /** Admit `batch` rows under the per-source token plan, emit
    * admitted rows to `outDir`, commit the bumped counters. `plan`
    * is (source, alloc_tokens) — [[graft.ops.Curation
    * .tokenBudgetPlan]]'s output shape. Public for batch-mode reuse
    * and tests; [[maintain]] is the streaming driver.
    */
  def applyBatch(batch: DataFrame, idCol: String, textCol: String,
      sourceCol: String, plan: DataFrame, tableDir: String,
      outDir: String, runId: String, batchId: Long, nBucketsIfNew: Int,
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
      .withColumn("__tok",
        graft.ops.TextAnalysis.tokenCount(col(textCol)))
      .withColumn("__cum", sum(col("__tok")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("__b", bucket.cast("int"))
      .persist()
    try {
      val touched = ranked.select(col("__b")).distinct()
        .collect().map(_.getInt(0)).toSeq.sorted
      if (touched.isEmpty) return
      val existingPaths = touched.flatMap(b =>
        st.buckets.get(b).map(v => s"$tableDir/b$b/$v"))
      val existing =
        if (existingPaths.nonEmpty) spark.read.parquet(existingPaths: _*)
        else ranked.select(col("__src").as("source"),
          lit(0L).as("tok_spent"), lit("").as("run_id"),
          lit(-1L).as("last_batch")).limit(0)

      // the high-water guard: a source whose mark already covers this
      // (run, batch) has spent this batch — admit nothing for it
      // (post-commit replay), leaving both output and state untouched
      val fresh = !(col("__srid").isNotNull &&
        col("__srid") === lit(runId) && lit(batchId) <= col("__slb"))
      val admitted = ranked
        .join(broadcast(plan.select(col("source").as("__src"),
          col("alloc_tokens").as("__alloc"))), Seq("__src"), "left")
        .join(existing.select(col("source").as("__src"), col("tok_spent"),
          col("run_id").as("__srid"), col("last_batch").as("__slb")),
          Seq("__src"), "left")
        .filter(fresh && coalesce(col("tok_spent"), lit(0L)) + col("__cum")
          <= coalesce(col("__alloc"), lit(0L)))
        .persist()
      try {
        // emit BEFORE the state commit (the family's contract)
        admitted.drop("__src", "__q", "__tok", "__cum", "__b",
            "__alloc", "tok_spent", "__srid", "__slb")
          .write.mode("append").parquet(outDir)
        // sources that admitted rows get the bumped spend + this
        // batch's mark; everyone else (stale sources included)
        // passes through untouched
        val admTokens = admitted.groupBy(col("__src").as("source"))
          .agg(sum(col("__tok")).as("__nt"))
        val newState = existing.join(admTokens, Seq("source"), "full")
          .select(col("source"),
            (coalesce(col("tok_spent"), lit(0L))
              + coalesce(col("__nt"), lit(0L))).as("tok_spent"),
            when(col("__nt").isNotNull, lit(runId))
              .otherwise(coalesce(col("run_id"), lit(""))).as("run_id"),
            when(col("__nt").isNotNull, lit(batchId))
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

  /** Run the admission query: streaming `docs` → admitted rows to
    * `outDir`, per-source token spend at `tableDir`. Single writer.
    */
  def maintain(docs: DataFrame, idCol: String, textCol: String,
      sourceCol: String, plan: DataFrame, tableDir: String,
      outDir: String, checkpointDir: String,
      nBuckets: Int = StateTable.DefaultBuckets,
      graceCommits: Int = 0): StreamingQuery = {
    // mark scope = checkpoint lineage: a crash-restart resumes this
    // id so its replayed batch ids hit the stored marks
    val runId = RunMark.forCheckpoint(checkpointDir)
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applyBatch(batch, idCol, textCol, sourceCol, plan, tableDir,
          outDir, runId, batchId, nBuckets, graceCommits)
      }
      .start()
  }

  /** Takedown companion: taken-down docs give their TOKENS back so
    * the source's budget re-opens. `dels` is (source, tokens);
    * counters floor at zero.
    */
  def release(dels: DataFrame, sourceCol: String, tokCol: String,
      tableDir: String, graceCommits: Int = 0): Unit = {
    val spark = dels.sparkSession
    val st = StateTable.manifestOf(tableDir)
    val nBuckets = st.nBuckets.getOrElse(
      sys.error(s"no committed quota state at $tableDir"))
    val rel = dels
      .select(col(sourceCol).as("source"), col(tokCol).cast("long").as("__rel"))
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
          greatest(col("tok_spent") - coalesce(col("__rel"), lit(0L)),
            lit(0L)).as("tok_spent"),
          col("run_id"), col("last_batch"))
        .withColumn("b",
          pmod(hash(col("source")), lit(nBuckets)).cast("int"))
      val version = s"rel_${java.util.UUID.randomUUID().toString.take(8)}"
      StateTable.commitPartitioned(tableDir, newState, nBuckets, st,
        version, graceCommits)
    } finally rel.unpersist()
  }

  /** The committed per-source token spend (all buckets) — audit view. */
  def spend(spark: SparkSession, tableDir: String): DataFrame =
    StateTable.read(spark, tableDir).select(col("source"), col("tok_spent"))
}
