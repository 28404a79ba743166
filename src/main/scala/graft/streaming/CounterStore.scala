package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The shared ADDITIVE-COUNTER store protocol (self-review round 12:
  * [[HistStore]] and [[CmsStore]] each hand-rolled this ~identically,
  * which is exactly how a protocol fix misses a store — the same
  * argument that created [[StateTable.mergeBucketedBySource]] one
  * layer down). State = one (source, bin) keyed row carrying
  * (cnt, run_id, last_batch); deltas arrive as (source, bin, d_cnt).
  *
  * - [[applyDelta]]: full-outer additive merge with the per-row
  *   (run, batch) HIGH-WATER replay guard — a replayed micro-batch
  *   re-derives the same delta rows, so each stored row's mark
  *   catches its own replay (the CardStore contract).
  * - [[subtract]]: the exactly-subtractable takedown — counters
  *   decrement, rows at zero drop, emptied buckets keep their
  *   schema-bearing version. NOT idempotent by construction (the
  *   state has no doc ids — that's what makes it a sketch); replay
  *   protection is the caller's manifest, but a VIOLATION is
  *   detected, not floored: a forget whose delta exceeds the stored
  *   counts — or targets rows/buckets that no longer exist — throws
  *   before anything is committed, so a replayed forget fails loudly
  *   with the state unchanged.
  *
  * Stores own only their DELTA DERIVATION (what a doc contributes);
  * the protocol lives here once.
  */
private[streaming] object CounterStore {

  def applyDelta(delta: DataFrame, tableDir: String, runId: String,
      batchId: Long, nBucketsIfNew: Int, graceCommits: Int): Unit = {
    val spark = delta.sparkSession
    StateTable.mergeBucketedBySource(delta, tableDir, nBucketsIfNew,
      emptyState = spark.range(0).select(lit("").as("source"),
        lit(0L).as("bin"), lit(0L).as("cnt"), lit("").as("run_id"),
        lit(0L).as("last_batch")).limit(0),
      batchId, graceCommits) { (existing, d) =>
      val stale = col("sc").isNotNull && col("srid") === lit(runId) &&
        lit(batchId) <= col("slb")
      val merged = existing
        .select(col("source"), col("bin"), col("cnt").as("sc"),
          col("run_id").as("srid"), col("last_batch").as("slb"))
        .join(d, Seq("source", "bin"), "full_outer")
        .select(col("source"), col("bin"),
          when(col("d_cnt").isNull, col("sc"))
            .when(stale, col("sc"))
            .otherwise(coalesce(col("sc"), lit(0L)) + col("d_cnt"))
            .as("cnt"),
          when(col("d_cnt").isNull, col("srid"))
            .when(stale, col("srid"))
            .otherwise(lit(runId)).as("run_id"),
          when(col("d_cnt").isNull, col("slb"))
            .when(stale, col("slb"))
            .otherwise(lit(batchId)).as("last_batch"))
      (merged, () => ())
    }
  }

  def subtract(delta0: DataFrame, tableDir: String,
      graceCommits: Int): Unit = {
    val spark = delta0.sparkSession
    val st = StateTable.manifestOf(tableDir)
    val nBuckets = st.nBuckets.getOrElse(StateTable.DefaultBuckets)
    val bucket = pmod(hash(col("source")), lit(nBuckets)).cast("int")
    val delta = delta0.withColumn("bkt", bucket).persist()
    try {
      val touchedAll = delta.select(col("bkt")).distinct()
        .collect().map(_.getInt(0)).toSeq.sorted
      // over-removal guard, mode 1 (ADVICE r12): a forget delta
      // targeting a bucket that holds NO state rows can only be a
      // replayed/double-applied forget — fail loudly, commit nothing
      val missing = touchedAll.filterNot(st.buckets.contains)
      if (missing.nonEmpty) throw new IllegalStateException(
        s"CounterStore.subtract: forget delta targets ${missing.size} " +
          "state bucket(s) holding no rows (replayed forget?); no " +
          "state was committed")
      val touched = touchedAll
      if (touched.isEmpty) return
      // mergeSchema: the straddle-safe protocol of the shared
      // scaffold — touched buckets can span a store-schema upgrade,
      // and a plain read would silently drop the newer column here.
      // full_outer (not left): a delta row matching NO stored row is
      // over-removal mode 2 and must surface as a negative, not be
      // silently dropped by the join
      val merged0 = spark.read.option("mergeSchema", "true").parquet(
          touched.map(b => s"$tableDir/b$b/${st.buckets(b)}"): _*)
        .join(delta.drop("bkt"), Seq("source", "bin"), "full_outer")
        .select(col("source"), col("bin"),
          (coalesce(col("cnt"), lit(0L))
            - coalesce(col("d_cnt"), lit(0L))).as("cnt"),
          col("run_id"), col("last_batch"))
        .withColumn("b", bucket)
        .persist()
      try {
        // over-removal guard (ADVICE r12): a forget delta larger than
        // the stored count means a double-applied/replayed forget —
        // the law `state == from-scratch over survivors` is already
        // broken at the caller, so fail LOUDLY before committing
        // anything (state left exactly as it was) instead of silently
        // flooring the rows away
        val over = merged0.filter(col("cnt") < 0).count()
        if (over > 0) throw new IllegalStateException(
          s"CounterStore.subtract: $over (source,bin) rows would go " +
            "negative — forget delta exceeds stored counts (replayed " +
            "forget?); no state was committed")
        val merged = merged0.filter(col("cnt") > 0)
        val keptBuckets = merged.select(col("b")).distinct()
          .collect().map(_.getInt(0)).toSet
        StateTable.commitPartitioned(tableDir, merged, nBuckets, st,
          s"f${java.util.UUID.randomUUID().toString.take(8)}",
          graceCommits, emptied = touched.filterNot(keptBuckets))
      } finally merged0.unpersist()
    } finally delta.unpersist()
  }
}
