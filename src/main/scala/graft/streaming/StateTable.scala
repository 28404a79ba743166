package graft.streaming

import java.nio.file.{Files, Paths}

import scala.collection.JavaConverters._

import com.fasterxml.jackson.databind.ObjectMapper

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.cdc.Merge
import graft.ops.Generations
import graft.streaming.LwwMerge.KeyedChange

/** Materialize a keyed CURRENT-STATE table from the change stream —
  * the reference's end goal (`mysql → cdc-rs → pubsub → CDC-enabled
  * bigquery table`, reference/README.md:11): downstream readers see
  * one row per live key, updated by each micro-batch.
  *
  * Each batch unions the stored winners with the new changes and
  * keeps the per-key LWW winner, INCLUDING tombstones — a remembered
  * Delete is what stops a stale late backfill from resurrecting the
  * row. Read the table through [[read]] + [[graft.cdc.Merge.current]].
  *
  * == Layout: hash-bucketed, versioned, generation-committed ==
  *
  * The table is partitioned by `bucket = pmod(hash(key), nBuckets)`:
  *
  * {{{
  *   tableDir/_state.json              entry b<bucket> → its version dir
  *   tableDir/b<bucket>/<version>/     parquet winners of one bucket
  *   tableDir/.staging/<version>/      in-flight batch output
  * }}}
  *
  * A micro-batch touches ONLY the buckets its keys hash into: it reads
  * those buckets' committed winners, merges, writes the new winners to
  * a fresh version directory per bucket, then commits them through
  * [[graft.ops.Generations]] (the bucket count is the state's
  * `layout`). Untouched buckets are never read, rewritten, or even
  * listed — their files stay byte-identical (StreamingSpec asserts
  * it). At 100 TB this is the difference between a full-table rewrite
  * per trigger and work proportional to the batch's key spread.
  *
  * == Crash safety / exactly-once effect ==
  *
  * Nothing committed is ever modified in place, and a replay is
  * harmless: a crash after the commit but before the stream
  * checkpoint commits replays the batch against the already-updated
  * buckets — LWW is idempotent (re-applying the same changes cannot
  * change a per-key maximum; `seq` is the unique tie-break), so the
  * replay converges to the identical winners. Orphaned versions of a
  * crashed attempt are swept the next time their bucket is touched.
  *
  * A table committed by the earlier layout keeps its commit in
  * `manifest.json`; it reads as the same state (buckets, retirees,
  * bucket count, generation, grace) and the next commit moves it to
  * `_state.json`.
  *
  * == Concurrency contract (single writer, snapshot-unsafe GC) ==
  *
  * One maintenance writer at a time — the stream's checkpoint already
  * serializes batches. Readers get atomic snapshots at state-load
  * time. By default superseded versions are deleted IMMEDIATELY after
  * the commit, so a reader that loaded the old state and is still
  * mid-scan can lose its files — re-resolve [[read]] per query
  * (cheap), or run with `graceCommits` > 0: each superseded version
  * then survives that many further commits (StreamingSpec proves a
  * reader's snapshot survives commits inside the window and that
  * expired versions are swept).
  *
  * == File sizes ==
  *
  * Batch writes `repartition` on the bucket id before the partitioned
  * write, so every committed bucket version is exactly ONE parquet
  * file — compaction happens on write, and file count stays equal to
  * the (fixed) bucket count instead of growing with write parallelism.
  * [[compact]] is the corresponding offline maintenance pass for
  * tables written by earlier layouts (or after lowering nBuckets
  * pressure): it rewrites every committed bucket into a fresh
  * single-file version under the same commit protocol.
  */
object StateTable {

  val DefaultBuckets = 64

  /** One micro-batch application: previous winners ⊎ batch → new
    * winners (tombstones kept).
    */
  def applyBatch(existing: DataFrame, batch: DataFrame): DataFrame =
    Merge.winners(existing.unionByName(batch))

  // ------------------------------------------------------------ state

  /** A table's committed [[Generations]] state seen as buckets: entry
    * `b<k>` names `b<k>/<version>`, and the layout carries the bucket
    * count — part of the committed layout: later maintenance runs must
    * hash with the SAME count or keys would be routed to the wrong
    * buckets, so [[applyBatchBucketed]] always prefers the stored
    * value. An uncommitted table is empty.
    */
  private[graft] final case class Manifest(state: Generations.State,
      legacy: Boolean = false) {
    def nBuckets: Option[Int] = state.layout.get("nBuckets")
    def gen: Long = state.gen
    def buckets: Map[Int, String] = state.current.map { case (e, ds) =>
      e.stripPrefix("b").toInt -> Paths.get(ds.head).getFileName.toString }
  }

  private[graft] def manifestOf(tableDir: String): Manifest =
    Generations.load(tableDir).map(Manifest(_))
      .orElse(legacyManifest(tableDir))
      .getOrElse(Manifest(Generations.Empty))

  private val LegacyFile = "manifest.json"

  /** The earlier layout's commit file — `nBuckets`, `gen`, `grace`,
    * `buckets` (bucket → version) and `retired` ({b, v, gen}) — read as
    * the equivalent state: entry `b<k>` → `b<k>/<version>`, retirees
    * grouped by the generation that retired them. Read-only; the next
    * [[commitPartitioned]] writes the state file and removes this one.
    */
  private def legacyManifest(tableDir: String): Option[Manifest] = {
    val f = Paths.get(tableDir, LegacyFile)
    if (!Files.exists(f)) None
    else {
      val n = new ObjectMapper().readTree(Files.readString(f))
      val current = n.get("buckets").properties().asScala.map { e =>
        s"b${e.getKey}" -> Seq(s"b${e.getKey}/${e.getValue.asText}") }.toMap
      val retired = Option(n.get("retired")).toSeq
        .flatMap(_.elements().asScala)
        .groupBy(_.get("gen").asLong).toSeq.sortBy(_._1)
        .map { case (g, rs) =>
          g -> rs.groupBy(r => s"b${r.get("b").asInt}").map { case (e, es) =>
            e -> es.map(r => s"$e/${r.get("v").asText}") } }
      Some(Manifest(Generations.State(
        Option(n.get("gen")).map(_.asLong).getOrElse(0L),
        Option(n.get("grace")).map(_.asInt).getOrElse(0),
        current, retired, Map("nBuckets" -> n.get("nBuckets").asInt)),
        legacy = true))
    }
  }

  /** Operational snapshot of a committed table: one row per LIVE
    * bucket — (bucket, version, n_files, bytes) straight from the
    * filesystem, no data read, no Spark job — with the committed
    * state's header (gen, n_buckets, grace, n_retired) as constant
    * columns.
    * The numbers an operator checks before/after compact, a
    * retraction, or grace-policy tuning: steady-state n_files is 1
    * per bucket (commitPartitioned compacts on write), so anything
    * larger names the bucket that needs [[compact]]; n_retired > 0
    * says grace-window versions are still holding disk.
    */
  def describe(spark: SparkSession, tableDir: String): DataFrame = {
    import spark.implicits._
    val m = manifestOf(tableDir)
    val rows = m.buckets.toSeq.sortBy(_._1).map { case (b, v) =>
      val files = Generations.dataFiles(Paths.get(tableDir, s"b$b", v))
      (b, v, files.size.toLong, files.map(Files.size(_)).sum)
    }
    rows.toDF("bucket", "version", "n_files", "bytes")
      .withColumn("gen", lit(m.gen))
      .withColumn("n_buckets", lit(m.nBuckets.getOrElse(0)))
      .withColumn("grace", lit(m.state.grace))
      .withColumn("n_retired", lit(m.state.retired.map(_._2.size).sum))
  }

  /** The committed winners table (all buckets). */
  def read(spark: SparkSession, tableDir: String): DataFrame = {
    val m = manifestOf(tableDir).buckets
    require(m.nonEmpty, s"no committed state at $tableDir")
    val paths = m.toSeq.sortBy(_._1)
      .map { case (b, v) => s"$tableDir/b$b/$v" }
    spark.read.parquet(paths: _*)
  }

  // ------------------------------------------------------- maintenance

  /** Apply one micro-batch to the bucketed table (the foreachBatch
    * body; public for batch-mode reuse and tests).
    *
    * `graceCommits` > 0 keeps each superseded bucket version on disk
    * for that many further commits before deletion, so a reader that
    * resolved [[read]] against a recent state can finish its scan
    * across concurrent commits — the multi-reader extension of the
    * single-writer contract. 0 (default) deletes superseded versions
    * immediately after the commit (reader must re-resolve).
    */
  def applyBatchBucketed(batch: DataFrame, tableDir: String, batchId: Long,
      nBucketsIfNew: Int, graceCommits: Int = 0): Unit = {
    val spark = batch.sparkSession
    Files.createDirectories(Paths.get(tableDir))
    val st = manifestOf(tableDir)
    val nBuckets = st.nBuckets.getOrElse(nBucketsIfNew)
    val bucket = pmod(hash(col("key")), lit(nBuckets))
    val bdf = batch.persist()
    try {
      val touched = bdf.select(bucket.cast("int").as("b"))
        .distinct().collect().map(_.getInt(0)).toSeq.sorted
      if (touched.isEmpty) return
      val existingPaths = touched.flatMap(b =>
        st.buckets.get(b).map(v => s"$tableDir/b$b/$v"))
      val existing =
        if (existingPaths.nonEmpty) spark.read.parquet(existingPaths: _*)
        else bdf.limit(0)

      // fresh uuid version per attempt: a replayed batch never writes
      // into a directory it is reading from
      val version = s"v${batchId}_${java.util.UUID.randomUUID().toString.take(8)}"
      commitPartitioned(tableDir, applyBatch(existing, bdf).withColumn("b", bucket),
        nBuckets, st, version, graceCommits)
    } finally bdf.unpersist()
  }

  /** The shared scaffold for the source-keyed aggregate stores
    * ([[CardStore]], [[HistStore]], [[TopKStore]]): load the
    * manifest, bucket the delta by `hash(source)`, read ONLY the
    * touched buckets, hand (existing, delta-with-b) to the
    * store-specific merge, and commit the merged rows through
    * [[commitPartitioned]]. The merge returns its frame plus a
    * cleanup hook (run after the commit — for any persists the merge
    * plan holds). `emptyState` supplies the store's 0-row schema
    * frame when a touched bucket has no committed version yet.
    *
    * Why one scaffold: the protocol (touched-bucket pruning, staging
    * version naming, the read-before-write rule, GC interaction) is
    * load-bearing for every store at once — three hand-rolled copies
    * of it is how a protocol fix misses a store.
    */
  private[streaming] def mergeBucketedBySource(deltaNoB: DataFrame,
      tableDir: String, nBucketsIfNew: Int, emptyState: => DataFrame,
      batchId: Long, graceCommits: Int)(
      merge: (DataFrame, DataFrame) => (DataFrame, () => Unit)): Unit = {
    val spark = deltaNoB.sparkSession
    Files.createDirectories(Paths.get(tableDir))
    val st = manifestOf(tableDir)
    val nBuckets = st.nBuckets.getOrElse(nBucketsIfNew)
    val bucket = pmod(hash(col("source")), lit(nBuckets)).cast("int")
    val delta = deltaNoB.withColumn("b", bucket).persist()
    try {
      val touched = delta.select(col("b")).distinct()
        .collect().map(_.getInt(0)).toSeq.sorted
      if (touched.isEmpty) return
      val existingPaths = touched.flatMap(b =>
        st.buckets.get(b).map(v => s"$tableDir/b$b/$v"))
      // mergeSchema: bucket versions can straddle a store-schema
      // upgrade (some rewritten, some not); the default single-donor
      // schema would silently DROP the new column from every bucket
      // in the read — and the next commit would persist the loss
      val existing =
        if (existingPaths.nonEmpty)
          spark.read.option("mergeSchema", "true").parquet(existingPaths: _*)
        else emptyState
      val (merged, cleanup) = merge(existing, delta)
      // fresh uuid version per attempt: a replayed batch never writes
      // into a directory it is reading from (the protocol rule every
      // store must follow — owned here, not copy-pasted per store)
      val version =
        s"v${batchId}_${java.util.UUID.randomUUID().toString.take(8)}"
      try commitPartitioned(tableDir, merged.withColumn("b", bucket),
        nBuckets, st, version, graceCommits)
      finally cleanup()
    } finally delta.unpersist()
  }

  /** Stage `withB` (winners + int bucket column `b`), move each bucket
    * dir into place and commit them as entries `b<k>` through
    * [[Generations.commit]] (which retires the superseded versions
    * under the grace policy and sweeps the touched buckets and the
    * staging area). (private[streaming]: [[DedupStore]] commits its
    * fingerprint buckets through the same protocol.)
    *
    * `emptied` names touched buckets whose new content is EMPTY — a
    * partitioned write produces no directory for them, so without the
    * explicit list the state would keep serving their superseded
    * versions. They leave the state (absent = empty) and their old
    * versions retire under the same grace policy
    * ([[DedupStore.forget]] / [[NearDupStore.forget]] are the
    * callers).
    */
  private[streaming] def commitPartitioned(tableDir: String, withB: DataFrame,
      nBuckets: Int, st: Manifest, version: String,
      graceCommits: Int, emptied: Seq[Int] = Seq.empty): Unit = {
    val staging = s"$tableDir/${Generations.Staging}/$version"
    // one exchange keyed on the bucket id → each bucket lands wholly in
    // one task → exactly ONE parquet file per committed bucket version:
    // compaction happens on write, and the table's file count stays
    // pinned at nBuckets instead of growing with write parallelism
    withB.repartition(col("b"))
      .write.partitionBy("b").parquet(staging)

    def target(b: Int) = {
      val dst = Paths.get(tableDir, s"b$b", version)
      Files.createDirectories(dst.getParent)
      dst
    }
    val moved0 = Generations.list(Paths.get(staging))
      .filter(p => p.getFileName.toString.startsWith("b="))
      .map { src =>
        val b = src.getFileName.toString.stripPrefix("b=").toInt
        Files.move(src, target(b))
        b
      }
    // a retraction that empties EVERY touched bucket stages nothing at
    // all — commit one empty (schema-bearing) version so a table whose
    // last key was forgotten stays readable instead of reverting to
    // "no committed state"
    val moved = if (moved0.nonEmpty || emptied.isEmpty) moved0 else {
      withB.drop("b").limit(0).coalesce(1).write
        .parquet(target(emptied.head).toString)
      Seq(emptied.head)
    }
    Generations.commit(tableDir, st.state,
      moved.map(b => s"b$b" -> Seq(s"b$b/$version")).toMap,
      removed = emptied.filterNot(moved.contains).map(b => s"b$b"),
      graceCommits = graceCommits, layout = Map("nBuckets" -> nBuckets))
    if (st.legacy) Files.deleteIfExists(Paths.get(tableDir, LegacyFile))
  }

  /** Remove `del`'s keys (single column `keyCol`) from a committed
    * key-set table: reads ONLY the buckets the keys hash into,
    * anti-joins, recommits — buckets the retraction empties leave the
    * manifest. The shared takedown tail of [[DedupStore.forget]] and
    * [[NearDupStore.forget]]; cost ∝ touched buckets, never ∝ table.
    */
  private[streaming] def retractKeys(del: DataFrame, keyCol: String,
      tableDir: String, graceCommits: Int): Unit = {
    val spark = del.sparkSession
    val st = manifestOf(tableDir)
    if (st.nBuckets.isEmpty) return // nothing committed: no-op
    val nBuckets = st.nBuckets.get
    val bucket = pmod(hash(col(keyCol)), lit(nBuckets)).cast("int")
    val d = del.select(col(keyCol)).distinct()
      .withColumn("b", bucket).persist()
    try {
      val touched = d.select(col("b")).distinct()
        .collect().map(_.getInt(0)).toSeq.sorted
        .filter(st.buckets.contains)
      if (touched.isEmpty) return
      val existing = spark.read.parquet(
        touched.map(b => s"$tableDir/b$b/${st.buckets(b)}"): _*)
      val kept = existing.join(d.select(col(keyCol)), Seq(keyCol), "left_anti")
        .withColumn("b", bucket).persist()
      try {
        val keptBuckets = kept.select(col("b")).distinct()
          .collect().map(_.getInt(0)).toSet
        commitPartitioned(tableDir, kept, nBuckets, st,
          s"f_${java.util.UUID.randomUUID().toString.take(8)}",
          graceCommits, emptied = touched.filterNot(keptBuckets))
      } finally kept.unpersist()
    } finally d.unpersist()
  }

  /** Offline compaction: rewrite EVERY committed bucket into a fresh
    * single-file version under the same staged-move + manifest-commit
    * protocol (content unchanged — winners are carried verbatim). For
    * tables written by earlier multi-file layouts or imported data;
    * steady-state batch writes are already one file per version.
    */
  def compact(spark: SparkSession, tableDir: String,
      graceCommits: Int = 0): Unit = {
    val st = manifestOf(tableDir)
    require(st.buckets.nonEmpty, s"no committed state at $tableDir")
    val union = st.buckets.toSeq.sortBy(_._1).map { case (b, v) =>
      spark.read.parquet(s"$tableDir/b$b/$v").withColumn("b", lit(b))
    }.reduce(_.unionByName(_))
    val version = s"c_${java.util.UUID.randomUUID().toString.take(8)}"
    commitPartitioned(tableDir, union, st.nBuckets.get, st, version,
      graceCommits)
  }

  /** Run the maintenance query. `tableDir` holds the bucketed winners;
    * `checkpointDir` the stream's offset/commit log. `graceCommits`:
    * see [[applyBatchBucketed]].
    */
  def maintain(changes: Dataset[KeyedChange], tableDir: String,
      checkpointDir: String, nBuckets: Int = DefaultBuckets,
      graceCommits: Int = 0): StreamingQuery =
    changes.writeStream
      .option("checkpointLocation", checkpointDir)
      .outputMode("update")
      .foreachBatch { (batch: Dataset[KeyedChange], batchId: Long) =>
        applyBatchBucketed(batch.toDF(), tableDir, batchId, nBuckets,
          graceCommits)
      }
      .start()
}
