package graft.streaming

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.ops.{Dedup, Hashing}

/** Persistent cross-horizon NEAR-dup gate — [[DedupStore]]'s
  * MinHash-LSH sibling: a document is dropped when any of its LSH
  * band keys was ever claimed, so a lightly-edited copy arriving
  * months after the original still falls out. State is the CLAIMED
  * BAND-KEY set (8-byte hashes, `bands` per kept doc — not
  * signatures, not shingles) in the [[StateTable]] bucketed
  * copy-on-write layout.
  *
  * == Decision semantics (LSH, not exact) ==
  *
  * The gate is the pure LSH decision: collide on any band → drop. No
  * exact-Jaccard verify — verification would need stored shingle
  * sets, growing state ~30× for a precision the GATE use case
  * (pre-training ingest, where a false drop costs one near-duplicate
  * document) doesn't buy; run the batch [[graft.ops.Dedup
  * .minhashPairs]] (which verifies) for audits. Recall/precision are
  * the (1 − (1 − s^rows)^bands) LSH curve. Within a batch the gate
  * collapses LSH-CONNECTED components to their min-id doc (a doc
  * sharing a band with ANY earlier doc drops, claimed or not —
  * exactly how the batch cluster dedup (X20) collapses components to
  * representatives). Docs with an EMPTY shingle set (null/empty
  * token stream — short docs still shingle, [[graft.functions
  * .WordShingles]] emits the whole-doc tail) carry no signature and
  * always pass: no decision, no keys.
  *
  * Failure contract = [[DedupStore]]: survivors append BEFORE the
  * state commit; replay re-emits (at-least-once out), the union
  * commit is idempotent, and a doc can only be dropped by keys whose
  * claimants were already emitted.
  */
object NearDupStore {

  /** A doc's hashed band keys: position in the array IS the band, so
    * the hash salts with it (two bands agreeing by value must not
    * collide as keys); empty shingle set → no keys. One definition
    * shared by the gate and [[forget]] — the two must never drift.
    */
  private def bandKeysOf(text: org.apache.spark.sql.Column, k: Int,
      numHashes: Int, bands: Int, rows: Int): org.apache.spark.sql.Column = {
    val hs = Dedup.hashedShingles(text, k)
    val sig = graft.functions.ArrayExprs.minhashSigFromHashes(
      hs, Hashing.seeds(numHashes))
    when(size(hs) > 0,
      zip_with(Dedup.bandKeys(sig, bands, rows),
        sequence(lit(0), lit(bands - 1)),
        (bk, b) => Hashing.hash60(concat(b.cast("string"), lit("_"), bk))))
      .otherwise(array().cast("array<long>"))
  }

  def applyBatch(batch: DataFrame, idCol: String, textCol: String,
      tableDir: String, outDir: String, batchId: Long, k: Int,
      numHashes: Int, bands: Int, rows: Int, nBucketsIfNew: Int,
      graceCommits: Int = 0): Unit = {
    require(bands * rows == numHashes)
    val spark = batch.sparkSession
    Files.createDirectories(Paths.get(tableDir))
    val st = StateTable.manifestOf(tableDir)
    val nBuckets = st.nBuckets.getOrElse(nBucketsIfNew)
    val bucket = pmod(hash(col("bk")), lit(nBuckets)).cast("int")

    val keyed = batch
      .withColumn("_bks", bandKeysOf(col(textCol), k, numHashes, bands, rows))
      .persist()
    try {
      val posts = keyed.select(col(idCol).as("_pid"),
        explode(col("_bks")).as("bk"))
      val touched = posts.select(bucket.as("b")).distinct()
        .collect().map(_.getInt(0)).toSeq.sorted
      val existingPaths = touched.flatMap(b =>
        st.buckets.get(b).map(v => s"$tableDir/b$b/$v"))
      val existing =
        if (existingPaths.nonEmpty) spark.read.parquet(existingPaths: _*)
        else posts.select(col("bk")).limit(0)

      // a key kills a doc when the store claims it, or an earlier
      // batch doc (min id per key) posts it
      val wKey = Window.partitionBy(col("bk"))
      val killed = posts
        .join(existing.withColumn("_stored", lit(1)), Seq("bk"), "left")
        .withColumn("_minId", min(col("_pid")).over(wKey))
        .filter(col("_stored").isNotNull || col("_minId") < col("_pid"))
        .select(col("_pid").as(idCol)).distinct()
      val survivors = keyed.join(killed, Seq(idCol), "left_anti").persist()
      try {
        survivors.drop("_bks").write.mode("append").parquet(outDir)
        val newKeys = survivors.select(explode(col("_bks")).as("bk"))
        val version = s"v${batchId}_${java.util.UUID.randomUUID().toString.take(8)}"
        StateTable.commitPartitioned(tableDir,
          existing.unionByName(newKeys).distinct().withColumn("b", bucket),
          nBuckets, st, version, graceCommits)
      } finally survivors.unpersist()
    } finally keyed.unpersist()
  }

  /** Run the maintenance query — near-dup survivors to `outDir`,
    * claimed band keys at `tableDir`. Single writer.
    */
  def maintain(docs: DataFrame, idCol: String, textCol: String,
      tableDir: String, outDir: String, checkpointDir: String,
      k: Int = 3, numHashes: Int = 32, bands: Int = 8, rows: Int = 4,
      nBuckets: Int = StateTable.DefaultBuckets,
      graceCommits: Int = 0): StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applyBatch(batch, idCol, textCol, tableDir, outDir, batchId,
          k, numHashes, bands, rows, nBuckets, graceCommits)
      }
      .start()

  /** Takedown for the near-dup gate — release the given docs' claimed
    * band keys so lightly-edited variants of forgotten content can
    * re-enter ([[DedupStore.forget]]'s LSH sibling; same touched-
    * bucket retraction through the manifest protocol). PRECISION
    * NOTE, by design: the store keeps bare keys, not claimant counts
    * (claimant-counted state would grow with every kept doc for a
    * precision the gate use case doesn't buy — see the class doc), so
    * a key co-claimed by a SURVIVING near-identical doc is released
    * with the forgotten one, and a future near-dup of that survivor
    * may pass the gate until the survivor's next re-ingest reclaims
    * its keys. The batch [[graft.ops.Dedup.minhashPairs]] audit is
    * the verified path.
    */
  def forget(texts: DataFrame, textCol: String, tableDir: String,
      k: Int = 3, numHashes: Int = 32, bands: Int = 8, rows: Int = 4,
      graceCommits: Int = 0): Unit =
    StateTable.retractKeys(
      texts.select(explode(
        bandKeysOf(col(textCol), k, numHashes, bands, rows)).as("bk")),
      "bk", tableDir, graceCommits)
}
