package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.StreamingQuery

import graft.ops.TextIndex

/** Streaming maintenance for the persisted inverted text index
  * ([[graft.ops.TextIndex]]) — the [[IndexStream]] pattern on the
  * retrieval artifact: documents arrive, the index stays EXACTLY the
  * index a from-scratch build over everything-so-far would produce
  * (TextIndex's additive-stats law), and serving keeps reading the
  * same bucketed tables.
  *
  * At-least-once is SAFE here by construction, not by cleanup — on
  * two layers (advice r13):
  *
  *  - each trigger passes its epoch as the maintenance op's
  *    `batchId`; TextIndex commits all tables in ONE atomic state
  *    swap and writes the batch's commit marker right after it, so a
  *    redelivered epoch that fully committed is an O(1) no-op and one
  *    that crashed mid-write left NO visible trace (the old
  *    generation still served) and re-runs cleanly;
  *  - the content guards back the un-tagged path: a replayed ingest
  *    batch is dropped by the known-id anti-join, a replayed takedown
  *    finds no posting rows — both sound because the tables are never
  *    partially visible.
  *
  * Marker keys are namespaced by a digest of the CHECKPOINT
  * DIRECTORY (plus a per-feed prefix): epochs are only unique per
  * checkpoint, so a replacement stream with a fresh checkpoint
  * attached to the same index must not collide with a retired
  * stream's markers (its epoch numbering restarts at 0 — a bare-epoch
  * key would silently skip its batches; review r14). The path is
  * CANONICALIZED before hashing (advice r14): the same checkpoint
  * addressed as relative vs absolute, or with a trailing slash, must
  * land in the SAME namespace on restart, or the O(1) replay dedup
  * silently degrades to full content-guard re-runs.
  *
  * TextIndexStreamSpec proves micro-batched ingest (+ a replay)
  * serves the one-shot build's ranking bit-for-bit, micro-batched
  * retraction (+ a replay) the survivor build's, and the CDC feed
  * ([[TrilogyStream.applyChanges]] with one text target) the
  * LWW-merged corpus build's.
  */
object TextIndexStream {
  import TrilogyStream.streaming

  /** Stable per-stream marker namespace: the checkpoint directory is
    * the stream's durable identity (same across restarts, different
    * for a replacement stream). Canonicalized so path SPELLING is not
    * part of the identity — but ONLY along each location's own rules
    * (advice r15):
    *
    *  - URI-style locations (`hdfs://nn/ckpt`, `s3a://bucket/ckpt`)
    *    normalize as URIs, scheme + authority intact —
    *    `java.nio.file.Paths` would have collapsed them to a relative
    *    path with the JVM cwd baked in, making the namespace differ
    *    per driver host;
    *  - scheme-less local paths resolve against the cwd (a relative
    *    checkpoint IS a cwd-relative directory, so the absolute path
    *    is its identity) and normalize `..`/`.`/trailing-slash.
    *
    * A malformed URI falls back to the raw string — a stable (if
    * spelling-sensitive) namespace beats a crash in a foreachBatch
    * closure. Worst case of any namespace change across upgrades is
    * ONE content-guard re-run (foreachBatch redelivers at most the
    * last uncommitted epoch), which the guards make a no-op.
    */
  private[graft] def ns(checkpointDir: String): String = {
    val canon =
      if (checkpointDir.matches("^[A-Za-z][A-Za-z0-9+.-]*://.*"))
        try {
          val u = new java.net.URI(checkpointDir).normalize()
          val s = u.toString
          if (s.length > 1 && s.endsWith("/")) s.dropRight(1) else s
        } catch { case _: java.net.URISyntaxException => checkpointDir }
      else
        java.nio.file.Paths.get(checkpointDir)
          .toAbsolutePath.normalize.toString
    java.security.MessageDigest.getInstance("MD5")
      .digest(canon.getBytes("UTF-8"))
      .take(4).map("%02x".format(_)).mkString
  }

  /** Ingest feed: rows of (`idCol`, `textCol`) append into `name`
    * per micro-batch — cost ∝ batch (per-bucket delta files + delta
    * stats rows), committed files byte-untouched.
    */
  def maintain(docs: DataFrame, idCol: String, textCol: String,
      name: String, checkpointDir: String,
      autoCompactFiles: Option[Int] = None): StreamingQuery =
    streaming(docs, checkpointDir, autoCompactFiles,
        TextIndex.maybeCompact(_, name, _)) { (batch, bid) =>
      TextIndex.append(batch.sparkSession, name, batch, idCol, textCol,
        batchId = Some(s"ing${ns(checkpointDir)}_$bid"))
    }

  /** Takedown feed: rows of `idCol` delete from `name` per
    * micro-batch through the bucket-pruned rewrite + negative stats
    * deltas.
    */
  def retract(delIds: DataFrame, idCol: String, name: String,
      checkpointDir: String,
      autoCompactFiles: Option[Int] = None): StreamingQuery =
    streaming(delIds, checkpointDir, autoCompactFiles,
        TextIndex.maybeCompact(_, name, _)) { (batch, bid) =>
      TextIndex.delete(batch.sparkSession, name, batch, idCol,
        batchId = Some(s"del${ns(checkpointDir)}_$bid"))
    }
}
