package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Persisted inverted text index — the [[Index]] build/serve split
  * applied to BM25 retrieval: pay the tokenize/count passes ONCE at
  * [[build]], then serve MANY ranked searches that read the artifact
  * with no corpus-wide recount in the plan. The in-plan
  * [[Retrieval.bm25TopK]] re-tokenizes and re-aggregates the whole
  * corpus inside every execution — correct for the oracle gate, but
  * at 100 TB the index IS the product.
  *
  * == Layout (four tables under `<baseDir>/<name>/`) ==
  *
  *  - `postings` (tok, id, tf), bucketed by `tok`: a search filters
  *    `tok IN (query terms)` and Spark's bucket pruning reads ONLY
  *    the matching buckets' files — serving cost ∝ the query terms'
  *    postings, never the corpus.
  *  - `dl` (id, dl), bucketed by `id`: document lengths; the scored
  *    postings (already shrunk to the query terms) shuffle TO this
  *    table's hash layout, the corpus side never re-exchanges.
  *  - `stats`: ADDITIVE DELTA rows (tok, df), bucketed by `tok` —
  *    never merged in place. A search aggregates `sum(df)` per term
  *    over the (pruned) rows; [[append]] adds positive deltas,
  *    [[delete]] adds negative ones. Document frequency is a SUM, so
  *    delta rows make maintenance append-only AND exact.
  *  - `meta`: additive delta rows (n, sumdl, nBuckets) — corpus size
  *    and total length as sums, for the same reason.
  *  - `pos` (tok, id, pos), bucketed by `tok` — OPTIONAL
  *    (`build(..., positions = true)`): the positional stream behind
  *    [[searchPhrase]]; shares the postings' tok-bucket pruning for
  *    serving AND takedown (a doc's positions live under its own
  *    terms' buckets).
  *
  * == The exactness contract (stronger than the ANN artifact's) ==
  *
  * BM25's global statistics (df, N, avgdl) are all sums, so
  * maintenance needs NO fixed-parameter compromise: search after
  * [[append]]/[[delete]] equals [[build]]-from-scratch over the same
  * corpus BIT-FOR-BIT (TextIndexSpec proves it; the gate queries
  * prove it end-to-end against DuckDB — `q_text_index_search` shares
  * `q_text_bm25`'s oracle verbatim). Contrast [[Index.append]], which
  * holds trained centroids fixed because k-means is not additive.
  *
  * == The commit: ONE generation across all four tables ==
  *
  * Exactness only holds for states where the four tables agree —
  * postings landed without their stats row would serve a wrong idf,
  * dl landed without postings would make a replay's known-id guard
  * hide the docs forever (advice r13). So every maintenance op
  * ([[append]], [[delete]], [[upsert]], [[compact]]) stages its
  * delta/rewrite files, then commits ALL the tables' fresh directories
  * as one [[Generations]] swap: a crash leaves either the old index or
  * the new one, corrections included, never a mix. [[register]]
  * resolves the tables through the committed state, so a crashed
  * maintenance run cannot strand a cross-session reader.
  *
  * == Replay detection (at-least-once maintenance) ==
  *
  * [[append]]/[[delete]] take an optional `batchId`
  * ([[graft.streaming.TextIndexStream]] passes the foreachBatch
  * epoch): a batch whose commit marker `_commits/<batchId>` exists is
  * an O(1) no-op — the marker is written right after the state swap,
  * so at-least-once redelivery re-runs exactly the batches that did
  * not fully commit. The content-level guards (append's known-id
  * anti-join, delete's empty-posting no-op) remain as the SEMANTIC
  * dedup for overlapping un-tagged inputs; they are sound precisely
  * because visibility is all-or-nothing — the dl table can never be
  * ahead of postings/stats/meta, so the anti-join either sees none of
  * a crashed batch's ids (full re-run) or all of them (no-op).
  *
  * == Maintenance cost ==
  *
  * [[append]] moves only the delta's bytes (per-bucket delta files +
  * delta stats/meta rows) plus O(#files) link metadata. [[delete]] is
  * bucket-pruned like [[Index.delete]]: postings rewrites only the
  * buckets of the DELETED DOCS' TERMS (known from their own posting
  * rows), dl only the deleted ids' buckets; every untouched bucket
  * file hard-links into the fresh generation byte-identical, and the
  * df/(n, sumdl) corrections are staged negative-delta files
  * committed IN THE SAME swap. Single-writer, like all artifact
  * maintenance.
  */
object TextIndex {

  private def part(name: String, p: String) = s"${name}_$p"

  private def indexDir(baseDir: Option[String], name: String): String =
    s"${baseDir.getOrElse(s"${sys.props("java.io.tmpdir")}/graft_textindex")}/$name"

  def exists(spark: SparkSession, name: String): Boolean =
    spark.catalog.tableExists(part(name, "meta"))

  // ------------------------------------------------- committed state

  /** The base tables; `pos` joins them when the index is built with
    * `positions = true` (X150 phrase serving). The state lists
    * whichever parts the artifact actually has.
    */
  private val PartNames = Seq("postings", "dl", "stats", "meta")
  private val AllPartNames = PartNames :+ "pos"
  private val BucketKeys =
    Map("postings" -> "tok", "dl" -> "id", "stats" -> "tok",
      "pos" -> "tok")

  /** The committed state. Every artifact [[build]] has written since
    * the atomic-commit protocol carries one; a PRE-state-file artifact
    * is migrated exactly once, in [[register]] (the only entry a
    * cross-session artifact can arrive through) — maintenance never
    * falls back to directory guessing (r14 verdict #3).
    */
  private def stateOf(dir: String): Generations.State =
    Generations.stateOf(dir, " — re-attach the artifact with " +
      "TextIndex.register (a legacy artifact is migrated there)")

  /** One-time migration of a pre-state-file artifact, run from
    * [[register]]: each part's single live directory under the legacy
    * layout rule is committed as generation 0.
    */
  private def migrateLegacy(dir: String): Generations.State = {
    def live(p: String) = Generations.list(java.nio.file.Paths.get(dir))
      .map(_.getFileName.toString).filter { n =>
        java.nio.file.Files.isDirectory(java.nio.file.Paths.get(dir, n)) &&
          (n == p || n.startsWith(s"${p}_d") || n.startsWith(s"${p}_c"))
      }
    val names = if (live("pos").nonEmpty) AllPartNames else PartNames
    Generations.rebuild(dir, names.map { p =>
      val l = live(p)
      require(l.size == 1,
        s"no state file and not exactly one live dir for part $p: $l")
      p -> l
    }.toMap)
  }

  // ------------------------------------------------------ commit markers

  private def commitMarker(dir: String, batchId: String): java.nio.file.Path = {
    require(batchId.matches("[A-Za-z0-9._-]+"),
      s"batch id must be filesystem-safe: '$batchId'")
    java.nio.file.Paths.get(dir, "_commits", batchId)
  }

  private def batchCommitted(dir: String, batchId: String): Boolean =
    java.nio.file.Files.exists(commitMarker(dir, batchId))

  /** Replay markers kept per stream namespace. Spark's foreachBatch
    * serializes epochs and redelivers at most the LAST epoch whose
    * checkpoint commit didn't land, so anything beyond the newest
    * marker is already dead weight — a small constant keeps the
    * window generous while bounding `_commits` for a long-lived
    * streamed index (advice r14: one file per micro-batch forever).
    * Pruning can never corrupt: markers are an O(1) fast path; the
    * content guards (append's known-id anti-join, delete's
    * empty-posting no-op) remain the semantic dedup.
    */
  private val MarkersKeptPerNs = 4

  private def markBatch(dir: String, batchId: String): Unit = {
    val m = commitMarker(dir, batchId)
    java.nio.file.Files.createDirectories(m.getParent)
    if (!java.nio.file.Files.exists(m)) java.nio.file.Files.createFile(m)
    pruneMarkers(dir)
  }

  /** The ONLY marker shape the high-watermark rule may prune:
    * `<feed><ns8hex>_<epoch>` — exactly what the
    * [[graft.streaming.TextIndexStream]] feeds and the
    * [[graft.streaming.TrilogyStream]] CDC feed write. The epoch
    * argument (foreachBatch serializes epochs; only the LAST
    * uncommitted one redelivers) holds for those namespaces alone; a
    * MANUAL caller's batchIds ("job_1".."job_7") carry no ordering
    * contract, so pruning them after 4 newer same-prefix markers
    * would silently drop the documented O(1) replay guarantee — a
    * late retry of a pruned batch would re-apply stale content over
    * newer upserts (advice r15). Manual markers are reclaimed only by
    * the age horizon ([[pruneMarkersOlderThan]], run from compact).
    */
  private val StreamMarker = "^(ing|del|cdc)([0-9a-f]{8})_(\\d{1,18})$".r

  /** Enforce the per-namespace high-watermark rule for STREAM-FEED
    * markers only (see [[StreamMarker]]): a marker `<ns>_<epoch>`
    * keeps the newest [[MarkersKeptPerNs]] epochs of its namespace.
    * Every other name is left alone. O(#markers), which this very
    * rule (plus the compact-time horizon) keeps bounded.
    */
  private def pruneMarkers(dir: String): Unit = {
    val cd = java.nio.file.Paths.get(dir, "_commits")
    val parsed = Generations.list(cd).flatMap { f =>
      f.getFileName.toString match {
        case StreamMarker(feed, ns, epoch) =>
          Some((feed + ns, epoch.toLong, f))
        case _ => None
      }
    }
    parsed.groupBy(_._1).valuesIterator.foreach { ms =>
      ms.sortBy(-_._2).drop(MarkersKeptPerNs).foreach(m =>
        java.nio.file.Files.deleteIfExists(m._3))
    }
  }

  /** Drop markers last touched before `horizonMs` ago — the
    * abandoned-namespace reclaim (a replacement stream's retired
    * checkpoint leaves its namespace behind forever; per-namespace
    * pruning alone can't tell it from a live one). Run from
    * [[compact]], the op that already owns artifact tidying.
    */
  private def pruneMarkersOlderThan(dir: String, horizonMs: Long): Unit = {
    val cutoff = System.currentTimeMillis() - horizonMs
    Generations.list(java.nio.file.Paths.get(dir, "_commits")).foreach { f =>
      if (java.nio.file.Files.getLastModifiedTime(f).toMillis < cutoff)
        java.nio.file.Files.deleteIfExists(f)
    }
  }

  /** Commit `newFiles` (part → the files of its fresh generation) as
    * ONE [[Generations]] swap, then the batch marker and the catalog.
    */
  private def commit(spark: SparkSession, name: String, dir: String,
      st: Generations.State, nBuckets: Int,
      newFiles: Map[String, Seq[java.nio.file.Path]],
      batchId: Option[String], graceCommits: Int = 0,
      resetGrace: Boolean = false): Unit = {
    val next = Generations.commitFiles(dir, st, newFiles, graceCommits,
      resetGrace)
    batchId.foreach(markBatch(dir, _))
    try next.current.foreach { case (p, ds) =>
      attach(spark, name, dir, p, ds, nBuckets) }
    catch { case t: Throwable =>
      // the swap has COMMITTED; a half-attached catalog would keep
      // serving the superseded generation, and a same-session
      // append's known-id anti-join could then read the OLD dl
      // against the NEW committed state and double-ingest (advice
      // r14). Fail the session's catalog entries hard — the next op
      // is forced through register, which resolves the committed
      // state.
      AllPartNames.foreach { p =>
        try Generations.dropEntry(spark, part(name, p))
        catch { case _: Throwable => () }
      }
      throw t
    }
  }

  /** (Re-)create part `p`'s catalog entry over its directory with the
    * DECLARED schema — attach never infers from files, so a legally
    * EMPTY generation (a takedown that removed a whole bucket, an
    * all-cancelled stats chain) still attaches.
    */
  private def attach(spark: SparkSession, name: String, dir: String,
      p: String, dirs: Seq[String], nBuckets: Int): Unit =
    Generations.attachBucketed(spark, part(name, p), s"$dir/${dirs.head}",
      BucketKeys.getOrElse(p, ""),
      if (BucketKeys.contains(p)) nBuckets else 0, Some(PartSchemas(p)))

  /** Read part `p`'s directories with its declared schema — a
    * legally-empty directory (full takedown) must not fail parquet
    * schema inference (review r14).
    */
  private def readPart(spark: SparkSession, p: String,
      paths: Seq[String]): DataFrame =
    spark.read
      .schema(org.apache.spark.sql.types.StructType.fromDDL(PartSchemas(p)))
      .parquet(paths: _*)

  private val PartSchemas = Map(
    "postings" -> "tok STRING, id BIGINT, tf BIGINT",
    "dl" -> "id BIGINT, dl BIGINT",
    "stats" -> "tok STRING, df BIGINT",
    "pos" -> "tok STRING, id BIGINT, pos INT",
    "meta" -> "n BIGINT, sumdl BIGINT, nBuckets INT")

  /** Operational snapshot of the artifact — the [[Index.describe]]
    * analog: one row per part with the committed state (current
    * generation dir, gen counter, grace policy, still-graced retiree
    * count) and the CURRENT generation's file count/bytes, straight
    * from the filesystem — no data read, no job.
    */
  def describe(spark: SparkSession, name: String): DataFrame = {
    import spark.implicits._
    val dir = Generations.rootOf(spark, part(name, "meta"))
    val st = stateOf(dir)
    val rows = st.current.toSeq.sortBy(_._1).map { case (p, ds) =>
      val files = Generations.filesOf(dir, ds)
      (p, ds.mkString(","), st.gen, st.grace, st.retired.size.toLong,
        files.size.toLong,
        files.map(java.nio.file.Files.size(_)).sum)
    }
    rows.toDF("part", "current", "gen", "grace", "n_retired",
      "n_files", "bytes")
  }

  private def stageMeta(spark: SparkSession, dir: String,
      rows: Seq[(Long, Long, Int)], u: String): java.nio.file.Path = {
    import spark.implicits._
    val target = java.nio.file.Paths.get(dir, Generations.Staging, s"meta_$u")
    rows.toDF("n", "sumdl", "nBuckets")
      .coalesce(1).write.mode("overwrite").parquet(target.toString)
    target
  }

  /** Data files of the part's CURRENT generation. */
  private def currentFiles(dir: String, st: Generations.State,
      p: String): Seq[java.nio.file.Path] =
    Generations.filesOf(dir, st.current(p))

  // ------------------------------------------------------------ tokenize

  /** EXACTLY [[Retrieval.bm25TopK]]'s tokenization — no extra
    * pre-filter: a null text drops (explode of a null array), but an
    * EMPTY text is one ""-token document that counts toward N and
    * avgdl in the in-plan ranking, so it must count here too
    * (PropertySpec's random-corpus fuzz caught the divergence: a
    * pre-filter on empty texts shifted N and every idf with it).
    */
  private def tokTf(docs: DataFrame, idCol: String,
      textCol: String): DataFrame =
    docs.select(col(idCol).cast("long").as("id"),
        explode(TextAnalysis.tokens(col(textCol))).as("tok"))
      .groupBy(col("id"), col("tok")).agg(count(lit(1)).as("tf"))

  /** Positional token stream (tok, id, pos) — [[tokTf]]'s
    * tokenization with posexplode instead of the count, for the
    * optional `pos` part ([[searchPhrase]]). Same null/empty-text
    * semantics by construction.
    */
  private def tokPos(docs: DataFrame, idCol: String,
      textCol: String): DataFrame =
    docs.select(col(idCol).cast("long").as("id"),
        posexplode(TextAnalysis.tokens(col(textCol)))
          .as(Seq("pos", "tok")))
      .select(col("tok"), col("id"), col("pos"))

  /** Tokenize + count once, land the four tables, write the initial
    * state. A rebuild re-establishes the canonical layout, so it owns
    * the sweep of superseded generations AND the commit-marker reset
    * (a rebuilt index is a NEW index — old batch ids must not
    * short-circuit against it).
    */
  def build(spark: SparkSession, docs: DataFrame, idCol: String,
      textCol: String, name: String, nBuckets: Int = 8,
      baseDir: Option[String] = None,
      positions: Boolean = false): Unit = {
    ArtifactFiles.requireArtifactName(name)
    import spark.implicits._
    val dir = indexDir(baseDir, name)
    // one tokenize pass either way: with positions the cached
    // positional stream is the source and tf aggregates it (review
    // r14 — tokPos(docs) next to tokTf(docs) tokenized twice)
    val ptoks =
      if (positions) Some(Caching.cachedOnce(tokPos(docs, idCol, textCol)))
      else None
    val tf = Caching.cachedOnce(ptoks
      .map(_.groupBy(col("id"), col("tok")).agg(count(lit(1)).as("tf")))
      .getOrElse(tokTf(docs, idCol, textCol)))
    val dl = Caching.cachedOnce(
      tf.groupBy(col("id")).agg(sum(col("tf")).as("dl")))
    val dfT = tf.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    val posJob = ptoks.toSeq.map(pt =>
      () => Bucketing.writeBucketed(pt, part(name, "pos"), "tok",
        nBuckets, Some(s"$dir/pos")))
    Par.jobs(Seq(
      () => Bucketing.writeBucketed(tf, part(name, "postings"), "tok",
        nBuckets, Some(s"$dir/postings")),
      () => Bucketing.writeBucketed(dl, part(name, "dl"), "id",
        nBuckets, Some(s"$dir/dl")),
      () => Bucketing.writeBucketed(dfT, part(name, "stats"), "tok",
        nBuckets, Some(s"$dir/stats"))) ++ posJob)
    // Option: sum is NULL over an empty/all-empty-text corpus — an
    // empty index is legal (self-review r13), not a crash after the
    // three writes already landed
    val (n, sumdl) = dl.agg(count(lit(1)), sum(col("dl")))
      .as[(Long, Option[Long])].head()
    Seq((n, sumdl.getOrElse(0L), nBuckets)).toDF("n", "sumdl", "nBuckets")
      .write.mode("overwrite").format("parquet")
      .option("path", s"$dir/meta").saveAsTable(part(name, "meta"))
    val names = if (positions) AllPartNames else PartNames
    Generations.rebuild(dir, names.map(p => p -> Seq(p)).toMap,
      removed = AllPartNames.diff(names))
    // a rebuild WITHOUT positions over a previously positional index
    // must also retire the catalog entry (the rebuild swept its files;
    // a dangling table would report positional support and fail at
    // scan time — review r14)
    if (!positions) Generations.dropEntry(spark, part(name, "pos"))
    Generations.deleteRecursively(
      java.nio.file.Paths.get(dir, "_commits"))
  }

  /** Ranked BM25 top-k from the artifact — output bit-identical to
    * [[Retrieval.bm25TopK]] on the same corpus (same formula, same
    * micro quantization, same (score desc, id) ranking), with NO
    * corpus-wide aggregation in the plan: postings and stats are
    * bucket-pruned to the query terms, df/N/avgdl are sums over the
    * (tiny) pruned delta rows, and the only exchange the corpus side
    * ever sees is the matched postings meeting the id-bucketed dl
    * table.
    */
  def search(spark: SparkSession, name: String, k: Int,
      queries: Seq[(Long, Seq[String])] = Retrieval.Queries): DataFrame = {
    val qrows = queries.flatMap { case (qid, ts) => ts.map(t => (qid, t)) }
    val qdf = spark.createDataFrame(qrows).toDF("qid", "tok")
    val terms = qrows.map(_._2).distinct
    val postings = spark.table(part(name, "postings"))
      .filter(col("tok").isin(terms: _*))
    val stats = spark.table(part(name, "stats"))
      .filter(col("tok").isin(terms: _*))
      .groupBy(col("tok")).agg(sum(col("df")).as("df"))
    // n == 0 is a LEGAL corpus state (full takedown) — the scored
    // stream is empty then, but ANSI mode would still fault the
    // avgdl division whenever this broadcast side materializes
    // first (AQE empty-relation timing made it a heisen-failure)
    val corpus = spark.table(part(name, "meta"))
      .agg(sum(col("n")).as("n"), sum(col("sumdl")).as("sumdl"))
      .select(col("n"),
        when(col("n") === 0, lit(null).cast("double"))
          .otherwise(col("sumdl").cast("double") / col("n"))
          .as("avgdl"))
    val dl = spark.table(part(name, "dl"))
    val scored = postings
      .join(broadcast(qdf), "tok")
      .join(dl, "id")
      .join(broadcast(stats), "tok")
      .join(broadcast(corpus))
      .select(col("qid"), col("id"),
        Retrieval.contribMicros(col("tf"), col("df"), col("dl"),
          col("n"), col("avgdl")).as("c"))
      .groupBy(col("qid"), col("id"))
      .agg(sum(col("c")).as("score_micros"))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("score_micros").desc, col("id").asc)
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("qid"), col("rank"), col("id").as("doc_id"),
        col("score_micros"))
  }

  /** Exact phrase search from the artifact's positional part —
    * bit-identical to the in-plan [[Retrieval.phraseTopK]] on the
    * same corpus (the ranking is literally [[Retrieval.phraseRank]]
    * over the same positional stream), with NO tokenize pass in the
    * plan: the pos table is BUCKET-PRUNED to the phrases' terms, so
    * serving cost ∝ those terms' position lists, never the corpus.
    * Requires `build(..., positions = true)`.
    */
  def searchPhrase(spark: SparkSession, name: String, k: Int,
      phrases: Seq[(Long, Seq[String])] = Retrieval.Phrases): DataFrame = {
    val terms = phrases.flatMap(_._2).distinct
    val ptoks = spark.table(part(name, "pos"))
      .filter(col("tok").isin(terms: _*))
    Retrieval.phraseRank(ptoks, phrases, k)
  }

  /** EVERY doc containing `phrase` (no top-k cut), from the
    * positional part — the compliance scan behind
    * [[deleteMatchingPhrase]]: the same shifted equi-join chain as
    * [[searchPhrase]], collapsed to distinct matching ids. Cost ∝ the
    * phrase terms' position lists (bucket-pruned scan).
    */
  def phraseMatchIds(spark: SparkSession, name: String,
      phrase: Seq[String]): DataFrame = {
    val ptoks = spark.table(part(name, "pos"))
      .filter(col("tok").isin(phrase.distinct: _*))
    Retrieval.phraseStarts(ptoks, phrase).select(col("id")).distinct()
  }

  /** Phrase-targeted takedown (X152) — "remove every document quoting
    * X": one bucket-pruned positional scan names the matching ids,
    * then the standard exact [[delete]] takes them down through the
    * same atomic commit (stats corrected, untouched buckets linked,
    * replay-safe via `batchId`). Search-after equals a build over the
    * non-matching docs — the compliance proof is the oracle gate.
    */
  def deleteMatchingPhrase(spark: SparkSession, name: String,
      phrase: Seq[String], batchId: Option[String] = None): Unit =
    delete(spark, name,
      phraseMatchIds(spark, name, phrase)
        .withColumnRenamed("id", "__match_id"),
      "__match_id", batchId)

  /** Keyword-in-context snippets from the positional part — the
    * artifact side of [[Retrieval.kwicTopK]] (shared
    * [[Retrieval.kwicRank]], bit-identical): min-position and tf come
    * from the bucket-pruned pos scan; the token arrays are fetched
    * ONLY for the matched ids (`docs` join — match-set-sized, never a
    * corpus read). Requires `build(..., positions = true)`.
    */
  def searchKwic(spark: SparkSession, name: String, docs: DataFrame,
      idCol: String, textCol: String, k: Int,
      w: Int = Retrieval.KwicWindow,
      terms: Seq[(Long, String)] = Retrieval.KwicTerms): DataFrame = {
    val ptoks = spark.table(part(name, "pos"))
      .filter(col("tok").isin(terms.map(_._2).distinct: _*))
    val base = docs.select(col(idCol).cast("long").as("id"),
      TextAnalysis.tokens(col(textCol)).as("ts"))
    Retrieval.kwicRank(ptoks, base, terms, w, k)
  }

  /** Proximity (within-window co-occurrence) search from the same
    * positional part — bit-identical to the in-plan
    * [[Retrieval.nearTopK]] (shared [[Retrieval.nearRank]]), pos scan
    * bucket-pruned to the pairs' terms. Requires
    * `build(..., positions = true)`.
    */
  def searchNear(spark: SparkSession, name: String, k: Int,
      w: Int = Retrieval.NearWindow,
      pairs: Seq[(Long, (String, String))] = Retrieval.NearPairs)
      : DataFrame = {
    val terms = pairs.flatMap { case (_, (a, b)) => Seq(a, b) }.distinct
    val ptoks = spark.table(part(name, "pos"))
      .filter(col("tok").isin(terms: _*))
    Retrieval.nearRank(ptoks, pairs, w, k)
  }

  /** Sloppy ordered-phrase search from the positional part —
    * bit-identical to the in-plan [[Retrieval.sloppyTopK]] (shared
    * [[Retrieval.sloppyRank]]), pos scan bucket-pruned to the
    * phrases' terms. Requires `build(..., positions = true)`.
    */
  def searchSloppy(spark: SparkSession, name: String, k: Int,
      phrases: Seq[(Long, Seq[String], Int)] = Retrieval.SloppyPhrases)
      : DataFrame = {
    val terms = phrases.flatMap(_._2).distinct
    val ptoks = spark.table(part(name, "pos"))
      .filter(col("tok").isin(terms: _*))
    Retrieval.sloppyRank(ptoks, phrases, k)
  }

  /** BM25 top-k WITH snippets from the artifact — [[search]]'s
    * ranking composed with the positional part's first-hit windows
    * (shared [[Retrieval.kwicForRanking]], bit-identical to the
    * in-plan [[Retrieval.kwicMultiTopK]]). The token arrays are
    * fetched only for the k ranked ids per query (`docs` join —
    * match-set-sized); the pos scan is bucket-pruned to the query
    * terms. Requires `build(..., positions = true)`.
    */
  def searchKwicMulti(spark: SparkSession, name: String,
      docs: DataFrame, idCol: String, textCol: String, k: Int,
      w: Int = Retrieval.KwicWindow,
      queries: Seq[(Long, Seq[String])] = Retrieval.Queries): DataFrame = {
    val ranked = search(spark, name, k, queries)
    val ptoks = spark.table(part(name, "pos"))
      .filter(col("tok").isin(queries.flatMap(_._2).distinct: _*))
    val base = docs.select(col(idCol).cast("long").as("id"),
      TextAnalysis.tokens(col(textCol)).as("ts"))
    Retrieval.kwicForRanking(ranked, ptoks, base, queries, w)
  }

  private def metaOf(spark: SparkSession, name: String): Int =
    spark.table(part(name, "meta")).select(col("nBuckets"))
      .head().getInt(0)

  /** Offline compaction — the [[Index.compact]] analog: every
    * [[append]] adds one file per touched bucket and one stats/meta
    * delta row, every [[delete]] adds negative rows, so after many
    * deltas the artifact holds (deltas × buckets) small files and a
    * delta chain the serving aggregation must re-sum. Rewrites each
    * bucketed part as ONE file per occupied bucket (stats MERGED to
    * one row per term, zero-sum terms dropped — a fully-deleted
    * term's +df/−df pair is dead weight), collapses meta to one row,
    * and commits all four through the same atomic state swap as
    * every other maintenance op. Search output unchanged (sums are
    * sums); single-writer like all maintenance.
    */
  def compact(spark: SparkSession, name: String,
      graceCommits: Int = 0, resetGrace: Boolean = false,
      markerHorizonMs: Long = DefaultMarkerHorizonMs): Unit = {
    import spark.implicits._
    val nBuckets = metaOf(spark, name)
    val dir = Generations.rootOf(spark, part(name, "meta"))
    val st = stateOf(dir)
    // reclaim abandoned stream namespaces' replay markers (safe at
    // any horizon: markers are a fast path, the content guards stay)
    pruneMarkersOlderThan(dir, markerHorizonMs)
    val (n, sumdl) = spark.table(part(name, "meta"))
      .agg(sum(col("n")), sum(col("sumdl")))
      .as[(Long, Long)].head()
    val u = Generations.uid()
    def partDf(p: String): DataFrame =
      readPart(spark, p, st.current(p).map(d => s"$dir/$d"))
    val hasPos = st.current.contains("pos")
    val posJob =
      if (!hasPos) Seq.empty
      else Seq(() => Generations.stage(
        partDf("pos").repartition(nBuckets, col("tok")),
        dir, name, "pos", u, "tok", nBuckets))
    val staged = Par.collect(Seq(
      () => Generations.stage(
        partDf("postings").repartition(nBuckets, col("tok")),
        dir, name, "postings", u, "tok", nBuckets),
      () => Generations.stage(
        partDf("dl").repartition(nBuckets, col("id")),
        dir, name, "dl", u, "id", nBuckets),
      () => Generations.stage(
        partDf("stats").groupBy(col("tok")).agg(sum(col("df")).as("df"))
          .filter(col("df") =!= 0)
          .repartition(nBuckets, col("tok")),
        dir, name, "stats", u, "tok", nBuckets)) ++ posJob)
    val mS = stageMeta(spark, dir, Seq((n, sumdl, nBuckets)), u)
    val base = Map(
      "postings" -> staged(0),
      "dl" -> staged(1),
      "stats" -> staged(2),
      "meta" -> Generations.dataFiles(mS))
    val withPos = if (hasPos) base + ("pos" -> staged(3)) else base
    commit(spark, name, dir, st, nBuckets, withPos,
      batchId = None, graceCommits = graceCommits,
      resetGrace = resetGrace)
  }

  /** Markers older than a week are presumed to belong to retired
    * stream namespaces (a live stream re-marks every epoch).
    */
  val DefaultMarkerHorizonMs: Long = 7L * 24 * 3600 * 1000

  /** Consult-and-compact — the auto-compaction policy for delta
    * chains (r14 verdict #7): every [[append]] adds one file per
    * touched bucket and every [[delete]] adds correction rows, so a
    * long micro-batch run accretes files without bound unless some
    * cron compacts. This is that check, cheap enough to run after
    * EVERY maintenance commit (filesystem metadata only while under
    * threshold): if any current part exceeds `maxFilesPerPart` data
    * files, run [[compact]] through the same atomic commit. Returns
    * whether it compacted. Serving is unchanged either way (sums are
    * sums — TextIndexSpec pins bit-identical search output across
    * the trigger).
    */
  def maybeCompact(spark: SparkSession, name: String,
      maxFilesPerPart: Int): Boolean = {
    val dir = Generations.rootOf(spark, part(name, "meta"))
    val st = stateOf(dir)
    // clamp to the post-compact floor (one file per occupied bucket):
    // a threshold below nBuckets could never be satisfied, so every
    // check would re-run a full O(corpus) compact — the fast path
    // must stay delta-proportional (review r15)
    val threshold = math.max(maxFilesPerPart, metaOf(spark, name))
    val over = st.current.valuesIterator.exists(ds =>
      Generations.filesOf(dir, ds).size > threshold)
    if (over) compact(spark, name)
    over
  }

  /** Re-attach an index BUILT BY A PREVIOUS SESSION from its files —
    * the [[Index.register]] analog: recreates the catalog entries
    * INCLUDING the bucketing spec (without it the pruned serving scan
    * and the exchange-free layouts would silently degrade to full
    * scans). Generations resolve through the committed state file —
    * leftover directories of a crashed maintenance run cannot confuse
    * it. A PRE-state-file artifact is migrated here, ONCE: its parts'
    * single live directories resolve under the legacy layout rule and
    * are committed as a state file, after which the legacy path is
    * never consulted again (r14 verdict #3 retired the standing
    * maintenance fallback). nBuckets comes from the persisted meta
    * rows.
    */
  def register(spark: SparkSession, name: String,
      baseDir: String): Unit = {
    ArtifactFiles.requireArtifactName(name)
    val dir = s"$baseDir/$name"
    val st = Generations.load(dir).getOrElse(migrateLegacy(dir))
    attach(spark, name, dir, "meta", st.current("meta"), 0)
    val nBuckets = metaOf(spark, name)
    for ((p, ds) <- st.current if p != "meta")
      attach(spark, name, dir, p, ds, nBuckets)
    // retire catalog entries for parts the committed state does NOT
    // have (a stale pos table from an earlier positional build would
    // report support and fail at scan time — review r14)
    for (p <- AllPartNames if !st.current.contains(p))
      Generations.dropEntry(spark, part(name, p))
  }

  /** Incremental ingest — pure appends, exact by additivity: the new
    * docs' postings/dl land as per-bucket delta files, their df and
    * (n, sumdl) as positive delta ROWS, all four committed in ONE
    * atomic generation swap (committed files are never rewritten —
    * TextIndexSpec pins byte identity). Replay safety is layered:
    * a `batchId` whose commit marker exists is an O(1) no-op, and
    * ids already indexed are dropped up front (sound because
    * visibility is all-or-nothing — see the object doc).
    * Search-after-append == build over the union, bit-for-bit.
    */
  def append(spark: SparkSession, name: String, newDocs: DataFrame,
      idCol: String, textCol: String,
      batchId: Option[String] = None, graceCommits: Int = 0): Unit = {
    import spark.implicits._
    val nBuckets = metaOf(spark, name)
    val dir = Generations.rootOf(spark, part(name, "meta"))
    if (batchId.exists(batchCommitted(dir, _))) return
    val st = stateOf(dir)
    val known = spark.table(part(name, "dl")).select(col("id"))
    val fresh = newDocs
      .select(col(idCol).cast("long").as("id"), col(textCol).as("text"))
      .join(known, Seq("id"), "left_anti")
    // explicit persist + finally-unpersist (NOT cachedOnce): the
    // streaming maintainer calls this once per micro-batch with a
    // batch-unique plan, so leaked entries would grow without bound
    // (self-review r13 — the CounterStore-family discipline).
    // One tokenize pass: with a positional part the persisted delta
    // positional stream is the source and tf aggregates it (review
    // r14 — a separate tokPos(fresh) re-ran the anti-join AND the
    // tokenize per micro-batch)
    val hasPos = st.current.contains("pos")
    val ptoksDelta =
      if (hasPos) Some(tokPos(fresh, "id", "text").persist()) else None
    val tf = ptoksDelta
      .map(_.groupBy(col("id"), col("tok")).agg(count(lit(1)).as("tf")))
      .getOrElse(tokTf(fresh, "id", "text")).persist()
    val dl = tf.groupBy(col("id")).agg(sum(col("tf")).as("dl")).persist()
    try {
      // FORCE the delta snapshot into the cache BEFORE any write:
      // `fresh` anti-joins the dl TABLE whose catalog entry this
      // method re-attaches at commit, so a lazy re-evaluation after
      // the commit would see the just-appended ids and report an
      // EMPTY delta. The agg materializes dl — and through it tf —
      // while the catalog still serves the pre-append generation.
      val (n, sumdl) = dl.agg(count(lit(1)), sum(col("dl")))
        .as[(Long, Option[Long])].head() // sum is NULL on an all-known replay
      if (n == 0) { batchId.foreach(markBatch(dir, _)); return }
      val dfT = tf.groupBy(col("tok")).agg(count(lit(1)).as("df"))
      val u = Generations.uid()
      // phase 1 (concurrent): stage the deltas — invisible to
      // readers until the swap
      val posJob = ptoksDelta.toSeq.map(pt =>
        () => Generations.stage(pt, dir, name, "pos", u, "tok", nBuckets))
      val staged = Par.collect(Seq(
        () => Generations.stage(tf, dir, name, "postings", u, "tok", nBuckets),
        () => Generations.stage(dl, dir, name, "dl", u, "id", nBuckets),
        () => Generations.stage(dfT, dir, name, "stats", u, "tok", nBuckets))
        ++ posJob)
      val mS = stageMeta(spark, dir, Seq((n, sumdl.getOrElse(0L), nBuckets)), u)
      // phase 2: fresh generations = current files + delta files, one
      // atomic swap across all parts
      val base = Map(
        "postings" -> (currentFiles(dir, st, "postings") ++ staged(0)),
        "dl" -> (currentFiles(dir, st, "dl") ++ staged(1)),
        "stats" -> (currentFiles(dir, st, "stats") ++ staged(2)),
        "meta" -> (currentFiles(dir, st, "meta") ++ Generations.dataFiles(mS)))
      val withPos =
        if (hasPos)
          base + ("pos" -> (currentFiles(dir, st, "pos") ++ staged(3)))
        else base
      commit(spark, name, dir, st, nBuckets, withPos, batchId,
        graceCommits)
    } finally {
      dl.unpersist(); tf.unpersist(); ptoksDelta.foreach(_.unpersist())
    }
  }

  /** Upsert — replace-or-insert `docs` and take down `delIds`, in ONE
    * atomic generation commit (X156's per-batch shape: the CDC feed
    * previously ran [[delete]] then [[append]] as TWO commits — twice
    * the staging/link/swap machinery and a two-marker replay dance).
    * Semantics: every id in `docs` ∪ `delIds` leaves the index, then
    * `docs` is ingested — search-after == build over
    * (corpus \ (docs.ids ∪ delIds)) ∪ docs, bit-for-bit
    * (TextIndexSpec).
    *
    * The delete side reads the CURRENT generation by PATH (no lazy
    * catalog re-read hazard), rewrites only the touched buckets, and
    * stages negative stats/meta deltas; the ingest side stages the
    * new docs' per-bucket deltas and positive stats/meta rows; the
    * fresh generation links kept + rewritten + delta files and ONE
    * swap publishes everything. Replay is O(1) via the single
    * `batchId` marker — and idempotent even without it: a replayed
    * upsert removes the rows it itself added and re-adds the same
    * content.
    */
  def upsert(spark: SparkSession, name: String, docs: DataFrame,
      idCol: String, textCol: String,
      delIds: Option[DataFrame] = None, delCol: String = "id",
      batchId: Option[String] = None, graceCommits: Int = 0): Unit =
    upsertImpl(spark, name, Some((docs, idCol, textCol)), delIds, delCol,
      batchId, graceCommits)

  /** The one removal+ingest commit path behind [[upsert]] AND
    * [[delete]]: the ingest side is an Option so a pure takedown pays
    * ZERO ingest jobs (review r15: delegating delete through the
    * public upsert tokenized/aggregated/staged empty frames — several
    * whole Spark jobs per takedown).
    */
  private def upsertImpl(spark: SparkSession, name: String,
      ingest: Option[(DataFrame, String, String)],
      delIds: Option[DataFrame], delCol: String,
      batchId: Option[String], graceCommits: Int): Unit = {
    import spark.implicits._
    val nBuckets = metaOf(spark, name)
    val dir = Generations.rootOf(spark, part(name, "meta"))
    if (batchId.exists(batchCommitted(dir, _))) return
    val st = stateOf(dir)
    val newDocs = ingest.map { case (docs, idCol, textCol) =>
      docs.select(col(idCol).cast("long").as("id"),
        col(textCol).as("text")).persist()
    }
    val del = (newDocs.map(_.select(col("id").as("__del"))).toSeq ++
        delIds.map(_.select(col(delCol).cast("long").as("__del"))).toSeq)
      .reduceOption(_ unionByName _)
      .getOrElse(spark.emptyDataset[Long].toDF("__del"))
      .distinct().persist()
    try {
      // unique-ingest-id precondition (advice r16; multi-version
      // batches LWW-collapse first in TrilogyStream.applyChanges)
      newDocs.foreach(ArtifactFiles.requireUniqueIds)
      val postingsDir = java.nio.file.Paths.get(dir, st.dir("postings"))
      val dlDir = java.nio.file.Paths.get(dir, st.dir("dl"))
      val postings = readPart(spark, "postings", Seq(postingsDir.toString))
      val dlT = readPart(spark, "dl", Seq(dlDir.toString))
      val delPost =
        postings.join(del, postings("id") === col("__del"), "left_semi")
          .persist()
      val delDl =
        dlT.join(del, dlT("id") === col("__del"), "left_semi").persist()
      // ingest side (absent for a pure takedown): one tokenize pass —
      // positional stream first when the artifact has a pos part, tf
      // aggregated from it
      val hasPos = st.current.contains("pos")
      val ptoksDelta =
        if (hasPos) newDocs.map(nd => tokPos(nd, "id", "text").persist())
        else None
      val tf = newDocs.map { nd =>
        ptoksDelta
          .map(_.groupBy(col("id"), col("tok")).agg(count(lit(1)).as("tf")))
          .getOrElse(tokTf(nd, "id", "text")).persist()
      }
      val dlNew = tf.map(
        _.groupBy(col("id")).agg(sum(col("tf")).as("dl")).persist())
      try {
        // ONE bounded probe job for the stats sums AND both
        // touched-bucket digests (r18: was four ~0.1-0.2 s jobs —
        // delDl agg, dlNew agg, tok digest, id digest). Tagged union,
        // two-level aggregate: per tag ≤ nBuckets distinct keys
        // (digest tags) or one (sum tags) — a bounded driver read.
        // The "n" leg still materializes the dlNew/tf persists BEFORE
        // any write, preserving the force-the-snapshot discipline the
        // comment above describes.
        def bucketOf(c: org.apache.spark.sql.Column) =
          pmod(hash(c), lit(nBuckets))
        val probe = (Seq(
            delDl.select(lit("g").as("t"), col("dl").as("k")),
            delPost.select(lit("tb").as("t"),
              bucketOf(col("tok")).cast("long").as("k")),
            del.select(lit("ib").as("t"),
              bucketOf(col("__del")).cast("long").as("k"))) ++
          dlNew.map(_.select(lit("n").as("t"), col("dl").as("k"))).toSeq)
          .reduce(_ unionByName _)
          .groupBy(col("t")).agg(
            count(lit(1)).as("c"), sum(col("k")).as("s"),
            collect_set(when(col("t").endsWith("b"), col("k"))).as("ks"))
          .collect().map(r => r.getString(0) -> r).toMap
        def cnt(t: String) = probe.get(t).map(_.getLong(1)).getOrElse(0L)
        def total(t: String): Option[Long] =
          probe.get(t).flatMap(r => if (r.isNullAt(2)) None else Some(r.getLong(2)))
        def bkts(t: String): Set[Int] = probe.get(t)
          .map(_.getSeq[Long](3).map(_.toInt).toSet).getOrElse(Set.empty)
        val (nGone, dlGone) = (cnt("g"), total("g"))
        val (nNew, dlNewSum) = (cnt("n"), total("n"))
        if (nGone == 0 && nNew == 0 && cnt("tb") == 0) {
          batchId.foreach(markBatch(dir, _)); return
        }
        val tokBkts = bkts("tb")
        val idBkts = bkts("ib")
        def split(d: java.nio.file.Path, bkts: Set[Int]) =
          Generations.dataFiles(d).partition(f =>
            ArtifactFiles.bucketIdOf(f.getFileName.toString)
              .forall(bkts.contains))
        val (rewriteP, keptP) = split(postingsDir, tokBkts)
        val (rewriteD, keptD) = split(dlDir, idBkts)
        val (rewriteX, keptX) =
          if (!hasPos) (Seq.empty[java.nio.file.Path], Seq.empty[java.nio.file.Path])
          else split(java.nio.file.Paths.get(dir, st.dir("pos")), tokBkts)
        val u = Generations.uid()
        // stage EVERYTHING concurrently: pruned removal rewrites, the
        // ingest deltas, and both stats corrections — all invisible
        // until the one swap
        def rewrite(files: Seq[java.nio.file.Path],
            p: String): Seq[java.nio.file.Path] =
          if (files.isEmpty) Nil
          else Generations.stage(readPart(spark, p, files.map(_.toString))
              .join(del, col("id") === col("__del"), "left_anti"),
            dir, name, p, s"rw_$u", BucketKeys(p), nBuckets)
        val dfNeg = delPost.groupBy(col("tok"))
          .agg((-count(lit(1))).as("df"))
        val hasNew = nNew > 0
        def dfPos = tf.get.groupBy(col("tok")).agg(count(lit(1)).as("df"))
        // an EMPTY side stages nothing: a delete-only upsert (the
        // delete specialization) must not pay the ingest side's write
        // jobs, and a pure ingest must not pay empty rewrites — each
        // skipped stage is a whole Spark job (review r15: the first
        // draft staged three empty frames per delete and the suite
        // paid minutes for it)
        val stats = if (hasNew) dfNeg.unionByName(dfPos) else dfNeg
        val jobs: Seq[(String, () => Seq[java.nio.file.Path])] =
          Seq(
            "rwP" -> (() => rewrite(rewriteP, "postings")),
            "rwD" -> (() => rewrite(rewriteD, "dl")),
            "st" -> (() => Generations.stage(stats, dir, name, "stats", u,
              "tok", nBuckets))) ++
          (if (hasNew) Seq(
            "newP" -> (() => Generations.stage(tf.get, dir, name,
              "postings", s"new_$u", "tok", nBuckets)),
            "newD" -> (() => Generations.stage(dlNew.get, dir, name, "dl",
              s"new_$u", "id", nBuckets))) else Seq.empty) ++
          (if (hasPos) Seq(
            "rwX" -> (() => rewrite(rewriteX, "pos"))) else Seq.empty) ++
          (if (hasPos && hasNew) Seq(
            "newX" -> (() => Generations.stage(ptoksDelta.get, dir, name,
              "pos", s"new_$u", "tok", nBuckets)))
           else Seq.empty)
        val staged = jobs.map(_._1)
          .zip(Par.collect(jobs.map(_._2))).toMap
        def filesOf(k: String): Seq[java.nio.file.Path] =
          staged.getOrElse(k, Nil)
        val mS = stageMeta(spark, dir,
          Seq((nNew - nGone,
            dlNewSum.getOrElse(0L) - dlGone.getOrElse(0L), nBuckets)), u)
        val base = Map(
          "postings" -> (keptP ++ filesOf("rwP") ++ filesOf("newP")),
          "dl" -> (keptD ++ filesOf("rwD") ++ filesOf("newD")),
          "stats" -> (currentFiles(dir, st, "stats") ++ filesOf("st")),
          "meta" -> (currentFiles(dir, st, "meta") ++ Generations.dataFiles(mS)))
        val withPos =
          if (hasPos)
            base + ("pos" -> (keptX ++ filesOf("rwX") ++ filesOf("newX")))
          else base
        commit(spark, name, dir, st, nBuckets, withPos, batchId,
          graceCommits)
      } finally {
        delPost.unpersist(); delDl.unpersist()
        dlNew.foreach(_.unpersist()); tf.foreach(_.unpersist())
        ptoksDelta.foreach(_.unpersist())
      }
    } finally { del.unpersist(); newDocs.foreach(_.unpersist()) }
  }

  /** Takedown — bucket-pruned and stats-exact: the deleted docs'
    * posting rows (read BEFORE the rewrite) name both the negative
    * stats deltas AND the touched `tok` buckets; only those buckets'
    * posting FILES are read and rewritten (a file with no parseable
    * bucket tag joins the rewrite set — never silently kept or
    * dropped), every other file hard-links byte-identical, dl
    * rewrites only the deleted ids' buckets, and the df/(n, sumdl)
    * corrections are staged negative-delta files committed IN THE
    * SAME atomic swap as the rewrites — a crash can leave either the
    * old index (fully consistent, orphans swept later) or the new one
    * (corrections included); never phantom documents, never stale
    * stats. Re-running the delete with the same ids is a no-op (the
    * posting read finds nothing); a `batchId` makes the replay O(1).
    * Search-after-delete == build over the survivors, bit-for-bit.
    */
  def delete(spark: SparkSession, name: String, delIds: DataFrame,
      idCol: String, batchId: Option[String] = None,
      graceCommits: Int = 0): Unit =
    // the no-ingest specialization of [[upsert]] — ONE removal path
    // in the codebase (review r15: delete and upsert had duplicated
    // the pruned-rewrite scaffolding and begun to drift), with the
    // ingest side absent so a pure takedown pays zero ingest jobs
    upsertImpl(spark, name, ingest = None, delIds = Some(delIds),
      delCol = idCol, batchId = batchId, graceCommits = graceCommits)
}
