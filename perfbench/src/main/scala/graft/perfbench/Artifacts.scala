package graft.perfbench

import java.io.File
import java.nio.file.Files

import scala.util.Random

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DoubleType}

import graft.cdc.ChangeOp
import graft.ops.{GraphStore, Index, TextIndex}
import graft.streaming.{TextIndexStream, TrilogyStream}

/** artifact_churn: a change log of documents maintains the text index,
  * the ANN index and the kNN graph through `TrilogyStream`. The closed
  * loop releases the next log segment only after the previous trigger
  * committed: growth segments first, then constant-size churn (edits,
  * re-embeds, tombstones and inserts).
  */
object Artifacts {

  private val (initialDocs, perSegment, growthSegments, maxSegments, lists, k) =
    (400, 60, 3, 200, 8, 5)
  private val Names = ("pb_text", "pb_ann", "pb_graph")

  /** The log as records: segment index → (op, doc) in log order. */
  private def changeLog(seed: Long): (Seq[Gen.Doc], IndexedSeq[IndexedSeq[(String, Gen.Doc)]]) = {
    val r = new Random(seed)
    val base = (0 until initialDocs).map(i => Gen.randDoc(r, i.toLong))
    val live = scala.collection.mutable.ArrayBuffer(base: _*)
    var nextId = initialDocs.toLong
    def insert(): (String, Gen.Doc) = {
      val d = Gen.randDoc(r, nextId); nextId += 1; live += d; ("Insert", d)
    }
    val segs = (0 until maxSegments).map { s =>
      (0 until perSegment).map { _ =>
        if (s < growthSegments) insert()
        else r.nextInt(20) match {
          case x if x < 8 => // edit: new text, same vector
            val i = r.nextInt(live.size)
            val d = live(i).copy(text = Gen.randDoc(r, live(i).id).text); live(i) = d; ("Update", d)
          case x if x < 14 => // re-embed: same text, new vector
            val i = r.nextInt(live.size)
            val d = live(i).copy(vec = Gen.randDoc(r, live(i).id).vec); live(i) = d; ("Update", d)
          case x if x < 17 => // tombstone
            val i = r.nextInt(live.size)
            val d = live(i); live(i) = live.last; live.remove(live.size - 1); ("Delete", d)
          case _ => insert()
        }
      }
    }
    (base, segs)
  }

  private def writeSegment(dir: File, s: Int, changes: Seq[(String, Gen.Doc)]): Unit = {
    val lines = changes.zipWithIndex.map { case ((op, d), i) =>
      val row = Gen.docRow(d)
      val (before, after) = if (op == "Delete") (row, "null") else ("null", row)
      s"""{"op":"$op","db":"docs","table":"doc","before":$before,"after":$after,"ts":${Gen.BaseTs + s * perSegment + i},"pkey":"id"}"""
    }
    // written whole, then renamed in: the source never sees a partial segment
    val tmp = new File(dir, f".seg.$s%06d.tmp")
    Files.write(tmp.toPath, (lines.mkString("\n") + "\n").getBytes("UTF-8"))
    Files.move(tmp.toPath, new File(dir, f"seg.$s%06d.jsonl").toPath)
  }

  val churn: Ctx => Outcome = ctx => {
    import ctx.spark
    import spark.implicits._
    val (textName, annName, graphName) = Names
    val (_, (base, segs), genMed, genTot) = Workloads.generate(ctx, "docs")(_ => changeLog(ctx.args.seed))
    def docsDf(ds: Seq[Gen.Doc]): DataFrame =
      ds.map(d => (d.id, d.text, d.vec, d.id % lists)).toDF("id", "text", "vec", "seed")
    val artDir = ctx.freshDir("artifacts")
    val corpus = docsDf(base)
    TextIndex.build(spark, corpus, "id", "text", textName, nBuckets = 4,
      baseDir = Some(artDir.getPath))
    Index.build(spark, corpus, "id", "vec", "seed", annName, itersIvf = 2, massign = 2,
      m = 16, ksub = 32, itersPq = 1, nBuckets = 4, baseDir = Some(artDir.getPath))
    GraphStore.build(spark, corpus, "id", "vec", "seed", graphName, k = 4, iters = 1,
      massign = 2, nBuckets = 4, baseDir = Some(artDir.getPath))

    val logDir = ctx.freshDir("docs-log")
    val ck = ctx.freshDir("docs-ck")
    val changes = spark.readStream.format("graft-changelog")
      .option("path", logDir.getPath).option("maxRowsPerTrigger", perSegment.toLong).load()
    val row = coalesce(col("after"), col("before"))
    val decoded = changes.select(
      get_json_object(row, "$.id").cast("long").as("key"), col("op"),
      coalesce(get_json_object(col("after"), "$.text"), lit("")).as("text"),
      from_json(coalesce(get_json_object(col("after"), "$.vec"), lit("[]")),
        ArrayType(DoubleType)).as("vec"),
      pmod(get_json_object(row, "$.id").cast("long"), lit(lists.toLong)).as("seed"),
      unix_timestamp(col("ts")).as("ts_sec"), col("seq"))
    val q =
      if (!ctx.args.trace)
        TrilogyStream.applyChanges(decoded, "key", "op", "text", "vec", "seed",
          textName, annName, graphName, ck.getPath)
      else decoded.writeStream.option("checkpointLocation", ck.getPath)
        .foreachBatch { (batch: DataFrame, bid: Long) =>
          // TrilogyStream.applyChanges' batch body, with the three
          // upserts run one after another so each is timed alone
          val key = s"$bid"
          if (!batch.isEmpty) {
            val w = Window.partitionBy(col("key")).orderBy(col("ts_sec").desc, col("seq").desc)
            val winners = batch.withColumn("__rn", row_number().over(w))
              .filter(col("__rn") === 1).drop("__rn").persist()
            try {
              val ups = winners.filter(col("op") =!= ChangeOp.Delete)
              val tombs = winners.filter(col("op") === ChangeOp.Delete).select(col("key"))
              ctx.span("artifact.text", key)(TextIndex.upsert(spark, textName,
                ups.select(col("key"), col("text")), "key", "text",
                delIds = Some(tombs), delCol = "key",
                batchId = Some(s"cdc${TextIndexStream.ns(ck.getPath)}_$bid")))
              ctx.span("artifact.ann", key)(Index.upsert(spark, annName,
                ups.select(col("key"), col("vec")), "key", "vec",
                delIds = Some(tombs), delCol = "key"))
              ctx.span("artifact.graph", key)(GraphStore.upsert(spark, graphName,
                ups.select(col("key"), col("vec"), col("seed")), "key", "vec", "seed",
                delIds = Some(tombs), delCol = "key"))
            } finally winners.unpersist()
          }
        }.start()

    // closed loop: release a segment, wait for its trigger to commit
    def committed = q.recentProgress.count(_.numInputRows > 0)
    def step(s: Int): Double = {
      val t = System.nanoTime()
      writeSegment(logDir, s, segs(s))
      while (committed <= s && q.exception.isEmpty) Thread.sleep(5)
      q.exception.foreach(e => throw e)
      (System.nanoTime() - t) / 1e9
    }
    step(0) // warm-up
    val setup = (System.currentTimeMillis() - ctx.args.t0Ms) / 1e3 - genTot + genMed
    val gc0 = Ctx.gcMs()
    val times = Iterator.iterate(Vector.empty[Double])(ts => ts :+ step(ts.size + 1))
      .dropWhile(ts => ts.sum < ctx.args.seconds && ts.size + 1 < maxSegments).next()
    val gc = Ctx.gcMs() - gc0
    val rss = Ctx.peakRssMb()
    q.stop()
    val done = times.size + 1

    // every artifact serves exactly the fold's live keys, and an exact
    // flat ANN search equals the brute-force top-k
    val recs = base.map(d => Checks.Rec(d.id.toString, "Insert", 0L, 1, -1L, "")) ++
      segs.take(done).zipWithIndex.flatMap { case (seg, s) => seg.zipWithIndex.map {
        case ((op, d), i) => Checks.Rec(d.id.toString, op, Gen.BaseTs + s * perSegment + i, 1, i.toLong, "") } }
    val fold = Checks.lwwFold(recs.iterator)
    val liveIds = fold.values.filter(_.op != "Delete").map(_.key.toLong).toSet
    val current = liveIds.toSeq.map { id =>
      val f = fold(id.toString)
      // the last written image of the doc: its row in the winning record
      if (f.seq < 0) base(id.toInt)
      else segs(((f.ts - Gen.BaseTs) / perSegment).toInt)(f.seq.toInt)._2
    }
    def ids(table: String) = spark.table(table).select(col("id").cast("long")).distinct()
      .as[Long].collect().toSet
    val served = Seq(s"${textName}_dl", s"${annName}_postings", s"${graphName}_labels").map(ids)
    val wrongKeys = served.map(s => (s -- liveIds) ++ (liveIds -- s)).reduce(_ ++ _)
    val queries = current.sortBy(_.id).take(8)
    val got = Index.searchFlat(spark, annName, docsDf(current), "id", "vec",
      col("id").isin(queries.map(_.id): _*), k, nprobe = lists)
      .as[(Long, Long, Long, Long)].collect().toSeq
    def cos(a: IndexedSeq[Double], b: IndexedSeq[Double]) = {
      val dot = a.indices.map(i => a(i) * b(i)).sum
      dot / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    }
    val want = queries.flatMap { qd =>
      current.filter(_.id != qd.id).map(d => (d.id, cos(qd.vec, d.vec)))
        .sortBy { case (id, c) => (-c, id) }.take(k).zipWithIndex
        .map { case ((id, c), i) => (qd.id, i + 1L, id, math.round(c * 1e6)) }
    }
    val annOk = got.size == want.size && got.sorted.zip(want.sorted).forall {
      case (g, w) => g._1 == w._1 && g._2 == w._2 && g._3 == w._3 && math.abs(g._4 - w._4) <= 1
    }
    if (wrongKeys.nonEmpty || !annOk)
      System.err.println(s"[perfbench] artifact_churn: ${wrongKeys.size} keys served wrong, " +
        s"flat search ${if (annOk) "matches" else s"differs: got ${got.take(5)} want ${want.take(5)}"}")
    val events = times.size.toLong * perSegment
    val failedKeys = wrongKeys.map(_.toString)
    val failed = math.min(events, recs.count(r => failedKeys(r.key)) + (if (annOk) 0 else perSegment).toLong)

    val layers = if (!ctx.args.trace) Map.empty[String, Double] else {
      ctx.settle()
      val ps = q.recentProgress.toSeq.filter(_.numInputRows > 0).drop(1)
      val timedKeys = ps.map(_.batchId.toString).toSet
      def spanMs(name: String) = ctx.spans.filter(s => s.name == name && timedKeys(s.batch))
      val churnGraph = spanMs("artifact.graph").filter(_.batch.toLong >= growthSegments).map(_.ms)
      val third = math.max(1, churnGraph.size / 3)
      Ctx.triggerLayers(ps) ++ Ctx.counterLayers(ctx.counter.get, ps) ++ Map(
        "artifact.text_index_ms" -> Stats.median(spanMs("artifact.text").map(_.ms).toSeq),
        "artifact.ann_index_ms" -> Stats.median(spanMs("artifact.ann").map(_.ms).toSeq),
        "artifact.graph_ms" -> Stats.median(spanMs("artifact.graph").map(_.ms).toSeq),
        "artifact.graph_churn_growth" ->
          Stats.median(churnGraph.takeRight(third).toSeq) / Stats.median(churnGraph.take(third).toSeq),
        "artifact.disk_mb" -> Ctx.sizeMb(artDir),
        "jvm.gc_ms" -> gc)
    }
    val lat = ps0(q).drop(1).flatMap(p =>
      Iterator.fill(p.numInputRows.toInt)(p.durationMs.get("triggerExecution").doubleValue))
    // p99 only once at least ten samples lie beyond it
    val p99 = if (lat.size >= 1000) Map("latency_p99_ms" -> Stats.tail(lat, 0.99)) else Map.empty
    Outcome(failed == 0, events, failed, Map(
      "events_per_s" -> events / times.sum, "latency_p50_ms" -> Stats.median(lat),
      "setup_s" -> setup, "peak_rss_mb" -> rss) ++ p99, layers)
  }

  private def ps0(q: org.apache.spark.sql.streaming.StreamingQuery) =
    q.recentProgress.toSeq.filter(_.numInputRows > 0)
}
