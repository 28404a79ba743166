package graft.perfbench

import java.io.{File, FileOutputStream}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress, Trigger}

import graft.cdc.Transforms
import graft.sources.{Binlog, ChangeLog}
import graft.streaming.{KafkaWire, LwwMerge, Pipeline, Sink}

/** The stream workloads. Each gives most of its work to one layer:
  * binlog_drain to decode and transform, lww_backfill to the LWW state
  * store, live_tail to per-trigger fixed costs and the publish path.
  */
object Workloads {

  /** The routing prefix of the reference's shipped topic script. */
  val TopicPrefix = "projects/my-project-id/topics/all_pims."

  /** Generates the same inputs three times into fresh directories and
    * keeps the last: (dir, result, median seconds, total seconds).
    */
  def generate[A](ctx: Ctx, name: String)(gen: File => A): (File, A, Double, Double) = {
    val runs = (1 to 3).map { _ =>
      val d = ctx.freshDir(name)
      val t = System.nanoTime()
      val a = gen(d)
      (d, a, (System.nanoTime() - t) / 1e9)
    }
    runs.init.foreach(r => Ctx.deleteRecursively(r._1))
    val secs = runs.map(_._3)
    (runs.last._1, runs.last._2, Stats.median(secs), secs.sum)
  }

  /** One closed-loop round: a full drain of the generated log. */
  final case class Round(events: Long, startMs: Long, seconds: Double, failed: Long,
      progress: Seq[StreamingQueryProgress])

  /** Runs one untimed warm-up round, then whole rounds until their
    * summed time reaches the run length. Setup counts from the JVM
    * launch to the first timed round, with the repeated input
    * generation counted once at its median.
    */
  def closedLoop(ctx: Ctx, genMedian: Double, genTotal: Double)(round: () => Round)
      : (Seq[Round], Double, Double, Double) = {
    val warm = round()
    System.err.println(f"[perfbench] warm-up round: ${warm.events} events in ${warm.seconds}%.2f s")
    val setup = (System.currentTimeMillis() - ctx.args.t0Ms) / 1e3 - genTotal + genMedian
    val gc0 = Ctx.gcMs()
    val rounds = Iterator.iterate(Seq.empty[Round])(rs => rs :+ round())
      .dropWhile(rs => rs.map(_.seconds).sum < ctx.args.seconds).next()
    val (events, secs) = (rounds.map(_.events).sum, rounds.map(_.seconds).sum)
    System.err.println(f"[perfbench] ${rounds.size} timed rounds: $events events in $secs%.2f s, ${events / secs}%.1f events/s drain-wide")
    (rounds, setup, Ctx.gcMs() - gc0, Ctx.peakRssMb())
  }

  /** End-to-end metrics of closed-loop rounds. The rate is the median
    * over triggers of rows per second of trigger time, the sustained
    * rate. An event's latency runs, as on live_tail, from when it was
    * available to when it was committed at the sink: a drain's whole log
    * is available when its query starts, so that is the start of the
    * round to the end of the trigger that carried the event. Each
    * percentile is taken per round, over that round's events, and
    * reported as the median over rounds, so one round caught by a
    * stall of the machine does not set the run's figure.
    */
  def closedE2e(rounds: Seq[Round], setup: Double, rss: Double): Map[String, Double] = {
    val ps = rounds.flatMap(_.progress).filter(_.numInputRows > 0)
    val lat = rounds.map(r => r.progress.filter(_.numInputRows > 0).flatMap { p =>
      val commit = java.time.Instant.parse(p.timestamp).toEpochMilli +
        p.durationMs.get("triggerExecution").longValue
      Iterator.fill(p.numInputRows.toInt)((commit - r.startMs).toDouble)
    })
    Map("events_per_s" -> Stats.median(ps.map(p =>
        p.numInputRows * 1e3 / p.durationMs.get("triggerExecution").doubleValue)),
      "latency_p50_ms" -> Stats.median(lat.map(Stats.median)),
      "latency_p99_ms" -> Stats.median(lat.map(Stats.tail(_, 0.99))),
      "setup_s" -> setup, "peak_rss_mb" -> rss)
  }

  private def streamDir(ctx: Ctx, dir: File, maxRows: Option[Int]): DataFrame = {
    val r = ctx.spark.readStream.format("graft-changelog").option("path", dir.getPath)
    maxRows.fold(r)(n => r.option("maxRowsPerTrigger", n.toLong)).load()
  }

  private def batchKey(b: DataFrame, bid: Long): String =
    s"${b.sparkSession.sparkContext.getLocalProperty("sql.streaming.queryId")}/$bid"

  private def await(q: StreamingQuery, events: Long): Long =
    try { q.awaitTermination(); 0L }
    catch { case e: Exception =>
      System.err.println(s"[perfbench] query failed: $e"); events
    }

  private def parquetFiles(d: File): Int =
    if (!d.exists()) 0
    else java.nio.file.Files.walk(d.toPath).iterator().asScala
      .count(_.getFileName.toString.endsWith(".parquet"))

  private def keysOf(ps: Seq[StreamingQueryProgress]): Set[String] =
    ps.filter(_.numInputRows > 0).map(p => s"${p.id}/${p.batchId}").toSet

  /** Span times by batch, for the given batches only. */
  private def spansOf(ctx: Ctx, name: String, keys: Set[String]): Map[String, Double] =
    ctx.spans.synchronized(ctx.spans.filter(s => s.name == name && keys(s.batch))
      .map(s => s.batch -> s.ms).toMap)

  /** Self time per batch: the outer span minus the inner one. */
  private def selfMs(ctx: Ctx, outer: String, inner: String, keys: Set[String]): Seq[Double] = {
    val in = spansOf(ctx, inner, keys)
    spansOf(ctx, outer, keys).map { case (b, ms) => ms - in.getOrElse(b, 0.0) }.toSeq
  }

  /** addBatch per trigger minus the time the benchmark's probes took in
    * it.
    */
  private def addBatchMs(ctx: Ctx, ps: Seq[StreamingQueryProgress]): Double = {
    val probe = ctx.spans.synchronized(ctx.spans.filter(_.name.startsWith("probe."))
      .groupBy(_.batch).map { case (b, ss) => b -> ss.map(_.ms).sum })
    Stats.median(ps.filter(_.numInputRows > 0).map(p =>
      p.durationMs.get("addBatch").doubleValue - probe.getOrElse(s"${p.id}/${p.batchId}", 0.0)))
  }

  // --------------------------------------------------- binlog_drain

  val binlogDrain: Ctx => Outcome = ctx => {
    import ctx.spark
    val (segments, rowsPerSegment, maxRows) = (2, 15000, 3000)
    val (logDir, changes, genMed, genTot) = generate(ctx, "binlog")(d =>
      Gen.binlogDrain(d, ctx.args.seed, segments, rowsPerSegment))
    val expected = changes.filter(_.tbl.db != "audit").map(c =>
      (TopicPrefix + c.tbl.name,
        Checks.bigQueryPayload(c.op, c.tbl.db, (if (c.op == "Delete") c.before else c.after).get.image)))
    val files = scala.collection.concurrent.TrieMap.empty[String, Double]
    var scans = 0L
    def sinkTo(out: File)(b: DataFrame): Unit =
      b.write.mode("append").partitionBy("topic").parquet(out.getPath)
    def round(): Round = {
      val out = ctx.freshDir("drain-out")
      val ck = ctx.freshDir("drain-ck")
      val raw = streamDir(ctx, logDir, Some(maxRows))
      val w =
        if (!ctx.args.trace)
          Pipeline.transformed(raw, Gen.DrainRegex, Transforms.BigQueryCdc).writeStream
            .foreachBatch((b: DataFrame, _: Long) => sinkTo(out)(b))
        else raw.writeStream.foreachBatch { (b: DataFrame, bid: Long) =>
          val key = batchKey(b, bid)
          def transformed = Pipeline.transformed(b, Gen.DrainRegex, Transforms.BigQueryCdc)
          ctx.span("probe.read", key, probe = true)(ctx.drain(b))
          ctx.span("probe.transform", key, probe = true)(ctx.drain(transformed))
          val before = parquetFiles(out)
          ctx.span("sink", key)(sinkTo(out)(transformed))
          files.update(key, (parquetFiles(out) - before).toDouble)
        }
      val scans0 = ChangeLog.scansPerformed.get()
      val startMs = System.currentTimeMillis()
      val t = System.nanoTime()
      val q = w.trigger(Trigger.AvailableNow()).option("checkpointLocation", ck.getPath).start()
      val lost = await(q, changes.size)
      val secs = (System.nanoTime() - t) / 1e9
      scans += ChangeLog.scansPerformed.get() - scans0
      val got = spark.read.parquet(out.getPath).select("topic", "payload").collect()
        .map(r => (r.getString(0), r.getString(1)))
      val (missing, extra) = Checks.unmatched(expected, got)
      if (missing + extra > 0)
        System.err.println(s"[perfbench] binlog_drain: $missing events missing or wrong, $extra unexpected")
      Seq(out, ck).foreach(Ctx.deleteRecursively)
      Round(changes.size, startMs, secs, math.min(changes.size, math.max(lost, missing + extra)), q.recentProgress.toSeq)
    }
    val (rounds, setup, gc, rss) = closedLoop(ctx, genMed, genTot)(() => round())
    val layers = if (!ctx.args.trace) Map.empty[String, Double] else {
      ctx.settle()
      val ps = rounds.flatMap(_.progress)
      // Binlog.decodeFile alone over the same segments
      val bytes = ChangeLog.listLogFiles(logDir.getPath).map(f => java.nio.file.Files.readAllBytes(f.toPath))
      val decode = (1 to 3).map { _ =>
        val t = System.nanoTime()
        val n = bytes.map(b => Binlog.decodeFile(b).changes.size).sum
        n / ((System.nanoTime() - t) / 1e9)
      }
      val keys = keysOf(ps)
      val read = spansOf(ctx, "probe.read", keys).values.toSeq
      // numInputRows counts every re-execution of the batch: use the log
      val served = rounds.map(_.events).sum.toDouble
      val decodeRate = Stats.median(decode)
      Ctx.triggerLayers(ps) ++ Ctx.counterLayers(ctx.counter.get, ps) ++ Map(
        "trigger.add_batch_ms" -> addBatchMs(ctx, ps),
        "sources.read_ms" -> Stats.median(read),
        "sources.decode_rows_per_s" -> decodeRate,
        "sources.read_amplification" -> (read.sum / 1e3 / served) * decodeRate,
        "sources.row_count_scans" -> scans.toDouble / (rounds.size + 1),
        "cdc.transform_ms" -> Stats.median(selfMs(ctx, "probe.transform", "probe.read", keys)),
        "sink.write_ms" -> Stats.median(selfMs(ctx, "sink", "probe.transform", keys)),
        "sink.files_written" -> Stats.median(files.filter(f => keys(f._1)).values.toSeq),
        "jvm.gc_ms" -> gc)
    }
    outcome(rounds, setup, rss, layers)
  }

  // --------------------------------------------------- lww_backfill

  val lwwBackfill: Ctx => Outcome = ctx => {
    import ctx.spark
    import spark.implicits._
    val (segments, lines, keys) = (6, 2000, 1500)
    val (logDir, log, genMed, genTot) = generate(ctx, "lww")(d =>
      Gen.lwwLog(d, ctx.args.seed, segments, lines, keys))
    val expected = Checks.lwwFold(log.iterator)
    val keyEvents = log.groupBy(_.key).map { case (k, rs) => k -> rs.size.toLong }
    def round(): Round = {
      val ck = ctx.freshDir("lww-ck")
      val raw = streamDir(ctx, logDir, Some(lines))
      val id = coalesce(get_json_object(col("after"), "$.id"), get_json_object(col("before"), "$.id"))
      val keyed = raw.select(concat_ws(".", col("db"), col("table"), id).as("key"), col("op"),
        col("ts").cast("long").as("ts_sec"), col("seq"),
        when(col("op") === "Backfill", 0).otherwise(1).as("precedence"),
        coalesce(col("after"), lit("")).as("payload")).as[LwwMerge.KeyedChange]
      val last = scala.collection.mutable.HashMap.empty[String, LwwMerge.KeyedChange]
      def sink(b: Dataset[LwwMerge.KeyedChange]): Unit =
        b.collect().foreach(c => last.update(c.key, c))
      val q = LwwMerge.merge(keyed).writeStream.outputMode("update")
        .foreachBatch { (b: Dataset[LwwMerge.KeyedChange], bid: Long) =>
          if (ctx.args.trace) ctx.span("sink", batchKey(b.toDF(), bid))(sink(b)) else sink(b)
        }
        .trigger(Trigger.AvailableNow()).option("checkpointLocation", ck.getPath)
      val startMs = System.currentTimeMillis()
      val t = System.nanoTime()
      val started = q.start()
      val lost = await(started, log.size)
      val secs = (System.nanoTime() - t) / 1e9
      val got = last.map { case (k, c) =>
        k -> Checks.Rec(k, c.op, c.ts_sec, c.precedence, c.seq, c.payload) }.toMap
      val bad = Checks.lwwMismatches(expected, got)
      if (bad.nonEmpty)
        System.err.println(s"[perfbench] lww_backfill: ${bad.size} keys end wrong, e.g. ${bad.take(3)}")
      Ctx.deleteRecursively(ck)
      val failed = math.max(lost, bad.toSeq.map(k => keyEvents.getOrElse(k, 1L)).sum)
      Round(log.size, startMs, secs, math.min(log.size, failed), started.recentProgress.toSeq)
    }
    val (rounds, setup, gc, rss) = closedLoop(ctx, genMed, genTot)(() => round())
    val layers = if (!ctx.args.trace) Map.empty[String, Double] else {
      ctx.settle()
      val ps = rounds.flatMap(_.progress).filter(_.numInputRows > 0)
      val ops = ps.flatMap(_.stateOperators.headOption)
      val ends = rounds.flatMap(_.progress.lastOption).flatMap(_.stateOperators.headOption)
      Ctx.triggerLayers(ps) ++ Ctx.counterLayers(ctx.counter.get, ps) ++ Map(
        "state.update_ms" -> Stats.median(ops.map(_.allUpdatesTimeMs.toDouble)),
        "state.commit_ms" -> Stats.median(ops.map(_.commitTimeMs.toDouble)),
        "state.rows_updated_per_input" ->
          ops.map(_.numRowsUpdated).sum.toDouble / ps.map(_.numInputRows).sum,
        "state.rows_total" -> Stats.median(ends.map(_.numRowsTotal.toDouble)),
        "state.memory_mb" -> Stats.median(ends.map(_.memoryUsedBytes / 1048576.0)),
        "sink.write_ms" -> Stats.median(spansOf(ctx, "sink", keysOf(ps)).values.toSeq),
        "jvm.gc_ms" -> gc)
    }
    outcome(rounds, setup, rss, layers)
  }

  private def outcome(rounds: Seq[Round], setup: Double, rss: Double,
      layers: Map[String, Double]): Outcome = {
    val failed = rounds.map(_.failed).sum
    Outcome(failed == 0, rounds.map(_.events).sum, failed, closedE2e(rounds, setup, rss), layers)
  }

  // ------------------------------------------------------ live_tail

  val liveTail: Ctx => Outcome = ctx => {
    val (rate, warmS, perSegment, partitions) = (200, 4, 1000, 3)
    val warmN = rate * warmS
    val total = warmN + rate * ctx.args.seconds
    val (_, events, genMed, genTot) = generate(ctx, "live-schedule") { _ =>
      val s = new Gen.LiveSchedule(ctx.args.seed)
      (0 until total).map(n => s.next(n.toLong))
    }
    val broker = new Broker(partitions)
    val bs = s"127.0.0.1:${broker.port}"
    val logDir = ctx.freshDir("live-log")
    val ck = ctx.freshDir("live-ck")
    val raw = streamDir(ctx, logDir, None)
    val q =
      if (!ctx.args.trace) KafkaWire.wireSink(raw, ck.getPath, Some(bs)).get
      else raw.writeStream.option("checkpointLocation", ck.getPath)
        .foreachBatch { (b: DataFrame, bid: Long) =>
          // the body of KafkaWire.wireSink, with the source read and the
          // transform timed on their own first
          val key = batchKey(b, bid)
          ctx.span("probe.read", key, probe = true)(ctx.drain(b))
          ctx.span("probe.transform", key, probe = true)(ctx.drain(Sink.kafkaFrame(b)))
          ctx.span("sink", key) {
            if (!b.isEmpty)
              KafkaWire.publishFrame(Sink.kafkaFrame(b), bs, KafkaWire.batchCreateTime(b))
          }
        }.start()
    // the open-loop generator: event n is due at start + n / rate and is
    // appended to the active segment with one write
    val start = Clock.nowUs() + 1000000L
    def due(n: Int): Long = start + n * 1000000L / rate
    val written = new Array[Long](total)
    @volatile var timedMarks = (0L, Array(0L, 0L, 0L), 0.0)
    val gen = new Thread(() => {
      var out: FileOutputStream = null
      try for (n <- 0 until total) {
        if (n % perSegment == 0) {
          if (out != null) out.close()
          out = new FileOutputStream(new File(logDir, f"live.${n / perSegment}%06d.jsonl"), true)
        }
        if (n == warmN) timedMarks = (ChangeLog.scansPerformed.get(),
          Array(broker.produceRequests.get(), broker.metadataRequests.get(), broker.records.get()),
          Ctx.gcMs())
        val wait = due(n) - Clock.nowUs()
        if (wait > 0) java.util.concurrent.locks.LockSupport.parkNanos(wait * 1000L)
        val (e, id) = events(n)
        out.write(Gen.liveLine(e, id, due(n)).getBytes("UTF-8"))
        written(n) = Clock.nowUs()
      } finally if (out != null) out.close()
    }, "perfbench-generator")
    gen.start()
    gen.join()
    val tEnd = Clock.nowUs()
    val endMarks = (ChangeLog.scansPerformed.get(),
      Array(broker.produceRequests.get(), broker.metadataRequests.get(), broker.records.get()),
      Ctx.gcMs())
    val rss = Ctx.peakRssMb()
    val deadline = System.nanoTime() + 30000000000L
    while (broker.records.get() < total && System.nanoTime() < deadline && q.exception.isEmpty)
      Thread.sleep(20)
    val qError = q.exception
    q.stop()
    broker.close()
    qError.foreach(e => System.err.println(s"[perfbench] live_tail query failed: $e"))
    broker.error.foreach(e => System.err.println(s"[perfbench] broker failed: $e"))
    val arrivals = broker.arrivals.asScala.toSeq
    val failedNs = Checks.liveFailures(events.map(_._1), arrivals.map(_._2), TopicPrefix, partitions)
    if (failedNs.nonEmpty)
      System.err.println(s"[perfbench] live_tail: ${failedNs.size} events missing or wrong")
    val arrivedAt = arrivals.groupBy(_._2.n).map { case (n, as) => n -> as.map(_._1).min }
    val timed = (warmN until total).filter(n => arrivedAt.contains(n.toLong))
    // percentiles per 5 s window of due times (1000 events), reported as
    // the median over windows, as the closed loops do per round
    val windows = timed.groupBy(n => (n - warmN) / (5 * rate)).values
      .filter(_.size >= 1000).map(_.map(n => (arrivedAt(n.toLong) - due(n)) / 1e3)).toSeq
    val e2e = Map(
      "events_per_s" -> timed.size / ((timed.map(n => arrivedAt(n.toLong)).max - due(warmN)) / 1e6),
      "latency_p50_ms" -> Stats.median(windows.map(Stats.median)),
      "latency_p99_ms" -> Stats.median(windows.map(Stats.tail(_, 0.99))),
      "setup_s" -> ((due(warmN) / 1000L - ctx.args.t0Ms) / 1e3 - genTot + genMed),
      "peak_rss_mb" -> rss)
    System.err.println(f"[perfbench] latency p50 ${e2e("latency_p50_ms")}%.1f ms, p99 ${e2e("latency_p99_ms")}%.1f ms")
    val layers = if (!ctx.args.trace) Map.empty[String, Double] else {
      ctx.settle()
      val t0 = java.time.Instant.ofEpochMilli(due(warmN) / 1000L)
      val ps = q.recentProgress.toSeq.filter(p =>
        p.numInputRows > 0 && !java.time.Instant.parse(p.timestamp).isBefore(t0))
      val keys = keysOf(ps)
      val Array(produce, meta, recs) = endMarks._2.zip(timedMarks._2).map { case (a, b) => (a - b).toDouble }
      Ctx.triggerLayers(ps) ++ Ctx.counterLayers(ctx.counter.get, ps) ++ Map(
        "trigger.add_batch_ms" -> addBatchMs(ctx, ps),
        "sources.read_ms" -> Stats.median(spansOf(ctx, "probe.read", keys).values.toSeq),
        "sources.row_count_scans" -> (endMarks._1 - timedMarks._1).toDouble,
        "cdc.transform_ms" -> Stats.median(selfMs(ctx, "probe.transform", "probe.read", keys)),
        "sink.publish_ms" -> Stats.median(selfMs(ctx, "sink", "probe.transform", keys)),
        "sink.produce_requests" -> produce,
        "sink.metadata_per_produce" -> meta / produce,
        "sink.records_per_produce" -> recs / produce,
        "sink.connections" -> broker.connections.get().toDouble,
        "jvm.gc_ms" -> (endMarks._3 - timedMarks._3),
        "gen.lateness_p99_ms" -> Stats.tail((warmN until total).map(n => (written(n) - due(n)) / 1e3), 0.99),
        "gen.backlog_end" -> (warmN until total).count(n => arrivedAt.get(n.toLong).forall(_ > tEnd)).toDouble)
    }
    val failed = failedNs.size.toLong
    Outcome(failed == 0 && broker.error.isEmpty && qError.isEmpty, total, failed, e2e, layers)
  }
}
