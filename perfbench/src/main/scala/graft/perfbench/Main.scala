package graft.perfbench

import java.io.File

import scala.jdk.CollectionConverters._
import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQueryProgress

/** Benchmark entry point: `Main --workload <name> --seed <n> --seconds
  * <s> --trace <0|1> --work <dir> --t0-ms <epoch ms> [--cores <n>]`, or
  * `Main --selftest`. `run.py` builds the classpath and starts it. The
  * last stdout line is the JSON result; the exit code is non-zero when a
  * correctness check fails.
  */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Int,
      trace: Boolean, work: File, t0Ms: Long, cores: Int)

  /** Per-layer metrics, printed by the traced run. Layers a workload
    * does not exercise read 0.
    */
  val PerLayer: Seq[(String, String)] = Seq(
    "trigger.count" -> "count", "trigger.latest_offset_ms" -> "ms",
    "trigger.query_planning_ms" -> "ms", "trigger.wal_commit_ms" -> "ms",
    "trigger.commit_offsets_ms" -> "ms", "trigger.add_batch_ms" -> "ms",
    "trigger.jobs" -> "count", "trigger.tasks" -> "count",
    "sources.read_ms" -> "ms", "sources.decode_rows_per_s" -> "1/s",
    "sources.read_amplification" -> "ratio", "sources.row_count_scans" -> "count",
    "cdc.transform_ms" -> "ms",
    "state.update_ms" -> "ms", "state.commit_ms" -> "ms",
    "state.rows_updated_per_input" -> "ratio", "state.rows_total" -> "count",
    "state.memory_mb" -> "MB", "shuffle.write_mb" -> "MB",
    "sink.write_ms" -> "ms", "sink.files_written" -> "count",
    "sink.publish_ms" -> "ms", "sink.produce_requests" -> "count",
    "sink.metadata_per_produce" -> "ratio", "sink.records_per_produce" -> "ratio",
    "sink.connections" -> "count",
    "jvm.gc_ms" -> "ms", "gen.lateness_p99_ms" -> "ms", "gen.backlog_end" -> "count")

  /** Printed only by artifact_churn, the workload that fills them. */
  val ArtifactLayers: Seq[(String, String)] = Seq(
    "artifact.text_index_ms" -> "ms", "artifact.ann_index_ms" -> "ms",
    "artifact.graph_ms" -> "ms", "artifact.graph_churn_growth" -> "ratio",
    "artifact.disk_mb" -> "MB")

  val Runs: Map[String, Ctx => Outcome] = Map(
    "binlog_drain" -> Workloads.binlogDrain,
    "lww_backfill" -> Workloads.lwwBackfill,
    "live_tail" -> Workloads.liveTail,
    "artifact_churn" -> Artifacts.churn)

  private def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") == "1", new File(need("work")), need("t0-ms").toLong,
      m.get("cores").map(_.toInt).getOrElse(
        math.max(1, math.min(4, Runtime.getRuntime.availableProcessors()) - 2)))
  }

  def main(argv: Array[String]): Unit = {
    val bad = Checks.selfTest()
    bad.foreach(b => System.err.println(s"[perfbench] self-test failed: $b"))
    if (argv.sameElements(Array("--selftest"))) {
      if (bad.isEmpty) System.err.println("[perfbench] self-test: every checker rejects its corrupted output")
      sys.exit(if (bad.isEmpty) 0 else 1)
    }
    if (bad.nonEmpty) sys.exit(1)
    val a = parse(argv)
    val run = Runs.getOrElse(a.workload, sys.error(s"unknown workload ${a.workload}"))
    require(!a.work.exists() || a.work.list().isEmpty, s"work dir ${a.work} is not empty")
    a.work.mkdirs()
    val spark = Session(a)
    val ctx = new Ctx(spark, a)
    val out = try run(ctx) finally {
      ctx.close()
      spark.stop()
    }
    println(out.json(a.trace))
    if (!out.correct) sys.exit(1)
  }
}

object Session {
  def apply(a: Main.Args): SparkSession = {
    val spark = graft.SessionConf.tuned(SparkSession.builder()
      .master(s"local[${a.cores}]")
      .appName(s"perfbench-${a.workload}")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", a.cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", new File(a.work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(a.work, "warehouse").getPath)
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}

/** What a workload run produced. `e2e` holds the end-to-end metrics,
  * `layers` the per-layer ones (only filled by traced runs).
  */
final case class Outcome(correct: Boolean, attempted: Long, failed: Long,
    e2e: Map[String, Double], layers: Map[String, Double]) {
  def json(trace: Boolean): String = {
    val units = Map("events_per_s" -> "1/s", "latency_p50_ms" -> "ms",
      "latency_p99_ms" -> "ms", "setup_s" -> "s", "peak_rss_mb" -> "MB")
    val ms =
      if (trace) Main.PerLayer.map { case (n, u) => (n, layers.getOrElse(n, 0.0), u) } ++
        Main.ArtifactLayers.collect { case (n, u) if layers.contains(n) => (n, layers(n), u) }
      else Seq("events_per_s", "latency_p50_ms", "latency_p99_ms", "setup_s",
        "peak_rss_mb").collect { case n if e2e.contains(n) => (n, e2e(n), units(n)) }
    def num(v: Double) = if (v.isNaN || v.isInfinite) "0" else BigDecimal(v).toString
    ms.map { case (n, v, u) => s""""$n": {"value": ${num(v)}, "unit": "$u"}""" }
      .mkString(s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {""",
        ", ", "}}")
  }
}

/** Stats helpers. */
object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile; NaN on no samples. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = pos.floor.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  /** p-th quantile reported only with at least ten samples beyond it. */
  def tail(xs: Seq[Double], q: Double): Double = {
    require(xs.size * (1 - q) >= 10, s"${xs.size} samples are too few for p${q * 100}")
    quantile(xs, q)
  }
}

/** Counts jobs, tasks and shuffle bytes per micro-batch, keyed by (query
  * id, batch id) from the local properties Spark sets on every job of a
  * micro-batch. Jobs the benchmark runs only to time a layer carry
  * [[Ctx.ProbeKey]] and are left out.
  */
final class BatchCounter extends SparkListener {
  type Key = (String, String)
  val jobs = mutable.HashMap.empty[Key, Int]
  val tasks = mutable.HashMap.empty[Key, Int]
  val shuffleBytes = mutable.HashMap.empty[Key, Long]
  private val stageKey = mutable.HashMap.empty[Int, Key]

  private def keyOf(p: java.util.Properties): Option[Key] =
    Option(p).filter(_.getProperty(Ctx.ProbeKey) == null).flatMap(p =>
      Option(p.getProperty("streaming.sql.batchId")).map(b =>
        (p.getProperty("sql.streaming.queryId"), b)))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    keyOf(e.properties).foreach(k => jobs.update(k, jobs.getOrElse(k, 0) + 1))
  }
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    keyOf(e.properties).foreach { k =>
      tasks.update(k, tasks.getOrElse(k, 0) + e.stageInfo.numTasks)
      stageKey.update(e.stageInfo.stageId, k)
    }
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (k <- stageKey.get(e.stageId); m <- Option(e.taskMetrics))
      shuffleBytes.update(k, shuffleBytes.getOrElse(k, 0L) + m.shuffleWriteMetrics.bytesWritten)
  }
}

/** One span of the traced run: a layer boundary around one call. */
final case class Span(name: String, batch: String, startNs: Long, endNs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** Run-wide state: session, arguments, fresh directories, the batch
  * counter and the in-memory spans of a traced run.
  */
final class Ctx(val spark: SparkSession, val args: Main.Args) {
  val counter: Option[BatchCounter] =
    if (args.trace) Some(new BatchCounter) else None
  counter.foreach(spark.sparkContext.addSparkListener)
  val spans = mutable.ArrayBuffer.empty[Span]
  private var dirs = 0

  /** A fresh, empty directory under the run's work dir. */
  def freshDir(name: String): File = synchronized {
    dirs += 1
    val d = new File(args.work, f"$name-$dirs%03d")
    require(!d.exists(), s"$d already exists")
    d.mkdirs(); d
  }

  /** Times `f` as a span; `probe` marks its jobs as benchmark-only. */
  def span[A](name: String, batch: String, probe: Boolean = false)(f: => A): A = {
    val sc = spark.sparkContext
    if (probe) sc.setLocalProperty(Ctx.ProbeKey, "1")
    val t = System.nanoTime()
    try f finally {
      spans.synchronized(spans += Span(name, batch, t, System.nanoTime()))
      if (probe) sc.setLocalProperty(Ctx.ProbeKey, null)
    }
  }

  /** Runs `df` to completion without writing anything. */
  def drain(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Waits until the listener bus has delivered every event so far. */
  def settle(): Unit = org.apache.spark.PerfbenchBus.drain(spark.sparkContext)

  /** Spans go to `<build dir>/spans-<workload>.jsonl` at the end of a
    * traced run; the work dir itself is deleted.
    */
  def close(): Unit = if (args.trace) {
    val f = new File(args.work.getParentFile, s"spans-${args.workload}.jsonl")
    val w = new java.io.PrintWriter(f)
    try spans.foreach(s => w.println(
      s"""{"name":"${s.name}","batch":"${s.batch}","start_ns":${s.startNs},"end_ns":${s.endNs}}"""))
    finally w.close()
  }
}

object Ctx {
  val ProbeKey = "perfbench.probe"

  def gcMs(): Double = java.lang.management.ManagementFactory
    .getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.toDouble).sum

  /** Peak resident set of this process (VmHWM), MB. */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024)
      .getOrElse(Double.NaN)
    finally src.close()
  }

  /** Per-trigger medians of Spark's own phase times, over triggers that
    * read data.
    */
  def triggerLayers(ps: Seq[StreamingQueryProgress]): Map[String, Double] = {
    val live = ps.filter(_.numInputRows > 0)
    def phase(k: String) = Stats.median(live.map(p =>
      Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)))
    Map("trigger.count" -> live.size.toDouble,
      "trigger.latest_offset_ms" -> phase("latestOffset"),
      "trigger.query_planning_ms" -> phase("queryPlanning"),
      "trigger.wal_commit_ms" -> phase("walCommit"),
      "trigger.commit_offsets_ms" -> phase("commitOffsets"),
      "trigger.add_batch_ms" -> phase("addBatch"))
  }

  /** Per-trigger medians of the batch counter's jobs, tasks and
    * shuffle MB over the given progress records.
    */
  def counterLayers(c: BatchCounter, ps: Seq[StreamingQueryProgress]): Map[String, Double] = {
    val keys = ps.filter(_.numInputRows > 0).map(p => (p.id.toString, p.batchId.toString))
    c.synchronized(Map(
      "trigger.jobs" -> Stats.median(keys.map(k => c.jobs.getOrElse(k, 0).toDouble)),
      "trigger.tasks" -> Stats.median(keys.map(k => c.tasks.getOrElse(k, 0).toDouble)),
      "shuffle.write_mb" -> Stats.median(keys.map(k => c.shuffleBytes.getOrElse(k, 0L) / 1048576.0))))
  }

  def deleteRecursively(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).foreach(deleteRecursively)
    f.delete()
  }

  def sizeMb(f: File): Double = {
    def bytes(f: File): Long =
      if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).map(bytes).sum else f.length()
    bytes(f) / 1048576.0
  }
}
