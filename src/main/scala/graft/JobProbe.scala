package graft

import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** Round-17 optimization instrument: per-query Spark JOB / STAGE /
  * TASK counts next to wall time. At the bench's scale (sf0.1 is tens
  * of MB) queries are overhead-bound, not byte-bound — the number of
  * scheduled jobs (driver loops, localCheckpoints, staging writes,
  * collects) and stages (exchanges) is the cost model, and this probe
  * is how "which query burns its seconds on scheduling?" gets a
  * number instead of a guess (guide §1: measure first).
  *
  * Usage: `runMain graft.JobProbe q_name [q_name...]` — two reps per
  * query (cold incl. codegen, then warm), printing
  * `[probe] <name> repN <sec> jobs=J stages=S tasks=T`.
  */
object JobProbe {
  def main(args: Array[String]): Unit = {
    // honor the bench's core-count contract so probe numbers are
    // comparable to bench numbers (ADVICE r17)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SessionConf.tuned(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val jobs = new AtomicInteger(0)
    val stages = new AtomicInteger(0)
    val tasks = new AtomicLong(0L)
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
        stages.incrementAndGet()
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
        tasks.incrementAndGet()
    })
    // warmup, untimed (JVM/codegen/JCE init)
    SparkEntry.queries("q_cdc_changes")(spark, dir)
      .write.mode("overwrite").format("noop").save()
    for (n <- args; rep <- 1 to 2) {
      if (rep == 1) { spark.catalog.clearCache(); System.gc() }
      // let in-flight listener events drain so counts attribute cleanly
      Thread.sleep(300)
      val (j0, s0, t0) = (jobs.get, stages.get, tasks.get)
      val w0 = System.nanoTime()
      SparkEntry.queries(n)(spark, dir)
        .write.mode("overwrite").format("noop").save()
      val sec = (System.nanoTime() - w0) / 1e9
      Thread.sleep(300)
      println(f"[probe] $n rep$rep $sec%.2f s jobs=${jobs.get - j0} " +
        f"stages=${stages.get - s0} tasks=${tasks.get - t0}")
    }
    spark.stop()
  }
}
