package graft

import org.apache.spark.sql.SparkSession

import graft.streaming.LocalCheckpointFiles

/** The one session every entry point (Bench, Verify, ScaleGen, Plans,
  * Probe) runs on, and the scale-adaptive tuning it applies — guide
  * §2.2 / §2.4 and the round-18 brief's "make partitioning
  * scale-adaptive (AQE coalescing / derive from input size) rather
  * than a constant tuned for either local mode or the cluster".
  *
  * `spark.sql.shuffle.partitions` stays at the core count (the upper
  * bound AQE starts from), but AQE's partition COALESCING is switched
  * from parallelism-first to SIZE-first
  * (`coalescePartitions.parallelismFirst=false`, the setting Spark's
  * own SQL-performance docs recommend): post-shuffle partitions are
  * sized to `advisoryPartitionSizeInBytes` (default 64m, Spark's
  * default) regardless of core count.
  *
  * Why this is the 100 TB shape and not a local[32] trick: at sf0.1 a
  * typical exchange here carries kilobytes — parallelism-first keeps
  * up to 32 one-row partitions per exchange and the suite becomes
  * pure task-scheduling overhead (PERF_r17 measured several queries
  * FASTER at 8 cores than 32: q_pipe_cdc_all 0.25×, q_pipe_cdc_graph
  * 0.4×, q_text_index_phrase_upd 0.51×). At 100 TB the same setting
  * yields ~64 MB post-shuffle partitions — hundreds to thousands of
  * them — i.e. the partition count DERIVES from data size at every
  * scale instead of from whichever constant the session started with.
  * Both knobs stay env-overridable so the driver's bench point is
  * reproducible and the production value is a conf, not a code edit.
  *
  * [[tuned]] also installs [[CheckpointFiles]], the streaming
  * checkpoint file manager: every offset log, commit log, state-store
  * delta and snapshot of a streaming query is written through it.
  * Spark's default manager forks `chmod` and `readlink` for each such
  * file on a local filesystem without `libhadoop`, and those forks
  * were most of a small trigger's commit time. The manager takes over
  * only `file:` paths on Hadoop's `LocalFileSystem`; every other
  * scheme keeps the manager Spark picks.
  */
object SessionConf {

  /** `SPARK_GRAFT_CPUS`, or the entry point's own default core count. */
  def cpus(default: Int): String =
    sys.env.getOrElse("SPARK_GRAFT_CPUS", default.toString)

  /** `local[cpus]` with as many shuffle partitions, UTC, UI off,
    * [[tuned]], log level WARN. `conf` adds static settings an entry
    * point needs before the session starts.
    */
  def session(defaultCpus: Int, conf: (String, String)*): SparkSession = {
    val n = cpus(defaultCpus)
    val spark = tuned(conf.foldLeft(SparkSession.builder()
      .master(s"local[$n]")
      .config("spark.sql.shuffle.partitions", n)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")) { case (b, (k, v)) =>
        b.config(k, v)
      }).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** The builder setting that installs [[LocalCheckpointFiles]]; every
    * session of the program and its tests carries it.
    */
  val CheckpointFiles: (String, String) =
    LocalCheckpointFiles.Key -> classOf[LocalCheckpointFiles].getName

  def tuned(b: SparkSession.Builder): SparkSession.Builder = {
    val base = b
      .config(CheckpointFiles._1, CheckpointFiles._2)
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst",
        sys.env.getOrElse("SPARK_GRAFT_AQE_PARALLELISM_FIRST", "false"))
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes",
        sys.env.getOrElse("SPARK_GRAFT_AQE_ADVISORY", "64m"))
    // free-form overrides for measurement experiments
    // ("k=v;k2=v2" — empty by default; applied last so a sweep can
    // A/B any conf without a recompile)
    sys.env.get("SPARK_GRAFT_SQL_CONF").toSeq
      .flatMap(_.split(";")).map(_.trim).filter(_.contains("="))
      .foldLeft(base) { (bb, kv) =>
        val Array(k, v) = kv.split("=", 2)
        bb.config(k.trim, v.trim)
      }
  }
}
