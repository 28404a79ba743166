package graft

import java.nio.file.{Files, Path => JPath}
import java.util.concurrent.{ConcurrentLinkedQueue, CyclicBarrier, Executors, TimeUnit}

import scala.jdk.CollectionConverters._
import scala.util.Try

import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumException, FileAlreadyExistsException, FileSystem, Path, RawLocalFileSystem}
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager, FileContextBasedCheckpointFileManager}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import graft.cdc.ChangeOp
import graft.streaming.{LocalCheckpointFiles, LwwMerge}
import graft.streaming.LwwMerge.KeyedChange

/** The checkpoint file manager every session runs its streams on: the
  * files it writes are the ones Hadoop's `LocalFileSystem` writes, its
  * publish keeps the no-clobber and overwrite contracts, checkpoints
  * move between it and Spark's default manager in both directions,
  * and it commits without forking a process.
  */
class LocalCheckpointFilesSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val conf = new Configuration()

  private def tempDir(prefix: String): JPath = Files.createTempDirectory(prefix)
  private def hpath(p: JPath): Path = new Path(p.toUri)
  private def files(dir: JPath): Set[String] =
    Files.list(dir).iterator().asScala.map(_.getFileName.toString).toSet
  private def bytes(p: JPath): Seq[Byte] = Files.readAllBytes(p).toSeq
  private def crcOf(p: JPath): JPath = p.resolveSibling(s".${p.getFileName}.crc")
  private def payload(n: Int, seed: Int): Array[Byte] = {
    val r = new scala.util.Random(seed)
    Array.fill(n)(r.nextInt().toByte)
  }

  /** The java.nio manager for `dir`, checked to be that one. */
  private def nio(dir: JPath): CheckpointFileManager = {
    val m = new LocalCheckpointFiles(hpath(dir), conf)
    assert(m.manager.getClass.getName == classOf[LocalCheckpointFiles].getName + "$Nio",
      hpath(dir).getFileSystem(conf).getClass)
    m
  }

  private def write(m: CheckpointFileManager, p: Path, data: Array[Byte], overwrite: Boolean): Unit = {
    val out = m.createAtomic(p, overwrite)
    out.write(data)
    out.close()
  }

  test("data and .crc bytes equal what LocalFileSystem writes, and read back") {
    val ours = tempDir("lcf_ours")
    val hadoops = tempDir("lcf_hadoop")
    val m = nio(ours)
    // a fresh instance: the shared cached one may have had its checksum writes switched off
    val local = FileSystem.newInstance(java.net.URI.create("file:///"), conf)
    for ((n, overwrite) <- Seq(0, 1, 511, 512, 513, 70000).zip(Iterator.continually(Seq(false, true)).flatten)) {
      val data = payload(n, n)
      val name = s"$n.delta"
      write(m, hpath(ours.resolve(name)), data, overwrite)
      val h = local.create(hpath(hadoops.resolve(name)))
      h.write(data)
      h.close()
      assert(bytes(ours.resolve(name)) == data.toSeq, name)
      assert(bytes(crcOf(ours.resolve(name))) == bytes(crcOf(hadoops.resolve(name))), name)
      val in = m.open(hpath(ours.resolve(name)))
      try assert(in.readAllBytes().toSeq == data.toSeq, name) finally in.close()
    }
    local.close()
    assert(files(ours) == files(hadoops))
    assert(m.list(hpath(ours)).map(_.getPath.getName).toSet ==
      Set(0, 1, 511, 512, 513, 70000).map(n => s"$n.delta"), "listings hide .crc")
  }

  test("one flipped data byte fails the read with ChecksumException") {
    val dir = tempDir("lcf_flip")
    val m = nio(dir)
    val f = dir.resolve("7")
    write(m, hpath(f), payload(2000, 7), overwrite = false)
    val raw = Files.readAllBytes(f)
    raw(1000) = (raw(1000) ^ 1).toByte
    Files.write(f, raw)
    val in = m.open(hpath(f))
    try intercept[ChecksumException](in.readAllBytes()) finally in.close()
  }

  test("no-clobber on an existing file throws FileAlreadyExistsException and leaves it as it was") {
    val dir = tempDir("lcf_noclobber")
    val m = nio(dir)
    val f = dir.resolve("0")
    write(m, hpath(f), payload(700, 1), overwrite = false)
    val (before, beforeCrc, names) = (bytes(f), bytes(crcOf(f)), files(dir))
    intercept[FileAlreadyExistsException](write(m, hpath(f), payload(900, 2), overwrite = false))
    assert(bytes(f) == before && bytes(crcOf(f)) == beforeCrc)
    assert(files(dir) == names, "no temp file left behind")
    // overwrite replaces both files
    write(m, hpath(f), payload(900, 2), overwrite = true)
    assert(bytes(f) == payload(900, 2).toSeq && files(dir) == names)
    val in = m.open(hpath(f))
    try assert(in.readAllBytes().toSeq == payload(900, 2).toSeq) finally in.close()
  }

  test("two racing no-clobber writers: exactly one wins, and its bytes verify") {
    val dir = tempDir("lcf_race")
    val m = nio(dir)
    val pool = Executors.newFixedThreadPool(2)
    try {
      for (round <- 0 until 20) {
        val f = hpath(dir.resolve(round.toString))
        val barrier = new CyclicBarrier(2)
        val outcomes = (0 until 2).map { w =>
          pool.submit(() => Try {
            val out = m.createAtomic(f, false)
            out.write(payload(600 + w, w))
            barrier.await(30, TimeUnit.SECONDS)
            out.close()
            w
          })
        }.map(_.get(60, TimeUnit.SECONDS))
        val winners = outcomes.flatMap(_.toOption)
        assert(winners.size == 1, s"round $round: $outcomes")
        assert(outcomes.flatMap(_.failed.toOption)
          .forall(_.isInstanceOf[FileAlreadyExistsException]), s"round $round: $outcomes")
        val in = m.open(f)
        try assert(in.readAllBytes().toSeq == payload(600 + winners.head, winners.head).toSeq)
        finally in.close()
      }
      assert(files(dir) == (0 until 20).flatMap(r => Seq(r.toString, s".$r.crc")).toSet)
    } finally pool.shutdownNow()
  }

  test("cancel() leaves the directory unchanged") {
    val dir = tempDir("lcf_cancel")
    val m = nio(dir)
    write(m, hpath(dir.resolve("1")), payload(10, 1), overwrite = false)
    val before = files(dir)
    for (overwrite <- Seq(false, true)) {
      val out = m.createAtomic(hpath(dir.resolve("2")), overwrite)
      out.write(payload(5000, 2))
      out.cancel()
      out.close()
      assert(files(dir) == before)
    }
  }

  test("the session installs it; a path off LocalFileSystem gets Spark's default manager") {
    val sessionConf = spark.sessionState.newHadoopConf()
    assert(sessionConf.get(LocalCheckpointFiles.Key) == classOf[LocalCheckpointFiles].getName)
    val dir = tempDir("lcf_scope")
    assert(CheckpointFileManager.create(hpath(dir), sessionConf).isInstanceOf[LocalCheckpointFiles])

    val raw = new Configuration(sessionConf)
    raw.set("fs.rawtest.impl", classOf[RawLocalFileSystem].getName)
    raw.setBoolean("fs.rawtest.impl.disable.cache", true)
    val p = new Path(s"rawtest://${dir.toUri.getPath}")
    val spark4 = new Configuration(raw)
    spark4.unset(LocalCheckpointFiles.Key)
    val expected = CheckpointFileManager.create(p, spark4)
    val m = CheckpointFileManager.create(p, raw).asInstanceOf[LocalCheckpointFiles]
    assert(m.manager.getClass == expected.getClass)
    assert(!m.manager.getClass.getName.startsWith("graft."))
  }

  /** `jdk.ProcessStart` events with an `org.apache.hadoop.fs` frame
    * while `body` runs. (JDK 17's `RecordingStream` cannot be stopped
    * with its events flushed, so a dumped `Recording` is read instead.)
    */
  private def hadoopFsForks(body: => Unit): Int = {
    val rec = new Recording()
    rec.enable("jdk.ProcessStart").withStackTrace()
    rec.start()
    try body finally rec.stop()
    val dump = Files.createTempFile("forks", ".jfr")
    try {
      rec.dump(dump)
      RecordingFile.readAllEvents(dump).asScala.count(e =>
        Option(e.getStackTrace).exists(_.getFrames.asScala
          .exists(_.getMethod.getType.getName.startsWith("org.apache.hadoop.fs"))))
    } finally {
      rec.close()
      Files.delete(dump)
    }
  }

  /** Runs `body` with the session's checkpoint file manager set to `cls`. */
  private def withManager[T](cls: String)(body: => T): T = {
    spark.conf.set(LocalCheckpointFiles.Key, cls)
    try body finally spark.conf.set(LocalCheckpointFiles.Key, classOf[LocalCheckpointFiles].getName)
  }
  private val SparkDefault = classOf[FileContextBasedCheckpointFileManager].getName
  private val Ours = classOf[LocalCheckpointFiles].getName

  private def threeTriggerLww(name: String): Unit = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[KeyedChange]
    val q = LwwMerge.merge(input.toDS())
      .writeStream.format("memory").queryName(name).outputMode("update")
      .option("checkpointLocation", tempDir("lcf_forks_ckp").toString).start()
    try for (t <- 1 to 3) {
      input.addData((1 to 8).map(k =>
        KeyedChange(s"k$k", ChangeOp.Update, t.toLong, t * 10L + k, 1, s"v$t")): _*)
      q.processAllAvailable()
    } finally q.stop()
    assert(spark.table(name).count() == 24)
  }

  test("no forks: a three-trigger LwwMerge stream commits without a process start under Hadoop's fs") {
    threeTriggerLww("lcf_warm")
    assert(hadoopFsForks(threeTriggerLww("lcf_nio")) == 0)
    // the same stream on Spark's default manager forks: the probe sees them
    assert(withManager(SparkDefault)(hadoopFsForks(threeTriggerLww("lcf_default"))) > 0)
  }

  /** An LwwMerge stream over a change-log dir; returns the rows each
    * batch emitted, tagged with its batch id.
    */
  private def lwwRun(dir: JPath, ckp: JPath, manager: String): Seq[(Long, KeyedChange)] = {
    import spark.implicits._
    val emitted = new ConcurrentLinkedQueue[(Long, KeyedChange)]()
    withManager(manager) {
      val changes = spark.readStream.format("graft-changelog")
        .option("path", dir.toString).option("maxRowsPerTrigger", "3").load()
      val keyed = changes.select(
        coalesce(get_json_object(col("after"), "$.id"),
          get_json_object(col("before"), "$.id")).as("key"),
        col("op"), unix_timestamp(col("ts")).as("ts_sec"), col("seq"),
        when(col("op") === ChangeOp.Backfill, 0).otherwise(1).as("precedence"),
        coalesce(col("after"), lit("")).as("payload")).as[KeyedChange]
      LwwMerge.merge(keyed).writeStream.outputMode("update")
        .option("checkpointLocation", ckp.toString).trigger(Trigger.AvailableNow())
        .foreachBatch { (b: Dataset[KeyedChange], id: Long) =>
          b.collect().foreach(r => emitted.add(id -> r))
        }.start().awaitTermination()
    }
    emitted.asScala.toSeq
  }

  /** Per key, the row of the last batch that emitted it. */
  private def lastEmitted(rows: Seq[(Long, KeyedChange)]): Map[String, (String, String)] =
    rows.groupBy(_._2.key).map { case (k, rs) =>
      val w = rs.maxBy(_._1)._2
      k -> (w.op, w.payload)
    }

  test("a checkpoint resumes across Spark's default manager and this one, both ways") {
    def row(id: Int, v: String) = s"""{"id":"$id","v":"$v"}"""
    def line(op: String, before: String, after: String, ts: Long): String =
      s"""{"op":"$op","db":"d","table":"t","before":$before,"after":$after,"ts":$ts,"pkey":"id"}"""
    def segment(dir: JPath, n: Int, lines: Seq[String]): Unit =
      Files.write(dir.resolve(f"log.$n%06d.jsonl"), lines.mkString("", "\n", "\n").getBytes)
    // the snapshot races a live update of 3; after the restart, stale
    // backfill of 2 and 3 must lose to the winners held in state
    val first = (1 to 6).map(i => line("Backfill", "null", row(i, s"snap$i"), 1L)) :+
      line("Update", row(3, "snap3"), row(3, "live3"), 50L)
    val second = Seq(
      line("Backfill", "null", row(2, "ghost2"), 0L),
      line("Backfill", "null", row(3, "ghost3"), 1L),
      line("Update", row(4, "snap4"), row(4, "live4"), 200L),
      line("Delete", row(5, "snap5"), "null", 201L),
      line("Insert", "null", row(9, "new9"), 202L))

    val whole = tempDir("lcf_whole")
    segment(whole, 1, first)
    segment(whole, 2, second)
    val expected = lastEmitted(lwwRun(whole, tempDir("lcf_whole_ckp"), Ours))
    assert(expected("2") == (ChangeOp.Backfill, row(2, "snap2")))
    assert(expected("3") == (ChangeOp.Update, row(3, "live3")))
    assert(expected("5")._1 == ChangeOp.Delete && expected.size == 7)

    for ((before, after) <- Seq(SparkDefault -> Ours, Ours -> SparkDefault)) {
      val dir = tempDir("lcf_resume")
      val ckp = tempDir("lcf_resume_ckp")
      segment(dir, 1, first)
      val run1 = lwwRun(dir, ckp, before)
      val state = Files.walk(ckp.resolve("state")).iterator().asScala
        .map(_.getFileName.toString).toSeq
      // Spark's own state checksum is `N.delta.crc`; Hadoop's is `.N.delta.crc`
      assert(state.exists(_.endsWith(".delta")) &&
        state.exists(n => !n.startsWith(".") && n.endsWith(".delta.crc")),
        s"state deltas and Spark's state checksums under $before: $state")
      segment(dir, 2, second)
      val run2 = lwwRun(dir, ckp, after)
      assert(run2.nonEmpty && run2.map(_._1).min > run1.map(_._1).max, s"$before -> $after resumed")
      assert(lastEmitted(run1 ++ run2) == expected, s"$before -> $after")
      val Seq(offsets, commits) = Seq("offsets", "commits")
        .map(d => files(ckp.resolve(d)).filter(_.forall(_.isDigit)))
      assert(offsets == commits && commits == (0 until commits.size).map(_.toString).toSet, commits)
    }
  }
}
