package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The measurement entry points. No case calls a `main`: each one ends
  * in `spark.stop()`, which would stop the shared [[TestSpark]] session.
  */
class EntryPointsSpec extends AnyFunSuite {

  test("exactly five mains: Bench, Verify, ScaleGen, Plans, Probe") {
    // a new measurement lands as a Probe subcommand, not another main
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the project root, not ${Paths.get("").toAbsolutePath}")
    val mains = Files.walk(root).iterator().asScala
      .filter(p => p.toString.endsWith(".scala"))
      .filter(p => new String(Files.readAllBytes(p), "UTF-8").contains("def main("))
      .map(p => root.relativize(p).toString).toSet
    assert(mains == Set("Bench", "Verify", "ScaleGen", "Plans", "Probe")
      .map(n => s"graft/$n.scala"))
  }

  test("every session builder sets SessionConf.tuned or SessionConf.CheckpointFiles") {
    // a session without either writes its stream checkpoints through
    // Spark's default manager, which forks per checkpoint file
    val builder = """SparkSession\s*\.\s*builder""".r
    val sources = Seq("src/main/scala", "src/test/scala")
      .flatMap(d => Files.walk(Paths.get(d)).iterator().asScala)
      .filter(_.toString.endsWith(".scala"))
    val calls = for {
      p <- sources
      text = new String(Files.readAllBytes(p), "UTF-8")
      m <- builder.findAllMatchIn(text)
      lineStart = text.lastIndexOf('\n', m.start) + 1
      if !text.substring(lineStart, m.start).trim.matches("""(\*|//).*""")
      end = Some(text.indexOf("getOrCreate", m.end)).filter(_ >= 0).getOrElse(text.length)
    } yield (s"${p.getFileName}:${text.take(m.start).count(_ == '\n') + 1}",
      text.substring(lineStart, end))
    assert(Set("SessionConf.scala", "TestSpark.scala")
      .subsetOf(calls.map(_._1.takeWhile(_ != ':')).toSet), calls.map(_._1))
    val bare = calls.collect { case (at, call)
      if !call.contains("tuned(") && !call.contains("SessionConf.CheckpointFiles") => at }
    assert(bare.isEmpty, s"builders without the checkpoint file manager: $bare")
  }

  test("Probe rejects an unknown subcommand, naming the valid ones, without a session") {
    val before = SparkSession.getDefaultSession
    for (args <- Seq(Seq("nope", "x"), Nil)) {
      val usage = Probe.command(args).left.getOrElse(fail(s"$args accepted"))
      Seq("scale", "vocab", "skew", "stores", "artifacts")
        .foreach(c => assert(usage.contains(c), usage))
      assert(usage.contains("'nope'") == args.nonEmpty, usage)
    }
    assert(Probe.command(Seq("skew")).isRight)
    assert(SparkSession.getDefaultSession == before)
  }

  test("Plans renders only the named queries' formatted plans, without commentary") {
    val out = Plans.render(TestSpark.spark, "/root/testdata/sf0.001",
      Seq("q_cdc_changes"))
    assert(out.startsWith("\n## q_cdc_changes\n\n```\n"), out.take(200))
    assert(out.contains("ReadSchema") && !out.contains("Exchange"), out)
    assert(!out.contains("# PLANS") && !out.contains("Narrow envelope"), out)
    assert(out.split("\n## ").length == 2, "one section")
  }
}
