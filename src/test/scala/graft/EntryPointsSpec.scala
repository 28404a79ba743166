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
