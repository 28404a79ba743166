package graft

import java.nio.file.{Files, Path}

import scala.collection.JavaConverters._

import org.scalacheck.{Gen, Prop}
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.Generations

/** The generation-commit protocol on the filesystem alone (no Spark):
  * random commit sequences with random grace settings, staging that
  * fails part-way, and orphan directories planted after a swap (a
  * crash before the sweep). The laws: the state names only existing
  * directories; a graced retiree survives until `gen − g ≥ grace`;
  * after a successful commit no unreferenced directory of a touched
  * entry and no `.staging` remain; `gen` rises by exactly one per
  * successful commit and not at all on a failed one.
  */
class GenerationsSpec extends AnyFunSuite {
  import GenerationsSpec.Step

  private def check(p: Prop, cases: Int = 100): Unit = {
    val r = org.scalacheck.Test.check(
      org.scalacheck.Test.Parameters.default.withMinSuccessfulTests(cases), p)
    assert(r.passed, r.status.toString)
  }

  private def dirs(root: Path): Set[String] =
    Files.walk(root).iterator().asScala.filter(Files.isDirectory(_))
      .map(d => root.relativize(d).toString).filter(_.nonEmpty).toSet

  private val stepGen: Gen[Step] = for {
    change <- Gen.containerOf[Set, Int](Gen.choose(0, 3))
    remove <- Gen.frequency(4 -> Gen.const(Set.empty[Int]),
      1 -> Gen.containerOf[Set, Int](Gen.choose(0, 3)))
    append <- Gen.frequency(3 -> false, 1 -> true)
    grace <- Gen.choose(0, 3)
    reset <- Gen.frequency(5 -> false, 1 -> true)
    crash <- Gen.frequency(3 -> Gen.const(None),
      1 -> Gen.choose(0, 4).map(Some(_)))
    orphans <- Gen.frequency(3 -> false, 1 -> true)
  } yield Step(change, remove, append, grace, reset, crash, orphans)

  test("random commit histories keep the four generation laws (flat and bucketed layouts)") {
    check(Prop.forAll(Gen.oneOf(false, true), Gen.listOfN(14, stepGen)) {
      (nested, steps) =>
        val root = Files.createTempDirectory("graft_gens")
        val r = root.toString
        // entry names: artifact parts at the root, or state-table
        // buckets whose versions nest under b<k>/
        def entry(i: Int) = if (nested) s"b$i" else Seq("cents", "codes",
          "sq_codes", "postings")(i)
        var n = 0
        def fresh(e: String, tag: String = "v"): String = {
          n += 1
          if (nested) s"$e/$tag$n" else s"${e}_$tag$n"
        }
        def owned(e: String, d: String) =
          d == e || d.startsWith(s"${e}_") || d.startsWith(s"$e/")
        var st = Generations.rebuild(r,
          (0 to 3).map { i =>
            val e = entry(i); val d = fresh(e)
            Files.createDirectories(root.resolve(d)); e -> Seq(d)
          }.toMap)
        // the model's graced retirees: (gen retired, dirs)
        var promised = Seq.empty[(Long, Seq[String])]
        try steps.forall { s =>
          val changed = s.change.map(entry)
          val removed = (s.remove -- s.change).map(entry)
            .filter(st.current.contains)
            .take(math.max(0, st.current.size - 1))
          val staged = changed.toSeq.sorted.map { e =>
            val d = fresh(e)
            e -> (if (s.append && st.current.contains(e))
              st.current(e) :+ d else Seq(d))
          }
          // the staging callback: creates each new dir (plus some
          // .staging scratch) and throws at the chosen step
          val stage: () => Unit = () => {
            Files.createDirectories(root.resolve(".staging").resolve(s"x$n"))
            staged.zipWithIndex.foreach { case ((_, ds), i) =>
              if (s.crashAt.contains(i)) sys.error("injected staging crash")
              Files.createDirectories(root.resolve(ds.last))
            }
            if (s.crashAt.exists(_ >= staged.size))
              sys.error("injected staging crash")
          }
          val before = Generations.load(r).get
          val ok =
            try {
              stage()
              st = Generations.commit(r, st, staged.toMap, removed.toSeq,
                s.grace, s.resetGrace)
              true
            } catch { case e: RuntimeException
                if e.getMessage == "injected staging crash" => false }
          val now = Generations.load(r).get
          val onDisk = dirs(root)
          // law 4: exactly +1 per successful commit, 0 on a crash
          val genOk =
            if (ok) now.gen == before.gen + 1 && now == st
            else now == before
          // law 1: every directory the state names exists
          val namedExist = now.referenced.subsetOf(onDisk)
          // law 2: the model's graced retirees are intact
          if (ok) {
            val replaced = before.current.collect {
              case (e, ds) if (changed ++ removed)(e) &&
                !staged.toMap.get(e).contains(ds) => ds }.flatten.toSeq
            val grace =
              if (s.resetGrace) s.grace else math.max(s.grace, before.grace)
            promised = (promised :+ (now.gen -> replaced))
              .filter { case (g, _) => now.gen - g < grace }
          }
          val gracedKept = promised.forall(_._2.forall(onDisk))
          // law 3: after a successful commit, no unreferenced directory
          // of a touched entry and no staging area remain
          val swept = !ok || (!onDisk.contains(".staging") &&
            (changed ++ removed).forall(e => onDisk.forall(d =>
              !owned(e, d) || now.referenced(d) || d == e && nested)))
          // a crash before the sweep of a successful commit: plant
          // orphans the NEXT commit of those entries must remove
          if (ok && s.plantOrphans) now.current.keys.foreach { e =>
            Files.createDirectories(root.resolve(fresh(e, "orphan")))
            Files.createDirectories(root.resolve(".staging/crashed"))
          }
          val good = genOk && namedExist && gracedKept && swept
          if (!good)
            println(s"[gens] step=$s ok=$ok genOk=$genOk named=$namedExist " +
              s"graced=$gracedKept swept=$swept state=$now disk=$onDisk")
          good
        } finally Generations.deleteRecursively(root)
    })
  }

  test("a bucketed commit never lists an untouched bucket: its orphan waits for that bucket's next commit") {
    val root = Files.createTempDirectory("graft_gens_b")
    val r = root.toString
    def mk(d: String) = { Files.createDirectories(root.resolve(d)); d }
    var st = Generations.commit(r, Generations.Empty,
      Map("b0" -> Seq(mk("b0/v1")), "b1" -> Seq(mk("b1/v1"))),
      layout = Map("nBuckets" -> 2))
    assert(st.gen == 1L && st.layout == Map("nBuckets" -> 2))
    mk("b1/orphan")
    st = Generations.commit(r, st, Map("b0" -> Seq(mk("b0/v2"))))
    assert(!Files.exists(root.resolve("b0/v1")))
    assert(Files.exists(root.resolve("b1/orphan")), "untouched bucket listed")
    st = Generations.commit(r, st, Map("b1" -> Seq(mk("b1/v2"))))
    assert(!Files.exists(root.resolve("b1/orphan")))
    assert(st.layout == Map("nBuckets" -> 2))
    Generations.deleteRecursively(root)
  }

  test("rebuild is generation 0: prior generations, graced retirees and removed entries are swept") {
    val root = Files.createTempDirectory("graft_gens_r")
    val r = root.toString
    def mk(d: String) = { Files.createDirectories(root.resolve(d)); d }
    var st = Generations.rebuild(r,
      Map("postings" -> Seq(mk("postings")), "pos" -> Seq(mk("pos"))))
    st = Generations.commit(r, st, Map("postings" -> Seq(mk("postings_g1_a"))),
      graceCommits = 3)
    assert(st.gen == 1L && st.retired.map(_._1) == Seq(1L) &&
      Files.exists(root.resolve("postings")))
    st = Generations.rebuild(r, Map("postings" -> Seq(mk("postings"))),
      removed = Seq("pos"))
    assert(st.gen == 0L && st.grace == 0 && st.retired.isEmpty)
    assert(dirs(root) == Set("postings"))
    assert(Generations.load(r).contains(st))
    Generations.deleteRecursively(root)
  }
}

object GenerationsSpec {

  /** One step of a random maintenance history. */
  final case class Step(change: Set[Int], remove: Set[Int],
      append: Boolean, grace: Int, resetGrace: Boolean,
      crashAt: Option[Int], plantOrphans: Boolean)
}
