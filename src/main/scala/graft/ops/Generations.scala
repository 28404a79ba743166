package graft.ops

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.collection.JavaConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The ONE crash-safe commit protocol behind every persisted artifact
  * ([[Index]], [[TextIndex]], [[GraphStore]]) and every bucketed
  * state table ([[graft.streaming.StateTable]]) — the copy-on-write +
  * atomic-metadata-swap shape of Delta/Iceberg, on parquet and one
  * JSON file:
  *
  *  1. the owner STAGES: fresh directories (or `.staging/` output
  *     hard-linked into them) beside the committed ones, invisible to
  *     every reader;
  *  2. [[commit]] writes `_state.json` to a tmp file and
  *     `ATOMIC_MOVE`s it over the old one — the single commit point.
  *     It names, per ENTRY (an artifact part, a table bucket), the
  *     directories that entry reads now (`current`), the replaced
  *     directories still inside their grace window (`retired`, with
  *     the generation that retired them), the committed grace policy,
  *     and a small owner-defined `layout` (a state table's bucket
  *     count);
  *  3. after the swap, the sweep deletes every directory the state no
  *     longer references: retirees past the window, plus — in the
  *     parent directories of the entries this commit changed — every
  *     owned sibling neither `current` nor `retired` names (superseded
  *     or crashed attempts), plus `.staging`. Untouched entries'
  *     parents are never listed, so a state table's untouched buckets
  *     cost nothing.
  *
  * A crash before step 2 leaves the old generation served and its
  * leftovers are swept by the next commit of the same entries; a
  * crash after it has committed everything. `gen` rises by exactly one
  * per commit. Grace: the effective window is the larger of the
  * call's value and the committed policy (a default-grace maintainer
  * never expires a snapshot an earlier one promised); only
  * `resetGrace` (an explicit operator action) lowers it. Single
  * writer per root — the owners' contract. GenerationsSpec proves the
  * protocol on the filesystem alone.
  */
private[graft] object Generations {

  val StateFile = "_state.json"
  val Staging = ".staging"

  /** entry → its directories, relative to the root. */
  type Dirs = Map[String, Seq[String]]

  final case class State(gen: Long, grace: Int, current: Dirs,
      retired: Seq[(Long, Dirs)], layout: Map[String, Int]) {

    /** The single directory of a one-directory entry. */
    def dir(entry: String): String = {
      val ds = current(entry)
      require(ds.size == 1, s"entry $entry spans ${ds.mkString(", ")}")
      ds.head
    }

    def referenced: Set[String] =
      (current.valuesIterator ++ retired.iterator.flatMap(_._2.valuesIterator))
        .flatten.toSet
  }

  /** The state of a root nothing has committed to yet; its first
    * commit is generation 1.
    */
  val Empty = State(0L, 0, Map.empty, Seq.empty, Map.empty)

  private val Json = new ObjectMapper()

  def load(root: String): Option[State] = {
    val f = Paths.get(root, StateFile)
    if (!Files.exists(f)) None
    else {
      val n = Json.readTree(Files.readString(f))
      def dirsOf(o: JsonNode): Dirs = o.properties().asScala
        .map(e => e.getKey -> e.getValue.elements().asScala.map(_.asText).toVector)
        .toMap
      Some(State(n.get("gen").asLong, n.get("grace").asInt,
        dirsOf(n.get("current")),
        n.get("retired").elements().asScala
          .map(r => r.get("gen").asLong -> dirsOf(r.get("dirs"))).toVector,
        n.get("layout").properties().asScala
          .map(e => e.getKey -> e.getValue.asInt).toMap))
    }
  }

  /** The committed state of a root that must have one; `hint` tells
    * the caller how to get one.
    */
  def stateOf(root: String, hint: String = ""): State =
    load(root).getOrElse(sys.error(s"no committed state under $root$hint"))

  /** Commit `changed` (entry → its new directories) and drop `removed`
    * over `base`, the state the caller staged against; returns the
    * committed state. Each replaced entry's old directories retire at
    * the new generation.
    */
  def commit(root: String, base: State, changed: Dirs,
      removed: Seq[String] = Nil, graceCommits: Int = 0,
      resetGrace: Boolean = false,
      layout: Map[String, Int] = Map.empty): State = {
    val gen = base.gen + 1
    val grace =
      if (resetGrace) graceCommits else math.max(graceCommits, base.grace)
    val touched = changed.keySet ++ removed
    val replaced = base.current.filter { case (e, ds) =>
      touched(e) && !changed.get(e).contains(ds) }
    val (kept, expired) =
      (base.retired ++ Seq(gen -> replaced).filter(_._2.nonEmpty))
        .partition { case (g, _) => gen - g < grace }
    val next = State(gen, grace, base.current -- removed ++ changed, kept,
      base.layout ++ layout)
    write(root, next)
    val live = next.referenced
    expired.flatMap(_._2.values.flatten).filterNot(live)
      .foreach(d => deleteRecursively(Paths.get(root, d)))
    def owned(rel: String) = touched.exists(e =>
      rel == e || rel.startsWith(s"${e}_") || rel.startsWith(s"$e/"))
    (changed.values.flatten ++ replaced.values.flatten)
      .map(d => Option(Paths.get(d).getParent).map(_.toString).getOrElse(""))
      .toSet
      .foreach { (parent: String) =>
        list(Paths.get(root, parent)).foreach { c =>
          val rel = if (parent.isEmpty) c.getFileName.toString
            else s"$parent/${c.getFileName}"
          if (Files.isDirectory(c) && owned(rel) && !live(rel))
            deleteRecursively(c)
        }
      }
    deleteRecursively(Paths.get(root, Staging))
    next
  }

  /** [[commit]] each entry of `files` as ONE fresh directory
    * `<entry>_g<gen>_<uid>` holding hard links to exactly those files
    * (kept committed files plus staged ones — metadata only).
    */
  def commitFiles(root: String, base: State, files: Map[String, Seq[Path]],
      graceCommits: Int = 0, resetGrace: Boolean = false): State = {
    val u = uid()
    val dirs = files.map { case (e, fs) =>
      val d = s"${e}_g${base.gen + 1}_$u"
      link(fs, Paths.get(root, d))
      e -> Seq(d)
    }
    commit(root, base, dirs, graceCommits = graceCommits,
      resetGrace = resetGrace)
  }

  /** Bucket-write `df` as `entry` of artifact `name` into
    * `<root>/.staging/<entry>_<tag>` through the throwaway stage table
    * `<name>_<entry>_stage_<tag>`; returns the staged data files (none
    * for an empty frame). What every owner's maintenance stages with.
    */
  def stage(df: DataFrame, root: String, name: String, entry: String,
      tag: String, key: String, buckets: Int): Seq[Path] =
    Bucketing.stageBucketed(df, s"${name}_${entry}_stage_$tag", key,
      buckets, Paths.get(root, Staging, s"${entry}_$tag").toString)

  /** A (re)build: generation 0 with exactly `current`, no retirees and
    * no grace promise carried over from whatever the root held before —
    * a rebuilt artifact is a new artifact. `removed` names entries the
    * previous artifact may have had and this one does not; their
    * directories are swept with every other superseded one.
    */
  def rebuild(root: String, current: Dirs, removed: Seq[String] = Nil)
      : State =
    commit(root, Empty.copy(gen = -1L), current, removed)

  private def write(root: String, st: State): Unit = {
    def putDirs(o: ObjectNode, d: Dirs): Unit =
      d.toSeq.sortBy(_._1).foreach { case (e, ds) =>
        val a = o.putArray(e)
        ds.foreach(s => a.add(s))
      }
    val n = Json.createObjectNode()
    n.put("gen", st.gen)
    n.put("grace", st.grace)
    val lay = n.putObject("layout")
    st.layout.toSeq.sortBy(_._1).foreach { case (k, v) => lay.put(k, v) }
    putDirs(n.putObject("current"), st.current)
    val ret = n.putArray("retired")
    st.retired.foreach { case (g, d) =>
      val r = ret.addObject()
      r.put("gen", g)
      putDirs(r.putObject("dirs"), d)
    }
    Files.createDirectories(Paths.get(root))
    // unique tmp name: two racing writers never interleave partial
    // writes into one file (the later move still wins)
    val tmp = Paths.get(root, s".$StateFile.tmp.${uid()}")
    Files.writeString(tmp, Json.writeValueAsString(n))
    Files.move(tmp, Paths.get(root, StateFile),
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
  }

  // ---------------------------------------------------- filesystem helpers

  def uid(): String = java.util.UUID.randomUUID().toString.take(8)

  /** The children of `d`; empty when `d` is not a directory. Closes its
    * stream — this runs once per commit for the life of a stream.
    */
  def list(d: Path): Seq[Path] =
    if (!Files.isDirectory(d)) Seq.empty
    else {
      val s = Files.list(d)
      try s.iterator().asScala.toVector finally s.close()
    }

  /** The data files of a directory: committed parquet parts — no
    * `_SUCCESS` markers, no hidden sidecars.
    */
  def dataFiles(d: Path): Seq[Path] = list(d).filter { f =>
    val n = f.getFileName.toString
    Files.isRegularFile(f) && !n.startsWith("_") && !n.startsWith(".")
  }

  /** The data files of an entry's directories. */
  def filesOf(root: String, dirs: Seq[String]): Seq[Path] =
    dirs.flatMap(d => dataFiles(Paths.get(root, d)))

  /** Hard-link `files` into `dst` under their own names (copy fallback
    * for stores without link support). Parquet files are immutable once
    * committed, so links are safe shared references.
    */
  def link(files: Seq[Path], dst: Path): Unit = {
    Files.createDirectories(dst)
    files.foreach { f =>
      val t = dst.resolve(f.getFileName.toString)
      try Files.createLink(t, f)
      catch { case _: UnsupportedOperationException => Files.copy(f, t) }
    }
  }

  def deleteRecursively(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(f => Files.delete(f))
      finally s.close()
    }

  // ------------------------------------------------------- catalog side

  /** Drop `tbl`'s catalog entry whatever it is (Spark rejects DROP
    * TABLE on a view and vice versa).
    */
  def dropEntry(spark: SparkSession, tbl: String): Unit =
    if (spark.catalog.tableExists(tbl)) {
      val kind = if (spark.catalog.getTable(tbl).tableType == "VIEW") "VIEW"
        else "TABLE"
      spark.sql(s"DROP $kind ${ArtifactFiles.ident(tbl)}")
    }

  /** (Re-)create `tbl` over `location`, bucketed by `key` when
    * `nBuckets` > 0 (the spec the pruned scans and exchange-free joins
    * depend on). `schema` is a declared DDL column list — required
    * where a directory can be legally empty; otherwise the files' own
    * footer schema. Metadata only.
    */
  def attachBucketed(spark: SparkSession, tbl: String, location: String,
      key: String = "", nBuckets: Int = 0,
      schema: Option[String] = None): Unit = {
    dropEntry(spark, tbl)
    val cols = schema.getOrElse(spark.read.parquet(location).schema.toDDL)
    val bucketing =
      if (nBuckets <= 0) ""
      else s"CLUSTERED BY ($key) SORTED BY ($key) INTO $nBuckets BUCKETS"
    spark.sql(
      s"""CREATE TABLE ${ArtifactFiles.ident(tbl)} ($cols) USING parquet
         |$bucketing
         |LOCATION '${ArtifactFiles.sqlLit(location)}'""".stripMargin)
  }

  /** An artifact's root directory: the parent of the location its
    * (file-backed) `tbl` is attached over — never caller-supplied, so
    * maintenance acts on the directory the catalog actually serves.
    */
  def rootOf(spark: SparkSession, tbl: String): String = {
    val scan = spark.table(tbl).queryExecution.analyzed.collectFirst {
      case r: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        r.relation.asInstanceOf[
          org.apache.spark.sql.execution.datasources.HadoopFsRelation]
    }.getOrElse(sys.error(s"$tbl is not file-backed"))
    Paths.get(scan.location.rootPaths.head.toUri.getPath).getParent.toString
  }
}
