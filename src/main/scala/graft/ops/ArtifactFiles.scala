package graft.ops

/** The naming and input contracts shared by the persisted-artifact
  * maintainers ([[Index]], [[GraphStore]], [[TextIndex]]): DDL
  * quoting, artifact-name validation, the unique-id precondition and
  * bucket-tag parsing. Their commit protocol and filesystem helpers
  * live in [[Generations]].
  */
private[ops] object ArtifactFiles {

  /** SQL string-literal escaping for the DDL the artifact maintainers
    * build by interpolation (`CREATE TABLE … LOCATION '<path>'`): a
    * baseDir or artifact name containing a quote — or a backslash,
    * which Spark's default literal parser treats as an escape — must
    * not break out of (or corrupt) the literal (advice r16). Doubling
    * the quote is standard SQL; doubling the backslash round-trips it
    * under Spark's C-style escape handling.
    */
  def sqlLit(s: String): String =
    s.replace("\\", "\\\\").replace("'", "''")

  /** Backtick-quoted identifier for interpolated DDL — `DROP TABLE
    * $tbl` with an artifact name containing SQL-significant
    * characters must parse as ONE identifier (advice r16).
    */
  def ident(t: String): String =
    "`" + t.replace("`", "``") + "`"

  /** Artifact names are plain identifiers, validated ONCE at the
    * artifact's construction sites (build/register) rather than
    * per-DDL-string (review r17): the quoting in [[ident]] protects
    * the parse sites, but the NAME-RESOLUTION paths (tableExists,
    * spark.table, saveAsTable) parse a raw "my.graph" as a
    * database-qualified multipart identifier — such a name would
    * create catalog entries resolution can never find again. Failing
    * fast here keeps every downstream site consistent.
    */
  def requireArtifactName(name: String): Unit =
    require(name.matches("[A-Za-z0-9_]+"),
      s"artifact name '$name' must match [A-Za-z0-9_]+ — catalog " +
        "name resolution treats dots and SQL-significant characters " +
        "as identifier structure")

  /** UNIQUE-id precondition shared by the three artifact upserts
    * (advice r16, deduplicated r17): two ingest rows for one id would
    * double-land (two encoded vectors for one neighbor id, one
    * phantom doc with merged token counts, duplicate graph
    * candidates). Callers with multi-version batches LWW-collapse
    * first (the streaming feeds); the check is one id-column
    * aggregation on the delta, ∝ batch.
    */
  def requireUniqueIds(base: org.apache.spark.sql.DataFrame): Unit = {
    import org.apache.spark.sql.functions.{col, count, lit}
    val dup = base.groupBy(col("id")).agg(count(lit(1)).as("__c"))
      .filter(col("__c") > 1).limit(1).collect()
    require(dup.isEmpty,
      s"upsert ingest contains duplicate ids (e.g. ${dup.headOption
        .map(_.get(0)).getOrElse("")}) — collapse to one row per id " +
        "(last-writer-wins) before upserting")
  }

  /** Bucket id of a bucketed-writer data file, from the `_NNNNN` tag
    * the writer embeds in the name (`part-00000-<uuid>_00003.c000…`) —
    * the same pattern Spark's own scan uses to group a bucketed
    * table's files. None when the name carries no tag.
    */
  private val BucketedFileName = """.*_(\d+)(?:\..*)?$""".r
  def bucketIdOf(fileName: String): Option[Int] = fileName match {
    case BucketedFileName(b) => Some(b.toInt)
    case _ => None
  }
}
