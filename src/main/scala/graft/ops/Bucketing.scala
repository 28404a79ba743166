package graft.ops

import org.apache.spark.sql.DataFrame

/** Bucketed table layout for exchange-free (co-located) joins — the
  * 100 TB answer to "this fact-to-fact join shuffles every time":
  * pay the shuffle ONCE at write time, then every join/aggregation on
  * the bucket key reads both sides already hash-partitioned the same
  * way, and Catalyst drops the Exchange entirely (PlanSpec asserts
  * it). Same-bucket-count tables also sort-merge without a sort when
  * `sortBy` matches the join key.
  */
object Bucketing {

  /** Persist `df` hash-bucketed (and sorted) by `key` into the
    * session catalog as `table`. With `path` the table is EXTERNAL —
    * the files live at an explicit location instead of the session
    * warehouse (index artifacts that outlive a session, [[Index]]).
    */
  def writeBucketed(df: DataFrame, table: String, key: String,
      buckets: Int, path: Option[String] = None): Unit = {
    val w = df.write.mode("overwrite").format("parquet")
      .bucketBy(buckets, key).sortBy(key)
    path.fold(w)(p => w.option("path", p)).saveAsTable(table)
  }

  /** Bucket-write `df` to the directory `path` through a throwaway
    * external table `table` (the only way to bucketBy-write to a
    * path): the entry is dropped, the files kept and returned — the
    * staging step of every artifact's [[Generations]] commit.
    */
  def stageBucketed(df: DataFrame, table: String, key: String,
      buckets: Int, path: String): Seq[java.nio.file.Path] = {
    writeBucketed(df, table, key, buckets, Some(path))
    df.sparkSession.sql(s"DROP TABLE ${ArtifactFiles.ident(table)}")
    Generations.dataFiles(java.nio.file.Paths.get(path))
  }

  /** Append rows into an existing bucketed table (same key + bucket
    * count — Spark validates the spec). New files land in their key's
    * bucket; existing files are never rewritten, so an append is
    * incremental by construction ([[Index.append]] relies on this).
    */
  def appendBucketed(df: DataFrame, table: String, key: String,
      buckets: Int): Unit =
    df.write.mode("append").format("parquet")
      .bucketBy(buckets, key).sortBy(key)
      .saveAsTable(table)
}
