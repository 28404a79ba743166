package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** sf1.0 scale-point generator: 10 statistically-faithful copies of
  * the driver's sf0.1 tables (TESTDATA.md is read-only, so the 10×
  * point lives under the repo: `testdata-sf1.0/`, gitignored — this
  * GENERATOR is the committed artifact).
  *
  * The point of the scale point is MEASURING super-linearity, so the
  * copies must not create degenerate structure the operators would
  * feast on:
  *
  *  - `documents.text` gets a per-copy DETERMINISTIC word
  *    permutation keyed on (hash(text), copy) — unigram stats and
  *    lengths are preserved exactly, shingle sets diverge across
  *    copies (no fake 10-way near-dup clusters), and exact-dup PAIRS
  *    within a copy survive (same text ⇒ same permutation), keeping
  *    the dup RATE constant across scale;
  *  - `embeddings` get hash-based per-coordinate noise (±0.05) and a
  *    renormalize — cluster structure (labels) survives, but no
  *    vector is an exact copy of its source (ANN recall keeps
  *    meaning);
  *  - fact/dim tables replicate with KEY OFFSETS per copy (orders →
  *    new orderkeys referencing the copy's own customers/parts/
  *    suppliers), so join fan-outs and group cardinalities scale
  *    linearly, exactly like TPC-H's own SF scaling; `nation`/
  *    `region` stay fixed (as in TPC-H);
  *  - `events` replicate with fresh user ids per copy — per-user
  *    session/event counts stay constant, user COUNT scales.
  *
  *  - with `--vocab-grow`, additionally writes
  *    `documents_vocabgrow.parquet` — the Heaps-law twin
  *    ([[vocabGrown]]): half the word TYPES (type-level hash coin,
  *    identical in every copy) become copy-LOCAL by suffixing the
  *    replica index, so tail-gram document frequency stops growing
  *    with corpus size while within-copy structure, lengths, dup
  *    pairs, and the in-copy df profile are untouched. This is the
  *    realistic-vocabulary regime `graft.Probe vocab` measures; the
  *    flag makes it a REUSABLE scale point instead of a probe-side
  *    derivation.
  *
  * Usage: `runMain graft.ScaleGen [srcDir] [outDir] [copies] [--vocab-grow]`
  * (defaults: /root/testdata/sf0.1 → testdata-sf1.0, 10 copies).
  */
object ScaleGen {

  /** The Heaps-law vocabulary rewrite over a ScaleGen-replicated
    * documents frame: words whose type-hash coin lands odd get
    * suffixed with the row's replica index (`doc_id div nDoc` — the
    * inverse of ScaleGen's id offsetting), making them copy-local.
    * Shared by the `--vocab-grow` generator flag and `Probe vocab`, so
    * the probe measures exactly the corpus the generator ships.
    */
  def vocabGrown(docs: DataFrame, nDoc: Long): DataFrame = {
    val k = (col("doc_id") / lit(nDoc)).cast("int")
    val words = split(col("text"), " ")
    val grownText = array_join(transform(words, w =>
      when(pmod(xxhash64(w), lit(2L)) === 0, w)
        .otherwise(concat(w, lit("~"), k))), " ")
    docs.withColumn("text", grownText)
      .withColumn("n_chars", length(col("text")).cast("long"))
  }

  def main(args: Array[String]): Unit = {
    val (flags, positional) = args.partition(_.startsWith("--"))
    val vocabGrow = flags.contains("--vocab-grow")
    val unknown = flags.filterNot(_ == "--vocab-grow")
    require(unknown.isEmpty, s"unknown flags: ${unknown.mkString(", ")}")
    val src = positional.lift(0).getOrElse("/root/testdata/sf0.1")
    val out = positional.lift(1).getOrElse("testdata-sf1.0")
    val copies = positional.lift(2).map(_.toInt).getOrElse(10)
    val spark = SessionConf.session(32)

    def t(name: String): DataFrame =
      spark.read.parquet(s"$src/$name.parquet")

    /** Union `copies` transformed replicas; `f(df, k)` remaps copy k. */
    def rep(df: DataFrame)(f: (DataFrame, Int) => DataFrame): DataFrame =
      (0 until copies).map(k => f(df, k)).reduce(_ unionByName _)

    def write(name: String, df: DataFrame): Unit = {
      df.coalesce(4).write.mode("overwrite")
        .parquet(s"$out/$name.parquet")
      println(s"[scalegen] $name: ${spark.read.parquet(s"$out/$name.parquet").count()} rows")
    }

    // dims that TPC-H holds constant across SF
    write("region", t("region"))
    write("nation", t("nation"))

    val nCust = t("customer").count()
    val nOrd = t("orders").count()
    val nPart = t("part").count()
    val nSupp = t("supplier").count()
    val nDoc = t("documents").count()
    val nVec = t("embeddings").count()
    val nEvt = t("events").count()
    val nUser = 1L << 24 // user-id offset stride (ids are small)

    write("customer", rep(t("customer")) { (d, k) =>
      d.withColumn("c_custkey", col("c_custkey") + lit(k * nCust))
    })
    write("supplier", rep(t("supplier")) { (d, k) =>
      d.withColumn("s_suppkey", col("s_suppkey") + lit(k * nSupp))
    })
    write("part", rep(t("part")) { (d, k) =>
      d.withColumn("p_partkey", col("p_partkey") + lit(k * nPart))
    })
    write("orders", rep(t("orders")) { (d, k) =>
      d.withColumn("o_orderkey", col("o_orderkey") + lit(k * nOrd))
        .withColumn("o_custkey", col("o_custkey") + lit(k * nCust))
    })
    write("lineitem", rep(t("lineitem")) { (d, k) =>
      d.withColumn("l_orderkey", col("l_orderkey") + lit(k * nOrd))
        .withColumn("l_partkey", col("l_partkey") + lit(k * nPart))
        .withColumn("l_suppkey", col("l_suppkey") + lit(k * nSupp))
    })
    write("events", rep(t("events")) { (d, k) =>
      d.withColumn("event_id", col("event_id") + lit(k * nEvt))
        .withColumn("user_id", col("user_id") + lit(k * nUser))
    })

    // documents: deterministic per-(text, copy) word permutation —
    // sort words by a keyed hash (position breaks ties totally)
    write("documents", rep(t("documents")) { (d, k) =>
      val words = split(col("text"), " ")
      val keyed = zip_with(words,
        sequence(lit(0), size(words) - lit(1)),
        (w, i) => struct(
          xxhash64(w, i, xxhash64(col("text")), lit(k)).as("h"),
          i.as("i"), w.as("w")))
      val permuted = array_join(
        transform(array_sort(keyed), s => s.getField("w")), " ")
      d.withColumn("doc_id", col("doc_id") + lit(k * nDoc))
        .withColumn("text", permuted)
        .withColumn("n_chars", length(col("text")).cast("long"))
    })

    // Heaps-law vocabulary twin of the documents table just written
    // (reads it back so the rewrite sees the final replicated frame)
    if (vocabGrow) {
      write("documents_vocabgrow",
        vocabGrown(spark.read.parquet(s"$out/documents.parquet"), nDoc))
    }

    // embeddings: ±0.05 hash noise per coordinate, renormalized
    write("embeddings", rep(t("embeddings")) { (d, k) =>
      val noisy = zip_with(col("embedding"),
        sequence(lit(0), size(col("embedding")) - lit(1)),
        (x, i) => x + (pmod(xxhash64(col("vec_id"), i, lit(k)), lit(1000L))
          .cast("float") / lit(10000.0f) - lit(0.05f)))
      val norm = sqrt(aggregate(noisy, lit(0.0),
        (acc, x) => acc + x.cast("double") * x.cast("double")))
      d.withColumn("vec_id", col("vec_id") + lit(k * nVec))
        .withColumn("embedding",
          transform(noisy, x => (x.cast("double") / norm).cast("float")))
    })

    spark.stop()
  }
}
