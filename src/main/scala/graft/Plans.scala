package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ExplainMode

/** Dumps formatted physical plans for the load-bearing queries into
  * PLANS.md — the artifact of the explain-and-iterate loop: each
  * section states the property the plan must exhibit (pruned scan,
  * early filter, broadcast, partial agg, long join keys), then shows
  * the plan that exhibits it. PlanSpec asserts the same properties in
  * CI; this file is the human-readable twin. Given query names, it
  * renders just their plans (before/after evidence for a plan claim).
  */
object Plans {

  private val commentary: Seq[(String, String)] = Seq(
    "q_cdc_changes" ->
      """Narrow envelope projection. What to check: `ReadSchema` lists only
        |the five referenced event columns (`value` is absent — column
        |pruning reached the parquet scan), and there is NO Exchange at
        |all — the harness sorts output rows itself, so the query pays no
        |sort either.""".stripMargin,
    "q_cdc_regex_filter" ->
      """Reference parity with the pre-decode regex prune (main.rs:260-262):
        |the rlike Filter sits DIRECTLY on the scan, before the envelope
        |projection.""".stripMargin,
    "q_cdc_backfill_page" ->
      """Keyset page (`pkey > last ORDER BY pkey LIMIT n`): plans as
        |`TakeOrderedAndProject`, never a global sort.""".stripMargin,
    "q_sim_topk" ->
      """Brute-force ANN top-k: the query set is broadcast
        |(`BroadcastExchange`); the corpus is scored in place and never
        |shuffles for the join. The only wide op afterwards is the
        |per-query top-k (WindowGroupLimit pushes the rank filter into the
        |sort).""".stripMargin,
    "q_dedup_minhash" ->
      """MinHash+LSH: signatures are a narrow codegen'd map (one md5 per
        |shingle, total); the band-bucket self-join shuffles only
        |(id, band, key) longs/strings, and the two sides reuse one
        |exchange (`ReusedExchange`). Exact verify joins ship long arrays
        |keyed by id.""".stripMargin,
    "q_dedup_ngram_prefix" ->
      """Prefix-filtered All-Pairs Jaccard: postings are 8-byte hash60
        |longs; doc frequency and the posting join reuse the same
        |hash-partitioned exchange; the per-doc prefix is a hash aggregate
        |(no window sort); verify is the one-pass native jaccard_micros60
        |on the already-carried arrays.""".stripMargin,
    "q_olap_revenue" ->
      """Multi-way fact join: nation is broadcast; the fact-to-fact joins
        |are shuffle hash/sort-merge on the keys with map-side partial
        |aggregation after; money math is integer cents so the distributed
        |sum is order-independent.""".stripMargin,
    "q_cdc_sessions2" ->
      """Two-phase sessionization: the FIRST (event-level) Exchange hashes
        |on (db, table, bk) — keys × time-buckets parallelism, not the
        |12-key cap — and the second window/aggregate runs over
        |bucket-local SESSIONS, already orders of magnitude smaller.""".stripMargin,
    "q_cdc_asof2" ->
      """Two-phase as-of join: same cap-breaking shape — the event-level
        |window partitions on (db, table, __bk); the carry-in resolution
        |joins a (keys × buckets) summary, and the final join is on
        |(keys, bucket), never a per-row range join.""".stripMargin,
    "q_dedup_ngram_salted" ->
      """Skew-salted posting join: the heavy-hitter shingle set rides a
        |BroadcastExchange (it splits the posting stream hot/cold); the
        |hot-side Exchange hashes on (h, salt) — one hot shingle spreads
        |across `salts` reducers — while the cold side joins on h alone.
        |Both pair streams union into one common-count aggregate.""".stripMargin,
    "q_sim_pq" ->
      """Product-quantization search: codebooks and the per-query LUT are
        |BroadcastExchanges; the corpus side is narrow maps (subvector
        |explode, in-row code pick) until the single partial-aggregated
        |ADC sum; the exact rerank joins only the top-`rerank` candidate
        |rows back to full vectors.""".stripMargin,
    "q_sim_ivfpq" ->
      """IVF × PQ composition: the trained centroid table and the LUT ride
        |BroadcastExchanges; candidate pairs come from the probed lists
        |(probes ⋈ assignment), ADC scores only those candidates from the
        |codes table, and the full-vector join appears ONLY after the
        |top-`rerank` cut.""".stripMargin,
    "q_curate_contamination" ->
      """Contamination check: posting self-join on 8-byte shingle hashes
        |split eval/train — no cartesian, no BroadcastNestedLoop; the
        |per-benchmark best-offender is one window over overlap rows
        |(∝ shared content, not eval × train).""".stripMargin,
    "q_sim_index_search_only" ->
      """Persisted-index serve path: what to check is what is ABSENT — no
        |Lloyd-round checkpoint scans (`Scan ExistingRDD`) anywhere: the
        |plan reads the five index tables + the corpus. Centroids,
        |codebooks, LUT and probe/candidate sets ride BroadcastExchanges;
        |the bucketed postings/codes scans feed their joins with no
        |Exchange between scan and join; the exact rerank joins only the
        |top-`rerank` candidates back to full vectors.""".stripMargin,
    "q_sim_index_flat" ->
      """Flat (no-PQ) serve path: probe the trained lists, rank probed
        |candidates by exact cosine — again no training residue; the
        |candidate dedup shuffles (qid, id) pairs only (the query
        |vectors re-attach from a BroadcastExchange afterwards), and the
        |codes tables never appear: the plan reads centroids + postings
        |+ the corpus.""".stripMargin,
    "q_sim_sq" ->
      """Brute-force SQ8 scan: the per-dim range row arrives via an
        |IdentityBroadcast; encode (`sq_encode`) and reconstruction
        |(`sq_recon` + its norm) are native expressions computed ONCE
        |per corpus row BELOW the query join (the HOF form collapsed
        |into per-pair — and per-output-element — re-evaluation); the
        |pair stage is just the codegen'd dot against broadcast
        |queries. The corpus never shuffles; only score rows reach the
        |rank windows.""".stripMargin,
    "q_sim_ivfsq" ->
      """IVF × SQ composition: the trained-IVF probe restricts
        |candidates (distinct (qid, id) pairs), reconstruction is
        |attached per DISTINCT candidate row, and the exact rerank
        |touches only the top-`rerank` survivors — the IVF_SQ8 layout
        |with no codebook training anywhere in the plan.""".stripMargin,
    "q_sim_index_sq" ->
      """SQ serve tier of the persisted artifact: centroids broadcast,
        |bucketed postings scanned in place, sq_codes join carries only
        |probed candidate ids, reconstruction per distinct candidate,
        |NO training stage (the ranges and codes are read, not
        |computed).""".stripMargin,
    "q_dedup_spans" ->
      """Exact substring spans: positional grams hash via codegen'd
        |md5/conv on long keys; the df-cap aggregation prunes
        |boilerplate grams BEFORE the self-join (partial agg on h); the
        |islands window keys on (id1, id2, diag) — pair spread, after
        |the join already cut the volume.""".stripMargin,
    "q_curate_overlap" ->
      """Cross-source near-dup matrix: the X4 posting join feeds two
        |broadcast-size source-lookup joins and one partial-aggregated
        |(source_a, source_b) rollup — no new wide op beyond the pair
        |machinery.""".stripMargin,
    "q_text_bm25" ->
      """BM25: the posting (tf) table joins the query terms, the df
        |table and the 1-row corpus stats ALL as BroadcastHashJoins —
        |the only shuffles are the index-build partial aggs ((id, tok),
        |id) and the per-(qid, id) score sum; ranking is a k-bounded
        |window per qid.""".stripMargin,
    "q_hybrid_rrf" ->
      """RRF fusion: two k-row-per-query rankings union, partial-agg
        |on (qid, doc_id), one window — everything after the two input
        |rankings is broadcast-scale arithmetic.""".stripMargin,
    "q_text_lm" ->
      """LM cross-entropy: the two bucket-count model tables enter as
        |BroadcastHashJoins over the cached gram stream (≤ nBuckets
        |rows each); the only exchanges are the two bucket-count
        |partial aggs and the final doc-keyed partial agg. Nothing
        |wide scales with vocabulary.""".stripMargin,
    "q_sim_knngraph" ->
      """Blocked kNN graph: centroids broadcast into the zero-shuffle
        |assignment; the candidate stage is a SortMergeJoin of the
        |assignment with itself ON THE LIST ID (never a cartesian);
        |ranking is one WindowGroupLimit-bounded window keyed on the
        |high-cardinality src_id.""".stripMargin,
    "q_dedup_edit" ->
      """Edit-verified near dups: the posting self-join carries only
        |(id, len, h) longs; texts enter AFTER candidate dedup via two
        |id-keyed joins, so the Levenshtein verify touches candidate
        |pairs only and strings never ride the posting shuffle.""".stripMargin,
    "q_curate_resample" ->
      """Gumbel-top-n resampling: the key is a narrow map over the
        |weight relation (hash + two ln, no new exchange), and the
        |global top-n plans as TakeOrderedAndProject — per-partition
        |top-n, single n-row driver merge, no global sort.""".stripMargin,
    "q_cdc_script" ->
      """User SQL script through the Transform host: the script
        |compiles into the SAME single narrow Project a built-in
        |transform gets (whole-stage codegen over the pruned events
        |scan) — no interpreter, no exchange; script cost is plan
        |cost.""".stripMargin,
    "q_sim_pagerank" ->
      """PageRank SERVED from the GraphStore artifact: edges enter
        |from the bucketed edge table (no Lloyd-round residue, no
        |ExistingRDD checkpoint scans — PlanSpec asserts it); each
        |round is one edge⨝rank join + one partial-agg shuffle, both
        |keyed on the edge endpoints.""".stripMargin,
    "q_io_shards" ->
      """Sharded-export audit: the export side is ONE hash exchange
        |on the shard id + narrow per-shard JSONL writes (no global
        |sort, no window, no driver packing); the audit side re-reads
        |the shards and partial-aggregates |shards| checksum rows.""".stripMargin,
    "q_sim_rproj" ->
      """Random-projection reduced-space top-k: the projection is a
        |narrow map (rdim codegen'd folds per row, no exchange before
        |the join); the query side broadcasts; the corpus never
        |shuffles — only the per-query top-k window does.""".stripMargin,
    "q_text_bpe" ->
      """BPE merge table: the SERVE plan scans only the checkpointed
        |one-row round picks — no parquet scan at all (the corpus-sized
        |histogram pass ran ONCE at build; every round iterated on the
        |bounded digest). PlanSpec asserts the no-corpus-scan shape.""".stripMargin,
    "q_curate_domcap" ->
      """Per-source domain cap: the row_number<=cap filter compiles to
        |WindowGroupLimit with a PARTIAL pass BEFORE the exchange —
        |each input partition forwards at most cap rows per source, so
        |the hot domain the cap exists for cannot flood the shuffle;
        |the |sources|-row sizes aggregate rides a
        |BroadcastExchange.""".stripMargin,
    "q_text_percentiles" ->
      """Exact nearest-rank length percentiles: the corpus-sized work
        |is the partial-aggregated (source, length) HISTOGRAM groupBy;
        |the running-count window sits ABOVE that aggregate and walks
        |histogram rows only — a giant source never lands in one window
        |task. PlanSpec asserts the window-over-aggregate shape.""".stripMargin,
    "q_text_normalize" ->
      """Normalization + dedup-key fingerprints: one narrow
        |whole-stage-codegen Project over the pruned documents scan —
        |no exchange anywhere; both md5 chains run at scan
        |speed.""".stripMargin,
    "q_dedup_cchunks" ->
      """Content-defined chunking: the entire boundary+fingerprint
        |computation is ONE native in-row expression (cdc_chunks) under
        |a Generate — zero exchanges, scan speed at any corpus size.
        |PlanSpec asserts the no-exchange shape.""".stripMargin,
    "q_dedup_cchunks_gate" ->
      """First-wins chunk admission: the in-row chunker feeds one fp
        |partial-agg (min claim), one fp-keyed join and one doc_id
        |partial-agg — every exchange keys on 8-byte longs; no pair
        |join anywhere.""".stripMargin,
    "q_diag_skew" ->
      """Key-skew profile: partial-agg count shuffle to |keys| rows,
        |then TakeOrderedAndProject for the top-N (never a global
        |sort) with the 1-row totals broadcast onto it. PlanSpec
        |asserts both.""".stripMargin,
    "q_diag_quantiles" ->
      """Log-histogram quantile sketch: corpus rows leave through ONE
        |partial-agg shuffle to (source, bin) histogram rows — the
        |binning (bit length + power-of-two sub-bins) is a codegen'd
        |narrow map on the scan side, so the shuffle carries bins, not
        |lengths. Both walk windows (cumulative + per-source total)
        |and the percentile explode ride the tiny histogram. What to
        |check: `ReadSchema` holds only (text, source); exactly one
        |corpus-sized Exchange.""".stripMargin,
    "q_text_runcollapse" ->
      """Within-doc run collapse: a ZERO-exchange narrow pass — the
        |token array materializes once per row (non-cheap alias,
        |referenced four times, so CollapseProject keeps the project
        |boundary), the keep-filter unrolls its maxRun comparisons at
        |plan time, and the md5 of the re-joined text is computed in
        |the same projection. PlanSpec asserts no Exchange
        |anywhere.""".stripMargin,
    "q_text_distinct_sketch" ->
      """Distinct-token sketch: explode → ONE partial-agg shuffle per
        |source carrying both the exact distinct (oracle truth) and
        |the HLL sketch partials — Datasketches HLL merges in the
        |aggregation buffer, so the shuffle moves fixed-size register
        |arrays, never token sets. At 100 TB the exact half is dropped
        |and the sketch column is the answer.""".stripMargin,
    "q_olap_value_quantiles" ->
      """Signed value-quantile brackets: the micro-quantization and
        |signed binning are one codegen'd narrow map on the scan, ONE
        |partial-agg shuffle to (event_type, bin) rows, then the walk
        |windows ride the tiny histogram — same shape as
        |q_diag_quantiles with a signed inverse.""".stripMargin,
    "q_io_warc" ->
      """WARC ingestion: binaryFile scan (one task per file — Common
        |Crawl's sharding contract), per-partition byte-level parse in
        |mapPartitions (the codec-boundary justification), NO shuffle
        |anywhere: record rows land partitioned exactly as their
        |files.""".stripMargin,
    "q_curate_urldedup" ->
      """URL dedup: binaryFile scan → per-partition WARC parse → the
        |canonicalization chain as one narrow Project → a single
        |partial-agg shuffle on the canonical key. Nothing else is
        |wide; the canonical URL is computed once per record inside
        |codegen.""".stripMargin,
    "q_text_html" ->
      """HTML extraction: a single narrow Project of chained
        |regexp_replace — no Exchange, no UDF; the whole WET hop runs
        |at scan speed inside whole-stage codegen.""".stripMargin,
    "q_text_vocab_mg" ->
      """Misra-Gries summary: ONE partial-agg shuffle to (source,
        |token) counts, then the compress windows (rank, threshold,
        |total) partition on the bounded source set — corpus rows
        |never enter a window un-aggregated. The threshold subtraction
        |and the capacity filter are narrow projections over count
        |rows.""".stripMargin,
    "q_diag_lendrift" ->
      """Length drift: a codegen'd narrow binning map feeds the X93
        |JS grid — the support is the ~100-value bin domain, so the
        |vocab/totals broadcasts are tiny and the only corpus-sized
        |stage is the binned partial agg.""".stripMargin,
    "q_curate_contamination_bloom" ->
      """Bloom-pre-filtered contamination: the one-row bit-array frame
        |enters as a BroadcastNestedLoopJoin (a single-row cross, by
        |design), the membership test is a codegen'd Filter of shifts/
        |element_at on the train shingle stream BEFORE the posting
        |join's Exchange — so the shuffle carries only might-match
        |shingles. Output identical to q_curate_contamination (shared
        |oracle); the Bloom stage is pure prune.""".stripMargin,
    "q_curate_semleak" ->
      """Semantic split leakage: the blocked cosine self-join (block
        |key equi-join — never all-pairs) feeds two narrow id-keyed
        |split-map joins and a 3-row aggregate. What to check: no
        |Cartesian/NestedLoop anywhere (PlanSpec asserts it); the
        |split maps are hash joins on id.""".stripMargin,
    "q_text_rm3" ->
      """Pseudo-relevance feedback: ONE shared index build (the tf
        |cache) feeds both scoring passes; the query-term sets and the
        |df/corpus stats ride BroadcastExchanges, so each pass costs
        |its matched postings — the feedback harvest joins a k-row-per-
        |query broadcast against tf. The EXPANDED query frame is
        |cache-once (round 10): the rescore references it from two
        |exchanges, and without the cache each broadcast re-ran the
        |whole pass-1 scoring (the r9 warm inversion — warm 9.4 s,
        |now 1.4 s). PlanSpec asserts the broadcast + LeftSemi
        |shape.""".stripMargin,
    "q_curate_diff" ->
      """Snapshot diff: two narrow fingerprint scans (codegen'd
        |md5/regex chains) into ONE id-keyed full-outer SortMergeJoin —
        |no pair joins, no windows; statuses compare 16-byte md5s,
        |never texts.""".stripMargin,
    "q_curate_budget" ->
      """Token-budget water-fill: the only corpus-sized stage is the
        |per-source token partial-agg; every window in the plan orders
        |the |sources|-row digest (single-partition by design at 20
        |rows), and the totals ride broadcasts.""".stripMargin,
    "q_text_ccnet" ->
      """CCNet terciles: the LM pass scores with BROADCAST count
        |tables (cost ∝ tokens); the tercile window partitions on the
        |bounded source set — per-row corpus data enters a window only
        |under its source key, never globally.""".stripMargin,
    "q_text_rm3_frozen" ->
      """Frozen-PRF serving: the SERVE side is one narrow Project —
        |a single term_counts evaluation per row (aliased once;
        |CollapseProject keeps a non-cheap alias referenced many
        |times un-inlined) feeding every per-query fold — plus the
        |top-k windows. The posting joins visible above it are the
        |FREEZE (runs once per execution here BY DESIGN; production
        |freezes once, serves many).""".stripMargin,
    "q_text_rm3_frozen_serve" ->
      """The PRODUCTION serving shape of the frozen-PRF model: the
        |freeze is session-cached (paid once, like the graft_idx
        |build), so this plan is ONLY the narrow scoring Project +
        |the per-query top-k windows — no posting joins, no index
        |build, nothing corpus-wide but the one scan.""".stripMargin,
    "q_mm_decode" ->
      """REAL ImageIO decode: fixture staging (PNG encode) and decode
        |fuse into one DeserializeToObject→MapPartitions→Serialize
        |chain over the documents scan — a single narrow stage, zero
        |Exchange. ReadSchema prunes to doc_id alone: the codec
        |pipeline carries bytes it synthesizes, never the text
        |column.""".stripMargin,
    "q_io_wet" ->
      """WET export round trip: the WRITE half is one hash exchange
        |(salted shard key) then task-direct gzip segment writes (no
        |driver collect, not in this read-back plan); the plan shown
        |is the PROOF half — file-parallel WARC parse (binaryFile
        |scan, one task per segment), narrow re-extraction of shard
        |and fingerprint, ONE partial-agg shuffle of shard-sized
        |checksum rows.""".stripMargin,
    "q_sim_knngraph_sqrtn" ->
      """The scale-correct seeding of the blocked kNN graph: same
        |serve-side plan as q_sim_knngraph (pure bucketed edge scan —
        |the build pays the Σ|list|² self-join once in setup), but the
        |build seeded nlist from the id space instead of the 10
        |labels, so list OCCUPANCY stays bounded as the corpus grows
        |(the sf1.0 point measured the label seeding at ~quadratic;
        |`Probe scale`: 13× from the seeding alone).""".stripMargin,
    "q_mm_audio" ->
      """REAL WAV decode, same shape as q_mm_decode: encode+parse in
        |one per-partition chain, no shuffle, doc_id-only
        |ReadSchema.""".stripMargin,
    "q_curate_nbtopgrams" ->
      """NB introspection: the gram pass partial-aggregates to
        |DISTINCT (class,bucket)/(gram,bucket) digests (gram
        |instances never shuffle), bucket stats ride
        |BroadcastExchanges back onto the gram frame, and the
        |per-class top-m compiles to WindowGroupLimit — each input
        |partition forwards ≤ m rows per class before the
        |exchange.""".stripMargin,
    "q_curate_clustersample" ->
      """Cluster-balanced sample: centroids train in the bounded
        |Lloyd loop, the corpus assigns through ONE BroadcastExchange
        |(the collapsed centroid row — no shuffle), and the
        |per-cluster quota compiles to WindowGroupLimit: each input
        |partition forwards at most n rows per cluster BEFORE the
        |exchange, so the sample's shuffle carries ≤ nlist·n·tasks
        |rows, never the corpus.""".stripMargin,
    "q_curate_epochshuffle" ->
      """Reproducible epoch shuffle: ONE hash exchange on the salted
        |shard id, then the within-shard order is a LOCAL sort (the
        |window partitions on `shard` — no global Sort node, no
        |single-partition window), collapsing into the per-shard
        |digest agg. The terasort-per-shard shape production uses to
        |lay out training data.""".stripMargin,
    "q_curate_nbclassify" ->
      """Hashed-NB classifier, train+serve in one plan: the hashed
        |gram base is ONE cached scan (InMemoryTableScan) feeding the
        |model aggs and the scoring agg; the ≤ K·nBuckets model and
        |the K-row class digest enter scoring as BroadcastExchanges
        |(the hashing trick's bounded-model contract), so corpus rows
        |cross only the (doc,bucket) compression and (doc,class)
        |partial-agg shuffles; the argmax is a per-doc window.""".stripMargin,
    "q_sim_mrl_rerank" ->
      """Matryoshka truncate-then-rerank (round 12): stage 1 scores the
        |16-dim PREFIX against broadcast queries (the corpus never
        |shuffles); stage 2's k·factor candidate frame enters the
        |full-vector re-score as a BroadcastExchange — no SortMergeJoin
        |anywhere, so the rerank never re-shuffles the corpus it
        |already scanned. PlanSpec pins both properties.""".stripMargin,
    "q_text_bm25_pruned" ->
      """Impact-ordered posting pruning (round 12): the per-term top-m
        |posting cut compiles to WindowGroupLimit (Partial before the
        |exchange — a head term's corpus-sized posting list forwards
        |at most m rows per input partition), and the df stats keep
        |X103's query-term LeftSemi restriction below their
        |aggregation, so no vocab-sized broadcast exists.""".stripMargin,
    "q_curate_exemplars" ->
      """Multi-signal exemplar fusion (round 12): the three quality
        |signals are ONE narrow codegen'd projection over the pruned
        |documents scan; the per-source min/max ranges enter the
        |fusion as a tiny BroadcastExchange (six longs per source —
        |the reason this is min-max fusion and not rank fusion); the
        |per-source top-n compiles to WindowGroupLimit.""".stripMargin,
    "q_text_pmi" ->
      """PMI collocations (round 12): the corpus leaves through two
        |partial-agg count shuffles (unigrams, bigrams); the scoring
        |joins key on tokens over COUNT DIGESTS, never token
        |instances; corpus totals ride two one-row BroadcastExchanges;
        |the global top-m is TakeOrderedAndProject — per-partition
        |top-m, the driver merges m·partitions rows, no full
        |sort.""".stripMargin,
    "q_text_oov" ->
      """Frozen-vocab OOV scoring (round 12): the freeze half (top-s
        |ranking) runs over the Heaps-bounded vocab digest — the
        |single-partition window warns, on ≤ |vocab| count rows, never
        |the corpus. The SERVE half is the plan to check: scoring is
        |one narrow codegen'd projection whose stopword_hits carries
        |the whole vocab inside the compiled expression — zero
        |exchanges, not even a broadcast (PlanSpec pins the serve-only
        |plan).""".stripMargin,
    "q_pipe_cdc" ->
      """X145 CDC end-to-end composite (round 13): the reference's
        |main() as one plan. What to check: the rlike filter (F1) sits
        |directly on the events scan (pre-decode prune, main.rs parity);
        |the WHOLE composition pays exactly ONE key Exchange — the LWW
        |merge window on the union — and everything downstream
        |(Debezium/BigQuery transforms, topic routing) is a narrow
        |codegen'd projection over the merged rows: the composition adds
        |NO shuffle over its costliest stage.""".stripMargin,
    "q_pipe_cdc_ann" ->
      """X158 CDC→ANN composite (round 16): the change stream maintains
        |the persisted IVF×PQ index through ONE upsert per part, then
        |serves. The plan shown is the SERVE stage over the maintained
        |artifact (the build/upsert are actions that ran before this
        |explain): what to check — NO training stage anywhere (no Lloyd
        |checkpoint scans), centroids/codebooks/LUT ride
        |BroadcastExchange, the bucketed postings/codes scans carry no
        |Exchange before their joins, and the LWW merge feeding the
        |query corpus pays its one window Exchange on the key.""".stripMargin,
    "q_pipe_cdc_graph" ->
      """X159 CDC→kNN-graph composite (round 16; r17: ONE fused
        |GraphStore.upsert per batch instead of delete+append): the
        |change stream maintains the persisted graph, then serves the
        |edge list. What to check: the serve is ONE bucketed scan of
        |the edges table — no training stage, no Exchange at all (the
        |harness sorts rows itself); all maintenance cost happened in
        |the upsert actions, leaving the artifact pre-ranked.""".stripMargin,
    "q_pipe_cdc_all" ->
      """X160 one-stream trilogy composite (round 17): ONE decoded
        |change stream maintains the text index, the ANN index and the
        |kNN graph (one LWW collapse, three concurrent upserts), then
        |serves all three surfaces as one union frame. The plan shown
        |is the three SERVE subtrees unioned: what to check — the BM25
        |leg's postings/stats scans carry `SelectedBucketsCount`
        |(tok-bucket pruning), the ANN leg broadcasts
        |centroids/codebooks with no Exchange on the bucketed
        |postings/codes side, the graph leg is a bare bucketed edges
        |scan, and NO training stage appears anywhere — the union adds
        |no shuffle of its own (each leg keeps its independent
        |exchanges; unionByName is plan-level concatenation).""".stripMargin,
    "q_dedup_minhash_recall_sampled" ->
      """X146 fixed-budget sampled recall harness (round 13): the
        |deterministic hash-sample predicate sits ON THE SCAN of every
        |pass (truth postings, banding, verify all read the documents
        |scan with the pushed sample filter), so the Σdf² truth join
        |runs over the ~targetDocs sample, never the corpus — the
        |measurement budget, not the data size, prices the
        |harness.""".stripMargin,
    "q_text_index_search" ->
      """X149 persisted text index, the serve plan (round 13): the
        |postings and stats scans carry `SelectedBucketsCount` — the
        |tok IN (query terms) filter prunes BUCKETS, so serving reads
        |~|terms|/nBuckets of the posting files, never the corpus. No
        |explode/tokenize anywhere: the index IS the tokenized corpus.
        |Query terms, summed stats and the corpus row ride
        |BroadcastExchanges; the only shuffle the corpus side sees is
        |the matched postings meeting the id-bucketed dl
        |table.""".stripMargin,
    "q_text_phrase" ->
      """X150 in-plan phrase search (round 14): ONE posexplode pass
        |whose `tok IN (phrase terms)` filter sits on the generated
        |stream, cached once and reused by every per-term leg; each
        |phrase is an equi-join chain on (id, start) over those pruned
        |position lists, the counts aggregate on (pid, id), and the
        |top-k is the usual partial WindowGroupLimit. Cost ∝ the
        |phrase terms' position lists, never the corpus.""".stripMargin,
    "q_text_index_phrase" ->
      """X150 artifact phrase serving (round 14): the positional part's
        |scan carries `SelectedBucketsCount` — the phrases' terms prune
        |tok-buckets — and there is NO explode anywhere: the tokenize
        |pass was paid at build. The ranking subtree is byte-identical
        |to q_text_phrase's (shared phraseRank), so the gate shares its
        |oracle.""".stripMargin,
    "q_text_near" ->
      """X151 proximity search (round 14): same pruned positional
        |stream as X150; per query pair the two position lists
        |equi-join on the doc id and the window predicate |pa−pb| ≤ w
        |evaluates as a codegen'd post-join filter — no range-join
        |blowup because both sides are single-term position lists, not
        |the corpus.""".stripMargin,
    "q_text_index_kwic" ->
      """X153 artifact KWIC serving (round 14): min-position and tf
        |come from the bucket-pruned pos scan (`SelectedBucketsCount`);
        |the documents scan feeds ONLY the snippet join on the matched
        |ids — the corpus text is never exploded, and the only
        |tokenize in the plan is the narrow split() that builds the
        |matched rows' token arrays for slicing.""".stripMargin,
    "q_text_retrieval_metrics" ->
      """X147 retrieval quality metrics (round 13): qrels cost ∝ the
        |query terms' postings — the (doc, tok) stream joins a
        |BroadcastExchange of the query terms before any aggregation;
        |the metric aggregates run over |queries|·k ranked rows and
        |per-qid digests; the nDCG discount/idcg tables ride inside the
        |compiled expressions as literals (no join, no broadcast). No
        |corpus-wide shuffle beyond the BM25 index build the ranker
        |itself owns.""".stripMargin)

  /** PLANS.md for the load-bearing queries, with their commentary; or,
    * given query names, only those queries' formatted plans.
    */
  def render(spark: SparkSession, sfDir: String,
      names: Seq[String] = Nil): String = {
    def section(name: String, note: Option[String]): String = {
      val plan = SparkEntry.queries(name)(spark, sfDir)
        .queryExecution.explainString(ExplainMode.fromString("formatted"))
      s"\n## $name\n\n${note.fold("")(_ + "\n\n")}```\n$plan```\n"
    }
    if (names.nonEmpty) names.map(section(_, None)).mkString
    else "# PLANS — formatted physical plans of the load-bearing queries\n\n" +
      "Generated by `graft.Plans` at sf0.001; the same properties are\n" +
      "asserted by `PlanSpec` in CI.\n" +
      commentary.map { case (name, note) => section(name, Some(note)) }.mkString
  }

  /** `Plans [out] [sfDir] [q_name...]` */
  def main(args: Array[String]): Unit = {
    val out = args.headOption.getOrElse("PLANS.md")
    val sfDir = args.drop(1).headOption.getOrElse("/root/testdata/sf0.001")
    val spark = SessionConf.session(4)
    try Files.write(Paths.get(out),
      render(spark, sfDir, args.drop(2).toSeq).getBytes(StandardCharsets.UTF_8))
    finally spark.stop()
    println(s"[plans] wrote $out")
  }
}
