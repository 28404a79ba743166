package graft.streaming

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming twin of the batch LWW merge (SURVEY §2.3 M1/M2;
  * cdc.Merge.lww is the batch form).
  *
  * The reference resolves the backfill-vs-live race pairwise on the
  * two currently-polled records (reference/src/main.rs:90-121) and
  * keeps NO per-key state; the intended semantics (SURVEY §7.4) —
  * last-writer-wins per key, live > backfill on ties, Delete beats
  * Backfill — need keyed state in a streaming engine, which is exactly
  * `flatMapGroupsWithState`: state = the current winning record per
  * (db, table, pkey-value) key.
  *
  * Scale: state is one small record per live key; the stream shuffles
  * once on the merge key (the same single shuffle as the batch
  * window). For unbounded key spaces, [[mergeWithTtl]] evicts state
  * via processing-time timeout — after eviction a late stale record
  * can win again, the standard state-TTL trade-off; size the TTL to
  * the snapshot duration (the race window the reference resolves).
  */
object LwwMerge {

  /** A keyed change record: `key` = merge identity (db.table.pkey
    * value), `precedence` live=1/backfill=0, `seq` a unique tie-break,
    * `payload` the row body (JSON at the envelope boundary).
    */
  case class KeyedChange(key: String, op: String, ts_sec: Long, seq: Long,
      precedence: Int, payload: String)

  /** Total LWW order: (ts, precedence, seq) — mirrors the batch
    * window's `orderBy(ts desc, precedence desc, seq desc)`.
    */
  def wins(a: KeyedChange, b: KeyedChange): KeyedChange = {
    import scala.math.Ordering.Implicits._
    if ((a.ts_sec, a.precedence, a.seq) >= ((b.ts_sec, b.precedence, b.seq))) a else b
  }

  private def resolve(key: String, it: Iterator[KeyedChange],
      state: GroupState[KeyedChange]): Iterator[KeyedChange] = {
    val incoming = it.reduceOption(wins)
    val winner = (state.getOption ++ incoming).reduceOption(wins)
    // a stored winner that still wins is neither rewritten nor emitted
    winner.filterNot(state.getOption.contains) match {
      case Some(w) =>
        state.update(w)
        Iterator.single(w)
      case None => Iterator.empty
    }
  }

  /** Update-mode merge: emits the new per-key winner whenever it
    * changes. Tombstones (op=Delete) ARE emitted — the sink decides
    * (BigQuery-CDC turns them into _CHANGE_TYPE=DELETE; the batch
    * materialization filters them).
    */
  def merge(changes: Dataset[KeyedChange]): Dataset[KeyedChange] = {
    val spark = changes.sparkSession
    import spark.implicits._
    changes
      .groupByKey(_.key)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout)(
        (key, it, state: GroupState[KeyedChange]) => resolve(key, it, state))
  }

  /** TTL variant: per-key state dropped `ttlMs` after the last update
    * (processing time), bounding state for unbounded key spaces.
    */
  def mergeWithTtl(changes: Dataset[KeyedChange], ttlMs: Long): Dataset[KeyedChange] = {
    val spark = changes.sparkSession
    import spark.implicits._
    changes
      .groupByKey(_.key)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.ProcessingTimeTimeout)(
        (key, it, state: GroupState[KeyedChange]) => {
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            val out = resolve(key, it, state)
            if (state.exists) state.setTimeoutDuration(ttlMs)
            out
          }
        })
  }
}
