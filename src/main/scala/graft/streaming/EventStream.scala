package graft.streaming

import java.sql.Timestamp
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured-Streaming operators over the `events` stream shape
  * (event_id, ts, user_id, event_type, value, props).
  *
  * The reference is batch-only (SURVEY §2.5) — this is the extension
  * surface: the same declarative plans run incrementally via
  * `readStream`/`writeStream`, with watermarked tumbling windows and
  * custom session state through `flatMapGroupsWithState`. At scale
  * state is partitioned by the grouping key across executors; the
  * watermark bounds state size.
  */
object EventStream {

  final case class Event(event_id: Long, ts: Timestamp, user_id: Long,
      event_type: String, value: Double)

  final case class Session(user_id: Long, start: Timestamp, end: Timestamp,
      events: Long, total: Double)

  /** Per-user in-flight session (kept public: Catalyst's generated
    * encoder code needs accessor visibility). */
  final case class SessionState(start: Long, end: Long,
      events: Long, total: Double)

  /** File-source stream over a directory of events parquet. */
  def readEvents(spark: SparkSession, dir: String): DataFrame =
    spark.readStream
      .schema("event_id BIGINT, ts TIMESTAMP, user_id BIGINT, " +
        "event_type STRING, value DOUBLE, props STRING")
      .parquet(dir)

  /** Watermarked tumbling-window aggregation: late events beyond the
    * watermark are dropped, closed windows emit exactly once in
    * append mode. */
  def windowedCounts(events: DataFrame, window_ : String = "1 hour",
      watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), window_), col("event_type"))
      .agg(count(lit(1)).as("cnt"), sum(col("value")).as("total"))
      .select(col("window.start").as("window_start"),
        col("event_type"), col("cnt"), col("total"))

  /** Gap-based sessionization with explicit state
    * (KeyValueGroupedDataset.flatMapGroupsWithState): a session closes
    * after `gapMs` of event-time inactivity per user. Event-time
    * timeouts (driven by the watermark) keep the plan deterministic
    * and replayable — processing-time timeouts would busy-loop empty
    * micro-batches and break reprocessing. */
  def sessions(events: Dataset[Event], gapMs: Long = 30 * 60 * 1000L)
      : Dataset[Session] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", s"${gapMs / 1000} seconds")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, Session](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (userId: Long, rows: Iterator[Event], state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator(Session(userId, new Timestamp(s.start), new Timestamp(s.end),
              s.events, s.total))
          } else {
            val sorted = rows.toSeq.sortBy(_.ts.getTime)
            var closed = List.empty[Session]
            var cur = state.getOption
            for (e <- sorted) {
              val t = e.ts.getTime
              cur match {
                case Some(s) if t - s.end <= gapMs =>
                  cur = Some(s.copy(end = math.max(s.end, t),
                    events = s.events + 1, total = s.total + e.value))
                case Some(s) =>
                  closed ::= Session(userId, new Timestamp(s.start),
                    new Timestamp(s.end), s.events, s.total)
                  cur = Some(SessionState(t, t, 1, e.value))
                case None =>
                  cur = Some(SessionState(t, t, 1, e.value))
              }
            }
            cur.foreach { s =>
              state.update(s)
              state.setTimeoutTimestamp(s.end + gapMs)
            }
            closed.reverseIterator
          }
      }
  }

  /** Incremental sink into a warehouse-style parquet directory with
    * checkpointing (exactly-once file sink). */
  def writeTo(df: DataFrame, outDir: String, checkpointDir: String) =
    df.writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpointDir)
      .format("parquet")
      .option("path", outDir)

  /** Incremental MERGE into a managed warehouse table: every
    * micro-batch runs the full View write path (key dedupe, FK
    * resolution, update/insert merge, atomic snapshot swap) via
    * `foreachBatch`.
    *
    * Restart/exactly-once: the checkpoint tracks source offsets, and
    * the merge is idempotent on the table key — a micro-batch replayed
    * after a crash (offsets committed, sink action re-run) upserts the
    * same keys to the same values, so the TABLE STATE is exactly-once
    * even though the side effect may run twice. On a bucketed table
    * each micro-batch rewrites only the buckets its keys hash into
    * (the 100-TB path: ingest cost scales with batch footprint, not
    * table size). */
  def mergeInto(df: DataFrame, env: graft.Env, table: String,
      fields: Seq[String], checkpointDir: String) = {
    df.writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpointDir)
      .foreachBatch(mergeSink(env, table, fields))
  }

  /** The [[mergeInto]] batch sink, exposed for direct testing. Refuses
    * to run on a thread holding an open [[graft.Env.transaction]]: the
    * write would buffer its pointer swap into a transaction this sink
    * never commits, so the batch would silently vanish. (Structured
    * Streaming runs sinks on its own micro-batch thread, which never
    * inherits the caller's transaction — this guards the refactor that
    * would change that, e.g. calling the sink inline.) */
  private[graft] def mergeSink(env: graft.Env, table: String,
      fields: Seq[String]): (DataFrame, Long) => Unit =
    (batch: DataFrame, _: Long) => {
      require(!env.warehouse.inTransaction,
        "streaming merge sink invoked inside a transaction: its write " +
          "would buffer into a transaction the sink never commits")
      env.view(table, fields).write(batch): Unit
    }

  /** Streaming NEAR-DUP-FILTERED ingest: every micro-batch is deduped
    * against the persisted minhash corpus index
    * ([[graft.ops.Dedup.buildMinhashIndex]]), then within itself, and
    * the survivors are merged into the managed table AND appended to
    * the index — so later batches (and later restarts) dedup against
    * everything ingested so far. The streaming shape of a training-
    * data ingestion firewall: per-batch cost scales with the batch,
    * never the corpus.
    *
    * Crash-safety, per sink step order (dedup → merge → append):
    * a batch replayed after the append committed is fully dropped by
    * the index dedup (its docs are their own near-dups), and the
    * table merge it would have re-run is idempotent anyway; a batch
    * replayed after merge but before append re-merges the same keys
    * to the same values and re-appends. Either way the TABLE holds
    * exactly the novel documents; the index is at-least-once (row
    * duplicates cost bytes, never decisions). */
  def dedupedMergeInto(df: DataFrame, env: graft.Env, table: String,
      fields: Seq[String], idCol: String, textCol: String,
      indexPath: String, checkpointDir: String,
      threshold: Double = 0.8) = {
    df.writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpointDir)
      .foreachBatch(dedupedMergeSink(env, table, fields, idCol, textCol,
        indexPath, threshold))
  }

  /** The [[dedupedMergeInto]] batch sink; same ambient-transaction
    * guard as [[mergeSink]] — here a buffered (never-committed) table
    * write would be WORSE than a lost batch, because the index append
    * below still lands, so the replayed batch would be dropped as a
    * near-dup of itself and the documents lost forever. */
  private[graft] def dedupedMergeSink(env: graft.Env, table: String,
      fields: Seq[String], idCol: String, textCol: String,
      indexPath: String, threshold: Double): (DataFrame, Long) => Unit =
    (batch: DataFrame, _: Long) => {
      require(!env.warehouse.inTransaction,
        "streaming deduped-merge sink invoked inside a transaction: its " +
          "table write would buffer into a transaction the sink never " +
          "commits, while the index append still lands")
      graft.ops.Scope {
        val fresh = graft.ops.Dedup.dedupAgainstIndex(
          batch, idCol, textCol, indexPath, threshold)
        // two consumers below; also pins the decision
        val kept = graft.ops.Scope.checkpoint(
          graft.ops.Dedup.minhashDedup(fresh, idCol, textCol, threshold))
        if (!kept.isEmpty) {
          env.view(table, fields).write(kept)
          graft.ops.Similarity.appendToIndex(kept, textCol, idCol, indexPath)
        }
      }
    }

  /** [[dedupedMergeInto]]'s EMBEDDING twin: every micro-batch of
    * (id, vector, …) rows is semantically deduped against the
    * persisted cluster index
    * ([[graft.ops.Similarity.buildSemanticIndex]]), then within
    * itself (exact cosine over LSH candidates), and the survivors
    * merge into the managed table AND append into their assigned
    * cluster partitions — later batches and restarts dedup against
    * everything ingested so far, at batch-proportional cost. Same
    * crash-safety ledger as the text sink: the table holds exactly
    * the novel vectors, the index is at-least-once. */
  def vectorDedupedMergeInto(df: DataFrame, env: graft.Env, table: String,
      fields: Seq[String], idCol: String, vecCol: String,
      indexPath: String, checkpointDir: String,
      threshold: Double = 0.95) = {
    df.writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpointDir)
      .foreachBatch(vectorDedupedMergeSink(env, table, fields, idCol,
        vecCol, indexPath, threshold))
  }

  /** The [[vectorDedupedMergeInto]] batch sink (same ambient-
    * transaction guard as [[dedupedMergeSink]], for the same
    * lost-forever reason). The checkpoint pins the survivor set
    * BEFORE the index append: the append's commit invalidates cached
    * plans reading the index, and an unpinned survivor frame
    * re-evaluated afterwards would self-collide with the rows it just
    * appended. Vector dims come from the index's own metadata (the
    * authoritative build-time contract) rather than probing the
    * batch's first row — no extra per-batch job, and a null vector
    * cannot kill the stream. Null-vector rows carry nothing to dedup
    * or index, but they are still EVENTS: they merge into the table
    * (trivially novel — no vector to collide on) and only skip the
    * dedup passes and the index append. Mismatched NON-null dims
    * still fail loudly inside the dedup ops. */
  private[graft] def vectorDedupedMergeSink(env: graft.Env, table: String,
      fields: Seq[String], idCol: String, vecCol: String,
      indexPath: String, threshold: Double): (DataFrame, Long) => Unit =
    (batch: DataFrame, _: Long) => {
      require(!env.warehouse.inTransaction,
        "streaming vector-deduped-merge sink invoked inside a " +
          "transaction: its table write would buffer into a transaction " +
          "the sink never commits, while the index append still lands")
      val dims = graft.ops.IndexDir.readAs[graft.ops.IndexDir.SemanticMeta](
        batch.sparkSession, indexPath, "semantic").dims
      val vecs = batch.filter(col(vecCol).isNotNull)
      graft.ops.Scope {
        val fresh = graft.ops.Similarity.semanticDedupAgainstIndex(
          vecs, vecCol, idCol, indexPath, threshold)
        val kept = graft.ops.Scope.checkpoint(graft.ops.Similarity.cosineDedup(
          fresh, vecCol, idCol, threshold, dims))
        val all = kept.unionByName(batch.filter(col(vecCol).isNull))
        if (!all.isEmpty) {
          env.view(table, fields).write(all)
          if (!kept.isEmpty)
            graft.ops.Similarity.appendToIndex(kept, vecCol, idCol, indexPath)
        }
      }
    }
}
