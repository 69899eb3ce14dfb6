package graft.streaming

import graft.catalog.Catalog
import graft.core.Cell
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** The reference's WAL-shipping replication stream
  * (`hbase/replication/regionserver/ReplicationSource.java:69` tails WALs,
  * ships edit batches; `ReplicationSink` replays them) re-expressed as
  * Structured Streaming:
  *
  *  - the change feed is a directory of appended cell-batch parquet files
  *    (the WAL analog; every `Catalog.append` data dir is exactly such a
  *    batch);
  *  - the source is a file stream over that directory;
  *  - the sink merges each micro-batch into the target table via
  *    `foreachBatch` — at-least-once delivery with ts/seq-keyed idempotent
  *    replay (duplicate cells carry identical coordinates, so resolve's
  *    same-(coords,ts,seq) dedup makes reapplication a no-op), matching
  *    the reference's at-least-once + timestamp-idempotent contract.
  *
  * Checkpointing (the WAL position znode analog —
  * `ReplicationSourceManager` logPositions) is Spark's own checkpoint dir.
  */
object Replication {

  /** Open the change feed: an unbounded stream of cells. */
  def changeFeed(spark: SparkSession, feedDir: String,
      maxFilesPerTrigger: Int = 16): DataFrame =
    spark.readStream
      .schema(Cell.schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      // batches land as sub-directories (one per append, like WAL files)
      .option("recursiveFileLookup", "true")
      .parquet(feedDir)

  /** Open a catalog TABLE's own history as the change feed — no parallel
    * feed directory, no double-publishing writers: every `Catalog.append`
    * commits exactly one immutable `data-{v}` dir, so the table's `data-*`
    * glob IS its WAL (`ReplicationSource.java:334,518` tails the region
    * server's log the same way). Compaction rewrites land under
    * `compact-{v}` and are invisible to the glob — compactions never
    * re-enter the reference's WAL either — and bulk-loaded dirs are
    * adopted by reference at their original path, reproducing the
    * reference's documented bulk-load/replication bypass.
    *
    * Any table is replicable after the fact: the stream's first batches
    * replay all committed appends, then it tails new ones. */
  def tableChangeFeed(spark: SparkSession, catalogRoot: String, table: String,
      maxFilesPerTrigger: Int = 16): DataFrame =
    spark.readStream
      .schema(Cell.schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .option("recursiveFileLookup", "true")
      .parquet(s"$catalogRoot/$table/data-*")

  /** Ship the feed into a target catalog table. Returns the running query;
    * callers own its lifecycle. `nowMsOf` stamps each committed batch
    * deterministically from the batch id (no wall clock on executors). */
  def replicate(feed: DataFrame, catalog: Catalog, targetTable: String,
      checkpointDir: String, nowMsOf: Long => Long = identity): StreamingQuery =
    feed.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        appendBatch(catalog, targetTable, batch, nowMsOf(batchId)): Unit
      }
      .start()

  /** Append one micro-batch, sized and tested for emptiness with no
    * Spark job; an empty batch commits nothing (false). The sink hands
    * `foreachBatch` a LogicalRDD — so `inputFiles` is empty there — that
    * carries the file source relation's statistics: the lengths of the
    * batch's files. Passing them on lets [[Catalog.append]] write a
    * small batch as one sorted partition, with no range sampling. */
  private def appendBatch(catalog: Catalog, table: String, batch: DataFrame,
      nowMs: Long): Boolean = {
    val size = batch.queryExecution.optimizedPlan.stats.sizeInBytes
    if (size > 0)
      catalog.append(table, batch, nowMs, Some(size).filter(_.isValidLong).map(_.toLong))
    size > 0
  }

  /** [[replicate]] with the reference's flush-triggered maintenance loop:
    * after every flush the region server asks for a compaction check
    * (`MemStoreFlusher.java:215,250,328` →
    * `CompactSplitThread.compactionRequested`), so a continuously-ingesting
    * region never accumulates an unbounded tail of small store files. Here
    * each committed micro-batch is the flush; after the append the sink
    * runs the size-ratio minor-compaction check on the TARGET table
    * ([[graft.GraftTable.minorCompact]] — a no-op until `minBatches` small
    * deltas qualify, so steady state pays one fold per ~`minBatches`
    * batches and big old batches are never re-read).
    *
    * `keepVersions > 0` additionally prunes manifest history to that many
    * versions and vacuums unreferenced dirs after each fold — bounded
    * storage for an unbounded stream. That is WAL/HFile cleanup
    * (`CleanerChore` semantics): snapshots stay protected (the vacuum
    * respects the snapshot reference set), but a NEW change-feed tailer of
    * the target can no longer replay folded-away `data-*` history, exactly
    * as replication cannot start from before the reference's log cleanup.
    * `keepVersions = 0` (default) compacts without vacuuming — time travel
    * over the stream's whole history stays available until an explicit
    * vacuum. */
  def replicateMaintained(feed: DataFrame, target: graft.GraftTable,
      checkpointDir: String, nowMsOf: Long => Long = identity,
      ratio: Double = 1.2, minBatches: Int = 3, maxBatches: Int = 10,
      keepVersions: Int = 0): StreamingQuery =
    feed.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val now = nowMsOf(batchId)
        if (appendBatch(target.g.catalog, target.name, batch, now)) {
          val folded = target.minorCompact(now, ratio, minBatches, maxBatches)
          if (folded.nonEmpty && keepVersions > 0) {
            target.g.catalog.expireVersions(target.name, keepVersions)
            target.g.vacuum(target.name): Unit
          }
        }
      }
      .start()

  /** Streaming per-key latest-state view — emits an UPDATE row for a
    * (row, family, qualifier) whenever a newer (ts, seq) Put arrives,
    * via `flatMapGroupsWithState` in Update mode (the memstore re-homed as
    * Spark-managed group state).
    *
    * Scale posture: state is one small (ts, seq, value) record per LIVE
    * key — never re-emitted wholesale (a complete-mode aggregation, the
    * r01 formulation, holds AND re-outputs every key ever seen each
    * trigger: unbounded on an unbounded keyspace). `idleTimeout` expires
    * keys idle longer than the given processing-time duration, bounding
    * state for drifting keyspaces — after expiry, a late stale edit can
    * re-emit as "latest" (the usual watermark-horizon trade; pick the
    * horizon to cover replay lag). For a durably materialized current
    * state, pair [[replicate]] with `majorCompact` on the peer — state
    * lives in the table, not in executors. */
  def latestState(feed: DataFrame, stateHorizonMs: Option[Long] = None,
      watermarkDelay: String = "10 seconds",
      tsDivisorToMillis: Long = 1L): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val spark = feed.sparkSession
    import spark.implicits._
    val base = feed.filter(col("kind") === graft.core.CellKind.Put)
      // the event-time column must SURVIVE into the stateful operator's
      // input for EventTimeTimeout to pass the streaming checker
      .withColumn("_event_time",
        timestamp_millis((col("ts") / tsDivisorToMillis).cast("long")))
    val withTime = stateHorizonMs.fold(base)(_ =>
      base.withWatermark("_event_time", watermarkDelay))
    val puts = withTime
      .select(col("row"), col("family"), col("qualifier"), col("ts"),
        col("seq"), col("value"), col("_event_time"))
      .as[(Array[Byte], String, Array[Byte], Long, Long, Array[Byte], java.sql.Timestamp)]
      .groupByKey { case (row, fam, qual, _, _, _, _) => (row, fam, qual) }
    val timeoutConf =
      if (stateHorizonMs.isDefined) GroupStateTimeout.EventTimeTimeout()
      else GroupStateTimeout.NoTimeout()
    // state = (ts, seq, value, lastTsMs) of the current latest
    puts.flatMapGroupsWithState(
      OutputMode.Update(), timeoutConf) {
      (key: (Array[Byte], String, Array[Byte]),
          rows: Iterator[(Array[Byte], String, Array[Byte], Long, Long, Array[Byte], java.sql.Timestamp)],
          state: GroupState[(Long, Long, Array[Byte], Long)]) =>
        if (state.hasTimedOut) {
          state.remove()
          Iterator.empty
        } else {
          val newest = rows.map(r => (r._4, r._5, r._6, r._7.getTime))
            .reduceOption((a, b) =>
              if (a._1 > b._1 || (a._1 == b._1 && a._2 >= b._2)) a else b)
          val cur = state.getOption
          val winner = (cur.toSeq ++ newest.toSeq)
            .reduceOption((a, b) =>
              if (a._1 > b._1 || (a._1 == b._1 && a._2 >= b._2)) a else b)
          winner match {
            case Some(w) =>
              state.update(w)
              stateHorizonMs.foreach { h =>
                // the timeout must stay ahead of the current watermark
                state.setTimeoutTimestamp(
                  math.max(w._4 + h, state.getCurrentWatermarkMs() + 1))
              }
              if (cur.contains(w)) Iterator.empty // stale edit: no change
              else Iterator.single((key._1, key._2, key._3, w._3, w._1))
            case None => Iterator.empty
          }
        }
    }.toDF("row", "family", "qualifier", "value", "ts")
  }

  /** Streaming dedup over the change feed: at-least-once delivery made
    * exactly-once-per-cell downstream by dropping duplicate cell
    * coordinates within the watermark horizon. `_event_time` (functionally
    * determined by `ts`) is part of the dedup key — Spark only expires
    * dedup state for keys that CONTAIN the watermarked event-time column,
    * so without it the state would grow forever. */
  def dedupedFeed(feed: DataFrame, watermarkDelay: String,
      tsDivisorToMillis: Long = 1L): DataFrame =
    feed
      .withColumn("_event_time",
        timestamp_millis((col("ts") / tsDivisorToMillis).cast("long")))
      .withWatermark("_event_time", watermarkDelay)
      .dropDuplicates("row", "family", "qualifier", "ts", "kind", "seq",
        "_event_time")
      .drop("_event_time")

  /** Watermarked event-time windowed aggregation over the change feed:
    * edits-per-family per tumbling window, late cells beyond the
    * watermark dropped — the standard streaming-analytics shape over the
    * CDC stream. `tsUnit` converts the cell ts to a timestamp (cell
    * timestamps are epoch millis for batch tables, epoch nanos for the
    * events feed). */
  def windowedEditCounts(feed: DataFrame, windowDuration: String,
      watermarkDelay: String, tsDivisorToMillis: Long = 1L): DataFrame =
    feed
      .withColumn("_event_time",
        timestamp_millis((col("ts") / tsDivisorToMillis).cast("long")))
      .withWatermark("_event_time", watermarkDelay)
      .groupBy(window(col("_event_time"), windowDuration), col("family"))
      .agg(count(lit(1)).as("edits"))
      .select(col("window.start").as("window_start"), col("family"), col("edits"))

  /** Arbitrary stateful processing — `KeyValueGroupedDataset
    * .mapGroupsWithState` (the reference's per-row server-side scan state,
    * re-homed): a running per-(row,family,qualifier) edit counter that
    * survives across micro-batches via GroupState. */
  def runningEditCounts(feed: DataFrame): DataFrame = {
    import org.apache.spark.sql.streaming.GroupStateTimeout
    import org.apache.spark.sql.{Encoders, Row}
    val spark = feed.sparkSession
    import spark.implicits._
    val keyed = feed
      .select(concat_ws("\u0000",
        base64(col("row")), col("family"), base64(col("qualifier"))).as("k"))
      .as[String]
      .groupByKey(identity)
    keyed.mapGroupsWithState(GroupStateTimeout.NoTimeout()) {
      (key: String, rows: Iterator[String],
          state: org.apache.spark.sql.streaming.GroupState[Long]) =>
        val next = state.getOption.getOrElse(0L) + rows.size
        state.update(next)
        (key, next)
    }.toDF("key", "edits")
  }
}
