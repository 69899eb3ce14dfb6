package graft.write

import graft.core.{Bytes, Cell, CellKind}
import graft.read.{ReadView, Resolve}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Client-side mutation builders — reference `hbase/client/Put.java:47`,
  * `hbase/client/Delete.java:68`. A mutation is just a list of cells; a
  * batch of mutations is a cell DataFrame appended ("merged") onto the
  * table. Visibility is decided at read time by [[graft.read.Resolve]],
  * exactly as the reference's LSM decides it at scan time — writes never
  * rewrite existing data (SURVEY.md §2.2).
  *
  * `LATEST_TIMESTAMP` (`Cell.LatestTimestamp`) cells are stamped with the
  * caller-supplied `batchTs` at merge time — deterministic across
  * executors, standing in for the reference's server-assigned time on the
  * write path (SURVEY.md §7.5 risk 3).
  */
final case class Put(row: Array[Byte], cells: Vector[Cell] = Vector.empty) {
  def add(family: String, qualifier: Array[Byte], value: Array[Byte]): Put =
    add(family, qualifier, Cell.LatestTimestamp, value)
  def add(family: String, qualifier: Array[Byte], ts: Long, value: Array[Byte]): Put =
    copy(cells = cells :+ Cell.put(row, family, qualifier, ts, value))
}

final case class Delete(row: Array[Byte], cells: Vector[Cell] = Vector.empty) {
  /** Tombstone every cell of the family with ts <= `ts`
    * (`Delete.deleteFamily:147`). */
  def deleteFamily(family: String, ts: Long = Cell.LatestTimestamp): Delete =
    copy(cells = cells :+ Cell.deleteFamily(row, family, ts))
  /** Tombstone all versions of the column with ts <= `ts`
    * (`Delete.deleteColumns:180`). */
  def deleteColumns(family: String, qualifier: Array[Byte],
      ts: Long = Cell.LatestTimestamp): Delete =
    copy(cells = cells :+ Cell.deleteColumn(row, family, qualifier, ts))
  /** Tombstone exactly one version (`Delete.deleteColumn`). */
  def deleteColumn(family: String, qualifier: Array[Byte], ts: Long): Delete =
    copy(cells = cells :+ Cell.delete(row, family, qualifier, ts))
}

object Mutations {

  /** Driver-built mutation batch -> cell DataFrame, with LATEST_TIMESTAMP
    * stamped to `batchTs` and per-cell `seq` assigned in batch order (the
    * reference serializes same-coordinate writes under the row lock —
    * `HRegion.java:2067`; batch order is our explicit equivalent). */
  def toDF(spark: SparkSession, muts: Seq[Product], batchTs: Long,
      baseSeq: Long = 0L): DataFrame = {
    import spark.implicits._
    val cells = muts.flatMap {
      case p: Put => p.cells
      case d: Delete => d.cells
      case other => throw new IllegalArgumentException(s"not a mutation: $other")
    }.zipWithIndex.map { case (c, i) =>
      val ts = if (c.ts == Cell.LatestTimestamp) batchTs else c.ts
      c.copy(ts = ts, seq = baseSeq + i)
    }
    cells.toDF()
  }

  /** Data-derived Put batch: one put cell per input row, without any
    * driver-side materialization (the 100 TB path — `Put`/`toDF` is for
    * small OLTP-style batches, this is for bulk writes). */
  def putCells(rows: DataFrame, rowKey: org.apache.spark.sql.Column,
      family: String, qualifier: String, value: org.apache.spark.sql.Column,
      ts: Long, seq: Long = 0L): DataFrame =
    rows.select(
      rowKey.as("row"), lit(family).as("family"),
      lit(Bytes.toBytes(qualifier)).as("qualifier"),
      lit(ts).as("ts"), lit(CellKind.Put).as("kind"),
      value.cast(org.apache.spark.sql.types.BinaryType).as("value"),
      lit(seq).as("seq"))

  /** Data-derived DeleteFamily batch: one family tombstone per input row. */
  def deleteFamilyCells(rows: DataFrame, rowKey: org.apache.spark.sql.Column,
      family: String, ts: Long, seq: Long = 0L): DataFrame =
    rows.select(
      rowKey.as("row"), lit(family).as("family"),
      lit(Array.emptyByteArray).as("qualifier"),
      lit(ts).as("ts"), lit(CellKind.DeleteFamily).as("kind"),
      lit(null).cast(org.apache.spark.sql.types.BinaryType).as("value"),
      lit(seq).as("seq"))

  /** Merge a mutation batch onto a table: plain union — the LSM append.
    * O(batch) work, no rewrite of existing data; at 100 TB this is the only
    * write strategy that doesn't touch the whole table. */
  def merge(table: DataFrame, batch: DataFrame): DataFrame =
    table.unionByName(batch)

  /** `incrementColumnValue` (`HRegion.java:3106-3161`) as a batch merge:
    * increments are (row, family, qualifier, delta) rows; within a batch
    * they sum associatively (SURVEY.md §7.5 risk 5); the summed delta is
    * added to the current latest value (absent -> 0) and written back as a
    * new version at `batchTs`. Returns the new counter cells to append.
    *
    * Scale: one partial-aggregated groupBy on the (small) increment batch +
    * one join against the current-latest view restricted to touched rows —
    * the view filter is a broadcast semi-join on the batch's row keys.
    */
  def increment(table: DataFrame, increments: DataFrame, batchTs: Long,
      seq: Long = 0L): DataFrame = {
    val deltas = increments
      .groupBy("row", "family", "qualifier")
      .agg(sum(col("delta")).as("_delta"))
    // Scope the current-latest view to touched rows via semi-join; no
    // broadcast hint — AQE picks broadcast when the batch is small and a
    // shuffle join when a bulk increment touches billions of rows. A
    // semi-join ignores duplicate keys, so the keys need no distinct (a
    // distinct costs an aggregate exchange: one more job).
    val current = Resolve(
      table.join(increments.select("row"), Seq("row"), "left_semi"),
      CurrentValue)
      .select(col("row"), col("family"), col("qualifier"),
        Bytes.asLong(col("value")).as("_cur"))
    deltas.join(current, Seq("row", "family", "qualifier"), "left")
      .select(
        col("row"), col("family"), col("qualifier"),
        lit(batchTs).as("ts"),
        lit(CellKind.Put).as("kind"),
        longToBytes(coalesce(col("_cur"), lit(0L)) + col("_delta")).as("value"),
        lit(seq).as("seq"))
  }

  /** `checkAndPut`/`checkAndDelete` (`HRegion.checkAndMutate:1544`): apply
    * each row's mutation cells only when the current latest value of the
    * check column equals `expected` (null expected = "column absent",
    * matching the reference's empty-value convention). Mutations evaluate
    * against PRE-batch state (SURVEY.md §7.5 risk 5).
    *
    * `checks`: (row, family, qualifier, expected) one per mutated row;
    * `batch`: the candidate mutation cells. Returns the accepted subset.
    */
  def checkAndMutate(table: DataFrame, checks: DataFrame, batch: DataFrame): DataFrame = {
    val current = Resolve(
      table.join(checks.select("row"), Seq("row"), "left_semi"),
      CurrentValue)
      .select(col("row").as("_cr"), col("family").as("_cf"),
        col("qualifier").as("_cq"), col("value").as("_cv"))
    val accepted = checks
      .join(current,
        col("row") === col("_cr") && col("family") === col("_cf") &&
          col("qualifier") === col("_cq"), "left")
      .filter(col("expected") <=> col("_cv"))
      .select("row")
    batch.join(accepted, Seq("row"), "left_semi")
  }

  /** The current-value read of [[increment]] and [[checkAndMutate]]:
    * newest version, full tombstone masking without the probe (see
    * [[ReadView.tombstoneFree]]). Their frame is semi-joined to the
    * batch's rows, so masking it costs less than the probe, which
    * re-runs the semi-join — three jobs on any table holding a
    * tombstone. */
  private val CurrentValue = ReadView(maxVersions = 1, tombstoneFree = Some(false))

  private def longToBytes(c: org.apache.spark.sql.Column) =
    graft.core.CellCodec.longBytes(c)
}

/** Compaction — reference `hbase/regionserver/Store.java:778` (§2.2).
  * Major compaction = materialize the resolve view: tombstones consumed,
  * TTL-expired and over-`maxVersions` cells physically dropped; the result
  * is a table whose reads are identical but smaller and tombstone-free.
  * Minor compaction in the reference merges files but KEEPS deletes
  * (`MinorCompactingStoreScanner`); our file-count analog is a plain
  * repartition+rewrite, so only major is a semantic operation. */
object Compact {
  def major(table: DataFrame, maxVersions: Int = Int.MaxValue,
      ttlMs: Option[Long] = None, now: Long = 0L): DataFrame =
    Resolve(table, ReadView(maxVersions = maxVersions, ttlMs = ttlMs, now = now))

  /** Descriptor-driven major compaction: each family keeps ITS OWN
    * maxVersions/TTL (`Store.java:778` compacts per store, so family knobs
    * never bleed across families — a global min-TTL would physically drop
    * live cells of longer-TTL families). */
  def major(table: DataFrame, families: Seq[graft.catalog.FamilyDescriptor],
      now: Long): DataFrame =
    Resolve(table, ReadView(
      maxVersions = Int.MaxValue,
      familyMaxVersions = families.map(f => f.name -> f.maxVersions).toMap,
      familyTtlMs = families.flatMap(f => f.ttlMs.map(f.name -> _)).toMap,
      now = now))

  /** Minor-compaction BATCH SELECTION — the reference's size-ratio rule
    * (`Store.java:739-745`: walk store files oldest → newest, skip each
    * file larger than `ratio ×` the total size of the files newer than
    * it, compact the remaining newest suffix). This is the piece that
    * makes LSM maintenance affordable at scale: a minor compaction folds
    * the accumulating SMALL deltas and never re-touches the large old
    * batches — at 100 TB "rewrite everything" is not a maintenance plan.
    *
    * `sizes` are per-batch byte sizes OLDEST FIRST. Returns the selected
    * index range, or None when fewer than `minBatches` qualify (the
    * compaction-threshold no-op); a selection longer than `maxBatches`
    * keeps its OLDEST `maxBatches` (the `hbase.hstore.compaction.max`
    * cap — bounding one compaction's I/O while still folding the oldest
    * qualifying deltas first). */
  def selectMinor(sizes: Seq[Long], ratio: Double = 1.2,
      minBatches: Int = 3, maxBatches: Int = 10): Option[Range] = {
    val n = sizes.length
    val newerSum = sizes.scanRight(0L)(_ + _).tail // newerSum(i) = Σ sizes(i+1..)
    var i = 0
    while (i < n && sizes(i) > ratio * newerSum(i)) i += 1
    if (n - i < minBatches) None
    else Some(i until math.min(n, i + maxBatches))
  }
}
