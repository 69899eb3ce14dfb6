package graft.read

import graft.core.Bytes
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Range-scan descriptor — reference `hbase/client/Scan.java` (657 LoC):
  * `[startRow, stopRow)` bounds (`setStartRow:245`/`setStopRow:255`),
  * family/column projection (`addFamily:178`/`addColumn:192`), time range
  * (`setTimeRange:215`/`setTimeStamp:231`), `setMaxVersions:264`, pushed
  * filter (`setFilter:307`). `setCaching`/`setCacheBlocks` are RPC-era
  * artifacts with no Spark meaning and are omitted. `setBatch:283`
  * (intra-row cell chunking, also an RPC-transfer artifact) has no
  * result-shaping analog here; when a caller genuinely wants "at most N
  * cells per row per page", `ColumnPaginationFilter(limit, offset)` is
  * the supported equivalent — it pages a row's cells by (family,
  * qualifier) position exactly like consecutive batched RPC chunks.
  *
  * Immutable builder: each setter returns a copy.
  */
case class Scan(
    startRow: Option[Array[Byte]] = None,
    stopRow: Option[Array[Byte]] = None,
    families: Option[Set[String]] = None,
    columns: Map[String, Seq[Array[Byte]]] = Map.empty,
    timeRange: Option[(Long, Long)] = None,
    maxVersions: Int = 1,
    filter: Option[GFilter] = None) {

  def setStartRow(r: Array[Byte]): Scan = copy(startRow = Some(r))
  def setStopRow(r: Array[Byte]): Scan = copy(stopRow = Some(r))
  def addFamily(f: String): Scan =
    copy(families = Some(families.getOrElse(Set.empty) + f))
  def addColumn(f: String, q: Array[Byte]): Scan =
    copy(families = Some(families.getOrElse(Set.empty) + f),
      columns = columns.updated(f, columns.getOrElse(f, Seq.empty) :+ q))
  /** Half-open `[min, max)` — `hbase/io/TimeRange.java:34-41`. */
  def setTimeRange(min: Long, max: Long): Scan = copy(timeRange = Some((min, max)))
  def setTimeStamp(ts: Long): Scan = copy(timeRange = Some((ts, ts + 1)))
  def setMaxVersions(n: Int): Scan = copy(maxVersions = n)
  def setMaxVersions(): Scan = copy(maxVersions = Int.MaxValue)
  def setFilter(f: GFilter): Scan = copy(filter = Some(f))
}

/** Point-read descriptor — reference `hbase/client/Get.java:63`. Executed
  * as a single-row Scan, exactly like the server does
  * (`hbase/regionserver/HRegion.java:3080` — `new Scan(get)`). */
case class Get(
    row: Array[Byte],
    families: Option[Set[String]] = None,
    columns: Map[String, Seq[Array[Byte]]] = Map.empty,
    timeRange: Option[(Long, Long)] = None,
    maxVersions: Int = 1) {

  def addFamily(f: String): Get =
    copy(families = Some(families.getOrElse(Set.empty) + f))
  def addColumn(f: String, q: Array[Byte]): Get =
    copy(families = Some(families.getOrElse(Set.empty) + f),
      columns = columns.updated(f, columns.getOrElse(f, Seq.empty) :+ q))
  def setTimeRange(min: Long, max: Long): Get = copy(timeRange = Some((min, max)))
  def setMaxVersions(n: Int): Get = copy(maxVersions = n)

  def toScan: Scan = {
    val stop = Bytes.prefixSuccessor(row)
    Scan(Some(row), stop, families, columns, timeRange, maxVersions)
  }
}

/** Compiles a Scan over a cell DataFrame: row-range + projection filters
  * (which Catalyst pushes into the Parquet scan — region/family pruning,
  * SURVEY §4), then version resolution, then the pushed filter. */
object ScanExec {

  /** `keyed`: `cells` is already restricted to a driver-held key set
    * within [[Resolve.maxKeys]] — see [[ReadView.keyed]]. */
  def apply(cells: DataFrame, scan: Scan, ttlMs: Option[Long] = None,
      now: Long = 0L, asOf: Option[Long] = None,
      familyMaxVersions: Map[String, Int] = Map.empty,
      familyTtlMs: Map[String, Long] = Map.empty,
      keyed: Boolean = false): DataFrame = {
    // Row-range pruning (client META routing / region pruning analog).
    var df = cells
    scan.startRow.foreach(r => df = df.filter(col("row") >= lit(r)))
    scan.stopRow.foreach(r => df = df.filter(col("row") < lit(r)))

    // Family pruning (only requested families' stores are scanned —
    // `HRegion.java:2364-2369`).
    scan.families.foreach(fs => df = df.filter(col("family").isin(fs.toSeq: _*)))

    // Qualifier projection applies to Put and DeleteColumn cells; DeleteFamily
    // tombstones (empty qualifier) must survive until masking.
    if (scan.columns.nonEmpty) {
      val wanted = scan.columns.toSeq.map { case (f, qs) =>
        col("family") === f &&
          qs.map(q => col("qualifier") === lit(q)).reduce(_ || _)
      }.reduce(_ || _)
      df = df.filter(wanted || col("kind") === graft.core.CellKind.DeleteFamily)
    }

    val view = ReadView(scan.maxVersions, scan.timeRange, ttlMs, now, asOf,
      familyMaxVersions, familyTtlMs, keyed = keyed)

    scan.filter match {
      // PageFilter fast path, BOUNDED SEEK: the page's first-N visible row
      // keys are decided by the masking stage alone (the version cap never
      // empties a row), but running `masked` over the scan's open tail pays
      // a window shuffle of everything after the seek point — the reference
      // reads one region forward from the seek and stops when the page
      // fills (`ClientScanner`/`ScannerCallable`), never the table tail.
      // Same shape here: probe a raw-key prefix (TakeOrdered over the
      // narrow sorted `row` column — no shuffle), mask only `[start, B]`,
      // and escalate the probe (x4) only if tombstones emptied enough rows
      // that the bounded page came up short. No-tombstone scans (the common
      // case) finish on the first probe with an O(page) masked pass. The
      // probed keys are O(page) driver-side sets (same bound as multiGet's
      // key batch); resolution then reads raw cells of just the page's
      // rows with `[lo, succ(hi))` pushed into the parquet scan.
      //
      // Escalation is CAPPED at 3 widenings (probe <= page*512 cells); a
      // pathological prefix (a huge tombstoned span, or rows wider than
      // 512 cells) falls back to the fully distributed masked pass over
      // the whole range, which collects only the final n page keys —
      // driver traffic stays O(page) no matter how adversarial the data.
      case Some(pf: PageFilter) =>
        val spark = df.sparkSession
        import spark.implicits._
        val n = math.max(pf.pageSize, 1)
        var cellProbe = n.toLong * 8 // >= 8 cells/row before first escalation
        var rounds = 0
        val maxRounds = 4 // initial probe + 3 x4 widenings
        var pageKeys: Option[Array[Array[Byte]]] = None
        while (pageKeys.isEmpty && rounds < maxRounds) {
          rounds += 1
          val raw = df.select("row").orderBy("row").limit(
            math.min(cellProbe, Int.MaxValue.toLong).toInt)
            .collect().map(_.getAs[Array[Byte]](0))
          val exhausted = raw.length < cellProbe
          val bounded =
            if (exhausted) df else df.filter(col("row") <= lit(raw.last))
          val distinctRaw = raw.map(_.toSeq).distinct.length
          if (distinctRaw >= n || exhausted) {
            val vis = Resolve.masked(bounded, view)
              .select("row").distinct().orderBy("row").limit(n)
              .collect().map(_.getAs[Array[Byte]](0))
            if (vis.length >= n || exhausted) pageKeys = Some(vis)
            else cellProbe *= 4 // tombstoned rows ate the page: widen
          } else cellProbe *= 4 // wide rows: not even N raw keys probed
        }
        val keys = pageKeys.getOrElse {
          // Probe budget exhausted: distributed masked pass end-to-end
          // (the pre-bounded-seek plan) — pays the range-wide shuffle but
          // never collects more than the page itself.
          Resolve.masked(df, view)
            .select("row").distinct().orderBy("row").limit(n)
            .collect().map(_.getAs[Array[Byte]](0))
        }
        if (keys.isEmpty) df.limit(0).transform(Resolve(_, view))
        else {
          val ord: Ordering[Array[Byte]] = (a, b) => Bytes.compareTo(a, b)
          val scoped = df
            .filter(col("row") >= lit(keys.min(ord)) &&
              col("row") < lit(Bytes.successor(keys.max(ord))))
            .join(broadcast(keys.toSeq.toDF("row")), Seq("row"), "left_semi")
          Resolve(scoped, view)
        }
      case Some(f) => f(Resolve(df, view))
      case None => Resolve(df, view)
    }
  }

  /** Get as a 1-row scan — one code path, like the reference. Its one
    * key makes it a keyed read ([[ReadView.keyed]]): one job on a table
    * that fits one split. */
  def get(cells: DataFrame, g: Get, ttlMs: Option[Long] = None,
      now: Long = 0L): DataFrame = {
    // Exact-row match (tighter than the prefix range from toScan).
    val scoped = cells.filter(col("row") === lit(g.row))
    ScanExec(scoped, g.toScan.copy(startRow = None, stopRow = None), ttlMs, now,
      keyed = true)
  }

  /** `cells` restricted to a driver-held key set, the scope of a keyed
    * read: the keys' span `[min, succ(max))`, which parquet min/max
    * stats prune on, and `row IN (keys)`. */
  def keyScope(cells: DataFrame, keys: Seq[Array[Byte]]): DataFrame = {
    require(keys.nonEmpty, "keyScope needs at least one key")
    val ord: Ordering[Array[Byte]] = (a, b) => Bytes.compareTo(a, b)
    cells.filter(col("row") >= lit(keys.min(ord)) &&
      col("row") < lit(Bytes.successor(keys.max(ord))) &&
      col("row").isin(keys: _*))
  }

  /** `HTable.exists:651` — Get returning only a boolean. */
  def exists(cells: DataFrame, g: Get): Boolean = !get(cells, g).isEmpty

  /** Batch point reads — `HTable.get(List<Get>):692` — as ONE distributed
    * job: within [[Resolve.maxKeys]] distinct keys the batch is a keyed
    * read (`row IN (keys)`, [[ReadView.keyed]]); above it the key set
    * broadcasts into a semi-join against the sorted layout. Row-group
    * pruning applies per key range via the bloom/minmax stats, then a
    * single shared resolve. The reference issues one RPC
    * per region batch; a driver-side loop of single Gets here would pay
    * one Spark job per key. All gets share `scan`'s projection/time/
    * version options (the common batch shape); caller-supplied row bounds
    * on `scan` are honored by INTERSECTING them with the batch's key span
    * (a key outside the bounds contributes nothing, like a Get outside a
    * bounded reference scan). */
  def multiGet(cells: DataFrame, rows: Seq[Array[Byte]], scan: Scan = Scan(),
      ttlMs: Option[Long] = None, now: Long = 0L,
      familyMaxVersions: Map[String, Int] = Map.empty,
      familyTtlMs: Map[String, Long] = Map.empty): DataFrame = {
    // empty batch -> empty result, like the reference's batch get
    if (rows.isEmpty) return cells.limit(0)
    val spark = cells.sparkSession
    import spark.implicits._
    val distinct = rows.distinctBy(java.nio.ByteBuffer.wrap)
    val keyed = distinct.sizeIs <= Resolve.maxKeys(spark)
    val scoped =
      if (keyed) cells.filter(col("row").isin(distinct: _*))
      else cells.join(broadcast(rows.toDF("row")), Seq("row"), "left_semi")
    // [min, succ(max)) bounds derived from the batch: the semi-join alone
    // can't prune the parquet scan, but the keys' span can — the
    // reference's batch get routes each key to its region for the same
    // reason (only touched regions are read). Tighten-only against any
    // bounds already on the scan (same pattern as GraftScanBuilder).
    val ord: Ordering[Array[Byte]] = (a, b) => Bytes.compareTo(a, b)
    val lo = rows.min(ord)
    val hi = Bytes.successor(rows.max(ord))
    val start = (scan.startRow.toSeq :+ lo).max(ord)
    val stop = (scan.stopRow.toSeq :+ hi).min(ord)
    ScanExec(scoped,
      scan.copy(startRow = Some(start), stopRow = Some(stop)), ttlMs, now,
      familyMaxVersions = familyMaxVersions, familyTtlMs = familyTtlMs,
      keyed = keyed)
  }

  /** `getRowOrBefore` (`HTable.java:472`, `Store.getRowKeyAtOrBefore:980`):
    * latest visible cells of the largest row <= key. The as-of point-lookup
    * pattern: a 1-row ordered limit pushed down, then a normal Get. */
  def getRowOrBefore(cells: DataFrame, key: Array[Byte], family: String): DataFrame = {
    val target = cells
      .filter(col("row") <= lit(key) && col("family") === family)
      .select(max(col("row")).as("row"))
    val scoped = cells.join(broadcast(target), Seq("row"), "left_semi")
    ScanExec(scoped, Scan().addFamily(family))
  }
}
