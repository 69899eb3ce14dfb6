package graft

import graft.catalog.{Catalog, FamilyDescriptor, IndexDescriptor, TableDescriptor}
import graft.core.{Bytes, Salt}
import graft.read.{Get, ReadView, Resolve, Scan, ScanExec, SecondaryIndex}
import graft.snapshot.Snapshots
import graft.write.{Compact, Delete, Mutations, Put}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.SparkSession

/** The engine facade — the reference's `HBaseAdmin` + `HTable` surface
  * (§2.7, §2.8) on one object: a user of the reference switches by
  * replacing client calls one-for-one:
  *
  * {{{
  * val g = Graft(spark, "/data/graft")
  * g.createTable(TableDescriptor("t", Seq(FamilyDescriptor("f"))), nowMs)
  * val t = g.table("t")
  * t.put(Seq(Put(rk).add("f", q, v)), nowMs)
  * t.scan(Scan().addFamily("f").setFilter(...))   // DataFrame of cells
  * t.get(Get(rk))
  * g.snapshot("s1", "t", nowMs); g.restoreSnapshot("s1", nowMs)
  * }}}
  */
final case class Graft(spark: SparkSession, root: String) {
  val catalog = new Catalog(spark, root)
  val snapshots = new Snapshots(spark, catalog, root)

  // ---- DDL (`HBaseAdmin`)
  def createTable(desc: TableDescriptor, nowMs: Long): Unit =
    catalog.createTable(desc, nowMs)
  def deleteTable(name: String): Unit = catalog.deleteTable(name)
  def listTables(): Seq[String] = catalog.listTables()
  def tableExists(name: String): Boolean = catalog.tableExists(name)
  def alterTable(name: String, desc: TableDescriptor, nowMs: Long): Unit =
    catalog.alterTable(name, desc, nowMs)
  /** `disableTable:449`/`enableTable:393` — our only semantic is the
    * read-only latch (no serving lifecycle to manage). */
  def disableTable(name: String, nowMs: Long): Unit = {
    val d = catalog.currentManifest(name).descriptor
    catalog.alterTable(name, d.copy(readOnly = true), nowMs)
  }
  def enableTable(name: String, nowMs: Long): Unit = {
    val d = catalog.currentManifest(name).descriptor
    catalog.alterTable(name, d.copy(readOnly = false), nowMs)
  }

  def table(name: String): GraftTable = GraftTable(this, name)

  // ---- snapshot lifecycle (`HBaseAdmin:899-948`)
  def snapshot(name: String, tableName: String, nowMs: Long): Unit =
    snapshots.snapshot(name, tableName, nowMs)
  def listSnapshots(): Seq[String] = snapshots.listSnapshots()
  def restoreSnapshot(name: String, nowMs: Long): Unit =
    snapshots.restore(name, nowMs)
  def cloneSnapshot(name: String, newTable: String, nowMs: Long): Unit =
    snapshots.clone(name, newTable, nowMs)
  def deleteSnapshot(name: String): Unit = snapshots.deleteSnapshot(name)
  def readSnapshot(name: String): DataFrame = snapshots.read(name)
  def diffSnapshots(a: String, b: String): DataFrame = snapshots.diff(a, b)
  def exportSnapshot(name: String, targetDir: String,
      baseExportDir: Option[String] = None): Unit =
    snapshots.exportSnapshot(name, targetDir, baseExportDir = baseExportDir)
  def importSnapshot(name: String, exportedDir: String): Unit =
    snapshots.importSnapshot(name, exportedDir)

  /** Refcount-style GC: drop data dirs referenced by no table version and
    * no snapshot (`SnapshotLogCleaner` + META refcounts). */
  def vacuum(tableName: String): Seq[String] =
    catalog.vacuum(tableName, snapshots.protectedDirs())

  /** Open a table's change feed as an unbounded streaming DataFrame —
    * the table's own `data-*` append history is the WAL
    * ([[graft.streaming.Replication.tableChangeFeed]]); replays existing
    * append batches, then tails new ones. Like the reference's WAL, the
    * file feed runs AHEAD of the catalog commit: batch files written by
    * an append that then failed its manifest commit still ship (and are
    * absorbed by the ts/seq-idempotent sink contract); the
    * manifest-gated alternative is `spark.readStream.table` through
    * [[graft.sql.GraftSqlCatalog]]. */
  def readStream(tableName: String, maxFilesPerTrigger: Int = 16): DataFrame = {
    val feed = graft.streaming.Replication.tableChangeFeed(
      spark, root, tableName, maxFilesPerTrigger)
    // Salted tables store salted keys; the feed (like every read surface)
    // emits LOGICAL keys, so replicating into another salted table
    // re-salts cleanly through the append seam.
    val n = catalog.currentManifest(tableName).descriptor.saltBuckets
    if (n > 0) Salt.stripCells(feed) else feed
  }

  /** CREATE INDEX (Phoenix-style global secondary index): creates +
    * registers + builds an index over `(family, qualifier)` of `table`;
    * from then on `Catalog.append` maintains it and reads route through
    * it ([[GraftTable.indexLookup]], the SQL door's pushdown). */
  def createIndex(table: String, family: String, qualifier: Array[Byte],
      nowMs: Long, indexTable: Option[String] = None,
      covered: Seq[(String, Array[Byte])] = Nil): IndexDescriptor =
    SecondaryIndex.create(catalog, table, family, qualifier, nowMs,
      indexTable, covered)

  /** CREATE a COMPOSITE (multi-column) index
    * ([[SecondaryIndex.createComposite]]): conjunctive equality over the
    * member columns probes ONE blob key range. Requires immutableRows. */
  def createCompositeIndex(table: String,
      columns: Seq[(String, Array[Byte])], nowMs: Long,
      indexTable: Option[String] = None): IndexDescriptor =
    SecondaryIndex.createComposite(catalog, table, columns, nowMs, indexTable)

  /** ALTER a declared wide column's VALUE codec between the plain and
    * order-preserving encodings (`double<->odouble` etc) — one rewrite
    * pass + an atomic descriptor flip + index rebuilds; see
    * [[graft.sql.GraftMigrate.alterColumnCodec]]. */
  def alterColumnCodec(table: String, family: String, qualifier: Array[Byte],
      newType: String, nowMs: Long): Unit =
    graft.sql.GraftMigrate.alterColumnCodec(catalog, table, family,
      qualifier, newType, nowMs)
}

/** Per-table operations (`HTable`). Reads honor the family descriptor's
  * maxVersions/TTL defaults the way `ScanQueryMatcher` reads them off the
  * `HColumnDescriptor`. */
final case class GraftTable(g: Graft, name: String) {
  private def spark = g.spark

  /** Raw STORAGE cells — on a salted table these carry the one-byte salt
    * prefix (the physical sort order compaction preserves). */
  def cells: DataFrame = g.catalog.read(name)
  def descriptor: TableDescriptor = g.catalog.currentManifest(name).descriptor

  /** Logical-key cell view: the salt prefix stripped on salted tables
    * (identity otherwise). A filter on this view's `row` cannot prune the
    * parquet scan (the column is computed) — range reads should go
    * through [[scan]]/[[get]]/[[multiGet]], which scope the RAW salted
    * order first and strip after. */
  def logicalCells: DataFrame = {
    val n = descriptor.saltBuckets
    if (n > 0) Salt.stripCells(cells) else cells
  }

  /** Salt-aware scan scoping: on a salted table the LOGICAL `[start,
    * stop)` bounds compile to the scatter-gather disjunction on the
    * salted sort order (a point range `[k, succ(k))` to its ONE salted
    * range), the prefix strips, and the Scan proceeds bound-free on
    * logical keys; unsalted tables pass through untouched. */
  private def scoped(s: Scan): (DataFrame, Scan) = {
    val n = descriptor.saltBuckets
    if (n <= 0) (cells, s)
    else {
      val frame = (s.startRow, s.stopRow) match {
        case (Some(a), Some(b))
            if java.util.Arrays.equals(Bytes.successor(a), b) =>
          Salt.get(cells, n, a)
        case _ => Salt.scanRange(cells, n, s.startRow, s.stopRow)
      }
      (frame, s.copy(startRow = None, stopRow = None))
    }
  }

  // ---- reads (per-family descriptor maxVersions/TTL applied, exactly
  // as ScanQueryMatcher reads them off the HColumnDescriptor)
  def scan(s: Scan, nowMs: Long = 0L): DataFrame = {
    val d = descriptor
    val (frame, s2) = scoped(s)
    ScanExec(frame, s2, ttlMs = None, now = nowMs,
      familyMaxVersions = d.families.map(f => f.name -> f.maxVersions).toMap,
      familyTtlMs = d.families.flatMap(f => f.ttlMs.map(f.name -> _)).toMap)
  }
  /** Scan decoded to a relational view (`Result`-shaped rows): one row
    * per table row, columns = qualifier names typed by `schema`. */
  def scanDecoded(s: Scan, schema: org.apache.spark.sql.types.StructType,
      key: Seq[(String, org.apache.spark.sql.types.DataType)] = Nil,
      family: Option[String] = None, nowMs: Long = 0L): DataFrame =
    graft.core.CellCodec.decode(scan(s, nowMs), schema, key, family)

  def get(gt: Get): DataFrame = {
    val n = descriptor.saltBuckets
    // On a salted table the point read stays a SINGLE parquet-pruned
    // range — the key salts JVM-side (Salt.saltOf parity), no scatter.
    if (n <= 0) ScanExec.get(cells, gt)
    else ScanExec.get(Salt.get(cells, n, gt.row), gt)
  }
  /** Batch point reads (`HTable.get(List<Get>):692`) as one job, under
    * the family descriptor's maxVersions/TTL like [[scan]]. All gets
    * share `scan`'s projection/version options. */
  def multiGet(rows: Seq[Array[Byte]], s: Scan = Scan(),
      nowMs: Long = 0L): DataFrame = {
    val d = descriptor
    val frame =
      if (d.saltBuckets <= 0 || rows.isEmpty) cells
      else Salt.scopeKeys(cells, d.saltBuckets, rows)
    ScanExec.multiGet(frame, rows, s, ttlMs = None, now = nowMs,
      familyMaxVersions = d.families.map(f => f.name -> f.maxVersions).toMap,
      familyTtlMs = d.families.flatMap(f => f.ttlMs.map(f.name -> _)).toMap)
  }
  def exists(gt: Get): Boolean = !get(gt).isEmpty
  /** On a salted table the at-or-before probe runs over the logical view
    * (the salted order is not the logical order) — one narrow max-row
    * pass instead of a pruned range; the reference's salted schemas have
    * the same property (ordered scans forfeit the salt's locality). */
  def getRowOrBefore(row: Array[Byte], family: String): DataFrame =
    ScanExec.getRowOrBefore(logicalCells, row, family)

  /** Index-backed equality/IN lookup over a REGISTERED index (see
    * [[Graft.createIndex]]): O(hits) probe of the index table, size-gated
    * gather, verified read. Composes with salting — the index stores
    * logical keys, the gather semi-joins the logical view. */
  def indexLookup(family: String, qualifier: Array[Byte],
      values: Seq[Array[Byte]]): DataFrame =
    indexLookup(family, qualifier, values, Nil)

  /** Projected index lookup with the Phoenix planner's route choice:
    * when `project` (the requested (family, qualifier) columns) is
    * non-empty and lies within this index's covered set + the indexed
    * column itself, the query is served from the index table ALONE
    * ([[SecondaryIndex.lookupCovered]] — zero main-table touch);
    * otherwise the verified route runs (probe, size-gated gather,
    * re-verify) and the projection is applied to its whole-row result.
    * Empty `project` = whole rows, always the verified route. */
  def indexLookup(family: String, qualifier: Array[Byte],
      values: Seq[Array[Byte]],
      project: Seq[(String, Array[Byte])]): DataFrame = {
    val ix = descriptor.indexOn(family, qualifier).getOrElse(
      throw new IllegalArgumentException(
        s"table $name has no index on ($family, " +
          s"${qualifier.map(b => f"$b%02x").mkString})"))
    val coveredRoute = project.nonEmpty && project.forall { case (f, q2) =>
      ix.matches(f, q2) || ix.coversColumn(f, q2)
    }
    if (coveredRoute)
      projectCells(SecondaryIndex.lookupCovered(g.catalog.read(ix.indexTable),
        family, qualifier, values, ix.covered), project)
    else {
      val full = SecondaryIndex.lookupAll(logicalCells,
        g.catalog.read(ix.indexTable), family, qualifier, values)
      if (project.isEmpty) full else projectCells(full, project)
    }
  }

  private def projectCells(cells: DataFrame,
      project: Seq[(String, Array[Byte])]): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    cells.filter(project.map { case (f, q2) =>
      col("family") === f && col("qualifier") === lit(q2)
    }.reduce(_ || _))
  }

  /** Index-backed RANGE lookup over a REGISTERED index: rows whose
    * CURRENT visible `(family, qualifier)` value lies in `[lo, hi)`
    * (bounds optional; VALUE space, lo inclusive / hi exclusive —
    * binary successor `v ++ 0x00` converts the other inclusivities
    * exactly). One pruned range probe of the value-prefix index layout
    * (O(hits), not O(table)) + size-gated gather + verified read — the
    * index answer to the reference's comparison-filter surface
    * (`SingleColumnValueFilter` with the non-equality
    * `CompareFilter.java:49-64` ops). Routes through the index-only
    * reshape instead when the index covers and `project` lies within
    * the covering set. */
  def indexLookupRange(family: String, qualifier: Array[Byte],
      lo: Option[Array[Byte]], hi: Option[Array[Byte]],
      project: Seq[(String, Array[Byte])] = Nil): DataFrame = {
    val ix = descriptor.indexOn(family, qualifier).getOrElse(
      throw new IllegalArgumentException(
        s"table $name has no index on ($family, " +
          s"${qualifier.map(b => f"$b%02x").mkString})"))
    val coveredRoute = ix.covered.nonEmpty && project.nonEmpty &&
      project.forall { case (f, q2) =>
        ix.matches(f, q2) || ix.coversColumn(f, q2)
      }
    if (coveredRoute)
      projectCells(SecondaryIndex.lookupCoveredRange(
        g.catalog.read(ix.indexTable), family, qualifier, lo, hi,
        ix.covered), project)
    else {
      val full = SecondaryIndex.lookupRange(logicalCells,
        g.catalog.read(ix.indexTable), family, qualifier, lo, hi)
      if (project.isEmpty) full else projectCells(full, project)
    }
  }

  /** Index-backed OR-of-probes lookup — the reference's
    * `FilterList(MUST_PASS_ONE)` over one column
    * (`hbase/filter/FilterList.java:47-49`) served from the index as ONE
    * [[SecondaryIndex.probeOr]] pass: a bounded disjunction of equality
    * sets and value intervals, each arm a pruned probe range, verified
    * against the current visible row. Same covered/verified route choice
    * as [[indexLookupRange]]. */
  def indexLookupOr(family: String, qualifier: Array[Byte],
      arms: Seq[SecondaryIndex.ValueArm],
      project: Seq[(String, Array[Byte])] = Nil): DataFrame = {
    val ix = descriptor.indexOn(family, qualifier).getOrElse(
      throw new IllegalArgumentException(
        s"table $name has no index on ($family, " +
          s"${qualifier.map(b => f"$b%02x").mkString})"))
    val coveredRoute = ix.covered.nonEmpty && project.nonEmpty &&
      project.forall { case (f, q2) =>
        ix.matches(f, q2) || ix.coversColumn(f, q2)
      }
    if (coveredRoute)
      projectCells(SecondaryIndex.lookupCoveredOr(
        g.catalog.read(ix.indexTable), family, qualifier, arms,
        ix.covered), project)
    else {
      val full = SecondaryIndex.lookupOr(logicalCells,
        g.catalog.read(ix.indexTable), family, qualifier, arms)
      if (project.isEmpty) full else projectCells(full, project)
    }
  }

  /** Index-backed PREFIX lookup — the reference's `PrefixFilter` /
    * `BinaryPrefixComparator` surface (`hbase/filter/PrefixFilter.java:34`,
    * `BinaryPrefixComparator.java:30`) served from the index instead of a
    * full scan: `value startsWith p` IS the value range
    * `[p, prefixSuccessor(p))` in the value-prefix index layout — ONE
    * pruned probe (an all-0xff prefix has no upper bound and the range
    * stays open above, still exact). Same covered/verified route choice
    * as [[indexLookupRange]]. */
  def indexLookupPrefix(family: String, qualifier: Array[Byte],
      prefix: Array[Byte],
      project: Seq[(String, Array[Byte])] = Nil): DataFrame =
    indexLookupRange(family, qualifier, Some(prefix),
      Bytes.prefixSuccessor(prefix), project)

  /** COVERED equality/IN lookup ([[SecondaryIndex.lookupCovered]]): the
    * result — matching rows projected to the indexed + covered columns —
    * is assembled from the index table ALONE, zero main-table touch.
    * O(hits), no gather. Requires the index to declare covered columns
    * (and therefore the table to declare immutableRows). */
  def indexLookupCovered(family: String, qualifier: Array[Byte],
      values: Seq[Array[Byte]]): DataFrame = {
    val ix = descriptor.indexOn(family, qualifier).getOrElse(
      throw new IllegalArgumentException(
        s"table $name has no index on ($family, " +
          s"${qualifier.map(b => f"$b%02x").mkString})"))
    require(ix.covered.nonEmpty,
      s"index on ($family, ...) of table $name has no covered columns; " +
        "use indexLookup (verified read) instead")
    SecondaryIndex.lookupCovered(g.catalog.read(ix.indexTable),
      family, qualifier, values, ix.covered)
  }

  /** COMPOSITE equality lookup over a REGISTERED composite index
    * ([[SecondaryIndex.lookupComposite]]): `values` pairs positionally
    * with `columns` (any order — reordered into the index's key order),
    * one value per member column. One blob range probe, size-gated
    * gather, every member equality re-verified. */
  def indexLookupComposite(columns: Seq[(String, Array[Byte])],
      values: Seq[Array[Byte]]): DataFrame = {
    require(columns.size == values.size,
      "indexLookupComposite needs one value per column")
    val ix = descriptor.compositeIndexOn(columns).getOrElse(
      throw new IllegalArgumentException(
        s"table $name has no composite index on these columns"))
    val ordered = ix.columns.map { case (f, q) =>
      values(columns.indexWhere(c =>
        c._1 == f && java.util.Arrays.equals(c._2, q)))
    }
    SecondaryIndex.lookupComposite(logicalCells,
      g.catalog.read(ix.indexTable), ix.columns, ordered)
  }

  /** [[SecondaryIndex.rebuild]] of every registered index (index GC). */
  def rebuildIndexes(nowMs: Long): Unit =
    SecondaryIndex.rebuildAll(g.catalog, name, nowMs)

  // Family validation on client-built mutations — the reference rejects
  // unknown families per mutation (`HRegion.checkFamilies` via
  // `HRegion.put:1303`). Data-derived bulk batches (`mutate`) skip this
  // driver-side check by design.
  private def checkFamilies(cells: Seq[graft.core.Cell]): Unit = {
    val known = descriptor.families.map(_.name).toSet
    val bad = cells.map(_.family).distinct.filterNot(known)
    require(bad.isEmpty,
      s"unknown column families ${bad.mkString(",")} for table $name " +
        s"(has: ${known.mkString(",")})")
  }

  // ---- writes (each commits one new immutable data dir)
  def put(puts: Seq[Put], nowMs: Long): Unit = {
    checkFamilies(puts.flatMap(_.cells))
    g.catalog.append(name, Mutations.toDF(spark, puts, nowMs), nowMs)
  }
  def delete(dels: Seq[Delete], nowMs: Long): Unit = {
    checkFamilies(dels.flatMap(_.cells))
    g.catalog.append(name, Mutations.toDF(spark, dels, nowMs), nowMs)
  }
  def mutate(batch: DataFrame, nowMs: Long): Unit =
    g.catalog.append(name, batch, nowMs)
  def increment(increments: DataFrame, nowMs: Long): Unit =
    g.catalog.append(name,
      Mutations.increment(logicalCells, increments, nowMs,
        scope = keyScope), nowMs)
  def checkAndMutate(checks: DataFrame, batch: DataFrame, nowMs: Long): Unit =
    g.catalog.append(name,
      Mutations.checkAndMutate(logicalCells, checks, batch, keyScope), nowMs)

  /** A keyed read's scope on a salted table: the keys salted JVM-side
    * ([[Salt.scopeKeys]]), so the read stays parquet-pruned. None on an
    * unsalted table, whose logical and storage keys agree. */
  private def keyScope: Option[Seq[Array[Byte]] => DataFrame] = {
    val n = descriptor.saltBuckets
    if (n <= 0) None else Some(keys => Salt.scopeKeys(cells, n, keys))
  }

  /** Major compaction (`majorCompact:736`): rewrite to the resolved view
    * under the family descriptor's maxVersions/TTL, dropping tombstones.
    * Runs on RAW storage cells (resolve groups per salted row = per
    * logical row; the salted sort order is preserved through the
    * rewrite). Registered indexes are rebuilt afterwards — the cells the
    * compaction just dropped are exactly the stale index entries. */
  def majorCompact(nowMs: Long): Unit = {
    g.catalog.replaceData(name,
      Compact.major(cells, descriptor.families, nowMs), nowMs)
    SecondaryIndex.rebuildAll(g.catalog, name, nowMs)
  }

  /** Minor compaction / `compact:714`: fold the accumulating SMALL
    * append batches into one dir, KEEPING tombstones
    * (`MinorCompactingStoreScanner` semantics), with the reference's
    * size-ratio batch selection (`Compact.selectMinor` ← `Store.java:
    * 739-745`): batches larger than `ratio ×` everything newer are left
    * untouched, so maintenance cost tracks the small-delta tail — at
    * 100 TB the big old batches are never re-read. Fewer than
    * `minBatches` qualifying deltas = no-op (the compaction threshold).
    * Returns the leaf dirs that were folded (empty on no-op). */
  def minorCompact(nowMs: Long, ratio: Double = 1.2, minBatches: Int = 3,
      maxBatches: Int = 10): Seq[String] = {
    val m = g.catalog.currentManifest(name)
    // leaf dirs grouped into their commit batches (data-{v}/compact-{v}/
    // bulk parents), first-occurrence order = commit order, oldest first
    val batches = scala.collection.mutable.LinkedHashMap[String, Vector[String]]()
    m.dataDirs.foreach { d =>
      val p = new org.apache.hadoop.fs.Path(d).getParent.toString
      batches(p) = batches.getOrElse(p, Vector.empty) :+ d
    }
    val ordered = batches.values.toVector
    val sizes = ordered.map(_.map(g.catalog.leafSize).sum)
    write.Compact.selectMinor(sizes, ratio, minBatches, maxBatches) match {
      case None => Nil
      case Some(r) =>
        val doomed = r.flatMap(ordered(_)).toSeq
        g.catalog.replaceDirs(name, doomed,
          g.catalog.readLeafDirs(doomed), nowMs,
          knownBytes = Some(r.map(sizes).sum))
        doomed
    }
  }

  /** Shell `truncate` parity (disable+drop+recreate in the reference):
    * a compaction-to-empty commit — schema kept, data gone, old manifest
    * versions/snapshots still readable until vacuum. Refused on
    * read-only tables (a data mutation, unlike maintenance compaction). */
  def truncate(nowMs: Long): Unit = {
    require(!descriptor.readOnly, s"table $name is read-only")
    val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      graft.core.Cell.schema)
    g.catalog.replaceData(name, empty, nowMs): Unit
  }

  /** Register the RESOLVED view as a Spark SQL temp view, so the table is
    * queryable with `spark.sql` (graft_* functions are registered by the
    * session extension): the relational face of the cell table. */
  def createTempView(viewName: String, maxVersions: Int = 1): Unit =
    ScanExec(logicalCells, Scan().setMaxVersions(maxVersions))
      .createOrReplaceTempView(viewName)
}
