package graft.catalog

import graft.core.Cell
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import java.nio.charset.StandardCharsets

/** Bloom filter mode — reference `StoreFile.BloomType:93-105`: NONE, ROW
  * (bloom on the row key — point-Get store-file pruning), ROWCOL (bloom on
  * row + qualifier — prunes files for Gets that name a specific column of
  * a wide row, where the row bloom alone always hits). Our ROWCOL is an
  * ADDITIONAL parquet bloom on the qualifier column: a
  * `row = k AND qualifier = q` scan prunes row groups by both filters
  * independently (the reference hashes the concatenated rowcol key; the
  * two-filter form prunes at least as well for equality probes). */
object BloomType extends Enumeration {
  val None, Row, RowCol = Value
}

/** Per-family logical/physical knobs — reference `HColumnDescriptor.java`
  * (649 LoC): `maxVersions` default 3 (`:92`), `TTL:78`, and the physical
  * attrs `BLOOMFILTER:79` -> parquet bloom filters per [[BloomType]],
  * `COMPRESSION:74` -> parquet codec, `IN_MEMORY:103` -> Spark block
  * cache (`persist`) for that family's files. Family names must be
  * directory-safe (the reference likewise restricts them to printable
  * non-`:` names — `HColumnDescriptor.isLegalFamilyName`). */
final case class FamilyDescriptor(
    name: String,
    maxVersions: Int = 3,
    ttlMs: Option[Long] = None,
    bloomFilter: BloomType.Value = BloomType.None,
    compression: Option[String] = None,
    inMemory: Boolean = false)

/** One registered global secondary index: queries on `(family,
  * qualifier)` equality route through `indexTable` (a normal cell table
  * holding value-prefix keys — [[graft.read.SecondaryIndex]]).
  * Registration makes the index a TABLE property, so maintenance
  * (`Catalog.append` dual-writes the index delta) and query routing (the
  * SQL door's pushdown hook, `GraftTable.indexLookup`) are automatic —
  * the Phoenix property: users never address the index by hand. */
final case class IndexDescriptor(
    family: String,
    qualifier: Array[Byte],
    indexTable: String,
    /** Covered (INCLUDE) columns — the Phoenix covered-column design: the
      * index table also stores these columns' values, so a lookup whose
      * projection is within `indexed + covered + row key` is answered
      * from the index ALONE, zero main-table touch (`SecondaryIndex
      * .lookupCovered`). Requires the main table to declare
      * `immutableRows` (no value overwrites) — deletes are maintained
      * synchronously as index tombstones, updates would leave the old
      * entry live with no read-time verification to catch it. */
    covered: Seq[(String, Array[Byte])] = Nil,
    /** COMPOSITE members beyond `(family, qualifier)` (the Phoenix
      * multi-column index key): the index key is the 0x00-separated
      * concatenation of the member values in this declared order.
      * Composite indexes are pointer-only with VERIFIED reads (every
      * member equality is re-checked on the main table — no covered
      * variant, no delete translation needed) and require
      * `immutableRows` (a row's member cells must arrive in one batch
      * for the within-batch tuple join to see them all). */
    moreColumns: Seq[(String, Array[Byte])] = Nil) {
  /** Single-column match — never a composite (its first member alone
    * cannot serve a one-column probe: the index key continues with the
    * other members' values). */
  def matches(f: String, q: Array[Byte]): Boolean =
    moreColumns.isEmpty && family == f &&
      java.util.Arrays.equals(qualifier, q)
  def coversColumn(f: String, q: Array[Byte]): Boolean =
    covered.exists { case (cf, cq) =>
      cf == f && java.util.Arrays.equals(cq, q)
    }
  /** All indexed member columns, key order. */
  def columns: Seq[(String, Array[Byte])] = (family -> qualifier) +: moreColumns
  /** Whether this composite's member SET equals the queried set (the
    * probe reorders values into key order). */
  def matchesComposite(cols: Seq[(String, Array[Byte])]): Boolean =
    moreColumns.nonEmpty && columns.size == cols.size &&
      columns.forall { case (f, q) =>
        cols.exists(c => c._1 == f && java.util.Arrays.equals(c._2, q))
      }
}

/** Table shape — reference `HTableDescriptor.java` (698 LoC): name +
  * family set + attrs (`READONLY:65` kept; region-era attrs dropped).
  *
  * `splitKeys` is the default partition COUNT (sampled ranges);
  * `splitBoundaries` are EXPLICIT sorted row-key split points — the
  * reference's `HBaseAdmin.createTable(desc, byte[][] splitKeys)`
  * (`HBaseAdmin.java:198,231`) pre-split for known-skewed keyspaces:
  * committed files never straddle a boundary (each boundary range gets
  * its own file set, like a pre-split region's HFiles).
  *
  * `saltBuckets` > 0 makes salting a TABLE property (the
  * HBase-ecosystem SALT_BUCKETS attr): `append` salts row keys on write
  * and every read path (facade scan/get, SQL door, change feed)
  * scatter-gathers and strips automatically — callers only ever see
  * logical keys. Immutable after creation (the physical sort order is
  * baked into every committed file). `indexes` registers global
  * secondary indexes (see [[IndexDescriptor]]).
  *
  * `immutableRows` declares the Phoenix IMMUTABLE_ROWS contract: rows
  * are written once and never get value overwrites (deletes are still
  * allowed). The declaration is what makes COVERED index columns sound —
  * a covered read never re-verifies against the main table, so an
  * overwrite would leave a stale covered entry undetected. Advisory on
  * writes (batch appends can't cheaply prove an overwrite), enforced at
  * covered-index creation. */
final case class TableDescriptor(
    name: String,
    families: Seq[FamilyDescriptor],
    readOnly: Boolean = false,
    splitKeys: Int = 32,
    splitBoundaries: Seq[Array[Byte]] = Nil,
    saltBuckets: Int = 0,
    indexes: Seq[IndexDescriptor] = Nil,
    immutableRows: Boolean = false,
    /** Declared RELATIONAL view of the cell table (the Phoenix
      * CREATE VIEW analog): `wideKey` names the typed row-key parts
      * (`name:type(,name:type)*`, row-key order), `wideSchema` the typed
      * columns (`family:qualifier:type(;...)`). When set, the SQL door
      * serves `<table>$wide` as a wide table ([[graft.sql.GraftWideTable]])
      * whose predicates route through registered indexes — including the
      * covered-projection and composite forms the cell schema cannot
      * express. Schema-on-declare: no scan ever derives the column set. */
    wideKey: Option[String] = None,
    wideSchema: Option[String] = None,
    /** Indexes DEREGISTERED mid-maintenance and awaiting a rebuild —
      * the crash-recovery marker a codec migration
      * ([[graft.sql.GraftMigrate.alterColumnCodec]]) persists in its
      * atomic commit: a restart between the data flip and the index
      * re-registrations can detect and resume the rebuilds
      * (`GraftMigrate.resumePendingIndexRebuilds`) instead of leaving
      * the column silently unrouted forever. Pending indexes never
      * serve routes (`indexOn`/`composite*` consult `indexes` only). */
    pendingIndexes: Seq[IndexDescriptor] = Nil) {
  def family(n: String): FamilyDescriptor =
    families.find(_.name == n).getOrElse(
      throw new IllegalArgumentException(s"no family $n in table $name"))
  def indexOn(f: String, q: Array[Byte]): Option[IndexDescriptor] =
    indexes.find(_.matches(f, q))
  /** Registered COMPOSITE index whose member set equals `cols`. */
  def compositeIndexOn(cols: Seq[(String, Array[Byte])]): Option[IndexDescriptor] =
    indexes.find(_.matchesComposite(cols))
  /** Registered COMPOSITE index whose LEADING member is `(f, q)` — an
    * equality on the leading member alone probes the composite's blob
    * prefix range (the classic Phoenix leading-column rule; trailing
    * members cannot be served: their values sit mid-key). */
  def compositeLeadingOn(f: String, q: Array[Byte]): Option[IndexDescriptor] =
    indexes.find(ix => ix.moreColumns.nonEmpty && ix.family == f &&
      java.util.Arrays.equals(ix.qualifier, q))
}

/** Persisted per-version statistics (r15) — computed WHEN THE DATA IS IN
  * HAND (create/append/compaction/build — the writer just shuffled these
  * rows anyway) and committed in the manifest, so planning and the route
  * selectivity guard ([[graft.sql.GraftRouteGuard]]) read them
  * metadata-only: a cold-start first query pays ZERO stat jobs, where the
  * r14 lazy caches ran a count + a min/max aggregate per index version.
  *
  *  - `rows`: RAW stored cell count (tombstones and stale versions
  *    included) — exact, rolled forward in O(delta) on every commit.
  *  - `resolvedRows`: an UPPER BOUND on the live resolved entries. At
  *    full rewrites ([[Catalog.replaceData]] — compactions and index
  *    rebuilds — and [[Catalog.analyzeTable]]) it is the DISTINCT
  *    stored cell-coordinate count (HLL, ~1% relative error, folded
  *    into the same aggregate pass — stale versions collapse, so a
  *    churned index's bound is ~its live size; a rare HLL undercount
  *    only shrinks the guard denominator, i.e. leans toward the pushed
  *    scan, cost-only). Rolled forward as `+ delta puts` on appends
  *    (new puts may shadow old entries, never create extra live ones)
  *    and clamped to the surviving raw total on partial compactions (a
  *    rewrite never adds live entries). The guard's denominator uses
  *    this instead of `rows`, closing the r14 churn caveat: a heavily
  *    updated/deleted index no longer inflates the denominator and
  *    leans the guard permissive.
  *  - `minKey`/`maxKey`: the stored row-key span (storage order — salted
  *    keys on a salted table). Widened on append/partial compaction,
  *    recomputed exactly on full rewrites — a stale-wide span only
  *    overestimates arm coverage, i.e. leans the guard toward the pushed
  *    scan (cost-only).
  *  - `unseenRows`: raw rows appended SINCE the histogram was computed
  *    — the mass the histogram cannot see, added to every upper bound
  *    the guard derives. Tracked explicitly (append adds the delta,
  *    full rewrites reset to zero, partial compactions leave it
  *    UNCHANGED) because deriving it as `rows - histRows` is unsound
  *    under partial compactions: folding histogram-covered leaves
  *    shrinks `rows` and would shrink the derived term while the
  *    post-histogram appends it must cover are untouched (review r15).
  *    Removals never decrease it — if a compaction dropped appended
  *    rows the term overcounts, which only leans the guard toward the
  *    pushed scan.
  *  - `histogram`/`histRows`: an equi-depth row-key histogram —
  *    `HistBuckets + 1` boundary keys at equal rank steps over the
  *    `histRows` rows present when it was computed (full rewrites and
  *    first loads). Boundaries come from a uniform key sample of up to
  *    [[Catalog.HistSampleTarget]] rows sorted driver-side; by
  *    Dvoretzky–Kiefer–Wolfowitz the empirical CDF is uniformly within
  *    [[Catalog.HistRankErr]] of the true one with probability
  *    1 - 2·exp(-2·10^6·0.005^2) ≈ 1 - 10^-21, so rank bounds derived
  *    from the boundaries are sound for all practical purposes. Appends
  *    after the computation are covered by the UNSEEN MASS
  *    `rows - histRows`, which the guard adds to every upper bound — the
  *    histogram may therefore VOUCH (route a probe) as well as decline,
  *    unlike the uniformity span estimate (r14), which only ever
  *    declines. */
final case class ManifestStats(
    rows: Long,
    resolvedRows: Long,
    minKey: Option[Array[Byte]],
    maxKey: Option[Array[Byte]],
    histRows: Long,
    histogram: Seq[Array[Byte]],
    unseenRows: Long = 0L)

/** One committed table version: the list of immutable data directories
  * (each a sorted parquet write) plus the descriptor. The reference's
  * region dirs + HFiles + META, collapsed to a manifest — the same
  * copy-on-write idea as its snapshot reference files
  * (`SnapshotDescriptor.java:157-170`, `HRegion.java:2263-2292`).
  * `stats` is [[ManifestStats]] for this version's data; None on legacy
  * manifests and restore-style repoints ([[Catalog.commitDataDirs]]),
  * where the lazy per-version caches serve instead. */
final case class Manifest(
    table: String,
    version: Long,
    createdMs: Long,
    descriptor: TableDescriptor,
    dataDirs: Seq[String],
    stats: Option[ManifestStats] = None)

/** Hand-rolled JSON for manifests — flat, deterministic, no deps. */
object ManifestJson {
  // the ONE byte<->hex codec pair for every binary payload in the
  // manifest wire format (review r15: five inline copies had accreted)
  private def hex(b: Array[Byte]): String = b.map(x => f"$x%02x").mkString
  private def unhex(h: String): Array[Byte] =
    h.grouped(2).map(Integer.parseInt(_, 16).toByte).toArray

  private def esc(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  def write(m: Manifest): String = {
    val fams = m.descriptor.families.map { f =>
      s"""{"name":${esc(f.name)},"maxVersions":${f.maxVersions},"ttlMs":${f.ttlMs.getOrElse(-1L)},""" +
        s""""bloom":${esc(f.bloomFilter.toString)},"compression":${f.compression.map(esc).getOrElse("null")},"inMemory":${f.inMemory}}"""
    }.mkString("[", ",", "]")
    val bounds = m.descriptor.splitBoundaries
      .map(b => esc(hex(b))).mkString("[", ",", "]")
    def ixArray(list: Seq[IndexDescriptor]): String = list.map { ix =>
      // covered/member lists kept FLAT (one string, no nested arrays or
      // objects) so the minimal per-object parser below stays valid
      def flat(cols: Seq[(String, Array[Byte])]): String =
        cols.map { case (f, q) => f + ":" + hex(q) }.mkString(";")
      s"""{"ixFamily":${esc(ix.family)},""" +
        s""""ixQualifier":${esc(hex(ix.qualifier))},""" +
        s""""ixCovered":${esc(flat(ix.covered))},""" +
        s""""ixMore":${esc(flat(ix.moreColumns))},""" +
        s""""ixTable":${esc(ix.indexTable)}}"""
    }.mkString("[", ",", "]")
    val ixs = ixArray(m.descriptor.indexes)
    // emitted only when non-empty: older manifests stay byte-identical
    val pendIxs =
      if (m.descriptor.pendingIndexes.isEmpty) ""
      else s""""pendingIndexes":${ixArray(m.descriptor.pendingIndexes)},"""
    val wide = m.descriptor.wideKey.map(k => s""""wideKey":${esc(k)},""")
      .getOrElse("") +
      m.descriptor.wideSchema.map(w => s""""wideSchema":${esc(w)},""")
        .getOrElse("")
    // stats trail the dataDirs array (emitted only when present, so
    // legacy manifests stay byte-identical) and deliberately sit OUTSIDE
    // the top-level prefix region the wideKey/wideSchema anchor scans —
    // hex payloads can never be misparsed into the descriptor
    val stats = m.stats.map { st =>
      val span = (st.minKey, st.maxKey) match {
        case (Some(a), Some(b)) =>
          s""","statsMin":${esc(hex(a))},"statsMax":${esc(hex(b))}"""
        case _ => ""
      }
      val hist =
        if (st.histogram.isEmpty) ""
        else s""","statsHist":${esc(st.histogram.map(hex).mkString(";"))}"""
      s""","statsRows":${st.rows},"statsResolved":${st.resolvedRows},""" +
        s""""statsHistRows":${st.histRows},"statsUnseen":${st.unseenRows}""" +
        span + hist
    }.getOrElse("")
    s"""{"table":${esc(m.table)},"version":${m.version},"createdMs":${m.createdMs},""" +
      s""""readOnly":${m.descriptor.readOnly},"splitKeys":${m.descriptor.splitKeys},""" +
      s""""saltBuckets":${m.descriptor.saltBuckets},""" +
      s""""immutableRows":${m.descriptor.immutableRows},""" + wide +
      s""""splitBoundaries":$bounds,"indexes":$ixs,""" + pendIxs +
      s""""families":$fams,"dataDirs":${m.dataDirs.map(esc).mkString("[", ",", "]")}""" +
      stats + "}"
  }

  // Minimal parser for exactly the shape `write` produces.
  def read(s: String): Manifest = {
    def str(k: String): String = {
      val p = ("\"" + k + "\":\"([^\"]*)\"").r
      p.findFirstMatchIn(s).map(_.group(1)).getOrElse(
        throw new IllegalArgumentException(s"manifest missing $k: $s"))
    }
    def num(k: String): Long = {
      val p = ("\"" + k + "\":(-?\\d+)").r
      p.findFirstMatchIn(s).map(_.group(1).toLong).getOrElse(
        throw new IllegalArgumentException(s"manifest missing $k: $s"))
    }
    def bool(k: String): Boolean = s.contains("\"" + k + "\":true")
    val famsBlock = {
      val i = s.indexOf("\"families\":[")
      val j = s.indexOf("]", i)
      s.substring(i + "\"families\":[".length, j)
    }
    val fams = "\\{[^}]*\\}".r.findAllIn(famsBlock).map { f =>
      val n = "\"name\":\"([^\"]*)\"".r.findFirstMatchIn(f).get.group(1)
      val mv = "\"maxVersions\":(\\d+)".r.findFirstMatchIn(f).get.group(1).toInt
      val ttl = "\"ttlMs\":(-?\\d+)".r.findFirstMatchIn(f).get.group(1).toLong
      FamilyDescriptor(n, mv, if (ttl < 0) None else Some(ttl),
        bloomFilter = "\"bloom\":\"([^\"]*)\"".r.findFirstMatchIn(f)
          .map(m => BloomType.withName(m.group(1)))
          // legacy boolean form ("bloom":true was a row bloom)
          .getOrElse(if (f.contains("\"bloom\":true")) BloomType.Row
                     else BloomType.None),
        compression = "\"compression\":\"([^\"]*)\"".r.findFirstMatchIn(f).map(_.group(1)),
        inMemory = f.contains("\"inMemory\":true"))
    }.toSeq
    val dirsBlock = {
      val i = s.indexOf("\"dataDirs\":[")
      val j = s.indexOf("]", i)
      s.substring(i + "\"dataDirs\":[".length, j)
    }
    val dirs = "\"([^\"]*)\"".r.findAllMatchIn(dirsBlock).map(_.group(1)).toSeq
    val bounds = {
      val i = s.indexOf("\"splitBoundaries\":[")
      if (i < 0) Seq.empty[Array[Byte]]
      else {
        val j = s.indexOf("]", i)
        val block = s.substring(i + "\"splitBoundaries\":[".length, j)
        "\"([0-9a-f]*)\"".r.findAllMatchIn(block).map(_.group(1))
          .map(unhex).toSeq
      }
    }
    // legacy manifests (pre-salt/index) default to 0 / none
    val salt = "\"saltBuckets\":(\\d+)".r.findFirstMatchIn(s)
      .map(_.group(1).toInt).getOrElse(0)
    def ixList(arrayKey: String): Seq[IndexDescriptor] = {
      val i = s.indexOf("\"" + arrayKey + "\":[")
      if (i < 0) Seq.empty[IndexDescriptor]
      else {
        val j = s.indexOf("]", i)
        val block = s.substring(i + arrayKey.length + 4, j)
        "\\{[^}]*\\}".r.findAllIn(block).map { ix =>
          // legacy objects lack ixCovered/ixMore → Nil
          def flatCols(key: String): Seq[(String, Array[Byte])] =
            ("\"" + key + "\":\"([^\"]*)\"").r.findFirstMatchIn(ix)
              .map(_.group(1)).filter(_.nonEmpty).fold(
                Seq.empty[(String, Array[Byte])]) {
                _.split(';').toSeq.map { e =>
                  val c = e.lastIndexOf(':')
                  (e.substring(0, c), unhex(e.substring(c + 1)))
                }
              }
          IndexDescriptor(
            "\"ixFamily\":\"([^\"]*)\"".r.findFirstMatchIn(ix).get.group(1),
            unhex("\"ixQualifier\":\"([0-9a-f]*)\"".r
              .findFirstMatchIn(ix).get.group(1)),
            "\"ixTable\":\"([^\"]*)\"".r.findFirstMatchIn(ix).get.group(1),
            flatCols("ixCovered"), flatCols("ixMore"))
        }.toSeq
      }
    }
    val ixs = ixList("indexes")
    val pendIxs = ixList("pendingIndexes")
    // wideKey/wideSchema are TOP-LEVEL scalars emitted before the
    // splitBoundaries array — anchor their lookup to that prefix region so
    // a family/index/dir string that happens to contain the property text
    // can never be misparsed into the descriptor. (esc() already escapes
    // quotes, so the full-string scan was only a latent hazard; the anchor
    // removes the class.)
    def optStr(k: String): Option[String] = {
      val end = s.indexOf("\"splitBoundaries\":")
      val top = if (end < 0) s else s.substring(0, end)
      ("\"" + k + "\":\"([^\"]*)\"").r.findFirstMatchIn(top).map(_.group(1))
    }
    // stats fields are top-level scalars AFTER the dataDirs array (see
    // write); absent on legacy manifests -> None
    val stats = "\"statsRows\":(\\d+)".r.findFirstMatchIn(s).map { r =>
      def optNum(k: String): Option[Long] =
        ("\"" + k + "\":(\\d+)").r.findFirstMatchIn(s).map(_.group(1).toLong)
      def optHex(k: String): Option[Array[Byte]] =
        ("\"" + k + "\":\"([0-9a-f]*)\"").r.findFirstMatchIn(s)
          .map(m => unhex(m.group(1)))
      ManifestStats(r.group(1).toLong,
        optNum("statsResolved").getOrElse(r.group(1).toLong),
        optHex("statsMin"), optHex("statsMax"),
        optNum("statsHistRows").getOrElse(0L),
        "\"statsHist\":\"([0-9a-f;]*)\"".r.findFirstMatchIn(s)
          .map(_.group(1)).filter(_.nonEmpty)
          .fold(Seq.empty[Array[Byte]])(_.split(';').toSeq.map(unhex)),
        unseenRows = optNum("statsUnseen").getOrElse(0L))
    }
    Manifest(str("table"), num("version"), num("createdMs"),
      TableDescriptor(str("table"), fams, bool("readOnly"),
        num("splitKeys").toInt, bounds, salt, ixs,
        immutableRows = bool("immutableRows"),
        wideKey = optStr("wideKey"), wideSchema = optStr("wideSchema"),
        pendingIndexes = pendIxs), dirs, stats)
  }
}

/** A write FENCE trip: the manifest moved past the version the caller
  * computed from (`expectVersion` in [[Catalog.replaceData]] /
  * [[Catalog.alterTable]]), or the CURRENT swap lost to a concurrent
  * committer ([[Catalog]] `commitCurrent` — a commit race is
  * deliberately the same retryable condition: both mean "someone else
  * won this version, recompute and try again"). A DEDICATED type so
  * retry loops (e.g.
  * [[graft.sql.GraftMigrate.resumePendingIndexRebuilds]]) can retry
  * exactly these transient concurrency losses and let every other
  * failure — a corrupted manifest, a missing dir — propagate
  * immediately instead of masking it under up to N full rebuilds.
  * Subclasses IllegalStateException so existing callers that match the
  * broader type keep working. */
final class FenceTrippedException(msg: String)
    extends IllegalStateException(msg)

/** The table catalog — the reference's ROOT/META + `HBaseAdmin` surface
  * (§2.7), as a manifest store on any Hadoop FileSystem.
  *
  * Layout: `{root}/{table}/manifest-{v}.json`, `{root}/{table}/CURRENT`
  * (contains v), `{root}/{table}/data-{v}/...parquet` (append batches —
  * the WAL analog, tailed by `Replication.tableChangeFeed`) and
  * `{root}/{table}/compact-{v}/...parquet` (compaction rewrites, which
  * never re-enter the feed). Commits are atomic: write manifest, then
  * rename CURRENT.tmp -> CURRENT (atomic on HDFS and local FS). Data dirs
  * are immutable once referenced — the invariant that makes snapshots
  * free.
  *
  * All timestamps are caller-supplied (`nowMs`) for determinism.
  */
final class Catalog(spark: SparkSession, root: String) {
  import Catalog.{DeltaStats, Written, maxOf, minOf}

  private def fs: FileSystem =
    new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def tableDir(t: String) = new Path(root, t)
  private def currentPath(t: String) = new Path(tableDir(t), "CURRENT")

  private def writeFile(p: Path, content: String): Unit = {
    val out = fs.create(p, true)
    try out.write(content.getBytes(StandardCharsets.UTF_8)) finally out.close()
  }

  private def readFile(p: Path): String = {
    val in = fs.open(p)
    try new String(in.readAllBytes(), StandardCharsets.UTF_8) finally in.close()
  }

  private def commitCurrent(t: String, v: Long): Unit = {
    val tmp = new Path(tableDir(t), s"CURRENT.tmp$v")
    writeFile(tmp, v.toString)
    fs.delete(currentPath(t), false)
    if (!fs.rename(tmp, currentPath(t)))
      // the CURRENT swap lost to a concurrent committer — the same
      // transient concurrency loss a write fence detects, so the same
      // DEDICATED type: retry loops (resumePendingIndexRebuilds) absorb
      // it like a fence trip instead of hard-failing crash recovery
      throw new FenceTrippedException(s"commit race on table $t v$v")
  }

  /** The ONE manifest-commit path every mutation shares: write
    * manifest-(v), swap CURRENT, then VERIFY the committed content —
    * `writeFile` overwrites, so two concurrent committers computing the
    * same v+1 could otherwise have the loser's manifest-(v) content
    * land under the winner's successful CURRENT swap, a SILENT lost
    * update (r14 closed this for alterTable only; ADVICE r14 asked for
    * it uniformly — append/replaceData/replaceDirs/commitDataDirs/
    * bulkLoad now share it). On a verify mismatch the committed state is
    * the other writer's: trip the fence so this caller recomputes from
    * the current (their) version and re-applies. The verify NARROWS the
    * window — it catches overwrites landing between this writer's
    * manifest write and its readback — it does not CLOSE it: a fully
    * serialized competitor (same v, writing after this verify passed)
    * still wins silently, because `commitCurrent`'s delete+rename is
    * not a compare-and-swap on a local filesystem. Closing it needs a
    * filesystem primitive: write-once manifest creation would do it,
    * but would turn a crash-leftover manifest-(v) without a CURRENT
    * swap into a permanent commit blocker — the documented trade since
    * r13, unchanged. */
  private def commitManifest(m: Manifest): Unit = {
    val json = ManifestJson.write(m)
    val p = new Path(tableDir(m.table), s"manifest-${m.version}.json")
    writeFile(p, json)
    commitCurrent(m.table, m.version)
    if (readFile(p) != json)
      throw new FenceTrippedException(
        s"commit on ${m.table} lost manifest-${m.version} to a " +
          "concurrent writer after this commit — recompute from the " +
          "current version and re-apply")
  }

  /** Fresh scratch dir INSIDE the table dir for a distributed delta write
    * (SQL UPDATE/MERGE task staging) — same filesystem as the table, so it
    * scales wherever the table lives. Dot-prefixed: never matches the
    * `data-*`/`compact-*`/`manifest-*` names any listing looks for. */
  private[graft] def newStagingDir(t: String): String = {
    val p = new Path(tableDir(t), s".stage-${java.util.UUID.randomUUID()}")
    fs.mkdirs(p)
    p.toString
  }

  private[graft] def dropStagingDir(dir: String): Unit = {
    val p = new Path(dir)
    require(p.getName.startsWith(".stage-"), s"not a staging dir: $dir")
    fs.delete(p, true): Unit
  }

  def tableExists(t: String): Boolean = fs.exists(currentPath(t))

  def listTables(): Seq[String] =
    if (!fs.exists(new Path(root))) Seq.empty
    else fs.listStatus(new Path(root)).toSeq
      .filter(s => s.isDirectory && fs.exists(new Path(s.getPath, "CURRENT")))
      .map(_.getPath.getName).sorted

  /** Metadata-traffic seam: CURRENT-manifest reads performed through this
    * catalog instance (tests assert planning costs, e.g. one read per
    * wide scan build). */
  private[graft] val manifestReads = new java.util.concurrent.atomic.AtomicLong

  def currentManifest(t: String): Manifest = {
    manifestReads.incrementAndGet()
    val v = readFile(currentPath(t)).trim.toLong
    ManifestJson.read(readFile(new Path(tableDir(t), s"manifest-$v.json")))
  }

  def manifestAt(t: String, v: Long): Manifest =
    ManifestJson.read(readFile(new Path(tableDir(t), s"manifest-$v.json")))

  // Data dirs are immutable once a manifest references them, so the byte
  // total of a manifest VERSION never changes — cache it forever, keyed
  // by (table, version). One getContentSummary per dir on first ask
  // (recursive on the namenode side, no client listing walk).
  /** Key of the JVM-wide per-version stat caches ([[Catalog]] companion
    * — the SQL door mints a fresh Catalog instance per query, so
    * instance-level caches would re-measure every execution): the root
    * disambiguates same-named tables of different catalogs. */
  private def statKey(m: Manifest): (String, String, Long) =
    (root, m.table, m.version)

  /** Summed on-disk bytes of a manifest's live data dirs — the planning
    * statistic the DSv2 doors report (`SupportsReportStatistics`) so
    * Catalyst's join sizing sees the table's real size instead of the
    * "unknown = never broadcastable" default. The reference exposes the
    * same signal as per-region HFile sizes (store file size in region
    * metrics) that drive its balancer; here it drives join planning. */
  def manifestBytes(m: Manifest): Long =
    Catalog.manifestBytesCache.getOrElseUpdate(statKey(m)) {
      m.dataDirs.map { d =>
        val p = new Path(d)
        if (fs.exists(p)) fs.getContentSummary(p).getLength else 0L
      }.sum
    }

  /** Total stored cell rows of a manifest: served METADATA-ONLY from the
    * persisted [[ManifestStats]] (every manifest committed since r15
    * carries them — rolled forward in O(delta)); the lazy cached count
    * (one footer-served job per version) remains only for legacy
    * manifests and restore repoints. */
  def manifestRows(m: Manifest): Long =
    m.stats.map(_.rows).getOrElse(
      Catalog.manifestRowsCache.getOrElseUpdate(statKey(m)) {
        Catalog.statJobs.incrementAndGet(): Unit
        readManifest(m).count()
      })

  /** Upper bound on the LIVE (resolved) entries of a manifest, when the
    * persisted stats carry one — the route guard's denominator of
    * choice: raw counts inflate under churn and lean the guard
    * permissive (the r14 caveat this closes). */
  def manifestResolvedRows(m: Manifest): Option[Long] =
    m.stats.map(s => math.min(s.resolvedRows, s.rows))

  /** The persisted equi-depth row-key histogram of a manifest version:
    * (rows it was computed over, rows appended SINCE — the unseen mass
    * every upper bound must add — and the sorted boundary keys). None
    * when the version predates stats or no full computation has run
    * yet — the guard then falls back to measured probes. */
  def manifestHistogram(m: Manifest)
      : Option[(Long, Long, Seq[Array[Byte]])] =
    // >= 2 boundaries required: the guard's rank arithmetic divides by
    // bucket count (length - 1); a single-boundary block (hand-edited
    // manifest) would yield 0/0 NaN bounds that silently decline routes
    // (ADVICE r15) — fall through to the measured probe instead.
    m.stats.filter(s => s.histRows > 0 && s.histogram.length >= 2)
      .map(s => (s.histRows, s.unseenRows, s.histogram))

  /** The manifest's stored row-key span [min, max]: metadata-only from
    * the persisted stats when present. Legacy fallback: one
    * column-pruned min/max aggregate over the row column (a real scan —
    * parquet aggregate pushdown is not enabled — which is exactly why
    * new commits persist the span instead), cached per version. None on
    * an empty table. */
  def manifestKeySpan(m: Manifest): Option[(Array[Byte], Array[Byte])] =
    m.stats match {
      case Some(st) => for { lo <- st.minKey; hi <- st.maxKey } yield (lo, hi)
      case None =>
        Catalog.manifestKeySpanCache.getOrElseUpdate(statKey(m)) {
          import org.apache.spark.sql.functions.{col, max, min}
          Catalog.statJobs.incrementAndGet(): Unit
          val r = readManifest(m).agg(min(col("row")), max(col("row")))
            .collect()(0)
          if (r.isNullAt(0) || r.isNullAt(1)) None
          else Some((r.getAs[Array[Byte]](0), r.getAs[Array[Byte]](1)))
        }
    }

  /** Cross-query route-guard verdict cache: a verdict is a pure
    * function of (index manifest versions, arm-set signature, guard
    * config) — all baked into `key` by [[graft.sql.GraftRouteGuard]] —
    * so a repeated query (the dashboard pattern) pays zero
    * re-measurement, and an index append bumps the version and
    * naturally invalidates. Bounded LRU: runtime-probe arm sets vary
    * with dim content, so the cache evicts least-recently-used past a
    * size cap rather than growing with distinct dims. The key is
    * prefixed with this catalog's root, 0x00-delimited (no path may
    * contain NUL), so [[deleteTable]] can purge exactly this root's
    * verdicts. */
  def guardVerdict(key: String)(measure: => Boolean): Boolean =
    Catalog.guardVerdictCache.getOrElseUpdate(root + "\u0000" + key)(measure)

  /** [[manifestAt]] tolerating pruned history (`expireVersions`). */
  def tryManifestAt(t: String, v: Long): Option[Manifest] =
    if (fs.exists(new Path(tableDir(t), s"manifest-$v.json")))
      Some(manifestAt(t, v))
    else None

  /** Fully-qualified table directory (provenance checks — e.g. the
    * streaming feed only ships dirs that live UNDER the table). */
  def tablePath(t: String): String =
    fs.makeQualified(tableDir(t)).toString

  /** `HColumnDescriptor.isLegalFamilyName` parity, tightened to an
    * ALLOWLIST: the `_fam=` leaf-dir layout depends on family names being
    * partition-path-safe — Spark's writer percent-escapes a whole set of
    * characters ('/', '=', '%', '#', '*', '?', quotes, brackets, ...), so
    * any escaped name would make splitHot / inMemory matching on the
    * literal name silently miss. Enumerating the escape set is fragile
    * across Spark versions; `[A-Za-z0-9_.-]` (no leading '.') is
    * escape-free on every version and covers the reference's real-world
    * family names. */
  private def requireLegalFamilyNames(desc: TableDescriptor): Unit =
    desc.families.foreach { f =>
      val n = f.name
      require(n.nonEmpty && !n.startsWith(".") &&
          n.forall(c => c.isLetterOrDigit && c < 127 || c == '_' || c == '.' || c == '-'),
        s"illegal family name '$n' in table ${desc.name}: allowed " +
          "characters are [A-Za-z0-9_.-] with no leading '.' " +
          "(partition-path-safe superset of isLegalFamilyName)")
    }

  /** `HBaseAdmin.createTable:169`. */
  def createTable(desc: TableDescriptor, nowMs: Long): Unit = {
    require(!tableExists(desc.name), s"table ${desc.name} exists")
    require(desc.saltBuckets >= 0 && desc.saltBuckets <= 256,
      s"saltBuckets must be in [0, 256], got ${desc.saltBuckets}")
    requireLegalFamilyNames(desc)
    fs.mkdirs(tableDir(desc.name))
    // seed EMPTY stats: every table born here rolls its stats forward
    // in O(delta) from the first batch on — no query ever pays a lazy
    // count/min-max job
    val m = Manifest(desc.name, 1L, nowMs, desc, Seq.empty,
      stats = Some(ManifestStats(0L, 0L, None, None, 0L, Nil)))
    commitManifest(m)
  }

  /** `HBaseAdmin.deleteTable:299` — drops the catalog entry and data.
    * Registered secondary indexes cascade (Phoenix drops a data table's
    * indexes with it): an orphaned index table would silently keep its
    * last state and mislead a later same-named registration. */
  def deleteTable(t: String): Unit = {
    require(tableExists(t), s"no table $t")
    val d = currentManifest(t).descriptor
    (d.indexes ++ d.pendingIndexes)
      .filter(ix => tableExists(ix.indexTable))
      .foreach(ix => deleteTable(ix.indexTable))
    fs.delete(tableDir(t), true)
    // a recreated table restarts versions at 1 — stale per-version stats
    // must not survive the delete. Guard verdicts embed index versions
    // opaquely inside the key, so they purge by ROOT prefix (the key's
    // 0x00-delimited first component): one catalog's temp-table drop
    // must not force every other catalog in the JVM to re-measure
    // (ADVICE r14 — the r14 cut cleared the cache wholesale).
    Seq(Catalog.manifestBytesCache, Catalog.manifestRowsCache).foreach {
      c => c.removeIf(k => k._1 == root && k._2 == t)
    }
    Catalog.manifestKeySpanCache.removeIf(k => k._1 == root && k._2 == t)
    Catalog.guardVerdictCache.removeIf(_.startsWith(root + "\u0000"))
  }

  /** `addColumn:549`/`deleteColumn:583`/`modifyColumn:618`/readonly flag:
    * new manifest version with same data, new descriptor. */
  def alterTable(t: String, desc: TableDescriptor, nowMs: Long): Unit =
    alterTable(t, desc, nowMs, expectVersion = None)

  /** [[alterTable]] with the [[replaceData]]-style WRITE FENCE:
    * `expectVersion` is the manifest version the caller derived the new
    * descriptor (or any content the descriptor vouches for, e.g. a
    * freshly rebuilt index) FROM; if the table moved past it, the alter
    * fails loudly instead of registering state computed from a stale
    * snapshot. */
  def alterTable(t: String, desc: TableDescriptor, nowMs: Long,
      expectVersion: Option[Long]): Unit = {
    requireLegalFamilyNames(desc)
    def fence(at: String): graft.catalog.Manifest = {
      val cur = currentManifest(t)
      expectVersion.filter(_ != cur.version).foreach { e =>
        throw new FenceTrippedException(
          s"alterTable fence on $t: expected version $e but the table is " +
            s"at ${cur.version} ($at) — a concurrent commit landed; " +
            "recompute from the current version")
      }
      cur
    }
    val cur = fence("at entry")
    // The salt is baked into every committed file's sort order — changing
    // it would silently mis-route every point read on existing data.
    require(desc.saltBuckets == cur.descriptor.saltBuckets,
      s"saltBuckets is immutable (table $t has ${cur.descriptor.saltBuckets})")
    // re-fence BEFORE the manifest write (replaceData's double-fence
    // order): a concurrent commit landing after the entry check would
    // otherwise not only be discarded by this commit, but its
    // manifest-(v) FILE would be clobbered by ours (writeFile
    // overwrites). Fencing first NARROWS that window to the instants
    // between this check and the write; the post-commit content check
    // below CLOSES the remaining silent-lost-update: a loser clobbering
    // manifest-(v) in that sliver would otherwise have its content
    // committed under the winner's successful CURRENT swap — and since
    // commit races are deliberately retryable, nothing would ever
    // surface the replacement. (Write-once manifest files would close
    // the window at the filesystem instead, but would turn a
    // crash-leftover manifest-(v) without a CURRENT swap into a
    // permanent commit blocker.)
    fence("before the manifest write"): Unit
    // data unchanged -> stats carry forward verbatim (cur.copy keeps them)
    commitManifest(cur.copy(version = cur.version + 1, createdMs = nowMs,
      descriptor = desc))
  }

  /** Read the table as a cell DataFrame: union of the manifest's immutable
    * data dirs. Parquet stats give row-range/ts pruning; `family` is a
    * partition-style column filterable before scan. */
  def read(t: String): DataFrame = readManifest(currentManifest(t))

  def readManifest(m: Manifest): DataFrame =
    if (m.dataDirs.isEmpty)
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], Cell.schema)
    else {
      // IN_MEMORY families (HColumnDescriptor.java:103 -> block cache):
      // their leaf dirs read through a persisted frame. persist() is
      // idempotent per logical plan (CacheManager dedupes), so repeated
      // reads of the same manifest share one cache entry; entries of
      // SUPERSEDED manifests are unpersisted at commit time (see
      // uncacheHot), so the cache never accumulates stale versions.
      val (hot, cold) = splitHot(m)
      val frames = Seq(
        if (hot.isEmpty) None
        else Some(readDirs(hot)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)),
        if (cold.isEmpty) None
        else Some(readDirs(cold))).flatten
      frames.reduce(_ unionByName _)
    }

  /** (in-memory-family leaf dirs, everything else) of a manifest. */
  private def splitHot(m: Manifest): (Seq[String], Seq[String]) = {
    val inMemFams = m.descriptor.families.filter(_.inMemory).map(_.name).toSet
    def famOf(d: String): Option[String] = {
      val n = new Path(d).getName
      if (n.startsWith(Catalog.FamDirPrefix))
        Some(n.stripPrefix(Catalog.FamDirPrefix))
      else None
    }
    m.dataDirs.partition(d => famOf(d).exists(inMemFams))
  }

  // recursiveFileLookup: leaf dirs may nest `_bucket={i}` subdirs
  // (explicit pre-split boundaries); those names are containers, not
  // partition columns — every cell column lives in the files.
  private def readDirs(dirs: Seq[String]): DataFrame =
    spark.read.schema(Cell.schema)
      .option("recursiveFileLookup", "true").parquet(dirs: _*)

  /** Drop the block-cache entry of a superseded manifest's in-memory
    * frame (unpersist matches by logical plan). Without this, every
    * commit on an IN_MEMORY table would strand the previous version's
    * cached blocks until executor death. */
  private def uncacheHot(m: Manifest): Unit = {
    val (hot, _) = splitHot(m)
    if (hot.nonEmpty) readDirs(hot).unpersist(): Unit
  }

  /** Write a cell batch under `base` in the committed layout:
    * range-partitioned by row, sorted by full cell order within partitions
    * (the HFileOutputFormat / SimpleTotalOrderPartitioner layout, SURVEY
    * §2.1), split into per-family leaf dirs (`_fam={name}` — the
    * reference's one-store-file-per-family shape) so each family gets ITS
    * OWN physical attrs: families are grouped by identical
    * (compression, bloom) and each group is one write — a table with
    * all-default families writes once.
    *
    * Everything the commit needs to know about the batch is observed
    * INSIDE those writes (`Dataset.observe`), the way the reference's
    * writer records a store file's entry count and key span in the
    * file's own metadata (`StoreFile.java:445-452`): the delta's raw
    * count, row span and put count (the manifest roll-forward) and, per
    * declared family, the cell and tombstone counts that land in each
    * leaf's [[graft.core.StoreStats]]. No pass over the written files.
    *
    * `knownBytes` is the batch's size when it is known without a job
    * (see [[append]], [[replaceDirs]]); a batch that fits one file split
    * (`spark.sql.files.maxPartitionBytes`, the unit Spark itself scans
    * files in) is written as ONE sorted partition — one job, where range
    * partitioning costs a sampling job, an exchange and the write. */
  private def writeCells(base: String, cells: DataFrame,
      desc: TableDescriptor, knownBytes: Option[Long]): Written = {
    import org.apache.spark.sql.Observation
    import org.apache.spark.sql.functions.{col, count, lit, max, min, not, when}
    // The intra-call writes below use SaveMode.Append (several
    // physical-attr groups share one base dir), so restore the
    // ErrorIfExists contract HERE: a retried append() reusing the same
    // version, or a concurrent writer racing to v+1, must fail loudly
    // rather than silently interleave duplicate files into a committed
    // layout.
    require(!fs.exists(new Path(base)),
      s"data dir already exists (retried or concurrent commit?): $base")
    // an empty driver-resident batch (e.g. the index delta of a batch
    // that never touches the indexed column) writes nothing, with no job
    if (Catalog.driverResident(cells).exists(_.data.isEmpty))
      return Written(Nil, Some(DeltaStats(0L, None, None, 0L)))
    // Explicit pre-split boundaries: bucket i = number of boundaries <=
    // row (bytewise — Spark's BinaryType ordering matches Bytes.compareTo,
    // BytesSpec-asserted). partitionBy on the bucket puts each boundary
    // range in its own subdir, so no committed file straddles a boundary —
    // the pre-split-region guarantee.
    val bounds = desc.splitBoundaries
    def withBucket(df: DataFrame): DataFrame =
      if (bounds.isEmpty) df
      else df.withColumn("_bucket",
        bounds.foldLeft(lit(0)) { (acc, b) =>
          acc + when(col("row") >= lit(b), 1).otherwise(0)
        })
    val partCols = if (bounds.isEmpty) Seq("_fam") else Seq("_fam", "_bucket")
    val single = knownBytes.exists(
      _ <= cells.sparkSession.sessionState.conf.filesMaxPartitionBytes)
    val isPut = col("kind") === graft.core.CellKind.Put
    def write(df: DataFrame, fams: Seq[String], compression: Option[String],
        bloom: BloomType.Value): Option[org.apache.spark.sql.Row] = {
      // The sort MUST lead with the partitionBy columns: the dynamic-
      // partition writer re-sorts any task whose rows are not already
      // ordered by them, and that re-sort is NOT stable — it silently
      // destroyed the within-file row order on multi-family batches once
      // tasks outgrew small scale (caught by the wide stream's sf1
      // re-verify; at driver scales the re-sort happened to preserve
      // order). Leading with (_fam[, _bucket]) satisfies the writer's
      // requirement by construction, so no re-sort runs and every
      // committed file is genuinely sorted by (row, qualifier, ts desc,
      // seq desc) within its family — the HFile layout the row-group
      // pruning and the feed's merge assembly are designed around.
      val sortCols = partCols.map(col) ++ Seq(col("row"), col("family"),
        col("qualifier"), col("ts").desc, col("seq").desc)
      val laid = withBucket(df)
        .withColumn("_fam", col("family")) // keep family IN the data files
      // The one sorted partition keeps the committed layout: the sort
      // still leads with (_fam[, _bucket]), so each leaf (and each
      // boundary subdir) gets one sorted file.
      val placed =
        if (single) laid.coalesce(1)
        else laid.repartitionByRange(desc.splitKeys, col("row"))
      // The observe sits AFTER the sort, above the range exchange: the
      // range-sampling job re-runs the exchange's CHILD, so metrics
      // collected below it would count every row twice. CollectMetrics
      // passes its child's ordering through, so the writer still sees
      // the sort and adds none of its own. Per-family counts cover the
      // DECLARED families only; an undeclared family's leaf stays
      // UNKNOWN (no stats file).
      val obs = Observation()
      val perFam = fams.zipWithIndex.flatMap { case (f, i) =>
        val inFam = col("family") === f
        Seq(count(when(inFam, 1)).as(s"rows$i"),
          count(when(inFam && !isPut, 1)).as(s"tombstones$i"))
      }
      var w = placed.sortWithinPartitions(sortCols: _*)
        .observe(obs, count(lit(1)).as("rows"),
          (min(col("row")).as("lo") +: max(col("row")).as("hi") +:
            count(when(isPut, 1)).as("puts") +: perFam): _*)
        .write.mode(SaveMode.Append).partitionBy(partCols: _*)
      compression.foreach(c => w = w.option("compression", c))
      // Bloom filters per BloomType: ROW = the reference's point-get
      // store-file pruning (StoreFile.java:775-781) — parquet checks the
      // row bloom before row-group decode on row = <key> predicates;
      // ROWCOL adds the qualifier bloom (StoreFile.BloomType:93-105) for
      // Gets naming a specific column of a wide row.
      if (bloom != BloomType.None)
        w = w.option("parquet.bloom.filter.enabled#row", "true")
      if (bloom == BloomType.RowCol)
        w = w.option("parquet.bloom.filter.enabled#qualifier", "true")
      w.parquet(base)
      Catalog.observed(obs)
    }
    val nonDefault = desc.families
      .filter(f => f.compression.isDefined || f.bloomFilter != BloomType.None)
      .groupBy(f => (f.compression, f.bloomFilter)).toSeq
      .map { case ((c, b), fs) => (c, b, fs.map(_.name)) }
    val nd = nonDefault.flatMap(_._3)
    val defaultFams = desc.families.map(_.name).filterNot(nd.contains)
    // default-attrs group also catches cells of undeclared families
    val observed =
      (defaultFams -> write(
        if (nd.isEmpty) cells else cells.filter(not(col("family").isin(nd: _*))),
        defaultFams, None, BloomType.None)) +:
        nonDefault.map { case (c, b, fams) =>
          fams -> write(cells.filter(col("family").isin(fams: _*)), fams, c, b)
        }
    val delta =
      if (observed.exists(_._2.isEmpty)) None
      else Some(observed.flatMap(_._2).map { r =>
        def key(i: Int) = if (r.isNullAt(i)) None else Some(r.getAs[Array[Byte]](i))
        DeltaStats(r.getLong(0), key(1), key(2), r.getLong(3))
      }.reduce(_ merge _))
    val bp = new Path(base)
    // an empty batch writes no leaf: nothing to list or record
    if (delta.exists(_.rows == 0) || !fs.exists(bp)) Written(Nil, delta)
    else {
      val leaves = fs.listStatus(bp).toSeq
        .filter(s => s.isDirectory && s.getPath.getName.startsWith(Catalog.FamDirPrefix))
        .map(_.getPath.toString).sorted
      // leaves are per-family dirs and `family` is in the data, so
      // per-family == per-leaf; a leaf whose family is absent from the
      // observed set (undeclared, or a dir-name escaping mismatch) stays
      // UNKNOWN rather than claiming 0
      val famCounts = observed.flatMap { case (fams, r) =>
        r.toSeq.flatMap(r => fams.indices.map(i =>
          fams(i) -> (r.getLong(4 + 2 * i), r.getLong(5 + 2 * i))))
      }.toMap
      leaves.foreach { d =>
        val fam = new Path(d).getName.stripPrefix(Catalog.FamDirPrefix)
        famCounts.get(fam).foreach { case (rows, tombstones) =>
          graft.core.StoreStats.write(fs, new Path(d), tombstones, Some(rows))
        }
      }
      Written(leaves, delta)
    }
  }

  // ---- persisted per-version stats (r15, [[ManifestStats]]): computed
  // while the data is in hand, so queries never pay stat jobs.

  /** One column-pruned agg over `dirs`: the [[DeltaStats]] of files
    * graft did not write itself — a [[bulkLoad]]ed dir — or of a write
    * whose observed metrics did not arrive ([[Catalog.observed]]).
    * [[writeCells]] observes the same numbers inside its write. */
  private def statAgg(dirs: Seq[String]): DeltaStats = {
    if (dirs.isEmpty) return DeltaStats(0L, None, None, 0L)
    import org.apache.spark.sql.functions.{col, count, lit, max, min, sum, when}
    val r = readDirs(dirs).agg(count(lit(1)), min(col("row")),
      max(col("row")),
      sum(when(col("kind") === graft.core.CellKind.Put, 1L).otherwise(0L)))
      .collect()(0)
    DeltaStats(r.getLong(0),
      if (r.isNullAt(1)) None else Some(r.getAs[Array[Byte]](1)),
      if (r.isNullAt(2)) None else Some(r.getAs[Array[Byte]](2)),
      if (r.isNullAt(3)) 0L else r.getLong(3))
  }

  /** Equi-depth row-key boundaries ([[Catalog.HistBuckets]] + 1 keys)
    * over `n` stored rows: a uniform sample of up to
    * [[Catalog.HistSampleTarget]] keys, sorted driver-side, read at
    * equal rank steps. DKW bounds the sample CDF within
    * [[Catalog.HistRankErr]] of the truth (probability ~1 - 10^-21 at
    * the 10^6 target — see [[ManifestStats]]); below the target the
    * sample is the full key set and the boundaries are exact. Driver
    * cost is O(sample), never O(table). */
  private def keyHistogram(rows: org.apache.spark.sql.DataFrame,
      n: Long): Seq[Array[Byte]] = {
    if (n <= 0) return Nil
    val frac = math.min(1.0, Catalog.HistSampleTarget.toDouble / n)
    val keys = rows.select("row")
    val sample =
      (if (frac >= 1.0) keys
       else keys.sample(withReplacement = false, frac, seed = 42L))
        .collect().map(_.getAs[Array[Byte]](0))
    if (sample.isEmpty) return Nil
    java.util.Arrays.sort(sample,
      (a: Array[Byte], b: Array[Byte]) => graft.core.Bytes.compareTo(a, b))
    val m = sample.length
    val b = Catalog.HistBuckets
    (0 to b).map(j =>
      sample(math.min(m - 1, (j.toLong * m / b).toInt)))
  }

  /** FULL stats of a data-dir set — the full-rewrite path
    * ([[replaceData]]: compactions and index rebuilds; [[analyzeTable]];
    * a table's FIRST batch). TWO shuffle-free column-pruned passes over
    * data the caller just rewrote anyway: one aggregate (raw count,
    * key span, and the resolved bound as an HLL distinct-coordinate
    * count — folding it here instead of running a full
    * [[graft.read.Resolve]] window pass halved the measured build
    * overhead at sf1) and the histogram sample. The distinct
    * (row, family, qualifier) count bounds the live entries from above
    * up to the HLL's ~1% relative error; a rare undercount only
    * shrinks the guard denominator, i.e. leans the guard toward the
    * pushed scan (cost-only). */
  private def fullStats(dirs: Seq[String]): ManifestStats = {
    if (dirs.isEmpty) return ManifestStats(0L, 0L, None, None, 0L, Nil)
    import org.apache.spark.sql.functions.{approx_count_distinct, col, count, lit, max, min, struct}
    val r = readDirs(dirs).agg(count(lit(1)), min(col("row")),
      max(col("row")),
      approx_count_distinct(
        struct(col("row"), col("family"), col("qualifier")), 0.01))
      .collect()(0)
    val n = r.getLong(0)
    if (n == 0) return ManifestStats(0L, 0L, None, None, 0L, Nil)
    ManifestStats(n, math.min(n, r.getLong(3)),
      Some(r.getAs[Array[Byte]](1)), Some(r.getAs[Array[Byte]](2)),
      n, keyHistogram(readDirs(dirs), n))
  }

  /** O(delta) stats roll-forward for an append/bulk-load commit: raw
    * rows add exactly; the resolved upper bound grows by the delta's
    * PUTS only (new puts may shadow old entries, never mint extra live
    * ones; tombstones mint none); the span widens to the union. The
    * delta's numbers are the ones [[writeCells]] observed while writing
    * (zero jobs); a bulk-loaded dir, or a write whose metrics did not
    * arrive, pays one [[statAgg]]. A table's FIRST batch computes the
    * full stats instead (histogram included — CREATE INDEX's initial
    * build lands here, so a fresh index is guard-estimable from birth).
    * Legacy manifests (None) stay legacy until a full rewrite or
    * [[analyzeTable]]. */
  private def mergeDeltaStats(prev: Option[ManifestStats],
      w: Written): Option[ManifestStats] =
    prev.map { p =>
      if (w.leaves.isEmpty) p
      else if (p.rows == 0) fullStats(w.leaves)
      else {
        val d = w.delta.getOrElse(statAgg(w.leaves))
        ManifestStats(p.rows + d.rows, p.resolvedRows + d.puts,
          minKey = minOf(p.minKey, d.minRow), maxKey = maxOf(p.maxKey, d.maxRow),
          p.histRows, p.histogram,
          unseenRows = p.unseenRows + d.rows)
      }
    }

  /** Exact stored cell count of `dirs` from their recorded
    * [[graft.core.StoreStats]] — None when any dir lacks the count. */
  private def recordedRows(dirs: Seq[String]): Option[Long] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val counts = dirs.map(d => graft.core.StoreStats.rows(conf, new Path(d)))
    if (counts.forall(_.isDefined)) Some(counts.flatten.sum) else None
  }

  /** ANALYZE TABLE: recompute and persist FULL stats for the CURRENT
    * data in a metadata-only manifest commit (data dirs untouched) —
    * the explicit refresh for legacy tables, restore repoints, and
    * churned indexes whose rolled-forward `resolvedRows` upper bound
    * has drifted wide. The stats jobs run over a LONG window, so the
    * commit RE-FENCES on the version it read (review r15: committing
    * `cur`'s data-dir list blindly would silently drop a concurrent
    * append's dirs): a moved version trips the fence and the caller
    * re-runs against the new current — the same retryable contract as
    * every other fence. */
  def analyzeTable(t: String, nowMs: Long): Manifest = {
    val cur = currentManifest(t)
    val stats = fullStats(cur.dataDirs)
    val now = currentManifest(t)
    if (now.version != cur.version)
      throw new FenceTrippedException(
        s"analyzeTable fence on $t: read version ${cur.version} but the " +
          s"table moved to ${now.version} mid-analysis — re-run against " +
          "the current version")
    val m = cur.copy(version = cur.version + 1, createdMs = nowMs,
      stats = Some(stats))
    commitManifest(m)
    m
  }

  /** Append a batch of cells as a new immutable data dir + manifest
    * version — the LSM "flush" (layout: [[writeCells]]).
    *
    * `cells` carry LOGICAL row keys; on a salted table the salt prefix is
    * applied HERE (the one write seam), so callers never salt by hand.
    *
    * Registered index maintenance orders around the main commit BY INDEX
    * KIND, because the two read paths tolerate opposite crash residues
    * (the same split Phoenix makes between its mutable and
    * immutable-rows global indexes):
    *
    *  - POINTER-ONLY indexes dual-write BEFORE the main commit: a crash
    *    between the two leaves only stale index entries — false
    *    positives the VERIFIED read eliminates — never unindexed puts
    *    (false negatives, which would be silently wrong answers).
    *  - COVERED indexes dual-write AFTER the main commit (data-first):
    *    their read path never verifies, so an index-first crash residue
    *    would be PHANTOM rows returned as real data. Data-first flips
    *    the residue to missing index entries — committed rows
    *    temporarily invisible through the index, healed by
    *    `SecondaryIndex.rebuild` (or replaying the append) — an
    *    availability gap, never an integrity violation. */
  def append(t: String, cells0: DataFrame, nowMs: Long): Manifest =
    append(t, cells0, nowMs, None)

  /** [[append]] with `knownBytes`, the batch's size when it is known
    * without a Spark job — it lets [[writeCells]] skip range sampling on
    * a small batch. A driver-resident batch measures itself. */
  private[graft] def append(t: String, cells0: DataFrame, nowMs: Long,
      knownBytes0: Option[Long]): Manifest = {
    val cur = currentManifest(t)
    require(!cur.descriptor.readOnly, s"table $t is read-only")
    // With registered indexes the batch is evaluated MORE THAN ONCE
    // (index delta + main write, and again for covered deltas). A
    // nondeterministic plan (rand-salted ids, current_timestamp, a
    // re-executed shuffle after executor loss) would then write
    // different cells to the main table than to its indexes — a silent
    // desync a covered read never detects. Pin the batch to one
    // evaluation before fanning out. A driver-resident batch is pinned
    // already: every use below reads back the rows of its optimized
    // LocalRelation, which costs no job. Index-free appends evaluate
    // once anyway and skip the materialization. Otherwise one
    // checkpoint evaluation also measures the batch's bytes (observed —
    // no extra job), which sizes the writes below.
    val (cells, knownBytes) = Catalog.driverResident(cells0) match {
      case Some(l) =>
        (org.apache.spark.sql.graft.SparkInternals.ofRows(spark, l),
          Some(Catalog.localBytes(l)))
      case None if cur.descriptor.indexes.isEmpty => (cells0, knownBytes0)
      case None =>
        import org.apache.spark.sql.Observation
        import org.apache.spark.sql.functions.{coalesce, col, lit, octet_length, sum}
        val obs = Observation()
        val pinned = cells0.observe(obs, sum(octet_length(col("row")) +
          octet_length(col("family")) + octet_length(col("qualifier")) +
          coalesce(octet_length(col("value")), lit(0)) +
          Catalog.FixedCellBytes)).localCheckpoint()
        (pinned, knownBytes0.orElse(Catalog.observed(obs).map(r =>
          if (r.isNullAt(0)) 0L else r.getLong(0))))
      }
    // Pre-append logical view, read only by covered-index tombstone
    // maintenance (and only when the batch actually has tombstones).
    // Captured from `cur`, so it stays the PRE-state even when the
    // covered maintenance runs after the main commit below.
    lazy val pre = {
      val raw = readManifest(cur)
      if (cur.descriptor.saltBuckets > 0) graft.core.Salt.stripCells(raw)
      else raw
    }
    val (coveredIxs, pointerIxs) =
      cur.descriptor.indexes.partition(_.covered.nonEmpty)
    def maintain(ix: IndexDescriptor): Unit =
      append(ix.indexTable,
        graft.read.SecondaryIndex.maintenanceDelta(pre, cells, ix), nowMs,
        graft.read.SecondaryIndex.deltaBytesBound(ix, knownBytes)): Unit
    pointerIxs.foreach(maintain)
    val storage =
      if (cur.descriptor.saltBuckets > 0)
        graft.core.Salt.saltCells(cells, cur.descriptor.saltBuckets)
      else cells
    val v = cur.version + 1
    val written = writeCells(new Path(tableDir(t), s"data-$v").toString,
      storage, cur.descriptor, knownBytes)
    val m = cur.copy(version = v, createdMs = nowMs,
      dataDirs = cur.dataDirs ++ written.leaves,
      stats = mergeDeltaStats(cur.stats, written))
    commitManifest(m)
    uncacheHot(cur)
    coveredIxs.foreach(maintain)
    m
  }

  /** Replace all data dirs with one rewritten dir (compaction commit).
    * Old dirs stay on disk until `vacuum` — snapshots may reference them.
    *
    * `cells` here are STORAGE-order cells (a compaction reads the table
    * raw and rewrites it — on a salted table the rows are already
    * salted), so unlike [[append]] no salt is applied and no index
    * maintenance runs: compactions never re-enter the WAL or the index
    * feed; index GC after a compaction is `SecondaryIndex.rebuild`.
    *
    * The rewrite lands under `compact-{v}`, NOT `data-{v}`: `data-*` dirs
    * are exactly the append batches — the WAL analog that
    * [[graft.streaming.Replication.tableChangeFeed]] tails — and the
    * reference's compactions likewise never re-enter the WAL
    * (`Store.java:778` rewrites HFiles; `ReplicationSource.java:334`
    * ships only log edits). */
  def replaceData(t: String, cells: DataFrame, nowMs: Long): Manifest =
    replaceData(t, cells, nowMs, None)

  /** [[replaceData]] with an ATOMIC descriptor swap: the rewritten data
    * and the new descriptor land in ONE manifest commit, so a reader
    * sees old-bytes+old-descriptor or new-bytes+new-descriptor, never a
    * torn pair — what a codec migration ([[graft.sql.GraftMigrate]])
    * needs (the reference's modifyColumn likewise swaps the
    * HColumnDescriptor on a disabled table, `HBaseAdmin.java:618`). */
  def replaceData(t: String, cells: DataFrame, nowMs: Long,
      newDescriptor: Option[TableDescriptor]): Manifest =
    replaceData(t, cells, nowMs, newDescriptor, expectVersion = None)

  /** [[replaceData]] with a WRITE FENCE: `expectVersion` is the manifest
    * version the caller's rewrite was computed FROM; if the table has
    * moved past it by commit time (a concurrent append/commit landed
    * mid-rewrite), the replace FAILS LOUDLY instead of silently
    * discarding the concurrent commit's data — the compare-and-swap
    * analog of the reference's disabled-table contract for
    * `modifyColumn` (`hbase/client/HBaseAdmin.java:618`: structural
    * rewrites require exclusive ownership). Checked at entry (before
    * paying for the distributed write) and re-checked right before the
    * CURRENT swap. */
  def replaceData(t: String, cells: DataFrame, nowMs: Long,
      newDescriptor: Option[TableDescriptor],
      expectVersion: Option[Long]): Manifest = {
    def fence(at: String): Manifest = {
      val cur = currentManifest(t)
      expectVersion.filter(_ != cur.version).foreach { e =>
        throw new FenceTrippedException(
          s"replaceData fence on $t: expected version $e but the table " +
            s"is at ${cur.version} ($at) — a concurrent commit landed; " +
            "re-run the rewrite from the current version")
      }
      cur
    }
    val cur = fence("at entry")
    val desc = newDescriptor.getOrElse(cur.descriptor)
    newDescriptor.foreach { nd =>
      requireLegalFamilyNames(nd)
      require(nd.saltBuckets == cur.descriptor.saltBuckets,
        s"saltBuckets is immutable (table $t has ${cur.descriptor.saltBuckets})")
    }
    val v = cur.version + 1
    val leaves = writeCells(new Path(tableDir(t), s"compact-$v").toString,
      cells, desc, knownBytes = None).leaves
    // a FULL rewrite is the designated stats (re)computation point:
    // exact resolved count + fresh histogram over data this commit just
    // shuffled anyway — compactions and index rebuilds land here.
    // Stats run BEFORE the fence (ADVICE r15 medium): they are two full
    // Spark jobs plus a driver-side sample collect, and the fence only
    // narrows the lost-update window if it sits immediately adjacent to
    // commitManifest.
    val stats = fullStats(leaves)
    fence("after the rewrite, before the commit"): Unit
    val m = cur.copy(version = v, createdMs = nowMs, dataDirs = leaves,
      descriptor = desc, stats = Some(stats))
    commitManifest(m)
    uncacheHot(cur)
    m
  }

  /** PARTIAL compaction commit: replace only `removedLeaves` (a subset of
    * the current manifest's data dirs) with one rewritten `compact-{v}`
    * dir holding `cells`; every other leaf stays referenced UNTOUCHED.
    * This is what a selective minor compaction commits (`Store.java:739`
    * folds a file subset) — the large old batches are never re-read or
    * re-written, so maintenance cost tracks the small-delta tail, not
    * the table. Replaced dirs stay on disk until `vacuum`, exactly like
    * [[replaceData]]. `knownBytes` sizes the rewrite as in [[append]]
    * (a minor compaction passes the removed leaves' on-disk bytes). */
  def replaceDirs(t: String, removedLeaves: Seq[String], cells: DataFrame,
      nowMs: Long, knownBytes: Option[Long] = None): Manifest = {
    val cur = currentManifest(t)
    val gone = removedLeaves.toSet
    val unknown = gone -- cur.dataDirs.toSet
    require(unknown.isEmpty,
      s"replaceDirs: not in the current manifest of $t: ${unknown.take(3)}")
    val v = cur.version + 1
    val written = writeCells(new Path(tableDir(t), s"compact-$v").toString,
      cells, cur.descriptor, knownBytes)
    // a PARTIAL compaction must stay O(delta) — stats roll forward:
    // raw rows subtract the removed leaves' recorded counts (a count job
    // only when some leaf predates recorded counts) and add the
    // rewrite's observed count; the resolved upper bound clamps to the
    // surviving raw total (a rewrite never ADDS live entries, so the
    // previous bound stays sound); the span only widens (stale-wide =
    // decline-leaning, cost-only); the histogram carries (removals only
    // LOWER true in-range mass, so its upper bounds stay sound) and the
    // EXPLICIT unseen-mass term carries UNCHANGED — a rewrite mints no
    // histogram-unseen rows, and decreasing it when the removed leaves
    // were appended-after-histogram ones would at worst overcount,
    // never undercount (review r15: deriving unseen from the shrunken
    // raw total was unsound). The next FULL rewrite or analyzeTable
    // re-tightens everything.
    val stats = cur.stats.map { p =>
      val doomed = removedLeaves.distinct
      val removed = recordedRows(doomed).getOrElse(readDirs(doomed).count())
      val d = written.delta.getOrElse(statAgg(written.leaves))
      val raw = math.max(0L, p.rows - removed) + d.rows
      ManifestStats(raw, math.min(p.resolvedRows, raw),
        minKey = minOf(p.minKey, d.minRow), maxKey = maxOf(p.maxKey, d.maxRow),
        p.histRows, p.histogram, unseenRows = p.unseenRows)
    }
    // re-fence immediately before the commit (ADVICE r15): the rewrite's
    // write job (and a count job for leaves without recorded counts)
    // runs between the manifest read and the commit — without this
    // check a concurrent append's commit at the same v+1 could be
    // silently overwritten (the serialized-competitor class
    // commitManifest's readback verify cannot catch), mirroring
    // analyzeTable's re-fence.
    val now = currentManifest(t)
    if (now.version != cur.version)
      throw new FenceTrippedException(
        s"replaceDirs fence on $t: read version ${cur.version} but the " +
          s"table moved to ${now.version} mid-rewrite — re-run against " +
          "the current version")
    val m = cur.copy(version = v, createdMs = nowMs,
      dataDirs = cur.dataDirs.filterNot(gone) ++ written.leaves, stats = stats)
    commitManifest(m)
    uncacheHot(cur)
    m
  }

  /** Total byte size of one committed leaf dir (compaction selection
    * input). One FS listing per leaf — driver-side metadata, O(batches). */
  private[graft] def leafSize(dir: String): Long =
    fs.getContentSummary(new Path(dir)).getLength

  private[graft] def readLeafDirs(dirs: Seq[String]): DataFrame = readDirs(dirs)

  /** `LoadIncrementalHFiles` analog (`LoadIncrementalHFiles.java:59`):
    * adopt an already-written parquet cell directory into the table by
    * reference — a manifest append, no data copy or rewrite. The commit
    * DOES read the adopted dir once for the stats roll-forward
    * (`mergeDeltaStats`: a column-pruned aggregate; on a table's first
    * batch the full two-pass stats including the histogram sample), so
    * a dir violating the Cell-schema promise fails the commit here. The
    * caller promises the dir holds Cell-schema parquet (e.g. produced by
    * an `HFileOutputFormat`-style job via [[append]]'s layout on another
    * table, or an export). The reference splits straddling HFiles across
    * regions; our range partitioning has no per-region files to straddle.
    *
    * Like the reference's bulk load, this bypasses the WAL analog AND
    * index maintenance: on a salted table the adopted dir must already be
    * in salted storage order, and registered indexes must be brought
    * current with `SecondaryIndex.rebuild` afterwards. */
  def bulkLoad(t: String, dataDir: String, nowMs: Long): Manifest = {
    val cur = currentManifest(t)
    require(!cur.descriptor.readOnly, s"table $t is read-only")
    require(fs.exists(new Path(dataDir)), s"no such data dir: $dataDir")
    val v = cur.version + 1
    val m = cur.copy(version = v, createdMs = nowMs,
      dataDirs = cur.dataDirs :+ dataDir,
      stats = mergeDeltaStats(cur.stats, Written(Seq(dataDir), None)))
    commitManifest(m)
    m
  }

  /** Commit a new manifest version with explicit data dirs (restore/clone
    * repoint — copy-on-write, no data touched). */
  def commitDataDirs(t: String, dataDirs: Seq[String], nowMs: Long): Manifest = {
    val cur = currentManifest(t)
    val v = cur.version + 1
    // arbitrary repointed dirs -> stats unknown; the lazy caches serve
    // until the next full rewrite or analyzeTable
    val m = cur.copy(version = v, createdMs = nowMs, dataDirs = dataDirs,
      stats = None)
    commitManifest(m)
    uncacheHot(cur)
    m
  }

  /** Retained manifest version NUMBERS (file names only — no reads). */
  private def manifestVersions(t: String): Seq[Long] =
    fs.listStatus(tableDir(t)).toSeq
      .map(_.getPath.getName)
      .collect { case n if n.startsWith("manifest-") && n.endsWith(".json") =>
        n.stripPrefix("manifest-").stripSuffix(".json").toLong
      }.sorted

  /** All manifest versions of a table (for vacuum + time travel). */
  def manifests(t: String): Seq[Manifest] =
    manifestVersions(t).map(manifestAt(t, _))

  /** Highest-version manifest with `createdMs <= ms` (TIMESTAMP AS OF).
    * Reads newest-first with early exit: versions commit in increasing
    * order with non-decreasing stamps, so a time-travel read of a recent
    * timestamp costs O(1) manifest reads instead of parsing the whole
    * retained chain (the reference's equivalent lookup walks snapshot
    * descriptors by name, never the full history). */
  def manifestAtOrBefore(t: String, ms: Long): Option[Manifest] =
    manifestVersions(t).reverseIterator
      .map(manifestAt(t, _)).find(_.createdMs <= ms)

  /** Delete data dirs referenced by NO manifest of this table and no
    * snapshot manifest in `protectedDirs` — the reference's refcount GC
    * (`HRegion.updateRefCountInMeta:2283`, `SnapshotLogCleaner`). */
  def vacuum(t: String, protectedDirs: Set[String]): Seq[String] = {
    // Manifests may store paths without a scheme while listStatus returns
    // fully-qualified ones — qualify BOTH sides before comparing, or live
    // dirs look dead and get deleted.
    def qual(d: String): String = fs.makeQualified(new Path(d)).toString
    val live = (manifests(t).flatMap(_.dataDirs) ++ protectedDirs).map(qual).toSet
    val dirs = fs.listStatus(tableDir(t)).toSeq
      .filter(s => s.isDirectory &&
        (s.getPath.getName.startsWith("data-") ||
          s.getPath.getName.startsWith("compact-")))
      .map(_.getPath)
    // manifests reference per-family LEAF dirs (data-v/_fam=f); a listed
    // top-level dir is live if any live leaf sits under it
    val dead = dirs.filterNot { p =>
      val q = qual(p.toString)
      live.contains(q) || live.exists(_.startsWith(q + "/"))
    }
    dead.foreach(p => fs.delete(p, true))
    dead.map(_.toString)
  }

  /** Drop old manifest versions (retain >= `keep` latest). Pruning history
    * is what makes vacuum actually free space. */
  def expireVersions(t: String, keep: Int): Unit = {
    val ms = manifests(t).dropRight(keep)
    ms.foreach(m => fs.delete(new Path(tableDir(t), s"manifest-${m.version}.json"), false))
  }
}

object Catalog {
  /** Per-family leaf-dir prefix inside a `data-{v}`/`compact-{v}` dir
    * (written via `partitionBy`, family column duplicated into the data). */
  val FamDirPrefix = "_fam="

  /** Equi-depth histogram shape: bucket count (boundaries = B + 1 keys).
    * 128 buckets keep rank bounds within ~1% of the truth while a
    * manifest's histogram block stays a few KB. */
  val HistBuckets = 128
  /** Histogram sample-size target (driver-side sort bound). */
  val HistSampleTarget = 1000000L
  /** Uniform rank-error budget of the sampled boundaries (DKW at the
    * sample target — see [[ManifestStats]]); consumers
    * ([[graft.sql.GraftRouteGuard]]) widen every bound by it. */
  val HistRankErr = 0.005

  private[catalog] def minOf(a: Option[Array[Byte]], b: Option[Array[Byte]]) =
    (a ++ b).reduceOption((x, y) =>
      if (graft.core.Bytes.compareTo(x, y) <= 0) x else y)
  private[catalog] def maxOf(a: Option[Array[Byte]], b: Option[Array[Byte]]) =
    (a ++ b).reduceOption((x, y) =>
      if (graft.core.Bytes.compareTo(x, y) >= 0) x else y)

  /** (raw cells, min row, max row, put cells) of a written delta. */
  private[catalog] final case class DeltaStats(rows: Long, minRow: Option[Array[Byte]],
      maxRow: Option[Array[Byte]], puts: Long) {
    def merge(o: DeltaStats): DeltaStats = DeltaStats(rows + o.rows,
      minOf(minRow, o.minRow), maxOf(maxRow, o.maxRow), puts + o.puts)
  }

  /** The committed leaf dirs of one [[Catalog.writeCells]] call and the delta
    * stats it observed (None when the metrics did not arrive). */
  private[catalog] final case class Written(leaves: Seq[String],
      delta: Option[DeltaStats])

  /** Bytes of a cell's fixed-width fields (ts, kind, seq), added to its
    * variable-length ones when [[Catalog.append]] measures a batch. */
  private[catalog] val FixedCellBytes = 17

  /** The rows of a DRIVER-RESIDENT batch: one whose optimized plan is a
    * `LocalRelation` — [[graft.write.Mutations.toDF]], a
    * `Seq(...).toDF(names)` (a Project the optimizer folds into its
    * LocalRelation), or a filter of either. Its rows are fixed, and
    * reading them back costs no Spark job. None for any other plan. */
  private[graft] def driverResident(df: DataFrame)
      : Option[org.apache.spark.sql.catalyst.plans.logical.LocalRelation] =
    df.queryExecution.optimizedPlan match {
      case l: org.apache.spark.sql.catalyst.plans.logical.LocalRelation
          if !l.isStreaming => Some(l)
      case _ => None
    }

  /** In-memory bytes of a [[driverResident]] batch, read off its rows
    * with no Spark job: an UnsafeRow's own size, otherwise the sum of
    * its fields' lengths (variable-length fields) and default sizes
    * (fixed-width ones). */
  private[catalog] def localBytes(
      l: org.apache.spark.sql.catalyst.plans.logical.LocalRelation): Long = {
    import org.apache.spark.sql.types.{BinaryType, StringType}
    val types = l.output.map(_.dataType).zipWithIndex
    l.data.iterator.map {
      case u: org.apache.spark.sql.catalyst.expressions.UnsafeRow =>
        u.getSizeInBytes.toLong
      case r => types.iterator.map {
        case (_, i) if r.isNullAt(i) => 0L
        case (BinaryType, i) => r.getBinary(i).length.toLong
        case (StringType, i) => r.getUTF8String(i).numBytes.toLong
        case (t, _) => t.defaultSize.toLong
      }.sum
    }.sum
  }

  /** Bytes of the files under `df` when every leaf of its plan is a file
    * relation, read off the relations' file listings with no Spark job;
    * None when any leaf is something else. */
  private[graft] def fileBytes(df: DataFrame): Option[Long] = {
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    val leaves = df.queryExecution.analyzed.collectLeaves()
    val sizes = leaves.collect {
      case l: LogicalRelation if l.relation.isInstanceOf[HadoopFsRelation] =>
        l.relation.sizeInBytes
    }
    if (leaves.nonEmpty && sizes.size == leaves.size) Some(sizes.sum) else None
  }

  /** How long a commit waits for a finished write's observed metrics.
    * They arrive with the write's completion (milliseconds); the bound
    * only keeps a lost delivery from blocking a commit forever — the
    * caller then falls back to a stats job. */
  private val ObserveWait = scala.concurrent.duration.Duration(60, "s")

  /** The metrics of `obs` once its (already finished) action reported
    * them; None if they did not arrive within [[ObserveWait]]. */
  private[catalog] def observed(obs: org.apache.spark.sql.Observation)
      : Option[org.apache.spark.sql.Row] =
    try Some(scala.concurrent.Await.result(obs.future, ObserveWait))
    catch { case _: java.util.concurrent.TimeoutException => None }

  /** Lazy stat jobs actually RUN (legacy-manifest fallbacks only) —
    * the test seam behind "a build-persisted table never pays a stat
    * job at query time". */
  private[graft] val statJobs = new java.util.concurrent.atomic.AtomicLong

  /** Minimal synchronized access-order LRU: a miss past the cap evicts
    * only the ELDEST entry — the r14 cut cleared the whole cache
    * wholesale, so one miss past the cap forced a fleet-wide
    * re-measurement stampede in a long-running multi-tenant JVM
    * (ADVICE r14). `compute` runs OUTSIDE the lock (it may run Spark
    * jobs); concurrent first-misses of one key may compute twice —
    * idempotent by construction, same as the TrieMap it replaces. */
  private[catalog] final class LruCache[K, V](max: Int) {
    private val m = new java.util.LinkedHashMap[K, V](64, 0.75f, true) {
      override def removeEldestEntry(e: java.util.Map.Entry[K, V]): Boolean =
        this.size() > max
    }
    def getOrElseUpdate(k: K)(compute: => V): V = {
      val hit = m.synchronized(m.get(k))
      if (hit != null) hit
      else {
        val v = compute
        m.synchronized {
          val again = m.get(k)
          if (again != null) again else { m.put(k, v); v }
        }
      }
    }
    def removeIf(pred: K => Boolean): Unit = m.synchronized {
      val it = m.keySet().iterator()
      while (it.hasNext) if (pred(it.next())) it.remove()
    }
    private[graft] def size: Int = m.synchronized(m.size())
  }

  // JVM-WIDE per-version stat caches — the SQL door mints a fresh
  // Catalog per query, so these must outlive the instance for the
  // "repeated query pays zero re-measurement" contract. Keyed by
  // (root, table, version): data dirs are immutable once referenced,
  // and deleteTable purges its table's entries (a recreated table
  // restarts versions). Since r15 these serve only LEGACY manifests
  // (new commits persist their stats); the verdict cache remains hot.
  private[catalog] val manifestBytesCache =
    new LruCache[(String, String, Long), java.lang.Long](8192)
  private[catalog] val manifestRowsCache =
    new LruCache[(String, String, Long), java.lang.Long](8192)
  private[catalog] val manifestKeySpanCache =
    new LruCache[(String, String, Long),
      Option[(Array[Byte], Array[Byte])]](8192)
  private[catalog] val guardVerdictCache =
    new LruCache[String, java.lang.Boolean](8192)
}
