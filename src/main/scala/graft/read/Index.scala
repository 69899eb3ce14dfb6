package graft.read

import graft.catalog.{Catalog, FamilyDescriptor, IndexDescriptor, TableDescriptor}
import graft.core.{Bytes, CellKind, Salt}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.BinaryType

/** Global secondary index over one (family, qualifier) — the Phoenix-style
  * index-table design the HBase ecosystem layers on top of the reference's
  * primary-key-only access paths (the reference itself can answer
  * "rows where column = v" only by full scan + `SingleColumnValueFilter`,
  * `hbase/filter/SingleColumnValueFilter.java`).
  *
  * Index layout: a NORMAL cell table whose row key is
  * `value ++ 0x00 ++ mainRow` (value-prefix order, prefix-free under the
  * same constraint as composite row keys: values of the indexed column
  * must not embed 0x00 unless fixed-width — all the numeric codecs are),
  * family `i`, qualifier `r`, cell value = the main-table row key. An
  * equality or prefix query on the indexed column becomes a RANGE SCAN of
  * the index (parquet min/max pruned, O(hits) not O(table)), and the hits'
  * main-row keys gather the main table like a multiGet.
  *
  * Registration ([[create]]) makes the index a catalog-level table
  * property: `Catalog.append` dual-writes the index delta on every main
  * append, `GraftTable.indexLookup` resolves the index by (family,
  * qualifier), and the SQL door's pushdown hook routes qualifying
  * equality/IN predicates through [[gather]] transparently — the Phoenix
  * property: users never address the index table by hand. On a SALTED
  * main table the index stores LOGICAL keys (append indexes the logical
  * batch before salting), so the two key designs compose.
  *
  * Consistency: the index transform is per-cell, so maintenance is "apply
  * the same transform to the delta and mutate the index table". Value
  * UPDATES leave the old value's entry in place and DELETES are not
  * tombstoned here — instead lookups are verified on read: the gather
  * step re-applies `SingleColumnValueFilter(family, qualifier, EQUAL, v)`
  * on the MAIN table's resolved view, so stale index hits are false
  * positives that the filter eliminates (false negatives cannot happen:
  * every put is indexed). Same trade as Phoenix's non-transactional
  * global indexes: cheap writes, verified reads. The stale entries are
  * GARBAGE-COLLECTED by [[rebuild]] (the index table's major-compaction
  * analog), wired into `GraftTable.majorCompact`.
  */
object SecondaryIndex {

  val IndexFamily = "i"
  private val RowQualifier: Array[Byte] = Bytes.toBytes("r")
  private val Sep: Array[Byte] = Array(0.toByte)

  /** Index-table qualifier under which a covered column's value is
    * stored: `"c:" ++ family ++ ":" ++ qualifier`. Family names are
    * `:`-free (directory-safe, like the reference's
    * `HColumnDescriptor.isLegalFamilyName`), so the encoding is
    * prefix-free against the pointer qualifier `"r"` and unambiguous
    * per covered column. */
  def coveredQualifier(family: String, qualifier: Array[Byte]): Array[Byte] =
    Bytes.toBytes("c:" + family + ":") ++ qualifier

  /** Broadcast cap for the gather step: probes at or under this many hit
    * keys broadcast into the main scan (the designed O(hits) plan); above
    * it — the "index on a low-cardinality column, hot value" shape — the
    * gather falls back to a shuffle semi-join, because a driver-built
    * broadcast of millions of keys is exactly the scale-killer the
    * size-gated union-find (`Dedup.connectedComponents`) refuses. */
  val DefaultBroadcastMaxKeys = 1000000L

  /** The per-cell index transform: main-table cells (any mix of kinds) ->
    * index-table put-cells for one indexed (family, qualifier). Run it on
    * a full table for the initial build and on each mutation delta for
    * maintenance — it is the same one-pass, shuffle-free projection. */
  def indexCells(cells: DataFrame, family: String,
      qualifier: Array[Byte]): DataFrame =
    cells
      .filter(col("family") === family &&
        col("qualifier") === lit(qualifier) &&
        col("kind") === CellKind.Put && col("value").isNotNull)
      .select(
        concat(col("value"), lit(Sep), col("row")).as("row"),
        lit(IndexFamily).as("family"),
        lit(RowQualifier).cast(BinaryType).as("qualifier"),
        col("ts"),
        lit(CellKind.Put).as("kind"),
        col("row").as("value"),
        col("seq"))

  /** Covered variant of [[indexCells]]: besides the pointer entry, emit
    * one index cell per covered column value of each indexed row, keyed
    * at the SAME index row (`value ++ 0x00 ++ mainRow`), qualifier
    * [[coveredQualifier]], carrying the covered cell's own ts/seq — so
    * index-side tombstone masking and duplicate dedup transfer exactly.
    *
    * The covered cells need the row's indexed value for the index row
    * key, so unlike the base projection this is a JOIN — but only WITHIN
    * the batch (anchors × covered cells on `row`), never against the
    * main table: on an `immutableRows` table every row's cells arrive in
    * one batch, which is exactly the contract that makes covered indexes
    * sound (Phoenix's IMMUTABLE_ROWS precondition for its client-side
    * covered maintenance). O(batch) shuffle, independent of table size. */
  def indexCellsCovered(cells: DataFrame, family: String,
      qualifier: Array[Byte],
      covered: Seq[(String, Array[Byte])]): DataFrame = {
    val base = indexCells(cells, family, qualifier)
    if (covered.isEmpty) return base
    val anchors = cells
      .filter(col("family") === family &&
        col("qualifier") === lit(qualifier) &&
        col("kind") === CellKind.Put && col("value").isNotNull)
      .select(col("row"),
        concat(col("value"), lit(Sep), col("row")).as("_ixRow"))
    val covPred = covered.map { case (cf, cq) =>
      col("family") === cf && col("qualifier") === lit(cq)
    }.reduce(_ || _)
    val covCells = cells
      .filter(col("kind") === CellKind.Put && col("value").isNotNull && covPred)
      .join(anchors, "row")
      .select(
        col("_ixRow").as("row"),
        lit(IndexFamily).as("family"),
        concat(lit(Bytes.toBytes("c:")), encode(col("family"), "UTF-8"),
          lit(Bytes.toBytes(":")), col("qualifier")).as("qualifier"),
        col("ts"),
        lit(CellKind.Put).as("kind"),
        col("value"),
        col("seq"))
    base.unionByName(covCells)
  }

  /** Synchronous DELETE maintenance for a covered index: translate the
    * batch's tombstones into index-table tombstones, so covered reads
    * (which never verify against the main table) see deletes
    * immediately. The tombstoned rows' CURRENT indexed values locate the
    * index rows — one SPAN-BOUNDED read of the pre-append main table
    * (`[min(tombRow), succ(max))`, parquet-pruned like the gather), the
    * batch analog of Phoenix's read-before-write index delete. Skipped
    * entirely (one cheap agg on the delta) for pure-put batches — the
    * common shape on an immutable-rows table.
    *
    * The translation is kind-exact: a tombstone masking the INDEXED
    * column (DeleteFamily on its family, DeleteColumn, or exact-version
    * Delete) becomes the SAME-shaped tombstone on the index row's
    * POINTER qualifier (`DeleteColumn` for the `<= ts` kinds, `Delete`
    * for the exact kind), and a tombstone masking a covered column
    * becomes the same-shaped tombstone on that covered qualifier
    * (a DeleteFamily fans out to each covered column of its family).
    * Index cells carry main-cell timestamps, so the reference's masking
    * rules (`ScanDeleteTracker`: `ts <= T` for family/column kinds,
    * `ts == T` for the point kind, delete-wins at equal ts) transfer
    * verbatim through the index table's own resolve. [[lookupCovered]]
    * gates covered cells on a LIVE POINTER, so killing the pointer kills
    * the whole logical match without touching the covered entries. */
  def deleteIndexCells(mainPre: DataFrame, delta: DataFrame, family: String,
      qualifier: Array[Byte],
      covered: Seq[(String, Array[Byte])]): DataFrame = {
    val k = col("kind")
    val killsIndexed =
      (k === CellKind.DeleteFamily && col("family") === family) ||
        ((k === CellKind.DeleteColumn || k === CellKind.Delete) &&
          col("family") === family && col("qualifier") === lit(qualifier))
    def killsCovered(cf: String, cq: Array[Byte]) =
      (k === CellKind.DeleteFamily && col("family") === cf) ||
        ((k === CellKind.DeleteColumn || k === CellKind.Delete) &&
          col("family") === cf && col("qualifier") === lit(cq))
    val relevant = covered.map((killsCovered _).tupled)
      .foldLeft(killsIndexed)(_ || _)
    val tombs = delta.filter(k =!= CellKind.Put && relevant)
      .select("row", "family", "qualifier", "ts", "kind", "seq")
    val stats = tombs.agg(count(lit(1)), min(col("row")), max(col("row")))
      .collect()(0)
    if (stats.getLong(0) == 0) return delta.limit(0)
    val lo = stats.getAs[Array[Byte]](1)
    val hi = Bytes.successor(stats.getAs[Array[Byte]](2))
    val span = mainPre.filter(col("row") >= lit(lo) && col("row") < lit(hi))
    // The row's indexed value may live in the PRE-state or in THIS batch
    // (put + delete in one batch — e.g. a replayed change feed folding
    // several appends into one micro-batch). Resolve the pre-state span,
    // then let a same-row batch put (strictly newer under immutableRows)
    // supersede it; the batch's own tombstones must NOT participate in
    // this resolve — they are what we're translating.
    val preIx = Resolve(span)
      .filter(col("family") === family && col("qualifier") === lit(qualifier))
      .select(col("row"), col("value").as("_ixVal"), col("ts").as("_ixTs"))
    val deltaIx = delta
      .filter(col("family") === family && col("qualifier") === lit(qualifier) &&
        col("kind") === CellKind.Put && col("value").isNotNull)
      .select(col("row"), col("value").as("_ixVal"), col("ts").as("_ixTs"))
    val wRow = org.apache.spark.sql.expressions.Window
      .partitionBy("row").orderBy(col("_ixTs").desc)
    val cur = preIx.unionByName(deltaIx)
      .withColumn("_rn", row_number().over(wRow))
      .filter(col("_rn") === 1).select(col("row"), col("_ixVal"))
    val joined = tombs.join(cur, "row")
    val ixRow = concat(col("_ixVal"), lit(Sep), col("row"))
    // exact-version main tombstones stay exact-version on the index side
    val kindOut = when(k === CellKind.Delete, lit(CellKind.Delete))
      .otherwise(lit(CellKind.DeleteColumn))
    def emit(cond: org.apache.spark.sql.Column,
        ixQual: Array[Byte]): DataFrame =
      joined.filter(cond).select(
        ixRow.as("row"),
        lit(IndexFamily).as("family"),
        lit(ixQual).as("qualifier"),
        col("ts"),
        kindOut.as("kind"),
        lit(null).cast(BinaryType).as("value"),
        col("seq"))
    val delPointer = emit(killsIndexed, RowQualifier)
    covered.map { case (cf, cq) =>
      emit(killsCovered(cf, cq), coveredQualifier(cf, cq))
    }.foldLeft(delPointer)(_ unionByName _)
  }

  /** Reconstructed indexed VALUE of a pointer entry: the pointer cell's
    * value IS the main row, so the value prefix is the index row key
    * minus `0x00 ++ mainRow` — exact even when the value itself embeds
    * 0x00 bytes (a raw prefix-range parse is ambiguous there: value
    * `v ++ 0x00 ++ x` lands inside v's probe range; deriving the split
    * point from the pointer's own payload disambiguates). */
  private def pointerIxVal: org.apache.spark.sql.Column =
    expr("substring(row, 1, length(row) - length(value) - 1)")

  /** Probe the index for an exact value: a range scan over
    * `[v ++ 0x00, v ++ 0x01)` returning the distinct candidate main-row
    * keys. O(index hits) rows — at 100 TB this is the whole point: the
    * scan touches only the index files whose min/max overlap the value. */
  def probe(index: DataFrame, value: Array[Byte]): DataFrame =
    ScanExec(index,
        Scan(Some(value ++ Sep), Some(value ++ Array(1.toByte)))
          .addColumn(IndexFamily, RowQualifier))
      .select(col("value").as("row")).distinct()

  /** Multi-value probe (`IN (v1..vk)`): ONE index pass with the k ranges
    * OR'd — parquet prunes to the union of the value ranges — instead of
    * k probe jobs. */
  /** Balanced disjunction: a linear `reduce(_ || _)` nests one converter
    * stack frame per operand, and value lists here reach the RUNTIME key
    * cap (1,024 — join-driven probes), which overflows the Column →
    * Expression conversion (the same lesson as `graft.sql.GraftCols
    * .orAll`; static probe lists are capped at 64 and never hit it). */
  private def orAll(ps: Seq[org.apache.spark.sql.Column])
      : org.apache.spark.sql.Column = {
    // same guard as GraftCols.orAll: length 0 would recurse on empty
    // halves forever — fail loudly instead
    require(ps.nonEmpty, "orAll of an empty operand list")
    ps.length match {
      case 1 => ps.head
      case n => orAll(ps.take(n / 2)) || orAll(ps.drop(n / 2))
    }
  }

  def probeAll(index: DataFrame, values: Seq[Array[Byte]]): DataFrame = {
    require(values.nonEmpty, "probeAll needs at least one value")
    // callers cap value lists at MaxCompositeProbes (static pushdown by
    // construction; runtime probes via runtimeKeyCap): a multi-hundred-
    // arm Or leaves whole-stage codegen and evaluates interpreted per
    // row — an r13 interim shape measured 9x the unpruned join it was
    // meant to beat before the cap landed
    val pred = orAll(values.map(v =>
      col("row") >= lit(v ++ Sep) && col("row") < lit(v ++ Array(1.toByte))))
    ScanExec(index.filter(pred), Scan().addColumn(IndexFamily, RowQualifier))
      .select(col("value").as("row")).distinct()
  }

  /** Sound index-row-space upper bound for "indexed value < hi": rows of
    * every value `< hi` sort below it, rows of every value `>= hi` sort
    * at or above it. For a 0x00-free `hi` that is exactly `hi ++ 0x00`;
    * when `hi` embeds 0x00, entries of values that are proper prefixes
    * of `hi` sprawl past it (their rows continue with `0x00 ++ mainRow`
    * where the main row compares above hi's next bytes), so the bound
    * widens to the shortest such prefix + 0x01 — still a pruned range,
    * made exact by the reconstructed-value residual in every caller. */
  private def valueRangeStop(hi: Array[Byte]): Array[Byte] = {
    val j = hi.indexOf(0.toByte)
    if (j < 0) hi ++ Sep else hi.take(j) :+ 1.toByte
  }

  /** RANGE probe — the index answer to the reference's comparison
    * filters (`CompareFilter.java:49-64` LESS/GREATER...; the dominant
    * `SingleColumnValueFilter` surface): distinct candidate main-row
    * keys whose indexed value lies in `[lo, hi)` (each bound optional;
    * VALUE space, lo inclusive / hi exclusive — binary successor
    * `v ++ 0x00` converts the other inclusivities exactly). The
    * value-prefix index layout makes this ONE pruned range scan of the
    * index — O(hits), not O(table); the reconstructed-value residual
    * keeps the range exact even for 0x00-embedding bounds.
    *
    * `exactPrefix = false` is the LOOSE probe for a bound on the LEADING
    * member of a COMPOSITE index, where the key prefix is the whole
    * member blob, not the bounded value: the reconstructed-prefix
    * residual would compare blob-vs-leading-bound and FALSE-NEGATIVE
    * when a 0x00-embedding bound interleaves with the member separator.
    * Instead the probe scans a UNION of pruned key ranges that is a
    * proven superset of `leading ∈ [lo, hi)`:
    *  - the main range `[lo ++ 0x00, hi ++ 0x00)` — complete except for
    *    leadings that are proper prefixes of `hi` whose next `hi` byte
    *    is 0x00 (their keys continue `0x00 ++ nextMember...` and can
    *    sort past `hi ++ 0x00`);
    *  - one exact-prefix range `[p ++ 0x00, p ++ 0x01)` per such prefix
    *    `p` (at most one per 0x00 byte in `hi` — e.g. ≤ 8 for a
    *    big-endian long bound, where embedded 0x00s are the norm).
    * False positives only (blobs whose leading sorts outside the bound
    * but whose tail crosses it); every caller re-checks the leading
    * value (verify or residual), so the result stays exact and the scan
    * stays O(hits). */
  def probeRange(index: DataFrame, lo: Option[Array[Byte]],
      hi: Option[Array[Byte]], exactPrefix: Boolean = true): DataFrame = {
    require(lo.isDefined || hi.isDefined, "probeRange needs a bound")
    if (exactPrefix) {
      val scanned = ScanExec(index,
        Scan(lo.map(_ ++ Sep), hi.map(valueRangeStop))
          .addColumn(IndexFamily, RowQualifier))
        .withColumn("_ixv", pointerIxVal)
      val exact = (lo.map(b => col("_ixv") >= lit(b)) ++
          hi.map(b => col("_ixv") < lit(b))).reduce(_ && _)
      scanned.filter(exact).select(col("value").as("row")).distinct()
    } else {
      val main = (lo.map(_ ++ Sep), hi.map(_ ++ Sep))
      val prefixRanges = hi.toSeq.flatMap { h =>
        h.indices.filter(h(_) == 0.toByte).map(h.take)
          .filter(p => lo.forall(l => Bytes.compareTo(p, l) >= 0))
          .map(p => (Some(p ++ Sep), Some(p ++ Array(1.toByte))))
      }
      val pred = (main +: prefixRanges).map { case (s, e) =>
        (s.map(x => col("row") >= lit(x)) ++ e.map(x => col("row") < lit(x)))
          .reduce(_ && _)
      }.reduce(_ || _)
      ScanExec(index.filter(pred), Scan().addColumn(IndexFamily, RowQualifier))
        .select(col("value").as("row")).distinct()
    }
  }

  /** One disjunct of an OR-of-probes routing (`FilterList(MUST_PASS_ONE)`
    * evaluated server-side in the reference, `hbase/filter/FilterList
    * .java:47-49`): an equality/IN value set or a value-space interval
    * (lo inclusive / hi exclusive). A bounded union of arms feeds ONE
    * probe pass — see [[probeOr]]. */
  sealed trait ValueArm
  final case class ArmIn(values: Seq[Array[Byte]]) extends ValueArm
  final case class ArmRange(lo: Option[Array[Byte]],
      hi: Option[Array[Byte]]) extends ValueArm

  /** Index-ROW-space key ranges of one arm, for the route guard's
    * HISTOGRAM estimate ([[graft.sql.GraftRouteGuard]]) — the same
    * ranges the probe predicates scan ([[armRowPred]]/[[probe]]/
    * [[probeRange]]), exposed from HERE so the estimate's ranges can
    * never drift from the probes'. The Boolean is EXACTNESS: whether
    * stored-entry mass inside the ranges equals what the probe would
    * count (so a histogram LOWER bound may decline), or only bounds it
    * from above (UPPER/vouch only):
    *  - equality/IN values map exactly (the value-prefix bijection —
    *    the layout contract: values are 0x00-free unless fixed-width);
    *  - a range with 0x00-FREE bounds maps exactly to
    *    `[lo ++ 0x00, hi ++ 0x00)` under the same contract (and the
    *    loose composite-leading probe adds no prefix ranges for a
    *    0x00-free `hi`, so the loose scan IS this range);
    *  - a 0x00-embedding bound (big-endian numerics) widens to
    *    [[valueRangeStop]] — a superset of both the exact and the loose
    *    probe's scan, sound for vouching but typically ~the whole span,
    *    so numeric range arms in practice keep the measured probe. */
  private[graft] def armEstimateRanges(arm: ValueArm)
      : (Seq[(Option[Array[Byte]], Option[Array[Byte]])], Boolean) =
    arm match {
      case ArmIn(vs) =>
        (vs.map(v => (Some(v ++ Sep) : Option[Array[Byte]],
          Some(v ++ Array(1.toByte)) : Option[Array[Byte]])), true)
      case ArmRange(lo, hi) =>
        val zeroFree = lo.forall(!_.contains(0.toByte)) &&
          hi.forall(!_.contains(0.toByte))
        if (zeroFree) (Seq((lo.map(_ ++ Sep), hi.map(_ ++ Sep))), true)
        else (Seq((lo.map(_ ++ Sep), hi.map(valueRangeStop))), false)
    }

  /** Index-row-space predicate of one arm (probe ranges). */
  private def armRowPred(arm: ValueArm): org.apache.spark.sql.Column =
    arm match {
      case ArmIn(vs) => orAll(vs.map(v =>
        col("row") >= lit(v ++ Sep) && col("row") < lit(v ++ Array(1.toByte))))
      case ArmRange(lo, hi) =>
        (lo.map(b => col("row") >= lit(b ++ Sep)) ++
          hi.map(b => col("row") < lit(valueRangeStop(b)))) match {
          case Nil => lit(true)
          case ps => ps.reduce(_ && _)
        }
    }

  /** VALUE-space predicate of an arm union, applied to a column holding
    * the (reconstructed or current) indexed value. */
  def armsPred(c: org.apache.spark.sql.Column, arms: Seq[ValueArm])
      : org.apache.spark.sql.Column =
    arms.map {
      case ArmIn(vs) => orAll(vs.map(v => c === lit(v)))
      case ArmRange(lo, hi) =>
        (lo.map(b => c >= lit(b)) ++ hi.map(b => c < lit(b))) match {
          case Nil => lit(true)
          case ps => ps.reduce(_ && _)
        }
    }.reduce(_ || _)

  /** OR-of-probes: distinct candidate main-row keys whose indexed value
    * satisfies ANY arm — ONE index pass with the arms' probe ranges OR'd
    * (parquet prunes to the union; cost is O(union of hits), not
    * O(arms × passes)). The reconstructed-value residual keeps each
    * range arm exact (0x00-embedding bounds included); equality arms are
    * exact by the prefix-range bijection. */
  def probeOr(index: DataFrame, arms: Seq[ValueArm]): DataFrame = {
    require(arms.nonEmpty, "probeOr needs at least one arm")
    val scanned = ScanExec(
      index.filter(arms.map(armRowPred).reduce(_ || _)),
      Scan().addColumn(IndexFamily, RowQualifier))
      .withColumn("_ixv", pointerIxVal)
    scanned.filter(armsPred(col("_ixv"), arms))
      .select(col("value").as("row")).distinct()
  }

  /** Index-backed OR lookup: one [[probeOr]] pass, one size-gated
    * span-bounded gather, then the verifying re-check of the CURRENT
    * visible value against the arm union — the index answer to
    * `FilterList(MUST_PASS_ONE)` over one column. */
  def lookupOr(mainCells: DataFrame, index: DataFrame, family: String,
      qualifier: Array[Byte], arms: Seq[ValueArm],
      broadcastMaxKeys: Long = DefaultBroadcastMaxKeys,
      keyed: Boolean = true): DataFrame =
    verifiedRows(
      gatherKeyed(mainCells, probeOr(index, arms), broadcastMaxKeys, keyed),
      family, qualifier, c => armsPred(c, arms))

  /** Covered OR lookup: the arm union answered from the index table
    * ALONE (probe-range pruning + the covered reshape). */
  def lookupCoveredOr(index: DataFrame, family: String,
      qualifier: Array[Byte], arms: Seq[ValueArm],
      covered: Seq[(String, Array[Byte])]): DataFrame = {
    require(arms.nonEmpty, "lookupCoveredOr needs at least one arm")
    coveredRead(index, family, qualifier, covered,
      rowPred = arms.map(armRowPred).reduce(_ || _),
      valuePred = armsPred(col("_ixVal"), arms))
  }

  /** Candidate gather, SIZE-GATED and SPAN-BOUNDED: one cheap stats job
    * on the O(hits) parquet-pruned probe yields (count, min key, max
    * key); the hit-key SPAN `[min, succ(max))` then bounds the main scan
    * — parquet min/max pruning reads only the candidates' key range, the
    * multiGet shape, instead of the whole table feeding the semi-join
    * (at 100 TB the gather's scan cost is the span, not the table; a
    * scattered hit set degrades to the full span, never worse than an
    * unbounded scan). Below `broadcastMaxKeys` hits broadcast into that
    * scan; above it — a hot value on a low-cardinality column — the
    * shuffle-hash hint FORCES the non-broadcast semi-join (the count is
    * exact, so no stats misestimate may re-introduce a driver-built
    * broadcast of millions of keys). The join re-runs the probe: two
    * pruned index scans, never a cached or driver-held key set. Returns
    * candidate main-table CELLS (unresolved). */
  def gather(mainCells: DataFrame, index: DataFrame,
      values: Seq[Array[Byte]],
      broadcastMaxKeys: Long = DefaultBroadcastMaxKeys): DataFrame =
    gatherHits(mainCells,
      if (values.sizeIs == 1) probe(index, values.head)
      else probeAll(index, values),
      broadcastMaxKeys)

  /** [[gather]] generalized over any probe result (`hits`: distinct
    * candidate main-row keys from [[probe]]/[[probeAll]]/[[probeRange]]),
    * with the same size gate and span bound. */
  def gatherHits(mainCells: DataFrame, hits: DataFrame,
      broadcastMaxKeys: Long = DefaultBroadcastMaxKeys): DataFrame = {
    val stats = hits.agg(count(lit(1)), min(col("row")), max(col("row")))
      .collect()(0)
    val n = stats.getLong(0)
    if (n == 0) return mainCells.limit(0)
    val lo = stats.getAs[Array[Byte]](1)
    val hi = Bytes.successor(stats.getAs[Array[Byte]](2))
    val span = mainCells.filter(col("row") >= lit(lo) && col("row") < lit(hi))
    val keyed =
      if (n <= broadcastMaxKeys) broadcast(hits) else hits.hint("shuffle_hash")
    span.join(keyed, Seq("row"), "left_semi")
  }

  /** The gather of the verified lookups: ONE job collects up to
    * cap + 1 hit keys (cap = the smaller of [[Resolve.maxKeys]] and
    * `broadcastMaxKeys`). Within the cap the candidates are the keyed
    * read of those keys ([[ScanExec.keyScope]], [[ReadView.keyed]]) —
    * no stats job, and no broadcast that re-runs the probe; above it,
    * or when the caller asks for no `keyed` gather, the size-gated
    * [[gatherHits]]. Returns the candidate cells and whether they are
    * keyed. The SQL door asks for none: its routed plans keep the index
    * scan until its routes are unified with this API's. */
  private def gatherKeyed(mainCells: DataFrame, hits: DataFrame,
      broadcastMaxKeys: Long, keyed: Boolean): (DataFrame, Boolean) = {
    if (!keyed) return (gatherHits(mainCells, hits, broadcastMaxKeys), false)
    val cap = math.min(Resolve.maxKeys(mainCells.sparkSession).toLong,
      broadcastMaxKeys)
    val keys = hits.limit((cap + 1).toInt).collect().map(_.getAs[Array[Byte]](0))
    if (keys.length > cap) (gatherHits(mainCells, hits, broadcastMaxKeys), false)
    else if (keys.isEmpty) (mainCells.limit(0), true)
    else (ScanExec.keyScope(mainCells, keys.toSeq), true)
  }

  /** [[gatherKeyed]] of the [[probe]]/[[probeAll]] hits of `values`. */
  private def gatherValues(mainCells: DataFrame, index: DataFrame,
      values: Seq[Array[Byte]], broadcastMaxKeys: Long,
      keyed: Boolean): (DataFrame, Boolean) =
    gatherKeyed(mainCells,
      if (values.sizeIs == 1) probe(index, values.head)
      else probeAll(index, values),
      broadcastMaxKeys, keyed)

  /** Index-backed equality lookup: probe (small) -> gather the hit keys
    * into the main cell scan (size-gated broadcast) -> resolve with the
    * verifying `SingleColumnValueFilter`, which both re-checks the indexed
    * value against the CURRENT visible version (stale-hit elimination) and
    * keeps whole matching rows. Returns resolved main-table cells. */
  def lookup(mainCells: DataFrame, index: DataFrame, family: String,
      qualifier: Array[Byte], value: Array[Byte],
      broadcastMaxKeys: Long = DefaultBroadcastMaxKeys): DataFrame = {
    val candidates = gather(mainCells, index, Seq(value), broadcastMaxKeys)
    // filterIfMissing: a stale hit whose column was since deleted must
    // not pass on the "missing column passes" default
    ScanExec(candidates, Scan().setFilter(
      SingleColumnValueFilter(family, qualifier,
        CompareOp.EQUAL, BinaryComparator(value), filterIfMissing = true)))
  }

  /** Multi-value lookup: one probe pass, one size-gated gather, one
    * resolve; the verify step keeps rows whose CURRENT visible indexed
    * value is in the set (the IN-generalization of `lookup`'s
    * SingleColumnValueFilter, which is single-comparator). */
  def lookupAll(mainCells: DataFrame, index: DataFrame, family: String,
      qualifier: Array[Byte], values: Seq[Array[Byte]],
      broadcastMaxKeys: Long = DefaultBroadcastMaxKeys,
      keyed: Boolean = true): DataFrame =
    verifiedRows(
      gatherValues(mainCells, index, values, broadcastMaxKeys, keyed), family,
      qualifier, c => orAll(values.map(v => c === lit(v))))

  /** Index-backed RANGE lookup (`value in [lo, hi)`, bounds optional,
    * VALUE space, lo inclusive / hi exclusive): one [[probeRange]] pass,
    * one size-gated span-bounded gather, then the verifying re-check of
    * the CURRENT visible value against the interval — the index answer
    * to the reference's comparison-filter surface
    * (`SingleColumnValueFilter` with LESS/GREATER..., the non-equality
    * `CompareFilter.java:49-64` ops the equality probe can't serve).
    * `exactPrefix = false` = the loose probe for a LEADING member of a
    * composite index (see [[probeRange]]); the verify step here re-checks
    * the member's CURRENT visible value against the interval either way,
    * so loose candidates stay exact. */
  def lookupRange(mainCells: DataFrame, index: DataFrame, family: String,
      qualifier: Array[Byte], lo: Option[Array[Byte]],
      hi: Option[Array[Byte]],
      broadcastMaxKeys: Long = DefaultBroadcastMaxKeys,
      exactPrefix: Boolean = true, keyed: Boolean = true): DataFrame =
    verifiedRows(
      gatherKeyed(mainCells, probeRange(index, lo, hi, exactPrefix),
        broadcastMaxKeys, keyed),
      family, qualifier,
      c => (lo.map(b => c >= lit(b)) ++ hi.map(b => c < lit(b))).reduce(_ && _))

  /** Shared verify step of the non-covered lookups: resolve the gathered
    * candidate cells, keep whole rows whose CURRENT visible indexed value
    * satisfies `valuePred` — stale index hits (updates, deletes) are
    * false positives this eliminates; false negatives cannot happen
    * (every put is indexed). */
  private def verifiedRows(candidates: (DataFrame, Boolean), family: String,
      qualifier: Array[Byte],
      valuePred: org.apache.spark.sql.Column => org.apache.spark.sql.Column)
      : DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val resolved = ScanExec(candidates._1, Scan(), keyed = candidates._2)
    val isTest = col("family") === family && col("qualifier") === lit(qualifier)
    resolved
      .withColumn("_idx_ok",
        max(when(isTest && valuePred(col("value")), 1).otherwise(0))
          .over(Window.partitionBy("row")))
      .filter(col("_idx_ok") === 1).drop("_idx_ok")
  }

  /** The per-append index delta `Catalog.append` dual-writes: the plain
    * per-cell projection for a pointer-only index (cheap writes, verified
    * reads); the within-batch tuple join for a COMPOSITE index (also
    * pointer-only/verified — no delete translation); for a COVERED index
    * additionally the within-batch covered join plus synchronous
    * tombstone translation (covered reads skip verification, so deletes
    * must reach the index at write time). `mainPre` is the LOGICAL
    * pre-append view, only read when the batch contains relevant
    * tombstones. */
  def maintenanceDelta(mainPre: => DataFrame, delta: DataFrame,
      ix: graft.catalog.IndexDescriptor): DataFrame =
    if (ix.moreColumns.nonEmpty) indexCellsComposite(delta, ix.columns)
    else if (ix.covered.isEmpty) indexCells(delta, ix.family, ix.qualifier)
    else indexCellsCovered(delta, ix.family, ix.qualifier, ix.covered)
      .unionByName(
        deleteIndexCells(mainPre, delta, ix.family, ix.qualifier, ix.covered))

  /** Upper bound on the bytes of [[maintenanceDelta]] for a batch of
    * `batchBytes`, when the delta's shape bounds it: a pointer-only
    * index's delta is a per-cell projection that emits at most one cell
    * per batch cell, keyed `value ++ 0x00 ++ row` and pointing back at
    * `row` — at most twice the batch cell's bytes (the 1-byte
    * separator, family `i` and qualifier `r` fit in the 17 fixed-width
    * bytes the batch measure counts per cell). Composite and covered
    * deltas join, so their size is not bounded by the batch. */
  def deltaBytesBound(ix: graft.catalog.IndexDescriptor,
      batchBytes: Option[Long]): Option[Long] =
    if (ix.moreColumns.isEmpty && ix.covered.isEmpty) batchBytes.map(2 * _)
    else None

  /** COMPOSITE key blob: member values joined by the 0x00 separator, in
    * the index's declared column order. Prefix-free under the same
    * constraint as composite row keys (members must not embed 0x00
    * unless fixed-width — all the numeric codecs are); the verified read
    * re-checks every member equality, so even a 0x00 aliasing collision
    * is a false positive the verify eliminates. */
  def compositeBlob(values: Seq[Array[Byte]]): Array[Byte] =
    values.reduce((a, b) => a ++ Sep ++ b)

  /** The composite index transform: a within-batch tuple join of the
    * member columns' put cells per row (O(batch) shuffle, never against
    * the main table — sound under the `immutableRows` contract, where a
    * row's cells arrive in one batch), emitting one pointer entry keyed
    * `blob ++ 0x00 ++ mainRow`. The join is ANCHORED on the LEADING
    * member and LEFT-OUTER to the trailing ones (the Phoenix shape):
    * every row with a leading cell is indexed, a missing trailing member
    * encoding as the empty blob slot. That keeps the index COMPLETE for
    * leading-member routing (a sparse row matching only the leading
    * predicate must still be findable); a sparse entry colliding with a
    * genuinely-empty trailing value is a false positive the every-member
    * verify eliminates, never a false negative. The entry's ts/seq is the
    * NEWEST present member cell's — the tuple's version stamp. */
  def indexCellsComposite(cells: DataFrame,
      columns: Seq[(String, Array[Byte])]): DataFrame = {
    require(columns.sizeIs >= 2, "composite index needs at least 2 columns")
    val members = columns.zipWithIndex.map { case ((f, q), i) =>
      cells.filter(col("family") === f && col("qualifier") === lit(q) &&
          col("kind") === CellKind.Put && col("value").isNotNull)
        .select(col("row"), col("value").as(s"_v$i"),
          col("ts").as(s"_t$i"), col("seq").as(s"_s$i"))
    }
    val joined = members.reduce(_.join(_, Seq("row"), "left_outer"))
    val blob = columns.indices.map(i =>
        coalesce(col(s"_v$i"), lit(Array.empty[Byte])))
      .reduce((a, b) => concat(a, lit(Sep), b))
    joined.select(
      concat(blob, lit(Sep), col("row")).as("row"),
      lit(IndexFamily).as("family"),
      lit(RowQualifier).cast(BinaryType).as("qualifier"),
      greatest(columns.indices.map(i => col(s"_t$i")): _*).as("ts"),
      lit(CellKind.Put).as("kind"),
      col("row").as("value"),
      greatest(columns.indices.map(i => col(s"_s$i")): _*).as("seq"))
  }

  /** Composite equality lookup: ONE probe of the blob's value range
    * (conjunctive equality over k columns = one O(hits) range scan — the
    * whole point of the composite key), size-gated gather, then the
    * verified re-check of EVERY member equality against the current
    * visible row. Values in the index's declared column order. */
  def lookupComposite(mainCells: DataFrame, index: DataFrame,
      columns: Seq[(String, Array[Byte])], values: Seq[Array[Byte]],
      broadcastMaxKeys: Long = DefaultBroadcastMaxKeys): DataFrame =
    lookupCompositeAll(mainCells, index, columns, values.map(Seq(_)),
      broadcastMaxKeys)

  /** Cap on the expanded member-IN cartesian one composite probe pass
    * accepts ([[lookupCompositeAll]]): each blob is one pruned range the
    * probe's OR-predicate pushes to parquet, so the cost is O(blobs ×
    * per-blob hits) — bounded and cheap up to here; past it a caller
    * should fall back to the leading-member route (one range, residual
    * re-check) rather than explode the probe predicate. */
  val MaxCompositeProbes = 64

  /** IN-generalized composite lookup: each member has a VALUE LIST
    * (`IN (v1..vk)`; a single-value member is a 1-list), and the probed
    * blobs are the lists' cartesian product in key order — `custkey IN
    * (a, b) AND status = 'O'` is TWO pruned blob ranges in ONE probe
    * pass, not two queries. Caller bounds the cartesian (≤
    * [[MaxCompositeProbes]] is the routing contract); the verify step
    * re-checks every member against ITS list on the current visible row,
    * so stale hits and blob aliasing stay false positives. */
  def lookupCompositeAll(mainCells: DataFrame, index: DataFrame,
      columns: Seq[(String, Array[Byte])],
      valueLists: Seq[Seq[Array[Byte]]],
      broadcastMaxKeys: Long = DefaultBroadcastMaxKeys,
      keyed: Boolean = true): DataFrame = {
    require(columns.size == valueLists.size && columns.sizeIs >= 2,
      "lookupCompositeAll needs one value list per composite column")
    require(valueLists.forall(_.nonEmpty),
      "lookupCompositeAll needs at least one value per member")
    import org.apache.spark.sql.expressions.Window
    val blobs = valueLists
      .map(_.map(Seq(_)))
      .reduce((as, bs) => for { a <- as; b <- bs } yield a ++ b)
      .map(compositeBlob)
    val (candidates, scoped) =
      gatherValues(mainCells, index, blobs, broadcastMaxKeys, keyed)
    val resolved = ScanExec(candidates, Scan(), keyed = scoped)
    val w = Window.partitionBy("row")
    val flags = columns.zip(valueLists).zipWithIndex.map {
      case (((f, q), vs), i) =>
        s"_cok$i" -> max(when(col("family") === f &&
          col("qualifier") === lit(q) &&
          vs.map(v => col("value") === lit(v)).reduce(_ || _), 1)
          .otherwise(0)).over(w)
    }
    flags.foldLeft(resolved) { case (df, (n, c)) => df.withColumn(n, c) }
      .filter(flags.map(f => col(f._1) === 1).reduce(_ && _))
      .drop(flags.map(_._1): _*)
  }

  /** COVERED lookup — the whole point of covered columns: the query is
    * answered from the index table ALONE, zero main-table touch. One
    * resolved index pass over the probe ranges (index-side tombstones
    * and version caps applied by the normal scan), then the index cells
    * are re-shaped into main-table cells: the pointer entry becomes the
    * indexed column's cell, each covered entry becomes its column's
    * cell, and the main row key is the index row key minus the
    * `value ++ 0x00` prefix. O(hits) index scan, O(1) driver work, no
    * gather, no span, no semi-join — at 100 TB the read cost is the hit
    * set, full stop. Sound only under the `immutableRows` contract
    * (enforced at [[create]]). */
  def lookupCovered(index: DataFrame, family: String,
      qualifier: Array[Byte], values: Seq[Array[Byte]],
      covered: Seq[(String, Array[Byte])]): DataFrame = {
    require(values.nonEmpty, "lookupCovered needs at least one value")
    coveredRead(index, family, qualifier, covered,
      rowPred = orAll(values.map(v =>
        col("row") >= lit(v ++ Sep) && col("row") < lit(v ++ Array(1.toByte)))),
      valuePred = orAll(values.map(v => col("_ixVal") === lit(v))))
  }

  /** Covered RANGE lookup (`value in [lo, hi)`, bounds optional, VALUE
    * space, lo inclusive / hi exclusive): the [[probeRange]] pruning +
    * the covered reshape — a comparison predicate answered from the
    * index table ALONE. */
  def lookupCoveredRange(index: DataFrame, family: String,
      qualifier: Array[Byte], lo: Option[Array[Byte]],
      hi: Option[Array[Byte]],
      covered: Seq[(String, Array[Byte])]): DataFrame = {
    require(lo.isDefined || hi.isDefined, "lookupCoveredRange needs a bound")
    var rowPred = lit(true)
    lo.foreach(b => rowPred = rowPred && col("row") >= lit(b ++ Sep))
    hi.foreach(b => rowPred = rowPred && col("row") < lit(valueRangeStop(b)))
    coveredRead(index, family, qualifier, covered, rowPred,
      valuePred = (lo.map(b => col("_ixVal") >= lit(b)) ++
        hi.map(b => col("_ixVal") < lit(b))).reduce(_ && _))
  }

  /** The covered read core: one resolved pass over the probe row ranges,
    * then a GENERIC reshape whose plan width is O(covered columns) —
    * independent of how many probe values/bounds the predicate has.
    * Per index row: the live POINTER cell's value is the true main row
    * (covered cells are visible only under a live pointer — delete
    * maintenance kills the pointer and the whole logical match
    * disappears with it), and the indexed value is the row key minus
    * `0x00 ++ mainRow` — exact even for values embedding 0x00 bytes
    * (`valuePred` on the reconstruction rejects the prefix-range
    * misparses a raw substring split would admit). */
  private def coveredRead(index: DataFrame, family: String,
      qualifier: Array[Byte], covered: Seq[(String, Array[Byte])],
      rowPred: org.apache.spark.sql.Column,
      valuePred: org.apache.spark.sql.Column): DataFrame = {
    val resolved = ScanExec(index.filter(rowPred), Scan())
    val wIxRow = org.apache.spark.sql.expressions.Window.partitionBy("row")
    val vis = resolved
      .withColumn("_mainRow",
        max(when(col("qualifier") === lit(RowQualifier), col("value")))
          .over(wIxRow))
      .filter(col("_mainRow").isNotNull)
      .withColumn("_ixVal",
        expr("substring(row, 1, length(row) - length(_mainRow) - 1)"))
      .filter(valuePred)
    val ptr = vis.filter(col("qualifier") === lit(RowQualifier))
      .select(col("_mainRow").as("row"), lit(family).as("family"),
        lit(qualifier).as("qualifier"), col("ts"),
        lit(CellKind.Put).as("kind"), col("_ixVal").as("value"), col("seq"))
    covered.map { case (cf, cq) =>
      vis.filter(col("qualifier") === lit(coveredQualifier(cf, cq)))
        .select(col("_mainRow").as("row"), lit(cf).as("family"),
          lit(cq).as("qualifier"), col("ts"),
          lit(CellKind.Put).as("kind"), col("value"), col("seq"))
    }.foldLeft(ptr)(_ unionByName _)
  }

  /** Deterministic default index-table name for one indexed column. */
  def defaultIndexTable(table: String, family: String,
      qualifier: Array[Byte]): String =
    s"${table}_idx_${family}_${qualifier.map(b => f"$b%02x").mkString}"

  /** Logical-key view of a manifest's raw cells (salt stripped when the
    * table is salted) — what the index transform and gather run over. */
  private def logicalRead(catalog: Catalog,
      m: graft.catalog.Manifest): DataFrame = {
    val raw = catalog.readManifest(m)
    if (m.descriptor.saltBuckets > 0) Salt.stripCells(raw) else raw
  }

  /** CREATE INDEX: create the index table, REGISTER it on the main
    * table's descriptor (so `Catalog.append` maintains it from here on),
    * then run the initial build over every existing put (logical keys on
    * salted tables). Register-before-build means a put racing the build
    * can be indexed twice — identical cells that resolve's duplicate
    * dedup collapses — never missed; like Phoenix's CREATE INDEX, a
    * concurrent DROP/bulk-load during the build still needs a rebuild. */
  def create(catalog: Catalog, table: String, family: String,
      qualifier: Array[Byte], nowMs: Long,
      indexTable: Option[String] = None,
      covered: Seq[(String, Array[Byte])] = Nil): IndexDescriptor = {
    val cur = catalog.currentManifest(table)
    require(cur.descriptor.indexOn(family, qualifier).isEmpty,
      s"table $table already has an index on ($family, " +
        s"${qualifier.map(b => f"$b%02x").mkString})")
    // Covered columns are sound only when rows never get value
    // overwrites — the covered read path skips the main-table verify.
    require(covered.isEmpty || cur.descriptor.immutableRows,
      s"covered index columns require table $table to declare " +
        "immutableRows (Phoenix IMMUTABLE_ROWS): covered reads are not " +
        "verified against the main table, so value overwrites would go " +
        "undetected")
    val ixName = indexTable.getOrElse(defaultIndexTable(table, family, qualifier))
    catalog.createTable(TableDescriptor(ixName,
      Seq(FamilyDescriptor(IndexFamily, maxVersions = 1)),
      splitKeys = cur.descriptor.splitKeys), nowMs)
    val ix = IndexDescriptor(family, qualifier, ixName, covered)
    catalog.alterTable(table,
      cur.descriptor.copy(indexes = cur.descriptor.indexes :+ ix), nowMs)
    // Pointer-only indexes build from RAW puts (stale entries are
    // verified away on read); a covered build must start from the
    // VISIBLE view — pre-existing deletes have no read-time safety net
    // on the covered path.
    val src =
      if (covered.isEmpty) logicalRead(catalog, cur)
      else visibleCells(catalog, cur, nowMs)
    catalog.append(ixName,
      indexCellsCovered(src, family, qualifier, covered), nowMs)
    ix
  }

  /** CREATE a COMPOSITE (multi-column) index — the Phoenix multi-column
    * index key: conjunctive equality over the member columns becomes ONE
    * range probe of the blob key. Pointer-only with verified reads (no
    * covered variant — the verify re-checks every member, so no delete
    * translation is needed either); requires `immutableRows` so the
    * within-batch tuple join sees every member cell of a row. */
  def createComposite(catalog: Catalog, table: String,
      columns: Seq[(String, Array[Byte])], nowMs: Long,
      indexTable: Option[String] = None): IndexDescriptor = {
    val cur = catalog.currentManifest(table)
    require(columns.sizeIs >= 2, "composite index needs at least 2 columns")
    require(cur.descriptor.immutableRows,
      s"composite indexes require table $table to declare immutableRows: " +
        "the within-batch tuple join must see every member cell of a row " +
        "in one batch (partial-row re-puts would silently miss tuples)")
    require(cur.descriptor.compositeIndexOn(columns).isEmpty,
      s"table $table already has a composite index on these columns")
    val ixName = indexTable.getOrElse(defaultCompositeTable(table, columns))
    catalog.createTable(TableDescriptor(ixName,
      Seq(FamilyDescriptor(IndexFamily, maxVersions = 1)),
      splitKeys = cur.descriptor.splitKeys), nowMs)
    val ix = IndexDescriptor(columns.head._1, columns.head._2, ixName,
      covered = Nil, moreColumns = columns.tail)
    catalog.alterTable(table,
      cur.descriptor.copy(indexes = cur.descriptor.indexes :+ ix), nowMs)
    catalog.append(ixName,
      indexCellsComposite(logicalRead(catalog, cur), columns), nowMs)
    ix
  }

  /** Deterministic default index-table name for a composite index. */
  def defaultCompositeTable(table: String,
      columns: Seq[(String, Array[Byte])]): String =
    s"${table}_cidx_" + columns.map { case (f, q) =>
      f + "_" + q.map(b => f"$b%02x").mkString
    }.mkString("_")

  /** The CURRENTLY VISIBLE cells of a manifest under its family
    * descriptors — what covered builds and [[rebuild]] index. */
  private def visibleCells(catalog: Catalog, m: graft.catalog.Manifest,
      nowMs: Long): DataFrame = {
    val d = m.descriptor
    Resolve(logicalRead(catalog, m), ReadView(
      maxVersions = Int.MaxValue,
      familyMaxVersions = d.families.map(f => f.name -> f.maxVersions).toMap,
      familyTtlMs = d.families.flatMap(f => f.ttlMs.map(f.name -> _)).toMap,
      now = nowMs))
  }

  /** Index GC — the index table's major-compaction analog: rewrite the
    * index to entries whose main-table cell is CURRENTLY VISIBLE under
    * the family descriptors (tombstoned, TTL-expired and over-version
    * values drop out, so the index stops growing monotonically across
    * updates/deletes). Lookups are unchanged before and after — stale
    * entries were only ever false positives the verified read already
    * eliminated. One distributed pass over the main table + one
    * compaction commit on the index table. */
  def rebuild(catalog: Catalog, table: String, ix: IndexDescriptor,
      nowMs: Long): Long = {
    val m = catalog.currentManifest(table)
    // visible cells carry no tombstones, so the covered rebuild needs no
    // delete translation — stale/deleted entries drop out wholesale
    val fresh =
      if (ix.moreColumns.nonEmpty)
        indexCellsComposite(visibleCells(catalog, m, nowMs), ix.columns)
      else indexCellsCovered(visibleCells(catalog, m, nowMs),
        ix.family, ix.qualifier, ix.covered)
    catalog.replaceData(ix.indexTable, fresh, nowMs): Unit
    // the MAIN-table version this rebuild read — callers re-registering
    // the index fence their alterTable to it (a put landing between the
    // read and the registration would be missing from the index forever)
    m.version
  }

  /** [[rebuild]] every registered index of a table — wired into
    * `GraftTable.majorCompact` (the cells a compaction just dropped are
    * exactly the stale entries the rebuild removes). */
  def rebuildAll(catalog: Catalog, table: String, nowMs: Long): Unit =
    catalog.currentManifest(table).descriptor.indexes
      .foreach(rebuild(catalog, table, _, nowMs))
}
