package graft.sql

import graft.catalog.{Catalog, IndexDescriptor}
import graft.core.{Bytes, CellCodec}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row, SparkSession, SQLContext}
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability}
import org.apache.spark.sql.connector.read.{Scan => V2Scan, ScanBuilder, SupportsPushDownFilters, SupportsPushDownLimit, SupportsPushDownRequiredColumns, V1Scan}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.sources
import org.apache.spark.sql.sources.{BaseRelation, Filter, TableScan}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** The declared WIDE (relational) view of a cell table — what the HBase
  * ecosystem layers on top of the cell model when queries are relational
  * (Phoenix tables/views, the Hive HBase handler): one row per row key,
  * one typed column per declared qualifier, decoded through the SAME
  * codec the facade uses (`CellCodec`, FIXTURES.md F6).
  *
  * This is the surface where covered-column and multi-column index
  * queries are EXPRESSIBLE: `SELECT k, pop FROM t$wide WHERE city = 'x'`
  * has no faithful single-scan rendering in the cell schema (a value
  * predicate there constrains the same cell it returns), but here it is
  * the natural form — and routes through the registered covered index
  * with zero main-table touch.
  *
  * Declaration is schema-on-declare (`wideKey` / `wideSchema` table
  * properties — no scan ever derives a column set at 100 TB). The view
  * is read-only: writes go through the cell door (`INSERT INTO graft.t`)
  * or the facade, exactly like Phoenix views over existing HBase tables.
  *
  * Pushdown strategy: every filter is reported RESIDUAL (Spark
  * re-applies it on the decoded output — exactness is structural), and
  * the recorded predicates drive pruning below the bridge:
  *  - first-key-part bounds → parquet row-range pruning (salt-aware);
  *  - equality/IN/interval on an INDEXED column → the Phoenix route
  *    (probe + gather + verify), index-only when the index covers every
  *    scanned column;
  *  - column pruning → the scan projects only the needed qualifiers
  *    (when a recorded predicate implies a needed column is non-null;
  *    otherwise all declared columns are scanned so the row SET does not
  *    depend on the projection).
  */
class GraftWideTable(engine: Catalog, baseTable: String,
    pinned: Option[graft.catalog.Manifest] = None) extends Table
    with SupportsRead
    with org.apache.spark.sql.connector.catalog.SupportsWrite
    with org.apache.spark.sql.connector.catalog.SupportsDelete
    with org.apache.spark.sql.connector.catalog.SupportsRowLevelOperations {

  /** Metadata DELETE on the wide view: a predicate set whose byte-range
    * translation is PROVABLY EXACT (the same accepted subset as the agg
    * pushdown — equality/IN on fixed-width key heads, comparisons on
    * ORDERED heads, key-part IsNotNull, AlwaysTrue) takes the cell
    * door's tombstone path — O(matching keys) DeleteFamily cells, no
    * read-modify-write. Everything else falls through to the row-level
    * (delta) operation, which Spark consults next. Exactness matters
    * here in the opposite direction from scans: a scan's recorded range
    * may be a superset (the residual re-filters), a DELETE's range IS
    * the delete. */
  // The manifest canDeleteWhere vetted against, reused by the
  // deleteWhere that follows on the same statement: vet and act see ONE
  // table version (a commit racing between the two cannot slip a
  // different index/salt/wide declaration under the delete), and the
  // statement costs one CURRENT read instead of two. Set only on a
  // SUCCESSFUL vet and CONSUMED atomically by deleteWhere (getAndSet) —
  // if this table instance is ever shared across statements, a stale or
  // foreign manifest can't linger and serve a later delete.
  private val vetted =
    new java.util.concurrent.atomic.AtomicReference[graft.catalog.Manifest](null)

  override def canDeleteWhere(filters: Array[Filter]): Boolean =
    pinned.isEmpty && {
      val m = engine.currentManifest(baseTable)
      val bld = new GraftWideScanBuilder(engine, baseTable, specOf(m), m)
      val ok = bld
        .pushFilters(filters.filterNot(_.isInstanceOf[sources.AlwaysTrue]))
        .isEmpty
      if (ok) vetted.set(m)
      ok
    }

  override def deleteWhere(filters: Array[Filter]): Unit = {
    require(pinned.isEmpty,
      s"cannot DELETE from a time-travel view of $baseTable")
    val m = Option(vetted.getAndSet(null))
      .getOrElse(engine.currentManifest(baseTable))
    val bld = new GraftWideScanBuilder(engine, baseTable, specOf(m), m)
    bld.pushFilters(filters.filterNot(_.isInstanceOf[sources.AlwaysTrue])): Unit
    // an accepted key-head IN deletes the per-probe prefix ranges, not
    // the [min, succ(max)) envelope (see probeRanges) — each intersected
    // with the range envelope, which other accepted conjuncts (ordered
    // head comparisons) may have tightened past individual probes
    val (es, ee) = bld.rowBounds
    def maxLo(a: Option[Array[Byte]], b: Option[Array[Byte]]) = (a, b) match {
      case (Some(x), Some(y)) => Some(if (Bytes.compareTo(x, y) >= 0) x else y)
      case _ => a.orElse(b)
    }
    def minHi(a: Option[Array[Byte]], b: Option[Array[Byte]]) = (a, b) match {
      case (Some(x), Some(y)) => Some(if (Bytes.compareTo(x, y) <= 0) x else y)
      case _ => a.orElse(b)
    }
    val ranges = bld.probeRanges
      .map(_.map { case (lo, hi) => (maxLo(lo, es), minHi(hi, ee)) })
      .getOrElse(Seq(bld.rowBounds))
    GraftTombstones.writeRanges(engine, baseTable, m.descriptor, ranges, None)
  }

  /** SQL `UPDATE` / `DELETE` / `MERGE INTO` on the wide view — the
    * relational DML door (see [[GraftWideRowLevelOperation]]). */
  override def newRowLevelOperationBuilder(
      info: org.apache.spark.sql.connector.write.RowLevelOperationInfo)
      : org.apache.spark.sql.connector.write.RowLevelOperationBuilder = {
    require(pinned.isEmpty,
      s"cannot ${info.command} a time-travel view of $baseTable")
    () => new GraftWideRowLevelOperation(engine, baseTable, info.command)
  }

  private def specOf(m: graft.catalog.Manifest): WideSpec =
    WideSpec.parse(m.descriptor.wideKey, m.descriptor.wideSchema)

  private[sql] def spec: WideSpec =
    specOf(pinned.getOrElse(engine.currentManifest(baseTable)))

  override def name(): String = baseTable + WideSpec.Suffix
  override def schema(): StructType = spec.schema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.MICRO_BATCH_READ, TableCapability.V1_BATCH_WRITE)

  /** `INSERT INTO t$wide` — relational rows become Put cells through the
    * SAME append seam as every other write (`Catalog.append`: salt
    * applied, registered indexes dual-written, manifest committed), so a
    * wide insert is indistinguishable from the facade's bulk put. Key
    * parts must be non-null (they ARE the row key); a null value cell is
    * simply absent (absence == null, `CellCodec.encode`'s rule), so a
    * row whose declared columns are all null writes nothing. */
  override def newWriteBuilder(
      info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.WriteBuilder = {
    require(pinned.isEmpty,
      s"cannot write to a time-travel view of $baseTable")
    val sp = spec
    new org.apache.spark.sql.connector.write.WriteBuilder {
      override def build(): org.apache.spark.sql.connector.write.Write =
        new org.apache.spark.sql.connector.write.V1Write {
          override def toInsertableRelation
              : org.apache.spark.sql.sources.InsertableRelation =
            (data: DataFrame, overwrite: Boolean) => {
              require(!overwrite,
                "INSERT OVERWRITE is not supported on a wide view; " +
                  "use DELETE tombstones or replaceData (compaction)")
              engine.append(baseTable,
                WideSpec.encodeRows(data, sp, GraftSqlCatalog.nowMs()),
                GraftSqlCatalog.nowMs()): Unit
            }
        }
    }
  }

  /** ONE manifest read per scan build: the manifest is captured here and
    * threaded through spec/route/resolution, so planning a wide query
    * costs one metadata read instead of several (and the route decision,
    * the data dirs, and the decode spec are guaranteed to agree on one
    * table version — no torn read across a concurrent commit). */
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    val m = pinned.getOrElse(engine.currentManifest(baseTable))
    val maxVersions = GraftMicroBatchStream.parseMaxVersions(
      Option(options.get("maxVersionsPerTrigger")))
    val withDeletes = Option(options.get("withDeletes")).exists(_.toBoolean)
    new GraftWideScanBuilder(engine, baseTable, specOf(m), m, maxVersions,
      timeTravel = pinned.isDefined, withDeletes = withDeletes,
      startingVersion = Option(options.get("startingVersion")))
  }
}

/** One declared wide column: `name` IS the qualifier string. `ordered`
  * marks the order-preserving signed encoding (olong/oint/odouble). */
private[sql] case class WideCol(family: String, name: String, dt: DataType,
    ordered: Boolean = false) {
  def qualifier: Array[Byte] = Bytes.toBytes(name)
}

/** A wide scan's chosen index route. */
private[sql] sealed trait WideRoute
private[sql] case class WideSingle(c: WideCol, ix: IndexDescriptor,
    pred: GraftValuePred) extends WideRoute
/** Composite route: encoded member VALUE LISTS (`IN` sets; single-value
  * members are 1-lists) in the index's KEY order — the probed blobs are
  * the lists' bounded cartesian. */
private[sql] case class WideComposite(ix: IndexDescriptor,
    valueLists: Seq[Seq[Array[Byte]]]) extends WideRoute
/** OR of equality TUPLES over a composite index's column set
  * (`(a=x AND b=y) OR (a=u AND b=v)` — FilterList(MUST_PASS_ONE) of
  * conjunctions): per DISJUNCT, per member in index key order, the
  * encoded value lists; the probed blobs are the union of the
  * disjuncts' bounded cartesians, ONE pass. */
private[sql] case class WideCompositeOr(ix: IndexDescriptor,
    tuples: Seq[Seq[Seq[Array[Byte]]]]) extends WideRoute
/** CROSS-column OR (`custkey = 7 OR status = 'F'`, each column indexed —
  * the general FilterList(MUST_PASS_ONE): heterogeneous filters
  * composed, `hbase/filter/FilterList.java:47-49`): one entry per OR
  * member, each a CONJUNCTION of legs (column, index, arms) —
  * single-leg for plain disjuncts, multi-leg (r13) for an And disjunct
  * whose every conjunct is indexed, whose candidate set is the
  * INTERSECTION of its legs' probes. Served as the UNION of per-member
  * candidate sets, deduped by row key, ONE gather; exactness comes from
  * the residual Or (all wide filters stay residual) over the candidate
  * superset. */
private[sql] case class WideCrossOr(
    members: Seq[Seq[(WideCol, IndexDescriptor,
      Seq[graft.read.SecondaryIndex.ValueArm])]]) extends WideRoute
/** MIXED key/value OR (`k < 200 OR custkey = 7` — the reference's
  * classic `FilterList(MUST_PASS_ONE)` of a RowFilter with a
  * SingleColumnValueFilter, `hbase/filter/FilterList.java:47-49`): the
  * KEY disjuncts prune as row ranges (value supersets, negative-region
  * arm included on plain signed heads), the VALUE disjuncts probe their
  * indexes; the two candidate branches are split disjointly by the key
  * ranges, resolved as ONE cell union, and the residual Or keeps
  * exactness. */
private[sql] case class WideMixedOr(
    keyRanges: Seq[(Option[Array[Byte]], Option[Array[Byte]])],
    members: Seq[(WideCol, IndexDescriptor,
      Seq[graft.read.SecondaryIndex.ValueArm])]) extends WideRoute

private[sql] case class WideSpec(key: Seq[(String, DataType)],
    cols: Seq[WideCol], orderedKey: Set[String] = Set.empty) {
  // Key parts are non-nullable BY CONTRACT (they are the row key; a null
  // key part fails any write loudly) — declared so, which is also what
  // lets them serve as the row-level-operation rowId.
  def schema: StructType = StructType(
    key.map { case (n, dt) => StructField(n, dt, nullable = false) } ++
      cols.map(c => StructField(c.name, c.dt)))
  def col(name: String): Option[WideCol] = cols.find(_.name == name)
  /** All columns (key + value) declared with the ordered encoding — the
    * set CellCodec's encode/decode take. */
  def orderedNames: Set[String] =
    orderedKey ++ cols.filter(_.ordered).map(_.name)
}

private[sql] object WideSpec {
  /** First byte string of the NEGATIVE region of a PLAIN fixed-width
    * integral head: two's-complement negatives byte-sort in
    * [0x80 0*(w-1), ∞), above all non-negatives. The one constant every
    * negative-region arm uses (keyRangeOr, the mixed route's key arms,
    * the scan's stop-wrap). */
  def negRegionStart(dt: DataType): Array[Byte] = {
    val w = dt match {
      case IntegerType => 4
      case _ => 8
    }
    0x80.toByte +: Array.fill(w - 1)(0.toByte)
  }

  /** SQL-door name suffix resolving a declared wide view:
    * `graft.\`t\$wide\``. */
  val Suffix = "$wide"

  // (DataType, ordered-encoding flag); the o-prefixed types opt into the
  // ORDER-PRESERVING signed encodings (Bytes.toBytesOrdered — the
  // OrderedBytes/Phoenix sign-flip trick), making negative integrals and
  // doubles range-encodable for key pruning and index routing.
  private val types: Map[String, (DataType, Boolean)] = Map(
    "long" -> (LongType, false), "int" -> (IntegerType, false),
    "string" -> (StringType, false),
    "double" -> (DoubleType, false), "float" -> (FloatType, false),
    "timestamp" -> (TimestampType, false),
    "timestamp_ntz" -> (TimestampNTZType, false),
    "date" -> (DateType, false), "boolean" -> (BooleanType, false),
    "binary" -> (BinaryType, false),
    "olong" -> (LongType, true), "oint" -> (IntegerType, true),
    "odouble" -> (DoubleType, true))

  private def parseType(t: String): (DataType, Boolean) = types.getOrElse(t.trim,
    throw new IllegalArgumentException(
      s"unsupported wide column type '$t' (one of ${types.keys.toSeq.sorted.mkString(", ")})"))

  /** `wideKey`: `name:type(,name:type)*` — typed row-key parts in
    * row-key order (decodable types only: the fixed-width numerics first,
    * at most one string/binary tail — `CellCodec.decode`'s contract).
    * `wideSchema`: `family:qualifier:type(;...)` — column name = the
    * qualifier; names must be unique across families (column identity). */
  private def parts(s: String, n: Int, what: String): Seq[String] = {
    val p = s.split(':')
    require(p.length == n && p.forall(_.trim.nonEmpty),
      s"malformed $what declaration '$s' (expected ${
        if (n == 2) "name:type" else "family:qualifier:type"})")
    p.toSeq.map(_.trim)
  }

  def parse(wideKey: Option[String], wideSchema: Option[String]): WideSpec = {
    val keyParts = wideKey.getOrElse(throw new IllegalArgumentException(
        "wide view needs the 'wideKey' table property"))
      .split(',').toSeq.map(_.trim).filter(_.nonEmpty).map { s =>
        val Seq(n, t) = parts(s, 2, "wideKey")
        val (dt, ord) = parseType(t)
        require(Seq(LongType, IntegerType, StringType, BinaryType).contains(dt),
          s"wideKey part '$n' has undecodable type $t " +
            "(long/int/string/binary/olong/oint)")
        (n, dt, ord)
      }
    val key = keyParts.map(p => (p._1, p._2))
    // Variable-length parts only as the TAIL: a mid-key string/binary part
    // makes the concatenated row key non-prefix-free — CellCodec.decode
    // would misparse it and first-key pruning would misprune (the same
    // constraint CellCodec.rowKey documents).
    key.dropRight(1).foreach { case (n, dt) =>
      require(dt == LongType || dt == IntegerType,
        s"wideKey part '$n' is variable-length ($dt): only the LAST key " +
          "part may be string/binary (all others must be long/int)")
    }
    val cols = wideSchema.getOrElse(throw new IllegalArgumentException(
        "wide view needs the 'wideSchema' table property"))
      .split(';').toSeq.map(_.trim).filter(_.nonEmpty).map { s =>
        val Seq(f, q, t) = parts(s, 3, "wideSchema")
        val (dt, ord) = parseType(t)
        WideCol(f, q, dt, ord)
      }
    val names = key.map(_._1) ++ cols.map(_.name)
    require(names.distinct.size == names.size,
      s"wide view column names collide: ${names.mkString(", ")}")
    require(key.nonEmpty && cols.nonEmpty, "wide view needs key and columns")
    WideSpec(key, cols, keyParts.filter(_._3).map(_._1).toSet)
  }

  /** JVM-side literal encoding matching `CellCodec.encodeValue` — None
    * when the literal's type has no JVM-side encoder (those predicates
    * stay residual-only, never pruning). `ordered` selects the
    * order-preserving signed encoding (must match the column's declared
    * codec, or index probes would silently miss). */
  def encodeLit(dt: DataType, v: Any, ordered: Boolean = false)
      : Option[Array[Byte]] =
    if (ordered) (dt, v) match {
      case (LongType, l: java.lang.Long) =>
        Some(Bytes.toBytesOrdered(l.longValue))
      case (LongType, i: java.lang.Integer) =>
        Some(Bytes.toBytesOrdered(i.longValue))
      case (IntegerType, i: java.lang.Integer) =>
        Some(Bytes.toBytesOrdered(i.intValue))
      case (DoubleType, d: java.lang.Double) =>
        Some(Bytes.toBytesOrdered(d.doubleValue))
      case (DoubleType, f: java.lang.Float) =>
        Some(Bytes.toBytesOrdered(f.doubleValue))
      case _ => None
    } else (dt, v) match {
      case (LongType, l: java.lang.Long) => Some(Bytes.toBytes(l.longValue))
      case (LongType, i: java.lang.Integer) => Some(Bytes.toBytes(i.longValue))
      case (IntegerType, i: java.lang.Integer) => Some(Bytes.toBytes(i.intValue))
      case (StringType, s: String) => Some(Bytes.toBytes(s))
      case (BinaryType, b: Array[Byte]) => Some(b)
      case (BooleanType, b: java.lang.Boolean) =>
        Some(Array(if (b.booleanValue) 1.toByte else 0.toByte))
      case (DoubleType, d: java.lang.Double) => Some(Bytes.toBytes(d.doubleValue))
      case (FloatType, f: java.lang.Float) =>
        Some(Bytes.toBytes(f.doubleValue))
      case _ => None
    }

  /** Relational rows (the wide view's schema) -> Put cells, the INSERT
    * write path: row key from the typed key parts (ordered codecs
    * honored), one cell per non-null declared column. A NULL key part is
    * a runtime error (the key IS the row identity); null values produce
    * no cell. All codegen'd builtins, one narrow projection + explode —
    * the same shape as `CellCodec.encode`. */
  def encodeRows(df: org.apache.spark.sql.DataFrame, spec: WideSpec,
      batchTs: Long): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    val rk0 = CellCodec.rowKey(df, spec.key.map(_._1), spec.orderedKey)
    // concat propagates null, so ANY null key part nulls the whole key
    val rk = when(rk0.isNull,
      raise_error(lit("wide INSERT: key parts must be non-null")))
      .otherwise(rk0)
    val entries = spec.cols.map { c =>
      struct(
        lit(c.family).as("family"),
        lit(c.qualifier).as("qualifier"),
        CellCodec.encodeValue(col(c.name), c.dt, c.ordered).as("value"))
    }
    df.select(rk.as("row"),
        filter(array(entries: _*), e => e.getField("value").isNotNull)
          .as("_es"))
      .select(col("row"), explode(col("_es")).as("_e"))
      .select(
        col("row"),
        col("_e.family").as("family"),
        col("_e.qualifier").as("qualifier"),
        lit(batchTs).as("ts"),
        lit(graft.core.CellKind.Put).as("kind"),
        col("_e.value").as("value"),
        lit(0L).as("seq"))
  }

  /** Whether the encoding of `dt` is ORDER-preserving for this literal
    * (the condition for turning a comparison into a byte range): the
    * unsigned-lex order of the encoding must match the column order.
    * Big-endian integrals qualify for non-negative values only; UTF-8
    * strings always (Spark's UTF8String comparison is byte-wise);
    * IEEE-754 doubles never (sign bit inverts the order) — UNLESS the
    * column declares the ordered codec (olong/oint/odouble), which is
    * order-preserving over the full signed/IEEE range by construction. */
  def rangeEncodable(dt: DataType, v: Any, ordered: Boolean = false): Boolean =
    if (ordered) dt match {
      case LongType | IntegerType | DoubleType => true
      case _ => false
    } else dt match {
      case LongType | IntegerType => v.asInstanceOf[Number].longValue >= 0L
      case StringType | BinaryType => true
      case _ => false
    }
}

/** Records predicates (everything stays residual — see
  * [[GraftWideTable]]), prunes columns, and accepts complete
  * COUNT/MIN/MAX aggregate pushdown for the wide scan. `manifest` is the
  * table version captured at scan build (one metadata read per planned
  * query — see [[GraftWideTable.newScanBuilder]]). */
class GraftWideScanBuilder(engine: Catalog, baseTable: String, spec: WideSpec,
    manifest: graft.catalog.Manifest,
    maxVersionsPerTrigger: Option[Long] = None,
    timeTravel: Boolean = false,
    withDeletes: Boolean = false,
    startingVersion: Option[String] = None)
    extends ScanBuilder with SupportsPushDownFilters
    with SupportsPushDownRequiredColumns with SupportsPushDownLimit
    with org.apache.spark.sql.connector.read.SupportsPushDownTopN
    with org.apache.spark.sql.connector.read.SupportsPushDownAggregates {

  private var required: StructType = spec.schema
  private var limit: Option[Int] = None
  private var topN: Option[(Seq[GraftSortCol], Int)] = None
  private var aggSpec: Option[GraftAggSpec] = None
  private var startRow: Option[Array[Byte]] = None
  private var stopRow: Option[Array[Byte]] = None
  // set when a </<= comparison tightened stopRow on a PLAIN (non-ordered)
  // fixed-width head: two's-complement negatives byte-sort ABOVE all
  // positives, so the scan must keep the negative region [0x80…, ∞) or a
  // `k < 5` would silently drop k = -1 (a pruned row the residual filter
  // cannot resurrect). Suppressed when a head equality pins the range.
  private var stopFromComparison = false
  private var headPinned = false
  // </<= stop candidates on a PLAIN head, DEFERRED until every filter is
  // seen: an accepted head equality may pin the range to the negative
  // byte region (enc(-3) = 0xFF…), where a byte-smaller non-negative
  // stop (enc(5)) would INVERT the range and drop the pinned row with no
  // residual to resurrect it (the equality was accepted). Once pinned,
  // the equality's prefix range is already exact and these candidates
  // are dropped entirely — the comparison stays residual either way.
  private var plainStopCandidates: List[Array[Byte]] = Nil
  // key-head IN list (the multiGet shape): encoded head values, each a
  // PREFIX of the full row key (the whole key when the key has one part)
  private var keyProbes: Option[Seq[Array[Byte]]] = None
  // key-head RANGE disjunction (`k < 10 OR k >= 90` — the
  // time-partition-union shape): byte ranges on the row prefix, PRUNING
  // ONLY (the Or stays residual; each arm is a value superset by
  // construction, incl. the negative-region arm a plain signed head's
  // lo-less hi bound appends)
  private var keyRangeOr
      : Option[Seq[(Option[Array[Byte]], Option[Array[Byte]])]] = None
  // recorded per-column value predicates (encoded); intervals are VALUE
  // space, lo inclusive / hi exclusive
  private var colEq = Map.empty[String, Seq[Array[Byte]]]
  private var colLo = Map.empty[String, Array[Byte]]
  private var colHi = Map.empty[String, Array[Byte]]
  // recorded OR-of-probes arms per column (FilterList(MUST_PASS_ONE) —
  // see GraftOrArms): a bounded disjunction of equalities/intervals on
  // ONE column, routable as a single probeOr pass
  private var colOr = Map.empty[String, Seq[graft.read.SecondaryIndex.ValueArm]]
  // recorded OR of equality TUPLES over one column SET (`(a=x AND b=y)
  // OR (a=u AND b=v)`): per disjunct, column -> encoded value list —
  // routable as a union of composite blob probes when a composite index
  // covers exactly that column set
  private var colTupleOr: Seq[Map[String, Seq[Array[Byte]]]] = Nil
  // recorded CROSS-column OR members (`custkey = 7 OR status = 'F'`):
  // per member, its conjunctive legs (column -> arms; single-leg for
  // plain disjuncts) — routable as a union of per-member probe passes
  // (legs intersected) when every member has an indexed leg
  private var colCrossOr
      : Seq[Seq[(String, Seq[graft.read.SecondaryIndex.ValueArm])]] = Nil
  // recorded MIXED key/value OR (`k < 200 OR custkey = 7`): the key
  // disjuncts' row ranges (negative-region-adjusted) + the value
  // disjuncts' per-column arms — routable when every value member is
  // indexed (WideMixedOr)
  private var colMixedOr: Option[(
      Seq[(Option[Array[Byte]], Option[Array[Byte]])],
      Seq[(String, Seq[graft.read.SecondaryIndex.ValueArm])])] = None

  private def tightenStart(b: Array[Byte]): Unit =
    if (startRow.forall(cur => Bytes.compareTo(b, cur) > 0)) startRow = Some(b)
  private def tightenStop(b: Array[Byte]): Unit =
    if (stopRow.forall(cur => Bytes.compareTo(b, cur) < 0)) stopRow = Some(b)
  private def tightenLo(c: String, b: Array[Byte]): Unit =
    if (colLo.get(c).forall(cur => Bytes.compareTo(b, cur) > 0))
      colLo += c -> b
  private def tightenHi(c: String, b: Array[Byte]): Unit =
    if (colHi.get(c).forall(cur => Bytes.compareTo(b, cur) < 0))
      colHi += c -> b

  /** Filters are residual BY DEFAULT (Spark re-applies them on the
    * decoded output — exactness is structural) and the recorded
    * predicates only PRUNE. A narrow, PROVABLY-EXACT subset of key-head
    * filters is ACCEPTED instead (removed from Spark's re-apply):
    *  - equality on a fixed-width (long/int) head — the byte-prefix range
    *    `[enc(v), prefixSuccessor(enc(v)))` selects exactly the rows
    *    whose head decodes to v (the encoding is bijective per width);
    *  - comparisons on an ORDERED fixed-width head (olong/oint) — the
    *    codec is order-preserving over the full signed range, so byte
    *    bounds are value bounds (a PLAIN long head would leak negative
    *    keys, whose two's-complement bytes sort above all positives —
    *    those comparisons stay residual);
    *  - IsNotNull on any key part — key parts decode from the row key
    *    and are non-null by construction.
    * Acceptance is what unlocks aggregate pushdown under a key-range
    * WHERE: Spark only offers an Aggregation to the source when no
    * residual filter sits between them. */
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val keyHead = spec.key.head
    val headOrdered = spec.orderedKey(keyHead._1)
    val headFixed = keyHead._2 == LongType || keyHead._2 == IntegerType
    val keyNames = spec.key.map(_._1).toSet
    def keyEnc(v: Any): Option[Array[Byte]] =
      Option(v).flatMap(WideSpec.encodeLit(keyHead._2, _, headOrdered))
    def keyRangeable(v: Any): Boolean =
      WideSpec.rangeEncodable(keyHead._2, v, headOrdered)
    def valCol(c: String): Option[WideCol] = spec.col(c)
    def valEnc(c: String, v: Any): Option[Array[Byte]] =
      Option(v).flatMap(x =>
        valCol(c).flatMap(w => WideSpec.encodeLit(w.dt, x, w.ordered)))
    def valRangeable(c: String, v: Any): Boolean =
      v != null && valCol(c).exists(w =>
        WideSpec.rangeEncodable(w.dt, v, w.ordered))
    val acc = Array.newBuilder[Filter]
    val res = Array.newBuilder[Filter]
    filters.foreach {
      // first-key-part bounds: equality is a prefix range for any
      // encodable literal; comparisons only when the encoding preserves
      // order for the literal
      case f @ sources.EqualTo(c, v) if c == keyHead._1 =>
        keyEnc(v) match {
          case Some(b) =>
            tightenStart(b)
            Bytes.prefixSuccessor(b).foreach(tightenStop)
            headPinned = true
            // exact for fixed-width heads even when prefixSuccessor is
            // None (an all-0xff head is the byte-maximum prefix)
            if (headFixed) acc += f else res += f
          case None => res += f
        }
      case f @ sources.GreaterThanOrEqual(c, v)
          if c == keyHead._1 && keyRangeable(v) =>
        keyEnc(v) match {
          case Some(b) =>
            tightenStart(b)
            if (headFixed && headOrdered) acc += f else res += f
          case None => res += f
        }
      // strict GreaterThan start bound: prefixSuccessor for fixed-width
      // heads (tight AND exact: it excludes every head == v row), the
      // BINARY successor (v ++ 0x00) for variable-length heads —
      // prefixSuccessor over-prunes there: `k > 'a'` would set startRow
      // to "b" and silently drop keys "a\x00..."/"ab", which satisfy the
      // predicate but sort inside the pruned gap (rows a residual filter
      // cannot resurrect).
      case f @ sources.GreaterThan(c, v)
          if c == keyHead._1 && keyRangeable(v) =>
        keyEnc(v) match {
          case Some(b) if headFixed =>
            Bytes.prefixSuccessor(b) match {
              case Some(s) =>
                tightenStart(s)
                if (headOrdered) acc += f else res += f
              case None => res += f // head > byte-max: no recordable bound
            }
          case Some(b) =>
            tightenStart(Bytes.successor(b)); res += f
          case None => res += f
        }
      case f @ sources.LessThan(c, v)
          if c == keyHead._1 && keyRangeable(v) =>
        keyEnc(v) match {
          case Some(b) =>
            if (headFixed && !headOrdered) plainStopCandidates ::= b
            else tightenStop(b)
            if (headFixed && headOrdered) acc += f else res += f
          case None => res += f
        }
      case f @ sources.LessThanOrEqual(c, v)
          if c == keyHead._1 && keyRangeable(v) =>
        keyEnc(v).flatMap(Bytes.prefixSuccessor) match {
          case Some(s) =>
            if (headFixed && !headOrdered) plainStopCandidates ::= s
            else tightenStop(s)
            if (headFixed && headOrdered) acc += f else res += f
          case None => res += f // head <= byte-max: unbounded, residual
        }
      // key-head IN (the multiGet shape, HTable.get(List<Get>)): encoded
      // values become row-key PREFIX probes — the scan reads only the
      // probed ranges (one per value) instead of [min, max). Exact for a
      // fixed-width head (each prefix range holds exactly the head == v
      // rows — the same bijectivity as equality above), so it is ACCEPTED
      // there and agg pushdown stays unlocked; residual otherwise.
      // Over-budget lists keep only the [min, succ(max)) bounds.
      case f @ sources.In(c, vs)
          if c == keyHead._1 && vs.nonEmpty && vs.forall(_ != null) =>
        val enc = vs.toSeq.map(keyEnc)
        if (keyProbes.isEmpty && enc.forall(_.isDefined) &&
            enc.size <= graft.read.SecondaryIndex.MaxCompositeProbes) {
          val bs = enc.map(_.get)
          keyProbes = Some(bs)
          val ord: Ordering[Array[Byte]] = (a, b) => Bytes.compareTo(a, b)
          tightenStart(bs.min(ord))
          Bytes.prefixSuccessor(bs.max(ord)).foreach(tightenStop)
          if (headFixed) acc += f else res += f
        } else {
          if (enc.forall(_.isDefined)) {
            val bs = enc.map(_.get)
            val ord: Ordering[Array[Byte]] = (a, b) => Bytes.compareTo(a, b)
            tightenStart(bs.min(ord))
            Bytes.prefixSuccessor(bs.max(ord)).foreach(tightenStop)
          }
          res += f
        }
      // IsNotNull on a key part is vacuously true (key parts decode from
      // the row key); accepting it keeps it from blocking agg pushdown
      case f @ sources.IsNotNull(c) if keyNames(c) =>
        acc += f
      // key-head prefix (LIKE 'p%'): a string head is necessarily the
      // whole key (variable-length parts are tail-only), so the row range
      // IS [p, prefixSuccessor(p)) — the PrefixFilter compilation
      // (hbase/filter/PrefixFilter.java:34)
      case f @ sources.StringStartsWith(c, p)
          if c == keyHead._1 && keyHead._2 == StringType && p != null =>
        val b = Bytes.toBytes(p)
        tightenStart(b)
        Bytes.prefixSuccessor(b).foreach(tightenStop)
        res += f
      // value-column predicates: recorded for index routing / projection
      // pruning; conjuncts only tighten
      case f @ sources.EqualTo(c, v) if valCol(c).isDefined =>
        valEnc(c, v).foreach(b => if (!colEq.contains(c)) colEq += c -> Seq(b))
        res += f
      case f @ sources.In(c, vs)
          if valCol(c).isDefined && vs.nonEmpty && vs.forall(_ != null) =>
        val enc = vs.toSeq.map(valEnc(c, _))
        if (enc.forall(_.isDefined) && !colEq.contains(c))
          colEq += c -> enc.flatten
        res += f
      case f @ sources.GreaterThanOrEqual(c, v) if valRangeable(c, v) =>
        valEnc(c, v).foreach(tightenLo(c, _))
        res += f
      case f @ sources.GreaterThan(c, v) if valRangeable(c, v) =>
        valEnc(c, v).foreach(b => tightenLo(c, Bytes.successor(b)))
        res += f
      case f @ sources.LessThan(c, v) if valRangeable(c, v) =>
        valEnc(c, v).foreach(tightenHi(c, _))
        res += f
      case f @ sources.LessThanOrEqual(c, v) if valRangeable(c, v) =>
        valEnc(c, v).foreach(b => tightenHi(c, Bytes.successor(b)))
        res += f
      // value-column prefix (LIKE 'p%') on a string column: recorded as
      // the value interval [p, prefixSuccessor(p)) — the existing range
      // machinery then serves it as ONE index probe
      // (BinaryPrefixComparator.java:30); an all-0xff prefix leaves the
      // interval open above (still exact — residual re-applies)
      case f @ sources.StringStartsWith(c, p)
          if p != null && valCol(c).exists(_.dt == StringType) =>
        val b = Bytes.toBytes(p)
        tightenLo(c, b)
        Bytes.prefixSuccessor(b).foreach(tightenHi(c, _))
        res += f
      // disjunctions (FilterList(MUST_PASS_ONE)): `k = a OR k = b` on the
      // key head becomes the multiGet probe set (exactly the IN shape,
      // same acceptance rule); a one-column value disjunction records its
      // probe arms for OR-of-probes index routing. Always bounded
      // (MaxCompositeProbes); anything unparseable stays residual-only.
      case f @ sources.Or(_, _) =>
        def keyOrVals(g: Filter): Option[Seq[Array[Byte]]] = g match {
          case sources.Or(x, y) =>
            for { a <- keyOrVals(x); b <- keyOrVals(y) } yield a ++ b
          case sources.EqualTo(c, v) if c == keyHead._1 => keyEnc(v).map(Seq(_))
          case sources.In(c, vs)
              if c == keyHead._1 && vs.nonEmpty && vs.forall(_ != null) =>
            val enc = vs.toSeq.map(keyEnc)
            if (enc.forall(_.isDefined)) Some(enc.flatten) else None
          case _ => None
        }
        def valueLeaf(g: Filter)
            : Option[(String, graft.read.SecondaryIndex.ValueArm)] = {
          import graft.read.SecondaryIndex.{ArmIn, ArmRange}
          g match {
            case sources.EqualTo(c, v) if valCol(c).isDefined =>
              valEnc(c, v).map(b => (c, ArmIn(Seq(b))))
            case sources.In(c, vs)
                if valCol(c).isDefined && vs.nonEmpty && vs.forall(_ != null) =>
              val enc = vs.toSeq.map(valEnc(c, _))
              if (enc.forall(_.isDefined)) Some((c, ArmIn(enc.flatten)))
              else None
            case sources.GreaterThanOrEqual(c, v) if valRangeable(c, v) =>
              valEnc(c, v).map(b => (c, ArmRange(Some(b), None)))
            case sources.GreaterThan(c, v) if valRangeable(c, v) =>
              valEnc(c, v).map(b => (c, ArmRange(Some(Bytes.successor(b)), None)))
            case sources.LessThan(c, v) if valRangeable(c, v) =>
              valEnc(c, v).map(b => (c, ArmRange(None, Some(b))))
            case sources.LessThanOrEqual(c, v) if valRangeable(c, v) =>
              valEnc(c, v).map(b => (c, ArmRange(None, Some(Bytes.successor(b)))))
            case sources.StringStartsWith(c, p)
                if p != null && valCol(c).exists(_.dt == StringType) =>
              val b = Bytes.toBytes(p)
              Some((c, ArmRange(Some(b), Bytes.prefixSuccessor(b))))
            case _ => None
          }
        }
        // key-head RANGE disjunction: each arm a byte range on the row
        // prefix; And-conjuncts intersect into one arm. Arms must be
        // VALUE SUPERSETS: on a plain signed fixed head, a hi-bounded
        // arm with no non-negative lo appends the negative byte region
        // [0x80…, ∞) (those keys satisfy `< v` but byte-sort above it).
        type KR = (Option[Array[Byte]], Option[Array[Byte]])
        def maxLoB(a: Option[Array[Byte]], b: Option[Array[Byte]]) = (a, b) match {
          case (Some(x), Some(y)) => Some(if (Bytes.compareTo(x, y) >= 0) x else y)
          case _ => a.orElse(b)
        }
        def minHiB(a: Option[Array[Byte]], b: Option[Array[Byte]]) = (a, b) match {
          case (Some(x), Some(y)) => Some(if (Bytes.compareTo(x, y) <= 0) x else y)
          case _ => a.orElse(b)
        }
        def keyOrRanges(g: Filter): Option[Seq[KR]] = g match {
          case sources.Or(x, y) =>
            for { a <- keyOrRanges(x); b <- keyOrRanges(y) } yield a ++ b
          case sources.And(x, y) =>
            (keyOrRanges(x), keyOrRanges(y)) match {
              case (Some(Seq((l1, h1))), Some(Seq((l2, h2)))) =>
                // Byte-space intersection is value-space intersection
                // only where byte order is value order. On a PLAIN
                // signed fixed head that holds only WITHIN a sign
                // region (enc(-5) starts 0xFF…, above every
                // non-negative): an equality arm on a negative value
                // intersected with a non-negative hi bound (pushed
                // `(k = -5 AND k < 10)`) would yield lo > hi — an
                // EMPTY byte range for a non-empty value set, and
                // keyRangeOr is pruning-only (the residual Or cannot
                // resurrect a pruned row). Mixed sign regions bail the
                // whole parse (full scan + residual — correct).
                val bounds = Seq(l1, h1, l2, h2).flatten
                if (headFixed && !headOrdered &&
                    bounds.exists(b => (b(0) & 0x80) != 0) &&
                    bounds.exists(b => (b(0) & 0x80) == 0)) None
                else Some(Seq((maxLoB(l1, l2), minHiB(h1, h2))))
              case _ => None
            }
          case sources.EqualTo(c, v) if c == keyHead._1 =>
            keyEnc(v).map(b => Seq((Some(b), Bytes.prefixSuccessor(b))))
          case sources.In(c, vs)
              if c == keyHead._1 && vs.nonEmpty && vs.forall(_ != null) =>
            val enc = vs.toSeq.map(keyEnc)
            if (enc.forall(_.isDefined))
              Some(enc.flatten.map(b => (Some(b), Bytes.prefixSuccessor(b))))
            else None
          case sources.GreaterThanOrEqual(c, v)
              if c == keyHead._1 && keyRangeable(v) =>
            keyEnc(v).map(b => Seq((Some(b), None)))
          case sources.GreaterThan(c, v)
              if c == keyHead._1 && keyRangeable(v) =>
            // binary successor: tight for variable heads, equivalent for
            // fixed (no width-exact key sorts between enc(v) and enc(v)+1)
            keyEnc(v).map(b => Seq((Some(Bytes.successor(b)), None)))
          case sources.LessThan(c, v)
              if c == keyHead._1 && keyRangeable(v) =>
            keyEnc(v).map(b => Seq((None, Some(b))))
          case sources.LessThanOrEqual(c, v)
              if c == keyHead._1 && keyRangeable(v) =>
            keyEnc(v).flatMap(Bytes.prefixSuccessor)
              .map(s => Seq((None: Option[Array[Byte]], Some(s))))
          case sources.StringStartsWith(c, p)
              if c == keyHead._1 && keyHead._2 == StringType && p != null =>
            val b = Bytes.toBytes(p)
            Some(Seq((Some(b), Bytes.prefixSuccessor(b))))
          case _ => None
        }
        keyOrVals(f) match {
          case Some(bs) if keyProbes.isEmpty &&
              bs.size <= graft.read.SecondaryIndex.MaxCompositeProbes =>
            keyProbes = Some(bs)
            val ord: Ordering[Array[Byte]] = (a, b) => Bytes.compareTo(a, b)
            tightenStart(bs.min(ord))
            Bytes.prefixSuccessor(bs.max(ord)).foreach(tightenStop)
            if (headFixed) acc += f else res += f
          case _ if keyRangeOr.isEmpty && keyOrRanges(f).exists(rs =>
              rs.nonEmpty &&
                rs.size <= graft.read.SecondaryIndex.MaxCompositeProbes &&
                rs.forall { case (lo, hi) => lo.isDefined || hi.isDefined }) =>
            val rs = keyOrRanges(f).get
            val fixed =
              if (headFixed && !headOrdered &&
                  rs.exists { case (lo, hi) => hi.isDefined && lo.isEmpty })
                // a lo-less hi-bounded arm on a plain signed head: keep
                // the negative byte region (those keys satisfy `< v` but
                // byte-sort above every non-negative)
                rs :+ ((Some(WideSpec.negRegionStart(keyHead._2))
                  : Option[Array[Byte]]), (None: Option[Array[Byte]]))
              else rs
            keyRangeOr = Some(fixed)
            res += f
          case _ =>
            GraftOrArms.parse(f, valueLeaf,
              graft.read.SecondaryIndex.MaxCompositeProbes) match {
              case Some((c, arms)) if !colOr.contains(c) => colOr += c -> arms
              case None =>
                // multi-column disjuncts: OR of equality TUPLES over one
                // column set (each conjunct = column -> value list; all
                // disjuncts must share the set; blob budget enforced)
                def tupleOf(g: Filter)
                    : Option[Map[String, Seq[Array[Byte]]]] = g match {
                  case sources.And(a, b) =>
                    for { x <- tupleOf(a); y <- tupleOf(b)
                          if x.keySet.intersect(y.keySet).isEmpty }
                      yield x ++ y
                  case sources.EqualTo(c, v) if valCol(c).isDefined =>
                    valEnc(c, v).map(b => Map(c -> Seq(b)))
                  case sources.In(c, vs)
                      if valCol(c).isDefined && vs.nonEmpty &&
                        vs.forall(_ != null) =>
                    val enc = vs.toSeq.map(valEnc(c, _))
                    if (enc.forall(_.isDefined)) Some(Map(c -> enc.flatten))
                    else None
                  case _ => None
                }
                def disjT(g: Filter)
                    : Option[Seq[Map[String, Seq[Array[Byte]]]]] = g match {
                  case sources.Or(a, b) =>
                    for { x <- disjT(a); y <- disjT(b) } yield x ++ y
                  case other => tupleOf(other).map(Seq(_))
                }
                disjT(f) match {
                  case Some(ts) if colTupleOr.isEmpty && ts.nonEmpty &&
                      ts.forall(_.keySet == ts.head.keySet) &&
                      ts.head.sizeIs >= 2 &&
                      ts.map(_.values.map(_.size.toLong).product).sum <=
                        graft.read.SecondaryIndex.MaxCompositeProbes =>
                    colTupleOr = ts
                  case _ =>
                    // CROSS-column leaf disjunction (`custkey = 7 OR
                    // status = 'F'` — the general MUST_PASS_ONE): arms
                    // group per column for a union-of-probes route;
                    // bounded by the same arm cap (past it the
                    // disjunction stays residual-only: full scan,
                    // never wrong)
                    GraftOrArms.parseMulti(f, valueLeaf,
                      graft.read.SecondaryIndex.MaxCompositeProbes) match {
                      case Some(groups) if colCrossOr.isEmpty =>
                        colCrossOr = groups
                      case _ =>
                        // LAST: conjunct-SUPERSET retry — a disjunct
                        // that is an And over mixed columns routes by
                        // ONE of its conjuncts' arms (`(a = 1 AND
                        // b = 2) OR c = 3` probes a=1 ∪ c=3). Sound
                        // because the Or stays residual below; tried
                        // after every exact form so tuple-OR keeps the
                        // tighter composite probes. Leaves narrow to
                        // INDEXED columns here — the probe routes only
                        // through single-column indexes, so a pick on
                        // an unindexed conjunct would just decline the
                        // route the other conjunct could serve.
                        val ixLeaf = (g: Filter) =>
                          valueLeaf(g).filter { case (cn, _) =>
                            spec.col(cn).exists(c => manifest.descriptor
                              .indexOn(c.family, c.qualifier).isDefined)
                          }
                        GraftOrArms.parse(f, ixLeaf,
                          graft.read.SecondaryIndex.MaxCompositeProbes,
                          superset = true) match {
                          case Some((c, arms)) if !colOr.contains(c) =>
                            colOr += c -> arms
                          case _ =>
                            GraftOrArms.parseMulti(f, ixLeaf,
                              graft.read.SecondaryIndex.MaxCompositeProbes,
                              superset = true) match {
                              case Some(groups) if colCrossOr.isEmpty =>
                                colCrossOr = groups
                              case _ =>
                                // LAST: MIXED key/value disjunction (the
                                // reference's RowFilter-OR-SCVF
                                // FilterList shape): key disjuncts
                                // become row ranges via keyOrRanges,
                                // value disjuncts index arms via the
                                // superset parse — every pure form
                                // above is tighter, so this only
                                // catches genuinely mixed trees.
                                type Mixed = (Seq[(Option[Array[Byte]],
                                  Option[Array[Byte]])],
                                  Seq[(String,
                                    graft.read.SecondaryIndex.ValueArm)])
                                def mixedOf(g: Filter): Option[Mixed] =
                                  g match {
                                    case sources.Or(a, b) =>
                                      for { x <- mixedOf(a); y <- mixedOf(b) }
                                        yield (x._1 ++ y._1, x._2 ++ y._2)
                                    case other =>
                                      keyOrRanges(other) match {
                                        case Some(rs) => Some((rs, Nil))
                                        case None => GraftOrArms.parse(other,
                                            ixLeaf, graft.read.SecondaryIndex
                                              .MaxCompositeProbes,
                                            superset = true)
                                            .map { case (c, arms) =>
                                              (Nil, arms.map(c -> _))
                                            }
                                      }
                                  }
                                mixedOf(f) match {
                                  case Some((krs, varms))
                                      if colMixedOr.isEmpty &&
                                        krs.nonEmpty && varms.nonEmpty &&
                                        krs.forall { case (lo, hi) =>
                                          lo.isDefined || hi.isDefined } &&
                                        krs.size + varms.size <=
                                          graft.read.SecondaryIndex
                                            .MaxCompositeProbes =>
                                    // same plain-signed-head adjustment
                                    // as keyRangeOr: a lo-less hi arm
                                    // keeps the negative byte region
                                    val fixedK =
                                      if (headFixed && !headOrdered &&
                                          krs.exists { case (lo, hi) =>
                                            hi.isDefined && lo.isEmpty })
                                        krs :+ ((Some(WideSpec
                                          .negRegionStart(keyHead._2))
                                          : Option[Array[Byte]]),
                                          (None: Option[Array[Byte]]))
                                      else krs
                                    val groups = varms.map(_._1).distinct
                                      .map(c => c -> varms.collect {
                                        case (`c`, a) => a })
                                    colMixedOr = Some((fixedK, groups))
                                  case _ => ()
                                }
                            }
                        }
                    }
                }
              case _ => ()
            }
            res += f
        }
      case f => res += f
    }
    // deferred plain-head stop bounds (see plainStopCandidates): applied
    // only when NO equality pinned the head — filter arrival order must
    // not matter (Spark's pushdown order is unspecified, and `k < 5` may
    // precede `k = -3`)
    if (!headPinned && plainStopCandidates.nonEmpty) {
      plainStopCandidates.foreach(tightenStop)
      stopFromComparison = true
    }
    accepted = acc.result()
    res.result()
  }

  private var accepted: Array[Filter] = Array.empty
  override def pushedFilters(): Array[Filter] = accepted

  /** The recorded row-key byte range — exact when pushFilters accepted
    * every filter (the metadata-DELETE seam). */
  private[sql] def rowBounds: (Option[Array[Byte]], Option[Array[Byte]]) =
    (startRow, stopRow)

  /** The recorded key-head IN probes (the metadata-DELETE seam's
    * multi-range form): when set AND every filter was accepted, the exact
    * delete set is the UNION of the per-probe prefix ranges, NOT the
    * [min, succ(max)) envelope in rowBounds — deleteWhere must consult
    * this or it would delete the keys BETWEEN the IN values. */
  private[sql] def probeRanges
      : Option[Seq[(Option[Array[Byte]], Option[Array[Byte]])]] =
    keyProbes.map(_.map(p => (Some(p), Bytes.prefixSuccessor(p))))

  /** With an aggregate pushed, Spark's subsequent pruning call refers to
    * the aggregate's output schema, not wide columns — the wide
    * projection was already set from the aggregate's referenced set. */
  override def pruneColumns(requiredSchema: StructType): Unit =
    if (aggSpec.isEmpty) required = requiredSchema

  override def pushLimit(n: Int): Boolean = { limit = Some(n); true }
  override def isPartiallyPushed(): Boolean = true

  /** ORDER BY + LIMIT (top-k) pushdown: the sort+limit runs INSIDE the
    * inner plan as a per-partition top-k + merge (Spark plans it as
    * `TakeOrderedAndProject` — no full sort, no full shuffle), so only
    * k rows cross the V1 bridge instead of every decoded row.
    * `isPartiallyPushed` stays true: Spark re-sorts the k survivors
    * above the bridge, which keeps exactness structural. Refused under
    * a pushed aggregate (the sort would reference aggregate output). */
  override def pushTopN(
      orders: Array[org.apache.spark.sql.connector.expressions.SortOrder],
      n: Int): Boolean = {
    val translated = GraftSortCol.translate(orders, spec.schema.fieldNames.toSet)
    if (aggSpec.isEmpty && translated.isDefined) {
      topN = Some((translated.get, n)); true
    } else false
  }

  /** COMPLETE aggregate pushdown (same contract as the cell door,
    * [[GraftScanBuilder]]): group-bys on declared columns, COUNT(*),
    * COUNT(col), MIN/MAX(col). The aggregation runs on the decoded wide
    * frame INSIDE the inner plan (codegen'd hash aggregate), so an
    * aggregate-only query converts |groups| rows through the V1 bridge
    * instead of every decoded row — semantics are Spark's own min/max/
    * count over exactly the frame a SELECT would return. */
  override def supportCompletePushDown(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation)
      : Boolean = translateAgg(agg).isDefined

  override def pushAggregation(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation)
      : Boolean = {
    val s = translateAgg(agg)
    s.foreach { a =>
      aggSpec = Some(a)
      // project the wide scan to the aggregate's referenced columns (the
      // scanCols row-set rule still widens to ALL declared columns when
      // no predicate implies a needed column is non-null)
      val referenced =
        (a.groupBy ++ a.aggs.flatMap(_.col)).toSet
      required = StructType(spec.schema.filter(f => referenced(f.name)))
    }
    s.isDefined
  }

  private def translateAgg(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation)
      : Option[GraftAggSpec] = {
    import org.apache.spark.sql.connector.expressions.aggregate.{Avg, Count, CountStar, Max, Min, Sum}
    import org.apache.spark.sql.connector.expressions.NamedReference
    def fieldName(e: org.apache.spark.sql.connector.expressions.Expression)
        : Option[String] = e match {
      case r: NamedReference if r.fieldNames.length == 1 =>
        Some(r.fieldNames.head)
      case _ => None
    }
    val names = spec.schema.fieldNames.toSet
    val groups = agg.groupByExpressions.toSeq.map(fieldName)
    val aggs = agg.aggregateExpressions.toSeq.map {
      case _: CountStar => Some(GraftAggCol("count", None))
      case c: Count if !c.isDistinct =>
        fieldName(c.column).filter(names).map(n => GraftAggCol("count_col", Some(n)))
      case m: Min =>
        fieldName(m.column).filter(names).map(n => GraftAggCol("min", Some(n)))
      case m: Max =>
        fieldName(m.column).filter(names).map(n => GraftAggCol("max", Some(n)))
      case s: Sum if !s.isDistinct =>
        fieldName(s.column)
          .filter(n => spec.schema.find(_.name == n)
            .exists(f => GraftAggSpec.summable(f.dataType)))
          .map(n => GraftAggCol("sum", Some(n)))
      case a: Avg if !a.isDistinct =>
        fieldName(a.column)
          .filter(n => spec.schema.find(_.name == n)
            .exists(f => GraftAggSpec.summable(f.dataType)))
          .map(n => GraftAggCol("avg", Some(n)))
      case _ => None
    }
    if (groups.forall(_.isDefined) && aggs.forall(_.isDefined) &&
        groups.flatten.forall(names) && aggs.nonEmpty)
      Some(GraftAggSpec(groups.flatten, aggs.flatten, spec.schema))
    else None
  }

  override def build(): V2Scan =
    new GraftWideScan(engine, baseTable, spec, required, startRow, stopRow,
      colEq, colLo, colHi, limit, manifest, aggSpec, topN,
      maxVersionsPerTrigger, timeTravel, keyProbes, withDeletes,
      startingVersion,
      stopWraps = stopFromComparison && !headPinned,
      colOr = colOr, colTupleOr = colTupleOr, keyRangeOr = keyRangeOr,
      colCrossOr = colCrossOr, colMixedOr = colMixedOr)
}

class GraftWideScan(engine: Catalog, baseTable: String, spec: WideSpec,
    required: StructType,
    startRow: Option[Array[Byte]], stopRow: Option[Array[Byte]],
    colEq: Map[String, Seq[Array[Byte]]],
    colLo: Map[String, Array[Byte]], colHi: Map[String, Array[Byte]],
    limit: Option[Int],
    manifest: graft.catalog.Manifest,
    aggSpec: Option[GraftAggSpec] = None,
    topN: Option[(Seq[GraftSortCol], Int)] = None,
    maxVersionsPerTrigger: Option[Long] = None,
    timeTravel: Boolean = false,
    keyProbes: Option[Seq[Array[Byte]]] = None,
    withDeletes: Boolean = false,
    startingVersion: Option[String] = None,
    stopWraps: Boolean = false,
    colOr: Map[String, Seq[graft.read.SecondaryIndex.ValueArm]] = Map.empty,
    colTupleOr: Seq[Map[String, Seq[Array[Byte]]]] = Nil,
    keyRangeOr: Option[Seq[(Option[Array[Byte]], Option[Array[Byte]])]] = None,
    colCrossOr: Seq[Seq[(String, Seq[graft.read.SecondaryIndex.ValueArm])]] =
      Nil,
    colMixedOr: Option[(
      Seq[(Option[Array[Byte]], Option[Array[Byte]])],
      Seq[(String, Seq[graft.read.SecondaryIndex.ValueArm])])] = None)
    extends V1Scan
    with org.apache.spark.sql.connector.read.SupportsReportStatistics
    with GraftRuntimeFilterable with GraftGuardedRoute {

  // ---- runtime (join-driven) key pruning — see GraftRuntimeFilterable.
  // The declared key HEAD is the strongest prunable column: runtime
  // values encode under its codec (ordered codecs honored) into the same
  // prefix-probe shape the static IN takes (head-exact for fixed-width
  // heads, prefix-supersets otherwise — either way the join above
  // re-checks equality). ROUTABLE INDEXED value columns are prunable
  // too: a runtime In on one routes through the index (probe + gather +
  // verify — exact, the index is complete for puts and the verify
  // removes stale hits), so a fact joined on an indexed attribute reads
  // O(index hits) instead of the table. Index routes reflect the
  // PRESENT table, so value columns drop out of the surface on a
  // time-travel scan. A pushed LIMIT/TopN declines.
  override def runtimeFilterAttributes: Seq[String] =
    spec.key.head._1 +: (if (timeTravel) Nil
      else spec.cols.filter(c =>
        manifest.descriptor.indexOn(c.family, c.qualifier).isDefined ||
          manifest.descriptor.compositeLeadingOn(c.family, c.qualifier)
            .isDefined)
        .map(_.name))
  override protected def encodeRuntimeKey(attr: String, v: Any)
      : Option[Array[Byte]] =
    if (attr == spec.key.head._1)
      Option(v).flatMap(WideSpec.encodeLit(spec.key.head._2, _,
        spec.orderedKey(spec.key.head._1)))
    else Option(v).flatMap(x => spec.col(attr).flatMap(c =>
      WideSpec.encodeLit(c.dt, x, c.ordered)))
  /** Over-cap range degradation: on the KEY HEAD the ranges prune
    * parquet row groups; on an INDEXED value column (r12) they probe
    * the column's index as an Or of ArmRanges (candidates gathered +
    * verified, join re-checks). See [[encodeValueInterval]] for the
    * soundness rules per codec. */
  override protected def encodeRuntimeRange(attr: String, min: Any, max: Any)
      : Option[Seq[(Option[Array[Byte]], Option[Array[Byte]])]] = {
    val (headName, hdt) = spec.key.head
    if (attr == headName)
      encodeValueInterval(hdt, spec.orderedKey(headName), min, max)
    else
      // r12: an over-cap dim joined on an INDEXED value column degrades
      // to index RANGE probes (an Or of ArmRanges through the column's
      // single-column index) instead of declining — produced only when
      // the column carries an index (nothing could consume the ranges
      // otherwise) and its encoding is order-preserving, or plain fixed
      // integral where the sign-split keeps each arm sound.
      spec.col(attr).filter(c => manifest.descriptor
        .indexOn(c.family, c.qualifier).isDefined)
        .flatMap(c => encodeValueInterval(c.dt, c.ordered, min, max))
  }

  /** Encode the CLOSED value interval [min, max] under (`dt`,
    * `ordered`) into byte ranges forming a value superset.
    * [min, max] encodes to [enc(min), prefixSuccessor(enc(max))) — a
    * value superset wherever the codec is order-preserving (ordered
    * fixed, string, binary). A PLAIN signed fixed integral is
    * order-preserving only WITHIN a sign region (negatives byte-sort
    * above all non-negatives), so a mixed-sign interval splits into the
    * non-negative arm [enc(0), succ(enc(max))) and the negative arm
    * [enc(min), ∞) — together a byte-space superset of the value
    * interval; any other plain codec (e.g. double) declines. The join
    * above re-checks equality, so supersets are all that is needed. */
  private def encodeValueInterval(dt: org.apache.spark.sql.types.DataType,
      ordered: Boolean, min: Any, max: Any)
      : Option[Seq[(Option[Array[Byte]], Option[Array[Byte]])]] = {
    val orderPreserving =
      ordered || dt == StringType || dt == BinaryType
    val plainFixed = (dt == LongType || dt == IntegerType) && !ordered
    if (!orderPreserving && !plainFixed) None
    else for {
      lo <- Option(min).flatMap(WideSpec.encodeLit(dt, _, ordered))
      hiB <- Option(max).flatMap(WideSpec.encodeLit(dt, _, ordered))
    } yield {
      val hi = Bytes.prefixSuccessor(hiB)
      if (!plainFixed || ((lo(0) & 0x80) != 0) == ((hiB(0) & 0x80) != 0))
        Seq((Some(lo), hi))
      else Seq(
        (Some(Array.fill(lo.length)(0.toByte): Array[Byte]), hi),
        (Some(lo), None))
    }
  }
  override private[sql] def runtimeFilterEligible: Boolean =
    limit.isEmpty && topN.isEmpty

  /** VALUE-column exact-keys probes clamp to the STATIC probe cap (see
    * the trait doc): past it the clustered range degradation wins or
    * the selectivity guard refuses; the key HEAD keeps the session cap
    * (head probes prune parquet row groups and stay cheap at 1,024). */
  override protected def runtimeKeyCap(attr: String, maxKeys: Int): Int =
    if (attr == spec.key.head._1) maxKeys
    else math.min(maxKeys, graft.read.SecondaryIndex.MaxCompositeProbes)

  /** Byte-prefix clustering hook (r13): supported where encoded-byte
    * ranges are value supersets — UTF-8 strings (cast to binary = the
    * codec's exact bytes) and raw binary, on the key head or an indexed
    * value column. A string/binary HEAD is necessarily the ONLY key
    * part (WideSpec: variable-length parts are tail-only), so its
    * encoding IS the whole row key and prefix row-ranges prune exactly.
    * Integral columns decline here — clusterRuns already clusters their
    * VALUES, and ordered/plain fixed codecs re-encode per run. */
  override protected def encodeRuntimeKeyBytesSql(attr: String,
      colName: String): Option[String] = {
    val dt =
      if (attr == spec.key.head._1) Some(spec.key.head._2)
      else spec.col(attr).map(_.dt)
    dt match {
      case Some(StringType) => Some(s"cast($colName as binary)")
      case Some(BinaryType) => Some(colName)
      case _ => None
    }
  }

  // runtime In on an indexed value column, resolved at execution (set by
  // resolvedFrame, consulted by route as its LOWEST-precedence arm);
  // an empty runtime key set scopes the whole scan to nothing
  @volatile private var runtimeEqCol: Option[(WideCol, Seq[Array[Byte]])] = None
  // runtime RANGE probes on an indexed value column (the r12 over-cap
  // degradation off the key head): an Or of ArmRanges through the
  // column's index, below runtimeEqCol in route precedence
  @volatile private var runtimeRangeCol
      : Option[(WideCol, Seq[(Option[Array[Byte]], Option[Array[Byte]])])] =
    None
  @volatile private var runtimeEmptyScan = false

  /** The negative byte region of a PLAIN (non-ordered) fixed-width
    * integral key head: two's-complement negatives byte-sort in
    * [0x80 0*(w-1), ∞), ABOVE all non-negatives. When a </<= comparison
    * set `stopRow` (and no accepted equality pinned the head), the scan
    * must keep this region — those keys satisfy the `< v` predicate (for
    * the v >= 0 literals rangeEncodable admits) and a pruned row is a
    * false negative the residual filter cannot resurrect. Keeping the
    * region as a range DISJUNCT preserves the prune of [stop, 0x80…):
    * parquet row-group stats serve an Or of ranges on the sorted key. */
  private val negStart: Array[Byte] =
    WideSpec.negRegionStart(spec.key.head._2)

  override def readSchema(): StructType = aggSpec.fold(required)(_.schema)

  /** Size statistics from the captured manifest's data-dir bytes (see
    * [[GraftV1Scan.estimateStatistics]]): a small wide view joins as a
    * BROADCAST side without hints. Cell bytes upper-bound the decoded
    * wide rows (decode only drops cell framing). */
  override def estimateStatistics()
      : org.apache.spark.sql.connector.read.Statistics = {
    val bytes = engine.manifestBytes(manifest)
    val rows = topN.map(_._2.toLong).orElse(limit.map(_.toLong))
    new org.apache.spark.sql.connector.read.Statistics {
      override def sizeInBytes(): java.util.OptionalLong =
        java.util.OptionalLong.of(bytes)
      override def numRows(): java.util.OptionalLong =
        rows.fold(java.util.OptionalLong.empty())(java.util.OptionalLong.of)
    }
  }

  /** Seam for plan asserts: the top-k this scan runs inner-side. */
  private[sql] def pushedTopN: Option[(Seq[GraftSortCol], Int)] = topN

  /** Seam for plan asserts: the key-head IN probes scoping this scan. */
  private[sql] def pushedKeyProbes: Option[Seq[Array[Byte]]] = keyProbes

  /** Seam for plan asserts: the key-head range disjunction arms. */
  private[sql] def pushedKeyRangeOr
      : Option[Seq[(Option[Array[Byte]], Option[Array[Byte]])]] = keyRangeOr

  /** Columns with recorded CONJUNCT predicates, in declaration order
    * (deterministic route pick). */
  private def conjPredCols: Seq[String] =
    spec.cols.map(_.name)
      .filter(c => colEq.contains(c) || colLo.contains(c) || colHi.contains(c))

  /** All predicate columns — conjuncts plus OR disjunctions (single-
    * column arms, tuple-OR sets, and cross-column OR groups alike).
    * Every recorded single-column predicate implies its column is
    * non-null; a CROSS-column disjunction implies only that SOME member
    * column is non-null — including ALL its members here keeps
    * [[scanCols]]' row-set rule sound (any row passing the residual Or
    * has a visible cell in at least one scanned member). */
  private def predCols: Seq[String] =
    spec.cols.map(_.name).filter(c => colEq.contains(c) ||
      colLo.contains(c) || colHi.contains(c) || colOr.contains(c) ||
      colTupleOr.headOption.exists(_.contains(c)) ||
      colCrossOr.exists(_.exists(_._1 == c)))

  /** The chosen index route, if any — in precedence order:
    *  1. a registered COMPOSITE index whose every member column has a
    *     recorded equality or bounded IN list (conjunctive equality =
    *     one probe pass over ≤MaxCompositeProbes blob ranges, the
    *     composite key's whole point);
    *  2. the FIRST declared predicate column with a registered
    *     single-column index.
    *
    * Family TTLs stay honored on routed paths: the routed hit set is
    * re-resolved under the family TTL map before decode (see
    * `visible` in [[resolvedFrame]] — the same post-route re-scan the
    * cell door does), so the same query returns the same rows whether
    * or not a predicate routes (family maxVersions caps are harmless
    * here: a wide read decodes one version per column either way). */
  /** THE probe-soundness rule for one index arm on column `c`, stated
    * once (the single-column OR route, the cross-column OR route, and
    * the conjunct hiUnsound check are all instances): an equality/IN
    * arm is always sound (bijective per width); a range arm needs a
    * hi-less bound (byte-order superset), an order-preserving codec
    * (ordered fixed, string, binary), or a non-negative lo bound on a
    * plain signed fixed codec (the byte interval then holds exactly the
    * value matches — negatives sort above both bounds). */
  private def armSound(c: WideCol,
      arm: graft.read.SecondaryIndex.ValueArm): Boolean = {
    import graft.read.SecondaryIndex.{ArmIn, ArmRange}
    arm match {
      case ArmIn(_) => true
      case ArmRange(lo, hi) =>
        hi.isEmpty || c.ordered || c.dt == StringType ||
          c.dt == BinaryType || lo.exists(b => (b(0) & 0x80) == 0)
    }
  }

  /** The chosen route, SELECTIVITY-GUARDED (r13, [[GraftRouteGuard]]):
    * a measured anti-selective probe route falls back to the pushed
    * scan + residual — cost-only, the filters stay residual either way.
    * Verdicts memoize per scan so execution and the seams agree. */
  private[sql] def route: Option[WideRoute] =
    routeCandidate.filter(guardAllows)

  @volatile private var guardVerdicts = Map.empty[String, Boolean]
  @volatile private var guardDeclinedFlag = false
  override private[sql] def routeGuardDeclined: Boolean = guardDeclinedFlag

  /** ONE metadata read per index table per scan: the guard and the
    * routed resolution share the same pinned (manifest, cells) pair —
    * keeps the one-read-per-build metadata contract (WideViewSpec) and
    * guarantees the guard measured the same index version resolution
    * reads. */
  @volatile private var indexMeta =
    Map.empty[String, (graft.catalog.Manifest, DataFrame)]
  private def indexTableMeta(t: String): (graft.catalog.Manifest, DataFrame) =
    indexMeta.getOrElse(t, {
      val m = engine.currentManifest(t)
      val v = (m, engine.readManifest(m))
      indexMeta += t -> v
      v
    })
  private def indexCells(t: String): DataFrame = indexTableMeta(t)._2

  /** Cartesian of per-member value lists -> composite key blobs, in
    * declared key order — ONE definition shared by the guard's probe
    * and the resolution's gather, so the guard can never measure a
    * different probe than the gather runs. */
  private def blobCartesian(valueLists: Seq[Seq[Array[Byte]]])
      : Seq[Array[Byte]] =
    valueLists.map(_.map(Seq(_)))
      .reduce((as, bs) => for { a <- as; b <- bs } yield a ++ b)
      .map(graft.read.SecondaryIndex.compositeBlob)

  private def guardAllows(r: WideRoute): Boolean = {
    import graft.read.SecondaryIndex
    def armsOf(p: GraftValuePred): Seq[SecondaryIndex.ValueArm] = p match {
      case GraftValueIn(vs) => Seq(SecondaryIndex.ArmIn(vs))
      case GraftValueRange(lo, hi) => Seq(SecondaryIndex.ArmRange(lo, hi))
      case GraftValueOr(arms) => arms
    }
    // guardable routes: (signature parts, route MEMBERS — each member's
    // probe builds the exact hit frame its gather would fetch, an
    // intersected frame for multi-leg cross-or members, and each leg
    // carries its per-index arms for the guard's histogram/span
    // estimates). Covered index-only routes skip (no gather — see
    // GraftRouteGuard). r14: composite and LEADING-member routes no
    // longer skip — the leading loose probe is exactly as arm-shaped as
    // the single-column case, and a composite blob cartesian counts as
    // an IN of blobs; each is measured with the probe shape its gather
    // would run.
    import GraftRouteGuard.{GuardLeg, GuardMember}
    def memberHits(legs: Seq[(WideCol, graft.catalog.IndexDescriptor,
        Seq[SecondaryIndex.ValueArm])]): DataFrame =
      legs.map { case (_, ix, arms) =>
        SecondaryIndex.probeOr(indexCells(ix.indexTable), arms)
      }.reduce((a, b) => a.join(b, Seq("row"), "left_semi"))
    def legsOf(legs: Seq[(WideCol, graft.catalog.IndexDescriptor,
        Seq[SecondaryIndex.ValueArm])]): Seq[GuardLeg] =
      legs.map { case (_, ix, arms) =>
        GuardLeg(indexTableMeta(ix.indexTable)._1, arms)
      }
    def blobProbe(ix: graft.catalog.IndexDescriptor,
        blobs: Seq[Array[Byte]]): () => DataFrame = () =>
      if (blobs.sizeIs == 1)
        SecondaryIndex.probe(indexCells(ix.indexTable), blobs.head)
      else SecondaryIndex.probeAll(indexCells(ix.indexTable), blobs)
    def oneLeg(ix: graft.catalog.IndexDescriptor,
        arms: Seq[SecondaryIndex.ValueArm],
        probe: () => DataFrame): Seq[GuardMember] =
      Seq(GuardMember(probe,
        Seq(GuardLeg(indexTableMeta(ix.indexTable)._1, arms))))
    val guardable: Option[(String,
        Seq[(String, Seq[SecondaryIndex.ValueArm])],
        Seq[GuardMember])] = r match {
      // the covered skip must match indexOnly's OWN condition: an In
      // past the static probe cap (a runtime key set) resolves through
      // the VERIFIED probe+gather path, not index-only — an ungated
      // gather is exactly what the guard exists for, so only the
      // genuinely index-only shapes skip
      case WideSingle(c, ix, pred) if coveredOnly(c, ix) && (pred match {
        case GraftValueIn(vs) =>
          vs.sizeIs <= SecondaryIndex.MaxCompositeProbes
        case _ => true
      }) => None
      case WideSingle(_, ix, pred) if ix.moreColumns.nonEmpty =>
        // leading member of a composite: the same probe shapes the
        // verified lookup runs — prefix-range probe for equality/IN
        // (blob extensions included), the LOOSE range probe for an
        // interval (probeRange exactPrefix=false)
        val probe: () => DataFrame = pred match {
          case GraftValueIn(vs) => blobProbe(ix, vs)
          case GraftValueRange(lo, hi) => () =>
            SecondaryIndex.probeRange(indexCells(ix.indexTable), lo, hi,
              exactPrefix = false)
          case GraftValueOr(arms) => () =>
            SecondaryIndex.probeOr(indexCells(ix.indexTable), arms)
        }
        Some(("wideLeading", Seq((ix.indexTable, armsOf(pred))),
          oneLeg(ix, armsOf(pred), probe)))
      case WideSingle(c, ix, pred) =>
        Some(("wideSingle", Seq((ix.indexTable, armsOf(pred))),
          oneLeg(ix, armsOf(pred),
            () => memberHits(Seq((c, ix, armsOf(pred)))))))
      case WideComposite(ix, valueLists) =>
        val blobs = blobCartesian(valueLists)
        Some(("wideComposite",
          Seq((ix.indexTable, Seq(SecondaryIndex.ArmIn(blobs)))),
          oneLeg(ix, Seq(SecondaryIndex.ArmIn(blobs)),
            blobProbe(ix, blobs))))
      case WideCompositeOr(ix, tuples) =>
        val blobs = tuples.flatMap(blobCartesian)
        Some(("wideCompositeOr",
          Seq((ix.indexTable, Seq(SecondaryIndex.ArmIn(blobs)))),
          oneLeg(ix, Seq(SecondaryIndex.ArmIn(blobs)),
            blobProbe(ix, blobs))))
      case WideCrossOr(ms) =>
        Some(("wideCrossOr",
          ms.flatMap(_.map(l => (l._2.indexTable, l._3))),
          ms.map(legs => GuardMember(() => memberHits(legs), legsOf(legs)))))
      case WideMixedOr(_, ms) =>
        Some(("wideMixedOr", ms.map(m => (m._2.indexTable, m._3)),
          ms.map(m =>
            GuardMember(() => memberHits(Seq(m)), legsOf(Seq(m))))))
    }
    guardable match {
      case None => true
      case Some((marker, parts, members)) =>
        val sig = GraftRouteGuard.signature(marker, parts)
        guardVerdicts.get(sig).getOrElse {
          val ok = GraftRouteGuard.allows(engine, members, sig)
          guardVerdicts += sig -> ok
          if (!ok) guardDeclinedFlag = true
          ok
        }
    }
  }

  private def routeCandidate: Option[WideRoute] = {
    // Time-travel scans never route: a live index reflects the PRESENT
    // table, not the pinned version (same rule as the cell door).
    if (timeTravel) return None
    val d = manifest.descriptor
    // Composite eligibility: every member has a recorded equality or IN
    // list, and the lists' cartesian stays within one probe pass's blob
    // budget — `custkey IN (..) AND status = 'O'` is ONE composite route,
    // not a per-value union. Over-budget IN lists fall through to the
    // single-column / leading-member path below.
    val eqCols = spec.cols.filter(c => colEq.get(c.name).exists(_.nonEmpty))
    val composite: Option[WideRoute] =
      if (eqCols.sizeIs >= 2)
        d.indexes.filter(_.moreColumns.nonEmpty)
          .filter(_.columns.forall { case (f, q) =>
            eqCols.exists(c => c.family == f &&
              java.util.Arrays.equals(c.qualifier, q))
          })
          .map { ix =>
            ix -> ix.columns.map { case (f, q) =>
              colEq(eqCols.find(c => c.family == f &&
                java.util.Arrays.equals(c.qualifier, q)).get.name)
            }
          }
          .find { case (_, lists) =>
            lists.map(_.size.toLong).product <=
              graft.read.SecondaryIndex.MaxCompositeProbes
          }
          .map { case (ix, lists) => WideComposite(ix, lists) }
      else None
    composite.orElse(conjPredCols.iterator.flatMap { cn =>
      val c = spec.col(cn).get
      // A hi-bounded RANGE on a plain (non-ordered) signed integral
      // column must not route UNBOUNDED-BELOW: the byte interval
      // [*, enc(v)) misses negative stored values (they byte-sort ABOVE
      // all positives), and a routed hit set is the row set — the
      // residual cannot resurrect rows the probe dropped. With a
      // NON-NEGATIVE lo bound present (first encoded byte < 0x80; the
      // only literals rangeEncodable admits on plain integrals) the byte
      // interval [enc(lo), enc(hi)) holds exactly the value matches —
      // negatives sort above BOTH bounds and the value interval contains
      // none — so bounded ranges route even on plain columns.
      // Equality/IN stay routable (bijective per width); lo-only bounds
      // are byte-order SUPERSETS (negatives sort above the start and the
      // residual drops them); ordered codecs (olong/oint/odouble) and
      // strings/binary are order-preserving over their full domain.
      val hiUnsound = colEq.get(cn).isEmpty && !armSound(c,
        graft.read.SecondaryIndex.ArmRange(colLo.get(cn), colHi.get(cn)))
      if (hiUnsound) None
      else d.indexOn(c.family, c.qualifier).map { ix =>
        val pred = colEq.get(cn).map(GraftValueIn)
          .getOrElse(GraftValueRange(colLo.get(cn), colHi.get(cn)))
        WideSingle(c, ix, pred)
      }.orElse {
        // leading member of a composite (Phoenix leading-column rule —
        // complete thanks to the left-outer tuple join): equality via the
        // blob prefix ranges, an interval via the loose range probe; the
        // verified lookup re-checks the leading value either way
        d.compositeLeadingOn(c.family, c.qualifier).map { ix =>
          val pred = colEq.get(cn).map(GraftValueIn)
            .getOrElse(GraftValueRange(colLo.get(cn), colHi.get(cn)))
          WideSingle(c, ix, pred)
        }
      }
    }.take(1).toSeq.headOption).orElse {
      // OR-of-probes fallback (FilterList(MUST_PASS_ONE)): a recorded
      // disjunction on ONE directly-indexed column routes as a single
      // probeOr pass — each arm must be probe-sound (equality/IN always;
      // a hi-bounded range arm needs an order-preserving codec OR a
      // non-negative lo bound, the same rule as hiUnsound above). The
      // conjunct routes above take precedence (they constrain harder);
      // composite leading members stay out (the loose-blob probe has no
      // multi-arm form) — unrouted ORs are residual-only, never wrong.
      spec.cols.map(_.name).filter(colOr.contains).iterator.flatMap { cn =>
        val c = spec.col(cn).get
        val arms = colOr(cn)
        if (!arms.forall(armSound(c, _))) None
        else d.indexOn(c.family, c.qualifier)
          .map(ix => WideSingle(c, ix, GraftValueOr(arms)))
      }.take(1).toSeq.headOption
    }.orElse {
      // OR of equality TUPLES over a composite index's EXACT column set:
      // the union of the disjuncts' blob cartesians probes in one pass
      // (the Or stays residual, so the gathered superset is exact after
      // Spark's re-apply)
      if (colTupleOr.isEmpty) None
      else {
        val names = colTupleOr.head.keySet
        def nameOf(f: String, q: Array[Byte]): Option[String] =
          names.find(cn => spec.col(cn).exists(c =>
            c.family == f && java.util.Arrays.equals(c.qualifier, q)))
        d.indexes.filter(_.moreColumns.nonEmpty)
          .find(ix => ix.columns.sizeIs == names.size &&
            ix.columns.forall { case (f, q) => nameOf(f, q).isDefined })
          .map { ix =>
            WideCompositeOr(ix, colTupleOr.map(t =>
              ix.columns.map { case (f, q) => t(nameOf(f, q).get) }))
          }
      }
    }.orElse {
      // CROSS-column OR (the general FilterList(MUST_PASS_ONE)): the
      // union of per-MEMBER probe passes, deduped by row key — routes
      // only when EVERY member keeps at least one indexed, probe-sound
      // leg (a candidate set must be a value SUPERSET per member, since
      // exactness here comes from the residual Or, not a verify; a
      // member with NO probe would DROP the rows its disjunct matches).
      // Multi-leg members (r13) may shed unindexed/unsound legs —
      // fewer legs = a larger superset, still sound — and the
      // resolution INTERSECTS the surviving legs' probes before the
      // gather, shrinking the fetched candidate set.
      if (colCrossOr.isEmpty) None
      else {
        val members = colCrossOr.map { legs =>
          val resolved = legs.flatMap { case (cn, arms) =>
            spec.col(cn).flatMap { c =>
              if (!arms.forall(armSound(c, _))) None
              else d.indexOn(c.family, c.qualifier).map(ix => (c, ix, arms))
            }
          }
          // a SINGLE-leg member must resolve fully (old rule); a
          // multi-leg member survives on any subset of its legs
          if (resolved.nonEmpty && (legs.sizeIs > 1 ||
              resolved.sizeIs == legs.size)) Some(resolved)
          else None
        }
        if (members.forall(_.isDefined)) Some(WideCrossOr(members.flatten))
        else None
      }
    }.orElse {
      // MIXED key/value OR (RowFilter OR SingleColumnValueFilter —
      // FilterList(MUST_PASS_ONE) across the row/value divide): key
      // arms prune as row ranges, value arms probe their indexes;
      // routes only when EVERY value member is indexed and sound (the
      // cross-column rule — probing a subset would drop disjuncts).
      colMixedOr.flatMap { case (krs, groups) =>
        val members = groups.map { case (cn, arms) =>
          spec.col(cn).flatMap { c =>
            if (!arms.forall(armSound(c, _))) None
            else d.indexOn(c.family, c.qualifier).map(ix => (c, ix, arms))
          }
        }
        if (members.forall(_.isDefined))
          Some(WideMixedOr(krs, members.flatten))
        else None
      }
    }.orElse {
      // runtime (join-driven) In on an indexed value column — the
      // LOWEST-precedence arm (static predicates constrain harder and
      // were chosen by the planner; this one only exists at execution).
      // Exact: the index is complete for puts, the verified read drops
      // stale hits, and the join above re-checks the equality anyway.
      runtimeEqCol.flatMap { case (c, ks) =>
        d.indexOn(c.family, c.qualifier)
          .orElse(d.compositeLeadingOn(c.family, c.qualifier))
          .map(ix => WideSingle(c, ix, GraftValueIn(ks)))
      }
    }.orElse {
      // runtime RANGE probes on an indexed value column (r12): the
      // over-cap degradation off the key head — an Or of ArmRanges
      // probed through the single-column index; every arm was produced
      // sound by encodeValueInterval (order-preserving codec, or a
      // sign-pure plain fixed arm), and the join above re-checks the
      // equality over the verified candidate superset.
      runtimeRangeCol.flatMap { case (c, rs) =>
        import graft.read.SecondaryIndex.ArmRange
        d.indexOn(c.family, c.qualifier).map(ix =>
          WideSingle(c, ix, GraftValueOr(rs.map {
            case (lo, hi) => ArmRange(lo, hi)
          })))
      }
    }
  }

  /** The plan-assert seams (WideViewSpec): which index table the scan
    * routes through, and whether the answer is index-only. */
  private[sql] def usedIndexTable: Option[String] = route.map {
    case WideSingle(_, ix, _) => ix.indexTable
    case WideComposite(ix, _) => ix.indexTable
    case WideCompositeOr(ix, _) => ix.indexTable
    case WideCrossOr(members) => members.head.head._2.indexTable
    case WideMixedOr(_, members) => members.head._2.indexTable
  }
  /** ALL index tables a cross-column OR route probes (seam: the
    * sql_cross_or battery asserts every member's index participates). */
  private[sql] def crossOrIndexTables: Seq[String] = route.toSeq.flatMap {
    case WideCrossOr(members) => members.flatMap(_.map(_._2.indexTable))
    case _ => Nil
  }
  /** Per-MEMBER probed index tables of a cross-column OR route (seam:
    * the r13 conjunct-intersection spec asserts one member probes TWO
    * index tables whose hits intersect before the gather). */
  private[sql] def crossOrMemberTables: Seq[Seq[String]] =
    route.toSeq.flatMap {
      case WideCrossOr(members) => members.map(_.map(_._2.indexTable))
      case _ => Nil
    }
  /** Seam: the MIXED route's shape — (key-range arm count, probed index
    * tables). None when the scan routed some other way. */
  private[sql] def mixedOrShape: Option[(Int, Seq[String])] =
    route.collect {
      case WideMixedOr(krs, members) =>
        (krs.size, members.map(_._2.indexTable))
    }
  private def coveredOnly(c: WideCol, ix: IndexDescriptor): Boolean =
    ix.covered.nonEmpty && scanCols.forall(sc =>
      sc.name == c.name || ix.coversColumn(sc.family, sc.qualifier))

  private[sql] def indexOnly: Boolean = route.exists {
    case WideSingle(c, ix, pred) => coveredOnly(c, ix) && (pred match {
      // an In past the STATIC probe cap is necessarily a runtime key
      // set (up to 1,024): the covered read's per-value row predicate
      // would leave whole-stage codegen and evaluate interpreted per
      // index row — the VERIFIED route's probeAll switches to a
      // span-scan + broadcast-semi-join shape instead, so route there
      case GraftValueIn(vs) =>
        vs.sizeIs <= graft.read.SecondaryIndex.MaxCompositeProbes
      case _ => true
    })
    case _: WideComposite | _: WideCompositeOr | _: WideCrossOr |
        _: WideMixedOr => false
  }

  /** Declared columns the cell scan must read: the needed set (required
    * projection + predicate columns) when a recorded predicate implies
    * some needed column is non-null; ALL declared columns otherwise, so
    * the row set never depends on the projection (a row exists when any
    * declared column has a visible cell). A RESOLVED runtime In counts
    * as a predicate too (its join drops non-matching rows either way),
    * which is what lets a runtime-routed covered query stay index-only. */
  private def scanCols: Seq[WideCol] = {
    val preds = predCols ++ runtimeEqCol.map(_._1.name) ++
      runtimeRangeCol.map(_._1.name)
    if (preds.nonEmpty)
      spec.cols.filter(c => required.fieldNames.contains(c.name) ||
        preds.contains(c.name))
    else spec.cols
  }

  private[sql] def resolvedFrame(spark: SparkSession): DataFrame = {
    import graft.read.{Scan => GScan, ScanExec, SecondaryIndex}
    val m = manifest
    val d = m.descriptor
    // Resolve any runtime (join-driven) probes FIRST: head values merge
    // into the probe set below (head RANGES — the over-cap degradation —
    // prune like a keyRangeOr disjunction); values of an indexed column
    // become the route's lowest-precedence arm (runtimeEqCol — which
    // scanCols and indexOnly below must already see); an empty runtime
    // key set makes the scan provably empty. One probe per attribute, so
    // a fact joined to two dims intersects both prunes (key ∩ index).
    val headName = spec.key.head._1
    val rtProbes = currentRuntimeProbes(spark)
    rtProbes.foreach {
      case RuntimeKeys(attr, ks) if attr != headName =>
        if (ks.isEmpty) runtimeEmptyScan = true
        else if (runtimeEqCol.isEmpty)
          spec.col(attr).foreach(c => runtimeEqCol = Some((c, ks)))
      case RuntimeRanges(attr, rs) if attr != headName && rs.nonEmpty =>
        // the r12 over-cap index-range degradation — route arm below
        if (runtimeRangeCol.isEmpty)
          spec.col(attr).foreach(c => runtimeRangeCol = Some((c, rs)))
      case _ => () // head probes below
    }
    val rtHeadKeys = rtProbes.collectFirst {
      case RuntimeKeys(a, ks) if a == headName => ks
    }
    val rtHeadRanges = rtProbes.collectFirst {
      case RuntimeRanges(a, rs) if a == headName => rs
    }
    val wanted = scanCols
    // Effective head probes: the static IN probes intersected with any
    // runtime (join-driven) key values — byte-exact intersection, both
    // are head encodings. None = unscoped; Some(empty) = provably-empty.
    val effProbes: Option[Seq[Array[Byte]]] =
      (keyProbes, rtHeadKeys) match {
        case (None, None) => None
        case (Some(ks), None) => Some(ks)
        case (None, Some(r)) => Some(r)
        case (Some(ks), Some(r)) =>
          val set = r.map(java.nio.ByteBuffer.wrap).toSet
          Some(ks.filter(k => set.contains(java.nio.ByteBuffer.wrap(k))))
      }
    def logical: DataFrame = {
      val raw = engine.readManifest(m)
      if (d.saltBuckets > 0) graft.core.Salt.stripCells(raw) else raw
    }
    // key-head probe disjunction (the multiGet shape): one prefix range
    // per IN value. Applied on LOGICAL rows (routed paths, salted plain
    // path) or raw unsalted rows (where it pushes to parquet as a range
    // disjunction). A prefix with no byte successor (all-0xff) keeps an
    // open top — still a prune; exactness holds because a fixed-width
    // head's prefix range contains exactly its head == v rows, and
    // variable heads keep the IN residual.
    def probeFilter(df: DataFrame): DataFrame = {
      val probed = effProbes.fold(df) { ps =>
        // balanced Or: runtime probe sets reach 1,024 arms — a linear
        // reduce would overflow the converter stack (GraftCols doc)
        val arms = ps.map { p =>
          val lo = col("row") >= lit(p)
          Bytes.prefixSuccessor(p).fold(lo)(u => lo && col("row") < lit(u))
        }
        df.filter(if (arms.isEmpty) lit(false) else GraftCols.orAll(arms))
      }
      // key-head RANGE disjunctions (`k < 10 OR k >= 90`; the runtime
      // over-cap [min, max] degradation): pruning-only — each set pushes
      // to parquet as an Or of row-range conjuncts on the unsalted path,
      // filters stripped logical rows on the salted one; the residual
      // (or the join's equality re-check) keeps exactness either way
      (keyRangeOr.toSeq ++ rtHeadRanges.toSeq).foldLeft(probed) { (df, rs) =>
        df.filter(GraftCols.rowRangesPred(df, rs))
      }
    }
    // stop bound as a Column: wrapped with the negative key region when a
    // plain signed head's </<= comparison set it (see negStart) — sound
    // because every start bound here comes from residual-retained
    // comparisons (an accepted equality suppresses the wrap), so Spark's
    // re-apply keeps exactness over the widened row set.
    def stopPred: Option[org.apache.spark.sql.Column] = stopRow.map { b =>
      val lt = col("row") < lit(b)
      if (stopWraps) lt || col("row") >= lit(negStart) else lt
    }
    def boundsFilter(df: DataFrame): DataFrame = {
      var out = df
      startRow.foreach(b => out = out.filter(col("row") >= lit(b)))
      stopPred.foreach(p => out = out.filter(p))
      probeFilter(out)
    }
    def keepWanted(df: DataFrame): DataFrame =
      df.filter(wanted.map(c =>
        col("family") === c.family && col("qualifier") === lit(c.qualifier))
        .reduce(_ || _))
    // Family-TTL visibility on ROUTED paths: re-resolve the routed hit
    // set under the family TTL map (resolution is idempotent on resolved
    // cells — the cell door relies on the same property for its covered
    // reconstructions). An indexed value that matched but whose cell has
    // since expired decodes to NULL, and the residual predicate (all
    // wide filters stay residual) drops the row — exactly the plain
    // path's answer. Skipped entirely when no family declares a TTL;
    // the extra pass is O(hit set), not O(table).
    val ttlMap = d.families.flatMap(f => f.ttlMs.map(f.name -> _)).toMap
    def visible(c: DataFrame): DataFrame =
      if (ttlMap.isEmpty) c
      else ScanExec(c, GScan(), ttlMs = None, now = GraftSqlCatalog.nowMs(),
        familyMaxVersions = d.families.map(f => f.name -> f.maxVersions).toMap,
        familyTtlMs = ttlMap)
    val cells = route match {
      case Some(WideSingle(c, ix, pred)) if indexOnly =>
        // covered (index-only) answer; row bounds re-applied on the
        // reconstructed logical rows — same rule as the cell door
        val others = wanted.filter(_.name != c.name)
          .map(w => (w.family, w.qualifier))
        visible(boundsFilter(pred match {
          case GraftValueIn(vs) => SecondaryIndex.lookupCovered(
            indexCells(ix.indexTable), c.family, c.qualifier, vs, others)
          case GraftValueRange(lo, hi) => SecondaryIndex.lookupCoveredRange(
            indexCells(ix.indexTable), c.family, c.qualifier, lo, hi, others)
          case GraftValueOr(arms) => SecondaryIndex.lookupCoveredOr(
            indexCells(ix.indexTable), c.family, c.qualifier, arms, others)
        }))
      case Some(WideSingle(c, ix, pred)) =>
        // verified route over the logical view, projected to the scanned
        // columns after the whole-row verify
        val hit = pred match {
          case GraftValueIn(vs) => SecondaryIndex.lookupAll(logical,
            indexCells(ix.indexTable), c.family, c.qualifier, vs,
            keyed = false)
          case GraftValueRange(lo, hi) => SecondaryIndex.lookupRange(logical,
            indexCells(ix.indexTable), c.family, c.qualifier, lo, hi,
            exactPrefix = ix.moreColumns.isEmpty, keyed = false)
          case GraftValueOr(arms) => SecondaryIndex.lookupOr(logical,
            indexCells(ix.indexTable), c.family, c.qualifier, arms,
            keyed = false)
        }
        visible(keepWanted(boundsFilter(hit)))
      case Some(WideComposite(ix, valueLists)) =>
        // conjunctive equality/IN through the composite key: ONE probe
        // pass over the bounded blob cartesian + gather + every-member
        // verify against each member's list
        visible(keepWanted(boundsFilter(SecondaryIndex.lookupCompositeAll(
          logical, indexCells(ix.indexTable), ix.columns, valueLists,
          keyed = false))))
      case Some(WideCompositeOr(ix, tuples)) =>
        // OR of tuples: the union of the disjuncts' blob cartesians in
        // ONE gather pass; candidates resolve like any scan and the
        // RESIDUAL Or (all wide filters stay residual) makes the answer
        // exact — blob aliasing and stale entries are false positives it
        // drops
        val blobs = tuples.flatMap(blobCartesian)
        visible(keepWanted(boundsFilter(ScanExec(
          SecondaryIndex.gather(logical, indexCells(ix.indexTable), blobs),
          GScan()))))
      case Some(WideCrossOr(members)) =>
        // CROSS-column OR: the union of per-MEMBER candidate sets (each
        // leg one parquet-pruned pass over its own index; a multi-leg
        // member INTERSECTS its legs' row keys — r13 — so a conjunctive
        // disjunct fetches only rows satisfying every indexed
        // conjunct), deduped by row key, feeding ONE size-gated
        // span-bounded gather; candidates resolve like any scan and the
        // RESIDUAL Or (all wide filters stay residual) makes the answer
        // exact — stale index entries and the other columns'
        // non-matches are false positives it drops, while index
        // completeness for puts guarantees no disjunct's match is
        // missing from the union
        val hits = members.map { legs =>
          legs.map { case (_, ix, arms) =>
            SecondaryIndex.probeOr(indexCells(ix.indexTable), arms)
          }.reduce((a, b) => a.join(b, Seq("row"), "left_semi"))
        }.reduce(_.unionByName(_)).distinct()
        visible(keepWanted(boundsFilter(ScanExec(
          SecondaryIndex.gatherHits(logical, hits), GScan()))))
      case Some(WideMixedOr(krs, members)) =>
        // MIXED key/value OR: the key-range branch reads its rows
        // straight off the (logical) cell scan — ranges push to parquet
        // unsalted, filter stripped rows salted — while the value
        // branch probes + gathers like the cross-column route, EXCLUDING
        // hits the range branch already owns (the branches partition
        // the candidate rows, so the one resolution pass below never
        // sees a duplicate cell). Exactness is the residual Or's, over
        // a candidate superset: each key arm is a value superset by
        // construction (negative-region arm included) and index
        // completeness for puts covers every value disjunct's match.
        val hits = members.map { case (_, ix, arms) =>
          SecondaryIndex.probeOr(indexCells(ix.indexTable), arms)
        }.reduce(_.unionByName(_)).distinct()
        val hitsOutside =
          hits.filter(!GraftCols.rowRangesPred(hits, krs))
        val lg = logical // bind ONE frame: the def mints fresh attr ids
        val rangeCells = lg.filter(GraftCols.rowRangesPred(lg, krs))
        val cells = SecondaryIndex.gatherHits(logical, hitsOutside)
          .unionByName(rangeCells)
        visible(keepWanted(boundsFilter(ScanExec(cells, GScan()))))
      case None =>
        // plain scan: salt-aware bounds + qualifier projection + resolve.
        // Key probes: on a salted SINGLE-part key the head encoding IS
        // the full logical key, so the multiGet scoping applies (JVM-side
        // salted keys, one pruned span + broadcast semi-join); otherwise
        // the probe disjunction filters — pushed to parquet when unsalted,
        // on the stripped logical rows after the salted scatter.
        // with a wrapped stop the bound leaves the GScan/scatter fast
        // path (those express ONE range) and applies as the Or-of-ranges
        // stopPred on logical rows — still parquet/row-group prunable on
        // the unsalted path, an in-plan filter after the salted scatter
        def wrapStop(df: DataFrame): DataFrame =
          if (stopWraps) stopPred.fold(df)(df.filter) else df
        val gsStop = if (stopWraps) None else stopRow
        val (frame, gs) =
          if (d.saltBuckets > 0) effProbes match {
            case Some(ps) if spec.key.sizeIs == 1 && ps.nonEmpty =>
              (wrapStop(graft.core.Salt.scopeKeys(engine.readManifest(m),
                d.saltBuckets, ps)), GScan(startRow, gsStop))
            case Some(_) if spec.key.sizeIs == 1 => // empty scope
              (graft.core.Salt.stripCells(engine.readManifest(m))
                .filter(lit(false)), GScan())
            case _ if stopWraps =>
              // salted + wrapped stop: the wrap must stay on the RAW
              // (pushable) salted column, so the scatter carries it as a
              // second per-bucket range disjunct — [salt++start,
              // salt++stop) ∪ [salt++negStart, nextSalt) — instead of a
              // post-strip filter parquet cannot see
              val sc = graft.core.Salt.scatter(d.saltBuckets, startRow,
                  stopRow) ||
                graft.core.Salt.scatter(d.saltBuckets, Some(negStart), None)
              (probeFilter(graft.core.Salt.stripCells(
                engine.readManifest(m).filter(sc))), GScan())
            case _ =>
              (probeFilter(graft.core.Salt.scanRange(
                engine.readManifest(m), d.saltBuckets, startRow, stopRow)),
                GScan())
          }
          else (probeFilter(wrapStop(engine.readManifest(m))),
            GScan(startRow, gsStop))
        val projected = wanted.foldLeft(gs)((s, c) =>
          s.addColumn(c.family, c.qualifier))
        ScanExec(frame, projected,
          ttlMs = None, now = GraftSqlCatalog.nowMs(),
          familyMaxVersions = d.families.map(f => f.name -> f.maxVersions).toMap,
          familyTtlMs = d.families.flatMap(f => f.ttlMs.map(f.name -> _)).toMap)
    }
    val decoded0 = CellCodec.decode(cells,
      StructType(wanted.map(c => StructField(c.name, c.dt))), key = spec.key,
      ordered = spec.orderedNames)
    // an empty runtime key set (empty dim): structurally empty output
    // (a global pushed aggregate still computes correctly over it)
    val decoded =
      if (runtimeEmptyScan) decoded0.filter(lit(false)) else decoded0
    aggSpec match {
      case Some(a) =>
        // pushed aggregation runs INSIDE the inner plan (codegen'd hash
        // aggregate over the decoded wide frame); limit is never offered
        // alongside an aggregate
        a(decoded)
      case None =>
        GraftSortCol(decoded, topN, limit,
          _.select(required.fieldNames.map(col).toIndexedSeq: _*))
    }
  }

  override def toV1TableScan[T <: BaseRelation with TableScan](
      context: SQLContext): T = {
    require(!withDeletes, "withDeletes applies to STREAMING wide reads " +
      "(the change feed); a batch read returns resolved state, where " +
      "deletes are already applied")
    new BaseRelation with TableScan {
      override def sqlContext: SQLContext = context
      override def schema: StructType = readSchema()
      override def buildScan(): RDD[Row] =
        resolvedFrame(context.sparkSession).rdd
    }.asInstanceOf[T]
  }

  /** Streaming read = the append feed decoded to relational UPSERT rows
    * (see [[GraftWideMicroBatchStream]] for the semantics contract and
    * the shuffle-free assembly's exactness argument). */
  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream = {
    require(!timeTravel,
      s"cannot stream from a time-travel view of $baseTable")
    // a wrapped stop (plain signed head, see negStart) widens to unbounded
    // here: the stream scan expresses one range, and the residual filter
    // Spark re-applies above it keeps the answer exact either way
    new GraftWideMicroBatchStream(engine, baseTable, spec, required,
      spec.cols.map(_.family).toSet, startRow,
      if (stopWraps) None else stopRow,
      maxVersionsPerTrigger, manifest.descriptor.saltBuckets, withDeletes,
      startingVersion)
  }
}

/** Public plan seams for harnesses OUTSIDE this package (CrossCheck,
  * PerfEval): route facts of the graft wide scans under a frame's
  * optimized plan. Read-only; collecting them triggers optimization. */
object GraftWideSeams {
  import org.apache.spark.sql.DataFrame
  private def scans(df: DataFrame): Seq[GraftWideScan] =
    GraftPlanSeams.scansOf[GraftWideScan](df)
  /** Index tables probed by CROSS-column OR routes under `df`. */
  def crossOrIndexTables(df: DataFrame): Seq[String] =
    scans(df).flatMap(_.crossOrIndexTables)
  /** Per-MEMBER probed index tables of cross-column OR routes (r13:
    * a multi-leg member's legs intersect before the gather). */
  def crossOrMemberTables(df: DataFrame): Seq[Seq[String]] =
    scans(df).flatMap(_.crossOrMemberTables)
  /** Every routed index table under `df` (any route form). */
  def usedIndexTables(df: DataFrame): Seq[String] =
    scans(df).flatMap(_.usedIndexTable)
  /** MIXED key/value OR route shapes under `df`: (key-range arm count,
    * probed index tables) per routed scan. */
  def mixedOrShapes(df: DataFrame): Seq[(Int, Seq[String])] =
    scans(df).flatMap(_.mixedOrShape)
}
