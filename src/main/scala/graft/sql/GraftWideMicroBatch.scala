package graft.sql

import graft.catalog.Catalog
import graft.core.{Bytes, Cell, CellKind}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory}
import org.apache.spark.sql.connector.read.streaming.Offset
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.SerializableConfiguration

/** Streaming read of a WIDE view — `spark.readStream.table("<cat>.
  * \`t\$wide\`")`: the table's append feed decoded into relational
  * UPSERT rows (the CDC shape a Phoenix/Delta user expects from a
  * declared relational view).
  *
  * Semantics, layered on the cell feed's contract
  * ([[GraftMicroBatchStream]] — offsets are manifest versions, appends
  * only, at-least-once): each appended batch's Put cells decode to one
  * row per (version, row key) carrying that batch's newest value per
  * declared column; columns the batch did not touch are null (this is a
  * CHANGE feed, not resolved state — readers merge upserts by key, the
  * standard CDC consumption). Tombstone kinds never produce values: a
  * batch whose newest cell for a column is a delete yields null there,
  * and a row with only tombstones ships nothing (deletes are visibility,
  * not upserts — the reference's replication sink applies them on the
  * peer, `Replication` here exposes them on the CELL feed for users who
  * need them). OPT-IN `option("withDeletes", "true")`: a batch that
  * whole-row-deletes a key (a DeleteFamily in EVERY declared family with
  * no SURVIVING put — the facade's `Delete(row)` and the wide DML DELETE
  * shape; a put masked by a same-batch newer DeleteFamily, ts <= the
  * tombstone's, does not count as surviving) ships
  * one marker row with every declared column null; upsert rows always
  * carry >= 1 non-null column, so the marker is unambiguous and the
  * schema unchanged — a CDC consumer merges upserts by key and removes
  * keys on markers, which reconstructs exactly the resolved state.
  *
  * Exactness of shuffle-free, state-free assembly: every committed
  * `data-*` leaf file is range-partitioned by row and sorted by
  * (row, family, qualifier, ts desc, seq desc) — `Catalog.writeCells` is
  * the single append path, and ALL families of one batch share the SAME
  * range partitioning (one write job splits per-family leaf dirs AFTER
  * the range repartition; a small batch is one partition). So within a
  * version, the files holding one row's cells — at most one per family —
  * cover row ranges that INTERSECT, while files of different range
  * partitions are row-disjoint.
  * Planning groups a version's files by that property (parquet footer
  * min/max of `row` + interval union-find; any file without stats
  * collapses the version to one conservative group), and each group is
  * one InputPartition whose reader k-way-merges its ≤|families| sorted
  * files back into full cell order before assembly. Single-family views
  * degenerate to one file per group — zero merge overhead.
  */
class GraftWideMicroBatchStream(engine: Catalog, tableName: String,
    spec: WideSpec, required: StructType, families: Set[String],
    startRow: Option[Array[Byte]], stopRow: Option[Array[Byte]],
    maxVersionsPerTrigger: Option[Long], saltBuckets: Int,
    withDeletes: Boolean = false,
    startingVersion: Option[String] = None)
    extends GraftMicroBatchStream(engine, tableName,
      families.foldLeft(graft.read.Scan(startRow, stopRow))(_.addFamily(_)),
      Cell.schema, maxVersionsPerTrigger, saltBuckets, startingVersion) {

  /** Version of a committed leaf file: the `data-{v}` ancestor (leaf dirs
    * may nest `_bucket=` subdirs under the `_fam=` level). */
  private def versionOf(file: String): Long = {
    var p = new Path(file).getParent
    while (p != null && !p.getName.startsWith("data-")) p = p.getParent
    require(p != null, s"feed file outside a data-* dir: $file")
    p.getName.stripPrefix("data-").toLong
  }

  /** Footer min/max of the `row` column, None when any block lacks
    * usable stats. One footer read per file at PLANNING — the same
    * metadata any splitter reads. */
  private def rowBoundsOf(file: String,
      conf: org.apache.hadoop.conf.Configuration)
      : Option[(Array[Byte], Array[Byte])] = {
    import scala.jdk.CollectionConverters._
    val in = org.apache.parquet.hadoop.util.HadoopInputFile
      .fromPath(new Path(file), conf)
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
    try {
      val perBlock = r.getFooter.getBlocks.asScala.toSeq.map { b =>
        b.getColumns.asScala.find(_.getPath.toDotString == "row")
          .map(_.getStatistics)
          .filter(s => s != null && s.hasNonNullValue)
          .map(s => (
            s.genericGetMin.asInstanceOf[org.apache.parquet.io.api.Binary]
              .getBytes,
            s.genericGetMax.asInstanceOf[org.apache.parquet.io.api.Binary]
              .getBytes))
      }
      if (perBlock.isEmpty || perBlock.exists(_.isEmpty)) None
      else Some((
        perBlock.flatten.map(_._1).min(Ordering.fromLessThan[Array[Byte]](
          Bytes.compareTo(_, _) < 0)),
        perBlock.flatten.map(_._2).max(Ordering.fromLessThan[Array[Byte]](
          Bytes.compareTo(_, _) < 0))))
    } finally r.close()
  }

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val conf = org.apache.spark.sql.SparkSession.active
      .sparkContext.hadoopConfiguration
    val files = super.planInputPartitions(start, end)
      .map(_.asInstanceOf[GraftFilePartition].file)
    files.groupBy(versionOf).toSeq.sortBy(_._1).flatMap { case (_, fs) =>
      val bounds = fs.toSeq.map(f => f -> rowBoundsOf(f, conf))
      val groups: Seq[Seq[String]] =
        if (bounds.exists(_._2.isEmpty)) Seq(fs.toSeq)
        else {
          // interval union-find: sort by min; a file joins the open group
          // while its min <= the group's running max (families share the
          // batch's range boundaries, so intersect == same row range)
          val sorted = bounds.map { case (f, b) => (f, b.get._1, b.get._2) }
            .sortBy(_._2)(Ordering.fromLessThan(Bytes.compareTo(_, _) < 0))
          val out = Seq.newBuilder[Seq[String]]
          var cur = List.empty[String]
          var curMax: Array[Byte] = null
          sorted.foreach { case (f, lo, hi) =>
            if (cur.nonEmpty && Bytes.compareTo(lo, curMax) <= 0) {
              cur = f :: cur
              if (Bytes.compareTo(hi, curMax) > 0) curMax = hi
            } else {
              if (cur.nonEmpty) out += cur.reverse
              cur = List(f); curMax = hi
            }
          }
          if (cur.nonEmpty) out += cur.reverse
          out.result()
        }
      groups.map(g => GraftWideFilesPartition(g, startRow, stopRow,
        families, saltBuckets, spec, required.fieldNames,
        withDeletes): InputPartition)
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new GraftWideReaderFactory(new SerializableConfiguration(
      org.apache.spark.sql.SparkSession.active.sparkContext.hadoopConfiguration))
}

/** One version's row-range group: ≤|families| sorted cell files covering
  * the same row range (single-family: exactly one file). */
case class GraftWideFilesPartition(files: Seq[String],
    startRow: Option[Array[Byte]], stopRow: Option[Array[Byte]],
    families: Set[String], saltBuckets: Int,
    spec: WideSpec, fields: Array[String],
    withDeletes: Boolean = false) extends InputPartition

class GraftWideReaderFactory(conf: SerializableConfiguration)
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new GraftWideFileReader(partition.asInstanceOf[GraftWideFilesPartition],
      conf.value)
}

/** Assembles one row-range group of committed cell files (each sorted by
  * full cell order — see the stream's class doc) into wide upsert rows:
  * a k-way heap merge restores the global (row, family, qualifier,
  * ts desc, seq desc) order across the group's per-family files, then
  * first-seen-per-qualifier per row key is the batch's newest version.
  * The JVM-side value decode MUST byte-match `CellCodec.decodeValue` —
  * `WideStreamSpec` pins the parity by comparing a streamed batch
  * against the batch wide SELECT of the same table across every declared
  * type. */
class GraftWideFileReader(p: GraftWideFilesPartition,
    conf: org.apache.hadoop.conf.Configuration)
    extends PartitionReader[InternalRow] {

  private val cellFields =
    Array("row", "family", "qualifier", "ts", "kind", "value", "seq")

  /** One file's sorted cell stream with a lookahead head. `headSalt`
    * caches the head row's salt byte (the merge comparator's leading
    * component on salted tables — one hash per cell, not per compare). */
  private class FileCells(file: String) {
    val reader = new GraftFileReader(
      GraftFilePartition(file, cellFields, p.startRow, p.stopRow,
        Some(p.families), p.saltBuckets), conf)
    var headSalt: Int = 0
    var head: InternalRow = advance()
    def advance(): InternalRow = {
      head = if (reader.next()) reader.get() else null
      if (head != null && p.saltBuckets > 0)
        headSalt = graft.core.Salt.saltOf(head.getBinary(0), p.saltBuckets) & 0xff
      head
    }
  }

  /** Full cell order on the lookahead heads (ts/seq DESCENDING — newest
    * first within a qualifier, matching the files' sort). On a SALTED
    * table the files sort by the SALTED key while the reader exposes the
    * stripped key, so the comparator leads with the recomputed salt byte
    * (`Salt.saltOf` is byte-identical to the write-side prefix) — a
    * stripped-order heap would let a sparse family's stream run ahead
    * across a bucket boundary and SPLIT a row into two upserts (pinned
    * by WideStreamSpec's salted multi-family regression). */
  private def cellLt(sa: FileCells, sb: FileCells): Boolean = {
    if (sa.headSalt != sb.headSalt) return sa.headSalt < sb.headSalt
    val a = sa.head
    val b = sb.head
    val byRow = Bytes.compareTo(a.getBinary(0), b.getBinary(0))
    if (byRow != 0) return byRow < 0
    val byFam = a.getUTF8String(1).compareTo(b.getUTF8String(1))
    if (byFam != 0) return byFam < 0
    val byQual = Bytes.compareTo(a.getBinary(2), b.getBinary(2))
    if (byQual != 0) return byQual < 0
    if (a.getLong(3) != b.getLong(3)) return a.getLong(3) > b.getLong(3)
    a.getLong(6) > b.getLong(6)
  }

  private val streams: Seq[FileCells] = p.files.map(new FileCells(_))

  /** The merged stream's next cell, or null when drained. */
  private def nextCell(): InternalRow = {
    var best: FileCells = null
    streams.foreach { s =>
      if (s.head != null && (best == null || cellLt(s, best)))
        best = s
    }
    if (best == null) null
    else {
      val out = best.head
      best.advance()
      out
    }
  }

  // qualifier name -> declared column index (column identity = qualifier)
  private val colOf: Map[String, Int] =
    p.spec.cols.zipWithIndex.map { case (c, i) => (c.name, i) }.toMap
  // output field -> (isKeyPart, index into key parts | column slots)
  private val outFields: Array[(Boolean, Int)] = p.fields.map { f =>
    val ki = p.spec.key.indexWhere(_._1 == f)
    if (ki >= 0) (true, ki)
    else (false, colOf.getOrElse(f, throw new IllegalArgumentException(
      s"unknown wide field $f")))
  }

  private var look: InternalRow = nextCell()
  private var out: InternalRow = _

  /** Typed key parts from the (salt-stripped) row key — the JVM mirror of
    * `CellCodec.decode`'s key columns: fixed-width parts first, at most
    * one variable tail (WideSpec.parse enforces the shape). */
  private def keyParts(row: Array[Byte]): Array[Any] = {
    var off = 0
    p.spec.key.map { case (n, dt) =>
      dt match {
        case LongType =>
          val b = java.util.Arrays.copyOfRange(row, off, off + 8); off += 8
          if (p.spec.orderedKey(n)) Bytes.toLongOrdered(b) else Bytes.toLong(b)
        case IntegerType =>
          val b = java.util.Arrays.copyOfRange(row, off, off + 4); off += 4
          if (p.spec.orderedKey(n)) Bytes.toIntOrdered(b) else Bytes.toInt(b)
        case StringType =>
          UTF8String.fromBytes(java.util.Arrays.copyOfRange(row, off, row.length))
        case BinaryType =>
          java.util.Arrays.copyOfRange(row, off, row.length)
        case other =>
          throw new IllegalArgumentException(s"unsupported key type: $other")
      }
    }.toArray
  }

  /** Cell value bytes -> the column's InternalRow representation — the
    * JVM mirror of `CellCodec.decodeValue` (same byte conventions:
    * big-endian integrals, IEEE bits as 8 bytes for double AND float,
    * millis for timestamp, micros for timestamp_ntz, days for date). */
  private def decodeVal(c: WideCol, b: Array[Byte]): Any =
    if (c.ordered) c.dt match {
      case LongType => Bytes.toLongOrdered(b)
      case IntegerType => Bytes.toIntOrdered(b)
      case DoubleType => Bytes.toDoubleOrdered(b)
      case other => throw new IllegalArgumentException(
        s"no ordered encoding for cell type $other")
    } else c.dt match {
      case LongType => Bytes.toLong(b)
      case IntegerType => Bytes.toInt(b)
      case StringType => UTF8String.fromBytes(b)
      case DoubleType => Bytes.toDouble(b)
      case FloatType => Bytes.toDouble(b).toFloat // encoded as double bits
      case TimestampType => Bytes.toLong(b) * 1000L // millis -> micros
      case TimestampNTZType => Bytes.toLong(b) // micros
      case DateType => Bytes.toInt(b) // days
      case BooleanType => Bytes.toBoolean(b)
      case BinaryType => b
      case other =>
        throw new IllegalArgumentException(s"unsupported cell type: $other")
    }

  // whole-row delete detection (withDeletes): the batch deletes a row
  // iff it carries a DeleteFamily for EVERY family the view declares and
  // no Put — exactly what the facade's Delete(row) and the wide DML
  // DELETE emit. Partial-family and per-column tombstones stay
  // unshipped (they are visibility, not relational deletes).
  private val allFams: Set[String] = p.spec.cols.map(_.family).toSet

  override def next(): Boolean = {
    out = null
    while (out == null && look != null) {
      val row = look.getBinary(0)
      val slots = new Array[Any](p.spec.cols.length)
      val seen = new Array[Boolean](p.spec.cols.length)
      var anyPut = false
      val famTombs = scala.collection.mutable.Set.empty[String]
      // newest DeleteFamily ts per family in THIS batch: a Put the same
      // batch also whole-row-deletes (one mutate mixing Put and a newer
      // Delete for one key) must not ship as a stale upsert — the
      // tombstone masks cells with ts <= its ts (the reference's
      // DeleteFamily rule), including same-batch puts. Sound in one
      // pass: DeleteFamily cells carry the EMPTY qualifier, which sorts
      // FIRST within a family in the merged (row, family, qualifier,
      // ts desc) order — every family's tombstones are seen before any
      // of its puts.
      val famTombTs = scala.collection.mutable.Map.empty[String, Long]
      while (look != null && java.util.Arrays.equals(look.getBinary(0), row)) {
        val fam = look.getUTF8String(1).toString
        val qual = new String(look.getBinary(2),
          java.nio.charset.StandardCharsets.UTF_8)
        if (look.getByte(4) == CellKind.DeleteFamily) {
          famTombs += fam
          val ts = look.getLong(3)
          if (famTombTs.get(fam).forall(_ < ts)) famTombTs(fam) = ts
        }
        // column identity = (family, qualifier): two families may reuse a
        // qualifier name only if the spec declares one of them
        colOf.get(qual).filter(ci => p.spec.cols(ci).family == fam)
          .foreach { ci =>
            // first-seen wins: the merged stream sorts (ts desc, seq
            // desc) within a qualifier — the batch's newest version
            if (!seen(ci)) {
              seen(ci) = true
              if (look.getByte(4) == CellKind.Put && !look.isNullAt(5) &&
                  !famTombTs.get(fam).exists(look.getLong(3) <= _)) {
                slots(ci) = decodeVal(p.spec.cols(ci), look.getBinary(5))
                anyPut = true
              } // tombstone kinds (and masked puts) leave the slot null
            }
          }
        look = nextCell()
      }
      // upsert rows always carry >= 1 non-null declared column, so the
      // all-null marker is unambiguous as "this key was deleted"
      if (anyPut || (p.withDeletes && allFams.subsetOf(famTombs))) {
        val keys = keyParts(row)
        out = new GenericInternalRow(outFields.map {
          case (true, ki) => keys(ki)
          case (false, ci) => slots(ci)
        })
      }
    }
    out != null
  }

  override def get(): InternalRow = out

  override def close(): Unit = streams.foreach(_.reader.close())
}
