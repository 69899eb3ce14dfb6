package graft.core

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Salted row keys — the standard HBase key design for monotonic keys
  * (time-ordered event ids, sequence numbers), which otherwise hotspot
  * the tail region on write (the reference's region model: writes to a
  * sorted keyspace land on the single region owning the key range —
  * `hbase/regionserver/HRegionServer.java`, region assignment by
  * start-key). Prefixing one deterministic hash byte `hash(key) % n`
  * spreads a monotonic stream over n ranges while keeping point reads
  * computable (the salt is a function of the key) and range scans
  * feasible as n parallel sub-range scans merged back together.
  *
  * In the Spark layout the same degenerate shape exists at 100 TB: a
  * monotonic key makes every append touch the final range partition —
  * one hot task, skewed file sizes, and compactions that always rewrite
  * the tail. A salted layout range-partitions by (salt, key), so appends
  * spread over all partitions; a logical `[start, stop)` scan compiles
  * to an OR of n per-salt ranges on the SALTED sort order, which parquet
  * min/max stats prune per bucket — the scatter-gather read.
  *
  * n <= 256 (one prefix byte). The salt is `pmod(xxhash64(row), n)` —
  * stable across Spark versions and sessions (fixed seed 42).
  */
object Salt {

  private def checkN(n: Int): Unit =
    require(n >= 1 && n <= 256, s"salt buckets must be in [1, 256], got $n")

  /** One-byte salt prefix for a binary row key. */
  def saltPrefix(row: Column, n: Int): Column = {
    checkN(n)
    // int -> one binary byte via hex/unhex (codegen'd builtins; values
    // are < 256 so lpad-to-2-hex-chars is exactly one byte)
    unhex(lpad(hex(pmod(xxhash64(row), lit(n)).cast("int")), 2, "0"))
  }

  /** Cells -> cells with salted `row` (write path; apply before append
    * so the table layout range-partitions on the salted order). */
  def salt(cells: DataFrame, n: Int): Column =
    concat(saltPrefix(col("row"), n), col("row"))

  def saltCells(cells: DataFrame, n: Int): DataFrame =
    cells.withColumn("row", salt(cells, n))

  /** Salted `row` -> logical row (read path, after the scatter filter). */
  def strip(row: Column): Column =
    substring(row, 2, Int.MaxValue)

  def stripCells(cells: DataFrame): DataFrame =
    cells.withColumn("row", strip(col("row")))

  /** Scatter predicate: the logical range `[start, stop)` (either side
    * open) expanded to the n salted sub-ranges. A disjunction of range
    * comparisons on the one sorted column — parquet row-group stats
    * prune each salt bucket to the files overlapping its sub-range. */
  def scatter(n: Int, start: Option[Array[Byte]] = None,
      stop: Option[Array[Byte]] = None): Column = {
    checkN(n)
    (0 until n).map { s =>
      val sb = Array(s.toByte)
      val lo = start.map(sb ++ _).getOrElse(sb)
      // open-stop: everything below the next salt prefix; salt 255 keeps
      // an open tail (no byte string is >= a 256th prefix)
      val hi = stop.map(sb ++ _)
        .orElse(if (s + 1 < 256) Some(Array((s + 1).toByte)) else None)
      hi.foldLeft(col("row") >= lit(lo))((c, h) => c && col("row") < lit(h))
    }.reduce(_ || _)
  }

  /** Scatter-gather scan over a salted cell table: fan the logical range
    * out across the salt buckets, then strip the prefix so downstream
    * (Resolve, decode) sees logical keys. Compose with `ScanExec` for
    * visibility semantics. */
  def scanRange(cells: DataFrame, n: Int, start: Option[Array[Byte]] = None,
      stop: Option[Array[Byte]] = None): DataFrame =
    stripCells(cells.filter(scatter(n, start, stop)))

  /** JVM-side salt of a key — byte-identical to [[saltPrefix]] (same
    * xxhash64, seed 42; parity is property-tested in SaltSpec). This is
    * the property that makes salting viable for POINT access: a Get on a
    * salted table computes its one salted key and stays a single
    * parquet-pruned range, no scatter needed. */
  def saltOf(key: Array[Byte], n: Int): Byte = {
    checkN(n)
    val h = org.apache.spark.sql.catalyst.expressions.XXH64.hashUnsafeBytes(
      key, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET, key.length, 42L)
    // pmod semantics (Spark's pmod: non-negative remainder)
    (((h % n) + n) % n).toByte
  }

  def saltedKey(key: Array[Byte], n: Int): Array[Byte] =
    Array(saltOf(key, n)) ++ key

  /** Point read over salted cells: one range `[salted, succ(salted))`,
    * prefix stripped for downstream resolve. */
  def get(cells: DataFrame, n: Int, row: Array[Byte]): DataFrame =
    stripCells(cells.filter(col("row") === lit(saltedKey(row, n))))

  /** Batch point-read scope over salted cells (the multiGet shape on the
    * SALTED sort order): each key salts JVM-side to its one storage key,
    * the batch's span bounds prune the parquet scan, `row IN (keys)`
    * (within [[graft.read.Resolve.maxKeys]] keys, the keyed read's
    * scope) or a broadcast semi-join (above it) picks the exact keys,
    * and the result strips back to logical rows. O(batch) driver-side,
    * one distributed pass. */
  def scopeKeys(cells: DataFrame, n: Int, rows: Seq[Array[Byte]]): DataFrame = {
    require(rows.nonEmpty, "scopeKeys needs at least one key")
    checkN(n)
    val spark = cells.sparkSession
    import spark.implicits._
    val salted = rows.map(saltedKey(_, n)).distinctBy(java.nio.ByteBuffer.wrap)
    if (salted.sizeIs <= graft.read.Resolve.maxKeys(spark))
      return stripCells(graft.read.ScanExec.keyScope(cells, salted))
    val ord: Ordering[Array[Byte]] = (a, b) => Bytes.compareTo(a, b)
    val lo = salted.min(ord)
    val hi = Bytes.successor(salted.max(ord))
    stripCells(cells
      .filter(col("row") >= lit(lo) && col("row") < lit(hi))
      .join(broadcast(salted.toDF("row")), Seq("row"), "left_semi"))
  }
}
