package graft.core

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}

/** Per-data-dir WRITE-SIDE statistics (r17, VERDICT #4): a tiny
  * `_GRAFT_STATS` metadata file dropped next to the parquet files when a
  * dir is written, recording facts the writer has in hand — the exact
  * count of non-Put (tombstone) cells and the exact count of all stored
  * cells. [[graft.catalog.Catalog]]'s writer observes both inside its
  * write job (`Dataset.observe`), so recording them costs no pass over
  * the data; dirs written before `rows` was recorded carry only
  * `tombstones`.
  *
  * Why per-DIR rather than per-manifest: every committed data dir is
  * immutable, so its counts are exact forever and need no roll-forward
  * arithmetic — appends add new dirs with their own files, partial
  * compactions ([[graft.catalog.Catalog.replaceDirs]]) swap dir subsets,
  * and any READ of any dir combination can still prove tombstone-freeness
  * by consulting exactly the dirs it scans. [[graft.read.Resolve.masked]]
  * uses this to turn its tombstone-free probe (a per-resolve limit-1
  * Spark job that at 100 TB is an O(row-groups) footer pass per query)
  * into a driver-side metadata lookup; dirs without the file (legacy
  * stores, foreign parquet) keep the runtime probe. A partial compaction
  * sums the removed dirs' `rows` instead of counting them.
  *
  * The leading underscore keeps the file invisible to Spark's data-file
  * listing (same hidden-file rule that protects `_SUCCESS`). Best-effort
  * on both sides: a write failure must not fail the data commit, an
  * unreadable/absent file or field simply means "unknown".
  */
object StoreStats {
  val FileName = "_GRAFT_STATS"

  /** Record `tombstones` (and `rows`, when known) for `dir`. Never
    * throws. */
  def write(fs: FileSystem, dir: Path, tombstones: Long,
      rows: Option[Long] = None): Unit =
    try {
      val out = fs.create(new Path(dir, FileName), true)
      val body = s""""tombstones":$tombstones""" +
        rows.fold("")(r => s""","rows":$r""")
      try out.write(s"{$body}".getBytes("UTF-8"))
      finally out.close()
    } catch { case scala.util.control.NonFatal(_) => () }

  /** Exact non-Put cell count recorded for `dir`; None when absent or
    * unreadable (legacy dir, foreign data, racing writer). */
  def tombstones(conf: Configuration, dir: Path): Option[Long] =
    field(conf, dir, "tombstones")

  /** Exact stored cell count recorded for `dir`; None when absent,
    * unreadable, or written before row counts were recorded. */
  def rows(conf: Configuration, dir: Path): Option[Long] =
    field(conf, dir, "rows")

  private def field(conf: Configuration, dir: Path, key: String): Option[Long] =
    try {
      val fs = dir.getFileSystem(conf)
      val p = new Path(dir, FileName)
      if (!fs.exists(p)) None
      else {
        val in = fs.open(p)
        val txt =
          try {
            val buf = new Array[Byte](256)
            val n = in.readNBytes(buf, 0, buf.length)
            new String(buf, 0, n, "UTF-8")
          } finally in.close()
        ("\"" + key + "\":(\\d+)").r.findFirstMatchIn(txt)
          .map(_.group(1).toLong)
      }
    } catch { case scala.util.control.NonFatal(_) => None }
}
