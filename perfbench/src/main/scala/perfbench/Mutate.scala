package perfbench

import graft.Graft
import graft.catalog.{FamilyDescriptor, TableDescriptor}
import graft.core.Bytes
import graft.read.{Get, Scan}
import graft.streaming.Replication
import graft.write.{Delete, Mutations, Put}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import scala.collection.mutable

/** `mutate`: rounds of writes, change-feed replication, read-your-writes
  * reads and client-triggered maintenance (a snapshot and a minor
  * compaction) on an orders table with a versioned family `o`, a counter
  * family `c` and an o_custkey index; major compaction and the snapshot
  * lifecycle at the end. Every write call is one durable manifest commit. */
final class Mutate(spark: SparkSession, work: String, seed: Long) extends Workload {
  val Rows = 5000L
  private val CustKey = Bytes.toBytes("o_custkey")
  private def q(s: String) = Bytes.toBytes(s)
  private def q(k: Long) = Bytes.toBytes(k)
  private def desc(name: String) = TableDescriptor(name,
    Seq(FamilyDescriptor("o", maxVersions = 3), FamilyDescriptor("c", maxVersions = 1)),
    splitKeys = 4, wideKey = Some(Orders.WideKey), wideSchema = Some(Orders.WideSchema))

  final class State(val root: String, val g: Graft, val catalogName: String, rows: Long) {
    val model = new MutateModel(rows, rows / 10)
    val plan = new MutatePlan(seed, model)
    var round = 0
    var ts = 1000L
    def nextTs(): Long = { ts += 1; ts }
    val snapshots = mutable.LinkedHashMap[String, Map[Long, Orders.ModelRow]]()
    var userBytes = 0L
    /** Wall time of each write call's end, for replication lag. */
    var lastCommitEndNs = 0L
    val lagMs = mutable.ArrayBuffer[Double]()
    var streamBatches, streamRows = 0L
    val streamBatchMs = mutable.ArrayBuffer[Double]()
  }

  def warmUp(): Unit = build("warm", 300)
  def setup(rep: Int): State = build(rep.toString, Rows)

  /** One checked round on the state the timed loop continues on. */
  def prime(s: State): Unit = measure(s, new Recorder(spark, traced = false), 0, 1)

  private def build(name: String, rows: Long): State = {
    val root = s"$work/mutate-$name"
    val g = Graft(spark, root)
    g.createTable(desc("orders"), nowMs = 1L)
    g.table("orders").mutate(
      Orders.cells(Orders.range(spark, 1, rows + 1, rows / 10), ts = 1L), nowMs = 1L)
    g.createIndex("orders", "o", CustKey, nowMs = 2L)
    g.createTable(desc("replica"), nowMs = 2L)
    val cat = s"pb_mutate_$name"
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[graft.sql.GraftSqlCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    val s = new State(root, g, cat, rows)
    s.userBytes = userBytesOf(s.model.rows)
    replicate(s, count = false)
    s
  }

  private def userBytes(puts: Seq[Put]): Long =
    puts.iterator.flatMap(_.cells).map(c => c.row.length + c.qualifier.length + c.value.length).sum

  /** Bytes of row key + qualifier + value the client submitted. */
  private def userBytesOf(rows: Iterable[(Long, Orders.ModelRow)]): Long =
    rows.iterator.map { case (_, r) =>
      r.iterator.map { case (fq, v) =>
        8L + fq.length - 2 + Orders.bytesOf(v).length
      }.sum
    }.sum

  /** One AvailableNow run of the table change feed into the replica. */
  private def replicate(s: State, count: Boolean): Unit = {
    val q = Replication.replicate(s.g.readStream("orders"), s.g.catalog, "replica",
      s"${s.root}/_replica_checkpoint", nowMsOf = b => 500000L + b)
    q.awaitTermination()
    q.exception.foreach(e => throw e)
    if (count) q.recentProgress.foreach { p =>
      if (p.numInputRows > 0) {
        s.streamBatches += 1
        s.streamRows += p.numInputRows
        s.streamBatchMs += p.batchDuration.toDouble
      }
    }
  }

  private def readCells(rec: Recorder, s: State, df: => DataFrame): Array[Row] = {
    if (rec.traced) Layers.catalogProbe(rec, s.g, "orders")
    val d = rec.span("read.construct")(df)
    val rows = rec.span("spark.collect")(d.select("row", "family", "qualifier", "value").collect())
    rec.gauge("read.rows_returned", rows.length)
    rows
  }
  private def expect(s: State, keys: Iterable[Long]) =
    Orders.expectedCells(keys.flatMap(k => s.model.rows.get(k).map(k -> _)))

  private def commit(rec: Recorder, s: State, kind: String, user: Long)(body: => Unit): Unit = {
    rec.op(kind)(rec.span(s"write.$kind")(body))(_ => ())
    s.lastCommitEndNs = System.nanoTime()
    s.userBytes += user
    rec.gauge("write.user_bytes", user.toDouble)
  }

  private def oneRound(s: State, rec: Recorder): Unit = {
    val t = s.g.table("orders")
    s.round += 1
    val r = s.round
    // -- writes
    val b = s.plan.batch()
    val ts1 = s.nextTs()
    val puts = b.updates.map { case (k, price, status) =>
      Put(q(k)).add("o", q("o_totalprice"), ts1, Bytes.toBytes(price))
        .add("o", q("o_orderstatus"), ts1, Bytes.toBytes(status))
    } ++ b.inserts.map { k =>
      Orders.modelRow(Orders.order(k, s.model.customers)).foldLeft(Put(q(k))) {
        case (p, (fq, v)) => p.add("o", q(fq.drop(2)), ts1, Orders.bytesOf(v))
      }
    }
    val dels = b.deletes.map(k => Delete(q(k)).deleteFamily("o", ts1).deleteFamily("c", ts1))
    commit(rec, s, "mutate", userBytes(puts)) {
      t.mutate(Mutations.toDF(spark, puts ++ dels, ts1), ts1)
    }
    val incs = s.plan.increments()
    val ts2 = s.nextTs()
    // an increment submits a row key, the qualifier "cnt" and an 8-byte delta
    commit(rec, s, "increment", incs.size * (8L + 3 + 8)) {
      import spark.implicits._
      t.increment(incs.map { case (k, d) => (q(k), "c", q("cnt"), d) }
        .toDF("row", "family", "qualifier", "delta"), ts2)
    }
    val checks = s.plan.checks(r)
    val ts3 = s.nextTs()
    val checkPuts = checks.map(c =>
      Put(q(c.key)).add("o", q("o_orderpriority"), ts3, Bytes.toBytes(c.newPriority)))
    commit(rec, s, "check_and_mutate", userBytes(checkPuts)) {
      import spark.implicits._
      val cdf = checks.map(c => (q(c.key), "o", q("o_orderstatus"), Bytes.toBytes(c.expected)))
        .toDF("row", "family", "qualifier", "expected")
      t.checkAndMutate(cdf, Mutations.toDF(spark, checkPuts, ts3), ts3)
    }
    // -- change feed: commit end -> replica committed
    rec.op("replicate")(rec.span("streaming.replicate")(replicate(s, count = true)))(_ => ())
    s.lagMs += (System.nanoTime() - s.lastCommitEndNs) / 1e6
    // -- read-your-writes
    val rd = s.plan.reads()
    rec.op("rw_get")(readCells(rec, s, t.get(Get(q(rd.get))))) { x =>
      Check.equal(s"round $r get ${rd.get}", expect(s, Seq(rd.get)), Orders.actualCells(x))
    }
    rec.op("rw_multiget")(readCells(rec, s, t.multiGet(rd.multiGet.map(q(_))))) { x =>
      Check.equal(s"round $r multiGet", expect(s, rd.multiGet), Orders.actualCells(x))
    }
    val (a, z) = (rd.rangeStart, rd.rangeStart + 100)
    rec.op("rw_range")(readCells(rec, s, t.scan(Scan(Some(q(a)), Some(q(z)))))) { x =>
      Check.equal(s"round $r scan [$a, $z)", expect(s, a until z), Orders.actualCells(x))
    }
    rec.op("rw_index")(readCells(rec, s, t.indexLookup("o", CustKey, rd.custkeys.map(q(_))))) { x =>
      Check.equal(s"round $r indexLookup ${rd.custkeys}",
        Orders.expectedCells(s.model.byCustomer(rd.custkeys.toSet)), Orders.actualCells(x))
    }
    val wide = s"${s.catalogName}.`orders$$wide`"
    rec.op("rw_sql") {
      val d = rec.span("sql.construct")(spark.sql(
        s"SELECT o_orderkey, o_totalprice, o_orderstatus, o_orderpriority FROM $wide " +
          s"WHERE o_orderkey IN (${rd.sqlKeys.mkString(", ")})"))
      val rows = rec.span("spark.collect")(d.collect())
      rec.gauge("read.rows_returned", rows.length)
      rows
    } { x =>
      val exp = rd.sqlKeys.flatMap(k => s.model.rows.get(k).map(m => (k,
        m("o:o_totalprice"), m("o:o_orderstatus"), m("o:o_orderpriority")))).toSet
      Check.equal(s"round $r sql IN", exp,
        x.map(y => (y.getLong(0), y.getDouble(1), y.getString(2), y.getString(3))).toSet[Any])
    }
    val agg = (rd.aggStart, rd.aggStart + 1000)
    rec.op("rw_sql_agg") {
      val d = rec.span("sql.construct")(spark.sql(
        s"SELECT count(*), min(o_totalprice), max(o_totalprice) FROM $wide " +
          s"WHERE o_orderkey >= ${agg._1} AND o_orderkey < ${agg._2}"))
      val rows = rec.span("spark.collect")(d.collect())
      rec.gauge("read.rows_returned", rows.length)
      rows
    } { x =>
      val prices = (agg._1 until agg._2).flatMap(k => s.model.rows.get(k))
        .map(_("o:o_totalprice").asInstanceOf[Double])
      Check.equal(s"round $r sql aggregate [${agg._1}, ${agg._2})",
        Seq((prices.size.toLong, prices.min, prices.max)),
        x.toSeq.map(y => (y.getLong(0), y.getDouble(1), y.getDouble(2))))
    }
    // -- client-triggered maintenance
    rec.op("snapshot")(rec.span("snapshot.create")(s.g.snapshot(s"s$r", "orders", s.nextTs())))(_ => ())
    s.snapshots(s"s$r") = s.model.snapshot()
    rec.op("minor_compact")(rec.span("write.minor_compact")(t.minorCompact(s.nextTs())))(_ => ())
  }

  def measure(s: State, rec: Recorder, seconds: Double, maxOps: Int): Int = {
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    var n = 0
    while (n < maxOps && (n == 0 || System.nanoTime() < deadline)) { oneRound(s, rec); n += 1 }
    n
  }

  /** The full visible table as model-shaped cells. */
  private def visible(g: Graft, table: String): Map[(Long, String), String] =
    Orders.actualCells(g.table(table).scan(Scan()).select("row", "family", "qualifier", "value").collect())
  private def dirBytes(p: String): Long = {
    val w = java.nio.file.Files.walk(java.nio.file.Paths.get(p))
    try w.filter(java.nio.file.Files.isRegularFile(_)).mapToLong(java.nio.file.Files.size(_)).sum()
    finally w.close()
  }

  /** Major compaction and the snapshot lifecycle, each one timed op,
    * checked against the model. */
  private def endPhase(s: State, rec: Recorder): Unit = {
    val t = s.g.table("orders")
    val first = s.snapshots.keys.head
    rec.op("major_compact")(rec.span("write.major_compact")(t.majorCompact(s.nextTs())))(_ => ())
    rec.op("snapshot")(rec.span("snapshot.create")(s.g.snapshot("final", "orders", s.nextTs())))(_ => ())
    s.snapshots("final") = s.model.snapshot()
    val exportDir = s"${s.root}/_export"
    rec.op("export")(rec.span("snapshot.export")(s.g.exportSnapshot("final", exportDir)))(_ => ())
    rec.gauge("snapshot.export_bytes", dirBytes(exportDir).toDouble)
    rec.op("import")(rec.span("snapshot.import")(s.g.importSnapshot("imported", exportDir)))(_ => ())
    rec.op("clone")(rec.span("snapshot.clone")(s.g.cloneSnapshot("imported", "cloned", s.nextTs())))(_ => ())
    rec.op("restore")(rec.span("snapshot.restore")(s.g.restoreSnapshot(first, s.nextTs())))(_ => ())
    rec.op("diff")(rec.span("snapshot.diff") {
      s.g.diffSnapshots(first, "final").select("row", "family", "qualifier", "change").collect()
    }) { rows =>
      val a = Orders.expectedCells(s.snapshots(first)); val b = Orders.expectedCells(s.snapshots("final"))
      val exp = (a.keySet ++ b.keySet).flatMap { c =>
        (a.get(c), b.get(c)) match {
          case (None, Some(_)) => Some(c -> "added")
          case (Some(_), None) => Some(c -> "removed")
          case (Some(x), Some(y)) if x != y => Some(c -> "changed")
          case _ => None
        }
      }
      Check.equal("diffSnapshots", exp, rows.map(r => (Bytes.toLong(r.getAs[Array[Byte]](0)),
        r.getString(1) + ":" + Bytes.toString(r.getAs[Array[Byte]](2))) -> r.getString(3)).toSet)
    }
    rec.outside("check")
    Check.equal("clone of exported snapshot", Orders.expectedCells(s.snapshots("final")), visible(s.g, "cloned"))
    Check.equal(s"restore to $first", Orders.expectedCells(s.snapshots(first)), visible(s.g, "orders"))
  }

  def finish(s: State, rec: Recorder): Map[String, Double] = {
    rec.outside("check")
    // restart check: a fresh engine instance on the same root
    val fresh = Graft(spark, s.root)
    Check.equal("restart: visible table", Orders.expectedCells(s.model.rows), visible(fresh, "orders"))
    val storedBytes = dirBytes(s"${s.root}/orders")
    Check.equal("replica = source", Orders.expectedCells(s.model.rows), visible(s.g, "replica"))
    // The end phase feeds only per-layer metrics: traced runs alone run
    // it, and check its answers.
    if (rec.traced) endPhase(s, rec)
    Map(
      "mutate.bytes_stored_per_user_byte" -> storedBytes.toDouble / s.userBytes,
      "streaming.batches" -> s.streamBatches.toDouble,
      "streaming.rows" -> s.streamRows.toDouble,
      "streaming.batch_ms" -> (if (s.streamBatchMs.isEmpty) 0.0 else Stats.median(s.streamBatchMs.toSeq)),
      "mutate.replication_lag_p50_ms" -> Stats.median(s.lagMs.toSeq))
  }
}
