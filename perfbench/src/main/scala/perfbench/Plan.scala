package perfbench

import java.util.SplittableRandom
import scala.collection.mutable

/** The `mutate` workload's driver-side model: visible rows (family `o`
  * fields and the `c:cnt` counter) keyed by o_orderkey. */
final class MutateModel(initialRows: Long, val customers: Long) {
  val rows = mutable.HashMap[Long, Orders.ModelRow]()
  (1L to initialRows).foreach(k => rows(k) = Orders.modelRow(Orders.order(k, customers)))
  var nextKey: Long = initialRows + 1
  /** Live keys in insertion order, for seeded picks. */
  val live = mutable.ArrayBuffer[Long]((1L to initialRows): _*)
  private val liveIdx = mutable.HashMap[Long, Int]()
  live.indices.foreach(i => liveIdx(live(i)) = i)

  def snapshot(): Map[Long, Orders.ModelRow] = rows.toMap

  def put(k: Long, fields: Orders.ModelRow): Unit = {
    if (!rows.contains(k)) { liveIdx(k) = live.size; live += k }
    rows(k) = rows.getOrElse(k, Map.empty) ++ fields
  }
  def delete(k: Long): Unit = {
    rows.remove(k)
    val i = liveIdx.remove(k).get
    val last = live.remove(live.size - 1)
    if (last != k) { live(i) = last; liveIdx(last) = i }
  }
  def byCustomer(cks: Set[Long]): Iterable[(Long, Orders.ModelRow)] =
    rows.filter { case (_, r) => r.get("o:o_custkey").exists(c => cks(c.asInstanceOf[Long])) }
}

/** One round's generated inputs. */
final case class MutateBatch(updates: Seq[(Long, Double, String)],
    deletes: Seq[Long], inserts: Seq[Long])
final case class CheckOp(key: Long, expected: String, newPriority: String)
final case class ReadOps(get: Long, multiGet: Seq[Long], rangeStart: Long,
    custkeys: Seq[Long], sqlKeys: Seq[Long], aggStart: Long)

/** The seeded inputs of each round. The seed picks keys and batches; the
  * initial table is fixed by [[Orders.order]]. Pure Scala, so the same
  * seed yields the same inputs without a Spark session. */
final class MutatePlan(seed: Long, model: MutateModel) {
  private val rnd = new SplittableRandom(seed)
  private def liveKey(): Long = model.live(rnd.nextInt(model.live.size))
  private def distinctLive(n: Int): Seq[Long] = {
    val s = mutable.LinkedHashSet[Long]()
    while (s.size < n) s += liveKey()
    s.toSeq
  }

  /** ~1 % updates, ~0.2 % deletes, ~0.5 % inserts of the live rows.
    * Applied to the model before it is returned. */
  def batch(): MutateBatch = {
    val n = model.live.size
    val touched = distinctLive(n / 100 + n / 500)
    val (upd, del) = touched.splitAt(n / 100)
    val updates = upd.map { k =>
      (k, rnd.nextInt(100000000) / 100.0, Orders.Statuses(rnd.nextInt(3)))
    }
    val inserts = (0 until n / 200).map(i => model.nextKey + i)
    model.nextKey += inserts.size
    updates.foreach { case (k, price, status) =>
      model.put(k, Map("o:o_totalprice" -> price, "o:o_orderstatus" -> status))
    }
    del.foreach(model.delete)
    inserts.foreach(k => model.put(k, Orders.modelRow(Orders.order(k, model.customers))))
    MutateBatch(updates, del, inserts)
  }

  /** 20 counter increments on live rows, applied to the model. */
  def increments(): Seq[(Long, Long)] = {
    val incs = distinctLive(20).map(k => k -> (1L + rnd.nextInt(5)))
    incs.foreach { case (k, d) =>
      val cur = model.rows(k).getOrElse("c:cnt", 0L).asInstanceOf[Long]
      model.put(k, Map("c:cnt" -> (cur + d)))
    }
    incs
  }

  /** 10 checkAndMutate checks on o_orderstatus, half of them stale;
    * accepted ones are applied to the model. */
  def checks(round: Int): Seq[CheckOp] = {
    val cs = distinctLive(10).zipWithIndex.map { case (k, i) =>
      val cur = model.rows(k)("o:o_orderstatus").asInstanceOf[String]
      CheckOp(k, if (i % 2 == 0) cur else cur + "?", s"9-CHECKED-$round")
    }
    cs.filter(c => !c.expected.endsWith("?"))
      .foreach(c => model.put(c.key, Map("o:o_orderpriority" -> c.newPriority)))
    cs
  }

  def reads(): ReadOps = {
    val ks = model.nextKey - 1
    ReadOps(liveKey(), Seq.fill(20)(1 + rnd.nextLong(ks)).distinct.sorted,
      1 + rnd.nextLong(math.max(1, ks - 100)),
      Seq.fill(2)(1 + rnd.nextLong(model.customers)).distinct.sorted,
      Seq.fill(10)(1 + rnd.nextLong(ks)).distinct.sorted,
      1 + rnd.nextLong(math.max(1, ks - 1000)))
  }
}
