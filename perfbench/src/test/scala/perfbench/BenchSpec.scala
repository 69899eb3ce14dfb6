package perfbench

import org.scalatest.funsuite.AnyFunSuite

class BenchSpec extends AnyFunSuite {
  /** Three rounds of generated inputs, applied to a fresh model. */
  private def rounds(seed: Long): Seq[Any] = {
    val model = new MutateModel(2000, 200)
    val plan = new MutatePlan(seed, model)
    (1 to 3).flatMap(r => Seq(plan.batch(), plan.increments(), plan.checks(r), plan.reads())) :+
      model.snapshot()
  }

  test("one seed yields the same op sequence and batches, another seed a different one") {
    assert(rounds(7) == rounds(7))
    assert(rounds(7) != rounds(8))
  }

  test("a batch touches ~1 % updates, ~0.2 % deletes and ~0.5 % inserts") {
    val model = new MutateModel(5000, 500)
    val b = new MutatePlan(1, model).batch()
    assert((b.updates.size, b.deletes.size, b.inserts.size) == (50, 10, 25))
    assert(b.deletes.forall(k => !model.rows.contains(k)))
    assert(model.rows.size == 5000 - 10 + 25)
  }

  test("checkAndMutate applies only the checks whose expected value is current") {
    val model = new MutateModel(1000, 100)
    val checks = new MutatePlan(3, model).checks(1)
    val (ok, stale) = checks.partition(c => model.rows(c.key)("o:o_orderpriority") == c.newPriority)
    assert(ok.size == 5 && stale.size == 5)
  }

  test("a corrupted expectation fails the check") {
    val rows = Seq(1L, 2L, 3L).map(k => k -> Orders.modelRow(Orders.order(k, 10)))
    val expected = Orders.expectedCells(rows)
    Check.equal("intact", expected, Orders.expectedCells(rows))
    val (k, v) = expected.head
    val corrupted = expected.updated(k, v.reverse)
    intercept[Mismatch](Check.equal("corrupted value", corrupted, expected))
    intercept[Mismatch](Check.equal("missing cell", expected - k, expected))
    val row2 = rows.head._2.updated("o:o_totalprice", 0.5)
    intercept[Mismatch](Check.equal("changed field",
      Orders.expectedCells(Seq(1L -> row2)), Orders.expectedCells(rows.take(1))))
  }

  test("the tail is the highest percentile with ten samples beyond it") {
    val xs = (1 to 100).map(_.toDouble)
    assert(Stats.tail(xs) == ((90.0, 90.0)))
    assert(Stats.tail(xs.take(5)) == ((100.0, 5.0)))
    assert(Stats.median(Seq(3.0, 1.0, 2.0, 10.0)) == 2.5)
  }
}
