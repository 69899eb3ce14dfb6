package graft.read

import graft.{Graft, SparkSpec}
import graft.catalog.{Catalog, FamilyDescriptor, TableDescriptor}
import graft.core.{Bytes, Cell, Salt}
import graft.write.{Delete, Mutations, Put}
import java.nio.file.Files
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** Keyed reads ([[ReadView.keyed]]) and the driver-side read-modify-write
  * commits built on them must answer exactly what the distributed paths
  * answer, fall back to those paths above the key cap, and cost the
  * pinned number of Spark jobs. */
class KeyedReadSpec extends SparkSpec {

  private def b(s: String) = Bytes.toBytes(s)
  private val MaxKeys = "spark.graft.runtimeFilter.maxKeys"
  private val SplitBytes = "spark.sql.files.maxPartitionBytes"

  private def withConf[T](k: String, v: String)(f: => T): T = {
    val prev = spark.conf.getOption(k)
    spark.conf.set(k, v)
    try f finally prev.fold(spark.conf.unset(k))(spark.conf.set(k, _))
  }

  /** Random cells over families `a` and `b`: puts whose values are 3, 8
    * or 10 bytes, every tombstone kind, and (coords, ts) ties broken by
    * seq, over a small key pool so versions and masks overlap. */
  private def randomCells(rnd: scala.util.Random, n: Int): Seq[Cell] =
    (0 until n).map { i =>
      val row = b(f"k${rnd.nextInt(30)}%02d")
      val fam = if (rnd.nextBoolean()) "a" else "b"
      val q = b(s"q${rnd.nextInt(3)}")
      val ts = 1L + rnd.nextInt(12)
      val seq = rnd.nextInt(3).toLong
      rnd.nextInt(12) match {
        case 0 => Cell.delete(row, fam, q, ts, seq)
        case 1 => Cell.deleteColumn(row, fam, q, ts, seq)
        case 2 => Cell.deleteFamily(row, fam, ts, seq)
        case k => Cell.put(row, fam, q, ts,
          if (k % 3 == 0) b(s"v$i") else if (k % 3 == 1) Bytes.toBytes(i.toLong)
          else Bytes.toBytes(i.toLong) ++ b("xy"), seq)
      }
    }

  private def parquet(cs: Seq[Cell], salt: Int = 0): DataFrame = {
    val dir = Files.createTempDirectory("graft-keyed").toString + "/cells"
    val df = cells(cs).toDF()
    (if (salt > 0) Salt.saltCells(df, salt) else df).write.parquet(dir)
    spark.read.schema(Cell.schema).parquet(dir)
  }

  private def rowsOf(df: DataFrame): Set[Seq[Any]] =
    df.collect().map(_.toSeq.map {
      case a: Array[Byte] => a.toSeq
      case x => x
    }).toSet

  private def hasExchange(df: DataFrame): Boolean =
    df.queryExecution.executedPlan.toString.contains("Exchange")

  private val views = Seq(
    ReadView(),
    ReadView(maxVersions = 3, familyMaxVersions = Map("a" -> 1, "b" -> 2),
      ttlMs = Some(8L), now = 14L),
    ReadView(maxVersions = Int.MaxValue, familyTtlMs = Map("b" -> 5L),
      now = 12L, timeRange = Some((2L, 12L))))

  test("keyed Resolve equals the distributed one, on both sides of the size gate") {
    val rnd = new scala.util.Random(7)
    (0 until 3).foreach { round =>
      val all = parquet(randomCells(rnd, 400))
      val keys = (0 until 1 + rnd.nextInt(8)).map(_ => b(f"k${rnd.nextInt(32)}%02d"))
      views.foreach { v =>
        val want = rowsOf(Resolve(all, v).filter(col("row").isin(keys: _*)))
        val small = Resolve(ScanExec.keyScope(all, keys), v.copy(keyed = true))
        assert(!hasExchange(small), small.queryExecution.executedPlan)
        assert(rowsOf(small) == want, s"round $round, $v")
        withConf(SplitBytes, "1024") {
          val large = Resolve(ScanExec.keyScope(all, keys), v.copy(keyed = true))
          assert(hasExchange(large), large.queryExecution.executedPlan)
          assert(rowsOf(large) == want, s"round $round, $v, exchange")
        }
      }
    }
  }

  test("keyed Resolve over salted keys equals the distributed one") {
    val rnd = new scala.util.Random(11)
    val salted = parquet(randomCells(rnd, 300), salt = 4)
    val keys = (0 until 5).map(_ => b(f"k${rnd.nextInt(32)}%02d"))
    views.foreach { v =>
      val want = rowsOf(Resolve(Salt.stripCells(salted), v)
        .filter(col("row").isin(keys: _*)))
      val keyed = Resolve(Salt.scopeKeys(salted, 4, keys), v.copy(keyed = true))
      assert(!hasExchange(keyed), keyed.queryExecution.executedPlan)
      assert(rowsOf(keyed) == want, v)
    }
  }

  /** A random increment batch over the pool: duplicate keys, null
    * deltas, absent rows and columns. */
  private def increments(rnd: scala.util.Random, n: Int) = {
    import spark.implicits._
    (0 until n).map { _ =>
      (b(f"k${rnd.nextInt(34)}%02d"), if (rnd.nextBoolean()) "a" else "b",
        b(s"q${rnd.nextInt(4)}"),
        if (rnd.nextInt(5) == 0) None else Some(rnd.nextInt(100).toLong - 50))
    }.toDF("row", "family", "qualifier", "delta")
  }

  test("driver-side increment and checkAndMutate equal the DataFrame path") {
    import spark.implicits._
    val rnd = new scala.util.Random(5)
    (0 until 3).foreach { round =>
      val table = parquet(randomCells(rnd, 300))
      val incs = increments(rnd, 12)
      val keyed = Mutations.increment(table, incs, 99L, 7L)
      assert(Catalog.driverResident(keyed).isDefined,
        keyed.queryExecution.optimizedPlan)
      assert(rowsOf(keyed) ==
        rowsOf(Mutations.increment(table, incs.repartition(2), 99L, 7L)),
        s"increment, round $round")
      // checks against current values, stale values, null (absent) and
      // a duplicate row whose second check decides
      val current = Resolve(table).collect()
      val checks = (0 until 10).map { i =>
        val c = current(rnd.nextInt(current.length))
        val row = c.getAs[Array[Byte]]("row")
        val q = c.getAs[Array[Byte]]("qualifier")
        val fam = c.getAs[String]("family")
        i % 4 match {
          case 0 => (row, fam, q, c.getAs[Array[Byte]]("value"))
          case 1 => (row, fam, q, b("stale"))
          case 2 => (row, fam, b("absent"), null: Array[Byte])
          case _ => (b(f"k${rnd.nextInt(34)}%02d"), fam, q, null: Array[Byte])
        }
      } :+ ((b("k00"), "a", b("q0"), b("never")))
      val cdf = checks.toDF("row", "family", "qualifier", "expected")
      val batch = Mutations.toDF(spark, checks.map(c =>
        Put(c._1).add("a", b("w"), 50L, b("ok"))) :+
        Put(b("k00")).add("a", b("w"), 50L, b("dup")), 50L)
      val keyedAccepted = Mutations.checkAndMutate(table, cdf, batch)
      assert(Catalog.driverResident(keyedAccepted).isDefined)
      assert(rowsOf(keyedAccepted) ==
        rowsOf(Mutations.checkAndMutate(table, cdf.repartition(2), batch)),
        s"checkAndMutate, round $round")
    }
  }

  test("a key set one over the cap takes the distributed path, same rows") {
    val g = Graft(spark, Files.createTempDirectory("graft-keyed-cap").toString)
    g.createTable(TableDescriptor("t", Seq(FamilyDescriptor("o"),
      FamilyDescriptor("c", maxVersions = 1)), splitKeys = 2), 1L)
    val t = g.table("t")
    t.put((0 until 40).map(k => Put(b(f"r$k%03d"))
      .add("o", b("k"), b(s"c${k % 3}")).add("c", b("n"), Bytes.toBytes(k.toLong))), 2L)
    g.createIndex("t", "o", b("k"), 3L)
    t.delete(Seq(Delete(b("r001")).deleteFamily("o")), 4L)
    val keys = (0 until 5).map(k => b(f"r${k * 7}%03d"))
    val under = rowsOf(t.multiGet(keys))
    val lookup = rowsOf(t.indexLookup("o", b("k"), Seq(b("c1"))))
    withConf(MaxKeys, "4") {
      val over = t.multiGet(keys)
      assert(over.queryExecution.executedPlan.toString.contains("LeftSemi"))
      assert(rowsOf(over) == under)
      assert(rowsOf(t.indexLookup("o", b("k"), Seq(b("c1")))) == lookup)
      import spark.implicits._
      val incs = keys.map(k => (k, "c", b("n"), 2L)).toDF("row", "family", "qualifier", "delta")
      assert(rowsOf(Mutations.increment(t.logicalCells, incs, 9L)) ==
        withConf(MaxKeys, "5")(rowsOf(Mutations.increment(t.logicalCells, incs, 9L))))
    }
  }

  test("job counts: get 1, multiGet 1, indexLookup <= 4, increment 2, " +
    "checkAndMutate 2, an unindexed toDF(names) put 1") {
    import spark.implicits._
    val g = Graft(spark, Files.createTempDirectory("graft-keyed-jobs").toString)
    g.createTable(TableDescriptor("t", Seq(FamilyDescriptor("o", maxVersions = 3),
      FamilyDescriptor("c", maxVersions = 1)), splitKeys = 4), 1L)
    val t = g.table("t")
    t.put((0 until 200).map(k => Put(b(f"r$k%04d"))
      .add("o", b("k"), b(s"c${k % 7}")).add("o", b("v"), b(s"v$k"))), 2L)
    g.createIndex("t", "o", b("k"), 3L)
    // a tombstone in the table: no read may probe for it
    t.delete(Seq(Delete(b("r0001")).deleteFamily("o")), 4L)
    assert(jobsOf(t.get(Get(b("r0002"))).collect()) == 1)
    assert(jobsOf(t.multiGet(Seq(b("r0003"), b("r0009"), b("r0150"))).collect()) == 1)
    assert(jobsOf(t.indexLookup("o", b("k"), Seq(b("c3"))).collect()) <= 4)
    assert(t.indexLookup("o", b("k"), Seq(b("c3"))).collect()
      .map(r => Bytes.toString(r.getAs[Array[Byte]]("row"))).toSet ==
      (0 until 200).filter(_ % 7 == 3).map(k => f"r$k%04d").toSet)
    val incs = Seq((b("r0002"), "c", b("n"), 3L), (b("r0003"), "c", b("n"), 4L))
      .toDF("row", "family", "qualifier", "delta")
    assert(jobsOf(t.increment(incs, 5L)) == 2)
    val checks = Seq((b("r0004"), "o", b("v"), b("v4")), (b("r0005"), "o", b("v"), b("no")))
      .toDF("row", "family", "qualifier", "expected")
    assert(jobsOf(t.checkAndMutate(checks, Mutations.toDF(spark,
      Seq(Put(b("r0004")).add("o", b("p"), b("x")),
        Put(b("r0005")).add("o", b("p"), b("y"))), 6L), 6L)) == 2)
    assert(t.multiGet(Seq(b("r0002"), b("r0004"), b("r0005"))).collect()
      .map(r => (Bytes.toString(r.getAs[Array[Byte]]("row")),
        Bytes.toString(r.getAs[Array[Byte]]("qualifier")))).toSet
      .filter(r => r._2 == "n" || r._2 == "p") == Set(("r0002", "n"), ("r0004", "p")))
    // an unindexed table: a Seq(...).toDF(names) batch is driver-resident
    // (the first commit of a table computes its full stats; the second
    // is measured)
    g.createTable(TableDescriptor("u", Seq(FamilyDescriptor("o")), splitKeys = 4), 7L)
    def named(r: String) = Seq((b(r), "o", b("q"), 8L, graft.core.CellKind.Put, b("v"), 0L))
      .toDF("row", "family", "qualifier", "ts", "kind", "value", "seq")
    g.table("u").mutate(named("x0"), 8L)
    assert(jobsOf(g.table("u").mutate(named("x1"), 9L)) == 1)
    assert(g.table("u").multiGet(Seq(b("x0"), b("x1"))).count() == 2L)
  }
}
