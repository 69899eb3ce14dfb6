package graft.catalog

import graft.{Graft, SparkSpec}
import graft.core.{Bytes, Cell, CellKind, StoreStats}
import graft.write.Mutations
import java.nio.file.Files
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{SortExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.functions._

/** The commit's write-side facts come from the write job itself
  * (`Dataset.observe` in `Catalog.writeCells`): the per-leaf
  * [[StoreStats]] and the [[ManifestStats]] roll-forward must equal what
  * separate jobs over the written leaves compute (the reference
  * computation is kept here), the committed files must stay sorted, and
  * a small commit must cost the pinned number of jobs. */
class WriteStatsSpec extends SparkSpec {

  private def b(s: String) = Bytes.toBytes(s)
  private val conf = spark.sparkContext.hadoopConfiguration

  private def freshGraft(tag: String): Graft =
    Graft(spark, Files.createTempDirectory(s"graft-wstats-$tag").toString)

  /** `n` random cells over `families`: puts and every tombstone kind,
    * rows drawn from a small key pool so versions and masks overlap. */
  private def randomCells(rnd: scala.util.Random, families: Seq[String],
      n: Int, baseSeq: Long): Seq[Cell] =
    (0 until n).map { i =>
      val row = b(f"k${rnd.nextInt(9)}%02d-${rnd.nextInt(40)}%03d")
      val fam = families(rnd.nextInt(families.size))
      val q = b(s"q${rnd.nextInt(4)}")
      val ts = 1L + rnd.nextInt(50)
      val seq = baseSeq + i
      rnd.nextInt(10) match {
        case 0 => Cell.delete(row, fam, q, ts, seq)
        case 1 => Cell.deleteColumn(row, fam, q, ts, seq)
        case 2 => Cell.deleteFamily(row, fam, ts, seq)
        case _ => Cell.put(row, fam, q, ts, b(s"v$i"), seq)
      }
    }

  /** The driver-built batch (a LocalRelation — the single-partition
    * write) or the same cells behind a shuffle (the range write). */
  private def batch(cs: Seq[Cell], local: Boolean): DataFrame =
    if (local) cells(cs).toDF() else cells(cs).toDF().repartition(3)

  // ---- the reference: the separate jobs the commit used to run

  /** Raw cells, min row, max row, puts over `dirs` (the old `statAgg`). */
  private def refAgg(g: Graft, dirs: Seq[String])
      : (Long, Option[Seq[Byte]], Option[Seq[Byte]], Long) = {
    if (dirs.isEmpty) return (0L, None, None, 0L)
    val r = g.catalog.readLeafDirs(dirs).agg(count(lit(1)), min(col("row")),
      max(col("row")),
      sum(when(col("kind") === CellKind.Put, 1L).otherwise(0L))).collect()(0)
    def key(i: Int) = Option(r.getAs[Array[Byte]](i)).map(_.toSeq)
    (r.getLong(0), key(1), key(2), Option(r.get(3)).fold(0L)(_ => r.getLong(3)))
  }

  /** Per leaf: (tombstones, rows) by the old per-family count job. */
  private def refLeafCounts(g: Graft, leaf: String): (Long, Long) = {
    val r = g.catalog.readLeafDirs(Seq(leaf)).agg(
      count(when(col("kind") =!= CellKind.Put, lit(1))), count(lit(1)))
      .collect()(0)
    (r.getLong(0), r.getLong(1))
  }

  private def recorded(leaf: String): (Option[Long], Option[Long]) =
    (StoreStats.tombstones(conf, new Path(leaf)), StoreStats.rows(conf, new Path(leaf)))

  private def span(st: ManifestStats) =
    (st.minKey.map(_.toSeq), st.maxKey.map(_.toSeq))

  private def minKey(a: Option[Seq[Byte]], c: Option[Seq[Byte]]) =
    (a ++ c).reduceOption((x, y) =>
      if (Bytes.compareTo(x.toArray, y.toArray) <= 0) x else y)
  private def maxKey(a: Option[Seq[Byte]], c: Option[Seq[Byte]]) =
    (a ++ c).reduceOption((x, y) =>
      if (Bytes.compareTo(x.toArray, y.toArray) >= 0) x else y)

  /** Append `df` and check the observed facts against the reference. */
  private def appendAndCheck(g: Graft, t: String, df: DataFrame, ts: Long,
      declared: Set[String]): Unit = {
    val before = g.catalog.currentManifest(t)
    g.catalog.append(t, df, ts)
    val after = g.catalog.currentManifest(t)
    val added = after.dataDirs.filterNot(before.dataDirs.toSet)
    val p = before.stats.get
    val st = after.stats.get
    val (n, lo, hi, puts) = refAgg(g, added)
    if (p.rows > 0) {
      assert(st.rows == p.rows + n, s"$t rows")
      assert(st.resolvedRows == p.resolvedRows + puts, s"$t resolvedRows")
      assert(st.unseenRows == p.unseenRows + n, s"$t unseenRows")
      assert(span(st) == ((minKey(p.minKey.map(_.toSeq), lo),
        maxKey(p.maxKey.map(_.toSeq), hi))), s"$t span")
    } else assert(st.rows == n, s"$t first batch rows")
    added.foreach { leaf =>
      val fam = new Path(leaf).getName.stripPrefix(Catalog.FamDirPrefix)
      val (tomb, rows) = refLeafCounts(g, leaf)
      if (declared(fam)) assert(recorded(leaf) == ((Some(tomb), Some(rows))), leaf)
      else assert(recorded(leaf) == ((None, None)), leaf)
    }
  }

  test("observed _GRAFT_STATS and ManifestStats equal the separate-job " +
      "reference over random batches") {
    val fams = Seq("a", "b")
    val tables = Seq(
      // a compression + bloom family: writeCells runs two writes
      TableDescriptor("groups", Seq(FamilyDescriptor("a"), FamilyDescriptor("b"),
        FamilyDescriptor("z", compression = Some("gzip"),
          bloomFilter = BloomType.Row)), splitKeys = 3),
      TableDescriptor("salted", fams.map(FamilyDescriptor(_)), splitKeys = 3,
        saltBuckets = 4),
      TableDescriptor("split", fams.map(FamilyDescriptor(_)), splitKeys = 3,
        splitBoundaries = Seq(b("k03"), b("k06"))))
    val g = freshGraft("equiv")
    val rnd = new scala.util.Random(7)
    tables.foreach { d =>
      g.createTable(d, 1L)
      val declared = d.families.map(_.name).toSet
      // every declared family plus one undeclared (stays UNKNOWN)
      val writeFams = d.families.map(_.name) :+ "x"
      (1 to 4).foreach { i =>
        val cs = randomCells(rnd, writeFams, 60 + rnd.nextInt(60), i * 1000L)
        appendAndCheck(g, d.name, batch(cs, local = i % 2 == 0), 10L + i, declared)
      }
      // an empty batch commits no leaf and leaves the stats as they were
      val before = g.catalog.currentManifest(d.name)
      g.catalog.append(d.name, Mutations.toDF(spark, Nil, 20L), 20L)
      val after = g.catalog.currentManifest(d.name)
      assert(after.dataDirs == before.dataDirs)
      assert(after.stats.map(_.rows) == before.stats.map(_.rows))
      // the partial-compaction roll-forward stays exact
      val doomed = after.dataDirs.takeRight(4)
      g.catalog.replaceDirs(d.name, doomed, g.catalog.readLeafDirs(doomed), 21L)
      val m = g.catalog.currentManifest(d.name)
      assert(m.stats.get.rows == refAgg(g, m.dataDirs)._1, d.name)
      m.dataDirs.filterNot(after.dataDirs.toSet).foreach { leaf =>
        val fam = new Path(leaf).getName.stripPrefix(Catalog.FamDirPrefix)
        if (declared(fam)) {
          val (tomb, rows) = refLeafCounts(g, leaf)
          assert(recorded(leaf) == ((Some(tomb), Some(rows))), leaf)
        }
      }
    }
  }

  test("replaceDirs sums recorded rows, and counts leaves without them") {
    val g = freshGraft("fallback")
    g.createTable(TableDescriptor("t", Seq(FamilyDescriptor("a"))), 1L)
    val rnd = new scala.util.Random(11)
    (1 to 4).foreach(i => g.catalog.append("t",
      batch(randomCells(rnd, Seq("a"), 50, i * 1000L), local = true), 10L + i))
    def truth(): Long = refAgg(g, g.catalog.currentManifest("t").dataDirs)._1
    def fold(n: Int): Unit = {
      val doomed = g.catalog.currentManifest("t").dataDirs.takeRight(n)
      g.catalog.replaceDirs("t", doomed, g.catalog.readLeafDirs(doomed), 30L)
    }
    val fs = new Path(g.catalog.currentManifest("t").dataDirs.head)
      .getFileSystem(conf)

    // recorded rows are trusted: a leaf whose stats overstate its rows
    // by 5 shifts the rolled-forward total by exactly 5 — no count ran
    val lying = g.catalog.currentManifest("t").dataDirs.last
    val (tomb, rows) = refLeafCounts(g, lying)
    StoreStats.write(fs, new Path(lying), tomb, Some(rows + 5))
    fold(2)
    assert(g.catalog.currentManifest("t").stats.get.rows == truth() - 5)

    // a leaf whose stats lack `rows` (written before row counts were
    // recorded) makes the roll-forward count the removed leaves
    g.catalog.analyzeTable("t", 31L)
    (5 to 6).foreach(i => g.catalog.append("t",
      batch(randomCells(rnd, Seq("a"), 50, i * 1000L), local = true), 40L + i))
    val legacy = g.catalog.currentManifest("t").dataDirs.last
    StoreStats.write(fs, new Path(legacy), refLeafCounts(g, legacy)._1)
    assert(StoreStats.rows(conf, new Path(legacy)).isEmpty)
    assert(StoreStats.tombstones(conf, new Path(legacy)).isDefined)
    fold(2)
    assert(g.catalog.currentManifest("t").stats.get.rows == truth())

    // a garbage stats file reads as unknown, and is counted too
    g.catalog.append("t",
      batch(randomCells(rnd, Seq("a"), 50, 9000L), local = true), 50L)
    val garbled = g.catalog.currentManifest("t").dataDirs.last
    val os = fs.create(new Path(garbled, StoreStats.FileName), true)
    os.write("not json".getBytes("UTF-8")); os.close()
    assert(recorded(garbled) == ((None, None)))
    fold(2)
    assert(g.catalog.currentManifest("t").stats.get.rows == truth())
  }

  /** Write plans (those holding a `DataWritingCommandExec`) executed by
    * `f`, from a query-execution listener. */
  private def writePlansOf(f: => Unit): Seq[SparkPlan] = {
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]
    val l = new org.apache.spark.sql.util.QueryExecutionListener {
      def onSuccess(fn: String, qe: org.apache.spark.sql.execution.QueryExecution,
          d: Long): Unit = plans.add(qe.executedPlan): Unit
      def onFailure(fn: String, qe: org.apache.spark.sql.execution.QueryExecution,
          e: Exception): Unit = ()
    }
    spark.listenerManager.register(l)
    try { f; settle(() => plans.size) }
    finally spark.listenerManager.unregister(l)
    import scala.jdk.CollectionConverters._
    plans.asScala.toSeq.filter(p => nodes(p).exists(_.isInstanceOf[DataWritingCommandExec]))
  }

  /** Every physical node, through adaptive plans and query stages. */
  private def nodes(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => nodes(q.plan)
    case _ => p.children.flatMap(nodes)
  })

  /** The listener bus is asynchronous: wait until `n` stops moving. */
  private def settle(n: () => Int): Unit = {
    var last = -1
    var stable = 0
    while (stable < 3) {
      Thread.sleep(100)
      val c = n()
      if (c == last) stable += 1 else { stable = 0; last = c }
    }
  }

  test("committed files stay sorted after the observe and on the " +
      "single-partition path; the writer adds no sort") {
    val g = freshGraft("layout")
    g.createTable(TableDescriptor("t",
      Seq(FamilyDescriptor("a"), FamilyDescriptor("b"), FamilyDescriptor("c")),
      splitKeys = 4), 1L)
    val rnd = new scala.util.Random(3)
    val fs = new Path(g.catalog.tablePath("t")).getFileSystem(conf)
    def files(leaf: String): Seq[String] = {
      val it = fs.listFiles(new Path(leaf), true)
      Iterator.continually(it).takeWhile(_.hasNext).map(_.next().getPath)
        .filter(_.getName.endsWith(".parquet")).map(_.toString).toSeq
    }
    Seq(false, true).zipWithIndex.foreach { case (local, i) =>
      val before = g.catalog.currentManifest("t").dataDirs.toSet
      val plans = writePlansOf(g.catalog.append("t",
        batch(randomCells(rnd, Seq("a", "b", "c"), 3000, i * 10000L), local),
        10L + i))
      assert(plans.nonEmpty)
      plans.foreach { p =>
        val sorts = nodes(p).collect { case s: SortExec => s }
        // the one sort is graft's own, leading with the partition column
        // and carrying the full cell order
        assert(sorts.size == 1, p.treeString)
        assert(sorts.head.sortOrder.map(_.child.references.head.name).take(2) ==
          Seq("_fam", "row"), p.treeString)
      }
      val leaves = g.catalog.currentManifest("t").dataDirs.filterNot(before)
      val perLeaf = leaves.map(files)
      // the range write spans several tasks; the small one writes one file
      if (local) assert(perLeaf.forall(_.size == 1), perLeaf)
      else assert(perLeaf.exists(_.size >= 2), perLeaf)
      perLeaf.flatten.foreach { f =>
        val rows = spark.read.schema(Cell.schema).parquet(f).collect().toSeq
        val keys = rows.map(r => (r.getAs[Array[Byte]]("row"), r.getString(1),
          r.getAs[Array[Byte]]("qualifier"), r.getLong(3), r.getLong(6)))
        keys.sliding(2).foreach {
          case Seq(x, y) =>
            val c = Seq(Bytes.compareTo(x._1, y._1), x._2.compareTo(y._2),
              Bytes.compareTo(x._3, y._3), java.lang.Long.compare(y._4, x._4),
              java.lang.Long.compare(y._5, x._5)).find(_ != 0).getOrElse(0)
            assert(c <= 0, s"$f out of order")
          case _ => ()
        }
      }
    }
  }

  /** Jobs `f` submits from this thread's job group. */
  private def jobsOf(f: => Unit): Int = {
    val group = s"writestats-${java.util.UUID.randomUUID()}"
    val n = new java.util.concurrent.atomic.AtomicInteger
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (group == js.properties.getProperty("spark.jobGroup.id"))
          n.incrementAndGet(): Unit
    }
    spark.sparkContext.addSparkListener(l)
    spark.sparkContext.setJobGroup(group, "WriteStatsSpec.jobsOf")
    try { f; settle(() => n.get) }
    finally {
      spark.sparkContext.clearJobGroup()
      spark.sparkContext.removeSparkListener(l)
    }
    n.get
  }

  test("job counts: a small indexed commit, an increment, a minor compaction") {
    import graft.write.{Delete, Put}
    val g = freshGraft("jobs")
    g.createTable(TableDescriptor("t",
      Seq(FamilyDescriptor("o"), FamilyDescriptor("c", maxVersions = 1)),
      splitKeys = 4), 1L)
    val t = g.table("t")
    t.put((0 until 200).map(k => Put(b(f"r$k%04d"))
      .add("o", b("k"), b(s"c${k % 7}")).add("o", b("v"), b(s"v$k"))), 2L)
    g.createIndex("t", "o", b("k"), 3L)
    // a tombstone in the table: the current-value read must not probe
    t.delete(Seq(Delete(b("r0001")).deleteFamily("o")), 4L)
    def small(ts: Long) = Seq(Put(b(f"r${ts % 200}%04d"))
      .add("o", b("k"), b(s"c$ts")).add("o", b("v"), b(s"w$ts")))
    // checkpoint the batch, write the index delta, write the batch
    assert(jobsOf(t.put(small(5L), 5L)) == 3)
    import spark.implicits._
    val incs = Seq((b("r0002"), "c", b("n"), 3L), (b("r0003"), "c", b("n"), 4L))
      .toDF("row", "family", "qualifier", "delta")
    // the current-value query (five stage jobs: delta aggregate, key
    // broadcast, row exchange, current-value broadcast, checkpoint) and
    // the two writes; no tombstone probe
    assert(jobsOf(t.increment(incs, 6L)) == 7)
    (7L to 9L).foreach(ts => t.put(small(ts), ts))
    // sizes from the manifest, recorded row counts, one rewrite job
    var folded = Seq.empty[String]
    assert(jobsOf { folded = t.minorCompact(10L) } == 1)
    assert(folded.nonEmpty)
  }
}
