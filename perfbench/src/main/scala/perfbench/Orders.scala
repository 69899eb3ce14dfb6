package perfbench

import graft.core.{Bytes, CellCodec}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** One TPC-H-shaped order row. Every field is a pure function of the
  * key, so the same function is both the data generator and the
  * driver-side model the reads are checked against. */
final case class Order(o_orderkey: Long, o_custkey: Long,
    o_orderstatus: String, o_totalprice: Double, o_orderdate: String,
    o_orderpriority: String, o_clerk: String, o_shippriority: Long,
    o_comment: String)

object Orders {
  private val Words = Array("quick", "final", "ironic", "pending", "bold",
    "careful", "regular", "express", "silent", "furious", "special", "even")
  val Statuses = Array("F", "O", "P")
  private val Priorities = Array("1-URGENT", "2-HIGH", "3-MEDIUM",
    "4-NOT SPECIFIED", "5-LOW")

  /** splitmix64: a fixed, seedless mixing function. */
  def mix(x: Long): Long = {
    var z = x + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  private def pick(x: Long, n: Int): Int = java.lang.Math.floorMod(x, n.toLong).toInt

  /** `customers` distinct customer keys, ~rows/customers orders each. */
  def order(k: Long, customers: Long): Order = {
    val h = mix(k)
    val h2 = mix(h)
    Order(k, 1 + java.lang.Math.floorMod(h, customers),
      Statuses(pick(h2, 3)),
      java.lang.Math.floorMod(h2 >>> 7, 50000000L) / 100.0,
      f"${1992 + pick(h >>> 13, 7)}%04d-${1 + pick(h >>> 17, 12)}%02d-${1 + pick(h >>> 21, 28)}%02d",
      Priorities(pick(h >>> 25, 5)), f"Clerk#${pick(h >>> 29, 1000)}%09d",
      0L, (0 until 3 + pick(h >>> 33, 4)).map(i => Words(pick(mix(h + i), Words.length))).mkString(" "))
  }

  def range(spark: SparkSession, from: Long, until: Long, customers: Long): DataFrame = {
    import spark.implicits._
    spark.range(from, until, 1, spark.sparkContext.defaultParallelism)
      .map(k => order(k, customers)).toDF()
  }

  /** Relational rows -> cells of family `o`, keyed by o_orderkey. */
  def cells(df: DataFrame, ts: Long): DataFrame =
    CellCodec.encode(df, "o", Seq("o_orderkey"), batchTs = ts)

  val WideKey = "o_orderkey:long"
  val WideSchema = "o:o_custkey:long;o:o_totalprice:double;o:o_orderstatus:string;" +
    "o:o_orderdate:string;o:o_orderpriority:string;o:o_clerk:string;" +
    "o:o_shippriority:long;o:o_comment:string"

  /** Model row: "family:qualifier" -> typed value. */
  type ModelRow = Map[String, Any]
  def modelRow(o: Order): ModelRow = Map(
    "o:o_orderkey" -> o.o_orderkey, "o:o_custkey" -> o.o_custkey,
    "o:o_orderstatus" -> o.o_orderstatus, "o:o_totalprice" -> o.o_totalprice,
    "o:o_orderdate" -> o.o_orderdate, "o:o_orderpriority" -> o.o_orderpriority,
    "o:o_clerk" -> o.o_clerk, "o:o_shippriority" -> o.o_shippriority,
    "o:o_comment" -> o.o_comment)

  def bytesOf(v: Any): Array[Byte] = v match {
    case l: Long => Bytes.toBytes(l)
    case d: Double => Bytes.toBytes(d)
    case s: String => Bytes.toBytes(s)
    case x => throw new IllegalArgumentException(s"no cell encoding for $x")
  }
  def hex(b: Array[Byte]): String =
    if (b == null) "null" else b.map(x => f"$x%02x").mkString

  /** Expected cells of model rows, as (key, "family:qualifier") -> hex. */
  def expectedCells(rows: Iterable[(Long, ModelRow)]): Map[(Long, String), String] =
    rows.iterator.flatMap { case (k, r) =>
      r.iterator.map { case (fq, v) => (k, fq) -> hex(bytesOf(v)) }
    }.toMap

  /** Collected cell rows (row, family, qualifier, value, ...) in the
    * same shape. */
  def actualCells(rows: Array[Row]): Map[(Long, String), String] = {
    val out = rows.iterator.map { r =>
      val key = Bytes.toLong(r.getAs[Array[Byte]]("row"))
      val fq = r.getAs[String]("family") + ":" +
        Bytes.toString(r.getAs[Array[Byte]]("qualifier"))
      (key, fq) -> hex(r.getAs[Array[Byte]]("value"))
    }.toSeq
    val m = out.toMap
    Check.equal("one visible version per cell", out.size, m.size)
    m
  }
}
