package lakebench

import scala.collection.mutable

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, XxHash64}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** One row of the `orders` table the lake workloads commit against. */
final case class Order(key: Long, cust: Long, status: String, price: Double,
                       dateUs: Long, priority: String)

object Order {
  val Cols = Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
    "o_orderdate", "o_orderpriority")
  val Schema: StructType = StructType(Seq(
    StructField("o_orderkey", LongType), StructField("o_custkey", LongType),
    StructField("o_orderstatus", StringType), StructField("o_totalprice", DoubleType),
    StructField("o_orderdate", TimestampType), StructField("o_orderpriority", StringType)))

  /** Spark's own `xxhash64(<all columns>)` (seed 42, as the SQL function),
    * evaluated on the model row, so
    * the table's `sum(xxhash64(...))` can be checked without Spark. */
  private val hashExpr = XxHash64(Schema.fields.toSeq.zipWithIndex.map { case (f, i) =>
    BoundReference(i, f.dataType, nullable = true) }, 42L)

  def hash(o: Order): Long = hashExpr.eval(InternalRow(o.key, o.cust,
    UTF8String.fromString(o.status), o.price, o.dateUs,
    UTF8String.fromString(o.priority))).asInstanceOf[Long]

  def fromRow(r: org.apache.spark.sql.Row): Order = Order(r.getLong(0), r.getLong(1),
    r.getString(2), r.getDouble(3),
    org.apache.spark.sql.catalyst.util.DateTimeUtils.fromJavaTimestamp(r.getTimestamp(4)),
    r.getString(5))

  def toRow(o: Order): org.apache.spark.sql.Row = org.apache.spark.sql.Row(o.key, o.cust,
    o.status, o.price, org.apache.spark.sql.catalyst.util.DateTimeUtils.toJavaTimestamp(o.dateUs),
    o.priority)

  /** SQL for the order-insensitive fingerprint of a frame of orders. */
  val FingerprintExprs: Seq[String] =
    Seq("count(*) AS n", s"sum(CAST(xxhash64(${Cols.mkString(", ")}) AS DECIMAL(20,0))) AS h")
  val FingerprintSql: String = FingerprintExprs.mkString(", ")
}

/** Row count plus the exact sum of row hashes: equal multisets of rows
  * give equal fingerprints whatever the row order. */
final case class Fingerprint(n: Long, h: BigInt) {
  def +(o: Order): Fingerprint = Fingerprint(n + 1, h + Order.hash(o))
  def -(o: Order): Fingerprint = Fingerprint(n - 1, h - Order.hash(o))
}

object Fingerprint {
  val Empty: Fingerprint = Fingerprint(0L, BigInt(0))
  def of(r: org.apache.spark.sql.Row): Fingerprint =
    Fingerprint(r.getLong(0), Option(r.getDecimal(1)).map(d => BigInt(d.toBigIntegerExact)).getOrElse(BigInt(0)))
}

/** The in-memory model of one table: its live rows by key and the
  * fingerprint of every committed version. */
final class TableModel(initial: Iterable[Order]) {
  val rows = mutable.TreeMap.empty[Long, Order]
  private var fp = Fingerprint.Empty
  initial.foreach(put)
  val versions = mutable.Map.empty[Int, Fingerprint]

  def fingerprint: Fingerprint = fp
  def put(o: Order): Unit = { rows.get(o.key).foreach(old => fp = fp - old); rows(o.key) = o; fp = fp + o }
  def remove(k: Long): Unit = rows.remove(k).foreach(old => fp = fp - old)
  def commit(v: Int): Unit = versions(v) = fp

  def update(p: Order => Boolean, f: Order => Order): Int = {
    val hit = rows.valuesIterator.filter(p).toSeq
    hit.foreach(o => put(f(o)))
    hit.size
  }
  def delete(p: Order => Boolean): Int = {
    val hit = rows.valuesIterator.filter(p).map(_.key).toSeq
    hit.foreach(remove)
    hit.size
  }
  def upsert(src: Seq[Order]): Int = { val n = src.count(o => rows.contains(o.key)); src.foreach(put); n }
  /** Smoke test only: make the model disagree with the table by one row. */
  def corruptOneRow(): Unit = { val o = rows.head._2; put(o.copy(price = o.price + 0.01)) }

  def range(lo: Long, hi: Long): Seq[Order] = rows.range(lo, hi + 1).values.toSeq

  /** Per-status row count and exact sum of the price cast to DECIMAL(18,2). */
  def statusTotals: Map[String, (Long, BigDecimal)] =
    rows.values.groupBy(_.status).map { case (s, os) =>
      s -> (os.size.toLong, os.map(o => BigDecimal(o.price).setScale(2, BigDecimal.RoundingMode.HALF_UP)).sum)
    }
}
