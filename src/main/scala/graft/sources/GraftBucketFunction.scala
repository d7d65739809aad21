package graft.sources

import org.apache.spark.sql.connector.catalog.functions.{BoundFunction, ScalarFunction, UnboundFunction}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.hash.Murmur3_x86_32

/** The V2 `bucket` function [[GraftLakeCatalog]] exposes as a
  * FunctionCatalog entry, so Spark's storage-partitioned-join planner
  * can RESOLVE the `bucket(n, col)` transform two bucketed lake tables
  * report ([[GraftDvBatchScan.outputPartitioning]]) — the same
  * mechanism Iceberg uses for its system functions. The function IS
  * the write-side routing function ([[LakeTable.createBucketed]]):
  * `pmod(murmur3_seed42(value), n)`, hashing the column's NATIVE type
  * exactly as Spark's `hash()` does — one contract shared by the
  * writer, the manifest pruner ([[LakeTable.bucketIdOfLiteral]]) and
  * the planner, which is what makes the co-partitioning claim true. */
private[sources] object GraftBucketFunction extends UnboundFunction {
  override def name(): String = "bucket"
  override def description(): String =
    "bucket(n, col): pmod(murmur3(col), n) — graft lake bucket transform"

  override def bind(inputType: StructType): BoundFunction = {
    require(inputType.length == 2,
      s"bucket takes (numBuckets INT, value), got ${inputType.length} args")
    val vt = inputType.fields(1).dataType
    vt match {
      case ByteType | ShortType | IntegerType | LongType | StringType =>
        GraftBucketBound(vt)
      case t => throw new UnsupportedOperationException(
        s"bucket: unsupported value type ${t.simpleString} — " +
          "integral/string keys only")
    }
  }
}

private[sources] final case class GraftBucketBound(vt: DataType)
    extends ScalarFunction[Integer] {
  override def inputTypes(): Array[DataType] = Array(IntegerType, vt)
  override def resultType(): DataType = IntegerType
  override def name(): String = "bucket"
  /** SPJ compatibility is decided by canonicalName equality — one name
    * per value-type family keeps both sides of an equal-width join
    * compatible. */
  override def canonicalName(): String = s"graft.bucket(${vt.simpleString})"
  override def isResultNullable: Boolean = false

  override def produceResult(input: InternalRow): Integer = {
    val n = input.getInt(0)
    val h = vt match {
      case LongType    => Murmur3_x86_32.hashLong(input.getLong(1), 42)
      case IntegerType => Murmur3_x86_32.hashInt(input.getInt(1), 42)
      case ShortType   => Murmur3_x86_32.hashInt(input.getShort(1).toInt, 42)
      case ByteType    => Murmur3_x86_32.hashInt(input.getByte(1).toInt, 42)
      case StringType =>
        val u = input.getUTF8String(1)
        Murmur3_x86_32.hashUnsafeBytes(
          u.getBaseObject, u.getBaseOffset, u.numBytes(), 42)
      case t => throw new IllegalStateException(s"unreachable: $t")
    }
    ((h % n) + n) % n
  }
}
