package graftbench

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{SpecializedGetters, XXH64}
import org.apache.spark.sql.connector.catalog.{SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.Platform

/** Order-independent answer checksum: the row-multiset form of the
  * oracle compare in tools/check.py (columns ordered by name, rows
  * compared as a sorted multiset, values exact).
  *
  * Each row hashes to xxhash64 over its columns in name order; values are
  * first put into one canonical form per class so that an engine's choice
  * of int vs bigint, decimal vs double, date vs timestamp or float vs
  * double for the same value does not change the hash. The answer is the
  * pair (row count, sum of row hashes mod 2^31-1). Summing makes the
  * pair independent of row order and partitioning, and each row hash
  * reduced mod 2^31-1 keeps the sum far from Long overflow.
  *
  * The hashing is plain Scala over Spark's internal rows, run where the
  * rows are consumed: in [[ChecksumSink]] for a timed read, and in an RDD
  * pass for the references. It adds no expression to the query, so the
  * query compiles exactly the code it would compile for the `noop` sink
  * and the checksum takes no room in Spark's codegen cache. */
object Checksum {
  private val Modulus = 2147483647L
  private val Seed = 42L
  private val NullMark = 0x5bd1e995
  private val DayMicros = 86400000000L

  private def num(d: Double, seed: Long): Long =
    XXH64.hashLong(java.lang.Double.doubleToLongBits(if (d == 0.0) 0.0 else d), seed)

  private def byName(s: StructType): Seq[Int] =
    s.fields.indices.sortBy(i => (s.fields(i).name.toLowerCase, i))

  private def field(g: SpecializedGetters, i: Int, dt: DataType, seed: Long): Long =
    if (g.isNullAt(i)) XXH64.hashInt(NullMark, seed) else value(g, i, dt, seed)

  private def value(g: SpecializedGetters, i: Int, dt: DataType, seed: Long): Long = dt match {
    case ByteType => num(g.getByte(i).toDouble, seed)
    case ShortType => num(g.getShort(i).toDouble, seed)
    case IntegerType => num(g.getInt(i).toDouble, seed)
    case LongType => num(g.getLong(i).toDouble, seed)
    case FloatType => num(g.getFloat(i).toDouble, seed)
    case DoubleType => num(g.getDouble(i), seed)
    case d: DecimalType => num(g.getDecimal(i, d.precision, d.scale).toDouble, seed)
    // a date is its midnight in the session time zone, UTC
    case DateType => XXH64.hashLong(g.getInt(i) * DayMicros, seed)
    case TimestampType | TimestampNTZType => XXH64.hashLong(g.getLong(i), seed)
    case BooleanType => XXH64.hashInt(if (g.getBoolean(i)) 1 else 0, seed)
    case _: StringType => XXH64.hashUTF8String(g.getUTF8String(i), seed)
    case BinaryType =>
      val b = g.getBinary(i)
      XXH64.hashUnsafeBytes(b, Platform.BYTE_ARRAY_OFFSET, b.length, seed)
    case ArrayType(et, _) =>
      val a = g.getArray(i)
      (0 until a.numElements).foldLeft(XXH64.hashInt(a.numElements, seed))((h, j) => field(a, j, et, h))
    case s: StructType =>
      val row = g.getStruct(i, s.length)
      byName(s).foldLeft(seed)((h, j) => field(row, j, s(j).dataType, h))
    case other => throw new IllegalArgumentException(s"no checksum rule for $other")
  }

  /** Row count and hash sum of the rows of one partition. */
  final class Acc(schema: StructType) {
    private val cols = byName(schema).map(i => (i, schema(i).dataType))
    var n = 0L
    var h = 0L
    def add(row: InternalRow): Unit = {
      n += 1
      h += java.lang.Math.floorMod(cols.foldLeft(Seed) { case (s, (i, dt)) => field(row, i, dt, s) }, Modulus)
    }
  }

  /** Materialize `df` through [[ChecksumSink]] and return its checksum. */
  def write(df: DataFrame, key: String): (Long, Long) = {
    df.write.format(classOf[ChecksumSink].getName).mode("overwrite").option("key", key).save()
    ChecksumSink.take(key).getOrElse(throw new IllegalStateException(s"no checksum for $key"))
  }

  /** Checksums of many frames in one job. */
  def of(frames: Seq[(String, DataFrame)]): Map[String, (Long, Long)] =
    if (frames.isEmpty) Map.empty
    else {
      val parts = frames.map { case (k, df) =>
        val schema = df.schema
        df.queryExecution.toRdd.mapPartitions { rows =>
          val acc = new Acc(schema)
          rows.foreach(acc.add)
          Iterator((k, acc.n, acc.h))
        }
      }
      val sums = frames.head._2.sparkSession.sparkContext.union(parts).collect()
        .groupMapReduce(_._1)(p => (p._2, p._3))((a, b) => (a._1 + b._1, a._2 + b._2))
      frames.map(_._1 -> (0L, 0L)).toMap ++ sums
    }
}

/** A write sink like Spark's `noop`: it accepts any schema, supports the
  * same truncating overwrite and drops every row, but first adds the row
  * to the partition's [[Checksum.Acc]]. The committed checksum is kept
  * under the write's `key` option until [[ChecksumSink.take]]. */
final class ChecksumSink extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = new StructType()
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: java.util.Map[String, String]): Table = new ChecksumSink.Sink(properties.get("key"))
}

object ChecksumSink {
  private val results = new ConcurrentHashMap[String, (Long, Long)]()

  def take(key: String): Option[(Long, Long)] = Option(results.remove(key))

  /** The sink's table name for `key`, as the write command shows it. */
  def tableName(key: String): String = s"graftbench-checksum:$key"

  final class Sink(key: String) extends Table with SupportsWrite {
    override def name(): String = tableName(key)
    override def schema(): StructType = new StructType()
    override def capabilities(): java.util.Set[TableCapability] = java.util.EnumSet.of(
      TableCapability.BATCH_WRITE, TableCapability.TRUNCATE, TableCapability.ACCEPT_ANY_SCHEMA)
    override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
      new WriteBuilder with SupportsTruncate {
        override def truncate(): WriteBuilder = this
        override def build(): Write = new Write {
          override def toBatch: BatchWrite = new BatchWrite {
            override def createBatchWriterFactory(p: PhysicalWriteInfo): DataWriterFactory =
              new Factory(info.schema())
            override def commit(messages: Array[WriterCommitMessage]): Unit =
              results.put(key, messages.foldLeft((0L, 0L)) {
                case ((n, h), Part(a, b)) => (n + a, h + b)
                case (acc, _) => acc
              }): Unit
            override def abort(messages: Array[WriterCommitMessage]): Unit = ()
          }
        }
      }
  }

  final case class Part(n: Long, h: Long) extends WriterCommitMessage

  final class Factory(schema: StructType) extends DataWriterFactory {
    override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
      new DataWriter[InternalRow] {
        private val acc = new Checksum.Acc(schema)
        override def write(row: InternalRow): Unit = acc.add(row)
        override def commit(): WriterCommitMessage = Part(acc.n, acc.h)
        override def abort(): Unit = ()
        override def close(): Unit = ()
      }
  }
}
