package graftbench

import java.math.{MathContext, RoundingMode}
import java.security.MessageDigest
import java.util

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.SpecializedGetters
import org.apache.spark.sql.connector.catalog.{SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** Row count plus an order-insensitive hash of a result: the sum, modulo
  * 2^64, of the first 8 bytes (big-endian) of the MD5 of each row's
  * canonical text. `reference.py` computes the same value from DuckDB. */
final case class Fingerprint(rows: Long, hash: Long) {
  override def toString: String = s"$rows/${java.lang.Long.toUnsignedString(hash)}"
}

/** Canonical text of one value, identical to `reference.py`'s `canon`:
  * integers exact, other numbers rounded to 12 significant digits,
  * timestamps as epoch microseconds, dates as epoch days, binary as hex,
  * NULL as `\N`. Columns are taken in name order. */
object Canon {
  private val mc = new MathContext(12, RoundingMode.HALF_EVEN)

  def number(d: java.math.BigDecimal): String =
    d.round(mc).stripTrailingZeros().toPlainString

  def value(g: SpecializedGetters, i: Int, t: DataType): String =
    if (g.isNullAt(i)) "\\N"
    else t match {
      case BooleanType => g.getBoolean(i).toString
      case ByteType => g.getByte(i).toString
      case ShortType => g.getShort(i).toString
      case IntegerType | DateType => g.getInt(i).toString
      case LongType | TimestampType | TimestampNTZType => g.getLong(i).toString
      case FloatType => number(new java.math.BigDecimal(g.getFloat(i).toDouble))
      case DoubleType => number(new java.math.BigDecimal(g.getDouble(i)))
      case d: DecimalType => number(g.getDecimal(i, d.precision, d.scale).toJavaBigDecimal)
      case StringType => g.getUTF8String(i).toString
      case BinaryType => g.getBinary(i).map("%02x".format(_)).mkString
      case ArrayType(et, _) =>
        val a = g.getArray(i)
        (0 until a.numElements()).map(j => value(a, j, et)).mkString("[", ",", "]")
      case other => throw new IllegalArgumentException(s"no canonical form for $other")
    }

  /** Row hasher for one schema (columns in name order). */
  final class Hasher(schema: StructType) {
    private val order = schema.fields.indices.sortBy(schema.fields(_).name)
    private val md5 = MessageDigest.getInstance("MD5")
    def apply(row: InternalRow): Long = {
      val text = order.map(i => value(row, i, schema.fields(i).dataType)).mkString("|")
      val d = md5.digest(text.getBytes("UTF-8"))
      var h = 0L
      var k = 0
      while (k < 8) { h = (h << 8) | (d(k) & 0xff); k += 1 }
      h
    }
  }
}

/** A write sink that behaves like Spark's `noop` sink (the full plan runs,
  * nothing is stored) but fingerprints every row it receives. Use:
  * `df.write.format(classOf[FpSink].getName).option("op", id).mode("overwrite").save()`,
  * then `FpSink.take(id)`. */
class FpSink extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = new StructType()
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table = FpTable
}

object FpSink {
  private val results = new java.util.concurrent.ConcurrentHashMap[String, Fingerprint]()
  def take(op: String): Option[Fingerprint] = Option(results.remove(op))
  private[graftbench] def put(op: String, fp: Fingerprint): Unit = results.put(op, fp)
}

object FpTable extends Table with SupportsWrite {
  override def name(): String = "fingerprint"
  override def schema(): StructType = new StructType()
  override def capabilities(): util.Set[TableCapability] = util.EnumSet.of(
    TableCapability.BATCH_WRITE, TableCapability.TRUNCATE, TableCapability.ACCEPT_ANY_SCHEMA)
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder with SupportsTruncate {
      override def truncate(): WriteBuilder = this
      override def build(): Write = new Write {
        override def toBatch: BatchWrite = new FpBatchWrite(info.options.get("op"), info.schema)
      }
    }
}

final case class FpMessage(rows: Long, hash: Long) extends WriterCommitMessage

final class FpBatchWrite(op: String, schema: StructType) extends BatchWrite {
  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    new FpWriterFactory(schema)
  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val ms = messages.collect { case m: FpMessage => m }
    FpSink.put(op, Fingerprint(ms.map(_.rows).sum, ms.map(_.hash).sum))
  }
  override def abort(messages: Array[WriterCommitMessage]): Unit = ()
}

final class FpWriterFactory(schema: StructType) extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new DataWriter[InternalRow] {
      private val hasher = new Canon.Hasher(schema)
      private var rows = 0L
      private var hash = 0L
      override def write(record: InternalRow): Unit = { rows += 1; hash += hasher(record) }
      override def commit(): WriterCommitMessage = FpMessage(rows, hash)
      override def abort(): Unit = ()
      override def close(): Unit = ()
    }
}
