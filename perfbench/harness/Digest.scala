package perfbench

import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets
import java.security.MessageDigest
import java.util
import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.connector.catalog.{SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** A write-only sink that consumes every row and column of a result, like
  * Spark's `noop` sink, and also folds each row into an order-independent
  * digest: the row count and the wrapping sum of a 64-bit hash of each
  * row's canonical text. Equal multisets of rows give equal digests, and
  * oracle.py computes the same digest over a DuckDB result, so an output
  * is checked without being written anywhere.
  *
  * Canonical text (mirrored by oracle.canonical): columns in name order,
  * joined by U+0001; null is U+0000 then N; integral numbers of any type
  * are their exact integer; other floats and decimals are the bits of the
  * double; timestamps and dates are epoch microseconds (a date equals
  * its midnight, as it does in tools/check.py's pandas comparison); arrays
  * and structs nest in [ ] and { } around U+0002-joined elements.
  *
  * {{{
  *   df.write.format(classOf[DigestSink].getName).option("token", t).mode("overwrite").save()
  *   DigestSink.take(t) // (rows, hashSum)
  * }}}
  */
class DigestSink extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = new StructType()
  override def supportsExternalMetadata(): Boolean = true
  override def getTable(
      schema: StructType,
      partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = new DigestTable(schema)
}

object DigestSink {
  private val results = new ConcurrentHashMap[String, (Long, Long)]()

  def take(token: String): (Long, Long) = {
    val r = results.remove(token)
    require(r != null, s"no digest committed for $token")
    r
  }

  private[perfbench] def put(token: String, r: (Long, Long)): Unit = results.put(token, r)
}

private class DigestTable(tableSchema: StructType) extends Table with SupportsWrite {
  override def name(): String = "perfbench_digest"
  override def schema(): StructType = tableSchema
  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.BATCH_WRITE, TableCapability.TRUNCATE, TableCapability.ACCEPT_ANY_SCHEMA).asJava
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder with SupportsTruncate {
      override def truncate(): WriteBuilder = this
      override def build(): Write = new Write {
        override def toBatch: BatchWrite = new DigestBatchWrite(info.schema(), info.options().get("token"))
      }
    }
}

private case class DigestMessage(rows: Long, hashSum: Long) extends WriterCommitMessage

private class DigestBatchWrite(schema: StructType, token: String) extends BatchWrite {
  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    new DigestWriterFactory(schema)
  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val ms = messages.collect { case m: DigestMessage => m }
    DigestSink.put(token, (ms.map(_.rows).sum, ms.map(_.hashSum).sum))
  }
  override def abort(messages: Array[WriterCommitMessage]): Unit = ()
}

private class DigestWriterFactory(schema: StructType) extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new DataWriter[InternalRow] {
      private val order = schema.fields.indices.sortBy(i => schema.fields(i).name)
      private val sha = MessageDigest.getInstance("SHA-256")
      private val sb = new java.lang.StringBuilder()
      private var rows = 0L
      private var hashSum = 0L
      override def write(row: InternalRow): Unit = {
        sb.setLength(0)
        order.zipWithIndex.foreach { case (i, k) =>
          if (k > 0) sb.append('\u0001')
          Canonical.append(sb, if (row.isNullAt(i)) null else row.get(i, schema.fields(i).dataType),
            schema.fields(i).dataType)
        }
        val h = sha.digest(sb.toString.getBytes(StandardCharsets.UTF_8))
        hashSum += ByteBuffer.wrap(h, 0, 8).getLong
        rows += 1
      }
      override def commit(): WriterCommitMessage = DigestMessage(rows, hashSum)
      override def abort(): Unit = ()
      override def close(): Unit = ()
    }
}

private object Canonical {
  def append(sb: java.lang.StringBuilder, v: Any, dt: DataType): Unit =
    if (v == null) sb.append("\u0000N")
    else dt match {
      case BooleanType                                   => sb.append(if (v.asInstanceOf[Boolean]) "T" else "F")
      case ByteType | ShortType | IntegerType | LongType => sb.append(v.toString)
      case DateType                                      => sb.append(v.asInstanceOf[Int] * 86400000000L)
      case TimestampType | TimestampNTZType              => sb.append(v.asInstanceOf[Long])
      case FloatType                                     => number(sb, v.asInstanceOf[Float].toDouble)
      case DoubleType                                    => number(sb, v.asInstanceOf[Double])
      case _: DecimalType =>
        val d = v.asInstanceOf[Decimal].toJavaBigDecimal
        if (d.signum == 0 || d.stripTrailingZeros.scale <= 0) sb.append(d.toBigInteger.toString)
        else number(sb, d.doubleValue)
      case BinaryType => v.asInstanceOf[Array[Byte]].foreach(b => sb.append(f"$b%02x"))
      case ArrayType(et, _) =>
        val a = v.asInstanceOf[ArrayData]
        sb.append('[')
        (0 until a.numElements).foreach { j =>
          if (j > 0) sb.append('\u0002')
          append(sb, if (a.isNullAt(j)) null else a.get(j, et), et)
        }
        sb.append(']')
      case st: StructType =>
        val r = v.asInstanceOf[InternalRow]
        sb.append('{')
        st.fields.indices.foreach { j =>
          if (j > 0) sb.append('\u0002')
          append(sb, if (r.isNullAt(j)) null else r.get(j, st.fields(j).dataType), st.fields(j).dataType)
        }
        sb.append('}')
      case _ => sb.append(v.toString) // strings and anything else with a stable text form
    }

  private def number(sb: java.lang.StringBuilder, d: Double): Unit =
    if (d.isNaN) sb.append("NaN")
    else if (d.isInfinite) sb.append(if (d > 0) "Inf" else "-Inf")
    else if (d == Math.rint(d)) sb.append(new java.math.BigDecimal(d).toBigInteger.toString)
    else sb.append(java.lang.Double.doubleToLongBits(d))
}
