package perfbench

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.XxHash64Function
import org.apache.spark.sql.connector.catalog.{SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** Row count and order-independent hash of a result. */
final case class Fingerprint(rows: Long, hash: Long) {
  def hex: String = f"$hash%016x"
}

/** A write sink that, like Spark's `noop`, runs the whole plan and keeps
  * no output, but folds every row into a [[Fingerprint]]: a 64-bit
  * xxhash over all columns per row, summed modulo 2^64, plus the row
  * count. The sink action is therefore the check; it adds one hash per
  * row to the noop cost.
  *
  * `df.write.format(FingerprintSink.Format).mode("overwrite")
  *   .option("token", t).save()` leaves the result under `t`.
  */
final class FingerprintSink extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = new StructType()
  override def supportsExternalMetadata(): Boolean = true
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: java.util.Map[String, String]): Table =
    new FingerprintTable(schema, properties.get("token"))
}

object FingerprintSink {
  val Format: String = classOf[FingerprintSink].getName
  private val results = new ConcurrentHashMap[String, Fingerprint]()

  def take(token: String): Option[Fingerprint] = Option(results.remove(token))
  private[perfbench] def put(token: String, fp: Fingerprint): Unit = results.put(token, fp)

  /** Hash of one row, chained column by column from seed 42. */
  def rowHash(row: InternalRow, schema: StructType): Long = {
    var h = 42L
    var i = 0
    while (i < schema.length) {
      val dt = schema(i).dataType
      h = XxHash64Function.hash(if (row.isNullAt(i)) null else row.get(i, dt), dt, h)
      i += 1
    }
    h
  }
}

private final class FingerprintTable(tableSchema: StructType, token: String)
    extends Table with SupportsWrite {
  override def name(): String = "perfbench-fingerprint"
  override def schema(): StructType = tableSchema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_WRITE, TableCapability.TRUNCATE)
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder with SupportsTruncate {
      override def truncate(): WriteBuilder = this
      override def build(): Write = new Write {
        override def toBatch: BatchWrite = new FingerprintBatch(info.schema(), token)
      }
    }
}

private final case class PartFingerprint(rows: Long, hash: Long) extends WriterCommitMessage

private final class FingerprintBatch(schema: StructType, token: String) extends BatchWrite {
  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    new FingerprintWriterFactory(schema)
  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val parts = messages.collect { case p: PartFingerprint => p }
    FingerprintSink.put(token, Fingerprint(parts.map(_.rows).sum, parts.map(_.hash).sum))
  }
  override def abort(messages: Array[WriterCommitMessage]): Unit = ()
}

private final class FingerprintWriterFactory(schema: StructType) extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new DataWriter[InternalRow] {
      private var rows = 0L
      private var hash = 0L
      override def write(record: InternalRow): Unit = {
        rows += 1
        hash += FingerprintSink.rowHash(record, schema)
      }
      override def commit(): WriterCommitMessage = PartFingerprint(rows, hash)
      override def abort(): Unit = ()
      override def close(): Unit = ()
    }
}
