package perfbench

import java.util

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** Spark's `noop` sink plus a row counter: every row of the result is
  * produced and dropped, and each task reports how many it dropped, so
  * the benchmark learns the delivered row count without a second
  * action. Use as `df.write.format(classOf[CountSink].getName)
  * .mode("overwrite").save()`, then read [[CountSink.rows]]. */
final class CountSink extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = new StructType()
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table = CountSink.Sink
}

object CountSink {
  @volatile private var last = -1L

  /** Rows delivered by the most recent committed write. */
  def rows: Long = last

  private final case class Count(n: Long) extends WriterCommitMessage

  private object Sink extends Table with SupportsWrite {
    override def name(): String = "perfbench-count"
    override def schema(): StructType = new StructType()
    override def capabilities(): util.Set[TableCapability] = util.EnumSet.of(
      TableCapability.BATCH_WRITE, TableCapability.TRUNCATE,
      TableCapability.ACCEPT_ANY_SCHEMA)
    override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = Builder
  }

  private object Builder extends WriteBuilder with SupportsTruncate {
    override def truncate(): WriteBuilder = this
    override def build(): Write = new Write {
      override def toBatch: BatchWrite = Batch
    }
  }

  private object Batch extends BatchWrite {
    override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
      Factory
    override def useCommitCoordinator(): Boolean = false
    override def commit(messages: Array[WriterCommitMessage]): Unit =
      last = messages.collect { case Count(n) => n }.sum
    override def abort(messages: Array[WriterCommitMessage]): Unit = last = -1L
  }

  private object Factory extends DataWriterFactory {
    override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
      new DataWriter[InternalRow] {
        private var n = 0L
        override def write(record: InternalRow): Unit = n += 1
        override def commit(): WriterCommitMessage = Count(n)
        override def abort(): Unit = ()
        override def close(): Unit = ()
      }
  }
}
