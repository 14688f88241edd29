package perfbench

import java.util
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** Spark's `noop` sink plus a row count: rows are discarded, and the
  * number written is kept per job group. The stock `noop` sink reports
  * no row count (neither task output metrics nor a SQL metric), and the
  * output checks need one without running the query a second time. */
final class CountSink extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = new StructType()
  override def supportsExternalMetadata(): Boolean = true
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = CountSink.CountTable
}

object CountSink {
  private val rows = new ConcurrentHashMap[String, AtomicLong]()
  private val JobGroupKey = "spark.jobGroup.id"

  /** Materializes `df` into the sink. */
  def write(df: DataFrame): Unit =
    df.write.format(classOf[CountSink].getName).mode("overwrite").save()

  /** Rows written so far under job group `group`. */
  def rowsOf(group: String): Long = Option(rows.get(group)).map(_.get).getOrElse(0L)

  private final case class Count(n: Long) extends WriterCommitMessage

  private object CountTable extends Table with SupportsWrite {
    override def name(): String = "perfbench-count"
    override def schema(): StructType = new StructType()
    override def capabilities(): util.Set[TableCapability] = util.EnumSet.of(
      TableCapability.BATCH_WRITE, TableCapability.TRUNCATE, TableCapability.ACCEPT_ANY_SCHEMA)
    override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
      new WriteBuilder with SupportsTruncate {
        override def truncate(): WriteBuilder = this
        override def build(): Write = new Write {
          override def toBatch: BatchWrite = new CountBatch(
            Option(SparkSession.active.sparkContext.getLocalProperty(JobGroupKey)).getOrElse(""))
        }
      }
  }

  private final class CountBatch(group: String) extends BatchWrite {
    override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory = new CountFactory
    override def commit(messages: Array[WriterCommitMessage]): Unit = {
      val n = messages.collect { case Count(k) => k }.sum
      rows.computeIfAbsent(group, _ => new AtomicLong).addAndGet(n)
    }
    override def abort(messages: Array[WriterCommitMessage]): Unit = ()
  }

  private final class CountFactory extends DataWriterFactory {
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
