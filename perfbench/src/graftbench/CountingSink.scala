package graftbench

import java.util
import java.util.concurrent.atomic.LongAdder

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** Spark's `noop` sink plus a row counter: every row of the plan is
  * produced and dropped exactly as `format("noop")` does, and each
  * task adds its row count to [[CountingSink.rows]] on commit. The
  * counter is a JVM static, so it sees every task under `local[n]`. */
class CountingSink extends TableProvider {
  override def inferSchema(o: CaseInsensitiveStringMap): StructType =
    new StructType()
  override def getTable(schema: StructType, p: Array[Transform],
                        props: util.Map[String, String]): Table = CountingTable
  override def supportsExternalMetadata(): Boolean = true
}

object CountingSink {
  val rows = new LongAdder
}

private object CountingTable extends Table with SupportsWrite {
  override def name(): String = "graftbench_counting_noop"
  override def schema(): StructType = new StructType()
  override def capabilities(): util.Set[TableCapability] = util.EnumSet.of(
    TableCapability.BATCH_WRITE, TableCapability.TRUNCATE,
    TableCapability.ACCEPT_ANY_SCHEMA)
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder with SupportsTruncate {
      override def truncate(): WriteBuilder = this
      override def build(): Write = new Write {
        override def toBatch: BatchWrite = CountingBatch
      }
    }
}

private object CountingBatch extends BatchWrite {
  override def createBatchWriterFactory(i: PhysicalWriteInfo)
  : DataWriterFactory = CountingWriterFactory
  override def commit(m: Array[WriterCommitMessage]): Unit = ()
  override def abort(m: Array[WriterCommitMessage]): Unit = ()
}

private object CountingWriterFactory extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long)
  : DataWriter[InternalRow] = new DataWriter[InternalRow] {
    private var n = 0L
    override def write(r: InternalRow): Unit = n += 1
    override def commit(): WriterCommitMessage = {
      CountingSink.rows.add(n)
      null
    }
    override def abort(): Unit = ()
    override def close(): Unit = ()
  }
}
