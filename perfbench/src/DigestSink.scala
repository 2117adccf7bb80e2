package perfbench

import java.util

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{UnsafeProjection, XXH64}
import org.apache.spark.sql.connector.catalog.{SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** Order-independent digest of a query's full output, and, when the
  * sink is given a `ts` / `feature_ts` column pair and a staleness limit,
  * the point-in-time counters of a feature pipeline's output: rows with
  * features attached, rows whose features come from the future, and
  * rows whose features are older than the limit. */
final case class Digest(rows: Long, sum: Long, xor: Long,
                        attached: Long = 0L, future: Long = 0L,
                        stale: Long = 0L) {
  def hex: String = f"$rows%d:$sum%016x:$xor%016x"
  def +(o: Digest): Digest = Digest(rows + o.rows, sum + o.sum, xor ^ o.xor,
    attached + o.attached, future + o.future, stale + o.stale)
}

/** A write sink that does what the `noop` sink does (materialize every
  * column of every row) and also hashes each row, so one timed pass both
  * runs the query exactly as a noop write would and yields a digest of
  * its output to check. Use as
  * `df.write.format(classOf[DigestSink].getName).option("key", k)`;
  * the digest is then in [[DigestSink.take]]`(k)`.
  *
  * Row hash: XXH64 over the UnsafeRow bytes; rows combine by wrapping
  * sum and xor, so the digest is independent of partitioning and order.
  * Options `ts`, `feature_ts` and `max_staleness` (all or none) turn on
  * the point-in-time counters.
  */
class DigestSink extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    new StructType()
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table =
    DigestSink.Tbl
}

object DigestSink {
  private val results =
    new java.util.concurrent.ConcurrentHashMap[String, Digest]()

  def take(key: String): Digest = {
    val d = results.remove(key)
    require(d != null, s"no digest recorded for $key")
    d
  }

  private final case class Part(d: Digest) extends WriterCommitMessage

  private object Tbl extends Table with SupportsWrite {
    override def name(): String = "perfbench-digest"
    override def schema(): StructType = new StructType()
    override def capabilities(): util.Set[TableCapability] = util.EnumSet.of(
      TableCapability.BATCH_WRITE, TableCapability.TRUNCATE,
      TableCapability.ACCEPT_ANY_SCHEMA)
    override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
      new WriteBuilder with SupportsTruncate {
        override def truncate(): WriteBuilder = this
        override def build(): Write = new Write {
          override def toBatch: BatchWrite = {
            val opt = info.options()
            val pit = Option(opt.get("ts")).map(ts => (
              info.schema().fieldIndex(ts),
              info.schema().fieldIndex(opt.get("feature_ts")),
              opt.get("max_staleness").toLong))
            new Batch(info.schema(), opt.get("key"), pit)
          }
        }
      }
  }

  /** (ts field, feature_ts field, max staleness) */
  private type Pit = Option[(Int, Int, Long)]

  private final class Batch(schema: StructType, key: String, pit: Pit)
      extends BatchWrite {
    override def createBatchWriterFactory(
        info: PhysicalWriteInfo): DataWriterFactory = new Factory(schema, pit)
    override def commit(messages: Array[WriterCommitMessage]): Unit =
      results.put(key, messages.collect { case Part(d) => d }
        .foldLeft(Digest(0L, 0L, 0L))(_ + _))
    override def abort(messages: Array[WriterCommitMessage]): Unit = ()
  }

  private final class Factory(schema: StructType, pit: Pit)
      extends DataWriterFactory {
    override def createWriter(partitionId: Int,
                              taskId: Long): DataWriter[InternalRow] =
      new DataWriter[InternalRow] {
        private val proj = UnsafeProjection.create(schema)
        private var rows, sum, xor, attached, future, stale = 0L
        override def write(row: InternalRow): Unit = {
          val u = proj(row)
          val h = XXH64.hashUnsafeBytes(u.getBaseObject, u.getBaseOffset,
            u.getSizeInBytes, 42L)
          rows += 1; sum += h; xor ^= h
          pit.foreach { case (ts, fts, max) =>
            if (!u.isNullAt(fts)) {
              attached += 1
              val lag = u.getLong(ts) - u.getLong(fts)
              if (lag < 0) future += 1
              if (lag > max) stale += 1
            }
          }
        }
        override def commit(): WriterCommitMessage =
          Part(Digest(rows, sum, xor, attached, future, stale))
        override def abort(): Unit = ()
        override def close(): Unit = ()
      }
  }
}
