package graft.sources.memkafka

import java.util
import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset}
import org.apache.spark.sql.connector.write.{DataWriter, LogicalWriteInfo, PhysicalWriteInfo, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.connector.write.streaming.{StreamingDataWriterFactory, StreamingWrite}
import org.apache.spark.sql.types.{BinaryType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** An in-memory Kafka-shaped transport implementing the SAME (key,
  * value) binary contract as `format("kafka")` — a DataSourceV2 with a
  * micro-batch streaming source and an epoch-committed streaming sink.
  *
  * Purpose: the real Kafka connector jar is a deploy-time dependency
  * absent in this offline environment (see [[graft.sources.KafkaIO]]),
  * which left the produce->consume path unexercised. This fake keeps
  * every Spark-side moving part REAL — DSv2 table resolution, offset
  * tracking/restart, partition planning, per-task writers with
  * driver-side epoch commit (the at-least-once barrier that mirrors the
  * reference's `producer.flush` semantics,
  * phone_message_producer.py:531,562,602) — and substitutes only the
  * broker with a JVM-local log. Swapping `format(classOf[
  * MemKafkaProvider].getName)` for `format("kafka")` is a one-line
  * change on both ends.
  *
  * Single-JVM by design (local-mode tests); the broker log is
  * append-only, offsets are record indices (one logical partition).
  * A micro-batch's `[from, until)` is read as at most
  * `defaultParallelism` contiguous ranges of at least
  * [[MemKafkaMicroBatchStream.MinRangeRecords]] records each, so a
  * large batch is read and decoded by several tasks while a small one
  * stays one task. Splitting is a read-side plan only: the offset is
  * still one bare record index.
  */
object MemBroker {
  type Rec = (Array[Byte], Array[Byte])
  private val topics = new ConcurrentHashMap[String, util.ArrayList[Rec]]()

  private def log(topic: String): util.ArrayList[Rec] =
    topics.computeIfAbsent(topic, _ => new util.ArrayList[Rec]())

  def append(topic: String, recs: Seq[Rec]): Unit = {
    val l = log(topic)
    l.synchronized { recs.foreach(l.add) }
  }

  def size(topic: String): Long = {
    val l = log(topic)
    l.synchronized { l.size().toLong }
  }

  def slice(topic: String, from: Long, until: Long): Array[Rec] = {
    val l = log(topic)
    l.synchronized {
      val end = math.min(until, l.size().toLong).toInt
      val start = math.min(from, end.toLong).toInt
      l.subList(start, end).toArray(new Array[Rec](end - start))
    }
  }

  def clear(topic: String): Unit = topics.remove(topic)
}

class MemKafkaProvider extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    MemKafkaProvider.Schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new MemKafkaTable(Option(properties.get("topic"))
      .getOrElse(throw new IllegalArgumentException("option 'topic' required")))
}

object MemKafkaProvider {
  val Schema: StructType = StructType(Seq(
    StructField("key", BinaryType), StructField("value", BinaryType)))
}

class MemKafkaTable(topic: String) extends Table
    with SupportsRead with SupportsWrite {
  override def name(): String = s"memkafka:$topic"
  override def schema(): StructType = MemKafkaProvider.Schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.MICRO_BATCH_READ,
      TableCapability.STREAMING_WRITE)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new Scan {
        override def readSchema(): StructType = MemKafkaProvider.Schema
        override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
          new MemKafkaMicroBatchStream(topic)
      }
    }

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder {
      override def build(): Write = new Write {
        override def toStreaming: StreamingWrite = new MemKafkaStreamingWrite(topic)
      }
    }
}

case class MemOffset(n: Long) extends Offset {
  override def json(): String = n.toString
}

case class MemRange(topic: String, from: Long, until: Long) extends InputPartition

class MemKafkaMicroBatchStream(topic: String) extends MicroBatchStream {
  override def latestOffset(): Offset = MemOffset(MemBroker.size(topic))
  override def initialOffset(): Offset = MemOffset(0L)
  override def deserializeOffset(json: String): Offset = MemOffset(json.toLong)
  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] =
    MemKafkaMicroBatchStream.ranges(topic,
      start.asInstanceOf[MemOffset].n, end.asInstanceOf[MemOffset].n,
      SparkSession.active.sparkContext.defaultParallelism)
      .toArray[InputPartition]
  override def createReaderFactory(): PartitionReaderFactory =
    new PartitionReaderFactory {
      override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
        val MemRange(t, from, until) = partition.asInstanceOf[MemRange]
        val recs = MemBroker.slice(t, from, until)
        new PartitionReader[InternalRow] {
          private var i = -1
          override def next(): Boolean = { i += 1; i < recs.length }
          override def get(): InternalRow =
            new GenericInternalRow(Array[Any](recs(i)._1, recs(i)._2))
          override def close(): Unit = ()
        }
      }
    }
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

object MemKafkaMicroBatchStream {
  /** Fewest records in a range that a batch is split into. A smaller
    * range costs more in task scheduling than its decode saves; the
    * paced benchmark phase's ~2k-record batches stay one range. */
  val MinRangeRecords = 8192L

  /** `[from, until)` as at most `parallelism` contiguous, near-equal
    * ranges of at least [[MinRangeRecords]] records each; a batch below
    * twice the minimum (an empty one too) is one range. */
  def ranges(topic: String, from: Long, until: Long,
      parallelism: Int): Array[MemRange] = {
    val n = until - from
    val k = math.max(1L, math.min(parallelism.toLong, n / MinRangeRecords)).toInt
    Array.tabulate(k)(i => MemRange(topic, from + n * i / k, from + n * (i + 1) / k))
  }
}

/** Per-task writers buffer; the DRIVER appends everything in one epoch
  * commit — the micro-batch flush barrier (C1 parity). */
class MemKafkaStreamingWrite(topic: String) extends StreamingWrite {
  override def createStreamingWriterFactory(info: PhysicalWriteInfo): StreamingDataWriterFactory =
    new StreamingDataWriterFactory {
      override def createWriter(partitionId: Int, taskId: Long,
          epochId: Long): DataWriter[InternalRow] =
        new DataWriter[InternalRow] {
          private val buf = scala.collection.mutable.ArrayBuffer.empty[MemBroker.Rec]
          override def write(row: InternalRow): Unit = {
            // copy: Spark reuses InternalRow/binary buffers across rows
            def cp(b: Array[Byte]) = if (b == null) null else b.clone()
            buf += ((cp(row.getBinary(0)), cp(row.getBinary(1))))
          }
          override def commit(): WriterCommitMessage = MemCommit(buf.toSeq)
          override def abort(): Unit = buf.clear()
          override def close(): Unit = ()
        }
    }
  override def commit(epochId: Long, messages: Array[WriterCommitMessage]): Unit =
    messages.foreach {
      case MemCommit(recs) => MemBroker.append(topic, recs)
      case _ =>
    }
  override def abort(epochId: Long, messages: Array[WriterCommitMessage]): Unit = ()
}

case class MemCommit(recs: Seq[MemBroker.Rec]) extends WriterCommitMessage
