package graft.sources

import java.io.ByteArrayOutputStream

import org.apache.avro.Schema
import org.apache.avro.generic.{GenericData, GenericDatumReader, GenericDatumWriter, GenericRecord}
import org.apache.avro.io.{BinaryDecoder, BinaryEncoder, DecoderFactory, EncoderFactory}
import org.apache.avro.util.Utf8
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Avro wire format for the message stream (reference C2: Avro key/value
  * with explicitly declared schemas, phone_message_producer.py:302-323;
  * schema-on-write). The environment ships core Avro but not the
  * spark-avro connector, so serde is implemented as custom Catalyst
  * expressions over the public Avro GenericRecord API — schema passed
  * explicitly, no registry dependency (the registry's 5-byte header is
  * optional wire framing; plain Avro bodies give parity).
  *
  * Supports flat record schemas with string/long/int/double/boolean
  * fields and nullable ["null", T] unions — the reference's schemas and
  * our MessageStatus/MessageKey are exactly this shape.
  */
object AvroWire {

  /** Avro value schema — mirror of phone_message_producer.py:312-323. */
  val MessageStatusSchema: String =
    """{"type": "record", "name": "MessageStatus", "fields": [
      |  {"name": "status", "type": "string"},
      |  {"name": "phoneNumber", "type": "long"},
      |  {"name": "carrier", "type": "string"},
      |  {"name": "timestamp", "type": "long"}
      |]}""".stripMargin

  /** Avro key schema — mirror of phone_message_producer.py:302-310. */
  val MessageKeySchema: String =
    """{"type": "record", "name": "MessageKey", "fields": [
      |  {"name": "messageId", "type": "string"}
      |]}""".stripMargin

  /** struct -> avro binary (bare body, no framing). */
  def toAvro(data: Column, schemaJson: String): Column =
    Bridge.column(AvroEncode(Bridge.expression(data), schemaJson, None))

  /** avro binary -> struct (schema determines the struct type). */
  def fromAvro(data: Column, schemaJson: String): Column =
    Bridge.column(AvroDecode(Bridge.expression(data), schemaJson, None))

  /** struct -> Confluent Schema-Registry wire format: a 5-byte header
    * (magic 0x00 + big-endian int32 schema id) followed by the Avro
    * body — what the reference's AvroSerializer emits against a
    * registry (phone_message_producer.py:327-340) and what every
    * registry-aware consumer of the topic expects to strip. */
  def toAvroConfluent(data: Column, schemaJson: String, schemaId: Int): Column =
    Bridge.column(AvroEncode(Bridge.expression(data), schemaJson, Some(schemaId)))

  /** Confluent-framed binary -> struct. Validates the magic byte and
    * that the embedded schema id matches `schemaId` (the registry
    * lookup is out of scope offline; the caller pins the id). */
  def fromAvroConfluent(data: Column, schemaJson: String, schemaId: Int): Column =
    Bridge.column(AvroDecode(Bridge.expression(data), schemaJson, Some(schemaId)))

  private[sources] def sparkType(s: Schema): DataType = s.getType match {
    case Schema.Type.STRING => StringType
    case Schema.Type.LONG => LongType
    case Schema.Type.INT => IntegerType
    case Schema.Type.DOUBLE => DoubleType
    case Schema.Type.BOOLEAN => BooleanType
    case Schema.Type.BYTES => BinaryType
    case Schema.Type.UNION =>
      val nonNull = s.getTypes.toArray.map(_.asInstanceOf[Schema])
        .filter(_.getType != Schema.Type.NULL)
      require(nonNull.length == 1, s"unsupported union $s")
      sparkType(nonNull.head)
    case other => throw new IllegalArgumentException(
      s"AvroWire supports flat primitive schemas; got $other")
  }

  private[sources] def structFor(schemaJson: String): StructType = {
    val schema = new Schema.Parser().parse(schemaJson)
    StructType(schema.getFields.toArray.map { f0 =>
      val f = f0.asInstanceOf[Schema.Field]
      StructField(f.name(), sparkType(f.schema()),
        nullable = f.schema().getType == Schema.Type.UNION)
    })
  }
}

/** struct -> avro-encoded binary. With `confluentId` set, the body is
  * prefixed by the 5-byte registry header (magic 0x00 + int32 BE schema
  * id). Runs on the producer side only (framing a transcript or a
  * stream into the topic); see [[AvroDecode]] for why both stay
  * `CodegenFallback`. */
case class AvroEncode(child: Expression, schemaJson: String,
    confluentId: Option[Int])
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = BinaryType

  @transient private lazy val schema = new Schema.Parser().parse(schemaJson)
  @transient private lazy val writer = new GenericDatumWriter[GenericRecord](schema)
  @transient private lazy val fields = child.dataType.asInstanceOf[StructType].fields

  override def nullSafeEval(input: Any): Any = {
    val row = input.asInstanceOf[InternalRow]
    val rec = new GenericData.Record(schema)
    var i = 0
    while (i < fields.length) {
      val v = fields(i).dataType match {
        case _ if row.isNullAt(i) => null
        case StringType => row.getUTF8String(i).toString
        case LongType => java.lang.Long.valueOf(row.getLong(i))
        case IntegerType => java.lang.Integer.valueOf(row.getInt(i))
        case DoubleType => java.lang.Double.valueOf(row.getDouble(i))
        case BooleanType => java.lang.Boolean.valueOf(row.getBoolean(i))
        case BinaryType => java.nio.ByteBuffer.wrap(row.getBinary(i))
        case t => throw new IllegalArgumentException(s"unsupported $t")
      }
      rec.put(fields(i).name, v)
      i += 1
    }
    val out = new ByteArrayOutputStream()
    confluentId.foreach { id =>
      out.write(0) // magic byte
      out.write((id >>> 24) & 0xff); out.write((id >>> 16) & 0xff)
      out.write((id >>> 8) & 0xff); out.write(id & 0xff)
    }
    val enc: BinaryEncoder = EncoderFactory.get().binaryEncoder(out, null)
    writer.write(rec, enc)
    enc.flush()
    out.toByteArray
  }

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** avro binary -> struct. With `confluentId` set, expects and skips
  * the 5-byte registry header, validating magic and schema id.
  *
  * This is the detector's per-record path: every consumed record is
  * decoded twice (key and value). So the struct type and its field
  * types are computed once per expression, the body is decoded in place
  * (no copy to strip the header), strings become `UTF8String` straight
  * from the Avro `Utf8` bytes, and the row is filled without boxing
  * through collections. It stays `CodegenFallback` because the work is
  * inside Avro's `GenericDatumReader`, which generated code could only
  * call through the same way; the generated projection invokes `eval`
  * directly. The record and its `Utf8`s are fresh per row (the reader
  * gets no reuse object), because the returned row keeps their bytes.
  */
case class AvroDecode(child: Expression, schemaJson: String,
    confluentId: Option[Int])
    extends UnaryExpression with CodegenFallback {

  override lazy val dataType: DataType = AvroWire.structFor(schemaJson)

  @transient private lazy val schema = new Schema.Parser().parse(schemaJson)
  @transient private lazy val reader = new GenericDatumReader[GenericRecord](schema)
  @transient private lazy val fieldTypes: Array[DataType] =
    dataType.asInstanceOf[StructType].fields.map(_.dataType)

  override def nullSafeEval(input: Any): Any = {
    val raw = input.asInstanceOf[Array[Byte]]
    val off = confluentId match {
      case None => 0
      case Some(expected) =>
        require(raw.length >= 5 && raw(0) == 0,
          s"not Confluent-framed: ${raw.take(5).mkString("[", ",", "]")}")
        val id = ((raw(1) & 0xff) << 24) | ((raw(2) & 0xff) << 16) |
          ((raw(3) & 0xff) << 8) | (raw(4) & 0xff)
        require(id == expected, s"schema id $id, expected $expected")
        5
    }
    val dec: BinaryDecoder =
      DecoderFactory.get().binaryDecoder(raw, off, raw.length - off, null)
    val rec = reader.read(null, dec)
    val types = fieldTypes
    val values = new Array[Any](types.length)
    var i = 0
    while (i < types.length) {
      val v = rec.get(i)
      if (v != null) values(i) = types(i) match {
        case StringType => v match {
          case u: Utf8 => UTF8String.fromBytes(u.getBytes, 0, u.getByteLength)
          case other => UTF8String.fromString(other.toString)
        }
        case LongType | IntegerType | DoubleType | BooleanType => v
        case BinaryType =>
          val bb = v.asInstanceOf[java.nio.ByteBuffer]
          val arr = new Array[Byte](bb.remaining()); bb.get(arr); arr
        case t => throw new IllegalArgumentException(s"unsupported $t")
      }
      i += 1
    }
    new GenericInternalRow(values)
  }

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}
