package graft.sources

import scala.jdk.CollectionConverters._

import org.apache.avro.Schema
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** Avro wire format for the message stream (reference C2: Avro key/value
  * with explicitly declared schemas, phone_message_producer.py:302-323;
  * schema-on-write). The environment ships core Avro but not the
  * spark-avro connector, so serde is two custom Catalyst expressions,
  * [[AvroEncode]] and [[AvroDecode]], over [[FlatAvro]]: a codec that
  * writes and reads the Avro binary encoding itself, byte-identical to
  * Avro's own generic writer (`AvroCodecSpec` holds that writer as the
  * reference). Avro parses the schema, which is passed
  * explicitly, with no registry dependency (the registry's 5-byte
  * header is optional wire framing; plain Avro bodies give parity).
  *
  * Supports flat record schemas with string/long/int/double/boolean/
  * bytes fields, each optionally a union with "null" in either order
  * (`["null", T]` or `[T, "null"]`) — the reference's schemas and our
  * MessageStatus/MessageKey are exactly this shape.
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
      val nonNull = s.getTypes.asScala.filter(_.getType != Schema.Type.NULL)
      require(nonNull.length == 1, s"unsupported union $s")
      sparkType(nonNull.head)
    case other => throw new IllegalArgumentException(
      s"AvroWire supports flat primitive schemas; got $other")
  }

  private[sources] def structFor(schemaJson: String): StructType =
    FlatAvro.of(schemaJson).struct
}

/** The Avro binary encoding of one flat record schema (see [[AvroWire]]
  * for the shapes it accepts), compiled once per schema and JVM
  * ([[FlatAvro.of]]): a row is written or read field by field, in schema
  * order, with no per-row Avro object graph.
  *
  *  - long and int: a zigzag varint (an int's bytes equal its long's);
  *  - string and bytes: a varint length, then the bytes — a string's
  *    UTF-8 is copied straight from or into a `UTF8String`;
  *  - double: 8 bytes, little-endian IEEE 754 (raw bits);
  *  - boolean: one byte, 0 or 1;
  *  - a union: the branch index as a varint, then the branch's value.
  *
  * Decoding throws on a body that ends early, a negative length, a
  * varint longer than 10 bytes and a union index that names no branch;
  * bytes after the last field are ignored, as Avro's reader ignores
  * them. Encoding throws on a null in a field that is not a union with
  * "null".
  */
private[sources] final class FlatAvro(schemaJson: String) {
  import FlatAvro._

  private val fields: Array[Schema.Field] =
    new Schema.Parser().parse(schemaJson).getFields.asScala.toArray

  val struct: StructType = StructType(fields.map { f =>
    StructField(f.name(), AvroWire.sparkType(f.schema()),
      nullable = f.schema().getType == Schema.Type.UNION)
  })

  private val n = fields.length
  private val kinds: Array[Int] = struct.fields.map(_.dataType match {
    case StringType => Str
    case LongType => Lng
    case IntegerType => Int32
    case DoubleType => Dbl
    case BooleanType => Bool
    case BinaryType => Bin
  })
  /** Union index of the "null" and of the value branch; -1 for a field
    * that is not a union (and for the null of a union without one). */
  private val nullBranch: Array[Int] = fields.map(f => branch(f, _ == Schema.Type.NULL))
  private val valueBranch: Array[Int] = fields.map(f => branch(f, _ != Schema.Type.NULL))

  /** Field i's ordinal in a struct of type `t`, or -1 when `t` has no
    * such field (it then encodes as null). Every field of `t` must be a
    * schema field of the same type. */
  def ordinalsIn(t: StructType): Array[Int] = {
    t.fields.foreach { f =>
      val i = struct.fieldNames.indexOf(f.name)
      require(i >= 0, s"Not a valid schema field: ${f.name}")
      require(f.dataType == struct(i).dataType,
        s"field ${f.name} is ${f.dataType.sql}, the schema writes ${struct(i).dataType.sql}")
    }
    struct.fieldNames.map(name => t.fieldNames.indexOf(name))
  }

  /** `header` followed by the Avro body of `row`, whose field i is at
    * `ordinals(i)` (see [[ordinalsIn]]). Sized first, then written into
    * one array of exactly that size. */
  def encode(row: InternalRow, ordinals: Array[Int], header: Array[Byte]): Array[Byte] = {
    var size = header.length
    var i = 0
    while (i < n) {
      val o = ordinals(i)
      if (o < 0 || row.isNullAt(o)) {
        if (nullBranch(i) < 0)
          throw new IllegalArgumentException(s"null in non-nullable field ${fields(i).name()}")
        size += 1
      } else {
        if (valueBranch(i) >= 0) size += 1
        size += ((kinds(i): @annotation.switch) match {
          case Str => lengthSize(row.getUTF8String(o).numBytes)
          case Lng => varLongSize(row.getLong(o))
          case Int32 => varLongSize(row.getInt(o).toLong)
          case Dbl => 8
          case Bool => 1
          case Bin => lengthSize(row.getBinary(o).length)
        })
      }
      i += 1
    }
    val out = java.util.Arrays.copyOf(header, size)
    var pos = header.length
    i = 0
    while (i < n) {
      val o = ordinals(i)
      if (o < 0 || row.isNullAt(o)) {
        pos = writeVarLong(nullBranch(i).toLong, out, pos)
      } else {
        if (valueBranch(i) >= 0) pos = writeVarLong(valueBranch(i).toLong, out, pos)
        pos = (kinds(i): @annotation.switch) match {
          case Str =>
            val s = row.getUTF8String(o)
            val p = writeVarLong(s.numBytes.toLong, out, pos)
            s.writeToMemory(out, Platform.BYTE_ARRAY_OFFSET + p)
            p + s.numBytes
          case Lng => writeVarLong(row.getLong(o), out, pos)
          case Int32 => writeVarLong(row.getInt(o).toLong, out, pos)
          case Dbl =>
            val bits = java.lang.Double.doubleToRawLongBits(row.getDouble(o))
            var k = 0
            while (k < 8) { out(pos + k) = (bits >>> (8 * k)).toByte; k += 1 }
            pos + 8
          case Bool =>
            out(pos) = (if (row.getBoolean(o)) 1 else 0).toByte
            pos + 1
          case Bin =>
            val b = row.getBinary(o)
            val p = writeVarLong(b.length.toLong, out, pos)
            System.arraycopy(b, 0, out, p, b.length)
            p + b.length
        }
      }
      i += 1
    }
    out
  }

  /** The row of the Avro body that starts at `raw(start)`. */
  def decode(raw: Array[Byte], start: Int): InternalRow = {
    val in = new Cursor(raw, start)
    val values = new Array[Any](n)
    var i = 0
    while (i < n) {
      val isNull = valueBranch(i) >= 0 && {
        val b = in.varLong()
        if (b == nullBranch(i)) true
        else if (b == valueBranch(i)) false
        else throw new IllegalArgumentException(
          s"union index $b names no branch of field ${fields(i).name()}")
      }
      if (!isNull) values(i) = (kinds(i): @annotation.switch) match {
        case Str =>
          val len = in.length()
          UTF8String.fromBytes(java.util.Arrays.copyOfRange(raw, in.skip(len), in.pos))
        case Lng => in.varLong()
        case Int32 =>
          val v = in.varLong()
          if (v != v.toInt) throw new IllegalArgumentException(s"int out of range: $v")
          v.toInt
        case Dbl =>
          val p = in.skip(8)
          var bits = 0L
          var k = 7
          while (k >= 0) { bits = (bits << 8) | (raw(p + k) & 0xffL); k -= 1 }
          java.lang.Double.longBitsToDouble(bits)
        case Bool => raw(in.skip(1)) == 1
        case Bin =>
          val len = in.length()
          java.util.Arrays.copyOfRange(raw, in.skip(len), in.pos)
      }
      i += 1
    }
    new GenericInternalRow(values)
  }
}

private[sources] object FlatAvro {
  private val compiled = new java.util.concurrent.ConcurrentHashMap[String, FlatAvro]()

  /** The codec of `schemaJson`, shared by every expression that carries
    * it: planning copies an expression many times, and each copy would
    * otherwise parse the schema again. A codec holds no per-call state. */
  def of(schemaJson: String): FlatAvro = compiled.computeIfAbsent(schemaJson, new FlatAvro(_))

  private final val Str = 0
  private final val Lng = 1
  private final val Int32 = 2
  private final val Dbl = 3
  private final val Bool = 4
  private final val Bin = 5

  private def branch(f: Schema.Field, p: Schema.Type => Boolean): Int =
    if (f.schema().getType != Schema.Type.UNION) -1
    else f.schema().getTypes.asScala.indexWhere(t => p(t.getType))

  private def zigzag(v: Long): Long = (v << 1) ^ (v >> 63)

  private def varLongSize(v: Long): Int = {
    var z = zigzag(v)
    var size = 1
    while ((z & ~0x7fL) != 0) { z >>>= 7; size += 1 }
    size
  }

  private def lengthSize(len: Int): Int = varLongSize(len.toLong) + len

  /** Writes `v` as a zigzag varint at `out(pos)`; returns the next pos. */
  private def writeVarLong(v: Long, out: Array[Byte], pos: Int): Int = {
    var z = zigzag(v)
    var p = pos
    while ((z & ~0x7fL) != 0) {
      out(p) = ((z & 0x7f) | 0x80).toByte
      z >>>= 7
      p += 1
    }
    out(p) = z.toByte
    p + 1
  }

  /** A read position in `buf` that never passes its end. */
  private final class Cursor(buf: Array[Byte], var pos: Int) {
    /** Advances past `len` bytes; returns where they start. */
    def skip(len: Int): Int = {
      if (len > buf.length - pos) throw new IllegalArgumentException(
        s"truncated Avro body: $len bytes wanted at $pos of ${buf.length}")
      val p = pos
      pos += len
      p
    }

    def varLong(): Long = {
      var z = 0L
      var shift = 0
      var b = 0x80
      while ((b & 0x80) != 0) {
        if (shift > 63) throw new IllegalArgumentException("varint longer than 10 bytes")
        b = buf(skip(1))
        z |= (b & 0x7fL) << shift
        shift += 7
      }
      (z >>> 1) ^ -(z & 1)
    }

    /** A string's or bytes' length prefix. */
    def length(): Int = {
      val len = varLong()
      if (len < 0) throw new IllegalArgumentException(s"negative length $len")
      if (len > buf.length - pos) throw new IllegalArgumentException(
        s"truncated Avro body: $len bytes wanted at $pos of ${buf.length}")
      len.toInt
    }
  }
}

/** struct -> avro-encoded binary. With `confluentId` set, the body is
  * prefixed by the 5-byte registry header (magic 0x00 + int32 BE schema
  * id). The child struct's fields are matched to the schema's by name;
  * the body is written in schema order. Generated code calls [[encode]]
  * on the child's struct directly. */
case class AvroEncode(child: Expression, schemaJson: String,
    confluentId: Option[Int])
    extends UnaryExpression {

  override def dataType: DataType = BinaryType

  @transient private lazy val codec = FlatAvro.of(schemaJson)
  @transient private lazy val ordinals =
    codec.ordinalsIn(child.dataType.asInstanceOf[StructType])
  @transient private lazy val header: Array[Byte] = confluentId match {
    case None => Array.emptyByteArray
    case Some(id) => Array[Byte](0, // magic byte
      (id >>> 24).toByte, (id >>> 16).toByte, (id >>> 8).toByte, id.toByte)
  }

  def encode(row: InternalRow): Array[Byte] = codec.encode(row, ordinals, header)

  override def nullSafeEval(input: Any): Any = encode(input.asInstanceOf[InternalRow])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("avroEncode", this)
    defineCodeGen(ctx, ev, c => s"$self.encode($c)")
  }

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** avro binary -> struct. With `confluentId` set, expects and skips
  * the 5-byte registry header, validating magic and schema id.
  *
  * This is the detector's per-record path: every consumed record is
  * decoded twice (key and value). The struct type and the codec are
  * built once per schema ([[FlatAvro.of]]), the body is read in place
  * (no copy to strip the header), and generated code calls [[decode]]
  * on the child's bytes directly. Every string and bytes value is a copy, so
  * the returned row shares no array with the input.
  */
case class AvroDecode(child: Expression, schemaJson: String,
    confluentId: Option[Int])
    extends UnaryExpression {

  @transient private lazy val codec = FlatAvro.of(schemaJson)

  override lazy val dataType: DataType = codec.struct

  def decode(raw: Array[Byte]): InternalRow = {
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
    codec.decode(raw, off)
  }

  override def nullSafeEval(input: Any): Any = decode(input.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("avroDecode", this)
    defineCodeGen(ctx, ev, c => s"$self.decode($c)")
  }

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}
