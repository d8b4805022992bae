package graft.sources

import graft.SparkSpec
import java.io.ByteArrayOutputStream
import org.apache.avro.Schema
import org.apache.avro.generic.{GenericData, GenericDatumWriter, GenericRecord}
import org.apache.avro.io.EncoderFactory
import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.BoundReference
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Byte parity of [[AvroEncode]]/[[AvroDecode]] with Avro's own
  * `GenericDatumWriter`, which stays here as the reference. Random rows
  * (raw ScalaCheck generators, explicit seeds, as in `PropertySpec`)
  * of the two wire schemas and of a flat schema with every supported
  * type, nullable in both union orders. */
class AvroCodecSpec extends SparkSpec {

  private val AllTypesSchema =
    """{"type": "record", "name": "AllTypes", "fields": [
      |  {"name": "s", "type": "string"},
      |  {"name": "l", "type": "long"},
      |  {"name": "i", "type": "int"},
      |  {"name": "d", "type": "double"},
      |  {"name": "b", "type": "boolean"},
      |  {"name": "y", "type": "bytes"},
      |  {"name": "ns", "type": ["null", "string"]},
      |  {"name": "nl", "type": ["long", "null"]},
      |  {"name": "ni", "type": ["null", "int"]},
      |  {"name": "nd", "type": ["double", "null"]},
      |  {"name": "nb", "type": ["null", "boolean"]},
      |  {"name": "ny", "type": ["bytes", "null"]}
      |]}""".stripMargin

  private val Schemas = Seq(AvroWire.MessageStatusSchema,
    AvroWire.MessageKeySchema, AllTypesSchema)

  private def sample[T](g: Gen[T], seed: Long): T =
    g.apply(Gen.Parameters.default, Seed(seed)).get

  /** Valid code points from 1 to 4 UTF-8 bytes (lone surrogates have
    * no UTF-8 form and would not round-trip through any encoder). */
  private val strGen: Gen[String] = Gen.listOf(Gen.frequency(
    4 -> Gen.choose(0x20, 0x7e), 1 -> Gen.choose(0, 0x1f),
    2 -> Gen.choose(0x80, 0x7ff), 2 -> Gen.choose(0x800, 0xd7ff),
    2 -> Gen.choose(0x10000, 0x10ffff)))
    .map(cps => new String(cps.toArray, 0, cps.length))
  private val longGen: Gen[Long] = Gen.frequency(
    3 -> Gen.long, 2 -> Gen.choose(-300L, 300L),
    1 -> Gen.oneOf(Long.MinValue, Long.MaxValue, 0L, -1L, 63L, -64L, 64L))
  private val intGen: Gen[Int] = Gen.frequency(
    3 -> Gen.choose(Int.MinValue, Int.MaxValue), 2 -> Gen.choose(-300, 300),
    1 -> Gen.oneOf(Int.MinValue, Int.MaxValue, 0, -1))
  private val doubleGen: Gen[Double] = Gen.frequency(
    4 -> Gen.double, 2 -> Gen.choose(-1e6, 1e6),
    1 -> Gen.oneOf(Double.NaN, Double.PositiveInfinity,
      Double.NegativeInfinity, -0.0, Double.MinPositiveValue))
  private val bytesGen: Gen[Array[Byte]] = Gen.listOf(Gen.choose(-128, 127))
    .map(_.map(_.toByte).toArray)

  /** A random row of `struct` as Scala values (null where a nullable
    * field draws None). */
  private def rowGen(struct: StructType): Gen[Seq[Any]] =
    Gen.sequence[Seq[Any], Any](struct.fields.toSeq.map { f =>
      val v: Gen[Any] = f.dataType match {
        case StringType => strGen
        case LongType => longGen
        case IntegerType => intGen
        case DoubleType => doubleGen
        case BooleanType => Gen.oneOf(false, true)
        case BinaryType => bytesGen
      }
      if (f.nullable) Gen.frequency(1 -> Gen.const(null), 3 -> v) else v
    })

  private def internal(values: Seq[Any]): InternalRow = InternalRow.fromSeq(values.map {
    case s: String => UTF8String.fromString(s)
    case v => v
  })

  /** The reference: Avro's writer over a `GenericData.Record`. */
  private def avroBytes(schemaJson: String, values: Seq[Any]): Array[Byte] = {
    val schema = new Schema.Parser().parse(schemaJson)
    val rec = new GenericData.Record(schema)
    values.zipWithIndex.foreach { case (v, i) =>
      rec.put(i, v match {
        case b: Array[Byte] => java.nio.ByteBuffer.wrap(b)
        case other => other
      })
    }
    val out = new ByteArrayOutputStream()
    val enc = EncoderFactory.get().binaryEncoder(out, null)
    new GenericDatumWriter[GenericRecord](schema).write(rec, enc)
    enc.flush()
    out.toByteArray
  }

  private def encode(schemaJson: String, values: Seq[Any],
      confluentId: Option[Int] = None): Array[Byte] = {
    val struct = AvroWire.structFor(schemaJson)
    AvroEncode(BoundReference(0, struct, nullable = false), schemaJson, confluentId)
      .eval(InternalRow(internal(values))).asInstanceOf[Array[Byte]]
  }

  private def decode(schemaJson: String, bytes: Array[Byte],
      confluentId: Option[Int] = None): InternalRow =
    AvroDecode(BoundReference(0, BinaryType, nullable = false), schemaJson, confluentId)
      .eval(InternalRow(bytes)).asInstanceOf[InternalRow]

  /** Comparable form of a row: strings as Java strings, bytes as a Seq,
    * doubles by their bits (NaN equals itself). */
  private def canon(struct: StructType, row: InternalRow): Seq[Any] =
    struct.fields.indices.map { i =>
      if (row.isNullAt(i)) null
      else struct(i).dataType match {
        case StringType => row.getUTF8String(i).toString
        case LongType => row.getLong(i)
        case IntegerType => row.getInt(i)
        case DoubleType => java.lang.Double.doubleToRawLongBits(row.getDouble(i))
        case BooleanType => row.getBoolean(i)
        case BinaryType => row.getBinary(i).toSeq
      }
    }

  test("AvroEncode writes GenericDatumWriter's bytes; AvroDecode reads them back") {
    for (schemaJson <- Schemas; seed <- 1L to 200L) {
      val struct = AvroWire.structFor(schemaJson)
      val values = sample(rowGen(struct), seed)
      val want = avroBytes(schemaJson, values)
      val clue = s"schema ${struct.simpleString}, seed $seed"
      assert(encode(schemaJson, values).toSeq == want.toSeq, clue)
      assert(encode(schemaJson, values, Some(258)).toSeq ==
        (Seq[Byte](0, 0, 0, 1, 2) ++ want), clue)
      assert(canon(struct, decode(schemaJson, want)) ==
        canon(struct, internal(values)), clue)
      assert(canon(struct, decode(schemaJson, Array[Byte](0, 0, 0, 1, 2) ++ want,
        Some(258))) == canon(struct, internal(values)), clue)
      // every strict prefix of a body ends inside some field
      (0 until want.length).foreach { k =>
        intercept[IllegalArgumentException](decode(schemaJson, want.take(k)))
      }
    }
  }

  test("a negative string or bytes length throws") {
    // zigzag varints of -1 and Long.MinValue, then one byte of payload
    val negatives = Seq(Array[Byte](0x01), Array.fill[Byte](9)(0xff.toByte) :+ 0x01.toByte)
    for (len <- negatives) {
      for (schemaJson <- Seq(AvroWire.MessageKeySchema,
          """{"type": "record", "name": "B", "fields": [{"name": "y", "type": "bytes"}]}""")) {
        val ex = intercept[IllegalArgumentException](decode(schemaJson, len :+ 'x'.toByte))
        assert(ex.getMessage.contains("negative length"), ex.getMessage)
      }
    }
  }

  test("a null in a non-nullable field throws") {
    for (schemaJson <- Schemas; seed <- 1L to 20L) {
      val struct = AvroWire.structFor(schemaJson)
      val values = sample(rowGen(struct), seed)
      struct.fields.indices.filterNot(struct(_).nullable).foreach { i =>
        val ex = intercept[IllegalArgumentException](
          encode(schemaJson, values.updated(i, null)))
        assert(ex.getMessage.contains(struct(i).name), ex.getMessage)
      }
    }
  }

  test("generated code writes and reads the same bytes as the reference") {
    val st = AvroWire.structFor(AllTypesSchema)
    val rows = (1L to 300L).map(seed => sample(rowGen(st), seed))
    // an RDD-backed frame, so the projection runs in generated code
    // rather than being folded into a local relation by the optimizer
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map(Row.fromSeq), 3), st)
    val all = struct(st.fieldNames.map(col).toSeq: _*)
    val enc = df.select(AvroWire.toAvroConfluent(all, AllTypesSchema, 7).as("v"))
    val bytes = enc.collect().map(_.getAs[Array[Byte]](0).toSeq)
    assert(bytes.toSeq == rows.map(r => Seq[Byte](0, 0, 0, 0, 7) ++ avroBytes(AllTypesSchema, r)))
    val back = enc.select(AvroWire.fromAvroConfluent(col("v"), AllTypesSchema, 7).as("r"))
      .select("r.*").queryExecution.toRdd.map(_.copy()).collect()
    assert(back.map(canon(st, _)).toSeq == rows.map(r => canon(st, internal(r))))
  }
}
