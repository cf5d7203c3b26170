package graft.functions

import java.io.ByteArrayOutputStream
import java.nio.ByteBuffer

import org.apache.avro.Schema
import org.apache.avro.generic.{GenericData, GenericDatumReader, GenericDatumWriter, GenericRecord}
import org.apache.avro.io.{DecoderFactory, EncoderFactory}
import org.apache.avro.util.Utf8

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, GenericArrayData, MapData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Custom Catalyst expressions for Avro binary encode/decode of the
  * generic mutation record (SURVEY.md §7.4). The sandbox Spark build
  * ships avro-core but not the spark-avro module, so `to_avro`/
  * `from_avro` are unavailable — a custom `Expression` is the
  * preference-order answer (guide: compose built-ins > custom
  * Expression > full plan nodes > mapPartitions).
  *
  * Both expressions are CodegenFallback: they sit at the serialization
  * edge of the pipeline (sink/source boundary, reference
  * KafkaGenericAvroSerializer.scala:70-116 / AvroVersionedRecord-
  * Deserializer.scala:38-47), not inside relational hot loops, so
  * breaking whole-stage codegen there costs one virtual call per row —
  * the same price the reference pays calling its serializer.
  */
object AvroCodec {
  import org.apache.spark.sql.graft.ColumnBridge.{column, expression}

  /** struct → Avro binary (writer schema fixed at plan time). */
  def encode(c: Column, schemaJson: String): Column =
    column(AvroEncodeExpr(expression(c), schemaJson))

  /** Avro binary written under `writerJson` (default: the reader) →
    * struct, in the `readerJson` shape `as` (both schemas fixed at
    * plan time). A writer other than the reader decodes through Avro
    * schema resolution: fields the writer lacks take the reader's
    * defaults, fields the reader dropped are skipped. `lenient = true`
    * maps per-row decode failures (corrupt payloads, incompatible
    * resolution) to NULL — the consumer's skip-undecodable contract;
    * the default stays STRICT so tests and batch codecs fail loudly on
    * real bugs. Frames are read through [[Envelope.open]]. */
  def decode(c: Column, readerJson: String, as: StructType,
      writerJson: String = null, lenient: Boolean = false): Column =
    column(AvroDecodeExpr(expression(c), readerJson, as,
      if (writerJson == readerJson) null else writerJson, lenient))

  private[functions] def sparkToAvro(v: Any, dt: DataType, fieldSchema: Schema): AnyRef =
    dt match {
      case StringType => v.toString
      case IntegerType => Integer.valueOf(v.asInstanceOf[Int])
      case LongType => java.lang.Long.valueOf(v.asInstanceOf[Long])
      case ByteType => Integer.valueOf(v.asInstanceOf[Byte].toInt)
      case ShortType => Integer.valueOf(v.asInstanceOf[Short].toInt)
      case DoubleType => java.lang.Double.valueOf(v.asInstanceOf[Double])
      case FloatType => java.lang.Float.valueOf(v.asInstanceOf[Float])
      case BooleanType => java.lang.Boolean.valueOf(v.asInstanceOf[Boolean])
      case BinaryType => ByteBuffer.wrap(v.asInstanceOf[Array[Byte]])
      // Avro decimal logical-type convention: unscaled big-endian
      // two's-complement bytes; scale is fixed by the schema.
      case _: DecimalType => ByteBuffer.wrap(
        v.asInstanceOf[Decimal].toJavaBigDecimal.unscaledValue().toByteArray)
      // Spark-internal days-since-epoch Int / micros-since-epoch Long
      // ride as Avro int(date) / long(timestamp-micros).
      case DateType => Integer.valueOf(v.asInstanceOf[Int])
      case TimestampType => java.lang.Long.valueOf(v.asInstanceOf[Long])
      case MapType(StringType, vt, _) =>
        val m = v.asInstanceOf[MapData]
        val jm = new java.util.HashMap[String, AnyRef](m.numElements())
        val keys = m.keyArray(); val vals = m.valueArray()
        val valueSchema = resolveNonNull(fieldSchema).getValueType
        var i = 0
        while (i < m.numElements()) {
          if (!vals.isNullAt(i))
            jm.put(keys.getUTF8String(i).toString,
              sparkToAvro(vals.get(i, vt), vt, valueSchema))
          i += 1
        }
        jm
      case other =>
        throw new UnsupportedOperationException(s"avro encode of $other")
    }

  private[functions] def avroToSpark(v: AnyRef, dt: DataType): Any =
    (v, dt) match {
      case (null, _) => null
      case (s: Utf8, StringType) => UTF8String.fromString(s.toString)
      case (s: CharSequence, StringType) => UTF8String.fromString(s.toString)
      case (i: Integer, IntegerType) => i.intValue()
      case (i: Integer, ByteType) => i.byteValue()
      case (i: Integer, ShortType) => i.shortValue()
      case (l: java.lang.Long, LongType) => l.longValue()
      case (d: java.lang.Double, DoubleType) => d.doubleValue()
      case (f: java.lang.Float, FloatType) => f.floatValue()
      case (b: java.lang.Boolean, BooleanType) => b.booleanValue()
      case (b: ByteBuffer, BinaryType) =>
        val arr = new Array[Byte](b.remaining()); b.duplicate().get(arr); arr
      case (b: ByteBuffer, d: DecimalType) =>
        val arr = new Array[Byte](b.remaining()); b.duplicate().get(arr)
        Decimal(new java.math.BigDecimal(
          new java.math.BigInteger(arr), d.scale), d.precision, d.scale)
      case (i: Integer, DateType) => i.intValue()
      case (l: java.lang.Long, TimestampType) => l.longValue()
      case (m: java.util.Map[_, _], MapType(StringType, vt, _)) =>
        val entries = m.asInstanceOf[java.util.Map[AnyRef, AnyRef]]
          .entrySet().toArray(Array.empty[AnyRef])
          .map(_.asInstanceOf[java.util.Map.Entry[AnyRef, AnyRef]])
        new ArrayBasedMapData(
          new GenericArrayData(entries.map(e =>
            UTF8String.fromString(e.getKey.toString): Any)),
          new GenericArrayData(entries.map(e =>
            avroToSpark(e.getValue, vt))))
      case (other, t) =>
        throw new UnsupportedOperationException(
          s"avro decode of ${other.getClass} as $t")
    }

  private[functions] def resolveNonNull(s: Schema): Schema =
    if (s.getType == Schema.Type.UNION)
      s.getTypes.toArray(Array.empty[AnyRef]).map(_.asInstanceOf[Schema])
        .find(_.getType != Schema.Type.NULL).getOrElse(s)
    else s
}

case class AvroEncodeExpr(child: Expression, schemaJson: String)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = BinaryType
  override def prettyName: String = "avro_encode"

  @transient private lazy val schema = new Schema.Parser().parse(schemaJson)
  @transient private lazy val writer = new GenericDatumWriter[GenericRecord](schema)
  @transient private lazy val childSchema = child.dataType.asInstanceOf[StructType]

  override def nullSafeEval(input: Any): Any = {
    val row = input.asInstanceOf[InternalRow]
    val rec = new GenericData.Record(schema)
    var i = 0
    while (i < childSchema.length) {
      val f = childSchema(i)
      if (schema.getField(f.name) != null && !row.isNullAt(i))
        rec.put(f.name, AvroCodec.sparkToAvro(row.get(i, f.dataType),
          f.dataType, schema.getField(f.name).schema()))
      i += 1
    }
    val baos = new ByteArrayOutputStream(256)
    val enc = EncoderFactory.get().binaryEncoder(baos, null)
    writer.write(rec, enc)
    enc.flush()
    baos.toByteArray
  }

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

case class AvroDecodeExpr(child: Expression, schemaJson: String,
    targetSchema: StructType, writerSchemaJson: String = null,
    lenient: Boolean = false)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = targetSchema
  // lenient mode can produce NULL from non-null input
  override def nullable: Boolean = lenient || super.nullable
  override def prettyName: String = "avro_decode"

  @transient private lazy val schema = new Schema.Parser().parse(schemaJson)
  // writer defaults to the reader; when they differ, GenericDatumReader
  // applies Avro schema resolution (writer-absent fields → reader
  // defaults, reader-absent fields skipped)
  @transient private lazy val writerSchema =
    if (writerSchemaJson == null) schema
    else new Schema.Parser().parse(writerSchemaJson)
  @transient private lazy val reader =
    new GenericDatumReader[GenericRecord](writerSchema, schema)

  override def nullSafeEval(input: Any): Any = {
    val bytes = input.asInstanceOf[Array[Byte]]
    try {
      val dec = DecoderFactory.get().binaryDecoder(bytes, null)
      val rec = reader.read(null, dec)
      InternalRow.fromSeq(targetSchema.fields.toSeq.map { f =>
        val avroField = schema.getField(f.name)
        if (avroField == null) null
        else AvroCodec.avroToSpark(rec.get(f.name), f.dataType)
      })
    } catch {
      // corrupt payload past the frame header, or writer/reader
      // resolution mismatch: a streaming consumer must SKIP (null),
      // not die — strict mode (tests, batch codecs) rethrows
      case e @ (_: java.io.IOException | _: org.apache.avro.AvroRuntimeException
          | _: ArrayIndexOutOfBoundsException) =>
        if (lenient) null else throw e
    }
  }

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}
