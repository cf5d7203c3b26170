package graft.functions

import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets.UTF_8
import java.util.Arrays

import scala.jdk.CollectionConverters._

import org.apache.avro.Schema
import org.apache.avro.Schema.Type
import org.apache.avro.generic.{GenericDatumReader, GenericRecord}
import org.apache.avro.io.DecoderFactory
import org.apache.avro.util.Utf8

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, SpecializedGetters, TernaryExpression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodegenFallback, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, GenericArrayData}
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.graft.ErrorBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** Avro binary encode/decode of a struct (SURVEY.md §7.4). The sandbox
  * Spark build ships avro-core but not the spark-avro module, so
  * `to_avro`/`from_avro` are unavailable; these are custom Catalyst
  * expressions.
  *
  * Encode is compiled from the writer schema at plan time into a
  * program of small field writers ([[AvroWriter]]) that runs inside
  * whole-stage codegen ([[EnvelopeExpr]]): it puts zig-zag varints,
  * `UTF8String` bytes, union indexes and map blocks straight into one
  * reused [[AvroBuffer]], with no generic Avro record in between.
  * Supported Spark types, each with its Avro type: string (string);
  * int, byte, short and date (int); long and timestamp-micros (long);
  * float; double; boolean; binary and decimal as unscaled big-endian
  * two's-complement bytes (bytes); `map<string, …>` (map, NULL values
  * omitted, F3); and `["null", T]` unions for NULL cells. The bytes are
  * those Avro's generic writer gives for the same record, except that
  * a map with two or more entries is written in Spark's map order.
  *
  * Decode reads through Avro's `GenericDatumReader` (which also does
  * schema resolution) and is `CodegenFallback`: one virtual call per
  * row at the consumer edge, the price the reference pays calling its
  * deserializer (`AvroVersionedRecordDeserializer.scala:38-47`). */
object AvroCodec {
  import org.apache.spark.sql.graft.ColumnBridge.{column, expression}

  /** struct → Avro binary (writer schema fixed at plan time): the
    * payload of a [[Envelope.seal]] frame, without its header. */
  def encode(c: Column, schemaJson: String): Column =
    Envelope.slicePayload(envelope(lit(0), lit(0), c, schemaJson))

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

  /** `MAGIC | MTYPE | SCHEMA_ID(2B BE) | body`: `body` is a record
    * encoded under `schemaJson`, or with `schemaJson = null` a binary
    * payload copied as it is. Used by [[Envelope.seal]],
    * [[Envelope.frame]] and [[encode]]. */
  private[functions] def envelope(mtype: Column, schemaId: Column,
      body: Column, schemaJson: String): Column =
    column(EnvelopeExpr(expression(mtype.cast(LongType)),
      expression(schemaId.cast(LongType)), expression(body), schemaJson))

  private[functions] def parse(json: String): Schema =
    new Schema.Parser().parse(json)

  /** The Avro type a Spark value of `dt` is written as. */
  private[functions] def avroType(dt: DataType): Type = dt match {
    case StringType => Type.STRING
    case IntegerType | ByteType | ShortType | DateType => Type.INT
    case LongType | TimestampType => Type.LONG
    case FloatType => Type.FLOAT
    case DoubleType => Type.DOUBLE
    case BooleanType => Type.BOOLEAN
    case BinaryType | _: DecimalType => Type.BYTES
    case MapType(StringType, _, _) => Type.MAP
    case other => throw new UnsupportedOperationException(s"avro codec of $other")
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

  /** Fails unless `s` is the Avro type of `dt`. */
  private[functions] def expect(s: Schema, dt: DataType, at: String): Unit =
    if (s.getType != avroType(dt))
      throw new UnsupportedOperationException(
        s"avro codec of $dt as ${s.getType.getName} at $at")
}

/** The output of the compiled writer: one growable array, reused row
  * after row by one generated task (never shared across tasks or
  * threads), and copied out once per row by [[result]]. */
final class AvroBuffer {
  private var buf = new Array[Byte](256)
  private var pos = 0

  def reset(): Unit = pos = 0

  /** The bytes written since [[reset]]. */
  def result(): Array[Byte] = Arrays.copyOf(buf, pos)

  private def room(n: Int): Unit =
    if (buf.length - pos < n)
      buf = Arrays.copyOf(buf, math.max(buf.length * 2, pos + n))

  /** The frame header; the caller has checked both ranges. */
  def writeHeader(mtype: Long, schemaId: Long): Unit = {
    room(4)
    buf(pos) = Envelope.Magic.toByte
    buf(pos + 1) = mtype.toByte
    buf(pos + 2) = (schemaId >> 8).toByte
    buf(pos + 3) = schemaId.toByte
    pos += 4
  }

  def writeRaw(b: Array[Byte]): Unit = {
    room(b.length)
    System.arraycopy(b, 0, buf, pos, b.length)
    pos += b.length
  }

  /** Avro int and long alike: zig-zag, then base-128 varint. */
  def writeLong(v: Long): Unit = {
    room(10)
    var n = (v << 1) ^ (v >> 63)
    while ((n & ~0x7FL) != 0) {
      buf(pos) = ((n & 0x7F) | 0x80).toByte
      pos += 1
      n >>>= 7
    }
    buf(pos) = n.toByte
    pos += 1
  }

  private def writeLE(bits: Long, n: Int): Unit = {
    room(n)
    var k = 0
    while (k < n) { buf(pos + k) = (bits >>> (8 * k)).toByte; k += 1 }
    pos += n
  }

  def writeFloat(f: Float): Unit =
    writeLE(java.lang.Float.floatToRawIntBits(f) & 0xFFFFFFFFL, 4)

  def writeDouble(d: Double): Unit =
    writeLE(java.lang.Double.doubleToRawLongBits(d), 8)

  def writeBoolean(b: Boolean): Unit = {
    room(1); buf(pos) = if (b) 1 else 0; pos += 1
  }

  def writeBytes(b: Array[Byte]): Unit = { writeLong(b.length); writeRaw(b) }

  /** Valid UTF-8 is copied as it is; a malformed string is written as
    * its Java decoding re-encoded, as Avro's `writeString` writes it. */
  def writeString(s: UTF8String): Unit =
    if (s.isValid) {
      val n = s.numBytes
      writeLong(n)
      room(n)
      s.writeToMemory(buf, Platform.BYTE_ARRAY_OFFSET + pos)
      pos += n
    } else writeBytes(s.toString.getBytes(UTF_8))

  /** The unscaled value (at the Spark type's scale) as its minimal
    * big-endian two's complement, as `BigInteger.toByteArray` gives it. */
  def writeDecimal(d: Decimal): Unit =
    if (d.precision <= Decimal.MAX_LONG_DIGITS) {
      val v = d.toUnscaledLong
      val n = (64 - java.lang.Long.numberOfLeadingZeros(if (v < 0) ~v else v)) / 8 + 1
      writeLong(n)
      room(n)
      var k = 0
      while (k < n) { buf(pos + k) = (v >> (8 * (n - 1 - k))).toByte; k += 1 }
      pos += n
    } else writeBytes(d.toJavaBigDecimal.unscaledValue.toByteArray)
}

object AvroBuffer {
  /** The header guards: a value past its field's width would corrupt
    * the wire id, so it fails the query (as `raise_error` does). */
  def checkMtype(v: Long): Unit =
    if (v < 0 || v > 0xFF)
      throw ErrorBridge.raise(s"envelope mtype out of byte range: $v")

  def checkSchemaId(v: Long): Unit =
    if (v < 0 || v > 0xFFFF)
      throw ErrorBridge.raise(s"envelope schema id out of 2-byte range: $v")
}

/** Writes the value at ordinal `i` of `src` (a row or a map's value
  * array) to `out`. */
private[functions] trait AvroPut {
  def apply(src: SpecializedGetters, i: Int, out: AvroBuffer): Unit
}

/** The writer program for one (record schema, struct type) pair:
  * one [[AvroPut]] per schema field, in schema order. A schema field
  * reads the struct field of its name; one the struct lacks is NULL. */
final class AvroWriter(schema: Schema, struct: StructType) {
  import AvroCodec.expect

  if (schema.getType != Type.RECORD)
    throw new UnsupportedOperationException(s"avro encode of $schema")

  private val fields = schema.getFields.asScala.toArray
  private val ordinals = fields.map(f => struct.fieldNames.lastIndexOf(f.name))
  private val puts = fields.zip(ordinals).map { case (f, i) =>
    field(f.schema, if (i < 0) None else Some(struct(i).dataType),
      s"${schema.getName}.${f.name}")
  }

  def write(row: InternalRow, out: AvroBuffer): Unit = {
    var k = 0
    while (k < puts.length) { puts(k)(row, ordinals(k), out); k += 1 }
  }

  private def npe(s: Schema, at: String) = new NullPointerException(
    s"null value for (non-nullable) ${s.getType.getName} at $at")

  /** A field of type `s` holding `dt` (None: a field the struct lacks,
    * so always NULL). A NULL takes the union's null branch; a field
    * with no null branch fails, as Avro's generic writer does. */
  private def field(s: Schema, dt: Option[DataType], at: String): AvroPut =
    if (s.getType == Type.UNION) {
      val branches = s.getTypes.asScala
      val nullIx = branches.indexWhere(_.getType == Type.NULL)
      def writeNull(out: AvroBuffer): Unit =
        if (nullIx < 0) throw npe(s, at) else out.writeLong(nullIx)
      dt match {
        case None => (_, _, out) => writeNull(out)
        case Some(t) =>
          val ix = branches.indexWhere(_.getType == AvroCodec.avroType(t))
          if (ix < 0) expect(s, t, at)
          val inner = value(branches(ix), t, at)
          (src, i, out) =>
            if (src.isNullAt(i)) writeNull(out)
            else { out.writeLong(ix); inner(src, i, out) }
      }
    } else dt match {
      case None => (_, _, _) => throw npe(s, at)
      case Some(t) =>
        val inner = value(s, t, at)
        (src, i, out) =>
          if (src.isNullAt(i)) throw npe(s, at) else inner(src, i, out)
    }

  /** A non-NULL value of `dt` under the non-union schema `s`. */
  private def value(s: Schema, dt: DataType, at: String): AvroPut = {
    expect(s, dt, at)
    dt match {
      case StringType => (src, i, out) => out.writeString(src.getUTF8String(i))
      case IntegerType | DateType => (src, i, out) => out.writeLong(src.getInt(i))
      case ByteType => (src, i, out) => out.writeLong(src.getByte(i))
      case ShortType => (src, i, out) => out.writeLong(src.getShort(i))
      case LongType | TimestampType =>
        (src, i, out) => out.writeLong(src.getLong(i))
      case FloatType => (src, i, out) => out.writeFloat(src.getFloat(i))
      case DoubleType => (src, i, out) => out.writeDouble(src.getDouble(i))
      case BooleanType => (src, i, out) => out.writeBoolean(src.getBoolean(i))
      case BinaryType => (src, i, out) => out.writeBytes(src.getBinary(i))
      case d: DecimalType =>
        (src, i, out) => out.writeDecimal(src.getDecimal(i, d.precision, d.scale))
      case MapType(_, vt, _) =>
        val inner = field(s.getValueType, Some(vt), s"$at[]")
        (src, i, out) => {
          val m = src.getMap(i)
          val keys = m.keyArray(); val vals = m.valueArray()
          val n = m.numElements()
          var live = 0
          var k = 0
          while (k < n) { if (!vals.isNullAt(k)) live += 1; k += 1 }
          // one block of the non-NULL entries, then the end marker
          if (live > 0) {
            out.writeLong(live)
            k = 0
            while (k < n) {
              if (!vals.isNullAt(k)) {
                out.writeString(keys.getUTF8String(k))
                inner(vals, k, out)
              }
              k += 1
            }
          }
          out.writeLong(0)
        }
    }
  }
}

/** The whole frame in one pass: `MAGIC | MTYPE | SCHEMA_ID(2B BE)`
  * into the task's buffer, then `body` (a struct encoded by the
  * compiled [[AvroWriter]] of `schemaJson`, or with `schemaJson = null`
  * a binary payload copied as it is), then one copy out. An mtype or
  * schema id out of its header width fails the query, also when
  * another input is NULL; a NULL input gives a NULL frame. */
case class EnvelopeExpr(mtype: Expression, schemaId: Expression,
    body: Expression, schemaJson: String)
    extends TernaryExpression {
  override def first: Expression = mtype
  override def second: Expression = schemaId
  override def third: Expression = body
  override def dataType: DataType = BinaryType
  override def prettyName: String = "envelope_seal"

  /** The compiled writer (none for a raw payload). */
  @transient lazy val writer: AvroWriter =
    if (schemaJson == null) null
    else new AvroWriter(AvroCodec.parse(schemaJson),
      body.dataType.asInstanceOf[StructType])
  /** Interpreted rows (constant folding, local relations on the driver)
    * may run on one shared instance from several threads, so each call
    * takes its own buffer; only generated code reuses one. */
  override def eval(input: InternalRow): Any = {
    val mt = mtype.eval(input)
    val sid = schemaId.eval(input)
    val b = body.eval(input)
    if (mt != null) AvroBuffer.checkMtype(mt.asInstanceOf[Long])
    if (sid != null) AvroBuffer.checkSchemaId(sid.asInstanceOf[Long])
    if (mt == null || sid == null || b == null) null
    else {
      val buffer = new AvroBuffer
      buffer.writeHeader(mt.asInstanceOf[Long], sid.asInstanceOf[Long])
      if (writer == null) buffer.writeRaw(b.asInstanceOf[Array[Byte]])
      else writer.write(b.asInstanceOf[InternalRow], buffer)
      buffer.result()
    }
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val bufCls = classOf[AvroBuffer].getName
    val buf = ctx.addMutableState(bufCls, "avroBuf", v => s"$v = new $bufCls();")
    val m = mtype.genCode(ctx)
    val s = schemaId.genCode(ctx)
    val b = body.genCode(ctx)
    val writeBody = if (schemaJson == null) s"$buf.writeRaw(${b.value});"
    else {
      val self = ctx.addReferenceObj("seal", this, getClass.getName)
      val w = ctx.addMutableState(classOf[AvroWriter].getName, "avroWriter",
        v => s"$v = $self.writer();")
      s"$w.write(${b.value}, $buf);"
    }
    ev.copy(code = code"""
      ${m.code}
      ${s.code}
      ${b.code}
      if (!${m.isNull}) $bufCls.checkMtype(${m.value});
      if (!${s.isNull}) $bufCls.checkSchemaId(${s.value});
      boolean ${ev.isNull} = ${m.isNull} || ${s.isNull} || ${b.isNull};
      byte[] ${ev.value} = null;
      if (!${ev.isNull}) {
        $buf.reset();
        $buf.writeHeader(${m.value}, ${s.value});
        $writeBody
        ${ev.value} = $buf.result();
      }""")
  }

  override protected def withNewChildrenInternal(newFirst: Expression,
      newSecond: Expression, newThird: Expression): Expression =
    copy(mtype = newFirst, schemaId = newSecond, body = newThird)
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
