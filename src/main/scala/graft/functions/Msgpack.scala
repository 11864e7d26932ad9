package graft.functions

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression,
  GenericInternalRow, SpecializedGetters}
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData,
  GenericArrayData}
import org.apache.spark.sql.functions.{col, struct}
import org.apache.spark.sql.graftshim
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** Minimal MessagePack codec for the reference's wire fast path.
  *
  * The reference's `flatten_msgpack` family keeps records ENCODED end to
  * end: a msgpack record comes in, a msgpack ARRAY of the flat tuple goes
  * out (runtime.lua:158–187 `msgpack_decode`/`msgpack_encode`; README.md:
  * 250–255). This engine's primary binary framing is Avro binary
  * ([[AvroBinary]] — self-describing via the schema registry model and
  * splittable container files, the right default on a Spark cluster), but
  * the msgpack FLAT-TUPLE framing is ratified here as a first-class wire
  * option so reference clients can hand tuples over unchanged:
  * [[encodeFlat]]/[[decodeFlat]] are the `flatten_msgpack`/
  * `unflatten_msgpack` byte contract for an already-flattened DataFrame
  * (records as arrays, positional fields — exactly the reference's tuple
  * layout).
  *
  * Supported types (the value model of runtime.lua's token array): nil,
  * bool, signed ints (fix/8/16/32/64 written; ALL int formats incl.
  * uint read), float32/64, str, bin, array, map. Encoding always picks
  * the smallest format — byte-compatible with what msgpack-lua emits for
  * the same values.
  *
  * [[encodeFlat]]/[[decodeFlat]] are Catalyst expressions compiled per
  * Spark schema ([[FlatEncoder]]/[[FlatDecoder]]): they read and write
  * `InternalRow` directly and generate code, so the framing runs inside
  * whole-stage codegen with no external-`Row` conversion.
  */
object Msgpack {

  // ------------------------------------------------------------- encode

  private final class Writer {
    private var buf = new Array[Byte](256)
    private var len = 0
    def reset(): Unit = len = 0
    private def ensure(n: Int): Unit =
      if (len + n > buf.length) {
        buf = java.util.Arrays.copyOf(buf,
          math.max(buf.length * 2, len + n))
      }
    def b(v: Int): Unit = { ensure(1); buf(len) = v.toByte; len += 1 }
    def u16(v: Int): Unit = { b(v >>> 8); b(v) }
    def u32(v: Int): Unit = { u16(v >>> 16); u16(v) }
    def u64(v: Long): Unit = { u32((v >>> 32).toInt); u32(v.toInt) }
    def raw(v: Array[Byte]): Unit = {
      ensure(v.length)
      System.arraycopy(v, 0, buf, len, v.length)
      len += v.length
    }
    def utf8(s: UTF8String): Unit = {
      strHeader(this, s.numBytes())
      ensure(s.numBytes())
      s.writeToMemory(buf, Platform.BYTE_ARRAY_OFFSET + len)
      len += s.numBytes()
    }
    def result(): Array[Byte] = java.util.Arrays.copyOf(buf, len)
  }

  private def strHeader(w: Writer, n: Int): Unit =
    if (n <= 31) w.b(0xa0 | n)
    else if (n <= 0xff) { w.b(0xd9); w.b(n) }
    else if (n <= 0xffff) { w.b(0xda); w.u16(n) }
    else { w.b(0xdb); w.u32(n) }

  private def binHeader(w: Writer, n: Int): Unit =
    if (n <= 0xff) { w.b(0xc4); w.b(n) }
    else if (n <= 0xffff) { w.b(0xc5); w.u16(n) }
    else { w.b(0xc6); w.u32(n) }

  private def arrayHeader(w: Writer, n: Int): Unit =
    if (n <= 15) w.b(0x90 | n)
    else if (n <= 0xffff) { w.b(0xdc); w.u16(n) }
    else { w.b(0xdd); w.u32(n) }

  private def mapHeader(w: Writer, n: Int): Unit =
    if (n <= 15) w.b(0x80 | n)
    else if (n <= 0xffff) { w.b(0xde); w.u16(n) }
    else { w.b(0xdf); w.u32(n) }

  private def writeValue(w: Writer, v: Any): Unit = v match {
    case null => w.b(0xc0)
    case b: Boolean => w.b(if (b) 0xc3 else 0xc2)
    case i: Byte => writeLong(w, i.toLong)
    case i: Short => writeLong(w, i.toLong)
    case i: Int => writeLong(w, i.toLong)
    case i: Long => writeLong(w, i)
    case f: Float => { w.b(0xca); w.u32(java.lang.Float.floatToIntBits(f)) }
    case d: Double =>
      w.b(0xcb); w.u64(java.lang.Double.doubleToLongBits(d))
    case s: String =>
      val bytes = s.getBytes("UTF-8")
      strHeader(w, bytes.length)
      w.raw(bytes)
    case bin: Array[Byte] =>
      binHeader(w, bin.length)
      w.raw(bin)
    case r: Row => writeArray(w, r.toSeq)
    case seq: scala.collection.Seq[_] => writeArray(w, seq)
    case m: scala.collection.Map[_, _] =>
      mapHeader(w, m.size)
      m.foreach { case (k, mv) => writeValue(w, k); writeValue(w, mv) }
    case other => throw new IllegalArgumentException(
      s"msgpack: unsupported value ${other.getClass.getName}")
  }

  private def writeArray(w: Writer, seq: scala.collection.Seq[_]): Unit = {
    arrayHeader(w, seq.length)
    seq.foreach(writeValue(w, _))
  }

  // positive values take the uint family, negative the int family —
  // the smallest-format rule msgpack-lua follows
  private def writeLong(w: Writer, v: Long): Unit =
    if (v >= 0) {
      if (v <= 0x7f) w.b(v.toInt)
      else if (v <= 0xff) { w.b(0xcc); w.b(v.toInt) }
      else if (v <= 0xffff) { w.b(0xcd); w.u16(v.toInt) }
      else if (v <= 0xffffffffL) { w.b(0xce); w.u32(v.toInt) }
      else { w.b(0xcf); w.u64(v) }
    } else {
      if (v >= -32) w.b(0xe0 | (v & 0x1f).toInt)
      else if (v >= Byte.MinValue) { w.b(0xd0); w.b(v.toInt) }
      else if (v >= Short.MinValue) { w.b(0xd1); w.u16(v.toInt) }
      else if (v >= Int.MinValue) { w.b(0xd2); w.u32(v.toInt) }
      else { w.b(0xd3); w.u64(v) }
    }

  /** Encode one value tree (null / Boolean / integral / Float / Double /
    * String / Array[Byte] / Seq / Row-as-array / Map) to msgpack bytes.
    */
  def encode(v: Any): Array[Byte] = {
    val w = new Writer
    writeValue(w, v)
    w.result()
  }

  // ------------------------------------------------------------- decode

  private final class Reader(buf: Array[Byte]) {
    var pos = 0
    def peek(): Int = buf(pos) & 0xff
    def u8(): Int = { val v = buf(pos) & 0xff; pos += 1; v }
    def i8(): Int = { val v = buf(pos).toInt; pos += 1; v }
    def u16(): Int = (u8() << 8) | u8()
    def u32(): Long = ((u16().toLong) << 16) | u16()
    def u64(): Long = (u32() << 32) | u32()
    def raw(n: Int): Array[Byte] = {
      val v = java.util.Arrays.copyOfRange(buf, pos, pos + n)
      pos += n
      v
    }
    def str(n: Int): String = new String(raw(n), "UTF-8")
    /** Points into the payload: Spark binary values are immutable. */
    def utf8(n: Int): UTF8String = {
      if (pos + n > buf.length) throw new ArrayIndexOutOfBoundsException(
        s"msgpack: string of $n bytes at $pos overruns the payload")
      val s = UTF8String.fromBytes(buf, pos, n)
      pos += n
      s
    }
  }

  private def readValue(r: Reader): Any = {
    val t = r.u8()
    if (t <= 0x7f) t.toLong // positive fixint
    else if (t >= 0xe0) (t - 256).toLong // negative fixint
    else if ((t & 0xf0) == 0x80) readMap(r, t & 0x0f)
    else if ((t & 0xf0) == 0x90) readArray(r, t & 0x0f)
    else if ((t & 0xe0) == 0xa0) r.str(t & 0x1f)
    else t match {
      case 0xc0 => null
      case 0xc2 => false
      case 0xc3 => true
      case 0xc4 => r.raw(r.u8())
      case 0xc5 => r.raw(r.u16())
      case 0xc6 => r.raw(r.u32().toInt)
      case 0xca => java.lang.Float.intBitsToFloat(r.u32().toInt)
      case 0xcb => java.lang.Double.longBitsToDouble(r.u64())
      case 0xcc => r.u8().toLong
      case 0xcd => r.u16().toLong
      case 0xce => r.u32()
      case 0xcf => r.u64() // uint64 > Long.Max wraps — documented limit
      case 0xd0 => r.i8().toLong
      case 0xd1 => r.u16().toShort.toLong
      case 0xd2 => r.u32().toInt.toLong
      case 0xd3 => r.u64()
      case 0xd9 => r.str(r.u8())
      case 0xda => r.str(r.u16())
      case 0xdb => r.str(r.u32().toInt)
      case 0xdc => readArray(r, r.u16())
      case 0xdd => readArray(r, r.u32().toInt)
      case 0xde => readMap(r, r.u16())
      case 0xdf => readMap(r, r.u32().toInt)
      case other => throw new IllegalArgumentException(
        f"msgpack: unsupported type byte 0x$other%02x at ${r.pos - 1}")
    }
  }

  private def readArray(r: Reader, n: Int): Vector[Any] =
    Vector.fill(n)(readValue(r))

  private def readMap(r: Reader, n: Int): Map[Any, Any] =
    Vector.fill(n)((readValue(r), readValue(r))).toMap

  /** Decode msgpack bytes to the value tree of [[encode]] (ints arrive
    * as Long, arrays as Vector, maps as Map). Trailing bytes are an
    * error — one value per buffer, the flat-tuple framing.
    */
  def decode(bytes: Array[Byte]): Any = {
    val r = new Reader(bytes)
    val v = readValue(r)
    checkEnd(r, bytes)
    v
  }

  private def checkEnd(r: Reader, bytes: Array[Byte]): Unit =
    if (r.pos != bytes.length) throw new IllegalArgumentException(
      s"msgpack: ${bytes.length - r.pos} trailing bytes")

  // ------------------------------------------- DataFrame flat framing

  /** `flatten_msgpack` byte contract: each row of an (already flattened)
    * DataFrame becomes ONE msgpack array of its positional values —
    * structs nest as arrays, exactly the reference's record-as-tuple
    * layout. Output: single binary column `as`.
    */
  def encodeFlat(df: DataFrame, as: String = "msgpack"): DataFrame = {
    val row = struct(df.columns.toIndexedSeq.map(c =>
      col("`" + c.replace("`", "``") + "`")): _*)
    df.select(graftshim.column(
      EncodeFlat(graftshim.expression(row))).as(as))
  }

  /** `unflatten_msgpack` inverse of [[encodeFlat]]: decode the msgpack
    * arrays in `col` back into typed columns per `schema`. Field values
    * are coerced from the wire formats (any int format → int/short/byte/
    * long columns, arrays → arrays/structs) — a decode-layer concern, same
    * as the reference resolving msgpack LONG tokens against the target
    * type.
    */
  def decodeFlat(df: DataFrame, colName: String,
      schema: StructType): DataFrame = {
    val tuple = "__msgpack_tuple"
    df.select(graftshim.column(DecodeFlat(
        graftshim.expression(df.col("`" + colName.replace("`", "``") + "`")),
        schema)).as(tuple))
      .select(s"$tuple.*")
  }

  // ------------------------------------------ compiled flat framing

  private type Put = (Writer, SpecializedGetters, Int) => Unit

  /** Writer of one slot of Spark type `dt`, null-aware. */
  private def put(dt: DataType): Put = {
    val p: Put = dt match {
      case NullType => (w, _, _) => w.b(0xc0)
      case BooleanType => (w, c, i) => w.b(if (c.getBoolean(i)) 0xc3 else 0xc2)
      case ByteType => (w, c, i) => writeLong(w, c.getByte(i))
      case ShortType => (w, c, i) => writeLong(w, c.getShort(i))
      case IntegerType => (w, c, i) => writeLong(w, c.getInt(i))
      case LongType => (w, c, i) => writeLong(w, c.getLong(i))
      case FloatType => (w, c, i) =>
        w.b(0xca); w.u32(java.lang.Float.floatToIntBits(c.getFloat(i)))
      case DoubleType => (w, c, i) =>
        w.b(0xcb); w.u64(java.lang.Double.doubleToLongBits(c.getDouble(i)))
      case StringType => (w, c, i) => w.utf8(c.getUTF8String(i))
      case BinaryType => (w, c, i) =>
        val b = c.getBinary(i)
        binHeader(w, b.length)
        w.raw(b)
      case st: StructType =>
        val fields = st.fields.map(f => put(f.dataType))
        (w, c, i) => putRow(w, c.getStruct(i, fields.length), fields)
      case ArrayType(et, _) =>
        val item = put(et)
        (w, c, i) =>
          val a = c.getArray(i)
          arrayHeader(w, a.numElements())
          var j = 0
          while (j < a.numElements()) { item(w, a, j); j += 1 }
      case MapType(kt, vt, _) =>
        val key = put(kt)
        val value = put(vt)
        (w, c, i) =>
          val m = c.getMap(i)
          mapHeader(w, m.numElements())
          val ks = m.keyArray()
          val vs = m.valueArray()
          var j = 0
          while (j < m.numElements()) { key(w, ks, j); value(w, vs, j); j += 1 }
      case other => throw new IllegalArgumentException(
        s"msgpack: unsupported type ${other.simpleString}")
    }
    (w, c, i) => if (c.isNullAt(i)) w.b(0xc0) else p(w, c, i)
  }

  private def putRow(w: Writer, row: InternalRow, fields: Array[Put]): Unit = {
    arrayHeader(w, fields.length)
    var k = 0
    while (k < fields.length) { fields(k)(w, row, k); k += 1 }
  }

  /** Reader of one value as Spark type `dt`; nil reads as null. A value
    * of another msgpack type is re-read generically to name it in the
    * error, as the value-tree path reports it.
    */
  private def get(dt: DataType): Reader => Any = {
    def mismatch(r: Reader, start: Int): Nothing = {
      r.pos = start
      val v = readValue(r)
      throw new IllegalArgumentException(
        s"msgpack: cannot decode ${v.getClass.getSimpleName} value" +
          s" '$v' as ${dt.simpleString}")
    }
    def integer(r: Reader): Long = {
      val start = r.pos
      val t = r.u8()
      if (t <= 0x7f) t.toLong
      else if (t >= 0xe0) (t - 256).toLong
      else t match {
        case 0xcc => r.u8().toLong
        case 0xcd => r.u16().toLong
        case 0xce => r.u32()
        case 0xcf => r.u64()
        case 0xd0 => r.i8().toLong
        case 0xd1 => r.u16().toShort.toLong
        case 0xd2 => r.u32().toInt.toLong
        case 0xd3 => r.u64()
        case _ => mismatch(r, start)
      }
    }
    def length(r: Reader, fix: Int, fixBits: Int, b8: Int, b16: Int,
        b32: Int): Int = {
      val start = r.pos
      val t = r.u8()
      if (fix >= 0 && (t & ~fixBits) == fix) t & fixBits
      else if (t == b8) r.u8()
      else if (t == b16) r.u16()
      else if (t == b32) r.u32().toInt
      else mismatch(r, start)
    }
    def arrayLength(r: Reader) = length(r, 0x90, 0x0f, -1, 0xdc, 0xdd)
    val g: Reader => Any = dt match {
      case LongType => r => integer(r)
      case IntegerType => r => integer(r).toInt
      case ShortType => r => integer(r).toShort
      case ByteType => r => integer(r).toByte
      case DoubleType => r =>
        if (r.peek() != 0xcb) mismatch(r, r.pos)
        r.u8()
        java.lang.Double.longBitsToDouble(r.u64())
      case FloatType => r =>
        if (r.peek() != 0xca) mismatch(r, r.pos)
        r.u8()
        java.lang.Float.intBitsToFloat(r.u32().toInt)
      case BooleanType => r => r.peek() match {
        case 0xc2 => r.u8(); false
        case 0xc3 => r.u8(); true
        case _ => mismatch(r, r.pos)
      }
      case StringType => r => r.utf8(length(r, 0xa0, 0x1f, 0xd9, 0xda, 0xdb))
      case BinaryType => r => r.raw(length(r, -1, 0, 0xc4, 0xc5, 0xc6))
      case st: StructType =>
        val fields = st.fields.map(f => get(f.dataType))
        val required = st.fields.map(!_.nullable)
        r => readRow(r, arrayLength(r), st, fields, required)
      case ArrayType(et, _) =>
        val item = get(et)
        r => {
          val n = arrayLength(r)
          val out = new Array[Any](n)
          var j = 0
          while (j < n) { out(j) = item(r); j += 1 }
          new GenericArrayData(out)
        }
      case MapType(kt, vt, _) =>
        val key = get(kt)
        val value = get(vt)
        r => {
          val n = length(r, 0x80, 0x0f, -1, 0xde, 0xdf)
          val ks = new Array[Any](n)
          val vs = new Array[Any](n)
          var j = 0
          while (j < n) { ks(j) = key(r); vs(j) = value(r); j += 1 }
          ArrayBasedMapData(ks, vs)
        }
      case NullType => r => mismatch(r, r.pos)
      case other => throw new IllegalArgumentException(
        s"msgpack: unsupported type ${other.simpleString}")
    }
    r => if (r.peek() == 0xc0) { r.u8(); null } else g(r)
  }

  private def readRow(r: Reader, n: Int, st: StructType,
      fields: Array[Reader => Any], required: Array[Boolean]): InternalRow = {
    require(n == fields.length,
      s"msgpack: tuple arity $n != schema ${fields.length}")
    val out = new Array[Any](n)
    var k = 0
    while (k < n) {
      out(k) = fields(k)(r)
      if (out(k) == null && required(k)) throw new IllegalArgumentException(
        s"msgpack: null for non-nullable field ${st.fields(k).name}")
      k += 1
    }
    new GenericInternalRow(out)
  }

  /** Compiled `flatten_msgpack` framing of one struct type. */
  final class FlatEncoder(schema: StructType) extends Codec {
    @transient private lazy val fields = schema.fields.map(f => put(f.dataType))
    @transient private lazy val buffers =
      ThreadLocal.withInitial[Writer](() => new Writer)
    def apply(input: AnyRef): AnyRef = {
      val w = buffers.get()
      w.reset()
      putRow(w, input.asInstanceOf[InternalRow], fields)
      w.result()
    }
  }

  /** Compiled `unflatten_msgpack` reader of one struct type. */
  final class FlatDecoder(schema: StructType) extends PayloadDecoder {
    @transient private lazy val tuple = get(schema)
    protected def decode(bytes: Array[Byte]): AnyRef = {
      if (bytes == null) throw new IllegalArgumentException(
        "msgpack: null payload")
      val r = new Reader(bytes)
      val t = r.peek()
      if ((t & 0xf0) != 0x90 && t != 0xdc && t != 0xdd)
        throw new IllegalArgumentException(
          s"msgpack: expected a tuple array, got ${readValue(r)}")
      val row = tuple(r)
      checkEnd(r, bytes)
      row.asInstanceOf[AnyRef]
    }
  }
}

/** [[Msgpack.encodeFlat]] of one struct value. */
case class EncodeFlat(child: Expression) extends CodecExpression {
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = false
  @transient lazy val codec: Codec =
    new Msgpack.FlatEncoder(child.dataType.asInstanceOf[StructType])
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** [[Msgpack.decodeFlat]] of one payload; a null payload is an error. */
case class DecodeFlat(child: Expression, schema: StructType)
    extends CodecExpression {
  override def dataType: DataType = schema
  override def nullable: Boolean = false
  @transient lazy val codec: Codec = new Msgpack.FlatDecoder(schema)
  override def eval(input: InternalRow): Any =
    codec(child.eval(input).asInstanceOf[AnyRef])
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
