package graft.functions

import graft.schema._
import java.nio.charset.StandardCharsets.ISO_8859_1
import java.util.concurrent.ConcurrentHashMap
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow,
  SpecializedGetters}
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData,
  GenericArrayData}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String
import scala.collection.mutable

/** Avro binary encoding compiled from graft schemas into trees of
  * specialised readers and writers over Catalyst values — the analog of
  * the reference's schema → IR → code pipeline (SURVEY.md,
  * `compiler.lua`/`il.lua`). Nothing is boxed into avro-java generic
  * values: the decoder reads zigzag varints and length-prefixed strings
  * straight into `UTF8String`/`InternalRow`/`ArrayData`, the encoder
  * writes straight from `InternalRow`/`ArrayData`.
  *
  * Wire format: standard Avro binary, with the nullable-`*` extension
  * written as the union `["null", T]` (a nullable union stays itself).
  *
  * Reader-schema evolution is lowered once from [[Compat.resolve]]: field
  * moves and alias renames become a writer-field → reader-slot table,
  * writer-only fields become skip routines that build nothing, reader-only
  * fields become precomputed default values, promotions and enum/union
  * remaps become per-node tables. Schema pairs `Compat` rejects are
  * rejected here, when the codec is built.
  *
  * Codecs are cached per schema text, so every expression and task of a
  * JVM over one schema (pair) shares one instance.
  */
object AvroCodec {

  private val decoders = new ConcurrentHashMap[(String, String), AvroDecoder]
  private val encoders = new ConcurrentHashMap[String, AvroEncoder]

  /** Decoder for payloads written with `writerJson`, read as `readerJson`. */
  def decoder(writerJson: String, readerJson: String): AvroDecoder =
    decoders.computeIfAbsent((writerJson, readerJson),
      _ => new AvroDecoder(writerJson, readerJson))

  def encoder(schemaJson: String): AvroEncoder =
    encoders.computeIfAbsent(schemaJson, _ => new AvroEncoder(schemaJson))

  private[functions] def corrupt(msg: String): Nothing =
    throw new IllegalArgumentException(s"Avro: corrupt payload: $msg")

  // -------------------------------------------------------------- input

  /** Cursor over one payload. */
  private[functions] final class In(buf: Array[Byte]) {
    private[this] var pos = 0

    def atEnd: Boolean = pos == buf.length
    def remaining: Int = buf.length - pos

    private def next(): Int = {
      if (pos >= buf.length) corrupt("truncated")
      val b = buf(pos)
      pos += 1
      b
    }

    def readLong(): Long = {
      var b = next()
      var n = (b & 0x7f).toLong
      var shift = 7
      while ((b & 0x80) != 0) {
        if (shift > 63) corrupt("varint longer than 10 bytes")
        b = next()
        n |= (b & 0x7fL) << shift
        shift += 7
      }
      (n >>> 1) ^ -(n & 1)
    }

    def readInt(): Int = {
      val n = readLong()
      if (n.toInt != n) corrupt(s"int out of range: $n")
      n.toInt
    }

    def readBoolean(): Boolean = next() == 1

    private def le(n: Int): Long = {
      if (remaining < n) corrupt("truncated")
      var v = 0L
      var i = 0
      while (i < n) { v |= (buf(pos + i) & 0xffL) << (8 * i); i += 1 }
      pos += n
      v
    }
    def readFloat(): Float = java.lang.Float.intBitsToFloat(le(4).toInt)
    def readDouble(): Double = java.lang.Double.longBitsToDouble(le(8))

    /** Validated length prefix. */
    def readLength(): Int = {
      val n = readLong()
      if (n < 0 || n > remaining) corrupt(s"length $n at byte $pos")
      n.toInt
    }

    /** Points into the payload without copying: Spark binary values are
      * immutable, so the string cannot change under the row.
      */
    def readUTF8(n: Int): UTF8String = {
      val s = UTF8String.fromBytes(buf, pos, n)
      pos += n
      s
    }

    def readBytes(n: Int): Array[Byte] = {
      if (n > remaining) corrupt("truncated")
      val b = java.util.Arrays.copyOfRange(buf, pos, pos + n)
      pos += n
      b
    }

    def skip(n: Int): Unit = {
      if (n > remaining) corrupt("truncated")
      pos += n
    }

    /** Item count of the next array/map block; negative counts carry a
      * byte size, which is not needed here.
      */
    def blockCount(): Long = {
      val n = readLong()
      if (n < 0) { readLong(); -n } else n
    }
  }

  // -------------------------------------------------------------- output

  /** Growable output buffer; one per thread, reused across rows. */
  private[functions] final class Out {
    private var buf = new Array[Byte](256)
    private var len = 0

    def reset(): Unit = len = 0
    def result(): Array[Byte] = java.util.Arrays.copyOf(buf, len)

    private def ensure(n: Int): Unit =
      if (len + n > buf.length)
        buf = java.util.Arrays.copyOf(buf, math.max(buf.length * 2, len + n))

    def byte(b: Int): Unit = { ensure(1); buf(len) = b.toByte; len += 1 }

    def long(v: Long): Unit = {
      ensure(10)
      var n = (v << 1) ^ (v >> 63)
      while ((n & ~0x7fL) != 0) {
        buf(len) = ((n & 0x7f) | 0x80).toByte
        len += 1
        n >>>= 7
      }
      buf(len) = n.toByte
      len += 1
    }

    private def le(v: Long, n: Int): Unit = {
      ensure(n)
      var i = 0
      while (i < n) { buf(len + i) = (v >>> (8 * i)).toByte; i += 1 }
      len += n
    }
    def float(f: Float): Unit = le(java.lang.Float.floatToRawIntBits(f), 4)
    def double(d: Double): Unit =
      le(java.lang.Double.doubleToRawLongBits(d), 8)

    def raw(b: Array[Byte], n: Int): Unit = {
      ensure(n)
      System.arraycopy(b, 0, buf, len, n)
      len += n
    }

    def utf8(s: UTF8String): Unit = {
      val n = s.numBytes()
      long(n)
      ensure(n)
      s.writeToMemory(buf, Platform.BYTE_ARRAY_OFFSET + len)
      len += n
    }
  }

  // -------------------------------------------------------------- decode

  /** Reads one value of a writer type as its reader type. */
  private[functions] sealed abstract class Dec {
    def read(in: In): Any
    /** Moves past the value without building it. */
    def skip(in: In): Unit
  }

  private final class PrimDec(from: String, to: String) extends Dec {
    private[this] val code = (from, to) match {
      case ("null", _) => 0
      case ("boolean", _) => 1
      case ("int", "int") => 2
      case ("int", "long") => 3
      case ("int", "float") => 4
      case ("int", "double") => 5
      case ("long", "long") => 6
      case ("long", "float") => 7
      case ("long", "double") => 8
      case ("float", "float") => 9
      case ("float", "double") => 10
      case ("double", _) => 11
      case ("string", "string") | ("bytes", "string") => 12
      case ("string", "bytes") | ("bytes", "bytes") => 13
      case other => throw new AvroSchemaError(
        s"Promotion ${other._1} -> ${other._2} unsupported in binary path")
    }
    def read(in: In): Any = (code: @scala.annotation.switch) match {
      case 0 => null
      case 1 => in.readBoolean()
      case 2 => in.readInt()
      case 3 => in.readInt().toLong
      case 4 => in.readInt().toFloat
      case 5 => in.readInt().toDouble
      case 6 => in.readLong()
      case 7 => in.readLong().toFloat
      case 8 => in.readLong().toDouble
      case 9 => in.readFloat()
      case 10 => in.readFloat().toDouble
      case 11 => in.readDouble()
      case 12 => in.readUTF8(in.readLength())
      case _ => in.readBytes(in.readLength())
    }
    def skip(in: In): Unit = (code: @scala.annotation.switch) match {
      case 0 => ()
      case 1 => in.skip(1)
      case 9 | 10 => in.skip(4)
      case 11 => in.skip(8)
      case 12 | 13 => in.skip(in.readLength())
      case _ => in.readLong()
    }
  }

  /** `["null", T]` on the wire: the nullable-`*` form. */
  private final class NullableDec(inner: Dec) extends Dec {
    def read(in: In): Any = in.readLong() match {
      case 0L => null
      case 1L => inner.read(in)
      case i => corrupt(s"union index $i of a nullable value")
    }
    def skip(in: In): Unit = in.readLong() match {
      case 0L => ()
      case 1L => inner.skip(in)
      case i => corrupt(s"union index $i of a nullable value")
    }
  }

  private final class FixedDec(size: Int) extends Dec {
    def read(in: In): Any = in.readBytes(size)
    def skip(in: In): Unit = in.skip(size)
  }

  /** `symbols(i)` is writer symbol i as its reader symbol, null when the
    * reader lacks it.
    */
  private final class EnumDec(writer: EnumType,
      symbols: Array[UTF8String]) extends Dec {
    def read(in: In): Any = {
      val i = in.readInt()
      if (i < 0 || i >= symbols.length) corrupt(s"enum index $i")
      val s = symbols(i)
      if (s == null) throw new IllegalArgumentException(
        s"Avro: symbol ${writer.symbols(i)} of enum ${writer.fullName} " +
          "has no match in the reader schema")
      s
    }
    def skip(in: In): Unit = in.readInt()
  }

  private final class ArrayDec(item: Dec) extends Dec {
    def read(in: In): Any = {
      var out = new Array[Any](0)
      var n = 0
      var count = in.blockCount()
      while (count != 0) {
        // a corrupt count must not size the array: cap it by the bytes left
        val want = n + math.min(count, in.remaining + 1L).toInt
        if (want > out.length) out = grow(out, want)
        var i = 0L
        while (i < count) {
          if (n == out.length) out = grow(out, n * 2)
          out(n) = item.read(in)
          n += 1
          i += 1
        }
        count = in.blockCount()
      }
      new GenericArrayData(if (n == out.length) out else grow(out, n))
    }
    private def grow(a: Array[Any], n: Int): Array[Any] = {
      val b = new Array[Any](n)
      System.arraycopy(a, 0, b, 0, math.min(a.length, n))
      b
    }
    def skip(in: In): Unit = {
      var count = in.blockCount()
      while (count != 0) {
        var i = 0L
        while (i < count) { item.skip(in); i += 1 }
        count = in.blockCount()
      }
    }
  }

  private final class MapDec(value: Dec) extends Dec {
    def read(in: In): Any = {
      val keys = mutable.ArrayBuffer.empty[Any]
      val values = mutable.ArrayBuffer.empty[Any]
      var count = in.blockCount()
      while (count != 0) {
        var i = 0L
        while (i < count) {
          keys += in.readUTF8(in.readLength())
          values += value.read(in)
          i += 1
        }
        count = in.blockCount()
      }
      new ArrayBasedMapData(new GenericArrayData(keys.toArray),
        new GenericArrayData(values.toArray))
    }
    def skip(in: In): Unit = {
      var count = in.blockCount()
      while (count != 0) {
        var i = 0L
        while (i < count) { in.skip(in.readLength()); value.skip(in); i += 1 }
        count = in.blockCount()
      }
    }
  }

  /** Writer fields in wire order; `slot(i)` is writer field i's reader
    * position, -1 for a writer-only field. Reader-only fields start as
    * their defaults in `template`.
    */
  private final class RecordDec(fields: Array[Dec], slot: Array[Int],
      template: Array[Any]) extends Dec {
    def read(in: In): Any = {
      val out = template.clone()
      var i = 0
      while (i < fields.length) {
        val s = slot(i)
        if (s >= 0) out(s) = fields(i).read(in) else fields(i).skip(in)
        i += 1
      }
      new GenericInternalRow(out)
    }
    def skip(in: In): Unit = {
      var i = 0
      while (i < fields.length) { fields(i).skip(in); i += 1 }
    }
  }

  /** Writer union branch i decodes through `branches(i)` into reader
    * branch `tags(i)` (-1: no match). A struct-form reader union
    * (`width` > 0) gets `$type$` = tag and the value in that branch's
    * slot; any other reader shape gets the bare value.
    */
  private final class UnionDec(writerIsUnion: Boolean,
      branches: Array[Dec], tags: Array[Int], slots: Array[Int],
      width: Int) extends Dec {
    private def branch(in: In): Int = {
      val i = if (writerIsUnion) in.readInt() else 0
      if (i < 0 || i >= branches.length) corrupt(s"union index $i")
      i
    }
    def read(in: In): Any = {
      val i = branch(in)
      val tag = tags(i)
      if (tag < 0) throw new IllegalArgumentException(
        s"Avro: writer union branch $i has no match in the reader schema")
      val v = branches(i).read(in)
      if (width == 0) v
      else {
        val row = new Array[Any](width)
        row(0) = tag
        if (slots(tag) > 0) row(slots(tag)) = v
        new GenericInternalRow(row)
      }
    }
    def skip(in: In): Unit = branches(branch(in)).skip(in)
  }

  private final class DecodeLowering(writer: AvroSchema,
      reader: AvroSchema) {
    private val open = mutable.Set.empty[Mapping.RecordM]

    private def nullable(n: Boolean, d: Dec): Dec =
      if (n) new NullableDec(d) else d

    def lower(m: Mapping): Dec = m match {
      case Mapping.Prim(from, to, n) => nullable(n, new PrimDec(from, to))
      case Mapping.FixedM(size, n) => nullable(n, new FixedDec(size))
      case Mapping.ArrayM(item, n) => nullable(n, new ArrayDec(lower(item)))
      case Mapping.MapM(value, n) => nullable(n, new MapDec(lower(value)))
      case e: Mapping.EnumM =>
        nullable(e.nullable, new EnumDec(e.from, e.i2o.map(
          _.map(o => UTF8String.fromString(e.to.symbols(o))).orNull).toArray))
      case r: Mapping.RecordM => nullable(r.nullable, record(r))
      case u: Mapping.UnionM => union(u)
    }

    private def record(r: Mapping.RecordM): Dec = {
      if (!open.add(r)) throw new AvroSchemaError(
        s"Recursive type ${r.to.fullName} unsupported in binary path")
      val d = new RecordDec(r.fieldIr.map(lower).toArray,
        r.i2o.map(_.getOrElse(-1)).toArray,
        r.to.fields.zip(r.o2i).map {
          case (f, None) => defaultValue(reader, f.tpe, f.default.get)
          case _ => null
        }.toArray)
      open -= r
      d
    }

    private def union(u: Mapping.UnionM): Dec = {
      val readerNullish = u.toBranches.exists(b =>
        b.typeName == "null" || b.nullable)
      // a primitive writer branch reads into the reader branch of its own
      // type when there is one: Compat takes the first branch it can be
      // read as, which would move an int branch into a long branch
      // placed before the int one
      val exact = u.fromBranches.map {
        case p: PrimitiveType => u.toBranches.indexWhere {
          case q: PrimitiveType => q.typeName == p.typeName
          case _ => false
        }
        case _ => -1
      }
      val branches = u.fromBranches.indices.map { i =>
        val w = u.fromBranches(i)
        if (exact(i) >= 0) lower(Mapping.Prim(w.typeName, w.typeName, false))
        else u.branchIr(i).map(lower).getOrElse(
          // a writer branch with no reader match still has to be
          // skippable; only reading it is an error
          lower(Compat.resolve(writer.subSchema(w), writer.subSchema(w))
            .toOption.get))
      }.toArray
      val nullTag = u.toBranches.indexWhere(_.typeName == "null")
      val tags = u.fromBranches.indices.map { i =>
        u.i2o(i) match {
          case _ if exact(i) >= 0 => exact(i)
          case Some(o) => o
          // null into a nullable reader that is not a union with a null
          case None if u.fromBranches(i).typeName == "null" &&
              readerNullish => math.max(nullTag, 0)
          case None => -1
        }
      }.toArray
      val structForm = u.toIsUnion &&
        !UnionType(u.toBranches).isNullableScalar
      val slots = new Array[Int](u.toBranches.length)
      var k = 0
      u.toBranches.indices.foreach { o =>
        if (u.toBranches(o).typeName != "null") { k += 1; slots(o) = k }
      }
      new UnionDec(u.fromIsUnion, branches, tags, slots,
        if (structForm) k + 1 else 0)
    }
  }

  /** A JSON default as the Catalyst value of reader type `t`. A union's
    * default takes the null branch when it is null, else the first branch
    * that can hold it.
    */
  private[functions] def defaultValue(s: AvroSchema, t0: AvroType,
      d: JValue): Any = (s.resolve(t0), d) match {
    case (_, JNull) if !s.resolve(t0).isInstanceOf[UnionType] => null
    case (u: UnionType, _) =>
      val bs = u.branches.map(s.resolve)
      val pick =
        if (d == JNull) bs.indexWhere(_.typeName == "null")
        else math.max(bs.indexWhere(b => b.typeName != "null" &&
          holds(b, d)), 0)
      val v = if (d == JNull) null else defaultValue(s, bs(pick), d)
      if (u.isNullableScalar) v
      else {
        val nonNull = bs.filter(_.typeName != "null")
        val row = new Array[Any](nonNull.length + 1)
        row(0) = pick
        if (v != null) row(bs.take(pick).count(_.typeName != "null") + 1) = v
        new GenericInternalRow(row)
      }
    case (PrimitiveType("boolean", _), JBool(b)) => b
    case (PrimitiveType("int", _), JLong(n)) => n.toInt
    case (PrimitiveType("long", _), JLong(n)) => n
    case (PrimitiveType("float", _), JLong(n)) => n.toFloat
    case (PrimitiveType("float", _), JDouble(x)) => x.toFloat
    case (PrimitiveType("double", _), JLong(n)) => n.toDouble
    case (PrimitiveType("double", _), JDouble(x)) => x
    case (PrimitiveType("string", _) | _: EnumType, JString(v)) =>
      UTF8String.fromString(v)
    case (PrimitiveType("bytes", _) | _: FixedType, JString(v)) =>
      v.getBytes(ISO_8859_1)
    case (a: ArrayType, JArray(items)) =>
      new GenericArrayData(items.map(defaultValue(s, a.items, _)).toArray)
    case (m: MapType, JObject(fs)) =>
      ArrayBasedMapData(fs.map(f => UTF8String.fromString(f._1): Any).toArray,
        fs.map(f => defaultValue(s, m.values, f._2)).toArray)
    case (r: RecordType, o: JObject) =>
      new GenericInternalRow(r.fields.map(f => defaultValue(s, f.tpe,
        o.get(f.name).orElse(f.default).getOrElse(JNull))).toArray)
    case (t, v) => throw new AvroSchemaError(
      s"Default ${v.render} does not fit ${t.displayName}")
  }

  private def holds(t: AvroType, d: JValue): Boolean = (t.typeName, d) match {
    case ("boolean", _: JBool) => true
    case ("int" | "long" | "float" | "double", _: JLong) => true
    case ("float" | "double", _: JDouble) => true
    case ("string" | "bytes" | "enum" | "fixed", _: JString) => true
    case ("array", _: JArray) => true
    case ("map" | "record", _: JObject) => true
    case _ => false
  }

  private[functions] def lowerDecode(writer: AvroSchema,
      reader: AvroSchema): Dec =
    Compat.resolve(writer, reader) match {
      case Right(m) => new DecodeLowering(writer, reader).lower(m)
      case Left(e) => throw new AvroSchemaError(
        s"Reader schema cannot read the writer schema: $e")
    }

  // -------------------------------------------------------------- encode

  /** Writes the value at `(c, i)`, which is not null. */
  private[functions] sealed abstract class Enc {
    def write(out: Out, c: SpecializedGetters, i: Int): Unit
  }

  private final class PrimEnc(tpe: String) extends Enc {
    private[this] val code = tpe match {
      case "null" => 0
      case "boolean" => 1
      case "int" => 2
      case "long" => 3
      case "float" => 4
      case "double" => 5
      case "string" => 6
      case "bytes" => 7
      case other => throw new AvroSchemaError(
        s"Type $other unsupported in binary path")
    }
    def write(out: Out, c: SpecializedGetters, i: Int): Unit =
      (code: @scala.annotation.switch) match {
        case 0 => ()
        case 1 => out.byte(if (c.getBoolean(i)) 1 else 0)
        case 2 => out.long(c.getInt(i))
        case 3 => out.long(c.getLong(i))
        case 4 => out.float(c.getFloat(i))
        case 5 => out.double(c.getDouble(i))
        case 6 => out.utf8(c.getUTF8String(i))
        case _ =>
          val b = c.getBinary(i)
          out.long(b.length)
          out.raw(b, b.length)
      }
  }

  private final class NullableEnc(inner: Enc) extends Enc {
    def write(out: Out, c: SpecializedGetters, i: Int): Unit =
      if (c.isNullAt(i)) out.byte(0)
      else { out.byte(2); inner.write(out, c, i) }
  }

  private final class FixedEnc(f: FixedType) extends Enc {
    def write(out: Out, c: SpecializedGetters, i: Int): Unit = {
      val b = c.getBinary(i)
      if (b.length != f.size) throw new IllegalArgumentException(
        s"Avro: fixed ${f.fullName} needs ${f.size} bytes, got ${b.length}")
      out.raw(b, b.length)
    }
  }

  private final class EnumEnc(e: EnumType) extends Enc {
    private[this] val index: Map[UTF8String, Int] =
      e.symbols.zipWithIndex.map { case (s, k) =>
        UTF8String.fromString(s) -> k }.toMap
    def write(out: Out, c: SpecializedGetters, i: Int): Unit = {
      val s = c.getUTF8String(i)
      out.long(index.getOrElse(s, throw new IllegalArgumentException(
        s"Avro: $s is not a symbol of enum ${e.fullName}")))
    }
  }

  private def nullIn(what: String): Nothing =
    throw new IllegalArgumentException(s"Avro: null value in non-nullable $what")

  /** `required`: the item type has no null on the wire. */
  private final class ArrayEnc(item: Enc, required: Boolean) extends Enc {
    def write(out: Out, c: SpecializedGetters, i: Int): Unit = {
      val a = c.getArray(i)
      val n = a.numElements()
      if (n > 0) {
        out.long(n)
        var j = 0
        while (j < n) {
          if (required && a.isNullAt(j)) nullIn("array item")
          item.write(out, a, j)
          j += 1
        }
      }
      out.byte(0)
    }
  }

  private final class MapEnc(value: Enc, required: Boolean) extends Enc {
    def write(out: Out, c: SpecializedGetters, i: Int): Unit = {
      val m = c.getMap(i)
      val n = m.numElements()
      if (n > 0) {
        out.long(n)
        val keys = m.keyArray()
        val values = m.valueArray()
        var j = 0
        while (j < n) {
          out.utf8(keys.getUTF8String(j))
          if (required && values.isNullAt(j)) nullIn("map value")
          value.write(out, values, j)
          j += 1
        }
      }
      out.byte(0)
    }
  }

  /** `required(k)`: field k has no null on the wire. */
  private[functions] final class RecordEnc(r: RecordType,
      fields: Array[Enc], required: Array[Boolean]) extends Enc {
    def writeRow(out: Out, row: InternalRow): Unit = {
      var k = 0
      while (k < fields.length) {
        if (required(k) && row.isNullAt(k))
          nullIn(s"field ${r.fullName}.${r.fields(k).name}")
        fields(k).write(out, row, k)
        k += 1
      }
    }
    def write(out: Out, c: SpecializedGetters, i: Int): Unit =
      writeRow(out, c.getStruct(i, fields.length))
  }

  /** A `["null", T]`-shaped union held as a bare nullable value. */
  private final class NullableUnionEnc(nullIndex: Int, inner: Enc)
      extends Enc {
    def write(out: Out, c: SpecializedGetters, i: Int): Unit =
      if (c.isNullAt(i)) out.long(nullIndex)
      else { out.long(1 - nullIndex); inner.write(out, c, i) }
  }

  /** Struct-form union: `$type$` picks the branch, its slot the value; a
    * null value goes out as the null branch when there is one.
    */
  private final class UnionEnc(branches: Array[Enc], slots: Array[Int],
      nullIndex: Int) extends Enc {
    private[this] val width = slots.count(_ > 0) + 1
    def write(out: Out, c: SpecializedGetters, i: Int): Unit = {
      val row = c.getStruct(i, width)
      val tag = row.getInt(0)
      if (tag < 0 || tag >= branches.length) throw new IllegalArgumentException(
        "Avro: union $type$ " + tag + " out of range")
      val slot = slots(tag)
      if (slot == 0 || row.isNullAt(slot)) {
        if (nullIndex < 0) nullIn("union")
        out.long(nullIndex)
      } else {
        out.long(tag)
        branches(tag).write(out, row, slot)
      }
    }
  }

  private[functions] final class EncodeLowering(s: AvroSchema) {
    private val open = mutable.Set.empty[String]

    /** The encoder of `t`; a nullable `T*` writes the union `["null", T]`. */
    def lower(t0: AvroType): Enc = {
      val t = s.resolve(t0)
      val base: Enc = t match {
        case PrimitiveType(n, _) => new PrimEnc(n)
        case f: FixedType => new FixedEnc(f)
        case e: EnumType => new EnumEnc(e)
        case a: ArrayType =>
          new ArrayEnc(lower(a.items), !SchemaConverters.isNullish(s, a.items))
        case m: MapType =>
          new MapEnc(lower(m.values), !SchemaConverters.isNullish(s, m.values))
        case r: RecordType => record(r)
        case u: UnionType =>
          val bs = u.branches.map(s.resolve)
          val nullIndex = bs.indexWhere(_.typeName == "null")
          if (u.isNullableScalar) new NullableUnionEnc(nullIndex,
            lower(bs(1 - nullIndex)))
          else {
            val slots = new Array[Int](bs.length)
            var k = 0
            bs.indices.foreach { o =>
              if (bs(o).typeName != "null") { k += 1; slots(o) = k }
            }
            new UnionEnc(bs.map(b => if (b.typeName == "null") null
              else lower(b)).toArray, slots, nullIndex)
          }
        case other => throw new AvroSchemaError(
          s"Type ${other.displayName} unsupported in binary path")
      }
      if (t.nullable && t.typeName != "null" && !t.isInstanceOf[UnionType])
        new NullableEnc(base)
      else base
    }

    def record(r: RecordType): RecordEnc = {
      if (!open.add(r.fullName)) throw new AvroSchemaError(
        s"Recursive type ${r.fullName} unsupported in binary path")
      val e = new RecordEnc(r, r.fields.map(f => lower(f.tpe)).toArray,
        r.fields.map(f => !SchemaConverters.isNullish(s, f.tpe)).toArray)
      open -= r.fullName
      e
    }
  }
}

/** Compiled decoder: Avro binary written with one schema, read as another,
  * into the reader schema's Catalyst value.
  */
final class AvroDecoder private[functions] (val writerJson: String,
    val readerJson: String) extends PayloadDecoder {
  // built eagerly, so an incompatible pair fails where the codec is
  // asked for; a deserialized copy is replaced by the cached instance
  @transient private val root = AvroCodec.lowerDecode(
    Avro.create(writerJson), Avro.create(readerJson))

  protected def decode(bytes: Array[Byte]): AnyRef = {
    val in = new AvroCodec.In(bytes)
    val v = root.read(in)
    if (!in.atEnd) AvroCodec.corrupt(s"${in.remaining} trailing bytes")
    v.asInstanceOf[AnyRef]
  }

  /** Splits `n` back-to-back payloads (an object-container block) into one
    * array each, skipping through them without decoding.
    */
  def split(block: Array[Byte], n: Long): Seq[Array[Byte]] = {
    val in = new AvroCodec.In(block)
    val out = Seq.newBuilder[Array[Byte]]
    var start = 0
    var i = 0L
    while (i < n) {
      root.skip(in)
      val end = block.length - in.remaining
      out += java.util.Arrays.copyOfRange(block, start, end)
      start = end
      i += 1
    }
    out.result()
  }

  private def readResolve(): AnyRef = AvroCodec.decoder(writerJson, readerJson)
}

/** Compiled encoder: a Catalyst value of a schema's type to Avro binary. */
final class AvroEncoder private[functions] (val schemaJson: String)
    extends Codec {
  @transient private val root: (AvroCodec.Out, AnyRef) => Unit = {
    val s = Avro.create(schemaJson)
    val lowering = new AvroCodec.EncodeLowering(s)
    s.resolve(s.root) match {
      case r: RecordType if !r.nullable =>
        val e = lowering.record(r)
        (out, v) => e.writeRow(out, v.asInstanceOf[InternalRow])
      case _ =>
        val e = lowering.lower(s.root)
        (out, v) => e.write(out, new GenericInternalRow(Array[Any](v)), 0)
    }
  }
  @transient private lazy val buffers =
    ThreadLocal.withInitial[AvroCodec.Out](() => new AvroCodec.Out)

  def apply(value: AnyRef): AnyRef = {
    val out = buffers.get()
    out.reset()
    root(out, value)
    out.result()
  }

  private def readResolve(): AnyRef = AvroCodec.encoder(schemaJson)
}
