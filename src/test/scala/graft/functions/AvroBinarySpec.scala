package graft.functions

import graft.SparkTestBase
import graft.ops.Validate
import graft.schema._
import java.nio.ByteBuffer
import org.apache.avro.{Schema => JSchema}
import org.apache.avro.generic.{GenericData, GenericDatumReader,
  GenericDatumWriter, GenericFixed, GenericRecord}
import org.apache.avro.io.{DecoderFactory, EncoderFactory}
import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, MapData}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType => SArray, BinaryType,
  DataType, DoubleType, FloatType, MapType => SMap, StringType, StructType}
import org.apache.spark.unsafe.types.UTF8String
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Binary path: encode→decode round-trips and reader-schema evolution
  * (the `flatten_msgpack`/`unflatten_msgpack` analog), with avro-java as
  * the oracle: the compiled encoder must write exactly the bytes of
  * `GenericDatumWriter`, the compiled decoder must read what
  * `GenericDatumReader(writer, reader)` reads.
  */
class AvroBinarySpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._
  import AvroBinarySpec._

  private val personJson = """{"name":"person","type":"record","fields":[
    {"name":"FirstName","type":"string"},
    {"name":"Age","type":"int"},
    {"name":"Balance","type":"double"}]}"""

  test("encode → decode round-trip") {
    val s = Avro.create(personJson)
    val df = Seq(("John", 33, 12.5), ("Jane", 22, -3.25))
      .toDF("FirstName", "Age", "Balance")
    val bin = df.select(AvroBinary.toAvroBinary(
      struct(df.columns.map(col).toIndexedSeq: _*), s).as("b"))
    val back = bin.select(AvroBinary.fromAvroBinary(col("b"), s).as("r"))
      .select("r.*")
    assert(back.orderBy("Age").collect().toSeq ==
      Seq(Row("Jane", 22, -3.25), Row("John", 33, 12.5)))
  }

  test("decode with evolved reader: promotion + default + rename") {
    val w = Avro.create(personJson)
    val r = Avro.create("""{"name":"person","type":"record","fields":[
      {"name":"GivenName","type":"string","aliases":["FirstName"]},
      {"name":"Age","type":"long"},
      {"name":"Balance","type":"double"},
      {"name":"Tier","type":"string","default":"basic"}]}""")
    val df = Seq(("John", 33, 12.5)).toDF("FirstName", "Age", "Balance")
    val bin = df.select(AvroBinary.toAvroBinary(
      struct(df.columns.map(col).toIndexedSeq: _*), w).as("b"))
    val back = bin.select(AvroBinary.fromAvroBinary(col("b"), w, r).as("r"))
      .select("r.*")
    assert(back.columns.toSeq == Seq("GivenName", "Age", "Balance", "Tier"))
    assert(back.head() == Row("John", 33L, 12.5, "basic"))
  }

  test("nullable fields, enum, fixed, array, map round-trip") {
    val s = Avro.create("""{"name":"r","type":"record","fields":[
      {"name":"a","type":"string*"},
      {"name":"e","type":{"type":"enum","name":"E","symbols":["X","Y"]}},
      {"name":"fx","type":{"type":"fixed","name":"F2","size":2}},
      {"name":"xs","type":{"type":"array","items":"long"}},
      {"name":"m","type":{"type":"map","values":"string"}}]}""")
    val df = Seq(
      (Some("v"), "Y", Array[Byte](1, 2), Seq(1L, 2L), Map("k" -> "v")),
      (None, "X", Array[Byte](3, 4), Seq.empty[Long], Map.empty[String, String]))
      .toDF("a", "e", "fx", "xs", "m")
    val bin = df.select(AvroBinary.toAvroBinary(
      struct(df.columns.map(col).toIndexedSeq: _*), s).as("b"))
    val back = bin.select(AvroBinary.fromAvroBinary(col("b"), s).as("r"))
      .select("r.*")
    val rows = back.orderBy("e").collect()
    assert(rows(0).getString(1) == "X")
    assert(rows(0).isNullAt(0))
    assert(rows(1).getString(0) == "v")
    assert(rows(1).getSeq[Long](3).toList == List(1L, 2L))
    assert(rows(1).getMap[String, String](4).toMap == Map("k" -> "v"))
    assert(rows(1).getAs[Array[Byte]](2).toSeq == Seq[Byte](1, 2))
  }

  test("union of scalars round-trips through struct form") {
    val s = Avro.create("""{"name":"r","type":"record","fields":[
      {"name":"u","type":["null","int","string"]},
      {"name":"k","type":"int"}]}""")
    val sparkT = SchemaConverters.toStructType(s, s.rootRecord)
    val rows = Seq(
      Row(Row(1, 42, null), 1), // int branch
      Row(Row(2, null, "hi"), 2), // string branch
      Row(Row(0, null, null), 3)) // null branch
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows), sparkT)
    val bin = df.select(col("k"), AvroBinary.toAvroBinary(col("u"),
      schemaOf(s, "u")).as("b"))
    val back = bin.select(col("k"),
      AvroBinary.fromAvroBinary(col("b"), schemaOf(s, "u")).as("u"))
      .orderBy("k").collect()
    assert(back(0).getStruct(1) == Row(1, 42, null))
    assert(back(1).getStruct(1) == Row(2, null, "hi"))
    assert(back(2).getStruct(1) == Row(0, null, null))
  }

  private val pair = Avro.create("""{"name":"r","type":"record","fields":[
    {"name":"a","type":"long"},{"name":"b","type":"string"}]}""")

  test("corrupt payloads fail instead of decoding") {
    // [1,2,3] is a valid payload of this schema (a = -1, b = "\u0003");
    // these are not: a string running past the end, a negative length,
    // an unterminated varint, a byte left over
    for (bad <- Seq(Array[Byte](2, 10, 'x'), Array[Byte](2, 3, 'x'),
        Array[Byte](0x80.toByte), Array[Byte](2, 2, 'x', 0))) {
      val df = Seq(bad).toDF("b")
      val e = intercept[Exception](df.select(
        AvroBinary.fromAvroBinary(col("b"), pair).as("r")).collect())
      assert(e.getMessage.contains("Avro: corrupt payload"), e.getMessage)
    }
  }

  test("a null payload decodes to null") {
    val df = Seq[Option[Array[Byte]]](None).toDF("b")
    val r = df.select(AvroBinary.fromAvroBinary(col("b"), pair).as("r"))
      .collect()
    assert(r.length == 1 && r.head.isNullAt(0))
  }

  test("1,000 rows through one thread decode distinctly") {
    // strings point into their payload; no buffer may be shared by rows
    val df = spark.range(1000).coalesce(1).select(
      AvroBinary.toAvroBinary(struct(col("id").as("a"),
        concat(lit("s"), col("id")).as("b")), pair).as("bin"))
    val back = df.select(AvroBinary.fromAvroBinary(col("bin"), pair).as("r"))
      .select("r.*").collect()
    assert(back.map(_.getString(1)).distinct.length == 1000)
    assert(back.forall(r => r.getString(1) == s"s${r.getLong(0)}"))
  }

  test("decode → validate → filter decodes each payload once") {
    val w = Avro.create(personJson)
    val input = spark.range(0, 2000, 1, 4).select(col("id"),
      when(col("id") % 100 === 7, lit(null)).otherwise(
        AvroBinary.toAvroBinary(struct(concat(lit("n"), col("id")),
          col("id").cast("int"), col("id").cast("double")), w)).as("b"))
      .cache()
    val payloads = input.filter(col("b").isNotNull).count()
    val decoded = input.select(col("id"),
        AvroBinary.fromAvroBinary(col("b"), w).as("r"))
      .select(col("id"), col("r.*"))
    val valid = Validate(w, decoded).filter(col("_valid"))
    // the pushed-down filter tests several decoded fields below the
    // projection that decodes them again: one decode per payload all the
    // same
    val plan = valid.queryExecution.executedPlan.toString
    assert("fromavrobinary".r.findAllIn(plan).length > 1, plan)
    val codec = AvroCodec.decoder(w.exportString, w.exportString)
    val before = codec.decodes.sum()
    assert(valid.count() == payloads)
    assert(codec.decodes.sum() - before == payloads)
    input.unpersist()
  }

  test("incompatible schema pairs fail where the decoder is built") {
    val r = Avro.create("""{"name":"person","type":"record","fields":[
      {"name":"Age","type":"string"}]}""")
    val e = intercept[AvroSchemaError](
      AvroBinary.fromAvroBinary(col("b"), Avro.create(personJson), r))
    assert(e.getMessage.contains("cannot read the writer schema"))
  }

  test("encoder input must have the schema's object-form type") {
    val df = Seq(("John", 33L, 12.5)).toDF("FirstName", "Age", "Balance")
    val e = intercept[Exception](df.select(AvroBinary.toAvroBinary(
      struct(df.columns.map(col).toIndexedSeq: _*),
      Avro.create(personJson))).collect())
    assert(e.getMessage.contains("toAvroBinary needs"), e.getMessage)
  }

  test("property: encoder bytes = GenericDatumWriter, decoder = " +
      "GenericDatumReader(writer, reader) over random evolutions") {
    val prop = Prop.forAllNoShrink(genCase) { case (wj, rj, datums) =>
      val w = Avro.create(wj)
      val r = Avro.create(rj)
      assert(Compat.resolve(w, r).isRight, s"$wj\n$rj")
      val wJ = AvroJavaSchema.toJava(w)
      val rJ = AvroJavaSchema.toJava(r)
      val self = AvroCodec.decoder(wj, wj)
      val evolved = AvroCodec.decoder(wj, rj)
      val enc = AvroCodec.encoder(wj)
      val readerType = SchemaConverters.toSparkType(r, r.root)
      val oracle = new GenericDatumReader[AnyRef](wJ, rJ)
      datums.forall { d =>
        val bytes = avroBytes(wJ, d)
        val again = enc(self(bytes)).asInstanceOf[Array[Byte]]
        assert(again.sameElements(bytes),
          s"encoder bytes differ\nwriter $wj\ndatum $d\n" +
            again.map("%02x".format(_)).mkString + "\n" +
            bytes.map("%02x".format(_)).mkString)
        val want = canonOracle(r, r.root, rJ, oracle.read(null,
          DecoderFactory.get().binaryDecoder(bytes, null)))
        val got = canonNative(evolved(bytes), readerType)
        assert(got == want, s"decoded value differs\nwriter $wj\n" +
          s"reader $rj\ndatum $d")
        true
      }
    }
    val res = Test.check(Test.Parameters.default
      .withMinSuccessfulTests(300).withInitialSeed(Seed(20261017L)), prop)
    res.status match {
      case Test.PropException(_, e, _) => throw e
      case other => assert(res.passed, other.toString)
    }
  }

  /** Sub-schema handle for a single field's type. */
  private def schemaOf(s: AvroSchema, field: String): AvroSchema =
    s.subSchema(s.rootRecord.fields.find(_.name == field).get.tpe)
}

object AvroBinarySpec {

  // ------------------------------------------------- schema generator

  /** Generated schema model; named types get unique names afterwards. */
  sealed trait T
  final case class Prim(name: String, star: Boolean = false) extends T
  final case class Enum(name: String, symbols: Vector[String],
      aliases: Vector[String] = Vector.empty) extends T
  final case class Fixed(name: String, size: Int,
      aliases: Vector[String] = Vector.empty) extends T
  final case class Arr(items: T) extends T
  final case class Mp(values: T) extends T
  final case class Rec(name: String, fields: Vector[Fld],
      aliases: Vector[String] = Vector.empty) extends T
  final case class Fld(name: String, t: T,
      aliases: Vector[String] = Vector.empty, default: Option[String] = None)
  final case class Union(branches: Vector[T]) extends T

  private val prims = Vector("boolean", "int", "long", "float", "double",
    "string", "bytes")
  private val promotions = AvroPrimitives.promotions

  private def kind(t: T): String = t match {
    case Prim(n, _) => n
    case _: Enum => "enum"
    case _: Fixed => "fixed"
    case _: Arr => "array"
    case _: Mp => "map"
    case _: Rec => "record"
    case _: Union => "union"
  }

  private def genLeaf: Gen[T] = Gen.frequency(
    6 -> Gen.oneOf(prims).flatMap(n =>
      Gen.frequency(4 -> Prim(n), 1 -> Prim(n, star = true))),
    1 -> Gen.choose(1, 3).map(n => Enum("", Vector.tabulate(n)(i => s"S$i"))),
    1 -> Gen.choose(1, 4).map(n => Fixed("", n)))

  private def genT(depth: Int): Gen[T] =
    if (depth == 0) genLeaf
    else Gen.frequency(
      4 -> genLeaf,
      1 -> genT(depth - 1).map(Arr),
      1 -> genT(depth - 1).map(Mp),
      2 -> genRec(depth - 1),
      2 -> genUnion(depth - 1))

  private def genRec(depth: Int): Gen[Rec] = for {
    n <- Gen.choose(1, 4)
    ts <- Gen.listOfN(n, genT(depth))
  } yield Rec("", ts.zipWithIndex.map { case (t, i) => Fld(s"f$i", t) }
    .toVector)

  /** `["null", T]` or up to three branches of distinct kinds (records
    * may repeat: their names tell them apart).
    */
  private def genUnion(depth: Int): Gen[Union] = for {
    withNull <- Gen.oneOf(true, false)
    n <- Gen.choose(1, 3)
    bs <- Gen.listOfN(n, Gen.frequency(
      3 -> Gen.oneOf(prims).map(Prim(_)),
      1 -> genRec(depth),
      1 -> Gen.const(Enum("", Vector("A", "B"))),
      1 -> Gen.const(Fixed("", 2)),
      1 -> genT(0).map(Arr)))
    distinct = bs.foldLeft(Vector.empty[T])((acc, b) =>
      if (kind(b) != "record" && acc.exists(kind(_) == kind(b))) acc
      else acc :+ b)
    pos <- Gen.choose(0, distinct.length)
  } yield Union(if (withNull) distinct.patch(pos, Seq(Prim("null")), 0)
    else distinct)

  /** Give every named type a unique name, `prefix` first. */
  private def number(t: T, prefix: String): T = {
    var next = 0
    def name(k: String): String = { next += 1; s"$prefix$k$next" }
    def go(t: T): T = t match {
      case e: Enum => e.copy(name = name("E"))
      case f: Fixed => f.copy(name = name("F"))
      case Arr(i) => Arr(go(i))
      case Mp(v) => Mp(go(v))
      case r: Rec =>
        val n = name("R")
        r.copy(name = n, fields = r.fields.map(f => f.copy(t = go(f.t))))
      case Union(bs) => Union(bs.map(go))
      case p => p
    }
    go(t)
  }

  // ------------------------------------------------- reader evolution

  /** A reader `t` can read: promotions, nullable widening, added enum
    * symbols, renames through aliases, dropped/added/moved record fields
    * (added ones with defaults), evolved union branches. Union branches
    * keep their names (`rename` off): avro-java matches a renamed enum or
    * fixed branch by name only.
    */
  private def evolve(t: T, rename: Boolean = true): Gen[T] = t match {
    case Prim(n, star) => for {
      to <- Gen.oneOf(n +: promotions.getOrElse(n, Set.empty).toVector)
      widen <- Gen.frequency(4 -> false, 1 -> true)
    } yield Prim(to, star || widen && n != "null")
    case e: Enum => for {
      extra <- Gen.choose(0, 2)
      syms <- Gen.pick(e.symbols.length + extra,
        e.symbols ++ Vector.tabulate(extra)(i => s"X$i"))
      renamed <- Gen.oneOf(false, rename)
    } yield if (renamed) Enum(e.name + "v2", syms.toVector, Vector(e.name))
      else Enum(e.name, syms.toVector)
    case f: Fixed => Gen.oneOf(false, rename).map(renamed =>
      if (renamed) Fixed(f.name + "v2", f.size, Vector(f.name)) else f)
    case Arr(i) => evolve(i).map(Arr)
    case Mp(v) => evolve(v).map(Mp)
    case r: Rec => for {
      kept <- Gen.sequence[Vector[Option[Fld]], Option[Fld]](r.fields.map(f =>
        Gen.frequency(1 -> Gen.const(None), 4 -> (for {
          ft <- evolve(f.t)
          renamed <- Gen.frequency(3 -> false, 1 -> true)
        } yield Some(if (renamed) Fld(f.name + "n", ft, Vector(f.name))
          else Fld(f.name, ft))))))
      added <- Gen.choose(if (kept.flatten.isEmpty) 1 else 0, 2)
      fresh <- Gen.listOfN(added, genT(1))
      fields <- Gen.pick(kept.flatten.length + added, kept.flatten ++
        fresh.zipWithIndex.map { case (ft, i) =>
          val t2 = number(ft, s"${r.name}A$i")
          Fld(s"a$i", t2, default = Some(defaultOf(t2)))
        })
      renamed <- Gen.oneOf(false, rename)
    } yield Rec(if (renamed) r.name + "v2" else r.name, fields.toVector,
      if (renamed) Vector(r.name) else Vector.empty)
    case Union(bs) =>
      Gen.sequence[Vector[T], T](bs.map(b => evolve(b, rename = false).map {
        case Prim(n, _) => Prim(n)
        case other => other
      })).map { evolved =>
        // promoted primitives must not collide with another branch
        val kinds = evolved.map(kind).filter(_ != "record")
        Union(if (kinds.distinct.length == kinds.length) evolved
          else evolved.zip(bs).map {
            case (_: Prim, p) => p
            case (e, _) => e
          })
      }
  }

  /** JSON default of a reader-only field. */
  private def defaultOf(t: T): String = t match {
    case Prim(_, true) => "null"
    case Prim("boolean", _) => "true"
    case Prim("int", _) => "7"
    case Prim("long", _) => "-3"
    case Prim("float", _) => "1.5"
    case Prim("double", _) => "2.25"
    case Prim("string", _) => "\"dflt\""
    case Prim("bytes", _) => "\"ab\""
    case Prim(_, _) => "null"
    case e: Enum => "\"" + e.symbols.head + "\""
    case f: Fixed => "\"" + "a" * f.size + "\""
    case Arr(i) => s"[${defaultOf(i)}]"
    case Mp(v) => s"""{"k":${defaultOf(v)}}"""
    case r: Rec => r.fields.map(f => s""""${f.name}":${defaultOf(f.t)}""")
      .mkString("{", ",", "}")
    case Union(bs) => defaultOf(bs.head)
  }

  private def aliases(a: Vector[String]): String =
    if (a.isEmpty) "" else a.map("\"" + _ + "\"").mkString(",\"aliases\":[",
      ",", "]")

  def json(t: T): String = t match {
    case Prim(n, star) => "\"" + n + (if (star) "*" else "") + "\""
    case e: Enum => s"""{"type":"enum","name":"${e.name}"${aliases(e.aliases)},""" +
      e.symbols.map("\"" + _ + "\"").mkString("\"symbols\":[", ",", "]}")
    case f: Fixed =>
      s"""{"type":"fixed","name":"${f.name}"${aliases(f.aliases)},"size":${f.size}}"""
    case Arr(i) => s"""{"type":"array","items":${json(i)}}"""
    case Mp(v) => s"""{"type":"map","values":${json(v)}}"""
    case r: Rec => s"""{"type":"record","name":"${r.name}"${aliases(r.aliases)},""" +
      r.fields.map(f => s"""{"name":"${f.name}","type":${json(f.t)}""" +
        aliases(f.aliases) + f.default.map(d => s""","default":$d""")
          .getOrElse("") + "}").mkString("\"fields\":[", ",", "]}")
    case Union(bs) => bs.map(json).mkString("[", ",", "]")
  }

  // ------------------------------------------------- datum generator

  private val chars = "aé⚡z0 "

  /** A random avro-java datum of `js`. */
  def genDatum(js: JSchema): Gen[AnyRef] = js.getType match {
    case JSchema.Type.NULL => Gen.const(null)
    case JSchema.Type.BOOLEAN => Gen.oneOf(true, false).map(Boolean.box)
    case JSchema.Type.INT => Gen.oneOf(Gen.choose(-70, 70),
      Gen.choose(Int.MinValue, Int.MaxValue)).map(Int.box)
    case JSchema.Type.LONG => Gen.oneOf(Gen.choose(-70L, 70L),
      Gen.choose(Long.MinValue, Long.MaxValue)).map(Long.box)
    case JSchema.Type.FLOAT => Gen.oneOf(Gen.choose(-1e6f, 1e6f),
      Gen.const(Float.NaN), Gen.const(Float.NegativeInfinity)).map(Float.box)
    case JSchema.Type.DOUBLE => Gen.oneOf(Gen.choose(-1e12, 1e12),
      Gen.const(Double.NaN), Gen.const(-0.0)).map(Double.box)
    case JSchema.Type.STRING =>
      Gen.listOf(Gen.oneOf(chars.toSeq)).map(_.mkString)
    case JSchema.Type.BYTES => Gen.listOf(Gen.choose(Byte.MinValue,
      Byte.MaxValue)).map(b => ByteBuffer.wrap(b.toArray))
    case JSchema.Type.ENUM => Gen.oneOf(js.getEnumSymbols.asScala.toSeq)
      .map(s => new GenericData.EnumSymbol(js, s))
    case JSchema.Type.FIXED => Gen.listOfN(js.getFixedSize,
      Gen.choose(Byte.MinValue, Byte.MaxValue))
      .map(b => new GenericData.Fixed(js, b.toArray))
    case JSchema.Type.ARRAY => Gen.choose(0, 3).flatMap(n =>
      Gen.listOfN(n, genDatum(js.getElementType)))
      .map(xs => new java.util.ArrayList[AnyRef](xs.asJava))
    case JSchema.Type.MAP => Gen.choose(0, 3).flatMap(n =>
      Gen.listOfN(n, genDatum(js.getValueType))).map { vs =>
      val m = new java.util.LinkedHashMap[String, AnyRef]()
      vs.zipWithIndex.foreach { case (v, i) => m.put(s"k$i", v) }
      m
    }
    case JSchema.Type.RECORD =>
      Gen.sequence[Vector[AnyRef], AnyRef](js.getFields.asScala.toVector
        .map(f => genDatum(f.schema))).map { vs =>
        val rec = new GenericData.Record(js)
        vs.zipWithIndex.foreach { case (v, i) => rec.put(i, v) }
        rec
      }
    case JSchema.Type.UNION =>
      Gen.oneOf(js.getTypes.asScala.toSeq).flatMap(genDatum)
    case other => sys.error(s"no datum generator for $other")
  }

  /** (writer JSON, reader JSON, writer datums). */
  val genCase: Gen[(String, String, Vector[AnyRef])] = for {
    raw <- genRec(2)
    writer = number(raw, "W").asInstanceOf[Rec]
    reader <- evolve(writer)
    wj = json(writer)
    datums <- Gen.listOfN(12, genDatum(AvroJavaSchema.toJava(Avro.create(wj))))
  } yield (wj, json(reader), datums.toVector)

  def avroBytes(js: JSchema, datum: AnyRef): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    val e = EncoderFactory.get().binaryEncoder(out, null)
    new GenericDatumWriter[AnyRef](js).write(datum, e)
    e.flush()
    out.toByteArray
  }

  // ------------------------------------------------- value comparison

  /** Comparable form: records/arrays/unions as Vectors, maps as Maps,
    * strings as String, binary as Vector[Byte], floats by their bits.
    */
  def canonNative(v: Any, dt: DataType): Any = (v, dt) match {
    case (null, _) => null
    case (r: InternalRow, st: StructType) =>
      st.fields.indices.map(i => canonNative(
        if (r.isNullAt(i)) null else r.get(i, st(i).dataType),
        st(i).dataType)).toVector
    case (a: ArrayData, SArray(et, _)) =>
      (0 until a.numElements()).map(i => canonNative(
        if (a.isNullAt(i)) null else a.get(i, et), et)).toVector
    case (m: MapData, SMap(_, vt, _)) =>
      (0 until m.numElements()).map(i =>
        m.keyArray().getUTF8String(i).toString -> canonNative(
          if (m.valueArray().isNullAt(i)) null
          else m.valueArray().get(i, vt), vt)).toMap
    case (s: UTF8String, StringType) => s.toString
    case (b: Array[Byte], BinaryType) => b.toVector
    case (f: Float, FloatType) => ("float", java.lang.Float.floatToRawIntBits(f))
    case (d: Double, DoubleType) =>
      ("double", java.lang.Double.doubleToRawLongBits(d))
    case (x, _) => x
  }

  /** [[canonNative]] of what avro-java read as reader type `t0`. */
  def canonOracle(s: AvroSchema, t0: AvroType, js0: JSchema, v: Any): Any = {
    val t = s.resolve(t0)
    val js = if (t.nullable && js0.getType == JSchema.Type.UNION &&
        !t.isInstanceOf[UnionType]) js0.getTypes.get(1) else js0
    (t, v) match {
      case (u: UnionType, _) =>
        val tag = GenericData.get().resolveUnion(js, v)
        val value = canonOracle(s, u.branches(tag), js.getTypes.get(tag), v)
        if (u.isNullableScalar) value
        else {
          val bs = u.branches.map(s.resolve)
          val slots = bs.zipWithIndex.filter(_._1.typeName != "null")
          tag +: slots.map { case (_, o) => if (o == tag) value else null }
        }
      case (_, null) => null
      case (r: RecordType, rec: GenericRecord) =>
        r.fields.map(f => canonOracle(s, f.tpe, js.getField(f.name).schema,
          rec.get(f.name)))
      case (a: ArrayType, xs: java.util.List[_]) =>
        xs.asScala.map(x => canonOracle(s, a.items, js.getElementType, x))
          .toVector
      case (m: MapType, xs: java.util.Map[_, _]) =>
        xs.asScala.map { case (k, x) => k.toString ->
          canonOracle(s, m.values, js.getValueType, x) }.toMap
      case (PrimitiveType("float", _), f: java.lang.Float) =>
        ("float", java.lang.Float.floatToRawIntBits(f))
      case (PrimitiveType("double", _), d: java.lang.Double) =>
        ("double", java.lang.Double.doubleToRawLongBits(d))
      case (_, b: ByteBuffer) =>
        val a = new Array[Byte](b.remaining()); b.duplicate().get(a); a.toVector
      case (_, f: GenericFixed) => f.bytes().toVector
      case (_, x: CharSequence) => x.toString
      case (_, e: GenericData.EnumSymbol) => e.toString
      case (_, x) => x
    }
  }
}
