package graft.functions

import graft.SparkTestBase
import graft.ops.FlattenOps
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Ratifies the msgpack wire framing (see Msgpack object doc): golden
  * bytes for the reference's README tuple, format-boundary round-trips,
  * and the Person schema's flat tuple through encodeFlat/decodeFlat —
  * the `flatten_msgpack`/`unflatten_msgpack` byte contract.
  */
class MsgpackSpec extends AnyFunSuite with SparkTestBase {

  private def hex(b: Array[Byte]): String =
    b.map("%02x".format(_)).mkString

  test("golden bytes: the reference README tuple [1, 'Hello, world!']") {
    // fixarray(2), posfixint 1, fixstr(13) — what msgpack-lua emits for
    // the flatten() result shown at reference README.md:242
    val bytes = Msgpack.encode(Seq(1L, "Hello, world!"))
    assert(hex(bytes) ==
      "9201ad" + hex("Hello, world!".getBytes("UTF-8")))
    assert(Msgpack.decode(bytes) == Vector(1L, "Hello, world!"))
  }

  test("format boundaries round-trip and encode smallest-first") {
    val vals: Seq[Any] = Seq(null, true, false,
      0L, 127L, 128L, 255L, 256L, 32767L, 32768L,
      Int.MaxValue.toLong, Int.MaxValue + 1L, Long.MaxValue,
      -1L, -32L, -33L, -128L, -129L, -32768L, -32769L, Long.MinValue,
      1.5d, -2.75f, "", "a" * 31, "a" * 32, "a" * 255, "a" * 256,
      "a" * 65535, "a" * 65536, "héllo ⚡")
    for (v <- vals)
      assert(Msgpack.decode(Msgpack.encode(v)) == v, s"value $v")
    val bin = Array.tabulate(300)(_.toByte)
    assert(java.util.Arrays.equals(
      Msgpack.decode(Msgpack.encode(bin)).asInstanceOf[Array[Byte]], bin))
    for (n <- Seq(0, 15, 16, 65535, 65536)) {
      val arr = Vector.fill(n)(7L)
      assert(Msgpack.decode(Msgpack.encode(arr)) == arr, s"array $n")
    }
    val m = Map("k" -> Vector(1L, null, "x"), "n" -> -7L)
    assert(Msgpack.decode(Msgpack.encode(m)) == m)
    // smallest-format selection (fixint vs int8; fixstr header)
    assert(Msgpack.encode(127L).length == 1)
    assert(Msgpack.encode(128L).length == 2)
    assert(Msgpack.encode(-32L).length == 1)
    assert(Msgpack.encode(-33L).length == 2)
    assert(Msgpack.encode("a" * 31).length == 32)
    assert(Msgpack.encode("a" * 32).length == 34)
    // malformed input: trailing bytes and unknown type byte throw
    assertThrows[IllegalArgumentException](
      Msgpack.decode(Msgpack.encode(1L) ++ Array(0x00.toByte)))
    assertThrows[IllegalArgumentException](
      Msgpack.decode(Array(0xc1.toByte)))
  }

  test("Person flat tuple round-trips through the msgpack framing") {
    val personJson = """{"name":"person","type":"record","fields":[
      {"name":"FirstName","type":"string"},{"name":"LastName","type":"string"},
      {"name":"Age","type":"long"},
      {"name":"Sex","type":{"type":"enum","name":"Sex",
        "symbols":["FEMALE","MALE"]}},
      {"name":"Stats","type":{"type":"record","name":"Stats","fields":[
        {"name":"Strength","type":"long"},{"name":"Luck","type":"long"}]}},
      {"name":"Journal","type":{"type":"array","items":"string"}}]}"""
    val schema = graft.schema.Avro.create(personJson)
    val compiled = FlattenOps.compile(schema)
      .fold(e => fail(e.toString), identity)
    val df = spark.range(100).select(
      concat(lit("First"), col("id")).as("FirstName"),
      concat(lit("Last"), col("id")).as("LastName"),
      (col("id") % 80 + 18).as("Age"),
      when(col("id") % 2 === 0, "FEMALE").otherwise("MALE").as("Sex"),
      struct((col("id") % 10).as("Strength"),
        (col("id") % 7).as("Luck")).as("Stats"),
      array(lit("one"), lit("two")).as("Journal"))
    val flat = compiled.flatten(df)
    val rt = Msgpack.decodeFlat(Msgpack.encodeFlat(flat), "msgpack",
      flat.schema)
    // byte-level comparison — the wire contract itself, stronger than
    // row equality across Seq implementations
    val a = flat.collect().map(r => hex(Msgpack.encode(r))).sorted
    val b = rt.collect().map(r => hex(Msgpack.encode(r))).sorted
    assert(a.length == 100 && a.sameElements(b))
  }

  private val tuple = StructType(Seq(StructField("id", LongType),
    StructField("name", StringType), StructField("tags",
      ArrayType(StringType))))

  test("encodeFlat → decodeFlat runs on InternalRow: no object round trip") {
    val df = spark.range(3).select(col("id"),
      concat(lit("doc"), col("id")).as("name"),
      array(lit("t1"), lit("t2")).as("tags"))
    val rt = Msgpack.decodeFlat(Msgpack.encodeFlat(df), "msgpack", df.schema)
    val plan = rt.queryExecution.executedPlan.toString
    for (node <- Seq("DeserializeToObject", "SerializeFromObject",
        "MapPartitions"))
      assert(!plan.contains(node), plan)
    assert(rt.schema == df.schema)
    assert(rt.orderBy("id").collect().toSeq == df.orderBy("id").collect().toSeq)
  }

  private def decodeError(payload: Array[Byte]): String = {
    import spark.implicits._
    intercept[Exception](Msgpack.decodeFlat(Seq(payload).toDF("msgpack"),
      "msgpack", tuple).collect()).getMessage
  }

  test("decode failures: arity, field type, trailing bytes") {
    val arity = decodeError(Msgpack.encode(Seq(1L, "x")))
    assert(arity.contains("msgpack: tuple arity 2 != schema 3"), arity)
    val typed = decodeError(Msgpack.encode(Seq(1L, 2L, Seq("t"))))
    assert(typed.contains(
      "msgpack: cannot decode Long value '2' as string"), typed)
    val trailing = decodeError(
      Msgpack.encode(Seq(1L, "x", Seq("t"))) ++ Array[Byte](0))
    assert(trailing.contains("msgpack: 1 trailing bytes"), trailing)
  }
}
