package perfbench

import graft.functions.{AvroBinary, Msgpack}
import graft.ops.{Compiled, FlattenOps, Validate}
import graft.schema.{Avro, AvroSchema}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import org.apache.spark.storage.StorageLevel

/** `codec`: Person records written under v1 and read under v2, through
  * decode → validate → flatten → msgpack encode → msgpack decode →
  * unflatten → encode. Per-row CPU work: no shuffle, no persisted state.
  */
final class CodecWorkload(spark: SparkSession, seed: Long) extends Workload {
  import CodecWorkload._

  /** Pass times still fall over the first three passes while the JIT
    * compiles the chain.
    */
  override def warmPasses: Int = 3

  private var cached: DataFrame = _
  private var input: DataFrame = _
  private var expected: (Long, Long) = _
  private var v1: AvroSchema = _
  private var v2: AvroSchema = _
  private var compiled: Compiled = _
  private var compileS = Seq.empty[Double]

  private def generate(s: Long, n: Long): DataFrame = {
    import spark.implicits._
    spark.range(0, n, 1, Partitions).as[Long].mapPartitions { ids =>
      val pc = new Gen.PersonCodec
      ids.map { i => val (p, e) = pc.row(s, i); (i, p, e) }
    }.toDF("id", "payload", "expect")
  }

  private def digestOf(df: DataFrame, bytes: String): (Long, Long) = {
    val r = df.filter(col(bytes).isNotNull)
      .agg(count(lit(1)), bit_xor(xxhash64(col("id"), col(bytes)))).head()
    (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
  }

  def prepare(): Long = {
    if (cached != null) cached.unpersist(blocking = true)
    cached = generate(seed, Rows).persist(StorageLevel.MEMORY_ONLY)
    input = cached.select("id", "payload")
    expected = digestOf(cached, "expect")
    val t0 = System.nanoTime()
    v1 = Avro.create(Gen.personV1)
    v2 = Avro.create(Gen.personV2)
    compiled = FlattenOps.compile(v2, v2, serviceFields = Seq(LongType))
      .fold(e => sys.error(e), identity)
    compileS :+= (System.nanoTime() - t0) / 1e9
    digestOf(cached, "payload")._2
  }

  def seedSensitive(): Boolean =
    digestOf(generate(seed, 2000), "payload") !=
      digestOf(generate(seed + 1, 2000), "payload")

  /** The chain, stage by stage; stage 0 is the cached input. */
  private def stages: Seq[(String, DataFrame)] = {
    val decoded = input.select(col("id"),
        AvroBinary.fromAvroBinary(col("payload"), v1, v2).as("r"))
      .select(col("id"), col("r.*"))
    val valid = Validate(v2, decoded).filter(col("_valid"))
      .drop("_error", "_valid")
    val flat = compiled.flatten(valid, Seq(col("id")))
    val packed = Msgpack.encodeFlat(flat)
    val unpacked = Msgpack.decodeFlat(packed, "msgpack", flat.schema)
    val objects = compiled.unflatten(unpacked)
    val avro = objects.select(col("sf0").as("id"), AvroBinary.toAvroBinary(
      struct(objects.columns.drop(1).toIndexedSeq.map(col): _*), v2)
      .as("avro"))
    Seq("codec.floor" -> input, "functions.avro_decode" -> decoded,
      "ops.validate" -> valid, "ops.flatten" -> flat,
      "functions.msgpack_encode" -> packed,
      "functions.msgpack_decode" -> unpacked, "ops.unflatten" -> objects,
      "functions.avro_encode" -> avro)
  }

  def pass(t: Tracer, group: Long): Pass = {
    val t0 = System.nanoTime()
    val (ok, got) = try {
      val got = t.span("codec.chain", group)(digestOf(stages.last._2, "avro"))
      (got == expected, got)
    } catch { case e: Exception => e.printStackTrace(); (false, null) }
    if (!ok) System.err.println(s"codec digest $got != expected $expected")
    val secs = (System.nanoTime() - t0) / 1e9
    Pass(secs, Rows, Seq(secs), 1, if (ok) 0 else 1)
  }

  /** Each stage run alone to a no-op sink; a layer's time is its stage's
    * run minus the previous stage's (Spark fuses the chain into one job,
    * so the layers cannot be timed by nesting).
    */
  def layerPass(t: Tracer, group: Long): Boolean = {
    t.span("codec.layers", group) {
      stages.foreach { case (name, df) =>
        t.span(name, group)(df.write.format("noop").mode("overwrite").save())
      }
    }
    true
  }

  def layers(t: Tracer): Map[String, Double] = {
    val names = stages.map(_._1)
    val runs = t.spans.filter(s => names.contains(s.name))
    val perPass = runs.groupBy(_.group).values.filter(_.size == names.size)
      .map(_.sortBy(s => names.indexOf(s.name)))
    def marginal(k: Int): Seq[(Double, Counts)] = perPass.map { ss =>
      val c = t.selfCounts(ss(k))
      if (k == 0) (ss(k).seconds, c)
      else (ss(k).seconds - ss(k - 1).seconds, c - t.selfCounts(ss(k - 1)))
    }.toSeq
    val byLayer = names.indices.flatMap { k =>
      Layers.callMetrics(names(k), marginal(k))
    }
    val compile = Layers.callMetrics("schema.compile",
      compileS.map(s => (s, Counts.zero)))
    val m = sample()
    (byLayer ++ compile).toMap ++ Map(
      "codec.invalid_rows" -> (Rows - expected._1).toDouble,
      "codec.avro_bytes_per_row" -> m._1,
      "codec.msgpack_bytes_per_row" -> m._2,
      "trace.accounted_s" -> Main.median(perPass.map(_.last.seconds).toSeq))
  }

  /** Mean payload sizes of the v1 Avro input and the msgpack stage. */
  private def sample(): (Double, Double) = {
    val st = stages.toMap
    val a = input.filter(col("payload").isNotNull)
      .agg(avg(length(col("payload")))).head().getDouble(0)
    val m = st("functions.msgpack_encode")
      .agg(avg(length(col("msgpack")))).head().getDouble(0)
    (a, m)
  }

  /** Byte-compares a sample of the chain's Avro output with avro-java's
    * GenericDatumWriter output for the same rows.
    */
  def finalChecks(): (Int, Int) = {
    val got = stages.last._2.filter(col("id") < SampleRows)
      .collect().map(r => r.getLong(0) -> r.getAs[Array[Byte]](1)).toMap
    val pc = new Gen.PersonCodec
    val want = (0L until SampleRows).map(i => i -> pc.row(seed, i)._2)
      .filter(_._2 != null).toMap
    val ok = got.keySet == want.keySet &&
      want.forall { case (i, b) => java.util.Arrays.equals(b, got(i)) }
    if (!ok) System.err.println("codec sample bytes differ from avro-java")
    (1, if (ok) 0 else 1)
  }
}

object CodecWorkload {
  val Rows = 100000L
  /** Four per core: one slow core then delays a pass by a quarter task,
    * not a whole one.
    */
  val Partitions = 16
  val SampleRows = 500L
}
