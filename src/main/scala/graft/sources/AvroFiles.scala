package graft.sources

import graft.functions.{AvroBinary, AvroCodec}
import graft.schema.AvroSchema
import org.apache.avro.Schema
import org.apache.avro.file.{DataFileStream, DataFileWriter}
import org.apache.avro.io.{DatumReader, DatumWriter, Decoder, Encoder}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Avro object-container-file source (the `.avro` file format: header +
  * embedded writer schema + sync-marked blocks).
  *
  * Spark-first shape: files arrive through the built-in `binaryFile`
  * source (one task per file — container blocks could be split on sync
  * markers, but whole-file tasks parallelize across the thousands of
  * files a 100 TB dataset ships as); each task streams the container
  * with avro-java's `DataFileStream`, re-frames records as single-record
  * payloads (cut by the compiled codec's skip routines), and the existing
  * [[AvroBinary.fromAvroBinary]] Catalyst
  * expression decodes them WITH reader-schema evolution (aliases,
  * promotions, default fill) — one verified decode path for columns,
  * streams and files. [[readStream]] is the same pipeline over the
  * binaryFile FILE-STREAM source: new `.avro` files appearing under the
  * path become micro-batches, each decoded by the identical core.
  *
  * The caller's `writerSchema` must match the schema embedded in each
  * file — verified at runtime per file (a mismatch fails with both
  * spellings rather than mis-decoding).
  */
object AvroFiles {

  /** binaryFile's fixed schema — required explicitly by the streaming
    * variant (file-stream sources cannot infer).
    */
  private val binaryFileSchema: StructType = StructType(Seq(
    StructField("path", StringType),
    StructField("modificationTime", TimestampType),
    StructField("length", LongType),
    StructField("content", BinaryType)))

  /** The shared per-file decode core: one container's bytes → re-framed
    * single-record payloads (file path kept for lineage). Blocks are cut
    * into records by skipping through them with the writer schema's
    * compiled decoder; nothing is decoded here.
    */
  private def reframe(writerJson: String)(
      file: String, bytes: Array[Byte]): Seq[(String, Array[Byte])] = {
    val jWriter = new Schema.Parser().parse(writerJson)
    val records = AvroCodec.decoder(writerJson, writerJson)
    val in = new java.io.ByteArrayInputStream(bytes)
    val stream = new DataFileStream[AnyRef](in, WholeBlocks)
    try {
      val fileSchema = stream.getSchema
      if (fileSchema != jWriter)
        throw new IllegalArgumentException(
          s"$file: container schema ${fileSchema.getFullName} does " +
            s"not match the declared writer schema " +
            s"${jWriter.getFullName}")
      val buf = scala.collection.mutable.ArrayBuffer
        .empty[(String, Array[Byte])]
      while (stream.hasNext) {
        val n = stream.getBlockCount
        val block = stream.nextBlock()
        val data = new Array[Byte](block.remaining())
        block.duplicate().get(data)
        records.split(data, n).foreach(r => buf += ((file, r)))
      }
      buf.toSeq
    } finally stream.close()
  }

  /** `DataFileStream` insists on a datum reader; [[reframe]] takes whole
    * blocks with `nextBlock`, so it never reads a datum.
    */
  private object WholeBlocks extends DatumReader[AnyRef] {
    def setSchema(schema: Schema): Unit = ()
    def read(reuse: AnyRef, in: Decoder): AnyRef =
      throw new UnsupportedOperationException("whole blocks only")
  }

  /** Payloads written as they are: [[write]] encodes them itself. */
  private object Encoded extends DatumWriter[Array[Byte]] {
    def setSchema(schema: Schema): Unit = ()
    def write(payload: Array[Byte], out: Encoder): Unit =
      out.writeFixed(payload)
  }

  /** Write `rows` (object form of `schema`) as one `.avro` container file. */
  def write(file: java.io.File, schema: AvroSchema,
      rows: Iterator[InternalRow]): Unit = {
    val json = schema.exportString
    val encoder = AvroCodec.encoder(json)
    val w = new DataFileWriter[Array[Byte]](Encoded)
    w.create(new Schema.Parser().parse(json), file)
    try rows.foreach(r => w.append(encoder(r).asInstanceOf[Array[Byte]]))
    finally w.close()
  }

  private def decode(files: Dataset[(String, Array[Byte])],
      writerSchema: AvroSchema, readerSchema: AvroSchema): DataFrame = {
    import files.sparkSession.implicits._
    val writerJson = writerSchema.exportString
    files.flatMap { case (file, bytes) =>
        reframe(writerJson)(file, bytes)
      }.toDF("path", "bin")
      .select(col("path"),
        AvroBinary.fromAvroBinary(col("bin"), writerSchema, readerSchema)
          .as("r"))
  }

  /** Read `.avro` container files under `path` into the internal
    * DataFrame form (reader-shaped struct column `r`, plus the source
    * file path for lineage).
    */
  def read(spark: SparkSession, path: String, writerSchema: AvroSchema,
      readerSchema: AvroSchema): DataFrame = {
    import spark.implicits._
    decode(spark.read.format("binaryFile")
      .option("pathGlobFilter", "*.avro")
      .load(path)
      .select(col("path"), col("content"))
      .as[(String, Array[Byte])], writerSchema, readerSchema)
  }

  /** [[read]] as a Structured Streaming source: `.avro` files appearing
    * under `path` arrive as micro-batches (binaryFile file stream),
    * decoded by the same reframe + evolution-aware expression core —
    * the container-file ingest shape of a continuously-landing dataset.
    */
  def readStream(spark: SparkSession, path: String,
      writerSchema: AvroSchema, readerSchema: AvroSchema): DataFrame = {
    import spark.implicits._
    decode(spark.readStream.format("binaryFile")
      .schema(binaryFileSchema)
      .option("pathGlobFilter", "*.avro")
      .load(path)
      .select(col("path"), col("content"))
      .as[(String, Array[Byte])], writerSchema, readerSchema)
  }
}
