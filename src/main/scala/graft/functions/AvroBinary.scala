package graft.functions

import graft.schema.{Avro, AvroSchema, SchemaConverters}
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.graftshim
import org.apache.spark.sql.types._

/** Binary Avro encode/decode with reader-schema evolution — the engine's
  * analog of the reference's `flatten_msgpack`/`unflatten_msgpack`
  * no-boxing fast path (reference: README.md:250–255; linker
  * init.lua:462–470).
  *
  * Both directions are Catalyst expressions over the object-form
  * representation ([[SchemaConverters]]), each one call into a codec
  * compiled once per schema ([[AvroCodec]]). They generate code, so the
  * projections and filters around them stay inside whole-stage codegen;
  * the per-row cost is the codec's own byte work, with no avro-java
  * generic values in between.
  */
object AvroBinary {

  /** Encode an object-form column (struct for records) to Avro binary. */
  def toAvroBinary(c: Column, schema: AvroSchema): Column =
    graftshim.column(ToAvroBinary(graftshim.expression(c),
      schema.exportString))

  /** Decode Avro binary with evolution: written with `writer`, read as
    * `reader` (promotions, defaults, aliases and enum/union remaps as
    * [[graft.schema.Compat]] maps them).
    */
  def fromAvroBinary(c: Column, writer: AvroSchema,
      reader: AvroSchema): Column = {
    val e = FromAvroBinary(graftshim.expression(c), writer.exportString,
      reader.exportString)
    e.codec // an incompatible schema pair fails here, not in a task
    graftshim.column(e)
  }

  def fromAvroBinary(c: Column, schema: AvroSchema): Column =
    fromAvroBinary(c, schema, schema)
}

/** Encode object-form values to Avro binary. The input must have the
  * schema's object-form type (field names aside).
  */
case class ToAvroBinary(child: Expression, schemaJson: String)
    extends CodecExpression {
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = child.nullable

  @transient private lazy val expected = {
    val s = Avro.create(schemaJson)
    SchemaConverters.toSparkType(s, s.root)
  }

  override def checkInputDataTypes(): TypeCheckResult =
    if (DataType.equalsStructurally(child.dataType, expected,
        ignoreNullability = true)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"toAvroBinary needs ${expected.simpleString}, " +
        s"got ${child.dataType.simpleString}")

  @transient lazy val codec: Codec = AvroCodec.encoder(schemaJson)

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Decode Avro binary written with `writerJson` into the object form of
  * `readerJson`.
  */
case class FromAvroBinary(child: Expression, writerJson: String,
    readerJson: String) extends CodecExpression {

  @transient private lazy val reader = Avro.create(readerJson)
  override lazy val dataType: DataType =
    SchemaConverters.toSparkType(reader, reader.root)
  override lazy val nullable: Boolean =
    child.nullable || SchemaConverters.isNullish(reader, reader.root)

  @transient lazy val codec: AvroDecoder =
    AvroCodec.decoder(writerJson, readerJson)

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
