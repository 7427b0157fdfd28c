package graft.schema

import org.apache.spark.sql.types._

/** Declared schema — the Spark twin of the reference's `Schema`
  * (bindings/python/pymongoarrow/schema.py:21-109). Wraps a StructType
  * and adds the reference's projection synthesis and field-metadata
  * conventions for the BSON extension types.
  */
final case class MSchema(struct: StructType) {

  /** Projection document synthesis (schema.py:68-85 semantics):
    * structs recurse with dotted names, arrays project their element
    * fields, `_id` is excluded unless declared. Returned in declaration
    * order, exclusion first — exactly the doc the reference sends as
    * `projection=` / appended `$project` (api.py:172-173, 249-250). */
  def projection: Seq[(String, Boolean)] = {
    def walk(prefix: String, dt: DataType): Seq[String] = dt match {
      case s: StructType =>
        s.fields.toSeq.flatMap(f => walk(s"$prefix.${f.name}", f.dataType))
      case ArrayType(et, _) => walk(prefix, et)
      case _ => Seq(prefix)
    }
    val included = struct.fields.toSeq
      .flatMap(f => walk(f.name, f.dataType)).map(_ -> true)
    if (struct.fieldNames.contains("_id")) included
    else ("_id" -> false) +: included
  }

  def fieldNames: Seq[String] = struct.fieldNames.toSeq
}

object MSchema {
  /** Field metadata keys for BSON types Spark has no native twin for
    * (SURVEY.md §1.2): ObjectId → 12-byte binary, Binary → subtype tag,
    * Code → string. */
  val BsonTypeKey = "graft.bson.type"
  val BinarySubtypeKey = "graft.bson.binary.subtype"
  val TimezoneKey = "graft.bson.tz"

  def of(fields: (String, DataType)*): MSchema =
    MSchema(StructType(fields.map { case (n, t) => StructField(n, t) }))

  def objectIdField(name: String): StructField =
    StructField(name, BinaryType,
      metadata = new MetadataBuilder().putString(BsonTypeKey, "objectId").build())

  /** The Binary subtype a field's metadata declares (0, generic, when
    * untagged) — what both document encoders write. */
  def binarySubtype(meta: Metadata): Int =
    if (meta.contains(BinarySubtypeKey)) meta.getLong(BinarySubtypeKey).toInt else 0

  def binaryField(name: String, subtype: Int): StructField =
    StructField(name, BinaryType,
      metadata = new MetadataBuilder()
        .putString(BsonTypeKey, "binary").putLong(BinarySubtypeKey, subtype).build())

  /** Timestamp field with the reference's tz semantics (SURVEY.md §1.4):
    * no tz → tz-naive ms wall clock (TimestampNTZType); tz given → the
    * value is an absolute instant (TimestampType) carrying its display
    * zone in metadata — `Graft.localize` materializes the wall clock. */
  def timestampField(name: String, tz: Option[String] = None): StructField = tz match {
    case None => StructField(name, TimestampNTZType)
    case Some(z) => StructField(name, TimestampType,
      metadata = new MetadataBuilder().putString(TimezoneKey, z).build())
  }

  def codeField(name: String): StructField =
    StructField(name, StringType,
      metadata = new MetadataBuilder().putString(BsonTypeKey, "code").build())

  /** Raw-BID decimal128 passthrough (opt-in): the field decodes to the
    * 16-byte IEEE 754-2008 BID payload instead of DecimalType(38,10),
    * so the FULL domain — NaN, ±Infinity, exponents past Spark's scale,
    * clamped zeros — round-trips instead of nulling (lifts the SURVEY
    * §7.4 restriction). Render with the `decimal128_str` native
    * function. */
  def decimalRawField(name: String): StructField =
    StructField(name, BinaryType,
      metadata = new MetadataBuilder().putString(BsonTypeKey, "decimal128").build())
}
