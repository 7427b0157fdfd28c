package graft.bson

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.types._

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** One-pass schema inference with the reference's rules (SURVEY.md §1.3,
  * lib.pyx:157-210,246-255):
  *
  *  - a field's type is fixed by the FIRST non-null value observed
  *    (document order), later mismatches coerce-or-null at decode;
  *  - the only promotion is int32 → int64 (a wider integer re-infers the
  *    column);
  *  - null/NaN leaves the field "missing until seen" (NullType
  *    placeholder, replaced by the first concrete type);
  *  - array element types MERGE across elements: the shared child
  *    builder applies int32→int64 re-inference mid-list and a struct
  *    child accumulates the union of field names (lib.pyx:212-294 adds
  *    fields as they appear); scalar-type conflicts keep the first
  *    non-null element's type (mismatches null at decode);
  *  - field order is first-seen document order.
  *
  * Distributed shape: each partition folds its documents in order into a
  * type tree; partition trees merge in partition order on the driver, so
  * "first observed" is well-defined globally. One scan, no shuffle.
  */
object SchemaInference {

  /** First-sight type of a single JSON value; NullType when unknowable. */
  private def typeOf(node: JsonNode): DataType = {
    if (node == null || node.isNull) NullType
    else if (node.isBoolean) BooleanType
    else if (node.isInt) IntegerType
    else if (node.isLong) LongType
    else if (node.isNumber) {
      val d = node.asDouble
      if (d.isNaN) NullType else DoubleType // NaN = missing (lib.pyx:163-166)
    }
    else if (node.isTextual) StringType
    else if (node.isObject && node.size() == 1 && node.has("$date")) TimestampType
    else if (node.isObject && node.size() == 1 && node.has("$numberLong")) LongType
    else if (node.isObject && node.size() == 1 && node.has("$numberDecimal")) DecimalType(38, 10)
    else if (node.isObject && node.size() == 1 && node.has("$oid")) BinaryType
    else if (node.isObject && node.size() == 1 && node.has("$binary")) BinaryType
    else if (node.isObject && node.size() == 1 && node.has("$code")) StringType
    else if (node.isArray) {
      // First non-null element types the list (test_arrow.py:726-739);
      // merging across elements applies the int32→int64 re-inference the
      // reference's shared child builder performs mid-list
      // (lib.pyx:246-255) while merge's first-wins fallback keeps
      // heterogeneous mismatches on the first element's type.
      val elem = node.elements().asScala.map(typeOf).foldLeft(NullType: DataType)(merge)
      ArrayType(elem)
    }
    else if (node.isObject) StructType(
      node.properties().asScala.toSeq.map(e =>
        StructField(e.getKey, typeOf(e.getValue), metadata = metaOf(e.getValue))))
    else StringType
  }

  /** Field metadata for extension-typed values ($oid/$code/$binary) so an
    * inferred schema can decode the documents it was inferred from
    * (DocDecoder dispatches on MSchema.BsonTypeKey). Arrays inherit the
    * first non-null element's tag (the decoder passes field metadata down
    * to elements). */
  private def metaOf(node: JsonNode): Metadata = {
    def tag(n: JsonNode): Option[Metadata] =
      if (n == null || n.isNull || !n.isObject || n.size() != 1) None
      else if (n.has("$oid")) Some(new MetadataBuilder()
        .putString(graft.schema.MSchema.BsonTypeKey, "objectId").build())
      else if (n.has("$code")) Some(new MetadataBuilder()
        .putString(graft.schema.MSchema.BsonTypeKey, "code").build())
      else if (n.has("$binary")) Some(new MetadataBuilder()
        .putString(graft.schema.MSchema.BsonTypeKey, "binary").build())
      else None
    val target =
      if (node != null && node.isArray)
        node.elements().asScala.find(e => e != null && !e.isNull).orNull
      else node
    tag(target).getOrElse(Metadata.empty)
  }

  /** Merge an earlier-seen type with a later-seen one. */
  private[bson] def merge(first: DataType, later: DataType): DataType =
    (first, later) match {
      case (NullType, t) => t
      case (t, NullType) => t
      // the single promotion rule: int32 → int64 (lib.pyx:246-255)
      case (IntegerType, LongType) => LongType
      case (LongType, IntegerType) => LongType
      case (a: StructType, b: StructType) =>
        val aNames = a.fieldNames.toSet
        val mergedA = a.fields.map { f =>
          b.find(_.name == f.name) match {
            case Some(bf) =>
              val meta = if (f.metadata == Metadata.empty) bf.metadata else f.metadata
              StructField(f.name, merge(f.dataType, bf.dataType), metadata = meta)
            case None => f
          }
        }
        StructType(mergedA.toSeq ++ b.fields.filterNot(f => aNames(f.name)))
      case (ArrayType(a, _), ArrayType(b, _)) => ArrayType(merge(a, b))
      case (f, _) => f // first non-null wins; mismatches null at decode
    }

  def infer(docs: Dataset[String]): StructType =
    inferNodes(docs.rdd.mapPartitions { it =>
      val mapper = DocDecoder.newMapper()
      it.map(mapper.readTree(_): JsonNode)
    })

  /** Fold one ordered document stream into a type tree — the exact
    * per-partition fold [[inferNodes]] runs. Exposed so a per-file
    * inference sidecar can stand in for the distributed inference job.
    * It has two users: the DocStore appender (each appended batch
    * file's tree computed once, driver-side, from the bytes already in
    * hand) and the OP_MSG wire client (each cursor's tree, folded from
    * its documents in memory — `OpMsg.localFrame`).
    * NullType seed: the first non-null-typed document wins (an empty
    * StructType seed would swallow scalar top-level values). */
  def typeTree(docs: Iterator[JsonNode]): DataType =
    docs.foldLeft(NullType: DataType)((tree, node) => merge(tree, typeOf(node)))

  /** Merge per-file trees IN FILE ORDER and wrap — identical to
    * [[inferNodes]]' driver-side merge when each partition holds one
    * file, which is exactly how the graftdocs inference job partitions
    * (one task per file, partition index = file order). */
  def mergeTrees(trees: Seq[DataType]): StructType =
    trees.foldLeft(NullType: DataType)(merge) match {
      case st: StructType => st
      case NullType => StructType(Nil)
      case other => StructType(Seq(StructField("value", other)))
    }

  /** Inference over already-parsed document trees — the shared core for
    * the text (.jsonl) and binary (.bson) input paths. */
  def inferNodes(docs: org.apache.spark.rdd.RDD[JsonNode]): StructType = {
    val partTrees: Array[(Int, DataType)] = docs.mapPartitionsWithIndex { (pi, it) =>
      Iterator.single(pi -> typeTree(it))
    }.collect()
    mergeTrees(partTrees.sortBy(_._1).map(_._2).toSeq)
  }
}
