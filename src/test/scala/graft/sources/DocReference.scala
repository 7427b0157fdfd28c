package graft.sources

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType

import graft.bson.{BsonBinary, DocDecoder}

import scala.jdk.CollectionConverters._

/** Reference rows for the graftdocs scan: every document decoded on its
  * own by [[DocDecoder.decodeStruct]], the per-document decoder the
  * scan's direct readers must agree with. Nothing here goes through the
  * scan; filters apply with Spark over [[frame]]. */
object DocReference {
  /** Rows of concatenated BSON documents, in stream order. */
  def bson(bytes: Array[Byte], schema: StructType, strict: Boolean = true): Seq[Row] =
    BsonBinary.documents(new java.io.ByteArrayInputStream(bytes))
      .map(DocDecoder.decodeStruct(_, schema, strict)).toList

  /** Rows of extended-JSON lines, in line order; empty lines are not
    * documents. */
  def jsonl(lines: Seq[String], schema: StructType, strict: Boolean = true): Seq[Row] = {
    val mapper = DocDecoder.newMapper()
    lines.filter(_.nonEmpty).map(l => DocDecoder.decodeStruct(mapper.readTree(l), schema, strict))
  }

  /** Rows of every batch file under `dir` (a graftdocs layout, hive
    * `k=v` directories included). A partition column takes its directory
    * value, cast to its declared type. */
  def files(dir: String, schema: StructType, strict: Boolean = true): Seq[Row] = {
    def walk(d: Path, part: Map[String, String]): Seq[Row] =
      Files.list(d).iterator().asScala.toSeq.sortBy(_.toString).flatMap { p =>
        val name = p.getFileName.toString
        if (name.startsWith(".") || name.startsWith("_")) Nil
        else if (Files.isDirectory(p))
          GraftDocSource.partitionSegment(name).toSeq.flatMap(kv => walk(p, part + kv))
        else if (name.endsWith(".bson") || name.endsWith(".jsonl")) {
          val docSchema = StructType(schema.fields.filterNot(f => part.contains(f.name)))
          val docs =
            if (name.endsWith(".bson")) bson(Files.readAllBytes(p), docSchema, strict)
            else jsonl(Files.readAllLines(p).asScala.toSeq, docSchema, strict)
          docs.map { r =>
            Row.fromSeq(schema.fields.toSeq.map { f =>
              part.get(f.name) match {
                case Some(raw) => DocPartitions.cast(raw, f.dataType)
                case None => r.get(docSchema.fieldIndex(f.name))
              }
            })
          }
        } else Nil
      }
    walk(java.nio.file.Paths.get(dir), Map.empty)
  }

  def frame(spark: SparkSession, rows: Seq[Row], schema: StructType): DataFrame =
    spark.createDataFrame(rows.asJava, schema)

  /** The message of the first `T` in `e`'s cause chain. */
  def rootMessage[T <: Throwable](e: Throwable)(implicit ct: scala.reflect.ClassTag[T]): String =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .collectFirst { case t: T => t.getMessage }
      .getOrElse(throw new AssertionError(s"no ${ct.runtimeClass.getSimpleName} in $e", e))
}
