package graft.perfbench

import java.nio.{ByteBuffer, ByteOrder}

import org.apache.spark.sql.Row
import org.apache.spark.sql.execution.vectorized.OnHeapColumnVector
import org.apache.spark.sql.types.StructType
import org.json4s.{JObject, JString}

import graft.bson.{BsonBinary, BsonVectorDecoder, DocDecoder, JsonVectorDecoder}
import graft.sources.OpMsg

/** Kernel probes: single-threaded, after warm-up, over a workload's own
  * generated documents, no Spark job. Each probe runs one untimed pass
  * and five timed passes and reports the median pass. */
object Probes {
  private val Passes = 5
  private val Batch = 4096

  /** Median ns per doc and allocated bytes per doc over the passes. */
  private def measure(docs: Int)(pass: => Unit): (Double, Double) = {
    pass
    val runs = (1 to Passes).map { _ =>
      val a0 = Counters.threadAllocated(); val t0 = System.nanoTime()
      pass
      ((System.nanoTime() - t0).toDouble / docs, (Counters.threadAllocated() - a0).toDouble / docs)
    }
    (Workload.median(runs.map(_._1)), Workload.median(runs.map(_._2)))
  }

  private def vectors(schema: StructType) =
    schema.fields.map(f => new OnHeapColumnVector(Batch, f.dataType))

  private def fieldIdx(schema: StructType) = {
    val m = new java.util.HashMap[String, Integer]()
    schema.fieldNames.zipWithIndex.foreach { case (n, i) => m.put(n, i) }
    m
  }

  /** BsonVectorDecoder.walkDocument: BSON bytes straight into vectors. */
  def bsonColumnar(schema: StructType, docs: Array[Array[Byte]]): (Double, Double) = {
    val writers = schema.fields.map(f => BsonVectorDecoder.writerFor(f, true))
    val idx = fieldIdx(schema); val vs = vectors(schema)
    val seen = new Array[Boolean](schema.length)
    measure(docs.length) {
      var i = 0
      while (i < docs.length) {
        if (i % Batch == 0) vs.foreach(_.reset())
        val buf = ByteBuffer.wrap(docs(i)).order(ByteOrder.LITTLE_ENDIAN)
        buf.position(4)
        BsonVectorDecoder.walkDocument(buf, writers, idx, vs, seen)
        i += 1
      }
    }
  }

  /** JsonVectorDecoder.walkDocument: extended-JSON text into vectors. */
  def jsonColumnar(schema: StructType, docs: Array[Array[Byte]]): (Double, Double) = {
    val writers = schema.fields.map(f => JsonVectorDecoder.writerFor(f, true))
    val idx = fieldIdx(schema); val vs = vectors(schema)
    val seen = new Array[Boolean](schema.length)
    val factory = new com.fasterxml.jackson.core.JsonFactory()
    measure(docs.length) {
      var i = 0
      while (i < docs.length) {
        if (i % Batch == 0) vs.foreach(_.reset())
        val p = factory.createParser(docs(i))
        try JsonVectorDecoder.walkDocument(p, writers, idx, vs, seen) finally p.close()
        i += 1
      }
    }
  }

  /** The conventional path: BsonBinary.documents trees, then
    * DocDecoder.decodeStruct into Rows. */
  def tree(schema: StructType, docs: Array[Array[Byte]]): (Double, Double) = {
    val all = docs.flatten
    measure(docs.length) {
      BsonBinary.documents(new java.io.ByteArrayInputStream(all))
        .foreach(n => DocDecoder.decodeStruct(n, schema, true))
    }
  }

  def encode(schema: StructType, rows: Array[Row]): (Double, Double) =
    measure(rows.length) { rows.foreach(r => BsonBinary.encodeRow(r, schema)) }

  /** Extended-JSON text of BSON documents (the tree path's rendering). */
  def toJson(docs: Array[Array[Byte]]): Array[Array[Byte]] =
    BsonBinary.documents(new java.io.ByteArrayInputStream(docs.flatten)).map(_.toString.getBytes("UTF-8")).toArray

  /** Per-shape bson.* metrics from the shape's rows and their BSON. */
  def shape(shape: String, schema: StructType, rows: Array[Row]): Map[String, Double] = {
    val docs = rows.map(r => BsonBinary.encodeRow(r, schema))
    val (dec, decAlloc) = bsonColumnar(schema, docs)
    val (json, _) = jsonColumnar(schema, toJson(docs))
    val (tr, trAlloc) = tree(schema, docs)
    val (enc, encAlloc) = encode(schema, rows)
    Map(
      s"bson.decode_ns_per_doc.$shape" -> dec,
      s"bson.decode_alloc_bytes_per_doc.$shape" -> decAlloc,
      s"bson.json_decode_ns_per_doc.$shape" -> json,
      s"bson.tree_decode_ns_per_doc.$shape" -> tr,
      s"bson.tree_alloc_bytes_per_doc.$shape" -> trAlloc,
      s"bson.columnar_speedup.$shape" -> tr / dec,
      s"bson.encode_ns_per_doc.$shape" -> enc,
      s"bson.encode_alloc_bytes_per_doc.$shape" -> encAlloc)
  }

  /** Wire-spec compressor ids (OP_COMPRESSED): 1 snappy, 2 zlib, 3 zstd. */
  val Codecs: Seq[(String, Int)] = Seq("none" -> 0, "zlib" -> 2, "zstd" -> 3, "snappy" -> 1)

  /** OpMsg.writeFrame / readFrame of one insert command carrying `docs`
    * as a kind-1 document sequence, per codec. */
  def frames(docs: Seq[Array[Byte]]): Map[String, Double] = {
    val cmd = OpMsg.encodeDoc(JObject(List("insert" -> JString("c"), "$db" -> JString("graft"))))
    def write(codec: Int): Array[Byte] = {
      val out = new java.io.ByteArrayOutputStream(docs.map(_.length).sum + 256)
      OpMsg.writeFrame(out, 1, 0, cmd, flags = 0, compress = codec != 0,
        compressor = if (codec == 0) 2 else codec, sequences = Seq("documents" -> docs))
      out.toByteArray
    }
    val plain = write(0).length.toDouble
    Codecs.flatMap { case (name, id) =>
      val bytes = write(id)
      val (enc, _) = measure(docs.size)(write(id))
      val (dec, _) = measure(docs.size) {
        val f = OpMsg.readFrame(new java.io.ByteArrayInputStream(bytes)).get
        require(f.sequences.headOption.exists(_._2.size == docs.size), s"$name frame lost documents")
      }
      Seq(s"sources.opmsg_frame_encode_ns_per_doc.$name" -> enc,
        s"sources.opmsg_frame_decode_ns_per_doc.$name" -> dec,
        s"sources.opmsg_compress_ratio.$name" -> plain / bytes.length)
    }.toMap
  }

  /** Every shape's probes, on the shape's first ids under the run's seed
    * (the documents `find_arrow` and its bulk-write probe store). */
  def shapes(ctx: Ctx): Map[String, Double] = Gen.Shapes.flatMap { s =>
    val df = Gen.shape(ctx.spark, s, 0, if (s == "nested") 5000L else 10000L, ctx.seed, 1)
    shape(s, df.schema, Counters.aside(ctx.sc)(df.collect()))
  }.toMap

  /** BSON of `df`'s rows (collected aside), for the frame probes. */
  def docs(ctx: Ctx, df: org.apache.spark.sql.DataFrame): Seq[Array[Byte]] =
    Counters.aside(ctx.sc)(df.collect()).map(r => BsonBinary.encodeRow(r, df.schema)).toSeq
}
