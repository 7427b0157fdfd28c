package graft.sinks

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkFixture
import graft.sources.GraftDocSource

/** DocStore.appendRaw's commit contract: once the batch file is renamed
  * into place the append has happened, so nothing that runs after the
  * rename (the inference-sidecar fold) may report it as failed — a
  * client retry would then insert the documents twice. */
class DocStoreAppendSpec extends AnyFunSuite {
  private lazy val spark = SparkFixture.spark

  private def doc(fields: Array[Byte]): Array[Byte] = {
    val len = 4 + fields.length + 1
    java.nio.ByteBuffer.allocate(len).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      .putInt(len).put(fields).put(0.toByte).array()
  }
  /** {a: int32 n} */
  private def good(n: Int): Array[Byte] =
    doc(java.nio.ByteBuffer.allocate(7).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      .put(0x10.toByte).put('a'.toByte).put(0.toByte).putInt(n).array())
  /** Passes the length-prefix walk but fails the fold: element type 0x20
    * is not a BSON type. */
  private val bad: Array[Byte] = doc(Array(0x20.toByte, 'a'.toByte, 0.toByte))

  private def batchFiles(root: String, coll: String): Seq[String] =
    new java.io.File(s"$root/$coll").list().toSeq
      .filter(n => n.startsWith("insert_") && n.endsWith(".bson")).sorted

  private def sidecar(root: String, coll: String): String = {
    val f = new java.io.File(s"$root/$coll/${GraftDocSource.InferSidecarName}")
    if (f.exists) new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8") else ""
  }

  test("a committed batch whose type tree cannot fold is reported OK, and " +
       "its sidecar entry is dropped so reads fall back to inference") {
    val root = graft.TestDirs.temp("graft_append_fold").toString
    val store = new DocStore(spark, root, "graftdocs")
    store.appendRaw("c", good(1))
    assert(store.read("c").collect().map(_.get(0).toString).toSeq == Seq("1"))
    val before = batchFiles(root, "c")
    store.appendRaw("c", bad) // committed: must not throw
    val added = batchFiles(root, "c").diff(before)
    assert(added.size == 1, s"batch not committed: ${batchFiles(root, "c")}")
    // the undecodable document fails the read itself; what matters is
    // that no sidecar ever vouches for the file it could not fold
    scala.util.Try(store.read("c").collect())
    store.appendRaw("c", good(2))
    scala.util.Try(store.read("c").collect())
    assert(!sidecar(root, "c").contains(added.head), sidecar(root, "c"))
  }

  test("on a capped collection the cap is still enforced after a batch " +
       "whose type tree cannot fold") {
    val root = graft.TestDirs.temp("graft_append_cap").toString
    val store = new DocStore(spark, root, "graftdocs")
    store.declareCapped("c", max = 2)
    store.appendRaw("c", good(1) ++ good(2))
    store.appendRaw("c", bad)
    assert(store.cappedFiles("c").map(_._3).sum == 2, store.cappedFiles("c"))
  }
}
