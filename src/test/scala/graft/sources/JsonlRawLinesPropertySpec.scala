package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.scalacheck.Gen
import org.scalatest.funsuite.AnyFunSuite

/** The split contract of the chunked `.jsonl` line reader: over any
  * cover of a file by byte-range splits, the splits' non-empty lines,
  * taken in split order, are the file's non-empty lines — byte for byte,
  * each exactly once, with their file offsets. Files mix lines longer
  * than the read chunk, newlines on and next to chunk boundaries, runs
  * of empty lines, and a final line with and without its newline;
  * splits start at 0, right after a newline (inside empty-line runs
  * too), mid-line, and come as small as one byte. (Plain ScalaCheck
  * generators sampled in a loop, as in the other property specs.) */
class JsonlRawLinesPropertySpec extends AnyFunSuite {
  private val chunk = JsonlRawLines.ChunkBytes
  private val fs = FileSystem.getLocal(new Configuration()).getRawFileSystem

  private def sample[A](g: Gen[A]): A =
    Iterator.continually(g.sample).flatten.next()

  private val lineLen: Gen[Int] = Gen.frequency(
    6 -> Gen.choose(1, 200),
    3 -> Gen.const(0), // empty line
    1 -> Gen.oneOf(chunk - 2, chunk - 1, chunk, chunk + 1),
    1 -> Gen.choose(chunk + 2, 2 * chunk + 3))

  /** Random non-newline bytes (any other value, '\r' and high bytes too). */
  private def body(n: Int, rng: scala.util.Random): Array[Byte] =
    Array.fill(n) { val b = rng.nextInt(255); (if (b >= '\n') b + 1 else b).toByte }

  private def genFile(rng: scala.util.Random): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    // a leading empty-line run sometimes, so split 0 can open on blanks
    if (rng.nextBoolean()) (0 until rng.nextInt(4)).foreach(_ => out.write('\n'))
    val lines = sample(Gen.choose(1, 24).flatMap(Gen.listOfN(_, lineLen)))
    lines.foreach { n => out.write(body(n, rng)); out.write('\n') }
    // final line: terminated (above), or a last line without '\n'
    if (rng.nextBoolean()) out.write(body(1 + rng.nextInt(chunk + 10), rng))
    out.toByteArray
  }

  /** The file's non-empty lines and their start offsets. */
  private def expected(bytes: Array[Byte]): Seq[(Long, Seq[Byte])] = {
    val out = Seq.newBuilder[(Long, Seq[Byte])]
    var s = 0
    for (i <- 0 to bytes.length)
      if (i == bytes.length || bytes(i) == '\n') {
        if (i > s) out += (s.toLong -> bytes.slice(s, i).toSeq)
        s = i + 1
      }
    out.result()
  }

  /** Split boundaries drawn from every offset class, always covering
    * [0, len): right after a newline, mid-line, and p/p+1 pairs that
    * make one-byte splits. */
  private def cuts(bytes: Array[Byte], rng: scala.util.Random): Seq[Long] = {
    val len = bytes.length
    val afterNl = bytes.indices.filter(bytes(_) == '\n').map(_ + 1).filter(_ < len)
    val midLine = (1 until len).filter(i => bytes(i - 1) != '\n')
    def pick(xs: IndexedSeq[Int], k: Int) =
      if (xs.isEmpty) Nil else Seq.fill(k)(xs(rng.nextInt(xs.size)))
    val singles = pick((0 until len).toIndexedSeq, 3).flatMap(p => Seq(p, p + 1))
    (Seq(0, len) ++ pick(afterNl, 4) ++ pick(midLine, 4) ++ singles)
      .filter(p => p >= 0 && p <= len).distinct.sorted.map(_.toLong)
  }

  private def read(path: Path, start: Long, end: Long): Seq[(Long, Seq[Byte])] = {
    val lines = new JsonlRawLines(fs.open(path), start, end)
    try {
      Iterator.continually(lines.nextNonEmpty()).takeWhile(_ >= 0)
        .map(n => lines.lineStart -> lines.buffer.take(n).toSeq).toVector
    } finally lines.close()
  }

  test("splits partition a file's non-empty lines exactly, across chunk boundaries") {
    val dir = graft.TestDirs.temp("graft_jsonl_lines")
    try {
      for (iter <- 1 to 60) {
        val rng = new scala.util.Random(iter)
        val bytes = genFile(rng)
        val file = dir.resolve(s"f$iter.jsonl")
        java.nio.file.Files.write(file, bytes)
        val path = new Path(file.toUri)
        val want = expected(bytes)
        val cs = cuts(bytes, rng)
        val got = cs.zip(cs.tail).flatMap { case (s, e) => read(path, s, e) }
        assert(got.map(_._1) == want.map(_._1),
          s"iteration $iter: line offsets differ (cuts $cs)")
        assert(got == want, s"iteration $iter: line bytes differ (cuts $cs)")
        // one split over the whole file is the same walk
        assert(read(path, 0L, bytes.length.toLong) == want)
        java.nio.file.Files.delete(file)
      }
    } finally org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
  }

  test("a split starting inside an empty-line run keeps the next line") {
    val dir = graft.TestDirs.temp("graft_jsonl_lines")
    try {
      val big = "x" * (chunk + 5)
      val text = s"a\n\n\n\n$big\nb\n\n"
      val file = dir.resolve("runs.jsonl")
      java.nio.file.Files.write(file, text.getBytes("UTF-8"))
      val path = new Path(file.toUri)
      def strs(s: Long, e: Long) = read(path, s, e).map(l => new String(l._2.toArray, "UTF-8"))
      // every start inside the "\n\n\n\n" run (offsets 2..5) hands the
      // big line to the split that starts at or before its first byte
      for (s <- 2L to 5L) {
        assert(strs(0L, s) == Seq("a"))
        assert(strs(s, text.length.toLong) == Seq(big, "b"))
      }
      assert(strs(6L, text.length.toLong) == Seq("b")) // mid-line start
    } finally org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
  }
}
