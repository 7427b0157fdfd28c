package graft.llmops

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkFixture

/** Randomized sweeps for the session's curation operators, each checked
  * against an independently-written local Scala model: line-level dedup
  * (random corpora / separators / thresholds), BPE encode (random merge
  * tables over random text), and snapshot diffs (random multisets).
  * Seeded — failures reproduce. */
class CurationPropertySpec extends AnyFunSuite {
  private lazy val spark = SparkFixture.spark
  import spark.implicits._

  private val rnd = new scala.util.Random(0xC0FFEE)

  test("dropFrequentLines ≡ local model over 40 random corpora") {
    (1 to 40).foreach { draw =>
      val sep = if (rnd.nextBoolean()) "\n" else "|"
      val nDocs = 2 + rnd.nextInt(12)
      val vocab = Vector("aa", "bb", "cc", "dd", "ee").take(2 + rnd.nextInt(4))
      val docs = (1L to nDocs).map { id =>
        val lines = (0 to rnd.nextInt(6)).map(_ => vocab(rnd.nextInt(vocab.size)))
        (id, lines.mkString(sep))
      }
      val frac = rnd.nextDouble()
      // local model: doc-frequency per line, keep ≤ frac·N, rebuild
      val docFreq = docs.flatMap { case (id, t) =>
        t.split(java.util.regex.Pattern.quote(sep), -1).distinct.map(_ -> id)
      }.groupBy(_._1).map { case (l, xs) => l -> xs.map(_._2).distinct.size }
      val expect = docs.flatMap { case (id, t) =>
        val kept = t.split(java.util.regex.Pattern.quote(sep), -1)
          .filter(l => docFreq(l) <= frac * nDocs)
        if (kept.isEmpty) None else Some((id, kept.mkString(sep)))
      }.toMap
      val got = Dedup.dropFrequentLines(docs.toDF("doc_id", "text"),
          "doc_id", "text", sep, frac)
        .as[(Long, String)].collect().toMap
      assert(got == expect, s"draw $draw sep=$sep frac=$frac docs=$docs")
    }
  }

  /** An independent local BPE encode (recursive, structured differently
    * from the kernel's iterative loop on purpose). */
  private def localEncode(tok: String, ranks: Map[(String, String), Int]): Seq[String] = {
    def step(syms: Vector[String]): Vector[String] = {
      val best = syms.zip(syms.drop(1)).flatMap(p => ranks.get(p).map(p -> _))
        .sortBy(_._2).headOption
      best match {
        case None => syms
        case Some(((p1, p2), _)) =>
          val out = Vector.newBuilder[String]
          var i = 0
          while (i < syms.length) {
            if (i < syms.length - 1 && syms(i) == p1 && syms(i + 1) == p2) {
              out += p1 + p2; i += 2
            } else { out += syms(i); i += 1 }
          }
          step(out.result())
      }
    }
    step(tok.map(_.toString).toVector).toSeq
  }

  test("bpe_encode ≡ local model over 60 random merge tables") {
    val pat = java.util.regex.Pattern.compile(TextAnalysis.BpeSplitPattern)
    (1 to 60).foreach { draw =>
      val alpha = "ab c".toSeq.map(_.toString)
      val text = (0 to 4 + rnd.nextInt(20))
        .map(_ => alpha(rnd.nextInt(alpha.size))).mkString
      // random merges over 1-2-char symbols (may chain: later pairs can
      // reference earlier merged symbols)
      val base = Seq("a", "b", "c", " a", "ab", "bb")
      val merges = (0 to rnd.nextInt(5)).map(_ =>
        (base(rnd.nextInt(base.size)), base(rnd.nextInt(base.size)))).distinct
      val ranks = merges.zipWithIndex
        .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).min }
      val m = pat.matcher(text)
      val expect = Seq.newBuilder[String]
      while (m.find()) expect ++= localEncode(m.group(), ranks)
      val got = Seq(Tuple1(text)).toDF("t")
        .select(Bpe.encode(col("t"), merges).as("r")).as[Seq[String]].head()
      assert(got == expect.result(), s"draw $draw text='$text' merges=$merges")
    }
  }

  test("cleanText canonicality: invisible-char injection never changes the clean form (80 draws)") {
    // the property the review-pass bug violated: two texts identical up
    // to non-whitespace Cc/Cf characters MUST clean to the same bytes,
    // wherever the invisible lands (inside words, between words,
    // between whitespace runs, at the ends)
    val invisibles = Seq('\u0000', '\u0007', '\u001b', // Cc, non-\s
      '\u200b', '\u200c', '\u200d', '\ufeff', '\u00ad') // Cf
    val words = Seq("alpha", "beta", "g8", "x,y", "Ωmega")
    def cleanOf(s: String): String =
      Seq(Tuple1(s)).toDF("t")
        .select(TextAnalysis.cleanText(col("t")).as("r")).as[String].head()
    (1 to 80).foreach { draw =>
      val base = (0 to 1 + rnd.nextInt(4))
        .map(_ => words(rnd.nextInt(words.size)))
        .mkString(Seq(" ", "  ", "\t", " \n ")(rnd.nextInt(4)))
      val chars = base.toBuffer
      (0 to rnd.nextInt(3)).foreach { _ =>
        chars.insert(rnd.nextInt(chars.size + 1),
          invisibles(rnd.nextInt(invisibles.size)))
      }
      val injected = chars.mkString
      assert(cleanOf(injected) == cleanOf(base),
        s"draw $draw base=${base.map(c => f"\\u${c.toInt}%04x").mkString} " +
          s"injected=${injected.map(c => f"\\u${c.toInt}%04x").mkString}")
    }
  }

  test("diffVersions ≡ local multiset model over 25 random version pairs") {
    val store = new graft.sinks.DocStore(spark,
      graft.TestDirs.temp("graft_vprop").toString,
      "graftdocs")
    (1 to 25).foreach { draw =>
      def randRows() = (0 to rnd.nextInt(12)).map(_ =>
        (rnd.nextInt(4).toLong, if (rnd.nextInt(5) == 0) null else "v" + rnd.nextInt(3)))
      val ra = randRows(); val rb = randRows()
      val name = s"p$draw"
      store.writeVersioned(ra.toDF("id", "v"), name): Unit
      store.writeVersioned(rb.toDF("id", "v"), name): Unit
      val ma = ra.groupBy(identity).view.mapValues(_.size.toLong).toMap
      val mb = rb.groupBy(identity).view.mapValues(_.size.toLong).toMap
      val keys = ma.keySet ++ mb.keySet
      val expect = Map(
        "added" -> keys.toSeq.map(k => math.max(0L,
          mb.getOrElse(k, 0L) - ma.getOrElse(k, 0L))).sum,
        "removed" -> keys.toSeq.map(k => math.max(0L,
          ma.getOrElse(k, 0L) - mb.getOrElse(k, 0L))).sum,
        "kept" -> keys.toSeq.map(k => math.min(
          ma.getOrElse(k, 0L), mb.getOrElse(k, 0L))).sum)
      val got = store.diffVersions(name, 1).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(got == expect, s"draw $draw a=$ra b=$rb")
    }
  }
}
