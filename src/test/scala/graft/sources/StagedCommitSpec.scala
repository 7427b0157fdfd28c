package graft.sources

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkFixture

/** The staged commit both file sinks share ([[StagedCommit]]) under an
  * injected fault: a rename that fails mid-commit rolls back the renames
  * before it, so no new file becomes visible and a truncating write
  * leaves the old data in place. */
class StagedCommitSpec extends AnyFunSuite {
  private lazy val spark = SparkFixture.spark

  /** Visible (not `.`-prefixed) file names under `dir`, recursively. */
  private def visible(dir: String): Seq[String] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
    walk(new java.io.File(dir)).map(_.getName)
      .filterNot(_.startsWith(".")).sorted
  }

  private def rows(df: DataFrame): Seq[String] =
    df.collect().toSeq.map(_.toString).sorted

  /** Write `old`, then overwrite it with `fresh` (two tasks, so two or
    * more staged files) through `faultfs:` with the second rename of the
    * commit failing; `read` reads a plain local path back. */
  private def failedOverwrite(format: String,
                              read: String => DataFrame): Unit = {
    FaultFs.register(spark.sparkContext.hadoopConfiguration)
    val dir = graft.TestDirs.temp(s"graft_staged_$format").toString
    val old = spark.range(0, 20).selectExpr("id AS k", "id * 2 AS v")
    val fresh = spark.range(100, 140).selectExpr("id AS k", "id * 3 AS v")
      .repartition(2)
    old.write.format(format).mode("overwrite").save(dir)
    val before = visible(dir)
    assert(before.nonEmpty)
    FaultFs.failRename(1)
    try {
      val e = intercept[Exception](
        fresh.write.format(format).mode("overwrite").save(FaultFs.path(dir)))
      assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .exists(c => String.valueOf(c.getMessage)
          .contains(s"$format commit: rename")), e)
    } finally FaultFs.reset()
    assert(visible(dir) == before)
    // the abort that follows the failed commit deletes the staged files
    assert(new java.io.File(dir).listFiles().forall(!_.getName.startsWith(".")))
    assert(rows(read(dir)) == rows(old))
  }

  test("graftdocs: a rename failing mid-commit leaves no new file " +
       "visible and the old data reads") {
    failedOverwrite("graftdocs", dir => spark.read.format("graftdocs")
      .schema("k long, v long").load(dir))
  }

  test("graftarrow: a rename failing mid-commit leaves no new file " +
       "visible and the old data reads") {
    failedOverwrite("graftarrow", dir =>
      spark.read.format("graftarrow").load(dir))
  }
}
