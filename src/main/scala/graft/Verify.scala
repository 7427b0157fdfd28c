package graft
import java.nio.file.{Files, Paths}

import org.json4s.DefaultFormats
import org.json4s.jackson.Serialization
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    // optional trailing names: dump only those queries (local iteration;
    // the driver always passes exactly two args → full dump)
    val only = args.drop(2).toSet
    // the bench's own session: verify runs the identical plans the bench times
    val spark = Session.local()
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
      val t0 = System.nanoTime()
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        // per-query wall time on stderr: the bench can be blind to a
        // query whose cost sits in a prunable projection (round-5
        // postmortem) — the dump writes every column, so a hidden-slow
        // query always shows here
        System.err.println(f"[verify] $name ok in ${(System.nanoTime() - t0) / 1e9}%.1f s")
      }
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      Session.reset(spark)
    }
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"),
      Serialization.write(SparkEntry.oracleSql)(DefaultFormats))
    spark.stop()
  }
}
