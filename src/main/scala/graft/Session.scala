package graft

import org.apache.spark.sql.SparkSession

/** The one local session builder: every main and the test base build
  * through [[local]], so a plan dump, a profile, the correctness dump
  * and the bench all run under the same settings ([[settings]]):
  *
  *  - `local[cpus]` with `spark.sql.shuffle.partitions = cpus`;
  *  - AQE on, with a 64k coalescing floor;
  *  - streaming checkpoint-file checksums off;
  *  - v2 bucketing with partition-value push-down;
  *  - UTC session time zone, no UI;
  *  - the engine's SQL functions through [[graft.functions.GraftExtensions]].
  *
  * `perfbench`'s session copies this list by hand. For an A/B run,
  * `SPARK_GRAFT_EXTRA_CONF="k=v;k2=v2"` adds or overrides entries.
  * On a live session `getOrCreate` returns that session: the extensions
  * are registered once per session, never twice.
  */
object Session {
  /** `SPARK_GRAFT_CPUS` when set, else every core of this machine. */
  def defaultCpus: Int =
    sys.env.get("SPARK_GRAFT_CPUS").fold(Runtime.getRuntime.availableProcessors)(_.toInt)

  def settings(cpus: Int): Seq[(String, String)] = Seq(
    "spark.master" -> s"local[$cpus]",
    "spark.sql.shuffle.partitions" -> cpus.toString,
    "spark.sql.adaptive.enabled" -> "true",
    // AQE coalescing sizes partitions by BYTES: CPU-dense kernels over
    // small text shuffles (1-2 MB at bench scale) were coalesced to ONE
    // partition, serializing multi-second window / tokenization stages
    // on one core. A low floor keeps parallelismFirst effective for
    // small shuffles; at production shuffle sizes the target is
    // totalBytes/parallelism >> this floor, so behavior is unchanged at
    // scale.
    "spark.sql.adaptive.coalescePartitions.minPartitionSize" -> "64k",
    // streaming checkpoints here are per-run scratch deleted at query
    // end, so Spark 4.1's checkpoint-file checksum sidecars (an async
    // checksum write awaited on every state delta close) are pure
    // overhead: the cold-path state commit dropped 4 s -> 0.5 s with
    // them off. Durable production checkpoints should keep the default.
    "spark.sql.streaming.checkpoint.fileChecksum.enabled" -> "false",
    // storage-partitioned joins for co-partitioned graftdocs layouts
    "spark.sql.sources.v2.bucketing.enabled" -> "true",
    "spark.sql.sources.v2.bucketing.pushPartValues.enabled" -> "true",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.ui.enabled" -> "false")

  def local(cpus: Int = defaultCpus): SparkSession = {
    val extra = sys.env.get("SPARK_GRAFT_EXTRA_CONF").fold(Seq.empty[(String, String)])(parseExtraConf)
    val spark = (settings(cpus) ++ extra)
      .foldLeft(SparkSession.builder().withExtensions(new graft.functions.GraftExtensions)) {
        case (b, (k, v)) => b.config(k, v)
      }.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** `k=v;k2=v2` → pairs; an entry without a key and `=` is refused by name. */
  def parseExtraConf(s: String): Seq[(String, String)] =
    s.split(";").toSeq.map(_.trim).filter(_.nonEmpty).map { kv =>
      kv.split("=", 2) match {
        case Array(k, v) if k.trim.nonEmpty => k.trim -> v
        case _ => throw new IllegalArgumentException(
          s"SPARK_GRAFT_EXTRA_CONF entry '$kv' is not key=value")
      }
    }

  /** Drop every persisted intermediate between queries: `clearCache()`
    * drops only DataFrame cache entries, while `localCheckpoint` RDDs
    * (graphLookup, Components, `$lookup`-let rounds) live in the block
    * manager outside the cache manager. Left in place they build up
    * across queries into multi-second GC and eviction outliers. */
  def reset(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
  }
}
