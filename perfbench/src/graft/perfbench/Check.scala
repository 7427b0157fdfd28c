package graft.perfbench

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._

/** Order-independent result checksums: the row count plus, per column,
  * the sum of the low 32 bits of xxhash64 over its values. `typed` hashes
  * values as stored (the schema is declared on both sides); `text`
  * hashes their string form, for results whose types the reader infers
  * (an int64 count may come back as int32). */
object Check {
  type Sums = Map[String, Long]

  private val Count = "_count"

  private def cols(df: DataFrame, text: Boolean, except: String = null): Seq[Column] =
    count(lit(1)).as(Count) +: df.columns.sorted.toSeq.filterNot(_ == except).map { c =>
      val v = if (text) col(c).cast("string") else col(c)
      coalesce(sum(xxhash64(v).bitwiseAND(0xFFFFFFFFL)), lit(0L)).as(c)
    }

  /** The checksum as a one-row aggregate over `df`. */
  def agg(df: DataFrame, text: Boolean): DataFrame = df.agg(cols(df, text).head, cols(df, text).tail: _*)

  /** The checksum of the other columns per value of column `Key`. */
  def aggBy(df: DataFrame, text: Boolean): DataFrame = {
    val cs = cols(df, text, except = Key)
    df.groupBy(col(Key)).agg(cs.head, cs.tail: _*)
  }

  val Key = "_key"

  def sums(row: Row): Sums =
    row.schema.fieldNames.filterNot(_ == Key).map(n => n -> row.getAs[Long](n)).toMap

  def collect(aggDf: DataFrame): Sums = sums(aggDf.collect().head)

  def rows(s: Sums): Long = s(Count)

  def add(a: Sums, b: Sums): Sums = (a.keySet ++ b.keySet).map(k =>
    k -> (a.getOrElse(k, 0L) + b.getOrElse(k, 0L))).toMap

  /** None when equal, else a one-line difference. */
  def diff(what: String, expected: Sums, got: Sums): Option[String] =
    if (expected == got) None
    else {
      val keys = (expected.keySet ++ got.keySet).toSeq.sorted
        .filter(k => expected.get(k) != got.get(k))
      Some(s"$what: checksum mismatch on ${keys.take(5).map(k =>
        s"$k expected ${expected.get(k).orNull} got ${got.get(k).orNull}").mkString(", ")}")
    }
}
