package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for the whole test run, built like every
  * main's ([[Session.local]]): the whole run exercises the extensions
  * injection path and the bench's settings. */
object SparkFixture {
  lazy val spark: SparkSession = Session.local(4)
}
