package graft

import org.apache.spark.sql.SparkSession

/** One shared local session across all suites, with the engine's
  * session defaults.
  */
object TestSpark {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config(GraftSession.Defaults)
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  def fixturePath(name: String): String =
    getClass.getResource(s"/$name").toString
}
