package graft

import org.apache.spark.sql.SparkSession

/** Shared local session for all suites. */
object TestSpark {
  lazy val spark: SparkSession = GraftSession.local("4",
    "spark.sql.warehouse.dir" ->
      java.nio.file.Files.createTempDirectory("graft-wh").toString)

  val Sf: String = "/root/testdata/sf0.001"
}
