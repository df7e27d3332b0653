package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for the whole test JVM, built by
  * [[Graft.session]] like every entry point. The warehouse dir is a
  * static conf, so it rides in as a system property, which the session
  * builder reads the way it reads the launcher's `-Dspark.*` options. */
object TestSpark {
  lazy val spark: SparkSession = {
    sys.props("spark.sql.warehouse.dir") =
      java.nio.file.Files.createTempDirectory("graft_wh").toString
    val s = Graft.session(master = "local[4]", appName = "graft-test")
    s.sparkContext.setLogLevel("WARN")
    s
  }
  val sf0001 = "/root/testdata/sf0.001"
  val sf001 = "/root/testdata/sf0.01"
}
