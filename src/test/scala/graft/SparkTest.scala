package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for the whole test run. */
object SparkTest {
  /** sbt runs suites in parallel threads over this ONE session, so a
    * test that mutates session conf (broadcast thresholds, checkpoint
    * dir, state-store provider) races every concurrently-running
    * query. Any set→run→restore region must hold this lock. */
  val confLock = new Object

  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      // same extensions as GraftSession: native functions + BandJoinRule
      .config("spark.sql.extensions",
        classOf[graft.engine.functions.GraftExtensions].getName)
      .config("spark.sql.shuffle.partitions", "4")
      // session contract, same as GraftSession: events.parquet is
      // TIMESTAMP(NANOS) and streaming reads need the flag live
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft-warehouse").toString)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** A sibling of [[session]] (same SparkContext, own SQL conf) with
    * `spark.sql.files.openCostInBytes` at 0, so a FileTopicStore over it
    * compacts every non-empty topic through Spark rather than on the
    * driver. The shared session's conf never changes for it, so suites
    * running alongside keep their read paths. */
  lazy val sparkReadSession: SparkSession = {
    val s = session.newSession()
    s.conf.set("spark.sql.files.openCostInBytes", "0")
    s
  }
}
