package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for specs (SURVEY §5.2: unit tests on local[2]). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  lazy val sqlContext = spark.sqlContext // for implicits

  /** Run `body`; return its result and the ids of the persistent RDDs
    * registered after it ran that were not registered before — keyed to
    * ids, so storage held elsewhere in the shared session never counts. */
  def persistedBy[A](body: => A): (A, Set[Int]) = {
    val before = spark.sparkContext.getPersistentRDDs.keySet.toSet
    val result = body
    (result, spark.sparkContext.getPersistentRDDs.keySet.toSet -- before)
  }
}

object SparkSpec {
  /** [[graft.tools.LocalSession]]'s configuration on local[2], plus the
    * confs only the specs need. */
  lazy val session: SparkSession = {
    val s = graft.tools.LocalSession.builder("2")
      .appName("graft-test")
      // Spark 4.1's checksum checkpoint manager shells out (hadoop readLink)
      // on every state-store commit; the subprocess wedges under the forked
      // test JVM in this container. Plain checkpoint files are fine here.
      .config("spark.sql.streaming.checkpoint.fileChecksum.enabled", "false")
      // static conf: managed (bucketed) test tables go to a temp warehouse
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft-warehouse").toString)
      .config("spark.sql.catalogImplementation", "in-memory")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
