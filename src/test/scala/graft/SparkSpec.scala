package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM-wide session via
  * getOrCreate; build.sbt forks tests with the JDK17 add-opens).
  *
  * Every suite drains [[graft.queries.ScratchCache]] on teardown: queries
  * register their scratch persists there expecting the CALLER to release
  * them after the terminal action (Verify and Bench drain per query), and
  * a suite that exercised the query map without draining would pin those
  * Datasets — and transitively the session — in executor storage for the
  * life of the test JVM (round-6 advice).
  */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = GraftSession(SparkSpec.Cores, Map(
    "spark.app.name" -> "graft-test",
    "spark.sql.warehouse.dir" ->
      java.nio.file.Files.createTempDirectory("graft-warehouse").toString))

  override protected def afterAll(): Unit = {
    graft.queries.ScratchCache.drain()
    super.afterAll()
  }
}

object SparkSpec {
  /** Fixed, not the box's core count, so partition-count pins in the
    * specs hold on any machine.
    */
  val Cores = 4
}
