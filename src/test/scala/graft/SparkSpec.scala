package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (getOrCreate: one JVM-wide
  * session across the forked test run) + the smoke fixture dir. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = Session.build(cores = 4)

  /** Smoke fixture (TESTDATA.md): smallest scale, fast enough for unit
    * tests; correctness vs DuckDB is the Verify harness's job, these
    * suites cover invariants the oracle can't (nondeterministic ops,
    * streaming semantics, file-level pipeline behavior). */
  val sf = "/root/testdata/sf0.001"

  /** Absolute path of `target/<sub>` in the checkout the tests run from. */
  def targetDir(sub: String): String =
    java.nio.file.Paths.get("target", sub).toAbsolutePath.toString
}
