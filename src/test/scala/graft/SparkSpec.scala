package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for specs. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session

  /** Pin the shared session as this suite thread's active (and the JVM
    * default) session BEFORE any test runs. The active session is a
    * thread-local; suites run on runner threads that never created the
    * session, so code that resolves `SparkSession.active` at physical-plan
    * construction (SparkPlan captures `getActiveSession.orNull`) can see
    * null when nothing pinned it — the round-21 MergeDifferentialSpec NPE
    * (null sparkSession in CreateViewCommand.run). Pinning here makes every
    * suite thread self-sufficient regardless of which thread planned first.
    */
  override protected def beforeAll(): Unit = {
    super.beforeAll()
    SparkSession.setDefaultSession(spark)
    SparkSession.setActiveSession(spark)
  }
  def tmpDir(name: String): String = {
    val d = java.nio.file.Files.createTempDirectory(s"graft-$name").toFile
    d.deleteOnExit()
    d.getAbsolutePath
  }
}

object SparkSpec {
  lazy val session: SparkSession = {
    // the production injection path (functions + GraftSqlRules): the
    // whole suite runs WITH the extensions installed (Session.local pins
    // them), so a rule that breaks unrelated plans fails loudly here, not
    // at a user's site
    val s = Session.local(4)
    // register up front so suites that use graft_* SQL functions don't
    // depend on an operator entry point having run first (test-order
    // independence — SplitInvariancePropSpec alone must pass)
    graft.functions.GraftFunctions.register(s)
    s
  }
}
