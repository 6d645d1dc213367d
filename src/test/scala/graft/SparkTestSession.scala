package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for the whole test run (Test/fork gives the
  * suite its own JVM; suites share this lazy instance). It is
  * [[GraftSession.builder]]'s session with its own warehouse under the
  * checkout's `target/`, so specs never touch the engine's warehouse.
  */
object SparkTestSession {
  lazy val spark: SparkSession = {
    val s = GraftSession.builder(4, "graft-test")
      .config("spark.sql.warehouse.dir", s"${GraftSession.target}/test-warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  val SfDir = "/root/testdata/sf0.001"
}

/** Scratch directories that live for one test: [[tempRoot]] creates one
  * under `java.io.tmpdir`, and every root a test created is deleted when
  * that test ends, pass or fail.
  */
trait TempRoots extends org.scalatest.TestSuiteMixin { this: org.scalatest.TestSuite =>
  private val roots = scala.collection.mutable.Buffer.empty[java.nio.file.Path]

  protected def tempRoot(prefix: String): java.nio.file.Path = roots.synchronized {
    val p = java.nio.file.Files.createTempDirectory(prefix)
    roots += p
    p
  }

  abstract override def withFixture(test: NoArgTest): org.scalatest.Outcome =
    try super.withFixture(test)
    finally roots.synchronized {
      roots.foreach(graft.streaming.StreamingSessionize.deleteTree)
      roots.clear()
    }
}
