package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for all suites. */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = Sessions.local(4, "graft-test")
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Runs `body` with a fresh checkpoint dir set on the shared session,
    * so every `Materialize.pin` inside it is a durable `checkpoint()`.
    * Afterwards the session's prior dir is restored (a fresh session has
    * none, and `setCheckpointDir(null)` clears it) and the dir deleted;
    * a leaked dir would make every later pin in this JVM durable. */
  def withCheckpointDir[A](body: java.io.File => A): A = {
    val sc = spark.sparkContext
    val prior = sc.getCheckpointDir
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt").toFile
    sc.setCheckpointDir(dir.toString)
    try body(dir)
    finally {
      sc.setCheckpointDir(prior.orNull)
      graft.core.Scratch.deleteRecursively(dir.toPath)
      assert(sc.getCheckpointDir == prior,
        s"checkpoint dir not restored: ${sc.getCheckpointDir} != $prior")
    }
  }

  val sf0001 = "/root/testdata/sf0.001"
  val sf001 = "/root/testdata/sf0.01"
}
