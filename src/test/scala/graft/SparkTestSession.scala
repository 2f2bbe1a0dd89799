package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec

/** One shared local session for the whole test run (suites share the JVM). */
object SparkTestSession {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-tests")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** The physical plan `df`'s job runs: AQE's initial plan, before any
    * runtime re-optimization.
    */
  def initialPlan(df: DataFrame): SparkPlan = df.queryExecution.executedPlan match {
    case a: AdaptiveSparkPlanExec => a.initialPlan
    case p => p
  }

  /** A fresh root under the system temp directory, deleted with all its
    * contents when the JVM exits (`deleteOnExit` never removes a non-empty
    * directory, so every root would otherwise outlive the run).
    */
  def tempDir(tag: String): String = {
    val d = java.nio.file.Files.createTempDirectory(s"graft-$tag-").toFile
    reaper
    roots.add(d)
    d.getAbsolutePath
  }

  private val roots = new java.util.concurrent.ConcurrentLinkedQueue[java.io.File]()

  private lazy val reaper: Unit =
    sys.addShutdownHook(roots.forEach(deleteTree(_))): Unit

  private def deleteTree(f: java.io.File): Unit = {
    if (!java.nio.file.Files.isSymbolicLink(f.toPath))
      Option(f.listFiles).foreach(_.foreach(deleteTree))
    f.delete(): Unit
  }
}
