package graft

import java.nio.file.{Files, Path}

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared session for all suites (one JVM-wide session; suites run
  * sequentially under sbt's forked test JVM).
  */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  def sf0001 = "/root/testdata/sf0.001"

  /** The directories a suite makes (warehouses, staged inputs, export
    * targets), deleted after the suite.
    */
  private val tempDirs = new java.util.concurrent.ConcurrentLinkedQueue[Path]

  /** A fresh directory under `java.io.tmpdir`, deleted after the suite. */
  def tempDir(prefix: String): Path = {
    val d = Files.createTempDirectory(prefix)
    tempDirs.add(d)
    d
  }

  override def afterAll(): Unit =
    try tempDirs.forEach(d => LocalFiles.deleteRecursively(d))
    finally super.afterAll()

  /** The descriptions of the Spark jobs `op` starts, in start order. */
  def jobsRunBy(op: => Any): Seq[String] = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import scala.jdk.CollectionConverters._
    val sc = spark.sparkContext
    val descs = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        descs.add(Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .getOrElse(""))
    }
    org.apache.spark.SpecAccess.drainListenerBus(sc)
    sc.addSparkListener(listener)
    try {
      op
      org.apache.spark.SpecAccess.drainListenerBus(sc)
    } finally sc.removeSparkListener(listener)
    descs.asScala.toSeq
  }
}

object SparkSpec {
  lazy val session: SparkSession = GraftSession.local(4)
}
