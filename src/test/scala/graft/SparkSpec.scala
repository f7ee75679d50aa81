package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession fixture; tests run on the sf0.001 tables. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  val sf: String = "/root/testdata/sf0.001"
  lazy val spark: SparkSession = GraftSession.builder("local[4]", 4).getOrCreate()

  /** Spark jobs started while `body` runs: a sentinel job marks the end,
    * and listener events arrive in order, so every job `body` started
    * has been seen once the sentinel has. */
  def jobsDuring(body: => Unit): Seq[String] = {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        seen.add(Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse("?"))
        ()
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      body
      spark.sparkContext.setJobDescription("graft-sentinel")
      try spark.range(1).collect() finally spark.sparkContext.setJobDescription(null)
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (!seen.contains("graft-sentinel") && System.nanoTime() < deadline) Thread.sleep(20)
      assert(seen.contains("graft-sentinel"))
      import scala.jdk.CollectionConverters._
      seen.asScala.toSeq.filterNot(_ == "graft-sentinel")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  /** Where [[graft.sources.IndexCache.layout]] writes layout `name` of
    * `family` for the spec's snapshot. */
  def layoutPath(family: String, name: String): org.apache.hadoop.fs.Path =
    graft.sources.IndexCache.scratchPath(spark, family, s"$sf/$name")

  /** The modification time of the layout directory `p`, read through
    * its Hadoop FileSystem; the directory must exist. */
  def layoutModified(p: org.apache.hadoop.fs.Path): Long = {
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.exists(p), s"no layout at $p")
    fs.getFileStatus(p).getModificationTime
  }

  private val tempDirs = new java.util.concurrent.ConcurrentLinkedQueue[java.io.File]()

  /** A fresh temporary directory, deleted with its contents when the
    * suite ends. */
  def tempDir(prefix: String): java.nio.file.Path = {
    val d = java.nio.file.Files.createTempDirectory(prefix)
    tempDirs.add(d.toFile)
    d
  }

  private def rm(f: java.io.File): Unit = {
    Option(f.listFiles()).toSeq.flatten.foreach(rm)
    f.delete(): Unit
  }

  override def afterAll(): Unit = {
    // the session is shared across suites in one JVM: don't stop it
    try tempDirs.forEach(rm(_)) finally super.afterAll()
  }
}
