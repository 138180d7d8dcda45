package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

/** Shared local session for specs: one JVM-wide session, small shuffle
  * partition count so tiny-fixture tests don't schedule 32 empty tasks.
  */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session

  def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  /** Run `body` with SQL confs set, restoring the previous values. */
  def withSqlConf[A](pairs: (String, String)*)(body: => A): A = {
    val prev = pairs.map { case (k, _) => k -> spark.conf.getOption(k) }
    pairs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** The data files a query plans to read: the files of every file
    * relation in its analyzed plan. Counted before optimization, so a
    * point lookup that is read on the driver (no file scan in the
    * executed plan) still counts the files it reads.
    */
  def plannedFiles(df: DataFrame): Int =
    df.queryExecution.analyzed.collect {
      case LogicalRelation(fs: HadoopFsRelation, _, _, _, _) => fs.location.inputFiles.length
    }.sum

  /** The Spark jobs `body` starts. A marker job before and after it
    * brackets the window: the listener bus delivers job starts in
    * submission order, so once the closing marker's start is seen,
    * every job `body` started has been counted.
    */
  def jobsDuring[A](body: => A): (A, Int) = {
    val markerKey = "graft.test.jobs-marker"
    val started = new AtomicInteger
    val opened = new CountDownLatch(1)
    val closed = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty(markerKey))) match {
          case Some("open") => opened.countDown()
          case Some("close") => closed.countDown()
          case _ => if (opened.getCount == 0 && closed.getCount == 1) started.incrementAndGet()
        }
    }
    def marker(name: String, latch: CountDownLatch): Unit = {
      spark.sparkContext.setLocalProperty(markerKey, name)
      try spark.sparkContext.parallelize(Seq(1), 1).count()
      finally spark.sparkContext.setLocalProperty(markerKey, null)
      assert(latch.await(30, TimeUnit.SECONDS), s"the $name marker job was never seen")
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      marker("open", opened)
      val out = body
      marker("close", closed)
      (out, started.get)
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-tests")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
