package graft

import java.nio.file.{Files, Path}
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Maintenance

/** Shared session for all suites — one JVM-wide SparkSession (getOrCreate
  * returns the same instance across suites; building per-suite would leak
  * contexts). */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  def sf0001 = "/root/testdata/sf0.001"
  def sf001 = "/root/testdata/sf0.01"

  private val suiteDirs = mutable.Buffer[Path]()

  /** A fresh temp dir, removed with its contents when the suite ends. */
  def suiteTempDir(prefix: String): Path = suiteDirs.synchronized {
    val dir = Files.createTempDirectory(prefix)
    suiteDirs += dir
    dir
  }

  override def afterAll(): Unit =
    try suiteDirs.synchronized(suiteDirs.foreach(d => Maintenance.rmTree(d.toFile)))
    finally super.afterAll()

  /** Listener-counted jobs and compiled codegen classes of `body`. */
  def jobsAndCompiles[A](body: => A): (A, Int, Long) = {
    val sc = spark.sparkContext
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }
    }
    org.apache.spark.ListenerBusDrain(sc)
    sc.addSparkListener(listener)
    val compiles0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    try {
      val a = body
      org.apache.spark.ListenerBusDrain(sc)
      (a, jobs.get, CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles0)
    } finally sc.removeSparkListener(listener)
  }
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
