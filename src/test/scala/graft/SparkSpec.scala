package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared local SparkSession for all specs (one JVM-wide session — specs run
  * in a single forked JVM, see build.sbt `Test / fork`), built from
  * [[GraftSession]] so specs run under the confs Bench and Verify use. */
object SparkSpec {
  lazy val spark: SparkSession = GraftSession.builder("graft-test", parallelism = 4)
    .master("local[4]")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
}

abstract class SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.spark
  override def beforeAll(): Unit = { spark.sparkContext.setLogLevel("ERROR") }

  /** Build a small DataFrame from rows of Any (null allowed). */
  def df(schema: StructType, rows: Seq[Any]*): DataFrame =
    spark.createDataFrame(
      java.util.Arrays.asList(rows.map(r => Row.fromSeq(r)): _*), schema)

  def schema(fields: (String, DataType)*): StructType =
    StructType(fields.map { case (n, t) => StructField(n, t) })

  /** Collect a single column as a Seq (in the frame's current order). */
  def col1[T](d: DataFrame, name: String): Seq[T] =
    d.select(name).collect().toSeq.map(_.getAs[T](0))

  /** One single-file micro-batch of a stream feed, mtime-pinned so the
    * file source's batch order is deterministic (mirrors SparkEntry's
    * feed builder). */
  def shipFeed(df: DataFrame, feed: java.io.File, k: Int,
      tmpDir: String): Unit = {
    df.coalesce(1).write.parquet(tmpDir)
    val part = new java.io.File(tmpDir).listFiles()
      .find(f => f.getName.startsWith("part-") &&
        f.getName.endsWith(".parquet")).get
    val dst = new java.io.File(feed, s"b$k.parquet")
    java.nio.file.Files.move(part.toPath, dst.toPath)
    assert(dst.setLastModified(
      System.currentTimeMillis() - 600000L + k * 2000L))
  }

  /** Spark jobs started while `body` runs, bracketed by sentinel jobs so
    * queued events of earlier work are not counted. */
  def jobsDuring(body: => Unit): Int = {
    val descs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        descs.add(String.valueOf(Option(e.properties)
          .map(_.getProperty("spark.job.description")).orNull))
    }
    def sentinel(name: String): Unit = {
      spark.sparkContext.setJobDescription(name)
      try spark.range(1).collect()
      finally spark.sparkContext.setJobDescription(null)
      val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
      while (!descs.contains(name) && System.nanoTime() < deadline)
        Thread.sleep(20)
      assert(descs.contains(name), "listener events never arrived")
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      sentinel("__jobs_before")
      body
      sentinel("__jobs_after")
    } finally spark.sparkContext.removeSparkListener(listener)
    import scala.jdk.CollectionConverters._
    val seen = descs.asScala.toSeq
    seen.indexOf("__jobs_after") - seen.indexOf("__jobs_before") - 1
  }

  def approx(a: Double, b: Double, tol: Double = 1e-9): Boolean =
    (a.isNaN && b.isNaN) || math.abs(a - b) <= tol * math.max(1.0, math.abs(b))
}
