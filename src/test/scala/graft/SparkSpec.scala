package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session; >1 shuffle partition on purpose so ordering
  * nondeterminism would surface (SURVEY §7.4 point 4). */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session

  def embeddingRows(rows: Seq[(String, Array[Float])]): DataFrame = {
    val schema = StructType(Seq(
      StructField("id", StringType),
      StructField("vector", ArrayType(FloatType))))
    spark.createDataFrame(
      java.util.Arrays.asList(rows.map { case (id, v) => Row(id, v.toSeq) }: _*),
      schema).repartition(4)
  }

  /** Spark jobs `body` ran: every stage name (the call site, e.g.
    * "parquet at X.scala:12") and how many completed stages wrote
    * shuffle bytes. Waits for the listener bus to deliver every event of
    * those jobs by running a marker job after `body` and waiting for its
    * end (one queue delivers in order). */
  def recordJobs[T](body: => T): (T, Seq[String], Int) = {
    import org.apache.spark.scheduler._
    val sc = spark.sparkContext
    val names = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val shuffleStages = new java.util.concurrent.atomic.AtomicInteger
    val markerId = new java.util.concurrent.atomic.AtomicInteger(-1)
    val done = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        if (js.properties != null && js.properties.getProperty("graft.test.marker") != null)
          markerId.set(js.jobId)
        else js.stageInfos.foreach(si => names.add(si.name))
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit =
        if (sc.stageInfo.taskMetrics != null &&
            sc.stageInfo.taskMetrics.shuffleWriteMetrics.bytesWritten > 0)
          shuffleStages.incrementAndGet()
      override def onJobEnd(je: SparkListenerJobEnd): Unit =
        if (je.jobId == markerId.get) done.countDown()
    }
    sc.addSparkListener(listener)
    val out = try {
      val r = body
      sc.setLocalProperty("graft.test.marker", "1")
      try sc.parallelize(Seq(1), 1).count()
      finally sc.setLocalProperty("graft.test.marker", null)
      assert(done.await(30, java.util.concurrent.TimeUnit.SECONDS),
        "listener bus did not deliver the marker job")
      r
    } finally sc.removeSparkListener(listener)
    import scala.jdk.CollectionConverters._
    (out, names.asScala.toSeq, shuffleStages.get)
  }

  def multiVectorRows(rows: Seq[(String, Seq[Array[Float]])]): DataFrame = {
    val schema = StructType(Seq(
      StructField("id", StringType),
      StructField("vectors", ArrayType(ArrayType(FloatType)))))
    spark.createDataFrame(
      java.util.Arrays.asList(rows.map { case (id, vs) => Row(id, vs.map(_.toSeq)) }: _*),
      schema).repartition(4)
  }
}

object SparkSpec {
  lazy val session: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
}
