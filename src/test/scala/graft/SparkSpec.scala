package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}

/** Shared local SparkSession for specs. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession =
    GraftSession.builder("local[4]", "4").getOrCreate()
  val sfDir = "/root/testdata/sf0.001"

  override def afterAll(): Unit = {
    // keep the session for other suites (getOrCreate shares it)
  }

  /** Spark jobs submitted while `body` runs. Job ids are assigned in
    * submission order, so two marker jobs bracket every job of the call,
    * including those AQE and broadcast threads submit. Suites run one at a
    * time, so no other caller's jobs fall between the markers.
    */
  def jobsDuring(body: => Any): Int = {
    val sc = spark.sparkContext
    val marks = new LinkedBlockingQueue[Integer]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null &&
          e.properties.getProperty("spark.job.description") == "jobs-during-mark")
          marks.put(e.jobId)
    }
    def mark(): Int = {
      sc.setJobDescription("jobs-during-mark")
      try sc.parallelize(Seq(1), 1).count()
      finally sc.setJobDescription(null)
      Option(marks.poll(60, TimeUnit.SECONDS)).map(_.intValue)
        .getOrElse(fail("marker job never reached the listener"))
    }
    sc.addSparkListener(listener)
    try {
      val from = mark()
      body
      mark() - from - 1
    } finally sc.removeSparkListener(listener)
  }
}
