package graft

import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** A block's result and the Spark jobs it starts, counted between two
  * marker jobs: the listener bus delivers job events in order, so once the
  * end marker is seen, every job submitted between the markers has been
  * counted. The block must not run jobs on other threads after it returns. */
object JobCount {
  def of[T](spark: SparkSession)(body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val seen = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        seen.add(Option(e.properties).flatMap(p =>
          Option(p.getProperty("spark.job.description"))).getOrElse(""))
    }
    def marker(tag: String): Unit = {
      sc.setJobDescription(tag)
      try spark.range(1).count() finally sc.setJobDescription(null)
    }
    sc.addSparkListener(listener)
    try {
      marker("jobcount-start")
      val result = body
      marker("jobcount-end")
      val deadline = System.currentTimeMillis() + 30000
      while (!seen.contains("jobcount-end") && System.currentTimeMillis() < deadline)
        Thread.sleep(20)
      val jobs = seen.toArray.toSeq.map(_.toString)
      require(jobs.contains("jobcount-end"), "end marker job never reached the listener")
      (result, jobs.indexOf("jobcount-end") - jobs.lastIndexOf("jobcount-start") - 1)
    } finally sc.removeSparkListener(listener)
  }
}
