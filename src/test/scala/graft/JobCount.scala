package graft

import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Counts the Spark jobs a block starts. A listener records each job's
  * group, and a marker job runs before and after the block: the listener
  * bus delivers in order, so every job between the two markers is the
  * block's.
  */
object JobCount {
  def apply[T](spark: SparkSession)(body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val groups = new LinkedBlockingQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        groups.add(Option(e.properties).flatMap(p =>
          Option(p.getProperty("spark.jobGroup.id"))).getOrElse(""))
    }
    def mark(): Unit = {
      sc.setJobGroup("job-count-mark", "mark")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
    }
    sc.addSparkListener(listener)
    try {
      mark()
      val r = body
      mark()
      var (marks, n) = (0, 0)
      while (marks < 2) {
        val g = groups.poll(30, TimeUnit.SECONDS)
        require(g != null, s"no second marker job after $n jobs")
        if (g == "job-count-mark") marks += 1 else if (marks == 1) n += 1
      }
      (r, n)
    } finally sc.removeSparkListener(listener)
  }
}
