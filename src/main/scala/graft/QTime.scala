package graft
object QTime {
  def main(args: Array[String]): Unit = {
    val spark = Session("graft-qtime")
    spark.range(1000000L).selectExpr("sum(id)").collect()
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val reps = sys.env.get("SPARK_GRAFT_REPS").map(_.toInt).getOrElse(3)
    args.foreach { name =>
      val ts = (1 to reps).map { _ =>
        val t0 = System.nanoTime()
        SparkEntry.queries(name)(spark, sfDir).queryExecution.toRdd.count()
        val dt = (System.nanoTime() - t0) / 1e9
        spark.sharedState.cacheManager.clearCache()
        dt
      }.sorted
      println(f"TIMING $name median ${ts(ts.length / 2)}%.2f min ${ts.head}%.2f (${ts.map(t => f"$t%.2f").mkString(", ")})")
    }
    spark.stop()
  }
}
