package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}

/** Dev tool: per-JOB wall-clock profile of one registry query — where a
  * multi-commit lane's seconds actually go (Spark jobs vs driver-side
  * gaps between them) — plus a DRIVER-THREAD sampler: the sandbox blocks
  * jstack/jcmd attach and SIGQUIT delivery, so the only way to see what
  * the inter-job gaps are doing is to sample from inside the JVM. Every
  * `SampleMs` the sampler snapshots the stack of each driver-side thread
  * (main + streaming micro-batch threads — never executor task threads,
  * whose time the job timeline already attributes) and aggregates by the
  * topmost "interesting" frame, so a gap spent in catalyst analysis,
  * parquet footer reads, FS listings or codegen shows up by name.
  * Usage: runMain graft.JProf <name> [reps]
  * Env: SPARK_GRAFT_SF_DIR (default sf0.1), SPARK_GRAFT_CPUS (default: all cores).
  */
object JProf {
  private val SampleMs = 20L

  /** Frames that mean "blocked/idle", not work — skip to the caller. */
  private def boring(f: StackTraceElement): Boolean = {
    val c = f.getClassName
    c.startsWith("java.lang.Thread") || c.startsWith("jdk.internal.misc.Unsafe") ||
    c.startsWith("java.util.concurrent") || c.startsWith("java.lang.Object") ||
    c.startsWith("scala.concurrent") || c.startsWith("java.lang.ref")
  }

  /** Attribution bucket for one sampled stack: the first frame from a
    * package that names a driver-side cost center, else the first
    * non-boring frame.
    */
  private def classify(st: Array[StackTraceElement]): String = {
    if (st.isEmpty) return "(no stack)"
    val interesting = st.find { f =>
      val c = f.getClassName
      c.contains("catalyst.analysis") || c.contains("catalyst.optimizer") ||
      c.contains("sql.execution.adaptive") || c.contains("codegen") ||
      c.contains("parquet.hadoop") || c.contains("RawLocalFileSystem") ||
      c.contains("InMemoryFileIndex") || c.contains("datasources.DataSource") ||
      c.contains("FileFormatWriter") || c.contains("SparkHadoopWriter") ||
      c.contains("streaming") || c.contains("RuleExecutor") ||
      c.contains("QueryExecution") || c.contains("ParquetUtils") ||
      c.contains("graft")
    }
    val f = interesting.orElse(st.find(!boring(_))).getOrElse(st.head)
    s"${f.getClassName.split('.').takeRight(2).mkString(".")}.${f.getMethodName}"
  }

  def main(args: Array[String]): Unit = {
    val name = args(0)
    val reps = if (args.length > 1) args(1).toInt else 2
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Session("graft-jprof")
    spark.range(1000000L).selectExpr("sum(id)").collect()

    case class J(id: Int, desc: String, start: Long, var end: Long)
    val jobs = new scala.collection.mutable.ArrayBuffer[J]()
    val byId = new scala.collection.mutable.HashMap[Int, J]()
    // ALL mutation and snapshotting synchronize on `jobs` (the listener
    // used to sync on itself while clear/snapshot synced on jobs — a
    // straggler event racing the clear could corrupt the buffer read)
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.synchronized {
        val d = Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .orElse(Option(e.properties)
            .flatMap(p => Option(p.getProperty("callSite.short"))))
          .getOrElse("?")
        // stage-level callsites disambiguate same-label jobs (which
        // collect/write inside a labeled verb scheduled this job)
        val stages = e.stageInfos.map(_.name.takeWhile(_ != '\n'))
          .distinct.mkString("; ")
        val j = J(e.jobId, s"$d [$stages]", System.nanoTime(), 0L)
        jobs += j; byId(e.jobId) = j
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = jobs.synchronized {
        byId.get(e.jobId).foreach(_.end = System.nanoTime())
      }
    })

    // driver-thread sampler: main + streaming micro-batch threads
    val samples = new java.util.concurrent.ConcurrentHashMap[String, java.util.concurrent.atomic.LongAdder]()
    @volatile var sampling = false
    val mainThread = Thread.currentThread()
    val sampler = new Thread(() => {
      while (true) {
        if (sampling) {
          val all = Thread.getAllStackTraces
          val it = all.entrySet().iterator()
          while (it.hasNext) {
            val e = it.next()
            val t = e.getKey
            val n = t.getName
            val driverish = (t eq mainThread) ||
              n.startsWith("stream execution thread")
            if (driverish && t.getState == Thread.State.RUNNABLE) {
              val k = classify(e.getValue)
              samples.computeIfAbsent(k, _ => new java.util.concurrent.atomic.LongAdder).increment()
            }
          }
        }
        Thread.sleep(SampleMs)
      }
    }, "jprof-sampler")
    sampler.setDaemon(true)
    sampler.start()

    (1 to reps).foreach { rep =>
      jobs.synchronized { jobs.clear(); byId.clear() }
      samples.clear()
      sampling = true
      val t0 = System.nanoTime()
      SparkEntry.queries(name)(spark, sfDir).queryExecution.toRdd.count()
      val total = (System.nanoTime() - t0) / 1e9
      sampling = false
      spark.sharedState.cacheManager.clearCache()
      Thread.sleep(300) // let listener events drain
      val snap = jobs.synchronized(jobs.toVector)
      println(f"%n===== $name rep $rep total $total%.3f s, ${snap.size} jobs =====")
      var prevEnd = t0
      snap.foreach { j =>
        val gap = (j.start - prevEnd) / 1e9
        val dur = if (j.end == 0) -1.0 else (j.end - j.start) / 1e9
        val d = if (j.desc.length > 160) j.desc.take(160) else j.desc
        println(f"  gap ${gap}%7.3f | job ${j.id}%4d ${dur}%7.3f s | $d")
        if (j.end > prevEnd) prevEnd = j.end
      }
      val tEnd = t0 + (total * 1e9).toLong
      println(f"  tail gap ${(tEnd - prevEnd) / 1e9}%7.3f s")
      val jobSum = snap.filter(_.end > 0).map(j => (j.end - j.start) / 1e9).sum
      println(f"  job time sum $jobSum%.3f s (overlaps possible); driver/other ${total - jobSum}%.3f s")
      // driver-thread sample aggregation: where the RUNNABLE driver time
      // went, by cost center (SampleMs per hit)
      import scala.jdk.CollectionConverters._
      val agg = samples.asScala.toSeq
        .map { case (k, v) => k -> v.sum() * SampleMs / 1000.0 }
        .sortBy(-_._2)
      val sSum = agg.map(_._2).sum
      println(f"  --- driver-thread samples: $sSum%.2f s RUNNABLE across main+stream threads ---")
      agg.take(25).foreach { case (k, s) => println(f"    $s%6.2f s  $k") }
    }
    spark.stop()
  }
}
