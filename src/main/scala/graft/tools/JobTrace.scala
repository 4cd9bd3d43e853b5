package graft.tools

import org.apache.spark.sql.SparkSession

/** Dev probe: run one gate and print every Spark job's callsite — the
  * job-floor profiler behind the maintenance-gate batching work
  * (jobs × scheduling latency IS the driver floor, so knowing which
  * call pays each job is the whole optimization).
  *
  *   SPARK_GRAFT_GATE=q_owl_haskey_delta sbt "runMain graft.tools.JobTrace"
  *
  * SPARK_GRAFT_GATE accepts a comma list (one JVM, gates traced
  * back-to-back); each job's wall (end - start) accumulates per
  * callsite, so the histogram shows where the wall goes, not just the
  * job count — the gap between a gate's total wall and its summed job
  * wall is driver-side planning/collect time.
  *
  * SPARK_GRAFT_DECODE_CAP overrides `Dictionary.localDecodeCap` for the
  * traced gates (0 forces every decode onto the distributed path), to
  * trace the over-the-cap decode on small data.
  */
object JobTrace {
  def main(args: Array[String]): Unit = {
    val gates = sys.env.getOrElse("SPARK_GRAFT_GATE", "q_owl_haskey_delta")
      .split(",").map(_.trim).filter(_.nonEmpty)
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.cleaner.periodicGC.interval", "60min")
      .withExtensions(new graft.functions.GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val counts = new java.util.concurrent.ConcurrentHashMap[String, Long]()
    val wall = new java.util.concurrent.ConcurrentHashMap[String, Long]()
    val jobSite = new java.util.concurrent.ConcurrentHashMap[Int, (String, Long)]()
    val execSite = new java.util.concurrent.ConcurrentHashMap[String, String]()
    val total = new java.util.concurrent.atomic.AtomicLong(0)
    var tracing = false
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onOtherEvent(
            e: org.apache.spark.scheduler.SparkListenerEvent): Unit = e match {
          case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
            val frame = s.details.linesIterator
              .find(l => l.contains("graft.") && !l.contains("JobTrace"))
              .getOrElse(s.description.take(80)).trim
            execSite.put(s.executionId.toString, frame)
          case _ => ()
        }
        override def onJobStart(
            j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          if (tracing) {
            total.incrementAndGet()
            val eid = Option(j.properties)
              .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
            val root = Option(j.properties)
              .flatMap(p => Option(p.getProperty("spark.sql.execution.root.id")))
            val site = root.orElse(eid)
              .flatMap(id => Option(execSite.get(id))).getOrElse("?")
            val sub = if (root.exists(r => !eid.contains(r))) " [sub]" else ""
            counts.merge(site + sub, 1L, (a, b) => a + b)
            jobSite.put(j.jobId, (site + sub, j.time))
          }
        override def onJobEnd(
            j: org.apache.spark.scheduler.SparkListenerJobEnd): Unit =
          Option(jobSite.remove(j.jobId)).foreach { case (site, t0) =>
            wall.merge(site, j.time - t0, (a, b) => a + b)
          }
      })
    import scala.jdk.CollectionConverters._
    val decodeCap = sys.env.get("SPARK_GRAFT_DECODE_CAP").map(_.toInt)
      .getOrElse(graft.dict.Dictionary.LocalCap)
    graft.dict.Dictionary.localDecodeCap.withValue(decodeCap)(gates.foreach { gate =>
      val fn = graft.SparkEntry.queries(gate)
      fn(spark, dir).collect() // warm (artifacts build here)
      counts.clear(); wall.clear(); total.set(0)
      tracing = true
      val t0 = System.nanoTime()
      fn(spark, dir).collect()
      val gateWall = (System.nanoTime() - t0) / 1e9
      Thread.sleep(300)
      tracing = false
      val jobWall = wall.values.asScala.map(_.longValue).sum / 1e3
      println(f"== $gate warm-run jobs: ${total.get()} wall: $gateWall%.2f s " +
        f"(in jobs: $jobWall%.2f s) ==")
      counts.asScala.toSeq.sortBy(-_._2).foreach { case (cs, n) =>
        val w = Option(wall.get(cs)).map(_.longValue).getOrElse(0L) / 1e3
        println(f"$n%5d  $w%7.2fs  $cs")
      }
    })
    spark.stop()
  }
}
