package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}

/** Builder-local job-level profiler: run one declared query and print
  * every Spark job it issued (start offset, duration, description) plus
  * the construction-vs-execution split — the measurement §1 asks for
  * when a query's cost is many small jobs rather than one slow stage
  * (the incremental-curation family's regime at bench SFs).
  *
  * Usage: runMain graft.tools.JobProbe <sfDir> <queryName> [reps]
  */
object JobProbe {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val name = args(1)
    val reps = if (args.length > 2) args(2).toInt else 2
    // ad-hoc conf experiments: GRAFT_PROBE_CONF="k=v;k2=v2"
    val spark = graft.GraftSession.build(
      conf = graft.GraftSession.envConf("GRAFT_PROBE_CONF"))
    spark.range(1000000).selectExpr("sum(id)").collect()
    val fn = graft.SparkEntry.queries(name)
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
    val done = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Long, Long, String)]()
    var t0 = 0L
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        jobs.put(j.jobId, (j.time,
          Option(j.properties.getProperty("spark.job.description")).getOrElse("")))
      override def onJobEnd(j: SparkListenerJobEnd): Unit = {
        val (st, desc) = jobs.getOrDefault(j.jobId, (j.time, "?"))
        done.add((j.jobId, st - t0, j.time - st, desc))
      }
    })
    (1 to reps).foreach { r =>
      spark.catalog.clearCache()
      done.clear()
      t0 = System.currentTimeMillis()
      val df = fn(spark, dir)
      val tBuilt = System.currentTimeMillis()
      df.write.mode("overwrite").format("noop").save()
      val tEnd = System.currentTimeMillis()
      Thread.sleep(300) // let listener events drain
      println(f"=== $name rep $r: total=${(tEnd - t0) / 1000.0}%.2f s " +
        f"(construct=${(tBuilt - t0) / 1000.0}%.2f, execute=${(tEnd - tBuilt) / 1000.0}%.2f), " +
        f"jobs=${done.size}")
      import scala.jdk.CollectionConverters._
      val sorted = done.asScala.toSeq.sortBy(_._2)
      sorted.foreach { case (id, off, dur, desc) =>
        println(f"  job $id%3d  +${off / 1000.0}%6.2fs  ${dur / 1000.0}%6.2fs  ${desc.take(80)}")
      }
      val gaps = sorted.map(_._2).zip(sorted.map(t => t._2 + t._3).dropRight(1) :+ 0L)
      println(f"  sum(job durations)=${sorted.map(_._3).sum / 1000.0}%.2f s " +
        f"(driver-side/planning gap = total - this)")
    }
    spark.stop()
  }
}
