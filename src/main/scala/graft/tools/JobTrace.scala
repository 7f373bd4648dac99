package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerJobEnd}

/** Scratch diagnostics: per-JOB breakdown of a declared query's
  * lifecycle — job id, wall seconds, task count and the call site that
  * submitted it — so a multi-commit lifecycle's fixed costs are
  * attributable line-by-line (which append, which refresh, which probe).
  * Not part of the driver contract.
  *
  * Usage: runMain graft.tools.JobTrace <sfDir> <query[,query...]>
  */
object JobTrace {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val names = if (args.length > 1) args(1).split(",").toSeq
      else Seq("s25_incremental_mv")
    val spark = graft.GraftSession()

    case class J(id: Int, desc: String, site: String, t0: Long,
      var t1: Long = 0L, var nTasks: Int = 0)
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, J]()
    val order = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        val desc = Option(js.properties.getProperty("spark.job.description"))
          .getOrElse("")
        // stage names carry the submitting call site ("parquet at X.scala:N")
        val site = js.stageInfos.lastOption.map(_.name).getOrElse("")
        val n = js.stageInfos.map(_.numTasks).sum
        val j = J(js.jobId, desc, site, System.nanoTime(), nTasks = n)
        jobs.put(js.jobId, j); order.add(js.jobId)
      }
      override def onJobEnd(je: SparkListenerJobEnd): Unit = {
        val j = jobs.get(je.jobId)
        if (j != null) j.t1 = System.nanoTime()
      }
    })

    // warmup like Bench
    graft.SparkEntry.queries("a1_groupby_aggs")(spark, sfDir).count()
    graft.SparkEntry.queries("t6_dedup_events")(spark, sfDir).count()

    names.foreach { n =>
      jobs.clear(); order.clear()
      val fn = graft.SparkEntry.queries(n)
      val t0 = System.nanoTime()
      val df = fn(spark, sfDir)
      val tLife = (System.nanoTime() - t0) / 1e9
      val lifecycleJobs = order.size()
      val t1 = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      val tAct = (System.nanoTime() - t1) / 1e9
      println(f"\n===== $n lifecycle=$tLife%.2f s action=$tAct%.2f s " +
        f"jobs(lifecycle)=$lifecycleJobs jobs(total)=${order.size()} =====")
      import scala.jdk.CollectionConverters._
      var i = 0
      order.asScala.foreach { id =>
        val j = jobs.get(id)
        val dur = if (j.t1 > 0) (j.t1 - j.t0) / 1e9 else -1.0
        val tag = if (i == lifecycleJobs) " <-- action starts" else ""
        println(f"  job#$i%3d ${dur}%7.3f s tasks=${j.nTasks}%4d  ${j.site}%-40s ${j.desc.take(80)}$tag")
        i += 1
      }
    }
    spark.stop()
  }
}
