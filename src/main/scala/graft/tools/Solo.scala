package graft

/** Solo profiler (optimization rounds): runs declared queries ONE AT A
  * TIME and reports, per query, the eager lifecycle seconds (the fn call
  * itself — multi-commit demos do their work there) and the action
  * seconds for a noop-sink write of the returned frame (guide §1.4:
  * computes every column of every row, no sink cost, no count()-style
  * subtree pruning). Optionally dumps `explain("formatted")` per query.
  *
  * Not part of the driver contract — Bench remains the timed surface.
  *
  * Env:
  *   SPARK_GRAFT_SF_DIR   data dir (default /root/testdata/sf0.1)
  *   SPARK_GRAFT_CPUS     local[N] (default all cores; see GraftSession)
  *   SPARK_GRAFT_SOLO     comma-separated query names (default: all);
  *                        a `set:key=value` entry flips a session conf
  *                        for the entries after it (conf A/Bs, e.g.
  *                        `set:spark.sql.adaptive.enabled=false`)
  *   SPARK_GRAFT_PLANDIR  if set, writes <dir>/<query>.txt formatted plans
  *   SPARK_GRAFT_SOLO_OUT if set, writes a JSON map of the timings there
  */
object Solo {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val names: Seq[String] = sys.env.get("SPARK_GRAFT_SOLO") match {
      case Some(s) => s.split(",").toSeq
      case None => SparkEntry.queries.keys.toSeq.sorted
    }
    val planDir = sys.env.get("SPARK_GRAFT_PLANDIR")
    planDir.foreach(d => new java.io.File(d).mkdirs())
    val spark = GraftSession()
    // warmup like Bench: JIT, codegen cache, shuffle machinery, listings
    SparkEntry.queries("a1_groupby_aggs")(spark, sfDir).count()
    SparkEntry.queries("t6_dedup_events")(spark, sfDir).count()

    val out = new StringBuilder("{")
    var first = true
    names.foreach { n =>
      // A/B support: a "set:key=value" list entry flips a session conf
      // between passes, so variant comparisons run inside ONE JVM and
      // box-speed drift between invocations cancels out.
      if (n.startsWith("set:")) {
        val kv = n.stripPrefix("set:").split("=", 2)
        spark.conf.set(kv(0), kv(1))
        println(s"SOLO-CONF ${kv(0)}=${kv(1)}")
      } else SparkEntry.queries.get(n) match {
        case None => System.err.println(s"[solo] unknown query: $n")
        case Some(fn) =>
          spark.sparkContext.setJobDescription(s"solo:$n")
          val t0 = System.nanoTime()
          val r = try Right(fn(spark, sfDir)) catch {
            case e: Throwable => Left(e)
          }
          val tLife = (System.nanoTime() - t0) / 1e9
          r match {
            case Left(e) =>
              System.err.println(s"[solo] $n FAILED in fn: ${e.getMessage}")
              if (!first) out.append(","); first = false
              out.append(s""""$n":{"lifecycle":${f"$tLife%.3f"},"action":-1.0}""")
            case Right(df) =>
              planDir.foreach { d =>
                val plan = df.queryExecution.explainString(
                  org.apache.spark.sql.execution.FormattedMode)
                java.nio.file.Files.write(
                  java.nio.file.Paths.get(s"$d/$n.txt"),
                  plan.getBytes("UTF-8"))
              }
              val t1 = System.nanoTime()
              val ok = try {
                df.write.format("noop").mode("overwrite").save(); true
              } catch { case e: Throwable =>
                System.err.println(s"[solo] $n FAILED in action: ${e.getMessage}")
                false
              }
              val tAct = (System.nanoTime() - t1) / 1e9
              if (!first) out.append(","); first = false
              out.append(s""""$n":{"lifecycle":${f"$tLife%.3f"},"action":${if (ok) f"$tAct%.3f" else "-1.0"}}""")
              println(f"SOLO $n lifecycle=$tLife%.2f action=$tAct%.2f")
          }
      }
    }
    out.append("}")
    sys.env.get("SPARK_GRAFT_SOLO_OUT").foreach { p =>
      java.nio.file.Files.write(java.nio.file.Paths.get(p),
        (out.toString + "\n").getBytes("UTF-8"))
    }
    spark.stop()
  }
}
