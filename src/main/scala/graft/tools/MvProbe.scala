package graft.tools

import graft.sources.DeltaLite
import graft.operators.{IncrementalMv, Merge}
import org.apache.spark.sql.functions._

/** Scratch diagnostics: mirrors the s25/s26/s33 MV-chain lifecycles
  * step-by-step and reports per-OP wall seconds and Spark job counts, so
  * the fixed per-commit costs are attributable to create / append /
  * read / delete / update / refresh individually. The read after append
  * runs twice: the second shows what a warm snapshot saves. A
  * diagnostic, not a benchmarked or verified surface. */
object MvProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.GraftSession()
    val jobs = new java.util.concurrent.atomic.AtomicLong()
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          jobs.incrementAndGet()
      })
    def time[T](label: String)(f: => T): T = {
      val t0 = System.nanoTime()
      val j0 = jobs.get()
      val r = f
      println(f"PROBE $label%-28s ${(System.nanoTime() - t0) / 1e9}%7.3f s jobs=${jobs.get() - j0}")
      r
    }
    val o = graft.Tables.t(spark, sfDir, "orders")
      .filter(col("o_orderkey") % 4 === 0)
      .select(col("o_orderkey"), col("o_orderpriority"),
        col("o_orderstatus"), col("o_totalprice"))
    o.count(); o.count() // warm scan machinery

    (1 to 2).foreach { round =>
      println(s"--- s25 mirror, round $round ---")
      val src = graft.TempDirs.fresh("mvprobe_src")
      val mv = graft.TempDirs.fresh("mvprobe_mv") + "/mv"
      time("create(src)") {
        DeltaLite.create(spark, src,
          o.filter(col("o_orderdate").isNull ||
            col("o_totalprice") >= 0), // full slice, shape-compatible
          properties = Map("graft.optimizeWrite" -> "true"))
      }
      time("refreshSum#initial") {
        IncrementalMv.refreshSum(spark, src, mv,
          Seq("o_orderpriority"), "o_totalprice",
          properties = Map("graft.optimizeWrite" -> "true"))
      }
      time("append(src)") {
        DeltaLite.append(spark, src, o.limit(1000))
      }
      time("read(src)+count") { DeltaLite.read(spark, src).count() }
      time("reread(src)+count") { DeltaLite.read(spark, src).count() }
      time("delete(src)") {
        DeltaLite.delete(spark, src, col("o_totalprice") < 10000.0)
      }
      time("update(src)") {
        DeltaLite.update(spark, src, col("o_orderstatus") === "F",
          Map("o_totalprice" -> (col("o_totalprice") + 1000.0)))
      }
      time("refreshSum#incremental") {
        IncrementalMv.refreshSum(spark, src, mv,
          Seq("o_orderpriority"), "o_totalprice",
          properties = Map("graft.optimizeWrite" -> "true"))
      }
      time("read(mv)+collect") {
        DeltaLite.read(spark, mv).collect()
      }
    }
    spark.stop()
  }
}
