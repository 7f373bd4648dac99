package graft

import java.util.concurrent.Executors
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

/** Benchmark main: runs every declared query on SPARK_GRAFT_SF_DIR on one
  * [[GraftSession]] and prints ONE JSON line
  * {"metric","value","unit","queries","sf","host_speed",
  * "host_speed_samples","loadavg_start","loadavg_end","cpus"}.
  *
  * `value` = wall-clock seconds for the WHOLE suite. Each declared query
  * at bench scale uses a handful of cores for milliseconds of real
  * compute, so running them back to back would mostly measure Spark's
  * per-job fixed costs (codegen, stage scheduling) once per query.
  * Instead a fixed pool of min(16, max(8, cpus)) submission threads
  * feeds Spark's FAIR scheduler (two pools, see [[poolConfigFile]]), as
  * a cluster's admission control bounds in-flight queries and queues
  * the rest.
  *
  * The schedule is FIXED: queries are submitted longest first, and the
  * longest share a pool, by the committed solo profile at
  * [[profilePath]], which only `graft.Solo` writes. Nothing Bench
  * measures feeds back into its own schedule.
  *
  * A two-query warm-up primes JIT, codegen and parquet footer caches
  * before timing starts. Per-query seconds are completion times under
  * that concurrency; the full map plus per-query job counts go to
  * bench_result.json, the printed line carries the [[headline]] subset. */
object Bench {
  /** graft.Solo's JSON output for every declared query, recorded with
    * SPARK_GRAFT_CPUS=4 on sf0.1. */
  val profilePath = "plans/r20/solo_profile.json"

  /** One query per family. Whatever parses Bench's stdout may keep only
    * its final 2000 chars: a full per-query line overflows that and loses
    * its head, the suite number with it. */
  val headline: Seq[String] = Seq(
    "a1_groupby_aggs", "a2_count_distinct", "a4_rollup_cube", "j1_join_inner",
    "j7_asof_join", "j8_correlated_subquery", "w1_ranking", "o3_topk",
    "o5_intersect_except", "p2_filter_predicates", "t2_tumbling_window",
    "t4_session_window", "s4_delta_snapshot", "s8_merge_upsert",
    "s9_scd2_snapshot", "l1_exact_dedup", "l2_minhash_lsh", "l2_simhash",
    "l3_cosine_topk", "l3_ann_ivf", "l4_tfidf", "l5_chunking",
    "f4_array_funcs", "f9_decimal")

  /** Solo seconds (lifecycle + action) per query from graft.Solo's JSON
    * map; queries that failed under Solo (action -1) are left out. */
  private[graft] def loadProfile(jsonText: String): Map[String, Double] = {
    import org.json4s._
    def num(v: JValue): Option[Double] = v match {
      case JDouble(x) => Some(x); case JInt(x) => Some(x.toDouble)
      case _ => None
    }
    org.json4s.jackson.JsonMethods.parse(jsonText) match {
      case JObject(fields) => fields.flatMap { case (n, v) =>
        for {
          life <- num(v \ "lifecycle")
          act <- num(v \ "action") if act >= 0
        } yield n -> (life + act)
      }.toMap
      case _ => Map.empty
    }
  }

  /** Submission order: every declared query exactly once, longest
    * profiled first; profile names that are not declared queries are
    * dropped, and unprofiled queries follow in name order. */
  private[graft] def order(declared: Iterable[String],
      profile: Map[String, Double]): Seq[String] = {
    val (profiled, unprofiled) = declared.toSeq.sorted.partition(profile.contains)
    profiled.sortBy(n => -profile(n)) ++ unprofiled
  }

  /** Queries whose profiled solo seconds reach this share the
    * "graft-long" pool; everything else runs in "graft-adhoc". */
  private val longSoloSeconds = 3.0

  /** Spark FAIR pools with Spark's default weight 1 and minShare 0, so
    * the two pools split the box evenly. Inside each pool task sets
    * share the slots fairly, so an iterator's tiny per-step jobs do not
    * queue behind another query's whole stage; the profile's longest
    * queries split half the box instead of starving the short tail.
    * MEASURED MARGIN (3 interleaved pairs each, cpus=4, sf0.1, 4-vCPU
    * host; plans/r20/ab_fifo and ab_pools): the same fixed schedule on
    * Spark's default FIFO queue took a median 191.5 s against 171.3 s
    * for the earlier seeded pools (+20.2 s, +12 %; that side's
    * quartile spread 5.8 s). With these two pools it took 159.7 s
    * against 182.3 s, inside the seeded side's 160.3-184.5 s range. */
  private def poolConfigFile(): String = {
    val xml =
      """<?xml version="1.0"?>
        |<allocations>
        |  <pool name="graft-long"><schedulingMode>FAIR</schedulingMode></pool>
        |  <pool name="graft-adhoc"><schedulingMode>FAIR</schedulingMode></pool>
        |</allocations>
        |""".stripMargin
    val f = java.nio.file.Files.createTempFile("graft-pools", ".xml")
    java.nio.file.Files.write(f, xml.getBytes("UTF-8"))
    f.toFile.deleteOnExit()
    f.toString
  }

  /** The pool a query runs in, from the committed profile alone. */
  private[graft] def schedulerPool(name: String, profile: Map[String, Double]): String =
    if (profile.get(name).exists(_ >= longSoloSeconds)) "graft-long"
    else "graft-adhoc"

  /** `host_speed`: the median per-query ratio of this run's seconds to
    * the committed solo profile's, over successful queries above 0.3 s
    * on both sides, with the sample count; 1.0 under 20 common samples.
    * Bench seconds are completion times under concurrent submission and
    * the profile was recorded at cpus=4, so the value is comparable only
    * between runs at the same `cpus`. */
  private[graft] def hostSpeed(results: Seq[(String, Double, Boolean)],
      profile: Map[String, Double]): (Double, Int) = {
    val ratios = results.collect { case (k, v, true)
      if profile.get(k).exists(_ > 0.3) && v > 0.3 => v / profile(k) }.sorted
    (if (ratios.size < 20) 1.0 else ratios(ratios.size / 2), ratios.size)
  }

  /** One finished suite run: per-query (name, seconds, ok) plus the run's
    * context. `jobs` counts each query's Spark jobs. */
  private[graft] case class Run(total: Double,
      results: Seq[(String, Double, Boolean)], jobs: Map[String, Long],
      sfDir: String, cpus: Int, hostSpeed: (Double, Int),
      loadStart: String, loadEnd: String)

  private def json(run: Run, entries: Seq[(String, Double, Boolean)],
      withJobs: Boolean): String = {
    val qs = entries.map { case (k, v, ok) =>
      "\"" + k + "\":" + (if (ok) f"$v%.3f" else "-1.0")
    }.mkString("{", ",", "}")
    val jobs =
      if (!withJobs) ""
      else entries.map { case (k, _, _) =>
        "\"" + k + "\":" + run.jobs.getOrElse(k, 0L)
      }.mkString(""","jobs":{""", ",", "}")
    val (speed, samples) = run.hostSpeed
    f"""{"metric":"total","value":${run.total}%.3f,"unit":"sec","queries":$qs$jobs,"host_speed":$speed%.3f,"host_speed_samples":$samples,"sf":"${run.sfDir}","loadavg_start":"${run.loadStart}","loadavg_end":"${run.loadEnd}","cpus":${run.cpus}}"""
  }

  /** The stdout line: the [[headline]] subset, no job counts. */
  private[graft] def printedLine(run: Run): String = {
    val byName = run.results.map(r => r._1 -> r).toMap
    json(run, headline.flatMap(byName.get), withJobs = false)
  }

  /** The bench_result.json line: every query with its job count. */
  private[graft] def fileLine(run: Run): String =
    json(run, run.results, withJobs = true)

  /** Box-load evidence: a loaded shared container inflates the wall
    * 10-25× on the same build, so start/end /proc/loadavg ride along. */
  private def loadavg(): String =
    try scala.io.Source.fromFile("/proc/loadavg").mkString.trim
      .split(" ").take(3).mkString(",")
    catch { case _: Throwable => "" }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = GraftSession.cpus
    val profile = try loadProfile(new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(profilePath)), "UTF-8"))
      catch { case _: java.nio.file.NoSuchFileException =>
        System.err.println(s"[bench] no $profilePath here: submitting in name order")
        Map.empty[String, Double]
      }
    val spark = GraftSession("spark.scheduler.mode" -> "FAIR",
      "spark.scheduler.allocation.file" -> poolConfigFile())

    // per-query job counts for bench_result.json: each query tags its
    // jobs with a job-group id and this listener tallies them. Streaming
    // micro-batch jobs run on their own threads and escape the group.
    val jobCounts = new java.util.concurrent.ConcurrentHashMap[
      String, java.util.concurrent.atomic.AtomicLong]()
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
          val g = js.properties.getProperty("spark.jobGroup.id")
          if (g != null && g.startsWith("bq:"))
            jobCounts.computeIfAbsent(g.substring(3),
              _ => new java.util.concurrent.atomic.AtomicLong())
              .incrementAndGet()
        }
      })

    // warmup (uncounted): flagship agg + one events read (ns-timestamp
    // path) prime JIT, codegen cache, shuffle machinery, file listings.
    val queries = SparkEntry.queries
    queries("a1_groupby_aggs")(spark, sfDir).count()
    queries("t6_dedup_events")(spark, sfDir).count()

    val pool = Executors.newFixedThreadPool(math.min(16, math.max(8, cpus)))
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    val loadStart = loadavg()
    val t0 = System.nanoTime()
    val futures = order(queries.keys, profile).map { name =>
      val fn = queries(name)
      Future {
        // pool threads are reused across queries: set both every time
        spark.sparkContext.setLocalProperty("spark.scheduler.pool",
          schedulerPool(name, profile))
        spark.sparkContext.setLocalProperty("spark.jobGroup.id", s"bq:$name")
        val q0 = System.nanoTime()
        val ok = try { fn(spark, sfDir).count(); true }
        catch { case e: Throwable =>
          System.err.println(s"[bench] $name failed: ${e.getMessage}")
          false
        }
        (name, (System.nanoTime() - q0) / 1e9, ok)
      }
    }
    val results = Await.result(Future.sequence(futures), Duration.Inf)
    val total = (System.nanoTime() - t0) / 1e9
    pool.shutdown()

    import scala.jdk.CollectionConverters._
    val run = Run(total, results,
      jobCounts.asScala.map { case (k, v) => k -> v.get }.toMap,
      sfDir, cpus, hostSpeed(results, profile), loadStart, loadavg())
    // Stop Spark BEFORE printing so any shutdown chatter precedes the JSON:
    // the bench driver parses the final stdout line (build.sbt suppresses
    // sbt's trailing [success] banner for the same reason). Logging goes
    // to OFF first — the executor-drain path logs accumulator-GC stack
    // traces that otherwise land in the parsed tail.
    spark.sparkContext.setLogLevel("OFF")
    spark.stop()
    try java.nio.file.Files.write(
      java.nio.file.Paths.get("bench_result.json"),
      (fileLine(run) + "\n").getBytes("UTF-8"))
    catch { case _: Throwable => () }
    println(printedLine(run))
    System.out.flush()
  }
}
