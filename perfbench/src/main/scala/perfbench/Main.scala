package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.util.SplittableRandom
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** JVM side of the benchmark (`run.py` is the command users type).
  *
  *   fixtures <dir>                        generate the fixture tables
  *   fingerprints <fixtures> <work> <tsv> <oracle.json>
  *                                         record the expected output of
  *                                         every adhoc and llm operation
  *   run key=value...                      one measured run; writes the
  *                                         result JSON to `out=`
  */
object Main {
  val WorkloadNames: Seq[String] =
    Seq("adhoc_sql", "llm_dedup", "medallion_ingest")
  /** medallion batches applied before the timed region */
  val WarmBatches = 2
  /** seconds one timed pass takes on a 4-core host (medallion: one
    * compaction cycle of batches) */
  val NominalPassS: Map[String, Double] =
    Map("adhoc_sql" -> 5.0, "llm_dedup" -> 10.0, "medallion_ingest" -> 12.0)

  def main(args: Array[String]): Unit = {
    args.headOption match {
      case Some("fixtures") =>
        val spark = session(1, args(1))
        Fixtures.generate(spark, args(1))
        spark.stop()
      case Some("fingerprints") => fingerprints(args(1), args(2), args(3), args(4))
      case Some("run") =>
        val kv = args.tail.map(_.split("=", 2)).map(a => a(0) -> a(1)).toMap
        run(kv)
      case _ =>
        System.err.println("usage: perfbench.Main fixtures|fingerprints|run ...")
        sys.exit(2)
    }
    sys.exit(0)
  }

  def session(cpus: Int, work: String): SparkSession = {
    val s = SparkSession.builder().master(s"local[$cpus]").appName("perfbench")
      .config("spark.sql.shuffle.partitions", math.max(4, cpus / 8).toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    graft.LogHygiene.suppressKnownBenign()
    s
  }

  private def cpus: Int = Runtime.getRuntime.availableProcessors()

  private def fingerprints(fixtures: String, work: String, tsv: String,
      oracleOut: String): Unit = {
    val spark = session(cpus, work)
    val c = Ctx(spark, new Recorder(false), fixtures, work, 0L)
    val ops = Workloads.adhoc(c) ++ Workloads.llm(c)
    val lines = ops.map(o => s"${o.name}\t${o.check()}")
    Files.write(Paths.get(tsv), ("# name\trows\thash\n" + lines.mkString("\n") + "\n")
      .getBytes(UTF_8))
    val oracle = graft.SparkEntry.oracleSql.filter { case (n, _) => ops.exists(_.name == n) }
    Files.write(Paths.get(oracleOut), Json.obj(oracle.toSeq.sortBy(_._1)
      .map { case (k, v) => k -> Json.str(v) }).getBytes(UTF_8))
    spark.stop()
  }

  private def shuffled[T](xs: Seq[T], r: SplittableRandom): Seq[T] =
    xs.map(x => (r.nextLong(), x)).sortBy(_._1).map(_._2)

  private def processCpuNs: Long = java.lang.management.ManagementFactory
    .getOperatingSystemMXBean.asInstanceOf[com.sun.management.OperatingSystemMXBean]
    .getProcessCpuTime

  private def peakRssMb: Double = scala.io.Source.fromFile("/proc/self/status")
    .getLines().find(_.startsWith("VmHWM:"))
    .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(Double.NaN)

  /** Quantile `q` of `xs` by the Harrell-Davis estimator: a Beta-weighted
    * mean of all order statistics. With the few dozen samples of a run
    * it moves far less between runs than a single order statistic. */
  def percentile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val sorted = xs.sorted
      val n = sorted.size
      val (a, b) = ((n + 1) * q, (n + 1) * (1 - q))
      val cdf = (0 to n).map(i => Beta.regularized(i.toDouble / n, a, b))
      sorted.indices.map(i => (cdf(i + 1) - cdf(i)) * sorted(i)).sum
    }

  private def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else percentile(xs, 0.5)

  private def run(a: Map[String, String]): Unit = {
    val workload = a("workload")
    require(WorkloadNames.contains(workload), s"unknown workload $workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val tracing = a("trace") == "1"
    val launchMs = a("launch_ms").toLong
    val work = a("work")
    val rec = new Recorder(tracing)
    val spark = session(cpus, work)
    val probe = if (tracing) {
      val p = new SparkProbe(rec)
      spark.sparkContext.addSparkListener(p)
      spark.listenerManager.register(p)
      Some(p)
    } else None
    def phase(name: String): Unit = System.err.println(
      f"[perfbench] ${(System.currentTimeMillis() - launchMs) / 1000.0}%.2f s: $name")
    phase("session ready")
    val c = Ctx(spark, rec, a("fixtures"), work, seed)
    val expected = Fingerprint.load(Paths.get(a("fingerprints")))
    val ids = new AtomicInteger()
    val mismatches = new ConcurrentLinkedQueue[String]()
    val extra = mutable.LinkedHashMap.empty[String, Double]
    val layerExtras = mutable.LinkedHashMap.empty[String, Double]
    var checks = 0
    var timedWallNs = 0L
    var setupS = 0.0
    var cpuNs = 0L

    def step(prefix: String)(name: String, kind: String)(body: => Unit): Boolean =
      rec.op(spark, s"$prefix:${ids.incrementAndGet()}", name, kind)(body)

    /** Run every op once, in order; `checked` runs the fingerprinted form. */
    def pass(ops: Seq[Op], prefix: String, checked: Boolean): Unit =
      ops.foreach { o =>
        step(prefix)(o.name, o.kind) {
          if (!checked) o.run()
          else {
            val fp = o.check()
            if (!expected.get(o.name).contains(fp)) {
              System.err.println(s"[perfbench] ${o.name}: output $fp, expected " +
                expected.get(o.name).map(_.toString).getOrElse("no fingerprint"))
              mismatches.add(o.name)
            }
          }
        }
      }

    /** The timed work is fixed per `seconds`, not cut at a deadline: a
      * whole number of passes (medallion: compaction cycles), each about
      * `NominalPassS` long on a 4-core host. A deadline would let host
      * speed change how much (and how warm) work a run measures. */
    val passes = math.max(1, math.ceil(seconds / NominalPassS(workload)).toInt)

    def timedRegion(body: => Unit): Unit = {
      setupS = (System.currentTimeMillis() - launchMs) / 1000.0
      phase("warm-up done")
      probe.foreach(_ => org.apache.spark.perfbench.Bus.drain(spark.sparkContext))
      val cpu0 = processCpuNs
      val t0 = System.nanoTime()
      body
      timedWallNs = System.nanoTime() - t0
      cpuNs = processCpuNs - cpu0
    }

    workload match {
      case "medallion_ingest" =>
        val m = new Medallion(c)
        val r = new SplittableRandom(seed ^ 0x6d656461L)
        phase("batches landed")
        val lake = new m.Lake(s"$work/lake")
        (0 until WarmBatches).foreach(b => lake.apply(m.batches(b), step("w"), r))
        val batches = math.min(passes * Medallion.CompactEvery,
          m.batches.size - WarmBatches)
        timedRegion {
          (1 to batches).foreach(_ => lake.apply(m.batches(lake.applied), step("t"), r))
        }
        phase("timed region done")
        m.verify(lake).foreach(t => mismatches.add(t))
        phase("verified")
        val (disk, live) = m.space(lake)
        val ingested = m.landedBytes(lake.applied)
        def lat(kind: String) =
          rec.timedOps.filter(_.kind == kind).map(_.seconds).sorted
        extra ++= Seq(
          "ingest_p50_s" -> percentile(lat("ingest"), 0.5),
          "ingest_p90_s" -> percentile(lat("ingest"), 0.9),
          "read_p50_s" -> percentile(lat("read"), 0.5),
          "read_p90_s" -> percentile(lat("read"), 0.9),
          "write_amp" -> disk.toDouble / ingested,
          "space_amp" -> disk.toDouble / live,
          "batches" -> lake.applied.toDouble)
        checks = 2 // silver and gold
        layerExtras ++= Seq(
          "sources.bytes_written" -> disk.toDouble / lake.applied,
          "sources.live_files" -> m.liveFiles(lake).toDouble,
          "sources.checkpoints" -> m.logCheckpoints(lake).toDouble)
      case w =>
        val ops = if (w == "llm_dedup") Workloads.llm(c) else Workloads.adhoc(c)
        val r = new SplittableRandom(seed)
        phase("ops ready")
        pass(shuffled(ops, r), "w", checked = true)
        timedRegion((1 to passes).foreach(_ => pass(shuffled(ops, r), "t", checked = false)))
        extra += "passes" -> passes.toDouble
    }

    val timed = rec.timedOps
    val lat = timed.map(_.seconds).sorted
    // every op counts, warm-up (which checks outputs) and timed alike
    val attempted = rec.ops.size + checks
    val failed = rec.ops.asScala.count(!_.ok) + mismatches.size
    val e2e = Seq(
      "setup_s" -> setupS,
      "op_p50_s" -> percentile(lat, 0.5),
      "op_p90_s" -> percentile(lat, 0.9),
      "ops_per_s" -> timed.size / (timedWallNs / 1e9),
      "cpu_s_per_op" -> cpuNs / 1e9 / timed.size,
      "peak_rss_mb" -> peakRssMb)
    extra ++= Seq("failed_frac" -> failed.toDouble / attempted,
      "samples" -> timed.size.toDouble,
      "samples_above_p90" -> lat.count(_ > percentile(lat, 0.9)).toDouble,
      "timed_s" -> timedWallNs / 1e9)

    val layers = probe.map { p =>
      org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
      p.settle()
      val n = math.max(1, timed.size).toDouble
      val runs = p.total("plans.graft_rule_runs")
      val fromProbe = Layers.probeMetrics.map(k => k -> p.total(k) / n) :+
        ("plans.graft_rule_effective_ratio" ->
          (if (runs == 0) 0.0 else p.total("plans.graft_rule_effective") / runs))
      val calls = Layers.callMetrics.map { k =>
        val ms = median(rec.callTimes(k))
        k -> (if (k.endsWith("_s")) ms / 1000.0 else ms)
      }
      val counted = Seq("sources.commits", "sources.files_added", "sources.files_removed")
        .map(k => k -> rec.counted(k) / n) :+ ("sources.prune_kept_ratio" -> {
          val total = rec.counted("prune.total")
          if (total == 0) 0.0 else rec.counted("prune.kept") / total
        })
      val self = Trace.selfTimes(rec, timed)
      Trace.write(Paths.get(a("trace_out")), rec, timed, self)
      (fromProbe ++ calls ++ counted ++
        Layers.endStateMetrics.map(k => k -> layerExtras.getOrElse(k, 0.0)) ++
        Layers.selfMetrics.map(k => k -> self.getOrElse(k, 0.0))).toMap
    }.getOrElse(Map.empty[String, Double])

    val doc = Json.obj(Seq(
      "workload" -> Json.str(workload), "seed" -> seed.toString,
      "seconds" -> Json.num(seconds), "trace" -> (if (tracing) "1" else "0"),
      "correct" -> (failed == 0).toString, "attempted" -> attempted.toString,
      "failed" -> failed.toString,
      "mismatches" -> mismatches.asScala.map(Json.str).mkString("[", ", ", "]"),
      "end_to_end" -> Json.obj(e2e.map { case (k, v) => k -> Json.num(v) }),
      "extra" -> Json.obj(extra.toSeq.map { case (k, v) => k -> Json.num(v) }),
      "op_median_s" -> Json.obj(timed.groupBy(_.name).toSeq.sortBy(_._1)
        .map { case (k, v) => k -> Json.num(median(v.map(_.seconds))) }),
      "per_layer" -> Json.obj(layers.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.num(v) })))
    Files.write(Paths.get(a("out")), doc.getBytes(UTF_8))
    phase("result written")
    spark.stop()
    phase("session stopped")
  }
}
