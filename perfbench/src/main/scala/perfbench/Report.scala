package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Names of the per-layer metrics, grouped by where they come from. */
object Layers {
  /** Totals from [[SparkProbe]], reported per timed op. */
  val probeMetrics: Seq[String] = Seq(
    "plans.analysis_ms", "plans.optimization_ms", "plans.planning_ms",
    "plans.graft_rules_ms", "plans.graft_rule_runs",
    "exec.jobs", "exec.stages", "exec.tasks", "exec.task_run_ms",
    "exec.task_cpu_ms", "exec.task_wait_ms", "exec.gc_ms",
    "exec.shuffle_read_bytes", "exec.shuffle_write_bytes", "exec.spill_bytes",
    "exec.input_bytes", "exec.output_bytes", "exec.aqe_replans")

  /** Calls into modules timed by the benchmark, reported as the median
    * call. */
  val callMetrics: Seq[String] = Seq(
    "queries.fn_s", "queries.action_s",
    "sources.append_ms", "sources.merge_ms", "sources.update_ms",
    "sources.delete_ms", "sources.compact_ms", "sources.snapshot_tip_ms",
    "sources.snapshot_asof_ms", "sources.scan_ms",
    "operators.mv_refresh_ms", "operators.ann_build_ms",
    "operators.ann_query_ms", "operators.dedup_build_ms",
    "operators.dedup_probe_ms",
    "functions.minhash_agg_ms", "functions.simhash_agg_ms",
    "functions.vec_dot_ms", "functions.jaro_winkler_ms",
    "functions.quantile_sketch_agg_ms", "functions.scan_baseline_ms")

  /** State of the medallion tables at the end of the run. */
  val endStateMetrics: Seq[String] =
    Seq("sources.bytes_written", "sources.live_files", "sources.checkpoints")

  /** Self time per timed op of each traced layer; `bench` is the op span
    * itself, i.e. time outside every timed call. */
  val selfLayers: Seq[String] =
    Seq("bench", "queries", "plans", "exec", "sources", "operators", "functions")
  val selfMetrics: Seq[String] = selfLayers.map(l => s"$l.self_ms")
}

object Trace {
  /** Nest each timed op's spans by containment (Spark reports event
    * times in whole milliseconds, hence the 1 ms slack) and return, per
    * child index, its parent index (-1 for the op root). */
  private def nest(spans: IndexedSeq[Span]): IndexedSeq[Int] = {
    val slack = 1000000L
    val parent = Array.fill(spans.size)(-1)
    val stack = mutable.Stack[Int]()
    spans.indices.foreach { i =>
      val s = spans(i)
      while (stack.nonEmpty && {
        val p = spans(stack.top)
        !(p.startNs <= s.startNs + slack && s.endNs <= p.endNs + slack)
      }) stack.pop()
      if (stack.nonEmpty) parent(i) = stack.top
      stack.push(i)
    }
    parent.toIndexedSeq
  }

  /** tie-break for spans starting and ending together: parents first */
  private val rank = Seq("op", "queries", "sources", "operators", "functions",
    "plans", "exec").zipWithIndex.toMap

  private def ordered(rec: Recorder, ops: Seq[OpRecord]): Map[String, IndexedSeq[Span]] = {
    val ids = ops.map(_.id).toSet
    rec.spans.asScala.filter(s => ids(s.op)).toSeq.groupBy(_.op).map { case (id, ss) =>
      id -> ss.sortBy(s => (s.startNs, -s.endNs, rank.getOrElse(s.layer, 9))).toIndexedSeq
    }
  }

  /** Self time (span minus the union of its children) summed per layer,
    * in ms per timed op, keyed by `<layer>.self_ms`. */
  def selfTimes(rec: Recorder, ops: Seq[OpRecord]): Map[String, Double] = {
    val acc = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    ordered(rec, ops).values.foreach { spans =>
      val parent = nest(spans)
      spans.indices.foreach { i =>
        val s = spans(i)
        val kids = spans.indices.filter(parent(_) == i).map(spans)
          .map(k => (math.max(k.startNs, s.startNs), math.min(k.endNs, s.endNs)))
          .filter { case (a, b) => b > a }.sortBy(_._1)
        var covered = 0L
        var end = Long.MinValue
        kids.foreach { case (a, b) =>
          val from = math.max(a, end)
          if (b > from) covered += b - from
          end = math.max(end, b)
        }
        val layer = if (s.layer == "op") "bench" else s.layer
        acc(s"$layer.self_ms") += (s.endNs - s.startNs - covered) / 1e6
      }
    }
    val n = math.max(1, ops.size)
    acc.map { case (k, v) => k -> v / n }.toMap
  }

  /** Spans (times in µs from the first op) with their parent index, and
    * the per-layer self times. */
  def write(path: Path, rec: Recorder, ops: Seq[OpRecord],
      self: Map[String, Double]): Unit = {
    val t0 = if (ops.isEmpty) 0L else ops.map(_.startNs).min
    val rows = ordered(rec, ops).toSeq.sortBy(_._2.head.startNs).flatMap { case (_, spans) =>
      val parent = nest(spans)
      spans.indices.map { i =>
        val s = spans(i)
        Seq(Json.str(s.op), Json.str(s.layer), Json.str(s.name),
          ((s.startNs - t0) / 1000).toString, ((s.endNs - t0) / 1000).toString,
          parent(i).toString).mkString("[", ", ", "]")
      }
    }
    Files.write(path, Json.obj(Seq(
      "ops" -> ops.size.toString,
      "self_ms_per_op" -> Json.obj(self.toSeq.sorted.map { case (k, v) => k -> Json.num(v) }),
      "span_fields" -> """["op", "layer", "name", "start_us", "end_us", "parent"]""",
      "spans" -> rows.mkString("[\n", ",\n", "\n]"))).getBytes(UTF_8))
  }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case ch if ch < ' ' => f"\\u${ch.toInt}%04x"
    case ch => ch.toString
  } + "\""
  def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
}
