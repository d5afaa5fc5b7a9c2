package perfbench

import scala.collection.mutable

/** Summary statistics used by every workload. */
object Stats {
  /** Linear-interpolated quantile (the same rule as numpy's default). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.ceil(pos).toInt
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  def geomean(xs: Seq[Double]): Double = {
    require(xs.nonEmpty && xs.forall(_ > 0), "geomean needs positive samples")
    math.exp(xs.map(math.log).sum / xs.size)
  }
  def ratio(num: Double, den: Double): Double = if (den > 0) num / den else 0.0
}

/** One measured value: unit and the number of samples behind it. */
final case class Metric(value: Double, unit: String, samples: Long)

/** The metric names the benchmark reports. Every run reports each name of
  * its mode (end-to-end untraced, per-layer traced) on every workload; a
  * per-layer metric whose layer a workload never enters reads 0.
  */
object Names {
  val endToEnd: Seq[(String, String)] = Seq(
    "throughput_per_s" -> "1/s", "op_ms" -> "ms", "setup_s" -> "s")

  val perLayer: Seq[(String, String)] = Seq(
    "json.parse_ns_per_event" -> "ns", "path.eval_ns_per_field" -> "ns",
    "functions.useragent_ns_per_event" -> "ns", "functions.regexp_ns_per_event" -> "ns",
    "functions.single_task_events_per_s" -> "1/s", "compile.pipeline_overhead_ratio" -> "ratio",
    "spec.parse_ms" -> "ms", "compile.compile_ms" -> "ms", "runtime.register_ms" -> "ms",
    "runtime.jobs_per_batch" -> "count", "runtime.jobs_per_publish" -> "count",
    "runtime.jobs_per_get" -> "count", "runtime.sink_time_share" -> "ratio",
    "ss.add_batch_ms_p50" -> "ms", "ss.latest_offset_ms_p50" -> "ms",
    "ss.query_planning_ms_p50" -> "ms", "ss.wal_commit_ms_p50" -> "ms",
    "ss.commit_offsets_ms_p50" -> "ms",
    "sinks.files_written_per_batch" -> "count", "sinks.bytes_written_per_event" -> "B",
    "sinks.table_files" -> "count",
    "catalyst.analysis_ms_per_op" -> "ms", "catalyst.optimization_ms_per_op" -> "ms",
    "catalyst.planning_ms_per_op" -> "ms",
    "scheduler.jobs_per_op" -> "count", "scheduler.stages_per_op" -> "count",
    "scheduler.tasks_per_op" -> "count", "scheduler.delay_ms_per_task" -> "ms",
    "exec.run_ms_per_op" -> "ms", "exec.cpu_ms_per_op" -> "ms", "exec.gc_ms_per_op" -> "ms",
    "exec.shuffle_bytes_per_op" -> "B", "exec.spill_bytes_per_op" -> "B",
    "exec.busy_share" -> "ratio",
    "ops.parity_s" -> "s", "ops.analytics_s" -> "s", "ops.dedup_s" -> "s",
    "ops.graph_s" -> "s", "ops.curation_s" -> "s", "ops.profile_s" -> "s",
    "query.plan_share" -> "ratio", "query.exec_share" -> "ratio",
    "jvm.cpu_s" -> "s", "jvm.gc_ms" -> "ms", "jvm.heap_peak_mb" -> "MB",
    "trace.overhead_pct" -> "%",
    "client.batch_ms_p50" -> "ms", "client.publish_ms_p50" -> "ms",
    "client.get_ms_p50" -> "ms", "client.scan_ms_p50" -> "ms",
    "client.query_ms_geomean" -> "ms")
}

/** What one run found: metrics, op accounting and failed output checks. */
final class Report {
  val metrics = mutable.LinkedHashMap.empty[String, Metric]
  val checks = mutable.ArrayBuffer.empty[String]
  var attempted = 0L
  var failed = 0L

  def put(name: String, value: Double, unit: String, samples: Long): Unit = {
    require(!value.isNaN && !value.isInfinite, s"$name is not a finite number")
    metrics(name) = Metric(value, unit, samples)
  }

  /** Counts one op; a false `ok` marks it failed and records why. */
  def op(ok: Boolean, what: => String): Unit = {
    attempted += 1
    if (!ok) { failed += 1; if (checks.size < 20) checks += what }
  }

  /** An output check on a whole run, not on one op. */
  def check(ok: Boolean, what: => String): Unit = if (!ok) checks += what

  private def num(d: Double): String = java.lang.Double.toString(d)
  private def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  /** The run's full record; `wanted` fixes the reported names and order. */
  def json(wanted: Seq[(String, String)], zeroIfAbsent: Boolean): String = {
    val ms = wanted.map { case (n, u) =>
      val m = metrics.getOrElse(n,
        if (zeroIfAbsent) Metric(0.0, u, 0)
        else throw new IllegalStateException(s"metric $n was not measured"))
      require(m.unit == u, s"metric $n has unit ${m.unit}, expected $u")
      s"${str(n)}: {${str("value")}: ${num(m.value)}, ${str("unit")}: ${str(u)}, ${str("samples")}: ${m.samples}}"
    }
    val correct = failed == 0 && checks.isEmpty && attempted > 0
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, """ +
      s""""checks": [${checks.map(str).mkString(", ")}], "metrics": {${ms.mkString(", ")}}}"""
  }
}
