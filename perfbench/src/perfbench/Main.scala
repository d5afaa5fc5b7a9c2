package perfbench

import java.io.File
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** Everything a workload needs from the command line and the session. */
final case class Ctx(
    spark: SparkSession,
    seed: Long,
    seconds: Double,
    trace: Boolean,
    runDir: File,
    dataDir: File,
    report: Report,
    sessionStartS: Double) {

  /** Set-up rounds per run; set-up time is their median. */
  val setupRounds = 3

  def dir(name: String): File = { val d = new File(runDir, name); d.mkdirs(); d }
}

/** Entry point: runs one workload once and writes its record as JSON.
  *
  * {{{
  * perfbench.Main --workload etl_backlog --seed 1 --seconds 10 --trace 0 \
  *   --run-dir <scratch dir> --data <perfbench/data> --out <result.json>
  * }}}
  *
  * With `--trace 0` the timed window runs untraced and the record holds
  * the end-to-end metrics. With `--trace 1` the window is split in two
  * halves of the same work, untraced then traced, and the record holds the
  * per-layer metrics, the tracing overhead between the halves and the
  * kernel microbenchmarks.
  */
object Main {
  /** Task slots: below the 4 vCPUs of the reference host so the client
    * thread, the listener bus and the JIT do not compete with tasks.
    */
  val Slots = 2

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def opt(k: String) = opts.getOrElse(k, sys.error(s"missing --$k"))
    val workload = opt("workload")
    val run: Ctx => Unit = workload match {
      case "etl_backlog" => EtlBacklog.run
      case "publish_readback" => PublishReadback.run
      case "query_board" => QueryBoard.run
      case other => sys.error(s"unknown workload $other")
    }
    val trace = opts.get("trace").contains("1")
    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$Slots]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", Slots)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(opt("run-dir"), "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(opt("run-dir"), "warehouse").getAbsolutePath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val report = new Report
    val ctx = Ctx(spark, opt("seed").toLong, opt("seconds").toDouble, trace,
      new File(opt("run-dir")), new File(opt("data")), report,
      sessionStartS = (System.nanoTime() - t0) / 1e9)
    try {
      opts.get("record") match {
        case Some(out) => // re-record the query board outputs, keeping the families
          val families = scala.util.Try(QueryBoard.loadExpected(ctx.dataDir)).getOrElse(Map.empty)
          QueryBoard.record(spark, ctx.dataDir, new File(out),
            n => families.get(n).map(_.family).getOrElse("unknown"))
          return
        case None =>
      }
      run(ctx)
      if (trace) Kernels.run(ctx)
    } catch {
      case e: Throwable =>
        report.check(ok = false, s"run aborted: $e")
        e.printStackTrace()
    } finally spark.stop()
    val json =
      if (trace) report.json(Names.perLayer, zeroIfAbsent = true)
      else report.json(Names.endToEnd, zeroIfAbsent = report.checks.nonEmpty)
    Files.write(Paths.get(opt("out")), json.getBytes("UTF-8"))
  }
}
