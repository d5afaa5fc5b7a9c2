package perfbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.runtime.{RuntimeConfig, Supervisor}
import graft.sinks.KeyedTableSink
import graft.spec.StreamSpec

/** Parquet data files under a directory: count and bytes. */
object DirStats {
  def apply(dir: File): (Long, Long) =
    if (!dir.exists) (0L, 0L)
    else scala.util.Using.resource(Files.walk(dir.toPath)) { paths =>
      val files = paths.iterator.asScala.filter(_.toString.endsWith(".parquet")).toSeq
      (files.size.toLong, files.map(p => Files.size(p)).sum)
    }
}

/** `etl_backlog`: a registered stream drains a seeded backlog of JSON
  * events, one file of [[EventsPerFile]] events per micro-batch, through
  * the full transform algebra into the keyed parquet sink.
  *
  * One op is one backlog file: the client moves it into the stream's
  * source directory and waits on `processAllAvailable()`. Per-row kernels
  * and the sink write dominate; per-batch fixed cost is a small share.
  */
object EtlBacklog {
  val EventsPerFile = 20000
  /** Events in a set-up round's warm-up file. */
  val WarmEvents = 5000
  /** Warm-up files come from one fixed seed, so every run enters its
    * window with the JIT trained on the same events; the seed varies only
    * the timed backlog.
    */
  val WarmSeed = 0L

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val inbox = ctx.dir("inbox")
    val gen = ctx.dir("gen")
    val sinkRoot = ctx.dir("sink")
    val source = (s: SparkSession, spec: StreamSpec) =>
      s.readStream.format("text").option("maxFilesPerTrigger", "1")
        .load(new File(inbox, spec.streamIdSuffix).getAbsolutePath)
    val sup = new Supervisor(spark, RuntimeConfig(
      sinkRoot = Some(sinkRoot.getAbsolutePath), retryBackoffBaseMs = 1,
      customSources = Map("backlog" -> source)))
    val r = ctx.report

    /** One registered stream and the files it has been fed. */
    final class Lane(index: Int) {
      val suffix = s"etl-$index"
      val id = s"perfbench-$suffix"
      private val in = new File(inbox, suffix)
      in.mkdirs()
      var next = 0
      var kept, errors, crcSum = 0L
      def sinkDir = new File(sinkRoot, id)
      def dlqDir = new File(sinkRoot, s"${id}__dlq")
      def stored: Long = sup.metrics(id).snapshot("EventsStoredInSink")
      def query = sup.stream(id).flatMap(_.query)
        .getOrElse(sys.error(s"stream $id has no running query"))

      def register(): Unit =
        sup.registerStream(Events.etlSpec(suffix, "backlog"))
          .fold(e => sys.error(s"spec rejected: ${e.msg}"), _ => ())

      /** Writes the lane's next `n` backlog files, outside any timed span. */
      def generate(n: Int, events: Int = EventsPerFile, seed: Long = ctx.seed): Seq[(Events.Batch, File)] =
        (0 until n).map { k =>
          val f = next + k
          val b = Events.batch(seed, index, f, events)
          val out = new File(gen, f"$suffix-$f%05d.json")
          Files.write(out.toPath, b.lines.mkString("\n").getBytes(UTF_8))
          b -> out
        }

      /** One op: hand the stream one file and wait until it is drained. */
      def feed(b: Events.Batch, file: File): Double = {
        val before = stored
        val t0 = System.nanoTime()
        Files.move(file.toPath, new File(in, file.getName).toPath, StandardCopyOption.ATOMIC_MOVE)
        query.processAllAvailable()
        val s = (System.nanoTime() - t0) / 1e9
        next += 1
        kept += b.kept; errors += b.errors; crcSum += b.keyCrcSum
        r.op(stored - before == b.kept && query.exception.isEmpty,
          s"$id file ${next - 1}: stored ${stored - before} of ${b.kept} events")
        s
      }

      /** Micro-batch trigger times (ms) of the last `n` data batches. */
      def batchMs(n: Int): Seq[Double] =
        query.recentProgress.filter(_.numInputRows > 0).takeRight(n).toSeq
          .map(_.durationMs.get("triggerExecution").doubleValue)

      def stop(): Unit = query.stop()

      def verify(): Unit = {
        r.check(stored == kept, s"$id EventsStoredInSink $stored, expected $kept")
        val row = new KeyedTableSink(sinkDir.getAbsolutePath).all(spark)
          .select(count(lit(1)), coalesce(sum(crc32(col("key").cast("binary"))), lit(0L)))
          .collect()(0)
        r.check(row.getLong(0) == kept, s"$id sink holds ${row.getLong(0)} rows, expected $kept")
        r.check(row.getLong(1) == crcSum, s"$id sink key checksum ${row.getLong(1)}, expected $crcSum")
        val dlq = if (dlqDir.exists) spark.read.parquet(dlqDir.getAbsolutePath).count() else 0L
        r.check(dlq == errors, s"$id error table holds $dlq events, expected $errors")
      }
    }

    // events/s of the last set-up round, to size the window's backlog
    var warmEventsPerS = 0.0
    // enough files for the window at three times the warm rate, plus slack
    def filesFor(seconds: Double): Int =
      math.ceil(seconds * warmEventsPerS * 3 / EventsPerFile).toInt + 2

    /** Feeds files until `seconds` have passed or the files run out. */
    final case class Window(events: Long, files: Int, wallS: Double, batchMs: Seq[Double]) {
      def throughput: Double = events / wallS
    }
    def window(lane: Lane, seconds: Double): Window = {
      val files = lane.generate(filesFor(seconds))
      var wall = 0.0
      var events = 0L
      var done = 0
      val it = files.iterator
      while (wall < seconds && it.hasNext) {
        val (b, f) = it.next()
        wall += lane.feed(b, f)
        events += b.lines.length; done += 1
      }
      Window(events, done, wall, lane.batchMs(done))
    }

    // set-up rounds: register a stream and drain one warm-up file; the last
    // round's stream carries the timed window
    def setupRound(index: Int): (Lane, Double) = {
      val lane = new Lane(index)
      val files = lane.generate(1, WarmEvents, WarmSeed)
      val t0 = System.nanoTime()
      lane.register()
      val feedS = lane.feed(files.head._1, files.head._2)
      warmEventsPerS = WarmEvents / feedS
      lane -> (System.nanoTime() - t0) / 1e9
    }

    val rounds = (1 to ctx.setupRounds).map(setupRound)
    rounds.init.foreach(_._1.stop())
    val timedLane = rounds.last._1
    try {
      if (!ctx.trace) {
        val w = window(timedLane, ctx.seconds)
        r.put("throughput_per_s", w.throughput, "1/s", w.events)
        r.put("op_ms", Stats.median(w.batchMs), "ms", w.batchMs.size)
        r.put("setup_s", ctx.sessionStartS + Stats.median(rounds.map(_._2)), "s", rounds.size)
        timedLane.verify()
      } else {
        val plain = window(timedLane, ctx.seconds / 2)
        r.put("client.batch_ms_p50", Stats.median(plain.batchMs), "ms", plain.batchMs.size)
        timedLane.stop()
        timedLane.verify()
        // a stream runs on a clone of the session made when it starts, so
        // the listeners must exist before the traced stream is registered
        val trace = new Trace(spark)
        val (tracedLane, _) = setupRound(ctx.setupRounds + 1)
        trace.reset()
        val m0 = sup.metrics(tracedLane.id).snapshot
        val files0 = DirStats(tracedLane.sinkDir)
        val dlq0 = DirStats(tracedLane.dlqDir)
        val jvm = new JvmWindow
        val w = try window(tracedLane, ctx.seconds / 2) finally trace.close()
        jvm.report(r)
        val m1 = sup.metrics(tracedLane.id).snapshot
        def d(k: String) = (m1(k) - m0(k)).toDouble
        val files1 = DirStats(tracedLane.sinkDir)
        val dlq1 = DirStats(tracedLane.dlqDir)
        val n = w.files
        r.put("trace.overhead_pct", (plain.throughput / w.throughput - 1) * 100, "%", n)
        r.put("runtime.jobs_per_batch", Stats.ratio(trace.group(Groups.Stream).jobs, n), "count", n)
        r.put("runtime.sink_time_share",
          Stats.ratio(d("SinkProcessingTimeMicros"), d("EventProcessingTimeMicros")), "ratio", n)
        val progress = trace.progress.takeRight(n).toSeq
        Seq("addBatch" -> "ss.add_batch_ms_p50", "latestOffset" -> "ss.latest_offset_ms_p50",
          "queryPlanning" -> "ss.query_planning_ms_p50", "walCommit" -> "ss.wal_commit_ms_p50",
          "commitOffsets" -> "ss.commit_offsets_ms_p50").foreach { case (k, name) =>
          r.put(name, Stats.median(progress.map(_.getOrElse(k, 0L).toDouble)), "ms", progress.size)
        }
        val written = files1._1 - files0._1 + dlq1._1 - dlq0._1
        r.put("sinks.files_written_per_batch", Stats.ratio(written, n), "count", n)
        r.put("sinks.bytes_written_per_event",
          Stats.ratio(files1._2 - files0._2 + dlq1._2 - dlq0._2, w.events), "B", w.events)
        r.put("sinks.table_files", files1._1.toDouble, "count", 1)
        trace.report(r, n, w.wallS, Main.Slots)
        tracedLane.verify()
      }
    } finally sup.shutdownAll()
  }
}
