package perfbench

import java.io.File

import scala.collection.mutable

import graft.runtime.{Geist, RuntimeConfig}

/** `publish_readback`: one closed-loop client against [[Geist]]. An op is a
  * synchronous `publish` of one event, then a read-back of that event's key
  * to `collect()`; every [[ScanEvery]] ops the client also collects the
  * whole table. Every publish is a one-row batch, so per-call fixed cost
  * (jobs per batch, Catalyst planning, the parquet commit) is nearly all of
  * the time, and each publish adds a file that later reads must list.
  */
object PublishReadback {
  val ScanEvery = 10
  /** Events generated per stream; far more than a window can publish. */
  val EventsPerStream = 5000

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val sinkRoot = ctx.dir("sink")
    val geist = new Geist(spark, RuntimeConfig(sinkRoot = Some(sinkRoot.getAbsolutePath)))
    val r = ctx.report

    final class Lane(index: Int) {
      val suffix = s"pub-$index"
      val id = s"perfbench-$suffix"
      private val events = Events.batch(ctx.seed, 100 + index, 0, EventsPerStream, plain = true)
      var published = 0
      val publishMs, getMs, scanMs = mutable.ArrayBuffer.empty[Double]
      val tableFiles = mutable.ArrayBuffer.empty[Double]
      var countFiles = false
      def sinkDir = new File(sinkRoot, id)

      def register(): Unit =
        geist.registerStream(Events.publishSpec(suffix))
          .fold(e => sys.error(s"spec rejected: ${e.msg}"), _ => ())

      private def timed[T](into: mutable.ArrayBuffer[Double])(body: => T): T = {
        val t0 = System.nanoTime()
        val out = body
        into += (System.nanoTime() - t0) / 1e6
        out
      }

      /** One op: publish event `published`, read its key back, sometimes scan. */
      def op(): Double = {
        val t0 = System.nanoTime()
        val i = published
        Groups.within(spark, Groups.Publish) {
          timed(publishMs)(geist.publish(id, events.lines(i)))
        }
        published += 1
        val sink = geist.readback(id).getOrElse(sys.error(s"stream $id has no keyed sink"))
        if (countFiles) tableFiles += DirStats(sinkDir)._1.toDouble
        val rows = Groups.within(spark, Groups.Get) {
          timed(getMs)(sink.keyValue(spark, events.keys(i)).collect())
        }
        val ok = rows.length == 1 &&
          rows(0).getAs[String]("key") == events.keys(i) &&
          rows(0).getAs[Long]("eid") == i.toLong &&
          rows(0).getAs[String]("user") == events.users(i)
        r.op(ok, s"$id get ${events.keys(i)} returned ${rows.mkString(";")}")
        if (published % ScanEvery == 0) scan()
        (System.nanoTime() - t0) / 1e9
      }

      /** Collects the whole table; it must hold every event published. */
      def scan(): Unit = {
        val sink = geist.readback(id).getOrElse(sys.error(s"stream $id has no keyed sink"))
        val all = Groups.within(spark, Groups.Scan) {
          timed(scanMs)(sink.all(spark).collect())
        }
        r.op(all.length == published, s"$id scan saw ${all.length} of $published rows")
      }

      def window(seconds: Double): (Int, Double) = {
        val start = published
        var wall = 0.0
        while (wall < seconds) {
          require(published < EventsPerStream, "window outran the generated events")
          wall += op()
        }
        (published - start, wall)
      }
    }

    // set-up round: register a stream, then warm up each op type on it
    val WarmOps = 3
    def setupRound(index: Int): (Lane, Double) = {
      val lane = new Lane(index)
      val t0 = System.nanoTime()
      lane.register()
      (1 to WarmOps).foreach(_ => lane.op())
      lane.scan()
      lane -> (System.nanoTime() - t0) / 1e9
    }

    try {
      val rounds = (1 to ctx.setupRounds).map(setupRound)
      val lane = rounds.last._1
      def clear(l: Lane): Unit = { l.publishMs.clear(); l.getMs.clear(); l.scanMs.clear() }
      clear(lane)
      if (!ctx.trace) {
        val (ops, wall) = lane.window(ctx.seconds)
        r.put("throughput_per_s", ops / wall, "1/s", ops)
        r.put("op_ms", Stats.median(lane.publishMs.toSeq), "ms", lane.publishMs.size)
        r.put("setup_s", ctx.sessionStartS + Stats.median(rounds.map(_._2)), "s", rounds.size)
      } else {
        val (plainOps, plainWall) = lane.window(ctx.seconds / 2)
        r.put("client.publish_ms_p50", Stats.median(lane.publishMs.toSeq), "ms", lane.publishMs.size)
        r.put("client.get_ms_p50", Stats.median(lane.getMs.toSeq), "ms", lane.getMs.size)
        if (lane.scanMs.nonEmpty)
          r.put("client.scan_ms_p50", Stats.median(lane.scanMs.toSeq), "ms", lane.scanMs.size)
        // the traced half repeats the same ops on a fresh stream, so both
        // halves read tables of the same sizes
        val (traced, _) = setupRound(ctx.setupRounds + 1)
        clear(traced)
        traced.countFiles = true
        val m0 = geist.metrics(traced.id)
        val files0 = DirStats(traced.sinkDir)
        val trace = new Trace(spark)
        val jvm = new JvmWindow
        val (ops, wall) = try traced.window(ctx.seconds / 2) finally trace.close()
        jvm.report(r)
        val m1 = geist.metrics(traced.id)
        def d(k: String) = (m1(k) - m0(k)).toDouble
        val files1 = DirStats(traced.sinkDir)
        val scans = traced.scanMs.size
        r.put("trace.overhead_pct", ((plainOps / plainWall) / (ops / wall) - 1) * 100, "%", ops)
        r.put("runtime.jobs_per_publish", Stats.ratio(trace.group(Groups.Publish).jobs, ops), "count", ops)
        r.put("runtime.jobs_per_get", Stats.ratio(trace.group(Groups.Get).jobs, ops), "count", ops)
        r.put("runtime.sink_time_share",
          Stats.ratio(d("SinkProcessingTimeMicros"), d("EventProcessingTimeMicros")), "ratio", ops)
        r.put("sinks.files_written_per_batch", Stats.ratio(files1._1 - files0._1, ops), "count", ops)
        r.put("sinks.bytes_written_per_event", Stats.ratio(files1._2 - files0._2, ops), "B", ops)
        r.put("sinks.table_files", Stats.median(traced.tableFiles.toSeq), "count", traced.tableFiles.size)
        trace.report(r, ops * 2L + scans, wall, Main.Slots)
      }
    } finally geist.shutdown()
  }
}
