package graft.runtime

import java.util.concurrent.atomic.AtomicLong
import java.util.concurrent.{ArrayBlockingQueue, ConcurrentHashMap, TimeoutException}

import org.apache.spark.sql.{Column, DataFrame, Observation, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.compile.SpecCompiler
import graft.compile.SpecCompiler.CompiledPipeline
import graft.sinks.{KeyedTableSink, SinkCompiler, VoidSink}
import graft.sources.{EventSim, KafkaSource}
import graft.spec.{Houe, SpecValidationException, StreamSpec}

import scala.concurrent.Await
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._

/** Per-stream running metrics (reference entity/common.go:36-73; counters
  * aggregated across executors — here across batches/publishes).
  */
final class Metrics {
  val eventsProcessed = new AtomicLong(0)
  val eventProcessingTimeMicros = new AtomicLong(0)
  val microbatches = new AtomicLong(0)
  val bytesProcessed = new AtomicLong(0)
  val eventsStoredInSink = new AtomicLong(0)
  val sinkProcessingTimeMicros = new AtomicLong(0)
  val sinkOperations = new AtomicLong(0)
  val bytesIngested = new AtomicLong(0)
  def snapshot: Map[String, Long] = Map(
    "EventsProcessed" -> eventsProcessed.get,
    "EventProcessingTimeMicros" -> eventProcessingTimeMicros.get,
    "Microbatches" -> microbatches.get,
    "BytesProcessed" -> bytesProcessed.get,
    "EventsStoredInSink" -> eventsStoredInSink.get,
    "SinkProcessingTimeMicros" -> sinkProcessingTimeMicros.get,
    "SinkOperations" -> sinkOperations.get,
    "BytesIngested" -> bytesIngested.get)
}

/** Marker for stream-level failures the supervisor should self-heal from
  * (event-processing retries exhausted on a retryable error): the reference
  * restarts the stream with exponential backoff in that case
  * (entity/spec.go MaxEventProcessingRetries doc, engine/executor.go Run
  * loop), while unretryable houe=fail terminations stay down for manual
  * restart.
  */
final class RetryableStreamException(msg: String, cause: Throwable)
  extends RuntimeException(msg, cause)

/** Leveled operational notification (entity/notify.go:5-42): carries the
  * emitting code origin (class.method:line — the reference's func/file/line
  * from runtime.Caller) and, for ERROR level, a bounded stack excerpt
  * (pkg/notify/notify.go:20-159).
  */
final case class NotificationEvent(level: String, streamId: String, message: String,
    timestamp: java.time.Instant = java.time.Instant.now(),
    origin: String = "", stack: Seq[String] = Nil)

/** Bounded non-blocking notification bus: full buffer drops events
  * (pkg/notify/notify.go:155-158, the reference's default size 64) and
  * counts them.
  */
final class Notifier {
  val queue = new ArrayBlockingQueue[NotificationEvent](64)
  /** Notifications refused because the buffer was full. */
  val dropped = new AtomicLong(0)
  def notify(level: String, streamId: String, msg: String): Unit = {
    // one lazy stack walk for every level: the caller's frame names the
    // origin, and only ERROR keeps it and the next 7 as a stack excerpt
    // (notifications fire per batch/retry, so INFO/WARN walk one frame)
    val frames = java.lang.StackWalker.getInstance().walk { s =>
      s.dropWhile(_.getClassName.contains("Notifier"))
        .limit(if (level == "ERROR") 8 else 1).toList
    }.asScala
    val origin = frames.headOption
      .fold("")(f => s"${f.getClassName}.${f.getMethodName}:${f.getLineNumber}")
    val stack = if (level == "ERROR") frames.map(_.toStackTraceElement.toString).toSeq else Nil
    if (!queue.offer(NotificationEvent(level, streamId, msg,
        java.time.Instant.now(), origin, stack)))
      dropped.incrementAndGet()
  }
  def drain(): Seq[NotificationEvent] = {
    val out = new java.util.ArrayList[NotificationEvent]()
    queue.drainTo(out)
    out.asScala.toSeq
  }
}

/** Spec registry (J1/J3): version-gated registration, per-env ops
  * resolution, disable handling, protected ids, optional parquet-backed
  * spec table for bootstrap (registry-as-a-table; the reference's
  * registry-as-a-stream collapses to this in a Spark runtime).
  */
final class Registry(spark: SparkSession, specTablePath: Option[String], env: String) {
  private val specs = new ConcurrentHashMap[String, StreamSpec]()
  private val protectedIds = Set("geist-specs", "geist-adminevents")

  /** Bootstrap from the persisted spec table (registry.go:110-145 Fetch). */
  def fetch(): Unit = specTablePath.foreach { path =>
    // no java.io.File gate: the spec table may live on any Hadoop FS
    // (s3a/hdfs) — a missing/empty path is simply "nothing registered yet"
    try {
      spark.read.parquet(path)
        .groupBy("id").agg(max_by(col("specJson"), col("version")).as("specJson"))
        .collect()
        .foreach { r =>
          StreamSpec.parse(r.getAs[String]("specJson")).foreach(s => specs.put(s.id, s))
        }
    } catch { case _: org.apache.spark.sql.AnalysisException => }
  }

  /** Gate → prepare → persist + cache (registry.go:167-182
    * ExistsWithSameOrHigherVersion): a protected id or a same-or-lower
    * version is rejected before `prepare` runs, and nothing is persisted
    * unless it succeeds. One synchronized step, so two registrations of one
    * id cannot both pass the gate.
    */
  def register[A](spec: StreamSpec, specJson: String)(
      prepare: StreamSpec => Either[SpecValidationException, A]): Either[SpecValidationException, A] =
    synchronized {
      if (protectedIds.contains(spec.id))
        Left(SpecValidationException(s"stream id ${spec.id} is protected"))
      else if (get(spec.id).exists(_.version >= spec.version))
        Left(SpecValidationException(
          s"spec ${spec.id} with version ${spec.version} already exists with same or higher version"))
      else prepare(spec).map { prepared =>
        specTablePath.foreach { path =>
          import spark.implicits._
          Seq((spec.id, spec.version, specJson)).toDF("id", "version", "specJson")
            .write.mode("append").parquet(path)
        }
        specs.put(spec.id, spec)
        prepared
      }
    }

  def get(id: String): Option[StreamSpec] = Option(specs.get(id))
  def all: Seq[StreamSpec] = specs.values.asScala.toSeq
  def isDisabled(spec: StreamSpec): Boolean = spec.isDisabledIn(env)
}

/** One stream, built whole from a spec before it starts: compiled
  * pipeline, resolved source config, sinks and metrics. Construction runs
  * no Spark action and touches nothing outside the object, so everything a
  * spec can get wrong in its sink or source config throws here, before a
  * running version stops.
  */
final class Stream(
    val spec: StreamSpec,
    val pipeline: CompiledPipeline,
    val metrics: Metrics,
    supervisor: Supervisor) {

  @volatile var query: Option[StreamingQuery] = None

  // source config, parsed once: the eventsim generator spec and the Kafka
  // topics/properties the query start reads
  private[runtime] val sim: Option[EventSim.SimSpec] =
    if (spec.source.sourceType != "eventsim") None
    else Some(spec.source.config.customConfig.map(EventSim.fromNode).getOrElse(EventSim.SimSpec()))
  private[runtime] val kafka: Option[KafkaSource.KafkaConfig] =
    if (spec.source.sourceType != "kafka") None
    else Some(KafkaSource.parseConfig(spec, supervisor.config.env))

  private[runtime] val voidSink = new VoidSink(spec.sink.config.properties)
  private[runtime] val tables = spec.sink.config.customConfig
    .map(SinkCompiler.parseTables).getOrElse(Nil)
  // one keyed table per sink table: mixed-schema tables must not share a
  // parquet directory (multi-table specs write differently-shaped rows);
  // each sink carries its table's G6 creation config (partitioning,
  // clustering, partition-filter requirement). The dead-letter table
  // `<id>__dlq` packs its files the same way and is never a read-back
  // target.
  private[runtime] val (keyedSinks, dlqSink) =
    supervisor.config.sinkRoot.map { root =>
      val rowsPerFile = spec.sink.config.properties.get("rowsPerFile").map(v => v.toLongOption
        .getOrElse(throw new IllegalArgumentException(s"rowsPerFile must be an integer (got $v)")))
        .getOrElse(1000000L)
      def sinkOf(path: String, t: Option[SinkCompiler.TableSpec]) = t match {
        case Some(ts) => new KeyedTableSink(path, ts.partitionField, ts.partitionType,
          ts.clustering, ts.requirePartitionFilter, rowsPerFile)
        case None => new KeyedTableSink(path, rowsPerFile = rowsPerFile)
      }
      val keyed =
        if (tables.size > 1)
          tables.map(t => t.name -> sinkOf(s"$root/${spec.id}/${t.name}", Some(t))).toMap
        else Map("default" -> sinkOf(s"$root/${spec.id}", tables.headOption))
      (keyed, Some(sinkOf(s"$root/${spec.id}__dlq", None)))
    }.getOrElse((Map.empty[String, KeyedTableSink], None))
  private[runtime] def keyedSink: Option[KeyedTableSink] =
    keyedSinks.values.headOption
  private[runtime] def keyedSinkFor(table: String): Option[KeyedTableSink] =
    keyedSinks.get(table).orElse(keyedSinks.get("default"))

  @volatile private[runtime] var shutdownRequested = false

  // I3 self-heal bookkeeping (engine/executor.go:136-153): whether the last
  // query termination is retryable, and the per-stream restart backoff that
  // doubles up to ops.maxStreamRetryBackoffIntervalSec. State lives on the
  // Stream (like the reference's per-executor backoffDuration) so hot-swap
  // resets it but query restarts don't. Like the reference, backoff is
  // NOT reset after a successful recovery — it grows (capped) for the
  // deployment's lifetime; only a re-register/hot-swap starts fresh.
  @volatile private[runtime] var lastFailureRetryable = false
  @volatile private[runtime] var restartCount = 0
  private[runtime] var backoffMs = -1L
  private[runtime] def nextBackoffMs(baseMs: Long): Long = synchronized {
    val cap = spec.ops.maxStreamRetryBackoffIntervalSec * 1000L
    backoffMs = if (backoffMs <= 0) math.min(baseMs, cap) else math.min(backoffMs * 2, cap)
    restartCount += 1
    backoffMs
  }

  /** Process one micro-batch of raw events (the executor's ProcessEvent —
    * engine/executor.go:175-251): pipeline → per-table sink stages → load
    * with retry/backoff (executor.go:282-329) → houe policy on the
    * unretryable side-output. Returns the resource id of the last write.
    */
  def processBatch(rawEvents: DataFrame): String = {
    // the cache must unpersist even when the batch throws — under I3 the
    // self-heal loop re-runs a failing batch indefinitely, so a leak here
    // would accumulate one orphaned cached frame per restart cycle
    var tagged: Option[DataFrame] = None
    val t0 = System.nanoTime()
    try processBatchInner(rawEvents, f => { tagged = Some(f); f })
    finally {
      // deferred, like the reference's processEventExit (executor.go:
      // 344-352, registered before any work): Microbatches and the
      // processing-time counter advance on EVERY batch attempt — hook
      // failures, transform errors, and sink failures included
      metrics.microbatches.incrementAndGet()
      metrics.eventProcessingTimeMicros.addAndGet((System.nanoTime() - t0) / 1000)
      tagged.foreach(_.unpersist())
    }
  }

  private def processBatchInner(rawEvents: DataFrame, track: DataFrame => DataFrame): String = {
    var resourceId = "<noResourceId>"

    // ONE tagged pass per micro-batch, cached: the transform chain (parse,
    // routing, fields, userAgent, regexp) runs once per event, and the
    // counters, every branch load and the dead-letter write read this
    // cache — none re-evaluates the chain
    val hooked = supervisor.config.preTransformHook.isDefined
    val tagged = track((supervisor.config.preTransformHook match {
      case None => pipeline.tag(rawEvents)
      case Some(h) =>
        // F9 pre-transform hook: distributed per-event action evaluation,
        // inside the tagged pass; the transform runs only on 'p' rows
        val sparkS = supervisor.spark
        import sparkS.implicits._
        val sid = spec.id
        val maxRetries = spec.ops.maxEventProcessingRetries
        val acted = rawEvents.select("value").as[String].map { e =>
          var action = h(sid, e)
          var attempts = 0
          while (action == Hooks.RetryableError && attempts < maxRetries) {
            attempts += 1; action = h(sid, e)
          }
          // __rawlen is the PRE-hook byte length: BytesProcessed counts
          // what arrived from the source, not what a Proceed(e2) rewrote
          action match {
            case Hooks.Proceed(e2) => ("p", e2, e.length)
            case Hooks.Skip => ("s", e, e.length)
            case Hooks.RetryableError | Hooks.UnretryableError => ("u", e, e.length)
            case Hooks.Shutdown => ("x", e, e.length)
          }
        }.toDF("__act", "value", "__rawlen")
        pipeline.tag(acted, keepColumns = Seq("__act", "__rawlen"), active = col("__act") === "p")
    }).cache())

    // ONE aggregation over the cache (it also materializes it) carries the
    // processed counters, the ingested bytes, the error count, the hook
    // action tallies and each (branch, table) load's row count. Per-batch
    // job budget: each extra action is a fixed scheduler cost on every
    // micro-batch.
    val len = col(CompiledPipeline.Len)
    def tally(act: String) = if (hooked) count(when(col("__act") === act, 1)) else lit(0L)
    val targets = if (tables.nonEmpty) tables.map(Some(_)) else Seq(None)
    val post = supervisor.config.postTransformStage
    // a table's rows are its branch's emitted rows that pass the table's
    // whitelist, read on the tagged columns; insert-id dedup never empties
    // a non-empty frame, so the count decides the skip exactly. Unknown
    // (None) under an F10 post-transform stage, which may drop, add or
    // rename rows and columns, and for a whitelist id that names no branch
    // output column (the table stage resolves it, or fails, at load time).
    def tableRows(i: Int, table: Option[SinkCompiler.TableSpec]): Option[Column] =
      if (post.nonEmpty) None
      else table.flatMap(_.whitelist) match {
        case None => Some(count(when(pipeline.emitted(i), 1)))
        case Some(w) =>
          pipeline.branches(i).outputColumns
            .find(c => c.equalsIgnoreCase(w.id) && !w.id.exists(".`".contains(_)))
            .map(c => count(when(pipeline.emitted(i) &&
              SinkCompiler.whitelistPred(w, _ => pipeline.outputCol(i, c)), 1)))
      }
    val counted = for {
      i <- pipeline.branches.indices; (t, j) <- targets.zipWithIndex; c <- tableRows(i, t)
    } yield (i, j) -> c
    val counters = Seq(
      count(lit(1)),
      coalesce(sum(if (hooked) col("__rawlen") else len).cast("long"), lit(0L)),
      coalesce(sum(when(pipeline.ingested, len)).cast("long"), lit(0L)),
      count(when(pipeline.failed, 1)),
      tally("u"), tally("x"))
    val stats = tagged.select(counters ++ counted.map(_._2): _*).collect()(0)
    val knownRows = counted.map(_._1).zipWithIndex
      .map { case (ij, k) => ij -> stats.getLong(counters.size + k) }.toMap

    // Processed counters advance whether or not the sink loads succeed
    // (executor_test.go:536-575: Microbatches/EventsProcessed/BytesProcessed
    // grow across the MockLoader_Error and RetryableError legs while the
    // sink counters stay flat) — so they are accounted BEFORE the loads.
    // The reference credits them at the top of the per-event loop, BEFORE
    // the hook-action dispatch (executor.go:196-198), so a batch the hook
    // flags unretryable under houe=fail still advances them.
    metrics.eventsProcessed.addAndGet(stats.getLong(0))
    metrics.bytesProcessed.addAndGet(stats.getLong(1))
    val houe = spec.ops.handlingOfUnretryableEvents
    val (errors, hookUnretryable) = (stats.getLong(3), stats.getLong(4))
    if (hookUnretryable > 0) houe match {
      case Houe.Fail => throw new RuntimeException(s"hook flagged unretryable events in ${spec.id} (houe=fail)")
      case Houe.Dlq => // dead-lettered with the transform errors after the loads
      case _ => supervisor.notifier.notify("WARN", spec.id, "hook: unretryable events discarded")
    }
    if (stats.getLong(5) > 0) shutdownRequested = true

    // Nothing transformed for a table → successful no-op: no load attempt,
    // no sink operation, no error simulation, no file (executor.go:240-243;
    // executor_test.go:518-533 pins SinkOperations/EventsStoredInSink flat
    // across an all-excluded batch). The table's stats count decides it;
    // where that count is unknown, one `count` of the table's frame does.
    // Either count is also the keyed write's file-packing hint.
    pipeline.branches.indices.foreach { i =>
      val branchDf0 = pipeline.rowsOf(tagged, i)
      // F10 post-transform hook stage on the branch output.
      val branchDf = post.map(stage => stage(spec, branchDf0)).getOrElse(branchDf0)
      targets.zipWithIndex.foreach { case (table, j) =>
        val out = table.fold(branchDf)(SinkCompiler.tableStage(_)(branchDf))
        val rows = knownRows.getOrElse((i, j), out.count())
        if (rows > 0) {
          val rid = loadWithRetry(out, table.fold("default")(_.name), rows)
          if (rid.nonEmpty) resourceId = rid
        }
      }
    }

    // unretryable transform errors (regexp non-match, userAgent unescape):
    // houe policy (I4), AFTER the loads — the count came with the stats.
    // Under dlq ONE append carries them and the hook-flagged rows.
    if (errors > 0 && houe == Houe.Fail)
      throw new RuntimeException(s"unretryable events in stream ${spec.id} with houe=fail")
    if (errors + hookUnretryable > 0 && houe == Houe.Dlq) dlqSink.foreach { dlq =>
      val dead = if (hooked) pipeline.failed || col("__act") === "u" else pipeline.failed
      dlq.write(tagged.filter(dead).select("value"), errors + hookUnretryable)
    }

    // H1 BytesIngested (executor.go:236-249): the raw bytes of (post-hook)
    // events whose transform produced ≥1 record, CREDITED only once the
    // whole batch — every sink load AND the houe policy — succeeded (a
    // throwing load above skips this line). An all-excluded batch credits
    // 0 (nothing transformed → no load, executor_test.go:518-533).
    metrics.bytesIngested.addAndGet(stats.getLong(2))
    if (shutdownRequested) supervisor.requestShutdown(spec.id)
    resourceId
  }

  /** Sink load with event-level retry + exponential backoff
    * (executor.go:282-329; defaults entity/spec.go:11-18). Unretryable
    * errors propagate immediately; retryable retry up to
    * maxEventProcessingRetries. Returns the load's resource id.
    *
    * The keyed and void targets observe the frame they write (an
    * `Observation` of its row count and, for a keyed table, its min row
    * key), so the load's one action — the keyed parquet write or the void
    * sink's `noop` write — also reports what it wrote: `EventsStoredInSink`
    * and the resource id come from the written rows themselves
    * (current_timestamp row keys included), with no separate action. A
    * custom loader's rows are one plain `count` of its frame. `rows` (the
    * caller's count, before insert-id dedup) is the keyed write's
    * file-packing hint.
    */
  private def loadWithRetry(out: DataFrame, tableName: String, rows: Long): String = {
    val maxRetries = spec.ops.maxEventProcessingRetries
    // The target, chosen once: an A5 pluggable loader, else the keyed
    // table when the rows carry a key, else the void sink.
    val loader = supervisor.config.customLoaders.get(spec.sink.sinkType)
    val keyed = keyedSinkFor(tableName).filter(_ => loader.isEmpty && out.columns.contains("key"))
    // one Observation per attempt: a failed action completes it, empty
    def observed(write: DataFrame => Unit): Row = {
      val obs = Observation()
      write(out.observe(obs, count(lit(1)).as("rows"), keyed.map(_ => min(col("key")).as("key")).toSeq: _*))
      Stream.observedRow(obs, spec.id)
    }
    def load(attempt: Int, backoffMs: Long): String =
      try {
        val t0 = System.nanoTime()
        val (stored, rid) = (loader, keyed) match {
          case (Some(l), _) => (out.count(), l(spec, out)) // the loader returns the resource id
          case (None, Some(ks)) =>
            val seen = observed(ks.write(_, rows)) // size hint packs small-batch files
            (seen.getLong(0), Option(seen.get(1)).fold("")(_.toString))
          case (None, None) =>
            voidSink.load() // a simulated error throws before the write
            (observed(_.write.format("noop").mode("overwrite").save()).getLong(0), "<noResourceId>")
        }
        metrics.sinkOperations.incrementAndGet()
        // per successful load, like the reference's sinkMetrics.Events
        // (executor.go:295) — NOT at batch end, so a later houe=fail abort
        // still accounts rows that did land in the sink
        metrics.eventsStoredInSink.addAndGet(stored)
        metrics.sinkProcessingTimeMicros.addAndGet((System.nanoTime() - t0) / 1000)
        rid
      } catch {
        case e: VoidSink.SimulatedError if e.retryable && attempt < maxRetries =>
          supervisor.notifier.notify("WARN", spec.id, s"retryable sink error, attempt ${attempt + 1}: ${e.getMessage}")
          Thread.sleep(backoffMs)
          load(attempt + 1, backoffMs * 2)
        case e: VoidSink.SimulatedError if e.retryable =>
          throw new RetryableStreamException(s"retries exhausted after $attempt attempts", e)
      }
    load(0, supervisor.config.retryBackoffBaseMs)
  }
}

object Stream {
  /** How long a load waits for its observed row count after the write
    * returned. The listener bus delivers an `Observation` within
    * milliseconds of its action; the bound turns an event the bus never
    * delivers (its shared queue drops events when it overflows) into an
    * error instead of a batch thread blocked for good.
    */
  val ObservationTimeout: FiniteDuration = 60.seconds

  /** The row `obs` observed, waiting at most `timeout`; on timeout, an
    * error naming stream `streamId`.
    */
  private[graft] def observedRow(obs: Observation, streamId: String,
      timeout: FiniteDuration = ObservationTimeout): Row =
    try Await.result(obs.future, timeout)
    catch {
      case e: TimeoutException => throw new IllegalStateException(
        s"stream $streamId: the sink write completed but its row count did not arrive within $timeout", e)
    }
}

final case class RuntimeConfig(
    env: String = "dev",
    specTablePath: Option[String] = None,
    sinkRoot: Option[String] = None,
    retryBackoffBaseMs: Long = 2000,
    /** I3: initial stream-restart backoff (reference
      * defaultInitialStreamExtractRetryBackoffDuration = 4 s); doubles per
      * restart, capped at ops.maxStreamRetryBackoffIntervalSec.
      */
    streamRetryBackoffBaseMs: Long = 4000,
    /** A4: when set, kafka-source specs start as streaming queries. */
    kafkaBootstrapServers: Option[String] = None,
    /** I1: checkpoint root for streaming queries — offsets + state survive
      * restarts, giving exactly-once into idempotent/keyed sinks.
      */
    checkpointRoot: Option[String] = None,
    /** F9: per-event pre-transform hook (enrich/skip/error/shutdown). */
    preTransformHook: Option[Hooks.PreTransformHook] = None,
    /** F10: per-branch post-transform stage. */
    postTransformStage: Option[Hooks.PostTransformStage] = None,
    /** A5: custom pluggable source builders by source type id; must return
      * a (streaming or batch) frame with a string `value` column.
      */
    customSources: Map[String, (SparkSession, StreamSpec) => DataFrame] = Map.empty,
    /** A5: custom pluggable loaders by sink type id; return the resource id. */
    customLoaders: Map[String, (StreamSpec, DataFrame) => String] = Map.empty)

/** Stream supervisor (I2-I7, supervisor.go): deploys registered streams,
  * hot-swaps executors on spec upgrade, shuts down disabled streams,
  * restarts failed streaming queries with exponential backoff.
  */
final class Supervisor(val spark: SparkSession, val config: RuntimeConfig) {
  val notifier = new Notifier()

  val registry = new Registry(spark, config.specTablePath, config.env)
  private val streams = new ConcurrentHashMap[String, Stream]()
  private val metricsMap = new ConcurrentHashMap[String, Metrics]()

  // I3 self-heal: map each running query to its stream so the terminate
  // listener can tell our queries (and their streams) from anything else
  // on the shared SparkSession.
  private val trackedRuns = new ConcurrentHashMap[java.util.UUID, String]()
  private val restartScheduler =
    java.util.concurrent.Executors.newSingleThreadScheduledExecutor(r => {
      val t = new Thread(r, "graft-stream-restart"); t.setDaemon(true); t
    })
  private val healListener = new org.apache.spark.sql.streaming.StreamingQueryListener {
    import org.apache.spark.sql.streaming.StreamingQueryListener._
    override def onQueryStarted(event: QueryStartedEvent): Unit = ()
    override def onQueryProgress(event: QueryProgressEvent): Unit = ()
    override def onQueryTerminated(event: QueryTerminatedEvent): Unit = {
      val sid = trackedRuns.remove(event.runId)
      if (sid != null && event.exception.isDefined) handleQueryFailure(sid)
      // the control channel gets the same self-heal as the streams it
      // upgrades: a transient FS error must not silently end push-mode
      // sync while the operator believes it is active
      if (event.exception.isDefined) adminWatch.foreach { q =>
        if (q.runId == event.runId) {
          adminWatch = None
          val trig = adminWatchTriggerMs
          notifier.notify("WARN", "geist-adminevents",
            s"admin watch failed (${event.exception.get.take(120)}); restarting in ${config.streamRetryBackoffBaseMs} ms")
          restartScheduler.schedule(new Runnable {
            override def run(): Unit =
              try { watchRegistry(trig); () }
              catch { case e: Exception =>
                notifier.notify("ERROR", "geist-adminevents",
                  s"admin watch restart failed: ${e.getMessage}") }
          }, config.streamRetryBackoffBaseMs, java.util.concurrent.TimeUnit.MILLISECONDS)
        }
      }
    }
  }
  spark.streams.addListener(healListener)

  /** Serializes deploy / hot-swap / shutdown / self-heal-restart against
    * each other: without it a restart timer firing during a hot-swap could
    * start a zombie query on the orphaned old Stream, sharing the new
    * query's checkpoint dir and sink paths.
    */
  private val deployLock = new Object

  private def handleQueryFailure(sid: String): Unit = {
    Option(streams.get(sid)).foreach { st =>
      if (st.lastFailureRetryable) {
        val delay = st.nextBackoffMs(config.streamRetryBackoffBaseMs)
        notifier.notify("WARN", sid,
          s"stream restart (#${st.restartCount}) in ${delay} ms")
        restartScheduler.schedule(new Runnable {
          override def run(): Unit =
            try restartQuery(sid, st)
            catch { case e: Exception =>
              notifier.notify("ERROR", sid, s"stream restart failed: ${e.getMessage}") }
        }, delay, java.util.concurrent.TimeUnit.MILLISECONDS)
      } else
        notifier.notify("ERROR", sid,
          "stream terminated with unretryable error; manual restart required")
    }
  }

  /** I3: restart the failed query on the SAME Stream (pipeline, sinks and
    * their counters survive — the reference's StreamExtract restart loop
    * keeps the executor/loader instances too); skip if the stream was
    * hot-swapped or shut down while the backoff timer ran.
    */
  private def restartQuery(sid: String, st: Stream): Unit = deployLock.synchronized {
    if (streams.get(sid) eq st) {
      st.lastFailureRetryable = false
      startStreamingQuery(st)
    }
  }

  def metrics(streamId: String): Metrics =
    metricsMap.computeIfAbsent(streamId, _ => new Metrics)

  def stream(id: String): Option[Stream] = Option(streams.get(id))
  def deployedIds: Set[String] = streams.keySet().asScala.toSet

  /** Register (or upgrade) a stream spec and (re)deploy it — the
    * RegisterStream + handleStreamRegistryModified flow
    * (geist.go:83-108, supervisor.go:220-250): parse → version gate →
    * [[prepare]] → persist → [[replace]]. A spec that parses but cannot
    * compile (e.g. unsupported gjson path syntax) or whose sink or source
    * config is invalid is rejected without persisting it or killing the
    * healthy deployment.
    */
  def registerStream(specJson: String): Either[SpecValidationException, String] =
    StreamSpec.parse(specJson).flatMap(registry.register(_, specJson)(prepare)).flatMap { st =>
      val id = st.spec.id
      if (registry.isDisabled(st.spec)) {
        deployLock.synchronized { Option(streams.get(id)).foreach(shutdownStream) }
        notifier.notify("INFO", id, "stream registered disabled; not deployed")
        Right(id)
      } else
        try { replace(st); Right(id) }
        catch { case e: Exception =>
          // environmental deploy failure: surface via the contract (the
          // spec is persisted; a later sync deploys it once fixed)
          notifier.notify("ERROR", id, s"deploy failed: ${e.getMessage}")
          Left(SpecValidationException(s"spec $id failed to deploy: ${e.getMessage}"))
        }
    }

  /** Everything that can reject a spec before anything is persisted or a
    * running version stops: resolve the env's ops (registry.go:88-106
    * adjustOpsConfig — opsPerEnv overrides replace the base ops
    * wholesale), compile once, and build the unstarted [[Stream]], which
    * resolves the sink and source config.
    */
  private[runtime] def prepare(spec: StreamSpec): Either[SpecValidationException, Stream] = {
    val resolved = spec.copy(ops = spec.opsFor(config.env))
    def check[A](what: String)(f: => A): Either[SpecValidationException, A] =
      try Right(f)
      catch { case e: Exception => Left(SpecValidationException(s"spec ${spec.id} $what: ${e.getMessage}")) }
    check("failed to compile")(SpecCompiler.compile(resolved)).flatMap(pipeline =>
      check("sink or source config invalid")(new Stream(resolved, pipeline, metrics(spec.id), this)))
  }

  /** Hot-swap (I7): stop whatever runs under the prepared Stream's id and
    * start it. A Stream whose start throws is removed again, so it never
    * reports as deployed and a later sync retries it.
    */
  private def replace(st: Stream): Unit = deployLock.synchronized {
    Option(streams.get(st.spec.id)).foreach(shutdownStream)
    streams.put(st.spec.id, st)
    try startStreamingQuery(st)
    catch { case e: Exception => shutdownStream(st); throw e }
  }

  /** Bootstrap persisted specs and deploy the enabled ones — the restart
    * entry point (registry.go Fetch + deployAllStreams). On a fresh
    * supervisor this is exactly a [[sync]]; on a live one, reconciling is
    * what a re-bootstrap should do.
    */
  def bootstrap(): Unit = sync()

  /** J2 cross-pod registry sync (supervisor.go:281-317
    * handleStreamRegistryModified): another driver persisted spec changes;
    * re-fetch the shared registry table and reconcile the local
    * deployment — shut down streams now disabled for this env, deploy
    * specs with nothing running under their id, hot-swap streams whose
    * persisted version is newer. One spec's failure does not stop the
    * others. The reference fans the trigger out via an admin event
    * stream; with the registry as a shared table, any control signal
    * (timer, admin topic, HTTP) simply invokes sync().
    */
  def sync(): Unit = {
    registry.fetch()
    registry.all.foreach { spec =>
      try deployLock.synchronized {
        val running = Option(streams.get(spec.id))
        if (registry.isDisabled(spec)) running.foreach { st =>
          notifier.notify("INFO", spec.id, "sync: disabled in registry; shutting down")
          shutdownStream(st)
        } else if (running.forall(spec.version > _.spec.version)) {
          // as in registerStream, the running version stops only once the
          // new one is prepared — a spec that deploys on the driver that
          // persisted it can still fail environmentally here
          val st = prepare(spec).fold(e => throw e, identity)
          if (running.isDefined)
            notifier.notify("INFO", spec.id, s"sync: hot-swapping to version ${spec.version}")
          replace(st)
        }
      }
      catch { case e: Exception =>
        notifier.notify("ERROR", spec.id, s"sync failed for ${spec.id}: ${e.getMessage}") }
    }
  }

  /** J2 push channel — the reference's cross-pod admin event stream
    * (internal/pkg/admin/adminspec.go:19-63 "geist-adminevents",
    * supervisor.go:281-317 handleStreamRegistryModified) re-expressed
    * Spark-first: every registry change IS an append to the shared spec
    * table, so the admin event stream is a Structured Streaming file
    * source over that table — each spec file another driver persists
    * arrives as a micro-batch here and triggers [[sync]]. No extra
    * broker: the registry's own storage is the control topic, and any
    * shared filesystem (HDFS/S3A) delivers it to every driver.
    *
    * Loopback appends from THIS driver also fire; sync() is idempotent
    * (version-gated per spec), so a self-triggered pass is a no-op.
    * The returned query is owned by the supervisor — shutdownAll stops
    * it; stop it directly to fall back to poll-mode sync(). A failed
    * watch self-heals with the same backoff as the streams it upgrades
    * (the terminate listener restarts it; a clean stop does not).
    */
  @volatile private var adminWatch: Option[StreamingQuery] = None
  @volatile private var adminWatchTriggerMs: Long = 2000
  def watchRegistry(triggerMs: Long = 2000): StreamingQuery = deployLock.synchronized {
    adminWatchTriggerMs = triggerMs
    adminWatch.filter(_.isActive).getOrElse {
      val path = config.specTablePath.getOrElse(
        throw new IllegalStateException("watchRegistry requires specTablePath"))
      // the table may not exist before the first register; the file source
      // requires the directory, so create it through the Hadoop FS API
      // (works on any scheme, not just local disk)
      val p = new org.apache.hadoop.fs.Path(path)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (!fs.exists(p)) fs.mkdirs(p)
      val src = spark.readStream
        .schema(org.apache.spark.sql.types.StructType.fromDDL(
          "id STRING, version INT, specJson STRING"))
        .parquet(path)
      var writer = src.writeStream
        .outputMode("append").queryName("geist-adminevents")
        .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime(triggerMs))
        .foreachBatch { (batch: DataFrame, _: Long) =>
          // the batch content is only a wake-up signal: sync() re-reads the
          // authoritative registry state (max version per id), so ordering
          // or batching of the change files cannot produce a stale deploy
          if (!batch.isEmpty) sync()
        }
      config.checkpointRoot.foreach(r =>
        writer = writer.option("checkpointLocation", s"$r/geist-adminevents"))
      val q = writer.start()
      adminWatch = Some(q)
      q
    }
  }

  /** Start (or I3-restart) the stream's query. Separate from [[replace]] so
    * a self-heal restart reuses the SAME Stream — compiled pipeline, sink
    * instances and their error counters survive, matching the reference's
    * StreamExtract restart loop which keeps the executor and loader.
    */
  private def startStreamingQuery(st: Stream): Unit = {
    val spec = st.spec
    // shared streaming start: houe-aware error guard + checkpointing for
    // every source kind
    def startQuery(src: DataFrame, trigger: Option[org.apache.spark.sql.streaming.Trigger]): Unit = {
      var writer = src.select(col("value")).writeStream
        .outputMode("append").queryName(spec.id)
        .foreachBatch { (batch: DataFrame, _: Long) =>
          try { st.processBatch(batch); () }
          catch {
            case e: RetryableStreamException =>
              // event-level retries exhausted: fail the query so the
              // supervisor's listener restarts it with backoff (I3)
              st.lastFailureRetryable = true
              notifier.notify("ERROR", spec.id, s"batch failed (retryable): ${e.getMessage}")
              throw e
            case e: Exception =>
              notifier.notify("ERROR", spec.id, s"batch failed: ${e.getMessage}")
              if (spec.ops.handlingOfUnretryableEvents == Houe.Fail) {
                st.lastFailureRetryable = false // stays down; manual restart
                throw e
              }
          }
        }
      config.checkpointRoot.foreach(r => writer = writer.option("checkpointLocation", s"$r/${spec.id}"))
      trigger.foreach(t => writer = writer.trigger(t))
      val q = writer.start()
      st.query = Some(q)
      trackedRuns.put(q.runId, spec.id)
      // a query can fail during initialization and terminate BEFORE the
      // runId registration above — the listener then found no mapping.
      // Settle such races here; remove-then-handle keeps the two paths
      // idempotent (whichever runs second sees no mapping and no-ops).
      if (!q.isActive) {
        val sid = trackedRuns.remove(q.runId)
        if (sid != null && q.exception.isDefined) handleQueryFailure(sid)
      }
    }
    config.customSources.get(spec.source.sourceType) match {
      case Some(builder) => // A5: pluggable source
        val src = builder(spark, spec)
        if (src.isStreaming) startQuery(src, None)
        else st.processBatch(src.select(col("value")))
        notifier.notify("INFO", spec.id, s"custom source '${spec.source.sourceType}' started")
        return
      case None =>
    }
    // the source config was resolved when the Stream was built
    (st.sim, st.kafka, config.kafkaBootstrapServers) match {
      case (Some(sim), _, _) =>
        val src = EventSim.stream(spark, sim, seed = 42L)
        // the sim resolution IS the trigger cadence (eventsim.go StreamExtract loop)
        startQuery(src, Some(org.apache.spark.sql.streaming.Trigger
          .ProcessingTime(sim.simResolutionMilliseconds)))
        notifier.notify("INFO", spec.id, "eventsim stream started")
      case (_, Some(kafka), Some(servers)) =>
        val src = KafkaSource.stream(spark, spec.ops, kafka, servers)
        // I5 micro-batch shaping: timeout threshold → trigger interval
        val trigger = if (spec.ops.microBatch)
          Some(org.apache.spark.sql.streaming.Trigger.ProcessingTime(spec.ops.microBatchTimeoutMs))
        else None
        startQuery(src, trigger)
        notifier.notify("INFO", spec.id, "kafka stream started")
      case _ if spec.source.sourceType == "geistapi" =>
        // interactive push source: events arrive via publish()
        notifier.notify("INFO", spec.id, "geistapi stream ready for publish")
      case _ =>
        // kafka-without-brokers/pubsub etc. need external infrastructure;
        // registered but not auto-started in this environment.
        notifier.notify("INFO", spec.id,
          s"source type '${spec.source.sourceType}' registered; start requires external source")
    }
  }

  /** Interactive publish (A1, geist.go:123-145): synchronous — returns the
    * sink resource id once the event is fully processed and loaded.
    */
  def publish(streamId: String, eventJson: String): String = {
    val st = Option(streams.get(streamId))
      .getOrElse(throw new IllegalArgumentException(s"stream not found: $streamId"))
    require(st.spec.source.sourceType == "geistapi",
      s"publish only supported for geistapi sources (stream $streamId is ${st.spec.source.sourceType})")
    import spark.implicits._
    val df = Seq(eventJson).toDF("value")
    // BytesIngested is accounted inside processBatch (H1 parity: every
    // path credits post-transform, post-sink — executor.go:236-249), not
    // pre-credited here.
    st.processBatch(df)
  }

  private def shutdownStream(st: Stream): Unit = {
    st.query.foreach { q =>
      trackedRuns.remove(q.runId)
      try q.stop() catch { case _: Exception => }
    }
    streams.remove(st.spec.id)
  }

  /** Hook-initiated shutdown (executor.go:253-280 HookActionShutdown).
    * For streaming queries the request arrives on the query's own
    * foreachBatch thread — StreamingQuery.stop() joins that thread, so a
    * synchronous stop would self-deadlock; stop from a separate thread.
    */
  private[runtime] def requestShutdown(streamId: String): Unit = {
    Option(streams.get(streamId)).foreach { st =>
      notifier.notify("INFO", streamId, "shutdown requested by hook")
      if (st.query.isDefined) {
        val t = new Thread(() => deployLock.synchronized { shutdownStream(st) },
          s"graft-shutdown-$streamId")
        t.setDaemon(true)
        t.start()
      } else deployLock.synchronized { shutdownStream(st) }
    }
  }

  def shutdownAll(): Unit = {
    restartScheduler.shutdownNow()
    adminWatch.foreach(q => try q.stop() catch { case _: Exception => })
    adminWatch = None
    deployLock.synchronized {
      streams.values.asScala.toSeq.foreach(shutdownStream)
    }
    spark.streams.removeListener(healListener)
  }
}

/** Public facade with the reference's API surface (geist.go). */
final class Geist(spark: SparkSession, config: RuntimeConfig = RuntimeConfig()) {
  private val supervisor = new Supervisor(spark, config)

  def registerStream(specJson: String): Either[SpecValidationException, String] =
    supervisor.registerStream(specJson)
  /** Restart entry point: load persisted specs and deploy enabled streams. */
  def bootstrap(): Unit = supervisor.bootstrap()
  /** J2: reconcile this driver against registry changes persisted by
    * another driver (hot-swap upgrades, shut down disabled, deploy new).
    */
  def sync(): Unit = supervisor.sync()
  /** J2 push mode: subscribe to the shared registry as a stream — registry
    * appends from any driver trigger sync() here without polling.
    */
  def watchRegistry(triggerMs: Long = 2000): StreamingQuery =
    supervisor.watchRegistry(triggerMs)
  def publish(streamId: String, eventJson: String): String =
    supervisor.publish(streamId, eventJson)
  def getStreamSpec(id: String): Option[StreamSpec] = supervisor.registry.get(id)
  def getStreamSpecs: Seq[StreamSpec] = supervisor.registry.all
  /** The checks [[registerStream]] runs before it persists a spec —
    * parse, compile, sink and source config ([[Supervisor.prepare]]) —
    * with no version gate, and nothing persisted, stopped or deployed.
    */
  def validateStreamSpec(json: String): Either[SpecValidationException, StreamSpec] =
    StreamSpec.parse(json).flatMap(spec => supervisor.prepare(spec).map(_ => spec))
  def metrics(streamId: String): Map[String, Long] = supervisor.metrics(streamId).snapshot
  def notifications(): Seq[NotificationEvent] = supervisor.notifier.drain()
  /** Notifications dropped so far because the buffer was full. */
  def droppedNotifications: Long = supervisor.notifier.dropped.get
  def deployedIds: Set[String] = supervisor.deployedIds
  def readback(streamId: String): Option[KeyedTableSink] =
    supervisor.stream(streamId).flatMap(_.keyedSink)
  /** EnrichEvent helper (F11, geist.go:209-214): set a field in raw JSON. */
  def enrichEvent(eventJson: String, path: String, value: String): String =
    Geist.setJsonField(eventJson, path, value)
  def shutdown(): Unit = supervisor.shutdownAll()
}

object Geist {
  // thread-safe once configured, and hooks call setJsonField per event
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  /** sjson-SetBytes-style field injection on a JSON document (F11). */
  def setJsonField(json: String, path: String, value: String): String = {
    val root = try mapper.readTree(json) catch { case _: Exception => mapper.createObjectNode() }
    val obj = root match {
      case o: com.fasterxml.jackson.databind.node.ObjectNode => o
      // non-object roots (arrays, scalars) cannot take a field: pass the
      // event through unchanged rather than silently replacing it
      case _ => return json
    }
    val segs = path.split("\\.")
    var cur = obj
    segs.init.foreach { s =>
      cur = Option(cur.get(s)) match {
        case Some(o: com.fasterxml.jackson.databind.node.ObjectNode) => o
        case _ =>
          val n = mapper.createObjectNode(); cur.set(s, n); n
      }
    }
    cur.put(segs.last, value)
    mapper.writeValueAsString(obj)
  }
}
