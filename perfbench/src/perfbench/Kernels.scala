package perfbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import graft.compile.SpecCompiler
import graft.functions.{GoTimeLayout, Re2, UserAgentParser}
import graft.json.Js
import graft.path.GJsonPath
import graft.runtime.{Geist, RuntimeConfig}
import graft.spec.{RegexpSpec, StreamSpec}

/** Kernel microbenchmarks and the single-task baseline, run in every traced
  * run. They call the program's public objects directly on seeded events
  * from the `etl_backlog` generator, on the driver thread, so nothing is
  * traced inside the program.
  */
object Kernels {
  /** Consumed kernel results, so the JIT cannot drop the calls. */
  @volatile private var sink = 0L
  val EventCount = 20000
  /** Paths the ETL spec evaluates per event: the exclude key and seven fields. */
  val Paths = Seq("kind", "eventId", "shard", "user", "ts", "props.amount", "ua", "textPayload")

  /** ns per item of `body` over `items` items: one untimed pass, then
    * whole passes until at least `minS` seconds have run.
    */
  private def nsPer(items: Long, minS: Double = 0.3)(body: => Unit): Double = {
    body
    var passes = 0
    val t0 = System.nanoTime()
    while (passes == 0 || (System.nanoTime() - t0) < minS * 1e9) { body; passes += 1 }
    (System.nanoTime() - t0).toDouble / (passes * items)
  }

  /** Median ms of `reps` calls after one untimed call. */
  private def msMedian(reps: Int)(body: => Unit): Double = {
    body
    Stats.median((1 to reps).map { _ =>
      val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e6
    })
  }

  def run(ctx: Ctx): Unit = {
    val r = ctx.report
    val spark = ctx.spark
    val batch = Events.batch(ctx.seed, 999, 0, EventCount)
    val lines = batch.lines

    val json = nsPer(lines.length)(lines.foreach(l => sink += Js.parse(l).size))
    r.put("json.parse_ns_per_event", json, "ns", lines.length)

    val roots = lines.flatMap(Js.parse)
    val paths = Paths.map(GJsonPath.parse)
    val path = nsPer(roots.length.toLong * paths.size)(
      roots.foreach(root => paths.foreach(p => sink += GJsonPath.eval(root, p).size)))
    r.put("path.eval_ns_per_field", path, "ns", roots.length.toLong * paths.size)

    def field(name: String) = roots.map(root => GJsonPath.stringOf(GJsonPath.eval(root, GJsonPath.parse(name)).get))
    val uas = field("ua")
    val ua = nsPer(uas.length)(uas.foreach(u => sink += UserAgentParser.parse(u).size))
    r.put("functions.useragent_ns_per_event", ua, "ns", uas.length)

    val texts = field("textPayload")
    val pattern = java.util.regex.Pattern.compile(Re2.toJavaRegex(Events.logRegexp))
    val groups = RegexpSpec.collectGroups(Events.logRegexp)
    val tsGroup = groups.indexOf("ts") + 1
    val inF = GoTimeLayout.toFormatter(Events.logTimeLayout)
    val outF = GoTimeLayout.Rfc3339
    val regexp = nsPer(texts.length)(texts.foreach { t =>
      val m = pattern.matcher(t)
      if (m.find()) {
        var i = 1
        while (i <= m.groupCount()) { sink += Option(m.group(i)).map(_.length).getOrElse(0); i += 1 }
        sink += GoTimeLayout.timeConv(inF, outF, m.group(tsGroup)).size
      }
    })
    r.put("functions.regexp_ns_per_event", regexp, "ns", texts.length)

    val specJson = Events.etlSpec("kernels", "backlog")
    r.put("spec.parse_ms", msMedian(30)(sink += StreamSpec.parse(specJson).toOption.size), "ms", 30)
    val spec = StreamSpec.parseUnsafe(specJson)
    r.put("compile.compile_ms", msMedian(30)(sink += SpecCompiler.compile(spec).branches.size), "ms", 30)

    val geist = new Geist(spark, RuntimeConfig(sinkRoot = Some(ctx.dir("kernels-sink").getAbsolutePath)))
    var k = 0
    val register = try msMedian(5) {
      k += 1
      geist.registerStream(Events.publishSpec(s"kernels-$k"))
        .fold(e => sys.error(e.msg), _ => ())
    } finally geist.shutdown()
    r.put("runtime.register_ms", register, "ms", 5)

    // single-task baseline: the compiled pipeline over one backlog file in
    // one task, written to the noop sink
    val file = new File(ctx.dir("kernels"), "backlog.json")
    Files.write(file.toPath, lines.mkString("\n").getBytes(UTF_8))
    val pipeline = SpecCompiler.compile(spec)
    val taskMs = msMedian(3) {
      val df = spark.read.text(file.getAbsolutePath).coalesce(1)
      pipeline(df).foreach { case (_, out) => out.write.format("noop").mode("overwrite").save() }
    }
    val eps = lines.length / (taskMs / 1000)
    r.put("functions.single_task_events_per_s", eps, "1/s", 3)
    val kernelNs = json + path * paths.size + ua + regexp
    r.put("compile.pipeline_overhead_ratio", (1e9 / eps) / kernelNs, "ratio", 3)
  }
}
