package perfbench

import java.io.File

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkEntry

/** `query_board`: a fixed subset of `SparkEntry.queries` over the tables in
  * `data/board`, each materialized with the noop action. Catalyst analysis,
  * optimization and planning, the scheduler floor and the `ops` kernels do
  * the work; no runtime or streaming code runs.
  */
object QueryBoard {
  /** A query joins the board when the CRC-32 of its name is a multiple of
    * [[Every]]. The rule looks only at names, so adding or removing another
    * query never reshuffles the subset; at 19 it keeps 12 of the 276
    * queries and every `Entries*` family.
    */
  val Every = 19

  def subset(names: Iterable[String]): Seq[String] =
    names.filter(n => Events.crc(n) % Every == 0).toSeq.sorted

  final case class Expected(family: String, rows: Long, hash: Long)

  def loadExpected(data: File): Map[String, Expected] = {
    val root = new ObjectMapper().readTree(new File(data, "board_expected.json"))
    root.fields.asScala.map { e =>
      val v = e.getValue
      e.getKey -> Expected(v.get("family").asText, v.get("rows").asLong, v.get("hash").asLong)
    }.toMap
  }

  /** Row count and an order-independent hash of a result, as aggregate
    * columns. Columns are taken in name order; doubles are rounded to 6
    * places and nested values hashed through their JSON text.
    */
  private def fingerprintCols(df: DataFrame): (DataFrame, Seq[Column]) = {
    val named = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val cols: Seq[Column] = df.schema.fields.zipWithIndex.sortBy(_._1.name).map { case (f, i) =>
      val c = col(s"c$i")
      f.dataType match {
        case DoubleType | FloatType => round(c, 6)
        case _: ArrayType | _: StructType | _: MapType => to_json(c)
        case _ => c
      }
    }.toSeq
    val h = if (cols.isEmpty) lit(0L) else xxhash64(cols: _*)
    named -> Seq(count(lit(1)).as("rows"), coalesce(sum(pmod(h, lit(2147483647L))), lit(0L)).as("hash"))
  }

  /** Materializes `df` with the noop action and returns its fingerprint,
    * observed in the same execution.
    */
  def runNoop(df: DataFrame): (Long, Long) = {
    val (named, agg) = fingerprintCols(df)
    val obs = Observation("fingerprint")
    named.observe(obs, agg.head, agg.tail: _*).write.format("noop").mode("overwrite").save()
    val m = obs.get
    (m("rows").asInstanceOf[Long], m("hash").asInstanceOf[Long])
  }

  private def tables(data: File) = new File(data, "board").getAbsolutePath

  /** Writes the fingerprint of every subset query (the recorded outputs). */
  def record(spark: SparkSession, data: File, out: File, family: String => String): Unit = {
    val lines = subset(SparkEntry.queries.keys).map { n =>
      val (rows, hash) = runNoop(SparkEntry.queries(n)(spark, tables(data)))
      s"""  "$n": {"family": "${family(n)}", "rows": $rows, "hash": $hash}"""
    }
    java.nio.file.Files.write(out.toPath, lines.mkString("{\n", ",\n", "\n}\n").getBytes("UTF-8"))
  }

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val r = ctx.report
    val dir = tables(ctx.dataDir)
    val expected = loadExpected(ctx.dataDir)
    val names = subset(SparkEntry.queries.keys)
    names.filterNot(expected.contains).foreach(n => r.check(ok = false, s"$n has no recorded output"))
    val order = new scala.util.Random(ctx.seed).shuffle(names)

    def build(n: String): DataFrame = SparkEntry.queries(n)(spark, dir)

    // set-up round: construct and plan every query without running it
    def setupRound(): Double = {
      val t0 = System.nanoTime()
      order.foreach(n => build(n).asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
        .queryExecution.executedPlan)
      (System.nanoTime() - t0) / 1e9
    }

    final class Pass {
      val ms = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
      var buildMs = 0.0
      /** Analysis runs while a query is constructed, before any listener
        * sees an execution, so it is read from each built query's tracker.
        */
      var analysisMs = 0L
      var executions = 0
    }
    /** Runs every query once; each execution is an op, checked against
      * its recorded output.
      */
    def pass(into: Pass): Double = {
      val t0 = System.nanoTime()
      order.foreach { n =>
        val q0 = System.nanoTime()
        val got = try {
          Groups.within(spark, Groups.Query) {
            val df = build(n)
            into.buildMs += (System.nanoTime() - q0) / 1e6
            into.analysisMs += df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
              .queryExecution.tracker.phases.get("analysis").map(_.durationMs).getOrElse(0L)
            Some(runNoop(df))
          }
        } catch { case e: Exception => r.op(ok = false, s"$n failed: $e"); None }
        got.foreach { fp =>
          into.ms.getOrElseUpdate(n, mutable.ArrayBuffer.empty) += (System.nanoTime() - q0) / 1e6
          val e = expected.get(n)
          r.op(e.exists(x => (x.rows, x.hash) == fp), s"$n output $fp, recorded $e")
        }
        into.executions += 1
      }
      (System.nanoTime() - t0) / 1e9
    }
    /** Whole passes until `seconds` have passed; at least one. */
    def window(seconds: Double): (Pass, Double) = {
      val p = new Pass
      var wall = 0.0
      do wall += pass(p) while (wall < seconds)
      (p, wall)
    }
    def perQuery(p: Pass): Map[String, Double] = p.ms.map { case (n, xs) => n -> Stats.median(xs.toSeq) }.toMap

    val rounds = (1 to ctx.setupRounds).map(_ => setupRound())
    pass(new Pass) // warm-up, untimed: JIT, codegen, first touch of every table
    if (!ctx.trace) {
      val (p, wall) = window(ctx.seconds)
      val times = perQuery(p)
      r.put("throughput_per_s", p.executions / wall, "1/s", p.executions)
      r.put("op_ms", Stats.geomean(times.values.toSeq), "ms", times.size)
      r.put("setup_s", ctx.sessionStartS + Stats.median(rounds), "s", rounds.size)
    } else {
      val (plain, plainWall) = window(ctx.seconds / 2)
      val times = perQuery(plain)
      r.put("client.query_ms_geomean", Stats.geomean(times.values.toSeq), "ms", times.size)
      Seq("parity", "analytics", "dedup", "graph", "curation", "profile").foreach { f =>
        val sel = times.filter { case (n, _) => expected.get(n).exists(_.family == f) }
        r.put(s"ops.${f}_s", sel.values.sum / 1000, "s", sel.size)
      }
      val trace = new Trace(spark)
      val jvm = new JvmWindow
      val (p, wall) = try window(ctx.seconds / 2) finally trace.close()
      jvm.report(r)
      val queryWallMs = p.ms.values.map(_.sum).sum
      val (an, opt, pl) = trace.catalyst
      r.put("trace.overhead_pct", ((plain.executions / plainWall) / (p.executions / wall) - 1) * 100,
        "%", p.executions)
      r.put("query.plan_share", Stats.ratio(p.buildMs + opt + pl, queryWallMs), "ratio", p.executions)
      r.put("query.exec_share", Stats.ratio(trace.group(Groups.Query).jobWallMs, queryWallMs),
        "ratio", p.executions)
      trace.report(r, p.executions, wall, Main.Slots)
      r.put("catalyst.analysis_ms_per_op", (an + p.analysisMs).toDouble / p.executions, "ms", p.executions)
    }
  }
}
