package graft

object Bench {
  // Locale.ROOT: the f-interpolator uses the JVM default locale, which on
  // comma-decimal locales (de_DE, fr_FR) would render 1.5 as "1,5" and
  // corrupt the one JSON line the bench contract guarantees stays parseable
  private def jnum(v: Double): String =
    String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = Sessions.builder(s"local[$cpus]", cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Warm-up pass: run every query once UNTIMED so the timed passes measure
    // plan cost, not JIT/codegen/scheduler first-touch (which lands unevenly
    // on whichever queries a cold JVM runs first and produced 19× artifacts
    // between near-identical plans in round 1).
    // deterministic name order: per-query attribution is comparable
    // across rounds regardless of Map iteration order
    // SPARK_GRAFT_ONLY=q1,q2 restricts the run for local iteration; the
    // driver never sets it, so per-round bench numbers stay full-surface
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(',').toSet)
    val ordered = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
    // Materialize via the noop sink, NOT count(): count() re-plans with
    // every output column pruned, and Catalyst then legitimately DELETES
    // work — outer joins onto unique-key aggregates, enrichment joins,
    // whole aggregate towers (an audit found 22 queries losing structure;
    // ns_triangles benched 2 of its 26 joins). The noop write executes
    // the query exactly as a consumer reading its rows would.
    // SPARK_GRAFT_ACTION=count restores the rounds-1..7 action for
    // series-bridging runs ONLY (one dual-action anchor per series
    // change, recorded in README "Benchmarking notes"); the driver never
    // sets it, so official rounds stay on the honest noop action.
    val action = sys.env.getOrElse("SPARK_GRAFT_ACTION", "noop")
    def run(df: org.apache.spark.sql.DataFrame): Unit =
      if (action == "count") { df.count(); () }
      else df.write.format("noop").mode("overwrite").save()
    ordered.foreach { case (_, fn) =>
      try { run(fn(spark, sfDir)) } catch { case _: Throwable => }
    }
    // min-of-2 timed passes: a transient host-contention spike (round 3's
    // driver recorded 22 s for a query that re-measures at 1.1 s) can only
    // distort a query if it hits the SAME query in BOTH passes. A query
    // that THROWS is recorded by name — a fast failure would otherwise
    // masquerade as a fast query (a ~0.00 s entry) and silently deflate
    // the total.
    val failed = scala.collection.mutable.LinkedHashSet.empty[String]
    def timedPass(): Seq[(String, Double)] = ordered.map { case (name, fn) =>
      val t0 = System.nanoTime()
      try { run(fn(spark, sfDir)) }
      catch { case _: Throwable => failed += name }
      name -> (System.nanoTime() - t0) / 1e9
    }
    val p1 = timedPass().toMap
    val p2 = timedPass().toMap
    val results = ordered.map { case (name, _) => name -> math.min(p1(name), p2(name)) }
    val total = results.map(_._2).sum
    val failedJson =
      if (failed.isEmpty) ""
      else s""","failed":${failed.map("\"" + _ + "\"").mkString("[", ",", "]")}"""
    val sfName = sfDir.split('/').last
    // The driver may capture only a bounded head or tail of stdout (round 3
    // kept a ~1.9 KB tail and lost the line head). Emit a SHORT totals line
    // with the slowest queries both FIRST and LAST so either capture window
    // retains one complete parseable JSON line; the full per-query line sits
    // between them.
    val slowest = results.sortBy(-_._2).take(8)
    // streaming runtime-path numbers (events/sec through a deployed stream
    // with hooks + keyed sink, publish round-trip, hot-swap latency) ride
    // the same JSON line; a streaming failure must not zero the query
    // bench, so it degrades to an error marker. SPARK_GRAFT_NO_STREAMBENCH
    // skips it for query-only iteration.
    val streaming =
      if (sys.env.contains("SPARK_GRAFT_NO_STREAMBENCH") || only.isDefined) ""
      else try s""","streaming":${StreamBench.jsonFragment(StreamBench.run(spark))}"""
      catch { case e: Throwable =>
        s""","streaming":{"error":"${e.getClass.getSimpleName}"}"""
      }
    val actionJson = if (action == "noop") "" else s""","action":"$action""""
    val compact = s"""{"metric":"total","value":${jnum(total)},"unit":"sec","queries":${
      slowest.map { case (k, v) => "\"" + k + "\":" + jnum(v) }.mkString("{", ",", "}")
    },"sf":"$sfName","n_queries":${results.size}$failedJson$streaming$actionJson}"""
    val full = s"""{"metric":"total","value":${jnum(total)},"unit":"sec","queries":${
      results.map { case (k, v) => "\"" + k + "\":" + jnum(v) }.mkString("{", ",", "}")
    },"sf":"$sfName"$failedJson$streaming$actionJson}"""
    println(compact)
    println(full)
    println(compact)
    spark.stop()
  }
}
