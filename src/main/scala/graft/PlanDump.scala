package graft
import org.apache.spark.sql.execution.ExplainMode
import java.nio.file.{Files, Paths}

/** Optimization-round tooling: dump `.explain("formatted")` for declared
  * queries to files (plans/r11/<name>_<tag>.txt) so plan-shape claims in
  * OPTIMIZATION_r11.md are checkable without running Spark.
  *
  * Usage: runMain graft.PlanDump <sfDir> <outDir> <tag> [nameRegex]
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir, tag) = args.take(3)
    val nameFilter = args.lift(3).map(_.r)
    def selected(name: String): Boolean =
      nameFilter.forall(_.findFirstIn(name).isDefined)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = Sessions.builder(s"local[$cpus]", cpus).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      if (selected(name)) {
        try {
          val plan = fn(spark, sfDir).queryExecution
            .explainString(ExplainMode.fromString("formatted"))
          Files.writeString(Paths.get(s"$outDir/${name}_$tag.txt"), plan)
        } catch { case e: Throwable =>
          System.err.println(s"[plandump] $name failed: ${e.getMessage}")
        }
      }
    }
    spark.stop()
  }
}
