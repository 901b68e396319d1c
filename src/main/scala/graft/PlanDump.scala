package graft
import org.apache.spark.sql.execution.ExplainMode
import java.nio.file.{Files, Paths}

/** Optimization-round tooling: dump `.explain("formatted")` for named
  * queries (or the full bench set) to `<outDir>/<name>.txt`, under the
  * [[Core.session]] Bench uses, so plan claims in
  * OPTIMIZATION notes are reproducible artifacts.
  *
  * Usage: runMain graft.PlanDump <sfDir> <outDir> [name,name,...]
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    val names = args.lift(2).map(_.split(",").map(_.trim).toSet)
    val picked = SparkEntry.pick(names, SparkEntry.benchQueries)
    val spark = Core.session(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)
    Files.createDirectories(Paths.get(outDir))
    picked.foreach { q =>
      // Streaming queries execute inside their builder and return a
      // batch read-back of the sink; the explain below is that batch
      // tail, which is still the plan the bench times after replay.
      try {
        val df = q.spark(spark, sfDir)
        val txt = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
        Files.writeString(Paths.get(s"$outDir/${q.name}.txt"), txt)
        System.err.println(s"[plandump] ${q.name} ok")
      } catch {
        case e: Throwable =>
          System.err.println(s"[plandump] ${q.name} failed: ${e.getMessage}")
      }
      Core.releaseCaches()
    }
    spark.stop()
  }
}
