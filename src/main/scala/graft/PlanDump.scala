package graft
import java.nio.file.{Files, Paths}

/** Optimization-round instrumentation: dump `.explain("formatted")` for
  * named gates (the judge-checkable plan evidence under `plans/r<n>/`)
  * and optionally wall-time each gate's action in-session.
  *
  *   runMain graft.PlanDump <sfDir> <outDir> <name1,name2,...>
  *
  * `GRAFT_PLAN_RUNS=N` additionally times N executions of each gate's
  * Bench action ([[Bench.timeGate]], after Bench's warm-up) following
  * the plan dump, printing per-run seconds; run 1 includes the gate's
  * side effects (streaming ingests, writes), so for effectful gates only
  * run 1 is representative and later runs time the declared read-back
  * only. Plans are captured BEFORE execution (the initial AQE plan, same
  * as what `explain` shows a user).
  *
  * Spark confs for a diagnosis run come in as JVM system properties,
  * e.g. an event log:
  *
  *   sbt 'set javaOptions += "-Dspark.eventLog.enabled=true"' "runMain graft.PlanDump ..."
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir, names) = args
    val runs = sys.env.getOrElse("GRAFT_PLAN_RUNS", "0").toInt
    val spark = GraftSession.local()
    Files.createDirectories(Paths.get(outDir))
    Bench.warmUp(spark, sfDir)
    names.split(",").map(_.trim).filter(_.nonEmpty).foreach { n =>
      spark.sparkContext.setJobDescription(s"plandump: $n")
      val df = SparkEntry.queries(n)(spark, sfDir)
      Files.writeString(Paths.get(s"$outDir/$n.txt"),
        df.queryExecution.explainString(
          org.apache.spark.sql.execution.ExplainMode.fromString("formatted")))
      println(s"[plandump] $n plan -> $outDir/$n.txt")
      (1 to runs).foreach { i =>
        val (sec, result) = Bench.timeGate(spark, n, sfDir)
        result.toTry.get
        println(f"[plandump] $n run $i: $sec%.3f s")
      }
    }
    spark.stop()
  }
}
