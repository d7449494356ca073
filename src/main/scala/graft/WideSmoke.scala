package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Attribute
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

/** Wide-regime exercise for the declared keyed-checkpoint layout
  * (`CheckpointOps.keyed`, used by the iterative
  * graph family): every bench/verify configuration runs in the NARROW
  * regime (data-derived width < session parallelism), so until r16 the
  * declared-layout branch had never executed outside a unit test —
  * if the `LogicalRDD` rebuild mis-declared a layout at cluster scale,
  * wrong results would follow and nothing in the bench would catch it
  * (r15 verdict #5/#9).
  *
  * This smoke forces the wide regime with REAL data and proves both
  * halves of the claim:
  *
  *  1. **Correctness**: PageRank / HITS / k-core / label propagation
  *     run twice over the sf1 scaled edge table — once in a session
  *     whose `spark.default.parallelism` sits BELOW the data-derived
  *     width (wide gate passes → declared layout executes) and once
  *     with it far ABOVE (narrow fallback → the plain-checkpoint path
  *     the DuckDB oracle pins at sf0.01/sf0.1). The two result sets
  *     must be EXACTLY equal.
  *  2. **Exchange accounting**: a QueryExecutionListener sums
  *     hash-partitioned shuffle exchanges ([[graft.plans.PlanNodes]],
  *     query stages included) over every query execution in
  *     each run; the declared-layout run must plan strictly fewer
  *     edge-keyed exchanges (the per-iteration edge re-shuffle is the
  *     thing the declared layout removes).
  *
  * Usage: runMain graft.WideSmoke [scaledDir]  (defaults to the
  * ScaleSmoke output /tmp/graft_sf1; build it first via ScaleSmoke).
  * Writes scale_out/wide_smoke.json.
  */
object WideSmoke {

  /** The hash partitionings of the shuffle exchanges anywhere in `plan`. */
  private[graft] def hashExchanges(plan: SparkPlan): Seq[HashPartitioning] =
    graft.plans.PlanNodes(plan)
      .collect { case s: ShuffleExchangeExec => s.outputPartitioning }
      .collect { case h: HashPartitioning => h }

  /** Whether `h` hashes on column `name` first. */
  private[graft] def keyedOn(h: HashPartitioning, name: String): Boolean =
    h.expressions.headOption.collect { case a: Attribute => a.name }
      .contains(name)

  private final class ExchangeCounter extends QueryExecutionListener {
    val exchanges = new java.util.concurrent.atomic.AtomicLong(0)
    val executions = new java.util.concurrent.atomic.AtomicLong(0)
    override def onSuccess(funcName: String, qe: QueryExecution,
        durationNs: Long): Unit = {
      exchanges.addAndGet(hashExchanges(qe.executedPlan).size.toLong)
      executions.incrementAndGet()
      ()
    }
    override def onFailure(funcName: String, qe: QueryExecution,
        exception: Exception): Unit = ()
  }

  private def session(defaultParallelism: Int): SparkSession = {
    val spark = GraftSession.builder(GraftSession.cpus)
      .master(s"local[${GraftSession.cpus}]")
      // the knob under test: the wide gate compares the data-derived
      // layout width against min(defaultParallelism, shuffle.partitions)
      .config("spark.default.parallelism", defaultParallelism)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  // ~6M rows at sf1 → data-derived layout width ~6 (rows / 2^20),
  // comfortably above the forced parallelism of 2, so the wide gate
  // PASSES and the declared branch actually executes
  private def edges(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/lineitem.parquet")
      .select((col("l_orderkey") % 100000L).as("src"),
        col("l_partkey").as("dst"))

  private def results(spark: SparkSession, dir: String): Seq[DataFrame] = {
    val e = edges(spark, dir)
    Seq(
      graft.operators.Graph.pageRank(e, "src", "dst", iterations = 5),
      graft.operators.Graph.hits(e, "src", "dst", iterations = 3),
      graft.operators.Graph.kCore(e, "src", "dst", k = 3),
      graft.operators.Graph.labelPropagation(e, "src", "dst",
        iterations = 4))
  }

  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/tmp/graft_sf1")
    require(java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$dir/lineitem.parquet")),
      s"scaled data missing at $dir — run graft.ScaleSmoke first")

    def runMode(mode: String, defaultParallelism: Int)
        : (Seq[Array[org.apache.spark.sql.Row]], Long, Long, Int, Double) = {
      val spark = session(defaultParallelism)
      val counter = new ExchangeCounter
      spark.listenerManager.register(counter)
      // the width the gate will see, logged for the artifact
      val rows = edges(spark, dir).count()
      val width = org.apache.spark.sql.graft.CheckpointOps.layoutWidth(
        edges(spark, dir), rows)
      val t0 = System.nanoTime()
      val out = results(spark, dir).map(df =>
        df.orderBy(df.columns.map(col): _*).collect())
      val sec = (System.nanoTime() - t0) / 1e9
      // drain listener-bus events before reading the counters (the
      // bus is async; the public API exposes no flush)
      Thread.sleep(3000)
      val r = (out, counter.exchanges.get(), counter.executions.get(),
        width, sec)
      spark.stop()
      org.apache.spark.sql.SparkSession.clearActiveSession()
      org.apache.spark.sql.SparkSession.clearDefaultSession()
      r
    }

    // Direct probe of the declared branch on the REAL sf1 edge table in
    // the forced-narrow session (the GraphSpec pin, off synthetic data):
    // the checkpoint must come back a LogicalRDD DECLARING
    // HashPartitioning(src), and a keyed join over it must plan with no
    // exchange between that scan and the join.
    val probe = {
      val spark = session(2)
      val e = edges(spark, dir)
      val ck = org.apache.spark.sql.graft.CheckpointOps
        .keyed(e, Seq("src"), None)
      val declared = ck.queryExecution.analyzed match {
        case lr: org.apache.spark.sql.execution.LogicalRDD =>
          lr.outputPartitioning.toString
        case other => s"NOT-A-LOGICALRDD: ${other.getClass.getName}"
      }
      val small = spark.range(100).select(col("id").as("src"))
      val joined = ck.join(small, Seq("src"))
      joined.count()
      // exchanges anywhere in the final plan that hash on src: the
      // checkpointed side must contribute none (the small side
      // broadcasts)
      val srcExchanges = hashExchanges(joined.queryExecution.executedPlan)
        .count(keyedOn(_, "src"))
      spark.stop()
      org.apache.spark.sql.SparkSession.clearActiveSession()
      org.apache.spark.sql.SparkSession.clearDefaultSession()
      (declared, srcExchanges)
    }

    // wide first (gate passes: parallelism 2 <= data width), then the
    // narrow fallback (parallelism 4096 > any width here)
    val (wideOut, wideEx, wideQ, widthWide, wideSec) = runMode("wide", 2)
    val (plainOut, plainEx, plainQ, _, plainSec) = runMode("narrow", 4096)

    val equal = wideOut.zip(plainOut).forall { case (a, b) =>
      a.length == b.length && a.zip(b).forall { case (x, y) => x == y }
    }
    val line =
      s"""{"metric":"wide_smoke","data":"$dir","layout_width":$widthWide,""" +
      s""""declared_partitioning":"${probe._1.replace("\"", "'")}",""" +
      s""""probe_join_src_exchanges":${probe._2},""" +
      s""""wide":{"exchanges":$wideEx,"executions":$wideQ,"sec":$wideSec},""" +
      s""""narrow":{"exchanges":$plainEx,"executions":$plainQ,"sec":$plainSec},""" +
      s""""results_equal":$equal}"""
    println(line)
    val out = java.nio.file.Paths.get("scale_out")
    java.nio.file.Files.createDirectories(out)
    java.nio.file.Files.write(out.resolve("wide_smoke.json"),
      (line + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    if (!equal) sys.exit(1)
  }
}
