package perfbench

import java.io.File
import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery

/** Benchmark harness: runs one workload against the graft library through
  * its public entry points and writes what it measured, plus every result
  * the checks need, to `<out>/result.json`. Inputs come from the seeded
  * generator (`gen.py`); `run.py` checks the results and prints metrics.
  *
  * Usage: Main --workload <name> --input <dir> --out <dir> --trace <0|1>
  *   --cores <n>
  *
  * The load is one client thread in a closed loop: each operation is
  * issued after the previous one returns. */
object Main {
  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    val cores = opt("cores").toInt
    val spark = graft.GraftSession.builder(cores, Some(s"${opt("out")}/warehouse"))
      .master(s"local[$cores]")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
      .config("spark.local.dir", s"${opt("out")}/spark-local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val ctx = new Ctx(spark, opt("input"), opt("out"),
      new Tracer(spark, opt("trace") == "1", workload), cores)
    ctx.result("setup_session_ms") = ctx.sinceStartMs()
    workload match {
      case "warehouse" => Warehouse.run(ctx)
      case "curate" => Curate.run(ctx)
      case w => sys.error(s"unknown workload $w")
    }
    ctx.result("peak_rss_mb") = peakRssMb()
    ctx.result("ops") = ctx.ops.toSeq
    if (ctx.tracer.enabled) {
      val (metrics, spans) = ctx.tracer.finish(cores)
      ctx.result("trace") = metrics
      ctx.writeJson("spans.json", spans)
    }
    ctx.writeJson("result.json", ctx.result.toMap)
    spark.stop()
  }

  /** Peak resident set size of this JVM, from the kernel's high-water mark. */
  private def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0)
      .getOrElse(Double.NaN)
}

/** Everything a workload needs: session, paths, clock, tracer and the
  * operation log. */
final class Ctx(val spark: SparkSession, val input: String, val out: String,
    val tracer: Tracer, val cores: Int) {
  private val mapper = new ObjectMapper()
  val result: mutable.Map[String, Any] = mutable.LinkedHashMap.empty
  val ops: mutable.ArrayBuffer[Map[String, Any]] = mutable.ArrayBuffer.empty
  private var root: Option[Tracer.Span] = None

  def sinceStartMs(): Long =
    System.currentTimeMillis() - java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime

  /** Mark the end of a set-up step (milliseconds since JVM start). */
  def phase(name: String): Unit = result(s"setup_${name}_ms") = sinceStartMs()

  /** Start the timed phase: set-up ends here. */
  def startTimed(): Unit = {
    result("setup_jvm_ms") = sinceStartMs()
    result("timed_start_ms") = System.currentTimeMillis()
    if (tracer.enabled) root = Some(tracer.open("bench", "run", ""))
  }

  def endTimed(): Unit = {
    root.foreach(tracer.close)
    result("timed_end_ms") = System.currentTimeMillis()
  }

  /** Run one operation: its latency, and whether it threw, go to the log.
    * Returns None when it failed. */
  def op[T](kind: String, fields: (String, Any)*)(body: => T): Option[T] = {
    val t0 = System.nanoTime()
    val start = System.currentTimeMillis()
    val r = try Right(body) catch { case NonFatal(e) => Left(e) }
    val secs = (System.nanoTime() - t0) / 1e9
    ops += (Map[String, Any]("kind" -> kind, "start_ms" -> start, "latency_s" -> secs,
      "ok" -> r.isRight) ++ fields ++ r.left.toOption.map(e => "error" -> e.toString))
    r.toOption
  }

  /** Add fields to the last logged operation. */
  def annotate(fields: (String, Any)*): Unit =
    ops(ops.size - 1) = ops.last ++ fields

  def rows(rs: Array[Row]): Seq[Seq[Any]] = rs.toSeq.map(_.toSeq.map {
    case i: Int => i.toLong
    case s: Short => s.toLong
    case b: java.math.BigDecimal => b.toPlainString
    case d: java.math.BigInteger => d.toString
    case v => v
  })

  def readJson(rel: String): JsonNode = mapper.readTree(new File(s"$input/$rel"))

  def writeJson(rel: String, v: Any): Unit =
    mapper.writeValue(new File(s"$out/$rel"), toJava(v))

  private def toJava(v: Any): Any = v match {
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => k.toString -> toJava(x) }.toMap.asJava
    case s: Iterable[_] => s.map(toJava).toSeq.asJava
    case a: Array[_] => a.toSeq.map(toJava).asJava
    case o: Option[_] => o.map(toJava).orNull
    case x => x
  }

  /** Bytes of all files under `dir`. */
  def bytesUnder(dir: String): Long = walk(dir).map(Files.size).sum

  /** Data files under `dir` modified at or after `sinceNs` (epoch ns). */
  def filesWrittenSince(dir: String, sinceNs: Long): Int =
    walk(dir).count(p => p.toString.endsWith(".parquet") &&
      Files.getLastModifiedTime(p).toMillis * 1000000L >= sinceNs - 1000000000L)

  private def walk(dir: String): Seq[Path] = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) Nil
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).toList finally s.close()
    }
  }

  /** Move a generated file into a streaming source directory; its
    * modification time rises with `seq`, so the file source takes the
    * files in order. */
  def stage(file: String, dir: String, seq: Int): Unit = {
    Files.createDirectories(Paths.get(dir))
    val dst = Paths.get(dir, new File(file).getName)
    Files.move(Paths.get(file), dst, StandardCopyOption.ATOMIC_MOVE)
    dst.toFile.setLastModified(1600000000000L + seq * 1000L)
  }

  private def batchesAfter(q: StreamingQuery, after: Long) =
    q.recentProgress.filter(p => p.batchId > after && p.numInputRows > 0)

  /** Block until `q` has committed a micro-batch with input after batch
    * `after`. `processAllAvailable` alone can return before the stream has
    * listed a file staged just before the call, so it is repeated. */
  def awaitBatch(q: StreamingQuery, after: Long): Unit = {
    val deadline = System.nanoTime() + 120000000000L
    while (batchesAfter(q, after).isEmpty) {
      if (System.nanoTime() > deadline) sys.error(s"no micro-batch after $after in 120 s")
      q.processAllAvailable()
    }
  }

  /** Progress of the micro-batches `q` finished after batch `after` that
    * took input: logs each as a `trigger` operation and, when tracing, adds
    * synthesized trigger and sink spans under `parent`; the sink is in
    * `operators`. Returns the last batch id seen. */
  def triggers(q: StreamingQuery, after: Long, parent: Option[Tracer.Span]): Long = {
    val ps = batchesAfter(q, after).sortBy(_.batchId)
    ps.foreach { p =>
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.withDefaultValue(0L)
      val trig = d("triggerExecution")
      ops += Map("kind" -> "trigger", "batch" -> p.batchId, "rows" -> p.numInputRows,
        "latency_s" -> trig / 1e3, "add_batch_s" -> d("addBatch") / 1e3, "ok" -> true)
      parent.foreach { inc =>
        val t0 = java.time.Instant.parse(p.timestamp).toEpochMilli * 1000000L
        val ts = tracer.synthetic("streaming", "trigger", inc, t0, t0 + trig * 1000000L,
          inc.op, None)
        ts.add("add_batch_ms", d("addBatch").toDouble)
        ts.add("overhead_ms", (trig - d("addBatch")).toDouble)
        ts.add("state_rows", p.stateOperators.map(_.numRowsTotal).sum.toDouble)
        val pre = d("latestOffset") + d("walCommit") + d("getBatch") + d("queryPlanning")
        tracer.synthetic("operators", "sink", ts, t0 + pre * 1000000L,
          t0 + (pre + d("addBatch")) * 1000000L, inc.op, Some((p.id.toString, p.batchId)))
      }
    }
    ps.lastOption.map(_.batchId).getOrElse(after)
  }
}
