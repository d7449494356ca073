package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.annotation.nowarn
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.FileSystem
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Outside-in tracer: spans around each call the benchmark makes into a
  * layer of the library, and Spark's own counts attributed to them.
  *
  * A span records its layer, name, start, end, parent, operation id and
  * workload. While a span is open the client thread's job group is the
  * span id, so a SparkListener can attribute every job to the span that
  * caused it; streaming jobs carry their micro-batch id instead and land on
  * the span synthesized for that batch from the progress event. Jobs with
  * neither go to the innermost span open when they started. Hadoop
  * FileSystem statistics (bytes read and written) are read at the same
  * boundaries.
  *
  * Work a lazy call defers is counted in the span of the eager call that
  * runs it: a span around `spark.sql` for a query covers resolution only;
  * execution lands in the span around `collect`.
  *
  * Spans stay in memory and are written out when the run ends. A layer's
  * time is the sum of its spans' self time (duration minus the part covered
  * by child spans), so the self times of all spans add up to the root
  * span's wall time. When disabled every call runs its body directly. */
final class Tracer(spark: SparkSession, val enabled: Boolean, workload: String) {
  import Tracer._

  private val nano0 = System.nanoTime()
  private val epochNs0 = System.currentTimeMillis() * 1000000L
  /** Wall-clock time in epoch nanoseconds, monotonic within the run. */
  def now: Long = epochNs0 + (System.nanoTime() - nano0)

  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[Span]
  private val batchSpans = mutable.Map.empty[(String, Long), Span]
  private var bookkeepingNs = 0L

  private val jobs = new ConcurrentHashMap[Int, Job]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  @volatile private var lastEventNs = System.nanoTime()
  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val p = e.properties
      def prop(k: String) = Option(p).flatMap(q => Option(q.getProperty(k)))
      jobs.put(e.jobId, new Job(e.time * 1000000L, prop("spark.jobGroup.id"),
        prop("sql.streaming.queryId"), prop("streaming.sql.batchId").map(_.toLong),
        e.stageInfos.maxByOption(_.stageId).map(_.name).getOrElse("")))
      e.stageIds.foreach(s => stageJob.putIfAbsent(s, e.jobId))
      lastEventNs = System.nanoTime()
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val info = e.stageInfo
      Option(stageJob.get(info.stageId)).flatMap(j => Option(jobs.get(j))).foreach { job =>
        job.synchronized {
          job.stages += 1
          job.tasks += info.numTasks
          Option(info.taskMetrics).foreach { m =>
            job.runNs += m.executorRunTime * 1000000L
            job.gcNs += m.jvmGCTime * 1000000L
            job.shuffleBytes += m.shuffleWriteMetrics.bytesWritten +
              m.shuffleReadMetrics.totalBytesRead
            job.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
            job.recordsRead += m.inputMetrics.recordsRead
            job.bytesWritten += m.outputMetrics.bytesWritten
          }
        }
      }
      lastEventNs = System.nanoTime()
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      Option(jobs.get(e.jobId)).foreach(_.ended = true)
      lastEventNs = System.nanoTime()
    }
  }
  if (enabled) spark.sparkContext.addSparkListener(listener)

  // bytes, not operations: the local file system counts no read or
  // write operations, only bytes
  @nowarn("cat=deprecation")
  private def fsBytes(): Long = FileSystem.getAllStatistics.asScala
    .map(s => s.getBytesRead + s.getBytesWritten).sum

  /** Run `body` inside a span of `layer`. */
  def apply[T](layer: String, name: String, op: String = "")(body: => T): T =
    if (!enabled) body
    else {
      val s = open(layer, name, op)
      try body finally close(s)
    }

  def open(layer: String, name: String, op: String): Span = {
    val t = System.nanoTime()
    val s = new Span(spans.size, layer, name, stack.headOption.map(_.id).getOrElse(-1),
      op, workload, now)
    s.fs0 = fsBytes()
    spans += s
    stack = s :: stack
    spark.sparkContext.setJobGroup(s.id.toString, s"$layer.$name", interruptOnCancel = false)
    bookkeepingNs += System.nanoTime() - t
    s
  }

  def close(s: Span): Unit = {
    val t = System.nanoTime()
    s.end = now
    s.fsBytes = fsBytes() - s.fs0
    stack = stack.dropWhile(_ ne s).drop(1)
    stack.headOption match {
      case Some(p) => spark.sparkContext.setJobGroup(p.id.toString, s"${p.layer}.${p.name}",
        interruptOnCancel = false)
      case None => spark.sparkContext.clearJobGroup()
    }
    bookkeepingNs += System.nanoTime() - t
  }

  /** The innermost open span, if tracing. */
  def current: Option[Span] = if (enabled) stack.headOption else None

  /** The latest span of `layer` for operation `op`. */
  def spanOf(layer: String, op: String): Option[Span] =
    if (!enabled) None else spans.reverseIterator.find(s => s.layer == layer && s.op == op)

  /** Add `v` to a named count on the innermost open span. */
  def count(key: String, v: Double): Unit = current.foreach(s => s.add(key, v))

  /** Time spent in `body` counted as tracer bookkeeping (measurements the
    * untraced run does not make). */
  def bookkeeping[T](body: => T): T = {
    val t = System.nanoTime()
    try body finally bookkeepingNs += System.nanoTime() - t
  }

  /** A span reconstructed after the fact (from a streaming progress event),
    * clipped into its parent. `batch` keys the micro-batch whose jobs it
    * receives. */
  def synthetic(layer: String, name: String, parent: Span, start: Long, end: Long,
      op: String, batch: Option[(String, Long)]): Span = {
    val st = math.max(parent.start, math.min(start, parent.end))
    val s = new Span(spans.size, layer, name, parent.id, op, workload, st)
    s.end = math.max(st, math.min(end, parent.end))
    s.synthetic = true
    spans += s
    batch.foreach(b => batchSpans(b) = s)
    s
  }

  /** Wait until the listener bus has delivered the run's job events. */
  private def drain(): Unit = {
    val deadline = System.nanoTime() + 10000000000L
    while (System.nanoTime() < deadline &&
      (jobs.values.asScala.exists(!_.ended) ||
        System.nanoTime() - lastEventNs < 500000000L)) Thread.sleep(50)
  }

  /** Per-layer metrics of the finished run, plus the span log. */
  def finish(cores: Int): (Map[String, Double], Seq[Map[String, Any]]) = {
    drain()
    spark.sparkContext.removeSparkListener(listener)
    val byId = spans.map(s => s.id -> s).toMap
    val children = spans.groupBy(_.parent)
    // self time: duration minus the union of the children's intervals
    spans.foreach { s =>
      val iv = children.getOrElse(s.id, Nil).map(c =>
        (math.max(c.start, s.start), math.min(c.end, s.end))).filter(x => x._2 > x._1)
        .sortBy(_._1)
      var covered = 0L
      var (cs, ce) = (Long.MinValue, Long.MinValue)
      iv.foreach { case (a, b) =>
        if (a > ce) { if (ce > cs) covered += ce - cs; cs = a; ce = b }
        else ce = math.max(ce, b)
      }
      if (ce > cs) covered += ce - cs
      s.selfNs = (s.end - s.start) - covered
      s.fsSelf = s.fsBytes - children.getOrElse(s.id, Nil).map(_.fsBytes).sum
    }
    // job attribution: streaming batch id, then job group, then the
    // innermost span open at the job's start; jobs outside every span
    // (set-up, warm-up) are not counted
    jobs.values.asScala.foreach { j =>
      // event times are whole milliseconds: allow one either side
      def holds(x: Span) = x.start - 1000000L <= j.startNs && j.startNs <= x.end + 1000000L
      val s = j.batchId.flatMap(b => j.queryId.flatMap(q => batchSpans.get((q, b))))
        .filter(holds)
        .orElse(j.group.flatMap(g => g.toIntOption).flatMap(byId.get).filter(holds))
        .orElse(spans.filter(holds).maxByOption(x => depth(x, byId)))
      s.foreach(_.jobs += j)
    }
    val m = mutable.LinkedHashMap.empty[String, Double]
    m("bench.self_s") = spans.filter(_.layer == "bench").map(_.selfNs).sum / 1e9
    Layers.filter(_ != "bench").foreach { l =>
      val ls = spans.filter(_.layer == l)
      val js = ls.flatMap(_.jobs)
      val self = ls.map(_.selfNs).sum / 1e9
      val busy = js.map(_.runNs).sum / 1e9
      m(s"$l.self_s") = self
      m(s"$l.jobs") = js.size
      m(s"$l.stages") = js.map(_.stages).sum
      m(s"$l.tasks") = js.map(_.tasks).sum
      m(s"$l.task_busy_s") = busy
      m(s"$l.busy_share") = if (self > 0) busy / (self * cores) else 0.0
      m(s"$l.shuffle_bytes") = js.map(_.shuffleBytes).sum.toDouble
      m(s"$l.spill_bytes") = js.map(_.spillBytes).sum.toDouble
      m(s"$l.gc_s") = js.map(_.gcNs).sum / 1e9
      m(s"$l.fs_bytes") = ls.map(_.fsSelf).sum.toDouble
    }
    def selfOf(layer: String, names: String*) = spans
      .filter(s => s.layer == layer && names.contains(s.name)).map(_.selfNs).sum / 1e9
    def counted(layer: String, key: String) =
      spans.filter(_.layer == layer).map(_.counts.getOrElse(key, 0.0)).sum
    def ratio(a: Double, b: Double) = if (b > 0) a / b else 0.0
    m("catalog.resolve_s") = selfOf("catalog", "resolve")
    m("plans.plan_s") = selfOf("plans", "plan")
    m("plans.exchanges") = counted("plans", "exchanges")
    m("plans.broadcasts") = counted("plans", "broadcasts")
    m("sql_graft.exec_s") = selfOf("sql_graft", "exec", "read")
    m("sql_graft.files_read_ratio") =
      ratio(counted("sql_graft", "files_read"), counted("sql_graft", "files_in_tables"))
    m("sql_graft.rows_scanned_per_row_out") = ratio(
      spans.filter(_.layer == "sql_graft").flatMap(_.jobs).map(_.recordsRead).sum.toDouble,
      counted("sql_graft", "rows_out"))
    m("sources.load_s") = selfOf("sources", "load")
    m("sources.snapshot_read_s") = selfOf("sources", "max_pt")
    m("sources.compact_s") = selfOf("sources", "compact")
    // input bytes and written files are counted on the load spans
    def countedAll(key: String) = spans.map(_.counts.getOrElse(key, 0.0)).sum
    m("sources.bytes_written_per_input_byte") = ratio(
      spans.filter(_.layer == "sources").flatMap(_.jobs).map(_.bytesWritten).sum.toDouble,
      countedAll("input_bytes"))
    m("sources.files_written") = countedAll("files_written")
    m("streaming.add_batch_s") = counted("streaming", "add_batch_ms") / 1e3
    m("streaming.overhead_s") = counted("streaming", "overhead_ms") / 1e3
    m("streaming.state_rows") =
      spans.filter(_.layer == "streaming").map(_.counts.getOrElse("state_rows", 0.0))
        .maxOption.getOrElse(0.0)
    m("pipelines.run_s") = selfOf("pipelines", "run")
    Seq("quality", "exact", "near").foreach { st =>
      m(s"pipelines.survivor_ratio.$st") = counted("pipelines", s"survivor_ratio.$st")
    }
    m("operators.index_build_s") = selfOf("operators", "index_build")
    val roots = spans.filter(_.parent < 0)
    m("trace.root_wall_s") = roots.map(s => s.end - s.start).sum / 1e9
    m("trace.self_sum_s") = spans.map(_.selfNs).sum / 1e9
    m("trace.bookkeeping_s") = bookkeepingNs / 1e9
    m("trace.spans") = spans.size
    m("trace.jobs_outside_spans") = jobs.size - spans.map(_.jobs.size).sum
    val log = spans.toSeq.map { s =>
      Map[String, Any]("id" -> s.id, "layer" -> s.layer, "name" -> s.name,
        "parent" -> s.parent, "op" -> s.op, "workload" -> s.workload,
        "start_ns" -> s.start, "end_ns" -> s.end, "self_ns" -> s.selfNs,
        "synthetic" -> s.synthetic, "jobs" -> s.jobs.map(_.callSite),
        "fs_bytes" -> s.fsBytes, "counts" -> s.counts.toMap)
    }
    (m.toMap, log)
  }

  private def depth(s: Span, byId: Map[Int, Span]): Int =
    if (s.parent < 0) 0 else 1 + depth(byId(s.parent), byId)
}

object Tracer {
  /** The library's modules, the layers the per-layer metrics are named
    * after; `bench` is the harness itself (staging, checks). */
  val Layers: Seq[String] = Seq("bench", "catalog", "plans", "sql_graft", "sources",
    "streaming", "operators", "pipelines")

  final class Span(val id: Int, val layer: String, val name: String, val parent: Int,
      val op: String, val workload: String, val start: Long) {
    var end: Long = start
    var synthetic = false
    var fs0, fsBytes, fsSelf, selfNs = 0L
    val counts: mutable.Map[String, Double] = mutable.LinkedHashMap.empty
    val jobs: mutable.ArrayBuffer[Job] = mutable.ArrayBuffer.empty
    def add(key: String, v: Double): Unit = counts(key) = counts.getOrElse(key, 0.0) + v
  }

  final class Job(val startNs: Long, val group: Option[String], val queryId: Option[String],
      val batchId: Option[Long], val callSite: String) {
    @volatile var ended = false
    var stages, tasks = 0
    var runNs, gcNs, shuffleBytes, spillBytes, recordsRead, bytesWritten = 0L
  }
}
