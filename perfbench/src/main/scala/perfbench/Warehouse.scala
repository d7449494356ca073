package perfbench

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.FilePartition
import org.apache.spark.sql.execution.datasources.v2.{BatchScanExec, FileScan}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ReusedExchangeExec, ShuffleExchangeLike}

import graft.sources.{Maintenance, ManifestCommit}

/** `warehouse`: TPC-H-shaped facts and dimensions in `graft` catalog
  * tables. Each round loads new date partitions into the manifest-committed
  * fact table (INSERT OVERWRITE), then runs a seeded mix of short queries;
  * compaction plus vacuum runs every few rounds.
  *
  * `CatalogFunctions.analyzeTable`, `compactTable` and `maxPt` accept only
  * non-manifest tables, so the fact table is maintained through the calls
  * they delegate to for the manifest layout: `Maintenance.compactPartitions`
  * and `ManifestCommit.maxPt`; manifest tables keep no statistics to
  * ANALYZE. */
object Warehouse {
  private val Tables = Map("{S}" -> "graft.wh.sales", "{C}" -> "graft.wh.customer",
    "{P}" -> "graft.wh.part", "{N}" -> "graft.wh.nation")
  private val FactCols = "orderkey, linenumber, custkey, partkey, quantity, price_cents, " +
    "discount, shipmode, comment, dt"

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val tr = ctx.tracer
    val in = ctx.input
    val plan = ctx.readJson("plan.json")
    val salesDir = s"${ctx.out}/warehouse/wh/sales"
    def facts(dates: Seq[String]) = dates.map(d => s"$in/facts/$d.parquet")

    // ---- set-up: tables, dimensions, the initial facts, warm-up
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.wh")
    spark.sql("CREATE TABLE graft.wh.nation (nationkey BIGINT, name STRING, regionkey BIGINT)")
    spark.sql("CREATE TABLE graft.wh.customer (custkey BIGINT, name STRING, " +
      "nationkey BIGINT, segment STRING) PARTITIONED BY (bucket(4, custkey))")
    spark.sql("CREATE TABLE graft.wh.part (partkey BIGINT, brand STRING, size INT)")
    spark.sql("CREATE TABLE graft.wh.sales (orderkey BIGINT, linenumber INT, " +
      "custkey BIGINT, partkey BIGINT, quantity INT, price_cents BIGINT, discount INT, " +
      "shipmode STRING, comment STRING, dt STRING) PARTITIONED BY (dt) " +
      "TBLPROPERTIES ('graft.commit.mode'='manifest')")
    Seq("nation", "customer", "part").foreach { t =>
      spark.sql(s"INSERT INTO graft.wh.$t SELECT * FROM parquet.`$in/dims/$t.parquet`")
    }
    def load(dates: Seq[String], verb: String): Unit = {
      spark.read.parquet(facts(dates): _*).createOrReplaceTempView("staged")
      spark.sql(s"INSERT $verb graft.wh.sales SELECT $FactCols FROM staged")
    }
    ctx.phase("tables")
    // the last two initial dates go through the same overwrite path the
    // rounds take, so the first timed load is not the first of its kind
    val initial = plan.get("initial").elements().asScala.map(_.asText).toSeq
    load(initial.dropRight(2), "INTO")
    load(initial.takeRight(2), "OVERWRITE")
    ctx.phase("initial_load")
    val rounds = plan.get("rounds").elements().asScala.toSeq
    // warm-up: one query of each kind; results are not kept
    rounds.flatMap(_.get("queries").elements().asScala).groupBy(_.get("kind").asText)
      .values.map(_.head).foreach(q => spark.sql(sqlOf(ctx, q.get("sql").asText)).collect())

    // ---- timed phase: every round of the plan, so every run does the same
    // work: the same query mix, ending on a compaction
    ctx.startTimed()
    rounds.zipWithIndex.foreach { case (round, r) =>
      val dates = round.get("load").elements().asScala.map(_.asText).toSeq
      val id = s"r${r}load"
      ctx.op("load", "round" -> r, "id" -> id, "rows" -> round.get("rows").asLong) {
        tr("sources", "load", id) {
          load(dates, "OVERWRITE")
          tr.current.foreach { s =>
            tr.bookkeeping {
              s.add("input_bytes", facts(dates).map(f => new java.io.File(f).length).sum.toDouble)
              s.add("files_written", ctx.filesWrittenSince(salesDir, s.start))
            }
          }
        }
      }
      round.get("queries").elements().asScala.foreach { q =>
        val qid = q.get("id").asText
        var maxPt = ""
        val res = ctx.op("query", "round" -> r, "id" -> qid, "qkind" -> q.get("kind").asText) {
          val text = q.get("sql").asText
          val resolved = if (!text.contains("{MAXPT}")) text else {
            maxPt = tr("sources", "max_pt", qid) {
              ManifestCommit.maxPt(salesDir, "dt").getOrElse("")
            }
            text.replace("{MAXPT}", maxPt)
          }
          query(ctx, sqlOf(ctx, resolved), qid)
        }
        res.foreach(rows => ctx.annotate("result" -> ctx.rows(rows), "maxpt" -> maxPt))
      }
      if (round.get("compact").asBoolean) {
        ctx.op("compact", "round" -> r, "id" -> s"r${r}compact") {
          tr("sources", "compact", s"r${r}compact") {
            Maintenance.compactPartitions(spark, salesDir, Seq("dt"))
            ManifestCommit.vacuum(salesDir)
          }
        }
      }
    }
    ctx.endTimed()
    ctx.result("stored_bytes") = ctx.bytesUnder(salesDir)
    ctx.result("live_rows") = spark.sql("SELECT count(*) FROM graft.wh.sales").head().getLong(0)
  }

  private def sqlOf(ctx: Ctx, template: String): String =
    Tables.foldLeft(template) { case (s, (k, v)) => s.replace(k, v) }

  /** One query, split at the boundaries of the layers it passes through:
    * resolution against the catalog, planning, then execution. */
  private def query(ctx: Ctx, sql: String, id: String) = {
    val tr = ctx.tracer
    val df = tr("catalog", "resolve", id) {
      val d = ctx.spark.sql(sql)
      d.queryExecution.analyzed
      d
    }
    tr("plans", "plan", id)(df.queryExecution.executedPlan)
    val rows = tr("sql_graft", "exec", id)(df.collect())
    if (tr.enabled) tr.bookkeeping(planCounts(ctx, df, id, rows.length))
    rows
  }

  /** Exchanges, broadcasts and files read by the executed (final adaptive)
    * plan, added to the query's plan and execution spans. */
  private def planCounts(ctx: Ctx, df: DataFrame, id: String, rowsOut: Int): Unit = {
    def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case q: QueryStageExec => q +: nodes(q.plan)
      case r: ReusedExchangeExec => Seq(r)
      case o => o +: (o.children ++ o.subqueries).flatMap(nodes)
    }
    val all = nodes(df.queryExecution.executedPlan)
    val tr = ctx.tracer
    val scans = all.collect { case b: BatchScanExec => b.scan }.collect { case f: FileScan => f }
    val read = scans.map(_.planInputPartitions().collect { case fp: FilePartition =>
      fp.files.map(_.filePath.toString) }.flatten.distinct.size).sum
    val total = scans.map(_.fileIndex.inputFiles.length).sum
    tr.spanOf("plans", id).foreach { s =>
      s.add("exchanges", all.count(_.isInstanceOf[ShuffleExchangeLike]))
      s.add("broadcasts", all.count(_.isInstanceOf[BroadcastExchangeLike]))
    }
    tr.spanOf("sql_graft", id).foreach { s =>
      s.add("files_read", read)
      s.add("files_in_tables", total)
      s.add("rows_out", rowsOut)
    }
  }
}
