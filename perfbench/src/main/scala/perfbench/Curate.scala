package perfbench

import java.io.File

import org.apache.spark.sql.types.StructType

import graft.operators.Dedup
import graft.pipelines.TrainingDataPipeline
import graft.streaming.MicroBatch

/** `curate`: a synthetic web-text corpus with planted exact duplicates,
  * near-duplicate chains and low-quality documents. The timed phase runs
  * `TrainingDataPipeline.run` on the dump, seeds a near-dup index with
  * `Dedup.minhashIndex` over its survivors, then feeds the increment files,
  * one per trigger, to `MicroBatch.streamCurate`, reading the curated
  * output after each. */
object Curate {
  /** Reads of the curated output after each increment file. */
  val ReadsPerFile = 4
  /** Batches between near-dup index compactions: the last of the four
    * increment batches (ids 0 to 3) compacts the index. */
  val CompactEvery = 3

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val tr = ctx.tracer
    val dump = s"${ctx.input}/dump/docs.parquet"
    val incs = new File(s"${ctx.input}/increments").listFiles().map(_.getPath).sorted.toSeq
    val Seq(shards, index, out, rejects, src, ckpt) =
      Seq("shards", "index", "out", "rejects", "src", "ckpt").map(d => s"${ctx.out}/curate_$d")

    // Set-up is the session and the dump's schema, and no warm-up: a
    // curation job runs in a fresh JVM, so its users pay the first run's
    // code generation every time.
    val docs = spark.read.parquet(dump)
    ctx.startTimed()
    val report = ctx.op("pipeline", "id" -> "pipeline") {
      tr("pipelines", "run", "pipeline") {
        val r = TrainingDataPipeline.run(spark, docs, shards)
        tr.count("survivor_ratio.quality", r.afterQuality.toDouble / r.input)
        tr.count("survivor_ratio.exact", r.afterExactDedup.toDouble / r.afterQuality)
        tr.count("survivor_ratio.near", r.afterNearDedup.toDouble / r.afterExactDedup)
        r
      }
    }
    report.foreach(r => ctx.annotate("report" -> Map("input" -> r.input,
      "afterQuality" -> r.afterQuality, "afterExactDedup" -> r.afterExactDedup,
      "afterNearDedup" -> r.afterNearDedup, "totalTokens" -> r.totalTokens)))
    ctx.op("index_build", "id" -> "index") {
      tr("operators", "index_build", "index") {
        Dedup.minhashIndex(spark.read.parquet(shards), "doc_id", "text")
          .write.parquet(s"$index/batch=seed")
      }
    }
    val schema = new StructType().add("doc_id", "long").add("text", "string")
      .add("source", "string")
    new File(src).mkdirs()
    val q = MicroBatch.streamCurate(
      spark.readStream.schema(schema).option("maxFilesPerTrigger", "1").parquet(src),
      index, out, rejects, ckpt, "doc_id", "text",
      MicroBatch.CurateConfig(compactEvery = CompactEvery))
    // one increment file per trigger, each followed by ReadsPerFile reads
    // of the curated output: the reads sample the whole streaming phase, so
    // a brief stall of the host moves few of them
    var seen = -1L
    var consumed = 0
    var healthy = true
    while (healthy && consumed < incs.size) {
      val id = s"f$consumed"
      healthy = ctx.op("increment", "id" -> id) {
        tr("bench", "stage", id)(ctx.stage(incs(consumed), src, consumed))
        val span = tr("streaming", "process", id) {
          ctx.awaitBatch(q, seen)
          tr.current
        }
        seen = ctx.triggers(q, seen, span)
      }.isDefined
      if (healthy) {
        consumed += 1
        (1 to ReadsPerFile).foreach { i =>
          val rows = ctx.op("read", "id" -> s"${id}read$i", "prefix" -> consumed) {
            tr("sql_graft", "read", s"${id}read$i") {
              val r = spark.sql("SELECT count(*) AS n, sum(doc_id) AS ids, " +
                s"sum(token_count(text)) AS toks FROM parquet.`$out`").collect()
              tr.count("rows_out", r.length)
              r
            }
          }
          rows.foreach(r => ctx.annotate("result" -> ctx.rows(r)))
        }
      }
    }
    ctx.endTimed()
    q.stop()
    ctx.result("files_consumed") = consumed
    def ids(dir: String, cols: String*) =
      ctx.rows(spark.read.parquet(dir).selectExpr(cols: _*).collect())
    ctx.result("dump_survivors") = ids(shards, "doc_id").map(_.head)
    ctx.result("stream_survivors") = if (consumed > 0) ids(out, "doc_id").map(_.head) else Nil
    ctx.result("stream_rejects") = if (consumed > 0) ids(rejects, "doc_id", "reason") else Nil
    ctx.result("stored_bytes") = Seq(shards, out, index).map(ctx.bytesUnder).sum
    ctx.result("live_rows") = (ctx.result("dump_survivors").asInstanceOf[Seq[Any]].size +
      ctx.result("stream_survivors").asInstanceOf[Seq[Any]].size).toLong
  }
}
