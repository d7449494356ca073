package graft

import org.apache.spark.sql.functions._

/** Bands/numHashes sizing harness for the production MinHash near-dup
  * configuration: runs [[graft.operators.Dedup.lshRecallReport]] over a
  * bounded evaluation slice for a grid of (numHashes, bands) settings
  * and prints one JSON line per configuration — recall is what banding
  * trades away, and this table is what you read BEFORE committing a
  * 100 TB run to a configuration (d265 proves the harness; this sweeps
  * it). The slice is bounded because the exact ground-truth side
  * enumerates every pair sharing any shingle (docFreqCap lifted);
  * recall/precision are ratio estimates, so a bounded slice transfers
  * to corpus scale as long as its similarity profile does.
  *
  * Usage: runMain graft.LshSizing [sfDir] [maxDocId]
  * Writes scale_out/lsh_sizing.json.
  */
object LshSizing {
  private val Grid: Seq[(Int, Int)] = Seq(
    64 -> 16, 64 -> 32,
    128 -> 8, 128 -> 16, 128 -> 32, 128 -> 64,
    256 -> 32, 256 -> 64)

  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val maxDocId = args.lift(1).map(_.toLong).getOrElse(3000L)
    val spark = GraftSession.local()
    val docs = Tables.documents(spark, dir)
      .filter(col("doc_id") < maxDocId)
      .select(col("doc_id"), col("text"))
    val lines = Grid.map { case (numHashes, bands) =>
      val t0 = System.nanoTime()
      val row = operators.Dedup.lshRecallReport(docs, "doc_id", "text",
        shingleK = 4, threshold = 0.35, numHashes = numHashes,
        bands = bands).collect().head
      val sec = (System.nanoTime() - t0) / 1e9
      val line =
        f"""{"numHashes":$numHashes,"bands":$bands,""" +
          f""""rowsPerBand":${numHashes / bands},""" +
          f""""exact_pairs":${row.getLong(0)},""" +
          f""""lsh_pairs":${row.getLong(1)},"matched":${row.getLong(2)},""" +
          f""""recall":${Option(row.get(3)).fold("null")(_.toString)},""" +
          f""""precision":${Option(row.get(4)).fold("null")(_.toString)},""" +
          f""""sec":$sec%.1f}"""
      println(s"[lsh-sizing] $line")
      line
    }
    val out = lines.mkString("[", ",\n", "]\n")
    val d = java.nio.file.Paths.get("scale_out")
    java.nio.file.Files.createDirectories(d)
    java.nio.file.Files.write(d.resolve("lsh_sizing.json"),
      out.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    spark.stop()
  }
}
