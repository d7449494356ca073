package graft

import org.apache.spark.sql.SparkSession

/** Opinionated session factory: the tuning defaults this engine is designed
  * around (BASELINE.md), applied in one place.
  *
  *  - AQE on (runtime re-planning, skew-join splitting — SURVEY §4)
  *  - shuffle partitions sized to the machine, not Spark's default 200
  *  - 256 MB scan splits (the reference's `splitSizeInMB` default,
  *    `OdpsOptions.scala:69`) via `files.maxPartitionBytes`
  *  - UTC session timezone (oracle parity, SURVEY §7.4 timestamp notes)
  *  - graft SQL functions registered; optional graft catalog mount
  */
object GraftSession {

  /** Cores for the harness mains and the test suite: `SPARK_GRAFT_CPUS`,
    * else every core of this machine. */
  lazy val cpus: Int = sys.env.get("SPARK_GRAFT_CPUS")
    .fold(Runtime.getRuntime.availableProcessors())(_.toInt)

  def builder(cores: Int = Runtime.getRuntime.availableProcessors(),
      warehouseRoot: Option[String] = None): SparkSession.Builder = {
    var b = SparkSession.builder()
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.files.maxPartitionBytes", (256L * 1024 * 1024).toString)
      .config("spark.sql.session.timeZone", "UTC")
      // DSv2 parquet scans answer COUNT/MIN/MAX from footers when legal —
      // the V2-layer form of the reference's count-only scan
      // (`OdpsScan.scala:158-159` returns row-count partitions); off by
      // default in Spark, on by design here
      .config("spark.sql.parquet.aggregatePushdown", "true")
      .config("spark.sql.extensions", classOf[GraftExtensions].getName)
    warehouseRoot.foreach { root =>
      b = b.config("spark.sql.catalog.graft", classOf[catalog.GraftCatalog].getName)
        .config("spark.sql.catalog.graft.root", root)
    }
    b
  }

  /** Local session for tests/benchmarks on this machine. */
  def local(cores: Int = cpus,
      warehouseRoot: Option[String] = None): SparkSession = {
    val s = builder(cores, warehouseRoot)
      .master(s"local[$cores]")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
