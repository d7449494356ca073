package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

/** SQL round-trip through the GraftCatalog — the reference's primary test
  * style (`SQLQuerySuite.scala:166-211`: create → insert → select with
  * partition pruning → catalog DDL). */
class CatalogSpec extends SparkTestBase {

  private lazy val warehouse: String = {
    val dir = Files.createTempDirectory("graft_warehouse").toString
    spark.conf.set("spark.sql.catalog.graft", "graft.catalog.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft.root", dir)
    dir
  }

  private def sql(s: String) = { warehouse; spark.sql(s) }

  test("namespace + table DDL round trip") {
    sql("CREATE NAMESPACE graft.db1")
    sql("CREATE TABLE graft.db1.sales (name STRING, num INT, dt STRING) PARTITIONED BY (dt)")
    assert(sql("SHOW TABLES IN graft.db1").collect().map(_.getString(1)).contains("sales"))
    assert(sql("DESCRIBE TABLE graft.db1.sales").collect()
      .exists(r => r.getString(0) == "dt"))
  }

  test("insert + partition-pruned select matches") {
    sql("CREATE NAMESPACE IF NOT EXISTS graft.db2")
    sql("CREATE TABLE graft.db2.sales (name STRING, num INT, dt STRING) PARTITIONED BY (dt)")
    sql("INSERT INTO graft.db2.sales VALUES ('a', 1, '2017'), ('b', 2, '2017'), ('c', 3, '2018')")
    val out = sql("SELECT name, num FROM graft.db2.sales WHERE dt = '2017' ORDER BY name")
    assert(out.collect().map(r => (r.getString(0), r.getInt(1))).toSeq ==
      Seq(("a", 1), ("b", 2)))
    // pruning: the scan carries a partition filter on dt and never
    // enumerates the 2018 partition (data lives in real dt= directories now)
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("dt"), plan.take(1200))
    assert(!plan.contains("dt=2018"), plan.take(1200))
  }

  test("dynamic partition insert from testdata + aggregate") {
    sql("CREATE NAMESPACE IF NOT EXISTS graft.db3")
    sql("CREATE TABLE graft.db3.orders_p (o_orderkey BIGINT, o_totalprice DOUBLE, yr INT) PARTITIONED BY (yr)")
    Tables.orders(spark, sf)
      .select(col("o_orderkey"), col("o_totalprice"),
        year(col("o_orderdate")).as("yr"))
      .writeTo("graft.db3.orders_p").append()
    val got = sql("SELECT yr, count(*) AS n FROM graft.db3.orders_p GROUP BY yr ORDER BY yr")
    val want = Tables.orders(spark, sf)
      .groupBy(year(col("o_orderdate")).as("yr")).agg(count(lit(1)).as("n"))
      .orderBy("yr")
    assert(got.collect().map(r => (r.getInt(0), r.getLong(1))).toSeq ==
      want.collect().map(r => (r.getInt(0), r.getLong(1))).toSeq)
  }

  test("partition management DDL: add/show/drop partitions") {
    sql("CREATE NAMESPACE IF NOT EXISTS graft.db4")
    sql("CREATE TABLE graft.db4.pt_tbl (v INT, dt STRING) PARTITIONED BY (dt)")
    sql("ALTER TABLE graft.db4.pt_tbl ADD PARTITION (dt='2024-01')")
    sql("ALTER TABLE graft.db4.pt_tbl ADD PARTITION (dt='2024-02')")
    val parts = sql("SHOW PARTITIONS graft.db4.pt_tbl").collect().map(_.getString(0))
    assert(parts.toSet == Set("dt=2024-01", "dt=2024-02"))
    sql("ALTER TABLE graft.db4.pt_tbl DROP PARTITION (dt='2024-01')")
    assert(sql("SHOW PARTITIONS graft.db4.pt_tbl").count() == 1)
  }

  test("bucketed catalog table enforces write distribution and ordering") {
    sql("CREATE NAMESPACE IF NOT EXISTS graft.db6")
    sql("""CREATE TABLE graft.db6.orders_b (o_orderkey BIGINT, o_totalprice DOUBLE)
          | PARTITIONED BY (bucket(4, o_orderkey))""".stripMargin)
    Tables.orders(spark, sf).select("o_orderkey", "o_totalprice")
      .writeTo("graft.db6.orders_b").append()
    // RequiresDistributionAndOrdering(numPartitions=4) → exactly 4 files
    val files = java.nio.file.Files.list(
        java.nio.file.Paths.get(s"$warehouse/db6/orders_b")).iterator()
    var parquets = 0
    while (files.hasNext) {
      if (files.next().getFileName.toString.endsWith(".parquet")) parquets += 1
    }
    assert(parquets == 4, s"expected 4 bucket files, got $parquets")
    assert(sql("SELECT count(*) FROM graft.db6.orders_b").head().getLong(0) ==
      Tables.orders(spark, sf).count())
  }

  test("range-clustered table: DESC global sort + disjoint file ranges") {
    sql("CREATE NAMESPACE IF NOT EXISTS graft.db9")
    sql("""CREATE TABLE graft.db9.orders_r (o_orderkey BIGINT, o_totalprice DOUBLE)
          | PARTITIONED BY (range_cluster(4, o_totalprice))
          | TBLPROPERTIES('graft.range.cols'='o_totalprice DESC')""".stripMargin)
    Tables.orders(spark, sf).select("o_orderkey", "o_totalprice")
      .writeTo("graft.db9.orders_r").append()
    val dir = java.nio.file.Paths.get(s"$warehouse/db9/orders_r")
    val files = java.nio.file.Files.list(dir).iterator().asScala
      .filter(_.getFileName.toString.endsWith(".parquet")).toSeq
      .sortBy(_.getFileName.toString)
    assert(files.size == 4, s"expected 4 range files, got ${files.size}")
    // each file internally DESC-sorted; files cover disjoint DESC ranges
    val ranges = files.map { f =>
      val vals = spark.read.parquet(f.toString)
        .select("o_totalprice").collect().map(_.getDouble(0)).toSeq
      assert(vals == vals.sortBy(-_), s"file $f not DESC-sorted")
      (vals.head, vals.last) // (max-ish first, min-ish last)
    }
    ranges.sliding(2).foreach {
      case Seq((_, lo1), (hi2, _)) =>
        assert(lo1 >= hi2, s"range files overlap: $ranges")
      case _ =>
    }
    assert(sql("SELECT count(*) FROM graft.db9.orders_r").head().getLong(0) ==
      Tables.orders(spark, sf).count())
  }

  test("manifest-pointer tables: max_pt resolves from the pointer map " +
      "(no listing, no job); the sidecars are underscore-hidden from " +
      "plain directory readers") {
    import spark.implicits._
    import graft.sources.ManifestCommit
    val root = java.nio.file.Files
      .createTempDirectory("graft_cat_mfc").toString + "/t"
    ManifestCommit.writePartitioned(
      Seq(("2017", 1L), ("2018", 2L)).toDF("dt", "v"), root, Seq("dt"))
    ManifestCommit.writePartitioned(
      Seq(("2019", 3L)).toDF("dt", "v"), root, Seq("dt"))
    assert(ManifestCommit.maxPt(root, "dt") === Some("2019"))
    assert(ManifestCommit.maxPt(root, "nope") === None)
    // every byte lives under _gen/_pointer — a reader that bypasses
    // the pointer protocol sees NO data (never torn state): Spark's
    // file index hides underscore-prefixed directories
    val ex = intercept[Exception] { spark.read.parquet(root).collect() }
    assert(ex.getMessage.toLowerCase.contains("schema") ||
      ex.getMessage.toLowerCase.contains("path"), ex.getMessage)
    // the pointer-resolved read sees all three partitions (partition
    // discovery type-infers dt as int here — cast for the compare)
    assert(ManifestCommit.read(spark, root)
      .select(col("dt").cast("string"), col("v")).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq.sorted ===
      Seq(("2017", 1L), ("2018", 2L), ("2019", 3L)))
  }

  test("catalog max_pt resolves from the partition listing") {
    sql("CREATE NAMESPACE IF NOT EXISTS graft.db7")
    sql("CREATE TABLE graft.db7.pt (v INT, dt STRING) PARTITIONED BY (dt)")
    sql("ALTER TABLE graft.db7.pt ADD PARTITION (dt='2024-01')")
    sql("ALTER TABLE graft.db7.pt ADD PARTITION (dt='2024-03')")
    sql("ALTER TABLE graft.db7.pt ADD PARTITION (dt='2024-02')")
    assert(graft.catalog.CatalogFunctions.maxPt(spark, "graft",
      Array("db7"), "pt").contains("2024-03"))
  }

  test("rename and drop table") {
    sql("CREATE NAMESPACE IF NOT EXISTS graft.db5")
    sql("CREATE TABLE graft.db5.t1 (v INT)")
    sql("ALTER TABLE graft.db5.t1 RENAME TO db5.t2")
    assert(sql("SHOW TABLES IN graft.db5").collect().map(_.getString(1)).toSet == Set("t2"))
    sql("DROP TABLE graft.db5.t2")
    assert(sql("SHOW TABLES IN graft.db5").count() == 0)
  }

  test("alter table: add, rename and drop data columns") {
    sql("CREATE NAMESPACE IF NOT EXISTS graft.db7")
    sql("CREATE TABLE graft.db7.t (a INT, b STRING, dt STRING) PARTITIONED BY (dt)")
    sql("ALTER TABLE graft.db7.t ADD COLUMN c DOUBLE")
    sql("ALTER TABLE graft.db7.t RENAME COLUMN b TO b2")
    sql("ALTER TABLE graft.db7.t DROP COLUMN a")
    val cols = sql("DESCRIBE TABLE graft.db7.t").collect().map(_.getString(0))
    assert(cols.contains("b2") && cols.contains("c") && !cols.contains("a"))
    intercept[Exception] { sql("ALTER TABLE graft.db7.t DROP COLUMN dt") }
  }

  test("INSERT OVERWRITE: static replaces the whole table, dynamic only touched parts") {
    sql("CREATE NAMESPACE IF NOT EXISTS graft.db8")
    sql("CREATE TABLE graft.db8.t (v INT, dt STRING) PARTITIONED BY (dt)")
    sql("INSERT INTO graft.db8.t VALUES (1,'2020'), (2,'2021')")
    // static mode (default): partitions absent from the insert must be dropped
    sql("INSERT OVERWRITE graft.db8.t VALUES (3,'2022')")
    val stat = sql("SELECT v, dt FROM graft.db8.t").collect()
      .map(r => (r.getInt(0), r.getString(1))).toSet
    assert(stat == Set((3, "2022")), stat.toString)
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try {
      sql("INSERT INTO graft.db8.t VALUES (4,'2023')")
      sql("INSERT OVERWRITE graft.db8.t VALUES (5,'2022')")
      val dyn = sql("SELECT v, dt FROM graft.db8.t").collect()
        .map(r => (r.getInt(0), r.getString(1))).toSet
      assert(dyn == Set((5, "2022"), (4, "2023")), dyn.toString)
    } finally spark.conf.set("spark.sql.sources.partitionOverwriteMode", "static")
  }

  test("partition values with special characters round-trip (path escaping)") {
    sql("CREATE NAMESPACE IF NOT EXISTS graft.db9")
    sql("CREATE TABLE graft.db9.t (v INT, dt STRING) PARTITIONED BY (dt)")
    sql("INSERT INTO graft.db9.t VALUES (1, '100%'), (2, 'a:b')")
    val got = sql("SELECT v, dt FROM graft.db9.t ORDER BY v").collect()
      .map(r => (r.getInt(0), r.getString(1))).toSeq
    assert(got == Seq((1, "100%"), (2, "a:b")), got.toString)
    assert(sql("SHOW PARTITIONS graft.db9.t").count() == 2)
    // static partition overwrite with empty result truncates, not drops
    sql("INSERT OVERWRITE graft.db9.t PARTITION (dt='100%') " +
      "SELECT v FROM graft.db9.t WHERE false")
    assert(sql("SELECT * FROM graft.db9.t WHERE dt = '100%'").count() == 0)
    assert(sql("SELECT * FROM graft.db9.t WHERE dt = 'a:b'").count() == 1)
    assert(sql("SHOW PARTITIONS graft.db9.t").count() == 2, "partition dropped")
  }

  test("views: create, resolve by stored SQL, scan guard, write rejected, drop") {
    import org.apache.spark.sql.connector.catalog.Identifier
    import graft.catalog.CatalogFunctions
    sql("CREATE NAMESPACE IF NOT EXISTS graft.dbv")
    sql("CREATE TABLE graft.dbv.base (name STRING, num INT)")
    sql("INSERT INTO graft.dbv.base VALUES ('a', 1), ('b', 2), ('c', 3)")
    CatalogFunctions.createView(spark, "graft", Array("dbv"), "v_big",
      "SELECT name, num * 10 AS num10 FROM graft.dbv.base WHERE num >= 2")
    // resolves by planning the stored SQL
    val got = CatalogFunctions.viewDf(spark, "graft", Array("dbv"), "v_big")
      .orderBy("name").collect().map(r => (r.getString(0), r.getInt(1))).toSeq
    assert(got == Seq(("b", 20), ("c", 30)))
    // a view is NOT readable by direct table scan (reference guard)
    val scanErr = intercept[Exception](sql("SELECT * FROM graft.dbv.v_big").collect())
    assert(scanErr.getMessage.toLowerCase.contains("view"))
    // and writes are rejected at analysis
    val writeErr = intercept[Exception](
      sql("INSERT INTO graft.dbv.v_big VALUES ('x', 9)"))
    assert(writeErr.getMessage.nonEmpty)
    // view listing + drop: metadata only, base table untouched
    val cat = org.apache.spark.sql.graft.Catalogs.plugin(spark, "graft")
      .asInstanceOf[org.apache.spark.sql.connector.catalog.ViewCatalog]
    assert(cat.listViews("dbv").map(_.name()).toSeq == Seq("v_big"))
    assert(cat.viewExists(Identifier.of(Array("dbv"), "v_big")))
    assert(!cat.dropView(Identifier.of(Array("dbv"), "base"))) // not a view
    assert(cat.dropView(Identifier.of(Array("dbv"), "v_big")))
    assert(sql("SELECT count(*) FROM graft.dbv.base").head().getLong(0) == 3)
  }

  test("TIMESTAMP_NTZ columns round-trip through catalog tables") {
    sql("CREATE NAMESPACE IF NOT EXISTS graft.dbntz")
    sql("CREATE TABLE graft.dbntz.t (id BIGINT, ts TIMESTAMP_NTZ)")
    sql("INSERT INTO graft.dbntz.t VALUES " +
      "(1, TIMESTAMP_NTZ'2024-03-01 12:30:00'), " +
      "(2, TIMESTAMP_NTZ'2024-03-02 00:15:30.123456')")
    val back = sql("SELECT id, ts FROM graft.dbntz.t ORDER BY id")
    assert(back.schema("ts").dataType ==
      org.apache.spark.sql.types.TimestampNTZType)
    val vals = back.collect().map(_.getAs[java.time.LocalDateTime](1))
    assert(vals(0) == java.time.LocalDateTime.of(2024, 3, 1, 12, 30))
    assert(vals(1) == java.time.LocalDateTime.of(2024, 3, 2, 0, 15, 30,
      123456000))
  }

  test("alterView sets/removes properties; renameView moves the view") {
    import org.apache.spark.sql.connector.catalog.{Identifier, ViewCatalog, ViewChange}
    import graft.catalog.CatalogFunctions
    sql("CREATE NAMESPACE IF NOT EXISTS graft.dbv3")
    sql("CREATE TABLE graft.dbv3.b (x INT)")
    sql("INSERT INTO graft.dbv3.b VALUES (1), (2)")
    CatalogFunctions.createView(spark, "graft", Array("dbv3"), "v1",
      "SELECT x * 2 AS x2 FROM graft.dbv3.b")
    val cat = org.apache.spark.sql.graft.Catalogs.plugin(spark, "graft")
      .asInstanceOf[ViewCatalog]
    val id1 = Identifier.of(Array("dbv3"), "v1")
    cat.alterView(id1, ViewChange.setProperty("comment", "doubled"))
    assert(cat.loadView(id1).properties().get("comment") == "doubled")
    cat.alterView(id1, ViewChange.removeProperty("comment"))
    assert(!cat.loadView(id1).properties().containsKey("comment"))
    cat.renameView(id1, Identifier.of(Array("dbv3"), "v2"))
    assert(!cat.viewExists(id1))
    val got = CatalogFunctions.viewDf(spark, "graft", Array("dbv3"), "v2")
      .orderBy("x2").collect().map(_.getInt(0)).toSeq
    assert(got == Seq(2, 4))
  }

  test("view SQL with backslashes and quotes survives the metadata round trip") {
    import graft.catalog.CatalogFunctions
    sql("CREATE NAMESPACE IF NOT EXISTS graft.dbv2")
    sql("CREATE TABLE graft.dbv2.logs (line STRING)")
    sql("""INSERT INTO graft.dbv2.logs VALUES ('a  b'), ('say "hi"'), ('xy')""")
    // regex with backslash escapes AND a double-quoted literal in the SQL
    CatalogFunctions.createView(spark, "graft", Array("dbv2"), "v_clean",
      """SELECT regexp_replace(line, '\\s+', '_') AS cleaned
        |FROM graft.dbv2.logs WHERE line != "xy"""".stripMargin)
    val got = CatalogFunctions.viewDf(spark, "graft", Array("dbv2"), "v_clean")
      .orderBy("cleaned").collect().map(_.getString(0)).toSeq
    assert(got == Seq("a_b", "say_\"hi\""))
    // DROP TABLE must refuse a view (symmetric with dropView refusing tables)
    val err = intercept[Exception](sql("DROP TABLE graft.dbv2.v_clean"))
    assert(err.getMessage.toLowerCase.contains("view"))
    assert(spark.sql("SELECT 1").count() == 1) // session still healthy
  }

  test("external tables: reads work, writes rejected, DROP keeps the data") {
    val ext = Files.createTempDirectory("graft_ext_data").toString
    spark.range(5).selectExpr("id", "id * 2 AS v").write.mode("overwrite").parquet(ext)
    sql("CREATE NAMESPACE IF NOT EXISTS graft.dbe")
    sql(s"CREATE EXTERNAL TABLE graft.dbe.ext_t (id BIGINT, v BIGINT) LOCATION '$ext'")
    val out = sql("SELECT sum(v) AS s FROM graft.dbe.ext_t").head().getLong(0)
    assert(out == 20)
    val writeErr = intercept[Exception](
      sql("INSERT INTO graft.dbe.ext_t VALUES (99, 99)"))
    assert(writeErr.getMessage.nonEmpty)
    sql("DROP TABLE graft.dbe.ext_t")
    assert(sql("SHOW TABLES IN graft.dbe").count() == 0)
    // the external data survived the drop
    assert(spark.read.parquet(ext).count() == 5)
  }

  test("external tables refuse partition DDL; corrupt meta stays droppable; " +
      "views refuse table rename") {
    // partition DDL on an external PARTITIONED table must not touch the
    // external location
    val ext = Files.createTempDirectory("graft_ext_pd").toString
    spark.range(3).selectExpr("id", "CAST(id AS STRING) AS dt")
      .write.partitionBy("dt").mode("overwrite").parquet(ext)
    sql("CREATE NAMESPACE IF NOT EXISTS graft.dbg")
    sql("CREATE EXTERNAL TABLE graft.dbg.extp (id BIGINT, dt STRING) " +
      s"PARTITIONED BY (dt) LOCATION '$ext'")
    val dropErr = intercept[Exception](
      sql("ALTER TABLE graft.dbg.extp DROP PARTITION (dt='1')"))
    assert(dropErr.getMessage.contains("external"))
    assert(spark.read.parquet(ext).count() == 3, "external data must survive")
    val addErr = intercept[Exception](
      sql("ALTER TABLE graft.dbg.extp ADD PARTITION (dt='9')"))
    assert(addErr.getMessage.contains("external"))

    // a torn meta file (crash mid-create) must still be droppable
    sql("CREATE TABLE graft.dbg.torn (id BIGINT)")
    val metaPath = java.nio.file.Paths.get(
      warehouse, "dbg", "torn", "_graft_meta.json")
    java.nio.file.Files.writeString(metaPath, "{\"partial")
    sql("DROP TABLE graft.dbg.torn")
    assert(!sql("SHOW TABLES IN graft.dbg").collect()
      .map(_.getString(1)).contains("torn"))

    // rename through the table path refuses views, like drop/alter
    sql("CREATE TABLE graft.dbg.base (id BIGINT)")
    graft.catalog.CatalogFunctions.createView(spark, "graft", Array("dbg"),
      "v_ren", "SELECT * FROM graft.dbg.base")
    val renErr = intercept[Exception](
      sql("ALTER TABLE graft.dbg.v_ren RENAME TO v_ren2"))
    assert(renErr.getMessage.contains("view"))
  }

  test("commit-scoped stats stay exact across append, second append, and " +
      "partition overwrite") {
    import org.apache.hadoop.fs.{Path => HPath}
    import graft.catalog.TableStatistics
    sql("CREATE NAMESPACE IF NOT EXISTS graft.dbs")
    sql("CREATE TABLE graft.dbs.st (v BIGINT, dt STRING) PARTITIONED BY (dt)")
    val dir = new HPath(s"$warehouse/dbs/st")
    def stored() = TableStatistics.read(dir).get
    def actual() = sql("SELECT count(*) FROM graft.dbs.st").head().getLong(0)

    sql("INSERT INTO graft.dbs.st VALUES (1,'a'), (2,'a'), (3,'b')")
    assert(stored().rows == 3 && stored().rows == actual())
    // second append into ONE existing partition: only that entry changes
    sql("INSERT INTO graft.dbs.st VALUES (4,'a')")
    assert(stored().rows == 4 && stored().rows == actual())
    assert(stored().parts("dt=b").rows == 1)
    // dynamic overwrite replaces only the touched partition's entry
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try sql("INSERT OVERWRITE graft.dbs.st VALUES (9,'a')")
    finally spark.conf.set("spark.sql.sources.partitionOverwriteMode", "static")
    assert(stored().rows == 2 && stored().rows == actual())
    assert(stored().parts("dt=a").rows == 1 && stored().parts("dt=b").rows == 1)
    // static full overwrite prunes every stale entry
    sql("INSERT OVERWRITE graft.dbs.st VALUES (7,'c')")
    assert(stored().rows == 1 && stored().rows == actual())
    assert(stored().parts.keySet == Set("dt=c"))
  }

  test("concurrent stats refreshes to disjoint partitions both land (CAS)") {
    import org.apache.hadoop.fs.{Path => HPath}
    import graft.catalog.TableStatistics
    import spark.implicits._
    val wh = Files.createTempDirectory("graft_stats_cas").toString
    val dir = new HPath(s"$wh/t")
    // two partitions written directly (no catalog — this pins the stats
    // layer itself)
    Seq((1L, "a"), (2L, "a")).toDF("v", "dt").write.partitionBy("dt").parquet(s"$wh/t")
    Seq((3L, "b")).toDF("v", "dt").write.mode("append").partitionBy("dt").parquet(s"$wh/t")
    // racing commits: each refreshes ONLY its own partition's scope, in
    // parallel; a read-merge-overwrite protocol loses one side's entry
    import scala.collection.parallel.CollectionConverters._
    (0 until 8).par.foreach { i =>
      val rel = if (i % 2 == 0) "dt=a" else "dt=b"
      TableStatistics.refresh(dir, Seq("dt"),
        touched = Some(TableStatistics.Touched(Seq(rel))))
    }
    val stats = TableStatistics.read(dir).get
    assert(stats.parts.keySet == Set("dt=a", "dt=b"),
      s"a racing refresh lost a partition: ${stats.parts.keySet}")
    assert(stats.parts("dt=a").rows == 2 && stats.parts("dt=b").rows == 1)
    assert(stats.rows == 3)
  }

  test("stats survive the legacy un-versioned file and migrate to CAS generations") {
    import org.apache.hadoop.fs.{Path => HPath}
    import graft.catalog.TableStatistics
    import graft.sources.Fs
    import spark.implicits._
    val wh = Files.createTempDirectory("graft_stats_legacy").toString
    val dir = new HPath(s"$wh/t")
    Seq((1L, "a")).toDF("v", "dt").write.partitionBy("dt").parquet(s"$wh/t")
    // hand-write a pre-CAS stats file; a refresh must read it as the base
    // and retire it in favor of a generation file
    Fs.writeString(TableStatistics.statsFile(dir),
      """{"rows":1,"bytes":999,"parts":{"dt=a":{"rows":1,"bytes":999,"files":1}}}""")
    val ts = TableStatistics.refresh(dir, Seq("dt"))
    assert(ts.parts("dt=a").rows == 1)
    assert(!Fs.exists(TableStatistics.statsFile(dir)),
      "legacy stats file must be retired after the first CAS commit")
    assert(TableStatistics.read(dir).get.rows == 1)
  }

  test("maxPt compares in the partition column's type, not as strings") {
    val wh = Files.createTempDirectory("graft_maxpt_num").toString
    spark.conf.set("spark.sql.catalog.graft_mp", "graft.catalog.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft_mp.root", wh)
    sql("CREATE NAMESPACE graft_mp.db")
    sql("CREATE TABLE graft_mp.db.t (v BIGINT, pt INT) PARTITIONED BY (pt)")
    sql("INSERT INTO graft_mp.db.t VALUES (1, 9), (2, 10)")
    // "9" > "10" lexicographically — the typed compare must say 10
    assert(graft.catalog.CatalogFunctions.maxPt(
      spark, "graft_mp", Array("db"), "t") == Some("10"))
  }

  test("maxPt of a manifest table reads the latest pointer and compares " +
      "in the partition column's type") {
    val wh = Files.createTempDirectory("graft_maxpt_mft").toString
    spark.conf.set("spark.sql.catalog.graft_mpm", "graft.catalog.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft_mpm.root", wh)
    sql("CREATE NAMESPACE graft_mpm.db")
    sql("CREATE TABLE graft_mpm.db.t (v BIGINT, pt INT) PARTITIONED BY (pt) " +
      "TBLPROPERTIES ('graft.commit.mode'='manifest')")
    sql("INSERT INTO graft_mpm.db.t VALUES (1, 9), (2, 10)")
    // "9" > "10" lexicographically — the typed compare must say 10
    assert(graft.catalog.CatalogFunctions.maxPt(
      spark, "graft_mpm", Array("db"), "t") == Some("10"))
  }

  test("cluster specs are guarded: no partition+cluster combos, no " +
      "dropping/renaming cluster columns") {
    val wh = Files.createTempDirectory("graft_cluster_guard").toString
    spark.conf.set("spark.sql.catalog.graft_cg", "graft.catalog.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft_cg.root", wh)
    sql("CREATE NAMESPACE graft_cg.db")
    // partitioned + bucketed: the partitioned write path can't enforce the
    // cluster contract, so creation must refuse
    val e1 = intercept[Exception](sql(
      "CREATE TABLE graft_cg.db.pb (v BIGINT, dt STRING) " +
        "PARTITIONED BY (dt, bucket(4, v))"))
    assert(e1.getMessage.contains("partitioned and hash/range-clustered"),
      e1.getMessage)
    // dropping or renaming a cluster column would orphan the stored spec
    sql("CREATE TABLE graft_cg.db.b (v BIGINT, w BIGINT) " +
      "PARTITIONED BY (bucket(4, v))")
    val e2 = intercept[Exception](
      sql("ALTER TABLE graft_cg.db.b DROP COLUMN v"))
    assert(e2.getMessage.contains("cluster column"), e2.getMessage)
    val e3 = intercept[Exception](
      sql("ALTER TABLE graft_cg.db.b RENAME COLUMN v TO v2"))
    assert(e3.getMessage.contains("cluster column"), e3.getMessage)
    // non-cluster columns still alter normally on the empty table
    sql("ALTER TABLE graft_cg.db.b DROP COLUMN w")
  }

  test("partition truncate prunes only the exact partition, never a " +
      "sibling sharing its name as a string prefix") {
    import org.apache.hadoop.fs.{Path => HPath}
    import graft.catalog.TableStatistics
    sql("CREATE NAMESPACE IF NOT EXISTS graft.dbs")
    sql("CREATE TABLE graft.dbs.sib (v BIGINT, dt STRING, h STRING) " +
      "PARTITIONED BY (dt, h)")
    val dir = new HPath(s"$warehouse/dbs/sib")
    def stored() = TableStatistics.read(dir).get
    def actual() = sql("SELECT count(*) FROM graft.dbs.sib").head().getLong(0)
    sql("INSERT INTO graft.dbs.sib VALUES " +
      "(1,'1','a'), (2,'1','b'), (3,'19','a'), (4,'19','a'), (5,'1x','a')")
    assert(stored().rows == 5 && stored().rows == actual())
    // truncate dt='1' (a leading-prefix spec): dt=19 and dt=1x are string-
    // prefix siblings of "dt=1" and must keep their stored stats
    sql("INSERT OVERWRITE graft.dbs.sib PARTITION (dt='1') VALUES (9,'c')")
    assert(stored().rows == actual(), s"stored=${stored()} actual=${actual()}")
    assert(stored().parts("dt=19/h=a").rows == 2)
    assert(stored().parts("dt=1x/h=a").rows == 1)
    assert(stored().parts.keySet.filter(_.startsWith("dt=1/")) == Set("dt=1/h=c"))
  }

  test("catalog works through a scheme-qualified file:/// root (Hadoop FS path)") {
    // behavioral proxy for HDFS/S3: every metastore op goes through the
    // Hadoop FileSystem API resolved from the root URI's scheme
    val dir = "file://" + Files.createTempDirectory("graft_wh_uri").toString
    spark.conf.set("spark.sql.catalog.graft_uri", "graft.catalog.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft_uri.root", dir)
    spark.sql("CREATE NAMESPACE graft_uri.dbu")
    spark.sql("CREATE TABLE graft_uri.dbu.t (name STRING, num INT, dt STRING) PARTITIONED BY (dt)")
    spark.sql("INSERT INTO graft_uri.dbu.t VALUES ('a', 1, '2020'), ('b', 2, '2021')")
    val out = spark.sql("SELECT name, num FROM graft_uri.dbu.t WHERE dt = '2021'")
    assert(out.collect().map(r => (r.getString(0), r.getInt(1))).toSeq == Seq(("b", 2)))
    spark.sql("ALTER TABLE graft_uri.dbu.t ADD PARTITION (dt='2022')")
    assert(spark.sql("SHOW PARTITIONS graft_uri.dbu.t").count() == 3)
    spark.sql("DROP TABLE graft_uri.dbu.t")
    assert(spark.sql("SHOW TABLES IN graft_uri.dbu").count() == 0)
  }

  test("table meta + stats are cached across queries inside the TTL; " +
      "DDL and commits invalidate; expiry re-reads") {
    import graft.catalog.MetaCache
    val wh = Files.createTempDirectory("graft_wh_cache").toString
    spark.conf.set("spark.sql.catalog.graft_mc", "graft.catalog.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft_mc.root", wh)
    spark.sql("CREATE NAMESPACE graft_mc.db")
    spark.sql("CREATE TABLE graft_mc.db.t (v BIGINT, dt STRING) PARTITIONED BY (dt)")
    spark.sql("INSERT INTO graft_mc.db.t VALUES (1, 'a'), (2, 'b')")
    val metaKey = s"$wh/db/t/_graft_meta.json"
    val statsKey = s"$wh/db/t/_graft_stats.json"
    def q(): Long = spark.sql("SELECT count(*) FROM graft_mc.db.t").head().getLong(0)
    assert(q() == 2)
    val metaWarm = MetaCache.meta.loadCount(metaKey)
    val statsWarm = MetaCache.stats.loadCount(statsKey)
    assert(metaWarm >= 1, "the key layout must match what the catalog caches under")

    (1 to 5).foreach(_ => assert(q() == 2))
    assert(MetaCache.meta.loadCount(metaKey) == metaWarm,
      "queries inside the TTL must not re-read the meta file")
    assert(MetaCache.stats.loadCount(statsKey) == statsWarm,
      "queries inside the TTL must not re-read the stats file")

    // DDL through the catalog invalidates → exactly one fresh meta read
    spark.sql("ALTER TABLE graft_mc.db.t SET TBLPROPERTIES ('graft.k'='v')")
    assert(q() == 2)
    val metaAfterDdl = MetaCache.meta.loadCount(metaKey)
    assert(metaAfterDdl == metaWarm + 1,
      "DDL must force exactly one fresh meta read")

    // a write commit refreshes stats (invalidating) → fresh stats read,
    // and the fresh value is the committed one
    spark.sql("INSERT INTO graft_mc.db.t VALUES (3, 'c')")
    assert(q() == 3)
    assert(MetaCache.stats.loadCount(statsKey) > statsWarm,
      "a commit must force a fresh stats read")

    // TTL expiry re-reads even without invalidation
    val saved = MetaCache.meta.ttlMs
    MetaCache.meta.ttlMs = -1L
    try {
      assert(q() == 3)
      assert(MetaCache.meta.loadCount(metaKey) > metaAfterDdl,
        "an expired entry must be re-read")
    } finally MetaCache.meta.ttlMs = saved
  }

  test("a load overtaken by invalidate must not re-install its stale value") {
    val c = new graft.catalog.TtlLruCache[String](10)
    // the load simulates "DDL invalidated this key while the FS read was
    // in flight" — the value it returns is already stale when it lands
    assert(c.get("k") { c.invalidate("k"); "v1" } == "v1")
    var reloaded = false
    assert(c.get("k") { reloaded = true; "v2" } == "v2")
    assert(reloaded, "the stale v1 must not have been cached")
    // and the clean v2 load cached normally: third get is a hit
    var again = false
    val v3 = c.get("k") { again = true; "v3" }
    assert(v3 == "v2" && !again, "the clean v2 load must have cached")
  }

  test("manifest-commit table: inserts commit pointers; VERSION AS OF, " +
      "TIMESTAMP AS OF and .history resolve through the catalog") {
    import org.apache.hadoop.fs.{Path => HPath}
    import graft.sources.Fs
    sql("CREATE NAMESPACE IF NOT EXISTS graft.mft")
    sql("CREATE TABLE graft.mft.t (v BIGINT, pt STRING) " +
      "PARTITIONED BY (pt) TBLPROPERTIES ('graft.commit.mode'='manifest')")
    sql("INSERT INTO graft.mft.t VALUES (1,'a'), (2,'b')")          // p0
    sql("INSERT INTO graft.mft.t VALUES (3,'a')")                    // p1
    sql("INSERT OVERWRITE graft.mft.t VALUES (9,'a')")               // p2
    def sums(q: String): Map[String, Long] =
      sql(q).collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(sums("SELECT pt, sum(v) FROM graft.mft.t GROUP BY pt") ==
      Map("a" -> 9L))
    assert(sums("SELECT pt, sum(v) FROM graft.mft.t VERSION AS OF 1 " +
      "GROUP BY pt") == Map("a" -> 4L, "b" -> 2L))
    assert(sums("SELECT pt, sum(v) FROM graft.mft.t VERSION AS OF 0 " +
      "GROUP BY pt") == Map("a" -> 1L, "b" -> 2L))
    // TIMESTAMP AS OF now → the latest pointer
    assert(sums("SELECT pt, sum(v) FROM graft.mft.t TIMESTAMP AS OF " +
      "(current_timestamp() + INTERVAL 1 MINUTE) GROUP BY pt") ==
      Map("a" -> 9L))
    // the commit log as a metadata table — pointer ids 0..2, latest last
    val hist = sql("SELECT pointer_id, is_latest FROM graft.mft.t.history " +
      "ORDER BY pointer_id").collect().map(r => (r.getLong(0), r.getBoolean(1)))
    assert(hist.toSeq == Seq((0L, false), (1L, false), (2L, true)))
    // readers never list: planted crash debris outside the pointer, and
    // a stray parquet file inside a cited leaf, are both invisible to the
    // catalog read
    val loc = s"$warehouse/mft/t"
    spark.range(5).selectExpr("id AS v", "'zz' AS pt")
      .write.parquet(s"$loc/_gen/g=99")
    val stray = Files.createTempDirectory("graft_stray").toString + "/s"
    spark.range(7).selectExpr("id AS v").coalesce(1).write.parquet(stray)
    val strayFile = Fs.of(new HPath(stray)).listStatus(new HPath(stray))
      .map(_.getPath).filter(_.getName.endsWith(".parquet")).head
    val citedLeaf = new HPath(s"$loc/_gen/g=2/pt=a")
    assert(Fs.exists(citedLeaf), "p2 cites g=2 for pt=a")
    Fs.rename(strayFile, new HPath(citedLeaf, "part-99999-stray.parquet"))
    assert(sql("SELECT count(*) FROM graft.mft.t").head().getLong(0) == 1)
    // a vacuumed pointer fails loudly, not partially
    graft.sources.ManifestCommit.vacuum(loc, keepPointers = 1)
    val e = intercept[Exception](
      sql("SELECT * FROM graft.mft.t VERSION AS OF 0").collect())
    assert(e.getMessage.contains("vacuum"), e.getMessage)
    // time travel on a plain table refuses with a clear message
    sql("CREATE TABLE graft.mft.plain (v BIGINT, pt STRING) PARTITIONED BY (pt)")
    val e2 = intercept[Exception](
      sql("SELECT * FROM graft.mft.plain VERSION AS OF 0").collect())
    assert(e2.getMessage.contains("manifest"), e2.getMessage)
  }

  test("manifest table: static partition overwrite and dynamic overwrite " +
      "each commit exactly one new pointer") {
    sql("CREATE NAMESPACE IF NOT EXISTS graft.mft2")
    sql("CREATE TABLE graft.mft2.t (v BIGINT, pt STRING) " +
      "PARTITIONED BY (pt) TBLPROPERTIES ('graft.commit.mode'='manifest')")
    val loc = s"$warehouse/mft2/t"
    def pointers() = graft.sources.ManifestCommit.pointerIds(loc).size
    sql("INSERT INTO graft.mft2.t VALUES (1,'a'), (2,'b'), (3,'c')")
    assert(pointers() == 1)
    // static partition overwrite: only pt='a' replaced, one pointer
    sql("INSERT OVERWRITE graft.mft2.t PARTITION (pt='a') VALUES (10)")
    assert(pointers() == 2)
    def state(): Map[String, Long] =
      sql("SELECT pt, sum(v) FROM graft.mft2.t GROUP BY pt")
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(state() == Map("a" -> 10L, "b" -> 2L, "c" -> 3L))
    // dynamic overwrite: replaces exactly the touched partitions
    val saved = spark.conf.getOption("spark.sql.sources.partitionOverwriteMode")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try sql("INSERT OVERWRITE graft.mft2.t VALUES (20, 'b')")
    finally saved match {
      case Some(v) => spark.conf.set("spark.sql.sources.partitionOverwriteMode", v)
      case None => spark.conf.unset("spark.sql.sources.partitionOverwriteMode")
    }
    assert(pointers() == 3)
    assert(state() == Map("a" -> 10L, "b" -> 20L, "c" -> 3L))
    // manifest mode without partition columns must refuse at CREATE
    val e = intercept[Exception](sql(
      "CREATE TABLE graft.mft2.np (v BIGINT) " +
        "TBLPROPERTIES ('graft.commit.mode'='manifest')"))
    assert(e.getMessage.contains("partition"), e.getMessage)
  }

  test("an external table whose LOCATION is a manifest layout reads the " +
      "latest pointer read-only") {
    import java.nio.file.Files
    val ext = Files.createTempDirectory("graft_ext_manifest").toString + "/t"
    val df = spark.range(4).selectExpr("id AS v",
      "CASE WHEN id % 2 = 0 THEN 'x' ELSE 'y' END AS pt")
    graft.sources.ManifestCommit.writePartitioned(df, ext, Seq("pt"))
    graft.sources.ManifestCommit.writePartitioned(
      df.filter("pt = 'x'").selectExpr("v + 100 AS v", "pt"), ext, Seq("pt"))
    sql("CREATE NAMESPACE IF NOT EXISTS graft.mft3")
    sql("CREATE EXTERNAL TABLE graft.mft3.e (v BIGINT, pt STRING) " +
      s"PARTITIONED BY (pt) LOCATION '$ext'")
    val cur = sql("SELECT pt, sum(v) FROM graft.mft3.e GROUP BY pt")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(cur == Map("x" -> 202L, "y" -> 4L))
    // version 0 still resolvable through the catalog
    val v0 = sql("SELECT pt, sum(v) FROM graft.mft3.e VERSION AS OF 0 " +
      "GROUP BY pt").collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(v0 == Map("x" -> 2L, "y" -> 4L))
    // external ⇒ read-only through the catalog
    val e = intercept[Exception](
      sql("INSERT INTO graft.mft3.e VALUES (1, 'x')"))
    assert(e.getMessage.toLowerCase.contains("does not support") ||
      e.getMessage.contains("external"), e.getMessage)
  }

  /** Job descriptions of every Spark job started while `f` runs. The
    * listener bus delivers in order, so once a marker job's start has
    * arrived, every earlier job start has too. */
  private def jobsDuring[A](f: => A): (A, Seq[String]) = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        seen.add(Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .getOrElse(""))
    }
    def drain(marker: String): Unit = {
      sc.setJobDescription(marker)
      try sc.parallelize(Seq(1), 1).count()
      finally sc.setJobDescription(null)
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!seen.contains(marker) && System.nanoTime() < deadline)
        Thread.sleep(10)
      assert(seen.contains(marker), s"listener never saw $marker")
    }
    sc.addSparkListener(listener)
    try {
      drain("jobsDuring-before")
      seen.clear()
      val out = f
      drain("jobsDuring-after")
      (out, seen.asScala.toSeq.filterNot(_ == "jobsDuring-after"))
    } finally sc.removeSparkListener(listener)
  }

  private def manifestTable(ns: String): String = {
    sql(s"CREATE NAMESPACE IF NOT EXISTS graft.$ns")
    sql(s"CREATE TABLE graft.$ns.t (v BIGINT, pt STRING) " +
      "PARTITIONED BY (pt) TBLPROPERTIES ('graft.commit.mode'='manifest')")
    s"$warehouse/$ns/t"
  }

  test("manifest table: a cited data file that is gone fails the catalog " +
      "read with an error naming it") {
    import org.apache.hadoop.fs.{Path => HPath}
    import graft.sources.{Fs, ManifestCommit}
    val loc = manifestTable("mft4")
    sql("INSERT INTO graft.mft4.t SELECT id AS v, " +
      "IF(id % 2 = 0, 'a', 'b') AS pt FROM range(100)")
    assert(sql("SELECT count(*) FROM graft.mft4.t").head().getLong(0) == 100)
    val p = ManifestCommit.latestSnapshot(loc).get
    val g = p.partitions("pt=a").head
    val victim = p.files(("pt=a", g)).head.name
    assert(Fs.delete(new HPath(s"$loc/_gen/g=$g/pt=a/$victim")))
    val e = intercept[Exception](
      sql("SELECT count(*) FROM graft.mft4.t").collect())
    val messages = Iterator.iterate[Throwable](e)(_.getCause)
      .takeWhile(_ != null).map(t => String.valueOf(t.getMessage))
      .mkString("\n")
    assert(messages.contains(victim), messages)
  }

  test("manifest table: planning a partition-pruned read over 40 " +
      "partitions starts no Spark job and scans exactly the pointer's " +
      "files for that partition") {
    import org.apache.hadoop.fs.{Path => HPath}
    import org.apache.spark.sql.execution.datasources.FilePartition
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    import graft.sources.ManifestCommit
    val loc = manifestTable("mft5")
    sql("INSERT INTO graft.mft5.t SELECT id AS v, " +
      "format_string('d%02d', id % 40) AS pt FROM range(400)")
    val p = ManifestCommit.latestSnapshot(loc).get
    assert(p.partitions.size == 40)
    val q = sql("SELECT sum(v) FROM graft.mft5.t WHERE pt = 'd17'")
    val (scanned, jobs) = jobsDuring {
      graft.plans.PlanNodes(q.queryExecution.executedPlan)
        .collect { case b: BatchScanExec => b.inputPartitions }.flatten
        .flatMap { case fp: FilePartition => fp.files.map(_.toPath) }
    }
    assert(jobs.isEmpty, s"planning started jobs: $jobs")
    val expected = p.partitions("pt=d17").flatMap(g =>
      p.files(("pt=d17", g)).map(f => s"$loc/_gen/g=$g/pt=d17/${f.name}"))
    assert(expected.nonEmpty)
    assert(scanned.map(_.toUri.getPath).sorted ==
      expected.map(new HPath(_).toUri.getPath).sorted)
    assert(q.head().getLong(0) == (0L until 400L).filter(_ % 40 == 17).sum)
  }

  test("manifest table: a hand-written v1 pointer reads like its v2 twin; " +
      "an INSERT onto it records files for the touched partition only") {
    import org.apache.hadoop.fs.{Path => HPath}
    import graft.sources.{Fs, Maintenance, ManifestCommit}
    val loc = manifestTable("mft6")
    sql("INSERT INTO graft.mft6.t VALUES (1,'a'), (2,'b'), (3,'c')")
    sql("INSERT INTO graft.mft6.t VALUES (4,'a')")
    def rows(): Seq[(String, Long)] =
      sql("SELECT pt, v FROM graft.mft6.t").collect()
        .map(r => (r.getString(0), r.getLong(1))).toSeq.sorted
    val v2Rows = rows()
    assert(v2Rows == Seq(("a", 1L), ("a", 4L), ("b", 2L), ("c", 3L)))
    val v2 = ManifestCommit.latestSnapshot(loc).get
    assert(v2.files.keySet == v2.partitions.toSeq.flatMap { case (rel, gens) =>
      gens.map(rel -> _) }.toSet, "every v2 pair carries its files")
    // the same state as a v1 pointer: partition lines only
    val v1Body = ("graft-pointer v1" +: v2.partitions.toSeq.sortBy(_._1).map {
      case (rel, gens) => (rel +: gens.map(_.toString)).mkString("\t")
    }).mkString("\n")
    Fs.writeString(new HPath(s"$loc/_pointer/p${v2.id + 1}.txt"), v1Body)
    val v1 = ManifestCommit.latestSnapshot(loc).get
    assert(v1.id == v2.id + 1 && v1.partitions == v2.partitions &&
      v1.files.isEmpty)
    assert(rows() == v2Rows)
    // maintenance planning falls back to listing v1 leaves
    assert(ManifestCommit.compactionCandidates(loc, 1L << 30)
      .map(c => c.rel -> c.files) == Seq("pt=a" -> 2))
    // an append onto the v1 pointer: only the fresh (pt=b, g) pair gets
    // file lines; the v1 pairs are carried forward as v1 lines
    sql("INSERT INTO graft.mft6.t VALUES (5,'b')")
    val v3 = ManifestCommit.latestSnapshot(loc).get
    val freshGen = v3.partitions("pt=b").last
    assert(v3.partitions == v2.partitions.updated("pt=b",
      v2.partitions("pt=b") :+ freshGen))
    assert(v3.files.keySet == Set(("pt=b", freshGen)))
    assert(rows() == (v2Rows :+ ("b", 5L)).sorted)
    // compaction records files for what it rewrites; the rest stay v1
    assert(Maintenance.compactPartitions(spark, loc, Seq("pt"), 1L << 30)
      == Seq("pt=a", "pt=b"))
    val v4 = ManifestCommit.latestSnapshot(loc).get
    assert(v4.files.keySet.map(_._1) == Set("pt=a", "pt=b"))
    assert(!v4.files.keySet.exists(_._1 == "pt=c"))
    assert(rows() == (v2Rows :+ ("b", 5L)).sorted)
  }

  test("a plain partitioned table and a manifest table agree on append, " +
      "static, partition-prefix and dynamic INSERT OVERWRITE") {
    sql("CREATE NAMESPACE IF NOT EXISTS graft.modes")
    sql("CREATE TABLE graft.modes.plain (v BIGINT, pt STRING) PARTITIONED BY (pt)")
    manifestTable("modes")
    val tables = Seq("graft.modes.plain", "graft.modes.t")
    def rows(t: String): Seq[(String, Long)] =
      sql(s"SELECT pt, v FROM $t").collect()
        .map(r => (r.getString(0), r.getLong(1))).toSeq.sorted
    // (statement over {T}, partitionOverwriteMode, rows after it)
    val steps = Seq(
      ("INSERT INTO {T} VALUES (1,'a'), (2,'b'), (3,'c')", "static",
        Seq(("a", 1L), ("b", 2L), ("c", 3L))),
      ("INSERT INTO {T} VALUES (4,'a')", "static",
        Seq(("a", 1L), ("a", 4L), ("b", 2L), ("c", 3L))),
      ("INSERT OVERWRITE {T} VALUES (5,'a'), (6,'b')", "static",
        Seq(("a", 5L), ("b", 6L))),
      ("INSERT OVERWRITE {T} PARTITION (pt='a') VALUES (7)", "static",
        Seq(("a", 7L), ("b", 6L))),
      ("INSERT OVERWRITE {T} VALUES (8,'b'), (9,'c')", "dynamic",
        Seq(("a", 7L), ("b", 8L), ("c", 9L))))
    val saved = spark.conf.getOption("spark.sql.sources.partitionOverwriteMode")
    try steps.foreach { case (stmt, mode, expected) =>
      spark.conf.set("spark.sql.sources.partitionOverwriteMode", mode)
      tables.foreach(t => sql(stmt.replace("{T}", t)))
      val got = tables.map(rows)
      assert(got.distinct.size == 1, s"$stmt ($mode): ${tables.zip(got)}")
      assert(got.head == expected, s"$stmt ($mode)")
    } finally saved match {
      case Some(v) => spark.conf.set("spark.sql.sources.partitionOverwriteMode", v)
      case None => spark.conf.unset("spark.sql.sources.partitionOverwriteMode")
    }
  }
}
