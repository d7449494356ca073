package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.sources.{JdbcImport, PartitionedWrite}

class SourcesSpec extends SparkTestBase {
  import spark.implicits._

  // ---- partitioned writes ----

  test("partitioned write + dynamic overwrite replaces only touched partitions") {
    val dir = Files.createTempDirectory("graft_pw").toString
    val o = Tables.orders(spark, sf)
      .withColumn("yr", year(col("o_orderdate")))
    PartitionedWrite.writePartitioned(o, dir, Seq("yr"))
    val before = spark.read.parquet(dir)
    assert(before.count() == o.count())
    assert(before.select("yr").distinct().count() ==
      o.select("yr").distinct().count())

    // Overwrite a single partition with one row; others must survive.
    val one = o.filter(col("yr") === 1995).limit(1)
    PartitionedWrite.writePartitioned(one, dir, Seq("yr"))
    val after = spark.read.parquet(dir)
    assert(after.filter(col("yr") === 1995).count() == 1)
    assert(after.filter(col("yr") =!= 1995).count() ==
      o.filter(col("yr") =!= 1995).count())
  }

  test("dynamic partition limit guard fails fast") {
    val o = Tables.orders(spark, sf)
      .withColumn("pt", col("o_orderkey") % 1000)
    val e = intercept[IllegalArgumentException] {
      PartitionedWrite.checkDynamicPartitionLimit(o, Seq("pt"), limit = 10)
    }
    assert(e.getMessage.contains("exceeds limit"))
  }

  test("append-mode partitioned write adds files without replacing partitions") {
    val dir = Files.createTempDirectory("graft_pw_app").toString
    val o = Tables.orders(spark, sf)
      .withColumn("yr", year(col("o_orderdate")))
    PartitionedWrite.writePartitioned(o, dir, Seq("yr"))
    val one = o.filter(col("yr") === 1995).limit(3)
    PartitionedWrite.writePartitioned(one, dir, Seq("yr"), overwrite = false)
    val after = spark.read.parquet(dir)
    assert(after.filter(col("yr") === 1995).count() ==
      o.filter(col("yr") === 1995).count() + 3)
    assert(after.filter(col("yr") =!= 1995).count() ==
      o.filter(col("yr") =!= 1995).count())
  }

  test("multi-level partitioned write swaps nested partition dirs") {
    val dir = Files.createTempDirectory("graft_pw_multi").toString
    val o = Tables.orders(spark, sf)
      .withColumn("yr", year(col("o_orderdate")))
      .withColumn("st", col("o_orderstatus"))
    PartitionedWrite.writePartitioned(o, dir, Seq("yr", "st"))
    val back = spark.read.parquet(dir)
    assert(back.count() == o.count())
    // replace one leaf partition; sibling statuses in the same year survive
    val one = o.filter(col("yr") === 1995 && col("st") === "O").limit(1)
    PartitionedWrite.writePartitioned(one, dir, Seq("yr", "st"))
    val after = spark.read.parquet(dir)
    assert(after.filter(col("yr") === 1995 && col("st") === "O").count() == 1)
    assert(after.filter(col("yr") === 1995 && col("st") =!= "O").count() ==
      o.filter(col("yr") === 1995 && col("st") =!= "O").count())
  }

  test("writePartitioned enforces the limit with ONE input scan, target untouched") {
    val dir = Files.createTempDirectory("graft_limit").toString
    val scans = spark.sparkContext.longAccumulator("scans")
    val counted = udf { (k: Long) => scans.add(1L); k }
    val o = Tables.orders(spark, sf).limit(100)
      .select(col("o_orderkey"), col("o_totalprice"),
        (counted(col("o_orderkey")) % 50).as("pt"))
    val e = intercept[IllegalArgumentException] {
      PartitionedWrite.writePartitioned(o, dir, Seq("pt"), limit = 10)
    }
    assert(e.getMessage.contains("exceeds limit"))
    // the input pipeline ran exactly once (into staging), not a count-scan + write
    assert(scans.value == 100, s"input scanned ${scans.value} row-evals, want 100")
    // the violating write never mutated the target
    val leftovers = Option(new java.io.File(dir).listFiles()).getOrElse(Array.empty)
    assert(!leftovers.exists(_.getName.startsWith("pt=")), leftovers.mkString(","))
  }

  test("%{col} partition template resolves per row") {
    val df = Seq(("a", 2024), ("b", 2025)).toDF("name", "yr")
    val got = df.select(
      PartitionedWrite.resolveTemplate("pt_%{yr}_%{name}").as("pt"))
      .collect().map(_.getString(0)).sorted
    assert(got.toSeq == Seq("pt_2024_a", "pt_2025_b"))
  }

  test("static-partition overwrite with EMPTY result still truncates") {
    val dir = Files.createTempDirectory("graft_empty_ow").toString
    val o = Tables.orders(spark, sf)
      .withColumn("yr", year(col("o_orderdate")).cast("string"))
    PartitionedWrite.writePartitioned(o, dir, Seq("yr"))
    val before = spark.read.parquet(dir).filter(col("yr") === "1995").count()
    assert(before > 0)
    // overwrite yr=1995 with an empty result — must truncate, not no-op
    PartitionedWrite.overwriteStaticPartition(
      o.filter(lit(false)), dir, Seq("yr" -> "1995"))
    val after = spark.read.parquet(dir)
    assert(after.filter(col("yr") === "1995").count() == 0)
    assert(after.filter(col("yr") =!= "1995").count() ==
      o.filter(col("yr") =!= "1995").count())
  }

  test("maxPt finds the latest partition value") {
    val dir = Files.createTempDirectory("graft_maxpt").toString
    val o = Tables.orders(spark, sf)
      .withColumn("mon", date_format(col("o_orderdate"), "yyyy-MM"))
    PartitionedWrite.writePartitioned(o, dir, Seq("mon"))
    val pt = PartitionedWrite.maxPt(spark.read.parquet(dir), "mon")
    val want = o.agg(max("mon")).head().getString(0)
    assert(pt == want)
    // listing-based variant: same answer from the directory names alone
    assert(PartitionedWrite.maxPtListing(dir, "mon").contains(want))
    assert(PartitionedWrite.maxPtListing(dir, "nope").isEmpty)
  }

  test("checkpoints work over file:// URIs and survive a crash mid-save") {
    val dir = "file://" + Files.createTempDirectory("graft_ckpt_fs").toString
    val ck = new graft.sources.OffsetMarks(dir)
    ck.advance("job", "0")(_ => "100")
    assert(ck.load("job").contains("100"))
    // simulate a crash after a commit's tmp write but before its claim
    // rename: the hidden tmp must not shadow the committed mark…
    graft.sources.Fs.writeString(
      new org.apache.hadoop.fs.Path(dir, ".job.ckpt.g0c4f1a2e.tmp"), "torn")
    assert(ck.load("job").contains("100"))
    // …and the next cycle runs from that mark and commits cleanly
    assert(ck.advance("job", "0")(last => (last.toLong + 100).toString) == "200")
    assert(ck.load("job").contains("200"))
    assert(ck.loadCas("job")._2 == 2L)
  }

  // ---- file formats (Sqoop text/csv/json surface) ----

  test("delimited csv round trip preserves values and nulls") {
    val dir = Files.createTempDirectory("graft_csv").toString
    val src = Tables.orders(spark, sf)
      .select(col("o_orderkey"), col("o_totalprice"),
        when(col("o_orderstatus") === "P", lit(null).cast("string"))
          .otherwise(col("o_orderstatus")).as("status"))
      .limit(500)
    graft.sources.FileFormats.writeDelimited(src, dir, delimiter = "|")
    val back = graft.sources.FileFormats.readDelimited(spark, dir, src.schema,
      delimiter = "|")
    assert(back.count() == 500)
    assert(back.except(src).isEmpty && src.except(back).isEmpty)
  }

  test("orc round trip (columnar alternative format)") {
    val dir = Files.createTempDirectory("graft_orc").toString
    val src = Tables.lineitem(spark, sf)
      .select("l_orderkey", "l_linenumber", "l_quantity").limit(1000)
    src.write.mode("overwrite").orc(dir)
    val back = spark.read.orc(dir)
    assert(back.except(src).isEmpty && src.except(back).isEmpty)
  }

  test("avro container round trip (splittable Hadoop input format)") {
    val dir = Files.createTempDirectory("graft_avro").toString + "/data"
    val src = Tables.orders(spark, sf)
      .select(col("o_orderkey"), col("o_totalprice"),
        when(col("o_orderstatus") === "P", lit(null).cast("string"))
          .otherwise(col("o_orderstatus")).as("status"))
      .limit(500)
    graft.sources.FileFormats.writeAvro(src, dir)
    val back = graft.sources.FileFormats.readAvro(spark, dir, src.schema)
    assert(back.count() == 500)
    assert(back.except(src).isEmpty && src.except(back).isEmpty)
  }

  test("keyed sequence file round trip + raw-key text output") {
    val dir = Files.createTempDirectory("graft_seq").toString + "/data"
    val src = Tables.nation(spark, sf)
      .select(col("n_nationkey").cast("string").as("k"), col("n_name").as("v"))
    graft.sources.FileFormats.writeKeyedSequenceFile(src, dir, "k", "v")
    val back = graft.sources.FileFormats.readKeyedSequenceFile(spark, dir)
      .withColumnsRenamed(Map("key" -> "k", "value" -> "v"))
    assert(back.count() == src.count())
    assert(back.except(src).isEmpty && src.except(back).isEmpty)

    val txtDir = Files.createTempDirectory("graft_rawkey").toString
    graft.sources.FileFormats.writeRawKeyText(src, txtDir, "v")
    val lines = spark.read.text(txtDir)
    assert(lines.count() == src.count())
    assert(lines.join(src, lines("value") === src("v"), "left_anti").count() == 0)
  }

  test("avro round trip with logical types: decimal, date, timestamp, ntz, binary") {
    val dir = Files.createTempDirectory("graft_avro_lt").toString + "/data"
    val src = Tables.orders(spark, sf).limit(200)
      .select(
        col("o_orderkey"),
        col("o_totalprice").cast("decimal(12,2)").as("price_d"),
        col("o_totalprice").cast("decimal(38,18)").as("price_wide"),
        to_date(col("o_orderdate")).as("odate"),
        col("o_orderdate").as("ots"),
        col("o_orderdate").cast("timestamp_ntz").as("ots_ntz"),
        encode(col("o_orderstatus"), "UTF-8").as("payload"),
        // null in every logical-typed column exercises the union(null, T) path
        when(col("o_orderkey") % 7 === 0, lit(null).cast("decimal(12,2)"))
          .otherwise(col("o_totalprice").cast("decimal(12,2)")).as("price_n"),
        when(col("o_orderkey") % 5 === 0, lit(null).cast("date"))
          .otherwise(to_date(col("o_orderdate"))).as("odate_n"),
        when(col("o_orderkey") % 3 === 0, lit(null).cast("timestamp"))
          .otherwise(col("o_orderdate")).as("ots_n"))
    graft.sources.FileFormats.writeAvro(src, dir)
    val back = graft.sources.FileFormats.readAvro(spark, dir, src.schema)
    assert(back.count() == 200)
    assert(back.except(src).isEmpty && src.except(back).isEmpty)
  }

  test("avro schema inference reads the writer schema from the container") {
    val dir = Files.createTempDirectory("graft_avro_inf").toString + "/data"
    val src = Tables.orders(spark, sf).limit(100)
      .select(col("o_orderkey"),
        col("o_totalprice").cast("decimal(12,2)").as("price_d"),
        to_date(col("o_orderdate")).as("odate"),
        col("o_orderdate").as("ots"),
        when(col("o_orderkey") % 3 === 0, lit(null).cast("string"))
          .otherwise(col("o_orderstatus")).as("status"))
    graft.sources.FileFormats.writeAvro(src, dir)
    // no schema passed: inferred from the embedded writer schema
    val back = graft.sources.FileFormats.readAvro(spark, dir)
    assert(back.schema == src.schema)
    assert(back.except(src).isEmpty && src.except(back).isEmpty)
  }

  test("avro decimal round-trips negatives and sub-unit scale exactly") {
    val dir = Files.createTempDirectory("graft_avro_dec").toString + "/data"
    val src = Seq("-12345.67", "-0.01", "0.00", "0.05", "99999999.99")
      .toDF("s").select(col("s").cast("decimal(10,2)").as("d"))
    graft.sources.FileFormats.writeAvro(src, dir)
    val back = graft.sources.FileFormats.readAvro(spark, dir, src.schema)
    assert(back.except(src).isEmpty && src.except(back).isEmpty)
  }

  test("avro timestamp/date round-trip pre-epoch values (negative micros)") {
    val dir = Files.createTempDirectory("graft_avro_pre").toString + "/data"
    val src = Seq("1901-07-02 03:04:05.123456", "1969-12-31 23:59:59.5",
        "2038-01-19 03:14:08")
      .toDF("s")
      .select(col("s").cast("timestamp").as("ts"),
        col("s").cast("timestamp").cast("timestamp_ntz").as("ts_ntz"),
        col("s").cast("date").as("dt"))
    graft.sources.FileFormats.writeAvro(src, dir)
    val back = graft.sources.FileFormats.readAvro(spark, dir, src.schema)
    assert(back.except(src).isEmpty && src.except(back).isEmpty)
  }

  test("avro round trip with non-nullable and narrow-int columns") {
    val dir = Files.createTempDirectory("graft_avro_nn").toString + "/data"
    val src = spark.range(100).select(col("id"),
      (col("id") % 5).cast("smallint").as("k"),
      (col("id") % 3).cast("tinyint").as("b"))
    graft.sources.FileFormats.writeAvro(src, dir)
    val back = graft.sources.FileFormats.readAvro(spark, dir, src.schema)
    assert(back.except(src).isEmpty && src.except(back).isEmpty)
  }

  test("json lines round trip with fixed schema") {
    val dir = Files.createTempDirectory("graft_json").toString
    val src = Tables.events(spark, sf)
      .select("event_id", "user_id", "event_type", "value").limit(300)
    graft.sources.FileFormats.writeJsonLines(src, dir)
    val back = graft.sources.FileFormats.readJsonLines(spark, dir, src.schema)
    assert(back.except(src).isEmpty && src.except(back).isEmpty)
  }

  test("raw text parse: delimited serializer semantics") {
    val dir = Files.createTempDirectory("graft_txt").toString
    Seq("1;alice;9.5", "2;bob;3.25").toDF("value")
      .write.mode("overwrite").text(dir)
    val parsed = graft.sources.FileFormats.readTextParsed(spark, dir,
      graft.sources.FileFormats.delimitedParser(";", Seq("id", "name", "score")))
      .select(col("id").cast("long"), col("name"), col("score").cast("double"))
      .orderBy("id")
    assert(parsed.collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
      .toSeq == Seq((1L, "alice", 9.5), (2L, "bob", 3.25)))
  }

  // ---- JDBC (embedded Derby — the Sqoop HsqldbTestServer pattern,
  //      odps-sqoop/src/test/.../HsqldbTestServer.java) ----

  private lazy val derbyUrl: String = {
    val dir = Files.createTempDirectory("graft_derby").toString
    val url = s"jdbc:derby:$dir/db;create=true"
    val conn = java.sql.DriverManager.getConnection(url)
    val st = conn.createStatement()
    st.execute("CREATE TABLE emp (id INT PRIMARY KEY, name VARCHAR(32), sal DOUBLE)")
    (1 to 97).foreach(i =>
      st.execute(s"INSERT INTO emp VALUES ($i, 'name$i', ${i * 10.0})"))
    conn.close()
    url
  }

  test("split predicates cover the range exactly once") {
    val preds = JdbcImport.splitPredicates("id", 1, 97, 4)
    assert(preds.size == 4)
    assert(preds.head.startsWith("id >= 1 AND id < "))
    assert(preds.last.endsWith("id <= 97"))
  }

  test("split predicates survive a full-long-range split column") {
    // (hi - lo + 1) overflows Long here; BigInt math must still cover
    // the whole range exactly once
    val preds = JdbcImport.splitPredicates(
      "id", Long.MinValue, Long.MaxValue, 4)
    assert(preds.size == 4)
    assert(preds.head.contains(s"id >= ${Long.MinValue}"))
    assert(preds.last.endsWith(s"id <= ${Long.MaxValue}"))
    // interior bounds chain: each range starts where the previous ended
    val bounds = preds.flatMap("< (-?\\d+)".r.findFirstMatchIn(_))
      .map(_.group(1))
    val starts = preds.tail.flatMap(">= (-?\\d+)".r.findFirstMatchIn(_))
      .map(_.group(1))
    assert(bounds == starts, s"gaps between ranges: $preds")
  }

  test("incremental import with no new rows returns empty, not an NPE") {
    val df = JdbcImport.importTable(spark, JdbcImport.ImportConfig(
      url = derbyUrl, table = "emp", splitBy = "id", numMappers = 4,
      incremental = Some(JdbcImport.Append("id", "1000000"))))
    assert(df.count() == 0)
    assert(df.columns.toSeq.map(_.toLowerCase) == Seq("id", "name", "sal"))
  }

  test("parallel jdbc import reads all rows across 4 mappers") {
    val df = JdbcImport.importTable(spark, JdbcImport.ImportConfig(
      url = derbyUrl, table = "emp", splitBy = "id", numMappers = 4))
    assert(df.rdd.getNumPartitions == 4)
    assert(df.count() == 97)
    assert(df.agg(sum("sal")).head().getDouble(0) == (1 to 97).map(_ * 10.0).sum)
  }

  test("free-form query with $CONDITIONS and incremental append") {
    val df = JdbcImport.importTable(spark, JdbcImport.ImportConfig(
      url = derbyUrl,
      query = "SELECT id, sal FROM emp WHERE $CONDITIONS",
      splitBy = "id", numMappers = 3,
      incremental = Some(JdbcImport.Append("id", "90"))))
    assert(df.count() == 7)
    assert(df.agg(min("id")).head().getInt(0) == 91)
  }

  test("jdbc export appends and upsert merges") {
    val conn = java.sql.DriverManager.getConnection(derbyUrl)
    conn.createStatement().execute(
      "CREATE TABLE emp_out (id INT PRIMARY KEY, name VARCHAR(32), sal DOUBLE)")
    conn.close()
    val df = Seq((1, "a", 1.0), (2, "b", 2.0)).toDF("id", "name", "sal")
    JdbcImport.exportTable(df, derbyUrl, "emp_out")
    val upd = Seq((2, "B", 20.0), (3, "c", 3.0)).toDF("id", "name", "sal")
    JdbcImport.exportUpsert(upd, derbyUrl,
      """MERGE INTO emp_out t USING SYSIBM.SYSDUMMY1
        |ON t.id = ? WHEN MATCHED THEN UPDATE SET name = ?, sal = ?
        |WHEN NOT MATCHED THEN INSERT (id, name, sal) VALUES (?, ?, ?)""".stripMargin) {
      (ps, r) =>
        ps.setInt(1, r.getInt(0))
        ps.setString(2, r.getString(1)); ps.setDouble(3, r.getDouble(2))
        ps.setInt(4, r.getInt(0)); ps.setString(5, r.getString(1))
        ps.setDouble(6, r.getDouble(2))
    }
    val back = JdbcImport.importTable(spark, JdbcImport.ImportConfig(
      url = derbyUrl, table = "emp_out"))
    val rows = back.orderBy("id").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getDouble(2))).toSeq
    assert(rows == Seq((1, "a", 1.0), (2, "B", 20.0), (3, "c", 3.0)))
  }

  test("staged jdbc export migrates on success, leaves target untouched on failure") {
    val conn = java.sql.DriverManager.getConnection(derbyUrl)
    conn.createStatement().execute(
      "CREATE TABLE stg_target (id INT PRIMARY KEY, name VARCHAR(8))")
    conn.createStatement().execute(
      "CREATE TABLE stg_stage (id INT, name VARCHAR(8))")
    conn.close()

    def targetRows(): Seq[(Int, String)] =
      JdbcImport.importTable(spark, JdbcImport.ImportConfig(
          url = derbyUrl, table = "stg_target"))
        .orderBy("id").collect().map(r => (r.getInt(0), r.getString(1))).toSeq
    def stagingCount(): Long =
      JdbcImport.importTable(spark, JdbcImport.ImportConfig(
        url = derbyUrl, table = "stg_stage")).count()

    // failure path: a VARCHAR(8) overflow aborts the staged write — the
    // target must not see any rows (staging may hold a partial batch)
    val bad = Seq((1, "ok"), (2, "way_too_long_for_varchar8")).toDF("id", "name")
    intercept[Exception] {
      JdbcImport.exportStaged(bad, derbyUrl, "stg_target", "stg_stage")
    }
    assert(targetRows().isEmpty, "failed export must not touch the target")

    // success path: clearStaging wipes the failure's residue, rows migrate,
    // staging ends empty
    val good = Seq((1, "a"), (2, "b")).toDF("id", "name")
    JdbcImport.exportStaged(good, derbyUrl, "stg_target", "stg_stage")
    assert(targetRows() == Seq((1, "a"), (2, "b")))
    assert(stagingCount() == 0, "staging must be drained after migration")
  }

  test("staged export lands columns by NAME when staging and target orders differ") {
    val conn = java.sql.DriverManager.getConnection(derbyUrl)
    // target declares (name, id); staging declares (id, name) — a
    // positional SELECT * migration would cross the columns
    conn.createStatement().execute(
      "CREATE TABLE ord_target (name VARCHAR(8), id INT PRIMARY KEY)")
    conn.createStatement().execute(
      "CREATE TABLE ord_stage (id INT, name VARCHAR(8))")
    conn.close()
    val df = Seq((1, "a"), (2, "b")).toDF("id", "name")
    JdbcImport.exportStaged(df, derbyUrl, "ord_target", "ord_stage")
    val back = JdbcImport.importTable(spark, JdbcImport.ImportConfig(
        url = derbyUrl, table = "ord_target"))
      .orderBy("id").collect().map(r =>
        (r.getAs[Int]("ID"), r.getAs[String]("NAME"))).toSeq
    assert(back == Seq((1, "a"), (2, "b")))
  }

  test("staged export rejects non-identifier table names and columns") {
    val df = Seq((1, "a")).toDF("id", "name")
    intercept[IllegalArgumentException] {
      JdbcImport.exportStaged(df, derbyUrl, "t; DROP TABLE emp", "stg")
    }
    intercept[IllegalArgumentException] {
      JdbcImport.exportStaged(df, derbyUrl, "t", "stg--comment")
    }
    intercept[IllegalArgumentException] {
      JdbcImport.exportStaged(df.withColumnRenamed("name", "na me"),
        derbyUrl, "emp_out", "stg")
    }
    assert(JdbcImport.validIdentifier("schema1.table_2"))
    assert(!JdbcImport.validIdentifier("a.b.c"))
  }

  test("CAS checkpoints: a stale commit fails, racing advances never " +
      "lose an update") {
    import graft.sources.OffsetMarks
    val dir = Files.createTempDirectory("graft_cas").toString
    val ck = new OffsetMarks(dir)

    val (v0, g0) = ck.loadCas("job")
    assert(v0.isEmpty && g0 == 0L)
    assert(ck.saveCas("job", g0, "10"), "first committer must win")
    assert(!ck.saveCas("job", g0, "7"),
      "a commit against a superseded generation must FAIL, not overwrite")
    assert(ck.loadCas("job") == (Some("10"), 1L))

    // advance re-runs its cycle from the winner's mark after losing
    var calls = 0
    val out = ck.advance("job", "0") { last =>
      calls += 1
      if (calls == 1) assert(ck.saveCas("job", 1L, "11")) // interloper wins
      (last.toLong + 1).toString
    }
    assert(calls == 2, "the lost cycle must re-run")
    assert(out == "12", "the re-run must start from the interloper's mark")
    assert(ck.loadCas("job") == (Some("12"), 3L))

    // canonical lost-update check: 4 threads × 5 increments all land
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try {
      val tasks = (1 to 4).map(_ => pool.submit(new Runnable {
        def run(): Unit = (1 to 5).foreach(_ =>
          ck.advance("ctr", "0", maxAttempts = 200)(l =>
            (l.toLong + 1).toString))
      }))
      tasks.foreach(_.get())
    } finally pool.shutdown()
    assert(ck.loadCas("ctr")._1.contains("20"),
      "every concurrent increment must be reflected exactly once")
  }

  test("generation log race: a polling reader sees no record or the whole " +
      "1 MB body; stale and pruned-below claims are refused") {
    import org.apache.hadoop.fs.Path
    import graft.sources.{Fs, GenerationLog}
    val log = new GenerationLog(
      new Path(Files.createTempDirectory("graft_genlog").toString), "r", ".txt")
    val rounds = 5
    val bodies = (0 until rounds).map(i => (('a' + i).toChar.toString) * (1 << 20))
    val torn = new java.util.concurrent.atomic.AtomicInteger()
    val seen = new java.util.concurrent.atomic.AtomicInteger()
    bodies.zipWithIndex.foreach { case (body, id) =>
      val target = log.path(id)
      val reader = new Thread(() => {
        val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
        var whole = false
        while (!whole && System.nanoTime() < deadline) {
          try {
            if (Fs.readString(target) == body) whole = true
            else torn.incrementAndGet()
          } catch {
            case _: java.io.FileNotFoundException => // not committed yet
            case _: java.io.IOException => torn.incrementAndGet()
          }
        }
        if (whole) seen.incrementAndGet()
      })
      reader.start()
      assert(log.commit(id - 1L, body), s"uncontended commit of id $id")
      reader.join(60000)
      assert(!reader.isAlive, "reader never saw the committed body")
    }
    assert(torn.get() == 0, s"${torn.get()} partial reads of a committed record")
    assert(seen.get() == rounds)
    assert(log.ids == (0L until rounds) && log.latest == rounds - 1L)
    assert(log.read().map(_._1).contains(rounds - 1L))
    // a stale claim is refused; so is one whose expected id was pruned
    assert(!log.commit(rounds - 2L, "stale"))
    log.prune(rounds - 1L)
    assert(log.ids == Seq(rounds - 1L))
    assert(!log.commit(0L, "below the latest"))
    assert(log.ids == Seq(rounds - 1L), "a lost claim leaves no record")
    assert(log.commit(rounds - 1L, "next") && log.read().contains(rounds.toLong -> "next"))
  }

  // ---- transient-error retry policy ----

  test("retry succeeds through 2 transient failures, aborts after 4, and " +
      "rethrows non-transient errors immediately") {
    import graft.sources.Retry
    val saved = Retry.baseBackoffMs
    Retry.baseBackoffMs = 1L
    try {
      var calls = 0
      val out = Retry.withBackoff("2-flaky") {
        calls += 1
        if (calls <= 2) throw new java.sql.SQLTransientException(s"flake $calls")
        42
      }
      assert(out == 42 && calls == 3)

      calls = 0
      val e = intercept[java.sql.SQLRecoverableException](Retry.withBackoff("4-flaky") {
        calls += 1
        throw new java.sql.SQLRecoverableException(s"flake $calls")
      })
      assert(calls == 4, "3 retries = 4 attempts, then abort")
      assert(e.getMessage == "flake 4", "the LAST failure surfaces")

      calls = 0
      intercept[java.sql.SQLSyntaxErrorException](Retry.withBackoff("syntax") {
        calls += 1
        throw new java.sql.SQLSyntaxErrorException("bad sql")
      })
      assert(calls == 1, "deterministic errors must not burn retries")

      // connection-class SQLStates (08xxx) are transient even as plain
      // SQLException; FileNotFound is deterministic even as an IOException
      assert(Retry.transientDefault(new java.sql.SQLException("conn", "08001")))
      assert(Retry.transientDefault(new java.sql.SQLException("deadlock", "40001")))
      assert(!Retry.transientDefault(new java.sql.SQLException("missing", "42X05")))
      assert(Retry.transientDefault(new java.io.IOException("reset")))
      assert(!Retry.transientDefault(new java.io.FileNotFoundException("gone")))
    } finally Retry.baseBackoffMs = saved
  }
}
