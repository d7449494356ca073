package graft

import java.nio.file.Files

import org.apache.hadoop.fs.{Path => HPath}

import org.apache.spark.sql.functions._

import graft.sources.{Fs, Maintenance}

class MaintenanceSpec extends SparkTestBase {
  import spark.implicits._

  private def leafFiles(dir: String): Seq[HPath] = {
    val p = new HPath(dir)
    Fs.of(p).listStatus(p).toSeq.filter(s =>
      s.isFile && s.getPath.getName.endsWith(".parquet")).map(_.getPath)
  }

  private def checksum(df: org.apache.spark.sql.DataFrame): Seq[(Int, Long, Long)] =
    df.groupBy(col("yr"))
      .agg(count(lit(1)).as("cnt"), sum(col("o_orderkey")).as("s"))
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
      .toSeq.sorted

  test("compaction merges fragmented partitions and preserves content") {
    val dir = Files.createTempDirectory("graft_compact").toString + "/t"
    val o = Tables.orders(spark, sf).withColumn("yr", year(col("o_orderdate")))
    o.repartition(16).write.partitionBy("yr").parquet(dir)

    val before = checksum(spark.read.parquet(dir))
    val years = before.map(_._1)
    assert(years.forall(y => leafFiles(s"$dir/yr=$y").size > 1),
      "setup must fragment every partition")

    val plans = Maintenance.compactionCandidates(dir, Seq("yr"), 1L << 30)
    assert(plans.map(_.rel).sorted == years.map(y => s"yr=$y").map(_.toString).sorted)
    assert(plans.forall(_.targetFiles == 1))

    val rels = Maintenance.compactPartitions(spark, dir, Seq("yr"), 1L << 30)
    assert(rels.sorted == plans.map(_.rel).sorted)
    assert(years.forall(y => leafFiles(s"$dir/yr=$y").size == 1))
    assert(checksum(spark.read.parquet(dir)) == before)
    // second run is a no-op: nothing is fragmented any more
    assert(Maintenance.compactPartitions(spark, dir, Seq("yr"), 1L << 30).isEmpty)
  }

  test("compaction touches only fragmented partitions") {
    val dir = Files.createTempDirectory("graft_compact_sel").toString + "/t"
    val o = Tables.orders(spark, sf).withColumn("yr", year(col("o_orderdate")))
    // one partition written well-sized, the rest fragmented
    o.filter(col("yr") === 1995).coalesce(1)
      .write.partitionBy("yr").parquet(dir)
    o.filter(col("yr") =!= 1995).repartition(8)
      .write.mode("append").partitionBy("yr").parquet(dir)

    val untouched = leafFiles(s"$dir/yr=1995")
    assert(untouched.size == 1)
    val before = checksum(spark.read.parquet(dir))

    val rels = Maintenance.compactPartitions(spark, dir, Seq("yr"), 1L << 30)
    assert(!rels.contains("yr=1995"), "well-sized partition must not be rewritten")
    assert(leafFiles(s"$dir/yr=1995") == untouched,
      "well-sized partition's file must survive byte-identical in place")
    assert(checksum(spark.read.parquet(dir)) == before)
  }

  test("a large partition compacts to multiple bounded files, not one") {
    val dir = Files.createTempDirectory("graft_compact_multi").toString + "/t"
    val o = Tables.orders(spark, sf).withColumn("yr", lit(2000))
    o.repartition(16).write.partitionBy("yr").parquet(dir)
    val bytes = Maintenance.compactionCandidates(dir, Seq("yr"), 1L << 30).head.bytes
    // target a third of the partition: want 2..targetFiles files, not 1,
    // not 16. The bucket exchange is AQE-coalescible by design (buckets
    // under the advisory size merge), so shrink the advisory size below a
    // bucket's bytes — the production regime, where buckets ~targetFileBytes
    // always exceed it — to observe the bucket separation.
    val plans = Maintenance.compactionCandidates(dir, Seq("yr"), bytes / 3)
    assert(plans.head.targetFiles >= 3 && plans.head.targetFiles < 16)
    val knobs = Seq("spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.adaptive.coalescePartitions.minPartitionSize")
    val saved = knobs.map(k => k -> spark.conf.getOption(k))
    try {
      knobs.foreach(spark.conf.set(_, "1b"))
      Maintenance.compactPartitions(spark, dir, Seq("yr"), bytes / 3)
    } finally saved.foreach { case (k, v) =>
      v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
    val n = leafFiles(s"$dir/yr=2000").size
    assert(n >= 2 && n <= plans.head.targetFiles,
      s"expected 2..${plans.head.targetFiles} files, got $n")
  }

  test("unpartitioned compaction rewrites the root files in place") {
    val dir = Files.createTempDirectory("graft_compact_flat").toString
    val s = Tables.supplier(spark, sf)
    s.repartition(12).write.mode("overwrite").parquet(dir)
    assert(leafFiles(dir).size > 1)
    val before = spark.read.parquet(dir).agg(
      count(lit(1)), sum(col("s_suppkey"))).head()

    val rels = Maintenance.compactPartitions(spark, dir, Nil, 1L << 30)
    assert(rels == Seq(""))
    assert(leafFiles(dir).size == 1)
    assert(spark.read.parquet(dir).agg(
      count(lit(1)), sum(col("s_suppkey"))).head() == before)
    assert(Maintenance.compactPartitions(spark, dir, Nil, 1L << 30).isEmpty)
  }

  test("unpartitioned swap: a crash at every step boundary leaves a " +
      "complete table visible to readers, never an empty or partial one") {
    val s = Tables.supplier(spark, sf)
    val expectKeys = s.select("s_suppkey").as[Long].collect().toSet
    val n = expectKeys.size
    // crash on the k-th occurrence of each swap step
    val crashes = Seq("adopt" -> 1, "adopted" -> 1, "retire" -> 1,
      "retire" -> 3, "retired" -> 1)
    for ((step, k) <- crashes) {
      val dir = Files.createTempDirectory(s"graft_crash_$step$k").toString
      s.repartition(6).write.mode("overwrite").parquet(dir)
      assert(leafFiles(dir).size > 1)
      var seen = 0
      Maintenance.onSwapStep = { st =>
        if (st == step) { seen += 1; if (seen == k) sys.error(s"injected crash at $st#$k") }
      }
      try {
        val e = intercept[Exception](
          Maintenance.compactPartitions(spark, dir, Nil, 1L << 30))
        assert(e.getMessage.contains("injected crash"))
      } finally Maintenance.onSwapStep = _ => ()
      // the reader invariant: every original row still visible (dup rows
      // are permitted transiently mid-swap; missing rows never are)
      val visible = spark.read.parquet(dir)
      assert(visible.select("s_suppkey").as[Long].collect().toSet == expectKeys,
        s"crash at $step#$k lost rows")
      assert(visible.count() >= n, s"crash at $step#$k emptied the table")
      // mid-swap crashes preserve staging + manifest for recovery
      val staging = new HPath(dir)
      val stagedDirs = Fs.of(staging).listStatus(staging).toSeq
        .filter(st => st.isDirectory && st.getPath.getName.startsWith(".graft_staging_"))
      if (step != "retired") {
        assert(stagedDirs.nonEmpty, s"crash at $step#$k must preserve staging")
        assert(Fs.exists(new HPath(stagedDirs.head.getPath, "_swap_manifest.json")))
      }
    }
  }

  test("maintenance refuses while a swap manifest is young — a live " +
      "concurrent swap must never be 'recovered' out from under its owner") {
    val s = Tables.supplier(spark, sf)
    val dir = Files.createTempDirectory("graft_refuse").toString
    s.repartition(6).write.mode("overwrite").parquet(dir)
    var seen = 0
    Maintenance.onSwapStep = { st =>
      if (st == "adopted") { seen += 1; sys.error("injected crash at adopted") }
    }
    try intercept[Exception](
      Maintenance.compactPartitions(spark, dir, Nil, 1L << 30))
    finally Maintenance.onSwapStep = _ => ()
    // the manifest is seconds old: indistinguishable from a live swap →
    // both compaction and zorder refuse rather than un-adopt its files
    val e1 = intercept[Exception](
      Maintenance.compactPartitions(spark, dir, Nil, 1L << 30))
    assert(e1.getMessage.contains("refusing maintenance"), e1.getMessage)
    val e2 = intercept[Exception](Maintenance.zorderRewrite(
      spark, dir, Nil, Seq("s_suppkey", "s_nationkey")))
    assert(e2.getMessage.contains("refusing maintenance"), e2.getMessage)
    // no data was touched by the refusals: old + adopted sets both intact
    val keys = Tables.supplier(spark, sf).select("s_suppkey").as[Long].collect().toSet
    assert(spark.read.parquet(dir).select("s_suppkey").as[Long]
      .collect().toSet == keys)
    // once aged (minAge 0), the same call recovers and compacts
    Maintenance.compactPartitions(spark, dir, Nil, 1L << 30,
      swapRecoveryMinAgeMs = 0L)
    assert(leafFiles(dir).size == 1)
  }

  test("unpartitioned compaction discards its rewrite when a writer " +
      "appended between planning and swap") {
    val dir = Files.createTempDirectory("graft_flat_race").toString
    val s = Tables.supplier(spark, sf)
    s.repartition(6).write.mode("overwrite").parquet(dir)
    val before = spark.read.parquet(dir).count()
    val filesBefore = leafFiles(dir).size
    // simulate the concurrent append inside the planning→swap window: the
    // plan seam fires right after the root file-set snapshot
    Maintenance.onPartitionedPlan = () => {
      s.limit(1).withColumn("s_suppkey", lit(999999999L))
        .write.mode("append").parquet(dir)
      Maintenance.onPartitionedPlan = () => ()
    }
    try {
      val rels = Maintenance.compactPartitions(spark, dir, Nil, 1L << 30)
      assert(rels.isEmpty, "stale rewrite must be discarded, not committed")
    } finally Maintenance.onPartitionedPlan = () => ()
    val after = spark.read.parquet(dir)
    assert(after.count() == before + 1, "appended row must survive exactly once")
    assert(after.filter(col("s_suppkey") === 999999999L).count() == 1)
    assert(leafFiles(dir).size == filesBefore + 1, "no files swapped")
    // next run (no race) compacts and keeps the appended row
    assert(Maintenance.compactPartitions(spark, dir, Nil, 1L << 30) == Seq(""))
    assert(leafFiles(dir).size == 1)
    assert(spark.read.parquet(dir).count() == before + 1)
  }

  test("partitioned compaction skips a partition a writer changed " +
      "mid-compaction; its rows survive and the next run compacts it") {
    val dir = Files.createTempDirectory("graft_part_race").toString + "/t"
    val o = Tables.orders(spark, sf).withColumn("yr", year(col("o_orderdate")))
    o.repartition(8).write.partitionBy("yr").parquet(dir)
    val years = checksum(spark.read.parquet(dir)).map(_._1)
    val racedYr = years.head
    val racedDir = s"$dir/yr=$racedYr"
    val before = checksum(spark.read.parquet(dir))
    Maintenance.onPartitionedPlan = () => {
      // concurrent writer appends one sentinel row into ONE candidate
      spark.read.parquet(racedDir).limit(1)
        .withColumn("o_orderkey", lit(888888888L))
        .write.mode("append").parquet(racedDir)
      Maintenance.onPartitionedPlan = () => ()
    }
    val rels = try Maintenance.compactPartitions(spark, dir, Seq("yr"), 1L << 30)
      finally Maintenance.onPartitionedPlan = () => ()
    assert(!rels.contains(s"yr=$racedYr"), "changed partition must be skipped")
    assert(rels.toSet == years.filterNot(_ == racedYr).map(y => s"yr=$y").toSet)
    assert(spark.read.parquet(dir)
        .filter(col("o_orderkey") === 888888888L).count() == 1,
      "appended row must survive exactly once")
    assert(leafFiles(racedDir).size > 1, "skipped partition left as-is")
    // a later run (no race) compacts the skipped partition too
    val rels2 = Maintenance.compactPartitions(spark, dir, Seq("yr"), 1L << 30)
    assert(rels2.contains(s"yr=$racedYr"))
    assert(leafFiles(racedDir).size == 1)
    // re-read AFTER the second swap — a DataFrame built earlier would hold
    // the pre-swap file listing
    assert(spark.read.parquet(dir)
      .filter(col("o_orderkey") === 888888888L).count() == 1)
    val counts = spark.read.parquet(dir).groupBy("yr").count()
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    before.foreach { case (yr, cnt, _) =>
      assert(counts(yr) == (if (yr == racedYr) cnt + 1 else cnt)) }
  }

  test("a compaction run after a crashed swap first recovers the " +
      "interrupted state — duplicates are never made permanent") {
    val s = Tables.supplier(spark, sf)
    val expectKeys = s.select("s_suppkey").as[Long].collect().toSet
    // post-adopt crash → root holds full old set + full new set (duplicate
    // rows, old complete → recovery un-adopts); mid-retire crash → full new
    // set + some old (duplicates, old incomplete → recovery finishes retiring)
    for ((step, k) <- Seq("adopted" -> 1, "retire" -> 2)) {
      val dir = Files.createTempDirectory(s"graft_recover_$step").toString
      s.repartition(6).write.mode("overwrite").parquet(dir)
      var seen = 0
      Maintenance.onSwapStep = { st =>
        if (st == step) {
          seen += 1; if (seen == k) sys.error(s"injected crash at $st#$k")
        }
      }
      try intercept[Exception](
        Maintenance.compactPartitions(spark, dir, Nil, 1L << 30))
      finally Maintenance.onSwapStep = _ => ()
      val root = new HPath(dir)
      assert(Fs.of(root).listStatus(root).exists(st =>
        st.isDirectory && st.getPath.getName.startsWith(".graft_staging_")),
        s"crash at $step#$k must leave staging for recovery")
      // next maintenance run recovers per the manifest first: post-adopt
      // recovery restores the fragmented old set (then compacts it);
      // mid-retire recovery completes the swap (nothing left to compact).
      // minAge 0 = the manifest has aged past the live-swap window
      Maintenance.compactPartitions(spark, dir, Nil, 1L << 30,
        swapRecoveryMinAgeMs = 0L)
      assert(leafFiles(dir).size == 1, s"table not compacted after $step#$k")
      val rows = spark.read.parquet(dir).select("s_suppkey").as[Long].collect()
      assert(rows.toSet == expectKeys, s"recovery after $step#$k lost rows")
      assert(rows.length == expectKeys.size,
        s"recovery after $step#$k made duplicates permanent")
      assert(!Fs.of(root).listStatus(root).exists(st =>
        st.isDirectory && st.getPath.getName.startsWith(".graft_staging_")),
        "recovery must clean the interrupted staging dir")
    }
  }

  test("vacuum deletes only expired staging debris") {
    val dir = Files.createTempDirectory("graft_vac").toString + "/t"
    Seq((1, "a")).toDF("v", "dt").write.partitionBy("dt").parquet(dir)
    val root = new HPath(dir)
    val stale = new HPath(root, ".graft_staging_dead")
    val fresh = new HPath(root, ".graft_staging_live")
    Fs.mkdirs(stale); Fs.mkdirs(fresh)
    Fs.of(stale).setTimes(stale, System.currentTimeMillis() - 48 * 3600 * 1000L, -1)

    val deleted = Maintenance.vacuumStaging(dir, ttlMs = 24 * 3600 * 1000L)
    assert(deleted.size == 1 && deleted.head.endsWith(".graft_staging_dead"))
    assert(!Fs.exists(stale) && Fs.exists(fresh))
    assert(spark.read.parquet(dir).count() == 1, "data must be untouched")
  }

  test("manifest-pointer commit: immutable generations, one-PUT " +
      "publish, dynamic overwrite + append + truncate semantics match " +
      "the rename writer's") {
    import spark.implicits._
    import graft.sources.ManifestCommit
    val root = Files.createTempDirectory("graft_mfc").toString + "/t"
    def state() = ManifestCommit.read(spark, root)
      .select("k", "v").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq.sorted
    // gen 0: two partitions
    ManifestCommit.writePartitioned(
      Seq(("a", 1L), ("b", 2L)).toDF("k", "v"), root, Seq("k"))
    assert(state() === Seq(("a", 1L), ("b", 2L)))
    // gen 1: dynamic overwrite touches only k=a; k=b still read from g=0
    ManifestCommit.writePartitioned(
      Seq(("a", 10L)).toDF("k", "v"), root, Seq("k"))
    assert(state() === Seq(("a", 10L), ("b", 2L)))
    val (_, map1) = ManifestCommit.latestPointer(root).get
    assert(map1 === Map("k=a" -> Seq(1L), "k=b" -> Seq(0L)))
    // append mode: k=a accumulates a second generation
    ManifestCommit.writePartitioned(
      Seq(("a", 11L)).toDF("k", "v"), root, Seq("k"), overwrite = false)
    assert(state() === Seq(("a", 10L), ("a", 11L), ("b", 2L)))
    // full truncate: only the new write survives
    ManifestCommit.writePartitioned(
      Seq(("c", 3L)).toDF("k", "v"), root, Seq("k"),
      truncateSpec = Some(Nil))
    assert(state() === Seq(("c", 3L)))
    // data paths were never renamed: every generation dir still exists
    (0L to 3L).foreach(g => assert(Fs.exists(
      new HPath(s"$root/_gen/g=$g")), s"generation $g must be immutable"))
  }

  test("manifest-pointer crash window: an unpublished generation is " +
      "invisible to readers and vacuum reclaims it; compact folds " +
      "generations with a pointer flip only") {
    import spark.implicits._
    import graft.sources.ManifestCommit
    val root = Files.createTempDirectory("graft_mfc2").toString + "/t"
    ManifestCommit.writePartitioned(
      Seq(("a", 1L), ("b", 2L)).toDF("k", "v"), root, Seq("k"))
    ManifestCommit.writePartitioned(
      Seq(("a", 10L)).toDF("k", "v"), root, Seq("k"))
    // simulate a crash BEFORE the pointer PUT: a stray generation dir
    Seq(("z", 99L)).toDF("k", "v").write.partitionBy("k")
      .parquet(s"$root/_gen/g=7")
    def state() = ManifestCommit.read(spark, root)
      .select("k", "v").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq.sorted
    assert(state() === Seq(("a", 10L), ("b", 2L)),
      "an uncommitted generation must never be visible")
    // vacuum: g=7 (unreferenced) goes; g=0 partially live (k=b) stays
    val deleted = ManifestCommit.vacuum(root)
    assert(deleted.exists(_.endsWith("g=7")))
    assert(Fs.exists(new HPath(s"$root/_gen/g=0")))
    assert(state() === Seq(("a", 10L), ("b", 2L)))
    // compact: one generation, same rows, old pointer's gens reclaimable
    ManifestCommit.compact(spark, root, Seq("k"))
    assert(state() === Seq(("a", 10L), ("b", 2L)))
    val (_, map) = ManifestCommit.latestPointer(root).get
    assert(map.values.flatten.toSet.size === 1, "compacted to one gen")
    ManifestCommit.vacuum(root)
    assert(!Fs.exists(new HPath(s"$root/_gen/g=0")) &&
      !Fs.exists(new HPath(s"$root/_gen/g=1")))
    assert(state() === Seq(("a", 10L), ("b", 2L)))
  }

  test("manifest maintenance routing: compactPartitions on a " +
      "manifest table folds ONLY fragmented partitions into a fresh " +
      "generation via one pointer flip; old pointer still serves") {
    import graft.sources.ManifestCommit
    val root = Files.createTempDirectory("graft_mfmt").toString + "/t"
    def state() = ManifestCommit.read(spark, root)
      .select("k", "v").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq.sorted
    // k=a accretes three generations of small files; k=b stays single
    ManifestCommit.writePartitioned(
      Seq(("a", 1L), ("b", 2L)).toDF("k", "v").coalesce(1), root, Seq("k"))
    ManifestCommit.writePartitioned(
      Seq(("a", 3L)).toDF("k", "v").coalesce(1), root, Seq("k"),
      overwrite = false)
    ManifestCommit.writePartitioned(
      Seq(("a", 4L)).toDF("k", "v").coalesce(1), root, Seq("k"),
      overwrite = false)
    val before = state()
    val (p0, map0) = ManifestCommit.latestPointer(root).get
    assert(map0("k=a").size === 3)
    val plans = ManifestCommit.compactionCandidates(root, 1L << 30)
    assert(plans.map(_.rel) === Seq("k=a"), "only k=a is fragmented")
    // routed through Maintenance — the rename swap path must not run
    val rels = Maintenance.compactPartitions(spark, root, Seq("k"), 1L << 30)
    assert(rels === Seq("k=a"))
    assert(state() === before, "content preserved")
    val (p1, map1) = ManifestCommit.latestPointer(root).get
    assert(p1 === p0 + 1, "commit = ONE pointer flip")
    assert(map1("k=a").size === 1, "k=a folded to one generation")
    assert(map1("k=b") === map0("k=b"), "k=b untouched")
    // the pre-compaction pointer is a live snapshot (no renames ran)
    assert(ManifestCommit.readAt(spark, root, p0)
      .select("k", "v").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq.sorted === before)
    // idempotent: nothing fragmented now
    assert(Maintenance.compactPartitions(spark, root, Seq("k"), 1L << 30)
      === Seq.empty)
    // z-order routing: layout rewrite of EVERY partition, same protocol
    val zr = Maintenance.zorderRewrite(spark, root, Seq("k"), Seq("v"))
    assert(zr.sorted === Seq("k=a", "k=b"))
    assert(state() === before)
    val (p2, map2) = ManifestCommit.latestPointer(root).get
    assert(p2 === p1 + 1 &&
      map2.values.flatten.toSet.size === 1, "one generation, one flip")
  }

  test("manifest vacuum after v2 commits and a compaction deletes " +
      "exactly the generations no kept pointer cites") {
    import graft.sources.ManifestCommit
    val root = Files.createTempDirectory("graft_mfvac").toString + "/t"
    def state() = ManifestCommit.read(spark, root)
      .select("k", "v").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq.sorted
    ManifestCommit.writePartitioned(                               // g=0
      Seq(("a", 1L), ("b", 2L)).toDF("k", "v").coalesce(1), root, Seq("k"))
    ManifestCommit.writePartitioned(                               // g=1
      Seq(("a", 3L)).toDF("k", "v").coalesce(1), root, Seq("k"),
      overwrite = false)
    ManifestCommit.writePartitioned(                               // g=2
      Seq(("a", 4L)).toDF("k", "v").coalesce(1), root, Seq("k"),
      overwrite = false)
    // g=3 folds k=a only; k=b keeps citing g=0
    assert(Maintenance.compactPartitions(spark, root, Seq("k"), 1L << 30)
      === Seq("k=a"))
    ManifestCommit.writePartitioned(                               // g=4
      Seq(("b", 20L)).toDF("k", "v").coalesce(1), root, Seq("k"))
    val before = state()
    assert(before === Seq(("a", 1L), ("a", 3L), ("a", 4L), ("b", 20L)))
    val ids = ManifestCommit.pointerIds(root)
    assert(ids === (0L to 4L))
    ids.foreach(id => assert(Fs.readString(new HPath(s"$root/_pointer/p$id.txt"))
      .startsWith("graft-pointer v2\n"), s"p$id is a v2 pointer"))
    val kept = ids.takeRight(2)
    val cited = kept.flatMap(ManifestCommit.pointerAt(root, _).get.values.flatten)
    assert(cited.toSet === Set(0L, 3L, 4L))
    val deleted = ManifestCommit.vacuum(root, keepPointers = 2)
    assert(deleted.map(d => new HPath(d).getName).toSet === Set("g=1", "g=2"))
    assert(ManifestCommit.pointerIds(root) === kept)
    assert(Fs.listDirs(new HPath(s"$root/_gen")).map(_.getName).toSet ===
      Set("g=0", "g=3", "g=4"))
    assert(state() === before)
    assert(ManifestCommit.readAt(spark, root, kept.head).count() === 4L)
  }

  test("manifest maintenance crash window: a failure between the " +
      "generation write and the pointer flip leaves the old pointer " +
      "serving; fsck flags the orphan; the re-run succeeds") {
    import graft.sources.ManifestCommit
    val root = Files.createTempDirectory("graft_mfcr").toString + "/t"
    def state() = ManifestCommit.read(spark, root)
      .select("k", "v").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq.sorted
    ManifestCommit.writePartitioned(
      Seq(("a", 1L)).toDF("k", "v").coalesce(1), root, Seq("k"))
    ManifestCommit.writePartitioned(
      Seq(("a", 2L)).toDF("k", "v").coalesce(1), root, Seq("k"),
      overwrite = false)
    val before = state()
    val (p0, _) = ManifestCommit.latestPointer(root).get
    ManifestCommit.onCommitStep = {
      case "generation-written" => sys.error("injected crash before PUT")
      case _ => ()
    }
    try intercept[RuntimeException] {
      Maintenance.compactPartitions(spark, root, Seq("k"), 1L << 30)
    } finally ManifestCommit.onCommitStep = _ => ()
    assert(state() === before, "old pointer still serves after the crash")
    assert(ManifestCommit.latestPointer(root).get._1 === p0,
      "no pointer was committed")
    val orphans = ManifestCommit.fsck(spark, root)
      .filter(col("check") === "orphan_generation").collect()
    assert(orphans.length === 1, "the crashed generation is debris")
    // an in-flight claim gets grace under minUnreferencedAgeMs...
    assert(ManifestCommit.vacuum(root,
      minUnreferencedAgeMs = 3600 * 1000L) === Seq.empty)
    // ...and the re-run claims a FRESH generation (never reuses the
    // debris dir) and commits cleanly
    val rels = Maintenance.compactPartitions(spark, root, Seq("k"), 1L << 30)
    assert(rels === Seq("k=a") && state() === before)
    // strict single-owner vacuum now reclaims the debris
    val deleted = ManifestCommit.vacuum(root)
    assert(deleted.nonEmpty && state() === before)
  }

  test("manifest CAS commit: a concurrent NON-overlapping writer is " +
      "rebased over (both commits land); an overlapping one refuses") {
    import graft.sources.ManifestCommit
    val root = Files.createTempDirectory("graft_mfcas").toString + "/t"
    def state() = ManifestCommit.read(spark, root)
      .select("k", "v").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq.sorted
    ManifestCommit.writePartitioned(
      Seq(("a", 1L), ("b", 2L)).toDF("k", "v").coalesce(1), root, Seq("k"))
    // writer B (k=b) plans, writes its generation — and in its commit
    // window writer A (k=a) commits first; B must lose the pointer
    // race once, rebase onto A's map, and land cleanly
    ManifestCommit.onCommitStep = {
      case "generation-written" =>
        ManifestCommit.onCommitStep = _ => () // one-shot: A commits plainly
        ManifestCommit.writePartitioned(
          Seq(("a", 10L)).toDF("k", "v").coalesce(1), root, Seq("k"))
      case _ => ()
    }
    try ManifestCommit.writePartitioned(
      Seq(("b", 20L)).toDF("k", "v").coalesce(1), root, Seq("k"))
    finally ManifestCommit.onCommitStep = _ => ()
    assert(state() === Seq(("a", 10L), ("b", 20L)),
      "both concurrent commits visible — one winner, one re-based retry")
    val ids = ManifestCommit.pointerIds(root)
    assert(ids.size === 3, "three pointers: base + A + re-based B")
    // overlapping: both writers touch k=a — the loser must refuse
    ManifestCommit.onCommitStep = {
      case "generation-written" =>
        ManifestCommit.onCommitStep = _ => ()
        ManifestCommit.writePartitioned(
          Seq(("a", 30L)).toDF("k", "v").coalesce(1), root, Seq("k"))
      case _ => ()
    }
    val e = try intercept[IllegalStateException] {
      ManifestCommit.writePartitioned(
        Seq(("a", 40L)).toDF("k", "v").coalesce(1), root, Seq("k"))
    } finally ManifestCommit.onCommitStep = _ => ()
    assert(e.getMessage.contains("concurrent overlapping write"))
    assert(state() === Seq(("a", 30L), ("b", 20L)),
      "the first overlapping commit won; the loser changed nothing")
  }

  test("manifest time travel: readAt reproduces each committed " +
      "snapshot; vacuumed pointers refuse; history lists the chain") {
    import spark.implicits._
    import graft.sources.ManifestCommit
    val root = Files.createTempDirectory("graft_mftt").toString + "/t"
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("k", "v").collect()
        .map(r => (r.getString(0), r.getLong(1))).toSeq.sorted
    ManifestCommit.writePartitioned(
      Seq(("a", 1L), ("b", 2L)).toDF("k", "v"), root, Seq("k"))
    ManifestCommit.writePartitioned(
      Seq(("a", 10L)).toDF("k", "v"), root, Seq("k"))
    ManifestCommit.writePartitioned(
      Seq(("b", 20L)).toDF("k", "v"), root, Seq("k"),
      overwrite = false)
    // three live snapshots, each reproducible
    assert(rows(ManifestCommit.readAt(spark, root, 0L)) ===
      Seq(("a", 1L), ("b", 2L)))
    assert(rows(ManifestCommit.readAt(spark, root, 1L)) ===
      Seq(("a", 10L), ("b", 2L)))
    assert(rows(ManifestCommit.readAt(spark, root, 2L)) ===
      Seq(("a", 10L), ("b", 2L), ("b", 20L)))
    assert(rows(ManifestCommit.readAt(spark, root, 2L)) ===
      rows(ManifestCommit.read(spark, root)))
    // history: ascending chain, latest flagged
    val h = ManifestCommit.history(spark, root)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(3)))
    assert(h.toSeq === Seq((0L, 2L, false), (1L, 2L, false),
      (2L, 2L, true)))
    // a never-committed pointer refuses
    intercept[IllegalStateException] {
      ManifestCommit.readAt(spark, root, 9L)
    }
    // vacuum to the latest pointer only: time travel past it refuses
    ManifestCommit.vacuum(root, keepPointers = 1)
    intercept[IllegalStateException] {
      ManifestCommit.readAt(spark, root, 0L)
    }
    assert(rows(ManifestCommit.read(spark, root)) ===
      Seq(("a", 10L), ("b", 2L), ("b", 20L)))
  }

  test("manifest rollback: one-PUT re-commit of an old snapshot; " +
      "writes continue past it; rollback to vacuumed state refuses") {
    import spark.implicits._
    import graft.sources.ManifestCommit
    val root = Files.createTempDirectory("graft_mfrb").toString + "/t"
    def state() = ManifestCommit.read(spark, root)
      .select("k", "v").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq.sorted
    ManifestCommit.writePartitioned(
      Seq(("a", 1L), ("b", 2L)).toDF("k", "v"), root, Seq("k"))
    ManifestCommit.writePartitioned(
      Seq(("a", 10L), ("b", 20L)).toDF("k", "v"), root, Seq("k"))
    assert(state() === Seq(("a", 10L), ("b", 20L)))
    val newId = ManifestCommit.rollback(root, 0L)
    assert(newId === 2L)
    assert(state() === Seq(("a", 1L), ("b", 2L)))
    // the rolled-back state is itself a pointer: writes continue
    ManifestCommit.writePartitioned(
      Seq(("a", 100L)).toDF("k", "v"), root, Seq("k"))
    assert(state() === Seq(("a", 100L), ("b", 2L)))
    // fsck on a healthy chain: every row ok
    val f = ManifestCommit.fsck(spark, root).collect()
    assert(f.nonEmpty && f.forall(_.getBoolean(2)))
    // vacuum everything but the tip, then rollback into the hole
    ManifestCommit.vacuum(root, keepPointers = 1)
    intercept[IllegalStateException] {
      ManifestCommit.rollback(root, 0L)
    }
  }

  test("manifest fsck: dangling cited generation flagged not-ok; " +
      "crash orphan reported as reclaimable") {
    import spark.implicits._
    import graft.sources.ManifestCommit
    val root = Files.createTempDirectory("graft_mffs").toString + "/t"
    ManifestCommit.writePartitioned(
      Seq(("a", 1L)).toDF("k", "v"), root, Seq("k"))
    ManifestCommit.writePartitioned(
      Seq(("b", 2L)).toDF("k", "v"), root, Seq("k"), overwrite = false)
    // orphan: data landed, pointer never did
    Seq(("z", 9L)).toDF("k", "v").write.partitionBy("k")
      .parquet(s"$root/_gen/g=5")
    // dangling: a cited generation goes missing out-of-band
    Fs.deleteRetried(new HPath(s"$root/_gen/g=0"))
    val f = ManifestCommit.fsck(spark, root)
      .collect().map(r => (r.getString(0), r.getString(1),
        r.getBoolean(2))).toSeq
    assert(f.contains(("generation", "g=0", false)))
    assert(f.contains(("generation", "g=1", true)))
    assert(f.contains(("orphan_generation", "g=5", true)))
    assert(f.contains(("pointer", "p0", true)))
    assert(f.contains(("pointer", "p1", true)))
  }

  test("manifest-pointer partition values with special characters " +
      "round-trip (escaped segments never collide with the TAB format)") {
    import spark.implicits._
    import graft.sources.ManifestCommit
    val root = Files.createTempDirectory("graft_mfc3").toString + "/t"
    val odd = Seq(("sp ace", 1L), ("a=b", 2L), ("a%2Fb", 3L), ("t\tb", 4L))
    ManifestCommit.writePartitioned(odd.toDF("k", "v"), root, Seq("k"))
    val got = ManifestCommit.read(spark, root)
      .select("k", "v").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq.sorted
    assert(got === odd.sorted)
  }

  test("catalog compactTable refreshes scoped stats; clustered tables rejected") {
    import graft.catalog.{CatalogFunctions, TableStatistics}
    val wh = Files.createTempDirectory("graft_wh_maint").toString
    spark.conf.set("spark.sql.catalog.graft_m", "graft.catalog.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft_m.root", wh)
    spark.sql("CREATE NAMESPACE graft_m.db")
    spark.sql("CREATE TABLE graft_m.db.t (v BIGINT, dt STRING) PARTITIONED BY (dt)")
    // several small commits → several files in dt=a
    (1 to 4).foreach(i =>
      spark.sql(s"INSERT INTO graft_m.db.t VALUES ($i, 'a'), ($i, 'b')"))
    val dir = new HPath(s"$wh/db/t")
    val statsBefore = TableStatistics.read(dir).get
    assert(statsBefore.parts("dt=a").files > 1)

    val rels = CatalogFunctions.compactTable(spark, "graft_m", Array("db"), "t")
    assert(rels.toSet == Set("dt=a", "dt=b"))
    val statsAfter = TableStatistics.read(dir).get
    assert(statsAfter.parts("dt=a").files == 1 &&
      statsAfter.parts("dt=b").files == 1)
    assert(statsAfter.rows == statsBefore.rows)
    assert(spark.sql("SELECT count(*) FROM graft_m.db.t").head().getLong(0) == 8)

    spark.sql("CREATE TABLE graft_m.db.tb (v BIGINT) TBLPROPERTIES " +
      "('graft.bucket.cols'='v', 'graft.bucket.count'='4')")
    val err = intercept[Exception](
      CatalogFunctions.compactTable(spark, "graft_m", Array("db"), "tb"))
    assert(err.getMessage.contains("clustered"))
  }

  test("catalog compactTable on a fragmented manifest table commits " +
      "exactly one new pointer and returns the same rows") {
    import graft.catalog.CatalogFunctions
    import graft.sources.ManifestCommit
    val wh = Files.createTempDirectory("graft_wh_mmaint").toString
    spark.conf.set("spark.sql.catalog.graft_mm", "graft.catalog.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft_mm.root", wh)
    spark.sql("CREATE NAMESPACE graft_mm.db")
    spark.sql("CREATE TABLE graft_mm.db.t (v BIGINT, dt STRING) " +
      "PARTITIONED BY (dt) TBLPROPERTIES ('graft.commit.mode'='manifest')")
    // several small commits → several generations cited for dt=a
    (1 to 3).foreach(i => spark.sql(s"INSERT INTO graft_mm.db.t VALUES ($i, 'a')"))
    spark.sql("INSERT INTO graft_mm.db.t VALUES (9, 'b')")
    val root = s"$wh/db/t"
    def rows() = spark.sql("SELECT dt, v FROM graft_mm.db.t").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq.sorted
    val before = rows()
    val pointersBefore = ManifestCommit.pointerIds(root)
    assert(ManifestCommit.latestSnapshot(root).get.partitions("dt=a").size == 3)

    val rels = CatalogFunctions.compactTable(spark, "graft_mm", Array("db"), "t",
      targetFileBytes = 1L << 30)
    assert(rels == Seq("dt=a"), "only dt=a is fragmented")
    assert(ManifestCommit.pointerIds(root).sorted ==
      pointersBefore.sorted :+ (pointersBefore.max + 1),
      "compaction commits exactly one new pointer")
    assert(ManifestCommit.latestSnapshot(root).get.partitions("dt=a").size == 1)
    assert(rows() == before)
  }

  test("generation claim race: 4 threads released together never claim " +
      "the same id") {
    import graft.sources.ManifestCommit
    val root = Files.createTempDirectory("graft_genrace").toString + "/t"
    val threads = 4
    val barrier = new java.util.concurrent.CyclicBarrier(threads)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    val claimed = try {
      val tasks = (0 until threads).map(_ => pool.submit(
        new java.util.concurrent.Callable[Seq[Long]] {
          def call(): Seq[Long] = (1 to 50).map { _ =>
            barrier.await()
            ManifestCommit.claimGeneration(root)
          }
        }))
      tasks.flatMap(_.get())
    } finally pool.shutdown()
    assert(claimed.size == 200)
    assert(claimed.distinct.size == claimed.size,
      s"ids claimed twice: ${claimed.diff(claimed.distinct).distinct.sorted.take(10)}")
  }

  test("manifest writer race: 4 threads committing disjoint partitions " +
      "leave a parseable, gap-free pointer chain citing every last value") {
    import graft.sources.ManifestCommit
    val root = Files.createTempDirectory("graft_mfrace").toString + "/t"
    val threads = 4
    val commits = 5
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    try {
      val tasks = (0 until threads).map(t => pool.submit(new Runnable {
        def run(): Unit = (1 to commits).foreach(i =>
          ManifestCommit.writePartitioned(
            Seq((s"w$t", i.toLong)).toDF("k", "v").coalesce(1), root,
            Seq("k"), maxCommitRetries = 100))
      }))
      tasks.foreach(_.get())
    } finally pool.shutdown()
    ManifestCommit.pointerIds(root).foreach(id =>
      assert(ManifestCommit.snapshot(root, id).nonEmpty, s"p$id parses"))
    val latest = ManifestCommit.latestSnapshot(root).get
    assert(latest.partitions.keySet == (0 until threads).map(t => s"k=w$t").toSet)
    assert(ManifestCommit.pointerIds(root) == (0L until threads * commits),
      "one pointer per commit, ids without gaps")
    val got = ManifestCommit.read(spark, root).select("k", "v").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq.sorted
    assert(got == (0 until threads).map(t => (s"w$t", commits.toLong)))
  }
}
