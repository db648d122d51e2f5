package graft

import graft.cdc.{CdcConfig, SnapshotJob, ValidateJob}
import graft.model.{CdcColumns => C, ListingMode, TableSpec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

import java.nio.file.Files
import scala.jdk.CollectionConverters._

/** Files opened by every successful query's scans: one entry per
  * `filesSize` metric id of a FileSourceScanExec, tagged with the scan's
  * root paths. Found through cached relations and AQE stages, so a scan
  * under a cache counts once, when the cache is filled.
  */
final class OpenedScans extends QueryExecutionListener {
  private val seen =
    java.util.concurrent.ConcurrentHashMap.newKeySet[(String, Long)]()
  override def onSuccess(funcName: String, qe: QueryExecution,
      durationNs: Long): Unit = walk(qe.executedPlan)
  override def onFailure(funcName: String, qe: QueryExecution,
      exception: Exception): Unit = ()
  private def walk(p: SparkPlan): Unit = p match {
    case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
    case q: QueryStageExec => walk(q.plan)
    case m: InMemoryTableScanExec => walk(m.relation.cacheBuilder.cachedPlan)
    case f: FileSourceScanExec =>
      f.metrics.get("filesSize").filter(_.value > 0).foreach { m =>
        seen.add(f.relation.location.rootPaths.mkString(",") -> m.id)
      }
    case other => (other.children ++ other.subqueries).foreach(walk)
  }
  /** How many times the files under `dir` were opened. */
  def opens(dir: String): Int = seen.asScala.count(_._1.contains(dir))
}

/** The two verbs end-to-end: snapshot (folder → reconstructed parquet
  * state) then validate (source vs reconstruction), incl. the digest
  * mode, mirroring the reference's CLI flow (main.rs:345-373).
  */
class CdcJobsSpec extends SparkSpec {
  import spark.implicits._

  test("snapshot then validate: clean replay reports all-match") {
    val base = Files.createTempDirectory("jobs").toString
    val tdir = s"$base/db/public/items"
    val out = s"$base/out"

    val load = (1L to 100L).map(i => ("I", "t0", i, s"v$i"))
      .toDF(C.Op, C.IngestTs, "id", "payload")
    load.coalesce(1).write.parquet(s"$tdir/_w1")
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
    def place(src: String, dst: String): Unit = {
      val p = fs.listStatus(new org.apache.hadoop.fs.Path(src))
        .map(_.getPath).find(_.getName.endsWith(".parquet")).get
      fs.rename(p, new org.apache.hadoop.fs.Path(dst))
      fs.delete(new org.apache.hadoop.fs.Path(src), true)
    }
    place(s"$tdir/_w1", s"$tdir/LOAD00000001.parquet")
    val cdc = ((1L to 10L).map(i => ("D", "t1", i, s"v$i")) ++
      (90L to 100L).map(i => ("U", "t1", i, s"u$i")))
      .toDF(C.Op, C.IngestTs, "id", "payload")
    cdc.coalesce(1).write.parquet(s"$tdir/_w2")
    place(s"$tdir/_w2", s"$tdir/20240102-000.parquet")

    val cfg = CdcConfig(s"$base/db/public", "public",
      mode = ListingMode.DateAware(0L, None))
    val spec = TableSpec("items", tdir, Seq("id"))
    val counts = SnapshotJob.run(spark, cfg, Seq(spec), out)
    assert(counts === Map("items" -> 90L)) // 100 - 10 deleted

    // expected state derived independently
    val expected = (11L to 89L).map(i => (i, s"v$i")) ++
      (90L to 100L).map(i => (i, s"u$i"))
    val target = spark.read.parquet(s"$out/items")
    val source = expected.toDF("id", "payload")

    val rep = ValidateJob.validateTable(source, target.select("id", "payload"),
      spec)
    assert(rep.ok && rep.matched === 90L)

    // digest mode agrees, and localizes an injected corruption
    assert(ValidateJob.validateByDigest(source,
      target.select("id", "payload"), spec, 25) === Seq.empty)
    val corrupted = target.select("id", "payload")
      .withColumn("payload",
        when($"id" === 42L, lit("XX")).otherwise($"payload"))
    val bad = ValidateJob.validateByDigest(source, corrupted, spec, 25)
    assert(bad.length === 1)
  }

  test("digest resume skips mismatches before --start-position") {
    // stable chunk ids: PK-order rank / chunkSize → ids 0..9 at size 10
    val spec = TableSpec("t", "", Seq("id"))
    val source = (1L to 100L).map(i => (i, s"v$i")).toDF("id", "payload")
    // corrupt one row in chunk 0 (id=3 → rank 2) and one in chunk 7 (id=75)
    val target = source.withColumn("payload",
      when($"id" === 3L || $"id" === 75L, lit("XX")).otherwise($"payload"))
    assert(ValidateJob.validateByDigest(source, target, spec, 10)
      === Seq(0L, 7L))
    // resume at chunk 1: the chunk-0 mismatch is neither computed in the
    // compare join nor reported; the later one still is
    assert(ValidateJob.validateByDigest(source, target, spec, 10,
      startChunk = 1L) === Seq(7L))
    // resume past every mismatch: clean report
    assert(ValidateJob.validateByDigest(source, target, spec, 10,
      startChunk = 8L) === Seq.empty)
  }

  test("pooled per-table snapshot reconstructs every table correctly") {
    val base = Files.createTempDirectory("pool").toString
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
    def place(src: String, dst: String): Unit = {
      val p = fs.listStatus(new org.apache.hadoop.fs.Path(src))
        .map(_.getPath).find(_.getName.endsWith(".parquet")).get
      fs.rename(p, new org.apache.hadoop.fs.Path(dst))
      fs.delete(new org.apache.hadoop.fs.Path(src), true)
    }
    // four tables with distinct row counts so a cross-wired result is
    // impossible to miss; the pool (4 driver threads) runs their Spark
    // jobs concurrently
    val sizes = Map("ta" -> 10L, "tb" -> 25L, "tc" -> 40L, "td" -> 55L)
    sizes.foreach { case (t, n) =>
      val tdir = s"$base/db/public/$t"
      (1L to n).map(i => ("I", "t0", i, s"$t$i"))
        .toDF(C.Op, C.IngestTs, "id", "payload")
        .coalesce(1).write.parquet(s"$tdir/_w")
      place(s"$tdir/_w", s"$tdir/LOAD00000001.parquet")
    }
    val cfg = CdcConfig(s"$base/db/public", "public",
      mode = ListingMode.FullLoadOnly, maxConcurrentTables = 4)
    val specs = sizes.keys.toSeq.sorted.map(t =>
      TableSpec(t, s"$base/db/public/$t", Seq("id")))
    val counts = SnapshotJob.run(spark, cfg, specs, s"$base/out")
    assert(counts === sizes)
    // content, not just counts: each table's rows carry its own prefix
    sizes.foreach { case (t, n) =>
      val got = spark.read.parquet(s"$base/out/$t")
        .as[(Long, String)].collect().sortBy(_._1)
      assert(got.length === n && got.head === (1L, s"${t}1") &&
        got.last === (n, s"$t$n"))
    }
  }

  test("partitioned snapshot layout: validate-side reads prune partitions") {
    val base = Files.createTempDirectory("partsnap").toString
    val tdir = s"$base/db/public/items"
    val out = s"$base/out"
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
    def place(src: String, dst: String): Unit = {
      val p = fs.listStatus(new org.apache.hadoop.fs.Path(src))
        .map(_.getPath).find(_.getName.endsWith(".parquet")).get
      fs.rename(p, new org.apache.hadoop.fs.Path(dst))
      fs.delete(new org.apache.hadoop.fs.Path(src), true)
    }
    val regions = Seq("eu", "us", "ap")
    val load = (1L to 90L).map(i =>
      ("I", "t0", i, regions((i % 3).toInt), s"v$i"))
      .toDF(C.Op, C.IngestTs, "id", "region", "payload")
    load.coalesce(1).write.parquet(s"$tdir/_w1")
    place(s"$tdir/_w1", s"$tdir/LOAD00000001.parquet")

    val cfg = CdcConfig(s"$base/db/public", "public",
      mode = ListingMode.FullLoadOnly,
      snapshotPartitionBy = Seq("region"))
    val spec = TableSpec("items", tdir, Seq("id"))
    assert(SnapshotJob.run(spark, cfg, Seq(spec), out)
      === Map("items" -> 90L))
    // layout on disk is hive-style partition dirs
    assert(regions.forall(r => fs.exists(
      new org.apache.hadoop.fs.Path(s"$out/items/region=$r"))))

    // a validate-side read filtered on the partition column must reach
    // the scan as a PARTITION filter and list only that region's files
    val read = spark.read.parquet(s"$out/items").filter($"region" === "eu")
    val scan = read.queryExecution.executedPlan.collectFirst {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }.getOrElse(fail("no FileSourceScanExec in plan"))
    assert(scan.partitionFilters.exists(_.references.exists(
      _.name == "region")), s"no partition filter: ${scan.partitionFilters}")
    val files = scan.relation.location
      .listFiles(scan.partitionFilters, scan.dataFilters)
      .flatMap(_.files).map(_.getPath.toString)
    assert(files.nonEmpty && files.forall(_.contains("region=eu")),
      s"scan lists unpruned files: $files")
    assert(read.count() === 30L)

    // PK-bucketed layout: external table with the bucket spec recorded,
    // files still plain-parquet-readable at the same path
    val cfgB = cfg.copy(snapshotBuckets = 4)
    assert(SnapshotJob.run(spark, cfgB, Seq(spec), s"$base/outb")
      === Map("items" -> 90L))
    val tabB = SnapshotJob.snapshotTableName("items", s"$base/outb/items")
    val desc = spark.sql(s"DESCRIBE EXTENDED $tabB")
      .collect().map(r => s"${r.getString(0)}=${r.getString(1)}").mkString
    assert(desc.contains("Num Buckets=4") && desc.contains("id"), desc)
    // catalog names are path-qualified: a second snapshot of the SAME
    // table name to a different outDir registers beside, not over, the
    // first — both stay queryable in one session
    assert(SnapshotJob.run(spark, cfgB, Seq(spec), s"$base/outc")
      === Map("items" -> 90L))
    val tabC = SnapshotJob.snapshotTableName("items", s"$base/outc/items")
    assert(tabB !== tabC)
    assert(spark.table(tabB).count() === 90L)
    assert(spark.table(tabC).count() === 90L)
    spark.sql(s"DROP TABLE IF EXISTS $tabB")
    spark.sql(s"DROP TABLE IF EXISTS $tabC")
  }

  test("TablePool keeps input order and fails fast on error") {
    import graft.cdc.TablePool
    assert(TablePool.map(Seq(3, 1, 2), maxConcurrent = 4)(_ * 10)
      === Seq(30, 10, 20))
    // concurrency actually happens: with a pool of 4, four tasks that
    // each wait on a shared barrier all enter before any finishes
    val barrier = new java.util.concurrent.CyclicBarrier(4)
    val r = TablePool.map(1 to 4, maxConcurrent = 4) { i =>
      barrier.await(10, java.util.concurrent.TimeUnit.SECONDS); i
    }
    assert(r === Seq(1, 2, 3, 4))
    val e = intercept[RuntimeException] {
      TablePool.map(Seq(1, 2, 3), maxConcurrent = 2) { i =>
        if (i == 2) sys.error("boom") else i
      }
    }
    assert(e.getMessage.contains("boom"))
  }

  test("validateTable then validateByDigest read each parquet side once") {
    val base = Files.createTempDirectory("scanonce").toString
    val (src, tgt) = (s"$base/source", s"$base/target")
    val rows = (1L to 200L).map(i => (i, s"v$i", i * 0.5))
    rows.toDF("id", "payload", "amount").coalesce(1).write.parquet(src)
    rows.map { case (i, p, a) => (i, if (i == 150L) "drift" else p, a) }
      .toDF("id", "payload", "amount").coalesce(1).write.parquet(tgt)
    val spec = TableSpec("t", "", Seq("id"))
    graft.plans.CachedPlans.clear()
    val scans = new OpenedScans
    spark.listenerManager.register(scans)
    try {
      val source = spark.read.parquet(src)
      val target = spark.read.parquet(tgt)
      val rep = ValidateJob.validateTable(source, target, spec)
      assert(rep.matched === 199L && rep.mismatched === 1L)
      assert(ValidateJob.validateByDigest(source, target, spec, 50)
        === Seq(2L))
      org.apache.spark.GraftTestBus.drain(spark.sparkContext)
      assert(scans.opens(src) === 1 && scans.opens(tgt) === 1,
        s"opens: source ${scans.opens(src)}, target ${scans.opens(tgt)}")

      // rewrite the source IN PLACE between the two calls — same file
      // name, new length and mtime: the pair re-keys and is read again,
      // never served from the stale entry
      val source2 = spark.read.parquet(src)
      assert(ValidateJob.validateTable(source2, target, spec).mismatched
        === 1L)
      rewriteInPlace(src,
        rows.map { case (i, p, a) => (i, if (i == 20L) "rewritten" else p, a) }
          .toDF("id", "payload", "amount"))
      assert(ValidateJob.validateByDigest(spark.read.parquet(src), target,
        spec, 50) === Seq(0L, 2L))
      org.apache.spark.GraftTestBus.drain(spark.sparkContext)
      // the cache unit is the (source, target) pair: one layout holds
      // both sides, so re-filling it after the source changed opens the
      // unchanged target again too
      assert(scans.opens(src) === 2 && scans.opens(tgt) === 2,
        s"opens: source ${scans.opens(src)}, target ${scans.opens(tgt)}")
    } finally {
      spark.listenerManager.unregister(scans)
      graft.plans.CachedPlans.clear()
    }
  }

  /** Replaces the one parquet file under `dir` with `df`'s rows: same
    * file name, new length, and an mtime 10 s later.
    */
  private def rewriteInPlace(dir: String,
      df: org.apache.spark.sql.DataFrame): Unit = {
    val part = new java.io.File(dir).listFiles()
      .find(_.getName.endsWith(".parquet")).get
    val staging = s"${new java.io.File(dir).getParent}/_staged"
    df.coalesce(1).write.mode("overwrite").parquet(staging)
    val staged = new java.io.File(staging).listFiles()
      .find(_.getName.endsWith(".parquet")).get
    val mtime = part.lastModified()
    Files.move(staged.toPath, part.toPath,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    new java.io.File(part.getParent, s".${part.getName}.crc").delete()
    assert(part.setLastModified(mtime + 10000L))
  }

  test("rewriting the target in place re-fills the pair and reports its new rows") {
    val base = Files.createTempDirectory("scanonce-target").toString
    val (src, tgt) = (s"$base/source", s"$base/target")
    val rows = (1L to 200L).map(i => (i, s"v$i", i * 0.5))
    rows.toDF("id", "payload", "amount").coalesce(1).write.parquet(src)
    rows.toDF("id", "payload", "amount").coalesce(1).write.parquet(tgt)
    val spec = TableSpec("t", "", Seq("id"))
    graft.plans.CachedPlans.clear()
    val scans = new OpenedScans
    spark.listenerManager.register(scans)
    try {
      val source = spark.read.parquet(src)
      assert(ValidateJob.validateTable(source, spark.read.parquet(tgt), spec)
        .ok)
      // the target drifts in place: id 120 changes, id 200 goes, 201 comes
      rewriteInPlace(tgt, (rows.filter(_._1 != 200L) :+ ((201L, "v201", 0.0)))
        .map { case (i, p, a) => (i, if (i == 120L) "drift" else p, a) }
        .toDF("id", "payload", "amount"))
      val target = spark.read.parquet(tgt)
      assert(ValidateJob.validateTable(source, target, spec) ===
        ValidateJob.TableReport("t", 198L, 1L, 1L, 1L))
      assert(ValidateJob.validateByDigest(source, target, spec, 50)
        === Seq(2L, 3L))
      org.apache.spark.GraftTestBus.drain(spark.sparkContext)
      assert(scans.opens(src) === 2 && scans.opens(tgt) === 2,
        s"opens: source ${scans.opens(src)}, target ${scans.opens(tgt)}")
    } finally {
      spark.listenerManager.unregister(scans)
      graft.plans.CachedPlans.clear()
    }
  }

  test("full-load-only snapshot of LOAD files without an Op column") {
    val base = Files.createTempDirectory("noop").toString
    val tdir = s"$base/db/items"
    (1L to 30L).map(i => (i, s"v$i")).toDF("id", "v")
      .coalesce(1).write.parquet(s"$tdir/_w")
    val part = new java.io.File(s"$tdir/_w").listFiles()
      .find(_.getName.endsWith(".parquet")).get
    Files.move(part.toPath,
      java.nio.file.Paths.get(s"$tdir/LOAD00000001.parquet"))
    org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
      .delete(new org.apache.hadoop.fs.Path(s"$tdir/_w"), true)
    // with a PK (reduced) and without one (PK-less concatenation)
    Seq(Seq("--pk", "items=id") -> "pk", Seq.empty[String] -> "nopk")
      .foreach { case (pk, name) =>
        val out = s"$base/out_$name"
        val printed = new java.io.ByteArrayOutputStream
        val status = Console.withOut(printed) {
          graft.cli.Main.run((Seq("--base-dir", s"$base/db",
            "--mode", "full-load-only", "--only-snapshot", "--out", out) ++ pk)
            .toArray)
        }
        assert(status === 0, name)
        assert(printed.toString.contains(
          "[snapshot] items: 30 rows reconstructed"), s"$name: $printed")
        assert(spark.read.parquet(s"$out/items").as[(Long, String)]
          .collect().toSet === (1L to 30L).map(i => (i, s"v$i")).toSet, name)
      }
  }

  test("snapshot counts its rows without reading its output back") {
    val base = Files.createTempDirectory("snapcount").toString
    val tdir = s"$base/db/public/items"
    (1L to 60L).map(i => ("I", "t0", i, Seq("eu", "us")((i % 2).toInt)))
      .toDF(C.Op, C.IngestTs, "id", "region")
      .coalesce(1).write.parquet(s"$tdir/_w")
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
    val part = fs.listStatus(new org.apache.hadoop.fs.Path(s"$tdir/_w"))
      .map(_.getPath).find(_.getName.endsWith(".parquet")).get
    fs.rename(part, new org.apache.hadoop.fs.Path(s"$tdir/LOAD00000001.parquet"))
    fs.delete(new org.apache.hadoop.fs.Path(s"$tdir/_w"), true)
    val spec = TableSpec("items", tdir, Seq("id"))
    val plain = CdcConfig(s"$base/db/public", "public",
      mode = ListingMode.FullLoadOnly)
    // the three write layouts: plain parquet, partition dirs, bucketed
    // saveAsTable
    Seq("plain" -> plain,
      "partitioned" -> plain.copy(snapshotPartitionBy = Seq("region")),
      "bucketed" -> plain.copy(snapshotBuckets = 2)).foreach {
      case (layout, cfg) =>
        val out = s"$base/out_$layout"
        val scans = new OpenedScans
        spark.listenerManager.register(scans)
        try {
          assert(SnapshotJob.run(spark, cfg, Seq(spec), out)
            === Map("items" -> 60L), layout)
          org.apache.spark.GraftTestBus.drain(spark.sparkContext)
          assert(scans.opens(out) === 0, s"$layout output read back")
        } finally spark.listenerManager.unregister(scans)
        assert(spark.read.parquet(s"$out/items").count() === 60L, layout)
    }
    spark.sql("DROP TABLE IF EXISTS " +
      SnapshotJob.snapshotTableName("items", s"$base/out_bucketed/items"))
  }

  test("CLI run returns 1 on a validate mismatch and 0 on a clean pair") {
    val base = Files.createTempDirectory("clistatus").toString
    val rows = (1L to 40L).map(i => (i, s"v$i"))
    // two table dirs; `bare` gets no --pk, so validate skips it
    Seq("items", "bare").foreach(t => Files.createDirectories(
      java.nio.file.Paths.get(s"$base/db/$t")))
    rows.toDF("id", "v").write.parquet(s"$base/out/items")
    rows.toDF("id", "v").write.parquet(s"$base/clean/items")
    rows.map { case (i, v) => (i, if (i == 33L) "drift" else v) }
      .toDF("id", "v").write.parquet(s"$base/drifted/items")
    def args(expected: String) = Array("--base-dir", s"$base/db",
      "--pk", "items=id", "--out", s"$base/out", "--chunk-size", "10",
      "--only-datadiff", "--expected", s"$base/$expected")
    assert(graft.cli.Main.run(args("clean")) === 0)
    assert(graft.cli.Main.run(args("drifted")) === 1)
    // main returns to a caller that already runs a session
    graft.cli.Main.main(args("drifted"))
    assert(!spark.sparkContext.isStopped)
  }
}
