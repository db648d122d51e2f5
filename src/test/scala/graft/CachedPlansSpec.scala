package graft

import graft.plans.CachedPlans
import org.apache.spark.sql.functions._

/** The session memo registry: semantically identical plans share ONE
  * cache entry (no duplicate persist, no duplicate fill job), values and
  * index loads build once per snapshot, and `clear()` releases
  * everything.
  */
class CachedPlansSpec extends SparkSpec {
  import spark.implicits._

  test("identical plans share one cached DataFrame; clear unpersists") {
    CachedPlans.clear()
    def build() = (1 to 100).toDF("n")
      .withColumn("sq", col("n") * col("n"))
      .filter(col("n") % 3 === 0)
    val a = CachedPlans.cached(build())
    val b = CachedPlans.cached(build())
    // the SAME DataFrame instance comes back — the second call never
    // touched persist() (which would log the duplicate-cache warning)
    assert(a eq b)
    assert(a.storageLevel.useMemory, "registry entry must be persisted")
    assert(a.count() === 33)
    // a semantically DIFFERENT plan gets its own entry
    val c = CachedPlans.cached(build().filter(col("n") > 50))
    assert(!(c eq a) && c.count() === 17)
    CachedPlans.clear()
    assert(!a.storageLevel.useMemory && !c.storageLevel.useMemory,
      "clear() must unpersist registered entries")
    // re-registering after clear works (fresh persist)
    val d = CachedPlans.cached(build())
    assert(d.storageLevel.useMemory && d.count() === 33)
    CachedPlans.clear()
  }

  test("rewritten input files miss the stale entry and rebuild") {
    CachedPlans.clear()
    val dir = java.nio.file.Files.createTempDirectory("graft-snap").toString
    spark.range(0, 10).toDF("n").write.mode("overwrite").parquet(dir)
    val a = CachedPlans.cached(spark.read.parquet(dir))
    assert(a.count() === 10)
    // same path, same canonical plan — but the files underneath changed;
    // the snapshot fingerprint must force a rebuild, not serve 10 rows
    spark.range(0, 25).toDF("n").write.mode("overwrite").parquet(dir)
    val b = CachedPlans.cached(spark.read.parquet(dir))
    assert(!(b eq a), "rewritten input must not hit the stale entry")
    assert(b.count() === 25)
    // unchanged files still hit (one entry, same instance back)
    val c = CachedPlans.cached(spark.read.parquet(dir))
    assert(c eq b)
    CachedPlans.clear()
  }

  test("in-place rewrite keeping file names misses the stale entry") {
    // the streaming state sink's bucket swap rewrites files under STABLE
    // names (bucket_<k>), so the snapshot must fingerprint length+mtime,
    // not just the listing
    CachedPlans.clear()
    val dirA = java.nio.file.Files.createTempDirectory("graft-swap-a")
    val dirB = java.nio.file.Files.createTempDirectory("graft-swap-b")
    spark.range(0, 10).toDF("n").coalesce(1)
      .write.mode("overwrite").parquet(dirA.toString)
    val a = CachedPlans.cached(spark.read.parquet(dirA.toString))
    assert(a.count() === 10)
    // craft a replacement with DIFFERENT content but the SAME file name
    spark.range(0, 25).toDF("n").coalesce(1)
      .write.mode("overwrite").parquet(dirB.toString)
    def part(d: java.nio.file.Path) = new java.io.File(d.toString)
      .listFiles.find(_.getName.startsWith("part-")).get.toPath
    val (pa, pb) = (part(dirA), part(dirB))
    java.nio.file.Files.copy(pb, pa,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    // the local FS keeps a checksum sidecar per file — swap it too, as
    // the real bucket-swap writer does
    java.nio.file.Files.copy(
      pb.resolveSibling("." + pb.getFileName + ".crc"),
      pa.resolveSibling("." + pa.getFileName + ".crc"),
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    // refresh Spark's OWN file-status cache (any in-place writer must —
    // stale lengths break parquet footer reads); the point under test is
    // that the CachedPlans registry ALSO misses, via its own snapshot
    spark.catalog.refreshByPath(dirA.toString)
    val b = CachedPlans.cached(spark.read.parquet(dirA.toString))
    assert(!(b eq a), "same-name rewrite must not hit the stale entry")
    assert(b.count() === 25)
    CachedPlans.clear()
  }

  test("cache-shadowed plans still re-key when a NON-Spark writer changes the files") {
    CachedPlans.clear()
    val root = java.nio.file.Files.createTempDirectory("cp-shadow")
    val dir = s"$root/t"
    Seq((1L, "a"), (2L, "b")).toDF("id", "v")
      .write.parquet(dir)
    def frame() = spark.read.parquet(dir).filter($"id" > 0)
      .groupBy("v").agg(count(lit(1)).as("n"))
    val c1 = CachedPlans.cached(frame())
    assert(c1.count() === 2)
    // the hazard's precondition: once c1 is persisted, the CacheManager
    // substitutes an InMemoryRelation into later same-shaped plans and
    // Dataset.inputFiles comes back EMPTY — a file-based key computed
    // from it would degrade to plan-only
    assert(frame().inputFiles.isEmpty,
      "expected cache substitution to shadow inputFiles — if Spark " +
        "stopped substituting, this test is vacuous; re-examine snapshot()")
    // change the data the way the dedup indexes do — an FS-level file
    // move, invisible to Spark's recacheByPath (unlike a Spark writer)
    val extraDir = s"$root/extra"
    Seq((3L, "c")).toDF("id", "v").write.parquet(extraDir)
    val src = new java.io.File(extraDir).listFiles()
      .filter(f => f.getName.endsWith(".parquet")).head
    java.nio.file.Files.move(src.toPath,
      java.nio.file.Paths.get(dir, "zz-" + src.getName))
    // a same-shaped plan over the changed listing must MISS the stale
    // entry: the analyzed-plan file listing survives the shadowing
    val c2 = CachedPlans.cached(frame())
    assert(!(c2 eq c1),
      "stale registry hit: snapshot keying degraded under cache shadowing")
    assert(c2.count() === 3, "re-keyed entry must see the moved-in file")
  }

  test("memoValue builds once per (plan, snapshot) and re-keys on rewrite") {
    CachedPlans.clear()
    val dir = java.nio.file.Files.createTempDirectory("graft-vmemo").toString
    spark.range(0, 10).toDF("n").write.mode("overwrite").parquet(dir)
    var builds = 0
    def toks(): Seq[Long] = CachedPlans.memoValue(
      "probe_toks", spark.read.parquet(dir)) {
      builds += 1
      spark.read.parquet(dir).collect().map(_.getLong(0)).sorted.toSeq
    }
    assert(toks() === (0L until 10L) && builds === 1)
    // second call: same plan, same files — the collect must NOT re-run
    assert(toks() === (0L until 10L) && builds === 1,
      "memoValue re-ran its build for an unchanged key")
    // a rewrite changes the snapshot: stale value evicted, fresh build
    spark.range(0, 5).toDF("n").write.mode("overwrite").parquet(dir)
    assert(toks() === (0L until 5L) && builds === 2,
      "memoValue served a stale value across a file rewrite")
    // a DIFFERENT tag on the same plan is its own entry
    val other = CachedPlans.memoValue("probe_other",
      spark.read.parquet(dir)) { builds += 1; Seq(99L) }
    assert(other === Seq(99L) && builds === 3)
    CachedPlans.clear()
    // clear() forgets value memos too — next call rebuilds
    assert(toks() === (0L until 5L) && builds === 4,
      "clear() must evict value memos")
    CachedPlans.clear()
  }

  test("loadIndex: one load per session and directory state; clear forgets it") {
    CachedPlans.clear()
    val dir = java.nio.file.Files.createTempDirectory("graft-iload")
    val part = dir.resolve("part-0")
    java.nio.file.Files.write(part, "v1".getBytes("UTF-8"))
    var loads = 0
    def load(s: org.apache.spark.sql.SparkSession): String =
      CachedPlans.loadIndex(s, dir.toString) {
        loads += 1
        new String(java.nio.file.Files.readAllBytes(part), "UTF-8")
      }
    // 1. an unchanged directory loads once and returns the same instance
    val a = load(spark)
    assert(a === "v1" && loads === 1)
    assert(load(spark) eq a, "an unchanged directory must not reload")
    assert(loads === 1)
    // 2. rewriting one file (new length and mtime) loads again and
    // returns the new value
    java.nio.file.Files.write(part, "v2-longer".getBytes("UTF-8"))
    java.nio.file.Files.setLastModifiedTime(part,
      java.nio.file.attribute.FileTime.fromMillis(
        System.currentTimeMillis() + 5000))
    assert(load(spark) === "v2-longer" && loads === 2,
      "a rewritten index directory must reload")
    assert(load(spark) === "v2-longer" && loads === 2)
    // 3. another session gets its own load of the same directory state
    val other = spark.newSession()
    assert(load(other) === "v2-longer" && loads === 3,
      "a new session must not be served another session's load")
    assert(load(other) === "v2-longer" && loads === 3)
    // 4. clear() forgets loads: the next call loads again
    CachedPlans.clear()
    assert(load(spark) === "v2-longer" && loads === 4,
      "clear() must evict index loads")
    CachedPlans.clear()
  }

  test("clear releases checkpoint blocks behind memoized results") {
    CachedPlans.clear()
    val pairs = Seq((11L, 12L), (12L, 13L), (21L, 22L)).toDF("a_id", "b_id")
    val cc = graft.operators.Dedup.connectedComponents(pairs, "a_id", "b_id")
    assert(cc.count() === 5)
    // the memoized label table is localCheckpoint-backed: its plan reads
    // persisted RDD blocks that DataFrame.unpersist alone never touches
    val rdds = cc.queryExecution.logical.collect {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd
    }
    assert(rdds.nonEmpty, "expected a checkpoint-backed plan")
    assert(rdds.exists(r => r.getStorageLevel.useMemory
      || r.getStorageLevel.useDisk), "checkpoint blocks should be live")
    CachedPlans.clear()
    assert(rdds.forall(_.getStorageLevel ===
      org.apache.spark.storage.StorageLevel.NONE),
      "clear() must release memoized checkpoint blocks")
  }
}
