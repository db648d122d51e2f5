package graft.perfbench

import graft.cdc.{CdcConfig, SnapshotJob, ValidateJob}
import graft.model.{ListingMode, TableSpec}
import graft.operators.{ChangeLogReducer, Dedup}
import graft.sources.{CdcFileLister, ChangeLogReader}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** One benchmark run in one JVM: set-up, then timed passes for
  * `--seconds`, then a result file for `run.py` to check and report.
  *
  * Untraced runs time what a user runs: the CLI verb in-process
  * (`graft.cli.Main`) or each declared query. Traced runs (`--trace 1`)
  * make the same calls layer by layer from here, each call a span with
  * the listener's counters attached, and report per-layer figures.
  *
  * Usage (normally started by run.py):
  *   graft.perfbench.Harness --workload cdc_validate|corpus_serve
  *     --run-dir DIR --seconds S --trace 0|1 --cores N --trace-file FILE
  *     [--base-dir D --start-date ISO --expected D] [--corpus-dir D]
  */
object Harness {

  // index-served queries and their recompute partners. retrieval_e2e_indexed
  // is left out: its two curated indexes doubled the set-up (23 s more a
  // run on 4 cores), more than the benchmark's run budget allows
  val Queries: Seq[String] = Seq(
    "dedup_minhash_lsh", "dedup_incremental_lsh_indexed", "text_bm25_topk",
    "text_bm25_indexed", "ann_ivf_sq8_indexed_topk",
    "retrieval_hybrid_rrf_ivf_indexed")

  private val Tables = Seq(
    TableSpec("lineitem", "", Seq("l_orderkey", "l_linenumber")),
    TableSpec("orders", "", Seq("o_orderkey")))

  private val MB = 1e6


  type Rec = Seq[(String, Any)]

  def main(args: Array[String]): Unit = {
    val a = args.toSeq.grouped(2).collect {
      case Seq(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val workload = a("workload")
    val runDir = a("run-dir")
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val cores = a("cores").toInt

    // the session graft.Bench builds (one shuffle partition per core),
    // with the extensions graft.cli.Main adds; the CLI then reuses it.
    // Spark's default of 200 shuffle partitions would leave validate's
    // cached range-partitioned digest layout at 200 tasks per stage.
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .withExtensions(new graft.plans.GraftExtensions)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.warehouse.dir", s"$runDir/warehouse")
      .config("spark.local.dir", s"$runDir/local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val counters = new Counters(spark)
    spark.sparkContext.addSparkListener(counters)
    val tracer = new Tracer(counters)
    val run = new Run(spark, counters, tracer, a, cores, traced)

    val result = workload match {
      case "cdc_validate" => run.cdcValidate(seconds)
      case "corpus_serve" => run.corpusServe(seconds)
      case other => sys.error(s"unknown workload $other")
    }
    if (traced) tracer.write(a("trace-file"))
    Files.write(Paths.get(s"$runDir/result.json"),
      Json.obj(result).getBytes("UTF-8"))
    spark.stop()
  }

  final class Run(spark: SparkSession, counters: Counters, tracer: Tracer,
      a: Map[String, String], cores: Int, traced: Boolean) {

    private var firstPassMs = 0L

    /** Passes until `seconds` have gone by, always whole passes. */
    private def timedPasses(seconds: Double)(pass: => Rec): Seq[Rec] = {
      firstPassMs = System.currentTimeMillis
      val t0 = System.nanoTime
      val out = Seq.newBuilder[Rec]
      do out += pass while ((System.nanoTime - t0) / 1e9 < seconds)
      out.result()
    }

    /** Wall time, counters and driver-only time of one pass. `body`
      * returns the per-operation times (ms) and whatever the checks need.
      */
    private def measured(body: => (Seq[Double], Rec)): Rec = {
      tracer.clear()
      tracer.pass += 1
      val before = counters.snap()
      val w0 = System.currentTimeMillis
      val t0 = System.nanoTime
      val (opsMs, extra) =
        if (traced) tracer.span("pass")(body) else body
      val wallMs = (System.nanoTime - t0) / 1e6
      val w1 = System.currentTimeMillis
      val d = counters.snap() - before
      val storage = spark.sparkContext.getRDDStorageInfo
        .filter(_.numCachedPartitions > 0)
      val common = Seq(
        "wall_s" -> wallMs / 1e3,
        "ops_ms" -> opsMs,
        "scan_mb" -> d.scanBytes / MB,
        "shuffle_mb" -> d.shuffleWrite / MB)
      val layers =
        if (!traced) Nil
        else Seq("layers" -> (Seq(
          "traced.pass_s" -> wallMs / 1e3,
          "spark.jobs" -> d.jobs.toDouble,
          "spark.tasks" -> d.tasks.toDouble,
          "driver.ms" -> (wallMs - counters.busyMs(w0, w1)).max(0.0),
          "cache.mb" -> storage.map(s => s.memSize + s.diskSize).sum / MB,
          "cache.rdds" -> storage.length.toDouble) ++ layerFigures).toMap)
      common ++ extra ++ layers
    }

    // per-layer figures of the pass that just ran, read from its spans
    private var layerFigures: Seq[(String, Double)] = Nil

    private def finish(setup: Rec, warm: Seq[Rec], passes: Seq[Rec]): Rec = {
      // the pauses let Spark's context cleaner drop the blocks of the
      // shuffles and broadcasts a collection has just made unreachable
      (1 to 3).foreach { _ => System.gc(); Thread.sleep(300) }
      val heap = java.lang.management.ManagementFactory.getMemoryMXBean
        .getHeapMemoryUsage.getUsed
      Seq("first_pass_epoch_ms" -> firstPassMs,
        "retained_heap_mb" -> heap / MB,
        "setup" -> setup.toMap, "warmup" -> warm.map(_.toMap),
        "passes" -> passes.map(_.toMap))
    }

    private def cli(args: Seq[String]): Seq[String] = {
      val buf = new java.io.ByteArrayOutputStream
      Console.withOut(new java.io.PrintStream(buf, true, "UTF-8")) {
        graft.cli.Main.main(args.toArray)
      }
      buf.toString("UTF-8").linesIterator.filter(_.startsWith("[")).toSeq
    }

    // ---------------------------------------------------------- CDC side

    private def base = a("base-dir")
    private def startMs = java.time.Instant.parse(a("start-date")).toEpochMilli
    private def outRoot = s"${a("run-dir")}/out"

    private def cliCommon: Seq[String] =
      Seq("--base-dir", base, "--mode", "date-aware",
        "--start-date", a("start-date"),
        "--pk", "lineitem=l_orderkey,l_linenumber",
        "--pk", "orders=o_orderkey",
        "--max-concurrent-tables", cores.toString)

    private def cfg = CdcConfig(base, "public",
      mode = ListingMode.DateAware(startMs, None),
      maxConcurrentTables = cores)

    private def spec(t: TableSpec) = t.copy(dir = s"$base/${t.name}")

    private def parquetFiles(dir: String): Long = {
      val s = Files.walk(Paths.get(dir))
      try s.iterator.asScala.count(_.toString.endsWith(".parquet")).toLong
      finally s.close()
    }

    private def ms(name: String) = tracer.total(name)._1
    private def dl(name: String) = tracer.total(name)._2

    /** The snapshot verb layer by layer, per table in turn: list, scan
      * (the change log materialized once), reduce (materialized once),
      * write, and the read-back count `SnapshotJob.run` does.
      */
    private def tracedSnapshot(out: String): Seq[String] = {
      var kept, seen, events, rowsOut = 0L
      val lines = Tables.map { t0 =>
        val t = spec(t0)
        tracer.span(s"table.${t.name}") {
          val files = tracer.span("sources.list") {
            CdcFileLister.list(spark, t.dir, cfg.mode)
          }
          kept += files.size
          seen += parquetFiles(t.dir)
          val log = tracer.span("sources.scan") {
            val l = ChangeLogReader.read(spark, files).persist()
            events += l.count()
            l
          }
          // a local checkpoint, not a cache: it keeps the partitions
          // adaptive execution coalesced, so the write below writes the
          // same files as the CLI's single plan
          val state = tracer.span("reduce") {
            val s = ChangeLogReducer.reduce(log, t.primaryKey,
              ChangeLogReader.eventSeq(log)).localCheckpoint()
            rowsOut += s.count()
            s
          }
          tracer.span("write") { SnapshotJob.writeState(state, cfg, t, out) }
          val n = tracer.span("recount") {
            spark.read.parquet(s"$out/${t.name}").count()
          }
          state.queryExecution.analyzed.foreach {
            case r: org.apache.spark.sql.execution.LogicalRDD =>
              r.rdd.unpersist()
            case _ => ()
          }
          log.unpersist()
          s"[snapshot] ${t.name}: $n rows reconstructed"
        }
      }
      val writeFiles = Tables.map(t => parquetFiles(s"$out/${t.name}")).sum
      layerFigures = Seq(
        "sources.list_ms" -> ms("sources.list"),
        "sources.list_calls" -> dl("sources.list").listCalls.toDouble,
        "sources.files_kept" -> kept.toDouble,
        "sources.files_kept_ratio" -> kept.toDouble / seen,
        "sources.events" -> events.toDouble,
        "sources.scan_ms" -> ms("sources.scan"),
        "sources.scan_mb" -> dl("sources.scan").scanBytes / MB,
        "reduce.ms" -> ms("reduce"),
        "reduce.shuffle_mb" -> dl("reduce").shuffleWrite / MB,
        "reduce.spill_mb" -> dl("reduce").spillBytes / MB,
        "reduce.rows_out" -> rowsOut.toDouble,
        "write.ms" -> ms("write"),
        "write.mb" -> dl("write").outBytes / MB,
        "write.files" -> writeFiles.toDouble,
        "recount.ms" -> ms("recount"))
      lines
    }

    /** The validate verb layer by layer, per table in turn, with the same
      * calls and report lines as `graft.cli.Main`.
      */
    private def tracedValidate(expected: String, snap: String)
        : Seq[String] = {
      graft.plans.CachedPlans.clear()
      val chunk = 1000
      val lines = Tables.flatMap { t =>
        tracer.span(s"table.${t.name}") {
          val source = spark.read.parquet(s"$expected/${t.name}")
          val target = spark.read.parquet(s"$snap/${t.name}")
          val rep = tracer.span("rowdiff") {
            ValidateJob.validateTable(source, target, t)
          }
          val bad = tracer.span("digest") {
            ValidateJob.validateByDigest(source, target, t, chunk)
          }
          Seq(s"[validate] ${t.name}: " +
            (if (rep.ok) s"OK (${rep.matched} rows)"
             else s"MISMATCH only_left=${rep.onlyLeft} " +
               s"only_right=${rep.onlyRight} mismatched=${rep.mismatched}"),
            s"[validate] ${t.name}: digest chunks " +
              (if (bad.isEmpty) s"OK (chunk size $chunk)"
               else s"MISMATCH at chunk ids ${bad.mkString(", ")}"))
        }
      }
      layerFigures = Seq(
        "rowdiff.ms" -> ms("rowdiff"),
        "rowdiff.scan_mb" -> dl("rowdiff").scanBytes / MB,
        "rowdiff.shuffle_mb" -> dl("rowdiff").shuffleWrite / MB,
        "digest.ms" -> ms("digest"),
        "digest.scan_mb" -> dl("digest").scanBytes / MB,
        "digest.shuffle_mb" -> dl("digest").shuffleWrite / MB,
        "digest.jobs" -> dl("digest").jobs.toDouble)
      lines
    }

    def cdcValidate(seconds: Double): Rec = {
      // the snapshot validate compares against; a traced run makes it
      // layer by layer, so the snapshot layers are measured here too
      val snap = s"$outRoot/snapshot"
      val snapLines =
        if (traced) tracer.span("snapshot")(tracedSnapshot(snap))
        else cli(cliCommon ++ Seq("--only-snapshot", "--out", snap))
      val snapLayers = layerFigures
      def pass(): Rec = measured {
        val t0 = System.nanoTime
        val lines =
          if (traced) tracedValidate(a("expected"), snap)
          else cli(cliCommon ++ Seq("--only-datadiff", "--out", snap,
            "--expected", a("expected")))
        (Seq((System.nanoTime - t0) / 1e6), Seq("lines" -> lines))
      }
      // two untimed calls first: the first after set-up takes about three
      // times a warm call. Calls keep getting faster for a few more as
      // the JIT warms up; more warm-up calls did not steady the runs
      val warm = (1 to 2).map(_ => pass())
      val passes = timedPasses(seconds)(pass())
      finish(snapLayers ++ Seq("out" -> snap, "lines" -> snapLines),
        warm, passes)
    }

    // ------------------------------------------------------- corpus side

    private def corpus = a("corpus-dir")

    private def rowsDigest(rows: Array[Row]): String = {
      val md = java.security.MessageDigest.getInstance("MD5")
      rows.map(_.toString).sorted.foreach { r =>
        md.update(r.getBytes("UTF-8")); md.update(0: Byte)
      }
      md.digest().map(b => f"$b%02x").mkString
    }

    private def query(name: String): DataFrame =
      graft.SparkEntry.queries(name)(spark, corpus)

    /** The dedup_minhash_lsh pipeline stage by stage, each stage
      * materialized once: shingle, then sign + band + candidate pairs,
      * then the exact-Jaccard verify at the query's threshold.
      */
    private def tracedDedup(): Seq[(String, Double)] = {
      val docs = graft.queries.Tables.tbl(spark, corpus, "documents")
      val sh = tracer.span("dedup.shingle") {
        val s = Dedup.hashedShingleTable(docs, "doc_id", "text", 3).persist()
        s.count()
        s
      }
      val (pairs, candidates) = tracer.span("dedup.band") {
        val sig = Dedup.minHashSignatures(sh, "doc_id", 12)
        val (p, _) = Dedup.candidatePairs(
          Dedup.lshBandKeys(sig, "doc_id", 4, 3), "doc_id")
        val pp = p.persist()
        (pp, pp.count())
      }
      val verified = tracer.span("dedup.verify") {
        Dedup.jaccardFor(pairs, sh, "doc_id")
          .filter(col("jaccard") >= 0.5).count()
      }
      pairs.unpersist(); sh.unpersist()
      Seq("dedup.shingle_ms" -> ms("dedup.shingle"),
        "dedup.band_ms" -> ms("dedup.band"),
        "dedup.verify_ms" -> ms("dedup.verify"),
        "dedup.candidates" -> candidates.toDouble,
        "dedup.verified" -> verified.toDouble,
        "dedup.verify_ratio" ->
          (if (candidates == 0) 0.0 else verified.toDouble / candidates))
    }

    def corpusServe(seconds: Double): Rec = {
      // the one-time index builds, one per family, side by side as
      // graft.Bench's prewarm runs them, on a pool no wider than the cores
      val builds: Seq[(String, (SparkSession, String) => Any)] = Seq(
        "text" -> graft.queries.QueryIndexes.text _,
        "lexical" -> graft.queries.QueryIndexes.lexical _,
        "vectors" -> graft.queries.QueryIndexes.vectorsFull _)
      val pool = java.util.concurrent.Executors.newFixedThreadPool(
        math.min(cores, builds.size))
      val buildS = try builds.map { case (family, fn) =>
        family -> pool.submit(new java.util.concurrent.Callable[Double] {
          def call(): Double = {
            val t0 = System.nanoTime
            fn(spark, corpus)
            (System.nanoTime - t0) / 1e9
          }
        })
      }.map { case (family, f) => s"index.build_s.$family" -> f.get() }
      finally pool.shutdown()
      val resDir = s"${a("run-dir")}/results"
      // the first warm-up pass's rows are what the checks compare with
      // the oracle; every later pass must return the same rows. A traced
      // run also stages the dedup pipeline after each pass, untimed.
      def pass(keep: Boolean): Rec = {
        val rec = measured(runQueries(keep, resDir))
        if (!traced) rec
        else rec.map {
          case ("layers", l: Map[_, _]) =>
            "layers" -> (l.asInstanceOf[Map[String, Double]] ++ tracedDedup())
          case kv => kv
        }
      }
      // two untimed passes first: the second still runs about a fifth
      // slower than the third as the JIT warms up
      val warm = Seq(pass(keep = true), pass(keep = false))
      val passes = timedPasses(seconds)(pass(keep = false))
      finish(buildS, warm, passes) ++ Seq("results_dir" -> resDir,
        "oracle" -> Queries.map(q => q -> graft.SparkEntry.oracleSql(q)).toMap)
    }

    /** Each query once, collected, with its time; `keep` writes the rows
      * to `resDir` for the oracle check.
      */
    private def runQueries(keep: Boolean, resDir: String): (Seq[Double], Rec) = {
      val times = Seq.newBuilder[Double]
      val digests = Queries.map { q =>
        val t0 = System.nanoTime
        val (df, rows) =
          if (traced) {
            val df = tracer.span(s"q.$q.plan")(query(q))
            (df, tracer.span(s"q.$q.exec")(df.collect()))
          } else {
            val df = query(q)
            (df, df.collect())
          }
        times += (System.nanoTime - t0) / 1e6
        if (keep) spark.createDataFrame(rows.toSeq.asJava, df.schema)
          .coalesce(1).write.parquet(s"$resDir/$q")
        q -> rowsDigest(rows)
      }
      if (traced) {
        val indexed = Queries.filter(_.contains("indexed"))
        layerFigures = Queries.flatMap { q =>
          val (p, e) = (tracer.total(s"q.$q.plan"), tracer.total(s"q.$q.exec"))
          Seq(s"q.$q.plan_ms" -> p._1, s"q.$q.exec_ms" -> e._1,
            s"q.$q.jobs" -> (p._2.jobs + e._2.jobs).toDouble,
            s"q.$q.shuffle_mb" ->
              (p._2.shuffleWrite + e._2.shuffleWrite) / MB)
        } :+ ("index.list_calls" -> indexed.map(q =>
          dl(s"q.$q.plan").listCalls).sum.toDouble / indexed.size)
      }
      (times.result(), Seq("digests" -> digests.toMap))
    }
  }
}
