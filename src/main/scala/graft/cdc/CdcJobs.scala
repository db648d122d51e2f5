package graft.cdc

import graft.model.{CdcColumns => C, ListingMode, TableSpec}
import graft.operators.{ChangeLogReducer, DiffEngine, SchemaChecker}
import graft.sources.{CdcFileLister, ChangeLogReader}
import org.apache.spark.sql.functions.{count, lit}
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}

/** Job-level orchestration — the engine's equivalents of the reference's
  * two verbs on CDCOperator (src/cdc/cdc_operator.rs:26-251 snapshot,
  * :254-288 validate) and its payload validation
  * (src/cdc/cdc_operator_payload.rs:51-93).
  */
final case class CdcConfig(
    baseDir: String,                      // <prefix>/<db>/<schema>
    schema: String,
    includeTables: Seq[String] = Seq.empty,
    excludeTables: Seq[String] = Seq.empty,
    mode: ListingMode = ListingMode.FullLoadOnly,
    onlySnapshot: Boolean = false,
    onlyDatadiff: Boolean = false,
    chunkSize: Int = 1000,                // reference default (main.rs:76-77)
    lenient: Boolean = false,
    // digest-validate resume: skip chunk ids below this (the reference's
    // --start-position, main.rs:81-83 — re-validating a huge table that
    // failed at chunk N must not re-pay chunks 0..N-1)
    startChunk: Long = 0L,
    // bounded per-table driver concurrency (the reference runs <= 80
    // table loops concurrently, cdc_operator.rs:233-248; each of our
    // per-table bodies is itself a parallel Spark job, so a small pool
    // keeps the cluster busy across many SMALL tables without flooding
    // the scheduler)
    maxConcurrentTables: Int = 8,
    // snapshot physical layout, the 100 TB path: hive-style partition
    // dirs on low-cardinality state columns (ingest date, tenant) so
    // every later read over the snapshot — incremental mergeBatch,
    // validate, ad-hoc slices — prunes whole directories at listing
    // time instead of scanning the table; columns must exist in the
    // reconstructed state (checked per table at write)
    snapshotPartitionBy: Seq[String] = Seq.empty,
    // optional PK bucketing (> 0 enables): the snapshot lands as a
    // bucketed external table so the validate-side source-vs-target PK
    // join — the pipeline's hottest repeated join — runs Exchange-free
    // against an equally-bucketed source (ScaleOps.writeBucketed
    // semantics; the asserted-no-Exchange join is ScaleOpsSpec's)
    snapshotBuckets: Int = 0,
    // which listing backend resolves cfg.mode to CDC files: "hadoop"
    // (CdcFileLister's streaming FileSystem iterator, the Spark-native
    // default) or "paged" (PagedLister — the reference's ListObjectsV2
    // protocol: prefix passes, lexicographic date cursor, truncation
    // loops; the path for object stores exposing a native pager)
    lister: String = "hadoop") {
  // mutual exclusion enforced exactly like the reference
  // (cdc_operator_payload.rs:70-72 + clap conflicts_with)
  require(!(onlySnapshot && onlyDatadiff),
    "only_datadiff and only_snapshot cannot be both true")
  require(includeTables.isEmpty || excludeTables.isEmpty,
    "use include OR exclude table list, not both")
  require(startChunk >= 0, s"startChunk must be >= 0, got $startChunk")
  require(snapshotBuckets >= 0,
    s"snapshotBuckets must be >= 0, got $snapshotBuckets")
  require(maxConcurrentTables > 0,
    s"maxConcurrentTables must be > 0, got $maxConcurrentTables")
  require(lister == "hadoop" || lister == "paged",
    s"lister must be 'hadoop' or 'paged', got '$lister'")

  def selectTables(all: Seq[String]): Seq[String] =
    if (includeTables.nonEmpty) all.filter(includeTables.contains)
    else if (excludeTables.nonEmpty) all.filterNot(excludeTables.contains)
    else all
}

/** Bounded driver-side table fan-out (reference parity: the Rust client
  * awaits <= 80 concurrent per-table loops, cdc_operator.rs:233-248).
  * Spark's scheduler accepts jobs from many driver threads, so N tables
  * × one-job-each overlap instead of serializing — with thousands of
  * small tables a sequential loop leaves the cluster idle between jobs.
  * Results keep input order; the first failure propagates (fail-fast,
  * like the sequential form).
  */
private[graft] object TablePool {
  def map[T, A](items: Seq[T], maxConcurrent: Int)(f: T => A): Seq[A] =
    if (items.sizeIs <= 1 || maxConcurrent <= 1) items.map(f)
    else {
      import scala.concurrent.{Await, ExecutionContext, Future}
      import scala.concurrent.duration.Duration
      val pool = java.util.concurrent.Executors.newFixedThreadPool(
        math.min(maxConcurrent, items.size))
      implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
      // fail-fast parity with the sequential form: after any failure,
      // QUEUED tables must not run their side effects (a DELETE+append
      // against a live target, say). In-flight tables finish — never
      // interrupt a Spark job mid-write — but every not-yet-started task
      // sees the flag and skips.
      val failed = new java.util.concurrent.atomic.AtomicBoolean(false)
      // the ROOT failure, not whichever task Future.traverse happens to
      // surface: when the flag wins a race against an earlier-in-order
      // task that hadn't started, traverse would report that task's
      // CancellationException and hide the actual error
      val rootFailure =
        new java.util.concurrent.atomic.AtomicReference[Throwable]()
      def run(i: T): A =
        if (failed.get) throw new java.util.concurrent.CancellationException(
          "skipped: an earlier table failed")
        else try f(i) catch {
          case e: Throwable =>
            // record BEFORE raising the flag: a queued task observing the
            // flag must find the root cause already in place
            rootFailure.compareAndSet(null, e)
            failed.set(true)
            throw e
        }
      try Await.result(Future.traverse(items)(i => Future(run(i))), Duration.Inf)
      catch {
        case e: Throwable =>
          val root = rootFailure.get
          if (root != null && !(root eq e)) { root.addSuppressed(e); throw root }
          else throw e
      }
      finally pool.shutdown()
    }
}

object SnapshotJob {

  /** Reconstruct one table's final state from its CDC folder:
    * list → read (ordered) → optional schema check → reduce.
    * One Spark job per table; the driver loop stays trivial because each
    * job is itself fully parallel (contrast: the reference runs 80
    * concurrent single-threaded table loops).
    */
  def reconstructTable(spark: SparkSession, cfg: CdcConfig, table: TableSpec,
      catalogColumns: Option[Seq[String]] = None): DataFrame = {
    val files =
      if (cfg.lister == "paged")
        graft.sources.PagedLister.list(spark, table.dir, cfg.mode)
      else CdcFileLister.list(spark, table.dir, cfg.mode)
    require(files.nonEmpty, s"no CDC files for ${table.name} in ${table.dir}")
    val log = ChangeLogReader.read(spark, files)
    catalogColumns.foreach { cols =>
      // the reference checks LOAD-file schemas against the source catalog
      // (cdc_operator.rs:170-184); we check the unified log schema
      if (cfg.lenient) {
        val rep = SchemaChecker.check(log.schema, cols)
        if (!rep.ok)
          org.slf4j.LoggerFactory.getLogger(getClass)
            .warn(s"schema drift for ${table.name}: $rep")
      } else SchemaChecker.requireSubset(log.schema, cols)
    }
    if (table.primaryKey.nonEmpty)
      ChangeLogReducer.reduce(log, table.primaryKey,
        ChangeLogReader.eventSeq(log))
    else {
      // PK-less table: the reference can only bulk-insert these (its
      // upsert path needs ON CONFLICT (pk)); state = concatenation of
      // insert events, no reduction possible
      require(files.forall(_.isLoad) ||
          cfg.mode == graft.model.ListingMode.FullLoadOnly,
        s"table ${table.name} has no primary key: CDC replay undefined, " +
          "use FullLoadOnly mode")
      import graft.model.{CdcColumns => C}
      import org.apache.spark.sql.functions.{coalesce, col}
      // NULL Op (drifted file without the column) counts as an insert —
      // same rule as ChangeLogReducer's null-safe delete filter
      log.filter(coalesce(col(C.Op), lit(C.OpInsert)) === C.OpInsert)
        .drop(C.MetaColumns ++ C.InternalColumns: _*)
    }
  }

  /** Write one table's reconstructed state with the configured physical
    * layout: plain parquet by default, hive-partitioned when
    * `snapshotPartitionBy` is set, and a bucketed+sorted external table
    * when `snapshotBuckets` > 0 (bucket columns = the table's PK; the
    * files stay plain parquet under `outDir/<table>` either way, so
    * `spark.read.parquet` keeps working — the catalog entry additionally
    * lets bucket-aware readers join Exchange-free).
    */
  private[graft] def writeState(state: DataFrame, cfg: CdcConfig,
      t: TableSpec, outDir: String): Unit = {
    val missing = cfg.snapshotPartitionBy.filterNot(state.columns.contains)
    require(missing.isEmpty,
      s"snapshotPartitionBy columns $missing absent from ${t.name} state " +
        s"(has ${state.columns.mkString(", ")})")
    val path = s"$outDir/${t.name}"
    val base = state.write.mode("overwrite")
    val part =
      if (cfg.snapshotPartitionBy.isEmpty) base
      else base.partitionBy(cfg.snapshotPartitionBy: _*)
    if (cfg.snapshotBuckets > 0) {
      val bk = t.primaryKey
      require(bk.nonEmpty,
        s"snapshotBuckets set but table ${t.name} has no primary key")
      part.option("path", path)
        .bucketBy(cfg.snapshotBuckets, bk.head, bk.tail: _*)
        .sortBy(bk.head, bk.tail: _*)
        .saveAsTable(snapshotTableName(t.name, path))
    } else part.parquet(path)
  }

  /** Catalog name for a bucketed snapshot. The entry is session-global,
    * so it is qualified with the destination path's fingerprint: two
    * snapshot runs of a same-named table to DIFFERENT outDirs in one
    * session must not clobber each other's registration (same
    * table+path still overwrites, as intended). `String.hashCode` is
    * specified by the JLS, so the tag is stable across JVMs.
    */
  private[graft] def snapshotTableName(table: String, path: String): String =
    s"graft_snap_${table}_" +
      java.lang.Long.toHexString(path.hashCode.toLong & 0xffffffffL)

  /** Snapshot all selected tables under baseDir into parquet state dirs;
    * returns per-table row counts (the reference logs per-table timing
    * and counts, cdc_operator.rs:218-228). Each count is observed on the
    * written plan itself, so the output is never read back to count it.
    */
  def run(spark: SparkSession, cfg: CdcConfig, tables: Seq[TableSpec],
      outDir: String): Map[String, Long] =
    TablePool.map(tables, cfg.maxConcurrentTables) { t =>
      val rows = new Observation()
      val state = reconstructTable(spark, cfg, t)
        .observe(rows, count(lit(1)).as("rows"))
      writeState(state, cfg, t, outDir)
      t.name -> rows.get("rows").asInstanceOf[Long]
    }.toMap

  /** Snapshot into a LIVE database — the reference's actual snapshot
    * target (it reconstructs tables inside the target Postgres,
    * cdc_operator.rs:26-251). `createTables = true` issues
    * CREATE SCHEMA / CREATE TABLE IF NOT EXISTS through PgDdl (Postgres
    * dialect); pass false when the target tables already exist (or the
    * engine's DDL dialect differs — e.g. the Derby integration tests).
    */
  def runToJdbc(spark: SparkSession, cfg: CdcConfig, tables: Seq[TableSpec],
      url: String, jdbcSchema: String, user: String, password: String,
      createTables: Boolean,
      jdbcProps: Map[String, String] = Map.empty): Map[String, Long] = {
    import graft.sinks.{JdbcCatalog, JdbcSink, PgDdl}
    val catalog = new JdbcCatalog(url, user, password, jdbcProps)
    if (createTables) catalog.createSchema(jdbcSchema)
    TablePool.map(tables, cfg.maxConcurrentTables) { t =>
      // persist: the write and the reported count must execute the
      // reconstruction ONCE (and agree with each other)
      val state = reconstructTable(spark, cfg, t).persist()
      try {
        if (createTables)
          catalog.createTable(jdbcSchema, t.name, state.schema, t.primaryKey)
        // snapshot semantics are full reconstruction — clear previous
        // contents so a retry (or re-run) is idempotent, like the parquet
        // path's overwrite mode
        catalog.execute(s"DELETE FROM ${PgDdl.qualified(jdbcSchema, t.name)}")
        JdbcSink.append(state, url, jdbcSchema, t.name, user, password,
          extraProps = jdbcProps)
        t.name -> state.count()
      } finally state.unpersist()
    }.toMap
  }
}

object ValidateJob {

  final case class TableReport(table: String, matched: Long, onlyLeft: Long,
      onlyRight: Long, mismatched: Long) {
    def ok: Boolean = onlyLeft == 0 && onlyRight == 0 && mismatched == 0
  }

  /** Row-exact validation of source vs reconstructed state for one table
    * (the engine-native replacement for delegated pgdatadiff): the
    * per-status counts of `DiffEngine.rowDiff`, computed by
    * `DiffEngine.statusCounts` over the table's cached layout of both
    * sides — pk columns and the exact payload hash `_xh`, never the
    * payload, counted in place with no join shuffle. `_xh` hashes the
    * values themselves, so a difference past the 6th decimal, which the
    * digests' canonical `_rh` rounds away, still counts as a mismatch. A
    * following [[validateByDigest]] on the same `source`/`target` digests
    * from the same cache entry, so the pair reads each side once.
    *
    * Staleness is the layout's contract, and its unit is the PAIR:
    * rewriting a file of either side re-keys the entry, and the next
    * call re-reads both sides; a non-file side (JDBC) needs
    * `CachedPlans.clear()` at a mutation boundary, as the CLI does
    * between snapshot and validate.
    */
  def validateTable(source: DataFrame, target: DataFrame, table: TableSpec)
      : TableReport = {
    val r = DiffEngine.statusCounts(source, target, table.primaryKey).head()
    TableReport(table.name, r.getAs[Long]("match"),
      r.getAs[Long]("only_left"), r.getAs[Long]("only_right"),
      r.getAs[Long]("mismatch"))
  }

  /** Digest-mode validation: compares per-chunk digests (chunkSize rows,
    * PK-ordered) and returns the ids of mismatching chunks — pgdatadiff's
    * chunked early-exit economics (D2), distributed. Reads the same cached
    * layout of the pair as [[validateTable]], under the same staleness
    * contract.
    *
    * `startChunk` resumes a previously-interrupted validation (the
    * reference's --start-position, main.rs:81-83): chunk ids are stable
    * (global PK-order rank / chunkSize), so chunks below the start are
    * filtered from BOTH digest sides before the compare join — mismatches
    * there are neither computed in the join nor reported.
    */
  def validateByDigest(source: DataFrame, target: DataFrame,
      table: TableSpec, chunkSize: Int, startChunk: Long = 0L): Seq[Long] = {
    import org.apache.spark.sql.functions.col
    def resume(df: DataFrame) =
      if (startChunk <= 0) df else df.filter(col("chunk_id") >= startChunk)
    val Seq(l, r) = DiffEngine.chunkDigests(Seq(source, target),
      table.primaryKey, chunkSize).map(resume)
    DiffEngine.compareDigests(l, r, "chunk_id")
      .filter(!col("ok"))
      .select("chunk_id").collect().map(_.getLong(0)).toSeq.sorted
  }
}
