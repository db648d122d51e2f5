package graft.cli

import graft.cdc.{CdcConfig, SnapshotJob, ValidateJob}
import graft.model.{ListingMode, TableSpec}
import graft.plans.GraftExtensions
import org.apache.spark.sql.SparkSession

import java.time.Instant

/** CLI with flag parity to the reference client
  * (dms-cdc-operator-client: README.md:58-99 / src/main.rs:109-155) —
  * same verbs, same mutual exclusions, Spark execution underneath.
  *
  * Usage:
  *   graft.cli.Main \
  *     --base-dir /data/bucket/db/schema [--schema public] \
  *     --table t1 --table t2 | --exclude-table t3 \
  *     --mode full-load-only | date-aware | absolute-path \
  *     [--start-date 2024-01-01T00:00:00Z] [--stop-date ...] \
  *     [--pk t1=id1,id2 ...] \
  *     --out /data/reconstructed | --target-jdbc jdbc:postgresql://…
  *       [--create-tables]                  # snapshot into a live DB
  *     [--expected /data/source-state]      # enables validate (parquet)
  *     [--expected-jdbc jdbc:postgresql://… # enables validate (live DB)
  *       --jdbc-user u --jdbc-password p [--jdbc-schema public]] \
  *     [--source-jdbc jdbc:postgresql://…]  # discover the table list from
  *                                          # the live source catalog
  *     [--jdbc-prop sslmode=require]...     # arbitrary driver properties
  *     [--only-snapshot | --only-datadiff] [--chunk-size 1000] \
  *     [--start-position 0]                 # resume digest validate here
  *     [--max-concurrent-tables 8]          # driver-side table fan-out
  *     [--lister hadoop|paged]              # listing backend: Hadoop FS
  *                                          # iterator (default) or the
  *                                          # ListObjectsV2 paged protocol
  *     [--interactive]                      # prompt for every field instead
  *
  * Exit status: 1 when validate reports a mismatch, 0 otherwise.
  */
object Main {

  /** Runs [[run]]; exits the JVM with its status only when this
    * invocation creates the Spark session, the same rule that decides
    * whether `run` stops it. Embedders calling `main` inside a live
    * session keep their JVM.
    */
  def main(args: Array[String]): Unit = {
    val preExisting = liveSession
    val status = run(args)
    if (!preExisting) sys.exit(status)
  }

  private def liveSession: Boolean = SparkSession.getActiveSession
    .orElse(SparkSession.getDefaultSession).isDefined

  /** One CLI invocation. Returns 1 when a validated table reports a
    * mismatch, in its row counts or in its digest chunks, and 0
    * otherwise; a table skipped for lack of a primary key is not a
    * mismatch. Bad arguments and failed jobs throw.
    */
  def run(args: Array[String]): Int = {
    // reference parity: the client's no-flags build prompts for every
    // parameter with a default (main.rs:157-285, inquire). `--interactive`
    // collects the same fields from stdin and then runs the normal flow.
    val effectiveArgs =
      if (args.contains("--interactive"))
        interactiveArgs { (label, default) =>
          Console.out.print(
            if (default.isEmpty) s"$label: " else s"$label [$default]: ")
          Console.out.flush()
          Option(scala.io.StdIn.readLine()).map(_.trim).getOrElse("")
        }
      else args.toList
    val opts = parse(effectiveArgs, Map.empty.withDefault(_ => Nil))
    def one(k: String): Option[String] = opts(k).headOption
    def flag(k: String): Boolean = opts(k).nonEmpty

    val baseDir = one("base-dir").getOrElse(
      sys.error("--base-dir is required"))
    val targetJdbc = one("target-jdbc")
    // parquet out dir is optional when the snapshot target is a live DB
    val outDirOpt = one("out")
    def outDir = outDirOpt.getOrElse(
      sys.error("--out is required (or use --target-jdbc)"))
    if (targetJdbc.isEmpty && outDirOpt.isEmpty)
      sys.error("--out is required (or use --target-jdbc)")
    // both supplied would silently ignore --out (the JDBC target wins for
    // both the snapshot and the validate read) — reject, mirroring the
    // --expected/--expected-jdbc mutual exclusion
    if (targetJdbc.nonEmpty && outDirOpt.nonEmpty)
      sys.error("--out and --target-jdbc are mutually exclusive " +
        "(the snapshot lands in exactly one target)")
    val schema = one("schema").getOrElse("public")

    val mode = one("mode").getOrElse("full-load-only") match {
      case "full-load-only" => ListingMode.FullLoadOnly
      case "absolute-path" =>
        ListingMode.AbsolutePath(one("path").getOrElse(
          sys.error("--path required for absolute-path mode")))
      case "date-aware" =>
        // DateAware requires a start date, like the reference
        // (cdc_operator.rs:116-118)
        val start = one("start-date").getOrElse(
          sys.error("--start-date is required for date-aware mode"))
        ListingMode.DateAware(
          Instant.parse(start).toEpochMilli,
          one("stop-date").map(s => Instant.parse(s).toEpochMilli))
      case other => sys.error(s"unknown mode: $other")
    }

    val cfg = CdcConfig(
      baseDir = baseDir,
      schema = schema,
      includeTables = opts("table"),
      excludeTables = opts("exclude-table"),
      mode = mode,
      onlySnapshot = flag("only-snapshot"),
      onlyDatadiff = flag("only-datadiff"),
      chunkSize = one("chunk-size").map(_.toInt).getOrElse(1000),
      startChunk = one("start-position").map(_.toLong).getOrElse(0L),
      maxConcurrentTables =
        one("max-concurrent-tables").map(_.toInt).getOrElse(8),
      lister = one("lister").getOrElse("hadoop"))

    val pks: Map[String, Seq[String]] = opts("pk").map { spec =>
      val Array(t, cols) = spec.split("=", 2)
      t -> cols.split(",").toSeq
    }.toMap

    // only stop a session this invocation created — embedders (and tests)
    // calling run() or main() inside a live Spark app keep their session
    val preExisting = liveSession
    val spark = SparkSession.builder()
      .appName("graft-cdc")
      .withExtensions(new GraftExtensions)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .getOrCreate()

    val jdbcSchema = one("jdbc-schema").getOrElse(schema)
    val jdbcUser = one("jdbc-user").getOrElse("")
    val jdbcPassword = one("jdbc-password").getOrElse("")
    val jdbcProps = graft.sinks.JdbcProps.parse(opts("jdbc-prop"))

    try {
      // table discovery: the live source catalog when --source-jdbc is
      // given (reference parity: postgres_operator_impl.rs:110-154 reads
      // information_schema with the include/exclude list applied IN the
      // query), the CDC directory listing otherwise
      val discovered = one("source-jdbc") match {
        case Some(srcUrl) =>
          val cat = new graft.sinks.JdbcCatalog(
            srcUrl, jdbcUser, jdbcPassword, jdbcProps)
          if (cfg.includeTables.nonEmpty)
            cat.tablesInSchema(jdbcSchema, cfg.includeTables, exclude = false)
          else cat.tablesInSchema(jdbcSchema, cfg.excludeTables,
            exclude = true)
        case None => listTableDirs(spark, baseDir)
      }
      val tableNames = cfg.selectTables(discovered).sorted
      // absolute-path mode names ONE file; fanning it out over several
      // tables would reconstruct every table from the same data
      mode match {
        case _: ListingMode.AbsolutePath =>
          require(tableNames.size == 1,
            s"absolute-path mode requires exactly one table " +
              s"(use --table; found ${tableNames.size}: " +
              s"${tableNames.mkString(", ")})")
        case _ => ()
      }
      val specs = tableNames.map(t =>
        TableSpec(t, s"$baseDir/$t", pks.getOrElse(t, Seq.empty)))
      // PK-less tables are legal in full-load-only mode (bulk-insert
      // reconstruction); CDC replay and validation need a key
      if (mode != ListingMode.FullLoadOnly)
        specs.foreach(s => require(s.primaryKey.nonEmpty,
          s"--pk ${s.name}=<cols> is required for CDC replay modes"))

      if (!cfg.onlyDatadiff) {
        // reference parity: snapshot INTO a live target database
        // (cdc_operator.rs:26-251); parquet out is the file-side form
        val counts = targetJdbc match {
          case Some(url) => SnapshotJob.runToJdbc(spark, cfg, specs, url,
            jdbcSchema, jdbcUser, jdbcPassword,
            createTables = flag("create-tables"), jdbcProps = jdbcProps)
          case None => SnapshotJob.run(spark, cfg, specs, outDir)
        }
        counts.toSeq.sortBy(_._1).foreach { case (t, n) =>
          println(s"[snapshot] $t: $n rows reconstructed")
        }
      }
      val mismatch = !cfg.onlySnapshot && {
        // expected side: a parquet state dir (--expected) or a live
        // database (--expected-jdbc, the reference's source-DB validate
        // verb — cdc_operator.rs:254-288) read in parallel on the PK
        val readExpected: Option[TableSpec => org.apache.spark.sql.DataFrame] =
          (one("expected"), one("expected-jdbc")) match {
            case (Some(_), Some(_)) =>
              sys.error("--expected and --expected-jdbc are mutually exclusive")
            case (Some(dir), None) =>
              Some(s => spark.read.parquet(s"$dir/${s.name}"))
            case (None, Some(jdbcUrl)) =>
              Some(s => graft.sources.JdbcSource.readTable(
                spark, jdbcUrl, jdbcSchema, s.name, s.primaryKey.headOption,
                jdbcUser, jdbcPassword, extraProps = jdbcProps))
            case (None, None) => None
          }
        // the snapshot phase just (re)wrote the data validate reads.
        // File-backed sides invalidate THEMSELVES (the registry snapshot
        // fingerprints listing+length+mtime), but JDBC sides have no
        // listing to fingerprint — clear() at the boundary covers them
        // (and frees phase-1 cache blocks either way)
        graft.plans.CachedPlans.clear()
        readExpected.exists { readSource =>
          // per-table validations fan out through the bounded pool (each
          // body is its own Spark job); report lines are collected and
          // printed in table order so concurrent runs stay readable
          val report = graft.cdc.TablePool.map(
            specs, cfg.maxConcurrentTables) { s =>
            if (s.primaryKey.isEmpty) {
              (Seq(s"[validate] ${s.name}: SKIPPED (no primary key; " +
                "row-level validation needs one)"), false)
            } else {
              val source = readSource(s)
              // target side mirrors where the snapshot landed
              val target = targetJdbc match {
                case Some(url) => graft.sources.JdbcSource.readTable(
                  spark, url, jdbcSchema, s.name, s.primaryKey.headOption,
                  jdbcUser, jdbcPassword, extraProps = jdbcProps)
                case None => spark.read.parquet(s"$outDir/${s.name}")
              }
              val rep = ValidateJob.validateTable(source, target, s)
              // chunked-digest compare (the reference's pgdatadiff chunk
              // economics): report mismatching chunk ids at --chunk-size,
              // resuming at --start-position. It digests from the cached
              // layout of the pair validateTable just filled, so each
              // side is read once
              val badChunks = ValidateJob.validateByDigest(
                source, target, s, cfg.chunkSize, cfg.startChunk)
              (Seq(
                s"[validate] ${s.name}: " +
                  (if (rep.ok) s"OK (${rep.matched} rows)"
                   else s"MISMATCH only_left=${rep.onlyLeft} " +
                     s"only_right=${rep.onlyRight} mismatched=${rep.mismatched}"),
                s"[validate] ${s.name}: digest chunks " +
                  (if (badChunks.isEmpty) s"OK (chunk size ${cfg.chunkSize}" +
                    (if (cfg.startChunk > 0) s", from chunk ${cfg.startChunk}"
                     else "") + ")"
                   else s"MISMATCH at chunk ids ${badChunks.mkString(", ")}")),
                !rep.ok || badChunks.nonEmpty)
            }
          }
          report.flatMap(_._1).foreach(println)
          report.exists(_._2)
        }
      }
      if (mismatch) 1 else 0
    } finally if (!preExisting) spark.stop()
  }

  private def listTableDirs(spark: SparkSession, baseDir: String)
      : Seq[String] = {
    val p = new org.apache.hadoop.fs.Path(baseDir)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).filter(_.isDirectory).map(_.getPath.getName)
      .toSeq.sorted
  }

  /** Prompt-driven argument assembly (reference main.rs:157-285): each
    * field asks once with a default; EMPTY answers take the default, and
    * fields whose resolved value is empty are omitted entirely. The
    * result feeds the SAME parser/flow as flag invocation, so the two
    * entry styles cannot drift.
    */
  private[graft] def interactiveArgs(ask: (String, String) => String)
      : List[String] = {
    def get(label: String, default: String): String = {
      val a = ask(label, default)
      if (a.isEmpty) default else a
    }
    val out = List.newBuilder[String]
    def opt(flag: String, label: String, default: String = ""): String = {
      val v = get(label, default)
      if (v.nonEmpty) out ++= List(s"--$flag", v)
      v
    }
    def multi(flag: String, label: String, sep: String = "[,\\s]+"): Unit =
      get(label, "").split(sep).filter(_.nonEmpty)
        .foreach(v => out ++= List(s"--$flag", v))
    def yes(label: String): Boolean = get(label, "n") == "y"
    opt("base-dir", "CDC base dir (bucket/prefix/db/schema)")
    opt("schema", "Database schema", "public")
    val mode = opt("mode",
      "Mode (full-load-only | date-aware | absolute-path)", "full-load-only")
    if (mode == "date-aware") {
      opt("start-date", "Start date (ISO-8601, e.g. 2024-01-01T00:00:00Z)")
      opt("stop-date", "Stop date (blank = none)")
    }
    if (mode == "absolute-path") opt("path", "Absolute file path")
    multi("table", "Tables to include (comma/space separated, blank = all)")
    multi("exclude-table", "Tables to exclude (comma/space separated)")
    // pk specs keep their commas (table=col1,col2) — split on spaces only
    multi("pk", "Primary keys (table=col1,col2, space separated)", "\\s+")
    val target = opt("target-jdbc", "Target JDBC URL (blank = parquet out)")
    if (target.isEmpty) opt("out", "Parquet output dir")
    else if (yes("Create target tables from the source catalog? (y/n)"))
      out += "--create-tables"
    opt("source-jdbc",
      "Source JDBC URL for table discovery (blank = list the CDC dir)")
    // mutual exclusion by construction: the parquet-expected prompt only
    // appears when no live validate source was named (the flag parser
    // rejects the pair, so prompting for both would dead-end the run)
    val expectedJdbc = opt("expected-jdbc",
      "Source JDBC URL to validate against (blank = skip)")
    if (expectedJdbc.isEmpty)
      opt("expected",
        "Expected parquet state dir to validate against (blank = skip)")
    opt("jdbc-user", "JDBC user")
    opt("jdbc-password", "JDBC password")
    multi("jdbc-prop",
      "JDBC driver properties (key=value, space separated)", "\\s+")
    opt("chunk-size", "Digest chunk size", "1000")
    opt("start-position", "Digest resume position", "0")
    opt("max-concurrent-tables", "Max concurrent tables", "8")
    opt("lister", "Listing backend (hadoop | paged)", "hadoop")
    // reference inquire order asks datadiff-only before snapshot-only
    // (main.rs:235-243); asking the second only when the first is
    // declined keeps the two flags mutually exclusive by construction
    if (yes("Data comparison only? (y/n)")) out += "--only-datadiff"
    else if (yes("Snapshot only? (y/n)")) out += "--only-snapshot"
    out.result()
  }

  @annotation.tailrec
  private def parse(args: List[String], acc: Map[String, List[String]])
      : Map[String, List[String]] = args match {
    case Nil => acc
    case key :: rest if key.startsWith("--") =>
      val k = key.drop(2)
      rest match {
        case v :: tail if !v.startsWith("--") =>
          parse(tail, acc.updated(k, acc(k) :+ v))
        case _ => parse(rest, acc.updated(k, acc(k) :+ "true"))
      }
    case other :: _ => sys.error(s"unexpected argument: $other")
  }
}
