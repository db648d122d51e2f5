package graft.operators

import org.apache.spark.sql.catalyst.expressions.{EqualNullSafe, XxHash64}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.ColumnBridge
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._
import org.apache.spark.sql.{Column, DataFrame}

/** Table-vs-table validation, the Spark-native replacement for the
  * reference's delegated `rust-pgdatadiff` diff (call site
  * src/cdc/cdc_operator.rs:254-288): per-table count compare + chunked
  * PK-ordered content compare (chunk_size default 1000,
  * dms-cdc-operator-client/src/main.rs:76-77).
  *
  * Four operations, chosen by what the caller needs:
  *
  *  - `rowStatus`: per-PK status (match, mismatch, only_left,
  *    only_right) from the sides' cached [[rowLayout]]s — pk columns and
  *    a 16-byte exact payload hash per row are all that is joined, never
  *    the payload. Counts equal `summarize(rowDiff)` exactly.
  *  - `rowDiff`: full-outer join on the PK with null-safe (`<=>`) payload
  *    comparison. Exact, row-level, reports WHICH columns mismatch — the
  *    per-column drill-down; it ships whole payloads through its shuffle.
  *  - `chunkDigest` + `compareDigests`: pgdatadiff's economics for huge
  *    tables — ship one digest per chunk instead of rows. PK-ordered
  *    chunks reproduce the reference's resumable chunk semantics.
  *  - `bucketDigest`: hash-bucketed (order-independent) digests. Unlike
  *    PK-ordered chunking it needs NO global sort/row_number, so it is the
  *    100 TB path: digest = sum of per-row hashes per bucket, fully
  *    map-side aggregatable.
  *
  * `rowStatus` and `chunkDigest` read a side through ONE registry-cached
  * layout, `(pk…, _rh, _xh, _mid)`: a validate that asks for both reads
  * each side's files once. The two hashes answer different questions:
  *  - `_rh` is the CANONICAL row hash the digests are made of: every
  *    value is rendered to text first (`canonicalColumn`) — floats
  *    rounded to 6 decimals, timestamps as epoch micros, explicit NULL
  *    sentinel — mirroring pgdatadiff's text-level row hashing and making
  *    digests portable across engines;
  *  - `_xh` is the EXACT payload hash row statuses compare: it hashes
  *    the values themselves, equal exactly when `rowDiff`'s `<=>` is
  *    (-0.0 = 0.0, NaN = NaN; 1e-9 apart is a mismatch `_rh` would miss).
  */
object DiffEngine {

  val StatusCol = "diff_status"
  val MismatchCol = "mismatch_cols"
  private val NullSentinel = "\u0001N"
  private val FieldSep = "\u0001"

  /** Engine-portable text rendering of a column for hashing/digesting. */
  def canonicalColumn(c: Column, dt: DataType): Column = {
    val rendered = dt match {
      case DoubleType | FloatType =>
        // fixed-scale decimal rendering: "1.500000" in any engine
        c.cast(DecimalType(38, 6)).cast(StringType)
      case d: DecimalType => c.cast(StringType)
      // epoch micros as text: engine string formats for timestamps differ
      // (fraction trimming), integer micros never do
      case TimestampType | TimestampNTZType =>
        unix_micros(c.cast(TimestampType)).cast(StringType)
      case DateType => date_format(c, "yyyy-MM-dd")
      case BooleanType => when(c, lit("t")).otherwise(lit("f"))
      case ArrayType(et, _) =>
        // elements joined with the sentinel separator — a plain comma
        // would make ["a,b"] and ["a","b"] canonicalize identically
        array_join(transform(c, e => canonicalColumn(e, et)), FieldSep,
          NullSentinel)
      case _ => c.cast(StringType)
    }
    coalesce(rendered, lit(NullSentinel))
  }

  /** Canonical rendering of `cols` in order, FieldSep-joined — the ONE
    * definition both row-hash flavors digest (a canonicalization change
    * must never let the hex and long paths diverge).
    */
  private def canonicalConcat(df: DataFrame, cols: Seq[String]): Column = {
    val byName = df.schema.fields
      .filter(f => cols.contains(f.name))
      .map(f => f.name -> f.dataType).toMap
    concat_ws(FieldSep, cols.map(c => canonicalColumn(col(c), byName(c))): _*)
  }

  /** md5 over the canonical rendering of `cols` in order. */
  def rowHash(df: DataFrame, cols: Seq[String]): Column =
    md5(canonicalConcat(df, cols))

  /** Same canonical row hash as a portable 60-bit long (the first 15 hex
    * digits of [[rowHash]]), via the fused Md5Long60 expression — skips
    * the hex-string round trip on hot digest paths.
    */
  def rowHashLong(df: DataFrame, cols: Seq[String]): Column =
    graft.functions.PortableHash.md5Long(canonicalConcat(df, cols))

  /** Row-level diff. Output: pk columns + diff_status ∈ {match, mismatch,
    * only_left, only_right} + mismatch_cols (names of differing columns).
    */
  def rowDiff(left: DataFrame, right: DataFrame, pks: Seq[String])
      : DataFrame = {
    requireSameColumns("rowDiff", left, right)
    val payloadCols =
      left.columns.filterNot(pks.contains).toSeq
    val l = left.select(pks.map(col) :+
      struct(payloadCols.map(col): _*).as("_l"): _*)
    val r = right.select(pks.map(col) :+
      struct(payloadCols.map(col): _*).as("_r"): _*)
    val joined = l.join(r, pks, "full_outer")
    val status = when(col("_l").isNull, lit("only_right"))
      .when(col("_r").isNull, lit("only_left"))
      .when(col("_l") <=> col("_r"), lit("match"))
      .otherwise(lit("mismatch"))
    val mismatches = filter(
      array(payloadCols.map(c =>
        when(col(s"_l.`$c`") <=> col(s"_r.`$c`"), lit(null))
          .otherwise(lit(c))): _*),
      x => x.isNotNull)
    joined
      .withColumn(StatusCol, status)
      .withColumn(MismatchCol,
        when(status === "mismatch", mismatches).otherwise(array()))
      .drop("_l", "_r")
  }

  // schema drift is exactly what a validator must catch — a column on
  // one side only must be an ERROR, not silently excluded
  private def requireSameColumns(op: String, left: DataFrame,
      right: DataFrame): Unit =
    require(left.columns.toSet == right.columns.toSet,
      s"$op requires identical column sets; only-left=" +
        s"${left.columns.toSet -- right.columns.toSet}, only-right=" +
        s"${right.columns.toSet -- left.columns.toSet}")

  /** Row statuses without the payload: pk columns + diff_status, with the
    * same rows and statuses as [[rowDiff]] (duplicate and NULL PKs
    * included — the join is the same full-outer join on the PK), but
    * joined over the sides' cached [[rowLayout]]s, comparing `_xh`
    * instead of the payload. A later [[chunkDigest]] of the same side
    * reads the same cache entry, so the two read each side once.
    *
    * Columns whose types differ between the sides are cast to the type
    * `rowDiff`'s `<=>` compares them at (int vs bigint: bigint), before
    * hashing; pairs `<=>` cannot compare raise its analysis error. Such a
    * side's layout is its own cache entry, so its digest reads it again.
    */
  def rowStatus(left: DataFrame, right: DataFrame, pks: Seq[String])
      : DataFrame = {
    requireSameColumns("rowStatus", left, right)
    val payloadCols = left.columns.filterNot(pks.contains).toSeq
    val compared = comparedTypes(left, right, payloadCols)
    def side(df: DataFrame, as: String) =
      rowLayout(alignTypes(df, compared), pks)
        .select(pks.map(col) :+ col("_xh").as(as): _*)
    // _xh is never NULL, so a NULL one marks the side without the key
    val status = when(col("_lx").isNull, lit("only_right"))
      .when(col("_rx").isNull, lit("only_left"))
      .when(col("_lx") <=> col("_rx"), lit("match"))
      .otherwise(lit("mismatch"))
    side(left, "_lx").join(side(right, "_rx"), pks, "full_outer")
      .select(pks.map(col) :+ status.as(StatusCol): _*)
  }

  /** The struct type `rowDiff` compares both payload structs at — the
    * common type Spark's analyzer coerces `<=>`'s operands to. Analysis
    * only, no job; an incomparable pair throws rowDiff's own error.
    */
  private def comparedTypes(left: DataFrame, right: DataFrame,
      payloadCols: Seq[String]): StructType =
    left.select(struct(payloadCols.map(col): _*).as("_l"))
      .crossJoin(right.select(struct(payloadCols.map(col): _*).as("_r")))
      .select((col("_l") <=> col("_r")).as("_eq"))
      .queryExecution.analyzed.expressions
      .flatMap(_.collect { case e: EqualNullSafe => e.left.dataType })
      .collectFirst { case st: StructType => st }
      .getOrElse(StructType(Nil))

  /** `df` with each column of `compared` cast to that type where its own
    * differs — `df` itself (same plan, same cache entry) when none does.
    */
  private def alignTypes(df: DataFrame, compared: StructType): DataFrame = {
    val casts = compared.fields.filter(f => df.schema.find(_.name == f.name)
      .exists(g => !DataType.equalsStructurally(g.dataType, f.dataType,
        ignoreNullability = true)))
      .map(f => f.name -> f.dataType).toMap
    if (casts.isEmpty) df
    else df.select(df.columns.toSeq.map(c =>
      casts.get(c).fold(col(c))(t => col(c).cast(t).as(c))): _*)
  }

  /** Atoms [[exactHash]] folds for one value. Spark's hash functions skip
    * NULLs, so (NULL, x) and (x, NULL) would hash alike: every value is
    * preceded by its null flag and every array by its size, which makes
    * the atom sequence decodable for a fixed schema. Atoms hash the way
    * `<=>` compares them: -0.0 like 0.0, every NaN alike.
    */
  private def exactAtoms(c: Column, dt: DataType): Seq[Column] =
    c.isNull +: (dt match {
      case ArrayType(et, _) =>
        Seq(size(c), transform(c, e => struct(exactAtoms(e, et): _*)))
      case st: StructType =>
        st.fields.toSeq.flatMap(f => exactAtoms(c.getField(f.name), f.dataType))
      // `<=>` cannot compare maps (rowStatus raises its error first), but
      // chunkDigest's layout must still build: hash the entries in order
      case MapType(kt, vt, _) =>
        exactAtoms(map_entries(c), ArrayType(StructType(Seq(
          StructField("key", kt), StructField("value", vt)))))
      case _ => Seq(c)
    })

  /** Exact 128-bit hash of `cols` in the given order, as 16 bytes: two
    * xxhash64 folds of the same atoms under different seeds. Unlike
    * [[rowHash]] nothing is rendered or rounded, so it is equal exactly
    * when `<=>` is (up to a 2^-128 collision).
    */
  private def exactHash(df: DataFrame, cols: Seq[String]): Column = {
    val atoms = ColumnBridge.expression(lit(cols.size)) +:
      cols.flatMap(c => exactAtoms(col(c), df.schema(c).dataType))
        .map(ColumnBridge.expression)
    ColumnBridge.column(graft.plans.LongPairBytes(
      XxHash64(atoms, 0x5eed1L), XxHash64(atoms, 0x5eed2L)))
  }

  /** One side's narrow layout, `(pk…, _rh, _xh, _mid)`, persisted once per
    * (session, plan, input snapshot) through `CachedPlans.cached`:
    * range-partitioned on `(pk…, _rh)` and sorted within partitions, with
    * `_mid` the `monotonically_increasing_id` of the sorted row. Hashes
    * cover columns in NAME order, so two sides with different physical
    * column layouts (source parquet vs reducer output) still compare.
    *
    * PERSIST is load-bearing for [[chunkDigest]]: its per-partition counts
    * pre-job and its per-partition digest fold are two separate
    * executions over this layout, and RangePartitioner re-SAMPLES
    * boundaries per execution (seeded by rdd.id), so without the cache
    * they would see different layouts and apply the offsets to the wrong
    * partitions. Both read the persisted partitions in place, with no
    * exchange of rows. Registry routing shares one fill between the
    * callers reading the same side: [[rowStatus]] then [[chunkDigest]] in
    * a validate, or several digests of one side.
    *
    * Staleness contract: the registry key carries the input snapshot
    * (file listing + length + mtime), so a re-run over rewritten files
    * misses the stale entry and reads current contents — no manual step.
    * Only NON-FILE sides (JDBC, in-memory — empty listing, pure plan
    * keying) need `CachedPlans.clear()` at a mutation boundary; the CLI
    * keeps one at snapshot→validate because its sides may be JDBC.
    */
  private[graft] def rowLayout(df: DataFrame, pks: Seq[String]): DataFrame = {
    val dataCols = df.columns.sorted.toSeq
    val narrow = df.select(pks.map(col) ++ Seq(
      rowHash(df, dataCols).as("_rh"),
      exactHash(df, dataCols.filterNot(pks.contains)).as("_xh")): _*)
    val sortCols = pks.map(col) :+ col("_rh")
    graft.plans.CachedPlans.cached(narrow
      .repartitionByRange(layoutPartitions(narrow), sortCols: _*)
      .sortWithinPartitions(sortCols: _*)
      .withColumn("_mid", monotonically_increasing_id()))
  }

  /** Range partitions of a layout: one per core, and more only once the
    * estimated layout outgrows the advisory partition size. Explicit, so
    * the count does not follow `spark.sql.shuffle.partitions` — adaptive
    * execution never coalesces a cached plan's output, and 200 tiny
    * partitions made a small validate about 5× slower. A side whose size is
    * unknown (a JDBC read reports `spark.sql.defaultSizeInBytes`) gets
    * one per core. Estimated from the ANALYZED plan, which no cache
    * substitution changes, so every caller computes the same count and
    * hits the same registry entry.
    */
  private def layoutPartitions(narrow: DataFrame): Int = {
    val spark = narrow.sparkSession
    val conf = spark.sessionState.conf
    val cores = spark.sparkContext.defaultParallelism
    val plan = narrow.queryExecution.analyzed
    if (plan.collectLeaves().exists(
        _.stats.sizeInBytes >= conf.defaultSizeInBytes)) cores
    else {
      val advisory = BigInt(conf.getConf(SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES))
      val parts = (plan.stats.sizeInBytes + advisory - 1) / advisory
      math.max(cores, parts.min(BigInt(Int.MaxValue)).toInt)
    }
  }

  /** Aggregate a rowDiff into per-status counts (the per-table report the
    * reference logs), ordered by status. At most four rows, so they are
    * sorted in one partition: a global `orderBy` would pay a
    * range-sampling job and a sort exchange for them.
    */
  def summarize(diff: DataFrame): DataFrame =
    diff.groupBy(StatusCol).agg(count(lit(1)).as("n"))
      .coalesce(1).sortWithinPartitions(StatusCol)

  /** PK-ordered chunk digests (reference-parity mode; resumable compare):
    * `(chunk_id, n_rows, digest)`, digest = md5 of the chunk's `_rh`
    * values joined by "|" in global row order.
    *
    * Global row numbers WITHOUT a global sort: the side's [[rowLayout]]
    * is range-partitioned on the PK (plus the row hash as a deterministic
    * tie-break for duplicate PKs) and sorted within partitions; partition-
    * local indices come from its `_mid`, lifted to global row numbers
    * with per-partition counts collected in one narrow pre-job. The
    * digests are then folded inside the layout's partitions: a chunk
    * whose rows all lie in one partition leaves it as one finished row,
    * and a chunk that partition boundaries cut leaves each of its
    * partitions as that partition's "|"-joined text, merged in partition
    * order after the one `chunk_id` exchange. So the shuffle is
    * O(chunks + partitions), not O(rows). Both jobs read the one
    * persisted layout (see [[rowLayout]] for why that is load-bearing and
    * for the staleness contract); long-lived sessions reclaim it via
    * `CachedPlans.clear()` or LRU.
    */
  def chunkDigest(df: DataFrame, pks: Seq[String], chunkSize: Int)
      : DataFrame = {
    require(chunkSize > 0, s"chunkDigest: chunkSize must be > 0, got $chunkSize")
    val sorted = rowLayout(df, pks)
    val spark = sorted.sparkSession
    import spark.implicits._
    val counts = sorted.select(col("_mid")).as[Long].mapPartitions { mids =>
      if (!mids.hasNext) Iterator.empty
      else Iterator((mids.next() >>> LocalIdxBits, 1L + mids.size))
    }.collect().sortBy(_._1) // one row per non-empty layout partition
    // pid -> the 0-based global row numbers [first, end) it holds
    val starts = counts.scanLeft(0L)(_ + _._2)
    val spans = counts.indices
      .map(i => counts(i)._1 -> (starts(i), starts(i + 1))).toMap
    val total = starts.last
    sorted.select(col("_mid"), col("_rh")).as[(Long, String)]
      .mapPartitions(rows => foldChunks(rows, spans, total, chunkSize))
      .toDF("chunk_id", "_pid", "_n", "_digest", "_part")
      .groupBy(col("chunk_id"))
      .agg(
        sum(col("_n")).as("n_rows"),
        coalesce(max(col("_digest")), md5(
          expr("listagg(_part, '|') WITHIN GROUP (ORDER BY _pid)")))
          .as("digest"))
  }

  // monotonically_increasing_id: pid << 33 | local index
  private val LocalIdxBits = 33
  private val LocalIdxMask = (1L << LocalIdxBits) - 1

  /** One layout partition's share of [[chunkDigest]]: rows `(_mid, _rh)`
    * in layout order in, one row `(chunk_id, pid, n, digest, part)` per
    * chunk out. A chunk whose rows `[c·size, min((c+1)·size, total))`
    * (0-based) all lie in this partition gets its md5 digest; a chunk
    * that reaches past the partition gets its "|"-joined part instead.
    */
  private def foldChunks(rows: Iterator[(Long, String)],
      spans: Map[Long, (Long, Long)], total: Long, chunkSize: Int)
      : Iterator[(Long, Long, Long, String, String)] = {
    val in = rows.buffered
    if (!in.hasNext) return Iterator.empty
    val pid = in.head._1 >>> LocalIdxBits
    val (first, end) = spans(pid)
    def chunkOf(mid: Long) = (first + (mid & LocalIdxMask)) / chunkSize
    new Iterator[(Long, Long, Long, String, String)] {
      def hasNext: Boolean = in.hasNext
      def next(): (Long, Long, Long, String, String) = {
        val c = chunkOf(in.head._1)
        val whole = c * chunkSize >= first &&
          math.min((c + 1) * chunkSize, total) <= end
        val md = java.security.MessageDigest.getInstance("MD5")
        val part = new java.lang.StringBuilder
        var n = 0L
        while (in.hasNext && chunkOf(in.head._1) == c) {
          val rh = in.next()._2
          if (whole) {
            if (n > 0) md.update('|'.toByte)
            md.update(rh.getBytes(java.nio.charset.StandardCharsets.UTF_8))
          } else {
            if (n > 0) part.append('|')
            part.append(rh)
          }
          n += 1
        }
        if (whole)
          (c, pid, n, org.apache.commons.codec.binary.Hex.encodeHexString(
            md.digest()), null)
        else (c, pid, n, null, part.toString)
      }
    }
  }

  /** Order-independent bucketed digests: bucket = first `hexChars` hex
    * digits of the PK hash (256 buckets for hexChars=2); digest = sum of
    * per-row 60-bit hashes, commutative so it map-side aggregates with no
    * sort anywhere. The 100 TB compare path.
    */
  def bucketDigest(df: DataFrame, pks: Seq[String], hexChars: Int = 2)
      : DataFrame = {
    val dataCols = df.columns.sorted.toSeq
    val pkHash = md5(concat_ws(FieldSep,
      pks.map(c => canonicalColumn(col(c),
        df.schema(c).dataType)): _*))
    val rowH = rowHashLong(df, dataCols)
    df.withColumn("bucket", substring(pkHash, 1, hexChars))
      .withColumn("_h", rowH % lit(1000000007L))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_rows"), sum(col("_h")).cast(LongType).as("digest"))
  }

  /** Join two digest tables (from chunkDigest or bucketDigest) and report
    * per-chunk equality.
    */
  def compareDigests(left: DataFrame, right: DataFrame, keyCol: String)
      : DataFrame = {
    val l = left.withColumnRenamed("digest", "l_digest")
      .withColumnRenamed("n_rows", "l_rows")
    val r = right.withColumnRenamed("digest", "r_digest")
      .withColumnRenamed("n_rows", "r_rows")
    l.join(r, Seq(keyCol), "full_outer")
      .withColumn("ok",
        col("l_digest") <=> col("r_digest") && col("l_rows") <=> col("r_rows"))
  }
}
