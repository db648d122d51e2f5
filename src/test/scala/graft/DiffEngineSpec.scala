package graft

import graft.cdc.ValidateJob
import graft.model.TableSpec
import graft.operators.DiffEngine
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.{DataFrame, Row}

class DiffEngineSpec extends SparkSpec {
  import spark.implicits._

  private def sample = Seq(
    (1L, "a", Some(1.0)), (2L, "b", Some(2.0)), (3L, "c", None))
    .toDF("id", "name", "val")

  test("diff of a table with itself is all match") {
    val d = DiffEngine.rowDiff(sample, sample, Seq("id"))
    assert(d.filter(col(DiffEngine.StatusCol) =!= "match").count() === 0)
  }

  test("diff detects value change, missing and extra rows, NULL-safely") {
    val right = Seq(
      (1L, "a", Some(1.5)),   // val changed
      (3L, "c", None),        // identical incl. NULL — must MATCH (<=>)
      (4L, "d", Some(4.0)))   // extra
      .toDF("id", "name", "val")
    val d = DiffEngine.rowDiff(sample, right, Seq("id"))
      .select("id", DiffEngine.StatusCol, DiffEngine.MismatchCol).sort("id")
    val rows = d.collect().toSeq
    assert(rows === Seq(
      Row(1L, "mismatch", Seq("val")),
      Row(2L, "only_left", Seq()),
      Row(3L, "match", Seq()),
      Row(4L, "only_right", Seq())))
  }

  test("NULL vs value is a mismatch, not a match") {
    val right = Seq((3L, "c", Some(0.0))).toDF("id", "name", "val")
    val d = DiffEngine.rowDiff(sample.filter($"id" === 3), right, Seq("id"))
    assert(d.select(DiffEngine.StatusCol).head().getString(0) === "mismatch")
  }

  test("chunk digests equal iff content equal") {
    val a = spark.range(0, 5000).select($"id",
      concat(lit("p"), $"id").as("payload"))
    val b = a.withColumn("payload",
      when($"id" === 4321, lit("CHANGED")).otherwise($"payload"))
    val da = DiffEngine.chunkDigest(a, Seq("id"), 1000)
    val db = DiffEngine.chunkDigest(b, Seq("id"), 1000)
    val cmp = DiffEngine.compareDigests(da, db, "chunk_id")
    assert(cmp.filter(!$"ok").select("chunk_id").collect().toSeq ===
      Seq(Row(4L)))
    val self = DiffEngine.compareDigests(da,
      DiffEngine.chunkDigest(a, Seq("id"), 1000), "chunk_id")
    assert(self.filter(!$"ok").count() === 0)
  }

  test("chunk digest matches a naive single-partition global sort") {
    // exercises the offset lifting across many range partitions, including
    // duplicate PKs (tie-broken by row hash on both paths); 200k rows so
    // range-boundary SAMPLING is real — at this size, unpinned layouts
    // between the counts pre-job and the final job diverge (regression
    // test for the per-execution resampling bug)
    val a = spark.range(0, 200000)
      .select(($"id" % 997).as("k"), concat(lit("p"), $"id" % 3).as("payload"))
    val fast = DiffEngine.chunkDigest(a, Seq("k"), 300)
    val cmp = DiffEngine.compareDigests(fast, naiveDigest(a, "k", 300),
      "chunk_id")
    assert(cmp.filter(!$"ok").count() === 0)
    assert(fast.count() === math.ceil(200000.0 / 300).toLong)
  }

  /** Chunk digests from one global window order — no layout at all. */
  private def naiveDigest(a: DataFrame, pk: String, chunkSize: Int) = {
    val w = org.apache.spark.sql.expressions.Window.orderBy(col(pk), $"_rh")
    a.withColumn("_rh", DiffEngine.rowHash(a, a.columns.sorted.toSeq))
      .withColumn("_rn", row_number().over(w))
      .withColumn("chunk_id", (($"_rn" - 1) / chunkSize).cast("long"))
      .groupBy($"chunk_id")
      .agg(count(lit(1)).as("n_rows"),
        md5(array_join(transform(
          array_sort(collect_list(struct($"_rn", $"_rh"))),
          s => s.getField("_rh")), "|")).as("digest"))
  }

  /** chunkDigest's rows equal naiveDigest's, digest for digest. */
  private def assertDigestExact(a: DataFrame, pk: String, chunkSize: Int)
      : Unit = {
    val fast = DiffEngine.chunkDigest(a, Seq(pk), chunkSize).collect().toSet
    assert(fast === naiveDigest(a, pk, chunkSize).collect().toSet,
      s"chunk size $chunkSize")
    assert(fast.size === math.ceil(a.count().toDouble / chunkSize).toLong)
  }

  /** Row count of each of the side's layout partitions, in pid order. */
  private def layoutSizes(a: DataFrame, pk: String): Seq[Long] =
    DiffEngine.layout(Seq(a), Seq(pk)).rdd
      .mapPartitions(rows => Iterator(rows.size.toLong)).collect().toSeq

  private def tenThousand = spark.range(0, 10000)
    .select(($"id" % 4999).as("k"), concat(lit("p"), $"id" % 7).as("v"))

  test("chunk digest folds a chunk that spans three or more partitions") {
    val a = tenThousand
    val sizes = layoutSizes(a, "k")
    assert(sizes.count(_ > 0) >= 3, s"layout sizes $sizes")
    // one chunk holding every row, and a chunk wider than any partition
    // with a short last chunk behind it
    assertDigestExact(a, "k", 10000)
    assert(sizes.max < 4001, s"layout sizes $sizes")
    assertDigestExact(a, "k", 4001)
  }

  test("chunk digest at chunk size 1 is one row hash per chunk") {
    assertDigestExact(tenThousand.limit(2000), "k", 1)
  }

  test("chunk digest where a chunk boundary is a partition boundary") {
    val a = tenThousand
    val sizes = layoutSizes(a, "k")
    assert(sizes.length >= 2 && sizes.take(2).forall(_ > 0),
      s"layout sizes $sizes")
    // chunk 0 is exactly partition 0
    assertDigestExact(a, "k", sizes.head.toInt)
  }

  test("chunk digest over a layout with empty partitions") {
    // one PK everywhere: the range partitions are cut on the PK alone,
    // so every row lands in one of them
    val dup = spark.range(0, 3000)
      .select(lit(7L).as("k"), concat(lit("p"), $"id" % 2).as("v"))
    val sizes = layoutSizes(dup, "k")
    assert(sizes.contains(0L), s"layout sizes $sizes")
    assertDigestExact(dup, "k", 700)
  }

  test("chunk digest of an empty side is empty") {
    assertDigestExact(tenThousand.filter(lit(false)), "k", 300)
  }

  test("chunk digest over a layout with more partitions than cores") {
    graft.plans.CachedPlans.clear()
    val key = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
    val prior = spark.conf.getOption(key)
    spark.conf.set(key, "16k")
    try {
      val a = spark.range(0, 20000)
        .select(($"id" % 4999).as("k"), concat(lit("p"), $"id" % 7).as("v"))
      val parts = layoutSizes(a, "k").length
      assert(parts > spark.sparkContext.defaultParallelism, s"$parts partitions")
      assertDigestExact(a, "k", 700)
    } finally {
      prior.fold(spark.conf.unset(key))(spark.conf.set(key, _))
      graft.plans.CachedPlans.clear()
    }
  }

  /** Runs `body` under a listener that counts the shuffle records
    * tasks write; the function it gets returns the count since its last
    * call, after draining the listener bus.
    */
  private def withShuffleRecords(body: (() => Long) => Unit): Unit = {
    val written = new java.util.concurrent.atomic.AtomicLong
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(
          end: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        Option(end.taskMetrics).foreach(m =>
          written.addAndGet(m.shuffleWriteMetrics.recordsWritten))
    }
    def drained(): Long = {
      org.apache.spark.GraftTestBus.drain(spark.sparkContext)
      written.getAndSet(0L)
    }
    spark.sparkContext.addSparkListener(listener)
    try body(() => drained())
    finally {
      spark.sparkContext.removeSparkListener(listener)
      graft.plans.CachedPlans.clear()
    }
  }

  test("chunk digest shuffles one record per chunk plus the cut chunks") {
    graft.plans.CachedPlans.clear()
    val a = spark.range(0, 200000)
      .select(($"id" % 997).as("k"), concat(lit("p"), $"id" % 3).as("v"))
    withShuffleRecords { drained =>
      drained()
      val parts = layoutSizes(a, "k").length // fills the layout
      // the listener sees the fill's range exchange ship every row
      assert(drained() >= 200000L)
      val chunks = math.ceil(200000.0 / 300).toLong
      assert(DiffEngine.chunkDigest(a, Seq("k"), 300).collect().length
        === chunks)
      val digest = drained()
      assert(digest > 0L && digest <= chunks + 2L * parts,
        s"$digest shuffle records for $chunks chunks over $parts partitions")
    }
  }

  test("row statuses shuffle at most 4 records per layout partition") {
    graft.plans.CachedPlans.clear()
    val a = spark.range(0, 200000)
      .select($"id".as("k"), concat(lit("p"), $"id" % 3).as("v"))
    val b = a.withColumn("v",
      when($"k" % 1000 === 5, lit("x")).otherwise($"v"))
    withShuffleRecords { drained =>
      drained()
      val parts = DiffEngine.layout(Seq(a, b), Seq("k")).rdd.getNumPartitions
      // the one fill ships both sides' rows
      assert(drained() >= 400000L)
      assert(ValidateJob.validateTable(a, b, TableSpec("t", "", Seq("k"))) ===
        ValidateJob.TableReport("t", 199800L, 0L, 0L, 200L))
      val status = drained()
      assert(status > 0L && status <= 4L * parts,
        s"$status shuffle records over $parts partitions")
    }
  }

  test("chunk digest rejects non-positive chunk size") {
    intercept[IllegalArgumentException] {
      DiffEngine.chunkDigest(sample, Seq("id"), 0)
    }
  }

  test("native dot product is bit-identical to the portable fold") {
    import graft.functions.VectorFunctions
    val vecs = Seq(
      (1L, Array(0.1f, -2.5f, 3.25f, 0.7f), Array(1.5f, 0.25f, -0.125f, 2.0f)),
      (2L, Array(1e-7f, 1e7f, -1e-7f, 1e7f), Array(1e7f, 1e-7f, 1e7f, 1e-7f)))
      .toDF("id", "a", "b")
    val r = vecs.select(
      VectorFunctions.dot($"a", $"b").as("fast"),
      VectorFunctions.dotFold($"a", $"b").as("fold")).collect()
    r.foreach { row =>
      assert(java.lang.Double.doubleToLongBits(row.getDouble(0)) ===
        java.lang.Double.doubleToLongBits(row.getDouble(1)))
    }
    // mismatched lengths: both forms must agree on NULL
    val mism = Seq((Array(1f, 2f), Array(3f)))
      .toDF("a", "b")
      .select(VectorFunctions.dot($"a", $"b").as("fast"),
        VectorFunctions.dotFold($"a", $"b").as("fold"))
      .head()
    assert(mism.isNullAt(0) && mism.isNullAt(1))
  }

  test("bucket digests localize a difference to one bucket") {
    val a = spark.range(0, 5000).select($"id",
      concat(lit("p"), $"id").as("payload"))
    val b = a.withColumn("payload",
      when($"id" === 1234, lit("CHANGED")).otherwise($"payload"))
    val cmp = DiffEngine.compareDigests(
      DiffEngine.bucketDigest(a, Seq("id")),
      DiffEngine.bucketDigest(b, Seq("id")), "bucket")
    assert(cmp.filter(!$"ok").count() === 1)
  }

  test("re-digesting a mutated parquet side is fresh without an explicit clear") {
    // the chunkDigest cache is snapshot-keyed (listing+length+mtime):
    // a validate that re-reads a file-backed side after mutation must
    // see current contents with NO CachedPlans.clear() at the boundary
    graft.plans.CachedPlans.clear() // isolate from other suites only
    val dir = java.nio.file.Files
      .createTempDirectory("graft-digest-fresh").toString
    spark.range(0, 100).select($"id", concat(lit("v"), $"id").as("payload"))
      .write.mode("overwrite").parquet(dir)
    val before = DiffEngine.chunkDigest(
        spark.read.parquet(dir), Seq("id"), 40)
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    // mutate IN PLACE (overwrite the same path), then re-validate —
    // deliberately no clear() here
    spark.range(0, 100).select($"id",
        concat(lit("CHANGED"), $"id").as("payload"))
      .write.mode("overwrite").parquet(dir)
    val after = DiffEngine.chunkDigest(
        spark.read.parquet(dir), Seq("id"), 40)
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(before.keySet === after.keySet)
    assert(before.keySet.forall(k => before(k) != after(k)),
      "every chunk digest must reflect the mutated contents")
    graft.plans.CachedPlans.clear()
  }

  // ---- validateTable's layout-based statuses against rowDiff ----------

  private def frame(schema: StructType, rows: Seq[Row]): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)

  /** summarize(rowDiff) as a map, after asserting its rows come back
    * ordered by status.
    */
  private def rowDiffCounts(l: DataFrame, r: DataFrame, pks: Seq[String])
      : Map[String, Long] = {
    val rows = DiffEngine.summarize(DiffEngine.rowDiff(l, r, pks)).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toSeq
    assert(rows.map(_._1) === rows.map(_._1).sorted,
      "summarize must return its rows ordered by status")
    rows.toMap
  }

  private def reportCounts(l: DataFrame, r: DataFrame, pks: Seq[String])
      : Map[String, Long] = {
    val rep = ValidateJob.validateTable(l, r, TableSpec("t", "", pks))
    Map("match" -> rep.matched, "only_left" -> rep.onlyLeft,
      "only_right" -> rep.onlyRight, "mismatch" -> rep.mismatched)
      .filter(_._2 > 0)
  }

  /** The report equals summarize(rowDiff), and is the `expected` one. */
  private def sameAsRowDiff(l: DataFrame, r: DataFrame, pks: Seq[String],
      expected: Map[String, Long]): Unit = {
    val want = rowDiffCounts(l, r, pks)
    assert(want === expected, "rowDiff itself disagrees with the case")
    assert(reportCounts(l, r, pks) === want)
  }

  /** One row per side under pk 1: `lv` against `rv` in column `v`. */
  private def pair(dt: DataType, lv: Any, rv: Any): (DataFrame, DataFrame) = {
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("v", dt)))
    (frame(schema, Seq(Row(1L, lv))), frame(schema, Seq(Row(1L, rv))))
  }

  private val oneMatch = Map("match" -> 1L)
  private val oneMismatch = Map("mismatch" -> 1L)

  test("validateTable: -0.0 = 0.0 and NaN = NaN; 1e-9 apart is a mismatch") {
    Seq[(Any, Any, Map[String, Long])](
      (-0.0, 0.0, oneMatch), (Double.NaN, Double.NaN, oneMatch),
      (1.0, 1.000000001, oneMismatch), (2.5, 2.5, oneMatch))
      .foreach { case (a, b, want) =>
        val (l, r) = pair(DoubleType, a, b)
        sameAsRowDiff(l, r, Seq("id"), want)
      }
    val (l, r) = pair(FloatType, -0.0f, 0.0f)
    sameAsRowDiff(l, r, Seq("id"), oneMatch)
    // the canonical digest rounds to 6 decimals, so it cannot see the
    // 1e-9 difference the exact hash reports
    val (dl, dr) = pair(DoubleType, 1.0, 1.000000001)
    assert(DiffEngine.compareDigests(DiffEngine.chunkDigest(dl, Seq("id"), 10),
      DiffEngine.chunkDigest(dr, Seq("id"), 10), "chunk_id")
      .filter(!col("ok")).count() === 0)
  }

  test("validateTable: NULL = NULL; NULL is neither '', 0 nor the NULL sentinel") {
    Seq[(DataType, Any, Any, Map[String, Long])](
      (StringType, null, null, oneMatch),
      (StringType, null, "", oneMismatch),
      (IntegerType, null, 0, oneMismatch),
      (StringType, null, "\u0001N", oneMismatch),
      (StringType, "", "", oneMatch))
      .foreach { case (dt, a, b, want) =>
        val (l, r) = pair(dt, a, b)
        sameAsRowDiff(l, r, Seq("id"), want)
      }
  }

  test("validateTable: a \\u0001 inside a string never aliases a field boundary") {
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("a", StringType), StructField("b", StringType)))
    val l = frame(schema, Seq(Row(1L, "x\u0001y", "z"), Row(2L, null, "q")))
    val r = frame(schema, Seq(Row(1L, "x", "y\u0001z"), Row(2L, "q", null)))
    sameAsRowDiff(l, r, Seq("id"), Map("mismatch" -> 2L))
  }

  test("validateTable: timestamps 1 µs apart mismatch") {
    val t0 = java.time.Instant.parse("2024-03-01T12:00:00.000001Z")
    val (l, r) = pair(TimestampType, java.sql.Timestamp.from(t0),
      java.sql.Timestamp.from(t0.plusNanos(1000)))
    sameAsRowDiff(l, r, Seq("id"), oneMismatch)
    val (l2, r2) = pair(TimestampType, java.sql.Timestamp.from(t0),
      java.sql.Timestamp.from(t0))
    sameAsRowDiff(l2, r2, Seq("id"), oneMatch)
  }

  test("validateTable: arrays of doubles compare element-exactly") {
    val at = ArrayType(DoubleType, containsNull = true)
    Seq[(Any, Any, Map[String, Long])](
      (Seq(1.0, -0.0), Seq(1.0, 0.0), oneMatch),
      (Seq(Double.NaN), Seq(Double.NaN), oneMatch),
      (Seq(1.0), Seq(1.0, null), oneMismatch),
      (Seq(null, 1.0), Seq(1.0, null), oneMismatch),
      (Seq(1.0), Seq(1.000000001), oneMismatch),
      (Seq(), null, oneMismatch),
      (Seq(), Seq(), oneMatch))
      .foreach { case (a, b, want) =>
        val (l, r) = pair(at, a, b)
        sameAsRowDiff(l, r, Seq("id"), want)
      }
    // element boundaries: ([x, 0], []) vs ([x], [0]) hash different atoms
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("a", ArrayType(IntegerType)),
      StructField("b", ArrayType(IntegerType))))
    sameAsRowDiff(frame(schema, Seq(Row(1L, Seq(7, 0), Seq()))),
      frame(schema, Seq(Row(1L, Seq(7), Seq(0)))), Seq("id"), oneMismatch)
  }

  test("validateTable: duplicate, NULL and composite PKs count like rowDiff") {
    val schema = StructType(Seq(StructField("k1", LongType),
      StructField("k2", StringType), StructField("v", StringType)))
    val l = frame(schema, Seq(
      Row(1L, "a", "x"), Row(1L, "a", "x"), Row(1L, "b", "y"),
      Row(null, "a", "n"), Row(2L, null, "m"), Row(3L, "c", "z")))
    val r = frame(schema, Seq(
      Row(1L, "a", "x"), Row(1L, "b", "Y"), Row(null, "a", "n"),
      Row(2L, null, "m"), Row(4L, "d", "w")))
    // (1,a) ×2 vs ×1: two matches; (1,b) mismatch; NULL keys never join
    sameAsRowDiff(l, r, Seq("k1", "k2"), Map("match" -> 2L,
      "mismatch" -> 1L, "only_left" -> 3L, "only_right" -> 3L))
  }

  test("validateTable: physical column order does not matter") {
    val l = Seq((1L, "a", 1.5), (2L, "b", 2.5)).toDF("id", "s", "d")
    val r = Seq((2.5, "b", 2L), (1.5, "A", 1L)).toDF("d", "s", "id")
    sameAsRowDiff(l, r, Seq("id"), Map("match" -> 1L, "mismatch" -> 1L))
    sameAsRowDiff(l, l, Seq("id"), Map("match" -> 2L))
  }

  test("validateTable: a column typed differently per side answers as rowDiff") {
    // int vs bigint and int vs double widen: equal values match
    val li = Seq((1L, 5), (2L, 6)).toDF("id", "v")
    sameAsRowDiff(li, Seq((1L, 5L), (2L, 7L)).toDF("id", "v"), Seq("id"),
      Map("match" -> 1L, "mismatch" -> 1L))
    sameAsRowDiff(li, Seq((1L, 5.0), (2L, 6.5)).toDF("id", "v"), Seq("id"),
      Map("match" -> 1L, "mismatch" -> 1L))
    // string vs int: <=> cannot compare them, and neither can the report
    val ls = Seq((1L, "5")).toDF("id", "v")
    intercept[org.apache.spark.sql.AnalysisException](
      DiffEngine.rowDiff(ls, li, Seq("id")))
    intercept[org.apache.spark.sql.AnalysisException](
      ValidateJob.validateTable(ls, li, TableSpec("t", "", Seq("id"))))
    // and differing column sets stay an error
    intercept[IllegalArgumentException](ValidateJob.validateTable(
      li, li.withColumn("w", lit(1)), TableSpec("t", "", Seq("id"))))
  }

  test("validateTable: a PK typed differently per side keys like rowDiff's join") {
    // int vs bigint: the join compares the keys at bigint
    val li = Seq((1, "a"), (2, "b"), (3, "c")).toDF("id", "v")
    val rl = Seq((1L, "a"), (2L, "B"), (4L, "d")).toDF("id", "v")
    sameAsRowDiff(li, rl, Seq("id"), Map("match" -> 1L, "mismatch" -> 1L,
      "only_left" -> 1L, "only_right" -> 1L))
    // string vs int: the join casts both keys to bigint, so "02" and
    // " 4" are keys 2 and 4
    val ls = Seq(("1", "a"), ("02", "b"), ("3", "c"), (" 4", "d"))
      .toDF("id", "v")
    val ri = Seq((1, "a"), (2, "b"), (3, "C"), (4, "d"), (5, "e"))
      .toDF("id", "v")
    sameAsRowDiff(ls, ri, Seq("id"), Map("match" -> 3L, "mismatch" -> 1L,
      "only_right" -> 1L))
    // a key that does not cast fails both the same way
    val bad = Seq(("x", "a")).toDF("id", "v")
    intercept[NumberFormatException](
      DiffEngine.summarize(DiffEngine.rowDiff(bad, ri, Seq("id"))).collect())
    intercept[NumberFormatException](
      ValidateJob.validateTable(bad, ri, TableSpec("t", "", Seq("id"))))
  }

  test("validateTable: double PKs -0.0 = 0.0 and NaN = NaN, as the join keys them") {
    val schema = StructType(Seq(StructField("k", DoubleType),
      StructField("v", StringType)))
    val l = frame(schema, Seq(Row(-0.0, "a"), Row(Double.NaN, "b"),
      Row(1.5, "c"), Row(null, "d")))
    val r = frame(schema, Seq(Row(0.0, "a"), Row(Double.NaN, "B"),
      Row(1.5, "c"), Row(null, "d")))
    sameAsRowDiff(l, r, Seq("k"), Map("match" -> 2L, "mismatch" -> 1L,
      "only_left" -> 1L, "only_right" -> 1L))
  }

  test("validateTable equals summarize(rowDiff) on seeded random frames") {
    val rnd = new scala.util.Random(20261019L)
    val schema = StructType(Seq(StructField("k", LongType),
      StructField("d", DoubleType), StructField("s", StringType),
      StructField("i", IntegerType),
      StructField("a", ArrayType(DoubleType, containsNull = true))))
    val ds = Seq[Any](null, 0.0, -0.0, Double.NaN, 1.0, 1.000000001, 2.0)
    val ss = Seq[Any](null, "", "\u0001N", "x\u0001", "x", "y")
    val is = Seq[Any](null, 0, 1)
    val as = Seq[Any](null, Seq(), Seq(0.0), Seq(-0.0), Seq(null, 1.0),
      Seq(1.0, null))
    def pick(xs: Seq[Any]) = xs(rnd.nextInt(xs.size))
    def row(k: Any) = Row(k, pick(ds), pick(ss), pick(is), pick(as))
    var statuses = 0
    (1 to 6).foreach { round =>
      val keys = (1 to 40).map(_ =>
        if (rnd.nextInt(10) == 0) null else rnd.nextInt(25).toLong)
      val left = keys.map(row)
      // right: most rows copied, some mutated, dropped or added
      val right = left.flatMap { r =>
        rnd.nextInt(6) match {
          case 0 => Seq.empty
          case 1 => Seq(row(r.get(0)))
          case 2 => Seq(r, row(rnd.nextInt(30).toLong))
          case _ => Seq(r)
        }
      }
      val l = frame(schema, left)
      val r = frame(schema, rnd.shuffle(right))
      val want = rowDiffCounts(l, r, Seq("k"))
      statuses = statuses.max(want.size)
      assert(reportCounts(l, r, Seq("k")) === want, s"round $round")
    }
    // the status-order check in rowDiffCounts saw several rows at once
    assert(statuses >= 3)
  }

  test("layout range partitions follow the cores, not spark.sql.shuffle.partitions") {
    graft.plans.CachedPlans.clear()
    val prior = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "200")
    try {
      val a = spark.range(0, 20000)
        .select(($"id" % 4999).as("k"), concat(lit("p"), $"id" % 7).as("v"))
      assert(DiffEngine.layout(Seq(a), Seq("k")).rdd.getNumPartitions ===
        spark.sparkContext.defaultParallelism)
      // digests equal the layout-free reference, which the
      // 200-partition layout matched too
      val cmp = DiffEngine.compareDigests(
        DiffEngine.chunkDigest(a, Seq("k"), 700), naiveDigest(a, "k", 700),
        "chunk_id")
      assert(cmp.filter(!$"ok").count() === 0)
      assert(cmp.count() === math.ceil(20000.0 / 700).toLong)
    } finally {
      spark.conf.set("spark.sql.shuffle.partitions", prior)
      graft.plans.CachedPlans.clear()
    }
  }
}
