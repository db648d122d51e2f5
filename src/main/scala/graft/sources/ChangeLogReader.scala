package graft.sources

import graft.model.{CdcColumns => C, CdcFile}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** Reads a set of CDC parquet files into ONE ordered change-log DataFrame.
  *
  * The reference loads files one at a time into memory and applies rows
  * sequentially (src/cdc/cdc_operator.rs:152-216); its correctness hinges
  * on that implicit order: LOAD files first, then CDC files in listing
  * order, rows within a file in file order
  * (src/postgres/postgres_operator_impl.rs:292). Spark is unordered, so
  * this reader materializes the order explicitly as data:
  *
  *  - `_cdc_file_path`  — `_metadata.file_path` (hidden file-source column)
  *  - `_cdc_row_index`  — `_metadata.row_index`, the row's physical index
  *    inside its parquet file (stable, split-safe — unlike
  *    monotonically_increasing_id)
  *  - `_cdc_is_load`    — file name contains "LOAD"
  *
  * The total event order is then (is_load DESC, file_path ASC,
  * row_index ASC), which `eventSeq` exposes as one comparable struct
  * column for last-event-wins reduction (SURVEY.md §7.3).
  *
  * Scale: one `spark.read.parquet(paths: _*)` over all files of a table —
  * scan parallelism, column pruning and predicate pushdown are Catalyst's
  * job; nothing is materialized on the driver.
  */
object ChangeLogReader {

  /** @param mergeSchemas true tolerates schema drift across CDC files
    *        (columns added over time arrive as NULL in older events —
    *        the reference never checks CDC-file schemas at all, so drift
    *        crashes it; we absorb it instead)
    */
  def read(spark: SparkSession, files: Seq[CdcFile],
      mergeSchemas: Boolean = true): DataFrame = {
    require(files.nonEmpty, "change-log read of zero files")
    val df = spark.read
      .option("mergeSchema", mergeSchemas.toString)
      .parquet(files.map(_.path): _*)
    // DMS full-load files carry no Op column unless configured to: a log
    // of only such files gets a NULL Op, which every reducer reads as an
    // insert
    withOrdering(if (df.columns.contains(C.Op)) df
      else df.withColumn(C.Op, lit(null).cast("string")))
  }

  /** Attach ordering columns to a parquet-sourced DataFrame. */
  def withOrdering(df: DataFrame): DataFrame =
    df.withColumn(C.FilePath, col("_metadata.file_path"))
      .withColumn(C.RowIndex, col("_metadata.row_index"))
      .withColumn(C.IsLoad, col("_metadata.file_name").contains("LOAD"))

  /** THE encoding of "event order" for every reducer in the engine: a
    * struct over the ordering columns, compared lexicographically
    * field-by-field (Spark's struct ordering). Both the file-metadata
    * order below and the synthetic-log orders the oracle queries build
    * (graft.queries.CdcQueries) go through this one definition, so a
    * future change to the encoding (e.g. null ordering, a different
    * comparable shape) lands everywhere or nowhere — it cannot silently
    * diverge the declared queries from their oracles.
    */
  def seqStruct(cols: Seq[Column]): Column = struct(cols: _*)

  /** One comparable column encoding the global event order. Ascending =
    * apply order: LOAD first (rank 0), then CDC files by path, then rows
    * in file order.
    */
  def eventSeq(df: DataFrame): Column =
    seqStruct(Seq(
      when(col(C.IsLoad), lit(0)).otherwise(lit(1)).as("load_rank"),
      col(C.FilePath).as("file_path"),
      col(C.RowIndex).as("row_index")))
}
