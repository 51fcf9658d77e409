package graft.ads

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Outcome of a checked table append: rows written, rows rejected by
  * REQUIRED-column validation, and a bounded sample of per-row error
  * messages (the engine-side mirror of BigQuery's `insert_rows_json`
  * per-row error list, reference `main.py:441-447`).
  */
final case class AppendResult(
    appended: Long, rejected: Long, rowErrors: Seq[String])

/** K1-K4: the reference's sinks (SURVEY.md §2.2), parquet/CSV stand-ins for
  * the warehouse.
  */
object Sinks {

  /** K1: CSV audit artifact (reference `main.py:529-535`): header row, static
    * columns first then action columns — SORTED, fixing the reference's
    * set-iteration column order. coalesce(1) mirrors the single audit file;
    * at scale you would drop the coalesce and audit a directory.
    */
  def csvAudit(flat: DataFrame, path: String): Unit =
    flat.coalesce(1).write.mode("overwrite").option("header", "true").csv(path)

  /** K2/K4: append to the day-partitioned table (reference
    * `insert_rows_json` + DAY partitioning, `docs/GCP_SETUP.md:144-152`).
    * A typed `p_date` partition column is derived from the string
    * `date_start` the rows carry (the reference's declared-DATE /
    * in-flight-STRING mismatch, resolved at the boundary).
    *
    * Schema evolution: the batch is aligned to merge(existing, incoming)
    * so new action columns append as typed NULL-backed columns and old
    * files simply lack them (readers merge footers).
    */
  def appendToTable(spark: SparkSession, flat: DataFrame, path: String): Long =
    appendToTableChecked(spark, flat, path).appended

  /** The checked form: rows with a null REQUIRED column (schema.json mode,
    * [[AdSchema.requiredCols]]) are REJECTED — reported with per-row error
    * messages and optionally routed to `errorPath` — instead of silently
    * appended; BigQuery would refuse them row-by-row. Valid rows append
    * exactly as before.
    */
  def appendToTableChecked(
      spark: SparkSession, flat: DataFrame, path: String,
      errorPath: Option[String] = None, maxErrorSample: Int = 20): AppendResult = {
    val required = AdSchema.requiredCols.filter(flat.columns.contains)
    val errCol = concat_ws("; ", required.map(c =>
      when(col(c).isNull, lit(s"$c: null value for REQUIRED column"))): _*)
    val marked = flat.withColumn("_row_errors", errCol).cache()
    try {
      val bad = marked.filter(col("_row_errors") =!= "")
      val good = marked.filter(col("_row_errors") === "").drop("_row_errors")
      val rejected = bad.count()
      val sample =
        if (rejected == 0) Seq.empty
        else {
          // cast first: a CSV-inferred DATE column cannot coalesce with 'NULL'
          // under ANSI mode
          val ident = required.map(c =>
            concat(lit(s"$c="), coalesce(col(c).cast("string"), lit("NULL"))))
          bad.select(concat(lit("row["), concat_ws(", ", ident: _*), lit("]: "),
              col("_row_errors")).as("e"))
            .limit(maxErrorSample).collect().map(_.getString(0)).toSeq
        }
      errorPath.foreach(p => bad.write.mode("append").parquet(p))
      AppendResult(writeAligned(spark, good, path, SaveMode.Append), rejected, sample)
    } finally marked.unpersist(): Unit
  }

  /** Evolution-aware physical write of pre-validated rows: derive `p_date`,
    * align to merge(existing, incoming), count, write. Overwrite is dynamic
    * (only the batch's partitions), set on the writer so the session conf
    * is left alone.
    */
  private def writeAligned(
      spark: SparkSession, flat: DataFrame, path: String, mode: SaveMode): Long = {
    val withDate = flat.withColumn("p_date", to_date(col("date_start"), "yyyy-MM-dd"))
    val target = SchemaEvolution.tableSchema(spark, path)
      .map(SchemaEvolution.merge(_, withDate.schema))
      .getOrElse(withDate.schema)
    val aligned = SchemaEvolution.alignTo(withDate, target)
    val n = aligned.count()
    aligned.write.mode(mode).option("partitionOverwriteMode", "dynamic")
      .partitionBy("p_date").parquet(path)
    n
  }

  /** Idempotent variant: overwrite only the partitions present in the batch
    * (dynamic partition overwrite) — our improvement over the reference's
    * max-instances=1 + manual `SELECT DISTINCT` remediation
    * (`README.md:377-385`). Re-running a day is then safe by construction.
    */
  def overwritePartitions(spark: SparkSession, flat: DataFrame, path: String): Long =
    writeAligned(spark, flat, path, SaveMode.Overwrite)

  /** Table read with footer-merged schema (evolution-aware). */
  def readTable(spark: SparkSession, path: String): DataFrame =
    spark.read.option("mergeSchema", "true").parquet(path)

  /** Small-file compaction: rewrite each day partition into
    * ceil(bytes / targetBytes) files. Daily appends leave one small file
    * per run per partition; at 100 TB the read cost of a table is driven
    * by file count as much as byte count, so periodic compaction is part
    * of the sink contract. Dynamic partition overwrite keeps untouched
    * days untouched; data is byte-identical after (spec-asserted).
    *
    * @return (files before, files after)
    */
  def compact(spark: SparkSession, path: String,
      targetBytes: Long = 128L * 1024 * 1024): (Long, Long) = {
    def dataFiles = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk)
        else Seq(f).filter(_.getName.endsWith(".parquet"))
      walk(new java.io.File(path))
    }
    val before = dataFiles
    val totalBytes = before.map(_.length()).sum
    val nFiles = math.max(1, math.ceil(totalBytes.toDouble / targetBytes).toInt)
    val df = readTable(spark, path)
    // repartition by the partition column so each day writes nFiles max,
    // and rows of one day land together (one writer per (day, slot))
    val compacted =
      if (df.columns.contains("p_date")) df.repartition(nFiles, col("p_date"))
      else df.repartition(nFiles)
    val out = compacted.cache()
    out.count() // materialize BEFORE overwriting the files being read
    out.write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
      .applyPartitioning(df.columns.contains("p_date"))
      .parquet(path)
    out.unpersist()
    (before.size.toLong, dataFiles.size.toLong)
  }

  private implicit class WriterOps(w: org.apache.spark.sql.DataFrameWriter[org.apache.spark.sql.Row]) {
    def applyPartitioning(partitioned: Boolean): org.apache.spark.sql.DataFrameWriter[org.apache.spark.sql.Row] =
      if (partitioned) w.partitionBy("p_date") else w
  }
}
