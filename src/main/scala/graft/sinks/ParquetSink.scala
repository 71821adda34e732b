package graft.sinks

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{ArtifactStore, Tables}
import graft.functions.GraftFunctions

/** Load-phase parquet writer (reference: analysis/etl_spark.py:250-259
  * persists the transformed output; here generalized to the partitioned
  * layout a 100 TB pipeline needs).
  *
  * Scale notes: partitioning by a low-cardinality column gives partition
  * pruning to every downstream reader; `sortWithinPartitions` on the
  * usual filter key maximizes parquet row-group min/max skipping without
  * a global sort; `maxRecordsPerFile` bounds file sizes so a skewed
  * partition cannot produce one giant file. Never `coalesce(1)` — that
  * funnels the write through a single task.
  */
object ParquetSink {

  def writePartitioned(
      df: DataFrame,
      path: String,
      partitionBy: Seq[String],
      sortWithin: Seq[String] = Nil,
      maxRecordsPerFile: Long = 5000000L,
      format: String = "parquet",
      options: Map[String, String] = Map.empty): Unit = {
    val sorted =
      if (sortWithin.nonEmpty) df.sortWithinPartitions(sortWithin.map(df.col): _*)
      else df
    sorted.write
      .option("maxRecordsPerFile", maxRecordsPerFile)
      .options(options)
      .partitionBy(partitionBy: _*)
      .mode("overwrite")
      .format(format)
      .save(path)
  }

  /** Registered load-phase gate (reference: analysis/etl_spark.py:250-259
    * writes the transformed output to storage): [[writePartitioned]] the
    * documents table lang-partitioned to scratch, read it back through the
    * partition-discovery path, and emit a per-partition fidelity digest —
    * row count plus column checksums, including a polynomial fingerprint
    * of every `text` and `source` string. The oracle computes the same
    * digest from the ORIGINAL table, so any write-path loss (dropped rows,
    * reordered partition values, string mangling, type drift) breaks the
    * hash compare. The write itself executes when the query is built, so
    * the bench times write + read-back, not just the final aggregate.
    */
  def roundtripAudit(s: SparkSession, dir: String, format: String = "parquet"): DataFrame = {
    // Per-JVM scratch: a correctness-gate process and a bench process
    // running concurrently on the same SF must not overwrite each other's
    // roundtrip mid-read (same-process reps still reuse one path). The
    // format lands in the path so the parquet and ORC audits never collide.
    val scratch = ArtifactStore.scratch(s,
      s"sink-roundtrip-${new java.io.File(dir).getName}/documents-$format")
    // CSV is untyped and headerless by default: the write emits a header
    // and the read-back binds the EXPLICIT schema (inference would be a
    // second full scan and could legitimately drift on an all-digit text
    // column — the audit must test the write path, not the inferrer).
    // multiLine lets the read-back parse quoted text containing newlines —
    // today's documents.text is newline-free, but the audit must not start
    // silently truncating rows the day that changes.
    val fmtOpts =
      if (format == "csv") Map("header" -> "true", "multiLine" -> "true")
      else Map.empty[String, String]
    val docs = Tables.documents(s, dir)
    writePartitioned(
      docs, scratch,
      partitionBy = Seq("lang"), sortWithin = Seq("doc_id"), format = format,
      options = fmtOpts)
    def fp(c: org.apache.spark.sql.Column) = GraftFunctions.poly_hash(c, 31, 1000000007L)
    val reader0 = s.read.format(format).options(fmtOpts)
    // CSV read-back binds the source table's own schema minus the `lang`
    // partition column (recovered by partition discovery) — derived, not
    // hand-duplicated, so a documents schema change fails loudly here
    // instead of silently misbinding positional columns.
    val reader =
      if (format == "csv") {
        val csvSchema = org.apache.spark.sql.types.StructType(
          docs.schema.fields.filterNot(_.name == "lang"))
        reader0.schema(csvSchema)
      } else reader0
    reader.load(scratch)
      .groupBy("lang")
      .agg(
        count(lit(1)).as("n_docs"),
        sum("doc_id").as("sum_doc_id"),
        sum("n_chars").as("sum_n_chars"),
        sum(fp(col("text"))).as("sum_text_fp"),
        sum(fp(col("source"))).as("sum_source_fp"))
      .orderBy("lang")
  }

  /** DuckDB oracle for [[roundtripAudit]] — the identical digest over the
    * original parquet (the same poly-hash the `doc_fingerprint` oracle
    * uses, applied to both string columns).
    */
  def roundtripOracleSql: String = {
    def fpSql(colName: String): String =
      s"""list_reduce(
         |  list_prepend(0::BIGINT,
         |   list_transform(regexp_extract_all($colName, '(?s).'), c -> unicode(c)::BIGINT)),
         |  (acc, x) -> (acc * 31 + x) % 1000000007)""".stripMargin
    s"""SELECT lang, count(*) AS n_docs,
       | CAST(sum(doc_id) AS BIGINT) AS sum_doc_id,
       | CAST(sum(n_chars) AS BIGINT) AS sum_n_chars,
       | CAST(sum(${fpSql("text")}) AS BIGINT) AS sum_text_fp,
       | CAST(sum(${fpSql("source")}) AS BIGINT) AS sum_source_fp
       |FROM documents GROUP BY lang ORDER BY lang""".stripMargin
  }
}
