package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Accessors for the benchmark tables (one parquet file per table, see
  * TESTDATA.md). All queries take the sf directory at call time so the same
  * plan builds against any scale factor — at cluster scale these would be
  * partitioned table paths instead of single files, and every reader below
  * goes through the vectorized parquet scan with pushdown/pruning intact.
  */
object Tables {
  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** `events.ts` is parquet TIMESTAMP(NANOS). How Spark surfaces that column
    * changed across engine versions, so branch on the *read* schema rather
    * than trusting any conf:
    *   - older engines with `spark.sql.legacy.parquet.nanosAsLong` honored:
    *     `ts` arrives as epoch-nanos BIGINT → integral `div 1000` (no doubles:
    *     epoch-nanos exceeds 2^53).
    *   - Spark 4.1+: nanos read natively as `timestamp_ntz` (the legacy conf
    *     still exists in SQLConf but no longer affects the read path) →
    *     `unix_micros(cast(ts as timestamp))`. The session TZ is pinned UTC
    *     (GraftSession), so the NTZ→LTZ cast is an exact relabel and the
    *     nanos→micros truncation matches DuckDB's read of the same file.
    * Either way the exposed `ts_us` is an epoch-micros BIGINT, bit-for-bit
    * equal to DuckDB's `epoch_us(ts)`; every downstream operator keys off
    * `ts_us` only.
    */
  def events(s: SparkSession, d: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val df = table(s, d, "events")
    val tsUs = df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        org.apache.spark.sql.functions.expr("ts div 1000")
      case _ =>
        org.apache.spark.sql.functions.unix_micros(
          org.apache.spark.sql.functions.col("ts").cast("timestamp"))
    }
    df.withColumn("ts_us", tsUs)
  }

  def region(s: SparkSession, d: String): DataFrame    = table(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = table(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = table(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = table(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = table(s, d, "lineitem")
  def documents(s: SparkSession, d: String): DataFrame = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")

  /** SHA-256 over the name, size and mtime of every file under
    * `dir/table.parquet`, plus each `.parquet` file's footer (row counts,
    * column statistics, chunk offsets), so a same-size, same-mtime rewrite
    * with different rows still changes it. Reads no data pages: the
    * [[ArtifactStore]] key computes it on every store call.
    */
  def contentToken(dir: String, tableName: String): String = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory)
        Option(f.listFiles()).toSeq.flatten.sortBy(_.getName).flatMap(walk)
      else Seq(f)
    val md = java.security.MessageDigest.getInstance("SHA-256")
    walk(new java.io.File(dir, s"$tableName.parquet")).foreach { f =>
      md.update(s"${f.getName}:${f.length}:${f.lastModified}|".getBytes("UTF-8"))
      if (f.isFile && f.getName.endsWith(".parquet")) md.update(parquetFooter(f))
    }
    java.util.HexFormat.of().formatHex(md.digest())
  }

  /** The footer and 8-byte tail of a parquet file: the tail's first four
    * bytes are the little-endian footer length.
    */
  private def parquetFooter(f: java.io.File): Array[Byte] = {
    val raf = new java.io.RandomAccessFile(f, "r")
    try {
      val len = raf.length
      raf.seek(math.max(0L, len - 8))
      val n = if (len < 8) 0 else Integer.reverseBytes(raf.readInt())
      val footer = new Array[Byte](
        if (n > 0 && n <= len - 8) n + 8 else math.min(len, 8L).toInt)
      raf.seek(len - footer.length)
      raf.readFully(footer)
      footer
    } finally raf.close()
  }

  /** Decouple heavy per-row compute (regex tokenization, shingling,
    * per-char explodes) from the SOURCE file's split layout: a corpus
    * delivered as one fat row group scans as ONE task, and every narrow
    * stage chained onto it — including map-side partial aggregation —
    * runs serially no matter how many cores exist (the sf1 rehearsal
    * measured a 50k-doc shingle audit at 67 s serial vs ~4 s parallel).
    * If the scan already yields at least one split per core — the normal
    * state on a real multi-file corpus — this is the identity, so no
    * data is re-shuffled at 100 TB; the round-robin exchange only fires
    * on row-group-starved inputs, where moving the (small) raw bytes
    * once is strictly cheaper than serializing the compute.
    */
  def parallelized(df: DataFrame): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < target) df.repartition(target) else df
  }
}
