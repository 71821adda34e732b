package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr}

/** Layer probes of a traced run, timed from outside each layer: table
  * scans, the co-purchase edge build and store read, and each SQL-registered
  * native expression over a fixed cached input. Each probe reports the
  * median of a few noop-write runs.
  */
object Probes {
  private val Reps = 3

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  private def median(f: => Unit): Double = {
    val ts = Vector.fill(Reps) {
      val t0 = System.nanoTime()
      f
      (System.nanoTime() - t0) / 1e9
    }.sorted
    ts(Reps / 2)
  }

  def run(spark: SparkSession, dir: String): Map[String, Double] = {
    spark.sparkContext.setJobGroup("perfbench:probes", "layer probes")
    val scans = Seq("lineitem", "events", "documents", "embeddings").map { t =>
      val df = if (t == "events") graft.Tables.events(spark, dir) else graft.Tables.table(spark, dir, t)
      s"tables.scan_s.$t" -> median(noop(df))
    }
    val edgesBuild = median(noop(graft.operators.GraphOps.edgesDirect(spark, dir)))
    noop(graft.operators.GraphOps.edges(spark, dir))
    val edgesRead = median(noop(graft.operators.GraphOps.edges(spark, dir)))

    // Fixed inputs, replicated so each expression does measurable work.
    val docs = graft.Tables.documents(spark, dir)
      .select(expr("split(text, ' ')").as("toks"))
      .select(col("toks"), expr("transform(toks, t -> xxhash64(t))").as("hashes"))
      .withColumn("k", expr("explode(sequence(1, 8))")).cache()
    val emb = graft.Tables.embeddings(spark, dir)
      .select(col("embedding"),
        expr("transform(embedding, x -> cast(floor(x * 1000) as bigint))").as("qv"))
      .withColumn("k", expr("explode(sequence(1, 8))")).cache()
    noop(docs); noop(emb)
    val codebook = emb.select("qv").limit(16).collect().map(_.getSeq[Long](0))
      .map(_.mkString("array(", "L, ", "L)")).mkString("array(", ", ", ")")
    val fns = Seq(
      "fn.minhash_sig_s" -> docs.select(expr("minhash_sig(toks, 64)")),
      "fn.simhash_pack_s" -> docs.select(expr("simhash_pack(hashes, 30, 0)")),
      "fn.vec_dot_s" -> emb.select(expr("vec_dot(embedding, embedding)")),
      "fn.pq_codes_s" -> emb.select(expr(s"pq_codes(qv, $codebook, 8)")))
      .map { case (k, df) => k -> median(noop(df)) }
    docs.unpersist(); emb.unpersist()
    spark.sparkContext.clearJobGroup()
    (scans ++ fns ++ Seq("graph.edges_build_s" -> edgesBuild,
      "graph.edges_read_s" -> edgesRead)).toMap
  }
}
