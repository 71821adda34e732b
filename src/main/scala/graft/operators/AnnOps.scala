package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{ArtifactStore, Tables}

/** Similarity search over the `embeddings` table (`embedding`:
  * Array[Float], 64-dim).
  *
  * Two paths:
  *  - [[annTopK]]: exact brute-force cosine top-k for a small, broadcast
  *    query set — the correctness baseline. The scan side streams once
  *    through a broadcast nested-loop join; per-pair math is a codegen'd
  *    `zip_with`/`aggregate` fold in doubles (no UDF, no collect).
  *  - [[annLshTopK]]: the 100 TB path — SimHash (random-hyperplane) bucket
  *    codes built from seeded `xxhash64` pseudo-hyperplanes, candidates
  *    drawn only from the query's bucket and its Hamming-1 neighbors
  *    (multi-probe), exact cosine re-rank within candidates. Work scales
  *    with bucket occupancy (~N/2^bits per probe), not with N×Q.
  *
  * Scores are rounded to 6 decimals before ranking so both engines rank
  * identical keys (ties broken by candidate id).
  */
object AnnOps {

  /** Sum of element products in doubles, index order — the native
    * [[graft.functions.FloatVecDot]] expression (fused codegen loop; same
    * accumulation sequence as a `zip_with`+`aggregate` fold, so results
    * are bit-identical to the declarative form).
    */
  private def dot(a: Column, b: Column): Column =
    graft.functions.GraftFunctions.vec_dot(a, b)

  private def norm(a: Column): Column = sqrt(dot(a, a))

  private[operators] def cosine(a: Column, b: Column): Column =
    round(dot(a, b) / (norm(a) * norm(b)), 6)

  /** Bounded per-query top-k: keeps the k best (cosine desc, id asc)
    * pairs associatively, so Spark applies it with partial aggregation —
    * every map task reduces its scored candidates to k entries BEFORE
    * the shuffle. The row_number-window alternative funnels each query's
    * FULL candidate list through one task's sort: for the brute-force
    * baseline that is all N vectors per query at 100 TB. Cosines are
    * pre-rounded (6dp), so the (score, id) ordering is exactly the
    * oracle's ranking.
    */
  final case class CosBuf(items: List[(Double, Long)])
  final case class CosOut(items: Seq[(Double, Long)])

  private final class CosTopK(k: Int)
      extends org.apache.spark.sql.expressions.Aggregator[
        (Long, Long, Double), CosBuf, CosOut] {
    private def ord(e: (Double, Long)): (Double, Long) = (-e._1, e._2)
    // Amortized bounded insert: rows cons in O(1) and the buffer is pruned
    // back to the k best only when it reaches 2k — O(log k) amortized per
    // row instead of a full O(k log k) sort + list allocation on EVERY
    // row. Pruning to the k best at any point is lossless for the final
    // top-k, so partial aggregation semantics are unchanged.
    override def zero: CosBuf = CosBuf(Nil)
    override def reduce(b: CosBuf, r: (Long, Long, Double)): CosBuf = {
      val grown = (r._3, r._2) :: b.items
      CosBuf(
        if (grown.lengthCompare(2 * k) >= 0) grown.sortBy(ord).take(k) else grown)
    }
    override def merge(a: CosBuf, b: CosBuf): CosBuf =
      CosBuf((a.items ++ b.items).sortBy(ord).take(k))
    override def finish(r: CosBuf): CosOut = CosOut(r.items.sortBy(ord).take(k))
    override def bufferEncoder: org.apache.spark.sql.Encoder[CosBuf] =
      org.apache.spark.sql.Encoders.product[CosBuf]
    override def outputEncoder: org.apache.spark.sql.Encoder[CosOut] =
      org.apache.spark.sql.Encoders.product[CosOut]
  }

  /** Bounded per-query ranking of a scored (q_id, c_id, cosine_r6) frame:
    * the shared tail of all three ANN paths.
    */
  private[operators] def rankTopK(s: SparkSession, scored: DataFrame, k: Int): DataFrame = {
    import s.implicits._
    scored
      .as[(Long, Long, Double)]
      .groupByKey(_._1)
      .agg(new CosTopK(k).toColumn.name("top"))
      .toDF("q_id", "top")
      .select(col("q_id"), posexplode(col("top.items")))
      .select(
        col("q_id"),
        col("col._2").as("c_id"),
        (col("pos") + 1).cast("long").as("rank"),
        col("col._1").as("cosine_r6"))
      .orderBy("q_id", "rank")
  }

  /** The first `nQueries` (id, embedding) rows, frozen in the
    * [[graft.ArtifactStore]] so the exact baseline every recall audit
    * re-runs takes its query side as a typed literal; the build is one
    * bounded collect.
    */
  private def frozenQueries(
      s: SparkSession, dir: String, nQueries: Int): Seq[(Long, Seq[Float])] =
    ArtifactStore.literal("queries", dir, "embeddings", nQueries)(
      Tables.embeddings(s, dir).filter(col("vec_id") < nQueries)
        .select(col("vec_id"), col("embedding")).orderBy("vec_id").collect()
        .map(r => (r.getLong(0), r.getSeq[Float](1))).toSeq)

  /** Exact top-k nearest neighbors (cosine) of the first `nQueries`
    * vectors against the whole table, self-matches excluded. The query
    * set enters as a typed literal ([[frozenQueries]]), so scoring is a
    * single corpus-scan projection (explode over the 5-element constant)
    * feeding the bounded top-k aggregator — no join at all.
    */
  def annTopK(s: SparkSession, dir: String, k: Int = 10, nQueries: Int = 5): DataFrame = {
    val qLit = typedlit(frozenQueries(s, dir, nQueries))
    val scored = Tables.embeddings(s, dir)
      .select(col("vec_id").as("c_id"), col("embedding").as("c_vec"),
        explode(qLit).as("q"))
      .filter(col("q._1") =!= col("c_id"))
      .select(col("q._1").as("q_id"), col("c_id"),
        cosine(col("q._2"), col("c_vec")).as("cosine_r6"))
    rankTopK(s, scored, k)
  }

  /** Metadata-filtered exact top-k: neighbors restricted to candidates
    * sharing the query's `label` — the filtered-ANN shape every retrieval
    * pipeline needs (search within a class / tenant / shard). PRE-filter,
    * not post-filter: the label equi-condition joins before scoring, so
    * only same-label pairs are ever scored (a post-filter top-k under-
    * fills k whenever the filter is selective). The label join is a
    * broadcast hash join on the tiny query side — the candidate scan
    * never shuffles, and per-candidate work drops by the filter's
    * selectivity vs the unfiltered path.
    */
  def annTopKFiltered(s: SparkSession, dir: String, k: Int = 10, nQueries: Int = 5): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    val q = emb.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"),
        col("label").as("q_label"))
    val cand = emb.select(col("vec_id").as("c_id"), col("embedding").as("c_vec"),
      col("label").as("c_label"))
    val scored = cand
      .join(broadcast(q), col("q_label") === col("c_label") &&
        col("q_id") =!= col("c_id"))
      .select(col("q_id"), col("c_id"),
        cosine(col("q_vec"), col("c_vec")).as("cosine_r6"))
    rankTopK(s, scored, k)
  }

  /** Hard-negative mining — the contrastive-training complement of
    * [[annTopKFiltered]]: for each query, the top-k most-similar
    * candidates with a DIFFERENT label. These are the negatives that
    * actually move an embedding model (random negatives are trivially
    * separable; the informative ones sit just across the class
    * boundary), and mining them is a standard pass over the training
    * corpus before each contrastive epoch (in-batch negatives'
    * offline twin). Same pre-filter discipline as the filtered path:
    * the label inequality joins BEFORE scoring, and the tiny query
    * side broadcasts so the candidate scan never shuffles. At 100 TB
    * the same swap as `ann_lsh`/`ann_ivf` applies — bucket the
    * candidates, mine within probed buckets — with this exact pass as
    * the recall yardstick.
    */
  def hardNegatives(s: SparkSession, dir: String, k: Int = 10, nQueries: Int = 5): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    val q = emb.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"),
        col("label").as("q_label"))
    val cand = emb.select(col("vec_id").as("c_id"), col("embedding").as("c_vec"),
      col("label").as("c_label"))
    val scored = cand
      .join(broadcast(q), col("q_label") =!= col("c_label"))
      .select(col("q_id"), col("c_id"),
        cosine(col("q_vec"), col("c_vec")).as("cosine_r6"))
    rankTopK(s, scored, k)
  }

  def hardNegativesOracleSql(k: Int = 10, nQueries: Int = 5): String =
    s"""WITH q AS (
       | SELECT vec_id AS q_id, embedding AS qv, label AS ql
       | FROM embeddings WHERE vec_id < $nQueries),
       |c AS (SELECT vec_id AS c_id, embedding AS cv, label AS cl FROM embeddings),
       |p AS (
       | SELECT q_id, c_id,
       |  round(
       |   list_sum(list_transform(list_zip(qv, cv), x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
       |   / (sqrt(list_sum(list_transform(qv, a -> CAST(a AS DOUBLE) * CAST(a AS DOUBLE))))
       |      * sqrt(list_sum(list_transform(cv, a -> CAST(a AS DOUBLE) * CAST(a AS DOUBLE))))), 6) AS cosine_r6
       | FROM q, c WHERE ql <> cl),
       |r AS (
       | SELECT q_id, c_id, cosine_r6,
       |  CAST(row_number() OVER (PARTITION BY q_id ORDER BY cosine_r6 DESC, c_id) AS BIGINT) AS rank
       | FROM p)
       |SELECT q_id, c_id, rank, cosine_r6 FROM r WHERE rank <= $k
       |ORDER BY q_id, rank""".stripMargin

  def annTopkFilteredOracleSql(k: Int = 10, nQueries: Int = 5): String =
    s"""WITH q AS (
       | SELECT vec_id AS q_id, embedding AS qv, label AS ql
       | FROM embeddings WHERE vec_id < $nQueries),
       |c AS (SELECT vec_id AS c_id, embedding AS cv, label AS cl FROM embeddings),
       |p AS (
       | SELECT q_id, c_id,
       |  round(
       |   list_sum(list_transform(list_zip(qv, cv), x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
       |   / (sqrt(list_sum(list_transform(qv, a -> CAST(a AS DOUBLE) * CAST(a AS DOUBLE))))
       |      * sqrt(list_sum(list_transform(cv, a -> CAST(a AS DOUBLE) * CAST(a AS DOUBLE))))), 6) AS cosine_r6
       | FROM q, c WHERE q_id <> c_id AND ql = cl),
       |r AS (
       | SELECT q_id, c_id, cosine_r6,
       |  CAST(row_number() OVER (PARTITION BY q_id ORDER BY cosine_r6 DESC, c_id) AS BIGINT) AS rank
       | FROM p)
       |SELECT q_id, c_id, rank, cosine_r6 FROM r WHERE rank <= $k
       |ORDER BY q_id, rank""".stripMargin

  /** DuckDB oracle for [[annTopK]]: brute-force rounded-cosine ranking
    * with id tie-breaks (moved here from the registry so the recall-audit
    * oracle composes from the same text).
    */
  def annTopkOracleSql(k: Int = 10, nQueries: Int = 5): String =
    s"""WITH q AS (
       | SELECT vec_id AS q_id, embedding AS qv FROM embeddings WHERE vec_id < $nQueries),
       |c AS (SELECT vec_id AS c_id, embedding AS cv FROM embeddings),
       |p AS (
       | SELECT q_id, c_id,
       |  round(
       |   list_sum(list_transform(list_zip(qv, cv), x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
       |   / (sqrt(list_sum(list_transform(qv, a -> CAST(a AS DOUBLE) * CAST(a AS DOUBLE))))
       |      * sqrt(list_sum(list_transform(cv, a -> CAST(a AS DOUBLE) * CAST(a AS DOUBLE))))), 6) AS cosine_r6
       | FROM q, c WHERE q_id <> c_id),
       |r AS (
       | SELECT q_id, c_id, cosine_r6,
       |  CAST(row_number() OVER (PARTITION BY q_id ORDER BY cosine_r6 DESC, c_id) AS BIGINT) AS rank
       | FROM p)
       |SELECT q_id, c_id, rank, cosine_r6 FROM r WHERE rank <= $k
       |ORDER BY q_id, rank""".stripMargin

  /** Integer recall@k of an approximate ANN result against the exact
    * baseline: per query, how many of the exact top-k ids the approximate
    * top-k recovered. Counts, not floats — the number a user of the
    * approximate paths watches as [[bitsFor]] grows the code width with N
    * (a recall collapse shows up here before it shows up in eyeballed
    * score lists). Both inputs are tiny (nQueries × k rows), so the join
    * is a broadcast regardless of corpus size.
    */
  private[operators] def recallOf(exact: DataFrame, approx: DataFrame): DataFrame =
    exact.select(col("q_id"), col("c_id"))
      .join(
        approx.select(col("q_id").as("aq"), col("c_id").as("ac")),
        col("q_id") === col("aq") && col("c_id") === col("ac"), "left")
      .groupBy("q_id")
      .agg(
        count(lit(1)).as("k"),
        sum(when(col("ac").isNotNull, 1L).otherwise(0L)).as("hits"))
      .withColumn("recall_milli", expr("(hits * 1000) div k"))
      .orderBy("q_id")

  /** Recall@k audit of [[annLshTopKRegistered]] — oracle-gated end to end
    * (both sides of the comparison are SQL-expressible).
    */
  def annRecallLsh(s: SparkSession, dir: String): DataFrame =
    recallOf(annTopK(s, dir), annLshTopKRegistered(s, dir))

  /** Recall@k audit of [[annIvfTopK]] — rows-only registered (the IVF
    * side depends on an MLlib fit); AnnSpec pins the recall floor.
    */
  def annRecallIvf(s: SparkSession, dir: String): DataFrame =
    recallOf(annTopK(s, dir), annIvfTopK(s, dir))

  /** The recall-audit join+count SQL shared by EVERY approximate path's
    * oracle ([[annRecallLshOracleSql]], PqOps' two audits) — one copy of
    * the formula, parameterized by the exact/approx CTE bodies.
    */
  private[operators] def recallAuditSql(exactCte: String, approxCte: String): String =
    s"""WITH exact AS ($exactCte),
       |approx AS ($approxCte)
       |SELECT e.q_id, count(*) AS k,
       | CAST(sum(CASE WHEN a.c_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS hits,
       | CAST((1000 * sum(CASE WHEN a.c_id IS NOT NULL THEN 1 ELSE 0 END)) // count(*) AS BIGINT) AS recall_milli
       |FROM exact e LEFT JOIN approx a ON e.q_id = a.q_id AND e.c_id = a.c_id
       |GROUP BY e.q_id ORDER BY e.q_id""".stripMargin

  /** DuckDB oracle for [[annRecallLsh]]: the exact and LSH oracles as
    * nested CTEs, joined on recovered ids.
    */
  def annRecallLshOracleSql(): String =
    recallAuditSql(annTopkOracleSql(), annLshOracleSql())

  /** Default code width for the registered `dedup_embed` query — the
    * oracle SQL is generated from the same constant, so the two sides run
    * the identical bucketed algorithm (not an exact oracle vs a
    * probabilistic query, which would only agree while the corpus happens
    * to contain no near-dup pairs).
    */
  val DefaultEmbedBits = 10

  /** Embedding-cosine near-duplicate summary: total vectors + count of
    * pairs with rounded cosine >= `tauMilli`/1000. Candidates come from
    * SimHash buckets probed to Hamming<=1 per vector, then exact cosine
    * verification; never an N² product. Only (vec_id, code) pairs move
    * through the candidate shuffle — embeddings are joined back by id
    * for the verify stage. One summary row so the result is meaningful
    * even on corpora with no embedding near-dups (like this one — max
    * pair cosine is 0.60 at sf0.1).
    */
  def embedNearDupStats(
      s: SparkSession,
      dir: String,
      tauMilli: Int = 950,
      bits: Int = DefaultEmbedBits): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    val coded = emb.select(col("vec_id"), simhashCode(col("embedding"), bits).as("code"))
    val masks: Seq[Long] = Seq(0L) ++ (0 until bits).map(1L << _)
    val probes = coded.select(col("vec_id"),
      explode(array(masks.map(m => col("code").bitwiseXOR(lit(m))): _*)).as("probe"))
    val cand = probes.as("x")
      .join(
        coded.as("y"),
        col("x.probe") === col("y.code") && col("x.vec_id") < col("y.vec_id"))
      .select(col("x.vec_id").as("va"), col("y.vec_id").as("vb"))
      .distinct()
    val pairs = cand
      .join(emb.select(col("vec_id").as("va"), col("embedding").as("ea")), "va")
      .join(emb.select(col("vec_id").as("vb"), col("embedding").as("eb")), "vb")
      .filter(cosine(col("ea"), col("eb")) >= tauMilli / 1000.0)
    emb.agg(count(lit(1)).as("total_vecs"))
      .crossJoin(pairs.agg(count(lit(1)).as("dup_pairs")))
  }

  /** [[embedNearDupStats]] with the code width sized from the corpus —
    * the 100 TB entry point (one scalar count() action, then ~log2(N)
    * bits so bucket occupancy stays flat).
    */
  def embedNearDupStatsAuto(
      s: SparkSession,
      dir: String,
      tauMilli: Int = 950,
      targetBucket: Long = 16L): DataFrame = {
    val n = Tables.embeddings(s, dir).count()
    embedNearDupStats(s, dir, tauMilli, bitsFor(n, targetBucket))
  }

  /** DuckDB oracle for [[embedNearDupStats]]: the identical fixed-point
    * bucketed algorithm, unrolled — quantized projections, Hamming<=1
    * probes, exact cosine verify.
    */
  private def projSql(h: Int): String =
    s"list_sum(list_transform(range(0, 64), d -> q[CAST(d + 1 AS INT)] * (((${h.toLong * 1000003L} + d + 1) * 2654435761) % 2000003 - 1000001)))"

  /** The quantize + sign-bit-sum CTEs shared by every bucketed oracle:
    * `codes(vec_id, code)` mirroring [[simhashCode]] verbatim.
    */
  private[operators] def codesSql(bits: Int): String = {
    val bitSum = (0 until bits)
      .map(h => s"(CASE WHEN ${projSql(h)} >= 0 THEN ${1L << h} ELSE 0 END)")
      .mkString(" + ")
    s"""e AS (SELECT vec_id, embedding FROM embeddings),
       |xq AS (SELECT vec_id, list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1048576.0) AS BIGINT)) AS q FROM e),
       |codes AS (SELECT vec_id, CAST($bitSum AS BIGINT) AS code FROM xq)""".stripMargin
  }

  /** Adaptive-width CTE chain: 40-bit codes (the [[bitsFor]] ceiling)
    * masked down to `w = min(40, max(8, bitlen(max(1, n/targetBucket) − 1)))`
    * bits computed from `count(*)` — the exact integer recipe of
    * [[bitsFor]], so the oracle derives the SAME width from the SAME
    * corpus the Spark side counted (the df-cap pattern). Bit h of a
    * SimHash code depends only on seed h, so the low-w bits of the
    * 40-bit code ARE the w-bit code, and masking ≡ rebuilding at w.
    * Emits CTEs `e/xq/codes/w/codesw(vec_id, code)` + `probes` at
    * Hamming≤1 (mask list filtered to m < 2^w).
    */
  private[operators] def adaptiveCodesSql(targetBucket: Long = 16L): String = {
    val masks40 = (Seq(0L) ++ (0 until 40).map(1L << _)).mkString("[", ", ", "]")
    s"""${codesSql(40)},
       |w AS (
       | SELECT least(40, greatest(8,
       |  length(bin(greatest(1, count(*) // $targetBucket) - 1)))) AS w
       | FROM e),
       |codesw AS (
       | SELECT vec_id, code % (CAST(1 AS BIGINT) << (SELECT w FROM w)) AS code
       | FROM codes),
       |probes AS (
       | SELECT vec_id, xor(code, m) AS probe
       | FROM codesw, (SELECT unnest($masks40) AS m) t
       | WHERE m < (CAST(1 AS BIGINT) << (SELECT w FROM w)))""".stripMargin
  }

  def embedOracleSql(bits: Int = DefaultEmbedBits, tauMilli: Int = 950): String = {
    val masks = (Seq(0L) ++ (0 until bits).map(1L << _)).mkString("[", ", ", "]")
    val tau = tauMilli / 1000.0
    s"""WITH ${codesSql(bits)},
       |probes AS (SELECT vec_id, xor(code, unnest($masks)) AS probe FROM codes),
       |cand AS (SELECT DISTINCT a.vec_id AS va, b.vec_id AS vb
       | FROM probes a JOIN codes b ON a.probe = b.code AND a.vec_id < b.vec_id),
       |p AS (SELECT c.va, c.vb,
       | round(list_sum(list_transform(list_zip(x.embedding, y.embedding), z -> CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE)))
       |  / (sqrt(list_sum(list_transform(x.embedding, v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE))))
       |     * sqrt(list_sum(list_transform(y.embedding, v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE))))), 6) AS c
       | FROM cand c JOIN e x ON c.va = x.vec_id JOIN e y ON c.vb = y.vec_id)
       |SELECT (SELECT count(*) FROM e) AS total_vecs,
       | (SELECT count(*) FROM p WHERE c >= $tau) AS dup_pairs""".stripMargin
  }

  /** DuckDB oracle for the ADAPTIVE-width [[embedNearDupStatsAuto]]:
    * identical bucketed algorithm with the width derived from count(*).
    */
  def embedAutoOracleSql(tauMilli: Int = 950, targetBucket: Long = 16L): String = {
    val tau = tauMilli / 1000.0
    s"""WITH ${adaptiveCodesSql(targetBucket)},
       |cand AS (SELECT DISTINCT a.vec_id AS va, b.vec_id AS vb
       | FROM probes a JOIN codesw b ON a.probe = b.code AND a.vec_id < b.vec_id),
       |p AS (SELECT c.va, c.vb,
       | round(list_sum(list_transform(list_zip(x.embedding, y.embedding), z -> CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE)))
       |  / (sqrt(list_sum(list_transform(x.embedding, v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE))))
       |     * sqrt(list_sum(list_transform(y.embedding, v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE))))), 6) AS c
       | FROM cand c JOIN e x ON c.va = x.vec_id JOIN e y ON c.vb = y.vec_id)
       |SELECT (SELECT count(*) FROM e) AS total_vecs,
       | (SELECT count(*) FROM p WHERE c >= $tau) AS dup_pairs""".stripMargin
  }

  /** SimHash bucket-occupancy histogram at the ADAPTIVE width — the
    * capacity meter behind every bucketed ANN consumer: per occupancy
    * band (1, 2–4, 5–8, 9–16, 17+), how many buckets and vectors sit
    * there and the exact candidate work Σ C(occ, 2) they generate. The
    * readout that says whether [[bitsFor]]'s [8, 32) occupancy target
    * actually holds on THIS corpus's code distribution (SimHash buckets
    * are not uniform — clustered embeddings pile up), and what the
    * worst bucket costs. One code pass + a buckets-sized rollup.
    */
  def bucketOccupancy(
      s: SparkSession, dir: String, targetBucket: Long = 16L): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    val bits = bitsFor(emb.count(), targetBucket)
    val occ = emb
      .select(simhashCode(col("embedding"), bits).as("code"))
      .groupBy("code").agg(count(lit(1)).as("occ"))
    occ
      .select(
        expr("""CASE WHEN occ = 1 THEN '1' WHEN occ <= 4 THEN '2-4'
                WHEN occ <= 8 THEN '5-8' WHEN occ <= 16 THEN '9-16'
                ELSE '17+' END""").as("occupancy_band"),
        col("occ"))
      .groupBy("occupancy_band")
      .agg(
        count(lit(1)).as("buckets"),
        sum("occ").as("vectors"),
        max("occ").as("max_occupancy"),
        sum(expr("(occ * (occ - 1)) div 2")).as("candidate_pairs"))
      .orderBy("occupancy_band")
  }

  def bucketOccupancyOracleSql(targetBucket: Long = 16L): String =
    s"""WITH ${adaptiveCodesSql(targetBucket)},
       |occ AS (SELECT code, count(*) AS occ FROM codesw GROUP BY code),
       |b AS (
       | SELECT CASE WHEN occ = 1 THEN '1' WHEN occ <= 4 THEN '2-4'
       |  WHEN occ <= 8 THEN '5-8' WHEN occ <= 16 THEN '9-16'
       |  ELSE '17+' END AS occupancy_band, occ
       | FROM occ)
       |SELECT occupancy_band, count(*) AS buckets,
       | CAST(sum(occ) AS BIGINT) AS vectors,
       | CAST(max(occ) AS BIGINT) AS max_occupancy,
       | CAST(sum((occ * (occ - 1)) // 2) AS BIGINT) AS candidate_pairs
       |FROM b GROUP BY 1 ORDER BY occupancy_band""".stripMargin

  /** Approximate k-NN GRAPH: the top-k cosine neighbors of EVERY vector
    * (not just a query set) from its SimHash bucket neighborhood — the
    * primitive semantic dedup and cluster-balanced sampling build on
    * (every vector needs its neighbors before you can prune or
    * rebalance a corpus). Candidates are DIRECTED bucket pairs (each
    * vector probes its own Hamming≤1 neighborhood), so every vector
    * with bucket-mates gets ranked neighbors; the exact-cosine re-rank
    * flows through the bounded top-k Aggregator (partial agg before the
    * q_id shuffle).
    *
    * Scale: candidate work is Σ bucket-occupancy² — held flat by
    * [[bitsFor]] growing the code width ~log₂(N); embeddings attach by
    * id join AFTER candidate generation, so the candidate shuffle
    * carries (id, id) pairs, never vectors. The oracle runs the
    * IDENTICAL bucketed algorithm from shared constants.
    */
  def knnGraph(
      s: SparkSession,
      dir: String,
      k: Int = 3,
      bits: Int = DefaultEmbedBits): DataFrame =
    knnGraphOf(s, Tables.embeddings(s, dir), k, bits)

  /** [[knnGraph]] over an explicit embeddings frame — the seam the
    * planted-mislabel spec injects a synthetic corpus through.
    */
  private[graft] def knnGraphOf(
      s: SparkSession,
      emb: DataFrame,
      k: Int,
      bits: Int): DataFrame = {
    val coded = emb.select(col("vec_id"), simhashCode(col("embedding"), bits).as("code"))
    val masks: Seq[Long] = Seq(0L) ++ (0 until bits).map(1L << _)
    val probes = coded.select(col("vec_id"),
      explode(array(masks.map(m => col("code").bitwiseXOR(lit(m))): _*)).as("probe"))
    val cand = probes.as("x")
      .join(coded.as("y"),
        col("x.probe") === col("y.code") && col("x.vec_id") =!= col("y.vec_id"))
      .select(col("x.vec_id").as("q_id"), col("y.vec_id").as("c_id"))
      .distinct()
    val scored = cand
      .join(emb.select(col("vec_id").as("q_id"), col("embedding").as("qv")), "q_id")
      .join(emb.select(col("vec_id").as("c_id"), col("embedding").as("cv")), "c_id")
      .select(col("q_id"), col("c_id"), cosine(col("qv"), col("cv")).as("cosine_r6"))
    rankTopK(s, scored, k)
  }

  /** Shared oracle chain for the knn-graph family: codes → Hamming≤1
    * probes → directed candidates → exact cosine → per-query rank, as the
    * `r` CTE. Both [[knnGraphOracleSql]] and the label-agreement audit
    * select from it.
    */
  private def knnChainSql(bits: Int): String = {
    val masks = (Seq(0L) ++ (0 until bits).map(1L << _)).mkString("[", ", ", "]")
    s"""WITH ${codesSql(bits)},
       |probes AS (SELECT vec_id, xor(code, unnest($masks)) AS probe FROM codes),
       |cand AS (SELECT DISTINCT a.vec_id AS q_id, b.vec_id AS c_id
       | FROM probes a JOIN codes b ON a.probe = b.code AND a.vec_id <> b.vec_id),
       |p AS (SELECT c.q_id, c.c_id,
       | round(list_sum(list_transform(list_zip(x.embedding, y.embedding), z -> CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE)))
       |  / (sqrt(list_sum(list_transform(x.embedding, v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE))))
       |     * sqrt(list_sum(list_transform(y.embedding, v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE))))), 6) AS cosine_r6
       | FROM cand c JOIN e x ON c.q_id = x.vec_id JOIN e y ON c.c_id = y.vec_id),
       |r AS (SELECT q_id, c_id, cosine_r6,
       | CAST(row_number() OVER (PARTITION BY q_id ORDER BY cosine_r6 DESC, c_id) AS BIGINT) AS rank
       | FROM p)""".stripMargin
  }

  def knnGraphOracleSql(k: Int = 3, bits: Int = DefaultEmbedBits): String =
    s"""${knnChainSql(bits)}
       |SELECT q_id, c_id, rank, cosine_r6 FROM r WHERE rank <= $k
       |ORDER BY q_id, rank""".stripMargin

  /** The [[knnChainSql]] body over the ADAPTIVE-width code CTEs —
    * directed candidates, exact cosine, per-query rank as `r`.
    */
  private def knnChainAutoSql(targetBucket: Long = 16L): String =
    s"""WITH ${adaptiveCodesSql(targetBucket)},
       |cand AS (SELECT DISTINCT a.vec_id AS q_id, b.vec_id AS c_id
       | FROM probes a JOIN codesw b ON a.probe = b.code AND a.vec_id <> b.vec_id),
       |p AS (SELECT c.q_id, c.c_id,
       | round(list_sum(list_transform(list_zip(x.embedding, y.embedding), z -> CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE)))
       |  / (sqrt(list_sum(list_transform(x.embedding, v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE))))
       |     * sqrt(list_sum(list_transform(y.embedding, v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE))))), 6) AS cosine_r6
       | FROM cand c JOIN e x ON c.q_id = x.vec_id JOIN e y ON c.c_id = y.vec_id),
       |r AS (SELECT q_id, c_id, cosine_r6,
       | CAST(row_number() OVER (PARTITION BY q_id ORDER BY cosine_r6 DESC, c_id) AS BIGINT) AS rank
       | FROM p)""".stripMargin

  /** [[knnGraph]] with the code width sized from the corpus — the
    * SimHash branch of the registered auto-select
    * ([[LloydOps.knnGraphSelect]] since r15; the adaptive width bounds
    * only the uniform part of the occupancy, so clustered corpora ride
    * the IVF branch): a fixed width is Σ occupancy² = N²/2^bits
    * candidate pairs (the sf1 rehearsal measured the 10-bit graph going
    * superlinear, 1.0 s → 36 s, exponent ~1.55), while ~log₂(N/16) bits
    * holds bucket occupancy — and so candidate volume per vector — flat.
    * One scalar count() action sizes the width; the oracle derives the
    * identical width from count(*) ([[adaptiveCodesSql]]).
    */
  def knnGraphAuto(
      s: SparkSession, dir: String,
      k: Int = 3, targetBucket: Long = 16L): DataFrame = {
    val n = Tables.embeddings(s, dir).count()
    knnGraph(s, dir, k, bitsFor(n, targetBucket))
  }

  def knnGraphAutoOracleSql(k: Int = 3, targetBucket: Long = 16L): String =
    s"""${knnChainAutoSql(targetBucket)}
       |SELECT q_id, c_id, rank, cosine_r6 FROM r WHERE rank <= $k
       |ORDER BY q_id, rank""".stripMargin

  /** kNN label-agreement audit — the confident-learning-style mislabel
    * detector for an embedding corpus: each vector's milli share of its
    * top-k neighbors (from the [[knnGraph]] bucketed pass) that carry
    * the SAME label, rolled up per label as mean agreement and the
    * count of suspects below 500 milli (neighborhood majority disagrees
    * with the stored label). A label whose mean agreement is low is
    * noisy as a CLASS; individual suspects are the rows a relabeling
    * queue reads. Vectors whose Hamming≤1 neighborhood is empty have no
    * evidence either way and drop out (same coverage contract as the
    * knn-graph itself).
    *
    * Scale shape: everything downstream of the knn-graph is id-keyed
    * joins against the (vec_id, label) projection and two bounded
    * aggregates — |labels| output rows regardless of corpus size.
    */
  def knnLabelAgreement(
      s: SparkSession,
      dir: String,
      k: Int = 3): DataFrame =
    labelAgreementOf(s, Tables.embeddings(s, dir), k)

  /** [[knnLabelAgreement]] over an explicit embeddings frame (needs
    * vec_id, label, embedding) — the planted-mislabel test seam.
    */
  private[graft] def labelAgreementOf(
      s: SparkSession,
      emb: DataFrame,
      k: Int): DataFrame =
    labelAgreementRollup(knnGraphOf(s, emb, k, bitsFor(emb.count())), emb)

  /** The label-agreement rollup over ANY (q_id, c_id)-ranked neighbor
    * graph — shared by the SimHash and IVF agreement audits so both
    * paths hash the identical mislabel contract.
    */
  private[graft] def labelAgreementRollup(
      graph: DataFrame, emb: DataFrame): DataFrame = {
    val labels = emb
      .select(col("vec_id"), col("label").cast("long").as("label"))
    val perVec = graph
      .join(labels.select(col("vec_id").as("q_id"), col("label").as("q_lab")),
        "q_id")
      .join(labels.select(col("vec_id").as("c_id"), col("label").as("c_lab")),
        "c_id")
      .groupBy("q_id", "q_lab")
      .agg(
        count(lit(1)).as("nbrs"),
        sum((col("q_lab") === col("c_lab")).cast("long")).as("agree"))
      .select(col("q_id"), col("q_lab").as("label"),
        expr("(1000 * agree) div nbrs").as("agree_milli"))
    perVec.groupBy("label")
      .agg(
        count(lit(1)).as("vectors"),
        expr("sum(agree_milli) div count(*)").as("mean_agree_milli"),
        sum((col("agree_milli") < 500).cast("long")).as("suspects"))
      .orderBy("label")
  }

  def knnLabelAgreementOracleSql(k: Int = 3): String =
    knnChainAutoSql() + labelAgreementTailSql(k)

  /** The agreement-rollup oracle tail over any chain ending in a ranked
    * `r(q_id, c_id, rank)` CTE — the SQL twin of [[labelAgreementRollup]].
    */
  private[graft] def labelAgreementTailSql(k: Int): String =
    s""",
       |lab AS (SELECT vec_id, CAST(label AS BIGINT) AS label FROM embeddings),
       |pv AS (
       | SELECT r.q_id, ql.label,
       |  CAST((1000 * sum(CASE WHEN ql.label = cl.label THEN 1 ELSE 0 END))
       |   // count(*) AS BIGINT) AS agree_milli
       | FROM r JOIN lab ql ON r.q_id = ql.vec_id
       |        JOIN lab cl ON r.c_id = cl.vec_id
       | WHERE r.rank <= $k
       | GROUP BY r.q_id, ql.label)
       |SELECT label, count(*) AS vectors,
       | CAST(sum(agree_milli) // count(*) AS BIGINT) AS mean_agree_milli,
       | CAST(sum(CASE WHEN agree_milli < 500 THEN 1 ELSE 0 END) AS BIGINT)
       |  AS suspects
       |FROM pv GROUP BY label ORDER BY label""".stripMargin

  /** IVF (inverted-file) approximate top-k: a KMeans coarse quantizer
    * assigns every vector to a cell; each query probes only its `nProbe`
    * closest cells and re-ranks exactly within them. The centroid table
    * is k×64 floats — broadcast-size at any corpus scale — and per-query
    * work is ~nProbe/k of brute force. The IVF twin of [[annLshTopK]];
    * pick IVF when the corpus clusters well, LSH when it doesn't.
    */
  def annIvfTopK(
      s: SparkSession,
      dir: String,
      k: Int = 10,
      nQueries: Int = 5,
      nProbe: Int = 3,
      cells: Int = 10): DataFrame = {
    import s.implicits._
    // Quantizer trained on a deterministic 1-in-4 carve, full corpus
    // assigned by the model — the only KMeans shape that exists at
    // 100 TB (see [[KMeansOps.fitOnSample]]).
    val (model, preds) = KMeansOps.fitOnSample(s, dir, k = cells)
    val assignments = preds.select(col("vec_id"), col("cluster"))
    val emb = Tables.embeddings(s, dir).join(assignments, "vec_id")

    // k x 64 floats from the fitted model: legitimately driver-side tiny.
    val centroids = model.clusterCenters.zipWithIndex.toSeq
      .map { case (c, i) => (i, c.toArray.map(_.toFloat).toSeq) }
      .toDF("cluster", "centroid")

    val probed = emb.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
      .crossJoin(broadcast(centroids))
      // cosine to the centroid; rounded ranking + cluster-id tie-break
      .withColumn("cell_score", cosine(col("q_vec"), col("centroid")))
      .withColumn("cell_rank",
        row_number().over(
          Window.partitionBy("q_id").orderBy(desc("cell_score"), col("cluster")))
          .cast("long"))
      .filter(col("cell_rank") <= nProbe)
      .select(col("q_id"), col("q_vec"), col("cluster"))

    val scored = probed
      .join(emb.select(col("vec_id").as("c_id"), col("embedding").as("c_vec"),
        col("cluster")), "cluster")
      .filter(col("q_id") =!= col("c_id"))
      .select(col("q_id"), col("c_id"),
        cosine(col("q_vec"), col("c_vec")).as("cosine_r6"))
      .distinct()
    rankTopK(s, scored, k)
  }

  /** SimHash bucket code (`bits` sign bits) for an embedding column — the
    * native [[graft.functions.VecSimHash]] expression.
    *
    * The projection is computed entirely in fixed-point integers: each
    * float component is quantized to `floor(x * 2^20)` (float→double is
    * exact, floor is deterministic), multiplied by a deterministic integer
    * hyperplane weight (`((h*1000003 + d + 1) * 2654435761) % 2000003 -
    * 1000001`, a Knuth multiplicative hash with all operands positive
    * before the final subtraction), and summed as BIGINTs — an
    * order-independent, bit-exact sign in any engine, so the DuckDB
    * oracle mirrors the bucketing verbatim instead of trusting float
    * summation order. One fused JIT loop per row replaces the previous
    * `bits` interpreted `zip_with`+`aggregate` passes that made
    * `dedup_embed` the second-slowest query of the r4 bench.
    */
  def simhashCode(vec: Column, bits: Int): Column =
    graft.functions.GraftFunctions.vec_simhash(vec, bits)

  /** Corpus-scaled code width: ~log2(n / targetBucket) bits, floored at 8
    * and capped at 40, so expected bucket occupancy stays ~targetBucket as
    * the corpus grows — the knob that keeps bucketed candidate volume
    * linear in N instead of quadratic (a fixed width is N²/2^bits).
    */
  def bitsFor(n: Long, targetBucket: Long = 16L): Int = {
    val buckets = math.max(1L, n / math.max(1L, targetBucket))
    math.min(40, math.max(8, 64 - java.lang.Long.numberOfLeadingZeros(buckets - 1)))
  }

  /** LSH-bucketed approximate top-k: candidates share the query's SimHash
    * bucket up to Hamming distance 2 (multi-probe), then exact cosine
    * re-rank. Returns the same schema as [[annTopK]]. With 8 bits the
    * probes cover 37/256 of code space, so candidate work is ~1/7th of
    * brute force while staying recall-heavy on clustered data; the
    * bits/probe-radius pair is the recall-vs-cost dial at scale.
    */
  /** [[annLshTopK]] with the code width sized from the corpus — the
    * 100 TB entry point, same shape as [[embedNearDupStatsAuto]]: a fixed
    * width is N²/2^bits candidate pairs, ~log2(N) bits holds bucket
    * occupancy (and so per-query candidate work) flat as the corpus grows.
    */
  def annLshTopKAuto(
      s: SparkSession,
      dir: String,
      k: Int = 10,
      nQueries: Int = 5,
      targetBucket: Long = 16L): DataFrame = {
    val n = Tables.embeddings(s, dir).count()
    annLshTopK(s, dir, k, nQueries, bitsFor(n, targetBucket))
  }

  /** Registered-query entry: [[annLshTopK]] at the same fixed width the
    * `dedup_embed` oracle uses, so [[annLshOracleSql]] can be generated
    * from the identical constants.
    */
  def annLshTopKRegistered(s: SparkSession, dir: String): DataFrame =
    annLshTopK(s, dir, bits = DefaultEmbedBits)

  /** DuckDB oracle for [[annLshTopKRegistered]]: identical bucketed
    * algorithm — fixed-point codes, the full Hamming<=2 probe set, exact
    * rounded-cosine re-rank with id tie-breaks.
    */
  def annLshOracleSql(
      bits: Int = DefaultEmbedBits,
      k: Int = 10,
      nQueries: Int = 5): String = {
    val masks = (Seq(0L) ++
      (0 until bits).map(1L << _) ++
      (for { i <- 0 until bits; j <- i + 1 until bits }
        yield (1L << i) | (1L << j))).mkString("[", ", ", "]")
    s"""WITH ${codesSql(bits)},
       |q AS (SELECT vec_id AS q_id, code FROM codes WHERE vec_id < $nQueries),
       |probes AS (SELECT q_id, xor(code, unnest($masks)) AS probe FROM q),
       |cand AS (SELECT DISTINCT a.q_id, b.vec_id AS c_id
       | FROM probes a JOIN codes b ON a.probe = b.code AND a.q_id <> b.vec_id),
       |p AS (SELECT c.q_id, c.c_id,
       | round(list_sum(list_transform(list_zip(x.embedding, y.embedding), z -> CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE)))
       |  / (sqrt(list_sum(list_transform(x.embedding, v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE))))
       |     * sqrt(list_sum(list_transform(y.embedding, v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE))))), 6) AS cosine_r6
       | FROM cand c JOIN e x ON c.q_id = x.vec_id JOIN e y ON c.c_id = y.vec_id),
       |r AS (SELECT q_id, c_id, cosine_r6,
       | CAST(row_number() OVER (PARTITION BY q_id ORDER BY cosine_r6 DESC, c_id) AS BIGINT) AS rank
       | FROM p)
       |SELECT q_id, c_id, rank, cosine_r6 FROM r WHERE rank <= $k
       |ORDER BY q_id, rank""".stripMargin
  }

  /** The Hamming<=2 multi-probe mask set shared by the LSH paths. */
  private[operators] def probeMasks(bits: Int): Seq[Long] =
    Seq(0L) ++
      (0 until bits).map(1L << _) ++
      (for { i <- 0 until bits; j <- i + 1 until bits }
        yield (1L << i) | (1L << j))

  def annLshTopK(
      s: SparkSession,
      dir: String,
      k: Int = 10,
      nQueries: Int = 5,
      bits: Int = 8): DataFrame = {
    val emb = Tables.embeddings(s, dir)
      .select(col("vec_id"), col("embedding"),
        simhashCode(col("embedding"), bits).as("code"))

    // Probe masks: the query's own code plus all Hamming-1 and Hamming-2
    // neighbor codes (fixed literal mask set, built once).
    val masks: Seq[Long] = probeMasks(bits)
    val probes = emb.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"),
        explode(array(masks.map(m => col("code").bitwiseXOR(lit(m))): _*)).as("probe"))

    // Explicitly broadcast the probe side: it is nQueries x |masks| rows by
    // construction (bounded, ~1 MB), but post-explode the planner has no
    // usable size estimate and can drift to a shuffle join on `c_code` —
    // which shuffles the whole corpus for a 185-row probe set. Pinning the
    // broadcast keeps the corpus side scan-local at any N.
    val scored = broadcast(probes)
      .join(emb.select(col("vec_id").as("c_id"), col("embedding").as("c_vec"),
        col("code").as("c_code")), col("probe") === col("c_code"))
      .filter(col("q_id") =!= col("c_id"))
      .select(col("q_id"), col("c_id"),
        cosine(col("q_vec"), col("c_vec")).as("cosine_r6"))
      .distinct()
    rankTopK(s, scored, k)
  }

  // -------------------------------------------------------------------
  // Semantic decontamination
  // -------------------------------------------------------------------

  /** Eval-cohort size for [[decontaminationSemantic]] — a FIXED carve
    * (the `decontamination_ngram` bounded-cohort precedent), so the
    * audit's per-row work is constant at any corpus size.
    */
  val SemanticEvalN = 64

  /** Flag threshold in milli-cosine for the semantic decontamination
    * audit. 450 sits under this corpus's max eval-vs-corpus cosine at
    * gate scale (sf0.01 per-label maxima run 362-493, so BOTH branches
    * of the flag are exercised by the oracle compare); a production run
    * on real embeddings would raise it to ~950.
    */
  val SemanticTauMilli = 450

  /** The per-row max cosine of `embedding` against the broadcast eval
    * cohort, as a declarative `aggregate`/`zip_with` fold (documented
    * bit-identical to [[dot]]'s accumulation order, and to DuckDB's
    * `list_sum(list_transform(...))` — the same equivalence every gated
    * cosine query relies on). The eval vectors ride a collected literal
    * (the frozenCentroids precedent: SemanticEvalN x 64 floats, constant
    * size), so the scan needs NO join and no shuffle before the label
    * rollup.
    */
  private[graft] def maxEvalCosine(evalVecs: Seq[Seq[Float]]): Column = {
    val evalLit = typedlit(evalVecs)
    array_max(transform(evalLit, e => cosine(col("embedding"), e)))
  }

  /** The eval cohort's vectors, collected in vec_id order (bounded:
    * SemanticEvalN rows).
    */
  private[graft] def evalCohort(emb: DataFrame, evalN: Int): Seq[Seq[Float]] =
    emb.filter(col("vec_id") < evalN)
      .orderBy("vec_id")
      .select("embedding")
      .collect()
      .map(_.getSeq[Float](0))
      .toSeq

  /** Seed count for [[kCenterSeeds]] — fixed so the oracle unrolls. */
  val KCenterK = 8

  /** Greedy k-center (Gonzalez 1985) diversity seeds — the
    * farthest-point selection a curation pipeline uses to pick maximally
    * SPREAD exemplars (prompt-seed selection, eval-panel picking,
    * coverage anchors): start from the lowest vec_id, then k−1 times
    * take the vector FARTHEST (min cosine-distance in milli, 1000 −
    * max-cos) from everything selected so far, ties to the lowest id.
    * The classic 2-approximation of the k-center cover; the emitted
    * `dist_milli` sequence is non-increasing and its last entry is
    * (half of) the corpus covering-radius bound.
    *
    * Scale shape: k − 1 scans, each a no-join pass against ≤ k literal
    * seed vectors ([[maxEvalCosine]]'s shape) reduced by an
    * associative max(struct) — driver state is the k seed rows (the
    * BpeOps limit(1)-per-round precedent). k is a constant: 8 scans at
    * any corpus size, each embarrassingly parallel.
    */
  def kCenterSeeds(
      s: SparkSession, dir: String, k: Int = KCenterK): DataFrame =
    kCenterSeedsOf(s, Tables.embeddings(s, dir), k)

  /** [[kCenterSeeds]] over an arbitrary (vec_id, embedding) frame — the
    * planted-geometry spec seam.
    */
  private[graft] def kCenterSeedsOf(
      s: SparkSession, embIn: DataFrame, k: Int): DataFrame = {
    require(k >= 2)
    val emb = embIn.select(col("vec_id"), col("embedding"))
    val first = emb.orderBy("vec_id").limit(1).collect()(0)
    var seeds = Vector[(Long, Seq[Float])](
      (first.getLong(0), first.getSeq[Float](1)))
    var out = Vector[(Long, Long, Long)]((1L, seeds.head._1, 0L))
    for (i <- 2 to k) {
      // argmax(dist, then min id) as one associative max(struct) —
      // partial-aggregated, never a global sort.
      val best = emb
        .filter(!col("vec_id").isInCollection(seeds.map(_._1)))
        .withColumn("cosmax", maxEvalCosine(seeds.map(_._2)))
        .withColumn("dist_milli",
          expr("1000 - cast(round(cosmax * 1000) as bigint)"))
        .agg(max(struct(col("dist_milli"), (-col("vec_id")).as("nid"),
          col("embedding"))).as("m"))
        .select(expr("m.dist_milli"), expr("-m.nid"), expr("m.embedding"))
        .collect()(0)
      val (d, id, v) = (best.getLong(0), best.getLong(1), best.getSeq[Float](2))
      seeds :+= ((id, v))
      out :+= ((i.toLong, id, d))
    }
    import s.implicits._
    out.toDF("seed_idx", "vec_id", "dist_milli").orderBy("seed_idx")
  }

  /** DuckDB oracle for [[kCenterSeeds]]: the k−1 rounds unrolled, each
    * scoring against the union of prior pick CTEs with the identical
    * rounded cosine chain.
    */
  def kCenterOracleSql(k: Int = KCenterK): String = {
    def cos(e: String, sv: String): String =
      s"""round(
         | list_sum(list_transform(list_zip($e, $sv),
         |  x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
         | / (sqrt(list_sum(list_transform($e, a -> CAST(a AS DOUBLE) * CAST(a AS DOUBLE))))
         |    * sqrt(list_sum(list_transform($sv, a -> CAST(a AS DOUBLE) * CAST(a AS DOUBLE))))), 6)""".stripMargin
    val sb = new StringBuilder
    sb.append(
      """WITH p1 AS (
        | SELECT vec_id, embedding, CAST(0 AS BIGINT) AS dist_milli
        | FROM embeddings ORDER BY vec_id LIMIT 1)""".stripMargin)
    for (i <- 2 to k) {
      val prior = (1 until i).map(j => s"SELECT vec_id, embedding FROM p$j")
        .mkString(" UNION ALL ")
      sb.append(s""",
        |p$i AS (
        | SELECT e.vec_id, e.embedding,
        |  CAST(1000 - round(max(${cos("e.embedding", "sd.embedding")}) * 1000)
        |   AS BIGINT) AS dist_milli
        | FROM embeddings e CROSS JOIN ($prior) sd
        | WHERE e.vec_id NOT IN (${(1 until i).map(j => s"SELECT vec_id FROM p$j").mkString(" UNION ALL ")})
        | GROUP BY e.vec_id, e.embedding
        | ORDER BY dist_milli DESC, e.vec_id LIMIT 1)""".stripMargin)
    }
    sb.append("\n")
    sb.append((1 to k).map(i =>
      s"SELECT CAST($i AS BIGINT) AS seed_idx, vec_id, dist_milli FROM p$i")
      .mkString("", "\nUNION ALL\n", "\nORDER BY seed_idx"))
    sb.toString
  }

  /** Semantic (embedding-space) decontamination audit: for every corpus
    * vector outside the fixed eval carve, the max cosine against the eval
    * cohort; per-label counts of vectors above the flag threshold — the
    * similarity-based complement of the lexical `decontamination_*`
    * family (an eval item paraphrased or re-tokenized never collides on
    * n-grams but still lands next to its source in embedding space).
    *
    * Scale shape: the eval set is a constant-size broadcast literal, so
    * the flag is ONE scan with per-row bounded work (evalN folds), no
    * join, no shuffle until the label rollup (bounded label domain,
    * map-side combined). Linear in the corpus with a constant eval set —
    * the shape that survives 100 TB.
    */
  def decontaminationSemantic(
      s: SparkSession, dir: String,
      evalN: Int = SemanticEvalN, tauMilli: Int = SemanticTauMilli): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    val evalVecs = evalCohort(emb, evalN)
    semanticRollup(
      semanticFlags(emb.filter(col("vec_id") >= evalN), evalVecs, tauMilli))
  }

  /** The per-label rollup over a flags frame — shared with the streaming
    * replay gate so the snapshot readout is the batch rollup verbatim.
    */
  private[graft] def semanticRollup(flags: DataFrame): DataFrame =
    flags
      .groupBy("label")
      .agg(
        count(lit(1)).as("n_corpus"),
        sum(col("flagged")).as("n_flagged"),
        max(col("max_cos_milli")).as("max_cos_milli"))
      .withColumn("flagged_ppm", expr("(n_flagged * 1000000) div n_corpus"))
      .select("label", "n_corpus", "n_flagged", "flagged_ppm", "max_cos_milli")
      .orderBy("label")

  /** The shared per-row projection (corpus frame -> flag columns): also
    * run verbatim by the streaming twin, so streamed flags are pinned
    * bit-equal to the batch pass.
    */
  private[graft] def semanticFlags(
      corpus: DataFrame, evalVecs: Seq[Seq[Float]],
      tauMilli: Int = SemanticTauMilli): DataFrame =
    corpus
      .withColumn("max_cos", maxEvalCosine(evalVecs))
      .withColumn("max_cos_milli",
        expr("CAST(round(max_cos * 1000) AS BIGINT)"))
      .withColumn("flagged",
        (col("max_cos_milli") >= tauMilli).cast("long"))

  /** DuckDB oracle for [[decontaminationSemantic]]: the eval cohort is
    * recomputed from the same table (vec_id < evalN), the max-cosine fold
    * and rollup mirror the Spark expressions.
    */
  def decontaminationSemanticOracleSql(
      evalN: Int = SemanticEvalN, tauMilli: Int = SemanticTauMilli): String =
    s"""WITH ev AS (
       | SELECT vec_id AS e_id, embedding AS ev FROM embeddings WHERE vec_id < $evalN),
       |c AS (SELECT vec_id, label, embedding AS cv FROM embeddings WHERE vec_id >= $evalN),
       |m AS (
       | SELECT c.vec_id, c.label,
       |  CAST(round(max(
       |   round(
       |    list_sum(list_transform(list_zip(cv, ev), x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
       |    / (sqrt(list_sum(list_transform(cv, a -> CAST(a AS DOUBLE) * CAST(a AS DOUBLE))))
       |       * sqrt(list_sum(list_transform(ev, a -> CAST(a AS DOUBLE) * CAST(a AS DOUBLE))))), 6)
       |  ) * 1000) AS BIGINT) AS max_cos_milli
       | FROM c, ev GROUP BY c.vec_id, c.label)
       |SELECT label, count(*) AS n_corpus,
       | CAST(sum(CASE WHEN max_cos_milli >= $tauMilli THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged,
       | CAST((sum(CASE WHEN max_cos_milli >= $tauMilli THEN 1 ELSE 0 END) * 1000000)
       |   // count(*) AS BIGINT) AS flagged_ppm,
       | max(max_cos_milli) AS max_cos_milli
       |FROM m GROUP BY label ORDER BY label""".stripMargin
}
