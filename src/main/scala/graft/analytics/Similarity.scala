package graft.analytics

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import Tables._

/**
 * Similarity-search operators over the `embeddings` table (64-dim float
 * vectors + a cluster `label`): brute-force cosine top-k as the exactness
 * baseline, an LSH-bucketed near-neighbor pass as the scale path, and an
 * IVF-style centroid assignment. Vector arithmetic is integer-exact
 * (quantized, see [[Tables.QuantScale]]) so results hash-match the DuckDB
 * oracle; all folds are built-in higher-order functions — no UDFs.
 *
 * Scale notes (100 TB): s01 is O(|Q|·N) with the query side broadcast —
 * correct for small query sets, the baseline to beat. s02 replaces the
 * all-pairs crossJoin with a shuffle on an 8-bit sign-LSH bucket key: each
 * bucket joins only within itself (E[pairs] ≈ N²/256 for random signs, far
 * less for clustered data), and the bucket key is a pure per-row expr so
 * the only wide op is one hash-partitioned self-join. s03 broadcasts 10
 * centroids against N rows — the classic IVF probe shape.
 */
object Similarity {

  private[analytics] def withQuant(dir: String, s: org.apache.spark.sql.SparkSession) =
    embs(s, dir).withColumn("qv", expr(quantizeExpr("embedding")))
      .withColumn("norm2", expr(dotExpr("qv", "qv")))

  /** DuckDB CTE twin of [[withQuant]]. */
  private[analytics] val quantCte =
    s"""qe AS (SELECT vec_id, label, ${quantizeSql("embedding")} AS qv FROM embeddings),
    qn AS (SELECT vec_id, label, qv, ${dotSql("qv", "qv")} AS norm2 FROM qe)"""

  /** `name(key, pos, v)`: one row per component of `src`'s 64-dim `qv`. */
  private[analytics] def vecComponentsCte(name: String, key: String, src: String) =
    s"""$name AS (SELECT $key, i AS pos, qv[i] AS v
           FROM $src CROSS JOIN generate_series(1, 64) AS g(i))"""

  /** A centroid component: the floored mean of a group's `v`, int64 like
    * every quantized vector. */
  private[analytics] val meanCvSql = "CAST(floor(CAST(SUM(v) AS DOUBLE) / COUNT(*)) AS BIGINT) AS cv"

  /** `ex`→`cd`→`ce(outKey, vec)`: the centroid of `src`'s quantized
    * vectors per `key` (by default the label centroids over [[quantCte]]'s
    * `qn`). `sfx` renames the three CTEs for a second centroid set. */
  private[analytics] def centroidCte(key: String = "label", src: String = "qn",
      outKey: String = "c_label", vec: String = "cqv", sfx: String = "") =
    s"""${vecComponentsCte(s"ex$sfx", key, src)},
    cd$sfx AS (SELECT $key, pos, $meanCvSql
           FROM ex$sfx GROUP BY $key, pos),
    ce$sfx AS (SELECT ${if (outKey == key) key else s"$key AS $outKey"}, list(cv ORDER BY pos) AS $vec FROM cd$sfx GROUP BY $key)"""

  private[analytics] val simSql =
    s"CAST(${dotSql("a.qv", "b.qv")} AS DOUBLE) / (sqrt(CAST(a.norm2 AS DOUBLE)) * sqrt(CAST(b.norm2 AS DOUBLE)))"

  // ---------------------------------------------------------------- s01
  // Brute-force cosine top-k: 8 query vectors (broadcast) against all
  // vectors; rank per query with deterministic tie-breaks.
  private val s01 = QueryDef(
    "s01_cosine_topk",
    (s, dir) => {
      val all = withQuant(dir, s)
      val q = all.filter(col("vec_id") < 8)
        .select(col("vec_id").as("q_id"), col("qv").as("q_qv"), col("norm2").as("q_norm2"))
      all.select(col("vec_id").as("c_id"), col("qv").as("c_qv"), col("norm2").as("c_norm2"))
        .join(broadcast(q), col("c_id") =!= col("q_id"))
        .withColumn("sim", cosine("q_qv", "q_norm2", "c_qv", "c_norm2"))
        .withColumn("rnk",
          row_number().over(org.apache.spark.sql.expressions.Window
            .partitionBy(col("q_id")).orderBy(col("sim").desc, col("c_id"))).cast("long"))
        .filter(col("rnk") <= 5)
        .select(col("q_id"), col("rnk"), col("c_id"), round(col("sim"), 6).as("sim"))
        .orderBy(col("q_id"), col("rnk"))
    },
    Some(s"""WITH $quantCte
    SELECT q_id, rnk, c_id, sim FROM (
      SELECT a.vec_id AS q_id, b.vec_id AS c_id, round($simSql, 6) AS sim,
        ROW_NUMBER() OVER (PARTITION BY a.vec_id ORDER BY $simSql DESC, b.vec_id) AS rnk
      FROM qn a JOIN qn b ON a.vec_id < 8 AND b.vec_id <> a.vec_id)
    WHERE rnk <= 5 ORDER BY q_id, rnk"""))

  // ---------------------------------------------------------------- s02
  // LSH-bucketed near-dup pairs: 8 sign bits (sum of each 8-dim slice > 0)
  // form a bucket key; only same-bucket pairs are joined and verified with
  // exact cosine. This is the embedding-cosine near-dedup scale path.
  private[analytics] def bucketExprSpark: String =
    (0 until 8).map { j =>
      s"(CASE WHEN aggregate(slice(qv, ${8 * j + 1}, 8), CAST(0 AS BIGINT), (acc, v) -> acc + v) > 0 THEN ${1 << j} ELSE 0 END)"
    }.mkString(" + ")

  private[analytics] def bucketExprDuck: String =
    (0 until 8).map { j =>
      s"(CASE WHEN list_reduce(qv[${8 * j + 1}:${8 * j + 8}], (acc, v) -> acc + v) > 0 THEN ${1 << j} ELSE 0 END)"
    }.mkString(" + ")

  private val s02 = QueryDef(
    "s02_lsh_near_pairs",
    (s, dir) => {
      // materialize the quantized+bucketed vectors once — both self-join
      // sides would otherwise re-run the quantize/norm/bucket pipeline
      val b = withQuant(dir, s).withColumn("bucket", expr(bucketExprSpark))
        .select(col("vec_id"), col("label"), col("qv"), col("norm2"), col("bucket"))
        .cache()
      val l = b.select(col("bucket"), col("vec_id").as("id1"), col("qv").as("qv1"), col("norm2").as("n1"))
      val r = b.select(col("bucket").as("bucket2"), col("vec_id").as("id2"), col("qv").as("qv2"), col("norm2").as("n2"))
      l.join(r, col("bucket") === col("bucket2") && col("id1") < col("id2"))
        .withColumn("sim", cosine("qv1", "n1", "qv2", "n2"))
        .filter(col("sim") >= 0.4)
        .select(col("id1"), col("id2"), round(col("sim"), 6).as("sim"))
        .orderBy(col("id1"), col("id2"))
    },
    Some(s"""WITH $quantCte,
    qb AS (SELECT vec_id, qv, norm2, $bucketExprDuck AS bucket FROM qn)
    SELECT a.vec_id AS id1, b.vec_id AS id2, round($simSql, 6) AS sim
    FROM qb a JOIN qb b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
    WHERE $simSql >= 0.4 ORDER BY id1, id2"""))

  /** Per-label quantized centroids `(c_label, cqv, cnorm2)`: exact integer
    * component sums floored to a quantized mean — shared by s03/s04/s07. */
  private[analytics] def labelCentroids(q: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    q.select(col("label"), posexplode(col("qv")).as(Seq("pos", "v")))
      .groupBy(col("label"), col("pos"))
      .agg(floor(sum(col("v")).cast("double") / count(lit(1))).cast("long").as("cv"))
      .groupBy(col("label"))
      .agg(expr("transform(array_sort(collect_list(struct(pos, cv)), (l, r) -> CASE WHEN l.pos < r.pos THEN -1 WHEN l.pos > r.pos THEN 1 ELSE 0 END), p -> p.cv)").as("cqv"))
      .withColumn("cnorm2", expr(dotExpr("cqv", "cqv")))
      .select(col("label").as("c_label"), col("cqv"), col("cnorm2"))

  /** Nearest-centroid assignment, the one IVF index derivation: every row
    * of `vecs` (`vec_id`, `qv`, `norm2`, …) against each broadcast
    * centroid of `cent` (`c_label`, `cqv`, `cnorm2`; K rows), with its
    * cosine `csim` and rank `crnk` (1 = nearest, ties broken by
    * `c_label`). Every column of `vecs` is kept: `crnk === 1` gives the
    * inverted lists ([[ivfLists]]), `crnk <= nprobe` the probes
    * ([[ivfProbes]]). */
  private[analytics] def ivfAssign(vecs: DataFrame, cent: DataFrame): DataFrame =
    vecs.join(broadcast(cent)) // bounded: one row per centroid
      .withColumn("csim", cosine("qv", "norm2", "cqv", "cnorm2"))
      .withColumn("crnk", row_number().over(org.apache.spark.sql.expressions.Window
        .partitionBy(col("vec_id")).orderBy(col("csim").desc, col("c_label"))))

  /** The inverted lists of an [[ivfAssign]]: each vector in its nearest
    * centroid's list, `(vec_id, qv, norm2, list_label)`. */
  private[analytics] def ivfLists(assigned: DataFrame): DataFrame =
    assigned.filter(col("crnk") === 1)
      .select(col("vec_id"), col("qv"), col("norm2"), col("c_label").as("list_label"))

  /** The anchors' (`vec_id < 8`) probes of an [[ivfAssign]]: one row per
    * anchor and each of its `nprobe` nearest centroids,
    * `(q_id, q_qv, q_norm2, probe_label)`. */
  private[analytics] def ivfProbes(assigned: DataFrame, nprobe: Int): DataFrame =
    assigned.filter(col("vec_id") < 8 && col("crnk") <= nprobe)
      .select(col("vec_id").as("q_id"), col("qv").as("q_qv"),
        col("norm2").as("q_norm2"), col("c_label").as("probe_label"))

  // ---------------------------------------------------------------- s03
  // IVF-style assignment: per-label centroids (exact integer sums, floored
  // to a quantized centroid), broadcast, each vector assigned to its
  // nearest centroid by cosine; output the label×assigned confusion.
  private val s03 = QueryDef(
    "s03_centroid_assign",
    (s, dir) => {
      val q = withQuant(dir, s)
      val cent = labelCentroids(q)
      ivfAssign(q, cent).filter(col("crnk") === 1)
        .groupBy(col("label"), col("c_label"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("label"), col("c_label"))
    },
    Some(s"""WITH $quantCte,
    ${centroidCte(vec = "qv")},
    cn AS (SELECT c_label, qv, ${dotSql("qv", "qv")} AS norm2 FROM ce),
    asg AS (SELECT a.vec_id, a.label, b.c_label,
              ROW_NUMBER() OVER (PARTITION BY a.vec_id ORDER BY $simSql DESC, b.c_label) AS rnk
            FROM qn a CROSS JOIN cn b)
    SELECT label, c_label, COUNT(*) AS n FROM asg WHERE rnk = 1
    GROUP BY label, c_label ORDER BY label, c_label"""))

  // ---------------------------------------------------------------- s04
  // IVF top-k search: assign every vector to its nearest per-label
  // centroid (the inverted lists), route each query to its nearest 2
  // centroids, and scan ONLY those two lists for the top-5 — the ANN
  // scale path where a query touches nprobe/nlist of the corpus instead
  // of all of it. Exactness is traded for recall by construction; the
  // oracle replays the same probe rule, so results still hash-match.
  private val s04 = QueryDef(
    "s04_ivf_topk",
    (s, dir) => {
      val q = withQuant(dir, s)
      val cent = labelCentroids(q)
      // nearest-centroid assignment for every vector → inverted lists
      val assigned = ivfAssign(q, cent)
      val lists = ivfLists(assigned)
      // queries probe their nearest 2 centroids
      val probes = ivfProbes(assigned, 2)
      val winQ = org.apache.spark.sql.expressions.Window
        .partitionBy(col("q_id")).orderBy(col("sim").desc, col("vec_id"))
      lists.join(broadcast(probes),
          col("list_label") === col("probe_label") && col("vec_id") =!= col("q_id"))
        .withColumn("sim", cosine("q_qv", "q_norm2", "qv", "norm2"))
        .withColumn("rnk", row_number().over(winQ).cast("long"))
        .filter(col("rnk") <= 5)
        .select(col("q_id"), col("rnk"), col("vec_id").as("c_id"), round(col("sim"), 6).as("sim"))
        .orderBy(col("q_id"), col("rnk"))
    },
    Some(ivfTopkOracle))

  /** CTE chain `ex…cd…ce…cn…asg…lists…probes` deriving the IVF layout:
    * per-label centroids, nearest-centroid assignment, inverted lists,
    * and the anchors' nearest-2 probe rule — shared by the s04/s12
    * oracle and s16's evaluation side. Expects [[quantCte]] upstream. */
  private[analytics] lazy val ivfProbeCte: String = s"""${centroidCte()},
    cn AS (SELECT c_label, cqv, ${dotSql("cqv", "cqv")} AS cnorm2 FROM ce),
    asg AS (SELECT a.vec_id, a.qv, a.norm2, b.c_label,
              ROW_NUMBER() OVER (PARTITION BY a.vec_id ORDER BY
                CAST(${dotSql("a.qv", "b.cqv")} AS DOUBLE) / (sqrt(CAST(a.norm2 AS DOUBLE)) * sqrt(CAST(b.cnorm2 AS DOUBLE))) DESC, b.c_label) AS crnk
            FROM qn a CROSS JOIN cn b),
    lists AS (SELECT vec_id, qv, norm2, c_label AS list_label FROM asg WHERE crnk = 1),
    probes AS (SELECT vec_id AS q_id, qv AS q_qv, norm2 AS q_norm2, c_label AS probe_label
               FROM asg WHERE vec_id < 8 AND crnk <= 2)"""

  /** Oracle shared by s04 (in-memory inverted lists) and s12 (the same
    * lists persisted as a list-partitioned parquet index): identical probe
    * rule and ranking, so both must produce exactly this result. */
  private lazy val ivfTopkOracle: String = s"""WITH $quantCte,
    $ivfProbeCte
    SELECT q_id, rnk, c_id, sim FROM (
      SELECT p.q_id, l.vec_id AS c_id,
        round(CAST(${dotSql("p.q_qv", "l.qv")} AS DOUBLE) / (sqrt(CAST(p.q_norm2 AS DOUBLE)) * sqrt(CAST(l.norm2 AS DOUBLE))), 6) AS sim,
        ROW_NUMBER() OVER (PARTITION BY p.q_id ORDER BY
          CAST(${dotSql("p.q_qv", "l.qv")} AS DOUBLE) / (sqrt(CAST(p.q_norm2 AS DOUBLE)) * sqrt(CAST(l.norm2 AS DOUBLE))) DESC, l.vec_id) AS rnk
      FROM lists l JOIN probes p ON l.list_label = p.probe_label AND l.vec_id <> p.q_id)
    WHERE rnk <= 5 ORDER BY q_id, rnk"""

  // ---------------------------------------------------------------- s05
  // Scalar-quantized (int8-range) cosine top-k: every component floored to
  // floor(x·127) ∈ [-128, 127], so a vector is 64 bytes instead of 64
  // floats — the memory/shuffle compression step of a PQ-style ANN
  // pipeline. Same broadcast top-k shape as s01 but on 4×-smaller codes;
  // integer dot products stay exact (|x|≤0.58 ⇒ |q|≤74, 64-dim dot ≤
  // 3.6e5 ≪ 2^53), so ranking is deterministic and the oracle replays the
  // identical quantization. AdvancedOpsSpec bounds its recall against the
  // full-precision s01 ranking.
  private[analytics] val Q8Scale = 127L

  private val s05 = QueryDef(
    "s05_quantized_cosine",
    (s, dir) => {
      val all = embs(s, dir)
        .withColumn("qv", expr(s"transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * $Q8Scale.0D) AS BIGINT))"))
        .withColumn("norm2", expr(dotExpr("qv", "qv")))
      val q = all.filter(col("vec_id") < 8)
        .select(col("vec_id").as("q_id"), col("qv").as("q_qv"), col("norm2").as("q_norm2"))
      all.select(col("vec_id").as("c_id"), col("qv").as("c_qv"), col("norm2").as("c_norm2"))
        .join(broadcast(q), col("c_id") =!= col("q_id"))
        .withColumn("sim", cosine("q_qv", "q_norm2", "c_qv", "c_norm2"))
        .withColumn("rnk",
          row_number().over(org.apache.spark.sql.expressions.Window
            .partitionBy(col("q_id")).orderBy(col("sim").desc, col("c_id"))).cast("long"))
        .filter(col("rnk") <= 5)
        .select(col("q_id"), col("rnk"), col("c_id"), round(col("sim"), 6).as("sim"))
        .orderBy(col("q_id"), col("rnk"))
    },
    Some(s"""WITH qe AS (SELECT vec_id,
      list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * $Q8Scale.0) AS BIGINT)) AS qv
      FROM embeddings),
    qn AS (SELECT vec_id, qv, ${dotSql("qv", "qv")} AS norm2 FROM qe)
    SELECT q_id, rnk, c_id, sim FROM (
      SELECT a.vec_id AS q_id, b.vec_id AS c_id, round($simSql, 6) AS sim,
        ROW_NUMBER() OVER (PARTITION BY a.vec_id ORDER BY $simSql DESC, b.vec_id) AS rnk
      FROM qn a JOIN qn b ON a.vec_id < 8 AND b.vec_id <> a.vec_id)
    WHERE rnk <= 5 ORDER BY q_id, rnk"""))

  // ---------------------------------------------------------------- s06
  // k-NN majority-vote classification: each query vector takes the
  // majority label of its 5 nearest neighbors (exact quantized cosine,
  // s01's machinery) — embedding-based weak labeling, the label-
  // propagation primitive of semi-supervised corpus curation. Majority
  // ties break deterministically on the smaller label. Same broadcast
  // top-k plan as s01 plus two |queries|-sized aggregates.
  private val s06 = QueryDef(
    "s06_knn_classify",
    (s, dir) => {
      val all = withQuant(dir, s)
      val q = all.filter(col("vec_id") < 8)
        .select(col("vec_id").as("q_id"), col("label").as("true_label"),
          col("qv").as("q_qv"), col("norm2").as("q_norm2"))
      val votes = all
        .select(col("vec_id").as("c_id"), col("label").as("c_label"),
          col("qv").as("c_qv"), col("norm2").as("c_norm2"))
        .join(broadcast(q), col("c_id") =!= col("q_id"))
        .withColumn("sim", cosine("q_qv", "q_norm2", "c_qv", "c_norm2"))
        .withColumn("rnk",
          row_number().over(org.apache.spark.sql.expressions.Window
            .partitionBy(col("q_id")).orderBy(col("sim").desc, col("c_id"))))
        .filter(col("rnk") <= 5)
        .groupBy(col("q_id"), col("true_label"), col("c_label"))
        .agg(count(lit(1)).as("n_votes"))
      votes
        .withColumn("vrnk",
          row_number().over(org.apache.spark.sql.expressions.Window
            .partitionBy(col("q_id")).orderBy(col("n_votes").desc, col("c_label"))))
        .filter(col("vrnk") === 1)
        .select(col("q_id"), col("true_label"),
          col("c_label").as("pred_label"), col("n_votes"))
        .orderBy(col("q_id"))
    },
    Some(s"""WITH $quantCte,
    ql AS (SELECT vec_id, label FROM embeddings),
    nb AS (SELECT a.vec_id AS q_id, b.vec_id AS c_id,
             ROW_NUMBER() OVER (PARTITION BY a.vec_id ORDER BY $simSql DESC, b.vec_id) AS rnk
           FROM qn a JOIN qn b ON a.vec_id < 8 AND b.vec_id <> a.vec_id),
    votes AS (SELECT q_id, tl.label AS true_label, cl.label AS c_label,
                COUNT(*) AS n_votes
              FROM nb JOIN ql tl ON tl.vec_id = q_id
                      JOIN ql cl ON cl.vec_id = nb.c_id
              WHERE rnk <= 5 GROUP BY q_id, tl.label, cl.label),
    top AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id
              ORDER BY n_votes DESC, c_label) AS vrnk FROM votes)
    SELECT q_id, true_label, c_label AS pred_label, n_votes
    FROM top WHERE vrnk = 1 ORDER BY q_id"""))

  // ---------------------------------------------------------------- s07
  // One full Lloyd (k-means) update step: assign every vector to its
  // nearest current centroid (s03's broadcast probe), then RECOMPUTE the
  // centroids from the assignment — the iteration body of distributed
  // k-means. Output is the new centroid table as (cluster, pos, n, cv)
  // rows, all exact integers (component sums are exact int64; the mean is
  // floor(sum/count) — the same convention the current centroids use).
  // At 100 TB both phases are the scalable shape: a broadcast of k
  // centroids against N rows, then one posexplode + hash aggregate whose
  // shuffle is k × 64 rows after map-side combine, not N.
  private val s07 = QueryDef(
    "s07_kmeans_update",
    (s, dir) => {
      val q = withQuant(dir, s)
      val cent = labelCentroids(q)
      val assigned = ivfAssign(q, cent).filter(col("crnk") === 1)
        .select(col("c_label").as("cluster"), col("qv"))
      assigned.select(col("cluster"), posexplode(col("qv")).as(Seq("pos", "v")))
        .groupBy(col("cluster"), (col("pos") + 1).cast("long").as("pos"))
        .agg(count(lit(1)).as("n_members"),
          floor(sum(col("v")).cast("double") / count(lit(1))).cast("long").as("cv"))
        .orderBy(col("cluster"), col("pos"))
    },
    Some(s"""WITH $quantCte,
    ${centroidCte()},
    cn AS (SELECT c_label, cqv, ${dotSql("cqv", "cqv")} AS cnorm2 FROM ce),
    asg AS (SELECT a.vec_id, a.qv, b.c_label,
              ROW_NUMBER() OVER (PARTITION BY a.vec_id ORDER BY
                CAST(${dotSql("a.qv", "b.cqv")} AS DOUBLE) / (sqrt(CAST(a.norm2 AS DOUBLE)) * sqrt(CAST(b.cnorm2 AS DOUBLE))) DESC, b.c_label) AS rnk
            FROM qn a CROSS JOIN cn b),
    m AS (SELECT c_label AS cluster, qv FROM asg WHERE rnk = 1),
    ${vecComponentsCte("ex2", "cluster", "m")}
    SELECT cluster, pos, COUNT(*) AS n_members,
      $meanCvSql
    FROM ex2 GROUP BY cluster, pos ORDER BY cluster, pos"""))

  // ---------------------------------------------------------------- s08
  // Two-stage retrieve → rerank: the production ANN serving pattern. A
  // coarse pass over 4×-compressed int8 codes keeps top-20 candidates per
  // query (cheap, cache-resident at scale); only those ≤20·|queries| rows
  // are re-scored at full precision for the final top-5. Both stages are
  // integer-exact, so the result is deterministic and the oracle replays
  // both quantizations. At 100 TB the coarse stage is the only corpus
  // scan; the rerank touches a candidate set proportional to the query
  // batch, not the corpus.
  private val s08 = QueryDef(
    "s08_two_stage_rerank",
    (s, dir) => {
      val coarse = embs(s, dir)
        .withColumn("qv", expr(s"transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * $Q8Scale.0D) AS BIGINT))"))
        .withColumn("norm2", expr(dotExpr("qv", "qv")))
      val q8 = coarse.filter(col("vec_id") < 8)
        .select(col("vec_id").as("q_id"), col("qv").as("q_qv"), col("norm2").as("q_norm2"))
      val cand = coarse
        .select(col("vec_id").as("c_id"), col("qv").as("c_qv"), col("norm2").as("c_norm2"))
        .join(broadcast(q8), col("c_id") =!= col("q_id"))
        .withColumn("csim", cosine("q_qv", "q_norm2", "c_qv", "c_norm2"))
        .withColumn("crnk",
          row_number().over(org.apache.spark.sql.expressions.Window
            .partitionBy(col("q_id")).orderBy(col("csim").desc, col("c_id"))))
        .filter(col("crnk") <= 20)
        .select(col("q_id"), col("c_id"))
      val full = withQuant(dir, s)
      val qf = full.filter(col("vec_id") < 8)
        .select(col("vec_id").as("fq_id"), col("qv").as("fq_qv"), col("norm2").as("fq_norm2"))
      cand
        .join(full.select(col("vec_id").as("fc_id"), col("qv").as("fc_qv"),
          col("norm2").as("fc_norm2")), col("c_id") === col("fc_id"))
        .join(broadcast(qf), col("q_id") === col("fq_id"))
        .withColumn("sim", cosine("fq_qv", "fq_norm2", "fc_qv", "fc_norm2"))
        .withColumn("rnk",
          row_number().over(org.apache.spark.sql.expressions.Window
            .partitionBy(col("q_id")).orderBy(col("sim").desc, col("c_id"))).cast("long"))
        .filter(col("rnk") <= 5)
        .select(col("q_id"), col("rnk"), col("c_id"), round(col("sim"), 6).as("sim"))
        .orderBy(col("q_id"), col("rnk"))
    },
    Some(s"""WITH q8e AS (SELECT vec_id,
      list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * $Q8Scale.0) AS BIGINT)) AS qv
      FROM embeddings),
    q8n AS (SELECT vec_id, qv, ${dotSql("qv", "qv")} AS norm2 FROM q8e),
    cand AS (SELECT q_id, c_id FROM (
      SELECT a.vec_id AS q_id, b.vec_id AS c_id,
        ROW_NUMBER() OVER (PARTITION BY a.vec_id ORDER BY $simSql DESC, b.vec_id) AS crnk
      FROM q8n a JOIN q8n b ON a.vec_id < 8 AND b.vec_id <> a.vec_id)
      WHERE crnk <= 20),
    fe AS (SELECT vec_id, ${quantizeSql("embedding")} AS qv FROM embeddings),
    fn AS (SELECT vec_id, qv, ${dotSql("qv", "qv")} AS norm2 FROM fe)
    SELECT q_id, rnk, c_id, sim FROM (
      SELECT cand.q_id, cand.c_id, round($simSql, 6) AS sim,
        ROW_NUMBER() OVER (PARTITION BY cand.q_id ORDER BY $simSql DESC, cand.c_id) AS rnk
      FROM cand JOIN fn a ON a.vec_id = cand.q_id JOIN fn b ON b.vec_id = cand.c_id)
    WHERE rnk <= 5 ORDER BY q_id, rnk"""))

  // ---------------------------------------------------------------- s09
  // Matryoshka prefix-dim retrieve → rerank: the coarse pass scores only
  // the FIRST 16 of 64 dimensions (MRL-style nested embeddings rank
  // coarse-to-fine information into the prefix), keeps top-20 per query,
  // and only those candidates are re-scored over all 64 dims. Unlike
  // s08's int8 codes (same dims, narrower values), this shrinks the
  // per-vector bytes read 4× by TRUNCATION — at 100 TB the coarse scan
  // can read a 16-dim column (or a sliced parquet page) instead of the
  // full vector, and the rerank touches ≤20·|queries| rows. Both stages
  // are integer-exact (quantized), so rankings hash-match the oracle.
  private val PrefixDims = 16
  private val s09 = QueryDef(
    "s09_matryoshka_rerank",
    (s, dir) => {
      val full = withQuant(dir, s)
        .withColumn("pv", expr(s"slice(qv, 1, $PrefixDims)"))
        .withColumn("pnorm2", expr(dotExpr("pv", "pv")))
      val qp = full.filter(col("vec_id") < 8)
        .select(col("vec_id").as("q_id"), col("pv").as("q_pv"), col("pnorm2").as("q_pnorm2"))
      val cand = full
        .select(col("vec_id").as("c_id"), col("pv").as("c_pv"), col("pnorm2").as("c_pnorm2"))
        .join(broadcast(qp), col("c_id") =!= col("q_id"))
        .withColumn("psim", cosine("q_pv", "q_pnorm2", "c_pv", "c_pnorm2"))
        .withColumn("crnk",
          row_number().over(org.apache.spark.sql.expressions.Window
            .partitionBy(col("q_id")).orderBy(col("psim").desc, col("c_id"))))
        .filter(col("crnk") <= 20)
        .select(col("q_id"), col("c_id"))
      val qf = full.filter(col("vec_id") < 8)
        .select(col("vec_id").as("fq_id"), col("qv").as("fq_qv"), col("norm2").as("fq_norm2"))
      cand
        .join(full.select(col("vec_id").as("fc_id"), col("qv").as("fc_qv"),
          col("norm2").as("fc_norm2")), col("c_id") === col("fc_id"))
        .join(broadcast(qf), col("q_id") === col("fq_id"))
        .withColumn("sim", cosine("fq_qv", "fq_norm2", "fc_qv", "fc_norm2"))
        .withColumn("rnk",
          row_number().over(org.apache.spark.sql.expressions.Window
            .partitionBy(col("q_id")).orderBy(col("sim").desc, col("c_id"))).cast("long"))
        .filter(col("rnk") <= 5)
        .select(col("q_id"), col("rnk"), col("c_id"), round(col("sim"), 6).as("sim"))
        .orderBy(col("q_id"), col("rnk"))
    },
    Some(s"""WITH $quantCte,
    pn AS (SELECT vec_id, qv, norm2, qv[1:$PrefixDims] AS pv,
      ${dotSql(s"qv[1:$PrefixDims]", s"qv[1:$PrefixDims]")} AS pnorm2 FROM qn),
    cand AS (SELECT q_id, c_id FROM (
      SELECT a.vec_id AS q_id, b.vec_id AS c_id,
        ROW_NUMBER() OVER (PARTITION BY a.vec_id ORDER BY
          CAST(${dotSql("a.pv", "b.pv")} AS DOUBLE) /
            (sqrt(CAST(a.pnorm2 AS DOUBLE)) * sqrt(CAST(b.pnorm2 AS DOUBLE))) DESC,
          b.vec_id) AS crnk
      FROM pn a JOIN pn b ON a.vec_id < 8 AND b.vec_id <> a.vec_id)
      WHERE crnk <= 20)
    SELECT q_id, rnk, c_id, sim FROM (
      SELECT cand.q_id, cand.c_id, round($simSql, 6) AS sim,
        ROW_NUMBER() OVER (PARTITION BY cand.q_id ORDER BY $simSql DESC, cand.c_id) AS rnk
      FROM cand JOIN qn a ON a.vec_id = cand.q_id JOIN qn b ON b.vec_id = cand.c_id)
    WHERE rnk <= 5 ORDER BY q_id, rnk"""))

  // ---------------------------------------------------------------- s10
  // Product-quantization (PQ) encode — the memory layout of large-scale
  // ANN indexes (IVF-PQ): the 64-dim vector splits into M=4 subvectors,
  // each assigned to its nearest of K=16 per-subspace centroids, so a
  // vector compresses to 4 code bytes (64× smaller than float32). The
  // codebook here is synthetic-but-deterministic (a fixed integer rule in
  // the same 1e7-quantized space as the vectors — PQ *training* is s07's
  // k-means run per subspace; encode cost is what matters at corpus
  // scale). Everything is exact int64 (squared distances ≤ 16·(2e7)² per
  // subvector), argmin ties break to the lowest code on both engines
  // (array_position / list_position both return the FIRST index of the
  // min), and the reconstruction error ships as an exact integer — so the
  // full per-vector code table hash-matches the oracle.
  private val PqM = 4        // subspaces
  private val PqK = 16       // codes per subspace
  private val PqD = 16       // dims per subspace
  private def pqCentroid(m: Int, j: Int, d: Int): Long =
    ((17L * (d + 1) + 31L * (j + 1) + 7L * (m + 1)) % 21L - 10L) * 1000000L
  private def pqBookSpark(m: Int): String =
    (0 until PqK).map(j => (0 until PqD).map(pqCentroid(m, j, _))
      .mkString("array(", ", ", ")")).mkString("array(", ", ", ")")
  private def pqBookDuck(m: Int): String =
    (0 until PqK).map(j => (0 until PqD).map(pqCentroid(m, j, _))
      .mkString("[", ", ", "]")).mkString("[", ", ", "]")
  private val s10 = QueryDef(
    "s10_pq_encode",
    (s, dir) => {
      val dists = (0 until PqM).foldLeft(withQuant(dir, s)) { (df, m) =>
        df.withColumn(s"d$m", expr(
          s"""transform(${pqBookSpark(m)}, c ->
                aggregate(zip_with(slice(qv, ${m * PqD + 1}, $PqD), c,
                  (a, b) -> (a - b) * (a - b)),
                  CAST(0 AS BIGINT), (acc, v) -> acc + v))"""))
      }
      (0 until PqM).foldLeft(dists) { (df, m) =>
        df.withColumn(s"code$m",
            expr(s"array_position(d$m, array_min(d$m))").cast("long"))
          .withColumn(s"err$m", expr(s"element_at(d$m, CAST(code$m AS INT))"))
      }
        .select(col("vec_id") +:
          (0 until PqM).map(m => col(s"code$m")) :+
          (0 until PqM).map(m => col(s"err$m")).reduce(_ + _).as("recon_err"): _*)
        .orderBy(col("vec_id"))
    },
    Some {
      val distCols = (0 until PqM).map { m =>
        s"""list_transform(${pqBookDuck(m)}, c ->
              list_reduce(list_transform(
                list_zip(qv[${m * PqD + 1}:${(m + 1) * PqD}], c),
                p -> (p[1] - p[2]) * (p[1] - p[2])),
                (acc, v) -> acc + v)) AS d$m"""
      }.mkString(",\n      ")
      val codeCols = (0 until PqM).map(m =>
        s"CAST(list_position(d$m, list_min(d$m)) AS BIGINT) AS code$m")
        .mkString(",\n      ")
      val errSum = (0 until PqM).map(m => s"d$m[CAST(code$m AS INT)]")
        .mkString(" + ")
      s"""WITH qe AS (SELECT vec_id, ${quantizeSql("embedding")} AS qv FROM embeddings),
      d AS (SELECT vec_id, $distCols FROM qe),
      c AS (SELECT vec_id, d0, d1, d2, d3, $codeCols FROM d)
      SELECT vec_id, code0, code1, code2, code3,
        CAST($errSum AS BIGINT) AS recon_err
      FROM c ORDER BY vec_id"""
    })

  // ---------------------------------------------------------------- s11
  // IVF-PQ search — the full modern ANN index (FAISS IndexIVFPQ) as one
  // declarative plan: s04's inverted lists bound WHERE a query looks
  // (2 probed cells), s10's PQ codes bound WHAT each candidate costs
  // (ADC: the query precomputes its 4×16 subvector→codebook distance
  // tables once, each candidate's distance is then 4 table lookups —
  // no vector math per candidate), and only the ADC top-20 get the
  // exact full-vector re-rank for the final top-5. Every stage is exact
  // int64 (same quantized space as s04/s10), so the whole three-stage
  // cascade hash-matches an oracle that replays it.
  private val s11 = QueryDef(
    "s11_ivfpq_search",
    (s, dir) => {
      val q = withQuant(dir, s)
      val cent = labelCentroids(q)
      val assigned = ivfAssign(q, cent)
      // inverted lists, each member carrying its 4 PQ codes
      val lists0 = ivfLists(assigned)
      // distance array hoisted into its own projection per subspace
      // (s10's discipline): inlining it under array_position AND
      // array_min would evaluate the 16-centroid transform twice per
      // code
      val lists = (0 until PqM).foldLeft(lists0) { (df, m) =>
        df.withColumn(s"ld$m", expr(
            s"""transform(${pqBookSpark(m)}, c ->
                  aggregate(zip_with(slice(qv, ${m * PqD + 1}, $PqD), c,
                    (a, b) -> (a - b) * (a - b)),
                    CAST(0 AS BIGINT), (acc, v) -> acc + v))"""))
          .withColumn(s"code$m",
            expr(s"array_position(ld$m, array_min(ld$m))").cast("int"))
          .drop(s"ld$m")
      }
      // queries probe 2 cells and precompute their ADC lookup tables
      val probes0 = ivfProbes(assigned, 2)
      val probes = (0 until PqM).foldLeft(probes0) { (df, m) =>
        df.withColumn(s"dq$m", expr(
          s"""transform(${pqBookSpark(m)}, c ->
                aggregate(zip_with(slice(q_qv, ${m * PqD + 1}, $PqD), c,
                  (a, b) -> (a - b) * (a - b)),
                  CAST(0 AS BIGINT), (acc, v) -> acc + v))"""))
      }
      val winAdc = org.apache.spark.sql.expressions.Window
        .partitionBy(col("q_id")).orderBy(col("adc"), col("vec_id"))
      val winSim = org.apache.spark.sql.expressions.Window
        .partitionBy(col("q_id")).orderBy(col("sim").desc, col("vec_id"))
      lists.join(broadcast(probes),
          col("list_label") === col("probe_label") && col("vec_id") =!= col("q_id"))
        .withColumn("adc",
          (0 until PqM).map(m => expr(s"element_at(dq$m, code$m)")).reduce(_ + _))
        .withColumn("arnk", row_number().over(winAdc))
        .filter(col("arnk") <= 20)
        .withColumn("sim", cosine("q_qv", "q_norm2", "qv", "norm2"))
        .withColumn("rnk", row_number().over(winSim).cast("long"))
        .filter(col("rnk") <= 5)
        .select(col("q_id"), col("rnk"), col("vec_id").as("c_id"),
          round(col("sim"), 6).as("sim"))
        .orderBy(col("q_id"), col("rnk"))
    },
    Some {
      val codeCols = (0 until PqM).map { m =>
        s"""list_position(
              list_transform(${pqBookDuck(m)}, c ->
                list_reduce(list_transform(
                  list_zip(qv[${m * PqD + 1}:${(m + 1) * PqD}], c),
                  p -> (p[1] - p[2]) * (p[1] - p[2])), (acc, v) -> acc + v)),
              list_min(list_transform(${pqBookDuck(m)}, c ->
                list_reduce(list_transform(
                  list_zip(qv[${m * PqD + 1}:${(m + 1) * PqD}], c),
                  p -> (p[1] - p[2]) * (p[1] - p[2])), (acc, v) -> acc + v)))) AS code$m"""
      }.mkString(",\n            ")
      val dqCols = (0 until PqM).map { m =>
        s"""list_transform(${pqBookDuck(m)}, c ->
              list_reduce(list_transform(
                list_zip(q_qv[${m * PqD + 1}:${(m + 1) * PqD}], c),
                p -> (p[1] - p[2]) * (p[1] - p[2])), (acc, v) -> acc + v)) AS dq$m"""
      }.mkString(",\n            ")
      val adc = (0 until PqM).map(m => s"dq$m[code$m]").mkString(" + ")
      s"""WITH $quantCte,
      ${centroidCte()},
      cn AS (SELECT c_label, cqv, ${dotSql("cqv", "cqv")} AS cnorm2 FROM ce),
      asg AS (SELECT a.vec_id, a.qv, a.norm2, b.c_label,
                ROW_NUMBER() OVER (PARTITION BY a.vec_id ORDER BY
                  CAST(${dotSql("a.qv", "b.cqv")} AS DOUBLE) / (sqrt(CAST(a.norm2 AS DOUBLE)) * sqrt(CAST(b.cnorm2 AS DOUBLE))) DESC, b.c_label) AS crnk
              FROM qn a CROSS JOIN cn b),
      lists AS (SELECT vec_id, qv, norm2, c_label AS list_label,
            $codeCols
          FROM asg WHERE crnk = 1),
      probes AS (SELECT q_id, q_qv, q_norm2, probe_label,
            $dqCols
          FROM (SELECT vec_id AS q_id, qv AS q_qv, norm2 AS q_norm2,
                       c_label AS probe_label
                FROM asg WHERE vec_id < 8 AND crnk <= 2)),
      adcr AS (SELECT q_id, q_qv, q_norm2, vec_id, qv, norm2,
                 ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY $adc, vec_id) AS arnk
               FROM lists l JOIN probes p
                 ON l.list_label = p.probe_label AND l.vec_id <> p.q_id)
      SELECT q_id, rnk, c_id, sim FROM (
        SELECT q_id, vec_id AS c_id,
          round(CAST(${dotSql("q_qv", "qv")} AS DOUBLE) / (sqrt(CAST(q_norm2 AS DOUBLE)) * sqrt(CAST(norm2 AS DOUBLE))), 6) AS sim,
          ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY
            CAST(${dotSql("q_qv", "qv")} AS DOUBLE) / (sqrt(CAST(q_norm2 AS DOUBLE)) * sqrt(CAST(norm2 AS DOUBLE))) DESC, vec_id) AS rnk
        FROM adcr WHERE arnk <= 20)
      WHERE rnk <= 5 ORDER BY q_id, rnk"""
    })

  // ---------------------------------------------------------------- d15
  // Semantic dedup (SemDeDup): cluster the embedding space, then drop
  // any vector whose cosine to a LOWER-id vector in the SAME cluster is
  // ≥ τ — near-duplicate meaning, not near-duplicate text (d02 can't see
  // a paraphrase; this can). The clustering is what makes it scale: the
  // quadratic verify runs within clusters only, so cost is Σ|cluster|²,
  // bounded by the coarse quantizer — at 100 TB you raise k with N
  // (k ≈ √N lists, the same IVF discipline as s04) so clusters stay
  // O(√N) and the pairwise stage stays linear-ish in N. Greedy keep-
  // lowest-id is deterministic, order-free, and exactly replayable in
  // SQL. Defined here (not Dedup.scala) to reuse the quantized-vector
  // and centroid machinery; the d-prefix keeps it in the dedup family.
  private val d15 = QueryDef(
    "d15_semantic_dedup",
    (s, dir) => {
      val q = withQuant(dir, s)
      val cent = labelCentroids(q)
      // nearest-centroid assignment (s03's probe shape, centroids broadcast)
      val asg = ivfAssign(q, cent).filter(col("crnk") === 1)
        .select(col("c_label"), col("vec_id"), col("qv"), col("norm2"))
        .cache()
      val a = asg.select(col("c_label"), col("vec_id").as("id1"),
        col("qv").as("qv1"), col("norm2").as("n1"))
      val b = asg.select(col("c_label").as("cl2"), col("vec_id").as("id2"),
        col("qv").as("qv2"), col("norm2").as("n2"))
      val dropped = a.join(b, col("c_label") === col("cl2") && col("id1") < col("id2"))
        .withColumn("psim", cosine("qv1", "n1", "qv2", "n2"))
        .filter(col("psim") >= 0.3)
        .select(col("cl2").as("c_label"), col("id2").as("vec_id")).distinct()
      asg.groupBy(col("c_label")).agg(count(lit(1)).as("n_members"))
        .join(dropped.groupBy(col("c_label")).agg(count(lit(1)).as("n_dropped")),
          Seq("c_label"), "left")
        .na.fill(0L, Seq("n_dropped"))
        .select(col("c_label"), col("n_members"), col("n_dropped"),
          (col("n_members") - col("n_dropped")).as("n_kept"))
        .orderBy(col("c_label"))
    },
    Some(s"""WITH $quantCte,
    ${centroidCte(vec = "qv")},
    cn AS (SELECT c_label, qv, ${dotSql("qv", "qv")} AS norm2 FROM ce),
    asg AS (SELECT vec_id, qv, norm2, c_label FROM (
              SELECT a.vec_id, a.qv, a.norm2, b.c_label,
                ROW_NUMBER() OVER (PARTITION BY a.vec_id
                  ORDER BY $simSql DESC, b.c_label) AS rnk
              FROM qn a CROSS JOIN cn b) WHERE rnk = 1),
    drp AS (SELECT DISTINCT b.c_label, b.vec_id
            FROM asg a JOIN asg b
              ON a.c_label = b.c_label AND a.vec_id < b.vec_id
            WHERE $simSql >= 0.3),
    m AS (SELECT c_label, COUNT(*) AS n_members FROM asg GROUP BY 1),
    d AS (SELECT c_label, COUNT(*) AS n_dropped FROM drp GROUP BY 1)
    SELECT m.c_label, m.n_members,
      COALESCE(d.n_dropped, 0) AS n_dropped,
      m.n_members - COALESCE(d.n_dropped, 0) AS n_kept
    FROM m LEFT JOIN d ON m.c_label = d.c_label
    ORDER BY m.c_label"""))

  // ---------------------------------------------------------------- s12
  // Partition-pruned on-disk ANN index: s04's inverted lists PERSISTED as
  // a parquet table hive-partitioned by list label — the serving layout
  // where probing a list means reading a directory. The probe side (each
  // query's nearest-2 centroids) joins the index on its PARTITION column,
  // so Catalyst injects a DynamicPruningExpression into the index scan and
  // only the probed list directories are ever listed/read (`AnnIndexSpec`
  // pins the pruning in the executed plan and via scan metrics; q85 proves
  // the same mechanism on the events fact). At 100 TB this moves the
  // nprobe/nlist discipline from the join FILTER into the FILE LISTING:
  // an ANN query's IO is nprobe directories, not the whole corpus, and the
  // index write itself clusters each list's vectors contiguously on disk.
  // Same probe rule and ranking as s04 ⇒ byte-identical results; the
  // oracle is shared ([[ivfTopkOracle]]).
  private val s12 = QueryDef(
    "s12_ivf_disk_index",
    (s, dir) => {
      val q = withQuant(dir, s)
      val cent = labelCentroids(q)
      val assigned = ivfAssign(q, cent)
      // build the index: inverted lists as hive partitions, probe table as
      // plain parquet (harness setup — at scale both pre-exist and only
      // the probe join is the query). Probes are MATERIALIZED, not kept as
      // the live windowed plan: a multi-stage build side defeats AQE's
      // broadcast-exchange reuse for the pruning subquery (the filter
      // degrades to `dynamicpruningexpression(true)` and the whole index
      // is scanned); a simple filtered scan — the same shape `DppSpec`
      // pins on the events fact — keeps the runtime IN-filter alive.
      val out = tmp("graft-annidx")
      val probesOut = tmp("graft-annprobe")
      graft.BenchSplit.setup {
        ivfLists(assigned)
          .write.mode("overwrite").partitionBy("list_label").parquet(out)
        ivfProbes(assigned, 2)
          .write.mode("overwrite").parquet(probesOut)
      }
      // q_id < 8 re-applied on the re-read: DPP only fires off a build
      // side with a selective predicate, and the values already satisfy it
      val probes = s.read.parquet(probesOut).filter(col("q_id") < 8)
      val winQ = org.apache.spark.sql.expressions.Window
        .partitionBy(col("q_id")).orderBy(col("sim").desc, col("vec_id"))
      s.read.parquet(out)
        .join(broadcast(probes),
          col("list_label") === col("probe_label") && col("vec_id") =!= col("q_id"))
        .withColumn("sim", cosine("q_qv", "q_norm2", "qv", "norm2"))
        .withColumn("rnk", row_number().over(winQ).cast("long"))
        .filter(col("rnk") <= 5)
        .select(col("q_id"), col("rnk"), col("vec_id").as("c_id"), round(col("sim"), 6).as("sim"))
        .orderBy(col("q_id"), col("rnk"))
    },
    Some(ivfTopkOracle))

  // ---------------------------------------------------------------- s13
  // INCREMENTAL maintenance of the s12 on-disk IVF index: the operation a
  // serving index needs every day at 100 TB — absorb a batch of new
  // vectors WITHOUT rebuilding. The codebook (centroids) is frozen; the
  // base index (80% of the corpus) already exists as list-partitioned
  // parquet; the delta (20%) is assigned to its nearest frozen centroid
  // and APPENDED with dynamic-partition append, so the write touches only
  // the list directories the delta lands in and never rewrites a base
  // file (AnnIndexSpec pins base-file immutability by path). Because the
  // frozen codebook equals the full-corpus codebook here, base∪delta is
  // row-identical to the one-shot s12 index, so the probe query must
  // reproduce s04/s12's exact results — the shared [[ivfTopkOracle]]
  // proves the incremental path loses nothing. At scale this is the whole
  // point of the layout: index maintenance is O(|delta|) shuffle + append,
  // probing stays nprobe directories via the same runtime partition
  // pruning.
  private val s13 = QueryDef(
    "s13_ivf_incremental",
    (s, dir) => {
      val q = withQuant(dir, s)
      val cent = labelCentroids(q)
      val assigned = ivfAssign(q, cent)
      val lists = ivfLists(assigned)
      val out = tmp("graft-annincr")
      val probesOut = tmp("graft-annincrprobe")
      graft.BenchSplit.setup {
        // day 0: base index build (pre-exists at scale)
        lists.filter(col("vec_id") % 5 =!= 0)
          .write.mode("overwrite").partitionBy("list_label").parquet(out)
        // day 1: delta ingest — append-only into the same layout
        lists.filter(col("vec_id") % 5 === 0)
          .write.mode("append").partitionBy("list_label").parquet(out)
        ivfProbes(assigned, 2)
          .write.mode("overwrite").parquet(probesOut)
      }
      // identical probe shape to s12 (materialized probes keep DPP alive)
      val probes = s.read.parquet(probesOut).filter(col("q_id") < 8)
      val winQ = org.apache.spark.sql.expressions.Window
        .partitionBy(col("q_id")).orderBy(col("sim").desc, col("vec_id"))
      s.read.parquet(out)
        .join(broadcast(probes),
          col("list_label") === col("probe_label") && col("vec_id") =!= col("q_id"))
        .withColumn("sim", cosine("q_qv", "q_norm2", "qv", "norm2"))
        .withColumn("rnk", row_number().over(winQ).cast("long"))
        .filter(col("rnk") <= 5)
        .select(col("q_id"), col("rnk"), col("vec_id").as("c_id"), round(col("sim"), 6).as("sim"))
        .orderBy(col("q_id"), col("rnk"))
    },
    Some(ivfTopkOracle))

  // ---------------------------------------------------------------- s14
  // In-probe HARD-NEGATIVE MINING — the contrastive-training staple the
  // similarity family was still missing: for each anchor, the most
  // similar candidates with a DIFFERENT label (the negatives that
  // actually move a contrastive loss). Candidate generation reuses the
  // s04 IVF machinery — anchors probe their nearest-2 centroid lists and
  // mine only there — so the search is nprobe/nlist-bounded exactly like
  // ANN serving, never corpus × anchors. The oracle replays the same
  // probe rule, so the recall trade is deterministic and hash-matched.
  // Output per anchor: top-3 different-label candidates by exact
  // quantized cosine (ties broken by candidate id).
  private val s14 = QueryDef(
    "s14_hard_negatives",
    (s, dir) => {
      val q = withQuant(dir, s)
      val cent = labelCentroids(q)
      val assigned = ivfAssign(q, cent)
      val lists = assigned.filter(col("crnk") === 1)
        .select(col("vec_id"), col("label"), col("qv"), col("norm2"),
          col("c_label").as("list_label"))
      val probes = assigned.filter(col("vec_id") < 8 && col("crnk") <= 2)
        .select(col("vec_id").as("q_id"), col("label").as("q_label"),
          col("qv").as("q_qv"), col("norm2").as("q_norm2"),
          col("c_label").as("probe_label"))
      val winQ = org.apache.spark.sql.expressions.Window
        .partitionBy(col("q_id")).orderBy(col("sim").desc, col("vec_id"))
      lists.join(broadcast(probes),
          col("list_label") === col("probe_label") &&
            col("vec_id") =!= col("q_id") && col("label") =!= col("q_label"))
        .withColumn("sim", cosine("q_qv", "q_norm2", "qv", "norm2"))
        .withColumn("rnk", row_number().over(winQ).cast("long"))
        .filter(col("rnk") <= 3)
        .select(col("q_id"), col("rnk"), col("vec_id").as("neg_id"),
          col("label").as("neg_label"), round(col("sim"), 6).as("sim"))
        .orderBy(col("q_id"), col("rnk"))
    },
    Some(s"""WITH $quantCte,
    ${centroidCte()},
    cn AS (SELECT c_label, cqv, ${dotSql("cqv", "cqv")} AS cnorm2 FROM ce),
    asg AS (SELECT a.vec_id, a.label, a.qv, a.norm2, b.c_label,
              ROW_NUMBER() OVER (PARTITION BY a.vec_id ORDER BY
                CAST(${dotSql("a.qv", "b.cqv")} AS DOUBLE) / (sqrt(CAST(a.norm2 AS DOUBLE)) * sqrt(CAST(b.cnorm2 AS DOUBLE))) DESC, b.c_label) AS crnk
            FROM qn a CROSS JOIN cn b),
    lists AS (SELECT vec_id, label, qv, norm2, c_label AS list_label FROM asg WHERE crnk = 1),
    probes AS (SELECT vec_id AS q_id, label AS q_label, qv AS q_qv, norm2 AS q_norm2, c_label AS probe_label
               FROM asg WHERE vec_id < 8 AND crnk <= 2)
    SELECT q_id, rnk, neg_id, neg_label, sim FROM (
      SELECT p.q_id, l.vec_id AS neg_id, l.label AS neg_label,
        round(CAST(${dotSql("p.q_qv", "l.qv")} AS DOUBLE) / (sqrt(CAST(p.q_norm2 AS DOUBLE)) * sqrt(CAST(l.norm2 AS DOUBLE))), 6) AS sim,
        ROW_NUMBER() OVER (PARTITION BY p.q_id ORDER BY
          CAST(${dotSql("p.q_qv", "l.qv")} AS DOUBLE) / (sqrt(CAST(p.q_norm2 AS DOUBLE)) * sqrt(CAST(l.norm2 AS DOUBLE))) DESC, l.vec_id) AS rnk
      FROM lists l JOIN probes p
        ON l.list_label = p.probe_label AND l.vec_id <> p.q_id
          AND l.label <> p.q_label)
    WHERE rnk <= 3 ORDER BY q_id, rnk"""))

  // ---------------------------------------------------------------- s15
  // MMR DIVERSIFIED RE-RANK — maximal marginal relevance, the serving-
  // side diversity pass RAG retrieval runs after ANN: greedily pick K
  // results per anchor maximizing 0.7·rel(query) − 0.3·max-sim-to-
  // already-picked, so near-duplicate hits don't crowd the result list.
  // Candidate generation is the corpus-scale part (one broadcast join +
  // one per-anchor WindowGroupLimit top-20, the s01 shape); the greedy
  // loop then runs over the CHECKPOINTED 8×20-row pool — K bounded
  // rounds of anti-join + max-sim aggregate + per-anchor argmax, constant
  // work at any corpus size. All similarities divide exact int64 dots
  // under IEEE doubles (the Tables quantization contract), and every
  // argmax tie-breaks on candidate id, so the greedy trajectory is
  // deterministic and the unrolled-CTE oracle replays it exactly.
  private val MmrK = 5
  private val MmrCand = 20
  private val s15 = QueryDef(
    "s15_mmr_rerank",
    (s, dir) => {
      val all = withQuant(dir, s)
      val q = all.filter(col("vec_id") < 8)
        .select(col("vec_id").as("q_id"), col("qv").as("q_qv"),
          col("norm2").as("q_norm2"))
      val winRel = org.apache.spark.sql.expressions.Window
        .partitionBy(col("q_id")).orderBy(col("rel").desc, col("c_id"))
      val cands = all
        .select(col("vec_id").as("c_id"), col("qv").as("c_qv"), col("norm2").as("c_norm2"))
        .join(broadcast(q), col("c_id") =!= col("q_id"))
        .withColumn("rel", cosine("q_qv", "q_norm2", "c_qv", "c_norm2"))
        .withColumn("crnk", row_number().over(winRel))
        .filter(col("crnk") <= MmrCand)
        .select(col("q_id"), col("c_id"), col("c_qv"), col("c_norm2"), col("rel"))
        // lazy (r22): the greedy chain below has no per-round driver
        // decision, so ONE final action materializes every level —
        // eager per-round checkpoints were K serialized jobs
        .localCheckpoint(eager = false) // anchors × MmrCand rows
      var selected = cands
        .withColumn("r", row_number().over(winRel))
        .filter(col("r") === 1)
        .select(col("q_id"), col("c_id"), col("c_qv"), col("c_norm2"),
          col("rel"), lit(1L).as("pick_rank"), col("rel").as("mmr"))
        .localCheckpoint(eager = false)
      (2 to MmrK).foreach { k =>
        val rem = cands.join(selected.select(col("q_id"), col("c_id")),
          Seq("q_id", "c_id"), "left_anti")
        val sel = selected.select(col("q_id").as("s_qid"),
          col("c_qv").as("s_qv"), col("c_norm2").as("s_norm2"))
        val red = rem.join(sel, col("q_id") === col("s_qid"))
          .withColumn("ssim", cosine("c_qv", "c_norm2", "s_qv", "s_norm2"))
          .groupBy(col("q_id"), col("c_id")).agg(max(col("ssim")).as("maxsim"))
        val winMmr = org.apache.spark.sql.expressions.Window
          .partitionBy(col("q_id")).orderBy(col("mmr").desc, col("c_id"))
        val pick = rem.join(red, Seq("q_id", "c_id"))
          .withColumn("mmr", expr("CAST(0.7 AS DOUBLE) * rel - CAST(0.3 AS DOUBLE) * maxsim"))
          .withColumn("r", row_number().over(winMmr))
          .filter(col("r") === 1)
          .select(col("q_id"), col("c_id"), col("c_qv"), col("c_norm2"),
            col("rel"), lit(k.toLong).as("pick_rank"), col("mmr"))
        selected = selected.union(pick).localCheckpoint(eager = false)
      }
      selected.select(col("q_id"), col("pick_rank"), col("c_id"),
        round(col("rel"), 6).as("rel"), round(col("mmr"), 6).as("mmr"))
        .orderBy(col("q_id"), col("pick_rank"))
    },
    Some {
      val relExpr =
        s"CAST(${dotSql("q.q_qv", "a.qv")} AS DOUBLE) / (sqrt(CAST(q.q_norm2 AS DOUBLE)) * sqrt(CAST(a.norm2 AS DOUBLE)))"
      def round(k: Int): String =
        s"""rem$k AS (SELECT c.* FROM cand c WHERE NOT EXISTS (
        SELECT 1 FROM sel${k - 1} s WHERE s.q_id = c.q_id AND s.c_id = c.c_id)),
    ms$k AS (SELECT r.q_id, r.c_id,
        MAX(CAST(${dotSql("r.c_qv", "s.c_qv")} AS DOUBLE) / (sqrt(CAST(r.c_norm2 AS DOUBLE)) * sqrt(CAST(s.c_norm2 AS DOUBLE)))) AS maxsim
      FROM rem$k r JOIN sel${k - 1} s ON r.q_id = s.q_id GROUP BY r.q_id, r.c_id),
    sc$k AS (SELECT r.q_id, r.c_id, r.c_qv, r.c_norm2, r.rel,
        CAST(0.7 AS DOUBLE) * r.rel - CAST(0.3 AS DOUBLE) * m.maxsim AS mmr
      FROM rem$k r JOIN ms$k m ON r.q_id = m.q_id AND r.c_id = m.c_id),
    pick$k AS (SELECT q_id, c_id, c_qv, c_norm2, rel, CAST($k AS BIGINT) AS pick_rank, mmr
      FROM (SELECT sc$k.*, ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY mmr DESC, c_id) AS r FROM sc$k)
      WHERE r = 1),
    sel$k AS (SELECT * FROM sel${k - 1} UNION ALL SELECT * FROM pick$k)"""
      s"""WITH $quantCte,
    qs AS (SELECT vec_id AS q_id, qv AS q_qv, norm2 AS q_norm2 FROM qn WHERE vec_id < 8),
    cand AS (SELECT q_id, c_id, c_qv, c_norm2, rel FROM (
        SELECT q.q_id, a.vec_id AS c_id, a.qv AS c_qv, a.norm2 AS c_norm2,
          $relExpr AS rel,
          ROW_NUMBER() OVER (PARTITION BY q.q_id ORDER BY $relExpr DESC, a.vec_id) AS crnk
        FROM qn a JOIN qs q ON a.vec_id <> q.q_id)
      WHERE crnk <= $MmrCand),
    sel1 AS (SELECT q_id, c_id, c_qv, c_norm2, rel, CAST(1 AS BIGINT) AS pick_rank, rel AS mmr
      FROM (SELECT cand.*, ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY rel DESC, c_id) AS r FROM cand)
      WHERE r = 1),
    ${(2 to MmrK).map(round).mkString(",\n    ")}
    SELECT q_id, pick_rank, c_id, round(rel, 6) AS rel, round(mmr, 6) AS mmr
    FROM sel$MmrK ORDER BY q_id, pick_rank"""
    })

  // ---------------------------------------------------------------- s16
  // RECALL@K EVALUATION — the harness that closes the ANN loop: for each
  // anchor, compare the IVF probe result (s04's exact machinery) against
  // brute-force ground truth (s01's shape) and report hits, recall, and
  // the first ground-truth rank the index missed. This is how an index's
  // nprobe/nlist trade is actually tuned. Both sides are exact integer
  // dot products, so the recall numbers are deterministic — recall ships
  // as n_hits (numerator; k is the denominator column) and an integer
  // percentage, never a float ratio. At 100 TB the brute side is the
  // bounded-cost one — |anchor sample| × corpus with broadcast anchors,
  // the standard offline-eval linear scan — while the IVF side stays
  // nprobe-bounded; neither shuffles more than |anchors × k| rows.
  private val s16 = QueryDef(
    "s16_recall_at_k",
    (s, dir) => {
      val all = withQuant(dir, s)
      val anchors = all.filter(col("vec_id") < 8)
        .select(col("vec_id").as("q_id"), col("qv").as("q_qv"),
          col("norm2").as("q_norm2"))
      val winQ = org.apache.spark.sql.expressions.Window
        .partitionBy(col("q_id")).orderBy(col("sim").desc, col("c_id"))
      val truth = all
        .select(col("vec_id").as("c_id"), col("qv").as("c_qv"), col("norm2").as("c_norm2"))
        .join(broadcast(anchors), col("c_id") =!= col("q_id"))
        .withColumn("sim", cosine("q_qv", "q_norm2", "c_qv", "c_norm2"))
        .withColumn("t_rnk", row_number().over(winQ).cast("long"))
        .filter(col("t_rnk") <= 5)
        .select(col("q_id"), col("t_rnk"), col("c_id"))
      val cent = labelCentroids(all)
      val assigned = ivfAssign(all, cent)
      val lists = ivfLists(assigned)
      val probes = ivfProbes(assigned, 2)
      val ivf = lists.join(broadcast(probes),
          col("list_label") === col("probe_label") && col("vec_id") =!= col("q_id"))
        .withColumn("sim", cosine("q_qv", "q_norm2", "qv", "norm2"))
        .withColumn("rnk", row_number().over(org.apache.spark.sql.expressions.Window
          .partitionBy(col("q_id")).orderBy(col("sim").desc, col("vec_id"))))
        .filter(col("rnk") <= 5)
        .select(col("q_id"), col("vec_id").as("c_id"), lit(1L).as("hit"))
      truth.join(ivf, Seq("q_id", "c_id"), "left")
        .withColumn("hit", coalesce(col("hit"), lit(0L)))
        .groupBy(col("q_id"))
        .agg(
          sum(col("hit")).as("n_hits"),
          (sum(col("hit")) * lit(20L)).as("recall_pct"),
          min(when(col("hit") === 0L, col("t_rnk"))).as("first_miss_rank"))
        .withColumn("k", lit(5L))
        .select(col("q_id"), col("k"), col("n_hits"), col("recall_pct"),
          col("first_miss_rank"))
        .orderBy(col("q_id"))
    },
    Some {
      val ivfSim =
        s"CAST(${dotSql("p.q_qv", "l.qv")} AS DOUBLE) / (sqrt(CAST(p.q_norm2 AS DOUBLE)) * sqrt(CAST(l.norm2 AS DOUBLE)))"
      val truthSim =
        s"CAST(${dotSql("q.q_qv", "a.qv")} AS DOUBLE) / (sqrt(CAST(q.q_norm2 AS DOUBLE)) * sqrt(CAST(a.norm2 AS DOUBLE)))"
      s"""WITH $quantCte,
    $ivfProbeCte,
    ivf AS (SELECT q_id, c_id FROM (
        SELECT p.q_id, l.vec_id AS c_id,
          ROW_NUMBER() OVER (PARTITION BY p.q_id ORDER BY $ivfSim DESC, l.vec_id) AS rnk
        FROM lists l JOIN probes p ON l.list_label = p.probe_label AND l.vec_id <> p.q_id)
      WHERE rnk <= 5),
    anch AS (SELECT vec_id AS q_id, qv AS q_qv, norm2 AS q_norm2 FROM qn WHERE vec_id < 8),
    truth AS (SELECT q_id, t_rnk, c_id FROM (
        SELECT q.q_id, a.vec_id AS c_id,
          ROW_NUMBER() OVER (PARTITION BY q.q_id ORDER BY $truthSim DESC, a.vec_id) AS t_rnk
        FROM qn a JOIN anch q ON a.vec_id <> q.q_id)
      WHERE t_rnk <= 5),
    j AS (SELECT t.q_id, t.t_rnk,
        CASE WHEN i.c_id IS NULL THEN 0 ELSE 1 END AS hit
      FROM truth t LEFT JOIN ivf i ON t.q_id = i.q_id AND t.c_id = i.c_id)
    SELECT q_id, CAST(5 AS BIGINT) AS k,
      CAST(SUM(hit) AS BIGINT) AS n_hits,
      CAST(SUM(hit) * 20 AS BIGINT) AS recall_pct,
      CAST(MIN(CASE WHEN hit = 0 THEN t_rnk END) AS BIGINT) AS first_miss_rank
    FROM j GROUP BY q_id ORDER BY q_id"""
    })

  // ---------------------------------------------------------------- s17
  // BINARY-SIGN QUANTIZATION + HAMMING SHORTLIST — the 1-bit-per-dimension
  // compression tier below PQ (s10: 8 subquantizers ≈ 8 bytes/vec) and
  // scalar quantization (s05): each 64-dim vector collapses to its sign
  // bitmap, packed into two 32-bit words held in BIGINTs. Candidate
  // generation is then pure integer XOR + popcount — `bit_count(h ^ a_h)`,
  // whole-stage-codegen'd, no float math and 32× less memory traffic than
  // the raw vectors — followed by an exact quantized-cosine rerank of only
  // the top-16 Hamming survivors per anchor (two WindowGroupLimit nodes
  // bound both stages, the s14 discipline). Sign-bit Hamming approximates
  // angular distance (SimHash's guarantee, here applied to the serving
  // path rather than dedup d04/d05), so the 16-deep shortlist recovers
  // most of the exact top-5 — pinned against s01 by spec. The packing is a
  // flat 32-term CASE sum per word (codegen-friendly, no HOF) evaluated
  // ONCE per row; at 100 TB the packed index is the only thing the
  // shortlist scan reads (2 BIGINTs/vec), the full vectors are fetched
  // only for the |anchors|×16 rerank rows.
  private def packSpark(word: Int): String =
    (0 until 32).map { i =>
      s"(CASE WHEN element_at(embedding, ${32 * word + i + 1}) > 0D THEN ${1L << i}L ELSE 0L END)"
    }.mkString(" + ")

  private def packDuck(word: Int): String =
    (0 until 32).map { i =>
      s"(CASE WHEN embedding[${32 * word + i + 1}] > 0 THEN ${1L << i} ELSE 0 END)"
    }.mkString(" + ")

  private val s17 = QueryDef(
    "s17_hamming_rerank",
    (s, dir) => {
      val W = org.apache.spark.sql.expressions.Window
      val packed = withQuant(dir, s)
        .withColumn("h1", expr(packSpark(0)))
        .withColumn("h2", expr(packSpark(1)))
        .select(col("vec_id"), col("qv"), col("norm2"), col("h1"), col("h2"))
      val anchors = packed.filter(col("vec_id") < 8)
        .select(col("vec_id").as("q_id"), col("qv").as("a_qv"),
          col("norm2").as("a_n2"), col("h1").as("a_h1"), col("h2").as("a_h2"))
      packed
        .select(col("vec_id").as("c_id"), col("qv").as("c_qv"),
          col("norm2").as("c_n2"), col("h1"), col("h2"))
        .join(broadcast(anchors), col("c_id") =!= col("q_id"))
        .withColumn("hamming",
          (expr("bit_count(h1 ^ a_h1)") + expr("bit_count(h2 ^ a_h2)")).cast("long"))
        .withColumn("hrnk", row_number().over(
          W.partitionBy(col("q_id")).orderBy(col("hamming"), col("c_id"))))
        .filter(col("hrnk") <= 16)
        .withColumn("sim", cosine("a_qv", "a_n2", "c_qv", "c_n2"))
        .withColumn("rnk", row_number().over(
          W.partitionBy(col("q_id")).orderBy(col("sim").desc, col("c_id"))).cast("long"))
        .filter(col("rnk") <= 5)
        .select(col("q_id"), col("rnk"), col("c_id"), col("hamming"),
          round(col("sim"), 6).as("sim"))
        .orderBy(col("q_id"), col("rnk"))
    },
    Some(s"""WITH $quantCte,
    packed AS (
      SELECT vec_id, qv, norm2,
        ${packDuck(0)} AS h1, ${packDuck(1)} AS h2
      FROM (SELECT e.vec_id, e.embedding, qn.qv, qn.norm2
            FROM embeddings e JOIN qn ON qn.vec_id = e.vec_id)),
    shortlist AS (
      SELECT q_id, c_id, hamming, a_qv, a_n2, c_qv, c_n2 FROM (
        SELECT a.vec_id AS q_id, c.vec_id AS c_id,
          CAST(bit_count(xor(c.h1, a.h1)) + bit_count(xor(c.h2, a.h2)) AS BIGINT) AS hamming,
          a.qv AS a_qv, a.norm2 AS a_n2, c.qv AS c_qv, c.norm2 AS c_n2,
          ROW_NUMBER() OVER (PARTITION BY a.vec_id
            ORDER BY bit_count(xor(c.h1, a.h1)) + bit_count(xor(c.h2, a.h2)), c.vec_id) AS hrnk
        FROM packed a JOIN packed c ON a.vec_id < 8 AND c.vec_id <> a.vec_id)
      WHERE hrnk <= 16)
    SELECT q_id, rnk, c_id, hamming, sim FROM (
      SELECT q_id, c_id, hamming,
        round(CAST(${dotSql("a_qv", "c_qv")} AS DOUBLE)
          / (sqrt(CAST(a_n2 AS DOUBLE)) * sqrt(CAST(c_n2 AS DOUBLE))), 6) AS sim,
        ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY
          CAST(${dotSql("a_qv", "c_qv")} AS DOUBLE)
            / (sqrt(CAST(a_n2 AS DOUBLE)) * sqrt(CAST(c_n2 AS DOUBLE))) DESC, c_id) AS rnk
      FROM shortlist)
    WHERE rnk <= 5 ORDER BY q_id, rnk"""))

  // ---------------------------------------------------------------- s18
  // GREEDY k-CENTER CORESET (Gonzalez farthest-point selection) — the
  // diversity-maximizing sampler of training-data curation: pick the
  // point FARTHEST from everything chosen so far, k times. Unlike
  // s06/s07's k-means (given centers / one refinement step), this SELECTS
  // the centers, with the classic 2-approximation coverage guarantee.
  // Scale shape: the chosen set is tiny (k = 8) and each round is ONE
  // narrow map over the corpus — the new center's vector ships as a
  // broadcast literal into the native dot_i64 codegen (squared L2 from
  // norms: |a−c|² = |a|² − 2a·c + |c|², no per-row HOF), a strict-less
  // min keeps dmin/assignment state incrementally, and the argmax is a
  // TakeOrdered reduce (1-row bounded control input, the t26 discipline).
  // Total cost O(k·N) map work + k constant-size reduces — no shuffle of
  // the corpus, ever. All arithmetic int64-exact, so selection order,
  // tie-breaks (earliest round wins equal distances), and the final
  // assignment hash-match the oracle's independent cross-join argmin.
  private val KCenters = 8

  /** One k-center round's state update: squared L2 to the new center
    * from norms + a broadcast-LITERAL vector through native dot_i64,
    * strict-less dmin/assignment merge — a pure narrow map, ZERO
    * Exchange (the whole point: the corpus never shuffles, k times).
    * Factored out so `KcorePlanSpec` pins that no-shuffle shape
    * directly; s18's registered plan is a post-localCheckpoint
    * ExistingRDD. */
  private[graft] def kcenterUpdate(st: org.apache.spark.sql.DataFrame,
      cqv: Seq[Long], cn2: Long, centerId: Long,
      round: Long): org.apache.spark.sql.DataFrame =
    st.withColumn("dnew",
        col("norm2") - lit(2L) * call_function("dot_i64", col("qv"),
          typedLit(cqv)) + lit(cn2))
      .select(col("vec_id"), col("qv"), col("norm2"),
        when(col("dnew") < col("dmin"), col("dnew")).otherwise(col("dmin")).as("dmin"),
        when(col("dnew") < col("dmin"), lit(centerId)).otherwise(col("cid")).as("cid"),
        when(col("dnew") < col("dmin"), lit(round)).otherwise(col("crnd")).as("crnd"))

  private val s18 = QueryDef(
    "s18_kcenter_coreset",
    (s, dir) => {
      val q = withQuant(dir, s)
        .select(col("vec_id"), col("qv"), col("norm2"))
        .cache()
      q.count()
      val seed = q.filter(col("vec_id") === 0)
        .select(col("qv"), col("norm2")).head
      var centers = List((0L, 0L, 0L)) // (round, center_id, radius)
      var cqv = seed.getSeq[Long](0)
      var cn2 = seed.getLong(1)
      var st = q
        .withColumn("dmin",
          col("norm2") - lit(2L) * call_function("dot_i64", col("qv"),
            typedLit(cqv)) + lit(cn2))
        .withColumn("cid", lit(0L))
        .withColumn("crnd", lit(0L))
        .localCheckpoint()
      (1 to KCenters - 1).foreach { k =>
        val far = st
          .orderBy(col("dmin").desc, col("vec_id"))
          .select(col("vec_id"), col("qv"), col("norm2"), col("dmin"))
          .head // TakeOrdered reduce: 1-row bounded control input
        centers ::= (k.toLong, far.getLong(0), far.getLong(3))
        cqv = far.getSeq[Long](1)
        cn2 = far.getLong(2)
        st = kcenterUpdate(st, cqv, cn2, far.getLong(0), k.toLong)
          .localCheckpoint()
      }
      import s.implicits._
      val centersDf = centers.reverse.toDF("rnd", "center_id", "radius")
      val out = st.groupBy(col("cid").as("center_id"))
        .agg(
          count(lit(1)).as("n_assigned"),
          (sum(col("vec_id")) % lit(HashMod)).cast("long").as("id_checksum"))
        .join(broadcast(centersDf), Seq("center_id"))
        .select(col("rnd"), col("center_id"), col("radius"),
          col("n_assigned"), col("id_checksum"))
        .orderBy(col("rnd"))
        .localCheckpoint()
      q.unpersist()
      out
    },
    Some {
      val dot = dotSql("q.qv", "c.qv")
      s"""WITH $quantCte,
    c0 AS (SELECT vec_id, qv, norm2, CAST(0 AS BIGINT) AS rnd,
             CAST(0 AS BIGINT) AS radius FROM qn WHERE vec_id = 0),
    d1 AS (SELECT q.vec_id, q.norm2 + c.norm2 - 2 * $dot AS dmin
           FROM qn q, c0 c),
    ${(1 to KCenters - 1).map { k =>
        s"""s$k AS (SELECT vec_id, dmin FROM d$k ORDER BY dmin DESC, vec_id LIMIT 1),
    c$k AS (SELECT q.vec_id, q.qv, q.norm2, CAST($k AS BIGINT) AS rnd,
             s$k.dmin AS radius FROM qn q JOIN s$k ON q.vec_id = s$k.vec_id)""" +
          (if (k < KCenters - 1)
            s""",
    d${k + 1} AS (SELECT d$k.vec_id,
             LEAST(d$k.dmin, q.norm2 + c.norm2 - 2 * $dot) AS dmin
           FROM d$k JOIN qn q ON q.vec_id = d$k.vec_id, c$k c)"""
          else "")
      }.mkString(",\n    ")},
    cen AS (${(0 to KCenters - 1).map(k => s"SELECT * FROM c$k").mkString(" UNION ALL ")}),
    asg AS (SELECT q.vec_id AS v, c.vec_id AS cid, c.rnd,
             q.norm2 + c.norm2 - 2 * $dot AS dist
           FROM qn q, cen c),
    best AS (SELECT v, cid FROM (
             SELECT v, cid, ROW_NUMBER() OVER (PARTITION BY v ORDER BY dist, rnd) AS rn
             FROM asg) WHERE rn = 1)
    SELECT c.rnd, c.vec_id AS center_id, c.radius,
      COUNT(*) AS n_assigned,
      CAST(SUM(b.v) % $HashMod AS BIGINT) AS id_checksum
    FROM cen c JOIN best b ON b.cid = c.vec_id
    GROUP BY c.rnd, c.vec_id, c.radius ORDER BY c.rnd"""
    })

  // ---------------------------------------------------------------- s19
  // EMBEDDING-CENTROID DRIFT — the embedding-space member of the
  // distribution-shift family (t21 unigram, t30 bigram, s19 vectors):
  // per label, how far the mean vector of one consistent-hash split
  // sits from the other's — the monitor that catches an embedding
  // pipeline silently changing under a stable schema (model swap,
  // preprocessing drift, poisoned slice). Exactness: centroids are
  // RATIONAL (per-dim int64 sums / counts), so the squared distance is
  // compared over the COMMON DENOMINATOR — Σ(s1·n2 − s2·n1)² in
  // DECIMAL(38,0) (≤ ~6e26, exact on both engines), divided once by
  // (n1·n2)² under IEEE doubles. Everything before the final division
  // is integer: per-(label, dim) sums are one explode + two-phase
  // aggregate (the only vector-volume shuffle, keyed by (label, dim));
  // the |labels|×64 term table collapses in one more aggregate.
  private val s19 = QueryDef(
    "s19_centroid_drift",
    (s, dir) => {
      val base = withQuant(dir, s)
        .select(col("vec_id"), col("label"), col("qv"),
          (expr(s"${strHashExpr("CAST(vec_id AS STRING)")} % 10") < 8).as("a"))
        .select(col("label"), col("a"), posexplode(col("qv")).as(Seq("dim", "q")))
      val sums = base
        .groupBy(col("label"), col("dim"))
        .agg(
          sum(when(col("a"), col("q")).otherwise(0L)).as("s1"),
          sum(when(!col("a"), col("q")).otherwise(0L)).as("s2"),
          sum(when(col("a"), 1L).otherwise(0L)).as("c1"),
          sum(when(!col("a"), 1L).otherwise(0L)).as("c2"))
      sums
        .withColumn("term",
          (col("s1") * col("c2") - col("s2") * col("c1"))
            .cast(org.apache.spark.sql.types.DecimalType(38, 0)))
        .groupBy(col("label"))
        .agg(
          max(col("c1")).as("n_a"), max(col("c2")).as("n_b"),
          sum(col("term") * col("term")).as("num"))
        .select(col("label"), col("n_a"), col("n_b"),
          (col("num").cast("double") /
            (col("n_a") * col("n_b")).cast("double") /
            (col("n_a") * col("n_b")).cast("double")).as("drift2"),
          (col("num") % lit(HashMod)).cast("long").as("num_checksum"))
        .orderBy(col("label"))
    },
    Some(s"""WITH q AS (
      SELECT vec_id, label, ${quantizeSql("embedding")} AS qv,
        ${strHashSql("CAST(vec_id AS VARCHAR)")} % 10 < 8 AS a
      FROM embeddings),
    ex AS (SELECT label, a, g.i AS dim, qv[g.i + 1] AS qq
           FROM q, generate_series(0, 63) AS g(i)),
    sums AS (SELECT label, dim,
        CAST(SUM(CASE WHEN a THEN qq ELSE 0 END) AS BIGINT) AS s1,
        CAST(SUM(CASE WHEN NOT a THEN qq ELSE 0 END) AS BIGINT) AS s2,
        CAST(SUM(CASE WHEN a THEN 1 ELSE 0 END) AS BIGINT) AS c1,
        CAST(SUM(CASE WHEN NOT a THEN 1 ELSE 0 END) AS BIGINT) AS c2
      FROM ex GROUP BY 1, 2),
    terms AS (SELECT label, c1, c2,
        CAST(s1 * c2 - s2 * c1 AS DECIMAL(38,0)) AS term
      FROM sums)
    SELECT label, MAX(c1) AS n_a, MAX(c2) AS n_b,
      CAST(SUM(term * term) AS DOUBLE)
        / CAST(MAX(c1) * MAX(c2) AS DOUBLE)
        / CAST(MAX(c1) * MAX(c2) AS DOUBLE) AS drift2,
      CAST(CAST(SUM(term * term) AS DECIMAL(38,0)) % ${HashMod}
        AS BIGINT) AS num_checksum
    FROM terms GROUP BY label ORDER BY label"""))

  // ---------------------------------------------------------------- s20
  // k-NN GRAPH BUILD — the neighborhood-graph constructor behind
  // graph-based ANN (NN-descent initialization, HNSW layer-0) and
  // graph-propagated curation (label spreading over near-neighbors):
  // each vector's directed top-3 cosine edges, restricted to its IVF
  // cell, plus the MUTUAL-edge subgraph (both directions survive the
  // top-k cut — the symmetrized graph NN-descent actually refines;
  // mutual rate is the standard connectivity diagnostic for "is k big
  // enough"). Scale contract is d30's: candidate pairs form only within
  // a nearest-centroid cluster, quadratic in |cluster| with k ∝ N
  // keeping cells bounded; the per-source top-3 is a window on the
  // cluster-pair stream (never a global sort), and the mutuality check
  // is an equi-self-join on the (src, dst) edge key — edge-volume, i.e.
  // ≤ 3N rows a side. Ties break on (sim DESC, dst): both engines rank
  // the same IEEE double computed from exact int64 dots, so ranks agree
  // bit-for-bit (the s01 discipline).
  private val s20 = QueryDef(
    "s20_knn_graph",
    (s, dir) => {
      val q = withQuant(dir, s)
      val cent = labelCentroids(q)
      val assigned = ivfAssign(q, cent).filter(col("crnk") === 1)
        .select(col("vec_id"), col("qv"), col("norm2"), col("c_label"))
        .cache()
      assigned.count()
      val a = assigned.select(col("c_label"),
        col("vec_id").as("src"), col("qv").as("qv1"), col("norm2").as("n1"))
      val b = assigned.select(col("c_label").as("cl2"),
        col("vec_id").as("dst"), col("qv").as("qv2"), col("norm2").as("n2"))
      val edges = a.join(b,
          col("c_label") === col("cl2") && col("src") =!= col("dst"))
        .withColumn("sim", cosine("qv1", "n1", "qv2", "n2"))
        .withColumn("rnk", row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy(col("src")).orderBy(col("sim").desc, col("dst"))))
        .filter(col("rnk") <= 3)
        .select(col("c_label"), col("src"), col("dst"))
        .cache()
      edges.count()
      val mutual = edges.as("e1")
        .join(edges.as("e2"),
          col("e1.src") === col("e2.dst") && col("e1.dst") === col("e2.src"))
        .filter(col("e1.src") < col("e1.dst"))
        .select(col("e1.c_label").as("c_label"), col("e1.src").as("src"),
          col("e1.dst").as("dst"))
      val out = assigned.groupBy(col("c_label")).agg(count(lit(1)).as("n_nodes"))
        .join(edges.groupBy(col("c_label")).agg(count(lit(1)).as("n_edges")),
          Seq("c_label"), "left")
        .join(mutual.groupBy(col("c_label")).agg(
            count(lit(1)).as("n_mutual"),
            (sum((col("src") * 1000003L + col("dst")) % HashMod) % HashMod)
              .as("mutual_checksum")),
          Seq("c_label"), "left")
        .select(col("c_label"), col("n_nodes"),
          coalesce(col("n_edges"), lit(0L)).as("n_edges"),
          coalesce(col("n_mutual"), lit(0L)).as("n_mutual"),
          coalesce(col("mutual_checksum"), lit(0L)).as("mutual_checksum"))
        .orderBy(col("c_label"))
        .localCheckpoint()
      edges.unpersist()
      assigned.unpersist()
      out
    },
    Some(s"""WITH $quantCte,
    $ivfProbeCte,
    cb AS (SELECT vec_id, qv, norm2, list_label AS c_label FROM lists),
    e AS (SELECT c_label, src, dst FROM (
        SELECT a.c_label, a.vec_id AS src, b.vec_id AS dst,
          ROW_NUMBER() OVER (PARTITION BY a.vec_id
            ORDER BY $simSql DESC, b.vec_id) AS rnk
        FROM cb a JOIN cb b
          ON a.c_label = b.c_label AND a.vec_id <> b.vec_id)
      WHERE rnk <= 3),
    m AS (SELECT e1.c_label, e1.src, e1.dst
          FROM e e1 JOIN e e2 ON e1.src = e2.dst AND e1.dst = e2.src
          WHERE e1.src < e1.dst),
    nn AS (SELECT c_label, COUNT(*) AS n_nodes FROM cb GROUP BY 1),
    ec AS (SELECT c_label, COUNT(*) AS n_edges FROM e GROUP BY 1),
    mc AS (SELECT c_label, COUNT(*) AS n_mutual,
             CAST(SUM((src * 1000003 + dst) % $HashMod) % $HashMod AS BIGINT)
               AS mutual_checksum
           FROM m GROUP BY 1)
    SELECT nn.c_label, nn.n_nodes,
      COALESCE(ec.n_edges, 0) AS n_edges,
      COALESCE(mc.n_mutual, 0) AS n_mutual,
      COALESCE(mc.mutual_checksum, 0) AS mutual_checksum
    FROM nn LEFT JOIN ec ON nn.c_label = ec.c_label
    LEFT JOIN mc ON nn.c_label = mc.c_label
    ORDER BY nn.c_label"""))

  // ---------------------------------------------------------------- s21
  // PCA POWER ITERATION (matrix-free) — the top principal component of
  // the centered embedding cloud plus its explained-variance ratio: the
  // spectral diagnostic behind embedding anisotropy checks and the
  // "all-but-the-top" / whitening post-processing step (dominant-PC
  // removal) curation pipelines run before similarity search. The 64×64
  // covariance is NEVER materialized: each iteration computes C·v as
  // Σᵢ cᵢ(cᵢ·v) with two one-pass aggregations — dᵢ = cᵢ·v via the
  // codegen'd dot_i64 against a LITERAL v, then 64 map-side-combined
  // sums — and ships exactly 64 numbers to the driver per round (the
  // MLlib RowMatrix/gram-free pattern: O(dims) driver traffic, O(N)
  // executor work, no shuffle wider than one row). Every step is exact
  // integer math so the 4-round unrolled DuckDB oracle reproduces v
  // bit-for-bit: quantized components are centered on the floor-mean,
  // w sums accumulate in DECIMAL(38,0)/HUGEINT (per-term ~2.6e22
  // overflows int64), w is pre-scaled by N before normalizing (keeps
  // every later product under 38 digits at any N), and ALL divisions
  // route negatives through truncate-toward-zero CASE arms because
  // Spark's DIV truncates while DuckDB's // floors — the one
  // cross-engine integer-division divergence, invisible until a
  // negative loading hits it. Normalization pins ‖v‖∞ = 1e6 with the
  // sign fixed positive at the smallest max-|w| index (power iteration
  // is sign-ambiguous; the rule makes both engines and every rerun
  // agree). Assumes a non-degenerate corpus (some variance — mx > 0),
  // which any real embedding table satisfies.
  private val PcaIters = 4

  /** Truncate-toward-zero division as SQL text (num may be negative,
    * den > 0) — identical semantics on Spark (`DIV` truncates) and
    * DuckDB (`//` floors, so the negative arm re-routes through the
    * positive one). */
  private def tdivSql(num: String, den: String, op: String): String =
    s"CASE WHEN ($num) >= 0 THEN ($num) $op ($den) ELSE -((-($num)) $op ($den)) END"

  private val s21 = QueryDef(
    "s21_pca_power",
    (s, dir) => {
      import s.implicits._
      val dec = org.apache.spark.sql.types.DecimalType(38, 0)
      val q = withQuant(dir, s)
      // global floor-mean per position (the labelCentroids rule, one
      // group): exact under float64 at any N both engines can reach
      val m = q.select(posexplode(col("qv")).as(Seq("pos", "x")))
        .groupBy(col("pos"))
        .agg(floor(sum(col("x")).cast("double") / count(lit(1))).cast("long").as("m"))
        .collect().map(r => (r.getInt(0), r.getLong(1))).sortBy(_._1).map(_._2)
      val mLit = m.mkString("array(", "L, ", "L)")
      val centered = q
        .select(col("vec_id"), expr(s"zip_with(qv, $mLit, (x, m) -> x - m)").as("cv"))
        .cache()
      val n = centered.count()
      def tdiv(a: BigInt, b: BigInt): BigInt = a / b // BigInt divide truncates
      var v: IndexedSeq[BigInt] = IndexedSeq.fill(64)(BigInt(1000000))
      def vLit = v.map(x => s"CAST($x AS BIGINT)").mkString("array(", ", ", ")")
      for (_ <- 1 to PcaIters) {
        val dd = centered.select(col("cv"), expr(s"dot_i64(cv, $vLit)").as("d"))
        val aggs = (0 until 64).map(j =>
          sum(element_at(col("cv"), j + 1).cast(dec) * col("d")).as(s"w$j"))
        val row = dd.agg(aggs.head, aggs.tail: _*).collect()(0)
        val wn = (0 until 64).map(j =>
          tdiv(BigInt(row.getDecimal(j).toBigInteger), BigInt(n)))
        val mx = wn.map(_.abs).max
        val sgn = if (wn(wn.indexWhere(_.abs == mx)) < 0) BigInt(-1) else BigInt(1)
        if (mx > 0) v = wn.map(x => tdiv(x * sgn * 1000000, mx))
      }
      val fin = centered
        .select(expr(s"dot_i64(cv, $vLit)").as("d"), col("cv"))
        .agg(sum(col("d").cast(dec) * col("d")).as("ssd"),
          sum(expr("dot_i64(cv, cv)").cast(dec)).as("ssc"))
        .collect()(0)
      centered.unpersist()
      val ssd = BigInt(fin.getDecimal(0).toBigInteger)
      val ssc = BigInt(fin.getDecimal(1).toBigInteger)
      val sv2 = v.map(x => x * x).sum
      val evPpm = tdiv(tdiv(ssd, sv2) * 1000000, ssc)
      v.zipWithIndex
        .map { case (x, j) => (j + 1L, x.toLong, evPpm.toLong) }
        .toDF("pos", "loading", "ev_ppm")
    },
    Some {
      // one unrolled iteration: d<k> from v<k-1>, HUGEINT w sums,
      // N-prescale, max-abs sign rule, ‖·‖∞ = 1e6 renormalize
      // (every CTE is forced MATERIALIZED below: DuckDB inlines CTEs by
      // default, and the 4-deep iteration chain re-expands its whole
      // prefix at every reference — measured 219 s inlined vs 0.1 s
      // materialized at sf0.001, identical results)
      def iter(k: Int): String = {
        val pv = if (k == 1) "v0" else s"v${k - 1}"
        s"""d$k AS (SELECT vec_id, cv,
          list_reduce(list_transform(list_zip(cv, (SELECT v FROM $pv)),
            p -> p[1] * p[2]), (a, b) -> a + b) AS d FROM cvt),
    w$k AS (SELECT i AS pos, SUM(CAST(cv[i] AS HUGEINT) * d) AS w
            FROM d$k CROSS JOIN generate_series(1, 64) AS g(i) GROUP BY i),
    wn$k AS (SELECT pos, ${tdivSql("w", "(SELECT n FROM nn)", "//")} AS wn FROM w$k),
    mx$k AS (SELECT mx, (SELECT CASE WHEN wn < 0 THEN -1 ELSE 1 END FROM wn$k
               WHERE ABS(wn) = mx ORDER BY pos LIMIT 1) AS s
             FROM (SELECT MAX(ABS(wn)) AS mx FROM wn$k)),
    v$k AS (SELECT list(CAST(${tdivSql("wn * s * 1000000", "mx", "//")} AS BIGINT)
              ORDER BY pos) AS v
            FROM wn$k, mx$k)"""
      }
      val sql = s"""WITH $quantCte,
    ex AS (SELECT vec_id, i AS pos, qv[i] AS x
           FROM qn CROSS JOIN generate_series(1, 64) AS g(i)),
    mn AS (SELECT pos, CAST(floor(CAST(SUM(x) AS DOUBLE) / COUNT(*)) AS BIGINT) AS m
           FROM ex GROUP BY pos),
    ml AS (SELECT list(m ORDER BY pos) AS m FROM mn),
    cvt AS (SELECT vec_id, list_transform(list_zip(qv, (SELECT m FROM ml)),
              p -> p[1] - p[2]) AS cv FROM qn),
    nn AS (SELECT COUNT(*) AS n FROM cvt),
    v0 AS (SELECT list_transform(generate_series(1, 64),
             i -> CAST(1000000 AS BIGINT)) AS v),
    ${(1 to PcaIters).map(iter).mkString(",\n    ")},
    df AS (SELECT vec_id, cv,
             list_reduce(list_transform(list_zip(cv, (SELECT v FROM v$PcaIters)),
               p -> p[1] * p[2]), (a, b) -> a + b) AS d FROM cvt),
    fin AS (SELECT SUM(CAST(d AS HUGEINT) * d) AS ssd,
              SUM(CAST(list_reduce(list_transform(list_zip(cv, cv),
                p -> p[1] * p[2]), (a, b) -> a + b) AS HUGEINT)) AS ssc
            FROM df),
    sv AS (SELECT SUM(CAST(vj AS HUGEINT) * vj) AS sv2
           FROM (SELECT unnest((SELECT v FROM v$PcaIters)) AS vj))
    SELECT CAST(i AS BIGINT) AS pos,
      (SELECT v FROM v$PcaIters)[i] AS loading,
      CAST(((ssd // sv2) * 1000000) // ssc AS BIGINT) AS ev_ppm
    FROM generate_series(1, 64) AS g(i), fin, sv
    ORDER BY pos"""
      // "<name> AS (" appears only at CTE heads in this query (column
      // aliases never precede a paren), so the rewrite is total
      sql.replaceAll("""AS \(""", "AS MATERIALIZED (")
    })

  // ---------------------------------------------------------------- s22
  // PROTOTYPICALITY PRUNING — the embedding-side data-pruning screen
  // ("SSL prototypes": score every example by cosine to its own cluster
  // centroid, drop the least prototypical) that complements d30's
  // SemDeDup: d30 prunes points too CLOSE to a cluster neighbor
  // (redundancy), s22 prunes points too FAR from their own centroid
  // (outliers / label noise). The threshold is a CONFIG constant (0.0 =
  // anti-correlated with own cluster), not a data-derived percentile, so
  // the prune decision is a pure per-row expression — no rank window over
  // a K-bounded partition key (the q04 skew funnel: members-per-cluster
  // grows with N, cluster count doesn't). Scale: one posexplode +
  // map-side-combined aggregate builds the K×64 centroid table (shuffle
  // rows = K×64, not N), the centroid join is a K-row bounded broadcast,
  // and the verdict aggregate is one hash agg on the bounded label key.
  // Cosine inputs are exact int64 (quantized), so the double division and
  // the τ comparison are engine-identical; sim sums go through the
  // deterministic DECIMAL path ([[Tables.dsum]]).
  private val s22 = QueryDef(
    "s22_prototype_prune",
    (s, dir) => {
      val q = withQuant(dir, s)
      val cent = labelCentroids(q) // bounded: one row per cluster label
      q.join(broadcast(cent), col("label") === col("c_label"))
        .withColumn("sim", cosine("qv", "norm2", "cqv", "cnorm2"))
        .withColumn("pruned", col("sim") < 0.0d)
        .groupBy(col("label").cast("long").as("label"))
        .agg(
          count(lit(1)).as("n_members"),
          sum(when(col("pruned"), 1L).otherwise(0L)).as("n_pruned"),
          dsum(col("sim"), 6).as("sum_sim"),
          (sum(when(col("pruned"), col("vec_id") % HashMod).otherwise(0L)) % HashMod)
            .as("pruned_checksum"))
        .orderBy(col("label"))
    },
    Some(s"""WITH $quantCte,
    ${centroidCte()},
    cn AS (SELECT c_label, cqv, ${dotSql("cqv", "cqv")} AS cnorm2 FROM ce),
    sc AS (SELECT qn.vec_id, qn.label,
             CAST(${dotSql("qn.qv", "cn.cqv")} AS DOUBLE)
               / (sqrt(CAST(qn.norm2 AS DOUBLE)) * sqrt(CAST(cn.cnorm2 AS DOUBLE))) AS sim
           FROM qn JOIN cn ON cn.c_label = qn.label)
    SELECT CAST(label AS BIGINT) AS label, COUNT(*) AS n_members,
      CAST(SUM(CASE WHEN sim < 0.0 THEN 1 ELSE 0 END) AS BIGINT) AS n_pruned,
      ${dsumSql("sim", 6)} AS sum_sim,
      CAST(SUM(CASE WHEN sim < 0.0 THEN vec_id % $HashMod ELSE 0 END) % $HashMod AS BIGINT)
        AS pruned_checksum
    FROM sc GROUP BY 1 ORDER BY 1"""))

  // ---------------------------------------------------------------- s23
  // RECALL-vs-PROBES SWEEP — the nprobe TUNING CURVE s16's single point
  // can't draw: corpus-level recall@5 of the IVF index at probe budgets
  // 1, 2, and 3, in one query. This is the measurement that actually
  // sets an index's latency/recall knob. One centroid assignment is
  // computed once; a candidate reached through the j-th-nearest probed
  // centroid belongs to every budget p ≥ j, so the sweep is a 3-row
  // bounded budgets broadcast + a probe-rank filter — the expensive
  // list join runs ONCE at the widest budget, never per budget. Ranking
  // windows partition on (budget, anchor) — bounded 3×|anchors| groups
  // with nprobe-bounded members. Both sides are exact integer dot
  // products (s16's discipline), recall ships as integer ppm.
  private val s23 = QueryDef(
    "s23_recall_probe_sweep",
    (s, dir) => {
      val all = withQuant(dir, s)
      val anchors = all.filter(col("vec_id") < 8)
        .select(col("vec_id").as("q_id"), col("qv").as("q_qv"),
          col("norm2").as("q_norm2"))
      val winQ = org.apache.spark.sql.expressions.Window
        .partitionBy(col("q_id")).orderBy(col("sim").desc, col("c_id"))
      val truth = all
        .select(col("vec_id").as("c_id"), col("qv").as("c_qv"), col("norm2").as("c_norm2"))
        .join(broadcast(anchors), col("c_id") =!= col("q_id"))
        .withColumn("sim", cosine("q_qv", "q_norm2", "c_qv", "c_norm2"))
        .withColumn("t_rnk", row_number().over(winQ).cast("long"))
        .filter(col("t_rnk") <= 5)
        .select(col("q_id"), col("c_id"))
      val cent = labelCentroids(all)
      val assigned = ivfAssign(all, cent)
      val lists = ivfLists(assigned)
      val probes = assigned.filter(col("vec_id") < 8 && col("crnk") <= 3)
        .select(col("vec_id").as("q_id"), col("qv").as("q_qv"),
          col("norm2").as("q_norm2"), col("c_label").as("probe_label"),
          col("crnk").cast("long").as("probe_rnk"))
      val budgets = s.range(1, 4).select(col("id").as("p"))
      val cand = lists.join(broadcast(probes),
          col("list_label") === col("probe_label") && col("vec_id") =!= col("q_id"))
        .crossJoin(broadcast(budgets)) // bounded: 3 budget rows
        .filter(col("probe_rnk") <= col("p"))
        .withColumn("sim", cosine("q_qv", "q_norm2", "qv", "norm2"))
        .withColumn("rnk", row_number().over(org.apache.spark.sql.expressions.Window
          .partitionBy(col("p"), col("q_id")).orderBy(col("sim").desc, col("vec_id"))))
        .filter(col("rnk") <= 5)
        .select(col("p"), col("q_id"), col("vec_id").as("c_id"), lit(1L).as("hit"))
      truth.crossJoin(broadcast(budgets))
        .join(cand, Seq("p", "q_id", "c_id"), "left")
        .withColumn("hit", coalesce(col("hit"), lit(0L)))
        .groupBy(col("p").as("nprobe"))
        .agg(
          count(lit(1)).as("n_truth"),
          sum(col("hit")).as("n_hits"))
        .withColumn("recall_ppm", expr("n_hits * 1000000 DIV n_truth"))
        .orderBy(col("nprobe"))
    },
    Some {
      val ivfSim =
        s"CAST(${dotSql("p.q_qv", "l.qv")} AS DOUBLE) / (sqrt(CAST(p.q_norm2 AS DOUBLE)) * sqrt(CAST(l.norm2 AS DOUBLE)))"
      val truthSim =
        s"CAST(${dotSql("q.q_qv", "a.qv")} AS DOUBLE) / (sqrt(CAST(q.q_norm2 AS DOUBLE)) * sqrt(CAST(a.norm2 AS DOUBLE)))"
      s"""WITH $quantCte,
    $ivfProbeCte,
    pb AS (SELECT vec_id AS q_id, qv AS q_qv, norm2 AS q_norm2,
             c_label AS probe_label, CAST(crnk AS BIGINT) AS probe_rnk
           FROM asg WHERE vec_id < 8 AND crnk <= 3),
    bud AS (SELECT unnest(generate_series(1, 3)) AS p),
    cand AS (SELECT p, q_id, c_id FROM (
        SELECT b.p, p.q_id, l.vec_id AS c_id,
          ROW_NUMBER() OVER (PARTITION BY b.p, p.q_id
            ORDER BY $ivfSim DESC, l.vec_id) AS rnk
        FROM lists l
        JOIN pb p ON l.list_label = p.probe_label AND l.vec_id <> p.q_id
        CROSS JOIN bud b
        WHERE p.probe_rnk <= b.p)
      WHERE rnk <= 5),
    anch AS (SELECT vec_id AS q_id, qv AS q_qv, norm2 AS q_norm2 FROM qn WHERE vec_id < 8),
    truth AS (SELECT q_id, c_id FROM (
        SELECT q.q_id, a.vec_id AS c_id,
          ROW_NUMBER() OVER (PARTITION BY q.q_id ORDER BY $truthSim DESC, a.vec_id) AS t_rnk
        FROM qn a JOIN anch q ON a.vec_id <> q.q_id)
      WHERE t_rnk <= 5),
    j AS (SELECT b.p, t.q_id, t.c_id,
            CASE WHEN c.c_id IS NULL THEN 0 ELSE 1 END AS hit
          FROM truth t CROSS JOIN bud b
          LEFT JOIN cand c ON c.p = b.p AND c.q_id = t.q_id AND c.c_id = t.c_id)
    SELECT CAST(p AS BIGINT) AS nprobe, COUNT(*) AS n_truth,
      CAST(SUM(hit) AS BIGINT) AS n_hits,
      CAST(SUM(hit) * 1000000 // COUNT(*) AS BIGINT) AS recall_ppm
    FROM j GROUP BY 1 ORDER BY 1"""
    })

  // ---------------------------------------------------------------- s24
  // ATTRIBUTE-FILTERED ANN — vector search under a per-query metadata
  // predicate (the "filtered search" mode every production vector store
  // exposes: top-k among candidates matching the request's filter, here
  // label ≡ q_id mod 3). The query runs the filter through BOTH
  // strategies and reports the trade: exact pre-filter search (the
  // ground truth — predicate pushed into the candidate scan, then
  // brute-force rank over the ~⅓ that survive) versus filtered-IVF
  // (s04's nearest-2-list probe with the predicate applied to list
  // entries BEFORE any distance math). Output per query: candidate
  // count after the filter (the selectivity the strategy chooser would
  // key on), hits, recall, and the first exact rank the filtered index
  // missed. At 100 TB: the predicate is a pure per-row comparison that
  // rides in the inverted-list payload, so the IVF side stays
  // nprobe-bounded AND shrinks by selectivity before ranking — the
  // failure mode this audit quantifies is the classic one where a
  // selective filter empties the probed lists and recall collapses
  // (the signal to fall back to the pre-filter scan). Both sides are
  // exact int64 dot products, so every number is deterministic.
  private val s24 = QueryDef(
    "s24_filtered_ann",
    (s, dir) => {
      val all = withQuant(dir, s)
      val anchors = all.filter(col("vec_id") < 8)
        .select(col("vec_id").as("q_id"), col("qv").as("q_qv"),
          col("norm2").as("q_norm2"))
      // exact pre-filter side: predicate in the join condition, so it
      // prunes candidates before the dot product is ever computed
      val filtered = all
        .select(col("vec_id").as("c_id"), col("label").as("c_lab"),
          col("qv").as("c_qv"), col("norm2").as("c_norm2"))
        .join(broadcast(anchors),
          col("c_id") =!= col("q_id") && col("c_lab") % 3 === col("q_id") % 3)
      val nCands = filtered.groupBy(col("q_id")).agg(count(lit(1)).as("n_cands"))
      val winQ = org.apache.spark.sql.expressions.Window
        .partitionBy(col("q_id")).orderBy(col("sim").desc, col("c_id"))
      val truth = filtered
        .withColumn("sim", cosine("q_qv", "q_norm2", "c_qv", "c_norm2"))
        .withColumn("t_rnk", row_number().over(winQ).cast("long"))
        .filter(col("t_rnk") <= 5)
        .select(col("q_id"), col("t_rnk"), col("c_id"))
      // filtered-IVF side: s04's probe shape, predicate on list entries
      val cent = labelCentroids(all)
      val assigned = ivfAssign(all, cent)
      val lists = assigned.filter(col("crnk") === 1)
        .select(col("vec_id"), col("label"), col("qv"), col("norm2"),
          col("c_label").as("list_label"))
      val probes = ivfProbes(assigned, 2)
      val ivf = lists.join(broadcast(probes),
          col("list_label") === col("probe_label") && col("vec_id") =!= col("q_id") &&
            col("label") % 3 === col("q_id") % 3)
        .withColumn("sim", cosine("q_qv", "q_norm2", "qv", "norm2"))
        .withColumn("rnk", row_number().over(org.apache.spark.sql.expressions.Window
          .partitionBy(col("q_id")).orderBy(col("sim").desc, col("vec_id"))))
        .filter(col("rnk") <= 5)
        .select(col("q_id"), col("vec_id").as("c_id"), lit(1L).as("hit"))
      truth.join(ivf, Seq("q_id", "c_id"), "left")
        .withColumn("hit", coalesce(col("hit"), lit(0L)))
        .groupBy(col("q_id"))
        .agg(
          sum(col("hit")).as("n_hits"),
          (sum(col("hit")) * lit(20L)).as("recall_pct"),
          min(when(col("hit") === 0L, col("t_rnk"))).as("first_miss_rank"))
        .join(broadcast(nCands), Seq("q_id"))
        .withColumn("k", lit(5L))
        .select(col("q_id"), col("k"), col("n_cands"), col("n_hits"),
          col("recall_pct"), col("first_miss_rank"))
        .orderBy(col("q_id"))
    },
    Some {
      val ivfSim =
        s"CAST(${dotSql("p.q_qv", "l.qv")} AS DOUBLE) / (sqrt(CAST(p.q_norm2 AS DOUBLE)) * sqrt(CAST(l.norm2 AS DOUBLE)))"
      val truthSim =
        s"CAST(${dotSql("q.q_qv", "a.qv")} AS DOUBLE) / (sqrt(CAST(q.q_norm2 AS DOUBLE)) * sqrt(CAST(a.norm2 AS DOUBLE)))"
      s"""WITH $quantCte,
    $ivfProbeCte,
    fivf AS (SELECT q_id, c_id FROM (
        SELECT p.q_id, l.vec_id AS c_id,
          ROW_NUMBER() OVER (PARTITION BY p.q_id ORDER BY $ivfSim DESC, l.vec_id) AS rnk
        FROM lists l
        JOIN qn v ON v.vec_id = l.vec_id
        JOIN probes p ON l.list_label = p.probe_label AND l.vec_id <> p.q_id
          AND v.label % 3 = p.q_id % 3)
      WHERE rnk <= 5),
    anch AS (SELECT vec_id AS q_id, qv AS q_qv, norm2 AS q_norm2 FROM qn WHERE vec_id < 8),
    ft AS (SELECT q.q_id, a.vec_id AS c_id,
          ROW_NUMBER() OVER (PARTITION BY q.q_id ORDER BY $truthSim DESC, a.vec_id) AS t_rnk
        FROM qn a JOIN anch q ON a.vec_id <> q.q_id AND a.label % 3 = q.q_id % 3),
    nc AS (SELECT q_id, COUNT(*) AS n_cands FROM ft GROUP BY q_id),
    truth AS (SELECT q_id, t_rnk, c_id FROM ft WHERE t_rnk <= 5),
    j AS (SELECT t.q_id, t.t_rnk,
        CASE WHEN i.c_id IS NULL THEN 0 ELSE 1 END AS hit
      FROM truth t LEFT JOIN fivf i ON t.q_id = i.q_id AND t.c_id = i.c_id)
    SELECT j.q_id, CAST(5 AS BIGINT) AS k, nc.n_cands,
      CAST(SUM(hit) AS BIGINT) AS n_hits,
      CAST(SUM(hit) * 20 AS BIGINT) AS recall_pct,
      CAST(MIN(CASE WHEN hit = 0 THEN t_rnk END) AS BIGINT) AS first_miss_rank
    FROM j JOIN nc ON j.q_id = nc.q_id
    GROUP BY j.q_id, nc.n_cands ORDER BY j.q_id"""
    })

  // ---------------------------------------------------------------- s25
  // SIMPLIFIED SILHOUETTE — cluster-quality scoring at O(N·K) instead of
  // the textbook O(N²): per vector, a = distance to its OWN label
  // centroid, b = the nearest OTHER centroid, s = (b − a)/max(a, b) ∈
  // [−1, 1]; negative s means the vector sits closer to a foreign
  // centroid than its own (the misfit count is the actionable column —
  // candidates for re-labeling or s22's prune). Squared distances are
  // exact int64 (norm² − 2·dot + cnorm²) so the sqrt inputs are
  // identical on both engines; per-row silhouettes round to 6 decimals
  // and sum as DECIMAL (the dsum discipline — a double sum would be
  // partition-order-dependent). Plan: one K-row centroid broadcast into
  // a narrow corpus map, one per-vector min over K rows, one per-label
  // aggregate — no window, nothing shuffles but partials.
  private val s25 = QueryDef(
    "s25_simplified_silhouette",
    (s, dir) => {
      val q = withQuant(dir, s)
      val cent = labelCentroids(q)
      val d = q.join(broadcast(cent))
        .withColumn("d2",
          col("norm2") - lit(2L) * expr(dotExpr("qv", "cqv")) + col("cnorm2"))
      val own = d.filter(col("label") === col("c_label"))
        .select(col("vec_id"), col("label"), col("d2").as("a2"))
      val other = d.filter(col("label") =!= col("c_label"))
        .groupBy(col("vec_id")).agg(min(col("d2")).as("b2"))
      own.join(other, "vec_id")
        .withColumn("sil", round(
          (sqrt(col("b2").cast("double")) - sqrt(col("a2").cast("double"))) /
            greatest(sqrt(col("a2").cast("double")), sqrt(col("b2").cast("double"))), 6))
        .groupBy(col("label"))
        .agg(
          count(lit(1)).as("n"),
          sum(when(col("b2") < col("a2"), 1L).otherwise(0L)).as("n_misfit"),
          round(sum(col("sil").cast(org.apache.spark.sql.types.DecimalType(18, 6)))
            .cast("double") / count(lit(1)), 6).as("mean_sil"))
        .orderBy(col("label"))
    },
    Some {
      val d2 = s"(v.norm2 - 2 * ${dotSql("v.qv", "c.cqv")} + c.cnorm2)"
      s"""WITH $quantCte,
    ${centroidCte()},
    cn AS (SELECT c_label, cqv, ${dotSql("cqv", "cqv")} AS cnorm2 FROM ce),
    dd AS (SELECT v.vec_id, v.label, c.c_label, $d2 AS d2
           FROM qn v CROSS JOIN cn c),
    own AS (SELECT vec_id, label, d2 AS a2 FROM dd WHERE label = c_label),
    oth AS (SELECT vec_id, MIN(d2) AS b2 FROM dd WHERE label <> c_label GROUP BY vec_id),
    sil AS (SELECT o.vec_id, o.label, o.a2, t.b2,
              round((sqrt(CAST(t.b2 AS DOUBLE)) - sqrt(CAST(o.a2 AS DOUBLE)))
                / greatest(sqrt(CAST(o.a2 AS DOUBLE)), sqrt(CAST(t.b2 AS DOUBLE))), 6) AS sil
            FROM own o JOIN oth t USING (vec_id))
    SELECT label, COUNT(*) AS n,
      CAST(SUM(CASE WHEN b2 < a2 THEN 1 ELSE 0 END) AS BIGINT) AS n_misfit,
      round(CAST(SUM(CAST(sil AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*), 6) AS mean_sil
    FROM sil GROUP BY label ORDER BY label"""
    })

  // ---------------------------------------------------------------- s26
  // ANISOTROPY PROBE — exact second-moment diagnostics of the embedding
  // space, per label and overall. Anisotropic (cone-shaped) embedding
  // spaces break cosine-threshold dedup and retrieval calibration, so
  // curation pipelines audit E[<u,v>] over RANDOM pairs before picking
  // thresholds. The naive estimator is an N² pair join; this operator
  // uses the exact algebraic identity
  //     Σ_{u≠v} <u,v>  =  ||Σ v||² − Σ ||v||²
  // so the whole audit is ONE corpus scan: a posexplode + (label, dim)
  // hash aggregate (map-side combine caps the shuffle at labels × 64
  // rows per partition) plus a per-label count/norm² aggregate — no pair
  // set, no join, unchanged at 100 TB. All sums are integer-exact on the
  // quantized vectors (per-dim sums bounded by N·1e7 — DECIMAL(19,0)
  // holds to N = 1e12 rows; their squares and Σ||v||² are DECIMAL(38,0))
  // and the only float ops are the two final single divisions, written
  // identically in both engines. The global row reuses the per-label
  // dim sums (Σ_all = Σ over labels of Σ_label — exact), so the second
  // pass aggregates 10 × 64 rows, not the corpus.
  //   avg_pair_dot  — mean <u,v> over unordered pairs, in original
  //                   (unquantized) units: the 1e14 divisor is QuantScale².
  //   anisotropy    — avg_pair_dot / mean ||v||²: ≈0 for a centered
  //                   isotropic cloud, →1 as the space collapses to a ray.
  private val s26 = QueryDef(
    "s26_anisotropy_probe",
    (s, dir) => {
      val dec19 = org.apache.spark.sql.types.DecimalType(19, 0)
      val dec38 = org.apache.spark.sql.types.DecimalType(38, 0)
      val base = withQuant(dir, s).select(col("label"), col("qv"), col("norm2"))
      val stats = base.groupBy(col("label")).agg(
        count(lit(1)).as("n"),
        sum(col("norm2").cast(dec38)).as("sn2"))
      val dims = base
        .select(col("label"), posexplode(col("qv")).as(Seq("pos", "v")))
        .groupBy(col("label"), col("pos"))
        .agg(sum(col("v")).as("dv"))
      val ssdLbl = dims.groupBy(col("label"))
        .agg(sum(col("dv").cast(dec19) * col("dv").cast(dec19)).as("ssd"))
      val perLabel = stats.join(ssdLbl, Seq("label"))
        .select(col("label").cast("string").as("scope"),
          col("n"), col("sn2"), col("ssd"))
      // global row: collapse the per-(label, dim) sums first (exact), so
      // this branch aggregates ≤ labels × 64 rows — not a second scan
      // (dims/stats are tiny aggregate outputs; Spark recomputes the scan
      // once per branch but each is the same one-pass shape).
      val gssd = dims.groupBy(col("pos")).agg(sum(col("dv")).as("dv"))
        .agg(sum(col("dv").cast(dec19) * col("dv").cast(dec19)).as("ssd"))
      val gstat = stats.agg(sum(col("n")).as("n"), sum(col("sn2")).as("sn2"))
      val allRow = gstat.crossJoin(gssd)
        .select(lit("all").as("scope"), col("n"), col("sn2"), col("ssd"))
      perLabel.unionByName(allRow)
        .select(col("scope"), col("n"),
          round((col("ssd") - col("sn2")).cast("double") /
            (col("n").cast("double") * (col("n") - 1).cast("double") * lit(1.0e14)), 6)
            .as("avg_pair_dot"),
          round((col("ssd") - col("sn2")).cast("double") /
            ((col("n") - 1).cast("double") * col("sn2").cast("double")), 6)
            .as("anisotropy"))
        .orderBy(col("scope"))
    },
    Some(s"""WITH $quantCte,
    base AS (SELECT label, qv, norm2 FROM qn),
    stats AS (SELECT label, COUNT(*) AS n,
                SUM(CAST(norm2 AS DECIMAL(38,0))) AS sn2
              FROM base GROUP BY label),
    dims AS (SELECT label, i AS pos, SUM(qv[i]) AS dv
             FROM base CROSS JOIN generate_series(1, 64) AS g(i)
             GROUP BY label, i),
    ssd_lbl AS (SELECT label,
                  SUM(CAST(dv AS DECIMAL(19,0)) * CAST(dv AS DECIMAL(19,0))) AS ssd
                FROM dims GROUP BY label),
    per_label AS (SELECT CAST(label AS VARCHAR) AS scope, n, sn2, ssd
                  FROM stats JOIN ssd_lbl USING (label)),
    gdims AS (SELECT pos, SUM(dv) AS dv FROM dims GROUP BY pos),
    gssd AS (SELECT SUM(CAST(dv AS DECIMAL(19,0)) * CAST(dv AS DECIMAL(19,0))) AS ssd
             FROM gdims),
    gstat AS (SELECT SUM(n) AS n, SUM(sn2) AS sn2 FROM stats),
    all_row AS (SELECT 'all' AS scope, CAST(n AS BIGINT) AS n, sn2, ssd
                FROM gstat CROSS JOIN gssd)
    SELECT scope, n,
      round(CAST(ssd - sn2 AS DOUBLE) /
        (CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE) * 1e14), 6) AS avg_pair_dot,
      round(CAST(ssd - sn2 AS DOUBLE) /
        (CAST(n - 1 AS DOUBLE) * CAST(sn2 AS DOUBLE)), 6) AS anisotropy
    FROM (SELECT * FROM per_label UNION ALL SELECT * FROM all_row)
    ORDER BY scope"""))

  // ---------------------------------------------------------------- s27
  // PQ DISTORTION AUDIT — quantization quality control over s10's
  // product-quantizer: per subspace, how much signal the 16-code
  // codebook destroys (Σ reconstruction error vs Σ subvector energy,
  // exact integer ppm) and whether the codebook has COLLAPSED (few
  // codes used / one code absorbing the corpus — the failure mode of
  // untrained or drifted codebooks, which silently flattens all ADC
  // distances in s11). Uses s10's codebook and argmin verbatim, so the
  // audit describes exactly the codes s11 searches with. Plan: the s10
  // per-row encode, one explode to (subspace, code) rows, then a
  // (m, code) hash aggregate — the ≤ 64-row code-usage table is where
  // the rank window and the per-m rollup run. Sums are DECIMAL(38,0)
  // (per-vector err ≤ 16·(2e7)² ≈ 6.4e15 — corpus sums overflow int64).
  // One corpus scan, unchanged at 100 TB.
  private val s27 = QueryDef(
    "s27_pq_distortion",
    (s, dir) => {
      val dec38 = org.apache.spark.sql.types.DecimalType(38, 0)
      val enc0 = (0 until PqM).foldLeft(withQuant(dir, s)) { (df, m) =>
        df.withColumn(s"d$m", expr(
          s"""transform(${pqBookSpark(m)}, c ->
                aggregate(zip_with(slice(qv, ${m * PqD + 1}, $PqD), c,
                  (a, b) -> (a - b) * (a - b)),
                  CAST(0 AS BIGINT), (acc, v) -> acc + v))"""))
      }
      val enc = (0 until PqM).foldLeft(enc0) { (df, m) =>
        df.withColumn(s"code$m",
            expr(s"array_position(d$m, array_min(d$m))").cast("long"))
          .withColumn(s"err$m", expr(s"element_at(d$m, CAST(code$m AS INT))"))
          .withColumn(s"nrm$m", expr(
            s"""aggregate(slice(qv, ${m * PqD + 1}, $PqD),
                CAST(0 AS BIGINT), (acc, v) -> acc + v * v)"""))
      }
      val ex = enc.select(explode(expr((0 until PqM).map(m =>
          s"struct(CAST($m AS BIGINT) AS m, code$m AS code, err$m AS err, nrm$m AS nrm)")
          .mkString("array(", ", ", ")"))).as("x"))
        .select(col("x.m"), col("x.code"), col("x.err"), col("x.nrm"))
      val byCode = ex.groupBy(col("m"), col("code"))
        .agg(count(lit(1)).as("cnt"),
          sum(col("err").cast(dec38)).as("serr"),
          sum(col("nrm").cast(dec38)).as("snrm"))
      val totals = byCode.groupBy(col("m")).agg(
        sum(col("cnt")).as("n"),
        count(lit(1)).as("used_codes"),
        sum(col("serr")).as("terr"),
        sum(col("snrm")).as("tnrm"))
      val top = byCode.withColumn("rnk", row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy(col("m"))
            .orderBy(col("cnt").desc, col("code"))))
        .filter(col("rnk") === 1)
        .select(col("m"), col("code").as("top_code"), col("cnt").as("top_cnt"))
      totals.join(top, Seq("m"))
        .select(col("m"), col("n"), col("used_codes"), col("top_code"),
          expr("(top_cnt * 1000000) DIV n").as("top_code_share_ppm"),
          expr("CAST((terr * 1000000) DIV tnrm AS BIGINT)").as("distortion_ppm"))
        .orderBy(col("m"))
    },
    Some {
      val distCols = (0 until PqM).map { m =>
        s"""list_transform(${pqBookDuck(m)}, c ->
              list_reduce(list_transform(
                list_zip(qv[${m * PqD + 1}:${(m + 1) * PqD}], c),
                p -> (p[1] - p[2]) * (p[1] - p[2])),
                (acc, v) -> acc + v)) AS d$m"""
      }.mkString(",\n      ")
      val codeCols = (0 until PqM).map(m =>
        s"""CAST(list_position(d$m, list_min(d$m)) AS BIGINT) AS code$m,
           d$m[CAST(list_position(d$m, list_min(d$m)) AS INT)] AS err$m,
           list_reduce(list_transform(qv[${m * PqD + 1}:${(m + 1) * PqD}],
             x -> x * x), (acc, v) -> acc + v) AS nrm$m""").mkString(",\n      ")
      val exRows = (0 until PqM).map(m =>
        s"SELECT CAST($m AS BIGINT) AS m, code$m AS code, err$m AS err, nrm$m AS nrm FROM c")
        .mkString("\nUNION ALL\n")
      s"""WITH qe AS (SELECT vec_id, ${quantizeSql("embedding")} AS qv FROM embeddings),
      d AS (SELECT vec_id, qv, $distCols FROM qe),
      c AS (SELECT vec_id, $codeCols FROM d),
      ex AS ($exRows),
      by_code AS (SELECT m, code, COUNT(*) AS cnt,
                    SUM(CAST(err AS HUGEINT)) AS serr,
                    SUM(CAST(nrm AS HUGEINT)) AS snrm
                  FROM ex GROUP BY m, code),
      totals AS (SELECT m, CAST(SUM(cnt) AS BIGINT) AS n,
                   COUNT(*) AS used_codes,
                   SUM(serr) AS terr, SUM(snrm) AS tnrm
                 FROM by_code GROUP BY m),
      top AS (SELECT m, code AS top_code, cnt AS top_cnt FROM (
                SELECT m, code, cnt, ROW_NUMBER() OVER (PARTITION BY m
                  ORDER BY cnt DESC, code) AS rnk FROM by_code)
              WHERE rnk = 1)
      SELECT t.m, t.n, t.used_codes, p.top_code,
        CAST((p.top_cnt * 1000000) // t.n AS BIGINT) AS top_code_share_ppm,
        CAST((t.terr * 1000000) // t.tnrm AS BIGINT) AS distortion_ppm
      FROM totals t JOIN top p USING (m) ORDER BY t.m"""
    })

  // ---------------------------------------------------------------- s28
  // TOMBSTONE-AWARE ANN SEARCH — the delete path of the index
  // lifecycle: s13 proves appends without a rebuild, this proves
  // DELETES without one. Deleted vectors (id ≡ 0 mod 9 — the planted
  // deterministic delete set) stay in the inverted lists; correctness
  // comes from filtering them INSIDE the probed cells, before ranking —
  // the FAISS IDSelector/tombstone-bitmap pattern. That placement is
  // the scale fact: the filter touches only the ≤ 2 probed lists per
  // query, never the index, and a rebuild-free delete is O(0) at write
  // time. Layout, probe rule, and ranking are s04's verbatim, so s04
  // vs s28 differ exactly where s04 surfaced a deleted id (pinned in
  // NewOpsInvariantSpec).
  private val s28 = QueryDef(
    "s28_tombstone_search",
    (s, dir) => {
      val q = withQuant(dir, s)
      val cent = labelCentroids(q)
      val assigned = ivfAssign(q, cent)
      val lists = ivfLists(assigned)
      // the delete set is a predicate on the probed cells — no rebuild
      val live = lists.filter(col("vec_id") % 9 =!= 0)
      val probes = ivfProbes(assigned, 2)
      val winQ = org.apache.spark.sql.expressions.Window
        .partitionBy(col("q_id")).orderBy(col("sim").desc, col("vec_id"))
      live.join(broadcast(probes),
          col("list_label") === col("probe_label") && col("vec_id") =!= col("q_id"))
        .withColumn("sim", cosine("q_qv", "q_norm2", "qv", "norm2"))
        .withColumn("rnk", row_number().over(winQ).cast("long"))
        .filter(col("rnk") <= 5)
        .select(col("q_id"), col("rnk"), col("vec_id").as("c_id"), round(col("sim"), 6).as("sim"))
        .orderBy(col("q_id"), col("rnk"))
    },
    Some(s"""WITH $quantCte,
    $ivfProbeCte,
    live AS (SELECT * FROM lists WHERE vec_id % 9 <> 0)
    SELECT q_id, rnk, c_id, sim FROM (
      SELECT p.q_id, l.vec_id AS c_id,
        round(CAST(${dotSql("p.q_qv", "l.qv")} AS DOUBLE) / (sqrt(CAST(p.q_norm2 AS DOUBLE)) * sqrt(CAST(l.norm2 AS DOUBLE))), 6) AS sim,
        ROW_NUMBER() OVER (PARTITION BY p.q_id ORDER BY
          CAST(${dotSql("p.q_qv", "l.qv")} AS DOUBLE) / (sqrt(CAST(p.q_norm2 AS DOUBLE)) * sqrt(CAST(l.norm2 AS DOUBLE))) DESC, l.vec_id) AS rnk
      FROM live l JOIN probes p ON l.list_label = p.probe_label AND l.vec_id <> p.q_id)
    WHERE rnk <= 5 ORDER BY q_id, rnk"""))

  // ---------------------------------------------------------------- s29
  // DELETE-RATE RECALL CURVE — "how much deletion before the index
  // needs a rebuild": s28 proves tombstone filtering is CORRECT; this
  // measures what rising delete rates do to probe-bounded recall, the
  // number an index-ops runbook actually keys its rebuild threshold
  // on. For each planted delete rate (ids ≡ 0 mod 9/5/3/2 ≈
  // 11/20/33/50%), the s28 tombstone-aware IVF top-5 is scored against
  // the BRUTE-FORCE top-5 over the same live set (the s16 discipline:
  // truth and candidate share tie-breaks, so the gap is exactly the
  // probe bound, never ranking noise). The assignment/layout work is
  // cached once and shared by all four variants — rates differ only in
  // a filter, mirroring how a real index serves many tombstone bitmaps
  // over one layout. Output: per rate, live/deleted counts and exact
  // integer recall ppm over 8 queries × 5 slots.
  private val s29 = QueryDef(
    "s29_delete_recall_curve",
    (s, dir) => {
      val q = withQuant(dir, s)
      val cent = labelCentroids(q)
      val assigned = ivfAssign(q, cent)
      val lists = ivfLists(assigned)
        .cache()
      val probesDf = ivfProbes(assigned, 2)
        .cache()
      val queries = assigned.filter(col("vec_id") < 8 && col("crnk") === 1)
        .select(col("vec_id").as("q_id"), col("qv").as("q_qv"), col("norm2").as("q_norm2"))
        .cache()
      // ONE query×corpus similarity pass shared by all four delete
      // rates (r22): each rate's brute truth is this frame filtered to
      // its live set, and each rate's IVF side is this frame restricted
      // to the probe-bounded (q, list) pairs — the r21 form recomputed
      // the identical dot products 8× (4 rates × ivf+truth). Values and
      // tie-breaks are byte-identical (same expression, computed once),
      // so every per-rate top-5 set is unchanged; oracle-gated at both
      // correctness SFs.
      val qsims = lists
        .join(broadcast(queries), col("vec_id") =!= col("q_id"))
        .withColumn("sim", cosine("q_qv", "q_norm2", "qv", "norm2"))
        .select(col("q_id"), col("vec_id"), col("list_label"), col("sim"))
        .localCheckpoint() // 8 × |vectors| rows, read 8× below
      val probePairs = probesDf.select(col("q_id").as("p_qid"), col("probe_label"))
      def top5(cand: org.apache.spark.sql.DataFrame) = {
        val winQ = org.apache.spark.sql.expressions.Window
          .partitionBy(col("q_id")).orderBy(col("sim").desc, col("vec_id"))
        cand.withColumn("rnk", row_number().over(winQ))
          .filter(col("rnk") <= 5)
          .select(col("q_id"), col("vec_id").as("c_id"))
      }
      val curves = Seq(9L, 5L, 3L, 2L).map { m =>
        val live = qsims.filter(col("vec_id") % m =!= 0)
        val ivf = top5(live.join(broadcast(probePairs),
          col("q_id") === col("p_qid") && col("list_label") === col("probe_label")))
        val truth = top5(live)
        val truthC = truth.cache()
        val hits = ivf.join(truthC, Seq("q_id", "c_id"))
          .agg(count(lit(1)).as("n_hits"))
        // recall denominator = the ACTUAL truth-list size, not the 8×5
        // nominal (on a fixture with < 8 low-id vectors, or where heavy
        // deletion leaves a truth list under 5, the literal would
        // silently understate recall); identical (40) on this fixture
        val denom = truthC.agg(count(lit(1)).as("n_truth"))
        val counts = lists.agg(
          sum(when(col("vec_id") % m === 0, 1L).otherwise(0L)).as("n_deleted"),
          sum(when(col("vec_id") % m =!= 0, 1L).otherwise(0L)).as("n_live"))
        counts.crossJoin(hits).crossJoin(denom)
          .select(lit(m).as("delete_mod"), col("n_deleted"), col("n_live"),
            expr("CASE WHEN n_truth > 0 THEN (n_hits * 1000000) DIV n_truth ELSE 1000000 END")
              .as("recall_ppm"))
      }
      curves.reduce(_.unionByName(_)).orderBy(col("delete_mod"))
    },
    Some {
      val variants = Seq(9, 5, 3, 2).map { m =>
        s"""live_$m AS (SELECT * FROM lists WHERE vec_id % $m <> 0),
    ivf_$m AS (SELECT q_id, c_id FROM (
        SELECT p.q_id, l.vec_id AS c_id,
          ROW_NUMBER() OVER (PARTITION BY p.q_id ORDER BY
            CAST(${dotSql("p.q_qv", "l.qv")} AS DOUBLE) / (sqrt(CAST(p.q_norm2 AS DOUBLE)) * sqrt(CAST(l.norm2 AS DOUBLE))) DESC, l.vec_id) AS rnk
        FROM live_$m l JOIN probes p
          ON l.list_label = p.probe_label AND l.vec_id <> p.q_id)
      WHERE rnk <= 5),
    tr_$m AS (SELECT q_id, c_id FROM (
        SELECT p.q_id, l.vec_id AS c_id,
          ROW_NUMBER() OVER (PARTITION BY p.q_id ORDER BY
            CAST(${dotSql("p.q_qv", "l.qv")} AS DOUBLE) / (sqrt(CAST(p.q_norm2 AS DOUBLE)) * sqrt(CAST(l.norm2 AS DOUBLE))) DESC, l.vec_id) AS rnk
        FROM live_$m l JOIN (SELECT DISTINCT q_id, q_qv, q_norm2 FROM probes) p
          ON l.vec_id <> p.q_id)
      WHERE rnk <= 5),
    row_$m AS (SELECT CAST($m AS BIGINT) AS delete_mod,
        (SELECT CAST(SUM(CASE WHEN vec_id % $m = 0 THEN 1 ELSE 0 END) AS BIGINT)
           FROM lists) AS n_deleted,
        (SELECT CAST(SUM(CASE WHEN vec_id % $m <> 0 THEN 1 ELSE 0 END) AS BIGINT)
           FROM lists) AS n_live,
        CAST(CASE WHEN (SELECT COUNT(*) FROM tr_$m) > 0
             THEN ((SELECT COUNT(*) FROM ivf_$m JOIN tr_$m USING (q_id, c_id))
                   * 1000000) // (SELECT COUNT(*) FROM tr_$m)
             ELSE 1000000 END AS BIGINT) AS recall_ppm)"""
      }.mkString(",\n    ")
      s"""WITH $quantCte,
    $ivfProbeCte,
    $variants
    SELECT * FROM (
      SELECT * FROM row_9 UNION ALL SELECT * FROM row_5
      UNION ALL SELECT * FROM row_3 UNION ALL SELECT * FROM row_2)
    ORDER BY delete_mod"""
    })

  // ---------------------------------------------------------------- s30
  // RADIUS (RANGE) SEARCH — the other retrieval API: not "the best k"
  // but "EVERYTHING within distance r", the primitive behind
  // threshold-based dedup sweeps and duplicate-cluster seeding. Exact
  // and query-bounded like s01 (8 broadcast anchors × N — the
  // correctness baseline; the bucketed scale path for all-pairs radius
  // work is s02/d06), with counts at three nested radii in one pass so
  // the result doubles as a per-anchor density profile. Same integer-
  // exact cosine as the rest of the family; counts are exact, and the
  // id checksum pins membership at the tightest radius.
  private val s30 = QueryDef(
    "s30_radius_search",
    (s, dir) => {
      val all = withQuant(dir, s)
      val anchors = all.filter(col("vec_id") < 8)
        .select(col("vec_id").as("q_id"), col("qv").as("q_qv"),
          col("norm2").as("q_norm2"))
      all.select(col("vec_id").as("c_id"), col("qv").as("c_qv"),
          col("norm2").as("c_norm2"))
        .join(broadcast(anchors), col("c_id") =!= col("q_id"))
        .withColumn("sim", cosine("q_qv", "q_norm2", "c_qv", "c_norm2"))
        .groupBy(col("q_id"))
        .agg(
          sum(when(col("sim") >= 0.8, 1L).otherwise(0L)).as("n_r80"),
          sum(when(col("sim") >= 0.9, 1L).otherwise(0L)).as("n_r90"),
          sum(when(col("sim") >= 0.95, 1L).otherwise(0L)).as("n_r95"),
          (sum(when(col("sim") >= 0.95, col("c_id") % HashMod).otherwise(0L))
            % HashMod).as("r95_checksum"))
        .orderBy(col("q_id"))
    },
    Some(s"""WITH $quantCte,
    pairs AS (SELECT a.vec_id AS q_id, b.vec_id AS c_id, $simSql AS sim
              FROM qn a JOIN qn b ON a.vec_id < 8 AND b.vec_id <> a.vec_id)
    SELECT q_id,
      CAST(SUM(CASE WHEN sim >= 0.8 THEN 1 ELSE 0 END) AS BIGINT) AS n_r80,
      CAST(SUM(CASE WHEN sim >= 0.9 THEN 1 ELSE 0 END) AS BIGINT) AS n_r90,
      CAST(SUM(CASE WHEN sim >= 0.95 THEN 1 ELSE 0 END) AS BIGINT) AS n_r95,
      CAST(SUM(CASE WHEN sim >= 0.95 THEN c_id % $HashMod ELSE 0 END)
           % $HashMod AS BIGINT) AS r95_checksum
    FROM pairs GROUP BY q_id ORDER BY q_id"""))

  // ---------------------------------------------------------------- s31
  // IVF CELL-SKEW AUDIT — d39's discipline applied to the vector side:
  // every IVF search cost in the family (s04/s12/s13/s16/s23/s28/s29)
  // is "rows in the probed cells", so the performance hazard is not the
  // average cell but the HOT one — a centroid that captures a dense
  // cluster makes every query probing it scan that whole cell, and at
  // 100 TB cell imbalance is the difference between an index and a
  // table scan. This audit prices it exactly from the assignment alone
  // (the s03 nearest-centroid rule, no probe ever runs): cell count and
  // population, the extreme cell sizes, Σ s² (the exact expected scan
  // cost × N under data-distributed queries — the quadratic term the
  // mean hides), the max/mean imbalance and the hot cell's population
  // share, in ppm. One assignment pass + a |cells|-row rollup; the
  // mitigation when it fires is re-seeding or cell splitting (s07's
  // k-means update), which this row makes a measured decision.
  private val s31 = QueryDef(
    "s31_ivf_skew",
    (s, dir) => {
      val q = withQuant(dir, s)
      val cent = labelCentroids(q)
      val sizes = ivfAssign(q, cent).filter(col("crnk") === 1)
        .groupBy(col("c_label")).agg(count(lit(1)).as("sz"))
      sizes.agg(
          count(lit(1)).as("n_cells"),
          sum(col("sz")).as("n_vecs"),
          max(col("sz")).as("max_cell"),
          min(col("sz")).as("min_cell"),
          sum(col("sz") * col("sz")).as("scan_cost_bound"),
          // promote before the ×1e6×n_cells product (q161's err_ppm
          // pattern): at 100 TB a hot cell × cell count overflows BIGINT
          // silently in Spark (non-ANSI) while DuckDB raises — exactly
          // the regime this audit exists to flag
          expr("""CAST(CAST(max(sz) AS DECIMAL(38,0)) * 1000000 * count(1)
                  DIV CAST(sum(sz) AS DECIMAL(38,0)) AS BIGINT)""").as("imbalance_ppm"),
          expr("""CAST(CAST(max(sz) AS DECIMAL(38,0)) * 1000000
                  DIV CAST(sum(sz) AS DECIMAL(38,0)) AS BIGINT)""").as("top_cell_share_ppm"))
    },
    Some(s"""WITH $quantCte,
    $ivfProbeCte,
    sizes AS (SELECT list_label, COUNT(*) AS sz FROM lists GROUP BY 1)
    SELECT COUNT(*) AS n_cells,
      CAST(SUM(sz) AS BIGINT) AS n_vecs,
      CAST(MAX(sz) AS BIGINT) AS max_cell,
      CAST(MIN(sz) AS BIGINT) AS min_cell,
      CAST(SUM(sz * sz) AS BIGINT) AS scan_cost_bound,
      CAST((CAST(MAX(sz) AS HUGEINT) * 1000000 * COUNT(*)) // CAST(SUM(sz) AS HUGEINT) AS BIGINT) AS imbalance_ppm,
      CAST((CAST(MAX(sz) AS HUGEINT) * 1000000) // CAST(SUM(sz) AS HUGEINT) AS BIGINT) AS top_cell_share_ppm
    FROM sizes"""))

  // ---------------------------------------------------------------- s32
  // PRODUCTION SEARCH PATH, END-TO-END — the s-family capstone: every
  // feature the family proves in isolation, COMPOSED the way a serving
  // system actually runs them — int64-quantized vectors (s05), IVF
  // probe-bounded candidate generation (s04), the tombstone delete
  // filter INSIDE the probed cells (s28), and a metadata attribute
  // filter on candidates (s24), scored per query against the exact
  // brute-force truth over the SAME live∩allowed set (the s16
  // discipline: shared tie-breaks, so the gap is exactly the probe
  // bound). Features that each pass alone can still interact wrongly
  // (a filter applied before vs after the probe changes recall); this
  // row pins the composition. Per query: truth size, probe-path hits,
  // and the hit-set checksum; the recall denominator is derived from
  // the truth side (the s29 lesson), never a literal.
  private val s32 = QueryDef(
    "s32_production_search",
    (s, dir) => {
      val q = withQuant(dir, s)
      val cent = labelCentroids(q)
      val assigned = ivfAssign(q, cent)
      val lists = assigned.filter(col("crnk") === 1)
        .select(col("vec_id"), col("label"), col("qv"), col("norm2"),
          col("c_label").as("list_label"))
        .cache()
      // the serving-side candidate set: tombstones out, attribute in
      val servable = lists
        .filter(col("vec_id") % 9 =!= 0)        // s28's delete set
        .filter(col("label") % 4 === 1)          // s24's attribute filter
      val probes = ivfProbes(assigned, 2)
        .cache()
      val winQ = org.apache.spark.sql.expressions.Window
        .partitionBy(col("q_id")).orderBy(col("sim").desc, col("vec_id"))
      def top5(cand: org.apache.spark.sql.DataFrame) = cand
        .withColumn("sim", cosine("q_qv", "q_norm2", "qv", "norm2"))
        .withColumn("rnk", row_number().over(winQ))
        .filter(col("rnk") <= 5)
        .select(col("q_id"), col("vec_id").as("c_id"))
      val ivf = top5(servable.join(broadcast(probes),
        col("list_label") === col("probe_label") && col("vec_id") =!= col("q_id")))
      val truth = top5(servable.join(
          broadcast(probes.select(col("q_id"), col("q_qv"), col("q_norm2")).distinct()),
          col("vec_id") =!= col("q_id")))
        .cache()
      val out = truth.groupBy(col("q_id")).agg(count(lit(1)).as("n_truth"))
        .join(ivf.join(truth, Seq("q_id", "c_id"))
            .groupBy(col("q_id"))
            .agg(count(lit(1)).as("n_hits"),
              (sum(col("c_id") % HashMod) % HashMod).as("hit_checksum")),
          Seq("q_id"), "left")
        .select(col("q_id"), col("n_truth"),
          coalesce(col("n_hits"), lit(0L)).as("n_hits"),
          coalesce(col("hit_checksum"), lit(0L)).as("hit_checksum"))
        .orderBy(col("q_id"))
        .localCheckpoint()
      lists.unpersist(); probes.unpersist(); truth.unpersist()
      out
    },
    Some(s"""WITH $quantCte,
    $ivfProbeCte,
    srv AS (SELECT l.* FROM lists l JOIN qn USING (vec_id)
            WHERE l.vec_id % 9 <> 0 AND qn.label % 4 = 1),
    ivf AS (SELECT q_id, c_id FROM (
        SELECT p.q_id, l.vec_id AS c_id,
          ROW_NUMBER() OVER (PARTITION BY p.q_id ORDER BY
            CAST(${dotSql("p.q_qv", "l.qv")} AS DOUBLE) / (sqrt(CAST(p.q_norm2 AS DOUBLE)) * sqrt(CAST(l.norm2 AS DOUBLE))) DESC, l.vec_id) AS rnk
        FROM srv l JOIN probes p
          ON l.list_label = p.probe_label AND l.vec_id <> p.q_id)
      WHERE rnk <= 5),
    tr AS (SELECT q_id, c_id FROM (
        SELECT p.q_id, l.vec_id AS c_id,
          ROW_NUMBER() OVER (PARTITION BY p.q_id ORDER BY
            CAST(${dotSql("p.q_qv", "l.qv")} AS DOUBLE) / (sqrt(CAST(p.q_norm2 AS DOUBLE)) * sqrt(CAST(l.norm2 AS DOUBLE))) DESC, l.vec_id) AS rnk
        FROM srv l JOIN (SELECT DISTINCT q_id, q_qv, q_norm2 FROM probes) p
          ON l.vec_id <> p.q_id)
      WHERE rnk <= 5)
    SELECT t.q_id, COUNT(*) AS n_truth,
      CAST(COALESCE(SUM(CASE WHEN i.c_id IS NOT NULL THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_hits,
      CAST(COALESCE(SUM(CASE WHEN i.c_id IS NOT NULL THEN t.c_id % $HashMod ELSE 0 END) % $HashMod, 0) AS BIGINT) AS hit_checksum
    FROM tr t LEFT JOIN ivf i ON t.q_id = i.q_id AND t.c_id = i.c_id
    GROUP BY t.q_id ORDER BY t.q_id"""))

  // ---------------------------------------------------------------- s33
  // FILTERED-PROBE ADAPTATION CURVE — the operational answer to what
  // s32 measures: an attribute filter thins every probed cell, so a
  // fixed nprobe that hits 90% recall unfiltered can halve under a
  // selective filter, and production systems scale nprobe by
  // 1/selectivity. This row measures that curve exactly: for nprobe ∈
  // 1..4, the filtered IVF top-5 recall against the same exact
  // filtered truth (shared tie-breaks, derived denominator). The
  // assignment/layout work is computed once and shared by all four
  // variants (the s29 pattern) — probes differ only in a crnk bound.
  // Read next to s23 (the UNfiltered sweep): the gap between the two
  // curves at each nprobe IS the filter's probe tax.
  private val s33 = QueryDef(
    "s33_filtered_probe_sweep",
    (s, dir) => {
      val q = withQuant(dir, s)
      val cent = labelCentroids(q)
      val assigned = ivfAssign(q, cent)
        .cache()
      assigned.count()
      val servable = assigned.filter(col("crnk") === 1)
        .filter(col("vec_id") % 9 =!= 0 && col("label") % 4 === 1)
        .select(col("vec_id"), col("qv"), col("norm2"), col("c_label").as("list_label"))
      val winQ = org.apache.spark.sql.expressions.Window
        .partitionBy(col("q_id")).orderBy(col("sim").desc, col("vec_id"))
      def top5(cand: org.apache.spark.sql.DataFrame) = cand
        .withColumn("sim", cosine("q_qv", "q_norm2", "qv", "norm2"))
        .withColumn("rnk", row_number().over(winQ))
        .filter(col("rnk") <= 5)
        .select(col("q_id"), col("vec_id").as("c_id"))
      val queries = assigned.filter(col("vec_id") < 8 && col("crnk") === 1)
        .select(col("vec_id").as("q_id"), col("qv").as("q_qv"), col("norm2").as("q_norm2"))
      val truth = top5(servable.join(broadcast(queries), col("vec_id") =!= col("q_id")))
        .cache()
      truth.count()
      val curves = (1L to 4L).map { np =>
        val probes = ivfProbes(assigned, np.toInt)
        val ivf = top5(servable.join(broadcast(probes),
          col("list_label") === col("probe_label") && col("vec_id") =!= col("q_id")))
        ivf.join(truth, Seq("q_id", "c_id")).agg(count(lit(1)).as("n_hits"))
          .crossJoin(truth.agg(count(lit(1)).as("n_truth")))
          .select(lit(np).as("nprobe"), col("n_truth"), col("n_hits"),
            expr("CASE WHEN n_truth > 0 THEN (n_hits * 1000000) DIV n_truth ELSE 1000000 END")
              .as("recall_ppm"))
      }
      val out = curves.reduce(_.unionByName(_)).orderBy(col("nprobe")).localCheckpoint()
      assigned.unpersist(); truth.unpersist()
      out
    },
    Some {
      val variants = (1 to 4).map { np =>
        s"""ivf_$np AS (SELECT q_id, c_id FROM (
          SELECT p.q_id, l.vec_id AS c_id,
            ROW_NUMBER() OVER (PARTITION BY p.q_id ORDER BY
              CAST(${dotSql("p.q_qv", "l.qv")} AS DOUBLE) / (sqrt(CAST(p.q_norm2 AS DOUBLE)) * sqrt(CAST(l.norm2 AS DOUBLE))) DESC, l.vec_id) AS rnk
          FROM srv l JOIN pn p
            ON l.list_label = p.probe_label AND l.vec_id <> p.q_id AND p.crnk <= $np)
        WHERE rnk <= 5),
    row_$np AS (SELECT CAST($np AS BIGINT) AS nprobe,
        (SELECT COUNT(*) FROM tr) AS n_truth,
        (SELECT COUNT(*) FROM ivf_$np JOIN tr USING (q_id, c_id)) AS n_hits)"""
      }.mkString(",\n    ")
      s"""WITH $quantCte,
    $ivfProbeCte,
    srv AS (SELECT l.* FROM lists l JOIN qn USING (vec_id)
            WHERE l.vec_id % 9 <> 0 AND qn.label % 4 = 1),
    pn AS (SELECT vec_id AS q_id, qv AS q_qv, norm2 AS q_norm2,
             c_label AS probe_label, crnk
           FROM asg WHERE vec_id < 8 AND crnk <= 4),
    tr AS (SELECT q_id, c_id FROM (
        SELECT p.q_id, l.vec_id AS c_id,
          ROW_NUMBER() OVER (PARTITION BY p.q_id ORDER BY
            CAST(${dotSql("p.q_qv", "l.qv")} AS DOUBLE) / (sqrt(CAST(p.q_norm2 AS DOUBLE)) * sqrt(CAST(l.norm2 AS DOUBLE))) DESC, l.vec_id) AS rnk
        FROM srv l JOIN (SELECT DISTINCT vec_id AS q_id, qv AS q_qv, norm2 AS q_norm2
                         FROM asg WHERE vec_id < 8 AND crnk = 1) p
          ON l.vec_id <> p.q_id)
      WHERE rnk <= 5),
    $variants
    SELECT nprobe,
      CAST(n_truth AS BIGINT) AS n_truth,
      CAST(n_hits AS BIGINT) AS n_hits,
      CAST(CASE WHEN n_truth > 0 THEN (n_hits * 1000000) // n_truth
           ELSE 1000000 END AS BIGINT) AS recall_ppm
    FROM (SELECT * FROM row_1 UNION ALL SELECT * FROM row_2
          UNION ALL SELECT * FROM row_3 UNION ALL SELECT * FROM row_4)
    ORDER BY nprobe"""
    })

  // ---------------------------------------------------------------- s34
  // BALANCED IVF ASSIGNMENT — the mitigation s31's cell-skew audit
  // prices: nearest-centroid assignment with a hard per-cell capacity
  // cap = ⌈N/K⌉, so no inverted list can dominate scan cost (s31
  // measured max_cell 64 vs mean 50 on this corpus — every probe of the
  // hot cell pays 1.28×). Deferred-acceptance rounds, all deterministic:
  // (1) every vector proposes to its nearest centroid; each cell keeps
  // its top-cap proposers by (sim desc, vec_id); (2) rejects propose to
  // their 2nd-nearest, kept up to the cell's REMAINING capacity;
  // (3) still-unplaced vectors fill leftover slots in (c_label, rank)
  // order — feasible by construction (K·cap ≥ N). Scale: the per-round
  // windows partition by CELL (≤ cap + spill rows each after
  // WindowGroupLimit); the slot-fill rank is the q122/q123 two-level
  // cumsum (per-shard rank + 32-row shard offsets), so nothing funnels
  // into one partition even if one mega-cluster rejects half the corpus;
  // the capacity/offset frames are K-row. Output per cell: unbalanced
  // size, per-round intake, final size (≤ cap by construction), and the
  // assignment checksum that pins the exact vector→cell mapping.
  /** The s34 deferred-acceptance machinery, shared with s36's impact
    * readout: returns (sims: nearest-2 centroid rows per vector,
    * capRow: the 1-row ⌈N/K⌉ capacity, cells: the K cell labels,
    * tagged: the balanced (vec_id, c_label, rnd) assignment). The caller
    * owns unpersisting nothing — sims is cached and left to LRU (a few
    * KB per 1k vectors). */
  private def balancedAssign(s: org.apache.spark.sql.SparkSession, dir: String) = {
      import org.apache.spark.sql.expressions.Window
      val q = withQuant(dir, s)
      val cent = labelCentroids(q)
      val sims = ivfAssign(q, cent).filter(col("crnk") <= 2)
        .select(col("vec_id"), col("c_label"), col("csim"), col("crnk"))
        .cache()
      sims.count()
      val capRow = sims.filter(col("crnk") === 1).agg(count(lit(1)).as("nv"))
        .crossJoin(cent.agg(count(lit(1)).as("k")))
        .select(expr("(nv + k - 1) DIV k").as("cap"))
      val cellW = Window.partitionBy(col("c_label"))
        .orderBy(col("csim").desc, col("vec_id"))
      val p1 = sims.filter(col("crnk") === 1)
        .withColumn("arnk", row_number().over(cellW).cast("long"))
        .crossJoin(broadcast(capRow))
      val acc1 = p1.filter(col("arnk") <= col("cap")).select(col("vec_id"), col("c_label"))
      val rej1 = p1.filter(col("arnk") > col("cap")).select(col("vec_id"))
      val cells = cent.select(col("c_label"))
      val n1 = cells.join(
          acc1.groupBy(col("c_label")).agg(count(lit(1)).as("n1")), Seq("c_label"), "left")
        .withColumn("n1", coalesce(col("n1"), lit(0L)))
      val p2 = sims.filter(col("crnk") === 2).join(rej1, Seq("vec_id"))
        .withColumn("arnk", row_number().over(cellW).cast("long"))
        .join(broadcast(n1.crossJoin(capRow).withColumn("rem1", col("cap") - col("n1"))
          .select(col("c_label"), col("rem1"))), Seq("c_label"))
      val acc2 = p2.filter(col("arnk") <= col("rem1")).select(col("vec_id"), col("c_label"))
      val rej2 = p2.filter(col("arnk") > col("rem1")).select(col("vec_id"))
      // leftover slots, exclusive-prefix offsets over the K-row cell frame
      val rem = n1.join(
          acc2.groupBy(col("c_label")).agg(count(lit(1)).as("n2")), Seq("c_label"), "left")
        .withColumn("n2", coalesce(col("n2"), lit(0L)))
        .crossJoin(broadcast(capRow))
        .withColumn("rem2", col("cap") - col("n1") - col("n2"))
        .withColumn("off", coalesce(sum(col("rem2")).over(Window.orderBy(col("c_label"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
        .select(col("c_label"), col("rem2"), col("off"))
      // two-level global rank of the unplaced remainder (q122's cumsum)
      val frShard = rej2.withColumn("shard", col("vec_id") % 32)
        .withColumn("srn", row_number().over(Window
          .partitionBy(col("shard")).orderBy(col("vec_id"))).cast("long"))
      val shardOff = frShard.groupBy(col("shard")).agg(count(lit(1)).as("sn"))
        .withColumn("soff", coalesce(sum(col("sn")).over(Window.orderBy(col("shard"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
        .select(col("shard"), col("soff"))
      val acc3 = frShard.join(broadcast(shardOff), Seq("shard"))
        .withColumn("r", col("soff") + col("srn"))
        .join(broadcast(rem), col("r") > col("off") && col("r") <= col("off") + col("rem2"))
        .select(col("vec_id"), col("c_label"))
      val tagged = acc1.withColumn("rnd", lit(1))
        .unionByName(acc2.withColumn("rnd", lit(2)))
        .unionByName(acc3.withColumn("rnd", lit(3)))
      (sims, capRow, cells, tagged)
  }

  /** DuckDB twin of [[balancedAssign]]: the CTE chain through `tagged`
    * (the balanced assignment), shared by the s34 and s36 oracles.
    * Expects nothing upstream — starts with [[quantCte]]. */
  private lazy val balancedCte: String = s"""$quantCte,
    ${centroidCte()},
    cn AS (SELECT c_label, cqv, ${dotSql("cqv", "cqv")} AS cnorm2 FROM ce),
    sims0 AS (SELECT a.vec_id, b.c_label,
        CAST(${dotSql("a.qv", "b.cqv")} AS DOUBLE) / (sqrt(CAST(a.norm2 AS DOUBLE)) * sqrt(CAST(b.cnorm2 AS DOUBLE))) AS csim,
        ROW_NUMBER() OVER (PARTITION BY a.vec_id ORDER BY
          CAST(${dotSql("a.qv", "b.cqv")} AS DOUBLE) / (sqrt(CAST(a.norm2 AS DOUBLE)) * sqrt(CAST(b.cnorm2 AS DOUBLE))) DESC, b.c_label) AS crnk
      FROM qn a CROSS JOIN cn b),
    sims AS (SELECT * FROM sims0 WHERE crnk <= 2),
    cap AS (SELECT ((SELECT COUNT(*) FROM qn) + (SELECT COUNT(*) FROM cn) - 1)
                   // (SELECT COUNT(*) FROM cn) AS cap),
    p1 AS (SELECT vec_id, c_label,
        ROW_NUMBER() OVER (PARTITION BY c_label ORDER BY csim DESC, vec_id) AS arnk
      FROM sims WHERE crnk = 1),
    acc1 AS (SELECT vec_id, c_label FROM p1, cap WHERE arnk <= cap),
    rej1 AS (SELECT vec_id FROM p1, cap WHERE arnk > cap),
    n1 AS (SELECT c.c_label, COUNT(a.vec_id) AS n1
           FROM cn c LEFT JOIN acc1 a ON c.c_label = a.c_label GROUP BY 1),
    p2 AS (SELECT s.vec_id, s.c_label,
        ROW_NUMBER() OVER (PARTITION BY s.c_label ORDER BY s.csim DESC, s.vec_id) AS arnk
      FROM sims s JOIN rej1 r ON s.vec_id = r.vec_id WHERE s.crnk = 2),
    acc2 AS (SELECT p.vec_id, p.c_label FROM p2 p JOIN n1 ON p.c_label = n1.c_label, cap
             WHERE p.arnk <= cap - n1.n1),
    rej2 AS (SELECT p.vec_id FROM p2 p JOIN n1 ON p.c_label = n1.c_label, cap
             WHERE p.arnk > cap - n1.n1),
    n2 AS (SELECT c.c_label, COUNT(a.vec_id) AS n2
           FROM cn c LEFT JOIN acc2 a ON c.c_label = a.c_label GROUP BY 1),
    rem AS (SELECT n1.c_label, cap - n1.n1 - n2.n2 AS rem2,
        COALESCE(SUM(cap - n1.n1 - n2.n2) OVER (ORDER BY n1.c_label
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off
      FROM n1 JOIN n2 ON n1.c_label = n2.c_label, cap),
    frs AS (SELECT vec_id, vec_id % 32 AS shard,
        ROW_NUMBER() OVER (PARTITION BY vec_id % 32 ORDER BY vec_id) AS srn
      FROM rej2),
    soff AS (SELECT shard, COALESCE(SUM(COUNT(*)) OVER (ORDER BY shard
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS soff
      FROM frs GROUP BY shard),
    acc3 AS (SELECT f.vec_id, r.c_label
      FROM frs f JOIN soff o ON f.shard = o.shard
      JOIN rem r ON o.soff + f.srn > r.off AND o.soff + f.srn <= r.off + r.rem2),
    tagged AS (SELECT vec_id, c_label, 1 AS rnd FROM acc1
      UNION ALL SELECT vec_id, c_label, 2 FROM acc2
      UNION ALL SELECT vec_id, c_label, 3 FROM acc3)"""

  private val s34 = QueryDef(
    "s34_balanced_assign",
    (s, dir) => {
      val (sims, capRow, cells, tagged) = balancedAssign(s, dir)
      val before = sims.filter(col("crnk") === 1).groupBy(col("c_label"))
        .agg(count(lit(1)).as("sz_before"))
      cells
        .join(before, Seq("c_label"), "left")
        .join(tagged.groupBy(col("c_label")).agg(
            count(lit(1)).as("sz_after"),
            sum(when(col("rnd") === 1, 1L).otherwise(0L)).as("n_r1"),
            sum(when(col("rnd") === 2, 1L).otherwise(0L)).as("n_r2"),
            sum(when(col("rnd") === 3, 1L).otherwise(0L)).as("n_fill"),
            (sum(col("vec_id") % HashMod) % HashMod).as("asg_checksum")),
          Seq("c_label"), "left")
        .crossJoin(broadcast(capRow))
        .select(col("c_label"), col("cap"),
          coalesce(col("sz_before"), lit(0L)).as("sz_before"),
          coalesce(col("sz_after"), lit(0L)).as("sz_after"),
          coalesce(col("n_r1"), lit(0L)).as("n_r1"),
          coalesce(col("n_r2"), lit(0L)).as("n_r2"),
          coalesce(col("n_fill"), lit(0L)).as("n_fill"),
          coalesce(col("asg_checksum"), lit(0L)).as("asg_checksum"))
        .orderBy(col("c_label"))
    },
    Some(s"""WITH $balancedCte,
    bef AS (SELECT c_label, COUNT(*) AS sz_before FROM sims WHERE crnk = 1 GROUP BY 1)
    SELECT c.c_label, (SELECT cap FROM cap) AS cap,
      CAST(COALESCE(b.sz_before, 0) AS BIGINT) AS sz_before,
      CAST(COALESCE(COUNT(t.vec_id), 0) AS BIGINT) AS sz_after,
      CAST(COALESCE(SUM(CASE WHEN t.rnd = 1 THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_r1,
      CAST(COALESCE(SUM(CASE WHEN t.rnd = 2 THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_r2,
      CAST(COALESCE(SUM(CASE WHEN t.rnd = 3 THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_fill,
      CAST(COALESCE(SUM(t.vec_id % $HashMod) % $HashMod, 0) AS BIGINT) AS asg_checksum
    FROM cn c LEFT JOIN bef b ON c.c_label = b.c_label
    LEFT JOIN tagged t ON c.c_label = t.c_label
    GROUP BY c.c_label, b.sz_before ORDER BY c.c_label"""))

  // ---------------------------------------------------------------- s35
  // COMPRESSION-TIER RECALL CURVE — the storage-sizing decision table
  // the family's tiers (s05 int8, s17 binary-sign, s09/s27 PQ) imply but
  // never put side by side: against ONE exact top-10 ground truth, each
  // cheaper representation's recall@10, next to its bytes/vector — the
  // "what does each 8× compression step cost in recall" readout that
  // decides which tier serves which traffic. One pass builds all three
  // representations (the int64-quantized exact vectors, the 127-scale
  // int8 tier, the packed sign bits), ONE anchor join is reused by all
  // three rankings (the ranking column differs, the join doesn't), and
  // each tier's top-10 left-joins the truth set — candidate volume is
  // |anchors|·N once, not per tier. The exact tier's row is computed
  // through the same join (self-recall must read 100%), pinning the
  // harness itself.
  private val s35 = QueryDef(
    "s35_compression_recall",
    (s, dir) => {
      val W = org.apache.spark.sql.expressions.Window
      val all = withQuant(dir, s)
        .withColumn("q8", expr(
          s"transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * $Q8Scale.0D) AS BIGINT))"))
        .withColumn("n8", expr(dotExpr("q8", "q8")))
        .withColumn("h1", expr(packSpark(0)))
        .withColumn("h2", expr(packSpark(1)))
        .select(col("vec_id"), col("qv"), col("norm2"), col("q8"), col("n8"),
          col("h1"), col("h2"))
      val anch = all.filter(col("vec_id") < 8)
        .select(col("vec_id").as("q_id"), col("qv").as("a_qv"), col("norm2").as("a_n2"),
          col("q8").as("a_q8"), col("n8").as("a_n8"),
          col("h1").as("a_h1"), col("h2").as("a_h2"))
      val joined = all
        .select(col("vec_id").as("c_id"), col("qv"), col("norm2"), col("q8"),
          col("n8"), col("h1"), col("h2"))
        .join(broadcast(anch), col("c_id") =!= col("q_id"))
        .withColumn("sim_t", cosine("a_qv", "a_n2", "qv", "norm2"))
        .withColumn("sim_8", cosine("a_q8", "a_n8", "q8", "n8"))
        .withColumn("ham",
          (expr("bit_count(h1 ^ a_h1)") + expr("bit_count(h2 ^ a_h2)")).cast("long"))
        .localCheckpoint()
      val truth = joined
        .withColumn("rnk", row_number().over(
          W.partitionBy(col("q_id")).orderBy(col("sim_t").desc, col("c_id"))))
        .filter(col("rnk") <= 10).select(col("q_id"), col("c_id"))
        .localCheckpoint()
      def tier(name: String, bytes: Long, picked: org.apache.spark.sql.DataFrame) =
        truth.join(picked.withColumn("hit", lit(1L)), Seq("q_id", "c_id"), "left")
          .agg(count(lit(1)).as("n_truth"),
            sum(coalesce(col("hit"), lit(0L))).as("n_hits"))
          .select(lit(name).as("tier"), lit(bytes).as("bytes_per_vec"),
            col("n_truth"), col("n_hits"),
            expr("(n_hits * 1000000) DIV n_truth").as("recall_ppm"))
      val int8 = joined.withColumn("rnk", row_number().over(
          W.partitionBy(col("q_id")).orderBy(col("sim_8").desc, col("c_id"))))
        .filter(col("rnk") <= 10).select(col("q_id"), col("c_id"))
      val bin = joined.withColumn("rnk", row_number().over(
          W.partitionBy(col("q_id")).orderBy(col("ham"), col("c_id"))))
        .filter(col("rnk") <= 10).select(col("q_id"), col("c_id"))
      tier("exact_int64", 512L, truth)
        .unionByName(tier("int8", 64L, int8))
        .unionByName(tier("binary_sign", 8L, bin))
        .orderBy(col("tier"))
    },
    Some {
      val simT =
        s"CAST(${dotSql("a.qv", "c.qv")} AS DOUBLE) / (sqrt(CAST(a.norm2 AS DOUBLE)) * sqrt(CAST(c.norm2 AS DOUBLE)))"
      val sim8 =
        s"CAST(${dotSql("a.q8", "c.q8")} AS DOUBLE) / (sqrt(CAST(a.n8 AS DOUBLE)) * sqrt(CAST(c.n8 AS DOUBLE)))"
      val ham = "bit_count(xor(c.h1, a.h1)) + bit_count(xor(c.h2, a.h2))"
      s"""WITH $quantCte,
    rep AS (SELECT qn.vec_id, qn.qv, qn.norm2,
        list_transform(e.embedding, x -> CAST(floor(CAST(x AS DOUBLE) * $Q8Scale.0) AS BIGINT)) AS q8,
        ${packDuck(0)} AS h1, ${packDuck(1)} AS h2
      FROM qn JOIN embeddings e ON e.vec_id = qn.vec_id),
    rn AS (SELECT vec_id, qv, norm2, q8, ${dotSql("q8", "q8")} AS n8, h1, h2 FROM rep),
    truth AS (SELECT q_id, c_id FROM (
        SELECT a.vec_id AS q_id, c.vec_id AS c_id,
          ROW_NUMBER() OVER (PARTITION BY a.vec_id ORDER BY $simT DESC, c.vec_id) AS rnk
        FROM rn a JOIN rn c ON a.vec_id < 8 AND c.vec_id <> a.vec_id)
      WHERE rnk <= 10),
    t8 AS (SELECT q_id, c_id FROM (
        SELECT a.vec_id AS q_id, c.vec_id AS c_id,
          ROW_NUMBER() OVER (PARTITION BY a.vec_id ORDER BY $sim8 DESC, c.vec_id) AS rnk
        FROM rn a JOIN rn c ON a.vec_id < 8 AND c.vec_id <> a.vec_id)
      WHERE rnk <= 10),
    tb AS (SELECT q_id, c_id FROM (
        SELECT a.vec_id AS q_id, c.vec_id AS c_id,
          ROW_NUMBER() OVER (PARTITION BY a.vec_id ORDER BY $ham, c.vec_id) AS rnk
        FROM rn a JOIN rn c ON a.vec_id < 8 AND c.vec_id <> a.vec_id)
      WHERE rnk <= 10)
    SELECT 'exact_int64' AS tier, CAST(512 AS BIGINT) AS bytes_per_vec,
      COUNT(*) AS n_truth,
      CAST(SUM(CASE WHEN p.c_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hits,
      CAST((SUM(CASE WHEN p.c_id IS NOT NULL THEN 1 ELSE 0 END) * 1000000) // COUNT(*) AS BIGINT) AS recall_ppm
    FROM truth t LEFT JOIN truth p ON t.q_id = p.q_id AND t.c_id = p.c_id
    UNION ALL
    SELECT 'int8', 64, COUNT(*),
      CAST(SUM(CASE WHEN p.c_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT),
      CAST((SUM(CASE WHEN p.c_id IS NOT NULL THEN 1 ELSE 0 END) * 1000000) // COUNT(*) AS BIGINT)
    FROM truth t LEFT JOIN t8 p ON t.q_id = p.q_id AND t.c_id = p.c_id
    UNION ALL
    SELECT 'binary_sign', 8, COUNT(*),
      CAST(SUM(CASE WHEN p.c_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT),
      CAST((SUM(CASE WHEN p.c_id IS NOT NULL THEN 1 ELSE 0 END) * 1000000) // COUNT(*) AS BIGINT)
    FROM truth t LEFT JOIN tb p ON t.q_id = p.q_id AND t.c_id = p.c_id
    ORDER BY tier"""
    })

  // ---------------------------------------------------------------- s36
  // REBALANCE IMPACT — the closing member of the skew arc (s31 measures
  // the hot cell, s34 caps it): what does capacity-balancing COST in
  // recall, and what does it BUY in probe cost? Both inverted-list
  // layouts — natural nearest-centroid and s34's balanced assignment —
  // serve the same 8 queries at nprobe=2 with exact re-ranking, scored
  // against one exact top-5 truth (the s16 discipline). Per layout:
  // recall, the hot-cell size (the per-probe worst case s31 prices),
  // and the ACTUAL candidate rows these queries scanned. Measured at
  // sf0.01: max_cell 64 → 50 (the tail-latency bound — what balancing
  // buys) at IDENTICAL recall (375000 ppm both, nprobe=2's floor per
  // s32) and ~equal probed_rows (777 vs 792: near-uniform cells make
  // mean probe cost ≈ 2·cap either way; the win is the worst case, not
  // the mean). The measured basis for choosing s34 at 100 TB, where the
  // hot cell IS the tail latency. One candidate join per layout
  // (|anchors|-bounded broadcast), the truth join runs once.
  private val s36 = QueryDef(
    "s36_rebalance_impact",
    (s, dir) => {
      val W = org.apache.spark.sql.expressions.Window
      val (sims, _, _, tagged) = balancedAssign(s, dir)
      val qv = withQuant(dir, s).select(col("vec_id"), col("qv"), col("norm2"))
      val anchors = qv.filter(col("vec_id") < 8)
        .select(col("vec_id").as("q_id"), col("qv").as("a_qv"), col("norm2").as("a_n2"))
      val probes = sims.filter(col("vec_id") < 8)
        .select(col("vec_id").as("q_id"), col("c_label").as("probe_label"))
        .join(broadcast(anchors), Seq("q_id"))
      val truth = qv.select(col("vec_id").as("c_id"), col("qv"), col("norm2"))
        .join(broadcast(anchors), col("c_id") =!= col("q_id"))
        .withColumn("sim", cosine("a_qv", "a_n2", "qv", "norm2"))
        .withColumn("rnk", row_number().over(
          W.partitionBy(col("q_id")).orderBy(col("sim").desc, col("c_id"))))
        .filter(col("rnk") <= 5).select(col("q_id"), col("c_id"))
        .localCheckpoint()
      def impact(name: String, lists: org.apache.spark.sql.DataFrame) = {
        val cand = lists.join(qv, Seq("vec_id"))
          .join(broadcast(probes),
            col("c_label") === col("probe_label") && col("vec_id") =!= col("q_id"))
          .localCheckpoint()
        val top5 = cand
          .withColumn("sim", cosine("a_qv", "a_n2", "qv", "norm2"))
          .withColumn("rnk", row_number().over(
            W.partitionBy(col("q_id")).orderBy(col("sim").desc, col("vec_id"))))
          .filter(col("rnk") <= 5)
          .select(col("q_id"), col("vec_id").as("c_id"), lit(1L).as("hit"))
        truth.join(top5, Seq("q_id", "c_id"), "left")
          .agg(count(lit(1)).as("n_truth"),
            sum(coalesce(col("hit"), lit(0L))).as("n_hits"))
          .crossJoin(lists.groupBy(col("c_label")).agg(count(lit(1)).as("sz"))
            .agg(max(col("sz")).as("max_cell")))
          .crossJoin(cand.agg(count(lit(1)).as("probed_rows")))
          .select(lit(name).as("layout"), col("n_truth"), col("n_hits"),
            expr("(n_hits * 1000000) DIV n_truth").as("recall_ppm"),
            col("max_cell"), col("probed_rows"))
      }
      val natural = sims.filter(col("crnk") === 1).select(col("vec_id"), col("c_label"))
      // materialize the deferred-acceptance output ONCE: impact() reads
      // its `lists` twice (candidate join + the max_cell aggregate), and
      // without this the whole 3-round window/join chain re-ran for each
      // read (r21; `natural` reads the cached sims, so only the balanced
      // side needed it). N rows of (vec_id, c_label).
      val balanced = tagged.select(col("vec_id"), col("c_label")).localCheckpoint()
      impact("natural", natural)
        .unionByName(impact("balanced", balanced))
        .orderBy(col("layout"))
    },
    Some {
      def simSql(a: String, c: String) =
        s"CAST(${dotSql(s"$a.qv", s"$c.qv")} AS DOUBLE) / (sqrt(CAST($a.norm2 AS DOUBLE)) * sqrt(CAST($c.norm2 AS DOUBLE)))"
      def impactSql(lists: String) = s"""
      SELECT COUNT(*) AS n_truth,
        CAST(SUM(CASE WHEN p.c_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hits,
        CAST((SUM(CASE WHEN p.c_id IS NOT NULL THEN 1 ELSE 0 END) * 1000000) // COUNT(*) AS BIGINT) AS recall_ppm,
        (SELECT MAX(sz) FROM (SELECT COUNT(*) AS sz FROM $lists GROUP BY c_label)) AS max_cell,
        (SELECT COUNT(*) FROM ${lists}_cand) AS probed_rows
      FROM truth t LEFT JOIN ${lists}_top5 p ON t.q_id = p.q_id AND t.c_id = p.c_id"""
      s"""WITH $balancedCte,
    nat_lists AS (SELECT vec_id, c_label FROM sims WHERE crnk = 1),
    bal_lists AS (SELECT vec_id, c_label FROM tagged),
    probes AS (SELECT s.vec_id AS q_id, s.c_label AS probe_label, q.qv AS a_qv, q.norm2 AS a_n2
      FROM sims s JOIN qn q ON q.vec_id = s.vec_id WHERE s.vec_id < 8),
    truth AS (SELECT q_id, c_id FROM (
        SELECT a.vec_id AS q_id, c.vec_id AS c_id,
          ROW_NUMBER() OVER (PARTITION BY a.vec_id ORDER BY ${simSql("a", "c")} DESC, c.vec_id) AS rnk
        FROM qn a JOIN qn c ON a.vec_id < 8 AND c.vec_id <> a.vec_id)
      WHERE rnk <= 5),
    nat_lists_cand AS (SELECT p.q_id, l.vec_id, p.a_qv, p.a_n2, q.qv, q.norm2
      FROM nat_lists l JOIN qn q ON q.vec_id = l.vec_id
      JOIN probes p ON l.c_label = p.probe_label AND l.vec_id <> p.q_id),
    bal_lists_cand AS (SELECT p.q_id, l.vec_id, p.a_qv, p.a_n2, q.qv, q.norm2
      FROM bal_lists l JOIN qn q ON q.vec_id = l.vec_id
      JOIN probes p ON l.c_label = p.probe_label AND l.vec_id <> p.q_id),
    nat_lists_top5 AS (SELECT q_id, vec_id AS c_id FROM (
        SELECT q_id, vec_id,
          ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY
            CAST(${dotSql("a_qv", "qv")} AS DOUBLE) / (sqrt(CAST(a_n2 AS DOUBLE)) * sqrt(CAST(norm2 AS DOUBLE))) DESC, vec_id) AS rnk
        FROM nat_lists_cand) WHERE rnk <= 5),
    bal_lists_top5 AS (SELECT q_id, vec_id AS c_id FROM (
        SELECT q_id, vec_id,
          ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY
            CAST(${dotSql("a_qv", "qv")} AS DOUBLE) / (sqrt(CAST(a_n2 AS DOUBLE)) * sqrt(CAST(norm2 AS DOUBLE))) DESC, vec_id) AS rnk
        FROM bal_lists_cand) WHERE rnk <= 5)
    SELECT * FROM (
      SELECT 'natural' AS layout, * FROM (${impactSql("nat_lists")})
      UNION ALL
      SELECT 'balanced', * FROM (${impactSql("bal_lists")}))
    ORDER BY layout"""
    })

  // ---------------------------------------------------------------- s37
  // SELF-RETRIEVAL MRR UNDER QUERY CORRUPTION — the standard index
  // smoke test before any embedding index ships: corrupt each query
  // vector deterministically (sign-flip ~4 of 64 dims — a stand-in for
  // encoder drift / quantized-query serving) and ask the index for the
  // ORIGINAL vector; report found@1/found@10 and MRR@10, the family's
  // first rank-AWARE metric (recall@k treats rank 1 and rank 10 the
  // same; a ranking metric catches "still found but demoted"). Run
  // through both paths — brute force (pure corruption robustness) and
  // the nprobe=2 IVF (adds probe loss when corruption moves a query
  // across a centroid boundary — exactly the failure this isolates,
  // read as the gap between the two rows). MRR is exact integer:
  // Σ floor(1e6 / rank) DIV n, missing = 0. 32 queries broadcast; the
  // candidate join is the s04 shape; ranks come off WindowGroupLimit'd
  // top-10 windows.
  private val s37 = QueryDef(
    "s37_self_retrieval_mrr",
    (s, dir) => {
      val W = org.apache.spark.sql.expressions.Window
      val all = withQuant(dir, s)
      val cent = labelCentroids(all)
      // inverted lists (s04's nearest-centroid rule)
      val lists = ivfLists(ivfAssign(all, cent))
      // corrupted queries: flip the sign of dims where (vec_id + i) % 16 = 0
      val queries = all.filter(col("vec_id") < 32)
        .select(col("vec_id").as("q_id"), expr(
          "transform(qv, (x, i) -> CASE WHEN (vec_id + i) % 16 = 0 THEN -x ELSE x END)").as("cq"))
        .withColumn("cn2", expr(dotExpr("cq", "cq")))
      val probes = queries.join(broadcast(cent))
        .withColumn("csim", cosine("cq", "cn2", "cqv", "cnorm2"))
        .withColumn("prnk", row_number().over(
          W.partitionBy(col("q_id")).orderBy(col("csim").desc, col("c_label"))))
        .filter(col("prnk") <= 2)
        .select(col("q_id"), col("cq"), col("cn2"), col("c_label").as("probe_label"))
      val winQ = W.partitionBy(col("q_id")).orderBy(col("sim").desc, col("vec_id"))
      def ranks(cand: org.apache.spark.sql.DataFrame) = cand
        .withColumn("sim", cosine("cq", "cn2", "qv", "norm2"))
        .withColumn("rnk", row_number().over(winQ).cast("long"))
        .filter(col("rnk") <= 10 && col("vec_id") === col("q_id"))
        .select(col("q_id"), col("rnk"))
      def report(name: String, r: org.apache.spark.sql.DataFrame) =
        queries.select(col("q_id")).join(r, Seq("q_id"), "left")
          .agg(count(lit(1)).as("n_queries"),
            sum(when(col("rnk") === 1, 1L).otherwise(0L)).as("found_at_1"),
            sum(when(col("rnk").isNotNull, 1L).otherwise(0L)).as("found_at_10"),
            expr("sum(CASE WHEN rnk IS NOT NULL THEN 1000000 DIV rnk ELSE 0 END) DIV count(1)").as("mrr_ppm"))
          .select(lit(name).as("method"), col("n_queries"), col("found_at_1"),
            col("found_at_10"), col("mrr_ppm"))
      val brute = ranks(lists.select(col("vec_id"), col("qv"), col("norm2"))
        .crossJoin(broadcast(queries)))
      val ivf = ranks(lists.join(broadcast(probes),
        col("list_label") === col("probe_label")))
      report("brute", brute).unionByName(report("ivf_nprobe2", ivf))
        .orderBy(col("method"))
    },
    Some {
      val simQC = s"CAST(${dotSql("q.cq", "l.qv")} AS DOUBLE) / (sqrt(CAST(q.cn2 AS DOUBLE)) * sqrt(CAST(l.norm2 AS DOUBLE)))"
      s"""WITH $quantCte,
    $ivfProbeCte,
    cq0 AS (SELECT vec_id AS q_id,
        list_transform(generate_series(1, 64),
          i -> CASE WHEN (vec_id + i - 1) % 16 = 0 THEN -qv[i] ELSE qv[i] END) AS cq
      FROM qn WHERE vec_id < 32),
    cqs AS (SELECT q_id, cq, ${dotSql("cq", "cq")} AS cn2 FROM cq0),
    prb AS (SELECT q_id, cq, cn2, c_label AS probe_label FROM (
        SELECT q.q_id, q.cq, q.cn2, c.c_label,
          ROW_NUMBER() OVER (PARTITION BY q.q_id ORDER BY
            CAST(${dotSql("q.cq", "c.cqv")} AS DOUBLE) / (sqrt(CAST(q.cn2 AS DOUBLE)) * sqrt(CAST(c.cnorm2 AS DOUBLE))) DESC, c.c_label) AS prnk
        FROM cqs q CROSS JOIN cn c)
      WHERE prnk <= 2),
    brute_r AS (SELECT q_id, rnk FROM (
        SELECT q.q_id, l.vec_id,
          ROW_NUMBER() OVER (PARTITION BY q.q_id ORDER BY $simQC DESC, l.vec_id) AS rnk
        FROM lists l CROSS JOIN cqs q)
      WHERE rnk <= 10 AND vec_id = q_id),
    ivf_r AS (SELECT q_id, rnk FROM (
        SELECT q.q_id, l.vec_id,
          ROW_NUMBER() OVER (PARTITION BY q.q_id ORDER BY $simQC DESC, l.vec_id) AS rnk
        FROM lists l JOIN prb q ON l.list_label = q.probe_label)
      WHERE rnk <= 10 AND vec_id = q_id)
    SELECT * FROM (
      SELECT 'brute' AS method, COUNT(*) AS n_queries,
        CAST(SUM(CASE WHEN r.rnk = 1 THEN 1 ELSE 0 END) AS BIGINT) AS found_at_1,
        CAST(SUM(CASE WHEN r.rnk IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS found_at_10,
        CAST(SUM(CASE WHEN r.rnk IS NOT NULL THEN 1000000 // r.rnk ELSE 0 END) // COUNT(*) AS BIGINT) AS mrr_ppm
      FROM cqs q LEFT JOIN brute_r r ON q.q_id = r.q_id
      UNION ALL
      SELECT 'ivf_nprobe2', COUNT(*),
        CAST(SUM(CASE WHEN r.rnk = 1 THEN 1 ELSE 0 END) AS BIGINT),
        CAST(SUM(CASE WHEN r.rnk IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT),
        CAST(SUM(CASE WHEN r.rnk IS NOT NULL THEN 1000000 // r.rnk ELSE 0 END) // COUNT(*) AS BIGINT)
      FROM cqs q LEFT JOIN ivf_r r ON q.q_id = r.q_id)
    ORDER BY method"""
    })

  // ---------------------------------------------------------------- s38
  // MULTI-PROBE LSH (Lv et al., VLDB'07) — the recall lever for a
  // hash-bucketed index that does NOT build more tables: besides a
  // query's home bucket, probe the buckets reached by flipping the sign
  // bits whose hyperplane projection is SMALLEST in magnitude (the
  // bits most likely to be on the wrong side for a true neighbor —
  // the "perturbation ranking" that makes multi-probe beat random bit
  // flips). Three budgets run in one query through the s23-style
  // broadcast-replay: home only (p1), home + 3 best flips (p4), home +
  // all 8 single-bit flips (p9); hits@5 against the brute top-5 ground
  // truth and candidates examined (ppm of the 8×(N−1) brute pair space)
  // quantify the recall-per-candidate trade — measured here: hits
  // 1→3→4 (sf0.001) / 1→1→2 (sf0.01) while candidate mass stays ≤3.4%.
  // Scale: probes are |queries|×9 rows broadcast into a bucket
  // equi-join against the one-bucket-per-vector lists (s02's bounded-
  // bucket discipline — no bucket is enumerated quadratically); the
  // brute side is query-set-bounded (one corpus scan × 8 broadcast
  // anchors, s01's plan). MultiProbeSpec pins hits/candidates monotone
  // non-decreasing in the probe budget per query.
  private val s38 = QueryDef(
    "s38_multiprobe_lsh",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val qb = withQuant(dir, s).withColumn("bucket", expr(bucketExprSpark))
        .select(col("vec_id"), col("qv"), col("norm2"), col("bucket"))
        .cache()
      qb.count()
      val margExpr = (0 until 8).map { j =>
        s"abs(aggregate(slice(qv, ${8 * j + 1}, 8), CAST(0 AS BIGINT), (acc, v) -> acc + v))"
      }.mkString("array(", ", ", ")")
      val anchors = qb.filter(col("vec_id") < 8)
        .select(col("vec_id").as("q_id"), col("qv").as("q_qv"),
          col("norm2").as("q_n2"), col("bucket").as("q_bucket"),
          expr(margExpr).as("marg"))
      // perturbation ranking: flip the lowest-|projection| bits first
      val flips = anchors
        .select(col("q_id"), col("q_qv"), col("q_n2"), col("q_bucket"),
          posexplode(col("marg")).as(Seq("j", "mval")))
        .withColumn("frnk", row_number().over(
          Window.partitionBy(col("q_id")).orderBy(col("mval"), col("j"))))
        .select(col("q_id"), col("q_qv"), col("q_n2"),
          expr("CAST(q_bucket ^ shiftleft(1, j) AS INT)").as("pkey"),
          col("frnk").as("tier"))
      val probes = anchors
        .select(col("q_id"), col("q_qv"), col("q_n2"),
          col("q_bucket").as("pkey"), lit(0).as("tier"))
        .unionByName(flips)
      val cand = qb.join(broadcast(probes), // |queries|×9 rows — bounded
          col("bucket") === col("pkey") && col("vec_id") =!= col("q_id"))
        .withColumn("sim", cosine("q_qv", "q_n2", "qv", "norm2"))
        .select(col("q_id"), col("tier"), col("vec_id"), col("sim"))
      val bt5 = qb.join(broadcast(anchors.select(col("q_id"), col("q_qv"), col("q_n2"))),
          col("vec_id") =!= col("q_id"))
        .withColumn("sim", cosine("q_qv", "q_n2", "qv", "norm2"))
        .withColumn("rnk", row_number().over(
          Window.partitionBy(col("q_id")).orderBy(col("sim").desc, col("vec_id"))))
        .filter(col("rnk") <= 5)
        .select(col("q_id"), col("vec_id"), lit(true).as("is_true5"))
        .localCheckpoint() // 40 rows
      import s.implicits._
      val strat = Seq(("p1_single", 0, 1), ("p4_multi", 3, 4), ("p9_multi", 8, 9))
        .toDF("strategy", "maxtier", "n_probes")
      val scored = cand.join(broadcast(strat), col("tier") <= col("maxtier"))
        .withColumn("rnk", row_number().over(
          Window.partitionBy(col("strategy"), col("q_id"))
            .orderBy(col("sim").desc, col("vec_id"))))
        .join(bt5, Seq("q_id", "vec_id"), "left")
      val n = qb.count() // fixture-stat for the ppm denominator
      scored.groupBy(col("strategy"), col("n_probes"))
        .agg(count(lit(1)).as("n_cand"),
          sum(when(col("rnk") <= 5 && col("is_true5"), 1L).otherwise(0L)).as("hits"))
        .withColumn("cand_ppm", expr(s"n_cand * 1000000 DIV ${8L * (n - 1)}"))
        .withColumn("recall_ppm", expr("hits * 1000000 DIV 40"))
        .select(col("strategy"), col("n_probes").cast("long").as("n_probes"),
          col("n_cand"), col("cand_ppm"), col("hits"), col("recall_ppm"))
        .orderBy(col("strategy"))
    },
    Some {
      val margsDuck = (0 until 8).map { j =>
        s"abs(list_reduce(qv[${8 * j + 1}:${8 * j + 8}], (acc, v) -> acc + v))"
      }.mkString("[", ", ", "]")
      val simQL = s"CAST(${dotSql("a.q_qv", "l.qv")} AS DOUBLE) / (sqrt(CAST(a.q_n2 AS DOUBLE)) * sqrt(CAST(l.norm2 AS DOUBLE)))"
      s"""WITH $quantCte,
    qb AS (SELECT vec_id, qv, norm2, $bucketExprDuck AS bucket, $margsDuck AS marg FROM qn),
    anchors AS (SELECT vec_id AS q_id, qv AS q_qv, norm2 AS q_n2, bucket AS q_bucket, marg
                FROM qb WHERE vec_id < 8),
    flips AS (SELECT q_id, q_bucket, j,
        ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY marg[j + 1], j) AS frnk
      FROM anchors CROSS JOIN generate_series(0, 7) AS g(j)),
    probes AS (
      SELECT q_id, q_bucket AS pkey, 0 AS tier FROM anchors
      UNION ALL SELECT q_id, CAST(xor(q_bucket, 1 << j) AS BIGINT), frnk FROM flips),
    cand AS (SELECT a.q_id, p.tier, l.vec_id, $simQL AS sim
             FROM probes p JOIN qb l ON l.bucket = p.pkey
               JOIN anchors a ON a.q_id = p.q_id AND l.vec_id <> a.q_id),
    bt5 AS (SELECT q_id, vec_id FROM (
        SELECT a.q_id, l.vec_id,
          ROW_NUMBER() OVER (PARTITION BY a.q_id ORDER BY $simQL DESC, l.vec_id) AS rnk
        FROM anchors a JOIN qb l ON l.vec_id <> a.q_id)
      WHERE rnk <= 5),
    strat AS (SELECT 'p1_single' AS strategy, 0 AS maxtier, 1 AS n_probes
      UNION ALL SELECT 'p4_multi', 3, 4 UNION ALL SELECT 'p9_multi', 8, 9),
    scored AS (SELECT s.strategy, s.n_probes, c.q_id, c.vec_id,
        ROW_NUMBER() OVER (PARTITION BY s.strategy, c.q_id ORDER BY c.sim DESC, c.vec_id) AS rnk
      FROM strat s JOIN cand c ON c.tier <= s.maxtier)
    SELECT strategy, CAST(n_probes AS BIGINT) AS n_probes,
      COUNT(*) AS n_cand,
      CAST(COUNT(*) * 1000000 // (8 * ((SELECT COUNT(*) FROM qn) - 1)) AS BIGINT) AS cand_ppm,
      CAST(SUM(CASE WHEN rnk <= 5 AND EXISTS (SELECT 1 FROM bt5
          WHERE bt5.q_id = scored.q_id AND bt5.vec_id = scored.vec_id)
        THEN 1 ELSE 0 END) AS BIGINT) AS hits,
      CAST(SUM(CASE WHEN rnk <= 5 AND EXISTS (SELECT 1 FROM bt5
          WHERE bt5.q_id = scored.q_id AND bt5.vec_id = scored.vec_id)
        THEN 1 ELSE 0 END) * 1000000 // 40 AS BIGINT) AS recall_ppm
    FROM scored GROUP BY 1, 2 ORDER BY strategy"""
    })

  // ---------------------------------------------------------------- s39
  // k-MEANS++ D² SEEDING (Arthur & Vassilvitskii) — the EXPECTED-quality
  // seeder next to s18's worst-case one: each new center is drawn with
  // probability ∝ dmin² instead of argmax dmin², which is what gives
  // k-means++ its O(log k)-competitive expected inertia without s18's
  // outlier-chasing. The "draw" is EXACT weighted sampling made
  // deterministic: a per-round uniform u from the house scrambled hash,
  // target T = u·Σdmin² (exact integer, DECIMAL/HUGEINT product), and
  // the selected center is the first vec_id whose prefix sum of dmin²
  // (in id order) exceeds T — inverse-CDF selection the oracle replays
  // exactly, so the pick SEQUENCE is hash-checked, not just plausible.
  // Scale: per round, dmin² state updates are s18's zero-Exchange
  // narrow map (center as broadcast literal into native dot_i64); the
  // prefix-sum inversion is TWO-LEVEL (q122's cumsum discipline) —
  // id-range shard subtotals locate the target shard in the driver,
  // and the windowed cumsum runs inside that ONE shard only, so no
  // global single-partition window ever exists. The shard COUNT is
  // fixed (≤1024: width = ⌈(max_id+1)/1024⌉), so the control collect
  // is O(1024) rows at ANY corpus size — the r18 version sharded by
  // fixed WIDTH 16, an N/16-row collect that grew linearly with the
  // corpus. Shards stay contiguous id-ranges in id order, so the
  // global-crossing pick (and every checked hash) is unchanged by the
  // width. All sums in DECIMAL(38,0)/HUGEINT —
  // Σdmin² overflows int64 at ~10⁹ rows (the s31 lesson). Output: the
  // pick trajectory with each round's u and the inertia trajectory in
  // ppm of the one-center baseline; NewOpsR18bSpec pins inertia
  // monotonically non-increasing and the picks distinct.
  private val KppRounds = 4

  private val s39 = QueryDef(
    "s39_kmeanspp_seeding",
    (s, dir) => {
      import s.implicits._
      val q = withQuant(dir, s).select(col("vec_id"), col("qv"), col("norm2")).cache()
      def uPpm(r: Int): Long = {
        val h = graft.functions.PolyHash.hash(
          org.apache.spark.unsafe.types.UTF8String.fromString(s"kpp|$r"))
        h * 2654435761L % HashMod % 1000000L
      }
      // round 1: the uniform draw = argmin scrambled id hash (1-row reduce)
      val first = q
        .withColumn("h",
          expr(s"(${strHashExpr("CAST(vec_id AS STRING)")} * 2654435761) % $HashMod"))
        .orderBy(col("h"), col("vec_id"))
        .select(col("vec_id"), col("qv"), col("norm2")).head
      var cid = first.getLong(0)
      var cqv = first.getSeq[Long](1)
      var cn2 = first.getLong(2)
      var st = q
        .withColumn("dmin",
          col("norm2") - lit(2L) * call_function("dot_i64", col("qv"),
            typedLit(cqv)) + lit(cn2))
        .withColumn("cid", lit(cid)).withColumn("crnd", lit(0L))
        .localCheckpoint()
      var rows = List((1L, cid, -1L, -1L))
      var sBase = BigInt(0)
      // fixed shard COUNT: ≤1024 contiguous id-ranges regardless of N,
      // so the level-1 control collect below is O(1024) at any scale
      val maxId = q.agg(max(col("vec_id"))).head.getLong(0)
      val shardW = (maxId + 1024L) / 1024L
      (2 to KppRounds).foreach { r =>
        // level 1 of the cumsum: id-range shard subtotals (bounded collect)
        val shardTot = st
          .selectExpr(s"vec_id DIV $shardW AS shard", "CAST(dmin AS DECIMAL(38,0)) AS d")
          .groupBy(col("shard")).agg(sum(col("d")).as("tot"))
          .collect()
          .map(x => (x.getLong(0), BigInt(x.getDecimal(1).toBigInteger)))
          .sortBy(_._1)
        val sTot = shardTot.map(_._2).sum
        if (r == 2) sBase = sTot
        val u = uPpm(r)
        val tgt = sTot * u / 1000000
        // locate the shard where the global prefix sum crosses the target
        var acc = BigInt(0); var ts = -1L; var resid = BigInt(0)
        shardTot.foreach { case (sh, t) =>
          if (ts < 0 && acc + t > tgt) { ts = sh; resid = tgt - acc } else if (ts < 0) acc += t
        }
        // level 2: windowed cumsum inside the one target shard
        val pick = st.filter(expr(s"vec_id DIV $shardW = $ts"))
          .selectExpr("vec_id", "qv", "norm2",
            s"""SUM(CAST(dmin AS DECIMAL(38,0))) OVER
               (PARTITION BY vec_id DIV $shardW
                ORDER BY vec_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum""")
          .filter(expr(s"cum > CAST('$resid' AS DECIMAL(38,0))"))
          .orderBy(col("vec_id"))
          .select(col("vec_id"), col("qv"), col("norm2")).head
        cid = pick.getLong(0); cqv = pick.getSeq[Long](1); cn2 = pick.getLong(2)
        rows ::= ((r.toLong, cid, u, (sTot * 1000000 / sBase).toLong))
        st = kcenterUpdate(st, cqv, cn2, cid, r.toLong).localCheckpoint()
      }
      val sFinal = BigInt(st
        .selectExpr("CAST(SUM(CAST(dmin AS DECIMAL(38,0))) AS STRING) AS s")
        .head.getString(0))
      rows ::= ((KppRounds + 1L, -1L, -1L, (sFinal * 1000000 / sBase).toLong))
      q.unpersist()
      rows.reverse.toDF("round", "center_id", "u_ppm", "inertia_ppm")
        .orderBy(col("round"))
    },
    Some {
      def dot(a: String, c: String) = dotSql(s"$a.qv", s"$c.qv")
      def uSql(r: Int) =
        s"((${strHashSql(s"'kpp|$r'")} * 2654435761) % $HashMod % 1000000)"
      val roundCtes = (2 to KppRounds).map { r =>
        s"""t$r AS (SELECT (SUM(dmin) * ${uSql(r)}) // 1000000 AS tgt, SUM(dmin) AS s
             FROM d$r),
    p$r AS (SELECT vec_id FROM (
              SELECT vec_id, SUM(dmin) OVER (ORDER BY vec_id) AS cum FROM d$r) x, t$r
            WHERE cum > tgt ORDER BY vec_id LIMIT 1),
    c$r AS (SELECT q.vec_id, q.qv, q.norm2 FROM qn q JOIN p$r USING (vec_id)),
    d${r + 1} AS (SELECT d$r.vec_id,
              LEAST(d$r.dmin, q.norm2 + c.norm2 - 2 * ${dot("q", "c")}) AS dmin
            FROM d$r JOIN qn q ON q.vec_id = d$r.vec_id, c$r c)"""
      }.mkString(",\n    ")
      s"""WITH $quantCte,
    h0 AS (SELECT vec_id, qv, norm2,
             (${strHashSql("CAST(vec_id AS VARCHAR)")} * 2654435761) % $HashMod AS h
           FROM qn),
    c1 AS (SELECT vec_id, qv, norm2 FROM h0 ORDER BY h, vec_id LIMIT 1),
    d2 AS (SELECT q.vec_id, q.norm2 + c.norm2 - 2 * ${dot("q", "c")} AS dmin
           FROM qn q, c1 c),
    $roundCtes
    SELECT * FROM (
      SELECT CAST(1 AS BIGINT) AS round, (SELECT vec_id FROM c1) AS center_id,
        CAST(-1 AS BIGINT) AS u_ppm, CAST(-1 AS BIGINT) AS inertia_ppm
      ${(2 to KppRounds).map { r =>
        s"""UNION ALL SELECT $r, (SELECT vec_id FROM p$r), ${uSql(r)},
        CAST((SELECT s FROM t$r) * 1000000 // (SELECT s FROM t2) AS BIGINT)"""
      }.mkString("\n      ")}
      UNION ALL SELECT ${KppRounds + 1}, -1, -1,
        CAST((SELECT SUM(dmin) FROM d${KppRounds + 1}) * 1000000
             // (SELECT s FROM t2) AS BIGINT)
    ) ORDER BY round"""
    })

  // ---------------------------------------------------------------- s40
  // INDEX STALENESS AUDIT — the "when do we rebuild" decision for a
  // deployed IVF index (s12/s13 keep the LAYOUT fresh incrementally;
  // this measures whether the CODEBOOK itself has gone stale): refresh
  // the deployed centroids with one Lloyd step (s07's update, the
  // cheapest honest probe of where the centroids want to move) and
  // report, per cell, how many members would change their nearest
  // centroid under the refreshed codebook (reassign_ppm — every
  // reassigned vector is one the stale index files in the wrong
  // inverted list) plus the exact squared displacement of the centroid
  // itself. The ≥10% reassignment bar is the rebuild trigger. Scale:
  // two K-row broadcast assignment passes and one (cluster, dim)
  // aggregate — the corpus shuffles once (the Lloyd mean), everything
  // else is narrow; the audit is strictly cheaper than the rebuild it
  // gates.
  private val s40 = QueryDef(
    "s40_index_staleness",
    (s, dir) => {
      val q = withQuant(dir, s).select(col("vec_id"), col("qv"), col("norm2")).cache()
      q.count()
      val c0 = labelCentroids(withQuant(dir, s))
      def assign(cent: DataFrame, tag: String) =
        ivfAssign(q, cent).filter(col("crnk") === 1)
          .select(col("vec_id"), col("qv"), col("c_label").as(tag))
      val a0 = assign(c0, "cell0").localCheckpoint()
      // one Lloyd step from the deployed assignment: the refreshed codebook
      val c1 = a0.select(col("cell0"), posexplode(col("qv")).as(Seq("pos", "v")))
        .groupBy(col("cell0"), col("pos"))
        .agg(floor(sum(col("v")).cast("double") / count(lit(1))).cast("long").as("cv"))
        .groupBy(col("cell0"))
        .agg(expr("transform(array_sort(collect_list(struct(pos, cv)), (l, r) -> CASE WHEN l.pos < r.pos THEN -1 WHEN l.pos > r.pos THEN 1 ELSE 0 END), p -> p.cv)").as("cqv"))
        .withColumn("cnorm2", expr(dotExpr("cqv", "cqv")))
        .select(col("cell0").as("c_label"), col("cqv"), col("cnorm2"))
      val a1 = assign(c1, "cell1")
      val perCell = a0.select(col("vec_id"), col("cell0"))
        .join(a1.select(col("vec_id"), col("cell1")), "vec_id")
        .groupBy(col("cell0").as("cell"))
        .agg(count(lit(1)).as("n_members"),
          sum(when(col("cell0") =!= col("cell1"), 1L).otherwise(0L)).as("n_reassigned"))
      // exact squared displacement of each centroid under the refresh
      val disp = c0.select(col("c_label").as("cell"), col("cqv").as("v0"),
          col("cnorm2").as("n0"))
        .join(c1.select(col("c_label").as("cell"), col("cqv").as("v1"),
          col("cnorm2").as("n1")), "cell")
        .select(col("cell"),
          (col("n0") + col("n1") - lit(2L) * expr(dotExpr("v0", "v1"))).as("disp2"))
      val cells = perCell.join(disp, "cell")
      val total = cells.agg(sum(col("n_members")).as("n_members"),
          sum(col("n_reassigned")).as("n_reassigned"),
          sum(col("disp2")).as("disp2"))
        .withColumn("cell", lit(-1L))
      cells.select(col("cell").cast("long"), col("n_members"), col("n_reassigned"), col("disp2"))
        .unionByName(total.select(col("cell"), col("n_members"), col("n_reassigned"), col("disp2")))
        .withColumn("reassign_ppm", expr("n_reassigned * 1000000 DIV n_members"))
        .withColumn("rebuild", col("reassign_ppm") >= 100000L)
        .orderBy(col("cell"))
    },
    Some {
      val simA = s"CAST(${dotSql("a.qv", "b.cqv")} AS DOUBLE) / (sqrt(CAST(a.norm2 AS DOUBLE)) * sqrt(CAST(b.cnorm2 AS DOUBLE)))"
      s"""WITH $quantCte,
    ${centroidCte()},
    cn AS (SELECT c_label, cqv, ${dotSql("cqv", "cqv")} AS cnorm2 FROM ce),
    a0 AS (SELECT vec_id, qv, c_label AS cell0 FROM (
        SELECT a.vec_id, a.qv, b.c_label,
          ROW_NUMBER() OVER (PARTITION BY a.vec_id ORDER BY $simA DESC, b.c_label) AS rnk
        FROM qn a CROSS JOIN cn b) WHERE rnk = 1),
    ${centroidCte(key = "cell0", src = "a0", sfx = "1")},
    cn1 AS (SELECT c_label, cqv, ${dotSql("cqv", "cqv")} AS cnorm2 FROM ce1),
    a1 AS (SELECT vec_id, c_label AS cell1 FROM (
        SELECT a.vec_id, b.c_label,
          ROW_NUMBER() OVER (PARTITION BY a.vec_id ORDER BY $simA DESC, b.c_label) AS rnk
        FROM qn a CROSS JOIN cn1 b) WHERE rnk = 1),
    pc AS (SELECT cell0 AS cell, COUNT(*) AS n_members,
        SUM(CASE WHEN cell0 <> cell1 THEN 1 ELSE 0 END) AS n_reassigned
      FROM a0 JOIN a1 USING (vec_id) GROUP BY 1),
    dsp AS (SELECT o.c_label AS cell,
        o.cnorm2 + n.cnorm2 - 2 * ${dotSql("o.cqv", "n.cqv")} AS disp2
      FROM cn o JOIN cn1 n ON o.c_label = n.c_label),
    cells AS (SELECT cell, n_members, n_reassigned, disp2 FROM pc JOIN dsp USING (cell)),
    un AS (SELECT CAST(cell AS BIGINT) AS cell, n_members, n_reassigned, disp2 FROM cells
      UNION ALL
      SELECT -1, SUM(n_members), SUM(n_reassigned), SUM(disp2) FROM cells)
    SELECT cell, CAST(n_members AS BIGINT) AS n_members,
      CAST(n_reassigned AS BIGINT) AS n_reassigned,
      CAST(disp2 AS BIGINT) AS disp2,
      CAST(n_reassigned * 1000000 // n_members AS BIGINT) AS reassign_ppm,
      n_reassigned * 1000000 // n_members >= 100000 AS rebuild
    FROM un ORDER BY cell"""
    })

  // ---------------------------------------------------------------- s41
  // RESIDUAL QUANTIZATION — the additive-codebook alternative to s10's
  // product quantizer (RQ/LSQ family: FAISS ResidualQuantizer): stage 1
  // reconstructs each vector as its IVF centroid (the coarse codebook),
  // stage 2 encodes the RESIDUAL against a second codebook and adds it
  // back. The second codebook is deterministic — residuals are grouped
  // by their 8-bit sign-LSH bucket (s02's hash applied to the residual)
  // and the codeword is the floored per-component mean, the same
  // convention as every centroid in this file — so both engines derive
  // identical codes with no training loop. Per-vector squared errors
  // are exact int64 (quantized components; the DIV-1000 rescale keeps
  // corpus sums far from overflow at any SF), and `improved` pins the
  // claim that adding the residual stage reduces reconstruction error
  // for EVERY cell — the property that makes RQ's extra table lookup
  // worth its bytes. Scale: stage 2 costs one zip_with per row plus a
  // ≤256-row codebook broadcast; the codebook build is one map-side-
  // combined (bucket, pos) aggregate.
  private val s41 = QueryDef(
    "s41_residual_quantizer",
    (s, dir) => {
      def signBucket(arr: String): String = (0 until 8).map { j =>
        s"(CASE WHEN aggregate(slice($arr, ${8 * j + 1}, 8), CAST(0 AS BIGINT), (acc, v) -> acc + v) > 0 THEN ${1 << j} ELSE 0 END)"
      }.mkString(" + ")
      val q = withQuant(dir, s)
      val cent = labelCentroids(q)
      val resid = q.join(broadcast(cent), col("label") === col("c_label"))
        .withColumn("rv", expr("zip_with(qv, cqv, (x, y) -> x - y)"))
        .withColumn("bucket", expr(signBucket("rv")))
        .select(col("vec_id"), col("label"), col("rv"), col("bucket"))
        .localCheckpoint() // reused by the codebook build and the rescore
      val codebook = resid
        .select(col("bucket"), posexplode(col("rv")).as(Seq("pos", "v")))
        .groupBy(col("bucket"), col("pos"))
        .agg(floor(sum(col("v")).cast("double") / count(lit(1))).cast("long").as("cw"))
        .groupBy(col("bucket"))
        .agg(expr("""transform(array_sort(collect_list(struct(pos, cw)),
            (l, r) -> CASE WHEN l.pos < r.pos THEN -1 WHEN l.pos > r.pos THEN 1 ELSE 0 END),
            p -> p.cw)""").as("cw"))
      val perVec = resid.join(broadcast(codebook), Seq("bucket"))
        .select(col("label"),
          expr("aggregate(rv, 0L, (a, x) -> a + x * x) DIV 1000").as("e1"),
          expr("""aggregate(zip_with(rv, cw, (x, y) -> x - y), 0L,
                  (a, d) -> a + d * d) DIV 1000""").as("e2"))
      val perCell = perVec.groupBy(col("label").cast("long").as("label"))
        .agg(count(lit(1)).as("n_vecs"),
          sum(col("e1")).as("err_coarse"), sum(col("e2")).as("err_residual"))
      val total = perVec.agg(count(lit(1)).as("n_vecs"),
          sum(col("e1")).as("err_coarse"), sum(col("e2")).as("err_residual"))
        .select(lit(-1L).as("label"), col("n_vecs"), col("err_coarse"),
          col("err_residual"))
      perCell.unionByName(total)
        // DECIMAL(38,0) headroom: err sums × 1e6 can pass int64 (the s31
        // imbalance_ppm overflow class — Spark wraps/raises, DuckDB
        // promotes, so the engines would diverge)
        .withColumn("drop_ppm",
          expr("""CAST((CAST(err_coarse AS DECIMAL(38,0)) - err_residual) * 1000000
                  DIV CAST(err_coarse AS DECIMAL(38,0)) AS BIGINT)"""))
        .withColumn("improved", col("err_residual") <= col("err_coarse"))
        .orderBy(col("label"))
    },
    Some {
      def signBucketDuck(arr: String): String = (0 until 8).map { j =>
        s"(CASE WHEN list_reduce($arr[${8 * j + 1}:${8 * j + 8}], (acc, v) -> acc + v) > 0 THEN ${1 << j} ELSE 0 END)"
      }.mkString(" + ")
      s"""WITH $quantCte,
    ${centroidCte(outKey = "label")},
    rs AS (SELECT qn.vec_id, qn.label,
             list_transform(generate_series(1, 64), i -> qn.qv[i] - ce.cqv[i]) AS rv
           FROM qn JOIN ce USING (label)),
    rb AS (SELECT *, ${signBucketDuck("rv")} AS bucket FROM rs),
    ex2 AS (SELECT bucket, i AS pos, rv[i] AS v
            FROM rb CROSS JOIN generate_series(1, 64) AS g(i)),
    cb AS (SELECT bucket, pos, CAST(floor(CAST(SUM(v) AS DOUBLE) / COUNT(*)) AS BIGINT) AS cw
           FROM ex2 GROUP BY bucket, pos),
    cbl AS (SELECT bucket, list(cw ORDER BY pos) AS cw FROM cb GROUP BY bucket),
    er AS (SELECT rb.label,
             CAST(list_sum(list_transform(rb.rv, x -> x * x)) AS BIGINT) // 1000 AS e1,
             CAST(list_sum(list_transform(generate_series(1, 64),
               i -> (rb.rv[i] - cbl.cw[i]) * (rb.rv[i] - cbl.cw[i]))) AS BIGINT) // 1000 AS e2
           FROM rb JOIN cbl USING (bucket)),
    agged AS (
      SELECT CAST(label AS BIGINT) AS label, COUNT(*) AS n_vecs,
        SUM(e1) AS err_coarse, SUM(e2) AS err_residual
      FROM er GROUP BY 1
      UNION ALL
      SELECT -1, COUNT(*), SUM(e1), SUM(e2) FROM er)
    SELECT label, CAST(n_vecs AS BIGINT) AS n_vecs,
      CAST(err_coarse AS BIGINT) AS err_coarse,
      CAST(err_residual AS BIGINT) AS err_residual,
      CAST((CAST(err_coarse AS HUGEINT) - err_residual) * 1000000
        // CAST(err_coarse AS HUGEINT) AS BIGINT) AS drop_ppm,
      err_residual <= err_coarse AS improved
    FROM agged ORDER BY label"""
    })

  // ---------------------------------------------------------------- s42
  // NN-DESCENT ROUND — one iteration of Dong et al.'s graph-refinement
  // loop: a neighbor of my neighbor is probably my neighbor. The
  // initial graph is top-3 by exact cosine over CHEAP candidates — the
  // node's IVF cell plus a deterministic 3-edge id-ring (the paper's
  // random init, made reproducible) — and the round re-ranks each
  // node's current edges plus all 2-hop walks, cutting back to k=3.
  // The ring is what makes the round able to ESCAPE the cell: on this
  // corpus ~75% of true top-3 edges cross IVF cells (measured at both
  // correctness SFs), so a purely cell-restricted graph is capped near
  // 25% recall and its 2-hops can never leave; ring 2-hops can.
  // Because each node's old top-3 is a subset of its candidate set,
  // per-node hit counts are monotone — `improved` pins that against
  // the brute-force truth (computed here as the audit; at corpus scale
  // NN-descent exists precisely so the truth is never materialized).
  // n_cross0/n_cross1 count kept cross-cell edges before/after the
  // round. Scale: candidate volume is N·k² per round — linear in N
  // with k² fan-out, never the N² of the truth table.
  private val s42 = QueryDef(
    "s42_nn_descent",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val q = withQuant(dir, s)
      val cent = labelCentroids(q)
      val assigned = ivfAssign(q, cent).filter(col("crnk") === 1)
        .select(col("vec_id"), col("qv"), col("norm2"), col("c_label"))
        .localCheckpoint()
      val n = assigned.count() // vec_ids are contiguous 0..N-1
      val side = assigned.select(col("vec_id"), col("qv"), col("norm2"), col("c_label"))
      // rank candidate edges by exact cosine, keep top-3 per src
      def rankTop3(cand: org.apache.spark.sql.DataFrame) = cand
        .join(side.select(col("vec_id").as("src"), col("qv").as("qv1"),
          col("norm2").as("n1"), col("c_label").as("lab1")), Seq("src"))
        .join(side.select(col("vec_id").as("dst"), col("qv").as("qv2"),
          col("norm2").as("n2"), col("c_label").as("lab2")), Seq("dst"))
        .withColumn("sim", cosine("qv1", "n1", "qv2", "n2"))
        .withColumn("rnk", row_number().over(
          Window.partitionBy(col("src")).orderBy(col("sim").desc, col("dst"))))
        .filter(col("rnk") <= 3)
        .select(col("src"), col("dst"),
          (col("lab1") =!= col("lab2")).cast("long").as("cross_cell"))
      val cellPairs = assigned.select(col("c_label"), col("vec_id").as("src"))
        .join(assigned.select(col("c_label").as("cl2"), col("vec_id").as("dst")),
          col("c_label") === col("cl2") && col("src") =!= col("dst"))
        .select(col("src"), col("dst"))
      val ring = assigned.select(col("vec_id").as("src"))
        .select(col("src"), explode(expr("sequence(1, 3)")).as("j"))
        .select(col("src"), ((col("src") + col("j")) % n).as("dst"))
      val g0 = rankTop3(cellPairs.unionByName(ring).distinct()).localCheckpoint()
      val e0 = g0.select(col("src"), col("dst"))
      val cand = e0
        .unionByName(e0.as("e1").join(e0.as("e2"), col("e1.dst") === col("e2.src"))
          .filter(col("e1.src") =!= col("e2.dst"))
          .select(col("e1.src").as("src"), col("e2.dst").as("dst")))
        .distinct()
      val g1 = rankTop3(cand).localCheckpoint()
      // brute-force truth (the audit): exact global top-3 per node. The
      // non-equi all-pairs join is the POINT of the audit — bcastIfSmall
      // keeps it a BroadcastNestedLoop while the embeddings file is
      // dim-sized (it is at every correctness SF) and drops the hint
      // beyond the 32 MB gate, where the truth audit has no business
      // running anyway (NN-descent exists so it never does).
      val truth = assigned
        .select(col("vec_id").as("src"), col("qv").as("qv1"), col("norm2").as("n1"))
        .join(bcastIfSmall(assigned.select(col("vec_id").as("dst"), col("qv").as("qv2"),
          col("norm2").as("n2")), dir, "embeddings"), col("src") =!= col("dst"))
        .withColumn("sim", cosine("qv1", "n1", "qv2", "n2"))
        .withColumn("rnk", row_number().over(
          Window.partitionBy(col("src")).orderBy(col("sim").desc, col("dst"))))
        .filter(col("rnk") <= 3)
        .select(col("src"), col("dst"))
      def hits(g: org.apache.spark.sql.DataFrame, name: String) =
        g.select(col("src"), col("dst")).join(truth, Seq("src", "dst"), "left_semi")
          .groupBy(col("src")).agg(count(lit(1)).as(name))
      def crosses(g: org.apache.spark.sql.DataFrame, name: String) =
        g.groupBy(col("src")).agg(sum(col("cross_cell")).as(name))
      val perCell = assigned.select(col("vec_id").as("src"), col("c_label"))
        .join(hits(g0, "h0"), Seq("src"), "left")
        .join(hits(g1, "h1"), Seq("src"), "left")
        .join(crosses(g0, "x0"), Seq("src"), "left")
        .join(crosses(g1, "x1"), Seq("src"), "left")
        .groupBy(col("c_label").cast("long").as("cell"))
        .agg(count(lit(1)).as("n_nodes"),
          sum(coalesce(col("h0"), lit(0L))).as("hits0"),
          sum(coalesce(col("h1"), lit(0L))).as("hits1"),
          sum(coalesce(col("x0"), lit(0L))).as("n_cross0"),
          sum(coalesce(col("x1"), lit(0L))).as("n_cross1"))
        .select(col("cell"), col("n_nodes"),
          expr("hits0 * 1000000 DIV (n_nodes * 3)").as("recall0_ppm"),
          expr("hits1 * 1000000 DIV (n_nodes * 3)").as("recall1_ppm"),
          col("n_cross0"), col("n_cross1"))
        .withColumn("improved", col("recall1_ppm") >= col("recall0_ppm"))
      perCell.orderBy(col("cell"))
    },
    Some(s"""WITH $quantCte,
    $ivfProbeCte,
    cb AS (SELECT vec_id, qv, norm2, list_label AS c_label FROM lists),
    nn AS (SELECT COUNT(*) AS n FROM cb),
    init AS (
      SELECT a.vec_id AS src, b.vec_id AS dst
      FROM cb a JOIN cb b ON a.c_label = b.c_label AND a.vec_id <> b.vec_id
      UNION
      SELECT cb.vec_id AS src, (cb.vec_id + g.j) % nn.n AS dst
      FROM cb CROSS JOIN nn CROSS JOIN generate_series(1, 3) AS g(j)),
    g0 AS (SELECT src, dst, cross_cell FROM (
        SELECT c.src, c.dst,
          CASE WHEN a.c_label <> b.c_label THEN 1 ELSE 0 END AS cross_cell,
          ROW_NUMBER() OVER (PARTITION BY c.src
            ORDER BY $simSql DESC, c.dst) AS rnk
        FROM init c JOIN cb a ON a.vec_id = c.src JOIN cb b ON b.vec_id = c.dst)
      WHERE rnk <= 3),
    cand AS (
      SELECT src, dst FROM g0
      UNION
      SELECT e1.src, e2.dst FROM g0 e1 JOIN g0 e2 ON e1.dst = e2.src
      WHERE e1.src <> e2.dst),
    g1 AS (SELECT src, dst, cross_cell FROM (
        SELECT c.src, c.dst,
          CASE WHEN a.c_label <> b.c_label THEN 1 ELSE 0 END AS cross_cell,
          ROW_NUMBER() OVER (PARTITION BY c.src
            ORDER BY $simSql DESC, c.dst) AS rnk
        FROM cand c JOIN cb a ON a.vec_id = c.src JOIN cb b ON b.vec_id = c.dst)
      WHERE rnk <= 3),
    truth AS (SELECT src, dst FROM (
        SELECT a.vec_id AS src, b.vec_id AS dst,
          ROW_NUMBER() OVER (PARTITION BY a.vec_id
            ORDER BY $simSql DESC, b.vec_id) AS rnk
        FROM cb a JOIN cb b ON a.vec_id <> b.vec_id)
      WHERE rnk <= 3),
    h0 AS (SELECT g0.src, COUNT(*) AS h0 FROM g0 JOIN truth USING (src, dst)
           GROUP BY 1),
    h1 AS (SELECT g1.src, COUNT(*) AS h1 FROM g1 JOIN truth USING (src, dst)
           GROUP BY 1),
    x0 AS (SELECT src, SUM(cross_cell) AS x0 FROM g0 GROUP BY 1),
    x1 AS (SELECT src, SUM(cross_cell) AS x1 FROM g1 GROUP BY 1),
    pc AS (SELECT CAST(cb.c_label AS BIGINT) AS cell, COUNT(*) AS n_nodes,
             SUM(COALESCE(h0.h0, 0)) AS hits0, SUM(COALESCE(h1.h1, 0)) AS hits1,
             SUM(COALESCE(x0.x0, 0)) AS n_cross0, SUM(COALESCE(x1.x1, 0)) AS n_cross1
           FROM cb LEFT JOIN h0 ON h0.src = cb.vec_id
             LEFT JOIN h1 ON h1.src = cb.vec_id
             LEFT JOIN x0 ON x0.src = cb.vec_id
             LEFT JOIN x1 ON x1.src = cb.vec_id
           GROUP BY 1)
    SELECT cell, CAST(n_nodes AS BIGINT) AS n_nodes,
      CAST(hits0 * 1000000 // (n_nodes * 3) AS BIGINT) AS recall0_ppm,
      CAST(hits1 * 1000000 // (n_nodes * 3) AS BIGINT) AS recall1_ppm,
      CAST(n_cross0 AS BIGINT) AS n_cross0, CAST(n_cross1 AS BIGINT) AS n_cross1,
      hits1 * 1000000 // (n_nodes * 3) >= hits0 * 1000000 // (n_nodes * 3) AS improved
    FROM pc ORDER BY cell"""))

  // ---------------------------------------------------------------- s43
  // ADAPTIVE NPROBE (early termination) — the per-query policy that
  // fixed-nprobe sweeps (s23/s33) can't express: probe cells in
  // decreasing centroid-similarity order and STOP as soon as the next
  // cell's centroid sim falls more than a 0.05 margin below the best
  // hit found so far — easy queries (whose neighbors live in the first
  // cell) quit after one probe, hard queries near cell boundaries keep
  // going. The audit derives what the policy would have scanned by
  // scoring all cells once (fixture-scale truth work, the s42
  // discipline): per query, cells probed vs the 10 available,
  // candidates touched, recall@5 of the truncated probe set, and
  // saved_ppm vs a full corpus scan. An absolute margin (not a
  // multiplicative one) keeps the rule well-defined when cosine goes
  // negative. Scale: the policy itself costs one K-row centroid probe
  // per query plus the probed cells' postings — the stop rule reads
  // only numbers the probe sequence already produced.
  private val s43 = QueryDef(
    "s43_adaptive_nprobe",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val q = withQuant(dir, s)
      val cent = labelCentroids(q)
      val assigned = ivfAssign(q, cent).filter(col("crnk") === 1)
        .select(col("vec_id"), col("qv"), col("norm2"), col("c_label"))
        .localCheckpoint()
      val queries = assigned.filter(col("vec_id") < 8)
        .select(col("vec_id").as("q_id"), col("qv").as("q_qv"), col("norm2").as("q_n2"))
      // probe order: all K centroids per query, ranked by centroid sim
      val qc = broadcast(queries).crossJoin(broadcast(cent))
        .withColumn("csim", cosine("q_qv", "q_n2", "cqv", "cnorm2"))
        .withColumn("j", row_number().over(
          Window.partitionBy(col("q_id")).orderBy(col("csim").desc, col("c_label"))))
        .select(col("q_id"), col("c_label"), col("csim"), col("j"))
      // per (query, cell): the best exact hit inside the cell
      val scored = assigned
        .select(col("vec_id").as("c_id"), col("qv").as("c_qv"),
          col("norm2").as("c_n2"), col("c_label"))
        .join(broadcast(queries), col("c_id") =!= col("q_id"))
        .withColumn("sim", cosine("q_qv", "q_n2", "c_qv", "c_n2"))
        .localCheckpoint() // feeds cell-bests, the probe set, and the truth
      val cellBest = scored.groupBy(col("q_id"), col("c_label"))
        .agg(max(col("sim")).as("best"))
      // margin sweep (the s23 discipline): one ranked probe sequence
      // replayed under three stop margins — easy corpora saturate at
      // 0.05, this one's cross-cell neighbor structure (s42's finding)
      // needs the looser stops, and the curve prices that
      val margins = s.range(0, 3)
        .select(expr("element_at(array(5L, 15L, 30L), CAST(id + 1 AS INT))")
          .as("margin_x100"))
      val wj = Window.partitionBy(col("q_id"), col("margin_x100")).orderBy(col("j"))
      val probed = qc.join(cellBest, Seq("q_id", "c_label"))
        .crossJoin(broadcast(margins))
        .withColumn("prevbest", max(col("best")).over(
          wj.rowsBetween(Window.unboundedPreceding, -1)))
        .withColumn("bad",
          when(col("j") === 1 ||
            col("csim") >= col("prevbest") - col("margin_x100").cast("double") / 100.0, 0L)
            .otherwise(1L))
        .withColumn("badpfx", sum(col("bad")).over(
          wj.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .filter(col("badpfx") === 0)
        .select(col("margin_x100"), col("q_id"), col("c_label"))
      val cand = scored.join(probed, Seq("q_id", "c_label"))
      val top5 = cand
        .withColumn("rnk", row_number().over(
          Window.partitionBy(col("margin_x100"), col("q_id"))
            .orderBy(col("sim").desc, col("c_id"))))
        .filter(col("rnk") <= 5)
        .select(col("margin_x100"), col("q_id"), col("c_id"))
      val truth = scored
        .withColumn("rnk", row_number().over(
          Window.partitionBy(col("q_id")).orderBy(col("sim").desc, col("c_id"))))
        .filter(col("rnk") <= 5)
        .select(col("q_id"), col("c_id"))
      val n = assigned.count()
      val hits = top5.join(truth, Seq("q_id", "c_id"), "left_semi")
        .groupBy(col("margin_x100"), col("q_id")).agg(count(lit(1)).as("h"))
      probed.groupBy(col("margin_x100"), col("q_id"))
        .agg(count(lit(1)).as("n_cells_probed"))
        .join(cand.groupBy(col("margin_x100"), col("q_id"))
          .agg(count(lit(1)).as("n_candidates")), Seq("margin_x100", "q_id"))
        .join(hits, Seq("margin_x100", "q_id"), "left")
        .select(col("margin_x100"), col("q_id"), col("n_cells_probed"),
          col("n_candidates"),
          expr("coalesce(h, 0L) * 1000000 DIV 5").as("recall5_ppm"),
          expr(s"(${n - 1}L - n_candidates) * 1000000 DIV ${n - 1}L").as("saved_ppm"))
        .orderBy(col("margin_x100"), col("q_id"))
    },
    Some(s"""WITH $quantCte,
    $ivfProbeCte,
    qs AS (SELECT vec_id AS q_id, qv AS q_qv, norm2 AS q_n2 FROM qn
           WHERE vec_id < 8),
    qc AS (SELECT q_id, c_label, csim,
             ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY csim DESC, c_label) AS j
           FROM (SELECT q.q_id, b.c_label,
                   CAST(${dotSql("q.q_qv", "b.cqv")} AS DOUBLE)
                     / (sqrt(CAST(q.q_n2 AS DOUBLE)) * sqrt(CAST(b.cnorm2 AS DOUBLE))) AS csim
                 FROM qs q CROSS JOIN cn b)),
    sc AS (SELECT q.q_id, l.vec_id AS c_id, l.list_label AS c_label,
             CAST(${dotSql("q.q_qv", "l.qv")} AS DOUBLE)
               / (sqrt(CAST(q.q_n2 AS DOUBLE)) * sqrt(CAST(l.norm2 AS DOUBLE))) AS sim
           FROM qs q JOIN lists l ON l.vec_id <> q.q_id),
    cb AS (SELECT q_id, c_label, MAX(sim) AS best FROM sc GROUP BY 1, 2),
    margins AS (SELECT CAST(m AS BIGINT) AS margin_x100
                FROM (VALUES (5), (15), (30)) t(m)),
    seq AS (SELECT mg.margin_x100, qc.q_id, qc.c_label, qc.j, qc.csim, cb.best,
              MAX(cb.best) OVER (PARTITION BY mg.margin_x100, qc.q_id ORDER BY qc.j
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prevbest
            FROM qc JOIN cb ON qc.q_id = cb.q_id AND qc.c_label = cb.c_label
            CROSS JOIN margins mg),
    ok AS (SELECT *, CASE WHEN j = 1
                            OR csim >= prevbest - CAST(margin_x100 AS DOUBLE) / 100.0
                          THEN 0 ELSE 1 END AS bad FROM seq),
    pr AS (SELECT *, SUM(bad) OVER (PARTITION BY margin_x100, q_id ORDER BY j
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS badpfx FROM ok),
    probed AS (SELECT margin_x100, q_id, c_label FROM pr WHERE badpfx = 0),
    cand AS (SELECT probed.margin_x100, sc.* FROM sc JOIN probed
             ON sc.q_id = probed.q_id AND sc.c_label = probed.c_label),
    top5 AS (SELECT margin_x100, q_id, c_id FROM (
        SELECT margin_x100, q_id, c_id, ROW_NUMBER() OVER (
          PARTITION BY margin_x100, q_id
          ORDER BY sim DESC, c_id) AS rnk FROM cand) WHERE rnk <= 5),
    truth AS (SELECT q_id, c_id FROM (
        SELECT q_id, c_id, ROW_NUMBER() OVER (PARTITION BY q_id
          ORDER BY sim DESC, c_id) AS rnk FROM sc) WHERE rnk <= 5),
    nn2 AS (SELECT COUNT(*) AS n FROM qn),
    h AS (SELECT top5.margin_x100, top5.q_id, COUNT(*) AS h
          FROM top5 JOIN truth
          ON top5.q_id = truth.q_id AND top5.c_id = truth.c_id GROUP BY 1, 2),
    pc AS (SELECT margin_x100, q_id, COUNT(*) AS n_cells_probed
           FROM probed GROUP BY 1, 2),
    cc2 AS (SELECT margin_x100, q_id, COUNT(*) AS n_candidates
            FROM cand GROUP BY 1, 2)
    SELECT pc.margin_x100, pc.q_id,
      CAST(n_cells_probed AS BIGINT) AS n_cells_probed,
      CAST(n_candidates AS BIGINT) AS n_candidates,
      CAST(COALESCE(h.h, 0) * 1000000 // 5 AS BIGINT) AS recall5_ppm,
      CAST((nn2.n - 1 - n_candidates) * 1000000 // (nn2.n - 1) AS BIGINT) AS saved_ppm
    FROM pc JOIN cc2 ON pc.margin_x100 = cc2.margin_x100 AND pc.q_id = cc2.q_id
    LEFT JOIN h ON pc.margin_x100 = h.margin_x100 AND pc.q_id = h.q_id
    CROSS JOIN nn2 ORDER BY pc.margin_x100, pc.q_id"""))

  // ---------------------------------------------------------------- s44
  // BISECTING SPLIT OF THE HOTTEST CELL — the index-maintenance ACTION
  // that s31's skew audit and s40's staleness gate point at: take the
  // largest IVF cell and run one bisecting-k-means step inside it
  // (seeds: the cell's lowest-id member and its exact farthest member —
  // deterministic in both engines; one assignment pass to the nearer
  // seed; floored-mean centroids for the halves). The readout prices
  // the action: half sizes, exact within-cell inertia before vs after
  // (DIV-1000 rescaled int64), the drop in ppm, and the new global max
  // cell size — the tail-latency number the split exists to shrink.
  // Scale: everything after the one argmax pass is bounded by the hot
  // cell's membership; seeds and centroids are 1-row/64-long
  // broadcasts, and splitting the ONE hottest cell is how a real IVF
  // index heals incrementally (s34 rebalances globally; this is the
  // surgical form).
  private val s44 = QueryDef(
    "s44_bisect_hot_cell",
    (s, dir) => {
      def dist2(a: String, b: String) = expr(
        s"aggregate(zip_with($a, $b, (x, y) -> x - y), 0L, (acc, d) -> acc + d * d)")
      val q = withQuant(dir, s)
      val cent = labelCentroids(q)
      val assigned = ivfAssign(q, cent).filter(col("crnk") === 1)
        .select(col("vec_id"), col("qv"), col("c_label"))
        // lazy checkpoints (r22): these op-bounded frames feed broadcast
        // subqueries of the ONE final action; eager was 4 serialized jobs
        .localCheckpoint(eager = false)
      val sizes = assigned.groupBy(col("c_label")).agg(count(lit(1)).as("sz"))
        .localCheckpoint(eager = false)
      val hot = sizes.orderBy(col("sz").desc, col("c_label")).limit(1)
        .select(col("c_label").as("hot_label"), col("sz").as("old_size"))
      val members = assigned.join(broadcast(hot), col("c_label") === col("hot_label"))
        .select(col("vec_id"), col("qv")).localCheckpoint(eager = false)
      val s1 = members.orderBy(col("vec_id")).limit(1).select(col("qv").as("s1qv"))
      val withD1 = members.crossJoin(broadcast(s1))
        .withColumn("d1", dist2("qv", "s1qv"))
      val s2 = withD1.orderBy(col("d1").desc, col("vec_id")).limit(1)
        .select(col("qv").as("s2qv"))
      val sides = withD1.crossJoin(broadcast(s2))
        .withColumn("d2", dist2("qv", "s2qv"))
        .withColumn("side", when(col("d1") <= col("d2"), "a").otherwise("b"))
        .select(col("vec_id"), col("qv"), col("side"))
        .localCheckpoint(eager = false)
      val newCent = sides.select(col("side"), posexplode(col("qv")).as(Seq("pos", "v")))
        .groupBy(col("side"), col("pos"))
        .agg(floor(sum(col("v")).cast("double") / count(lit(1))).cast("long").as("cv"))
        .groupBy(col("side"))
        .agg(expr("""transform(array_sort(collect_list(struct(pos, cv)),
            (l, r) -> CASE WHEN l.pos < r.pos THEN -1 WHEN l.pos > r.pos THEN 1 ELSE 0 END),
            p -> p.cv)""").as("scv"))
      val after = sides.join(broadcast(newCent), Seq("side"))
        .withColumn("da", dist2("qv", "scv"))
        .groupBy(col("side"))
        .agg(count(lit(1)).as("n_side"), sum(expr("da DIV 1000")).as("inertia_side"))
        .agg(sum(col("n_side")).as("n_total"),
          min(col("n_side")).as("side_small"), max(col("n_side")).as("side_large"),
          sum(col("inertia_side")).as("inertia_after"))
      val oldC = cent.join(broadcast(hot), col("c_label") === col("hot_label"))
        .select(col("cqv"))
      val before = members.crossJoin(broadcast(oldC))
        .withColumn("db", dist2("qv", "cqv"))
        .agg(sum(expr("db DIV 1000")).as("inertia_before"))
      val othersMax = sizes
        .join(broadcast(hot), col("c_label") === col("hot_label"), "left_anti")
        .agg(coalesce(max(col("sz")), lit(0L)).as("others_max"))
      hot.crossJoin(broadcast(before)).crossJoin(broadcast(after))
        .crossJoin(broadcast(othersMax))
        .select(col("hot_label").cast("long").as("cell"), col("old_size"),
          col("side_small"), col("side_large"),
          col("inertia_before"), col("inertia_after"),
          expr("""CAST((CAST(inertia_before AS DECIMAL(38,0)) - inertia_after) * 1000000
                  DIV CAST(inertia_before AS DECIMAL(38,0)) AS BIGINT)""").as("drop_ppm"),
          (col("inertia_after") <= col("inertia_before")).as("improved"),
          greatest(col("others_max"), col("side_large")).as("maxsz_after"))
    },
    Some(s"""WITH $quantCte,
    $ivfProbeCte,
    sizes AS (SELECT list_label AS c_label, COUNT(*) AS sz FROM lists GROUP BY 1),
    hot AS (SELECT c_label AS hot_label, sz AS old_size FROM (
        SELECT *, ROW_NUMBER() OVER (ORDER BY sz DESC, c_label) AS rk FROM sizes)
      WHERE rk = 1),
    mem AS (SELECT l.vec_id, l.qv FROM lists l JOIN hot ON l.list_label = hot.hot_label),
    s1 AS (SELECT qv AS s1qv FROM mem ORDER BY vec_id LIMIT 1),
    wd1 AS (SELECT m.vec_id, m.qv,
        CAST(list_sum(list_transform(generate_series(1, 64),
          i -> (m.qv[i] - s1.s1qv[i]) * (m.qv[i] - s1.s1qv[i]))) AS BIGINT) AS d1
      FROM mem m CROSS JOIN s1),
    s2 AS (SELECT qv AS s2qv FROM wd1 ORDER BY d1 DESC, vec_id LIMIT 1),
    sides AS (SELECT w.vec_id, w.qv,
        CASE WHEN w.d1 <= CAST(list_sum(list_transform(generate_series(1, 64),
          i -> (w.qv[i] - s2.s2qv[i]) * (w.qv[i] - s2.s2qv[i]))) AS BIGINT)
        THEN 'a' ELSE 'b' END AS side
      FROM wd1 w CROSS JOIN s2),
    ${vecComponentsCte("exn", "side", "sides")},
    ncd AS (SELECT side, pos,
              $meanCvSql
            FROM exn GROUP BY 1, 2),
    nc AS (SELECT side, list(cv ORDER BY pos) AS scv FROM ncd GROUP BY side),
    aft AS (SELECT MIN(n_side) AS side_small, MAX(n_side) AS side_large,
              SUM(inertia_side) AS inertia_after
            FROM (SELECT s.side, COUNT(*) AS n_side,
                SUM(CAST(list_sum(list_transform(generate_series(1, 64),
                  i -> (s.qv[i] - nc.scv[i]) * (s.qv[i] - nc.scv[i]))) AS BIGINT) // 1000)
                  AS inertia_side
              FROM sides s JOIN nc ON s.side = nc.side GROUP BY s.side)),
    oldc AS (SELECT cn.cqv FROM cn JOIN hot ON cn.c_label = hot.hot_label),
    bef AS (SELECT SUM(CAST(list_sum(list_transform(generate_series(1, 64),
              i -> (m.qv[i] - o.cqv[i]) * (m.qv[i] - o.cqv[i]))) AS BIGINT) // 1000)
              AS inertia_before
            FROM mem m CROSS JOIN oldc o),
    om AS (SELECT COALESCE(MAX(sz), 0) AS others_max
           FROM sizes JOIN hot ON TRUE WHERE sizes.c_label <> hot.hot_label)
    SELECT CAST(hot_label AS BIGINT) AS cell, CAST(old_size AS BIGINT) AS old_size,
      CAST(side_small AS BIGINT) AS side_small,
      CAST(side_large AS BIGINT) AS side_large,
      CAST(inertia_before AS BIGINT) AS inertia_before,
      CAST(inertia_after AS BIGINT) AS inertia_after,
      CAST((CAST(inertia_before AS HUGEINT) - inertia_after) * 1000000
           // CAST(inertia_before AS HUGEINT) AS BIGINT) AS drop_ppm,
      inertia_after <= inertia_before AS improved,
      CAST(GREATEST(others_max, side_large) AS BIGINT) AS maxsz_after
    FROM hot CROSS JOIN bef CROSS JOIN aft CROSS JOIN om"""))

  // ---------------------------------------------------------------- s45
  // ADC vs SDC — the FAISS distance-computation dichotomy, measured:
  // with the database compressed to coarse int8-scale codes (s08's
  // tier), the query can stay full-precision and score against codes
  // (Asymmetric Distance Computation) or be compressed too and score
  // code-vs-code (Symmetric). Cosine makes the mixed-scale ADC form
  // well-defined (scale cancels), and the readout is recall@5 per
  // query per method against the full-precision truth — the
  // measurement behind FAISS's default of ADC everywhere: keeping ONE
  // side exact is nearly free at query time and recovers real recall.
  // One scored pass per method over the same broadcast query set; the
  // z rows aggregate the per-method verdict.
  private val s45 = QueryDef(
    "s45_adc_vs_sdc",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val full = withQuant(dir, s)
      val coded = embs(s, dir)
        .withColumn("cv", expr(
          s"transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * $Q8Scale.0D) AS BIGINT))"))
        .withColumn("cn2", expr(dotExpr("cv", "cv")))
        .select(col("vec_id"), col("cv"), col("cn2"))
      val qFull = full.filter(col("vec_id") < 8)
        .select(col("vec_id").as("q_id"), col("qv").as("q_qv"), col("norm2").as("q_n2"))
      val qCode = coded.filter(col("vec_id") < 8)
        .select(col("vec_id").as("q_id"), col("cv").as("q_cv"), col("cn2").as("q_cn2"))
      def top5(scored: org.apache.spark.sql.DataFrame, method: String) = scored
        .withColumn("rnk", row_number().over(
          Window.partitionBy(col("q_id")).orderBy(col("sim").desc, col("c_id"))))
        .filter(col("rnk") <= 5)
        .select(lit(method).as("method"), col("q_id"), col("c_id"))
      val base = coded.select(col("vec_id").as("c_id"), col("cv").as("c_cv"),
        col("cn2").as("c_cn2"))
      val adc = top5(base.join(broadcast(qFull), col("c_id") =!= col("q_id"))
        .withColumn("sim", cosine("q_qv", "q_n2", "c_cv", "c_cn2")),
        "adc")
      val sdc = top5(base.join(broadcast(qCode), col("c_id") =!= col("q_id"))
        .withColumn("sim", cosine("q_cv", "q_cn2", "c_cv", "c_cn2")),
        "sdc")
      val truth = full.select(col("vec_id").as("c_id"), col("qv").as("c_qv"),
          col("norm2").as("c_n2"))
        .join(broadcast(qFull), col("c_id") =!= col("q_id"))
        .withColumn("sim", cosine("q_qv", "q_n2", "c_qv", "c_n2"))
        .withColumn("rnk", row_number().over(
          Window.partitionBy(col("q_id")).orderBy(col("sim").desc, col("c_id"))))
        .filter(col("rnk") <= 5)
        .select(col("q_id"), col("c_id"))
      adc.unionByName(sdc)
        .join(truth.withColumn("hit", lit(1L)), Seq("q_id", "c_id"), "left")
        .groupBy(col("method"), col("q_id"))
        .agg((sum(coalesce(col("hit"), lit(0L))) * 200000L).as("recall5_ppm"))
        .orderBy(col("method"), col("q_id"))
    },
    Some(s"""WITH $quantCte,
    cd AS (SELECT vec_id,
        list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * $Q8Scale.0) AS BIGINT)) AS cv
      FROM embeddings),
    cd2 AS (SELECT vec_id, cv, ${dotSql("cv", "cv")} AS cn2 FROM cd),
    qf AS (SELECT vec_id AS q_id, qv AS q_qv, norm2 AS q_n2 FROM qn WHERE vec_id < 8),
    qc AS (SELECT vec_id AS q_id, cv AS q_cv, cn2 AS q_cn2 FROM cd2 WHERE vec_id < 8),
    adc AS (SELECT 'adc' AS method, q_id, c_id FROM (
        SELECT q.q_id, c.vec_id AS c_id,
          ROW_NUMBER() OVER (PARTITION BY q.q_id ORDER BY
            CAST(${dotSql("q.q_qv", "c.cv")} AS DOUBLE)
              / (sqrt(CAST(q.q_n2 AS DOUBLE)) * sqrt(CAST(c.cn2 AS DOUBLE))) DESC,
            c.vec_id) AS rnk
        FROM qf q JOIN cd2 c ON c.vec_id <> q.q_id) WHERE rnk <= 5),
    sdc AS (SELECT 'sdc' AS method, q_id, c_id FROM (
        SELECT q.q_id, c.vec_id AS c_id,
          ROW_NUMBER() OVER (PARTITION BY q.q_id ORDER BY
            CAST(${dotSql("q.q_cv", "c.cv")} AS DOUBLE)
              / (sqrt(CAST(q.q_cn2 AS DOUBLE)) * sqrt(CAST(c.cn2 AS DOUBLE))) DESC,
            c.vec_id) AS rnk
        FROM qc q JOIN cd2 c ON c.vec_id <> q.q_id) WHERE rnk <= 5),
    truth AS (SELECT q_id, c_id FROM (
        SELECT q.q_id, c.vec_id AS c_id,
          ROW_NUMBER() OVER (PARTITION BY q.q_id ORDER BY
            CAST(${dotSql("q.q_qv", "c.qv")} AS DOUBLE)
              / (sqrt(CAST(q.q_n2 AS DOUBLE)) * sqrt(CAST(c.norm2 AS DOUBLE))) DESC,
            c.vec_id) AS rnk
        FROM qf q JOIN qn c ON c.vec_id <> q.q_id) WHERE rnk <= 5),
    u AS (SELECT * FROM adc UNION ALL SELECT * FROM sdc)
    SELECT u.method, u.q_id,
      CAST(SUM(CASE WHEN t.c_id IS NOT NULL THEN 1 ELSE 0 END) * 200000 AS BIGINT)
        AS recall5_ppm
    FROM u LEFT JOIN truth t ON u.q_id = t.q_id AND u.c_id = t.c_id
    GROUP BY u.method, u.q_id ORDER BY u.method, u.q_id"""))

  // ---------------------------------------------------------------- s46
  // RE-RANKING DEPTH CURVE — the production refinement lever s45's
  // ADC-vs-SDC table stops short of: search with a CHEAP scorer (the
  // 16-bit-coarsened dot, i.e. each component arithmetic-shifted >> 16
  // — the memory-resident code path), keep the top R per query, then
  // re-rank only those R with the EXACT scorer (the fetch-full-vector
  // path) and read recall@5 against exact truth as a function of R.
  // R = 5 is the coarse-only baseline (re-ranking 5 candidates cannot
  // change the top-5 SET); every deeper R buys recall back with exactly
  // R full-vector fetches per query — the knob a deployed ANN turns to
  // meet a latency SLA. Recall is monotone non-decreasing in R by
  // construction (candidate sets are nested); NewOpsR19Spec pins it.
  // Shift, not DIV, for the coarsening: arithmetic >> floors negatives
  // identically in both engines, where DIV-vs-//  truncation semantics are
  // the d51 hazard class. Scale: the coarse pass is the same
  // broadcast-anchor × corpus scan as s01 (production composes it with
  // IVF probing — s32's path; this isolates the re-rank lever); the
  // re-rank itself touches 8·R rows.
  private val S46Depths = Seq(5L, 10L, 20L, 40L)

  private val s46 = QueryDef(
    "s46_rerank_depth",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val q = withQuant(dir, s)
        .withColumn("cv", expr("transform(qv, x -> shiftright(x, 16))"))
        .cache()
      q.count()
      val anchors = q.filter(col("vec_id") < 8)
        .select(col("vec_id").as("q_id"), col("qv").as("q_qv"),
          col("norm2").as("q_n2"), col("cv").as("q_cv"))
      val scored = q.select(col("vec_id").as("c_id"), col("qv").as("c_qv"),
          col("norm2").as("c_n2"), col("cv").as("c_cv"))
        .join(broadcast(anchors), col("c_id") =!= col("q_id"))
        .withColumn("coarse", expr(dotExpr("q_cv", "c_cv")))
        .withColumn("exact", cosine("q_qv", "q_n2", "c_qv", "c_n2"))
      val coarseTop = scored.withColumn("crnk", row_number().over(
          Window.partitionBy(col("q_id")).orderBy(col("coarse").desc, col("c_id"))))
        .filter(col("crnk") <= S46Depths.max)
        .select(col("q_id"), col("c_id"), col("crnk"), col("exact"))
        .localCheckpoint() // 8 anchors × R_max rows
      val truth = scored.withColumn("trnk", row_number().over(
          Window.partitionBy(col("q_id")).orderBy(col("exact").desc, col("c_id"))))
        .filter(col("trnk") <= 5)
        .select(col("q_id"), col("c_id"), lit(true).as("is_true"))
        .localCheckpoint() // 40 rows
      import s.implicits._
      val depths = S46Depths.toDF("r_depth")
      val out = coarseTop.join(broadcast(depths), col("crnk") <= col("r_depth"))
        .withColumn("rrnk", row_number().over(
          Window.partitionBy(col("r_depth"), col("q_id"))
            .orderBy(col("exact").desc, col("c_id"))))
        .filter(col("rrnk") <= 5)
        .join(truth, Seq("q_id", "c_id"), "left")
        .groupBy(col("r_depth"))
        .agg(count(lit(1)).as("n_served"),
          sum(when(col("is_true"), 1L).otherwise(0L)).as("hits"))
        .withColumn("recall_ppm", expr("hits * 1000000 DIV 40"))
        .withColumn("fetches_per_q", col("r_depth"))
        .select(col("r_depth"), col("n_served"), col("hits"), col("recall_ppm"),
          col("fetches_per_q"))
        .orderBy(col("r_depth"))
        .localCheckpoint()
      q.unpersist()
      out
    },
    Some(s"""WITH $quantCte,
    qc AS (SELECT vec_id, qv, norm2,
             list_transform(qv, x -> x >> 16) AS cv FROM qn),
    a AS (SELECT vec_id AS q_id, qv AS q_qv, norm2 AS q_n2, cv AS q_cv
          FROM qc WHERE vec_id < 8),
    sc AS (SELECT a.q_id, c.vec_id AS c_id,
             ${dotSql("a.q_cv", "c.cv")} AS coarse,
             CAST(${dotSql("a.q_qv", "c.qv")} AS DOUBLE)
               / (sqrt(CAST(a.q_n2 AS DOUBLE)) * sqrt(CAST(c.norm2 AS DOUBLE)))
               AS exact
           FROM a JOIN qc c ON c.vec_id <> a.q_id),
    cr AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id
             ORDER BY coarse DESC, c_id) AS crnk FROM sc),
    truth AS (SELECT q_id, c_id FROM (
        SELECT q_id, c_id, ROW_NUMBER() OVER (PARTITION BY q_id
          ORDER BY exact DESC, c_id) AS trnk FROM sc) x
      WHERE trnk <= 5),
    dp AS (SELECT unnest([${S46Depths.mkString(", ")}]) AS r_depth),
    rr AS (SELECT dp.r_depth, cr.q_id, cr.c_id, cr.exact,
             ROW_NUMBER() OVER (PARTITION BY dp.r_depth, cr.q_id
               ORDER BY cr.exact DESC, cr.c_id) AS rrnk
           FROM cr JOIN dp ON cr.crnk <= dp.r_depth
           WHERE cr.crnk <= ${S46Depths.max})
    SELECT CAST(r_depth AS BIGINT) AS r_depth,
      CAST(COUNT(*) AS BIGINT) AS n_served,
      CAST(SUM(CASE WHEN t.c_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS hits,
      CAST(SUM(CASE WHEN t.c_id IS NOT NULL THEN 1 ELSE 0 END) * 1000000 // 40
        AS BIGINT) AS recall_ppm,
      CAST(r_depth AS BIGINT) AS fetches_per_q
    FROM rr LEFT JOIN truth t ON rr.q_id = t.q_id AND rr.c_id = t.c_id
    WHERE rrnk <= 5
    GROUP BY r_depth ORDER BY r_depth"""))

  // ---------------------------------------------------------------- s47
  // ANN DECISION FRONTIER — the composed table a deployment actually
  // reads, unifying the four levers this family priced separately into
  // ONE cost/recall plane against ONE exact truth: IVF probe budget
  // (s23: ivf_p1..p3), adaptive-margin early stop (s43: adp_m05/15/30),
  // multi-probe LSH (s38: lsh_q1/q4/q9), and coarse-then-rerank depth
  // (s46: rrk_r05..r40) — 13 strategies, 8 anchors, one brute truth.
  // The latency proxy is a DECLARED cost model, consistent across
  // families: every full-width distance evaluation costs 1000 milli
  // (candidates scored + the 8·K centroid probes the IVF/adaptive
  // router itself pays — the cost s43's saved_ppm ignored), every
  // 16-bit coarse evaluation 250 milli (¼ the operand bytes — s09's
  // prefix-dim arithmetic), LSH bucket lookup 0. `frontier` marks the
  // Pareto set: a strategy survives iff no other is at-most-as-costly
  // AND at-least-as-recalling with one inequality strict — the rows a
  // config chooser is allowed to pick from; everything else is
  // dominated hardware-independently. Within each family recall is
  // monotone in spend by construction (nested candidate sets —
  // NewOpsR20Spec pins it plus the cross-family dominance audit).
  // Scale: ONE 8×(N−1) scored pass (exact + coarse columns together)
  // feeds all 13 strategies, the truth, and the adaptive rule's
  // cell-bests — the s43 fixture-truth discipline; probe sets are
  // |anchors|×K/×9 broadcasts; nothing quadratic in N anywhere.
  private val s47 = QueryDef(
    "s47_ann_frontier",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val margExpr = (0 until 8).map { j =>
        s"abs(aggregate(slice(qv, ${8 * j + 1}, 8), CAST(0 AS BIGINT), (acc, v) -> acc + v))"
      }.mkString("array(", ", ", ")")
      val q = withQuant(dir, s)
        .withColumn("bucket", expr(bucketExprSpark))
        .withColumn("cv", expr("transform(qv, x -> shiftright(x, 16))"))
        .cache()
      val n = q.count()
      val cent = labelCentroids(q).localCheckpoint() // K rows
      val k = cent.count()
      val assigned1 = ivfAssign(q, cent).filter(col("crnk") === 1)
        .select(col("vec_id"), col("qv"), col("norm2"), col("bucket"),
          col("cv"), col("c_label"))
      val anchors = q.filter(col("vec_id") < 8)
        .select(col("vec_id").as("q_id"), col("qv").as("q_qv"),
          col("norm2").as("q_n2"), col("bucket").as("q_bucket"),
          col("cv").as("q_cv"), expr(margExpr).as("marg"))
        .localCheckpoint() // 8 rows
      // the one fixture-scale truth pass: exact AND coarse per (q, c)
      val scored = assigned1.join(broadcast(anchors), col("vec_id") =!= col("q_id"))
        .withColumn("exact", cosine("q_qv", "q_n2", "qv", "norm2"))
        .withColumn("coarse", expr(dotExpr("q_cv", "cv")))
        .select(col("q_id"), col("vec_id").as("c_id"), col("c_label"),
          col("bucket").as("c_bucket"), col("exact"), col("coarse"))
        .localCheckpoint()
      val truth = scored.withColumn("trnk", row_number().over(
          Window.partitionBy(col("q_id")).orderBy(col("exact").desc, col("c_id"))))
        .filter(col("trnk") <= 5)
        .select(col("q_id"), col("c_id"))
        .localCheckpoint() // 40 rows
      // centroid probe order per anchor (shared by ivf + adaptive)
      val qc = broadcast(anchors).crossJoin(broadcast(cent))
        .withColumn("csim", cosine("q_qv", "q_n2", "cqv", "cnorm2"))
        .withColumn("j", row_number().over(
          Window.partitionBy(col("q_id")).orderBy(col("csim").desc, col("c_label"))))
        .select(col("q_id"), col("c_label"), col("csim"), col("j"))
      import s.implicits._
      // family 1 — fixed nprobe (s23)
      val nprobes = Seq(("ivf_p1", 1L), ("ivf_p2", 2L), ("ivf_p3", 3L))
        .toDF("strategy", "p")
      val candIvf = scored.join(broadcast(
          qc.join(broadcast(nprobes), col("j") <= col("p"))
            .select(col("strategy"), col("q_id"), col("c_label"))),
          Seq("q_id", "c_label"))
        .select(col("strategy"), col("q_id"), col("c_id"), col("exact"))
      // family 2 — adaptive-margin stop (s43's rule, three margins)
      val margins = Seq(("adp_m05", 5L), ("adp_m15", 15L), ("adp_m30", 30L))
        .toDF("strategy", "margin_x100")
      val cellBest = scored.groupBy(col("q_id"), col("c_label"))
        .agg(max(col("exact")).as("best"))
      val wj = Window.partitionBy(col("strategy"), col("q_id")).orderBy(col("j"))
      val probedAdp = qc.join(cellBest, Seq("q_id", "c_label"))
        .crossJoin(broadcast(margins))
        .withColumn("prevbest", max(col("best")).over(
          wj.rowsBetween(Window.unboundedPreceding, -1)))
        .withColumn("bad",
          when(col("j") === 1 ||
            col("csim") >= col("prevbest") - col("margin_x100").cast("double") / 100.0, 0L)
            .otherwise(1L))
        .withColumn("badpfx", sum(col("bad")).over(
          wj.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .filter(col("badpfx") === 0)
        .select(col("strategy"), col("q_id"), col("c_label"))
      val candAdp = scored.join(broadcast(probedAdp), Seq("q_id", "c_label"))
        .select(col("strategy"), col("q_id"), col("c_id"), col("exact"))
      // family 3 — multi-probe LSH (s38's perturbation ranking)
      val flips = anchors
        .select(col("q_id"), col("q_bucket"), posexplode(col("marg")).as(Seq("j", "mval")))
        .withColumn("frnk", row_number().over(
          Window.partitionBy(col("q_id")).orderBy(col("mval"), col("j"))))
        .select(col("q_id"),
          expr("CAST(q_bucket ^ shiftleft(1, j) AS INT)").as("pkey"),
          col("frnk").as("tier"))
      val probesLsh = anchors
        .select(col("q_id"), col("q_bucket").as("pkey"), lit(0).as("tier"))
        .unionByName(flips)
      val budgets = Seq(("lsh_q1", 0), ("lsh_q4", 3), ("lsh_q9", 8))
        .toDF("strategy", "maxtier")
      val candLsh = scored.join(broadcast(
          probesLsh.join(broadcast(budgets), col("tier") <= col("maxtier"))
            .select(col("strategy"), col("q_id").as("p_qid"), col("pkey"))),
          col("q_id") === col("p_qid") && col("c_bucket") === col("pkey"))
        .select(col("strategy"), col("q_id"), col("c_id"), col("exact"))
      // family 4 — coarse top-R then exact re-rank (s46)
      val depths = Seq(("rrk_r05", 5L), ("rrk_r10", 10L), ("rrk_r20", 20L),
        ("rrk_r40", 40L)).toDF("strategy", "r_depth")
      val candRrk = scored.withColumn("crnk", row_number().over(
          Window.partitionBy(col("q_id")).orderBy(col("coarse").desc, col("c_id"))))
        .filter(col("crnk") <= 40)
        .join(broadcast(depths), col("crnk") <= col("r_depth"))
        .select(col("strategy"), col("q_id"), col("c_id"), col("exact"))
      val unified = candIvf.unionByName(candAdp).unionByName(candLsh)
        .unionByName(candRrk)
      val top5 = unified.withColumn("rnk", row_number().over(
          Window.partitionBy(col("strategy"), col("q_id"))
            .orderBy(col("exact").desc, col("c_id"))))
        .filter(col("rnk") <= 5)
      val hits = top5.join(truth, Seq("q_id", "c_id"), "left_semi")
        .groupBy(col("strategy")).agg(count(lit(1)).as("hits"))
      // the declared cost model, identical in the oracle
      val costs = Seq(
        ("ivf_p1", "ivf", 8L * k, 0L), ("ivf_p2", "ivf", 8L * k, 0L),
        ("ivf_p3", "ivf", 8L * k, 0L),
        ("adp_m05", "adaptive", 8L * k, 0L), ("adp_m15", "adaptive", 8L * k, 0L),
        ("adp_m30", "adaptive", 8L * k, 0L),
        ("lsh_q1", "lsh", 0L, 0L), ("lsh_q4", "lsh", 0L, 0L),
        ("lsh_q9", "lsh", 0L, 0L),
        ("rrk_r05", "rerank", 0L, 8L * (n - 1)),
        ("rrk_r10", "rerank", 0L, 8L * (n - 1)),
        ("rrk_r20", "rerank", 0L, 8L * (n - 1)),
        ("rrk_r40", "rerank", 0L, 8L * (n - 1)))
        .toDF("strategy", "family", "extra_exact", "coarse_evals")
      val agg = unified.groupBy(col("strategy")).agg(count(lit(1)).as("n_cand"))
        .join(hits, Seq("strategy"), "left")
        .join(broadcast(costs), Seq("strategy"))
        .withColumn("hits", coalesce(col("hits"), lit(0L)))
        .withColumn("exact_evals", col("n_cand") + col("extra_exact"))
        .withColumn("cost_milli_pq",
          expr("(exact_evals * 1000 + coarse_evals * 250) DIV 8"))
        .withColumn("recall_ppm", expr("hits * 1000000 DIV 40"))
        .localCheckpoint() // 13 rows
      val other = agg.select(col("cost_milli_pq").as("o_cost"),
        col("recall_ppm").as("o_recall"))
      agg.crossJoin(broadcast(other)) // 13×13
        .withColumn("dom",
          col("o_cost") <= col("cost_milli_pq") &&
            col("o_recall") >= col("recall_ppm") &&
            (col("o_cost") < col("cost_milli_pq") ||
              col("o_recall") > col("recall_ppm")))
        .groupBy(col("strategy"), col("family"), col("n_cand"),
          col("exact_evals"), col("coarse_evals"), col("cost_milli_pq"),
          col("hits"), col("recall_ppm"))
        .agg(bool_and(!col("dom")).as("frontier"))
        .orderBy(col("strategy"))
    },
    Some {
      val margsDuck = (0 until 8).map { j =>
        s"abs(list_reduce(qv[${8 * j + 1}:${8 * j + 8}], (acc, v) -> acc + v))"
      }.mkString("[", ", ", "]")
      val exactSim =
        s"CAST(${dotSql("a.q_qv", "c.qv")} AS DOUBLE) / (sqrt(CAST(a.q_n2 AS DOUBLE)) * sqrt(CAST(c.norm2 AS DOUBLE)))"
      val centSim =
        s"CAST(${dotSql("a.q_qv", "b.cqv")} AS DOUBLE) / (sqrt(CAST(a.q_n2 AS DOUBLE)) * sqrt(CAST(b.cnorm2 AS DOUBLE)))"
      s"""WITH $quantCte,
    $ivfProbeCte,
    qb AS (SELECT vec_id, $bucketExprDuck AS bucket,
             list_transform(qv, x -> x >> 16) AS cv, $margsDuck AS marg
           FROM qn),
    anch AS (SELECT n.vec_id AS q_id, n.qv AS q_qv, n.norm2 AS q_n2,
               b.bucket AS q_bucket, b.cv AS q_cv, b.marg
             FROM qn n JOIN qb b USING (vec_id) WHERE n.vec_id < 8),
    cbase AS (SELECT l.vec_id, l.qv, l.norm2, l.list_label AS c_label,
                b.bucket AS c_bucket, b.cv
              FROM lists l JOIN qb b USING (vec_id)),
    scored AS (SELECT a.q_id, c.vec_id AS c_id, c.c_label, c.c_bucket,
                 $exactSim AS exact,
                 ${dotSql("a.q_cv", "c.cv")} AS coarse
               FROM anch a JOIN cbase c ON c.vec_id <> a.q_id),
    truth AS (SELECT q_id, c_id FROM (
        SELECT q_id, c_id, ROW_NUMBER() OVER (PARTITION BY q_id
          ORDER BY exact DESC, c_id) AS trnk FROM scored) WHERE trnk <= 5),
    qc AS (SELECT q_id, c_label, csim,
             ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY csim DESC, c_label) AS j
           FROM (SELECT a.q_id, b.c_label, $centSim AS csim
                 FROM anch a CROSS JOIN cn b)),
    npr AS (SELECT * FROM (VALUES ('ivf_p1', 1), ('ivf_p2', 2), ('ivf_p3', 3))
            t(strategy, p)),
    cand_ivf AS (SELECT n.strategy, s.q_id, s.c_id, s.exact
                 FROM scored s JOIN qc ON qc.q_id = s.q_id AND qc.c_label = s.c_label
                 JOIN npr n ON qc.j <= n.p),
    mgs AS (SELECT * FROM (VALUES ('adp_m05', 5), ('adp_m15', 15), ('adp_m30', 30))
            t(strategy, margin_x100)),
    cb AS (SELECT q_id, c_label, MAX(exact) AS best FROM scored GROUP BY 1, 2),
    seq AS (SELECT m.strategy, qc.q_id, qc.c_label, qc.j, qc.csim, cb.best,
              m.margin_x100,
              MAX(cb.best) OVER (PARTITION BY m.strategy, qc.q_id ORDER BY qc.j
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prevbest
            FROM qc JOIN cb ON qc.q_id = cb.q_id AND qc.c_label = cb.c_label
            CROSS JOIN mgs m),
    sq2 AS (SELECT *, CASE WHEN j = 1
                OR csim >= prevbest - CAST(margin_x100 AS DOUBLE) / 100.0
              THEN 0 ELSE 1 END AS bad FROM seq),
    sq3 AS (SELECT *, SUM(bad) OVER (PARTITION BY strategy, q_id ORDER BY j
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS badpfx
            FROM sq2),
    pb_adp AS (SELECT strategy, q_id, c_label FROM sq3 WHERE badpfx = 0),
    cand_adp AS (SELECT p.strategy, s.q_id, s.c_id, s.exact
                 FROM scored s JOIN pb_adp p
                   ON p.q_id = s.q_id AND p.c_label = s.c_label),
    flips AS (SELECT q_id, q_bucket, j,
        ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY marg[j + 1], j) AS frnk
      FROM anch CROSS JOIN generate_series(0, 7) AS g(j)),
    probes_lsh AS (
      SELECT q_id, q_bucket AS pkey, 0 AS tier FROM anch
      UNION ALL SELECT q_id, CAST(xor(q_bucket, 1 << j) AS BIGINT), frnk FROM flips),
    bud AS (SELECT * FROM (VALUES ('lsh_q1', 0), ('lsh_q4', 3), ('lsh_q9', 8))
            t(strategy, maxtier)),
    cand_lsh AS (SELECT b.strategy, s.q_id, s.c_id, s.exact
                 FROM scored s JOIN probes_lsh p
                   ON p.q_id = s.q_id AND s.c_bucket = p.pkey
                 JOIN bud b ON p.tier <= b.maxtier),
    dps AS (SELECT * FROM (VALUES ('rrk_r05', 5), ('rrk_r10', 10),
              ('rrk_r20', 20), ('rrk_r40', 40)) t(strategy, r_depth)),
    crk AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id
              ORDER BY coarse DESC, c_id) AS crnk FROM scored),
    cand_rrk AS (SELECT d.strategy, c.q_id, c.c_id, c.exact
                 FROM crk c JOIN dps d ON c.crnk <= d.r_depth
                 WHERE c.crnk <= 40),
    uni AS (SELECT * FROM cand_ivf UNION ALL SELECT * FROM cand_adp
            UNION ALL SELECT * FROM cand_lsh UNION ALL SELECT * FROM cand_rrk),
    t5 AS (SELECT strategy, q_id, c_id FROM (
        SELECT strategy, q_id, c_id,
          ROW_NUMBER() OVER (PARTITION BY strategy, q_id
            ORDER BY exact DESC, c_id) AS rnk
        FROM uni) WHERE rnk <= 5),
    ht AS (SELECT strategy, COUNT(*) AS hits FROM t5
           WHERE EXISTS (SELECT 1 FROM truth
                         WHERE truth.q_id = t5.q_id AND truth.c_id = t5.c_id)
           GROUP BY 1),
    km AS (SELECT COUNT(*) AS k FROM cn),
    nm AS (SELECT COUNT(*) AS n FROM qn),
    costs AS (SELECT strategy, family,
                CASE WHEN family IN ('ivf', 'adaptive')
                  THEN 8 * (SELECT k FROM km) ELSE 0 END AS extra_exact,
                CASE WHEN family = 'rerank'
                  THEN 8 * ((SELECT n FROM nm) - 1) ELSE 0 END AS coarse_evals
              FROM (VALUES
                ('ivf_p1', 'ivf'), ('ivf_p2', 'ivf'), ('ivf_p3', 'ivf'),
                ('adp_m05', 'adaptive'), ('adp_m15', 'adaptive'),
                ('adp_m30', 'adaptive'),
                ('lsh_q1', 'lsh'), ('lsh_q4', 'lsh'), ('lsh_q9', 'lsh'),
                ('rrk_r05', 'rerank'), ('rrk_r10', 'rerank'),
                ('rrk_r20', 'rerank'), ('rrk_r40', 'rerank'))
                t(strategy, family)),
    ag AS (SELECT u.strategy, c.family,
             CAST(COUNT(*) AS BIGINT) AS n_cand,
             CAST(COUNT(*) + c.extra_exact AS BIGINT) AS exact_evals,
             CAST(c.coarse_evals AS BIGINT) AS coarse_evals,
             CAST(((COUNT(*) + c.extra_exact) * 1000 + c.coarse_evals * 250) // 8
               AS BIGINT) AS cost_milli_pq,
             CAST(COALESCE(MAX(ht.hits), 0) AS BIGINT) AS hits,
             CAST(COALESCE(MAX(ht.hits), 0) * 1000000 // 40 AS BIGINT) AS recall_ppm
           FROM uni u JOIN costs c ON c.strategy = u.strategy
           LEFT JOIN ht ON ht.strategy = u.strategy
           GROUP BY u.strategy, c.family, c.extra_exact, c.coarse_evals)
    SELECT strategy, family, n_cand, exact_evals, coarse_evals, cost_milli_pq,
      hits, recall_ppm,
      NOT EXISTS (SELECT 1 FROM ag o
                  WHERE o.cost_milli_pq <= ag.cost_milli_pq
                    AND o.recall_ppm >= ag.recall_ppm
                    AND (o.cost_milli_pq < ag.cost_milli_pq
                         OR o.recall_ppm > ag.recall_ppm)) AS frontier
    FROM ag ORDER BY strategy"""
    })

  val defs: Seq[QueryDef] =
    Seq(s01, s02, s03, s04, s05, s06, s07, s08, s09, s10, s11, s12, s13, s14,
      s15, s16, s17, s18, s19, s20, s21, s22, s23, s24, s25, s26, s27, s28,
      s29, s30, s31, s32, s33, s34, s35, s36, s37, s38, s39, s40, s41, s42,
      s43, s44, s45, s46, s47, d15)
}
