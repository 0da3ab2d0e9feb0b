package graft.analytics

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import Tables._

/**
 * End-to-end corpus BUILD pipeline (d20): the three proven stages a
 * training-data release actually chains, composed into ONE query whose
 * oracle pins the exact shard manifest:
 *
 *   1. CLEAN  — t25's C4-style boilerplate removal, per document: every
 *      8-token segment appearing in ≥2 distinct docs is dropped, yielding
 *      a cleaned token count per doc.
 *   2. DEDUP  — d17's canonical selection: SimHash Hamming-bucketed
 *      candidate pairs → pointer-jumping connected components → keep-best
 *      (longest raw text, doc_id tie-break) per cluster; unclustered docs
 *      keep themselves.
 *   3. PACK   — t15's greedy sequence packing over the kept docs, using
 *      the CLEANED token counts: per source, docs in doc_id order fill
 *      2048-token shards.
 *
 * Output is the shard manifest itself — one row per (source, shard_id)
 * with doc/token counts and an exact DECIMAL doc_id checksum, so the
 * oracle must assign the SAME cleaned docs to the SAME shards (the d17
 * discipline applied to the whole pipeline). Scale: nothing here exceeds
 * its component queries — the clean stage is t20/t25's two wide ops, the
 * dedup stage is the d07 CC loop, and the pack stage is one per-source
 * window — so the composition inherits the 100 TB arguments of its parts
 * and proves they compose without a driver-side seam.
 */
object CorpusPipeline {

  private val ChunkTok = 8      // t25's segment width
  private val ShardTokens = 2048L // t15's shard capacity

  private val d20 = QueryDef(
    "d20_corpus_pipeline",
    (s, dir) => {
      // ---- stage 1: per-doc cleaned token count (t25's math) ----
      val ck = docs(s, dir)
        .select(col("doc_id"), col("source"),
          expr("transform(split(text, ' '), t -> poly_hash(t))").as("th"))
        .select(col("doc_id"), col("source"), col("th"),
          expr(s"ngram_hashes(th, $ChunkTok)").as("ng"))
        .select(col("doc_id"), col("source"), size(col("th")).as("n_tok"),
          expr(s"""CASE WHEN size(th) >= $ChunkTok THEN
              transform(sequence(0, CAST(size(th) DIV $ChunkTok AS INT) - 1),
                i -> element_at(ng, i * $ChunkTok + 1))
            ELSE array() END""").as("chunks"))
        // narrow (2 longs + source + chunk-hash array; the big th/ng
        // arrays are already projected away) and read THREE times below
        // (docTok + the chunk explode's two consumers) — without this
        // the poly_hash + ngram_hashes pass over every token ran three
        // times (r21 plan audit; paired A/B in OPTIMIZATION_r21.md)
        .localCheckpoint()
      val docTok = ck.select(col("doc_id"), col("source"), col("n_tok"),
        size(col("chunks")).as("n_chunks"))
      val ex = ck.select(col("doc_id"), explode(col("chunks")).as("ch"))
      val global = ex.groupBy(col("ch"))
        .agg(countDistinct(col("doc_id")).as("n_docs_with"))
      val retained = ex.join(global, "ch")
        .filter(col("n_docs_with") < 2)
        .groupBy(col("doc_id")).agg(count(lit(1)).as("n_ret"))
      val clean = docTok.join(retained, Seq("doc_id"), "left")
        .withColumn("tok_clean",
          col("n_tok") - lit(ChunkTok) * col("n_chunks") +
            lit(ChunkTok) * coalesce(col("n_ret"), lit(0L)))
        .select(col("doc_id"), col("source"), col("tok_clean"))

      // ---- stage 2: canonical kept set (d17's selection) ----
      val pairs = Dedup.simhashPairs(s, dir)
      val labels = Tables.withShuffle(s, 8) {
        graft.operators.ConnectedComponents.label(pairs)
      }
      pairs.unpersist()
      val d = docs(s, dir).select(col("doc_id"), col("n_chars"))
      val clustered = d.join(labels, d("doc_id") === labels("node"))
      val w = Window.partitionBy(col("comp"))
        .orderBy(col("n_chars").desc, col("doc_id"))
      val reps = clustered.withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1).select(col("doc_id"))
      val singles = d.join(labels, d("doc_id") === labels("node"), "left_anti")
        .select(col("doc_id"))
      val kept = reps.union(singles)

      // ---- stage 3: shard manifest over kept ∩ cleaned (t15's pack) ----
      val keptClean = clean.join(kept, Seq("doc_id"))
      val wp = Window.partitionBy(col("source")).orderBy(col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      keptClean
        .withColumn("cum", sum(col("tok_clean")).over(wp))
        .withColumn("shard_id", expr(s"(cum - tok_clean) DIV $ShardTokens"))
        .groupBy(col("source"), col("shard_id"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(col("tok_clean")).as("n_tokens"),
          (sum(col("doc_id").cast(org.apache.spark.sql.types.DecimalType(38, 0)))
            % lit(HashMod)).cast("long").as("doc_id_checksum"))
        .orderBy(col("source"), col("shard_id"))
    },
    Some(s"""WITH RECURSIVE ${Dedup.simhashCteDuck},
    ${Dedup.simhashPairsCte("p")},
    ${Dedup.undirectedCte("e", "p")},
    ${Dedup.componentsCte("comp")},
    cl AS (SELECT d.doc_id, d.n_chars, c.comp
           FROM documents d JOIN comp c ON c.node = d.doc_id),
    reps AS (SELECT doc_id FROM (
               SELECT doc_id, ROW_NUMBER() OVER (PARTITION BY comp
                 ORDER BY n_chars DESC, doc_id) AS rn FROM cl)
             WHERE rn = 1),
    kept AS (SELECT doc_id FROM reps
             UNION ALL
             SELECT d.doc_id FROM documents d
             WHERE NOT EXISTS (SELECT 1 FROM comp WHERE comp.node = d.doc_id)),
    dth AS (SELECT doc_id, source,
        list_transform(string_split(text, ' '), t -> ${strHashSql("t")}) AS th
      FROM documents),
    ngt AS (SELECT doc_id, source, th,
        CASE WHEN len(th) >= $ChunkTok THEN
          list_transform(generate_series(1, len(th) - ${ChunkTok - 1}),
            i -> list_reduce(th[i:i+${ChunkTok - 1}], (acc, h) -> (acc * 31 + h) % $HashMod))
        ELSE CAST([] AS BIGINT[]) END AS ng FROM dth),
    ckk AS (SELECT doc_id, source, len(th) AS n_tok,
        CASE WHEN len(th) >= $ChunkTok THEN
          list_transform(generate_series(0, len(th) // $ChunkTok - 1),
            i -> ng[i * $ChunkTok + 1])
        ELSE CAST([] AS BIGINT[]) END AS chunks
      FROM ngt),
    dt AS (SELECT doc_id, source, n_tok, len(chunks) AS n_chunks FROM ckk),
    ex2 AS (SELECT doc_id, unnest(chunks) AS ch FROM ckk),
    g2 AS (SELECT ch, COUNT(DISTINCT doc_id) AS n_docs_with FROM ex2 GROUP BY ch),
    ret2 AS (SELECT doc_id, COUNT(*) AS n_ret
             FROM ex2 JOIN g2 USING (ch) WHERE n_docs_with < 2 GROUP BY doc_id),
    clean AS (SELECT dt.doc_id, dt.source,
        dt.n_tok - $ChunkTok * dt.n_chunks + $ChunkTok * COALESCE(ret2.n_ret, 0) AS tok_clean
      FROM dt LEFT JOIN ret2 USING (doc_id)),
    kc AS (SELECT c.* FROM clean c JOIN kept k USING (doc_id)),
    cums AS (SELECT source, doc_id, tok_clean,
        SUM(tok_clean) OVER (PARTITION BY source ORDER BY doc_id
                             ROWS UNBOUNDED PRECEDING) AS cum
      FROM kc)
    SELECT source, CAST((cum - tok_clean) // $ShardTokens AS BIGINT) AS shard_id,
      COUNT(*) AS n_docs, CAST(SUM(tok_clean) AS BIGINT) AS n_tokens,
      CAST(SUM(CAST(doc_id AS DECIMAL(38,0))) % $HashMod AS BIGINT) AS doc_id_checksum
    FROM cums GROUP BY 1, 2 ORDER BY source, shard_id"""))

  // --------------------------------------------------------------- q148
  // CORPUS DATASHEET — the "datasheets for datasets" composition card a
  // training-data release ships with: per (lang, source) cell, the
  // volume (docs, tokens, chars), the exact-duplicate exposure (docs
  // whose 40-char-prefix fingerprint — d08's key — collides anywhere in
  // the corpus), and the quality yield (t02's rule pair in exact
  // integer-cross-multiply form: 20 ≤ tokens ≤ 400 AND stopword count
  // × 5 < tokens), each as count + ppm. One narrow scan computes every
  // per-doc signal; the only wide ops are the fingerprint-frequency
  // aggregate joined back on its own co-partitioned key and the
  // (lang, source)-bounded rollup — at 100 TB the plan is two
  // combiner-packed shuffles regardless of corpus size. This is the
  // summary artifact the d20 pipeline's output manifest points at.
  private val q148 = QueryDef(
    "q148_corpus_datasheet",
    (s, dir) => {
      val base = docsNarrow(s, dir).select(
        col("doc_id"), col("lang"), col("source"), col("n_chars"),
        expr("CAST(size(split(text, ' ')) AS BIGINT)").as("n_tok"),
        expr("CAST(size(filter(split(text, ' '), t -> t IN ('the', 'a', 'of', 'to', 'and'))) AS BIGINT)")
          .as("n_stop"),
        expr(strHashExpr("substring(text, 1, 40)")).as("fp"))
      val fpc = base.groupBy(col("fp")).agg(count(lit(1)).as("fpn"))
      base.join(fpc, Seq("fp")) // co-partitioned: the aggregate's own key
        .withColumn("keep", col("n_tok").between(20L, 400L) && col("n_stop") * 5 < col("n_tok"))
        .groupBy(col("lang"), col("source"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(col("n_tok")).as("n_tokens"),
          sum(col("n_chars")).as("n_chars"),
          sum(when(col("fpn") > 1, 1L).otherwise(0L)).as("n_dup_exposed"),
          sum(when(col("keep"), 1L).otherwise(0L)).as("n_keep"))
        .withColumn("dup_ppm", expr("n_dup_exposed * 1000000 DIV n_docs"))
        .withColumn("keep_ppm", expr("n_keep * 1000000 DIV n_docs"))
        .orderBy(col("lang"), col("source"))
    },
    Some(s"""WITH base AS (
      SELECT doc_id, lang, source, n_chars,
        CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
        CAST(len(list_filter(string_split(text, ' '),
          t -> t IN ('the', 'a', 'of', 'to', 'and'))) AS BIGINT) AS n_stop,
        ${strHashSql("substr(text, 1, 40)")} AS fp
      FROM documents),
    fpc AS (SELECT fp, COUNT(*) AS fpn FROM base GROUP BY 1)
    SELECT lang, source, COUNT(*) AS n_docs,
      CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
      CAST(SUM(n_chars) AS BIGINT) AS n_chars,
      CAST(SUM(CASE WHEN fpn > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_exposed,
      CAST(SUM(CASE WHEN n_tok BETWEEN 20 AND 400 AND n_stop * 5 < n_tok
        THEN 1 ELSE 0 END) AS BIGINT) AS n_keep,
      CAST(SUM(CASE WHEN fpn > 1 THEN 1 ELSE 0 END) * 1000000 // COUNT(*) AS BIGINT)
        AS dup_ppm,
      CAST(SUM(CASE WHEN n_tok BETWEEN 20 AND 400 AND n_stop * 5 < n_tok
        THEN 1 ELSE 0 END) * 1000000 // COUNT(*) AS BIGINT) AS keep_ppm
    FROM base JOIN fpc USING (fp)
    GROUP BY 1, 2 ORDER BY 1, 2"""))

  val defs: Seq[QueryDef] = Seq(d20, q148)
}
