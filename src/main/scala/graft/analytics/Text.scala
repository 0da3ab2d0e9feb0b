package graft.analytics

import org.apache.spark.sql.functions._
import Tables._

/**
 * Text-analysis operators over the `documents` table (SURVEY §2.8 "text
 * analysis" row; the training-data-pipeline layer): token counting,
 * quality scoring, language-ID, sub-word tokenization, and document
 * fingerprinting. All pure built-in expressions (codegen'd higher-order
 * functions) — no UDFs — so plans stay inside WholeStageCodegen and the
 * token explode is a Generate over a pruned 1-column scan.
 *
 * Scale notes (100 TB): every query here is scan → narrow per-row expr →
 * one partial/final hash aggregate; no joins, no windows over low-
 * cardinality keys. `explode` multiplies rows ~80× (tokens/doc) before the
 * map-side combine, which is the standard trade for exact token counts;
 * at 100 TB the same plan holds because the combine keeps the shuffle at
 * |vocab| × shuffle-partitions, not corpus size.
 */
object Text {

  /** `bx(cols, i)`: one row per bigram start `i` of each word list `ws`
    * in `d`; `cols` ends with `ws`. */
  private def bigramStepCte(cols: String) =
    s"bx AS (SELECT $cols, unnest(generate_series(1, len(ws) - 1)) AS i FROM d)"

  /** The bigram language models' shared source: `d` (documents of two or
    * more words), `bx`, `bi(doc_id, source, w1, w2)`, and the training
    * split's (doc hash % 10 < 8) bigram counts `bc(w1, w2, c12)`. */
  private val lmBigramCte =
    s"""d AS (
      SELECT doc_id, source, string_split(text, ' ') AS ws FROM documents
      WHERE len(string_split(text, ' ')) >= 2),
    bx AS (SELECT doc_id, source, ws,
             unnest(generate_series(1, len(ws) - 1)) AS i FROM d),
    bi AS (SELECT doc_id, source, ws[i] AS w1, ws[i + 1] AS w2 FROM bx),
    bc AS (SELECT w1, w2, COUNT(*) AS c12 FROM bi
           WHERE ${strHashSql("CAST(doc_id AS VARCHAR)")} % 10 < 8 GROUP BY 1, 2)"""

  // ---------------------------------------------------------------- t01
  // Whitespace token counting: explode + hash aggregate (map-side combine
  // keeps the shuffle bounded by vocabulary size, not token count).
  private val t01 = QueryDef(
    "t01_token_counts",
    (s, dir) =>
      docs(s, dir)
        .select(explode(split(col("text"), " ")).as("token"))
        .groupBy(col("token"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("token")),
    Some("""SELECT token, COUNT(*) AS n FROM (
      SELECT unnest(string_split(text, ' ')) AS token FROM documents)
    GROUP BY token ORDER BY token"""))

  // ---------------------------------------------------------------- t02
  // Per-document quality scoring: length/stopword-ratio heuristics of the
  // kind used to filter LLM training corpora. Narrow per-row exprs only.
  private val t02 = QueryDef(
    "t02_doc_quality",
    (s, dir) =>
      docs(s, dir)
        .select(
          col("doc_id"),
          col("lang"),
          expr("CAST(size(split(text, ' ')) AS BIGINT)").as("n_tokens"),
          expr("CAST(size(filter(split(text, ' '), t -> t IN ('the', 'a', 'of', 'to', 'and'))) AS BIGINT)").as("n_stop"),
          col("n_chars"))
        .withColumn("avg_token_len",
          round((col("n_chars") - (col("n_tokens") - lit(1))).cast("double") / col("n_tokens"), 4))
        .withColumn("stop_ratio", round(col("n_stop").cast("double") / col("n_tokens"), 4))
        .withColumn("keep",
          col("n_tokens").between(20, 400) && col("stop_ratio") < 0.2)
        .orderBy(col("doc_id")),
    Some("""SELECT doc_id, lang,
      len(string_split(text, ' ')) AS n_tokens,
      len(list_filter(string_split(text, ' '), t -> t IN ('the', 'a', 'of', 'to', 'and'))) AS n_stop,
      n_chars,
      round(CAST(n_chars - (len(string_split(text, ' ')) - 1) AS DOUBLE) / len(string_split(text, ' ')), 4) AS avg_token_len,
      round(CAST(len(list_filter(string_split(text, ' '), t -> t IN ('the', 'a', 'of', 'to', 'and'))) AS DOUBLE) / len(string_split(text, ' ')), 4) AS stop_ratio,
      (len(string_split(text, ' ')) BETWEEN 20 AND 400)
        AND round(CAST(len(list_filter(string_split(text, ' '), t -> t IN ('the', 'a', 'of', 'to', 'and'))) AS DOUBLE) / len(string_split(text, ' ')), 4) < 0.2 AS keep
    FROM documents ORDER BY doc_id"""))

  // ---------------------------------------------------------------- t03
  // N-gram-heuristic language ID: score each language by marker-token hits,
  // argmax with a fixed tie-break order, then confusion-matrix against the
  // labeled `lang`. One aggregate; scores are per-row map work.
  private val markers: Seq[(String, String)] = Seq(
    "en" -> "('the', 'a')",
    "de" -> "('table', 'scan')",
    "fr" -> "('query', 'value')",
    "es" -> "('fast', 'slow')",
    "zh" -> "('spark', 'data')")

  private def langCase(score: String => String): String = {
    val names = markers.map(_._1)
    val cases = names.init.map { l =>
      val geAll = names.filter(_ != l).map(o => s"${score(l)} >= ${score(o)}").mkString(" AND ")
      s"WHEN $geAll THEN '$l'"
    }
    s"CASE ${cases.mkString(" ")} ELSE '${names.last}' END"
  }

  private val t03 = QueryDef(
    "t03_language_id", {
      val score = markers.toMap.map { case (l, set) =>
        l -> s"size(filter(split(text, ' '), t -> t IN $set))"
      }
      (s, dir) =>
        docs(s, dir)
          .select(col("lang"), expr(langCase(score)).as("pred_lang"))
          .groupBy(col("lang"), col("pred_lang"))
          .agg(count(lit(1)).as("n"))
          .orderBy(col("lang"), col("pred_lang"))
    }, {
      val score = markers.toMap.map { case (l, set) =>
        l -> s"len(list_filter(string_split(text, ' '), t -> t IN $set))"
      }
      Some(s"""SELECT lang, ${langCase(score)} AS pred_lang, COUNT(*) AS n
      FROM documents GROUP BY 1, 2 ORDER BY lang, pred_lang""")
    })

  // ---------------------------------------------------------------- t04
  // BPE-ish sub-word tokenization: greedy <=3-char pieces via regex, then a
  // corpus-wide piece histogram (regexp_extract_all is codegen'd; the
  // explode/aggregate shape is the same bounded-shuffle plan as t01).
  private val t04 = QueryDef(
    "t04_subword_counts",
    (s, dir) =>
      docs(s, dir)
        .select(explode(expr("regexp_extract_all(text, '[a-z]{1,3}', 0)")).as("piece"))
        .groupBy(col("piece"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("piece")),
    Some("""SELECT piece, COUNT(*) AS n FROM (
      SELECT unnest(regexp_extract_all(text, '[a-z]{1,3}')) AS piece FROM documents)
    GROUP BY piece ORDER BY piece"""))

  // ---------------------------------------------------------------- t05
  // Document fingerprinting: rolling polynomial hash over the full text
  // (exact-dup detection key; cross-engine-deterministic, see Tables).
  private val t05 = QueryDef(
    "t05_fingerprints",
    (s, dir) =>
      docs(s, dir)
        .select(col("doc_id"), expr(strHashExpr("text")).as("fingerprint"))
        .orderBy(col("doc_id")),
    Some(s"""SELECT doc_id, ${strHashSql("text")} AS fingerprint
    FROM documents ORDER BY doc_id"""))

  // ---------------------------------------------------------------- t06
  // TF-IDF top terms per document: term frequency from one explode +
  // aggregate, document frequency from a second aggregate over the SAME
  // (doc, token) relation, corpus size broadcast as a 1-row join, then a
  // per-document top-3 window. The rank key is the ROUNDED score (plus
  // token tie-break) so the ordering is identical across engines even at
  // float ulp differences. Scale: df table is |vocab| (small relative to
  // corpus — broadcast); the window partitions on doc_id (high
  // cardinality, no skew funnel).
  private val t06 = QueryDef(
    "t06_tfidf_top_terms",
    (s, dir) => {
      val tok = docs(s, dir)
        .select(col("doc_id"), explode(split(col("text"), " ")).as("token"))
        .groupBy(col("doc_id"), col("token"))
        .agg(count(lit(1)).as("tf"))
      val df = tok.groupBy(col("token")).agg(count(lit(1)).as("df"))
      val n = docs(s, dir).agg(count(lit(1)).as("n_docs"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("doc_id"))
        .orderBy(col("score").desc, col("token"))
      // df is VOCAB-sized (grows with the corpus via Heaps' law) and the
      // corpus-file gate was only a PROXY for it (a dictionary-heavy
      // corpus breaks the proportionality) — so no hint at all: the
      // build side is an aggregate output at a shuffle boundary, exactly
      // where AQE reads the real size and picks broadcast itself when it
      // fits (A/B r15 at sf0.1: 2.06 s hintless vs 2.03 s hinted — flat)
      tok.join(df, "token")
        .crossJoin(broadcast(n))
        .withColumn("score",
          round(col("tf") * log(col("n_docs").cast("double") / col("df")), 6))
        .withColumn("rnk", row_number().over(w).cast("long"))
        .filter(col("rnk") <= 3)
        .select(col("doc_id"), col("rnk"), col("token"), col("score"))
        .orderBy(col("doc_id"), col("rnk"))
    },
    Some("""WITH tok AS (
      SELECT doc_id, token, COUNT(*) AS tf FROM (
        SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents)
      GROUP BY doc_id, token),
    df AS (SELECT token, COUNT(*) AS df FROM tok GROUP BY token),
    n AS (SELECT COUNT(*) AS n_docs FROM documents),
    scored AS (
      SELECT tok.doc_id, tok.token,
        round(tf * ln(CAST(n_docs AS DOUBLE) / df.df), 6) AS score
      FROM tok JOIN df ON tok.token = df.token CROSS JOIN n),
    ranked AS (
      SELECT doc_id, token, score,
        ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY score DESC, token) AS rnk
      FROM scored)
    SELECT doc_id, rnk, token, score FROM ranked
    WHERE rnk <= 3 ORDER BY doc_id, rnk"""))

  // ---------------------------------------------------------------- t07
  // End-to-end corpus curation — the families composed into the pipeline
  // a training-data prep job actually runs: quality gate (token count +
  // stopword ratio, t02's rule) → language allowlist → exact dedup on the
  // content fingerprint keeping the smallest doc_id (t05/d01's rule) →
  // per-language yield stats. One narrow projection, one window on the
  // (high-cardinality) fingerprint, one aggregate.
  private val t07 = QueryDef(
    "t07_corpus_curation",
    (s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("fp")).orderBy(col("doc_id"))
      val scored = docs(s, dir)
        .select(col("doc_id"), col("lang"), col("n_chars"),
          expr("size(split(text, ' '))").as("n_tokens"),
          round(expr("size(filter(split(text, ' '), t -> t IN ('the', 'a', 'of', 'to', 'and')))").cast("double") /
            expr("size(split(text, ' '))"), 4).as("stop_ratio"),
          expr(strHashExpr("text")).as("fp"))
        .filter(col("n_tokens").between(20, 400) && col("stop_ratio") < 0.2)
        .filter(col("lang").isin("en", "de", "fr"))
      scored
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .groupBy(col("lang"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("n_chars_total"),
          sum(col("n_tokens")).as("n_tokens_total"))
        .orderBy(col("lang"))
    },
    Some(s"""WITH scored AS (
      SELECT doc_id, lang, n_chars,
        len(string_split(text, ' ')) AS n_tokens,
        round(CAST(len(list_filter(string_split(text, ' '), t -> t IN ('the', 'a', 'of', 'to', 'and'))) AS DOUBLE)
          / len(string_split(text, ' ')), 4) AS stop_ratio,
        ${strHashSql("text")} AS fp
      FROM documents),
    kept AS (
      SELECT * FROM scored
      WHERE n_tokens BETWEEN 20 AND 400 AND stop_ratio < 0.2
        AND lang IN ('en', 'de', 'fr')),
    dedup AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
      FROM kept)
    SELECT lang, COUNT(*) AS n_docs,
      CAST(SUM(n_chars) AS BIGINT) AS n_chars_total,
      CAST(SUM(n_tokens) AS BIGINT) AS n_tokens_total
    FROM dedup WHERE rn = 1
    GROUP BY lang ORDER BY lang"""))

  // ---------------------------------------------------------------- t08
  // Redaction / boilerplate removal: strip a term denylist (the PII-scrub
  // shape — same plan with an email/phone regex on real corpora) and
  // report per-language how much was removed. Pure per-row regex + one
  // hash aggregate; at 100 TB the regex runs inside codegen per row and
  // the shuffle is |lang| — nothing widens with corpus size. The regex is
  // dialect-portable: plain alternation, no lookaround (Java regex on the
  // Spark side, RE2 in the DuckDB oracle).
  private val t08 = QueryDef(
    "t08_redaction_stats",
    (s, dir) => {
      val pat = "\\bcustomer\\b|\\bvalue\\b"
      docs(s, dir)
        .select(col("lang"), col("n_chars"),
          regexp_count(col("text"), lit(pat)).as("n_hits"),
          length(regexp_replace(col("text"), pat, "")).as("clean_len"))
        .groupBy(col("lang"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(col("n_hits")).as("n_redacted"),
          sum(col("n_chars") - col("clean_len")).as("chars_removed"))
        .orderBy(col("lang"))
    },
    Some("""SELECT lang, COUNT(*) AS n_docs,
      CAST(SUM(len(regexp_extract_all(text, '\bcustomer\b|\bvalue\b'))) AS BIGINT) AS n_redacted,
      CAST(SUM(n_chars - len(regexp_replace(text, '\bcustomer\b|\bvalue\b', '', 'g'))) AS BIGINT) AS chars_removed
    FROM documents GROUP BY lang ORDER BY lang"""))

  // ---------------------------------------------------------------- t09
  // Unigram-LM scoring: per-document average token log-probability under
  // the corpus's own unigram distribution — the perplexity-proxy quality
  // filter of LLM corpus pipelines (low average logp ⇒ rare-token soup).
  // Two aggregates + one broadcast join: vocab is |vocab|-small, so the
  // per-token scoring join broadcasts; the shuffle is bounded by vocab
  // and |docs|, never token count. Cross-engine determinism: ln() can
  // differ at the last ulp between libms, so per-token logp is ROUNDED
  // (t06's discipline) and the per-doc sum runs in DECIMAL.
  private val t09 = QueryDef(
    "t09_unigram_logprob",
    (s, dir) => {
      // docsNarrow: the explode re-parallelizes at token level anyway, so
      // the widen shuffle of full text rows would be pure tax here
      val toks = docsNarrow(s, dir)
        .select(col("doc_id"), explode(split(col("text"), " ")).as("token"))
      val vocab = toks.groupBy(col("token")).agg(count(lit(1)).as("c"))
      val total = vocab.agg(sum(col("c")).as("nn"))
      val lp = vocab.crossJoin(total)
        .select(col("token"),
          round(log(col("c").cast("double") / col("nn")), 4).as("lp"))
      // the average is rounded in EXACT integer space: sum_lp is a
      // 4-decimal DECIMAL (an exact count of 1e-4 units), and
      // round-half-away of su/n is (2|su| + n) DIV (2n) on integers —
      // a double division would land on unrepresentable decimal ties
      // (e.g. -197.3363/58 = -3.402350 exactly) that the engines'
      // round() then resolves differently
      // lp is vocab-sized (Heaps-unbounded): no hint — AQE reads the real
      // aggregate-output size at the shuffle boundary (A/B r15: flat)
      toks.join(lp, "token")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_tokens"),
          sum(col("lp").cast(org.apache.spark.sql.types.DecimalType(18, 4))).as("slp"))
        .withColumn("su", expr("CAST(slp * 10000 AS BIGINT)"))
        .withColumn("avg_logp", expr(
          """CAST(CASE WHEN su >= 0 THEN (2 * su + n_tokens) DIV (2 * n_tokens)
                       ELSE -((2 * -su + n_tokens) DIV (2 * n_tokens)) END
             AS DOUBLE) / 10000"""))
        .select(col("doc_id"), col("n_tokens"), col("avg_logp"))
        .orderBy(col("doc_id"))
    },
    Some("""WITH toks AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
    v AS (SELECT token, COUNT(*) AS c FROM toks GROUP BY token),
    n AS (SELECT COUNT(*) AS nn FROM toks),
    lp AS (SELECT token, round(ln(CAST(c AS DOUBLE) / nn), 4) AS lp FROM v, n),
    s AS (SELECT doc_id, COUNT(*) AS n_tokens,
            CAST(SUM(CAST(lp AS DECIMAL(18,4))) * 10000 AS BIGINT) AS su
          FROM toks JOIN lp USING (token) GROUP BY doc_id)
    SELECT doc_id, n_tokens,
      CAST(CASE WHEN su >= 0 THEN (2 * su + n_tokens) // (2 * n_tokens)
                ELSE -((2 * -su + n_tokens) // (2 * n_tokens)) END
        AS DOUBLE) / 10000 AS avg_logp
    FROM s ORDER BY doc_id"""))

  // ---------------------------------------------------------------- t10
  // Per-source distribution drift: KL(source ‖ corpus) over token
  // unigram distributions — the contamination/domain-shift detector of
  // corpus pipelines (a source whose token mix diverges from the corpus
  // sticks out). Determinism discipline: log-probabilities are rounded
  // to integer 1e-4 units, every per-token term is then EXACT integer
  // arithmetic (count × unit-difference) summed order-independently,
  // and the final value is two IEEE divisions by exact integers — no
  // float accumulation, no rounding of a ratio. Shuffles are bounded by
  // |vocab| × |sources|; the corpus vocab broadcasts into the join.
  private val t10 = QueryDef(
    "t10_source_divergence",
    (s, dir) => {
      // docsNarrow: same reasoning as t09 — token-level shuffle follows
      val toks = docsNarrow(s, dir)
        .select(col("source"), explode(split(col("text"), " ")).as("token"))
      val corpus = toks.groupBy(col("token")).agg(count(lit(1)).as("c"))
      val n = corpus.agg(sum(col("c")).as("n"))
      val lpu = corpus.crossJoin(n)
        .select(col("token"),
          round(log(col("c").cast("double") / col("n")) * 10000).cast("long").as("lpu"))
      val srcTok = toks.groupBy(col("source"), col("token")).agg(count(lit(1)).as("cs"))
      val ns = srcTok.groupBy(col("source")).agg(sum(col("cs")).as("ns"))
      srcTok.join(ns, "source")
        .withColumn("lpu_s",
          round(log(col("cs").cast("double") / col("ns")) * 10000).cast("long"))
        // lpu is vocab-sized (Heaps-unbounded): no hint — AQE decides from
        // the real aggregate-output size (A/B r15: flat)
        .join(lpu, "token")
        .groupBy(col("source"))
        .agg(max(col("ns")).as("n_tokens"),
          sum(col("cs") * (col("lpu_s") - col("lpu"))).as("su"))
        .select(col("source"), col("n_tokens"),
          (col("su").cast("double") / col("n_tokens") / lit(10000.0)).as("kl"))
        .orderBy(col("source"))
    },
    Some("""WITH toks AS (
      SELECT source, unnest(string_split(text, ' ')) AS token FROM documents),
    corpus AS (SELECT token, COUNT(*) AS c FROM toks GROUP BY token),
    n AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM corpus),
    lpu AS (SELECT token, CAST(round(ln(CAST(c AS DOUBLE) / n.n) * 10000) AS BIGINT) AS lpu
            FROM corpus CROSS JOIN n),
    st AS (SELECT source, token, COUNT(*) AS cs FROM toks GROUP BY 1, 2),
    ns AS (SELECT source, CAST(SUM(cs) AS BIGINT) AS ns FROM st GROUP BY source),
    terms AS (SELECT st.source, st.token, st.cs, ns.ns,
                CAST(round(ln(CAST(st.cs AS DOUBLE) / ns.ns) * 10000) AS BIGINT) AS lpu_s
              FROM st JOIN ns USING (source))
    SELECT t.source, MAX(t.ns) AS n_tokens,
      CAST(SUM(t.cs * (t.lpu_s - l.lpu)) AS DOUBLE) / MAX(t.ns) / 10000.0 AS kl
    FROM terms t JOIN lpu l USING (token)
    GROUP BY t.source ORDER BY t.source"""))

  // ---------------------------------------------------------------- t11
  // Vocabulary concentration per source: type-token ratio and the share
  // of token mass covered by the 10 most frequent tokens — the
  // Zipf-shape diagnostic (template/boilerplate sources concentrate
  // mass in few types; natural text spreads it). All counts are exact
  // integers; the only division is one IEEE divide of two exact ints.
  // Tie-break note: equal-count tokens at the top-10 boundary can swap
  // membership, but the SUM of the ten largest counts is invariant
  // under that choice, so the result is deterministic without a
  // tie-break rule.
  private val t11 = QueryDef(
    "t11_vocab_concentration",
    (s, dir) => {
      val counts = docs(s, dir)
        .select(col("source"), explode(split(col("text"), " ")).as("token"))
        .groupBy(col("source"), col("token"))
        .agg(count(lit(1)).as("c"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("source")).orderBy(col("c").desc, col("token"))
      counts
        .withColumn("rn", row_number().over(w))
        .groupBy(col("source"))
        .agg(
          sum(col("c")).as("n_tokens"),
          count(lit(1)).as("n_types"),
          sum(when(col("rn") <= 10, col("c")).otherwise(0L)).as("top10"))
        .select(col("source"), col("n_tokens"), col("n_types"),
          (col("top10").cast("double") / col("n_tokens")).as("top10_coverage"))
        .orderBy(col("source"))
    },
    Some("""WITH counts AS (
      SELECT source, token, COUNT(*) AS c
      FROM (SELECT source, unnest(string_split(text, ' ')) AS token FROM documents)
      GROUP BY 1, 2),
    rn AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY source
             ORDER BY c DESC, token) AS rn FROM counts)
    SELECT source,
      CAST(SUM(c) AS BIGINT) AS n_tokens,
      COUNT(*) AS n_types,
      CAST(SUM(CASE WHEN rn <= 10 THEN c ELSE 0 END) AS DOUBLE)
        / CAST(SUM(c) AS BIGINT) AS top10_coverage
    FROM rn GROUP BY source ORDER BY source"""))

  // ------------------------------------------------------------------
  // Word-n-gram hashing shared by t12/t13: hash each token ONCE (the
  // token-hash array is materialized in its own projection — HOF lambdas
  // are not hoisted, see t05/d02 history), then combine n consecutive
  // token hashes with the same 31-base polynomial fold the string hash
  // uses. O(n) integer ops per position instead of re-hashing n-gram
  // strings character by character.
  // ------------------------------------------------------------------
  private def ngramExpr(thCol: String, n: Int): String =
    s"ngram_hashes($thCol, $n)" // native O(len) rolling pass; value-identical
                                // to the former transform+aggregate HOF fold

  private def ngramSqlDuck(thCol: String, n: Int): String =
    s"""CASE WHEN len($thCol) >= $n THEN
      list_transform(generate_series(1, len($thCol) - ${n - 1}),
        i -> list_reduce($thCol[i:i+${n - 1}], (acc, h) -> (acc * 31 + h) % ${Tables.HashMod}))
    ELSE CAST([] AS BIGINT[]) END"""

  // ---------------------------------------------------------------- t12
  // Benchmark decontamination: the eval-set overlap check every training
  // corpus runs before release — hash every overlapping word-n-gram of the
  // held-out set (doc_id % 97 here), broadcast the hash set, and count
  // distinct overlapping n-grams per training doc. n = 4 here — scaled to
  // the short synthetic docs; production corpora use 8–13. The benchmark side is tiny by
  // construction, so at 100 TB this stays one broadcast-hash-join against
  // the exploded corpus n-grams — the corpus is scanned once and nothing
  // shuffles except the per-doc count.
  private val t12 = QueryDef(
    "t12_decontamination",
    (s, dir) => {
      val th = docs(s, dir)
        .select(col("doc_id"), expr("transform(split(text, ' '), t -> poly_hash(t))").as("th"))
      val ex = th
        .select(col("doc_id"), explode(expr(ngramExpr("th", 4))).as("ng"))
        .distinct()
        .cache()
      val bench = ex.filter(col("doc_id") % 97 === 0).select(col("ng")).distinct()
        .withColumn("hit", lit(1L))
      // one broadcast LEFT join computes both counts in a single per-doc
      // aggregate (distinct grams = all rows, hits = matched rows) — the
      // former inner-join + separate per-doc count + rejoin shape cost an
      // extra shuffle and an extra join for the same answer
      val out = ex.filter(col("doc_id") % 97 =!= 0)
        // the %97 split makes this stand-in benchmark corpus-proportional
        // (a REAL held-out benchmark is fixed-size); no hint — AQE reads
        // the real build-side size, so the stand-in also behaves at scale
        .join(bench, Seq("ng"), "left")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_distinct_grams"),
          sum(coalesce(col("hit"), lit(0L))).as("n_hit"))
        .filter(col("n_hit") > 0)
        .select(col("doc_id"), col("n_distinct_grams"), col("n_hit"))
        .orderBy(col("doc_id"))
        .localCheckpoint()
      ex.unpersist()
      out
    },
    Some(s"""WITH th AS (
      SELECT doc_id,
        list_transform(string_split(text, ' '), t -> ${strHashSql("t")}) AS th
      FROM documents),
    ng AS (SELECT doc_id, ${ngramSqlDuck("th", 4)} AS ngs FROM th),
    ex AS (SELECT DISTINCT doc_id, unnest(ngs) AS ng FROM ng),
    bench AS (SELECT DISTINCT ng FROM ex WHERE doc_id % 97 = 0),
    corpus AS (SELECT doc_id, ng FROM ex WHERE doc_id % 97 <> 0),
    per_doc AS (SELECT doc_id, COUNT(*) AS n_distinct_grams
                FROM corpus GROUP BY doc_id),
    hits AS (SELECT c.doc_id, COUNT(*) AS n_hit
             FROM corpus c JOIN bench USING (ng) GROUP BY c.doc_id)
    SELECT h.doc_id, p.n_distinct_grams, h.n_hit
    FROM hits h JOIN per_doc p USING (doc_id)
    ORDER BY doc_id"""))

  // ---------------------------------------------------------------- t13
  // Repetition quality signals (the Gopher/C4 filter family): per-doc
  // duplicate-token and duplicate-trigram excess, rolled up per source
  // with a flag for docs whose repeated-trigram share exceeds 10%
  // (integer cross-multiply — no float threshold). Everything is narrow
  // per-row array math over one scan + one aggregate; ratios ship as
  // exact numerator/denominator pairs.
  private val t13 = QueryDef(
    "t13_repetition_stats",
    (s, dir) => {
      val th = docs(s, dir)
        .select(col("source"),
          expr("transform(split(text, ' '), t -> poly_hash(t))").as("th"))
        .withColumn("tg", expr(ngramExpr("th", 3)))
      th.select(col("source"),
          expr("size(th)").as("n_tok"),
          expr("size(th) - size(array_distinct(th))").as("dup_tok"),
          expr("size(tg)").as("n_tri"),
          expr("size(tg) - size(array_distinct(tg))").as("dup_tri"))
        .groupBy(col("source"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(col("n_tok").cast("long")).as("n_tokens"),
          sum(col("dup_tok").cast("long")).as("n_dup_tokens"),
          sum(col("n_tri").cast("long")).as("n_trigrams"),
          sum(col("dup_tri").cast("long")).as("n_dup_trigrams"),
          sum(when(col("dup_tri") * 10 > col("n_tri"), 1L).otherwise(0L)).as("n_flagged"))
        .orderBy(col("source"))
    },
    Some(s"""WITH th AS (
      SELECT source,
        list_transform(string_split(text, ' '), t -> ${strHashSql("t")}) AS th
      FROM documents),
    tg AS (SELECT source, th, ${ngramSqlDuck("th", 3)} AS tg FROM th),
    d AS (SELECT source,
        len(th) AS n_tok, len(th) - len(list_distinct(th)) AS dup_tok,
        len(tg) AS n_tri, len(tg) - len(list_distinct(tg)) AS dup_tri
      FROM tg)
    SELECT source, COUNT(*) AS n_docs,
      CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
      CAST(SUM(dup_tok) AS BIGINT) AS n_dup_tokens,
      CAST(SUM(n_tri) AS BIGINT) AS n_trigrams,
      CAST(SUM(dup_tri) AS BIGINT) AS n_dup_trigrams,
      CAST(SUM(CASE WHEN dup_tri * 10 > n_tri THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged
    FROM d GROUP BY source ORDER BY source"""))

  // ---------------------------------------------------------------- t14
  // Affix boilerplate detection: fingerprint each document's first-8 and
  // last-8 token windows and count, per source, the affix groups shared
  // by ≥2 docs — the header/footer boilerplate signal used to strip
  // templated page chrome from crawled corpora. Two bounded-size hash
  // aggregates over one scan; the fingerprint is the same 31-base fold as
  // the n-gram machinery, so the shuffle carries one BIGINT per doc per
  // affix, corpus-size-independent state per group.
  private def affixFoldExpr(sliceExpr: String): String =
    s"aggregate($sliceExpr, CAST(0 AS BIGINT), (acc, h) -> (acc * 31 + h) % ${Tables.HashMod})"

  private def affixFoldSql(sliceExpr: String): String =
    s"list_reduce(list_prepend(CAST(0 AS BIGINT), $sliceExpr), (acc, h) -> (acc * 31 + h) % ${Tables.HashMod})"

  private val t14 = QueryDef(
    "t14_affix_boilerplate",
    (s, dir) => {
      val th = docs(s, dir)
        .select(col("source"), col("doc_id"),
          expr("transform(split(text, ' '), t -> poly_hash(t))").as("th"))
        .filter(expr("size(th) >= 8"))
        .select(col("source"), col("doc_id"),
          expr(affixFoldExpr("slice(th, 1, 8)")).as("pre"),
          expr(affixFoldExpr("slice(th, -8, 8)")).as("suf"))
      def shared(c: String, out: String) = th
        .groupBy(col("source"), col(c))
        .agg(count(lit(1)).as("n"))
        .filter(col("n") >= 2)
        .groupBy(col("source"))
        .agg(count(lit(1)).as(s"${out}_groups"),
          sum(col("n")).cast("long").as(s"${out}_docs"))
      docs(s, dir).groupBy(col("source")).agg(count(lit(1)).as("n_docs"))
        .join(shared("pre", "prefix"), Seq("source"), "left")
        .join(shared("suf", "suffix"), Seq("source"), "left")
        .na.fill(0L)
        .orderBy(col("source"))
    },
    Some(s"""WITH th AS (
      SELECT source, doc_id,
        list_transform(string_split(text, ' '), t -> ${strHashSql("t")}) AS th
      FROM documents),
    a AS (SELECT source,
        ${affixFoldSql("th[1:8]")} AS pre,
        ${affixFoldSql("th[-8:]")} AS suf
      FROM th WHERE len(th) >= 8),
    pg AS (SELECT source, COUNT(*) AS prefix_groups, CAST(SUM(n) AS BIGINT) AS prefix_docs
           FROM (SELECT source, pre, COUNT(*) AS n FROM a GROUP BY 1, 2)
           WHERE n >= 2 GROUP BY source),
    sg AS (SELECT source, COUNT(*) AS suffix_groups, CAST(SUM(n) AS BIGINT) AS suffix_docs
           FROM (SELECT source, suf, COUNT(*) AS n FROM a GROUP BY 1, 2)
           WHERE n >= 2 GROUP BY source),
    d AS (SELECT source, COUNT(*) AS n_docs FROM documents GROUP BY source)
    SELECT d.source, d.n_docs,
      COALESCE(prefix_groups, 0) AS prefix_groups,
      COALESCE(prefix_docs, 0) AS prefix_docs,
      COALESCE(suffix_groups, 0) AS suffix_groups,
      COALESCE(suffix_docs, 0) AS suffix_docs
    FROM d LEFT JOIN pg USING (source) LEFT JOIN sg USING (source)
    ORDER BY source"""))

  // ---------------------------------------------------------------- t15
  // Training-shard sequence packing: concat-and-chunk docs (per source,
  // doc_id order) into ~2048-token shards — each doc is assigned the
  // shard where its FIRST token lands (greedy sequential packing; docs
  // may span shard boundaries, exactly like LM pretraining tokenizer
  // packing). One running-total window partitioned by source (high
  // cardinality at corpus scale — the partition key IS the shard
  // namespace), then a shard-level aggregate. Everything is exact
  // integer arithmetic.
  private val ShardTokens = 2048L
  private val t15 = QueryDef(
    "t15_sequence_packing",
    (s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("source")).orderBy(col("doc_id"))
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.currentRow)
      docs(s, dir)
        .select(col("source"), col("doc_id"),
          size(split(col("text"), " ")).cast("long").as("n_tok"))
        .withColumn("cum", sum(col("n_tok")).over(w))
        .withColumn("shard_id", expr(s"(cum - n_tok) DIV $ShardTokens"))
        .groupBy(col("source"), col("shard_id"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tokens_starting"))
        .orderBy(col("source"), col("shard_id"))
    },
    Some(s"""WITH d AS (
      SELECT source, doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
      FROM documents),
    c AS (SELECT source, doc_id, n_tok,
        SUM(n_tok) OVER (PARTITION BY source ORDER BY doc_id
                         ROWS UNBOUNDED PRECEDING) AS cum
      FROM d)
    SELECT source, CAST((cum - n_tok) // $ShardTokens AS BIGINT) AS shard_id,
      COUNT(*) AS n_docs, CAST(SUM(n_tok) AS BIGINT) AS n_tokens_starting
    FROM c GROUP BY 1, 2 ORDER BY source, shard_id"""))

  // ---------------------------------------------------------------- t16
  // Weighted corpus mixing: each source gets a deterministic sampling
  // rate (hash of the source name → 10–89%), and docs are kept by the
  // same consistent hash-threshold rule as q50 — so the mix is
  // reproducible run-to-run, join-compatible across tables, and
  // re-weightable by changing only the rate rule. The per-source yield
  // report is the mixing manifest a training-data build publishes.
  private val t16 = QueryDef(
    "t16_corpus_mixing",
    (s, dir) =>
      docs(s, dir)
        .withColumn("rate_pct", expr(s"10 + ${strHashExpr("source")} % 80"))
        .withColumn("keep",
          expr(s"${strHashExpr("CAST(doc_id AS STRING)")} % 100") < col("rate_pct"))
        .groupBy(col("source"))
        .agg(
          max(col("rate_pct")).as("rate_pct"),
          count(lit(1)).as("n_total"),
          sum(when(col("keep"), 1L).otherwise(0L)).as("n_sampled"),
          sum(when(col("keep"), size(split(col("text"), " ")).cast("long"))
            .otherwise(0L)).as("n_sampled_tokens"))
        .orderBy(col("source")),
    Some(s"""SELECT source,
      MAX(10 + ${strHashSql("source")} % 80) AS rate_pct,
      COUNT(*) AS n_total,
      CAST(SUM(CASE WHEN ${strHashSql("CAST(doc_id AS VARCHAR)")} % 100
                 < 10 + ${strHashSql("source")} % 80 THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled,
      CAST(SUM(CASE WHEN ${strHashSql("CAST(doc_id AS VARCHAR)")} % 100
                 < 10 + ${strHashSql("source")} % 80
               THEN len(string_split(text, ' ')) ELSE 0 END) AS BIGINT) AS n_sampled_tokens
    FROM documents GROUP BY source ORDER BY source"""))

  // ---------------------------------------------------------------- t17
  // BPE tokenizer-training step: adjacent symbol-pair frequencies over the
  // corpus, the statistic a byte-pair-encoding trainer maximizes each
  // merge round. The corpus is first collapsed to a (word, count) table —
  // the classic BPE optimization: pair expansion runs over DISTINCT words
  // (bounded vocabulary) weighted by count, not over every token
  // occurrence. The final ranking windows over the pair vocabulary, which
  // is bounded by |alphabet|² (≤676 here) regardless of corpus size, so
  // the single-partition window is constant work at 100 TB; the only
  // corpus-sized ops are one explode + two hash aggregates.
  private val t17 = QueryDef(
    "t17_bpe_pair_counts",
    (s, dir) => {
      val words = docs(s, dir)
        .select(explode(split(col("text"), " ")).as("w"))
        .filter(col("w").rlike("^[a-z]+$") && length(col("w")) >= 2)
        .groupBy(col("w")).agg(count(lit(1)).as("wcnt"))
      words
        .select(col("wcnt"),
          explode(expr("transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))")).as("pair"))
        .groupBy(col("pair")).agg(sum(col("wcnt")).as("cnt"))
        .withColumn("rnk",
          row_number().over(org.apache.spark.sql.expressions.Window
            .orderBy(col("cnt").desc, col("pair"))).cast("long"))
        .filter(col("rnk") <= 30)
        .select(col("rnk"), col("pair"), col("cnt"))
        .orderBy(col("rnk"))
    },
    Some("""WITH w AS (
      SELECT w, COUNT(*) AS wcnt FROM (
        SELECT unnest(string_split(text, ' ')) AS w FROM documents)
      WHERE regexp_matches(w, '^[a-z]+$') AND len(w) >= 2 GROUP BY w),
    p AS (SELECT unnest(list_transform(range(1, len(w)), i -> substr(w, i, 2))) AS pair, wcnt FROM w),
    a AS (SELECT pair, CAST(SUM(wcnt) AS BIGINT) AS cnt FROM p GROUP BY pair)
    SELECT rnk, pair, cnt FROM (
      SELECT pair, cnt, ROW_NUMBER() OVER (ORDER BY cnt DESC, pair) AS rnk FROM a)
    WHERE rnk <= 30 ORDER BY rnk"""))

  // ---------------------------------------------------------------- t18
  // Seeded deterministic corpus shuffle → shard assignment: every epoch
  // of LM training wants the SAME pseudo-random document order given the
  // same seed. Shard = consistent hash of (seed, doc_id) — co-locatable,
  // reproducible; within-shard position = rank of a second hash — the
  // shuffle. The permutation itself is pinned by an order-sensitive
  // checksum (position-weighted doc_id sum mod 1e9+7): any engine or
  // partitioning change that perturbs the order changes the checksum.
  // Windows are PARTITIONED by shard (parallel at any scale) — the
  // naive global-row_number shuffle would funnel the corpus through one
  // task.
  private val ShuffleSeed = 20260812L
  private val NumShards = 8
  private val t18 = QueryDef(
    "t18_shuffle_shards",
    (s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("shard_id")).orderBy(col("h"), col("doc_id"))
      docs(s, dir)
        .select(col("doc_id"), col("source"),
          size(split(col("text"), " ")).cast("long").as("n_tok"))
        .withColumn("h", expr(strHashExpr(s"concat('$ShuffleSeed:', CAST(doc_id AS STRING))")))
        .withColumn("shard_id", col("h") % NumShards)
        .withColumn("pos", row_number().over(w).cast("long"))
        .groupBy(col("shard_id"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tok")).as("n_tokens"),
          sum(col("pos") * col("doc_id") % HashMod).as("order_checksum"),
          countDistinct(col("source")).as("n_sources"))
        .orderBy(col("shard_id"))
    },
    Some(s"""WITH d AS (
      SELECT doc_id, source, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
        ${strHashSql(s"concat('$ShuffleSeed:', CAST(doc_id AS VARCHAR))")} AS h
      FROM documents),
    p AS (SELECT doc_id, source, n_tok, h % $NumShards AS shard_id,
        CAST(ROW_NUMBER() OVER (PARTITION BY h % $NumShards ORDER BY h, doc_id) AS BIGINT) AS pos
      FROM d)
    SELECT shard_id, COUNT(*) AS n_docs, CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
      CAST(SUM(pos * doc_id % $HashMod) AS BIGINT) AS order_checksum,
      CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources
    FROM p GROUP BY shard_id ORDER BY shard_id"""))

  // ---------------------------------------------------------------- t19
  // Zipf power-law fit per source: least-squares slope of ln(freq) vs
  // ln(rank) over the top-|Head| vocabulary — THE sanity diagnostic of a
  // text corpus (natural language sits near −1; templated/spam sources
  // drift shallow). Cross-engine determinism follows t09's discipline:
  // each log is rounded to an exact 4-decimal DECIMAL, scaled to integer
  // 1e-4 units, so all five moment sums are exact int64 and the slope is
  // scalar IEEE arithmetic over exact integers (scale factors cancel in
  // the ratio; the intercept divides once by 1e4). The rank window runs
  // over the (source, token, freq) AGGREGATE — bounded by vocabulary, not
  // corpus size — and the fit itself is one hash aggregate.
  private val ZipfHead = 500
  private def lnQ(x: String): String = Tables.lnQ(x)
  private val t19 = QueryDef(
    "t19_zipf_slope",
    (s, dir) => {
      val freqs = docs(s, dir)
        .select(col("source"), explode(split(col("text"), " ")).as("w"))
        .filter(col("w").rlike("^[a-z]+$"))
        .groupBy(col("source"), col("w")).agg(count(lit(1)).as("c"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("source")).orderBy(col("c").desc, col("w"))
      freqs
        .withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= ZipfHead)
        .select(col("source"), expr(lnQ("rnk")).as("lr"), expr(lnQ("c")).as("lf"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_terms"),
          sum(col("lr")).as("slr"), sum(col("lf")).as("slf"),
          sum(expr("lr * lr")).as("slrlr"), sum(expr("lr * lf")).as("slrlf"))
        .select(col("source"), col("n_terms"),
          expr("""(CAST(n_terms AS DOUBLE) * CAST(slrlf AS DOUBLE)
                   - CAST(slr AS DOUBLE) * CAST(slf AS DOUBLE))
                  / (CAST(n_terms AS DOUBLE) * CAST(slrlr AS DOUBLE)
                     - CAST(slr AS DOUBLE) * CAST(slr AS DOUBLE))""").as("zipf_slope"),
          expr("""(CAST(slf AS DOUBLE)
                   - (CAST(n_terms AS DOUBLE) * CAST(slrlf AS DOUBLE)
                      - CAST(slr AS DOUBLE) * CAST(slf AS DOUBLE))
                     / (CAST(n_terms AS DOUBLE) * CAST(slrlr AS DOUBLE)
                        - CAST(slr AS DOUBLE) * CAST(slr AS DOUBLE))
                     * CAST(slr AS DOUBLE))
                  / CAST(n_terms AS DOUBLE) / 10000.0D""").as("intercept_ln"))
        .orderBy(col("source"))
    },
    Some(s"""WITH f AS (
      SELECT source, w, COUNT(*) AS c FROM (
        SELECT source, unnest(string_split(text, ' ')) AS w FROM documents)
      WHERE regexp_matches(w, '^[a-z]+$$') GROUP BY 1, 2),
    r AS (SELECT source, c, w,
            ROW_NUMBER() OVER (PARTITION BY source ORDER BY c DESC, w) AS rnk
          FROM f),
    q AS (SELECT source, ${lnQ("rnk")} AS lr, ${lnQ("c")} AS lf
          FROM r WHERE rnk <= $ZipfHead),
    m AS (SELECT source, COUNT(*) AS n_terms,
            CAST(SUM(lr) AS BIGINT) AS slr, CAST(SUM(lf) AS BIGINT) AS slf,
            CAST(SUM(lr * lr) AS BIGINT) AS slrlr,
            CAST(SUM(lr * lf) AS BIGINT) AS slrlf
          FROM q GROUP BY source)
    SELECT source, n_terms,
      (CAST(n_terms AS DOUBLE) * CAST(slrlf AS DOUBLE)
       - CAST(slr AS DOUBLE) * CAST(slf AS DOUBLE))
      / (CAST(n_terms AS DOUBLE) * CAST(slrlr AS DOUBLE)
         - CAST(slr AS DOUBLE) * CAST(slr AS DOUBLE)) AS zipf_slope,
      (CAST(slf AS DOUBLE)
       - (CAST(n_terms AS DOUBLE) * CAST(slrlf AS DOUBLE)
          - CAST(slr AS DOUBLE) * CAST(slf AS DOUBLE))
         / (CAST(n_terms AS DOUBLE) * CAST(slrlr AS DOUBLE)
            - CAST(slr AS DOUBLE) * CAST(slr AS DOUBLE))
         * CAST(slr AS DOUBLE))
      / CAST(n_terms AS DOUBLE) / 10000.0 AS intercept_ln
    FROM m ORDER BY source"""))

  // ---------------------------------------------------------------- t20
  // C4-style cross-document boilerplate detection: carve each doc into
  // non-overlapping 8-token segments (every 8th entry of the O(len)
  // rolling n-gram hash array — no re-hashing), count how many DISTINCT
  // docs each segment appears in, and roll up per source: how much of the
  // corpus is duplicated segment mass, and how many docs are >25%
  // boilerplate (integer cross-multiply, no float threshold). The only
  // corpus-wide op is one hash aggregate on the segment hash + one
  // co-partitioned join back — the shape C4's dedup actually ran at web
  // scale. (t14 finds SHARED PREFIXES via affix keys; this finds repeated
  // interior mass anywhere in the doc.)
  private val ChunkTok = 8
  private val t20 = QueryDef(
    "t20_boilerplate_segments",
    (s, dir) => {
      val chunks = docs(s, dir)
        .select(col("doc_id"), col("source"),
          expr("transform(split(text, ' '), t -> poly_hash(t))").as("th"))
        // materialize the rolling n-gram array OUTSIDE the index lambda —
        // HOF lambdas are not hoisted (t05/d02 history), so inlining it
        // would recompute the O(len) pass once per chunk
        .select(col("doc_id"), col("source"), col("th"),
          expr(ngramExpr("th", ChunkTok)).as("ng"))
        .select(col("doc_id"), col("source"),
          expr(s"""CASE WHEN size(th) >= $ChunkTok THEN
              transform(sequence(0, CAST(size(th) DIV $ChunkTok AS INT) - 1),
                i -> element_at(ng, i * $ChunkTok + 1))
            ELSE array() END""").as("chunks"))
        .select(col("doc_id"), col("source"), explode(col("chunks")).as("ch"))
      val global = chunks.groupBy(col("ch"))
        .agg(countDistinct(col("doc_id")).as("n_docs_with"))
      val perDoc = chunks.join(global, "ch")
        .groupBy(col("doc_id"), col("source"))
        .agg(count(lit(1)).as("n_chunks"),
          sum(when(col("n_docs_with") >= 2, 1L).otherwise(0L)).as("n_dup"))
      perDoc.groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chunks")).as("n_chunks"),
          sum(col("n_dup")).as("n_dup_chunks"),
          sum(when(col("n_dup") * 4 > col("n_chunks"), 1L).otherwise(0L))
            .as("n_boiler_docs"))
        .orderBy(col("source"))
    },
    Some(s"""WITH th AS (
      SELECT doc_id, source,
        list_transform(string_split(text, ' '), t -> ${strHashSql("t")}) AS th
      FROM documents),
    ngt AS (SELECT doc_id, source, th,
        ${ngramSqlDuck("th", ChunkTok)} AS ng FROM th),
    ck AS (SELECT doc_id, source,
        CASE WHEN len(th) >= $ChunkTok THEN
          list_transform(generate_series(0, len(th) // $ChunkTok - 1),
            i -> ng[i * $ChunkTok + 1])
        ELSE CAST([] AS BIGINT[]) END AS chunks
      FROM ngt),
    ex AS (SELECT doc_id, source, unnest(chunks) AS ch FROM ck),
    g AS (SELECT ch, COUNT(DISTINCT doc_id) AS n_docs_with FROM ex GROUP BY ch),
    pd AS (SELECT doc_id, source, COUNT(*) AS n_chunks,
             CAST(SUM(CASE WHEN n_docs_with >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup
           FROM ex JOIN g USING (ch) GROUP BY 1, 2)
    SELECT source, COUNT(*) AS n_docs,
      CAST(SUM(n_chunks) AS BIGINT) AS n_chunks,
      CAST(SUM(n_dup) AS BIGINT) AS n_dup_chunks,
      CAST(SUM(CASE WHEN n_dup * 4 > n_chunks THEN 1 ELSE 0 END) AS BIGINT)
        AS n_boiler_docs
    FROM pd GROUP BY source ORDER BY source"""))

  // ---------------------------------------------------------------- t21
  // Train/held-out distribution shift: fit an add-one-smoothed unigram LM
  // on the 80% train split, score the 20% held-out split per source —
  // per-source cross-entropy + OOV rate, the pre-training check that a
  // data mix's eval slice actually looks like its train slice (a source
  // whose held-out entropy spikes is drifting or contaminated). t09
  // scores docs under the corpus's OWN distribution; this is the
  // out-of-sample version. Same determinism discipline: per-word log
  // probs quantized to exact 1e-4 integer units, per-source sums are
  // integer count×unit products, one double division at the end. The
  // |train vocab| table broadcasts into the held-out scoring join; no
  // shuffle exceeds |vocab| or |sources|.
  private val t21 = QueryDef(
    "t21_train_test_shift",
    (s, dir) => {
      val toks = docs(s, dir)
        .select(col("doc_id"), col("source"), explode(split(col("text"), " ")).as("w"))
      // consistent-hash split (t16's rule) — a doc_id % 10 split would be
      // CONFOUNDED with the generator's source = f(doc_id % 20) layout
      // (only 4 sources would land in the held-out slice, none of them
      // with train data)
      val train = toks.filter(expr(s"${strHashExpr("CAST(doc_id AS STRING)")} % 10") < 8)
      val test = toks.filter(expr(s"${strHashExpr("CAST(doc_id AS STRING)")} % 10") >= 8)
      val tc = train.groupBy(col("w")).agg(count(lit(1)).as("c"))
      val scalars = tc.agg(sum(col("c")).as("ntr"), count(lit(1)).as("v"))
      val lp = tc.crossJoin(scalars)
        .select(col("w"),
          expr(s"${lnQ("(c + 1) / CAST(ntr + v AS DOUBLE)")}").as("lq"))
      val oov = scalars
        .select(expr(s"${lnQ("1 / CAST(ntr + v AS DOUBLE)")}").as("lq0"))
      test.groupBy(col("source"), col("w")).agg(count(lit(1)).as("cte"))
        // lp is vocab-sized (Heaps-unbounded): no hint — AQE reads the real
        // aggregate-output size at the shuffle boundary (A/B r15: flat)
        .join(lp, Seq("w"), "left")
        .crossJoin(broadcast(oov))
        .groupBy(col("source"))
        .agg(sum(col("cte")).as("n_test_tokens"),
          sum(when(col("lq").isNull, col("cte")).otherwise(0L)).as("n_oov"),
          sum(col("cte") * coalesce(col("lq"), col("lq0"))).as("sq"))
        .select(col("source"), col("n_test_tokens"), col("n_oov"),
          expr("CAST(n_oov AS DOUBLE) / n_test_tokens").as("oov_rate"),
          expr("-CAST(sq AS DOUBLE) / n_test_tokens / 10000.0D").as("cross_entropy"))
        .orderBy(col("source"))
    },
    Some(s"""WITH toks AS (
      SELECT doc_id, source, unnest(string_split(text, ' ')) AS w FROM documents),
    tc AS (SELECT w, COUNT(*) AS c FROM toks
           WHERE ${strHashSql("CAST(doc_id AS VARCHAR)")} % 10 < 8 GROUP BY w),
    sc AS (SELECT CAST(SUM(c) AS BIGINT) AS ntr, COUNT(*) AS v FROM tc),
    lp AS (SELECT w, ${lnQ("(c + 1) / CAST(ntr + v AS DOUBLE)")} AS lq
           FROM tc CROSS JOIN sc),
    oov AS (SELECT ${lnQ("1 / CAST(ntr + v AS DOUBLE)")} AS lq0 FROM sc),
    te AS (SELECT source, w, COUNT(*) AS cte FROM toks
           WHERE ${strHashSql("CAST(doc_id AS VARCHAR)")} % 10 >= 8 GROUP BY 1, 2),
    j AS (SELECT source, cte, lq, lq0
          FROM te LEFT JOIN lp USING (w) CROSS JOIN oov)
    SELECT source,
      CAST(SUM(cte) AS BIGINT) AS n_test_tokens,
      CAST(SUM(CASE WHEN lq IS NULL THEN cte ELSE 0 END) AS BIGINT) AS n_oov,
      CAST(SUM(CASE WHEN lq IS NULL THEN cte ELSE 0 END) AS DOUBLE)
        / CAST(SUM(cte) AS BIGINT) AS oov_rate,
      -CAST(SUM(cte * COALESCE(lq, lq0)) AS DOUBLE)
        / CAST(SUM(cte) AS BIGINT) / 10000.0 AS cross_entropy
    FROM j GROUP BY source ORDER BY source"""))

  // ---------------------------------------------------------------- t22
  // Generator OUTER semantics: explode_outer keeps the parent row (with a
  // NULL element) when the array is empty — the difference between "per
  // marker-token stats" and "per marker-token stats that silently drop
  // every document without a marker" (plain explode would make the
  // denominators wrong in any per-doc coverage metric). The oracle
  // replays the outer semantics by substituting [NULL] for empty lists
  // before unnest, since DuckDB's unnest is inner-only.
  private val t22 = QueryDef(
    "t22_explode_outer_coverage",
    (s, dir) =>
      docs(s, dir)
        .select(col("doc_id"), col("source"),
          expr("filter(split(text, ' '), t -> t IN ('vector', 'stream', 'hash'))").as("marks"))
        .select(col("doc_id"), col("source"), explode_outer(col("marks")).as("mark"))
        .groupBy(col("source"))
        .agg(
          countDistinct(col("doc_id")).as("n_docs"),
          count(col("mark")).as("n_marks"),
          countDistinct(when(col("mark").isNull, col("doc_id"))).as("n_docs_unmarked"))
        .orderBy(col("source")),
    Some("""WITH m AS (
      SELECT doc_id, source,
        list_filter(string_split(text, ' '), t -> t IN ('vector', 'stream', 'hash')) AS marks
      FROM documents),
    e AS (SELECT doc_id, source,
            unnest(CASE WHEN len(marks) = 0 THEN [NULL] ELSE marks END) AS mark
          FROM m)
    SELECT source,
      CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
      CAST(COUNT(mark) AS BIGINT) AS n_marks,
      CAST(COUNT(DISTINCT CASE WHEN mark IS NULL THEN doc_id END) AS BIGINT)
        AS n_docs_unmarked
    FROM e GROUP BY source ORDER BY source"""))

  // ---------------------------------------------------------------- t23
  // Dedup-adjusted corpus statistics WITHOUT materializing the deduped
  // corpus: each doc joins its exact-dup group size (fingerprint count)
  // and contributes at weight 1/group_size — post-dedup token budget,
  // effective doc count, and max duplication per source from one raw
  // scan + one fingerprint aggregate. Determinism: the per-row quotient
  // is rounded to a FIXED 8-decimal DECIMAL before summing (identical
  // IEEE division then identical rounding on both engines; the sum over
  // exact decimals is partition-order-independent), and only the final
  // total is cast back to double.
  private val t23 = QueryDef(
    "t23_dedup_weighted_stats",
    (s, dir) => {
      val fp = docs(s, dir)
        .select(col("doc_id"), col("source"),
          expr(strHashExpr("text")).as("fp"),
          size(split(col("text"), " ")).cast("long").as("n_tok"))
      val groups = fp.groupBy(col("fp")).agg(count(lit(1)).as("gsz"))
      fp.join(groups, "fp")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tok")).as("n_tokens_raw"),
          sum(expr("CAST(round(1.0D / gsz, 8) AS DECIMAL(28,8))"))
            .cast("double").as("n_docs_effective"),
          sum(expr("CAST(round(CAST(n_tok AS DOUBLE) / gsz, 8) AS DECIMAL(28,8))"))
            .cast("double").as("n_tokens_effective"),
          max(col("gsz")).as("max_group"))
        .orderBy(col("source"))
    },
    Some(s"""WITH fp AS (
      SELECT doc_id, source, ${strHashSql("text")} AS fp,
        CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
      FROM documents),
    g AS (SELECT fp, COUNT(*) AS gsz FROM fp GROUP BY fp)
    SELECT source, COUNT(*) AS n_docs,
      CAST(SUM(n_tok) AS BIGINT) AS n_tokens_raw,
      CAST(SUM(CAST(round(1.0 / gsz, 8) AS DECIMAL(28,8))) AS DOUBLE)
        AS n_docs_effective,
      CAST(SUM(CAST(round(CAST(n_tok AS DOUBLE) / gsz, 8) AS DECIMAL(28,8))) AS DOUBLE)
        AS n_tokens_effective,
      CAST(MAX(gsz) AS BIGINT) AS max_group
    FROM fp JOIN g USING (fp)
    GROUP BY source ORDER BY source"""))

  // ---------------------------------------------------------------- t24
  // Overlapping token-window chunking — the RAG/pretraining chunker:
  // every document explodes into 64-token windows at stride 48 (25%
  // overlap so no span is split across a boundary without context),
  // each chunk carrying its index, token count, and content fingerprint
  // (the id a chunk store / vector index would key on). Narrow per-row
  // explode over one split done in its OWN projection (HOF-hoisting
  // discipline); chunk volume ≈ corpus tokens / stride; no shuffle
  // until the final sort — at 100 TB chunking parallelism is exactly
  // the input partitioning, and the fingerprint enables chunk-level
  // dedup downstream (m06's CDC for text).
  private val t24 = QueryDef(
    "t24_chunk_windows",
    (s, dir) => {
      val win = 64
      val stride = 48
      docs(s, dir)
        .select(col("doc_id"), split(col("text"), " ").as("w"))
        .withColumn("n", size(col("w")).cast("long"))
        .select(col("doc_id"), col("w"),
          explode(expr(s"sequence(0L, n - 1, ${stride}L)")).as("start"))
        .select(col("doc_id"),
          expr(s"start DIV $stride").as("chunk_idx"),
          expr(s"slice(w, CAST(start + 1 AS INT), $win)").as("cw"))
        .select(col("doc_id"), col("chunk_idx"),
          size(col("cw")).cast("long").as("n_tok"),
          expr(strHashExpr("array_join(cw, ' ')")).as("chunk_hash"))
        .orderBy(col("doc_id"), col("chunk_idx"))
    },
    Some(s"""WITH w AS (
      SELECT doc_id, string_split(text, ' ') AS w,
             len(string_split(text, ' ')) AS n
      FROM documents),
    st AS (SELECT doc_id, w, unnest(range(0, n, 48)) AS start FROM w),
    ch AS (SELECT doc_id, CAST(start // 48 AS BIGINT) AS chunk_idx,
             w[CAST(start + 1 AS INT) : CAST(start + 64 AS INT)] AS cw
           FROM st)
    SELECT doc_id, chunk_idx, CAST(len(cw) AS BIGINT) AS n_tok,
      ${strHashSql("array_to_string(cw, ' ')")} AS chunk_hash
    FROM ch ORDER BY doc_id, chunk_idx"""))

  // ---------------------------------------------------------------- t25
  // Boilerplate REMOVAL applied — t20 measures duplicated segment mass,
  // this executes the C4-style filter and reports the cleaned corpus:
  // every 8-token segment appearing in ≥2 distinct docs is dropped, the
  // (<8-token) tail of each doc is always kept, and per source we emit
  // tokens before/after, docs fully emptied of chunk content, and an
  // integer checksum over the RETAINED segment hashes (exact DECIMAL sum
  // mod 1e9+7 — the oracle must retain the very same segments, not just
  // the same counts). Same two wide ops as t20 (one hash-agg on segment
  // hash + one co-partitioned join back) plus a |docs| join to re-attach
  // docs with no chunks — nothing exceeds the t20 plan at 100 TB, which
  // is the point: applying the filter costs what measuring it did.
  private val t25 = QueryDef(
    "t25_boilerplate_removal",
    (s, dir) => {
      val ck = docs(s, dir)
        .select(col("doc_id"), col("source"),
          expr("transform(split(text, ' '), t -> poly_hash(t))").as("th"))
        .select(col("doc_id"), col("source"), col("th"),
          expr(ngramExpr("th", ChunkTok)).as("ng"))
        .select(col("doc_id"), col("source"), size(col("th")).as("n_tok"),
          expr(s"""CASE WHEN size(th) >= $ChunkTok THEN
              transform(sequence(0, CAST(size(th) DIV $ChunkTok AS INT) - 1),
                i -> element_at(ng, i * $ChunkTok + 1))
            ELSE array() END""").as("chunks"))
      val docTok = ck.select(col("doc_id"), col("source"), col("n_tok"),
        size(col("chunks")).as("n_chunks"))
      val ex = ck.select(col("doc_id"), explode(col("chunks")).as("ch"))
      val global = ex.groupBy(col("ch"))
        .agg(countDistinct(col("doc_id")).as("n_docs_with"))
      val retained = ex.join(global, "ch")
        .filter(col("n_docs_with") < 2)
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_ret"),
          sum(col("ch").cast(org.apache.spark.sql.types.DecimalType(38, 0))).as("ck_sum"))
      docTok.join(retained, Seq("doc_id"), "left")
        .withColumn("n_ret", coalesce(col("n_ret"), lit(0L)))
        .withColumn("tok_after",
          col("n_tok") - lit(ChunkTok) * col("n_chunks") + lit(ChunkTok) * col("n_ret"))
        .groupBy(col("source"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(col("n_tok")).as("tok_before"),
          sum(col("tok_after")).as("tok_after"),
          sum(when(col("n_chunks") > 0 && col("n_ret") === 0, 1L).otherwise(0L))
            .as("n_emptied"),
          (sum(coalesce(col("ck_sum"), lit(0).cast(org.apache.spark.sql.types.DecimalType(38, 0))))
            % lit(HashMod)).cast("long").as("checksum"))
        .orderBy(col("source"))
    },
    Some(s"""WITH th AS (
      SELECT doc_id, source,
        list_transform(string_split(text, ' '), t -> ${strHashSql("t")}) AS th
      FROM documents),
    ngt AS (SELECT doc_id, source, th,
        ${ngramSqlDuck("th", ChunkTok)} AS ng FROM th),
    ck AS (SELECT doc_id, source, len(th) AS n_tok,
        CASE WHEN len(th) >= $ChunkTok THEN
          list_transform(generate_series(0, len(th) // $ChunkTok - 1),
            i -> ng[i * $ChunkTok + 1])
        ELSE CAST([] AS BIGINT[]) END AS chunks
      FROM ngt),
    dt AS (SELECT doc_id, source, n_tok, len(chunks) AS n_chunks FROM ck),
    ex AS (SELECT doc_id, unnest(chunks) AS ch FROM ck),
    g AS (SELECT ch, COUNT(DISTINCT doc_id) AS n_docs_with FROM ex GROUP BY ch),
    ret AS (SELECT doc_id, COUNT(*) AS n_ret,
              SUM(CAST(ch AS DECIMAL(38,0))) AS ck_sum
            FROM ex JOIN g USING (ch) WHERE n_docs_with < 2 GROUP BY doc_id),
    pd AS (SELECT dt.source, dt.n_tok, dt.n_chunks,
             COALESCE(ret.n_ret, 0) AS n_ret,
             COALESCE(ret.ck_sum, CAST(0 AS DECIMAL(38,0))) AS ck_sum,
             dt.n_tok - $ChunkTok * dt.n_chunks + $ChunkTok * COALESCE(ret.n_ret, 0) AS tok_after
           FROM dt LEFT JOIN ret USING (doc_id))
    SELECT source, COUNT(*) AS n_docs,
      CAST(SUM(n_tok) AS BIGINT) AS tok_before,
      CAST(SUM(tok_after) AS BIGINT) AS tok_after,
      CAST(SUM(CASE WHEN n_chunks > 0 AND n_ret = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_emptied,
      CAST(SUM(ck_sum) % $HashMod AS BIGINT) AS checksum
    FROM pd GROUP BY source ORDER BY source"""))

  // ---------------------------------------------------------------- t26
  // BPE merge TRAINING rounds — the iterative step t17's pair counts set
  // up but don't take: K rounds of (count adjacent unit pairs corpus-wide
  // → pick the most frequent, ties broken lexicographically → merge it
  // everywhere), i.e. the actual byte-pair-encoding trainer loop every
  // tokenizer pipeline runs. Words are represented as space-separated
  // unit strings with boundary sentinels, so a merge is a plain
  // boundary-anchored string replace — identical non-overlapping
  // left-to-right semantics on both engines (4 replace passes settle the
  // shared-separator chain a single pass can miss). Like t17, the loop
  // runs over DISTINCT words weighted by count (bounded vocabulary), so
  // each round is one explode + one hash aggregate + a 1-row driver
  // argmax (bounded control input, the q73 precedent) + a narrow map;
  // per-round localCheckpoint keeps plans constant-size (the CC
  // discipline). At 100 TB the same rounds hold: the recount is
  // map-side-combined to |pair vocab|, never corpus-sized shuffle.
  private val BpeRounds = 3

  /** The BPE trainer loop with the word key retained: [[BpeRounds]] rounds
    * of (corpus-wide adjacent-pair count → most-frequent pair, ties broken
    * lexicographically → merge it everywhere), run over DISTINCT words
    * weighted by occurrence count (bounded vocabulary). Returns the final
    * per-word table `(w, wcnt, units)` — the trained vocabulary t28
    * applies — plus the merge log `(round, merged, cnt)` t26 publishes.
    * Each round is one explode + one map-side-combined hash aggregate + a
    * 1-row driver argmax (bounded control input, the q73 precedent) + a
    * narrow map; per-round localCheckpoint keeps plans constant-size. */
  private def bpeTrain(
      s: org.apache.spark.sql.SparkSession,
      dir: String): (org.apache.spark.sql.DataFrame, Seq[(Long, String, Long)]) = {
    var words = docs(s, dir)
      .select(explode(split(col("text"), " ")).as("w"))
      .filter(col("w").rlike("^[a-z]+$") && length(col("w")) >= 2)
      .groupBy(col("w")).agg(count(lit(1)).as("wcnt"))
      .withColumn("units", concat(lit(" "),
        expr("array_join(transform(sequence(1, length(w)), i -> substring(w, i, 1)), ' ')"),
        lit(" ")))
      .select(col("w"), col("wcnt"), col("units"))
      .localCheckpoint()
    val merges = Seq.newBuilder[(Long, String, Long)]
    (1 to BpeRounds).foreach { r =>
      val top = words
        .select(col("wcnt"), expr("split(trim(units), ' ')").as("u"))
        // a word fully collapsed to one unit contributes no pairs; without
        // this guard sequence(1, size(u)-1) = sequence(1, 0) = [1, 0]
        // (negative step) and element_at(u, 0) throws
        .filter(size(col("u")) >= 2)
        .select(col("wcnt"), explode(expr(
          "transform(sequence(1, size(u) - 1), i -> concat(element_at(u, i), ' ', element_at(u, i + 1)))")).as("pair"))
        .groupBy(col("pair")).agg(sum(col("wcnt")).as("cnt"))
        .orderBy(col("cnt").desc, col("pair")).limit(1)
        .collect()(0)
      val (pair, cnt) = (top.getString(0), top.getLong(1))
      merges += ((r.toLong, pair.replace(" ", ""), cnt))
      words = words.withColumn("units", applyMerge(col("units"), pair))
        .localCheckpoint()
    }
    (words, merges.result())
  }

  /** One BPE merge applied everywhere: 4 boundary-anchored replace passes
    * (a single left-to-right pass can miss shared-separator chains like
    * `a b a b`). The search/replacement strings are Column LITERALS, not
    * SQL interpolation — a pair containing a quote (or any SQL
    * metacharacter) merges correctly instead of breaking the expression. */
  private[graft] def applyMerge(units: org.apache.spark.sql.Column, pair: String): org.apache.spark.sql.Column = {
    val from = lit(s" $pair ")
    val to = lit(s" ${pair.replace(" ", "")} ")
    (1 to 4).foldLeft(units)((c, _) => replace(c, from, to))
  }

  /** DuckDB twin of [[bpeTrain]]'s unrolled rounds: CTEs `w0, r0,
    * p1/m1/r1 … pK/mK/rK` — one pair-count + argmax + merge triple per
    * round — with `r$BpeRounds(w, wcnt, units)` the trained vocabulary
    * and each `m$k(pair, cnt)` a round's chosen merge. */
  private def bpeTrainCte: String = {
    def replace4(unitsExpr: String, m: String): String =
      (1 to 4).foldLeft(unitsExpr)((e, _) =>
        s"replace($e, ' ' || $m.pair || ' ', ' ' || replace($m.pair, ' ', '') || ' ')")
    def round(k: Int): String =
      s"""p$k AS (SELECT pair, CAST(SUM(wcnt) AS BIGINT) AS cnt FROM (
        SELECT wcnt, unnest(list_transform(range(1, len(l)), i -> l[i] || ' ' || l[i + 1])) AS pair
        FROM (SELECT wcnt, string_split(trim(units), ' ') AS l FROM r${k - 1}))
      GROUP BY pair),
    m$k AS (SELECT pair, cnt FROM p$k ORDER BY cnt DESC, pair LIMIT 1),
    r$k AS (SELECT w, wcnt, ${replace4("units", s"m$k")} AS units
      FROM r${k - 1} CROSS JOIN m$k)"""
    s"""w0 AS (
      SELECT w, COUNT(*) AS wcnt FROM (
        SELECT unnest(string_split(text, ' ')) AS w FROM documents)
      WHERE regexp_matches(w, '^[a-z]+$$') AND len(w) >= 2 GROUP BY w),
    r0 AS (SELECT w, wcnt,
        ' ' || array_to_string(list_transform(range(1, len(w) + 1), i -> substr(w, i, 1)), ' ') || ' ' AS units
      FROM w0),
    ${(1 to BpeRounds).map(round).mkString(",\n    ")}"""
  }

  private val t26 = QueryDef(
    "t26_bpe_merge_rounds",
    (s, dir) => {
      val (_, merges) = bpeTrain(s, dir)
      s.createDataFrame(merges).toDF("round", "merged", "cnt")
        .orderBy(col("round"))
    },
    Some(s"""WITH $bpeTrainCte
    ${(1 to BpeRounds).map(k =>
        s"SELECT CAST($k AS BIGINT) AS round, replace(pair, ' ', '') AS merged, cnt FROM m$k")
        .mkString("\n    UNION ALL ")}
    ORDER BY round"""))

  // ---------------------------------------------------------------- t27
  // Per-source document CAP — the "downsample over-represented sources to
  // k docs" step of corpus mixing (t16 computes the target weights; this
  // is the operator that ENFORCES a hard per-source ceiling). Selection
  // is a seeded deterministic hash order (t18's discipline): rank within
  // source by (poly_hash(seed:doc_id), doc_id), keep rank ≤ k — a
  // reproducible uniform subsample, not head-of-table bias. The window
  // partitions by source (parallel across sources at any scale). This
  // reporting shape deliberately scans ALL rows (it also counts what was
  // dropped); the APPLY variant — filter rnk ≤ k — additionally plans
  // under WindowGroupLimit (q60's pin), shuffling only k rows per source.
  // Output per source: docs in, docs kept, kept char mass, and the exact
  // kept-id checksum (the d17 pin: the oracle must keep the SAME docs).
  private val CapPerSource = 15
  private val CapSeed = 20260814L
  private val t27 = QueryDef(
    "t27_source_cap",
    (s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("source")).orderBy(col("h"), col("doc_id"))
      docs(s, dir)
        .select(col("doc_id"), col("source"), col("n_chars"))
        .withColumn("h", expr(strHashExpr(s"concat('$CapSeed:', CAST(doc_id AS STRING))")))
        .withColumn("rnk", row_number().over(w))
        .withColumn("kept", (col("rnk") <= CapPerSource).cast("long"))
        .groupBy(col("source"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(col("kept")).as("n_kept"),
          sum(when(col("kept") === 1L, col("n_chars")).otherwise(0L)).as("kept_chars"),
          (sum(when(col("kept") === 1L, col("doc_id")).otherwise(0L)
            .cast(org.apache.spark.sql.types.DecimalType(38, 0))) % lit(HashMod))
            .cast("long").as("kept_id_checksum"))
        .orderBy(col("source"))
    },
    Some(s"""WITH r AS (
      SELECT doc_id, source, n_chars,
        ROW_NUMBER() OVER (PARTITION BY source ORDER BY
          ${strHashSql(s"concat('$CapSeed:', CAST(doc_id AS VARCHAR))")}, doc_id) AS rnk
      FROM documents)
    SELECT source, COUNT(*) AS n_docs,
      CAST(SUM(CASE WHEN rnk <= $CapPerSource THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
      CAST(SUM(CASE WHEN rnk <= $CapPerSource THEN n_chars ELSE 0 END) AS BIGINT) AS kept_chars,
      CAST(SUM(CASE WHEN rnk <= $CapPerSource THEN CAST(doc_id AS DECIMAL(38,0))
               ELSE CAST(0 AS DECIMAL(38,0)) END) % $HashMod AS BIGINT) AS kept_id_checksum
    FROM r GROUP BY source ORDER BY source"""))

  // ---------------------------------------------------------------- t28
  // BPE ENCODE — the production half of t26: apply the trained merge
  // vocabulary to the whole corpus and publish the per-source tokenizer
  // manifest (word instances, input chars, output tokens, distinct token
  // types) every training-data build reports before packing. Encoding is
  // vocabulary-bounded: the trainer's final per-word unit strings join
  // (broadcast — |distinct words| rows, never corpus-sized) onto the
  // per-(source, word) counts, so the corpus is scanned ONCE and no word
  // instance re-tokenizes. The chars→tokens contraction ships as exact
  // integer numerator/denominator (t13's discipline), not a float ratio.
  // At 100 TB the same plan holds: the (source, word) aggregate is
  // map-side-combined to |vocab| × |sources|, the vocabulary join
  // broadcasts, and the token-type explode runs over |vocab × sources|
  // joined rows, not token instances.
  private val t28 = QueryDef(
    "t28_bpe_encode",
    (s, dir) => {
      val (words, _) = bpeTrain(s, dir)
      val enc = words
        .select(col("w"), expr("split(trim(units), ' ')").as("u"))
        .select(col("w"), size(col("u")).cast("long").as("ntok"), col("u"))
      val perSrc = docs(s, dir)
        .select(col("source"), explode(split(col("text"), " ")).as("w"))
        .filter(col("w").rlike("^[a-z]+$") && length(col("w")) >= 2)
        .groupBy(col("source"), col("w")).agg(count(lit(1)).as("cnt"))
      // reused by both aggregates below; |vocab × sources| rows, so the
      // checkpoint is bounded and saves re-running the scan + join twice
      // enc is trained-vocab-sized (Heaps-unbounded): no hint — AQE
      // decides from the real size (A/B r15: flat)
      val joined = perSrc.join(enc, "w").localCheckpoint()
      val stats = joined.groupBy(col("source")).agg(
        sum(col("cnt")).as("n_words"),
        sum(col("cnt") * length(col("w")).cast("long")).as("n_chars"),
        sum(col("cnt") * col("ntok")).as("n_tokens"))
      val types = joined
        .select(col("source"), explode(col("u")).as("tok"))
        .groupBy(col("source"))
        .agg(countDistinct(col("tok")).as("n_token_types"))
      stats.join(types, "source").orderBy(col("source"))
    },
    Some(s"""WITH $bpeTrainCte,
    enc AS (SELECT w, string_split(trim(units), ' ') AS u FROM r$BpeRounds),
    ws AS (SELECT source, w, COUNT(*) AS cnt FROM (
        SELECT source, unnest(string_split(text, ' ')) AS w FROM documents)
      WHERE regexp_matches(w, '^[a-z]+$$') AND len(w) >= 2 GROUP BY source, w),
    j AS (SELECT ws.source, ws.w, ws.cnt, len(enc.u) AS ntok, enc.u AS u
      FROM ws JOIN enc USING (w)),
    st AS (SELECT source,
        CAST(SUM(cnt) AS BIGINT) AS n_words,
        CAST(SUM(cnt * len(w)) AS BIGINT) AS n_chars,
        CAST(SUM(cnt * ntok) AS BIGINT) AS n_tokens
      FROM j GROUP BY source),
    ty AS (SELECT source, COUNT(DISTINCT tok) AS n_token_types FROM (
        SELECT source, unnest(u) AS tok FROM j) GROUP BY source)
    SELECT st.source, n_words, n_chars, n_tokens, n_token_types
    FROM st JOIN ty USING (source) ORDER BY source"""))

  // ---------------------------------------------------------------- t29
  // OVERLAPPING sliding-window chunking — the RAG / long-context ingest
  // shape t15's concat-and-chunk packing deliberately avoids: each doc is
  // cut into fixed-width token windows advanced by a stride smaller than
  // the width, so consecutive chunks share an overlap margin and no
  // boundary sentence is lost. Chunk starts are a per-row sequence with
  // step (1, 1+S, 1+2S, … ≤ ntok); the tail chunk is allowed short. Each
  // chunk carries exact provenance — (doc_id, start, token count, content
  // hash) — and the published manifest per source pins that provenance
  // with the d17-style checksum: the oracle must produce the SAME chunks
  // byte-for-byte, not merely as many. One scan, one explode, one
  // map-side-combined aggregate — embarrassingly parallel at any scale
  // (no joins, no window); the hash is the native codegen'd poly_hash.
  private val ChunkW = 32
  private val ChunkS = 24
  private val t29 = QueryDef(
    "t29_chunk_overlap",
    (s, dir) => {
      val chunkStruct = s"""transform(sequence(1, n, $ChunkS), st -> named_struct(
        'ctok', CAST(least(st + ${ChunkW - 1}, n) - st + 1 AS BIGINT),
        'chash', ${strHashExpr(s"array_join(slice(w, st, $ChunkW), ' ')")}))"""
      docs(s, dir)
        .select(col("doc_id"), col("source"), split(col("text"), " ").as("w"))
        .withColumn("n", size(col("w")))
        .select(col("doc_id"), col("source"), explode(expr(chunkStruct)).as("c"))
        .groupBy(col("source"))
        .agg(
          countDistinct(col("doc_id")).as("n_docs"),
          count(lit(1)).as("n_chunks"),
          sum(col("c.ctok")).as("chunk_tokens"),
          (sum(col("c.chash").cast(org.apache.spark.sql.types.DecimalType(38, 0)))
            % lit(HashMod)).cast("long").as("chunk_checksum"))
        .orderBy(col("source"))
    },
    Some(s"""WITH d AS (
      SELECT doc_id, source, string_split(text, ' ') AS w FROM documents),
    c AS (SELECT doc_id, source, len(w) AS n, w,
        unnest(range(1, len(w) + 1, $ChunkS)) AS st FROM d),
    ch AS (SELECT doc_id, source,
        least(st + ${ChunkW - 1}, n) - st + 1 AS ctok,
        ${strHashSql(s"array_to_string(list_slice(w, st, least(st + ${ChunkW - 1}, n)), ' ')")} AS chash
      FROM c)
    SELECT source, COUNT(DISTINCT doc_id) AS n_docs, COUNT(*) AS n_chunks,
      CAST(SUM(ctok) AS BIGINT) AS chunk_tokens,
      CAST(SUM(CAST(chash AS DECIMAL(38,0))) % $HashMod AS BIGINT) AS chunk_checksum
    FROM ch GROUP BY source ORDER BY source"""))

  // ---------------------------------------------------------------- t30
  // BIGRAM LM cross-entropy — the SEQUENCE-aware upgrade of t21's bag-of-
  // words shift detector: an add-one-smoothed bigram conditional
  // p(w2|w1) = (c12 + 1) / (c1 + V) fit on the 80% hash split, scored on
  // the held-out 20% per source. A source whose BIGRAM entropy spikes
  // while its unigram entropy (t21) holds is shuffled/templated text —
  // word order broke, word choice didn't; exactly the machine-generated
  // or boilerplate-stitched class unigram filters miss. Properness:
  // c1 = Σ_w2 c12 (bigram-INSTANCE context counts), so the conditional
  // sums to 1 over the V-word vocabulary; unseen contexts fall out of
  // the same formula (c12 = c1 = 0 → 1/V), no special backoff branch.
  // Determinism is t21's discipline: per-TYPE log probs quantized to
  // exact 1e-4 integer units, per-source sums are count×unit integer
  // products, one double division at the end. Scale shape: bigram and
  // context counts are keyed shuffles on (w1, w2)/(w1) with map-side
  // combine (the only token-volume work); the held-out join keys on the
  // same columns — co-partitioned, AQE broadcasts if the trained tables
  // fit; V and the OOV unit are broadcast scalars.
  private val t30 = QueryDef(
    "t30_bigram_lm_shift",
    (s, dir) => {
      val bi = docs(s, dir)
        .select(col("doc_id"), col("source"), split(col("text"), " ").as("ws"))
        .filter(size(col("ws")) >= 2)
        .select(col("doc_id"), col("source"), explode(expr(
          """transform(sequence(1, size(ws) - 1),
             i -> struct(element_at(ws, i) AS w1, element_at(ws, i + 1) AS w2))"""))
          .as("b"))
        .select(col("doc_id"), col("source"), col("b.w1"), col("b.w2"))
      val isTrain = expr(s"${strHashExpr("CAST(doc_id AS STRING)")} % 10") < 8
      val train = bi.filter(isTrain)
      val test = bi.filter(!isTrain)
      val bc = train.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c12"))
      val cc = train.groupBy(col("w1")).agg(count(lit(1)).as("c1"))
      // V = the w2 domain: distinct train tokens (unigram vocabulary)
      val scalars = docs(s, dir)
        .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
        .filter(isTrain)
        .agg(countDistinct(col("w")).as("v"))
      test.groupBy(col("source"), col("w1"), col("w2")).agg(count(lit(1)).as("cte"))
        .join(bc, Seq("w1", "w2"), "left")
        .join(cc, Seq("w1"), "left")
        .crossJoin(broadcast(scalars))
        .select(col("source"), col("cte"),
          when(col("c1").isNull, 1L).otherwise(0L).as("ctx_oov"),
          expr(s"${lnQ("(coalesce(c12, 0L) + 1) / CAST(coalesce(c1, 0L) + v AS DOUBLE)")}").as("lq"))
        .groupBy(col("source"))
        .agg(sum(col("cte")).as("n_test_bigrams"),
          sum(col("cte") * col("ctx_oov")).as("n_ctx_oov"),
          sum(col("cte") * col("lq")).as("sq"))
        .select(col("source"), col("n_test_bigrams"), col("n_ctx_oov"),
          expr("CAST(n_ctx_oov AS DOUBLE) / n_test_bigrams").as("ctx_oov_rate"),
          expr("-CAST(sq AS DOUBLE) / n_test_bigrams / 10000.0D").as("cross_entropy"))
        .orderBy(col("source"))
    },
    Some(s"""WITH $lmBigramCte,
    cc AS (SELECT w1, COUNT(*) AS c1 FROM bi
           WHERE ${strHashSql("CAST(doc_id AS VARCHAR)")} % 10 < 8 GROUP BY 1),
    sc AS (SELECT COUNT(DISTINCT w) AS v FROM (
             SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents)
           WHERE ${strHashSql("CAST(doc_id AS VARCHAR)")} % 10 < 8),
    te AS (SELECT source, w1, w2, COUNT(*) AS cte FROM bi
           WHERE ${strHashSql("CAST(doc_id AS VARCHAR)")} % 10 >= 8 GROUP BY 1, 2, 3),
    j AS (SELECT source, cte,
            CASE WHEN cc.c1 IS NULL THEN 1 ELSE 0 END AS ctx_oov,
            ${lnQ("(COALESCE(bc.c12, 0) + 1) / CAST(COALESCE(cc.c1, 0) + sc.v AS DOUBLE)")} AS lq
          FROM te LEFT JOIN bc USING (w1, w2) LEFT JOIN cc USING (w1)
          CROSS JOIN sc)
    SELECT source,
      CAST(SUM(cte) AS BIGINT) AS n_test_bigrams,
      CAST(SUM(cte * ctx_oov) AS BIGINT) AS n_ctx_oov,
      CAST(SUM(cte * ctx_oov) AS DOUBLE) / CAST(SUM(cte) AS BIGINT)
        AS ctx_oov_rate,
      -CAST(SUM(cte * lq) AS DOUBLE) / CAST(SUM(cte) AS BIGINT) / 10000.0
        AS cross_entropy
    FROM j GROUP BY source ORDER BY source"""))

  // ---------------------------------------------------------------- t31
  // HEAPS'-LAW VOCABULARY GROWTH — the companion diagnostic to t19's
  // Zipf fit: V(N) ≈ K·N^β, the rate NEW word types keep appearing as a
  // source grows (natural text sits β ≈ 0.4–0.6; a templated source
  // saturates early — β collapses — while an OCR/noise source never
  // saturates — β near 1). Critically this is computable WITHOUT any
  // order-sensitive corpus scan: a type's entry point is min(doc_id)
  // over its occurrences (one vocab-bounded aggregate), per-doc token
  // counts are one aggregate, and the cumulative (N_d, V_d) curve is a
  // per-source running sum over the |docs|-bounded aggregate — never the
  // token stream. Fit is t19's discipline verbatim: each log rounded to
  // an exact 1e-4 DECIMAL unit, moment sums exact int64, one scalar IEEE
  // division (quantization scale cancels in the slope).
  private val t31 = QueryDef(
    "t31_heaps_law",
    (s, dir) => {
      val tok = docs(s, dir)
        .select(col("source"), col("doc_id"), explode(split(col("text"), " ")).as("w"))
      val perDoc = tok.groupBy(col("source"), col("doc_id"))
        .agg(count(lit(1)).as("ntok"))
      val entries = tok.groupBy(col("source"), col("w"))
        .agg(min(col("doc_id")).as("doc_id"))
        .groupBy(col("source"), col("doc_id"))
        .agg(count(lit(1)).as("ntypes"))
      val cw = org.apache.spark.sql.expressions.Window
        .partitionBy(col("source")).orderBy(col("doc_id"))
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.currentRow)
      perDoc.join(entries, Seq("source", "doc_id"), "left")
        .withColumn("nn", sum(col("ntok")).over(cw))
        .withColumn("vv", sum(coalesce(col("ntypes"), lit(0L))).over(cw))
        .select(col("source"), col("nn"), col("vv"),
          expr(lnQ("nn")).as("lx"), expr(lnQ("vv")).as("ly"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          max(col("nn")).as("total_tokens"), max(col("vv")).as("vocab"),
          sum(col("lx")).as("sx"), sum(col("ly")).as("sy"),
          sum(expr("lx * lx")).as("sxx"), sum(expr("lx * ly")).as("sxy"))
        .select(col("source"), col("n_docs"), col("total_tokens"), col("vocab"),
          // nullif: a single-doc source (or identical cumulative points)
          // zeroes the variance denominator — NULL beats an engine-
          // dependent NaN/Inf under the cross-engine hash. The operands
          // are exact int64s, so "zero" is the same zero on both engines.
          expr("""(CAST(n_docs AS DOUBLE) * CAST(sxy AS DOUBLE)
                   - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                  / nullif(CAST(n_docs AS DOUBLE) * CAST(sxx AS DOUBLE)
                     - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE), 0.0D)""").as("heaps_beta"))
        .orderBy(col("source"))
    },
    Some(s"""WITH tok AS (
      SELECT source, doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
    pd AS (SELECT source, doc_id, COUNT(*) AS ntok FROM tok GROUP BY 1, 2),
    en AS (SELECT source, doc_id, COUNT(*) AS ntypes FROM (
             SELECT source, w, MIN(doc_id) AS doc_id FROM tok GROUP BY 1, 2)
           GROUP BY 1, 2),
    cum AS (SELECT pd.source,
              SUM(pd.ntok) OVER win AS nn,
              SUM(COALESCE(en.ntypes, 0)) OVER win AS vv
            FROM pd LEFT JOIN en USING (source, doc_id)
            WINDOW win AS (PARTITION BY pd.source ORDER BY pd.doc_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
    q AS (SELECT source, nn, vv, ${lnQ("nn")} AS lx, ${lnQ("vv")} AS ly FROM cum),
    m AS (SELECT source, COUNT(*) AS n_docs,
            CAST(MAX(nn) AS BIGINT) AS total_tokens,
            CAST(MAX(vv) AS BIGINT) AS vocab,
            CAST(SUM(lx) AS BIGINT) AS sx, CAST(SUM(ly) AS BIGINT) AS sy,
            CAST(SUM(lx * lx) AS BIGINT) AS sxx,
            CAST(SUM(lx * ly) AS BIGINT) AS sxy
          FROM q GROUP BY source)
    SELECT source, n_docs, total_tokens, vocab,
      (CAST(n_docs AS DOUBLE) * CAST(sxy AS DOUBLE)
       - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
      / nullif(CAST(n_docs AS DOUBLE) * CAST(sxx AS DOUBLE)
         - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE), 0.0) AS heaps_beta
    FROM m ORDER BY source"""))

  // ---------------------------------------------------------------- t32
  // LEARNED QUALITY-CLASSIFIER INFERENCE — the fastText-style linear
  // filter every curation pipeline runs between heuristics (t02) and
  // training: score = w·x + b over a per-doc feature vector, keep above
  // threshold. The "trained" weights are fixed integer coefficients;
  // what the operator demonstrates is the INFERENCE shape at scale —
  // every feature and the dot product are codegen'd per-row expressions
  // (length/split/filter/distinct + integer ppm ratios; no UDF, no
  // shuffle, no model service), so at 100 TB this is one scan at input
  // parallelism with only the per-source aggregate shuffling. Arithmetic
  // is integer-exact end-to-end (ratios as ppm via integral division, an
  // int64 score) so both engines keep the SAME docs — classification
  // parity is bitwise, pinned by the kept-id checksum. Features: capped
  // length, stopword ratio (+: natural prose), punctuation-excess ratio
  // (−: markup/boilerplate; zero in this synthetic corpus but the
  // arithmetic is still oracle-checked), type-token ratio (+: repeated-
  // text docs score low — the quality signal near-dup spans destroy),
  // and |mean-word-length − 6| deviation (−: gibberish on either side).
  private val QcThreshold = 200000L

  private val t32 = QueryDef(
    "t32_quality_classifier",
    (s, dir) => {
      val stop = "'the','a','of','and','to','in','is','it','for','on'"
      val feats = docs(s, dir)
        .select(col("doc_id"), col("source"),
          length(col("text")).cast("long").as("nc"),
          split(col("text"), " ").as("w"),
          (length(col("text")) -
            length(regexp_replace(col("text"), "[.,;:!?'\"()-]", "")))
            .cast("long").as("npunct"))
        .filter(col("nc") > 0)
        .select(col("doc_id"), col("source"), col("nc"), col("npunct"),
          size(col("w")).cast("long").as("nt"),
          size(array_distinct(col("w"))).cast("long").as("nu"),
          expr(s"CAST(size(filter(w, t -> t IN ($stop))) AS BIGINT)").as("nstop"))
        .filter(col("nt") > 0)
        .withColumn("score",
          expr("""200 * least(nc, 2000) + 3 * (nstop * 1000000 DIV nt)
                  - 4 * (npunct * 1000000 DIV nc)
                  + (nu * 1000000 DIV nt) DIV 2
                  - abs(nc * 1000000 DIV nt - 6000000) DIV 2"""))
        .withColumn("keep", (col("score") >= QcThreshold).cast("long"))
      feats
        .groupBy(col("source"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(col("keep")).as("n_keep"),
          sum(col("score")).as("sum_score"),
          max(col("score")).as("max_score"),
          (sum(when(col("keep") === 1L, (col("doc_id") * lit(1000003L)) % lit(HashMod))
            .otherwise(lit(0L))) % lit(HashMod)).as("keep_checksum"))
        .orderBy(col("source"))
    },
    Some(s"""WITH f AS (
      SELECT doc_id, source,
        CAST(length(text) AS BIGINT) AS nc,
        CAST(len(string_split(text, ' ')) AS BIGINT) AS nt,
        CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS nu,
        CAST(len(list_filter(string_split(text, ' '),
          t -> t IN ('the','a','of','and','to','in','is','it','for','on'))) AS BIGINT) AS nstop,
        CAST(length(text) - length(regexp_replace(text, '[.,;:!?''"()-]', '', 'g')) AS BIGINT) AS npunct
      FROM documents WHERE length(text) > 0),
    sc AS (SELECT doc_id, source,
        200 * least(nc, 2000) + 3 * (nstop * 1000000 // nt)
        - 4 * (npunct * 1000000 // nc)
        + (nu * 1000000 // nt) // 2
        - abs(nc * 1000000 // nt - 6000000) // 2 AS score
      FROM f WHERE nt > 0)
    SELECT source, COUNT(*) AS n_docs,
      CAST(SUM(CASE WHEN score >= $QcThreshold THEN 1 ELSE 0 END) AS BIGINT) AS n_keep,
      CAST(SUM(score) AS BIGINT) AS sum_score,
      CAST(MAX(score) AS BIGINT) AS max_score,
      CAST(SUM(CASE WHEN score >= $QcThreshold
               THEN (doc_id * 1000003) % $HashMod ELSE 0 END) % $HashMod AS BIGINT)
        AS keep_checksum
    FROM sc GROUP BY source ORDER BY source"""))

  // ---------------------------------------------------------------- t33
  // PMI COLLOCATIONS — pointwise mutual information over adjacent word
  // pairs, the classic collocation miner (phrase detection before
  // word2vec-style phrase merging; also the association metric behind
  // "these tokens belong together" vocabulary induction). PMI(w1,w2) =
  // ln(c12·N / (c1·c2)) with c1/c2 the pair-marginal counts and N the
  // bigram mass — computed in t19's quantized-log integer units so the
  // additive form lnQ(c12)+lnQ(N)−lnQ(c1)−lnQ(c2) is exact int64 math on
  // both engines. Min support c12 ≥ 5 filters the unstable low-count
  // tail BEFORE the joins (but marginals are computed over the full pair
  // table — support-filtering the marginals would bias p(w)). Scale: the
  // bigram count is the only token-volume shuffle (map-side combine →
  // |pair vocab| rows); marginals and N aggregate the vocab table, the
  // joins are vocab-sized, and the top-20 is a TakeOrdered, never a full
  // sort. Deterministic ties on (pmi, w1, w2).
  private val t33 = QueryDef(
    "t33_pmi_collocations",
    (s, dir) => {
      val pairs = docsNarrow(s, dir)
        .select(split(col("text"), " ").as("w"))
        .filter(size(col("w")) >= 2)
        .select(explode(expr(
          """transform(sequence(1, size(w) - 1),
             i -> struct(element_at(w, i) AS w1, element_at(w, i + 1) AS w2))""")).as("p"))
        .select(col("p.w1"), col("p.w2"))
      // the alphabetic filter runs on the DISTINCT pair table, not the
      // corpus pair stream: invalid pairs are distinct keys, so filtering
      // after the count leaves valid-pair counts and marginals identical
      // while the regex cost drops from O(corpus pairs) to O(pair vocab)
      // (A/B r14 at sf0.1: 3.2 s → 2.9 s; the remaining cost is the
      // pair explode itself, which any formulation pays)
      val c12 = pairs.groupBy(col("w1"), col("w2"))
        .agg(count(lit(1)).as("n12"))
        .filter(col("w1").rlike("^[a-z]+$") && col("w2").rlike("^[a-z]+$"))
        .cache()
      val c1 = c12.groupBy(col("w1")).agg(sum(col("n12")).as("n1"))
      val c2 = c12.groupBy(col("w2")).agg(sum(col("n12")).as("n2"))
      val nn = c12.agg(sum(col("n12")).as("n"))
      val out = c12.filter(col("n12") >= 5)
        .join(c1, "w1").join(c2, "w2")
        .crossJoin(broadcast(nn))
        .select(col("w1"), col("w2"), col("n12"),
          (expr(lnQ("n12")) + expr(lnQ("n"))
            - expr(lnQ("n1")) - expr(lnQ("n2"))).as("pmi_q"))
        .orderBy(col("pmi_q").desc, col("w1"), col("w2"))
        .limit(20)
        .localCheckpoint()
      c12.unpersist()
      out
    },
    Some(s"""WITH tok AS (
      SELECT doc_id, string_split(text, ' ') AS w FROM documents),
    bg AS (SELECT unnest(list_transform(range(1, len(w)),
             i -> {'w1': w[i], 'w2': w[i+1]}), recursive := true) FROM tok),
    fb AS (SELECT w1, w2 FROM bg
           WHERE regexp_matches(w1, '^[a-z]+$$') AND regexp_matches(w2, '^[a-z]+$$')),
    c12 AS (SELECT w1, w2, COUNT(*) AS n12 FROM fb GROUP BY 1, 2),
    c1 AS (SELECT w1, CAST(SUM(n12) AS BIGINT) AS n1 FROM c12 GROUP BY 1),
    c2 AS (SELECT w2, CAST(SUM(n12) AS BIGINT) AS n2 FROM c12 GROUP BY 1),
    nn AS (SELECT CAST(SUM(n12) AS BIGINT) AS n FROM c12),
    p AS (SELECT c12.w1, c12.w2, n12,
            ${lnQ("n12")} + ${lnQ("n")} - ${lnQ("n1")} - ${lnQ("n2")} AS pmi_q
          FROM c12 JOIN c1 USING (w1) JOIN c2 USING (w2), nn
          WHERE n12 >= 5)
    SELECT w1, w2, n12, pmi_q FROM p
    ORDER BY pmi_q DESC, w1, w2 LIMIT 20"""))

  // ---------------------------------------------------------------- t34
  // TERM BURSTINESS — the variance-to-mean dispersion index D of per-doc
  // occurrence counts for the corpus's top-30 terms, over ALL docs
  // (zero-count docs included): D ≈ 1 is Poisson (function-word-like
  // even spread), D ≫ 1 is bursty topical clumping — the diagnostic
  // behind data-driven stopword discovery and tf saturation choices
  // (complements t11's concentration and t19's Zipf shape, which see
  // only corpus totals, not per-doc spread). Zeros never materialize:
  // with N known, D = (N·Σc² − (Σc)²)/(N·Σc) from moments over only the
  // docs containing the term — Spark computes in DECIMAL(38,0) (capped,
  // stays decimal), the oracle in HUGEINT: DuckDB's decimal width rules
  // would promote the ×10⁶ product to DOUBLE and drift the floor by one
  // ulp (caught by the r14 gate on first run). One token aggregate for totals, a
  // 30-row broadcast restricts the per-doc count to the top terms.
  private val t34 = QueryDef(
    "t34_term_burstiness",
    (s, dir) => {
      val dec = org.apache.spark.sql.types.DecimalType(38, 0)
      val tok = docsNarrow(s, dir)
        .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      val top = tok.groupBy(col("w")).agg(count(lit(1)).as("total"))
        .orderBy(col("total").desc, col("w")).limit(30)
        .select(col("w"))
      val nn = docsNarrow(s, dir).agg(count(lit(1)).as("n"))
      tok.join(broadcast(top), "w") // 30-row build side — bounded by policy
        .groupBy(col("w"), col("doc_id")).agg(count(lit(1)).as("c"))
        .groupBy(col("w"))
        .agg(sum(col("c").cast(dec)).as("sc"),
          sum(col("c").cast(dec) * col("c")).as("scc"),
          count(lit(1)).as("n_docs"))
        .crossJoin(broadcast(nn))
        .select(col("w"), col("sc").cast("long").as("total"), col("n_docs"),
          expr("""CAST(CAST((n * scc - sc * sc) * 1000000 AS DECIMAL(38,0))
                  DIV CAST(n * sc AS DECIMAL(38,0)) AS BIGINT)""").as("disp_ppm"))
        .orderBy(col("disp_ppm").desc, col("w"))
        .limit(30)
    },
    Some("""WITH tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
    top AS (SELECT w, COUNT(*) AS total FROM tok GROUP BY 1
            ORDER BY total DESC, w LIMIT 30),
    pd AS (SELECT t.w, tok.doc_id, COUNT(*) AS c
           FROM tok JOIN top t USING (w) GROUP BY 1, 2),
    nn AS (SELECT COUNT(*) AS n FROM documents),
    m AS (SELECT w, CAST(SUM(c) AS BIGINT) AS sc,
            CAST(SUM(CAST(c AS HUGEINT) * c) AS BIGINT) AS scc,
            COUNT(*) AS n_docs
          FROM pd GROUP BY 1)
    SELECT m.w, m.sc AS total, CAST(m.n_docs AS BIGINT) AS n_docs,
      CAST((CAST(nn.n AS HUGEINT) * m.scc - CAST(m.sc AS HUGEINT) * m.sc) * 1000000
           // (CAST(nn.n AS HUGEINT) * m.sc) AS BIGINT) AS disp_ppm
    FROM m, nn ORDER BY disp_ppm DESC, m.w LIMIT 30"""))

  // ---------------------------------------------------------------- t35
  // CCNet PERPLEXITY BUCKETS — the per-DOCUMENT LM-quality split CCNet
  // runs after dedup: train a per-language reference LM on a trusted
  // slice (here the deterministic doc_id % 7 stand-in for the wiki
  // reference), score every document's mean per-token negative log
  // likelihood under ITS language's model, and bucket head/middle/tail
  // relative to the reference slice's own token-weighted mean NLL (head:
  // ≤ ref; middle: ≤ 1.02×ref via the 50·score ≤ 51·ref integer cross-
  // multiply; tail: the rest — unigram NLL spread is NARROW, measured
  // +0.7% median / +8.9% max excess over ref at sf0.01, so a percent-
  // scale margin is the meaningful knob where a 1.25× one never fires).
  // This is the missing per-doc granularity
  // between t09 (corpus-mean token logprob) and t30 (per-SOURCE bigram
  // cross-entropy): curation keeps/weights whole documents, so the score
  // has to land on the document. Add-one smoothing keeps unseen tokens
  // in the same additive form (c = 0 → lnQ(1) = 0), and every step after
  // the one rounded lnQ is exact int64, so buckets — threshold
  // comparisons included — are engine-identical. Scale: the per-doc
  // (lang, w, n) pre-aggregation shrinks the LM join from token volume
  // to per-doc vocab volume, the LM join is a co-partitioned (lang, w)
  // equi-join (vocab-sized right side, Heaps-unbounded → no broadcast
  // hint, t30's rule), and the per-lang stats/reference rows are
  // domain-bounded broadcasts.
  private val t35 = QueryDef(
    "t35_ccnet_ppl_buckets",
    (s, dir) => {
      val toks = docsNarrow(s, dir)
        .select(col("doc_id"), col("lang"), explode(split(col("text"), " ")).as("w"))
      val lm = toks.filter(col("doc_id") % 7 === 0)
        .groupBy(col("lang"), col("w")).agg(count(lit(1)).as("c"))
      val stats = lm.groupBy(col("lang"))
        .agg(sum(col("c")).as("t"), count(lit(1)).as("v"))
      val dtok = toks.groupBy(col("doc_id"), col("lang"), col("w"))
        .agg(count(lit(1)).as("n"))
      val ds = dtok
        .join(lm, Seq("lang", "w"), "left")
        .join(broadcast(stats), Seq("lang")) // bounded: one row per language
        .select(col("doc_id"), col("lang"), col("n"),
          (col("n") * (expr(lnQ("t + v")) - expr(lnQ("coalesce(c, 0) + 1"))))
            .as("nllt"))
        .groupBy(col("doc_id"), col("lang"))
        .agg(sum(col("nllt")).as("nll"), sum(col("n")).as("ntok"))
        .withColumn("score_q", expr("nll DIV ntok"))
      val ref = ds.filter(col("doc_id") % 7 === 0)
        .groupBy(col("lang"))
        .agg(expr("sum(nll) DIV sum(ntok)").as("refq"))
      ds.join(broadcast(ref), Seq("lang")) // bounded: one row per language
        .withColumn("bucket",
          when(col("score_q") <= col("refq"), "head")
            .when(col("score_q") * 50 <= col("refq") * 51, "middle")
            .otherwise("tail"))
        .groupBy(col("lang"), col("bucket"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("ntok")).as("n_tokens"),
          expr("sum(nll) DIV sum(ntok)").as("mean_score_q"),
          (sum(col("doc_id") % HashMod) % HashMod).as("doc_checksum"))
        .orderBy(col("lang"), col("bucket"))
    },
    Some(s"""WITH tok AS (
      SELECT doc_id, lang, unnest(string_split(text, ' ')) AS w FROM documents),
    lm AS (SELECT lang, w, COUNT(*) AS c FROM tok
           WHERE doc_id % 7 = 0 GROUP BY 1, 2),
    st AS (SELECT lang, CAST(SUM(c) AS BIGINT) AS t, COUNT(*) AS v
           FROM lm GROUP BY 1),
    dt AS (SELECT doc_id, lang, w, COUNT(*) AS n FROM tok GROUP BY 1, 2, 3),
    sc AS (SELECT dt.doc_id, dt.lang,
             CAST(SUM(dt.n * (${lnQ("st.t + st.v")}
               - ${lnQ("COALESCE(lm.c, 0) + 1")})) AS BIGINT) AS nll,
             CAST(SUM(dt.n) AS BIGINT) AS ntok
           FROM dt
           LEFT JOIN lm ON lm.lang = dt.lang AND lm.w = dt.w
           JOIN st ON st.lang = dt.lang
           GROUP BY 1, 2),
    ds AS (SELECT *, nll // ntok AS score_q FROM sc),
    rf AS (SELECT lang,
             CAST(SUM(nll) AS BIGINT) // CAST(SUM(ntok) AS BIGINT) AS refq
           FROM ds WHERE doc_id % 7 = 0 GROUP BY 1),
    bk AS (SELECT ds.lang, ds.doc_id, ds.nll, ds.ntok,
             CASE WHEN score_q <= refq THEN 'head'
                  WHEN score_q * 50 <= refq * 51 THEN 'middle'
                  ELSE 'tail' END AS bucket
           FROM ds JOIN rf ON rf.lang = ds.lang)
    SELECT lang, bucket, COUNT(*) AS n_docs,
      CAST(SUM(ntok) AS BIGINT) AS n_tokens,
      CAST(CAST(SUM(nll) AS BIGINT) // CAST(SUM(ntok) AS BIGINT) AS BIGINT)
        AS mean_score_q,
      CAST(SUM(doc_id % $HashMod) % $HashMod AS BIGINT) AS doc_checksum
    FROM bk GROUP BY 1, 2 ORDER BY 1, 2"""))

  // ---------------------------------------------------------------- t36
  // DSIR IMPORTANCE WEIGHTS — Data Selection via Importance Resampling
  // (Xie et al. 2023): score every raw document by the log-likelihood
  // ratio between a TARGET unigram LM (trained on the trusted doc_id % 7
  // slice — t35's reference stand-in) and the RAW-corpus LM, then take
  // the top-50 by ratio as the selected pretraining subset. Differs from
  // t35 in both axes: one corpus-global LM pair (no per-lang split) and
  // a RATIO score (target-likeness), not an absolute perplexity bucket.
  // llr(d) = Σ_w n_dw·(lnQ(c_tgt+1) − lnQ(c_raw+1)) + N_d·(lnQ(T_raw+V)
  // − lnQ(T_tgt+V)) — add-one smoothing over the shared raw vocab (the
  // target slice is a subset of the corpus, so its vocab is covered).
  // The RAW llr is kept integer end-to-end and never divided: a per-token
  // normalize would need integer division of a SIGNED sum, where Spark's
  // DIV (truncate) and DuckDB's // (floor) disagree — the one cross-engine
  // dtype hazard this family has left (PERF.md r14); DSIR itself ranks on
  // the raw weight. Scale: both LMs come off ONE (doc_id, w) partial
  // aggregate (shuffle = per-doc vocab, combiner-packed); the LM join is
  // the co-partitioned vocab equi-join with no broadcast hint (t30's
  // Heaps-unbounded rule); corpus totals are a one-row broadcast; and the
  // final top-50 is TakeOrderedAndProject — per-partition heads merged on
  // the driver, never a global sort shuffle.
  private val t36 = QueryDef(
    "t36_dsir_importance",
    (s, dir) => {
      val dtok = docsNarrow(s, dir)
        .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
        .groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("n"))
      val lm = dtok.groupBy(col("w")).agg(
        sum(col("n")).as("cr"),
        sum(when(col("doc_id") % 7 === 0, col("n")).otherwise(0L)).as("ct"))
      val tot = lm.agg(
        sum(col("cr")).as("tr"), sum(col("ct")).as("tt"), count(lit(1)).as("v"))
      dtok.join(lm, Seq("w"))
        .groupBy(col("doc_id"))
        .agg(
          sum(col("n") * (expr(lnQ("ct + 1")) - expr(lnQ("cr + 1")))).as("sdelta"),
          sum(col("n")).as("ntok"))
        .crossJoin(broadcast(tot)) // bounded: one corpus-totals row
        .select(col("doc_id"), col("ntok"),
          (col("sdelta") + col("ntok") * (expr(lnQ("tr + v")) - expr(lnQ("tt + v"))))
            .as("llr_q"))
        // select FIRST (TakeOrderedAndProject over narrow score rows),
        // then decorate the 50 winners with source — the other order
        // would join source onto every document just to throw it away.
        // The winners are LIMIT-bounded, so broadcasting them keeps the
        // decoration join from shuffling the documents table at all.
        .orderBy(col("llr_q").desc, col("doc_id"))
        .limit(50)
        .transform(broadcast)
        .join(docsNarrow(s, dir).select(col("doc_id"), col("source")), Seq("doc_id"))
        .select(col("source"), col("doc_id"), col("ntok"), col("llr_q"))
        .orderBy(col("llr_q").desc, col("doc_id"))
    },
    Some(s"""WITH tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
    dt AS (SELECT doc_id, w, COUNT(*) AS n FROM tok GROUP BY 1, 2),
    lm AS (SELECT w, CAST(SUM(n) AS BIGINT) AS cr,
             CAST(SUM(CASE WHEN doc_id % 7 = 0 THEN n ELSE 0 END) AS BIGINT) AS ct
           FROM dt GROUP BY 1),
    tot AS (SELECT CAST(SUM(cr) AS BIGINT) AS tr, CAST(SUM(ct) AS BIGINT) AS tt,
              COUNT(*) AS v FROM lm),
    pd AS (SELECT dt.doc_id,
             CAST(SUM(dt.n * (${lnQ("lm.ct + 1")} - ${lnQ("lm.cr + 1")})) AS BIGINT) AS sdelta,
             CAST(SUM(dt.n) AS BIGINT) AS ntok
           FROM dt JOIN lm USING (w) GROUP BY 1)
    SELECT d.source, pd.doc_id, pd.ntok,
      CAST(pd.sdelta + pd.ntok * (${lnQ("tot.tr + tot.v")} - ${lnQ("tot.tt + tot.v")})
        AS BIGINT) AS llr_q
    FROM pd CROSS JOIN tot JOIN documents d ON d.doc_id = pd.doc_id
    ORDER BY llr_q DESC, pd.doc_id LIMIT 50"""))

  // ---------------------------------------------------------------- t37
  // GOPHER RULE BATTERY — the MassiveText/Gopher document-format filter
  // set as a NAMED per-rule failure matrix: where t02 emits one combined
  // keep verdict and t13 emits repetition mass, a curation run needs to
  // know WHICH rule kills how many docs per language before tuning
  // thresholds. Six rules, each an integer cross-multiply (no float
  // thresholds): word count ∈ [50, 100k]; mean word length ∈ [3, 10]
  // (via 3·n ≤ Σlen ≤ 10·n); ≥ 2 DISTINCT stopword hits; most-frequent
  // token ≤ 20% of tokens; duplicate-trigram share ≤ 20%; ≥ 80%
  // alphabetic tokens. Scale: one (doc, word) count aggregate serves
  // four rules at once (its rows are distinct words, so stopword
  // DISTINCT hits, the max-token share, the alpha mass, and the token
  // total all fall out of the same combiner-packed shuffle); the
  // trigram rule is a narrow per-row pass on the native rolling
  // ngram_hashes; the two sides meet in a co-partitioned doc-key join
  // and roll up to the lang-bounded matrix.
  private val t37 = QueryDef(
    "t37_gopher_rules",
    (s, dir) => {
      val dt = docsNarrow(s, dir)
        .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
        .groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("n"))
        .groupBy(col("doc_id"))
        .agg(
          sum(col("n")).as("n_tok"),
          max(col("n")).as("max_tok"),
          sum(when(col("w").isin("the", "a", "of", "to", "and"), 1L).otherwise(0L))
            .as("n_stop_distinct"),
          sum(when(col("w").rlike("^[a-z]+$"), col("n")).otherwise(0L)).as("n_alpha"))
      val tri = docs(s, dir)
        .select(col("doc_id"), col("lang"), col("n_chars"),
          expr("transform(split(text, ' '), t -> poly_hash(t))").as("th"))
        .withColumn("tg", expr(ngramExpr("th", 3)))
        .select(col("doc_id"), col("lang"), col("n_chars"),
          expr("CAST(size(tg) AS BIGINT)").as("n_tri"),
          expr("CAST(size(tg) - size(array_distinct(tg)) AS BIGINT)").as("dup_tri"))
      tri.join(dt, Seq("doc_id"))
        .withColumn("sum_len", col("n_chars") - (col("n_tok") - lit(1L)))
        .select(col("lang"),
          (!col("n_tok").between(50L, 100000L)).as("f_wordcount"),
          (col("sum_len") < col("n_tok") * 3 || col("sum_len") > col("n_tok") * 10)
            .as("f_meanlen"),
          (col("n_stop_distinct") < 2).as("f_stopword"),
          (col("max_tok") * 5 > col("n_tok")).as("f_maxtok"),
          (col("dup_tri") * 5 > col("n_tri")).as("f_duptri"),
          (col("n_alpha") * 5 < col("n_tok") * 4).as("f_alpha"))
        .groupBy(col("lang"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(when(col("f_wordcount"), 1L).otherwise(0L)).as("fail_wordcount"),
          sum(when(col("f_meanlen"), 1L).otherwise(0L)).as("fail_meanlen"),
          sum(when(col("f_stopword"), 1L).otherwise(0L)).as("fail_stopword"),
          sum(when(col("f_maxtok"), 1L).otherwise(0L)).as("fail_maxtok"),
          sum(when(col("f_duptri"), 1L).otherwise(0L)).as("fail_duptri"),
          sum(when(col("f_alpha"), 1L).otherwise(0L)).as("fail_alpha"),
          sum(when(!col("f_wordcount") && !col("f_meanlen") && !col("f_stopword") &&
            !col("f_maxtok") && !col("f_duptri") && !col("f_alpha"), 1L).otherwise(0L))
            .as("n_pass"))
        .withColumn("pass_ppm", expr("n_pass * 1000000 DIV n_docs"))
        .orderBy(col("lang"))
    },
    Some(s"""WITH tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
    dw AS (SELECT doc_id, w, COUNT(*) AS n FROM tok GROUP BY 1, 2),
    dt AS (SELECT doc_id,
             CAST(SUM(n) AS BIGINT) AS n_tok,
             CAST(MAX(n) AS BIGINT) AS max_tok,
             CAST(SUM(CASE WHEN w IN ('the', 'a', 'of', 'to', 'and')
               THEN 1 ELSE 0 END) AS BIGINT) AS n_stop_distinct,
             CAST(SUM(CASE WHEN regexp_matches(w, '^[a-z]+$$')
               THEN n ELSE 0 END) AS BIGINT) AS n_alpha
           FROM dw GROUP BY 1),
    th AS (SELECT doc_id, lang, n_chars,
             list_transform(string_split(text, ' '), t -> ${strHashSql("t")}) AS th
           FROM documents),
    tri AS (SELECT doc_id, lang, n_chars,
              CAST(len(tg) AS BIGINT) AS n_tri,
              CAST(len(tg) - len(list_distinct(tg)) AS BIGINT) AS dup_tri
            FROM (SELECT doc_id, lang, n_chars, ${ngramSqlDuck("th", 3)} AS tg FROM th)),
    fl AS (SELECT tri.lang,
             NOT (dt.n_tok BETWEEN 50 AND 100000) AS f_wordcount,
             ((tri.n_chars - (dt.n_tok - 1)) < dt.n_tok * 3
               OR (tri.n_chars - (dt.n_tok - 1)) > dt.n_tok * 10) AS f_meanlen,
             dt.n_stop_distinct < 2 AS f_stopword,
             dt.max_tok * 5 > dt.n_tok AS f_maxtok,
             tri.dup_tri * 5 > tri.n_tri AS f_duptri,
             dt.n_alpha * 5 < dt.n_tok * 4 AS f_alpha
           FROM tri JOIN dt USING (doc_id))
    SELECT lang, COUNT(*) AS n_docs,
      CAST(SUM(CASE WHEN f_wordcount THEN 1 ELSE 0 END) AS BIGINT) AS fail_wordcount,
      CAST(SUM(CASE WHEN f_meanlen THEN 1 ELSE 0 END) AS BIGINT) AS fail_meanlen,
      CAST(SUM(CASE WHEN f_stopword THEN 1 ELSE 0 END) AS BIGINT) AS fail_stopword,
      CAST(SUM(CASE WHEN f_maxtok THEN 1 ELSE 0 END) AS BIGINT) AS fail_maxtok,
      CAST(SUM(CASE WHEN f_duptri THEN 1 ELSE 0 END) AS BIGINT) AS fail_duptri,
      CAST(SUM(CASE WHEN f_alpha THEN 1 ELSE 0 END) AS BIGINT) AS fail_alpha,
      CAST(SUM(CASE WHEN NOT f_wordcount AND NOT f_meanlen AND NOT f_stopword
        AND NOT f_maxtok AND NOT f_duptri AND NOT f_alpha
        THEN 1 ELSE 0 END) AS BIGINT) AS n_pass,
      CAST(SUM(CASE WHEN NOT f_wordcount AND NOT f_meanlen AND NOT f_stopword
        AND NOT f_maxtok AND NOT f_duptri AND NOT f_alpha
        THEN 1 ELSE 0 END) * 1000000 // COUNT(*) AS BIGINT) AS pass_ppm
    FROM fl GROUP BY 1 ORDER BY 1"""))

  // ---------------------------------------------------------------- t38
  // N-GRAM NOVELTY / MEMORIZATION-RISK SCORES — the per-document rollup
  // of the Lee-et-al. duplicated-span diagnosis: a doc whose 8-gram
  // vocabulary is mostly shared with other documents is memorization
  // bait and dilutes training signal even after doc-level dedup. d26
  // FINDS the duplicated spans (for surgery); t38 SCORES every doc by
  // the fraction of its distinct 8-grams that are corpus-unique
  // (df = 1), rolled up per source — the triage view that says which
  // feeds need d27's cut applied. Per-doc novelty is exact integer ppm
  // (unique·10⁶ DIV grams; docs under 8 tokens carry no grams and are
  // reported separately, never divided). Scale: the rolling native
  // ngram_hashes pass is O(len) per doc; the only wide ops are the
  // (gram) document-frequency aggregate — keyed on the gram hash, high
  // cardinality, combiner-packed — the co-partitioned join back on that
  // same key, and the source-bounded rollup.
  private val t38 = QueryDef(
    "t38_novelty_scores",
    (s, dir) => {
      val dg = docs(s, dir)
        .select(col("doc_id"), col("source"),
          expr("transform(split(text, ' '), t -> poly_hash(t))").as("th"))
        .select(col("doc_id"), col("source"),
          explode(expr(s"array_distinct(${ngramExpr("th", 8)})")).as("g"))
      val df = dg.groupBy(col("g")).agg(count(lit(1)).as("gdf"))
      val perDoc = dg.join(df, Seq("g")) // co-partitioned: the df key
        .groupBy(col("doc_id"), col("source"))
        .agg(count(lit(1)).as("n_grams"),
          sum(when(col("gdf") === 1L, 1L).otherwise(0L)).as("n_unique"))
        .withColumn("novelty_ppm", expr("n_unique * 1000000 DIV n_grams"))
      val short = docsNarrow(s, dir)
        .select(col("doc_id"), col("source"))
        .join(perDoc.select(col("doc_id")), Seq("doc_id"), "left_anti")
        .groupBy(col("source")).agg(count(lit(1)).as("n_short"))
      perDoc.groupBy(col("source"))
        .agg(
          count(lit(1)).as("n_scored"),
          sum(col("n_grams")).as("n_grams"),
          sum(col("n_unique")).as("n_unique"),
          expr("sum(novelty_ppm) DIV count(1)").as("mean_novelty_ppm"))
        .join(short, Seq("source"), "left")
        .select(col("source"), col("n_scored"),
          coalesce(col("n_short"), lit(0L)).as("n_short"),
          col("n_grams"), col("n_unique"), col("mean_novelty_ppm"))
        .orderBy(col("source"))
    },
    Some(s"""WITH th AS (
      SELECT doc_id, source,
        list_transform(string_split(text, ' '), t -> ${strHashSql("t")}) AS th
      FROM documents),
    dg AS (SELECT doc_id, source, unnest(list_distinct(${ngramSqlDuck("th", 8)})) AS g
           FROM th),
    df AS (SELECT g, COUNT(*) AS gdf FROM dg GROUP BY 1),
    pd AS (SELECT dg.doc_id, dg.source,
             COUNT(*) AS n_grams,
             CAST(SUM(CASE WHEN df.gdf = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_unique
           FROM dg JOIN df USING (g) GROUP BY 1, 2),
    pn AS (SELECT *, n_unique * 1000000 // n_grams AS novelty_ppm FROM pd),
    sh AS (SELECT d.source, COUNT(*) AS n_short
           FROM documents d
           WHERE NOT EXISTS (SELECT 1 FROM pd WHERE pd.doc_id = d.doc_id)
           GROUP BY 1),
    ag AS (SELECT source, COUNT(*) AS n_scored,
             CAST(SUM(n_grams) AS BIGINT) AS n_grams,
             CAST(SUM(n_unique) AS BIGINT) AS n_unique,
             CAST(CAST(SUM(novelty_ppm) AS BIGINT) // COUNT(*) AS BIGINT)
               AS mean_novelty_ppm
           FROM pn GROUP BY 1)
    SELECT ag.source, ag.n_scored,
      CAST(COALESCE(sh.n_short, 0) AS BIGINT) AS n_short,
      ag.n_grams, ag.n_unique, ag.mean_novelty_ppm
    FROM ag LEFT JOIN sh USING (source) ORDER BY ag.source"""))

  // ---------------------------------------------------------------- t39
  // TOKENIZER FERTILITY AUDIT — the fairness report behind a SHARED
  // tokenizer: one BPE vocabulary trained on the whole corpus (t26's
  // trainer) encodes every language, and languages the merges under-fit
  // pay more tokens per word ("fertility") — which at serving time is
  // literally a per-language price multiplier on context budget. Per
  // lang: word/char/token volumes, fertility and chars-per-token (exact
  // integer ppm, t13's numerator/denominator discipline), and a verdict
  // against the corpus-wide fertility — >1.25× flags 'high_fertility'
  // (re-train with per-lang balance), <0.8× 'low_fertility' (the vocab
  // over-serves it), else 'ok'. The ×100/×125 comparison is pure int64
  // (ppm ≤ ~64e6 here, far from overflow). Scale shape is t28's: one
  // corpus scan into a map-side-combined (lang, word) aggregate, the
  // trained-vocab join left to AQE (Heaps-unbounded — no hint, t28's
  // rule), the corpus baseline a 1-row aggregate cross-joined back.
  private val t39 = QueryDef(
    "t39_tokenizer_fertility",
    (s, dir) => {
      val (words, _) = bpeTrain(s, dir)
      val enc = words.select(col("w"),
        size(expr("split(trim(units), ' ')")).cast("long").as("ntok"))
      val perLang = docs(s, dir)
        .select(col("lang"), explode(split(col("text"), " ")).as("w"))
        .filter(col("w").rlike("^[a-z]+$") && length(col("w")) >= 2)
        .groupBy(col("lang"), col("w")).agg(count(lit(1)).as("cnt"))
      val st = perLang.join(enc, "w")
        .groupBy(col("lang"))
        .agg(
          sum(col("cnt")).as("n_words"),
          sum(col("cnt") * length(col("w")).cast("long")).as("n_chars"),
          sum(col("cnt") * col("ntok")).as("n_tokens"))
      val tot = st.agg(sum(col("n_words")).as("tw"), sum(col("n_tokens")).as("tt"))
      st.crossJoin(broadcast(tot))
        .withColumn("fertility_ppm", expr("(n_tokens * 1000000) DIV n_words"))
        .withColumn("corpus_ppm", expr("(tt * 1000000) DIV tw"))
        .withColumn("verdict",
          when(expr("fertility_ppm * 100 > corpus_ppm * 125"), lit("high_fertility"))
            .when(expr("fertility_ppm * 100 < corpus_ppm * 80"), lit("low_fertility"))
            .otherwise(lit("ok")))
        .select(col("lang"), col("n_words"), col("n_tokens"),
          col("fertility_ppm"),
          expr("(n_chars * 1000000) DIV n_tokens").as("cpt_ppm"),
          col("verdict"))
        .orderBy(col("lang"))
    },
    Some(s"""WITH $bpeTrainCte,
    enc AS (SELECT w, len(string_split(trim(units), ' ')) AS ntok FROM r$BpeRounds),
    wl AS (SELECT lang, w, COUNT(*) AS cnt FROM (
        SELECT lang, unnest(string_split(text, ' ')) AS w FROM documents)
      WHERE regexp_matches(w, '^[a-z]+$$') AND len(w) >= 2 GROUP BY lang, w),
    st AS (SELECT lang,
        CAST(SUM(cnt) AS BIGINT) AS n_words,
        CAST(SUM(cnt * len(w)) AS BIGINT) AS n_chars,
        CAST(SUM(cnt * ntok) AS BIGINT) AS n_tokens
      FROM wl JOIN enc USING (w) GROUP BY lang),
    tot AS (SELECT CAST(SUM(n_words) AS BIGINT) AS tw,
                   CAST(SUM(n_tokens) AS BIGINT) AS tt FROM st)
    SELECT lang, n_words, n_tokens,
      (n_tokens * 1000000) // n_words AS fertility_ppm,
      (n_chars * 1000000) // n_tokens AS cpt_ppm,
      CASE WHEN (n_tokens * 1000000) // n_words * 100 > (tt * 1000000) // tw * 125
             THEN 'high_fertility'
           WHEN (n_tokens * 1000000) // n_words * 100 < (tt * 1000000) // tw * 80
             THEN 'low_fertility'
           ELSE 'ok' END AS verdict
    FROM st CROSS JOIN tot ORDER BY lang"""))

  // ---------------------------------------------------------------- t40
  // EVAL-SIDE CONTAMINATION REPORT — t12 flags TRAINING docs that
  // overlap the benchmark; this answers the other operational question:
  // which EVAL items are burned and by how much (a benchmark row whose
  // n-grams all appear in training measures memorization, not ability —
  // the per-item report drives which rows to retire). Same machinery
  // reversed: per held-out doc (doc_id % 97), the share of its distinct
  // 4-grams present anywhere in the training split, with a verdict tier
  // (burned ≥ 50%, partial > 0, clean). The gram-distinct explode is
  // shared with t12's shape; the training gram SET is Heaps-unbounded,
  // so the membership join carries no hint (t28's rule — AQE reads the
  // real build size), while the eval side is fixed-size in production.
  // Output is |eval|-bounded.
  private val t40 = QueryDef(
    "t40_burned_benchmark",
    (s, dir) => {
      val th = docs(s, dir)
        .select(col("doc_id"), expr("transform(split(text, ' '), t -> poly_hash(t))").as("th"))
      val ex = th
        .select(col("doc_id"), explode(expr(ngramExpr("th", 4))).as("ng"))
        .distinct()
        .cache()
      val trainGrams = ex.filter(col("doc_id") % 97 =!= 0).select(col("ng")).distinct()
        .withColumn("hit", lit(1L))
      val out = ex.filter(col("doc_id") % 97 === 0)
        .join(trainGrams, Seq("ng"), "left")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_grams"),
          sum(coalesce(col("hit"), lit(0L))).as("n_burned"))
        .withColumn("burned_ppm", expr("(n_burned * 1000000) DIV n_grams"))
        .withColumn("verdict",
          when(expr("n_burned * 2 >= n_grams"), lit("burned"))
            .when(col("n_burned") > 0, lit("partial"))
            .otherwise(lit("clean")))
        .orderBy(col("doc_id"))
        .localCheckpoint()
      ex.unpersist()
      out
    },
    Some(s"""WITH th AS (
      SELECT doc_id,
        list_transform(string_split(text, ' '), t -> ${strHashSql("t")}) AS th
      FROM documents),
    ng AS (SELECT doc_id, ${ngramSqlDuck("th", 4)} AS ngs FROM th),
    ex AS (SELECT DISTINCT doc_id, unnest(ngs) AS ng FROM ng),
    tg AS (SELECT DISTINCT ng FROM ex WHERE doc_id % 97 <> 0),
    ev AS (SELECT e.doc_id, e.ng, CASE WHEN tg.ng IS NULL THEN 0 ELSE 1 END AS hit
           FROM ex e LEFT JOIN tg ON e.ng = tg.ng WHERE e.doc_id % 97 = 0)
    SELECT doc_id, COUNT(*) AS n_grams,
      CAST(SUM(hit) AS BIGINT) AS n_burned,
      CAST(SUM(hit) * 1000000 // COUNT(*) AS BIGINT) AS burned_ppm,
      CASE WHEN SUM(hit) * 2 >= COUNT(*) THEN 'burned'
           WHEN SUM(hit) > 0 THEN 'partial' ELSE 'clean' END AS verdict
    FROM ev GROUP BY doc_id ORDER BY doc_id"""))

  // ---------------------------------------------------------------- t41
  // GOOD–TURING COUNT-OF-COUNTS — the frequency-of-frequencies table
  // N_r (#word types observed exactly r times) and the Good–Turing
  // re-estimated count r* = (r+1)·N_{r+1}/N_r for the low-frequency head
  // r ≤ 10, which is where LM smoothing (Katz backoff, simple GT) and
  // OOV-mass estimation (p₀ = N₁/total tokens) actually read the table.
  // The audited head is the 10 SMALLEST OBSERVED frequencies (not a
  // fixed r ≤ 10 cut, which goes empty on a corpus whose vocabulary is
  // dense — this one's closed word list leaves no type below r ≈ 30 even
  // at sf0.001, and real curated corpora shift the same way as they
  // grow). Two map-side-combined hash aggregates (token → r, then
  // r → N_r); the count-of-counts table is bounded by the number of
  // DISTINCT frequencies (≤ hundreds), so the rank window and the exact
  // r+1 lookup both run on that tiny table — the corpus is scanned once,
  // and the plan is unchanged at 100 TB. r* is exact integer arithmetic
  // up to one final double division; N_{r+1} = 0 (a gap in the frequency
  // spectrum) yields SQL NULL, the standard "smoothing undefined here,
  // interpolate" signal.
  private val t41 = QueryDef(
    "t41_good_turing",
    (s, dir) => {
      val freq = docs(s, dir)
        .select(explode(split(col("text"), " ")).as("token"))
        .groupBy(col("token")).agg(count(lit(1)).as("r"))
      val cc = freq.groupBy(col("r")).agg(count(lit(1)).as("n_types"))
      val nxt = cc.select((col("r") - 1).as("r"), col("n_types").as("nn"))
      // global window over the count-of-counts table only — its row
      // count is the number of distinct frequencies, never corpus-sized
      cc.join(nxt, Seq("r"), "left")
        .withColumn("rnk", row_number().over(
          org.apache.spark.sql.expressions.Window.orderBy(col("r"))).cast("long"))
        .filter(col("rnk") <= 10)
        .select(col("rnk"), col("r"), col("n_types"),
          coalesce(col("nn"), lit(0L)).as("n_next"),
          when(coalesce(col("nn"), lit(0L)) > 0,
            round(((col("r") + 1) * col("nn")).cast("double") /
              col("n_types").cast("double"), 6)).as("r_star"))
        .orderBy(col("rnk"))
    },
    Some("""WITH freq AS (
      SELECT token, COUNT(*) AS r FROM (
        SELECT unnest(string_split(text, ' ')) AS token FROM documents)
      GROUP BY token),
    cc AS (SELECT r, COUNT(*) AS n_types FROM freq GROUP BY r)
    SELECT rnk, r, n_types, n_next, r_star FROM (
      SELECT c.r, c.n_types,
        ROW_NUMBER() OVER (ORDER BY c.r) AS rnk,
        COALESCE(n.n_types, 0) AS n_next,
        CASE WHEN COALESCE(n.n_types, 0) > 0 THEN
          round(CAST((c.r + 1) * n.n_types AS DOUBLE) / CAST(c.n_types AS DOUBLE), 6)
        END AS r_star
      FROM cc c LEFT JOIN cc n ON n.r = c.r + 1)
    WHERE rnk <= 10 ORDER BY rnk"""))

  // ---------------------------------------------------------------- t42
  // SYMSPELL TYPO CORRECTION — spell-normalization by deletion-
  // neighborhood lookup (SymSpell): a word pair is an edit-distance-1
  // candidate iff the two words share a key in {word} ∪ its 1-deletion
  // variants, so the all-pairs O(V²·len) comparison becomes one
  // equi-join on that key space (Σ len(w) keys per side — VOCABULARY-
  // bounded, never corpus-bounded) with exact `levenshtein` verification
  // only on candidates, then a per-typo rank (distance, dict frequency
  // desc). The typo channel is deterministic — docs with doc_id ≡ 0
  // (mod 97) re-emit their ≥4-char tokens with the 2nd char dropped —
  // the m16/q154 planted-fault discipline, since this corpus's closed
  // vocabulary contains no natural distance-1 pairs. At 100 TB the only
  // corpus-sized work is the two token-count aggregates; the variant
  // join and the rank window both run on type tables.
  private val t42 = QueryDef(
    "t42_symspell_correct",
    (s, dir) => {
      def delKeys(c: String) =
        s"""array_union(array($c), transform(sequence(1, length($c)),
            i -> concat(substring($c, 1, i - 1), substring($c, i + 1, length($c)))))"""
      val toks = docs(s, dir)
        .select(col("doc_id"), explode(split(col("text"), " ")).as("token"))
      val dict = toks.groupBy(col("token")).agg(count(lit(1)).as("dict_freq"))
      val qs = toks
        .filter(col("doc_id") % 97 === 0 && length(col("token")) >= 4)
        .select(expr("concat(substring(token, 1, 1), substring(token, 3, length(token)))").as("q"))
        .groupBy(col("q")).agg(count(lit(1)).as("n_occ"))
      val qk = qs.select(col("q"), col("n_occ"), explode(expr(delKeys("q"))).as("key"))
      val dk = dict.select(col("token"), col("dict_freq"),
        explode(expr(delKeys("token"))).as("key"))
      qk.join(dk, Seq("key"))
        .filter(expr("levenshtein(q, token)") <= 1)
        .select(col("q"), col("n_occ"), col("token"), col("dict_freq"),
          expr("CAST(levenshtein(q, token) AS BIGINT)").as("distance"))
        .distinct()
        .withColumn("rnk", row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy(col("q"))
            .orderBy(col("distance"), col("dict_freq").desc, col("token"))))
        .filter(col("rnk") === 1)
        .select(col("q").as("typo"), col("n_occ"),
          col("token").as("suggestion"), col("distance"), col("dict_freq"))
        .orderBy(col("typo"))
    },
    Some("""WITH toks AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
    dict AS (SELECT token, COUNT(*) AS dict_freq FROM toks GROUP BY token),
    qs AS (SELECT substr(token, 1, 1) || substr(token, 3, length(token)) AS q,
             COUNT(*) AS n_occ
           FROM toks WHERE doc_id % 97 = 0 AND length(token) >= 4 GROUP BY 1),
    qk AS (SELECT q, n_occ, unnest(list_distinct(list_prepend(q,
             list_transform(range(1, length(q) + 1),
               i -> substr(q, 1, i - 1) || substr(q, i + 1, length(q)))))) AS key
           FROM qs),
    dk AS (SELECT token, dict_freq, unnest(list_distinct(list_prepend(token,
             list_transform(range(1, length(token) + 1),
               i -> substr(token, 1, i - 1) || substr(token, i + 1, length(token)))))) AS key
           FROM dict),
    cands AS (SELECT DISTINCT q, n_occ, token, dict_freq,
                CAST(levenshtein(q, token) AS BIGINT) AS distance
              FROM qk JOIN dk USING (key)
              WHERE levenshtein(q, token) <= 1),
    best AS (SELECT q, n_occ, token, dict_freq, distance,
               ROW_NUMBER() OVER (PARTITION BY q
                 ORDER BY distance, dict_freq DESC, token) AS rnk
             FROM cands)
    SELECT q AS typo, n_occ, token AS suggestion, distance, dict_freq
    FROM best WHERE rnk = 1 ORDER BY typo"""))

  // ---------------------------------------------------------------- t43
  // KNESER–NEY CONTINUATION COUNTS — the type-based statistics behind
  // KN smoothing, the standard n-gram LM estimator: per word, the
  // continuation count N₁₊(•w) (distinct left contexts — how "novel"
  // the word's occurrences are) and the right fertility N₁₊(w•) (the
  // backoff-weight numerator), plus the KN lower-order probability
  // p_cont(w) = N₁₊(•w) / |bigram types| in exact integer ppm. A word
  // with huge token frequency but few contexts ("francisco") gets a
  // LOW continuation probability — the exact correction MLE unigrams
  // (t09) get wrong. Plan: one bigram explode → one map-side-combined
  // DISTINCT on (w1,w2) — everything after runs on the bigram-TYPE
  // table (vocabulary²-bounded, corpus-independent), two tiny
  // aggregates and a vocab-sized full join. Unchanged at 100 TB.
  private val t43 = QueryDef(
    "t43_kneser_ney",
    (s, dir) => {
      val types = docs(s, dir)
        .select(split(col("text"), " ").as("ws"))
        .filter(size(col("ws")) >= 2)
        .select(explode(expr(
          """transform(sequence(1, size(ws) - 1),
             i -> struct(element_at(ws, i) AS w1, element_at(ws, i + 1) AS w2))"""))
          .as("b"))
        .select(col("b.w1"), col("b.w2"))
        .distinct()
      val cont = types.groupBy(col("w2").as("w")).agg(count(lit(1)).as("cont_count"))
      val fert = types.groupBy(col("w1").as("w")).agg(count(lit(1)).as("fert_count"))
      val total = types.agg(count(lit(1)).as("n_bigram_types"))
      cont.join(fert, Seq("w"), "full")
        .crossJoin(total)
        .select(col("w"),
          coalesce(col("cont_count"), lit(0L)).as("cont_count"),
          coalesce(col("fert_count"), lit(0L)).as("fert_count"),
          expr("(coalesce(cont_count, 0L) * 1000000) DIV n_bigram_types")
            .as("p_cont_ppm"))
        .orderBy(col("w"))
    },
    Some(s"""WITH d AS (
      SELECT string_split(text, ' ') AS ws FROM documents
      WHERE len(string_split(text, ' ')) >= 2),
    ${bigramStepCte("ws")},
    ty AS (SELECT DISTINCT ws[i] AS w1, ws[i + 1] AS w2 FROM bx),
    cont AS (SELECT w2 AS w, COUNT(*) AS cont_count FROM ty GROUP BY 1),
    fert AS (SELECT w1 AS w, COUNT(*) AS fert_count FROM ty GROUP BY 1),
    tot AS (SELECT COUNT(*) AS n_bigram_types FROM ty)
    SELECT COALESCE(c.w, f.w) AS w,
      COALESCE(c.cont_count, 0) AS cont_count,
      COALESCE(f.fert_count, 0) AS fert_count,
      CAST((COALESCE(c.cont_count, 0) * 1000000)
           // (SELECT n_bigram_types FROM tot) AS BIGINT) AS p_cont_ppm
    FROM cont c FULL JOIN fert f ON c.w = f.w ORDER BY w"""))

  // ---------------------------------------------------------------- t44
  // N-GRAM COVERAGE CURVE — how much of held-out text the training
  // corpus has literally seen, by n-gram order: the standard diagnostic
  // for memorization headroom and LM backoff pressure (unigram coverage
  // is near-total in any corpus; the order where coverage collapses is
  // where the model must generalize). Same 80/20 doc-hash split as t30,
  // so the curve describes exactly the split t30 scores. One corpus
  // scan emits (n, gram) for n = 1..4 via a flattened per-row
  // transform; a (n, gram) aggregate with two presence flags, then a
  // 4-row rollup — all map-side combined, TYPE-table sized after the
  // first aggregate. Docs shorter than 4 tokens are excluded from all
  // orders (one consistent population; also keeps `sequence` ascending).
  private val t44 = QueryDef(
    "t44_ngram_coverage",
    (s, dir) => {
      val gramExpr = (1 to 4).map { n =>
        s"""transform(sequence(1, size(ws) - ${n - 1}),
            i -> struct(CAST($n AS BIGINT) AS n, concat_ws(' ', slice(ws, i, $n)) AS g))"""
      }.mkString("flatten(array(", ", ", "))")
      val isTrain = expr(s"${strHashExpr("CAST(doc_id AS STRING)")} % 10") < 8
      val grams = docs(s, dir)
        .select(col("doc_id"), split(col("text"), " ").as("ws"))
        .filter(size(col("ws")) >= 4)
        .select(isTrain.as("is_train"), explode(expr(gramExpr)).as("x"))
        .select(col("is_train"), col("x.n"), col("x.g"))
      grams.groupBy(col("n"), col("g"))
        .agg(max(when(col("is_train"), 1L).otherwise(0L)).as("in_train"),
          max(when(!col("is_train"), 1L).otherwise(0L)).as("in_test"))
        .groupBy(col("n"))
        .agg(sum(col("in_train")).as("train_types"),
          sum(col("in_test")).as("test_types"),
          sum(col("in_train") * col("in_test")).as("covered_types"))
        .withColumn("coverage_ppm",
          expr("(covered_types * 1000000) DIV test_types"))
        .orderBy(col("n"))
    },
    Some(s"""WITH d AS (
      SELECT ${strHashSql("CAST(doc_id AS VARCHAR)")} % 10 < 8 AS is_train,
        string_split(text, ' ') AS ws
      FROM documents WHERE len(string_split(text, ' ')) >= 4),
    gx AS (${(1 to 4).map { n =>
        s"""SELECT is_train, CAST($n AS BIGINT) AS n,
          array_to_string(ws[i:i + ${n - 1}], ' ') AS g
        FROM (SELECT is_train, ws,
                unnest(generate_series(1, len(ws) - ${n - 1})) AS i FROM d)"""
      }.mkString("\nUNION ALL\n")}),
    ty AS (SELECT n, g,
             MAX(CASE WHEN is_train THEN 1 ELSE 0 END) AS in_train,
             MAX(CASE WHEN is_train THEN 0 ELSE 1 END) AS in_test
           FROM gx GROUP BY n, g)
    SELECT n,
      CAST(SUM(in_train) AS BIGINT) AS train_types,
      CAST(SUM(in_test) AS BIGINT) AS test_types,
      CAST(SUM(in_train * in_test) AS BIGINT) AS covered_types,
      CAST((SUM(in_train * in_test) * 1000000) // SUM(in_test) AS BIGINT)
        AS coverage_ppm
    FROM ty GROUP BY n ORDER BY n"""))

  // ---------------------------------------------------------------- t45
  // SEQUENCE-PACKING AUDIT — the last arithmetic a pretraining data
  // pipeline runs before tensors exist: documents are truncated to the
  // context length, concatenated per source in a deterministic order,
  // and chunked into fixed 256-token training sequences. The audit
  // prices that layout exactly: per source, the token mass kept vs
  // truncated, the sequence count (⌈Σkept/256⌉ — concat-then-chunk
  // achieves the packing lower bound by construction), the padding in
  // the final partial sequence, and — what padding numbers hide — how
  // many documents get SPLIT across a sequence boundary (attention
  // contamination: a fragment sees a foreign prefix), with the split
  // count derived from each doc's [start, end) offset in the concat
  // stream via one cumulative-sum window. The window is per-source
  // ordered by doc_id — deterministic and shuffle-partitioned by
  // source; at 100 TB you pack per partition and the same arithmetic
  // runs inside each, the cross-partition boundary being one seam per
  // partition, not per doc. All integer; the oracle mirrors the window.
  private val SeqLen = 256L

  private val t45 = QueryDef(
    "t45_sequence_packing",
    (s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("source")).orderBy(col("doc_id"))
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
      val per = docsNarrow(s, dir)
        .select(col("doc_id"), col("source"),
          size(split(col("text"), " ")).cast("long").as("tokens"))
        .withColumn("kept", least(col("tokens"), lit(SeqLen)))
        .withColumn("start", coalesce(sum(col("kept")).over(w), lit(0L)))
        .withColumn("endo", col("start") + col("kept"))
        // a doc crosses a boundary once per 256-multiple strictly inside
        // (start, endo): (endo-1) DIV 256 - start DIV 256 fragments - 1
        .withColumn("splits", expr(
          s"CASE WHEN kept = 0 THEN 0 ELSE (endo - 1) DIV $SeqLen - start DIV $SeqLen END"))
      per.groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("tokens")).as("total_tokens"),
          sum(col("kept")).as("kept_tokens"),
          sum(when(col("tokens") > SeqLen, 1L).otherwise(0L)).as("truncated_docs"),
          expr(s"(sum(kept) + $SeqLen - 1) DIV $SeqLen").as("n_sequences"),
          expr(s"((sum(kept) + $SeqLen - 1) DIV $SeqLen) * $SeqLen - sum(kept)")
            .as("padding_tokens"),
          sum(when(col("splits") > 0, 1L).otherwise(0L)).as("docs_split"),
          sum(col("splits")).as("n_boundary_crossings"))
        .orderBy(col("source"))
    },
    Some(s"""WITH per AS (
      SELECT doc_id, source,
        CAST(len(string_split(text, ' ')) AS BIGINT) AS tokens,
        LEAST(CAST(len(string_split(text, ' ')) AS BIGINT), $SeqLen) AS kept
      FROM documents),
    off AS (SELECT *,
        COALESCE(SUM(kept) OVER (PARTITION BY source ORDER BY doc_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS start
      FROM per),
    eo AS (SELECT *, start + kept AS endo FROM off),
    sp AS (SELECT *,
        CASE WHEN kept = 0 THEN 0
             ELSE (endo - 1) // $SeqLen - start // $SeqLen END AS splits
      FROM eo)
    SELECT source, COUNT(*) AS n_docs,
      CAST(SUM(tokens) AS BIGINT) AS total_tokens,
      CAST(SUM(kept) AS BIGINT) AS kept_tokens,
      CAST(SUM(CASE WHEN tokens > $SeqLen THEN 1 ELSE 0 END) AS BIGINT) AS truncated_docs,
      CAST((SUM(kept) + $SeqLen - 1) // $SeqLen AS BIGINT) AS n_sequences,
      CAST(((SUM(kept) + $SeqLen - 1) // $SeqLen) * $SeqLen - SUM(kept) AS BIGINT) AS padding_tokens,
      CAST(SUM(CASE WHEN splits > 0 THEN 1 ELSE 0 END) AS BIGINT) AS docs_split,
      CAST(SUM(splits) AS BIGINT) AS n_boundary_crossings
    FROM sp GROUP BY source ORDER BY source"""))

  // ---------------------------------------------------------------- t46
  // JELINEK-MERCER INTERPOLATED LM — the third member of the smoothing
  // family (t30 add-one, t43 Kneser-Ney continuation counts, t41
  // Good-Turing): p(w2|w1) = λ·c12/c1 + (1−λ)·(c(w2)+1)/(N+V), the
  // classic fix for add-one's pathology of taxing SEEN bigrams to pay
  // for the whole vocabulary. Three λ values {0.25, 0.5, 0.75} — exact
  // binary fractions, so the interpolation arithmetic is bit-identical
  // across engines — run as a 3-row broadcast replay of the ONE scored
  // join (s23's budget-sweep pattern; the bigram/unigram count shuffles
  // happen once), and the add-one cross-entropy computes in the same
  // pass so the per-source gain is read off one result. Per-type log
  // probs in t19's exact 1e-4 lnQ units; the held-out split and count
  // tables are t30's verbatim, making the two models directly
  // comparable. The measurable claim: the bigram-weighted corpus gain
  // ce_addone − ce_jm is positive at every λ (per-source rows all
  // positive at sf0.01; one −0.004 outlier at sf0.001's ~20-bigram
  // splits — NewOpsR18Spec pins the corpus-level dominance).
  private val t46 = QueryDef(
    "t46_interpolated_lm",
    (s, dir) => {
      val bi = docs(s, dir)
        .select(col("doc_id"), col("source"), split(col("text"), " ").as("ws"))
        .filter(size(col("ws")) >= 2)
        .select(col("doc_id"), col("source"), explode(expr(
          """transform(sequence(1, size(ws) - 1),
             i -> struct(element_at(ws, i) AS w1, element_at(ws, i + 1) AS w2))"""))
          .as("b"))
        .select(col("doc_id"), col("source"), col("b.w1"), col("b.w2"))
      val isTrain = expr(s"${strHashExpr("CAST(doc_id AS STRING)")} % 10") < 8
      val train = bi.filter(isTrain)
      val test = bi.filter(!isTrain)
      val bc = train.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c12"))
      val cc = train.groupBy(col("w1")).agg(count(lit(1)).as("c1"))
      val tok = docs(s, dir)
        .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
        .filter(isTrain)
      val uc = tok.groupBy(col("w")).agg(count(lit(1)).as("cw2"))
        .withColumnRenamed("w", "w2")
      val scalars = tok.agg(count(lit(1)).as("ntr"), countDistinct(col("w")).as("v"))
      val lams = s.range(1, 4).select((col("id") * 250000L).as("lam_ppm"))
      test.groupBy(col("source"), col("w1"), col("w2")).agg(count(lit(1)).as("cte"))
        .join(bc, Seq("w1", "w2"), "left")
        .join(cc, Seq("w1"), "left")
        .join(uc, Seq("w2"), "left")
        .crossJoin(broadcast(scalars))
        .crossJoin(broadcast(lams))
        .select(col("source"), col("lam_ppm"), col("cte"),
          expr(lnQ(
            """(CAST(lam_ppm AS DOUBLE) / 1000000.0D) *
               (CASE WHEN coalesce(c1, 0L) > 0
                     THEN CAST(coalesce(c12, 0L) AS DOUBLE) / c1 ELSE 0.0D END) +
               (1.0D - CAST(lam_ppm AS DOUBLE) / 1000000.0D) *
               (CAST(coalesce(cw2, 0L) + 1 AS DOUBLE) / (ntr + v))""")).as("lq_jm"),
          expr(lnQ(
            "(coalesce(c12, 0L) + 1) / CAST(coalesce(c1, 0L) + v AS DOUBLE)")).as("lq_a1"))
        .groupBy(col("source"), col("lam_ppm"))
        .agg(sum(col("cte")).as("n_test_bigrams"),
          sum(col("cte") * col("lq_jm")).as("sj"),
          sum(col("cte") * col("lq_a1")).as("sa"))
        .select(col("source"), col("lam_ppm"), col("n_test_bigrams"),
          expr("-CAST(sj AS DOUBLE) / n_test_bigrams / 10000.0D").as("ce_jm"),
          expr("-CAST(sa AS DOUBLE) / n_test_bigrams / 10000.0D").as("ce_addone"))
        .withColumn("gain", expr("ce_addone - ce_jm"))
        .orderBy(col("source"), col("lam_ppm"))
    },
    Some(s"""WITH $lmBigramCte,
    cc AS (SELECT w1, COUNT(*) AS c1 FROM bi
           WHERE ${strHashSql("CAST(doc_id AS VARCHAR)")} % 10 < 8 GROUP BY 1),
    tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
    tr AS (SELECT w FROM tok WHERE ${strHashSql("CAST(doc_id AS VARCHAR)")} % 10 < 8),
    uc AS (SELECT w AS w2, COUNT(*) AS cw2 FROM tr GROUP BY 1),
    sc AS (SELECT COUNT(*) AS ntr, COUNT(DISTINCT w) AS v FROM tr),
    lams AS (SELECT CAST(lam_ppm AS BIGINT) AS lam_ppm
             FROM (VALUES (250000), (500000), (750000)) t(lam_ppm)),
    te AS (SELECT source, w1, w2, COUNT(*) AS cte FROM bi
           WHERE ${strHashSql("CAST(doc_id AS VARCHAR)")} % 10 >= 8 GROUP BY 1, 2, 3),
    j AS (SELECT source, lam_ppm, cte,
            ${lnQ("""(CAST(lam_ppm AS DOUBLE) / 1000000.0) *
               (CASE WHEN COALESCE(cc.c1, 0) > 0
                     THEN CAST(COALESCE(bc.c12, 0) AS DOUBLE) / cc.c1 ELSE 0.0 END) +
               (1.0 - CAST(lam_ppm AS DOUBLE) / 1000000.0) *
               (CAST(COALESCE(uc.cw2, 0) + 1 AS DOUBLE) / (sc.ntr + sc.v))""")} AS lq_jm,
            ${lnQ("(COALESCE(bc.c12, 0) + 1) / CAST(COALESCE(cc.c1, 0) + sc.v AS DOUBLE)")} AS lq_a1
          FROM te LEFT JOIN bc USING (w1, w2) LEFT JOIN cc USING (w1)
          LEFT JOIN uc USING (w2) CROSS JOIN sc CROSS JOIN lams)
    SELECT source, lam_ppm,
      CAST(SUM(cte) AS BIGINT) AS n_test_bigrams,
      -CAST(SUM(cte * lq_jm) AS DOUBLE) / CAST(SUM(cte) AS BIGINT) / 10000.0 AS ce_jm,
      -CAST(SUM(cte * lq_a1) AS DOUBLE) / CAST(SUM(cte) AS BIGINT) / 10000.0 AS ce_addone,
      (-CAST(SUM(cte * lq_a1) AS DOUBLE) / CAST(SUM(cte) AS BIGINT) / 10000.0)
        - (-CAST(SUM(cte * lq_jm) AS DOUBLE) / CAST(SUM(cte) AS BIGINT) / 10000.0) AS gain
    FROM j GROUP BY source, lam_ppm ORDER BY source, lam_ppm"""))

  // ---------------------------------------------------------------- t47
  // CONTAMINATION-DETECTOR ENSEMBLE — d35's agreement discipline applied
  // to decontamination: the n-gram detector (t12, verbatim-sequence
  // overlap) and a semantic detector (m15's deterministic 16-bin
  // token-hash-histogram cosine standing in for an embedding encoder,
  // bar 0.98) run against the SAME eval set (doc_id % 97), and every doc
  // flagged by either is reported with BOTH signals — the calibration
  // view a release gate needs before trusting one detector alone. On
  // this corpus the sets are disjoint and that is the finding: the
  // n-gram flags are single-collision noise (n_hit = 1 of ~60 grams)
  // while the distributional near-dups the corpus actually plants never
  // repeat a verbatim 4-gram, so each detector is blind to the other's
  // contamination style (d35's lesson, paraphrase edition). Composes the
  // REGISTERED t12 plan; the semantic side is |eval|-broadcast with a
  // map-side max aggregate (d34's shape), never quadratic.
  private val t47 = QueryDef(
    "t47_contamination_ensemble",
    (s, dir) => {
      val ng = t12.run(s, dir)
        .select(col("doc_id"), col("n_hit"), col("n_distinct_grams"),
          lit(1L).as("ng_flag"))
      val tok = docs(s, dir)
        .select(col("doc_id"), explode(split(col("text"), " ")).as("t"))
        .select(col("doc_id"), expr(s"${strHashExpr("t")} % 16").as("bin"))
      val vec = tok.groupBy(col("doc_id"), col("bin")).agg(count(lit(1)).as("c"))
        .groupBy(col("doc_id"))
        .agg(map_from_entries(collect_list(struct(col("bin"), col("c")))).as("m"))
        .select(col("doc_id"),
          expr("transform(sequence(0, 15), b -> coalesce(element_at(m, b), 0L))").as("v"))
        .withColumn("n2", expr(Tables.dotExpr("v", "v")))
      val ev = vec.filter(col("doc_id") % 97 === 0)
        .select(col("v").as("evv"), col("n2").as("en2"))
      // NOT materialized although read twice (sem_flag filter + the
      // best_sim join): the r21 paired A/B read the eager checkpoint at
      // +1.0 s (2.8→3.8 s at sf0.1) — the duplicate broadcast-similarity
      // subtree is cheaper than the materialization job here, because
      // the two reads run as concurrent stages of one job
      val best = vec.filter(col("doc_id") % 97 =!= 0)
        .join(broadcast(ev))
        .withColumn("sim", cosine("v", "n2", "evv", "en2"))
        .groupBy(col("doc_id"))
        .agg(max(col("sim")).as("best_sim"))
      val sem = best.filter(col("best_sim") >= 0.98)
        .select(col("doc_id"), lit(1L).as("sem_flag"))
      ng.join(sem, Seq("doc_id"), "full_outer")
        .join(best, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("n_hit"), lit(0L)).as("n_hit"),
          expr("""CASE WHEN coalesce(n_distinct_grams, 0L) > 0
                  THEN coalesce(n_hit, 0L) * 1000000 DIV n_distinct_grams
                  ELSE 0L END""").as("gram_share_ppm"),
          round(col("best_sim"), 6).as("best_sim"),
          when(col("ng_flag") === 1 && col("sem_flag") === 1, lit("both"))
            .when(col("ng_flag") === 1, lit("ngram_only"))
            .otherwise(lit("semantic_only")).as("verdict"))
        .orderBy(col("doc_id"))
    },
    Some(s"""WITH th AS (
      SELECT doc_id,
        list_transform(string_split(text, ' '), t -> ${strHashSql("t")}) AS th
      FROM documents),
    ngr AS (SELECT doc_id, ${ngramSqlDuck("th", 4)} AS ngs FROM th),
    ex AS (SELECT DISTINCT doc_id, unnest(ngs) AS ng FROM ngr),
    bench AS (SELECT DISTINCT ng FROM ex WHERE doc_id % 97 = 0),
    corpus AS (SELECT doc_id, ng FROM ex WHERE doc_id % 97 <> 0),
    per_doc AS (SELECT doc_id, COUNT(*) AS n_distinct_grams
                FROM corpus GROUP BY doc_id),
    hits AS (SELECT c.doc_id, COUNT(*) AS n_hit
             FROM corpus c JOIN bench USING (ng) GROUP BY c.doc_id),
    ngside AS (SELECT h.doc_id, h.n_hit, p.n_distinct_grams, 1 AS ng_flag
               FROM hits h JOIN per_doc p USING (doc_id)),
    tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents),
    hb AS (SELECT doc_id, ${strHashSql("t")} % 16 AS bin FROM tok),
    hist AS (SELECT doc_id, bin, COUNT(*) AS c FROM hb GROUP BY 1, 2),
    dense AS (SELECT d.doc_id, g.b AS bin, COALESCE(hist.c, 0) AS c
      FROM (SELECT DISTINCT doc_id FROM hist) d
      CROSS JOIN (SELECT unnest(generate_series(0, 15)) AS b) g
      LEFT JOIN hist ON hist.doc_id = d.doc_id AND hist.bin = g.b),
    vec AS (SELECT doc_id, list(c ORDER BY bin) AS v FROM dense GROUP BY doc_id),
    vn AS (SELECT doc_id, v, ${dotSql("v", "v")} AS n2 FROM vec),
    evd AS (SELECT v AS evv, n2 AS en2 FROM vn WHERE doc_id % 97 = 0),
    best AS (SELECT c.doc_id,
        MAX(CAST(${dotSql("c.v", "e.evv")} AS DOUBLE) /
            (sqrt(CAST(c.n2 AS DOUBLE)) * sqrt(CAST(e.en2 AS DOUBLE)))) AS best_sim
      FROM vn c CROSS JOIN evd e WHERE c.doc_id % 97 <> 0 GROUP BY c.doc_id),
    sem AS (SELECT doc_id, 1 AS sem_flag FROM best WHERE best_sim >= 0.98),
    flags AS (SELECT COALESCE(n.doc_id, s.doc_id) AS doc_id,
        n.n_hit, n.n_distinct_grams, n.ng_flag, s.sem_flag
      FROM ngside n FULL OUTER JOIN sem s ON n.doc_id = s.doc_id)
    SELECT f.doc_id,
      CAST(COALESCE(f.n_hit, 0) AS BIGINT) AS n_hit,
      CAST(CASE WHEN COALESCE(f.n_distinct_grams, 0) > 0
           THEN COALESCE(f.n_hit, 0) * 1000000 // f.n_distinct_grams
           ELSE 0 END AS BIGINT) AS gram_share_ppm,
      round(b.best_sim, 6) AS best_sim,
      CASE WHEN f.ng_flag = 1 AND f.sem_flag = 1 THEN 'both'
           WHEN f.ng_flag = 1 THEN 'ngram_only'
           ELSE 'semantic_only' END AS verdict
    FROM flags f LEFT JOIN best b ON f.doc_id = b.doc_id
    ORDER BY f.doc_id"""))

  // ---------------------------------------------------------------- t48
  // KNESER–NEY BIGRAM LM — the smoother the LM family has been building
  // toward (t30 add-one → t46 Jelinek-Mercer → this): absolute
  // discounting (D = 3/4, exact in quarters) with the CONTINUATION-
  // COUNT backoff that is KN's actual insight — a word's backoff mass
  // is how many distinct CONTEXTS it follows (N1+(·,w)), not how often
  // it occurs, so "Francisco" (frequent but only ever after "San")
  // stops stealing probability from genuinely free-floating words. Run
  // side by side with the SAME discounting backed off to the raw
  // unigram distribution, so the gain column isolates exactly the
  // continuation-count idea. Measured on this corpus: |gain| < 6e-4
  // nats, slightly negative — the generator's near-uniform word reuse
  // makes continuation counts track raw frequency (no "Francisco"
  // words, t47's lesson: the synthetic corpus lacks that failure mode),
  // so the side-by-side is the deliverable, not a KN victory lap.
  // Scale: the ONE token-volume shuffle is the
  // train (w1, w2) count — context totals c1, follower fan-out
  // N1+(w1,·), continuation counts N1+(·,w2), unigram counts, and all
  // scalars derive from that bigram-type-bounded aggregate (t36's
  // reused-exchange discipline); the held-out scoring side joins
  // against vocabulary-bounded tables only. Unseen contexts back off to
  // the (+1-floored) continuation/unigram distribution, so every test
  // probability is positive and both engines' lnQ agree exactly.
  private val t48 = QueryDef(
    "t48_kneser_ney_lm",
    (s, dir) => {
      val bi = docs(s, dir)
        .select(col("doc_id"), col("source"), split(col("text"), " ").as("ws"))
        .filter(size(col("ws")) >= 2)
        .select(col("doc_id"), col("source"), explode(expr(
          """transform(sequence(1, size(ws) - 1),
             i -> struct(element_at(ws, i) AS w1, element_at(ws, i + 1) AS w2))"""))
          .as("b"))
        .select(col("doc_id"), col("source"), col("b.w1"), col("b.w2"))
      val isTrain = expr(s"${strHashExpr("CAST(doc_id AS STRING)")} % 10") < 8
      // the one token-volume exchange; every LM table below derives from it
      val bc = bi.filter(isTrain)
        .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c12"))
        .cache()
      val ctx = bc.groupBy(col("w1"))
        .agg(sum(col("c12")).as("c1"), count(lit(1)).as("nf"))
      val cont = bc.groupBy(col("w2"))
        .agg(count(lit(1)).as("np2"), sum(col("c12")).as("cw2"))
      val scalars = bc.agg(count(lit(1)).as("nbt"),
        countDistinct(col("w2")).as("vc"), sum(col("c12")).as("ntr"))
      // discounted mass in quarters: max(c12 − 3/4, 0) = (4·c12 − 3)/4
      val numQ = "CASE WHEN coalesce(c12, 0L) >= 1 THEN 4 * c12 - 3 ELSE 0L END"
      bi.filter(!isTrain)
        .groupBy(col("source"), col("w1"), col("w2")).agg(count(lit(1)).as("cte"))
        .join(bc, Seq("w1", "w2"), "left")
        .join(ctx, Seq("w1"), "left")
        .join(cont, Seq("w2"), "left")
        .crossJoin(broadcast(scalars))
        .select(col("source"), col("cte"),
          when(col("c1").isNull, col("cte")).otherwise(0L).as("ctx_oov"),
          expr(lnQ(
            s"""CASE WHEN coalesce(c1, 0L) > 0
                THEN CAST($numQ AS DOUBLE) / (4.0D * c1) +
                     (3.0D * nf / (4.0D * c1)) *
                     (CAST(coalesce(np2, 0L) + 1 AS DOUBLE) / (nbt + vc))
                ELSE CAST(coalesce(np2, 0L) + 1 AS DOUBLE) / (nbt + vc) END"""))
            .as("lq_kn"),
          expr(lnQ(
            s"""CASE WHEN coalesce(c1, 0L) > 0
                THEN CAST($numQ AS DOUBLE) / (4.0D * c1) +
                     (3.0D * nf / (4.0D * c1)) *
                     (CAST(coalesce(cw2, 0L) + 1 AS DOUBLE) / (ntr + vc))
                ELSE CAST(coalesce(cw2, 0L) + 1 AS DOUBLE) / (ntr + vc) END"""))
            .as("lq_abs"))
        .groupBy(col("source"))
        .agg(sum(col("cte")).as("n_test_bigrams"),
          sum(col("ctx_oov")).as("n_ctx_oov"),
          sum(col("cte") * col("lq_kn")).as("sk"),
          sum(col("cte") * col("lq_abs")).as("sa"))
        .select(col("source"), col("n_test_bigrams"), col("n_ctx_oov"),
          expr("-CAST(sk AS DOUBLE) / n_test_bigrams / 10000.0D").as("ce_kn"),
          expr("-CAST(sa AS DOUBLE) / n_test_bigrams / 10000.0D").as("ce_abs"))
        .withColumn("gain", expr("ce_abs - ce_kn"))
        .orderBy(col("source"))
    },
    Some {
      val numQ = "CASE WHEN COALESCE(c12, 0) >= 1 THEN 4 * c12 - 3 ELSE 0 END"
      s"""WITH $lmBigramCte,
    ctx AS (SELECT w1, SUM(c12) AS c1, COUNT(*) AS nf FROM bc GROUP BY 1),
    cont AS (SELECT w2, COUNT(*) AS np2, SUM(c12) AS cw2 FROM bc GROUP BY 1),
    sc AS (SELECT COUNT(*) AS nbt, COUNT(DISTINCT w2) AS vc, SUM(c12) AS ntr FROM bc),
    te AS (SELECT source, w1, w2, COUNT(*) AS cte FROM bi
           WHERE ${strHashSql("CAST(doc_id AS VARCHAR)")} % 10 >= 8 GROUP BY 1, 2, 3),
    j AS (SELECT source, cte,
            CASE WHEN ctx.c1 IS NULL THEN cte ELSE 0 END AS ctx_oov,
            ${lnQ(s"""CASE WHEN COALESCE(ctx.c1, 0) > 0
                THEN CAST($numQ AS DOUBLE) / (4.0 * ctx.c1) +
                     (3.0 * ctx.nf / (4.0 * ctx.c1)) *
                     (CAST(COALESCE(cont.np2, 0) + 1 AS DOUBLE) / (sc.nbt + sc.vc))
                ELSE CAST(COALESCE(cont.np2, 0) + 1 AS DOUBLE) / (sc.nbt + sc.vc) END""")} AS lq_kn,
            ${lnQ(s"""CASE WHEN COALESCE(ctx.c1, 0) > 0
                THEN CAST($numQ AS DOUBLE) / (4.0 * ctx.c1) +
                     (3.0 * ctx.nf / (4.0 * ctx.c1)) *
                     (CAST(COALESCE(cont.cw2, 0) + 1 AS DOUBLE) / (sc.ntr + sc.vc))
                ELSE CAST(COALESCE(cont.cw2, 0) + 1 AS DOUBLE) / (sc.ntr + sc.vc) END""")} AS lq_abs
          FROM te LEFT JOIN bc USING (w1, w2) LEFT JOIN ctx USING (w1)
          LEFT JOIN cont USING (w2) CROSS JOIN sc)
    SELECT source, CAST(SUM(cte) AS BIGINT) AS n_test_bigrams,
      CAST(SUM(ctx_oov) AS BIGINT) AS n_ctx_oov,
      -CAST(SUM(cte * lq_kn) AS DOUBLE) / CAST(SUM(cte) AS BIGINT) / 10000.0 AS ce_kn,
      -CAST(SUM(cte * lq_abs) AS DOUBLE) / CAST(SUM(cte) AS BIGINT) / 10000.0 AS ce_abs,
      (-CAST(SUM(cte * lq_abs) AS DOUBLE) / CAST(SUM(cte) AS BIGINT) / 10000.0)
        - (-CAST(SUM(cte * lq_kn) AS DOUBLE) / CAST(SUM(cte) AS BIGINT) / 10000.0) AS gain
    FROM j GROUP BY source ORDER BY source"""
    })

  // ---------------------------------------------------------------- t49
  // LARGEST-REMAINDER QUOTA ALLOCATION (Hare) — the integer-seats step
  // every mixing manifest needs and ppm rates can't give: allocate
  // EXACTLY N training slots across sources proportional to token
  // mass, where floors alone under-shoot by up to |sources|−1 slots
  // and naive rounding over/under-shoots unpredictably. Floor quotas
  // plus one extra slot to the sources with the largest fractional
  // remainders (ties by source name) sums to N by construction — and
  // the __total__ row CHECKS it, so the manifest is machine-consumable
  // without trust. All arithmetic is exact integer (N·mass products;
  // at 100 TB promote to DECIMAL(38,0), the s31 rule); the remainder
  // rank is a window over the |sources|-bounded aggregate, never the
  // corpus. Complements q170/m19 (which price rates) with exact seats.
  private val QuotaN = 10000L

  private val t49 = QueryDef(
    "t49_quota_allocation",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val mass = docsNarrow(s, dir)
        .select(col("source"), size(split(col("text"), " ")).cast("long").as("toks"))
        .groupBy(col("source")).agg(sum(col("toks")).as("mass"))
      val tot = mass.agg(sum(col("mass")).as("total"))
      val seats = mass.crossJoin(broadcast(tot))
        .withColumn("floor_q", expr(s"($QuotaN * mass) DIV total"))
        .withColumn("frac_num", expr(s"($QuotaN * mass) % total"))
      val withRemainder = seats
        .withColumn("rnk", row_number().over(
          Window.orderBy(col("frac_num").desc, col("source"))))
        .crossJoin(broadcast(
          seats.agg((lit(QuotaN) - sum(col("floor_q"))).as("n_extra"))))
        .withColumn("extra", when(col("rnk") <= col("n_extra"), 1L).otherwise(0L))
        .withColumn("final_q", col("floor_q") + col("extra"))
        .select(col("source"), col("mass"), col("floor_q"), col("frac_num"),
          col("extra"), col("final_q"))
      val total = withRemainder
        .agg(sum(col("mass")).as("mass"), sum(col("floor_q")).as("floor_q"),
          lit(-1L).as("frac_num"), sum(col("extra")).as("extra"),
          sum(col("final_q")).as("final_q"))
        .withColumn("source", lit("__total__"))
        .select(col("source"), col("mass"), col("floor_q"), col("frac_num"),
          col("extra"), col("final_q"))
      withRemainder.unionByName(total).orderBy(col("source"))
    },
    Some(s"""WITH mass AS (
      SELECT source, SUM(len(string_split(text, ' '))) AS mass
      FROM documents GROUP BY 1),
    tot AS (SELECT SUM(mass) AS total FROM mass),
    seats AS (SELECT source, mass,
        ($QuotaN * mass) // total AS floor_q,
        ($QuotaN * mass) % total AS frac_num
      FROM mass CROSS JOIN tot),
    ranked AS (SELECT *,
        ROW_NUMBER() OVER (ORDER BY frac_num DESC, source) AS rnk,
        (SELECT $QuotaN - SUM(floor_q) FROM seats) AS n_extra
      FROM seats),
    alloc AS (SELECT source, mass, floor_q, frac_num,
        CASE WHEN rnk <= n_extra THEN 1 ELSE 0 END AS extra,
        floor_q + CASE WHEN rnk <= n_extra THEN 1 ELSE 0 END AS final_q
      FROM ranked)
    SELECT source, CAST(mass AS BIGINT) AS mass, CAST(floor_q AS BIGINT) AS floor_q,
      CAST(frac_num AS BIGINT) AS frac_num, CAST(extra AS BIGINT) AS extra,
      CAST(final_q AS BIGINT) AS final_q
    FROM (SELECT * FROM alloc
          UNION ALL
          SELECT '__total__', SUM(mass), SUM(floor_q), -1, SUM(extra), SUM(final_q)
          FROM alloc)
    ORDER BY source"""))

  // ---------------------------------------------------------------- t50
  // DEDUP → LM EFFECT — the end-to-end measurement the whole d-family
  // exists to enable: train the same add-one bigram LM on the raw train
  // split and on the DEDUPED train split (d05's simhash pairs → CC →
  // drop every non-representative cluster member, d17's selection rule)
  // and score BOTH on the identical held-out set. The output is the
  // causal readout curation decisions actually need — how much held-out
  // cross-entropy the near-dup mass was buying or costing — instead of
  // the proxy counts (d33's effective size, t13's repetition) that only
  // correlate with it. Both LMs derive from one bigram extraction; the
  // dedup variant differs by one anti-join against the CC drop set
  // (pair-volume-bounded); the held-out scoring join runs once per
  // variant against vocabulary-bounded tables. The oracle replays the
  // full chain including the recursive-CTE component closure. Measured
  // here: the simhash clusters cover ~85% of this template corpus
  // (train docs 400 → ~60) and held-out CE WORSENS 3.42 → 3.52 — when
  // the "duplicates" ARE the distribution (template text), aggressive
  // dedup removes signal, which is exactly the decision this readout
  // exists to catch before a training run (the d33 soft-weight
  // alternative is the fix, not blanket removal).
  private val t50 = QueryDef(
    "t50_dedup_lm_effect",
    (s, dir) => {
      val pairs = Dedup.simhashPairs(s, dir)
      val labels = Tables.withShuffle(s, 8) {
        graft.operators.ConnectedComponents.label(pairs)
      }
      val dropped = labels.filter(col("node") =!= col("comp"))
        .select(col("node").as("doc_id"))
      val bi = docs(s, dir)
        .select(col("doc_id"), split(col("text"), " ").as("ws"))
        .filter(size(col("ws")) >= 2)
        .select(col("doc_id"), explode(expr(
          """transform(sequence(1, size(ws) - 1),
             i -> struct(element_at(ws, i) AS w1, element_at(ws, i + 1) AS w2))"""))
          .as("b"))
        .select(col("doc_id"), col("b.w1"), col("b.w2"))
      val isTrain = expr(s"${strHashExpr("CAST(doc_id AS STRING)")} % 10") < 8
      val trainRaw = bi.filter(isTrain).localCheckpoint()
      val trainDedup = trainRaw.join(dropped, Seq("doc_id"), "left_anti")
      val test = bi.filter(!isTrain)
        .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("cte"))
        .localCheckpoint() // identical held-out set for both variants
      def score(train: org.apache.spark.sql.DataFrame, tag: String) = {
        val bc = train.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c12"))
        val ctx = bc.groupBy(col("w1")).agg(sum(col("c12")).as("c1"))
        val scalars = bc.agg(countDistinct(col("w2")).as("vc"))
          .crossJoin(train.agg(countDistinct(col("doc_id")).as("n_docs"),
            count(lit(1)).as("n_bigrams")))
        test.join(bc, Seq("w1", "w2"), "left")
          .join(ctx, Seq("w1"), "left")
          .crossJoin(broadcast(scalars))
          .select(col("cte"), col("n_docs"), col("n_bigrams"), col("vc"),
            expr(lnQ(
              "(coalesce(c12, 0L) + 1) / CAST(coalesce(c1, 0L) + vc AS DOUBLE)"))
              .as("lq"))
          .groupBy(col("n_docs"), col("n_bigrams"), col("vc"))
          .agg(sum(col("cte")).as("n_test_bigrams"),
            sum(col("cte") * col("lq")).as("sq"))
          .select(lit(tag).as("variant"), col("n_docs").as("n_train_docs"),
            col("n_bigrams").as("n_train_bigrams"), col("vc").as("vocab"),
            col("n_test_bigrams"),
            expr("-CAST(sq AS DOUBLE) / n_test_bigrams / 10000.0D").as("ce"))
      }
      score(trainRaw, "a_raw").unionByName(score(trainDedup, "b_dedup"))
        .orderBy(col("variant"))
    },
    Some(s"""WITH RECURSIVE ${Dedup.simhashCteDuck},
    ${Dedup.simhashPairsCte("p")},
    ${Dedup.undirectedCte("e", "p")},
    r AS (SELECT id1 AS node, id2 AS reach FROM e
          UNION
          SELECT r.node, e.id2 FROM r JOIN e ON r.reach = e.id1),
    lab AS (SELECT node, LEAST(node, MIN(reach)) AS comp FROM r GROUP BY node),
    dropped AS (SELECT node AS doc_id FROM lab WHERE node <> comp),
    d AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents
          WHERE len(string_split(text, ' ')) >= 2),
    ${bigramStepCte("doc_id, ws")},
    bi AS (SELECT doc_id, ws[i] AS w1, ws[i + 1] AS w2 FROM bx),
    trn AS (SELECT * FROM bi WHERE ${strHashSql("CAST(doc_id AS VARCHAR)")} % 10 < 8),
    trd AS (SELECT * FROM trn WHERE doc_id NOT IN (SELECT doc_id FROM dropped)),
    te AS (SELECT w1, w2, COUNT(*) AS cte FROM bi
           WHERE ${strHashSql("CAST(doc_id AS VARCHAR)")} % 10 >= 8 GROUP BY 1, 2),
    ${Seq("a_raw" -> "trn", "b_dedup" -> "trd").map { case (tag, t) =>
        s"""bc_$t AS (SELECT w1, w2, COUNT(*) AS c12 FROM $t GROUP BY 1, 2),
    cx_$t AS (SELECT w1, SUM(c12) AS c1 FROM bc_$t GROUP BY 1),
    sc_$t AS (SELECT (SELECT COUNT(DISTINCT w2) FROM bc_$t) AS vc,
                (SELECT COUNT(DISTINCT doc_id) FROM $t) AS n_docs,
                (SELECT COUNT(*) FROM $t) AS n_bigrams),
    out_$t AS (
      SELECT '$tag' AS variant, CAST(n_docs AS BIGINT) AS n_train_docs,
        CAST(n_bigrams AS BIGINT) AS n_train_bigrams, CAST(vc AS BIGINT) AS vocab,
        CAST(SUM(cte) AS BIGINT) AS n_test_bigrams,
        -CAST(SUM(cte * ${lnQ("(COALESCE(c12, 0) + 1) / CAST(COALESCE(c1, 0) + vc AS DOUBLE)")}) AS DOUBLE)
          / CAST(SUM(cte) AS BIGINT) / 10000.0 AS ce
      FROM te LEFT JOIN bc_$t USING (w1, w2) LEFT JOIN cx_$t USING (w1)
      CROSS JOIN sc_$t
      GROUP BY n_docs, n_bigrams, vc)"""
      }.mkString(",\n    ")}
    SELECT * FROM (SELECT * FROM out_trn UNION ALL SELECT * FROM out_trd)
    ORDER BY variant"""))

  // ---------------------------------------------------------------- t51
  // STUPID BACKOFF — the web-scale smoothing that completes the family
  // (t30 add-one, t43/t48 Kneser-Ney, t46 Jelinek-Mercer): Brants et
  // al.'s S(w2|w1) = c12/c1 when the bigram was seen, else α·p(w2) with
  // α = 0.4 — no normalization, no discounting, which is exactly why it
  // is the only smoothing that runs at trillion-token scale (the count
  // tables need no second pass). The backoff unigram is add-one so
  // unseen test words keep a finite score. Reuses t46's split and count
  // tables verbatim (one bigram exchange serves bc/cc, one token scan
  // serves uc) and scores JM at λ=0.5 in the SAME pass, so ce_sb vs
  // ce_jm reads off one result; `backoff_ppm` prices how often the test
  // set actually left the bigram table — the quantity that decides
  // whether stupid backoff's pseudo-probabilities (they don't sum to 1,
  // so ce_sb is a pseudo-CE — comparable across models scored on the
  // same test set, not an absolute entropy) are safe for ranking. All
  // per-type log scores in the exact 1e-4 lnQ units.
  private val t51 = QueryDef(
    "t51_stupid_backoff",
    (s, dir) => {
      val bi = docs(s, dir)
        .select(col("doc_id"), col("source"), split(col("text"), " ").as("ws"))
        .filter(size(col("ws")) >= 2)
        .select(col("doc_id"), col("source"), explode(expr(
          """transform(sequence(1, size(ws) - 1),
             i -> struct(element_at(ws, i) AS w1, element_at(ws, i + 1) AS w2))"""))
          .as("b"))
        .select(col("doc_id"), col("source"), col("b.w1"), col("b.w2"))
      val isTrain = expr(s"${strHashExpr("CAST(doc_id AS STRING)")} % 10") < 8
      val train = bi.filter(isTrain)
      val bc = train.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c12"))
      val cc = train.groupBy(col("w1")).agg(count(lit(1)).as("c1"))
      val tok = docs(s, dir)
        .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
        .filter(isTrain)
      val uc = tok.groupBy(col("w")).agg(count(lit(1)).as("cw2"))
        .withColumnRenamed("w", "w2")
      val scalars = tok.agg(count(lit(1)).as("ntr"), countDistinct(col("w")).as("v"))
      bi.filter(!isTrain)
        .groupBy(col("source"), col("w1"), col("w2")).agg(count(lit(1)).as("cte"))
        .join(bc, Seq("w1", "w2"), "left")
        .join(cc, Seq("w1"), "left")
        .join(uc, Seq("w2"), "left")
        .crossJoin(broadcast(scalars))
        .select(col("source"), col("cte"),
          when(coalesce(col("c12"), lit(0L)) > 0, 0L).otherwise(1L).as("backed_off"),
          expr(lnQ(
            """CASE WHEN coalesce(c12, 0L) > 0
                    THEN CAST(c12 AS DOUBLE) / c1
                    ELSE 0.4D * (CAST(coalesce(cw2, 0L) + 1 AS DOUBLE) / (ntr + v)) END"""))
            .as("lq_sb"),
          expr(lnQ(
            """0.5D * (CASE WHEN coalesce(c1, 0L) > 0
                   THEN CAST(coalesce(c12, 0L) AS DOUBLE) / c1 ELSE 0.0D END) +
               0.5D * (CAST(coalesce(cw2, 0L) + 1 AS DOUBLE) / (ntr + v))"""))
            .as("lq_jm"))
        .groupBy(col("source"))
        .agg(sum(col("cte")).as("n_test_bigrams"),
          sum(col("cte") * col("backed_off")).as("n_backoff"),
          sum(col("cte") * col("lq_sb")).as("ssb"),
          sum(col("cte") * col("lq_jm")).as("sjm"))
        .select(col("source"), col("n_test_bigrams"),
          expr("n_backoff * 1000000 DIV n_test_bigrams").as("backoff_ppm"),
          expr("-CAST(ssb AS DOUBLE) / n_test_bigrams / 10000.0D").as("ce_sb"),
          expr("-CAST(sjm AS DOUBLE) / n_test_bigrams / 10000.0D").as("ce_jm"))
        .withColumn("delta", expr("ce_sb - ce_jm"))
        .orderBy(col("source"))
    },
    Some(s"""WITH $lmBigramCte,
    cc AS (SELECT w1, COUNT(*) AS c1 FROM bi
           WHERE ${strHashSql("CAST(doc_id AS VARCHAR)")} % 10 < 8 GROUP BY 1),
    tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
    tr AS (SELECT w FROM tok WHERE ${strHashSql("CAST(doc_id AS VARCHAR)")} % 10 < 8),
    uc AS (SELECT w AS w2, COUNT(*) AS cw2 FROM tr GROUP BY 1),
    sc AS (SELECT COUNT(*) AS ntr, COUNT(DISTINCT w) AS v FROM tr),
    te AS (SELECT source, w1, w2, COUNT(*) AS cte FROM bi
           WHERE ${strHashSql("CAST(doc_id AS VARCHAR)")} % 10 >= 8 GROUP BY 1, 2, 3),
    j AS (SELECT source, cte,
            CASE WHEN COALESCE(bc.c12, 0) > 0 THEN 0 ELSE 1 END AS backed_off,
            ${lnQ("""CASE WHEN COALESCE(bc.c12, 0) > 0
                     THEN CAST(bc.c12 AS DOUBLE) / cc.c1
                     ELSE 0.4 * (CAST(COALESCE(uc.cw2, 0) + 1 AS DOUBLE) / (sc.ntr + sc.v)) END""")}
              AS lq_sb,
            ${lnQ("""0.5 * (CASE WHEN COALESCE(cc.c1, 0) > 0
                   THEN CAST(COALESCE(bc.c12, 0) AS DOUBLE) / cc.c1 ELSE 0.0 END) +
               0.5 * (CAST(COALESCE(uc.cw2, 0) + 1 AS DOUBLE) / (sc.ntr + sc.v))""")}
              AS lq_jm
          FROM te LEFT JOIN bc USING (w1, w2) LEFT JOIN cc USING (w1)
          LEFT JOIN uc USING (w2) CROSS JOIN sc)
    SELECT source, CAST(SUM(cte) AS BIGINT) AS n_test_bigrams,
      CAST(SUM(cte * backed_off) * 1000000 // SUM(cte) AS BIGINT) AS backoff_ppm,
      -CAST(SUM(cte * lq_sb) AS DOUBLE) / CAST(SUM(cte) AS BIGINT) / 10000.0 AS ce_sb,
      -CAST(SUM(cte * lq_jm) AS DOUBLE) / CAST(SUM(cte) AS BIGINT) / 10000.0 AS ce_jm,
      (-CAST(SUM(cte * lq_sb) AS DOUBLE) / CAST(SUM(cte) AS BIGINT) / 10000.0)
        - (-CAST(SUM(cte * lq_jm) AS DOUBLE) / CAST(SUM(cte) AS BIGINT) / 10000.0) AS delta
    FROM j GROUP BY source ORDER BY source"""))

  // ---------------------------------------------------------------- t52
  // MOVING-AVERAGE TYPE-TOKEN RATIO (MATTR, Covington & McFall) — the
  // length-robust lexical-diversity signal the quality family still
  // lacked: raw TTR (t11's concentration is its corpus-side cousin)
  // collapses as documents grow (Heaps — t31 measures exactly that), so
  // quality filters that threshold on it systematically kill long
  // documents. MATTR slides a fixed 20-token window (stride 10) and
  // averages per-window distinct ratios, making the score
  // length-comparable. Everything is exact integer arithmetic: window
  // distinct counts summed per doc, mattr_ppm = Σuniq·1e6 / (wins·20),
  // then a decile histogram plus a -1 total row whose average is
  // WINDOW-weighted (the corpus-level MATTR, not the mean of per-doc
  // means — long docs count by their windows). Scale: per-row array
  // ops only (the windows never explode to rows — transform + aggregate
  // inside the row), one hash aggregate over ≤11 buckets; boilerplate
  // template families land in the low deciles, which is the filter's
  // point.
  private val t52 = QueryDef(
    "t52_mattr_diversity",
    (s, dir) => {
      val per = docs(s, dir)
        .select(col("doc_id"), split(col("text"), " ").as("ws"))
        .filter(size(col("ws")) >= 20)
        .select(col("doc_id"),
          expr("""transform(sequence(1, size(ws) - 19, 10),
                  i -> CAST(size(array_distinct(slice(ws, i, 20))) AS BIGINT))""")
            .as("uqs"))
        .select(col("doc_id"),
          expr("aggregate(uqs, 0L, (a, x) -> a + x)").as("uq_sum"),
          size(col("uqs")).cast("long").as("n_windows"))
        .withColumn("mattr_ppm", expr("uq_sum * 1000000 DIV (n_windows * 20)"))
      val buckets = per.withColumn("bucket", expr("mattr_ppm DIV 100000"))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n_docs"),
          expr("sum(mattr_ppm) DIV count(1)").as("avg_mattr_ppm"),
          min(col("mattr_ppm")).as("min_ppm"), max(col("mattr_ppm")).as("max_ppm"))
      val total = per.agg(count(lit(1)).as("n_docs"),
          expr("sum(uq_sum) * 1000000 DIV (sum(n_windows) * 20)").as("avg_mattr_ppm"),
          min(col("mattr_ppm")).as("min_ppm"), max(col("mattr_ppm")).as("max_ppm"))
        .select(lit(-1L).as("bucket"), col("n_docs"), col("avg_mattr_ppm"),
          col("min_ppm"), col("max_ppm"))
      buckets.unionByName(total).orderBy(col("bucket"))
    },
    Some("""WITH d AS (
      SELECT doc_id, string_split(text, ' ') AS ws FROM documents
      WHERE len(string_split(text, ' ')) >= 20),
    per AS (SELECT doc_id,
        CAST(list_sum(list_transform(generate_series(1, len(ws) - 19, 10),
          i -> CAST(len(list_distinct(ws[i:i+19])) AS BIGINT))) AS BIGINT) AS uq_sum,
        CAST(len(generate_series(1, len(ws) - 19, 10)) AS BIGINT) AS n_windows
      FROM d),
    p2 AS (SELECT doc_id, uq_sum, n_windows,
        uq_sum * 1000000 // (n_windows * 20) AS mattr_ppm FROM per)
    SELECT CAST(mattr_ppm // 100000 AS BIGINT) AS bucket,
      CAST(COUNT(*) AS BIGINT) AS n_docs,
      CAST(SUM(mattr_ppm) // COUNT(*) AS BIGINT) AS avg_mattr_ppm,
      CAST(MIN(mattr_ppm) AS BIGINT) AS min_ppm,
      CAST(MAX(mattr_ppm) AS BIGINT) AS max_ppm
    FROM p2 GROUP BY 1
    UNION ALL
    SELECT -1, CAST(COUNT(*) AS BIGINT),
      CAST(SUM(uq_sum) * 1000000 // (SUM(n_windows) * 20) AS BIGINT),
      CAST(MIN(mattr_ppm) AS BIGINT), CAST(MAX(mattr_ppm) AS BIGINT)
    FROM p2
    ORDER BY bucket"""))

  // ---------------------------------------------------------------- t53
  // ENTROPY RATE / REDUNDANCY — the information-theoretic compressibility
  // signal per source: unigram entropy H(W), bigram conditional entropy
  // H(W₂|W₁) = H(W₁W₂) − H(W₁-as-prefix), and the first-order redundancy
  // 1 − H(W₂|W₁)/H(W) — how much of each source's token stream the
  // previous token already predicts. Template/boilerplate sources sit
  // high (the quality family's t13/t14 findings, now in nats); the
  // smoothing family (t30/t43/t46/t48/t51) measures models AGAINST this
  // corpus property, this measures the property itself. Every plogp term
  // is c·(lnQ(N) − lnQ(c)) — exact int64 off the quantized-log table —
  // summed before ONE double division per readout, so both engines
  // agree bit-for-bit. Scale: two map-side-combined count aggregates
  // (tokens, bigrams) and their per-source roll-ups; nothing else.
  private val t53 = QueryDef(
    "t53_entropy_rate",
    (s, dir) => {
      val tok = docs(s, dir)
        .select(col("source"), explode(split(col("text"), " ")).as("w"))
      val uc = tok.groupBy(col("source"), col("w")).agg(count(lit(1)).as("c"))
      val un = uc.groupBy(col("source")).agg(sum(col("c")).as("n"))
      val hUni = uc.join(un, Seq("source"))
        .select(col("source"), col("n"),
          expr(s"c * (${lnQ("n")} - ${lnQ("c")})").as("plp"))
        .groupBy(col("source"))
        .agg(max(col("n")).as("n_tokens"), sum(col("plp")).as("s_uni"))
      val bi = docs(s, dir)
        .select(col("source"), split(col("text"), " ").as("ws"))
        .filter(size(col("ws")) >= 2)
        .select(col("source"), explode(expr(
          """transform(sequence(1, size(ws) - 1),
             i -> struct(element_at(ws, i) AS w1, element_at(ws, i + 1) AS w2))"""))
          .as("b"))
        .select(col("source"), col("b.w1"), col("b.w2"))
      val bc = bi.groupBy(col("source"), col("w1"), col("w2")).agg(count(lit(1)).as("cb"))
      val bn = bc.groupBy(col("source")).agg(sum(col("cb")).as("m"))
      val hBig = bc.join(bn, Seq("source"))
        .select(col("source"), col("m"),
          expr(s"cb * (${lnQ("m")} - ${lnQ("cb")})").as("plp"))
        .groupBy(col("source"))
        .agg(max(col("m")).as("n_bigrams"), sum(col("plp")).as("s_big"))
      val pc = bc.groupBy(col("source"), col("w1")).agg(sum(col("cb")).as("cp"))
      val hPre = pc.join(bn, Seq("source"))
        .select(col("source"),
          expr(s"cp * (${lnQ("m")} - ${lnQ("cp")})").as("plp"))
        .groupBy(col("source")).agg(sum(col("plp")).as("s_pre"))
      hUni.join(hBig, Seq("source")).join(hPre, Seq("source"))
        .select(col("source"), col("n_tokens"), col("n_bigrams"),
          expr("CAST(s_uni AS DOUBLE) / n_tokens / 10000.0D").as("h_uni"),
          expr("(CAST(s_big AS DOUBLE) - s_pre) / n_bigrams / 10000.0D").as("h_cond"))
        .withColumn("redundancy", expr("(h_uni - h_cond) / h_uni"))
        .orderBy(col("source"))
    },
    Some(s"""WITH tok AS (
      SELECT source, unnest(string_split(text, ' ')) AS w FROM documents),
    uc AS (SELECT source, w, COUNT(*) AS c FROM tok GROUP BY 1, 2),
    un AS (SELECT source, SUM(c) AS n FROM uc GROUP BY 1),
    hu AS (SELECT uc.source, MAX(un.n) AS n_tokens,
             SUM(c * (${lnQ("un.n")} - ${lnQ("c")})) AS s_uni
           FROM uc JOIN un ON uc.source = un.source GROUP BY 1),
    d AS (SELECT source, string_split(text, ' ') AS ws FROM documents
          WHERE len(string_split(text, ' ')) >= 2),
    ${bigramStepCte("source, ws")},
    bi AS (SELECT source, ws[i] AS w1, ws[i + 1] AS w2 FROM bx),
    bc AS (SELECT source, w1, w2, COUNT(*) AS cb FROM bi GROUP BY 1, 2, 3),
    bn AS (SELECT source, SUM(cb) AS m FROM bc GROUP BY 1),
    hb AS (SELECT bc.source, MAX(bn.m) AS n_bigrams,
             SUM(cb * (${lnQ("bn.m")} - ${lnQ("cb")})) AS s_big
           FROM bc JOIN bn ON bc.source = bn.source GROUP BY 1),
    pcx AS (SELECT source, w1, SUM(cb) AS cp FROM bc GROUP BY 1, 2),
    hp AS (SELECT pcx.source,
             SUM(cp * (${lnQ("bn.m")} - ${lnQ("cp")})) AS s_pre
           FROM pcx JOIN bn ON pcx.source = bn.source GROUP BY 1)
    SELECT hu.source, CAST(n_tokens AS BIGINT) AS n_tokens,
      CAST(n_bigrams AS BIGINT) AS n_bigrams,
      CAST(s_uni AS DOUBLE) / n_tokens / 10000.0 AS h_uni,
      (CAST(s_big AS DOUBLE) - s_pre) / n_bigrams / 10000.0 AS h_cond,
      ((CAST(s_uni AS DOUBLE) / n_tokens / 10000.0)
        - ((CAST(s_big AS DOUBLE) - s_pre) / n_bigrams / 10000.0))
        / (CAST(s_uni AS DOUBLE) / n_tokens / 10000.0) AS redundancy
    FROM hu JOIN hb ON hu.source = hb.source JOIN hp ON hu.source = hp.source
    ORDER BY hu.source"""))

  // ---------------------------------------------------------------- t54
  // BRADLEY–TERRY ARENA RANKING — the pairwise-preference model behind
  // LLM leaderboard Elo: deterministic "battles" (adjacent doc pairs,
  // winner = higher distinct-token ratio, ties to the lower id) roll up
  // to per-source win/loss counts, and five Hunter-MM iterations solve
  // for source strengths: p_s ← W_s / Σ_o n_so/(p_s+p_o), renormalized
  // to mean 1 each round. Everything is int64 fixed point (strengths in
  // 1e-6 units, the d09 PageRank discipline), with a GREATEST(1, ·)
  // floor so an all-losses source cannot zero a later denominator —
  // both engines iterate bit-identically and the oracle unrolls the
  // same five rounds as chained CTEs. Scale: battles aggregate to a
  // |sources|² table before any iteration touches it; each MM round is
  // one join against a K-row strength table.
  private val t54 = QueryDef(
    "t54_bradley_terry",
    (s, dir) => {
      val scored = docs(s, dir)
        .select(col("doc_id"), col("source"), split(col("text"), " ").as("ws"))
        .filter(size(col("ws")) >= 1)
        .select(col("doc_id"), col("source"),
          expr("size(array_distinct(ws)) * 1000000 DIV size(ws)").as("score"))
      val battles = scored.withColumn("b", expr("doc_id DIV 2"))
      val paired = battles.as("x").join(battles.as("y"),
          col("x.b") === col("y.b") && col("x.doc_id") < col("y.doc_id"))
        .select(col("x.source").as("s1"), col("y.source").as("s2"),
          when(col("x.score") >= col("y.score"), 1L).otherwise(0L).as("w1"))
      val pairCounts = paired.groupBy(col("s1"), col("s2"))
        .agg(count(lit(1)).as("n"), sum(col("w1")).as("w1"))
        .localCheckpoint()
      val opps = pairCounts.select(col("s1").as("src"), col("s2").as("opp"), col("n"))
        .unionByName(pairCounts.select(col("s2").as("src"), col("s1").as("opp"), col("n")))
        .groupBy(col("src"), col("opp")).agg(sum(col("n")).as("n"))
        .localCheckpoint()
      val wins = pairCounts.select(col("s1").as("src"), col("w1").as("w"))
        .unionByName(pairCounts
          .select(col("s2").as("src"), (col("n") - col("w1")).as("w")))
        .groupBy(col("src")).agg(sum(col("w")).as("wins"))
        .localCheckpoint()
      val nSrc = opps.select(col("src")).distinct().count()
      var p = opps.select(col("src")).distinct()
        .withColumn("p", lit(1000000L)).localCheckpoint()
      (1 to 5).foreach { _ =>
        val denom = opps
          .join(p.select(col("src"), col("p").as("ps")), Seq("src"))
          .join(p.select(col("src").as("opp"), col("p").as("po")), Seq("opp"))
          .groupBy(col("src"))
          .agg(sum(expr("n * 1000000000000 DIV (ps + po)")).as("dq"))
        val raw = wins.join(denom, Seq("src"))
          .select(col("src"),
            expr("greatest(1L, wins * 1000000000000 DIV dq)").as("praw"))
        val tot = raw.agg(sum(col("praw")).as("tp"))
        p = raw.crossJoin(broadcast(tot))
          .select(col("src"), expr(s"praw * ${nSrc}L * 1000000 DIV tp").as("p"))
          .localCheckpoint()
      }
      import org.apache.spark.sql.expressions.Window
      val nb = opps.groupBy(col("src")).agg(sum(col("n")).as("n_battles"))
      p.join(wins, Seq("src")).join(nb, Seq("src"))
        .select(col("src").as("source"), col("n_battles"), col("wins"),
          col("p").as("strength_ppm"))
        .withColumn("rank", row_number().over(
          Window.orderBy(col("strength_ppm").desc, col("source"))).cast("long"))
        .orderBy(col("source"))
    },
    Some {
      // every iteration reads the PREVIOUS strengths twice (both join
      // sides) — the CTEs must be MATERIALIZED or DuckDB re-inlines the
      // whole chain per reference (2^iters blowup; measured as a hang),
      // and the round total comes from a window, not a scalar subquery,
      // so each round reads its raw strengths exactly once
      val iters = (1 to 5).map { k =>
        val prev = if (k == 1) "p0" else s"p${k - 1}"
        s"""d$k AS (SELECT o.src, SUM(o.n * 1000000000000 // (pa.p + pb.p)) AS dq
           FROM opps o JOIN $prev pa ON o.src = pa.src
           JOIN $prev pb ON o.opp = pb.src GROUP BY 1),
    r$k AS (SELECT w.src, GREATEST(1, w.wins * 1000000000000 // d$k.dq) AS praw
            FROM wins w JOIN d$k ON w.src = d$k.src),
    p$k AS MATERIALIZED (SELECT src,
              praw * ns.k * 1000000 // SUM(praw) OVER () AS p
            FROM r$k CROSS JOIN ns)"""
      }.mkString(",\n    ")
      s"""WITH sc AS (
      SELECT doc_id, source,
        CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) * 1000000
          // len(string_split(text, ' ')) AS score
      FROM documents WHERE len(string_split(text, ' ')) >= 1),
    bt AS (SELECT x.source AS s1, y.source AS s2,
             CASE WHEN x.score >= y.score THEN 1 ELSE 0 END AS w1
           FROM sc x JOIN sc y
             ON x.doc_id // 2 = y.doc_id // 2 AND x.doc_id < y.doc_id),
    pc AS (SELECT s1, s2, COUNT(*) AS n, SUM(w1) AS w1 FROM bt GROUP BY 1, 2),
    opps AS MATERIALIZED (SELECT src, opp, SUM(n) AS n FROM (
        SELECT s1 AS src, s2 AS opp, n FROM pc
        UNION ALL SELECT s2, s1, n FROM pc) GROUP BY 1, 2),
    wins AS MATERIALIZED (SELECT src, SUM(w) AS wins FROM (
        SELECT s1 AS src, w1 AS w FROM pc
        UNION ALL SELECT s2, n - w1 FROM pc) GROUP BY 1),
    ns AS (SELECT COUNT(DISTINCT src) AS k FROM opps),
    p0 AS MATERIALIZED (SELECT src, CAST(1000000 AS BIGINT) AS p
           FROM (SELECT DISTINCT src FROM opps)),
    $iters,
    nb AS (SELECT src, SUM(n) AS n_battles FROM opps GROUP BY 1)
    SELECT p5.src AS source, CAST(n_battles AS BIGINT) AS n_battles,
      CAST(wins AS BIGINT) AS wins, CAST(p5.p AS BIGINT) AS strength_ppm,
      CAST(ROW_NUMBER() OVER (ORDER BY p5.p DESC, p5.src) AS BIGINT) AS rank
    FROM p5 JOIN wins ON p5.src = wins.src JOIN nb ON p5.src = nb.src
    ORDER BY source"""
    })

  // ---------------------------------------------------------------- t55
  // FILTER ABLATION MATRIX — the question every t37-style rule battery
  // begs: which rules EARN their place? Per rule, the audit reports the
  // docs it fails (n_fail), the docs ONLY it fails (n_unique_fail — the
  // marginal removals lost if the rule were dropped), and the overlap
  // share (removals another rule would have caught anyway). A rule with
  // high n_fail but near-zero n_unique_fail is redundant; one with high
  // unique share carries the battery. Reuses t37's six flag definitions
  // VERBATIM (same chain, per-doc flags kept instead of lang-grouped),
  // so the two queries cannot drift; the z_total row reports
  // any/exactly-one/multi-fail accounting for the whole battery.
  // Scale: one flags pass + a 6-way per-row explode into a 6-row
  // aggregate — no joins beyond t37's own.
  private val t55 = QueryDef(
    "t55_filter_ablation",
    (s, dir) => {
      val dt = docsNarrow(s, dir)
        .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
        .groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("n"))
        .groupBy(col("doc_id"))
        .agg(
          sum(col("n")).as("n_tok"),
          max(col("n")).as("max_tok"),
          sum(when(col("w").isin("the", "a", "of", "to", "and"), 1L).otherwise(0L))
            .as("n_stop_distinct"),
          sum(when(col("w").rlike("^[a-z]+$"), col("n")).otherwise(0L)).as("n_alpha"))
      val tri = docs(s, dir)
        .select(col("doc_id"), col("n_chars"),
          expr("transform(split(text, ' '), t -> poly_hash(t))").as("th"))
        .withColumn("tg", expr(ngramExpr("th", 3)))
        .select(col("doc_id"), col("n_chars"),
          expr("CAST(size(tg) AS BIGINT)").as("n_tri"),
          expr("CAST(size(tg) - size(array_distinct(tg)) AS BIGINT)").as("dup_tri"))
      val flags = tri.join(dt, Seq("doc_id"))
        .withColumn("sum_len", col("n_chars") - (col("n_tok") - lit(1L)))
        .select(
          (!col("n_tok").between(50L, 100000L)).as("f_wordcount"),
          (col("sum_len") < col("n_tok") * 3 || col("sum_len") > col("n_tok") * 10)
            .as("f_meanlen"),
          (col("n_stop_distinct") < 2).as("f_stopword"),
          (col("max_tok") * 5 > col("n_tok")).as("f_maxtok"),
          (col("dup_tri") * 5 > col("n_tri")).as("f_duptri"),
          (col("n_alpha") * 5 < col("n_tok") * 4).as("f_alpha"))
        .withColumn("n_fails", expr(
          """CAST(f_wordcount AS INT) + CAST(f_meanlen AS INT) +
             CAST(f_stopword AS INT) + CAST(f_maxtok AS INT) +
             CAST(f_duptri AS INT) + CAST(f_alpha AS INT)""").cast("long"))
        .localCheckpoint()
      val perRule = flags.select(col("n_fails"), explode(expr(
          """array(named_struct('rule', 'alpha', 'failed', f_alpha),
                   named_struct('rule', 'duptri', 'failed', f_duptri),
                   named_struct('rule', 'maxtok', 'failed', f_maxtok),
                   named_struct('rule', 'meanlen', 'failed', f_meanlen),
                   named_struct('rule', 'stopword', 'failed', f_stopword),
                   named_struct('rule', 'wordcount', 'failed', f_wordcount))"""))
          .as("r"))
        .select(col("r.rule").as("rule"), col("r.failed").as("failed"), col("n_fails"))
        .groupBy(col("rule"))
        .agg(sum(when(col("failed"), 1L).otherwise(0L)).as("n_fail"),
          sum(when(col("failed") && col("n_fails") === 1L, 1L).otherwise(0L))
            .as("n_unique_fail"))
        .withColumn("overlap_ppm", expr(
          "CASE WHEN n_fail > 0 THEN (n_fail - n_unique_fail) * 1000000 DIV n_fail ELSE 0L END"))
      val total = flags.agg(
          sum(when(col("n_fails") > 0L, 1L).otherwise(0L)).as("n_fail"),
          sum(when(col("n_fails") === 1L, 1L).otherwise(0L)).as("n_unique_fail"))
        .select(lit("z_total").as("rule"), col("n_fail"), col("n_unique_fail"),
          expr("""CASE WHEN n_fail > 0
                  THEN (n_fail - n_unique_fail) * 1000000 DIV n_fail ELSE 0L END""")
            .as("overlap_ppm"))
      perRule.unionByName(total).orderBy(col("rule"))
    },
    Some(s"""WITH tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
    dw AS (SELECT doc_id, w, COUNT(*) AS n FROM tok GROUP BY 1, 2),
    dt AS (SELECT doc_id,
             CAST(SUM(n) AS BIGINT) AS n_tok,
             CAST(MAX(n) AS BIGINT) AS max_tok,
             CAST(SUM(CASE WHEN w IN ('the', 'a', 'of', 'to', 'and')
               THEN 1 ELSE 0 END) AS BIGINT) AS n_stop_distinct,
             CAST(SUM(CASE WHEN regexp_matches(w, '^[a-z]+$$')
               THEN n ELSE 0 END) AS BIGINT) AS n_alpha
           FROM dw GROUP BY 1),
    th AS (SELECT doc_id, n_chars,
             list_transform(string_split(text, ' '), t -> ${strHashSql("t")}) AS th
           FROM documents),
    tri AS (SELECT doc_id, n_chars,
              CAST(len(tg) AS BIGINT) AS n_tri,
              CAST(len(tg) - len(list_distinct(tg)) AS BIGINT) AS dup_tri
            FROM (SELECT doc_id, n_chars, ${ngramSqlDuck("th", 3)} AS tg FROM th)),
    fl AS (SELECT
             NOT (dt.n_tok BETWEEN 50 AND 100000) AS f_wordcount,
             ((tri.n_chars - (dt.n_tok - 1)) < dt.n_tok * 3
               OR (tri.n_chars - (dt.n_tok - 1)) > dt.n_tok * 10) AS f_meanlen,
             dt.n_stop_distinct < 2 AS f_stopword,
             dt.max_tok * 5 > dt.n_tok AS f_maxtok,
             tri.dup_tri * 5 > tri.n_tri AS f_duptri,
             dt.n_alpha * 5 < dt.n_tok * 4 AS f_alpha
           FROM tri JOIN dt USING (doc_id)),
    f2 AS (SELECT *,
             CAST(f_wordcount AS INT) + CAST(f_meanlen AS INT) +
             CAST(f_stopword AS INT) + CAST(f_maxtok AS INT) +
             CAST(f_duptri AS INT) + CAST(f_alpha AS INT) AS n_fails
           FROM fl),
    rr AS (
      SELECT 'alpha' AS rule, f_alpha AS failed, n_fails FROM f2
      UNION ALL SELECT 'duptri', f_duptri, n_fails FROM f2
      UNION ALL SELECT 'maxtok', f_maxtok, n_fails FROM f2
      UNION ALL SELECT 'meanlen', f_meanlen, n_fails FROM f2
      UNION ALL SELECT 'stopword', f_stopword, n_fails FROM f2
      UNION ALL SELECT 'wordcount', f_wordcount, n_fails FROM f2),
    pr AS (SELECT rule,
             SUM(CASE WHEN failed THEN 1 ELSE 0 END) AS n_fail,
             SUM(CASE WHEN failed AND n_fails = 1 THEN 1 ELSE 0 END) AS n_unique_fail
           FROM rr GROUP BY 1)
    SELECT rule, CAST(n_fail AS BIGINT) AS n_fail,
      CAST(n_unique_fail AS BIGINT) AS n_unique_fail,
      CAST(CASE WHEN n_fail > 0
           THEN (n_fail - n_unique_fail) * 1000000 // n_fail ELSE 0 END AS BIGINT)
        AS overlap_ppm
    FROM pr
    UNION ALL
    SELECT 'z_total',
      CAST(SUM(CASE WHEN n_fails > 0 THEN 1 ELSE 0 END) AS BIGINT),
      CAST(SUM(CASE WHEN n_fails = 1 THEN 1 ELSE 0 END) AS BIGINT),
      CAST(CASE WHEN SUM(CASE WHEN n_fails > 0 THEN 1 ELSE 0 END) > 0
           THEN (SUM(CASE WHEN n_fails > 0 THEN 1 ELSE 0 END)
                 - SUM(CASE WHEN n_fails = 1 THEN 1 ELSE 0 END)) * 1000000
                // SUM(CASE WHEN n_fails > 0 THEN 1 ELSE 0 END)
           ELSE 0 END AS BIGINT)
    FROM f2
    ORDER BY rule"""))

  val defs: Seq[QueryDef] =
    Seq(t01, t02, t03, t04, t05, t06, t07, t08, t09, t10, t11, t12, t13, t14,
      t15, t16, t17, t18, t19, t20, t21, t22, t23, t24, t25, t26, t27, t28,
      t29, t30, t31, t32, t33, t34, t35, t36, t37, t38, t39, t40, t41, t42,
      t43, t44, t45, t46, t47, t48, t49, t50, t51, t52, t53, t54, t55)
}
