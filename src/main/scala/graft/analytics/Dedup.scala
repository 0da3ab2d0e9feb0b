package graft.analytics

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import Tables._

/**
 * Deduplication operators (SURVEY §2.8 dedup rows; the training-data
 * pipeline layer): exact dedup with a deterministic representative,
 * MinHash+LSH near-dup with banding, brute-force n-gram Jaccard as the
 * verification baseline, and SimHash fingerprints + Hamming-bucketed
 * near-dup pairs. All hashing is the cross-engine polynomial hash
 * ([[Tables.strHashExpr]]) so results hash-match the DuckDB oracle.
 *
 * Scale notes (100 TB): d02's candidate generation is the canonical
 * shingle→minhash→band→bucket-join pipeline — the only wide ops are one
 * explode-on-bands shuffle and one equi-join on the band key, so cost
 * tracks the number of *colliding* pairs, not N². The exact-Jaccard
 * verify re-joins shingle sets by doc id instead of carrying arrays
 * through the band join (narrow rows through the shuffle). d03's
 * all-pairs form is deliberately bounded to a small id range — it exists
 * as the correctness oracle for d02's recall, not as a scale path. d06
 * buckets SimHash pairs by the high byte (same LSH idea in Hamming
 * space): 256-way prefilter before any pairwise distance.
 */
object Dedup {

  // ---------------------------------------------------------------- d01
  // Exact dedup, deterministic representative: first (ts, event_id) row
  // per (user_id, event_type); aggregate what survives. At scale this is
  // one hash-partitioned window on a high-cardinality key.
  private val d01 = QueryDef(
    "d01_exact_dedup",
    (s, dir) => {
      val w = Window.partitionBy(col("user_id"), col("event_type"))
        .orderBy(col("ts"), col("event_id"))
      events(s, dir)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_unique"), dsum(col("value")).as("sum_value"))
        .orderBy(col("event_type"))
    },
    Some(s"""SELECT event_type, COUNT(*) AS n_unique, ${dsumSql("value")} AS sum_value
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id, event_type
            ORDER BY ts, event_id) AS rn FROM events)
    WHERE rn = 1 GROUP BY event_type ORDER BY event_type"""))

  // ------------------------------------------------------------------
  // Shared shingle machinery: distinct 3-gram token shingles per doc.
  // The token array is materialized in its own projection first — putting
  // `split(text, ' ')` inside the transform lambda would re-split the text
  // per element access (O(words²) per document; measured 3× the whole
  // query's runtime at sf0.1). CollapseProject keeps the split un-inlined
  // because `w` is referenced more than once and isn't cheap.
  // ------------------------------------------------------------------
  private val shingleFromTokens =
    """array_distinct(transform(sequence(1, size(w) - 2),
       i -> concat_ws(' ', element_at(w, i), element_at(w, i + 1), element_at(w, i + 2))))"""

  private def shingled(s: org.apache.spark.sql.SparkSession, dir: String) =
    docs(s, dir)
      .select(col("doc_id"), split(col("text"), " ").as("w"))
      .filter(size(col("w")) >= 3)
      .select(col("doc_id"), expr(shingleFromTokens).as("sh"))

  private[analytics] val shingleSqlDuck =
    """list_distinct(list_transform(generate_series(1, len(string_split(text, ' ')) - 2),
       i -> string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i + 1] || ' ' || string_split(text, ' ')[i + 2]))"""

  /** MinHash permutation constants: h_i = (a_i * h + b_i) mod HashMod —
    * the canonical list lives in [[graft.functions.MinHashSigs.Perms]]
    * (the native one-pass signature expression); aliased here so every
    * DuckDB oracle twin and the engine agree by construction. */
  private[analytics] val perm: Seq[(Long, Long)] = graft.functions.MinHashSigs.Perms

  // ---------------------------------------------------------------- d02
  // MinHash + LSH banding near-dup: 8 minhashes, 4 bands of 2; pairs
  // sharing any band are candidates, then verified with exact Jaccard.
  private val d02 = QueryDef(
    "d02_minhash_lsh",
    (s, dir) => {
      // the shingle pipeline feeds the band self-join (twice) AND the two
      // exact-Jaccard verify joins — materialize it once, not four times
      val base = shingled(s, dir).cache()
      val shingleSets = base // re-joined by id for the verify step
      // candidate generation is bucket-CAPPED (same discipline as the
      // SimHash side, see SimhashBucketCap): a 100 TB template family
      // lands whole in one band bucket, and an uncapped self-join emits
      // |bucket|²/2 rows before the Jaccard verify can drop any. The cap
      // never binds at the correctness SFs (band buckets measure ≤ ~10),
      // so the oracle keeps the uncapped mirror. The pairs come off the
      // persisted candidate index (one bandCandPairs build per JVM ×
      // corpus, setup-attributed) instead of re-running the explode →
      // sizes → tag → self-join pipeline here — same rows by construction
      val cand = bandCandIndex(s, dir, 2)
      cand
        .join(shingleSets.select(col("doc_id").as("id1"), col("sh").as("sh1")), "id1")
        .join(shingleSets.select(col("doc_id").as("id2"), col("sh").as("sh2")), "id2")
        .withColumn("jacc", round(
          size(array_intersect(col("sh1"), col("sh2"))).cast("double") /
            size(array_union(col("sh1"), col("sh2"))), 6))
        .filter(col("jacc") >= 0.005)
        .select(col("id1"), col("id2"), col("jacc"))
        .orderBy(col("id1"), col("id2"))
      // the few-MB shingle cache is left to LRU eviction: checkpointing
      // the (much larger) RESULT to free it early doubled the query's IO
    },
    Some(s"""WITH sh AS (
      SELECT doc_id, $shingleSqlDuck AS sh FROM documents
      WHERE len(string_split(text, ' ')) >= 3),
    hs AS (SELECT doc_id, sh, list_transform(sh, x -> ${strHashSql("x")}) AS hs FROM sh),
    mh AS (SELECT doc_id, [${perm.map { case (a, b) => s"list_min(list_transform(hs, h -> ($a * h + $b) % $HashMod))" }.mkString(", ")}] AS mhs FROM hs),
    bands AS (SELECT doc_id, CAST(i AS VARCHAR) || ':' || CAST(mhs[2 * i + 1] AS VARCHAR) || ':' || CAST(mhs[2 * i + 2] AS VARCHAR) AS band
              FROM mh CROSS JOIN generate_series(0, 3) AS g(i)),
    cand AS (SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
             FROM bands a JOIN bands b ON a.band = b.band AND a.doc_id < b.doc_id)
    SELECT id1, id2, round(CAST(len(list_intersect(x.sh, y.sh)) AS DOUBLE) / len(list_distinct(list_concat(x.sh, y.sh))), 6) AS jacc
    FROM cand JOIN sh x ON x.doc_id = id1 JOIN sh y ON y.doc_id = id2
    WHERE round(CAST(len(list_intersect(x.sh, y.sh)) AS DOUBLE) / len(list_distinct(list_concat(x.sh, y.sh))), 6) >= 0.005
    ORDER BY id1, id2"""))

  // ---------------------------------------------------------------- d03
  // Brute-force n-gram Jaccard over a bounded id range: the exact
  // verification baseline for d02 (NOT a scale path — O(k²) by design).
  private val d03 = QueryDef(
    "d03_ngram_jaccard",
    (s, dir) => {
      val sh = shingled(s, dir).filter(col("doc_id") < 60)
      sh.select(col("doc_id").as("id1"), col("sh").as("sh1"))
        .join(sh.select(col("doc_id").as("id2"), col("sh").as("sh2")), col("id1") < col("id2"))
        .withColumn("jacc", round(
          size(array_intersect(col("sh1"), col("sh2"))).cast("double") /
            size(array_union(col("sh1"), col("sh2"))), 6))
        .filter(col("jacc") >= 0.01)
        .select(col("id1"), col("id2"), col("jacc"))
        .orderBy(col("id1"), col("id2"))
    },
    Some(s"""WITH sh AS (
      SELECT doc_id, $shingleSqlDuck AS sh FROM documents
      WHERE doc_id < 60 AND len(string_split(text, ' ')) >= 3)
    SELECT a.doc_id AS id1, b.doc_id AS id2,
      round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) / len(list_distinct(list_concat(a.sh, b.sh))), 6) AS jacc
    FROM sh a JOIN sh b ON a.doc_id < b.doc_id
    WHERE round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) / len(list_distinct(list_concat(a.sh, b.sh))), 6) >= 0.01
    ORDER BY id1, id2"""))

  // ------------------------------------------------------------------
  // SimHash: 16-bit signature from token-count-weighted hash bits.
  // ------------------------------------------------------------------
  private def simhashFromBits(bitSql: Int => String): String =
    (0 until 16).map(b => s"(CASE WHEN ${bitSql(b)} > 0 THEN ${1 << b} ELSE 0 END)").mkString(" + ")

  // ---------------------------------------------------------------- d04
  // SimHash signatures per document: token histogram (one aggregate),
  // then 16 weighted bit-sums folded to an integer signature.
  /** SimHash signatures over an arbitrary (doc_id, text) frame — the
    * per-batch builder d24's streaming maintenance shares with the full
    * corpus scan below (q119's `minhashBandsOf` precedent). */
  private[graft] def simhashOf(d: org.apache.spark.sql.DataFrame) = {
    val tok = d
      .select(col("doc_id"), explode(split(col("text"), " ")).as("token"))
      .groupBy(col("doc_id"), col("token"))
      .agg(count(lit(1)).as("cnt"))
      .withColumn("h16", expr(strHashExpr("token")) % 65536)
    val bitSums = (0 until 16).map { b =>
      sum(col("cnt") * when(expr(s"shiftright(h16, $b) & 1") === 1, 1).otherwise(-1)).as(s"s$b")
    }
    tok.groupBy(col("doc_id"))
      .agg(bitSums.head, bitSums.tail: _*)
      .withColumn("simhash", expr(simhashFromBits(b => s"s$b")).cast("long"))
      .select(col("doc_id"), col("simhash"))
  }

  private[graft] def simhashDf(s: org.apache.spark.sql.SparkSession, dir: String) =
    simhashOf(docs(s, dir))

  private[analytics] val simhashCteDuck =
    s"""tok AS (SELECT doc_id, token, COUNT(*) AS cnt, ${strHashSql("token")} % 65536 AS h16
           FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents)
           GROUP BY doc_id, token),
    bits AS (SELECT doc_id, ${(0 until 16).map(b => s"SUM(cnt * (CASE WHEN (h16 >> $b) & 1 = 1 THEN 1 ELSE -1 END)) AS s$b").mkString(", ")}
             FROM tok GROUP BY doc_id),
    sh AS (SELECT doc_id, CAST(${simhashFromBits(b => s"s$b")} AS BIGINT) AS simhash FROM bits)"""

  /** `name(id1, id2)`: the near-duplicate pairs over [[simhashCteDuck]]'s
    * `sh`, met inside the `simhash >> 8` bucket at Hamming distance ≤ 6,
    * id1 < id2 (the DuckDB twin of [[simhashPairs]]). */
  private[analytics] def simhashPairsCte(name: String) =
    s"""$name AS (SELECT a.doc_id AS id1, b.doc_id AS id2
          FROM sh a JOIN sh b
            ON (a.simhash >> 8) = (b.simhash >> 8) AND a.doc_id < b.doc_id
          WHERE bit_count(xor(a.simhash, b.simhash)) <= 6)"""

  /** `name(id1, id2)`: both directions of the pair CTE `pairs`. UNION
    * drops repeated edges; `all` (UNION ALL) keeps them for degree counts. */
  private[analytics] def undirectedCte(name: String, pairs: String, all: Boolean = false) =
    s"$name AS (SELECT id1, id2 FROM $pairs UNION${if (all) " ALL" else ""} SELECT id2, id1 FROM $pairs)"

  /** `r(node, reach)`: every node each node reaches over the undirected
    * edges `e`, by recursive union (needs `WITH RECURSIVE`). */
  private[analytics] val reachCte =
    """r AS (SELECT id1 AS node, id2 AS reach FROM e
          UNION
          SELECT r.node, e.id2 AS reach FROM r JOIN e ON r.reach = e.id1)"""

  /** [[reachCte]] plus `comp(node, <label>)`: each node's connected
    * component, labelled by the least id in it. */
  private[analytics] def componentsCte(label: String) =
    s"""$reachCte,
    comp AS (SELECT node, LEAST(node, MIN(reach)) AS $label
             FROM r GROUP BY node)"""

  private val d04 = QueryDef(
    "d04_simhash",
    (s, dir) => simhashIndex(s, dir).orderBy(col("doc_id")),
    Some(s"""WITH $simhashCteDuck
    SELECT doc_id, simhash FROM sh ORDER BY doc_id"""))

  // ------------------------------------------------------------------
  // SimHash bucket cap (d40's discipline applied to the SimHash side).
  // The Hamming-bucket prefilter meets docs inside `bucket = simhash>>8`;
  // a template/boilerplate family with IDENTICAL simhash shares one
  // bucket and a plain self-join emits |bucket|²/2 candidates — the one
  // quadratic-at-100TB term the r16 audit (d39) priced. Oversized
  // buckets are therefore hash-split into k = ⌈s/cap⌉ sub-buckets by a
  // content-independent doc hash: same-sub pairs survive, cross-sub
  // pairs are deterministically sacrificed — bounded work for bounded
  // recall loss (priced exactly by d41 below). The cap is chosen above
  // the measured max bucket at the correctness SFs (83 at sf0.001 and
  // sf0.01), so the oracle-checked edge sets are byte-identical; at
  // sf0.1 the measured 817-doc hot bucket splits 7 ways (the cap
  // genuinely binds at bench scale, by design).
  private[graft] val SimhashBucketCap = 128L

  /** The d02 band-key derivation from a `mhs` signature array — one
    * constant so the query and the fixture bucket-size invariant spec
    * ([[bandKeysOf]], `BucketCapInvariantSpec`) can never drift apart. */
  private[graft] val bandKeysExpr =
    "transform(sequence(0, 3), i -> concat(i, ':', element_at(mhs, 2 * i + 1), ':', element_at(mhs, 2 * i + 2)))"

  /** `(doc_id, band)` keys of the d02 MinHash LSH layout over a fixture
    * dir — exposed for `BucketCapInvariantSpec`, which asserts that no
    * band bucket at the correctness SFs reaches [[SimhashBucketCap]]
    * (the invariant ~10 capped-generator oracles silently rely on). */
  private[graft] def bandKeysOf(s: org.apache.spark.sql.SparkSession, dir: String) =
    shingled(s, dir)
      .select(col("doc_id"), expr(s"transform(sh, x -> ${strHashExpr("x")})").as("hs"))
      .select(col("doc_id"), expr("minhash_sigs(hs)").as("mhs"))
      .select(col("doc_id"), explode(expr(bandKeysExpr)).as("band"))

  /** d57's band-key derivation for an arbitrary rows-per-band layout
    * (8/rows bands of `rows` signature values). ONE definition shared by
    * the d57 query and `BucketCapInvariantSpec`, so the cap invariant
    * the capped generators rely on is asserted over exactly the band
    * keys the query joins on (ADVICE r20: the 8×1 single-signature
    * layout is the most cap-prone bucket shape in the repo and was
    * unguarded). rows = 2 reproduces [[bandKeysExpr]] verbatim. */
  private[graft] def bandExprFor(rows: Int): String = {
    val nb = 8 / rows
    s"transform(sequence(0, ${nb - 1}), i -> concat(i, ':', " +
      (1 to rows).map(j => s"element_at(mhs, $rows * i + $j)").mkString(", ':', ") +
      "))"
  }

  /** `(doc_id, band)` keys of the d57 layout with `rows` rows per band
    * over a fixture dir — for `BucketCapInvariantSpec`. */
  private[graft] def bandKeysOfLayout(
      s: org.apache.spark.sql.SparkSession, dir: String, rows: Int) =
    shingled(s, dir)
      .select(col("doc_id"), expr(s"transform(sh, x -> ${strHashExpr("x")})").as("hs"))
      .select(col("doc_id"), expr("minhash_sigs(hs)").as("mhs"))
      .select(col("doc_id"), explode(expr(bandExprFor(rows))).as("band"))

  /** Signatures tagged with their capped `(bucket, sub)` join key. The
    * bucket-size frame is aggregate-sized (one row per OCCUPIED bucket,
    * ≤ |docs|/1 but in practice ≪ |docs|) and joins back keyed on
    * `bucket` — AQE broadcasts it at test scale and shuffle-hash-joins
    * it at 100 TB; either way no global order and no driver round-trip. */
  private[graft] def simhashTagged(sh: org.apache.spark.sql.DataFrame) = {
    val sizes = sh.groupBy(col("bucket")).agg(count(lit(1)).as("sz"))
      .withColumn("k", expr(s"(sz + $SimhashBucketCap - 1) DIV $SimhashBucketCap"))
    sh.join(sizes, Seq("bucket"))
      .withColumn("sub", expr(
        s"CASE WHEN k > 1 THEN ${strHashExpr("CAST(doc_id AS STRING)")} % k ELSE 0 END"))
      .select(col("bucket"), col("sub"), col("doc_id"), col("simhash"))
  }

  /** Capped Hamming-bucket self-join over a `(bucket, doc_id, simhash)`
    * signature frame: `(id1 < id2, distance ≤ 6)` candidate pairs that
    * meet only inside a `(bucket, sub)` cell — the shared bounded
    * generator every SimHash self-join site (d05/d21/d24 and
    * [[simhashPairs]]) routes through, so no unbounded bucket self-join
    * exists anywhere in the engine. Callers cache the INPUT frame when
    * it is expensive; the tag step itself is one aggregate-sized join. */
  /** [[cappedSelfPairs]] keeping the Hamming distance column — the ONE
    * join definition both share (d05 emits the distance; every other
    * consumer projects it away), and what the persisted pair index
    * stores so d05 can read it back instead of re-running the
    * signature pipeline + self-join. */
  private[graft] def cappedSelfPairsH(
      sigs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val t = simhashTagged(sigs)
    t.select(col("bucket"), col("sub"), col("doc_id").as("id1"), col("simhash").as("h1"))
      .join(t.select(col("bucket").as("bucket2"), col("sub").as("sub2"),
          col("doc_id").as("id2"), col("simhash").as("h2")),
        col("bucket") === col("bucket2") && col("sub") === col("sub2") &&
          col("id1") < col("id2"))
      .withColumn("hamming", expr("bit_count(h1 ^ h2)").cast("long"))
      .filter(col("hamming") <= 6)
      .select(col("id1"), col("id2"), col("hamming"))
  }

  private[graft] def cappedSelfPairs(
      sigs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    cappedSelfPairsH(sigs).select(col("id1"), col("id2"))

  // ---------------------------------------------------------------- d05
  // SimHash near-dup pairs, Hamming-bucketed: pairs sharing the high byte
  // (256-way LSH prefilter) with Hamming distance <= 6. Candidate
  // generation is bucket-CAPPED (see SimhashBucketCap above); the DuckDB
  // oracle mirrors the uncapped join because the cap provably never
  // binds at the correctness SFs (max bucket 83 < 128 at sf0.001/sf0.01,
  // measured) — where it binds (sf0.1+), the sacrificed cross-sub pairs
  // are the priced recall trade d41 reports, not a correctness surface.
  private val d05 = QueryDef(
    "d05_simhash_pairs",
    (s, dir) =>
      // the persisted pair index IS this query's output (the build runs
      // cappedSelfPairsH — the identical join — once per JVM × corpus,
      // setup-attributed); d05 reads it back with its hamming column
      // instead of re-running the signature pipeline + self-join (r21)
      simhashPairsH(s, dir)
        .select(col("id1"), col("id2"), col("hamming"))
        .orderBy(col("id1"), col("id2")),
    Some(s"""WITH $simhashCteDuck
    SELECT a.doc_id AS id1, b.doc_id AS id2,
      CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
    FROM sh a JOIN sh b ON (a.simhash >> 8) = (b.simhash >> 8) AND a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= 6
    ORDER BY id1, id2"""))

  /** Once-per-(JVM, corpus) persisted intermediate results: the first caller
    * of an index builds it into a scratch parquet, every later caller reads
    * that parquet back instead of recomputing it. The read-back frame is
    * storage-backed, so a consumer's `unpersist()` never evicts the shared
    * index.
    *
    * Keyed by (name, sf dir, extra key part, [[Tables.fingerprint]] of
    * `dir/documents.parquet`): fixtures live in per-test temp dirs, and the
    * fingerprint makes sure a regenerated corpus under a reused dir never
    * serves a stale index.
    *
    * The build is attributed to [[graft.BenchSplit]] setup, not to whichever
    * query calls first (a shared multi-second build landing inside an
    * arbitrary first consumer made per-query bench diffs order-dependent).
    * A build that reads another index counts its time once.
    *
    * The scratch location is [[Tables.tmpDir]], driver-local and deleted on
    * JVM exit. That only works under the `local[N]` driver contract: at
    * 100 TB it must be shared storage (object store / DFS), because
    * executors read the index back. */
  private[graft] object PersistedIndex {

    /** One build per key; the lazy val serializes concurrent callers of the
      * same key without holding the map while a build reads another index. */
    private final class Entry(build: => String) { lazy val path: String = build }
    private val entries = new java.util.concurrent.ConcurrentHashMap[String, Entry]()

    /** The index `name` over the corpus in `dir`, built by `write` (which
      * writes parquet to the path it is given) the first time per key. */
    def apply(s: org.apache.spark.sql.SparkSession, name: String, dir: String, part: String = "")(
        write: String => Unit): org.apache.spark.sql.DataFrame = {
      val key = s"$name|$dir|$part|${Tables.fingerprint(s, s"$dir/documents.parquet").getOrElse("absent")}"
      val entry = entries.computeIfAbsent(key, _ => new Entry(graft.BenchSplit.setup {
        val p = Tables.tmpDir(s"graft-$name$part").resolve("idx").toString
        write(p)
        p
      }))
      // a failed build leaves no entry behind: a lazy val whose
      // initializer threw would rerun THIS caller's closure (its session,
      // its `write`) for the next caller of the key
      val path = try entry.path catch { case e: Throwable => entries.remove(key, entry); throw e }
      Tables.parquet(s, path)
    }
  }

  /** Persisted full-corpus SimHash SIGNATURE index `(doc_id, simhash)`
    * (a [[PersistedIndex]]) — the signature pipeline (token explode + two
    * aggregates) paid once per corpus instead of once per consumer
    * (d04/d39/d42/d44/d55 plus the pair-index build and the d21/d24
    * published-corpus setups); 2 longs per doc, so read-back decode is
    * trivial. */
  private[graft] def simhashIndex(s: org.apache.spark.sql.SparkSession, dir: String) =
    PersistedIndex(s, "simhash-sigs", dir) { p =>
      simhashDf(s, dir).write.mode("overwrite").parquet(p)
    }

  /** Hamming-bucketed SimHash candidate pairs `(id1 < id2, distance ≤ 6)`
    * WITH the hamming column — d05's read, and the edge list the whole
    * d-graph family (d07/d09/d17/d18/d22/d23/d42/d44/d51/d55, …) starts
    * from via [[simhashPairs]]. Candidate generation is bucket-capped (see
    * [[SimhashBucketCap]]): identical output at the correctness SFs, and
    * bounded — never |bucket|²/2 — work on a template-heavy 100 TB corpus.
    *
    * A [[PersistedIndex]]: the build runs [[cappedSelfPairsH]] (the ONE
    * shared capped generator — this function must never inline its own
    * copy of the join rule, or the index could drift from d05/d21/d24)
    * over the persisted signature index (storage-backed, so both
    * self-join sides read a materialization); every later consumer reads
    * the edge list back instead of re-running the signature pipeline +
    * self-join (~3–6 s per query at sf0.1, ×10+ call sites per bench
    * run). */
  private[graft] def simhashPairsH(s: org.apache.spark.sql.SparkSession, dir: String) =
    PersistedIndex(s, "simhash-pairs", dir) { p =>
      val sigs = simhashIndex(s, dir)
        .withColumn("bucket", expr("shiftright(simhash, 8)"))
      cappedSelfPairsH(sigs).write.mode("overwrite").parquet(p)
    }

  private[graft] def simhashPairs(s: org.apache.spark.sql.SparkSession, dir: String) =
    simhashPairsH(s, dir).select(col("id1"), col("id2"))

  /** Persisted full-corpus MinHash SIGNATURE index `(doc_id, mhs)` (a
    * [[PersistedIndex]]) — d02/d47/d48/d56/d57 each re-paid the
    * shingle→hash→minhash_sigs pass (the hash transform walks every
    * shingle's characters — the expensive half). The shingle-TABLE A/B
    * lost because arrays-of-strings decode beats the codegen'd
    * recompute (PERF.md r20); the signature is 8 longs per doc, so the
    * decode argument flips. Consumers that also need the shingle SETS for
    * exact-Jaccard verify keep their own cached shingle pass — this
    * index only replaces the signature derivation. */
  private[analytics] def minhashIndex(s: org.apache.spark.sql.SparkSession, dir: String) =
    PersistedIndex(s, "minhash-sigs", dir) { p =>
      shingled(s, dir)
        .select(col("doc_id"), expr(s"transform(sh, x -> ${strHashExpr("x")})").as("hs"))
        .select(col("doc_id"), expr("minhash_sigs(hs)").as("mhs"))
        .write.mode("overwrite").parquet(p)
    }

  /** [[minhashBandsOf]] over the FULL corpus, read off the persisted
    * signature index instead of re-running the shingle→hash→minhash_sigs
    * pipeline per consumer — identical rows by construction (the index IS
    * minhashSigsOf(docs(dir)), and the band explode commutes with any
    * per-doc_id filter a caller applies afterwards). Callers that model a
    * live DELTA batch (d16/d21/d44's odd-half arrivals) keep computing
    * their own signatures: that cost belongs to the delta. */
  private[graft] def minhashBandsIdx(s: org.apache.spark.sql.SparkSession, dir: String) =
    minhashIndex(s, dir)
      .select(col("doc_id"), col("mhs"), explode(expr(bandKeysExpr)).as("band"))

  /** The capped band-candidate generator every full-corpus MinHash band
    * self-join routes through: bands of the `rows`-per-band layout over a
    * `(doc_id, mhs)` signature frame, occupied-bucket sizes, the
    * ⌈sz/cap⌉ content-independent hash sub-split, the (band, sub)-cell
    * self-join, distinct `(id1 < id2)` pairs. ONE definition — before r22
    * d02/d47/d48/d56/d57 each inlined a byte-identical copy, so the
    * persisted index below could have drifted from a consumer. */
  private[graft] def bandCandPairs(
      mh: org.apache.spark.sql.DataFrame, rows: Int): org.apache.spark.sql.DataFrame = {
    val bands = mh.select(col("doc_id"), explode(expr(bandExprFor(rows))).as("band"))
    val sizes = bands.groupBy(col("band")).agg(count(lit(1)).as("sz"))
      .withColumn("k", expr(s"(sz + $SimhashBucketCap - 1) DIV $SimhashBucketCap"))
    val tagged = bands.join(sizes, Seq("band"))
      .withColumn("sub", expr(
        s"CASE WHEN k > 1 THEN ${strHashExpr("CAST(doc_id AS STRING)")} % k ELSE 0 END"))
      .select(col("band"), col("sub"), col("doc_id"))
    tagged.as("a").join(tagged.as("b"),
        col("a.band") === col("b.band") && col("a.sub") === col("b.sub") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id1"), col("b.doc_id").as("id2"))
      .distinct()
  }

  /** Persisted full-corpus capped band-candidate PAIR index per band
    * layout (a [[PersistedIndex]] keyed also by `rows`) — the
    * explode→sizes→tag→self-join→distinct pipeline above ran once per
    * consumer per layout. rows = 2 (the d02 production shape) serves
    * d02/d47/d48/d56/d57; rows = 4 serves d47/d57. rows = 1 is NOT
    * persisted: d57 is its only consumer, so a round-trip through scratch
    * parquet would add IO without removing a recompute. */
  private[graft] def bandCandIndex(
      s: org.apache.spark.sql.SparkSession, dir: String, rows: Int) =
    PersistedIndex(s, "mh-cand", dir, s"-r$rows") { p =>
      bandCandPairs(minhashIndex(s, dir), rows).write.mode("overwrite").parquet(p)
    }

  // ---------------------------------------------------------------- d06
  // Embedding-cosine near-dedup: the last dedup family member — near-dup
  // candidates from the 8-bit sign-LSH bucket (same prefilter as s02, so
  // candidate generation is one equi-join on the bucket key, never
  // all-pairs), verified with exact integer-quantized cosine; the
  // higher-id side of every pair ≥ threshold is dropped and survivors are
  // rolled up per cluster label. At 100 TB the drop set is a fraction of
  // N and joins back hash-partitioned on vec_id.
  private val d06 = QueryDef(
    "d06_embedding_neardup",
    (s, dir) => {
      // b feeds BOTH self-join sides and the final rollup — materialize it
      // once instead of quantizing/bucketing the table three times
      val b = Similarity.withQuant(dir, s)
        .withColumn("bucket", expr(Similarity.bucketExprSpark))
        .select(col("vec_id"), col("label"), col("qv"), col("norm2"), col("bucket"))
        .cache()
      val l = b.select(col("bucket"), col("vec_id").as("id1"), col("qv").as("qv1"), col("norm2").as("n1"))
      val r = b.select(col("bucket").as("bucket2"), col("vec_id").as("id2"), col("qv").as("qv2"), col("norm2").as("n2"))
      val drops = l.join(r, col("bucket") === col("bucket2") && col("id1") < col("id2"))
        .withColumn("sim", cosine("qv1", "n1", "qv2", "n2"))
        .filter(col("sim") >= 0.3)
        .select(col("id2").as("drop_id"))
        .distinct()
      b.join(drops, col("vec_id") === col("drop_id"), "left")
        .groupBy(col("label"))
        .agg(
          count(lit(1)).as("n_total"),
          count(col("drop_id")).as("n_dropped"),
          (count(lit(1)) - count(col("drop_id"))).as("n_kept"))
        .orderBy(col("label"))
    },
    Some(s"""WITH ${Similarity.quantCte},
    qb AS (SELECT vec_id, label, qv, norm2, ${Similarity.bucketExprDuck} AS bucket FROM qn),
    drops AS (SELECT DISTINCT b.vec_id AS drop_id
              FROM qb a JOIN qb b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
              WHERE ${Similarity.simSql} >= 0.3)
    SELECT label, COUNT(*) AS n_total,
      CAST(COUNT(drop_id) AS BIGINT) AS n_dropped,
      CAST(COUNT(*) - COUNT(drop_id) AS BIGINT) AS n_kept
    FROM qb LEFT JOIN drops ON vec_id = drop_id
    GROUP BY label ORDER BY label"""))

  // ---------------------------------------------------------------- d07
  // Duplicate-CLUSTER resolution: near-dup pairs (d05's Hamming-bucketed
  // SimHash edges) resolved into connected components by iterative
  // min-label propagation — the step a dedup pipeline needs between
  // "pairs" and "one representative per cluster". The loop is the Pregel
  // pattern: each iteration is one distributed join + min-aggregate, the
  // driver only checks a scalar convergence count (bounded by component
  // diameter, not data size; for 100 TB-scale adversarial chain graphs
  // you'd switch to the large-star/small-star variant, same skeleton).
  // The DuckDB oracle is an independent formulation: recursive-CTE
  // transitive closure, min over the reach set.
  private val d07 = QueryDef(
    "d07_dup_clusters",
    (s, dir) => {
      // the DIRECTED pairs come from the persisted shared edge index
      // (storage-backed parquet since r19, not a memory cache — each
      // CC round re-reads the small index file, which is cheaper than
      // the bucket join it replaced); only the LOOP runs at the
      // state-sized shuffle setting below.
      val pairs = simhashPairs(s, dir)
      // the iterative state is tiny relative to the session's batch
      // sizing — run the loop at 8 shuffle partitions (scoped, restored).
      // Cluster resolution is the reusable pointer-jumping operator
      // (graft.operators.ConnectedComponents — O(log diameter) rounds,
      // edge list never shuffled; see its scaladoc and spec).
      Tables.withShuffle(s, 8) {
        val labels = graft.operators.ConnectedComponents.label(pairs)
        val out = labels.groupBy(col("comp").as("cluster_rep"))
          .agg(count(lit(1)).as("n_members"))
          .orderBy(col("cluster_rep"))
          .localCheckpoint()
        out
      }
    },
    Some(s"""WITH RECURSIVE $simhashCteDuck,
    ${simhashPairsCte("p")},
    ${undirectedCte("e", "p")},
    ${componentsCte("cluster_rep")}
    SELECT cluster_rep, COUNT(*) AS n_members
    FROM comp GROUP BY cluster_rep ORDER BY cluster_rep"""))

  // ---------------------------------------------------------------- d09
  // PageRank over the near-dup graph — graph centrality as a corpus
  // signal (the quality/spam-propagation tool: a doc tied into a large
  // near-dup web ranks high ⇒ boilerplate suspect). FIVE fixed power
  // iterations; every quantity is INTEGER (rank in 1e-12 units, floor
  // divisions), so both engines compute bit-identical ranks with no
  // float-summation order dependence. Each Spark round is one broadcast
  // of the |nodes|-sized rank table into a map-side pass over the cached
  // edge list + a |nodes| aggregate, with per-round localCheckpoint
  // (constant-size plans, the ConnectedComponents discipline). The
  // oracle unrolls the same five iterations as chained CTEs.
  private val PrUnit = 1000000000000L // rank fixed-point scale (1e-12)
  private val PrIters = 5

  private def prStepSql(prev: String, k: Int): String =
    s"""pr$k AS (SELECT e.id2 AS node,
         CAST((15 * ($PrUnit // nn)) // 100
              + (85 * SUM(p.pr // d.deg)) // 100 AS BIGINT) AS pr
       FROM e JOIN $prev p ON e.id1 = p.node
              JOIN deg d ON d.node = e.id1
              CROSS JOIN n
       GROUP BY e.id2, nn)"""

  private val d09 = QueryDef(
    "d09_pagerank",
    (s, dir) => {
      val pairs = simhashPairs(s, dir)
      val edges = pairs
        .union(pairs.select(col("id2").as("id1"), col("id1").as("id2")))
        .cache()
      edges.count()
      pairs.unpersist()
      // NOT run at the streaming-sized 8 shuffle partitions (d07's loop
      // setting): each PageRank round shuffles |edges| contribution rows
      // (~1.5 M at sf0.1), not |nodes|-sized state — keep the session's
      // full parallelism
      val deg = edges.groupBy(col("id1").as("node")).agg(count(lit(1)).as("deg"))
        .cache()
      val nodes = edges.select(col("id1").as("node")).distinct()
      val nn = nodes.count()
      val base = (15L * (PrUnit / nn)) / 100L
      // Unlike the CC loop, each round references the previous round
      // exactly ONCE (and otherwise only the cached edges/deg tables),
      // so plan growth is linear either way; rounds still materialize
      // via localCheckpoint because each round's BROADCAST build would
      // otherwise drag the whole prior chain through the driver's
      // broadcast path (A/B at sf0.1: 10.3 s checkpointed vs 11.7–13.6 s
      // lazy-chained, and the checkpoint also frees each round's
      // broadcast immediately).
      var pr = nodes.withColumn("pr", lit(PrUnit / nn))
      (1 to PrIters).foreach { _ =>
        // (A/B'd r11: an explicit broadcast(deg) hint here measured flat —
        // AQE already picks broadcast at bench scale — and at 100 TB
        // |nodes| may exceed broadcast limits, so the hint stays off)
        val withDeg = pr.join(deg, "node")
          .select(col("node"), expr("pr DIV deg").as("c"))
        // (A/B'd r12: the d17 withShuffle(8) pattern on this per-round
        // aggregate measured FLAT — 6.15 s in a 1.10×-hot run vs 5.64 s
        // baseline, i.e. within the host factor; the map-side combine
        // already collapses the |edges| contribution rows before the
        // shuffle, so reduce-side width doesn't matter at bench scale.
        // Session parallelism stays: it is the scale-correct setting for
        // an edge-sized shuffle at 100 TB, where 8 reducers would bottleneck)
        // withDeg is |nodes|-sized: an unconditional broadcast hint is a
        // driver-memory scale-killer at 100 TB (the same reasoning that
        // kept the hint OFF `deg` above). The hint is therefore gated on
        // the exact node count already in hand — ~16 B/row, so 2 M rows
        // ≈ 32 MB build side, comfortably inside executor broadcast
        // budgets; past that the hint drops and AQE picks the join
        // (shuffle-hash on id1 at true scale). A/B r14 at sf0.1:
        // 8.9 s hinted vs 9.3–10.0 s hintless — the guard keeps the
        // bench-scale win without the unbounded-broadcast hazard.
        val prj = if (nn <= 2000000L) broadcast(withDeg) else withDeg
        pr = edges
          .join(prj, col("id1") === col("node"))
          .groupBy(col("id2").as("node2"))
          .agg(sum(col("c")).as("s"))
          .select(col("node2").as("node"),
            (lit(base) + expr("(85 * s) DIV 100")).as("pr"))
          .localCheckpoint()
      }
      val out = pr
        .orderBy(col("pr").desc, col("node"))
        .limit(20)
        .select(col("node").as("doc_id"), col("pr"))
        .orderBy(col("pr").desc, col("doc_id"))
        .localCheckpoint()
      deg.unpersist()
      edges.unpersist()
      out
    },
    Some(s"""WITH $simhashCteDuck,
    ${simhashPairsCte("pp")},
    ${undirectedCte("e", "pp", all = true)},
    deg AS (SELECT id1 AS node, COUNT(*) AS deg FROM e GROUP BY id1),
    n AS (SELECT COUNT(DISTINCT id1) AS nn FROM e),
    pr0 AS (SELECT DISTINCT id1 AS node, CAST($PrUnit // nn AS BIGINT) AS pr
            FROM e CROSS JOIN n),
    ${(1 to PrIters).map(k => prStepSql(s"pr${k - 1}", k)).mkString(",\n    ")}
    SELECT node AS doc_id, pr FROM pr$PrIters
    ORDER BY pr DESC, doc_id LIMIT 20"""))

  // ---------------------------------------------------------------- d08
  // Keep-best dedup: the curation policy layered on exact dedup — when
  // several docs share a content fingerprint, keep the HIGHEST-QUALITY one
  // (longest text, doc_id tie-break), not an arbitrary first. This is the
  // standard "keep best of duplicate cluster" step in corpus pipelines.
  // One window over the fingerprint key (high-cardinality → no skew);
  // at 100 TB the same plan holds: hash-partition by fp, per-key top-1.
  // The fingerprint is a PREFIX hash (first 40 chars) so sf-generated
  // docs that share openings collapse and the keep-best choice is real.
  private val d08 = QueryDef(
    "d08_keep_best_dedup",
    (s, dir) => {
      val fp = expr(strHashExpr("substring(text, 1, 40)"))
      val w = Window.partitionBy(col("fp"))
        .orderBy(col("n_chars").desc, col("doc_id"))
      docs(s, dir)
        .withColumn("fp", fp)
        .withColumn("rn", row_number().over(w))
        .groupBy(col("source"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(when(col("rn") === 1, 1L).otherwise(0L)).as("n_kept"),
          sum(when(col("rn") === 1, col("n_chars")).otherwise(0L)).as("kept_chars"))
        .orderBy(col("source"))
    },
    Some(s"""WITH fp AS (
      SELECT source, n_chars,
        ROW_NUMBER() OVER (PARTITION BY ${strHashSql("substr(text, 1, 40)")}
          ORDER BY n_chars DESC, doc_id) AS rn
      FROM documents)
    SELECT source, COUNT(*) AS n_docs,
      CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
      CAST(SUM(CASE WHEN rn = 1 THEN n_chars ELSE 0 END) AS BIGINT) AS kept_chars
    FROM fp GROUP BY source ORDER BY source"""))

  // ---------------------------------------------------------------- d10
  // Triangle counting via operators.TriangleCount (degree-ordered
  // orientation bounding the wedge join at O(m^1.5) — see the operator's
  // doc). Graph = co-purchase pairs (parts sharing an order) over a
  // deterministic 10% orderkey sample; the pair derivation is one
  // co-partitioned self-join on l_orderkey.
  private val d10 = QueryDef(
    "d10_triangle_count",
    (s, dir) => {
      val li = rd(s, dir, "lineitem")
        .filter(col("l_orderkey") % 10 === 0)
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
        .distinct()
      val pairs = li.select(col("ok"), col("pk").as("u"))
        .join(li.select(col("ok").as("ok2"), col("pk").as("v")),
          col("ok") === col("ok2") && col("u") < col("v"))
        .select(col("u"), col("v"))
      // the sampled graph shuffles <= |wedges| ~ 400 k rows through ~6
      // stages — size the shuffle to that volume (task overhead dominates
      // at 32); at full scale the inherited session parallelism applies
      withShuffle(s, 8) { graft.operators.TriangleCount.counts(pairs) }
    },
    Some("""WITH li AS (
      SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
      FROM lineitem WHERE l_orderkey % 10 = 0),
    e0 AS (SELECT DISTINCT a.pk AS u, b.pk AS v
           FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk),
    deg AS (SELECT node, COUNT(*) AS d FROM (
              SELECT u AS node FROM e0 UNION ALL SELECT v AS node FROM e0)
            GROUP BY node),
    rk AS (SELECT node, ROW_NUMBER() OVER (ORDER BY d, node) AS r FROM deg),
    o AS (SELECT LEAST(ru.r, rv.r) AS src, GREATEST(ru.r, rv.r) AS dst
          FROM e0 JOIN rk ru ON e0.u = ru.node JOIN rk rv ON e0.v = rv.node),
    w AS (SELECT o1.dst AS v, o2.dst AS w
          FROM o o1 JOIN o o2 ON o1.src = o2.src AND o1.dst < o2.dst)
    SELECT (SELECT COUNT(*) FROM rk) AS n_nodes,
           (SELECT COUNT(*) FROM o) AS n_edges,
           (SELECT COUNT(*) FROM w) AS n_wedges,
           (SELECT COUNT(*) FROM w JOIN o ON w.v = o.src AND w.w = o.dst)
             AS n_triangles"""))

  // ---------------------------------------------------------------- d11
  // INCREMENTAL dedup — the steady-state shape of a production corpus:
  // dedup an arriving batch (odd doc_ids) against the already-published
  // corpus (even doc_ids) without rescanning the corpus content — only
  // its fingerprint index is touched. Every batch doc is classified:
  // fingerprint already in the corpus index → dup_corpus; else first
  // occurrence within the batch (min doc_id) → kept; else dup_batch.
  // At 100 TB the corpus index is |corpus| keys (bucketed by fp on disk
  // → the probe join is shuffle-free on the index side), the batch-side
  // window partitions on fp (high cardinality), and the batch is scanned
  // exactly once.
  private val d11 = QueryDef(
    "d11_incremental_dedup",
    (s, dir) => {
      val fp = expr(strHashExpr("substring(text, 1, 40)"))
      val base = docs(s, dir).select(col("source"), col("doc_id"), fp.as("fp"))
      val corpusIdx = base.filter(col("doc_id") % 2 === 0)
        .select(col("fp")).distinct().withColumn("hit", lit(1))
      val w = Window.partitionBy(col("fp")).orderBy(col("doc_id"))
      base.filter(col("doc_id") % 2 === 1)
        .join(corpusIdx, Seq("fp"), "left")
        .withColumn("rn", row_number().over(w))
        .select(col("source"),
          when(col("hit") === 1, "dup_corpus")
            .when(col("rn") === 1, "kept")
            .otherwise("dup_batch").as("cls"))
        .groupBy(col("source"))
        .agg(
          count(lit(1)).as("n_batch"),
          sum(when(col("cls") === "dup_corpus", 1L).otherwise(0L)).as("n_dup_corpus"),
          sum(when(col("cls") === "dup_batch", 1L).otherwise(0L)).as("n_dup_batch"),
          sum(when(col("cls") === "kept", 1L).otherwise(0L)).as("n_kept"))
        .orderBy(col("source"))
    },
    Some(s"""WITH base AS (
      SELECT source, doc_id, ${strHashSql("substr(text, 1, 40)")} AS fp
      FROM documents),
    corpus AS (SELECT DISTINCT fp FROM base WHERE doc_id % 2 = 0),
    batch AS (
      SELECT b.source,
        CASE WHEN c.fp IS NOT NULL THEN 'dup_corpus'
             WHEN ROW_NUMBER() OVER (PARTITION BY b.fp ORDER BY b.doc_id) = 1
               THEN 'kept'
             ELSE 'dup_batch' END AS cls
      FROM base b LEFT JOIN corpus c ON b.fp = c.fp
      WHERE b.doc_id % 2 = 1)
    SELECT source, COUNT(*) AS n_batch,
      CAST(SUM(CASE WHEN cls = 'dup_corpus' THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_corpus,
      CAST(SUM(CASE WHEN cls = 'dup_batch' THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_batch,
      CAST(SUM(CASE WHEN cls = 'kept' THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
    FROM batch GROUP BY source ORDER BY source"""))

  // ---------------------------------------------------------------- d12
  // Containment dedup: docs whose text is a strict PREFIX of (or equal
  // to) another doc — the truncation/re-crawl duplicate class Jaccard
  // misses when the longer doc dwarfs the shorter. Candidate generation
  // buckets on an 8-token prefix fingerprint (only docs sharing it can be
  // in a containment relation from position 0), so the self-join is
  // per-bucket, never all-pairs; the exact `startswith` check runs only
  // inside buckets. At 100 TB: one shuffle on the fingerprint, bucket
  // sizes are near-dup cluster sizes (small), and the verify is a per-
  // pair string compare.
  private val d12 = QueryDef(
    "d12_prefix_containment",
    (s, dir) => {
      val base = docs(s, dir)
        .select(col("doc_id"), col("text"),
          expr("transform(slice(split(text, ' '), 1, 8), t -> poly_hash(t))").as("ph"))
        .filter(expr("size(ph) >= 8"))
        .select(col("doc_id"), col("text"),
          expr(s"aggregate(ph, CAST(0 AS BIGINT), (acc, h) -> (acc * 31 + h) % $HashMod)").as("pre"))
      base.select(col("pre"), col("doc_id").as("id1"), col("text").as("t1"))
        .join(base.select(col("pre").as("pre2"), col("doc_id").as("id2"), col("text").as("t2")),
          col("pre") === col("pre2") && col("id1") < col("id2"))
        .filter(expr("startswith(t1, t2) OR startswith(t2, t1)"))
        .select(col("id1"), col("id2"),
          length(col("t1")).as("len1"), length(col("t2")).as("len2"),
          when(length(col("t1")) === length(col("t2")), "equal")
            .when(length(col("t1")) < length(col("t2")), "id1_in_id2")
            .otherwise("id2_in_id1").as("relation"))
        .orderBy(col("id1"), col("id2"))
    },
    Some(s"""WITH base AS (
      SELECT doc_id, text,
        list_reduce(list_prepend(CAST(0 AS BIGINT),
          list_transform(string_split(text, ' ')[1:8], t -> ${strHashSql("t")})),
          (acc, h) -> (acc * 31 + h) % $HashMod) AS pre
      FROM documents WHERE len(string_split(text, ' ')) >= 8)
    SELECT a.doc_id AS id1, b.doc_id AS id2,
      CAST(len(a.text) AS INTEGER) AS len1, CAST(len(b.text) AS INTEGER) AS len2,
      CASE WHEN len(a.text) = len(b.text) THEN 'equal'
           WHEN len(a.text) < len(b.text) THEN 'id1_in_id2'
           ELSE 'id2_in_id1' END AS relation
    FROM base a JOIN base b ON a.pre = b.pre AND a.doc_id < b.doc_id
    WHERE starts_with(a.text, b.text) OR starts_with(b.text, a.text)
    ORDER BY id1, id2"""))

  // ---------------------------------------------------------------- d13
  // Blocked fuzzy record linkage: edit-distance matching under a
  // blocking key — the classic entity-resolution shape. Candidates are
  // generated ONLY within a block (15-char name prefix), so the
  // quadratic self-join is bounded by block size, never |table|²; the
  // in-block verify uses Spark's threshold levenshtein (the k-bounded
  // banded DP: O(len·k) per pair and an early exit, vs O(len²) for the
  // full distance). At 100 TB the blocks shuffle once on the block key
  // and stronger keys (phonetic, sorted-neighborhood windows) drop in
  // without changing the plan shape.
  private val d13 = QueryDef(
    "d13_fuzzy_linkage",
    (s, dir) => {
      val c = rd(s, dir, "customer")
        .select(substring(col("c_name"), 1, 15).as("block"),
          col("c_custkey").as("id"), col("c_name").as("name"))
      c.join(c.select(col("block").as("block2"), col("id").as("id2"), col("name").as("name2")),
          col("block") === col("block2") && col("id") < col("id2"))
        // levenshtein(a, b, 1) = banded DP, returns -1 when distance > 1
        .withColumn("m", expr("levenshtein(name, name2, 1)") =!= -1)
        .groupBy(col("block"))
        .agg(count(lit(1)).as("n_candidates"),
          sum(when(col("m"), 1L).otherwise(0L)).as("n_matches"))
        .orderBy(col("block"))
    },
    Some("""WITH c AS (
      SELECT substr(c_name, 1, 15) AS block, c_custkey AS id, c_name AS name
      FROM customer)
    SELECT a.block, COUNT(*) AS n_candidates,
      CAST(SUM(CASE WHEN levenshtein(a.name, b.name) <= 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_matches
    FROM c a JOIN c b ON a.block = b.block AND a.id < b.id
    GROUP BY a.block ORDER BY a.block"""))

  // ---------------------------------------------------------------- d14
  // MinHash calibration curve: E[exact Jaccard | k of 8 minhashes agree]
  // over a bounded pair set — the measurement that justifies (or
  // indicts) an LSH band/row choice before committing a corpus-scale
  // dedup run to it: P(minhash agree) = J per permutation, so the
  // agreement count is Binomial(8, J) and the curve should rise ~k/8.
  // Agreement counting is integer zip_with over the signature arrays;
  // the per-bucket mean Jaccard sums exact 6-decimal DECIMALs (a double
  // sum would be partition-order-dependent), divided once at the end.
  private val d14 = QueryDef(
    "d14_minhash_calibration",
    (s, dir) => {
      val sh = shingled(s, dir).filter(col("doc_id") < 60)
      val mh = sh
        .select(col("doc_id"), expr(s"transform(sh, x -> ${strHashExpr("x")})").as("hs"))
        // native one-pass signature (see minhashSigsOf)
        .select(col("doc_id"), expr("minhash_sigs(hs)").as("mhs"))
      val pairs = sh.select(col("doc_id").as("id1"), col("sh").as("sh1"))
        .join(sh.select(col("doc_id").as("id2"), col("sh").as("sh2")),
          col("id1") < col("id2"))
        .withColumn("jacc", round(
          size(array_intersect(col("sh1"), col("sh2"))).cast("double") /
            size(array_union(col("sh1"), col("sh2"))), 6))
        .select(col("id1"), col("id2"), col("jacc"))
      pairs
        .join(mh.select(col("doc_id").as("id1"), col("mhs").as("m1")), "id1")
        .join(mh.select(col("doc_id").as("id2"), col("mhs").as("m2")), "id2")
        .withColumn("k_agree",
          expr("size(filter(zip_with(m1, m2, (a, b) -> a = b), x -> x))").cast("long"))
        .groupBy(col("k_agree"))
        .agg(count(lit(1)).as("n_pairs"),
          sum(col("jacc").cast(org.apache.spark.sql.types.DecimalType(18, 6)))
            .as("sj"))
        .select(col("k_agree"), col("n_pairs"),
          expr("CAST(sj AS DOUBLE) / CAST(n_pairs AS DOUBLE)").as("avg_jacc"))
        .orderBy(col("k_agree"))
    },
    Some(s"""WITH sh AS (
      SELECT doc_id, $shingleSqlDuck AS sh FROM documents
      WHERE doc_id < 60 AND len(string_split(text, ' ')) >= 3),
    hs AS (SELECT doc_id, sh, list_transform(sh, x -> ${strHashSql("x")}) AS hs FROM sh),
    mh AS (SELECT doc_id, [${perm.map { case (a, b) => s"list_min(list_transform(hs, h -> ($a * h + $b) % $HashMod))" }.mkString(", ")}] AS mhs FROM hs),
    pairs AS (
      SELECT a.doc_id AS id1, b.doc_id AS id2,
        round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
              / len(list_distinct(list_concat(a.sh, b.sh))), 6) AS jacc,
        CAST(len(list_filter(list_zip(x.mhs, y.mhs), p -> p[1] = p[2])) AS BIGINT) AS k_agree
      FROM sh a JOIN sh b ON a.doc_id < b.doc_id
      JOIN mh x ON x.doc_id = a.doc_id JOIN mh y ON y.doc_id = b.doc_id)
    SELECT k_agree, COUNT(*) AS n_pairs,
      CAST(SUM(CAST(jacc AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*) AS avg_jacc
    FROM pairs GROUP BY 1 ORDER BY 1"""))

  // ---------------------------------------------------------------- d16
  // PERSISTED LSH signature index + delta probe — the dedup twin of the
  // s13 index-maintenance story and the missing scale piece over d11:
  // the corpus side of near-dup dedup is not recomputed per batch, it is
  // a STORED signature table (doc_id, 8-minhash signature, band key)
  // written BUCKETED BY the band key. An arriving delta computes
  // signatures for ITS docs only and equi-joins the index on the band
  // key — the index side needs no Exchange (bucket files are the
  // shuffle, paid once at publish time; q88/`BucketingSpec` pin that
  // plan shape), the delta side shuffles |delta| rows. Candidates are
  // then verified from SIGNATURES ALONE (#agreeing minhashes ≥ 4 of 8 ⇒
  // estimated Jaccard ≥ 0.5, the d14-calibrated estimator) — corpus TEXT
  // is never re-read, which is the property that makes nightly dedup
  // O(|delta|) at 100 TB. Output: per delta source, docs probed and
  // docs flagged as near-dups of the corpus.
  /** MinHash signatures over a documents-shaped frame `(doc_id, text, …)`:
    * distinct 3-gram shingles → 8 permuted minhashes, one `(doc_id, mhs)`
    * row per doc. Documents shorter than 3 tokens have no signature and
    * produce no row. Shared by d16's persisted-index probe and q119's
    * streaming dedup gate (whose micro-batches sign THEIR docs with this
    * exact pipeline, so stream and index signatures agree bit-for-bit). */
  private[analytics] def minhashSigsOf(d: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    d.select(col("doc_id"), split(col("text"), " ").as("w"))
      .filter(size(col("w")) >= 3)
      .select(col("doc_id"), expr(shingleFromTokens).as("sh"))
      .select(col("doc_id"), expr(s"transform(sh, x -> ${strHashExpr("x")})").as("hs"))
      // ONE pass over the hashed shingles for all 8 minima (value-identical
      // to the 8-fold array_min(transform(...)) form it replaced — native
      // codegen, no per-permutation intermediate arrays)
      .select(col("doc_id"), expr("minhash_sigs(hs)").as("mhs"))

  /** [[minhashSigsOf]] exploded to 4 bands of 2: one `(doc_id, mhs, band)`
    * row per (doc, band) with the full signature carried. */
  private[analytics] def minhashBandsOf(d: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    minhashSigsOf(d).select(col("doc_id"), col("mhs"), explode(expr(
      "transform(sequence(0, 3), i -> concat(i, ':', element_at(mhs, 2 * i + 1), ':', element_at(mhs, 2 * i + 2)))")).as("band"))

  private val d16 = QueryDef(
    "d16_persisted_lsh_index",
    (s, dir) => {
      // the DELTA half signs its own docs (a live batch's signature cost
      // belongs to the delta); the published corpus half below reads the
      // persisted signature index instead of a second pipeline run
      val mh = minhashSigsOf(docs(s, dir).filter(col("doc_id") % 2 === 1))
      val bands = mh.select(col("doc_id"), col("mhs"), explode(expr(
        "transform(sequence(0, 3), i -> concat(i, ':', element_at(mhs, 2 * i + 1), ':', element_at(mhs, 2 * i + 2)))")).as("band"))
      graft.BenchSplit.setup {
        // publish the corpus signature index (pre-exists at scale) —
        // off the persisted full-corpus index (identical rows; r22)
        s.sql(s"CREATE DATABASE IF NOT EXISTS graft_d16 LOCATION '${tmp("graft-d16-db")}'")
        s.sql("DROP TABLE IF EXISTS graft_d16.sig_idx")
        minhashBandsIdx(s, dir).filter(col("doc_id") % 2 === 0)
          .write.bucketBy(8, "band").sortBy("band")
          .option("path", tmp("graft-d16-idx"))
          .saveAsTable("graft_d16.sig_idx")
      }
      val idx = s.table("graft_d16.sig_idx")
        .select(col("band"), col("doc_id").as("c_id"), col("mhs").as("c_mhs"))
      val delta = bands
        .select(col("band"), col("doc_id").as("d_id"), col("mhs").as("d_mhs"))
      val flagged = delta.join(idx, "band")
        .select(col("d_id"), col("c_id"), col("d_mhs"), col("c_mhs")).distinct()
        .withColumn("n_agree",
          expr("size(filter(zip_with(d_mhs, c_mhs, (x, y) -> x = y), b -> b))"))
        .filter(col("n_agree") >= 4)
        .select(col("d_id")).distinct()
        .withColumn("flag", lit(1L))
      mh.select(col("doc_id").as("d_id"))
        .join(docs(s, dir).select(col("doc_id").as("d_id"), col("source")), "d_id")
        .join(flagged, Seq("d_id"), "left")
        .groupBy(col("source"))
        .agg(
          count(lit(1)).as("n_delta"),
          sum(coalesce(col("flag"), lit(0L))).as("n_flagged"))
        .orderBy(col("source"))
    },
    Some(s"""WITH sh AS (
      SELECT doc_id, $shingleSqlDuck AS sh FROM documents
      WHERE len(string_split(text, ' ')) >= 3),
    hs AS (SELECT doc_id, list_transform(sh, x -> ${strHashSql("x")}) AS hs FROM sh),
    mh AS (SELECT doc_id, [${perm.map { case (a, b) => s"list_min(list_transform(hs, h -> ($a * h + $b) % $HashMod))" }.mkString(", ")}] AS mhs FROM hs),
    bands AS (SELECT doc_id, CAST(i AS VARCHAR) || ':' || CAST(mhs[2 * i + 1] AS VARCHAR) || ':' || CAST(mhs[2 * i + 2] AS VARCHAR) AS band
              FROM mh CROSS JOIN generate_series(0, 3) AS g(i)),
    cand AS (SELECT DISTINCT a.doc_id AS d_id, b.doc_id AS c_id
             FROM bands a JOIN bands b ON a.band = b.band
             WHERE a.doc_id % 2 = 1 AND b.doc_id % 2 = 0),
    flagged AS (SELECT DISTINCT d_id FROM cand
                JOIN mh x ON x.doc_id = d_id JOIN mh y ON y.doc_id = c_id
                WHERE len(list_filter(list_zip(x.mhs, y.mhs), p -> p[1] = p[2])) >= 4)
    SELECT d.source, COUNT(*) AS n_delta,
      CAST(SUM(CASE WHEN f.d_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged
    FROM mh m JOIN documents d ON d.doc_id = m.doc_id
    LEFT JOIN flagged f ON f.d_id = m.doc_id
    WHERE m.doc_id % 2 = 1
    GROUP BY 1 ORDER BY 1"""))

  // ---------------------------------------------------------------- d17
  // CANONICAL CORPUS BUILD — the end-to-end deliverable the dedup
  // components exist for, composed into one query: d05's Hamming-bucketed
  // SimHash candidate pairs → d07's connected components (pointer-jumping
  // CC, O(log diameter) rounds) → d08's keep-best policy applied PER
  // CLUSTER (longest text, doc_id tie-break) → every unclustered doc is
  // its own representative. Output per source: docs in, docs kept, kept
  // char mass, and an exact checksum over the kept doc_ids (DECIMAL sum
  // mod 1e9+7) — the oracle must select the SAME representatives, not
  // merely as many. Plan shape: the d07 loop + one |docs| window inside
  // clusters + one membership join; nothing wider than its components.
  private val d17 = QueryDef(
    "d17_canonical_corpus",
    (s, dir) => {
      val pairs = simhashPairs(s, dir)
      val labels = Tables.withShuffle(s, 8) {
        graft.operators.ConnectedComponents.label(pairs)
      }
      pairs.unpersist()
      val d = docs(s, dir).select(col("doc_id"), col("source"), col("n_chars"))
      val clustered = d.join(labels, d("doc_id") === labels("node"))
      val w = Window.partitionBy(col("comp"))
        .orderBy(col("n_chars").desc, col("doc_id"))
      val reps = clustered.withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1).select(col("doc_id"))
      val singles = d.join(labels, d("doc_id") === labels("node"), "left_anti")
        .select(col("doc_id"))
      val kept = reps.union(singles).withColumn("kept", lit(1L))
      d.join(kept, Seq("doc_id"), "left")
        .groupBy(col("source"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(coalesce(col("kept"), lit(0L))).as("n_kept"),
          sum(when(col("kept") === 1L, col("n_chars")).otherwise(0L)).as("kept_chars"),
          (sum(when(col("kept") === 1L, col("doc_id")).otherwise(0L)
            .cast(org.apache.spark.sql.types.DecimalType(38, 0))) % lit(HashMod))
            .cast("long").as("kept_id_checksum"))
        .orderBy(col("source"))
    },
    Some(s"""WITH RECURSIVE $simhashCteDuck,
    ${simhashPairsCte("p")},
    ${undirectedCte("e", "p")},
    ${componentsCte("comp")},
    cl AS (SELECT d.doc_id, d.n_chars, c.comp
           FROM documents d JOIN comp c ON c.node = d.doc_id),
    reps AS (SELECT doc_id FROM (
               SELECT doc_id, ROW_NUMBER() OVER (PARTITION BY comp
                 ORDER BY n_chars DESC, doc_id) AS rn FROM cl)
             WHERE rn = 1),
    kept AS (SELECT doc_id FROM reps
             UNION ALL
             SELECT d.doc_id FROM documents d
             WHERE NOT EXISTS (SELECT 1 FROM comp WHERE comp.node = d.doc_id))
    SELECT d.source, COUNT(*) AS n_docs,
      CAST(SUM(CASE WHEN k.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
      CAST(SUM(CASE WHEN k.doc_id IS NOT NULL THEN d.n_chars ELSE 0 END) AS BIGINT) AS kept_chars,
      CAST(SUM(CASE WHEN k.doc_id IS NOT NULL THEN CAST(d.doc_id AS DECIMAL(38,0))
               ELSE CAST(0 AS DECIMAL(38,0)) END) % $HashMod AS BIGINT) AS kept_id_checksum
    FROM documents d LEFT JOIN kept k ON k.doc_id = d.doc_id
    GROUP BY d.source ORDER BY d.source"""))

  // ---------------------------------------------------------------- d18
  // Bounded-round k-core peel over the near-dup graph — graph degeneracy
  // as a corpus signal alongside d07 (components), d09 (centrality), d10
  // (triangles): docs surviving the 2-core are embedded in a DENSE
  // near-dup web (template/boilerplate families), while degree-1
  // pendants are incidental matches. Each round keeps nodes with ≥ k
  // surviving neighbors (two semi-joins restrict edges to the current
  // core, one count aggregate re-derives degrees); rounds are FIXED at 4
  // — at scale you cap peel rounds anyway (each is O(|E|) with map-side
  // combine, and the fixpoint tail converges geometrically), and a fixed
  // bound is what makes the operator oracle-checkable (the oracle
  // unrolls the same rounds as CTEs). Per-round localCheckpoint keeps
  // plans constant-size (the CC discipline). Output: per source, docs in
  // the bounded 2-core + the d17-style exact id checksum.
  private[graft] val KCoreK = 2
  private[graft] val KCoreRounds = 4

  /** One k-core peel round: restrict edges to the current core (two
    * LeftSemi joins — edges are never duplicated, unlike inner joins
    * against the node list), recount degrees (two-phase aggregate:
    * map-side partial_count before the one |V|-sized shuffle), keep
    * nodes with ≥ k surviving neighbors. Factored out so
    * `KcorePlanSpec` can pin this per-round shape directly — the
    * registered query's final plan is a post-localCheckpoint
    * ExistingRDD, which hides the internals from Explain. */
  private[graft] def kcoreRound(edges: org.apache.spark.sql.DataFrame,
      core: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    edges
      .join(core.select(col("node").as("id1")), Seq("id1"), "left_semi")
      .join(core.select(col("node").as("id2")), Seq("id2"), "left_semi")
      .groupBy(col("id1").as("node"))
      .agg(count(lit(1)).as("deg"))
      .filter(col("deg") >= KCoreK)
      .select(col("node"))

  private val d18 = QueryDef(
    "d18_kcore_peel",
    (s, dir) => {
      val pairs = simhashPairs(s, dir)
      val edges = pairs
        .union(pairs.select(col("id2").as("id1"), col("id1").as("id2")))
        .cache()
      edges.count()
      pairs.unpersist()
      // LAZY checkpoints: the rounds have no interleaved action, so the
      // final aggregate materializes the whole 4-round chain in one job
      // (each round's RDD is still cached+truncated on first compute —
      // constant plan size) instead of one eager checkpoint job per round.
      // kcoreRound references each round TWICE (two semi-joins) with no
      // action between (ADVICE r21): safe because the two LeftSemi builds
      // are broadcast/exchange subtrees of ONE stage DAG over the SAME
      // persisted RDD — worst case a concurrent-stage race recomputes a
      // |V|-row projection once (bounded, measured flat in the r21 lazy
      // A/B: d18 −0.3, d24 −0.9, d23 flat); output is identical either
      // way because every round is a deterministic function of its input
      var core = edges.select(col("id1").as("node")).distinct()
        .localCheckpoint(eager = false)
      (1 to KCoreRounds).foreach { _ =>
        core = kcoreRound(edges, core).localCheckpoint(eager = false)
      }
      val d = docs(s, dir).select(col("doc_id"), col("source"))
      val out = d.join(core, d("doc_id") === core("node"))
        .groupBy(col("source"))
        .agg(
          count(lit(1)).as("n_core_docs"),
          (sum(col("doc_id").cast(org.apache.spark.sql.types.DecimalType(38, 0)))
            % lit(HashMod)).cast("long").as("core_id_checksum"))
        .orderBy(col("source"))
        .localCheckpoint()
      edges.unpersist()
      out
    },
    Some(kcoreOracle))

  /** The unrolled k-core oracle, shared by d18 (batch peel) and d24 (the
    * streaming-maintained graph's peel): the maintained edge set must be
    * indistinguishable from the full recompute. */
  private[analytics] lazy val kcoreOracle: String =
    s"""WITH $simhashCteDuck,
    ${simhashPairsCte("p")},
    ${undirectedCte("e", "p", all = true)},
    n0 AS (SELECT DISTINCT id1 AS node FROM e),
    ${(1 to KCoreRounds).map(k =>
        s"""n$k AS (SELECT id1 AS node FROM e
          WHERE id1 IN (SELECT node FROM n${k - 1})
            AND id2 IN (SELECT node FROM n${k - 1})
          GROUP BY id1 HAVING COUNT(*) >= $KCoreK)""").mkString(",\n    ")}
    SELECT d.source, COUNT(*) AS n_core_docs,
      CAST(SUM(CAST(d.doc_id AS DECIMAL(38,0))) % $HashMod AS BIGINT) AS core_id_checksum
    FROM documents d JOIN n$KCoreRounds c ON c.node = d.doc_id
    GROUP BY d.source ORDER BY d.source"""

  // ---------------------------------------------------------------- d19
  // Mergeable per-SOURCE MinHash signatures → source-overlap matrix: the
  // sketch-algebra view of near-dup analysis. A source's signature is
  // the componentwise MIN of its shingle-hash permutations — an
  // associative/commutative monoid, so per-partition partial signatures
  // combine losslessly (accumulate → merge → estimate, the q58 sketch
  // discipline applied to set similarity). Corpus-level source-pair
  // comparison then costs |sources|² × 8 longs, independent of corpus
  // size — THE way to ask "which sources overlap" at 100 TB without
  // touching text twice. Verified in the same query against the exact
  // per-pair Jaccard of the shingle-hash sets (computable at test scale;
  // the estimate column is what survives at 100 TB).
  /** Per-source MinHash signature: componentwise MIN over the shared
    * permutations — an associative/commutative monoid
    * (`MinHashMonoidSpec`), so Spark plans it as a TWO-PHASE aggregate:
    * per-partition partial_min over each permutation, then ONE Exchange
    * carrying |sources| × |perm| longs, then the final merge. Factored
    * out so `KcorePlanSpec` can pin that single-Exchange shape directly
    * (d19's registered plan is a post-localCheckpoint ExistingRDD). */
  private[graft] def minhashSignatures(
      hs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    hs.groupBy(col("source"))
      .agg(
        array(perm.map { case (a, b) =>
          min(expr(s"($a * h + $b) % $HashMod"))
        }: _*).as("g"),
        count(lit(1)).as("n_sh"))

  private val d19 = QueryDef(
    "d19_source_minhash_matrix",
    (s, dir) => {
      val hs = docs(s, dir)
        .select(col("source"), split(col("text"), " ").as("w"))
        .filter(size(col("w")) >= 3)
        .select(col("source"), explode(expr(shingleFromTokens)).as("shingle"))
        .select(col("source"), expr(strHashExpr("shingle")).as("h"))
        .distinct()
        .cache()
      hs.count()
      val sig = minhashSignatures(hs)
      val pairs = sig
        .select(col("source").as("s1"), col("g").as("g1"), col("n_sh").as("n1"))
        .join(sig.select(col("source").as("s2"), col("g").as("g2"),
          col("n_sh").as("n2")), col("s1") < col("s2"))
        .withColumn("k_agree",
          expr("size(filter(zip_with(g1, g2, (x, y) -> x = y), b -> b))").cast("long"))
      val inter = hs.select(col("source").as("s1"), col("h"))
        .join(hs.select(col("source").as("s2"), col("h")), Seq("h"))
        .filter(col("s1") < col("s2"))
        .groupBy(col("s1"), col("s2")).agg(count(lit(1)).as("n_inter"))
      val out = pairs.join(inter, Seq("s1", "s2"), "left")
        .select(col("s1"), col("s2"), col("k_agree"),
          (col("k_agree").cast("double") / perm.size).as("est_jaccard"),
          round(coalesce(col("n_inter"), lit(0L)).cast("double") /
            (col("n1") + col("n2") - coalesce(col("n_inter"), lit(0L))), 6)
            .as("jaccard"))
        .orderBy(col("s1"), col("s2"))
        .localCheckpoint()
      hs.unpersist()
      out
    },
    Some(s"""WITH hs AS (
      SELECT DISTINCT source, ${strHashSql("sh1")} AS h FROM (
        SELECT source, unnest($shingleSqlDuck) AS sh1 FROM documents
        WHERE len(string_split(text, ' ')) >= 3)),
    sig AS (SELECT source,
        ${perm.map { case (a, b) => s"MIN(($a * h + $b) % $HashMod)" }
          .mkString("[", ", ", "]")} AS g,
        COUNT(*) AS n_sh
      FROM hs GROUP BY source),
    pairs AS (SELECT a.source AS s1, b.source AS s2, a.g AS g1, b.g AS g2,
        a.n_sh AS n1, b.n_sh AS n2
      FROM sig a JOIN sig b ON a.source < b.source),
    inter AS (SELECT a.source AS s1, b.source AS s2, COUNT(*) AS n_inter
      FROM hs a JOIN hs b ON a.h = b.h AND a.source < b.source
      GROUP BY 1, 2)
    SELECT p.s1, p.s2,
      CAST(len(list_filter(list_zip(p.g1, p.g2), z -> z[1] = z[2])) AS BIGINT) AS k_agree,
      CAST(len(list_filter(list_zip(p.g1, p.g2), z -> z[1] = z[2])) AS DOUBLE) / ${perm.size} AS est_jaccard,
      round(CAST(COALESCE(i.n_inter, 0) AS DOUBLE)
        / (p.n1 + p.n2 - COALESCE(i.n_inter, 0)), 6) AS jaccard
    FROM pairs p LEFT JOIN inter i ON i.s1 = p.s1 AND i.s2 = p.s2
    ORDER BY p.s1, p.s2"""))

  // ---------------------------------------------------------------- d21
  // INCREMENTAL duplicate-cluster maintenance — the missing scale piece
  // over d07/d16: cluster state is not recomputed per batch, it is a
  // STORED pair of tables — the corpus SimHash signature index (bucketed
  // by the Hamming bucket, d16's discipline) and the corpus cluster
  // labeling (node → component-min id, d07's output). An arriving delta
  // computes signatures for ITS docs only, finds delta-delta candidates
  // (bucket self-join, |delta|-sized) and delta-corpus candidates (one
  // equi-join against the bucketed index — zero Exchange on the corpus
  // side), then CONTRACTS corpus endpoints through their stored labels:
  // the merge graph's nodes are delta ids plus touched cluster reps, so
  // the CC loop runs on an O(|delta|)-sized graph regardless of corpus
  // size. Because each stored rep is already the MIN member of its
  // cluster, the contracted component minimum equals the full-graph
  // component minimum — the merged labeling is EXACTLY what d07 computes
  // from scratch over corpus ∪ delta, and the oracle is that full
  // recompute (recursive-CTE transitive closure over all docs). At
  // 100 TB: corpus text is never re-read, corpus labels never recomputed;
  // the only corpus-sized work is one map-scan of the label table for the
  // final relabel-and-count (itself a map-side-combined aggregate).
  /** d21's delta-side candidate-edge build against the PUBLISHED corpus
    * state: delta-delta candidates (bucket self-join over the cached delta
    * signatures) unioned with delta-corpus candidates probed from the
    * bucketed `graft_d21.sig_idx` table and CONTRACTED through the stored
    * `graft_d21.labels` (a corpus singleton contracts to itself). Factored
    * out so `IncrementalClustersPlanSpec` can pin the probe's plan shape —
    * zero Exchange on the index side — directly; the registered query's
    * final plan is a post-localCheckpoint ExistingRDD that hides it. */
  private[graft] def d21DeltaEdges(
      s: org.apache.spark.sql.SparkSession,
      delta: org.apache.spark.sql.DataFrame,
      db: String = "graft_d21"): org.apache.spark.sql.DataFrame = {
    val idx = s.table(s"$db.sig_idx")
    val labels = s.table(s"$db.labels")
    // within-delta pairs: the capped self-join (cap never binds at the
    // correctness SFs; bounds the template-family quadratic at scale)
    val dd = cappedSelfPairs(delta)
    // delta-vs-index PROBE (not a self-join): |delta_bucket| × |idx_bucket|
    // per bucket — linear in the batch, priced by d39's audit
    val dc = delta.select(col("bucket"), col("doc_id").as("d_id"), col("simhash").as("d_h"))
      .join(idx.select(col("bucket"), col("doc_id").as("c_id"), col("simhash").as("c_h")),
        Seq("bucket"))
      .filter(expr("bit_count(d_h ^ c_h)") <= 6)
      .select(col("d_id"), col("c_id"))
    val dcContracted = dc.join(labels, dc("c_id") === labels("node"), "left")
      .select(col("d_id").as("id1"), coalesce(col("comp"), col("c_id")).as("id2"))
    dd.union(dcContracted)
  }

  /** Delta-half SimHash signatures (odd doc_ids) with the Hamming bucket —
    * the d21 probe input, exposed for `IncrementalClustersPlanSpec`. */
  private[graft] def d21DeltaSigs(
      s: org.apache.spark.sql.SparkSession, dir: String): org.apache.spark.sql.DataFrame =
    simhashDf(s, dir).withColumn("bucket", expr("shiftright(simhash, 8)"))
      .filter(col("doc_id") % 2 === 1)

  private val d21 = QueryDef(
    "d21_incremental_clusters",
    (s, dir) => {
      val sh = simhashDf(s, dir).withColumn("bucket", expr("shiftright(simhash, 8)"))
      graft.BenchSplit.setup {
        // publish the corpus state (pre-exists at scale): signature index
        // bucketed by the probe key + the corpus-half cluster labeling
        s.sql(s"CREATE DATABASE IF NOT EXISTS graft_d21 LOCATION '${tmp("graft-d21-db")}'")
        s.sql("DROP TABLE IF EXISTS graft_d21.sig_idx")
        s.sql("DROP TABLE IF EXISTS graft_d21.labels")
        // corpus-half signatures off the persisted signature index (the
        // published state pre-exists at scale; only the DELTA below pays
        // the signature pipeline — that cost belongs to the delta)
        val even = simhashIndex(s, dir)
          .withColumn("bucket", expr("shiftright(simhash, 8)"))
          .filter(col("doc_id") % 2 === 0).cache()
        even.count()
        even.write.bucketBy(8, "bucket").sortBy("bucket")
          .option("path", tmp("graft-d21-idx")).saveAsTable("graft_d21.sig_idx")
        val ee = cappedSelfPairs(even)
        val labels = Tables.withShuffle(s, 8) {
          graft.operators.ConnectedComponents.label(ee)
        }
        labels.write.option("path", tmp("graft-d21-labels")).saveAsTable("graft_d21.labels")
        even.unpersist()
      }
      // ---- the timed operator: one delta batch arrives ----
      // delta signatures are computed HERE (that cost belongs to the
      // delta); cached because they feed both candidate joins
      val delta = sh.filter(col("doc_id") % 2 === 1).cache()
      delta.count()
      val labels = s.table("graft_d21.labels")
      val contracted = d21DeltaEdges(s, delta).localCheckpoint()
      val labC = Tables.withShuffle(s, 8) {
        graft.operators.ConnectedComponents.label(contracted)
      }
      delta.unpersist()
      // membership = stored members ∪ contracted nodes not already stored
      // (delta docs and corpus singletons enter with themselves as label)
      val contractedNodes = contracted.select(col("id1").as("node"))
        .union(contracted.select(col("id2").as("node"))).distinct()
      val newbies = contractedNodes.join(labels, Seq("node"), "left_anti")
        .select(col("node"), col("node").as("comp"))
      val members = labels.select(col("node"), col("comp")).union(newbies)
      // map each member's (possibly stale) label through the contracted
      // relabeling; untouched clusters pass through unchanged
      members
        .join(labC.select(col("node").as("oc"), col("comp").as("nc")),
          col("comp") === col("oc"), "left")
        .select(col("node"), coalesce(col("nc"), col("comp")).as("ncomp"))
        .groupBy(col("ncomp").as("cluster_rep"))
        .agg(count(lit(1)).as("n_members"))
        .orderBy(col("cluster_rep"))
    },
    // oracle = the FULL recompute over corpus ∪ delta — d07's independent
    // recursive-CTE transitive closure, verbatim: the incremental merge
    // must be indistinguishable from rebuilding from scratch
    Some(s"""WITH RECURSIVE $simhashCteDuck,
    ${simhashPairsCte("p")},
    ${undirectedCte("e", "p")},
    ${componentsCte("cluster_rep")}
    SELECT cluster_rep, COUNT(*) AS n_members
    FROM comp GROUP BY cluster_rep ORDER BY cluster_rep"""))

  // ---------------------------------------------------------------- d22
  // LABEL PROPAGATION communities over the near-dup graph — the community
  // detector between connected components (d07: any path merges — one
  // bridge edge fuses two template families) and k-core (d18: a density
  // floor, not a partition): LPA assigns each doc the label the PLURALITY
  // of its neighbors carry, so two dense template families joined by a
  // stray edge stay separate communities. Three semi-synchronous rounds,
  // fully deterministic: every node votes with its neighbors' labels PLUS
  // its own (the self-vote is the standard stabilizer — isolated docs keep
  // their own id), and the winner is (max count, then MIN label) — no
  // hash-order or async-schedule nondeterminism, so the DuckDB oracle can
  // unroll the identical three rounds as chained CTEs.
  //
  // Scale shape: one round = one |E|-sized equi-join (edges never
  // duplicated or recomputed — the directed pair list is built once and
  // cached) + two hash aggregates with map-side partial combine; the
  // argmax is max(struct(count, −label)) — an aggregate, not a window, so
  // no per-node sort. Labels localCheckpoint per round (d07's constant-
  // size-plan discipline). Rounds are O(|E|) each and the round count is
  // fixed — at 100 TB this is 3 shuffles of the edge list, embarrassingly
  // parallel on the node key.
  private val d22 = QueryDef(
    "d22_label_propagation",
    (s, dir) => {
      val pairs = simhashPairs(s, dir)
      val edges = pairs
        .union(pairs.select(col("id2").as("id1"), col("id1").as("id2")))
        .cache()
      pairs.unpersist()
      val out = Tables.withShuffle(s, 8) {
        var labels = docs(s, dir).select(col("doc_id").as("v"), col("doc_id").as("label"))
        for (_ <- 1 to 3) {
          val nbrVotes = edges.join(labels, col("id1") === col("v"))
            .select(col("id2").as("v"), col("label"))
          labels = nbrVotes.unionAll(labels)
            .groupBy(col("v"), col("label"))
            .agg(count(lit(1)).as("c"))
            .groupBy(col("v"))
            .agg(max(struct(col("c"), (-col("label")).as("nl"))).as("top"))
            .select(col("v"), (-col("top.nl")).as("label"))
            .localCheckpoint()
        }
        labels.groupBy(col("label").as("community"))
          .agg(count(lit(1)).as("size"), sum(col("v")).as("member_sum"))
          .orderBy(col("community"))
          .localCheckpoint()
      }
      edges.unpersist()
      out
    },
    Some {
      def round(r: Int) =
        s"""votes$r AS (
        SELECT e.dst AS v, l.label FROM edges e JOIN l${r - 1} l ON l.v = e.src
        UNION ALL SELECT v, label FROM l${r - 1}),
      cnt$r AS (SELECT v, label, COUNT(*) AS c FROM votes$r GROUP BY 1, 2),
      l$r AS (SELECT v, label FROM (
        SELECT v, label,
          ROW_NUMBER() OVER (PARTITION BY v ORDER BY c DESC, label) AS rn
        FROM cnt$r) WHERE rn = 1)"""
      s"""WITH $simhashCteDuck,
      edges AS (
        SELECT a.doc_id AS src, b.doc_id AS dst
        FROM sh a JOIN sh b
          ON (a.simhash >> 8) = (b.simhash >> 8) AND a.doc_id <> b.doc_id
        WHERE bit_count(xor(a.simhash, b.simhash)) <= 6),
      l0 AS (SELECT doc_id AS v, doc_id AS label FROM sh),
      ${(1 to 3).map(round).mkString(",\n")}
      SELECT label AS community, COUNT(*) AS size,
        CAST(SUM(v) AS BIGINT) AS member_sum
      FROM l3 GROUP BY 1 ORDER BY 1"""
    })

  // ---------------------------------------------------------------- d23
  // Bounded-hop multi-source BFS over the near-dup graph — hop DISTANCE
  // as a corpus signal, completing the graph family (d07 connectivity,
  // d09 centrality, d10 triangles, d18 degeneracy, d22 communities):
  // how many hops separate each document from the nearest "anchor"
  // near-dup (seeds = nodes with doc_id % 7 = 0 — a deterministic ~14%
  // sample standing in for a labeled anchor set). Each round expands the
  // FRONTIER only (nodes first reached last round), not the whole settled
  // set: one edges⋉frontier semi-join + one min-merge aggregate with
  // map-side combine, so per-round work tracks edges INCIDENT TO the
  // frontier — the delta-expansion shape that makes BFS O(|E|) total at
  // any scale instead of O(rounds·|E|). Rounds fixed at 4 (the k-core
  // discipline: a fixed bound is what the oracle can unroll as CTEs, and
  // at 100 TB you cap traversal depth anyway). localCheckpoint per round
  // keeps plans constant-size. Output: per (source, hop distance), doc
  // count + exact id checksum; unreached nodes are absent by contract.
  private val BfsRounds = 4

  /** One BFS round: edges incident to the FRONTIER only (a LeftSemi —
    * settled nodes never re-expand), candidates at distance k, min-merged
    * into the settled set with a two-phase aggregate (map-side
    * partial_min before the one |V|-sized shuffle). Factored out so
    * `KcorePlanSpec` pins this per-round shape directly — the registered
    * query's final plan is a post-localCheckpoint ExistingRDD. */
  private[graft] def bfsRound(edges: org.apache.spark.sql.DataFrame,
      dist: org.apache.spark.sql.DataFrame,
      frontier: org.apache.spark.sql.DataFrame,
      k: Long): org.apache.spark.sql.DataFrame = {
    val cand = edges
      .join(frontier.select(col("node").as("id1")), Seq("id1"), "left_semi")
      .select(col("id2").as("node"), lit(k).as("d"))
    dist.union(cand).groupBy(col("node")).agg(min(col("d")).as("d"))
  }

  private val d23 = QueryDef(
    "d23_bfs_hops",
    (s, dir) => {
      val pairs = simhashPairs(s, dir)
      val edges = pairs
        .union(pairs.select(col("id2").as("id1"), col("id1").as("id2")))
        .cache()
      pairs.unpersist()
      // lazy rounds, one materializing job at the final aggregate (the
      // d18 r21 discipline); each round's RDD is still cached+truncated
      // on first compute, so plans stay constant-size. dist is referenced
      // by both the union and (via frontier) the semi-join with no action
      // between (ADVICE r21) — same bounded-race argument as d18's loop:
      // deterministic rounds, worst case one extra |V|-row recompute
      var dist = edges.select(col("id1").as("node")).distinct()
        .filter(col("node") % 7 === 0)
        .withColumn("d", lit(0L))
        .localCheckpoint(eager = false)
      var frontier = dist
      (1 to BfsRounds).foreach { k =>
        dist = bfsRound(edges, dist, frontier, k.toLong).localCheckpoint(eager = false)
        frontier = dist.filter(col("d") === k).localCheckpoint(eager = false)
      }
      val d = docs(s, dir).select(col("doc_id"), col("source"))
      val out = d.join(dist, d("doc_id") === dist("node"))
        .groupBy(col("source"), col("d"))
        .agg(
          count(lit(1)).as("n_docs"),
          (sum(col("doc_id").cast(org.apache.spark.sql.types.DecimalType(38, 0)))
            % lit(HashMod)).cast("long").as("id_checksum"))
        .orderBy(col("source"), col("d"))
        .localCheckpoint()
      edges.unpersist()
      out
    },
    Some(s"""WITH $simhashCteDuck,
    ${simhashPairsCte("p")},
    ${undirectedCte("e", "p", all = true)},
    d0 AS (SELECT DISTINCT id1 AS node, CAST(0 AS BIGINT) AS d FROM e
           WHERE id1 % 7 = 0),
    ${(1 to BfsRounds).map(k =>
        s"""d$k AS (SELECT node, MIN(d) AS d FROM (
          SELECT node, d FROM d${k - 1}
          UNION ALL
          SELECT e.id2, d${k - 1}.d + 1
          FROM e JOIN d${k - 1} ON e.id1 = d${k - 1}.node) u
        GROUP BY node)""").mkString(",\n    ")}
    SELECT doc.source, c.d, COUNT(*) AS n_docs,
      CAST(SUM(CAST(doc.doc_id AS DECIMAL(38,0))) % $HashMod AS BIGINT)
        AS id_checksum
    FROM documents doc JOIN d$BfsRounds c ON c.node = doc.doc_id
    GROUP BY doc.source, c.d ORDER BY doc.source, c.d"""))

  // ---------------------------------------------------------------- d25
  // LOCAL CLUSTERING COEFFICIENT — per-node triangle density
  // cc(v) = 2·T(v) / (deg(v)·(deg(v)−1)): the node-level version of
  // d10's global count, over d10's sampled co-purchase graph — bridge
  // products (cc near 0, connecting otherwise-unrelated baskets) vs
  // community products (cc near 1, bought inside tight cliques).
  // DOMAIN CHOICE IS THE SCALE LESSON: exact per-node triangle
  // attribution is Θ(Σ T(v)) output work, and the SimHash near-dup
  // graph is a union of near-CLIQUES (sf0.1: 739k edges on 5k nodes,
  // max degree 816 — ~1e9 triangles), where any exact method drowns in
  // its own answer (measured 130+ s; you'd sample neighborhoods there).
  // The co-purchase graph's triangle mass is bounded by basket size.
  // Orientation is degree-ordered like d10 but WITHOUT the global rank
  // window: each edge orients low→high by the (deg, node) tuple
  // compared locally (keyed joins against the |V|-sized degree table),
  // so nothing funnels through one partition. Wedges pair a source's
  // out-neighbors in the same tuple order, closure is one equi-join
  // back on the oriented edge, each triangle closes exactly once and
  // attributes to all three corners via a 3-way explode. O(Σ out-deg²)
  // ≤ O(m^1.5) wedges, all joins keyed. cc in exact ppm, rolled up per
  // brand.
  private val d25 = QueryDef(
    "d25_clustering_coeff",
    (s, dir) => {
      val li = rd(s, dir, "lineitem")
        .filter(col("l_orderkey") % 10 === 0)
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
        .distinct()
      val pairs = li.select(col("ok"), col("pk").as("id1"))
        .join(li.select(col("ok").as("ok2"), col("pk").as("id2")),
          col("ok") === col("ok2") && col("id1") < col("id2"))
        .select(col("id1"), col("id2")).distinct()
        .cache()
      pairs.count()
      val edges = pairs
        .union(pairs.select(col("id2").as("id1"), col("id1").as("id2")))
      val deg = edges.groupBy(col("id1").as("node")).agg(count(lit(1)).as("deg"))
        .cache()
      deg.count()
      val lt = col("d1") < col("d2") ||
        (col("d1") === col("d2") && col("id1") < col("id2"))
      val o = pairs
        .join(deg.select(col("node").as("id1"), col("deg").as("d1")), Seq("id1"))
        .join(deg.select(col("node").as("id2"), col("deg").as("d2")), Seq("id2"))
        .select(
          when(lt, col("id1")).otherwise(col("id2")).as("src"),
          when(lt, col("id2")).otherwise(col("id1")).as("dst"),
          when(lt, col("d2")).otherwise(col("d1")).as("dd"))
        .localCheckpoint()
      pairs.unpersist()
      val wedges = o.select(col("src"), col("dst").as("v"), col("dd").as("dv"))
        .join(o.select(col("src").as("src2"), col("dst").as("w"), col("dd").as("dw")),
          col("src") === col("src2") &&
            (col("dv") < col("dw") ||
              (col("dv") === col("dw") && col("v") < col("w"))))
        .select(col("src"), col("v"), col("w"))
      val tri = wedges
        .join(o.select(col("src").as("v"), col("dst").as("w")), Seq("v", "w"), "left_semi")
        .select(explode(array(col("src"), col("v"), col("w"))).as("node"))
        .groupBy(col("node")).agg(count(lit(1)).as("tri"))
      val brand = rd(s, dir, "part")
        .select(col("p_partkey"), col("p_brand").as("brand"))
      val out = deg.filter(col("deg") >= 2)
        .join(tri, Seq("node"), "left")
        .withColumn("t", coalesce(col("tri"), lit(0L)))
        .withColumn("cc_ppm",
          expr("2 * t * 1000000 DIV (deg * (deg - 1))"))
        .join(broadcast(brand), col("node") === col("p_partkey"))
        .groupBy(col("brand"))
        .agg(
          count(lit(1)).as("n_eligible"),
          sum(when(col("t") > 0, 1L).otherwise(0L)).as("n_closed"),
          sum(col("t")).as("sum_tri"),
          expr("SUM(cc_ppm) DIV COUNT(1)").as("mean_cc_ppm"))
        .orderBy(col("brand"))
        .localCheckpoint()
      deg.unpersist()
      out
    },
    Some(s"""WITH li AS (
      SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
      FROM lineitem WHERE l_orderkey % 10 = 0),
    p AS (SELECT DISTINCT a.pk AS id1, b.pk AS id2
          FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk),
    ${undirectedCte("e", "p", all = true)},
    deg AS (SELECT id1 AS node, COUNT(*) AS deg FROM e GROUP BY 1),
    o AS (SELECT CASE WHEN lt THEN id1 ELSE id2 END AS src,
                 CASE WHEN lt THEN id2 ELSE id1 END AS dst,
                 CASE WHEN lt THEN d2 ELSE d1 END AS dd
          FROM (SELECT p.id1, p.id2, du.deg AS d1, dv.deg AS d2,
                  (du.deg < dv.deg OR (du.deg = dv.deg AND p.id1 < p.id2)) AS lt
                FROM p JOIN deg du ON du.node = p.id1
                       JOIN deg dv ON dv.node = p.id2)),
    w AS (SELECT o1.src, o1.dst AS v, o2.dst AS w
          FROM o o1 JOIN o o2 ON o1.src = o2.src
          WHERE o1.dd < o2.dd OR (o1.dd = o2.dd AND o1.dst < o2.dst)),
    t AS (SELECT w.src, w.v, w.w FROM w
          WHERE EXISTS (SELECT 1 FROM o WHERE o.src = w.v AND o.dst = w.w)),
    tn AS (SELECT node, COUNT(*) AS tri FROM (
             SELECT src AS node FROM t
             UNION ALL SELECT v FROM t
             UNION ALL SELECT w FROM t) GROUP BY node),
    cc AS (SELECT deg.node, deg.deg, COALESCE(tn.tri, 0) AS t,
             2 * COALESCE(tn.tri, 0) * 1000000 // (deg.deg * (deg.deg - 1)) AS cc_ppm
           FROM deg LEFT JOIN tn ON tn.node = deg.node
           WHERE deg.deg >= 2)
    SELECT pt.p_brand AS brand, COUNT(*) AS n_eligible,
      CAST(SUM(CASE WHEN cc.t > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_closed,
      CAST(SUM(cc.t) AS BIGINT) AS sum_tri,
      CAST(SUM(cc.cc_ppm) AS BIGINT) // COUNT(*) AS mean_cc_ppm
    FROM cc JOIN part pt ON pt.p_partkey = cc.node
    GROUP BY pt.p_brand ORDER BY pt.p_brand"""))

  // ---------------------------------------------------------------- d26
  // EXACT-SUBSTRING duplicate-span finder — the suffix-array-style dedup
  // modality ("deduplicating training data makes LMs better": remove any
  // substring of ≥k tokens that appears more than once in the corpus),
  // distinct from every hash-similarity operator above: it localizes the
  // duplicated SPANS inside each doc, not doc-level similarity. The
  // distributed rewrite of suffix-array construction: hash every token
  // once, roll 8-token window hashes in ONE O(len) native pass
  // (`ngram_hashes`), and group-by gram hash — that shuffle IS the
  // suffix sort (cost ∝ corpus tokens, map-side combine collapses
  // repeats; no N² pairs anywhere). A gram occurring ≥2 times anywhere
  // (cross-doc or self-repeat) is duplicated text; consecutive duplicated
  // positions merge into maximal spans per doc via gaps-and-islands
  // (pos − row_number over the doc window — |doc| bounded state), and
  // spans shorter than 15 tokens (≥8 consecutive dup 8-grams) drop.
  // After the occurrence window only DUPLICATED grams survive, so the
  // island window + span aggregate cost ∝ duplicated mass, not corpus
  // size. Output per source: flagged docs, span count, duplicated token
  // mass, longest span, and the exact (doc, start) checksum — the oracle
  // must find the SAME spans at the SAME offsets.
  private val SpanGram = 8   // window width in tokens
  private val MinSpanTok = 15 // minimum reported span length in tokens

  /** Duplicated-gram positions with per-doc island keys — the shared core
    * of the exact-substring family (d26 reports spans, d27 applies the
    * cut). One native O(len) rolling [[SpanGram]]-hash pass per doc, then
    * ONE gram-volume shuffle: a full-partition count over the gram hash
    * (the distributed suffix sort; an agg+join-back shape would shuffle
    * the grams twice for the same answer). Grams occurring ≥2 times
    * anywhere survive; `isl = pos − row_number` over the per-doc window
    * groups consecutive duplicated positions into maximal spans.
    * Returns `(doc_id, pos, gh, isl)` — volume ∝ duplicated mass. */
  private def dupGramIslands(s: org.apache.spark.sql.SparkSession, dir: String): org.apache.spark.sql.DataFrame = {
    val th = docs(s, dir)
      .select(col("doc_id"), expr("transform(split(text, ' '), t -> poly_hash(t))").as("th"))
    val grams = th.select(col("doc_id"),
      posexplode(expr(s"ngram_hashes(th, $SpanGram)")).as(Seq("pos", "gh")))
    val dup = grams
      .withColumn("occ", count(lit(1)).over(Window.partitionBy(col("gh"))))
      .filter(col("occ") >= 2)
    val wDoc = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    dup.withColumn("isl", col("pos") - row_number().over(wDoc))
      .select(col("doc_id"), col("pos"), col("gh"), col("isl"))
  }

  private val d26 = QueryDef(
    "d26_exact_substring_spans",
    (s, dir) => {
      val spans = dupGramIslands(s, dir)
        .groupBy(col("doc_id"), col("isl"))
        .agg(min(col("pos")).as("span_start"),
          (count(lit(1)) + lit(SpanGram - 1)).as("span_tok"))
        .filter(col("span_tok") >= MinSpanTok)
      spans
        // docsNarrow: the (doc_id, source) projection does no per-row hash
        // work, so the widen re-split would be a pure shuffle tax here
        .join(docsNarrow(s, dir).select(col("doc_id"), col("source")), "doc_id")
        .groupBy(col("source"))
        .agg(
          countDistinct(col("doc_id")).as("n_dup_docs"),
          count(lit(1)).as("n_spans"),
          sum(col("span_tok")).as("dup_tokens"),
          max(col("span_tok")).as("max_span_tok"),
          (sum((col("doc_id") * lit(1000003L) + col("span_start")) % lit(HashMod))
            % lit(HashMod)).as("span_checksum"))
        .orderBy(col("source"))
    },
    Some(s"""WITH th AS (
      SELECT doc_id,
        list_transform(string_split(text, ' '), t -> ${strHashSql("t")}) AS th
      FROM documents),
    ng AS (SELECT doc_id,
        CASE WHEN len(th) >= $SpanGram THEN
          list_transform(generate_series(1, len(th) - ${SpanGram - 1}),
            i -> list_reduce(th[i:i+${SpanGram - 1}], (acc, h) -> (acc * 31 + h) % $HashMod))
        ELSE CAST([] AS BIGINT[]) END AS ngs
      FROM th),
    g AS (SELECT doc_id, unnest(range(0, len(ngs))) AS pos, unnest(ngs) AS gh FROM ng),
    d AS (SELECT doc_id, pos FROM (
            SELECT doc_id, pos, COUNT(*) OVER (PARTITION BY gh) AS occ FROM g)
          WHERE occ >= 2),
    i AS (SELECT doc_id, pos,
            pos - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos) AS isl
          FROM d),
    sp AS (SELECT doc_id, isl, MIN(pos) AS span_start,
             COUNT(*) + ${SpanGram - 1} AS span_tok
           FROM i GROUP BY 1, 2),
    f AS (SELECT * FROM sp WHERE span_tok >= $MinSpanTok)
    SELECT dd.source,
      CAST(COUNT(DISTINCT f.doc_id) AS BIGINT) AS n_dup_docs,
      COUNT(*) AS n_spans,
      CAST(SUM(span_tok) AS BIGINT) AS dup_tokens,
      CAST(MAX(span_tok) AS BIGINT) AS max_span_tok,
      CAST(SUM((f.doc_id * 1000003 + span_start) % $HashMod) % $HashMod AS BIGINT)
        AS span_checksum
    FROM f JOIN documents dd ON dd.doc_id = f.doc_id
    GROUP BY 1 ORDER BY 1"""))

  // ---------------------------------------------------------------- d27
  // EXACT-SUBSTRING DEDUP APPLIED — the cut step d26 measures: every
  // duplicated ≥15-token span beyond its FIRST occurrence (global
  // (doc_id, start) order per span CONTENT) is removed, and the
  // per-source token budget after surgery is reported — the operator
  // that actually shrinks the corpus (t25/t27's apply-vs-measure
  // discipline). Span content identity is an order-encoding commutative
  // checksum over the span's gram hashes (Σ(rank+1)·gh mod p, rank from
  // a min-window over the island — dup-mass-sized state), so it
  // aggregates without an ordered fold and never re-reads text. The
  // keep/cut decision is one row_number window over the span CONTENT
  // key — |spans| rows, high-cardinality content keys, no skew funnel.
  // Everything past dupGramIslands' one gram shuffle is ∝ duplicated
  // mass; the per-source token totals are an independent one-scan
  // map-side-combined aggregate. The oracle repeats the surgery in SQL
  // and must remove the SAME spans (cut checksum over (doc, start)).
  // KNOWN LIMITATION (extent sensitivity): span identity is the whole
  // MAXIMAL island's (chash, span_tok), so a content-identical duplicate
  // whose island merged with ADJACENT duplicated text (different extent)
  // gets a different key and neither copy is cut — the apply step
  // under-removes relative to suffix-array exact-substring dedup, which
  // keys on the shared substring itself. Deterministic and
  // oracle-consistent (the oracle repeats the same maximal-island rule);
  // closer suffix-array parity would key keep/cut on per-gram content
  // and re-segment islands at cut boundaries — ∝ dup-mass extra work,
  // not taken until a consumer needs it.
  private val d27 = QueryDef(
    "d27_substring_dedup_apply",
    (s, dir) => {
      val wIsl = Window.partitionBy(col("doc_id"), col("isl"))
      val spans = dupGramIslands(s, dir)
        .withColumn("rnk", col("pos") - min(col("pos")).over(wIsl))
        .groupBy(col("doc_id"), col("isl"))
        .agg(min(col("pos")).as("span_start"),
          (count(lit(1)) + lit(SpanGram - 1)).as("span_tok"),
          (sum((col("rnk") + lit(1L)) * col("gh") % lit(HashMod))
            % lit(HashMod)).as("chash"))
        .filter(col("span_tok") >= MinSpanTok)
      val wKeep = Window.partitionBy(col("chash"), col("span_tok"))
        .orderBy(col("doc_id"), col("span_start"))
      val cuts = spans.withColumn("rn", row_number().over(wKeep))
        .join(docsNarrow(s, dir).select(col("doc_id"), col("source")), "doc_id")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_spans"),
          sum(when(col("rn") > 1, lit(1L)).otherwise(lit(0L))).as("n_spans_cut"),
          sum(when(col("rn") > 1, col("span_tok")).otherwise(lit(0L))).as("tokens_removed"),
          (sum(when(col("rn") > 1,
            (col("doc_id") * lit(1000003L) + col("span_start")) % lit(HashMod))
            .otherwise(lit(0L))) % lit(HashMod)).as("cut_checksum"))
      val tok = docsNarrow(s, dir)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(size(split(col("text"), " ")).cast("long")).as("tokens_before"))
      tok.join(cuts, Seq("source"), "left")
        .select(col("source"), col("n_docs"), col("tokens_before"),
          coalesce(col("n_spans"), lit(0L)).as("n_spans"),
          coalesce(col("n_spans_cut"), lit(0L)).as("n_spans_cut"),
          coalesce(col("tokens_removed"), lit(0L)).as("tokens_removed"),
          (col("tokens_before") - coalesce(col("tokens_removed"), lit(0L)))
            .as("tokens_after"),
          coalesce(col("cut_checksum"), lit(0L)).as("cut_checksum"))
        .orderBy(col("source"))
    },
    Some(s"""WITH th AS (
      SELECT doc_id,
        list_transform(string_split(text, ' '), t -> ${strHashSql("t")}) AS th
      FROM documents),
    ng AS (SELECT doc_id,
        CASE WHEN len(th) >= $SpanGram THEN
          list_transform(generate_series(1, len(th) - ${SpanGram - 1}),
            i -> list_reduce(th[i:i+${SpanGram - 1}], (acc, h) -> (acc * 31 + h) % $HashMod))
        ELSE CAST([] AS BIGINT[]) END AS ngs
      FROM th),
    g AS (SELECT doc_id, unnest(range(0, len(ngs))) AS pos, unnest(ngs) AS gh FROM ng),
    d AS (SELECT doc_id, pos, gh FROM (
            SELECT doc_id, pos, gh, COUNT(*) OVER (PARTITION BY gh) AS occ FROM g)
          WHERE occ >= 2),
    i AS (SELECT doc_id, pos, gh,
            pos - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos) AS isl
          FROM d),
    r AS (SELECT doc_id, pos, gh, isl,
            pos - MIN(pos) OVER (PARTITION BY doc_id, isl) AS rnk FROM i),
    sp AS (SELECT doc_id, isl, MIN(pos) AS span_start,
             COUNT(*) + ${SpanGram - 1} AS span_tok,
             CAST(SUM((rnk + 1) * gh % $HashMod) % $HashMod AS BIGINT) AS chash
           FROM r GROUP BY 1, 2),
    f AS (SELECT * FROM sp WHERE span_tok >= $MinSpanTok),
    k AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY chash, span_tok
            ORDER BY doc_id, span_start) AS rn FROM f),
    tok AS (SELECT dd.source, COUNT(*) AS n_docs,
              CAST(SUM(len(string_split(dd.text, ' '))) AS BIGINT) AS tokens_before
            FROM documents dd GROUP BY 1),
    cut AS (SELECT dd.source,
              COUNT(*) AS n_spans,
              CAST(SUM(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_spans_cut,
              CAST(SUM(CASE WHEN rn > 1 THEN span_tok ELSE 0 END) AS BIGINT) AS tokens_removed,
              CAST(SUM(CASE WHEN rn > 1
                   THEN (k.doc_id * 1000003 + span_start) % $HashMod
                   ELSE 0 END) % $HashMod AS BIGINT) AS cut_checksum
            FROM k JOIN documents dd ON dd.doc_id = k.doc_id GROUP BY 1)
    SELECT t.source, t.n_docs, t.tokens_before,
      COALESCE(c.n_spans, 0) AS n_spans,
      COALESCE(c.n_spans_cut, 0) AS n_spans_cut,
      COALESCE(c.tokens_removed, 0) AS tokens_removed,
      t.tokens_before - COALESCE(c.tokens_removed, 0) AS tokens_after,
      COALESCE(c.cut_checksum, 0) AS cut_checksum
    FROM tok t LEFT JOIN cut c ON c.source = t.source
    ORDER BY t.source"""))

  // ---------------------------------------------------------------- d28
  // CONTAINMENT DEDUP — asymmetric near-dup: flag pairs where one doc's
  // shingle set is mostly CONTAINED in the other's (|A∩B| / min(|A|,|B|)
  // ≥ 0.5), the quoted-/embedded-document class both symmetric Jaccard
  // (a small doc inside a big one has low J) and d12's prefix rule (the
  // quote can sit anywhere) miss. Candidate generation cannot use d02's
  // minhash bands for the same reason — band collision probability IS
  // Jaccard — so it inverts on RARE shingles instead: a posting-list
  // self-join restricted to shingles with document frequency in [2, 5].
  // A ≥50%-contained pair shares ~half of the smaller doc's shingles, so
  // missing every rare one is vanishingly unlikely on real corpora,
  // while the df cap bounds candidate cost at Σ_{df≤5} df² ≤ 5·|rare
  // postings| — linear in corpus size, never N². That recall argument is
  // MEASURED, not assumed: NewOpsInvariantSpec audits the candidates
  // against exact all-pairs containment ([[containmentExactPairs]]) —
  // recall 100% on sf0.001's 28 true pairs. (A boilerplate-heavy
  // corpus where EVERY shared shingle is common would evade the rare
  // filter; that corpus is t20/t25's problem — strip boilerplate first.)
  // Verify is exact set intersection over the candidates' hashed shingle
  // arrays, integer ppm against the SMALLER set.
  /** TEST HOOK (NewOpsInvariantSpec): exact all-pairs containment over
    * the same shingle/hash representation d28 searches — the ground
    * truth its rare-shingle candidate generation is audited against
    * (the s16 recall discipline applied to the containment modality).
    * All-pairs by construction: bounded-corpus test use ONLY, never a
    * query path. Because d28's verify stage is exact set intersection,
    * its output is always a SUBSET of this truth; recall = 100% iff the
    * sets are equal. Measured at sf0.001 (500 docs, 28 true pairs):
    * recall 100% — every true ≥50%-contained pair carried ≥2 rare
    * witnesses. */
  private[graft] def containmentExactPairs(
      s: org.apache.spark.sql.SparkSession, dir: String): org.apache.spark.sql.DataFrame = {
    val hs = shingled(s, dir)
      .select(col("doc_id"), expr(s"transform(sh, x -> ${strHashExpr("x")})").as("hs"))
    hs.select(col("doc_id").as("id1"), col("hs").as("h1"))
      .crossJoin(hs.select(col("doc_id").as("id2"), col("hs").as("h2")))
      .filter(col("id1") < col("id2"))
      .select(col("id1"), col("id2"),
        expr("size(array_intersect(h1, h2)) * 1000000 DIV least(size(h1), size(h2))")
          .as("cont_ppm"))
      .filter(col("cont_ppm") >= 500000)
  }

  private val d28 = QueryDef(
    "d28_containment_dedup",
    (s, dir) => {
      val hs = shingled(s, dir)
        .select(col("doc_id"), expr(s"transform(sh, x -> ${strHashExpr("x")})").as("hs"))
        .cache()
      hs.count()
      // no distinct: shingleFromTokens already array_distinct's per doc,
      // so the exploded (doc_id, h) stream is unique — a distinct here
      // re-shuffled the whole posting volume for nothing (A/B: 5.2→4.4 s)
      val ex = hs.select(col("doc_id"), explode(col("hs")).as("h"))
      // df ∈ [2, 5] and ≥2 shared rare shingles per pair: the r14 A/B cut
      // candidates 11.5k → 1.1k at sf0.01 (7.1→5.2 s at sf0.1) with ZERO
      // flagged pairs lost at either probed SF — a ≥50%-contained pair shares a large shingle
      // mass, so demanding two rare witnesses is nearly free recall-wise
      val rare = ex.groupBy(col("h")).agg(count(lit(1)).as("df"))
        .filter(col("df") >= 2 && col("df") <= 5)
        .select(col("h"))
      val cand = ex.join(rare, "h").as("a")
        .join(ex.join(rare, "h").as("b"),
          col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id"))
        .groupBy(col("a.doc_id").as("id1"), col("b.doc_id").as("id2"))
        .agg(count(lit(1)).as("nshared"))
        .filter(col("nshared") >= 2)
        .select(col("id1"), col("id2"))
      val out = cand
        .join(hs.select(col("doc_id").as("id1"), col("hs").as("h1")), "id1")
        .join(hs.select(col("doc_id").as("id2"), col("hs").as("h2")), "id2")
        .select(col("id1"), col("id2"),
          size(col("h1")).cast("long").as("n1"),
          size(col("h2")).cast("long").as("n2"),
          expr("size(array_intersect(h1, h2)) * 1000000 DIV least(size(h1), size(h2))")
            .as("cont_ppm"))
        .filter(col("cont_ppm") >= 500000)
        .orderBy(col("id1"), col("id2"))
        .localCheckpoint()
      hs.unpersist()
      out
    },
    Some(s"""WITH sh AS (
      SELECT doc_id, $shingleSqlDuck AS sh FROM documents
      WHERE len(string_split(text, ' ')) >= 3),
    hs AS (SELECT doc_id, list_transform(sh, x -> ${strHashSql("x")}) AS hs FROM sh),
    ex AS (SELECT doc_id, unnest(hs) AS h FROM hs),
    rare AS (SELECT h FROM (SELECT h, COUNT(*) AS df FROM ex GROUP BY h)
             WHERE df BETWEEN 2 AND 5),
    cand AS (SELECT id1, id2 FROM (
               SELECT a.doc_id AS id1, b.doc_id AS id2, COUNT(*) AS nshared
               FROM ex a JOIN rare USING (h) JOIN ex b USING (h)
               WHERE a.doc_id < b.doc_id GROUP BY 1, 2)
             WHERE nshared >= 2)
    SELECT id1, id2,
      CAST(len(x.hs) AS BIGINT) AS n1, CAST(len(y.hs) AS BIGINT) AS n2,
      CAST(len(list_intersect(x.hs, y.hs)) * 1000000
           // least(len(x.hs), len(y.hs)) AS BIGINT) AS cont_ppm
    FROM cand JOIN hs x ON x.doc_id = id1 JOIN hs y ON y.doc_id = id2
    WHERE len(list_intersect(x.hs, y.hs)) * 1000000
          // least(len(x.hs), len(y.hs)) >= 500000
    ORDER BY id1, id2"""))

  // ---------------------------------------------------------------- d30
  // SEMANTIC DEDUP (SemDeDup-style) — the embedding-space twin of the
  // lexical family above: cluster the corpus by nearest centroid, then
  // inside each cluster drop every vector that has a sufficiently-cosine-
  // similar earlier (lower-id) neighbor, and account the kept/dropped
  // budget per cluster. This is the curation operator that removes
  // paraphrase-level redundancy MinHash can't see (d02/d06 key on exact
  // token/sign overlap; d30 keys on learned-representation proximity).
  // Candidate pairs form within a semantic cluster (s03's exact-integer
  // centroid assignment) — the algorithm's actual contract: the
  // within-cluster pair join is quadratic in |cluster|, and the scale
  // lever is k ∝ N so |cluster| stays bounded (SemDeDup runs k ≈ 50k on
  // web-scale corpora; here k = the 10 label centroids). Composing the
  // s02 sign-LSH bucket as a prefilter was measured and REJECTED: at
  // sf0.01 every intra-cluster pair at cosine ≥ 0.4 disagrees in ≥1 of
  // the 8 sign bits (same-bucket pairs top out at 0.35), so the
  // conjunction has ~zero recall — near-threshold pairs flip crude sign
  // bits too easily. The drop rule is deterministic (any lower-id
  // neighbor at cosine ≥ 0.4 dominates), the oracle replays cluster
  // assignment and rule exactly, and the dropped-id checksum pins the
  // surviving set, not just its size.
  private val SemDedupSim = 0.4

  private val d30 = QueryDef(
    "d30_semantic_dedup",
    (s, dir) => {
      val q = Similarity.withQuant(dir, s)
      val cent = Similarity.labelCentroids(q)
      // nearest-centroid assignment (s04's inverted-list shape),
      // materialized once: the self-join reads it twice and the
      // per-cluster totals a third time
      val assigned = Similarity.ivfAssign(q, cent).filter(col("crnk") === 1)
        .select(col("vec_id"), col("qv"), col("norm2"), col("c_label"))
        .cache()
      val l = assigned.select(col("c_label"),
        col("vec_id").as("id1"), col("qv").as("qv1"), col("norm2").as("n1"))
      val r = assigned.select(col("c_label").as("cl2"),
        col("vec_id").as("id2"), col("qv").as("qv2"), col("norm2").as("n2"))
      val dropped = l.join(r,
          col("c_label") === col("cl2") && col("id1") < col("id2"))
        .withColumn("sim", cosine("qv1", "n1", "qv2", "n2"))
        .filter(col("sim") >= SemDedupSim)
        .select(col("c_label"), col("id2")).distinct()
      val out = assigned.groupBy(col("c_label")).agg(count(lit(1)).as("n_vecs"))
        .join(dropped.groupBy(col("c_label")).agg(
            count(lit(1)).as("n_dropped"),
            (sum(col("id2") % lit(HashMod)) % lit(HashMod)).as("drop_checksum")),
          Seq("c_label"), "left")
        .select(col("c_label"), col("n_vecs"),
          coalesce(col("n_dropped"), lit(0L)).as("n_dropped"),
          expr("(n_vecs - coalesce(n_dropped, 0L)) * 1000000 DIV n_vecs")
            .as("keep_ppm"),
          coalesce(col("drop_checksum"), lit(0L)).as("drop_checksum"))
        .orderBy(col("c_label"))
        .localCheckpoint()
      assigned.unpersist()
      out
    },
    Some(s"""WITH ${Similarity.quantCte},
    ${Similarity.ivfProbeCte},
    cb AS (SELECT vec_id, qv, norm2, list_label AS c_label FROM lists),
    dr AS (SELECT DISTINCT a.c_label, b.vec_id AS id2
           FROM cb a JOIN cb b
             ON a.c_label = b.c_label AND a.vec_id < b.vec_id
           WHERE ${Similarity.simSql} >= $SemDedupSim),
    dc AS (SELECT c_label, COUNT(*) AS n_dropped,
             SUM(id2 % $HashMod) % $HashMod AS drop_checksum
           FROM dr GROUP BY 1),
    nv AS (SELECT c_label, COUNT(*) AS n_vecs FROM cb GROUP BY 1)
    SELECT nv.c_label, nv.n_vecs,
      CAST(COALESCE(dc.n_dropped, 0) AS BIGINT) AS n_dropped,
      CAST((nv.n_vecs - COALESCE(dc.n_dropped, 0)) * 1000000 // nv.n_vecs
        AS BIGINT) AS keep_ppm,
      CAST(COALESCE(dc.drop_checksum, 0) AS BIGINT) AS drop_checksum
    FROM nv LEFT JOIN dc ON nv.c_label = dc.c_label
    ORDER BY nv.c_label"""))

  // ---------------------------------------------------------------- d31
  // SHARDED-BLOOM DEDUP GATE — the "is this batch doc already in the
  // 100 TB historical corpus" membership check, structured so NO part of
  // it scales with |history| on the probe path. History fingerprints
  // (poly_hash of the 8-token prefix — d12's truncation-duplicate key)
  // are hash-sharded into S per-shard bloom filters: ONE global bloom
  // over billions of fps would be tens of GB on the driver, but each
  // shard bloom is a fixed-bits config (FP rate degrades instead of
  // memory), built by one map-side-combined aggregate whose shuffle is
  // S rows. The batch probes its shard's bloom as a pure per-row CASE
  // over S foldable binary literals (whole-stage codegen — the native
  // might_contain, q51's pattern, not a UDF): bloom-negatives are
  // admitted with ZERO shuffle, and only bloom-positives (true dups +
  // ε·|batch| false positives) reach the exact anti-join. That verify
  // join moves the 8-byte fp INDEX, never document text — ~0.1% of
  // corpus bytes, the d16 persisted-index discipline. The result is
  // EXACT whatever the bloom does: FPs are removed by the anti-join,
  // and blooms have no false negatives, so admitted ≡ batch ∖ history.
  private val d31 = QueryDef(
    "d31_bloom_dedup_gate",
    (s, dir) => {
      val S = 4L // shard count — config constant, not data-scaled
      val base = docsNarrow(s, dir).withColumn("fp",
        expr(strHashExpr("concat_ws(' ', slice(split(text, ' '), 1, 8))")))
      // block split (every 5th block of 20 ids is "the new batch") so the
      // batch crosses all sources — doc_id % 5 would alias the source key
      val hist = base.filter(expr("(doc_id DIV 20) % 5") =!= 0).select(col("fp"))
      val batch = base.filter(expr("(doc_id DIV 20) % 5") === 0)
        .select(col("doc_id"), col("source"), col("fp"))
      // S bounded rows, each a fixed-size bloom — driver-safe by design
      val blooms = hist.groupBy((col("fp") % S).as("shard"))
        .agg(call_function("bloom_filter_agg", col("fp"), lit(1L << 16)).as("bf"))
        .collect().map(r => r.getLong(0) -> r.getAs[Array[Byte]]("bf"))
        .sortBy(_._1)
      val probe = blooms.foldLeft(lit(false)) { case (acc, (sh, bytes)) =>
        when(col("fp") % S === sh,
          call_function("might_contain", lit(bytes), col("fp"))).otherwise(acc)
      }
      val admitted = batch.filter(!probe).unionByName(
        batch.filter(probe).join(hist, Seq("fp"), "left_anti"))
      val aa = admitted.groupBy(col("source"))
        .agg(count(lit(1)).as("n_admitted"),
          (sum(col("doc_id") % HashMod) % HashMod).as("admitted_checksum"))
      batch.groupBy(col("source")).agg(count(lit(1)).as("n_batch"))
        .join(aa, Seq("source"), "left")
        .select(col("source"), col("n_batch"),
          coalesce(col("n_admitted"), lit(0L)).as("n_admitted"),
          coalesce(col("admitted_checksum"), lit(0L)).as("admitted_checksum"))
        .orderBy(col("source"))
    },
    Some(s"""WITH d AS (
      SELECT doc_id, source,
        ${strHashSql("array_to_string(string_split(text, ' ')[1:8], ' ')")} AS fp
      FROM documents),
    h AS (SELECT fp FROM d WHERE (doc_id // 20) % 5 <> 0),
    b AS (SELECT doc_id, source, fp FROM d WHERE (doc_id // 20) % 5 = 0),
    adm AS (SELECT * FROM b
            WHERE NOT EXISTS (SELECT 1 FROM h WHERE h.fp = b.fp)),
    ba AS (SELECT source, COUNT(*) AS n_batch FROM b GROUP BY 1),
    aa AS (SELECT source, COUNT(*) AS n_admitted,
             CAST(SUM(doc_id % $HashMod) % $HashMod AS BIGINT) AS admitted_checksum
           FROM adm GROUP BY 1)
    SELECT ba.source, ba.n_batch,
      CAST(COALESCE(aa.n_admitted, 0) AS BIGINT) AS n_admitted,
      CAST(COALESCE(aa.admitted_checksum, 0) AS BIGINT) AS admitted_checksum
    FROM ba LEFT JOIN aa USING (source) ORDER BY ba.source"""))

  // ---------------------------------------------------------------- d32
  // LEAKAGE-SAFE TRAIN/TEST SPLIT — the evaluation-integrity step after
  // dedup: a random per-document split leaks whenever a near-dup CLUSTER
  // straddles train and test (the model "memorizes" the test doc's twin
  // from train — t12 decontaminates against an EXTERNAL benchmark; this
  // is the INTERNAL holdout version of the same failure). Both policies
  // are materialized side by side from one pass: `by_doc` hashes the
  // doc id into 80/10/10 train/val/test; `by_cluster` hashes the
  // near-dup component REPRESENTATIVE, so every cluster member inherits
  // one split and cross-split near-dup pairs are structurally
  // impossible (the measured by_cluster leak count is 0 — pinned by
  // NewOpsInvariantSpec, not assumed). Scale: the near-dup graph and
  // its components are the d07 machinery (bucketed pair generation +
  // pointer-jumping CC); split assignment is a pure per-row hash; the
  // leak audit joins the pair list to the split table twice on the
  // co-partitioned doc key. Singleton docs (no near-dup edge) are their
  // own representative via the left join + coalesce, costing nothing.
  private val d32 = QueryDef(
    "d32_leakage_safe_split",
    (s, dir) => {
      val pairs = simhashPairs(s, dir)
      val labels = Tables.withShuffle(s, 8) {
        graft.operators.ConnectedComponents.label(pairs)
      }
      val reps = docsNarrow(s, dir).select(col("doc_id"))
        .join(labels, col("doc_id") === col("node"), "left")
        .select(col("doc_id"), coalesce(col("comp"), col("doc_id")).as("rep"))
      def splitCase(h: String) =
        s"CASE WHEN $h < 1 THEN 'test' WHEN $h < 2 THEN 'val' ELSE 'train' END"
      val splits = reps.selectExpr("doc_id",
          s"${strHashExpr("CAST(doc_id AS STRING)")} % 10 AS hd",
          s"${strHashExpr("CAST(rep AS STRING)")} % 10 AS hc")
        .selectExpr("doc_id",
          s"${splitCase("hd")} AS split_doc",
          s"${splitCase("hc")} AS split_cluster")
        .localCheckpoint() // consumed 3× below (counts + both leak joins)
      val counts = splits.selectExpr(
          "stack(2, 'by_doc', split_doc, 'by_cluster', split_cluster) AS (policy, split)")
        .groupBy(col("policy"))
        .agg(
          sum(when(col("split") === "train", 1L).otherwise(0L)).as("n_train"),
          sum(when(col("split") === "val", 1L).otherwise(0L)).as("n_val"),
          sum(when(col("split") === "test", 1L).otherwise(0L)).as("n_test"))
      val leaks = pairs
        .join(splits.select(col("doc_id").as("id1"), col("split_doc").as("sd1"),
          col("split_cluster").as("sc1")), Seq("id1"))
        .join(splits.select(col("doc_id").as("id2"), col("split_doc").as("sd2"),
          col("split_cluster").as("sc2")), Seq("id2"))
        .select(
          sum(when(col("sd1") =!= col("sd2"), 1L).otherwise(0L)).as("by_doc"),
          sum(when(col("sc1") =!= col("sc2"), 1L).otherwise(0L)).as("by_cluster"))
        .selectExpr("stack(2, 'by_doc', by_doc, 'by_cluster', by_cluster) AS (policy, n_leaky_pairs)")
      val out = counts.join(leaks, Seq("policy"))
        .select(col("policy"), col("n_train"), col("n_val"), col("n_test"),
          coalesce(col("n_leaky_pairs"), lit(0L)).as("n_leaky_pairs"))
        .orderBy(col("policy"))
        .localCheckpoint()
      pairs.unpersist()
      out
    },
    Some(s"""WITH RECURSIVE $simhashCteDuck,
    ${simhashPairsCte("p")},
    ${undirectedCte("e", "p")},
    $reachCte,
    comp AS (SELECT node, LEAST(node, MIN(reach)) AS comp FROM r GROUP BY node),
    reps AS (SELECT doc_id, COALESCE(c.comp, doc_id) AS rep
             FROM documents LEFT JOIN comp c ON c.node = doc_id),
    hs AS (SELECT doc_id,
             ${strHashSql("CAST(doc_id AS VARCHAR)")} % 10 AS hd,
             ${strHashSql("CAST(rep AS VARCHAR)")} % 10 AS hc
           FROM reps),
    w AS (SELECT doc_id,
            CASE WHEN hd < 1 THEN 'test' WHEN hd < 2 THEN 'val' ELSE 'train' END AS split_doc,
            CASE WHEN hc < 1 THEN 'test' WHEN hc < 2 THEN 'val' ELSE 'train' END AS split_cluster
          FROM hs),
    u AS (SELECT 'by_doc' AS policy, split_doc AS split FROM w
          UNION ALL SELECT 'by_cluster', split_cluster FROM w),
    cnt AS (SELECT policy,
              CAST(SUM(CASE WHEN split = 'train' THEN 1 ELSE 0 END) AS BIGINT) AS n_train,
              CAST(SUM(CASE WHEN split = 'val' THEN 1 ELSE 0 END) AS BIGINT) AS n_val,
              CAST(SUM(CASE WHEN split = 'test' THEN 1 ELSE 0 END) AS BIGINT) AS n_test
            FROM u GROUP BY 1),
    lk0 AS (SELECT
              CAST(SUM(CASE WHEN w1.split_doc <> w2.split_doc THEN 1 ELSE 0 END) AS BIGINT) AS by_doc,
              CAST(SUM(CASE WHEN w1.split_cluster <> w2.split_cluster THEN 1 ELSE 0 END) AS BIGINT) AS by_cluster
            FROM p JOIN w w1 ON w1.doc_id = p.id1 JOIN w w2 ON w2.doc_id = p.id2),
    lk AS (SELECT 'by_doc' AS policy, by_doc AS n_leaky_pairs FROM lk0
           UNION ALL SELECT 'by_cluster', by_cluster FROM lk0)
    SELECT cnt.policy, cnt.n_train, cnt.n_val, cnt.n_test,
      CAST(COALESCE(lk.n_leaky_pairs, 0) AS BIGINT) AS n_leaky_pairs
    FROM cnt JOIN lk USING (policy) ORDER BY cnt.policy"""))

  // ---------------------------------------------------------------- d33
  // SOFT DEDUP (TRAINING WEIGHTS) — the alternative to dropping
  // near-dups that modern pipelines increasingly prefer: keep every
  // document but weight it 1/|cluster|, so each near-dup CLUSTER
  // contributes one document's worth of gradient mass however many
  // copies exist. d08/d17 pick a representative and discard the rest;
  // d33 preserves coverage (different copies may carry different rare
  // spans) while neutralizing repetition bias. Weights are exact
  // integer ppm (10⁶ DIV size — floor on positives, engine-identical);
  // the per-source rollup reports effective dataset size (Σ weights) vs
  // raw size, i.e. the repetition inflation each feed carries. Scale:
  // the cluster machinery is d07's (bucketed pairs + gated CC); the
  // size table joins back on the component key and the doc decoration
  // is a left join + coalesce for singletons — nothing new shuffles.
  private val d33 = QueryDef(
    "d33_soft_dedup_weights",
    (s, dir) => {
      val pairs = simhashPairs(s, dir)
      val labels = Tables.withShuffle(s, 8) {
        graft.operators.ConnectedComponents.label(pairs)
      }
      val sizes = labels.groupBy(col("comp")).agg(count(lit(1)).as("csz"))
      val out = docsNarrow(s, dir).select(col("doc_id"), col("source"))
        .join(labels, col("doc_id") === col("node"), "left")
        .join(sizes, Seq("comp"), "left")
        .withColumn("csz", coalesce(col("csz"), lit(1L)))
        .withColumn("w_ppm", expr("1000000 DIV csz"))
        .groupBy(col("source"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(when(col("csz") > 1, 1L).otherwise(0L)).as("n_in_clusters"),
          sum(col("w_ppm")).as("eff_docs_ppm"),
          min(col("w_ppm")).as("min_w_ppm"))
        .orderBy(col("source"))
        .localCheckpoint()
      pairs.unpersist()
      out
    },
    Some(s"""WITH RECURSIVE $simhashCteDuck,
    ${simhashPairsCte("p")},
    ${undirectedCte("e", "p")},
    $reachCte,
    comp AS (SELECT node, LEAST(node, MIN(reach)) AS comp FROM r GROUP BY node),
    cs AS (SELECT comp, COUNT(*) AS csz FROM comp GROUP BY 1),
    d AS (SELECT doc_id, source, COALESCE(cs.csz, 1) AS csz
          FROM documents
          LEFT JOIN comp c ON c.node = doc_id
          LEFT JOIN cs ON cs.comp = c.comp)
    SELECT source, COUNT(*) AS n_docs,
      CAST(SUM(CASE WHEN csz > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_in_clusters,
      CAST(SUM(1000000 // csz) AS BIGINT) AS eff_docs_ppm,
      CAST(MIN(1000000 // csz) AS BIGINT) AS min_w_ppm
    FROM d GROUP BY 1 ORDER BY 1"""))

  // ---------------------------------------------------------------- d34
  // SEMANTIC DECONTAMINATION — the embedding twin of t12's n-gram
  // decontamination: flag training vectors whose nearest EVAL-set
  // neighbor exceeds a similarity bar (paraphrased benchmark leakage
  // that exact n-gram overlap misses). The eval set is the fixed
  // vec_id < 64 block — an eval benchmark is FIXED-SIZE no matter how
  // big the corpus grows, so this is the one broadcast in the dedup
  // family that is bounded by construction, not by a guard. The corpus
  // side is a single pass: broadcast-join against the 64 eval rows,
  // then a groupBy argmax via max(struct(sim, -eval_id)) — lexicographic
  // struct max ≡ (sim DESC, eval_id ASC), and crucially it PARTIAL-
  // AGGREGATES map-side, so the shuffle carries at most one candidate
  // row per vector per partition instead of the |corpus|×64 sim stream
  // a window-rank formulation would sort. Output is flagged rows only
  // (∝ contamination mass, not corpus size). Sims are IEEE doubles of
  // exact int64 dots (the s01 discipline), so the argmax and the tier
  // verdicts are bit-deterministic; the oracle formulates the same
  // argmax independently as a window rank.
  private val DecontamFlag    = 0.40 // "contaminated": drop before training
  private val DecontamSuspect = 0.35 // "suspect": route to manual review
  private val d34 = QueryDef(
    "d34_semantic_decontam",
    (s, dir) => {
      val q = Similarity.withQuant(dir, s)
      val ev = q.filter(col("vec_id") < 64)
        .select(col("vec_id").as("eval_id"), col("qv").as("e_qv"),
          col("norm2").as("e_norm2"))
      q.filter(col("vec_id") >= 64)
        .join(broadcast(ev))
        .withColumn("sim", cosine("qv", "norm2", "e_qv", "e_norm2"))
        .groupBy(col("vec_id"))
        .agg(max(struct(col("sim"), (-col("eval_id")).as("neg_eval"))).as("m"))
        .select(col("vec_id"), (-col("m.neg_eval")).as("eval_id"),
          col("m.sim").as("sim"))
        .filter(col("sim") >= DecontamSuspect)
        .withColumn("verdict",
          when(col("sim") >= DecontamFlag, lit("contaminated"))
            .otherwise(lit("suspect")))
        .select(col("vec_id"), col("eval_id"), round(col("sim"), 6).as("sim"),
          col("verdict"))
        .orderBy(col("vec_id"))
    },
    Some {
      val sim =
        s"CAST(${dotSql("t.qv", "e.qv")} AS DOUBLE) / (sqrt(CAST(t.norm2 AS DOUBLE)) * sqrt(CAST(e.norm2 AS DOUBLE)))"
      s"""WITH ${Similarity.quantCte},
    ev AS (SELECT vec_id AS eval_id, qv, norm2 FROM qn WHERE vec_id < 64),
    sims AS (SELECT t.vec_id, e.eval_id, $sim AS sim,
          ROW_NUMBER() OVER (PARTITION BY t.vec_id ORDER BY $sim DESC, e.eval_id) AS rnk
        FROM qn t CROSS JOIN ev e WHERE t.vec_id >= 64)
    SELECT vec_id, eval_id, round(sim, 6) AS sim,
      CASE WHEN sim >= $DecontamFlag THEN 'contaminated' ELSE 'suspect' END AS verdict
    FROM sims WHERE rnk = 1 AND sim >= $DecontamSuspect
    ORDER BY vec_id"""
    })

  // ---------------------------------------------------------------- d35
  // DETECTOR-AGREEMENT AUDIT — do the two independent near-dup detectors
  // see the same corpus? MinHash-LSH (d02: shingle-set Jaccard) and
  // SimHash (d05: token-histogram Hamming) are built from different
  // signals, so their pair-set overlap is the standard cross-check
  // before trusting either alone: low agreement means the thresholds
  // are mis-calibrated for this corpus (d14's tuning knob) or one
  // modality is blind to a duplication style (shuffled boilerplate hits
  // SimHash, verbatim n-gram reuse hits MinHash). The query composes
  // the REGISTERED d02/d05 plans verbatim (no reformulation to drift
  // from what's actually shipped) and reports the confusion: pairs
  // found by both, by exactly one, and the Jaccard of the edge sets in
  // exact ppm. Scale: both generators are bucketed (their own scale
  // stories); the agreement join is an equi-join on the (id1, id2) edge
  // key — edge-volume, never quadratic — and the report is one bounded
  // aggregate.
  private val d35 = QueryDef(
    "d35_detector_agreement",
    (s, dir) => {
      val m = d02.run(s, dir).select(col("id1"), col("id2"), lit(1L).as("in_m"))
      val p = d05.run(s, dir).select(col("id1"), col("id2"), lit(1L).as("in_s"))
      m.join(p, Seq("id1", "id2"), "full_outer")
        .agg(
          sum(coalesce(col("in_m"), lit(0L))).as("n_minhash"),
          sum(coalesce(col("in_s"), lit(0L))).as("n_simhash"),
          sum(coalesce(col("in_m"), lit(0L)) * coalesce(col("in_s"), lit(0L)))
            .as("n_both"),
          count(lit(1)).as("n_union"))
        .select(col("n_minhash"), col("n_simhash"), col("n_both"), col("n_union"),
          expr("(n_both * 1000000) DIV n_union").as("agree_ppm"))
    },
    Some(s"""WITH $simhashCteDuck,
    ${simhashPairsCte("sp")},
    msh AS (SELECT doc_id, $shingleSqlDuck AS shg FROM documents
            WHERE len(string_split(text, ' ')) >= 3),
    mhh AS (SELECT doc_id, shg, list_transform(shg, x -> ${strHashSql("x")}) AS hs FROM msh),
    mmh AS (SELECT doc_id, [${perm.map { case (a, b) => s"list_min(list_transform(hs, h -> ($a * h + $b) % $HashMod))" }.mkString(", ")}] AS mhs FROM mhh),
    mbands AS (SELECT doc_id, CAST(i AS VARCHAR) || ':' || CAST(mhs[2 * i + 1] AS VARCHAR) || ':' || CAST(mhs[2 * i + 2] AS VARCHAR) AS band
               FROM mmh CROSS JOIN generate_series(0, 3) AS g(i)),
    mcand AS (SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
              FROM mbands a JOIN mbands b ON a.band = b.band AND a.doc_id < b.doc_id),
    mp AS (SELECT id1, id2 FROM mcand
           JOIN msh x ON x.doc_id = id1 JOIN msh y ON y.doc_id = id2
           WHERE round(CAST(len(list_intersect(x.shg, y.shg)) AS DOUBLE)
             / len(list_distinct(list_concat(x.shg, y.shg))), 6) >= 0.005),
    u AS (SELECT id1, id2,
            MAX(CASE WHEN src = 'm' THEN 1 ELSE 0 END) AS in_m,
            MAX(CASE WHEN src = 's' THEN 1 ELSE 0 END) AS in_s
          FROM (SELECT id1, id2, 'm' AS src FROM mp
                UNION ALL SELECT id1, id2, 's' FROM sp)
          GROUP BY 1, 2)
    SELECT CAST(SUM(in_m) AS BIGINT) AS n_minhash,
      CAST(SUM(in_s) AS BIGINT) AS n_simhash,
      CAST(SUM(in_m * in_s) AS BIGINT) AS n_both,
      COUNT(*) AS n_union,
      CAST(SUM(in_m * in_s) * 1000000 // COUNT(*) AS BIGINT) AS agree_ppm
    FROM u"""))

  // ---------------------------------------------------------------- d36
  // THRESHOLD COST SWEEP — the tuning curve an operator actually stares
  // at before fixing a dedup threshold: for each candidate Jaccard bar,
  // how many verified pairs survive and how much corpus the keep-
  // lowest-id rule (d06/d08's drop policy) would remove, in exact ppm
  // of the document count. d14 calibrates the ESTIMATOR (E[J | k bands
  // agree]); this prices the DECISION. One pass over d02's registered
  // verified-pair output (composed verbatim, the d35 rule): all five
  // thresholds evaluate as conditional aggregates inside a SINGLE
  // aggregate — no pair×threshold join, no re-scan per τ — then stack
  // to rows. At 100 TB the sweep costs one edge-volume aggregate more
  // than d02 itself (the multi-distinct expand is ×5 on pairs, still
  // edge-volume); the oracle keeps every τ row alive via a left join
  // so an empty band reads 0, not absent.
  // bars chosen to resolve BOTH modes of the measured jacc distribution
  // (band-collision noise at ~0.005 and true near-dups ≥ 0.95 — between
  // them the curve is flat, so mid-range bars all read identically)
  private val SweepTaus = Seq(5000L -> 0.005, 20000L -> 0.02,
    500000L -> 0.5, 950000L -> 0.95, 980000L -> 0.98)
  private val d36 = QueryDef(
    "d36_threshold_sweep",
    (s, dir) => {
      val pairs = d02.run(s, dir).select(col("id2"), col("jacc"))
      val aggs = SweepTaus.flatMap { case (ppm, t) =>
        Seq(count(when(col("jacc") >= t, 1)).as(s"p$ppm"),
          countDistinct(when(col("jacc") >= t, col("id2"))).as(s"d$ppm"))
      }
      val stacked = pairs.agg(aggs.head, aggs.tail: _*)
        .select(expr(s"stack(${SweepTaus.size}, " +
          SweepTaus.map { case (ppm, _) =>
            s"CAST($ppm AS BIGINT), p$ppm, d$ppm" }.mkString(", ") +
          ") AS (tau_ppm, n_pairs, n_dropped)"))
      val nd = docsNarrow(s, dir).agg(count(lit(1)).as("n_docs"))
      stacked.crossJoin(broadcast(nd))
        .select(col("tau_ppm"), col("n_pairs"), col("n_dropped"),
          expr("(n_dropped * 1000000) DIV n_docs").as("drop_ppm"))
        .orderBy(col("tau_ppm"))
    },
    Some(s"""WITH sh AS (
      SELECT doc_id, $shingleSqlDuck AS sh FROM documents
      WHERE len(string_split(text, ' ')) >= 3),
    hs AS (SELECT doc_id, sh, list_transform(sh, x -> ${strHashSql("x")}) AS hs FROM sh),
    mh AS (SELECT doc_id, [${perm.map { case (a, b) => s"list_min(list_transform(hs, h -> ($a * h + $b) % $HashMod))" }.mkString(", ")}] AS mhs FROM hs),
    bands AS (SELECT doc_id, CAST(i AS VARCHAR) || ':' || CAST(mhs[2 * i + 1] AS VARCHAR) || ':' || CAST(mhs[2 * i + 2] AS VARCHAR) AS band
              FROM mh CROSS JOIN generate_series(0, 3) AS g(i)),
    cand AS (SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
             FROM bands a JOIN bands b ON a.band = b.band AND a.doc_id < b.doc_id),
    pr AS (SELECT id2, round(CAST(len(list_intersect(x.sh, y.sh)) AS DOUBLE) / len(list_distinct(list_concat(x.sh, y.sh))), 6) AS jacc
           FROM cand JOIN sh x ON x.doc_id = id1 JOIN sh y ON y.doc_id = id2
           WHERE round(CAST(len(list_intersect(x.sh, y.sh)) AS DOUBLE) / len(list_distinct(list_concat(x.sh, y.sh))), 6) >= 0.005),
    t(tau_ppm, tau) AS (VALUES ${SweepTaus.map { case (ppm, t) =>
      s"(CAST($ppm AS BIGINT), CAST($t AS DOUBLE))" }.mkString(", ")}),
    nd AS (SELECT COUNT(*) AS n_docs FROM documents),
    g AS (SELECT tau_ppm,
            COUNT(CASE WHEN jacc >= tau THEN 1 END) AS n_pairs,
            COUNT(DISTINCT CASE WHEN jacc >= tau THEN id2 END) AS n_dropped
          FROM t LEFT JOIN pr ON jacc >= tau GROUP BY tau_ppm)
    SELECT tau_ppm, n_pairs, n_dropped,
      CAST(n_dropped * 1000000 // n_docs AS BIGINT) AS drop_ppm
    FROM g CROSS JOIN nd ORDER BY tau_ppm"""))

  // ---------------------------------------------------------------- d37
  // TRANSLATION-PAIR MINING — the multilingual pipeline's bitext step
  // (the LASER/CCMatrix shape): cross-LANGUAGE document pairs whose
  // embeddings nearly coincide are translation candidates, mined here
  // with s02's sign-LSH bucket prefilter so candidates form only inside
  // a bucket (never all-pairs), then verified with exact quantized
  // cosine and REQUIRED to differ in language (the same-language case
  // is d06's near-dup, a different decision). Report
  // per language pair: candidate count, best similarity, and a pair
  // checksum pinning exactly which pairs were mined. The lang column
  // rides the embedding row through one id equi-join before bucketing,
  // so the pair join carries it for free; at 100 TB the plan is s02's
  // (one bucket-keyed self-join) plus that narrow metadata join.
  private val XlingTau = 0.3
  private val d37 = QueryDef(
    "d37_translation_pairs",
    (s, dir) => {
      val langs = docsNarrow(s, dir).select(col("doc_id"), col("lang"))
      val b = Similarity.withQuant(dir, s)
        .join(langs, col("vec_id") === col("doc_id"))
        .withColumn("bucket", expr(Similarity.bucketExprSpark))
        .select(col("vec_id"), col("lang"), col("qv"), col("norm2"), col("bucket"))
        .cache()
      val l = b.select(col("bucket"), col("vec_id").as("id1"), col("lang").as("lang1"),
        col("qv").as("qv1"), col("norm2").as("n1"))
      val r = b.select(col("bucket").as("bucket2"), col("vec_id").as("id2"),
        col("lang").as("lang2"), col("qv").as("qv2"), col("norm2").as("n2"))
      // id1 < id2 enumerates each unordered pair once; the LANGUAGE pair
      // key must then be normalized separately (least/greatest) — gating
      // on lang1 < lang2 instead would silently drop every cross-lang
      // pair whose id order disagrees with the lang order (≈ half)
      val out = l.join(r, col("bucket") === col("bucket2") &&
          col("id1") < col("id2") && col("lang1") =!= col("lang2"))
        .withColumn("sim", cosine("qv1", "n1", "qv2", "n2"))
        .filter(col("sim") >= XlingTau)
        .groupBy(least(col("lang1"), col("lang2")).as("lang_lo"),
          greatest(col("lang1"), col("lang2")).as("lang_hi"))
        .agg(
          count(lit(1)).as("n_pairs"),
          round(max(col("sim")), 6).as("max_sim"),
          (sum(((col("id1") % HashMod) * 31 + col("id2") % HashMod) % HashMod)
            % HashMod).as("pair_checksum"))
        .orderBy(col("lang_lo"), col("lang_hi"))
        .localCheckpoint()
      b.unpersist()
      out
    },
    Some {
      val sim =
        s"CAST(${dotSql("a.qv", "b.qv")} AS DOUBLE) / (sqrt(CAST(a.norm2 AS DOUBLE)) * sqrt(CAST(b.norm2 AS DOUBLE)))"
      s"""WITH ${Similarity.quantCte},
    qb AS (SELECT qn.vec_id, qn.qv, qn.norm2, d.lang,
             ${Similarity.bucketExprDuck} AS bucket
           FROM qn JOIN documents d ON d.doc_id = qn.vec_id)
    SELECT LEAST(a.lang, b.lang) AS lang_lo, GREATEST(a.lang, b.lang) AS lang_hi,
      COUNT(*) AS n_pairs,
      round(MAX($sim), 6) AS max_sim,
      CAST(SUM(((a.vec_id % $HashMod) * 31 + b.vec_id % $HashMod) % $HashMod)
        % $HashMod AS BIGINT) AS pair_checksum
    FROM qb a JOIN qb b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
      AND a.lang <> b.lang
    WHERE $sim >= $XlingTau
    GROUP BY 1, 2 ORDER BY 1, 2"""
    })

  // ---------------------------------------------------------------- d38
  // CLUSTER-COHERENCE AUDIT — quality control over the d07 duplicate
  // clusters themselves. Transitive closure over near-dup edges can
  // CHAIN: a…b…c where a–c are not near-dups still merge, and at dedup
  // time that silently deletes non-duplicates. The standard audit is
  // edge completeness per cluster: observed candidate edges vs the
  // n·(n−1)/2 a clique would have. Low completeness on a big cluster ⇒
  // chained merge ⇒ review before deleting. Composes the REGISTERED
  // building blocks verbatim (simhashPairs + ConnectedComponents — the
  // d35 discipline: auditing a reformulation would audit nothing), so
  // the cost is d07's plus one hash-join of the edge list against the
  // label table and two tiny aggregates; the per-cluster math is exact
  // integer ppm. Same 100 TB shape as d07 — the audit adds no new
  // scale hazard class.
  private val d38 = QueryDef(
    "d38_cluster_coherence",
    (s, dir) => {
      // pairs read the persisted shared edge index (storage-backed)
      val pairs = simhashPairs(s, dir)
      Tables.withShuffle(s, 8) {
        val labels = graft.operators.ConnectedComponents.label(pairs)
        val edges = pairs
          .join(labels.select(col("node").as("id1"), col("comp")), Seq("id1"))
          .groupBy(col("comp")).agg(count(lit(1)).as("n_edges"))
        val members = labels.groupBy(col("comp")).agg(count(lit(1)).as("n_members"))
        val out = members.join(edges, Seq("comp"))
          .select(col("comp").as("cluster_rep"), col("n_members"), col("n_edges"),
            expr("(n_edges * 2000000) DIV (n_members * (n_members - 1))")
              .as("completeness_ppm"))
          .withColumn("verdict",
            when(col("n_members") === 2, "pair")
              .when(col("completeness_ppm") < 600000L, "chained")
              .otherwise("cohesive"))
          .orderBy(col("cluster_rep"))
          .localCheckpoint()
        out
      }
    },
    Some(s"""WITH RECURSIVE $simhashCteDuck,
    ${simhashPairsCte("p")},
    ${undirectedCte("e", "p")},
    ${componentsCte("cluster_rep")},
    mem AS (SELECT cluster_rep, COUNT(*) AS n_members FROM comp GROUP BY cluster_rep),
    ed AS (SELECT c.cluster_rep, COUNT(*) AS n_edges
           FROM p JOIN comp c ON p.id1 = c.node GROUP BY c.cluster_rep)
    SELECT m.cluster_rep, m.n_members, d.n_edges,
      CAST((d.n_edges * 2000000) // (m.n_members * (m.n_members - 1)) AS BIGINT)
        AS completeness_ppm,
      CASE WHEN m.n_members = 2 THEN 'pair'
           WHEN (d.n_edges * 2000000) // (m.n_members * (m.n_members - 1)) < 600000
             THEN 'chained'
           ELSE 'cohesive' END AS verdict
    FROM mem m JOIN ed d USING (cluster_rep) ORDER BY cluster_rep"""))

  // ---------------------------------------------------------------- d39
  // LSH BUCKET-SKEW AUDIT — the scale-health check of the whole dedup
  // family: every LSH-bucketed candidate generator (d02/d11/d16/d21/
  // q119) is linear only while buckets stay small; one hot bucket of
  // size s costs s·(s−1)/2 candidate pairs, so the quadratic term
  // hides in the bucket-size distribution, not in row counts. This
  // audit prices it EXACTLY before any dedup runs: per band, the
  // bucket count, occupancy, largest bucket, the exact Σ s·(s−1)/2
  // candidate-pair bound the band join would generate, and the top
  // bucket's occupancy share. Uses d02's banding verbatim (auditing a
  // reformulation would audit nothing). Plan: one signature scan, one
  // (band-key) count aggregate — map-side combined — then a 4-row
  // rollup. The audit itself never forms a pair.
  // r17: extended with the POST-CAP pricing the r16 verdict asked for —
  // per band (and now the SimHash bucket table as band_idx = -1), the
  // exact pair count the PRODUCTION-capped generator (SimhashBucketCap's
  // ⌈s/cap⌉ hash-split) would emit, and the kept_ppm that prices the
  // sacrificed cross-sub recall. Computed from two count aggregates over
  // the tagged keys — the audit still never forms a pair. At the
  // correctness SFs every bucket is under the cap (k = 1 ⇒ kept_ppm =
  // 1000000 exactly, oracle-checked); at sf0.1+ the SimHash row's 817-doc
  // hot bucket splits and the row reports the real trade.
  private val d39 = QueryDef(
    "d39_lsh_bucket_audit",
    (s, dir) => {
      // full-corpus bands off the persisted signature index (r22 —
      // identical rows; this audit re-ran the signature pipeline before)
      val mh = minhashBandsIdx(s, dir)
        .select(expr("CAST(split(band, ':')[0] AS BIGINT)").as("band_idx"),
          col("band"), col("doc_id"))
      // SimHash side rides the same audit: band string prefixed "s:" so
      // the shared `band` key never collides with a MinHash band
      val sim = simhashIndex(s, dir)
        .select(lit(-1L).as("band_idx"),
          concat(lit("s:"), expr("shiftright(simhash, 8)")).as("band"),
          col("doc_id"))
      val rows = mh.union(sim)
      val sizes = rows.groupBy(col("band_idx"), col("band")).agg(count(lit(1)).as("sz"))
        .withColumn("k", expr(s"(sz + $SimhashBucketCap - 1) DIV $SimhashBucketCap"))
      val tagged = rows.join(sizes, Seq("band_idx", "band"))
        .withColumn("sub", expr(
          s"CASE WHEN k > 1 THEN ${strHashExpr("CAST(doc_id AS STRING)")} % k ELSE 0 END"))
      val capped = tagged.groupBy(col("band_idx"), col("band"), col("sub"))
        .agg(count(lit(1)).as("c"))
        .groupBy(col("band_idx"))
        .agg(sum(expr("c * (c - 1) DIV 2")).as("pairs_capped"))
      sizes.groupBy(col("band_idx"))
        .agg(count(lit(1)).as("n_buckets"),
          sum(col("sz")).as("n_docs"),
          max(col("sz")).as("max_bucket"),
          sum(expr("sz * (sz - 1) DIV 2")).as("pairs_bound"),
          expr("(max(sz) * 1000000) DIV sum(sz)").as("top_bucket_share_ppm"))
        .join(capped, Seq("band_idx"))
        .withColumn("kept_ppm", expr(
          "CASE WHEN pairs_bound = 0 THEN 1000000 ELSE (pairs_capped * 1000000) DIV pairs_bound END"))
        .orderBy(col("band_idx"))
    },
    Some(s"""WITH shg AS (
      SELECT doc_id, $shingleSqlDuck AS sh FROM documents
      WHERE len(string_split(text, ' ')) >= 3),
    hs AS (SELECT doc_id, list_transform(sh, x -> ${strHashSql("x")}) AS hs FROM shg),
    mh AS (SELECT doc_id, [${perm.map { case (a, b) => s"list_min(list_transform(hs, h -> ($a * h + $b) % $HashMod))" }.mkString(", ")}] AS mhs FROM hs),
    bands AS (SELECT doc_id, CAST(i AS BIGINT) AS band_idx,
        CAST(i AS VARCHAR) || ':' || CAST(mhs[2 * i + 1] AS VARCHAR) || ':' || CAST(mhs[2 * i + 2] AS VARCHAR) AS band
      FROM mh CROSS JOIN generate_series(0, 3) AS g(i)),
    $simhashCteDuck,
    rows_all AS (SELECT band_idx, band, doc_id FROM bands
                 UNION ALL
                 SELECT CAST(-1 AS BIGINT), 's:' || CAST(simhash >> 8 AS VARCHAR), doc_id FROM sh),
    sizes AS (SELECT band_idx, band, COUNT(*) AS sz,
                (COUNT(*) + $SimhashBucketCap - 1) // $SimhashBucketCap AS k
              FROM rows_all GROUP BY 1, 2),
    tagged AS (SELECT r.band_idx, r.band,
        CASE WHEN s.k > 1
             THEN ${strHashSql("CAST(r.doc_id AS VARCHAR)")} % s.k ELSE 0 END AS sub
      FROM rows_all r JOIN sizes s USING (band_idx, band)),
    capped AS (SELECT band_idx, SUM(c * (c - 1) // 2) AS pairs_capped FROM (
        SELECT band_idx, band, sub, COUNT(*) AS c FROM tagged GROUP BY 1, 2, 3)
      GROUP BY band_idx)
    SELECT s.band_idx, COUNT(*) AS n_buckets,
      CAST(SUM(sz) AS BIGINT) AS n_docs,
      CAST(MAX(sz) AS BIGINT) AS max_bucket,
      CAST(SUM(sz * (sz - 1) // 2) AS BIGINT) AS pairs_bound,
      CAST((MAX(sz) * 1000000) // SUM(sz) AS BIGINT) AS top_bucket_share_ppm,
      CAST(MIN(c.pairs_capped) AS BIGINT) AS pairs_capped,
      CAST(CASE WHEN SUM(sz * (sz - 1) // 2) = 0 THEN 1000000
           ELSE (MIN(c.pairs_capped) * 1000000) // SUM(sz * (sz - 1) // 2) END AS BIGINT) AS kept_ppm
    FROM sizes s JOIN capped c USING (band_idx)
    GROUP BY s.band_idx ORDER BY s.band_idx"""))

  // ---------------------------------------------------------------- d40
  // BOUNDED-BUCKET LSH JOIN — the mitigation d39's audit motivates: a
  // hot LSH bucket of size s costs s·(s−1)/2 pairs, so production LSH
  // joins CAP the bucket size, splitting oversized buckets into k =
  // ⌈s/B⌉ sub-buckets by a content-independent doc hash. Same-sub
  // pairs survive; cross-sub pairs are deterministically sacrificed —
  // bounded work for bounded recall loss, both priced EXACTLY here per
  // band (pairs before, pairs after, kept ppm). B = 3 so the cap binds
  // on this corpus's real size-4 buckets (and the 10-copy fixture
  // plants a genuinely hot one). Plan: the d02 banding, one bucket-size
  // aggregate, one size-table join to tag each row's sub-bucket, one
  // bucketed self-join per variant — no global order anywhere, and the
  // after-join's largest bucket is ≤ B + ⌈s/k⌉-rounding by
  // construction, which is the whole point at 100 TB.
  private val BucketCap = 3L

  private val d40 = QueryDef(
    "d40_bucket_split_pairs",
    (s, dir) => {
      // full-corpus bands off the persisted signature index (r22)
      val bands = minhashBandsIdx(s, dir)
        .select(expr("CAST(split(band, ':')[0] AS BIGINT)").as("band_idx"),
          col("band"), col("doc_id"))
      val sizes = bands.groupBy(col("band")).agg(count(lit(1)).as("sz"))
        .withColumn("k", expr(s"(sz + $BucketCap - 1) DIV $BucketCap"))
      val tagged = bands.join(sizes, Seq("band"))
        .withColumn("sub", expr(
          s"CASE WHEN k > 1 THEN ${strHashExpr("CAST(doc_id AS STRING)")} % k ELSE 0 END"))
        .select(col("band_idx"), col("band"), col("sub"), col("doc_id"))
      def pairCount(keyCols: Seq[String]) = {
        val l = tagged.select(col("band_idx") +: keyCols.map(col) :+
          col("doc_id").as("id1"): _*)
        val r = tagged.select(keyCols.map(c => col(c).as(s"r_$c")) :+
          col("doc_id").as("id2"): _*)
        l.join(r, keyCols.map(c => col(c) === col(s"r_$c"))
            .reduce(_ && _) && col("id1") < col("id2"))
          .select(col("band_idx"), col("id1"), col("id2")).distinct()
          .groupBy(col("band_idx")).agg(count(lit(1)).as("n"))
      }
      val before = pairCount(Seq("band")).withColumnRenamed("n", "pairs_before")
      val after = pairCount(Seq("band", "sub")).withColumnRenamed("n", "pairs_after")
      before.join(after, Seq("band_idx"))
        .withColumn("kept_ppm", expr("(pairs_after * 1000000) DIV pairs_before"))
        .orderBy(col("band_idx"))
    },
    Some(s"""WITH sh AS (
      SELECT doc_id, $shingleSqlDuck AS sh FROM documents
      WHERE len(string_split(text, ' ')) >= 3),
    hs AS (SELECT doc_id, list_transform(sh, x -> ${strHashSql("x")}) AS hs FROM sh),
    mh AS (SELECT doc_id, [${perm.map { case (a, b) => s"list_min(list_transform(hs, h -> ($a * h + $b) % $HashMod))" }.mkString(", ")}] AS mhs FROM hs),
    bands AS (SELECT doc_id, CAST(i AS BIGINT) AS band_idx,
        CAST(i AS VARCHAR) || ':' || CAST(mhs[2 * i + 1] AS VARCHAR) || ':' || CAST(mhs[2 * i + 2] AS VARCHAR) AS band
      FROM mh CROSS JOIN generate_series(0, 3) AS g(i)),
    sizes AS (SELECT band, COUNT(*) AS sz,
                (COUNT(*) + $BucketCap - 1) // $BucketCap AS k
              FROM bands GROUP BY band),
    tagged AS (SELECT b.band_idx, b.band,
        CASE WHEN s.k > 1
             THEN ${strHashSql("CAST(b.doc_id AS VARCHAR)")} % s.k ELSE 0 END AS sub,
        b.doc_id
      FROM bands b JOIN sizes s USING (band)),
    before AS (SELECT band_idx, COUNT(*) AS pairs_before FROM (
        SELECT DISTINCT a.band_idx, a.doc_id AS id1, b.doc_id AS id2
        FROM tagged a JOIN tagged b
          ON a.band = b.band AND a.doc_id < b.doc_id) GROUP BY band_idx),
    after AS (SELECT band_idx, COUNT(*) AS pairs_after FROM (
        SELECT DISTINCT a.band_idx, a.doc_id AS id1, b.doc_id AS id2
        FROM tagged a JOIN tagged b
          ON a.band = b.band AND a.sub = b.sub AND a.doc_id < b.doc_id)
      GROUP BY band_idx)
    SELECT band_idx, pairs_before, pairs_after,
      CAST((pairs_after * 1000000) // pairs_before AS BIGINT) AS kept_ppm
    FROM before JOIN after USING (band_idx) ORDER BY band_idx"""))

  // ---------------------------------------------------------------- d41
  // ROTATED-TABLE SIMHASH PAIRS — the recall fix for single-table
  // Hamming bucketing (Manku et al.'s multi-table scheme): the base
  // prefilter buckets on the HIGH byte, so a hamming-≤6 pair is found
  // only if all its differing bits fall in the LOW byte; a pair whose
  // diffs sit in the high byte is structurally invisible. Two tables —
  // rotation 0 (high-byte bucket) and rotation 8 (low-byte bucket) —
  // cover both failure directions: in 16 bits, a ≤6-bit diff is missed
  // by BOTH tables only when it straddles the byte boundary with diffs
  // on each side. Each table's self-join is bucket-CAPPED with the
  // production cap (never binds at the correctness SFs: measured max
  // bucket 83 high-byte / 68 low-byte); candidates stay
  // bucket-bounded, ×2 tables — linear, not quadratic. `n_tables`
  // reports which pairs the base table alone would have missed
  // (n_tables = 1 with found-only-by-rot-8). Oracle mirrors the
  // rotation and the (never-binding) cap's k = 1 identity.
  /** Rotated-table capped candidate pairs over an arbitrary
    * `(doc_id, simhash)` 16-bit signature frame — factored so the
    * invariant spec can plant a high-byte-only diff pair and assert the
    * rot-8 table catches what the base table provably cannot. */
  private[graft] def simhashRotatedPairsOf(
      sh0: org.apache.spark.sql.DataFrame,
      rotations: Seq[Int] = Seq(0, 8)): org.apache.spark.sql.DataFrame = {
    val tables = rotations.map { r =>
      sh0.select(col("doc_id"), col("simhash"))
        .withColumn("rot", lit(r.toLong))
        .withColumn("bucket", expr(
          s"shiftright(((shiftleft(simhash, $r) | shiftright(simhash, ${16 - r})) & 65535), 8)"))
    }.reduce(_ union _)
    val sizes = tables.groupBy(col("rot"), col("bucket")).agg(count(lit(1)).as("sz"))
      .withColumn("k", expr(s"(sz + $SimhashBucketCap - 1) DIV $SimhashBucketCap"))
    val tagged = tables.join(sizes, Seq("rot", "bucket"))
      .withColumn("sub", expr(
        s"CASE WHEN k > 1 THEN ${strHashExpr("CAST(doc_id AS STRING)")} % k ELSE 0 END"))
      .select(col("rot"), col("bucket"), col("sub"), col("doc_id"), col("simhash"))
    tagged.select(col("rot"), col("bucket"), col("sub"),
        col("doc_id").as("id1"), col("simhash").as("h1"))
      .join(tagged.select(col("rot").as("rot2"), col("bucket").as("bucket2"),
          col("sub").as("sub2"), col("doc_id").as("id2"), col("simhash").as("h2")),
        col("rot") === col("rot2") && col("bucket") === col("bucket2") &&
          col("sub") === col("sub2") && col("id1") < col("id2"))
      .filter(expr("bit_count(h1 ^ h2)") <= 6)
      .groupBy(col("id1"), col("id2"))
      .agg(expr("CAST(min(bit_count(h1 ^ h2)) AS BIGINT)").as("hamming"),
        count(lit(1)).as("n_tables"))
  }

  private val d41 = QueryDef(
    "d41_simhash_rotated_pairs",
    (s, dir) => {
      // signatures off the persisted index (storage-backed — each
      // rotation table re-reads the 2-long-per-doc parquet, not the
      // token-explode pipeline)
      val sh = simhashIndex(s, dir)
      simhashRotatedPairsOf(sh).orderBy(col("id1"), col("id2"))
    },
    Some(s"""WITH $simhashCteDuck,
    tables AS (SELECT doc_id, simhash, CAST(r AS BIGINT) AS rot,
        (((simhash << r) | (simhash >> (16 - r))) & 65535) >> 8 AS bucket
      FROM sh CROSS JOIN (VALUES (0), (8)) AS t(r)),
    sizes AS (SELECT rot, bucket, COUNT(*) AS sz,
                (COUNT(*) + $SimhashBucketCap - 1) // $SimhashBucketCap AS k
              FROM tables GROUP BY 1, 2),
    tagged AS (SELECT t.rot, t.bucket,
        CASE WHEN s.k > 1
             THEN ${strHashSql("CAST(t.doc_id AS VARCHAR)")} % s.k ELSE 0 END AS sub,
        t.doc_id, t.simhash
      FROM tables t JOIN sizes s USING (rot, bucket))
    SELECT a.doc_id AS id1, b.doc_id AS id2,
      CAST(MIN(bit_count(xor(a.simhash, b.simhash))) AS BIGINT) AS hamming,
      COUNT(*) AS n_tables
    FROM tagged a JOIN tagged b
      ON a.rot = b.rot AND a.bucket = b.bucket AND a.sub = b.sub
        AND a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= 6
    GROUP BY 1, 2 ORDER BY id1, id2"""))

  // ---------------------------------------------------------------- d42
  // STAR-CONTRACTION COMPONENTS — d07's cluster resolution on the
  // alternating large-star/small-star algorithm (Kiveris et al.), the
  // scale path the ConnectedComponents Scaladoc has pointed at since
  // r14: min-label propagation rounds are bounded by component
  // diameter and each round joins the full |nodes| label table, while
  // star contraction rewrites the EDGE SET toward component-min stars
  // in O(log² n) rounds on ANY topology — the variant you deploy when
  // a 100 TB near-dup graph contains adversarial chains (serial
  // plagiarism, quote chains) that defeat diameter-bounded loops. Same
  // input edges as d07 (the capped SimHash candidates), same component
  // semantics; the oracle is the algorithm-independent truth (recursive
  // transitive closure, min over the reach set), so Spark running a
  // DIFFERENT algorithm than the oracle is the point of the row. The
  // chain-graph round bound and equality with ConnectedComponents are
  // pinned in NewOpsInvariantSpec.
  private val d42 = QueryDef(
    "d42_star_components",
    (s, dir) => {
      val pairs = simhashPairs(s, dir)
      val labels = graft.operators.StarContraction.label(pairs).localCheckpoint()
      pairs.unpersist()
      labels.groupBy(col("comp").as("cluster_rep"))
        .agg(count(lit(1)).as("n_members"),
          (sum(col("node") % HashMod) % HashMod).as("member_checksum"))
        .orderBy(col("cluster_rep"))
    },
    Some(s"""WITH RECURSIVE $simhashCteDuck,
    ${simhashPairsCte("p")},
    ${undirectedCte("e", "p")},
    ${componentsCte("cluster_rep")}
    SELECT cluster_rep, COUNT(*) AS n_members,
      CAST(SUM(node % $HashMod) % $HashMod AS BIGINT) AS member_checksum
    FROM comp GROUP BY cluster_rep ORDER BY cluster_rep"""))

  // ---------------------------------------------------------------- d43
  // PROBE-BUDGET AUDIT — the bound for the one candidate-volume path the
  // bucket caps don't touch: a DELTA→INDEX probe (d16/d21/d24/q119) is
  // an equi-join on the bucket key, so its volume is Σ_b |delta_b|·|idx_b|
  // — linear in the delta, but a hot index bucket multiplies every delta
  // arrival forever. The IR discipline is posting-list truncation: rank
  // each band's index entries by a deterministic priority and admit only
  // the top B to the probe, accounting the sacrifice exactly. This audit
  // prices it per band: index entries vs kept, probe pairs full vs
  // budgeted (kept_ppm), and — the part d40-style pair arithmetic can't
  // see — MATCHES lost (d16's calibrated ≥4-of-8 minhash agreement,
  // full vs budgeted), i.e. the recall cost of the IO bound. B = 2 so
  // the budget binds on this corpus's real index buckets (measured
  // max 4 at sf0.001 / 3 at sf0.01 in the even-half index). The
  // rank pass is one window per band — LINEAR in the bucket (that's the
  // point: a linear rank pass instead of an unbounded join fan-out);
  // at 100 TB the priority would be a quality score and the rank a
  // bounded top-B aggregate, same plan role. The full probe computed
  // here as the baseline is exactly the thing the budget avoids — it
  // exists because the audit's job is to price the delta.
  private val ProbeBudget = 2L

  private val d43 = QueryDef(
    "d43_probe_budget",
    (s, dir) => {
      // both halves off the persisted signature index (r22): this is an
      // AUDIT pricing a probe bound over one split corpus, not a live
      // delta arrival, so neither side owes a fresh signature pass
      val idx = minhashBandsIdx(s, dir).filter(col("doc_id") % 2 === 0)
        .select(col("doc_id"), col("mhs"), col("band")).cache()
      idx.count()
      val delta = minhashBandsIdx(s, dir).filter(col("doc_id") % 2 === 1)
        .select(col("doc_id"), col("mhs"), col("band")).cache()
      delta.count()
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("band")).orderBy(col("doc_id"))
      val ranked = idx.withColumn("rnk", row_number().over(w))
      def probe(ix: org.apache.spark.sql.DataFrame) = delta
        .select(col("band"), col("doc_id").as("d_id"), col("mhs").as("d_mhs"))
        .join(ix.select(col("band"), col("doc_id").as("c_id"), col("mhs").as("c_mhs")),
          "band")
        .select(expr("CAST(split(band, ':')[0] AS BIGINT)").as("band_idx"),
          expr("CAST(size(filter(zip_with(d_mhs, c_mhs, (x, y) -> x = y), bb -> bb)) >= 4 AS LONG)")
            .as("is_match"))
        .groupBy(col("band_idx"))
        .agg(count(lit(1)).as("pairs"), sum(col("is_match")).as("matches"))
      val fullAgg = probe(idx)
        .withColumnRenamed("pairs", "pairs_full").withColumnRenamed("matches", "matches_full")
      val budAgg = probe(ranked.filter(col("rnk") <= ProbeBudget))
        .withColumnRenamed("pairs", "pairs_budget").withColumnRenamed("matches", "matches_budget")
      val idxAgg = ranked
        .select(expr("CAST(split(band, ':')[0] AS BIGINT)").as("band_idx"), col("rnk"))
        .groupBy(col("band_idx"))
        .agg(count(lit(1)).as("idx_entries"),
          sum(when(col("rnk") <= ProbeBudget, 1L).otherwise(0L)).as("kept_entries"))
      val out = idxAgg.join(fullAgg, Seq("band_idx")).join(budAgg, Seq("band_idx"))
        .withColumn("pairs_kept_ppm", expr(
          "CASE WHEN pairs_full = 0 THEN 1000000 ELSE (pairs_budget * 1000000) DIV pairs_full END"))
        .select(col("band_idx"), col("idx_entries"), col("kept_entries"),
          col("pairs_full"), col("pairs_budget"), col("pairs_kept_ppm"),
          col("matches_full"), col("matches_budget"))
        .orderBy(col("band_idx"))
        .localCheckpoint()
      idx.unpersist(); delta.unpersist()
      out
    },
    Some(s"""WITH sh AS (
      SELECT doc_id, $shingleSqlDuck AS sh FROM documents
      WHERE len(string_split(text, ' ')) >= 3),
    hs AS (SELECT doc_id, list_transform(sh, x -> ${strHashSql("x")}) AS hs FROM sh),
    mh AS (SELECT doc_id, [${perm.map { case (a, b) => s"list_min(list_transform(hs, h -> ($a * h + $b) % $HashMod))" }.mkString(", ")}] AS mhs FROM hs),
    bands AS (SELECT doc_id, mhs, CAST(i AS BIGINT) AS band_idx,
        CAST(i AS VARCHAR) || ':' || CAST(mhs[2 * i + 1] AS VARCHAR) || ':' || CAST(mhs[2 * i + 2] AS VARCHAR) AS band
      FROM mh CROSS JOIN generate_series(0, 3) AS g(i)),
    idx AS (SELECT * FROM bands WHERE doc_id % 2 = 0),
    delta AS (SELECT * FROM bands WHERE doc_id % 2 = 1),
    ranked AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY band ORDER BY doc_id) AS rnk
               FROM idx),
    pf AS (SELECT d.band_idx, COUNT(*) AS pairs_full,
             SUM(CASE WHEN len(list_filter(list_zip(d.mhs, c.mhs), p -> p[1] = p[2])) >= 4
                 THEN 1 ELSE 0 END) AS matches_full
           FROM delta d JOIN idx c USING (band) GROUP BY 1),
    pb AS (SELECT d.band_idx, COUNT(*) AS pairs_budget,
             SUM(CASE WHEN len(list_filter(list_zip(d.mhs, c.mhs), p -> p[1] = p[2])) >= 4
                 THEN 1 ELSE 0 END) AS matches_budget
           FROM delta d JOIN ranked c USING (band)
           WHERE c.rnk <= $ProbeBudget GROUP BY 1),
    ia AS (SELECT band_idx, COUNT(*) AS idx_entries,
             SUM(CASE WHEN rnk <= $ProbeBudget THEN 1 ELSE 0 END) AS kept_entries
           FROM ranked GROUP BY 1)
    SELECT ia.band_idx,
      CAST(idx_entries AS BIGINT) AS idx_entries,
      CAST(kept_entries AS BIGINT) AS kept_entries,
      CAST(pairs_full AS BIGINT) AS pairs_full,
      CAST(pairs_budget AS BIGINT) AS pairs_budget,
      CAST(CASE WHEN pairs_full = 0 THEN 1000000
           ELSE (pairs_budget * 1000000) // pairs_full END AS BIGINT) AS pairs_kept_ppm,
      CAST(matches_full AS BIGINT) AS matches_full,
      CAST(matches_budget AS BIGINT) AS matches_budget
    FROM ia JOIN pf USING (band_idx) JOIN pb USING (band_idx)
    ORDER BY band_idx"""))

  // ---------------------------------------------------------------- d44
  // INCREMENTAL STAR-CONTRACTION MAINTENANCE — d21's delta-merge story
  // composed with d42's scale-path operator: the corpus half's cluster
  // labeling (built by STAR CONTRACTION, persisted alongside the
  // bucketed signature index) absorbs one delta batch via the exact
  // d21 machinery — within-delta capped pairs + delta→index probe with
  // corpus endpoints CONTRACTED through their stored representative —
  // then the merged relabeling runs star contraction again on the
  // contracted (delta-sized) graph. Works because star contraction and
  // min-label CC share the same label contract (comp = component-
  // minimum id), so the d21 merge algebra (stale labels mapped through
  // the relabeling, newbies self-labeled) transfers verbatim; at
  // 100 TB the delta merge is O(|delta|) with O(log²|delta graph|)
  // rounds regardless of how adversarial the delta's chain structure
  // is — the case that would stall the diameter-bounded loop. Oracle:
  // the full-recompute recursive closure (maintenance must be
  // indistinguishable from rebuilding), plus a member checksum pinning
  // the exact membership, not just sizes.
  private val d44 = QueryDef(
    "d44_incremental_star",
    (s, dir) => {
      val sh = simhashDf(s, dir).withColumn("bucket", expr("shiftright(simhash, 8)"))
      graft.BenchSplit.setup {
        s.sql(s"CREATE DATABASE IF NOT EXISTS graft_d44 LOCATION '${tmp("graft-d44-db")}'")
        s.sql("DROP TABLE IF EXISTS graft_d44.sig_idx")
        s.sql("DROP TABLE IF EXISTS graft_d44.labels")
        // corpus half off the persisted signature index (d21's r21 move)
        val even = simhashIndex(s, dir)
          .withColumn("bucket", expr("shiftright(simhash, 8)"))
          .filter(col("doc_id") % 2 === 0).cache()
        even.count()
        even.write.bucketBy(8, "bucket").sortBy("bucket")
          .option("path", tmp("graft-d44-idx")).saveAsTable("graft_d44.sig_idx")
        val labels = Tables.withShuffle(s, 8) {
          graft.operators.StarContraction.label(cappedSelfPairs(even)).localCheckpoint()
        }
        labels.write.option("path", tmp("graft-d44-labels")).saveAsTable("graft_d44.labels")
        even.unpersist()
      }
      val delta = sh.filter(col("doc_id") % 2 === 1).cache()
      delta.count()
      val labels = s.table("graft_d44.labels")
      val contracted = d21DeltaEdges(s, delta, "graft_d44").localCheckpoint()
      val labC = Tables.withShuffle(s, 8) {
        graft.operators.StarContraction.label(contracted).localCheckpoint()
      }
      delta.unpersist()
      val contractedNodes = contracted.select(col("id1").as("node"))
        .union(contracted.select(col("id2").as("node"))).distinct()
      val newbies = contractedNodes.join(labels, Seq("node"), "left_anti")
        .select(col("node"), col("node").as("comp"))
      val members = labels.select(col("node"), col("comp")).union(newbies)
      members
        .join(labC.select(col("node").as("oc"), col("comp").as("nc")),
          col("comp") === col("oc"), "left")
        .select(col("node"), coalesce(col("nc"), col("comp")).as("ncomp"))
        .groupBy(col("ncomp").as("cluster_rep"))
        .agg(count(lit(1)).as("n_members"),
          (sum(col("node") % HashMod) % HashMod).as("member_checksum"))
        .orderBy(col("cluster_rep"))
    },
    Some(s"""WITH RECURSIVE $simhashCteDuck,
    ${simhashPairsCte("p")},
    ${undirectedCte("e", "p")},
    ${componentsCte("cluster_rep")}
    SELECT cluster_rep, COUNT(*) AS n_members,
      CAST(SUM(node % $HashMod) % $HashMod AS BIGINT) AS member_checksum
    FROM comp GROUP BY cluster_rep ORDER BY cluster_rep"""))

  // --------------------------------------------------------------- q170
  // TRAINING-MIX MANIFEST — the capstone composition the whole
  // curation layer exists to produce: the per-source token quota a
  // training run actually samples from, combining (a) raw token mass
  // (t01's counting), (b) d33's soft-dedup weights (each doc counts
  // 1/cluster-size — duplicates share one vote), and (c) t16's
  // per-source mixing rate, all composed from the REGISTERED rules
  // verbatim (the d35 audit discipline). Per-doc quota units are exact
  // integers (tokens × w_ppm × rate_pct ≤ 4e10 — far inside int64);
  // the share division promotes to DECIMAL/HUGEINT because quota×1e6
  // exceeds int64 at corpus scale. Plan: d33's CC labeling (the one
  // iterative piece, already scale-gated) + one narrow join + two
  // map-side-combined aggregates + a scalar crossJoin.
  private val q170 = QueryDef(
    "q170_training_manifest",
    (s, dir) => {
      val pairs = simhashPairs(s, dir)
      val labels = Tables.withShuffle(s, 8) {
        graft.operators.ConnectedComponents.label(pairs)
      }
      val sizes = labels.groupBy(col("comp")).agg(count(lit(1)).as("csz"))
      val per = docs(s, dir)
        .select(col("doc_id"), col("source"),
          size(split(col("text"), " ")).cast("long").as("tokens"))
        .join(labels, col("doc_id") === col("node"), "left")
        .join(sizes, Seq("comp"), "left")
        .withColumn("w_ppm", expr("1000000 DIV coalesce(csz, 1L)"))
        .withColumn("rate_pct", expr(s"10 + ${strHashExpr("source")} % 80"))
        .withColumn("quota_units", expr("tokens * w_ppm * rate_pct"))
      // source-cardinality rows, materialized: the quota crossJoin reads
      // bySrc twice (rows + the Σquota scalar) and re-ran the docs scan +
      // label joins for the scalar side without it (r21 plan audit)
      val bySrc = per.groupBy(col("source")).agg(
        count(lit(1)).as("n_docs"),
        sum(col("tokens")).as("n_tokens"),
        sum(expr("tokens * w_ppm")).as("eff_tokens_ppm"),
        sum(col("quota_units")).as("quota_units"))
        .localCheckpoint()
      val out = bySrc
        .crossJoin(bySrc.agg(sum(col("quota_units")).as("tq")))
        .select(col("source"), col("n_docs"), col("n_tokens"),
          col("eff_tokens_ppm"), col("quota_units"),
          expr("""CAST(CAST(quota_units AS DECIMAL(38,0)) * 1000000
                  DIV CAST(tq AS DECIMAL(38,0)) AS BIGINT)""").as("quota_share_ppm"))
        .orderBy(col("source"))
        .localCheckpoint()
      pairs.unpersist()
      out
    },
    Some(s"""WITH RECURSIVE $simhashCteDuck,
    ${simhashPairsCte("p")},
    ${undirectedCte("e", "p")},
    ${componentsCte("comp")},
    csz AS (SELECT comp, COUNT(*) AS csz FROM comp GROUP BY comp),
    per AS (SELECT d.source,
        CAST(len(string_split(d.text, ' ')) AS BIGINT) AS tokens,
        1000000 // COALESCE(z.csz, 1) AS w_ppm,
        10 + ${strHashSql("d.source")} % 80 AS rate_pct
      FROM documents d
      LEFT JOIN comp c ON d.doc_id = c.node
      LEFT JOIN csz z ON c.comp = z.comp),
    by_src AS (SELECT source, COUNT(*) AS n_docs,
        CAST(SUM(tokens) AS BIGINT) AS n_tokens,
        CAST(SUM(tokens * w_ppm) AS BIGINT) AS eff_tokens_ppm,
        CAST(SUM(tokens * w_ppm * rate_pct) AS BIGINT) AS quota_units
      FROM per GROUP BY source)
    SELECT source, n_docs, n_tokens, eff_tokens_ppm, quota_units,
      CAST((CAST(quota_units AS HUGEINT) * 1000000)
           // (SELECT SUM(quota_units) FROM by_src) AS BIGINT) AS quota_share_ppm
    FROM by_src ORDER BY source"""))

  // ---------------------------------------------------------------- d45
  // SIMILAR-DOCUMENT TOP-K RETRIEVAL — the dedup machinery re-aimed at
  // lookup: per document, its 3 most-similar neighbors by verified
  // Jaccard, the "show me this doc's near-dups" query behind review
  // UIs, cluster seeding, and citation-style provenance. Composes the
  // REGISTERED d02 plan verbatim (bucket-capped LSH candidates, exact
  // Jaccard verify — the edge set is already bounded), symmetrizes the
  // id1<id2 edges (a retrieval answer is per-ENDPOINT), and takes the
  // per-doc top-3 by (jacc desc, neighbor id) — WindowGroupLimit makes
  // the rank a per-partition top-k, so the only cost beyond d02 is one
  // edge-volume shuffle on doc_id. Docs with no candidates are rightly
  // absent: LSH retrieval returns nothing below the collision floor.
  private val d45 = QueryDef(
    "d45_similar_doc_topk",
    (s, dir) => {
      // pair-volume rows, materialized: the symmetrization union reads
      // the d02 result twice, and without this the whole band self-join
      // + exact-Jaccard verify pipeline ran once per branch (r21)
      val pairs = d02.run(s, dir).localCheckpoint()
      val sym = pairs.select(col("id1").as("doc_id"), col("id2").as("nbr_id"), col("jacc"))
        .unionByName(pairs.select(col("id2").as("doc_id"), col("id1").as("nbr_id"), col("jacc")))
      sym.withColumn("rnk", row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy(col("doc_id"))
            .orderBy(col("jacc").desc, col("nbr_id"))).cast("long"))
        .filter(col("rnk") <= 3)
        .select(col("doc_id"), col("rnk"), col("nbr_id"), col("jacc"))
        .orderBy(col("doc_id"), col("rnk"))
    },
    Some(s"""WITH pairs AS (${d02.oracle.get}),
    sym AS (SELECT id1 AS doc_id, id2 AS nbr_id, jacc FROM pairs
            UNION ALL SELECT id2, id1, jacc FROM pairs),
    ranked AS (SELECT doc_id, nbr_id, jacc,
        ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY jacc DESC, nbr_id) AS rnk
      FROM sym)
    SELECT doc_id, CAST(rnk AS BIGINT) AS rnk, nbr_id, jacc
    FROM ranked WHERE rnk <= 3 ORDER BY doc_id, rnk"""))

  // ---------------------------------------------------------------- d46
  // DEDUP SURVEY SAMPLING — the "how duplicated is this crawl" estimate
  // you run BEFORE committing a 100 TB dedup pass: sample docs at a
  // fixed rate (deterministic scrambled-hash gate, ~33%), probe ONLY
  // the sampled docs' band keys against the full signature index
  // (d16's delta-probe shape — cost ∝ |sample|, signature-only verify,
  // corpus text never re-read), and estimate the duplicated-doc
  // fraction as hits/k with a binomial 95% CI. Doc-level sampling is
  // the estimator that works: sampling PAIRS at rate p² from a doc
  // sample at rate p collapses the signal quadratically, while each
  // sampled doc here is checked against the WHOLE corpus, so the
  // per-doc dup indicator is measured exactly and only the sampling
  // error remains. The exact fraction (full self-probe) is computed
  // beside it as fixture ground truth — at scale you run the survey
  // INSTEAD of it; band-bucket sizes stay under the cap invariant
  // (BucketCapInvariantSpec) so neither probe is quadratic here.
  private val d46 = QueryDef(
    "d46_dedup_survey",
    (s, dir) => {
      // full-corpus bands off the persisted signature index (r22)
      val bands = minhashBandsIdx(s, dir).cache()
      val sampleGate =
        s"(${strHashExpr("CAST(doc_id AS STRING)")} * 2654435761) % $HashMod % 3 = 0"
      def dupDocs(left: org.apache.spark.sql.DataFrame) = left
        .select(col("band"), col("doc_id").as("d_id"), col("mhs").as("d_mhs"))
        .join(bands.select(col("band"), col("doc_id").as("c_id"), col("mhs").as("c_mhs")),
          "band")
        .filter(col("d_id") =!= col("c_id"))
        .select(col("d_id"), col("c_id"), col("d_mhs"), col("c_mhs")).distinct()
        .withColumn("n_agree",
          expr("size(filter(zip_with(d_mhs, c_mhs, (x, y) -> x = y), b -> b))"))
        .filter(col("n_agree") >= 4) // d14-calibrated: est Jaccard >= 0.5
        .select(col("d_id")).distinct()
      val sigs = bands.select(col("doc_id")).distinct()
      sigs.filter(expr(sampleGate)).agg(count(lit(1)).as("n_sampled"))
        .crossJoin(dupDocs(bands.filter(expr(sampleGate)))
          .agg(count(lit(1)).as("n_hit")))
        .crossJoin(sigs.agg(count(lit(1)).as("n_total")))
        .crossJoin(dupDocs(bands).agg(count(lit(1)).as("n_dup_exact")))
        .withColumn("est_ppm", expr("n_hit * 1000000 DIV n_sampled"))
        .withColumn("exact_ppm", expr("n_dup_exact * 1000000 DIV n_total"))
        .withColumn("err_ppm", expr("abs(est_ppm - exact_ppm)"))
        .withColumn("ci_ppm", expr(
          """CAST(round(1960000.0D * sqrt((CAST(n_hit AS DOUBLE) / n_sampled) *
             (1.0D - CAST(n_hit AS DOUBLE) / n_sampled) / n_sampled), 0) AS BIGINT)"""))
        .withColumn("within_ci", col("err_ppm") <= col("ci_ppm"))
        .select(col("n_total"), col("n_sampled"), col("n_hit"), col("est_ppm"),
          col("n_dup_exact"), col("exact_ppm"), col("err_ppm"), col("ci_ppm"),
          col("within_ci"))
    },
    Some(s"""WITH sh AS (
      SELECT doc_id, $shingleSqlDuck AS sh FROM documents
      WHERE len(string_split(text, ' ')) >= 3),
    hs AS (SELECT doc_id, list_transform(sh, x -> ${strHashSql("x")}) AS hs FROM sh),
    mh AS (SELECT doc_id, [${perm.map { case (a, b) => s"list_min(list_transform(hs, h -> ($a * h + $b) % $HashMod))" }.mkString(", ")}] AS mhs FROM hs),
    bands AS (SELECT doc_id, mhs,
        CAST(i AS VARCHAR) || ':' || CAST(mhs[2 * i + 1] AS VARCHAR) || ':'
          || CAST(mhs[2 * i + 2] AS VARCHAR) AS band
      FROM mh CROSS JOIN generate_series(0, 3) AS g(i)),
    sampled AS (SELECT * FROM bands
      WHERE (${strHashSql("CAST(doc_id AS VARCHAR)")} * 2654435761) % $HashMod % 3 = 0),
    shits AS (SELECT DISTINCT a.doc_id AS d_id
      FROM sampled a JOIN bands b ON a.band = b.band AND a.doc_id <> b.doc_id
      WHERE len(list_filter(list_zip(a.mhs, b.mhs), p -> p[1] = p[2])) >= 4),
    ahits AS (SELECT DISTINCT a.doc_id AS d_id
      FROM bands a JOIN bands b ON a.band = b.band AND a.doc_id <> b.doc_id
      WHERE len(list_filter(list_zip(a.mhs, b.mhs), p -> p[1] = p[2])) >= 4),
    c AS (SELECT
      (SELECT COUNT(DISTINCT doc_id) FROM bands) AS n_total,
      (SELECT COUNT(DISTINCT doc_id) FROM sampled) AS n_sampled,
      (SELECT COUNT(*) FROM shits) AS n_hit,
      (SELECT COUNT(*) FROM ahits) AS n_dup_exact),
    e AS (SELECT *, n_hit * 1000000 // n_sampled AS est_ppm,
      n_dup_exact * 1000000 // n_total AS exact_ppm FROM c)
    SELECT CAST(n_total AS BIGINT) AS n_total,
      CAST(n_sampled AS BIGINT) AS n_sampled,
      CAST(n_hit AS BIGINT) AS n_hit,
      CAST(est_ppm AS BIGINT) AS est_ppm,
      CAST(n_dup_exact AS BIGINT) AS n_dup_exact,
      CAST(exact_ppm AS BIGINT) AS exact_ppm,
      CAST(abs(est_ppm - exact_ppm) AS BIGINT) AS err_ppm,
      CAST(round(1960000.0 * sqrt((CAST(n_hit AS DOUBLE) / n_sampled) *
           (1.0 - CAST(n_hit AS DOUBLE) / n_sampled) / n_sampled), 0) AS BIGINT) AS ci_ppm,
      abs(est_ppm - exact_ppm) <= CAST(round(1960000.0 *
        sqrt((CAST(n_hit AS DOUBLE) / n_sampled) *
             (1.0 - CAST(n_hit AS DOUBLE) / n_sampled) / n_sampled), 0) AS BIGINT)
        AS within_ci
    FROM e"""))

  // ---------------------------------------------------------------- d47
  // LSH BAND-SHAPE A/B — the (b, r) knob d14's calibration curve prices
  // in theory, measured operationally: the SAME 8-hash signature table
  // banded two ways — 4 bands × 2 rows (d02's production shape, high
  // recall: P(candidate) = 1−(1−J²)⁴) vs 2 bands × 4 rows (high
  // precision: 1−(1−J⁴)²) — with candidates, verified pairs (exact
  // Jaccard ≥ 0.5), precision, and each shape's recall against the
  // union of verified pairs. This is the report that decides a shape
  // change BEFORE re-banding a 100 TB index: the precision column
  // prices wasted verify work, the missed column prices lost dups.
  // Measured here: both shapes find ALL verified pairs (the corpus's
  // true dups sit at J ≈ 1, where both S-curves saturate — candP ⊆
  // candR structurally, so b4_r2's recall is 10⁶ by construction and
  // b2_r4's missed-0 is the measured fact), while precision separates
  // hard: 52–57% (b4_r2) vs 81–97% (b2_r4) across the SFs — on THIS
  // corpus the precision shape would nearly halve verify work for free.
  // Both self-joins run through the capped ⌈s/128⌉ sub-split (the d02
  // discipline — no unbounded bucket join enters the repo through this
  // query); signatures compute ONCE and both layouts explode from the
  // checkpointed table.
  private val d47 = QueryDef(
    "d47_band_shape_ab",
    (s, dir) => {
      val base = shingled(s, dir).cache()
      base.count()
      def pairsOf(rows: Int) = {
        // both layouts' capped candidate pairs come off the persisted
        // candidate indexes (storage-backed — read twice below, which
        // is what the localCheckpoint they replace bought)
        val cand = bandCandIndex(s, dir, rows)
        val ver = cand
          .join(base.select(col("doc_id").as("id1"), col("sh").as("sh1")), "id1")
          .join(base.select(col("doc_id").as("id2"), col("sh").as("sh2")), "id2")
          .withColumn("jacc", round(
            size(array_intersect(col("sh1"), col("sh2"))).cast("double") /
              size(array_union(col("sh1"), col("sh2"))), 6))
          .filter(col("jacc") >= 0.5)
          .select(col("id1"), col("id2"))
          .localCheckpoint() // verified-pair-volume, read three times
        (cand, ver)
      }
      val (candR, verR) = pairsOf(2) // 4 bands × 2 rows: the recall shape
      val (candP, verP) = pairsOf(4) // 2 bands × 4 rows: the precision shape
      val union = verR.unionByName(verP).distinct().localCheckpoint()
      def report(tag: String, cand: org.apache.spark.sql.DataFrame,
          ver: org.apache.spark.sql.DataFrame) =
        cand.agg(count(lit(1)).as("n_cand"))
          .crossJoin(ver.agg(count(lit(1)).as("n_verified")))
          .crossJoin(union.join(ver, Seq("id1", "id2"), "left_anti")
            .agg(count(lit(1)).as("n_missed")))
          .crossJoin(union.agg(count(lit(1)).as("n_union")))
          .select(lit(tag).as("shape"), col("n_cand"), col("n_verified"),
            expr("n_verified * 1000000 DIV n_cand").as("precision_ppm"),
            col("n_missed"),
            expr("(n_union - n_missed) * 1000000 DIV n_union").as("union_recall_ppm"))
      report("b4_r2", candR, verR).unionByName(report("b2_r4", candP, verP))
        .orderBy(col("shape"))
    },
    Some {
      def bandDuck(rows: Int) = {
        val idx = (1 to rows).map(j => s"CAST(mhs[$rows * i + $j] AS VARCHAR)")
          .mkString(" || ':' || ")
        s"CAST(i AS VARCHAR) || ':' || $idx"
      }
      val jacc = "round(CAST(len(list_intersect(x.sh, y.sh)) AS DOUBLE) / len(list_distinct(list_concat(x.sh, y.sh))), 6)"
      s"""WITH sh AS (
      SELECT doc_id, $shingleSqlDuck AS sh FROM documents
      WHERE len(string_split(text, ' ')) >= 3),
    hs AS (SELECT doc_id, sh, list_transform(sh, x -> ${strHashSql("x")}) AS hs FROM sh),
    mh AS (SELECT doc_id, [${perm.map { case (a, b) => s"list_min(list_transform(hs, h -> ($a * h + $b) % $HashMod))" }.mkString(", ")}] AS mhs FROM hs),
    br AS (SELECT doc_id, ${bandDuck(2)} AS band
           FROM mh CROSS JOIN generate_series(0, 3) AS g(i)),
    bp AS (SELECT doc_id, ${bandDuck(4)} AS band
           FROM mh CROSS JOIN generate_series(0, 1) AS g(i)),
    cr AS (SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
           FROM br a JOIN br b ON a.band = b.band AND a.doc_id < b.doc_id),
    cp AS (SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
           FROM bp a JOIN bp b ON a.band = b.band AND a.doc_id < b.doc_id),
    vr AS (SELECT id1, id2 FROM cr JOIN sh x ON x.doc_id = id1
           JOIN sh y ON y.doc_id = id2 WHERE $jacc >= 0.5),
    vp AS (SELECT id1, id2 FROM cp JOIN sh x ON x.doc_id = id1
           JOIN sh y ON y.doc_id = id2 WHERE $jacc >= 0.5),
    un AS (SELECT id1, id2 FROM vr UNION SELECT id1, id2 FROM vp)
    SELECT * FROM (
      SELECT 'b4_r2' AS shape,
        (SELECT COUNT(*) FROM cr) AS n_cand,
        (SELECT COUNT(*) FROM vr) AS n_verified,
        (SELECT COUNT(*) FROM vr) * 1000000 // (SELECT COUNT(*) FROM cr) AS precision_ppm,
        (SELECT COUNT(*) FROM un u WHERE NOT EXISTS
           (SELECT 1 FROM vr v WHERE v.id1 = u.id1 AND v.id2 = u.id2)) AS n_missed,
        ((SELECT COUNT(*) FROM un) - (SELECT COUNT(*) FROM un u WHERE NOT EXISTS
           (SELECT 1 FROM vr v WHERE v.id1 = u.id1 AND v.id2 = u.id2))) * 1000000
          // (SELECT COUNT(*) FROM un) AS union_recall_ppm
      UNION ALL
      SELECT 'b2_r4',
        (SELECT COUNT(*) FROM cp),
        (SELECT COUNT(*) FROM vp),
        (SELECT COUNT(*) FROM vp) * 1000000 // (SELECT COUNT(*) FROM cp),
        (SELECT COUNT(*) FROM un u WHERE NOT EXISTS
           (SELECT 1 FROM vp v WHERE v.id1 = u.id1 AND v.id2 = u.id2)),
        ((SELECT COUNT(*) FROM un) - (SELECT COUNT(*) FROM un u WHERE NOT EXISTS
           (SELECT 1 FROM vp v WHERE v.id1 = u.id1 AND v.id2 = u.id2))) * 1000000
          // (SELECT COUNT(*) FROM un)
    ) ORDER BY shape"""
    })

  // ---------------------------------------------------------------- d48
  // DEGREE-CAPPED DEDUP GRAPH → CC — the edge-volume bound that makes
  // cluster resolution affordable on a pathological corpus: before
  // running connected components, keep only each node's top-3
  // strongest edges (by exact Jaccard, WindowGroupLimit-pushed), so a
  // node embedded in a 10⁶-member template family carries 3 edges
  // instead of 10⁶ and the CC input is ≤ 3·|nodes| REGARDLESS of
  // cluster sizes (the bucket caps bound candidate GENERATION; this
  // bounds what survives into the graph). Sparsification can in
  // principle cut an articulation edge and split a component — so the
  // audit runs CC on BOTH edge sets and reports whether the clustering
  // is identical (component count + full membership checksum), making
  // "k=3 is lossless here" a measured fact instead of an assumption.
  // An edge survives if EITHER endpoint ranks it top-3, so the kept
  // set stays symmetric.
  /** d48's degree cap: keep an undirected `(id1, id2, jacc)` edge iff
    * EITHER endpoint ranks it among its k strongest (jacc desc, partner
    * asc) — the kept set stays symmetric and ≤ k·|nodes|. Factored out
    * so `NewOpsR18bSpec` can exercise the capping branch on a planted
    * dense clique (the fixture graphs never exceed degree k). */
  private[graft] def sparsifyTopK(edges: org.apache.spark.sql.DataFrame,
      k: Int): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    edges.select(col("id1").as("src"), col("id2").as("dst"), col("jacc"))
      .unionByName(edges.select(col("id2").as("src"), col("id1").as("dst"), col("jacc")))
      .withColumn("rnk", row_number().over(
        Window.partitionBy(col("src")).orderBy(col("jacc").desc, col("dst"))))
      .filter(col("rnk") <= k)
      .select(least(col("src"), col("dst")).as("id1"),
        greatest(col("src"), col("dst")).as("id2"))
      .distinct()
  }

  private val d48 = QueryDef(
    "d48_sparsified_cc",
    (s, dir) => {
      val base = shingled(s, dir).cache()
      base.count()
      // capped candidate pairs off the persisted candidate index (r22 —
      // previously this query re-ran the explode→tag→self-join pipeline)
      val cand = bandCandIndex(s, dir, 2)
      val edges = cand
        .join(base.select(col("doc_id").as("id1"), col("sh").as("sh1")), "id1")
        .join(base.select(col("doc_id").as("id2"), col("sh").as("sh2")), "id2")
        .withColumn("jacc", round(
          size(array_intersect(col("sh1"), col("sh2"))).cast("double") /
            size(array_union(col("sh1"), col("sh2"))), 6))
        .filter(col("jacc") >= 0.5)
        .select(col("id1"), col("id2"), col("jacc"))
        .localCheckpoint()
      val kept = sparsifyTopK(edges, 3).localCheckpoint()
      def summary(tag: String, e: org.apache.spark.sql.DataFrame) =
        Tables.withShuffle(s, 8) {
          graft.operators.ConnectedComponents.label(e)
            .agg(count(lit(1)).as("n_nodes"),
              countDistinct(col("comp")).as("n_components"),
              (sum((col("node") * 1000003L + col("comp")) % HashMod) % HashMod)
                .as("membership_ck"))
            .crossJoin(e.select(col("id1"), col("id2")).distinct()
              .agg(count(lit(1)).as("n_edges")))
            .select(lit(tag).as("variant"), col("n_edges"), col("n_nodes"),
              col("n_components"), col("membership_ck"))
        }
      val full = summary("full", edges).localCheckpoint()
      val sp = summary("sparsified_k3", kept)
      val fullRef = full.select(col("n_components").as("nc_f"),
        col("membership_ck").as("ck_f"))
      full.withColumn("same_clustering", lit(null).cast("boolean"))
        .unionByName(sp.crossJoin(broadcast(fullRef))
          .select(col("variant"), col("n_edges"), col("n_nodes"), col("n_components"),
            col("membership_ck"),
            (col("n_components") === col("nc_f") &&
              col("membership_ck") === col("ck_f")).as("same_clustering")))
        .orderBy(col("variant"))
    },
    Some {
      val jacc = "round(CAST(len(list_intersect(x.sh, y.sh)) AS DOUBLE) / len(list_distinct(list_concat(x.sh, y.sh))), 6)"
      s"""WITH RECURSIVE sh AS (
      SELECT doc_id, $shingleSqlDuck AS sh FROM documents
      WHERE len(string_split(text, ' ')) >= 3),
    hs AS (SELECT doc_id, sh, list_transform(sh, x -> ${strHashSql("x")}) AS hs FROM sh),
    mh AS (SELECT doc_id, [${perm.map { case (a, b) => s"list_min(list_transform(hs, h -> ($a * h + $b) % $HashMod))" }.mkString(", ")}] AS mhs FROM hs),
    bands AS (SELECT doc_id, CAST(i AS VARCHAR) || ':' || CAST(mhs[2 * i + 1] AS VARCHAR) || ':' || CAST(mhs[2 * i + 2] AS VARCHAR) AS band
              FROM mh CROSS JOIN generate_series(0, 3) AS g(i)),
    cand AS (SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
             FROM bands a JOIN bands b ON a.band = b.band AND a.doc_id < b.doc_id),
    edges AS (SELECT id1, id2, $jacc AS jacc
              FROM cand JOIN sh x ON x.doc_id = id1 JOIN sh y ON y.doc_id = id2
              WHERE $jacc >= 0.5),
    dirx AS (SELECT id1 AS src, id2 AS dst, jacc FROM edges
             UNION ALL SELECT id2, id1, jacc FROM edges),
    kept AS (SELECT DISTINCT LEAST(src, dst) AS id1, GREATEST(src, dst) AS id2 FROM (
               SELECT src, dst,
                 ROW_NUMBER() OVER (PARTITION BY src ORDER BY jacc DESC, dst) AS rnk
               FROM dirx) WHERE rnk <= 3),
    ${undirectedCte("ef", "edges")},
    rf AS (SELECT id1 AS node, id2 AS reach FROM ef
           UNION
           SELECT rf.node, ef.id2 FROM rf JOIN ef ON rf.reach = ef.id1),
    cf AS (SELECT node, LEAST(node, MIN(reach)) AS comp FROM rf GROUP BY node),
    ${undirectedCte("es", "kept")},
    rs AS (SELECT id1 AS node, id2 AS reach FROM es
           UNION
           SELECT rs.node, es.id2 FROM rs JOIN es ON rs.reach = es.id1),
    cs AS (SELECT node, LEAST(node, MIN(reach)) AS comp FROM rs GROUP BY node),
    sf_sum AS (SELECT COUNT(*) AS n_nodes, COUNT(DISTINCT comp) AS n_components,
                 SUM((node * 1000003 + comp) % $HashMod) % $HashMod AS membership_ck
               FROM cf),
    ss_sum AS (SELECT COUNT(*) AS n_nodes, COUNT(DISTINCT comp) AS n_components,
                 SUM((node * 1000003 + comp) % $HashMod) % $HashMod AS membership_ck
               FROM cs)
    SELECT * FROM (
      SELECT 'full' AS variant,
        (SELECT COUNT(*) FROM edges) AS n_edges,
        CAST(n_nodes AS BIGINT) AS n_nodes,
        CAST(n_components AS BIGINT) AS n_components,
        CAST(membership_ck AS BIGINT) AS membership_ck,
        CAST(NULL AS BOOLEAN) AS same_clustering
      FROM sf_sum
      UNION ALL
      SELECT 'sparsified_k3',
        (SELECT COUNT(*) FROM kept),
        CAST(s.n_nodes AS BIGINT), CAST(s.n_components AS BIGINT),
        CAST(s.membership_ck AS BIGINT),
        s.n_components = f.n_components AND s.membership_ck = f.membership_ck
      FROM ss_sum s CROSS JOIN sf_sum f
    ) ORDER BY variant"""
    })

  // ---------------------------------------------------------------- d49
  // BIPARTITE DOC–SHINGLE COMPONENTS — duplicate grouping with NO pair
  // enumeration anywhere, not even inside buckets: build the bipartite
  // graph of documents and their RARE shingles (df ∈ [2, 5], d28's
  // posting discipline — a df-1 shingle connects nothing and a common
  // shingle would glue the corpus together), run the pointer-jumping CC
  // operator directly on the bipartite edges, and read duplicate groups
  // off the doc-side labels. Edge volume is Σ df over rare shingles
  // ≤ 5 × |rare postings| — LINEAR, where every pair-based generator
  // pays Σ df·(df−1)/2 per posting; the trade is recall shaped by
  // shared-rare-shingle reachability (transitive through shingles)
  // instead of a Jaccard bar, which is why this is the candidate-GROUP
  // generator for containment-style dups, not a similarity verdict.
  // Shingle node ids live above 2e9 (doc ids are far below), so the
  // component minimum is always a doc id and doubles as the group key.
  // Shingle WIDTH is the percolation knob, and it is measured, not
  // assumed: with 3-gram shingles the rare-shingle graph glues this
  // corpus into ONE 500-doc component (template vocab reuse chains
  // everything transitively); 8-token shingles (d26's span width) yield
  // 23 tight components of ≤3 docs at sf0.01 — genuine shared passages.
  private val D49ShingleW = 8

  /** Per-doc distinct 8-token shingle SETS `(doc_id, sh8)` — shared by
    * d49 (hashed into bipartite nodes) and d50 (exact containment
    * verify over d49's groups). */
  private def shingle8Sets(s: org.apache.spark.sql.SparkSession, dir: String) = {
    val shingle8 = (1 to D49ShingleW).map(j => s"element_at(w, i + ${j - 1})")
      .mkString("concat_ws(' ', ", ", ", ")")
    docs(s, dir)
      .select(col("doc_id"), split(col("text"), " ").as("w"))
      .filter(size(col("w")) >= D49ShingleW)
      .select(col("doc_id"), expr(
        s"array_distinct(transform(sequence(1, size(w) - ${D49ShingleW - 1}), i -> $shingle8))")
        .as("sh8"))
  }

  /** d49's bipartite doc–rare-shingle CC labeling `(node, comp)` —
    * doc nodes < 2e9, shingle nodes ≥ 2e9. Shared by d49 and d50, and
    * a [[PersistedIndex]]: the CC iteration (shingle explode + df filter
    * + pointer jumping) costs ~10 s at sf0.1 and d49/d50 would otherwise
    * each pay it. */
  private def bipartiteLabels(s: org.apache.spark.sql.SparkSession, dir: String) =
    PersistedIndex(s, "bipartite-cc", dir) { p =>
      // the posting list feeds BOTH the df aggregate and the semi-join
      // side — materialize it once (eager: the two consumers are
      // independent stages, so a bare cache could race and compute the
      // pass twice anyway). Posting-list-sized: 2 longs per (doc, gram).
      //
      // Window hashes come from gram_str_hashes — VALUE-IDENTICAL to
      // exploding the concat_ws 8-gram strings and poly_hash-ing each
      // (the polynomial fold composes exactly; GramStrHashesSpec pins
      // equality on real corpus rows) but without materializing any
      // window string: the string build was 10.7 of this build's 15 s
      // at sf0.1 (r21 phase profile). Per-doc array_distinct is dropped
      // with the strings — `rare` counts DISTINCT doc_id per sid and
      // `edges` is distinct(), so duplicate in-doc postings never reach
      // the output (d50 keeps the string-set variant: it needs the SETS).
      val sh = docs(s, dir)
        .select(col("doc_id"), split(col("text"), " ").as("w"))
        .filter(size(col("w")) >= D49ShingleW)
        .select(col("doc_id"),
          explode(expr(s"gram_str_hashes(w, $D49ShingleW)")).as("h"))
        .select(col("doc_id"), (lit(2000000000L) + col("h")).as("sid"))
        .localCheckpoint()
      val rare = sh.groupBy(col("sid")).agg(countDistinct(col("doc_id")).as("df"))
        .filter(col("df") >= 2 && col("df") <= 5)
        .select(col("sid"))
      val edges = sh.join(rare, Seq("sid"), "left_semi")
        .select(col("doc_id").as("id1"), col("sid").as("id2"))
        .distinct()
        .localCheckpoint() // rare-posting-bounded
      Tables.withShuffle(s, 8) {
        graft.operators.ConnectedComponents.label(edges)
          .write.mode("overwrite").parquet(p)
      }
    }

  /** DuckDB CTE chain `sh0 … lab` mirroring [[bipartiteLabels]] (plus
    * `sh0` carrying the shingle sets for containment verifies). Must be
    * preceded by WITH RECURSIVE. Shared by the d49 and d50 oracles. */
  private lazy val bipartiteCteDuck: String = {
    val idx8 = (0 until D49ShingleW).map(j => s"w[i + $j]").mkString(" || ' ' || ")
    s"""sh0 AS (
      SELECT doc_id, list_distinct(list_transform(
               generate_series(1, len(string_split(text, ' ')) - ${D49ShingleW - 1}),
               i -> $idx8)) AS sh
      FROM (SELECT doc_id, text, string_split(text, ' ') AS w FROM documents)
      WHERE len(string_split(text, ' ')) >= $D49ShingleW),
    shx AS (SELECT doc_id, 2000000000 + ${strHashSql("s")} AS sid
            FROM (SELECT doc_id, unnest(sh) AS s FROM sh0)),
    rare AS (SELECT sid FROM (
               SELECT sid, COUNT(DISTINCT doc_id) AS df FROM shx GROUP BY 1)
             WHERE df BETWEEN 2 AND 5),
    edges AS (SELECT DISTINCT doc_id AS id1, shx.sid AS id2
              FROM shx JOIN rare ON shx.sid = rare.sid),
    ${undirectedCte("e", "edges")},
    r AS (SELECT id1 AS node, id2 AS reach FROM e
          UNION
          SELECT r.node, e.id2 FROM r JOIN e ON r.reach = e.id1),
    lab AS (SELECT node, LEAST(node, MIN(reach)) AS comp FROM r GROUP BY node)"""
  }

  private val d49 = QueryDef(
    "d49_bipartite_components",
    (s, dir) => {
      val labels = bipartiteLabels(s, dir)
      val docLabels = labels.filter(col("node") < 2000000000L)
      val comps = docLabels.groupBy(col("comp"))
        .agg(count(lit(1)).as("n_docs"),
          (sum(col("node") % HashMod) % HashMod).as("doc_checksum"))
        .filter(col("n_docs") >= 2)
      comps.join(labels.filter(col("node") >= 2000000000L)
          .groupBy(col("comp")).agg(count(lit(1)).as("n_shingle_nodes")),
          Seq("comp"), "left")
        .select(col("comp"), col("n_docs"),
          coalesce(col("n_shingle_nodes"), lit(0L)).as("n_shingle_nodes"),
          col("doc_checksum"))
        .orderBy(col("comp"))
    },
    Some {
      s"""WITH RECURSIVE $bipartiteCteDuck,
    comps AS (SELECT comp, COUNT(*) AS n_docs,
                SUM(node % $HashMod) % $HashMod AS doc_checksum
              FROM lab WHERE node < 2000000000 GROUP BY comp
              HAVING COUNT(*) >= 2),
    snodes AS (SELECT comp, COUNT(*) AS n_shingle_nodes
               FROM lab WHERE node >= 2000000000 GROUP BY comp)
    SELECT c.comp, CAST(c.n_docs AS BIGINT) AS n_docs,
      CAST(COALESCE(s.n_shingle_nodes, 0) AS BIGINT) AS n_shingle_nodes,
      CAST(c.doc_checksum AS BIGINT) AS doc_checksum
    FROM comps c LEFT JOIN snodes s ON c.comp = s.comp
    ORDER BY c.comp"""
    })

  // ---------------------------------------------------------------- d50
  // BIPARTITE-GROUP CONTAINMENT VERIFY — the verdict stage d49's
  // grouping deliberately omits: inside each duplicate group, compute
  // the exact pairwise containment |A∩B| / min(|A|, |B|) over the full
  // 8-gram shingle sets, so a group is either CONFIRMED shared-passage
  // material (high min containment) or exposed as a transitive-chain
  // artifact (the known failure mode of reachability grouping). Pair
  // work is bounded the honest way: groups LARGER than the verify cap
  // are not silently pair-joined (Σ g² is the d39 hazard) — they are
  // COUNTED into the total row's n_oversized and skipped, the d27
  // no-silent-caps rule. Measured here: every group is small enough to
  // verify, most pairs sit at FULL containment (10⁶ ppm — one doc's
  // shingle set inside the other's), and at least one pair reads 0 —
  // two docs in one group sharing NO 8-gram directly, i.e. a genuine
  // transitive-chain artifact, caught exactly as designed.
  private val D50VerifyCap = 8L

  private val d50 = QueryDef(
    "d50_bipartite_purity",
    (s, dir) => {
      val labels = bipartiteLabels(s, dir)
      val groups = labels.filter(col("node") < 2000000000L)
        .groupBy(col("comp")).agg(count(lit(1)).as("n_docs"))
        .filter(col("n_docs") >= 2)
        .localCheckpoint()
      val members = labels.filter(col("node") < 2000000000L)
        .join(groups.filter(col("n_docs") <= D50VerifyCap), Seq("comp"), "left_semi")
        .select(col("comp"), col("node").as("doc_id"))
        .join(shingle8Sets(s, dir), "doc_id")
      val pairs = members.select(col("comp"), col("doc_id").as("id1"), col("sh8").as("a"))
        .join(members.select(col("comp"), col("doc_id").as("id2"), col("sh8").as("b")),
          "comp")
        .filter(col("id1") < col("id2"))
        .withColumn("cont_ppm", expr(
          "size(array_intersect(a, b)) * 1000000 DIV least(size(a), size(b))"))
      val perGroup = pairs.groupBy(col("comp"))
        .agg(count(lit(1)).as("n_pairs"),
          min(col("cont_ppm")).as("min_cont_ppm"),
          max(col("cont_ppm")).as("max_cont_ppm"))
        .join(groups, Seq("comp"))
        .select(col("comp"), col("n_docs"), col("n_pairs"),
          col("min_cont_ppm"), col("max_cont_ppm"))
      val total = perGroup
        .agg(sum(col("n_docs")).as("n_docs"), sum(col("n_pairs")).as("n_pairs"),
          min(col("min_cont_ppm")).as("min_cont_ppm"),
          max(col("max_cont_ppm")).as("max_cont_ppm"))
        .crossJoin(broadcast(groups.filter(col("n_docs") > D50VerifyCap)
          .agg(count(lit(1)).as("n_oversized"))))
        .select(lit(-1L).as("comp"),
          // the total row repurposes n_docs to carry the skip count next
          // to the verified mass — n_oversized is the no-silent-caps column
          col("n_docs"), col("n_pairs"), col("min_cont_ppm"), col("max_cont_ppm"),
          col("n_oversized"))
      perGroup.withColumn("n_oversized", lit(null).cast("long"))
        .unionByName(total)
        .orderBy(col("comp"))
    },
    Some(s"""WITH RECURSIVE $bipartiteCteDuck,
    groups AS (SELECT comp, COUNT(*) AS n_docs FROM lab
               WHERE node < 2000000000 GROUP BY comp HAVING COUNT(*) >= 2),
    members AS (SELECT g.comp, l.node AS doc_id, s.sh
                FROM groups g JOIN lab l ON l.comp = g.comp AND l.node < 2000000000
                JOIN sh0 s ON s.doc_id = l.node
                WHERE g.n_docs <= $D50VerifyCap),
    pairs AS (SELECT a.comp, a.doc_id AS id1, b.doc_id AS id2,
        len(list_intersect(a.sh, b.sh)) * 1000000
          // LEAST(len(a.sh), len(b.sh)) AS cont_ppm
      FROM members a JOIN members b ON a.comp = b.comp AND a.doc_id < b.doc_id),
    pg AS (SELECT comp, COUNT(*) AS n_pairs, MIN(cont_ppm) AS min_cont_ppm,
             MAX(cont_ppm) AS max_cont_ppm
           FROM pairs GROUP BY comp),
    per AS (SELECT g.comp, g.n_docs, p.n_pairs, p.min_cont_ppm, p.max_cont_ppm
            FROM pg p JOIN groups g ON g.comp = p.comp)
    SELECT * FROM (
      SELECT comp, CAST(n_docs AS BIGINT) AS n_docs, CAST(n_pairs AS BIGINT) AS n_pairs,
        CAST(min_cont_ppm AS BIGINT) AS min_cont_ppm,
        CAST(max_cont_ppm AS BIGINT) AS max_cont_ppm,
        CAST(NULL AS BIGINT) AS n_oversized
      FROM per
      UNION ALL
      SELECT -1, CAST(SUM(n_docs) AS BIGINT), CAST(SUM(n_pairs) AS BIGINT),
        CAST(MIN(min_cont_ppm) AS BIGINT), CAST(MAX(max_cont_ppm) AS BIGINT),
        CAST((SELECT COUNT(*) FROM groups WHERE n_docs > $D50VerifyCap) AS BIGINT)
      FROM per
    ) ORDER BY comp"""))

  // ---------------------------------------------------------------- d51
  // WEIGHTED JACCARD — the multiset similarity the set-based detectors
  // throw away: Σ min(tf₁,tf₂) / Σ max(tf₁,tf₂) over term FREQUENCIES,
  // versus the distinct-set Jaccard every LSH stage approximates. On a
  // template-heavy corpus the two disagree in a specific direction —
  // repeated boilerplate tokens inflate the weighted denominator, so a
  // pair can clear the set-wise 0.7 bar while its weighted score says
  // the actual text mass differs (and vice versa for near-identical
  // short docs with different repetition counts). Candidates come from
  // the CAPPED shared SimHash generator (never all-pairs; the oracle
  // mirrors the uncapped join per the d05 precedent — the cap provably
  // never binds at the correctness SFs), and both scores compute from
  // ONE full-outer term join per pair. Readout: the 0.7-threshold
  // confusion classes with mean/max |gap| — the calibration a dedup
  // pipeline needs before trusting either score alone. All-integer ppm
  // math; gaps are reported as absolute values so the integer division
  // semantics (Spark DIV truncation vs DuckDB // floor) never see a
  // negative operand.
  private val d51 = QueryDef(
    "d51_weighted_jaccard",
    (s, dir) => {
      val pairs = simhashPairs(s, dir)
      val tf = docs(s, dir)
        .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
        .groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("c"))
        .localCheckpoint() // three consumers: totals + both pair sides
      val totals = tf.groupBy(col("doc_id"))
        .agg(sum(col("c")).as("wsum"), count(lit(1)).as("dcnt"))
      // multiset identity: Σmax(a,b) = ΣA + ΣB − Σmin over SHARED terms
      // (terms unique to one side contribute their full count to max and
      // 0 to min), and |A∪B| = |A| + |B| − |A∩B| — so one INNER join on
      // shared terms plus per-doc totals replaces the full-outer term
      // merge (A/B at sf0.1: 21.9 → ~9 s; the outer union rows and their
      // second shuffle were half the cost)
      val shared = pairs
        .join(tf.select(col("doc_id").as("id1"), col("w"), col("c").as("c1")), Seq("id1"))
        .join(tf.select(col("doc_id").as("id2"), col("w"), col("c").as("c2")),
          Seq("id2", "w"))
        .groupBy(col("id1"), col("id2"))
        .agg(sum(least(col("c1"), col("c2"))).as("smin"), count(lit(1)).as("inter"))
      val perPair = pairs
        .join(shared, Seq("id1", "id2"), "left")
        .join(totals.select(col("doc_id").as("id1"), col("wsum").as("w1"),
          col("dcnt").as("d1")), Seq("id1"))
        .join(totals.select(col("doc_id").as("id2"), col("wsum").as("w2"),
          col("dcnt").as("d2")), Seq("id2"))
        .select(col("id1"), col("id2"),
          expr("coalesce(smin, 0L) * 1000000 DIV (w1 + w2 - coalesce(smin, 0L))")
            .as("wj_ppm"),
          expr("coalesce(inter, 0L) * 1000000 DIV (d1 + d2 - coalesce(inter, 0L))")
            .as("uj_ppm"))
        .localCheckpoint()
      pairs.unpersist()
      val classed = perPair.withColumn("cls",
        when(col("wj_ppm") >= 700000 && col("uj_ppm") >= 700000, lit("a_both"))
          .when(col("wj_ppm") >= 700000, lit("b_weighted_only"))
          .when(col("uj_ppm") >= 700000, lit("c_setwise_only"))
          .otherwise(lit("d_neither")))
        .withColumn("gap", abs(col("wj_ppm") - col("uj_ppm")))
      val perClass = classed.groupBy(col("cls")).agg(
        count(lit(1)).as("n_pairs"),
        expr("sum(gap) DIV count(1)").as("mean_abs_gap_ppm"),
        max(col("gap")).as("max_abs_gap_ppm"))
      val total = classed.agg(count(lit(1)).as("n_pairs"),
          expr("sum(gap) DIV count(1)").as("mean_abs_gap_ppm"),
          max(col("gap")).as("max_abs_gap_ppm"))
        .select(lit("z_total").as("cls"), col("n_pairs"),
          col("mean_abs_gap_ppm"), col("max_abs_gap_ppm"))
      perClass.unionByName(total).orderBy(col("cls"))
    },
    Some(s"""WITH $simhashCteDuck,
    ${simhashPairsCte("pairs")},
    tf AS (SELECT doc_id, w, COUNT(*) AS c FROM
             (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents)
           GROUP BY 1, 2),
    a AS (SELECT p.id1, p.id2, tf.w, tf.c AS c1
          FROM pairs p JOIN tf ON tf.doc_id = p.id1),
    b AS (SELECT p.id1, p.id2, tf.w, tf.c AS c2
          FROM pairs p JOIN tf ON tf.doc_id = p.id2),
    terms AS (SELECT COALESCE(a.id1, b.id1) AS id1, COALESCE(a.id2, b.id2) AS id2,
                a.c1, b.c2
              FROM a FULL OUTER JOIN b
                ON a.id1 = b.id1 AND a.id2 = b.id2 AND a.w = b.w),
    pp AS (SELECT id1, id2,
        SUM(LEAST(COALESCE(c1, 0), COALESCE(c2, 0))) * 1000000
          // SUM(GREATEST(COALESCE(c1, 0), COALESCE(c2, 0))) AS wj_ppm,
        SUM(CASE WHEN c1 IS NOT NULL AND c2 IS NOT NULL THEN 1 ELSE 0 END) * 1000000
          // COUNT(*) AS uj_ppm
      FROM terms GROUP BY 1, 2),
    v AS (SELECT *,
        CASE WHEN wj_ppm >= 700000 AND uj_ppm >= 700000 THEN 'a_both'
             WHEN wj_ppm >= 700000 THEN 'b_weighted_only'
             WHEN uj_ppm >= 700000 THEN 'c_setwise_only'
             ELSE 'd_neither' END AS cls,
        ABS(wj_ppm - uj_ppm) AS gap
      FROM pp)
    SELECT cls, CAST(COUNT(*) AS BIGINT) AS n_pairs,
      CAST(SUM(gap) // COUNT(*) AS BIGINT) AS mean_abs_gap_ppm,
      CAST(MAX(gap) AS BIGINT) AS max_abs_gap_ppm
    FROM v GROUP BY cls
    UNION ALL
    SELECT 'z_total', CAST(COUNT(*) AS BIGINT),
      CAST(SUM(gap) // COUNT(*) AS BIGINT), CAST(MAX(gap) AS BIGINT) FROM v
    ORDER BY cls"""))

  // ---------------------------------------------------------------- d52
  // CLUSTER STABILITY UNDER SAMPLING — the robustness audit dedup
  // clustering needs before its labels drive deletions: drop a
  // deterministic 10% of documents, re-cluster the surviving subgraph,
  // and measure how much the partition over SURVIVORS moved. Full-graph
  // labels keep connectivity THROUGH removed nodes (that asymmetry is
  // the finding: a cluster held together by one bridge doc shatters),
  // while the subgraph re-clusters from surviving edges only. Agreement
  // is the pair-counting Jaccard/Rand form computed ENTIRELY from
  // contingency-cell sizes — Σ C(n,2) per (full, sub) label cell vs per
  // marginal — so no co-clustered pair is ever enumerated
  // (contingency-sized work at any corpus size; the ppm division rides
  // DECIMAL/HUGEINT). Survivors whose every edge vanished count as
  // singletons (COALESCE to self). `n_split_clusters` names the bridge
  // casualties directly.
  private val d52 = QueryDef(
    "d52_cluster_stability",
    (s, dir) => {
      // pairs read the persisted shared edge index (storage-backed)
      val pairs = simhashPairs(s, dir)
      def isSurv(c: String) =
        expr(s"${strHashExpr(s"CAST($c AS STRING)")} % 10") =!= 0
      val subPairs = pairs.filter(isSurv("id1") && isSurv("id2"))
        .localCheckpoint()
      Tables.withShuffle(s, 8) {
        // CC.label's return is already a materialized localCheckpoint (its
        // convergence action ran) — re-checkpointing it was one pure copy
        // job per labeling (r22)
        val labelsFull = graft.operators.ConnectedComponents.label(pairs)
        val labelsSub = graft.operators.ConnectedComponents.label(subPairs)
        // universe: survivor nodes of the FULL graph; edge-less
        // survivors in the subgraph become singletons
        val u = labelsFull.filter(isSurv("node"))
          .join(labelsSub.select(col("node"), col("comp").as("comp_s")),
            Seq("node"), "left")
          .select(col("node"), col("comp").as("comp_f"),
            coalesce(col("comp_s"), col("node")).as("comp_s"))
        val cells = u.groupBy(col("comp_f"), col("comp_s"))
          .agg(count(lit(1)).as("n")).localCheckpoint()
        val both = cells.agg(sum(expr("n * (n - 1) DIV 2")).as("pairs_both"),
          count(lit(1)).as("n_cells"))
        val fullM = cells.groupBy(col("comp_f")).agg(sum(col("n")).as("nf"),
            countDistinct(col("comp_s")).as("n_sub"))
          .agg(sum(expr("nf * (nf - 1) DIV 2")).as("pairs_full"),
            count(lit(1)).as("n_clusters_full"),
            sum(when(col("n_sub") > 1, 1L).otherwise(0L)).as("n_split_clusters"))
        val subM = cells.groupBy(col("comp_s")).agg(sum(col("n")).as("ns"))
          .agg(sum(expr("ns * (ns - 1) DIV 2")).as("pairs_sub"),
            count(lit(1)).as("n_clusters_sub"))
        val nodes = u.agg(count(lit(1)).as("n_survivor_nodes"))
        nodes.crossJoin(broadcast(both)).crossJoin(broadcast(fullM))
          .crossJoin(broadcast(subM))
          .select(col("n_survivor_nodes"), col("n_clusters_full"),
            col("n_clusters_sub"), col("n_split_clusters"),
            col("pairs_full"), col("pairs_sub"), col("pairs_both"),
            expr("""CAST(CAST(pairs_both AS DECIMAL(38,0)) * 1000000
                    DIV (CAST(pairs_full AS DECIMAL(38,0)) + pairs_sub - pairs_both)
                    AS BIGINT)""").as("stability_ppm"))
      }
    },
    Some(s"""WITH RECURSIVE $simhashCteDuck,
    ${simhashPairsCte("p")},
    ${undirectedCte("e", "p")},
    ${componentsCte("comp_f")},
    ps AS (SELECT id1, id2 FROM p
           WHERE ${strHashSql("CAST(id1 AS VARCHAR)")} % 10 <> 0
             AND ${strHashSql("CAST(id2 AS VARCHAR)")} % 10 <> 0),
    ${undirectedCte("es", "ps")},
    rs AS (SELECT id1 AS node, id2 AS reach FROM es
           UNION
           SELECT rs.node, es.id2 AS reach FROM rs JOIN es ON rs.reach = es.id1),
    comps AS (SELECT node, LEAST(node, MIN(reach)) AS comp_s
              FROM rs GROUP BY node),
    u AS (SELECT c.node, c.comp_f, COALESCE(cs.comp_s, c.node) AS comp_s
          FROM comp c LEFT JOIN comps cs ON c.node = cs.node
          WHERE ${strHashSql("CAST(c.node AS VARCHAR)")} % 10 <> 0),
    cells AS (SELECT comp_f, comp_s, COUNT(*) AS n FROM u GROUP BY 1, 2),
    bth AS (SELECT SUM(n * (n - 1) // 2) AS pairs_both FROM cells),
    fm AS (SELECT SUM(nf * (nf - 1) // 2) AS pairs_full,
             COUNT(*) AS n_clusters_full,
             SUM(CASE WHEN n_sub > 1 THEN 1 ELSE 0 END) AS n_split_clusters
           FROM (SELECT comp_f, SUM(n) AS nf, COUNT(DISTINCT comp_s) AS n_sub
                 FROM cells GROUP BY 1)),
    sm AS (SELECT SUM(ns * (ns - 1) // 2) AS pairs_sub,
             COUNT(*) AS n_clusters_sub
           FROM (SELECT comp_s, SUM(n) AS ns FROM cells GROUP BY 1)),
    nodes AS (SELECT COUNT(*) AS n_survivor_nodes FROM u)
    SELECT CAST(n_survivor_nodes AS BIGINT) AS n_survivor_nodes,
      CAST(n_clusters_full AS BIGINT) AS n_clusters_full,
      CAST(n_clusters_sub AS BIGINT) AS n_clusters_sub,
      CAST(n_split_clusters AS BIGINT) AS n_split_clusters,
      CAST(pairs_full AS BIGINT) AS pairs_full,
      CAST(pairs_sub AS BIGINT) AS pairs_sub,
      CAST(pairs_both AS BIGINT) AS pairs_both,
      CAST(CAST(pairs_both AS HUGEINT) * 1000000
           // (CAST(pairs_full AS HUGEINT) + pairs_sub - pairs_both) AS BIGINT)
        AS stability_ppm
    FROM nodes CROSS JOIN bth CROSS JOIN fm CROSS JOIN sm"""))

  // ---------------------------------------------------------------- d53
  // B-BIT MINWISE HASHING (Li & König) — the storage side of the
  // minhash trade d14 calibrates: keep only the lowest b bits of each
  // of the 8 minima (8×1 bit = ONE BYTE per doc at b=1, vs 64 bytes of
  // full values) and correct the estimator for accidental collisions,
  // R̂ = (C − 2⁻ᵇ)/(1 − 2⁻ᵇ) clamped at 0. The audit scores b ∈
  // {1, 2, 4} and the full-value estimator (encoded b=64) against the
  // EXACT shingle Jaccard on d14's bounded all-pairs set, reporting
  // mean/max absolute error per width — the bytes-vs-accuracy curve an
  // index designer reads before shrinking a 100 TB signature store.
  // Everything is integer ppm math off one zip_with fold per (pair,
  // width); the widths replay one scored pair table (s23's discipline).
  private val d53 = QueryDef(
    "d53_bbit_minhash",
    (s, dir) => {
      val sh = shingled(s, dir).filter(col("doc_id") < 60)
      val mh = sh
        .select(col("doc_id"), expr(s"transform(sh, x -> ${strHashExpr("x")})").as("hs"))
        .select(col("doc_id"), expr("minhash_sigs(hs)").as("mhs"))
      val widths = s.range(0, 4)
        .select(expr("element_at(array(1L, 2L, 4L, 64L), CAST(id + 1 AS INT))")
          .as("b"))
      val pairs = sh.select(col("doc_id").as("id1"), col("sh").as("sh1"))
        .join(sh.select(col("doc_id").as("id2"), col("sh").as("sh2")),
          col("id1") < col("id2"))
        .select(col("id1"), col("id2"),
          expr("""size(array_intersect(sh1, sh2)) * 1000000
                  DIV size(array_union(sh1, sh2))""").as("jacc_ppm"))
        .join(mh.select(col("doc_id").as("id1"), col("mhs").as("m1")), Seq("id1"))
        .join(mh.select(col("doc_id").as("id2"), col("mhs").as("m2")), Seq("id2"))
      pairs.crossJoin(broadcast(widths))
        .withColumn("coll", expr(
          """aggregate(zip_with(m1, m2, (x, y) ->
               CASE WHEN b = 64 THEN IF(x = y, 1L, 0L)
                    ELSE IF(x % shiftleft(1L, CAST(b AS INT))
                            = y % shiftleft(1L, CAST(b AS INT)), 1L, 0L) END),
             0L, (a, v) -> a + v)"""))
        .withColumn("est_ppm", expr(
          """CASE WHEN b = 64 THEN coll * 1000000 DIV 8
             ELSE greatest(0L, coll * shiftleft(1L, CAST(b AS INT)) - 8) * 1000000
                  DIV (8 * (shiftleft(1L, CAST(b AS INT)) - 1)) END"""))
        .withColumn("abs_err", abs(col("est_ppm") - col("jacc_ppm")))
        .groupBy(col("b"))
        .agg(count(lit(1)).as("n_pairs"),
          expr("sum(jacc_ppm) DIV count(1)").as("mean_exact_ppm"),
          expr("sum(est_ppm) DIV count(1)").as("mean_est_ppm"),
          expr("sum(abs_err) DIV count(1)").as("mean_abs_err_ppm"),
          max(col("abs_err")).as("max_abs_err_ppm"))
        .orderBy(col("b"))
    },
    Some(s"""WITH sh AS (
      SELECT doc_id, $shingleSqlDuck AS sh FROM documents
      WHERE doc_id < 60 AND len(string_split(text, ' ')) >= 3),
    hs AS (SELECT doc_id, list_transform(sh, x -> ${strHashSql("x")}) AS hs FROM sh),
    mh AS (SELECT doc_id, [${perm.map { case (a, b) => s"list_min(list_transform(hs, h -> ($a * h + $b) % $HashMod))" }.mkString(", ")}] AS mhs FROM hs),
    widths AS (SELECT CAST(b AS BIGINT) AS b FROM (VALUES (1), (2), (4), (64)) t(b)),
    pairs AS (
      SELECT a.doc_id AS id1, b.doc_id AS id2,
        CAST(len(list_intersect(a.sh, b.sh)) AS BIGINT) * 1000000
          // CAST(len(list_distinct(list_concat(a.sh, b.sh))) AS BIGINT) AS jacc_ppm,
        x.mhs AS m1, y.mhs AS m2
      FROM sh a JOIN sh b ON a.doc_id < b.doc_id
      JOIN mh x ON x.doc_id = a.doc_id JOIN mh y ON y.doc_id = b.doc_id),
    scored AS (
      SELECT w.b, p.jacc_ppm,
        CAST(list_sum(list_transform(generate_series(1, 8), i ->
          CASE WHEN w.b = 64 THEN (CASE WHEN p.m1[i] = p.m2[i] THEN 1 ELSE 0 END)
               ELSE (CASE WHEN p.m1[i] % (CAST(1 AS BIGINT) << w.b)
                          = p.m2[i] % (CAST(1 AS BIGINT) << w.b)
                     THEN 1 ELSE 0 END) END)) AS BIGINT) AS coll
      FROM pairs p CROSS JOIN widths w),
    est AS (SELECT b, jacc_ppm,
        CASE WHEN b = 64 THEN coll * 1000000 // 8
             ELSE GREATEST(0, coll * (CAST(1 AS BIGINT) << b) - 8) * 1000000
                  // (8 * ((CAST(1 AS BIGINT) << b) - 1)) END AS est_ppm
      FROM scored)
    SELECT b, CAST(COUNT(*) AS BIGINT) AS n_pairs,
      CAST(SUM(jacc_ppm) // COUNT(*) AS BIGINT) AS mean_exact_ppm,
      CAST(SUM(est_ppm) // COUNT(*) AS BIGINT) AS mean_est_ppm,
      CAST(SUM(ABS(est_ppm - jacc_ppm)) // COUNT(*) AS BIGINT) AS mean_abs_err_ppm,
      CAST(MAX(ABS(est_ppm - jacc_ppm)) AS BIGINT) AS max_abs_err_ppm
    FROM est GROUP BY b ORDER BY b"""))

  // ---------------------------------------------------------------- d54
  // DUP-AWARE SAMPLING AUDIT — the bias a doc-uniform sample inherits
  // from duplication: template families are over-represented BY COUNT,
  // so a naive 10% sample over-weights exactly the content dedup exists
  // to down-weight. Content-uniform sampling picks ONE representative
  // per d07 cluster (min scrambled hash, singletons represent
  // themselves), and the audit compares the two samples' duplicate-mass
  // share per cluster-size bucket: the naive sample's dup share matches
  // the corpus's (by construction), the content sample's collapses each
  // family to one doc. `one_per_cluster` pins the representative
  // invariant in-result. Scale: cluster labels come from the shared
  // capped generator + CC; everything after is one size join and one
  // aggregate — the representative choice is a per-cluster window over
  // cluster-sized groups, never corpus-wide.
  private val d54 = QueryDef(
    "d54_dup_aware_sampling",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val pairs = simhashPairs(s, dir)
      val labels = Tables.withShuffle(s, 8) {
        graft.operators.ConnectedComponents.label(pairs)
      }
      pairs.unpersist()
      val clustered = docs(s, dir).select(col("doc_id"))
        .join(labels.select(col("node").as("doc_id"), col("comp")), Seq("doc_id"), "left")
        .select(col("doc_id"), coalesce(col("comp"), col("doc_id")).as("cluster"))
        .localCheckpoint()
      val sizes = clustered.groupBy(col("cluster")).agg(count(lit(1)).as("csz"))
      val rep = clustered
        .withColumn("h", expr(strHashExpr("CAST(doc_id AS STRING)")))
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("cluster")).orderBy(col("h"), col("doc_id"))))
        .filter(col("rn") === 1)
        .select(col("doc_id"), lit(true).as("content"))
      val tagged = clustered.join(sizes, Seq("cluster"))
        .withColumn("naive",
          expr(s"${strHashExpr("CAST(doc_id AS STRING)")} % 10") === 0)
        .join(rep, Seq("doc_id"), "left")
        .withColumn("content", coalesce(col("content"), lit(false)))
        .withColumn("bucket", expr(
          """CASE WHEN csz = 1 THEN 'a_singleton' WHEN csz <= 3 THEN 'b_2_3'
                  WHEN csz <= 7 THEN 'c_4_7' ELSE 'd_8_plus' END"""))
      def agg(g: org.apache.spark.sql.RelationalGroupedDataset) = g.agg(
        countDistinct(col("cluster")).as("n_clusters"),
        count(lit(1)).as("n_docs"),
        sum(when(col("naive"), 1L).otherwise(0L)).as("naive_sampled"),
        sum(when(col("content"), 1L).otherwise(0L)).as("content_sampled"),
        sum(when(col("naive") && col("csz") >= 2, 1L).otherwise(0L)).as("nd"),
        sum(when(col("content") && col("csz") >= 2, 1L).otherwise(0L)).as("cd"))
      def finish(df: org.apache.spark.sql.DataFrame) = df.select(
        col("bucket"), col("n_clusters"), col("n_docs"),
        col("naive_sampled"), col("content_sampled"),
        expr("""CASE WHEN naive_sampled > 0
                THEN nd * 1000000 DIV naive_sampled ELSE 0L END""").as("naive_dup_ppm"),
        expr("""CASE WHEN content_sampled > 0
                THEN cd * 1000000 DIV content_sampled ELSE 0L END""").as("content_dup_ppm"),
        (col("content_sampled") === col("n_clusters")).as("one_per_cluster"))
      val perBucket = finish(agg(tagged.groupBy(col("bucket"))))
      val total = finish(agg(tagged.withColumn("bucket", lit("z_total"))
        .groupBy(col("bucket"))))
      perBucket.unionByName(total).orderBy(col("bucket"))
    },
    Some(s"""WITH RECURSIVE $simhashCteDuck,
    ${simhashPairsCte("p")},
    ${undirectedCte("e", "p")},
    $reachCte,
    comp AS (SELECT node, LEAST(node, MIN(reach)) AS comp FROM r GROUP BY node),
    cl AS (SELECT d.doc_id, COALESCE(c.comp, d.doc_id) AS cluster
           FROM documents d LEFT JOIN comp c ON d.doc_id = c.node),
    sz AS (SELECT cluster, COUNT(*) AS csz FROM cl GROUP BY 1),
    rep AS (SELECT doc_id, TRUE AS content FROM (
        SELECT doc_id, ROW_NUMBER() OVER (PARTITION BY cluster
          ORDER BY ${strHashSql("CAST(doc_id AS VARCHAR)")}, doc_id) AS rn
        FROM cl) WHERE rn = 1),
    tg AS (SELECT cl.doc_id, cl.cluster, sz.csz,
             ${strHashSql("CAST(cl.doc_id AS VARCHAR)")} % 10 = 0 AS naive,
             COALESCE(rep.content, FALSE) AS content,
             CASE WHEN sz.csz = 1 THEN 'a_singleton' WHEN sz.csz <= 3 THEN 'b_2_3'
                  WHEN sz.csz <= 7 THEN 'c_4_7' ELSE 'd_8_plus' END AS bucket
           FROM cl JOIN sz USING (cluster) LEFT JOIN rep USING (doc_id)),
    ag AS (
      SELECT bucket, COUNT(DISTINCT cluster) AS n_clusters, COUNT(*) AS n_docs,
        SUM(CASE WHEN naive THEN 1 ELSE 0 END) AS naive_sampled,
        SUM(CASE WHEN content THEN 1 ELSE 0 END) AS content_sampled,
        SUM(CASE WHEN naive AND csz >= 2 THEN 1 ELSE 0 END) AS nd,
        SUM(CASE WHEN content AND csz >= 2 THEN 1 ELSE 0 END) AS cd
      FROM tg GROUP BY bucket
      UNION ALL
      SELECT 'z_total', COUNT(DISTINCT cluster), COUNT(*),
        SUM(CASE WHEN naive THEN 1 ELSE 0 END),
        SUM(CASE WHEN content THEN 1 ELSE 0 END),
        SUM(CASE WHEN naive AND csz >= 2 THEN 1 ELSE 0 END),
        SUM(CASE WHEN content AND csz >= 2 THEN 1 ELSE 0 END)
      FROM tg)
    SELECT bucket, CAST(n_clusters AS BIGINT) AS n_clusters,
      CAST(n_docs AS BIGINT) AS n_docs,
      CAST(naive_sampled AS BIGINT) AS naive_sampled,
      CAST(content_sampled AS BIGINT) AS content_sampled,
      CAST(CASE WHEN naive_sampled > 0
           THEN nd * 1000000 // naive_sampled ELSE 0 END AS BIGINT) AS naive_dup_ppm,
      CAST(CASE WHEN content_sampled > 0
           THEN cd * 1000000 // content_sampled ELSE 0 END AS BIGINT) AS content_dup_ppm,
      content_sampled = n_clusters AS one_per_cluster
    FROM ag ORDER BY bucket"""))

  // ---------------------------------------------------------------- d55
  // TRANSITIVITY AUDIT — the number behind the entire chain-hazard arc
  // (d38's coherence, d42's adversarial chains, d52's bridge
  // stability): near-duplicate similarity is NOT transitive, yet CC
  // grouping acts as if it were. Every wedge a–b–c in the pair graph
  // is checked at its endpoints: CLOSED (a–c is itself a candidate
  // pair), OPEN-NEAR (a–c within Hamming 6 but missed by the
  // bucket prefilter — d41's recall gap, measured directly), or
  // OPEN-FAR (a genuine chain artifact: co-clustered by reachability
  // while being dissimilar — what d33's soft weights exist for). The
  // endpoint classification costs two hash joins against the signature
  // table — no text is re-read and no sampling is needed, so there are
  // no silent caps. Scale: wedge endpoints are Σdeg² over CAPPED
  // buckets (the d39-priced quantity), deduped before classification.
  private val d55 = QueryDef(
    "d55_transitivity_audit",
    (s, dir) => {
      // signature index read, STILL localCheckpointed: the open-endpoint
      // chain reads sh twice and the r21 paired A/B on the bare parquet
      // read regressed +0.8 s — the materialization is what the plan
      // needs here, the index just makes producing it cheap
      val sh = simhashIndex(s, dir).localCheckpoint()
      val pairs = simhashPairs(s, dir)
      val und = pairs.select(col("id1").as("a"), col("id2").as("b"))
        .unionByName(pairs.select(col("id2").as("a"), col("id1").as("b")))
      val l = und.select(col("a"), col("b"))
      val r = und.select(col("b").as("bb"), col("a").as("c"))
      val endpoints = l.join(r, col("b") === col("bb") && col("a") < col("c"))
        .select(col("a"), col("c")).distinct()
        .localCheckpoint()
      val closed = endpoints.join(
        pairs.select(col("id1").as("a"), col("id2").as("c")), Seq("a", "c"),
        "left_semi")
      val open = endpoints.join(
        pairs.select(col("id1").as("a"), col("id2").as("c")), Seq("a", "c"),
        "left_anti")
        .join(sh.select(col("doc_id").as("a"), col("simhash").as("ha")), Seq("a"))
        .join(sh.select(col("doc_id").as("c"), col("simhash").as("hc")), Seq("c"))
        .withColumn("near", expr("bit_count(ha ^ hc) <= 6"))
      val counts = endpoints.agg(count(lit(1)).as("n_endpoint_pairs"))
        .crossJoin(broadcast(closed.agg(count(lit(1)).as("n_closed"))))
        .crossJoin(broadcast(open.agg(
          count(lit(1)).as("n_open"),
          coalesce(sum(when(col("near"), 1L).otherwise(0L)), lit(0L))
            .as("n_open_near"))))
        .crossJoin(broadcast(pairs.agg(count(lit(1)).as("n_pairs"))))
      pairs.unpersist()
      counts.select(col("n_pairs"), col("n_endpoint_pairs"), col("n_closed"),
        expr("n_closed * 1000000 DIV n_endpoint_pairs").as("closed_ppm"),
        col("n_open"), col("n_open_near"),
        expr("""CASE WHEN n_open > 0
                THEN n_open_near * 1000000 DIV n_open ELSE 0L END""")
          .as("open_near_ppm"),
        (col("n_open") - col("n_open_near")).as("n_chain_artifacts"))
    },
    Some(s"""WITH $simhashCteDuck,
    ${simhashPairsCte("p")},
    und AS (SELECT id1 AS a, id2 AS b FROM p UNION ALL SELECT id2, id1 FROM p),
    ep AS (SELECT DISTINCT l.a, r.a AS c
           FROM und l JOIN und r ON l.b = r.b AND l.a < r.a),
    closed AS (SELECT COUNT(*) AS n_closed FROM ep
               WHERE EXISTS (SELECT 1 FROM p WHERE p.id1 = ep.a AND p.id2 = ep.c)),
    open_ AS (SELECT ep.a, ep.c FROM ep
              WHERE NOT EXISTS (SELECT 1 FROM p WHERE p.id1 = ep.a AND p.id2 = ep.c)),
    oc AS (SELECT COUNT(*) AS n_open,
             COALESCE(SUM(CASE WHEN bit_count(xor(x.simhash, y.simhash)) <= 6
                 THEN 1 ELSE 0 END), 0) AS n_open_near
           FROM open_ JOIN sh x ON x.doc_id = open_.a
           JOIN sh y ON y.doc_id = open_.c),
    tot AS (SELECT COUNT(*) AS n_pairs FROM p),
    nep AS (SELECT COUNT(*) AS n_endpoint_pairs FROM ep)
    SELECT CAST(n_pairs AS BIGINT) AS n_pairs,
      CAST(n_endpoint_pairs AS BIGINT) AS n_endpoint_pairs,
      CAST(n_closed AS BIGINT) AS n_closed,
      CAST(n_closed * 1000000 // n_endpoint_pairs AS BIGINT) AS closed_ppm,
      CAST(n_open AS BIGINT) AS n_open,
      CAST(n_open_near AS BIGINT) AS n_open_near,
      CAST(CASE WHEN n_open > 0 THEN n_open_near * 1000000 // n_open
           ELSE 0 END AS BIGINT) AS open_near_ppm,
      CAST(n_open - n_open_near AS BIGINT) AS n_chain_artifacts
    FROM tot CROSS JOIN nep CROSS JOIN closed CROSS JOIN oc"""))

  // ---------------------------------------------------------------- d56
  // RESIDUAL-DUPLICATION AUDIT — the post-DEPLOYMENT metric the
  // detector-design family (d35 agreement, d36 threshold sweep, d41
  // recall pricing) stops short of: RUN the SimHash dedup pass (drop
  // the higher-id endpoint of every capped candidate pair — the d06/d08
  // apply rule, reading the shared persisted edge index), then measure
  // how much dup-grade similarity SURVIVES among the survivors using
  // the INDEPENDENT detector (d02's MinHash bands, exact-Jaccard
  // verified at the 0.7 bar, integer-exact: |∩|·10 ≥ |∪|·7). Because
  // the drop rule removes an endpoint of every pair the SimHash side
  // SAW, every surviving dup pair is by construction a pair the
  // deployed detector structurally missed — so b_after's rate IS the
  // detector-miss mass an SLA would track, and z_verdict's
  // residual_share_ppm is the number that decides whether a second,
  // orthogonal pass earns its compute. Universe = docs with ≥3 tokens
  // (the shingle-able set) so before/after rates are comparable.
  // Scale: the pass reads the persisted index; each measurement is one
  // d02-shaped capped band join — no new quadratic term anywhere.
  private val d56 = QueryDef(
    "d56_residual_dup_audit",
    (s, dir) => {
      // the deployed dedup pass (higher-id endpoint of every pair drops)
      val dropped = simhashPairs(s, dir).select(col("id2").as("doc_id"))
        .distinct().localCheckpoint()
      // the independent detector: MinHash bands + exact Jaccard ≥ 0.7.
      // Takes an ALREADY-MATERIALIZED frame (cached sh / a localCheckpoint
      // of its survivor anti-join) — an inner cache()/unpersist() here
      // would evict the caller's shared `sh` on the first call (d IS sh)
      // and defeat the one-shingle-pass design (ADVICE r19).
      // `cand` = the capped band-candidate pairs of the matching
      // signature frame (the persisted index for the before pass;
      // recomputed over index-minus-dropped for the survivors — band
      // sizes and sub-splits change once docs drop, so the after pass
      // can NOT be a subset selection of the before pairs)
      def dupStats(base: org.apache.spark.sql.DataFrame,
          cand: org.apache.spark.sql.DataFrame) = {
        val pairs = cand
          .join(base.select(col("doc_id").as("id1"), col("sh").as("sh1")), "id1")
          .join(base.select(col("doc_id").as("id2"), col("sh").as("sh2")), "id2")
          .filter(size(array_intersect(col("sh1"), col("sh2"))).cast("long") * 10L >=
            size(array_union(col("sh1"), col("sh2"))).cast("long") * 7L)
        val st = base.agg(count(lit(1)).as("n_docs"))
          .crossJoin(broadcast(pairs.agg(count(lit(1)).as("n_pairs"))))
          .withColumn("rate_ppm",
            expr("n_pairs * 1000000 DIV (n_docs * (n_docs - 1) DIV 2)"))
          .localCheckpoint() // 1 row
        st
      }
      // one shingle pass serves both measurements (the survivor set is
      // an anti-join of the same frame, not a second corpus scan);
      // the survivor frame is localCheckpointed so dupStats's several
      // consumers read a materialization, not a re-run of the anti-join
      val sh = shingled(s, dir).cache()
      sh.count()
      val before = dupStats(sh, bandCandIndex(s, dir, 2))
      val after = dupStats(
        sh.join(dropped, Seq("doc_id"), "left_anti").localCheckpoint(),
        bandCandPairs(
          minhashIndex(s, dir).join(dropped, Seq("doc_id"), "left_anti"), 2))
      val rowA = before.select(lit("a_before").as("stage"), col("n_docs"),
        col("n_pairs"), col("rate_ppm"), lit(null).cast("long").as("residual_share_ppm"))
      val rowB = after.select(lit("b_after").as("stage"), col("n_docs"),
        col("n_pairs"), col("rate_ppm"), lit(null).cast("long").as("residual_share_ppm"))
      val rowZ = before.select(col("n_docs").as("nb"), col("n_pairs").as("pb"))
        .crossJoin(broadcast(after.select(col("n_docs").as("na"), col("n_pairs").as("pa"))))
        .select(lit("z_verdict").as("stage"),
          (col("nb") - col("na")).as("n_docs"), // shingle-able docs the pass removed
          (col("pb") - col("pa")).as("n_pairs"), // dup pairs eliminated
          lit(null).cast("long").as("rate_ppm"),
          expr("CASE WHEN pb > 0 THEN pa * 1000000 DIV pb ELSE 0 END")
            .as("residual_share_ppm"))
      val out = rowA.unionByName(rowB).unionByName(rowZ).orderBy(col("stage"))
        .localCheckpoint()
      sh.unpersist()
      out
    },
    Some {
      def chain(src: String, x: String) = s"""sh$x AS (
        SELECT doc_id, $shingleSqlDuck AS sh FROM $src
        WHERE len(string_split(text, ' ')) >= 3),
    hs$x AS (SELECT doc_id, sh, list_transform(sh, x -> ${strHashSql("x")}) AS hs
             FROM sh$x),
    mh$x AS (SELECT doc_id, [${perm.map { case (a, b) =>
        s"list_min(list_transform(hs, h -> ($a * h + $b) % $HashMod))" }
        .mkString(", ")}] AS mhs FROM hs$x),
    bd$x AS (SELECT doc_id, CAST(i AS VARCHAR) || ':' || CAST(mhs[2 * i + 1] AS VARCHAR)
               || ':' || CAST(mhs[2 * i + 2] AS VARCHAR) AS band
             FROM mh$x CROSS JOIN generate_series(0, 3) AS g(i)),
    cd$x AS (SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
             FROM bd$x a JOIN bd$x b ON a.band = b.band AND a.doc_id < b.doc_id),
    dp$x AS (SELECT id1, id2 FROM cd$x
             JOIN sh$x p ON p.doc_id = id1 JOIN sh$x q ON q.doc_id = id2
             WHERE len(list_intersect(p.sh, q.sh)) * 10
               >= len(list_distinct(list_concat(p.sh, q.sh))) * 7),
    st$x AS (SELECT CAST((SELECT COUNT(*) FROM sh$x) AS BIGINT) AS n_docs,
                    CAST((SELECT COUNT(*) FROM dp$x) AS BIGINT) AS n_pairs)"""
      s"""WITH $simhashCteDuck,
    ${simhashPairsCte("sp")},
    dropped AS (SELECT DISTINCT id2 AS doc_id FROM sp),
    surv AS (SELECT d.* FROM documents d WHERE NOT EXISTS
               (SELECT 1 FROM dropped WHERE dropped.doc_id = d.doc_id)),
    ${chain("documents", "b")},
    ${chain("surv", "a")}
    SELECT * FROM (
      SELECT 'a_before' AS stage, n_docs, n_pairs,
        CAST(n_pairs * 1000000 // (n_docs * (n_docs - 1) // 2) AS BIGINT) AS rate_ppm,
        CAST(NULL AS BIGINT) AS residual_share_ppm
      FROM stb
      UNION ALL
      SELECT 'b_after', n_docs, n_pairs,
        CAST(n_pairs * 1000000 // (n_docs * (n_docs - 1) // 2) AS BIGINT), NULL
      FROM sta
      UNION ALL
      SELECT 'z_verdict', stb.n_docs - sta.n_docs, stb.n_pairs - sta.n_pairs, NULL,
        CAST(CASE WHEN stb.n_pairs > 0
             THEN sta.n_pairs * 1000000 // stb.n_pairs ELSE 0 END AS BIGINT)
      FROM stb CROSS JOIN sta
    ) ORDER BY stage"""
    })

  // ---------------------------------------------------------------- d57
  // DEDUP-DETECTOR FRONTIER — the d-family twin of s47's ANN decision
  // table: the four production near-dup detectors this family built
  // (MinHash banded 2×4 / 4×2 / 8×1 — d47's shape axis extended to the
  // recall extreme — and SimHash Hamming≤6 off the persisted edge
  // index) on ONE cost/recall plane against ONE reference truth, with
  // the Pareto `frontier` flag a deployment reads to pick its pass.
  // Cost = candidate pairs examined (the verify work a detector buys)
  // as ppm of the N·(N−1)/2 brute space over the shingle-able universe;
  // recall is against the union-of-verified truth (exact Jaccard ≥ 0.5,
  // integer-exact |∩|·2 ≥ |∪| — found-by-ANY-detector, the d47/d41
  // bounded-universe honesty: recall vs pairs NO detector can see is
  // not measurable without the quadratic scan this engine exists to
  // avoid, and the bound is stated, not hidden). SimHash candidates are
  // restricted to the same universe (both endpoints shingle-able) so
  // the four cost columns price the same verify join. Every candidate
  // generator is the house bucket-capped self-join (8×1's single-sig
  // bands are exactly where a template family would explode an uncapped
  // join); the z_union row carries the truth size and the union's own
  // cost. Scale: one signature table feeds all three band layouts, the
  // SimHash side reads the persisted index, and the verify joins are
  // candidate-volume — nothing quadratic in N.
  private val d57 = QueryDef(
    "d57_detector_frontier",
    (s, dir) => {
      val base = shingled(s, dir).cache()
      val nDocs = base.count()
      val pairSpace = nDocs * (nDocs - 1L) / 2L
      // all three band layouts derive from the persisted signature index;
      // band keys come from the SHARED bandExprFor (the spec-pinned
      // derivation — see bandKeysOfLayout)
      val mh = minhashIndex(s, dir)
      // rows = 2 and 4 read the persisted candidate indexes (shared with
      // d02/d47/d48/d56); rows = 1 is this query's own layout — computed
      // inline via the SAME shared generator (a persisted copy would be
      // a parquet round-trip with no second consumer)
      def candOf(rows: Int) =
        if (rows == 1) bandCandPairs(mh, 1) else bandCandIndex(s, dir, rows)
      val ids = base.select(col("doc_id"))
      val candSim = simhashPairs(s, dir)
        .join(ids.select(col("doc_id").as("id1")), Seq("id1"), "left_semi")
        .join(ids.select(col("doc_id").as("id2")), Seq("id2"), "left_semi")
        .select(col("id1"), col("id2"))
      val allCand = candOf(4).select(lit("mh_b2_r4").as("detector"), col("id1"), col("id2"))
        .unionByName(candOf(2).select(lit("mh_b4_r2").as("detector"), col("id1"), col("id2")))
        .unionByName(candOf(1).select(lit("mh_b8_r1").as("detector"), col("id1"), col("id2")))
        .unionByName(candSim.select(lit("sim_h6").as("detector"), col("id1"), col("id2")))
        .localCheckpoint() // candidate-volume, read three times
      val unionCand = allCand.select(col("id1"), col("id2")).distinct()
        .localCheckpoint()
      val truth = unionCand
        .join(base.select(col("doc_id").as("id1"), col("sh").as("sh1")), "id1")
        .join(base.select(col("doc_id").as("id2"), col("sh").as("sh2")), "id2")
        .filter(size(array_intersect(col("sh1"), col("sh2"))).cast("long") * 2L >=
          size(array_union(col("sh1"), col("sh2"))).cast("long"))
        .select(col("id1"), col("id2"))
        .localCheckpoint()
      val nTruthDf = broadcast(truth.agg(count(lit(1)).as("n_truth")))
      val perDet = allCand.groupBy(col("detector")).agg(count(lit(1)).as("n_cand"))
        .join(allCand.join(truth, Seq("id1", "id2"), "left_semi")
          .groupBy(col("detector")).agg(count(lit(1)).as("n_true")),
          Seq("detector"), "left")
        .withColumn("n_true", coalesce(col("n_true"), lit(0L)))
        .crossJoin(nTruthDf)
        .select(col("detector"), col("n_cand"),
          expr(s"n_cand * 1000000 DIV ${pairSpace}L").as("cost_ppm"),
          col("n_true"),
          expr("n_true * 1000000 DIV n_cand").as("precision_ppm"),
          expr("n_true * 1000000 DIV n_truth").as("recall_ppm"))
        .localCheckpoint() // 4 rows
      val other = perDet.select(col("cost_ppm").as("o_cost"),
        col("recall_ppm").as("o_recall"))
      val detRows = perDet.crossJoin(broadcast(other)) // 4×4
        .withColumn("dom",
          col("o_cost") <= col("cost_ppm") && col("o_recall") >= col("recall_ppm") &&
            (col("o_cost") < col("cost_ppm") || col("o_recall") > col("recall_ppm")))
        .groupBy(col("detector"), col("n_cand"), col("cost_ppm"), col("n_true"),
          col("precision_ppm"), col("recall_ppm"))
        .agg(bool_and(!col("dom")).as("frontier"))
      val zRow = unionCand.agg(count(lit(1)).as("n_cand"))
        .crossJoin(nTruthDf)
        .select(lit("z_union").as("detector"), col("n_cand"),
          expr(s"n_cand * 1000000 DIV ${pairSpace}L").as("cost_ppm"),
          col("n_truth").as("n_true"),
          expr("n_truth * 1000000 DIV n_cand").as("precision_ppm"),
          lit(1000000L).as("recall_ppm"),
          lit(null).cast("boolean").as("frontier"))
      val out = detRows.unionByName(zRow).orderBy(col("detector"))
        .localCheckpoint()
      base.unpersist()
      out
    },
    Some {
      def bandDuck(rows: Int) = {
        val idx = (1 to rows).map(j => s"CAST(mhs[$rows * i + $j] AS VARCHAR)")
          .mkString(" || ':' || ")
        s"CAST(i AS VARCHAR) || ':' || $idx"
      }
      s"""WITH $simhashCteDuck,
    sg AS (SELECT doc_id, $shingleSqlDuck AS sh FROM documents
           WHERE len(string_split(text, ' ')) >= 3),
    hs AS (SELECT doc_id, list_transform(sh, x -> ${strHashSql("x")}) AS hs FROM sg),
    mh AS (SELECT doc_id, [${perm.map { case (a, b) =>
        s"list_min(list_transform(hs, h -> ($a * h + $b) % $HashMod))" }
        .mkString(", ")}] AS mhs FROM hs),
    b4 AS (SELECT doc_id, ${bandDuck(4)} AS band
           FROM mh CROSS JOIN generate_series(0, 1) AS g(i)),
    b2 AS (SELECT doc_id, ${bandDuck(2)} AS band
           FROM mh CROSS JOIN generate_series(0, 3) AS g(i)),
    b1 AS (SELECT doc_id, ${bandDuck(1)} AS band
           FROM mh CROSS JOIN generate_series(0, 7) AS g(i)),
    c24 AS (SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
            FROM b4 a JOIN b4 b ON a.band = b.band AND a.doc_id < b.doc_id),
    c42 AS (SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
            FROM b2 a JOIN b2 b ON a.band = b.band AND a.doc_id < b.doc_id),
    c81 AS (SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
            FROM b1 a JOIN b1 b ON a.band = b.band AND a.doc_id < b.doc_id),
    csim AS (SELECT a.doc_id AS id1, b.doc_id AS id2
             FROM sh a JOIN sh b
               ON (a.simhash >> 8) = (b.simhash >> 8) AND a.doc_id < b.doc_id
             WHERE bit_count(xor(a.simhash, b.simhash)) <= 6
               AND EXISTS (SELECT 1 FROM sg WHERE sg.doc_id = a.doc_id)
               AND EXISTS (SELECT 1 FROM sg WHERE sg.doc_id = b.doc_id)),
    ac AS (SELECT 'mh_b2_r4' AS detector, id1, id2 FROM c24
           UNION ALL SELECT 'mh_b4_r2', id1, id2 FROM c42
           UNION ALL SELECT 'mh_b8_r1', id1, id2 FROM c81
           UNION ALL SELECT 'sim_h6', id1, id2 FROM csim),
    uc AS (SELECT DISTINCT id1, id2 FROM ac),
    tr AS (SELECT id1, id2 FROM uc
           JOIN sg x ON x.doc_id = id1 JOIN sg y ON y.doc_id = id2
           WHERE len(list_intersect(x.sh, y.sh)) * 2
             >= len(list_distinct(list_concat(x.sh, y.sh)))),
    nsg AS (SELECT COUNT(*) AS n FROM sg),
    ps AS (SELECT n * (n - 1) // 2 AS sp FROM nsg),
    pd AS (SELECT detector,
             CAST(COUNT(*) AS BIGINT) AS n_cand,
             CAST(COUNT(*) * 1000000 // (SELECT sp FROM ps) AS BIGINT) AS cost_ppm,
             CAST(SUM(CASE WHEN EXISTS (SELECT 1 FROM tr
                 WHERE tr.id1 = ac.id1 AND tr.id2 = ac.id2)
               THEN 1 ELSE 0 END) AS BIGINT) AS n_true
           FROM ac GROUP BY detector),
    pd2 AS (SELECT *,
              CAST(n_true * 1000000 // n_cand AS BIGINT) AS precision_ppm,
              CAST(n_true * 1000000 // (SELECT COUNT(*) FROM tr) AS BIGINT)
                AS recall_ppm
            FROM pd)
    SELECT detector, n_cand, cost_ppm, n_true, precision_ppm, recall_ppm,
      NOT EXISTS (SELECT 1 FROM pd2 o
                  WHERE o.cost_ppm <= pd2.cost_ppm
                    AND o.recall_ppm >= pd2.recall_ppm
                    AND (o.cost_ppm < pd2.cost_ppm
                         OR o.recall_ppm > pd2.recall_ppm)) AS frontier
    FROM pd2
    UNION ALL
    SELECT 'z_union', CAST((SELECT COUNT(*) FROM uc) AS BIGINT),
      CAST((SELECT COUNT(*) FROM uc) * 1000000 // (SELECT sp FROM ps) AS BIGINT),
      CAST((SELECT COUNT(*) FROM tr) AS BIGINT),
      CAST((SELECT COUNT(*) FROM tr) * 1000000
        // (SELECT COUNT(*) FROM uc) AS BIGINT),
      CAST(1000000 AS BIGINT), CAST(NULL AS BOOLEAN)
    ORDER BY detector"""
    })

  val defs: Seq[QueryDef] =
    Seq(d01, d02, d03, d04, d05, d06, d07, d08, d09, d10, d11, d12, d13, d14,
      d16, d17, d18, d19, d21, d22, d23, d25, d26, d27, d28, d30, d31, d32,
      d33, d34, d35, d36, d37, d38, d39, d40, d41, d42, d43, d44, d45, d46,
      d47, d48, d49, d50, d51, d52, d53, d54, d55, d56, d57, q170)
}
