package graft.analytics

import org.apache.spark.sql.functions._
import graft.multimodal.{MediaDecode, MediaRecord}
import Tables._

/**
 * Multimodal-column operators: media as opaque `binary` payloads with
 * typed metadata, joined against the embedding modality. m01 is pure
 * built-in expressions (oracle-checked); m02 exercises the typed
 * decode/feature-extract path ([[graft.multimodal.MediaDecode]] — the
 * codec is a documented stub, the Spark plumbing is real).
 *
 * Scale notes (100 TB): payload work is narrow per-row map (decode
 * parallelism = input partitioning, no shuffle); the metadata join keys
 * on the id with the small side broadcast.
 */
object Multimodal {

  // ---------------------------------------------------------------- m01
  // Payload metadata + cross-modal join: byte length and fake header of
  // the text-as-bytes payload, joined to the embedding's exact norm².
  private val m01 = QueryDef(
    "m01_payload_metadata",
    (s, dir) => {
      val d = docs(s, dir).select(
        col("doc_id"),
        col("lang"),
        octet_length(col("text")).cast("long").as("n_bytes"),
        hex(substring(col("text"), 1, 8).cast("binary")).as("header_hex"))
      val e = embs(s, dir)
        .withColumn("qv", expr(quantizeExpr("embedding")))
        .select(col("vec_id"), expr(dotExpr("qv", "qv")).as("emb_norm2"))
      d.join(e, col("doc_id") === col("vec_id"))
        .select(col("doc_id"), col("lang"), col("n_bytes"), col("header_hex"), col("emb_norm2"))
        .orderBy(col("doc_id"))
    },
    Some(s"""SELECT doc_id, lang,
      CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
      hex(encode(substr(text, 1, 8))) AS header_hex,
      ${dotSql(quantizeSql("embedding"), quantizeSql("embedding"))} AS emb_norm2
    FROM documents JOIN embeddings ON doc_id = vec_id ORDER BY doc_id"""))

  // ---------------------------------------------------------------- m02
  // Decode / feature-extract over binary payloads via the typed batched
  // mapPartitions path. The stub decoder's features are all decode-
  // invariant functions of the raw bytes (length, fake header bytes,
  // floored byte mean, length-derived frame count), so the oracle
  // recomputes every one of them byte-for-byte in SQL from
  // hex(encode(text)) — a full rows/schema/hash gate over the real
  // mapPartitions plumbing. Int fields cast to long (driver hash is
  // int64-typed).
  private val m02 = QueryDef(
    "m02_media_features",
    (s, dir) => {
      import s.implicits._
      val records = docs(s, dir)
        .select(
          col("doc_id").as("media_id"),
          expr("CASE WHEN doc_id % 3 = 0 THEN 'image' WHEN doc_id % 3 = 1 THEN 'audio' ELSE 'video' END").as("kind"),
          col("text").cast("binary").as("payload"))
        .as[MediaRecord]
      MediaDecode.features(records)
        .toDF()
        .select(col("media_id"), col("kind"), col("n_bytes"),
          col("width").cast("long").as("width"),
          col("height").cast("long").as("height"),
          col("avg_byte"),
          col("n_frames").cast("long").as("n_frames"))
        .orderBy(col("media_id"))
    },
    Some("""WITH h AS (
      SELECT doc_id, hex(encode(text)) AS ph,
             CAST(octet_length(encode(text)) AS BIGINT) AS nb
      FROM documents),
    b AS (SELECT doc_id, ph, unnest(range(0, nb)) AS i FROM h),
    v AS (SELECT doc_id, i,
            (strpos('0123456789ABCDEF', substr(ph, CAST(i*2+1 AS INT), 1)) - 1) * 16
          + (strpos('0123456789ABCDEF', substr(ph, CAST(i*2+2 AS INT), 1)) - 1) AS byte
          FROM b),
    agg AS (SELECT doc_id,
              FLOOR(CAST(SUM(byte) AS DOUBLE) / COUNT(*)) AS avg_byte,
              MAX(CASE WHEN i = 0 THEN byte END) AS b0,
              MAX(CASE WHEN i = 1 THEN byte END) AS b1
            FROM v GROUP BY doc_id)
    SELECT h.doc_id AS media_id,
      CASE WHEN h.doc_id % 3 = 0 THEN 'image'
           WHEN h.doc_id % 3 = 1 THEN 'audio' ELSE 'video' END AS kind,
      h.nb AS n_bytes,
      CAST(1 + COALESCE(agg.b0 % 128, 0) AS BIGINT) AS width,
      CAST(1 + COALESCE(agg.b1 % 128, 0) AS BIGINT) AS height,
      COALESCE(agg.avg_byte, 0.0) AS avg_byte,
      CAST(CASE WHEN h.doc_id % 3 = 2 THEN h.nb // 100 + 1 ELSE 1 END AS BIGINT) AS n_frames
    FROM h LEFT JOIN agg ON h.doc_id = agg.doc_id
    ORDER BY media_id"""))

  // ---------------------------------------------------------------- m03
  // Frame sampling over binary payloads: treat the payload as fixed-width
  // 32-byte frames (64 hex chars), sample every 4th frame, and fingerprint
  // each sampled frame — the video frame-sample plumbing (stride, index,
  // per-frame feature) with a deterministic "decoder" (hex slices) instead
  // of a codec. Narrow per-row explode: no shuffle until the final sort;
  // at 100 TB decode parallelism is the input partitioning.
  private val m03 = QueryDef(
    "m03_frame_sample",
    (s, dir) => {
      // hex payload materialized in its own projection — referenced from
      // inside the per-frame lambda, so it must not re-encode per frame
      val hexed = docs(s, dir)
        .select(col("doc_id").as("media_id"), hex(col("text").cast("binary")).as("ph"))
        .withColumn("n_frames", expr("length(ph) DIV 64"))
        .filter(col("n_frames") >= 1)
      hexed
        .select(col("media_id"), col("ph"),
          explode(expr("sequence(0L, n_frames - 1, 4L)")).as("frame_idx"))
        .withColumn("frame", expr("substring(ph, CAST(frame_idx * 64 + 1 AS INT), 64)"))
        .select(col("media_id"), col("frame_idx"),
          expr(strHashExpr("frame")).as("frame_hash"))
        .orderBy(col("media_id"), col("frame_idx"))
    },
    Some(s"""WITH ph AS (
      SELECT doc_id AS media_id, hex(encode(text)) AS ph FROM documents),
    nf AS (SELECT media_id, ph, CAST(length(ph) // 64 AS BIGINT) AS n_frames
           FROM ph WHERE length(ph) >= 64),
    ix AS (SELECT media_id, ph, unnest(range(0, n_frames, 4)) AS frame_idx FROM nf),
    fr AS (SELECT media_id, frame_idx,
             substring(ph, CAST(frame_idx * 64 + 1 AS INT), 64) AS frame
           FROM ix)
    SELECT media_id, frame_idx, ${strHashSql("frame")} AS frame_hash
    FROM fr ORDER BY media_id, frame_idx"""))

  // ---------------------------------------------------------------- m04
  // Resize: nearest-neighbor downsample of every payload to a fixed
  // 16-byte thumbnail (sample position i ← floor(i·len/16)) plus its
  // fingerprint — the image-resize plumbing shape (fixed output geometry
  // from variable input geometry) with byte sampling standing in for a
  // pixel kernel. Pure per-row projection: no shuffle, no UDF.
  private def resizeConcat(floorDiv: String): String =
    (0 until 16).map { i =>
      s"substring(ph, CAST((($i * n_bytes) $floorDiv 16) * 2 + 1 AS INT), 2)"
    }.mkString(" || ")

  private val m04 = QueryDef(
    "m04_resize_thumbnail",
    (s, dir) => {
      val hexed = docs(s, dir)
        .select(col("doc_id").as("media_id"), hex(col("text").cast("binary")).as("ph"))
        .withColumn("n_bytes", expr("length(ph) DIV 2"))
        .filter(col("n_bytes") >= 16)
      hexed
        .withColumn("thumb_hex", expr(resizeConcat("DIV")))
        .select(col("media_id"), col("thumb_hex"),
          expr(strHashExpr("thumb_hex")).as("thumb_hash"))
        .orderBy(col("media_id"))
    },
    Some(s"""WITH ph AS (
      SELECT doc_id AS media_id, hex(encode(text)) AS ph,
             octet_length(encode(text)) AS n_bytes
      FROM documents),
    r AS (SELECT media_id, ${resizeConcat("//")} AS thumb_hex
          FROM ph WHERE n_bytes >= 16)
    SELECT media_id, thumb_hex, ${strHashSql("thumb_hex")} AS thumb_hash
    FROM r ORDER BY media_id"""))

  // ---------------------------------------------------------------- m05
  // Perceptual-hash near-dup: a 16-bit signature over m04's fixed-geometry
  // thumbnail (one bit per thumbnail byte — parity of the byte's
  // cross-engine hash, standing in for the brightness-vs-mean bit of a
  // real aHash), bucketed by the signature's high 12 bits so only
  // same-bucket pairs are compared, then verified with exact Hamming
  // distance ≤ 2. The media twin of d05's SimHash pipeline: narrow
  // per-row signature → one equi-join on the bucket key — candidate
  // count tracks collisions, never N².
  private def sigExpr(hashOf: Int => String): String =
    (0 until 16).map { i =>
      s"(CASE WHEN ${hashOf(i)} % 2 = 1 THEN ${1 << i} ELSE 0 END)"
    }.mkString(" + ")

  private val m05 = QueryDef(
    "m05_phash_neardup",
    (s, dir) => {
      val hexed = docs(s, dir)
        .select(col("doc_id").as("media_id"), hex(col("text").cast("binary")).as("ph"))
        .withColumn("n_bytes", expr("length(ph) DIV 2"))
        .filter(col("n_bytes") >= 16)
        .withColumn("thumb_hex", expr(resizeConcat("DIV")))
      // materialize the signatures before the self-join: both join sides
      // would otherwise re-run the 16-hash thumbnail pipeline (join
      // branches share no work in Spark — same lesson as d07's pairs)
      val sigs = hexed
        .select(col("media_id"),
          expr(sigExpr(i => strHashExpr(s"substring(thumb_hex, ${2 * i + 1}, 2)")))
            .cast("long").as("sig"))
        .withColumn("bucket", expr("sig DIV 16"))
        .cache()
      sigs.select(col("bucket"), col("media_id").as("id1"), col("sig").as("s1"))
        .join(sigs.select(col("bucket").as("bucket2"), col("media_id").as("id2"), col("sig").as("s2")),
          col("bucket") === col("bucket2") && col("id1") < col("id2"))
        .withColumn("hamming", expr("bit_count(s1 ^ s2)").cast("long"))
        .filter(col("hamming") <= 2)
        .select(col("id1"), col("id2"), col("hamming"))
        .orderBy(col("id1"), col("id2"))
      // the |docs|-int sig cache is left to LRU eviction rather than
      // paying a result checkpoint to free it early
    },
    Some(s"""WITH ph AS (
      SELECT doc_id AS media_id, hex(encode(text)) AS ph,
             octet_length(encode(text)) AS n_bytes
      FROM documents),
    th AS (SELECT media_id, ${resizeConcat("//")} AS thumb_hex
           FROM ph WHERE n_bytes >= 16),
    sg AS (SELECT media_id,
             CAST(${sigExpr(i => strHashSql(s"substr(thumb_hex, ${2 * i + 1}, 2)"))} AS BIGINT) AS sig
           FROM th),
    sb AS (SELECT media_id, sig, sig // 16 AS bucket FROM sg)
    SELECT a.media_id AS id1, b.media_id AS id2,
      CAST(bit_count(xor(a.sig, b.sig)) AS BIGINT) AS hamming
    FROM sb a JOIN sb b ON a.bucket = b.bucket AND a.media_id < b.media_id
    WHERE bit_count(xor(a.sig, b.sig)) <= 2
    ORDER BY id1, id2"""))

  // ---------------------------------------------------------------- m06
  // Chunk-level payload dedup: fixed 32-byte chunks of every payload
  // hashed and matched ACROSS documents — sub-document deduplication,
  // the content-defined-chunking shape storage dedup and diff-transfer
  // systems use (fixed-width chunks stand in for a rolling-boundary
  // chunker; the pipeline — chunk → hash → global chunk index → per-doc
  // shared ratio — is identical). Per source: how many chunks exist and
  // how many also appear in some OTHER document. One explode + two hash
  // aggregates + one broadcast-able join on the chunk hash.
  private val m06 = QueryDef(
    "m06_chunk_dedup",
    (s, dir) => {
      val chunks = docs(s, dir)
        .select(col("doc_id"), col("source"), hex(col("text").cast("binary")).as("ph"))
        .withColumn("n_chunks", expr("length(ph) DIV 64"))
        .filter(col("n_chunks") >= 1)
        .select(col("doc_id"), col("source"), col("ph"),
          explode(expr("sequence(0L, n_chunks - 1)")).as("ci"))
        .select(col("doc_id"), col("source"),
          expr(strHashExpr("substring(ph, CAST(ci * 64 + 1 AS INT), 64)")).as("ch"))
        .cache()
      val owners = chunks.groupBy(col("ch"))
        .agg(countDistinct(col("doc_id")).as("n_docs_with"))
      chunks.join(owners, "ch")
        .groupBy(col("source"))
        .agg(
          count(lit(1)).as("n_chunks"),
          sum(when(col("n_docs_with") > 1, 1L).otherwise(0L)).as("n_shared"))
        .orderBy(col("source"))
    },
    Some(s"""WITH ph AS (
      SELECT doc_id, source, hex(encode(text)) AS ph FROM documents),
    nc AS (SELECT doc_id, source, ph, CAST(length(ph) // 64 AS BIGINT) AS n_chunks
           FROM ph WHERE length(ph) >= 64),
    ch AS (SELECT doc_id, source,
             ${strHashSql("substring(ph, CAST(ci * 64 + 1 AS INT), 64)")} AS ch
           FROM nc, LATERAL unnest(range(0, n_chunks)) AS t(ci)),
    owners AS (SELECT ch, COUNT(DISTINCT doc_id) AS n_docs_with FROM ch GROUP BY ch)
    SELECT source, COUNT(*) AS n_chunks,
      CAST(SUM(CASE WHEN n_docs_with > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_shared
    FROM ch JOIN owners USING (ch)
    GROUP BY source ORDER BY source"""))

  // ---------------------------------------------------------------- m07
  // Payload byte entropy: per-document Shannon entropy of the byte
  // histogram, aggregated per source — the standard detector for
  // already-compressed/encrypted blobs (high entropy ⇒ don't recompress,
  // flag mislabeled media). Determinism discipline (t09/t10): log-probs
  // round to integer 1e-4 units, per-byte terms are exact integers
  // summed order-independently, and the source-level average is two IEEE
  // divisions by exact integers. The byte value is grouped as its
  // 2-hex-char slice directly — no hex→int conversion needed.
  private val m07 = QueryDef(
    "m07_payload_entropy",
    (s, dir) => {
      val counts = docs(s, dir)
        .select(col("doc_id"), col("source"), hex(col("text").cast("binary")).as("ph"))
        .withColumn("nb", expr("length(ph) DIV 2"))
        .filter(col("nb") >= 1)
        .select(col("doc_id"), col("source"), col("ph"),
          explode(expr("sequence(0L, nb - 1)")).as("bi"))
        .select(col("doc_id"), col("source"),
          expr("substring(ph, CAST(bi * 2 + 1 AS INT), 2)").as("b"))
        .groupBy(col("doc_id"), col("source"), col("b"))
        .agg(count(lit(1)).as("c"))
      val withN = counts
        .withColumn("n",
          sum(col("c")).over(org.apache.spark.sql.expressions.Window
            .partitionBy(col("doc_id"))))
      withN
        .withColumn("lpu",
          round(log(col("c").cast("double") / col("n")) * 10000).cast("long"))
        .groupBy(col("source"))
        .agg(
          countDistinct(col("doc_id")).as("n_docs"),
          sum(-col("c") * col("lpu")).as("su"),
          sum(col("c")).as("n_bytes"))
        .select(col("source"), col("n_docs"), col("n_bytes"),
          (col("su").cast("double") / col("n_bytes") / lit(10000.0)).as("avg_entropy"))
        .orderBy(col("source"))
    },
    Some("""WITH ph AS (
      SELECT doc_id, source, hex(encode(text)) AS ph,
             octet_length(encode(text)) AS nb
      FROM documents WHERE octet_length(encode(text)) >= 1),
    by AS (SELECT doc_id, source,
             substring(ph, CAST(bi * 2 + 1 AS INT), 2) AS b
           FROM ph, LATERAL unnest(range(0, nb)) AS t(bi)),
    cnt AS (SELECT doc_id, source, b, COUNT(*) AS c FROM by GROUP BY 1, 2, 3),
    wn AS (SELECT *, SUM(c) OVER (PARTITION BY doc_id) AS n FROM cnt),
    lp AS (SELECT *, CAST(round(ln(CAST(c AS DOUBLE) / n) * 10000) AS BIGINT) AS lpu
           FROM wn)
    SELECT source, COUNT(DISTINCT doc_id) AS n_docs,
      CAST(SUM(c) AS BIGINT) AS n_bytes,
      CAST(SUM(-c * lpu) AS DOUBLE) / CAST(SUM(c) AS BIGINT) / 10000.0 AS avg_entropy
    FROM lp GROUP BY source ORDER BY source"""))

  // ---------------------------------------------------------------- m08
  // Cross-modal retrieval: a query batch of documents (every 199th
  // doc_id — the "incoming requests" slice) hops to its embedding row,
  // finds the top-3 cosine neighbors in vector space, and returns each
  // neighbor joined back to its DOCUMENT metadata — the text→vector→text
  // round trip of a retrieval pipeline (RAG lookup shape). Exact int64
  // quantized cosine; rank ties broken by vec_id. The query side is tiny
  // by construction and broadcast; the corpus is scanned once; the final
  // metadata join is on the (top-k-pruned) neighbor ids.
  private val m08 = QueryDef(
    "m08_cross_modal_retrieval",
    (s, dir) => {
      val all = Similarity.withQuant(dir, s)
      val q = all.filter(col("vec_id") % 199 === 0)
        .select(col("vec_id").as("q_id"), col("qv").as("q_qv"), col("norm2").as("q_norm2"))
      val meta = docs(s, dir).select(col("doc_id"), col("source"), col("lang"))
      all.select(col("vec_id").as("c_id"), col("qv").as("c_qv"), col("norm2").as("c_norm2"))
        .join(broadcast(q), col("c_id") =!= col("q_id"))
        .withColumn("sim", cosine("q_qv", "q_norm2", "c_qv", "c_norm2"))
        .withColumn("rnk",
          row_number().over(org.apache.spark.sql.expressions.Window
            .partitionBy(col("q_id")).orderBy(col("sim").desc, col("c_id"))).cast("long"))
        .filter(col("rnk") <= 3)
        .join(meta, col("c_id") === col("doc_id"))
        .select(col("q_id"), col("rnk"), col("c_id").as("neighbor_id"),
          col("source"), col("lang"), round(col("sim"), 6).as("sim"))
        .orderBy(col("q_id"), col("rnk"))
    },
    Some(s"""WITH ${Similarity.quantCte},
    rk AS (
      SELECT a.vec_id AS q_id, b.vec_id AS neighbor_id, round(${Similarity.simSql}, 6) AS sim,
        ROW_NUMBER() OVER (PARTITION BY a.vec_id ORDER BY ${Similarity.simSql} DESC, b.vec_id) AS rnk
      FROM qn a JOIN qn b ON a.vec_id % 199 = 0 AND b.vec_id <> a.vec_id)
    SELECT q_id, rnk, neighbor_id, d.source, d.lang, sim
    FROM rk JOIN documents d ON d.doc_id = rk.neighbor_id
    WHERE rnk <= 3 ORDER BY q_id, rnk"""))

  // ---------------------------------------------------------------- m09
  // BINARY-FILE datasource — the real multimodal INGEST path: media
  // lands as opaque files (one blob per object), and `binaryFile` scans
  // them distributed with (path, modificationTime, length, content)
  // rows, `pathGlobFilter` + `recursiveFileLookup` doing the listing-
  // side pruning (a non-matching file is never opened — pushdown at the
  // file index, the cheapest filter there is). Harness setup writes 100
  // docs as <source>/doc_<id>.bin files plus a decoy README that the
  // glob must skip; the driver-side write loop is setup, not the
  // operator — at 100 TB the files already exist and the scan
  // parallelizes per-file. The query re-derives the id from the path
  // and fingerprints content (length, md5, head bytes) — byte-exact
  // against the oracle recomputing from the source table, proving the
  // payload survives the file round-trip ungarbled.
  private val m09 = QueryDef(
    "m09_binaryfile_scan",
    (s, dir) => {
      val root = java.nio.file.Paths.get(Tables.tmp("graft-m09-files"))
      java.nio.file.Files.createDirectories(root)
      graft.BenchSplit.setup {
        // deterministic harness corpus: doc_id < 100 (every sf has ≥500)
        docs(s, dir).filter(col("doc_id") < 100)
          .select(col("doc_id"), col("source"), col("text"))
          .collect() // 100 rows, bounded by the filter — setup, not the scan
          .foreach { r =>
            val d = root.resolve(r.getString(1))
            java.nio.file.Files.createDirectories(d)
            java.nio.file.Files.write(
              d.resolve(s"doc_${r.getLong(0)}.bin"),
              r.getString(2).getBytes(java.nio.charset.StandardCharsets.UTF_8))
          }
        java.nio.file.Files.write(root.resolve("README.txt"),
          "decoy — the glob filter must skip this".getBytes("UTF-8"))
      }
      s.read.format("binaryFile")
        .option("pathGlobFilter", "*.bin")
        .option("recursiveFileLookup", "true")
        .load(root.toString)
        .select(
          regexp_extract(col("path"), "doc_(\\d+)\\.bin$", 1).cast("long").as("doc_id"),
          regexp_extract(col("path"), "([^/]+)/doc_\\d+\\.bin$", 1).as("source"),
          col("length").as("n_bytes"),
          md5(col("content")).as("content_md5"),
          hex(substring(col("content"), 1, 4)).as("head_hex"))
        .orderBy(col("doc_id"))
    },
    Some("""SELECT doc_id, source,
      CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
      md5(text) AS content_md5,
      substring(hex(encode(text)), 1, 8) AS head_hex
    FROM documents WHERE doc_id < 100 ORDER BY doc_id"""))

  // ---------------------------------------------------------------- m10
  // STREAMING binaryFile ingest — m09's scan as the continuous front
  // door a media pipeline actually runs: new blobs land in a directory,
  // the file stream source lists them with the same glob-side pruning,
  // `maxFilesPerTrigger` paces admission (5 batches here), and
  // fingerprints flow through Spark's exactly-once parquet FILE sink
  // (checkpoint + output commit manifest). The read-back must be
  // byte-exact against the same oracle as m09 — proving the streaming
  // path loses/duplicates nothing across micro-batch boundaries. At
  // scale this is the ingest discipline: listing-side filter, bounded
  // per-batch admission, commit-protocol output.
  private val m10 = QueryDef(
    "m10_binaryfile_stream",
    (s, dir) => {
      val root = java.nio.file.Paths.get(Tables.tmp("graft-m10-files"))
      java.nio.file.Files.createDirectories(root)
      graft.BenchSplit.setup {
        docs(s, dir).filter(col("doc_id") < 100)
          .select(col("doc_id"), col("source"), col("text"))
          .collect() // 100 rows, bounded — setup, not the operator
          .foreach { r =>
            val d = root.resolve(r.getString(1))
            java.nio.file.Files.createDirectories(d)
            java.nio.file.Files.write(
              d.resolve(s"doc_${r.getLong(0)}.bin"),
              r.getString(2).getBytes(java.nio.charset.StandardCharsets.UTF_8))
          }
        java.nio.file.Files.write(root.resolve("README.txt"),
          "decoy — the glob filter must skip this".getBytes("UTF-8"))
      }
      val outDir = Tables.tmp("graft-m10-out")
      val ckpt = Tables.tmp("graft-m10-ckpt")
      // the file STREAM source wants an explicit schema; binaryFile's is
      // fixed (path, modificationTime, length, content)
      val binSchema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("path", org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("modificationTime", org.apache.spark.sql.types.TimestampType),
        org.apache.spark.sql.types.StructField("length", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("content", org.apache.spark.sql.types.BinaryType)))
      val fp = s.readStream.format("binaryFile")
        .schema(binSchema)
        .option("pathGlobFilter", "*.bin")
        .option("recursiveFileLookup", "true")
        .option("maxFilesPerTrigger", "20")
        .load(root.toString)
        .select(
          regexp_extract(col("path"), "doc_(\\d+)\\.bin$", 1).cast("long").as("doc_id"),
          regexp_extract(col("path"), "([^/]+)/doc_\\d+\\.bin$", 1).as("source"),
          col("length").as("n_bytes"),
          md5(col("content")).as("content_md5"),
          hex(substring(col("content"), 1, 4)).as("head_hex"))
      graft.streaming.drain(fp.writeStream
        .format("parquet")
        .option("path", outDir)
        .option("checkpointLocation", ckpt))
      s.read.parquet(outDir).orderBy(col("doc_id"))
    },
    Some("""SELECT doc_id, source,
      CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
      md5(text) AS content_md5,
      substring(hex(encode(text)), 1, 8) AS head_hex
    FROM documents WHERE doc_id < 100 ORDER BY doc_id"""))

  // ---------------------------------------------------------------- m11
  // CONTENT-DEFINED chunking — the rolling-boundary chunker m06's
  // fixed-width chunks stand in for: a position is a cut iff the rolling
  // hash of the 8-char window ending there ≡ 0 (mod 16). Boundaries
  // depend only on LOCAL window content, which is the property that
  // makes CDC dedup survive insertions (bytes shift, boundaries
  // re-synchronize; fixed-width chunking re-chunks everything after the
  // edit). Basic gear-style rule — production adds min/max clamps, which
  // need a sequential fold and don't change the plan shape. The boundary
  // scan is the native cdc_cuts rolling pass (O(len) per document); chunk
  // extraction is one HOF + explode + two hash aggregates; the chunk
  // index join is the m06 shape. Output per source: chunks, distinct
  // chunks, chunks shared across docs, exact char mass.
  private val m11 = QueryDef(
    "m11_cdc_chunking",
    (s, dir) => {
      // native O(len) rolling boundary scan (graft.functions.CdcCuts);
      // value-identical to the HOF form
      // filter(sequence(8, length(text)), i -> poly_hash(substring(text, i-7, 8)) % 16 = 0)
      // it replaced, which re-hashed an 8-char substring per position
      // under boxed lambdas — the m-family's heaviest per-row map
      val cuts = "cdc_cuts(text, 8, 16)"
      val bounds = s"array_sort(array_distinct(concat($cuts, array(length(text)))))"
      val chunks = docs(s, dir)
        .filter(length(col("text")) >= 8)
        .select(col("doc_id"), col("source"), expr(bounds).as("b"), col("text"))
        .select(col("doc_id"), col("source"), explode(expr(
          """transform(sequence(1, size(b)),
             j -> substring(text,
               (CASE WHEN j = 1 THEN 0 ELSE element_at(b, j - 1) END) + 1,
               element_at(b, j) - (CASE WHEN j = 1 THEN 0 ELSE element_at(b, j - 1) END)))""")).as("chunk"))
        .select(col("doc_id"), col("source"),
          expr(Tables.strHashExpr("chunk")).as("ch"),
          length(col("chunk")).cast("long").as("clen"))
        .cache()
      val owners = chunks.groupBy(col("ch"))
        .agg(countDistinct(col("doc_id")).as("n_docs_with"))
      val out = chunks.join(owners, "ch")
        .groupBy(col("source"))
        .agg(
          count(lit(1)).as("n_chunks"),
          countDistinct(col("ch")).as("n_distinct"),
          sum(when(col("n_docs_with") > 1, 1L).otherwise(0L)).as("n_shared"),
          sum(col("clen")).as("total_chars"))
        .orderBy(col("source"))
        .localCheckpoint()
      chunks.unpersist()
      out
    },
    Some(s"""WITH b AS (
      SELECT doc_id, source, text,
        list_sort(list_distinct(list_concat(
          list_filter(range(8, len(text) + 1),
            i -> ${Tables.strHashSql("substr(text, i - 7, 8)")} % 16 = 0),
          [len(text)]))) AS b
      FROM documents WHERE len(text) >= 8),
    ch AS (SELECT doc_id, source,
        ${Tables.strHashSql("chunk")} AS ch, CAST(len(chunk) AS BIGINT) AS clen
      FROM (SELECT doc_id, source, unnest(list_transform(range(1, len(b) + 1),
          j -> substr(text,
            (CASE WHEN j = 1 THEN 0 ELSE b[j - 1] END) + 1,
            b[j] - (CASE WHEN j = 1 THEN 0 ELSE b[j - 1] END)))) AS chunk
        FROM b)),
    owners AS (SELECT ch, COUNT(DISTINCT doc_id) AS n_docs_with FROM ch GROUP BY ch)
    SELECT source, COUNT(*) AS n_chunks,
      CAST(COUNT(DISTINCT c.ch) AS BIGINT) AS n_distinct,
      CAST(SUM(CASE WHEN n_docs_with > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_shared,
      CAST(SUM(clen) AS BIGINT) AS total_chars
    FROM ch c JOIN owners o ON o.ch = c.ch
    GROUP BY source ORDER BY source"""))

  // ---------------------------------------------------------------- m12
  // KEYFRAME SELECTION — shot-boundary detection over the sampled frame
  // stream: per frame a 16-bit perceptual signature (m05's parity-bit
  // recipe over 4-hex-char slices), a shot cut wherever the Hamming
  // distance to the PREVIOUS sampled frame reaches 9 bits, and one
  // keyframe (the shot's first frame) per shot — the dedup step video
  // curation runs before feature extraction, on m03's frame plumbing.
  // Plan: narrow per-row explode + signature map, ONE window partitioned
  // on media_id (high cardinality — no skew funnel) for the lag +
  // running-sum gaps-and-islands cut, one bounded per-shot aggregate; no
  // joins. At 100 TB per-asset frame counts are bounded by media length,
  // so the window state stays per-asset-small and parallelism is |assets|.
  private val m12 = QueryDef(
    "m12_keyframe_select",
    (s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("media_id")).orderBy(col("frame_idx"))
      docs(s, dir)
        .select(col("doc_id").as("media_id"), hex(col("text").cast("binary")).as("ph"))
        .withColumn("n_frames", expr("length(ph) DIV 64"))
        .filter(col("n_frames") >= 1)
        .select(col("media_id"), col("ph"),
          explode(expr("sequence(0L, n_frames - 1, 4L)")).as("frame_idx"))
        .withColumn("frame", expr("substring(ph, CAST(frame_idx * 64 + 1 AS INT), 64)"))
        .withColumn("sig",
          expr(sigExpr(i => strHashExpr(s"substring(frame, ${4 * i + 1}, 4)"))).cast("long"))
        .withColumn("prev_sig", lag(col("sig"), 1).over(w))
        .withColumn("cut",
          when(col("prev_sig").isNull ||
            expr("bit_count(prev_sig ^ sig) >= 9"), 1L).otherwise(0L))
        .withColumn("shot", sum(col("cut"))
          .over(w.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
            org.apache.spark.sql.expressions.Window.currentRow)))
        .groupBy(col("media_id"), col("shot"))
        .agg(
          min(col("frame_idx")).as("keyframe_idx"),
          count(lit(1)).as("n_frames"),
          min_by(col("sig"), col("frame_idx")).as("key_sig"))
        .orderBy(col("media_id"), col("shot"))
    },
    Some(s"""WITH ph AS (
      SELECT doc_id AS media_id, hex(encode(text)) AS ph FROM documents),
    nf AS (SELECT media_id, ph, CAST(length(ph) // 64 AS BIGINT) AS n_frames
           FROM ph WHERE length(ph) >= 64),
    ix AS (SELECT media_id, ph, unnest(range(0, n_frames, 4)) AS frame_idx FROM nf),
    fr AS (SELECT media_id, frame_idx,
             substring(ph, CAST(frame_idx * 64 + 1 AS INT), 64) AS frame
           FROM ix),
    sg AS (SELECT media_id, frame_idx,
             CAST(${sigExpr(i => strHashSql(s"substr(frame, ${4 * i + 1}, 4)"))} AS BIGINT) AS sig
           FROM fr),
    cut AS (SELECT media_id, frame_idx, sig,
             CASE WHEN lag(sig) OVER mw IS NULL
                    OR bit_count(xor(lag(sig) OVER mw, sig)) >= 9
                  THEN 1 ELSE 0 END AS cut
           FROM sg WINDOW mw AS (PARTITION BY media_id ORDER BY frame_idx)),
    sh AS (SELECT media_id, frame_idx, sig,
             SUM(cut) OVER (PARTITION BY media_id ORDER BY frame_idx
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS shot
           FROM cut)
    SELECT media_id, CAST(shot AS BIGINT) AS shot,
      MIN(frame_idx) AS keyframe_idx,
      COUNT(*) AS n_frames,
      arg_min(sig, frame_idx) AS key_sig
    FROM sh GROUP BY media_id, shot ORDER BY media_id, shot"""))

  // ---------------------------------------------------------------- m13
  // BYTE-HISTOGRAM NEAR-DUP — distribution-level payload similarity: two
  // payloads whose BYTE DISTRIBUTIONS nearly coincide are re-encodes /
  // padded variants of the same content even when their byte sequences
  // (m05's perceptual hash, m06's chunk hashes) diverge. Per payload one
  // 16-bin codepoint histogram (an explode + two-phase count aggregate —
  // no per-row HOF scan), then d06's LSH-bucket discipline in
  // distribution space: the bucket key is the COARSE SHAPE signature
  // (each bin's mass rounded to sixteenths of the length), candidates meet
  // only inside a (kind, shape) bucket — an equi-join, never all-pairs —
  // and the verify is integer-exact squared cosine (dot² ·10⁴ ≥
  // 0.98²·10⁴ · |h1|²|h2|², no sqrt, no floats). At 100 TB the histogram
  // is a mergeable per-payload sketch (16 longs) and the bucket join
  // costs only colliding shapes; boundary-straddling near-dups are the
  // documented LSH recall trade, same as d06/m05.
  private val m13 = QueryDef(
    "m13_byte_hist_neardup",
    (s, dir) => {
      val base = docs(s, dir).filter(col("n_chars") > 0).select(
        col("doc_id"),
        expr("CASE WHEN doc_id % 3 = 0 THEN 'image' WHEN doc_id % 3 = 1 THEN 'audio' ELSE 'video' END").as("kind"),
        col("text"))
      val hist = base
        .select(col("doc_id"), col("kind"),
          explode(expr("transform(split(text, ''), c -> ascii(c))")).as("c"))
        .groupBy(col("doc_id"), col("kind"), expr("c % 16").as("bin"))
        .agg(count(lit(1)).as("cnt"))
        .groupBy(col("doc_id"), col("kind"))
        .agg(map_from_entries(collect_list(struct(col("bin"), col("cnt")))).as("m"),
          sum(col("cnt")).as("len"))
        .select(col("doc_id"), col("kind"), col("len"),
          expr("transform(sequence(0, 15), b -> coalesce(element_at(m, b), 0L))").as("h"))
        .withColumn("norm2", expr(dotExpr("h", "h")))
        .withColumn("shape",
          expr("concat_ws(',', transform(h, v -> CAST(v * 16 DIV len AS STRING)))"))
        .cache()
      val l = hist.select(col("kind"), col("shape"), col("doc_id").as("id1"),
        col("h").as("h1"), col("norm2").as("n1"))
      val r = hist.select(col("kind").as("k2"), col("shape").as("s2"),
        col("doc_id").as("id2"), col("h").as("h2"), col("norm2").as("n2"))
      val out = l.join(r,
          col("kind") === col("k2") && col("shape") === col("s2") &&
            col("id1") < col("id2"))
        .withColumn("dot", expr(dotExpr("h1", "h2")))
        // 128-bit compare (DECIMAL(38,0) here, HUGEINT in the oracle):
        // dot² × 10⁴ exceeds int64 once a payload concentrates ~10k+ chars
        // in few bins — Spark would wrap silently while DuckDB errors,
        // diverging exactly on the largest payloads. Exact to ~10 MB docs.
        .withColumn("near",
          when(expr("CAST(dot AS DECIMAL(38,0)) * dot * 10000 >= " +
            "CAST(9604 AS DECIMAL(38,0)) * n1 * n2"), 1L).otherwise(0L))
        .groupBy(col("kind"))
        .agg(
          count(lit(1)).as("n_candidates"),
          sum(col("near")).as("n_near"),
          (sum(when(col("near") === 1L,
            (col("id1") * lit(1000003L) + col("id2")) % lit(HashMod))
            .otherwise(lit(0L))) % lit(HashMod)).as("pair_checksum"))
        .orderBy(col("kind"))
        .localCheckpoint()
      hist.unpersist()
      out
    },
    Some(s"""WITH h0 AS (
      SELECT doc_id,
        CASE WHEN doc_id % 3 = 0 THEN 'image'
             WHEN doc_id % 3 = 1 THEN 'audio' ELSE 'video' END AS kind,
        list_transform(generate_series(0, 15), b -> CAST(len(list_filter(
          list_transform(string_split(text, ''), c -> ord(c)),
          c -> c % 16 = b)) AS BIGINT)) AS h,
        len(string_split(text, '')) AS len
      FROM documents WHERE n_chars > 0),
    hist AS (SELECT doc_id, kind, h, len,
        ${dotSql("h", "h")} AS norm2,
        array_to_string(list_transform(h, v -> CAST(v * 16 // len AS VARCHAR)),
          ',') AS shape
      FROM h0),
    pairs AS (SELECT a.kind, a.doc_id AS id1, b.doc_id AS id2,
        ${dotSql("a.h", "b.h")} AS dot, a.norm2 AS n1, b.norm2 AS n2
      FROM hist a JOIN hist b
        ON a.kind = b.kind AND a.shape = b.shape AND a.doc_id < b.doc_id)
    SELECT kind, COUNT(*) AS n_candidates,
      CAST(SUM(CASE WHEN CAST(dot AS HUGEINT) * dot * 10000 >= CAST(9604 AS HUGEINT) * n1 * n2
               THEN 1 ELSE 0 END) AS BIGINT) AS n_near,
      CAST(SUM(CASE WHEN CAST(dot AS HUGEINT) * dot * 10000 >= CAST(9604 AS HUGEINT) * n1 * n2
               THEN (id1 * 1000003 + id2) % $HashMod ELSE 0 END)
           % $HashMod AS BIGINT) AS pair_checksum
    FROM pairs GROUP BY kind ORDER BY kind"""))

  // ---------------------------------------------------------------- m14
  // ASPECT-RATIO BUCKET PACKING — the image-training batch assembler
  // (SDXL-style aspect bucketing): group media by quantized aspect ratio
  // so a batch never mixes shapes, then pack each bucket into batches
  // under a fixed pixel budget — the multimodal twin of t15's token-
  // budget sequence packing. Geometry comes from the stub decoder
  // discipline (m02): deterministic cross-engine w/h derived from the
  // payload via poly_hash, so both engines pack identical shapes.
  // The packer is the concat-and-chunk trick: a running pixel sum per
  // (bucket, shard) ordered by media_id, batch = prior-mass DIV budget —
  // no loop, no state beyond the window. The SHARD term (media_id DIV
  // 256) is the scale design: a popular aspect bucket at 100 TB would
  // otherwise serialize into one window partition; fixed id-range shards
  // pack independently (exactly how a multi-worker loader shards) and
  // keep parallelism ∝ corpus size while staying deterministic. Output
  // per bucket: items, batches, pixel mass, worst batch, mean fill ppm,
  // and the exact (media → batch) assignment checksum.
  private val PxBudget = 1048576L // 1 Mpx per batch

  private val m14 = QueryDef(
    "m14_aspect_bucket_pack",
    (s, dir) => {
      val geo = docs(s, dir)
        .filter(length(col("text")) >= 16)
        .select(col("doc_id").as("media_id"),
          (lit(64L) + expr(strHashExpr("substring(text, 1, 8)")) % lit(449L)).as("w"),
          (lit(64L) + expr(strHashExpr("substring(text, 9, 8)")) % lit(449L)).as("h"))
        .select(col("media_id"), col("w"), col("h"),
          (col("w") * col("h")).as("px"),
          expr("w * 4 DIV h").as("bucket"),
          expr("media_id DIV 256").as("shard"))
      val wPack = org.apache.spark.sql.expressions.Window
        .partitionBy(col("bucket"), col("shard"))
        .orderBy(col("media_id"))
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.currentRow)
      val assigned = geo
        .withColumn("cum", sum(col("px")).over(wPack))
        .withColumn("batch", expr(s"(cum - px) DIV $PxBudget"))
      assigned
        .groupBy(col("bucket"), col("shard"), col("batch"))
        .agg(count(lit(1)).as("items"), sum(col("px")).as("bpx"),
          (sum((col("media_id") * lit(1000003L) + col("batch")) % lit(HashMod))
            % lit(HashMod)).as("ck"))
        .groupBy(col("bucket"))
        .agg(sum(col("items")).as("n_items"),
          count(lit(1)).as("n_batches"),
          sum(col("bpx")).as("total_px"),
          max(col("bpx")).as("max_batch_px"),
          expr(s"sum(bpx) * 1000000 DIV (count(1) * $PxBudget)").as("fill_ppm"),
          (sum(col("ck")) % lit(HashMod)).as("assign_checksum"))
        .orderBy(col("bucket"))
    },
    Some(s"""WITH geo AS (
      SELECT doc_id AS media_id,
        64 + ${strHashSql("substr(text, 1, 8)")} % 449 AS w,
        64 + ${strHashSql("substr(text, 9, 8)")} % 449 AS h
      FROM documents WHERE length(text) >= 16),
    b AS (SELECT media_id, w, h, w * h AS px,
            w * 4 // h AS bucket, media_id // 256 AS shard FROM geo),
    c AS (SELECT *, SUM(px) OVER (PARTITION BY bucket, shard ORDER BY media_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum FROM b),
    a AS (SELECT *, (cum - px) // $PxBudget AS batch FROM c),
    pb AS (SELECT bucket, shard, batch, COUNT(*) AS items,
             CAST(SUM(px) AS BIGINT) AS bpx,
             CAST(SUM((media_id * 1000003 + batch) % $HashMod) % $HashMod AS BIGINT) AS ck
           FROM a GROUP BY 1, 2, 3)
    SELECT bucket,
      CAST(SUM(items) AS BIGINT) AS n_items,
      COUNT(*) AS n_batches,
      CAST(SUM(bpx) AS BIGINT) AS total_px,
      CAST(MAX(bpx) AS BIGINT) AS max_batch_px,
      CAST(SUM(bpx) * 1000000 // (COUNT(*) * $PxBudget) AS BIGINT) AS fill_ppm,
      CAST(SUM(ck) % $HashMod AS BIGINT) AS assign_checksum
    FROM pb GROUP BY bucket ORDER BY bucket"""))

  // ---------------------------------------------------------------- m15
  // IMAGE–CAPTION ALIGNMENT GATE — the LAION/DataComp curation step:
  // score every (media payload, caption) pair with a dual-encoder
  // similarity and keep only pairs above a threshold, reporting yield.
  // CLIP's property is a SHARED space where matching content lands
  // together; the deterministic stand-in is one featurizer applied to
  // both sides (the stub-decoder discipline, m02): decode(payload) →
  // 16-bin token-hash histogram, caption → the same featurizer. An
  // as-crawled pair scores cos = 1 by construction; a scrape-swapped
  // caption scores at corpus-background content overlap (measured
  // 0.45–0.98, median 0.87 at sf0.01), so the cos ≥ 0.95 gate admits
  // every true pair and only the near-duplicate-content swaps — the
  // exact failure profile of the real gate. Half the pairs simulate
  // scrape errors (caption swapped with the id-neighbor); the output
  // groups by that ground truth so discrimination is measurable, but
  // the gate itself never sees the flag. Scoring is m13's integer
  // discipline: cos² compared by 128-bit cross-multiply (dot ≥ 0 —
  // histograms are counts), per-pair score as exact dot²·10⁶ DIV n₁n₂
  // ppm. Scale: the histogram is a mergeable 16-long sketch built ONCE
  // by one two-phase count aggregate (shuffle = 16 rows per doc, never
  // token volume) and joined twice (payload key, caption key — both
  // co-partitioned equi-joins); the verdict aggregate is bounded.
  private val ClipT2e4 = 9025L // gate: cos² ≥ 0.9025 (cos ≥ 0.95), ×10⁴

  private val m15 = QueryDef(
    "m15_clip_gate",
    (s, dir) => {
      val base = docsNarrow(s, dir).filter(col("n_chars") > 0)
      val hist = base
        .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
        .groupBy(col("doc_id"), expr("poly_hash(w) % 16").as("bin")).agg(count(lit(1)).as("cnt"))
        .groupBy(col("doc_id"))
        .agg(map_from_entries(collect_list(struct(col("bin"), col("cnt")))).as("m"))
        .select(col("doc_id"),
          expr("transform(sequence(0, 15), b -> coalesce(element_at(m, b), 0L))").as("v"))
        .withColumn("n2", expr(dotExpr("v", "v")))
      val img = hist.select(col("doc_id"), col("v").as("hv"), col("n2").as("hn"))
      val cap = hist.select(col("doc_id").as("cap_id"), col("v").as("cv"), col("n2").as("cn"))
      base.select(col("doc_id"),
          expr("""CASE WHEN doc_id % 4 < 2 THEN doc_id
                  WHEN doc_id % 2 = 0 THEN doc_id + 1 ELSE doc_id - 1 END""").as("cap_id"),
          (col("doc_id") % 4 < 2).as("aligned"))
        .join(img, Seq("doc_id")).join(cap, Seq("cap_id"))
        .withColumn("dot", expr(dotExpr("hv", "cv")))
        .withColumn("pass",
          expr(s"CAST(dot AS DECIMAL(38,0)) * dot * 10000 >= CAST($ClipT2e4 AS DECIMAL(38,0)) * hn * cn"))
        .withColumn("score2_ppm",
          expr("CAST(CAST(dot AS DECIMAL(38,0)) * dot * 1000000 DIV (CAST(hn AS DECIMAL(38,0)) * cn) AS BIGINT)"))
        .groupBy(col("aligned"))
        .agg(
          count(lit(1)).as("n_pairs"),
          sum(when(col("pass"), 1L).otherwise(0L)).as("n_pass"),
          sum(col("score2_ppm")).as("sum_score2_ppm"),
          (sum(when(col("pass"), col("doc_id") % HashMod).otherwise(0L)) % HashMod)
            .as("pass_checksum"))
        .withColumn("pass_ppm", expr("n_pass * 1000000 DIV n_pairs"))
        .orderBy(col("aligned"))
    },
    Some(s"""WITH hb AS (
      SELECT doc_id,
        list_transform(generate_series(0, 15), b -> CAST(len(list_filter(
          list_transform(string_split(text, ' '), t -> ${strHashSql("t")}),
          h -> h % 16 = b)) AS BIGINT)) AS v
      FROM documents WHERE n_chars > 0),
    hn AS (SELECT doc_id, v, ${dotSql("v", "v")} AS n2 FROM hb),
    im AS (SELECT doc_id, v AS hv, n2 AS hn FROM hn),
    cp AS (SELECT doc_id AS cap_id, v AS cv, n2 AS cn FROM hn),
    pr AS (SELECT d.doc_id,
             CASE WHEN d.doc_id % 4 < 2 THEN d.doc_id
                  WHEN d.doc_id % 2 = 0 THEN d.doc_id + 1
                  ELSE d.doc_id - 1 END AS cap_id,
             d.doc_id % 4 < 2 AS aligned
           FROM documents d WHERE d.n_chars > 0),
    sc AS (SELECT pr.aligned, pr.doc_id,
             ${dotSql("im.hv", "cp.cv")} AS dot, im.hn, cp.cn
           FROM pr JOIN im USING (doc_id) JOIN cp USING (cap_id))
    SELECT aligned, COUNT(*) AS n_pairs,
      CAST(SUM(CASE WHEN CAST(dot AS HUGEINT) * dot * 10000 >= CAST($ClipT2e4 AS HUGEINT) * hn * cn
               THEN 1 ELSE 0 END) AS BIGINT) AS n_pass,
      CAST(SUM(CAST(dot AS HUGEINT) * dot * 1000000 // (CAST(hn AS HUGEINT) * cn)) AS BIGINT)
        AS sum_score2_ppm,
      CAST(SUM(CASE WHEN CAST(dot AS HUGEINT) * dot * 10000 >= CAST($ClipT2e4 AS HUGEINT) * hn * cn
               THEN doc_id % $HashMod ELSE 0 END) % $HashMod AS BIGINT) AS pass_checksum,
      CAST(SUM(CASE WHEN CAST(dot AS HUGEINT) * dot * 10000 >= CAST($ClipT2e4 AS HUGEINT) * hn * cn
               THEN 1 ELSE 0 END) * 1000000 // COUNT(*) AS BIGINT) AS pass_ppm
    FROM sc GROUP BY 1 ORDER BY 1"""))

  // ---------------------------------------------------------------- m16
  // PAYLOAD-INTEGRITY QUARANTINE — the validation gate in front of every
  // decode stage: per payload, a priority-ordered reason battery
  // (declared-vs-actual length mismatch ≻ non-printable header ≻ too
  // short ≻ too long ≻ ok), rolled up per (kind, reason) with an id
  // checksum pinning exactly which payloads each cell holds. Transfer
  // faults are PLANTED deterministically on the as-generated corpus
  // (m15's contrast discipline — the clean tables carry no corruption
  // to catch): doc_id ≡ 0 (mod 23) payloads arrive truncated to 16
  // bytes with the declared length intact (the mid-transfer cut →
  // meta_mismatch), doc_id ≡ 0 (mod 29, not caught above) arrive with
  // a zeroed 4-byte header (the bad-frame write → bad_header); the
  // too_short/too_long tails are organic data. Every rule is a pure
  // per-row codegen expression — one scan, one map-side-combined
  // aggregate, no join, no window; unchanged at 100 TB.
  private val m16 = QueryDef(
    "m16_payload_quarantine",
    (s, dir) => {
      val rec = docs(s, dir).select(
        col("doc_id"),
        expr("CASE WHEN doc_id % 3 = 0 THEN 'image' WHEN doc_id % 3 = 1 THEN 'audio' ELSE 'video' END").as("kind"),
        col("n_chars").as("declared"),
        expr("""CASE WHEN doc_id % 23 = 0 THEN substring(text, 1, 16)
                WHEN doc_id % 29 = 0 THEN concat('0000', substring(text, 5))
                ELSE text END""").as("payload"))
      rec
        .withColumn("reason", expr(s"""CASE
          WHEN length(payload) <> declared THEN 'meta_mismatch'
          WHEN substring(payload, 1, 1) NOT RLIKE '^[a-z]' THEN 'bad_header'
          WHEN length(payload) < 64 THEN 'too_short'
          WHEN length(payload) > 512 THEN 'too_long'
          ELSE 'ok' END"""))
        .groupBy(col("kind"), col("reason"))
        .agg(count(lit(1)).as("n"),
          (sum(col("doc_id") % HashMod) % HashMod).as("id_checksum"))
        .orderBy(col("kind"), col("reason"))
    },
    Some(s"""WITH rec AS (
      SELECT doc_id,
        CASE WHEN doc_id % 3 = 0 THEN 'image'
             WHEN doc_id % 3 = 1 THEN 'audio' ELSE 'video' END AS kind,
        n_chars AS declared,
        CASE WHEN doc_id % 23 = 0 THEN substr(text, 1, 16)
             WHEN doc_id % 29 = 0 THEN '0000' || substr(text, 5)
             ELSE text END AS payload
      FROM documents),
    v AS (SELECT kind, doc_id,
        CASE WHEN length(payload) <> declared THEN 'meta_mismatch'
             WHEN NOT regexp_matches(substr(payload, 1, 1), '^[a-z]') THEN 'bad_header'
             WHEN length(payload) < 64 THEN 'too_short'
             WHEN length(payload) > 512 THEN 'too_long'
             ELSE 'ok' END AS reason
      FROM rec)
    SELECT kind, reason, COUNT(*) AS n,
      CAST(SUM(doc_id % $HashMod) % $HashMod AS BIGINT) AS id_checksum
    FROM v GROUP BY 1, 2 ORDER BY 1, 2"""))

  // ---------------------------------------------------------------- m17
  // VISION-TOKEN BUDGET — the "what will this corpus cost the vision
  // encoder" audit a multimodal training plan starts from: per image,
  // the ViT patch-token count at native resolution for two patch sizes
  // (tokens_p = ⌈w/p⌉·⌈h/p⌉, p ∈ {14, 16} — the ViT-L/ViT-B grid), then
  // per aspect bucket the total/max token mass and how native-resolution
  // tiling prices against the fixed resize-to-448 path (448/14 = 32² =
  // 1024 tokens/image, the classic fixed-budget encoder). Geometry is
  // m14's derivation verbatim (same hash, same bucket key), so this
  // audit describes exactly the shapes m14 packs. Everything is pure
  // per-row integer expressions (⌈a/b⌉ as (a + b − 1) DIV b) + one
  // map-side-combined aggregate — one scan, no join, unchanged at
  // 100 TB.
  private val m17 = QueryDef(
    "m17_vision_token_budget",
    (s, dir) => {
      val geo = docs(s, dir)
        .filter(length(col("text")) >= 16)
        .select(col("doc_id").as("media_id"),
          (lit(64L) + expr(strHashExpr("substring(text, 1, 8)")) % lit(449L)).as("w"),
          (lit(64L) + expr(strHashExpr("substring(text, 9, 8)")) % lit(449L)).as("h"))
        .select(col("media_id"), col("w"), col("h"),
          (col("w") * col("h")).as("px"),
          expr("w * 4 DIV h").as("bucket"),
          expr("((w + 13) DIV 14) * ((h + 13) DIV 14)").as("tok14"),
          expr("((w + 15) DIV 16) * ((h + 15) DIV 16)").as("tok16"))
      geo.groupBy(col("bucket"))
        .agg(count(lit(1)).as("n_images"),
          sum(col("px")).as("total_px"),
          sum(col("tok14")).as("tokens_p14"),
          sum(col("tok16")).as("tokens_p16"),
          max(col("tok14")).as("max_tokens_p14"),
          expr("(sum(tok14) * 1000000) DIV (count(1) * 1024)").as("native_vs_fixed_ppm"))
        .orderBy(col("bucket"))
    },
    Some(s"""WITH geo AS (
      SELECT doc_id AS media_id,
        64 + ${strHashSql("substr(text, 1, 8)")} % 449 AS w,
        64 + ${strHashSql("substr(text, 9, 8)")} % 449 AS h
      FROM documents WHERE length(text) >= 16),
    b AS (SELECT media_id, w, h, w * h AS px, w * 4 // h AS bucket,
            ((w + 13) // 14) * ((h + 13) // 14) AS tok14,
            ((w + 15) // 16) * ((h + 15) // 16) AS tok16
          FROM geo)
    SELECT bucket, COUNT(*) AS n_images,
      CAST(SUM(px) AS BIGINT) AS total_px,
      CAST(SUM(tok14) AS BIGINT) AS tokens_p14,
      CAST(SUM(tok16) AS BIGINT) AS tokens_p16,
      CAST(MAX(tok14) AS BIGINT) AS max_tokens_p14,
      CAST((SUM(tok14) * 1000000) // (COUNT(*) * 1024) AS BIGINT) AS native_vs_fixed_ppm
    FROM b GROUP BY bucket ORDER BY bucket"""))

  // ---------------------------------------------------------------- m18
  // CAPTION-DUP TRIAGE — the cross-modal refinement of text dedup: in
  // crawled image–text corpora, records with an identical caption split
  // into two very different populations — TRUE duplicates (same caption,
  // same payload bytes: re-fetches of one asset, delete all but one) and
  // VARIANTS (same caption, different payload — resizes, re-encodes,
  // alt-text templates: deleting them drops distinct images). Caption-
  // only dedup cannot tell them apart; this audit joins caption identity
  // with payload identity and sizes both classes. The corpus has no
  // natural re-crawls (every text is unique — probed at both SFs), so
  // the capture channel is planted deterministically (the m16/q154/t42
  // discipline): docs with id ≡ 0 (mod 7) gained a byte-identical
  // re-fetch, ids ≡ 0 (mod 13, not mod 7) a resized one. Plan: one
  // generator explode (≤ 2 captures/doc), one caption-fp hash aggregate
  // with an exact payload distinct count (two-level partial aggregate),
  // one 2-row rollup — no join, unchanged at 100 TB.
  private val m18 = QueryDef(
    "m18_template_captions",
    (s, dir) => {
      val rec = docs(s, dir).select(col("doc_id"), explode(expr(
          """CASE WHEN doc_id % 7 = 0 THEN array(text, text)
             WHEN doc_id % 13 = 0 THEN array(text, concat(text, '_resized'))
             ELSE array(text) END""")).as("payload_src"),
          col("text"))
        .select(col("doc_id"),
          expr(strHashExpr("text")).as("caption_fp"),
          expr(strHashExpr("payload_src")).as("payload_hash"))
      rec.groupBy(col("caption_fp"))
        .agg(count(lit(1)).as("n_copies"),
          countDistinct(col("payload_hash")).as("n_payloads"),
          min(col("doc_id")).as("rep_doc"))
        .filter(col("n_copies") >= 2)
        .withColumn("class",
          when(col("n_payloads") === 1, "true_dup").otherwise("variant"))
        .groupBy(col("class"))
        .agg(count(lit(1)).as("n_groups"),
          sum(col("n_copies")).as("n_docs"),
          (sum(col("rep_doc") % HashMod) % HashMod).as("rep_checksum"))
        .orderBy(col("class"))
    },
    Some(s"""WITH rec AS (
      SELECT doc_id, text, text AS payload_src FROM documents
      UNION ALL
      SELECT doc_id, text, text FROM documents WHERE doc_id % 7 = 0
      UNION ALL
      SELECT doc_id, text, text || '_resized' FROM documents
      WHERE doc_id % 7 <> 0 AND doc_id % 13 = 0),
    h AS (SELECT doc_id, ${strHashSql("text")} AS caption_fp,
            ${strHashSql("payload_src")} AS payload_hash FROM rec),
    g AS (SELECT caption_fp, COUNT(*) AS n_copies,
            COUNT(DISTINCT payload_hash) AS n_payloads,
            MIN(doc_id) AS rep_doc
          FROM h GROUP BY caption_fp HAVING COUNT(*) >= 2)
    SELECT CASE WHEN n_payloads = 1 THEN 'true_dup' ELSE 'variant' END AS class,
      COUNT(*) AS n_groups, CAST(SUM(n_copies) AS BIGINT) AS n_docs,
      CAST(SUM(rep_doc % $HashMod) % $HashMod AS BIGINT) AS rep_checksum
    FROM g GROUP BY 1 ORDER BY class"""))

  // ---------------------------------------------------------------- m19
  // MULTIMODAL TRAINING-MIX MANIFEST — the m-family's q170: the
  // per-modality quota a multimodal training run actually samples from,
  // composed from the REGISTERED rules verbatim (the d35 audit
  // discipline): (a) m16's integrity quarantine admits items — planted
  // faults never reach dedup; (b) m13's byte-histogram near-dup rule
  // (cos ≥ 0.98 inside the (kind, coarse-shape) bucket) drops the
  // higher-id side of every near pair among ADMITTED items; (c) each
  // survivor is priced in encoder tokens by its modality — images at
  // m17's ViT-L 14-px grid over m14's hash-derived geometry, audio at
  // 4 bytes/token (a 4-byte-frame codec stub), video at 64 tokens per
  // 32-byte frame (the m02 frame-count discipline) — and the manifest
  // reports each modality's exact quota share (DECIMAL/HUGEINT
  // division, the q170 pattern). Plan: one quarantine scan, m13's
  // bucketed self-join over the admitted subset, one anti-join, one
  // 3-row rollup + scalar crossJoin.
  private val m19 = QueryDef(
    "m19_training_mix_manifest",
    (s, dir) => {
      val rec = docs(s, dir).select(
        col("doc_id"),
        expr("CASE WHEN doc_id % 3 = 0 THEN 'image' WHEN doc_id % 3 = 1 THEN 'audio' ELSE 'video' END").as("kind"),
        col("n_chars").as("declared"),
        expr("""CASE WHEN doc_id % 23 = 0 THEN substring(text, 1, 16)
                WHEN doc_id % 29 = 0 THEN concat('0000', substring(text, 5))
                ELSE text END""").as("payload"),
        col("text"))
        .withColumn("ok", expr("""
          length(payload) = declared AND substring(payload, 1, 1) RLIKE '^[a-z]'
          AND length(payload) >= 64 AND length(payload) <= 512"""))
      val kept = rec.filter(col("ok")).select(col("doc_id"), col("kind"), col("text"))
      // m13's histogram + coarse-shape bucket, over admitted items only
      val hist = kept
        .select(col("doc_id"), col("kind"),
          explode(expr("transform(split(text, ''), c -> ascii(c))")).as("c"))
        .groupBy(col("doc_id"), col("kind"), expr("c % 16").as("bin"))
        .agg(count(lit(1)).as("cnt"))
        .groupBy(col("doc_id"), col("kind"))
        .agg(map_from_entries(collect_list(struct(col("bin"), col("cnt")))).as("m"),
          sum(col("cnt")).as("len"))
        .select(col("doc_id"), col("kind"), col("len"),
          expr("transform(sequence(0, 15), b -> coalesce(element_at(m, b), 0L))").as("h"))
        .withColumn("norm2", expr(dotExpr("h", "h")))
        .withColumn("shape",
          expr("concat_ws(',', transform(h, v -> CAST(v * 16 DIV len AS STRING)))"))
        .cache()
      val drops = hist.select(col("kind"), col("shape"), col("doc_id").as("id1"),
          col("h").as("h1"), col("norm2").as("n1"))
        .join(hist.select(col("kind").as("k2"), col("shape").as("s2"),
            col("doc_id").as("id2"), col("h").as("h2"), col("norm2").as("n2")),
          col("kind") === col("k2") && col("shape") === col("s2") &&
            col("id1") < col("id2"))
        .withColumn("dot", expr(dotExpr("h1", "h2")))
        .filter(expr("CAST(dot AS DECIMAL(38,0)) * dot * 10000 >= " +
          "CAST(9604 AS DECIMAL(38,0)) * n1 * n2"))
        .select(col("id2").as("drop_id")).distinct()
      val survivors = kept.join(drops, col("doc_id") === col("drop_id"), "left_anti")
        .withColumn("len", length(col("text")).cast("long"))
        .withColumn("tokens", expr(s"""CASE
          WHEN kind = 'image' THEN
            (((64 + ${strHashExpr("substring(text, 1, 8)")} % 449) + 13) DIV 14)
            * (((64 + ${strHashExpr("substring(text, 9, 8)")} % 449) + 13) DIV 14)
          WHEN kind = 'audio' THEN (len + 3) DIV 4
          ELSE ((len + 31) DIV 32) * 64 END"""))
      // 3 rows, materialized: the quota crossJoin below reads perKind
      // TWICE (rows + the Σtoken_cost scalar), and without this the
      // whole quarantine + near-dup self-join + anti-join chain re-ran
      // for the scalar side (r21 plan audit)
      val perKind = rec.groupBy(col("kind"))
        .agg(count(lit(1)).as("n_raw"),
          sum(when(!col("ok"), 1L).otherwise(0L)).as("n_quarantined"))
        .join(survivors.groupBy(col("kind"))
            .agg(count(lit(1)).as("n_kept"), sum(col("tokens")).as("token_cost")),
          Seq("kind"))
        .withColumn("n_dropped_neardup",
          col("n_raw") - col("n_quarantined") - col("n_kept"))
        .localCheckpoint()
      val out = perKind
        .crossJoin(perKind.agg(sum(col("token_cost")).as("tc")))
        .select(col("kind"), col("n_raw"), col("n_quarantined"),
          col("n_dropped_neardup"), col("n_kept"), col("token_cost"),
          expr("""CAST(CAST(token_cost AS DECIMAL(38,0)) * 1000000
                  DIV CAST(tc AS DECIMAL(38,0)) AS BIGINT)""").as("quota_share_ppm"))
        .orderBy(col("kind"))
        .localCheckpoint()
      hist.unpersist()
      out
    },
    Some(s"""WITH rec AS (
      SELECT doc_id,
        CASE WHEN doc_id % 3 = 0 THEN 'image'
             WHEN doc_id % 3 = 1 THEN 'audio' ELSE 'video' END AS kind,
        n_chars AS declared,
        CASE WHEN doc_id % 23 = 0 THEN substr(text, 1, 16)
             WHEN doc_id % 29 = 0 THEN '0000' || substr(text, 5)
             ELSE text END AS payload,
        text
      FROM documents),
    v AS (SELECT *, length(payload) = declared
            AND regexp_matches(substr(payload, 1, 1), '^[a-z]')
            AND length(payload) >= 64 AND length(payload) <= 512 AS ok
          FROM rec),
    kept AS (SELECT doc_id, kind, text FROM v WHERE ok),
    h0 AS (SELECT doc_id, kind, text,
        list_transform(generate_series(0, 15), b -> CAST(len(list_filter(
          list_transform(string_split(text, ''), c -> ord(c)),
          c -> c % 16 = b)) AS BIGINT)) AS h,
        len(string_split(text, '')) AS len
      FROM kept),
    hist AS (SELECT doc_id, kind, h, len,
        ${dotSql("h", "h")} AS norm2,
        array_to_string(list_transform(h, v -> CAST(v * 16 // len AS VARCHAR)),
          ',') AS shape
      FROM h0),
    drops AS (SELECT DISTINCT b.doc_id AS drop_id
      FROM hist a JOIN hist b
        ON a.kind = b.kind AND a.shape = b.shape AND a.doc_id < b.doc_id
      WHERE CAST(${dotSql("a.h", "b.h")} AS HUGEINT) * ${dotSql("a.h", "b.h")} * 10000
            >= CAST(9604 AS HUGEINT) * a.norm2 * b.norm2),
    surv AS (SELECT k.doc_id, k.kind, length(k.text) AS len, k.text
             FROM kept k WHERE k.doc_id NOT IN (SELECT drop_id FROM drops)),
    costed AS (SELECT kind,
        CASE WHEN kind = 'image' THEN
          (((64 + ${strHashSql("substr(text, 1, 8)")} % 449) + 13) // 14)
          * (((64 + ${strHashSql("substr(text, 9, 8)")} % 449) + 13) // 14)
        WHEN kind = 'audio' THEN (len + 3) // 4
        ELSE ((len + 31) // 32) * 64 END AS tokens
      FROM surv),
    pk AS (SELECT r.kind,
        COUNT(*) AS n_raw,
        SUM(CASE WHEN NOT ok THEN 1 ELSE 0 END) AS n_quarantined
      FROM v r GROUP BY 1),
    sk AS (SELECT kind, COUNT(*) AS n_kept, SUM(tokens) AS token_cost
           FROM costed GROUP BY 1),
    j AS (SELECT pk.kind, n_raw, n_quarantined,
            n_raw - n_quarantined - n_kept AS n_dropped_neardup,
            n_kept, token_cost
          FROM pk JOIN sk USING (kind))
    SELECT kind, CAST(n_raw AS BIGINT) AS n_raw,
      CAST(n_quarantined AS BIGINT) AS n_quarantined,
      CAST(n_dropped_neardup AS BIGINT) AS n_dropped_neardup,
      CAST(n_kept AS BIGINT) AS n_kept,
      CAST(token_cost AS BIGINT) AS token_cost,
      CAST((CAST(token_cost AS HUGEINT) * 1000000)
           // (SELECT SUM(token_cost) FROM j) AS BIGINT) AS quota_share_ppm
    FROM j ORDER BY kind"""))

  // ---------------------------------------------------------------- m20
  // STREAMING MEDIA QUARANTINE ROUTER — m16's integrity battery moved to
  // where it belongs in production: the ingest boundary. Payload files
  // arrive as a paced binaryFile stream (m10's source discipline), each
  // micro-batch joins the STATIC metadata table for declared sizes
  // (q111's stream-static broadcast shape — metadata is catalog-sized),
  // runs the priority-ordered reason battery on the decoded bytes, and
  // SPLITS: clean payloads to the accepted sink, faulted ones to the
  // dead-letter sink with their reason (q164's content-DLQ router, the
  // m-family edition). Both sinks write batchId-keyed DYNAMIC partition
  // overwrites (q173's idempotence rule), so an at-least-once replay
  // re-lands its own partition instead of double-counting quarantined
  // media. Transfer faults are planted deterministically at file-write
  // time (truncation → meta_mismatch, zeroed header → bad_header —
  // m16's contrast pairs, here applied to real bytes on disk). The
  // oracle is the batch battery over the same planted subset: streaming
  // admission must be indistinguishable from a one-shot batch audit.
  private val m20 = QueryDef(
    "m20_stream_quarantine",
    (s, dir) => {
      val root = java.nio.file.Paths.get(Tables.tmp("graft-m20-files"))
      java.nio.file.Files.createDirectories(root)
      graft.BenchSplit.setup {
        docs(s, dir).filter(col("doc_id") < 120)
          .select(col("doc_id"), col("text"))
          .collect() // 120 rows, bounded — setup, not the operator
          .foreach { r =>
            val id = r.getLong(0)
            val text = r.getString(1)
            val payload =
              if (id % 23 == 0) text.substring(0, 16)
              else if (id % 29 == 0) "0000" + text.substring(4)
              else text
            val kind = (id % 3) match {
              case 0 => "image"; case 1 => "audio"; case _ => "video" }
            val d = root.resolve(kind)
            java.nio.file.Files.createDirectories(d)
            java.nio.file.Files.write(d.resolve(s"media_$id.bin"),
              payload.getBytes(java.nio.charset.StandardCharsets.UTF_8))
          }
      }
      val meta = docs(s, dir).filter(col("doc_id") < 120)
        .select(col("doc_id"), col("n_chars").as("declared"))
      val accDir = Tables.tmp("graft-m20-acc")
      val dlqDir = Tables.tmp("graft-m20-dlq")
      val binSchema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("path", org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("modificationTime", org.apache.spark.sql.types.TimestampType),
        org.apache.spark.sql.types.StructField("length", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("content", org.apache.spark.sql.types.BinaryType)))
      val stream = s.readStream.format("binaryFile")
        .schema(binSchema)
        .option("pathGlobFilter", "*.bin")
        .option("recursiveFileLookup", "true")
        .option("maxFilesPerTrigger", "40")
        .load(root.toString)
        .select(
          regexp_extract(col("path"), "media_(\\d+)\\.bin$", 1).cast("long").as("doc_id"),
          regexp_extract(col("path"), "([^/]+)/media_\\d+\\.bin$", 1).as("kind"),
          col("content").cast("string").as("payload"))
      graft.streaming.drain(stream.writeStream
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, bid: Long) =>
          val verdict = batch
            .join(broadcast(meta), Seq("doc_id"))
            .withColumn("reason", expr("""CASE
              WHEN length(payload) <> declared THEN 'meta_mismatch'
              WHEN substring(payload, 1, 1) NOT RLIKE '^[a-z]' THEN 'bad_header'
              WHEN length(payload) < 64 THEN 'too_short'
              WHEN length(payload) > 512 THEN 'too_long'
              ELSE 'ok' END"""))
            .select(col("doc_id"), col("kind"), col("reason"),
              lit(bid).as("batch_id"))
            .localCheckpoint()
          verdict.filter(col("reason") === "ok")
            .write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id").parquet(accDir)
          verdict.filter(col("reason") =!= "ok")
            .write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id").parquet(dlqDir)
          ()
        }
        .option("checkpointLocation", Tables.tmp("graft-m20-ckpt")))
      s.read.parquet(accDir).withColumn("sink", lit("accepted"))
        .unionByName(s.read.parquet(dlqDir).withColumn("sink", lit("dlq")))
        .groupBy(col("sink"), col("kind"), col("reason"))
        .agg(count(lit(1)).as("n"),
          (sum(col("doc_id") % HashMod) % HashMod).as("id_checksum"))
        .orderBy(col("sink"), col("kind"), col("reason"))
    },
    Some(s"""WITH rec AS (
      SELECT doc_id,
        CASE WHEN doc_id % 3 = 0 THEN 'image'
             WHEN doc_id % 3 = 1 THEN 'audio' ELSE 'video' END AS kind,
        n_chars AS declared,
        CASE WHEN doc_id % 23 = 0 THEN substr(text, 1, 16)
             WHEN doc_id % 29 = 0 THEN '0000' || substr(text, 5)
             ELSE text END AS payload
      FROM documents WHERE doc_id < 120),
    v AS (SELECT kind, doc_id,
        CASE WHEN length(payload) <> declared THEN 'meta_mismatch'
             WHEN NOT regexp_matches(substr(payload, 1, 1), '^[a-z]') THEN 'bad_header'
             WHEN length(payload) < 64 THEN 'too_short'
             WHEN length(payload) > 512 THEN 'too_long'
             ELSE 'ok' END AS reason
      FROM rec)
    SELECT CASE WHEN reason = 'ok' THEN 'accepted' ELSE 'dlq' END AS sink,
      kind, reason, COUNT(*) AS n,
      CAST(SUM(doc_id % $HashMod) % $HashMod AS BIGINT) AS id_checksum
    FROM v GROUP BY 1, 2, 3 ORDER BY 1, 2, 3"""))

  // ---------------------------------------------------------------- m21
  // CROSS-KIND CONTENT DEDUP — the duplicate class every within-kind
  // detector (m05 perceptual hash, m13 byte histograms: both bucket
  // inside `kind`) is structurally blind to: the SAME content shipped
  // under different container formats (an image re-muxed into a video
  // frame, audio re-wrapped — here: kind-specific magic headers of
  // DIFFERENT lengths around the same body). The pipeline is the real
  // one: demux (strip the per-kind container by its known header
  // length), fingerprint the remaining body (poly_hash + a second
  // independent reversed-body hash), and AGGREGATE per fingerprint —
  // per-group kind counts and the cross-kind verdict come from one
  // groupBy, NO pair enumeration, so a viral payload duplicated 10⁶×
  // costs one combine chain instead of 10¹² pairs (the simhashPairs
  // lesson applied from the start). Re-encoded copies are PLANTED
  // deterministically (doc_id % 53 → re-wrapped under the next kind,
  // m16's contrast discipline) since the corpus ships no byte-exact
  // dups; the `pure` column pins that every reported group is a single
  // body (second hash agrees), i.e. zero fingerprint collisions.
  private val m21 = QueryDef(
    "m21_crosskind_dup",
    (s, dir) => {
      def kindOf(key: String) =
        s"CASE WHEN $key % 3 = 0 THEN 'image' WHEN $key % 3 = 1 THEN 'audio' ELSE 'video' END"
      val magic = "CASE kind WHEN 'image' THEN 'IMG1' WHEN 'audio' THEN 'AU' ELSE 'VID93' END"
      val d0 = docs(s, dir).select(col("doc_id"), col("text"))
      val base = d0
        .withColumn("kind", expr(kindOf("doc_id")))
        .select(col("doc_id").as("media_id"), col("kind"),
          expr(s"concat($magic, text)").as("payload"))
      val reenc = d0.filter(col("doc_id") % 53 === 0)
        .withColumn("kind", expr(kindOf("(doc_id + 1)")))
        .select((col("doc_id") + 1000000L).as("media_id"), col("kind"),
          expr(s"concat($magic, text)").as("payload"))
      base.unionByName(reenc)
        // demux: strip the container by its kind's header length
        .withColumn("body", expr(
          "substr(payload, CASE kind WHEN 'image' THEN 5 WHEN 'audio' THEN 3 ELSE 6 END)"))
        .withColumn("fp", expr(strHashExpr("body")))
        .withColumn("fp2", expr(strHashExpr("reverse(body)")))
        .groupBy(col("fp"))
        .agg(count(lit(1)).as("n_total"),
          countDistinct(col("kind")).as("n_kinds"),
          sum(when(col("kind") === "image", 1L).otherwise(0L)).as("n_image"),
          sum(when(col("kind") === "audio", 1L).otherwise(0L)).as("n_audio"),
          sum(when(col("kind") === "video", 1L).otherwise(0L)).as("n_video"),
          min(col("media_id")).as("min_id"),
          (sum(col("media_id") % HashMod) % HashMod).as("id_checksum"),
          (countDistinct(col("fp2")) === 1).as("pure"))
        .filter(col("n_kinds") >= 2)
        .orderBy(col("min_id"))
    },
    Some(s"""WITH d0 AS (SELECT doc_id, text FROM documents),
    base AS (
      SELECT doc_id AS media_id,
        CASE WHEN doc_id % 3 = 0 THEN 'image'
             WHEN doc_id % 3 = 1 THEN 'audio' ELSE 'video' END AS kind,
        text FROM d0),
    reenc AS (
      SELECT doc_id + 1000000 AS media_id,
        CASE WHEN (doc_id + 1) % 3 = 0 THEN 'image'
             WHEN (doc_id + 1) % 3 = 1 THEN 'audio' ELSE 'video' END AS kind,
        text FROM d0 WHERE doc_id % 53 = 0),
    media AS (
      SELECT media_id, kind,
        concat(CASE kind WHEN 'image' THEN 'IMG1' WHEN 'audio' THEN 'AU'
               ELSE 'VID93' END, text) AS payload
      FROM (SELECT * FROM base UNION ALL SELECT * FROM reenc)),
    demux AS (
      SELECT media_id, kind,
        substr(payload, CASE kind WHEN 'image' THEN 5 WHEN 'audio' THEN 3
               ELSE 6 END) AS body
      FROM media),
    fps AS (
      SELECT media_id, kind, ${strHashSql("body")} AS fp,
        ${strHashSql("reverse(body)")} AS fp2
      FROM demux)
    SELECT fp, COUNT(*) AS n_total,
      CAST(COUNT(DISTINCT kind) AS BIGINT) AS n_kinds,
      CAST(SUM(CASE WHEN kind = 'image' THEN 1 ELSE 0 END) AS BIGINT) AS n_image,
      CAST(SUM(CASE WHEN kind = 'audio' THEN 1 ELSE 0 END) AS BIGINT) AS n_audio,
      CAST(SUM(CASE WHEN kind = 'video' THEN 1 ELSE 0 END) AS BIGINT) AS n_video,
      CAST(MIN(media_id) AS BIGINT) AS min_id,
      CAST(SUM(media_id % $HashMod) % $HashMod AS BIGINT) AS id_checksum,
      COUNT(DISTINCT fp2) = 1 AS pure
    FROM fps GROUP BY fp HAVING COUNT(DISTINCT kind) >= 2 ORDER BY min_id"""))

  // ---------------------------------------------------------------- m22
  // SHARED-SCENE DETECTION — the video twin of d26's exact-substring
  // spans: which fixed-width frames (m03's 32-byte framing) occur in
  // MORE THAN ONE video, and what fraction of each video's runtime is
  // shared material (intro/outro templates, syndicated clips — the
  // segment-level duplication whole-payload detectors like m05/m13
  // can't localize). Two aggregates, NO pair enumeration: frame
  // signatures group per signature (distinct-media count), then join
  // back to the frame stream and roll up per video — a frame shared by
  // 10⁶ videos costs one combine chain, never 10¹² pairs. The join is
  // signature-equi and co-partitioned with the group-by, so the only
  // token-volume shuffles are the two keyed exchanges on `sig`.
  // Fixed-width framing is the honest video model (frames are discrete
  // units); for byte-stream payloads m11's content-defined chunking is
  // the insertion-robust variant.
  private val m22 = QueryDef(
    "m22_shared_scenes",
    (s, dir) => {
      val frames = docs(s, dir)
        .filter(col("doc_id") % 3 === 2) // the video kind (m01's rule)
        // guard the frame sequence: sequence(0, -1) DESCENDS in Spark,
        // so a sub-32-char payload would emit garbage negative offsets
        .filter(length(col("text")) >= 32)
        .select(col("doc_id").as("media_id"), col("text"))
        .select(col("media_id"),
          explode(expr(
            """transform(sequence(0, CAST(length(text) DIV 32 AS INT) - 1),
               i -> substr(text, i * 32 + 1, 32))""")).as("frame"))
        .withColumn("sig", expr(strHashExpr("frame")))
        .select(col("media_id"), col("sig"))
      val sigGroups = frames.groupBy(col("sig"))
        .agg(countDistinct(col("media_id")).as("n_media"))
      frames.join(sigGroups, Seq("sig"))
        .groupBy(col("media_id"))
        .agg(count(lit(1)).as("n_frames"),
          sum(when(col("n_media") >= 2, 1L).otherwise(0L)).as("n_shared"))
        .withColumn("shared_ppm", expr("n_shared * 1000000 DIV n_frames"))
        .filter(col("n_shared") > 0)
        .orderBy(col("media_id"))
    },
    Some(s"""WITH v AS (
      SELECT doc_id AS media_id, text FROM documents WHERE doc_id % 3 = 2),
    f AS (SELECT media_id, substr(text, CAST(i * 32 + 1 AS INT), 32) AS frame
          FROM v CROSS JOIN generate_series(0, 1000) AS g(i)
          WHERE i < len(text) // 32),
    fs AS (SELECT media_id, ${strHashSql("frame")} AS sig FROM f),
    sg AS (SELECT sig, COUNT(DISTINCT media_id) AS n_media FROM fs GROUP BY 1)
    SELECT media_id, COUNT(*) AS n_frames,
      CAST(SUM(CASE WHEN n_media >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_shared,
      CAST(SUM(CASE WHEN n_media >= 2 THEN 1 ELSE 0 END) * 1000000
           // COUNT(*) AS BIGINT) AS shared_ppm
    FROM fs JOIN sg USING (sig)
    GROUP BY media_id HAVING SUM(CASE WHEN n_media >= 2 THEN 1 ELSE 0 END) > 0
    ORDER BY media_id"""))

  // ---------------------------------------------------------------- m23
  // METADATA PII REDACTION — the scrub step between m01's metadata
  // extraction and any external release: media sidecar metadata (EXIF
  // GPS, device serials, author tags) carries PII that survives every
  // payload-level scrub, the classic leak in published image corpora. A
  // deterministic sidecar fixture (each media row emits codec/duration
  // always, GPS on %5, device serial on %7, author on %3) is swept by a
  // key-class policy — drop GPS and author outright, HASH the device
  // serial (joinability preserved, value unrecoverable), keep technical
  // keys byte-exact — and the audit proves each class's contract
  // in-result: `scrub_ok` checks n_after = 0 for dropped keys,
  // n_after = n with a CHANGED value checksum for hashed keys, and an
  // UNCHANGED checksum for kept keys. Scale: metadata explodes to a few
  // rows per media, the scrub is a row-local CASE, and the audit is one
  // map-side-combined aggregate per key — no joins at all.
  private val m23 = QueryDef(
    "m23_metadata_redaction",
    (s, dir) => {
      val meta = docs(s, dir).select(col("doc_id").as("media_id"))
        .select(col("media_id"), explode(expr(
          """filter(array(
               named_struct('key', 'codec', 'value',
                 CASE WHEN media_id % 3 = 0 THEN 'h264'
                      WHEN media_id % 3 = 1 THEN 'vp9' ELSE 'av1' END),
               named_struct('key', 'duration_ms', 'value',
                 CAST(media_id % 3600 AS STRING)),
               named_struct('key', 'gps_lat', 'value',
                 IF(media_id % 5 = 0, CAST(media_id % 90 AS STRING), NULL)),
               named_struct('key', 'gps_lon', 'value',
                 IF(media_id % 5 = 0, CAST(media_id % 180 AS STRING), NULL)),
               named_struct('key', 'device_serial', 'value',
                 IF(media_id % 7 = 0, concat('SN', media_id * 7919 % 100000), NULL)),
               named_struct('key', 'author', 'value',
                 IF(media_id % 3 = 0, concat('user_', media_id % 50), NULL))),
             e -> e.value IS NOT NULL)""")).as("e"))
        .select(col("media_id"), col("e.key").as("key"), col("e.value").as("value"))
      val policed = meta.withColumn("clazz",
        when(col("key").isin("gps_lat", "gps_lon", "author"), lit("pii_drop"))
          .when(col("key") === "device_serial", lit("pii_hash"))
          .otherwise(lit("keep")))
      val scrubbed = policed.filter(col("clazz") =!= "pii_drop")
        .withColumn("out_value",
          when(col("clazz") === "pii_hash",
            expr(s"CAST(${strHashExpr("value")} AS STRING)"))
            .otherwise(col("value")))
      val before = policed.groupBy(col("key"), col("clazz")).agg(
        count(lit(1)).as("n_entries"),
        (sum(expr(s"${strHashExpr("value")}")) % HashMod).as("ck_before"))
      val after = scrubbed.groupBy(col("key")).agg(
        count(lit(1)).as("n_after"),
        (sum(expr(s"${strHashExpr("out_value")}")) % HashMod).as("ck_after"))
      before.join(after, Seq("key"), "left")
        .select(col("key"), col("clazz"), col("n_entries"),
          coalesce(col("n_after"), lit(0L)).as("n_after"),
          col("ck_before"), col("ck_after"),
          when(col("clazz") === "pii_drop", coalesce(col("n_after"), lit(0L)) === 0L)
            .when(col("clazz") === "pii_hash",
              col("n_after") === col("n_entries") && col("ck_after") =!= col("ck_before"))
            .otherwise(col("n_after") === col("n_entries") &&
              col("ck_after") === col("ck_before")).as("scrub_ok"))
        .orderBy(col("key"))
    },
    Some(s"""WITH m AS (SELECT doc_id AS media_id FROM documents),
    meta AS (
      SELECT media_id, 'codec' AS key,
        CASE WHEN media_id % 3 = 0 THEN 'h264'
             WHEN media_id % 3 = 1 THEN 'vp9' ELSE 'av1' END AS value FROM m
      UNION ALL SELECT media_id, 'duration_ms', CAST(media_id % 3600 AS VARCHAR) FROM m
      UNION ALL SELECT media_id, 'gps_lat', CAST(media_id % 90 AS VARCHAR)
        FROM m WHERE media_id % 5 = 0
      UNION ALL SELECT media_id, 'gps_lon', CAST(media_id % 180 AS VARCHAR)
        FROM m WHERE media_id % 5 = 0
      UNION ALL SELECT media_id, 'device_serial',
        'SN' || CAST(media_id * 7919 % 100000 AS VARCHAR)
        FROM m WHERE media_id % 7 = 0
      UNION ALL SELECT media_id, 'author', 'user_' || CAST(media_id % 50 AS VARCHAR)
        FROM m WHERE media_id % 3 = 0),
    pol AS (SELECT *,
        CASE WHEN key IN ('gps_lat', 'gps_lon', 'author') THEN 'pii_drop'
             WHEN key = 'device_serial' THEN 'pii_hash'
             ELSE 'keep' END AS clazz
      FROM meta),
    scr AS (SELECT key,
        CASE WHEN clazz = 'pii_hash'
             THEN CAST(${strHashSql("value")} AS VARCHAR) ELSE value END AS out_value
      FROM pol WHERE clazz <> 'pii_drop'),
    bef AS (SELECT key, clazz, COUNT(*) AS n_entries,
        SUM(${strHashSql("value")}) % $HashMod AS ck_before
      FROM pol GROUP BY 1, 2),
    aft AS (SELECT key, COUNT(*) AS n_after,
        SUM(${strHashSql("out_value")}) % $HashMod AS ck_after
      FROM scr GROUP BY 1)
    SELECT bef.key, clazz, CAST(n_entries AS BIGINT) AS n_entries,
      CAST(COALESCE(n_after, 0) AS BIGINT) AS n_after,
      CAST(ck_before AS BIGINT) AS ck_before, CAST(ck_after AS BIGINT) AS ck_after,
      CASE WHEN clazz = 'pii_drop' THEN COALESCE(n_after, 0) = 0
           WHEN clazz = 'pii_hash'
             THEN n_after = n_entries AND ck_after <> ck_before
           ELSE n_after = n_entries AND ck_after = ck_before END AS scrub_ok
    FROM bef LEFT JOIN aft USING (key)
    ORDER BY bef.key"""))

  // ---------------------------------------------------------------- m24
  // SHOT-BOUNDARY DETECTION — the video-structure primitive between
  // m03's frame sampling and m22's shared-scene grouping: consecutive
  // frames whose coarse luma (floored byte mean of the 32-byte frame
  // slice) jumps by more than 8 mark a cut, runs between cuts are
  // shots. Keyframe budgets (m12), scene dedup (m22), and sampling
  // curricula all key off this segmentation. One lag + one running-sum
  // window per video, both partitioned on media_id (high cardinality,
  // no skew funnel); shot statistics come from the run-id aggregate —
  // frames never join frames. The z_total row carries the corpus
  // verdict: shots-per-video and the cut rate ppm.
  private val m24 = QueryDef(
    "m24_shot_boundaries",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val frames = docs(s, dir)
        .filter(col("doc_id") % 3 === 2 && length(col("text")) >= 64)
        .select(col("doc_id").as("media_id"),
          explode(expr(
            """transform(sequence(0, CAST(length(text) DIV 32 AS INT) - 1),
               i -> struct(i AS idx, substr(text, i * 32 + 1, 32) AS frame))"""))
            .as("f"))
        .select(col("media_id"), col("f.idx").as("idx"),
          expr("""aggregate(transform(split(f.frame, ''), ch -> ascii(ch)),
                  0L, (a, x) -> a + x) DIV 32""").as("luma"))
      val w = Window.partitionBy(col("media_id")).orderBy(col("idx"))
      val cuts = frames
        .withColumn("prev", lag(col("luma"), 1).over(w))
        .withColumn("cut",
          when(col("prev").isNotNull && abs(col("luma") - col("prev")) > 8, 1L)
            .otherwise(0L))
        .withColumn("shot_id", sum(col("cut")).over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      val perShot = cuts.groupBy(col("media_id"), col("shot_id"))
        .agg(count(lit(1)).as("shot_len"))
      val perVideo = perShot.groupBy(col("media_id"))
        .agg(sum(col("shot_len")).as("n_frames"),
          count(lit(1)).as("n_shots"),
          max(col("shot_len")).as("max_shot_len"))
        .withColumn("avg_shot_len_x1000", expr("n_frames * 1000 DIV n_shots"))
      val total = perVideo.agg(
          count(lit(1)).as("n_videos"), sum(col("n_frames")).as("n_frames"),
          sum(col("n_shots")).as("n_shots"), max(col("max_shot_len")).as("max_shot_len"))
        .select(lit(-1L).as("media_id"), col("n_frames"), col("n_shots"),
          col("max_shot_len"),
          expr("n_frames * 1000 DIV n_shots").as("avg_shot_len_x1000"))
      perVideo.select(col("media_id"), col("n_frames"), col("n_shots"),
          col("max_shot_len"), col("avg_shot_len_x1000"))
        .unionByName(total)
        .orderBy(col("media_id"))
    },
    Some("""WITH v AS (
      SELECT doc_id AS media_id, text FROM documents
      WHERE doc_id % 3 = 2 AND len(text) >= 64),
    f AS (SELECT media_id, i AS idx,
            list_sum(list_transform(string_split(substr(text, CAST(i * 32 + 1 AS INT), 32), ''),
              ch -> CAST(ord(ch) AS BIGINT))) // 32 AS luma
          FROM v CROSS JOIN generate_series(0, 1000) AS g(i)
          WHERE i < len(text) // 32),
    c AS (SELECT media_id, idx, luma,
            LAG(luma) OVER (PARTITION BY media_id ORDER BY idx) AS prev
          FROM f),
    c2 AS (SELECT *, CASE WHEN prev IS NOT NULL AND ABS(luma - prev) > 8
                          THEN 1 ELSE 0 END AS cut FROM c),
    c3 AS (SELECT *, SUM(cut) OVER (PARTITION BY media_id ORDER BY idx
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS shot_id FROM c2),
    shots AS (SELECT media_id, shot_id, COUNT(*) AS shot_len
              FROM c3 GROUP BY 1, 2),
    pv AS (SELECT media_id, SUM(shot_len) AS n_frames, COUNT(*) AS n_shots,
             MAX(shot_len) AS max_shot_len
           FROM shots GROUP BY 1)
    SELECT CAST(media_id AS BIGINT) AS media_id,
      CAST(n_frames AS BIGINT) AS n_frames, CAST(n_shots AS BIGINT) AS n_shots,
      CAST(max_shot_len AS BIGINT) AS max_shot_len,
      CAST(n_frames * 1000 // n_shots AS BIGINT) AS avg_shot_len_x1000
    FROM pv
    UNION ALL
    SELECT -1, CAST(SUM(n_frames) AS BIGINT), CAST(SUM(n_shots) AS BIGINT),
      CAST(MAX(max_shot_len) AS BIGINT),
      CAST(SUM(n_frames) * 1000 // SUM(n_shots) AS BIGINT)
    FROM pv
    ORDER BY media_id"""))

  // ---------------------------------------------------------------- m25
  // PAYLOAD COMPRESSIBILITY AUDIT — the storage-codec decision per
  // media kind: already-compressed payloads (real JPEG/MP4) waste CPU
  // under a second codec, raw ones beg for one. The proxy is exact and
  // decode-free: the distinct-ratio of the payload's 8-byte chunks
  // (m06's chunking grid) — repetitive payloads sit low, high-entropy
  // ones near 10⁶. Per kind: chunk mass, mean distinct-ratio, and the
  // codec verdict at the 900k bar (above it, store raw; below,
  // zstd-class). The same threshold discipline as m16's quarantine
  // rules: pure per-row array math, one aggregate per kind, no joins.
  private val m25 = QueryDef(
    "m25_compressibility",
    (s, dir) => {
      val per = docs(s, dir)
        .filter(length(col("text")) >= 32)
        .select(col("doc_id"),
          expr("""CASE WHEN doc_id % 3 = 0 THEN 'image'
                       WHEN doc_id % 3 = 1 THEN 'audio' ELSE 'video' END""")
            .as("kind"),
          expr("""transform(sequence(0, CAST(length(text) DIV 8 AS INT) - 1),
                  i -> substr(text, i * 8 + 1, 8))""").as("chunks"))
        .select(col("kind"),
          expr("CAST(size(chunks) AS BIGINT)").as("n_chunks"),
          expr("CAST(size(array_distinct(chunks)) AS BIGINT)").as("n_distinct"))
        .withColumn("ratio_ppm", expr("n_distinct * 1000000 DIV n_chunks"))
      per.groupBy(col("kind"))
        .agg(count(lit(1)).as("n_media"),
          sum(col("n_chunks")).as("total_chunks"),
          expr("sum(ratio_ppm) DIV count(1)").as("mean_distinct_ppm"),
          min(col("ratio_ppm")).as("min_ppm"))
        .withColumn("codec",
          when(col("mean_distinct_ppm") >= 900000L, lit("store_raw"))
            .otherwise(lit("zstd")))
        .orderBy(col("kind"))
    },
    Some("""WITH per AS (
      SELECT CASE WHEN doc_id % 3 = 0 THEN 'image'
                  WHEN doc_id % 3 = 1 THEN 'audio' ELSE 'video' END AS kind,
        CAST(len(ch) AS BIGINT) AS n_chunks,
        CAST(len(list_distinct(ch)) AS BIGINT) AS n_distinct
      FROM (SELECT doc_id,
              list_transform(generate_series(0, CAST(len(text) // 8 AS INT) - 1),
                i -> substr(text, CAST(i * 8 + 1 AS INT), 8)) AS ch
            FROM documents WHERE len(text) >= 32)),
    p2 AS (SELECT kind, n_chunks, n_distinct,
             n_distinct * 1000000 // n_chunks AS ratio_ppm FROM per)
    SELECT kind, CAST(COUNT(*) AS BIGINT) AS n_media,
      CAST(SUM(n_chunks) AS BIGINT) AS total_chunks,
      CAST(SUM(ratio_ppm) // COUNT(*) AS BIGINT) AS mean_distinct_ppm,
      CAST(MIN(ratio_ppm) AS BIGINT) AS min_ppm,
      CASE WHEN SUM(ratio_ppm) // COUNT(*) >= 900000 THEN 'store_raw'
           ELSE 'zstd' END AS codec
    FROM p2 GROUP BY kind ORDER BY kind"""))

  // ---------------------------------------------------------------- m26
  // VAD / ENERGY SEGMENTATION — the audio-modality twin of m24's video
  // shot boundaries (the m-family covered image/video/chunked payloads
  // but nothing audio-shaped): per-frame ENERGY (mean squared byte of
  // the 32-byte frame slice — the stub-decoder convention, a real codec
  // swaps in RMS over PCM samples) drives a HYSTERESIS gate, the shape
  // every production VAD uses so the state doesn't chatter around one
  // threshold: speech turns ON at energy ≥ 10000, OFF below 9600, and
  // frames in the dead band CARRY the previous state — expressed as a
  // decisive-frame column (1 / 0 / NULL) resolved by last-ignore-nulls
  // over the frame order, so the state machine is one window pass, not
  // a recursion. Speech SEGMENTS are the gaps-and-islands runs of the
  // resolved state; per-source speech-ratio ppm and segment lengths
  // roll up from run aggregates — frames never join frames (m24's
  // discipline). The dead band is measured, not assumed: ~40% of frames
  // land in it (n_carry in-result, nonzero at both SFs), so a
  // single-threshold VAD would diverge — that's the planted proof the
  // hysteresis actually does work. One explode + two window passes per
  // media (high-cardinality partition key), three stacked aggregates;
  // at 100 TB every stage is map-side-combinable and partition-local.
  private val VadHi = 10000L
  private val VadLo = 9600L

  private val m26 = QueryDef(
    "m26_speech_segments",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val frames = docs(s, dir)
        .filter(col("doc_id") % 3 === 1 && length(col("text")) >= 64)
        .select(col("doc_id").as("media_id"), col("source"),
          explode(expr(
            """transform(sequence(0, CAST(length(text) DIV 32 AS INT) - 1),
               i -> struct(i AS idx, substr(text, i * 32 + 1, 32) AS frame))"""))
            .as("f"))
        .select(col("media_id"), col("source"), col("f.idx").as("idx"),
          expr("""aggregate(transform(split(f.frame, ''), ch -> ascii(ch) * ascii(ch)),
                  0L, (a, x) -> a + x) DIV 32""").as("energy"))
      val w = Window.partitionBy(col("media_id")).orderBy(col("idx"))
      val cum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val vad = frames
        // decisive frames decide; dead-band frames (NULL) inherit the
        // most recent decision — hysteresis as one last-ignore-nulls
        .withColumn("d",
          when(col("energy") >= VadHi, 1L).when(col("energy") < VadLo, 0L))
        .withColumn("speech",
          coalesce(last(col("d"), ignoreNulls = true).over(cum), lit(0L)))
        .withColumn("carry", when(col("d").isNull, 1L).otherwise(0L))
      val seg = vad.withColumn("strt",
        when(col("speech") === 1L &&
          coalesce(lag(col("speech"), 1).over(w), lit(0L)) === 0L, 1L)
          .otherwise(0L))
      val perMedia = seg.groupBy(col("media_id"), col("source"))
        .agg(count(lit(1)).as("n_frames"), sum(col("speech")).as("n_speech"),
          sum(col("carry")).as("n_carry"), sum(col("strt")).as("n_segments"))
      val perSource = perMedia.groupBy(col("source"))
        .agg(count(lit(1)).as("n_media"), sum(col("n_frames")).as("n_frames"),
          sum(col("n_speech")).as("n_speech"), sum(col("n_carry")).as("n_carry"),
          sum(col("n_segments")).as("n_segments"))
        // |sources| rows — materialized so the z_total union branch folds
        // these 20 rows instead of re-running the explode+window pipeline
        // (the plan audit showed the union re-scanning the corpus twice)
        .localCheckpoint()
      val total = perSource.agg(
          sum(col("n_media")).as("n_media"), sum(col("n_frames")).as("n_frames"),
          sum(col("n_speech")).as("n_speech"), sum(col("n_carry")).as("n_carry"),
          sum(col("n_segments")).as("n_segments"))
        .select(lit("z_total").as("source"), col("n_media"), col("n_frames"),
          col("n_speech"), col("n_carry"), col("n_segments"))
      perSource.unionByName(total)
        .withColumn("speech_ppm", expr("n_speech * 1000000 DIV n_frames"))
        .withColumn("avg_seg_len_x1000", expr(
          "CASE WHEN n_segments > 0 THEN n_speech * 1000 DIV n_segments ELSE 0L END"))
        .orderBy(col("source"))
    },
    // ORACLE BOUND (ADVICE r20): generate_series(0, 1000) caps each
    // media at 1001 frames = 32 032 chars of text, while the Spark side
    // explodes every frame. Fixtures max out at 558 chars (17 frames);
    // a regenerated fixture with ≥32 KB documents would diverge here —
    // raise the series bound (max(len(text))//32) if that ever trips.
    Some(s"""WITH a AS (
      SELECT doc_id AS media_id, source, text FROM documents
      WHERE doc_id % 3 = 1 AND len(text) >= 64),
    f AS (SELECT media_id, source, i AS idx,
            list_sum(list_transform(string_split(substr(text, CAST(i * 32 + 1 AS INT), 32), ''),
              ch -> CAST(ord(ch) * ord(ch) AS BIGINT))) // 32 AS energy
          FROM a CROSS JOIN generate_series(0, 1000) AS g(i)
          WHERE i < len(text) // 32),
    d AS (SELECT *, CASE WHEN energy >= $VadHi THEN 1
                         WHEN energy < $VadLo THEN 0 END AS dd FROM f),
    v AS (SELECT *, COALESCE(LAST_VALUE(dd IGNORE NULLS) OVER (
              PARTITION BY media_id ORDER BY idx
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 0) AS speech,
            CASE WHEN dd IS NULL THEN 1 ELSE 0 END AS carry
          FROM d),
    v2 AS (SELECT *, CASE WHEN speech = 1 AND COALESCE(LAG(speech) OVER (
              PARTITION BY media_id ORDER BY idx), 0) = 0 THEN 1 ELSE 0 END AS strt
           FROM v),
    pm AS (SELECT media_id, source, COUNT(*) AS n_frames, SUM(speech) AS n_speech,
             SUM(carry) AS n_carry, SUM(strt) AS n_segments
           FROM v2 GROUP BY 1, 2),
    ps AS (SELECT source, COUNT(*) AS n_media, SUM(n_frames) AS n_frames,
             SUM(n_speech) AS n_speech, SUM(n_carry) AS n_carry,
             SUM(n_segments) AS n_segments FROM pm GROUP BY 1),
    u AS (SELECT * FROM ps
          UNION ALL
          SELECT 'z_total', SUM(n_media), SUM(n_frames), SUM(n_speech),
            SUM(n_carry), SUM(n_segments) FROM ps)
    SELECT source, CAST(n_media AS BIGINT) AS n_media,
      CAST(n_frames AS BIGINT) AS n_frames,
      CAST(n_speech AS BIGINT) AS n_speech,
      CAST(n_carry AS BIGINT) AS n_carry,
      CAST(n_segments AS BIGINT) AS n_segments,
      CAST(n_speech * 1000000 // n_frames AS BIGINT) AS speech_ppm,
      CAST(CASE WHEN n_segments > 0 THEN n_speech * 1000 // n_segments
           ELSE 0 END AS BIGINT) AS avg_seg_len_x1000
    FROM u ORDER BY source"""))

  val defs: Seq[QueryDef] =
    Seq(m01, m02, m03, m04, m05, m06, m07, m08, m09, m10, m11, m12, m13, m14,
      m15, m16, m17, m18, m19, m20, m21, m22, m23, m24, m25, m26)
}
