package graft.analytics

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, LongType, StructType, TimestampNTZType, TimestampType}

/** Loaders + numeric helpers shared by the analytics queries. */
object Tables {

  def rd(spark: SparkSession, dir: String, name: String): DataFrame =
    parquet(spark, s"$dir/$name.parquet")

  /** Read an immutable parquet input (a catalog table or a persisted
    * index) with its schema inferred once per file version and parquet
    * settings instead of once per call: inference runs a Spark job to
    * read a footer that has not changed.
    *
    * The key is the [[fingerprint]] of the files under `path` plus the
    * session's value of every set conf whose name contains `parquet` and
    * `spark.sql.caseSensitive` — a rule rather than a list, so any
    * inference flag (`inferTimestampNTZ`, `nanosAsLong`, binary-as-string,
    * …) gets its own entry. Rewriting the files changes the fingerprint;
    * a path with nothing under it is read uncached, so it fails as usual.
    *
    * Paths a query writes and reads back in the same call (format round
    * trips, stream sinks) use plain `read.parquet`: their inference is
    * part of the operator, and their fresh paths would only grow the map. */
  private[graft] def parquet(spark: SparkSession, path: String): DataFrame =
    fingerprint(spark, path) match {
      case None => spark.read.parquet(path)
      case Some(files) =>
        val confs = spark.conf.getAll.filter(_._1.contains("parquet")).toSeq.sorted
        val key = s"$files|${spark.conf.get("spark.sql.caseSensitive")}|${confs.mkString(",")}"
        // inference runs a Spark job, so never inside computeIfAbsent:
        // a racing caller may infer too, and the first entry stored wins
        val schema = Option(schemas.get(key)).getOrElse {
          val inferred = spark.read.parquet(path).schema
          Option(schemas.putIfAbsent(key, inferred)).getOrElse(inferred)
        }
        spark.read.schema(schema).parquet(path)
    }

  private val schemas = new java.util.concurrent.ConcurrentHashMap[String, StructType]()

  /** Identity of the files under `path` (a file or a directory layout):
    * qualified path, file count, total bytes and max mtime, from one
    * recursive listing on the path's own filesystem. Not a content hash —
    * it only needs to change when the files are rewritten. None when
    * nothing is there. */
  private[graft] def fingerprint(spark: SparkSession, path: String): Option[String] = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    try {
      val it = fs.listFiles(p, true)
      var files = 0
      var bytes = 0L
      var mtime = 0L
      while (it.hasNext) {
        val f = it.next()
        files += 1
        bytes += f.getLen
        mtime = math.max(mtime, f.getModificationTime)
      }
      Some(s"${fs.makeQualified(p)}|$files:$bytes:$mtime")
    } catch { case _: java.io.FileNotFoundException => None }
  }

  /** Normalize the events `ts` column to TimestampType whatever physical
    * encoding the data generator used — the encoding has flipped between
    * rounds, so the loader adapts instead of hard-coding one:
    *   - parquet TIMESTAMP(NANOS): Spark's reader rejects it; sessions set
    *     `nanosAsLong` so it surfaces as LongType raw int64 nanos → convert
    *     with integral division (double division would lose precision above
    *     2^53 ns).
    *   - timestamp[us] without tz (TIMESTAMP_NTZ): wall-clock-preserving
    *     cast; all graft sessions run UTC, so the instant equals the stored
    *     epoch micros — same values the DuckDB oracle's `epoch_us(ts)` sees.
    *   - TimestampType: already normalized.
    * Works on batch and streaming frames alike (schema + withColumn only).
    * Any new TYPE fails loudly here (one named error, not 46 broken
    * queries); a LongType column is ASSUMED nanos — that assumption can't
    * be checked row-free on a streaming frame, so it is pinned by value in
    * SchemaContractSpec instead (raw int64 micros would decode to ~1970
    * and fail its 2020–2030 plausible-window assertion by name). */
  def normalizeTs(df: DataFrame): DataFrame = df.schema("ts").dataType match {
    case LongType          => df.withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
    case TimestampNTZType  => df.withColumn("ts", col("ts").cast(TimestampType))
    case TimestampType     => df
    case other => throw new IllegalStateException(
      s"events.ts has unsupported encoding $other; extend Tables.normalizeTs")
  }

  def events(spark: SparkSession, dir: String): DataFrame = {
    // harmless when ts is already a timestamp; required for the nanos encoding
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    normalizeTs(rd(spark, dir, "events"))
  }

  /** Deterministic cross-engine float aggregation: per-row values are cast
    * to DECIMAL (exact, associative sum — immune to partition-order float
    * drift AND identical between Spark and the DuckDB oracle), summed, and
    * the exact result converted back to DOUBLE. */
  def dsum(c: Column, scale: Int = 2): Column =
    sum(c.cast(DecimalType(18, scale))).cast("double")

  /** Broadcast `df` only while its backing parquet is small enough to be
    * a safe build side. The TPC-H-ish dims (customer, part) are
    * SF-PROPORTIONAL, so an unconditional `broadcast()` hint on them is
    * the d09 hazard class — a driver-memory killer at 100 TB. The gate
    * is a zero-cost driver-side file stat; above the cap the hint drops
    * and AQE picks the join from real statistics.
    *
    * CONTRACT: `df` must be bounded by the named file's own rows — a
    * projection/filter/row-wise derivation of that table. It is NOT a
    * valid gate for Heaps-unbounded derived tables (a vocab built FROM
    * `documents` is not row-bounded by it); those sites carry no hint at
    * all and let AQE read the real aggregate-output size at the shuffle
    * boundary (A/B r15 at sf0.1: flat). Cap is 32 MB COMPRESSED — parquet
    * dims decompress 3-8×, and the BroadcastHashJoin relation adds
    * ~40-64 B/row of UnsafeRow + hash-map overhead on top of that, so
    * the worst-case in-memory build lands in the low hundreds of MB —
    * still inside executor broadcast budgets, but the dominant term is
    * the hash relation, not the raw column bytes. */
  def bcastIfSmall(df: DataFrame, dir: String, table: String): DataFrame = {
    val f = new java.io.File(s"$dir/$table.parquet")
    if (f.isFile && f.length < (32L << 20)) broadcast(df) else df
  }

  /** Quantized natural log in 1e-4 integer units — identical SparkSQL and
    * DuckDB syntax, so additive log forms (Zipf/Heaps fits, PMI, PSI) are
    * exact int64 arithmetic on both engines after the one rounded ln. */
  def lnQ(x: String): String =
    s"CAST(CAST(round(ln(CAST($x AS DOUBLE)), 4) AS DECIMAL(18,4)) * 10000 AS BIGINT)"

  /** SQL-side twin of [[dsum]] for the DuckDB oracle strings. */
  def dsumSql(exprSql: String, scale: Int = 2): String =
    s"CAST(SUM(CAST($exprSql AS DECIMAL(18,$scale))) AS DOUBLE)"

  // ------------------------------------------------------------------
  // Money products: the TPC-H money/rate columns are semantically
  // 2-decimal, so casting each FACTOR to DECIMAL(18,2) is unambiguous on
  // both engines (the nearest 2-decimal value is > 1e-9 away from any
  // rounding boundary); the decimal product is then exact. Casting the
  // double PRODUCT instead is engine-dependent at the 4th decimal (Spark
  // rounds the shortest decimal representation, DuckDB a scaled double).
  // ------------------------------------------------------------------

  /** Exact revenue term: price × (1 − discount), as DECIMAL(18,4). */
  def discPrice(price: Column, discount: Column): Column =
    (price.cast(DecimalType(18, 2)) *
      (lit(1) - discount).cast(DecimalType(18, 2))).cast(DecimalType(18, 4))

  /** DuckDB twin of [[discPrice]]. */
  def discPriceSql(price: String, discount: String): String =
    s"CAST(CAST($price AS DECIMAL(18,2)) * CAST(1 - $discount AS DECIMAL(18,2)) AS DECIMAL(18,4))"

  /** Exact charge term: price × (1 − discount) × (1 + tax). */
  def chargeTerm(price: Column, discount: Column, tax: Column): Column =
    discPrice(price, discount) * (lit(1) + tax).cast(DecimalType(18, 2))

  /** DuckDB twin of [[chargeTerm]]. */
  def chargeTermSql(price: String, discount: String, tax: String): String =
    s"${discPriceSql(price, discount)} * CAST(1 + $tax AS DECIMAL(18,2))"

  /** Run `body` with shuffle parallelism sized to the workload (tiny
    * iterative/streaming state wants few partitions — per-partition task
    * and state-store overhead dominates otherwise), restoring the session
    * value in `finally` so the set is scoped and idempotent. */
  def withShuffle[T](spark: SparkSession, n: Int)(body: => T): T =
    withConfs(spark, "spark.sql.shuffle.partitions" -> n.toString)(body)

  /** Run `body` with session confs temporarily set, restoring (or
    * unsetting) each previous value in `finally`. */
  def withConfs[T](spark: SparkSession, kvs: (String, String)*)(body: => T): T = {
    val prev = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
    kvs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  // Scratch dirs for queries that round-trip through a storage format.
  // Every dir is tracked and recursively deleted on JVM exit, so repeated
  // Verify/Bench invocations don't accumulate temp parquet copies.
  private val scratchDirs = new java.util.concurrent.ConcurrentLinkedQueue[java.nio.file.Path]
  sys.addShutdownHook {
    scratchDirs.forEach { root =>
      import java.nio.file.{Files, Path}
      import java.util.Comparator
      if (Files.exists(root))
        Files.walk(root).sorted(Comparator.reverseOrder[Path]())
          .forEach(p => Files.deleteIfExists(p))
    }
  }

  /** A fresh scratch path for a format round-trip, deleted on JVM exit. */
  def tmp(prefix: String): String = {
    val d = java.nio.file.Files.createTempDirectory(prefix)
    scratchDirs.add(d)
    d.resolve("t").toString
  }

  /** Like [[tmp]] but hands back the registered scratch DIRECTORY itself —
    * for callers that lay multiple files inside it (streaming batch drops,
    * symlinked source dirs). Same exit-time cleanup; a raw
    * `Files.createTempDirectory` at a query site would leak per run. */
  def tmpDir(prefix: String): java.nio.file.Path = {
    val d = java.nio.file.Files.createTempDirectory(prefix)
    scratchDirs.add(d)
    d
  }

  /** A single small parquet file yields ONE input split, so every
    * downstream per-row-heavy expression (the HOF/hashing text family)
    * runs as one task on one core — at sf0.1 that made t20 a 34 s
    * single-task stage on a 32-core host. Widen under-split scans to the
    * session's cores; a real at-scale table is many files/splits and the
    * branch is a no-op (no shuffle added). */
  private def widen(spark: SparkSession, df: DataFrame): DataFrame = {
    val cores = spark.sparkContext.defaultParallelism
    if (df.inputFiles.length < cores) df.repartition(cores) else df
  }

  def docs(spark: SparkSession, dir: String): DataFrame =
    widen(spark, docsNarrow(spark, dir))

  /** documents WITHOUT the [[widen]] re-split — for consumers whose
    * parallelism is bounded by a downstream shuffle, not the scan split
    * count (t09/t10 explode to token level and aggregate immediately;
    * the widen shuffle of full text rows was a measured ~0.5 s/query
    * bench tax there with no win — r11 verdict). Hash-heavy per-row
    * consumers (poly_hash / ngram_hashes over whole documents) must use
    * [[docs]], where the widen bounds the single-task-scan failure mode. */
  def docsNarrow(spark: SparkSession, dir: String): DataFrame =
    rd(spark, dir, "documents")
  def embs(spark: SparkSession, dir: String): DataFrame =
    rd(spark, dir, "embeddings")

  // ------------------------------------------------------------------
  // Cross-engine-deterministic vector arithmetic (SURVEY §2.8 similarity
  // rows). Floats are quantized to int64 at 1e7 scale: |x| <= 0.58 in the
  // embeddings tables, so a squared quantized component is <= 3.4e13 and a
  // 64-dim dot product <= 2.2e15 — exact in int64 AND in float64 (< 2^53),
  // which makes Spark's integer fold and DuckDB's list arithmetic agree
  // bitwise. Cosine then divides two exact integers under IEEE doubles —
  // identical on both engines, so rankings and rounded values hash-match.
  // ------------------------------------------------------------------
  final val QuantScale = 10000000L // 1e7

  /** SparkSQL expr: float array column -> quantized bigint array. */
  def quantizeExpr(arrCol: String): String =
    s"transform($arrCol, x -> CAST(floor(CAST(x AS DOUBLE) * $QuantScale.0D) AS BIGINT))"

  /** DuckDB twin of [[quantizeExpr]]. */
  def quantizeSql(arrCol: String): String =
    s"list_transform($arrCol, x -> CAST(floor(CAST(x AS DOUBLE) * $QuantScale.0) AS BIGINT))"

  /** SparkSQL expr: exact int64 dot product of two quantized arrays — the
    * native codegen'd [[graft.functions.DotI64]] expression
    * (value-identical to the `aggregate(zip_with(...))` fold it replaced;
    * the fold is CodegenFallback and allocates a zipped array per row).
    * Registered in every catalog query's session by [[Registry]]. */
  def dotExpr(a: String, b: String): String =
    s"dot_i64($a, $b)"

  /** DuckDB twin of [[dotExpr]] (zip then left-fold, same order as Spark). */
  def dotSql(a: String, b: String): String =
    s"list_reduce(list_transform(list_zip($a, $b), p -> p[1] * p[2]), (acc, v) -> acc + v)"

  /** Cosine of two quantized vector columns `a` and `b` whose squared
    * norms (`dotExpr(v, v)`) are the columns `aNorm2` and `bNorm2`: the
    * exact int64 dot product and norms, each cast to double, then divided,
    * so the value is bitwise the DuckDB oracles' `CAST(dot AS DOUBLE) /
    * (sqrt(CAST(n1 AS DOUBLE)) * sqrt(CAST(n2 AS DOUBLE)))`. */
  def cosine(a: String, aNorm2: String, b: String, bNorm2: String): Column =
    expr(dotExpr(a, b)).cast("double") /
      (sqrt(col(aNorm2).cast("double")) * sqrt(col(bNorm2).cast("double")))

  // ------------------------------------------------------------------
  // Cross-engine-deterministic string hashing (dedup/fingerprint rows):
  // a left-fold polynomial rolling hash mod 1e9+7 over character codes.
  // DuckDB's list_reduce seeds with the first element, which equals
  // (0*31 + c0) — identical to the zero-seeded fold.
  // ------------------------------------------------------------------
  final val HashMod = graft.functions.PolyHash.Mod

  /** SparkSQL expr: polynomial hash of a string expression — the native
    * codegen'd [[graft.functions.PolyHash]] expression (value-identical
    * to the pure-SQL `aggregate(transform(split(s, ''), ...))` fold it
    * replaced, without a per-character array per row). Registered in
    * every catalog query's session by [[Registry]]. */
  def strHashExpr(sExpr: String): String =
    s"poly_hash($sExpr)"

  /** DuckDB twin of [[strHashExpr]]. */
  def strHashSql(sExpr: String): String =
    s"list_reduce(list_transform(string_split($sExpr, ''), c -> CAST(ord(c) AS BIGINT)), (acc, c) -> (acc * 31 + c) % $HashMod)"
}
