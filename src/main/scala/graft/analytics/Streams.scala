package graft.analytics

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.streaming.drain
import Tables._

/**
 * Approximate and streaming operators (SURVEY §2.8 open rows):
 * `approx_count_distinct` (HLL++ — the scale-safe form of q09's exact
 * multi-distinct) and a real Structured Streaming event-time window with
 * a watermark, run to completion (an AvailableNow `drain`)
 * against a file source and collected through the memory sink.
 *
 * Scale notes (100 TB): q18 is one partial/final aggregate whose state is
 * a constant-size sketch per group — the plan that replaces q09's Expand
 * when exactness isn't required. q19's streaming agg keeps
 * |open windows × event types| rows of state per partition; the 1-hour
 * watermark bounds state for out-of-order arrival, which is the entire
 * point of the operator at scale.
 */
object Streams {

  /** State-store count of every catalog streaming query, set as its
    * shuffle parallelism through `withShuffle(s, StreamStores)`.
    *
    * A streaming query's state-store count is fixed at start to
    * `spark.sql.shuffle.partitions`, and every micro-batch pays per-store
    * open/commit/snapshot overhead — so state parallelism should track
    * STATE size, not CPU count (measured: the fixed cost of each streaming
    * query here drops ~2× at 8 stores vs 32 for kilobyte-scale state, and
    * a further −8.8 s across a 26-query paired A/B at 4 vs 8 (r22, every
    * query flat-or-better, all 44 oracles green at both correctness SFs);
    * at 100 TB you would size it up to the state volume, which is exactly
    * why it's per-query, not session-wide). The set is scoped and
    * restored in `finally`, so concurrent batch queries in the same
    * session are unaffected after the call and re-runs are idempotent. */
  private val StreamStores = 4

  /** The state store transformWithState requires; each query that needs
    * it scopes it with `withConfs`, so sibling queries keep the default
    * HDFS-backed store. */
  private val RocksDbState = "spark.sql.streaming.stateStore.providerClass" ->
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  private val memorySinks = new java.util.concurrent.atomic.AtomicLong

  /** Drain `df` into a memory sink in output `mode` and return what the
    * sink collected. The sink's temp view is dropped in `finally`, also
    * when the drain fails: DataFrame analysis is eager, so the returned
    * frame keeps the resolved MemoryPlan while the session catalog stays
    * clean (leaked sink views otherwise pollute SHOW TABLES for every
    * later caller). Each call gets its own sink name, so concurrent or
    * repeated drains never share a view. `checkpoint` pins the state
    * store's location for callers that read it back afterwards. */
  private[analytics] def drainToMemory(
      df: DataFrame, mode: String, checkpoint: Option[String] = None): DataFrame = {
    val s = df.sparkSession
    val name = s"graft_memory_sink_${memorySinks.incrementAndGet()}"
    val writer = df.writeStream.format("memory").queryName(name).outputMode(mode)
    checkpoint.foreach(writer.option("checkpointLocation", _))
    try { drain(writer); s.table(name) }
    finally s.catalog.dropTempView(name)
  }

  /** A stream that delivers `frames` in order, one micro-batch each
    * (batch id k carries frame k's rows). Each frame is staged as ONE
    * parquet file whose mtime orders it (FileStreamSource sorts by mtime;
    * `maxFilesPerTrigger = 1` then makes each file one batch). The
    * schema is the frames' own — FileStreamSource forces it nullable, as
    * a read-back would — so building the stream runs no job. Staging
    * counts as harness setup. */
  private[analytics] def stagedStream(
      s: SparkSession, name: String, frames: Seq[DataFrame]): DataFrame = {
    import java.nio.file.{Files, Paths}
    import java.nio.file.attribute.FileTime
    import scala.jdk.CollectionConverters._
    val streamDir = Tables.tmpDir(s"graft-$name-stream")
    graft.BenchSplit.setup {
      frames.zipWithIndex.foreach { case (frame, k) =>
        val stage = Tables.tmp(s"graft-$name-b$k")
        frame.coalesce(1).write.mode("overwrite").parquet(stage)
        // Files.list holds an open directory fd until the stream is
        // closed: close it, or each staged file leaks one
        val listing = Files.list(Paths.get(stage))
        val part =
          try listing.iterator().asScala
            .find(_.getFileName.toString.startsWith("part-"))
            .getOrElse(sys.error(s"no part file in $stage"))
          finally listing.close()
        val dest = streamDir.resolve(s"b$k.parquet")
        Files.move(part, dest)
        // Files.setLastModifiedTime throws on failure (File.setLastModified
        // returns false silently) — a stale mtime would quietly break the
        // batch order, so fail fast with the path
        Files.setLastModifiedTime(dest, FileTime.fromMillis(1700000000000L + k * 60000L))
      }
    }
    s.readStream.schema(frames.head.schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(streamDir.toString)
  }

  /** Event-time cut below which every window or session of a stream
    * watermarked 1 hour behind `events` is final after a drain: the
    * watermark rests at max(ts) − 1h, less a 1-minute safety margin. */
  private def finalizedCutUs(s: SparkSession, dir: String): Long =
    events(s, dir).agg(max(unix_micros(col("ts")))).head.getLong(0) -
      3600000000L - 60000000L

  /** Clicks joined to purchases by the same user within 30 minutes, as a
    * stream-stream `how` join: each side is `eventsStream` filtered to
    * its event type and watermarked 1 hour behind, so join state is
    * droppable. Columns: `c_user`, `c_ts`, `p_user`, `p_ts`. */
  private def clickPurchaseJoin(s: SparkSession, dir: String, how: String): DataFrame = {
    val clicks = eventsStream(s, dir)
      .filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts").as("c_ts"))
      .withWatermark("c_ts", "1 hour")
    val purchases = eventsStream(s, dir)
      .filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("p_ts"))
      .withWatermark("p_ts", "1 hour")
    clicks.join(purchases,
      col("c_user") === col("p_user") &&
        col("p_ts") >= col("c_ts") &&
        col("p_ts") <= col("c_ts") + expr("INTERVAL 30 MINUTES"),
      how)
  }

  /** The watermark, in µs, at which a drained stream over a click side
    * and a purchase side rests: the min over SIDES of (that side's max
    * event time − its declared delay; 1 h each for [[clickPurchaseJoin]]).
    * Each watermark node only sees its own filtered stream, so a sparse
    * tail on either side drags the global watermark back. `name` is the
    * query the `require` blames when a side has no events. */
  private def joinWatermarkUs(s: SparkSession, dir: String, name: String,
      clickDelayUs: Long, purchaseDelayUs: Long): Long = {
    val maxRow = events(s, dir)
      .agg(
        max(when(col("event_type") === "click", unix_micros(col("ts")))).as("c"),
        max(when(col("event_type") === "purchase", unix_micros(col("ts")))).as("p"))
      .head
    // getAs[java.lang.Long], not a Row(Long, Long) pattern match: max()
    // over a side with NO events is NULL, and the pattern would throw
    // an opaque MatchError instead of naming the problem
    val (maxClick, maxPurch) =
      (maxRow.getAs[java.lang.Long]("c"), maxRow.getAs[java.lang.Long]("p"))
    require(maxClick != null && maxPurch != null,
      s"$name needs both click and purchase events at $dir " +
        s"(max click us = $maxClick, max purchase us = $maxPurch)")
    math.min(maxClick.longValue - clickDelayUs, maxPurch.longValue - purchaseDelayUs)
  }

  /** DuckDB twin of [[joinWatermarkUs]] with 1 h on each side:
    * `mx(<alias>)` is the lesser side maximum − 1 h, less each of `minus`. */
  private def joinCutCte(alias: String, minus: Long*): String =
    s"""mx AS (
      SELECT LEAST(
          MAX(CASE WHEN event_type = 'click' THEN epoch_us(ts) END),
          MAX(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END))
        - 3600000000${minus.map(m => s" - $m").mkString} AS $alias
      FROM events)"""

  // ---------------------------------------------------------------- q18
  // Approx distinct (HLL++) verified against its exact twin. The raw
  // estimates are sketch-implementation-specific (DuckDB's HLL differs),
  // so the EMITTED columns are the exact distinct counts plus
  // within-bound booleans (|approx − exact| ≤ 3·rsd·exact); the oracle
  // recomputes the exact counts and asserts the bounds as literal TRUE —
  // a full rows/schema/hash gate that still exercises the sketch, and
  // deterministic because HLL++ on fixed input is deterministic.
  private val q18 = QueryDef(
    "q18_approx_distinct",
    (s, dir) =>
      events(s, dir)
        .groupBy(col("event_type"))
        .agg(
          approx_count_distinct(col("user_id")).as("au"),      // rsd 0.05
          countDistinct(col("user_id")).as("n_users"),
          approx_count_distinct(col("props"), 0.02).as("ap"),
          countDistinct(col("props")).as("n_props"),
          count(lit(1)).as("n"))
        .select(col("event_type"), col("n_users"), col("n_props"), col("n"),
          (abs(col("au") - col("n_users")) <= col("n_users") * 0.15).as("users_ok"),
          (abs(col("ap") - col("n_props")) <= col("n_props") * 0.06).as("props_ok"))
        .orderBy(col("event_type")),
    Some("""SELECT event_type,
      COUNT(DISTINCT user_id) AS n_users, COUNT(DISTINCT props) AS n_props,
      COUNT(*) AS n, TRUE AS users_ok, TRUE AS props_ok
    FROM events GROUP BY 1 ORDER BY 1"""))

  // ---------------------------------------------------------------- q19
  // Streaming event-time tumbling window + watermark, drained with
  // AvailableNow into the memory sink in APPEND mode — the mode the
  // watermark exists for: a window row is emitted exactly once, when the
  // watermark proves it can no longer change, and its state is then
  // EVICTED (complete mode would retain every window forever — unbounded
  // state on an unbounded stream). After the bounded drain (plus its
  // final no-data batch, which flushes evictions) the watermark rests at
  // max(ts) − 1h, so every window ending ≥ 1h + 1min (safety margin)
  // before max(ts) is provably finalized; both the sink output and the
  // batch-twin oracle restrict to that prefix, making the compare exact.
  // StreamingSemanticsSpec proves the eviction (state rows < total
  // windows across a multi-batch drain).
  private val q19 = QueryDef(
    "q19_stream_window",
    (s, dir) => withShuffle(s, StreamStores) {
      val cutUs = finalizedCutUs(s, dir)
      val windowed = eventsStream(s, dir)
        .withWatermark("ts", "1 hour")
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
      drainToMemory(windowed, "append")
        .filter(unix_micros(col("window.end")) <= cutUs)
        .select(
          date_format(col("window.start"), "yyyy-MM-dd HH:00:00").as("hour"),
          col("event_type"), col("n"), col("sum_value"))
        .orderBy(col("hour"), col("event_type"))
    },
    Some(s"""WITH mx AS (
      SELECT MAX(epoch_us(ts)) - 3600000000 - 60000000 AS cut_us FROM events)
    SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:00:00') AS hour,
      event_type, COUNT(*) AS n, ${dsumSql("value")} AS sum_value
    FROM events, mx
    WHERE epoch_us(date_trunc('hour', ts)) + 3600000000 <= cut_us
    GROUP BY 1, 2 ORDER BY hour, event_type"""))

  /** FileStreamSource needs a directory; the sf tables are single files. */
  private def streamDirFor(dir: String, table: String): String = {
    val streamDir = Tables.tmpDir(s"graft-stream-$table")
    java.nio.file.Files.createSymbolicLink(
      streamDir.resolve(s"$table.parquet"),
      java.nio.file.Paths.get(s"$dir/$table.parquet"))
    streamDir.toString
  }

  private def eventsStream(s: org.apache.spark.sql.SparkSession, dir: String) = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val schema = Tables.parquet(s, s"$dir/events.parquet").schema
    // normalizeTs is schema+withColumn only, so it lifts to streams as-is
    Tables.normalizeTs(
      s.readStream
        .schema(schema)
        .parquet(streamDirFor(dir, "events")))
  }

  // ---------------------------------------------------------------- q20
  // Streaming SESSION windows (10-minute gap) per user, drained in APPEND
  // mode — the mode where the watermark actually does its job: a session
  // is emitted exactly once, when the watermark passes its end (last
  // event + gap), and its state row is then EVICTED. Complete mode (the
  // pre-r9 form) re-emitted every session ever seen each micro-batch and
  // never evicted — unbounded state on an unbounded stream. After the
  // bounded drain plus its no-data flush batch the watermark rests at
  // max(ts) − 1h, so every session ending ≤ that − 1min safety margin is
  // provably finalized; sink and oracle both restrict to that prefix.
  // Oracle = the classic gaps-and-islands form (a new session starts when
  // the gap to the previous event is >= 10 minutes — exactly Spark's
  // session_window merge rule, next.ts < prev.ts + gap merges) with
  // session end replayed as max(session ts) + 10min.
  //
  // Scale notes: session state is bounded by |open sessions| and evicted
  // on finalization — StreamingSemanticsSpec proves state rows shrink
  // below the emitted-session count across a multi-batch drain. The
  // per-user rollup happens on the (already tiny) emitted session table
  // because a streaming query cannot chain two aggregations.
  private val q20 = QueryDef(
    "q20_session_windows",
    (s, dir) => withShuffle(s, StreamStores) {
      val cutUs = finalizedCutUs(s, dir)
      val sessions = eventsStream(s, dir)
        .withWatermark("ts", "1 hour")
        .groupBy(session_window(col("ts"), "10 minutes"), col("user_id"))
        .agg(count(lit(1)).as("n_events"))
      drainToMemory(sessions, "append")
        .filter(unix_micros(col("session_window.end")) <= cutUs)
        .groupBy(col("user_id"))
        .agg(
          count(lit(1)).as("n_sessions"),
          sum(col("n_events")).as("n_events"),
          max(col("n_events")).as("max_session_events"))
        .orderBy(col("user_id"))
    },
    Some("""WITH mx AS (
      SELECT MAX(epoch_us(ts)) - 3600000000 - 60000000 AS cut_us FROM events),
    d AS (
      SELECT user_id, ts,
        CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
             >= INTERVAL 10 MINUTE THEN 1 ELSE 0 END AS brk
      FROM events),
    i AS (SELECT user_id, ts,
        SUM(brk) OVER (PARTITION BY user_id ORDER BY ts
                       ROWS UNBOUNDED PRECEDING) AS sess_id
      FROM d),
    g AS (SELECT user_id, sess_id, COUNT(*) AS n_events,
        MAX(epoch_us(ts)) + 600000000 AS sess_end_us
      FROM i GROUP BY 1, 2),
    f AS (SELECT g.* FROM g, mx WHERE g.sess_end_us <= mx.cut_us)
    SELECT user_id, COUNT(*) AS n_sessions,
      CAST(SUM(n_events) AS BIGINT) AS n_events,
      MAX(n_events) AS max_session_events
    FROM f GROUP BY user_id ORDER BY user_id"""))

  // ---------------------------------------------------------------- q21
  // Arbitrary stateful processing: mapGroupsWithState with explicit
  // per-group state (running count / sum-of-value as DECIMAL cents / max),
  // drained bounded and compared against the batch aggregate. The state
  // object is constant-size per group — the shape that scales.
  private val q21 = QueryDef(
    "q21_stateful_type_stats",
    (s, dir) => withShuffle(s, StreamStores) {
      import s.implicits._
      import org.apache.spark.sql.streaming.GroupStateTimeout
      val typed = eventsStream(s, dir)
        .select(col("event_type"), col("value"))
        .as[(String, Double)]
      val stats = typed
        .groupByKey(_._1)
        .mapGroupsWithState[(Long, Long, Double), (String, Long, Double, Double)](
          GroupStateTimeout.NoTimeout) { (key, rows, state) =>
          var (n, cents, mx) = state.getOption.getOrElse((0L, 0L, Double.MinValue))
          rows.foreach { case (_, v) =>
            n += 1
            // exact cents via the same HALF_UP double→DECIMAL(18,2) rule
            // Spark's cast (and the DuckDB oracle) use
            cents += java.math.BigDecimal.valueOf(v)
              .setScale(2, java.math.RoundingMode.HALF_UP)
              .movePointRight(2).longValueExact()
            mx = math.max(mx, v)
          }
          state.update((n, cents, mx))
          (key, n, cents / 100.0, mx)
        }
        .toDF("event_type", "n", "sum_value", "max_value")
      drainToMemory(stats, "update")
        .groupBy(col("event_type")) // last update per group wins
        .agg(max(col("n")).as("n"), max(col("sum_value")).as("sum_value"),
          max(col("max_value")).as("max_value"))
        .orderBy(col("event_type"))
    },
    Some(s"""SELECT event_type, COUNT(*) AS n,
      CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
      MAX(value) AS max_value
    FROM events GROUP BY event_type ORDER BY event_type"""))

  // ---------------------------------------------------------------- q22
  // Streaming exact dedup: dropDuplicates on (user_id, event_type) with a
  // watermark bounding the seen-keys state. The kept representative row
  // per key is batch-order-dependent, so the verified output is the
  // (deterministic) deduped KEY SET aggregated per type.
  private val q22 = QueryDef(
    "q22_stream_dedup",
    (s, dir) => withShuffle(s, StreamStores) {
      val deduped = eventsStream(s, dir)
        .withWatermark("ts", "1 hour")
        .dropDuplicates("user_id", "event_type")
      drainToMemory(deduped, "append")
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_unique_users"))
        .orderBy(col("event_type"))
    },
    Some("""SELECT event_type, COUNT(DISTINCT user_id) AS n_unique_users
    FROM events GROUP BY event_type ORDER BY event_type"""))

  // ---------------------------------------------------------------- q84
  // Streaming dedup with EVICTABLE state: dropDuplicatesWithinWatermark
  // only guarantees dropping duplicates whose event times fall within the
  // watermark delay of each other — which is exactly what lets it evict
  // seen-keys state (q22's plain dropDuplicates holds every key forever;
  // at 100 TB that state never stops growing). The query is shaped so the
  // guarantee is EXACT, not batch-accidental: the dedup key includes the
  // day, so recurrences of (user, type) on different days are distinct
  // keys, and the 25h delay exceeds any intra-day spread — every true
  // duplicate is inside the guarantee window and the deduped key set
  // equals the batch DISTINCT regardless of micro-batch boundaries.
  private val q84 = QueryDef(
    "q84_dedup_within_watermark",
    (s, dir) => withShuffle(s, StreamStores) {
      val deduped = eventsStream(s, dir)
        .withColumn("day", to_date(col("ts")).cast("string"))
        .withWatermark("ts", "25 hours")
        .dropDuplicatesWithinWatermark("user_id", "event_type", "day")
      drainToMemory(deduped, "append")
        .groupBy(col("day"), col("event_type"))
        .agg(count(lit(1)).as("n_unique_users"))
        .orderBy(col("day"), col("event_type"))
    },
    Some("""SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS day, event_type,
      COUNT(DISTINCT user_id) AS n_unique_users
    FROM events GROUP BY 1, 2 ORDER BY day, event_type"""))

  // ---------------------------------------------------------------- q24
  // Streaming SLIDING window (2-hour width, 1-hour slide): each event
  // lands in exactly two windows. Same APPEND-mode drain shape as q19 —
  // a window row is emitted exactly once when the watermark passes its
  // end and its state is evicted (the pre-r9 complete mode re-emitted
  // everything each batch and never evicted). After the drain + no-data
  // flush the watermark rests at max(ts) − 1h; windows ending ≤ that
  // − 1min margin are provably finalized, and sink + oracle both
  // restrict to that prefix. Oracle replays the expansion (starts =
  // trunc(ts, hour) and trunc(ts, hour) − 1h; end = start + 2h). State
  // is |open windows × types|, watermark-bounded and shrinking.
  private val q24 = QueryDef(
    "q24_sliding_window",
    (s, dir) => withShuffle(s, StreamStores) {
      val cutUs = finalizedCutUs(s, dir)
      val windowed = eventsStream(s, dir)
        .withWatermark("ts", "1 hour")
        .groupBy(window(col("ts"), "2 hours", "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
      drainToMemory(windowed, "append")
        .filter(unix_micros(col("window.end")) <= cutUs)
        .select(
          date_format(col("window.start"), "yyyy-MM-dd HH:00:00").as("win_start"),
          col("event_type"), col("n"), col("sum_value"))
        .orderBy(col("win_start"), col("event_type"))
    },
    Some(s"""WITH mx AS (
      SELECT MAX(epoch_us(ts)) - 3600000000 - 60000000 AS cut_us FROM events)
    SELECT strftime(date_trunc('hour', ts) - INTERVAL (o) HOUR,
        '%Y-%m-%d %H:00:00') AS win_start,
      event_type, COUNT(*) AS n, ${dsumSql("value")} AS sum_value
    FROM events CROSS JOIN (VALUES (0), (1)) AS off(o), mx
    WHERE epoch_us(date_trunc('hour', ts) - INTERVAL (o) HOUR) + 7200000000
          <= mx.cut_us
    GROUP BY 1, 2 ORDER BY win_start, event_type"""))

  // ---------------------------------------------------------------- q40
  // transformWithState — Spark 4's arbitrary-stateful-processing operator
  // (the successor to q21's mapGroupsWithState): typed ValueState per key
  // via the StatefulProcessor handle, RocksDB-backed (the API requires the
  // RocksDB provider — which is also the store you'd run at 100 TB: state
  // spills to disk + changelog checkpointing instead of living on the
  // JVM heap). Per-user running profile (events, purchases, last-seen
  // timestamp); constant-size state per key, update-mode emissions,
  // bounded drain → exact batch oracle.
  /** Per-user running profile carried in [[ProfileProcessor]]'s ValueState. */
  private[analytics] case class UserProfile(n: Long, nPurchase: Long, lastUs: Long)

  private[analytics] class ProfileProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, (Long, String, Long), (Long, Long, Long, Long)] {
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode, TimerValues, TTLConfig, ValueState}
    @transient private var state: ValueState[UserProfile] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      state = getHandle.getValueState[UserProfile](
        "profile", org.apache.spark.sql.Encoders.product[UserProfile], TTLConfig.NONE)
    override def handleInputRows(
        key: Long,
        rows: Iterator[(Long, String, Long)],
        timerValues: TimerValues): Iterator[(Long, Long, Long, Long)] = {
      var p = if (state.exists()) state.get() else UserProfile(0L, 0L, Long.MinValue)
      rows.foreach { case (_, typ, us) =>
        p = UserProfile(
          p.n + 1,
          p.nPurchase + (if (typ == "purchase") 1L else 0L),
          math.max(p.lastUs, us))
      }
      state.update(p)
      Iterator.single((key, p.n, p.nPurchase, p.lastUs))
    }
  }

  private val q40 = QueryDef(
    "q40_transform_with_state",
    (s, dir) => withShuffle(s, StreamStores) {
      import s.implicits._
      import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
      withConfs(s, RocksDbState) {
        val typed = eventsStream(s, dir)
          .select(col("user_id"), col("event_type"), unix_micros(col("ts")).as("us"))
          .as[(Long, String, Long)]
        val profiles = typed
          .groupByKey(_._1)
          .transformWithState(new ProfileProcessor, TimeMode.None(), OutputMode.Update())
          .toDF("user_id", "n_events", "n_purchases", "last_us")
        drainToMemory(profiles, "update")
          .groupBy(col("user_id")) // last update per key wins
          .agg(max(col("n_events")).as("n_events"),
            max(col("n_purchases")).as("n_purchases"),
            max(col("last_us")).as("last_us"))
          .orderBy(col("user_id"))
      }
    },
    Some("""SELECT user_id, COUNT(*) AS n_events,
      CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n_purchases,
      MAX(epoch_us(ts)) AS last_us
    FROM events GROUP BY user_id ORDER BY user_id"""))

  // ---------------------------------------------------------------- q37
  // Approx percentiles (GK sketch) — the quantile member of the sketch
  // family (q18 = HLL distinct). Constant-size state per group; the
  // scale-safe replacement for q29's exact buffering when the value
  // domain is unbounded. DuckDB's approx_quantile is a different sketch,
  // so the emitted columns are the exact interpolated percentiles (the
  // q29 pairing: Spark `percentile` = DuckDB `quantile_cont`) plus
  // rank-space booleans for the sketch: approx_percentile(accuracy=1e4)
  // guarantees rank error ≤ n·1e-4, and the returned value is a real
  // data element, so the tie-aware check is that the value's rank window
  // [count(<v), count(≤v)] intersects [q−ε, q+ε]·n with ε = 1e-3 (10×
  // the guarantee). One broadcast join back to the fact computes all
  // three windows in a single extra pass.
  private val q37 = QueryDef(
    "q37_approx_percentiles",
    (s, dir) => {
      val li = rd(s, dir, "lineitem")
      val approx = li
        .groupBy(col("l_returnflag"))
        .agg(
          expr("approx_percentile(l_quantity, array(0.25, 0.5, 0.75), 10000)").as("aq"),
          round(expr("percentile(l_quantity, 0.25)"), 6).as("p25"),
          round(expr("percentile(l_quantity, 0.5)"), 6).as("p50"),
          round(expr("percentile(l_quantity, 0.75)"), 6).as("p75"),
          count(lit(1)).as("n"))
        .select(col("l_returnflag"),
          element_at(col("aq"), 1).as("a25"),
          element_at(col("aq"), 2).as("a50"),
          element_at(col("aq"), 3).as("a75"),
          col("p25"), col("p50"), col("p75"), col("n"))
      val eps = 0.001
      def rankOk(q: Double, lt: Column, le: Column, n: Column): Column =
        (lt <= (lit(q) + eps) * n) && (le >= (lit(q) - eps) * n)
      li.join(broadcast(approx), "l_returnflag")
        .groupBy(col("l_returnflag"))
        .agg(
          first(col("p25")).as("p25"), first(col("p50")).as("p50"),
          first(col("p75")).as("p75"), first(col("n")).as("n"),
          sum(when(col("l_quantity") < col("a25"), 1L).otherwise(0L)).as("lt25"),
          sum(when(col("l_quantity") <= col("a25"), 1L).otherwise(0L)).as("le25"),
          sum(when(col("l_quantity") < col("a50"), 1L).otherwise(0L)).as("lt50"),
          sum(when(col("l_quantity") <= col("a50"), 1L).otherwise(0L)).as("le50"),
          sum(when(col("l_quantity") < col("a75"), 1L).otherwise(0L)).as("lt75"),
          sum(when(col("l_quantity") <= col("a75"), 1L).otherwise(0L)).as("le75"))
        .select(col("l_returnflag"),
          col("p25"), col("p50"), col("p75"), col("n"),
          rankOk(0.25, col("lt25"), col("le25"), col("n")).as("ok25"),
          rankOk(0.50, col("lt50"), col("le50"), col("n")).as("ok50"),
          rankOk(0.75, col("lt75"), col("le75"), col("n")).as("ok75"))
        .orderBy(col("l_returnflag"))
    },
    Some("""SELECT l_returnflag,
      round(quantile_cont(l_quantity, 0.25), 6) AS p25,
      round(quantile_cont(l_quantity, 0.5), 6) AS p50,
      round(quantile_cont(l_quantity, 0.75), 6) AS p75,
      COUNT(*) AS n, TRUE AS ok25, TRUE AS ok50, TRUE AS ok75
    FROM lineitem GROUP BY 1 ORDER BY 1"""))

  // ---------------------------------------------------------------- q30
  // STREAM-STREAM interval join: clicks joined to purchases by the same
  // user within 30 minutes, both sides watermarked so join state is
  // droppable (the whole point of the operator at scale — without the
  // time bound + watermarks, both sides buffer forever). Inner-join
  // matches emit eagerly; the bounded AvailableNow drain sees all of a
  // finite replay, so the batch twin is an exact oracle.
  private val q30 = QueryDef(
    "q30_stream_stream_join",
    (s, dir) => withShuffle(s, StreamStores) {
      val joined = clickPurchaseJoin(s, dir, "inner")
      drainToMemory(joined, "append")
        .groupBy(col("c_user").as("user_id"))
        .agg(
          count(lit(1)).as("n_pairs"),
          sum(unix_micros(col("p_ts")) - unix_micros(col("c_ts"))).as("sum_gap_us"))
        .orderBy(col("user_id"))
    },
    Some("""SELECT c.user_id AS user_id, COUNT(*) AS n_pairs,
      CAST(SUM(epoch_us(p.ts) - epoch_us(c.ts)) AS BIGINT) AS sum_gap_us
    FROM events c JOIN events p
      ON c.event_type = 'click' AND p.event_type = 'purchase'
     AND p.user_id = c.user_id
     AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 30 MINUTE
    GROUP BY c.user_id ORDER BY 1"""))

  // ---------------------------------------------------------------- q81
  // STREAM-STREAM **LEFT OUTER** interval join: q30's shape, but
  // unmatched clicks must ALSO surface (with null purchase columns) —
  // and an outer result can only emit once the watermark proves no match
  // can still arrive, i.e. when c_ts + 30min falls below the join's
  // global watermark (min of both sides). Outer joins only run in append
  // mode, so finalization timing is part of the semantics: after the
  // bounded AvailableNow drain (plus its final no-data batch, which
  // flushes evictions) the watermark rests at max(ts) − 1h, and every
  // click older than max(ts) − 2h is provably finalized — both the sink
  // output and the batch-twin oracle restrict to that prefix, making the
  // comparison exact. The streams themselves are NOT pre-filtered: a
  // filtered left side would drag ITS max event time (and therefore the
  // global watermark) backwards and un-finalize rows near the cut.
  private val q81 = QueryDef(
    "q81_stream_left_outer",
    (s, dir) => withShuffle(s, StreamStores) {
      // Finalized clicks are those a further 30min (join bound) + 1min
      // safety margin below the join's final watermark.
      val cutUs = joinWatermarkUs(s, dir, "q81", 3600000000L, 3600000000L) - 1800000000L - 60000000L
      val joined = clickPurchaseJoin(s, dir, "left_outer")
      drainToMemory(joined, "append")
        .filter(unix_micros(col("c_ts")) <= cutUs)
        .groupBy(col("c_user").as("user_id"))
        .agg(
          count(lit(1)).as("n_rows"),
          sum(when(col("p_ts").isNull, 1L).otherwise(0L)).as("n_unmatched"),
          sum(when(col("p_ts").isNotNull,
            unix_micros(col("p_ts")) - unix_micros(col("c_ts")))
            .otherwise(0L)).as("sum_gap_us"))
        .orderBy(col("user_id"))
    },
    Some(s"""WITH ${joinCutCte("cut_us", 1800000000L, 60000000L)},
    c AS (SELECT user_id, ts FROM events, mx
          WHERE event_type = 'click' AND epoch_us(ts) <= cut_us),
    p AS (SELECT user_id, ts FROM events WHERE event_type = 'purchase'),
    j AS (SELECT c.user_id, c.ts AS c_ts, p.ts AS p_ts
          FROM c LEFT JOIN p
            ON p.user_id = c.user_id
           AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 30 MINUTE)
    SELECT user_id, COUNT(*) AS n_rows,
      CAST(SUM(CASE WHEN p_ts IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_unmatched,
      CAST(SUM(CASE WHEN p_ts IS NOT NULL
               THEN epoch_us(p_ts) - epoch_us(c_ts) ELSE 0 END) AS BIGINT) AS sum_gap_us
    FROM j GROUP BY 1 ORDER BY 1"""))

  // ---------------------------------------------------------------- q38
  // STREAM-STATIC join: the streaming fact enriched against a batch
  // dimension, broadcast into every micro-batch — the classic production
  // enrichment shape (no state store on the static side; the stream side
  // aggregates after the join). Bounded drain → exact batch oracle.
  // Complete mode is state-SAFE here (unlike the pre-r9 q20/q24): the
  // aggregate keys on (segment × event_type), a key-domain-bounded ~25
  // rows of state regardless of stream length — complete mode's
  // retained result table IS the answer, it cannot grow with the data.
  private val q38 = QueryDef(
    "q38_stream_static_join",
    (s, dir) => withShuffle(s, StreamStores) {
      val tiers = rd(s, dir, "customer")
        .select(col("c_custkey").as("user_id"), col("c_mktsegment").as("segment"))
      val joined = eventsStream(s, dir)
        // size-gated hint: customer is SF-proportional; below the gate the
        // static side broadcasts per batch, above it the per-batch
        // planner picks a shuffled join — never a forced huge broadcast
        .join(Tables.bcastIfSmall(tiers, dir, "customer"), "user_id")
        .groupBy(col("segment"), col("event_type"))
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
      drainToMemory(joined, "complete").orderBy(col("segment"), col("event_type"))
    },
    Some(s"""SELECT c_mktsegment AS segment, event_type,
      COUNT(*) AS n, ${dsumSql("value")} AS sum_value
    FROM events JOIN customer ON user_id = c_custkey
    GROUP BY 1, 2 ORDER BY segment, event_type"""))

  // --------------------------------------------------------------- q111
  // STREAM-STATIC **LEFT ANTI** join: every micro-batch keeps the events
  // whose user is NOT in the broadcast allowlist (the BUILDING-segment
  // customers) — the streaming audit/filter shape (denylist routing,
  // orphan detection) that q38's enrichment join doesn't exercise. The
  // static side broadcasts; no state store is involved at all (anti
  // against a static table is stateless per batch), so the operator's
  // scale cost is exactly the broadcast hash lookup. Bounded drain ⇒
  // the batch NOT-EXISTS twin is an exact oracle.
  private val q111 = QueryDef(
    "q111_stream_static_anti",
    (s, dir) => withShuffle(s, StreamStores) {
      val allow = rd(s, dir, "customer")
        .filter(col("c_mktsegment") === "BUILDING")
        .select(col("c_custkey").as("user_id"))
      val kept = eventsStream(s, dir)
        .join(broadcast(allow), Seq("user_id"), "left_anti")
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
      drainToMemory(kept, "complete").orderBy(col("event_type"))
    },
    Some(s"""SELECT event_type, COUNT(*) AS n, ${dsumSql("value")} AS sum_value
    FROM events e
    WHERE NOT EXISTS (SELECT 1 FROM customer c
      WHERE c.c_custkey = e.user_id AND c.c_mktsegment = 'BUILDING')
    GROUP BY 1 ORDER BY 1"""))

  // ---------------------------------------------------------------- q54
  // Streaming UPSERT-maintained result table (graft.streaming.StreamUpsert):
  // the events table is re-laid as three files and streamed one file per
  // micro-batch, each batch merging per-(event_type, day) partials into a
  // parquet result table; after the drain the TABLE (not a sink view) is
  // read back and must equal the one-shot batch aggregate — the oracle
  // proves the merge is exactly-once-equivalent across batch boundaries.
  // Measures stay exact while stored (count + DECIMAL sum; double only at
  // the final read), so merge order cannot drift the result.
  private val q54 = QueryDef(
    "q54_stream_upsert",
    (s, dir) => withShuffle(s, StreamStores) {
      // normalized at staging time, so the streamed copy always carries
      // a plain TimestampType ts whatever the source encoding was
      val stream = stagedStream(s, "q54",
        (0 until 3).map(k => Tables.events(s, dir).filter(col("event_id") % 3 === k)))
      val partials = (b: org.apache.spark.sql.DataFrame) => b
        .select(col("event_type"),
          expr("unix_micros(ts) DIV 86400000000").as("day"),
          col("value"))
        .groupBy(col("event_type"), col("day"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast(org.apache.spark.sql.types.DecimalType(18, 2))).as("sum_value"))
      val tablePath =
        Tables.tmpDir("graft-q54-table").toString + "/result"
      graft.streaming.StreamUpsert.run(
        stream, partials, Seq("event_type", "day"), Seq("n", "sum_value"), tablePath)
      graft.streaming.StreamUpsert.readTable(s, tablePath)
        .select(col("event_type"), col("day"), col("n"),
          col("sum_value").cast("double").as("sum_value"))
        .orderBy(col("event_type"), col("day"))
    },
    Some("""SELECT event_type, epoch_us(ts) // 86400000000 AS day,
      COUNT(*) AS n,
      CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
    FROM events GROUP BY 1, 2 ORDER BY 1, 2"""))

  // ---------------------------------------------------------------- q112
  // Streaming keyed MERGE against a BUCKETED state table
  // (graft.streaming.KeyedMerge) — q54's additive ledger generalized to
  // per-key UPDATE rules: each micro-batch reduces to one row per user
  // (event count + the LATEST event by (ts, event_id), a non-additive
  // last-write-wins field), then MERGE-joins the stored state — matched
  // keys combine counts and keep the newer latest-struct, unmatched keys
  // insert. State versions are bucketed by user_id, so the per-batch
  // merge join reads the state with no Exchange (KeyedMergeSpec pins the
  // plan; the two-phase commit gives exactly-once under foreachBatch
  // retries). After a 3-batch drain the committed table must equal the
  // one-shot batch answer — proving the merge rule is batch-boundary-
  // invariant even though "latest" is NOT additive. Determinism: the
  // latest-struct max is lexicographic on (ts, event_id), a total order
  // because event_id is unique; counts are exact; value is carried, not
  // summed.
  private val q112 = QueryDef(
    "q112_stream_keyed_merge",
    (s, dir) => withShuffle(s, StreamStores) {
      val stream = stagedStream(s, "q112",
        (0 until 3).map(k => Tables.events(s, dir).filter(col("event_id") % 3 === k)))
      val reduce = (b: org.apache.spark.sql.DataFrame) => b
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_events"),
          max(struct(col("ts"), col("event_id"), col("event_type"),
            col("value"))).as("last"))
      val merge = (state: org.apache.spark.sql.DataFrame,
          batch: org.apache.spark.sql.DataFrame) =>
        state.as("t").join(batch.as("b"), Seq("user_id"), "full_outer")
          .select(col("user_id"),
            (coalesce(col("t.n_events"), lit(0L)) +
              coalesce(col("b.n_events"), lit(0L))).as("n_events"),
            // greatest skips NULLs: unmatched sides pass the other through
            greatest(col("t.last"), col("b.last")).as("last"))
      s.sql(s"CREATE DATABASE IF NOT EXISTS graft_q112 LOCATION '${Tables.tmp("graft-q112-db")}'")
      val tablePath =
        Tables.tmpDir("graft-q112-table").toString + "/state"
      // version tables are catalog-registered; a fresh per-invocation base
      // name keeps warm re-runs in one session from colliding
      val tableBase =
        "graft_q112.state_" + Integer.toHexString(tablePath.hashCode)
      graft.streaming.KeyedMerge.run(
        stream, reduce, merge, tableBase, tablePath, "user_id", 8)
      graft.streaming.KeyedMerge.readTable(s, tableBase, tablePath)
        .select(col("user_id"), col("n_events"),
          col("last.event_type").as("last_event_type"),
          col("last.value").as("last_value"),
          unix_micros(col("last.ts")).as("last_ts_us"),
          col("last.event_id").as("last_event_id"))
        .orderBy(col("user_id"))
    },
    Some("""WITH last AS (
      SELECT user_id, event_type AS last_event_type, value AS last_value,
        epoch_us(ts) AS last_ts_us, event_id AS last_event_id,
        ROW_NUMBER() OVER (PARTITION BY user_id
          ORDER BY ts DESC, event_id DESC) AS rn
      FROM events),
    agg AS (SELECT user_id, COUNT(*) AS n_events FROM events GROUP BY user_id)
    SELECT a.user_id, a.n_events, l.last_event_type, l.last_value,
      l.last_ts_us, l.last_event_id
    FROM agg a JOIN last l ON l.user_id = a.user_id AND l.rn = 1
    ORDER BY a.user_id"""))

  // ---------------------------------------------------------------- q113
  // Snapshot-diff CDC over the KeyedMerge version chain — "what did the
  // last ingest change": the retention policy keeps the current and the
  // immediately-superseded state snapshot, so diffing them yields the
  // per-key changelog of the last batch (insert vs update, before/after
  // measures) WITHOUT any per-row change tracking in the write path —
  // the table-format changelog idiom, derived from snapshots. Batches
  // here are DEFINED deterministically so the oracle can replay the same
  // prefix states: purchases land only in the final batch (batch 2),
  // every other event in batch `event_id % 3` — so (user, 'purchase')
  // keys are genuine INSERTs of the last batch while touched
  // non-purchase keys are UPDATEs, and both CDC branches carry rows.
  // State is keyed by (user_id, event_type) and bucketed by user_id — a
  // SUBSET of the merge key, one bucket spec across any key refinement.
  // Subset co-location is real but OPT-IN in Spark: joins exploit it
  // only under requireAllClusterKeysForCoPartition=false (+ forced
  // bucketed scan) — KeyedMergeSpec pins that Exchange-free plan; under
  // default confs the diff join shuffles both sides, which is
  // |keys|-bounded state, never corpus-sized. Change detection by count
  // is exact: any batch event for a key increments n_events, so
  // n_before <> n_after ⇔ touched.
  private val q113 = QueryDef(
    "q113_snapshot_cdc",
    (s, dir) => withShuffle(s, StreamStores) {
      val ev = Tables.events(s, dir)
        .withColumn("batch_k",
          when(col("event_type") === "purchase", lit(2L))
            .otherwise(col("event_id") % 3))
      val reduce = (b: org.apache.spark.sql.DataFrame) => b
        .groupBy(col("user_id"), col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          max(struct(col("ts"), col("event_id"))).as("last"))
      val merge = (state: org.apache.spark.sql.DataFrame,
          batch: org.apache.spark.sql.DataFrame) =>
        state.as("t").join(batch.as("b"),
            Seq("user_id", "event_type"), "full_outer")
          .select(col("user_id"), col("event_type"),
            (coalesce(col("t.n_events"), lit(0L)) +
              coalesce(col("b.n_events"), lit(0L))).as("n_events"),
            greatest(col("t.last"), col("b.last")).as("last"))
      s.sql(s"CREATE DATABASE IF NOT EXISTS graft_q113 LOCATION '${Tables.tmp("graft-q113-db")}'")
      val tablePath =
        Tables.tmpDir("graft-q113-table").toString + "/state"
      val base =
        "graft_q113.state_" + Integer.toHexString(tablePath.hashCode)
      (0L to 2L).foreach { k =>
        graft.streaming.KeyedMerge.applyBatch(
          ev.filter(col("batch_k") === k), k,
          reduce, merge, base, tablePath, "user_id", 8)
      }
      val Seq(prevV, curV) =
        graft.streaming.KeyedMerge.commits(s, tablePath).takeRight(2)
      val cur = graft.streaming.KeyedMerge.readVersion(s, base, curV).as("n")
      val prev = graft.streaming.KeyedMerge.readVersion(s, base, prevV)
        .select(col("user_id"), col("event_type"),
          col("n_events").as("n_before"))
      cur.join(prev, Seq("user_id", "event_type"), "left")
        .filter(col("n_before").isNull || col("n_before") =!= col("n_events"))
        .select(col("user_id"), col("event_type"),
          when(col("n_before").isNull, lit("insert"))
            .otherwise(lit("update")).as("change"),
          coalesce(col("n_before"), lit(0L)).as("n_before"),
          col("n_events").as("n_after"),
          unix_micros(col("last.ts")).as("last_ts_us"),
          col("last.event_id").as("last_event_id"))
        .orderBy(col("user_id"), col("event_type"))
    },
    Some("""WITH before AS (
      SELECT user_id, event_type, COUNT(*) AS n FROM events
      WHERE event_type <> 'purchase' AND event_id % 3 < 2
      GROUP BY user_id, event_type),
    after AS (SELECT user_id, event_type, COUNT(*) AS n FROM events
      GROUP BY user_id, event_type),
    last AS (SELECT user_id, event_type, epoch_us(ts) AS last_ts_us,
        event_id AS last_event_id
      FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id, event_type
              ORDER BY ts DESC, event_id DESC) AS rn FROM events)
      WHERE rn = 1)
    SELECT a.user_id, a.event_type,
      CASE WHEN b.user_id IS NULL THEN 'insert' ELSE 'update' END AS change,
      COALESCE(b.n, 0) AS n_before, a.n AS n_after,
      l.last_ts_us, l.last_event_id
    FROM after a
    LEFT JOIN before b
      ON b.user_id = a.user_id AND b.event_type = a.event_type
    JOIN last l
      ON l.user_id = a.user_id AND l.event_type = a.event_type
    WHERE b.user_id IS NULL OR a.n <> b.n
    ORDER BY a.user_id, a.event_type"""))

  // ---------------------------------------------------------------- q115
  // Keyed MERGE with the DELETE branch — the tombstone path q112/q113's
  // update/insert machinery lacked (the streaming analogue of WHEN NOT
  // MATCHED BY SOURCE THEN DELETE): batches 0 and 1 build per-user state
  // from normal events (deterministic event_id % 2 split), then batch 2
  // is a RECONCILIATION TOMBSTONE batch — it carries only the fatal
  // error records (event_type = 'error' with event_id ≡ 0 mod 21, a
  // deterministic "account closed" subset), its reduce is empty, and its
  // deleteKeys wipe every tombstoned user's state, so those keys are
  // genuinely ABSENT from the final snapshot (not zeroed). This is the
  // upstream-CDC-feed shape: deletes arrive as explicit tombstone
  // records, not inferred from absence. Scale: the delete is an anti
  // join on the bucket key BEFORE the merge rule, so the bucketed state
  // scan's partitioning flows through the whole chain — zero state-side
  // Exchange, only the |tombstones| key set shuffles (KeyedMergeSpec
  // pins the plan and the delete-then-reseed/replay semantics).
  private val q115 = QueryDef(
    "q115_merge_tombstones",
    (s, dir) => withShuffle(s, StreamStores) {
      val fatal = col("event_type") === "error" && col("event_id") % 21 === 0
      val ev = Tables.events(s, dir)
      val reduce = (b: org.apache.spark.sql.DataFrame) => b
        .filter(!(col("event_type") === "error" && col("event_id") % 21 === 0))
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_events"),
          max(struct(col("ts"), col("event_id"), col("event_type"))).as("last"))
      val merge = (state: org.apache.spark.sql.DataFrame,
          batch: org.apache.spark.sql.DataFrame) =>
        state.as("t").join(batch.as("b"), Seq("user_id"), "full_outer")
          .select(col("user_id"),
            (coalesce(col("t.n_events"), lit(0L)) +
              coalesce(col("b.n_events"), lit(0L))).as("n_events"),
            greatest(col("t.last"), col("b.last")).as("last"))
      val tombstones = Some((b: org.apache.spark.sql.DataFrame) =>
        b.filter(col("event_type") === "error" && col("event_id") % 21 === 0)
          .select(col("user_id")))
      s.sql(s"CREATE DATABASE IF NOT EXISTS graft_q115 LOCATION '${Tables.tmp("graft-q115-db")}'")
      val tablePath =
        Tables.tmpDir("graft-q115-table").toString + "/state"
      val base =
        "graft_q115.state_" + Integer.toHexString(tablePath.hashCode)
      (0L to 1L).foreach { k =>
        graft.streaming.KeyedMerge.applyBatch(
          ev.filter(!fatal && col("event_id") % 2 === k), k,
          reduce, merge, base, tablePath, "user_id", 8,
          deleteKeys = tombstones)
      }
      graft.streaming.KeyedMerge.applyBatch(
        ev.filter(fatal), 2L,
        reduce, merge, base, tablePath, "user_id", 8,
        deleteKeys = tombstones)
      graft.streaming.KeyedMerge.readTable(s, base, tablePath)
        .select(col("user_id"), col("n_events"),
          col("last.event_type").as("last_event_type"),
          unix_micros(col("last.ts")).as("last_ts_us"),
          col("last.event_id").as("last_event_id"))
        .orderBy(col("user_id"))
    },
    Some("""WITH del AS (
      SELECT DISTINCT user_id FROM events
      WHERE event_type = 'error' AND event_id % 21 = 0),
    surv AS (
      SELECT e.* FROM events e
      WHERE e.user_id NOT IN (SELECT user_id FROM del)),
    agg AS (SELECT user_id, COUNT(*) AS n_events FROM surv GROUP BY user_id),
    last AS (SELECT user_id, event_type AS last_event_type,
        epoch_us(ts) AS last_ts_us, event_id AS last_event_id
      FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
              ORDER BY ts DESC, event_id DESC) AS rn FROM surv)
      WHERE rn = 1)
    SELECT a.user_id, a.n_events, l.last_event_type, l.last_ts_us,
      l.last_event_id
    FROM agg a JOIN last l USING (user_id)
    ORDER BY a.user_id"""))

  // ---------------------------------------------------------------- q62
  // Streaming FILE sink: the exactly-once ETL shape the reference's
  // foreachBatch path approximates — stream → project → partitioned
  // parquet sink with a checkpoint + write-ahead file manifest (readers
  // see only committed files, so replays never double-count), drained
  // with AvailableNow, then the landed table is read back and aggregated
  // against the batch oracle. Partitioning by the routing column on the
  // SINK is the day-partition discipline of the ingest pipeline; no
  // stateful operator, so every row lands regardless of watermark.
  private val q62 = QueryDef(
    "q62_stream_file_sink",
    (s, dir) => withShuffle(s, StreamStores) {
      val out = Tables.tmp("graft-q62-sink")
      val ckpt = Tables.tmp("graft-q62-ckpt")
      drain(eventsStream(s, dir)
        .select(col("event_id"), col("ts"), col("user_id"),
          col("event_type"), col("value"))
        .writeStream
        .format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .partitionBy("event_type"))
      s.read.parquet(out)
        .groupBy(col("event_type"))
        .agg(
          count(lit(1)).as("n"),
          countDistinct(col("user_id")).as("n_users"),
          dsum(col("value")).as("sum_value"))
        .orderBy(col("event_type"))
    },
    Some(s"""SELECT event_type, COUNT(*) AS n,
      CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
      ${dsumSql("value")} AS sum_value
    FROM events GROUP BY event_type ORDER BY event_type"""))

  // ---------------------------------------------------------------- q69
  // Custom DSv2 micro-batch source ([[graft.sources.SynthSource]] in
  // streaming mode): row-position offsets checkpoint like Kafka offsets,
  // and admission control caps each batch at 10k rows — the
  // maxOffsetsPerTrigger discipline (SURVEY §2.7) implemented INSIDE a
  // connector rather than around one. A bounded AvailableNow drain over
  // 50k rows therefore runs ≥5 real micro-batches whose complete-mode
  // aggregate must equal the one-shot oracle over the same generated
  // range — proving batch boundaries never split or double-count rows.
  // Complete mode is state-safe here: the aggregate keys on event_type
  // (5 groups) — key-domain-bounded state, not stream-length-bounded.
  private val q69 = QueryDef(
    "q69_dsv2_stream",
    (s, _) => withShuffle(s, StreamStores) {
      val stream = s.readStream
        .format(classOf[graft.sources.SynthSource].getName)
        .option("rows", 50000).option("parts", 8)
        .option("maxRowsPerBatch", 10000)
        .load()
      val agg = stream
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))
      drainToMemory(agg, "complete").orderBy(col("event_type"))
    },
    Some(s"""WITH g AS (SELECT range AS id FROM range(50000))
    SELECT ${graft.sources.SynthSource.typeSql("id")} AS event_type,
      COUNT(*) AS n,
      CAST(SUM(${graft.sources.SynthSource.valueSql("id")}) AS BIGINT) AS sum_value
    FROM g GROUP BY 1 ORDER BY 1"""))

  // ---------------------------------------------------------------- q75
  // flatMapGroupsWithState — the multi-row-emission arbitrary-state API
  // (q21 maps one row per group, q40 is the typed-handle successor):
  // each event_type group carries a bucket→count histogram as state and
  // re-emits EVERY bucket's running total each batch — one input group
  // fanning out to many output rows, which mapGroupsWithState cannot
  // express. Counts are monotone, so the update-mode sink resolves to
  // max per (type, bucket); state is bounded by the bucket domain
  // (constant per group at any scale).
  private val q75 = QueryDef(
    "q75_flatmap_groups_state",
    (s, dir) => withShuffle(s, StreamStores) {
      import s.implicits._
      import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
      val typed = eventsStream(s, dir)
        .select(col("event_type"), col("value"))
        .as[(String, Double)]
      val hist = typed
        .groupByKey(_._1)
        .flatMapGroupsWithState[Map[Long, Long], (String, Long, Long)](
          OutputMode.Update(), GroupStateTimeout.NoTimeout) { (key, rows, state) =>
          var m = state.getOption.getOrElse(Map.empty[Long, Long])
          rows.foreach { case (_, v) =>
            val b = math.floor(v / 100.0).toLong
            m = m.updated(b, m.getOrElse(b, 0L) + 1)
          }
          state.update(m)
          m.iterator.map { case (b, n) => (key, b, n) }
        }
        .toDF("event_type", "bucket", "n")
      drainToMemory(hist, "update")
        .groupBy(col("event_type"), col("bucket")) // counts are monotone
        .agg(max(col("n")).as("n"))
        .orderBy(col("event_type"), col("bucket"))
    },
    Some("""SELECT event_type, CAST(FLOOR(value / 100) AS BIGINT) AS bucket,
      COUNT(*) AS n
    FROM events GROUP BY 1, 2 ORDER BY event_type, bucket"""))

  // ---------------------------------------------------------------- q76
  // DYNAMIC-gap session windows: session_window with a gap EXPRESSION —
  // each group's inactivity threshold derives from its own key (clicks
  // sessionize at 5 min, views at 10, the rest at 30), which the
  // fixed-gap q20 form can't express. Same APPEND-mode emit-once-and-
  // evict story as q20 (state bounded by |open sessions|; the watermark
  // finalizes them — r9 converted this from complete mode, which never
  // evicted). The merge rule per group degenerates to a fixed gap
  // because the gap depends only on the group key, so the
  // gaps-and-islands oracle replays it exactly, with session end =
  // last event + gap(event_type) and both sides restricted to the
  // watermark-finalized prefix (end ≤ max(ts) − 1h − 1min margin).
  private val q76 = QueryDef(
    "q76_dynamic_session_gap",
    (s, dir) => withShuffle(s, StreamStores) {
      val cutUs = finalizedCutUs(s, dir)
      val gap = when(col("event_type") === "click", "5 minutes")
        .when(col("event_type") === "view", "10 minutes")
        .otherwise("30 minutes")
      val sessions = eventsStream(s, dir)
        .withWatermark("ts", "1 hour")
        .groupBy(session_window(col("ts"), gap), col("event_type"))
        .agg(count(lit(1)).as("n_events"))
      drainToMemory(sessions, "append")
        .filter(unix_micros(col("session_window.end")) <= cutUs)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_sessions"),
          sum(col("n_events")).cast("long").as("n_events"),
          max(col("n_events")).as("max_session_events"))
        .orderBy(col("event_type"))
    },
    Some("""WITH mx AS (
      SELECT MAX(epoch_us(ts)) - 3600000000 - 60000000 AS cut_us FROM events),
    d AS (
      SELECT event_type, ts,
        CASE WHEN ts - lag(ts) OVER (PARTITION BY event_type ORDER BY ts)
             >= CASE event_type WHEN 'click' THEN INTERVAL 5 MINUTE
                                WHEN 'view' THEN INTERVAL 10 MINUTE
                                ELSE INTERVAL 30 MINUTE END
             THEN 1 ELSE 0 END AS brk
      FROM events),
    i AS (SELECT event_type, ts,
        SUM(brk) OVER (PARTITION BY event_type ORDER BY ts
                       ROWS UNBOUNDED PRECEDING) AS sess_id
      FROM d),
    g AS (SELECT event_type, sess_id, COUNT(*) AS n_events,
        MAX(epoch_us(ts)) + CASE event_type WHEN 'click' THEN 300000000
                                            WHEN 'view' THEN 600000000
                                            ELSE 1800000000 END AS sess_end_us
      FROM i GROUP BY 1, 2),
    f AS (SELECT g.* FROM g, mx WHERE g.sess_end_us <= mx.cut_us)
    SELECT event_type, COUNT(*) AS n_sessions,
      CAST(SUM(n_events) AS BIGINT) AS n_events,
      MAX(n_events) AS max_session_events
    FROM f GROUP BY event_type ORDER BY event_type"""))

  // ---------------------------------------------------------------- q95
  // STREAM-STREAM **FULL OUTER** interval join — completes the join-mode
  // matrix (inner q30, left-outer q81): unmatched rows from BOTH sides
  // surface with null opposite columns, each only once the watermark
  // proves no match can still arrive (left evicts when c_ts + 30min
  // falls below the global watermark, right when p_ts does). The
  // finalized prefix is two-sided: a sink row is comparable when every
  // NON-NULL timestamp on it is ≤ cut = min(side maxima) − 1h (delay)
  // − 30min (join bound) − 1min (margin) — and the batch twin applies
  // the SAME both-nonnull-≤-cut filter to the full-table FULL JOIN, so
  // a click matched only by a beyond-cut purchase is excluded from both
  // sides identically (it is matched in both, filtered in both — never
  // spuriously "unmatched" in one engine).
  private val q95 = QueryDef(
    "q95_stream_full_outer",
    (s, dir) => withShuffle(s, StreamStores) {
      val cutUs = joinWatermarkUs(s, dir, "q95", 3600000000L, 3600000000L) - 1800000000L - 60000000L
      val joined = clickPurchaseJoin(s, dir, "full_outer")
      drainToMemory(joined, "append")
        .filter(
          (col("c_ts").isNull || unix_micros(col("c_ts")) <= cutUs) &&
            (col("p_ts").isNull || unix_micros(col("p_ts")) <= cutUs))
        .groupBy(coalesce(col("c_user"), col("p_user")).as("user_id"))
        .agg(
          count(lit(1)).as("n_rows"),
          sum(when(col("p_ts").isNull, 1L).otherwise(0L)).as("n_click_only"),
          sum(when(col("c_ts").isNull, 1L).otherwise(0L)).as("n_purchase_only"),
          sum(when(col("c_ts").isNotNull && col("p_ts").isNotNull,
            unix_micros(col("p_ts")) - unix_micros(col("c_ts")))
            .otherwise(0L)).as("sum_gap_us"))
        .orderBy(col("user_id"))
    },
    Some(s"""WITH ${joinCutCte("cut_us", 1800000000L, 60000000L)},
    c AS (SELECT user_id, ts FROM events WHERE event_type = 'click'),
    p AS (SELECT user_id, ts FROM events WHERE event_type = 'purchase'),
    j AS (SELECT c.user_id AS c_user, p.user_id AS p_user,
                 c.ts AS c_ts, p.ts AS p_ts
          FROM c FULL JOIN p
            ON p.user_id = c.user_id
           AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 30 MINUTE),
    f AS (SELECT * FROM j, mx
          WHERE (c_ts IS NULL OR epoch_us(c_ts) <= cut_us)
            AND (p_ts IS NULL OR epoch_us(p_ts) <= cut_us))
    SELECT COALESCE(c_user, p_user) AS user_id, COUNT(*) AS n_rows,
      CAST(SUM(CASE WHEN p_ts IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_click_only,
      CAST(SUM(CASE WHEN c_ts IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_purchase_only,
      CAST(SUM(CASE WHEN c_ts IS NOT NULL AND p_ts IS NOT NULL
               THEN epoch_us(p_ts) - epoch_us(c_ts) ELSE 0 END) AS BIGINT) AS sum_gap_us
    FROM f GROUP BY 1 ORDER BY 1"""))

  // ---------------------------------------------------------------- q96
  // CHAINED stateful operators in ONE streaming query — Spark 4's
  // multiple-stateful-operators support: an hourly tumbling aggregate
  // feeds a daily re-aggregate (via window_time), both append-mode in
  // the same plan. The watermark propagates through the first aggregate
  // (an hourly row's event time is its window end), so daily windows
  // finalize and EVICT once the watermark passes their end — two state
  // stores, both bounded by |open windows|. Before multi-stateful
  // support this required two queries bridged by a sink; now it is one
  // plan with one checkpoint. Finalized prefix: day windows ending
  // ≤ max(ts) − 1h − 1min. The inner sum stays DECIMAL through both
  // aggregates (double only at the very end) so re-aggregation order
  // cannot drift the result; the oracle aggregates straight to days.
  private val q96 = QueryDef(
    "q96_chained_window_agg",
    (s, dir) => withShuffle(s, StreamStores) {
      val cutUs = finalizedCutUs(s, dir)
      val hourly = eventsStream(s, dir)
        .withWatermark("ts", "1 hour")
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast(org.apache.spark.sql.types.DecimalType(18, 2)))
            .as("sv"))
      val daily = hourly
        .groupBy(window(window_time(col("window")), "1 day"), col("event_type"))
        .agg(sum(col("n")).as("n"), sum(col("sv")).as("sv"))
      drainToMemory(daily, "append")
        .filter(unix_micros(col("window.end")) <= cutUs)
        .select(
          date_format(col("window.start"), "yyyy-MM-dd").as("day"),
          col("event_type"), col("n"),
          col("sv").cast("double").as("sum_value"))
        .orderBy(col("day"), col("event_type"))
    },
    Some(s"""WITH mx AS (
      SELECT MAX(epoch_us(ts)) - 3600000000 - 60000000 AS cut_us FROM events)
    SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
      event_type, COUNT(*) AS n, ${dsumSql("value")} AS sum_value
    FROM events, mx
    WHERE epoch_us(date_trunc('day', ts)) + 86400000000 <= cut_us
    GROUP BY 1, 2 ORDER BY day, event_type"""))

  // ---------------------------------------------------------------- q97
  // STATE-STORE READER — Spark 4's `statestore` batch data source reads
  // a streaming checkpoint's state OFFLINE (no running query): the ops
  // tool for a 100 TB deployment — inspect state size/skew, debug a
  // stuck watermark, audit what a checkpoint holds before a restart.
  // Here: drain the q19-shaped windowed aggregate with an explicit
  // checkpoint, then batch-read operator 0's store. Because the drain's
  // final no-data batch evicts every window the resting watermark
  // (max(ts) − 1h) finalized, the RETAINED state is exactly the open
  // windows — end > watermark — which a batch twin computes from the
  // same table: the query proves eviction (bounded state) by direct
  // inspection rather than by sink differencing. State rows carry the
  // grouping keys in `key` and the unaliased agg buffer in `value`
  // (field name `count`); partition_id is dropped (hash-partitioner
  // detail, nondeterministic across shuffle-partition settings).
  private val q97 = QueryDef(
    "q97_state_reader",
    (s, dir) => withShuffle(s, StreamStores) {
      val wmUs = events(s, dir).agg(max(unix_micros(col("ts")))).head.getLong(0) -
        3600000000L
      val ckpt = Tables.tmp("graft-q97-ckpt")
      val windowed = eventsStream(s, dir)
        .withWatermark("ts", "1 hour")
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n"))
      drainToMemory(windowed, "append", Some(ckpt))
      s.read.format("statestore").load(ckpt)
        .select(
          date_format(col("key.window.start"), "yyyy-MM-dd HH:00:00").as("hour"),
          col("key.event_type").as("event_type"),
          col("value.count").as("n"))
        .orderBy(col("hour"), col("event_type"))
    },
    Some("""WITH mx AS (
      SELECT MAX(epoch_us(ts)) - 3600000000 AS wm_us FROM events)
    SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:00:00') AS hour,
      event_type, COUNT(*) AS n
    FROM events, mx
    WHERE epoch_us(date_trunc('hour', ts)) + 3600000000 > wm_us
    GROUP BY 1, 2 ORDER BY hour, event_type"""))

  // ---------------------------------------------------------------- q98
  // transformWithState with EVENT-TIME TIMERS — the production session-
  // timeout idiom q40's ValueState form doesn't exercise: per-user events
  // buffer in ListState, and a registered timer (at the earliest open
  // session's end) fires when the WATERMARK passes it — the expired
  // sessions are emitted from handleExpiredTimer and their events deleted
  // from state. handleInputRows emits NOTHING: every output row is
  // timer-driven, which is what makes the emission watermark-correct by
  // construction (a session can only appear once no event can extend it).
  // Single-timer discipline per key (re-registered to the next open
  // session's end after each fire) keeps the timer store at ≤1 row per
  // key. State is |buffered events of open sessions| — the watermark
  // bounds how long an event can stay buffered, exactly the session-state
  // story of q20 but with the eviction under OUR control instead of the
  // session_window operator's. Oracle: q20's gaps-and-islands twin (same
  // 10-minute gap, same watermark-finalized prefix).
  /** Per-key session buffer + timer logic for [[q98]]. Sessions over the
    * sorted buffered timestamps split where the gap is ≥ `gapUs` (the
    * session_window merge rule); a session's end is last event + gap. */
  private[graft] class SessionTimerProcessor(gapUs: Long)
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, (Long, Long), (Long, Long, Long, Long)] {
    import org.apache.spark.sql.streaming.{ExpiredTimerInfo, ListState, OutputMode, TimeMode, TimerValues, TTLConfig}
    @transient private var buf: ListState[Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      buf = getHandle.getListState[Long](
        "events", org.apache.spark.sql.Encoders.scalaLong, TTLConfig.NONE)

    /** Gap-split the SORTED timestamps into (start, end, n) runs. */
    private def sessions(sorted: Array[Long]): Array[(Long, Long, Long)] = {
      val out = Array.newBuilder[(Long, Long, Long)]
      var i = 0
      while (i < sorted.length) {
        val start = sorted(i)
        var last = start
        var n = 1L
        i += 1
        while (i < sorted.length && sorted(i) - last < gapUs) {
          last = sorted(i); n += 1; i += 1
        }
        out += ((start, last + gapUs, n))
      }
      out.result()
    }

    /** Timer at the session end, ceil'd to ms: registering ≥ the true end
      * means the watermark has provably passed the end when it fires. */
    private def endMs(endUs: Long): Long = (endUs + 999L) / 1000L

    /** Keep exactly one pending timer per key: the earliest open end.
      * Materialize before deleting — mutating the timer store while its
      * iterator is live is undefined. `firedMs` (the timer currently being
      * processed, if any) is skipped: the framework deletes it itself
      * after the callback, and a second delete warns. */
    private def retarget(earliestEndUs: Long, firedMs: Long = Long.MinValue): Unit = {
      getHandle.listTimers().toArray
        .filter(_ != firedMs).foreach(getHandle.deleteTimer)
      val t = endMs(earliestEndUs)
      if (t != firedMs) getHandle.registerTimer(t)
    }

    override def handleInputRows(
        key: Long,
        rows: Iterator[(Long, Long)],
        timerValues: TimerValues): Iterator[(Long, Long, Long, Long)] = {
      val incoming = rows.map(_._2).toArray
      if (incoming.nonEmpty) {
        buf.appendList(incoming)
        val runs = sessions(buf.get().toArray.sorted)
        retarget(runs.head._2) // sorted ⇒ the first run ends earliest
      }
      Iterator.empty
    }

    override def handleExpiredTimer(
        key: Long,
        timerValues: TimerValues,
        expiredTimerInfo: ExpiredTimerInfo): Iterator[(Long, Long, Long, Long)] = {
      // the CURRENT watermark (not the stale expiry time) decides what is
      // final — a single fire emits every session the watermark finalized
      val wmUs = timerValues.getCurrentWatermarkInMs() * 1000L
      val all = buf.get().toArray.sorted
      val (done, open) = sessions(all).partition(_._2 <= wmUs)
      if (open.isEmpty) buf.clear()
      else {
        if (done.nonEmpty) buf.put(all.filter(_ >= open.head._1))
        retarget(open.head._2, expiredTimerInfo.getExpiryTimeInMs)
      }
      done.iterator.map { case (start, end, n) => (key, start, end, n) }
    }
  }

  // --------------------------------------------------------------- q101
  // transformWithState with MAP STATE — the third typed-state shape
  // (ValueState q40, ListState q98): per-event_type bucket→count
  // histogram held in MapState[Long, Long], point-updated per row
  // (RocksDB turns each updateValue into a single-key write — no
  // read-modify-write of a whole map blob, which is what makes MapState
  // the right shape when the per-key collection is large and sparsely
  // touched at 100 TB; q75's Map-in-a-ValueState form rewrites the
  // entire histogram every batch). Emits every bucket's running total
  // each batch (update mode); counts are monotone so the sink resolves
  // by max, and the oracle is the batch histogram — q75's twin, proving
  // the two arbitrary-state APIs agree on identical semantics.
  private[graft] class MapHistogramProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        String, (String, Double), (String, Long, Long)] {
    import org.apache.spark.sql.streaming.{MapState, OutputMode, TimeMode, TimerValues, TTLConfig}
    @transient private var hist: MapState[Long, Long] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      hist = getHandle.getMapState[Long, Long](
        "hist", org.apache.spark.sql.Encoders.scalaLong,
        org.apache.spark.sql.Encoders.scalaLong, TTLConfig.NONE)
    override def handleInputRows(
        key: String,
        rows: Iterator[(String, Double)],
        timerValues: TimerValues): Iterator[(String, Long, Long)] = {
      rows.foreach { case (_, v) =>
        val b = math.floor(v / 100.0).toLong
        hist.updateValue(b, (if (hist.containsKey(b)) hist.getValue(b) else 0L) + 1L)
      }
      hist.iterator().map { case (b, n) => (key, b, n) }.toArray.iterator
    }
  }

  private val q101 = QueryDef(
    "q101_mapstate_histogram",
    (s, dir) => withShuffle(s, StreamStores) {
      import s.implicits._
      import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
      withConfs(s, RocksDbState) {
        val typed = eventsStream(s, dir)
          .select(col("event_type"), col("value"))
          .as[(String, Double)]
        val hist = typed
          .groupByKey(_._1)
          .transformWithState(new MapHistogramProcessor,
            TimeMode.None(), OutputMode.Update())
          .toDF("event_type", "bucket", "n")
        drainToMemory(hist, "update")
          .groupBy(col("event_type"), col("bucket")) // counts are monotone
          .agg(max(col("n")).as("n"))
          .orderBy(col("event_type"), col("bucket"))
      }
    },
    Some("""SELECT event_type, CAST(FLOOR(value / 100) AS BIGINT) AS bucket,
      COUNT(*) AS n
    FROM events GROUP BY 1, 2 ORDER BY event_type, bucket"""))

  // --------------------------------------------------------------- q102
  // transformWithState with INITIAL STATE — the state-bootstrap idiom:
  // a new streaming job does not start cold, it seeds per-key state
  // from an existing batch table (state migration from a warehouse, the
  // lambda→kappa cutover, a replatformed job inheriting its
  // predecessor's aggregates). Here each user's running total starts at
  // their customer account balance (exact cents) and the event stream
  // accumulates on top; handleInitialState runs once per seeded key
  // BEFORE any input row. The oracle joins the batch table and
  // re-derives the same totals — if the bootstrap were dropped or
  // double-applied, every row hash-mismatches. Exactness: balances and
  // event values go through the same HALF_UP double→DECIMAL(18,2) cents
  // rule as q21/q54, so accumulation order cannot drift the result.
  private[graft] class BootstrapProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessorWithInitialState[
        Long, (Long, Double), (Long, Long, Long), Long] {
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode, TimerValues, TTLConfig, ValueState}
    @transient private var state: ValueState[(Long, Long)] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      state = getHandle.getValueState[(Long, Long)](
        "acc", org.apache.spark.sql.Encoders.tuple(
          org.apache.spark.sql.Encoders.scalaLong,
          org.apache.spark.sql.Encoders.scalaLong), TTLConfig.NONE)
    override def handleInitialState(
        key: Long, baseCents: Long,
        timerValues: TimerValues): Unit =
      state.update((0L, baseCents))
    override def handleInputRows(
        key: Long,
        rows: Iterator[(Long, Double)],
        timerValues: TimerValues): Iterator[(Long, Long, Long)] = {
      var (n, cents) = if (state.exists()) state.get() else (0L, 0L)
      rows.foreach { case (_, v) =>
        n += 1
        cents += java.math.BigDecimal.valueOf(v)
          .setScale(2, java.math.RoundingMode.HALF_UP)
          .movePointRight(2).longValueExact()
      }
      state.update((n, cents))
      Iterator.single((key, n, cents))
    }
  }

  private val q102 = QueryDef(
    "q102_initial_state_bootstrap",
    (s, dir) => withShuffle(s, StreamStores) {
      import s.implicits._
      import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
      withConfs(s, RocksDbState) {
        // the batch table being migrated into stream state: exact cents
        val seed = rd(s, dir, "customer")
          .select(col("c_custkey"),
            (col("c_acctbal").cast(org.apache.spark.sql.types.DecimalType(18, 2)) * 100)
              .cast("long").as("base_cents"))
          .as[(Long, Long)]
          .groupByKey(_._1)
          .mapValues(_._2)
        val typed = eventsStream(s, dir)
          .select(col("user_id"), col("value"))
          .as[(Long, Double)]
        val totals = typed
          .groupByKey(_._1)
          .transformWithState(new BootstrapProcessor,
            TimeMode.None(), OutputMode.Update(), seed)
          .toDF("user_id", "n_events", "total_cents")
        drainToMemory(totals, "update")
          .groupBy(col("user_id")) // last update wins; both cols monotone
          .agg(max(col("n_events")).as("n_events"),
            (max(col("total_cents")).cast("double") / 100.0).as("balance_plus_value"))
          .orderBy(col("user_id"))
      }
    },
    Some("""SELECT user_id, COUNT(*) AS n_events,
      CAST(CAST(c_acctbal AS DECIMAL(18,2))
           + SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS balance_plus_value
    FROM events JOIN customer ON user_id = c_custkey
    GROUP BY user_id, c_acctbal ORDER BY user_id"""))

  // --------------------------------------------------------------- q100
  // STREAM-STREAM **RIGHT OUTER** interval join — the last cell of the
  // join-mode matrix (inner q30, left q81, full q95): unmatched
  // PURCHASES surface with null click columns, each emitted only once
  // the watermark proves no click can still match (clicks arrive ≥ wm;
  // a purchase at p matches clicks in [p−30m, p], so p finalizes when
  // wm > p_ts). The asymmetry vs q81 is exactly which side's timestamp
  // gates finalization — worth its own oracle because the watermark cut
  // applies to the PRESERVED side's own time, not preserved-side + join
  // bound. Reuses q95's two-sided cut: a sink row is comparable when
  // every non-null timestamp on it is ≤ cut, and the batch twin applies
  // the identical filter to the full-table RIGHT JOIN, so a purchase
  // matched only by a beyond-cut click is excluded from both engines
  // identically.
  private val q100 = QueryDef(
    "q100_stream_right_outer",
    (s, dir) => withShuffle(s, StreamStores) {
      val cutUs = joinWatermarkUs(s, dir, "q100", 3600000000L, 3600000000L) - 1800000000L - 60000000L
      val joined = clickPurchaseJoin(s, dir, "right_outer")
      drainToMemory(joined, "append")
        .filter(
          unix_micros(col("p_ts")) <= cutUs &&
            (col("c_ts").isNull || unix_micros(col("c_ts")) <= cutUs))
        .groupBy(col("p_user").as("user_id"))
        .agg(
          count(lit(1)).as("n_rows"),
          sum(when(col("c_ts").isNull, 1L).otherwise(0L)).as("n_purchase_only"),
          sum(when(col("c_ts").isNotNull,
            unix_micros(col("p_ts")) - unix_micros(col("c_ts")))
            .otherwise(0L)).as("sum_gap_us"))
        .orderBy(col("user_id"))
    },
    Some(s"""WITH ${joinCutCte("cut_us", 1800000000L, 60000000L)},
    c AS (SELECT user_id, ts FROM events WHERE event_type = 'click'),
    p AS (SELECT user_id, ts FROM events WHERE event_type = 'purchase'),
    j AS (SELECT p.user_id AS p_user, c.ts AS c_ts, p.ts AS p_ts
          FROM c RIGHT JOIN p
            ON p.user_id = c.user_id
           AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 30 MINUTE),
    f AS (SELECT * FROM j, mx
          WHERE epoch_us(p_ts) <= cut_us
            AND (c_ts IS NULL OR epoch_us(c_ts) <= cut_us))
    SELECT p_user AS user_id, COUNT(*) AS n_rows,
      CAST(SUM(CASE WHEN c_ts IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_purchase_only,
      CAST(SUM(CASE WHEN c_ts IS NOT NULL
               THEN epoch_us(p_ts) - epoch_us(c_ts) ELSE 0 END) AS BIGINT) AS sum_gap_us
    FROM f GROUP BY 1 ORDER BY 1"""))

  // ---------------------------------------------------------------- q99
  // JOIN-STATE introspection — q97's statestore reader pointed at the
  // BIGGER 100 TB liability: a stream-stream join buffers whole input
  // rows on both sides, and the watermark is the only thing stopping
  // that state from growing with the stream. Drain a q30-shaped interval
  // join (clicks ⋈ purchases within 30 min) over an explicit checkpoint,
  // then batch-read each side's store (`joinSide` option) and aggregate
  // what was RETAINED. The retention law falls out of the join bound:
  // a click can still match purchases in [c_ts, c_ts+30m], purchases
  // arrive ≥ wm ⇒ clicks retained iff c_ts ≥ wm − 30m; a purchase can
  // match clicks in [p_ts−30m, p_ts], clicks arrive ≥ wm ⇒ purchases
  // retained iff p_ts ≥ wm (wm = min(side maxima) − 1h after the drain's
  // no-data batch). Emitted rows restrict to ≥ boundary + 60 s (Spark's
  // eviction threshold is ms-truncated; the margin row band is excluded
  // from BOTH engines), and each side carries an n_stale column counting
  // state older than boundary − 60 s — 0 iff eviction ran, so BOUNDED
  // JOIN STATE is part of the hash gate itself, not a side assertion.
  // Offsets are relative to the boundary (not absolute epochs) so sums
  // stay far from int64 edges at any scale.
  private val q99 = QueryDef(
    "q99_join_state_reader",
    (s, dir) => withShuffle(s, StreamStores) {
      val wmUs = joinWatermarkUs(s, dir, "q99", 3600000000L, 3600000000L)
      val marginUs = 60000000L
      val ckpt = Tables.tmp("graft-q99-ckpt")
      val joined = clickPurchaseJoin(s, dir, "inner")
      drainToMemory(joined, "append", Some(ckpt))
      // per-side retained-state profile; boundary = the side's eviction law
      def sideAgg(side: String, tsCol: String, userCol: String, boundaryUs: Long) =
        s.read.format("statestore").option("joinSide", side).load(ckpt)
          .select(col(s"value.$userCol").as("user_id"),
            (unix_micros(col(s"value.$tsCol")) - boundaryUs).as("off_us"))
          .agg(
            count(when(col("off_us") >= marginUs, 1L)).as("n_rows"),
            countDistinct(when(col("off_us") >= marginUs, col("user_id"))).as("n_users"),
            min(when(col("off_us") >= marginUs, col("off_us"))).as("min_off_us"),
            max(when(col("off_us") >= marginUs, col("off_us"))).as("max_off_us"),
            sum(when(col("off_us") >= marginUs, col("off_us")).otherwise(0L)).as("sum_off_us"),
            count(when(col("off_us") < -marginUs, 1L)).as("n_stale"))
          .withColumn("side", lit(side))
      sideAgg("left", "c_ts", "c_user", wmUs - 1800000000L)
        .unionByName(sideAgg("right", "p_ts", "p_user", wmUs))
        .select(col("side"), col("n_rows"), col("n_users"),
          col("min_off_us"), col("max_off_us"), col("sum_off_us"), col("n_stale"))
        .orderBy(col("side"))
    },
    Some(s"""WITH ${joinCutCte("wm_us")},
    lf AS (SELECT 'left' AS side,
        user_id, epoch_us(ts) - (wm_us - 1800000000) AS off_us
      FROM events, mx WHERE event_type = 'click'),
    rt AS (SELECT 'right' AS side,
        user_id, epoch_us(ts) - wm_us AS off_us
      FROM events, mx WHERE event_type = 'purchase'),
    u AS (SELECT * FROM lf UNION ALL SELECT * FROM rt)
    SELECT side,
      CAST(COUNT(CASE WHEN off_us >= 60000000 THEN 1 END) AS BIGINT) AS n_rows,
      CAST(COUNT(DISTINCT CASE WHEN off_us >= 60000000 THEN user_id END) AS BIGINT) AS n_users,
      MIN(CASE WHEN off_us >= 60000000 THEN off_us END) AS min_off_us,
      MAX(CASE WHEN off_us >= 60000000 THEN off_us END) AS max_off_us,
      CAST(SUM(CASE WHEN off_us >= 60000000 THEN off_us ELSE 0 END) AS BIGINT) AS sum_off_us,
      CAST(0 AS BIGINT) AS n_stale
    FROM u GROUP BY side ORDER BY side"""))

  private val q98 = QueryDef(
    "q98_timer_sessions",
    (s, dir) => withShuffle(s, StreamStores) {
      import s.implicits._
      import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
      val cutUs = finalizedCutUs(s, dir)
      withConfs(s, RocksDbState) {
        val typed = eventsStream(s, dir)
          .withWatermark("ts", "1 hour")
          .select(col("user_id"), unix_micros(col("ts")).as("us"))
          .as[(Long, Long)]
        val sess = typed
          .groupByKey(_._1)
          .transformWithState(new SessionTimerProcessor(600000000L),
            TimeMode.EventTime(), OutputMode.Append())
          .toDF("user_id", "start_us", "end_us", "n_events")
        drainToMemory(sess, "append")
          .filter(col("end_us") <= cutUs)
          .groupBy(col("user_id"))
          .agg(
            count(lit(1)).as("n_sessions"),
            sum(col("n_events")).as("n_events"),
            max(col("n_events")).as("max_session_events"))
          .orderBy(col("user_id"))
      }
    },
    // q20's gaps-and-islands twin: same gap, same finalized-prefix cut
    Some("""WITH mx AS (
      SELECT MAX(epoch_us(ts)) - 3600000000 - 60000000 AS cut_us FROM events),
    d AS (
      SELECT user_id, ts,
        CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
             >= INTERVAL 10 MINUTE THEN 1 ELSE 0 END AS brk
      FROM events),
    i AS (SELECT user_id, ts,
        SUM(brk) OVER (PARTITION BY user_id ORDER BY ts
                       ROWS UNBOUNDED PRECEDING) AS sess_id
      FROM d),
    g AS (SELECT user_id, sess_id, COUNT(*) AS n_events,
        MAX(epoch_us(ts)) + 600000000 AS sess_end_us
      FROM i GROUP BY 1, 2),
    f AS (SELECT g.* FROM g, mx WHERE g.sess_end_us <= mx.cut_us)
    SELECT user_id, COUNT(*) AS n_sessions,
      CAST(SUM(n_events) AS BIGINT) AS n_events,
      MAX(n_events) AS max_session_events
    FROM f GROUP BY user_id ORDER BY user_id"""))

  // --------------------------------------------------------------- q103
  // UNION of two INDEPENDENTLY-WATERMARKED streams — the multi-topic
  // ingestion shape (the reference subscribes a Kafka topic PATTERN at
  // `Dcache_kafka_to_hive.py:293-301`; at scale each topic lags
  // differently). Clicks declare a 1-hour delay, purchases 2 hours; under
  // the default `spark.sql.streaming.multipleWatermarkPolicy=min` the
  // aggregation's global watermark is the MINIMUM over all watermark
  // nodes, so finalization is paced by the laggiest source — the policy
  // that never drops a row the slow topic is still entitled to deliver
  // (`max` would finalize faster but sacrifice the slow side's late
  // data; correctness-first pipelines keep `min`, which is what the
  // deterministic batch twin below requires). Windows ending at or below
  // min(maxClick−1h, maxPurch−2h) are provably emitted and their state
  // evicted after the bounded drain's final no-data batch, exactly as in
  // q19; both sink output and oracle restrict to that prefix.
  private val q103 = QueryDef(
    "q103_union_two_watermarks",
    (s, dir) => withShuffle(s, StreamStores) {
      val cutUs = joinWatermarkUs(s, dir, "q103", 3600000000L, 7200000000L) - 60000000L
      val clicks = eventsStream(s, dir)
        .filter(col("event_type") === "click")
        .select(col("ts"), col("event_type"), col("value"))
        .withWatermark("ts", "1 hour")
      val purchases = eventsStream(s, dir)
        .filter(col("event_type") === "purchase")
        .select(col("ts"), col("event_type"), col("value"))
        .withWatermark("ts", "2 hours")
      val unioned = clicks.union(purchases)
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
      drainToMemory(unioned, "append")
        .filter(unix_micros(col("window.end")) <= cutUs)
        .select(
          date_format(col("window.start"), "yyyy-MM-dd HH:00:00").as("hour"),
          col("event_type"), col("n"), col("sum_value"))
        .orderBy(col("hour"), col("event_type"))
    },
    Some(s"""WITH mx AS (
      SELECT LEAST(
        MAX(CASE WHEN event_type = 'click' THEN epoch_us(ts) END) - 3600000000,
        MAX(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END) - 7200000000)
        - 60000000 AS cut_us
      FROM events)
    SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:00:00') AS hour,
      event_type, COUNT(*) AS n, ${dsumSql("value")} AS sum_value
    FROM events, mx
    WHERE event_type IN ('click', 'purchase')
      AND epoch_us(date_trunc('hour', ts)) + 3600000000 <= cut_us
    GROUP BY 1, 2 ORDER BY hour, event_type"""))

  // --------------------------------------------------------------- q108
  // STREAM-STREAM **LEFT SEMI** interval join — the last mode Spark
  // supports in the matrix (inner q30, left q81, full q95, right q100):
  // "clicks that led to a purchase within 30 minutes", each qualifying
  // click emitted ONCE with only left-side columns, no pair explosion.
  // Semantically this is the streaming EXISTS — at scale it beats the
  // inner join + dedup it replaces because a click's state row can be
  // DROPPED at first match (no duplicate emission to suppress) and the
  // output volume is |matched clicks|, not |pairs|. Matched rows emit
  // eagerly (match-driven, like inner), so the bounded AvailableNow
  // drain of a finite replay is exact with no finalization cut; the
  // oracle is the batch EXISTS over the same events.
  private val q108 = QueryDef(
    "q108_stream_semi_join",
    (s, dir) => withShuffle(s, StreamStores) {
      val joined = clickPurchaseJoin(s, dir, "left_semi")
      // integer checksum over the emitted clicks: exactly-once emission
      // is part of what the hash gate proves (a duplicate would shift n
      // AND the sum)
      drainToMemory(joined, "append")
        .groupBy(col("c_user").as("user_id"))
        .agg(
          count(lit(1)).as("n_converting_clicks"),
          sum(unix_micros(col("c_ts"))).as("sum_c_us"))
        .orderBy(col("user_id"))
    },
    Some("""SELECT c.user_id AS user_id,
      COUNT(*) AS n_converting_clicks,
      CAST(SUM(epoch_us(c.ts)) AS BIGINT) AS sum_c_us
    FROM events c
    WHERE c.event_type = 'click' AND EXISTS (
      SELECT 1 FROM events p
      WHERE p.event_type = 'purchase' AND p.user_id = c.user_id
        AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 30 MINUTE)
    GROUP BY 1 ORDER BY 1"""))

  // ---------------------------------------------------------------- q118
  // STREAMING FUNNEL — q116's greedy signup→view→click→purchase rule as
  // a per-user flatMapGroupsWithState machine. Out-of-order arrival can
  // legitimately REVISE earlier stages (a late view can unlock a click
  // that already arrived), so the state is the minimal sufficient
  // statistic for the greedy rule: the per-stage event-time sets, the
  // same state class as a stream-stream join — it grows with the user's
  // funnel-type events. This bounded drain never evicts (NoTimeout); a
  // production deployment would add an event-time timeout that freezes a
  // user's trajectory once the watermark passes their horizon, the q98
  // timer discipline. Each batch re-resolves the DP from the sets and
  // emits the trajectory with a monotone seen-counter; the drain's
  // last-emission per user rolls up to EXACTLY the batch funnel — the
  // oracle is q116's, verbatim.
  // private[analytics], not private: Janino-generated encoder code calls
  // the accessors reflectively-in-bytecode, which a JVM-private inner
  // class blocks (UserProfile learned the same lesson)
  private[analytics] case class FunnelState(
      sign: Array[Long], view: Array[Long], click: Array[Long], pur: Array[Long])

  private val q118 = QueryDef(
    "q118_stream_funnel",
    (s, dir) => withShuffle(s, StreamStores) {
      import s.implicits._
      import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
      val typed = eventsStream(s, dir)
        .filter(col("event_type").isin("signup", "view", "click", "purchase"))
        .select(col("user_id"), col("event_type"), unix_micros(col("ts")).as("us"))
        .as[(Long, String, Long)]
      val traj = typed
        .groupByKey(_._1)
        // emits (user, n_seen, s_ts, v_ts, c_ts, p_ts); -1 = stage unreached
        .flatMapGroupsWithState[FunnelState, (Long, Long, Long, Long, Long, Long)](
          OutputMode.Update(), GroupStateTimeout.NoTimeout) { (uid, rows, state) =>
          val e = Array.empty[Long]
          var st = state.getOption.getOrElse(FunnelState(e, e, e, e))
          rows.foreach { case (_, typ, us) =>
            st = typ match {
              case "signup"   => st.copy(sign = st.sign :+ us)
              case "view"     => st.copy(view = st.view :+ us)
              case "click"    => st.copy(click = st.click :+ us)
              case "purchase" => st.copy(pur = st.pur :+ us)
            }
          }
          state.update(st)
          def succ(xs: Array[Long], after: Option[Long]): Option[Long] =
            after.flatMap(a => xs.filter(_ > a).minOption)
          val t1 = st.sign.minOption
          val t2 = succ(st.view, t1)
          val t3 = succ(st.click, t2)
          val t4 = succ(st.pur, t3)
          val nSeen =
            (st.sign.length + st.view.length + st.click.length + st.pur.length).toLong
          Iterator.single((uid, nSeen, t1.getOrElse(-1L), t2.getOrElse(-1L),
            t3.getOrElse(-1L), t4.getOrElse(-1L)))
        }
        .toDF("user_id", "n_seen", "s_ts", "v_ts", "c_ts", "p_ts")
      // last emission per user is the complete trajectory (n_seen is
      // strictly monotone per user across batches)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("n_seen").desc)
      drainToMemory(traj, "update")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1 && col("s_ts") >= 0L)
        .agg(
          count(col("s_ts")).as("n1"),
          count(when(col("v_ts") >= 0L, 1L)).as("n2"),
          count(when(col("c_ts") >= 0L, 1L)).as("n3"),
          count(when(col("p_ts") >= 0L, 1L)).as("n4"),
          sum(when(col("v_ts") >= 0L, col("v_ts") - col("s_ts"))).as("g2"),
          sum(when(col("c_ts") >= 0L, col("c_ts") - col("s_ts"))).as("g3"),
          sum(when(col("p_ts") >= 0L, col("p_ts") - col("s_ts"))).as("g4"))
        .selectExpr("""stack(4,
          '1_signup', n1, CAST(0 AS BIGINT),
          '2_view', n2, g2,
          '3_click', n3, g3,
          '4_purchase', n4, g4) AS (stage, n_users, sum_gap_us)""")
        .orderBy(col("stage"))
    },
    Some(Pipeline.funnelOracle))

  // ---------------------------------------------------------------- q119
  // STREAMING SELF-MAINTAINING DEDUP GATE — the ingest-time composition
  // of d16's persisted LSH index and s13's incremental-maintenance story:
  // delta documents arrive as a FILE STREAM in deterministic micro-batches
  // (one file per trigger, mtime-ordered), each batch probes the band
  // index, near-dups of the index are FLAGGED, and the accepted docs'
  // band signatures are APPENDED to the index before the next batch — so
  // batch k deduplicates against corpus ∪ accepted(batches 1..k-1). That
  // sequential semantics is the whole point (a dup of an accepted delta
  // doc IS a dup, exactly what a continuous ingest pipeline must catch)
  // and is what the oracle unrolls: three CTE rounds of flag→admit over
  // the same band/agreement rule. Matching is d16's calibrated verify —
  // signatures alone, ≥4 of 8 minhashes agree — so corpus text is never
  // re-read and a batch costs O(|batch| × collisions). foreachBatch here
  // appends results then index (batch-local frames localCheckpoint'd
  // first, severing the index-read lineage before the index write); an
  // at-least-once-safe production deployment would route both writes
  // through the KeyedMerge two-phase-commit discipline (q112).
  private val q119 = QueryDef(
    "q119_stream_dedup_gate",
    (s, dir) => withShuffle(s, StreamStores) {
      graft.BenchSplit.setup {
        // publish the corpus band index (pre-exists at scale)
        s.sql(s"CREATE DATABASE IF NOT EXISTS graft_q119 LOCATION '${Tables.tmp("graft-q119-db")}'")
        s.sql("DROP TABLE IF EXISTS graft_q119.band_idx")
        // published corpus half off the persisted signature index
        // (identical rows; the per-batch delta below still signs its
        // own docs — that cost belongs to the delta) — r22
        Dedup.minhashBandsIdx(s, dir).filter(col("doc_id") % 2 === 0)
          .select(col("doc_id"), col("mhs"), col("band"))
          .write.option("path", Tables.tmp("graft-q119-idx"))
          .saveAsTable("graft_q119.band_idx")
      }
      // the delta as 3 batches (doc_id%6 = 1, 3, 5)
      val stream = stagedStream(s, "q119", (1 to 3).map(b =>
        docs(s, dir).filter(col("doc_id") % 6 === (2 * b - 1))
          .select(col("doc_id"), col("text"), col("source"))))
      val resultsDir = Tables.tmp("graft-q119-verdicts")
      drain(stream.writeStream
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, bid: Long) =>
          val b = batch.localCheckpoint() // pinned: feeds sigs, bands, verdicts
          // batch frames belong to the stream's CLONED session, whose
          // SessionCatalog has its own table-relation cache: the index
          // append below invalidates the CLONE's cache, so the probe must
          // read through the same session or batch k+1 would see batch
          // k's pre-append file listing (observed: appends invisible,
          // cross-batch dups missed)
          val bs = b.sparkSession
          val bands = Dedup.minhashBandsOf(b)
          val idx = bs.table("graft_q119.band_idx")
          val flagged = bands
            .select(col("band"), col("doc_id").as("d_id"), col("mhs").as("d_mhs"))
            .join(idx.select(col("band"), col("doc_id").as("c_id"), col("mhs").as("c_mhs")), "band")
            .select(col("d_id"), col("c_id"), col("d_mhs"), col("c_mhs")).distinct()
            .withColumn("n_agree",
              expr("size(filter(zip_with(d_mhs, c_mhs, (x, y) -> x = y), bb -> bb))"))
            .filter(col("n_agree") >= 4)
            .select(col("d_id").as("doc_id")).distinct()
            .withColumn("flag", lit(1L))
          val verdicts = Dedup.minhashSigsOf(b).select(col("doc_id"))
            .join(b.select(col("doc_id"), col("source")), "doc_id")
            .join(flagged, Seq("doc_id"), "left")
            .select(col("doc_id"), col("source"),
              coalesce(col("flag"), lit(0L)).as("flag"))
            .withColumn("batch_id", lit(bid)) // provenance: which trigger judged the doc
            .localCheckpoint() // sever the index-read lineage before appends
          verdicts.write.mode("append").parquet(resultsDir)
          // accepted docs join the index — visible to SUBSEQUENT batches
          val accepted = bands
            .join(verdicts.filter(col("flag") === 0L).select(col("doc_id")),
              Seq("doc_id"), "left_semi")
            .select(col("doc_id"), col("mhs"), col("band"))
          accepted.write.mode("append").insertInto("graft_q119.band_idx")
          ()
        }
        .option("checkpointLocation", Tables.tmp("graft-q119-ckpt")))
      s.read.parquet(resultsDir)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_delta"), sum(col("flag")).as("n_flagged"))
        .orderBy(col("source"))
    },
    Some(s"""WITH sh AS (
      SELECT doc_id, ${Dedup.shingleSqlDuck} AS sh FROM documents
      WHERE len(string_split(text, ' ')) >= 3),
    hs AS (SELECT doc_id, list_transform(sh, x -> ${strHashSql("x")}) AS hs FROM sh),
    mh AS (SELECT doc_id, [${Dedup.perm.map { case (a, b) => s"list_min(list_transform(hs, h -> ($a * h + $b) % $HashMod))" }.mkString(", ")}] AS mhs FROM hs),
    bands AS (SELECT doc_id, CAST(i AS VARCHAR) || ':' || CAST(mhs[2 * i + 1] AS VARCHAR) || ':' || CAST(mhs[2 * i + 2] AS VARCHAR) AS band
              FROM mh CROSS JOIN generate_series(0, 3) AS g(i)),
    cand AS (SELECT DISTINCT a.doc_id AS d, b.doc_id AS c
             FROM bands a JOIN bands b ON a.band = b.band AND a.doc_id <> b.doc_id),
    mtch AS (SELECT d, c FROM cand
             JOIN mh x ON x.doc_id = d JOIN mh y ON y.doc_id = c
             WHERE len(list_filter(list_zip(x.mhs, y.mhs), p -> p[1] = p[2])) >= 4),
    f1 AS (SELECT DISTINCT d FROM mtch WHERE d % 6 = 1 AND c % 2 = 0),
    k1 AS (SELECT doc_id FROM mh WHERE doc_id % 2 = 0
           UNION ALL
           SELECT doc_id FROM mh WHERE doc_id % 6 = 1
             AND doc_id NOT IN (SELECT d FROM f1)),
    f2 AS (SELECT DISTINCT d FROM mtch JOIN k1 ON mtch.c = k1.doc_id
           WHERE d % 6 = 3),
    k2 AS (SELECT doc_id FROM k1
           UNION ALL
           SELECT doc_id FROM mh WHERE doc_id % 6 = 3
             AND doc_id NOT IN (SELECT d FROM f2)),
    f3 AS (SELECT DISTINCT d FROM mtch JOIN k2 ON mtch.c = k2.doc_id
           WHERE d % 6 = 5),
    fl AS (SELECT d FROM f1 UNION SELECT d FROM f2 UNION SELECT d FROM f3)
    SELECT doc.source, COUNT(*) AS n_delta,
      CAST(SUM(CASE WHEN fl.d IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged
    FROM mh m JOIN documents doc ON doc.doc_id = m.doc_id
    LEFT JOIN fl ON fl.d = m.doc_id
    WHERE m.doc_id % 2 = 1
    GROUP BY 1 ORDER BY 1"""))

  // ---------------------------------------------------------------- d24
  // STREAMING GRAPH MAINTENANCE + k-CORE — d18's batch degeneracy signal
  // kept fresh by q119's self-maintaining ingest machinery: the near-dup
  // graph's state is three APPEND-ONLY stores (the SimHash signature
  // index, the edge log, and a per-node degree LEDGER of count deltas —
  // the merge-on-read upsert shape; q112's keyed merge is the compaction
  // story). Each arriving micro-batch computes signatures for ITS docs
  // only, finds batch-batch candidates (bucket self-join) and
  // batch-vs-index candidates (one equi-join against the index, which by
  // then holds corpus ∪ earlier batches — so cross-batch edges are found
  // exactly once, by the later batch), localCheckpoints the new edges
  // BEFORE appending (severing the index-read lineage from the index
  // write, the q119 hazard), then appends edges, degree deltas, and its
  // own signatures. Per-batch cost is O(|batch| × collisions); corpus
  // text and corpus-corpus pairs are never recomputed. The final peel
  // starts from the MAINTAINED degrees — round 1 is a ledger read, not an
  // O(|E|) recount — and runs d18's bounded rounds for the rest. Oracle =
  // d18's full-recompute unrolled peel: maintenance must be
  // indistinguishable from rebuilding the graph from scratch.
  private val d24 = QueryDef(
    "d24_stream_kcore",
    (s, dir) => withShuffle(s, StreamStores) {
      val sigIdxDir = Tables.tmp("graft-d24-sigidx")
      val edgesDir = Tables.tmp("graft-d24-edges")
      val degDir = Tables.tmp("graft-d24-deg")
      def degDeltas(edges: org.apache.spark.sql.DataFrame) =
        edges.select(col("id1").as("node"))
          .union(edges.select(col("id2").as("node")))
          .groupBy(col("node")).agg(count(lit(1)).as("c"))
      graft.BenchSplit.setup {
        // publish the corpus state (pre-exists at scale): signature
        // index, corpus-internal edges, and their degree ledger entries
        // — signatures off the persisted full-corpus index (d21's r21
        // move; per-batch signatures below still compute live)
        val corpus = Dedup.simhashIndex(s, dir)
          .filter(col("doc_id") % 2 === 0)
          .withColumn("bucket", expr("shiftright(simhash, 8)"))
          .cache()
        // corpus-internal edges via the shared CAPPED self-join (identical
        // output at the correctness SFs; bounded on a hot template bucket)
        val ce = Dedup.cappedSelfPairs(corpus).localCheckpoint()
        corpus.write.parquet(sigIdxDir)
        ce.write.parquet(edgesDir)
        degDeltas(ce).write.parquet(degDir)
        corpus.unpersist()
      }
      // the delta as 3 batches (q119 layout)
      val stream = stagedStream(s, "d24", (1 to 3).map(b =>
        docs(s, dir).filter(col("doc_id") % 6 === (2 * b - 1))
          .select(col("doc_id"), col("text"))))
      drain(stream.writeStream
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
          val bs = batch.sparkSession
          val sigs = Dedup.simhashOf(batch)
            .withColumn("bucket", expr("shiftright(simhash, 8)"))
            .localCheckpoint()
          // batch-internal pairs via the shared capped self-join; the
          // batch-vs-index probe below stays an equi-join (not a self-join)
          val bb = Dedup.cappedSelfPairs(sigs)
          val idx = bs.read.parquet(sigIdxDir)
          val bc = sigs.select(col("bucket"), col("doc_id").as("id1"), col("simhash").as("h1"))
            .join(idx.select(col("bucket").as("b2"), col("doc_id").as("id2"), col("simhash").as("h2")),
              col("bucket") === col("b2"))
            .filter(expr("bit_count(h1 ^ h2)") <= 6)
            .select(col("id1"), col("id2"))
          // materialize BEFORE the appends below: the edge build reads
          // the signature index this batch is about to grow
          val newEdges = bb.union(bc).localCheckpoint()
          newEdges.write.mode("append").parquet(edgesDir)
          degDeltas(newEdges).write.mode("append").parquet(degDir)
          sigs.write.mode("append").parquet(sigIdxDir)
          ()
        }
        .option("checkpointLocation", Tables.tmp("graft-d24-ckpt")))
      // peel from maintained state: round 1 = a degree-ledger read
      val e1 = s.read.parquet(edgesDir)
      val edges = e1.union(e1.select(col("id2").as("id1"), col("id1").as("id2"))).cache()
      // lazy rounds — materialized once by the final aggregate (d18's
      // r21 discipline: no eager checkpoint job per round)
      var core = s.read.parquet(degDir)
        .groupBy(col("node")).agg(sum(col("c")).as("deg"))
        .filter(col("deg") >= Dedup.KCoreK)
        .select(col("node"))
        .localCheckpoint(eager = false)
      (2 to Dedup.KCoreRounds).foreach { _ =>
        core = Dedup.kcoreRound(edges, core).localCheckpoint(eager = false)
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
    Some(Dedup.kcoreOracle))

  // ---------------------------------------------------------------- d29
  // STREAMING EXACT-SUBSTRING GATE — d26's suffix-array-style dedup run
  // at ingest time, the third member of the self-maintaining family
  // (q119 = MinHash gate, d24 = graph maintenance, d29 = substring
  // surgery's admission twin): the corpus's distinct 8-token gram hashes
  // are a persisted GRAM INDEX; each arriving micro-batch rolls its own
  // gram hashes in one native O(len) pass, probes the index with one
  // semi-join on the gram hash (per-batch cost ∝ |batch| tokens, never
  // corpus-sized), merges hit positions into maximal duplicated spans
  // per doc (gaps-and-islands, dup-mass-bounded state), and REJECTS any
  // doc whose ≥15-token duplicated spans cover ≥50% of its tokens.
  // Accepted docs' NOVEL grams (anti-join, materialized before the
  // append severs the index-read lineage — the q119/d24 hazard) join
  // the index, so batch k gates against corpus ∪ accepted(1..k-1):
  // a near-copy of an accepted delta doc IS a duplicate, and the probe
  // run (sf0.001 AND sf0.01) confirms the sequential semantics bites —
  // round 3 flags 7/9 docs vs 5/6 against the corpus index alone. The
  // oracle unrolls the three flag→admit rounds relationally and the
  // flagged-id checksum pins the exact rejected set.
  private val GateGram = 8    // d26's SpanGram
  private val GateMinSpan = 15 // d26's MinSpanTok

  private val d29 = QueryDef(
    "d29_stream_substring_gate",
    (s, dir) => withShuffle(s, StreamStores) {
      val idxDir = Tables.tmp("graft-d29-gramidx")
      val resultsDir = Tables.tmp("graft-d29-verdicts")
      def gramsOf(df: org.apache.spark.sql.DataFrame) =
        df.select(col("doc_id"),
            expr("transform(split(text, ' '), t -> poly_hash(t))").as("th"))
          .select(col("doc_id"),
            posexplode(expr(s"ngram_hashes(th, $GateGram)")).as(Seq("pos", "gh")))
      graft.BenchSplit.setup {
        // publish the corpus gram index (pre-exists at scale)
        gramsOf(docs(s, dir).filter(col("doc_id") % 2 === 0))
          .select(col("gh")).distinct()
          .write.parquet(idxDir)
      }
      // the delta as 3 batches (the q119/d24 layout)
      val stream = stagedStream(s, "d29", (1 to 3).map(b =>
        docs(s, dir).filter(col("doc_id") % 6 === (2 * b - 1))
          .select(col("doc_id"), col("text"), col("source"))))
      drain(stream.writeStream
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, bid: Long) =>
          val bs = batch.sparkSession
          // hash every token ONCE per batch: grams and the token count
          // both read this frame
          val th = batch
            .select(col("doc_id"), col("source"),
              expr("transform(split(text, ' '), t -> poly_hash(t))").as("th"))
            .localCheckpoint()
          val grams = th.select(col("doc_id"),
            posexplode(expr(s"ngram_hashes(th, $GateGram)")).as(Seq("pos", "gh")))
          val idx = bs.read.parquet(idxDir)
          // positions duplicated against corpus ∪ earlier accepted docs;
          // islands merge them into maximal spans (d26's discipline)
          val wDoc = org.apache.spark.sql.expressions.Window
            .partitionBy(col("doc_id")).orderBy(col("pos"))
          val dupTok = grams.join(idx, Seq("gh"), "left_semi")
            .withColumn("isl", col("pos") - row_number().over(wDoc))
            .groupBy(col("doc_id"), col("isl"))
            .agg((count(lit(1)) + lit(GateGram - 1)).as("span_tok"))
            .filter(col("span_tok") >= GateMinSpan)
            .groupBy(col("doc_id"))
            .agg(sum(col("span_tok")).as("dup_tok"))
          val verdicts = th
            .select(col("doc_id"), col("source"), size(col("th")).cast("long").as("n_tok"))
            .join(dupTok, Seq("doc_id"), "left")
            .select(col("doc_id"), col("source"), col("n_tok"),
              coalesce(col("dup_tok"), lit(0L)).as("dup_tok"))
            .withColumn("flag",
              when(col("dup_tok") * 2 >= col("n_tok"), 1L).otherwise(0L))
            .withColumn("batch_id", lit(bid))
            .localCheckpoint() // sever the index-read lineage before appends
          verdicts.write.mode("append").parquet(resultsDir)
          // accepted docs' novel grams join the index — visible to
          // SUBSEQUENT batches; materialize the anti-join (it reads the
          // index) before the append touches the same path
          val novel = grams
            .join(verdicts.filter(col("flag") === 0L).select(col("doc_id")),
              Seq("doc_id"), "left_semi")
            .select(col("gh")).distinct()
            .join(idx, Seq("gh"), "left_anti")
            .localCheckpoint()
          novel.write.mode("append").parquet(idxDir)
          ()
        }
        .option("checkpointLocation", Tables.tmp("graft-d29-ckpt")))
      s.read.parquet(resultsDir)
        .groupBy(col("source"))
        .agg(
          count(lit(1)).as("n_delta"),
          sum(col("flag")).as("n_flagged"),
          sum(col("dup_tok")).as("dup_tokens"),
          (sum(when(col("flag") === 1L, col("doc_id") % lit(HashMod)).otherwise(0L))
            % lit(HashMod)).as("flag_checksum"))
        .orderBy(col("source"))
    },
    Some {
      def gateRound(r: Int, batchMod: Int): String = s"""
    dr$r AS (SELECT doc_id, pos FROM g WHERE doc_id % 6 = $batchMod
             AND gh IN (SELECT gh FROM i${r - 1})),
    il$r AS (SELECT doc_id, pos,
               pos - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos) AS isl
             FROM dr$r),
    sp$r AS (SELECT doc_id, COUNT(*) + ${GateGram - 1} AS span_tok
             FROM il$r GROUP BY doc_id, isl),
    dt$r AS (SELECT doc_id, SUM(span_tok) AS dup_tok FROM sp$r
             WHERE span_tok >= $GateMinSpan GROUP BY 1),
    v$r AS (SELECT tk.doc_id, COALESCE(dt$r.dup_tok, 0) AS dup_tok, tk.n_tok,
              CASE WHEN COALESCE(dt$r.dup_tok, 0) * 2 >= tk.n_tok
                   THEN 1 ELSE 0 END AS flag
            FROM tk LEFT JOIN dt$r ON tk.doc_id = dt$r.doc_id
            WHERE tk.doc_id % 6 = $batchMod),
    i$r AS (SELECT gh FROM i${r - 1}
            UNION
            SELECT gh FROM g JOIN v$r ON g.doc_id = v$r.doc_id AND v$r.flag = 0)"""
      s"""WITH th AS (
      SELECT doc_id, list_transform(string_split(text, ' '), t -> ${strHashSql("t")}) AS th
      FROM documents),
    tk AS (SELECT doc_id, len(th) AS n_tok FROM th),
    ng AS (SELECT doc_id,
        CASE WHEN len(th) >= $GateGram THEN
          list_transform(generate_series(1, len(th) - ${GateGram - 1}),
            i -> list_reduce(th[i:i+${GateGram - 1}], (acc, h) -> (acc * 31 + h) % $HashMod))
        ELSE CAST([] AS BIGINT[]) END AS ngs
      FROM th),
    g AS (SELECT doc_id, unnest(range(0, len(ngs))) AS pos, unnest(ngs) AS gh FROM ng),
    i0 AS (SELECT DISTINCT gh FROM g WHERE doc_id % 2 = 0),
    ${gateRound(1, 1)},
    ${gateRound(2, 3)},
    ${gateRound(3, 5)},
    v AS (SELECT * FROM v1 UNION ALL SELECT * FROM v2 UNION ALL SELECT * FROM v3)
    SELECT d.source, COUNT(*) AS n_delta,
      CAST(SUM(v.flag) AS BIGINT) AS n_flagged,
      CAST(SUM(v.dup_tok) AS BIGINT) AS dup_tokens,
      CAST(SUM(CASE WHEN v.flag = 1 THEN v.doc_id % $HashMod ELSE 0 END)
           % $HashMod AS BIGINT) AS flag_checksum
    FROM v JOIN documents d ON d.doc_id = v.doc_id
    GROUP BY 1 ORDER BY 1"""
    })

  // --------------------------------------------------------------- q135
  // STREAMING DRIFT GATE — q133's PSI monitor run the way production
  // runs it: a PUBLISHED reference (decile edges + smoothed bin
  // proportions from the even-event_id half, pre-exists at scale) and a
  // micro-batched stream of the odd half (3 mtime-ordered batch files,
  // maxFilesPerTrigger=1), each batch scoring its OWN distribution
  // against the reference in foreachBatch and appending one alert row
  // per (event_type, batch). The per-batch work is one broadcast edge
  // join over the batch (9× expansion into map-side partials, the q133
  // A/B'd shape) + bounded-size lag/psi arithmetic — per-batch cost ∝
  // batch size, reference never recomputed. Groups absent from a batch
  // still emit a row (reference left-join; uniform-smoothed q), and the
  // smoothed ppm clamps at 1 so ln never sees 0 (the q133 guard).
  // Oracle: the same per-batch PSI unrolled relationally — batch
  // membership is the deterministic event_id%6 ∈ {1,3,5} → {0,1,2} map,
  // so DuckDB reproduces every micro-batch exactly.
  private val q135 = QueryDef(
    "q135_stream_drift_gate",
    (s, dir) => withShuffle(s, StreamStores) {
      val resultsDir = Tables.tmp("graft-q135-drift")
      val edgesDir = Tables.tmp("graft-q135-edges")
      val refDir = Tables.tmp("graft-q135-ref")
      def ev = Tables.events(s, dir)
        .select(col("event_type").as("g"),
          expr("CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)").as("x"),
          col("event_id"))
      graft.BenchSplit.setup {
        // publish the reference artifacts (pre-exist at scale)
        val ref = ev.filter(col("event_id") % 2 === 0)
        val wCum = org.apache.spark.sql.expressions.Window
          .partitionBy(col("g")).orderBy(col("x"))
          .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
            org.apache.spark.sql.expressions.Window.currentRow)
        val wAll = org.apache.spark.sql.expressions.Window.partitionBy(col("g"))
        val edges = ref.groupBy(col("g"), col("x")).agg(count(lit(1)).as("c"))
          .withColumn("cum", sum(col("c")).over(wCum))
          .withColumn("n", sum(col("c")).over(wAll))
          .select(col("g"), col("cum"), col("n"), col("x"),
            explode(expr("sequence(1, 9)")).as("k"))
          .filter(col("cum") >= expr("(k * n + 9) DIV 10"))
          .groupBy(col("g"), col("k")).agg(min(col("x")).as("edge"))
          .localCheckpoint()
        edges.write.mode("overwrite").parquet(edgesDir)
        val rtot = ref.groupBy(col("g")).agg(count(lit(1)).as("n"))
        val rle = ref.join(broadcast(edges), "g")
          .groupBy(col("g"), col("k"))
          .agg(sum(when(col("x") <= col("edge"), 1L).otherwise(0L)).as("cle"))
        val wLag = org.apache.spark.sql.expressions.Window
          .partitionBy(col("g")).orderBy(col("k"))
        rle
          .withColumn("c", col("cle") - coalesce(lag(col("cle"), 1).over(wLag), lit(0L)))
          .select(col("g"), col("k"), col("c"))
          .union(rtot.join(rle.filter(col("k") === 9).select(col("g"), col("cle")), "g")
            .select(col("g"), lit(10).as("k"), (col("n") - col("cle")).as("c")))
          .join(rtot, "g")
          .select(col("g"), col("k"),
            expr("greatest(1L, ((c + 1) * 1000000) DIV (n + 10))").as("p_ppm"))
          .write.mode("overwrite").parquet(refDir)
      }
      // the stream: odd events as 3 batches
      val stream = stagedStream(s, "q135", (1 to 3).map(b =>
        ev.filter(col("event_id") % 6 === (2 * b - 1)).select(col("g"), col("x"))))
      drain(stream.writeStream
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, bid: Long) =>
          // no localCheckpoint: unlike q119 nothing here reads a table it
          // later appends to — the batch re-derives from its own files
          val b = batch
          val bs = b.sparkSession
          val edges = bs.read.parquet(edgesDir)   // (g, k, edge) — 45 rows
          val refp = bs.read.parquet(refDir)      // (g, k, p_ppm) — 50 rows
          val tot = b.groupBy(col("g")).agg(count(lit(1)).as("n"))
          val le = b.join(broadcast(edges), "g")
            .groupBy(col("g"), col("k"))
            .agg(sum(when(col("x") <= col("edge"), 1L).otherwise(0L)).as("cle"))
          val wLag = org.apache.spark.sql.expressions.Window
            .partitionBy(col("g")).orderBy(col("k"))
          val bins = le
            .withColumn("c", col("cle") - coalesce(lag(col("cle"), 1).over(wLag), lit(0L)))
            .select(col("g"), col("k"), col("c"))
            .union(tot.join(le.filter(col("k") === 9).select(col("g"), col("cle")), "g")
              .select(col("g"), lit(10).as("k"), (col("n") - col("cle")).as("c")))
          refp
            .join(bins, Seq("g", "k"), "left")
            .join(tot, Seq("g"), "left")
            .select(col("g"), col("k"), col("p_ppm"),
              expr("""greatest(1L, ((coalesce(c, 0L) + 1) * 1000000)
                      DIV (coalesce(n, 0L) + 10))""").as("q_ppm"),
              coalesce(col("n"), lit(0L)).as("n"))
            .groupBy(col("g"))
            .agg(max(col("n")).as("n_cur"),
              sum((col("p_ppm") - col("q_ppm")) *
                (expr(Tables.lnQ("p_ppm")) - expr(Tables.lnQ("q_ppm"))))
                .as("psi_scaled"))
            .withColumn("batch_id", lit(bid))
            .write.mode("append").parquet(resultsDir)
          ()
        }
        .option("checkpointLocation", Tables.tmp("graft-q135-ckpt")))
      s.read.parquet(resultsDir)
        .select(col("g"), col("batch_id"), col("n_cur"), col("psi_scaled"))
        .orderBy(col("g"), col("batch_id"))
    },
    Some(s"""WITH ev AS (
      SELECT event_type AS g,
        CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS x, event_id
      FROM events),
    ref AS (SELECT g, x FROM ev WHERE event_id % 2 = 0),
    rh AS (SELECT g, x, COUNT(*) AS c FROM ref GROUP BY 1, 2),
    rc AS (SELECT g, x, c,
        SUM(c) OVER (PARTITION BY g ORDER BY x
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        SUM(c) OVER (PARTITION BY g) AS n
      FROM rh),
    edges AS (SELECT g, k, MIN(x) AS edge
              FROM rc, unnest(range(1, 10)) AS t(k)
              WHERE cum >= (k * n + 9) // 10 GROUP BY g, k),
    rtot AS (SELECT g, COUNT(*) AS n FROM ref GROUP BY 1),
    rle AS (SELECT r.g, e.k,
              CAST(COUNT(CASE WHEN r.x <= e.edge THEN 1 END) AS BIGINT) AS cle
            FROM ref r JOIN edges e ON e.g = r.g GROUP BY 1, 2),
    rbins AS (
      SELECT g, k, cle - COALESCE(LAG(cle) OVER (PARTITION BY g ORDER BY k), 0) AS c
      FROM rle
      UNION ALL
      SELECT t.g, 10 AS k, t.n - l.cle FROM rtot t
      JOIN rle l ON l.g = t.g AND l.k = 9),
    refp AS (SELECT b.g, b.k,
        greatest(1, ((b.c + 1) * 1000000) // (t.n + 10)) AS p_ppm
      FROM rbins b JOIN rtot t ON t.g = b.g),
    cur AS (SELECT g, x, (event_id % 6 - 1) // 2 AS b FROM ev WHERE event_id % 2 = 1),
    ctot AS (SELECT g, b, COUNT(*) AS n FROM cur GROUP BY 1, 2),
    cle AS (SELECT c.g, c.b, e.k,
              CAST(COUNT(CASE WHEN c.x <= e.edge THEN 1 END) AS BIGINT) AS cle
            FROM cur c JOIN edges e ON e.g = c.g GROUP BY 1, 2, 3),
    cbins AS (
      SELECT g, b, k,
        cle - COALESCE(LAG(cle) OVER (PARTITION BY g, b ORDER BY k), 0) AS c
      FROM cle
      UNION ALL
      SELECT t.g, t.b, 10 AS k, t.n - l.cle FROM ctot t
      JOIN cle l ON l.g = t.g AND l.b = t.b AND l.k = 9),
    grid AS (SELECT r.g, r.k, r.p_ppm, bb.b
             FROM refp r, unnest(range(0, 3)) AS bb(b)),
    j AS (SELECT gr.g, gr.b, gr.p_ppm,
            greatest(1, ((COALESCE(cb.c, 0) + 1) * 1000000)
                        // (COALESCE(ct.n, 0) + 10)) AS q_ppm,
            COALESCE(ct.n, 0) AS n
          FROM grid gr
          LEFT JOIN cbins cb ON cb.g = gr.g AND cb.k = gr.k AND cb.b = gr.b
          LEFT JOIN ctot ct ON ct.g = gr.g AND ct.b = gr.b)
    SELECT g, CAST(b AS BIGINT) AS batch_id, CAST(MAX(n) AS BIGINT) AS n_cur,
      CAST(SUM((p_ppm - q_ppm) * (${Tables.lnQ("p_ppm")} - ${Tables.lnQ("q_ppm")}))
        AS BIGINT) AS psi_scaled
    FROM j GROUP BY 1, 2 ORDER BY g, batch_id"""))

  // --------------------------------------------------------------- q150
  // EVENT-TIME DISORDER AUDIT — the measurement that SIZES a watermark
  // instead of guessing it: for every event, its lateness relative to
  // the per-key high-water mark at its arrival position (arrival order
  // proxied by event_id, the generation sequence), bucketed into the
  // delay tiers a `withWatermark` call would choose between, with
  // cumulative coverage ppm per tier. An event `late_us` behind its
  // key's running max is exactly the event a `withWatermark(d)` with
  // d < late would drop from per-key state — so the smallest tier
  // reaching the coverage target IS the recommended delay. Scale: the
  // running max partitions on the HIGH-CARDINALITY key (per-key state
  // is also how the streaming operators shard, so the audit measures
  // the disorder that matters to them), the bucket rollup is bounded
  // (6 tiers), and the cumulative ppm runs over those 6 rows.
  private val q150 = QueryDef(
    "q150_disorder_audit",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      // deterministic transport jitter (≤ 2 h, an LCG step on the
      // bounded event ordinal) models the reordering a network ingest
      // actually sees — the raw generator emits in perfect time order,
      // which would make every audit read "on time"
      val w = Window.partitionBy(col("user_id")).orderBy(col("arr"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val late = events(s, dir)
        .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("us"))
        .withColumn("arr",
          expr("us + (event_id % 100000) * 1103515245 % 7200000000"))
        .withColumn("late_us", max(col("us")).over(w) - col("us"))
        .select(col("late_us"),
          expr("""CASE WHEN late_us = 0 THEN '0_ontime'
                  WHEN late_us < 60000000 THEN '1_under_1m'
                  WHEN late_us < 300000000 THEN '2_under_5m'
                  WHEN late_us < 900000000 THEN '3_under_15m'
                  WHEN late_us < 3600000000 THEN '4_under_1h'
                  ELSE '5_over_1h' END""").as("tier"))
      val byTier = late.groupBy(col("tier"))
        .agg(count(lit(1)).as("n_events"), max(col("late_us")).as("max_late_us"))
      val wc = Window.orderBy(col("tier"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      // the cumulative window runs over ≤ 6 tier rows — bounded by the
      // CASE domain, not the data
      byTier
        .withColumn("cum", sum(col("n_events")).over(wc))
        .withColumn("total", sum(col("n_events")).over(
          Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
        .select(col("tier"), col("n_events"), col("max_late_us"),
          expr("cum * 1000000 DIV total").as("coverage_ppm"))
        .orderBy(col("tier"))
    },
    Some("""WITH l AS (
      SELECT late_us,
        CASE WHEN late_us = 0 THEN '0_ontime'
             WHEN late_us < 60000000 THEN '1_under_1m'
             WHEN late_us < 300000000 THEN '2_under_5m'
             WHEN late_us < 900000000 THEN '3_under_15m'
             WHEN late_us < 3600000000 THEN '4_under_1h'
             ELSE '5_over_1h' END AS tier
      FROM (SELECT MAX(us) OVER (PARTITION BY user_id ORDER BY arr, event_id
              ROWS UNBOUNDED PRECEDING) - us AS late_us
            FROM (SELECT user_id, event_id, epoch_us(ts) AS us,
                    epoch_us(ts) + (event_id % 100000) * 1103515245 % 7200000000 AS arr
                  FROM events))),
    bt AS (SELECT tier, COUNT(*) AS n_events,
             CAST(MAX(late_us) AS BIGINT) AS max_late_us
           FROM l GROUP BY 1)
    SELECT tier, n_events, max_late_us,
      CAST(SUM(n_events) OVER (ORDER BY tier ROWS UNBOUNDED PRECEDING)
        * 1000000 // SUM(n_events) OVER () AS BIGINT) AS coverage_ppm
    FROM bt ORDER BY tier"""))

  // --------------------------------------------------------------- q183
  // WATERMARK-DELAY AUTOTUNER — q150 measures disorder and q154 shows
  // what a given watermark drops; this query CLOSES the loop and picks
  // the config value: for each candidate delay tier, the continuous
  // per-key lateness coverage (q150's audit, verbatim derivation) next
  // to the ROUTED loss a batch-boundary global watermark at that delay
  // would actually incur (q154's engine rule — prior batches' max event
  // time minus delay, advanced only at batch boundaries), with the
  // smallest tier reaching 99% coverage flagged as the recommendation.
  // The two ppm columns deliberately differ: coverage is per-KEY and
  // continuous (the audit's pessimistic view), routing is GLOBAL and
  // batch-paced (the engine's actual behavior, laggier watermark =
  // fewer drops) — the gap is the safety margin the audit buys. The
  // 6-delay sweep is one conditional pass over the arrival frame joined
  // to a 6-row broadcast (s23's budget-replay pattern); batches are
  // arrival-time terciles via a pure expression, their watermarks a
  // 3-row cumulative. q154 is the live foreachBatch twin of the replay
  // rule; this is the planning query you run BEFORE deploying it.
  private val q183 = QueryDef(
    "q183_watermark_autotune",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id")).orderBy(col("arr"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val base = events(s, dir)
        .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("us"))
        .withColumn("arr",
          expr("us + (event_id % 100000) * 1103515245 % 7200000000"))
      val late = base
        .withColumn("late_us", max(col("us")).over(w) - col("us"))
        .select(col("us"), col("arr"), col("late_us"),
          expr("""CASE WHEN late_us = 0 THEN '0_ontime'
                  WHEN late_us < 60000000 THEN '1_under_1m'
                  WHEN late_us < 300000000 THEN '2_under_5m'
                  WHEN late_us < 900000000 THEN '3_under_15m'
                  WHEN late_us < 3600000000 THEN '4_under_1h'
                  ELSE '5_over_1h' END""").as("tier"))
        .localCheckpoint()
      val wc = Window.orderBy(col("tier"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val coverage = late.groupBy(col("tier")).agg(count(lit(1)).as("n_events"))
        .withColumn("cum", sum(col("n_events")).over(wc))
        .withColumn("total", sum(col("n_events")).over(
          Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
        .select(col("tier"), expr("cum * 1000000 DIV total").as("coverage_ppm"))
      val tiers = s.range(1).selectExpr(
        """stack(6,
           '0_ontime', 0L,
           '1_under_1m', 60000000L,
           '2_under_5m', 300000000L,
           '3_under_15m', 900000000L,
           '4_under_1h', 3600000000L,
           '5_over_1h', 7200000000L) AS (tier, delay_us)""")
      // arrival-time terciles stand in for micro-batches; watermark of
      // batch b = max event time of batches < b (3-row cumulative)
      val span = base.agg(min(col("arr")).as("amin"),
        (max(col("arr")) - min(col("arr")) + 1).as("aspan"))
      val batched = late.crossJoin(broadcast(span))
        .withColumn("b", expr("(arr - amin) * 3 DIV aspan"))
        .select(col("us"), col("b"))
      val wms = batched.groupBy(col("b")).agg(max(col("us")).as("bmax"))
        .withColumn("wm_base", max(col("bmax")).over(Window.orderBy(col("b"))
          .rowsBetween(Window.unboundedPreceding, -1)))
        .select(col("b"), col("wm_base"))
      val routed = batched.join(broadcast(wms), Seq("b"))
        .crossJoin(broadcast(tiers))
        .groupBy(col("tier"), col("delay_us"))
        .agg(count(lit(1)).as("total"),
          sum(when(col("wm_base").isNotNull &&
            col("us") < col("wm_base") - col("delay_us"), 1L).otherwise(0L)).as("n_routed"))
        .select(col("tier"), col("delay_us"),
          expr("n_routed * 1000000 DIV total").as("routed_ppm"))
      val pick = coverage.filter(col("coverage_ppm") >= 990000)
        .agg(min(col("tier")).as("chosen_tier"))
      routed.join(coverage, Seq("tier"))
        .crossJoin(broadcast(pick))
        .select(col("tier"), col("delay_us"), col("coverage_ppm"), col("routed_ppm"),
          (col("tier") === col("chosen_tier")).as("chosen"))
        .orderBy(col("tier"))
    },
    Some("""WITH base AS (
      SELECT user_id, event_id, epoch_us(ts) AS us,
        epoch_us(ts) + (event_id % 100000) * 1103515245 % 7200000000 AS arr
      FROM events),
    l AS (SELECT us, arr,
        MAX(us) OVER (PARTITION BY user_id ORDER BY arr, event_id
          ROWS UNBOUNDED PRECEDING) - us AS late_us
      FROM base),
    lt AS (SELECT us, arr,
        CASE WHEN late_us = 0 THEN '0_ontime'
             WHEN late_us < 60000000 THEN '1_under_1m'
             WHEN late_us < 300000000 THEN '2_under_5m'
             WHEN late_us < 900000000 THEN '3_under_15m'
             WHEN late_us < 3600000000 THEN '4_under_1h'
             ELSE '5_over_1h' END AS tier
      FROM l),
    cov AS (SELECT tier,
        CAST(SUM(COUNT(*)) OVER (ORDER BY tier ROWS UNBOUNDED PRECEDING)
          * 1000000 // SUM(COUNT(*)) OVER () AS BIGINT) AS coverage_ppm
      FROM lt GROUP BY tier),
    tiers AS (SELECT * FROM (VALUES
        ('0_ontime', 0), ('1_under_1m', 60000000), ('2_under_5m', 300000000),
        ('3_under_15m', 900000000), ('4_under_1h', 3600000000),
        ('5_over_1h', 7200000000)) t(tier, delay_us)),
    sp AS (SELECT MIN(arr) AS amin, MAX(arr) - MIN(arr) + 1 AS aspan FROM base),
    bt AS (SELECT us, (arr - sp.amin) * 3 // sp.aspan AS b FROM lt, sp),
    wms AS (SELECT b, MAX(bmax) OVER (ORDER BY b
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS wm_base
      FROM (SELECT b, MAX(us) AS bmax FROM bt GROUP BY b)),
    routed AS (SELECT t.tier, t.delay_us,
        CAST(SUM(CASE WHEN w.wm_base IS NOT NULL
                 AND e.us < w.wm_base - t.delay_us THEN 1 ELSE 0 END)
          * 1000000 // COUNT(*) AS BIGINT) AS routed_ppm
      FROM bt e JOIN wms w ON e.b = w.b CROSS JOIN tiers t
      GROUP BY t.tier, t.delay_us),
    pick AS (SELECT MIN(tier) AS chosen_tier FROM cov WHERE coverage_ppm >= 990000)
    SELECT r.tier, CAST(r.delay_us AS BIGINT) AS delay_us, c.coverage_ppm,
      r.routed_ppm, r.tier = p.chosen_tier AS chosen
    FROM routed r JOIN cov c ON r.tier = c.tier CROSS JOIN pick p
    ORDER BY r.tier"""))

  // --------------------------------------------------------------- q151
  // STREAMING TOKEN-BUCKET RATE LIMITER — the per-key quota gate every
  // multi-tenant ingest runs in front of expensive downstream work:
  // each user holds a bucket of capacity C = 4 tokens refilled R = 2
  // per micro-batch; a batch admits each user's events in (ts,
  // event_id) order while tokens last and throttles the rest. Unlike
  // q119's content gate, the state here is a NUMBER that must refill
  // for users ABSENT from the batch too, so per-batch maintenance is a
  // full-outer merge of the state ledger with the batch's admissions
  // (state-sized, versioned per batch — the d24/q119 append-only-store
  // discipline, with the same clone-session read rule). Admission
  // ranking is a per-(user) window inside each batch — high-cardinality
  // key, batch-bounded rows. The oracle unrolls the three batches as
  // token-recursion CTEs (d29's pattern) and must admit the SAME event
  // ids: verdicts carry an admitted-id checksum, not just counts.
  private val RlCap = 4L
  private val RlRefill = 2L

  private val q151 = QueryDef(
    "q151_stream_rate_limit",
    (s, dir) => withShuffle(s, StreamStores) {
      import org.apache.spark.sql.expressions.Window
      val stream = stagedStream(s, "q151", (0 to 2).map(b =>
        events(s, dir).filter(col("event_id") % 3 === b)
          .select(col("event_id"), unix_micros(col("ts")).as("us"),
            col("user_id"), col("event_type"))))
      val resultsDir = Tables.tmp("graft-q151-verdicts")
      val stateRoot = Tables.tmp("graft-q151-state")
      drain(stream.writeStream
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, bid: Long) =>
          val bs = batch.sparkSession
          val b = batch.localCheckpoint()
          val state =
            if (bid == 0)
              b.select(col("user_id")).limit(0)
                .withColumn("tok", lit(RlCap)) // empty ledger, schema only
            else bs.read.parquet(s"$stateRoot/v${bid - 1}")
          val w = Window.partitionBy(col("user_id")).orderBy(col("us"), col("event_id"))
          val ranked = b.withColumn("rn", row_number().over(w).cast("long"))
          val verdicts = ranked
            .join(state, Seq("user_id"), "left")
            .withColumn("tok", coalesce(col("tok"), lit(RlCap)))
            .withColumn("admitted", (col("rn") <= col("tok")).cast("long"))
            .withColumn("batch_id", lit(bid))
            .localCheckpoint() // sever the state-read lineage before rewrite
          verdicts.select(col("batch_id"), col("event_id"), col("user_id"),
            col("event_type"), col("admitted"))
            .write.mode("append").parquet(resultsDir)
          // refill EVERYONE: absent users regain tokens too, so the merge
          // is state ∪ batch admissions, never just the batch's keys
          val adm = verdicts.groupBy(col("user_id"))
            .agg(sum(col("admitted")).as("adm"))
          state.join(adm, Seq("user_id"), "full_outer")
            .select(col("user_id"),
              least(lit(RlCap),
                coalesce(col("tok"), lit(RlCap)) - coalesce(col("adm"), lit(0L))
                  + lit(RlRefill)).as("tok"))
            .write.mode("overwrite").parquet(s"$stateRoot/v$bid")
          ()
        }
        .option("checkpointLocation", Tables.tmp("graft-q151-ckpt")))
      s.read.parquet(resultsDir)
        .groupBy(col("batch_id"))
        .agg(
          count(lit(1)).as("n_events"),
          sum(col("admitted")).as("n_admitted"),
          sum(lit(1L) - col("admitted")).as("n_throttled"),
          (sum(when(col("admitted") === 1L, col("event_id") % HashMod).otherwise(0L))
            % HashMod).as("admitted_checksum"))
        .orderBy(col("batch_id"))
    },
    Some(s"""WITH ev AS (
      SELECT event_id, epoch_us(ts) AS us, user_id, event_id % 3 AS b
      FROM events),
    r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id, b
            ORDER BY us, event_id) AS rn FROM ev),
    u AS (SELECT DISTINCT user_id FROM ev),
    n AS (SELECT user_id, b, COUNT(*) AS n FROM ev GROUP BY 1, 2),
    t0 AS (SELECT u.user_id, CAST($RlCap AS BIGINT) AS tok FROM u),
    a0 AS (SELECT t0.user_id, t0.tok,
             LEAST(COALESCE(n.n, 0), t0.tok) AS adm
           FROM t0 LEFT JOIN n ON n.user_id = t0.user_id AND n.b = 0),
    t1 AS (SELECT user_id, LEAST($RlCap, tok - adm + $RlRefill) AS tok FROM a0),
    a1 AS (SELECT t1.user_id, t1.tok,
             LEAST(COALESCE(n.n, 0), t1.tok) AS adm
           FROM t1 LEFT JOIN n ON n.user_id = t1.user_id AND n.b = 1),
    t2 AS (SELECT user_id, LEAST($RlCap, tok - adm + $RlRefill) AS tok FROM a1),
    tok AS (SELECT user_id, 0 AS b, tok FROM a0
            UNION ALL SELECT user_id, 1, tok FROM a1
            UNION ALL SELECT user_id, 2, tok FROM t2),
    v AS (SELECT r.b, r.event_id,
            CASE WHEN r.rn <= tok.tok THEN 1 ELSE 0 END AS admitted
          FROM r JOIN tok ON tok.user_id = r.user_id AND tok.b = r.b)
    SELECT CAST(b AS BIGINT) AS batch_id, COUNT(*) AS n_events,
      CAST(SUM(admitted) AS BIGINT) AS n_admitted,
      CAST(SUM(1 - admitted) AS BIGINT) AS n_throttled,
      CAST(SUM(CASE WHEN admitted = 1 THEN event_id % $HashMod ELSE 0 END)
        % $HashMod AS BIGINT) AS admitted_checksum
    FROM v GROUP BY 1 ORDER BY 1"""))

  // --------------------------------------------------------------- q154
  // STREAMING LATE-DATA DEAD-LETTER ROUTER — the operational complement
  // of q150's watermark-sizing audit: a `withWatermark` pipeline DROPS
  // late rows silently, but a production ingest routes them to a
  // dead-letter store with provenance so backfill can replay them. Each
  // micro-batch applies the watermark Spark itself would hold — global
  // max event time over all PRIOR batches minus the allowed lateness,
  // advanced only at batch boundaries (exactly the engine's rule) — and
  // splits the batch: on-time rows pass, older rows are routed with how
  // far behind the watermark they were. The arrival stream is a
  // deterministic transport jitter cut into 3 equal arrival-order
  // ranges; two measured design corrections shaped it. (1) The jitter
  // and the allowed lateness are SCALED TO THE DATA'S TIME SPAN
  // (jitter < ⅙ of it ≈ half a batch range, lateness = 1/24), because
  // draining months of history through 3 micro-batches compresses the
  // timeline: a wall-clock 2 h jitter against 30-day batch ranges
  // routes nothing and the operator would be tested on an empty set.
  // (2) The jitter draws from poly_hash(event_id), NOT q150's LCG
  // multiply-mod: at a span-sized modulus the LCG product never wraps,
  // leaving the jitter MONOTONE in event_id — which correlates with
  // event time, so arrival order stayed time order and again nothing
  // was late (both first cuts measured 0 routed rows; the hash breaks
  // the correlation). The watermark
  // state is a single (max event time) row versioned per batch — O(1)
  // state, the cheapest member of the d24/q151 append-only-ledger
  // family. The oracle unrolls the batches with a running-max window
  // over per-batch maxima and must route the SAME rows (routed-id
  // checksum, not just counts).
  private val q154 = QueryDef(
    "q154_stream_late_router",
    (s, dir) => withShuffle(s, StreamStores) {
      // lateD = span/24, the allowed lateness
      val (lateD, stream) = graft.BenchSplit.setup {
        val base = events(s, dir)
          .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("us"))
        // event-time bounds: one bounded agg drives the span-scaled
        // jitter/lateness knobs AND the 3 arrival ranges
        val rb = base.agg(min(col("us")), max(col("us"))).head
        val (umn, umx) = (rb.getLong(0), rb.getLong(1))
        val jitterMod = (umx - umn + 1) / 6
        // poly_hash of sequential id strings is nearly AFFINE in the id
        // (each digit step shifts the polynomial by a constant), so its
        // low bits alone still track event order — the Knuth
        // multiplicative step scrambles them (h ≤ 1e9+6, so h·2654435761
        // < 2^63: exact in both engines); 12 bits then scale into
        // [0, jitterMod) without overflow at any span
        val withArr = base.withColumn("arr",
          expr(s"us + (((${Tables.strHashExpr("CAST(event_id AS STRING)")} * 2654435761) % 4096) * $jitterMod) DIV 4096"))
        val ra = withArr.agg(min(col("arr")), max(col("arr"))).head
        val (mn, mx) = (ra.getLong(0), ra.getLong(1))
        val tiers = withArr.withColumn("b",
          expr(s"least(2, ((arr - $mn) * 3) DIV ${mx - mn + 1})"))
        ((umx - umn + 1) / 24, stagedStream(s, "q154", (0 to 2).map(b =>
          tiers.filter(col("b") === b).select(col("event_id"), col("user_id"), col("us")))))
      }
      val resultsDir = Tables.tmp("graft-q154-verdicts")
      val stateRoot = Tables.tmp("graft-q154-state")
      drain(stream.writeStream
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, bid: Long) =>
          val bs = batch.sparkSession
          val b = batch.localCheckpoint()
          // watermark BEFORE this batch: prior-batches max event time −
          // allowed lateness; batch 0 has no watermark yet
          val wmUs: Option[Long] =
            if (bid == 0) None
            else Some(bs.read.parquet(s"$stateRoot/v${bid - 1}").head.getLong(0) - lateD)
          val verdicts = b
            .withColumn("late",
              wmUs.map(w => (col("us") < w).cast("long")).getOrElse(lit(0L)))
            .withColumn("behind_us",
              wmUs.map(w => when(col("us") < w, lit(w) - col("us")).otherwise(0L))
                .getOrElse(lit(0L)))
            .withColumn("batch_id", lit(bid))
            .localCheckpoint() // sever the state-read lineage before rewrite
          verdicts
            .select(col("batch_id"), col("event_id"), col("user_id"),
              col("late"), col("behind_us"))
            .write.mode("append").parquet(resultsDir)
          // advance the watermark clock: running max of event time
          val batchMax = verdicts.agg(max(col("us"))).head.getLong(0)
          val newMax = wmUs.map(w => math.max(w + lateD, batchMax)).getOrElse(batchMax)
          bs.range(1).select(lit(newMax).as("max_us"))
            .write.mode("overwrite").parquet(s"$stateRoot/v$bid")
          ()
        }
        .option("checkpointLocation", Tables.tmp("graft-q154-ckpt")))
      s.read.parquet(resultsDir)
        .groupBy(col("batch_id"))
        .agg(
          count(lit(1)).as("n_events"),
          sum(lit(1L) - col("late")).as("n_passed"),
          sum(col("late")).as("n_routed"),
          max(col("behind_us")).as("max_behind_us"),
          (sum(when(col("late") === 1L, col("event_id") % HashMod).otherwise(0L))
            % HashMod).as("routed_checksum"))
        .orderBy(col("batch_id"))
    },
    Some(s"""WITH ev0 AS (
      SELECT event_id, user_id, epoch_us(ts) AS us FROM events),
    ub AS (SELECT (MAX(us) - MIN(us) + 1) // 6 AS jmod,
                  (MAX(us) - MIN(us) + 1) // 24 AS lated FROM ev0),
    ev AS (SELECT e.*,
             us + (((${Tables.strHashSql("CAST(event_id AS VARCHAR)")} * 2654435761) % 4096) * jmod) // 4096 AS arr
           FROM ev0 e CROSS JOIN ub),
    bounds AS (SELECT MIN(arr) AS mn, MAX(arr) AS mx FROM ev),
    t AS (SELECT e.*, LEAST(2, (arr - mn) * 3 // (mx - mn + 1)) AS b
          FROM ev e CROSS JOIN bounds),
    mxs AS (SELECT b, MAX(us) AS mxus FROM t GROUP BY b),
    wm AS (SELECT b, MAX(mxus) OVER (ORDER BY b
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
             - (SELECT lated FROM ub) AS wm_us
           FROM mxs),
    v AS (SELECT t.b, t.event_id,
            CASE WHEN wm.wm_us IS NOT NULL AND t.us < wm.wm_us THEN 1 ELSE 0 END AS late,
            CASE WHEN wm.wm_us IS NOT NULL AND t.us < wm.wm_us
                 THEN wm.wm_us - t.us ELSE 0 END AS behind
          FROM t JOIN wm ON wm.b = t.b)
    SELECT CAST(b AS BIGINT) AS batch_id, COUNT(*) AS n_events,
      CAST(SUM(1 - late) AS BIGINT) AS n_passed,
      CAST(SUM(late) AS BIGINT) AS n_routed,
      CAST(MAX(behind) AS BIGINT) AS max_behind_us,
      CAST(SUM(CASE WHEN late = 1 THEN event_id % $HashMod ELSE 0 END)
        % $HashMod AS BIGINT) AS routed_checksum
    FROM v GROUP BY 1 ORDER BY 1"""))

  // --------------------------------------------------------------- q157
  // STREAMING SCD2 DIMENSION HISTORY — q53 classifies a batch SCD2
  // merge; this MAINTAINS the type-2 history across micro-batches (the
  // production shape: a change feed continuously versioning a dimension
  // with validity intervals). The change feed is events time-sliced
  // into 3 batches (thirds of the event-time axis — an ordered ingest,
  // unlike q154's jittered one); per batch each user's LAST record wins
  // (q112's batch-upsert rule), and the ledger update is the SCD2 law:
  // a changed attribute CLOSES the open row (valid_to = the new row's
  // timestamp) and INSERTS a new open row; an unchanged attribute is a
  // no-op; history rows are immutable forever after. State is the full
  // versioned history table (the q151 ledger discipline). The oracle
  // derives the same history declaratively: per-user batch-latest
  // records, LAG-detected transitions, LEAD-assigned closing
  // timestamps — the streaming ledger and the window formulation must
  // agree row-for-row (per-attr counts + (user, valid_from) checksum).
  private val q157 = QueryDef(
    "q157_stream_scd2",
    (s, dir) => withShuffle(s, StreamStores) {
      import org.apache.spark.sql.expressions.Window
      val stream = graft.BenchSplit.setup {
        val base = events(s, dir)
          .select(col("event_id"), col("user_id"), col("event_type").as("attr"),
            unix_micros(col("ts")).as("us"))
        val rb = base.agg(min(col("us")), max(col("us"))).head
        val (mn, mx) = (rb.getLong(0), rb.getLong(1))
        val tiers = base.withColumn("b",
          expr(s"least(2, ((us - $mn) * 3) DIV ${mx - mn + 1})"))
        stagedStream(s, "q157", (0 to 2).map(b =>
          tiers.filter(col("b") === b)
            .select(col("event_id"), col("user_id"), col("attr"), col("us"))))
      }
      val stateRoot = Tables.tmp("graft-q157-state")
      drain(stream.writeStream
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, bid: Long) =>
          val bs = batch.sparkSession
          val w = Window.partitionBy(col("user_id"))
            .orderBy(col("us").desc, col("event_id").desc)
          val bl = batch.localCheckpoint()
            .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
            .select(col("user_id"), col("attr").as("new_attr"), col("us").as("new_us"))
          val state =
            if (bid == 0)
              bl.select(col("user_id")).limit(0)
                .withColumn("attr", lit("")).withColumn("from_us", lit(0L))
                .withColumn("to_us", lit(null).cast("long"))
            else bs.read.parquet(s"$stateRoot/v${bid - 1}")
          // decide per open row/arrival what changes; closed history rows
          // (to_us set) are immutable and pass through untouched
          val open = state.filter(col("to_us").isNull)
          val closedHist = state.filter(col("to_us").isNotNull)
          val merged = open.join(bl, Seq("user_id"), "full_outer")
          val unchanged = merged
            .filter(col("attr").isNotNull &&
              (col("new_attr").isNull || col("new_attr") === col("attr")))
            .select(col("user_id"), col("attr"), col("from_us"),
              lit(null).cast("long").as("to_us"))
          val closedNow = merged
            .filter(col("attr").isNotNull && col("new_attr").isNotNull &&
              col("new_attr") =!= col("attr"))
            .select(col("user_id"), col("attr"), col("from_us"),
              col("new_us").as("to_us"))
          val opened = merged
            .filter(col("new_attr").isNotNull &&
              (col("attr").isNull || col("new_attr") =!= col("attr")))
            .select(col("user_id"), col("new_attr").as("attr"),
              col("new_us").as("from_us"), lit(null).cast("long").as("to_us"))
          closedHist.unionByName(unchanged).unionByName(closedNow)
            .unionByName(opened)
            .localCheckpoint() // sever the state-read lineage before rewrite
            .write.mode("overwrite").parquet(s"$stateRoot/v$bid")
          ()
        }
        .option("checkpointLocation", Tables.tmp("graft-q157-ckpt")))
      s.read.parquet(s"$stateRoot/v2")
        .groupBy(col("attr"))
        .agg(
          count(lit(1)).as("n_rows"),
          sum(when(col("to_us").isNull, 1L).otherwise(0L)).as("n_open"),
          (sum(((col("user_id") % HashMod) * 31 + col("from_us") % HashMod)
            % HashMod) % HashMod).as("from_checksum"))
        .orderBy(col("attr"))
    },
    Some(s"""WITH ev AS (
      SELECT event_id, user_id, event_type AS attr, epoch_us(ts) AS us
      FROM events),
    ub AS (SELECT MIN(us) AS mn, MAX(us) AS mx FROM ev),
    t AS (SELECT e.*, LEAST(2, (us - mn) * 3 // (mx - mn + 1)) AS b
          FROM ev e CROSS JOIN ub),
    bl AS (SELECT user_id, b, attr, us FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id, b
          ORDER BY us DESC, event_id DESC) AS rn FROM t)
      WHERE rn = 1),
    tr AS (SELECT user_id, b, attr, us,
             LAG(attr) OVER (PARTITION BY user_id ORDER BY b) AS prev
           FROM bl),
    trans AS (SELECT user_id, b, attr, us FROM tr
              WHERE prev IS NULL OR attr <> prev),
    hist AS (SELECT user_id, attr, us AS from_us,
               LEAD(us) OVER (PARTITION BY user_id ORDER BY b) AS to_us
             FROM trans)
    SELECT attr, COUNT(*) AS n_rows,
      CAST(SUM(CASE WHEN to_us IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_open,
      CAST(SUM(((user_id % $HashMod) * 31 + from_us % $HashMod) % $HashMod)
        % $HashMod AS BIGINT) AS from_checksum
    FROM hist GROUP BY 1 ORDER BY 1"""))

  // --------------------------------------------------------------- q164
  // STREAMING CONTRACT GATE — the content-based dead-letter router:
  // q163's declarative rule battery applied per micro-batch at ingest,
  // with admitted rows and violations routed to SEPARATE ledgers (the
  // DLQ pattern; q154 routes on TIME, this routes on CONTENT — together
  // they are the two halves of a production ingest gate). Rules are
  // per-row, so unlike q151/q157 no state ledger crosses batches: each
  // batch is one narrow expression pass + two idempotent appends, and
  // the oracle needs no batch unrolling — per-row verdicts are batch-
  // composition-invariant, pinned by grouping on the same event_id % 3
  // split the stage writer used. Faults are planted deterministically
  // at stage time (the wire corrupts: negated value on id ≡ 0 mod 23,
  // out-of-domain type on id ≡ 0 mod 29, a 1999 timestamp on id ≡ 0
  // mod 31 — first matching rule wins, the m16 discipline). At 100 TB
  // the plan per batch is a pure map + append: no shuffle at all until
  // the final report aggregate.
  private val q164 = QueryDef(
    "q164_stream_contract_gate",
    (s, dir) => withShuffle(s, StreamStores) {
      val corrupt = Seq(
        "CASE WHEN event_id % 23 = 0 THEN -value ELSE value END AS value",
        """CASE WHEN event_id % 23 <> 0 AND event_id % 29 = 0
           THEN concat('zz_', event_type) ELSE event_type END AS event_type""",
        """CASE WHEN event_id % 23 <> 0 AND event_id % 29 <> 0 AND event_id % 31 = 0
           THEN us - 800000000000000 ELSE us END AS us""")
      val stream = stagedStream(s, "q164", (0 to 2).map(b =>
        events(s, dir).filter(col("event_id") % 3 === b)
          .select(col("event_id"), unix_micros(col("ts")).as("us"),
            col("user_id"), col("event_type"), col("value"))
          .selectExpr(Seq("event_id", "user_id") ++ corrupt: _*)))
      val verdictExpr =
        """CASE WHEN value < 0 THEN 'r1_value_negative'
                WHEN event_type NOT IN ('click', 'view', 'purchase', 'signup', 'error')
                  THEN 'r2_type_domain'
                WHEN us < 1577836800000000 OR us >= 1893456000000000
                  THEN 'r3_ts_implausible'
                ELSE 'ok' END"""
      val admittedDir = Tables.tmp("graft-q164-admitted")
      val dlqDir = Tables.tmp("graft-q164-dlq")
      drain(stream.writeStream
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, bid: Long) =>
          val v = batch.withColumn("verdict", expr(verdictExpr))
            .withColumn("batch_id", lit(bid))
            .localCheckpoint() // one evaluation feeds both routed appends
          v.filter(col("verdict") === "ok")
            .write.mode("append").parquet(admittedDir)
          v.filter(col("verdict") =!= "ok")
            .write.mode("append").parquet(dlqDir)
          ()
        }
        .option("checkpointLocation", Tables.tmp("graft-q164-ckpt")))
      s.read.parquet(admittedDir).unionByName(s.read.parquet(dlqDir))
        .groupBy(col("batch_id"), col("verdict"))
        .agg(count(lit(1)).as("n"),
          (sum(col("event_id") % HashMod) % HashMod).as("id_checksum"))
        .orderBy(col("batch_id"), col("verdict"))
    },
    Some(s"""WITH raw AS (
      SELECT event_id, event_id % 3 AS batch_id, epoch_us(ts) AS us0,
        value AS v0, event_type AS t0
      FROM events),
    c AS (SELECT event_id, batch_id,
        CASE WHEN event_id % 23 = 0 THEN -v0 ELSE v0 END AS value,
        CASE WHEN event_id % 23 <> 0 AND event_id % 29 = 0
             THEN 'zz_' || t0 ELSE t0 END AS event_type,
        CASE WHEN event_id % 23 <> 0 AND event_id % 29 <> 0 AND event_id % 31 = 0
             THEN us0 - 800000000000000 ELSE us0 END AS us
      FROM raw),
    v AS (SELECT batch_id, event_id,
        CASE WHEN value < 0 THEN 'r1_value_negative'
             WHEN event_type NOT IN ('click', 'view', 'purchase', 'signup', 'error')
               THEN 'r2_type_domain'
             WHEN us < 1577836800000000 OR us >= 1893456000000000
               THEN 'r3_ts_implausible'
             ELSE 'ok' END AS verdict
      FROM c)
    SELECT CAST(batch_id AS BIGINT) AS batch_id, verdict, COUNT(*) AS n,
      CAST(SUM(event_id % $HashMod) % $HashMod AS BIGINT) AS id_checksum
    FROM v GROUP BY 1, 2 ORDER BY batch_id, verdict"""))

  // --------------------------------------------------------------- q169
  // STREAMING TEMPORAL ENRICH — the stream-side AS-OF lookup: every
  // arriving event joins the dimension VERSION that was valid at its
  // EVENT time (not at arrival time — q38's stream-static equi-join
  // gets amnesia about history; this is the SCD2-consuming half of
  // q157, which MAINTAINS the history). The dimension is a two-version
  // SCD2 tier table published before the stream starts (v1 from epoch
  // 0, v2 from the corpus midpoint — both derived deterministically
  // from the data, the fixture clock discipline). Per micro-batch the
  // enrich is one equi-join on user_id plus the interval predicate —
  // each probe meets ≤ 2 candidate versions, so the join stays linear
  // and hash-partitioned on the user key at any scale (no broadcast
  // hint: the dim is SF-proportional, the d09 hazard class). Per-row
  // verdicts are batch-composition-invariant, so the oracle needs no
  // batch unrolling.
  private val q169 = QueryDef(
    "q169_stream_temporal_enrich",
    (s, dir) => withShuffle(s, StreamStores) {
      val dimPath = Tables.tmp("graft-q169-dim")
      val stream = graft.BenchSplit.setup {
        val ev = events(s, dir)
          .select(col("event_id"), unix_micros(col("ts")).as("us"),
            col("user_id"), col("value"))
        // publish the SCD2 dim first (it pre-exists at ingest time):
        // v1 [0, mid) tier = user % 3; v2 [mid, ∞) tier = user % 3 + 10
        val mid = ev.agg(expr("(min(us) + max(us)) DIV 2").as("mid"))
        ev.select(col("user_id")).distinct().crossJoin(mid)
          .select(col("user_id"), col("mid"))
          .selectExpr("user_id",
            "stack(2, 0L, mid, user_id % 3, mid, 9223372036854775807L, user_id % 3 + 10) AS (valid_from, valid_to, tier)")
          .write.mode("overwrite").parquet(dimPath)
        stagedStream(s, "q169", (0 to 2).map(b => ev.filter(col("event_id") % 3 === b)))
      }
      val dim = s.read.parquet(dimPath)
      val resultsDir = Tables.tmp("graft-q169-enriched")
      drain(stream.writeStream
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, bid: Long) =>
          batch.join(dim, Seq("user_id"))
            .filter(col("us") >= col("valid_from") && col("us") < col("valid_to"))
            .withColumn("batch_id", lit(bid))
            .select(col("batch_id"), col("event_id"), col("tier"),
              expr("CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)").as("cents"))
            .write.mode("append").parquet(resultsDir)
          ()
        }
        .option("checkpointLocation", Tables.tmp("graft-q169-ckpt")))
      s.read.parquet(resultsDir)
        .groupBy(col("batch_id"), col("tier"))
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("cents"),
          (sum(col("event_id") % HashMod) % HashMod).as("id_checksum"))
        .orderBy(col("batch_id"), col("tier"))
    },
    Some(s"""WITH ev AS (
      SELECT event_id, event_id % 3 AS batch_id, epoch_us(ts) AS us,
        user_id, value
      FROM events),
    mid AS (SELECT (MIN(us) + MAX(us)) // 2 AS mid FROM ev),
    enriched AS (SELECT batch_id, event_id, value,
        CASE WHEN us < (SELECT mid FROM mid) THEN user_id % 3
             ELSE user_id % 3 + 10 END AS tier
      FROM ev)
    SELECT CAST(batch_id AS BIGINT) AS batch_id, tier, COUNT(*) AS n,
      CAST(SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS cents,
      CAST(SUM(event_id % $HashMod) % $HashMod AS BIGINT) AS id_checksum
    FROM enriched GROUP BY 1, 2 ORDER BY batch_id, tier"""))

  // ---------------------------------------------------------------- q173
  // STREAMING MERKLE TABLE DIFF — q171's two-phase snapshot diff with the
  // PRIMARY side's bucket digests maintained incrementally, the
  // d24/q119 append-only-ledger discipline: the digest monoid
  // (count, Σ(k·1000003+cents) mod M) is additive, so each micro-batch
  // appends ONLY its own per-bucket delta digest to a ledger — the
  // update path never reads the ledger or rescans the table, and the
  // diff phase folds |buckets|×|generations| ledger rows instead of
  // re-digesting 100 TB of rows (`q173DigestFold`'s plan scans the
  // ledger alone — pinned by `StreamDiffPlanSpec`). The replica carries
  // q171's planted mutations; row-level work stays semi-join-restricted
  // to differing buckets. Output adds a `ledger_entries` row pinning
  // that 4 digest generations (base + 3 batches) actually exist.
  // Oracle: the ledger unrolled as one digest CTE per generation, folded
  // — maintenance must be indistinguishable from rebuilding the digest.
  private def q173Digest(df: org.apache.spark.sql.DataFrame) =
    df.withColumn("bucket", col("k") % 64)
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n"),
        (sum((col("k") * 1000003L + col("cents")) % HashMod) % HashMod).as("ck"))

  /** Ledger fold: the maintained digest of the CURRENT primary snapshot,
    * computed from ledger rows only (exposed for the plan spec). */
  private[graft] def q173DigestFold(
      s: org.apache.spark.sql.SparkSession, ledgerDir: String) =
    s.read.parquet(ledgerDir)
      .groupBy(col("bucket"))
      .agg(sum(col("n")).as("n"), (sum(col("ck")) % HashMod).as("ck"))

  private val q173 = QueryDef(
    "q173_stream_table_diff",
    (s, dir) => withShuffle(s, StreamStores) {
      val ledgerDir = Tables.tmp("graft-q173-ledger")
      val rowsDir = Tables.tmp("graft-q173-rows")
      def kv(df: org.apache.spark.sql.DataFrame) =
        df.select(col("o_orderkey").as("k"),
          expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)").as("cents"))
      graft.BenchSplit.setup {
        // the pre-existing primary (even keys): rows + its digest ledger
        // generation 0 (at scale both exist already); both live in the
        // same batch_id-partitioned layout the streaming writes use, so
        // a replayed micro-batch lands in its own partition (see below)
        val base = kv(rd(s, dir, "orders")).filter(col("k") % 2 === 0)
        base.withColumn("batch_id", lit(-1L))
          .write.partitionBy("batch_id").parquet(rowsDir)
        q173Digest(base).withColumn("batch_id", lit(-1L))
          .write.partitionBy("batch_id").parquet(ledgerDir)
      }
      // the delta: 3 batches (odd keys, q119 layout)
      val stream = stagedStream(s, "q173", (1 to 3).map(b =>
        kv(rd(s, dir, "orders")).filter(col("k") % 6 === (2 * b - 1))))
      drain(stream.writeStream
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, bid: Long) =>
          // the ingest path: rows and the batch's OWN delta digest land
          // as a batchId-keyed DYNAMIC partition overwrite — neither
          // write reads existing state, and a replayed micro-batch
          // (foreachBatch is at-least-once) replaces its own partition
          // instead of double-appending, so the maintained digest stays
          // indistinguishable from a rebuild even under retries
          val b = batch.localCheckpoint()
          b.withColumn("batch_id", lit(bid))
            .write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id").parquet(rowsDir)
          q173Digest(b).withColumn("batch_id", lit(bid))
            .write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id").parquet(ledgerDir)
          ()
        }
        .option("checkpointLocation", Tables.tmp("graft-q173-ckpt")))
      // ---- diff phase: ledger fold vs the replica's one-scan digest ----
      val ledger = s.read.parquet(ledgerDir)
      val cur = q173DigestFold(s, ledgerDir)
      // the replica (another cluster's copy): primary + planted mutations
      val primary = kv(rd(s, dir, "orders"))
      val replica = primary
        .withColumn("cents",
          expr("CASE WHEN k % 41 = 0 THEN cents + 1 ELSE cents END"))
        .filter(expr("NOT (k % 41 <> 0 AND k % 43 = 0)"))
        .unionByName(primary
          .filter(expr("k % 41 <> 0 AND k % 43 <> 0 AND k % 47 = 0"))
          .select((col("k") + 1000000L).as("k"), col("cents")))
      val diffBuckets = cur.withColumnRenamed("n", "n_p").withColumnRenamed("ck", "ck_p")
        .join(q173Digest(replica)
            .withColumnRenamed("n", "n_r").withColumnRenamed("ck", "ck_r"),
          Seq("bucket"), "full")
        .filter(!(col("n_p") <=> col("n_r")) || !(col("ck_p") <=> col("ck_r")))
        .select(col("bucket"))
      def inDiff(df: org.apache.spark.sql.DataFrame) =
        df.withColumn("bucket", col("k") % 64)
          .join(diffBuckets, Seq("bucket"), "left_semi")
      val rows = inDiff(s.read.parquet(rowsDir)).select(col("k"), col("cents").as("cents_p"))
        .join(inDiff(replica).select(col("k"), col("cents").as("cents_r")),
          Seq("k"), "full")
        .withColumn("status", expr("""CASE
            WHEN cents_p IS NULL THEN 'added'
            WHEN cents_r IS NULL THEN 'removed'
            WHEN cents_p <> cents_r THEN 'changed' END"""))
        .filter(col("status").isNotNull)
        .groupBy(col("status"))
        .agg(count(lit(1)).as("n"),
          (sum(col("k") % HashMod) % HashMod).as("key_checksum"))
      diffBuckets.agg(count(lit(1)).as("n"),
          coalesce(sum(col("bucket")), lit(0L)).as("key_checksum"))
        .select(lit("buckets_differing").as("status"), col("n"), col("key_checksum"))
        .unionByName(ledger.agg(count(lit(1)).as("n"),
            coalesce(sum(col("bucket")) % HashMod, lit(0L)).as("key_checksum"))
          .select(lit("ledger_entries").as("status"), col("n"), col("key_checksum")))
        .unionByName(rows)
        .orderBy(col("status"))
    },
    Some(s"""WITH prim AS (
      SELECT o_orderkey AS k,
        CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
      FROM orders),
    g0 AS (SELECT k % 64 AS bucket, COUNT(*) AS n,
             CAST(SUM((k * 1000003 + cents) % $HashMod) % $HashMod AS BIGINT) AS ck
           FROM prim WHERE k % 2 = 0 GROUP BY 1),
    g1 AS (SELECT k % 64 AS bucket, COUNT(*) AS n,
             CAST(SUM((k * 1000003 + cents) % $HashMod) % $HashMod AS BIGINT) AS ck
           FROM prim WHERE k % 6 = 1 GROUP BY 1),
    g2 AS (SELECT k % 64 AS bucket, COUNT(*) AS n,
             CAST(SUM((k * 1000003 + cents) % $HashMod) % $HashMod AS BIGINT) AS ck
           FROM prim WHERE k % 6 = 3 GROUP BY 1),
    g3 AS (SELECT k % 64 AS bucket, COUNT(*) AS n,
             CAST(SUM((k * 1000003 + cents) % $HashMod) % $HashMod AS BIGINT) AS ck
           FROM prim WHERE k % 6 = 5 GROUP BY 1),
    ledger AS (SELECT * FROM g0 UNION ALL SELECT * FROM g1
               UNION ALL SELECT * FROM g2 UNION ALL SELECT * FROM g3),
    cur AS (SELECT bucket, SUM(n) AS n, SUM(ck) % $HashMod AS ck
            FROM ledger GROUP BY 1),
    replica AS (
      SELECT k, CASE WHEN k % 41 = 0 THEN cents + 1 ELSE cents END AS cents
      FROM prim WHERE NOT (k % 41 <> 0 AND k % 43 = 0)
      UNION ALL
      SELECT k + 1000000, cents FROM prim
      WHERE k % 41 <> 0 AND k % 43 <> 0 AND k % 47 = 0),
    dr AS (SELECT k % 64 AS bucket, COUNT(*) AS n,
             CAST(SUM((k * 1000003 + cents) % $HashMod) % $HashMod AS BIGINT) AS ck
           FROM replica GROUP BY 1),
    diffb AS (SELECT COALESCE(cur.bucket, dr.bucket) AS bucket
              FROM cur FULL JOIN dr ON cur.bucket = dr.bucket
              WHERE cur.n IS DISTINCT FROM dr.n OR cur.ck IS DISTINCT FROM dr.ck),
    rp AS (SELECT * FROM prim WHERE k % 64 IN (SELECT bucket FROM diffb)),
    rr AS (SELECT * FROM replica WHERE k % 64 IN (SELECT bucket FROM diffb)),
    d AS (SELECT COALESCE(rp.k, rr.k) AS k,
            CASE WHEN rp.k IS NULL THEN 'added'
                 WHEN rr.k IS NULL THEN 'removed'
                 WHEN rp.cents <> rr.cents THEN 'changed' END AS status
          FROM rp FULL JOIN rr ON rp.k = rr.k),
    rows_out AS (SELECT status, COUNT(*) AS n,
            CAST(SUM(k % $HashMod) % $HashMod AS BIGINT) AS key_checksum
          FROM d WHERE status IS NOT NULL GROUP BY status)
    SELECT * FROM (
      SELECT 'buckets_differing' AS status, COUNT(*) AS n,
        CAST(COALESCE(SUM(bucket), 0) AS BIGINT) AS key_checksum FROM diffb
      UNION ALL
      SELECT 'ledger_entries', COUNT(*),
        CAST(COALESCE(SUM(bucket) % $HashMod, 0) AS BIGINT) FROM ledger
      UNION ALL SELECT status, n, key_checksum FROM rows_out
    ) ORDER BY status"""))

  // --------------------------------------------------------------- q182
  // STREAMING KMV CARDINALITY LEDGER — "how many distinct users so far"
  // maintained at ingest with O(k) state per micro-batch: each batch
  // appends only its own 64-minimum-hash partial (q180's sketch, whose
  // k-min-of-union monoid law makes per-batch partials EXACTLY
  // equivalent to sketching the union), written as a batchId-keyed
  // dynamic partition overwrite (q173's idempotence rule). The per-batch
  // running estimate then folds the ledger PREFIX — |batches|·k rows —
  // never the event stream, which is the whole point: a
  // dropDuplicates-style exact count holds state proportional to the
  // distinct domain, this gate holds 512 bytes per batch at any scale.
  // The exact prefix counts are the audit column (they rescan the
  // events table — the thing production cannot afford and the ledger
  // replaces); err_ppm prices the estimator against them. Both
  // estimator branches are exercised across the correctness SFs (below
  // k the sketch IS exact; above k the (k−1)·M/h_k estimate engages).
  private val q182 = QueryDef(
    "q182_stream_kmv_gate",
    (s, dir) => withShuffle(s, StreamStores) {
      val ledgerDir = Tables.tmp("graft-q182-ledger")
      val ev = events(s, dir).select(col("event_id"), col("user_id"))
      // batch by USER cohort, not event slice — each arriving batch
      // brings genuinely new subjects, so the prefix curve grows
      // (an event_id split would put every user in every batch and
      // flatline the gate)
      val stream = stagedStream(s, "q182", (0 to 2).map(b => ev.filter(col("user_id") % 3 === b)))
      drain(stream.writeStream
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, bid: Long) =>
          import org.apache.spark.sql.expressions.Window
          batch
            .select(expr(
              s"(${strHashExpr("CAST(user_id AS STRING)")} * 2654435761) % $HashMod").as("h"))
            .distinct()
            .withColumn("rnk", row_number().over(Window.orderBy(col("h"))))
            .filter(col("rnk") <= 64)
            .select(col("h"), lit(bid).as("batch_id"))
            .write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id").parquet(ledgerDir)
          ()
        }
        .option("checkpointLocation", Tables.tmp("graft-q182-ckpt")))
      import org.apache.spark.sql.expressions.Window
      val ledger = s.read.parquet(ledgerDir)
      val batches = s.range(0, 3).select(col("id").as("b"))
      val folded = broadcast(batches)
        .join(ledger, col("batch_id") <= col("b"))
        .select(col("b"), col("h")).distinct()
        .withColumn("rnk", row_number().over(
          Window.partitionBy(col("b")).orderBy(col("h"))))
        .filter(col("rnk") <= 64)
        .groupBy(col("b"))
        .agg(count(lit(1)).as("n_sk"), max(col("h")).as("kth"))
        .withColumn("est_distinct", when(col("n_sk") < 64, col("n_sk"))
          .otherwise(expr(s"(63 * CAST($HashMod AS BIGINT)) DIV kth")))
      // audit side: the exact prefix distincts the ledger exists to avoid
      val exact = broadcast(batches)
        .join(events(s, dir).select((col("user_id") % 3).as("bb"), col("user_id")),
          col("bb") <= col("b"))
        .groupBy(col("b")).agg(countDistinct(col("user_id")).as("n_exact"))
      folded.join(exact, Seq("b"))
        .select(col("b").as("batch_id"), col("n_sk"), col("kth"),
          col("est_distinct"), col("n_exact"),
          expr("""CAST(CAST(abs(est_distinct - n_exact) AS DECIMAL(38,0)) * 1000000
                  DIV CAST(n_exact AS DECIMAL(38,0)) AS BIGINT)""").as("err_ppm"))
        .orderBy(col("batch_id"))
    },
    Some(s"""WITH ev AS (
      SELECT user_id % 3 AS batch_id,
        (${strHashSql("CAST(user_id AS VARCHAR)")} * 2654435761) % $HashMod AS h,
        user_id
      FROM events),
    led AS (SELECT batch_id, h FROM (
        SELECT batch_id, h, ROW_NUMBER() OVER (PARTITION BY batch_id ORDER BY h) AS rnk
        FROM (SELECT DISTINCT batch_id, h FROM ev))
      WHERE rnk <= 64),
    batches AS (SELECT unnest(generate_series(0, 2)) AS b),
    pre AS (SELECT DISTINCT b, h FROM batches JOIN led ON led.batch_id <= b),
    fold AS (SELECT b, COUNT(*) AS n_sk, MAX(h) AS kth FROM (
        SELECT b, h, ROW_NUMBER() OVER (PARTITION BY b ORDER BY h) AS rnk FROM pre)
      WHERE rnk <= 64 GROUP BY b),
    est AS (SELECT b, n_sk, kth,
        CASE WHEN n_sk < 64 THEN n_sk
             ELSE (63 * CAST($HashMod AS BIGINT)) // kth END AS est_distinct
      FROM fold),
    ex AS (SELECT b, COUNT(DISTINCT user_id) AS n_exact
           FROM batches JOIN ev ON ev.batch_id <= b GROUP BY b)
    SELECT CAST(e.b AS BIGINT) AS batch_id,
      CAST(e.n_sk AS BIGINT) AS n_sk, e.kth,
      CAST(e.est_distinct AS BIGINT) AS est_distinct,
      CAST(x.n_exact AS BIGINT) AS n_exact,
      CAST((CAST(abs(e.est_distinct - x.n_exact) AS HUGEINT) * 1000000)
           // CAST(x.n_exact AS HUGEINT) AS BIGINT) AS err_ppm
    FROM est e JOIN ex x ON e.b = x.b ORDER BY batch_id"""))

  // --------------------------------------------------------------- q187
  // LAMBDA-ARCHITECTURE CUTOVER AUDIT — the one-time migration every
  // batch pipeline makes to streaming: history BEFORE the cutover day
  // comes from the batch path (one aggregate over the warehouse table),
  // everything FROM the cutover day flows through the live file stream
  // (3 mtime-ordered micro-batches through the q173 machinery, per-day
  // digests landing as batchId-keyed idempotent dynamic overwrites).
  // The audit is what makes the cutover safe to sign off: per side, day
  // coverage + row/cents/checksum digests, and on the combined row the
  // three invariants a botched cutover breaks — zero days served by
  // BOTH sides (double-feed), zero days missing versus a one-shot
  // batch run (gap at the boundary), and the combined digest EQUAL to
  // the one-shot digest. The stream side is measured from what actually
  // landed through the sink, so a dropped or replayed micro-batch
  // surfaces as a digest mismatch, not a silent skew. Scale: day-level
  // digests are map-side-combined; every frame after ingest is
  // |days|-sized.
  private def q187Digest(df: org.apache.spark.sql.DataFrame) =
    df.groupBy(col("day"))
      .agg(count(lit(1)).as("n"),
        sum(col("cents")).as("cents"),
        (sum(col("event_id") % HashMod) % HashMod).as("ck"))

  private val q187 = QueryDef(
    "q187_lambda_cutover",
    (s, dir) => withShuffle(s, StreamStores) {
      val cut = "2024-01-16"
      val digestDir = Tables.tmp("graft-q187-digest")
      val ev = Tables.events(s, dir).select(col("event_id"),
        expr("CAST(ts AS DATE)").as("day"),
        expr("CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)").as("cents"))
      val stream = stagedStream(s, "q187", (0 to 2).map(b =>
        ev.filter(col("day") >= lit(cut) && col("event_id") % 3 === b)))
      drain(stream.writeStream
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, bid: Long) =>
          q187Digest(batch).withColumn("batch_id", lit(bid))
            .write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id").parquet(digestDir)
          ()
        }
        .option("checkpointLocation", Tables.tmp("graft-q187-ckpt")))
      // per-day digests are disjoint by event_id across micro-batches, so
      // folding the ledger is a plain per-day sum (ck re-modded)
      val streamSide = s.read.parquet(digestDir).groupBy(col("day"))
        .agg(sum(col("n")).as("n"), sum(col("cents")).as("cents"),
          (sum(col("ck")) % HashMod).as("ck"))
      val batchSide = q187Digest(ev.filter(col("day") < lit(cut)))
      val oneShot = q187Digest(ev)
      def rollup(df: org.apache.spark.sql.DataFrame, tag: String) =
        df.agg(countDistinct(col("day")).as("n_days"), sum(col("n")).as("n_rows"),
            sum(col("cents")).as("cents"), (sum(col("ck")) % HashMod).as("ck"))
          .select(lit(tag).as("side"), col("n_days"), col("n_rows"),
            col("cents"), col("ck"))
      val combined = batchSide.unionByName(streamSide)
      val overlap = batchSide.select(col("day"))
        .join(streamSide.select(col("day")), "day")
        .agg(count(lit(1)).as("overlap_days"))
      val gaps = oneShot.select(col("day"))
        .join(combined.select(col("day")), Seq("day"), "left_anti")
        .agg(count(lit(1)).as("gap_days"))
      val oneShotRoll = rollup(oneShot, "oneshot")
        .select(col("n_rows").as("os_rows"), col("cents").as("os_cents"),
          col("ck").as("os_ck"))
      val base = rollup(batchSide, "batch").unionByName(rollup(streamSide, "stream"))
        .unionByName(rollup(combined, "combined"))
      base.crossJoin(broadcast(overlap)).crossJoin(broadcast(gaps))
        .crossJoin(broadcast(oneShotRoll))
        .select(col("side"), col("n_days"), col("n_rows"), col("cents"), col("ck"),
          when(col("side") === "combined", col("overlap_days")).as("overlap_days"),
          when(col("side") === "combined", col("gap_days")).as("gap_days"),
          when(col("side") === "combined",
            col("n_rows") === col("os_rows") && col("cents") === col("os_cents") &&
              col("ck") === col("os_ck")).as("matches_oneshot"))
        .orderBy(col("side"))
    },
    Some(s"""WITH ev AS (
      SELECT event_id, CAST(ts AS DATE) AS day,
        CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
      FROM events),
    dd AS (SELECT day, COUNT(*) AS n, SUM(cents) AS cents,
             SUM(event_id % $HashMod) % $HashMod AS ck
           FROM ev GROUP BY 1),
    b AS (SELECT * FROM dd WHERE day < DATE '2024-01-16'),
    st AS (SELECT * FROM dd WHERE day >= DATE '2024-01-16'),
    rolls AS (
      SELECT 'batch' AS side, COUNT(DISTINCT day) AS n_days, SUM(n) AS n_rows,
        SUM(cents) AS cents, SUM(ck) % $HashMod AS ck FROM b
      UNION ALL
      SELECT 'stream', COUNT(DISTINCT day), SUM(n), SUM(cents),
        SUM(ck) % $HashMod FROM st
      UNION ALL
      SELECT 'combined', COUNT(DISTINCT day), SUM(n), SUM(cents),
        SUM(ck) % $HashMod FROM dd),
    os AS (SELECT SUM(n) AS os_rows, SUM(cents) AS os_cents,
             SUM(ck) % $HashMod AS os_ck FROM dd)
    SELECT side, CAST(n_days AS BIGINT) AS n_days, CAST(n_rows AS BIGINT) AS n_rows,
      CAST(cents AS BIGINT) AS cents, CAST(ck AS BIGINT) AS ck,
      CASE WHEN side = 'combined' THEN CAST(0 AS BIGINT) END AS overlap_days,
      CASE WHEN side = 'combined' THEN CAST(0 AS BIGINT) END AS gap_days,
      CASE WHEN side = 'combined'
           THEN n_rows = os_rows AND cents = os_cents AND ck = os_ck END
        AS matches_oneshot
    FROM rolls CROSS JOIN os ORDER BY side"""))

  // --------------------------------------------------------------- q199
  // STREAMING SNAPSHOT-EXPIRY GATE — q196's GC planner maintained
  // incrementally: commit-log entries arrive in micro-batches (two
  // versions per batch), foreachBatch appends them to a batchId-keyed
  // ledger (idempotent dynamic overwrite — the q173/q182 discipline, so
  // an at-least-once replay of a batch replaces its own partition
  // instead of double-appending), and after each prefix the keep-last-3
  // retention re-plans which files became expirable. The per-batch
  // readout folds the LEDGER (what actually landed through the sink) and
  // `matches_rebuild` proves it digest-equal — count, freed bytes, AND a
  // deletable-set checksum — to a from-scratch recompute over the
  // original op table, the exactly-once plumbing check DuckDB cannot see
  // (its twin emits the literal TRUE; the values it CAN check — counts,
  // max version, freed bytes per prefix — are all recomputed). Scale:
  // the ledger is op-volume, each prefix plan is one window over
  // manifest-sized rows per retained version, and the verdict never
  // rescans data files.
  private val q199 = QueryDef(
    "q199_stream_expiry_gate",
    (s, dir) => withShuffle(s, StreamStores) {
      import org.apache.spark.sql.expressions.Window
      val ledgerDir = Tables.tmp("graft-q199-ledger")
      val files = rd(s, dir, "orders")
        .select((col("o_orderkey") % 97).as("file_id")).distinct()
        .withColumn("size_bytes", col("file_id") * 1009L % 5000L + 100L)
        .localCheckpoint()
      def act(v: Long, a: String, pred: Column) =
        files.filter(pred).select(lit(v).as("ver"), lit(a).as("act"), col("file_id"))
      val ops = act(1L, "A", col("file_id") % 2 === 0)
        .unionByName(act(2L, "A", col("file_id") % 2 === 1))
        .unionByName(act(3L, "R", col("file_id") % 5 === 0))
        .unionByName(act(4L, "R", col("file_id") % 7 === 3))
        .unionByName(act(5L, "A", col("file_id") % 10 === 5))
        .unionByName(act(6L, "R", col("file_id") % 11 === 2))
        .localCheckpoint()
      val stream = stagedStream(s, "q199", (0 to 2).map(b =>
        ops.filter(col("ver") === 2L * b + 1 || col("ver") === 2L * b + 2)))
      drain(stream.writeStream
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, bid: Long) =>
          batch.withColumn("batch_id", lit(bid))
            .write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id").parquet(ledgerDir)
          ()
        }
        .option("checkpointLocation", Tables.tmp("graft-q199-ckpt")))
      val batches = s.range(0, 3).select(col("id").as("b"))
      // per-prefix expiry digests from any (b, ver, act, file_id) frame
      def digests(pref: org.apache.spark.sql.DataFrame) = {
        val vers = pref.select(col("b"), col("ver")).distinct()
          .withColumn("vrk", row_number().over(
            Window.partitionBy(col("b")).orderBy(col("ver").desc)))
          .filter(col("vrk") <= 3)
          .select(col("b"), col("ver").as("rv"))
        val live = pref.as("o")
          .join(vers.as("r"), col("o.b") === col("r.b") && col("o.ver") <= col("r.rv"))
          .select(col("o.b").as("b"), col("r.rv").as("rv"), col("o.ver").as("ver"),
            col("o.act").as("act"), col("o.file_id").as("file_id"))
          .withColumn("rn", row_number().over(
            Window.partitionBy(col("b"), col("rv"), col("file_id"))
              .orderBy(col("ver").desc)))
          .filter(col("rn") === 1 && col("act") === "A")
          .select(col("b"), col("file_id")).distinct()
        val tracked = pref.filter(col("act") === "A")
          .select(col("b"), col("file_id")).distinct()
        tracked.join(live, Seq("b", "file_id"), "left_anti")
          .join(files, Seq("file_id"))
          .groupBy(col("b"))
          .agg(count(lit(1)).as("n_deletable"),
            sum(col("size_bytes")).as("freed_bytes"),
            (sum(col("file_id") * 1000003L % HashMod) % HashMod).as("del_ck"))
      }
      val ledger = s.read.parquet(ledgerDir)
      val ledgerPref = broadcast(batches)
        .join(ledger, col("batch_id") <= col("b"))
        .select(col("b"), col("ver"), col("act"), col("file_id"))
      val directPref = broadcast(batches)
        .join(ops, expr("(ver - 1) DIV 2") <= col("b"))
        .select(col("b"), col("ver"), col("act"), col("file_id"))
      val fold = digests(ledgerPref)
      val rebuild = digests(directPref)
        .select(col("b"), col("n_deletable").as("rn_del"),
          col("freed_bytes").as("rfreed"), col("del_ck").as("rck"))
      val opsSeen = ledgerPref.groupBy(col("b"))
        .agg(count(lit(1)).as("n_ops"), max(col("ver")).as("max_ver"))
      batches.join(opsSeen, Seq("b"), "left")
        .join(fold, Seq("b"), "left")
        .join(rebuild, Seq("b"), "left")
        .select(col("b").as("batch_id"), col("max_ver"), col("n_ops"),
          coalesce(col("n_deletable"), lit(0L)).as("n_deletable"),
          coalesce(col("freed_bytes"), lit(0L)).as("freed_bytes"),
          (coalesce(col("n_deletable"), lit(0L)) === coalesce(col("rn_del"), lit(0L)) &&
            coalesce(col("freed_bytes"), lit(0L)) === coalesce(col("rfreed"), lit(0L)) &&
            coalesce(col("del_ck"), lit(0L)) === coalesce(col("rck"), lit(0L)))
            .as("matches_rebuild"))
        .orderBy(col("batch_id"))
    },
    Some(s"""WITH files AS (
      SELECT DISTINCT o_orderkey % 97 AS file_id FROM orders),
    f AS (SELECT file_id, file_id * 1009 % 5000 + 100 AS size_bytes FROM files),
    ops AS (
      SELECT 1 AS ver, 'A' AS act, file_id FROM f WHERE file_id % 2 = 0
      UNION ALL SELECT 2, 'A', file_id FROM f WHERE file_id % 2 = 1
      UNION ALL SELECT 3, 'R', file_id FROM f WHERE file_id % 5 = 0
      UNION ALL SELECT 4, 'R', file_id FROM f WHERE file_id % 7 = 3
      UNION ALL SELECT 5, 'A', file_id FROM f WHERE file_id % 10 = 5
      UNION ALL SELECT 6, 'R', file_id FROM f WHERE file_id % 11 = 2),
    opsb AS (SELECT *, (ver - 1) // 2 AS batch_id FROM ops),
    batches AS (SELECT unnest(generate_series(0, 2)) AS b),
    pref AS (SELECT b, ver, act, file_id
             FROM batches JOIN opsb ON opsb.batch_id <= b),
    vers AS (SELECT b, ver AS rv FROM (
        SELECT b, ver, ROW_NUMBER() OVER (PARTITION BY b ORDER BY ver DESC) AS vrk
        FROM (SELECT DISTINCT b, ver FROM pref)) WHERE vrk <= 3),
    live AS (SELECT DISTINCT b, file_id FROM (
        SELECT o.b, r.rv, o.file_id, o.act,
          ROW_NUMBER() OVER (PARTITION BY o.b, r.rv, o.file_id
            ORDER BY o.ver DESC) AS rn
        FROM pref o JOIN vers r ON o.b = r.b AND o.ver <= r.rv)
      WHERE rn = 1 AND act = 'A'),
    tracked AS (SELECT DISTINCT b, file_id FROM pref WHERE act = 'A'),
    del AS (SELECT t.b, t.file_id FROM tracked t
            WHERE NOT EXISTS (SELECT 1 FROM live l
                              WHERE l.b = t.b AND l.file_id = t.file_id)),
    dd AS (SELECT del.b, COUNT(*) AS n_deletable, SUM(f.size_bytes) AS freed_bytes
           FROM del JOIN f USING (file_id) GROUP BY del.b),
    oc AS (SELECT b, COUNT(*) AS n_ops, MAX(ver) AS max_ver FROM pref GROUP BY b)
    SELECT CAST(oc.b AS BIGINT) AS batch_id, CAST(max_ver AS BIGINT) AS max_ver,
      CAST(n_ops AS BIGINT) AS n_ops,
      CAST(COALESCE(n_deletable, 0) AS BIGINT) AS n_deletable,
      CAST(COALESCE(freed_bytes, 0) AS BIGINT) AS freed_bytes,
      TRUE AS matches_rebuild
    FROM oc LEFT JOIN dd ON oc.b = dd.b ORDER BY batch_id"""))

  // --------------------------------------------------------------- q205
  // STREAMING MAINTENANCE SESSION — the q203 capstone's streaming twin
  // (VERDICT r19 item 3): ONE live drain composes the three maintenance
  // disciplines this family built separately — q112's bucketed keyed
  // MERGE state table, q199's batchId-keyed idempotent ledger, and
  // q183's watermark-autotune replay — with a planted hazard per phase:
  //   (a) a_merge — 3 mtime-ordered micro-batches merge their ADMITTED
  //       rows into versioned bucketed state; the digest must equal the
  //       one-shot batch answer over the same admitted set (batch-
  //       boundary invariance with a non-additive last-write-wins field);
  //   (b) b_replay — batch 1 is REDELIVERED after the drain (at-least-
  //       once retry, raw/ungated — uglier than the original); the
  //       commit-marker guard must no-op it: state digest AND retained-
  //       version count unchanged (a replay that re-merged would land in
  //       every later column's hash);
  //   (c) c_expiry_cdc — version retention after 3 commits must hold
  //       EXACTLY {v1, v2}: v0 reclaimed, v1 retained although
  //       superseded BECAUSE the snapshot-diff CDC reader references it
  //       (the expired-but-referenced hazard); the v1→v2 diff must equal
  //       the admitted-batch-2 key set, count + checksum;
  //   (d) d_late_routing — per-batch ledger rows (n_in, max_us,
  //       n_routed, routed_ck) written with dynamic partition overwrite
  //       fold to EXACTLY the q183-style deterministic replay of the
  //       batch-boundary watermark rule at the TUNED delay — late data
  //       beyond that delay is genuinely routed at every SF (the jitter
  //       is a modular scramble, id-scale-free: (id%1e5)·1103515245 %
  //       1000003 · 432000 µs ∈ [0, 5 days); a plain multiplier stays
  //       MONOTONE over small id ranges and routed zero at sf0.001);
  //   (z) z_session — conservation: admitted + routed = total, and the
  //       post-replay state still carries exactly the admitted mass.
  // The delay is CHOSEN in-query (q183's closed loop): smallest tier
  // whose replayed routed_ppm meets the 3% SLA. The largest tier is
  // 864 ms SHORT of the exact jitter bound ((1000003-1)·432000 µs), so
  // the sweep is not provably non-empty — if no tier met the SLA the
  // pick falls back to the largest tier instead of NPEing on the empty
  // aggregate (ADVICE r20; at every correctness SF the 3d tier passes,
  // so the fallback never fires there). Scale: planning is one events pass × a
  // 5-row broadcast; the live path is |batch|-sized merges against
  // Exchange-free bucketed state (KeyedMergeSpec's plan); the ledger is
  // batch-count-sized; nothing driver-side exceeds 5 rows.
  private val Q205Tiers = Seq(
    "a_1h" -> 3600000000L, "b_6h" -> 21600000000L, "c_1d" -> 86400000000L,
    "d_3d" -> 259200000000L, "e_5d" -> 432000000000L)
  private val Q205SlaPpm = 30000L

  private val q205 = QueryDef(
    "q205_stream_maintenance",
    (s, dir) => withShuffle(s, StreamStores) {
      import org.apache.spark.sql.DataFrame
      import org.apache.spark.sql.expressions.Window
      // planning replay (q183's rule): arrival = event time + scrambled
      // jitter; batches = arrival terciles; wm(b) = max us of batches < b
      val evBase = events(s, dir)
        .select(col("user_id"), col("event_id"), col("event_type"),
          col("value"), unix_micros(col("ts")).as("us"))
        .withColumn("arr",
          expr("us + (event_id % 100000) * 1103515245 % 1000003 * 432000"))
      val span = evBase.agg(min(col("arr")).as("amin"),
        (max(col("arr")) - min(col("arr")) + 1).as("aspan"))
      val ev = evBase.crossJoin(broadcast(span))
        .withColumn("b", expr("least((arr - amin) * 3 DIV aspan, 2L)"))
        .select(col("user_id"), col("event_id"), col("event_type"),
          col("value"), col("us"), col("b"))
        .localCheckpoint()
      val wms = ev.groupBy(col("b")).agg(max(col("us")).as("bmax"))
        .withColumn("wm_base", max(col("bmax")).over(Window.orderBy(col("b"))
          .rowsBetween(Window.unboundedPreceding, -1)))
        .select(col("b"), col("wm_base"))
        .localCheckpoint() // 3 rows
      // the autotune pick: the tier delays are compile-time constants, so
      // the sweep is ONE conditional aggregate over the events pass (one
      // routed-counter column per tier) instead of a ×|tiers| crossJoin
      // blowup into a groupBy — same counts, same integer-DIV SLA compare,
      // same min-delay pick (r22; the r21 form built 5N rows to aggregate)
      val sweepRow = ev.join(broadcast(wms), Seq("b"))
        .agg(count(lit(1)).as("total"),
          Q205Tiers.map { case (t, d) =>
            sum(when(col("wm_base").isNotNull &&
              col("us") < col("wm_base") - lit(d), 1L).otherwise(0L)).as(s"r_$t")
          }: _*)
        .head()
      val total = sweepRow.getLong(0)
      val qualifying = Q205Tiers.zipWithIndex.collect {
        case ((_, d), i) if sweepRow.getLong(i + 1) * 1000000L / total <= Q205SlaPpm => d
      }
      // empty sweep (no tier met the SLA) → largest tier, never an NPE
      val delayUs =
        if (qualifying.isEmpty) Q205Tiers.last._2 else qualifying.min
      // fixture: one micro-batch per arrival batch (stagedStream pins
      // frame k to batchId k)
      val batches = (0 to 2).map(k => ev.filter(col("b") === k).drop("b"))
      val stream = stagedStream(s, "q205", batches)
      val ledgerDir = Tables.tmp("graft-q205-ledger")
      s.sql(s"CREATE DATABASE IF NOT EXISTS graft_q205 LOCATION '${Tables.tmp("graft-q205-db")}'")
      val tablePath = Tables.tmpDir("graft-q205-table").toString + "/state"
      val tableBase =
        "graft_q205.state_" + Integer.toHexString(tablePath.hashCode)
      val reduce = (b: DataFrame) => b.groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_events"),
          max(struct(col("us"), col("event_id"), col("event_type"),
            col("value"))).as("last"))
      val merge = (state: DataFrame, batch: DataFrame) =>
        state.as("t").join(batch.as("b"), Seq("user_id"), "full_outer")
          .select(col("user_id"),
            (coalesce(col("t.n_events"), lit(0L)) +
              coalesce(col("b.n_events"), lit(0L))).as("n_events"),
            greatest(col("t.last"), col("b.last")).as("last"))
      drain(stream.writeStream
        .foreachBatch { (batch: DataFrame, bid: Long) =>
          val ss = batch.sparkSession
          // engine watermark from the LEDGER: prior batches' max event
          // time (q199's ledger-as-state discipline) minus the tuned delay
          val wmBase: Option[Long] =
            if (bid == 0) None
            else {
              val r = ss.read.parquet(ledgerDir)
                .filter(col("batch_id") < bid).agg(max(col("max_us"))).head()
              if (r.isNullAt(0)) None else Some(r.getLong(0))
            }
          val gated = batch.withColumn("late",
            wmBase.map(w => col("us") < lit(w) - lit(delayUs))
              .getOrElse(lit(false)))
          // idempotent ledger append: a replayed batch replaces its own
          // partition instead of double-appending
          gated.agg(count(lit(1)).as("n_in"), max(col("us")).as("max_us"),
              sum(when(col("late"), 1L).otherwise(0L)).as("n_routed"),
              (coalesce(sum(when(col("late"), col("event_id") % HashMod)),
                lit(0L)) % HashMod).as("routed_ck"))
            .withColumn("batch_id", lit(bid))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id").parquet(ledgerDir)
          // the bucketed keyed merge of the admitted rows (two-phase
          // commit + version retention inside)
          graft.streaming.KeyedMerge.applyBatch(
            gated.filter(!col("late")).drop("late"), bid, reduce, merge,
            tableBase, tablePath, "user_id", 8)
          ()
        }
        .option("checkpointLocation", Tables.tmp("graft-q205-ckpt")))
      def stDig(df: DataFrame) = df.agg(count(lit(1)).as("n_keys"),
        coalesce(sum(col("n_events")), lit(0L)).as("n_events_total"),
        (coalesce(sum((col("user_id") * 1000003L + col("n_events") * 101L +
          col("last.event_id")) % HashMod), lit(0L)) % HashMod).as("ck"))
      // digest BEFORE the replay hazard (materialized — the replay is a
      // side effect and must not race this read)
      val dig1 = stDig(graft.streaming.KeyedMerge.readTable(s, tableBase, tablePath))
        .localCheckpoint()
      // hazard: redeliver batch 1, raw and ungated; the marker guard
      // must no-op it
      graft.streaming.KeyedMerge.applyBatch(
        batches(1),
        1L, reduce, merge, tableBase, tablePath, "user_id", 8)
      val dig2 = stDig(graft.streaming.KeyedMerge.readTable(s, tableBase, tablePath))
        .select(col("n_keys").as("k2"), col("n_events_total").as("e2"),
          col("ck").as("c2"))
        .localCheckpoint()
      val commits = graft.streaming.KeyedMerge.commits(s, tablePath)
      val Seq(prevV, curV) = commits.takeRight(2)
      // CDC across the retained pair: count grows iff a key has admitted
      // batch-2 events, so the diff is exactly that key set
      val changed = graft.streaming.KeyedMerge.readVersion(s, tableBase, curV)
        .join(graft.streaming.KeyedMerge.readVersion(s, tableBase, prevV)
          .select(col("user_id"), col("n_events").as("n_before")),
          Seq("user_id"), "left")
        .filter(col("n_before").isNull || col("n_before") =!= col("n_events"))
      val cdc = changed.agg(count(lit(1)).as("n_changed"),
        (coalesce(sum(col("user_id") % HashMod), lit(0L)) % HashMod)
          .as("cdc_ck")).localCheckpoint()
      val okRetention = commits == Seq(curV - 1, curV) && curV == 2L
      // ledger fold vs the direct deterministic replay
      val ledgerTot = s.read.parquet(ledgerDir)
        .agg(coalesce(sum(col("n_in")), lit(0L)).as("l_in"),
          coalesce(sum(col("n_routed")), lit(0L)).as("l_routed"),
          (coalesce(sum(col("routed_ck")), lit(0L)) % HashMod).as("l_rck"))
      val direct = ev.join(broadcast(wms), Seq("b"))
        .withColumn("late", col("wm_base").isNotNull &&
          col("us") < col("wm_base") - lit(delayUs))
        .agg(count(lit(1)).as("d_in"),
          sum(when(col("late"), 1L).otherwise(0L)).as("d_routed"),
          (coalesce(sum(when(col("late"), col("event_id") % HashMod)),
            lit(0L)) % HashMod).as("d_rck"))
        .localCheckpoint()
      val truthDig = stDig(
        ev.join(broadcast(wms), Seq("b"))
          .filter(!(col("wm_base").isNotNull &&
            col("us") < col("wm_base") - lit(delayUs)))
          .groupBy(col("user_id"))
          .agg(count(lit(1)).as("n_events"),
            max(struct(col("us"), col("event_id"), col("event_type"),
              col("value"))).as("last")))
        .select(col("n_keys").as("tk"), col("n_events_total").as("te"),
          col("ck").as("tc"))
      val rowA = dig1.crossJoin(broadcast(truthDig))
        .select(lit("a_merge").as("phase"), col("n_keys").as("n_a"),
          col("n_events_total").as("n_b"), lit(delayUs).as("n_c"),
          col("ck"),
          (col("n_keys") === col("tk") && col("n_events_total") === col("te") &&
            col("ck") === col("tc")).as("ok"))
      val rowB = dig1.crossJoin(broadcast(dig2))
        .select(lit("b_replay").as("phase"), col("k2").as("n_a"),
          col("e2").as("n_b"), lit(commits.size.toLong).as("n_c"),
          col("c2").as("ck"),
          (col("k2") === col("n_keys") && col("e2") === col("n_events_total") &&
            col("c2") === col("ck")).as("ok"))
      val rowC = cdc.select(lit("c_expiry_cdc").as("phase"),
        lit(commits.size.toLong).as("n_a"), col("n_changed").as("n_b"),
        lit(prevV).as("n_c"), col("cdc_ck").as("ck"),
        lit(okRetention).as("ok"))
      val rowD = ledgerTot.crossJoin(broadcast(direct))
        .select(lit("d_late_routing").as("phase"), col("l_in").as("n_a"),
          col("l_routed").as("n_b"), col("d_routed").as("n_c"),
          col("l_rck").as("ck"),
          (col("l_in") === col("d_in") && col("l_routed") === col("d_routed") &&
            col("l_rck") === col("d_rck")).as("ok"))
      val rowZ = direct.crossJoin(broadcast(dig2))
        .select(lit("z_session").as("phase"), col("d_in").as("n_a"),
          (col("d_in") - col("d_routed")).as("n_b"),
          col("d_routed").as("n_c"), col("c2").as("ck"),
          (col("e2") === col("d_in") - col("d_routed")).as("ok"))
      rowA.unionByName(rowB).unionByName(rowC).unionByName(rowD)
        .unionByName(rowZ).orderBy(col("phase"))
    },
    Some(s"""WITH base AS (
      SELECT user_id, event_id, epoch_us(ts) AS us,
        epoch_us(ts) + (event_id % 100000) * 1103515245 % 1000003 * 432000 AS arr
      FROM events),
    sp AS (SELECT MIN(arr) AS amin, MAX(arr) - MIN(arr) + 1 AS aspan FROM base),
    bt AS (SELECT user_id, event_id, us,
             LEAST((arr - amin) * 3 // aspan, 2) AS b FROM base, sp),
    wms AS (SELECT b, MAX(bmax) OVER (ORDER BY b
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS wm_base
        FROM (SELECT b, MAX(us) AS bmax FROM bt GROUP BY b)),
    tiers AS (SELECT * FROM (VALUES ${Q205Tiers.map { case (t, d) =>
        s"('$t', ${d}::BIGINT)" }.mkString(", ")}) t(tier, delay_us)),
    sla AS (SELECT t.delay_us,
          SUM(CASE WHEN w.wm_base IS NOT NULL
               AND e.us < w.wm_base - t.delay_us THEN 1 ELSE 0 END)
            * 1000000 // COUNT(*) AS routed_ppm
        FROM bt e JOIN wms w ON e.b = w.b CROSS JOIN tiers t
        GROUP BY 1),
    chosen AS (SELECT MIN(delay_us) AS delay_us FROM sla
               WHERE routed_ppm <= $Q205SlaPpm),
    fl AS (SELECT e.*, (w.wm_base IS NOT NULL
             AND e.us < w.wm_base - c.delay_us) AS late
           FROM bt e JOIN wms w ON e.b = w.b CROSS JOIN chosen c),
    adm AS (SELECT * FROM fl WHERE NOT late),
    lastd AS (SELECT user_id, event_id AS last_eid,
            ROW_NUMBER() OVER (PARTITION BY user_id
              ORDER BY us DESC, event_id DESC) AS rn
          FROM adm),
    st AS (SELECT a.user_id, a.n_events, l.last_eid
           FROM (SELECT user_id, COUNT(*) AS n_events FROM adm GROUP BY 1) a
           JOIN lastd l ON l.user_id = a.user_id AND l.rn = 1),
    dg AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_keys,
             CAST(COALESCE(SUM(n_events), 0) AS BIGINT) AS n_events_total,
             CAST(COALESCE(SUM((user_id * 1000003 + n_events * 101 + last_eid)
               % $HashMod), 0) % $HashMod AS BIGINT) AS ck
           FROM st),
    cdc AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_changed,
              CAST(COALESCE(SUM(user_id % $HashMod), 0) % $HashMod AS BIGINT)
                AS cdc_ck
            FROM (SELECT DISTINCT user_id FROM adm WHERE b = 2)),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_in,
              CAST(SUM(CASE WHEN late THEN 1 ELSE 0 END) AS BIGINT) AS n_routed,
              CAST(COALESCE(SUM(CASE WHEN late THEN event_id % $HashMod END), 0)
                % $HashMod AS BIGINT) AS rck
            FROM fl)
    SELECT * FROM (
      SELECT 'a_merge' AS phase, dg.n_keys AS n_a, dg.n_events_total AS n_b,
        (SELECT CAST(delay_us AS BIGINT) FROM chosen) AS n_c, dg.ck AS ck,
        TRUE AS ok FROM dg
      UNION ALL
      SELECT 'b_replay', dg.n_keys, dg.n_events_total, CAST(2 AS BIGINT),
        dg.ck, TRUE FROM dg
      UNION ALL
      SELECT 'c_expiry_cdc', CAST(2 AS BIGINT), cdc.n_changed,
        CAST(1 AS BIGINT), cdc.cdc_ck, TRUE FROM cdc
      UNION ALL
      SELECT 'd_late_routing', tot.n_in, tot.n_routed, tot.n_routed,
        tot.rck, TRUE FROM tot
      UNION ALL
      SELECT 'z_session', tot.n_in, tot.n_in - tot.n_routed, tot.n_routed,
        dg.ck, TRUE FROM tot CROSS JOIN dg
    ) ORDER BY phase"""))

  val defs: Seq[QueryDef] =
    Seq(q18, q19, q20, q21, q22, q24, q30, q37, q38, q40, q54, q62, q69, q75,
      q76, q81, q84, q95, q96, q97, q98, q99, q100, q101, q102, q103, q108,
      q111, q112, q113, q115, q118, q119, q135, q150, q151, q154, q157, d24,
      d29, q164, q169, q173, q182, q183, q187, q199, q205)
}
