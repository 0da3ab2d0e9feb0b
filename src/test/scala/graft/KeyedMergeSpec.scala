package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.functions._

import graft.streaming.KeyedMerge

/** KeyedMerge: q54's ledger generalized to MERGE-shape keyed updates
  * (matched → update with a non-additive rule, unmatched → insert)
  * against a BUCKETED state table. Pins the three load-bearing
  * properties: batch-boundary invariance of a non-additive merge rule,
  * exactly-once under foreachBatch replays, and the scale property — the
  * per-batch merge join reads the bucketed state with NO Exchange. */
class KeyedMergeSpec extends SparkSuite {

  private val db = "keyedmergedb"

  private def reduce(b: DataFrame): DataFrame = b
    .groupBy(col("k"))
    .agg(count(lit(1)).as("n"),
      max(struct(col("seq"), col("tag"))).as("last"))

  private def merge(state: DataFrame, batch: DataFrame): DataFrame =
    state.as("t").join(batch.as("b"), Seq("k"), "full_outer")
      .select(col("k"),
        (coalesce(col("t.n"), lit(0L)) + coalesce(col("b.n"), lit(0L))).as("n"),
        greatest(col("t.last"), col("b.last")).as("last"))

  private def freshTarget(tag: String): (String, String) = {
    spark.sql(s"CREATE DATABASE IF NOT EXISTS $db")
    val path = java.nio.file.Files
      .createTempDirectory(s"keyedmerge-$tag").toString + "/state"
    (s"$db.state_$tag", path)
  }

  private def applyB(rows: Seq[(String, Long, String)], id: Long,
      table: String, path: String, onBatch: Long => Unit = _ => ()): Unit = {
    import spark.implicits._
    KeyedMerge.applyBatch(rows.toDF("k", "seq", "tag"), id,
      reduce, merge, table, path, "k", 4, onBatch)
  }

  test("multi-batch keyed merge equals the one-shot answer (non-additive last-write-wins)") {
    val (table, path) = freshTarget("e2e")
    // keys overlap across batches AND the later batch carries an OLDER seq
    // for key a — the merge must keep a's batch-0 tag (last-write-wins by
    // seq, not by arrival), which an additive or overwrite rule gets wrong
    applyB(Seq(("a", 10L, "a10"), ("b", 1L, "b1")), 0L, table, path)
    applyB(Seq(("a", 5L, "a5"), ("c", 2L, "c2")), 1L, table, path)
    applyB(Seq(("b", 9L, "b9"), ("c", 1L, "c1")), 2L, table, path)
    val got = KeyedMerge.readTable(spark, table, path)
      .select(col("k"), col("n"), col("last.seq"), col("last.tag"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getString(3)))
      .toSet
    got shouldBe Set(("a", 2L, 10L, "a10"), ("b", 2L, 9L, "b9"),
      ("c", 2L, 2L, "c2"))
  }

  test("a replayed batch id is a no-op: exactly-once under foreachBatch retries") {
    val (table, path) = freshTarget("retry")
    var applied = 0
    applyB(Seq(("a", 1L, "a1")), 0L, table, path, _ => applied += 1)
    applyB(Seq(("a", 2L, "a2")), 1L, table, path, _ => applied += 1)
    applyB(Seq(("a", 2L, "a2")), 1L, table, path, _ => applied += 1) // replay
    applied shouldBe 2
    KeyedMerge.committedBatch(spark, path) shouldBe 1L
    val got = KeyedMerge.readTable(spark, table, path)
      .select(col("k"), col("n"), col("last.tag"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2))).toSet
    got shouldBe Set(("a", 2L, "a2")) // a double-applied batch 1 ⇒ n=3
  }

  test("a crash between snapshot write and marker commit is recoverable") {
    import spark.implicits._
    val (table, path) = freshTarget("crash")
    applyB(Seq(("a", 1L, "a1")), 0L, table, path)
    // simulate the crash window: batch 1's snapshot (catalog table + data
    // dir) landed but the commit marker never renamed — an uncommitted,
    // invisible v1 exists in both the catalog and the filesystem
    Seq(("z", 9L, "z9")).toDF("k", "seq", "tag")
      .groupBy(col("k"))
      .agg(count(lit(1)).as("n"), max(struct(col("seq"), col("tag"))).as("last"))
      .write.bucketBy(4, "k").sortBy("k")
      .option("path", s"$path/v1").saveAsTable(s"${table}_v1")
    // recovery sees batch 0 still committed, not the orphan
    KeyedMerge.committedBatch(spark, path) shouldBe 0L
    KeyedMerge.readTable(spark, table, path)
      .select(col("k")).collect().map(_.getString(0)).toSet shouldBe Set("a")
    // the redelivered batch 1 must OVERWRITE the orphan snapshot and commit
    applyB(Seq(("a", 5L, "a5"), ("b", 2L, "b2")), 1L, table, path)
    KeyedMerge.committedBatch(spark, path) shouldBe 1L
    val got = KeyedMerge.readTable(spark, table, path)
      .select(col("k"), col("n"), col("last.tag"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2))).toSet
    got shouldBe Set(("a", 2L, "a5"), ("b", 1L, "b2")) // no "z" anywhere
  }

  test("version-vs-version diff joins on a refined key with no Exchange on either side") {
    // q113's CDC shape: both retained versions share the bucket layout
    // (bucketed by k), and the diff JOINS ON A SUPERSET of the bucket key
    // — hash partitioning on a subset of the join keys still co-locates
    // equal full keys, so NEITHER side re-shuffles. This is what lets a
    // snapshot diff at 100 TB cost a co-partitioned scan, not a shuffle.
    val (table, path) = freshTarget("diff")
    // refine the merge key with last.tag's first char as a second column
    applyB(Seq(("a", 1L, "x1"), ("b", 2L, "y2")), 0L, table, path)
    applyB(Seq(("a", 3L, "x3"), ("c", 1L, "z1")), 1L, table, path)
    val Seq(v0, v1) = KeyedMerge.commits(spark, path).takeRight(2)
    graft.analytics.Tables.withConfs(spark,
      "spark.sql.adaptive.enabled" -> "false",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      // DisableUnnecessaryBucketedScan doesn't look through the derived
      // second join key, drops the bucketed read, and ENSURE_REQUIREMENTS
      // then shuffles both sides — force the bucketed scan on, as the
      // BucketingSpec point-lookup pin already documents
      "spark.sql.sources.bucketing.autoBucketedScan.enabled" -> "false",
      // joins exploit a SUBSET partitioning (bucket key ⊂ join keys) only
      // when co-partition doesn't insist on the full key list — the
      // documented knob for layout-aware refined-key joins
      "spark.sql.requireAllClusterKeysForCoPartition" -> "false") {
      val cur = KeyedMerge.readVersion(spark, table, v1)
        .select(col("k"), substring(col("last.tag"), 1, 1).as("t"), col("n"))
      val prev = KeyedMerge.readVersion(spark, table, v0)
        .select(col("k"), substring(col("last.tag"), 1, 1).as("t"),
          col("n").as("n_before"))
      val diff = cur.join(prev, Seq("k", "t"), "left")
        .filter(col("n_before").isNull || col("n_before") =!= col("n"))
      val plan = diff.queryExecution.executedPlan
      val exchanges = plan.collect { case e: Exchange => e }
      withClue(s"diff join should be Exchange-free on both sides:\n$plan\n") {
        exchanges shouldBe empty
      }
      diff.count() should be >= 1L
    }
  }

  // tombstone rows carry a "DEL"-prefixed tag; they drive deleteKeys and
  // are excluded from the reduce (pure delete records, the CDC-feed shape)
  private def applyDel(rows: Seq[(String, Long, String)], id: Long,
      table: String, path: String): Unit = {
    import spark.implicits._
    KeyedMerge.applyBatch(rows.toDF("k", "seq", "tag"), id,
      b => reduce(b.filter(!col("tag").startsWith("DEL"))), merge,
      table, path, "k", 4,
      deleteKeys = Some(b => b.filter(col("tag").startsWith("DEL"))
        .select(col("k"))))
  }

  test("delete branch: tombstone wipes prior state, same-batch rows re-seed from zero") {
    val (table, path) = freshTarget("del")
    applyDel(Seq(("a", 1L, "a1"), ("b", 1L, "b1")), 0L, table, path)
    // batch 1 tombstones a AND carries a fresh a-row: a's history is
    // wiped and the key re-seeds from this batch alone (n=1, not 2);
    // b merges normally
    applyDel(Seq(("a", 2L, "a2"), ("a", 3L, "DELa"), ("b", 2L, "b2")),
      1L, table, path)
    val afterReseed = KeyedMerge.readTable(spark, table, path)
      .select(col("k"), col("n"), col("last.tag"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2))).toSet
    afterReseed shouldBe Set(("a", 1L, "a2"), ("b", 2L, "b2"))
    // batch 2 is a pure tombstone for a (no surviving rows): key absent
    applyDel(Seq(("a", 9L, "DELa")), 2L, table, path)
    KeyedMerge.readTable(spark, table, path)
      .select(col("k")).collect().map(_.getString(0)).toSet shouldBe Set("b")
  }

  test("delete branch replay: a replayed tombstone batch is a no-op") {
    val (table, path) = freshTarget("delretry")
    applyDel(Seq(("a", 1L, "a1"), ("b", 1L, "b1")), 0L, table, path)
    applyDel(Seq(("b", 2L, "DELb")), 1L, table, path)
    val after = KeyedMerge.readTable(spark, table, path)
      .select(col("k"), col("n")).collect().map(r => (r.getString(0), r.getLong(1))).toSet
    after shouldBe Set(("a", 1L))
    // replay of batch 1 must not re-run the merge or the delete
    applyDel(Seq(("b", 2L, "DELb")), 1L, table, path)
    KeyedMerge.committedBatch(spark, path) shouldBe 1L
    KeyedMerge.readTable(spark, table, path)
      .select(col("k"), col("n")).collect().map(r => (r.getString(0), r.getLong(1)))
      .toSet shouldBe after
  }

  test("the delete chain keeps the state side Exchange-free; tombstones shuffle") {
    import spark.implicits._
    val (table, path) = freshTarget("delplan")
    applyB(Seq(("a", 1L, "a1"), ("b", 2L, "b2")), 0L, table, path)
    graft.analytics.Tables.withConfs(spark,
      "spark.sql.adaptive.enabled" -> "false",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      // the applyBatch delete shape: state anti-joins tombstones BEFORE
      // the merge rule — the bucketed scan's partitioning flows through
      // the LeftAnti join into the full-outer merge join
      val batch = Seq(("a", 3L, "a3"), ("c", 1L, "DELc")).toDF("k", "seq", "tag")
      val tomb = batch.filter(col("tag").startsWith("DEL"))
        .select(col("k")).distinct()
      val state = KeyedMerge.readTable(spark, table, path)
        .join(tomb, Seq("k"), "left_anti")
      val plan = merge(state, reduce(batch.filter(!col("tag").startsWith("DEL"))))
        .queryExecution.executedPlan
      def pathTo(p: SparkPlan): Option[List[SparkPlan]] = p match {
        case f: FileSourceScanExec
            if f.tableIdentifier.exists(_.table.startsWith("state_")) =>
          Some(List(p))
        case _ => p.children.view.flatMap(pathTo).headOption.map(p :: _)
      }
      val toScan = pathTo(plan)
        .getOrElse(fail(s"no state-table scan in the delete plan:\n$plan"))
      withClue(s"Exchange above the state scan through delete+merge:\n$plan\n") {
        toScan.filter(_.isInstanceOf[Exchange]) shouldBe empty
      }
      // both joins sit on the state path: the anti (delete) then the
      // full-outer (merge) — guards against the anti being planned away
      toScan.count(_.isInstanceOf[org.apache.spark.sql.execution.joins.BaseJoinExec]) shouldBe 2
      val exchanges = plan.collect { case e: Exchange => e }
      withClue(s"expected the tombstone/batch sides to shuffle:\n$plan\n") {
        exchanges should not be empty
      }
    }
  }

  test("vacuum removes a stale .tmp_commit_ orphan once superseded") {
    // a crash between create() and rename() leaves `.tmp_commit_<id>`
    // behind; if that batch is never redelivered (checkpoint lost, run
    // restarted) the orphan would otherwise accumulate forever. The
    // vacuum pass applies the same `< keep` retention as markers.
    val (table, path) = freshTarget("tmpvac")
    applyB(Seq(("a", 1L, "a1")), 0L, table, path)
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val orphan = new org.apache.hadoop.fs.Path(path, ".tmp_commit_0")
    fs.create(orphan, true).close()
    // batch 1: keep = 0, orphan id 0 is NOT < 0 — retained (conservative)
    applyB(Seq(("a", 2L, "a2")), 1L, table, path)
    fs.exists(orphan) shouldBe true
    // batch 2: keep = 1, orphan id 0 < 1 — vacuumed
    applyB(Seq(("a", 3L, "a3")), 2L, table, path)
    fs.exists(orphan) shouldBe false
    // commit records themselves untouched beyond the standard retention
    KeyedMerge.committedBatch(spark, path) shouldBe 2L
    // the vacuumed version's catalog table went with its data dir
    spark.catalog.tableExists(s"${table}_v0") shouldBe false
    spark.catalog.tableExists(s"${table}_v1") shouldBe true

    // StreamUpsert commits through the same log: same orphan, same rule
    import spark.implicits._
    val upsertPath = java.nio.file.Files
      .createTempDirectory("upsert-tmpvac").toString + "/t"
    def upsert(id: Long): Unit = graft.streaming.StreamUpsert.applyBatch(
      Seq(("a", id)).toDF("k", "v"), id,
      _.groupBy("k").agg(count(lit(1)).as("n"), sum("v").as("sum_v")),
      Seq("k"), Seq("n", "sum_v"), upsertPath)
    upsert(0L)
    val upsertOrphan = new org.apache.hadoop.fs.Path(upsertPath, ".tmp_commit_0")
    fs.create(upsertOrphan, true).close()
    upsert(1L)
    fs.exists(upsertOrphan) shouldBe true
    upsert(2L)
    fs.exists(upsertOrphan) shouldBe false
    graft.streaming.StreamUpsert.committedBatch(spark, upsertPath) shouldBe 2L
  }

  test("a durable checkpointLocation makes a second run continue batch ids") {
    // the ADVICE scenario: without a durable checkpoint a second run()
    // against an existing tablePath restarts batch ids at 0 and the
    // replay guard silently skips real data. With one, ids continue.
    // File source: processed files live in the checkpoint, so run 2
    // picks up only the new file AND numbers it as the next batch id.
    import spark.implicits._
    val (table, path) = freshTarget("ckpt")
    val ckpt = java.nio.file.Files.createTempDirectory("keyedmerge-ckpt").toString
    val srcDir = java.nio.file.Files.createTempDirectory("keyedmerge-src").toString
    def stream = spark.readStream
      .schema("k STRING, seq BIGINT, tag STRING")
      .parquet(srcDir)
    Seq(("a", 1L, "a1")).toDF("k", "seq", "tag")
      .coalesce(1).write.mode("append").parquet(srcDir)
    KeyedMerge.run(stream, reduce, merge, table, path, "k", 4,
      checkpointLocation = Some(ckpt))
    KeyedMerge.committedBatch(spark, path) shouldBe 0L
    // second run, SAME checkpoint + tablePath: the new file must land as
    // batch id 1, not a replayed id 0
    Seq(("a", 2L, "a2"), ("b", 1L, "b1")).toDF("k", "seq", "tag")
      .coalesce(1).write.mode("append").parquet(srcDir)
    KeyedMerge.run(stream, reduce, merge, table, path, "k", 4,
      checkpointLocation = Some(ckpt))
    KeyedMerge.committedBatch(spark, path) shouldBe 1L
    val got = KeyedMerge.readTable(spark, table, path)
      .select(col("k"), col("n"), col("last.tag"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2))).toSet
    got shouldBe Set(("a", 2L, "a2"), ("b", 1L, "b1"))
  }

  test("the merge join reads the bucketed state with no Exchange on the state side") {
    import spark.implicits._
    val (table, path) = freshTarget("plan")
    applyB(Seq(("a", 1L, "a1"), ("b", 2L, "b2")), 0L, table, path)
    graft.analytics.Tables.withConfs(spark,
      "spark.sql.adaptive.enabled" -> "false",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val batch = reduce(Seq(("a", 3L, "a3"), ("c", 1L, "c1")).toDF("k", "seq", "tag"))
      val plan = merge(KeyedMerge.readTable(spark, table, path), batch)
        .queryExecution.executedPlan
      def pathTo(p: SparkPlan): Option[List[SparkPlan]] = p match {
        case f: FileSourceScanExec
            if f.tableIdentifier.exists(_.table.startsWith("state_")) =>
          Some(List(p))
        case _ => p.children.view.flatMap(pathTo).headOption.map(p :: _)
      }
      val toScan = pathTo(plan)
        .getOrElse(fail(s"no state-table scan in the merge plan:\n$plan"))
      withClue(s"Exchange above the bucketed state scan:\n$plan\n") {
        toScan.filter(_.isInstanceOf[Exchange]) shouldBe empty
      }
    }
  }
}
