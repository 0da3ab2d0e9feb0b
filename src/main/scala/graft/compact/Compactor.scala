package graft.compact

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.TableIdentifier
import org.apache.spark.sql.functions._
import graft.Checkpoints
import graft.schema.BillingSchema

/**
 * Partition compaction: rewrite each day-partition of each billing table
 * into few large files.
 *
 * Reference: `Streaming.repartition` (`Dcache_kafka_to_hive.py:354-385`) —
 * per partition, `SELECT *` + `repartition(1)` + overwrite via a staging
 * table. Reference bugs fixed here (SURVEY §3.2, §4.2):
 *   - partition list is computed PER TABLE (the reference reuses the first
 *     table's list for all four);
 *   - the non-atomic staging-table two-step is replaced by a single dynamic
 *     `INSERT OVERWRITE` job (`partitionOverwriteMode=dynamic`), atomic per
 *     Spark job with no leftover `temporal` table;
 *   - `repartition(1)` (fixed single file, a full shuffle that caps a
 *     partition's rewrite at one task) becomes size-targeted: file count =
 *     ceil(partition bytes / targetFileBytes), so a 100 TB table compacts
 *     with cluster-wide parallelism while still producing ~1 GB files.
 *
 * Scale notes (100 TB):
 *   - partition sizes come from ONE catalog listing per table plus one
 *     `getContentSummary` RPC per partition directory it rewrites — not a
 *     per-file `getFileStatus` loop on the driver (O(partitions
 *     compacted), not O(files) or O(table history));
 *   - the read side is materialized with `localCheckpoint()` before the
 *     overwrite: the dynamic overwrite would otherwise delete the very
 *     files its own scan is reading (Spark rejects the plan with "Cannot
 *     overwrite a path that is also being read from"). Checkpointing is
 *     executor block storage, so the listed partitions are processed in
 *     batches of `partitionsPerJob`, each batch's blocks freed right after
 *     its write. The four tables compact concurrently, one batch at a time
 *     each, so at most tables × `partitionsPerJob` partitions' worth of
 *     blocks are held at once, however many partitions were requested
 *     (`--partition all` on a 100 TB table never materializes the table).
 *
 * Crash window: a JVM killed inside a batch's overwrite commit (after the
 * old partition directory is deleted, before the staged files are renamed
 * in) loses that day, since its old rows were only in the lost checkpoint
 * blocks. Running the tables concurrently leaves that window as it was,
 * one per table and batch; it can now be open in up to four tables at once.
 */
class Compactor(
    spark: SparkSession,
    database: String = "default",
    targetFileBytes: Long = 1L << 30,
    partitionsPerJob: Int = 8,
    // test hook, applied to the materialized batch right before the
    // overwrite — failure-injection specs make the WRITE job crash
    // mid-flight to prove the partition stays readable (the overwrite
    // commits per job; an aborted job must leave the old files intact)
    rewriteHook: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame =
      identity) {

  private def qualified(t: String) = s"$database.$t"

  /** SHOW PARTITIONS value Hive uses for a NULL partition key. */
  private val nullPartition = "__HIVE_DEFAULT_PARTITION__"

  /** Enumerate a table's partitions (reference `:369-372`), per table. */
  def partitionsOf(table: String): Seq[String] = {
    import spark.implicits._
    spark.sql(s"SHOW PARTITIONS ${qualified(table)}")
      .as[String].collect().toSeq
      .map(_.split("=")(1))
  }

  /** partition value → stored bytes for the `partitions` that exist (None
    * = all): one catalog call for the locations, one recursive
    * content-summary RPC per partition directory it keeps — a one-day
    * compaction sizes one partition, not the table's whole history. */
  private[graft] def partitionSizes(
      table: String, partitions: Option[Seq[String]] = None): Map[String, Long] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val wanted = partitions.map(_.toSet)
    spark.sessionState.catalog
      .listPartitions(TableIdentifier(table, Some(database)))
      .map(part => part.spec.getOrElse(BillingSchema.partitionField, nullPartition) -> part)
      .filter { case (value, _) => wanted.forall(_.contains(value)) }
      .map { case (value, part) =>
        val loc = new Path(part.location)
        val bytes =
          try loc.getFileSystem(conf).getContentSummary(loc).getLength
          catch { case _: java.io.FileNotFoundException => 0L }
        value -> bytes
      }.toMap
  }

  /** Compact the given partitions (None = all) of the given tables.
    *
    * The tables run concurrently: each is an independent chain of jobs
    * over its own files. Every table finishes (or fails) before the call
    * returns, and the first failure, in `tables` order, is rethrown, so
    * one table's failure fails the run while the others still complete.
    *
    * ONE Spark job per BATCH of `partitionsPerJob` partitions, not one
    * per partition (the reference loops partitions serially, `:374`):
    * within a batch, rows are shuffled on
    * (partition, salt % nFiles(partition)) so every partition in the
    * batch compacts in parallel across the cluster, each into its
    * size-targeted file count, and a single dynamic overwrite replaces
    * the batch's partitions atomically per job. The batching bounds the
    * pre-overwrite `localCheckpoint` materialization (block storage) to
    * `partitionsPerJob` partitions' worth of data at a time — the
    * default `yesterday` path is one partition, one job, exactly as
    * before; `all` on a large table is N/8 bounded jobs instead of one
    * table-sized one. The salt is a deterministic full-row hash, so a
    * task retry re-produces the same buckets. */
  def compact(
      tables: Seq[String] = BillingSchema.tableSchemas.keys.toSeq.sorted,
      partitions: Option[Seq[String]] = None): Unit = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration.Inf
    import scala.concurrent.ExecutionContext.Implicits.global
    val field = BillingSchema.partitionField
    val prev = spark.conf.getOption("spark.sql.sources.partitionOverwriteMode")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try {
      val rewrites = tables.map { table =>
        Future {
          val sizes = partitionSizes(table, partitions)
          val parts = partitions.getOrElse(sizes.keys.toSeq.sorted)
          def filesFor(p: String): Int = math.max(1,
            math.ceil(sizes.getOrElse(p, 0L).toDouble / targetFileBytes).toInt)
          parts.grouped(partitionsPerJob).foreach { batch =>
            // SHOW PARTITIONS / the catalog report NULL keys as the Hive
            // default-partition sentinel; equality would select zero rows
            val nonNull = batch.filterNot(_ == nullPartition)
            val predicate = (
              Option.when(nonNull.nonEmpty)(col(field).isin(nonNull: _*)) ++
                Option.when(batch.contains(nullPartition))(col(field).isNull)
            ).reduce(_ || _)
            val df = spark.table(qualified(table)).where(predicate)
            // per-partition target file count as a lookup expression
            val filesExpr = {
              val m = if (nonNull.isEmpty) lit(1) else
                coalesce(element_at(
                  map(nonNull.flatMap(p => Seq(lit(p), lit(filesFor(p)))): _*),
                  col(field)), lit(1))
              when(col(field).isNull, lit(filesFor(nullPartition))).otherwise(m)
            }
            val salt = pmod(xxhash64(df.columns.map(col): _*), filesExpr.cast("long"))
            // explicit partition count = total target files: exactly the
            // right task count for the rewrite, and AQE won't coalesce the
            // salted buckets back together (an explicit N disables it)
            val totalFiles = batch.map(filesFor).sum
            // materialize before overwriting the files being read, then let
            // the dynamic overwrite atomically replace only these partitions
            val rows = df.repartition(totalFiles, col(field), salt).localCheckpoint()
            try rewriteHook(rows).write.mode("overwrite").insertInto(qualified(table))
            finally Checkpoints.release(rows)
          }
        }
      }
      // wait for EVERY table before rethrowing, so no rewrite is still
      // running once the caller restores the conf or releases its lock
      rewrites.foreach(Await.ready(_, Inf))
      rewrites.foreach(_.value.get.get) // rethrows the first failure, in table order
    } finally {
      prev match {
        case Some(v) => spark.conf.set("spark.sql.sources.partitionOverwriteMode", v)
        case None => spark.conf.unset("spark.sql.sources.partitionOverwriteMode")
      }
    }
  }
}
