package perfbench

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession

/** Benchmark-owned dashboard reads over the four billing tables, and the
  * checks that compare ingested tables with the generator's tallies. */
object Billing {

  /** The four dashboard reads, each pruned by a `partition_date`
    * predicate. `today` is a simulated day index. */
  def reads(db: String, today: Int, pnfsid: String): Seq[(String, String)] = {
    val d = Gen.dayString(today)
    val week = s"partition_date BETWEEN '${Gen.dayString(today - 6)}' AND '$d'"
    Seq(
      "pool_bytes_today" ->
        s"""SELECT cellName, sum(transferSize) AS bytes, count(*) AS n
           |FROM $db.transfer WHERE partition_date = '$d'
           |GROUP BY cellName ORDER BY bytes DESC""".stripMargin,
      "owner_requests_7d" ->
        s"""SELECT owner, count(*) AS n FROM $db.request WHERE $week
           |GROUP BY owner ORDER BY n DESC, owner""".stripMargin,
      "store_restore_per_day" ->
        s"""SELECT partition_date, msgType, count(*) AS n, sum(fileSize) AS bytes
           |FROM $db.storage WHERE $week
           |GROUP BY partition_date, msgType ORDER BY partition_date, msgType""".stripMargin,
      "pnfsid_lineage" ->
        Gen.tables.map(t =>
          s"SELECT '$t' AS tbl, date, pnfsid FROM $db.$t WHERE pnfsid = '$pnfsid' AND $week")
          .mkString("", " UNION ALL ", " ORDER BY date, tbl"))
  }

  /** Rows the first three reads must count, from the tally. */
  def expectedReadRows(tally: Tally, today: Int): Map[String, Long] = {
    val week = (today - 6 to today).map(Gen.dayString).toSet
    def rows(t: String, days: Set[String]) = tally.rows.collect {
      case ((`t`, Some(p)), n) if days(p) => n
    }.sum
    Map(
      "pool_bytes_today" -> rows("transfer", Set(Gen.dayString(today))),
      "owner_requests_7d" -> rows("request", week),
      "store_restore_per_day" -> rows("storage", week))
  }

  /** Run the reads, timing each; check the counted rows against the
    * tally. Returns each read's seconds. */
  def runReads(ctx: Ctx, db: String, today: Int, pnfsid: String, tally: Tally): Seq[(String, Double)] = {
    val want = expectedReadRows(tally, today)
    reads(db, today, pnfsid).flatMap { case (name, sql) =>
      val t0 = System.nanoTime()
      ctx.report.op(s"read $name") {
        ctx.span(s"read:$name")(ctx.spark.sql(sql).collect())
      }.map { rows =>
        val secs = (System.nanoTime() - t0) / 1e9
        want.get(name).foreach { n =>
          val got = rows.map(r => r.getAs[Long]("n")).sum
          ctx.report.check(s"read $name rows", got == n, s"got $got want $n")
        }
        name -> secs
      }
    }
  }

  /** Committed rows per (table, partition) and the fileSize sum per table
    * must equal the tally exactly. */
  def checkTables(ctx: Ctx, db: String, tally: Tally, label: String): Unit =
    Gen.tables.foreach { t =>
      val rows = ctx.spark.sql(
        s"""SELECT partition_date, count(*) AS n, sum(CAST(fileSize AS BIGINT)) AS s
           |FROM $db.$t GROUP BY partition_date""".stripMargin).collect()
      val got = rows.map(r => Option(r.getString(0)) -> r.getLong(1)).toMap
      val want = tally.rows.collect { case ((`t`, p), n) => p -> n }.toMap
      ctx.report.check(s"$label $t partition counts", got == want,
        s"(${got.values.sum} rows in ${got.size} partitions, want ${want.values.sum} in ${want.size})")
      val sum = rows.map(r => if (r.isNullAt(2)) 0L else r.getLong(2)).sum
      ctx.report.check(s"$label $t fileSize sum", sum == tally.fileSizeSum(t),
        s"got $sum want ${tally.fileSizeSum(t)}")
    }

  /** Parquet data files under a table or partition directory. */
  def dataFiles(dir: Path): Seq[Path] =
    if (!Files.isDirectory(dir)) Nil
    else {
      val st = Files.walk(dir)
      try st.iterator().asScala.filter { p =>
        val n = p.getFileName.toString
        Files.isRegularFile(p) && !n.startsWith(".") && !n.startsWith("_")
      }.toList
      finally st.close()
    }

  def tableDir(spark: SparkSession, db: String, table: String): Path =
    java.nio.file.Paths.get(new java.net.URI(
      spark.sessionState.catalog.getTableMetadata(
        org.apache.spark.sql.catalyst.TableIdentifier(table, Some(db))).location.toString))

  /** Data files of the four tables: mean files per (table, partition),
    * file count, and stored bytes. */
  final case class Layout(filesPerPartition: Double, files: Int, bytes: Long)

  def layout(spark: SparkSession, db: String): Layout = {
    val files = Gen.tables.flatMap(t => dataFiles(tableDir(spark, db, t)))
    val partitions = files.map(_.getParent).distinct.size
    Layout(if (partitions == 0) 0.0 else files.size.toDouble / partitions, files.size,
      files.map(Files.size).sum)
  }
}
