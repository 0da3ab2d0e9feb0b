package perfbench

import java.nio.file.{Files, Path, StandardCopyOption}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.functions.col
import org.apache.spark.storage.StorageLevel
import graft.cli.{RunCompact, RunIngest}
import graft.ddl.BillingTables
import graft.parse.BillingParse
import graft.route.BillingRouter

/** The reference's operating mode, restarted after an outage. Cron starts
  * a fresh JVM whose first window (`RunIngest.run`, AvailableNow) drains a
  * 30-day backlog, where parse, route and append do the work. Then, open
  * loop, a generator thread lands a small JSON-lines file on a fixed
  * schedule while the main loop runs windows against the same checkpoint,
  * four dashboard reads after each window, and `RunCompact.run` on each
  * day that has finished. In the steady windows per-window fixed cost
  * dominates, and only here do compaction and reads over the ingested
  * files run. */
object CronWindows {
  val backlogRecords = 30000
  val backlogDays = 30
  val backlogFiles = 8
  val recordsPerFile = 5000
  /** One file lands every `periodS` seconds: 10,000 records/s, 22–38% of
    * the 26,000–45,000 records/s the window loop sustains on a 4-core host
    * (the `cron_capacity` probe), so each window drains several files and
    * the queue stays bounded. */
  val periodS = 0.5
  val filesPerDay = 8
  /** Share of each file's records that are late events for the day before. */
  val late = 0.15
  val minFiles = 16

  private final case class Landed(name: String, day: Int, dueNs: Long, tally: Tally)

  def run(ctx: Ctx): Unit = {
    val r = ctx.report
    val db = "billing"
    val landing = ctx.dir("landing")
    val lockDir = ctx.dir("lock")
    val ckpt = ctx.work.resolve("ckpt")
    val gen = new Gen(ctx.seed)
    val backlog = gen.backlog(landing, backlogRecords, backlogDays, backlogFiles)
    val pnfsid = Gen.pnfsid(gen.nextInt(Gen.pnfsidPool))
    ctx.mark("generate")

    ctx.setup(5) { spark =>
      val t = new BillingTables(spark, db)
      t.createDatabase(); t.createAll()
    }
    ctx.ready()

    val landed = new java.util.concurrent.ConcurrentLinkedQueue[Landed]()
    backlog.foreach { case (name, t) => landed.add(Landed(name, backlogDays - 1, 0L, t)) }
    def land(j: Int, dueNs: Long): Unit = {
      val tally = new Tally
      val day = backlogDays + (j - 1) / filesPerDay
      val tmp = landing.resolve(f".f-$j%05d.tmp")
      gen.landing(tmp, recordsPerFile, day, late, tally)
      val name = f"f-$j%05d.json"
      // known before it is visible, so a window never commits a stranger
      landed.add(Landed(name, day, dueNs, tally))
      Files.move(tmp, landing.resolve(name), StandardCopyOption.ATOMIC_MOVE)
    }

    val opts = Map("database" -> db, "checkpoint" -> ckpt.toString,
      "lock-dir" -> lockDir.toString, "source-dir" -> landing.toString)
    val committed = mutable.LinkedHashMap.empty[String, Landed]
    val committedTally = new Tally
    val freshness = mutable.ArrayBuffer.empty[Double]
    val pending = mutable.ArrayBuffer.empty[Double]
    var status1 = 0

    /** One cron window; returns its seconds. Files the window committed
      * get their freshness: due time to the end of this window. */
    def window(span: String): Double = {
      pending += (landed.size - committed.size).toDouble
      val t0 = System.nanoTime()
      val code = r.op("window")(ctx.span(s"cli:$span")(RunIngest.run(ctx.spark, opts)))
      val t1 = System.nanoTime()
      val status = Files.readString(lockDir.resolve("status_run_stream.txt")).trim
      if (!code.contains(0)) status1 += 1
      r.check("window status", code.contains(0) && status == "0", s"code $code status file $status")
      val byName = landed.asScala.map(l => l.name -> l).toMap
      sourceLog(ckpt).filterNot(committed.contains).foreach { n =>
        byName.get(n) match {
          case Some(l) =>
            committed(n) = l
            committedTally.addAll(l.tally)
            freshness += (t1 - l.dueNs) / 1e9
          case None => r.check("window committed a known file", ok = false, n)
        }
      }
      (t1 - t0) / 1e9
    }

    val first = window("first_window")
    ctx.mark("first_window")
    r.e2e("first_op_s", "s", Seq(first))(_.head)
    r.check("first window drained the backlog", committed.size == backlogFiles,
      s"${committed.size} of $backlogFiles files")
    Billing.checkTables(ctx, db, committedTally, "backlog")
    r.layer("ingest.cold_drain_s", "s", first)
    r.layer("ingest.rows_per_s", "rows/s", Gen.tables.map(committedTally.tableRows).sum / first)
    val drained = Billing.layout(ctx.spark, db)
    r.layer("ingest.files_written", "files", drained.files.toDouble)
    r.layer("ingest.stored_bytes_per_input_byte", "ratio", drained.bytes.toDouble / committedTally.bytes)
    freshness.clear()
    // untimed: the first refresh plans and compiles the four reads; it
    // checks the backlog's read counts too
    Billing.runReads(ctx, db, backlogDays - 1, pnfsid, committedTally)

    val files = math.max(minFiles, (ctx.seconds / periodS).toInt)
    val startNs = System.nanoTime()
    var lateS = 0.0
    // A traced run lands files until two steady windows of each kind
    // follow the untraced first one, so the overhead compares medians.
    val minSteady = if (ctx.traced) 5 else 0
    val steady = new java.util.concurrent.atomic.AtomicInteger(0)
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val generator = new Thread(() => {
      var j = 1
      while (!stop.get && (j <= files || steady.get < minSteady)) {
        val due = startNs + ((j - 1) * periodS * 1e9).toLong
        val wait = (due - System.nanoTime()) / 1000000
        if (wait > 0) Thread.sleep(wait)
        if (j <= files || steady.get < minSteady) {
          lateS = math.max(lateS, (System.nanoTime() - due) / 1e9)
          land(j, due)
        }
        j += 1
      }
    }, "perfbench-generator")
    generator.setDaemon(true)
    generator.start()

    val windowS = mutable.ArrayBuffer.empty[Double]
    val windows = mutable.ArrayBuffer.empty[(Double, Boolean)]
    val reads = mutable.ArrayBuffer.empty[(String, Double)]
    val compactS = mutable.ArrayBuffer.empty[Double]
    val compactStats = mutable.ArrayBuffer.empty[(Int, Int, Long)]
    var compactedThrough = backlogDays - 1
    var iter = 0
    while ((generator.isAlive || committed.size < landed.size) && r.failed == 0) {
      // the first steady window still carries warm-up: it runs untraced
      // and stays out of the overhead comparison; after it, untraced first
      val traced = iter > 0 && iter % 2 == 0
      ctx.setTracing(traced)
      val idle = !generator.isAlive && landed.size == committed.size
      val secs = window("RunIngest.run")
      windowS += secs
      if (iter > 0) windows += secs -> traced
      val today = committed.values.map(_.day).max
      reads ++= Billing.runReads(ctx, db, today, pnfsid, committedTally)
      // a run compacts only a day or two: trace every compaction
      ctx.setTracing(true)
      while (compactedThrough + 1 < today) {
        compactedThrough += 1
        compactDay(ctx, db, compactedThrough, lockDir, committedTally)
          .foreach { case (s, st) => compactS += s; compactStats += st }
      }
      r.check("generator landed every file", !idle)
      iter += 1
      steady.set(iter)
    }
    ctx.setTracing(true)
    stop.set(true)
    generator.join()
    ctx.mark("open_loop")

    Billing.checkTables(ctx, db, committedTally, "end of run")
    r.check("every landed file committed", committed.size == landed.size,
      s"${committed.size} of ${landed.size}")

    r.e2e("op_p50_s", "s", freshness.toSeq)(Stats.median)
    Common.tail(ctx, "cli.freshness_tail_s", freshness.toSeq)
    Common.reads(ctx, reads.toSeq)
    Common.overhead(ctx, windows.toSeq)
    r.layer("cli.window_s", "s", Stats.median(windowS.toSeq))
    r.layer("cli.windows", "count", iter + 1.0)
    r.layer("cli.status_1", "count", status1.toDouble)
    r.layer("cli.backlog_files", "files", pending.sum / pending.size)
    r.layer("cli.generator_late_s", "s", lateS)
    if (compactS.nonEmpty) {
      r.layer("compact.s", "s", Stats.median(compactS.toSeq))
      r.layer("compact.files_before", "files", compactStats.map(_._1).sum.toDouble / compactStats.size)
      r.layer("compact.files_after", "files", compactStats.map(_._2).sum.toDouble / compactStats.size)
      r.layer("compact.bytes_rewritten", "bytes", compactStats.map(_._3).sum.toDouble / compactStats.size)
    }
    r.layer("ingest.files_per_partition", "files", Billing.layout(ctx.spark, db).filesPerPartition)
    if (ctx.traced) {
      layerProbes(ctx, backlog.map(b => landing.resolve(b._1).toString), backlog.map(_._2))
      Common.ddlProbe(ctx, db)
    }
  }

  /** Records per window the capacity probe times, each size twice. */
  val capacitySizes = Seq(5000, 20000, 80000, 160000)

  /** Not a benchmark workload: the rate the window loop sustains on this
    * host, from which the open-loop landing rate is chosen. After the same
    * set-up and backlog window as `run`, a closed loop lands one file of R
    * records, runs one window and the four reads, and repeats, each size
    * twice after one untimed warm-up cycle. A least-squares line through
    * cycle seconds against R gives the fixed cost of a cycle and the
    * marginal rate. A loop fed at λ records/s cycles in
    * fixed / (1 − λ / rate), so the marginal rate is the sustainable one. */
  def capacity(ctx: Ctx): Unit = {
    val r = ctx.report
    val db = "billing"
    val landing = ctx.dir("landing")
    val lockDir = ctx.dir("lock")
    val gen = new Gen(ctx.seed)
    val tally = new Tally
    gen.backlog(landing, backlogRecords, backlogDays, backlogFiles).foreach(b => tally.addAll(b._2))
    val pnfsid = Gen.pnfsid(gen.nextInt(Gen.pnfsidPool))
    ctx.setup(1) { spark =>
      val t = new BillingTables(spark, db)
      t.createDatabase(); t.createAll()
    }
    ctx.ready()
    val opts = Map("database" -> db, "checkpoint" -> ctx.work.resolve("ckpt").toString,
      "lock-dir" -> lockDir.toString, "source-dir" -> landing.toString)
    val day = backlogDays
    def cycle(j: Int, records: Int): Double = {
      val tmp = landing.resolve(f".c-$j%03d.tmp")
      gen.landing(tmp, records, day, late, tally)
      Files.move(tmp, landing.resolve(f"c-$j%03d.json"), StandardCopyOption.ATOMIC_MOVE)
      val t0 = System.nanoTime()
      val code = r.op("window")(RunIngest.run(ctx.spark, opts))
      r.check("window status", code.contains(0), s"code $code")
      Billing.runReads(ctx, db, day, pnfsid, tally)
      (System.nanoTime() - t0) / 1e9
    }
    r.op("backlog window")(RunIngest.run(ctx.spark, opts))
    Billing.runReads(ctx, db, day - 1, pnfsid, tally)
    cycle(0, capacitySizes.head)
    val points = for {
      (n, i) <- capacitySizes.zipWithIndex
      rep <- 0 until 2
    } yield n.toDouble -> cycle(1 + 2 * i + rep, n)
    Billing.checkTables(ctx, db, tally, "capacity")
    points.groupMap(_._1)(_._2).foreach { case (n, cs) =>
      r.layer(f"capacity.cycle_s.$n%.0f", "s", Stats.median(cs))
    }
    val (fixed, perRecord) = Stats.line(points)
    r.layer("capacity.fixed_s", "s", fixed)
    r.layer("capacity.records_per_s", "records/s", 1 / perRecord)
  }

  /** File names the file source has planned into batches so far, read from
    * its checkpoint log (plain and compacted batch files alike). After a
    * successful AvailableNow window every planned batch has committed. */
  private def sourceLog(ckpt: Path): Seq[String] = {
    val dir = ckpt.resolve("sources").resolve("0")
    if (!Files.isDirectory(dir)) Nil
    else {
      val path = "\"path\":\"([^\"]+)\"".r
      val st = Files.list(dir)
      try st.iterator().asScala.filter(p => !p.getFileName.toString.startsWith("."))
        .flatMap(p => path.findAllMatchIn(Files.readString(p)).map(_.group(1)))
        .map(u => u.substring(u.lastIndexOf('/') + 1)).toSeq.distinct
      finally st.close()
    }
  }

  /** Compact one finished day. Checks: status 0 and one file per table at
    * the default target, from a file listing, so the loop does not wait for
    * count queries; that compaction kept every row shows in the per-partition
    * counts the end of the run checks against the tallies. Returns its
    * seconds and (files before, files after, bytes rewritten). */
  private def compactDay(
      ctx: Ctx, db: String, day: Int, lockDir: Path,
      tally: Tally): Option[(Double, (Int, Int, Long))] = {
    val r = ctx.report
    val d = Gen.dayString(day)
    def partFiles = Gen.tables.map(t =>
      t -> Billing.dataFiles(Billing.tableDir(ctx.spark, db, t).resolve(s"partition_date=$d")))
    val before = partFiles
    val bytesBefore = before.flatMap(_._2).map(Files.size).sum
    val t0 = System.nanoTime()
    val code = r.op(s"compact $d")(ctx.span("compact:RunCompact.run")(
      RunCompact.run(ctx.spark, Map("database" -> db, "partition" -> d,
        "lock-dir" -> lockDir.toString))))
    val secs = (System.nanoTime() - t0) / 1e9
    val status = Files.readString(lockDir.resolve("status_run_compact.txt")).trim
    r.check(s"compact $d status", code.contains(0) && status == "0", s"code $code status file $status")
    val after = partFiles.toMap
    Gen.tables.foreach { t =>
      val files = after(t).size
      val want = if (tally.rows((t, Some(d))) > 0) 1 else 0
      r.check(s"compact $d $t one file", files == want, s"got $files files")
    }
    code.filter(_ == 0).map(_ =>
      secs -> (before.map(_._2.size).sum, after.values.map(_.size).sum, bytesBefore))
  }

  /** Traced run only: parse and route timed on their own over the backlog
    * as a static frame, each forced through a `noop` write of every column. */
  private def layerProbes(ctx: Ctx, files: Seq[String], tallies: Seq[Tally]): Unit = {
    val r = ctx.report
    val tally = new Tally
    tallies.foreach(tally.addAll)
    val lines = ctx.spark.read.text(files: _*)
    def timed(name: String)(body: => Unit): Double = Stats.median((0 until 3).map { _ =>
      val t0 = System.nanoTime()
      ctx.span(name)(body)
      (System.nanoTime() - t0) / 1e9
    })
    val parseS = timed("parse:parse") {
      BillingParse.parse(lines).write.format("noop").mode("overwrite").save()
    }
    r.layer("parse.s", "s", parseS)
    r.layer("parse.rows_per_s", "rows/s", tally.lines / parseS)
    val parsed = BillingParse.parse(lines).persist(StorageLevel.MEMORY_AND_DISK)
    val total = parsed.count()
    val malformed = parsed.where(
      graft.schema.BillingSchema.inputFields.map(f => col(f).isNull).reduce(_ && _)).count()
    r.layer("parse.malformed_rows", "rows", malformed.toDouble)
    r.check("parse malformed rows", malformed == tally.malformed, s"got $malformed want ${tally.malformed}")
    r.layer("route.s", "s", timed("route:route") {
      BillingRouter.route(parsed).values.foreach(_.write.format("noop").mode("overwrite").save())
    })
    val routed = BillingRouter.route(parsed).map { case (t, df) => t -> df.count() }
    routed.foreach { case (t, n) =>
      r.layer(s"route.rows.$t", "rows", n.toDouble)
      r.check(s"route $t rows", n == tally.tableRows(t), s"got $n want ${tally.tableRows(t)}")
    }
    r.layer("route.rows_unrouted", "rows", (total - routed.values.sum).toDouble)
    parsed.unpersist()
  }
}
