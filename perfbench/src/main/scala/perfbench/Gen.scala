package perfbench

import java.io.{BufferedWriter, OutputStreamWriter}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.time.LocalDate
import scala.collection.mutable

/** What a set of generated billing lines should produce once ingested:
  * rows per (table, day partition) — None is the NULL-date partition —
  * the sum of `fileSize` per table, and the lines no table receives. */
final class Tally {
  val rows = mutable.Map.empty[(String, Option[String]), Long].withDefaultValue(0L)
  val fileSizeSum = mutable.Map.empty[String, Long].withDefaultValue(0L)
  var malformed = 0L
  var unknownType = 0L
  var nullDate = 0L
  var lines = 0L
  var bytes = 0L

  def tableRows(table: String): Long =
    rows.collect { case ((t, _), n) if t == table => n }.sum

  def addAll(o: Tally): Unit = {
    o.rows.foreach { case (k, v) => rows(k) += v }
    o.fileSizeSum.foreach { case (k, v) => fileSizeSum(k) += v }
    malformed += o.malformed; unknownType += o.unknownType
    nullDate += o.nullDate; lines += o.lines; bytes += o.bytes
  }
}

/** Seeded, single-threaded generator of dCache billing JSON lines: all
  * five msgTypes, plus a small share each of malformed lines, an unknown
  * msgType and records without a `date`. The same seed writes
  * byte-identical files, and the generator tallies what it wrote. */
final class Gen(seed: Long) {
  import Gen._
  private val rng = new java.util.SplittableRandom(seed)

  private def pick[T](weighted: Seq[(T, Int)]): T = {
    var r = rng.nextInt(weighted.map(_._2).sum)
    weighted.find { case (_, w) => r -= w; r < 0 }.get._1
  }

  /** One line for simulated day `day`, recorded in `tally`. */
  def line(day: Int, tally: Tally): String = {
    val kind = pick(kinds)
    tally.lines += 1
    if (kind == "malformed") {
      tally.malformed += 1
      return f"garbage-${rng.nextLong()}%016x{"
    }
    val i = rng.nextInt(1 << 30)
    val hasDate = rng.nextInt(100) != 0
    val ts = f"${dayString(day)} ${rng.nextInt(24)}%02d:${rng.nextInt(60)}%02d:${rng.nextInt(60)}%02d.${rng.nextInt(1000)}%03d"
    val date = if (hasDate) s""""date":"$ts",""" else ""
    val fileSize = rng.nextInt(16000000)
    val pnfsid = Gen.pnfsid(rng.nextInt(pnfsidPool))
    val owner = s"u${rng.nextInt(200)}"
    val cell = s"pool_${rng.nextInt(16)}"
    val body = kind match {
      case "transfer" | "ping" =>
        s""""msgType":"$kind","cellName":"$cell","session":"s$i","subject":"dn=$owner","initiator":"door_${i % 3}","transferPath":"/data/f$i","queuingTime":${rng.nextInt(500)},"cellDomain":"dom_${i % 4}","isP2p":${rng.nextBoolean()},"transferTime":${rng.nextInt(100000)}.5,"storageInfo":"tape@osm","transferSize":${rng.nextInt(1 << 24)},"localEndpoint":"ep${i % 9}","protocolInfo":{"protocol":"xrootd","port":${20000 + i % 5000},"host":"h${i % 50}.example"},"cellType":"pool","fileSize":$fileSize,"pnfsid":"$pnfsid","billingPath":"/b/f$i","isWrite":"${if (rng.nextBoolean()) "write" else "read"}","status":{"msg":"ok","code":0}"""
      case "request" =>
        s""""msgType":"request","owner":"$owner","clientChain":"c${i % 10}","mappedGID":${1000 + i % 50},"cellName":"door_${i % 3}","session":"s$i","subject":"dn=$owner","transferPath":"/data/f$i","sessionDuration":${rng.nextInt(300)},"storageInfo":"disk","cellType":"door","fileSize":$fileSize,"mappedUID":${500 + i % 50},"queuingTime":${rng.nextInt(100)},"cellDomain":"dom_${i % 4}","client":"10.0.${i % 256}.${i % 200}","pnfsid":"$pnfsid","billingPath":"/b/f$i","status":{"msg":"done","code":0}"""
      case "store" | "restore" =>
        s""""msgType":"$kind","transferTime":${rng.nextInt(10000)}.25,"cellName":"$cell","session":"s$i","storageInfo":"osm:tape","cellType":"pool","fileSize":$fileSize,"queuingTime":${rng.nextInt(60)},"cellDomain":"dom_${i % 4}","locations":"osm://tape/${i % 8}","pnfsid":"$pnfsid","transaction":"t$i","billingPath":"/b/f$i","status":{"msg":"ok","code":0}"""
      case _ => // remove
        s""""msgType":"remove","owner":"$owner","clientChain":"c${i % 10}","mappedGID":${2000 + i % 50},"cellName":"cleaner","session":"s$i","subject":"dn=$owner","transferPath":"/data/f$i","sessionDuration":${rng.nextInt(10)},"cellType":"cleaner","fileSize":$fileSize,"mappedUID":${500 + i % 50},"queuingTime":${rng.nextInt(5)},"cellDomain":"dom_${i % 4}","client":"10.0.${i % 256}.${i % 200}","pnfsid":"$pnfsid","billingPath":"/b/f$i","transaction":"t$i","status":{"msg":"removed","code":0}"""
    }
    tableOf(kind) match {
      case None => tally.unknownType += 1
      case Some(t) =>
        if (!hasDate) tally.nullDate += 1
        tally.rows((t, Option.when(hasDate)(dayString(day)))) += 1
        tally.fileSizeSum(t) += fileSize
    }
    s"{$date$body}"
  }

  /** Write `n` lines to `path`; `day()` picks each line's simulated day. */
  def writeFile(path: Path, n: Int, tally: Tally)(day: => Int): Unit = {
    val w = new BufferedWriter(new OutputStreamWriter(Files.newOutputStream(path), UTF_8), 1 << 16)
    try (0 until n).foreach { _ =>
      val l = line(day, tally)
      w.write(l); w.write('\n')
      tally.bytes += l.getBytes(UTF_8).length + 1
    } finally w.close()
  }

  /** A backlog of `n` lines over `days` days (0 until days) of uneven
    * size, split into `files` JSON-lines files under `dir`. Returns each
    * file's name and tally. */
  def backlog(dir: Path, n: Int, days: Int, files: Int): Seq[(String, Tally)] = {
    Files.createDirectories(dir)
    val weights = (0 until days).map(_ => 1 + rng.nextInt(4))
    val cum = weights.scanLeft(0)(_ + _).tail
    (0 until files).map { f =>
      val lo = n.toLong * f / files
      val hi = n.toLong * (f + 1) / files
      val name = f"backlog-$f%03d.json"
      val tally = new Tally
      writeFile(dir.resolve(name), (hi - lo).toInt, tally) {
        val r = rng.nextInt(cum.last)
        cum.indexWhere(_ > r)
      }
      name -> tally
    }
  }

  /** One landing file of `n` lines for simulated day `day`; a share
    * `late` of them are late events for the day before. */
  def landing(path: Path, n: Int, day: Int, late: Double, tally: Tally): Unit =
    writeFile(path, n, tally) {
      if (day > 0 && rng.nextDouble() < late) day - 1 else day
    }

  def nextInt(bound: Int): Int = rng.nextInt(bound)
}

object Gen {
  val tables: Seq[String] = Seq("remove", "request", "storage", "transfer")

  /** msgType share, per 100 lines; "ping" is a type no table takes. */
  val kinds: Seq[(String, Int)] = Seq(
    "transfer" -> 40, "request" -> 24, "store" -> 10, "restore" -> 8,
    "remove" -> 16, "ping" -> 1, "malformed" -> 1)

  def tableOf(kind: String): Option[String] = kind match {
    case "transfer" => Some("transfer")
    case "request" => Some("request")
    case "store" | "restore" => Some("storage")
    case "remove" => Some("remove")
    case _ => None
  }

  val pnfsidPool = 4096
  def pnfsid(i: Int): String = f"0000$i%08X"

  private val day0 = LocalDate.of(2026, 1, 1)
  def dayString(d: Int): String = day0.plusDays(d.toLong).toString
}
