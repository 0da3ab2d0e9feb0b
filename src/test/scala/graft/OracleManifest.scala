package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.security.MessageDigest

import graft.analytics.Registry

/** Pins the text of every DuckDB oracle: one `name<TAB>sha256` line per
  * registry query, sorted by name. The hash is over the oracle with each
  * line trimmed and blank lines dropped, so re-indenting a query or
  * moving a shared CTE into an interpolated fragment keeps its hash,
  * while any change to what DuckDB runs moves it. Line breaks are kept,
  * so a `--` comment cannot swallow the code after it.
  *
  * `sbt "Test/runMain graft.OracleManifest [path]"` rewrites the
  * committed manifest (default `src/test/resources/oracle-text.sha256`);
  * `OracleTextSpec` fails when the registry's oracles no longer match it. */
object OracleManifest {

  val DefaultPath = "src/test/resources/oracle-text.sha256"

  def normalize(sql: String): String =
    sql.linesIterator.map(_.trim).filter(_.nonEmpty).mkString("\n")

  def sha256(s: String): String =
    MessageDigest.getInstance("SHA-256")
      .digest(s.getBytes(StandardCharsets.UTF_8)).map(b => f"$b%02x").mkString

  /** The manifest lines of the current registry. */
  def lines(): Seq[String] =
    Registry.oracleSql.toSeq.sortBy(_._1).map { case (n, sql) => s"$n\t${sha256(normalize(sql))}" }

  def main(args: Array[String]): Unit = {
    val path = Paths.get(args.headOption.getOrElse(DefaultPath))
    val ls = lines()
    Files.write(path, ls.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
    println(s"[oracle-manifest] ${ls.size} oracles -> $path")
  }
}
