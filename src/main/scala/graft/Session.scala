package graft

import org.apache.spark.SparkConf
import org.apache.spark.sql.SparkSession

/** The one place a SparkSession is built: the tools, the CLI mains and
  * the tests all open theirs here, so they run the same configuration.
  *
  * Shared defaults: master `local[cpus]`, one shuffle partition per core,
  * UTC, nanosecond parquet timestamps read as longs (the testdata
  * encoding, see `Tables.normalizeTs`), the program's SQL extensions, no
  * UI. Each default is applied only to a key that is still unset, so
  * `spark-submit --master/--conf` and `-Dspark.*` properties win over it.
  * The caller's own settings are applied last. */
object Session {

  /** Cores for the local master and the shuffle: `SPARK_GRAFT_CPUS`,
    * else the JVM's processor count. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** `conf` with every shared default set where `conf` has no value. */
  def withDefaults(conf: SparkConf): SparkConf = conf
    .setIfMissing("spark.master", s"local[$cpus]")
    .setIfMissing("spark.sql.shuffle.partitions", cpus.toString)
    .setIfMissing("spark.sql.session.timeZone", "UTC")
    .setIfMissing("spark.sql.legacy.parquet.nanosAsLong", "true")
    .setIfMissing("spark.sql.extensions", "graft.functions.GraftExtensions")
    .setIfMissing("spark.ui.enabled", "false")

  /** A session named `app` (unless the launcher already named it), with
    * the shared defaults under `settings`. The warehouse is the caller's
    * choice: tools and tests pass a scratch `spark.sql.warehouse.dir`; the
    * CLI passes none, so consecutive cron runs find the same managed
    * billing tables. */
  def apply(app: String, settings: (String, String)*): SparkSession = {
    val builder = SparkSession.builder()
      .config(withDefaults(new SparkConf().setIfMissing("spark.app.name", app)))
    settings.foreach { case (k, v) => builder.config(k, v) }
    builder.getOrCreate()
  }

  /** A fresh, JVM-exit-deleted warehouse directory for tool and test runs. */
  def scratchWarehouse(prefix: String): (String, String) =
    "spark.sql.warehouse.dir" -> analytics.Tables.tmpDir(prefix).toString
}
