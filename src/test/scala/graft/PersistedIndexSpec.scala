package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicInteger

import graft.analytics.{Dedup, Tables}
import graft.analytics.Dedup.PersistedIndex

/** The once-per-(JVM, corpus) index cache behind the Dedup indexes: one
  * build per key, a rebuild when the corpus under the same dir is
  * rewritten, and setup time counted once for a build that reads another
  * index. */
class PersistedIndexSpec extends SparkSuite {

  private val sf = "/root/testdata/sf0.001"

  /** A temp sf dir holding a writable copy of the sf0.001 corpus. */
  private def corpusCopy(): String = {
    val dir = Files.createTempDirectory("graft-pidx")
    Files.copy(Paths.get(sf, "documents.parquet"), dir.resolve("documents.parquet"))
    dir.toString
  }

  private def writeOne(p: String): Unit = spark.range(1).write.parquet(p)

  test("the build body runs once per key across two calls") {
    val dir = corpusCopy()
    val builds = new AtomicInteger(0)
    def idx(part: String) = PersistedIndex(spark, "once", dir, part) { p =>
      builds.incrementAndGet(); writeOne(p)
    }
    idx("a").count() shouldBe 1L
    idx("a").count() shouldBe 1L
    builds.get shouldBe 1
    idx("b").count() shouldBe 1L
    builds.get shouldBe 2
  }

  test("rewriting documents.parquet under the same dir triggers a rebuild") {
    val dir = corpusCopy()
    val builds = new AtomicInteger(0)
    def idx() = PersistedIndex(spark, "rebuild", dir) { p =>
      builds.incrementAndGet(); writeOne(p)
    }
    idx(); idx()
    builds.get shouldBe 1
    val all = Dedup.simhashIndex(spark, dir).count()
    def fingerprint = Tables.fingerprint(spark, s"$dir/documents.parquet")
    val before = fingerprint
    spark.read.parquet(s"$sf/documents.parquet").orderBy("doc_id").limit(50)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    fingerprint should not be before
    idx()
    builds.get shouldBe 2
    // a real index follows the rewritten corpus, not the stale build
    all should be > 50L
    Dedup.simhashIndex(spark, dir).count() shouldBe 50L
  }

  test("a failed build leaves the key to the next caller's own build") {
    val dir = corpusCopy()
    val builds = new AtomicInteger(0)
    val e = intercept[RuntimeException](PersistedIndex(spark, "retry", dir) { _ =>
      builds.incrementAndGet(); sys.error("boom in build")
    })
    e.getMessage should include("boom in build")
    PersistedIndex(spark, "retry", dir) { p =>
      builds.incrementAndGet(); writeOne(p)
    }.count() shouldBe 1L
    builds.get shouldBe 2
  }

  test("a build that reads another index adds its time to BenchSplit once") {
    val dir = corpusCopy()
    BenchSplit.drainSeconds()
    val t0 = System.nanoTime()
    PersistedIndex(spark, "outer", dir) { p =>
      Thread.sleep(300)
      PersistedIndex(spark, "inner", dir) { q => Thread.sleep(300); writeOne(q) }
      writeOne(p)
    }
    val wall = (System.nanoTime() - t0) / 1e9
    val setup = BenchSplit.drainSeconds()
    setup should be >= 0.6
    // counted twice, the nested span would push setup past the wall time
    setup should be <= wall
  }
}
