package perfbench

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import graft.analytics.{QueryDef, Registry, Tables}

/** The analytics registry, grouped by the module that defines each query. */
object Catalog {

  /** Every object in `graft.analytics` with a `defs: Seq[QueryDef]`, found
    * on the classpath by that rule rather than kept by hand. */
  lazy val modules: Seq[(String, Seq[QueryDef])] = {
    val pkg = "graft/analytics/"
    val loader = getClass.getClassLoader
    val names = loader.getResources(pkg).asScala.toSeq.flatMap { url =>
      url.getProtocol match {
        case "file" =>
          val st = Files.list(Paths.get(url.toURI))
          try st.iterator().asScala.map(_.getFileName.toString).toList finally st.close()
        case "jar" =>
          val jar = url.openConnection().asInstanceOf[java.net.JarURLConnection].getJarFile
          jar.entries().asScala.map(_.getName).filter(n => n.startsWith(pkg) && !n.stripPrefix(pkg).contains('/'))
            .map(_.stripPrefix(pkg)).toList
        case _ => Nil
      }
    }.filter(n => n.endsWith("$.class") && !n.dropRight(7).contains('$')).map(_.dropRight(7)).distinct
    names.sorted.flatMap { m =>
      val cls = Class.forName(s"graft.analytics.$m$$", true, loader)
      scala.util.Try(cls.getMethod("defs")).toOption.map { meth =>
        val defs = meth.invoke(cls.getField("MODULE$").get(null)).asInstanceOf[Seq[QueryDef]]
        m -> defs.sortBy(_.name)
      }
    }
  }

  /** Stratified sample: in each module, in name order, every k-th query
    * starting at `offset` (taken modulo the module size when the module
    * has fewer than k queries, so every module is covered). */
  def sample(k: Int, offset: Int): Seq[(String, QueryDef)] =
    modules.flatMap { case (m, defs) =>
      val o = offset % math.min(k, defs.size)
      defs.zipWithIndex.collect { case (q, i) if i % k == o => m -> q }
    }

  /** Open every table of the data set through the program's loaders,
    * resolving each one's schema: what a catalog client pays per session
    * before its first query. */
  def openTables(spark: org.apache.spark.sql.SparkSession, dir: String): Unit = {
    val st = Files.list(Paths.get(dir))
    val tables = try st.iterator().asScala.map(_.getFileName.toString)
      .filter(_.endsWith(".parquet")).map(_.stripSuffix(".parquet")).toList.sorted
    finally st.close()
    tables.foreach {
      case "events" => Tables.events(spark, dir).schema
      case "documents" => Tables.docs(spark, dir).schema
      case "embeddings" => Tables.embs(spark, dir).schema
      case t => Tables.rd(spark, dir, t).schema
    }
  }

  /** Queries of the registry that no module object declares. */
  def unassigned: Set[String] =
    Registry.all.map(_.name).toSet -- modules.flatMap(_._2.map(_.name))
}

/** A stratified sample of the analytics catalog over a fixed scale-factor
  * data set: one cold pass in a fresh JVM, then warm passes, each query
  * forced with `.count()` as the catalog bench does. It exercises the
  * analytics modules (and the functions, operators and streaming code they
  * reach) and leaves the ingest layers idle. */
object CatalogSample {
  /** Every 56th query per module: one query from each of the 14 modules. */
  val k = 56
  /** Fixed so every run times the same queries: the run-to-run spread of a
    * sample's total across offsets is far wider than any useful bound. The
    * seed orders the queries within each pass instead. */
  val offset = 4
  val minWarmPasses = 1

  /** The queries of one run, in the order the seed gives them. */
  def plan(seed: Long): Seq[(String, QueryDef)] =
    new scala.util.Random(seed).shuffle(Catalog.sample(k, offset))

  def run(ctx: Ctx): Unit = {
    val r = ctx.report
    val data = ctx.data.toString
    ctx.setup(5) { spark =>
      require(Catalog.unassigned.isEmpty,
        s"queries outside any module: ${Catalog.unassigned.mkString(",")}")
      Catalog.openTables(spark, data)
    }
    ctx.ready()

    val sample = plan(ctx.seed)

    val verify = ctx.dir("verify")
    /** One pass: its seconds, per query (module, seconds), and the pass's
      * harness set-up seconds (`BenchSplit.drainSeconds`, summed over its
      * queries). The cold pass writes each result where the oracle check
      * reads it (as `graft.Verify` does); warm passes force each query with
      * `.count()` (as `graft.Bench` does). A failed query counts as a
      * failed operation and the pass is not timed. */
    def pass(label: String, write: Boolean): Option[(Double, Seq[(String, Double)], Double)] = {
      var harness = 0.0
      graft.BenchSplit.drainSeconds() // drop what ran before the pass
      val t0 = System.nanoTime()
      val per = ctx.span(s"catalog:$label") {
        sample.flatMap { case (m, q) =>
          val q0 = System.nanoTime()
          val done = r.op(q.name)(ctx.span(s"analytics.$m:${q.name}") {
            val df = q.run(ctx.spark, data)
            if (write) df.coalesce(1).write.mode("overwrite").parquet(verify.resolve(q.name).toString)
            else df.count()
          }).map(_ => m -> (System.nanoTime() - q0) / 1e9)
          harness += graft.BenchSplit.drainSeconds()
          done
        }
      }
      Option.when(per.size == sample.size)(((System.nanoTime() - t0) / 1e9, per, harness))
    }

    val cold = pass("cold_pass", write = true)
    writeOracleSql(verify, sample.map(_._2))
    ctx.mark("cold_pass")
    cold.foreach { case (s, per, harness) =>
      r.e2e("first_op_s", "s", Seq(s))(_.head)
      r.layer("catalog.cold_s", "s", s)
      r.layer("catalog.harness_setup_s", "s", harness)
      per.groupMapReduce(_._1)(_._2)(_ + _).foreach { case (m, v) => r.layer(s"analytics.$m.cold_s", "s", v) }
    }

    val warm = Seq.newBuilder[(Double, Boolean)]
    val harness = Seq.newBuilder[Double]
    val perQuery = Seq.newBuilder[Double]
    val perModule = Seq.newBuilder[Map[String, Double]]
    val start = ctx.elapsed
    var n = 0
    /** Whole passes while another one still fits in `--seconds`. A traced
      * run alternates tracing per pass after one warm-up pass, which runs
      * untraced and stays out of the overhead comparison, so it needs two
      * passes of each kind after that one. */
    def another: Boolean = n < (if (ctx.traced) 5 else minWarmPasses) ||
      ctx.elapsed - start + (ctx.elapsed - start) / n <= ctx.seconds
    while (another) {
      val traced = n > 0 && n % 2 == 0
      ctx.setTracing(traced)
      pass("warm_pass", write = false).foreach { case (s, per, h) =>
        if (!ctx.traced || n > 0) warm += s -> traced
        harness += h
        perQuery ++= per.map(_._2)
        perModule += per.groupMapReduce(_._1)(_._2)(_ + _)
      }
      n += 1
    }
    ctx.setTracing(true)
    ctx.mark("warm_passes")
    val ws = warm.result()
    r.e2e("op_p50_s", "s", ws.map(_._1))(Stats.median)
    r.layer("catalog.warm_s", "s", if (ws.isEmpty) 0.0 else Stats.median(ws.map(_._1)))
    harness.result() match {
      case Seq() =>
      case hs => r.layer("catalog.harness_setup_warm_s", "s", Stats.median(hs))
    }
    val mods = perModule.result()
    mods.flatMap(_.keys).distinct.foreach { m =>
      r.layer(s"analytics.$m.warm_s", "s", Stats.median(mods.flatMap(_.get(m))))
    }
    // a catalog query is the read an analyst issues
    val qs = perQuery.result()
    r.layer("read.p50_s", "s", Stats.median(qs))
    Common.tail(ctx, "read.tail_s", qs)
    Common.overhead(ctx, ws)
  }

  /** The oracle SQL of each sampled query that has one, where
    * `tools/check.py` reads it next to the written results. */
  private def writeOracleSql(dir: java.nio.file.Path, qs: Seq[QueryDef]): Unit = {
    Files.writeString(dir.resolve("oracle_sql.json"), qs.flatMap(q => q.oracle.map(o =>
      s"${Json.str(q.name)}: ${Json.str(o)}")).mkString("{", ",\n", "}"))
  }
}
