package perfbench

import scala.collection.mutable

import graft.{CdcQuery, SparkEntry, TrainQueries}

/** operator_suite: the `SparkEntry.queries` over seeded TPC-H-ish tables,
  * each written to the noop sink once per pass, in name order, after a
  * warm-up pass that writes every result to parquet for the DuckDB oracle
  * check. Passes repeat until the run's seconds are used up.
  *
  * The two `CdcQuery` entries are left out: they create their scratch lake
  * tables under /dev/shm whatever the session's local dirs are, so they
  * would write outside the benchmark's work directory. The CDC path they
  * cover is what trickle_cdc and bulk_cdc measure. */
object Suite {
  /** The timed subset: the queries ROADMAP names as open work
    * (q_interpolate aside: its oracle check fails on some seeds), plus a
    * plain aggregate and a join. A cold pass plus a warm pass of all 60
    * queries takes 60–80 s on 4 cores, more than one run may spend; the
    * small-size self-test runs and checks all 60. */
  val timed: Seq[String] = Seq(
    "q_ngram_jaccard", "q_dup_clusters", "q_lww_latest", "q_grapher_publish",
    "q_cumsum", "q_groupby_nan_budget", "q1_agg", "q_join_agg")

  def family(name: String): String =
    if (TrainQueries.all.contains(name)) "operators" else "ops"

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val dir = ctx.cfg.data
    val queries = SparkEntry.queries
    val names = (if (ctx.cfg.small) queries.keys.toSeq.filterNot(CdcQuery.all.contains)
      else timed).sorted
    ctx.setup("gen_s", 0.0) // tables are generated before the JVM starts

    val resultDir = s"${ctx.cfg.work}/suite-results"
    val w0 = System.nanoTime()
    val coldNode = ctx.details.putObject("cold_query_ms")
    for (n <- names) ctx.timedOp("query") {
      queries(n)(spark, dir).write.mode("overwrite").parquet(s"$resultDir/$n")
    }.foreach(t => coldNode.put(n, t.ms))
    ctx.setup("warm_s", (System.nanoTime() - w0) / 1e9)
    System.err.println(f"[perfbench] suite warm-up: ${(System.nanoTime() - w0) / 1e9}%.2f s")
    ctx.setupDone()

    val perQuery = mutable.LinkedHashMap(names.map(_ -> mutable.ArrayBuffer.empty[Double]): _*)
    val passes = mutable.ArrayBuffer.empty[Double]
    val t0 = System.nanoTime()
    while (passes.isEmpty || (System.nanoTime() - t0) / 1e9 < ctx.cfg.seconds) {
      var sum = 0.0
      for (n <- names)
        ctx.timedOp("query") {
          ctx.tracer.span(s"query/$n") {
            queries(n)(spark, dir).write.format("noop").mode("overwrite").save()
          }
        }.foreach { t => perQuery(n) += t.ms; sum += t.ms }
      passes += sum / 1000.0
      System.err.println(f"[perfbench] suite pass ${passes.size}: ${sum / 1000}%.2f s")
    }

    val medians = perQuery.values.filter(_.nonEmpty).map(b => Stats.median(b.toSeq)).toSeq
    ctx.e2e("op_ms", Stats.geomean(medians))
    ctx.e2e("round_s", Stats.median(passes.toSeq))
    ctx.info("suite_s", Stats.median(passes.toSeq), "s")
    ctx.info("query_ms_p50", Stats.median(medians), "ms")
    ctx.info("passes", passes.size.toDouble, "count")

    val pq = ctx.details.putObject("query_ms_p50")
    perQuery.foreach { case (n, b) => if (b.nonEmpty) pq.put(n, Stats.median(b.toSeq)) }
    val ck = ctx.checks.putObject("suite")
    ck.put("result_dir", resultDir)
    ck.put("data_dir", dir)
    val oracle = ck.putObject("oracle_sql")
    for (n <- names)
      oracle.put(n, SparkEntry.oracleSql.getOrElse(n,
        throw new IllegalStateException(s"$n has no oracle SQL to check it against")))

    if (ctx.cfg.trace) {
      val nPass = passes.size.toDouble
      def perPass(f: Counters => Double): Double =
        names.flatMap(n => ctx.tracer.spansNamed(s"query/$n")).map(s => f(s.d)).sum / nPass
      ctx.layer("query.plan_ms", perPass(_.planMs.toDouble))
      ctx.layer("query.codegen_compiles", perPass(_.codegenCompiles.toDouble))
      ctx.layer("query.codegen_ms", perPass(_.codegenMs))
      ctx.layer("query.jobs", perPass(_.jobs.toDouble))
      ctx.layer("query.stages", perPass(_.stages.toDouble))
      ctx.layer("query.tasks", perPass(_.tasks.toDouble))
      ctx.layer("query.task_ms", perPass(_.taskMs.toDouble))
      ctx.layer("query.nonjob_ms", perPass(_.nonJobMs))
      for (fam <- Seq("ops", "operators"))
        ctx.layer(s"$fam.suite_s", names.filter(family(_) == fam)
          .map(n => perQuery(n).sum).sum / nPass / 1000.0)
    }
  }
}
