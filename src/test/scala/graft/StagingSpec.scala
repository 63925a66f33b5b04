package graft

import java.nio.file.Files

/** Pins the 100 TB deployment mode of graft.Staging: with
  * `spark.graft.scratch` set, every staged index is written to scratch
  * parquet and re-read instead of persisted to executor storage — and a
  * staged query's rows must be identical in both modes.
  */
class StagingSpec extends SparkSpec {

  test("scratch-parquet staging returns identical rows to persist mode and writes staged dirs") {
    val q = SparkEntry.queries("q_dedup_jaccard_prefix")
    val persistRows = q(spark, sfDir).collect().map(_.toSeq).toSeq
    spark.catalog.clearCache()
    val dir = Files.createTempDirectory("graft_scratch").toString
    spark.conf.set("spark.graft.scratch", dir)
    try {
      val scratchRows = q(spark, sfDir).collect().map(_.toSeq).toSeq
      assert(scratchRows == persistRows, "scratch mode must not change query results")
      val staged = new java.io.File(dir).listFiles().filter(_.getName.startsWith("stage_"))
      assert(staged.nonEmpty, "scratch mode must write staged parquet dirs")
      assert(staged.forall(d => new java.io.File(d, "_SUCCESS").exists()),
        "every staged dir must be a committed parquet write")
    } finally {
      spark.conf.unset("spark.graft.scratch")
    }
  }

  test("scratch read-back keeps the written schema and rows and runs no inference job") {
    val df = Tables.documents(spark, sfDir).select("doc_id", "source", "text")
    val dir = Files.createTempDirectory("graft_scratch_schema").toString
    // The write alone, to a path of its own, sets how many jobs staging
    // may run: one more would be the footer-inference job.
    val writeJobs = jobsDuring(df.write.parquet(s"$dir/plain"))
    spark.conf.set("spark.graft.scratch", dir)
    try {
      var staged: org.apache.spark.sql.DataFrame = null
      val stageJobs = jobsDuring { staged = Staging.staged(df, "schema_probe") }
      assert(stageJobs == writeJobs, s"staging ran $stageJobs jobs, the write alone $writeJobs")
      val path = new java.io.File(dir).listFiles().map(_.getPath)
        .filter(_.contains("stage_schema_probe_")).head
      assert(staged.schema == spark.read.parquet(path).schema,
        "read-back must carry the schema that inference would give")
      def rows(d: org.apache.spark.sql.DataFrame) = d.orderBy("doc_id").collect().map(_.toSeq).toSeq
      assert(rows(staged) == rows(df))
    } finally spark.conf.unset("spark.graft.scratch")
  }

  test("persist mode: AQE cache by default, columnar cache on explicit opt-in, conf restored") {
    import org.apache.spark.sql.execution.columnar.InMemoryRelation
    spark.catalog.clearCache()
    val key = "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning"
    assert(spark.conf.get(key) == "true",
      "the session default must keep AQE in cached plans (r16: static " +
        "estimates broadcast corpus-scale join sides under the staged " +
        "pair verifies)")
    def cachedPlanOf(df: org.apache.spark.sql.DataFrame, columnar: Boolean): String = {
      val staged = Staging.staged(df, "aqe_scope_probe", columnarCache = columnar)
      staged.count()
      // Fresh Dataset: `staged`'s own QueryExecution was memoized before
      // the cache registration, so cache substitution only shows in a
      // NEW plan that references the staged subtree.
      val plans = staged.select("*").queryExecution.optimizedPlan
        .collect { case r: InMemoryRelation => r.cachedPlan.toString }
      assert(plans.nonEmpty, "staged frame must be cached")
      plans.mkString("\n")
    }
    // AQE only wraps plans with at least one exchange — probe with an
    // aggregation so the AdaptiveSparkPlan node is observable.
    // Spark 4.1 keeps AQE in every cached plan; what the conf gates at
    // registration is ADAPTIVE_EXECUTION_APPLY_FINAL_STAGE_SHUFFLE_
    // OPTIMIZATIONS inside the cached compile (CacheManager.
    // getOrCloneSessionWithConfigsOff) — observable as the final
    // stage's AQEShuffleRead coalesce once materialized. Probe with an
    // aggregation so there is a final-stage shuffle to optimize.
    val scan = Tables.documents(spark, sfDir).groupBy("source").count()
    // Default registration (session conf true): final-stage shuffle
    // optimizations stay on in the cached plan.
    val default = cachedPlanOf(scan, columnar = false)
    assert(default.contains("AQEShuffleRead"),
      s"default staged frame must keep final-stage shuffle optimizations in its cache:\n$default")
    spark.catalog.clearCache()
    // Explicit columnarCache: registered (and compile-pinned) under
    // conf false — the regime the decade A/B measured 14x cheaper on
    // build-dominated scans (q_substr_dedup 76.3 -> 7.1 s at 500k, r17).
    val columnar = cachedPlanOf(scan, columnar = true)
    assert(!columnar.contains("AQEShuffleRead"),
      s"columnarCache staged frame must compile its cache without final-stage shuffle optimizations:\n$columnar")
    assert(spark.conf.get(key) == "true",
      "the scoped conf must be restored to the session default after the staged persist")
    spark.catalog.clearCache()
  }

  test("spread: no-op pass-through on shuffle-bearing inputs, zero jobs at declaration") {
    // r19 landmine (verdict item 4): spread probed
    // queryExecution.toRdd.getNumPartitions unconditionally — on an
    // exchange-bearing input under AQE that materializes every shuffle
    // stage as real jobs at DECLARATION time and discards the result.
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    val agg = Tables.documents(spark, sfDir).groupBy("source").count()
    spark.sparkContext.addSparkListener(listener)
    try {
      val out = Staging.spread(agg)
      // Same-object return proves the guard took the no-probe branch.
      assert(out eq agg, "shuffle-bearing input must pass through spread untouched")
      Thread.sleep(1000) // listener bus is async; drain before counting
      assert(jobs.get() == 0, s"spread ran ${jobs.get()} jobs at declaration")
    } finally spark.sparkContext.removeSparkListener(listener)
    // The leaf-scan call sites keep their conditional round-robin: the
    // sf0.001 documents scan plans 1 partition against 4 shuffle
    // partitions, so the probe fires and spreads.
    val scanPlan = Staging.spread(Tables.documents(spark, sfDir))
      .queryExecution.executedPlan.toString
    assert(scanPlan.contains("RoundRobinPartitioning"),
      s"leaf-scan spread must still round-robin a narrow scan:\n$scanPlan")
  }

  test("sortedSpread: projected output keeps global key order, one exchange, no persist") {
    import org.apache.spark.sql.functions._
    val docs = Tables.documents(spark, sfDir)
    val projected = Staging.sortedSpread(docs, "doc_id")
      .select(col("doc_id"), length(col("text")).as("n"))
    // Plan BEFORE execution (the AQE final rendering hides exchange
    // bodies behind query stages): exactly one exchange — the range
    // shuffle doubles as the parallelism spread — and nothing persisted.
    val plan = projected.queryExecution.executedPlan.toString
    assert("Exchange".r.findAllIn(plan).length == 1,
      s"sortedSpread must plan exactly one (range) exchange:\n$plan")
    assert(plan.contains("rangepartitioning"), s"expected a range exchange:\n$plan")
    assert(!plan.contains("InMemoryTableScan"), s"sortedSpread must not persist:\n$plan")
    // The projection must sit ABOVE the sort (that is the whole point:
    // the sampler double-runs only the subtree BELOW the exchange).
    val sortIdx = plan.indexOf("Sort ")
    val projIdx = plan.indexOf("Project ")
    assert(projIdx >= 0 && sortIdx > projIdx,
      s"projection must stay above the within-partition sort:\n$plan")
    val viaSort = docs.select(col("doc_id"), length(col("text")).as("n")).orderBy("doc_id")
    assert(projected.collect().toSeq == viaSort.collect().toSeq,
      "sortedSpread + projection must equal project + global orderBy, row for row")
  }

  test("scratch conf takes precedence per-session and unsetting restores persist mode") {
    import spark.implicits._
    val df = Seq(1, 2, 3).toDF("x")
    assert(Staging.scratchDir(df).isEmpty, "no scratch configured by default in tests")
    spark.conf.set("spark.graft.scratch", "/tmp/somewhere")
    try assert(Staging.scratchDir(df).contains("/tmp/somewhere"))
    finally spark.conf.unset("spark.graft.scratch")
    assert(Staging.scratchDir(df).isEmpty)
  }
}
