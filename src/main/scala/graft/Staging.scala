package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel
import java.util.concurrent.atomic.AtomicLong

/** Index staging for the dedup/ANN/TF-IDF operators: materialize a
  * sub-plan ONCE so the 2-4 downstream subtrees (prefix, signature,
  * verify, scoring) reuse it instead of each re-scanning and
  * re-tokenizing the corpus — at 100 TB those re-scans are the dominant
  * cost of a dedup run.
  *
  * Two modes:
  * - Default: executor-storage persist (MEMORY_AND_DISK — oversized
  *   partitions spill instead of OOMing). NOTE: persisted frames are
  *   strongly referenced by the session's CacheManager and are NOT
  *   auto-unpersisted when the plan goes unreferenced; the harness
  *   (Bench/Verify) calls `spark.catalog.clearCache()` after each
  *   query, and library callers must do the same (or unpersist) between
  *   invocations or cache entries accumulate.
  * - Scratch parquet (`spark.graft.scratch` conf or `SPARK_GRAFT_SCRATCH`
  *   env set to a directory): the frame is written to scratch parquet
  *   and re-read. This is the 100 TB deployment mode — the staged index
  *   can exceed aggregate executor storage, survives executor loss
  *   without recompute, and its scan parallelism is governed by file
  *   splits rather than the cached partitioning. Scratch files live for
  *   the duration of the run; the scratch dir is a transient workspace
  *   the deployment wipes between runs.
  */
object Staging {

  private val counter = new AtomicLong()

  /** The configured scratch dir, if any. The Spark conf takes precedence
    * (settable per-session, which is how the spec exercises this path);
    * the env var is the deployment switch.
    */
  def scratchDir(df: DataFrame): Option[String] =
    df.sparkSession.conf
      .getOption("spark.graft.scratch")
      .orElse(sys.env.get("SPARK_GRAFT_SCRATCH"))
      .filter(_.nonEmpty)

  /** Materialize `df` once under a stable name prefix; see object doc
    * for the mode split.
    *
    * `columnarCache`: persist-mode caches normally register under the
    * session's `canChangeCachedPlanOutputPartitioning=true` (see
    * `GraftSession`) — the cached plan keeps AQE, which join-bearing
    * staged subtrees REQUIRE (without it join strategies fall back to
    * static size estimates and broadcast corpus-scale sides: 27×
    * executor CPU on the collision self-join under the staged pair
    * verifies, r16) and which array-heavy reread frames measurably
    * prefer (row-format cache; the kNN-graph family reads unit-vector
    * frames 2.5× faster from it at the 500k-doc decade point). Pass
    * `columnarCache = true` for a frame whose BUILD dominates its
    * reads: in Spark 4.1 the conf's whole effect is gating
    * ADAPTIVE_EXECUTION_APPLY_FINAL_STAGE_SHUFFLE_OPTIMIZATIONS
    * inside the cached compile (CacheManager bytecode-verified; AQE
    * itself always stays in cached plans), and registering an
    * expensive-expression scan staging with it ON costs a pure CPU
    * multiplier (measured r17: q_substr_dedup's window-hash staging
    * built the identical 501 MB cache at 14× the CPU, 7× the query
    * wall; the containment/jaccard shingle scans measured the same
    * direction). The flag scopes
    * the conf to this registration only — CacheManager captures it
    * when the cache entry registers. Do NOT route the choice through
    * plan-shape detection: forcing `optimizedPlan` here freezes the
    * Dataset's memoized `withCachedData` before sibling caches
    * register (cache builds then recompute subtrees they should read
    * from siblings — q_knn_graph 78 → 230 s), and analyzed-plan
    * detection flips children of staged join-bearing parents whose
    * joins the cache substitution would hide (q_cluster_delta 5.2 →
    * 29.6 s at 50k docs). Both measured this round; explicit per-site
    * choice is the stable design.
    */
  def staged(df: DataFrame, name: String, columnarCache: Boolean = false): DataFrame =
    scratchDir(df) match {
      case Some(dir) =>
        val path = s"$dir/stage_${name}_${counter.incrementAndGet()}"
        df.write.mode("overwrite").parquet(path)
        // The schema is the one just written: reading it back with it
        // skips the footer-inference job (the path is new on every
        // call, so the `Tables.read` memo could never hit here).
        df.sparkSession.read.schema(df.schema).parquet(path)
      case None =>
        if (columnarCache) {
          // The conf flip below temporarily mutates SESSION-global
          // state: any plan compile or cache registration racing on the
          // same session inside this window would silently inherit
          // conf=false (a perf regime, not a results change). Query
          // declaration in this library is single-threaded per session
          // by construction — Verify/Bench/ScaleBench declare queries
          // sequentially; the only concurrent Spark work is task
          // execution, which never compiles new plans — so the scope is
          // safe without a lock; a future parallel-declaration harness
          // must serialize registrations itself.
          val spark = df.sparkSession
          val key = "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning"
          val prev = spark.conf.getOption(key)
          spark.conf.set(key, "false")
          try {
            val out = df.persist(StorageLevel.MEMORY_AND_DISK)
            // Pin the cached plan's compile INSIDE the scope: the
            // registration only captures the conf decision lazily, and
            // the compile otherwise happens at first materialization —
            // after this finally restored the session default. Planning
            // a throwaway consumer forces the InMemoryRelation's lazy
            // cachedPlan now, under conf=false. Safe for the frames
            // this flag is for (build-dominated scans whose parents are
            // raw tables or already-registered stagings — nothing
            // later-registered feeds them, so the early plan freeze the
            // scaladoc warns about cannot bite).
            try out.select("*").queryExecution.executedPlan
            catch {
              case e: Throwable =>
                // Don't leave a half-initialized cache entry registered
                // when the forced compile fails — the caller sees the
                // exception, never the frame, so the registration would
                // be an orphan holding storage until session teardown.
                out.unpersist(false)
                throw e
            }
            out
          } finally prev match {
            case Some(v) => spark.conf.set(key, v)
            case None => spark.conf.unset(key)
          }
        } else df.persist(StorageLevel.MEMORY_AND_DISK)
    }

  /** Release a `localCheckpoint`'d frame's persisted blocks.
    *
    * Local-checkpoint blocks are NOT CacheManager entries — the
    * session-level `clearCache()` the harness runs between queries never
    * frees them, so an iterative operator that checkpoints per round
    * leaks executor storage for the session's lifetime unless it
    * releases superseded rounds itself (r12 measured unrelated queries
    * ~1.3-1.4× slower after checkpoint-heavy ones in one session).
    *
    * `df.rdd.unpersist()` would NOT do it: `.rdd` derives a fresh
    * row-conversion RDD from the plan; the block-holding RDD is the one
    * captured inside the checkpoint's LogicalRDD leaf. After release
    * the frame is UNRECOVERABLE (checkpointing truncated its lineage) —
    * callers must have materialized every consumer first.
    *
    * Fault-tolerance note: when the "consumer" is a MEMORY_AND_DISK
    * staged copy (Clusters' cc_labels), releasing the checkpoint makes
    * that cache the ONLY copy — in cluster mode an executor loss after
    * release drops cached partitions whose lineage bottoms out in the
    * released checkpoint and fails the query instead of recomputing.
    * localCheckpoint already forfeits executor-loss tolerance, so this
    * widens an existing window rather than opening a new one — and in
    * deployment the scratch-parquet staging mode (SPARK_GRAFT_SCRATCH)
    * closes it: the staged copy is then lake-resident and
    * loss-tolerant by storage, not lineage.
    */
  def releaseCheckpoint(df: DataFrame): Unit =
    df.queryExecution.analyzed.foreach {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd.unpersist(false): Unit
      case _ => ()
    }

  /** Deterministic total order over a SMALL final result whose subtree
    * is EXPENSIVE: a global `orderBy` shuffles by RangePartitioning,
    * and computing the range boundaries SAMPLES the sort's child — a
    * full extra execution of everything below the sort down to the
    * nearest materialization point. For the near-dup pair queries that
    * point sits below the verify join, so the unstaged form runs the
    * most expensive joins in the repo TWICE (measured at the 500k-doc
    * decade point: the two verify stages of `q_dedup_jaccard_prefix`
    * each appeared at 2× the executor time of the identical stages
    * inside `q_dedup_clusters`, whose CC staging already breaks the
    * lineage). Staging the pre-sort frame bounds the sampling pass to a
    * cache/scratch read of the OUTPUT-sized rows.
    *
    * Only for outputs that are orders of magnitude smaller than the
    * subtree's intermediates (near-dup pairs, reports, top-k lists) —
    * a corpus-scale frame should not be persisted just to sort it.
    *
    * Exception, measured (r20): the EVENT-GRAIN WINDOW outputs
    * (Windows.scala — one narrow row per input event) keep the staged
    * form even though the frame is input-cardinality. At the 1M-event
    * decade point the persist beats the bare orderBy's sampling
    * double-run on every site it isn't a tie (q_window_running
    * 0.84 vs 1.11 s, q_lookback_multiwindow 1.48 vs 1.83,
    * q_stats_availability 1.38 vs 1.54, q_window_moving 0.99 vs 1.16;
    * ties: asof_lookback, recurrent_delta, sessionize, streaks) —
    * the double-run re-executes the window eval over the materialized
    * shuffle stage, which costs more than a narrow-row cache round
    * trip. The one site where the bare orderBy measured better
    * (zscore: computed sort key, lineitem-grain) uses it directly.
    */
  def sortedOutput(df: DataFrame, name: String, sortCols: String*): DataFrame =
    staged(df, name).orderBy(sortCols.map(org.apache.spark.sql.functions.col): _*)

  /** Spread a NARROW scan before CPU-dense per-row work (r19).
    *
    * Parquet split planning is byte-governed, and a split only yields
    * rows to the task owning its row group's midpoint — so a small
    * input (one row group per file) scans as ONE task no matter how
    * many cores the session has, and every expensive per-row
    * expression above it (shingling+hashing, the Gopher text rules,
    * image decode) runs single-threaded. At production volumes the
    * same scan has thousands of row groups and needs no help — and
    * would be actively HURT by an unconditional repartition (a full
    * corpus shuffle before the first real operator). So the exchange
    * is inserted only when the planned scan is narrower than a quarter
    * of the session's shuffle parallelism: wide inputs keep their
    * split-governed shape, narrow ones pay one input-sized exchange to
    * put the expression work on every core. Deterministic round-robin
    * (sort-before-repartition stays on), so retries and re-runs
    * reproduce the same placement; row-set semantics are unchanged.
    */
  def spread(df: DataFrame): DataFrame = {
    val parts = df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    if (plannedNarrow(df, parts)) df.repartition(parts) else df
  }

  /** Whether `df` is a leaf-scan plan whose PLANNED partition count is
    * under a quarter of `parts` — the shared spread/mapSorted probe.
    * The probe runs only for leaf-scan analyzed plans (r20, verdict
    * item 4): on any shuffle-bearing input, `toRdd` under AQE
    * materializes every shuffle stage as real jobs at DECLARATION time
    * and throws the result away; a cached input can force the cache
    * build the same way. The guard whitelists the analyzed shapes the
    * probe is safe for — scan, project, filter, alias — because the
    * EXCHANGE check can't be done here (EnsureRequirements inserts
    * distribution exchanges only inside adaptive execution, so
    * `sparkPlan` shows none for an aggregate/join input). Anything
    * else is already spread by its own shuffle — treated as wide.
    */
  private def plannedNarrow(df: DataFrame, parts: Int): Boolean = {
    val probeSafe = !df.queryExecution.analyzed.exists {
      case _: org.apache.spark.sql.catalyst.plans.logical.Project => false
      case _: org.apache.spark.sql.catalyst.plans.logical.Filter => false
      case _: org.apache.spark.sql.catalyst.plans.logical.SubqueryAlias => false
      case _: org.apache.spark.sql.execution.datasources.LogicalRelation => false
      case _ => true
    }
    probeSafe && df.queryExecution.toRdd.getNumPartitions * 4 <= parts
  }

  // Keyed-spread experiment (r20, MEASURED AND REJECTED): hash-
  // partitioning the spread on doc_id instead of round-robin looked
  // strictly cheaper on paper (round-robin prepends the SPARK-23207
  // local binary row sort for retry determinism; hash placement is
  // deterministic for free), but an A/B across the spread family found
  // no robust win anywhere and two robust regressions —
  // q_decontaminate_bloom 1.29 → 2.20 s and q_line_dedup 1.01 → 1.40 s
  // (isolated min-of-3, reproduced in the full bench) — with identical
  // pre-execution plan shapes. Round-robin stays.

  /** Scale-adaptive sorted map output (r20): the right global-sort
    * shape for a NARROW-output map query (scan → expensive scan-local
    * projection → orderBy on key columns present in the INPUT) depends
    * on the scan's planned parallelism, so pick it per-run from the
    * same probe `spread` uses:
    * - NARROW scan (toy/bench regime — the whole input is a handful of
    *   row groups): range-partition + locally sort the input BEFORE
    *   the projection (`sortedSpread`). One exchange buys both the
    *   parallelism and the output order, nothing persists, and the
    *   range sampler's double-execution re-runs only the raw scan.
    *   Measured r20 at sf0.1/32 cores: q_pii_redact 0.92 → 0.25 s vs
    *   the r18 bare-orderBy shape, 0.48 → 0.25 vs the r19
    *   spread+sortedOutput shape.
    * - WIDE scan (production): the input shuffle would move the whole
    *   corpus just to sort a narrow output — project first on the
    *   already-parallel scan and sort the output via `sortedOutput`
    *   (the persist is output-sized, within that helper's contract,
    *   and bounds the sampler's re-run to a cache read).
    * Both branches return identical rows in identical global order:
    * per-partition projections preserve row order and range placement,
    * so projecting above or below the sort commutes.
    */
  def mapSorted(input: DataFrame, name: String, keys: String*)(
      project: DataFrame => DataFrame): DataFrame = {
    val parts = input.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    if (plannedNarrow(input, parts)) project(sortedSpread(input, keys: _*))
    else sortedOutput(project(input), name, keys: _*)
  }

  /** Global sort of a corpus-scale MAP output, paid BEFORE the map
    * (r20): range-partition and locally sort the narrow input frame,
    * then let the caller apply its expensive scan-local projection on
    * top. Per-partition projections preserve row order and range
    * placement, so the projected output keeps the global order — the
    * same rows in the same order as `expensiveProject.orderBy(keys)`.
    *
    * Why this beats both r19 shapes for scan→project→sort queries:
    * - vs bare orderBy: the range sampler's double-execution re-runs
    *   only the NARROW scan below the exchange, never the expensive
    *   projection (which sits above it).
    * - vs spread + sortedOutput: ONE exchange total (the range shuffle
    *   doubles as the parallelism spread — every core gets a range
    *   slice before the per-row work), and nothing corpus-scale is
    *   persisted (sortedOutput's own contract says a corpus-scale
    *   frame should not be persisted just to sort it; the r19 sweep
    *   violated that on the full clean-text outputs).
    * At 100 TB the corpus crosses the network once either way (orderBy
    * shuffles the projected corpus; this shuffles the raw corpus) —
    * the persist and the second exchange are pure savings.
    */
  def sortedSpread(df: DataFrame, keys: String*): DataFrame = {
    // Explicit partition count (REPARTITION_BY_NUM): an AQE-coalescible
    // range shuffle would be merged down by its (narrow) read bytes and
    // starve the expensive projection ABOVE it of parallelism — the
    // exact failure spread() exists to fix. Scale-adaptive via the
    // session conf, like spread.
    val parts = df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    val cols = keys.map(org.apache.spark.sql.functions.col)
    df.repartitionByRange(parts, cols: _*).sortWithinPartitions(cols: _*)
  }
}
