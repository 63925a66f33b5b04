package graft.tools

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.util.QueryExecutionListener

/** The one harness for isolated per-query measurement — SURVEY §6
  * decade rows and conf A/Bs alike: untimed warmup pass that also lands
  * the artifact publishes, then per-query MINIMUM of the timed passes,
  * published-artifacts mode (graft.Bench's discipline), one JSON line
  * out. Isolation answers "plan or host?" for a line that looks
  * regressed in the one-session `Bench` (r11's bench recorded 45.5 s for
  * a query that measures 1.7–2.1 s isolated).
  *
  * Per query: every timed pass's seconds, declaration seconds and the
  * jobs declaration started, and for the fastest pass executor run/CPU/
  * GC, spill, shuffle read/write, tasks, the top stages named by repo
  * call site, and the executed plan's nodes with their rows, bytes,
  * spill and peak memory — so a wall surplus splits into CPU vs GC vs
  * spill vs scheduling, per stage and operator, from the artifact alone.
  *
  * Usage:
  *   SPARK_DRIVER_XMS=96g SPARK_DRIVER_MEM=96g \
  *     sbt "runMain graft.tools.ScaleBench <dir> [q1,q2,...] [k=v,...]"
  * where dir holds the tables the queries read (a testdata sf dir, or
  * GenScale output: documents.parquet + embeddings.parquet). Default
  * query set = the heavy dedup/ANN family measured across decades. The
  * k=v list overrides confs before the first plan compiles (e.g. force
  * the distributed CC path with spark.graft.cc.driverEdgeCap=0); the
  * JSON reports each one's effective value.
  *
  * SPARK_DRIVER_MEM is NOT optional at the decade sizes: build.sbt
  * forks run-mains at 8g by default, which at local[32] is ~0.25 GB
  * of heap per core — a quarter of a lean production executor's
  * memory-per-core, and far below the ~3 GB/core the §6 rows were
  * measured at (peak task memory up to ~930 MB × 32 concurrent
  * tasks). At 8g the 500k-doc point thrashes: 72 GB of disk spill and
  * 5.7× the provisioned wall (measured r16) — that run profiles the
  * starvation pathology, not the plan.
  *
  * SPARK_DRIVER_XMS (pin + pre-touch the heap, build.sbt) is equally
  * non-optional: with a growable 96g heap, G1 uncommits heap between
  * execution-memory waves and every re-grow pays kernel page zeroing
  * INSIDE the task allocation path (`HeapMemoryAllocator.allocate`
  * burning ~95% SYSTEM cpu — charged to task CPU time, invisible to
  * gc_s). Measured at the 500k point (r16): the identical
  * q_dedup_jaccard_prefix pass is 319.2 s growable vs 127.1 s pinned
  * (total executor CPU 9,549 → 3,267 s), and run-to-run variance of the
  * same stage was 2-3× CPU before pinning. Production executors run
  * -Xms=-Xmx as standard practice; the pin makes local[32] match that.
  */
object ScaleBench {

  val DefaultQueries: Seq[String] = Seq(
    "q_dedup_jaccard_prefix", "q_dedup_clusters", "q_substr_dedup",
    "q_cluster_delta", "q_knn_graph")

  /** Per-stage accumulation bucket (one per stage attempt; merged by
    * stage id at report time so retries don't double-name).
    */
  private final class StageAcc(val name: String, val ops: String) {
    var tasks, runMs, cpuNs, gcMs, memSpill, diskSpill, shRead, shWrite, peakMem = 0L
    def add(m: org.apache.spark.executor.TaskMetrics): Unit = {
      tasks += 1
      runMs += m.executorRunTime
      cpuNs += m.executorCpuTime
      gcMs += m.jvmGCTime
      memSpill += m.memoryBytesSpilled
      diskSpill += m.diskBytesSpilled
      shRead += m.shuffleReadMetrics.totalBytesRead
      shWrite += m.shuffleWriteMetrics.bytesWritten
      peakMem = math.max(peakMem, m.peakExecutionMemory)
    }
  }

  /** One pass of one query; `nodes` is the walk of the plan its write ran. */
  private final case class Pass(wallS: Double, declareS: Double, declareJobs: Int, maxShRead: Long,
      stages: Seq[StageAcc], nodes: String)

  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("target/testdata/sf1")
    val names = args.lift(1).filter(_.nonEmpty).map(_.split(",").toSeq).getOrElse(DefaultQueries)
    val confs = args.lift(2).toSeq.flatMap(_.split(",")).filter(_.contains("="))
      .map(_.split("=", 2)).map { case Array(k, v) => k -> v }
    // Also system properties, read as the session is built, so core confs
    // apply at SparkContext creation; `run` reports whether each took.
    confs.foreach { case (k, v) => System.setProperty(k, v) }
    val spark = graft.GraftSession.local()
    graft.Bench.useFreshArtifacts(spark, "target/scalebench_artifacts")
    println(run(spark, dir, names, confs))
    spark.stop()
  }

  /** Measure `names` over `dir` on `spark` and return the JSON line.
    * Timed passes per query: min-of-2 is the harness contract; the
    * 1.5M-doc points run 1 (SPARK_GRAFT_TIMED_PASSES, disclosed in the
    * JSON and SURVEY §6) — the measurement host's disk (~94 GB effective) cannot
    * hold two passes of ~30 GB map outputs plus the reclaim lag, and a
    * min over fewer passes only OVERSTATES the time, never flatters it.
    * The warmup pass is skippable (SPARK_GRAFT_WARMUP=0) for the same
    * reason and with the same direction of error (cold JIT/codegen
    * inflates the one timed pass): at the 1.5M point a single
    * execution's map outputs plus its SMJ spill already fill most of
    * the disk, so warmup + timed cannot coexist even with the reclaim.
    */
  def run(
      spark: SparkSession, dir: String, names: Seq[String], confs: Seq[(String, String)],
      timedPasses: Int = sys.env.get("SPARK_GRAFT_TIMED_PASSES").map(_.toInt).filter(_ >= 1).getOrElse(2),
      warmup: Boolean = !sys.env.get("SPARK_GRAFT_WARMUP").contains("0")): String = {
    val cj = confs.map { case (k, v) => applyConf(spark, k, v) }.mkString(", ")
    // Per-task shuffle-read ceiling: the evidence that a hot key (a
    // viral window/bucket in adversarial corpora) cannot concentrate a
    // corpus-scale occurrence list on one reducer — the caps bound the
    // per-task maximum, not just the total. Plus (r16) the per-stage
    // attribution buckets.
    val maxShuffleRead = new AtomicLong(0)
    val jobsStarted = new AtomicInteger(0)
    val stages = new ConcurrentHashMap[Int, StageAcc]()
    val stageNames, stageOps = new ConcurrentHashMap[Int, String]()
    @volatile var executed: Option[QueryExecution] = None
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = jobsStarted.incrementAndGet(): Unit
      override def onStageSubmitted(ss: SparkListenerStageSubmitted): Unit = {
        // AQE materializes staged frames from a CompletableFuture, so
        // stageInfo.name is an opaque JDK frame; the long-form call site
        // (details) still carries the repo frame that owns the stage.
        val graftFrame = ss.stageInfo.details.linesIterator
          .find(l => l.contains("graft.") && !l.contains("ScaleBench"))
          .map(_.trim.stripPrefix("at ").takeWhile(_ != ')') + ")")
        val name = graftFrame.map(g => s"${ss.stageInfo.name} [$g]").getOrElse(ss.stageInfo.name)
        stageNames.put(ss.stageInfo.stageId, name): Unit
        // Physical-operator scopes of the stage's RDD chain (r19): the
        // AQE-materialized stage name above is an opaque JDK future
        // frame, so when a peak-memory ceiling shows up the profile
        // couldn't say WHICH operator held it. The RDD lineage still
        // carries the exec-node scopes (Exchange / InMemoryTableScan /
        // WholeStageCodegen / Sort ...), which is exactly the
        // operator-level attribution the 7.1 GB index-build question
        // needed.
        val ops = ss.stageInfo.rddInfos
          .sortBy(_.id)
          .flatMap(_.scope.map(_.name))
          .distinct.mkString(" > ")
        stageOps.put(ss.stageInfo.stageId, ops): Unit
      }
      override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
        val m = te.taskMetrics
        if (m != null) {
          maxShuffleRead.accumulateAndGet(m.shuffleReadMetrics.totalBytesRead, Math.max(_, _))
          val acc = stages.computeIfAbsent(te.stageId, id => new StageAcc(
            Option(stageNames.get(id)).getOrElse(s"stage$id"), Option(stageOps.get(id)).getOrElse("")))
          acc.synchronized(acc.add(m))
        }
      }
    }
    // The noop write runs its own QueryExecution; df.queryExecution would
    // show nodes that never ran (zero metrics, unexecuted AQE initial
    // plan), so the QE the write executed is captured and walked.
    val qeListener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = executed = Some(qe)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = executed = Some(qe)
    }
    def drain(): Unit = org.apache.spark.GraftBus.drain(spark.sparkContext)

    // Declaration and write are timed apart, the bus drained between them
    // (untimed) so declaration's jobs and QE events land before the write.
    def pass(name: String): Pass = {
      drain()
      maxShuffleRead.set(0); jobsStarted.set(0); stages.clear()
      val t0 = System.nanoTime()
      val df = graft.SparkEntry.queries(name)(spark, dir)
      val declareS = (System.nanoTime() - t0) / 1e9
      drain()
      val declareJobs = jobsStarted.get
      executed = None
      val t1 = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      spark.catalog.clearCache()
      val wallS = declareS + (System.nanoTime() - t1) / 1e9
      drain()
      // Walked now, not kept: a held QueryExecution keeps its shuffle
      // dependencies reachable, and their files then outlive the reclaim.
      val p = Pass(wallS, declareS, declareJobs, maxShuffleRead.get,
        stages.values.asScala.toSeq, executed.fold("")(qe => nodes(qe.executedPlan)))
      executed = None
      // Shuffle-file hygiene BETWEEN passes (outside every timed window):
      // shuffle files are deleted by the ContextCleaner only when their
      // ShuffleDependency is garbage-collected, and at decade sizes under
      // a 96g driver heap ordinary GC may not run for the whole session —
      // the first 1.5M-doc attempt accumulated every pass's ~30 GB of
      // map outputs (warmup + 2×2 timed) and exhausted the disk
      // mid-spill. Two gc cycles (weak-reference processing often needs
      // the second), each followed by a wait for the async cleaner, bound
      // live shuffle bytes to ~one pass per query. The waits end once no
      // shuffle file is left on disk (0.2-0.35 s after the first gc at
      // sf0.1 and at 50k docs); only a pass whose files outlast them
      // waits the full 3 s + 7 s.
      def awaitCleanup(ms: Long): Unit = org.apache.spark.GraftBus.awaitShuffleCleanup(spark.sparkContext, ms)
      System.gc(); awaitCleanup(3000); System.gc(); awaitCleanup(7000)
      p
    }

    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
    val timings = try {
      // Untimed warmup: JIT/codegen + artifact publishes land here.
      if (warmup) names.foreach(pass)
      // Attribution comes from the FASTEST timed pass (same work every
      // pass — plans are deterministic — so the quieter one attributes).
      names.map(name => name -> Seq.fill(timedPasses)(pass(name)))
    } finally {
      spark.listenerManager.unregister(qeListener)
      spark.sparkContext.removeSparkListener(listener)
    }

    def mb(b: Long): String = f"${b / 1048576.0}%.1f"
    def s3(t: Double): String = f"$t%.3f"
    val best = timings.map { case (n, ps) => n -> ps.minBy(_.wallS) }
    val qj = best.map { case (n, b) => s""""$n": ${s3(b.wallS)}""" }.mkString(", ")
    val passj = timings.map { case (n, ps) => s""""$n": [${ps.map(p => s3(p.wallS)).mkString(", ")}]""" }.mkString(", ")
    val sj = best.map { case (n, b) =>
      val peak = b.stages.map(_.peakMem).maxOption.getOrElse(0L)
      s""""$n": {"max_task_shuffle_read_mb": ${mb(b.maxShRead)}, "max_task_peak_mem_mb": ${mb(peak)}}"""
    }.mkString(", ")
    val pj = best.map { case (n, b) =>
      def tot(f: StageAcc => Long): Long = b.stages.map(f).sum
      val top = b.stages.sortBy(-_.runMs).take(6).map { a =>
        s"""{"stage": ${jstr(a.name)}, "ops": ${jstr(a.ops)}, "tasks": ${a.tasks}, "run_s": ${f"${a.runMs / 1e3}%.1f"}, """ +
          s""""cpu_s": ${f"${a.cpuNs / 1e9}%.1f"}, "gc_s": ${f"${a.gcMs / 1e3}%.1f"}, """ +
          s""""spill_disk_mb": ${mb(a.diskSpill)}, "sh_read_mb": ${mb(a.shRead)}, """ +
          s""""sh_write_mb": ${mb(a.shWrite)}, "peak_mem_mb": ${mb(a.peakMem)}}"""
      }.mkString(", ")
      s""""$n": {"declare_s": ${s3(b.declareS)}, "declare_jobs": ${b.declareJobs}, """ +
        s""""tasks": ${tot(_.tasks)}, "run_s": ${f"${tot(_.runMs) / 1e3}%.1f"}, """ +
        s""""cpu_s": ${f"${tot(_.cpuNs) / 1e9}%.1f"}, "gc_s": ${f"${tot(_.gcMs) / 1e3}%.1f"}, """ +
        s""""spill_mem_mb": ${mb(tot(_.memSpill))}, "spill_disk_mb": ${mb(tot(_.diskSpill))}, """ +
        s""""sh_read_mb": ${mb(tot(_.shRead))}, "sh_write_mb": ${mb(tot(_.shWrite))}, """ +
        s""""top_stages": [$top], "nodes": [${b.nodes}]}"""
    }.mkString(", ")
    s"""{"dir": "$dir", "timed_passes": $timedPasses, "warmup": $warmup, "confs": [$cj], "queries": {$qj}, """ +
      s""""passes": {$passj}, "task_ceilings": {$sj}, "profile": {$pj}}"""
  }

  /** Set one override, print and return its effective value; one that did
    * not take is a WARNING with Spark's error — a silently failed override
    * makes an A/B read as "no effect".
    */
  private def applyConf(spark: SparkSession, k: String, v: String): String = {
    val err = try { spark.conf.set(k, v); None } catch { case e: Exception => Some(e.getMessage) }
    val eff = spark.conf.getOption(k)
    val took = eff.contains(v)
    if (took) println(s"CONF $k=$v")
    else println(s"CONF WARNING $k requested=$v effective=${eff.getOrElse("<unset>")}" +
      err.fold("")(m => s" error: $m"))
    s"""{"key": ${jstr(k)}, "requested": ${jstr(v)}, "effective": ${eff.fold("null")(jstr)}, """ +
      s""""took": $took${err.fold("")(m => s""", "error": ${jstr(m)}""")}}"""
  }

  /** One JSON object per executed-plan node with a nonzero row, byte,
    * spill or peak-memory metric, walking into AQE's final plan, query
    * stages and cached relations' build plans (the staged indexes).
    */
  private def nodes(root: SparkPlan): String = {
    val seen = java.util.Collections.newSetFromMap(new java.util.IdentityHashMap[SparkPlan, java.lang.Boolean]())
    val out = Seq.newBuilder[String]
    def walk(p: SparkPlan, depth: Int): Unit = if (seen.add(p)) {
      val ms = Seq("rows" -> "numOutputRows", "bytes" -> "dataSize", "spill" -> "spillSize",
        "peak_mem" -> "peakMemory").flatMap { case (f, k) =>
        p.metrics.get(k).map(_.value).filter(_ > 0).map(v => s""", "$f": $v""") }
      if (ms.nonEmpty)
        out += s"""{"depth": $depth, "node": ${jstr(p.nodeName)}, "desc": ${jstr(p.simpleString(25).take(200))}${ms.mkString}}"""
      p match {
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan, depth + 1)
        case q: QueryStageExec => walk(q.plan, depth + 1)
        case im: InMemoryTableScanExec => walk(im.relation.cachedPlan, depth + 1)
        case _ => p.children.foreach(walk(_, depth + 1))
      }
    }
    walk(root, 0)
    out.result().mkString(", ")
  }

  /** Minimal JSON string escape for stage names (they carry call sites). */
  private def jstr(s: String): String =
    "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"").replaceAll("\\p{Cntrl}", " ") + "\""
}
