package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One benchmark run: a single caller issues a workload's queries back to
  * back (a closed loop with one client) through `graft.SparkEntry.queries`,
  * each result going to a `noop` write as in `graft.Bench`.
  *
  *  1. set-up: `GraftSession.local(cores)`, then one untimed pass that
  *     warms the JVM, publishes the workload's artifacts and takes every
  *     query's result fingerprint (the result check), and a second untimed
  *     pass that only warms;
  *  2. timed window: passes in a per-pass order fixed by the seed, until
  *     `--seconds` have passed and at least `MinPasses` are done. `pass_s`
  *     sums each query's median time over the window, so one disturbed
  *     execution moves it less than a whole-pass median would;
  *  3. the run's record as one JSON object, written to `--out`.
  *
  * With `--trace 1` some timed passes are traced (see [[isTraced]]): they
  * record spans and listener counters, and the ratio of the traced to the
  * untraced pass median is the tracing overhead.
  *
  * `--prepare <dir> --sf <x>` writes the input tables instead (see [[prepare]]).
  */
object PerfBench {
  val MinPasses = 5

  /** Traced runs repeat untraced, traced, traced, untraced: a warming trend
    * over the window then largely cancels out of the tracing overhead.
    */
  def isTraced(trace: Boolean, pass: Int): Boolean = trace && (pass % 4 == 2 || pass % 4 == 3)

  final case class Exec(pass: Int, query: String, seconds: Double, ok: Boolean)

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def opt(k: String): String = opts.getOrElse(k, sys.error(s"missing --$k"))
    if (opts.contains("prepare")) prepare(opts("prepare"), opt("sf").toDouble, new java.io.File(opt("work")))
    else {
      val out = run(opt("workload"), opt("seed").toLong, opt("seconds").toDouble,
        opt("trace") == "1", opt("data"), new java.io.File(opt("work")))
      java.nio.file.Files.writeString(java.nio.file.Paths.get(opt("out")), out + "\n")
    }
  }

  /** Half the host's cores: on a shared host, a co-tenant's busy thread
    * then takes an idle core instead of stretching one task of every
    * stage (a stage waits for its slowest task).
    */
  def cores: Int = math.max(1, Runtime.getRuntime.availableProcessors / 2)

  /** Writes the input tables unless `<dir>/_READY` exists, then runs every
    * timed query once so that a JVM started with `-XX:ArchiveClassesAtExit`
    * archives the classes a run loads (class data sharing shortens every
    * later JVM's start).
    */
  def prepare(dir: String, sf: Double, work: java.io.File): Unit = {
    val spark = graft.GraftSession.local(cores)
    try {
      val ready = new java.io.File(dir, "_READY")
      if (!ready.exists()) {
        GenData.write(spark, dir, sf)
        ready.createNewFile(): Unit
      }
      val root = new java.io.File(work, "artifacts")
      spark.conf.set("spark.graft.artifacts", root.getAbsolutePath)
      Workloads.Timed.values.flatten.toSeq.distinct.sorted.foreach { n =>
        val df = graft.SparkEntry.queries(n)(spark, dir)
        df.write.format("noop").mode("overwrite").save()
        Fingerprint.of(df)
        spark.catalog.clearCache()
      }
      Files.wipe(root)
    } finally spark.stop()
  }

  private def mb(bytes: Long): Double = bytes / 1048576.0

  /** RDD storage (memory + disk) held by persisted RDDs, in bytes. */
  private def storageBytes(spark: SparkSession): Long =
    spark.sparkContext.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum

  def run(workload: String, seed: Long, seconds: Double, trace: Boolean, dataDir: String,
          work: java.io.File): String = {
    val names = Workloads.Timed.getOrElse(workload, sys.error(s"unknown workload $workload"))
    val loadPre = graft.HostLoad.loadavg1()
    val t0 = System.nanoTime()
    val spark = graft.GraftSession.local(cores)
    val createS = (System.nanoTime() - t0) / 1e9
    try {
      val root = new java.io.File(work, "artifacts")
      Files.wipe(root)
      spark.conf.set("spark.graft.artifacts", root.getAbsolutePath)
      val queries = graft.SparkEntry.queries

      // Set-up pass: warmup (each plan's noop write), warmup publishes and
      // the result check.
      val setupQueries = ArrayBuffer.empty[(String, Double)]
      val fingerprints = Stats.passOrder(names, seed, 0).map { n =>
        val q0 = System.nanoTime()
        val fp = try {
          val df = queries(n)(spark, dataDir)
          df.write.format("noop").mode("overwrite").save()
          Right(Fingerprint.of(df))
        } catch { case e: Throwable => Left(e.toString.take(300)) }
        finally spark.catalog.clearCache()
        setupQueries += ((n, (System.nanoTime() - q0) / 1e9))
        n -> fp
      }
      // A second untimed pass: the first leaves the JIT far from steady.
      Stats.passOrder(names, seed, -1).foreach { n =>
        try queries(n)(spark, dataDir).write.format("noop").mode("overwrite").save()
        catch { case e: Throwable => System.err.println(s"[perfbench] FAILED $n: $e") }
        finally spark.catalog.clearCache()
      }
      val setupS = (System.nanoTime() - t0) / 1e9
      val afterSetup = Files.artifactDirs(root)

      val tracer = new Trace(spark)
      val execs = ArrayBuffer.empty[Exec]
      val passWall = ArrayBuffer.empty[(Int, Boolean, Double)] // (pass, traced, seconds)
      val profiles = ArrayBuffer.empty[Trace.Profile]
      val passArtifacts = ArrayBuffer.empty[(Int, Int, Long)] // (publishes, files, bytes)
      var storagePeak = 0L
      var staging = (0L, 0L, 0L) // (persisted RDDs, held bytes summed, residual bytes max)
      val nanoBase = System.nanoTime()
      val epochBase = System.currentTimeMillis() * 1000000L
      def epochNs(): Long = epochBase + (System.nanoTime() - nanoBase)

      val jBefore = graft.HostLoad.cpuJiffies()
      val windowT0 = System.nanoTime()
      var pass = 0
      while (pass < MinPasses || (System.nanoTime() - windowT0) / 1e9 < seconds) {
        pass += 1
        val traced = isTraced(trace, pass)
        val before = Files.artifactDirs(root)
        if (traced) tracer.start()
        val p0 = System.nanoTime()
        Stats.passOrder(names, seed, pass).foreach { n =>
          val a = epochNs()
          var b = a
          val ok =
            try {
              val df: DataFrame = queries(n)(spark, dataDir)
              b = epochNs()
              df.write.format("noop").mode("overwrite").save()
              true
            } catch { case e: Throwable =>
              System.err.println(s"[perfbench] FAILED $n: $e"); false
            }
          val c = epochNs()
          val held = storageBytes(spark)
          storagePeak = math.max(storagePeak, held)
          val persisted = spark.sparkContext.getPersistentRDDs.size
          spark.catalog.clearCache()
          if (traced) {
            val residual = storageBytes(spark)
            staging = (staging._1 + persisted, staging._2 + held, math.max(staging._3, residual))
            tracer.drain()
            profiles += Trace.profile(a, if (ok) b else c, c, tracer.take())
          }
          execs += Exec(pass, n, (c - a) / 1e9, ok)
        }
        passWall += ((pass, traced, (System.nanoTime() - p0) / 1e9))
        if (traced) tracer.stop()
        val after = Files.artifactDirs(root)
        val fresh = after -- before
        passArtifacts += ((fresh.size, Files.sizeOf(root)._2.toInt, fresh.toSeq.map(Files.sizeOf(_)._1).sum))
      }
      val windowS = (System.nanoTime() - windowT0) / 1e9
      val extFrac = graft.HostLoad.externalCpuFrac(jBefore, graft.HostLoad.cpuJiffies(), windowS)
      val loadPost = graft.HostLoad.loadavg1()
      val artifactBytes = Files.sizeOf(root)._1

      val untracedWall = passWall.filterNot(_._2).map(_._3).toSeq
      val untracedExecs = execs.filter(e => e.ok && !isTraced(trace, e.pass)).toSeq
      val times = untracedExecs.map(_.seconds)
      // A typical pass: each query at its median over the window's passes.
      val passS = untracedExecs.groupBy(_.query).values.map(es => Stats.median(es.map(_.seconds))).sum
      val e2e = Seq(
        ("setup_s", setupS, "s"),
        ("pass_s", passS, "s"),
        ("storage_peak_mb", mb(storagePeak), "MB"),
        ("artifact_mb", mb(artifactBytes), "MB"))

      val layer = ArrayBuffer.empty[(String, Double, String)]
      if (trace) {
        val tracedWall = passWall.filter(_._2).map(_._3).toSeq
        val k = profiles.size.toDouble / names.size // traced passes
        def per(x: Double) = x / k
        val tk = profiles.map(_.tasks)
        val runS = tk.map(_.runMs).sum / 1e3
        val wall = profiles.map(_.wallS).sum
        import graft.Tables._
        val loaders = Seq[(SparkSession, String) => DataFrame](region, nation, customer, supplier,
          part, orders, lineitem, events, documents, embeddings)
        val tablesCallMs = loaders.map { load =>
          Stats.median((1 to 3).map { _ =>
            val s = System.nanoTime(); load(spark, dataDir); (System.nanoTime() - s) / 1e6
          })
        }.sum
        layer ++= Seq(
          ("session.create_s", createS, "s"),
          ("tables.schema_jobs", per(profiles.map(_.tablesJobs).sum), "count"),
          ("tables.schema_s", per(profiles.map(_.tablesS).sum), "s"),
          ("tables.call_ms", tablesCallMs, "ms"),
          ("declare.s", per(profiles.map(_.declareS).sum), "s"),
          ("declare.self_s", per(profiles.map(_.selfS("declare")).sum), "s"),
          ("declare.jobs", per(profiles.map(_.declareJobs).sum), "count"),
          ("catalyst.analysis_s", per(profiles.map(_.phaseS.getOrElse("analysis", 0.0)).sum), "s"),
          ("catalyst.optimization_s", per(profiles.map(_.phaseS.getOrElse("optimization", 0.0)).sum), "s"),
          ("catalyst.planning_s", per(profiles.map(_.phaseS.getOrElse("planning", 0.0)).sum), "s"),
          ("catalyst.queries", per(profiles.map(_.catalystQueries).sum), "count"),
          ("sched.jobs", per(profiles.map(_.jobs).sum), "count"),
          ("sched.stages", per(profiles.map(_.stages).sum), "count"),
          ("sched.tasks", per(tk.map(_.tasks).sum), "count"),
          ("sched.job_s", per(profiles.map(_.jobS).sum), "s"),
          ("sched.task_overhead_s", per(tk.map(t => t.durationMs - t.runMs).sum / 1e3), "s"),
          ("exec.core_util", runS / (cores * wall), "ratio"),
          ("exec.run_s", per(runS), "s"),
          ("exec.cpu_s", per(tk.map(_.cpuNs).sum / 1e9), "s"),
          ("exec.gc_s", per(tk.map(_.gcMs).sum / 1e3), "s"),
          ("exec.input_mb", per(mb(tk.map(_.inputBytes).sum)), "MB"),
          ("exec.shuffle_read_mb", per(mb(tk.map(_.shuffleReadBytes).sum)), "MB"),
          ("exec.shuffle_write_mb", per(mb(tk.map(_.shuffleWriteBytes).sum)), "MB"),
          ("exec.spill_mb", per(mb(tk.map(_.spillBytes).sum)), "MB"),
          ("exec.peak_task_mem_mb", mb(if (tk.isEmpty) 0L else tk.map(_.peakTaskMem).max), "MB"),
          ("staging.persisted_rdds", per(staging._1.toDouble), "count"),
          ("staging.held_mb", per(mb(staging._2)), "MB"),
          ("staging.residual_mb", mb(staging._3), "MB"),
          ("artifacts.setup_publishes", afterSetup.size.toDouble, "count"),
          ("artifacts.publishes", Stats.median(passArtifacts.map(_._1.toDouble).toSeq), "count"),
          ("artifacts.published_mb", mb(Stats.median(passArtifacts.map(_._3.toDouble).toSeq).toLong), "MB"),
          ("artifacts.files", Stats.median(passArtifacts.map(_._2.toDouble).toSeq), "count"),
          ("trace.overhead", Stats.median(tracedWall) / Stats.median(untracedWall) - 1, "ratio"),
          ("trace.query_wall_s", per(wall), "s"),
          ("trace.self_gap_ms", profiles.map(p => math.abs(p.selfS.values.sum - p.wallS)).maxOption.getOrElse(0.0) * 1e3, "ms"))
        Trace.Kinds.foreach(kind => layer += ((s"self.${kind}_s", per(profiles.map(_.selfS(kind)).sum), "s")))
      }

      val publishesInTimed = passArtifacts.map(_._1).sum
      def num(x: Double): String = if (x.isNaN || x.isInfinite) "null" else x.toString
      def str(s: String): String = "\"" + s.flatMap {
        case '"' => "\\\""; case '\\' => "\\\\"; case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
      } + "\""
      def metrics(ms: Seq[(String, Double, String)]): String = ms.map { case (n, v, u) =>
        s"${str(n)}:{${str("value")}:${num(v)},${str("unit")}:${str(u)}}" }.mkString("{", ",", "}")
      val fpJson = fingerprints.map {
        case (n, Right(v)) => s"${str(n)}:{${str("rows")}:${v.rows},${str("hash")}:${str(v.hash)}}"
        case (n, Left(err)) => s"${str(n)}:{${str("error")}:${str(err)}}"
      }.mkString("{", ",", "}")
      val execJson = execs.map(e => s"[${e.pass},${str(e.query)},${num(e.seconds)},${e.ok}]").mkString("[", ",", "]")
      val passJson = passWall.map { case (p, t, s) => s"[$p,$t,${num(s)}]" }.mkString("[", ",", "]")
      s"""{"workload":${str(workload)},"seed":$seed,"trace":$trace,"queries":${names.map(str).mkString("[", ",", "]")},""" +
        s""""host":{"cores":$cores,"heap_mb":${Runtime.getRuntime.maxMemory / 1048576},"data":${str(dataDir)},""" +
        s""""loadavg_pre":${num(loadPre)},"loadavg_post":${num(loadPost)},"external_cpu_frac":${num(extFrac)}},""" +
        s""""artifacts_mode":"published",""" +
        s""""warmup_publishes":${afterSetup.size},"timed_publishes":$publishesInTimed,""" +
        s""""window_s":${num(windowS)},"samples":${times.size},""" +
        s""""query_p50_s":${Stats.supportedPercentile(times, 0.5).map(num).getOrElse("null")},""" +
        s""""query_p90_s":${Stats.supportedPercentile(times, 0.9).map(num).getOrElse("null")},""" +
        s""""passes":$passJson,"executions":$execJson,""" +
        s""""session_create_s":${num(createS)},"setup_queries":${setupQueries.map { case (n, t) => s"[${str(n)},${num(t)}]" }.mkString("[", ",", "]")},""" +
        s""""fingerprints":$fpJson,"end_to_end":${metrics(e2e)},"per_layer":${metrics(layer.toSeq)}}"""
    } finally spark.stop()
  }
}
