package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Closed-loop workload runner: one driver thread runs a workload's jobs
  * in a fixed order against `graft.SparkEntry.queries`, pass after pass.
  *
  * Each job is timed to its full result: build the frame (the library
  * call), plan it (`executedPlan`), then write it to Spark's `noop`
  * sink. Output dumps, digests, `count()`, GC, checkpoint release and
  * the leak and disk accounting all run off the clock.
  *
  * Arguments are `--name value` pairs. A run sets up (JVM start to a
  * warmed session), makes one cold pass, then `--passes` warm passes;
  * it writes `result.json`, the last pass's outputs under `outputs/`,
  * the oracle SQL of the jobs, and with `--trace 1` the spans.
  */
object Harness {
  private val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala.toList
  private def gcMs(): Long = gcBeans.map(b => math.max(0L, b.getCollectionTime)).sum
  private val threads =
    ManagementFactory.getThreadMXBean.asInstanceOf[com.sun.management.ThreadMXBean]
  /** CPU time of every live Java thread: the driver thread and Spark's
    * task and service threads. The JIT compiler and GC threads are not
    * Java threads, so their bursts stay out of the figure (GC time is
    * reported on its own). */
  private def cpuNs(): Long =
    threads.getThreadCpuTime(threads.getAllThreadIds).filter(_ > 0).sum
  private def epochNs(): Long = {
    val i = java.time.Instant.now()
    i.getEpochSecond * 1000000000L + i.getNano
  }

  /** The session posture of `graft.Bench`, with every scratch location
    * pointed into the run's own directory. */
  def session(cores: Int, scratch: File): SparkSession = {
    def dir(n: String) = { val f = new File(scratch, n); f.mkdirs(); f.getAbsolutePath }
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.cleaner.periodicGC.interval", "30s")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", dir("local"))
      .config("spark.sql.warehouse.dir", dir("warehouse"))
      .config("spark.graft.checkpoint.dir", dir("ckpt"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.sparkContext.setCheckpointDir(dir("ckpt"))
    spark
  }

  /** The warm-up of `graft.Bench`: one aggregate and one parquet join. */
  def warmUp(spark: SparkSession, data: String): Unit = {
    import org.apache.spark.sql.functions.{col, count, lit}
    spark.range(1000).selectExpr("sum(id)").collect()
    val reg = spark.read.parquet(s"$data/region.parquet")
    val c0 = reg.columns.head
    reg.as("a").join(reg.as("b"), col(s"a.$c0") === col(s"b.$c0"))
      .agg(count(lit(1))).collect()
  }

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val out = new File(opt("out"))
    out.mkdirs()
    val spark = session(opt("cores").toInt, new File(opt("scratch")))
    warmUp(spark, opt("data"))
    val setupS = (epochNs() - opt("spawn-ns").toLong) / 1e9
    val jobs = opt("jobs").split(",").toSeq.filter(_.nonEmpty)
    val run = new Runner(spark, opt("data"), new File(opt("scratch")), out,
      opt("trace") == "1", opt("cores").toInt)
    val result = run.all(jobs, opt("passes").toInt)
    write(new File(out, "result.json"), result + ("setup_s" -> setupS))
    val oracle = graft.SparkEntry.oracleSql
    write(new File(out, "oracle.json"), Map(
      "sql" -> jobs.flatMap(j => oracle.get(j).map(j -> _)).toMap,
      "no_oracle" -> jobs.filter(graft.SparkEntry.noOracleKeys).toList))
    spark.stop()
  }

  def write(f: File, v: Any): Unit = Files.write(f.toPath, Json.render(v).getBytes(UTF_8))

  /** One job's figures for one pass: seconds, counts and megabytes, by
    * name. `error` is set when the job threw. */
  final case class JobRun(job: String, m: mutable.LinkedHashMap[String, Double],
      error: Option[String], digest: Option[String])

  final class Runner(spark: SparkSession, data: String, scratch: File, out: File,
      traced: Boolean, cores: Int) {
    private val sc = spark.sparkContext
    private val tasks = new TaskMeter
    private val plans = new PlanMeter
    if (traced) {
      sc.addSparkListener(tasks)
      spark.listenerManager.register(plans)
    }
    private val t0Ns = System.nanoTime()
    private val t0EpochMs = System.currentTimeMillis()
    private val spans = mutable.ArrayBuffer.empty[Map[String, Any]]
    private var nextSpan = 0
    private def span(name: String, parent: Int, start: Long, end: Long,
        attrs: (String, Any)*): Int = {
      nextSpan += 1
      if (traced) spans += (Map("id" -> nextSpan, "parent" -> parent, "name" -> name,
        "start_ms" -> (start - t0Ns) / 1e6, "end_ms" -> (end - t0Ns) / 1e6) ++ attrs)
      nextSpan
    }

    private val queries: Map[String, (SparkSession, String) => DataFrame] =
      graft.SparkEntry.queries ++ Map[String, (SparkSession, String) => DataFrame](
        "inject.fail" -> ((_, _) => throw new IllegalStateException("injected failure")))

    /** Scratch roots the library writes to: the JVM temp dir (where
      * `graft.sources.Writers` puts its tables), the warehouse and the
      * checkpoint dir. */
    private val roots = Seq(new File(sys.props("java.io.tmpdir")),
      new File(scratch, "warehouse"), new File(scratch, "ckpt"))
    private def entries(): Set[File] =
      roots.flatMap(r => Option(r.listFiles()).toSeq.flatten).toSet
    private def bytes(f: File): Long =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(bytes).sum else f.length()
    private def remove(f: File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(remove)
      f.delete()
    }
    /** Only the library's own scratch output is removed between jobs;
      * Spark's own temp dirs stay. */
    private def removable(f: File): Boolean =
      f.getName.startsWith("graft") || f.getParentFile != roots.head

    /** Heap in use right after a full collection, read from each heap
      * pool's after-collection usage so later allocation cannot leak
      * into the figure. */
    private def heapMb(): Double = {
      System.gc()
      ManagementFactory.getMemoryPoolMXBeans.asScala
        .filter(p => p.getType == java.lang.management.MemoryType.HEAP)
        .flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum / 1048576.0
    }

    private def digest(df: DataFrame): String = {
      val md = java.security.MessageDigest.getInstance("SHA-256")
      df.collect().foreach(r => md.update((r.toString + "\n").getBytes(UTF_8)))
      md.digest().map("%02x".format(_)).mkString
    }

    private val noOracle = graft.SparkEntry.noOracleKeys

    /** Runs one job once. `dump` writes its output for the oracle check,
      * `digests` records a digest of a no-oracle job's rows, and `probe`
      * turns the listeners and the `count()` comparison on; all three
      * work off the clock. */
    def job(name: String, passSpan: Int, dump: Boolean, digests: Boolean, probe: Boolean): JobRun = {
      val m = mutable.LinkedHashMap.empty[String, Double]
      val persisted0 = sc.getPersistentRDDs.keySet.toSet
      val entries0 = entries()
      var df: DataFrame = null
      var err: Option[String] = None
      var dig: Option[String] = None
      val fn = queries.getOrElse(name, (_: SparkSession, _: String) =>
        throw new NoSuchElementException(s"no such job: $name"))
      plans.on = probe; tasks.on = probe
      val g0 = gcMs(); val c0 = cpuNs()
      val tb = System.nanoTime()
      var tp, te, tx = tb
      try {
        sc.setJobGroup(Group(name, "build"), name, false)
        df = fn(spark, data)
        tp = System.nanoTime()
        sc.setJobGroup(Group(name, "plan"), name, false)
        df.queryExecution.executedPlan
        te = System.nanoTime()
        sc.setJobGroup(Group(name, "exec"), name, false)
        df.write.format("noop").mode("overwrite").save()
        tx = System.nanoTime()
      } catch { case e: Throwable =>
        tx = System.nanoTime()
        err = Some(s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}")
      }
      val c1 = cpuNs(); val g1 = gcMs()
      // everything below is off the clock
      sc.clearJobGroup()
      m("build_s") = (tp - tb) / 1e9
      m("plan_s") = (te - tp) / 1e9
      m("exec_s") = (tx - te) / 1e9
      m("job_s") = (tx - tb) / 1e9
      m("cpu_s") = (c1 - c0) / 1e9
      m("gc_s") = (g1 - g0) / 1e3
      val jobSpan = span("job", passSpan, tb, tx, "job" -> name, "ok" -> err.isEmpty)
      val phaseSpan = Map("build" -> span("build", jobSpan, tb, tp),
        "plan" -> span("plan", jobSpan, tp, te), "exec" -> span("exec", jobSpan, te, tx))
      if (probe) {
        PerfbenchBus.drain(sc)
        plans.on = false
        val q = plans.take(Option(df).map(_.queryExecution))
        val b = tasks.take(Group(name, "build"))
        val x = tasks.take(Group(name, "exec"))
        tasks.take(Group(name, "plan")) // planning runs no jobs; drop any
        m("api.build_jobs") = b.jobs.toDouble
        m("plan.analysis_s") = q.analysisMs / 1e3
        m("plan.optimization_s") = q.optimizationMs / 1e3
        m("plan.planning_s") = q.planningMs / 1e3
        m("plan.topk_nodes") = q.topk.toDouble
        m("plan.exchanges") = q.exchanges.toDouble
        m("plan.broadcasts") = q.broadcasts.toDouble
        m("exec.jobs") = x.jobs.toDouble
        m("exec.stages") = x.stages.toDouble
        m("exec.tasks") = x.tasks.toDouble
        m("exec.task_run_s") = x.runMs / 1e3
        m("exec.task_cpu_s") = x.cpuNs / 1e9
        m("exec.shuffle_write_mb") = (x.shuffleWrite + b.shuffleWrite) / 1048576.0
        m("exec.shuffle_read_mb") = (x.shuffleRead + b.shuffleRead) / 1048576.0
        m("exec.spill_mb") = (x.spill + b.spill) / 1048576.0
        m("exec.peak_mem_mb") = math.max(x.peakMem, b.peakMem) / 1048576.0
        m("exec.broadcast_build_s") = q.broadcastBuildMs / 1e3
        m("tables.input_mb") = (x.inputBytes + b.inputBytes) / 1048576.0
        m("tables.input_rows") = (x.inputRows + b.inputRows).toDouble
        m("tables.scan_s") = q.scanMs / 1e3
        m("tables.files_read") = q.filesRead.toDouble
        tasks.takeSpans().foreach { s =>
          val phase = s.group.split('|').last
          span("spark_job", phaseSpan.getOrElse(phase, jobSpan),
            t0Ns + (s.startMs - t0EpochMs) * 1000000L,
            t0Ns + (s.endMs - t0EpochMs) * 1000000L, "spark_job_id" -> s.jobId)
        }
      }
      var pinned = Set.empty[Int]
      if (df != null && err.isEmpty) {
        pinned = sc.getPersistentRDDs.keySet.toSet -- persisted0
        m("checkpoints.pins") = pinned.size.toDouble
        m("checkpoints.pinned_mb") = sc.getRDDStorageInfo
          .filter(i => pinned(i.id)).map(i => i.memSize + i.diskSize).sum / 1048576.0
        try {
          if (probe) {
            val tc = System.nanoTime()
            sc.setJobGroup(Group(name, "count"), name, false)
            df.count()
            m("exec.count_s") = (System.nanoTime() - tc) / 1e9
            span("count", jobSpan, tc, System.nanoTime())
          }
          sc.setJobGroup(Group(name, "check"), name, false)
          if (dump) df.write.mode("overwrite")
            .parquet(new File(out, s"outputs/$name").getAbsolutePath)
          if (digests && noOracle(name)) dig = Some(digest(df))
        } catch { case e: Throwable =>
          err = Some(s"check: ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}")
        }
        sc.clearJobGroup()
      }
      // with the job's pins still held; a job without pins leaves the
      // heap as the pass-end sample sees it
      if (pinned.nonEmpty && (dump || digests)) m("heap_mb") = heapMb()
      val tf = System.nanoTime()
      if (df != null)
        try graft.api.Checkpoints.free(df) catch { case _: Throwable => () }
      m("checkpoints.free_s") = (System.nanoTime() - tf) / 1e9
      span("free", jobSpan, tf, System.nanoTime())
      // what the job left behind after release: persisted RDDs, and the
      // files the write path put in the scratch roots
      val leaked = sc.getPersistentRDDs.filter { case (id, _) => !persisted0(id) }
      m("checkpoints.leaked_rdds") = leaked.size.toDouble
      leaked.values.foreach(_.unpersist(blocking = true))
      val written = entries() -- entries0
      m("tables.output_mb") = written.toSeq.map(bytes).sum / 1048576.0
      written.filter(removable).foreach(remove)
      if (probe) { PerfbenchBus.drain(sc); plans.clear(); tasks.takeSpans() }
      JobRun(name, m, err, dig)
    }

    private def pass(jobs: Seq[String], idx: Int, parent: Int, dump: Boolean,
        digests: Boolean, probe: Boolean): Map[String, Any] = {
      val ts = System.nanoTime()
      val id = { nextSpan += 1; nextSpan }
      val runs = jobs.map(j => job(j, id, dump, digests, probe))
      val heap = heapMb()
      if (traced) spans += Map("id" -> id, "parent" -> parent, "name" -> "pass",
        "pass" -> idx, "start_ms" -> (ts - t0Ns) / 1e6, "end_ms" -> (System.nanoTime() - t0Ns) / 1e6)
      Map("pass" -> idx, "traced" -> probe, "wall_s" -> (System.nanoTime() - ts) / 1e9,
        "heap_mb" -> heap,
        "jobs" -> runs.map(r => Map("job" -> r.job, "m" -> r.m.toMap) ++
          r.error.map("error" -> _) ++ r.digest.map("digest" -> _)))
    }

    /** One cold pass, then `passes` warm passes. In a traced run the
      * odd warm passes are traced and the even ones are not, so the
      * tracing overhead is measured in the same JVM. The cold and the
      * last pass digest the outputs of no-oracle jobs; the last pass
      * also writes every output for the oracle check. */
    def all(jobs: Seq[String], passes: Int): Map[String, Any] = {
      val ws = System.nanoTime()
      val root = { nextSpan += 1; nextSpan }
      val cold = pass(jobs, 0, root, dump = false, digests = true, probe = traced)
      val warm = (1 to passes).map { i =>
        val last = i == passes
        pass(jobs, i, root, dump = last, digests = last, probe = traced && i % 2 == 1)
      }
      if (traced) spans += Map("id" -> root, "parent" -> 0, "name" -> "workload",
        "start_ms" -> (ws - t0Ns) / 1e6, "end_ms" -> (System.nanoTime() - t0Ns) / 1e6)
      if (traced) write(new File(out, "spans.json"), spans.toList)
      Map("cores" -> cores, "cold" -> cold, "warm" -> warm.toList)
    }
  }
}
