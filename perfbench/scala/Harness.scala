package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.util.concurrent.Executors

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.metrics.source.{CodegenMetrics, HiveCatalogMetrics}
import org.apache.spark.sql.{PerfbenchAccess, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

import graft.{GraftSession, SparkEntry}

/** One measured query: wall times of its three calls (nanoseconds), whether
  * it threw, and the substrate sink dirs its construction created. */
final case class QueryRun(client: Int, pass: Int, name: String, qid: String,
                          startNs: Long, buildNs: Long, planNs: Long, execNs: Long,
                          error: Option[String], sinkDirs: Seq[String],
                          compiles: Long, compileNs: Long, filesDiscovered: Long,
                          gcMs: Long, cpuNs: Long) {
  def totalNs: Long = buildNs + planNs + execNs
}

/** The benchmark's JVM side. It reads a plan file of `key=value` lines
  * written by run.py, runs one workload against the engine through its
  * public entry points, and writes raw timings (and, traced, spans and
  * per-query counters) as JSON. Statistics are computed by run.py.
  *
  * Usage: perfbench.Harness PLAN_FILE RESULT_FILE
  */
object Harness {
  def main(args: Array[String]): Unit = {
    val plan = Files.readAllLines(Paths.get(args(0)), UTF_8).asScala
      .filter(_.contains("=")).map { l => val i = l.indexOf('='); l.take(i) -> l.drop(i + 1) }.toMap
    val run = new Run(plan)
    val json = run.execute()
    Files.write(Paths.get(args(1)), json.getBytes(UTF_8))
  }

  def list(plan: Map[String, String], key: String): Seq[String] =
    plan.get(key).map(_.split(",").toSeq.filter(_.nonEmpty)).getOrElse(Nil)
}

final class Run(plan: Map[String, String]) {
  private val workload = plan("workload")
  private val corpus = plan("corpus")
  private val cpus = plan.getOrElse("cpus", "4")
  // serial: warm passes after the cold pass; concurrent: rounds after the
  // cold pass; batch: warm passes over the jobs after the cold pass, each
  // job in a fresh session
  private val passes = plan("passes").toInt
  private val traced = plan.getOrElse("trace", "0") == "1"
  private val setups = plan.getOrElse("setups", "3").toInt
  private val tmpDir = new File(System.getProperty("java.io.tmpdir"))
  plan.get("check_dir").foreach(new File(_).mkdirs())

  private val nano0 = System.nanoTime()
  private val tracer =
    if (traced) Some(new Tracer(System.currentTimeMillis(), nano0)) else None
  private val setupNs = ArrayBuffer.empty[Long]
  private val runs = java.util.Collections.synchronizedList(new java.util.ArrayList[QueryRun]())
  private val sessionSpans = ArrayBuffer.empty[(Long, Long)]

  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  /** CPU time of the whole JVM: driver, task and JIT/GC threads. */
  private def cpuNs(): Long = os.getProcessCpuTime

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum

  private def newSession(): SparkSession = {
    val b = SparkSession.builder().master(s"local[$cpus]")
    if (workload == "concurrent") b.config("spark.scheduler.mode", "FAIR")
    val t0 = System.nanoTime()
    val s = GraftSession.configure(b, cpus).getOrCreate()
    val t1 = System.nanoTime()
    setupNs += t1 - t0
    sessionSpans += ((t0, t1))
    s.sparkContext.setLogLevel("ERROR")
    tracer.foreach { tr =>
      tr.startSession(s"s${setupNs.size}")
      s.sparkContext.addSparkListener(tr)
    }
    s
  }

  private def stopSession(s: SparkSession): Unit = {
    s.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  private def sinkDirs(): Set[String] =
    Option(tmpDir.list()).map(_.toSet.filter(_.startsWith("graft_"))).getOrElse(Set.empty)

  /** Builds, plans and runs one query into the noop sink. */
  private def runQuery(spark: SparkSession, client: Int, pass: Int, name: String,
                       qid: String): QueryRun = {
    val sc = spark.sparkContext
    sc.setJobGroup(qid, name, interruptOnCancel = false)
    val dirsBefore = sinkDirs()
    val compiles0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val compileNs0 = CodeGenerator.compileTime
    val files0 = HiveCatalogMetrics.METRIC_FILES_DISCOVERED.getCount
    val gc0 = gcMs()
    val cpu0 = cpuNs()
    var t0, t1, t2, t3 = System.nanoTime()
    var error: Option[String] = None
    try {
      sc.setLocalProperty("perfbench.phase", "build")
      t0 = System.nanoTime()
      val df = SparkEntry.queries(name)(spark, corpus)
      t1 = System.nanoTime()
      sc.setLocalProperty("perfbench.phase", "plan")
      df.queryExecution.executedPlan
      t2 = System.nanoTime()
      sc.setLocalProperty("perfbench.phase", "exec")
      df.write.format("noop").mode("overwrite").save()
      t3 = System.nanoTime()
    } catch {
      case NonFatal(e) =>
        val now = System.nanoTime()
        if (t1 < t0) t1 = now
        if (t2 < t1) t2 = now
        t3 = now
        error = Some(Option(e.getMessage).getOrElse(e.getClass.getName).linesIterator
          .take(1).mkString)
    } finally {
      sc.setLocalProperty("perfbench.phase", null)
      sc.clearJobGroup()
    }
    val created = (sinkDirs() -- dirsBefore).toSeq.sorted
    tracer.foreach { tr =>
      tr.span(qid, "", qid, "query", name, t0, t3)
      tr.span(s"$qid/build", qid, qid, "SparkEntry", "build", t0, t1)
      tr.span(s"$qid/plan", qid, qid, "catalyst", "plan", t1, t2)
      tr.span(s"$qid/exec", qid, qid, "exec", "exec", t2, t3)
    }
    val r = QueryRun(client, pass, name, qid, t0 - nano0, t1 - t0, t2 - t1, t3 - t2,
      error, created, CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles0,
      CodeGenerator.compileTime - compileNs0,
      HiveCatalogMetrics.METRIC_FILES_DISCOVERED.getCount - files0, gcMs() - gc0,
      cpuNs() - cpu0)
    runs.add(r)
    r
  }

  private def runPass(spark: SparkSession, client: Int, pass: Int, names: Seq[String],
                      clearCache: Boolean): Long = {
    val t0 = System.nanoTime()
    names.zipWithIndex.foreach { case (n, i) =>
      if (clearCache) spark.catalog.clearCache()
      runQuery(spark, client, pass, n, f"c$client-p$pass-$i%03d-$n")
    }
    System.nanoTime() - t0
  }

  /** Writes a query's result as parquet for the output check (untimed). */
  private def dumpOutput(spark: SparkSession, name: String): Unit =
    plan.get("check_dir").foreach { dir =>
      spark.catalog.clearCache()
      try SparkEntry.queries(name)(spark, corpus).coalesce(1).write.mode("overwrite")
        .parquet(s"$dir/$name")
      catch {
        case NonFatal(e) =>
          Files.write(Paths.get(s"$dir/$name._FAILED"),
            Option(e.getMessage).getOrElse(e.getClass.getName).getBytes(UTF_8))
      }
    }

  private def writeOracles(dir: String): Unit = {
    val oracles = SparkEntry.oracleSql
    val json = Harness.list(plan, "mix").distinct.flatMap(n => oracles.get(n).map(n -> _))
      .map { case (k, v) => s"${Json.str(k)}:${Json.str(v)}" }.mkString("{", ",", "}")
    Files.write(Paths.get(s"$dir/oracle_sql.json"), json.getBytes(UTF_8))
  }

  /** Untimed: loads and compiles the JVM's scan, shuffle and parquet paths
    * on a throwaway table, so the first measured query does not carry them.
    * It touches neither the corpus nor any engine cache. */
  private def warmUpJvm(spark: SparkSession): Unit = {
    val dir = new File(tmpDir, "perfbench_warmup").getPath
    spark.range(20000).selectExpr("id % 97 AS k", "id AS v").write.mode("overwrite").parquet(dir)
    spark.read.parquet(dir).groupBy("k").sum("v").orderBy("k").collect()
  }

  private def retainedHeapMb(): Double = {
    System.gc()
    Thread.sleep(500)  // lets Spark's ContextCleaner drop what the GC released
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  def execute(): String = {
    val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
    // (kind, wall ns, process CPU ns; concurrent rounds only, the others sum
    // their queries' CPU)
    val phases = ArrayBuffer.empty[(String, Long, Long)]
    var spark: SparkSession = null
    val jobs = Harness.list(plan, "mix")
    var gcStart = 0L
    workload match {
      case "serial" | "concurrent" =>
        (1 until setups).foreach(_ => stopSession(newSession()))
        spark = newSession()
        warmUpJvm(spark)
        heapPools.foreach(_.resetPeakUsage())
        gcStart = gcMs()
        phases += (("cold", runPass(spark, 0, 0, jobs, clearCache = true), 0L))
        spark.catalog.clearCache()
        if (workload == "serial") {
          for (pass <- 1 to passes)
            phases += (("warm", runPass(spark, 0, pass, jobs, clearCache = true), 0L))
        } else {
          val clients = plan("clients").toInt
          // each round every client runs its next share of the mix
          val perClient = (jobs.size + clients - 1) / clients
          val pool = Executors.newFixedThreadPool(clients)
          try {
            for (round <- 1 to passes) {
              val r0 = System.nanoTime()
              val c0 = cpuNs()
              val fs = (0 until clients).map { c =>
                val order = Harness.list(plan, s"client.$c")
                val start = ((round - 1) * perClient) % order.size
                val slice = (order ++ order).slice(start, start + perClient)
                pool.submit(new Runnable {
                  def run(): Unit = {
                    spark.sparkContext.setLocalProperty("spark.scheduler.pool", s"client$c")
                    runPass(spark, c, round, slice, clearCache = false)
                  }
                })
              }
              fs.foreach(_.get())
              phases += (("round", System.nanoTime() - r0, cpuNs() - c0))
              // every client is idle here, so dropping cached frames is safe
              spark.catalog.clearCache()
            }
          } finally pool.shutdown()
        }
      case "batch" =>
        heapPools.foreach(_.resetPeakUsage())
        gcStart = gcMs()
        // pass 0, cold, warms the JVM up on the jobs themselves (the first
        // also carries the JVM's own warm-up); passes 1..passes are measured
        for (pass <- 0 to passes) {
          var passNs = 0L
          jobs.zipWithIndex.foreach { case (n, i) =>
            if (spark != null) stopSession(spark)
            spark = newSession()
            passNs += runQuery(spark, 0, pass, n, f"c0-p$pass-$i%03d-$n").totalNs
            // checked in the job's own session: its substrate sinks are still there
            if (pass == 0) dumpOutput(spark, n)
          }
          phases += (("batch", passNs, 0L))
        }
      case other => sys.error(s"unknown workload $other")
    }
    val measuredGcMs = gcMs() - gcStart
    val heapPeakMb = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0
    val retained = retainedHeapMb()
    tracer.foreach(_ => PerfbenchAccess.drainListenerBus(spark.sparkContext))
    // untimed: outputs for the oracle check, then the traced run's spans
    if (workload != "batch") jobs.distinct.foreach(dumpOutput(spark, _))
    plan.get("check_dir").foreach(writeOracles)
    val sinkBytes = tracer.map(_ => sinkSizes()).getOrElse(Map.empty)
    stopSession(spark)
    resultJson(phases.toSeq, measuredGcMs, heapPeakMb, retained, sinkBytes)
  }

  private def sinkSizes(): Map[String, Long] = {
    def du(f: File): Long =
      if (f.isDirectory) Option(f.listFiles()).map(_.map(du).sum).getOrElse(0L) else f.length
    sinkDirs().map(d => d -> du(new File(tmpDir, d))).toMap
  }

  private def resultJson(phases: Seq[(String, Long, Long)], gcMs: Long, heapPeakMb: Double,
                         retainedMb: Double, sinkBytes: Map[String, Long]): String = {
    import Json._
    val rs = runs.asScala.toSeq.sortBy(_.startNs).map { r =>
      obj("client" -> num(r.client), "pass" -> num(r.pass), "name" -> str(r.name),
        "qid" -> str(r.qid), "start_s" -> num(r.startNs / 1e9),
        "build_s" -> num(r.buildNs / 1e9), "plan_s" -> num(r.planNs / 1e9),
        "exec_s" -> num(r.execNs / 1e9), "total_s" -> num(r.totalNs / 1e9),
        "error" -> r.error.map(str).getOrElse("null"),
        "sink_dirs" -> arr(r.sinkDirs.map(str)),
        "sink_bytes" -> num(r.sinkDirs.map(d => sinkBytes.getOrElse(d, 0L)).sum),
        "compiles" -> num(r.compiles), "compile_s" -> num(r.compileNs / 1e9),
        "files_discovered" -> num(r.filesDiscovered), "gc_s" -> num(r.gcMs / 1e3),
        "cpu_s" -> num(r.cpuNs / 1e9))
    }
    val trace = tracer.map { tr =>
      val counters = tr.counters.asScala.toSeq.sortBy(_._1).map { case (q, c) =>
        str(q) + ":" + obj(
          "jobs" -> num(c.jobs), "build_jobs" -> num(c.buildJobs), "stages" -> num(c.stages),
          "tasks" -> num(c.tasks), "task_run_s" -> num(c.taskRunMs / 1e3),
          "task_cpu_s" -> num(c.taskCpuNs / 1e9), "task_deser_s" -> num(c.deserMs / 1e3),
          "sched_delay_s" -> num(c.schedDelayMs / 1e3), "task_gc_s" -> num(c.gcMs / 1e3),
          "peak_mem_bytes" -> num(c.peakMem), "input_bytes" -> num(c.inputBytes),
          "shuffle_write_bytes" -> num(c.shuffleWrite), "shuffle_read_bytes" -> num(c.shuffleRead),
          "fetch_wait_s" -> num(c.fetchWaitMs / 1e3), "spill_disk_bytes" -> num(c.spillDisk),
          "critical_path_s" -> num(c.criticalMs / 1e3),
          "critical_exec_s" -> num(c.criticalExecMs / 1e3),
          "first_task_wait_s" -> num(c.firstTaskWaitMs / 1e3),
          "exchanges" -> num(c.exchanges), "broadcasts" -> num(c.broadcasts),
          "wscg_stages" -> num(c.wscg), "sink_scans" -> num(c.sinkScans))
      }.mkString("{", ",", "}")
      val sessions = sessionSpans.zipWithIndex.map { case ((a, b), i) =>
        Span(s"session$i", "", s"session$i", "GraftSession", "setup", tr.ms(a), tr.ms(b))
      }
      val spans = (sessions ++ tr.spans.asScala).map { s =>
        obj("id" -> str(s.id), "parent" -> str(s.parent), "qid" -> str(s.qid),
          "layer" -> str(s.layer), "name" -> str(s.name), "start_ms" -> num(s.startMs),
          "end_ms" -> num(s.endMs))
      }
      obj("counters" -> counters, "spans" -> arr(spans.toSeq))
    }.getOrElse("null")
    obj("workload" -> str(workload),
      "setup_s" -> arr(setupNs.toSeq.map(n => num(n / 1e9))),
      "phases" -> arr(phases.map { case (k, v, c) =>
        obj("kind" -> str(k), "s" -> num(v / 1e9), "cpu_s" -> num(c / 1e9)) }),
      "runs" -> arr(rs), "jvm_gc_s" -> num(gcMs / 1e3), "heap_peak_mb" -> num(heapPeakMb),
      "retained_heap_mb" -> num(retainedMb), "trace" -> trace)
  }
}

/** Just enough JSON writing for the result file. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)
  def num(v: Long): String = v.toString
  def num(v: Int): String = v.toString
  def obj(kv: (String, String)*): String = kv.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
  def arr(vs: Seq[String]): String = vs.mkString("[", ",", "]")
}
