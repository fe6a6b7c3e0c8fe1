package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.SparkEntry
import graft.mr.{Exec, JobSpec, MapReduceEngine}

/** The benchmark JVM: one timed run. It calls the engine's public entry
  * points only (`MapReduceEngine.submit`, `SparkEntry.queries`) as a closed
  * loop with one client: each job starts when the previous one returns.
  *
  * Arguments (all `--key value`): workload, seconds, trace (0|1), cpus,
  * min-passes, input (generated inputs), out (run directory), reducer
  * (wc_reduce.sh), queries (comma-separated, for the query workloads).
  *
  * Writes `out/record.json`: set-up times, one row per job, JVM counters,
  * and with tracing on the per-job counters and the span tree. The caller
  * checks outputs and turns the record into metrics.
  */
object Main {

  def main(args: Array[String]): Unit = {
    val o = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val traced = o("trace") == "1"
    val out = o("out")
    val trace = new Trace(traced)
    val (runSpan, closeRun) = trace.open("run", 0)

    val (_, closeSession) = trace.open("setup.session", runSpan)
    val spark = session(o("cpus").toInt)
    spark.sparkContext.addSparkListener(trace)
    spark.streams.addListener(trace.streaming)
    val sessionS = closeSession()

    val workload: Workload = o("workload") match {
      case "mr_envelope" => new MrEnvelope(spark, o("input"), s"$out/mr", o("reducer"))
      case _ => new Queries(spark, o("input"), s"$out/results", o("queries").split(',').toSeq)
    }

    val (_, closeWarm) = trace.open("setup.warm", runSpan)
    workload.warm()
    val warmS = closeWarm()

    // Measured window: whole passes until `seconds` have elapsed, and at
    // least `min-passes` of them.
    val setupEnd = trace.now()
    val gc0 = gcSeconds()
    val rows = Seq.newBuilder[String]
    val window0 = System.nanoTime()
    var pass = 0
    def elapsed = (System.nanoTime() - window0) / 1e9
    val minPasses = o("min-passes").toInt
    while (pass < minPasses || elapsed < o("seconds").toDouble) {
      trace.detail = traced && pass % 2 == 0
      val (passSpan, closePass) = trace.open("pass", runSpan)
      workload.jobs.zipWithIndex.foreach { case (name, i) =>
        val id = s"p$pass-j$i"
        val steal0 = cpuJiffies()
        val (jobSpan, closeJob) = trace.open(s"job:$name", passSpan)
        trace.begin(id, id, jobSpan)
        spark.sparkContext.setJobGroup(id, name)
        val r = try workload.run(id, name, trace, jobSpan)
          catch { case e: Throwable => JobResult(error = Some(firstLine(e))) }
        spark.sparkContext.clearJobGroup()
        val wall = closeJob()
        val steal1 = cpuJiffies()
        rows += Json.obj("id" -> id, "pass" -> pass, "traced" -> trace.detail,
          "name" -> name, "wall_s" -> wall,
          "build_s" -> r.buildS, "plan_s" -> r.planS, "exec_s" -> r.execS,
          "rows" -> r.rows, "output" -> r.output, "error" -> r.error,
          "steal" -> Json.Raw(s"[${steal1._1 - steal0._1},${steal1._2 - steal0._2}]"))
      }
      closePass()
      pass += 1
    }
    val windowS = elapsed
    val gcS = gcSeconds() - gc0
    val heapPeakMb = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / 1048576.0
    // stop() drains the listener bus, so every counter is final after it.
    spark.stop()
    closeRun()

    val jobs = rows.result()
    val ids = (0 until pass).flatMap(p => workload.jobs.indices.map(i => s"p$p-j$i"))
    val record = Json.obj(
      "session_s" -> sessionS, "warm_s" -> warmS, "setup_end" -> setupEnd, "passes" -> pass,
      "window_s" -> windowS, "jvm_gc_s" -> gcS, "jvm_heap_peak_mb" -> heapPeakMb,
      "vm_hwm_mb" -> vmHwmMb, "warm_outputs" -> workload.warmOutputs,
      "jobs" -> Json.Raw(jobs.mkString("[", ",", "]")),
      "job_cpu_s" -> Json.Raw(ids.map(id => Json.str(id) + ":" +
        trace.counters(id).map(_.cpuNs / 1e9).getOrElse(0.0)).mkString("{", ",", "}")),
      "counters" -> Json.Raw(if (!traced) "{}" else ids.flatMap(id =>
        trace.counters(id).map(c => Json.str(id) + ":" + c.json)).mkString("{", ",", "}")),
      "spans" -> Json.Raw(trace.spans.map(s => Json.obj("id" -> s.id, "parent" -> s.parent,
        "name" -> s.name, "start" -> s.start, "end" -> s.end)).mkString("[", ",", "]")))
    Files.writeString(Paths.get(out, "record.json"), record)
  }

  /** The session a user of the engine would build: local[cpus], the
    * engine's SQL extensions and the settings its own mains use. */
  def session(cpus: Int): SparkSession = {
    val scratch = sys.env.getOrElse("GRAFT_LOCAL_DIR", System.getProperty("java.io.tmpdir"))
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum", (2 * cpus).toString)
      .config("spark.local.dir", s"$scratch/spark-local")
      .config("spark.sql.warehouse.dir", s"$scratch/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1e3

  /** (steal, total) jiffies summed over all CPUs, from /proc/stat: time
    * the hypervisor ran something else while this VM had work. */
  private def cpuJiffies(): (Long, Long) = {
    val f = Files.readAllLines(Paths.get("/proc/stat")).get(0).trim.split("\\s+").drop(1).map(_.toLong)
    (f.lift(7).getOrElse(0L), f.take(8).sum)
  }

  private def vmHwmMb: Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)

  def firstLine(e: Throwable): String =
    Option(e.getMessage).flatMap(_.linesIterator.nextOption())
      .getOrElse(e.getClass.getName)
}

final case class JobResult(
    buildS: Option[Double] = None, planS: Option[Double] = None,
    execS: Option[Double] = None, rows: Option[Long] = None,
    output: Option[String] = None, error: Option[String] = None)

trait Workload {
  def jobs: Seq[String]
  def warm(): Unit
  /** What the warm-up wrote, for the caller's output check. */
  def warmOutputs: Seq[String]
  def run(id: String, name: String, trace: Trace, jobSpan: Int): JobResult
}

/** The reference's map-stage envelope through `graft.mr`: `cat` mapper,
  * `wc_reduce.sh` reducer, M=2, R=2. A pass is four jobs; three jobs warm
  * the JIT up first. */
final class MrEnvelope(spark: SparkSession, input: String, outRoot: String, reducer: String)
    extends Workload {
  private val engine = new MapReduceEngine(spark)
  val jobs: Seq[String] = Seq.fill(4)("mr_envelope")
  private val warmDirs = (0 until 3).map(i => s"$outRoot/warm-$i")
  def warmOutputs: Seq[String] = warmDirs
  private def submit(dir: String): Unit =
    engine.submit(JobSpec(input, dir, Exec(Seq("cat")), Exec(Seq(reducer)), 2, 2)): Unit
  def warm(): Unit = warmDirs.foreach(submit)
  def run(id: String, name: String, trace: Trace, jobSpan: Int): JobResult = {
    val dir = s"$outRoot/$id"
    submit(dir)
    JobResult(output = Some(dir))
  }
}

/** A fixed mix of registry queries. Each job is the registry call, then
  * `executedPlan`, then `toRdd.count()` (full-row materialization; a
  * `Dataset.count()` would prune columns). */
final class Queries(spark: SparkSession, dir: String, outRoot: String, names: Seq[String])
    extends Workload {
  private val registry = SparkEntry.queries
  val jobs: Seq[String] = names
  def warmOutputs: Seq[String] = names.map(n => s"$outRoot/$n")
  /** Two passes down the timed path, so the measured passes start warm.
    * The first also writes each result for the oracle; the written result
    * is the one the timed calls return. */
  def warm(): Unit = {
    for (pass <- 0 until 2; n <- names) {
      try {
        val df = registry(n)(spark, dir)
        df.queryExecution.toRdd.count()
        if (pass == 0) df.coalesce(1).write.mode("overwrite").parquet(s"$outRoot/$n")
      } catch { case e: Throwable => System.err.println(s"[perfbench] warm $n: ${Main.firstLine(e)}") }
    }
    val oracle = SparkEntry.oracleSql
    Files.writeString(Paths.get(outRoot, "oracle_sql.json"),
      Json.obj(names.map(n => n -> oracle.get(n)): _*))
  }

  def run(id: String, name: String, trace: Trace, jobSpan: Int): JobResult = {
    def step[T](label: String)(f: => T): (T, Double) = {
      val (_, close) = trace.open(label, jobSpan)
      val v = f
      (v, close())
    }
    val (df, buildS) = step("build")(registry(name)(spark, dir): DataFrame)
    val (_, planS) = step("plan")(df.queryExecution.executedPlan)
    val (n, execS) = step("exec")(df.queryExecution.toRdd.count())
    JobResult(Some(buildS), Some(planS), Some(execS), Some(n))
  }
}

