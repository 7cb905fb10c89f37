package graft.perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.BenchBus
import org.apache.spark.sql.SparkSession

import scala.collection.mutable

/** Benchmark program: builds sessions, runs one workload's closed loop
  * for a fixed time and writes the run record (operations, set-up
  * times, trace, output checks) as JSON. Inputs are generated before
  * this program starts; `perfbench/run.py` launches it and checks the
  * outputs against the DuckDB oracles afterwards.
  *
  * Arguments: --workload NAME --dir RUN_DIR --seconds S --trace 0|1
  * --cores N. RUN_DIR holds the generated inputs in
  * `data/` and the warm-up inputs in `warm/`, each with the sizes in
  * `params.properties`.
  */
object Main {

  /** Set-ups per run; setup_s is their median. */
  private val SetupReps = 5

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val dir = a("dir")
    val cores = a("cores").toInt
    val traceRun = a("trace") == "1"
    val workload = Workloads(a("workload"))
    def inputs(part: String): Inputs = {
      val params = new java.util.Properties()
      val in = new java.io.FileInputStream(s"$dir/$part/params.properties")
      try params.load(in) finally in.close()
      Inputs(s"$dir/$part", params)
    }
    val runner = new Runner(dir, cores, traceRun)

    val data = inputs("data")
    // set-up = session start + build-once artifacts, repeated (the
    // first one is the JVM's cold start)
    val setup = (1 to SetupReps).map { rep =>
      if (rep > 1) runner.stop()
      val t0 = System.nanoTime()
      runner.start()
      runner.op("build", measured = false)(workload.build(runner.spark, data, s"$dir/out"))
      (System.nanoTime() - t0) / 1e9
    }
    System.err.println(f"[perfbench] set-ups ${setup.map(x => f"$x%.2f").mkString(", ")} s")

    workload.measure(runner, data, inputs("warm"), s"$dir/out", a("seconds").toDouble)

    val record = Map[String, Any](
      "workload" -> a("workload"), "cores" -> cores, "trace" -> traceRun,
      "setup_s" -> setup, "warmup_s" -> runner.warmupS, "ops" -> runner.ops, "checks" -> runner.checks,
      "peak_rss_mb" -> peakRssMb(),
      "spans" -> Trace.spans, "jobs" -> Trace.jobs.values, "stages" -> Trace.stages.values,
      "sql_execs" -> Trace.sqlExecs.values, "queries" -> Trace.queries,
      "progress" -> Trace.progress, "persisted_peak_bytes" -> Trace.peakPersisted)
    new ObjectMapper().registerModule(DefaultScalaModule)
      .writeValue(new java.io.File(s"$dir/record.json"), record)
    System.err.println("[perfbench] run record written")
    runner.stop()
  }

  /** The JVM's resident-set high-water mark (VmHWM), in MB. */
  private def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .collectFirst { case l if l.startsWith("VmHWM:") =>
        l.split("\\s+")(1).toDouble / 1024.0 }
      .getOrElse(Double.NaN)
}

/** A workload's input directory plus its generator parameters. */
final case class Inputs(path: String, params: java.util.Properties) {
  def long(k: String): Long = params.getProperty(k).toLong
  def str(k: String): String = params.getProperty(k)
}

/** Owns the session and runs operations one at a time, each under its
  * own job group, recording wall time, GC time and any failure. In a
  * traced run every other operation of a kind is traced, so the same
  * run also measures what tracing costs. */
final class Runner(dir: String, cores: Int, traceRun: Boolean) {
  var spark: SparkSession = _
  val ops = mutable.ArrayBuffer.empty[Map[String, Any]]
  val checks = mutable.ArrayBuffer.empty[Map[String, Any]]
  private val perKind = mutable.Map.empty[String, Int]
  private val lastWall = mutable.Map.empty[String, Double]
  private var nextOp = 0

  def start(): Unit = {
    val b = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.warehouse.dir", s"$dir/warehouse")
      .config("spark.local.dir", s"$dir/spark-local")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.streaming.streamingQueryListeners", classOf[PerfStreamListener].getName)
    if (traceRun) b.config("spark.sql.queryExecutionListeners", classOf[PerfQueryListener].getName)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    if (traceRun) spark.sparkContext.addSparkListener(Trace.SparkEvents)
  }

  def stop(): Unit = {
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  private def gcMs(): Long =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.toArray
      .map(_.asInstanceOf[java.lang.management.GarbageCollectorMXBean].getCollectionTime.max(0L)).sum

  /** Run one operation; `body` returns the number of input rows it
    * processed. Returns the operation's id. */
  def op(kind: String, measured: Boolean = true)(body: => Long): Int = {
    nextOp += 1
    val id = nextOp
    val n = perKind.getOrElse(kind, 0)
    perKind(kind) = n + 1
    val traced = traceRun && n % 2 == 0
    val sc = spark.sparkContext
    Trace.opId = id
    Trace.traced = traced
    sc.setJobGroup(s"op-$id", kind)
    val gc0 = gcMs()
    val t0 = Trace.nowMs()
    val (rows, error) =
      try (Trace.span(kind)(body), None)
      catch { case e: Exception => (0L, Some(e.toString.take(2000))) }
    val t1 = Trace.nowMs()
    val gc = gcMs() - gc0
    sc.clearJobGroup()
    BenchBus.drain(sc)
    Trace.traced = false
    Trace.opId = 0
    lastWall(kind) = (t1 - t0) / 1000.0
    ops += Map("id" -> id, "kind" -> kind, "measured" -> measured, "traced" -> traced,
      "start_ms" -> t0, "end_ms" -> t1, "wall_s" -> (t1 - t0) / 1000.0, "rows" -> rows,
      "gc_s" -> gc / 1000.0, "error" -> error)
    id
  }

  /** Declare an output check: the oracle SQL runs in DuckDB over
    * `views` (name → SQL), and must equal `output` (SQL over the files
    * the operations wrote). `columns = "oracle"` keeps only the
    * oracle's columns of the output (report files carry extra keys).
    * With `split = (column, [(op, lo, hi)])` one oracle run covers
    * several operations, each judged on its rows with lo <= column < hi. */
  def check(name: String, ops: Seq[Int], oracle: String, views: Map[String, String],
            output: String, columns: String = "all",
            split: Option[(String, Seq[(Int, Long, Long)])] = None): Unit =
    checks += Map("name" -> name, "ops" -> ops, "oracle" -> oracle, "views" -> views,
      "output" -> output, "columns" -> columns,
      "split" -> split.map { case (c, rs) =>
        Map("column" -> c, "ranges" -> rs.map { case (o, lo, hi) => Seq(o, lo, hi) }) })

  def nowS(): Double = Trace.nowMs() / 1000.0

  /** Total time spent in warm-up passes. */
  var warmupS = 0.0

  /** An untimed pass of one operation kind on the warm-up inputs, run
    * right before that kind's timed phase: code paths compiled while
    * other kinds ran get deoptimized and re-profiled, so a kind is
    * warmed where it is measured. */
  def warm(body: => Unit): Unit = {
    val t0 = System.nanoTime()
    body
    warmupS += (System.nanoTime() - t0) / 1e9
  }

  /** Closed-loop admission: the first operation of a kind always runs;
    * another one starts only if, taking as long as the last one did,
    * it would end by `deadline` — a run measures for its stated time
    * instead of overrunning it by one operation. */
  def fits(kind: String, deadline: Double): Boolean =
    lastWall.get(kind).forall(nowS() + _ <= deadline)
}
