package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.GraftSession

/** Benchmark harness: one workload in one JVM, one client thread issuing
  * calls into the program in a closed loop.
  *
  *   perfbench.Main <workload> <inputs> <scratch> <trace 0|1> <seconds> <seed> <out.json>
  *
  * After set-up the run makes one untimed warm-up pass over the workload's
  * ops (pass 0: class loading, code generation and JIT), then timed passes
  * until `seconds` have gone by, at least [[Main.MinPasses]] of them; the
  * timings are medians over the timed passes. With trace=1 the warm-up is
  * followed by one pass with listeners attached and every call tagged with
  * a job group, and the run reports per-layer metrics of that pass.
  * Results go to `out.json`; `run.py` checks outputs against the oracle and
  * prints the result line.
  */
object Main {

  final case class Conf(workload: String, inputs: String, scratch: String, trace: Boolean,
                        seconds: Double, seed: Long, cores: Int)

  /** Set-ups per run; `setup_s` is their median. */
  val Setups = 3
  /** Timed passes an untraced run makes however long they take. */
  val MinPasses = 1

  def main(args: Array[String]): Unit = {
    val Array(workload, inputs, scratch, trace, seconds, seed, out) = args
    val conf = Conf(workload, inputs, scratch, trace == "1", seconds.toDouble, seed.toLong,
      Runtime.getRuntime.availableProcessors)
    val wl: Workload = workload match {
      case "elt_daily"     => new EltDaily(conf)
      case "query_mix"     => new QueryMix(conf)
      case other           => sys.error(s"unknown workload $other")
    }
    val result = Harness.run(conf, wl)
    Files.writeString(Paths.get(out), result)
  }
}

/** A workload: what set-up builds, and what one pass over its ops does. */
trait Workload {
  /** Touch tables and build standing state; runs inside every set-up. */
  def warm(spark: SparkSession, run: Runner): Unit
  /** Pass `p` over every op (0 is the warm-up); every program call goes
    * through `run.op`. Each pass starts from the same state.
    */
  def pass(spark: SparkSession, run: Runner, p: Int): Unit
  /** Untimed output checks after the last pass; returns failure messages. */
  def check(spark: SparkSession, run: Runner): Seq[String] = Nil
  /** Workload-specific metrics of the timed passes, traced or not. */
  def passMetrics(run: Runner, passes: Seq[Int]): Seq[Metric] = Nil
  /** Per-layer metrics of the traced pass `p`. */
  def layers(run: Runner, trace: Trace, p: Int): Seq[Metric] = Nil
  /** Ops whose results `run.py` compares with the DuckDB oracle:
    * (op name, result dir, oracle SQL).
    */
  def oracleChecks: Seq[(String, String, String)] = Nil
}

final case class Metric(name: String, value: Double, unit: String)

/** Records op spans. With a trace attached it also tags each call's jobs
  * and counts the files each op or build leaves under `scanRoot`.
  */
final class Runner(val workload: String, scanRoot: String) {
  var trace: Option[Trace] = None
  val spans = ArrayBuffer[OpSpan]()
  val filesWritten = scala.collection.mutable.Map[(String, Int), Int]()
  /** Seconds spent on trace bookkeeping (tagging, bus drains, file listings). */
  var bookkeepingS = 0.0

  private def bookkeeping[T](body: => T): T = {
    val t = System.nanoTime
    try body finally bookkeepingS += (System.nanoTime - t) / 1e9
  }

  def op(name: String, phase: String, pass: Int)(body: => Unit): OpSpan = {
    val group = s"$workload/$name/$phase"
    val scan = trace.isDefined && (phase == "op" || phase == "build")
    val before = if (scan) bookkeeping(Harness.files(scanRoot)) else Set.empty[String]
    trace.foreach(t => bookkeeping(t.begin(group)))
    val t0ms = System.currentTimeMillis
    val t0 = System.nanoTime
    val err =
      try { body; None }
      catch {
        case e: Throwable =>
          System.err.println(s"[perfbench] $group failed:")
          e.printStackTrace()
          Some(e.toString.take(300))
      }
    val s = OpSpan(group, pass, t0ms, System.currentTimeMillis,
      (System.nanoTime - t0) / 1e9, err)
    System.err.println(f"[perfbench] $group%s pass $pass%d ${s.seconds}%.3f s")
    trace.foreach(t => bookkeeping(t.end()))
    if (scan) filesWritten((group, pass)) = bookkeeping((Harness.files(scanRoot) -- before).size)
    spans += s
    s
  }

  def of(pass: Int, phase: String => Boolean): Seq[OpSpan] =
    spans.filter(s => s.pass == pass && phase(s.phase)).toSeq
}

object Harness {

  def session(conf: Main.Conf): SparkSession = {
    val b = SparkSession.builder().master(s"local[${conf.cores}]").appName("perfbench")
      .config("spark.sql.warehouse.dir", s"${conf.scratch}/warehouse")
      .config("spark.local.dir", s"${conf.scratch}/spark-local")
    val spark = GraftSession.configure(b, conf.cores).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Nearest-rank percentile. */
  def pct(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    s(math.min(s.size - 1, math.max(0, math.ceil(p * s.size).toInt - 1)))
  }

  def gcSeconds: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1000.0

  /** Live heap after full collections: the least of three GC-and-settle
    * rounds, so reference processing left over from one round is not counted.
    */
  def retainedHeapMb: Double = (1 to 3).map { _ =>
    System.gc()
    Thread.sleep(100)
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }.min

  private def checked(body: => Seq[String]): Seq[String] =
    try body
    catch { case e: Throwable => e.printStackTrace(); Seq(s"output check threw: ${e.toString.take(300)}") }

  def run(conf: Main.Conf, wl: Workload): String = {
    val runner = new Runner(conf.workload, conf.scratch)
    // set-up: the first sample runs from JVM start; later samples stop the
    // session and configure, touch and build again in the same JVM
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val setups = ArrayBuffer[(Double, Double)]() // (session start, warm)
    var spark: SparkSession = null
    for (i <- 0 until Main.Setups) {
      if (spark != null) { spark.stop(); SparkSession.clearActiveSession(); SparkSession.clearDefaultSession() }
      val t0 = if (i == 0) jvmStartMs else System.currentTimeMillis
      spark = session(conf)
      val t1 = System.currentTimeMillis
      wl.warm(spark, runner)
      setups += (((t1 - t0) / 1000.0, (System.currentTimeMillis - t1) / 1000.0))
      System.err.println(s"[perfbench] setup $i: session ${setups.last._1} s, warm ${setups.last._2} s")
    }

    val tw = System.nanoTime
    wl.pass(spark, runner, 0)
    System.err.println(f"[perfbench] warm-up pass ${(System.nanoTime - tw) / 1e9}%.3f s")
    // with --trace 1 one pass runs traced; standing state is rebuilt under
    // the trace first so its builds are attributed too
    val trace = if (!conf.trace) None else {
      val tr = new Trace(spark)
      runner.trace = Some(tr)
      wl.warm(spark, runner)
      Some(tr)
    }
    val gc0 = gcSeconds
    val passWalls = ArrayBuffer[Double]()
    val windows = ArrayBuffer[(Long, Long)]() // pass start and end, epoch ms
    val timedStart = System.nanoTime
    def more = if (conf.trace) passWalls.isEmpty
      else passWalls.size < Main.MinPasses || (System.nanoTime - timedStart) / 1e9 < conf.seconds
    while (more) {
      val t0ms = System.currentTimeMillis
      val t = System.nanoTime
      wl.pass(spark, runner, passWalls.size + 1)
      passWalls += (System.nanoTime - t) / 1e9
      System.err.println(f"[perfbench] timed pass ${passWalls.size} ${passWalls.last}%.3f s")
      windows += ((t0ms, System.currentTimeMillis))
    }
    val passes = 1 to passWalls.size
    val pass = median(passWalls.toSeq)
    val gcS = gcSeconds - gc0
    val heapMb = retainedHeapMb
    val tc = System.nanoTime
    val failures = checked(wl.check(spark, runner))
    System.err.println(f"[perfbench] checks ${(System.nanoTime - tc) / 1e9}%.3f s")

    val e2e = ArrayBuffer[Metric]()
    val layers = ArrayBuffer[Metric]()
    val setupTotals = setups.map { case (a, b) => a + b }
    val opTimes = runner.spans.filter(s => s.phase == "op" && s.pass >= 1).map(_.seconds).toSeq
    e2e += Metric("setup_s", median(setupTotals.toSeq), "s")
    e2e += Metric("pass_s", pass, "s")
    e2e += Metric("op_p50_s", median(opTimes), "s")
    e2e += Metric("heap_retained_mb", heapMb, "MB")
    layers += Metric("op_p90_s", pct(opTimes, 0.9), "s")
    layers += Metric("op_count", opTimes.size, "count")
    layers += Metric("pass_count", passWalls.size, "count")
    layers += Metric("session.cold_s", setupTotals.head, "s")
    layers += Metric("session.start_s", median(setups.map(_._1).toSeq), "s")
    layers += Metric("session.warm_s", median(setups.map(_._2).toSeq), "s")
    layers += Metric("jvm.gc_s", gcS, "s")
    layers ++= wl.passMetrics(runner, passes)

    trace.foreach { tr =>
      tr.detach()
      val (t0ms, t1ms) = windows.head
      val jobs = tr.jobsOf(_.startsWith(s"${conf.workload}/"))
        .filter(j => j.startMs >= t0ms && j.endMs <= t1ms)
      val taskS = jobs.map(_.taskNs).sum / 1e9
      // driver time: top-level call wall not covered by any job span
      val top = runner.spans.filter(s => s.pass == 1 && (s.phase == "op" || s.phase == "build"))
      val covered = top.map(s => Trace.covered(jobs.filter(j => j.startMs >= s.startMs && j.endMs <= s.endMs)
        .map(j => (j.startMs, j.endMs)))).sum / 1000.0
      layers += Metric("spark.jobs", jobs.size, "count")
      layers += Metric("spark.tasks", jobs.map(_.tasks).sum, "count")
      layers += Metric("spark.task_retries", jobs.map(_.taskRetries).sum, "count")
      layers += Metric("spark.task_s", taskS, "s")
      layers += Metric("spark.core_util", taskS / (pass * conf.cores), "ratio")
      layers += Metric("spark.driver_s", top.map(_.seconds).sum - covered, "s")
      layers += Metric("trace.pass_s", pass, "s")
      layers += Metric("trace.overhead", pass / (pass - runner.bookkeepingS), "ratio")
      layers ++= wl.layers(runner, tr, 1)
    }
    val ops = runner.spans.filter(_.phase == "op")
    // an op fails once however many of its phases threw
    val threw = runner.spans.filter(_.error.isDefined).map(s => (s.pass, s.op)).distinct.size
    spark.stop()

    def num(d: Double): String =
      if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toPlainString
    def str(s: String): String = "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case c if c < ' ' => " "; case c => c.toString
    } + "\""
    def metrics(ms: Seq[Metric]): String = ms.map(m =>
      s"${str(m.name)}: {\"value\": ${num(m.value)}, \"unit\": ${str(m.unit)}}").mkString("{", ", ", "}")
    val errors = runner.spans.flatMap(s => s.error.map(e => s"${s.group}: $e"))
    s"""{"workload": ${str(conf.workload)}, "attempted": ${math.max(1, ops.size)},
       | "threw": $threw,
       | "e2e": ${metrics(e2e.toSeq)},
       | "layers": ${metrics(layers.toSeq)},
       | "failures": ${(failures ++ errors).map(str).mkString("[", ", ", "]")},
       | "oracle": ${wl.oracleChecks.map { case (o, d, q) => s"[${str(o)}, ${str(d)}, ${str(q)}]" }.mkString("[", ", ", "]")}}
       |""".stripMargin
  }

  /** Regular files under `root`, Spark's shuffle and block files excluded. */
  def files(root: String): Set[String] = {
    val p = Paths.get(root)
    if (!Files.exists(p)) Set.empty
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(_.toString)
        .filterNot(_.contains("/spark-local/")).toSet
      finally s.close()
    }
  }

  def delete(root: String): Unit = {
    val p = Paths.get(root)
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator().asScala.toSeq.reverse.foreach(Files.delete)
      finally s.close()
    }
  }

  def bytesUnder(root: String): Long = {
    val f = new File(root)
    if (!f.exists) 0L
    else if (f.isFile) f.length
    else Option(f.listFiles).toSeq.flatten.map(c => bytesUnder(c.getPath)).sum
  }
}
