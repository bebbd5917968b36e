package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.{SparkEntry, Tables}
import graft.queries.StoredSplits

/** A fixed sample of the registry, read-only over the generated tables:
  *
  *  - every [[QueryMix.Stride]]-th non-drain query of `SparkEntry.queries`
  *    in name order, starting from the second;
  *  - the drains in [[QueryMix.DrainOps]] (AvailableNow streaming queries
  *    run to completion), which carry the streaming layer;
  *  - the probe halves of the `StoredSplits` in [[QueryMix.ProbeOps]],
  *    against indexes built during set-up.
  *
  * A pass runs every op once and writes its result to parquet, which
  * `run.py` compares with the DuckDB oracle. The warm-up pass runs the ops
  * in name order; every timed pass in an order drawn from the seed.
  */
final class QueryMix(conf: Main.Conf) extends Workload {
  import QueryMix._

  private val dir = conf.inputs
  // per op, the result of the warm-up pass and of the latest timed pass
  private val checked = mutable.LinkedHashMap[(String, Boolean), (String, String)]()

  private val ops: Seq[(String, String, (SparkSession, String) => DataFrame)] = {
    val nonDrain = SparkEntry.queries.keys.toSeq.sorted.filterNot(isDrain)
    val sample = nonDrain.drop(1).grouped(Stride).map(_.head).toSeq
    ((sample ++ DrainOps).map(n => (n, n, SparkEntry.queries(n))) ++
      ProbeOps.map(n => (s"$n:probe", n, StoredSplits.splits(n)._2))).sortBy(_._1)
  }

  /** First-touch every table (schema, footers, page cache), then build the
    * standing indexes the probes read.
    */
  override def warm(spark: SparkSession, run: Runner): Unit = {
    Seq("region", "nation", "customer", "supplier", "part", "orders", "lineitem",
      "documents", "embeddings").foreach(t => Tables(spark, dir, t).count())
    Tables.events(spark, dir).count()
    ProbeOps.foreach(n => run.op(n, "build", -1)(StoredSplits.splits(n)._1(spark, dir)))
  }

  override def pass(spark: SparkSession, run: Runner, p: Int): Unit = {
    val order = if (p == 0) ops else new scala.util.Random(conf.seed * 7919 + p).shuffle(ops)
    order.foreach { case (name, oracle, fn) =>
      val out = s"${conf.scratch}/results/p$p/${name.replace(':', '_')}"
      val span = run.op(name, "op", p)(fn(spark, dir).write.parquet(out))
      if (span.error.isEmpty) checked((name, p == 0)) = (out, SparkEntry.oracleSql(oracle))
    }
  }

  override def oracleChecks: Seq[(String, String, String)] =
    checked.toSeq.map { case ((op, warmUp), (out, sql)) => (if (warmUp) s"$op (warm-up)" else op, out, sql) }

  override def layers(run: Runner, tr: Trace, p: Int): Seq[Metric] = {
    def opJobs(pred: String => Boolean) =
      run.of(p, _ == "op").filter(s => pred(s.op)).map(s => s -> tr.jobsOf(_ == s.group))
    val reg = opJobs(n => !isDrain(n) && !n.endsWith(":probe"))
    val probes = opJobs(_.endsWith(":probe"))
    val drains = opJobs(isDrain)
    def perOp(f: Seq[JobRecord] => Double) = Harness.median(reg.map { case (_, js) => f(js) })
    val wall = reg.map(_._1.seconds).sum
    val self = reg.map { case (s, js) =>
      s.seconds - Trace.covered(js.map(j => (j.startMs, j.endMs))) / 1000.0 }.sum
    val exchanges = reg.map { case (s, _) => tr.exchangesOf(_ == s.group).sum.toDouble }
    val builds = tr.jobsOf(_.endsWith("/build"))
    val buildSpans = run.spans.filter(s => s.phase == "build" && s.startMs >= tr.attachedMs).toSeq
    val folds = tr.foldsOf(g => drains.exists(_._1.group == g))
    def foldMed(f: Fold => Long) = Harness.median(folds.map(f(_).toDouble))
    def files(spans: Seq[OpSpan]) = spans.map(s => run.filesWritten.getOrElse((s.group, s.pass), 0)).sum
    val mb = 1048576.0
    Seq(
      Metric("queries.jobs_per_op", perOp(_.size.toDouble), "count"),
      Metric("queries.stages_per_op", perOp(_.map(_.stages).sum.toDouble), "count"),
      Metric("queries.exchanges_per_op", Harness.median(exchanges), "count"),
      Metric("queries.jobs_total", reg.map(_._2.size).sum, "count"),
      Metric("queries.exchanges_total", exchanges.sum, "count"),
      Metric("queries.driver_share", self / wall, "ratio"),
      Metric("queries.shuffle_write_mb", reg.flatMap(_._2).map(_.shuffleWrite).sum / mb, "MB"),
      Metric("queries.spill_mb", reg.flatMap(_._2).map(_.spill).sum / mb, "MB"),
      Metric("queries.input_mb", reg.flatMap(_._2).map(_.input).sum / mb, "MB"),
      Metric("ext.build_s", buildSpans.map(_.seconds).sum, "s"),
      Metric("ext.build_jobs", builds.size, "count"),
      Metric("ext.probe_s", probes.map(_._1.seconds).sum, "s"),
      Metric("ext.probe_jobs", probes.map(_._2.size).sum, "count"),
      Metric("ext.files_written", files(buildSpans), "count"),
      Metric("ext.bytes_written_mb", builds.map(_.output).sum / mb, "MB"),
      Metric("streaming.drain_s", drains.map(_._1.seconds).sum, "s"),
      Metric("streaming.folds", folds.size, "count"),
      Metric("streaming.fold_trigger_ms", foldMed(_.triggerMs), "ms"),
      Metric("streaming.fold_addbatch_ms", foldMed(_.addBatchMs), "ms"),
      Metric("streaming.fold_planning_ms", foldMed(_.planningMs), "ms"),
      Metric("streaming.fold_walcommit_ms", foldMed(_.walCommitMs), "ms"),
      Metric("streaming.fold_fixed_ms", foldMed(f => f.triggerMs - f.addBatchMs), "ms"),
      Metric("streaming.jobs_per_fold", drains.map(_._2.size).sum.toDouble / math.max(1, folds.size), "count"),
      Metric("streaming.files_written", files(drains.map(_._1)), "count"))
  }
}

object QueryMix {
  val Stride = 24
  /** First-wins streaming dedup, the registry's cheapest drain. */
  val DrainOps: Seq[String] = Seq("t3_streaming_dedup")
  /** A Similarity (IVF) and a Retrieval (BM25) stored index. */
  val ProbeOps: Seq[String] = Seq("x_ann_ivf_stored", "x_bm25_stored")

  private val drainPrefixes = (2 to 14).map(i => s"t${i}_")
  def isDrain(q: String): Boolean = drainPrefixes.exists(q.startsWith)
}
