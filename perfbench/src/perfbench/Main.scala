package perfbench

import java.io.{File, PrintWriter}

import scala.collection.immutable.ListMap
import scala.util.chaining._

import org.apache.spark.sql.SparkSession

/** The benchmark's entry point (launched by `perfbench/run.py`).
  *
  *   --root DIR --workload NAME --seed N --seconds S --trace 0|1 --out FILE
  *
  * Writes the result object to FILE and prints a readable summary. The
  * workloads, their pinned query lists and input sizes come from
  * `perfbench/workloads.json`; pinned query results from
  * `perfbench/expected.json`. */
object Main {

  final case class Args(root: String, workload: String, seed: Long,
      seconds: Double, trace: Boolean, out: String)

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    def need(k: String) = m.getOrElse(k,
      throw new IllegalArgumentException(s"missing $k"))
    Args(need("--root"), need("--workload"), need("--seed").toLong,
      need("--seconds").toDouble, need("--trace") == "1", need("--out"))
  }

  /** Warm passes (or backfills) every run makes at least. A warm
    * backfill takes about half of the run's seconds, and the JIT still
    * speeds up the second one; with one required, the host's speed
    * decided whether the first or the second one counted. */
  val MinWarm = 2

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val cfg = Config.load(a.root)
    val w = cfg.workload(a.workload)
    val runId = s"${a.workload}-seed${a.seed}-trace${if (a.trace) 1 else 0}" +
      s"-${ProcessHandle.current().pid()}"
    val workDir = s"${a.root}/.bench_build/work/$runId"
    val traceDir = new File(s"${a.root}/.bench_build/trace/$runId")
    val (spark, setupS) = Sessions.setUp(workDir)
    log("set up")
    val tracer = if (a.trace) Some(new Tracer(runId)) else None
    tracer.foreach(spark.sparkContext.addSparkListener)
    val r = try w match {
      case q: Config.Queries =>
        runQueries(spark, q, cfg, a, tracer, traceDir)
      case b: Config.BackfillCfg =>
        runBackfill(spark, b, a, tracer, traceDir, workDir)
    } finally {
      tracer.foreach(_.writeSpans(new File(traceDir, "spans.jsonl")))
    }
    val heap = Sessions.retainedHeapMb()
    Sessions.stop(spark)
    deleteTree(new File(workDir))
    log("stopped")

    val metrics: ListMap[String, (Double, String)] =
      if (a.trace) r.layers
      else ListMap(
        "setup_s" -> (setupS, "s"),
        "first_pass_s" -> (r.firstPassS, "s"),
        "warm_pass_s" -> (Stats.median(r.warmPassS), "s"),
        "op_p50_s" -> (Stats.median(r.opS), "s"),
        "retained_heap_mb" -> (heap, "MB"))
    val result = Json.obj(
      "correct" -> (r.failed == 0),
      "attempted" -> r.attempted, "failed" -> r.failed,
      "metrics" -> ListMap(metrics.toSeq.map { case (k, (v, u)) =>
        k -> Json.obj("value" -> v, "unit" -> u) }: _*))
    // readable summary: the end-to-end names as the workload calls them
    // the highest percentile up to p90 the samples support, if any
    val (pHigh, rank) = Stats.highestSupported(r.opS, 0.9)
    println(s"perfbench ${a.workload} seed=${a.seed} trace=${a.trace} " +
      s"nproc=${Sessions.nproc}")
    println(f"  setup_s=$setupS%.3f (from process start)")
    println(f"  first_pass_s=${r.firstPassS}%.3f  " + r.aliases.map {
      case (k, v) => f"$k=$v%.3f" }.mkString("  "))
    println(f"  warm_pass_s=${Stats.median(r.warmPassS)}%.3f (median of " +
      s"${r.warmPassS.map(x => f"$x%.3f").mkString(" ")})  op_p50_s=" +
      f"${Stats.median(r.opS)}%.4f" +
      (if (rank > 0.5) f" op_p${(rank * 100).round}_s=$pHigh%.4f" else "") +
      s" (of ${r.opS.size} ops)")
    println(f"  failed_frac=${r.failed.toDouble / r.attempted}%.4f " +
      s"(${r.failed}/${r.attempted})  retained_heap_mb=" + f"$heap%.1f")
    r.problems.take(20).foreach(p => println(s"  FAILED $p"))
    if (a.trace) println(s"  trace: $traceDir")
    val pw = new PrintWriter(new File(a.out), "UTF-8")
    try pw.println(Json.render(result)) finally pw.close()
  }

  /** What one run measured, before it becomes metrics. */
  final case class Outcome(attempted: Int, failed: Int, firstPassS: Double,
      warmPassS: Seq[Double], opS: Seq[Double], aliases: Seq[(String, Double)],
      problems: Seq[String], layers: Layers.Metrics)

  def runQueries(spark: SparkSession, q: Config.Queries, cfg: Config,
      a: Args, tracer: Option[Tracer], traceDir: File): Outcome = {
    val all = graft.SparkEntry.queries
    val queries = q.queries.map(n => n -> all.getOrElse(n,
      throw new IllegalArgumentException(s"no slate query $n"))).toMap
    val execs = QueryWorkload.runLoop(spark, queries, cfg.dataDir,
      a.seed, a.seconds, MinWarm, tracer)
    log("passes done; first pass: " + execs.filter(_.pass == 0).map(e =>
      f"${e.query} ${e.wallS}%.2f").mkString(", "))
    val wrong = QueryWorkload.check(spark, queries, cfg.dataDir,
      cfg.expected.filter(e => queries.contains(e._1)))
    log("checks done")
    val sum = QueryWorkload.summarize(execs, wrong.keySet)
    val layers = tracer.map { t =>
      org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
      val overhead = Stats.median(sum.tracedPassS) /
        Stats.median(sum.warmPassS)
      val (totals, profile) = Layers.queryTotals(t, sum.traced, overhead,
        t.cachedBytesNow)
      writeLines(new File(traceDir, "profile.jsonl"), profile)
      Layers.metrics(totals)
    }
    Outcome(sum.attempted, sum.failed, sum.firstPassS, sum.warmPassS,
      sum.opS,
      Seq("query_p50_s" -> Stats.median(sum.opS)),
      (wrong.toSeq.sorted.map { case (n, why) => s"$n: $why" } ++
        execs.flatMap(e => e.error.map(er => s"${e.query}: $er")).distinct),
      layers.getOrElse(ListMap.empty))
  }

  def runBackfill(spark: SparkSession, b: Config.BackfillCfg, a: Args,
      tracer: Option[Tracer], traceDir: File, workDir: String): Outcome = {
    val gen = DeftunesGen(a.seed, b.usersPerMonth, b.sessionsPerMonth,
      b.songsPerMonth, b.artists)
    val bf = new Backfill(spark, gen, b.months, workDir)
    var calls = Map.empty[String, Double]
    val all = try QueryWorkload.closedLoop(a.seconds, MinWarm,
      tracer.isDefined) { (rep, traced) =>
        // the single-layer calls run once, on the first traced
        // backfill's finished lake, after its windows were timed
        bf.run(rep, tracer.filter(_ => traced), atEnd = x =>
          if (traced && calls.isEmpty) {
            def med(f: => Unit) = Stats.median((1 to 3).map { _ =>
              val t = System.nanoTime(); f; (System.nanoTime() - t) / 1e9 })
            calls = Map("sources.ingest_s" -> med(x.ingestOnce()),
              "dq.eval_s" -> med(require(x.dqOnce(), "DQ gate failed")),
              "model.run_s" -> med(x.modelOnce()))
          })
          .tap(r => log(f"backfill $rep: windows " + r.windows.map(w =>
            f"${w.wallS}%.2f").mkString(" ")))
      } finally bf.close()
    val windows = all.flatMap(_.windows)
    val bad = windows.filter(_.error.isDefined)
    val okRuns = all.filter(_.windows.forall(_.error.isEmpty))
    val keep = QueryWorkload.steady(all.filter(_.span.isEmpty).map(_.index))
    val warm = okRuns.filter(r => keep.contains(r.index))
    val layers = tracer.map { t =>
      org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
      val keepTraced = QueryWorkload.steady(
        all.filter(_.span.isDefined).map(_.index))
      val traced = okRuns.filter(r => keepTraced.contains(r.index))
      val per = traced.map(r => Layers.ofBackfill(t, r))
      writeLines(new File(traceDir, "profile.jsonl"), per.flatMap(_._2))
      val keys = per.head._1.keys
      val med = keys.map(k => k -> Stats.median(per.map(_._1(k)))).toMap
      Layers.metrics(med ++ calls ++ Map(
        "trace.overhead_ratio" -> Stats.median(traced.map(_.wallS)) /
          Stats.median(warm.map(_.wallS)),
        "trace.ops" -> traced.map(_.windows.size).sum.toDouble))
    }
    val opS = warm.flatMap(_.windows.map(_.wallS))
    Outcome(windows.size, bad.size,
      all.find(_.index == 0).filter(okRuns.contains).map(_.wallS)
        .getOrElse(Double.NaN),
      warm.map(_.wallS), opS,
      Seq("backfill_s" -> Stats.median(warm.map(_.wallS)),
        "window_p50_s" -> Stats.median(opS)),
      bad.map(w => s"backfill ${w.backfill} ${w.label}: ${w.error.get}"),
      layers.getOrElse(ListMap.empty))
  }

  private val startMs =
    java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime

  /** A progress line on standard error, timed from process start. */
  def log(what: String): Unit = System.err.println(
    f"perfbench: ${(System.currentTimeMillis() - startMs) / 1e3}%.2f s $what")

  def writeLines(f: File, rows: Seq[Map[String, Any]]): Unit = {
    f.getParentFile.mkdirs()
    val pw = new PrintWriter(f, "UTF-8")
    try rows.foreach(r => pw.println(Json.render(
      ListMap(r.toSeq.sortBy(_._1): _*))))
    finally pw.close()
  }

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(deleteTree)
    f.delete()
  }
}
