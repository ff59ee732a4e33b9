package perfbench

import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One timed query execution: its three phases and, when it threw, the
  * exception. `span` is the execution's span in a traced pass. */
final case class Exec(query: String, pass: Int, traced: Boolean,
    buildS: Double, planS: Double, execS: Double, error: Option[String],
    span: Option[Span] = None) {
  def wallS: Double = buildS + planS + execS
}

/** Runs slate queries the way a user pays for them. Each execution is
  * timed from outside, through public entry points only:
  *
  *  - build: the `SparkEntry.queries` builder, `fn(spark, dir)` — this
  *    includes any eager action and parquet schema inference it does;
  *  - plan: `df.queryExecution.executedPlan`;
  *  - exec: [[timedAction]], which writes every row and column of the
  *    result to Spark's `noop` sink, then `Dedup.releaseCaches()` as
  *    `graft.Bench` and `graft.Verify` call it after every query.
  */
object QueryWorkload {
  type QueryFn = (SparkSession, String) => DataFrame

  /** The timed action. Never `count()`: Catalyst prunes every column a
    * count does not need, and with it any work (a UDF, a left join on a
    * unique key) that only feeds such a column. */
  val timedAction: DataFrame => Unit =
    df => df.write.format("noop").mode("overwrite").save()

  /** The query order of pass `pass` under `seed`. Pass 0 runs in name
    * order: whichever query runs first in a JVM pays for its first
    * parquet scan and code generation, so a seeded first order would
    * make the first pass's time depend on the seed. */
  def order(names: Seq[String], seed: Long, pass: Int): Seq[String] =
    if (pass == 0) names.sorted
    else new Random(seed * 1000003L + pass).shuffle(names.sorted)

  private def elapsed(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def execute(spark: SparkSession, name: String, fn: QueryFn,
      dataDir: String, pass: Int, action: DataFrame => Unit,
      tracer: Option[Tracer]): Exec = {
    val sc = spark.sparkContext
    def phase[T](op: Option[Span], label: String)(body: => T): T =
      (tracer, op) match {
        case (Some(t), Some(o)) => t.span(sc, label, o.id)(body)._1
        case _ => body
      }
    val op = tracer.map(_.open(s"query $name", -1))
    var (b, p, e) = (0.0, 0.0, 0.0)
    val error = try {
      var t = System.nanoTime()
      val df = phase(op, "build")(fn(spark, dataDir))
      b = elapsed(t); t = System.nanoTime()
      phase(op, "plan")(df.queryExecution.executedPlan)
      p = elapsed(t); t = System.nanoTime()
      phase(op, "exec") {
        try action(df) finally graft.dedup.Dedup.releaseCaches()
      }
      e = elapsed(t)
      None
    } catch {
      case ex: Throwable => Some(s"${ex.getClass.getSimpleName}: " +
        String.valueOf(ex.getMessage).take(200))
    }
    for (t <- tracer; o <- op) t.close(o)
    Exec(name, pass, tracer.isDefined, b, p, e, error, op)
  }

  def runPass(spark: SparkSession, queries: Map[String, QueryFn],
      dataDir: String, seed: Long, pass: Int,
      tracer: Option[Tracer]): Seq[Exec] =
    order(queries.keys.toSeq, seed, pass).map(n =>
      execute(spark, n, queries(n), dataDir, pass, timedAction, tracer))

  /** The closed loop both kinds of workload run: one client, passes
    * back to back. Pass 0 is the first pass in the JVM. Warm passes
    * follow while the next one, taking as long as the last, would end
    * within `seconds` of the first warm pass's start; there are at least
    * `minWarm` (twice that with tracing, which alternates untraced and
    * traced passes, so the tracing overhead is measured in the same
    * run). `pass(n, traced)` runs pass `n`. */
  def closedLoop[T](seconds: Double, minWarm: Int, tracing: Boolean)(
      pass: (Int, Boolean) => T): Seq[T] = {
    val first = pass(0, false)
    val warmStart = System.nanoTime()
    val need = minWarm * (if (tracing) 2 else 1)
    val out = Seq.newBuilder[T] += first
    var n = 1
    var lastS = 0.0
    while (n <= need || elapsed(warmStart) + lastS <= seconds) {
      val t = System.nanoTime()
      out += pass(n, tracing && n % 2 == 0)
      lastS = elapsed(t)
      n += 1
    }
    out.result()
  }

  /** The warm passes whose times count: the later half, after the
    * earlier half has let the JIT compiler settle. */
  def steady(passes: Seq[Int]): Set[Int] = {
    val warm = passes.filter(_ > 0).distinct.sorted
    warm.drop(warm.size / 2).toSet
  }

  def runLoop(spark: SparkSession, queries: Map[String, QueryFn],
      dataDir: String, seed: Long, seconds: Double, minWarm: Int,
      tracer: Option[Tracer]): Seq[Exec] =
    closedLoop(seconds, minWarm, tracer.isDefined) { (n, traced) =>
      runPass(spark, queries, dataDir, seed, n, tracer.filter(_ => traced))
    }.flatten

  /** Queries whose result does not match its pinned fingerprint, with
    * what was seen. Each query is run and checked once, untimed. */
  def check(spark: SparkSession, queries: Map[String, QueryFn],
      dataDir: String, expected: Map[String, Fingerprint])
      : Map[String, String] =
    queries.toSeq.sortBy(_._1).flatMap { case (n, fn) =>
      val seen = try Right(Fingerprint.of(fn(spark, dataDir)))
        catch { case ex: Throwable => Left(ex.getClass.getSimpleName) }
        finally graft.dedup.Dedup.releaseCaches()
      (seen, expected.get(n)) match {
        case (Right(f), Some(want)) if f == want => None
        case (Right(f), want) => Some(n -> s"got $f, pinned $want")
        case (Left(err), _) => Some(n -> s"check threw $err")
      }
    }.toMap

  /** The executions that count as failed: those that threw, and every
    * execution of a query whose result is wrong. */
  def failed(execs: Seq[Exec], wrong: Set[String]): Seq[Exec] =
    execs.filter(e => e.error.isDefined || wrong.contains(e.query))

  /** Timings over the executions that did not fail: pass 0's time, and
    * the time of each [[steady]] warm pass and of each execution in one,
    * untraced and traced apart. A pass's time is the sum of its
    * executions' times, so a failed execution adds nothing to it. */
  final case class Summary(attempted: Int, failed: Int, firstPassS: Double,
      warmPassS: Seq[Double], opS: Seq[Double], tracedPassS: Seq[Double],
      traced: Seq[Exec])

  def summarize(execs: Seq[Exec], wrong: Set[String]): Summary = {
    val bad = failed(execs, wrong).toSet
    val ok = execs.filterNot(bad)
    def passTimes(xs: Seq[Exec]) =
      xs.groupBy(_.pass).toSeq.sortBy(_._1).map(_._2.map(_.wallS).sum)
    def counted(traced: Boolean) = {
      val xs = execs.filter(_.traced == traced)
      val keep = steady(xs.map(_.pass))
      ok.filter(e => e.traced == traced && keep.contains(e.pass))
    }
    val warm = counted(traced = false)
    Summary(execs.size, bad.size, ok.filter(_.pass == 0).map(_.wallS).sum,
      passTimes(warm), warm.map(_.wallS), passTimes(counted(traced = true)),
      counted(traced = true))
  }
}
