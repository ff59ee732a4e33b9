package perfbench

import java.io.File
import java.time.LocalDate
import java.util.concurrent.Executors

import scala.concurrent.ExecutionContext

import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions.{col, count, lit}

import graft.pipeline.{Deftunes, LakePaths, PipelineResult, RunWindow}
import graft.sources.Source

/** One timed window: the API DAG's run then the songs DAG's run over
  * one monthly window (or the idempotent rerun of the first one). */
final case class WindowRun(backfill: Int, label: String, wallS: Double,
    apiS: Double, songsS: Double, error: Option[String], stagesRun: Int,
    attempts: Int, span: Option[Span] = None)

/** One backfill: both DeFtunes DAGs over consecutive monthly windows,
  * then an idempotent rerun of the first window, into a fresh lake and
  * warehouse (a catalog database of its own, dropped afterwards). */
final case class BackfillRun(index: Int, windows: Seq[WindowRun],
    payloadBytes: Long, lakeFiles: Long, span: Option[Span]) {
  def wallS: Double = windows.map(_.wallS).sum
}

final class Backfill(spark: SparkSession, gen: DeftunesGen, months: Int,
    workDir: String) {

  val payloads: IndexedSeq[MonthPayload] = (0 until months).map(gen.month)
  val windows: Seq[RunWindow] = RunWindow.monthly(gen.firstMonth,
    gen.firstMonth.plusMonths(months))
  val expected: Map[String, Long] = DeftunesGen.expectedCounts(payloads)

  private val pool = Executors.newFixedThreadPool(Sessions.nproc)
  private implicit val ec: ExecutionContext =
    ExecutionContext.fromExecutorService(pool)

  private def monthOf(d: LocalDate): Int =
    (d.getYear - gen.firstMonth.getYear) * 12 +
      d.getMonthValue - gen.firstMonth.getMonthValue

  @volatile private var songsMonth = 0
  private val songsSource = new Source {
    def read(s: SparkSession): DataFrame = {
      val lines = payloads(songsMonth).songsCsv.split("\n").toSeq
      s.read.option("header", "true").csv(s.createDataset(lines)(
        Encoders.STRING))
    }
  }

  private def dir(rep: Int) = s"$workDir/backfill-$rep"

  /** Row count of every table in [[expected]], in one query. */
  def tableCounts(): Map[String, Long] =
    expected.keys.toSeq.sorted
      .map(t => spark.table(t).agg(count(lit(1)).as("n"))
        .select(lit(t).as("t"), col("n")))
      .reduce(_ union _).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap

  /** Run backfill number `rep`. With a tracer, each window is a span
    * with one child per DAG run. `atEnd` runs against the finished
    * lake, before it is dropped. */
  def run(rep: Int, tracer: Option[Tracer],
      atEnd: Backfill => Unit = _ => ()): BackfillRun = {
    val sc = spark.sparkContext
    val db = s"perfbench_backfill_$rep"
    spark.sql(s"CREATE DATABASE $db LOCATION '${dir(rep)}/warehouse'")
    spark.catalog.setCurrentDatabase(db)
    try {
      val paths = LakePaths(s"${dir(rep)}/lake")
      val api = Deftunes.apiPipeline(spark, paths,
        (s, _) => payloads(monthOf(s)).users,
        (s, _) => payloads(monthOf(s)).sessions)
      val songs = Deftunes.songsPipeline(spark, paths, songsSource)
      val root = tracer.map(_.open(s"backfill $rep", -1))
      def timed(label: String, w: RunWindow): WindowRun = {
        val span = for (t <- tracer; r <- root) yield t.open(label, r.id)
        def dag(name: String)(body: => PipelineResult) = {
          val t0 = System.nanoTime()
          val res = (tracer, span) match {
            case (Some(t), Some(s)) => t.span(sc, name, s.id)(body)._1
            case _ => body
          }
          (res, (System.nanoTime() - t0) / 1e9)
        }
        val (a, aS) = dag("api")(api.run(w))
        songsMonth = monthOf(w.start)
        val (s, sS) = dag("songs")(songs.run(w))
        for (t <- tracer; sp <- span) t.close(sp)
        val reports = a.reports ++ s.reports
        WindowRun(rep, label, aS + sS, aS, sS,
          Backfill.windowError(Seq(a, s)),
          reports.count(_.attempts > 0), reports.map(_.attempts).sum, span)
      }
      val monthly = windows.map(w => timed(s"window ${w.start}", w))
      // checks, outside the timed windows: the serving tables hold what
      // the generator produced, and the rerun changes no row count
      val before = tableCounts()
      val countsOk = before == expected
      val rerun = timed(s"rerun ${windows.head.start}", windows.head)
      val after = tableCounts()
      for (t <- tracer; r <- root) t.close(r)
      val rerunChecked = rerun.copy(error = rerun.error
        .orElse(Backfill.rerunError(before, after)))
      val runs = (monthly :+ rerunChecked).map(w =>
        if (countsOk || w.error.isDefined) w
        else w.copy(error = Some(s"row counts $before, expected $expected")))
      atEnd(this)
      val bytes = payloads.map(_.bytes).sum + payloads.head.bytes
      BackfillRun(rep, runs, bytes, dataFiles(new File(dir(rep))), root)
    } finally {
      spark.catalog.setCurrentDatabase("default")
      spark.sql(s"DROP DATABASE IF EXISTS $db CASCADE")
      Main.deleteTree(new File(dir(rep)))
    }
  }

  def close(): Unit = pool.shutdown()

  private def dataFiles(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(dataFiles).sum
    else if (f.getName.startsWith(".") || f.getName.startsWith("_")) 0L
    else 1L

  // ---- single-layer calls, timed after a backfill ------------------

  /** `ApiSource(...).read` of one window's sessions payload, then
    * materialized. */
  def ingestOnce(): Unit = {
    val w = windows.head
    val df = graft.sources.ApiSource((s, _) => payloads(monthOf(s)).sessions,
      w.start, w.endInclusive).read(spark)
    QueryWorkload.timedAction(graft.transform.Transforms.explodeSessions(df))
  }

  /** `Dqdl.evaluate` with the three pipeline rulesets over the silver
    * tables; true when all pass. */
  def dqOnce(): Boolean = {
    import graft.dq.Dqdl
    Seq("transform_users" -> Dqdl.usersRuleset,
      "transform_sessions" -> Dqdl.sessionsRuleset,
      "transform_songs" -> Dqdl.songsRuleset).forall { case (t, rs) =>
      Dqdl.evaluate(spark.table(t), rs).passed
    }
  }

  def modelOnce(): Unit = Deftunes.modelingRun(spark)
}

/** The rules that make a window a failed operation. */
object Backfill {
  /** A window fails when any stage of its DAG runs failed: it threw
    * after its retries, was skipped, or is a DQ gate that failed. */
  def windowError(rs: Seq[PipelineResult]): Option[String] =
    rs.flatMap(_.reports).collectFirst {
      case r if r.outcome.isFailure =>
        s"stage ${r.stage}: ${r.outcome.failed.get.getMessage}"
    }

  /** A rerun fails when it changed any table's row count. */
  def rerunError(before: Map[String, Long],
      after: Map[String, Long]): Option[String] =
    if (after == before) None
    else Some(s"rerun changed row counts: $before -> $after")
}
