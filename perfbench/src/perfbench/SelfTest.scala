package perfbench

import java.security.MessageDigest

import scala.concurrent.ExecutionContext.Implicits.global
import scala.util.Try

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.dq.Dqdl
import graft.pipeline.{GateFailed, Pipeline, RunWindow, Stage, StageOk}
import graft.transform.Transforms

/** The benchmark's own tests (`python3 perfbench/run.py --tool
  * selftest`). Each check prints PASS or FAIL; any FAIL exits 1. */
object SelfTest {
  private var failures = 0

  private def check(name: String)(ok: => Boolean): Unit = {
    val res = Try(ok)
    val pass = res.getOrElse(false)
    if (!pass) failures += 1
    println(s"${if (pass) "PASS" else "FAIL"} $name" +
      res.failed.toOption.map(e => s" ($e)").getOrElse(""))
  }

  def main(argv: Array[String]): Unit = {
    statistics()
    val workDir = new java.io.File(".bench_build/work/selftest")
      .getAbsolutePath
    val (spark, _) = Sessions.setUp(workDir)
    try {
      noPruning(spark)
      cacheAccounting(spark)
      failureCounting(spark)
      seededInputs(spark)
      backfillChecks(spark, workDir)
    } finally {
      Sessions.stop(spark)
      Main.deleteTree(new java.io.File(workDir))
    }
    println(s"selftest: ${if (failures == 0) "all passed" else s"$failures failed"}")
    if (failures > 0) sys.exit(1)
  }

  def statistics(): Unit = {
    check("median of odd and even sample counts") {
      Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0 &&
        Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5 &&
        Stats.median(Seq(7.0)) == 7.0
    }
    check("median of no samples is refused") {
      Try(Stats.median(Nil)).isFailure
    }
    check("nearest-rank percentile") {
      val xs = (1 to 100).map(_.toDouble)
      Stats.percentile(xs, 0.9) == 90.0 && Stats.percentile(xs, 0.5) == 50.0 &&
        Stats.percentile(xs, 1.0) == 100.0 &&
        Stats.percentile(xs, 0.001) == 1.0
    }
    check("a percentile keeps at least 10 samples beyond it") {
      (11 to 400).forall { n =>
        val xs = (1 to n).map(_.toDouble)
        val (v, rank) = Stats.highestSupported(xs, 0.9)
        rank <= 0.9 && (rank == 0.5 || xs.count(_ > v) >= 10)
      }
    }
    check("p90 is supported from 100 samples, capped below that") {
      Stats.supportedRank(100, 0.9).contains(0.9) &&
        Stats.supportedRank(99, 0.9).exists(_ < 0.9) &&
        Stats.supportedRank(50, 0.9).contains(0.8) &&
        Stats.supportedRank(10, 0.9).isEmpty
    }
    check("too few samples fall back to the median") {
      val xs = (1 to 15).map(_.toDouble)
      Stats.highestSupported(xs, 0.9) == (8.0, 0.5) &&
        Stats.highestSupported(Seq(1.0, 2.0, 3.0), 0.9) == (2.0, 0.5)
    }
  }

  /** Rows a UDF saw when `action` ran over a query that projects the
    * UDF's column, directly and through a left join on a unique key
    * (the `q_triangle_count` shape): both must be every row. */
  def udfCallsUnder(spark: SparkSession, action: DataFrame => Unit)
      : (Long, Long) = {
    val calls = spark.sparkContext.longAccumulator("udf calls")
    val counted = udf((x: Long) => { calls.add(1); x * 2 })
    val n = 5000L
    calls.reset()
    action(spark.range(0, n, 1, 4).select(col("id"),
      counted(col("id")).as("twice")))
    val direct = calls.value
    val keys = spark.range(0, n, 1, 4).toDF("k")
    val perKey = spark.range(0, 2 * n, 1, 4)
      .select((col("id") % n).as("k"), counted(col("id")).as("v"))
      .groupBy("k").agg(max("v").as("m"))
    calls.reset()
    action(keys.join(perKey, Seq("k"), "left"))
    (direct, calls.value)
  }

  def noPruning(spark: SparkSession): Unit = {
    check("the timed action computes the UDF column for every row") {
      udfCallsUnder(spark, QueryWorkload.timedAction) == (5000L, 10000L)
    }
    check("the same check fails when the timed action is count()") {
      udfCallsUnder(spark, df => { df.count(); () }) != (5000L, 10000L)
    }
  }

  /** The tracer's cached-bytes count follows an unpersist the way
    * `Dedup.releaseCaches()` issues it (non-blocking). */
  def cacheAccounting(spark: SparkSession): Unit = {
    val sc = spark.sparkContext
    val t = new Tracer("selftest")
    sc.addSparkListener(t)
    try {
      val df = spark.range(0, 100000, 1, 4).selectExpr("id", "id * 2 AS y")
        .persist()
      QueryWorkload.timedAction(df)
      org.apache.spark.PerfbenchBus.drain(sc)
      val cached = t.cachedBytesNow
      df.unpersist(false)
      org.apache.spark.PerfbenchBus.drain(sc)
      check("cached bytes return to 0 after an unpersist") {
        cached > 0 && t.cachedBytesNow == 0
      }
    } finally sc.removeSparkListener(t)
  }

  def failureCounting(spark: SparkSession): Unit = {
    val queries: Map[String, QueryWorkload.QueryFn] = Map(
      "ok" -> ((s, _) => s.range(10).toDF("x")),
      "throws" -> ((_, _) => throw new IllegalStateException("stub")),
      "throws_at_exec" -> ((s, _) => s.range(10).toDF("x")
        .select(udf((x: Long) => { require(x < 5, "stub"); x })
          .apply(col("x")).as("x"))),
      "wrong" -> ((s, _) => s.range(11).toDF("x")))
    val right = Fingerprint.of(spark.range(10).toDF("x"))
    val expected = Map("ok" -> right, "wrong" -> right,
      "throws_at_exec" -> right)
    val execs = QueryWorkload.runLoop(spark, queries, "", 7L, 0.0, 4,
      None)
    val wrong = QueryWorkload.check(spark, queries, "", expected)
    val sum = QueryWorkload.summarize(execs, wrong.keySet)
    val okExecs = execs.filter(_.query == "ok")
    // pass 0 and 4 warm passes, of which passes 3 and 4 count
    val counted = okExecs.filter(_.pass >= 3)
    check("throwing and wrong-result queries are failed operations") {
      wrong.keySet == Set("throws", "throws_at_exec", "wrong") &&
        sum.attempted == 20 && sum.failed == 15
    }
    check("failed operations add no time to any timing") {
      sum.opS.sorted == counted.map(_.wallS).sorted &&
        sum.warmPassS.size == 2 &&
        sum.firstPassS == okExecs.filter(_.pass == 0).map(_.wallS).sum &&
        sum.warmPassS.sum == counted.map(_.wallS).sum
    }
    check("the later half of the warm passes counts") {
      QueryWorkload.steady(Seq(0, 1, 2, 3, 4, 5)) == Set(3, 4, 5) &&
        QueryWorkload.steady(Seq(0, 1, 1, 2)) == Set(2) &&
        QueryWorkload.steady(Seq(0, 1)) == Set(1)
    }
    check("a correct result passes its fingerprint check") {
      QueryWorkload.check(spark, queries.filter(_._1 == "ok"), "",
        expected).isEmpty
    }
    check("the fingerprint ignores row and column order") {
      val a = spark.range(100).selectExpr("id", "id * 3 AS y")
      val b = spark.range(100).selectExpr("id * 3 AS y", "id")
        .orderBy(col("id").desc)
      Fingerprint.of(a) == Fingerprint.of(b) &&
        Fingerprint.of(a) != Fingerprint.of(a.where("id < 99"))
    }
    val w = RunWindow.monthly(java.time.LocalDate.parse("2020-01-01"),
      java.time.LocalDate.parse("2020-02-01")).head
    def pipeline(outcome: => graft.pipeline.StageOutcome) =
      new Pipeline("stub", Seq(Stage("a")(_ => StageOk),
        Stage("b", Seq("a"))(_ => outcome))).run(w)
    check("a window with a failed DQ gate or stage is a failed operation") {
      Backfill.windowError(Seq(pipeline(StageOk))).isEmpty &&
        Backfill.windowError(Seq(pipeline(GateFailed("dq")))).isDefined &&
        Backfill.windowError(Seq(pipeline(sys.error("stub")))).isDefined
    }
    check("a rerun that changes a row count is a failed operation") {
      Backfill.rerunError(Map("t" -> 3L), Map("t" -> 3L)).isEmpty &&
        Backfill.rerunError(Map("t" -> 3L), Map("t" -> 4L)).isDefined
    }
  }

  private def sha(m: MonthPayload): String =
    MessageDigest.getInstance("SHA-256")
      .digest((m.users + m.sessions + m.songsCsv).getBytes("UTF-8"))
      .map("%02x".format(_)).mkString

  def seededInputs(spark: SparkSession): Unit = {
    def gen(seed: Long) = DeftunesGen(seed, 200, 300, 150, 40)
    check("the same seed gives byte-identical payloads") {
      (0 until 2).forall(m => sha(gen(5).month(m)) == sha(gen(5).month(m)))
    }
    check("another seed gives other payloads") {
      sha(gen(5).month(0)) != sha(gen(6).month(0))
    }
    val names = (1 to 40).map(i => s"q$i")
    check("the seed sets the warm passes' query order; pass 0 runs by name") {
      QueryWorkload.order(names, 5, 3) == QueryWorkload.order(names, 5, 3) &&
        QueryWorkload.order(names, 5, 3) != QueryWorkload.order(names, 6, 3) &&
        QueryWorkload.order(names, 5, 3) != QueryWorkload.order(names, 5, 4) &&
        QueryWorkload.order(names, 5, 3).sorted == names.sorted &&
        QueryWorkload.order(names, 5, 0) == names.sorted
    }
    import spark.implicits._
    val m = gen(5).month(1)
    def json(s: String) = spark.read.json(Seq(s).toDS())
    check("generated users pass the users ruleset") {
      Dqdl.evaluate(Transforms.flattenUserLocation(json(m.users)),
        Dqdl.usersRuleset).passed
    }
    check("generated sessions pass the sessions ruleset") {
      val items = Transforms.explodeSessions(json(m.sessions))
      items.count() == m.nItems &&
        Dqdl.evaluate(items, Dqdl.sessionsRuleset).passed
    }
    check("generated songs pass the songs ruleset") {
      val songs = Transforms.enforceSongsSchema(spark.read
        .option("header", "true").csv(m.songsCsv.split("\n").toSeq.toDS()))
      songs.count() == m.nSongs &&
        Dqdl.evaluate(songs, Dqdl.songsRuleset).passed
    }
  }

  def backfillChecks(spark: SparkSession, workDir: String): Unit = {
    val bf = new Backfill(spark, DeftunesGen(3, 100, 150, 80, 20), 2,
      workDir)
    try {
      val run = bf.run(0, None)
      check("a small backfill succeeds and holds the generated row counts") {
        run.windows.size == 3 && run.windows.forall(_.error.isEmpty)
      }
    } finally bf.close()
  }
}
