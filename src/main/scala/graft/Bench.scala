package graft
import org.apache.spark.sql.SparkSession

/** The 192-query slate timer: one cold pass, then the median of
  * `SPARK_GRAFT_BENCH_RUNS` warm runs per query, printed as two JSON
  * lines. It times and reports; whether a change is a gain or a
  * regression is decided by paired `perfbench/run.py` runs, and
  * `perfbench --trace 1` gives the per-query layer split. */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      // pin UTC like Verify: events carry TIMESTAMP_NTZ-cast values, so
      // time-window/band-join selectivity (hence timings) must not
      // depend on the host timezone
      .config("spark.sql.session.timeZone", "UTC")
      // same extensions as Verify: bench times the plans users get
      .withExtensions(new graft.functions.GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // warm up the session once (codegen compiler, parquet footer reader,
    // shuffle machinery) so the first timed query isn't charged ~3s of
    // one-time JVM setup
    spark.range(1000).selectExpr("sum(id)").collect()
    try spark.read.parquet(s"$sfDir/nation.parquet").count()
    catch { case _: Throwable => () }

    // optional comma-separated filter: bench only the named queries
    // (targeted same-session A/B runs; full slate when unset)
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    def slate = SparkEntry.queries
      .filter { case (n, _) => only.forall(_.contains(n)) }

    // One timed run; a query that THROWS is reported as an error marker,
    // not as a fast-looking time-to-crash (a silently broken query must
    // never read as a speedup in the artifact).
    def timed(fn: (SparkSession, String) => org.apache.spark.sql.DataFrame)
        : (Double, Option[String]) = {
      val t0 = System.nanoTime()
      val err =
        try { fn(spark, sfDir).count(); None }
        catch { case e: Throwable => Some(e.getClass.getSimpleName) }
        finally graft.dedup.Dedup.releaseCaches()
      ((System.nanoTime() - t0) / 1e9, err)
    }

    // COLD pass: each query's first run in this JVM at the full bench
    // SF — single-shot, codegen compilation included. It doubles as the
    // per-query codegen warmup for the median pass below (Janino caches
    // generated classes per JVM).
    val cold = slate.map { case (name, fn) => name -> timed(fn) }.toMap

    // settle the JVM between the cold pass and the timed warm pass:
    // drop leftover cached blocks and let the old-gen collect, so warm
    // queries aren't charged the cold pass's garbage
    spark.catalog.clearCache()
    System.gc()

    // Median of N runs per query (default 3), with the spread (max-min)
    // so a reader can see how noisy each query was. Clamped to >= 1 (0
    // would crash after the whole cold pass); for even N the LOWER
    // median is reported.
    val runsPerQuery =
      sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "3").toInt.max(1)
    val results = slate.map { case (name, fn) =>
      val samples = (1 to runsPerQuery).map(_ => timed(fn))
      val times = samples.map(_._1).sorted
      val median = times((times.size - 1) / 2)
      val err = (cold(name)._2.toSeq ++ samples.flatMap(_._2)).headOption
      name -> (median, times.last - times.head, err)
    }.toMap
    def fmt(sel: ((Double, Double, Option[String])) => Double) = results
      .map { case (k, v) => "\"" + k + "\":" + sel(v) }
      .mkString("{", ",", "}")
    val qs = fmt(_._1)
    val spreads = fmt(_._2)
    val colds = cold.map { case (k, v) => "\"" + k + "\":" + v._1 }
      .mkString("{", ",", "}")
    // err carries ONLY failing queries (usually {}): exception class per
    // query, from whichever of its cold/warm runs failed first
    val errs = results.collect { case (k, (_, _, Some(e))) =>
      "\"" + k + "\":\"" + e + "\""
    }.mkString("{", ",", "}")
    val total = results.values.map(_._1).sum
    val coldTotal = cold.values.map(_._1).sum
    val errCount = results.values.count(_._3.isDefined)
    // Consumers may keep only the TAIL of stdout, so the big per-query
    // maps go FIRST and a compact totals-only line comes LAST.
    println(s"""{"metric":"total","unit":"sec","sf":"$sfDir","runs_per_query":$runsPerQuery,"queries":$qs,"spread":$spreads,"cold":$colds,"value":$total,"cold_total":$coldTotal,"err":$errs}""")
    println(s"""{"metric":"totals","warm":$total,"cold":$coldTotal,"err_count":$errCount,"n_queries":${results.size},"sf":"$sfDir"}""")
    spark.stop()
  }
}
