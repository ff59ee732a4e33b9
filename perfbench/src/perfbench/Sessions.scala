package perfbench

import java.lang.management.ManagementFactory

import org.apache.spark.sql.SparkSession

/** The session every workload runs in: one process, `local[nproc]`,
  * `spark.sql.shuffle.partitions = nproc` and the engine's
  * [[graft.functions.GraftExtensions]], as `graft.Verify` and
  * `graft.Bench` build it. Scratch space (warehouse, shuffle files)
  * lives under the run's work directory. */
object Sessions {

  val nproc: Int = Runtime.getRuntime.availableProcessors()

  def create(workDir: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$nproc]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", nproc.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$workDir/warehouse")
      .config("spark.local.dir", s"$workDir/spark-local")
      .withExtensions(new graft.functions.GraftExtensions)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** The trivial job that ends a set-up. */
  def trivialJob(spark: SparkSession): Unit =
    require(spark.range(0, 1000, 1, nproc).selectExpr("sum(id)")
      .collect().head.getLong(0) == 499500L)

  def stop(spark: SparkSession): Unit = {
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  /** Create the session and run [[trivialJob]] in it; the set-up time
    * is from process start (the JVM's start time) until that job ends,
    * what one `spark-submit` pays before its first query. */
  def setUp(workDir: String): (SparkSession, Double) = {
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val mainMs = System.currentTimeMillis()
    val spark = create(workDir)
    val sessionMs = System.currentTimeMillis()
    trivialJob(spark)
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    System.err.println(s"perfbench: set-up from process start: main at " +
      s"${(mainMs - jvmStartMs) / 1e3} s, session at " +
      s"${(sessionMs - jvmStartMs) / 1e3} s, first job done at $setupS s")
    (spark, setupS)
  }

  /** Driver heap in use after a full collection, in MB. The pause
    * between collections lets Spark's context cleaner drop the
    * broadcast and shuffle state the first one found unreachable. */
  def retainedHeapMb(): Double = {
    val mem = ManagementFactory.getMemoryMXBean
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(300) }
    System.gc()
    mem.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
  }
}
