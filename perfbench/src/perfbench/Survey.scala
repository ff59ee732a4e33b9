package perfbench

import java.io.File

import scala.collection.immutable.ListMap

/** The traced survey the workloads are selected from:
  *
  *   Survey ROOT OUT_JSONL WARM [query ...]
  *
  * Runs each slate query (all of them by default, in name order) once
  * cold, `WARM` times warm and traced, and once count-timed (the
  * action `graft.Bench` times), then fingerprints its result. Writes
  * one JSON object per query. */
object Survey {
  def main(argv: Array[String]): Unit = {
    val Array(root, out, warmS) = argv.take(3)
    val only = argv.drop(3).toSet
    val cfg = Config.load(root)
    val workDir = s"$root/.bench_build/work/survey"
    val (spark, _) = Sessions.setUp(workDir)
    val t = new Tracer("survey")
    spark.sparkContext.addSparkListener(t)
    val slate = graft.SparkEntry.queries.toSeq.sortBy(_._1)
      .filter(q => only.isEmpty || only.contains(q._1))
    val rows = slate.map { case (name, fn) =>
      def run(action: org.apache.spark.sql.DataFrame => Unit) =
        QueryWorkload.execute(spark, name, fn, cfg.dataDir, 0, action,
          Some(t))
      val cold = run(QueryWorkload.timedAction)
      val warm = (1 to warmS.toInt).map(_ => run(QueryWorkload.timedAction))
      val counted = run(df => df.count())
      val fp = try Right(Fingerprint.of(fn(spark, cfg.dataDir)))
        catch { case e: Throwable => Left(e.toString) }
        finally graft.dedup.Dedup.releaseCaches()
      org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
      val err = (cold +: counted +: warm).flatMap(_.error).headOption
      val layers = if (err.isDefined) Map.empty[String, Double] else {
        val per = warm.map(e => Layers.ofQuery(t, e))
        per.head.keys.map(k => k -> Stats.median(per.map(_(k)))).toMap
      }
      val r = ListMap[String, Any]("query" -> name,
        "cold_s" -> cold.wallS,
        "warm_s" -> Stats.median(warm.map(_.wallS)),
        "count_timed_s" -> counted.wallS,
        "rows" -> fp.toOption.map(_.rows), "hash" -> fp.toOption.map(_.hash),
        "error" -> err.orElse(fp.left.toOption)) ++
        ListMap(layers.toSeq.sortBy(_._1): _*)
      System.err.println(Json.render(r))
      r
    }
    Main.writeLines(new File(out), rows.map(_.toMap))
    Sessions.stop(spark)
    Main.deleteTree(new File(workDir))
  }
}
