package perfbench

import java.io.File

import com.fasterxml.jackson.databind.JsonNode

/** `perfbench/workloads.json` (workload definitions and their records)
  * and `perfbench/expected.json` (pinned query results). */
final case class Config(dataDir: String,
    workloads: Map[String, Config.Workload],
    expected: Map[String, Fingerprint]) {
  def workload(name: String): Config.Workload = workloads.getOrElse(name,
    throw new IllegalArgumentException(
      s"unknown workload $name; known: ${workloads.keys.toSeq.sorted.mkString(", ")}"))
}

object Config {
  sealed trait Workload
  final case class Queries(queries: Seq[String]) extends Workload
  final case class BackfillCfg(months: Int, usersPerMonth: Int,
      sessionsPerMonth: Int, songsPerMonth: Int, artists: Int)
      extends Workload

  def load(root: String): Config = {
    val w = Json.read(new File(s"$root/perfbench/workloads.json"))
    val e = Json.read(new File(s"$root/perfbench/expected.json"))
    def workload(n: JsonNode): Workload = n.get("kind").asText() match {
      case "queries" => Queries(Json.strings(n.get("queries")))
      case "backfill" =>
        val in = n.get("inputs")
        BackfillCfg(in.get("months").asInt(), in.get("users_per_month").asInt(),
          in.get("sessions_per_month").asInt(),
          in.get("songs_per_month").asInt(), in.get("artists").asInt())
    }
    Config(s"$root/${w.get("data_dir").asText()}",
      Json.fields(w.get("workloads")).map { case (k, v) => k -> workload(v) }
        .toMap,
      Json.fields(e.get("queries")).map { case (k, v) =>
        k -> Fingerprint(v.get("rows").asLong(), v.get("hash").asText())
      }.toMap)
  }
}
