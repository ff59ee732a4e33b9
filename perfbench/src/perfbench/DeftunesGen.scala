package perfbench

import java.time.LocalDate

import scala.collection.mutable

/** One month of generated DeFtunes source data: the users and sessions
  * API response bodies (JSON arrays, as the reference's API returns
  * them) and the songs table extract (CSV with header). */
final case class MonthPayload(month: Int, users: String, sessions: String,
    songsCsv: String, nUsers: Int, nItems: Int, nSongs: Int,
    artists: Set[String]) {
  def bytes: Long = Seq(users, sessions, songsCsv)
    .map(_.getBytes("UTF-8").length.toLong).sum
}

/** Deterministic generator of the DeFtunes API and songs inputs. The
  * same (seed, month) always gives byte-identical payloads; every
  * value satisfies the reference's DQ rulesets (36-character user and
  * session ids, 18-character song and track ids, prices at most 2). */
final case class DeftunesGen(seed: Long, usersPerMonth: Int,
    sessionsPerMonth: Int, songsPerMonth: Int, artists: Int) {

  val firstMonth: LocalDate = LocalDate.parse("2020-01-01")

  private val names = Vector("Ada", "Bo", "Cyd", "Dee", "Eli", "Fay",
    "Gus", "Hal", "Ivy", "Jo", "Kai", "Lu", "Mo", "Ned", "Oz", "Pia")
  private val lastNames = Vector("Ng", "Ortiz", "Park", "Quinn", "Rossi",
    "Sato", "Tan", "Ueda", "Vega", "Wu", "Xu", "Yilmaz", "Zhou", "Abe")
  private val places = Vector(
    ("40.71", "-74.00", "New York", "US", "America/New_York"),
    ("51.51", "-0.13", "London", "GB", "Europe/London"),
    ("35.68", "139.69", "Tokyo", "JP", "Asia/Tokyo"),
    ("-23.55", "-46.63", "Sao Paulo", "BR", "America/Sao_Paulo"),
    ("48.86", "2.35", "Paris", "FR", "Europe/Paris"),
    ("19.43", "-99.13", "Mexico City", "MX", "America/Mexico_City"))
  private val agents = Vector("Mozilla/5.0 (X11; Linux x86_64)",
    "Mozilla/5.0 (Macintosh; Intel Mac OS X 10_15_7)",
    "Mozilla/5.0 (iPhone; CPU iPhone OS 16_0 like Mac OS X)")
  private val prices = Vector("0.99", "1.29", "1.99")

  private def id36(kind: Int, month: Int, i: Int, r: java.util.Random) =
    f"${r.nextInt() & 0x7fffffff}%08x-$kind%04x-4${month & 0xfff}%03x-" +
      f"${8 + r.nextInt(4)}%x${r.nextInt(4096)}%03x-${i.toLong}%012x"

  private def id18(prefix: String, key: Long): String =
    prefix + f"$key%016X"

  def artistId(a: Int): String = id18("AR", seed * 100003L + a)

  def month(m: Int): MonthPayload = {
    val r = new java.util.Random(seed * 7919L + m)
    val start = firstMonth.plusMonths(m)
    val days = start.lengthOfMonth()
    // songs: new catalogue entries this month
    val songs = (0 until songsPerMonth).map { i =>
      val a = r.nextInt(artists)
      val songId = id18("SO", (seed << 24) ^ (m.toLong << 20) ^ i)
      (songId, id18("TR", (seed << 24) ^ (m.toLong << 20) ^ i ^ 0xABCDEL),
        s"Song $m-$i", s"Release ${i % 97}", (1960 + r.nextInt(60)).toString,
        artistId(a), s"mbid-$a", s"Artist $a",
        f"${120 + r.nextInt(300)}.${r.nextInt(100)}%02d",
        f"0.${r.nextInt(100)}%02d", f"0.${r.nextInt(100)}%02d",
        (1000 + r.nextInt(900000)).toString, r.nextInt(10).toString,
        r.nextInt(1000).toString)
    }
    val songsCsv = ("song_id,track_id,title,release,year,artist_id," +
      "artist_mbid,artist_name,duration,artist_familiarity," +
      "artist_hotttnesss,track_7digitalid,shs_perf,shs_work") +:
      songs.map(_.productIterator.mkString(","))
    val userIds = (0 until usersPerMonth).map(i => id36(1, m, i, r))
    val users = userIds.map { u =>
      val (lat, lon, place, cc, tz) = places(r.nextInt(places.size))
      s"""{"user_id":"$u","user_lastname":"${lastNames(r.nextInt(
        lastNames.size))}","user_name":"${names(r.nextInt(names.size))}",""" +
        s""""user_since":"${LocalDate.parse("2015-01-01")
          .plusDays(r.nextInt(1800))}",""" +
        s""""user_location":["$lat","$lon","$place","$cc","$tz"]}"""
    }
    var items = 0
    val sessions = (0 until sessionsPerMonth).map { i =>
      val n = 1 + r.nextInt(4)
      items += n
      val day = 1 + r.nextInt(days)
      val ts = f"${start.getYear}-${start.getMonthValue}%02d-$day%02dT" +
        f"${r.nextInt(24)}%02d:${r.nextInt(60)}%02d:${r.nextInt(60)}%02d"
      val basket = (0 until n).map { _ =>
        val s = songs(r.nextInt(songs.size))
        s"""{"song_id":"${s._1}","song_name":"${s._3}",""" +
          s""""artist_id":"${s._6}","artist_name":"${s._8}",""" +
          s""""price":${prices(r.nextInt(prices.size))},""" +
          s""""currency":"USD","liked":${r.nextBoolean()},""" +
          s""""liked_since":"${start.plusDays(r.nextInt(days))}"}"""
      }
      s"""{"user_id":"${userIds(r.nextInt(userIds.size))}",""" +
        s""""session_id":"${id36(2, m, i, r)}",""" +
        s""""session_start_time":"$ts",""" +
        s""""user_agent":"${agents(r.nextInt(agents.size))}",""" +
        s""""session_items":${basket.mkString("[", ",", "]")}}"""
    }
    MonthPayload(m, users.mkString("[", ",", "]"),
      sessions.mkString("[", ",", "]"), songsCsv.mkString("", "\n", "\n"),
      usersPerMonth, items, songsPerMonth, songs.map(s => s._6).toSet)
  }
}

/** Row counts every table must hold after months `0 until n` landed. */
object DeftunesGen {
  def expectedCounts(months: Seq[MonthPayload]): Map[String, Long] = {
    val artists = mutable.Set.empty[String]
    months.foreach(artists ++= _.artists)
    val users = months.map(_.nUsers.toLong).sum
    val items = months.map(_.nItems.toLong).sum
    val songs = months.map(_.nSongs.toLong).sum
    Map("transform_users" -> users, "transform_sessions" -> items,
      "transform_songs" -> songs, "serving_dim_users" -> users,
      "serving_fact_session" -> items, "serving_dim_songs" -> songs,
      "serving_dim_artists" -> artists.size.toLong)
  }
}
