package graftbench

import java.sql.Timestamp
import java.time.Instant
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable

/** Deterministic hashing: every generated value is a pure function of
  * the seed and the value's coordinates, so payloads do not depend on
  * the order in which concurrent requests arrive.
  */
object Mix {
  private def splitmix(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  def apply(xs: Long*): Long = xs.foldLeft(0x5DEECE66DL)((h, x) => splitmix(h ^ x))
  def below(n: Int, xs: Long*): Int = java.lang.Math.floorMod(apply(xs: _*), n.toLong).toInt
  def unit(xs: Long*): Double = (apply(xs: _*) >>> 11) * (1.0 / (1L << 53))
}

final case class Province(index: Int, name: String) {
  val region: Int = 1 + index % 17
  val island: String = if (region <= 8) "luzon" else if (region <= 12) "visayas" else "mindanao"
  val code: String = f"$region%02d${index % 100}%02d00000"
}

/** One city of the feed. `form` picks the name shape (0 `City of X`,
  * 1 `Municipality of X`, 2 `X City`, 3 `X`); `tier` is the geocode
  * name variant that resolves it (1 normalized, 2 original, 3 with the
  * ` City` suffix stripped, 0 never).
  */
final case class City(key: Int, stem: String, form: Int, province: Province,
    oldName: Option[String], isCapital: Boolean, tier: Int, lat: Double, lon: Double) {
  val name: String = form match {
    case 0 => s"City of $stem"
    case 1 => s"Municipality of $stem"
    case 2 => s"$stem City"
    case _ => stem
  }
  val code: String = f"${province.region}%02d${province.index % 100}%02d${key % 1000}%03d00"

  /** The geocode queries, in the order the pipeline tries its name variants. */
  def variants: Seq[String] = form match {
    case 0 | 1 => Seq(stem, name)
    case 2 => Seq(name, stem)
    case _ => Seq(name)
  }

  def resolvingQuery: Option[String] = if (tier == 0) None else Some(variants(if (tier == 1) 0 else 1))
}

/** The seeded stand-in for the reference's remote APIs: a PSGC-shaped
  * feed of 146 cities over 80 provinces (`City of`/`Municipality of`
  * prefixes, ` City` suffixes, mostly-null `oldName`), geocode answers
  * that resolve each city at one of the tiers U1–U3 (a few never), and
  * nested weather JSON with optional fields left out. One tick in four
  * serves a changed feed: a few cities renamed or added.
  */
final class WeatherWorld(val seed: Long) {

  private val syllables = Array("ba", "ka", "da", "ga", "la", "ma", "na", "pa", "sa", "ta",
    "bi", "li", "mi", "ni", "si", "ti", "bo", "lo", "mo", "no", "so", "to", "bu", "lu", "mu",
    "nu", "su", "tu", "an", "ay", "ro", "ri", "ha", "yo")
  // the province matcher special-cases these two city names
  private val used = mutable.HashSet("Naga", "Isabela")

  private def word(tag: Long*): String = {
    var i = 0L
    var w = ""
    while (w.isEmpty) {
      val n = 2 + Mix.below(2, (tag :+ i :+ -1L): _*)
      val s = (0 until n).map(j => syllables(Mix.below(syllables.length, (tag :+ i :+ j.toLong): _*)))
        .mkString.capitalize
      if (used.add(s)) w = s
      i += 1
    }
    w
  }

  val provinces: IndexedSeq[Province] = (0 until 80).map(i => Province(i, word(seed, 1, i)))

  private def city(key: Int, form0: Int = -1, province0: Province = null,
      oldName: Option[String] = None): City = {
    val u = Mix.unit(seed, 2, key)
    val form = if (form0 >= 0) form0 else if (u < 0.55) 0 else if (u < 0.8) 1 else if (u < 0.92) 2 else 3
    val v = Mix.unit(seed, 3, key)
    val tier =
      if (v < 0.03) 0
      else form match {
        case 0 | 1 => if (v < 0.8) 1 else 2
        case 2 => if (v < 0.5) 1 else 3
        case _ => 1
      }
    City(key, word(seed, 4, key), form,
      Option(province0).getOrElse(provinces(Mix.below(provinces.size, seed, 5, key))),
      oldName, Mix.unit(seed, 6, key) < 0.3, tier,
      5.0 + Mix.below(140000, seed, 7, key) / 10000.0,
      117.0 + Mix.below(90000, seed, 8, key) / 10000.0)
  }

  private val base: Seq[City] = {
    val olds = (0 until 3).map(j => Mix.below(146, seed, 9, j)).toSet
    (0 until 146).map(k => city(k, oldName = if (olds(k)) Some(word(seed, 10, k)) else None))
  }

  /** Tick 0 is the initial load; after it, one tick per block of four changes the feed. */
  def changed(t: Int): Boolean = t > 0 && (t - 1) % 4 == Mix.below(4, seed, 11, (t - 1) / 4)

  private val feeds = mutable.ArrayBuffer(base)
  private var nextKey = 1000

  private def edit(cs: Seq[City], t: Int): Seq[City] =
    (0 until 1 + Mix.below(3, seed, 12, t)).foldLeft(cs) { (acc, e) =>
      nextKey += 1
      if (Mix.unit(seed, 13, t, e) < 0.6) {
        val i = Mix.below(acc.size, seed, 14, t, e)
        val old = acc(i)
        acc.updated(i, city(nextKey, old.form, old.province, Some(old.name)))
      } else acc :+ city(nextKey)
    }

  /** The cities feed served at tick `t`. */
  def cities(t: Int): Seq[City] = synchronized {
    while (feeds.size <= t) {
      val t1 = feeds.size
      feeds += (if (changed(t1)) edit(feeds.last, t1) else feeds.last)
    }
    feeds(t)
  }

  def now(t: Int): Timestamp =
    new Timestamp(Instant.parse("2024-12-01T00:00:00Z").toEpochMilli + t * 3600000L)

  def citiesJson(t: Int): String = Json.write(cities(t).map(c => Map(
    "code" -> c.code, "name" -> c.name, "oldName" -> c.oldName, "isCapital" -> c.isCapital,
    "provinceCode" -> c.province.code, "districtCode" -> "0",
    "regionCode" -> f"${c.province.region}%02d0000000", "islandGroupCode" -> c.province.island,
    "psgc10DigitCode" -> s"${c.code.take(4)}0${c.code.drop(4)}")))

  val provincesJson: String = Json.write(provinces.map(p => Map(
    "code" -> p.code, "name" -> p.name, "regionCode" -> f"${p.region}%02d0000000",
    "islandGroupCode" -> p.island, "psgc10DigitCode" -> s"${p.code.take(4)}0${p.code.drop(4)}")))

  private val byQuery = new ConcurrentHashMap[Int, Map[String, City]]()
  private val byCoord = new ConcurrentHashMap[Int, Map[(Double, Double), City]]()

  /** A geocode answer (at most five candidates) for query `q` at tick `t`.
    * Decoy candidates carry another province's name as `state`, so they
    * never match; an unresolved variant gets decoys only or nothing.
    */
  def geocodeJson(q: String, t: Int): String = {
    val hit = byQuery.computeIfAbsent(t, _ => cities(t).flatMap(c => c.variants.map(_ -> c)).toMap).get(q)
    def cand(name: String, lat: Double, lon: Double, state: Option[String]) =
      Map("name" -> name, "lat" -> lat, "lon" -> lon, "country" -> "PH") ++ state.map("state" -> _)
    def decoys(c: City, n: Int) = (0 until n).map { i =>
      val others = provinces.filterNot(_.name.toLowerCase.contains(c.province.name.toLowerCase))
      val p = others(Mix.below(others.size, seed, 20, c.key, q.hashCode, i))
      cand(q, 5.0 + Mix.below(1400, seed, 21, c.key, i) / 100.0,
        117.0 + Mix.below(900, seed, 22, c.key, i) / 100.0, Some(p.name))
    }
    val out = hit match {
      case Some(c) if c.resolvingQuery.contains(q) =>
        val style = Mix.below(100, seed, 23, c.key)
        val state =
          if (style < 60) Some(c.province.name)
          else if (style < 85) None
          else Some(s"Province of ${c.province.name}")
        decoys(c, Mix.below(3, seed, 24, c.key)) :+ cand(q, c.lat, c.lon, state)
      case Some(c) =>
        if (Mix.unit(seed, 25, c.key, q.hashCode) < 0.5) Nil
        else decoys(c, 1 + Mix.below(3, seed, 26, c.key))
      case None => Nil
    }
    Json.write(out)
  }

  /** The temperature served for `c` at tick `t`: quarter degrees, so sums are exact. */
  def temp(c: City, t: Int): Double = 22.0 + Mix.below(57, seed, 30, c.key, t) * 0.25

  /** The weather answer for coordinates at tick `t`; None for unknown coordinates. */
  private def byCoordinates(t: Int): Map[(Double, Double), City] =
    byCoord.computeIfAbsent(t, _ => cities(t).map(c => (c.lat, c.lon) -> c).toMap)

  def weatherJson(lat: Double, lon: Double, t: Int): Option[String] =
    byCoordinates(t).get((lat, lon)).map { c =>
      def r(n: Int, tag: Long) = Mix.below(n, seed, 31, c.key, t, tag)
      val tc = temp(c, t)
      val main = Seq("Clear", "Clouds", "Rain", "Thunderstorm")(r(4, 0))
      val body = Seq(
        Some("weather" -> Seq(Map("main" -> main, "description" -> s"${main.toLowerCase} sky"))),
        Some("main" -> Map("temp" -> tc, "feels_like" -> (tc + (r(9, 1) - 4) * 0.25),
          "temp_min" -> (tc - r(9, 2) * 0.25), "temp_max" -> (tc + r(9, 3) * 0.25),
          "pressure" -> (1000 + r(20, 4)), "humidity" -> (50 + r(50, 5)))),
        Some("wind" -> (Map("speed" -> r(80, 6) * 0.25) ++
          (if (r(5, 7) == 0) None else Some("deg" -> r(360, 8))))),
        if (r(7, 9) == 0) None else Some("visibility" -> (10000 - r(50, 10) * 100)),
        if (r(10, 11) < 3) Some("rain" -> Map("1h" -> r(40, 12) * 0.25)) else None,
        Some("clouds" -> Map("all" -> r(101, 13))),
        Some("sys" -> Map("sunrise" -> (1733004000L + t * 3600L),
          "sunset" -> (1733047200L + t * 3600L)))).flatten
      Json.write(scala.collection.immutable.ListMap(body: _*))
    }

  private val failing = new ConcurrentHashMap[Int, Set[Int]]()

  /** Whether the first attempt of a request at tick `t` gets a 503: about 2%
    * of them, and for the weather endpoint exactly the three cities of the
    * tick that hash lowest, so every tick pays the same number of retries.
    */
  def inject503(endpoint: String, params: Map[String, String], t: Int): Boolean =
    if (endpoint != "weather") Mix.below(1000, seed, 40, t, params.toSeq.sorted.hashCode) < 20
    else {
      val keys = failing.computeIfAbsent(t, _ =>
        cities(t).filter(_.tier != 0).map(_.key).sortBy(k => Mix(seed, 41, t, k)).take(3).toSet)
      (for (lat <- params.get("lat"); lon <- params.get("lon"))
        yield byCoordinates(t).get((lat.toDouble, lon.toDouble)).exists(c => keys(c.key)))
        .getOrElse(false)
    }
}
