package graftbench

/** Every input the benchmark generates from a seed, as one document:
  * the micro-batch sizes, the query orders, and the loopback API's
  * payloads for the first ticks. The same seed must give the same bytes.
  */
object Inputs {
  def dump(seed: Long): String = {
    val world = new WeatherWorld(seed)
    val ticks = (0 to 8).map { t =>
      val cs = world.cities(t)
      Map(
        "tick" -> t,
        "changed" -> world.changed(t),
        "cities" -> world.citiesJson(t),
        "geocode" -> cs.flatMap(_.variants).map(q => q -> world.geocodeJson(q, t)).toMap,
        "weather" -> cs.map(c => s"${c.lat},${c.lon}" -> world.weatherJson(c.lat, c.lon, t)).toMap,
        "injected_503" -> cs.filter(c => world.inject503("weather",
          Map("lat" -> c.lat.toString, "lon" -> c.lon.toString), t)).map(_.name))
    }
    Json.write(Map(
      "seed" -> seed,
      "batch_sizes" -> DocStream.batchSizes(seed, 500),
      "query_orders" -> (0 until 4).map(p => QuerySuite.order(seed, p).map(QuerySuite.selected(_)._2)),
      "provinces" -> world.provincesJson,
      "ticks" -> ticks))
  }
}
