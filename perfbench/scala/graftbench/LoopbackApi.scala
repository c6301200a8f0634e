package graftbench

import java.net.{InetAddress, InetSocketAddress, URI, URLDecoder}
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.util.concurrent.{ConcurrentHashMap, Executors, TimeUnit}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import com.sun.net.httpserver.{HttpExchange, HttpServer}

/** The loopback HTTP server standing in for the remote APIs. Geocode and
  * weather answers arrive after a fixed, declared delay; a seeded ~2% of
  * requests get a one-shot 503 (the retry succeeds). Requests are served
  * concurrently on one worker thread per processor, and `Main` turns
  * Nagle's algorithm off before the server class loads, so neither a
  * single dispatcher thread nor delayed ACKs are what gets measured.
  */
final class LoopbackApi(world: WeatherWorld, delayMs: Int, tracer: Tracer) {

  val endpoints: Seq[String] = Seq("cities", "provinces", "geocode", "weather")
  private val pool = Executors.newFixedThreadPool(Runtime.getRuntime.availableProcessors)
  private val server = HttpServer.create(new InetSocketAddress(InetAddress.getLoopbackAddress, 0), 0)
  private val requests = endpoints.map(_ -> new AtomicLong).toMap
  private val retries = new AtomicLong
  private val inflight = new AtomicInteger
  private val inflightMax = new AtomicInteger
  private val tried = ConcurrentHashMap.newKeySet[String]()
  // per tick and endpoint: first arrival, last completion (epoch ns)
  private val first = new ConcurrentHashMap[String, java.lang.Long]()
  private val last = new ConcurrentHashMap[String, java.lang.Long]()
  @volatile private var tick = 0
  @volatile private var parent = 0L

  private def params(ex: HttpExchange): Map[String, String] =
    Option(ex.getRequestURI.getRawQuery).getOrElse("").split("&").filter(_.contains("="))
      .map { kv =>
        val Array(k, v) = kv.split("=", 2)
        k -> URLDecoder.decode(v, "UTF-8")
      }.toMap

  private def serve(path: String, endpoint: String, delayed: Boolean)(
      answer: (Map[String, String], Int) => Option[String]): Unit =
    server.createContext(path, (ex: HttpExchange) => {
      val t0 = Clock.now()
      inflightMax.accumulateAndGet(inflight.incrementAndGet(), (a, b) => math.max(a, b))
      val t = tick
      var status = 200
      try {
        requests(endpoint).incrementAndGet()
        first.merge(endpoint, t0, (a, b) => math.min(a, b))
        if (delayed) Thread.sleep(delayMs)
        val p = params(ex)
        val body =
          if (tried.add(ex.getRequestURI.toString) && world.inject503(endpoint, p, t)) {
            retries.incrementAndGet()
            None
          } else answer(p, t)
        status = if (body.isEmpty) 503 else 200
        val bytes = body.getOrElse("").getBytes("UTF-8")
        ex.sendResponseHeaders(status, if (bytes.isEmpty) -1 else bytes.length)
        if (bytes.nonEmpty) ex.getResponseBody.write(bytes)
      } finally {
        ex.close()
        inflight.decrementAndGet()
        val t1 = Clock.now()
        last.merge(endpoint, t1, (a, b) => math.max(a, b))
        tracer.record(s"server.$endpoint", parent, t0, t1, "status" -> status, "tick" -> t)
      }
    })

  serve("/cities", "cities", delayed = false)((_, t) => Some(world.citiesJson(t)))
  serve("/provinces", "provinces", delayed = false)((_, _) => Some(world.provincesJson))
  serve("/geo", "geocode", delayed = true)((p, t) =>
    Some(world.geocodeJson(p.getOrElse("q", "").stripSuffix(",PH"), t)))
  serve("/weather", "weather", delayed = true)((p, t) =>
    world.weatherJson(p("lat").toDouble, p("lon").toDouble, t))
  server.createContext("/ping", (ex: HttpExchange) => {
    ex.sendResponseHeaders(200, -1)
    ex.close()
  })
  server.setExecutor(pool)
  server.start()

  def url(path: String): String = s"http://127.0.0.1:${server.getAddress.getPort}$path"

  /** Start serving tick `t`; server spans hang under span `span`. */
  def beginTick(t: Int, span: Long): Unit = {
    tick = t
    parent = span
    tried.clear()
    inflightMax.set(0)
    first.clear()
    last.clear()
  }

  /** This tick's per-endpoint window, first arrival to last completion, in ms. */
  def windowMs(endpoint: String): Double =
    Option(first.get(endpoint)).flatMap(f => Option(last.get(endpoint)).map(l => (l - f) / 1e6))
      .getOrElse(0.0)

  def counters: Map[String, Long] =
    requests.map { case (e, n) => s"requests.$e" -> n.get } ++
      Map("retries" -> retries.get, "inflight_max" -> inflightMax.get.toLong)

  /** Median round trip of an undelayed request, in ms: the server's own
    * per-request overhead, which must stay far below the declared delay.
    */
  def overheadMs(): Double = {
    val client = HttpClient.newHttpClient()
    val req = HttpRequest.newBuilder(URI.create(url("/ping"))).GET().build()
    def once(): Double = {
      val t0 = System.nanoTime()
      client.send(req, HttpResponse.BodyHandlers.discarding())
      (System.nanoTime() - t0) / 1e6
    }
    (1 to 400).foreach(_ => once())
    val ts = (1 to 100).map(_ => once()).sorted
    ts(ts.size / 2)
  }

  def stop(): Unit = {
    server.stop(0)
    pool.shutdownNow()
    pool.awaitTermination(10, TimeUnit.SECONDS)
  }
}
