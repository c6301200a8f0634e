package graftbench

import java.io.File

import scala.collection.mutable
import scala.math.BigDecimal.RoundingMode

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.lit

import graft.sources.TableStore
import graft.weather.{Schemas, WeatherAnalytics, WeatherMain}

/** One row of the facts table, as the recomputation expects it. */
final case class Fact(weatherId: Long, locationId: Long, name: String, province: String,
    temp: Double, at: Long)

/** What the facts table must hold, recomputed from the generated inputs. */
final class FactsModel(world: WeatherWorld) {
  val facts: mutable.ArrayBuffer[Fact] = mutable.ArrayBuffer.empty

  /** Append tick `t`'s facts: one per resolved city, `weather_id` dense
    * and continuing in (name, province) order, `location_id` dense over
    * the whole snapshot in the same order. Returns (locations, resolved).
    */
  def tick(t: Int): (Int, Int) = {
    val snap = world.cities(t).sortBy(c => (c.name, c.province.name)).zipWithIndex
    val resolved = snap.filter(_._1.tier != 0)
    val base = facts.size.toLong
    resolved.zipWithIndex.foreach { case ((c, loc), i) =>
      facts += Fact(base + i + 1, loc + 1L, c.name, c.province.name, world.temp(c, t),
        world.now(t).getTime)
    }
    (snap.size, resolved.size)
  }

  def latest: Seq[Fact] = facts.groupBy(_.locationId).values
    .map(_.maxBy(f => (f.at, f.weatherId))).toSeq.sortBy(_.locationId)

  def topK(k: Int): Seq[Fact] = latest.sortBy(f => (-f.temp, f.locationId)).take(k)

  def avgTemp(sinceMs: Long): Seq[(String, Double, Long)] =
    facts.filter(_.at >= sinceMs).groupBy(_.province).toSeq.map { case (p, fs) =>
      (p, BigDecimal(fs.map(_.temp).sum / fs.size).setScale(4, RoundingMode.HALF_UP).toDouble,
        fs.size.toLong)
    }.sortBy { case (p, a, _) => (-a, p) }
}

/** `weather_schedule`: the reference's own job. Back-to-back
  * `WeatherMain.run` ticks against the seeded loopback API, each
  * followed by [[Polls]] dashboard reads over all facts so far. Throttle rates
  * are set high enough never to bind; request counts are reported
  * instead.
  */
object WeatherSchedule {

  /** Declared answer delay of the geocode and weather endpoints: fixed, so
    * the remote API's latency is the same on every commit. The loopback
    * server's own overhead per request must stay below a fifth of it.
    */
  val DelayMs = 10

  /** Scheduled runs a run makes at least, after the initial load. */
  val MinTicks = 4

  /** Dashboard reads after each scheduled run, as clients polling it
    * would. A read is a few short Spark jobs on the driver's fixed floor,
    * so one read per run gives too few samples for a steady median.
    */
  val Polls = 3

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val tr = ctx.tracer
    val world = new WeatherWorld(ctx.seed)
    val api = new LoopbackApi(world, DelayMs, tr)
    try {
      val overhead = api.overheadMs()
      require(overhead < DelayMs / 5.0, f"loopback server overhead $overhead%.2f ms per " +
        s"request is not far below the declared $DelayMs ms delay")

      val store = ctx.fresh("store")
      val conf = WeatherMain.Config(
        citiesUrl = api.url("/cities"), provincesUrl = api.url("/provinces"),
        geocodeBase = api.url("/geo"), weatherBase = api.url("/weather"),
        snapshotPath = s"$store/locations", factsPath = s"$store/facts",
        geocodePerSec = 1e6, weatherPerSec = 1e6)
      val model = new FactsModel(world)
      val checks = mutable.ArrayBuffer.empty[(String, Boolean, String)]
      def check(name: String, ok: Boolean, detail: => String): Boolean = {
        if (!ok) checks += ((name, false, detail))
        ok
      }

      /** Dashboard read `poll` after tick `t`, one read per panel, checked
        * against the recomputation.
        */
      def dashboard(t: Int, poll: Int, sample: Boolean): Boolean = {
        val since = new java.sql.Timestamp(world.now(t).getTime - 6 * 3600000L)
        def panel(name: String)(build: DataFrame => DataFrame): Option[Array[Row]] =
          tr.span("read", keep = sample) { id =>
            tr.annotate(id, "kind" -> name, "tick" -> t, "poll" -> poll, "traced" -> tr.tracing)
            try {
              val df = tr.span(s"WeatherAnalytics.$name", attrs = Construct)(_ => build(
                tr.span("TableStore.readSnapshot")(_ =>
                  TableStore.readSnapshot(spark, conf.factsPath, Schemas.weatherData))))
              Some(tr.span("exec", attrs = Exec)(_ => df.collect()))
            } catch { case e: Throwable =>
              tr.annotate(id, "error" -> e.toString); None
            }
          }
        val read = for {
          latest <- panel("latestPerLocation")(f =>
            WeatherAnalytics.latestPerLocation(f).select("location_id", "weather_id"))
          top <- panel("topKHottest")(WeatherAnalytics.topKHottest(_, 10))
          avg <- panel("avgTempPerProvince")(WeatherAnalytics.avgTempPerProvince(_, lit(since)))
        } yield (latest, top, avg)
        read.exists { case (latest, top, avg) =>
          val gotLatest = latest.map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
          val gotTop = top.map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getDouble(3),
            r.getTimestamp(4).getTime)).toSeq
          val gotAvg = avg.map(r => (r.getString(0), r.getDouble(1), r.getLong(2))).toSeq
          check(s"dashboard_$t",
            gotLatest == model.latest.map(f => (f.locationId, f.weatherId)) &&
              gotTop == model.topK(10).map(f => (f.locationId, f.name, f.province, f.temp, f.at)) &&
              gotAvg == model.avgTemp(since.getTime),
            s"dashboard after tick $t differs from the recomputation")
        }
      }

      // set-up: the initial load (tick 0, every city geocoded) into a
      // fresh store and the first dashboard read, JIT-cold (the run's only
      // set-up)
      api.beginTick(0, 0L)
      val t0 = System.nanoTime()
      val first = WeatherMain.run(spark, conf, world.now(0))
      val (n0, r0) = model.tick(0)
      var attempted = 4
      var failed = Seq(
        check("initial_load", first.refreshed && first.locations == n0 && first.factsAppended == r0,
          s"$first, expected $n0 locations and $r0 facts"),
        dashboard(0, 0, sample = false)).count(!_)
      val setup = Seq((System.nanoTime() - t0) / 1e9)

      var t = 1
      ctx.measure()
      while (t <= MinTicks || ctx.timeLeft) {
        if (t % 2 == 0) tr.enable() else tr.disable()
        val changed = world.changed(t)
        val prevKeys = world.cities(t - 1).map(_.key).toSet
        val changedRows = world.cities(t).count(c => !prevKeys(c.key))
        attempted += 1 + 3 * Polls
        val ran = tr.span("op", keep = true) { id =>
          api.beginTick(t, id)
          tr.annotate(id, "kind" -> "tick", "tick" -> t, "changed" -> changed,
            "changed_rows" -> changedRows, "traced" -> tr.tracing)
          val before = api.counters
          try {
            val r = tr.span("WeatherMain.run")(_ => WeatherMain.run(spark, conf, world.now(t)))
            val after = api.counters
            tr.annotate(id, after.map { case (k, v) =>
              k -> (if (k == "inflight_max") v else v - before(k)) }.toSeq: _*)
            tr.annotate(id, "items" -> r.factsAppended,
              "fetch_window_ms" -> api.windowMs("weather"),
              "geocode_window_ms" -> api.windowMs("geocode"))
            Some(r)
          } catch { case e: Throwable =>
            tr.annotate(id, "error" -> e.toString); None
          }
        }
        val (n, resolved) = model.tick(t)
        val tickOk = ran.exists(r => check(s"tick_$t", r.refreshed == changed &&
          r.locations == n && r.resolved == resolved && r.factsAppended == resolved &&
          r.missedLookups == 0, s"$r, expected refreshed=$changed, $n locations, $resolved facts"))
        if (!tickOk) failed += 1

        failed += (1 to Polls).map(dashboard(t, _, sample = true)).count(!_)
        t += 1
      }
      tr.disable()

      // the whole facts table against the recomputation: dense continuing
      // ids, one fact per resolved city per tick, temperatures round-tripped
      val all = spark.read.schema(Schemas.weatherData).parquet(conf.factsPath)
        .select("weather_id", "location_id", "location_name", "province_name",
          "temperature_c", "data_datetime")
        .orderBy("weather_id").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getString(3), r.getDouble(4),
          r.getTimestamp(5).getTime)).toSeq
      val want = model.facts.map(f => (f.weatherId, f.locationId, f.name, f.province, f.temp, f.at)).toSeq
      if (!check("facts_table", all == want, s"${all.size} facts stored, ${want.size} expected"))
        failed += 1

      val (factFiles, factBytes) = Disk.parquet(new File(conf.factsPath))
      val (snapFiles, snapBytes) = Disk.parquet(new File(conf.snapshotPath))
      Outcome(setup, checks.toSeq :+ (("all_outputs", checks.isEmpty, "")), attempted,
        math.min(failed, attempted),
        Map("ticks" -> (t - 1), "server_overhead_ms" -> overhead, "delay_ms" -> DelayMs,
          "http" -> api.counters,
          "tablestore" -> Map("facts_files" -> factFiles, "facts_bytes" -> factBytes,
            "facts_rows" -> all.size, "snapshot_files" -> snapFiles, "snapshot_bytes" -> snapBytes)))
    } finally api.stop()
  }
}
