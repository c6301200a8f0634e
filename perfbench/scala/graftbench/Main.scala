package graftbench

import java.io.File
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper

import org.apache.spark.sql.SparkSession

/** What one workload run hands back: set-up timings, output checks,
  * operation counts and anything else worth keeping beside the spans.
  */
final case class Outcome(
    setupS: Seq[Double],
    checks: Seq[(String, Boolean, String)],
    attempted: Int,
    failed: Int,
    extra: Map[String, Any] = Map.empty)

/** Everything a workload needs: the session, the tracer, the seed and
  * the run's time budget, and its own work directory.
  */
final case class Ctx(spark: SparkSession, tracer: Tracer, seed: Long, seconds: Double,
    work: String, fixtures: String) {
  private var deadlineNs = Long.MaxValue
  /** Start the measured phase: it lasts `seconds` from now. */
  def measure(): Unit = deadlineNs = System.nanoTime() + (seconds * 1e9).toLong
  def timeLeft: Boolean = System.nanoTime() < deadlineNs
  def fresh(name: String): String = {
    val d = new File(work, name)
    Files.createDirectories(d.toPath)
    d.getAbsolutePath
  }
}

/** The benchmark's JVM half: runs one workload against the program and
  * writes its spans, samples and checks as one JSON document; `run.py`
  * turns that into metrics.
  *
  * {{{
  * graftbench.Main --workload W --seed N --seconds S --trace 0|1
  *                 --work DIR --fixtures DIR --out FILE
  * graftbench.Main --dump-inputs FILE --seed N
  * }}}
  */
object Main {

  val workloads: Map[String, Ctx => Outcome] = Map(
    "query_suite" -> QuerySuite.run,
    "doc_stream" -> DocStream.run,
    "weather_schedule" -> WeatherSchedule.run)

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") =>
      k.stripPrefix("--") -> v }.toMap
    def need(k: String): String = opts.getOrElse(k, fail(s"missing --$k"))
    val seed = need("seed").toLong
    opts.get("dump-inputs") match {
      case Some(file) => Files.writeString(Paths.get(file), Inputs.dump(seed))
      case None => runWorkload(opts, seed, need)
    }
  }

  /** `graft.Bench`'s calibration probe, min of two: one lineitem scan-agg
    * that uses no graft operator, so it drifts with the machine only.
    */
  private def probeS(spark: SparkSession, fixtures: String): Double = {
    import org.apache.spark.sql.functions.{count, lit, sum}
    def once(): Double = {
      val t0 = System.nanoTime()
      graft.Tables(spark, s"$fixtures/sf0.01", "lineitem")
        .agg(sum("l_quantity"), sum("l_extendedprice"), count(lit(1)))
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    math.min(once(), once())
  }

  private def fail(msg: String): Nothing = {
    System.err.println(s"graftbench: $msg")
    sys.exit(2)
  }

  private def runWorkload(opts: Map[String, String], seed: Long, need: String => String): Unit = {
    val workload = workloads.getOrElse(need("workload"), fail(s"unknown workload ${opts("workload")}"))
    // read once when the JDK's HTTP server class initialises: without it
    // the loopback server's small responses wait on Nagle's algorithm
    System.setProperty("sun.net.httpserver.nodelay", "true")
    val work = new File(need("work")).getAbsolutePath
    val cpus = Runtime.getRuntime.availableProcessors
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      // as in graft.Bench: the 100-entry default thrashes across suites
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/spark-local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val tracer = new Tracer(spark, need("trace") == "1")
    val ctx = Ctx(spark, tracer, seed, need("seconds").toDouble, work, need("fixtures"))
    val out = workload(ctx)
    tracer.disable()
    val spans = tracer.result()
    val probe = if (tracer.traced) Map("probe_s" -> probeS(spark, ctx.fixtures)) else Map.empty
    val doc = Map(
      "setup_s" -> out.setupS,
      "checks" -> out.checks.map { case (n, ok, d) => Map("name" -> n, "ok" -> ok, "detail" -> d) },
      "attempted" -> out.attempted,
      "failed" -> out.failed,
      "extra" -> (out.extra ++ probe),
      "context" -> Map(
        "nproc" -> cpus,
        "heap_bytes" -> Runtime.getRuntime.maxMemory,
        "spark_version" -> spark.version,
        "jdk_version" -> System.getProperty("java.version")),
      "spans" -> spans.map(s => Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "start" -> s.start, "end" -> s.end, "attrs" -> s.attrs)))
    Files.writeString(Paths.get(need("out")), Json.write(doc))
    spark.stop()
  }
}

/** Parquet files under a directory, recursively: (count, bytes). */
object Disk {
  def parquet(dir: File): (Int, Long) = {
    val all = Option(dir.listFiles()).map(_.toSeq).getOrElse(Nil)
    val here = all.filter(f => f.isFile && f.getName.endsWith(".parquet"))
    all.filter(_.isDirectory).map(parquet).foldLeft((here.size, here.map(_.length).sum)) {
      case ((n, b), (n2, b2)) => (n + n2, b + b2)
    }
  }
}

/** Scala values to JSON through the Jackson that ships with Spark. */
object Json {
  private val mapper = new ObjectMapper()

  private def toJava(v: Any): Any = v match {
    case m: Map[_, _] =>
      val out = new java.util.LinkedHashMap[String, Any]()
      m.foreach { case (k, x) => out.put(k.toString, toJava(x)) }
      out
    case s: Iterable[_] => s.map(toJava).toSeq.asJava
    case a: Array[_] => a.toSeq.map(toJava).asJava
    case o: Option[_] => o.map(toJava).orNull
    case x => x
  }

  def write(v: Any): String = mapper.writeValueAsString(toJava(v))
}
