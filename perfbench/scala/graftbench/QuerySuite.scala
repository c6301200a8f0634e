package graftbench

import java.nio.file.{Files, Paths}
import java.util.SplittableRandom

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.{SharedProjections, SparkEntry}

/** `query_suite`: the analyst's load. One session with the suite-shared
  * projections on (as `graft.Bench` runs), passes over a fixed,
  * module-stratified selection of `SparkEntry.queries` in a seeded order
  * per pass, each query constructed and then executed into the `noop`
  * sink.
  */
object QuerySuite {

  type Query = (SparkSession, String) => DataFrame

  /** The layers a query belongs to, named after the modules that declare them. */
  val modules: Seq[(String, Map[String, Query])] = Seq(
    "Relational" -> graft.queries.Relational.queries,
    "Dedup" -> graft.queries.Dedup.queries,
    "TextAnalysis" -> graft.queries.TextAnalysis.queries,
    "Similarity" -> graft.queries.Similarity.queries,
    "Curation" -> graft.queries.Curation.queries,
    "Pipeline" -> graft.queries.Pipeline.queries,
    "Temporal" -> graft.queries.Temporal.queries,
    "Multimodal" -> graft.multimodal.Multimodal.queries,
    "WeatherQueries" -> graft.weather.WeatherQueries.queries)

  /** One query in twenty from each module, at least one, evenly spaced over
    * the module's sorted names. A pass over all 128 takes longer than a
    * whole run may; a fixed rule (not a hand pick) keeps the selection
    * stable across commits and spreads it over every module.
    */
  val selected: Seq[(String, String)] = modules.flatMap { case (m, qs) =>
    val names = qs.keys.toSeq.sorted
    val k = math.max(1, math.round(names.size / 20.0).toInt)
    (0 until k).map(j => m -> names(((2 * j + 1) * names.size) / (2 * k)))
  }

  /** The seeded query order of pass `pass`. */
  def order(seed: Long, pass: Int): Seq[Int] = {
    val rnd = new SplittableRandom(seed * 1000003L + pass)
    val a = selected.indices.toArray
    for (i <- a.length - 1 to 1 by -1) {
      val j = rnd.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
    }
    a.toSeq
  }

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val tr = ctx.tracer
    SharedProjections.enable()
    val dir = s"${ctx.fixtures}/sf0.01"
    val query: Map[String, Query] = SparkEntry.queries

    // set-up: one cold pass that fills the JIT and the shared projections
    // and writes every result for run.py's comparison against the DuckDB
    // oracle. A second cold pass cannot happen in the same JVM, so this is
    // the run's only set-up.
    val verifyDir = ctx.fresh("verify")
    var failed = 0
    val t0 = System.nanoTime()
    val verifyErrors = selected.flatMap { case (_, name) =>
      try {
        query(name)(spark, dir).coalesce(1).write.mode("overwrite").parquet(s"$verifyDir/$name")
        None
      } catch { case e: Throwable => failed += 1; Some(name -> e.toString) }
    }
    val setup = Seq((System.nanoTime() - t0) / 1e9)
    Files.writeString(Paths.get(verifyDir, "oracle_sql.json"),
      Json.write(selected.map { case (_, n) => n -> SparkEntry.oracleSql(n) }.toMap))

    var attempted = selected.size
    var pass = 0
    ctx.measure()
    // the first pass after the cold one still warms up (its noop writes are
    // new plans) and is left out of the metrics, so every run makes three:
    // two samples per query, and in a traced run, which alternates
    // untraced and traced passes, one of each after the first
    while (pass < 3 || ctx.timeLeft) {
      if (pass % 2 == 1) tr.enable() else tr.disable()
      for (i <- order(ctx.seed, pass)) {
        val (module, name) = selected(i)
        attempted += 1
        tr.span("op", keep = true) { id =>
          tr.annotate(id, "kind" -> "query", "query" -> name, "module" -> module,
            "pass" -> pass, "traced" -> tr.tracing)
          try {
            val df = tr.span("construct", attrs = Construct)(_ => query(name)(spark, dir))
            tr.span("exec", attrs = Exec)(_ => df.write.format("noop").mode("overwrite").save())
          } catch { case e: Throwable =>
            failed += 1
            tr.annotate(id, "error" -> e.toString)
          }
        }
      }
      pass += 1
    }
    tr.disable()
    Outcome(setup,
      Seq(("verify_pass_ran_every_query", verifyErrors.isEmpty,
        verifyErrors.map { case (n, e) => s"$n: $e" }.mkString("; "))),
      attempted, failed,
      Map("verify_dir" -> verifyDir, "fixture_dir" -> dir, "passes" -> pass,
        "verify_failed" -> verifyErrors.map(_._1),
        "selected" -> selected.map { case (m, n) => Map("module" -> m, "query" -> n) }))
  }
}
