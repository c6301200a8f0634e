package graftbench

import java.io.File
import java.sql.Timestamp
import java.util.SplittableRandom

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.col

import graft.{SparkEntry, Tables}
import graft.streaming.DocPipeline

/** One document on the replayed stream. */
final case class DocEvent(doc_id: Long, ts: Timestamp, text: String, lang: String, source: String)

/** `doc_stream`: the real-time path. The sf0.001 `documents` replayed in
  * `doc_id` order through `DocPipeline.start` over a `MemoryStream`, in
  * seeded micro-batches of 7 to 13 docs ([[batchSizes]]). A micro-batch is
  * timed from `addData` until `processAllAvailable` returns; after each one
  * the client reads the pipeline's current result (`DocPipeline.aggregate`)
  * twice. The set-up commits the first micro-batch; the timed ones follow.
  */
object DocStream {

  val stores: Seq[String] = Seq("docs", "bands", "winfps", "edges")

  /** Timed micro-batches a run makes at least, after the set-up's first:
    * one block. A run times whole blocks only, so every seed measures the
    * same batch sizes.
    */
  val MinBatches = 3

  /** Micro-batch sizes covering `n` docs: 10, then blocks of 7, 10 and 13
    * in a seeded order. Every block holds the same docs, so runs of any seed
    * commit the same number of docs per block of micro-batches.
    */
  def batchSizes(seed: Long, n: Int): Seq[Int] = {
    val rnd = new SplittableRandom(seed)
    val orders = Seq(7, 10, 13).permutations.toIndexedSeq
    val out = Seq.newBuilder[Int]
    var next = List(10)
    var total = 0
    while (total < n) {
      if (next.isEmpty) next = orders(rnd.nextInt(orders.size)).toList
      val s = math.min(next.head, n - total)
      next = next.tail
      out += s
      total += s
    }
    out.result()
  }

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val tr = ctx.tracer
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val dir = s"${ctx.fixtures}/sf0.001"
    val base = Timestamp.valueOf("2024-01-01 00:00:00").getTime

    def load(): Array[DocEvent] = Tables(spark, dir, "documents")
      .select("doc_id", "text", "lang", "source").orderBy("doc_id").collect()
      .map(r => DocEvent(r.getLong(0), new Timestamp(base + r.getLong(0) * 1000L),
        r.getString(1), r.getString(2), r.getString(3)))

    // set-up: load the corpus, start the pipeline on fresh state, commit
    // its first micro-batch and read the result, JIT-cold (the run's only
    // set-up)
    val t0 = System.nanoTime()
    val docs = load()
    val sizes = batchSizes(ctx.seed, docs.length)
    val stateDir = ctx.fresh("state")
    val mem = MemoryStream[DocEvent]
    // the stream thread inherits the client's local properties when it
    // starts, so the start call must not stamp its span on every batch
    val q = tr.span("DocPipeline.start", link = false)(_ => DocPipeline.start(mem.toDF(), stateDir))
    mem.addData(docs.take(sizes.head).toSeq)
    q.processAllAvailable()
    DocPipeline.aggregate(spark, stateDir).collect()
    val setup = Seq((System.nanoTime() - t0) / 1e9)

    var fed = sizes.head
    var attempted = 0
    var failed = 0
    var last: Array[Seq[Any]] = Array.empty
    val it = sizes.iterator.drop(1)
    ctx.measure()
    try {
      var ok = true
      // each batch is three operations: the batch and its two reads
      def timed = attempted / 3
      while (ok && it.hasNext && (timed < MinBatches || timed % 3 != 0 || ctx.timeLeft)) {
        val n = it.next()
        val batch = timed + 1
        if (batch % 2 == 0) tr.enable() else tr.disable()
        attempted += 3
        ok = tr.span("op", keep = true) { id =>
          tr.annotate(id, "kind" -> "batch", "batch" -> batch, "items" -> n, "traced" -> tr.tracing)
          try {
            tr.span("MemoryStream.addData")(_ => mem.addData(docs.slice(fed, fed + n).toSeq))
            tr.span("processAllAvailable", link = false)(_ => q.processAllAvailable())
            true
          } catch { case e: Throwable =>
            tr.annotate(id, "error" -> e.toString); false
          }
        }
        if (ok) fed += n
        // the result is read twice, as two clients polling it would
        for (_ <- 1 to 2) ok = ok && tr.span("read", keep = true) { id =>
          tr.annotate(id, "kind" -> "aggregate", "batch" -> batch, "traced" -> tr.tracing)
          try {
            val df = tr.span("DocPipeline.aggregate", attrs = Construct)(_ =>
              DocPipeline.aggregate(spark, stateDir))
            last = tr.span("exec", attrs = Exec)(_ => df.collect().map(_.toSeq))
            true
          } catch { case e: Throwable =>
            tr.annotate(id, "error" -> e.toString); false
          }
        }
        if (!ok) failed += 1
      }
    } finally {
      tr.disable()
      q.stop()
    }

    // the streamed result must equal batch p01 over the same documents
    val prefix = ctx.fresh("prefix")
    Tables(spark, dir, "documents").filter(col("doc_id") <= docs(fed - 1).doc_id)
      .write.mode("overwrite").parquet(s"$prefix/documents.parquet")
    val expected = SparkEntry.queries("p01_training_pipeline")(spark, prefix)
      .collect().map(_.toSeq).toSeq
    val agreed = expected.nonEmpty && expected == last.toSeq
    if (!agreed) failed += 1

    val state = stores.map { s =>
      val (files, bytes) = Disk.parquet(new File(stateDir, s))
      s -> Map("files" -> files, "bytes" -> bytes)
    }.toMap
    Outcome(setup,
      Seq(("aggregate_equals_batch_p01", agreed, s"$fed docs, ${last.length} result rows")),
      attempted, math.min(failed, attempted),
      Map("docs_fed" -> fed, "batches" -> attempted / 3, "state" -> state))
  }
}
