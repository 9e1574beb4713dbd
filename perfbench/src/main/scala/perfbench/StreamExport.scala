package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.streaming.ExportPipeline

/** `stream_export`: `ExportPipeline` with its shipped defaults, bootstrapped
  * on a slice of the generated `documents` table, then fed a fixed, seeded
  * arrival sequence through a `MemoryStream`, one `processAllAvailable()`
  * per micro-batch. The arrivals mix novel documents, exact re-posts,
  * near-dup edits and low-quality spam. Per-batch wall time, Spark work and
  * bytes written are kept as a series, because the pipeline's per-batch cost
  * grows with the number of batches folded so far. */
object StreamExport {

  val CorpusDocs = 200
  val Batches = 8
  val PerBatch = 25

  private def dirBytes(path: String): Long = {
    val root = java.nio.file.Paths.get(path)
    if (!java.nio.file.Files.exists(root)) 0L else {
      val s = java.nio.file.Files.walk(root)
      try s.filter(java.nio.file.Files.isRegularFile(_))
        .mapToLong(java.nio.file.Files.size(_)).sum()
      finally s.close()
    }
  }

  def run(ctx: Ctx): Map[String, Any] = {
    def corpus(spark: SparkSession): DataFrame =
      spark.read.parquet(s"${ctx.data}/documents.parquet")
        .where(col("doc_id") < CorpusDocs).select("doc_id", "text")
    val roots = mutable.ArrayBuffer[String]()
    var handles: ExportPipeline.Handles = null
    ctx.setup(3) { (spark, rep, part) =>
      val root = s"${ctx.work}/export$rep"
      roots += root
      part("register", { handles = ExportPipeline.resume(spark, root, corpus(spark),
        "doc_id", "text") })
    }
    val spark = ctx.spark
    ctx.stampEnv()
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val corpusTexts = corpus(spark).orderBy("doc_id").as[(Long, String)]
      .collect().map(_._2).toIndexedSeq
    val batches = Gen.arrivals(ctx.seed, corpusTexts, Batches, PerBatch,
      firstId = 1000000L)
    val root = roots.last
    val out = s"${ctx.work}/packs"

    // The audit tap: each batch's surviving documents, by batch id.
    val kept = mutable.ArrayBuffer[Seq[Long]]()
    val tapNodes = mutable.ArrayBuffer[Int]()
    def tap(batch: DataFrame, id: Long): Unit = {
      if (ctx.trace) tapNodes += Probe.planNodes(batch.queryExecution.analyzed)
      kept += batch.select(col("doc_id").cast("long")).as[Long].collect().sorted.toSeq
    }
    // The stream runs on a clone of the session made when it starts; the
    // probe's listeners must be registered before that to see its work.
    ctx.probe: Unit
    val in = MemoryStream[Gen.Arrival]
    val q = ExportPipeline.run(in.toDF(), handles, "doc_id", "text", out,
      keptSink = tap)
    val series = mutable.ArrayBuffer[Map[String, Any]]()
    val inputBytes = batches.map(_.map(_._1.text.getBytes("UTF-8").length.toLong).sum)
    val t0 = System.nanoTime()
    try {
      batches.zipWithIndex.foreach { case (b, i) =>
        val before = dirBytes(root) + dirBytes(out)
        ctx.op(0, "batch", f"b$i%02d") {
          ctx.tracer.span("add")(in.addData(b.map(_._1): _*))
          ctx.tracer.span("execute")(q.processAllAvailable())
        }(_ => null)
        val p = q.lastProgress
        val d = if (p == null) Map.empty[String, Long]
          else p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
        val o = ctx.ops.last
        series += Map(
          "batch" -> i, "ok" -> o.ok, "wall_ms" -> o.ms, "docs" -> b.size,
          "input_bytes" -> inputBytes(i),
          "kept" -> kept.lastOption.map(_.size).getOrElse(0),
          "bytes_written" -> (dirBytes(root) + dirBytes(out) - before),
          "progress_ms" -> d,
          "tap_plan_nodes" -> tapNodes.lastOption.orNull,
          "layers" -> o.layers)
      }
    } finally q.stop()
    ctx.loopSeconds = (System.nanoTime() - t0) / 1e9
    ctx.passMs += ctx.ops.map(_.ms).sum

    // Reference: the same arrivals through a fresh, identically
    // bootstrapped pipeline (set-up repetition 0's root) in ONE batch.
    val refKept = mutable.ArrayBuffer[Long]()
    val hr = ExportPipeline.resume(spark, roots.head, corpus(spark).limit(0), "doc_id", "text")
    val inr = MemoryStream[Gen.Arrival]
    val qr = ExportPipeline.run(inr.toDF(), hr, "doc_id", "text", s"${ctx.work}/packs_ref",
      keptSink = (b, _) => refKept ++= b.select(col("doc_id").cast("long")).as[Long].collect())
    try { inr.addData(batches.flatten.map(_._1): _*); qr.processAllAvailable() }
    finally qr.stop()
    val streamed = kept.flatten.toSet
    val keptCheck =
      if (streamed == refKept.toSet) null
      else s"kept ids differ from the one-batch run: only streamed " +
        s"${(streamed -- refKept).take(5)}, only reference ${(refKept.toSet -- streamed).take(5)}"

    // Conservation: landed + carried tokens == encoded tokens of survivors.
    val model = handles.pack.model
    val survivors = batches.flatten.map(_._1).filter(a => streamed(a.doc_id)).toDF()
    val ingested = survivors.select(size(model.encodeText(col("text"))).cast("long").as("n"))
      .agg(coalesce(sum("n"), lit(0L))).head().getLong(0)
    val landed = spark.read.option("recursiveFileLookup", "true").parquet(out)
      .agg(coalesce(sum("n_tokens"), lit(0L))).head().getLong(0)
    val lastGen = new java.io.File(s"$root/pack/state").listFiles()
      .map(_.getName).filter(_.matches("g\\d+")).map(_.drop(1).toLong).max
    val carried = spark.read.parquet(s"$root/pack/state/g$lastGen/pending")
      .select(size(col("pending")).cast("long").as("n"))
      .agg(coalesce(sum("n"), lit(0L))).head().getLong(0)
    val tokenCheck =
      if (landed + carried == ingested) null
      else s"landed $landed + carried $carried != ingested $ingested"

    val kinds = batches.flatten.groupBy(_._2).map { case (k, v) => k -> v.size }
    Map(
      "global_checks" -> Map("kept_ids" -> keptCheck, "token_conservation" -> tokenCheck),
      "series" -> series.toSeq,
      "bytes_written_per_pass" -> series.map(_("bytes_written").asInstanceOf[Long]).sum,
      "frontend_ms_per_pass" -> series.map(_("progress_ms").asInstanceOf[Map[String, Long]]
        .getOrElse("queryPlanning", 0L)).sum.toDouble,
      "detail" -> Map(
        "corpus_docs" -> CorpusDocs, "batches" -> Batches, "per_batch" -> PerBatch,
        "arrival_kinds" -> kinds, "kept" -> streamed.size,
        "input_bytes" -> inputBytes.sum,
        "export_bytes" -> (dirBytes(root) + dirBytes(out)),
        "tokens" -> Map("landed" -> landed, "carried" -> carried, "ingested" -> ingested)))
  }
}
