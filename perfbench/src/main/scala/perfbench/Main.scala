package perfbench

import org.apache.spark.sql.SparkSession
import org.json4s._
import org.json4s.jackson.JsonMethods

import java.nio.file.{Files, Path, Paths}

/** Benchmark entry point (started by `run.py`, which builds the classpath):
  *
  * {{{
  *   Main --workload serve|toolkit --seed N --seconds S --trace 0|1 --work DIR
  * }}}
  *
  * Prints a `perfbench-detail` JSON line (host sentinel, sample counts,
  * per-workload detail), then as the LAST stdout line the result:
  * `{"correct", "attempted", "failed", "metrics"}` with every end-to-end
  * metric (`--trace 0`) or every per-layer metric (`--trace 1`). A traced
  * run also writes its spans to `DIR/../traces/<workload>-seed<N>.jsonl`.
  */
object Main {

  val Workloads: Seq[String] = Seq("serve", "toolkit")

  /** Build, refresh and toolkit stages whose Spark jobs are counted:
    * metric suffix -> span name. Per call (a mean over the append batches).
    */
  val Stages: Seq[(String, String)] = Seq(
    "import" -> "core.import", "embed" -> "core.embed",
    "kw_build" -> "search.kw_build", "ann_build" -> "search.ann_build",
    "append" -> "core.append", "embed_incr" -> "core.embed_incr",
    "kw_refresh" -> "search.kw_refresh", "ann_refresh" -> "search.ann_refresh",
    "minhash" -> "dedup.minhash", "cc" -> "dedup.cc",
    "ppl_bands" -> "functions.ppl_bands", "write" -> "toolkit.write")

  /** End-to-end metrics, identical for every workload. */
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "ops_per_s" -> "1/s", "stored_bytes_ratio" -> "ratio")

  /** Per-layer metrics, identical for every workload. A layer the workload
    * does not exercise reports 0; one it exercises but could not measure
    * reports null.
    */
  val LayerMetrics: Seq[(String, String)] = {
    val modes = SearchWorkload.Modes
    modes.flatMap(m => Seq(
      s"serve.handler_ms.$m" -> "ms", s"search.call_ms.$m" -> "ms",
      s"spark.jobs_per_req.$m" -> "count", s"spark.tasks_per_req.$m" -> "count",
      s"spark.input_bytes_per_req.$m" -> "bytes")) ++ Seq(
      "serve.wait_ms" -> "ms", "embed.query_ms" -> "ms",
      "embed.batch_docs_per_s" -> "docs/s", "core.load_ms" -> "ms",
      "core.ingest_docs_per_s" -> "docs/s", "core.import_s" -> "s", "core.embed_s" -> "s", "core.append_s" -> "s",
      "core.embed_incr_s" -> "s", "core.data_files" -> "count",
      "core.index_files" -> "count", "search.kw_build_s" -> "s",
      "search.ann_build_s" -> "s", "search.kw_refresh_s" -> "s",
      "search.ann_refresh_s" -> "s", "search.ann_recall10" -> "ratio",
      "spark.sched_delay_ms" -> "ms", "core.fresh_s" -> "s",
      "dedup.minhash_s" -> "s", "dedup.cc_s" -> "s", "dedup.pairs" -> "count",
      "dedup.pair_yield" -> "ratio", "functions.ppl_bands_s" -> "s",
      "serve.rtt_p50_ms" -> "ms",
      "jvm.live_heap_mb" -> "MB", "jvm.peak_rss_mb" -> "MB") ++
      // the end-to-end metrics as measured with tracing on: compared with
      // an untraced run of the same seed they give the tracing overhead
      EndToEnd.map { case (name, unit) => s"traced.$name" -> unit } ++
      Stages.flatMap { case (stage, _) => Seq(
        s"spark.jobs.$stage" -> "count", s"spark.shuffle_bytes.$stage" -> "bytes",
        s"spark.spill_bytes.$stage" -> "bytes") }
  }

  def main(args: Array[String]): Unit =
    try run(args)
    catch {
      case e: Throwable =>
        // no result line; exit at once rather than wait on Spark's threads
        e.printStackTrace()
        System.exit(1)
    }

  private def run(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts.getOrElse("workload", "")
    require(Workloads.contains(workload), s"--workload must be one of $Workloads")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toInt
    val trace = opts.getOrElse("trace", "0") == "1"
    val work = Paths.get(opts("work")).toAbsolutePath
    Files.createDirectories(work)

    val load1Start = Host.load1()
    val jvmsStart = Host.otherJvms()
    val cpuStart = Host.cpuJiffies()
    val cores = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val tracer = new Tracer(spark.sparkContext, trace)
    val ctx = new Ctx(spark, seed, seconds, work, tracer)

    val out = workload match {
      case "serve" => SearchWorkload.run(ctx)
      case "toolkit" => ToolkitWorkload.run(ctx)
    }
    val e2e = out.e2e + ("setup_s" -> (ctx.setupSec, "s"))
    require(e2e.keySet == EndToEnd.map(_._1).toSet, s"end-to-end metrics ${e2e.keySet}")
    val metrics: Seq[(String, (Double, String))] =
      if (!trace) EndToEnd.map { case (name, _) => name -> e2e(name) }
      else {
        tracer.drain()
        val measured = out.layer ++ stageMetrics(tracer) ++
          e2e.map { case (name, v) => s"traced.$name" -> v } ++ Map(
            "jvm.live_heap_mb" -> (ctx.liveHeapMb, "MB"),
            "jvm.peak_rss_mb" -> (Host.peakRssMb(), "MB"))
        LayerMetrics.map { case (name, unit) => name -> measured.getOrElse(name, (0.0, unit)) }
      }
    if (trace)
      tracer.write(work.getParent.resolve("traces").resolve(s"$workload-seed$seed.jsonl"))
    spark.stop()

    val detail = Map[String, Any](
      "workload" -> workload, "seed" -> seed, "seconds" -> seconds, "trace" -> trace,
      "cores" -> cores, "setup_s" -> ctx.setupSec,
      "host" -> Map("load1_start" -> load1Start, "load1_end" -> Host.load1(),
        "other_jvms_start" -> jvmsStart, "other_jvms_end" -> Host.otherJvms(),
        "cpu_steal_share" -> Host.stealShare(cpuStart, Host.cpuJiffies())),
      "checks" -> ctx.failures.checked, "peak_rss_mb" -> Host.peakRssMb()) ++ out.detail
    println("perfbench-detail " + json(detail))
    val failed = ctx.failures.count
    println(json(JObject(
      "correct" -> JBool(failed == 0),
      "attempted" -> JInt(out.attempted + ctx.failures.checked),
      "failed" -> JInt(failed),
      "metrics" -> JObject(metrics.map { case (name, (v, unit)) =>
        name -> JObject("value" -> JDouble(v), "unit" -> JString(unit))
      }.toList))))
    System.out.flush()
  }

  /** `v` (maps, sequences, options, numbers, strings, or a `JValue`) as one
    * line of JSON. A number that could not be measured (NaN) renders as
    * null.
    */
  def json(v: Any): String =
    JsonMethods.compact(Extraction.decompose(v)(DefaultFormats).map {
      case JDouble(d) if d.isNaN || d.isInfinite => JNull
      case x => x
    })

  /** Jobs, shuffle bytes and spill bytes per call of each stage. */
  private def stageMetrics(tracer: Tracer): Map[String, (Double, String)] =
    Stages.flatMap { case (stage, spanName) =>
      val calls = tracer.allSpans.filter(_.name == spanName)
      if (calls.isEmpty) Nil
      else {
        val t = tracer.totals(calls.flatMap(s => tracer.subtree(s.id)).toSet)
        val n = calls.size.toDouble
        Seq(s"spark.jobs.$stage" -> (t.jobs / n, "count"),
          s"spark.shuffle_bytes.$stage" -> (t.shuffleBytes / n, "bytes"),
          s"spark.spill_bytes.$stage" -> (t.spillBytes / n, "bytes"))
      }
    }.toMap
}
