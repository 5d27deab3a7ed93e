package fsbench

import graft.GraftConf
import graft.fs.{FeatureCatalog, FeatureDef, FeatureGroup}
import org.apache.spark.sql.SparkSession

/** One workload of the benchmark. `catalog` is what its set-up
  * registers; `run` loads the generated inputs under `work/store`, runs
  * the measured closed loop and checks the outputs, recording into `r`. */
trait Workload {
  def catalog: (Seq[FeatureDef], Seq[FeatureGroup])
  /** Checks that must each run at least once for the run to be correct. */
  def checkNames: Seq[String]
  def run(r: Run, work: String, cat: FeatureCatalog): Unit
}

/** Runs one workload for one seed and writes the run record (JSON).
  *
  * Usage: fsbench.Main --workload <name> --seed <n> --seconds <s>
  *   --trace <0|1> --work <dir> --out <record.json> --launched-ms <epoch ms>
  */
object Main {
  val Slots = 4
  /** Set-ups per run; `setup_s` is their median. */
  val SetupReps = 3

  val Layers = Seq("fs.FeatureCatalog", "fs.RecordLog", "fs.Serving",
    "operators.Dedup", "operators.Similarity", "operators.IndexLayout",
    "streaming.StreamingFeatures", "plans.MinHashBands",
    "plans.HashedShingles", "plans.CentroidArgmax", "plans.CosineSim")
  val LayerMetrics = Seq("calls", "busy_ms", "driver_gap_ms", "jobs",
    "task_ms", "shuffle_bytes", "spill_bytes", "failed")
  /** Layer-specific metrics; a workload that leaves a layer idle
    * reports them as 0. */
  val LayerExtras = Seq("fs.RecordLog.files_written",
    "fs.RecordLog.bytes_written", "fs.RecordLog.live_files",
    "fs.Serving.rows_read_per_row_out", "operators.Dedup.rows_out_per_row_in",
    "operators.Similarity.rows_read_per_result",
    "operators.IndexLayout.delta_files",
    "streaming.StreamingFeatures.rows_kept_per_row_in",
    "plans.MinHashBands.rows_per_s", "plans.HashedShingles.rows_per_s",
    "plans.CentroidArgmax.rows_per_s", "plans.CosineSim.rows_per_s")

  def session(work: String): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$Slots]")
      .appName("fsbench")
      .config("spark.sql.shuffle.partitions", Slots.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
    val s = GraftConf.recommended(b, taskSlots = Slots).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def main(args: Array[String]): Unit = {
    val o = args.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val name = o("workload")
    val w: Workload = name match {
      case "serve_ingest" => new ServeIngest(o("seed").toLong)
      case "corpus_gate" => new CorpusGate(o("seed").toLong)
      case other =>
        System.err.println(s"unknown workload: $other"); sys.exit(2)
    }
    val work = o("work")
    val tracer = new Tracer(o("trace") == "1")
    val r = new Run(o("seed").toLong, o("seconds").toDouble, tracer)

    // set-up: session start plus the first catalog operation (feature
    // registration), repeated; the first one counts from process launch
    val (defs, groups) = w.catalog
    var cat: FeatureCatalog = null
    val setups = (0 until SetupReps).map { i =>
      if (r.spark != null) {
        tracer.drain(r.spark)
        r.spark.stop()
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
      }
      val t0 = System.nanoTime()
      r.spark = session(work)
      tracer.attach(r.spark)
      cat = new FeatureCatalog(r.spark, s"$work/catalog-$i")
      r.call("fs.FeatureCatalog")(cat.registerFeatures(defs))
      if (i == 0) (System.currentTimeMillis() - o("launched-ms").toLong) / 1000.0
      else (System.nanoTime() - t0) / 1e9
    }
    r.op("catalog")(r.call("fs.FeatureCatalog")(groups.foreach(cat.createGroup)))

    Run.canaryMs()
    val canary0 = Run.canaryMs()
    val gc0 = Run.gcMs()
    val jit0 = Run.jitMs()
    val t0Ms = System.currentTimeMillis()
    try w.run(r, work, cat)
    catch {
      case scala.util.control.NonFatal(e) =>
        r.failed += 1; r.attempted += 1
        r.failures += s"workload aborted: $e".take(400)
    }
    val t1Ms = System.currentTimeMillis()
    r.heapCheckpoint()
    val gcMs = Run.gcMs() - gc0
    val jitMs = Run.jitMs() - jit0
    val canary1 = Run.canaryMs()
    tracer.drain(r.spark)

    val s = r.samples.map { case (k, v) => k -> v.toSeq }.toMap.withDefaultValue(Seq.empty[Double])
    val stored = Run.du(s"$work/store") + Run.du(s"$work/catalog-${SetupReps - 1}")
    val inputBytes = r.inputs.get("input_bytes").fold(0L)(_.asInstanceOf[Long])
    val e2e = scala.collection.mutable.LinkedHashMap[String, Double](
      "setup_s" -> Run.median(setups),
      "request_p50_ms" -> Run.median(s("request")),
      "request_p90_ms" -> Run.percentile(s("request"), 90),
      "write_p50_ms" -> Run.median(s("write")),
      "bulk_s" -> Run.median(s("bulk")) / 1000.0,
      "load_s" -> s("load").sum / 1000.0,
      "compact_s" -> Run.median(s("compact")) / 1000.0,
      "request_recall" -> (if (s("recall").isEmpty) Double.NaN
        else s("recall").sum / s("recall").size),
      "store_bytes_per_input_byte" -> stored.toDouble / inputBytes,
      "peak_heap_mb" -> r.heapPeakMb,
      "ops_ok_frac" -> (r.attempted - r.failed).toDouble / math.max(1L, r.attempted))

    val layers = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    if (tracer.enabled) {
      Layers.foreach { l =>
        val m = tracer.layer(l)
        LayerMetrics.foreach(k => layers(s"$l.$k") = m(k))
      }
      val sch = tracer.scheduler(t0Ms, t1Ms)
      LayerMetrics.foreach(k => layers(s"spark.$k") = sch(k))
      LayerExtras.foreach(k => layers(k) = r.layerExtra.getOrElse(k, 0.0))
      layers("spark.gc_ms") = gcMs.toDouble
      layers("spark.jit_ms") = jitMs.toDouble
      layers("spark.canary_ratio") = canary1 / canary0
    }

    val missing = w.checkNames.filterNot(r.checks.contains)
    val correct = r.failed == 0 && missing.isEmpty
    if (missing.nonEmpty) r.failures += s"checks never ran: ${missing.mkString(",")}"
    val record = scala.collection.mutable.LinkedHashMap[String, Any](
      "workload" -> name, "seed" -> r.seed, "seconds" -> r.seconds,
      "trace" -> tracer.enabled, "correct" -> correct,
      "attempted" -> r.attempted, "failed" -> r.failed,
      "failures" -> r.failures.toSeq,
      "checks" -> r.checks.map { case (k, v) =>
        k -> Map("passed" -> v(0), "failed" -> v(1)) },
      "e2e" -> e2e, "layers" -> layers,
      "samples" -> r.samples.map { case (k, v) => k -> v.toSeq },
      "request_tail_percentile" -> Run.tailPercentile(s("request").size),
      "setups_s" -> setups,
      "inputs" -> r.inputs,
      "noise" -> Map("canary_start_ms" -> canary0, "canary_end_ms" -> canary1,
        "gc_ms" -> gcMs, "jit_ms" -> jitMs, "measured_ms" -> (t1Ms - t0Ms)),
      "spans" -> tracer.spans.map(x => Map("id" -> x.id, "layer" -> x.layer, "op" -> x.op,
        "start_ms" -> x.startMs, "end_ms" -> x.endMs, "failed" -> x.failed)))
    val out = java.nio.file.Paths.get(o("out"))
    java.nio.file.Files.write(out, Run.toJson(record).getBytes("UTF-8"))
    r.spark.stop()
  }
}
