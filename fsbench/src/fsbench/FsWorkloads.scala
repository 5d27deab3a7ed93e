package fsbench

import java.sql.Timestamp
import graft.fs.{FeatureCatalog, FeatureDef, FeatureGroup, RecordLog, Serving}
import org.apache.spark.sql.{Column, DataFrame, Observation, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Seeded inputs of the feature-store workloads. A snapshot row is
  * (entity_id, ts, seq, three features); `seq` is the row's global
  * index, unique, and the tie-break both the served path and the
  * check's recompute order by. */
object FsData {
  /** 2024-01-01T00:00:00Z; the generated history spans 30 days from it. */
  val T0 = 1704067200L
  val SpanSec = 30L * 86400
  /** Nominal bytes of one generated snapshot row: six 8-byte values. */
  val RowBytes = 48L
  val Key = "entity_id"

  def features(g: String): Seq[String] = Seq(s"f_${g}1", s"f_${g}2", s"f_${g}3")

  def defs(gs: Seq[String]): Seq[FeatureDef] = gs.flatMap(g => features(g).map(f =>
    FeatureDef(f, "entity", if (f.endsWith("3")) "int" else "float")))

  def group(g: String): FeatureGroup = FeatureGroup(s"g_$g", 1, features(g), Key)

  private def h(seed: Long, group: String, tag: String): Column =
    xxhash64(lit(seed), lit(group), lit(tag), col("id"))

  /** Rows `[from, until)` of one group's snapshots, `ts` in seconds. */
  def snapshots(spark: SparkSession, seed: Long, g: String, from: Long,
      until: Long, entities: Int, tsSec: Column): DataFrame = {
    val Seq(f1, f2, f3) = features(g)
    spark.range(from, until).select(
      pmod(h(seed, g, "e"), lit(entities.toLong)).as(Key),
      timestamp_seconds(tsSec).as("ts"),
      col("id").as("seq"),
      (pmod(h(seed, g, f1), lit(1000000L)) / 1e6).as(f1),
      (pmod(h(seed, g, f2), lit(1000000L)) / 1e6).as(f2),
      pmod(h(seed, g, f3), lit(1000L)).as(f3))
  }

  /** The base history: `n` rows spread evenly over the 30 days, so
    * every timestamp is distinct. */
  def history(spark: SparkSession, seed: Long, g: String, n: Long,
      entities: Int): DataFrame =
    snapshots(spark, seed, g, 0L, n, entities,
      lit(T0) + (col("id") * lit(SpanSec)) / lit(n))

  /** Appended rows after a `base`-row history: on time (one second
    * apart, after the history) except a `lateShare` whose timestamps
    * fall anywhere in the 30 days, so one append touches many date
    * partitions. */
  def appended(spark: SparkSession, seed: Long, g: String, base: Long,
      from: Long, until: Long, entities: Int, lateShare: Double): DataFrame =
    snapshots(spark, seed, g, from, until, entities,
      when(pmod(h(seed, g, "late"), lit(1000L)) < lit((lateShare * 1000).toLong),
          lit(T0) + pmod(h(seed, g, "lt"), lit(SpanSec)))
        .otherwise(lit(T0 + SpanSec) + col("id") - lit(base)))

  /** Zipf(s) over entity ranks; rank r maps to entity (r·P) mod n. */
  final class Requests(seed: Long, n: Int, s: Double, size: Int) {
    private val rnd = new java.util.Random(seed ^ 0x5DEECE66DL)
    private val cdf = {
      val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1, s))
      val c = w.scanLeft(0.0)(_ + _).tail
      c.map(_ / c.last)
    }
    def next(): Seq[Long] = {
      val ids = scala.collection.mutable.LinkedHashSet.empty[Long]
      while (ids.size < size) {
        val i = java.util.Arrays.binarySearch(cdf, rnd.nextDouble())
        val rank = if (i >= 0) i else -i - 1
        ids += (rank.toLong * 1000003L) % n
      }
      ids.toSeq
    }
  }

  /** One get-features request: the latest snapshot of each requested
    * entity at or before `asOfSec`, collected to the caller. */
  def serve(r: Run, log: RecordLog, g: FeatureGroup, ids: Seq[Long],
      asOfSec: Long): Array[Row] = {
    val spark = r.spark
    import spark.implicits._
    val recs = r.call("fs.RecordLog")(log.read(g))
    r.call("fs.Serving") {
      Serving.latestAsOf(recs.join(ids.toDF(Key), Seq(Key), "left_semi"),
        Key, "ts", Some(lit(new Timestamp(asOfSec * 1000))), Seq(col("seq")))
        .collect()
    }
  }

  /** Share of the independent recompute's rows that the request served:
    * a `row_number` window over the log's files, read without the
    * record log. Rows compare by value over the recompute's columns. */
  def servedShare(spark: SparkSession, dir: String, served: Array[Row],
      ids: Seq[Long], asOfSec: Long): Double = {
    val expected = spark.read.parquet(dir)
      .filter(col(Key).isin(ids: _*) &&
        col("ts") <= lit(new Timestamp(asOfSec * 1000)))
      .withColumn("__rn", row_number().over(
        Window.partitionBy(col(Key)).orderBy(col("ts").desc, col("seq").desc)))
      .filter(col("__rn") === 1).drop("__rn")
    val cols = expected.columns.toSeq
    def key(row: Row): String = cols.map(c => String.valueOf(row.getAs[Any](c))).mkString("|")
    val want = expected.collect().map(key).toSet
    val got = served.map(key)
    if (want.isEmpty) { if (got.isEmpty) 1.0 else 0.0 }
    else if (got.length != got.toSet.size || got.exists(k => !want.contains(k))) 0.0
    else got.count(want.contains).toDouble / want.size
  }

  /** Runs a record-log mutation; in the traced run, also counts the
    * data files and bytes it created. */
  def mutate(r: Run, dir: String)(body: => Unit): Unit = {
    val before = if (r.tracer.enabled) r.paused(Run.dataFiles(dir)) else Map.empty[String, Long]
    body
    if (r.tracer.enabled) r.paused {
      val created = Run.dataFiles(dir).filter { case (p, _) => !before.contains(p) }
      add(r, "fs.RecordLog.files_written", created.size)
      add(r, "fs.RecordLog.bytes_written", created.values.sum.toDouble)
    }
  }

  def add(r: Run, k: String, v: Double): Unit =
    r.layerExtra(k) = r.layerExtra.getOrElse(k, 0.0) + v

  def servingRatio(r: Run, spanIds: Seq[Int], rowsOut: Long): Unit =
    if (r.tracer.enabled) r.layerExtra("fs.Serving.rows_read_per_row_out") =
      r.tracer.recordsRead(spanIds).toDouble / math.max(1L, rowsOut)
}

/** `serve_ingest`: the feature store under one closed-loop client that
  * serves, ingests and builds training sets. Set-up loads a 30-day
  * history of two feature groups and compacts both logs. Each slice of
  * the measured loop compacts group a's log, appends a 5k-snapshot
  * batch to it — a share of it late, so one append touches many date
  * partitions — and builds one training set (point-in-time join of a
  * label frame across both groups, to a noop sink); get-features
  * requests (200 Zipf-skewed entity ids, latest-as-of, collected)
  * against the uncompacted log fill the rest of the slice. The catalog
  * evolves a group's schema once per run.
  * Operators, plans and streaming stay idle. */
final class ServeIngest(seed: Long) extends Workload {
  import FsData._
  val Entities = 20000
  val RowsPerGroup = 150000L
  val Groups = Seq("a", "b")
  val AppendRows = 5000L
  val LateShare = 0.2
  val Labels = 50000
  val RequestIds = 200
  val RequestSkew = 1.1
  val Slices = 2
  val MinRequests = 6
  /** Every CheckEvery-th request is checked against a recompute. */
  val CheckEvery = 4

  def catalog = (defs(Groups), Groups.map(group))
  def checkNames = Seq("compacted_rows", "served_rows", "train_rows")

  def run(r: Run, work: String, cat: FeatureCatalog): Unit = {
    val spark = r.spark
    val log = new RecordLog(spark, s"$work/store")
    val Seq(ga, gb) = Groups.map(g => cat.getGroup(s"g_$g").get)
    var rowsA = RowsPerGroup
    def compact(kind: String, grp: FeatureGroup, rows: Long): Unit = {
      r.op(kind)(mutate(r, log.dir(grp))(r.call("fs.RecordLog")(log.compact(grp))))
      r.check("compacted_rows")(spark.read.parquet(log.dir(grp)).count() == rows)
    }
    Seq("a" -> ga, "b" -> gb).foreach { case (g, grp) =>
      r.op("load")(mutate(r, log.dir(grp))(r.call("fs.RecordLog")(
        log.write(grp, history(spark, seed, g, RowsPerGroup, Entities)))))
      compact("load", grp, RowsPerGroup)
    }
    r.heapCheckpoint()

    val reqs = new Requests(seed, Entities, RequestSkew, RequestIds)
    val cutoff = T0 + 25L * 86400
    val labels = spark.range(Labels).select(
      pmod(xxhash64(lit(seed), lit("label"), col("id")), lit(Entities.toLong)).as(Key),
      pmod(xxhash64(lit(seed), lit("y"), col("id")), lit(2L)).as("label"))
    val servingSpans = scala.collection.mutable.ArrayBuffer.empty[Int]
    var rowsOut = 0L
    var requests = 0
    def tracked[A](body: => A): A = {
      val n0 = r.tracer.spans.size
      try body finally servingSpans ++= r.tracer.spans.drop(n0)
        .filter(_.layer == "fs.Serving").map(_.id)
    }
    def append(kind: String): Unit = {
      val batch = appended(spark, seed, "a", RowsPerGroup, rowsA, rowsA + AppendRows,
        Entities, LateShare)
      r.op(kind)(mutate(r, log.dir(ga))(r.call("fs.RecordLog")(log.write(ga, batch))))
        .foreach(_ => rowsA += AppendRows)
    }
    def request(kind: String): Unit = {
      val ids = reqs.next()
      val asOf = T0 + SpanSec + (rowsA - RowsPerGroup)
      r.op(kind)(tracked(serve(r, log, ga, ids, asOf))).foreach { rows =>
        rowsOut += rows.length
        if (requests % CheckEvery == 0) r.check("served_rows") {
          val share = servedShare(spark, log.dir(ga), rows, ids, asOf)
          r.sample("recall", share)
          share == 1.0
        }
        requests += 1
      }
    }
    def train(kind: String, i: Int): Unit = {
      val obs = Observation(s"train_$i")
      r.op(kind)(tracked {
        val recs = Seq(ga, gb).map(g => r.call("fs.RecordLog")(log.read(g)) -> g.features)
        r.call("fs.Serving")(Serving.pointInTimeJoin(labels, recs, Key, "ts",
            lit(new Timestamp(cutoff * 1000)), Seq(col("seq")))
          .observe(obs, count(lit(1)).as("n"))
          .write.format("noop").mode("overwrite").save())
      }).foreach { _ =>
        val n = obs.get("n").asInstanceOf[Long]
        rowsOut += n
        r.check("train_rows")(n == Labels)
      }
    }

    // warm-up: JIT and first-touch costs stay out of the samples
    append("warmup")
    request("warmup")
    train("warmup", -1)
    r.loop(Slices, MinRequests) { k =>
      if (k == 0) r.op("evolve")(r.call("fs.FeatureCatalog") {
        cat.registerFeature(FeatureDef("f_a4", "entity", "float"))
        cat.createGroup(ga.copy(version = 2, features = ga.features :+ "f_a4",
          id = "", createdAt = None))
      })
      compact("compact", ga, rowsA)
      append("write")
      train("bulk", k)
    } { () => request("request") }

    r.inputs ++= Seq("entities" -> Entities, "groups" -> Groups.size,
      "history_snapshots" -> RowsPerGroup * Groups.size, "history_days" -> 30,
      "appended_snapshots" -> (rowsA - RowsPerGroup), "append_rows" -> AppendRows,
      "late_share" -> LateShare,
      "snapshot_depth" -> (rowsA + RowsPerGroup).toDouble / (Entities * Groups.size),
      "request_ids" -> RequestIds, "request_skew_zipf_s" -> RequestSkew,
      "labels" -> Labels, "loop_slices" -> Slices,
      "input_bytes" -> (rowsA + RowsPerGroup) * RowBytes)
    servingRatio(r, servingSpans.toSeq, rowsOut)
    if (r.tracer.enabled) r.layerExtra("fs.RecordLog.live_files") =
      Seq(ga, gb).map(g => Run.dataFiles(log.dir(g)).size).sum
  }
}
