package graft.perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions.{col, udf}
import org.apache.spark.sql.streaming.{StreamingQueryProgress, Trigger}
import org.apache.spark.storage.StorageLevel

import graft.{GraftSession, SparkEntry}
import graft.approach.{AirportIndex, ApproachDetector, ApproachPipeline}
import graft.functions.GraftFunctions
import graft.model.{Airport, FlightSample, Thresholds}
import graft.queries.{MultimodalQueries, Relational, TextQueries, VectorQueries}
import graft.sinks.Sinks
import graft.sources.{Dims, FlightGen}
import graft.streaming.ApproachStream

/** The benchmark's JVM side. run.py starts one fresh JVM per run, once
  * [[Land]] has landed the seed's inputs in a JVM of its own. The run
  * sets up, warms up, runs the timed section of one workload and writes
  * raw measurements to --out. A traced run then probes single layers,
  * landing the stream probe's small feed first.
  *
  * Outputs are written for run.py's oracle checks outside the timed
  * window. No throw is swallowed: each is logged with its message and
  * reported as a failed operation.
  */
object Harness {
  /** `--key value` pairs. */
  def options(args: Array[String]): Map[String, String] =
    args.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap

  /** A GraftSession with `threads` task threads and shuffle partitions,
    * keeping its files under `work`.
    */
  def session(threads: Int, work: String): SparkSession = {
    val spark = GraftSession.builder(s"local[$threads]", threads.toString)
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def main(args: Array[String]): Unit = {
    val opts = options(args)
    val threads = opts("threads").toInt
    val tracer = new Tracer(opts.get("trace").contains("1"))
    val (spark, startS) = Clock.timed(tracer.span("session.start") {
      session(threads, opts("scratch"))
    })
    try new Run(opts, spark, tracer, threads, startS).run()
    finally spark.stop()
  }
}

final class Run(opts: Map[String, String], spark: SparkSession,
    tracer: Tracer, threads: Int, sessionStartS: Double) {
  import spark.implicits._

  private val workload = opts("workload")
  private val seconds = opts("seconds").toDouble
  private val inputs = opts.getOrElse("inputs", "")
  private val outDir = opts("outdir")
  private val work = opts("scratch")

  private val setup = mutable.LinkedHashMap("session.start_s" -> sessionStartS)
  private val layer = mutable.LinkedHashMap.empty[String, Double]
  private val result = mutable.LinkedHashMap.empty[String, Any]
  private val failures = mutable.ArrayBuffer.empty[Map[String, String]]
  private var meter: Option[Meter] = None

  /** Runs `body`; a throw is logged, recorded against `op` and
    * returned as None.
    */
  private def attempt[T](op: String)(body: => T): Option[T] =
    try Some(body)
    catch {
      case e: Exception =>
        val msg = s"${e.getClass.getName}: ${e.getMessage}"
        System.err.println(s"[perfbench] $op failed: $msg")
        failures += Map("op" -> op, "message" -> msg)
        None
    }

  private def timedSpan[T](name: String)(body: => T): (T, Double) =
    Clock.timed(tracer.span(name)(body))

  def run(): Unit = {
    setup("session.register_s") =
      timedSpan("session.register")(GraftFunctions.register(spark))._2
    meter = if (tracer.enabled) Some(Meter.install(spark, tracer, threads)) else None
    workload match {
      case "flagship_batch" => flagshipBatch()
      case "query_mix" => queryMix()
      case other => sys.error(s"unknown workload $other")
    }
    result("setup") = setup
    result("failures") = failures
    result("layer") = layer
    if (tracer.enabled) result("spans") = tracer.all
    result("vm_hwm_kb") = scala.io.Source.fromFile("/proc/self/status").getLines()
      .collectFirst { case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toLong }
      .getOrElse(0L)
    Files.write(new File(opts("out")).toPath,
      Json(result).getBytes(StandardCharsets.UTF_8))
  }

  /** Marks the end of set-up: run.py measures set-up from its launch
    * of this JVM to this instant.
    */
  private def setupDone(): Unit = {
    result("setup_end_ms") = System.currentTimeMillis()
    meter.foreach(_.reset())
  }

  /** Repeats `unit` until `seconds` of timed work have run (once in a
    * traced run), clearing cached data after each unit outside its
    * timing. `unit` returns whether all of its operations succeeded.
    * Records and returns each unit's wall time and success.
    */
  private def timedLoop(unit: Int => Boolean): Seq[(Double, Boolean)] = {
    val walls = mutable.ArrayBuffer.empty[Double]
    val ok = mutable.ArrayBuffer.empty[Boolean]
    val from = tracer.now
    var i = 0
    while (i == 0 || (!tracer.enabled && walls.sum < seconds)) {
      val (good, s) = timedSpan("bench.unit")(unit(i))
      walls += s
      ok += good
      clearCache()
      i += 1
    }
    val window = tracer.now - from
    result("window") = Seq(from, from + window)
    result("unit_walls_s") = walls
    result("unit_ok") = ok
    meter.foreach(m => layer ++= m.snapshot(window))
    walls.toSeq.zip(ok)
  }

  private def clearCache(): Unit = {
    val (_, s) = timedSpan("cache.clear")(spark.catalog.clearCache())
    layer("cache.clear_s") = layer.getOrElse("cache.clear_s", 0.0) + s
  }

  private def airports(): Array[Airport] = {
    val (a, s) = timedSpan("sources.prep")(Dims.syntheticAirports())
    setup("sources.prep_s") = s
    a
  }

  private def writeRows(rows: Array[Row], schemaOf: DataFrame, name: String): Unit =
    spark.createDataFrame(rows.toList.asJava, schemaOf.schema)
      .coalesce(1).write.parquet(s"$outDir/$name")

  /** Rows of the approaches table by flight; its first two columns
    * are flight_id and approach_id.
    */
  private def byFlight(rows: Array[Row]): Map[Long, Seq[Row]] =
    rows.toSeq.groupBy(_.getLong(0)).map { case (k, v) => k -> v.sortBy(_.getInt(1)) }

  /** Flights whose rows differ between two results. */
  private def differing(a: Array[Row], b: Array[Row]): Seq[Long] = {
    val (x, y) = (byFlight(a), byFlight(b))
    (x.keySet ++ y.keySet).filter(k => x.get(k) != y.get(k)).toSeq.sorted
  }

  /** The oracle SQL of each name that has one. */
  private def writeOracles(names: Seq[String]): Unit = {
    val oracles = SparkEntry.oracleSql
    Files.write(new File(s"$outDir/oracle_sql.json").toPath,
      Json(names.flatMap(n => oracles.get(n).map(n -> _)).toMap)
        .getBytes(StandardCharsets.UTF_8))
  }

  // ---- flagship_batch ---------------------------------------------

  private val readyNs = udf(() => System.nanoTime()).asNondeterministic()

  /** The flagship job over the feed at `path`: its approach rows, and
    * each flight's time to result, from the pass's start until its row
    * left the detector. Records the plan's build time of the last pass.
    */
  private def batchResult(path: String, ap: Array[Airport]): (Array[Row], Seq[Double]) = {
    val t0 = System.nanoTime()
    val (df, build) = timedSpan("queries.build") {
      ApproachPipeline.approachesTable(ApproachPipeline.detectApproaches(
        spark.read.parquet(path).as[FlightSample], ap))
    }
    layer("queries.build_s") = build
    val stamped = tracer.span("exec.collect")(df.withColumn("ready_ns", readyNs()).collect())
    val rows = stamped.map(r => Row.fromSeq(r.toSeq.init))
    val ready = stamped.groupBy(_.getAs[Long]("flight_id")).values
      .map(rs => (rs.map(_.getAs[Long]("ready_ns")).max - t0) / 1e9)
    (rows, ready.toSeq)
  }

  private def flagshipBatch(): Unit = {
    val ap = airports()
    val feed = s"$inputs/feed.parquet"
    // untimed passes over the feed until the JIT has settled: in a cold
    // JVM a pass keeps getting faster for about the first eight
    for (i <- 1 to 6) attempt(s"warm-up $i")(batchResult(feed, ap))
    setupDone()
    val results = mutable.ArrayBuffer.empty[Array[Row]]
    val ready = mutable.ArrayBuffer.empty[Double]
    val units = timedLoop { i =>
      val pass = attempt(s"pass $i")(batchResult(feed, ap))
      pass.foreach { case (rows, r) =>
        results += rows
        ready ++= r
      }
      pass.isDefined
    }
    val flights = spark.read.parquet(feed).select("flight").distinct().count()
    // a failed pass's flights get their result when it fails: its wall
    for ((w, ok) <- units if !ok)
      ready ++= Seq.fill(flights.toInt)(w)
    result("op_s") = ready
    result("samples_per_unit") = spark.read.parquet(feed).count()
    result("flights_per_unit") = flights
    writeOracles(Seq("q20_approaches"))
    results.headOption.foreach { first =>
      writeRows(first, ApproachPipeline.approachesTable(
        spark.emptyDataset[graft.model.Approach]), "batch_result")
    }
    // every pass is checked against the first
    result("differing") = results.toSeq.map(differing(results.head, _))
    if (tracer.enabled) {
      scanProbe(spark.read.parquet(feed).queryExecution.toRdd.count())
      approachProbes(spark.read.parquet(feed).as[FlightSample], ap)
      streamProbe(ap)
    }
  }

  // ---- stream probe -----------------------------------------------

  private val timedSampleSchema = Encoders.product[ApproachStream.TimedSample].schema

  private def feedSamples(dir: String): Dataset[FlightSample] =
    spark.read.schema(timedSampleSchema).parquet(dir)
      .select("sample.*").filter(col("flight") >= 0).as[FlightSample]

  /** One stream over the files of `dir`, one file per trigger, merged
    * into a fresh table. Returns its progress reports and the table.
    */
  private def streamOnce(dir: String, tag: String, ap: Array[Airport],
      merges: mutable.ArrayBuffer[Double]): (Seq[StreamingQueryProgress], String) = {
    val table = s"$work/$tag/table"
    val source = spark.readStream.schema(timedSampleSchema)
      .option("maxFilesPerTrigger", 1).parquet(dir)
      .as[ApproachStream.TimedSample]
    val approaches = tracer.span("queries.build") {
      ApproachStream.detectApproaches(source, ap).drop("unstable_intervals")
    }
    val q = approaches.writeStream
      .option("checkpointLocation", s"$work/$tag/checkpoint")
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: Dataset[Row], _: Long) =>
        val (_, s) = timedSpan("sinks.merge")(Sinks.mergeApproachesTable(batch, table))
        merges.synchronized(merges += s)
        ()
      }
      .start()
    try q.awaitTermination() finally q.stop()
    (q.recentProgress.toSeq, table)
  }

  /** The streaming twin over a small landed feed, merged into a fresh
    * table after every micro-batch: the streaming, state-store and sink
    * layers. Its flights are checked too: the merged table must equal
    * the batch path's result, with one row per (flight_id, approach_id).
    */
  private def streamProbe(ap: Array[Airport]): Unit = {
    val dir = s"$work/stream-feed"
    Land.streamFeed(spark, Land.flights(spark, inputs, "stream"), dir)
    val merges = mutable.ArrayBuffer.empty[Double]
    meter.foreach(_.reset())
    val run = attempt("stream")(streamOnce(dir, "stream", ap, merges))
    val written = meter.map(_.snapshot(1.0)("output_bytes")).getOrElse(0.0)
    val batchDf = ApproachPipeline.approachesTable(
      ApproachPipeline.detectApproaches(feedSamples(dir), ap))
    val expected = batchDf.collect()
    result("stream_flights") = byFlight(expected).size
    result("stream_differing") = run match {
      case None => byFlight(expected).keys.toSeq
      case Some((_, table)) =>
        val merged = spark.read.parquet(table)
          .select(batchDf.columns.toIndexedSeq.map(col): _*).collect()
        val dupKeys = merged.groupBy(r => (r.getLong(0), r.getInt(1)))
          .collect { case ((f, _), rs) if rs.length > 1 => f }
        (differing(expected, merged) ++ dupKeys).distinct.sorted
    }
    for ((progress, table) <- run) {
      streamLayer(progress)
      layer("sinks.merge_s") = merges.sum
      val files = listFiles(new File(table))
        .filter(f => f.getName.startsWith("part-") && !f.getPath.contains("_temporary"))
      layer("sinks.files") = files.size
      result("sink_table_bytes") = files.map(_.length).sum
      result("sink_written_bytes") = written
    }
  }

  private def listFiles(f: File): Seq[File] =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(listFiles)
    else Seq(f)

  /** Stream and state-store layer figures from progress reports. The
    * batch's phase durations become child spans laid end to end in the
    * order the micro-batch runs them.
    */
  private def streamLayer(all: Seq[StreamingQueryProgress]): Unit = {
    def dur(p: StreamingQueryProgress, k: String) =
      Option(p.durationMs.get(k)).map(_.toDouble / 1e3).getOrElse(0.0)
    def sum(k: String) = all.map(dur(_, k)).sum
    val ops = all.flatMap(_.stateOperators)
    layer("stream.batches") = all.count(_.numInputRows > 0)
    layer("stream.add_batch_s") = sum("addBatch")
    layer("stream.query_planning_s") = sum("queryPlanning")
    layer("stream.wal_commit_s") = sum("walCommit")
    layer("stream.commit_offsets_s") = sum("commitOffsets")
    layer("stream.state_rows_peak") = (0L +: ops.map(_.numRowsTotal)).max
    layer("stream.state_mb_peak") = (0L +: ops.map(_.memoryUsedBytes)).max / 1048576.0
    layer("stream.state_commit_s") = ops.map(_.commitTimeMs).sum / 1e3
    layer("stream.state_update_s") = ops.map(_.allUpdatesTimeMs).sum / 1e3
    layer("stream.state_remove_s") = ops.map(_.allRemovalsTimeMs).sum / 1e3
    for (p <- all) {
      val start = tracer.atEpochMs(java.time.Instant.parse(p.timestamp).toEpochMilli)
      tracer.derived("stream.batch", start, start + dur(p, "triggerExecution"))
      var t = start
      for (k <- Seq("latestOffset", "walCommit", "getBatch", "queryPlanning",
          "addBatch", "commitOffsets")) {
        tracer.derived(s"stream.$k", t, t + dur(p, k))
        t += dur(p, k)
      }
    }
  }

  // ---- query_mix --------------------------------------------------

  private def moduleOf(name: String): String =
    if (Relational.queries.contains(name)) "relational"
    else if (TextQueries.queries.contains(name)) "text"
    else if (VectorQueries.queries.contains(name)) "vector"
    else if (MultimodalQueries.queries.contains(name)) "multimodal"
    else "approach"

  private def queryMix(): Unit = {
    val sf = opts("sf")
    val names = opts("queries").split(",").toSeq
    val prep = Seq[(String, () => Any)](
      "prepareBucketedTables" -> (() => Relational.prepareBucketedTables(spark, sf)),
      "prepareJsonlCorpus" -> (() => TextQueries.prepareJsonlCorpus(spark, sf)),
      "prepareOrcCorpus" -> (() => TextQueries.prepareOrcCorpus(spark, sf)))
    setup("sources.prep_s") = prep.map { case (n, f) =>
      timedSpan("sources.prep")(attempt(n)(f()))._2
    }.sum
    // warm-up as graft.Bench does it: the scan/codegen/JIT paths once
    for (n <- Seq("q12_topk", "q01_pricing_summary"))
      attempt(s"warm-up $n")(SparkEntry.queries(n)(spark, sf).queryExecution.toRdd.count())
    spark.catalog.clearCache()
    setupDone()
    val times = mutable.ArrayBuffer.empty[Double]
    val build = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    val byModule = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    timedLoop { unit =>
      names.map { name =>
        val module = moduleOf(name)
        val t0 = System.nanoTime()
        val ok = tracer.span(s"queries.$module") {
          attempt(name) {
            val (df, b) = timedSpan("queries.build")(SparkEntry.queries(name)(spark, sf))
            build(name) += b
            tracer.span("exec.write")(df.write.parquet(s"$outDir/q$unit/$name"))
          }
        }.isDefined
        val s = (System.nanoTime() - t0) / 1e9
        System.err.println(f"[perfbench] $name%s $s%.3f s")
        byModule(module) += s
        times += s
        clearCache()
        ok
      }.forall(identity)
    }
    result("op_s") = times
    layer("queries.build_s") = build.values.sum
    for (m <- Seq("relational", "text", "vector", "multimodal"))
      layer(s"queries.${m}_s") = byModule(m)
    writeOracles(names)
    if (tracer.enabled) {
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      scanProbe(Seq("lineitem", "orders", "events", "documents", "embeddings")
        .map(t => spark.read.parquet(s"$sf/$t.parquet").queryExecution.toRdd.count()).sum)
      approachProbes(FlightGen.trace(spark.range(0, 2000).toDF("flight")).as[FlightSample],
        Dims.syntheticAirports())
    }
  }

  // ---- layer probes (traced runs only) ----------------------------

  /** The input read alone, executed with toRdd. */
  private def scanProbe(rows: => Long): Unit = {
    val (n, s) = timedSpan("sources.scan")(rows)
    layer("sources.rows") = n.toDouble
    layer("sources.scan_s") = s
  }

  /** The detector kernel and airport lookup on one thread over a
    * fixed subset of flights, then the distributed pipeline over the
    * workload's input held in memory.
    */
  private def approachProbes(input: Dataset[FlightSample], ap: Array[Airport]): Unit = {
    val ids = input.select("flight").distinct().orderBy("flight").limit(200)
      .as[Long].collect().toSet
    val flights = input.filter(col("flight").isin(ids.toSeq: _*)).collect()
      .groupBy(_.flight).values.map(_.sortBy(_.time).toIndexedSeq).toSeq
    val samples = flights.map(_.size).sum
    val index = new AirportIndex(ap)
    val detector = new ApproachDetector(index, Thresholds())
    def median(xs: Seq[Double]) = xs.sorted.apply(xs.size / 2)
    val detectNs = tracer.span("approach.detect") {
      median((1 to 5).map { _ =>
        Clock.timed(flights.foreach(f => detector.detect(f.head.flight, f)))._2
      })
    }
    layer("approach.detect_ns_per_sample") = detectNs * 1e9 / samples
    val points = flights.flatten.map(s => (s.latitude, s.longitude)).toArray
    var sink = 0 // kept in the result, so the JIT cannot drop the lookups
    val nearestNs = tracer.span("approach.nearest") {
      median((1 to 5).map { _ =>
        Clock.timed(points.foreach { case (la, lo) => sink ^= index.nearest(la, lo).code.length })._2
      })
    }
    layer("approach.nearest_ns") = nearestNs * 1e9 / points.length
    result("nearest_checksum") = sink
    val cached = input.persist(StorageLevel.MEMORY_ONLY)
    cached.count()
    val (rows, s) = timedSpan("approach.pipeline") {
      ApproachPipeline.approachesTable(ApproachPipeline.detectApproaches(cached, ap)).collect()
    }
    cached.unpersist(true)
    layer("approach.pipeline_s") = s
    layer("approach.approaches") = rows.length
    layer("approach.unstable") = rows.count(_.getAs[Int]("unstable") == 1)
  }
}
