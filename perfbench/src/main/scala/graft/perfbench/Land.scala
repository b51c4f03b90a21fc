package graft.perfbench

import java.io.File
import java.nio.file.{Files, StandardCopyOption}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.FlightGen

/** Lands a seed's fleet feeds from its flight plan. The batch feed is
  * landed in a JVM of its own, so that the measured JVM starts cold.
  *
  * The flight ids and start offsets come from `flights.parquet`
  * (flight, offset, role), which run.py derives from the seed. Each
  * flight is one [[FlightGen.trace]] whose sample `time` arrives at
  * offset + time. Rows are written in arrival order, (offset + time,
  * flight), as the feed would arrive from a fleet.
  */
object Land {
  /** Arrival-time origin of the stream's event-time column. */
  val StreamEpochS = 1700000000L

  /** Files of the batch feed. */
  val BatchFiles = 8

  /** One-trigger files of the stream feed, before the two that close it. */
  val StreamFiles = 40

  def feed(flights: DataFrame): DataFrame =
    FlightGen.trace(flights.select("flight"))
      .join(flights.select("flight", "offset"), "flight")
      .withColumn("arrival", col("offset") + col("time"))

  /** Batch feed: BatchFiles parquet files, range-split on arrival. */
  def batchFeed(flights: DataFrame, out: String): Unit =
    feed(flights)
      .repartitionByRange(BatchFiles, col("arrival"), col("flight"))
      .sortWithinPartitions("arrival", "flight")
      .drop("offset", "arrival")
      .write.parquet(out)

  /** Stream feed: StreamFiles files, one per trigger, in arrival
    * order, each row a [[graft.streaming.ApproachStream.TimedSample]].
    * Two one-row
    * probe files of a flight outside the feed close it: the first
    * moves the watermark past every flight's gap, the second is a
    * batch in which the timed-out flights are emitted.
    */
  def streamFeed(spark: SparkSession, flights: DataFrame, out: String): Unit = {
    val sampleCols = FlightGen.trace(spark.range(0, 1).toDF("flight"))
      .columns.map(col).toIndexedSeq
    def timed(df: DataFrame) = df.select(
      timestamp_seconds(lit(StreamEpochS) + col("arrival")).as("ts"),
      struct(sampleCols: _*).as("sample"))
    val f = feed(flights)
    val staging = out + "_staging"
    timed(f.repartitionByRange(StreamFiles, col("arrival"), col("flight"))
      .sortWithinPartitions("arrival", "flight"))
      .write.parquet(s"$staging/feed")
    val lastArrival = f.agg(max("arrival")).head().getLong(0)
    for ((k, gap) <- Seq(1 -> 7200L, 2 -> 14400L)) {
      val probe = FlightGen.trace(spark.range(-1, 0).toDF("flight"))
        .filter(col("time") === 0)
        .withColumn("arrival", lit(lastArrival + gap))
      timed(probe).coalesce(1).write.parquet(s"$staging/probe$k")
    }
    // The file source takes files oldest first: order them by mtime.
    val parts = Seq("feed", "probe1", "probe2").flatMap { d =>
      new File(s"$staging/$d").listFiles()
        .filter(p => p.getName.startsWith("part-") && p.getName.endsWith(".parquet"))
        .sortBy(_.getName).toSeq
    }
    new File(out).mkdirs()
    val t0 = System.currentTimeMillis() - parts.size * 1000L
    for ((p, i) <- parts.zipWithIndex) {
      val dst = new File(out, f"batch-$i%04d.parquet")
      Files.move(p.toPath, dst.toPath, StandardCopyOption.ATOMIC_MOVE)
      dst.setLastModified(t0 + i * 1000L)
    }
    deleteTree(new File(staging))
  }

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(deleteTree)
    f.delete()
  }

  /** The flights of one role in DIR/flights.parquet. */
  def flights(spark: SparkSession, dir: String, role: String): DataFrame =
    spark.read.parquet(s"$dir/flights.parquet").filter(col("role") === role).drop("role")

  /** `--inputs DIR --threads N --scratch TMP`: DIR holds
    * flights.parquet; lands DIR/feed.parquet from its "feed" flights.
    * The stream probe's feed is landed by the traced run that uses it,
    * after its timed section.
    */
  def main(args: Array[String]): Unit = {
    val opts = Harness.options(args)
    val dir = opts("inputs")
    val spark = Harness.session(opts("threads").toInt, opts("scratch"))
    try batchFeed(flights(spark, dir, "feed"), s"$dir/feed.parquet")
    finally spark.stop()
  }
}
