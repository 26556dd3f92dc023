package perfbench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.SparkEntry
import graft.core.FeatureFrame
import graft.estimators.KNeighborsRegressor
import graft.operators.Estimation
import graft.sources.{Datasets, Synthetic, Tables}
import graft.streaming.EventStreams

/** One benchmark workload. `generate` writes the seeded inputs under
  * `input`; `open` reads them back and gets the first op ready; `warmup`
  * is the untimed first op; `op` is one closed-loop operation; `probe`
  * runs the traced layer probes. The outputs the correctness checks read
  * go under `check`: from `warmup` where one op's output is the whole
  * result, from `verify` after the loop where the ops build one result.
  */
abstract class Workload(val spark: SparkSession, val seed: Long, val input: Path) {
  def rowsPerOp: Long
  def generate(): Unit
  def open(): Unit
  def sizes: Seq[(String, Long)]
  def op(t: Tracer, opId: Int): Unit
  /** The first op, which pays plan optimisation and code generation. */
  def warmup(check: Path): Unit
  /** Ops set-up runs before timing, `warmup` included, so that the JIT
    * has compiled the hot paths and op times no longer fall.
    */
  def warmupOps: Int
  /** False once a finite input is used up; the loop then stops early. */
  def hasNext: Boolean = true
  /** The input's id and feature columns, which the layer probes read. */
  protected def frame: FeatureFrame
  def verify(check: Path): Unit = ()
  def close(): Unit = ()
  /** Temporary views an op relies on, which the between-op reap keeps. */
  def keepViews: Set[String] = Set.empty
  /** The streaming query the ops feed, if the workload runs one. */
  def stream: Option[StreamingQuery] = None

  /** A scan of the frame's id and feature columns, then the same scan
    * with the NoData mask projected; the mask's own cost is the difference.
    */
  def probe(t: Tracer): Unit = {
    val ff = frame
    val cols = (ff.idCols ++ ff.featureCols).map(col)
    t.span("sources.scan", -1)(noop(ff.df.select(cols: _*)))
    t.span("core.mask", -1)(noop(ff.df.select(cols :+ ff.noDataMask.as("__mask"): _*)))
  }

  def maskedRows(): Long = { val ff = frame; ff.df.filter(ff.noDataMask).count() }

  protected def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  protected def path(name: String): String = input.resolve(name).toString

  /** Partitions the scan of a parquet input is split into; partitions
    * beyond a file's row groups read nothing.
    */
  protected def scanPartitions(p: String): Long =
    spark.read.parquet(p).rdd.getNumPartitions.toLong
}

object Workload {
  val Names: Seq[String] = Seq("knn_map", "transform_scan", "stream_sessions")

  def apply(name: String, spark: SparkSession, seed: Long, input: Path): Workload =
    name match {
      case "knn_map"         => new KnnMap(spark, seed, input)
      case "transform_scan"  => new TransformScan(spark, seed, input)
      case "stream_sessions" => new StreamSessions(spark, seed, input)
      case other => throw new IllegalArgumentException(
        s"unknown workload '$other'; expected one of ${Names.mkString(", ")}")
    }
}

/** The paper's canonical map: fit kNN on a few thousand plots, predict
  * every pixel. Nearly all the work is the O(m·d) per-pixel kernel.
  */
final class KnnMap(spark: SparkSession, seed: Long, input: Path)
    extends Workload(spark, seed, input) {
  val Pixels = 50000L
  val Plots = 4096
  val K = 5
  val Features: Seq[String] = Datasets.EcoplotFeatures
  val Targets: Seq[String] = Datasets.EcoplotTargets
  private var pixels: DataFrame = _
  private var plots: DataFrame = _

  def rowsPerOp: Long = Pixels
  def warmupOps: Int = 6

  def generate(): Unit = {
    Synthetic.featureArray(spark, Pixels, Features, maskPercentile = 0.03, seed = seed)
      .write.mode("overwrite").parquet(path("pixels"))
    // one octave: each plot's features are independent draws, so the
    // plots spread over the feature space instead of tracing one field
    val f = Features.map(col)
    Synthetic.featureArray(spark, Plots, Features, octaves = 1, seed = seed + 1)
      .select((col("sample_id").as("plot_id") +: f) ++ Seq(
        (f(0) * 2.0 + f(1) * 5.0 - f(2) * 1.5).as(Targets(0)),
        (f(3) * 3.0 - f(4) * 2.0 + f(5)).as(Targets(1)),
        (f(0) + f(4) * 4.0 - f(1) * 0.5).as(Targets(2))): _*)
      .coalesce(1).write.mode("overwrite").parquet(path("plots"))
  }

  def open(): Unit = {
    pixels = spark.read.parquet(path("pixels"))
    plots = spark.read.parquet(path("plots"))
    val cpus = spark.sparkContext.defaultParallelism
    val parts = scanPartitions(path("pixels"))
    require(parts >= cpus, s"pixel scan arrives in $parts tasks, fewer than $cpus")
  }

  def sizes: Seq[(String, Long)] =
    Seq("pixels" -> Pixels, "plots" -> plots.count(), "scan_partitions" -> scanPartitions(path("pixels")))

  protected def frame = FeatureFrame(pixels, Seq("sample_id"), Features)

  private def predicted(t: Tracer, opId: Int): DataFrame = {
    val model = t.span("estimators.fit", opId) {
      KNeighborsRegressor(k = K).fit(plots, Features, Targets)
    }
    model.predict(frame)
  }

  def op(t: Tracer, opId: Int): Unit = {
    val out = predicted(t, opId)
    t.span("estimators.predict", opId)(noop(out))
  }

  /** The op with its predictions written for the checks, not discarded. */
  def warmup(check: Path): Unit =
    predicted(Tracer.off(spark.sparkContext), -1).write.parquet(check.resolve("pred").toString)
}

/** The transform family: six queries that each fit on a slice of one
  * single-row-group lineitem file, then scan it whole in one task, hash a
  * row id, apply a cheap affine map and sort.
  */
final class TransformScan(spark: SparkSession, seed: Long, input: Path)
    extends Workload(spark, seed, input) {
  val Rows = 60000L
  val Queries: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    "q_std_scaler" -> (Estimation.qStdScaler _),
    "q_minmax_scaler" -> (Estimation.qMinMaxScaler _),
    "q_kbins" -> (Estimation.qKbins _),
    "q_l2norm" -> (Estimation.qL2Norm _),
    "q_pca" -> (Estimation.qPca _),
    "q_poly" -> (Estimation.qPoly _))
  val ScaleFeatures = Seq("l_quantity", "l_extendedprice", "l_discount")
  private def dir = input.toString

  def rowsPerOp: Long = Rows * Queries.size
  def warmupOps: Int = 2

  /** lineitem's schema and row count, with values on TPC-H grids: whole
    * quantities, cent prices, whole-percent discount and tax. Written as
    * one file holding one row group, like graft's TPC-H test tables.
    */
  def generate(): Unit = {
    def h(field: String) = xxhash64(lit(seed), lit(field), col("id"))
    def draw(field: String, n: Long) = pmod(h(field), lit(n))
    spark.range(Rows).select(
      draw("orderkey", Rows / 4).as("l_orderkey"),
      draw("partkey", 20000L).as("l_partkey"),
      draw("suppkey", 1000L).as("l_suppkey"),
      (draw("linenumber", 7L) + 1).cast("int").as("l_linenumber"),
      (draw("quantity", 50L) + 1).cast("double").as("l_quantity"),
      ((draw("price", 10499991L - 90068L + 1) + 90068L).cast("double") / 100.0)
        .as("l_extendedprice"),
      (draw("discount", 11L).cast("double") / 100.0).as("l_discount"),
      (draw("tax", 9L).cast("double") / 100.0).as("l_tax"),
      element_at(array(lit("A"), lit("N"), lit("R")), (draw("returnflag", 3L) + 1).cast("int"))
        .as("l_returnflag"),
      element_at(array(lit("F"), lit("O")), (draw("linestatus", 2L) + 1).cast("int"))
        .as("l_linestatus"),
      date_add(lit("1995-01-02").cast("date"), draw("shipdate", 2557L).cast("int"))
        .cast("timestamp_ntz").as("l_shipdate"))
      .coalesce(1)
      .write.mode("overwrite").option("parquet.block.size", 1L << 30)
      .parquet(path("lineitem.parquet"))
  }

  def open(): Unit = ()

  def sizes: Seq[(String, Long)] = Seq(
    "rows" -> Tables.lineitem(spark, dir).count(),
    "queries" -> Queries.size.toLong,
    "scan_partitions" -> scanPartitions(path("lineitem.parquet")))

  def op(t: Tracer, opId: Int): Unit =
    for ((name, q) <- Queries) {
      val df = t.span("estimators.fit", opId)(q(spark, dir))
      t.span(s"operators.$name", opId)(noop(df))
    }

  protected def frame =
    FeatureFrame(Tables.lineitem(spark, dir), Seq("l_orderkey"), ScaleFeatures)

  /** The op with each query's output written for the checks. */
  def warmup(check: Path): Unit = {
    for ((name, q) <- Queries) q(spark, dir).write.parquet(check.resolve(name).toString)
    val oracles = SparkEntry.oracleSql
    Files.write(check.resolve("oracle_sql.json"), Json.obj(Queries.map { case (n, _) =>
      n -> oracles.getOrElse(n, sys.error(s"no oracle SQL for $n"))
    }).bytes)
  }
}

/** graft as an incremental writer: event-time-ordered micro-batches into
  * the session-window aggregate, whose watermark and state store commit
  * every batch.
  */
final class StreamSessions(spark: SparkSession, seed: Long, input: Path)
    extends Workload(spark, seed, input) {
  val BatchEvents = 1000
  val MaxBatches = 100
  val Users = 1000
  val Sink = "perfbench_sessions"
  val SentinelUser = 999999999L
  private var events: Array[EventStreams.Ev] = _
  private var source: MemoryStream[EventStreams.Ev] = _
  private var query: StreamingQuery = _
  private var sent = 0

  def rowsPerOp: Long = BatchEvents.toLong
  def warmupOps: Int = 15
  override def keepViews: Set[String] = Set(Sink)
  override def hasNext: Boolean = sent + BatchEvents <= events.length

  /** Zipf(2) users (user k draws ~1/k² of events) on a clock that moves
    * 0-4 s per event and, once in ~4,000 events, stalls 31-90 minutes.
    * Busy users stay inside one 30-minute session until a stall; rare
    * users' gaps exceed it. Values are whole numbers, so sums are exact.
    */
  def generate(): Unit = {
    val rnd = new java.util.SplittableRandom(seed)
    var ts = 1700000000L * 1000000L
    val evs = Array.tabulate(BatchEvents * MaxBatches) { i =>
      ts += (if (rnd.nextInt(4000) == 0) rnd.nextLong(31L * 60, 90L * 60) * 1000000L
             else rnd.nextLong(0, 4000000L))
      val user = math.min((1.0 / (1.0 - rnd.nextDouble())).toLong, Users.toLong)
      EventStreams.Ev(user, ts, i.toLong, rnd.nextInt(1000).toDouble)
    }
    import spark.implicits._
    spark.createDataset(evs.toSeq).repartition(spark.sparkContext.defaultParallelism)
      .write.mode("overwrite").parquet(path("events"))
  }

  def open(): Unit = {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    events = spark.read.parquet(path("events")).as[EventStreams.Ev].collect()
      .sortBy(_.event_id)
    source = MemoryStream[EventStreams.Ev]
    query = EventStreams.sessionWindowStream(
        source.toDF().withColumn("ts", timestamp_micros(col("ts"))))
      .writeStream.format("memory").queryName(Sink).outputMode("append")
      .option("checkpointLocation", path("checkpoint"))
      .start()
  }

  def sizes: Seq[(String, Long)] = Seq(
    "events" -> events.length.toLong,
    "batch_events" -> BatchEvents.toLong,
    "batches_max" -> (events.length / BatchEvents).toLong,
    "scan_partitions" -> scanPartitions(path("events")))

  private def send(batch: Seq[EventStreams.Ev]): Unit = {
    source.addData(batch)
    query.processAllAvailable()
  }

  def op(t: Tracer, opId: Int): Unit = {
    val batch = events.slice(sent, sent + BatchEvents).toSeq
    sent += BatchEvents
    send(batch)
  }

  def warmup(check: Path): Unit = op(Tracer.off(spark.sparkContext), -1)

  private def eventsDf = spark.read.parquet(path("events"))

  protected def frame = FeatureFrame(eventsDf, Seq("event_id"), Seq("value"))

  /** Two sentinel batches a week past the last event flush every real
    * session out of the state store; the sink then holds each session of
    * the events sent, to compare with the batch aggregate over them.
    */
  override def verify(check: Path): Unit = {
    val last = events(sent - 1).ts + 7L * 24 * 3600 * 1000000L
    send(Seq(EventStreams.Ev(SentinelUser, last, -1L, 0.0)))
    send(Seq(EventStreams.Ev(SentinelUser, last + 1000000L, -2L, 0.0)))
    def flat(df: DataFrame) = df.select(col("user_id"),
      unix_micros(col("session_start")).as("session_start"),
      unix_micros(col("session_end")).as("session_end"),
      col("n_events"), col("sum_value"))
    flat(spark.table(Sink).filter(col("user_id") =!= SentinelUser))
      .write.parquet(check.resolve("sink").toString)
    val sentEvents = eventsDf.filter(col("event_id") < sent)
      .withColumn("ts", timestamp_micros(col("ts")))
    flat(EventStreams.sessionWindowAgg(sentEvents)).write.parquet(check.resolve("twin").toString)
  }

  override def stream: Option[StreamingQuery] = Option(query)
  override def close(): Unit = if (query != null) query.stop()
}
