package lakebench

import java.time.Instant

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.gen.RtbGenerator
import graft.materialize.{FactBound, MatView, Materializer}
import graft.rtb.RtbIngest
import graft.sources.{AvroWire, WireRegistry}
import graft.streaming.Jobs
import graft.tables.{TableCatalog, TableDef}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** `ingest`: the reference's three streaming jobs chained, then its
  * incremental materializer. A seeded OpenRTB funnel (duplicates on) is
  * encoded once to Confluent-framed Avro per topic and cut into arrival
  * slices of `sliceRequests` requests' worth of event time. One op offers
  * the next slice to the topics, drains ingestion → aggregation → funnel,
  * and runs the materializer over the ingested impressions. Its latency is
  * freshness: offer to visible in the geo, funnel and materialized tables.
  */
final class IngestWorkload(ctx: Ctx) extends Workload {
  import ctx.spark

  private val tiny = ctx.cfg.tiny
  val sliceRequests: Int = if (tiny) 10 else 200
  private val poolSlices = if (tiny) 8 else 20
  /** Warm-up: the first slice, offered in this many smaller ops — the JIT
    * warms per micro-batch, not per row, so small ops warm it cheaply.
    */
  private val warmParts = if (tiny) 1 else 2
  private val perRequestMs = 100L
  private val startMs = 1704103200000L // 2024-01-01 10:00:00 UTC
  val rates: RtbGenerator.Rates = RtbGenerator.Rates(
    dupRequest = 0.03, dupResponse = 0.03, dupImpression = 0.03, dupClick = 0.03)

  /** Requests per op; their responses, impressions and clicks arrive in
    * the slices that hold their own event times.
    */
  def rowsPerOp: Int = sliceRequests
  def maxOps: Int = poolSlices - 1

  // per-bootstrap state
  private var registry: WireRegistry = _
  private var pool: IndexedSeq[IndexedSeq[Seq[Array[Byte]]]] = _ // topic → slice → frames
  private var ingestStreams: Seq[MemoryStream[Array[Byte]]] = Nil
  private var funnelStreams: Seq[MemoryStream[Array[Byte]]] = Nil
  private var pipes: Seq[(String, Jobs.IngestionPipeline)] = Nil
  private var cat: TableCatalog = _
  private var mzr: Materializer = _
  private var offered = 0

  private def root = ctx.dir("ingest")

  private val sliceMicros = sliceRequests * perRequestMs * 1000

  /** Per topic: (arrival part, dedup id, frame) of every event, a part
    * being 1/`warmParts` of a slice. An event arrives in the slice that
    * holds its own event time, so the topics interleave as on the wire.
    */
  private var frames: IndexedSeq[Array[(Int, String, Array[Byte])]] = _
  private var funnel: RtbGenerator.Funnel = _

  def bootstrap(): Unit = {
    stopPipes()
    graft.FsUtil.deleteRecursively(java.nio.file.Paths.get(root))
    import spark.implicits._
    val n = poolSlices * sliceRequests
    funnel = RtbGenerator.generate(ctx.cfg.seed, n, startMs, n * perRequestMs, rates)
    registry = new WireRegistry
    // (events, the id each stored table dedups on)
    val typed: Seq[(DataFrame, String)] = Seq(
      spark.createDataset(funnel.requests).toDF() -> "id",
      spark.createDataset(funnel.responses).toDF() -> "id",
      spark.createDataset(funnel.impressions).toDF() -> "impression_id",
      spark.createDataset(funnel.clicks).toDF() -> "click_id")
    frames = typed.zip(Jobs.wireSubjects).map { case ((df, key), subject) =>
      val schema = AvroWire.schemaFor(df)
      val id = registry.register(subject, schema)
      df.select(sliceOf(df, warmParts).as("part"), col(key),
        AvroWire.toWire(struct(df.columns.map(col).toIndexedSeq: _*), schema, id).as("value"))
        .as[(Int, String, Array[Byte])].collect()
    }.toIndexedSeq
    pool = frames.map { fs =>
      val bySlice = Array.fill(poolSlices)(Vector.newBuilder[Array[Byte]])
      fs.foreach { case (p, _, v) => if (p / warmParts < poolSlices) bySlice(p / warmParts) += v }
      bySlice.map(_.result(): Seq[Array[Byte]]).toIndexedSeq
    }

    cat = new TableCatalog(spark, s"$root/warehouse",
      Jobs.ingestionTableDefs(spark) ++ Jobs.aggregationTableDefs(spark) ++
        Jobs.funnelTableDefs(spark) ++ Seq(matDef, Materializer.watermarkTableDef))
    mzr = new Materializer(spark, cat.table(Jobs.impressionsTable), matView,
      cat.table(matDef.name), cat.table(Materializer.watermarkTableDef.name))
    val ckpt = s"$root/checkpoints"
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    ingestStreams = Seq.fill(4)(MemoryStream[Array[Byte]])
    funnelStreams = Seq.fill(4)(MemoryStream[Array[Byte]])
    def decoded(s: MemoryStream[Array[Byte]], subject: String): DataFrame = {
      val (_, reader) = registry.latest(subject)
      s.toDF().select(AvroWire.fromWire(col("value"), reader, registry.writers).as("r"))
        .select("r.*")
    }
    val f = funnelStreams.zip(Jobs.wireSubjects).map { case (s, subj) => decoded(s, subj) }
    pipes = Seq(
      "ingestion" -> Jobs.wireIngestion(ingestStreams(0).toDF(), ingestStreams(1).toDF(),
        ingestStreams(2).toDF(), ingestStreams(3).toDF(), registry, cat, ckpt),
      "aggregation" -> Jobs.aggregationGeo(cat, ckpt),
      "funnel" -> Jobs.funnel(f(0), f(1), f(2), f(3), cat, ckpt))
    offered = 0
  }

  /** The materializer's view over the ingested impressions: hourly
    * distinct impressions and cent-exact win spend per bidder.
    */
  private val matView = MatView("bidder_hourly", "hour", Seq("hour", "bidder_id"),
    f => f.dropDuplicates("impression_id")
      .groupBy(window(col("event_ts"), "1 hour"), col("bidder_id"))
      .agg(count(lit(1)).as("n_impressions"),
        sum(round(col("win_price") * 100).cast("long")).as("win_cents"))
      .select(col("window.start").as("hour"), col("bidder_id"), col("n_impressions"),
        col("win_cents")),
    factBound = Some(FactBound("event_ts", "1 hour")))

  private val matDef = {
    import org.apache.spark.sql.types._
    TableDef("mat_bidder_hourly", StructType(Seq(
      StructField("hour", TimestampType), StructField("bidder_id", IntegerType),
      StructField("n_impressions", LongType), StructField("win_cents", LongType))),
      keys = Seq("hour", "bidder_id"))
  }

  /** The stream delivers in event-time order, so nothing lands beyond the
    * lookback and the run needs no stale-repair window.
    */
  private def materialize(): Unit =
    ctx.tracer.span("materialize.run", "materialize")(mzr.run(lookback = "1 hour"))

  def warmUp(): Unit = {
    (0 until warmParts).foreach(j => runOffer(frames.map(_.collect { case (`j`, _, v) => v }.toSeq)))
    offered = 1
  }

  private def queries: Seq[(String, StreamingQuery)] =
    pipes.flatMap { case (job, p) => p.queries.map(job -> _) }

  private def offer(perTopic: Seq[Seq[Array[Byte]]]): Unit =
    perTopic.zipWithIndex.foreach { case (fs, t) =>
      if (fs.nonEmpty) {
        ingestStreams(t).addData(fs)
        funnelStreams(t).addData(fs)
      }
    }

  private def runOffer(perTopic: Seq[Seq[Array[Byte]]]): Unit = {
    ctx.tracer.span("offer", "sources")(offer(perTopic))
    pipes.foreach { case (job, p) =>
      ctx.tracer.span(s"drain.$job", "streaming")(p.processAllAvailable())
    }
    materialize()
  }

  def op(i: Int): Unit = {
    runOffer((0 until 4).map(t => pool(t)(offered)))
    offered += 1
  }

  // Spark's MicroBatchExecution order of a trigger's phases
  private val phases = Seq(
    "latestOffset" -> "streaming.source", "walCommit" -> "streaming.checkpoint",
    "getBatch" -> "streaming.source", "queryPlanning" -> "streaming.query_planning",
    "addBatch" -> "streaming.add_batch", "commitOffsets" -> "streaming.checkpoint")

  override def afterTracedOp(i: Int, root: Int, startUs: Long, endUs: Long): Unit = {
    val slice = offered - 1
    ctx.sample("sources.frame_bytes_per_op", (0 until 4).map(t => pool(t)(slice).map(_.length.toLong).sum).sum)
    val drainIds = ctx.tracer.opSpans(i).filter(_.name.startsWith("drain.")).map(s => s.name.stripPrefix("drain.") -> s.id).toMap
    val acc = mutable.Map[String, Double]().withDefaultValue(0.0)
    var batches = 0
    var empty = 0
    var stateRows = 0L
    var stateBytes = 0L
    queries.foreach { case (job, q) =>
      // triggers that started inside this op (untraced ops run between)
      val fresh = q.recentProgress.filter { p =>
        val t = Instant.parse(p.timestamp).toEpochMilli * 1000
        t >= startUs - 1000 && t <= endUs
      }
      fresh.foreach { p =>
        batches += 1
        if (p.numInputRows == 0) empty += 1
        val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }
        val t0 = Instant.parse(p.timestamp).toEpochMilli * 1000
        val trig = ctx.tracer.add(drainIds.getOrElse(job, root), i, s"trigger.$job.${p.batchId}",
          "streaming", t0, t0 + d.getOrElse("triggerExecution", 0L) * 1000)
        acc("streaming.trigger_ms") += d.getOrElse("triggerExecution", 0L)
        var at = t0
        phases.foreach { case (ph, metric) =>
          val ms = d.getOrElse(ph, 0L)
          if (ms > 0) ctx.tracer.add(trig, i, s"$ph.$job", "streaming", at, at + ms * 1000)
          at += ms * 1000
          acc(s"${metric}_ms") += ms
        }
        acc("streaming.state_commit_ms") += p.stateOperators.map(_.commitTimeMs).sum
      }
      Option(q.lastProgress).foreach { p =>
        stateRows += p.stateOperators.map(_.numRowsTotal).sum
        stateBytes += p.stateOperators.map(_.memoryUsedBytes).sum
      }
    }
    Seq("streaming.trigger_ms", "streaming.source_ms", "streaming.checkpoint_ms",
      "streaming.query_planning_ms", "streaming.add_batch_ms", "streaming.state_commit_ms")
      .foreach(m => ctx.sample(m, acc(m)))
    ctx.sample("streaming.batches_per_op", batches)
    ctx.sample("streaming.empty_batch_ratio", if (batches == 0) 0.0 else empty.toDouble / batches)
    ctx.sample("streaming.state_rows", stateRows)
    ctx.sample("streaming.state_bytes", stateBytes)
    MaintainWorkload.sampleRun(ctx, mzr, ctx.tracer.opSpans(i))
    val own = Tracer.ownTime(ctx.tracer.opSpans(i))
    ctx.sample("streaming.drain_wait_ms",
      own.collect { case (s, us) if s.name.startsWith("drain.") => us }.sum / 1000.0)
  }

  override def runLayerMetrics(ops: Int, loopStartMs: Long, loopEndMs: Long): Unit =
    TableStats.record(ctx, cat, ops, loopStartMs, loopEndMs)

  /** Slice (or 1/`parts` of one) of every event, by its own event time. */
  private def sliceOf(df: DataFrame, parts: Int = 1) =
    ((unix_micros(RtbIngest.parseTs(col("event_timestamp"))) - lit(startMs * 1000)) /
      lit(sliceMicros / parts)).cast("int")

  /** Checks the tables against the generator's own records of the events
    * offered so far (every slice below `offered`): row and distinct-id
    * counts per stored table, the geo table against its batch twin, and
    * the materialized view against a full recompute.
    */
  def verify(): Seq[String] = {
    import spark.implicits._
    val problems = mutable.ArrayBuffer[String]()
    def check(what: String, got: Long, want: Long): Unit =
      if (got != want) problems += s"ingest $what: got $got, want $want"
    def t(name: String) = cat.table(name).readLogical()
    val sent = frames.map(_.filter(_._1 / warmParts < offered))
    def distinctKeys(topic: Int) = sent(topic).map(_._2).distinct.length.toLong
    check("distinct requests", t(Jobs.cleanTable).select("request_id")
      .union(t(Jobs.rejectedTable).select("request_id")).distinct().count(), distinctKeys(0))
    check("requests vs generator truth", distinctKeys(0), offered.toLong * sliceRequests)
    check("distinct responses", t(Jobs.bidsTable).select("response_id").distinct().count(),
      distinctKeys(1))
    val imps = t(Jobs.impressionsTable)
    check("impression rows", imps.count(), sent(2).length)
    check("distinct impressions", imps.select("impression_id").distinct().count(), distinctKeys(2))
    check("click rows", t(Jobs.clicksTable).count(), sent(3).length)

    // the geo table against its batch twin (dedup → interval join → hourly agg)
    val rawReq = spark.createDataset(funnel.requests).toDF()
    val rawImp = spark.createDataset(funnel.impressions).toDF()
    val geoBatch = BatchTwin.geo(rawReq.filter(sliceOf(rawReq) < offered),
      rawImp.filter(sliceOf(rawImp) < offered)).localCheckpoint()
    RowHash.sameRows(t(Jobs.geoTable), geoBatch, "ingest geo table vs batch twin")
      .foreach(problems += _)
    RowHash.sameRows(t(matDef.name), matView.compute(imps).localCheckpoint(),
      "ingest mat view vs view.compute over the impressions table").foreach(problems += _)
    problems.toSeq
  }

  private def stopPipes(): Unit = {
    pipes.foreach(_._2.stop())
    pipes = Nil
  }

  def teardown(): Unit = {
    stopPipes()
    graft.FsUtil.deleteRecursively(java.nio.file.Paths.get(root))
  }

  def info: Map[String, Any] = Map(
    "op" -> "offer one arrival slice to the four topics, then drain ingestion, aggregation and funnel",
    "requests_per_op" -> sliceRequests,
    "event_time_per_op_ms" -> sliceRequests * perRequestMs,
    "dup_rates" -> Map("request" -> rates.dupRequest, "response" -> rates.dupResponse,
      "impression" -> rates.dupImpression, "click" -> rates.dupClick),
    "slices_offered" -> offered, "warmup_ops" -> warmParts, "pool_slices" -> poolSlices)
}
