package lakebench

import java.nio.file.Paths
import java.sql.Timestamp

import scala.collection.mutable

import graft.materialize.{FactBound, MatView, Materializer}
import graft.tables.{DayTransform, GraftTable, TableCatalog, TableDef}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** `maintain`: row-level revision of a seeded fact table that feeds an
  * hourly per-user materialized view joined to a merge-on-read user
  * dimension. One op appends a slice with a fixed share of late events
  * (half inside the lookback, half beyond it but inside the stale
  * window), then runs the materializer. Every `dimEvery`-th op also
  * re-tiers seeded users (dimension repair); every `maintEvery`-th op
  * also revises fact values (copy-on-write upsert), deletes seeded users
  * (equality deletes) and runs the catalog's maintenance sweep.
  */
final class MaintainWorkload(ctx: Ctx) extends Workload {
  import ctx.spark

  private val tiny = ctx.cfg.tiny
  val sliceEvents: Int = if (tiny) 50 else 200
  val lateShare = 0.2
  val dimEvery = 4
  val maintEvery = 8
  private val users = 200
  private val dimChanges = 4
  private val revisions = 20
  private val deletes = 2
  private val initialEvents = if (tiny) 300 else 3000
  // three: the cadence ops (op k with k % 4 == 3) then fall on even
  // loop indices, which are the ones a traced run traces
  private val warmOps = if (tiny) 1 else 3
  private val lookback = "24 hours"
  private val staleWindow = "7 days"
  private val opStepMs = 5L * 60 * 1000 // event time advanced per op
  private val t0Ms = 1706745600000L // 2024-02-01 00:00 UTC
  private val initialSpanMs = 3L * 86400 * 1000
  private val tiers = Seq("basic", "silver", "gold", "premium")

  def rowsPerOp: Int = sliceEvents
  def maxOps: Int = Int.MaxValue

  private val factSchema = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", TimestampType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType)))
  private val userSchema = StructType(Seq(
    StructField("user_id", LongType), StructField("tier", StringType)))
  private val matSchema = StructType(Seq(
    StructField("hour", TimestampType), StructField("user_id", LongType),
    StructField("tier", StringType), StructField("n", LongType),
    StructField("total_value", DoubleType)))

  private var cat: TableCatalog = _
  private var facts: GraftTable = _
  private var dim: GraftTable = _
  private var mat: GraftTable = _
  private var mzr: Materializer = _
  private var nextEventId = 0L
  private var opIndex = 0 // ops since setup, warm-up included
  private var rnd: scala.util.Random = _

  private def root = ctx.dir("maintain")

  /** The dimension as the view joins it: a driver-local snapshot of the
    * users table, refreshed after each change to the table.
    */
  private var dimSnapshot: DataFrame = _
  private def refreshDim(): Unit = {
    val rows = dim.readLogical().select("user_id", "tier").collect().toSeq
    dimSnapshot = df(rows, userSchema)
  }

  val view: MatView = MatView("hourly_user_value", "hour", Seq("hour", "user_id"),
    f => f.join(broadcast(dimSnapshot), Seq("user_id"))
      .groupBy(window(col("ts"), "1 hour"), col("user_id"), col("tier"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("total_value"))
      .select(col("window.start").as("hour"), col("user_id"), col("tier"), col("n"),
        col("total_value")),
    factBound = Some(FactBound("ts", "1 hour")),
    passthroughKeys = Seq("user_id"))

  private def df(rows: Seq[Row], schema: StructType): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)

  private def event(tsMs: Long): Row = {
    val id = nextEventId; nextEventId += 1
    Row(id, new Timestamp(tsMs), rnd.nextInt(users).toLong,
      Seq("view", "click", "purchase")(rnd.nextInt(3)), math.rint(rnd.nextDouble() * 10000) / 100)
  }

  /** Event-time cursor: the newest in-order event time after op `k`. */
  private def cursorMs(k: Int): Long = t0Ms + initialSpanMs + k * opStepMs

  private def slice(k: Int): Seq[Row] = {
    val now = cursorMs(k)
    val nLate = (sliceEvents * lateShare).toInt
    val inOrder = (0 until sliceEvents - nLate).map(j =>
      event(now - opStepMs + j * opStepMs / (sliceEvents - nLate)))
    val late = (0 until nLate).map { j =>
      val hoursBack = if (j % 2 == 0) 1 + rnd.nextInt(20) else 30 + rnd.nextInt(66)
      event(now - hoursBack * 3600L * 1000 - rnd.nextInt(3600 * 1000))
    }
    inOrder ++ late
  }

  def bootstrap(): Unit = {
    graft.FsUtil.deleteRecursively(Paths.get(root))
    rnd = new scala.util.Random(ctx.cfg.seed)
    nextEventId = 0L
    opIndex = 0
    cat = new TableCatalog(spark, s"$root/warehouse", Seq(
      TableDef("facts", factSchema, Seq(DayTransform("ts")), keys = Seq("event_id")),
      TableDef("users", userSchema, keys = Seq("user_id"), mergeOnRead = true),
      TableDef("mat_hourly_user_value", matSchema, keys = Seq("hour", "user_id")),
      Materializer.watermarkTableDef))
    facts = cat.table("facts")
    dim = cat.table("users")
    mat = cat.table("mat_hourly_user_value")
    mzr = new Materializer(spark, facts, view, mat, cat.table("materialization_watermarks"))
    dim.append(df((0 until users).map(u => Row(u.toLong, tiers(rnd.nextInt(tiers.size)))), userSchema))
    refreshDim()
    val per = initialEvents / 3
    for (p <- 0 until 3)
      facts.append(df((0 until per).map(j =>
        event(t0Ms + (p * per + j) * initialSpanMs / initialEvents)), factSchema))
    mzr.run(lookback, staleDetectionWindow = Some(staleWindow))
  }

  def warmUp(): Unit = (0 until warmOps).foreach(_ => runOp())

  private def runOp(): Unit = {
    val k = opIndex
    opIndex += 1
    val tr = ctx.tracer
    val rows = slice(k)
    tr.span("append", "tables")(facts.append(df(rows, factSchema)))
    val changed = mutable.LinkedHashSet[Long]()
    if (k % dimEvery == dimEvery - 1) {
      val us = Seq.fill(dimChanges)(rnd.nextInt(users).toLong).distinct
      changed ++= us
      tr.span("upsert.users", "tables")(dim.upsert(
        df(us.map(u => Row(u, tiers(rnd.nextInt(tiers.size)))), userSchema)))
    }
    if (k % maintEvery == maintEvery - 1) {
      // revise recent facts (inside the stale window) and drop users
      val hi = nextEventId
      val lo = math.max(0L, hi - 20L * sliceEvents)
      val ids = Seq.fill(revisions)(lo + (rnd.nextDouble() * (hi - lo)).toLong).distinct
      val revised = facts.readLogical().filter(col("event_id").isin(ids: _*))
        .withColumn("value", round(col("value") + 1.0, 2))
      tr.span("upsert.facts", "tables")(facts.upsert(revised.localCheckpoint()))
      val gone = Seq.fill(deletes)(rnd.nextInt(users).toLong).distinct
      changed ++= gone
      tr.span("delete.users", "tables")(dim.deleteKeys(
        df(gone.map(u => Row(u)), StructType(Seq(StructField("user_id", LongType))))))
      tr.span("maintain", "tables")(cat.maintain())
    }
    if (changed.nonEmpty) tr.span("read.users", "tables")(refreshDim())
    val keys =
      if (changed.isEmpty) None
      else Some(df(changed.toSeq.map(u => Row(u)), StructType(Seq(StructField("user_id", LongType)))))
    tr.span("materialize.run", "materialize")(
      mzr.run(lookback, changedDimKeys = keys, staleDetectionWindow = Some(staleWindow)))
  }

  def op(i: Int): Unit = runOp()

  override def afterTracedOp(i: Int, root: Int, startUs: Long, endUs: Long): Unit = {
    val spans = ctx.tracer.opSpans(i)
    def dur(p: String) = spans.filter(_.name.startsWith(p)).map(_.durUs).sum / 1000.0
    def has(p: String) = spans.exists(_.name.startsWith(p))
    ctx.sample("tables.append_ms", dur("append"))
    if (has("upsert")) ctx.sample("tables.upsert_ms", dur("upsert"))
    if (has("delete")) ctx.sample("tables.delete_ms", dur("delete"))
    if (has("maintain")) ctx.sample("tables.maintenance_ms", dur("maintain"))
    MaintainWorkload.sampleRun(ctx, mzr, spans)
  }

  override def runLayerMetrics(ops: Int, loopStartMs: Long, loopEndMs: Long): Unit =
    TableStats.record(ctx, cat, ops, loopStartMs, loopEndMs)

  def verify(): Seq[String] =
    RowHash.sameRows(mat.readLogical(), view.compute(facts.readLogical()).localCheckpoint(),
      "maintain mat view vs view.compute over the source").toSeq

  def teardown(): Unit = graft.FsUtil.deleteRecursively(Paths.get(root))

  def info: Map[String, Any] = Map(
    "op" -> "append one slice with late events, then Materializer.run (lookback + stale window)",
    "events_per_op" -> sliceEvents, "late_share" -> lateShare,
    "late_split" -> "half 1-20 h back (inside the 24 h lookback), half 30-96 h back (inside the 7 day stale window)",
    "dimension_change_every_ops" -> dimEvery, "users_retiered" -> dimChanges,
    "maintenance_every_ops" -> maintEvery, "facts_revised" -> revisions, "users_deleted" -> deletes,
    "initial_events" -> initialEvents, "warmup_ops" -> warmOps, "users" -> users)
}

object MaintainWorkload {
  /** Per-run materializer samples of a traced op. */
  def sampleRun(ctx: Ctx, mzr: Materializer, spans: Seq[Span]): Unit =
    spans.find(_.name == "materialize.run").foreach { run =>
      ctx.sample("materialize.run_ms", run.durUs / 1000.0)
      ctx.sample("materialize.jobs_per_run", mzr.lastRunJobs)
      ctx.sample("materialize.view_computes_per_run",
        mzr.lastRunViewComputes + mzr.lastRunBoundedComputes)
      ctx.sample("materialize.scan_bytes_per_run", ctx.lastJobs
        .filter(j => j.startMs * 1000 >= run.startUs && j.startMs * 1000 <= run.endUs)
        .map(_.inputBytes).sum)
    }
}
