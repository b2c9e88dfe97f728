package perfbench

import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

import graft.queries.EventQ
import graft.streaming.{HardenedIngest, LiveRatingChain, PipelineRunner}

/** `rating_stream`: the reference's two shipped stages as the live
  * topology, wired the way `graft.FullTopologyProbe` wires it — prerating
  * (MSISDN normalize + range guiding) → hardened ingest (content-hash
  * redelivery dedup) → leg assembly → marginal rating, RocksDB state.
  *
  * `run.py` generates the waves (`<data>/waves/manifest.txt`): wire-form
  * MSISDNs, ~7% straggler legs that arrive one wave late, and each wave's
  * ground truth (the account every leg belongs to). Each wave is dropped
  * into the inbox atomically (written beside it, then renamed in); the
  * stages are then drained in order, upstream first. Set-up starts the
  * topology on empty directories of its round; each pass is one wave, and
  * the first (cold) wave is the warm-up; the timed waves stop early when
  * every generated wave has been delivered. After the timed waves the
  * topology is stopped, restarted from its checkpoints and fed a
  * redelivery of the last timed wave under a new file name.
  *
  * Checks: no duplicate billing rows, the redelivered wave leaves the
  * legs store unchanged, and the streamed invoice equals
  * `EventQ.invoiceRun` over the ground truth of the delivered waves.
  */
final class Rating(spark: SparkSession, args: Main.Args, round: Int) extends Workload {
  import Rating._

  private val waves = Files.readAllLines(Paths.get(args.data, "waves", "manifest.txt")).asScala
    .map(_.trim).filter(_.nonEmpty).toSeq
  private val accounts = waves.head.split("\\s+")(1).toLong
  private val base = s"${args.work}/rating/round$round"

  spark.conf.set("spark.sql.streaming.stateStore.providerClass",
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
  Seq("raw", "prerated", "legs", "calls", "rated").foreach(d =>
    Files.createDirectories(Paths.get(s"$base/$d")))
  // account a owns the 100 numbers [49100000000 + a*100, +99]
  private val ranges = spark.range(1L, accounts + 1L).toDF("a").select(
    (lit(49100000000L) + col("a") * 100L).as("range_start"),
    (lit(49100000000L) + col("a") * 100L + 99L).as("range_end"),
    col("a").as("account_id"))

  private def start(): (PipelineRunner, Seq[StreamingQuery]) = {
    val runner = new PipelineRunner(spark)
    runner.register(LiveRatingChain.preratingStage(spark, s"$base/raw",
      ranges, s"$base/prerated", s"$base/ckpt", maxFilesPerTrigger = 8))
    runner.register(HardenedIngest.stageFromPrerated(spark,
      s"$base/prerated", s"$base/legs", s"$base/ledger", s"$base/ckpt"))
    val std = LiveRatingChain.stages(spark, "/unused", s"$base/legs",
      s"$base/calls", s"$base/rated", s"$base/ckpt", Tiers)
    runner.register(std(1).copy(source = s => s.readStream
      .schema(HardenedIngest.hardenedLegsSchema)
      .parquet(s"$base/legs").drop("batch_id")))
    runner.register(std(2))
    (runner, StageNames.map(runner.start))
  }

  private var running = start()

  override def close(): Unit = running._1.stopAll()

  def run(ctx: Ctx): Unit = {
    val wavesDir = s"${args.data}/waves"
    val schedule = waves.drop(1).map(_.split("\\s+")).map { f =>
      Wave(f(0).toInt, f(1), f(2).toInt, s"$wavesDir/${f(3)}", s"$wavesDir/${f(4)}")
    }

    def drop(src: String, name: String): Unit = {
      val tmp = Paths.get(base, s"$name.tmp")
      Files.copy(Paths.get(src), tmp, StandardCopyOption.REPLACE_EXISTING)
      Files.move(tmp, Paths.get(s"$base/raw", s"$name.csv"), StandardCopyOption.ATOMIC_MOVE)
    }

    // per-stage micro-batch progress, tagged with the wave it drained in
    val seen = mutable.Map.empty[String, Long].withDefaultValue(-1L)
    val progress = mutable.ArrayBuffer.empty[Map[String, Any]]
    def collectProgress(qs: Seq[StreamingQuery], wave: Int, kind: String): Unit =
      if (ctx.trace.enabled) StageNames.zip(qs).foreach { case (stage, q) =>
        q.recentProgress.filter(_.batchId > seen(stage)).foreach { p =>
          seen(stage) = p.batchId
          progress += Map("stage" -> stage, "wave" -> wave, "kind" -> kind,
            "batch" -> p.batchId, "rows" -> p.numInputRows,
            "duration_ms" -> p.durationMs.asScala.map { case (k, v) => k -> v.longValue },
            "state_rows" -> p.stateOperators.map(_.numRowsTotal).sum,
            "state_bytes" -> p.stateOperators.map(_.memoryUsedBytes).sum,
            "state_commit_ms" -> p.stateOperators.map(_.commitTimeMs).sum)
        }
      }

    /** Drop one wave and drain every stage, upstream first. */
    def deliver(qs: Seq[StreamingQuery], w: Wave, name: String, kind: String): (Double, Seq[Double]) = {
      drop(w.file, name)
      val (perStage, s) = ctx.time(ctx.trace.span("streaming", s"wave_${w.index}") {
        StageNames.zip(qs).map { case (stage, q) =>
          ctx.time(ctx.trace.span("streaming", stage)(q.processAllAvailable()))._2
        }
      })
      collectProgress(qs, w.index, kind)
      (s, perStage)
    }

    val qs = running._2
    val delivered = mutable.ArrayBuffer.empty[Wave]
    val pending = mutable.Queue.empty[Wave] ++= schedule
    // two waves at least, so every run has the same sample count: a wave
    // plus its heap reading is close to a run's `--seconds`
    ctx.passes(min = 2, limit = schedule.size - 1) { pass =>
      val w = pending.dequeue()
      val (s, perStage) = deliver(qs, w, f"wave_${w.index}%03d", w.kind)
      ctx.op("wave", w.kind, pass, s,
        Map("legs" -> w.legs, "wave" -> w.index, "stages" -> StageNames.zip(perStage).toMap))
      delivered += w
    }
    def legsCount(): Long = spark.read.schema(HardenedIngest.hardenedLegsSchema)
      .parquet(s"$base/legs").count()
    val legsBefore = legsCount()

    // kill, restart from the checkpoints, redeliver an already-rated wave
    val again = delivered.last
    val (_, restart) = ctx.time {
      running._1.stopAll()
      running = start()
      ctx.facts("redelivery_drop_s") = deliver(running._2, again,
        s"retry_wave_${again.index}", "redelivery")._1
    }
    ctx.facts("restart_s") = restart
    running._2.foreach(_.processAllAvailable())
    running._1.stopAll()
    val legsAfter = legsCount()
    ctx.check("redelivered_wave_dropped", legsBefore == legsAfter,
      s"legs store $legsBefore -> $legsAfter")

    val rated = spark.read.parquet(s"$base/rated")
      .select(col("account_id").cast(LongType), col("event_id"))
    val nRated = rated.count()
    val dups = nRated - rated.distinct().count()
    ctx.check("no_duplicate_billing_rows", dups == 0, s"$dups duplicates in $nRated rated rows")

    val streamed = LiveRatingChain.invoice(spark, s"$base/rated", Taxes)
      .orderBy(col("account_id")).collect().map(_.toSeq).toSeq
    val batch = EventQ.invoiceRun(usage(ctx, delivered.map(_.truth).toSeq), col("units"), Tiers, Taxes)
      .orderBy(col("account_id")).collect().map(_.toSeq).toSeq
    ctx.check("invoice_matches_batch_run", streamed == batch,
      s"${streamed.size} streamed vs ${batch.size} batch invoice lines")
    ctx.facts("progress") = progress
    ctx.facts("outputs") = base
  }
}

object Rating {
  private val StageNames = Seq("prerating", "cdr_ingest", "leg_assembly", "rating")
  private val Tiers = Seq((0L, 5000L, 5L), (5000L, 20000L, 3L), (20000L, Long.MaxValue, 1L))
  private val Taxes = Seq(("fed", 100000L, false), ("muni", 50000L, true))

  private final case class Wave(index: Int, kind: String, legs: Int, file: String, truth: String)

  /** Batch usage from the generator's ground truth: one record per
    * complete call (every leg delivered), units = its rounded duration. */
  private def usage(ctx: Ctx, truthFiles: Seq[String]) = {
    val schema = StructType(Seq(
      StructField("account_id", LongType), StructField("event_id", LongType),
      StructField("seq", IntegerType), StructField("total", IntegerType),
      StructField("duration_sec", DoubleType)))
    ctx.spark.read.schema(schema).option("header", "true").csv(truthFiles: _*)
      .dropDuplicates("account_id", "event_id", "seq")
      .groupBy(col("account_id"), col("event_id"))
      .agg(sum(col("duration_sec")).as("dur"), max(col("total")).as("t"),
        count(lit(1)).as("n"))
      .filter(col("n") === col("t"))
      .select(col("event_id"), col("account_id").as("user_id"),
        col("event_id").cast(TimestampType).as("ts"),
        expr("CAST(round(dur) AS BIGINT)").as("units"))
  }
}
