package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

/** One benchmark run of one workload, in one JVM.
  *
  * `run.py` generates the inputs, starts this main, checks the outputs and
  * turns the raw record this main writes (`--out`) into the metrics line.
  * The JVM side only executes and records: [[SetupRounds]] set-ups (a
  * fresh session and the workload's preparation each; all but the last
  * are torn down again), then on the last session one cold pass, the
  * timed passes, in-JVM correctness checks and, with `--trace 1`, the
  * layer spans of [[Trace]].
  */
object Main {
  /** Set-up is repeated so its time is a median, not one cold sample. */
  val SetupRounds = 5

  final class Args(m: Map[String, String]) {
    def apply(k: String): String =
      m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val workload: String = apply("workload")
    val seed: Long = apply("seed").toLong
    val seconds: Double = apply("seconds").toDouble
    val trace: Boolean = apply("trace") == "1"
    val cpus: Int = apply("cpus").toInt
    val data: String = apply("data")
    val work: String = apply("work")
    val out: String = apply("out")
  }

  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
  def json(v: Any): String = mapper.writeValueAsString(v)

  def parse(argv: Array[String]): Args =
    new Args(argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") =>
      k.drop(2) -> v
    }.toMap)

  def session(args: Args): SparkSession = {
    val spark = graft.core.GraftSession
      .builder(s"local[${args.cpus}]", args.cpus)
      // the traced run must not lose events on the pipelines' job bursts;
      // set on both runs so the two sessions are configured alike
      .config("spark.scheduler.listenerbus.eventqueue.capacity", "200000")
      .config("spark.sql.streaming.numRecentProgressUpdates", "1000")
      .config("spark.sql.warehouse.dir", s"${args.work}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    val prepare: (SparkSession, Args, Int) => Workload = args.workload match {
      case "curation_sink" => new Curation(_, _, _)
      case "rating_stream" => new Rating(_, _, _)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val rounds = mutable.ArrayBuffer.empty[Map[String, Double]]
    var spark: SparkSession = null
    var wl: Workload = null
    for (round <- 1 to SetupRounds) {
      if (wl != null) { wl.close(); spark.stop() }
      val t0 = System.nanoTime()
      spark = session(args)
      val t1 = System.nanoTime()
      wl = prepare(spark, args, round)
      rounds += Map("session_s" -> (t1 - t0) / 1e9, "setup_s" -> (System.nanoTime() - t0) / 1e9)
    }
    val ctx = new Ctx(spark, args, new Trace(spark, args.trace), rounds.toSeq)
    try wl.run(ctx)
    finally {
      Files.writeString(Paths.get(args.out), json(ctx.record))
      wl.close()
      spark.stop()
    }
  }
}

/** A workload prepared on one session: its constructor is the set-up
  * (timed once per round), [[run]] the cold pass, timed passes and checks. */
trait Workload {
  def run(ctx: Ctx): Unit
  def close(): Unit = ()
}

/** What a workload records while it runs. */
final class Ctx(val spark: SparkSession, val args: Main.Args, val trace: Trace,
    setupRounds: Seq[Map[String, Double]]) {
  var coldS = 0.0
  val ops = mutable.ArrayBuffer.empty[Map[String, Any]]
  val checks = mutable.LinkedHashMap.empty[String, Map[String, Any]]
  val facts = mutable.LinkedHashMap.empty[String, Any]
  val heap = new HeapWatch

  def time[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = body
    (a, (System.nanoTime() - t0) / 1e9)
  }

  def op(kind: String, name: String, pass: Int, seconds: Double,
      extra: Map[String, Any] = Map.empty): Unit =
    ops += (Map("kind" -> kind, "name" -> name, "pass" -> pass,
      "s" -> seconds) ++ extra)

  def check(name: String, ok: Boolean, detail: Any): Unit = {
    checks(name) = Map("ok" -> ok, "detail" -> detail)
    if (!ok) System.err.println(s"[perfbench] check $name FAILED: $detail")
  }

  /** One cold pass (numbered -1, untraced; its wall is `cold_s`), then
    * whole timed passes while less than `--seconds` have elapsed (at least
    * `min`, at most `limit`), so every run measures complete passes on a
    * warm session. */
  def passes(min: Int = 1, limit: Int = Int.MaxValue)(body: Int => Unit): Unit = {
    coldS = time(body(-1))._2
    trace.recording = true
    val t0 = System.nanoTime()
    var pass = 0
    while (pass < min || (pass < limit && (System.nanoTime() - t0) / 1e9 < args.seconds)) {
      trace.span("pass", pass.toString)(body(pass))
      pass += 1
      heap.sample()
    }
    trace.recording = false
  }

  def record: Map[String, Any] = Map(
    "workload" -> args.workload, "seed" -> args.seed, "trace" -> args.trace,
    "setup_rounds" -> setupRounds, "cold_s" -> coldS,
    "heap_peak_mb" -> heap.peakBytes / 1e6,
    "ops" -> ops, "checks" -> checks, "facts" -> facts,
    "trace_records" -> (if (trace.enabled) trace.records else Map.empty))
}

/** Live heap at the end of each timed pass, after a full collection (so
  * garbage that no collection has reached yet does not count); the peak
  * over the passes. Spark's context cleaner releases the broadcast and
  * shuffle state of a collection's weak references asynchronously, and a
  * streaming topology keeps polling in the background, so a pass's value
  * is the smaller of two readings, each after a pause and a collection. */
final class HeapWatch {
  private var peak = 0L

  private def afterGc(): Long = {
    Thread.sleep(300)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
  }

  def sample(): Unit = {
    System.gc()
    peak = math.max(peak, math.min(afterGc(), afterGc()))
  }

  def peakBytes: Long = peak
}
