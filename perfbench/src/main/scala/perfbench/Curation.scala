package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

import graft.core.Tables
import graft.pipelines.{CurationPipeline, DedupGraphPipeline}
import graft.queries.CurationQ

/** `curation_sink`: the full curation run with durable parquet sinks, the
  * chain `graft.EndToEndProbe` times at 1×: the dedup-graph audit sinks
  * (canonical verdicts + cluster histogram), the curation chain with a
  * joint balance on `source`, the shard plan at a 50k-token budget, and
  * the corpus written partitioned by split plus the per-doc lineage.
  *
  * Set-up loads the documents and counts them (the session's first job).
  * A pass is one full run; the first (cold) pass is the warm-up. Runs
  * overwrite the same outputs, which `run.py` then checks (corpus rows
  * and content hash).
  */
final class Curation(spark: SparkSession, args: Main.Args, round: Int) extends Workload {
  private val out = s"${args.work}/curation"
  private val docs = Tables.load(spark, args.data, "documents")
  docs.count()

  def run(ctx: Ctx): Unit =
    ctx.passes() { pass =>
      val (_, s) = ctx.time(once(ctx, (stage, s) => ctx.op("stage", stage, pass, s)))
      ctx.op("run", "curation", pass, s)
    }

  private def once(ctx: Ctx, record: (String, Double) => Unit): Unit = {
    val tr = ctx.trace
    def stage[A](name: String)(body: => A): A = {
      val (a, s) = ctx.time(tr.span("pipelines", name)(body))
      record(name, s)
      a
    }
    stage("dedup_graph") {
      val g = DedupGraphPipeline.build(docs)
      g.canonical().write.mode("overwrite").parquet(s"$out/canonical")
      g.clusterHistogram.write.mode("overwrite").parquet(s"$out/histogram")
    }
    val lineage = stage("curation") {
      CurationPipeline.run(docs, jointBalanceCol = Some("source"))
        .localCheckpoint() // feeds the survivor filter AND the lineage write
    }
    stage("shard_write") {
      val survivors = lineage
        .filter(col("cut_stage") === CurationPipeline.KeptCode)
        .select(col("doc_id"), col("split"), col("n_copies"))
        .join(docs, Seq("doc_id"))
      // the queries layer's share: the shard plan is built, then runs
      // inside the corpus write, as a card runs inside its sink
      tr.span("queries", "plan_shards") {
        val shards = tr.span("queries", "build") {
          CurationQ.planShards(survivors, tokenBudget = 50000L)
            .select(col("doc_id"), col("shard_id"))
        }
        tr.span("queries", "run") {
          survivors.join(shards, Seq("doc_id"))
            .write.mode("overwrite").partitionBy("split")
            .parquet(s"$out/corpus")
        }
      }
      lineage.write.mode("overwrite").parquet(s"$out/lineage")
    }
  }
}
