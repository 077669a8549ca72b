package graft.perfbench

import scala.collection.mutable

import graft.SparkEntry
import org.apache.spark.sql.functions._

/** LLM training-data curation over a seeded corpus: the registered query
  * keys below, each called through `SparkEntry.queries` and materialized
  * with a `noop` write, one after another in passes. These keys are bound
  * by the number of sequential Spark jobs they run (the
  * connected-components loop) or carry real compute (PPJoin), while the
  * `sources` layer stays nearly idle.
  *
  * The corpus is drawn from `data/documents.parquet`, a copy of the test
  * data's sf0.1 `documents` table (5,000 documents) kept with the
  * benchmark: a seeded sample of half the corpus size, plus one copy of
  * each sampled document made the way `graft.ScaleProbe` scales that table
  * (`doc_id` shifted, ` ~c1` appended to the text). Every sampled document
  * thus heads a near-duplicate pair, and the table's own few exact
  * duplicates come along when the sample holds them.
  */
object Curate extends Workload {
  /** The kept keys: a warm pass, a measured pass and the oracle compare
    * must fit one run. `dedup_clusters` stands for the job-bound keys (a
    * label-propagation loop, one checkpointed job per round);
    * `text_pipeline_funnel` is left out because its DuckDB oracle alone
    * takes about a minute on a 2,000-document corpus. The other curation keys
    * (dedup_clusters_star, dedup_survivors, dedup_substring,
    * dedup_contamination_bloom, dedup_incremental,
    * stream_dedup_incremental, text_langid_model) share these keys'
    * mechanisms and are left out for run length. */
  val Keys = Seq("dedup_exact", "dedup_minhash_lsh", "dedup_ngram_ppjoin", "dedup_clusters")

  private def docs(ctx: Ctx) = if (ctx.tiny) 120 else 1000
  private def dir(ctx: Ctx) = ctx.work.resolve("in").toString
  private val CopyIdShift = 1L << 40
  /** nominal seconds of one pass over the kept keys on a 4-core host */
  private val PassSeconds = 10.0

  def setup(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val sample = spark.read.parquet(ctx.data.resolve("documents.parquet").toString)
      .orderBy(xxhash64(col("doc_id"), lit(ctx.seed)), col("doc_id"))
      .limit(docs(ctx) / 2)
    val copies = sample
      .withColumn("doc_id", col("doc_id") + lit(CopyIdShift))
      .withColumn("text", concat(col("text"), lit(" ~c1")))
      .withColumn("n_chars", length(col("text")).cast("long"))
    sample.unionByName(copies).coalesce(1).write.parquet(ctx.dir("in", "documents.parquet"))
    spark.read.parquet(ctx.dir("in", "documents.parquet")).count()
  }

  def run(ctx: Ctx, out: Outcome): Unit = {
    val spark = ctx.spark
    val t = ctx.tracer
    val queries = SparkEntry.queries

    // check pass, outside the timed region: each key's output goes to
    // parquet for the DuckDB oracle compare; it also warms every key
    out.phases("check_pass_s") = Main.secondsOf(Keys.foreach { k =>
      out.check(s"$k ran for the oracle compare") {
        queries(k)(spark, dir(ctx)).coalesce(1).write.parquet(ctx.dir("check", k))
        true
      }
    })._2
    out.duckChecks("curate") = Map("documents" -> ctx.dir("in", "documents.parquet"),
      "outputs" -> Keys.map(k => k -> ctx.dir("check", k)).toMap,
      "oracle" -> Keys.map(k => k -> SparkEntry.oracleSql(k)).toMap)
    t.reset()

    val keySecs = mutable.ArrayBuffer.empty[Double]
    val passSecs = mutable.ArrayBuffer.empty[Double]
    var broken = false
    Main.repeatFor(ctx.seconds, PassSeconds) {
      val secs = Keys.map { k =>
        val (ok, s) = Main.secondsOf(out.attempt(k)(t.span(k) {
          queries(k)(spark, dir(ctx)).write.format("noop").mode("overwrite").save()
        }))
        if (ok.isEmpty) broken = true
        s
      }
      keySecs ++= secs
      passSecs += secs.sum
      !broken
    }
    out.e2e("work_per_s") = Metric(docs(ctx) / Main.median(passSecs.toSeq), "1/s")
    out.e2e("op_p50_s") = Metric(Main.median(keySecs.toSeq), "s")
    out.samples("key") = keySecs.toSeq

    if (t.traced) {
      val passes = passSecs.size
      Keys.foreach { k =>
        val tot = t.totals(k)
        val wall = tot.mean(tot.wallS)
        val taskS = tot.mean(tot.work.taskMs / 1e3)
        out.layers(s"curate.$k.exec_s") = Metric(wall, "s")
        out.layers(s"curate.$k.jobs") = Metric(tot.mean(tot.work.jobs.toDouble), "count")
        out.layers(s"curate.$k.task_s") = Metric(taskS, "s")
        out.layers(s"curate.$k.sched_gap_s") = Metric(wall - taskS / ctx.cores, "s")
      }
      val all = t.allWork
      out.layers("curate.total.plan_s") = Metric(t.meter.planMs / 1e3 / passes, "s")
      out.layers("curate.total.gc_s") = Metric(all.gcMs / 1e3 / passes, "s")
      out.layers("curate.total.shuffle_bytes") = Metric(all.shuffleBytes.toDouble / passes, "bytes")
      out.layers("curate.total.spill_bytes") = Metric(all.spillBytes.toDouble / passes, "bytes")
    }
  }
}
