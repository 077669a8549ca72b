package graft.perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import graft.GraftSession
import org.apache.spark.sql.SparkSession

/** What one run of a workload shares with its phases. `work` is the
  * run's directory: inputs go under `work/in`, tables under `work/tables`,
  * check artifacts under `work/check`. `data` holds the benchmark's own
  * fixed input files, which seeded inputs may be drawn from. */
final case class Ctx(spark: SparkSession, cores: Int, seed: Long, seconds: Double,
    tiny: Boolean, work: Path, data: Path, tracer: Tracer) {
  def dir(parts: String*): String = {
    val p = parts.foldLeft(work)(_ resolve _)
    Files.createDirectories(p.getParent)
    p.toString
  }
}

/** A metric as printed: value and unit. */
final case class Metric(value: Double, unit: String)

/** What the measured phase and the checks of one workload report. */
final class Outcome {
  /** end-to-end metrics other than setup_s */
  val e2e = mutable.LinkedHashMap.empty[String, Metric]
  /** per-layer metrics, filled only when tracing */
  val layers = mutable.LinkedHashMap.empty[String, Metric]
  var attempted = 0L
  var failed = 0L
  val failures = mutable.ArrayBuffer.empty[String]
  /** check inputs handed to the DuckDB checks run after the JVM exits */
  val duckChecks = mutable.LinkedHashMap.empty[String, Any]
  /** seconds spent in each phase of the run, for sizing the workloads */
  val phases = mutable.LinkedHashMap.empty[String, Double]
  /** every timed operation's latency, by kind */
  val samples = mutable.LinkedHashMap.empty[String, Seq[Double]]

  def fail(msg: String): Unit = { failed += 1; failures += msg }

  /** Count one attempted operation; a throw counts it failed. */
  def attempt[A](what: String)(body: => A): Option[A] = {
    attempted += 1
    try Some(body)
    catch {
      case e: Throwable =>
        fail(s"$what: ${e.getClass.getSimpleName}: ${e.getMessage}")
        None
    }
  }

  /** A check that is not itself a timed operation: a mismatch counts
    * against the operations it covers. */
  def check(what: String)(ok: => Boolean): Unit = {
    val pass = try ok catch { case e: Throwable => System.err.println(e); false }
    if (!pass) fail(s"check failed: $what")
  }
}

/** One benchmark workload: a closed loop driven by a single client. */
trait Workload {
  /** Generate the seeded inputs under `ctx.work/in` and warm up; timed
    * as set-up, several times per run. */
  def setup(ctx: Ctx): Unit
  /** Run the closed loop for about `ctx.seconds`, then check outputs
    * outside the timed region. */
  def run(ctx: Ctx, out: Outcome): Unit
}

/** Benchmark entry point: one workload, one seed, one process.
  *
  * {{{
  * Main --workload lakehouse|curate --seed N --seconds S --trace 0|1
  *      --work DIR --data DIR [--size full|tiny]
  * }}}
  * Runs `local[n]` with n = the host's core count and n shuffle partitions.
  * Writes `DIR/result.json` (metrics, operation counts, check inputs and
  * host fields) and, when tracing, `DIR/spans.jsonl`.
  */
object Main {
  val SetupReps = 3
  val MinUnits = 2

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload: Workload = opts("workload") match {
      case "lakehouse" => Lakehouse
      case "curate" => Curate
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val traced = opts("trace") == "1"
    val tiny = opts.getOrElse("size", "full") == "tiny"
    val work = Paths.get(opts("work")).toAbsolutePath
    val data = Paths.get(opts("data")).toAbsolutePath
    val cores = Runtime.getRuntime.availableProcessors()

    // set-up, several times: a fresh session, fresh inputs, warmup; the
    // last one is kept for the measured phase
    var ctx: Ctx = null
    val setupSecs = (1 to SetupReps).map { _ =>
      if (ctx != null) ctx.spark.stop()
      deleteTree(work.resolve("in")); deleteTree(work.resolve("tables"))
      val t0 = System.nanoTime()
      val spark = session(cores, work)
      ctx = Ctx(spark, cores, seed, seconds, tiny, work, data,
        new Tracer(spark, traced, s"${opts("workload")}-$seed-${System.currentTimeMillis}"))
      workload.setup(ctx)
      (System.nanoTime() - t0) / 1e9
    }
    ctx.tracer.reset()

    val out = new Outcome
    out.phases("run_s") = Main.secondsOf(workload.run(ctx, out))._2
    ctx.tracer.drain()
    out.e2e("setup_s") = Metric(median(setupSecs), "s")
    if (traced) out.layers("spark.peak_exec_mem_mb") =
      Metric(ctx.tracer.meter.peakExecMem.get / 1048576.0, "MB")
    ctx.tracer.write(work.resolve("spans.jsonl"))

    // a metric without a value (NaN: e.g. the mean of a span that never
    // ran) is left out, and run.py reports it as not produced
    def metrics(m: mutable.LinkedHashMap[String, Metric]) =
      m.collect { case (k, v) if java.lang.Double.isFinite(v.value) =>
        k -> Map("value" -> v.value, "unit" -> v.unit) }.toMap
    val result = json(Map(
      "e2e" -> metrics(out.e2e),
      "layers" -> metrics(out.layers),
      "setup_samples_s" -> setupSecs,
      "attempted" -> out.attempted,
      "failed" -> out.failed,
      "failures" -> out.failures.take(20).toSeq,
      "duck_checks" -> out.duckChecks.toMap,
      "phases" -> out.phases.toMap,
      "samples" -> out.samples.toMap,
      "host" -> Map(
        "cores" -> cores, "master" -> s"local[$cores]",
        "jdk" -> System.getProperty("java.version"),
        "spark" -> ctx.spark.version,
        "max_heap_mb" -> Runtime.getRuntime.maxMemory / 1048576)))
    Files.writeString(work.resolve("result.json"), result)
    ctx.spark.stop()
  }

  private def session(cores: Int, work: Path): SparkSession = {
    val spark = GraftSession.builder("graft-perfbench", s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val st = Files.walk(p)
      try st.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
      finally st.close()
    }

  /** Total size of the regular files under `p`. */
  def treeBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val st = Files.walk(p)
      try st.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
      finally st.close()
    }

  /** Run `seconds` ÷ `unitSeconds` whole units of work (a round, a pass),
    * at least [[MinUnits]]; none after a unit returns false (it broke).
    * `unitSeconds` is the unit's nominal length on a 4-core host. The count
    * is fixed, not judged from measured durations: the first measured unit
    * runs about 15% slower than later ones, so a run that measured fewer
    * units on a slow moment of the host, or more on a fast one, would read
    * as an outlier. */
  def repeatFor(seconds: Double, unitSeconds: Double)(unit: => Boolean): Unit = {
    val units = math.max(MinUnits, (seconds / unitSeconds).toInt)
    var done = 0
    while (done < units && unit) done += 1
  }

  /** JSON text of maps, sequences, strings, numbers and booleans. */
  def json(value: AnyRef): String = org.json4s.jackson.Serialization.write(value)(org.json4s.DefaultFormats)

  def secondsOf[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = body
    (a, (System.nanoTime() - t0) / 1e9)
  }
}
