package graft.perfbench

import java.nio.file.Path
import java.util.SplittableRandom

import scala.collection.mutable

import graft.sources.{DeltaLake, IcebergTable, IcebergWriter, ManifestTable}
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.functions._

/** One long-lived events table, range-clustered on `event_id`,
  * partitioned by `day`, with deletion vectors on, mirrored to Delta after
  * every write and to Iceberg after every compaction (Iceberg mirroring
  * refuses tables that carry deletion vectors). A seeded mix of reads and
  * writes runs against it in rounds: every round reads twice with each of
  * point/range and once with scan through each of graft, Delta, Iceberg and
  * the SQL face (lookups outnumber scans),
  * and writes once with each of append, merge, delete, update and SQL DML;
  * every round ends with a compaction. The first round only warms up. `scan_read` filters on
  * columns no file statistics can skip, so file skipping should not move it.
  */
object Lakehouse extends Workload {
  val ReadKinds = Seq("point_read", "range_read", "scan_read")
  val Faces = Seq("graft", "delta", "iceberg", "sql")
  val WriteKinds = Seq("append", "merge", "delete", "update", "sql_dml")
  private val ReadsPerFace = Map("point_read" -> 2, "range_read" -> 2, "scan_read" -> 1)
  /** nominal seconds of one round on a 4-core host */
  private val RoundSeconds = 10.0

  private def days(ctx: Ctx) = if (ctx.tiny) 2 else 10
  private def perDay(ctx: Ctx) = if (ctx.tiny) 500 else 10000
  private def appendRows(ctx: Ctx) = if (ctx.tiny) 100 else 2000
  private def mergeRows(ctx: Ctx) = if (ctx.tiny) 50 else 800
  private def mergeInserts(ctx: Ctx) = if (ctx.tiny) 10 else 200
  private def dmlRows(ctx: Ctx) = if (ctx.tiny) 30 else 300

  /** A predicate in both of the forms the faces take: a Column built with
    * the DSL (what graft's skipping and DML localisation translate) and
    * the same condition as SQL text (the SQL face, the DuckDB replay). */
  private final case class Pred(column: Column, sql: String)

  private def idRange(a: Long, b: Long) =
    Pred(col("event_id") >= a && col("event_id") < b, s"event_id >= $a AND event_id < $b")

  private def root(ctx: Ctx) = ctx.work.resolve("tables").resolve("events").toString
  private def input(ctx: Ctx, name: String) = ctx.work.resolve("in").resolve(name).toString

  /** Seeded rows for ids [lo, hi); `salt` gives merge sources new values. */
  private def rows(ctx: Ctx, lo: Long, hi: Long, salt: Long): DataFrame = {
    def h(i: Int) = xxhash64(col("id"), lit(ctx.seed), lit(salt), lit(i))
    ctx.spark.range(lo, hi).select(
      col("id").as("event_id"),
      (col("id") / perDay(ctx)).cast("int").as("day"),
      pmod(h(1), lit(5000L)).as("user_id"),
      concat(lit("k"), pmod(h(2), lit(8L)).cast("string")).as("kind"),
      pmod(h(3), lit(1000L)).as("value"),
      concat(lit("note-"), hex(h(4))).as("note"))
  }

  def setup(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val n = days(ctx).toLong * perDay(ctx)
    rows(ctx, 0, n, 0).coalesce(ctx.cores).write.parquet(input(ctx, "base"))
    ManifestTable.append(spark, root(ctx),
      spark.read.parquet(input(ctx, "base"))
        .repartitionByRange(days(ctx) * 2, col("event_id")).sortWithinPartitions("event_id"),
      partitionBy = Seq("day"))
    ManifestTable.setProperty(spark, root(ctx), ManifestTable.DvProperty, "true")
    IcebergWriter.mirror(spark, root(ctx))
    DeltaLake.mirror(spark, root(ctx))
    // warmup: a point read through each face
    Faces.foreach(f => readFrame(ctx, f, predicate("point_read", n, new SplittableRandom(0))).collect())
  }

  /** A read's predicate over ids [0, hi). */
  private def predicate(kind: String, hi: Long, rng: SplittableRandom): Pred = kind match {
    case "point_read" =>
      val id = rng.nextLong(hi); Pred(col("event_id") === id, s"event_id = $id")
    case "range_read" =>
      val a = rng.nextLong(math.max(1L, hi - 200)); idRange(a, a + 200)
    case "scan_read" =>
      val k = s"k${rng.nextInt(8)}"
      Pred(col("kind") === k && col("value") < 20L, s"kind = '$k' AND value < 20")
  }

  private def readFrame(ctx: Ctx, face: String, pred: Pred): DataFrame = {
    val spark = ctx.spark
    face match {
      case "graft" => ManifestTable.readWhere(spark, root(ctx), pred.column)
      case "delta" => DeltaLake.read(spark, root(ctx)).filter(pred.column)
      case "iceberg" => IcebergTable.read(spark, root(ctx)).filter(pred.column)
      case "sql" => spark.sql(s"SELECT * FROM graft.`${root(ctx)}` WHERE ${pred.sql}")
    }
  }

  private def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
    case f: FileSourceScanExec => Seq(f)
    case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
    case q: QueryStageExec => scans(q.plan)
    case other => other.children.flatMap(scans) ++ other.subqueries.flatMap(scans)
  }

  /** count, sum(event_id), sum(value), sum(event_id % 1009 * value):
    * what the DuckDB replay recomputes for every read. */
  private def checksum(rows: Array[Row]): Seq[Long] = {
    var a, b, c = 0L
    rows.foreach { r =>
      val id = r.getAs[Long]("event_id"); val v = r.getAs[Long]("value")
      a += id; b += v; c += (id % 1009) * v
    }
    Seq(rows.length.toLong, a, b, c)
  }

  /** Bytes of the graft table itself: data, deletion vectors, manifests. */
  private def tableBytes(ctx: Ctx): Long = {
    val r = Path.of(root(ctx))
    Main.treeBytes(r) - Main.treeBytes(r.resolve("_delta_log")) - Main.treeBytes(r.resolve("metadata"))
  }

  def run(ctx: Ctx, out: Outcome): Unit = {
    val spark = ctx.spark
    val t = ctx.tracer
    val log = mutable.ArrayBuffer.empty[Map[String, Any]]
    val readSecs, writeSecs = mutable.ArrayBuffer.empty[Double]
    val planSecs = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    val returned = mutable.Map.empty[String, Long].withDefaultValue(0L)
    val filesOpened = mutable.Map.empty[String, Long].withDefaultValue(0L)
    val readCalls = mutable.Map.empty[String, Int].withDefaultValue(0)
    val bytesWritten, rowsChanged = mutable.Map.empty[String, Long].withDefaultValue(0L)
    var nextId = days(ctx).toLong * perDay(ctx)
    var opIndex = 0
    var round = 0
    var broken = false

    def write(kind: String, params: Map[String, Any], changed: => Long)(commit: => Unit): Unit = {
      val before = if (t.traced) tableBytes(ctx) else 0L
      val nChanged = if (t.traced) changed else 0L
      val (ok, s) = Main.secondsOf(out.attempt(s"$kind #$opIndex")(t.span(kind) {
        commit
        t.span("mirror")(DeltaLake.mirror(spark, root(ctx)))
      }))
      if (ok.isEmpty) broken = true
      writeSecs += s
      log += params ++ Map("op" -> kind, "i" -> opIndex)
      if (t.traced) {
        bytesWritten(kind) += tableBytes(ctx) - before
        rowsChanged(kind) += nChanged
      }
    }
    def matching(pred: Pred): Long = ManifestTable.readWhere(spark, root(ctx), pred.column).count()

    /** Every read kind through every face and every write kind, in seeded
      * order, then a compaction. */
    def oneRound(): Boolean = {
      val rng = new SplittableRandom(ctx.seed * 7919L + round)
      val ops = (for (k <- ReadKinds; f <- Faces; _ <- 1 to ReadsPerFace(k)) yield s"$k/$f") ++
        WriteKinds
      val order = ops.map(o => (rng.nextLong(), o)).sortBy(_._1).map(_._2)
      for (op <- order if !broken) {
        op.split('/') match {
          case Array(kind, face) =>
            val pred = predicate(kind, nextId, rng)
            val (res, s) = Main.secondsOf(out.attempt(s"$op #$opIndex")(t.span(kind) {
              val (df, planS) = Main.secondsOf {
                val df = readFrame(ctx, face, pred)
                df.queryExecution.executedPlan
                df
              }
              (df, planS, df.collect())
            }))
            res match {
              case None => broken = true
              case Some((df, planS, got)) =>
                readSecs += s
                log += Map("op" -> "read", "i" -> opIndex, "face" -> face, "kind" -> kind,
                  "pred" -> pred.sql, "checksum" -> checksum(got))
                if (t.traced) {
                  readCalls(kind) += 1
                  planSecs(kind) += planS
                  returned(kind) += math.max(1, got.length)
                  filesOpened(op) += scans(df.queryExecution.executedPlan)
                    .map(_.metrics.get("numFiles").map(_.value).getOrElse(0L)).sum
                }
            }
          case Array("append") =>
            val in = input(ctx, s"op$opIndex")
            rows(ctx, nextId, nextId + appendRows(ctx), opIndex).coalesce(1).write.parquet(in)
            nextId += appendRows(ctx)
            write("append", Map("input" -> in), appendRows(ctx)) {
              ManifestTable.append(spark, root(ctx), spark.read.parquet(in))
            }
          case Array("merge") =>
            val in = input(ctx, s"op$opIndex")
            val a = rng.nextLong(nextId - mergeRows(ctx))
            rows(ctx, a, a + mergeRows(ctx), opIndex + 1)
              .union(rows(ctx, nextId, nextId + mergeInserts(ctx), opIndex + 1))
              .coalesce(1).write.parquet(in)
            nextId += mergeInserts(ctx)
            write("merge", Map("input" -> in), mergeRows(ctx) + mergeInserts(ctx)) {
              ManifestTable.merge(spark, root(ctx), spark.read.parquet(in), Seq("event_id"))
            }
          case Array(kind) =>
            val a = rng.nextLong(nextId - dmlRows(ctx))
            val pred = idRange(a, a + dmlRows(ctx))
            val sqlDelete = kind == "sql_dml" && round % 2 == 1
            val sql =
              if (sqlDelete) s"DELETE FROM graft.`${root(ctx)}` WHERE ${pred.sql}"
              else s"UPDATE graft.`${root(ctx)}` SET value = value + 1000 WHERE ${pred.sql}"
            val params = kind match {
              case "delete" => Map("pred" -> pred.sql)
              case "update" => Map("pred" -> pred.sql, "add" -> 7)
              case _ if sqlDelete => Map("pred" -> pred.sql, "sql" -> "delete")
              case _ => Map("pred" -> pred.sql, "sql" -> "update", "add" -> 1000)
            }
            write(kind, params, matching(pred)) {
              kind match {
                case "delete" => ManifestTable.delete(spark, root(ctx), pred.column)
                case "update" => ManifestTable.update(spark, root(ctx), pred.column,
                  Map("value" -> (col("value") + 7)))
                case _ => spark.sql(sql).collect()
              }
            }
        }
        opIndex += 1
      }
      round += 1
      if (!broken) {
        write("compact", Map.empty, 0L) {
          ManifestTable.compact(spark, root(ctx))
          t.span("mirror")(IcebergWriter.mirror(spark, root(ctx)))
        }
        opIndex += 1
      }
      !broken
    }

    // the first round warms the write paths: checked, not measured
    if (oneRound()) {
      Seq(readSecs, writeSecs).foreach(_.clear())
      Seq(planSecs, returned, filesOpened, readCalls, bytesWritten, rowsChanged).foreach(_.clear())
      t.reset()
      Main.repeatFor(ctx.seconds, RoundSeconds)(oneRound())
    }

    val ops = readSecs ++ writeSecs
    if (ops.nonEmpty) {
      out.e2e("work_per_s") = Metric(ops.size / ops.sum, "1/s")
      out.e2e("op_p50_s") = Metric(Main.median(ops.toSeq), "s")
      out.samples("read") = readSecs.toSeq
      out.samples("write") = writeSecs.toSeq
    }

    // checks: the DuckDB replay re-runs the op log from the generated
    // inputs and compares every read and the final table
    val finalOut = ctx.dir("check", "final")
    if (!broken) ManifestTable.read(spark, root(ctx)).coalesce(1).write.parquet(finalOut)
    val logPath = ctx.work.resolve("check").resolve("oplog.jsonl")
    java.nio.file.Files.writeString(logPath, log.map(Main.json).mkString("", "\n", "\n"))
    out.duckChecks("lakehouse") = Map("base" -> input(ctx, "base"), "oplog" -> logPath.toString,
      "final" -> finalOut)

    if (t.traced && ops.nonEmpty) {
      ReadKinds.foreach { k =>
        val tot = t.totals(k)
        out.layers(s"lakehouse.$k.wall_s") = Metric(tot.mean(tot.wallS), "s")
        out.layers(s"lakehouse.$k.plan_s") = Metric(planSecs(k) / math.max(1, readCalls(k)), "s")
        out.layers(s"lakehouse.$k.rows_read_per_row_returned") =
          Metric(tot.work.recordsRead.toDouble / math.max(1L, returned(k)), "ratio")
        Seq("graft", "delta", "iceberg").foreach { f =>
          val calls = math.max(1, readCalls(k) / Faces.size)
          out.layers(s"lakehouse.$k.$f.files_opened") =
            Metric(filesOpened(s"$k/$f").toDouble / calls, "count")
        }
      }
      (WriteKinds ++ Seq("mirror", "compact")).foreach { k =>
        val tot = t.totals(k)
        out.layers(s"lakehouse.$k.wall_s") = Metric(tot.mean(tot.wallS), "s")
        out.layers(s"lakehouse.$k.jobs") = Metric(tot.mean(tot.work.jobs.toDouble), "count")
      }
      Seq("merge", "delete", "update").foreach { k =>
        out.layers(s"lakehouse.$k.bytes_written_per_row_changed") =
          Metric(bytesWritten(k).toDouble / math.max(1L, rowsChanged(k)), "bytes")
      }
      out.layers("lakehouse.read_p50_s") = Metric(Main.median(readSecs.toSeq), "s")
      out.layers("lakehouse.write_p50_s") = Metric(Main.median(writeSecs.toSeq), "s")
      out.layers("lakehouse.stored_bytes_per_input_byte") = Metric(
        Main.treeBytes(Path.of(root(ctx))).toDouble / Main.treeBytes(ctx.work.resolve("in")), "ratio")
    }
  }
}
