package graft.perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.BenchBus
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}

import graft.SparkEntry

/** Runs registry queries from `SparkEntry.queries` in passes over
  * generated tables, materializing every output row with `collect()`.
  *
  * Usage: `Analytics key=value...` with keys `tables` (directory of
  * `events.parquet` and `documents.parquet`), `queries` (comma-separated
  * names), `out`, `seed` (permutes the query order of each pass),
  * `seconds`, `trace` (0|1) and `minPasses` (passes run even past
  * `seconds`). Set-up runs every query once, so JIT, codegen and the
  * first file scans land there.
  *
  * Writes `out/result.json` (host, set-up, per-query times and row
  * digests per pass), `out/oracle_sql.json`, and for each query the rows
  * of its last timed pass as parquet under `out/<name>` for the oracle
  * comparison. */
object Analytics extends AdaptiveSparkPlanHelper {
  /** Shuffle and broadcast exchanges in an executed plan, adaptive query
    * stages included. */
  def exchanges(plan: SparkPlan): Int = collect(plan) {
    case e: ShuffleExchangeLike => e
    case e: BroadcastExchangeLike => e
  }.size

  /** Order-sensitive digest of collected rows. */
  def digest(rows: Array[Row]): Int = rows.toSeq.map(_.toString).hashCode

  def main(args: Array[String]): Unit = {
    val kv = args.map(_.split("=", 2)).collect { case Array(k, v) => k -> v }.toMap
    val tables = kv("tables")
    val names = kv("queries").split(",").toSeq
    val out = kv("out")
    val seed = kv("seed").toLong
    val seconds = kv("seconds").toDouble
    val trace = kv.getOrElse("trace", "0") == "1"
    val minPasses = kv.getOrElse("minPasses", "1").toInt
    Files.createDirectories(Paths.get(out))
    val missing = names.filterNot(n =>
      SparkEntry.queries.contains(n) && SparkEntry.oracleSql.contains(n))
    require(missing.isEmpty, s"no query or oracle for ${missing.mkString(",")}")
    val query = names.map(n => n -> SparkEntry.queries(n)).toMap

    // ----- set-up: session start and one untimed run of every query -----
    val t0Setup = System.nanoTime()
    val spark = Replay.session()
    val sessionS = (System.nanoTime() - t0Setup) / 1e9
    names.foreach(n => query(n)(spark, tables).collect())
    val setupS = (System.nanoTime() - t0Setup) / 1e9
    val calibSt = Replay.calibrate()
    val calibMt = Replay.calibrateAllCores()

    // ----- timed passes, each in its own seeded query order -----
    val tracer = if (trace) Some(new Tracer) else None
    tracer.foreach(spark.sparkContext.addSparkListener)
    val rng = new Random(seed)
    val runs = mutable.ArrayBuffer.empty[String]
    val last = mutable.Map.empty[String, (DataFrame, Array[Row])]
    var pass = 0
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    while (elapsed < seconds || pass < minPasses) {
      pass += 1
      for (n <- rng.shuffle(names)) {
        val group = s"p$pass/$n"
        spark.sparkContext.setJobGroup(group, group)
        val (df, rows, wall) = try {
          val s = System.nanoTime()
          val df = query(n)(spark, tables)
          val rows = df.collect()
          (df, rows, (System.nanoTime() - s) / 1e9)
        } finally spark.sparkContext.clearJobGroup()
        last(n) = (df, rows)
        val traced = tracer.map { t =>
          val endUs = Tracer.nowUs()
          BenchBus.drain(spark.sparkContext)
          val g = t.group(group)
          t.add(Span(t.newId(), 0, s"query $n", group,
            endUs - (wall * 1e6).toLong, endUs))
          val ex = exchanges(df.queryExecution.executedPlan)
          Json.obj("jobs" -> (g.jobs + g.asyncJobs), "sync_jobs" -> g.jobs,
            "async_jobs" -> g.asyncJobs, "stages" -> g.stages,
            "tasks" -> g.tasks, "executor_run_s" -> g.executorRunS,
            "deserialize_s" -> g.deserializeS,
            "shuffle_bytes" -> g.shuffleBytes, "spill_bytes" -> g.spillBytes,
            "sched_overhead_s" -> math.max(0.0, wall - g.busyS),
            "task_skew" -> g.taskSkew, "exchanges" -> ex,
            "trace_s" -> (Tracer.nowUs() - endUs) / 1e6)
        }
        runs += Json.obj("pass" -> pass, "query" -> n, "wall_s" -> wall,
          "rows" -> rows.length, "digest" -> digest(rows),
          "layers" -> Json.Raw(traced.getOrElse("null")))
      }
    }
    val loopS = elapsed
    val rss = Replay.peakRssMb()

    // ----- results for the oracle comparison (outside the timed region) --
    names.foreach { n =>
      val (df, rows) = last(n)
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), df.schema)
        .coalesce(1).write.mode("overwrite").parquet(s"$out/$n")
    }
    Replay.writeLines(s"$out/oracle_sql.json", Seq(names.map(n =>
      s"${Json.str(n)}:${Json.str(SparkEntry.oracleSql(n))}").mkString("{", ",", "}")))
    tracer.foreach { t =>
      Replay.writeLines(s"$out/spans.jsonl", t.allSpans.map(s => Json.obj(
        "id" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "group" -> s.group, "start_us" -> s.startUs, "end_us" -> s.endUs)))
    }
    Replay.writeLines(s"$out/result.json", Seq(Json.obj(
      "host" -> Json.Raw(Replay.host(spark, calibSt, calibMt)),
      "setup_s" -> setupS, "session_start_s" -> sessionS,
      "loop_s" -> loopS, "passes" -> pass, "peak_rss_mb" -> rss,
      "runs" -> Json.Raw(runs.mkString("[", ",\n", "]")))))
    spark.stop()
  }
}
