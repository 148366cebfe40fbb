package graft.perfbench

import java.io.{File, PrintWriter}
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.io.Source
import scala.util.{Failure, Success, Try}

import org.apache.spark.BenchBus
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.GraftSession
import graft.model.{ConsumerConfig, TaskStatus}
import graft.operators.{Batching, DeadLetters, Decode, Identify}
import graft.sources.StateStore
import graft.streaming.{ConsumerPipeline, ResumableConsumer, StreamMsg, TaskDef, TaskRun}

/** Replays generated Kinesis deliveries through
  * `ConsumerPipeline.multi` in a closed loop: the next delivery starts only
  * after the previous call returns, and a delivery that returns
  * `replay = true` is redelivered unchanged.
  *
  * Usage: `Replay key=value...` with keys `workload` (trickle|backlog),
  * `in` (directory of `warmup/` and `timed/` batch files, one
  * `eventID\tshardId\tpartitionKey\tdata` line per record), `out`,
  * `work`, `seconds`, `trace` (0|1) and `minBatches` (batches replayed
  * even past `seconds`). Set-up delivers the first warm-up batch once.
  *
  * Writes `out/result.json` (host, set-up rounds, one entry per
  * delivery), `out/state.tsv`, `out/dlq.tsv` and `out/invocations.tsv`
  * for the outcome checks, and with `trace=1` also `out/spans.jsonl`. */
object Replay {
  final case class Rec(eventID: String, shardId: String,
      partitionKey: String, data: String)

  private val MaxDeliveriesPerBatch = 8

  def config(workload: String): ConsumerConfig = workload match {
    case "trickle" => ConsumerConfig(maxNumberOfAttempts = 2)
    case "backlog" => ConsumerConfig(sequencingPerKey = true,
      idPropertyNames = Seq("eid"), keyPropertyNames = Seq("user_id"),
      seqNoPropertyNames = Seq("ts"))
    case w => throw new IllegalArgumentException(s"unknown workload $w")
  }

  def registry(workload: String, ns: String): Seq[TaskDef] =
    if (workload == "trickle") Schedule.trickle(ns) else Schedule.backlog(ns)

  def pipeline(workload: String, ns: String, dir: String)
      : (DataFrame, Long) => ConsumerPipeline.BatchResult =
    ConsumerPipeline.multi(config(workload), registry(workload, ns),
      s"$dir/state", s"$dir/dlq",
      processAll = if (workload == "backlog") Some(Schedule.master(ns)) else None)

  def readBatches(dir: String): Vector[Vector[Rec]] =
    Option(new File(dir).listFiles()).getOrElse(Array.empty[File])
      .filter(_.getName.endsWith(".tsv")).sortBy(_.getName).toVector
      .map { f =>
        val src = Source.fromFile(f, "UTF-8")
        try src.getLines().map { l =>
          val a = l.split("\t", -1)
          Rec(a(0), a(1), a(2), a(3))
        }.toVector finally src.close()
      }

  def deleteTree(path: String): Unit = {
    def rm(f: File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rm))
      f.delete()
    }
    rm(new File(path))
  }

  def dirBytes(path: String): Long = {
    def walk(f: File): Long =
      if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty[File])
        .map(walk).sum
      else f.length()
    walk(new File(path))
  }

  /** Peak resident set of this JVM, MB (`VmHWM`). */
  def peakRssMb(): Double = {
    val src = Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
    finally src.close()
  }

  /** Single-thread load gauge: a fixed mixing loop, seconds. */
  def calibrate(iters: Int = 50000000, salt: Long = 0L): Double = {
    val t0 = System.nanoTime()
    var x = 0x9E3779B97F4A7C15L + salt
    var i = 0
    while (i < iters) { x ^= x >>> 33; x *= 0xFF51AFD7ED558CCDL; i += 1 }
    if (x == 42L) print("")
    (System.nanoTime() - t0) / 1e9
  }

  /** The same loop on every core at once, wall seconds of the barrier. */
  def calibrateAllCores(): Double = {
    val n = Runtime.getRuntime.availableProcessors()
    val t0 = System.nanoTime()
    val ts = (0 until n).map(t =>
      new Thread(() => { calibrate(salt = t.toLong); () }))
    ts.foreach(_.start())
    ts.foreach(_.join())
    (System.nanoTime() - t0) / 1e9
  }

  def session(): SparkSession = {
    val s = GraftSession.local("perfbench")
    val cores = "local\\[(\\d+)\\]".r.findFirstMatchIn(s.sparkContext.master)
      .map(_.group(1).toInt).getOrElse(Int.MaxValue)
    val nproc = Runtime.getRuntime.availableProcessors()
    if (cores > nproc) {
      s.stop()
      System.err.println(s"refusing to run: master ${s.sparkContext.master} " +
        s"uses more cores than the $nproc available")
      sys.exit(3)
    }
    s
  }

  def main(args: Array[String]): Unit = {
    val kv = args.map(_.split("=", 2)).collect { case Array(k, v) => k -> v }.toMap
    val workload = kv("workload")
    val in = kv("in")
    val out = kv("out")
    val work = kv("work")
    val seconds = kv("seconds").toDouble
    val trace = kv.getOrElse("trace", "0") == "1"
    val minBatches = kv.getOrElse("minBatches", "1").toInt
    Files.createDirectories(Paths.get(out))

    val warm = readBatches(s"$in/warmup")
    val timed = readBatches(s"$in/timed")
    require(warm.nonEmpty && timed.nonEmpty, s"no input batches under $in")

    // ----- set-up: session start, one warm-up delivery on directories of
    // its own (so JIT and codegen costs land here), and fresh timed
    // directories, their state table pre-loaded on trickle -----
    val t0Setup = System.nanoTime()
    val spark = session()
    val sessionS = (System.nanoTime() - t0Setup) / 1e9
    Schedule.reset()
    pipeline(workload, "warmup", s"$work/warmup")(toDf(spark, warm.head), 1L)
    val dir = s"$work/timed"
    deleteTree(dir)
    if (workload == "trickle") preload(spark, s"$dir/state")
    val setupS = (System.nanoTime() - t0Setup) / 1e9
    val calibSt = calibrate()
    val calibMt = calibrateAllCores()

    // ----- timed closed loop -----
    Schedule.reset()
    val tracer = if (trace) Some(new Tracer) else None
    tracer.foreach(spark.sparkContext.addSparkListener)
    val shadow = tracer.map(t => new Shadow(spark, workload, t, s"$work/shadow"))
    val p = pipeline(workload, "timed", dir)
    val deliveries = mutable.ArrayBuffer.empty[String]
    var id = 0L
    var b = 0
    var lastBatchS = 0.0
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    // A batch takes about as long as a run lasts, so "while time is left"
    // would replay one batch on some runs and two on others, and the
    // second, warmer batch shifts every figure. A batch starts only when
    // one as long as the last still fits in `seconds`.
    while (b < timed.size &&
        (b < minBatches || elapsed + lastBatchS <= seconds)) {
      val batchStart = elapsed
      var replay = true
      var j = 0
      while (replay && j < MaxDeliveriesPerBatch) {
        id += 1; j += 1
        val df = toDf(spark, timed(b))
        val group = s"d$id/pipeline"
        val layers = shadow.map(_.before(id, dir))
        val s = System.nanoTime()
        val sUs = Tracer.nowUs()
        spark.sparkContext.setJobGroup(group, group)
        val r = Try(p(df, id))
        spark.sparkContext.clearJobGroup()
        val wall = (System.nanoTime() - s) / 1e9
        val traced = shadow.map(_.after(id, df, dir, sUs, wall, layers.get))
        replay = r.map(_.replay).getOrElse(true)
        val res = r match {
          case Success(x) => Json.obj(
            "messages" -> x.messages, "unusable" -> x.unusable,
            "completed" -> x.completed, "failed" -> x.failed,
            "discarded" -> x.discarded, "blocked" -> x.blocked,
            "rejected" -> x.rejected, "replay" -> x.replay,
            "processAllCompleted" -> x.processAllCompleted,
            "processAllFailed" -> x.processAllFailed)
          case Failure(e) => Json.obj("error" -> e.toString)
        }
        deliveries += Json.obj("batch" -> b, "delivery" -> j, "wall_s" -> wall,
          "result" -> Json.Raw(res),
          "layers" -> Json.Raw(traced.getOrElse("null")))
      }
      lastBatchS = elapsed - batchStart
      b += 1
    }
    val loopS = elapsed
    val rss = peakRssMb()

    // ----- outcome dumps (outside the timed region) -----
    def dump(table: String, cols: String*): Seq[String] =
      if (!new File(s"$dir/$table").exists()) Nil
      else spark.read.parquet(s"$dir/$table").select(cols.map(col): _*)
        .collect().toSeq.map(_.toSeq.mkString("\t"))
    writeLines(s"$out/state.tsv",
      dump("state", "chainKey", "msgId", "task", "state", "attempts"))
    writeLines(s"$out/dlq.tsv", dump("dlq", "kind", "envelope"))
    writeLines(s"$out/invocations.tsv", Schedule.snapshot("timed").toSeq
      .sorted.map { case (k, v) => s"$k\t$v" })
    tracer.foreach { t =>
      BenchBus.drain(spark.sparkContext)
      writeLines(s"$out/spans.jsonl", t.allSpans.map(s => Json.obj(
        "id" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "group" -> s.group, "start_us" -> s.startUs, "end_us" -> s.endUs)))
    }

    writeLines(s"$out/result.json", Seq(Json.obj(
      "host" -> Json.Raw(host(spark, calibSt, calibMt)),
      "setup_s" -> setupS, "session_start_s" -> sessionS,
      "loop_s" -> loopS, "peak_rss_mb" -> rss,
      "deliveries" -> Json.Raw(deliveries.mkString("[", ",\n", "]")))))
    spark.stop()
  }

  /** Host attestation: cores, Spark master, heap, JDK and Spark versions,
    * and the two load gauges. */
  def host(spark: SparkSession, calibSt: Double, calibMt: Double): String =
    Json.obj(
      "cores" -> Runtime.getRuntime.availableProcessors(),
      "master" -> spark.sparkContext.master,
      "heap_mb" -> Runtime.getRuntime.maxMemory() / (1024 * 1024),
      "jdk" -> System.getProperty("java.version"),
      "spark" -> spark.version,
      "calib_s" -> calibSt, "calib_mt_s" -> calibMt)

  /** Earlier batches' completed messages, as a long-running consumer's
    * state table holds them: `PreloadMessages` messages over the 8
    * trickle shards, one row per task node, msgIds `<shard>:p<n>`. */
  val PreloadMessages = 10000

  def preload(spark: SparkSession, path: String): Unit = {
    import spark.implicits._
    val shard = format_string("shardId-%012d", col("id") % 8)
    val msgs = spark.range(PreloadMessages).select(shard.as("chainKey"),
      concat(shard, lit(":p"), format_string("%012d", col("id"))).as("msgId"))
    StateStore.save(msgs.crossJoin(Seq("t1", "c1", "t2").toDF("task"))
      .select(col("chainKey"), col("msgId"), col("task"),
        lit(TaskStatus.Completed).as("state"), lit(1).as("attempts"),
        lit(null).cast("string").as("reason")), path)
  }

  def toDf(spark: SparkSession, recs: Seq[Rec]): DataFrame = {
    import spark.implicits._
    recs.toDF()
  }

  def writeLines(path: String, lines: Iterable[String]): Unit = {
    val w = new PrintWriter(path, "UTF-8")
    try lines.foreach(w.println) finally w.close()
  }
}

/** What [[Shadow.before]] measured ahead of one delivery. */
final case class Before(root: Int, startUs: Long, loadS: Double,
    saveS: Double, rows: Long)

/** Traced runs only: calls into each layer's public functions from
  * outside the pipeline, on the same delivery, each call a child span of
  * the delivery. `before` runs ahead of the pipeline call (it sees the
  * state the delivery starts from); `after` runs once it returns. */
final class Shadow(spark: SparkSession, workload: String, tracer: Tracer,
    dir: String) {
  import spark.implicits._

  private val cfg = Replay.config(workload)
  private val tasks = Replay.registry(workload, "shadow")
  private val stateSchema = StructType(Seq(
    StructField("chainKey", StringType), StructField("msgId", StringType),
    StructField("task", StringType), StructField("state", StringType),
    StructField("attempts", IntegerType), StructField("reason", StringType)))
  private val nullStr = lit(null).cast("string")

  private def timed[T](name: String, root: Int, d: Long)(f: => T): (T, Double) = {
    val group = s"d$d/$name"
    spark.sparkContext.setJobGroup(group, group)
    try {
      val (r, s) = tracer.span(name, root, group)(f)
      (r, (s.endUs - s.startUs) / 1e6)
    } finally spark.sparkContext.clearJobGroup()
  }

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** `StateStore.load` of the live table, then `StateStore.save` of what
    * was loaded to a side table, which also keeps the delivery's prior
    * state for the task-execution call in `after`. */
  def before(d: Long, live: String): Before = {
    val root = tracer.newId()
    val startUs = Tracer.nowUs()
    val (rows, loadS) = timed("state.load", root, d) {
      val df = StateStore.load(spark, s"$live/state", stateSchema)
      df.agg(count(lit(1)), sum(hash(df.columns.map(col): _*))).head().getLong(0)
    }
    val (_, saveS) = timed("state.save", root, d) {
      StateStore.save(StateStore.load(spark, s"$live/state", stateSchema),
        s"$dir/prior")
    }
    Before(root, startUs, loadS, saveS, rows)
  }

  def after(d: Long, batch: DataFrame, live: String, pipelineStartUs: Long,
      pipelineS: Double, b: Before): String = {
    val root = b.root
    tracer.add(Span(tracer.newId(), root, "pipeline", s"d$d/pipeline",
      pipelineStartUs, pipelineStartUs + (pipelineS * 1e6).toLong))
    val deliveryStart = Tracer.nowUs()

    val recordJson = to_json(struct(col("eventID"), col("shardId"),
      col("partitionKey"), col("data")))
    val (decoded, decodeS) = timed("decode", root, d) {
      val df = Decode.extractJsonMessages(batch, col("data"))
        .withColumn("streamConsumerId", Batching.streamConsumerId(
          lit(cfg.streamName), lit(cfg.consumerId)))
        .withColumn("shardOrEventID", Batching.shardOrEventID(cfg,
          col("shardId"), col("eventID")))
      noop(df)
      df
    }
    val dc = decoded.cache()
    val unusable = dc.filter(col("reason_unusable").isNotNull).count()

    val (identified, identifyS) = timed("identify", root, d) {
      val df = Identify.idsKeysSeqNos(cfg, dc, col("message"), nullStr,
        recordJson, col("eventID"), lit(null).cast("int"))
      noop(df)
      df
    }
    val ic = identified.cache()
    val rejected = ic.filter(col("reason_unusable").isNull &&
      col("reason_rejected").isNotNull).count()

    val usable = ic.filter(col("reason_unusable").isNull &&
      col("reason_rejected").isNull)
    val (sequenced, sequenceS) = timed("sequence", root, d) {
      val df = Identify.sequence(cfg, usable, col("shardOrEventID"),
        col("message"), nullStr, recordJson, col("eventID"), col("eventID"))
      noop(df)
      df
    }
    val chainKey =
      if (cfg.sequencingPerKey) concat_ws("|", col("shardOrEventID"), col("key"))
      else col("shardOrEventID")
    val msgs = sequenced.select(chainKey.as("chainKey"),
        stateKey.as("msgId"), col("seq_rn").cast("long").as("seqNo"),
        col("message").as("payload"))
      .as[StreamMsg].collect().toSeq
    val chains = msgs.groupBy(_.chainKey)
    val ids = msgs.map(_.msgId).toSet
    val prior = spark.read.parquet(s"$dir/prior").as[TaskRun].collect()
      .filter(r => ids(r.msgId)).groupBy(_.msgId)
      .map { case (id, rs) => id -> rs.map(r => r.task -> r).toMap }
    val (_, execS) = timed("tasks.exec", root, d) {
      chains.values.foreach(ms => ResumableConsumer.executeChainTasks(prior, ms,
        tasks, cfg.maxNumberOfAttempts))
    }

    val at = lit("1970-01-01T00:00:00.000Z")
    val letters = ic.filter(col("reason_unusable").isNotNull)
        .select(lit("DR").as("kind"), DeadLetters.deadRecordEnvelope(
          col("streamConsumerId"), col("shardOrEventID"), recordJson,
          col("reason_unusable"), at).as("envelope"))
      .unionByName(ic.filter(col("reason_unusable").isNull &&
          col("reason_rejected").isNotNull)
        .select(lit("DM").as("kind"), DeadLetters.deadMessageEnvelope(
          col("streamConsumerId"), col("shardOrEventID"), col("message"),
          col("reason_rejected"), at).as("envelope")))
    val (_, dlqS) = timed("dlq.write", root, d) {
      letters.write.mode("append").parquet(s"$dir/dlq")
    }
    ic.unpersist()
    dc.unpersist()

    BenchBus.drain(spark.sparkContext)
    val g = tracer.group(s"d$d/pipeline")
    tracer.add(Span(root, 0, "delivery", "", b.startUs, Tracer.nowUs()))
    Json.obj(
      "shadow_s" -> (Tracer.nowUs() - deliveryStart) / 1e6,
      "decode_s" -> decodeS, "unusable" -> unusable,
      "identify_s" -> identifyS, "rejected" -> rejected,
      "sequence_s" -> sequenceS, "chains" -> chains.size,
      "max_chain_len" -> (if (chains.isEmpty) 0 else chains.values.map(_.size).max),
      "state_load_s" -> b.loadS, "state_save_s" -> b.saveS,
      "state_rows" -> b.rows, "state_bytes" -> Replay.dirBytes(s"$live/state"),
      "exec_s" -> execS, "dlq_write_s" -> dlqS,
      "spark_jobs" -> g.jobs, "spark_async_jobs" -> g.asyncJobs,
      "spark_stages" -> g.stages,
      "spark_tasks" -> g.tasks, "executor_run_s" -> g.executorRunS,
      "deserialize_s" -> g.deserializeS, "shuffle_bytes" -> g.shuffleBytes,
      "spill_bytes" -> g.spillBytes,
      "sched_overhead_s" -> math.max(0.0, pipelineS - g.busyS),
      "task_skew" -> g.taskSkew)
  }

  /** The pipeline's state identity: `B|id|key|seqNo|md5` when every id
    * property resolves, else the eventID. */
  private def stateKey = {
    val sources = Seq(col("message"), nullStr, to_json(struct(col("eventID"),
      col("shardId"), col("partitionKey"), col("data"))))
    if (cfg.idPropertyNames.isEmpty) col("eventID")
    else when(cfg.idPropertyNames
        .map(n => Identify.propertyValue(n, sources).isNotNull).reduce(_ && _),
      concat_ws("|", lit("B"), col("id"), col("key"), col("seqNo"),
        md5(col("message").cast("binary"))))
      .otherwise(col("eventID"))
  }
}

/** Just enough JSON writing for the result files. */
object Json {
  final case class Raw(text: String)

  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def value(v: Any): String = v match {
    case Raw(t) => t
    case s: String => str(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case b: Boolean => b.toString
    case n: Number => n.toString
    case null => "null"
    case x => str(x.toString)
  }

  def obj(kvs: (String, Any)*): String =
    kvs.map { case (k, v) => s"${str(k)}:${value(v)}" }.mkString("{", ",", "}")
}
