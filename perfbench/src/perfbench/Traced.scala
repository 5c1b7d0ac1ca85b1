package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, count, lit}

import graft.app.{CounterReport, JobConfig, Pipeline}
import graft.operators.{Aggregates, Enrich, MetricsArrivalOrder, ParseStage, Route, Sinks}
import graft.parse.LineParser
import graft.sources.Tables

/** The traced run: per-layer numbers for one workload.
  *
  *  1. untraced repetitions of the ingest job (after a warm-up);
  *  2. the noop-sink ladder scan → parse → route → aggregate, one span per
  *     rung, rungs interleaved round by round with the untraced
  *     repetitions; a rung's self time is its median minus the median of
  *     the rung below;
  *  3. on the same table, Pipeline.run's stage functions, called with the
  *     same arguments and in the same order, one span each: once cold and
  *     discarded, once measured;
  *  4. the ingest job at local[1];
  *  5. single-thread and nproc-thread LineParser.parseAuto over a fixed
  *     sample of the workload's text, outside Spark.
  */
object Traced {
  /** ladder rounds even past the time budget */
  private val minReps = 2

  def apply(run: Run, seconds: Double): Map[String, Any] = {
    val cores = Main.cores
    val gc0 = gcSeconds()
    val tally = new run.Tally
    val untraced = ArrayBuffer.empty[Double]
    val bytesOut = ArrayBuffer.empty[Map[String, Double]]
    val (spark, _) = run.coldStart(tally)
    val tracer = new Tracer(spark, s"${run.w.name}-seed${run.seed}-${System.currentTimeMillis()}")
    val (outColumns, rowsOut) = try {
      run.reps(seconds * 0.15, 0)(tally(run.rep(spark)))
      // untraced repetition and traced ladder alternate which goes first,
      // so both see the same host and JIT conditions
      run.reps(seconds * 2, minReps) {
        if (untraced.size % 2 == 1) ladderRound(run, spark, tracer, tally)
        untraced += tally(run.rep(spark))
        if (untraced.size % 2 == 1) ladderRound(run, spark, tracer, tally)
        0.0
      }
      // rows out of the parse, observed once outside the ladder's timings
      val parsed = ParseStage.parse(Tables.transcripts(spark, run.sfDir))
      val obs = new org.apache.spark.sql.Observation("parse_stage")
      tracer.span("parse_stage.rows")(noop(parsed.observe(obs, count(lit(1)).as("rows"))))
      Seq("pipeline.cold", "pipeline").foreach(top => tally(run.rep(spark, staged(run, tracer, top, bytesOut))))
      (parsed.schema.size, obs.get("rows").asInstanceOf[Long])
    } finally Engine.stop(spark)
    // the same job at local[1]; JIT and codegen caches are warm by now
    val one = Engine.session(1)
    val narrow = try run.reps(seconds * 0.5, 1)(tally(run.rep(one))) finally Engine.stop(one)
    val parse = parseBench(run, cores, seconds * 0.15)
    val gcS = gcSeconds() - gc0

    val tps = run.expected.turns / median(untraced.toSeq)
    val tps1 = run.expected.turns / median(narrow)
    val metrics = layerMetrics(run, tracer, cores, median(untraced.toSeq)) ++ parse ++
      bytesOut.lastOption.getOrElse(Map.empty) ++ Map(
      "turns_per_s_1core" -> tps1,
      "scaling_eff" -> tps / tps1 / cores,
      "parse_stage.out_columns" -> outColumns.toDouble,
      "parse_stage.rows_out" -> rowsOut.toDouble,
      "parse_stage.rows_dropped" -> (named(tracer, "parse_stage.rows").map(scanRows).sum - rowsOut),
      "jvm.gc_s" -> gcS,
      "error_rate" -> tally.failed.toDouble / tally.attempted)
    Map("metrics" -> metrics, "spans" -> tracer.toJson, "untraced_s" -> untraced.toSeq, "one_s" -> narrow,
      "attempted" -> tally.attempted, "failed" -> tally.failed, "errors" -> tally.errors.toSeq)
  }

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  private def ladderRound(run: Run, spark: SparkSession, tracer: Tracer, tally: Run#Tally): Double = {
    def transcripts = Tables.transcripts(spark, run.sfDir)
    tracer.span("ladder.scan")(noop(transcripts.select(ParseStage.provenanceCols.map(col): _*)))
    tracer.span("ladder.parse")(noop(ParseStage.parse(transcripts)))
    tracer.span("ladder.route")(noop(Route.withSink(ParseStage.parse(transcripts))))
    tally(run.rep(spark, (s, _) => {
      val rows = tracer.span("ladder.aggregate")(Engine.ingest(s, run.sfDir))
      () => Engine.checkIngest(rows, run.expected)
    }))
  }

  /** Pipeline.run's body inside span `top`, with a span around each stage
    * call; only its final job_metrics.json write is left out.
    */
  private def staged(run: Run, tracer: Tracer, top: String, bytesOut: ArrayBuffer[Map[String, Double]])(
      spark: SparkSession, outDir: Path): () => Seq[String] = {
    val cfg = JobConfig()
    val out = outDir.toString
    val res = tracer.span(top) {
      val transcripts0 = Tables.transcripts(spark, run.sfDir)
      val transcripts = cfg.startFrom match {
        case 0 => transcripts0
        case -1 => transcripts0.filter(lit(false))
        case n => transcripts0.filter(col("turn_idx") >= n)
      }
      val parsed = ParseStage.parse(transcripts)
      val routed = Route.withSink(parsed)
      val manifest = tracer.span("sinks.fanout")(Route.fanOutWithLineage(routed, s"$out/routed", partitions = 32))
      var report = ""
      if (cfg.handlers.contains("COUNTER")) {
        report = tracer.span("counter_report.snapshot")(CounterReport.format(CounterReport.snapshot(parsed), None,
          cfg.counterTopNForKeyedMetrics))
      }
      if (cfg.handlers.contains("METRICS")) tracer.span("sinks.metrics") {
        val metricRows: DataFrame =
          if (cfg.arrivalOrderMetrics)
            MetricsArrivalOrder.metricRows(parsed, cfg.timeWindowSizeMinutes, cfg.metricsWindowSize).toDF()
          else Aggregates.metricRows(parsed, cfg.timeWindowSizeMinutes)
        val domainDim = tracer.span("enrich.domain_dim")(Enrich.withDomainId(parsed, cfg.domainName))
          .select("conv_id", "domain_id").distinct()
        Sinks.writeMetrics(metricRows, domainDim, s"$out/metrics", cfg.replaceExistingMetrics)
      }
      if (cfg.handlers.contains("WRITE_TO_FILE")) tracer.span("sinks.relog")(Sinks.writeJsonRelog(parsed, s"$out/relog"))
      tracer.span("sinks.rawlogs")(Sinks.writeRawLogs(parsed, s"$out/rawlogs", cfg.saveLogsToDbMaskIps,
        cfg.saveLogsToDbOnlyRelevant, cfg.hostId))
      val rows = tracer.span("pipeline.count")(parsed.count())
      tracer.span("pipeline.os_metrics")(graft.metrics.OsMetrics.liveSnapshot())
      Pipeline.Result(manifest, report, rows)
    }
    () => {
      bytesOut += Seq("routed", "metrics", "relog", "rawlogs").map { s =>
        s"sinks.$s.bytes_out" -> Engine.dataFiles(outDir.resolve(s)).map(Files.size).sum.toDouble
      }.toMap
      Engine.checkPipeline(res, outDir, run.expected)
    }
  }

  private def layerMetrics(run: Run, t: Tracer, cores: Int, untracedS: Double): Map[String, Double] = {
    def med(spans: Seq[Span])(f: Span => Double): Double = median(spans.map(f))
    def wall(n: String) = med(named(t, n))(_.seconds)
    val job = named(t, "ladder.aggregate")
    val jobTasks = (f: TaskStats => Double) => med(job)(s => f(t.tasksWithin(s)))
    val pipeline = named(t, "pipeline")
    val pipeTasks = (f: TaskStats => Double) => med(pipeline)(s => f(t.tasksWithin(s)))
    // stage spans of the measured (warm) Pipeline.run only
    def inPipeline(s: Span): Boolean =
      s.parent >= 0 && (t.spans(s.parent).name == "pipeline" || inPipeline(t.spans(s.parent)))
    def stage(n: String) = med(named(t, n).filter(inPipeline))(_.seconds)

    Map(
      "sources.scan_s" -> wall("ladder.scan"),
      // the scan operator's filesSize: the task input metric counts only
      // footer reads here, not the column pages the scan reads
      "sources.scan_bytes" -> med(named(t, "ladder.scan"))(s => op(s, _.startsWith("Scan"), "filesSize").sum.toDouble),
      "sources.scan_tasks" -> med(named(t, "ladder.scan"))(_.tasks.tasks.toDouble),
      "parse_stage.self_s" -> (wall("ladder.parse") - wall("ladder.scan")),
      "route.self_s" -> (wall("ladder.route") - wall("ladder.parse")),
      "aggregate.self_s" -> (wall("ladder.aggregate") - wall("ladder.route")),
      "aggregate.peak_mem_bytes" -> med(job)(s => op(s, _ == "HashAggregate", "peakMemory").sum.toDouble),
      "aggregate.groups_out" -> med(job)(s => op(s, _ == "HashAggregate", "numOutputRows").headOption.getOrElse(0L).toDouble),
      "sinks.fanout_s" -> stage("sinks.fanout"),
      "sinks.metrics_s" -> stage("sinks.metrics"),
      "sinks.relog_s" -> stage("sinks.relog"),
      "sinks.rawlogs_s" -> stage("sinks.rawlogs"),
      "counter_report.snapshot_s" -> stage("counter_report.snapshot"),
      "pipeline.count_s" -> stage("pipeline.count"),
      "pipeline.turns_per_s" -> run.expected.turns / wall("pipeline"),
      "enrich.domain_dim_s" -> stage("enrich.domain_dim"),
      // the salted fan-out's exchange, with the hot-conversation skew
      "pipeline.scan_amplification" -> pipeTasks(_.inputRecords / run.expected.turns.toDouble),
      "exchange.shuffle_write_bytes" -> pipeTasks(_.shuffleWriteBytes.toDouble),
      "exchange.shuffle_read_bytes" -> pipeTasks(_.shuffleReadBytes.toDouble),
      "exchange.task_skew" -> pipeTasks(_.taskSkew),
      "exec.cpu_s" -> jobTasks(_.cpuNs / 1e9),
      "exec.run_s" -> jobTasks(_.runMs / 1e3),
      "exec.gc_s" -> jobTasks(_.gcMs / 1e3),
      "exec.spill_bytes" -> jobTasks(_.spillBytes.toDouble),
      "exec.failed_tasks" -> t.spans.map(_.tasks.failedTasks).sum.toDouble,
      "exec.busy_ratio" -> med(job)(s => t.tasksWithin(s).runMs / 1e3 / (s.seconds * cores)),
      "trace.overhead_frac" -> (wall("ladder.aggregate") / untracedS - 1.0))
  }

  private def named(t: Tracer, n: String): Seq[Span] = t.spans.filter(_.name == n).toSeq

  /** values of SQL metric `metric` on operators whose name passes `pred` */
  private def op(s: Span, pred: String => Boolean, metric: String): Seq[Long] =
    s.plans.flatMap(_.collect { case (name, m) if pred(name) && m.contains(metric) => m(metric) }).toSeq

  private def scanRows(s: Span): Double = op(s, _.startsWith("Scan"), "numOutputRows").sum.toDouble

  /** LineParser.parseAuto over a fixed sample of the workload's text: lines
    * per second on one thread, accepted share, and the throughput ratio of
    * `cores` threads to one, the host's ceiling for scaling_eff.
    */
  private def parseBench(run: Run, cores: Int, seconds: Double): Map[String, Double] = {
    val gen = new Gen(run.w, run.seed)
    val n = math.min(100000L, run.w.turns).toInt
    val step = run.w.turns / n
    // bytes, decoded per call, as the engine decodes each row from parquet
    val sample = Array.tabulate(n)(k => gen.turn(k * step).turn.text.getBytes(UTF_8))
    val accepted = sample.count(b => LineParser.parseAuto(new String(b, UTF_8)).isDefined)
    def rate(threads: Int, secs: Double): Double = {
      val counts = new java.util.concurrent.atomic.AtomicLong()
      val end = System.nanoTime() + (secs * 1e9).toLong
      val ts = (0 until threads).map { k =>
        new Thread(() => {
          var i = k * (n / threads)
          var c = 0L
          while (System.nanoTime() < end) {
            var j = 0
            while (j < 256) {
              LineParser.parseAuto(new String(sample(i), UTF_8))
              i += 1; if (i == n) i = 0
              j += 1
            }
            c += 256
          }
          counts.addAndGet(c)
        })
      }
      val t0 = System.nanoTime()
      ts.foreach(_.start()); ts.foreach(_.join())
      counts.get / ((System.nanoTime() - t0) / 1e9)
    }
    val each = seconds / 7
    rate(cores, each) // warm-up
    val one = median((1 to 3).map(_ => rate(1, each)))
    val many = median((1 to 3).map(_ => rate(cores, each)))
    Map("parse.lines_per_s" -> one, "parse.accept_ratio" -> accepted.toDouble / n,
      "parse.thread_scaling" -> many / one)
  }

  private def gcSeconds(): Double = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum / 1e3
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0 else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
}
