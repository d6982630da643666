package unifybench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** The benchmark's JVM side. Invoked by `run.py`:
  *
  * {{{
  * unifybench.Main <workload> <seed> <seconds> <trace 0|1> <work dir> <spawn epoch ms>
  * }}}
  *
  * Prints one line `RESULT {...}` with the metrics, the exactness
  * counts and any failure notes; `run.py` prints the benchmark's final
  * line from it. */
object Main {
  /** Steady open-loop rate (lifecycles/s, ~250 records/s). Each
    * trigger costs ~0.7 s on 4 cores almost independently of the rate,
    * so a quarter of the drain throughput (~650/s) would overrun the 1 s
    * trigger; this rate keeps the query below it. */
  val SteadyRatePerS = 80.0
  val SteadyBufferMs = 5000L
  /** Seconds of the steady schedule before the measured window: the
    * running query's own warm-up. Its first triggers in a process take
    * up to 1.3 s until the JIT has compiled the per-trigger path. */
  val SteadyWarmS = 6
  /** Backlog size (lifecycles, ~27k records) and the buffer the drain
    * query runs: short, so that record work dominates the drain. */
  val DrainLifecycles = 8000
  val DrainBufferMs = 1000L
  /** Size of the unmeasured warm-up drain a steady_mix run starts with
    * (a backlog_drain run warms up with a full-size drain). */
  val WarmLifecycles = 400
  val RocksDb = "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  private val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  private val notes = mutable.ArrayBuffer.empty[String]
  private var attempted = 0L
  private var failed = 0L

  def jstr(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b.append("\\\""); case '\\' => b.append("\\\\")
      case '\n' => b.append("\\n"); case '\r' => b.append("\\r"); case '\t' => b.append("\\t")
      case c if c < ' ' => b.append(f"\\u${c.toInt}%04x")
      case c => b.append(c)
    }
    b.append('"').toString
  }
  def errText(e: Throwable): String =
    s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(300)}"

  private val t0Ns = System.nanoTime()
  def log(msg: String): Unit =
    System.err.println(f"[unifybench +${(System.nanoTime() - t0Ns) / 1e9}%.1fs] $msg")

  private def put(name: String, v: Double, unit: String): Unit = metrics(name) = (v, unit)
  private def check(what: String, attempts: Long, failures: Long): Unit = {
    attempted += attempts; failed += failures
    if (failures > 0) notes += s"$what: $failures of $attempts failed"
  }

  def session(cores: Int, work: File): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("unifybench")
      .config("spark.sql.shuffle.partitions", Gen.Partitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.streaming.stateStore.providerClass", RocksDb)
      .config("spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled", "true")
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def timedS[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Generator plus model for one workload; repeated `reps` times (the
    * output is deterministic), reporting the median duration. */
  private def prepare(reps: Int)(body: => (Vector[Rec], Vector[Expected], Outcomes))
      : ((Vector[Rec], Vector[Expected], Outcomes), Double) = {
    val runs = (1 to reps).map(_ => timedS(body))
    (runs.head._1, Stats.median(runs.map(_._2)))
  }

  def steadyInputs(seed: Long, seconds: Int): (Vector[Rec], Vector[Expected], Outcomes) = {
    val recs = Gen.generate(seed, (SteadyRatePerS * seconds).toInt, SteadyRatePerS)
    val (exp, out) = Model.run(recs.flatMap(r => r.ev.map(e => (r.sendMs, e))), SteadyBufferMs)
    (recs, exp, out)
  }

  def drainInputs(seed: Long): (Vector[Rec], Vector[Expected], Outcomes) = {
    val recs = Gen.generate(seed, DrainLifecycles, SteadyRatePerS)
    val (exp, out) = Model.run(recs.flatMap(r => r.ev.map(e => (0L, e))), DrainBufferMs)
    (recs, exp, out)
  }

  private def checkStream(what: String, recs: Vector[Rec], r: StreamResult): Unit = {
    check(what, r.expected, r.failed)
    if (r.failed > 0) notes += s"$what: missing ${r.missing}, duplicated ${r.duplicated}, wrong ${r.wrong}"
    val bad = recs.count(_.ev.isEmpty)
    check(s"$what graft_parse", 2, (if (r.droppedObserved != bad) 1 else 0) +
      (if (r.recordsObserved != recs.size) 1 else 0))
    if (r.droppedObserved != bad || r.recordsObserved != recs.size) notes +=
      s"$what: graft_parse dropped ${r.droppedObserved}/${r.recordsObserved}, generator ${bad}/${recs.size}"
  }

  /** The steady schedule through one query; lags and busy time are
    * taken from the window after the first `SteadyWarmS` seconds. */
  private def steady(spark: SparkSession, work: File, name: String,
      in: (Vector[Rec], Vector[Expected], Outcomes), tracer: Tracer): StreamResult =
    Stream.run(spark, work, name, SteadyBufferMs, "auto", in._1, Vector.empty, in._2,
      tracer, timeoutS = 60, measureFromMs = SteadyWarmS * 1000L)

  private def drain(spark: SparkSession, work: File, name: String, impl: String,
      in: (Vector[Rec], Vector[Expected], Outcomes), tracer: Tracer): StreamResult = {
    val r = Stream.run(spark, work, name, DrainBufferMs, impl, Vector.empty, in._1, in._2,
      tracer, timeoutS = 150)
    checkStream(name, in._1, r)
    r
  }

  /** A drain of `lifecycles` on its own checkpoint, so that the
    * measured queries run in a warm JVM (first-use class loading and
    * JIT compilation are paid once per process, not per lifecycle).
    * Checked like any other run; its duration is part of set-up. */
  private def warmUp(spark: SparkSession, work: File, seed: Long, lifecycles: Int): Double = {
    val t0 = System.nanoTime()
    val recs = Gen.generate(seed + 7919, lifecycles, SteadyRatePerS)
    val (exp, out) = Model.run(recs.flatMap(r => r.ev.map(e => (0L, e))), DrainBufferMs)
    drain(spark, work, "warmup", "auto", (recs, exp, out), new Tracer(false))
    val s = (System.nanoTime() - t0) / 1e9
    log(f"warm-up drain done in $s%.2fs")
    s
  }

  def main(args: Array[String]): Unit = {
    val Array(workload, seedS, secondsS, traceS, workS, spawnS) = args.take(6)
    val seed = seedS.toLong
    val seconds = secondsS.toInt
    val trace = traceS == "1"
    val work = new File(workS)
    work.mkdirs()
    val cores = Runtime.getRuntime.availableProcessors()
    var spark = session(cores, work)
    val bootS = (System.currentTimeMillis() - spawnS.toLong) / 1000.0
    log(f"session ready, boot $bootS%.2fs")
    val prepS = mutable.ArrayBuffer.empty[Double]
    try {
      if (trace) profile(spark, work, seed, seconds, s => spark = s)
      else workload match {
        case "steady_mix" =>
          prepS += warmUp(spark, work, seed, WarmLifecycles)
          val (in, p) = prepare(3)(steadyInputs(seed, SteadyWarmS + seconds))
          prepS += p
          log(f"prepared ${in._1.size} records in $p%.2fs")
          val r = steady(spark, work, "steady", in, new Tracer(false))
          checkStream("steady_mix", in._1, r)
          put("emit_lag_p50_ms", Stats.median(r.lagsMs), "ms")
          put("emit_lag_mean_ms", Stats.mean(r.lagsMs), "ms")
          put("work_s", r.busyS, "s")
          log("steady lag percentiles ms: " + Seq(10, 30, 50, 70, 90, 95, 97, 98, 99, 100)
            .map(q => f"p$q ${Stats.pct(r.lagsMs, q)}%.0f").mkString(" "))
          notes += f"steady_mix: ${r.lagsMs.size} lag samples, emit_lag_p99_ms ${Stats.pct(r.lagsMs, 99)}%.1f " +
            s"(not gated), ${r.inputEvents} records"
        case "backlog_drain" =>
          // a full-size warm-up: the first drain of this size in a
          // process runs ~20 % slower than the ones after it
          prepS += warmUp(spark, work, seed, DrainLifecycles)
          val (in, p) = prepare(3)(drainInputs(seed))
          prepS += p
          log(f"prepared ${in._1.size} records in $p%.2fs")
          // repeated drains, each on fresh topics and a fresh
          // checkpoint: one per 15 s of `seconds` (a drain takes ~4.5 s
          // on 4 cores, plus writing the backlog and a 1.2 s wait for
          // late duplicates), at least 2. The count is fixed, not timed:
          // drains keep getting faster within a process, so a count that
          // depended on speed would move the median.
          val runs = (0 until math.max(2, seconds / 15)).map(i =>
            drain(spark, work, s"drain-$i", "auto", in, new Tracer(false)))
          prepS += Stats.median(runs.map(_.writeS))
          put("emit_lag_p50_ms", Stats.median(runs.map(r => Stats.median(r.lagsMs))), "ms")
          put("emit_lag_mean_ms", Stats.median(runs.map(r => Stats.mean(r.lagsMs))), "ms")
          val workS = Stats.median(runs.map(_.workS))
          put("work_s", workS, "s")
          notes += f"backlog_drain: ${runs.size} drains, median drain_events_per_s ${in._1.size / workS}%.1f " +
            f"over ${in._1.size} records (drain s: ${runs.map(r => f"${r.workS}%.2f").mkString(" ")})"
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      }
      put("setup_s", bootS + prepS.sum, "s")
    } catch {
      case e: Throwable =>
        notes += s"error: ${errText(e)}"
        failed += 1; attempted += 1
    } finally {
      log("stopping")
      spark.stop()
    }
    log("done")
    val m = metrics.map { case (k, (v, u)) => s"${jstr(k)}:{\"value\":${num(v)},\"unit\":${jstr(u)}}" }
    println(s"""RESULT {"attempted":$attempted,"failed":$failed,"metrics":${m.mkString("{", ",", "}")},"notes":${notes.map(jstr).mkString("[", ",", "]")}}""")
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString

  /** The traced run: every layer, whatever the workload, in one pass
    * of the streaming queries and the isolated layer probes. */
  private def profile(spark0: SparkSession, work: File, seed: Long, seconds: Int,
      swap: SparkSession => Unit): Unit = {
    var spark = spark0
    val tracer = new Tracer(true)
    warmUp(spark, work, seed, WarmLifecycles)
    tracer.attach(spark)

    // steady_mix, traced and as long as an untraced run: source,
    // micro-batch, sink, exchange
    val steadyIn = steadyInputs(seed, SteadyWarmS + seconds)
    val shuffle0 = tracer.shuffleWriteBytes.get
    val st = tracer.span("steady_mix")(steady(spark, work, "steady", steadyIn, tracer))
    Thread.sleep(300) // let the listener bus deliver the last task events
    val shuffle = tracer.shuffleWriteBytes.get - shuffle0
    checkStream("steady_mix traced", steadyIn._1, st)
    val prog = st.progress
    def dur(k: String) = prog.map(p => Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0))
    put("traced.emit_lag_p50_ms", Stats.median(st.lagsMs), "ms")
    put("traced.emit_lag_mean_ms", Stats.mean(st.lagsMs), "ms")
    put("traced.emit_lag_p99_ms", Stats.pct(st.lagsMs, 99), "ms")
    put("traced.work_s", st.busyS, "s")
    put("source.latest_offset_ms_p50", Stats.median(dur("latestOffset")), "ms")
    put("source.latest_offset_ms_p99", Stats.pct(dur("latestOffset"), 99), "ms")
    put("source.latest_offsets_call_ms",
      tracer.span("source.latestOffsets")(Layers.latestOffsets(new File(work, "steady-topics").getPath, 5)), "ms")
    put("source.backlog_events_max", st.backlogMax.toDouble, "count")
    put("source.generator_late_ms_p99", Stats.pct(st.generatorLateMs, 99), "ms")
    put("microbatch.trigger_ms_p50", Stats.median(dur("triggerExecution")), "ms")
    put("microbatch.trigger_ms_p99", Stats.pct(dur("triggerExecution"), 99), "ms")
    put("microbatch.query_planning_ms", Stats.median(dur("queryPlanning")), "ms")
    put("microbatch.add_batch_ms", Stats.median(dur("addBatch")), "ms")
    put("microbatch.wal_commit_ms", Stats.median(dur("walCommit")), "ms")
    put("microbatch.commit_offsets_ms", Stats.median(dur("commitOffsets")), "ms")
    put("microbatch.batches", prog.size.toDouble, "count")
    put("exchange.shuffle_write_bytes", shuffle.toDouble, "bytes")
    put("sink.write_ms_p50", Stats.median(st.sinkMs), "ms")
    put("sink.write_ms_p99", Stats.pct(st.sinkMs, 99), "ms")

    // backlog_drain: untraced, traced (state store), untraced again
    // (drains get faster within a process, so the traced drain is
    // compared with the mean of the two around it), and FMGWS. An
    // unmeasured drain goes first: the first full-size drain of a
    // process is slower than the trend of the later ones.
    val dr = drainInputs(seed)
    tracer.detach(spark)
    val dw = drain(spark, work, "drain-warm", "auto", dr, new Tracer(false))
    val du1 = drain(spark, work, "drain-untraced-1", "auto", dr, new Tracer(false))
    tracer.attach(spark)
    val dt = tracer.span("backlog_drain")(drain(spark, work, "drain-traced", "auto", dr, tracer))
    tracer.detach(spark)
    val du2 = drain(spark, work, "drain-untraced-2", "auto", dr, new Tracer(false))
    val df = drain(spark, work, "drain-fmgws", "fmgws", dr, new Tracer(false))
    val uEps = (du1.inputEvents / du1.workS + du2.inputEvents / du2.workS) / 2
    val tEps = dt.inputEvents / dt.workS
    put("traced.drain_events_per_s", tEps, "1/s")
    put("trace.overhead_drain_pct", (uEps - tEps) / uEps * 100, "%")
    put("unify.fmgws_drain_events_per_s", df.inputEvents / df.workS, "1/s")
    put("sink.duplicate_projections",
      Seq(st, dw, du1, dt, du2, df).map(_.duplicated).sum.toDouble, "count")
    val ops = dt.progress.flatMap(_.stateOperators.toSeq)
    def opSum(f: org.apache.spark.sql.streaming.StateOperatorProgress => Long) = ops.map(f).sum.toDouble
    def custom(k: String) = ops.map(o => Option(o.customMetrics.get(k)).map(_.longValue).getOrElse(0L)).sum.toDouble
    put("state.rows_total_max", ops.map(_.numRowsTotal).foldLeft(0L)(math.max).toDouble, "count")
    put("state.update_ms", opSum(_.allUpdatesTimeMs), "ms")
    put("state.commit_ms", opSum(_.commitTimeMs), "ms")
    put("state.memory_bytes_max", ops.map(_.memoryUsedBytes).foldLeft(0L)(math.max).toDouble, "bytes")
    put("state.timers_registered", custom("numRegisteredTimers"), "count")
    put("state.timers_fired", custom("numExpiredTimers"), "count")

    // isolated layer probes
    val pp = tracer.span("parse.probe")(Layers.parse(spark, dr._1, 3))
    put("parse.events_per_s", pp.eventsPerS, "1/s")
    put("parse.json_parses_per_record", pp.jsonParsesPerRecord, "count")
    put("parse.drop_ratio", pp.dropped.toDouble / math.max(1L, pp.records), "ratio")
    check("parse probe graft_parse", 1,
      if (pp.dropped == dr._1.count(_.ev.isEmpty) && pp.records == dr._1.size) 0 else 1)
    val up = tracer.span("unify.probe")(Layers.unify(steadyIn._1, steadyIn._2, SteadyBufferMs, 1.0))
    check("unify logic vs model", steadyIn._2.size, up.mismatches)
    put("unify.logic_events_per_s", up.eventsPerS, "1/s")
    put("unify.payload_per_s", up.payloadPerS, "1/s")
    put("unify.projected", steadyIn._3.projected.toDouble, "count")
    put("unify.incomplete_dropped", steadyIn._3.incompleteDropped.toDouble, "count")
    put("unify.duplicates_ignored", steadyIn._3.duplicatesIgnored.toDouble, "count")
    put("unify.stale_flushes", steadyIn._3.staleFlushes.toDouble, "count")

    // the same drain on one core (the JIT is already warm; the new
    // session's first query pays its own start-up inside the drain)
    spark.stop()
    spark = session(1, work)
    swap(spark)
    val d1 = drain(spark, work, "drain-local1", "auto", dr, new Tracer(false))
    put("scaling.local1_drain_events_per_s", d1.inputEvents / d1.workS, "1/s")
    java.nio.file.Files.write(new File(work, "trace.json").toPath, tracer.json.getBytes("UTF-8"))
  }
}
