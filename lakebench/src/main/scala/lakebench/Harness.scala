package lakebench

import java.nio.file.{Files, Paths}
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQuery
import graft.GraftSession
import graft.apps.{Layout, MaintenanceJob, UserPointsBatch}
import graft.storage.{ParquetDirFormat, TableFormat}

/** Benchmark harness: runs one workload's rounds in this JVM and writes
  * raw records (timestamps, per-file commit times, check results and,
  * in traced rounds, spans and scheduler records) as one JSON file. All
  * statistics are computed from those records by run.py.
  *
  * Usage: Harness <inputDir> <workDir> <outFile> <workload> <seconds> <trace 0|1> <cores>
  */
object Harness {
  /** The fewest waves a backlog round runs. */
  val MinWaves = 4
  /** Set-ups per run; setup_s is their median. */
  val MinSetups = 3
  /** Give up waiting for DWS to serve a wave, or for DM's first output,
    * after this long. */
  val CatchUpTimeoutMs = 60000L
  /** Query deaths after which a round gives up instead of restarting. */
  val MaxRestarts = 50

  /** Wall seconds of each harness phase, in order, for run.py's log. */
  val phases = ArrayBuffer.empty[(String, Double)]
  def phase[T](name: String)(body: => T): T = {
    val t = System.nanoTime()
    try body finally {
      phases += (name -> (System.nanoTime() - t) / 1e9)
      System.err.println(f"[harness] $name%s ${phases.last._2}%.1f s")
    }
  }

  def rootCause(e: Throwable): String = {
    val root = Iterator.iterate(e)(_.getCause).takeWhile(_ != null).toSeq.last
    s"${root.getClass.getName}: ${String.valueOf(root.getMessage).take(300)}"
  }

  def main(args: Array[String]): Unit = {
    val Array(inputs, workDir, outFile, workload, secondsArg, traceArg, coresArg) = args
    val seconds = secondsArg.toInt
    val trace = traceArg == "1"
    val man = Manifest.load(inputs)
    val cores = coresArg.toInt
    var spark = phase("session")(session(cores))
    val rounds = ArrayBuffer.empty[Map[String, Any]]
    val setups = ArrayBuffer.empty[Double]
    var n = 0
    def fresh() = { n += 1; s"$workDir/r$n" }

    val isTrickle = workload == "lakehouse_trickle"
    val (warmDrops, loadDrops) = man.drops.splitAt(man.warmupWaves * man.warmupWaveDrops)
    val waves = loadDrops.grouped(man.waveDrops).filter(_.size == man.waveDrops).toSeq

    /** One measured round: the trickle schedule, or backlog waves until
      * `seconds` have passed (at least MinWaves). A cold JVM first drains
      * untimed warm-up waves in the same round, so the measured waves run
      * on compiled code. */
    def measure(r: Round, warm: Boolean): Map[String, Any] = {
      setups += phase("setup")(r.setup())
      if (warm) phase("warmup")(warmDrops.grouped(man.warmupWaveDrops)
        .foreach(r.wave(_, schedule = false, measured = false)))
      if (isTrickle) phase("load")(r.wave(loadDrops, schedule = true))
      else phase("load") {
        val start = System.nanoTime()
        var k = 0
        while (k < waves.size && (k < MinWaves || (System.nanoTime() - start) / 1e9 < seconds)) {
          r.wave(waves(k), schedule = false)
          k += 1
        }
      }
      r.finish(measure = true, apps = true)
    }

    rounds += measure(new Round(spark, man, fresh(), cores, None), warm = true) + ("traced" -> false)
    if (trace) {
      // a traced twin of the measured round in the same JVM: the difference
      // between the two is the tracing overhead
      rounds += measure(new Round(spark, man, fresh(), cores, Some(new Tracer(spark))), warm = false) +
        ("traced" -> true)
      }
    // extra set-ups so setup_s is always a median of several
    while (setups.size < MinSetups) {
      val r = new Round(spark, man, fresh(), cores, None)
      phase("extra_setup") {
        setups += r.setup()
        r.discard()
      }
    }
    if (trace) {
      // single-thread baseline: one backlog wave at local[1]
      spark.stop()
      spark = session(1)
      val r = new Round(spark, man, fresh(), 1, None)
      r.setup()
      r.wave(waves.head, schedule = false)
      rounds += r.finish(measure = false, apps = false) + ("traced" -> false) + ("local1" -> true)
      }
    val out = Map(
      "workload" -> workload,
      "setups_s" -> setups.toSeq,
      "rounds" -> rounds.toSeq,
      "peak_rss_mb" -> peakRssMb(),
      "phases" -> phases.toSeq.map { case (k, v) => Seq(k, v) },
      "host" -> hostStamp(spark, cores))
    spark.stop()
    Files.writeString(Paths.get(outFile), Json(out))
  }

  def session(cores: Int): SparkSession = {
    val s = GraftSession.local(cores)
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def hostStamp(spark: SparkSession, cores: Int): Map[String, Any] = Map(
    "cores" -> Runtime.getRuntime.availableProcessors(),
    "spark_cores" -> cores,
    "max_heap_mb" -> Runtime.getRuntime.maxMemory() / (1024 * 1024),
    "jdk" -> System.getProperty("java.version"),
    "spark" -> spark.version)

  /** Peak resident set of this JVM (VmHWM), in MB. */
  def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(Double.NaN)
}

/** One pass of the pipeline in a fresh work dir: set-up, input release,
  * drain, then the batch apps (points, maintenance) and the checks.
  *
  * Stage queries run supervised, as a deployment runs them: a query that
  * dies is restarted from its checkpoint and resumes at its last
  * committed batch. Every death and its cause is recorded, and run.py
  * counts each as a failed operation; the checks then decide whether the
  * output is still correct. */
final class Round(spark: SparkSession, man: Manifest, work: String, cores: Int,
                  tracer: Option[Tracer]) {
  private val lake = new Lakehouse(spark, man)
  private val fmt: TableFormat = tracer.map(new TimedFormat(ParquetDirFormat, _)).getOrElse(ParquetDirFormat)
  private var specs: Seq[(String, String, () => StreamingQuery)] = Nil
  private val running = ArrayBuffer.empty[StreamingQuery] // guarded by this
  private val committed = ArrayBuffer.empty[Long] // guarded by this
  private val restarts = ArrayBuffer.empty[(String, String, Long)] // guarded by this
  @volatile private var fatal: Option[Throwable] = None
  @volatile private var supervising = false
  private var supervisor: Thread = _
  private val released = ArrayBuffer.empty[Drop]
  private val record = scala.collection.mutable.LinkedHashMap.empty[String, Any]

  private def layer[T](name: String)(body: => T): T = tracer match {
    case Some(t) =>
      spark.sparkContext.setJobGroup(name, name)
      try t.span("round", name)(body) finally spark.sparkContext.clearJobGroup()
    case None => body
  }

  private def timedWrite(kind: String, w: org.apache.spark.sql.DataFrame => Unit) = tracer match {
    case Some(t) => (b: org.apache.spark.sql.DataFrame) => t.span("sinks", s"dual_$kind")(w(b))
    case None => w
  }

  private def started(i: Int): StreamingQuery = {
    val q = specs(i)._3()
    tracer.foreach(_.register(specs(i)._1, q))
    q
  }

  /** Restart every query that died; gives up after MaxRestarts. */
  private def restartDead(): Unit = synchronized {
    running.indices.foreach { i =>
      running(i).exception.foreach { e =>
        if (restarts.size >= Harness.MaxRestarts) throw e
        restarts += ((specs(i)._1, Harness.rootCause(e), System.currentTimeMillis()))
        // rows of batches the dead query committed
        committed(i) += running(i).recentProgress.map(_.numInputRows).sum
        running(i) = started(i)
      }
    }
  }

  private def query(i: Int): StreamingQuery = synchronized(running(i))

  /** Input rows of every batch query `name` has committed this round. */
  private def rowsDone(name: String): Long = synchronized {
    val i = specs.indexWhere(_._2 == name)
    committed(i) + running(i).recentProgress.map(_.numInputRows).sum
  }

  /** Fresh work dir, bootstrapped dims, every query started and past its
    * first trigger. Returns the set-up time in seconds. */
  def setup(): Double = {
    tracer.foreach(_.attach())
    val t0 = System.nanoTime()
    layer("setup") {
      Files.createDirectories(Paths.get(work))
      lake.bootstrapDims(work, fmt)
      specs = lake.stages(work, fmt, timedWrite)
      synchronized {
        running ++= specs.indices.map(started)
        committed ++= specs.map(_ => 0L)
      }
      while (running.indices.exists(i => query(i).lastProgress == null)) {
        restartDead()
        Thread.sleep(5)
      }
    }
    val dt = (System.nanoTime() - t0) / 1e9
    supervising = true
    supervisor = new Thread(() => {
      try while (supervising) { restartDead(); Thread.sleep(20) }
      catch { case e: Throwable => fatal = Some(e) }
    }, "lakebench-supervisor")
    supervisor.setDaemon(true)
    supervisor.start()
    dt
  }

  private val waves = ArrayBuffer.empty[Map[String, Any]]

  /** Release `drops` all at once (a backlog wave), or each at its due time
    * on an open-loop schedule that does not wait for the pipeline; return
    * once DWS has committed every event of them that reaches it. Records
    * the release time of each drop, how late the generator was, and when
    * the wave was served.
    *
    * A backlog wave applies its dim updates first and releases its facts
    * once DIM has upserted them, with no browse batch in flight meanwhile:
    * `DimUpsert` swaps a dim's generation under a DWS batch that is
    * reading it (README.md, "Known defect"). The open-loop schedule
    * releases both at each due time. */
  def wave(drops: Seq[Drop], schedule: Boolean, measured: Boolean = true): Unit = {
    if (!schedule) drainQueries("ods_log", "dwd_browse", "dws_browse")
    released ++= drops
    val late = ArrayBuffer.empty[Double]
    val at = ArrayBuffer.empty[Long]
    val t0 = System.currentTimeMillis() + (if (schedule) 50 else 0)
    // creation offset that maps to t0: the start of the first drop's period
    val created0 = drops.head.due_ms - man.periodMs
    if (!schedule) {
      val (dims, facts) = (lake.stageDims(work, drops), drops.flatMap(lake.stage(work, _)))
      lake.publish(dims)
      // a query's input-row count is no gauge here: DimUpsert reads each
      // batch more than once, so its progress counts rows several times
      drainQueries("ods_db", "dim")
      val due = System.currentTimeMillis()
      lake.publish(facts)
      val now = System.currentTimeMillis()
      at ++= drops.map(_ => now)
      late += (now - due).toDouble
    } else drops.foreach { d =>
      val staged = lake.stageDims(work, Seq(d)) ++ lake.stage(work, d)
      val due = t0 + d.due_ms - created0
      val wait = due - System.currentTimeMillis()
      if (wait > 0) Thread.sleep(wait)
      lake.publish(staged)
      val now = System.currentTimeMillis()
      at += now
      late += (now - due).toDouble
    }
    val releasedMs = System.currentTimeMillis()
    // served: every released event that reaches DWS has been committed there
    val browse = released.map(_.browse_dws).sum
    val login = released.map(_.login_dws).sum
    val deadline = releasedMs + Harness.CatchUpTimeoutMs
    while (rowsDone("dws_browse") < browse || rowsDone("dws_login") < login) {
      fatal.foreach(e => throw e)
      if (System.currentTimeMillis() > deadline)
        throw new IllegalStateException(s"DWS did not serve the wave within " +
          s"${Harness.CatchUpTimeoutMs} ms: browse ${rowsDone("dws_browse")}/$browse, " +
          s"login ${rowsDone("dws_login")}/$login")
      Thread.sleep(5)
    }
    waves += Map("measured" -> measured, "t0_ms" -> t0, "created0_ms" -> created0,
      "released_ms" -> releasedMs,
      "served_ms" -> System.currentTimeMillis(), "records" -> drops.map(_.records).sum,
      "drop_release_ms" -> at.toSeq, "drop_due_ms" -> drops.map(_.due_ms),
      "drop_max_event_ms" -> drops.map(_.max_event_ms),
      "gen_late_ms" -> late.toSeq)
  }

  /** Drain the named queries, in order. */
  private def drainQueries(names: String*): Unit = names.foreach(n => drain(specs.indexWhere(_._2 == n)))

  /** Block until query `i` has processed all input available to it. */
  private def drain(i: Int): Unit = {
    var done = false
    while (!done) {
      fatal.foreach(e => throw e)
      try { query(i).processAllAvailable(); done = true }
      catch { case _: org.apache.spark.sql.streaming.StreamingQueryException => restartDead() }
    }
  }

  /** Drain and stop the pipeline, then run what the round is for: with
    * `measure`, let DM emit its first windows, dump per-file commit times
    * and run the checks; with `apps`, run the batch apps (points,
    * maintenance) first. A round that only drained (the single-thread
    * baseline) still dumps commit times. */
  def finish(measure: Boolean, apps: Boolean): Map[String, Any] = {
    val checks = ArrayBuffer.empty[(String, Boolean, String)]
    try {
      // upstream first: once a stage has processed everything, its output
      // is complete for the stage that reads it
      Harness.phase("drain")(specs.indices.filter(specs(_)._1 != "dm").foreach(drain))
      val closed = if (measure) Some(Harness.phase("dm_wait")(stopDm(checks))) else None
      Harness.phase("stop")(stopAll())
      if (measure || !apps) {
        record("dws_files") = lake.creationByFile(Layout.dws(work, "BROWSE_INFO"))
        record("ods_files") = lake.creationByFile(Layout.ods(work, "BROWSELOG"))
        record("dm_windows") = lake.dmWindows(work)
        record("files_before") = dataFiles(work)._1
      }
      if (apps) Harness.phase("apps")(batchApps())
      closed.foreach(wm => Harness.phase("checks")(
        layer("verify")(checks ++= lake.checks(work, released.toSeq, wm))))
    } catch {
      case e: Throwable =>
        checks += (("round_completed", false, s"${e.getClass.getName}: " +
          s"${String.valueOf(e.getMessage).take(300)} / ${Harness.rootCause(e)}"))
        try stopAll() catch { case _: Throwable => () }
    }
    tracer.foreach(_.detach())
    record("waves") = waves.toSeq
    record("checks") = checks.toSeq.map { case (n, ok, d) => Map("name" -> n, "ok" -> ok, "detail" -> d) }
    record("queries") = specs.size
    record("restarts") = synchronized(restarts.toSeq).map { case (s, c, at) =>
      Map("stage" -> s, "cause" -> c, "at_ms" -> at) }
    record("cores") = cores
    tracer.foreach(t => record("trace") = t.dump())
    deleteTree(Paths.get(work))
    record.toMap
  }

  /** The batch apps over the drained lake: points, then maintenance. */
  private def batchApps(): Unit = {
    record("points_scan_files") = dataFiles(Layout.dws(work, "BROWSE_INFO"))._1
    val t0 = System.nanoTime()
    layer("points")(UserPointsBatch.run(spark, work, fmt))
    record("points_s") = (System.nanoTime() - t0) / 1e9
    val t = System.nanoTime()
    val compacted = layer("maintenance")(MaintenanceJob.run(spark, work, fmt = fmt))
    record("maintenance_s") = (System.nanoTime() - t) / 1e9
    record("maintenance_files_before") = compacted.map(_._2).sum
    record("maintenance_files_after") = compacted.map(_._3).sum
    record("maintenance_bytes_rewritten") =
      compacted.filter(c => c._2 != c._3).map(c => dataFiles(c._1)._2).sum
  }

  /** Wait until the DM stage has committed output, stop it, and return the
    * watermark of its last batch as DM rows write times (UTC
    * `yyyy-MM-dd HH:mm:ss`): every window ending at or before it has been
    * emitted, so the checks compare exactly those windows. */
  private def stopDm(checks: ArrayBuffer[(String, Boolean, String)]): String = {
    val i = specs.indexWhere(_._2 == "dm")
    val deadline = System.currentTimeMillis() + Harness.CatchUpTimeoutMs
    def emitted = lake.dmCommitted(work)
    while (!emitted && System.currentTimeMillis() < deadline) {
      fatal.foreach(e => throw e)
      Thread.sleep(200)
    }
    checks += (("dm_emitted", emitted, s"waited ${Harness.CatchUpTimeoutMs} ms at most"))
    synchronized(running(i).stop())
    // the watermark only advances; a trigger without data may report none
    val ps = query(i).recentProgress.toSeq
    val wm = ps.flatMap(x => Option(x.eventTime.get("watermark"))).maxOption
      .getOrElse("1970-01-01T00:00:00.000Z")
    val p = ps.lastOption
    record("dm_state_rows") = p.toSeq.flatMap(_.stateOperators).map(_.numRowsTotal).sum
    record("dm_state_bytes") = p.toSeq.flatMap(_.stateOperators).map(_.memoryUsedBytes).sum
    wm.take(19).replace('T', ' ')
  }

  def stopAll(): Unit = {
    supervising = false
    if (supervisor != null) supervisor.join()
    synchronized { running.foreach(_.stop()); running.clear() }
  }

  /** Stop a set-up that is not measured and delete its work dir. */
  def discard(): Unit = { stopAll(); deleteTree(Paths.get(work)) }

  /** (count, bytes) of parquet data files under `dir`. */
  private def dataFiles(dir: String): (Long, Long) = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) (0L, 0L)
    else {
      val s = Files.walk(p)
      try {
        val fs = s.filter(f => Files.isRegularFile(f) && f.getFileName.toString.endsWith(".parquet"))
          .toArray.map(_.asInstanceOf[java.nio.file.Path])
        (fs.length.toLong, fs.map(Files.size).sum)
      } finally s.close()
    }
  }

  private def deleteTree(p: java.nio.file.Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.deleteIfExists(f))
      finally s.close()
    }
}
