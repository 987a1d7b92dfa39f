package graft
import org.apache.spark.sql.SparkSession

/** Benchmark main (driver contract): run every catalog query on
  * SPARK_GRAFT_SF_DIR, print ONE JSON line with per-query seconds.
  *
  * Each query is forced end-to-end with a `noop` datasource write —
  * `count()` would let Catalyst prune the projection work out of
  * row-level queries and under-measure them. */
object Bench {

  /** Ambient-disk probe: time a ~256 MB buffered write + fsync into
    * the Spark local dir and return MB/s. Every bench line carries it
    * (start and end of the run) so a degraded-environment window is
    * visible IN the artifact: round 7's official bench read one query
    * 62× slow purely from a throttled disk, and min-of-three can't
    * discount a degradation that outlasts the whole bench — the probe
    * is what lets a reader adjudicate a number without re-running. */
  private def ioProbeMbps(spark: SparkSession): Double = {
    // spark.local.dir is a comma-separated LIST (multi-disk configs —
    // the very setups the probe exists to adjudicate); probe the first
    // entry that exists or can be created, else fall back to tmpdir
    val tmpdir = System.getProperty("java.io.tmpdir", "/tmp")
    val dir = spark.sparkContext.getConf
      .get("spark.local.dir", tmpdir)
      .split(',').iterator.map(_.trim).filter(_.nonEmpty)
      .map(new java.io.File(_))
      .find(d => d.isDirectory || d.mkdirs())
      .getOrElse(new java.io.File(tmpdir))
    val f = java.io.File.createTempFile("graft_io_probe_", ".bin", dir)
    try {
      // non-zero pattern: all-zero blocks invite filesystem/device
      // shortcuts that would inflate the figure
      val block = Array.tabulate(4 * 1024 * 1024)(i => (i & 0xFF).toByte)
      val blocks = 64 // × 4 MB = 256 MB
      val t0 = System.nanoTime()
      val out = new java.io.FileOutputStream(f)
      try {
        var j = 0
        while (j < blocks) { out.write(block); j += 1 }
        out.getFD.sync()
      } finally out.close()
      val sec = (System.nanoTime() - t0) / 1e9
      blocks * block.length / (1024.0 * 1024.0) / sec
    } finally { f.delete(); () }
  }

  /** Pipeline-grain bench: the per-query catalog never exercises the
    * COMPOSED curation path (persist/unpersist staging, LSH, cluster
    * collapse, SemDeDup cell prune, survivor anti-join, five
    * materializing counts in one lineage, then the shard publish).
    * Times `CorpusCuration.runAndPublish` end-to-end — curate →
    * select → publish as ONE number — best of two runs (same JIT
    * rationale as the catalog; republishing over the same dir is what
    * the atomic stage-then-promote path is for), and prints its own
    * JSON line (`"metric":"pipeline_total"`), distinct from the
    * driver's `"metric":"total"` contract. `publish_sec` is the shard
    * write + manifest alone; `publish_rows` the manifest row total. */
  private def runPipeline(spark: SparkSession, sfDir: String): Unit = {
    import org.apache.spark.sql.functions.{col, sum}
    val ioStart = ioProbeMbps(spark)
    val docs = Tables(spark, sfDir).documents
    // semantic stage exactly as q66 value-oracles it: fixed
    // data-defined centroids (vec_id < 4 — model parameters, collected
    // once), 0.35 = semantic redundancy on this corpus
    val emb = Tables(spark, sfDir).embeddings
    val centRows = emb.filter(col("vec_id") < 4)
      .select(col("vec_id"), col("embedding")).orderBy("vec_id").collect()
    val cids = centRows.map(_.getLong(0))
    val cvecs = centRows.map(
      _.getSeq[Any](1).map(_.asInstanceOf[Number].doubleValue).toArray)
    val sem = Some(graft.apps.CorpusCuration.SemanticStage(
      emb, (cids, cvecs), threshold = 0.35))
    val pubDir = java.nio.file.Files
      .createTempDirectory("graft_bench_pub_").toString + "/pub"
    var bestSec = Double.MaxValue
    var best: graft.apps.CorpusCuration.Published = null
    var publishRows = 0L
    for (_ <- 0 until 2) {
      val t0 = System.nanoTime()
      // bench = the q54/q68 eval-set fixture, so the composed path runs
      // every stage incl. bloom decontamination
      val out = graft.apps.CorpusCuration.runAndPublish(spark,
        docs.filter(col("doc_id") >= 10), pubDir, nShards = 16,
        benchDocs = Some(docs.filter(col("doc_id") < 10)),
        semantic = sem)
      val dt = (System.nanoTime() - t0) / 1e9
      // runAndPublish already counted and cross-checked the manifest;
      // re-reading it here would race the next run's re-publish (the
      // frame's file index dies with its generation)
      if (dt < bestSec) { bestSec = dt; best = out; publishRows = out.publishedRows }
    }
    val report = best.report
    val stages = s"""{"input":${report.input},"after_quality":${report.afterQuality},""" +
      s""""after_exact":${report.afterExact},"after_near_dup":${report.afterNearDup},""" +
      s""""after_semantic":${report.afterSemantic},"after_decontam":${report.afterDecontam}}"""
    val ioEnd = ioProbeMbps(spark)
    println(s"""{"metric":"pipeline_total","value":$bestSec,"unit":"sec",""" +
      s""""stages":$stages,"publish_sec":${best.publishSec},""" +
      s""""publish_rows":$publishRows,"io_mbps":$ioStart,"io_mbps_end":$ioEnd,"sf":"$sfDir"}""")
  }

  /** Format seconds at ms precision, locale-pinned: the compact line
    * must stay under the driver's stdout tail window (~1.5-2 kB —
    * round 9's full-precision doubles overflowed it and the driver
    * recorded `parsed: null`), and one number per query at 3 decimals
    * is all the resolution a 0.2-6 s catalog needs. */
  private def f3(v: Double): String =
    String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))

  /** Quiet-window gate: probe the disk, and while it reads below
    * `floorMbps` sleep and re-probe (up to `maxAttempts`). Returns the
    * final probe and the attempt count — both PUBLISHED per pass, so
    * best-of-three never silently mixes a degraded window with quiet
    * ones (round 9: io collapsed to 9-22 MB/s vs 177-193 in round 8
    * and 46/63 queries read ≥2× slower — environment, not code; the
    * per-pass stamps are what let a reader adjudicate that without
    * re-running). The gate gives up after maxAttempts rather than
    * blocking the round: a degraded pass still runs, loudly stamped. */
  private def gateQuietWindow(spark: SparkSession, label: String,
                              floorMbps: Double,
                              maxAttempts: Int): (Double, Int) = {
    var attempts = 1
    var mbps = ioProbeMbps(spark)
    while (mbps < floorMbps && attempts < maxAttempts) {
      System.err.println(f"[bench] io probe $mbps%.1f MB/s < floor " +
        f"$floorMbps%.1f at $label (attempt $attempts/$maxAttempts) — " +
        "waiting 20 s for a quiet window")
      Thread.sleep(20000)
      attempts += 1
      mbps = ioProbeMbps(spark)
    }
    if (mbps < floorMbps)
      System.err.println(f"[bench] $label still degraded after " +
        f"$maxAttempts probes ($mbps%.1f MB/s) — running anyway, stamped")
    (mbps, attempts)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val ioFloor = sys.env.getOrElse("SPARK_GRAFT_IO_FLOOR", "150").toDouble
    val spark = GraftSession.builder(cpus)
      .config("spark.sql.shuffle.partitions", cpus)
      .getOrCreate()
    GraftSession.tune(spark)
    spark.sparkContext.setLogLevel("WARN")
    if (args.headOption.contains("pipeline")) {
      runPipeline(spark, sfDir)
      spark.stop()
      return
    }
    // environment gate BEFORE any Spark work so the figure is the
    // disk's, not contention with the bench itself
    val (ioStart, ioStartAttempts) =
      gateQuietWindow(spark, "run start", ioFloor, maxAttempts = 8)
    // warmup: session/codegen/scan init shouldn't land on the first query
    spark.read.parquet(s"$sfDir/lineitem.parquet")
      .groupBy("l_returnflag").count().write.format("noop").mode("overwrite").save()
    // q57's bucketed-table write, timed on its own (best of two — the
    // first pays table-create paths): the write amortizes over repeated
    // joins, so it must not blend into the join's round-over-round
    // number. After this the session's q57 builds reuse the tables and
    // the catalog passes below measure the JOIN alone.
    val q57Write = (0 until 2).map { _ =>
      val t0 = System.nanoTime()
      Queries.q57WriteBucketed(spark, sfDir)
      (System.nanoTime() - t0) / 1e9
    }.min
    // q76's shard publish, same treatment (round-10 verdict): the
    // write + manifest + lease cost is its own metric; catalog passes
    // below reuse the published layout and measure the PRUNED READ.
    val q76Write = (0 until 2).map { _ =>
      val t0 = System.nanoTime()
      Queries.q76Publish(spark, sfDir)
      (System.nanoTime() - t0) / 1e9
    }.min
    // q103's vector-index build (k-means + cell-clustered publish),
    // same treatment: the index amortizes over every search, so the
    // catalog q103 number is the cell-routed SEARCH alone.
    val q103Write = (0 until 2).map { _ =>
      val t0 = System.nanoTime()
      Queries.q103Publish(spark, sfDir)
      (System.nanoTime() - t0) / 1e9
    }.min
    // q122's epoch export (rank + shard publish), same treatment:
    // the artifact amortizes over a whole training run, so the
    // catalog q122 number is the batch-range PRUNED READ alone.
    val q122Write = (0 until 2).map { _ =>
      val t0 = System.nanoTime()
      Queries.q122Publish(spark, sfDir)
      (System.nanoTime() - t0) / 1e9
    }.min
    // q123's tail→export capstone publish (full training tail +
    // shard artifact), same treatment: the catalog q123 number is
    // the multi-shard batch-range PRUNED READ alone.
    val q123Write = (0 until 2).map { _ =>
      val t0 = System.nanoTime()
      Queries.q123Publish(spark, sfDir)
      (System.nanoTime() - t0) / 1e9
    }.min
    // The write-door catalog numbers blend fixture-build with the
    // measured door (round-13 verdict task 2): price them APART here —
    // fixture = the corpus-sized publishes the door needs to exist
    // (amortized in production), door = the incremental operation
    // that IS the at-scale story (SCALING.md per-door notes). The
    // catalog numbers stay blended (driver contract unchanged); the
    // sidecars carry the split. Best of two with a FRESH fixture per
    // sample, same JIT rationale as the other write metrics.
    def timed[T](f: => T): (Double, T) = {
      val t0 = System.nanoTime()
      val r = f
      ((System.nanoTime() - t0) / 1e9, r)
    }
    def sink(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    val doorSplits: Seq[(String, () => (Double, Double))] = Seq(
      "q92_takedown" -> (() => {
        val (fx, t) = timed(Queries.q92Fixture(spark, sfDir))
        (fx, timed(sink(Queries.q92Door(spark, t)))._1)
      }),
      "q93_row_cdc" -> (() => {
        val (fx, ts) = timed(Queries.q93Fixture(spark, sfDir))
        (fx, timed(sink(Queries.q93Door(spark, ts._1, ts._2)))._1)
      }),
      "q94_merge_rows" -> (() => {
        val (fx, t) = timed(Queries.q94Fixture(spark, sfDir))
        (fx, timed(sink(Queries.q94Door(spark, sfDir, t)))._1)
      }),
      "q95_curation_refresh" -> (() => {
        val (fx, c) = timed(Queries.q95Fixture(spark, sfDir))
        (fx, timed(sink(Queries.q95Door(spark, c._1, c._2, c._3)))._1)
      }),
      "q105_vector_append" -> (() => {
        val (fx, t) = timed(Queries.q105Fixture(spark, sfDir))
        (fx, timed(sink(Queries.q105Door(spark, sfDir, t)))._1)
      }),
      "q106_manifest_quantiles" -> (() => {
        val (fx, t) = timed(Queries.q106Fixture(spark, sfDir))
        (fx, timed(sink(Queries.q106Door(spark, t)))._1)
      }),
      "q107_bpe_fit" -> (() => {
        val (fx, m) = timed(Queries.q107Fixture(spark, sfDir))
        (fx, timed(sink(Queries.q107Door(spark, sfDir, m)))._1)
      }),
      "q109_manifest_rebuild" -> (() => {
        val (fx, t) = timed(Queries.q109Fixture(spark, sfDir))
        (fx, timed(sink(Queries.q109Door(spark, t)))._1)
      }),
      "q110_stats_evolve" -> (() => {
        val (fx, t) = timed(Queries.q110Fixture(spark, sfDir))
        (fx, timed(sink(Queries.q110Door(spark, t)))._1)
      }))
    // one door's failure must not kill the whole bench (the catalog
    // passes have the same per-query discipline) — a failed door is
    // LOUD on stderr and absent from the sidecar, never a fake number
    val splits: Seq[(String, Double, Double)] = doorSplits.flatMap {
      case (name, run) =>
        val samples = (0 until 2).flatMap { _ =>
          try Some(run())
          catch { case e: Throwable =>
            System.err.println(s"[bench] $name split failed: ${e.getMessage}")
            None
          }
        }
        if (samples.isEmpty) None
        else Some((name, samples.map(_._1).min, samples.map(_._2).min))
    }
    val splitsJson = splits.map { case (n, fx, door) =>
      "\"" + n + "\":{\"fixture_sec\":" + f3(fx) +
        ",\"door_sec\":" + f3(door) + "}"
    }.mkString("{", ",", "}")
    // Best of three runs per query: the first run of a plan pays
    // janino + JIT compilation (can 3× a query at this scale), and
    // ambient machine load adds random multi-second spikes to single
    // runs — three samples make the min a stable steady-state figure.
    //
    // The three samples come from three full PASSES over the catalog,
    // each pass starting at a different offset (rotation by n/3), so
    // the samples of any one query are spread across the wall-clock of
    // the whole bench: an ambient-load window that would previously
    // tank three consecutive runs of one contiguous query block now
    // touches at most one sample of each affected query, and the min
    // discards it. Each pass opens with its own quiet-window gate and
    // carries its probe in the sidecar.
    val entries = SparkEntry.queries.toSeq.sortBy(_._1).toVector
    val n = entries.size
    val best = scala.collection.mutable.Map.empty[String, Double]
    val passTimes = Array.fill(3)(
      scala.collection.mutable.Map.empty[String, Double])
    val passIo = Array.fill(3)(0.0)
    val passIoAttempts = Array.fill(3)(0)
    for (pass <- 0 until 3) {
      val (mbps, att) =
        gateQuietWindow(spark, s"pass $pass", ioFloor, maxAttempts = 6)
      passIo(pass) = mbps; passIoAttempts(pass) = att
      val off = if (n == 0) 0 else pass * n / 3
      val order = entries.drop(off) ++ entries.take(off)
      order.foreach { case (name, fn) =>
        val t0 = System.nanoTime()
        try fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        catch { case e: Throwable =>
          System.err.println(s"[bench] $name failed: ${e.getMessage}")
        }
        val dt = (System.nanoTime() - t0) / 1e9
        passTimes(pass)(name) = dt
        if (dt < best.getOrElse(name, Double.MaxValue)) best(name) = dt
        // OUTSIDE the timed window: release any RDD blocks a query
        // left persisted (operator persists unpersist asynchronously
        // through the GC-driven ContextCleaner, which a GC-free bench
        // never triggers — at 100× the lingering blocks, q24's ~2 GB
        // GraphX graphs the largest, pinned the storage region until
        // a later execution peak OOM'd an 8 GiB heap at q30; the
        // round-14 diagnosis, `Dev heap` gives the per-query numbers).
        // Between queries no cross-query RDD cache is legitimate, so
        // a blanket unpersist is safe and keeps the heap envelope
        // flat no matter how many passes run.
        spark.sparkContext.getPersistentRDDs.values
          .foreach(_.unpersist(blocking = false))
      }
    }
    val ioEnd = ioProbeMbps(spark)
    val results = entries.map { case (name, _) => name -> best(name) }
    val qs = results.map { case (k, v) => "\"" + k + "\":" + f3(v) }
      .mkString("{", ",", "}")
    val passes = passTimes.map(p =>
      entries.map { case (name, _) => "\"" + name + "\":" + f3(p(name)) }
        .mkString("{", ",", "}")).mkString("[", ",", "]")
    val total = if (results.nonEmpty) results.map(_._2).sum else 0.0
    // Contract (round-10 verdict task 2): ten straight rounds of
    // "parsed": null proved the stdout tail is not a machine-readable
    // channel — the full min-dict now lands in its OWN sidecar file
    // (bench_compact.json) so adjudication never depends on log
    // parsing, and the final stdout line carries only total + write
    // splits + io stamps (comfortably inside the ~2 kB tail window no
    // matter how many queries the catalog grows).
    val passesLine =
      s"""{"metric":"passes","passes":$passes,""" +
      s""""pass_io_mbps":[${passIo.map(v => f3(v)).mkString(",")}],""" +
      s""""pass_io_attempts":[${passIoAttempts.mkString(",")}],""" +
      s""""q57_write_sec":${f3(q57Write)},""" +
      s""""q76_write_sec":${f3(q76Write)},""" +
      s""""q103_write_sec":${f3(q103Write)},""" +
      s""""q122_write_sec":${f3(q122Write)},""" +
      s""""q123_write_sec":${f3(q123Write)},""" +
      s""""write_splits":$splitsJson,"sf":"$sfDir"}"""
    val compactLine =
      s"""{"metric":"total","unit":"sec","queries":$qs,""" +
      s""""q57_write_sec":${f3(q57Write)},"q76_write_sec":${f3(q76Write)},""" +
      s""""q103_write_sec":${f3(q103Write)},"q122_write_sec":${f3(q122Write)},""" +
      s""""q123_write_sec":${f3(q123Write)},""" +
      s""""write_splits":$splitsJson,""" +
      s""""value":${f3(total)},""" +
      s""""io_mbps":${f3(ioStart)},"io_attempts":$ioStartAttempts,""" +
      s""""io_mbps_end":${f3(ioEnd)},"sf":"$sfDir"}"""
    def sidecar(name: String, line: String): Unit =
      try java.nio.file.Files.write(
        java.nio.file.Paths.get(name), (line + "\n").getBytes("UTF-8"))
      catch { case e: Exception =>
        System.err.println(s"[bench] sidecar $name write failed: ${e.getMessage}")
      }
    sidecar("BENCH_passes.json", passesLine)
    sidecar("bench_compact.json", compactLine)
    println(passesLine)
    println(compactLine)
    println(s"""{"metric":"total","unit":"sec","n_queries":${entries.size},""" +
      s""""q57_write_sec":${f3(q57Write)},"q76_write_sec":${f3(q76Write)},""" +
      s""""q103_write_sec":${f3(q103Write)},"q122_write_sec":${f3(q122Write)},""" +
      s""""q123_write_sec":${f3(q123Write)},""" +
      s""""value":${f3(total)},""" +
      s""""io_mbps":${f3(ioStart)},"io_attempts":$ioStartAttempts,""" +
      s""""io_mbps_end":${f3(ioEnd)},""" +
      s""""queries_in":"bench_compact.json","sf":"$sfDir"}""")
    spark.stop()
  }
}
