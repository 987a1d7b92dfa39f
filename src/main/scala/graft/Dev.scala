package graft

import java.net.URI
import java.nio.file.Files
import java.util.EnumSet

import scala.collection.mutable

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{CreateFlag, FileContext, FileSystem, LocalFileSystem, Options, Path}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart,
  SparkListenerStageCompleted}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Enrichment, Similarity}
import graft.storage.{ForkFreeLocalFileSystem, ForkFreeLocalFs}
import graft.streaming.{IncrementalDsir, IncrementalExcision}

/** The developer workbench: one main, one mode per question.
  *
  *   sbt "runMain graft.Dev <mode> [args…]"
  *
  * | mode | prints |
  * |------|--------|
  * | `query <name>… [reps=3]` | per query, a JSON line per rep and the best |
  * | `ab <k=a\|b,…> <query> [reps=6]` | the query under conf sides A and B alternately, in one session: a JSON line per rep, the best per side |
  * | `jobs <name>…` | one warm run's jobs (wall, gap before, call site) and its stages' task metrics |
  * | `explain [name…]` | formatted physical plans (default: every query) |
  * | `heap [histEvery=25]` | the catalog in name order, post-GC heap after each query, a class histogram every `histEvery` |
  * | `localfs [rounds=6] [ops=20]` | per-call ms of Hadoop's stock `file:` classes and the fork-free ones |
  * | `topk [pairs=40000000] [queries=128]` | the ANN top-k aggregate against its input scan and the `max_by` codegen floor |
  * | `skew` | plain, salted and census-sampled salted join under one hot key |
  * | `dsir-store [nBatches=40] [nBuckets=4096]` | IncrementalDsir store rows per batch, then one batch over the collapsed store |
  * | `ingest-excision [nBatches=20] [k=8] [minDf=2] [collapseEvery=0] [split\|repeat]` | IncrementalExcision store bytes per token, batch by batch |
  *
  * `SPARK_GRAFT_SF_DIR` names the tables (modes that read them require
  * it), `SPARK_GRAFT_CPUS` the local core count (default: the host's).
  * Queries are timed as [[Bench]] times them: each result is forced
  * with a `noop` write. */
object Dev {

  private val Modes: Seq[String] = Seq("query", "ab", "jobs", "explain", "heap", "localfs",
    "topk", "skew", "dsir-store", "ingest-excision")

  def main(args: Array[String]): Unit = {
    val cores = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors())
    val spark = GraftSession.local(cores)
    try run(spark, args.toSeq) finally spark.stop()
  }

  /** Runs mode `args.head` with the rest as its arguments. `sfDir` is
    * read only by modes that read tables. */
  def run(spark: SparkSession, args: Seq[String], sfDir: => String = dataDir): Unit = {
    val rest = args.drop(1)
    args.headOption.getOrElse("") match {
      case "query" => query(spark, rest, sfDir)
      case "ab" => ab(spark, rest, sfDir)
      case "jobs" => jobs(spark, rest, sfDir)
      case "explain" =>
        val names = if (rest.nonEmpty) rest else Queries.all.keys.toSeq.sorted
        names.map(n => n -> catalog(n)).foreach { case (n, fn) =>
          println(s"#### $n")
          fn(spark, sfDir).explain("formatted")
        }
      case "heap" => heap(spark, intArg(rest, 0, 25), sfDir)
      case "localfs" => localFs(intArg(rest, 0, 6), intArg(rest, 1, 20))
      case "topk" => topK(spark, rest.lift(0).fold(40000000L)(_.toLong), intArg(rest, 1, 128))
      case "skew" => skew(spark)
      case "dsir-store" => dsirStore(spark, intArg(rest, 0, 40), intArg(rest, 1, 4096), sfDir)
      case "ingest-excision" => ingestExcision(spark, rest, sfDir)
      case other => throw new IllegalArgumentException(
        s"unknown mode '$other'; known: ${Modes.mkString(", ")}")
    }
  }

  private def dataDir: String = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
    throw new IllegalArgumentException("set SPARK_GRAFT_SF_DIR to the tables' dir"))

  private def intArg(rest: Seq[String], i: Int, default: Int): Int =
    rest.lift(i).fold(default)(_.toInt)

  private def f3(x: Double): String = f"$x%.3f"

  private def catalog(name: String): (SparkSession, String) => DataFrame =
    Queries.all.getOrElse(name, throw new IllegalArgumentException(
      s"unknown query '$name'; known: ${Queries.all.keys.toSeq.sorted.mkString(", ")}"))

  /** Seconds to force `df` with a `noop` write. RDDs the run left
    * persisted are released once the clock stops, so a query returning a
    * persisted frame (`clusterDuplicates`) is recomputed on the next rep
    * instead of being served from cache. */
  private def force(spark: SparkSession)(df: => DataFrame): Double = {
    val kept = spark.sparkContext.getPersistentRDDs.keySet
    val t0 = System.nanoTime()
    df.write.format("noop").mode("overwrite").save()
    val sec = (System.nanoTime() - t0) / 1e9
    spark.sparkContext.getPersistentRDDs.foreach { case (id, rdd) =>
      if (!kept(id)) rdd.unpersist(blocking = false)
    }
    sec
  }

  /** `reps` forced runs of `mk(rep)`, each printed as one JSON line of
    * `fields(rep)` and its seconds; returns the seconds. */
  private def timed(spark: SparkSession, reps: Int)(fields: Int => String)
                   (mk: Int => DataFrame): IndexedSeq[Double] =
    (0 until reps).map { r =>
      val sec = force(spark)(mk(r))
      println(s"""{${fields(r)},"sec":${f3(sec)}}""")
      sec
    }

  /** Runs `body`, then puts each of the runtime confs `keys` back. */
  private def restoring[T](spark: SparkSession, keys: Seq[String])(body: => T): T = {
    val saved = keys.map(k => k -> spark.conf.getOption(k))
    try body
    finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  private def query(spark: SparkSession, rest: Seq[String], sfDir: => String): Unit = {
    val (names, reps) = rest.lastOption.flatMap(_.toIntOption)
      .fold((rest, 3))(n => (rest.init, n))
    require(names.nonEmpty, "usage: query <name>… [reps]")
    names.map(n => n -> catalog(n)).foreach { case (name, fn) =>
      val secs = timed(spark, reps)(r => s""""query":"$name","rep":${r + 1}""")(
        _ => fn(spark, sfDir))
      println(s"""{"query":"$name","best_sec":${f3(secs.min)},"sf":"$sfDir"}""")
    }
  }

  /** Interleaved A/B of runtime confs in one session, so host drift hits
    * both sides alike. `spec` is `k=a|b[,k2=a2|b2…]`. */
  private def ab(spark: SparkSession, rest: Seq[String], sfDir: => String): Unit = {
    require(rest.length >= 2, "usage: ab <k=a|b,…> <query> [reps]")
    val Seq(spec, name) = rest.take(2)
    val reps = intArg(rest, 2, 6)
    require(reps >= 2, "ab needs at least one rep per side")
    val confs = spec.split(',').toSeq.map { s =>
      s.split("=", 2) match {
        case Array(k, v) if v.contains('|') =>
          val Array(a, b) = v.split("\\|", 2)
          (k, a, b)
        case _ => throw new IllegalArgumentException(s"ab: '$s' is not k=a|b")
      }
    }
    val fn = catalog(name)
    def side(r: Int) = if (r % 2 == 0) "A" else "B"
    val secs = restoring(spark, confs.map(_._1)) {
      timed(spark, reps)(r => s""""query":"$name","side":"${side(r)}","rep":$r""") { r =>
        confs.foreach { case (k, a, b) => spark.conf.set(k, if (r % 2 == 0) a else b) }
        fn(spark, sfDir)
      }
    }
    def best(s: Int) = f3(secs.indices.filter(_ % 2 == s).map(secs).min)
    println(s"""{"query":"$name","spec":"$spec","bestA":${best(0)},"bestB":${best(1)},""" +
      s""""sf":"$sfDir"}""")
  }

  /** Jobs and stages of the runs it listens to: per job its span and the
    * first graft frame on its stages' call sites (SQL executions do not
    * carry call-site properties); per stage its task-metric rollup. */
  private final class Timeline extends SparkListener {
    /** (job id, start ms, end ms, call site) */
    val jobs = mutable.ArrayBuffer.empty[(Int, Long, Long, String)]
    /** (stage id, tasks, run ms, cpu ms, shuffle read B, shuffle write B,
      * GC ms, result-serialization ms) */
    val stages = mutable.ArrayBuffer.empty[(Int, Int, Long, Long, Long, Long, Long, Long)]
    private val starts = mutable.Map.empty[Int, (Long, String)]

    override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
      val si = sc.stageInfo
      val m = si.taskMetrics
      if (m != null) stages.synchronized {
        stages += ((si.stageId, si.numTasks, m.executorRunTime, m.executorCpuTime / 1000000L,
          m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
          m.jvmGCTime, m.resultSerializationTime))
      }
    }

    override def onJobStart(js: SparkListenerJobStart): Unit = {
      val site = js.stageInfos.iterator.flatMap(_.details.split('\n'))
        .find(l => l.contains("graft.") && !l.contains("graft.Dev"))
        .map(_.trim.replaceAll("^at ", ""))
        .getOrElse(js.stageInfos.headOption.fold("?")(_.name))
      starts.synchronized { starts(js.jobId) = (js.time, site) }
    }

    override def onJobEnd(je: SparkListenerJobEnd): Unit =
      starts.synchronized(starts.remove(je.jobId)).foreach { case (s, site) =>
        jobs.synchronized { jobs += ((je.jobId, s, je.time, site)) }
      }
  }

  /** Per query, the timeline of one warm run: each job's wall and the gap
    * before it (driver-side planning, AQE, broadcast), then the wall not
    * spent in jobs — the per-query fixed cost a catalog pass pays per
    * query — and the stages that ran over 200 ms of task time. */
  private def jobs(spark: SparkSession, names: Seq[String], sfDir: => String): Unit =
    names.map(n => n -> catalog(n)).foreach { case (name, fn) =>
      force(spark)(fn(spark, sfDir))
      val t = new Timeline
      spark.sparkContext.addSparkListener(t)
      val wall =
        try force(spark)(fn(spark, sfDir))
        finally {
          Thread.sleep(500) // drain the listener bus
          spark.sparkContext.removeSparkListener(t)
        }
      val sorted = t.jobs.sortBy(_._2)
      var prevEnd = 0L
      var gapTotal = 0L
      sorted.foreach { case (id, s, e, site) =>
        val gap = if (prevEnd == 0) 0 else math.max(0L, s - prevEnd)
        gapTotal += gap
        prevEnd = e
        println(f"[probe-jobs] $name job $id%3d  ${e - s}%5d ms  (+$gap%4d ms gap)  $site")
      }
      val inJobs = sorted.map(j => j._3 - j._2).sum
      println(f"[probe-jobs] $name wall $wall%.3f s, in-jobs ${inJobs / 1e3}%.3f s, " +
        f"gaps ${gapTotal / 1e3}%.3f s, outside ${wall - inJobs / 1e3}%.3f s, jobs ${sorted.size}")
      t.stages.sortBy(_._1).foreach { case (id, n, run, cpu, sr, sw, gc, rs) =>
        if (run > 200)
          println(f"[probe-stage] $name stage $id%3d tasks $n%4d " +
            f"run ${run / 1e3}%8.2fs cpu ${cpu / 1e3}%8.2fs gc ${gc / 1e3}%6.2fs " +
            f"sRead ${sr / 1048576.0}%8.1fMB sWrite ${sw / 1048576.0}%8.1fMB rser ${rs}ms")
      }
    }

  /** Heap after a full GC, in MB. */
  private def heapUsedMb(): Long = {
    System.gc()
    Thread.sleep(200)
    val rt = Runtime.getRuntime
    (rt.totalMemory() - rt.freeMemory()) / (1024 * 1024)
  }

  /** The top `top` classes of this JVM's `jcmd GC.class_histogram`. */
  private def histogram(top: Int): String =
    try {
      val p = new ProcessBuilder("jcmd", ProcessHandle.current().pid().toString,
        "GC.class_histogram").redirectErrorStream(true).start()
      val out = new String(p.getInputStream.readAllBytes())
      p.waitFor()
      out.linesIterator.take(top + 3).mkString("\n")
    } catch { case e: Exception => s"(jcmd unavailable: $e)" }

  /** The catalog in name order, as a bench pass runs it, with the heap
    * occupancy each query leaves behind; the class histogram names what
    * is retained. Run with `SPARK_DRIVER_MEM` at the heap to study. */
  private def heap(spark: SparkSession, histEvery: Int, sfDir: => String): Unit = {
    println(s"[heap] start: ${heapUsedMb()} MB, maxHeap ${
      Runtime.getRuntime.maxMemory() / (1024 * 1024)} MB")
    Queries.all.toSeq.sortBy(_._1).zipWithIndex.foreach { case ((name, fn), i0) =>
      val i = i0 + 1
      val sec = force(spark)(fn(spark, sfDir))
      println(f"[heap] $i%3d $name%-28s ${heapUsedMb()}%5d MB after-GC  ($sec%.1f s)")
      if (i % histEvery == 0) println(s"[heap] histogram after $name:\n${histogram(15)}")
    }
    println(s"[heap] end histogram:\n${histogram(20)}")
  }

  /** Per-call cost of the `file:` filesystem, Hadoop's stock classes
    * against the fork-free ones ([[graft.storage.LocalFs]]). Each round
    * runs `perRound` fresh directories through both sides in turn, so
    * host drift hits both; round 0 is JIT warm-up and is dropped. */
  private def localFs(rounds: Int, perRound: Int): Unit = {
    type Op = (FileSystem, FileContext, Path) => Unit
    val root = Files.createTempDirectory("graft_profile_localfs_")
    def fs(f: LocalFileSystem): FileSystem = {
      f.initialize(URI.create("file:///"), new Configuration()); f
    }
    def fc(impl: Option[String]): FileContext = {
      val c = new Configuration()
      impl.foreach(c.set("fs.AbstractFileSystem.file.impl", _))
      FileContext.getLocalFSFileContext(c)
    }
    val sides = Seq(
      "stock" -> (fs(new LocalFileSystem), fc(None)),
      "fork-free" -> (fs(new ForkFreeLocalFileSystem),
        fc(Some(classOf[ForkFreeLocalFs].getName))))
    val create = EnumSet.of(CreateFlag.CREATE, CreateFlag.OVERWRITE)
    val ops: Seq[(String, Op)] = Seq(
      "fs.create+close" -> ((f, _, d) => f.create(new Path(d, "f")).close()),
      "fs.mkdirs (3 levels)" -> ((f, _, d) => f.mkdirs(new Path(d, "a/b/c"))),
      "fs.rename" -> ((f, _, d) => f.rename(new Path(d, "f"), new Path(d, "g"))),
      "fc.create+close" -> ((_, c, d) => c.create(new Path(d, "h"), create).close()),
      "fc.rename OVERWRITE" -> ((_, c, d) =>
        c.rename(new Path(d, "h"), new Path(d, "g"), Options.Rename.OVERWRITE)))
    val ms = mutable.Map.empty[(String, String), Vector[Double]].withDefaultValue(Vector.empty)
    for (r <- 0 until rounds; (side, (f, c)) <- sides; i <- 0 until perRound) {
      val d = Files.createDirectories(root.resolve(s"$side/$r/$i"))
      ops.foreach { case (name, op) =>
        val t0 = System.nanoTime()
        op(f, c, new Path(d.toUri))
        if (r > 0) ms((name, side)) :+= (System.nanoTime() - t0) / 1e6
      }
    }
    def pct(xs: Vector[Double], q: Double) = xs.sorted.apply(((xs.size - 1) * q).toInt)
    for ((name, _) <- ops; (side, _) <- sides) {
      val xs = ms((name, side))
      println(f"[localfs] $name%-22s $side%-9s p50 ${pct(xs, 0.5)}%8.3f ms" +
        f"  p90 ${pct(xs, 0.9)}%8.3f ms  n=${xs.size}")
    }
    org.apache.commons.io.FileUtils.deleteDirectory(root.toFile)
  }

  /** The ANN tail aggregate against the input scan and the `max_by`
    * codegen floor on a synthetic scored-pair frame, the aggregate looped
    * so an attached JFR recording samples it rather than setup (BASELINE.md
    * records what this measured). The engine scopes the raised sort
    * fallback threshold to ANN frames ([[GraftSession.annScope]]); this
    * times the raw aggregate, so it sets that conf for its run. */
  private def topK(spark: SparkSession, pairs: Long, queries: Int): Unit = {
    val k = 10
    def input: DataFrame = spark.range(pairs)
      .select(pmod(col("id"), lit(queries.toLong)).as("query_id"),
        col("id").as("corpus_id"),
        (pmod(col("id") * lit(2654435761L), lit(4294967296L)) /
          lit(4294967296.0)).as("score"))
    def time(label: String, reps: Int)(mk: => DataFrame): Double = {
      val best = (0 until reps).map(_ => force(spark)(mk)).min
      println(f"[profile] $label%-24s best $best%7.3f s  " +
        f"(${pairs / best / 1e6}%6.1f M pairs/s)")
      best
    }
    val fallback = "spark.sql.objectHashAggregate.sortBased.fallbackThreshold"
    restoring(spark, Seq(fallback)) {
      spark.conf.set(fallback, "8192")
      time("scan (input gen only)", 3)(input)
      val agg = time("topKByScore aggregate", 10) {
        input.groupBy(col("query_id"))
          .agg(Similarity.topKByScore(col("score"), col("corpus_id"), k).as("tk"))
      }
      time("max_by codegen floor", 3) {
        input.groupBy(col("query_id")).agg(max_by(col("corpus_id"), col("score")).as("best"))
      }
      println(f"[profile] pairs=$pairs queries=$queries k=$k agg_best=$agg%.3f")
    }
  }

  /** Salted against plain join under heavy key skew, with AQE's skew
    * split and broadcast joins off, so the numbers isolate the operator
    * on the shuffle path salting exists for. */
  private def skew(spark: SparkSession): Unit = {
    val aqeSkew = "spark.sql.adaptive.skewJoin.enabled"
    val broadcast = "spark.sql.autoBroadcastJoinThreshold"
    restoring(spark, Seq(aqeSkew, broadcast)) {
      spark.conf.set(aqeSkew, "false")
      spark.conf.set(broadcast, "-1")
      val fact = spark.range(4000000).select(
        when(rand(7) < 0.5, lit("hot")) // half the fact on one key
          .otherwise(concat(lit("k"), col("id") % 100000)).as("k"),
        col("id").as("v"))
      val dim = spark.range(100001).select(
        when(col("id") === 100000, lit("hot")).otherwise(concat(lit("k"), col("id"))).as("k"),
        (col("id") * 10).as("attr"))
      def time(tag: String)(df: => DataFrame): Unit = {
        val t0 = System.nanoTime()
        val cnt = df.count()
        println(f"[skew] $tag%-8s ${(System.nanoTime() - t0) / 1e9}%6.2f s  rows=$cnt")
      }
      fact.limit(1000).join(dim, Seq("k")).count() // warm both paths
      time("plain")(fact.join(dim, Seq("k")))
      time("salted")(Enrichment.saltedJoin(fact, dim, Seq("k"),
        saltFactor = 32, hotThreshold = 100000))
      time("sampled")(Enrichment.saltedJoin(fact, dim, Seq("k"),
        saltFactor = 32, hotThreshold = 100000, censusFraction = 0.01))
    }
  }

  /** IncrementalDsir's count store over `nBatches` micro-batches of the
    * documents table (split by `doc_id` mod): per-batch seconds and store
    * rows, then the store collapsed and one fresh batch run over it. */
  private def dsirStore(spark: SparkSession, nBatches: Int, nBuckets: Int,
                        sfDir: String): Unit = {
    val work = Files.createTempDirectory("graft_pds_").toString
    val docs = Tables(spark, sfDir).documents.select(col("doc_id"), col("lang"), col("text"))
    def batchOf(b: Int) = docs.filter(pmod(col("doc_id"), lit(nBatches.toLong)) === b.toLong)
    def step(b: Long, batch: DataFrame): Double = {
      val t0 = System.nanoTime()
      IncrementalDsir.processBatch(spark, batch, b, s"$work/store", s"$work/out",
        col("lang") === "en", "text", "doc_id", nBuckets)
      (System.nanoTime() - t0) / 1e9
    }
    var first = 0.0
    var last = 0.0
    for (b <- 0 until nBatches) {
      val sec = step(b.toLong, batchOf(b))
      if (b == 0) first = sec
      if (b == nBatches - 1) last = sec
      if (b % 10 == 9 || b == 0) {
        val rows = spark.read.parquet(s"$work/store").count()
        println(s"""{"batch":$b,"sec":${f3(sec)},"store_rows":$rows}""")
      }
    }
    val (before, after) = IncrementalDsir.collapseStore(spark, s"$work/store", nBatches.toLong)
    // a FRESH batch id: the collapsed sentinel covers ids < nBatches, so
    // re-running id nBatches−1 would add its counts to a model that
    // already holds them
    val freshSec = step(nBatches.toLong, batchOf(nBatches - 1))
    println(s"""{"collapse_rows_before":$before,"collapse_rows_after":$after,""" +
      s""""first_batch_sec":${f3(first)},"last_batch_sec":${f3(last)},""" +
      s""""fresh_batch_after_collapse_sec":${f3(freshSec)},""" +
      s""""n_batches":$nBatches,"n_buckets":$nBuckets,"sf":"$sfDir"}""")
  }

  /** IncrementalExcision's df store, batch by batch, with the `run()`
    * wiring's collapse cadence. Mode `split` cuts the documents table
    * into `nBatches` micro-batches by `doc_id` mod; `repeat` feeds the
    * whole corpus every batch under fresh ids, the re-crawl shape where
    * only collapse keeps the store vocabulary-sized. `sec` is the
    * `processBatch` wall; token counting and collapses are timed apart. */
  private def ingestExcision(spark: SparkSession, rest: Seq[String], sfDir: String): Unit = {
    val nBatches = intArg(rest, 0, 20)
    val k = intArg(rest, 1, 8)
    val minDf = rest.lift(2).fold(2L)(_.toLong)
    val collapseEvery = intArg(rest, 3, 0)
    val mode = rest.lift(4).getOrElse("split")
    require(mode == "split" || mode == "repeat", s"unknown mode $mode")
    val work = Files.createTempDirectory("graft_pix_").toString
    val (store, out) = (s"$work/store", s"$work/out")
    val docs = Tables(spark, sfDir).documents.select(col("doc_id"), col("text"))
    def dirBytes(dir: String): Long = {
      val p = new Path(dir)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(p)) fs.getContentSummary(p).getLength else 0L
    }
    var cumTokens = 0L
    for (b <- 0 until nBatches) {
      if (collapseEvery > 0 && b > 0 && b % collapseEvery == 0) {
        val t0 = System.nanoTime()
        val (before, after) = IncrementalExcision.collapseStore(spark, store, b.toLong)
        println(s"""{"collapse_at":$b,"rows_before":$before,"rows_after":$after,""" +
          s""""collapse_sec":${f3((System.nanoTime() - t0) / 1e9)}}""")
      }
      val batch =
        if (mode == "split") docs.filter(pmod(col("doc_id"), lit(nBatches.toLong)) === b.toLong)
        else docs.select((col("doc_id") + lit(b * 100000000L)).as("doc_id"), col("text"))
      val t0 = System.nanoTime()
      IncrementalExcision.processBatch(spark, batch, b.toLong, store, out, "text", "doc_id",
        k, minDf)
      val sec = (System.nanoTime() - t0) / 1e9
      // the door's tokenizer, outside the timer
      cumTokens += batch.select(
        sum(size(split(trim(regexp_replace(col("text"), "\\s+", " ")), " ")))).head.getLong(0)
      val bytes = dirBytes(store)
      println(s"""{"batch":$b,"sec":${f3(sec)},"store_bytes":$bytes,""" +
        s""""cum_tokens":$cumTokens,""" +
        f""""bytes_per_token":${bytes.toDouble / math.max(1L, cumTokens)}%.2f}""")
    }
    val storeRows = IncrementalExcision.readStore(spark, store).map(_.count()).getOrElse(0L)
    println(s"""{"store_rows":$storeRows,"sf":"$sfDir","batches":$nBatches,""" +
      s""""k":$k,"min_df":$minDf,"collapse_every":$collapseEvery}""")
  }
}
