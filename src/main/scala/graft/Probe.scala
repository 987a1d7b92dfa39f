package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.operators.Ranks

/** Ad-hoc A/B harness for plan-shape experiments: times labeled
  * thunks best-of-three with a JIT warmup, prints one line per
  * variant. Not part of the driver contract — a workbench for the
  * "shave a pass off the rank/cumsum machinery" iterations (and
  * whatever plan question comes next; edit locally, read numbers,
  * keep the winner in the real operator). */
object Probe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.builder(cpus)
      .config("spark.sql.shuffle.partitions", cpus)
      .getOrCreate()
    GraftSession.tune(spark)
    spark.sparkContext.setLogLevel("WARN")

    def time(label: String)(mk: => DataFrame): Unit = {
      var best = Double.MaxValue
      for (_ <- 0 until 3) {
        val t0 = System.nanoTime()
        mk.write.format("noop").mode("overwrite").save()
        best = math.min(best, (System.nanoTime() - t0) / 1e9)
      }
      println(f"[probe] $label%-42s $best%8.3f s")
    }

    // `runMain graft.Probe query <name>...` — time any catalog query
    // on SPARK_GRAFT_SF_DIR (single-query loop for fixture triage)
    if (args.headOption.contains("query")) {
      args.drop(1).foreach(n => time(n) { Queries.all(n)(spark, sfDir) })
      spark.stop()
      return
    }

    // `runMain graft.Probe jobs <name>...` — job-timeline decomposition
    // for any catalog query: per-job wall, inter-job gaps (driver-side
    // planning/AQE/broadcast latency), and the wall − in-jobs residual.
    // The residual + gaps are the per-query FIXED constant the sf0.1
    // bench pays 126 times; this mode says where it sits per query.
    if (args.headOption.contains("jobs")) {
      args.drop(1).foreach { name =>
        val fn = Queries.all(name)
        fn(spark, sfDir).write.format("noop").mode("overwrite").save() // warm
        val jobs = scala.collection.mutable.ArrayBuffer.empty[(Int, Long, Long, String)]
        // per-stage task-metric rollup: where a job's wall actually sits
        // (cpu vs shuffle bytes vs GC) — stage grain, printed after jobs
        val stages = scala.collection.mutable.ArrayBuffer
          .empty[(Int, Int, Long, Long, Long, Long, Long, Long)]
        val listener = new org.apache.spark.scheduler.SparkListener {
          private val starts = scala.collection.mutable.Map.empty[Int, (Long, String)]
          override def onStageCompleted(
              sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
            val si = sc.stageInfo
            val m = si.taskMetrics
            if (m != null) stages.synchronized {
              stages += ((si.stageId, si.numTasks, m.executorRunTime,
                m.executorCpuTime / 1000000L,
                m.shuffleReadMetrics.totalBytesRead,
                m.shuffleWriteMetrics.bytesWritten,
                m.jvmGCTime, m.resultSerializationTime))
              ()
            }
          }
          override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
            // attribute the job to the first graft frame in any of its
            // stages' stack-trace details (callSite properties are not
            // propagated for SQL executions)
            val site = js.stageInfos.iterator
              .flatMap(_.details.split('\n'))
              .find(l => l.contains("graft.") && !l.contains("Probe"))
              .map(_.trim.replaceAll("^at ", ""))
              .getOrElse(js.stageInfos.headOption.map(_.name)
                .getOrElse("?"))
            starts(js.jobId) = (js.time, site)
          }
          override def onJobEnd(je: org.apache.spark.scheduler.SparkListenerJobEnd): Unit =
            starts.remove(je.jobId).foreach { case (s, site) =>
              jobs.synchronized { jobs += ((je.jobId, s, je.time, site)); () }
            }
        }
        spark.sparkContext.addSparkListener(listener)
        val t0 = System.nanoTime()
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        val wall = (System.nanoTime() - t0) / 1e9
        Thread.sleep(500) // drain the listener bus
        spark.sparkContext.removeSparkListener(listener)
        val sorted = jobs.sortBy(_._2)
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
        stages.sortBy(_._1).foreach { case (id, n, run, cpu, sr, sw, gc, rs) =>
          if (run > 200)
            println(f"[probe-stage] $name stage $id%3d tasks $n%4d " +
              f"run ${run / 1e3}%8.2fs cpu ${cpu / 1e3}%8.2fs gc ${gc / 1e3}%6.2fs " +
              f"sRead ${sr / 1048576.0}%8.1fMB sWrite ${sw / 1048576.0}%8.1fMB rser ${rs}ms")
        }
      }
      spark.stop()
      return
    }

    val customer = Tables(spark, sfDir).customer
      .select(col("c_nationkey"), col("c_custkey"), col("c_acctbal"))

    // q38/q43 shape: ranks over customer by nation
    time("scan only") { customer }
    time("hash exchange only") { customer.repartition(32, col("c_nationkey")) }
    time("ranged exchange only") {
      customer.repartitionByRange(32,
        col("c_nationkey"), col("c_acctbal").desc, col("c_custkey"))
    }
    time("ranged exchange, 8 parts") {
      customer.repartitionByRange(8,
        col("c_nationkey"), col("c_acctbal").desc, col("c_custkey"))
    }
    time("ranged exchange + local sort") {
      customer.repartitionByRange(32,
        col("c_nationkey"), col("c_acctbal").desc, col("c_custkey"))
        .sortWithinPartitions(col("c_nationkey"), col("c_acctbal").desc,
          col("c_custkey"))
    }
    time("ranged + local window (no hist/join)") {
      val wLocal = Window.partitionBy(col("_pid"), col("c_nationkey"))
        .orderBy(col("c_acctbal"), col("c_custkey"))
      customer.repartitionByRange(32,
          col("c_nationkey"), col("c_acctbal"), col("c_custkey"))
        .withColumn("_pid", spark_partition_id())
        .withColumn("_g", row_number().over(wLocal))
    }
    time("q43 current (globalRowNumbers)") {
      Ranks.globalRowNumbers(customer, Seq("c_nationkey"),
        Seq(col("c_acctbal"), col("c_custkey")))
    }
    time("rank: ranged+sort+mid only") {
      customer.repartitionByRange(
          col("c_nationkey"), col("c_acctbal"), col("c_custkey"))
        .sortWithinPartitions(col("c_nationkey"), col("c_acctbal"), col("c_custkey"))
        .withColumn("_pid", spark_partition_id())
        .withColumn("_mid", monotonically_increasing_id())
    }
    time("rank: + hist agg (no windows, no join)") {
      val b = customer.repartitionByRange(
          col("c_nationkey"), col("c_acctbal"), col("c_custkey"))
        .sortWithinPartitions(col("c_nationkey"), col("c_acctbal"), col("c_custkey"))
        .withColumn("_pid", spark_partition_id())
        .withColumn("_mid", monotonically_increasing_id())
      b.groupBy(col("_pid"), col("c_nationkey"))
        .agg(count(lit(1)).as("_c"), min(col("_mid")).as("_m0"))
    }
    time("rank: data side + join vs tiny literal offs") {
      val b = customer.repartitionByRange(
          col("c_nationkey"), col("c_acctbal"), col("c_custkey"))
        .sortWithinPartitions(col("c_nationkey"), col("c_acctbal"), col("c_custkey"))
        .withColumn("_pid", spark_partition_id())
        .withColumn("_mid", monotonically_increasing_id())
      val offs = spark.range(32 * 25)
        .select((col("id") / 25).cast("int").as("_pid"),
          (col("id") % 25).cast("long").as("c_nationkey"),
          lit(0L).as("_m0"), lit(0L).as("_off"), lit(100L).as("_n"))
      b.as("_d").join(broadcast(offs.as("_o")),
          col("_d._pid") === col("_o._pid") &&
            col("_d.c_nationkey") <=> col("_o.c_nationkey"))
        .select(col("_d.c_custkey"), col("_o._n"),
          (col("_d._mid") - col("_o._m0") + lit(1L) + col("_o._off")).as("_g"))
    }
    time("q43 window form") {
      val w = Window.partitionBy(col("c_nationkey"))
        .orderBy(col("c_acctbal"), col("c_custkey"))
      customer.withColumn("_g", row_number().over(w).cast("long"))
        .withColumn("_n", count(lit(1)).over(
          Window.partitionBy(col("c_nationkey"))))
    }
    val docs = Tables(spark, sfDir).documents
    val base = docs.select(col("lang"), col("doc_id"),
      length(col("text")).as("chars"))
    time("q58 current (globalCumSum)") {
      Ranks.globalCumSum(base, Seq("lang"), Seq(col("doc_id")), "chars",
        cumCol = "cum")
    }
    time("q58 window form") {
      val w = Window.partitionBy(col("lang")).orderBy(col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      base.withColumn("cum", sum(col("chars")).over(w))
    }
    import graft.functions.TextStats
    val d65 = docs
      .withColumn("_mc", TextStats.counts(col("text")))
      .select(col("doc_id"), col("lang"), col("n_chars"),
        TextStats.wordCount(col("text"), col("_mc")).cast("long").as("toks"))
    time("q65 current (globalCumSum)") {
      Ranks.globalCumSum(d65, Seq("lang"),
        Seq(col("n_chars").desc, col("doc_id").asc), "toks",
        cumCol = "cum_toks")
    }
    time("q65 input projection alone") { d65 }
    for (q <- Seq("q38_rank_lag", "q40_percentile", "q43_ntile",
        "q58_seq_pack", "q65_token_budget"))
      SparkEntry.queries.get(q).foreach(fn => time(s"catalog $q") {
        fn(spark, sfDir)
      })

    // job timeline for one q38 run: where does the fixed constant sit —
    // job count, per-job wall, and the gaps between jobs (driver-side
    // planning/broadcast latency AQE inserts between stages)
    {
      val jobs = scala.collection.mutable.ArrayBuffer.empty[(Int, Long, Long)]
      val listener = new org.apache.spark.scheduler.SparkListener {
        private val starts = scala.collection.mutable.Map.empty[Int, Long]
        override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          starts(js.jobId) = js.time
        override def onJobEnd(je: org.apache.spark.scheduler.SparkListenerJobEnd): Unit =
          starts.remove(je.jobId).foreach(s => jobs.synchronized {
            jobs += ((je.jobId, s, je.time)); ()
          })
      }
      SparkEntry.queries.get("q38_rank_lag").foreach { fn =>
        fn(spark, sfDir).write.format("noop").mode("overwrite").save() // warm
        spark.sparkContext.addSparkListener(listener)
        val t0 = System.nanoTime()
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        val wall = (System.nanoTime() - t0) / 1e9
        Thread.sleep(500) // let the listener bus drain
        spark.sparkContext.removeSparkListener(listener)
        val sorted = jobs.sortBy(_._2)
        var prevEnd = 0L
        sorted.foreach { case (id, s, e) =>
          val gap = if (prevEnd == 0) 0 else s - prevEnd
          prevEnd = e
          println(f"[probe-jobs] job $id%3d  ${e - s}%5d ms  (+$gap%4d ms gap)")
        }
        val inJobs = sorted.map(j => j._3 - j._2).sum
        println(f"[probe-jobs] q38 wall ${wall}%.3f s, in-jobs ${inJobs / 1e3}%.3f s, " +
          f"outside-jobs ${wall - inJobs / 1e3}%.3f s, jobs ${sorted.size}")
      }
    }
    spark.stop()
  }
}
