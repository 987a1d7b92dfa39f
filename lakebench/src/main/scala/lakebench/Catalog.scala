package lakebench

import java.nio.file.{Files, Paths}
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.SparkSession
import graft.{GraftSession, SparkEntry, Tables}
import Harness.phase

/** Catalog workload: a subset of `SparkEntry.queries` over a generated
  * sf0.1-shaped fixture, each query forced by a `noop` write.
  *
  * One untimed pass first writes every query's result as parquet (the
  * correctness dump run.py compares against the DuckDB oracle); it is
  * also the JVM's cold pass. The set-ups follow. Then queries run in a
  * seeded rotation, each pass a fresh shuffle of the subset, until
  * `seconds` have passed and every query has run MinRuns times. A traced
  * run adds one traced pass with each query's jobs grouped under its name.
  *
  * Usage: Catalog <fixtureDir> <dumpDir> <outFile> <seed> <seconds> <trace 0|1> <cores>
  */
object Catalog {
  /** Executor-bound kernels: queries that grow at least 3x from sf0.1 to
    * the 10x fixture (text hashing, boilerplate lines, a self-join). */
  val Kernels: Seq[String] = Seq("q12_dedup_simhash", "q82_boilerplate", "q04_selfjoin")
  /** A storage door: many small jobs, driver-bound. */
  val Doors: Seq[String] = Seq("q94_merge_rows")
  /** Plans that prune reads by file and row-group statistics. */
  val PrunedReads: Seq[String] = Seq("q76_zone_pruning", "q86_auto_skipping")
  val Relational: Seq[String] = Seq("q01_agg_sum")
  val Groups: Seq[(String, Seq[String])] =
    Seq("kernels" -> Kernels, "doors" -> Doors, "pruned_reads" -> PrunedReads, "relational" -> Relational)
  val Subset: Seq[String] = Groups.flatMap(_._2)
  /** Timed runs of each query at least, so its median drops one slow run. */
  val MinRuns = 3

  def main(args: Array[String]): Unit = {
    val Array(fixture, dumpDir, outFile, seedArg, secondsArg, traceArg, coresArg) = args
    val seconds = secondsArg.toInt
    val spark = phase("session")(Harness.session(coresArg.toInt))
    val queries = SparkEntry.queries
    val group = Groups.flatMap { case (g, qs) => qs.map(_ -> g) }.toMap

    def run(q: String, traced: Boolean): Map[String, Any] = {
      val start = System.currentTimeMillis()
      val n0 = System.nanoTime()
      if (traced) spark.sparkContext.setJobGroup(q, q)
      try queries(q)(spark, fixture).write.format("noop").mode("overwrite").save()
      finally if (traced) spark.sparkContext.clearJobGroup()
      Map("query" -> q, "group" -> group(q), "start_ms" -> start, "traced" -> traced,
        "wall_ms" -> (System.nanoTime() - n0) / 1e6)
    }

    // correctness dump; also the JVM's cold pass
    val dumpFailures = phase("dump")(Subset.flatMap { q =>
      try {
        phase(s"dump $q")(queries(q)(spark, fixture).write.mode("overwrite").parquet(s"$dumpDir/$q"))
        None
      }
      catch { case e: Throwable => Some(Map("query" -> q, "cause" -> Harness.rootCause(e))) }
    })
    Files.writeString(Paths.get(dumpDir, "oracle_sql.json"),
      Json(SparkEntry.oracleSql.filter { case (q, _) => Subset.contains(q) }))

    val rng = new scala.util.Random(seedArg.toLong)
    val setups = phase("setup")((1 to Harness.MinSetups).map(_ => setup(spark, fixture)))
    val rotation = Iterator.continually(rng.shuffle(Subset)).flatten
    val runs = ArrayBuffer.empty[Map[String, Any]]
    val start = System.nanoTime()
    phase("load") {
      while (runs.size < MinRuns * Subset.size || (System.nanoTime() - start) / 1e9 < seconds)
        runs += run(rotation.next(), traced = false)
    }
    var trace: Option[Map[String, Any]] = None
    if (traceArg == "1") {
      val t = new Tracer(spark)
      t.attach()
      runs ++= phase("traced")(rng.shuffle(Subset).map(run(_, traced = true)))
      t.detach()
      trace = Some(t.dump())
    }
    val out = Map(
      "workload" -> "catalog_sf0.1",
      "setups_s" -> setups,
      "queries" -> Subset,
      "dump_failures" -> dumpFailures,
      "runs" -> runs.toSeq,
      "trace" -> trace,
      "cores" -> coresArg.toInt,
      "peak_rss_mb" -> Harness.peakRssMb(),
      "phases" -> Harness.phases.toSeq.map { case (k, v) => Seq(k, v) },
      "host" -> Harness.hostStamp(spark, coresArg.toInt))
    spark.stop()
    Files.writeString(Paths.get(outFile), Json(out))
  }

  /** A fresh session over the fixture, tuned as every catalog query tunes
    * it, with each table's schema resolved and its row count read.
    * Returns seconds. */
  def setup(spark: SparkSession, fixture: String): Double = {
    val t0 = System.nanoTime()
    val s = spark.newSession()
    GraftSession.tune(s)
    val t = Tables(s, fixture)
    Seq(t.region, t.nation, t.customer, t.supplier, t.part, t.orders, t.lineitem, t.events,
      t.documents, t.embeddings).foreach(_.count())
    (System.nanoTime() - t0) / 1e9
  }
}
