package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.Similarity

/** Debt-#7 measurement harness (and its regression watch): times the
  * ANN tail aggregate against the input scan and the `max_by` codegen
  * floor on a synthetic scored-pair frame (args: [pairs] [queries];
  * default 40M pairs — 2× the 20M bar the round-7 verdict set — and
  * 128 query groups), looping the aggregate so an
  * attached JFR recording (`-XX:StartFlightRecording`) collects
  * execution samples dominated by the aggregate, not setup. Run
  * directly with `java -cp` (not sbt) so the profile contains only
  * this JVM. The round-8 measurements this harness produced (recorded
  * in BASELINE.md): the old `Aggregator`+`udaf` form spent 43% of
  * aggregate samples in encoder boxing and, past 128 groups/task, hit
  * ObjectHashAggregate's sort-based fallback; the native
  * [[graft.expressions.TopKByScoreAgg]] + the raised fallback
  * threshold run at the codegen floor (148 vs 156 M pairs/s, boxing
  * share 5%).
  */
object ProfileTopK {
  def main(args: Array[String]): Unit = {
    val pairs = args.headOption.map(_.toLong).getOrElse(40_000_000L)
    val queries = if (args.length > 1) args(1).toInt else 128
    val k = 10
    val spark = GraftSession.builder("32")
      .config("spark.sql.shuffle.partitions", 32)
      .getOrCreate()
    GraftSession.tune(spark)
    // the engine scopes this raise to ANN frames via GraftSession
    // .annScope; the harness times the raw aggregate on its own
    // session, so it applies the ANN-path conf directly
    spark.conf.set(
      "spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "8192")
    spark.sparkContext.setLogLevel("WARN")

    // all-codegen input: deterministic Knuth-mix score in [0,1)
    def input: DataFrame = spark.range(pairs)
      .select(pmod(col("id"), lit(queries.toLong)).as("query_id"),
        col("id").as("corpus_id"),
        (pmod(col("id") * lit(2654435761L), lit(4294967296L)) /
          lit(4294967296.0)).as("score"))

    def time(label: String, reps: Int)(mk: => DataFrame): Double = {
      var best = Double.MaxValue
      for (_ <- 0 until reps) {
        val t0 = System.nanoTime()
        mk.write.format("noop").mode("overwrite").save()
        best = math.min(best, (System.nanoTime() - t0) / 1e9)
      }
      println(f"[profile] $label%-24s best $best%7.3f s  " +
        f"(${pairs / best / 1e6}%6.1f M pairs/s)")
      best
    }

    time("scan (input gen only)", 3)(input)
    // sustained aggregate window for the sampler (~10 passes)
    val agg = time("topKByScore aggregate", 10) {
      input.groupBy(col("query_id"))
        .agg(Similarity.topKByScore(col("score"), col("corpus_id"), k).as("tk"))
    }
    // codegen floor: the closest built-in shape (single best per
    // query, HashAggregate, zero object machinery)
    time("max_by codegen floor", 3) {
      input.groupBy(col("query_id"))
        .agg(max_by(col("corpus_id"), col("score")).as("best"))
    }
    println(f"[profile] pairs=$pairs queries=$queries k=$k agg_best=$agg%.3f")
    spark.stop()
  }
}
