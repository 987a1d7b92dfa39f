package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.Ranks
import graft.functions.TextStats

/** Round-11 scale-trade measurement: the engine's rank/cumsum family
  * (q38/q40/q43/q58/q65) deliberately pays a fixed multi-stage
  * overhead (range exchange + histogram + broadcast offsets —
  * [[operators.Ranks]]) to avoid the bounded-key window's scale wall
  * (the whole fact sorted on |domain| tasks). At sf0.1 the window
  * form is CHEAPER — the trade is bought entirely on extrapolation
  * (SCALING.md debt #8). This main measures both forms side by side
  * on a given fixture dir (intended: the FixtureGen replicas=10
  * layout), plus the q76 zone-pruned read vs the full scan+filter it
  * replaces, so the crossover BASELINE.md predicts is a printed
  * number instead of an argument.
  *
  * Prints one JSON line per comparison:
  * `{"cmp":"q38","engine_sec":…,"window_sec":…,"rows":…}`
  * Usage: SPARK_GRAFT_SF_DIR=fixtures/sf0.1x10 runMain graft.ScaleCompare
  */
object ScaleCompare {

  private def time(reps: Int)(mk: => DataFrame): Double = {
    var best = Double.MaxValue
    for (_ <- 0 until reps) {
      val t0 = System.nanoTime()
      mk.write.format("noop").mode("overwrite").save()
      best = math.min(best, (System.nanoTime() - t0) / 1e9)
    }
    best
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "fixtures/sf0.1x10")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "3").toInt
    val spark = GraftSession.builder(cpus)
      .config("spark.sql.shuffle.partitions", cpus)
      .getOrCreate()
    GraftSession.tune(spark)
    spark.sparkContext.setLogLevel("WARN")
    val t = Tables(spark, sfDir)

    def report(name: String, engine: => DataFrame, window: => DataFrame): Unit = {
      // interleave engine/window reps so ambient drift hits both
      val e = time(reps)(engine)
      val w = time(reps)(window)
      val n = engine.count()
      println(f"""{"cmp":"$name","engine_sec":$e%.3f,"window_sec":$w%.3f,"rows":$n}""")
    }

    // --- q38: top-3 per nation + gap --------------------------------
    def cust = t.customer.select(col("c_nationkey"), col("c_custkey"),
      col("c_acctbal"))
    report("q38_rank_lag",
      Queries.all("q38_rank_lag")(spark, sfDir), {
        val w = Window.partitionBy(col("c_nationkey"))
          .orderBy(col("c_acctbal").desc, col("c_custkey").asc)
        cust
          .withColumn("rnk", rank().over(w).cast("long"))
          .withColumn("gap",
            round(lag(col("c_acctbal"), 1).over(w) - col("c_acctbal"), 2))
          .filter(col("rnk") <= 3)
          .select(col("c_nationkey"), col("rnk"), col("c_custkey"),
            round(col("c_acctbal"), 2).as("acctbal"), col("gap"))
      })

    // --- q40: exact p50/p95 per priority ----------------------------
    report("q40_percentile",
      Queries.all("q40_percentile")(spark, sfDir), {
        val wo = Window.partitionBy(col("o_orderpriority"))
          .orderBy(col("o_totalprice"), col("o_orderkey"))
        val wp = Window.partitionBy(col("o_orderpriority"))
        val r50 = (n: org.apache.spark.sql.Column) => ceil(n * 0.5)
        val r95 = (n: org.apache.spark.sql.Column) => ceil(n * 0.95)
        t.orders
          .select(col("o_orderpriority"), col("o_totalprice"), col("o_orderkey"))
          .withColumn("rn", row_number().over(wo))
          .withColumn("n", count(lit(1)).over(wp))
          .filter(col("rn") === r50(col("n")) || col("rn") === r95(col("n")))
          .groupBy(col("o_orderpriority"))
          .agg(
            max(when(col("rn") === r50(col("n")),
              round(col("o_totalprice"), 2))).as("p50"),
            max(when(col("rn") === r95(col("n")),
              round(col("o_totalprice"), 2))).as("p95"),
            max(col("n")).cast("long").as("cnt"))
      })

    // --- q43: ntile / percent_rank / cume_dist ----------------------
    report("q43_ntile",
      Queries.all("q43_ntile")(spark, sfDir), {
        val w = Window.partitionBy(col("c_nationkey"))
          .orderBy(col("c_acctbal"), col("c_custkey"))
        cust.select(
          col("c_nationkey"), col("c_custkey"),
          round(col("c_acctbal"), 2).as("acctbal"),
          ntile(4).over(w).cast("long").as("quartile"),
          percent_rank().over(w).as("prank"),
          cume_dist().over(w).as("cdist"))
      })

    // --- q58: sequence packing (per-lang prefix sum) ----------------
    def docChars = t.documents.select(col("lang"), col("doc_id"),
      length(col("text")).as("chars"))
    report("q58_seq_pack",
      Queries.all("q58_seq_pack")(spark, sfDir), {
        val w = Window.partitionBy(col("lang")).orderBy(col("doc_id"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        docChars
          .withColumn("cum", sum(col("chars")).over(w))
          .withColumn("pack_id", expr("(cum - 1) div 4096"))
          .groupBy(col("lang"), col("pack_id"))
          .agg(count(lit(1)).as("n_docs"), sum(col("chars")).as("pack_chars"))
      })

    // --- q65: token-budget greedy selection -------------------------
    def docToks = t.documents
      .withColumn("_mc", TextStats.counts(col("text")))
      .select(col("doc_id"), col("lang"), col("n_chars"),
        TextStats.wordCount(col("text"), col("_mc")).cast("long").as("toks"))
    report("q65_token_budget",
      Queries.all("q65_token_budget")(spark, sfDir), {
        val w = Window.partitionBy(col("lang"))
          .orderBy(col("n_chars").desc, col("doc_id").asc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        docToks
          .withColumn("cum_toks", sum(col("toks")).over(w))
          .filter(col("cum_toks") <= 20000L)
          .select(col("doc_id"), col("lang"), col("toks"), col("cum_toks"))
      })

    // --- synthetic rank crossover -----------------------------------
    // The fixture's bounded-key groups top out at ~10k rows/task —
    // trivial for one task's sort, so the window form keeps its fixed
    // ~0.5 s advantage through 10×. The wall it hits is per-TASK
    // volume: |domain| tasks sort |input|/|domain| rows each no matter
    // how many cores exist. This measures both forms on a synthetic
    // (grp ∈ [0,5), unique ord) frame at SPARK_GRAFT_SYNTH_ROWS
    // (default 40M — ~70× the fixture's windowed volume) where that
    // wall is reachable on local[32].
    {
      val synthRows = sys.env.getOrElse("SPARK_GRAFT_SYNTH_ROWS",
        "40000000").toLong
      def synth = spark.range(synthRows)
        .select(pmod(col("id"), lit(5L)).as("grp"), col("id").as("ord"))
      val eng = time(reps)(
        Ranks.globalRowNumbers(synth, Seq("grp"), Seq(col("ord"))))
      val win = time(reps) {
        val w = Window.partitionBy(col("grp")).orderBy(col("ord"))
        synth.withColumn("_g", row_number().over(w))
      }
      println(f"""{"cmp":"synthetic_rank","rows":$synthRows,""" +
        f""""engine_sec":$eng%.3f,"window_sec":$win%.3f}""")
    }

    // --- SemDeDup: fixed-k vs corpus-scaled k -----------------------
    // q66's oracle shape pins k=4 data-defined centroids, which makes
    // the within-cell pair stage O(n²/k) — quadratic at fixed k as the
    // corpus grows. The production contract is that k scales with n
    // (cells stay ~constant-size; kmeansCentroids trains them offline).
    // This measures both at the fixture scale so the restoration of
    // linearity is a number, not a claim.
    {
      val emb = t.embeddings
      val fixed = {
        val rows = emb.filter(col("vec_id") < 4)
          .select(col("vec_id"), col("embedding")).orderBy("vec_id").collect()
        (rows.map(_.getLong(0)), rows.map(
          _.getSeq[Any](1).map(_.asInstanceOf[Number].doubleValue).toArray))
      }
      val nEmb = emb.count()
      // cells of ~500 vectors — the sf0.1 cell size the oracle shape
      // was calibrated at, now held constant as the corpus grows
      val kScaled = math.max(4, (nEmb / 500L).toInt)
      val trained = graft.operators.Similarity.kmeansCentroids(
        emb, "embedding", k = kScaled, iters = 3)
      val tFixed = time(reps)(graft.operators.Dedup.semanticDedup(
        emb, "embedding", "vec_id", spark, fixed, threshold = 0.35))
      val tScaled = time(reps)(graft.operators.Dedup.semanticDedup(
        emb, "embedding", "vec_id", spark, trained, threshold = 0.35))
      println(f"""{"cmp":"semdedup_k","fixed_k4_sec":$tFixed%.3f,""" +
        f""""scaled_k${kScaled}_sec":$tScaled%.3f,"n":$nEmb}""")
    }

    // --- q76: zone-pruned read vs full scan+filter ------------------
    val pub = Queries.q76Publish(spark, sfDir)
    val lo = lit("1996-03-01 00:00:00").cast("timestamp")
    val hi = lit("1996-06-30 00:00:00").cast("timestamp")
    val pruned = time(reps)(
      graft.sinks.Sinks.readShardsBetween(spark, pub, "o_orderdate", lo, hi)
        .select("o_orderkey", "o_orderdate", "o_orderpriority"))
    val full = time(reps)(
      spark.read.parquet(s"$pub/data")
        .filter(col("o_orderdate") >= lo && col("o_orderdate") <= hi)
        .select("o_orderkey", "o_orderdate", "o_orderpriority"))
    println(f"""{"cmp":"q76_zone_pruning","pruned_sec":$pruned%.3f,"full_scan_sec":$full%.3f}""")

    spark.stop()
  }
}
