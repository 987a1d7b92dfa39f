package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.Ranks

/** What's-wrong-#2 measurement harness: times `globalCumSum`'s
  * per-partition streaming fold — whose current form exits Tungsten
  * (external `Row` deserialization + `Row.fromSeq(r.toSeq :+ cum)`
  * per row on the full-data frame's hottest map stage) — against the
  * pieces that bound it from both sides:
  *
  *   - the input scan alone (generation + range exchange, no fold);
  *   - the windowed slice form (`sum over (pid, grp) rows-preceding`
  *     window after the same exchange — all-Tungsten, the shape the
  *     fold replaced, here run at its own per-partition grain);
  *
  * so `fold − scan` vs `window − scan` isolates the serde share the
  * debt-#7 playbook asks for. Attach JFR
  * (`-XX:StartFlightRecording`) and loop count ≥ 10 to sample the
  * fold's map stage; classify frames by `fromSeq` / `toSeq` /
  * `GenericRow` / encoder to read the boxing share directly.
  * Args: [rows] [groups] (default 20M rows, 5 groups — the q58/q65
  * bounded-cardinality shape).
  */
object ProfileCumSum {
  def main(args: Array[String]): Unit = {
    val rows = args.headOption.map(_.toLong).getOrElse(20_000_000L)
    val groups = if (args.length > 1) args(1).toInt else 5
    val spark = GraftSession.builder("32")
      .config("spark.sql.shuffle.partitions", 32)
      .getOrCreate()
    GraftSession.tune(spark)
    spark.sparkContext.setLogLevel("WARN")

    // all-codegen input: (grp, ord unique, toks) — the token-budget shape
    def input: DataFrame = spark.range(rows)
      .select(pmod(col("id"), lit(groups.toLong)).as("grp"),
        col("id").as("ord"),
        (pmod(col("id") * lit(2654435761L), lit(977L)) + lit(1L)).as("toks"))

    def time(label: String, reps: Int)(mk: => DataFrame): Double = {
      var best = Double.MaxValue
      for (_ <- 0 until reps) {
        val t0 = System.nanoTime()
        mk.write.format("noop").mode("overwrite").save()
        best = math.min(best, (System.nanoTime() - t0) / 1e9)
      }
      println(f"[profile] $label%-28s best $best%7.3f s  " +
        f"(${rows / best / 1e6}%6.1f M rows/s)")
      best
    }

    // `foldonly` third arg: run nothing but the fold, so an attached
    // JFR recording's executor samples all belong to one query and the
    // serde share is a direct sample ratio
    val foldOnly = args.length > 2 && args(2) == "foldonly"
    if (foldOnly) {
      val fold = time("globalCumSum (fold)", 12) {
        Ranks.globalCumSum(input, Seq("grp"), Seq(col("ord")), "toks",
          cumCol = "cum")
      }
      println(f"[profile] rows=$rows groups=$groups fold=$fold%.3f (foldonly)")
      spark.stop()
      return
    }
    val scan = time("scan + range exchange", 3) {
      input.repartitionByRange(col("grp"), col("ord"))
    }
    // sustained window for the sampler: the all-Tungsten per-partition
    // slice window (the fold's predecessor shape at the same grain)
    val win = time("windowed slice cumsum", 3) {
      import org.apache.spark.sql.expressions.Window
      val ranged = input.repartitionByRange(col("grp"), col("ord"))
        .sortWithinPartitions(col("grp"), col("ord"))
        .withColumn("_pid", spark_partition_id())
      val w = Window.partitionBy(col("_pid"), col("grp")).orderBy(col("ord"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      ranged.withColumn("cum", sum(col("toks")).over(w)).drop("_pid")
    }
    val fold = time("globalCumSum (fold)", 10) {
      Ranks.globalCumSum(input, Seq("grp"), Seq(col("ord")), "toks",
        cumCol = "cum")
    }
    println(f"[profile] rows=$rows groups=$groups scan=$scan%.3f " +
      f"window=$win%.3f fold=$fold%.3f " +
      f"fold_over_scan=${fold - scan}%.3f window_over_scan=${win - scan}%.3f")
    spark.stop()
  }
}
