package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Rewrites a testdata scale dir into a multi-file (and optionally
  * row-scaled) layout so the bench can exercise parallel scans and
  * larger-than-test volumes.
  *
  * Motivation (BASELINE.md floor note): every driver-generated sf0.1
  * table is ONE parquet file with ONE row group, and a parquet scan
  * cannot split inside a row group — so every scan+partial-agg stage in
  * the stock bench runs on one core no matter the core count, hiding
  * the parallelism the plans are designed for. Production tables write
  * many row groups; this tool produces that layout at the same SF:
  * each table re-written as `nFiles` parquet files (values untouched —
  * a round-robin repartition only changes file layout, and every
  * catalog query is order-insensitive).
  *
  * REPLICAS mode (`replicas` > 1, the round-11 scale fixture): each
  * keyed table is replicated `replicas`× with every join/id key offset
  * by `replica * 10^8`, so referential structure is preserved PER
  * REPLICA (each replica's orders join its own lineitems, etc.) and
  * the row volume scales by `replicas` with realistic key dispersion.
  * Two content transforms keep the scaled corpus semantically
  * representative rather than degenerate:
  *
  *   - `documents.text` is salted PER REPLICA by interleaving a
  *     replica token between words (replica 0 keeps the original
  *     text; `n_chars` is recomputed). Without this, every doc would
  *     have `replicas` near-verbatim copies — per-fingerprint df would
  *     grow ∝ replicas and the Σ df² pair expansion of the jaccard /
  *     span dedup ops would grow ∝ replicas², a fixture artifact: a
  *     real 10× corpus holds ~constant duplication RATE (a doc's
  *     duplicate-set size is O(1)), which interleaved salting
  *     reproduces (within-replica duplicate structure ≡ original;
  *     zero shared shingles across replicas).
  *   - region/nation (true dims referenced by replicated rows) stay
  *     1×, like the 25-nation domain stays fixed at any corpus size.
  *
  * `embeddings` vectors are replicated as-is under offset vec_ids:
  * exact-duplicate vectors exercise the LSH hot-bucket guards by
  * design, and the fixed-centroid q66 path's within-cell quadratic is
  * a real property of fixed-k SemDeDup the scale bench is meant to
  * expose (production scales k with n — see SCALING.md).
  *
  * Output mirrors the testdata layout (`<dst>/<table>.parquet` as a
  * DIRECTORY of part files — `spark.read.parquet` treats file and dir
  * the same), so `SPARK_GRAFT_SF_DIR=<dst> sbt "runMain graft.Bench"`
  * is the scaled bench mode with zero bench changes.
  *
  * Usage: runMain graft.FixtureGen [srcDir] [dstDir] [nFiles] [replicas]
  */
object FixtureGen {
  val tables: Seq[String] = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  /** Long id/join-key columns offset per replica (stride 10^8 — far
    * above every generated key range, far below long overflow at any
    * plausible replica count). */
  val keyCols: Map[String, Seq[String]] = Map(
    "customer" -> Seq("c_custkey"),
    "supplier" -> Seq("s_suppkey"),
    "part" -> Seq("p_partkey"),
    "orders" -> Seq("o_orderkey", "o_custkey"),
    "lineitem" -> Seq("l_orderkey", "l_partkey", "l_suppkey"),
    "events" -> Seq("event_id", "user_id"),
    "documents" -> Seq("doc_id"),
    "embeddings" -> Seq("vec_id"))

  private val Stride = 100000000L

  /** Replicate `df` `replicas`× with keys offset per replica; salt
    * document text per replica (see object scaladoc). */
  def replicate(df: DataFrame, table: String, replicas: Int): DataFrame = {
    if (replicas <= 1 || !keyCols.contains(table)) return df
    val r = df.withColumn("_r", explode(lit((0 until replicas).toArray)))
    val keyed = keyCols(table).foldLeft(r)((d, k) =>
      d.withColumn(k, col(k) + col("_r").cast("long") * Stride))
    val salted =
      if (table != "documents") keyed
      else keyed
        .withColumn("text", when(col("_r") === 0, col("text"))
          .otherwise(regexp_replace(col("text"), lit(" "),
            concat(lit(" r"), col("_r"), lit(" ")))))
        // keep the SOURCE column's type: length() returns int, but the
        // generated corpus records n_chars as int64 — an int32 recompute
        // silently re-types the scaled fixture, and every write door
        // that unions int32 live shards with int64 patch rows then dies
        // on a parquet physical-type mismatch at 10×/100× only
        .withColumn("n_chars", length(col("text")).cast("long"))
    // events: each replica shifted into its own disjoint month — a
    // bigger corpus is MORE TIME of logs, not 100× the event density
    // in one fixed month. Without the shift every interval join's
    // output grows ∝ replicas² (each incident window catches every
    // replica's events: q36 measured 64 s at 100× from exactly this)
    // — a fixture artifact, not an engine property.
    val shifted =
      if (table != "events") salted
      else salted.withColumn("ts", expr("timestampadd(DAY, 31 * _r, ts)"))
    shifted.drop("_r")
  }

  def main(args: Array[String]): Unit = {
    val src = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val dst = if (args.length > 1) args(1) else "fixtures/sf0.1x24"
    val nFiles = if (args.length > 2) args(2).toInt else 24
    val replicas = if (args.length > 3) args(3).toInt else 1
    val spark = GraftSession.builder("8")
      .config("spark.sql.shuffle.partitions", "8")
      .getOrCreate()
    GraftSession.tune(spark)
    spark.sparkContext.setLogLevel("WARN")
    tables.foreach { t =>
      val df = replicate(spark.read.parquet(s"$src/$t.parquet"), t, replicas)
      // tiny dims stay single-file: splitting a 5-row table into 24
      // files only adds task overhead
      val n = if (df.count() < 10000L) 1 else nFiles
      df.repartition(n).write.mode("overwrite").parquet(s"$dst/$t.parquet")
      println(s"[fixturegen] $t -> $n file(s), ${replicas}x")
    }
    spark.stop()
  }
}
