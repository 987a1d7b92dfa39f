package graft

import org.apache.spark.sql.SparkSession

/** Session factory for the graft engine.
  *
  * Mirrors the reference's single entry environment
  * (`StreamExecutionEnvironment.getExecutionEnvironment` +
  * `StreamTableEnvironment.create`, e.g. reference
  * ods/ProduceKafkaLogDataToODS.scala:27-29) as one tuned SparkSession
  * builder. All knobs are chosen for the 100 TB posture:
  *   - AQE on (runtime shuffle coalescing, skew-join splitting),
  *   - shuffle partitions sized to the local core count (a real cluster
  *     deployment overrides via `spark.sql.shuffle.partitions`),
  *   - UTC session timezone so date formatting is deterministic across
  *     engines (oracle parity).
  */
object GraftSession {

  /** Defaults applied to any session the engine builds or adopts. */
  val tuning: Map[String, String] = Map(
    "spark.sql.adaptive.enabled" -> "true",
    // classic permissive eval (Spark 4 defaults ANSI on): cast-on-fail →
    // null, java-long overflow wrap (simhash bit packing relies on it).
    "spark.sql.ansi.enabled" -> "false",
    "spark.sql.adaptive.coalescePartitions.enabled" -> "true",
    "spark.sql.adaptive.skewJoin.enabled" -> "true",
    "spark.sql.session.timeZone" -> "UTC",
    // dims in this workload are small (≤ a few MB); raise the broadcast
    // threshold so every dim join is a broadcast hash join, never SMJ.
    "spark.sql.autoBroadcastJoinThreshold" -> (64L * 1024 * 1024).toString,
    // NOT here (round-18 measured rejection): preferSortMergeJoin=false
    // + AQE maxShuffledHashJoinLocalMapThreshold. Interleaved same-
    // session A/B on the three SMJ carriers read flat at every scale
    // (100×: q12 119.4 vs 122.4 s, q66 17.5 vs 17.7, q93 4.8 vs 4.9;
    // 10×: q93 2.43 vs 2.31) — the sorts run radix over compact keys
    // and are not where these queries spend; the conf's engine-wide
    // blast radius buys nothing measured. See OPTIMIZATION_r18.md.
    // documents/embeddings parquet at sf0.1 are tens of MB; default 128MB
    // maxPartitionBytes would give 1 partition — cap lower so local[32]
    // actually parallelizes scans. On a real cluster this is re-tuned.
    "spark.sql.files.maxPartitionBytes" -> (32L * 1024 * 1024).toString,
    // the testdata events table is nanosecond-precision parquet, which
    // Spark's vectorized reader rejects; read as long (ns) and convert
    // to µs timestamps in the loader — the same truncation DuckDB does.
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.sql.parquet.filterPushdown" -> "true",
  )

  /** ObjectHashAggregate falls back to SORT-based aggregation once a
    * task sees this many distinct keys (default 128). JFR on a 40M-pair
    * ANN top-k with 128 query groups showed the fallback sorting the
    * whole input partition — exactly the corpus-sized-sort anti-pattern
    * the bounded-heap aggregate exists to avoid — so the ANN tail wants
    * 8192. But the threshold is also the peak-memory knob for
    * GROWING-buffer aggregates (collect_list posting lists in
    * jaccardSelfJoin): hash mode holds `threshold` whole buffers per
    * task, and 64× the live buffers on skewed/high-cardinality keys is
    * a real OOM trade. So the raise is SCOPED, not global: ANN frames
    * are re-bound (via [[annScope]]) to a cloned session carrying the
    * override, and every other aggregate keeps Spark's conservative
    * default. SQL-surface users composing `top_k_by_score` directly
    * set the conf on their own session if their query count per task
    * exceeds the default. */
  private val AnnFallbackThreshold = "8192"
  private val annSessions =
    new java.util.concurrent.ConcurrentHashMap[SparkSession, SparkSession]()

  /** Re-bind `df` (an ANN top-k plan) to the session clone carrying the
    * raised fallback threshold. Frames DERIVED from the result keep the
    * clone, so a query composed on the ANN tail executes all its
    * aggregates at the raised threshold — the scope is "queries built
    * on the ANN tail", deliberately wider than the single aggregate but
    * far narrower than the engine. */
  def annScope(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val base = df.sparkSession
    val ann = annSessions.computeIfAbsent(base, (s: SparkSession) => {
      val c = org.apache.spark.sql.graftshim.SessionBridge.cloneSession(s)
      c.conf.set("spark.sql.objectHashAggregate.sortBased.fallbackThreshold",
        AnnFallbackThreshold)
      c
    })
    org.apache.spark.sql.graftshim.SessionBridge.bindTo(ann, df)
  }

  /** Codegen-cache sizing (STATIC conf — builder-time only, which is
    * why it lives here and not in [[tuning]]): Spark's generated-class
    * cache holds 100 entries by default, far below this engine's
    * working set (126 catalog queries × ~5–10 fragments each, plus the
    * storage doors' merge/manifest plans), so a catalog pass evicts
    * constantly and every query re-pays janino compilation (measured
    * round 17: q95's composed refresh −31% wall from this alone).
    * Production rationale is the same at any scale — an engine serving
    * a repeated query mix should size the cache to its fragment
    * working set; entries are compiled classes, a few KB each. */
  val codegenCacheEntries: String = "8192"

  /** Builder-time (STATIC) confs of every session the engine builds,
    * defined once so that `Bench`, `Verify` and `Dev` run
    * the engine the specs and the lakehouse run:
    *   - the native expressions as SQL functions (minhash_sig,
    *     simhash_sig, array_dot, marker_counts) and the planner rules,
    *   - the codegen cache sized above,
    *   - `file:` paths through the fork-free local filesystem
    *     ([[graft.storage.LocalFs]]). */
  val staticConf: Map[String, String] = Map(
    "spark.ui.enabled" -> "false",
    "spark.sql.extensions" -> "graft.GraftExtensions",
    "spark.sql.codegen.cache.maxEntries" -> codegenCacheEntries,
  ) ++ graft.storage.LocalFs.sessionConf

  /** A `local[cores]` builder carrying [[staticConf]]; mains that choose
    * their own runtime confs start from it. */
  def builder(cores: String): SparkSession.Builder = {
    val b = SparkSession.builder().master(s"local[$cores]")
    staticConf.foreach { case (k, v) => b.config(k, v) }
    b
  }

  def local(cores: Int = Runtime.getRuntime.availableProcessors()): SparkSession = {
    val b = builder(cores.toString)
      .appName("graft")
      .config("spark.sql.shuffle.partitions", cores.toString)
    tuning.foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Apply engine tuning to a session built from [[builder]] (runtime-
    * settable confs only). */
  def tune(spark: SparkSession): SparkSession = {
    tuning.foreach { case (k, v) =>
      try spark.conf.set(k, v)
      catch { case _: org.apache.spark.sql.AnalysisException => () }
    }
    spark
  }
}
