package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Cast, Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.types.DoubleType

import org.apache.spark.sql.graftshim.ColumnBridge

import graft.expressions.{AdjacentPairStats, ArrayDot, BloomOps, DupShingleStats, KllMergeAgg, KllQuantile, KllRank, KllSketchAgg, MarkerCounts, MinHashSig, MisraGriesAgg, NearestCentroidsCol, RpBands, ShingleArr, SigMatchFrac, SimHashSig, TopKByScoreAgg}
import graft.operators.{Chunking, Sampling}

/** SparkSessionExtensions hook: registers the engine's native
  * expressions as SQL functions, so `spark.sql` users get the same hot
  * paths as the Column API (builder brief: custom Catalyst work is
  * registered via `SparkSessionExtensions`, not ad-hoc).
  *
  * Enable with `spark.sql.extensions=graft.GraftExtensions` (set by
  * `GraftSession.staticConf`), or pass to `SparkSession.builder
  * .withExtensions`. Registered:
  *
  *   - `minhash_sig(text[, k[, shingleN]])` → array<bigint>
  *   - `simhash_sig(text)` → bigint
  *   - `array_dot(a, b)` → double
  *   - `marker_counts(text, m1, m2, …)` → array<bigint>
  *   - `bloom_might_contain(item, bits, k)` → boolean (bits a literal
  *     array<bigint> from `BloomOps.bloomAgg` — the model parameter)
  *   - `chunk_text(text, size, step)` →
  *     array<struct<chunk_idx,chunk_start,chunk_text,chunk_len>>
  *     (`inline`/`explode` to rows — the `Chunking.chunk` projection)
  *   - `assign_split(id, label1, frac1[, label2, frac2, …])` → string
  *     (the `Sampling.assignSplit` label; fractions must sum to 1)
  *   - `sample_by_weight(id, weight)` → boolean keep-decision
  *     (the `Sampling.sampleByWeight` coin)
  *   - `lang_id(text)` → string; `quality_score(text)` → double —
  *     the q17/q18 text-analysis operators as scalars (one
  *     MarkerCounts scan each, merged by CombineMarkerCounts when
  *     co-projected)
  *   - `top_k_by_score(score, id, k)` → aggregate; the k best
  *     (id, score) structs by (score desc, id asc) in rank order —
  *     the ANN tail's bounded heap, O(k) through the shuffle
  *   - `heavy_hitters_sketch(item, k)` → aggregate; Misra–Gries
  *     frequent-items summary as struct<n, items> — a guaranteed
  *     superset of every item with count > n/(k+1), O(k) through the
  *     shuffle (the candidate pass of `HeavyHitters.exactAboveShare`)
  *   - table functions `shard_stats(path[, stamp])`,
  *     `shards_at(path, stamp)`, `shards_changed_since(path, stamp)` —
  *     the published-layout storage doors for SQL users (metadata
  *     table / time travel / incremental read), splicing in the same
  *     plans the Scala doors build
  *
  * The dataloader-prep trio delegates to the SAME Column builders the
  * DataFrame operators use (`Chunking.chunkArray`,
  * `Sampling.splitLabel`, `Sampling.weightKeep`), so SQL and Scala
  * callers get identical chunks/splits/coins by construction.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def litString(e: Expression, what: String): String = e match {
    case Literal(v, _) if v != null && v.toString.nonEmpty => v.toString
    case other => throw new IllegalArgumentException(
      s"$what must be a non-empty string literal, got: $other")
  }
  /** [[litString]] for args where '' is a MEANINGFUL sentinel (e.g.
    * rebuild_manifest's shard_col, where '' selects hash-of-id
    * sharding) — litString rejects empty literals, which would make
    * the sentinel unreachable from SQL. */
  private def litStringAllowEmpty(e: Expression, what: String): String =
    e match {
      case Literal(v, _) if v != null => v.toString
      case other => throw new IllegalArgumentException(
        s"$what must be a string literal ('' allowed), got: $other")
    }
  private def litInt(e: Expression, what: String): Int = e match {
    case Literal(v: Int, _) => v
    case other => throw new IllegalArgumentException(
      s"$what must be an integer literal, got: $other")
  }
  /** "0.5,0.95,0.99" → ranks, for the quantile TVF (TVF args are
    * string literals; a CSV keeps the arity fixed). */
  private def parseRanks(csv: String): Seq[Double] =
    csv.split(',').toSeq.map { s =>
      try s.trim.toDouble catch {
        case _: NumberFormatException => throw new IllegalArgumentException(
          s"ranks_csv must be comma-separated doubles in [0,1], got '$csv'")
      }
    }
  private def litFraction(e: Expression, what: String): Double = e match {
    case Literal(v: Double, _) => v
    case Literal(v: java.math.BigDecimal, _) => v.doubleValue()
    case Literal(v: org.apache.spark.sql.types.Decimal, _) => v.toDouble
    case Literal(v: Int, _) => v.toDouble
    case other => throw new IllegalArgumentException(
      s"$what must be a numeric literal, got: $other")
  }

  private def litLongArray(e: Expression, what: String): Array[Long] = {
    import org.apache.spark.sql.types.{ArrayType, IntegerType, LongType}
    // one foldable-eval branch covers every constant form (array(...)
    // of literals, a pre-folded Literal, CAST of either) instead of
    // enumerating expression shapes by hand
    val elemType = e.dataType match {
      case ArrayType(t @ (LongType | IntegerType), _)
          if e.resolved && e.foldable => t
      case _ => throw new IllegalArgumentException(
        s"$what must be a foldable array<bigint> or array<int>, got: $e")
    }
    val data = e.eval() match {
      case d: org.apache.spark.sql.catalyst.util.ArrayData => d
      case _ => throw new IllegalArgumentException(s"$what must not be null")
    }
    require((0 until data.numElements()).forall(!data.isNullAt(_)),
      s"$what must not contain null elements")
    if (elemType == LongType) data.toLongArray()
    else data.toIntArray().map(_.toLong)
  }

  private def info(name: String, usage: String): ExpressionInfo =
    new ExpressionInfo(classOf[GraftExtensions].getName, null, name, usage, "")

  override def apply(ext: SparkSessionExtensions): Unit = {
    // optimizer rule: merge co-projected marker_counts calls into one
    // scan of the string (see CombineMarkerCounts)
    ext.injectOptimizerRule(_ => graft.expressions.CombineMarkerCounts)
    // optimizer rule: automatic manifest-stat file skipping on shard
    // layouts — filters over a published `data` dir prune via zone maps
    // without the reader opting in (see ZoneMapSkipping)
    ext.injectOptimizerRule(_ => graft.plans.ZoneMapSkipping)
    // optimizer rule: COUNT(*)/MIN/MAX over a shard layout answered
    // from the manifest alone — zero data files opened (see
    // ManifestAggregates)
    ext.injectOptimizerRule(_ => graft.plans.ManifestAggregates)
    // optimizer rule: ORDER BY <zone col> LIMIT k over a shard layout
    // opens only the shards that can reach the top-k (see
    // TopKShardPruning)
    ext.injectOptimizerRule(_ => graft.plans.TopKShardPruning)
    ext.injectFunction((
      FunctionIdentifier("minhash_sig"),
      info("minhash_sig", "minhash_sig(text[, k[, shingleN]]) - MinHash signature"),
      (args: Seq[Expression]) => args match {
        case Seq(c) => MinHashSig(c, 64, 3)
        case Seq(c, k) => MinHashSig(c, litInt(k, "k"), 3)
        case Seq(c, k, n) => MinHashSig(c, litInt(k, "k"), litInt(n, "shingleN"))
        case _ => throw new IllegalArgumentException(
          "minhash_sig expects (text[, k[, shingleN]])")
      }))
    ext.injectFunction((
      FunctionIdentifier("simhash_sig"),
      info("simhash_sig", "simhash_sig(text) - 64-bit SimHash"),
      (args: Seq[Expression]) => args match {
        case Seq(c) => SimHashSig(c)
        case _ => throw new IllegalArgumentException("simhash_sig expects (text)")
      }))
    ext.injectFunction((
      FunctionIdentifier("array_dot"),
      info("array_dot", "array_dot(a, b) - sequential-fold dot product"),
      (args: Seq[Expression]) => args match {
        case Seq(a, b) => ArrayDot(a, b)
        case _ => throw new IllegalArgumentException("array_dot expects (a, b)")
      }))
    ext.injectFunction((
      FunctionIdentifier("marker_counts"),
      info("marker_counts",
        "marker_counts(text, m1, m2, …) - one-pass substring counts"),
      (args: Seq[Expression]) => args match {
        case c +: ms if ms.nonEmpty =>
          MarkerCounts(c, ms.map(litString(_, "marker")))
        case _ => throw new IllegalArgumentException(
          "marker_counts expects (text, marker, …)")
      }))
    ext.injectFunction((
      FunctionIdentifier("bloom_might_contain"),
      info("bloom_might_contain",
        "bloom_might_contain(item, bits, k) - probe a BloomOps filter"),
      (args: Seq[Expression]) => args match {
        case Seq(c, bits, k) =>
          BloomOps.BloomMightContain(c, litLongArray(bits, "bits"), litInt(k, "k"))
        case _ => throw new IllegalArgumentException(
          "bloom_might_contain expects (item, bits, k)")
      }))
    ext.injectFunction((
      FunctionIdentifier("chunk_text"),
      info("chunk_text",
        "chunk_text(text, size, step) - array of (chunk_idx, chunk_start, " +
          "chunk_text, chunk_len) structs; inline/explode to rows"),
      (args: Seq[Expression]) => args match {
        case Seq(t, s, p) => ColumnBridge.catalystExpression(
          Chunking.chunkArray(ColumnBridge.column(t),
            litInt(s, "size"), litInt(p, "step")))
        case _ => throw new IllegalArgumentException(
          "chunk_text expects (text, size, step)")
      }))
    ext.injectFunction((
      FunctionIdentifier("assign_split"),
      info("assign_split",
        "assign_split(id, label1, frac1[, label2, frac2, …]) - " +
          "deterministic stratified split label (fractions sum to 1)"),
      (args: Seq[Expression]) => args match {
        case id +: rest if rest.nonEmpty && rest.size % 2 == 0 =>
          val splits = rest.grouped(2).map { p =>
            (litString(p.head, "label"), litFraction(p(1), "fraction"))
          }.toSeq
          ColumnBridge.catalystExpression(
            Sampling.splitLabel(ColumnBridge.column(id), splits))
        case _ => throw new IllegalArgumentException(
          "assign_split expects (id, label1, frac1[, label2, frac2, …])")
      }))
    ext.injectFunction((
      FunctionIdentifier("sample_by_weight"),
      info("sample_by_weight",
        "sample_by_weight(id, weight) - deterministic keep-decision with " +
          "probability = weight clamped to [0,1]"),
      (args: Seq[Expression]) => args match {
        case Seq(id, w) => ColumnBridge.catalystExpression(
          Sampling.weightKeep(ColumnBridge.column(id), ColumnBridge.column(w)))
        case _ => throw new IllegalArgumentException(
          "sample_by_weight expects (id, weight)")
      }))
    ext.injectFunction((
      FunctionIdentifier("epoch_shuffle_key"),
      info("epoch_shuffle_key",
        "epoch_shuffle_key(id, epoch[, copy_idx]) - deterministic " +
          "per-(id, epoch) shuffle key: sort by it for epoch N's " +
          "reproducible training permutation; pass copy_idx for " +
          "upsampled corpora so replicas disperse " +
          "(Sampling.epochShuffleKey)"),
      (args: Seq[Expression]) => args match {
        case Seq(id, e) => ColumnBridge.catalystExpression(
          Sampling.epochShuffleKey(ColumnBridge.column(id),
            litInt(e, "epoch")))
        case Seq(id, e, c) => ColumnBridge.catalystExpression(
          Sampling.epochShuffleKey(ColumnBridge.column(id),
            litInt(e, "epoch"), ColumnBridge.column(c)))
        case _ => throw new IllegalArgumentException(
          "epoch_shuffle_key expects (id, epoch[, copy_idx])")
      }))
    ext.injectFunction((
      FunctionIdentifier("top_k_by_score"),
      info("top_k_by_score",
        "top_k_by_score(score, id, k) - aggregate: the k best (id, score) " +
          "structs by (score desc, id asc), in rank order"),
      (args: Seq[Expression]) => args match {
        case Seq(s, i, kk) => TopKByScoreAgg(s, i, litInt(kk, "k"))
        case _ => throw new IllegalArgumentException(
          "top_k_by_score expects (score, id, k)")
      }))
    ext.injectFunction((
      FunctionIdentifier("kll_sketch_agg"),
      info("kll_sketch_agg",
        "kll_sketch_agg(x) - aggregate: serialized KLL quantile sketch " +
          "over a DOUBLE column (the manifest zkll_* stat's builder)"),
      (args: Seq[Expression]) => args match {
        case Seq(x) => KllSketchAgg(x)
        case _ => throw new IllegalArgumentException(
          "kll_sketch_agg expects (x)")
      }))
    ext.injectFunction((
      FunctionIdentifier("kll_merge_agg"),
      info("kll_merge_agg",
        "kll_merge_agg(sketch) - aggregate: union serialized KLL " +
          "sketches (error-preserving merge)"),
      (args: Seq[Expression]) => args match {
        case Seq(s) => KllMergeAgg(s)
        case _ => throw new IllegalArgumentException(
          "kll_merge_agg expects (sketch)")
      }))
    ext.injectFunction((
      FunctionIdentifier("kll_quantile"),
      info("kll_quantile",
        "kll_quantile(sketch, rank) - value at normalized rank in [0,1] " +
          "(INCLUSIVE, the percentile_disc convention)"),
      (args: Seq[Expression]) => args match {
        case Seq(s, r) => KllQuantile(s, Cast(r, DoubleType))
        case _ => throw new IllegalArgumentException(
          "kll_quantile expects (sketch, rank)")
      }))
    ext.injectFunction((
      FunctionIdentifier("kll_rank"),
      info("kll_rank",
        "kll_rank(sketch, value) - normalized rank of value in [0,1] " +
          "(INCLUSIVE): fraction of sketched values <= it"),
      (args: Seq[Expression]) => args match {
        case Seq(s, v) => KllRank(s, Cast(v, DoubleType))
        case _ => throw new IllegalArgumentException(
          "kll_rank expects (sketch, value)")
      }))
    ext.injectFunction((
      FunctionIdentifier("dup_shingle_stats"),
      info("dup_shingle_stats",
        "dup_shingle_stats(text, n) - struct<n_shingles, dup_shingles>: " +
          "within-document duplicate n-word-shingle counts, zero shuffle"),
      (args: Seq[Expression]) => args match {
        case Seq(t, nn) => DupShingleStats(t, litInt(nn, "n"))
        case _ => throw new IllegalArgumentException(
          "dup_shingle_stats expects (text, n)")
      }))
    ext.injectFunction((
      FunctionIdentifier("text_shingles"),
      info("text_shingles",
        "text_shingles(text, n) - array of n-word shingle strings " +
          "(the dedup/decontamination building block)"),
      (args: Seq[Expression]) => args match {
        case Seq(t, nn) => ShingleArr(t, litInt(nn, "n"))
        case _ => throw new IllegalArgumentException(
          "text_shingles expects (text, n)")
      }))
    ext.injectFunction((
      FunctionIdentifier("sig_match_frac"),
      info("sig_match_frac",
        "sig_match_frac(sigA, sigB, numHashes) - fraction of matching " +
          "MinHash signature positions (estimates Jaccard)"),
      (args: Seq[Expression]) => args match {
        case Seq(a, b, n) => SigMatchFrac(a, b, litInt(n, "numHashes"))
        case _ => throw new IllegalArgumentException(
          "sig_match_frac expects (sigA, sigB, numHashes)")
      }))
    ext.injectFunction((
      FunctionIdentifier("rp_bands"),
      info("rp_bands",
        "rp_bands(vec, numPlanes, bands[, seed]) - signed-random-" +
          "projection LSH band keys for embedding blocking"),
      (args: Seq[Expression]) => args match {
        case Seq(v, p, b) => RpBands(v, litInt(p, "numPlanes"),
          litInt(b, "bands"), 42L)
        case Seq(v, p, b, s) => RpBands(v, litInt(p, "numPlanes"),
          litInt(b, "bands"), litInt(s, "seed").toLong)
        case _ => throw new IllegalArgumentException(
          "rp_bands expects (vec, numPlanes, bands[, seed])")
      }))
    ext.injectFunction((
      FunctionIdentifier("lang_id"),
      info("lang_id",
        "lang_id(text) - n-gram-marker language guess " +
          "(en/de/fr/es/zh/und) from one MarkerCounts scan — the q17 " +
          "operator as a scalar"),
      (args: Seq[Expression]) => args match {
        case Seq(t) =>
          val c = ColumnBridge.column(t)
          ColumnBridge.catalystExpression(
            graft.functions.TextStats.langId(
              graft.functions.TextStats.counts(c)))
        case _ => throw new IllegalArgumentException("lang_id expects (text)")
      }))
    ext.injectFunction((
      FunctionIdentifier("quality_score"),
      info("quality_score",
        "quality_score(text) - length/stopword/punctuation composite " +
          "quality score in [-0.25, 1] — the q18 operator as a scalar"),
      (args: Seq[Expression]) => args match {
        case Seq(t) =>
          val c = ColumnBridge.column(t)
          ColumnBridge.catalystExpression(
            graft.functions.TextStats.qualityScore(c,
              graft.functions.TextStats.counts(c)))
        case _ => throw new IllegalArgumentException(
          "quality_score expects (text)")
      }))
    ext.injectFunction((
      FunctionIdentifier("adjacent_pair_stats"),
      info("adjacent_pair_stats",
        "adjacent_pair_stats(lines) - array<struct<flag, cnt, qc2>>: " +
          "adjacent-line-number pair stats within one group's collected " +
          "array<bigint> of packed lines — (ln << 40) | (qc << 8) | " +
          "ascii(flag), see AdjacentPairStats.packLine (the " +
          "self-join-free q04 shape)"),
      (args: Seq[Expression]) => args match {
        case Seq(a) => AdjacentPairStats(a)
        case _ => throw new IllegalArgumentException(
          "adjacent_pair_stats expects (lines)")
      }))
    ext.injectFunction((
      FunctionIdentifier("nearest_centroids"),
      info("nearest_centroids",
        "nearest_centroids(vec, cents) - centroid ids ordered by " +
          "(L2 distance, id); cents: array<struct<cid bigint, cv " +
          "array<double>>> (pack a centroid table with " +
          "sort_array(collect_list(struct(cid, cv))) and cross-join " +
          "broadcast it — the SemDeDup/IVF assignment from pure SQL)"),
      (args: Seq[Expression]) => args match {
        case Seq(v, cs) => NearestCentroidsCol(v, cs)
        case _ => throw new IllegalArgumentException(
          "nearest_centroids expects (vec, cents)")
      }))
    // ---- table-valued functions: the storage doors for SQL users ----
    // Each TVF resolves its literal args at analysis time and splices
    // in the SAME plan the Scala door builds (one implementation per
    // mechanism); the planner-rule family then applies normally — a
    // date filter over shards_at(...) zone-prunes like any other scan.
    // build is a PartialFunction so only the ARGUMENT pattern match is
    // guarded (applyOrElse): a genuine MatchError raised inside a
    // door's body propagates unchanged instead of being misreported as
    // an arity/usage error
    def tvf(name: String, usage: String,
            build: PartialFunction[Seq[Expression],
              org.apache.spark.sql.DataFrame],
            shapes: String): Unit =
      ext.injectTableFunction((
        FunctionIdentifier(name),
        info(name, usage),
        (args: Seq[Expression]) =>
          build.applyOrElse(args, (_: Seq[Expression]) =>
            throw new IllegalArgumentException(s"$name expects $shapes"))
            .queryExecution.analyzed))
    tvf("shard_stats",
      "shard_stats(path[, stamp]) - a published layout's manifest as a " +
        "metadata table (per-shard rows, id range, zone ranges, spec)",
      { case Seq(p) =>
          graft.sinks.Sinks.shardStats(
            org.apache.spark.sql.SparkSession.active, litString(p, "path"))
        case Seq(p, st) =>
          graft.sinks.Sinks.shardStats(
            org.apache.spark.sql.SparkSession.active, litString(p, "path"),
            Some(litString(st, "stamp"))) },
      "(path[, stamp]) as string literals")
    tvf("shards_at",
      "shards_at(path, stamp) - time travel: the retained generation " +
        "displaced at stamp",
      { case Seq(p, st) =>
          graft.sinks.Sinks.readShardsAt(
            org.apache.spark.sql.SparkSession.active,
            litString(p, "path"), litString(st, "stamp")) },
      "(path, stamp) as string literals")
    tvf("drift_audit",
      "drift_audit(pathA, pathB, bucketExpr[, num, denom]) - the " +
        "distribution-drift QC report between two parquet corpora: " +
        "per-bucket counts of the SQL expression bucketExpr on each " +
        "side plus an exact share-drift flag at threshold num/denom " +
        "(default 1/100)",
      { case Seq(pa, pb, be) =>
          val s = org.apache.spark.sql.SparkSession.active
          graft.operators.Drift.bucketShift(
            s.read.parquet(litString(pa, "pathA")),
            s.read.parquet(litString(pb, "pathB")),
            org.apache.spark.sql.functions.expr(litString(be, "bucketExpr")))
        case Seq(pa, pb, be, n, d) =>
          val s = org.apache.spark.sql.SparkSession.active
          graft.operators.Drift.bucketShift(
            s.read.parquet(litString(pa, "pathA")),
            s.read.parquet(litString(pb, "pathB")),
            org.apache.spark.sql.functions.expr(litString(be, "bucketExpr")),
            litInt(n, "num").toLong, litInt(d, "denom").toLong) },
      "(pathA, pathB, bucketExpr[, num, denom]) as literals")
    tvf("approx_distinct_shards",
      "approx_distinct_shards(path, column[, stamp]) - metadata-only " +
        "approximate COUNT(DISTINCT column) from the manifest's HLL " +
        "sketches (publish with sketchCols); one row: approx_distinct, " +
        "n_shards, n_rows",
      { case Seq(p, c) =>
          graft.sinks.Sinks.approxDistinctShards(
            org.apache.spark.sql.SparkSession.active,
            litString(p, "path"), litString(c, "column"))
        case Seq(p, c, st) =>
          graft.sinks.Sinks.approxDistinctShards(
            org.apache.spark.sql.SparkSession.active,
            litString(p, "path"), litString(c, "column"),
            Some(litString(st, "stamp"))) },
      "(path, column[, stamp]) as string literals")
    tvf("shard_doctor",
      "shard_doctor(path) - one-row health summary of a published " +
        "layout from its manifest: shard balance (skew = max/mean), " +
        "spec, declared stat families, legacy-carry count, retained " +
        "generations",
      { case Seq(p) =>
          graft.sinks.Sinks.shardDoctor(
            org.apache.spark.sql.SparkSession.active,
            litString(p, "path")) },
      "(path) as a string literal")
    tvf("approx_quantiles_shards",
      "approx_quantiles_shards(path, column, ranks_csv[, stamp]) - " +
        "metadata-only approximate quantiles from the manifest's KLL " +
        "sketches (publish with quantileCols); one row per rank: " +
        "(rank, value)",
      { case Seq(p, c, r) =>
          graft.sinks.Sinks.approxQuantilesShards(
            org.apache.spark.sql.SparkSession.active,
            litString(p, "path"), litString(c, "column"),
            parseRanks(litString(r, "ranks_csv")))
        case Seq(p, c, r, st) =>
          graft.sinks.Sinks.approxQuantilesShards(
            org.apache.spark.sql.SparkSession.active,
            litString(p, "path"), litString(c, "column"),
            parseRanks(litString(r, "ranks_csv")),
            Some(litString(st, "stamp"))) },
      "(path, column, ranks_csv[, stamp]) as string literals")
    tvf("approx_quantiles_shards_by",
      "approx_quantiles_shards_by(path, column, group_col, ranks_csv" +
        "[, stamp]) - metadata-only approximate quantiles PER GROUP " +
        "on a group-clustered layout (every shard single-group); one " +
        "row per (group, rank)",
      { case Seq(p, c, g, r) =>
          graft.sinks.Sinks.approxQuantilesShardsBy(
            org.apache.spark.sql.SparkSession.active,
            litString(p, "path"), litString(c, "column"),
            litString(g, "group_col"), parseRanks(litString(r, "ranks_csv")))
        case Seq(p, c, g, r, st) =>
          graft.sinks.Sinks.approxQuantilesShardsBy(
            org.apache.spark.sql.SparkSession.active,
            litString(p, "path"), litString(c, "column"),
            litString(g, "group_col"), parseRanks(litString(r, "ranks_csv")),
            Some(litString(st, "stamp"))) },
      "(path, column, group_col, ranks_csv[, stamp]) as string literals")
    tvf("shards_changed_since",
      "shards_changed_since(path, stamp) - rows of shards whose content " +
        "changed since the retained generation (incremental consumption)",
      { case Seq(p, st) =>
          graft.sinks.Sinks.readShardsChangedSince(
            org.apache.spark.sql.SparkSession.active,
            litString(p, "path"), litString(st, "stamp")) },
      "(path, stamp) as string literals")
    tvf("shards_point",
      "shards_point(path, column, value) - point-lookup read via the " +
        "manifest's per-shard bloom stats: rows where the column's " +
        "string form equals value, opening only candidate shards",
      { case Seq(p, c, v) =>
          graft.sinks.Sinks.readShardsPoint(
            org.apache.spark.sql.SparkSession.active,
            litString(p, "path"), litString(c, "column"),
            litString(v, "value")) },
      "(path, column, value) as string literals")
    tvf("shard_row_changes",
      "shard_row_changes(path, stamp, idCol) - row-level CDC since the " +
        "retained generation: inserted/deleted/updated rows tagged " +
        "_change_type (insert, delete, update_preimage, update_postimage)",
      { case Seq(p, st, ic) =>
          graft.sinks.Sinks.readRowChanges(
            org.apache.spark.sql.SparkSession.active,
            litString(p, "path"), litString(st, "stamp"),
            litString(ic, "idCol")) },
      "(path, stamp, idCol) as string literals")
    tvf("qbin_cuts",
      "qbin_cuts(path) - a quantile-rebinned layout's cut table, " +
        "VERIFIED against the live manifest before returning (refuses " +
        "missing/unstamped/spec-mismatched/STALE cuts loudly); one row " +
        "per cut: (cut_idx, cut, bin_col) — the rebin-planning " +
        "inspection door",
      { case Seq(p) =>
          val s = org.apache.spark.sql.SparkSession.active
          val (binCol, cuts) =
            graft.sinks.Sinks.qbinCuts(s, litString(p, "path"))
          import s.implicits._
          cuts.zipWithIndex
            .map { case (c, i) => (i.toLong, c, binCol) }
            .toDF("cut_idx", "cut", "bin_col") },
      "(path) as a string literal")
    tvf("vector_takedown",
      "vector_takedown(path, id_col, ids_csv) - PROCEDURE form of the " +
        "bloom-routed erasure door (VectorIndex.delete): removes the " +
        "listed ids from a published layout (absent ids are no-ops, " +
        "the displaced generation is retained for audit) and returns " +
        "one row (ids_requested, rows_before, rows_after). Planning " +
        "the query PERFORMS the takedown — the CALL-procedure shape " +
        "Spark SQL lacks",
      { case Seq(p, ic, idsE) =>
          val s = org.apache.spark.sql.SparkSession.active
          val path = litString(p, "path")
          val idCol = litString(ic, "id_col")
          val ids = litString(idsE, "ids_csv").split(',')
            .map(_.trim).filter(_.nonEmpty).toSeq
          def liveRows: Long = graft.sinks.Sinks.shardStats(s, path)
            .agg(org.apache.spark.sql.functions.coalesce(
              org.apache.spark.sql.functions.sum("n_rows"),
              org.apache.spark.sql.functions.lit(0L)))
            .collect().head.getLong(0)
          val before = liveRows
          graft.operators.VectorIndex.delete(s, path, idCol, ids,
            retainPrevious = true)
          val after = liveRows
          import s.implicits._
          Seq((ids.length.toLong, before, after))
            .toDF("ids_requested", "rows_before", "rows_after") },
      "(path, id_col, ids_csv) as string literals")
    // '' is a legal "no columns" for the stats-door CSVs, so this
    // matches the literal directly instead of litString's non-empty gate
    def csvCols(e: Expression, what: String): Seq[String] = e match {
      case Literal(v, _) if v != null =>
        v.toString.split(',').map(_.trim).filter(_.nonEmpty).toSeq
      case other => throw new IllegalArgumentException(
        s"$what must be a string literal (CSV, '' = none), got: $other")
    }
    tvf("rebuild_manifest",
      "rebuild_manifest(path, id_col, n_shards[, shard_col[, zone_csv]])" +
        " - PROCEDURE form of the manifest disaster-recovery door " +
        "(Sinks.rebuildManifest): reconstructs a lost/corrupt manifest " +
        "from the data files under a caller-redeclared spec (verified " +
        "against the bytes), publishing it as a new generation over " +
        "hard-linked data. shard_col '' means hash-of-id. Returns the " +
        "rebuilt manifest (the shard_stats shape)",
      { case Seq(p, ic, n) =>
          graft.sinks.Sinks.rebuildManifest(
            org.apache.spark.sql.SparkSession.active,
            litString(p, "path"), litString(ic, "id_col"),
            litInt(n, "n_shards"))
        case Seq(p, ic, n, sc) =>
          graft.sinks.Sinks.rebuildManifest(
            org.apache.spark.sql.SparkSession.active,
            litString(p, "path"), litString(ic, "id_col"),
            litInt(n, "n_shards"),
            Some(litStringAllowEmpty(sc, "shard_col")).filter(_.nonEmpty))
        case Seq(p, ic, n, sc, z) =>
          graft.sinks.Sinks.rebuildManifest(
            org.apache.spark.sql.SparkSession.active,
            litString(p, "path"), litString(ic, "id_col"),
            litInt(n, "n_shards"),
            Some(litStringAllowEmpty(sc, "shard_col")).filter(_.nonEmpty),
            zoneCols = csvCols(z, "zone_csv")) },
      "(path, id_col, n_shards[, shard_col[, zone_csv]]) as literals")
    tvf("excise_shared_spans",
      "excise_shared_spans(path, text_col, id_col, k, min_df) - " +
        "cross-document verbatim-span REMOVAL (Dedup.exciseSharedSpans, " +
        "Lee et al. 2022): cut every word position covered by a k-gram " +
        "shared by >= min_df distinct documents of the parquet corpus " +
        "at path; returns (id, clean_text, n_tokens, n_removed)",
      { case Seq(p, tc, ic, kk, md) =>
          val s = org.apache.spark.sql.SparkSession.active
          graft.operators.Dedup.exciseSharedSpans(
            s.read.parquet(litString(p, "path")),
            litString(tc, "text_col"), litString(ic, "id_col"),
            k = litInt(kk, "k"), minDf = litInt(md, "min_df").toLong) },
      "(path, text_col, id_col, k, min_df) as literals")
    tvf("dsir_weights",
      "dsir_weights(path, text_col, id_col, target_predicate) - DSIR " +
        "importance weights (Dsir.importanceWeightsWhen, Xie et al. " +
        "2023) of the parquet corpus at path against the target subset " +
        "picked by the SQL predicate (e.g. 'lang = ''en'''); returns " +
        "(id, n_tokens, weight_micro) in integer micro-nats",
      { case Seq(p, tc, ic, pr) =>
          val s = org.apache.spark.sql.SparkSession.active
          graft.operators.Dsir.importanceWeightsWhen(
            s.read.parquet(litString(p, "path")),
            org.apache.spark.sql.functions.expr(
              litString(pr, "target_predicate")),
            litString(tc, "text_col"), litString(ic, "id_col")) },
      "(path, text_col, id_col, target_predicate) as string literals")
    tvf("mix_by_temperature",
      "mix_by_temperature(path, domain_col, id_col, alpha) - " +
        "temperature-scaled domain rebalancing " +
        "(Sampling.mixByTemperature): kept counts per domain of the " +
        "parquet corpus at path are proportional to n_d^alpha " +
        "(alpha = 1/T in (0,1]), rarest domain kept whole, " +
        "deterministic Knuth-coin membership",
      { case Seq(p, dc, ic, a) =>
          val s = org.apache.spark.sql.SparkSession.active
          graft.operators.Sampling.mixByTemperature(
            s.read.parquet(litString(p, "path")),
            litString(dc, "domain_col"), litString(ic, "id_col"),
            litFraction(a, "alpha")) },
      "(path, domain_col, id_col, alpha) as literals")
    tvf("mix_by_temperature_upsample",
      "mix_by_temperature_upsample(path, domain_col, id_col, alpha) - " +
        "temperature rebalancing by UPSAMPLING " +
        "(Sampling.mixByTemperatureUpsample): counts per domain " +
        "proportional to n_d^alpha with the largest domain passing " +
        "once and rare domains replicating (deterministic fractional " +
        "copies, copy_idx carried)",
      { case Seq(p, dc, ic, a) =>
          val s = org.apache.spark.sql.SparkSession.active
          graft.operators.Sampling.mixByTemperatureUpsample(
            s.read.parquet(litString(p, "path")),
            litString(dc, "domain_col"), litString(ic, "id_col"),
            litFraction(a, "alpha")) },
      "(path, domain_col, id_col, alpha) as literals")
    tvf("declare_shard_stats",
      "declare_shard_stats(path, zone_csv, bloom_csv, sketch_csv, " +
        "quantile_csv) - PROCEDURE form of the stat-evolution/healing " +
        "door (Sinks.declareShardStats): adds the CSV-listed stat " +
        "families to a live layout and refills NULL legacy stats, " +
        "without rewriting data ('' = none). Returns the live manifest",
      { case Seq(p, z, b, sk, q) =>
          graft.sinks.Sinks.declareShardStats(
            org.apache.spark.sql.SparkSession.active,
            litString(p, "path"),
            zoneCols = csvCols(z, "zone_csv"),
            bloomCols = csvCols(b, "bloom_csv"),
            sketchCols = csvCols(sk, "sketch_csv"),
            quantileCols = csvCols(q, "quantile_csv")) },
      "(path, zone_csv, bloom_csv, sketch_csv, quantile_csv) as literals")

    ext.injectFunction((
      FunctionIdentifier("heavy_hitters_sketch"),
      info("heavy_hitters_sketch",
        "heavy_hitters_sketch(item, k) - aggregate: Misra-Gries summary " +
          "struct<n, items: array<struct<item, lb>>>; items is a superset " +
          "of every item with count > n/(k+1)"),
      (args: Seq[Expression]) => args match {
        case Seq(it, kk) => MisraGriesAgg(it, litInt(kk, "k"))
        case _ => throw new IllegalArgumentException(
          "heavy_hitters_sketch expects (item, k)")
      }))
  }
}
