package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.expressions.TextSignatures
import graft.functions.{Text, Vectors}

/** Deduplication operators for the training-data pipeline extensions
  * (builder brief): exact, fingerprint, MinHash+LSH, SimHash, n-gram
  * Jaccard, embedding-cosine near-dup.
  *
  * Scale design (100 TB): every variant is
  * fan-out-bounded — candidate generation only ever joins within an LSH
  * bucket / band key, never all-pairs; signatures are computed in a
  * single codegen'd projection; the only shuffles are the groupBy on the
  * band key and the final candidate join, both keyed well enough for AQE
  * to handle skew.
  */
object Dedup {

  /** Exact dedup by content hash: one row per distinct text with the
    * surviving (minimum) id and the duplicate count. */
  def exact(df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.groupBy(md5(col(textCol)).as("text_hash"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("dup_cnt"))

  /** Fingerprint dedup: exact dedup over the normalized-content
    * fingerprint (case/punct/whitespace-insensitive). */
  def byFingerprint(df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.groupBy(Text.fingerprint(col(textCol)).as("fp"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("dup_cnt"))

  /** Banded minhash signature frame: (band, band_key, id, sig) — the
    * shared LSH-blocking representation for batch self-join dedup
    * ([[minHashLsh]]) and incremental new-vs-corpus dedup
    * (graft.streaming.IncrementalDedup, which persists this frame as
    * the corpus signature store). */
  def bandFrame(df: DataFrame, textCol: String, idCol: String,
                numHashes: Int = 64, bands: Int = 16): DataFrame = {
    val rows = numHashes / bands
    df.select(
        col(idCol).as("id"),
        TextSignatures.minHashSig(col(textCol), numHashes).as("sig"))
      .select(col("id"), col("sig"),
        posexplode(Text.lshBands(col("sig"), bands, rows)))
      .withColumnRenamed("pos", "band")
      .withColumnRenamed("col", "band_key")
  }

  /** Drop rows in over-sized (band, band_key) buckets. `sampled` is a
    * banded frame over a `fraction` sample of the same corpus (pass
    * the full frame with fraction 1.0 for an exact census); buckets
    * whose sampled size exceeds maxBucket×fraction are anti-joined
    * away (broadcast left_anti = a MAP-SIDE filter — apply BEFORE any
    * shuffle so hot-bucket rows never cross the wire).
    *
    * A sampled census is partition-dependent (Spark seeds samples per
    * partition) and statistical near the threshold — acceptable for a
    * safety valve whose job is catching O(L²) blowups, but callers
    * needing partition-invariant output (or whose maxBucket×fraction
    * is too small to estimate) should census exactly; [[minHashLsh]]/
    * [[simHashDup]] fall back to exact automatically when the scaled
    * threshold would drop below 10 sampled rows. */
  private[graft] def hotBucketGuard(banded: DataFrame, sampled: DataFrame,
                                    maxBucket: Int, fraction: Double,
                                    keys: Seq[String] = Seq("band", "band_key"))
      : DataFrame = {
    val scaled = math.max(1L, (maxBucket * fraction).toLong)
    val hot = sampled.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("_bc")).filter(col("_bc") > scaled)
      .select(keys.map(col): _*)
    banded.join(broadcast(hot), keys, "left_anti")
  }

  /** Effective census fraction: exact when the sampled threshold would
    * be too coarse to distinguish a hot bucket from noise. */
  private def effectiveCensusFraction(maxBucket: Int, fraction: Double): Double =
    if (maxBucket * fraction < 10) 1.0 else fraction

  /** Estimated Jaccard = fraction of equal signature entries. Native
    * primitive loop ([[graft.expressions.SigMatchFrac]]) — evaluated
    * once per candidate pair, the hot tail of the band self-join.
    * [[hofEstJaccard]] is the portable reference form (spec-pinned
    * equal). */
  def estJaccard(sigA: Column, sigB: Column, numHashes: Int): Column =
    graft.expressions.SigMatchFrac.sigMatchFrac(sigA, sigB, numHashes)

  /** HOF reference formulation of [[estJaccard]]. */
  def hofEstJaccard(sigA: Column, sigB: Column, numHashes: Int): Column =
    aggregate(
      zip_with(sigA, sigB, (x, y) => when(x === y, 1).otherwise(0)),
      lit(0),
      (acc, v) => acc + v).cast("double") / lit(numHashes.toDouble)

  /** MinHash+LSH near-dup candidate pairs.
    *
    * shingle → k-permutation minhash signature → band keys → explode →
    * self-join per band bucket → distinct pairs → estimated Jaccard =
    * fraction of matching signature entries. Join fan-out is bounded by
    * bucket size; identical docs share all bands but collapse via
    * distinct on (id_a, id_b).
    */
  def minHashLsh(df: DataFrame, textCol: String, idCol: String,
                 numHashes: Int = 64, bands: Int = 16,
                 estThreshold: Double = 0.5,
                 maxBucket: Int = 10000,
                 censusFraction: Double = 0.05): DataFrame = {
    // PURE lazy plan, deliberately uncached — caching here either
    // leaks storage memory across invocations (round-1 advisor
    // finding) or, checkpointed eagerly, makes query CONSTRUCTION run
    // jobs and erases the plan/lineage. The banded frame is co-located
    // on the candidate key ONCE and both self-join branches are
    // canonically identical subplans over it → one runtime stage via
    // exchange reuse, so the full-corpus scan + signature computation
    // runs a single time. At lake scale, write the signature frame to
    // storage once and read it back (IncrementalDedup does exactly
    // that).
    // Skew guard FIRST, shuffle SECOND: a bucket larger than maxBucket
    // is boilerplate/template text, not near-duplication — joining it
    // would fan out O(L²). Hot buckets are detected on a seeded doc
    // sample (an exact census is a second full signature pass; the
    // automatic exact fallback covers small thresholds), and the
    // broadcast anti-join filters hot rows on the MAP side — they
    // never enter the repartition shuffle, so the guard cannot itself
    // become the single-partition straggler it exists to remove.
    val f = effectiveCensusFraction(maxBucket, censusFraction)
    val census =
      if (f >= 1.0) bandFrame(df, textCol, idCol, numHashes, bands)
      else bandFrame(df.sample(withReplacement = false, f, seed = 7L),
        textCol, idCol, numHashes, bands)
    // Blocking shuffles IDS ONLY: the signature (numHashes longs,
    // ~0.5 KB) is dropped before the exchange, so the banded frame
    // crossing the wire is (band, band_key, id) — ~20× lighter than
    // carrying the sig through bands× replicas. Signatures are joined
    // back below for just the candidate pairs (one extra sig pass over
    // the corpus — compute is cheap; replicated shuffle bytes are not).
    val guarded = hotBucketGuard(
      bandFrame(df, textCol, idCol, numHashes, bands).drop("sig"),
      census, maxBucket, f)
      .repartition(col("band"), col("band_key"))
    val a = guarded.select(col("band"), col("band_key"), col("id").as("id_a"))
    val b = guarded.select(col("band"), col("band_key"), col("id").as("id_b"))
    val cand = a.join(b, Seq("band", "band_key"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"))
      .distinct() // a pair colliding in several bands verifies once
    val sigs = df.select(col(idCol).as("id"),
      TextSignatures.minHashSig(col(textCol), numHashes).as("sig"))
    cand
      .join(sigs.select(col("id").as("id_a"), col("sig").as("sig_a")), Seq("id_a"))
      .join(sigs.select(col("id").as("id_b"), col("sig").as("sig_b")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        estJaccard(col("sig_a"), col("sig_b"), numHashes).as("est_jaccard"))
      .filter(col("est_jaccard") >= estThreshold)
  }

  /** SimHash near-dup pairs: 64-bit signatures, candidates = equal
    * 16-bit quarter-bands (any doc pair within hamming distance 3 shares
    * at least one of 4 bands), verified by full hamming distance. */
  /** Quarter-band frame for simhash: (id, sig, bkey) where `bkey`
    * PACKS (band, 16-bit slice) into one int — `(band << 16) | slice`,
    * exact (2 + 16 bits, no collisions). One packed key column instead
    * of (band, band_key) drops an 8-byte UnsafeRow slot from every row
    * of the three band exchanges (repartition, probe explode, join) —
    * at 100× the multiprobe side is ~136M rows — and halves the join's
    * key hashing/comparison work (round 18, guide §2.3). */
  private def simBandFrame(df: DataFrame, textCol: String,
                           idCol: String): DataFrame =
    df.select(col(idCol).as("id"), TextSignatures.simHashSig(col(textCol)).as("sig"))
      .select(col("id"), col("sig"),
        explode(array((0 until 4).map { q =>
          // 16-bit quarter q of the signature, band index in bits 16-17
          (shiftrightunsigned(col("sig"), q * 16).bitwiseAND(lit(0xFFFFL)) +
            lit(q.toLong << 16)).cast("int")
        }: _*)).as("bkey"))

  /** `probeBits = 1` turns on MULTIPROBE banding (the LSH multiprobe
    * idea on the quarter-band index): one join side also carries
    * every one-bit-flipped variant of each 16-bit band key (16 extra
    * keys per band), which raises the candidate GUARANTEE from
    * hamming ≤ 3 (plain pigeonhole over 4 exact bands) to
    * hamming ≤ 7 (4 quarters can't all differ by ≥ 2 below total 8) —
    * closing the measured q12 gap where hamming-4/5 truth pairs
    * spread one differing bit into every quarter and shared no exact
    * band (QualityMarginSpec's missed-pair diagnostics). Cost is
    * explicit: the probe side's band frame grows 17×, so the shipped
    * q12 keeps probeBits = 0 and the floor is owned by the margin
    * spec; turn multiprobe on when recall at hamming 4–7 is worth a
    * 17× candidate-side shuffle (it stays ids+sig only). */
  def simHashDup(df: DataFrame, textCol: String, idCol: String,
                 maxHamming: Int = 3, maxBucket: Int = 10000,
                 censusFraction: Double = 0.05,
                 probeBits: Int = 0): DataFrame = {
    require(probeBits == 0 || probeBits == 1,
      s"probeBits must be 0 (exact bands) or 1 (one-bit multiprobe), " +
        s"got $probeBits")
    // uncached on purpose; guard-then-shuffle with one shared exchange
    // — see minHashLsh. The guard matters here too: exact duplicates
    // share ALL quarter-bands (identical signatures), so boilerplate
    // collapses into the same 4 buckets.
    val f = effectiveCensusFraction(maxBucket, censusFraction)
    val census =
      if (f >= 1.0) simBandFrame(df, textCol, idCol)
      else simBandFrame(df.sample(withReplacement = false, f, seed = 7L),
        textCol, idCol)
    val guarded = hotBucketGuard(simBandFrame(df, textCol, idCol),
      census, maxBucket, f, keys = Seq("bkey"))
      .repartition(col("bkey"))
    // one-bit flips touch only the 16 slice bits — the band bits
    // (16-17) of the packed key are untouched, so probes stay within
    // their own band exactly as the (band, band_key) form did
    def oneBitProbes(fr: DataFrame): DataFrame =
      fr.select(
        explode(array((col("bkey") +:
          (0 until 16).map(bit =>
            col("bkey").bitwiseXOR(lit(1 << bit)))): _*))
          .as("bkey"),
        col("id"), col("sig"))
    val probed =
      if (probeBits == 0) guarded
      else
        // the hot-bucket cap must hold on the PROBED keys too
        // (round-16 advisor): the exact-key guard above bounds each
        // surviving exact bucket, but 16 one-bit neighborhoods can
        // CONVERGE on one flipped key (boilerplate sigs cluster),
        // rebuilding up to 17× maxBucket on a single join key — so
        // re-census the flipped frame and drop its hot buckets the
        // same way. The probe census flips the SAME sampled rows,
        // including ones the exact guard dropped — a conservative
        // over-estimate that errs toward dropping (the guard's
        // winnowing stance).
        hotBucketGuard(oneBitProbes(guarded),
          oneBitProbes(census.select(col("bkey"), col("id"), col("sig"))),
          maxBucket, f, keys = Seq("bkey"))
    val a = probed.select(col("bkey"), col("id").as("id_a"), col("sig").as("sig_a"))
    val b = guarded.select(col("bkey"), col("id").as("id_b"), col("sig").as("sig_b"))
    a.join(b, Seq("bkey"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        Text.hamming(col("sig_a"), col("sig_b")).as("hamming"))
      // verify BEFORE dedup: hamming is computable per candidate row
      // (sig rides the band frame — unlike minHashLsh, no re-join
      // needed), and filter∘distinct ≡ distinct∘filter, so cutting
      // the ~99% of candidates that fail the radius BEFORE the
      // distinct's exchange shrinks that shuffle from candidate-set
      // size to output size. With multiprobe (probeBits = 1) this is
      // the difference between shuffling 4.8× the exact-band
      // candidates and shuffling the same output pairs either way
      // (measured at 100×: 80.9 s → see SCALING.md round-17).
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  /** Exact n-gram Jaccard similarity for candidate pairs produced by any
    * blocking strategy. `pairs` must have (id_a, id_b). */
  def ngramJaccard(df: DataFrame, pairs: DataFrame, textCol: String,
                   idCol: String, n: Int = 3): DataFrame = {
    val sh = df.select(col(idCol).as("id"),
      array_distinct(graft.expressions.TextSignatures.shingles(col(textCol), n)).as("sh"))
    pairs
      .join(sh.withColumnRenamed("id", "id_a").withColumnRenamed("sh", "sh_a"), Seq("id_a"))
      .join(sh.withColumnRenamed("id", "id_b").withColumnRenamed("sh", "sh_b"), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        (size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
          size(array_union(col("sh_a"), col("sh_b"))).cast("double")).as("jaccard"))
  }

  /** Monotone suffix for observation names: Spark requires observe()
    * names to be unique within a query, and the dedup combinators can
    * compose (q64 runs jaccardSelfJoin and sharedSpans downstream
    * frames in one session). Deterministic (no wall clock). */
  private val obsSeq = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Hot-POSTING-LIST guard — the inverted-index analog of
    * [[hotBucketGuard]]. `byKey` is a (key, posting-list) frame about
    * to be expanded into per-key (a, b) pairs; a key shared by df docs
    * expands to df²/2 rows, so one boilerplate fingerprint held by 10⁶
    * docs at corpus scale yields ~5·10¹¹ pair rows on a single grouping
    * key — a job-killing skew no AQE split can fix (it is one key).
    * Lists longer than `maxPostings` are DROPPED before expansion: a
    * token shared by that many documents is template/boilerplate text,
    * not evidence of pairwise duplication (the winnowing/MOSS rule —
    * "ignore fingerprints that occur in too many documents", Schleimer
    * et al. SIGMOD'03 §4; the reference point for sharedSpans' scheme).
    *
    * NOT a silent cap: the drop count rides the query as a named
    * observed metric (`graft_hot_postings_*`: dropped_keys /
    * dropped_postings / max_df) and [[HotPostingsWarner]] prints a
    * WARN to the driver log whenever a run actually dropped keys.
    * Callers needing exact semantics on a boilerplate-heavy corpus
    * raise `maxPostings` (or pre-strip templates) explicitly. */
  private[graft] def dropHotPostings(byKey: DataFrame, listCol: String,
                                     maxPostings: Int): DataFrame = {
    require(maxPostings >= 2,
      s"maxPostings must allow at least one pair (got $maxPostings)")
    HotPostingsWarner.ensure(byKey.sparkSession)
    byKey
      .withColumn("_df", size(col(listCol)))
      .observe(s"graft_hot_postings_${obsSeq.incrementAndGet()}",
        sum(when(col("_df") > maxPostings, 1L).otherwise(0L)).as("dropped_keys"),
        sum(when(col("_df") > maxPostings, col("_df").cast("long"))
          .otherwise(0L)).as("dropped_postings"),
        max(col("_df")).cast("long").as("max_df"))
      .filter(col("_df") <= maxPostings)
      .drop("_df")
  }

  /** Expand each row's array column into its ordered (a < b) element
    * pairs. Elements are sorted (so pairs come out ordered) and the
    * expansion is TWO chained Generates — per-row memory stays O(df)
    * where df is the list length: a hot posting list (boilerplate
    * shingle/fingerprint shared by 20k docs) degrades into many rows
    * across tasks instead of materializing all df²/2 combination
    * structs inside one 2 GB row. Row COUNT is still Σ df² — callers
    * bound it with [[dropHotPostings]] before expanding. Shared by
    * jaccardSelfJoin, sharedSpans and
    * IncrementalDedup.processSpanBatch, which all encode
    * pairs-from-postings. Output columns: (_a, _b) of the
    * array's element type. */
  private[graft] def pairCombos(grouped: DataFrame, idsCol: String): DataFrame =
    grouped
      .select(sort_array(col(idsCol)).as("_sorted"))
      .select(col("_sorted"), posexplode(col("_sorted")))
      .withColumnRenamed("pos", "_i").withColumnRenamed("col", "_a")
      .select(col("_a"),
        explode(slice(col("_sorted"), col("_i") + lit(2), size(col("_sorted"))))
          .as("_b"))

  /** Exact n-gram Jaccard SELF-join via an inverted shingle index: all
    * pairs with jaccard ≥ `minJ`, bit-identical to running
    * [[ngramJaccard]] over every id pair — but without materializing
    * the O(N²) pair space. Each doc's distinct shingles explode to
    * (shingle, id) postings; the postings self-join computes
    * |A∩B| as a COUNT per co-occurring pair (only pairs sharing ≥1
    * shingle ever exist, and any pair sharing none has jaccard
    * 0 < minJ — so the result set is provably identical for minJ > 0);
    * |A∪B| = |A|+|B|-|A∩B| from two broadcast-sized size joins. The
    * jaccard value is the same integer division the array form
    * computes, so downstream thresholds see identical doubles
    * (OperatorsSpec pins equality against the all-pairs form).
    *
    * Scale shape: cost is Σ_shingle df(shingle)² instead of N² — rare
    * shingles (the overwhelming majority of word 3-grams) contribute
    * ~nothing. A pathologically hot shingle (boilerplate) would
    * concentrate its postings on one key and expand df²/2 pair rows
    * there, so posting lists over `maxPostings` are dropped before
    * expansion ([[dropHotPostings]] — loud, observed-metric-counted).
    * Dropping a hot shingle removes it from |A∩B| while |A| and |B|
    * stay full, so affected pairs' jaccard is slightly UNDERestimated
    * — the conservative direction for a dedup threshold, and exact
    * whenever no shingle exceeds the bound (OperatorsSpec pins
    * equality against the all-pairs form below the bound). At corpus
    * scale apply q11's LSH blocking first and reserve this for exact
    * refinement or bounded blocks. */
  def jaccardSelfJoin(df: DataFrame, textCol: String, idCol: String,
                      n: Int = 3, minJ: Double = 0.5,
                      maxPostings: Int = 10000): DataFrame = {
    // The inverted-index equivalence above only holds for minJ > 0:
    // pairs sharing zero shingles never materialize here but DO exist
    // (jaccard 0) in the all-pairs form.
    require(minJ > 0, s"jaccardSelfJoin requires minJ > 0 (got $minJ); " +
      "use ngramJaccard over explicit pairs for a zero-threshold scan")
    // ONE corpus pass, zero joins: each posting carries its doc's
    // shingle-set size, so |A∪B| needs no size lookup; pairs expand
    // from per-shingle posting lists (a postings SELF-join would run
    // the shingle pipeline once per join side — self-join subtrees
    // don't exchange-reuse — and two more times for the size joins).
    // The only shuffles are the shingle groupBy and the pair-count
    // aggregate.
    val sh = df.select(col(idCol).as("id"),
      array_distinct(graft.expressions.TextSignatures.shingles(col(textCol), n)).as("sh"))
    val postings = sh.select(col("id"), size(col("sh")).as("sz"),
      explode(col("sh")).as("shingle"))
    val byShingle = postings.groupBy(col("shingle"))
      .agg(collect_list(struct(col("id"), col("sz"))).as("_ps"))
    pairCombos(dropHotPostings(byShingle, "_ps", maxPostings), "_ps")
      .groupBy(col("_a.id").as("id_a"), col("_b.id").as("id_b"),
        col("_a.sz").as("sz_a"), col("_b.sz").as("sz_b"))
      .agg(count(lit(1)).as("_inter"))
      .select(col("id_a"), col("id_b"),
        (col("_inter").cast("double") /
          (col("sz_a") + col("sz_b") - col("_inter")).cast("double")).as("jaccard"))
      .filter(col("jaccard") >= minJ)
  }

  /** Winnowing span fingerprints (the MOSS scheme, Schleimer et al.
    * SIGMOD'03): hash every `k`-word gram, then keep the MINIMUM hash
    * of each `w`-gram window of consecutive positions. Any verbatim
    * span of ≥ k+w-1 shared words between two documents is GUARANTEED
    * to contribute ≥1 common fingerprint (the window containing the
    * shared span's minimum picks the same gram in both docs), while
    * storage is ~1/w of all gram hashes. Fully deterministic — the
    * hash is md5 of the gram text and "min" is lexicographic on the
    * hex digest, both of which DuckDB reproduces bit-for-bit (q63's
    * oracle). Returns distinct (id, fp). */
  def spanFingerprints(df: DataFrame, textCol: String, idCol: String,
                       k: Int = 8, w: Int = 4): DataFrame =
    // Gram hashes never leave their row, so the whole kernel —
    // grams → md5 → window minima → distinct — is ONE native
    // expression ([[graft.expressions.WinnowFingerprints]], bit-
    // identical to the five-operator Column tree it replaced and to
    // the q63 oracle's DuckDB replay): no shuffle, and none of the
    // per-position gram-string / hex-string / window-array
    // allocations that made the tree q63's cost leader at 100×.
    df.select(col(idCol).as("id"),
      explode(graft.expressions.TextSignatures
        .winnowFingerprints(col(textCol), k, w)).as("fp"))

  /** Cross-document VERBATIM-SPAN detection: pairs of documents whose
    * winnowed fingerprints ([[spanFingerprints]]) collide at least
    * `minShared` times — i.e. documents sharing copied spans, not
    * merely similar vocabularies. This is substring-level dedup /
    * decontamination (a benchmark answer pasted into a training doc
    * trips it even when the rest of the doc differs completely — the
    * case doc-level jaccard misses). Same inverted-index shape as
    * [[jaccardSelfJoin]]: only documents sharing ≥1 fingerprint ever
    * meet, cost Σ df(fp)². */
  def sharedSpans(df: DataFrame, textCol: String, idCol: String,
                  k: Int = 8, w: Int = 4, minShared: Long = 3L,
                  maxPostings: Int = 10000): DataFrame = {
    // No self-join: group the posting list per fingerprint and expand
    // its (a < b) combinations — the corpus is hashed and winnowed
    // ONCE by construction (a self-join would run the fingerprint
    // pipeline per side: lambda-bearing subtrees defeat exchange-reuse
    // canonicalization), and the only shuffles are the fp groupBy and
    // the pair-count aggregate. Per-fp cost is df(fp)² ROWS like any
    // postings join (pairCombos keeps per-row memory O(df)); winnowed
    // 8-gram fingerprints keep df tiny (max 3 across sf0.01), and
    // posting lists over `maxPostings` — a fingerprint present in that
    // many documents is boilerplate, not a copied span — are dropped
    // loudly before expansion ([[dropHotPostings]], the MOSS
    // too-common-fingerprint rule). Dropping a boilerplate fp lowers
    // n_shared for pairs sharing it — the conservative direction for a
    // copied-span detector — and the result is exact whenever no fp
    // exceeds the bound.
    val fps = spanFingerprints(df, textCol, idCol, k, w)
    val byFp = fps.groupBy(col("fp")).agg(collect_list(col("id")).as("_ids"))
    pairCombos(dropHotPostings(byFp, "_ids", maxPostings), "_ids")
      .groupBy(col("_a").as("id_a"), col("_b").as("id_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** Cross-document VERBATIM-SPAN EXCISION — the REMOVAL half of the
    * copied-span story ([[sharedSpans]] only DETECTS): cut every
    * word position covered by a `k`-gram that appears verbatim in
    * ≥ `minDf` distinct documents, keeping each document's unique
    * remainder intact. Lee et al. 2022 ("Deduplicating Training Data
    * Makes Language Models Better") show repeated substrings — license
    * blocks, templated headers, pasted passages — hurt LM quality
    * even inside otherwise-unique documents, where document-level
    * dedup (q10/q11) and doc-DROPPING filters (q81's duplicated-
    * n-gram fraction) can't reach. Policy here is REMOVE-EVERYWHERE
    * (the C4/boilerplate stance) rather than keep-one-occurrence:
    * a span common to ≥ minDf documents is treated as template, not
    * content. SEMANTICS are hash-free — the df threshold is defined
    * on the gram text, which is what q111's DuckDB oracle replays —
    * while the df SHUFFLE carries a 128-bit gram fingerprint (two
    * xxhash64 lanes, the q82 shuffle-byte convention; a collision
    * needs two distinct grams sharing both lanes, ~2⁻¹²⁸).
    *
    * Plan: (1) one generate pass expands each doc into its (start,
    * gram) pairs — the gram array is built row-locally by a HOF
    * (k× text bytes, linear — the token array is never carried
    * through the explode); (2) one groupBy-gram counts distinct
    * docs and keeps grams with df ≥ minDf — THE shuffle, Σ grams ≈
    * corpus tokens, with map-side partial aggregation; (3) hot
    * starts join back (the hot set is a tiny fraction of grams —
    * AQE broadcasts it when it fits) and collect per doc; (4) the
    * native [[graft.expressions.ExciseKept]] kernel drops covered
    * positions — sorted starts, one merged-interval walk, O(tokens +
    * starts·log starts) per doc even when the document is ENTIRELY
    * template (hot starts ≈ tokens), where the HOF `exists` form it
    * replaced was quadratic. No pair expansion anywhere:
    * unlike [[sharedSpans]]' Σdf² postings combos this is Σdf — the
    * excision door scales strictly better than the detection door.
    *
    * Tokens are `\s+`-split verbatim words (case-SENSITIVE — excised
    * spans are verbatim copies, the Lee et al. definition; run
    * [[graft.functions.Text.cjkPreSplit]] upstream for CJK corpora).
    * Documents shorter than k tokens contribute no grams and pass
    * through untouched; EMPTY and NULL texts tokenize to ZERO tokens
    * (not the [""] a naive split of '' yields), so they report
    * n_tokens = 0. Returns (id, clean_text, n_tokens, n_removed) —
    * n_tokens counts the ORIGINAL tokens, n_removed how many were
    * excised. */
  def exciseSharedSpans(df: DataFrame, textCol: String, idCol: String,
                        k: Int = 8, minDf: Long = 2L): DataFrame = {
    require(k >= 1, s"k-gram length must be >= 1, got $k")
    require(minDf >= 2, s"minDf < 2 would excise every position " +
      s"(df >= 1 always holds), got $minDf")
    val base = spanBase(df, textCol, idCol)
    // the join side recomputes the gram pass rather than sharing an
    // exchange with the df-agg branch: column pruning projects the two
    // branches differently, so a shared repartition never dedups and
    // only adds a corpus-sized exchange (OPTIMIZATION_r18.md §8)
    val grams = spanGrams(base, k)
    val hot = grams.groupBy(col("_f1"), col("_f2"))
      .agg(countDistinct(col("id")).as("_df"))
      .filter(col("_df") >= minDf)
      .select(col("_f1"), col("_f2"))
    val hotStarts = grams.join(hot, Seq("_f1", "_f2"))
      .groupBy(col("id")).agg(collect_list(col("_i")).as("_starts"))
    exciseAgainst(base, hotStarts, k)
  }

  /** [[exciseSharedSpans]]'s tokenized frame: (id, _toks) with the
    * `\s+` verbatim-word convention and the zero-tokens-on-empty
    * guard. Shared with the incremental ingest form
    * ([[graft.streaming.IncrementalExcision]]). */
  private[graft] def spanBase(df: DataFrame, textCol: String,
                              idCol: String): DataFrame = {
    val norm = trim(regexp_replace(
      coalesce(col(textCol), lit("")), "\\s+", " "))
    val toks = when(length(norm) === 0, array().cast("array<string>"))
      .otherwise(split(norm, " "))
    df.select(col(idCol).as("id"), toks.as("_toks"))
  }

  /** The (id, start, gram-fingerprint) frame of [[exciseSharedSpans]]:
    * (start, gram) pairs via a row-local HOF — the gram array costs
    * k× the text bytes (linear); carrying _toks through the explode
    * instead would copy the whole token array into every position's
    * row, the quadratic-bytes mistake the winnow kernel fixed. The df
    * shuffle carries a 128-bit gram FINGERPRINT (two independent
    * xxhash64 lanes — the q82 convention), not the ~k-word gram
    * string: ~3× fewer shuffle bytes and integer agg keys. The oracle
    * still replays RAW-gram semantics — a fingerprint collision (two
    * distinct grams sharing both lanes, ~2⁻¹²⁸ per pair) is the
    * accepted q82 risk, astronomically below any operational
    * concern. */
  private[graft] def spanGrams(base: DataFrame, k: Int): DataFrame =
    // the fingerprint lanes are computed INSIDE the per-row kernel
    // (one joined-bytes buffer per row, grams hashed as slices of it
    // — round 18; bit-identical to the old
    // xxhash64(concat_ws(" ", slice))) chain, pinned by
    // GramFingerprintsParity), so no gram string is ever allocated or
    // crosses the explode
    base.select(col("id"), posexplode(graft.expressions.TextSignatures
        .gramFingerprints(col("_toks"), k)).as(Seq("_i", "_fp")))
      .select(col("id"), col("_i"),
        col("_fp._f1").as("_f1"), col("_fp._f2").as("_f2"))

  /** The excision tail: cut every position of `base` covered by a
    * hot-gram start in `hotStarts` = (id, _starts) — the native
    * [[graft.expressions.ExciseKept]] sorted-starts interval walk
    * (linear per row). */
  private[graft] def exciseAgainst(base: DataFrame, hotStarts: DataFrame,
                                   k: Int): DataFrame =
    base.join(hotStarts, Seq("id"), "left")
      .select(col("id"),
        col("_toks"), coalesce(col("_starts"),
          array().cast("array<int>")).as("_st"))
      .select(col("id"), col("_toks"),
        // covered(i) ⇔ some hot gram starts in (i-k, i]
        graft.expressions.TextSignatures
          .exciseKept(col("_toks"), col("_st"), k).as("_kept"))
      .select(col("id"),
        array_join(col("_kept"), " ").as("clean_text"),
        size(col("_toks")).cast("long").as("n_tokens"),
        (size(col("_toks")) - size(col("_kept"))).cast("long")
          .as("n_removed"))

  /** Collapse near-dup candidate pairs into duplicate clusters via
    * connected components; survivors = the minimum id per cluster.
    * This is the step after any blocking strategy (minhash / simhash /
    * embedding): pairs are edges, docs are vertices, a cluster is
    * everything transitively linked. Two paths under one contract:
    * edge sets within `smallEdgeLimit` collapse in a driver union-find
    * (bounded memory by construction — the probe collects at most
    * limit+1 rows), larger ones through the DataFrame-native
    * alternating-star collapse ([[distributedMinLabel]], round 18).
    * Returns (id, keep_id) for every id that appears in some pair.
    *
    * CONTRACT: ids must be (castable to) distinct longs. String corpus
    * ids (URLs, hashes) must be mapped to a dense/hashed long id
    * upstream; casting would null non-numeric ids and collide '007'
    * with '7'.
    *
    * CALLER-MUST-UNPERSIST (round-15 advisor): the distributed path
    * returns its (id, keep_id) result PERSISTED (MEMORY_AND_DISK) —
    * that pin is what lets the operator release its iteration caches
    * eagerly instead of leaking them, but it means each
    * invocation leaves one small cached frame behind. Long-lived
    * sessions must `result.unpersist()` after their downstream
    * consumption materializes (Bench sweeps persistent RDDs between
    * queries for the same reason); one-shot jobs can ignore it — the
    * frame is two longs per paired id and dies with the session. */
  /** [[clusterDuplicates]] with the CALLER-MUST-UNPERSIST contract
    * discharged structurally (round-15 advisor, round-16 task 7):
    * `f` consumes the clusters frame and MUST MATERIALIZE that
    * consumption before returning (collect, count, localCheckpoint —
    * anything that executes; a lazily-escaping frame would recompute
    * the clustering, correct but expensive on the distributed path). The
    * persisted frame is released when `f` returns, so long-lived
    * sessions stop accumulating one cached frame per invocation. */
  def clusterDuplicatesScoped[T](pairs: DataFrame,
                                 spark: org.apache.spark.sql.SparkSession,
                                 smallEdgeLimit: Long = 100000L)
                                (f: DataFrame => T): T = {
    val clusters = clusterDuplicates(pairs, spark, smallEdgeLimit)
    try f(clusters)
    finally { clusters.unpersist(); () }
  }

  def clusterDuplicates(pairs: DataFrame, spark: org.apache.spark.sql.SparkSession,
                        smallEdgeLimit: Long = 100000L): DataFrame = {
    require(smallEdgeLimit >= 0 && smallEdgeLimit < Int.MaxValue,
      s"smallEdgeLimit must fit an int probe, got $smallEdgeLimit")
    // Persisted so the pair pipeline (minhash/jaccard candidate
    // generation — the expensive part) computes ONCE: the bounded probe
    // below reads it, and when the probe overflows, the distributed
    // path reads it again instead of recomputing the whole candidate
    // pipeline a second time. Released before
    // return on every path (the RESULT keeps the caller-must-unpersist
    // contract; this cache is internal).
    val ids = pairs.select(col("id_a").cast("long"), col("id_b").cast("long"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // Bounded probe: collect at most limit+1 edges. Post-threshold dup
      // edges are a tiny fraction of any corpus, so the common case fits;
      // when it doesn't, the probe cost is capped at `smallEdgeLimit`
      // rows (CollectLimit short-circuits) and the distributed collapse
      // takes over. The split exists because any distributed iterative
      // machinery costs ~1 s of fixed overhead per run — two orders of
      // magnitude more than a union-find over a bench-scale edge set —
      // while a driver structure over >O(10⁷) edges would be the memory
      // mistake. All paths produce the identical (id, min id in
      // component) contract (OperatorsSpec pins them against each other).
      val probe = ids.limit(smallEdgeLimit.toInt + 1).collect()
      if (probe.length <= smallEdgeLimit) {
        // driver union-find, union-by-min: the root of every tree is the
        // minimum id of its component at all times
        val parent = scala.collection.mutable.Map.empty[Long, Long]
        def find(x: Long): Long = {
          var r = x
          while (parent(r) != r) { parent(r) = parent(parent(r)); r = parent(r) }
          r
        }
        probe.foreach { row =>
          val a = row.getLong(0); val b = row.getLong(1)
          parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
          val (ra, rb) = (find(a), find(b))
          if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
        }
        val out = parent.keysIterator.map(id => (id, find(id))).toSeq
        spark.createDataFrame(out).toDF("id", "keep_id")
      } else distributedMinLabel(ids, spark)
    } finally { ids.unpersist(blocking = false); () }
  }

  /** Distributed connected components as alternating large-star /
    * small-star rounds over the EDGE FRAME (Kiveris et al. 2014,
    * "Connected Components in MapReduce and Beyond") — the round-18
    * replacement for the GraphX Pregel large path. Everything stays in
    * Tungsten rows under whole-stage codegen: one window-min pass +
    * one distinct per star (2 exchanges), against Pregel's per-
    * iteration cached VertexRDD/EdgeRDD joins of Java-serialized
    * objects and their scheduling fan-out.
    *
    *   - large-star: every node's ABOVE-it neighbors re-hang under its
    *     component-minimum candidate `m = min(N(u) ∪ u)` — giant stars
    *     flatten in one round (the skew safety valve);
    *   - small-star: every node's BELOW-it neighbors (and the node)
    *     re-hang under `m = min(N(u))`;
    *   - fixpoint: the edge set is a star forest rooted at component
    *     minima — exactly the (id, keep_id) contract. Convergence is
    *     O(log² n) rounds in theory, 2–4 rounds on dedup-shaped edge
    *     sets (components are near-cliques from pair enumeration).
    *
    * The fixpoint test is DETERMINISTIC set equality (same count +
    * one-sided exceptAll empty), not a hash proxy. Each round is
    * persisted and materialized, the previous round released, so live
    * cache is one edge generation; the returned frame is persisted
    * (caller-must-unpersist, same contract as before). */
  private[operators] def distributedMinLabel(
      ids: DataFrame, spark: org.apache.spark.sql.SparkSession): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val byU = Window.partitionBy("u")
    // Every star references its input exactly ONCE (symmetrization and
    // the two-output emit both go through explode, not self-union):
    // a self-referencing formulation doubles the logical plan per
    // round — exponential tree growth that OOMs plan *printing* long
    // before data does.
    def canon(e: DataFrame): DataFrame = e.distinct()
    def largeStar(e: DataFrame): DataFrame =
      e.select(explode(array(
          struct(col("u"), col("v")),
          struct(col("v").as("u"), col("u").as("v")))).as("p"))
        .select(col("p.u").as("u"), col("p.v").as("v"))
        .withColumn("m", least(min(col("v")).over(byU), col("u")))
        .where(col("v") > col("u")) // v > u >= m, so output stays canonical
        .select(col("v").as("u"), col("m").as("v"))
    def smallStar(e: DataFrame): DataFrame =
      // e is canonical: every neighbor v of key u satisfies v < u.
      // Emit (v, m) per non-min neighbor plus (u, m) — the latter once
      // per ROW (deduped by the caller's canon) to keep one input ref.
      e.withColumn("m", min(col("v")).over(byU))
        .select(explode(when(col("v") =!= col("m"),
            array(struct(col("v").as("u"), col("m").as("v")),
                  struct(col("u"), col("m").as("v"))))
          .otherwise(array(struct(col("u"), col("m").as("v"))))).as("p"))
        .select(col("p.u").as("u"), col("p.v").as("v"))
    var cur = canon(ids
        .where(col("id_a") =!= col("id_b"))
        .select(greatest(col("id_a"), col("id_b")).as("u"),
          least(col("id_a"), col("id_b")).as("v")))
      .persist(MEMORY_AND_DISK)
    var n = cur.count()
    var converged = n == 0L
    var rounds = 0
    while (!converged) {
      rounds += 1
      require(rounds <= 64, // 2·log₂²(n) of any feasible n is far below
        "connected-components star rounds failed to converge")
      // one distinct per round: small-star tolerates duplicate edges
      // (window-min unaffected), so large-star's output goes in raw
      val next = canon(smallStar(largeStar(cur)))
        .persist(MEMORY_AND_DISK)
      val nn = next.count()
      // equal cardinality + one-sided difference empty ⇔ set equality
      // (both sides distinct). Left-anti, not exceptAll: EXCEPT ALL
      // plans the count-and-replicate machinery (4 exchanges); the
      // anti-join is one hash join over two cached frames. The check
      // must be exact set equality — a cheaper "no lo appears as hi"
      // star test admits multi-parent states the rounds still fix.
      converged = nn == n &&
        next.join(cur, Seq("u", "v"), "left_anti").isEmpty
      cur.unpersist(blocking = false)
      cur = next; n = nn
    }
    // star forest → (id, keep_id): non-roots point at their component
    // minimum; roots (and isolated self-loop ids) map to themselves
    val nodes = ids.select(col("id_a").as("id"))
      .union(ids.select(col("id_b").as("id"))).distinct()
    val out = nodes.join(cur.withColumnRenamed("u", "id"), Seq("id"), "left")
      .select(col("id"), coalesce(col("v"), col("id")).as("keep_id"))
      .persist(MEMORY_AND_DISK)
    out.count()
    cur.unpersist(blocking = false)
    out
  }

  /** Embedding-cosine near-dup pairs via BANDED sign-random-projection
    * blocking (AND-OR amplification, the minhash-LSH architecture
    * applied to vectors): `bands` independent `planes`-bit signatures
    * (distinct hyperplane seeds per band); pairs agreeing on ANY full
    * band are candidates, verified by exact cosine.
    *
    * A single AND-only bucket of 12 planes catches a cos 0.95 pair with
    * probability ≈ 0.9¹² ≈ 0.28 — most true near-dups never meet. With
    * the default 3 bands × 8 planes the same pair survives ≥1 band with
    * probability 1-(1-0.9⁸)³ ≈ 0.81 (measured 0.85+ on planted pairs,
    * RecallSpec), while random pairs (cos ≈ 0) still collide at only
    * ~0.5⁸ per band. Cost: `bands` explode of the vector frame, one
    * shuffle on (band, band_key), fan-out bounded by bucket size —
    * raise `planes` as the corpus grows to keep buckets O(N/2^planes).
    * Precision is exact by construction (every candidate passes the
    * exact cosine filter); only recall is approximate. */
  /** Scale-adaptive SRP blocking parameters — the q16 100× law: with
    * FIXED planes, expected candidate volume is bands·n²/2^planes
    * (bucket count is constant, bucket size grows with the corpus),
    * i.e. quadratic. Bounding the EXPECTED BUCKET to `targetBucket`
    * instead — planes = log2(n/targetBucket) — makes candidates
    * bands·n·targetBucket/2: linear in n. More planes cut per-band
    * collision probability for TRUE near-dups too (p^planes with
    * p = 1 − θ/π ≈ 0.9 at cosine 0.95), so bands grows to hold the
    * recall floor: bands = ⌈ln(1−recall)/ln(1−p^planes)⌉ — a log-factor
    * cost, not a polynomial one. Floors (8, 3) keep every fixture/bench
    * scale at its historical parameters (n ≤ 16384 ⇒ planes = 8, and
    * bands(8) = 3 under the defaults), so existing recall measurements
    * and rows-only outputs are unchanged there. Deterministic: both
    * parameters derive from n via IEEE log/ceil. */
  def srpParams(n: Long, targetBucket: Long = 64,
                recallFloor: Double = 0.75,
                pNear: Double = 0.9): (Int, Int) = {
    require(n >= 0 && targetBucket > 0 && recallFloor > 0 && recallFloor < 1
      && pNear > 0 && pNear < 1, s"bad srpParams($n, $targetBucket, " +
      s"$recallFloor, $pNear)")
    val planes = math.max(8, math.ceil(
      math.log(math.max(1.0, n.toDouble / targetBucket)) / math.log(2.0)).toInt)
    val pBand = math.pow(pNear, planes)
    val bands = math.max(3, math.ceil(
      math.log1p(-recallFloor) / math.log1p(-pBand)).toInt)
    (planes, bands)
  }

  def embeddingNearDup(df: DataFrame, vecCol: String, idCol: String,
                       threshold: Double = 0.95, planes: Int = 8,
                       bands: Int = 3, maxBucket: Int = 10000,
                       censusFraction: Double = 0.05): DataFrame = {
    // Blocking carries IDS ONLY (band keys from ONE native RpBands
    // traversal, band b's hyperplanes seeded 42+b); the vectors join
    // back below for just the candidate pairs, so the banded exchange
    // moves (band, band_key, id) rows, not bands× copies of the
    // embedding. Guard-then-shuffle like minHashLsh: a degenerate
    // vector population (zero/constant embeddings — every plane sign
    // agrees) collapses into one bucket whose self-join is O(L²);
    // buckets over maxBucket are anti-joined away map-side before any
    // exchange. Precision is unaffected (exact-cosine verify);
    // recall concedes only pairs whose EVERY shared band is
    // boilerplate-hot — the same concession minHashLsh documents.
    def bandFrameOf(d: DataFrame): DataFrame =
      d.select(col(idCol).as("id"),
          posexplode(Vectors.rpBands(col(vecCol), planes, bands)))
        .withColumnRenamed("pos", "band")
        .withColumnRenamed("col", "band_key")
    val f = effectiveCensusFraction(maxBucket, censusFraction)
    val census =
      if (f >= 1.0) bandFrameOf(df)
      else bandFrameOf(df.sample(withReplacement = false, f, seed = 7L))
    val banded = hotBucketGuard(bandFrameOf(df), census, maxBucket, f)
    val a = banded.select(col("band"), col("band_key"), col("id").as("id_a"))
    val b = banded.select(col("band"), col("band_key"), col("id").as("id_b"))
    val cand = a.join(b, Seq("band", "band_key"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"))
      .distinct() // a pair can collide in several bands; verify once
    val vecs = df.select(col(idCol).as("id"), col(vecCol).as("v"),
      Vectors.norm(col(vecCol)).as("nrm"))
    cand
      .join(vecs.select(col("id").as("id_a"), col("v").as("v_a"), col("nrm").as("n_a")), Seq("id_a"))
      .join(vecs.select(col("id").as("id_b"), col("v").as("v_b"), col("nrm").as("n_b")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        Vectors.cosineWithNorms(Vectors.dot(col("v_a"), col("v_b")), col("n_a"), col("n_b")).as("cosine"))
      .filter(col("cosine") >= threshold)
  }

  /** Semantic dedup (the SemDeDup shape): cluster-level pruning of
    * semantically redundant documents.
    *
    *  1. assign every vector to its nearest coarse centroid (one
    *     native `NearestCentroids` projection — centroids are model
    *     parameters inlined as literals, no corpus shuffle);
    *  2. find near-dup pairs WITHIN each cell only — exact cosine over
    *     the cell-blocked self-join, ids-only through the blocking
    *     exchange, vectors joined back per candidate;
    *  3. collapse pairs transitively ([[clusterDuplicates]]);
    *  4. per cluster keep the member closest to its cell centroid
    *     (max centroid-cosine, min id tie-break) — redundancy is
    *     pruned toward the cell's semantic center.
    *
    * Returns one row per input doc: (idCol, cell, survivor_id);
    * a doc survives iff survivor_id == id.
    *
    * Scale contract (100 TB): the cell count is THE lever — within-cell
    * scoring is O(Σ cell²), so centroids must grow with the corpus
    * (k ≈ N/⟨cell⟩ for a target mean cell size; SemDeDup uses ~100k
    * cells for web-scale corpora). Pass k-means centroids from
    * [[Similarity.kmeansCentroids]] (seeded, offline) or any fixed
    * centroid set; with C ≫ cores the cell-keyed exchanges balance and
    * AQE splits stragglers. Deterministic given fixed centroids — q66
    * value-oracles exactly that configuration. */
  def semanticDedup(df: DataFrame, vecCol: String, idCol: String,
                    spark: org.apache.spark.sql.SparkSession,
                    centroids: (Array[Long], Array[Array[Double]]),
                    threshold: Double = 0.95): DataFrame = {
    val (cids, cvecs) = centroids
    val assigned = df.select(col(idCol).as("_sd_id"), col(vecCol))
      .withColumn("_sd_cell", element_at(
        graft.expressions.CentroidOps.nearestCentroids(col(vecCol), cids, cvecs), 1))
    semanticDedupAssigned(assigned, vecCol, "_sd_id", "_sd_cell",
      spark, centroids, threshold)
      .withColumnRenamed("_sd_id", idCol)
  }

  /** [[semanticDedup]] over a frame that ALREADY carries its cell
    * assignment (`cellCol`) — the deploy shape: at corpus scale the
    * nearest-centroid assignment is O(n·k·dim) and belongs at INGEST
    * (one column on the embedding table, computed once per generation),
    * not in every dedup run. Same output as [[semanticDedup]] given
    * the same assignment (spec-pinned); `centroids` are still needed
    * for the survivor-selection centroid-cosine. */
  def semanticDedupAssigned(df: DataFrame, vecCol: String, idCol: String,
                            cellCol: String,
                            spark: org.apache.spark.sql.SparkSession,
                            centroids: (Array[Long], Array[Array[Double]]),
                            threshold: Double = 0.95): DataFrame = {
    val (cids, cvecs) = centroids
    val centDf = spark.createDataFrame(
        cids.zip(cvecs).map { case (i, v) => (i, v.toSeq) }.toSeq)
      .toDF("cell", "centv")
    semanticDedupCore(df, vecCol, idCol, cellCol, spark, centDf, threshold)
  }

  /** Fully frame-based semantic dedup — the 100 TB form: centroids are
    * a DataFrame end to end (assignment via
    * [[Similarity.assignCellsFrame]]'s broadcast pack, survivor
    * selection via the same broadcast join), so NOTHING in the path
    * `collect()`s k·dim centroid payload to the driver. Identical
    * output to [[semanticDedup]] given the same centroid set
    * (spec-pinned). `centroids` columns: (centIdCol: castable to
    * long, centVecCol: numeric array). */
  def semanticDedupFrame(df: DataFrame, vecCol: String, idCol: String,
                         spark: org.apache.spark.sql.SparkSession,
                         centroids: DataFrame, centIdCol: String,
                         centVecCol: String,
                         threshold: Double = 0.95): DataFrame = {
    val assigned = Similarity.assignCellsFrame(
      df.select(col(idCol).as("_sd_id"), col(vecCol)),
      vecCol, centroids, centIdCol, centVecCol, cellCol = "_sd_cell")
    val centDf = centroids.select(col(centIdCol).cast("long").as("cell"),
      col(centVecCol).cast("array<double>").as("centv"))
    semanticDedupCore(assigned, vecCol, "_sd_id", "_sd_cell",
      spark, centDf, threshold)
      .withColumnRenamed("_sd_id", idCol)
  }

  private[operators] def semanticDedupCore(df: DataFrame, vecCol: String, idCol: String,
                                cellCol: String,
                                spark: org.apache.spark.sql.SparkSession,
                                centDf: DataFrame,
                                threshold: Double): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val assigned = df.select(col(idCol).as("id"), col(vecCol).as("v"),
        col(cellCol).as("cell"))
      .withColumn("nrm", Vectors.norm(col("v")))
    // within-cell pairs scored BLOCK-LOCALLY (round-12 100× surgery):
    // each cell is collected once behind ONE corpus-sized exchange and
    // all id_a < id_b pairs ≥ threshold are emitted by the native
    // CellPairs loop — the previous join form materialized O(Σ cell²)
    // candidate rows and shuffled each with its vectors (~23 GB at the
    // 100× fixture vs ~100 MB for the cell pack). Bit-identical pair
    // set and cosines (see CellPairs' scaladoc); spec-pinned.
    val pairs = assigned
      .groupBy(col("cell"))
      .agg(collect_list(struct(col("id"), col("v"), col("nrm"))).as("members"))
      .select(explode(graft.expressions.CellPairs.cellPairs(
        col("members"), threshold)).as("p"))
      .select(col("p.id_a").as("id_a"), col("p.id_b").as("id_b"),
        col("p.cos").as("cos"))
    val clusters = clusterDuplicates(pairs.select("id_a", "id_b"), spark)
    // centroid-cosine per doc via a broadcast of the centroid frame
    val member = assigned
      .join(broadcast(centDf), Seq("cell"))
      .withColumn("cent_cos", Vectors.cosineWithNorms(
        Vectors.dot(col("v"), col("centv")), col("nrm"), Vectors.norm(col("centv"))))
      .select(col("id"), col("cell"), col("cent_cos"))
      .join(clusters, Seq("id"), "left")
      .withColumn("cluster", coalesce(col("keep_id"), col("id")))
    // per-cluster argmax: frames are cluster-sized (q64's survivor shape)
    val wnd = Window.partitionBy(col("cluster"))
      .orderBy(col("cent_cos").desc, col("id").asc)
    val surv = member.withColumn("_rn", row_number().over(wnd))
      .filter(col("_rn") === 1)
      .select(col("cluster"), col("id").as("survivor_id"))
    member.join(surv, Seq("cluster"))
      .select(col("id").as(idCol), col("cell"), col("survivor_id"))
  }
}

/** Driver-side loudspeaker for [[Dedup.dropHotPostings]]: a
  * QueryExecutionListener (registered once per session) that prints a
  * WARN whenever a completed query's `graft_hot_postings_*` observed
  * metric shows dropped keys. The metric itself also stays readable
  * programmatically via `df.queryExecution.observedMetrics` (the spec
  * asserts on it) — the listener exists so an operator watching the
  * driver log of a 100 TB run cannot miss that a cap engaged. */
private[graft] object HotPostingsWarner {
  import org.apache.spark.sql.SparkSession
  import org.apache.spark.sql.execution.QueryExecution
  import org.apache.spark.sql.util.QueryExecutionListener

  private val registered = java.util.Collections.newSetFromMap(
    new java.util.concurrent.ConcurrentHashMap[SparkSession, java.lang.Boolean]())

  def ensure(spark: SparkSession): Unit = if (registered.add(spark)) {
    spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution,
                             durationNs: Long): Unit =
        qe.observedMetrics.foreach { case (name, row) =>
          if (name.startsWith("graft_hot_postings_") && !row.isNullAt(0) &&
              row.getAs[Long]("dropped_keys") > 0L) {
            System.err.println(s"[graft][WARN] $name: dropped " +
              s"${row.getAs[Long]("dropped_keys")} hot posting list(s) " +
              s"(${row.getAs[Long]("dropped_postings")} postings, max df " +
              s"${row.getAs[Long]("max_df")}) over the maxPostings bound; " +
              "boilerplate keys were excluded from pair expansion — raise " +
              "maxPostings (or pre-strip templates) for exact semantics")
          }
        }
      override def onFailure(funcName: String, qe: QueryExecution,
                             exception: Exception): Unit = ()
    })
  }
}
