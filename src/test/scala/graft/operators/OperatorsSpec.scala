package graft.operators

import graft.SparkTestBase
import graft.functions.Cleanse
import org.apache.spark.sql.functions._

class RoutingSpec extends SparkTestBase {
  import spark.implicits._

  test("J1/R1: config hit -> dim with target, miss -> fact; split is a partition") {
    val records = Seq(("a", 1), ("b", 2), ("c", 3), ("a", 4)).toDF("tbl", "v")
    val config = Routing.configDf(spark, "tbl",
      Seq(Routing.DimRoute("a", "DIM_A")))
    val routed = Routing.routed(records, config, "tbl", "ODS_FACT")
    val (dims, facts) = Routing.split(routed)
    assert(dims.count() == 2 && facts.count() == 2)
    assert(dims.select("target_table").distinct().as[String].collect().toSeq == Seq("DIM_A"))
    assert(facts.select("target_table").distinct().as[String].collect().toSeq == Seq("ODS_FACT"))
    // partition: every record lands in exactly one side
    assert(dims.count() + facts.count() == records.count())
  }
}

class EnrichmentSpec extends SparkTestBase {
  import spark.implicits._

  test("J2: left-outer enrich keeps facts with missing dims (null attrs)") {
    val facts = Seq(("u1", 10), ("u2", 20)).toDF("user_id", "v")
    val dim = Seq(("u1", "gold")).toDF("user_id", "level")
    val out = Enrichment.enrich(facts, Seq((dim, Seq("user_id"))))
      .orderBy("user_id")
    val rows = out.as[(String, Int, Option[String])].collect()
    assert(rows.toSeq == Seq(("u1", 10, Some("gold")), ("u2", 20, None)))
  }

  test("J2: a dim with duplicate keys never fans out fact rows") {
    val facts = Seq(("u1", 10), ("u2", 20)).toDF("user_id", "v")
    val dupDim = Seq(("u1", "bronze", 1L), ("u1", "gold", 2L), ("u2", "silver", 1L))
      .toDF("user_id", "level", "version")
    val out = Enrichment.enrich(facts, Seq((dupDim, Seq("user_id"))),
      keepBy = Some("version")).orderBy("user_id")
    val rows = out.select("user_id", "v", "level")
      .as[(String, Int, String)].collect()
    // 2 facts in, 2 rows out; latest version wins per key
    assert(rows.toSeq == Seq(("u1", 10, "gold"), ("u2", 20, "silver")))
    // without keepBy: still exactly one row per fact
    assert(Enrichment.enrich(facts, Seq((dupDim, Seq("user_id")))).count() == 2)
  }

  test("J3: hierarchy self-join yields child+parent levels") {
    val cat = Seq(("1", "0", "root"), ("2", "1", "mid"), ("3", "2", "leaf"))
      .toDF("id", "p_id", "name")
    val h = Enrichment.hierarchySelfJoin(cat, "id", "p_id", "name")
      .orderBy("second_id")
    val rows = h.as[(String, String, String, String)].collect()
    assert(rows.toSeq == Seq(("1", "root", "2", "mid"), ("2", "mid", "3", "leaf")))
  }

  test("as-of join picks the latest dim at-or-before each fact") {
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    val facts = Seq(
      (1L, "u1", t("2024-01-01 10:00:00")),
      (2L, "u1", t("2024-01-01 12:00:00")),
      (3L, "u2", t("2024-01-01 09:00:00")), // before any dim -> null
      (4L, "u1", t("2024-01-01 11:00:00"))) // exactly at dim ts -> inclusive
      .toDF("fact_id", "user_id", "ts")
    val dims = Seq(
      ("u1", t("2024-01-01 09:30:00"), "v1"),
      ("u1", t("2024-01-01 11:00:00"), "v2"),
      ("u2", t("2024-01-01 10:00:00"), "v3"))
      .toDF("user_id", "dts", "state")
    val out = Enrichment.asOfJoin(facts, "ts", dims, "dts", "user_id", Seq("state"))
      .orderBy("fact_id")
      .select("fact_id", "state").as[(Long, Option[String])].collect()
    assert(out.toSeq == Seq(
      (1L, Some("v1")), (2L, Some("v2")), (3L, None), (4L, Some("v2"))))
  }

  test("bucketized range join equals the naive theta join") {
    val ev = graft.Tables(spark, sf).events.select($"event_id", $"ts")
    val intervals = graft.Tables(spark, sf).events
      .filter($"event_type" === "error")
      .select($"event_id".as("iid"), $"ts".as("s"),
        ($"ts" + expr("INTERVAL 10 MINUTES")).as("e"))
    val bucketized = Enrichment.rangeJoin(ev, "ts", intervals, "s", "e", 600L)
      .select("iid", "event_id").as[(Long, Long)].collect().toSet
    val naive = ev.join(intervals, $"ts" >= $"s" && $"ts" <= $"e")
      .select("iid", "event_id").as[(Long, Long)].collect().toSet
    assert(bucketized == naive && naive.nonEmpty)
  }

  test("J2 plan: dim side is broadcast (no shuffle on fact)") {
    val facts = spark.range(1000).toDF("user_id")
    val dim = Seq((1L, "x")).toDF("user_id", "attr")
    val plan = Enrichment.enrich(facts, Seq((dim, Seq("user_id"))))
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"))
    assert(!plan.contains("SortMergeJoin"))
  }

  test("salted join equals the plain join on skewed keys") {
    import org.apache.spark.sql.functions.{col, when}
    // 10k rows on one hot key, a smattering of cold keys
    val fact = spark.range(10500).toDF("i")
      .select(when(col("i") < 10000, "hot").otherwise(col("i").cast("string"))
          .as("k"), col("i").as("v"))
    val other = Seq(("hot", "H"), ("10001", "A"), ("10007", "B"), ("absent", "Z"))
      .toDF("k", "attr")
    def normalize(df: org.apache.spark.sql.DataFrame) =
      df.select("k", "v", "attr").as[(String, Long, Option[String])]
        .collect().toSeq.sorted
    val plainInner = normalize(fact.join(other, Seq("k")))
    val saltedInner = normalize(
      Enrichment.saltedJoin(fact, other, Seq("k"), saltFactor = 8,
        hotThreshold = 100))
    assert(saltedInner == plainInner && plainInner.size == 10002)
    val plainLeft = normalize(fact.join(other, Seq("k"), "left_outer"))
    val saltedLeft = normalize(
      Enrichment.saltedJoin(fact, other, Seq("k"), saltFactor = 8,
        hotThreshold = 100, joinType = "left_outer"))
    assert(saltedLeft == plainLeft && plainLeft.size == 10500)
    // sampled census must still find the (very) hot key and stay exact
    val sampled = normalize(
      Enrichment.saltedJoin(fact, other, Seq("k"), saltFactor = 8,
        hotThreshold = 100, censusFraction = 0.05))
    assert(sampled == plainInner)
  }
}

class AggregationsSpec extends SparkTestBase {
  import spark.implicits._

  test("A1: tumbling window counts per key") {
    val df = Seq(
      ("2024-01-01 00:00:01", "a"), ("2024-01-01 00:00:05", "a"),
      ("2024-01-01 00:00:11", "a"), ("2024-01-01 00:00:03", "b"))
      .toDF("s", "k").select(to_timestamp($"s").as("ts"), $"k")
    val out = Aggregations.windowedCount(df, "ts", 10, Seq("k"))
      .orderBy("k", "window_start")
    val rows = out.as[(String, String, Long)].collect()
    assert(rows.toSeq == Seq(
      ("2024-01-01 00:00:00", "a", 2L),
      ("2024-01-01 00:00:10", "a", 1L),
      ("2024-01-01 00:00:00", "b", 1L)))
  }

  test("salted two-phase aggregation equals direct groupBy") {
    val df = graft.Tables(spark, sf).events
      .select($"event_type", $"value")
    val direct = df.groupBy("event_type")
      .agg(count(lit(1)).as("cnt"),
        sum($"value".cast(org.apache.spark.sql.types.DecimalType(18, 2)))
          .cast("double").as("val_sum"))
      .orderBy("event_type").collect()
    val salted = Aggregations.saltedCountSum(df, Seq("event_type"), $"value")
      .orderBy("event_type").collect()
    assert(direct.toSeq == salted.toSeq)
  }

  test("salted sessionization equals the direct window form on real events") {
    val direct = graft.Queries.q21(spark, sf)
      .orderBy("user_id", "session_id")
      .as[(Long, Long, Long, String, String)].collect()
    val salted = Aggregations.sessionizeScalable(
        graft.Tables(spark, sf).events, "ts", "user_id", "event_id", 1800L)
      .orderBy("user_id", "session_id")
      .as[(Long, Long, Long, String, String)].collect()
    assert(direct.length == salted.length)
    assert(direct.toSeq == salted.toSeq)
  }

  test("A2: grouped points sums string-typed values exactly") {
    val df = Seq(("2024-01-01", "u1", "p1", "10.5"), ("2024-01-01", "u1", "p1", "0.25"))
      .toDF("d", "user_id", "product", "points")
    val out = Aggregations.groupedPoints(df, $"d", Seq("user_id", "product"), "points")
    val r = out.select("total_points").as[Double].head()
    assert(r == 10.75)
  }
}

class SamplingSpec extends SparkTestBase {
  import spark.implicits._

  test("bottom-k group sample: deterministic, k per group, merge-safe") {
    val df = graft.Tables(spark, sf).documents
    val s1 = Sampling.sampleByGroup(df, Seq("lang"), "doc_id", 3)
      .orderBy("lang", "rnk").as[(String, Long, Long)].collect()
    // repartition wildly -> same sample (merge path exercised)
    val s2 = Sampling.sampleByGroup(df.repartition(17), Seq("lang"), "doc_id", 3)
      .orderBy("lang", "rnk").as[(String, Long, Long)].collect()
    assert(s1.toSeq == s2.toSeq)
    assert(s1.groupBy(_._1).forall(_._2.length == 3))
    assert(s1.map(_._2).toSet.subsetOf(Set(1L, 2L, 3L)))
  }

  test("domain mix: rates hit within tolerance, partition-invariant") {
    val df = graft.Tables(spark, sf).documents
    val rates = Map("en" -> 0.5, "de" -> 0.25)
    val kept = Sampling.mixByRate(df, "lang", "doc_id", rates, defaultRate = 0.0)
    // rate 0 drops every unlisted domain; listed rates land near target
    val byLang = kept.groupBy("lang").count().as[(String, Long)].collect().toMap
    val totals = df.groupBy("lang").count().as[(String, Long)].collect().toMap
    assert(byLang.keySet.subsetOf(rates.keySet))
    rates.foreach { case (l, r) =>
      val frac = byLang.getOrElse(l, 0L).toDouble / totals(l)
      assert(math.abs(frac - r) < 0.2, s"$l: $frac vs $r")
    }
    // deterministic across partitionings
    val again = Sampling.mixByRate(df.repartition(13), "lang", "doc_id", rates, 0.0)
      .select("doc_id").as[Long].collect().toSet
    assert(again == kept.select("doc_id").as[Long].collect().toSet)
  }

  test("domain mix: coin is overflow-free and portable for ids near 2^33") {
    // Lake-scale doc_ids exceed 2^32; the coin must equal the
    // infinite-precision value (what a HUGEINT-promoting engine like
    // DuckDB computes) — the pre-reduction mod 2^30 bounds every
    // product below 2^63 so it never wraps a signed 64-bit long.
    val base = 1L << 33
    val ids = (0L until 4096L).map(base + _)
    val df = ids.map(id => (id, "en")).toDF("doc_id", "lang")
    val kept = Sampling.mixByRate(df, "lang", "doc_id", Map("en" -> 0.37))
      .select("doc_id").as[Long].collect().toSet
    val expected = ids.filter { id =>
      val x = (BigInt(id).mod(BigInt(1073741824L)) + Sampling.SaltRate)
        .mod(BigInt(1073741824L))
      val q = (x * (2 * x + 1)).mod(BigInt(4294967296L))
      val coin = (q.mod(BigInt(2147483648L)) * 2654435761L)
        .mod(BigInt(4294967296L))
      BigDecimal(coin) < BigDecimal(0.37) * 4294967296L
    }.toSet
    assert(kept == expected)
    // and the keep fraction is still near the rate in the high-id range
    assert(math.abs(kept.size.toDouble / ids.size - 0.37) < 0.05)
  }

  test("weighted sampling: per-row keep probability, clamped, partition-invariant") {
    // weight column drives the keep decision row by row: 0 never
    // keeps, 1 always keeps, and a mid weight replays the exact coin
    val df = (0L until 2000L).map { id =>
      (id, (id % 4) match {
        case 0 => 0.0; case 1 => 1.0; case 2 => 0.5; case _ => 1.5 // clamps to 1
      })
    }.toDF("doc_id", "w")
    val kept = Sampling.sampleByWeight(df, "w", "doc_id")
      .select("doc_id").as[Long].collect().toSet
    assert(!kept.exists(_ % 4 == 0), "weight 0 must never keep")
    assert((1L until 2000L by 4).forall(kept.contains), "weight 1 must always keep")
    assert((3L until 2000L by 4).forall(kept.contains), "weight 1.5 clamps to always-keep")
    val mids = (2L until 2000L by 4)
    val expectMid = mids.filter { id =>
      val x = ((id % 1073741824L) + Sampling.SaltWeight) % 1073741824L
      val q = (x * (2L * x + 1L)) % 4294967296L
      val coin = ((q % 2147483648L) * 2654435761L) % 4294967296L
      coin.toDouble < 0.5 * 4294967296.0
    }.toSet
    assert(kept.filter(_ % 4 == 2) == expectMid)
    // deterministic across partitionings
    val again = Sampling.sampleByWeight(df.repartition(13), "w", "doc_id")
      .select("doc_id").as[Long].collect().toSet
    assert(again == kept)
  }
}

class SkylineSpec extends SparkTestBase {
  import spark.implicits._

  test("skyline keeps the exact Pareto frontier, duplicates and all") {
    val df = Seq(
      (1L, 10.0, 5.0),  // frontier
      (2L, 10.0, 5.0),  // duplicate of a frontier point -> also kept
      (3L, 5.0, 10.0),  // frontier (incomparable with 1)
      (4L, 9.0, 4.0),   // dominated by 1
      (5L, 10.0, 4.0),  // dominated by 1 (equal on x, worse on y)
      (6L, 1.0, 1.0))   // dominated by everything
      .toDF("id", "x", "y")
    val got = Skyline.skyline(df, Seq("x", "y"))
      .select("id").as[Long].collect().toSet
    assert(got == Set(1L, 2L, 3L))
    // partition-invariant: same frontier under a different partitioning
    val again = Skyline.skyline(df.repartition(7), Seq("x", "y"))
      .select("id").as[Long].collect().toSet
    assert(again == Set(1L, 2L, 3L))
  }

  test("skyline drops rows with a null dimension") {
    val df = Seq((1L, Some(1.0), Some(2.0)), (2L, None, Some(99.0)))
      .toDF("id", "x", "y")
    val got = Skyline.skyline(df, Seq("x", "y")).select("id").as[Long].collect()
    assert(got.toSeq == Seq(1L))
  }
}

class DedupSpec extends SparkTestBase {
  import spark.implicits._

  private val base = "the quick brown fox jumps over the lazy dog and then runs far away home tonight"
  private val near = base.replace("tonight", "tomorrow")
  private val far1 = "catalyst optimizes logical plans into physical plans with pushdown pruning and codegen stages"
  private val far2 = "completely different content about benchmarking parquet scans and shuffle partitions at scale"

  test("exact dedup groups identical texts") {
    val df = Seq((1L, base), (2L, base), (3L, far1)).toDF("doc_id", "text")
    val out = Dedup.exact(df, "text", "doc_id").orderBy("keep_id")
    val rows = out.select("keep_id", "dup_cnt").as[(Long, Long)].collect()
    assert(rows.toSeq == Seq((1L, 2L), (3L, 1L)))
  }

  test("minhash LSH finds the planted near-dup and not the unrelated pair") {
    val df = Seq((1L, base), (2L, near), (3L, far1), (4L, far2)).toDF("doc_id", "text")
    val out = Dedup.minHashLsh(df, "text", "doc_id", numHashes = 64,
      bands = 16, estThreshold = 0.3)
    val pairs = out.select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.contains((3L, 4L)))
  }

  test("simhash blocks the near-dup pair") {
    // longer docs -> stabler bit votes -> low hamming for 1-word edits
    val longBase = (base + " " + far1 + " " + base).trim
    val longNear = longBase.replaceFirst("tonight", "tomorrow")
    val df = Seq((1L, longBase), (2L, longNear), (3L, far2)).toDF("doc_id", "text")
    val out = Dedup.simHashDup(df, "text", "doc_id", maxHamming = 16)
    val pairs = out.select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.contains((1L, 3L)) && !pairs.contains((2L, 3L)))
  }

  test("ngram jaccard: exact value for hand-computed pair") {
    val df = Seq((1L, "a b c d"), (2L, "b c d e")).toDF("doc_id", "text")
    val pairs = Seq((1L, 2L)).toDF("id_a", "id_b")
    val j = Dedup.ngramJaccard(df, pairs, "text", "doc_id", n = 3)
      .select("jaccard").as[Double].head()
    // shingles: {abc,bcd} vs {bcd,cde}: intersect 1, union 3
    assert(math.abs(j - 1.0 / 3.0) < 1e-12)
  }

  test("minhash skew guard: oversized buckets are dropped, not joined") {
    // censusFraction = 1.0: a 3-doc corpus needs the exact census (a
    // sampled census is for lake scale, where any O(L²) bucket is
    // visible in a 5% sample)
    val df = Seq((1L, base), (2L, base), (3L, base)).toDF("doc_id", "text")
    val capped = Dedup.minHashLsh(df, "text", "doc_id",
      estThreshold = 0.0, maxBucket = 2, censusFraction = 1.0)
    assert(capped.count() == 0) // all 3 ids share every bucket -> capped out
    val uncapped = Dedup.minHashLsh(df, "text", "doc_id", estThreshold = 0.0)
    assert(uncapped.count() == 3) // (1,2),(1,3),(2,3)
  }

  test("simhash skew guard caps identical-signature boilerplate buckets") {
    val df = Seq((1L, base), (2L, base), (3L, base)).toDF("doc_id", "text")
    val capped = Dedup.simHashDup(df, "text", "doc_id",
      maxBucket = 2, censusFraction = 1.0)
    assert(capped.count() == 0) // identical sigs share all 4 quarter-bands
    assert(Dedup.simHashDup(df, "text", "doc_id").count() == 3)
  }

  test("simhash multiprobe: a pair whose differing bits spread one " +
    "per quarter shares no exact band but is found with probeBits=1") {
    // build two sigs at hamming 4, one flipped bit in EVERY 16-bit
    // quarter — the q12 margin spec's measured miss pattern. Use the
    // sf0.01 fixture docs that exhibit it (45,267): cheaper here to
    // synthesize via the real signature function over the real docs.
    val docs = graft.Tables(spark, "/root/testdata/sf0.01").documents
      .filter(col("doc_id").isin(45L, 267L, 120L, 332L))
    // exact bands miss them (the pre-round-16 behavior)
    val exact = Dedup.simHashDup(docs, "text", "doc_id", maxHamming = 10)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(!exact.contains((45L, 267L)) && !exact.contains((120L, 332L)),
      s"fixture drifted: these pairs used to share no exact band ($exact)")
    // one-bit multiprobe finds them (hamming 4-5: guaranteed <= 7)
    val probed = Dedup.simHashDup(docs, "text", "doc_id",
      maxHamming = 10, probeBits = 1)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(probed.contains((45L, 267L)) && probed.contains((120L, 332L)),
      s"multiprobe must recover the spread-bit pairs: $probed")
    intercept[IllegalArgumentException] {
      Dedup.simHashDup(docs, "text", "doc_id", probeBits = 2)
    }
  }

  test("duplicate clustering: transitive pairs collapse to min-id clusters") {
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("id_a", "id_b")
    val expected = Seq((1L, 1L), (2L, 1L), (3L, 1L), (5L, 5L), (6L, 5L))
    // small path (driver union-find)…
    val small = Dedup.clusterDuplicates(pairs, spark)
      .orderBy("id").as[(Long, Long)].collect()
    assert(small.toSeq == expected)
    // …and the distributed alternating-star path (forced via limit 0;
    // unpersisted per the caller-must-unpersist contract — a lingering
    // cache here would ALIAS the scoped test's identical plan through
    // the CacheManager and mask its persist precondition) agree
    val largeDf = Dedup.clusterDuplicates(pairs, spark, smallEdgeLimit = 0L)
    val large = largeDf.orderBy("id").as[(Long, Long)].collect()
    largeDf.unpersist()
    assert(large.toSeq == expected)
  }

  test("distributed star collapse equals union-find on seeded random " +
    "graphs and on a worst-case-diameter chain") {
    // the alternating large-star/small-star path must match the driver
    // union-find EXACTLY on arbitrary edge sets — not just the near-
    // clique shapes dedup blocking produces. Seeded generator: mixed
    // sparse components, duplicate edges, self-loops, reversed pairs.
    val rnd = new scala.util.Random(20260820L)
    val fuzz = (0 until 3).map { _ =>
      val n = 400 + rnd.nextInt(400)
      (0 until n).map { _ =>
        val a = rnd.nextInt(900).toLong
        // bias toward local links so chains/trees appear, not one blob
        val b = math.max(0L, a - 1 + rnd.nextInt(5)).toLong
        if (rnd.nextBoolean()) (a, b) else (b, a)
      }
    }
    // 3000-node path graph: diameter 2999 — the shape that would never
    // converge under naive one-hop min-propagation; the star rounds
    // must collapse it in O(log) rounds (the 64-round guard is the
    // stopwatch)
    val chain = (0L until 2999L).map(i => (i, i + 1))
    (fuzz :+ chain).foreach { edgeSeq =>
      val pairs = edgeSeq.toDF("id_a", "id_b")
      val uf = Dedup.clusterDuplicates(pairs, spark)
        .as[(Long, Long)].collect().toMap
      val dist = Dedup.clusterDuplicates(pairs, spark, smallEdgeLimit = 0L)
      val got = dist.as[(Long, Long)].collect().toMap
      dist.unpersist()
      assert(got == uf, s"paths disagree on a ${edgeSeq.size}-edge set")
    }
  }

  test("clusterDuplicatesScoped: the large-path result cache is released " +
    "when the scope exits (no persistent RDDs left behind)") {
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("id_a", "id_b")
    val before = spark.sparkContext.getPersistentRDDs.keySet
    // limit 0 forces the distributed path — the one persisting its result
    val got = Dedup.clusterDuplicatesScoped(pairs, spark,
      smallEdgeLimit = 0L) { cl =>
      val leftover = spark.sparkContext.getPersistentRDDs.keySet -- before
      assert(leftover.nonEmpty,
        "precondition: the distributed path must persist inside the scope")
      cl.orderBy("id").as[(Long, Long)].collect().toSeq
    }
    assert(got == Seq((1L, 1L), (2L, 1L), (3L, 1L), (5L, 5L), (6L, 5L)))
    val after = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(after.isEmpty,
      s"scoped call leaked persistent RDD(s): $after")
  }

  test("duplicate clustering at the distributed boundary: 165k edges, both paths equal") {
    // The distributed branch only engages above smallEdgeLimit (default
    // 100k) and so never runs in the per-query bench. Drive it with a
    // synthetic edge set big enough to cross the boundary and with an
    // ANALYTIC truth: 55k disjoint 4-vertex chains (4g)-(4g+1)-(4g+2)-
    // (4g+3) -> every member's keep_id is its chain's minimum 4g.
    // Timing both paths here is the recorded crossover evidence
    // (BASELINE.md "cluster-collapse crossover").
    val groups = 55000L
    val edges = spark.range(0, groups * 3)
      .select(((col("id") / 3).cast("long") * 4 + col("id") % 3).as("id_a"))
      .withColumn("id_b", col("id_a") + 1)
      .persist()
    assert(edges.count() == groups * 3) // materialize before timing
    def timed(limit: Long): (Map[Long, Long], Double) = {
      val t0 = System.nanoTime()
      val df = Dedup.clusterDuplicates(edges, spark, smallEdgeLimit = limit)
      val m = df.as[(Long, Long)].collect().toMap
      val dt = (System.nanoTime() - t0) / 1e9
      df.unpersist()
      (m, dt)
    }
    val (unionFind, tUf) = timed(limit = 200000L) // probe holds all edges
    val (pregel, tPg) = timed(limit = 100000L)    // 165k > limit -> distributed
    info(f"165k-edge collapse: union-find $tUf%.2f s, distributed $tPg%.2f s")
    assert(unionFind.size == groups * 4)
    assert(pregel == unionFind, "paths disagree at the boundary")
    // analytic truth on a sample stride (full map equality above)
    (0L until groups by 5000L).foreach { g =>
      (0L until 4L).foreach { k =>
        assert(unionFind(g * 4 + k) == g * 4, s"vertex ${g * 4 + k}")
      }
    }
    edges.unpersist()
  }

  test("span fingerprints: a copied span is caught, disjoint text is not") {
    // winnowing guarantee: any verbatim span of >= k+w-1 words shared
    // between two docs contributes >= 1 common fingerprint; here the
    // span is long enough to clear minShared too
    val span = (1 to 20).map(i => s"copied$i").mkString(" ")
    val docs = Seq(
      (1L, s"alpha beta gamma delta $span epsilon zeta"),
      (2L, s"one two three four five six seven $span eight nine"),
      (3L, "totally different words with no overlap at all in this document here today")
    ).toDF("doc_id", "text")
    val pairs = Dedup.sharedSpans(docs, "text", "doc_id",
        k = 8, w = 4, minShared = 3L)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs == Set((1L, 2L)))
  }

  test("jaccard self-join equals the all-pairs exact form, bit for bit") {
    // the inverted-index ssjoin must produce the SAME (pair, jaccard)
    // set as brute-force ngramJaccard over every id pair — including
    // identical doubles, since q61's oracle compares values exactly
    import org.apache.spark.sql.functions._
    val docs = graft.Tables(spark, sf).documents
    val ids = docs.select(col("doc_id"))
    val cand = ids.select(col("doc_id").as("id_a"))
      .join(ids.select(col("doc_id").as("id_b")), col("id_a") < col("id_b"))
    val brute = Dedup.ngramJaccard(docs, cand, "text", "doc_id", n = 3)
      .filter(col("jaccard") >= 0.3)
      .as[(Long, Long, Double)].collect().toSet
    val fast = Dedup.jaccardSelfJoin(docs, "text", "doc_id", n = 3, minJ = 0.3)
      .as[(Long, Long, Double)].collect().toSet
    assert(brute.nonEmpty, "fixture should contain near-dup pairs")
    assert(fast == brute)
  }

  test("q61 pipeline: star path produces the oracle-pinned result bit for bit") {
    // the driver's CORRECTNESS run only ever exercises the union-find
    // branch (q61's edge set is far below the default limit); this
    // drives the EXACT q61 pipeline — same fixture, same edges — down
    // the distributed star-collapse branch and pins it against the
    // default path, which the DuckDB recursive-CTE oracle certifies
    // every round
    val default = graft.SparkEntry.queries("q61_cluster_cc")(spark, sf)
      .orderBy("id").as[(Long, Long)].collect().toSeq
    assert(default.nonEmpty)
    spark.conf.set("spark.graft.cluster.smallEdgeLimit", "0")
    try {
      val viaStars = graft.SparkEntry.queries("q61_cluster_cc")(spark, sf)
        .orderBy("id").as[(Long, Long)].collect().toSeq
      assert(viaStars == default,
        "star-collapse q61 diverged from the oracle-pinned union-find result")
    } finally spark.conf.unset("spark.graft.cluster.smallEdgeLimit")
  }

  test("shared spans: planted boilerplate fingerprint is dropped loudly, output stays bounded") {
    // 30 docs all carrying the same 20-word template span (df = 30 for
    // every pure-template fingerprint) + one genuinely copied pair on a
    // DIFFERENT span. Under the maxPostings bound the template pairs
    // (30·29/2 of them) must vanish, the true pair must survive, and
    // the drop must surface as an observed metric — the "no silent
    // caps" contract.
    val boiler = (1 to 20).map(i => s"tmpl$i").mkString(" ")
    val copied = (1 to 20).map(i => s"span$i").mkString(" ")
    val docs = ((1 to 30).map(i =>
        (i.toLong, s"u${i}a u${i}b u${i}c u${i}d $boiler u${i}e")) ++
      Seq((100L, s"alpha beta gamma delta $copied epsilon"),
          (101L, s"one two three four five $copied six seven")))
      .toDF("doc_id", "text")
    val unguarded = Dedup.sharedSpans(docs, "text", "doc_id",
      k = 8, w = 4, minShared = 3L)
    assert(unguarded.count() >= 400L,
      "fixture must actually explode without the guard")
    val guarded = Dedup.sharedSpans(docs, "text", "doc_id",
      k = 8, w = 4, minShared = 3L, maxPostings = 10)
    // observedMetrics live on the QueryExecution that actually RAN —
    // collect the same frame we inspect (.as/.select would re-plan)
    val pairs = guarded.collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    assert(pairs == Set((100L, 101L)))
    val obs = guarded.queryExecution.observedMetrics.collectFirst {
      case (name, row) if name.startsWith("graft_hot_postings_") => row
    }
    assert(obs.nonEmpty, "dropped-postings metric must ride the query")
    assert(obs.get.getAs[Long]("dropped_keys") > 0L)
    assert(obs.get.getAs[Long]("max_df") == 30L)
  }

  test("jaccard self-join: hot shingle drops conservatively under maxPostings") {
    // every doc shares ONE boilerplate trigram (df = 20); docs 100/101
    // are true near-dups sharing 4 of their 5 shingles. Capped, the hot
    // shingle leaves |A∩B| (conservative underestimate) so hot-only
    // pairs disappear while the true pair keeps jaccard 4/6.
    val docs = ((1 to 20).map(i =>
        (i.toLong, s"common1 common2 common3 x${i}1 x${i}2 x${i}3 x${i}4")) ++
      Seq((100L, "same1 same2 same3 same4 same5 same6 endA"),
          (101L, "same1 same2 same3 same4 same5 same6 endB")))
      .toDF("doc_id", "text")
    val unguarded = Dedup.jaccardSelfJoin(docs, "text", "doc_id",
      n = 3, minJ = 0.05)
    assert(unguarded.count() >= 190L)
    val guarded = Dedup.jaccardSelfJoin(docs, "text", "doc_id",
      n = 3, minJ = 0.05, maxPostings = 10)
    val out = guarded.collect().map(r => (r.getAs[Long]("id_a"),
      r.getAs[Long]("id_b"), r.getAs[Double]("jaccard"))).toSet
    assert(out == Set((100L, 101L, 4.0 / 6.0)))
    val obs = guarded.queryExecution.observedMetrics.collectFirst {
      case (name, row) if name.startsWith("graft_hot_postings_") => row
    }
    assert(obs.nonEmpty && obs.get.getAs[Long]("dropped_keys") == 1L)
  }

  test("embedding near-dup finds an identical vector pair") {
    val v = Array.tabulate(8)(i => i.toFloat / 8f)
    val w = Array.tabulate(8)(i => (7 - i).toFloat / 8f)
    val df = Seq((1L, v.toSeq), (2L, v.toSeq), (3L, w.toSeq)).toDF("vec_id", "embedding")
    val out = Dedup.embeddingNearDup(df, "embedding", "vec_id",
      threshold = 0.99, planes = 4)
    val pairs = out.select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs == Set((1L, 2L)))
  }
}

class DecontaminateSpec extends SparkTestBase {
  import spark.implicits._
  import graft.expressions.TextSignatures

  test("bloom decontamination: superset of the exact join, bounded FP inflation") {
    val docs = graft.Tables(spark, sf).documents
    val bench = docs.filter(col("doc_id") < 10)
    val corpus = docs.filter(col("doc_id") >= 10)
    // ground truth: q54's exact broadcast-join counts
    val benchSh = bench.select(explode(array_distinct(
      TextSignatures.shingles(col("text"), 3))).as("sh")).distinct()
    val corpusSh = corpus.select(col("doc_id"), explode(array_distinct(
      TextSignatures.shingles(col("text"), 3))).as("sh"))
    val exact = corpusSh.join(benchSh, Seq("sh"))
      .groupBy("doc_id").agg(count(lit(1)).as("n"))
      .as[(Long, Long)].collect().toMap
    assert(exact.nonEmpty, "fixture must contain contaminated docs")
    val bloom = Decontaminate.bloomHits(corpus, bench, "text", "doc_id")
      .as[(Long, Long)].collect().toMap
    // one-sided error: every exact hit is flagged, per doc, at >= count
    exact.foreach { case (id, n) =>
      assert(bloom.getOrElse(id, 0L) >= n, s"doc $id lost hits: ${bloom.get(id)} < $n")
    }
    // false positives bounded: extra flagged shingles <= ~3x the eps
    // budget over all probes (a loose tripwire, not a tight bound)
    val probes = corpusSh.count()
    val extra = bloom.values.sum - exact.values.sum
    assert(extra >= 0 && extra <= math.max(20L, (3 * 0.01 * probes).toLong),
      s"FP inflation $extra over $probes probes")
    // bits are an order-independent OR-fold: partitioning cannot move them
    val again = Decontaminate.bloomHits(corpus.repartition(17),
      bench.repartition(5), "text", "doc_id").as[(Long, Long)].collect().toMap
    assert(again == bloom)
    // the broadcast-variable probe is the SAME filter behind a handle:
    // answers must be identical row for row (large-eval-set path)
    val viaBcast = Decontaminate.bloomHitsBroadcast(corpus, bench,
      "text", "doc_id").as[(Long, Long)].collect().toMap
    assert(viaBcast == bloom)
  }

  test("bloom sizing edges: tiny bench sets clamp k; oversized sets fail loudly") {
    import graft.expressions.BloomOps
    // nItems=1 against the 1024-bit floor would ask for k≈710 without
    // the clamp — must stay in BloomAgg's supported 1..16
    assert(BloomOps.hashesFor(1, 1024) == 16)
    assert(BloomOps.hashesFor(43, 1024) <= 16)
    // a one-doc bench set must build and probe, not crash
    val bench = Seq((1L, "alpha beta gamma delta epsilon")).toDF("doc_id", "text")
    val corpus = Seq(
      (10L, "alpha beta gamma something else here"),
      (11L, "unrelated words only nothing shared at all")).toDF("doc_id", "text")
    val hits = Decontaminate.bloomHits(corpus, bench, "text", "doc_id")
      .as[(Long, Long)].collect().toMap
    assert(hits.contains(10L) && !hits.contains(11L))
    // past the literal cap: explicit refusal, never a saturated filter
    val e = intercept[IllegalArgumentException] {
      BloomOps.sizeFor(200000000L, 0.01)
    }
    assert(e.getMessage.contains("broadcast"))
  }
}

class SimilaritySpec extends SparkTestBase {
  import spark.implicits._

  test("brute-force topk ranks the near-identical vector first, excludes self") {
    val q = Array(1f, 0f, 0f, 0f)
    val close = Array(0.99f, 0.1f, 0f, 0f)
    val mid = Array(0.5f, 0.5f, 0f, 0f)
    val orth = Array(0f, 0f, 1f, 0f)
    val df = Seq((0L, q.toSeq), (1L, close.toSeq), (2L, mid.toSeq), (3L, orth.toSeq))
      .toDF("vec_id", "embedding")
    val out = Similarity.bruteForceTopK(df, df.filter($"vec_id" === 0L),
      "embedding", "vec_id", k = 3)
    val ranked = out.orderBy("rank").select("corpus_id").as[Long].collect()
    assert(ranked.toSeq == Seq(1L, 2L, 3L))
  }

  test("lsh topk returns a subset of brute-force candidates with same scoring") {
    val emb = graft.Tables(spark, sf).embeddings.limit(200)
    val qs = emb.filter($"vec_id" < 3)
    val brute = Similarity.bruteForceTopK(emb, qs, "embedding", "vec_id", 5)
      .select("query_id", "corpus_id", "score").as[(Long, Long, Double)].collect().toMap2
    val lsh = Similarity.lshTopK(emb, qs, "embedding", "vec_id", 5, planes = 4)
      .select("query_id", "corpus_id", "score").collect()
    // every LSH score must equal the exact cosine for that pair
    lsh.foreach { r =>
      val key = (r.getLong(0), r.getLong(1))
      brute.get(key).foreach(exact => assert(exact == r.getDouble(2)))
    }
  }

  test("ivf topk scores equal exact cosine; probes bound the search") {
    val emb = graft.Tables(spark, sf).embeddings.limit(200)
    val qs = emb.filter($"vec_id" < 3)
    val brute = Similarity.bruteForceTopK(emb, qs, "embedding", "vec_id", 5)
      .select("query_id", "corpus_id", "score").as[(Long, Long, Double)].collect().toMap2
    val ivf = Similarity.ivfTopK(emb, qs, "embedding", "vec_id", 5,
      nCentroids = 8, nProbe = 2).select("query_id", "corpus_id", "score").collect()
    assert(ivf.nonEmpty)
    ivf.foreach { r =>
      brute.get((r.getLong(0), r.getLong(1))).foreach(ex => assert(ex == r.getDouble(2)))
    }
  }

  test("kmeans centroids improve IVF recall over the hash sample") {
    val emb = graft.Tables(spark, sf).embeddings
    val qs = emb.filter($"vec_id" < 5)
    val brute = Similarity.bruteForceTopK(emb, qs, "embedding", "vec_id", 5)
      .select("query_id", "corpus_id").as[(Long, Long)].collect().toSet
    def recall(df: org.apache.spark.sql.DataFrame): Double = {
      val got = df.select("query_id", "corpus_id").as[(Long, Long)].collect().toSet
      got.intersect(brute).size.toDouble / brute.size
    }
    val km = Similarity.kmeansCentroids(emb, "embedding", k = 8, iters = 3)
    val withKm = Similarity.ivfTopK(emb, qs, "embedding", "vec_id", 5,
      nCentroids = 8, nProbe = 3, centroids = Some(km))
    // trained centroids must at least work end-to-end and find neighbors
    assert(withKm.count() > 0)
    assert(recall(withKm) > 0.0)
    assert(km._2.length == 8 && km._2.forall(_.length == 64))
  }

  test("topKByScore aggregate equals the sort-based reference, partition-invariant") {
    // deterministic pseudo-random scores (hash-derived, includes exact
    // ties across distinct ids so the (score desc, id asc) tie-break is
    // exercised) — the aggregate must match a full-sort reference and
    // be invariant to partitioning (merge order)
    val n = 5000
    val rows = (0 until n).map { i =>
      val g = i % 7
      val score = ((i * 2654435761L) % 1000L).toDouble / 1000.0 // ~1000 distinct → ties
      (g.toLong, score, i.toLong)
    }
    val df = rows.toDF("query_id", "score", "corpus_id")
    val expected = rows.groupBy(_._1).flatMap { case (g, rs) =>
      rs.sortBy { case (_, s, id) => (-s, id) }.take(10).zipWithIndex
        .map { case ((_, s, id), r) => (g, r + 1L, id, s) }
    }.toSet
    def run(d: org.apache.spark.sql.DataFrame) =
      d.groupBy($"query_id")
        .agg(Similarity.topKByScore($"score", $"corpus_id", 10).as("tk"))
        .select($"query_id", posexplode($"tk"))
        .select($"query_id", ($"pos" + 1).cast("long").as("rank"),
          $"col.id".as("corpus_id"), $"col.score".as("score"))
        .as[(Long, Long, Long, Double)].collect().toSet
    assert(run(df) == expected)
    assert(run(df.repartition(13)) == expected) // merge-safe
    assert(run(df.repartition(1)) == expected)
  }

  test("topKByScore at volume: equals the window tail on 2M scored pairs, timed") {
    // The round-7 re-plan's evidence at a size where the difference is
    // mechanical, not theoretical: 2M (query, score, id) rows across 4
    // queries — the window tail sorts four 500k-row partitions on four
    // tasks; the aggregate never holds more than k entries per query
    // per task. Results must agree EXACTLY; both wall times are the
    // recorded comparison (BASELINE.md round-7 "top-k tail at volume").
    import org.apache.spark.sql.expressions.Window
    val n = 2000000L
    val scored = spark.range(n)
      .select((col("id") % 4).as("query_id"),
        (pmod(col("id") * 2654435761L, lit(1000003L)).cast("double") / 1000003.0)
          .as("score"),
        col("id").as("corpus_id"))
      .persist()
    assert(scored.count() == n) // materialize before timing
    def timedRun(f: => Set[(Long, Long, Long, Double)]): (Set[(Long, Long, Long, Double)], Double) = {
      val t0 = System.nanoTime()
      val r = f
      (r, (System.nanoTime() - t0) / 1e9)
    }
    try {
      val (aggR, aggS) = timedRun {
        scored.groupBy($"query_id")
          .agg(Similarity.topKByScore($"score", $"corpus_id", 10).as("tk"))
          .select($"query_id", posexplode($"tk"))
          .select($"query_id", ($"pos" + 1).cast("long").as("rank"),
            $"col.id".as("corpus_id"), $"col.score".as("score"))
          .as[(Long, Long, Long, Double)].collect().toSet
      }
      val (winR, winS) = timedRun {
        val w = Window.partitionBy($"query_id")
          .orderBy($"score".desc, $"corpus_id".asc)
        scored.withColumn("rank", row_number().over(w).cast("long"))
          .filter($"rank" <= 10)
          .select($"query_id", $"rank", $"corpus_id", $"score")
          .as[(Long, Long, Long, Double)].collect().toSet
      }
      assert(aggR == winR, "aggregate and window tails disagree at volume")
      assert(aggR.size == 40)
      info(f"top-10 of 2M pairs/4 queries: aggregate $aggS%.2f s, window-sort $winS%.2f s")
    } finally scored.unpersist() // a thrown run must not leak 2M cached rows
  }

  test("ANN tails tolerate null vectors: unscorable rows are excluded, not a crash") {
    // a null embedding yields a null cosine; the udaf's primitive
    // input encoder would crash on decode, so the tails filter nulls
    // first — "no similarity" is not a neighbor
    val df = Seq(
      (0L, Some(Seq(1f, 0f))), (1L, Some(Seq(0.9f, 0.1f))),
      (2L, None: Option[Seq[Float]]), (3L, Some(Seq(0f, 1f))))
      .toDF("vec_id", "embedding")
    for (out <- Seq(
        Similarity.bruteForceTopK(df, df.filter($"vec_id" === 0L),
          "embedding", "vec_id", k = 3),
        Similarity.quantizedTopK(df, df.filter($"vec_id" === 0L),
          "embedding", "vec_id", k = 3))) {
      val ids = out.select("corpus_id").as[Long].collect().toSet
      assert(ids == Set(1L, 3L), s"expected null-vector row excluded, got $ids")
    }
  }

  test("topKByScore orders NaN greatest and -0.0/0.0 by compare — Spark sort parity") {
    // the aggregate must impose the SAME total order a desc sort
    // would (NaN above +Inf), or swapping the tail silently changes
    // which rows survive on pathological scores
    val df = Seq((0L, 1.0, 1L), (0L, Double.NaN, 2L),
      (0L, Double.PositiveInfinity, 3L), (0L, 2.0, 4L))
      .toDF("query_id", "score", "corpus_id")
    val got = df.groupBy($"query_id")
      .agg(Similarity.topKByScore($"score", $"corpus_id", 3).as("tk"))
      .select(explode($"tk.id")).as[Long].collect().toSeq
    assert(got == Seq(2L, 3L, 4L), s"expected NaN, +Inf, 2.0 order; got $got")
  }

  test("ANN top-k tail carries at most k entries per query through the shuffle (no Window)") {
    // the q43-shape regression this round fixed: the shared tail must
    // be a map-side-combinable aggregate, never a per-query window sort
    // of corpus-sized partitions
    val emb = graft.Tables(spark, sf).embeddings.limit(500)
    val qs = emb.filter($"vec_id" < 3)
    for (df <- Seq(
        Similarity.bruteForceTopK(emb, qs, "embedding", "vec_id", 5),
        Similarity.quantizedTopK(emb, qs, "embedding", "vec_id", 5))) {
      val plan = df.queryExecution.optimizedPlan
      import org.apache.spark.sql.catalyst.plans.logical.Window
      assert(!plan.exists(_.isInstanceOf[Window]),
        s"ANN tail must be an aggregate, found a Window:\n$plan")
    }
    // the aggregate's no-partition-sort promise also depends on a
    // session conf: past this many distinct keys per task,
    // ObjectHashAggregateExec silently falls back to SORT-based
    // aggregation (round-8 JFR find). The raise is SCOPED: the ANN
    // tail executes on the annScope session clone (raised threshold);
    // the base session keeps the conservative default so growing-
    // buffer aggregates (collect_list posting lists) keep their
    // peak-memory bound.
    val annTail = Similarity.bruteForceTopK(emb, qs, "embedding", "vec_id", 5)
    assert(annTail.sparkSession.conf.get(
      "spark.sql.objectHashAggregate.sortBased.fallbackThreshold").toInt
      >= 8192,
      "ANN tail frames must execute under the raised object-agg sort " +
        "fallback threshold — at the 128 default, >128 ANN queries/task " +
        "re-acquire the corpus-sized partition sort")
    assert(annTail.sparkSession ne spark,
      "annScope must be a session CLONE, not the base session")
    assert(spark.conf.get(
      "spark.sql.objectHashAggregate.sortBased.fallbackThreshold").toInt
      <= 128,
      "the base session must keep the conservative fallback threshold " +
        "(it bounds growing-buffer aggregates' peak memory)")
  }

  private implicit class PairsOps(rows: Array[(Long, Long, Double)]) {
    def toMap2: Map[(Long, Long), Double] =
      rows.map { case (a, b, s) => (a, b) -> s }.toMap
  }
}

class MultimodalSpec extends SparkTestBase {
  import spark.implicits._

  test("media frame -> decode stub -> typed metadata + features") {
    val df = Seq((1L, "hello media bytes"), (2L, "")).toDF("doc_id", "payload")
    val frame = Multimodal.asMediaFrame(df, "doc_id", "payload", "fake/raw")
    assert(frame.schema.fieldNames.toSeq == Seq("media_id", "media", "meta"))
    val dec = Multimodal.decodeAndFeaturize(frame).orderBy("media_id")
    val rows = dec.collect()
    assert(rows.length == 2)
    val r0 = rows(0)
    assert(r0.getAs[Int]("width") == 64 + 17 % 128)
    assert(r0.getSeq[Float](r0.fieldIndex("features")).length == 8)
  }

  test("frame sampling explodes stride-spaced frame indices") {
    val df = Seq((1L, "0123456789")).toDF("doc_id", "payload") // 10 bytes -> 3 frames
    val dec = Multimodal.decodeAndFeaturize(
      Multimodal.asMediaFrame(df, "doc_id", "payload", "fake/raw"))
    val frames = Multimodal.frameSample(dec, stride = 2)
      .select("frame_idx").as[Int].collect().toSeq
    assert(frames == Seq(0, 2))
  }

  test("resize emits exactly targetW*targetH bytes, deterministic") {
    val df = Seq((1L, "0123456789abcdef"), (2L, "")).toDF("doc_id", "payload")
    val frame = Multimodal.asMediaFrame(df, "doc_id", "payload", "fake/raw")
    val out = Multimodal.resize(frame, targetW = 4, targetH = 3).orderBy("media_id")
    val rows = out.collect()
    assert(rows.forall(_.getAs[Array[Byte]]("media").length == 12))
    assert(rows.forall(r => r.getAs[Int]("width") == 4 && r.getAs[Int]("height") == 3))
    // deterministic: same input -> same bytes
    val again = Multimodal.resize(frame, 4, 3).orderBy("media_id").collect()
    assert(rows.map(_.getAs[Array[Byte]]("media").toSeq).toSeq ==
      again.map(_.getAs[Array[Byte]]("media").toSeq).toSeq)
  }
}
