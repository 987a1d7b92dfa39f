package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.functions.{Cleanse, Text, TextStats, Vectors}
import graft.operators._

/** The engine's query catalog: one entry per implemented operator from
  * SURVEY.md §2 plus the training-data pipeline extensions, each with an
  * ANSI-SQL oracle the driver replays in DuckDB over the same parquet.
  *
  * Determinism rules (the driver hash-compares values):
  *   - money/points sums go through DECIMAL (order-independent exact
  *     sums), surfaced as double;
  *   - vector math is double-precision sequential folds (bit-identical
  *     to DuckDB's `list_cosine_similarity(CAST(… AS DOUBLE[]), …)`);
  *   - every computed column is aliased identically in both dialects.
  */
object Queries {

  private type Q = (SparkSession, String) => DataFrame

  // ---------------------------------------------------------------- core

  /** q01 — A2/F8 + P2 (TPC-H Q1 shape): grouped exact sums with casts.
    * Reference analog: offlineanls/ProcessUserPoints.scala:35-41.
    *
    * Money math runs in integer cents (`round(x*100)` → long): exact and
    * partition-order independent like DECIMAL, but the aggregation stays
    * a vectorized long sum — ~2× faster than decimal sums at bench
    * scale. Revenue multiplies cent-scaled longs, so the product is
    * exact integer arithmetic too. Envelope: revenue terms are ≤1e9
    * cents², so a long-backed group sum holds to ~9e9 rows/group
    * (≈1 PB of lineitem); beyond that use the DECIMAL formulation. */
  val q01: Q = (s, dir) => {
    val li = Tables(s, dir).lineitem
    def cents(c: Column): Column = round(c * 100).cast("long")
    li.groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        (sum(cents(col("l_quantity"))) / 100.0).as("sum_qty"),
        (sum(cents(col("l_extendedprice"))) / 100.0).as("sum_base_price"),
        (sum(cents(col("l_extendedprice")) * (lit(100L) - cents(col("l_discount")))) / 10000.0)
          .as("revenue"),
        count(lit(1)).as("cnt"))
  }
  val q01Sql: String =
    """SELECT l_returnflag, l_linestatus,
      | SUM(CAST(round(l_quantity*100) AS BIGINT)) / 100.0 AS sum_qty,
      | SUM(CAST(round(l_extendedprice*100) AS BIGINT)) / 100.0 AS sum_base_price,
      | SUM(CAST(round(l_extendedprice*100) AS BIGINT) * (100 - CAST(round(l_discount*100) AS BIGINT))) / 10000.0 AS revenue,
      | COUNT(*) AS cnt
      |FROM lineitem GROUP BY l_returnflag, l_linestatus""".stripMargin

  /** q02 — A1: tumbling-window grouped count+sum (10 min windows over
    * events). Reference analog: dm/ProcessBrowseLogInfoToDM.scala:71-96. */
  val q02: Q = (s, dir) =>
    Aggregations.windowedCount(Tables(s, dir).events, "ts", 600,
      Seq("event_type"), Some("value"))
  val q02Sql: String =
    """SELECT strftime(make_timestamp(CAST(floor(epoch(ts)/600)*600*1000000 AS BIGINT)), '%Y-%m-%d %H:%M:%S') AS window_start,
      | event_type, COUNT(*) AS cnt,
      | CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS val_sum
      |FROM events GROUP BY 1, 2""".stripMargin

  /** q03 — J2: left-outer dim-chain enrichment (fact keeps its
    * partitioning; no per-record lookups — AQE broadcasts dims under
    * threshold, shuffles the SF-proportional ones at lake scale).
    * Reference analog: dws/ProcessUserlogInToDWS.scala:107-225. */
  val q03: Q = (s, dir) => {
    val t = Tables(s, dir)
    val enriched = Enrichment.enrichOn(
      Enrichment.enrichOn(
        Enrichment.enrichOn(t.orders, t.customer, col("o_custkey") === col("c_custkey")),
        t.nation, col("c_nationkey") === col("n_nationkey")),
      t.region, col("n_regionkey") === col("r_regionkey"))
    enriched.select(col("o_orderkey"), col("o_custkey"), col("c_name"),
      col("c_mktsegment"), col("n_name"), col("r_name"), col("o_totalprice"))
  }
  val q03Sql: String =
    """SELECT o.o_orderkey, o.o_custkey, c.c_name, c.c_mktsegment, n.n_name, r.r_name, o.o_totalprice
      |FROM orders o
      |LEFT JOIN customer c ON o.o_custkey = c.c_custkey
      |LEFT JOIN nation n ON c.c_nationkey = n.n_nationkey
      |LEFT JOIN region r ON n.n_regionkey = r.r_regionkey""".stripMargin

  /** q04 — J3: equi self-join (adjacent line numbers within an order),
    * aggregated. Reference analog: category self-join,
    * dws/ProduceBrowseLogToDWS.scala:169-178.
    *
    * The oracle documents the join semantics; the engine executes the
    * same-key self-join as ONE shuffle of ONE copy of the fact:
    * group by the join key, collect the (small, ≤ order-size) line
    * list, and pair adjacent line numbers with higher-order functions
    * — full fan-out semantics preserved (duplicate line numbers
    * multiply, as in the join). A 100 TB fact can neither broadcast
    * nor afford the second shuffle+sort a real self-join plans; this
    * shape scales as long as a single group fits in memory (orders
    * have bounded line counts). Quantity math runs in exact cents.
    *
    * Round 18 (guide §2.3, narrower types): each line crosses the
    * exchange as ONE packed long — (ln << 40) | (qc << 8) |
    * ascii(flag), range-checked at pack time — instead of a
    * struct<int, long, string> (~40 bytes serialized). The shuffle is
    * row-linear in the fact, so this is a ~4× byte cut on the query's
    * dominant exchange; the kernel unpacks primitives and emits the
    * identical struct<flag, cnt, qc2> rows (oracle-verified). */
  val q04: Q = (s, dir) => {
    val li = Tables(s, dir).lineitem.select(
      col("l_orderkey"),
      graft.expressions.AdjacentPairStats.packLine(
        col("l_linenumber"),
        round(col("l_quantity") * 100).cast("long"),
        col("l_returnflag")).as("r"))
    val perOrder = li.groupBy(col("l_orderkey"))
      .agg(collect_list(col("r")).as("ls"))
    // one native kernel per order: every (a, b) pair with
    // b.ln == a.ln + 1 accumulates (count, a.qc + b.qc) per left flag —
    // flag-grain rows out (~4× fewer than line grain), zero boxed
    // lambda calls (expressions.AdjacentPairStats)
    perOrder
      .select(explode(
        graft.expressions.AdjacentPairStats.adjacentPairStats(col("ls"))).as("p"))
      .groupBy(col("p.flag").as("flag"))
      .agg(sum(col("p.cnt")).as("pair_cnt"),
        (sum(col("p.qc2")) / 100.0).as("qty2"))
  }
  val q04Sql: String =
    """SELECT l1.l_returnflag AS flag, COUNT(*) AS pair_cnt,
      | CAST(SUM(CAST(l1.l_quantity AS DECIMAL(18,2)) + CAST(l2.l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty2
      |FROM lineitem l1 JOIN lineitem l2
      | ON l1.l_orderkey = l2.l_orderkey AND l1.l_linenumber + 1 = l2.l_linenumber
      |GROUP BY l1.l_returnflag""".stripMargin

  /** q05 — J1 + R1/R3: config-broadcast dim/fact routing with target
    * binding. Reference analog: ods/ProduceKafkaDBDataToODS.scala:160-217. */
  val q05: Q = (s, dir) => {
    val config = Routing.configDf(s, "event_type", Seq(
      Routing.DimRoute("signup", "DIM_SIGNUP"),
      Routing.DimRoute("error", "DIM_ERROR")))
    Routing.routed(Tables(s, dir).events, config, "event_type", "ODS_EVENTS")
      .groupBy(col("event_type"), col("route"), col("target_table"))
      .agg(count(lit(1)).as("cnt"))
  }
  val q05Sql: String =
    """SELECT e.event_type,
      | CASE WHEN c.dim_table IS NOT NULL THEN 'dim' ELSE 'fact' END AS route,
      | COALESCE(c.dim_table, 'ODS_EVENTS') AS target_table,
      | COUNT(*) AS cnt
      |FROM events e
      |LEFT JOIN (VALUES ('signup','DIM_SIGNUP'), ('error','DIM_ERROR')) c(event_type, dim_table)
      | ON e.event_type = c.event_type
      |GROUP BY 1, 2, 3""".stripMargin

  /** q06 — P4/P6 + F1/F2/F4/F6: timestamp cleanse with null sentinels,
    * date part, null/empty guard. Reference analog:
    * dwd/ProcessODSDataToDWD.scala:79-105, utils/DateUtil.scala:16-41. */
  val q06: Q = (s, dir) =>
    Tables(s, dir).events.select(
      col("event_id"),
      Cleanse.formatDateTime(col("ts")).as("event_tm"),
      Cleanse.formatDate(col("ts")).as("dt"),
      Cleanse.datePart(Cleanse.formatDateTime(col("ts"))).as("day_part"),
      when(Cleanse.isNullOrEmpty(col("props")), 1).otherwise(0).as("props_empty"))
  val q06Sql: String =
    """SELECT event_id,
      | COALESCE(strftime(ts, '%Y-%m-%d %H:%M:%S'), '1970-01-01 00:00:00') AS event_tm,
      | COALESCE(strftime(ts, '%Y-%m-%d'), '1970-01-01') AS dt,
      | substr(COALESCE(strftime(ts, '%Y-%m-%d %H:%M:%S'), '1970-01-01 00:00:00'), 1, 10) AS day_part,
      | CASE WHEN props IS NULL OR props = '' THEN 1 ELSE 0 END AS props_empty
      |FROM events""".stripMargin

  /** q07 — F5/P1: JSON payload field extraction with numeric cast.
    * Reference analog: fastjson parse at dwd/ProcessODSDataToDWD.scala:86-105. */
  val q07: Q = (s, dir) =>
    Tables(s, dir).events.select(
      col("event_id"),
      get_json_object(col("props"), "$.k").cast("long").as("k"))
  val q07Sql: String =
    """SELECT event_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
      |FROM events""".stripMargin

  /** q08 — P7/P9 (+K3 shape): routing-envelope construction with a JSON
    * payload. Reference analog: ods/ProduceKafkaLogDataToODS.scala:86-112. */
  val q08: Q = (s, dir) =>
    Tables(s, dir).events.select(
      col("event_id"),
      lit("ODS_EVENTS").as("iceberg_ods_tbl_name"),
      lit("KAFKA-DWD-EVENTS-TOPIC").as("kafka_dwd_topic"),
      to_json(struct(col("event_id"), col("event_type"))).as("data"))
  val q08Sql: String =
    """SELECT event_id,
      | 'ODS_EVENTS' AS iceberg_ods_tbl_name,
      | 'KAFKA-DWD-EVENTS-TOPIC' AS kafka_dwd_topic,
      | concat('{"event_id":', CAST(event_id AS VARCHAR), ',"event_type":"', event_type, '"}') AS data
      |FROM events""".stripMargin

  /** q09 — A2 (direct ProcessUserPoints analog): day+entity grouped
    * exact sum. Reference: offlineanls/ProcessUserPoints.scala:35-44. */
  val q09: Q = (s, dir) =>
    Aggregations.groupedPoints(Tables(s, dir).events,
      Cleanse.formatDate(col("ts")), Seq("user_id", "event_type"), "value")
  val q09Sql: String =
    """SELECT COALESCE(strftime(ts, '%Y-%m-%d'), '1970-01-01') AS log_date, user_id, event_type,
      | CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_points,
      | COUNT(*) AS cnt
      |FROM events GROUP BY 1, 2, 3""".stripMargin

  /** q27 — TPC-H Q3 shape: segment-filtered 3-way join, grouped revenue,
    * top-10 by (revenue desc, orderkey). Exercises join ordering with a
    * broadcast dim, exact cents revenue, sort+limit (WindowGroupLimit-
    * free: global top-k via ORDER BY+LIMIT is TakeOrderedAndProject). */
  val q27: Q = (s, dir) => {
    val t = Tables(s, dir)
    def cents(c: Column): Column = round(c * 100).cast("long")
    // Reduce orders BEFORE the fact join: the segment gate keeps ~1/5
    // of orders, so the lineitem join probes a 5× smaller side. The
    // customer side is key-only (left_semi — no payload carried). No
    // broadcast hint: customer is SF-proportional, so a pinned hint
    // would OOM executors at lake scale; AQE broadcasts it at bench SF
    // anyway (under threshold) and shuffles it when it grows.
    val buildingOrders = t.orders
      .filter(col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
      .join(t.customer.filter(col("c_mktsegment") === "BUILDING")
          .select(col("c_custkey").as("o_custkey")),
        Seq("o_custkey"), "left_semi")
      .select(col("o_orderkey"), col("o_orderdate"), col("o_orderpriority"))
    t.lineitem
      .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"))
      .join(buildingOrders, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("l_orderkey"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("o_dt"),
        col("o_orderpriority"))
      .agg((sum(cents(col("l_extendedprice")) * (lit(100L) - cents(col("l_discount")))) / 10000.0)
        .as("revenue"))
      .orderBy(col("revenue").desc, col("l_orderkey").asc)
      .limit(10)
  }
  val q27Sql: String =
    """SELECT l_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS o_dt, o_orderpriority,
      | SUM(CAST(round(l_extendedprice*100) AS BIGINT) * (100 - CAST(round(l_discount*100) AS BIGINT))) / 10000.0 AS revenue
      |FROM lineitem
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |WHERE c_mktsegment = 'BUILDING' AND o_orderdate < TIMESTAMP '1998-01-01'
      |GROUP BY 1, 2, 3
      |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin

  /** q28 — TPC-H Q5 shape: 5-way snowflake join through nation/region
    * with bounded dims broadcast (nation/region only; customer/supplier
    * are SF-proportional and left to AQE); revenue per nation.
    *
    * Join order reduces earliest: the region gate shrinks nation to
    * the ASIA rows, that gates customer to ~1/5, that gates orders to
    * ~1/5 — so the side the fact joins against is 5× smaller before
    * lineitem is touched. The supplier-nation equality rides along as
    * the s_nationkey = c_nationkey condition on the supplier join. */
  val q28: Q = (s, dir) => {
    val t = Tables(s, dir)
    def cents(c: Column): Column = round(c * 100).cast("long")
    val asiaNation = t.nation
      .join(broadcast(t.region.filter(col("r_name") === "ASIA")
        .select(col("r_regionkey"))),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("n_nationkey"), col("n_name"))
    val asiaCust = t.customer
      .join(broadcast(asiaNation), col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"), col("c_nationkey"), col("n_name"))
    // asiaCust and supplier are SF-proportional: no broadcast hints —
    // AQE broadcasts them at bench SF (under threshold) and falls back
    // to shuffle joins when they outgrow executor memory at lake scale.
    // Only nation/region (bounded, ≤25 rows at any SF) stay hinted.
    val asiaOrders = t.orders.select(col("o_orderkey"), col("o_custkey"))
      .join(asiaCust, col("o_custkey") === col("c_custkey"))
      .select(col("o_orderkey"), col("c_nationkey"), col("n_name"))
    t.lineitem
      .select(col("l_orderkey"), col("l_suppkey"),
        col("l_extendedprice"), col("l_discount"))
      .join(asiaOrders, col("l_orderkey") === col("o_orderkey"))
      .join(t.supplier.select(col("s_suppkey"), col("s_nationkey")),
        col("l_suppkey") === col("s_suppkey") &&
          col("c_nationkey") === col("s_nationkey"))
      .groupBy(col("n_name"))
      .agg((sum(cents(col("l_extendedprice")) * (lit(100L) - cents(col("l_discount")))) / 10000.0)
        .as("revenue"),
        count(lit(1)).as("cnt"))
  }
  val q28Sql: String =
    """SELECT n_name,
      | SUM(CAST(round(l_extendedprice*100) AS BIGINT) * (100 - CAST(round(l_discount*100) AS BIGINT))) / 10000.0 AS revenue,
      | COUNT(*) AS cnt
      |FROM lineitem
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
      |JOIN nation ON s_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |WHERE r_name = 'ASIA'
      |GROUP BY n_name""".stripMargin

  // ------------------------------------------------- dedup extensions

  /** q10 — exact dedup by content hash. */
  val q10: Q = (s, dir) => Dedup.exact(Tables(s, dir).documents, "text", "doc_id")
  val q10Sql: String =
    """SELECT md5(text) AS text_hash, MIN(doc_id) AS keep_id, COUNT(*) AS dup_cnt
      |FROM documents GROUP BY md5(text)""".stripMargin

  /** q11 — MinHash+LSH near-dup candidates (no SQL oracle: hash-seeded
    * signatures; driver records rows-only). */
  val q11: Q = (s, dir) =>
    Dedup.minHashLsh(Tables(s, dir).documents, "text", "doc_id",
      numHashes = 64, bands = 16, estThreshold = 0.2)

  /** q12 — SimHash near-dup candidates (rows-only). maxHamming = 10
    * (round 16: the hamming bar only verifies — candidates come from
    * the bands). probeBits = 1 (round 17, the ADOPTION the r16
    * verdict asked to adjudicate): one-bit multiprobe lifts the
    * candidate guarantee from hamming ≤ 3 to ≤ 7, capturing the
    * J ≥ 0.7 truth pairs whose 4–5 differing bits spread across all
    * four quarters. Measured (SCALING.md, round 17): recall
    * 0.88 → 1.00 at sf0.01 and 0.883 → 0.977 at sf0.1, candidates
    * 4.8–4.9× (not the 17× band-frame worst case — `distinct`
    * collapses multi-band hits), wall 1.26 → 2.00 s at sf0.1. The
    * QUALITY floor rises 0.80 → 0.90 to match. */
  val q12: Q = (s, dir) =>
    Dedup.simHashDup(Tables(s, dir).documents, "text", "doc_id",
      maxHamming = 10, probeBits = 1)

  /** q13 — exact word-3-gram Jaccard over a fixed candidate block
    * (doc_id < 30 pairs). */
  val q13: Q = (s, dir) => {
    val t = Tables(s, dir)
    val ids = t.documents.filter(col("doc_id") < 30).select(col("doc_id"))
    val pairs = ids.select(col("doc_id").as("id_a"))
      .join(ids.select(col("doc_id").as("id_b")), col("id_a") < col("id_b"))
    Dedup.ngramJaccard(t.documents, pairs, "text", "doc_id", n = 3)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))
  }
  val q13Sql: String =
    """WITH w AS (
      |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w FROM documents WHERE doc_id < 30
      |), sh AS (
      |  SELECT doc_id,
      |    CASE WHEN len(w) <= 3 THEN [array_to_string(w, ' ')]
      |         ELSE list_distinct(list_transform(range(1, len(w) - 1), i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))
      |    END AS sh
      |  FROM w
      |)
      |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
      | round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
      |       CAST(len(list_distinct(list_concat(a.sh, b.sh))) AS DOUBLE), 6) AS jaccard
      |FROM sh a JOIN sh b ON a.doc_id < b.doc_id""".stripMargin

  // -------------------------------------------- similarity extensions

  /** q14 — brute-force cosine top-5 for query vectors vec_id<10.
    * Scores are bit-identical double sequential folds in both engines. */
  val q14: Q = (s, dir) => {
    val emb = Tables(s, dir).embeddings
    Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") < 10),
        "embedding", "vec_id", k = 5)
      .withColumnRenamed("rank", "rnk")
  }
  val q14Sql: String =
    """WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id < 10),
      | c AS (SELECT vec_id AS corpus_id, CAST(embedding AS DOUBLE[]) AS cv FROM embeddings),
      | scored AS (
      |  SELECT query_id, corpus_id, list_cosine_similarity(cv, qv) AS score
      |  FROM c CROSS JOIN q WHERE corpus_id <> query_id),
      | ranked AS (
      |  SELECT query_id, corpus_id, score,
      |         CAST(row_number() OVER (PARTITION BY query_id ORDER BY score DESC, corpus_id) AS BIGINT) AS rnk
      |  FROM scored)
      |SELECT query_id, rnk, corpus_id, score FROM ranked WHERE rnk <= 5""".stripMargin

  /** q15 — LSH-bucketed approximate top-k (rows-only: recall depends on
    * hash-seeded buckets). */
  val q15: Q = (s, dir) => {
    val emb = Tables(s, dir).embeddings
    Similarity.lshTopK(emb, emb.filter(col("vec_id") < 10),
      "embedding", "vec_id", k = 5, planes = 6)
  }

  /** q16 — embedding-cosine near-dup pairs via banded LSH blocking
    * (rows-only). Parameters are SCALE-ADAPTIVE ([[Dedup.srpParams]],
    * the round-12 100× finding): fixed planes make candidate volume
    * bands·n²/2^planes — quadratic; deriving planes from
    * log2(n/targetBucket) bounds buckets and makes it linear, with
    * bands growing logarithmically to hold the recall floor. Every
    * fixture/bench scale lands on the historical (8, 3). */
  val q16: Q = (s, dir) => {
    val emb = Tables(s, dir).embeddings
    val (planes, bands) = Dedup.srpParams(emb.count())
    Dedup.embeddingNearDup(emb, "embedding", "vec_id",
      threshold = 0.3, planes = planes, bands = bands)
  }

  /** q23 — IVF approximate top-k (rows-only: centroid sample is
    * hash-seeded). */
  val q23: Q = (s, dir) => {
    val emb = Tables(s, dir).embeddings
    Similarity.ivfTopK(emb, emb.filter(col("vec_id") < 10),
      "embedding", "vec_id", k = 5, nCentroids = 16, nProbe = 4)
  }

  /** q24 — duplicate clustering: minhash candidate pairs collapsed into
    * connected components (rows-only). */
  val q24: Q = (s, dir) => {
    val pairs = Dedup.minHashLsh(Tables(s, dir).documents, "text", "doc_id",
      numHashes = 64, bands = 16, estThreshold = 0.2)
    Dedup.clusterDuplicates(pairs, s)
  }

  // ------------------------------------------------ text extensions

  private def markerCountSql(m: String): String =
    s"CAST((length(text) - length(replace(text, '$m', ''))) / ${m.length} AS BIGINT)"
  private def langScoreSql(lang: String): String =
    Text.langMarkers.toMap.apply(lang).map(markerCountSql).mkString("(", " + ", ")")

  /** q17 — language-ID heuristic (marker-word argmax). One
    * MarkerCounts scan per doc feeds all 5 language scores (the
    * replace-arithmetic form is the oracle's shape — 15 passes). */
  val q17: Q = (s, dir) =>
    Tables(s, dir).documents
      .withColumn("_mc", TextStats.counts(col("text")))
      .select(col("doc_id"), TextStats.langId(col("_mc")).as("pred_lang"))
  val q17Sql: String = {
    val scores = Text.langMarkers.map { case (l, _) => s"${langScoreSql(l)} AS s_$l" }
    val maxE = Text.langMarkers.map { case (l, _) => s"s_$l" }.mkString("greatest(", ", ", ")")
    val cases = Text.langMarkers.map { case (l, _) =>
      s"WHEN s_$l = m AND m > 0 THEN '$l'"
    }.mkString(" ")
    s"""WITH s AS (SELECT doc_id, ${scores.mkString(", ")} FROM documents),
       | sm AS (SELECT doc_id, s_en, s_de, s_fr, s_es, s_zh, $maxE AS m FROM s)
       |SELECT doc_id, CASE $cases ELSE 'und' END AS pred_lang FROM sm""".stripMargin
  }

  private val wordsSql =
    "CASE WHEN length(text) = 0 THEN 0 ELSE length(text) - length(replace(text, ' ', '')) + 1 END"
  /** The salted Sampling coin ([[graft.operators.Sampling.knuthCoin]]
    * — quadratic mix then Knuth multiplicative hash), in the
    * pmod-equivalent SQL form shared by every oracle that replays it
    * (q55/q69/q72/q113/q114): Spark's pmod is always non-negative
    * while DuckDB's % follows the dividend's sign, so negative 64-bit
    * ids are folded into [0, 2^30) the same way Spark does (the
    * +2^30+salt literal below). ONE definition on purpose — a coin
    * fix applied to one oracle but not another shows up as a phantom
    * cross-engine mismatch. Each oracle passes its door's salt
    * (`Sampling.SaltRate`/`SaltSplit`/`SaltWeight`/`SaltGumbel`/
    * `SaltTemperature`), mirroring the per-door salting that makes
    * composed sampling doors independent. */
  private def coinSql(salt: Long, idExpr: String = "doc_id"): String = {
    val x = s"((($idExpr % 1073741824) + ${1073741824L + salt}) % 1073741824)"
    val q = s"(($x * (2 * $x + 1)) % 4294967296)"
    s"((($q % 2147483648) * 2654435761) % 4294967296)"
  }
  private val punctSql =
    Seq(".", ",", "!", "?", ";", ":").map(markerCountSql).mkString("(", " + ", ")")
  private val stopSql =
    Seq(" the ", " a ", " and ", " of ", " to ", " in ").map(markerCountSql).mkString("(", " + ", ")")

  /** q18 — quality scoring: length/stopword/punctuation heuristics,
    * all derived from one MarkerCounts scan. */
  val q18: Q = (s, dir) =>
    Tables(s, dir).documents
      .withColumn("_mc", TextStats.counts(col("text")))
      .select(
        col("doc_id"),
        length(col("text")).cast("long").as("n_chars2"),
        TextStats.wordCount(col("text"), col("_mc")).as("n_words"),
        TextStats.punctCount(col("_mc")).as("punct_cnt"),
        TextStats.stopwordCount(col("_mc")).as("stop_cnt"),
        TextStats.qualityScore(col("text"), col("_mc")).as("q_score"))
  val q18Sql: String =
    s"""SELECT doc_id,
       | CAST(length(text) AS BIGINT) AS n_chars2,
       | CAST($wordsSql AS BIGINT) AS n_words,
       | $punctSql AS punct_cnt,
       | $stopSql AS stop_cnt,
       | round(0.5 * least(CAST(length(text) AS DOUBLE) / 400.0, 1.0)
       |     + 0.5 * least(CAST($stopSql AS DOUBLE) * 8.0 / greatest(CAST($wordsSql AS DOUBLE), 1.0), 1.0)
       |     - 0.25 * least(CAST($punctSql AS DOUBLE) * 4.0 / greatest(CAST(length(text) AS DOUBLE), 1.0), 1.0), 6) AS q_score
       |FROM documents""".stripMargin

  /** q19 — token counting (whitespace) + mean word length; the
    * space-stripped length is chars − spaces from the shared scan. */
  val q19: Q = (s, dir) =>
    Tables(s, dir).documents
      .withColumn("_mc", TextStats.counts(col("text")))
      .select(
        col("doc_id"),
        TextStats.wordCount(col("text"), col("_mc")).as("n_words"),
        length(col("text")).cast("long").as("n_chars2"),
        round((length(col("text")) - TextStats.spaceCount(col("_mc"))).cast("double") /
          greatest(TextStats.wordCount(col("text"), col("_mc")).cast("double"),
            lit(1.0)), 4).as("avg_wlen"))
  val q19Sql: String =
    s"""SELECT doc_id,
       | CAST($wordsSql AS BIGINT) AS n_words,
       | CAST(length(text) AS BIGINT) AS n_chars2,
       | round(CAST(length(replace(text, ' ', '')) AS DOUBLE) / greatest(CAST($wordsSql AS DOUBLE), 1.0), 4) AS avg_wlen
       |FROM documents""".stripMargin

  /** q20 — normalized-content fingerprint (case/punct/whitespace
    * insensitive md5). */
  val q20: Q = (s, dir) =>
    Tables(s, dir).documents.select(col("doc_id"), Text.fingerprint(col("text")).as("fp"))
  val q20Sql: String =
    """SELECT doc_id,
      | md5(regexp_replace(regexp_replace(lower(text), '[.,!?;:]', '', 'g'), ' +', ' ', 'g')) AS fp
      |FROM documents""".stripMargin

  /** q25 — Gopher-style repetition quality signal: top-word frequency
    * ratio per doc (explode → two-level agg, all map-side combinable). */
  val q25: Q = (s, dir) => {
    val words = Tables(s, dir).documents
      .select(col("doc_id"), explode(Text.tokens(col("text"))).as("w"))
    words.groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n_words2"),
        count(lit(1)).as("n_distinct"),
        max(col("c")).as("top_cnt"),
        round(max(col("c")).cast("double") / sum(col("c")).cast("double"), 6)
          .as("rep_ratio"))
  }
  val q25Sql: String =
    """WITH w AS (
      |  SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS w FROM documents
      |), wc AS (
      |  SELECT doc_id, w, COUNT(*) AS c FROM w GROUP BY 1, 2
      |)
      |SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_words2, COUNT(*) AS n_distinct,
      | CAST(MAX(c) AS BIGINT) AS top_cnt,
      | round(CAST(MAX(c) AS DOUBLE) / CAST(SUM(c) AS DOUBLE), 6) AS rep_ratio
      |FROM wc GROUP BY doc_id""".stripMargin

  /** q26 — TF-IDF keyword extraction: top-3 terms per document by
    * tf·ln(N/df), rounded before ranking so cross-engine ulp noise in
    * `ln` cannot flip ranks; ties break on the term. */
  val q26: Q = (s, dir) => {
    val docs = Tables(s, dir).documents
    // corpus size via a broadcast 1-row aggregate — same job, no
    // separate count() action/scan
    val nDocs = broadcast(docs.agg(count(lit(1)).cast("double").as("n_docs")))
    val tf = docs.select(col("doc_id"), explode(Text.tokens(col("text"))).as("w"))
      .groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy(col("w")).agg(count(lit(1)).as("df"))
    // dfreq is the vocabulary (≪ tf): broadcast it so tf keeps its
    // (doc_id, w) partitioning instead of reshuffling on w. A lake-
    // scale vocabulary beyond the broadcast threshold would drop the
    // hint and take the shuffle — the plan is otherwise unchanged.
    val scored = tf.join(broadcast(dfreq), Seq("w")).crossJoin(nDocs)
      .withColumn("score", round(col("tf") * log(col("n_docs") / col("df")), 6))
    val win = Window.partitionBy(col("doc_id"))
      .orderBy(col("score").desc, col("w").asc)
    scored.withColumn("rnk", row_number().over(win).cast("long"))
      .filter(col("rnk") <= 3)
      .select(col("doc_id"), col("rnk"), col("w"), col("score"))
  }
  val q26Sql: String =
    """WITH w AS (
      |  SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS w FROM documents
      |), tf AS (
      |  SELECT doc_id, w, COUNT(*) AS tf FROM w GROUP BY 1, 2
      |), dfreq AS (
      |  SELECT w, COUNT(*) AS df FROM tf GROUP BY 1
      |), scored AS (
      |  SELECT tf.doc_id, tf.w, CAST(tf.tf AS BIGINT) AS tf2,
      |    round(tf.tf * ln((SELECT CAST(COUNT(*) AS DOUBLE) FROM documents) / dfreq.df), 6) AS score
      |  FROM tf JOIN dfreq ON tf.w = dfreq.w
      |), ranked AS (
      |  SELECT doc_id, w, score,
      |    CAST(row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, w) AS BIGINT) AS rnk
      |  FROM scored
      |)
      |SELECT doc_id, rnk, w, score FROM ranked WHERE rnk <= 3""".stripMargin

  /** q29 — funnel analysis over the event stream: per user, first
    * signup and the first purchase at-or-after it (conversion +
    * seconds-to-convert). Ordered-event analytics via min-over-filter,
    * one shuffle on user_id. */
  val q29: Q = (s, dir) => {
    val ev = Tables(s, dir).events
    val signup = ev.filter(col("event_type") === "signup")
      .groupBy(col("user_id")).agg(min(col("ts")).as("signup_ts"))
    val purchase = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts").as("p_ts"))
    signup.join(purchase, Seq("user_id"), "left_outer")
      .filter(col("p_ts").isNull || col("p_ts") >= col("signup_ts"))
      .groupBy(col("user_id"))
      .agg(min(col("signup_ts")).as("su"), min(col("p_ts")).as("fp"))
      .select(
        col("user_id"),
        Cleanse.formatDateTime(col("su")).as("signup_tm"),
        Cleanse.formatDateTime(col("fp")).as("first_purchase_tm"),
        when(col("fp").isNotNull, 1).otherwise(0).as("converted"),
        (unix_timestamp(col("fp")) - unix_timestamp(col("su"))).as("secs_to_convert"))
  }
  val q29Sql: String =
    """WITH su AS (
      |  SELECT user_id, MIN(ts) AS signup_ts FROM events WHERE event_type = 'signup' GROUP BY 1
      |), p AS (
      |  SELECT user_id, ts AS p_ts FROM events WHERE event_type = 'purchase'
      |), j AS (
      |  SELECT su.user_id, su.signup_ts, p.p_ts
      |  FROM su LEFT JOIN p ON su.user_id = p.user_id
      |  WHERE p.p_ts IS NULL OR p.p_ts >= su.signup_ts
      |), agg AS (
      |  SELECT user_id, MIN(signup_ts) AS su2, MIN(p_ts) AS fp FROM j GROUP BY 1
      |)
      |SELECT user_id,
      | COALESCE(strftime(su2, '%Y-%m-%d %H:%M:%S'), '1970-01-01 00:00:00') AS signup_tm,
      | COALESCE(strftime(fp, '%Y-%m-%d %H:%M:%S'), '1970-01-01 00:00:00') AS first_purchase_tm,
      | CASE WHEN fp IS NOT NULL THEN 1 ELSE 0 END AS converted,
      | CAST(floor(epoch(fp)) AS BIGINT) - CAST(floor(epoch(su2)) AS BIGINT) AS secs_to_convert
      |FROM agg""".stripMargin

  /** q30 — ROLLUP revenue over (region, nation) with grouping flags:
    * hierarchical subtotals.
    *
    * Two-level shape: the fact is first reduced to ONE row per
    * (r_name, n_name) with a plain partial-aggregatable groupBy, and
    * the ROLLUP's Expand runs over that tiny aggregate (|regions ×
    * nations| rows), re-summing the decomposable sums. Rolling up the
    * joined fact directly would push every fact row through Expand —
    * 3× the fact volume into the aggregate at any scale. */
  val q30: Q = (s, dir) => {
    val t = Tables(s, dir)
    def cents(c: Column): Column = round(c * 100).cast("long")
    val perNation = t.lineitem
      .select(col("l_orderkey"), col("l_extendedprice"))
      .join(t.orders.select(col("o_orderkey"), col("o_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      .join(t.customer.select(col("c_custkey"), col("c_nationkey")),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(t.nation), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(t.region), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"), col("n_name"))
      .agg(sum(cents(col("l_extendedprice"))).as("cents_rev"),
        count(lit(1)).as("n"))
    perNation.rollup(col("r_name"), col("n_name"))
      .agg((sum(col("cents_rev")) / 100.0).as("base_rev"),
        sum(col("n")).as("cnt"))
      .select(coalesce(col("r_name"), lit("ALL")).as("region"),
        coalesce(col("n_name"), lit("ALL")).as("nation"),
        col("base_rev"), col("cnt"))
  }
  val q30Sql: String =
    """SELECT COALESCE(r_name, 'ALL') AS region, COALESCE(n_name, 'ALL') AS nation,
      | SUM(CAST(round(l_extendedprice*100) AS BIGINT)) / 100.0 AS base_rev,
      | COUNT(*) AS cnt
      |FROM lineitem
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation ON c_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |GROUP BY ROLLUP (r_name, n_name)""".stripMargin

  /** q31 — corpus curation composition (the training-data flagship):
    * quality-score filter → language gate → exact-fingerprint dedup
    * (min-id survivor). The deterministic core of the curation pipeline
    * (`apps.CorpusCuration` adds the hash-seeded near-dup stage on top). */
  val q31: Q = (s, dir) => {
    val docs = Tables(s, dir).documents
    val scored = docs
      .withColumn("_mc", TextStats.counts(col("text")))
      .select(
        col("doc_id"),
        TextStats.qualityScore(col("text"), col("_mc")).as("q_score"),
        TextStats.langId(col("_mc")).as("pred_lang"),
        Text.fingerprint(col("text")).as("fp"))
      .filter(col("q_score") >= 0.3 && col("pred_lang") === "en")
    // min-id survivor per fingerprint via one window pass — a
    // groupBy+semi-join shape evaluates the scoring projection twice
    val w = Window.partitionBy(col("fp")).orderBy(col("doc_id"))
    scored.withColumn("_rn", row_number().over(w)).filter(col("_rn") === 1)
      .select(col("doc_id"), col("fp"), col("q_score"))
  }
  val q31Sql: String = {
    val scores = Text.langMarkers.map { case (l, _) => s"${langScoreSql(l)} AS s_$l" }
    val maxE = Text.langMarkers.map { case (l, _) => s"s_$l" }.mkString("greatest(", ", ", ")")
    val cases = Text.langMarkers.map { case (l, _) => s"WHEN s_$l = m AND m > 0 THEN '$l'" }.mkString(" ")
    s"""WITH s AS (
       |  SELECT doc_id,
       |   round(0.5 * least(CAST(length(text) AS DOUBLE) / 400.0, 1.0)
       |       + 0.5 * least(CAST($stopSql AS DOUBLE) * 8.0 / greatest(CAST($wordsSql AS DOUBLE), 1.0), 1.0)
       |       - 0.25 * least(CAST($punctSql AS DOUBLE) * 4.0 / greatest(CAST(length(text) AS DOUBLE), 1.0), 1.0), 6) AS q_score,
       |   md5(regexp_replace(regexp_replace(lower(text), '[.,!?;:]', '', 'g'), ' +', ' ', 'g')) AS fp,
       |   ${scores.mkString(", ")}
       |  FROM documents
       |), sm AS (
       |  SELECT doc_id, q_score, fp, CASE $cases ELSE 'und' END AS pred_lang
       |  FROM (SELECT *, $maxE AS m FROM s)
       |), gated AS (
       |  SELECT doc_id, fp, q_score FROM sm WHERE q_score >= 0.3 AND pred_lang = 'en'
       |), keep AS (
       |  SELECT fp, MIN(doc_id) AS doc_id FROM gated GROUP BY fp
       |)
       |SELECT g.doc_id, g.fp, g.q_score FROM gated g JOIN keep k
       | ON g.fp = k.fp AND g.doc_id = k.doc_id""".stripMargin
  }

  /** q32 — deterministic per-group sampling via a typed Aggregator
    * UDAF (bottom-k by content-independent hash): 3 docs per language,
    * reproducible across engines/partitionings. */
  val q32: Q = (s, dir) =>
    Sampling.sampleByGroup(Tables(s, dir).documents, Seq("lang"), "doc_id", 3)
  val q32Sql: String =
    """WITH r AS (
      |  SELECT lang, doc_id,
      |    row_number() OVER (PARTITION BY lang ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
      |  FROM documents
      |)
      |SELECT lang, CAST(rn AS BIGINT) AS rnk, doc_id FROM r WHERE rn <= 3""".stripMargin

  /** q33 — distinct aggregation: per event type, distinct users and
    * days active (Catalyst plans a two-stage distinct-expand — the
    * shape approx sketches replace at extreme cardinality). */
  val q33: Q = (s, dir) =>
    Tables(s, dir).events.groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("distinct_users"),
        countDistinct(Cleanse.formatDate(col("ts"))).as("active_days"),
        count(lit(1)).as("cnt"))
  val q33Sql: String =
    """SELECT event_type,
      | COUNT(DISTINCT user_id) AS distinct_users,
      | COUNT(DISTINCT COALESCE(strftime(ts, '%Y-%m-%d'), '1970-01-01')) AS active_days,
      | COUNT(*) AS cnt
      |FROM events GROUP BY event_type""".stripMargin

  /** q34 — pivot: events value sums spread into one column per event
    * type (Spark `pivot` with explicit values = a single hash aggregate
    * of conditional sums; explicit value list keeps it one pass with no
    * discovery job). */
  val q34: Q = (s, dir) => {
    val types = Seq("click", "view", "purchase", "signup", "error")
    Tables(s, dir).events
      .groupBy(Cleanse.formatDate(col("ts")).as("dt"))
      .pivot("event_type", types)
      .agg(exactSumCol(col("value")))
      .na.fill(0.0, types)
  }
  private def exactSumCol(c: Column): Column =
    sum(c.cast(DecimalType(18, 2))).cast("double")
  val q34Sql: String =
    """SELECT COALESCE(strftime(ts, '%Y-%m-%d'), '1970-01-01') AS dt,
      | COALESCE(CAST(SUM(CASE WHEN event_type = 'click' THEN CAST(value AS DECIMAL(18,2)) END) AS DOUBLE), 0.0) AS click,
      | COALESCE(CAST(SUM(CASE WHEN event_type = 'view' THEN CAST(value AS DECIMAL(18,2)) END) AS DOUBLE), 0.0) AS view,
      | COALESCE(CAST(SUM(CASE WHEN event_type = 'purchase' THEN CAST(value AS DECIMAL(18,2)) END) AS DOUBLE), 0.0) AS purchase,
      | COALESCE(CAST(SUM(CASE WHEN event_type = 'signup' THEN CAST(value AS DECIMAL(18,2)) END) AS DOUBLE), 0.0) AS signup,
      | COALESCE(CAST(SUM(CASE WHEN event_type = 'error' THEN CAST(value AS DECIMAL(18,2)) END) AS DOUBLE), 0.0) AS error
      |FROM events GROUP BY 1""".stripMargin

  /** q35 — as-of join: each purchase event enriched with the user's
    * latest signup at-or-before it (point-in-time/SCD semantics). One
    * shuffle+sort via the union-window formulation
    * (Enrichment.asOfJoin); oracle uses DuckDB's native ASOF JOIN. */
  val q35: Q = (s, dir) => {
    val ev = Tables(s, dir).events
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("p_id"), col("user_id"), col("ts"))
    val signups = ev.filter(col("event_type") === "signup")
      .groupBy(col("user_id"), col("ts")).agg(max(col("event_id")).as("s_id"))
    Enrichment.asOfJoin(purchases, "ts", signups, "ts", "user_id", Seq("s_id"))
      .select(col("p_id"), col("user_id"),
        Cleanse.formatDateTime(col("ts")).as("event_tm"), col("s_id"))
  }
  val q35Sql: String =
    """WITH p AS (
      |  SELECT event_id AS p_id, user_id, ts FROM events WHERE event_type = 'purchase'
      |), s AS (
      |  SELECT user_id, ts, MAX(event_id) AS s_id FROM events WHERE event_type = 'signup' GROUP BY 1, 2
      |)
      |SELECT p.p_id, p.user_id,
      | COALESCE(strftime(p.ts, '%Y-%m-%d %H:%M:%S'), '1970-01-01 00:00:00') AS event_tm,
      | s.s_id
      |FROM p ASOF LEFT JOIN s ON p.user_id = s.user_id AND p.ts >= s.ts""".stripMargin

  /** q36 — keyless range join: events falling inside each error
    * event's 10-minute incident window, counted per incident. Bucketized
    * equi join (Enrichment.rangeJoin) instead of the nested-loop theta
    * join the raw predicate would plan. */
  val q36: Q = (s, dir) => {
    val ev = Tables(s, dir).events
    val incidents = ev.filter(col("event_type") === "error")
      .select(col("event_id").as("incident_id"), col("ts").as("w_start"),
        (col("ts") + expr("INTERVAL 10 MINUTES")).as("w_end"))
    Enrichment.rangeJoin(ev.select(col("event_id"), col("ts")), "ts",
        incidents, "w_start", "w_end", bucketSec = 600L)
      .groupBy(col("incident_id"))
      .agg(count(lit(1)).as("n_events"))
  }
  val q36Sql: String =
    """WITH inc AS (
      |  SELECT event_id AS incident_id, ts AS w_start, ts + INTERVAL 10 MINUTE AS w_end
      |  FROM events WHERE event_type = 'error'
      |)
      |SELECT inc.incident_id, COUNT(*) AS n_events
      |FROM events e JOIN inc ON e.ts >= inc.w_start AND e.ts <= inc.w_end
      |GROUP BY inc.incident_id""".stripMargin

  /** q37 — semi/anti joins (EXISTS / NOT EXISTS): per market segment,
    * customers with and without orders.
    *
    * Single-pass form (round-12 100× surgery — this was the worst
    * remaining 10×→100× ratio): the separate left_semi and left_anti
    * branches scanned and shuffled BOTH tables twice. One
    * distinct-buyers frame outer-joined once, with the EXISTS /
    * NOT-EXISTS split falling out of conditional counts in a single
    * aggregate, computes both columns from one join — identical
    * semantics (left_semi count = matched rows, left_anti count =
    * unmatched rows of the same outer join), value-oracled. */
  val q37: Q = (s, dir) => {
    val t = Tables(s, dir)
    val buyers = t.orders.select(col("o_custkey").as("c_custkey"))
      .distinct()
      .withColumn("_has", lit(true))
    t.customer.select(col("c_custkey"), col("c_mktsegment"))
      .join(buyers, Seq("c_custkey"), "left_outer")
      .groupBy(col("c_mktsegment"))
      .agg(count(when(col("_has"), 1)).as("with_orders"),
        count(when(col("_has").isNull, 1)).as("without_orders"))
  }
  val q37Sql: String =
    """WITH w AS (
      |  SELECT c_mktsegment, COUNT(*) AS with_orders FROM customer c
      |  WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
      |  GROUP BY 1
      |), wo AS (
      |  SELECT c_mktsegment, COUNT(*) AS without_orders FROM customer c
      |  WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
      |  GROUP BY 1
      |)
      |SELECT COALESCE(w.c_mktsegment, wo.c_mktsegment) AS c_mktsegment,
      | COALESCE(w.with_orders, 0) AS with_orders,
      | COALESCE(wo.without_orders, 0) AS without_orders
      |FROM w FULL OUTER JOIN wo ON w.c_mktsegment = wo.c_mktsegment""".stripMargin

  /** q38 — ranking analytics: top-3 customers per nation by account
    * balance with rank and gap-to-previous (rank + lag window family).
    * The unique (balance desc, custkey) ordering makes rank() ≡
    * row_number, so [[operators.Ranks.globalRowNumbers]] computes it
    * from balanced range partitions (a per-nation window would sort
    * the whole table on 25 tasks); slicePred keeps only slices whose
    * offset < 3 — at most one slice boundary past the top-3 per nation
    * reaches the rank exchange — and the lag/gap window runs over the
    * ≤3-rows-per-nation survivor set. */
  val q38: Q = (s, dir) => {
    val ranked = Ranks.globalRowNumbers(
      Tables(s, dir).customer
        .select(col("c_nationkey"), col("c_custkey"), col("c_acctbal")),
      Seq("c_nationkey"),
      Seq(col("c_acctbal").desc, col("c_custkey").asc),
      slicePred = (off, _, _) => off < 3,
      rowPred = (g, _) => g <= 3)
    val wg = Window.partitionBy(col("c_nationkey")).orderBy(col("_g"))
    ranked
      .withColumn("gap",
        round(lag(col("c_acctbal"), 1).over(wg) - col("c_acctbal"), 2))
      .select(col("c_nationkey"), col("_g").as("rnk"), col("c_custkey"),
        round(col("c_acctbal"), 2).as("acctbal"), col("gap"))
  }
  val q38Sql: String =
    """WITH r AS (
      |  SELECT c_nationkey, c_custkey, c_acctbal,
      |   CAST(rank() OVER (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey) AS BIGINT) AS rnk,
      |   round(lag(c_acctbal) OVER (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey) - c_acctbal, 2) AS gap
      |  FROM customer
      |)
      |SELECT c_nationkey, rnk, c_custkey, round(c_acctbal, 2) AS acctbal, gap
      |FROM r WHERE rnk <= 3""".stripMargin

  // ----------------------------------------------- state/session + media

  /** q21 — gap-based sessionization (batch analog of keyed state /
    * mapGroupsWithState — SURVEY §2.9 T5): 30-min inactivity gap. */
  val q21: Q = (s, dir) => {
    val ev = Tables(s, dir).events
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val gap = unix_timestamp(col("ts")) - unix_timestamp(lag(col("ts"), 1).over(w))
    val newSession = when(gap.isNull || gap > 1800, 1).otherwise(0)
    ev.withColumn("new_s", newSession)
      .withColumn("session_id",
        sum(col("new_s")).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("session_id"))
      .agg(count(lit(1)).as("n_events"),
        Cleanse.formatDateTime(min(col("ts"))).as("s_start"),
        Cleanse.formatDateTime(max(col("ts"))).as("s_end"))
  }
  val q21Sql: String =
    """WITH x AS (
      |  SELECT user_id, event_id, ts,
      |    CASE WHEN CAST(floor(epoch(ts)) AS BIGINT) - CAST(floor(epoch(lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id))) AS BIGINT) > 1800
      |           OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
      |         THEN 1 ELSE 0 END AS new_s
      |  FROM events
      |), y AS (
      |  SELECT user_id, ts,
      |    CAST(SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
      |  FROM x
      |)
      |SELECT user_id, session_id, COUNT(*) AS n_events,
      | COALESCE(strftime(MIN(ts), '%Y-%m-%d %H:%M:%S'), '1970-01-01 00:00:00') AS s_start,
      | COALESCE(strftime(MAX(ts), '%Y-%m-%d %H:%M:%S'), '1970-01-01 00:00:00') AS s_end
      |FROM y GROUP BY user_id, session_id""".stripMargin

  /** q22 — multimodal plumbing: text → opaque binary media column with
    * deterministic fake-decoded metadata (builder brief: decode stubbed,
    * Spark-side schema/partitioning real). */
  val q22: Q = (s, dir) =>
    Tables(s, dir).documents
      .select(col("doc_id"), col("text").cast("binary").as("media"))
      .select(col("doc_id"),
        length(col("media")).cast("long").as("media_bytes"),
        (lit(64) + pmod(length(col("media")), lit(128))).cast("long").as("fake_width"),
        (lit(64) + pmod(length(col("media")) * 7, lit(128))).cast("long").as("fake_height"))
  val q22Sql: String =
    """SELECT doc_id,
      | CAST(octet_length(encode(text)) AS BIGINT) AS media_bytes,
      | CAST(64 + octet_length(encode(text)) % 128 AS BIGINT) AS fake_width,
      | CAST(64 + (octet_length(encode(text)) * 7) % 128 AS BIGINT) AS fake_height
      |FROM documents""".stripMargin

  // ------------------------------------------- round-2 widening: OLAP

  /** q39 — CUBE over (returnflag, linestatus) with grouping id: all
    * four subtotal levels in one pass. Same two-level shape as q30:
    * the fact reduces to one row per (flag, status) first, and the
    * cube's Expand runs over that tiny aggregate, re-summing
    * decomposable sums — never over the fact itself. */
  val q39: Q = (s, dir) => {
    def cents(c: Column): Column = round(c * 100).cast("long")
    val base = Tables(s, dir).lineitem
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(sum(cents(col("l_quantity"))).as("qc"), count(lit(1)).as("n"))
    base.cube(col("l_returnflag"), col("l_linestatus"))
      .agg((sum(col("qc")) / 100.0).as("sum_qty"),
        sum(col("n")).as("cnt"),
        grouping_id().cast("long").as("gid"))
      .select(coalesce(col("l_returnflag"), lit("ALL")).as("flag"),
        coalesce(col("l_linestatus"), lit("ALL")).as("status"),
        col("sum_qty"), col("cnt"), col("gid"))
  }
  val q39Sql: String =
    """SELECT COALESCE(l_returnflag, 'ALL') AS flag, COALESCE(l_linestatus, 'ALL') AS status,
      | SUM(CAST(round(l_quantity*100) AS BIGINT)) / 100.0 AS sum_qty,
      | COUNT(*) AS cnt,
      | CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid
      |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)""".stripMargin

  /** q40 — exact discrete percentiles (p50/p95 of order value per
    * priority) via explicit rank selection: value at 1-based rank
    * ⌈p·n⌉ in (o_totalprice, o_orderkey) order — the SQL-standard
    * percentile_disc, whose selection rule is bit-identical in both
    * engines (continuous interpolation differs in last-ulp FP between
    * implementations; discrete selection cannot).
    *
    * Scale shape: [[operators.Ranks.globalRowNumbers]] — a plain
    * per-priority window would sort the whole fact on 5 tasks; here
    * the fact range-partitions into balanced slices, a tiny histogram
    * locates the two ⌈p·n⌉ ranks, and ONLY the candidate slices are
    * sorted (slicePred prunes the rest before the rank exchange). At
    * sketch-friendly scale the approx path is q50 (rows-only). */
  val q40: Q = (s, dir) => {
    val r50 = (n: Column) => ceil(n * 0.5)
    val r95 = (n: Column) => ceil(n * 0.95)
    val ranked = Ranks.globalRowNumbers(
      Tables(s, dir).orders
        .select(col("o_orderpriority"), col("o_totalprice"), col("o_orderkey")),
      Seq("o_orderpriority"),
      Seq(col("o_totalprice"), col("o_orderkey")),
      slicePred = (off, cum, n) =>
        (r50(n) > off && r50(n) <= cum) || (r95(n) > off && r95(n) <= cum),
      rowPred = (g, n) => g === r50(n) || g === r95(n))
    ranked.groupBy(col("o_orderpriority"))
      .agg(
        max(when(col("_g") === r50(col("_n")), round(col("o_totalprice"), 2))).as("p50"),
        max(when(col("_g") === r95(col("_n")), round(col("o_totalprice"), 2))).as("p95"),
        max(col("_n")).cast("long").as("cnt"))
  }
  val q40Sql: String =
    """WITH r AS (
      |  SELECT o_orderpriority, o_totalprice,
      |    row_number() OVER (PARTITION BY o_orderpriority ORDER BY o_totalprice, o_orderkey) AS rn,
      |    COUNT(*) OVER (PARTITION BY o_orderpriority) AS n
      |  FROM orders
      |)
      |SELECT o_orderpriority,
      | MAX(CASE WHEN rn = ceil(n * 0.5) THEN round(o_totalprice, 2) END) AS p50,
      | MAX(CASE WHEN rn = ceil(n * 0.95) THEN round(o_totalprice, 2) END) AS p95,
      | CAST(MAX(n) AS BIGINT) AS cnt
      |FROM r WHERE rn = ceil(n * 0.5) OR rn = ceil(n * 0.95)
      |GROUP BY o_orderpriority""".stripMargin

  /** q41 — set operators: customers ordering in 1995 vs 1996 —
    * INTERSECT (both years), EXCEPT (1995 only), UNION (either).
    * Each side is a pre-distinct key projection, so the set ops run
    * on keys, not payloads. */
  val q41: Q = (s, dir) => {
    val o = Tables(s, dir).orders
    def year(y: Int) = o
      .filter(col("o_orderdate") >= lit(s"$y-01-01").cast("timestamp") &&
        col("o_orderdate") < lit(s"${y + 1}-01-01").cast("timestamp"))
      .select(col("o_custkey"))
    val (a, b) = (year(1995), year(1996))
    def cnt(df: DataFrame, tag: String) =
      df.agg(count(lit(1)).as("n_cust")).select(lit(tag).as("op"), col("n_cust"))
    cnt(a.intersect(b), "intersect")
      .unionAll(cnt(a.except(b), "except"))
      .unionAll(cnt(a.union(b).distinct, "union"))
  }
  val q41Sql: String =
    """WITH a AS (SELECT o_custkey FROM orders WHERE o_orderdate >= TIMESTAMP '1995-01-01' AND o_orderdate < TIMESTAMP '1996-01-01'),
      |     b AS (SELECT o_custkey FROM orders WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1997-01-01')
      |SELECT 'intersect' AS op, COUNT(*) AS n_cust FROM (SELECT * FROM a INTERSECT SELECT * FROM b)
      |UNION ALL
      |SELECT 'except' AS op, COUNT(*) AS n_cust FROM (SELECT * FROM a EXCEPT SELECT * FROM b)
      |UNION ALL
      |SELECT 'union' AS op, COUNT(*) AS n_cust FROM (SELECT * FROM a UNION SELECT * FROM b)""".stripMargin

  /** q42 — trailing 7-day moving average of daily order revenue via a
    * rows-frame window. The window is global-ordered, but it runs over
    * the DAILY aggregate (|distinct days| rows — bounded by calendar
    * time, not data volume), so the single-partition sort is safe at
    * any fact scale. Exact math: long cent sums; one double division
    * at the end, identical formula both engines. */
  val q42: Q = (s, dir) => {
    def cents(c: Column): Column = round(c * 100).cast("long")
    val daily = Tables(s, dir).orders
      .groupBy(date_format(col("o_orderdate"), "yyyy-MM-dd").as("dt"))
      .agg(sum(cents(col("o_totalprice"))).as("qc"), count(lit(1)).as("n"))
    val w = Window.orderBy(col("dt")).rowsBetween(-6, 0)
    // the per-order average is emitted as an exact 4-decimal fraction
    // (integer cent division, then one exact double divide) — a
    // round()ed ratio of cent-sums ties at the rounding digit whenever
    // the divisor shares factors with 10^k, and engines break .5 ties
    // differently
    daily
      .select(col("dt"), (col("qc") / 100.0).as("day_rev"),
        sum(col("qc")).over(w).as("s7"), sum(col("n")).over(w).as("n7"))
      .select(col("dt"), col("day_rev"),
        (expr("(s7 * 100) div n7") / 10000.0).as("ma7_per_order"),
        col("n7"))
  }
  val q42Sql: String =
    """WITH daily AS (
      |  SELECT strftime(o_orderdate, '%Y-%m-%d') AS dt,
      |    CAST(SUM(CAST(round(o_totalprice*100) AS BIGINT)) AS BIGINT) AS qc,
      |    COUNT(*) AS n
      |  FROM orders GROUP BY 1
      |)
      |SELECT dt, qc / 100.0 AS day_rev,
      | ((SUM(qc) OVER w * 100) // SUM(n) OVER w) / 10000.0 AS ma7_per_order,
      | CAST(SUM(n) OVER w AS BIGINT) AS n7
      |FROM daily
      |WINDOW w AS (ORDER BY dt ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)""".stripMargin

  /** q43 — distribution analytics: quartile (ntile), percent_rank and
    * cume_dist of customers within their nation by balance. Unique
    * (balance, custkey) ordering keeps every rank deterministic; the
    * rank ratios are emitted RAW — both engines compute them with the
    * same single IEEE division, so the doubles are bit-identical,
    * whereas round()ing them hits .5 ties that engines break
    * differently (rank/n terminates when n is 2^a·5^b·k).
    *
    * Scale shape: native ntile/percent_rank/cume_dist windowed by
    * c_nationkey would sort the whole table on 25 tasks. With a unique
    * ordering all three are pure arithmetic over (global row number g,
    * group size n), so [[operators.Ranks.globalRowNumbers]] supplies
    * (g, n) from balanced range partitions and the window functions
    * become projections: ntile's first n%k tiles take ⌈n/k⌉ rows
    * (integer `div` — a double floor() can land on the wrong side of
    * an exact quotient at large n); percent_rank = (g-1)/(n-1) and
    * cume_dist = g/n are the same single IEEE divisions the native
    * functions perform (RanksSpec pins bit-equality to the native
    * forms). */
  val q43: Q = (s, dir) => {
    val ranked = Ranks.globalRowNumbers(
      Tables(s, dir).customer
        .select(col("c_nationkey"), col("c_custkey"), col("c_acctbal")),
      Seq("c_nationkey"),
      Seq(col("c_acctbal"), col("c_custkey")))
    ranked
      .withColumn("_q", expr("_n div 4"))
      .withColumn("_r", col("_n") % 4)
      .select(
        col("c_nationkey"), col("c_custkey"),
        round(col("c_acctbal"), 2).as("acctbal"),
        when(col("_g") <= col("_r") * (col("_q") + 1),
            expr("(_g - 1) div (_q + 1) + 1"))
          .otherwise(expr("_r + 1 + (_g - _r * (_q + 1) - 1) div _q"))
          .cast("long").as("quartile"),
        when(col("_n") === 1, lit(0.0))
          .otherwise((col("_g") - 1) / (col("_n") - 1)).as("prank"),
        (col("_g") / col("_n")).as("cdist"))
  }
  val q43Sql: String =
    """SELECT c_nationkey, c_custkey, round(c_acctbal, 2) AS acctbal,
      | CAST(ntile(4) OVER w AS BIGINT) AS quartile,
      | percent_rank() OVER w AS prank,
      | cume_dist() OVER w AS cdist
      |FROM customer
      |WINDOW w AS (PARTITION BY c_nationkey ORDER BY c_acctbal, c_custkey)""".stripMargin

  /** q44 — per-user first/last event (session bookends): one shuffle on
    * user_id, two window passes over the same partitioning (Spark
    * reuses the exchange), survivors aggregated to one row per user. */
  val q44: Q = (s, dir) => {
    val wf = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val wl = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").desc, col("event_id").desc)
    Tables(s, dir).events
      .select(col("user_id"), col("event_type"), col("ts"),
        row_number().over(wf).as("rf"), row_number().over(wl).as("rl"))
      .filter(col("rf") === 1 || col("rl") === 1)
      .groupBy(col("user_id"))
      .agg(max(when(col("rf") === 1, col("event_type"))).as("first_type"),
        max(when(col("rl") === 1, col("event_type"))).as("last_type"),
        Cleanse.formatDateTime(min(col("ts"))).as("first_tm"),
        Cleanse.formatDateTime(max(col("ts"))).as("last_tm"))
  }
  val q44Sql: String =
    """WITH r AS (
      |  SELECT user_id, event_type, ts,
      |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rf,
      |    row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rl
      |  FROM events
      |)
      |SELECT user_id,
      | MAX(CASE WHEN rf = 1 THEN event_type END) AS first_type,
      | MAX(CASE WHEN rl = 1 THEN event_type END) AS last_type,
      | COALESCE(strftime(MIN(ts), '%Y-%m-%d %H:%M:%S'), '1970-01-01 00:00:00') AS first_tm,
      | COALESCE(strftime(MAX(ts), '%Y-%m-%d %H:%M:%S'), '1970-01-01 00:00:00') AS last_tm
      |FROM r WHERE rf = 1 OR rl = 1
      |GROUP BY user_id""".stripMargin

  // ---------------------------------- round-2 widening: text + media

  /** q45 — edit-distance near-dup scoring: Levenshtein over 100-char
    * prefixes for a fixed candidate block (doc_id < 20 pairs). The
    * candidate-pair pattern matches the LSH stages: edit distance is
    * the (quadratic) refine step, so it only ever runs on candidate
    * pairs, never the full cross product. */
  val q45: Q = (s, dir) => {
    val d = Tables(s, dir).documents.filter(col("doc_id") < 20)
      .select(col("doc_id"), substring(col("text"), 1, 100).as("p"))
    val a = d.select(col("doc_id").as("id_a"), col("p").as("p_a"))
    val b = d.select(col("doc_id").as("id_b"), col("p").as("p_b"))
    a.join(b, col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        levenshtein(col("p_a"), col("p_b")).cast("long").as("edit_dist"))
  }
  val q45Sql: String =
    """WITH d AS (SELECT doc_id, substr(text, 1, 100) AS p FROM documents WHERE doc_id < 20)
      |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
      | CAST(levenshtein(a.p, b.p) AS BIGINT) AS edit_dist
      |FROM d a JOIN d b ON a.doc_id < b.doc_id""".stripMargin

  /** q46 — multimodal frame sampling: every 4th frame index of each
    * media row exploded via a generator (no driver materialization),
    * with a deterministic per-frame fingerprint standing in for the
    * decoded-frame feature (decode itself is stubbed — no codec libs
    * in this environment; the Spark-side schema/fan-out is real).
    * Frame count derives from media length, like q22's fake metadata. */
  val q46: Q = (s, dir) =>
    Tables(s, dir).documents
      .select(col("doc_id"),
        (lit(8) + pmod(length(col("text")), lit(32))).as("n_frames"))
      .select(col("doc_id"),
        explode(sequence(lit(0), col("n_frames") - 1, lit(4))).as("frame_idx"))
      .select(col("doc_id"), col("frame_idx").cast("long").as("frame_idx"),
        md5(concat_ws(":", col("doc_id"), col("frame_idx"))).as("frame_fp"))
  val q46Sql: String =
    """WITH f AS (
      |  SELECT doc_id, 8 + length(text) % 32 AS n_frames FROM documents
      |)
      |SELECT doc_id, CAST(u.frame_idx AS BIGINT) AS frame_idx,
      | md5(CAST(doc_id AS VARCHAR) || ':' || CAST(u.frame_idx AS VARCHAR)) AS frame_fp
      |FROM f, unnest(range(0, n_frames, 4)) AS u(frame_idx)""".stripMargin

  /** q47 — value histogram: fixed-width buckets over order totals
    * (one map-side-combinable aggregate; the profile primitive for
    * any numeric column at lake scale). */
  val q47: Q = (s, dir) => {
    def cents(c: Column): Column = round(c * 100).cast("long")
    Tables(s, dir).orders
      .groupBy(floor(col("o_totalprice") / 50000).cast("long").as("bucket"))
      .agg(count(lit(1)).as("cnt"),
        (min(cents(col("o_totalprice"))) / 100.0).as("lo"),
        (max(cents(col("o_totalprice"))) / 100.0).as("hi"))
  }
  val q47Sql: String =
    """SELECT CAST(floor(o_totalprice / 50000) AS BIGINT) AS bucket, COUNT(*) AS cnt,
      | MIN(CAST(round(o_totalprice*100) AS BIGINT)) / 100.0 AS lo,
      | MAX(CAST(round(o_totalprice*100) AS BIGINT)) / 100.0 AS hi
      |FROM orders GROUP BY 1""".stripMargin

  /** q48 — BPE-ish tokenization: subword-shaped units (letter runs,
    * single digits, single punctuation) counted per document with one
    * regex pass — the byte-budget estimator for training-data
    * pipelines (whitespace tokens are q19). */
  val q48: Q = (s, dir) => {
    val pat = "[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]"
    Tables(s, dir).documents.select(
      col("doc_id"),
      size(regexp_extract_all(col("text"), lit(pat), lit(0))).cast("long").as("n_bpe"),
      Text.wordCount(col("text")).as("n_words"))
  }
  val q48Sql: String =
    s"""SELECT doc_id,
       | CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]')) AS BIGINT) AS n_bpe,
       | CAST($wordsSql AS BIGINT) AS n_words
       |FROM documents""".stripMargin

  /** q49 — decorrelated scalar subquery: customers above their
    * nation's average balance. The correlated EXISTS/scalar shape is
    * planned as an aggregate + broadcast equi-join — no per-row
    * subquery execution at any scale. Exact math: the average is a
    * long cent sum divided once, same formula both engines. */
  val q49: Q = (s, dir) => {
    def cents(c: Column): Column = round(c * 100).cast("long")
    val cust = Tables(s, dir).customer
    val nav = cust.groupBy(col("c_nationkey"))
      .agg(sum(cents(col("c_acctbal"))).as("sc"), count(lit(1)).as("n"))
    cust.join(broadcast(nav), Seq("c_nationkey"))
      .filter(col("c_acctbal") > col("sc") / (lit(100.0) * col("n")))
      .groupBy(col("c_nationkey"))
      .agg(count(lit(1)).as("n_above"),
        round(max(col("sc") / (lit(100.0) * col("n"))), 6).as("nation_avg"))
  }
  val q49Sql: String =
    """WITH nav AS (
      |  SELECT c_nationkey, CAST(SUM(CAST(round(c_acctbal*100) AS BIGINT)) AS BIGINT) AS sc, COUNT(*) AS n
      |  FROM customer GROUP BY 1
      |)
      |SELECT c.c_nationkey, COUNT(*) AS n_above,
      | round(MAX(nav.sc / (100.0 * nav.n)), 6) AS nation_avg
      |FROM customer c JOIN nav ON c.c_nationkey = nav.c_nationkey
      |WHERE c.c_acctbal > nav.sc / (100.0 * nav.n)
      |GROUP BY c.c_nationkey""".stripMargin

  /** q51 — array aggregation: per event type, the sorted first-5
    * distinct user ids. `collect_set` alone is partition-order
    * nondeterministic — `sort_array` before `slice` makes the value
    * reproducible (the list twin of "tie-break every rank"). Emitted
    * comma-joined: the driver's compare sorts/hashes rows, which
    * nested list cells would break. */
  val q51: Q = (s, dir) =>
    Tables(s, dir).events.groupBy(col("event_type"))
      .agg(
        concat_ws(",",
          slice(sort_array(collect_set(col("user_id"))), 1, 5)).as("first_users"),
        countDistinct(col("user_id")).as("n_users"))
  val q51Sql: String =
    """SELECT event_type,
      | array_to_string((list_sort(list(DISTINCT user_id)))[1:5], ',') AS first_users,
      | COUNT(DISTINCT user_id) AS n_users
      |FROM events GROUP BY event_type""".stripMargin

  /** q52 — string-function surface over customer names: pad, case,
    * reverse, slice, position, translate — every output a plain
    * string/long so cross-engine parity is byte-exact. */
  val q52: Q = (s, dir) =>
    Tables(s, dir).customer.select(
      col("c_custkey"),
      lpad(col("c_custkey").cast("string"), 12, "0").as("padded_key"),
      upper(col("c_mktsegment")).as("seg_upper"),
      reverse(col("c_name")).as("name_rev"),
      substring(col("c_name"), 1, 8).as("name_left8"),
      instr(col("c_name"), "#").cast("long").as("hash_pos"),
      // coalesce pins the delimiter-absent case to '' (DuckDB
      // split_part semantics); Spark's element_at would return null
      coalesce(element_at(split(col("c_name"), "#"), 2), lit("")).as("name_num"),
      translate(col("c_mktsegment"), "AEIOU", "aeiou").as("seg_trans"),
      concat_ws("|", col("c_mktsegment"), col("c_custkey")).as("seg_key"))
  val q52Sql: String =
    """SELECT c_custkey,
      | lpad(CAST(c_custkey AS VARCHAR), 12, '0') AS padded_key,
      | upper(c_mktsegment) AS seg_upper,
      | reverse(c_name) AS name_rev,
      | substr(c_name, 1, 8) AS name_left8,
      | CAST(strpos(c_name, '#') AS BIGINT) AS hash_pos,
      | split_part(c_name, '#', 2) AS name_num,
      | translate(c_mktsegment, 'AEIOU', 'aeiou') AS seg_trans,
      | c_mktsegment || '|' || CAST(c_custkey AS VARCHAR) AS seg_key
      |FROM customer""".stripMargin

  /** q53 — date/time-function surface over order dates: parts,
    * arithmetic, boundary snapping — formatted/long outputs only
    * (raw timestamps never cross the oracle boundary). */
  val q53: Q = (s, dir) =>
    Tables(s, dir).orders.select(
      col("o_orderkey"),
      year(col("o_orderdate")).cast("long").as("yr"),
      month(col("o_orderdate")).cast("long").as("mo"),
      dayofmonth(col("o_orderdate")).cast("long").as("dom"),
      dayofyear(col("o_orderdate")).cast("long").as("doy"),
      quarter(col("o_orderdate")).cast("long").as("qtr"),
      date_format(date_add(col("o_orderdate"), 30), "yyyy-MM-dd").as("plus30"),
      date_format(last_day(col("o_orderdate")), "yyyy-MM-dd").as("month_end"),
      date_format(date_trunc("month", col("o_orderdate")), "yyyy-MM-dd").as("month_start"))
  val q53Sql: String =
    """SELECT o_orderkey,
      | CAST(year(o_orderdate) AS BIGINT) AS yr,
      | CAST(month(o_orderdate) AS BIGINT) AS mo,
      | CAST(day(o_orderdate) AS BIGINT) AS dom,
      | CAST(dayofyear(o_orderdate) AS BIGINT) AS doy,
      | CAST(quarter(o_orderdate) AS BIGINT) AS qtr,
      | strftime(o_orderdate + INTERVAL 30 DAY, '%Y-%m-%d') AS plus30,
      | strftime(last_day(CAST(o_orderdate AS DATE)), '%Y-%m-%d') AS month_end,
      | strftime(date_trunc('month', o_orderdate), '%Y-%m-%d') AS month_start
      |FROM orders""".stripMargin

  /** q54 — benchmark decontamination: flag corpus documents sharing
    * any word 3-gram with a "benchmark" document set (here: doc_id <
    * 10 stands in for an eval set; production uses 13-grams). The
    * canonical pretraining hygiene op: explode corpus docs to distinct
    * shingles, broadcast-join against the (small) benchmark shingle
    * set, count overlaps per doc. One scan of the corpus, no shuffle
    * of it — the benchmark side is the broadcast build. */
  val q54: Q = (s, dir) => {
    val docs = Tables(s, dir).documents
    import graft.expressions.TextSignatures
    val benchShingles = docs.filter(col("doc_id") < 10)
      .select(explode(array_distinct(TextSignatures.shingles(col("text"), 3))).as("sh"))
      .distinct()
    val corpusShingles = docs.filter(col("doc_id") >= 10)
      .select(col("doc_id"),
        explode(array_distinct(TextSignatures.shingles(col("text"), 3))).as("sh"))
    corpusShingles.join(broadcast(benchShingles), Seq("sh"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_hits"))
  }
  val q54Sql: String =
    """WITH ws AS (
      |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ws FROM documents
      |), sh AS (
      |  SELECT doc_id,
      |    unnest(CASE WHEN len(ws) <= 3 THEN [array_to_string(ws, ' ')]
      |      ELSE list_distinct(list_transform(range(1, len(ws) - 1),
      |        i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]))
      |    END) AS w
      |  FROM ws
      |), bench AS (
      |  SELECT DISTINCT w FROM sh WHERE doc_id < 10
      |)
      |SELECT s.doc_id, COUNT(*) AS n_hits
      |FROM sh s JOIN bench b ON s.w = b.w
      |WHERE s.doc_id >= 10
      |GROUP BY s.doc_id""".stripMargin

  /** q55 — domain mixing: down-sample each language to a target rate
    * with a deterministic integer-arithmetic coin (Knuth multiplicative
    * hash — no RNG state, identical in any engine), then count the
    * before/after mix. The reweighting step of a training-data
    * pipeline; integer outputs only, so no ratio-rounding hazards. */
  val q55: Q = (s, dir) => {
    val docs = Tables(s, dir).documents
    val kept = Sampling.mixByRate(docs, "lang", "doc_id",
        Map("en" -> 0.5, "de" -> 0.25), defaultRate = 0.1)
      .groupBy(col("lang")).agg(count(lit(1)).as("kept"))
    docs.groupBy(col("lang")).agg(count(lit(1)).as("total"))
      .join(kept, Seq("lang"), "left_outer")
      .select(col("lang"), col("total"), coalesce(col("kept"), lit(0L)).as("kept"))
  }
  val q55Sql: String =
    s"""WITH coin AS (
      |  SELECT lang, doc_id,
      |    ${coinSql(Sampling.SaltRate)} AS c,
      |    CASE lang WHEN 'en' THEN 0.5 WHEN 'de' THEN 0.25 ELSE 0.1 END AS rate
      |  FROM documents
      |), k AS (
      |  SELECT lang, COUNT(*) AS kept FROM coin WHERE c < rate * 4294967296 GROUP BY lang
      |)
      |SELECT d.lang, COUNT(*) AS total, COALESCE(MAX(k.kept), 0) AS kept
      |FROM documents d LEFT JOIN k ON d.lang = k.lang
      |GROUP BY d.lang""".stripMargin

  /** q50 — sketch aggregates (rows-only: HLL/KLL estimates are
    * implementation-defined, so no cross-engine value oracle): per
    * event type, approximate distinct users and an approximate p50 —
    * the constant-memory path that replaces q33/q40 exact forms when
    * cardinality makes exact distinct/rank shuffles uneconomical. */
  val q50: Q = (s, dir) =>
    Tables(s, dir).events.groupBy(col("event_type"))
      .agg(approx_count_distinct(col("user_id")).as("approx_users"),
        round(expr("approx_percentile(value, 0.5, 1000)"), 2).as("approx_p50"),
        count(lit(1)).as("cnt"))

  /** q56 — skew-safe large×large equi join under a value oracle: the
    * CORRECTNESS-covered entry for `Enrichment.saltedJoin` (previously
    * spec/`Dev skew`-only). lineitem ⋈ orders on orderkey with a
    * deliberately tiny hot threshold (>3 lines per order, about half
    * the keys at any SF) so BOTH paths — salted scatter for hot keys,
    * 1:1 for cold — carry real rows; `saltBy = l_linenumber` keeps the
    * scatter deterministic. The join result is identical to the plain
    * join for ANY salt assignment, which is exactly what the DuckDB
    * oracle checks. At lake scale the census switches to a sample
    * (`censusFraction`) and the threshold to ~1e6. */
  val q56: Q = (s, dir) => {
    val t = Tables(s, dir)
    def cents(c: Column): Column = round(c * 100).cast("long")
    val fact = t.lineitem.select(col("l_orderkey"), col("l_extendedprice"),
      col("l_linenumber"))
    val orders = t.orders.select(col("o_orderkey").as("l_orderkey"),
      col("o_orderpriority"))
    Enrichment.saltedJoin(fact, orders, Seq("l_orderkey"),
        saltFactor = 4, hotThreshold = 3, joinType = "inner",
        // sampled census on purpose: WHICH keys count as hot is
        // statistical, but the join result is identical for any hot
        // set — so the oracle also proves the sampled-census path
        censusFraction = 0.25,
        saltBy = Some(col("l_linenumber")))
      .groupBy(col("o_orderpriority"))
      .agg((sum(cents(col("l_extendedprice"))) / 100.0).as("revenue"),
        count(lit(1)).as("cnt"))
  }
  val q56Sql: String =
    """SELECT o_orderpriority,
      | SUM(CAST(round(l_extendedprice*100) AS BIGINT)) / 100.0 AS revenue,
      | COUNT(*) AS cnt
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |GROUP BY o_orderpriority""".stripMargin

  /** q57 — bucketed-write co-located join: both sides land as
    * `bucketBy(8, orderkey)` + `sortBy` catalog tables
    * (`Sinks.writeBucketed`), then join table-to-table. Bucketing makes
    * both scans pre-partitioned on the join key, so the join runs with
    * NO exchange on either side — the storage-level answer for a
    * fact-fact join too big to broadcast and too hot to re-shuffle per
    * query (PlanSpec pins the exchange-free shape with broadcast
    * disabled).
    *
    * Write amortization is measured SEPARATELY (round-9 verdict):
    * the first q57 build in a session pays [[q57WriteBucketed]], every
    * later build over the same dir reuses the tables — so a
    * best-of-N bench converges on the JOIN cost (comparable round over
    * round) while `graft.Bench` times the write explicitly as its own
    * `q57_write_sec` metric. Bucketing only pays when the write
    * amortizes over repeated joins; the two numbers now show each side
    * of that trade instead of blending them. */
  // weak keys: sessions must not be pinned by a bench cache; entries
  // die with their session instead of accumulating forever
  private val q57WrittenDir = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession, String]())

  /** Materialize both bucketed q57 tables from `dir` (overwrite) and
    * remember the source so [[q57]] builds in the same session reuse
    * them. Safe across dirs: a different `dir` in the same session
    * rewrites (the map records which corpus the tables hold). */
  def q57WriteBucketed(s: SparkSession, dir: String): Unit = {
    val t = Tables(s, dir)
    graft.sinks.Sinks.writeBucketed(
      t.lineitem.select("l_orderkey", "l_quantity"),
      "graft_q57_lineitem", "l_orderkey", buckets = 8)
    graft.sinks.Sinks.writeBucketed(
      t.orders.select("o_orderkey", "o_orderpriority"),
      "graft_q57_orders", "o_orderkey", buckets = 8)
    q57WrittenDir.put(s, dir)
  }

  val q57: Q = (s, dir) => {
    def cents(c: Column): Column = round(c * 100).cast("long")
    // cache check verifies the tables still EXIST: the graft_q57_*
    // warehouse names are JVM-global and another session/test can drop
    // or overwrite them after this session recorded "written"
    val cached = q57WrittenDir.get(s) == dir &&
      s.catalog.tableExists("graft_q57_lineitem") &&
      s.catalog.tableExists("graft_q57_orders")
    if (!cached) q57WriteBucketed(s, dir)
    s.table("graft_q57_lineitem")
      .join(s.table("graft_q57_orders"),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg((sum(cents(col("l_quantity"))) / 100.0).as("sum_qty"),
        count(lit(1)).as("cnt"))
  }
  val q57Sql: String =
    """SELECT o_orderpriority,
      | SUM(CAST(round(l_quantity*100) AS BIGINT)) / 100.0 AS sum_qty,
      | COUNT(*) AS cnt
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |GROUP BY o_orderpriority""".stripMargin

  /** q58 — sequence packing: assign documents to contiguous ~4096-char
    * packs (the pretraining batch-construction op — concatenate docs
    * until the context budget fills, start the next pack):
    * pack_id = (cumulative_chars - 1) div budget, with the per-lang
    * cumulative computed by `Ranks.globalCumSum` (range-partitioned
    * prefix sums — no partition holds more than ~|corpus|/P rows, vs
    * the naive per-lang window's |langs|-task sort). Deterministic for
    * any partitioning because the order key is the unique doc_id. */
  val q58: Q = (s, dir) => {
    val docs = Tables(s, dir).documents
    val base = docs.select(col("lang"), col("doc_id"),
      length(col("text")).as("chars"))
    // per-lang prefix sum via range-partitioned slices — identical
    // values to the single-window form, but no |langs|-task sort
    // (round 7: the former PlanSpec waiver, now the implemented path)
    Ranks.globalCumSum(base, Seq("lang"), Seq(col("doc_id")),
        "chars", cumCol = "cum")
      .withColumn("pack_id", expr("(cum - 1) div 4096"))
      .groupBy(col("lang"), col("pack_id"))
      .agg(count(lit(1)).as("n_docs"), sum(col("chars")).as("pack_chars"))
  }
  val q58Sql: String =
    """WITH c AS (
      |  SELECT lang, doc_id, length(text) AS chars,
      |    SUM(length(text)) OVER (PARTITION BY lang ORDER BY doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      |  FROM documents)
      |SELECT lang, CAST((cum - 1) // 4096 AS BIGINT) AS pack_id, COUNT(*) AS n_docs,
      |  CAST(SUM(chars) AS BIGINT) AS pack_chars
      |FROM c GROUP BY lang, pack_id""".stripMargin

  /** q59 — skyline (Pareto frontier): parts not dominated on
    * (size, retail price) — the classic multi-criteria OLAP operator
    * (PAPERS.md EDBT 2023). Two-phase distributive plan: per-partition
    * frontier via one mapPartitions pass, then a broadcast dominance
    * anti-join over the tiny candidate union; the fact scans once, no
    * shuffle. Values pass through unchanged → bit-exact oracle. */
  val q59: Q = (s, dir) =>
    Skyline.skyline(
      Tables(s, dir).part.select(col("p_partkey"), col("p_size"), col("p_retailprice")),
      Seq("p_size", "p_retailprice"))
  val q59Sql: String =
    """SELECT p_partkey, p_size, p_retailprice
      |FROM part a
      |WHERE NOT EXISTS (
      |  SELECT 1 FROM part b
      |  WHERE b.p_size >= a.p_size AND b.p_retailprice >= a.p_retailprice
      |    AND (b.p_size > a.p_size OR b.p_retailprice > a.p_retailprice))""".stripMargin

  /** q60 — GROUPING SETS: independent subtotal lattices in ONE pass
    * (completes the rollup/cube/grouping-sets trio with q30/q39).
    * Catalyst plans the same Expand-above-pre-aggregate shape PlanSpec
    * pins for q30/q39. */
  val q60: Q = (s, dir) => {
    val li = Tables(s, dir).lineitem
    def cents(c: Column): Column = round(c * 100).cast("long")
    li.groupingSets(
        Seq(Seq(col("l_returnflag")), Seq(col("l_linestatus")), Seq()),
        col("l_returnflag"), col("l_linestatus"))
      .agg((sum(cents(col("l_quantity"))) / 100.0).as("sum_qty"),
        count(lit(1)).as("cnt"))
      .select(coalesce(col("l_returnflag"), lit("ALL")).as("flag"),
        coalesce(col("l_linestatus"), lit("ALL")).as("status"),
        col("sum_qty"), col("cnt"))
  }
  val q60Sql: String =
    """SELECT COALESCE(l_returnflag, 'ALL') AS flag,
      | COALESCE(l_linestatus, 'ALL') AS status,
      | SUM(CAST(round(l_quantity*100) AS BIGINT)) / 100.0 AS sum_qty,
      | COUNT(*) AS cnt
      |FROM lineitem
      |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())""".stripMargin

  /** q61 — duplicate clustering under a VALUE oracle. q24 is rows-only
    * because its candidate pairs are hash-seeded, but the clustering
    * step itself (`Dedup.clusterDuplicates`, connected
    * components) is deterministic — so feed it a deterministic edge
    * set: exact word-3-gram Jaccard ≥ 0.5 over the doc_id < 500 block
    * (q13's shingle semantics). The DuckDB oracle collapses the same
    * edges with a recursive-CTE transitive closure; at sf0.01 the
    * fixture yields 23 clusters including one size-3 chain, so the
    * oracle proves transitive collapse, not just pair passthrough. The
    * bounded block keeps the exact all-pairs step O(500²) at any SF —
    * production blocking is q11's LSH; this query oracles the collapse. */
  val q61: Q = (s, dir) => {
    val t = Tables(s, dir)
    val block = t.documents.filter(col("doc_id") < 500)
    // inverted-index ssjoin: provably the same edge set as all-pairs
    // exact jaccard >= 0.5 (the DuckDB oracle's form), at
    // Σ df(shingle)² cost instead of O(500²) array intersections
    val edges = Dedup.jaccardSelfJoin(block, "text", "doc_id", n = 3, minJ = 0.5)
    // limit overridable so the distributed star-collapse branch can be
    // driven through the EXACT q61 pipeline against the same
    // recursive-CTE oracle (DedupSpec sets 0 and pins bit-equality of
    // both paths; the driver's CORRECTNESS run keeps the default)
    Dedup.clusterDuplicates(edges, s,
      smallEdgeLimit =
        s.conf.get("spark.graft.cluster.smallEdgeLimit", "100000").toLong)
  }
  val q61Sql: String =
    """WITH RECURSIVE w AS (
      |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w
      |  FROM documents WHERE doc_id < 500
      |), sh AS (
      |  SELECT doc_id,
      |    CASE WHEN len(w) <= 3 THEN [array_to_string(w, ' ')]
      |         ELSE list_distinct(list_transform(range(1, len(w) - 1), i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))
      |    END AS sh FROM w
      |), p AS (
      |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
      |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
      |  WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
      |        CAST(len(list_distinct(list_concat(a.sh, b.sh))) AS DOUBLE) >= 0.5
      |), e AS (
      |  SELECT id_a AS src, id_b AS dst FROM p UNION SELECT id_b, id_a FROM p
      |), reach AS (
      |  SELECT src AS id, src AS r FROM e
      |  UNION
      |  SELECT e.src, reach.r FROM e JOIN reach ON e.dst = reach.id
      |)
      |SELECT id, MIN(r) AS keep_id FROM reach GROUP BY id""".stripMargin

  /** q62 — skew-safe grouped aggregation under a VALUE oracle: the
    * CORRECTNESS-covered entry for `Aggregations.saltedCountSum`
    * (previously spec-only, the last skew tool without one). Events
    * grouped by type with a cents-exact value sum; the result is
    * salt-invariant by construction — phase 1 spreads each key over 16
    * salt buckets, phase 2 merges partials — which is exactly what the
    * plain-GROUP-BY DuckDB oracle checks. Cents ride an exact
    * long→DECIMAL(38,2) path so no double-sum ordering can leak in. */
  val q62: Q = (s, dir) =>
    Aggregations.saltedCountSum(
      Tables(s, dir).events, Seq("event_type"),
      round(col("value") * 100).cast("long"), saltBuckets = 16)
  val q62Sql: String =
    """SELECT event_type, COUNT(*) AS cnt,
      | CAST(SUM(CAST(round(value*100) AS BIGINT)) AS DOUBLE) AS val_sum
      |FROM events GROUP BY event_type""".stripMargin

  /** q63 — cross-document verbatim-span detection (winnowing/MOSS
    * fingerprints): doc pairs sharing ≥3 winnowed 8-gram fingerprints,
    * i.e. copied SPANS rather than similar vocabularies — the
    * substring-level dedup/decontamination primitive doc-level jaccard
    * misses. Deterministic end to end (md5 gram hashes, lexicographic
    * window minima), so the whole pipeline sits under the value
    * oracle; fingerprint df is naturally tiny (max 3 at sf0.01), so
    * the postings join has no hot keys. */
  val q63: Q = (s, dir) =>
    Dedup.sharedSpans(Tables(s, dir).documents, "text", "doc_id",
      k = 8, w = 4, minShared = 3L)
  val q63Sql: String =
    """WITH t AS (
      |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w FROM documents
      |), h AS (
      |  SELECT doc_id,
      |    CASE WHEN len(w) <= 8 THEN [md5(array_to_string(w, ' '))]
      |         ELSE list_transform(range(1, len(w) - 6),
      |                i -> md5(array_to_string(w[i:i+7], ' ')))
      |    END AS hs
      |  FROM t
      |), wn AS (
      |  SELECT doc_id, unnest(list_distinct(list_transform(
      |    range(1, greatest(len(hs) - 3, 1) + 1),
      |    i -> list_min(hs[i:i+3])))) AS fp
      |  FROM h
      |)
      |SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_shared
      |FROM wn a JOIN wn b ON a.fp = b.fp AND a.doc_id < b.doc_id
      |GROUP BY 1, 2 HAVING COUNT(*) >= 3""".stripMargin

  /** q64 — dedup SURVIVOR selection: the step after clustering that a
    * training pipeline actually ships — every doc in the block maps to
    * its cluster's canonical representative (longest text wins, doc_id
    * breaks ties; unclustered docs survive as themselves). Composes
    * q61's deterministic edges + clustering with a per-cluster argmax;
    * fully value-oracled (the DuckDB side re-walks the recursive-CTE
    * closure, then picks the same survivor). */
  val q64: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val t = Tables(s, dir)
    val block = t.documents.filter(col("doc_id") < 500)
    val edges = Dedup.jaccardSelfJoin(block, "text", "doc_id", n = 3, minJ = 0.5)
    val cl = Dedup.clusterDuplicates(edges, s)
    val dc = block.select(col("doc_id"), col("n_chars"))
      .join(cl, block("doc_id") === cl("id"), "left")
      .select(col("doc_id"), col("n_chars"),
        coalesce(col("keep_id"), col("doc_id")).as("cluster"))
    val wnd = Window.partitionBy(col("cluster"))
      .orderBy(col("n_chars").desc, col("doc_id").asc)
    val surv = dc.withColumn("_rn", row_number().over(wnd))
      .filter(col("_rn") === 1)
      .select(col("cluster"), col("doc_id").as("survivor_id"))
    dc.join(surv, Seq("cluster"))
      .select(col("doc_id"), col("survivor_id"))
  }
  val q64Sql: String =
    """WITH RECURSIVE w AS (
      |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w
      |  FROM documents WHERE doc_id < 500
      |), sh AS (
      |  SELECT doc_id,
      |    CASE WHEN len(w) <= 3 THEN [array_to_string(w, ' ')]
      |         ELSE list_distinct(list_transform(range(1, len(w) - 1), i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))
      |    END AS sh FROM w
      |), p AS (
      |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
      |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
      |  WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
      |        CAST(len(list_distinct(list_concat(a.sh, b.sh))) AS DOUBLE) >= 0.5
      |), e AS (
      |  SELECT id_a AS src, id_b AS dst FROM p UNION SELECT id_b, id_a FROM p
      |), reach AS (
      |  SELECT src AS id, src AS r FROM e
      |  UNION
      |  SELECT e.src, reach.r FROM e JOIN reach ON e.dst = reach.id
      |), cl AS (
      |  SELECT id, MIN(r) AS keep FROM reach GROUP BY id
      |), dc AS (
      |  SELECT d.doc_id, d.n_chars, COALESCE(cl.keep, d.doc_id) AS cluster
      |  FROM (SELECT doc_id, n_chars FROM documents WHERE doc_id < 500) d
      |  LEFT JOIN cl ON d.doc_id = cl.id
      |), surv AS (
      |  SELECT cluster, doc_id AS survivor_id FROM (
      |    SELECT cluster, doc_id,
      |      row_number() OVER (PARTITION BY cluster ORDER BY n_chars DESC, doc_id) AS rn
      |    FROM dc) WHERE rn = 1
      |)
      |SELECT dc.doc_id, surv.survivor_id
      |FROM dc JOIN surv ON dc.cluster = surv.cluster""".stripMargin

  /** q65 — token-budget corpus selection: greedily keep the
    * highest-quality docs per language (quality ∝ n_chars here,
    * doc_id tie-break) until a per-language token budget is spent —
    * the data-mixing step that turns "ranked corpus" into "training
    * set". The per-lang cumulative runs through `Ranks.globalCumSum`
    * (range-partitioned prefix sums, same machinery as q58 — no
    * |langs|-task sort; the greedy cut is a prefix of the
    * (n_chars desc, doc_id) order, so the selected set AND cum_toks
    * are bit-identical to the single-window form). Tokens are q19's
    * whitespace count, so both engines agree exactly. */
  val q65: Q = (s, dir) => {
    val d = Tables(s, dir).documents
      .withColumn("_mc", TextStats.counts(col("text")))
      .select(col("doc_id"), col("lang"), col("n_chars"),
        TextStats.wordCount(col("text"), col("_mc")).cast("long").as("toks"))
    // per-lang greedy prefix sum via range-partitioned slices (round 7
    // — the former PlanSpec waiver, now the implemented scale path)
    Ranks.globalCumSum(d, Seq("lang"),
        Seq(col("n_chars").desc, col("doc_id").asc),
        "toks", cumCol = "cum_toks")
      .filter(col("cum_toks") <= 20000L)
      .select(col("doc_id"), col("lang"), col("toks"), col("cum_toks"))
  }
  val q65Sql: String =
    s"""WITH d AS (
       |  SELECT doc_id, lang, n_chars, CAST($wordsSql AS BIGINT) AS toks
       |  FROM documents
       |), c AS (
       |  SELECT doc_id, lang, toks,
       |    CAST(SUM(toks) OVER (PARTITION BY lang ORDER BY n_chars DESC, doc_id
       |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_toks
       |  FROM d
       |)
       |SELECT doc_id, lang, toks, cum_toks FROM c WHERE cum_toks <= 20000""".stripMargin

  /** q66 — semantic dedup (the SemDeDup shape) under a VALUE oracle:
    * nearest-centroid cells → within-cell cosine pairs ≥ 0.35 →
    * transitive clusters → keep the cell-centroid-closest member.
    * Production runs pass `Similarity.kmeansCentroids` (seeded init →
    * rows-only); here the centroids are a FIXED data-defined frame
    * (the vectors of vec_id < k, never collected — packed and
    * broadcast executor-side), so every step is deterministic and the
    * DuckDB side can replay assignment (sequential squared-L2 fold,
    * argmin tie-broken by centroid id), the pair set, a recursive-CTE
    * closure, and the survivor argmax bit-exactly. Threshold 0.35 is
    * semantic redundancy on this corpus (max pairwise cosine 0.51 —
    * q16's 0.3 convention), yielding multi-doc transitive clusters at
    * sf0.01.
    *
    * The cell count SCALES WITH THE CORPUS as k ≈ √n — the BALANCED
    * law for in-query assignment: within-cell scoring is O(n²/k·dim)
    * (a fixed k is quadratic — measured 15.4 s at the 10× fixture
    * with 4 cells) while assignment is O(n·k·dim) (a k ∝ n made THAT
    * the quadratic term — measured 80.5 s at the 100× fixture with
    * n/128 cells); k = √n equalizes them at O(n^1.5·dim). Piecewise
    * so the sf0.01 verify scale keeps the historical 4 cells and its
    * oracle hashes: k = 4 for n ≤ 512, else ⌊√n⌋ — both engines
    * derive the same k (IEEE sqrt + floor). At deploy scale the
    * assignment moves to ingest time entirely (one column on the
    * embedding table, the operator scaladoc's contract) and k becomes
    * the SemDeDup ~100k-cell configuration. */
  val q66: Q = (s, dir) => {
    val emb = Tables(s, dir).embeddings
    val n = emb.count()
    val k = if (n <= 512) 4L else math.floor(math.sqrt(n.toDouble)).toLong
    // centroids stay a DATAFRAME end to end (round-12 fix): no k·dim
    // collect() on the driver — the frame is packed/broadcast on the
    // executors (Dedup.semanticDedupFrame), so at SemDeDup's ~100k-cell
    // deploy configuration the driver heap is out of the loop entirely.
    val centFrame = emb.filter(col("vec_id") < k)
      .select(col("vec_id"), col("embedding"))
    Dedup.semanticDedupFrame(emb, "embedding", "vec_id", s,
      centFrame, "vec_id", "embedding", threshold = 0.35)
  }
  val q66Sql: String =
    """WITH RECURSIVE cents AS (
      |  SELECT vec_id AS cell, CAST(embedding AS DOUBLE[]) AS centv
      |  FROM embeddings
      |  WHERE vec_id < (SELECT CASE WHEN COUNT(*) <= 512 THEN 4
      |                  ELSE CAST(floor(sqrt(CAST(COUNT(*) AS DOUBLE))) AS BIGINT) END
      |                  FROM embeddings)
      |), v AS (
      |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
      |), dist AS (
      |  SELECT vec_id, cell,
      |    list_sum(list_transform(range(1, len(v)+1),
      |      i -> (v[i]-centv[i])*(v[i]-centv[i]))) AS d2
      |  FROM v CROSS JOIN cents
      |), a AS (
      |  SELECT vec_id, cell FROM (
      |    SELECT vec_id, cell,
      |      row_number() OVER (PARTITION BY vec_id ORDER BY d2, cell) AS rn
      |    FROM dist) WHERE rn = 1
      |), p AS (
      |  SELECT x.vec_id AS id_a, y.vec_id AS id_b
      |  FROM a x JOIN a y ON x.cell = y.cell AND x.vec_id < y.vec_id
      |  JOIN v vx ON vx.vec_id = x.vec_id JOIN v vy ON vy.vec_id = y.vec_id
      |  WHERE list_cosine_similarity(vx.v, vy.v) >= 0.35
      |), e AS (
      |  SELECT id_a AS src, id_b AS dst FROM p UNION SELECT id_b, id_a FROM p
      |), reach AS (
      |  SELECT src AS id, src AS r FROM e
      |  UNION
      |  SELECT e.src, reach.r FROM e JOIN reach ON e.dst = reach.id
      |), cl AS (
      |  SELECT id, MIN(r) AS keep FROM reach GROUP BY id
      |), m AS (
      |  SELECT a.vec_id, a.cell, COALESCE(cl.keep, a.vec_id) AS cluster,
      |    list_cosine_similarity(v.v, c.centv) AS cent_cos
      |  FROM a JOIN v ON v.vec_id = a.vec_id JOIN cents c ON c.cell = a.cell
      |  LEFT JOIN cl ON cl.id = a.vec_id
      |), surv AS (
      |  SELECT cluster, vec_id AS survivor_id FROM (
      |    SELECT cluster, vec_id,
      |      row_number() OVER (PARTITION BY cluster ORDER BY cent_cos DESC, vec_id) AS rn
      |    FROM m) WHERE rn = 1
      |)
      |SELECT m.vec_id, m.cell, surv.survivor_id
      |FROM m JOIN surv ON m.cluster = surv.cluster""".stripMargin

  /** q67 — int8-quantized two-stage ANN (rows-only: the quantized
    * stage-1 ranking is implementation-defined; RecallSpec floors its
    * recall against exact q14 instead). Same query set as q14/q15/q23
    * so the variants compare directly. */
  val q67: Q = (s, dir) => {
    val emb = Tables(s, dir).embeddings
    Similarity.quantizedTopK(emb, emb.filter(col("vec_id") < 10),
      "embedding", "vec_id", k = 5)
  }

  /** q68 — bloom-filter decontamination (rows-only: the murmur3
    * double-hash false-positive set has no cross-engine oracle;
    * DecontaminateSpec pins the one-sided-error contract against
    * q54's exact join instead). Same fixture as q54, so the two
    * decontamination plans — broadcast join vs constant-memory bloom
    * probe — compare directly at any SF. */
  val q68: Q = (s, dir) => {
    val docs = Tables(s, dir).documents
    Decontaminate.bloomHits(docs.filter(col("doc_id") >= 10),
      docs.filter(col("doc_id") < 10), "text", "doc_id")
  }

  /** q69 — deterministic stratified train/val/test split: the
    * content-independent Knuth coin (q55's arithmetic) against
    * precomputed integer thresholds, counted per (lang, split). A
    * row's split never changes as the corpus grows — the property
    * that keeps eval sets uncontaminated across corpus versions. One
    * projection + one count aggregate; no sort, no RNG state. */
  private val q69Splits = Seq("train" -> 0.9, "val" -> 0.05, "test" -> 0.05)
  val q69: Q = (s, dir) =>
    Sampling.assignSplit(Tables(s, dir).documents, "doc_id", q69Splits)
      .groupBy(col("lang"), col("split"))
      .agg(count(lit(1)).as("n_docs"))
  val q69Sql: String = {
    // identical integer thresholds on both sides (⌊cum·2³²⌋, computed
    // once here) — the CASE replays assignSplit's first-match chain
    val ts = q69Splits.scanLeft(0.0)(_ + _._2).tail
      .map(f => math.floor(f * 4294967296.0).toLong)
    s"""WITH coin AS (
       |  SELECT lang, doc_id,
       |    ${coinSql(Sampling.SaltSplit)} AS c
       |  FROM documents)
       |SELECT lang,
       |  CASE WHEN c < ${ts(0)} THEN '${q69Splits(0)._1}'
       |       WHEN c < ${ts(1)} THEN '${q69Splits(1)._1}'
       |       ELSE '${q69Splits(2)._1}' END AS split,
       |  COUNT(*) AS n_docs
       |FROM coin GROUP BY lang, split""".stripMargin
  }

  /** q70 — overlapping document chunking (RAG indexing shape):
    * size 256, step 192 → 64-char overlap; offsets and the chunk text
    * itself are value-oracled (1-based substring semantics agree
    * across engines on this ASCII corpus). One codegen'd
    * sequence+explode projection — chunking streams at scan speed. */
  val q70: Q = (s, dir) =>
    Chunking.chunk(Tables(s, dir).documents.filter(length(col("text")) > 0),
      "text", size = 256, step = 192, keepCols = Seq("doc_id"))
  val q70Sql: String =
    """WITH d AS (
      |  SELECT doc_id, text, length(text) AS len
      |  FROM documents WHERE length(text) > 0
      |), i AS (
      |  SELECT doc_id, text,
      |    unnest(range(0, (len-1)//192 + 1)) AS chunk_idx
      |  FROM d)
      |SELECT doc_id, chunk_idx, chunk_idx*192 AS chunk_start,
      |  substr(text, CAST(chunk_idx*192 + 1 AS INT), 256) AS chunk_text,
      |  CAST(length(substr(text, CAST(chunk_idx*192 + 1 AS INT), 256)) AS BIGINT) AS chunk_len
      |FROM i""".stripMargin

  /** q71 — length-bucketed batch assignment (sequence-bucketing
    * dataloader shape): tokens rounded up to a 64-multiple bucket
    * (pure integer arithmetic — no log2 libm hazard), batches of 8
    * within each bucket by (toks desc, doc_id). The per-bucket rank is
    * Ranks.globalRowNumbers — bucket cardinality is bounded, so a
    * native window here would sort the corpus on |buckets| tasks
    * (the q43 anti-pattern PlanSpec guards). */
  val q71: Q = (s, dir) => {
    val d = Tables(s, dir).documents
      .withColumn("_mc", TextStats.counts(col("text")))
      .select(col("doc_id"),
        TextStats.wordCount(col("text"), col("_mc")).cast("long").as("toks"))
    Batching.lengthBucketBatches(d, col("toks"), "doc_id",
      batchSize = 8, bucketQuantum = 64, keepCols = Seq("doc_id"))
  }
  val q71Sql: String =
    s"""WITH d AS (
       |  SELECT doc_id, CAST($wordsSql AS BIGINT) AS toks FROM documents
       |), b AS (
       |  SELECT doc_id, toks, ((toks + 63) // 64) * 64 AS bucket FROM d
       |), r AS (
       |  SELECT doc_id, toks, bucket,
       |    row_number() OVER (PARTITION BY bucket ORDER BY toks DESC, doc_id) AS rn
       |  FROM b)
       |SELECT doc_id, toks, bucket, (rn-1) // 8 AS batch_id FROM r""".stripMargin

  /** q72 — quality-weighted sampling: keep each doc with probability
    * equal to its q18 quality score (importance sampling toward
    * high-quality text — the re-weighting step between scoring and
    * training-mix assembly). The keep decision is the deterministic
    * Knuth coin against the per-row score, so both engines replay it
    * exactly: the score is q18's value-oracled rounded double, and
    * coin/threshold arithmetic is the q55 integer form. Counted per
    * (lang, source-grained) cell to keep the output compact. */
  val q72: Q = (s, dir) => {
    val docs = Tables(s, dir).documents
    val scored = docs
      .withColumn("_mc", TextStats.counts(col("text")))
      .withColumn("q_score", TextStats.qualityScore(col("text"), col("_mc")))
    // exact order-independent score sum: the 6-decimal score scales to
    // integer micro-units (q01's cents pattern) — a double SUM would be
    // partition-order dependent and break the cross-engine hash
    val kept = Sampling.sampleByWeight(scored, "q_score", "doc_id")
      .groupBy(col("lang")).agg(count(lit(1)).as("kept"),
        (sum(round(col("q_score") * 1e6).cast("long")) / 1e6).as("kept_score_sum"))
    // totals read the raw docs, not `scored`: the count doesn't need
    // the marker scan, and grouping the un-projected frame makes the
    // column pruning explicit rather than optimizer-dependent
    docs.groupBy(col("lang")).agg(count(lit(1)).as("total"))
      .join(kept, Seq("lang"), "left_outer")
      .select(col("lang"), col("total"),
        coalesce(col("kept"), lit(0L)).as("kept"),
        coalesce(col("kept_score_sum"), lit(0.0)).as("kept_score_sum"))
  }
  val q72Sql: String =
    s"""WITH s AS (
       |  SELECT doc_id, lang,
       |    round(0.5 * least(CAST(length(text) AS DOUBLE) / 400.0, 1.0)
       |        + 0.5 * least(CAST($stopSql AS DOUBLE) * 8.0 / greatest(CAST($wordsSql AS DOUBLE), 1.0), 1.0)
       |        - 0.25 * least(CAST($punctSql AS DOUBLE) * 4.0 / greatest(CAST(length(text) AS DOUBLE), 1.0), 1.0), 6) AS q_score,
       |    ${coinSql(Sampling.SaltWeight)} AS c
       |  FROM documents
       |), k AS (
       |  SELECT lang, COUNT(*) AS kept,
       |    SUM(CAST(round(q_score * 1000000) AS BIGINT)) / 1000000.0 AS kept_score_sum
       |  FROM s
       |  WHERE CAST(c AS DOUBLE) < least(greatest(q_score, 0.0), 1.0) * 4294967296.0
       |  GROUP BY lang
       |)
       |SELECT d.lang, COUNT(*) AS total,
       |  COALESCE(MAX(k.kept), 0) AS kept,
       |  COALESCE(MAX(k.kept_score_sum), 0.0) AS kept_score_sum
       |FROM documents d LEFT JOIN k ON d.lang = k.lang
       |GROUP BY d.lang""".stripMargin

  /** q73 — chunk-level exact dedup (C4-style paragraph-granularity
    * dedup, composed from q70's chunker + q10's hash-groupBy shape):
    * duplicated 64-char chunks across the corpus, with the canonical
    * occurrence = lexicographic min (doc_id, chunk_idx) encoded as one
    * integer (doc_id·10⁶ + idx — portable argmin without a struct-min,
    * exact while |doc_id| < 2⁶³/10⁶ ≈ 9·10¹²). The decomposition is
    * FLOOR-based on both sides — idx = floor-mod (pmod / DuckDB's
    * sign-folded %), doc = exact division of the remainder-stripped
    * value — so a negative doc_id decodes identically in both engines
    * (Spark `div` truncates toward zero while DuckDB `//` floors; the
    * naive div/% pair diverges below zero). The fingerprint groupBy is
    * map-side combinable; nothing ever holds more than a group's
    * aggregates. 127 cross-doc duplicate groups in the sf0.01 fixture,
    * so the oracle exercises real collisions, not an empty result. */
  val q73: Q = (s, dir) => {
    val chunks = Chunking.chunk(
      Tables(s, dir).documents.filter(length(col("text")) > 0),
      "text", size = 64, step = 48, keepCols = Seq("doc_id"))
    chunks
      .withColumn("fp", md5(col("chunk_text")))
      .withColumn("pos", col("doc_id") * 1000000L + col("chunk_idx"))
      .groupBy(col("fp"))
      .agg(count(lit(1)).as("n_copies"),
        countDistinct(col("doc_id")).as("n_docs"),
        min(col("pos")).as("_mp"))
      .filter(col("n_copies") > 1)
      .withColumn("canonical_idx", pmod(col("_mp"), lit(1000000L)))
      .select(col("fp"), col("n_copies"), col("n_docs"),
        // (_mp - floor-mod) is exactly divisible, so truncating div IS
        // floor div here — engine-identical for negative ids too
        expr("(_mp - canonical_idx) div 1000000").as("canonical_doc"),
        col("canonical_idx"))
  }
  val q73Sql: String =
    """WITH d AS (
      |  SELECT doc_id, text, length(text) AS len
      |  FROM documents WHERE length(text) > 0
      |), i AS (
      |  SELECT doc_id, text, unnest(range(0, (len-1)//48 + 1)) AS chunk_idx
      |  FROM d
      |), c AS (
      |  SELECT doc_id, chunk_idx,
      |    substr(text, CAST(chunk_idx*48 + 1 AS INT), 64) AS ct
      |  FROM i
      |), g AS (
      |  SELECT md5(ct) AS fp, COUNT(*) AS n_copies,
      |    COUNT(DISTINCT doc_id) AS n_docs,
      |    MIN(doc_id*1000000 + chunk_idx) AS mp
      |  FROM c GROUP BY 1 HAVING COUNT(*) > 1
      |), d2 AS (
      |  -- floor-mod first (sign-folded like Spark's pmod), then exact
      |  -- division — identical for negative ids in both engines
      |  SELECT fp, n_copies, n_docs,
      |    ((mp % 1000000) + 1000000) % 1000000 AS canonical_idx, mp
      |  FROM g
      |)
      |SELECT fp, n_copies, n_docs,
      |  (mp - canonical_idx) // 1000000 AS canonical_doc, canonical_idx
      |FROM d2""".stripMargin

  /** q74 — snapshot read / time travel (S4 extension; reference
    * ProcessUserPoints.scala:30-41 scans an Iceberg table whose
    * snapshots CombinDataAndRemoveOldSnap.scala:44-53 manages): build
    * a managed dim from the customer table (v1 = every customer at
    * version 1), upsert a mutating batch (acctbal zeroed for every
    * 10th custkey, version 2), then `readAt` the retired generation.
    * The oracle is the v1 content BY CONSTRUCTION — the deterministic
    * customer projection — so the driver's hash compare proves the
    * frozen generation is bit-identical to the pre-upsert table while
    * the live table has moved on (asserted in-query: a time-travel
    * read that could see v2 rows would be the silent-wrongness
    * failure mode). Doubles round-trip parquet bit-exactly, so the
    * compare is exact. */
  val q74: Q = (s, dir) => {
    val fmt = graft.storage.ParquetDirFormat
    val root = java.nio.file.Files.createTempDirectory("graft_q74_").toString
    val t = s"$root/dim"
    val cust = Tables(s, dir).customer
    val v1 = cust.select(col("c_custkey"), col("c_name"), col("c_acctbal"))
      .withColumn("ver", lit(1L))
    fmt.upsert(s, v1, t, "c_custkey", "ver")
    val batch = cust.filter(col("c_custkey") % 10 === 0)
      .select(col("c_custkey"), col("c_name"),
        lit(0.0).cast("double").as("c_acctbal"))
      .withColumn("ver", lit(2L))
    fmt.upsert(s, batch, t, "c_custkey", "ver")
    val versions = fmt.listVersions(s, t)
    require(versions.size == 1,
      s"q74: expected exactly one retired generation, got $versions")
    fmt.readAt(s, t, versions.head)
  }
  val q74Sql: String =
    """SELECT c_custkey, c_name, c_acctbal, CAST(1 AS BIGINT) AS ver
      |FROM customer""".stripMargin

  /** q75 — schema evolution across generations (round-10 verdict ask;
    * the contract the reference gets from Iceberg 0.11 and its dynamic
    * dim DDL, reference dim/DimDataToHBase.scala:79-93): build a dim
    * (generation 1, column `c_acctbal`), declare a METADATA-ONLY
    * rename `c_acctbal -> balance` ([[graft.storage.Evolution]]
    * journal — no data rewrite), then upsert a batch that carries the
    * new name AND a brand-new column (`c_mktsegment`, add-column
    * evolution). The result unions the LIVE read (old rows resolved
    * under the evolved name, new column null for them) with the
    * `readAt` of the retired PRE-EVOLUTION generation conformed to the
    * evolved schema (rename applied, added column as typed null) — so
    * the value oracle proves both doors read one evolved schema:
    * exactly "readAt of an old generation and a live read both work
    * against the evolved schema". Deterministic by construction; the
    * oracle reproduces both generations from the customer table. */
  val q75: Q = (s, dir) => {
    val fmt = graft.storage.ParquetDirFormat
    val root = java.nio.file.Files.createTempDirectory("graft_q75_").toString
    val t = s"$root/dim"
    val cust = Tables(s, dir).customer
    val v1 = cust.select(col("c_custkey"), col("c_name"), col("c_acctbal"))
      .withColumn("ver", lit(1L))
    fmt.upsert(s, v1, t, "c_custkey", "ver")
    fmt.renameColumn(s, t, "c_acctbal", "balance")
    val batch = cust.filter(col("c_custkey") % 10 === 0)
      .select(col("c_custkey"), col("c_name"),
        lit(0.0).cast("double").as("balance"), col("c_mktsegment"))
      .withColumn("ver", lit(2L))
    fmt.upsert(s, batch, t, "c_custkey", "ver")
    val versions = fmt.listVersions(s, t)
    require(versions.size == 1,
      s"q75: expected exactly one retired generation, got $versions")
    val old = fmt.readAt(s, t, versions.head).withColumn("gen", lit("v1"))
    val live = fmt.read(s, t).withColumn("gen", lit("live"))
    old.unionByName(live)
  }
  val q75Sql: String =
    """SELECT c_custkey, c_name, c_acctbal AS balance,
      |       CAST(NULL AS VARCHAR) AS c_mktsegment,
      |       CAST(1 AS BIGINT) AS ver, 'v1' AS gen
      |FROM customer
      |UNION ALL
      |SELECT c_custkey, c_name,
      |       CASE WHEN c_custkey % 10 = 0 THEN 0.0 ELSE c_acctbal END AS balance,
      |       CASE WHEN c_custkey % 10 = 0 THEN c_mktsegment ELSE NULL END AS c_mktsegment,
      |       CAST(CASE WHEN c_custkey % 10 = 0 THEN 2 ELSE 1 END AS BIGINT) AS ver,
      |       'live' AS gen
      |FROM customer""".stripMargin

  /** q76 — zone-map data skipping under a VALUE oracle: publish orders
    * as a date-CLUSTERED shard layout (explicit assignment = order
    * year, zone maps recorded on o_orderdate), then answer a selective
    * date-range scan through [[graft.sinks.Sinks.readShardsBetween]] —
    * the manifest-planned reader that opens only shards whose recorded
    * range can intersect (1 of 7 here; SinksSpec measures the
    * files-opened drop directly). The oracle is the plain row filter,
    * so the driver's hash compare proves pruning loses NOTHING a full
    * scan would return — file-level skipping with bit-exact results,
    * the q74/q75 pattern applied to the manifest stats layer.
    * Timestamp bounds are built with session-TZ casts (not JVM-default
    * java.sql literals) for engine parity.
    *
    * The PUBLISH is measured separately (the q57 pattern, round-10
    * verdict): `graft.Bench` times [[q76Publish]] as its own
    * `q76_write_sec`, and q76 builds in the same session reuse the
    * published layout — so the catalog's q76 number is the PRUNED READ
    * alone, comparable round over round to scan-only queries. */
  private val q76Published = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession, (String, String)]())

  /** Publish the date-clustered shard layout for `dir` into a fresh
    * temp root (zone maps on o_orderdate) and remember it for [[q76]]
    * builds in this session. Returns the publish root. */
  def q76Publish(s: SparkSession, dir: String): String = {
    val root = java.nio.file.Files.createTempDirectory("graft_q76_").toString
    val pub = s"$root/pub"
    val o = Tables(s, dir).orders
      .select(col("o_orderkey"), col("o_orderdate"), col("o_orderpriority"))
      .withColumn("bucket", (year(col("o_orderdate")) - 1995).cast("long"))
    graft.sinks.Sinks.writeShards(o, pub, "o_orderkey", nShards = 7,
      zoneCols = Seq("o_orderdate"), shardCol = Some("bucket"))
    q76Published.put(s, (dir, pub))
    pub
  }

  val q76: Q = (s, dir) => {
    val cached = q76Published.get(s)
    val pub =
      if (cached != null && cached._1 == dir &&
          java.nio.file.Files.exists(java.nio.file.Paths.get(cached._2)))
        cached._2
      else q76Publish(s, dir)
    graft.sinks.Sinks.readShardsBetween(s, pub, "o_orderdate",
        lit("1996-03-01 00:00:00").cast("timestamp"),
        lit("1996-06-30 00:00:00").cast("timestamp"))
      .select("o_orderkey", "o_orderdate", "o_orderpriority")
  }
  val q76Sql: String =
    """SELECT o_orderkey, o_orderdate, o_orderpriority FROM orders
      |WHERE o_orderdate BETWEEN TIMESTAMP '1996-03-01 00:00:00'
      |                      AND TIMESTAMP '1996-06-30 00:00:00'""".stripMargin

  /** q77 — drop + widen evolution under a VALUE oracle (round-10
    * verdict task 4; the rest of Iceberg 0.11's schema-evolution set
    * after q75's rename/add): build a dim whose `nk` column is a
    * deliberate 32-bit int, declare a METADATA-ONLY type widening
    * `nk: int -> bigint` and a METADATA-ONLY `DROP c_mktsegment`
    * ([[graft.storage.Evolution]] journal — zero data rewritten), then
    * upsert a batch whose `nk` values only FIT the widened type
    * (10^10 + custkey, overflows int). The result unions the LIVE read
    * (narrow gen-1 files cast up, dropped column projected away) with
    * `readAt` of the retired PRE-EVOLUTION generation conformed to the
    * evolved schema — the hash oracle proves both doors present one
    * widened, dropped-column schema with bit-exact values. */
  val q77: Q = (s, dir) => {
    val fmt = graft.storage.ParquetDirFormat
    val root = java.nio.file.Files.createTempDirectory("graft_q77_").toString
    val t = s"$root/dim"
    val cust = Tables(s, dir).customer
    val v1 = cust.select(col("c_custkey"), col("c_name"), col("c_mktsegment"),
        col("c_nationkey").cast("int").as("nk"))
      .withColumn("ver", lit(1L))
    fmt.upsert(s, v1, t, "c_custkey", "ver")
    fmt.widenColumn(s, t, "nk", org.apache.spark.sql.types.LongType)
    fmt.dropColumn(s, t, "c_mktsegment")
    val batch = cust.filter(col("c_custkey") % 10 === 0)
      .select(col("c_custkey"), col("c_name"),
        (lit(10000000000L) + col("c_custkey")).cast("long").as("nk"))
      .withColumn("ver", lit(2L))
    fmt.upsert(s, batch, t, "c_custkey", "ver")
    val versions = fmt.listVersions(s, t)
    require(versions.size == 1,
      s"q77: expected exactly one retired generation, got $versions")
    val old = fmt.readAt(s, t, versions.head).withColumn("gen", lit("v1"))
    val live = fmt.read(s, t).withColumn("gen", lit("live"))
    old.unionByName(live)
  }
  val q77Sql: String =
    """SELECT c_custkey, c_name, CAST(c_nationkey AS BIGINT) AS nk,
      |       CAST(1 AS BIGINT) AS ver, 'v1' AS gen
      |FROM customer
      |UNION ALL
      |SELECT c_custkey, c_name,
      |       CAST(CASE WHEN c_custkey % 10 = 0 THEN 10000000000 + c_custkey
      |            ELSE c_nationkey END AS BIGINT) AS nk,
      |       CAST(CASE WHEN c_custkey % 10 = 0 THEN 2 ELSE 1 END AS BIGINT) AS ver,
      |       'live' AS gen
      |FROM customer""".stripMargin

  /** q78 — Gopher-style composite document filter
    * ([[operators.CurationFilters.gopherFilter]]): word-count bounds,
    * mean-word-length bounds, stop-word presence, punctuation-soup
    * bound — every rule an integer cross-multiplication so the filter
    * replays bit-exactly in the oracle. One MarkerCounts scan per doc,
    * zero shuffle. */
  val q78: Q = (s, dir) =>
    operators.CurationFilters.gopherFilter(Tables(s, dir).documents)
  val q78Sql: String =
    s"""WITH m AS (
       |  SELECT doc_id, CAST($wordsSql AS BIGINT) AS n_words,
       |    CAST(length(replace(text, ' ', '')) AS BIGINT) AS swlen,
       |    $stopSql AS stop_cnt, $punctSql AS punct_cnt
       |  FROM documents
       |)
       |SELECT * FROM m
       |WHERE n_words BETWEEN 30 AND 10000
       |  AND swlen >= 3 * n_words AND swlen <= 10 * n_words
       |  AND stop_cnt >= 2
       |  AND punct_cnt * 10 <= n_words""".stripMargin

  /** q79 — unigram-LM corpus scoring
    * ([[operators.CurationFilters.unigramLmScore]]): the CCNet
    * perplexity-filter shape with integer-exact scoring — train token
    * counts over the corpus (map-side-combinable reduce), join the
    * model back to the exploded tokens (AQE broadcasts the model when
    * it fits), aggregate per doc: token count, OOV count (corpus count
    * < 200 — catches the planted rare token), summed corpus-count mass
    * (the order-independent integer analog of a log-prob sum). */
  val q79: Q = (s, dir) =>
    operators.CurationFilters.unigramLmScore(Tables(s, dir).documents)
  val q79Sql: String =
    """WITH tok AS (
      |  SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS w FROM documents
      |), model AS (
      |  SELECT w, COUNT(*) AS c FROM tok GROUP BY w
      |), scored AS (
      |  SELECT t.doc_id, t.w, m.c FROM tok t JOIN model m USING (w)
      |)
      |SELECT doc_id,
      |  COUNT(*) AS n_tokens,
      |  CAST(SUM(CASE WHEN c < 200 THEN 1 ELSE 0 END) AS BIGINT) AS oov_cnt,
      |  CAST(SUM(c) AS BIGINT) AS lm_mass,
      |  round(CAST(SUM(CASE WHEN c < 200 THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*), 6) AS oov_ratio
      |FROM scored GROUP BY doc_id""".stripMargin

  /** q80 — PII scrub + audit ([[operators.CurationFilters.piiScrubStats]]
    * over [[functions.Text.scrubPii]]): deterministic PII is injected
    * into the fixture docs (emails on doc_id%5, phone numbers on %7,
    * IPv4s on %11 — both engines build the same augmented text), then
    * scrubbed to typed placeholders and audited by replace-arithmetic
    * counts. The value oracle replays the same Java/RE2-compatible
    * patterns in DuckDB, pinning cross-engine regex semantics — the
    * scrubbed TEXT itself is hash-compared, not just the counts. */
  val q80: Q = (s, dir) => {
    val aug = Tables(s, dir).documents.select(
      col("doc_id"),
      concat(
        col("text"),
        when(col("doc_id") % 5 === 0,
          concat(lit(" mail user"), col("doc_id"), lit("@example.com now")))
          .otherwise(lit("")),
        when(col("doc_id") % 7 === 0,
          concat(lit(" call +1 (555) 010-"),
            lpad((col("doc_id") % 100).cast("string"), 4, "0"), lit(" ok")))
          .otherwise(lit("")),
        when(col("doc_id") % 11 === 0,
          concat(lit(" host 192.168."), (col("doc_id") % 256).cast("string"),
            lit(".7 up")))
          .otherwise(lit(""))).as("text"))
    operators.CurationFilters.piiScrubStats(aug)
  }
  val q80Sql: String =
    """WITH aug AS (
      |  SELECT doc_id,
      |    text ||
      |    CASE WHEN doc_id % 5 = 0 THEN ' mail user' || doc_id || '@example.com now' ELSE '' END ||
      |    CASE WHEN doc_id % 7 = 0 THEN ' call +1 (555) 010-' || lpad(CAST(doc_id % 100 AS VARCHAR), 4, '0') || ' ok' ELSE '' END ||
      |    CASE WHEN doc_id % 11 = 0 THEN ' host 192.168.' || CAST(doc_id % 256 AS VARCHAR) || '.7 up' ELSE '' END AS t
      |  FROM documents
      |), scrub AS (
      |  SELECT doc_id,
      |    regexp_replace(
      |      regexp_replace(
      |        regexp_replace(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z][A-Za-z]+', '<EMAIL>', 'g'),
      |        '[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}', '<IP>', 'g'),
      |      '\+?[0-9][0-9 ()-]{7,}[0-9]', '<PHONE>', 'g') AS scrubbed
      |  FROM aug
      |)
      |SELECT doc_id, scrubbed,
      |  CAST((length(scrubbed) - length(replace(scrubbed, '<EMAIL>', ''))) / 7 AS BIGINT) AS email_cnt,
      |  CAST((length(scrubbed) - length(replace(scrubbed, '<PHONE>', ''))) / 7 AS BIGINT) AS phone_cnt,
      |  CAST((length(scrubbed) - length(replace(scrubbed, '<IP>', ''))) / 4 AS BIGINT) AS ip_cnt
      |FROM scrub""".stripMargin

  /** q81 — Gopher duplicate-n-gram repetition
    * ([[operators.CurationFilters.dupNgramFraction]]): per-doc fraction
    * of 3-word shingle instances that are within-doc duplicates — the
    * phrase-level repetition signal q25's top-word ratio can't see.
    * Shingle explode → two-level map-side-combinable agg; integer
    * counts, one rounded ratio. */
  val q81: Q = (s, dir) =>
    operators.CurationFilters.dupNgramFraction(Tables(s, dir).documents)
  val q81Sql: String =
    """WITH w AS (
      |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ws FROM documents
      |), sh AS (
      |  SELECT doc_id,
      |    CASE WHEN len(ws) <= 3 THEN [array_to_string(ws, ' ')]
      |         ELSE [array_to_string(ws[i:i+2], ' ') FOR i IN range(1, len(ws) - 1)]
      |    END AS shingles
      |  FROM w
      |), e AS (
      |  SELECT doc_id, unnest(shingles) AS s FROM sh
      |), c AS (
      |  SELECT doc_id, s, COUNT(*) AS c FROM e GROUP BY 1, 2
      |)
      |SELECT doc_id,
      |  CAST(SUM(c) AS BIGINT) AS n_shingles,
      |  CAST(SUM(CASE WHEN c > 1 THEN c ELSE 0 END) AS BIGINT) AS dup_shingles,
      |  round(CAST(SUM(CASE WHEN c > 1 THEN c ELSE 0 END) AS DOUBLE) / SUM(c), 6) AS dup_frac
      |FROM c GROUP BY doc_id""".stripMargin

  /** q82 — corpus-frequency boilerplate removal
    * ([[operators.Boilerplate.scrubFrequentSegments]]): the
    * CCNet/RefinedWeb line-dedup step over deterministic 8-word
    * segments. Deterministic banner segments are injected (doc_id%3 /
    * %4 — both engines build the same augmented text, the q80 PII
    * pattern), then every segment occurring in ≥20 distinct docs is
    * scrubbed and the document reassembled in order — the cleaned
    * TEXT itself is hash-compared. */
  val q82: Q = (s, dir) => {
    val aug = Tables(s, dir).documents.select(
      col("doc_id"),
      concat(
        when(col("doc_id") % 4 === 0,
          lit("graft corpus banner beta shared header tag two "))
          .otherwise(lit("")),
        when(col("doc_id") % 3 === 0,
          lit("graft corpus banner alpha shared footer tag one "))
          .otherwise(lit("")),
        col("text")).as("text"))
    operators.Boilerplate.scrubFrequentSegments(aug)
  }
  val q82Sql: String =
    """WITH aug AS (
      |  SELECT doc_id,
      |    CASE WHEN doc_id % 4 = 0 THEN 'graft corpus banner beta shared header tag two ' ELSE '' END ||
      |    CASE WHEN doc_id % 3 = 0 THEN 'graft corpus banner alpha shared footer tag one ' ELSE '' END ||
      |    text AS t
      |  FROM documents
      |), w AS (
      |  SELECT doc_id, regexp_split_to_array(trim(t), '\s+') AS ws FROM aug
      |), sg AS (
      |  SELECT doc_id,
      |    unnest([array_to_string(ws[i:i+7], ' ') FOR i IN range(1, len(ws)+1, 8)]) AS seg,
      |    unnest(range(1, len(ws)+1, 8)) AS pos
      |  FROM w
      |), bp AS (
      |  SELECT seg FROM (SELECT seg, COUNT(DISTINCT doc_id) AS df FROM sg GROUP BY seg)
      |  WHERE df >= 20
      |), rebuilt AS (
      |  SELECT doc_id, string_agg(seg, ' ' ORDER BY pos) AS clean_text,
      |         COUNT(*) AS n_kept
      |  FROM sg WHERE seg NOT IN (SELECT seg FROM bp) GROUP BY doc_id
      |)
      |SELECT w.doc_id,
      |  coalesce(r.clean_text, '') AS clean_text,
      |  CAST((len(w.ws) - 1) // 8 + 1 AS BIGINT) AS n_seg,
      |  CAST(coalesce(r.n_kept, 0) AS BIGINT) AS n_kept
      |FROM w LEFT JOIN rebuilt r ON w.doc_id = r.doc_id""".stripMargin

  /** q83 — exact corpus heavy hitters via sketch-then-recount
    * ([[operators.HeavyHitters.exactAboveShare]] over the native
    * [[expressions.MisraGriesAgg]]): tokens with share strictly above
    * 3.4% of the corpus token mass. The Misra–Gries candidate pass
    * carries ≤512 counters per map task through the shuffle (no
    * vocabulary shuffle); the exact recount touches only candidates,
    * so the result is EXACTLY the plain GROUP BY / HAVING answer the
    * oracle computes. */
  val q83: Q = (s, dir) => {
    val tok = Tables(s, dir).documents
      .select(explode(functions.Text.tokens(col("text"))).as("w"))
    operators.HeavyHitters.exactAboveShare(tok, "w", 34, 1000, sketchK = 512)
  }
  val q83Sql: String =
    """WITH tok AS (
      |  SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS w FROM documents
      |), c AS (
      |  SELECT w, COUNT(*) AS cnt FROM tok GROUP BY w
      |)
      |SELECT w, cnt FROM c WHERE cnt * 1000 > 34 * (SELECT COUNT(*) FROM tok)""".stripMargin

  /** q84 — embedding centroid-outlier QC
    * ([[operators.EmbeddingQC.centroidOutliers]]): per-label
    * fixed-point centroid, n²-scaled integer squared distances, and a
    * cross-multiplied outlier flag — the embedding-hygiene screen
    * before semantic dedup / ANN indexing, value-oracled because
    * every step is exact BIGINT arithmetic (floor quantization, sum
    * centroids, no float means). */
  val q84: Q = (s, dir) =>
    operators.EmbeddingQC.centroidOutliers(Tables(s, dir).embeddings)
  val q84Sql: String =
    """WITH sc AS (
      |  SELECT vec_id, label,
      |    [CAST(floor(CAST(v AS DOUBLE) * 1000) AS BIGINT) FOR v IN embedding] AS sv
      |  FROM embeddings
      |), ex AS (
      |  SELECT vec_id, label, unnest(sv) AS x,
      |         unnest(range(1, len(sv)+1)) AS i
      |  FROM sc
      |), sums AS (
      |  SELECT label, i, CAST(SUM(x) AS BIGINT) AS s, COUNT(*) AS nl
      |  FROM ex GROUP BY label, i
      |), d AS (
      |  SELECT e.vec_id, e.label,
      |    CAST(SUM((m.nl * e.x - m.s) * (m.nl * e.x - m.s)) AS BIGINT) AS dist2
      |  FROM ex e JOIN sums m ON e.label = m.label AND e.i = m.i
      |  GROUP BY e.vec_id, e.label
      |), t AS (
      |  SELECT label, CAST(SUM(dist2) AS BIGINT) AS tot, COUNT(*) AS n
      |  FROM d GROUP BY label
      |)
      |SELECT d.vec_id, d.label, d.dist2,
      |       (d.dist2 * t.n > 4 * t.tot) AS outlier
      |FROM d JOIN t USING (label)""".stripMargin

  /** q85 — filter-induced distribution drift
    * ([[operators.Drift.bucketShift]]): the post-curation QC audit —
    * compare the document-length histogram (50-char buckets) of the
    * FULL corpus against its Gopher-filtered subset (q78's exact
    * rules) and flag buckets whose share moved by more than 1%
    * (cross-multiplied, no float division). The filter cuts short
    * docs, so low buckets drift — the audit proves it and bounds it. */
  val q85: Q = (s, dir) => {
    val docs = Tables(s, dir).documents
    val kept = docs.join(
      operators.CurationFilters.gopherFilter(docs).select("doc_id"),
      Seq("doc_id"), "left_semi")
    operators.Drift.bucketShift(docs, kept,
      floor(col("n_chars").cast("long") / 50L).cast("long"))
  }
  val q85Sql: String =
    """WITH ca AS (
      |  SELECT n_chars // 50 AS bucket, COUNT(*) AS cnt_a
      |  FROM documents GROUP BY 1
      |), m AS (
      |  SELECT doc_id, CAST($WORDS AS BIGINT) AS n_words,
      |    CAST(length(replace(text, ' ', '')) AS BIGINT) AS swlen,
      |    $STOP AS stop_cnt, $PUNCT AS punct_cnt, n_chars
      |  FROM documents
      |), kept AS (
      |  SELECT * FROM m
      |  WHERE n_words BETWEEN 30 AND 10000
      |    AND swlen >= 3 * n_words AND swlen <= 10 * n_words
      |    AND stop_cnt >= 2
      |    AND punct_cnt * 10 <= n_words
      |), cb AS (
      |  SELECT n_chars // 50 AS bucket, COUNT(*) AS cnt_b FROM kept GROUP BY 1
      |), na AS (SELECT COUNT(*) AS n FROM documents),
      |nb AS (SELECT COUNT(*) AS n FROM kept)
      |SELECT CAST(coalesce(ca.bucket, cb.bucket) AS BIGINT) AS bucket,
      |  CAST(coalesce(cnt_a, 0) AS BIGINT) AS cnt_a,
      |  CAST(coalesce(cnt_b, 0) AS BIGINT) AS cnt_b,
      |  (abs(coalesce(cnt_a, 0) * nb.n - coalesce(cnt_b, 0) * na.n) * 100
      |     > na.n * nb.n) AS drifted
      |FROM ca FULL OUTER JOIN cb ON ca.bucket = cb.bucket, na, nb"""
      .stripMargin
      .replace("$WORDS", wordsSql)
      .replace("$STOP", stopSql)
      .replace("$PUNCT", punctSql)

  /** q86 — AUTOMATIC zone-map skipping under a VALUE oracle
    * ([[graft.plans.ZoneMapSkipping]]): the same published layout as
    * q76, but read through the FRONT DOOR — a plain
    * `spark.read.parquet(s"$pub/data")` with an ordinary `.filter`,
    * no pruning API in sight. The injected optimizer rule recognizes
    * the layout, evaluates the date-range conjuncts against the
    * manifest's zone stats, and adds `shard IN (<survivors>)` — which
    * partition pruning turns into file skipping (ZoneMapSkippingSpec
    * asserts the files-opened drop on this exact shape). The second
    * conjunct (`o_orderpriority`) is NOT zone-mapped: it prunes
    * nothing and row-filters normally, proving mixed predicates stay
    * exact. The oracle is the plain row filter, so the hash compare
    * proves the automatic path loses nothing a full scan would
    * return — q76's guarantee without q76's API. */
  val q86: Q = (s, dir) => {
    val cached = q76Published.get(s)
    val pub =
      if (cached != null && cached._1 == dir &&
          java.nio.file.Files.exists(java.nio.file.Paths.get(cached._2)))
        cached._2
      else q76Publish(s, dir)
    s.read.parquet(s"$pub/data")
      .filter(col("o_orderdate") >= lit("1997-01-01 00:00:00").cast("timestamp") &&
        col("o_orderdate") <= lit("1997-06-30 00:00:00").cast("timestamp") &&
        col("o_orderpriority") === lit("1-URGENT"))
      .select("o_orderkey", "o_orderdate", "o_orderpriority")
  }
  val q86Sql: String =
    """SELECT o_orderkey, o_orderdate, o_orderpriority FROM orders
      |WHERE o_orderdate BETWEEN TIMESTAMP '1997-01-01 00:00:00'
      |                      AND TIMESTAMP '1997-06-30 00:00:00'
      |  AND o_orderpriority = '1-URGENT'""".stripMargin

  /** q87 — the manifest as a METADATA TABLE under a VALUE oracle
    * ([[graft.sinks.Sinks.shardStats]] — the Iceberg `table.files`/
    * `table.partitions` shape): per-shard row counts, id ranges and
    * zone ranges of the q76 layout, answered from the manifest alone —
    * zero data files opened (the frame IS the one-row-per-shard
    * manifest). The oracle recomputes the same stats from the raw
    * table, so the hash compare proves the published manifest
    * truthfully describes the published bytes — the planner's pruning
    * stats and the verifier's accounting are the same checked numbers.
    * At 100 TB this door answers "rows per date bucket, ranges held"
    * at manifest cost instead of corpus-scan cost. */
  val q87: Q = (s, dir) => {
    val cached = q76Published.get(s)
    val pub =
      if (cached != null && cached._1 == dir &&
          java.nio.file.Files.exists(java.nio.file.Paths.get(cached._2)))
        cached._2
      else q76Publish(s, dir)
    graft.sinks.Sinks.shardStats(s, pub)
      .select(col("shard"), col("n_rows"), col("min_id"), col("max_id"),
        col("zmin_o_orderdate"), col("zmax_o_orderdate"))
  }
  val q87Sql: String =
    """SELECT CAST(year(o_orderdate) - 1995 AS BIGINT) AS shard,
      |       COUNT(*) AS n_rows,
      |       MIN(o_orderkey) AS min_id, MAX(o_orderkey) AS max_id,
      |       MIN(o_orderdate) AS zmin_o_orderdate,
      |       MAX(o_orderdate) AS zmax_o_orderdate
      |FROM orders GROUP BY 1""".stripMargin

  /** q88 — incremental consumption of a delta publish under a VALUE
    * oracle ([[graft.sinks.Sinks.readShardsChangedSince]]): publish
    * the date-clustered orders layout, then delta-publish a RESTATED
    * generation (1997's priorities rewritten — one bucket's content
    * changes, six are carried forward by hard link), and read back
    * ONLY what changed since the retired generation. The result is
    * exactly the restated bucket's rows — the oracle recomputes them
    * from the raw table, so the hash compare proves the two-manifest
    * change plan (content-hash diff) returns precisely the rows a
    * catching-up consumer must reprocess: no missed changes, no
    * re-delivered unchanged shards. The 100 TB story in one query —
    * a 1/7 delta costs the consumer 1/7 of a scan. */
  private val q88Published = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession, (String, String, String)]())

  /** Build q88's two-generation scenario once per (session, sf): the
    * bench's repeat passes then measure the CONSUMER cost — change
    * planning from two manifests + the changed-shard read — which is
    * the number that matters round-over-round (the q76Publish
    * treatment; the publishes themselves are writeShards/publishDelta,
    * already covered by SinksSpec and `q76_write_sec`). */
  private def q88Publish(s: SparkSession, dir: String): (String, String) = {
    val root = java.nio.file.Files.createTempDirectory("graft_q88_").toString
    val pub = s"$root/pub"
    val o = Tables(s, dir).orders
      .select(col("o_orderkey"), col("o_orderdate"), col("o_orderpriority"))
      .withColumn("bucket", (year(col("o_orderdate")) - 1995).cast("long"))
    graft.sinks.Sinks.writeShards(o, pub, "o_orderkey", nShards = 7,
      shardCol = Some("bucket"))
    val restated = o.withColumn("o_orderpriority",
      when(col("bucket") === 2L, lit("X-RESTATED"))
        .otherwise(col("o_orderpriority")))
    graft.sinks.Sinks.publishDelta(restated, pub, "o_orderkey", nShards = 7,
      retainPrevious = true, shardCol = Some("bucket"))
    val stamp = graft.sinks.Sinks.listShardVersions(s, pub).last
    q88Published.put(s, (dir, pub, stamp))
    (pub, stamp)
  }

  val q88: Q = (s, dir) => {
    val cached = q88Published.get(s)
    val (pub, stamp) =
      if (cached != null && cached._1 == dir &&
          java.nio.file.Files.exists(java.nio.file.Paths.get(cached._2)))
        (cached._2, cached._3)
      else q88Publish(s, dir)
    graft.sinks.Sinks.readShardsChangedSince(s, pub, stamp)
      .select("o_orderkey", "o_orderdate", "o_orderpriority")
  }
  val q88Sql: String =
    """SELECT o_orderkey, o_orderdate, 'X-RESTATED' AS o_orderpriority
      |FROM orders WHERE year(o_orderdate) = 1997""".stripMargin

  /** q89 — METADATA-ONLY aggregates under a VALUE oracle
    * ([[graft.plans.ManifestAggregates]]): `COUNT(*)` and
    * `MIN`/`MAX(o_orderdate)` over the q76 layout's plain data dir,
    * rewritten by the injected rule into `sum(n_rows)` /
    * `min(zmin)` / `max(zmax)` over the ONE-ROW-PER-SHARD manifest —
    * the executed plan opens zero data files
    * (ManifestAggregatesSpec asserts the scan's location is the
    * manifest). The oracle recomputes all three from the raw table,
    * so the hash compare proves the metadata answer IS the data
    * answer. At 100 TB: corpus cardinality and range questions at
    * manifest cost — the Iceberg metadata-only-query shape as a
    * `Rule[LogicalPlan]`. */
  val q89: Q = (s, dir) => {
    val cached = q76Published.get(s)
    val pub =
      if (cached != null && cached._1 == dir &&
          java.nio.file.Files.exists(java.nio.file.Paths.get(cached._2)))
        cached._2
      else q76Publish(s, dir)
    s.read.parquet(s"$pub/data")
      .agg(count(lit(1)).as("n_orders"),
        min(col("o_orderdate")).as("first_date"),
        max(col("o_orderdate")).as("last_date"))
  }
  val q89Sql: String =
    """SELECT COUNT(*) AS n_orders, MIN(o_orderdate) AS first_date,
      |       MAX(o_orderdate) AS last_date
      |FROM orders""".stripMargin

  /** q90 — SORTED layout: both skipping granularities under a VALUE
    * oracle ([[graft.sinks.Sinks.writeShards]] `sortCols` +
    * [[graft.plans.ZoneMapSkipping]]): orders published year-bucketed
    * (zone maps on o_orderdate) AND date-sorted within each shard
    * (`spec_sort`), then a NARROW two-week read through the plain
    * parquet door. The injected rule drops 6/7 shards from the
    * manifest; inside the survivor, parquet row-group stats are tight
    * on the sorted date so the scan decodes only the straddling row
    * groups — the Iceberg write-sort-order story end to end, and the
    * oracle's hash compare proves both skipping layers lose nothing.
    * Publish cached per (session, sf) like q76: the bench measures
    * the READ. */
  private val q90Published = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession, (String, String)]())

  def q90Publish(s: SparkSession, dir: String): String = {
    val root = java.nio.file.Files.createTempDirectory("graft_q90_").toString
    val pub = s"$root/pub"
    val o = Tables(s, dir).orders
      .select(col("o_orderkey"), col("o_orderdate"), col("o_totalprice"))
      // integral revenue column so the filtered-aggregate door (q99)
      // can answer SUM from per-shard zsum stats
      .withColumn("cents", round(col("o_totalprice") * 100).cast("long"))
      // constant-per-shard by construction (shards ARE year buckets):
      // the single-group column the grouped metadata door proves from
      // its zmin == zmax stats (q102)
      .withColumn("oyear", year(col("o_orderdate")))
      .withColumn("bucket", (year(col("o_orderdate")) - 1995).cast("long"))
    graft.sinks.Sinks.writeShards(o, pub, "o_orderkey", nShards = 7,
      zoneCols = Seq("o_orderdate", "cents", "oyear"),
      shardCol = Some("bucket"), sortCols = Seq("o_orderdate"))
    q90Published.put(s, (dir, pub))
    pub
  }

  val q90: Q = (s, dir) => {
    val cached = q90Published.get(s)
    val pub =
      if (cached != null && cached._1 == dir &&
          java.nio.file.Files.exists(java.nio.file.Paths.get(cached._2)))
        cached._2
      else q90Publish(s, dir)
    s.read.parquet(s"$pub/data")
      .filter(col("o_orderdate") >= lit("1997-03-01 00:00:00").cast("timestamp") &&
        col("o_orderdate") <= lit("1997-03-15 00:00:00").cast("timestamp"))
      .select("o_orderkey", "o_orderdate", "o_totalprice")
  }
  val q90Sql: String =
    """SELECT o_orderkey, o_orderdate, o_totalprice FROM orders
      |WHERE o_orderdate BETWEEN TIMESTAMP '1997-03-01 00:00:00'
      |                      AND TIMESTAMP '1997-03-15 00:00:00'""".stripMargin

  /** q91 — zone-map skipping on a STRING-typed date column under a
    * VALUE oracle: a text corpus's most common real filter is a
    * date-STRING partition key (`yyyy-MM-dd` dump/crawl stamps), not
    * a typed timestamp — so the layout here zone-maps `o_dt` (the
    * ISO-formatted order date, clustered by year into shards) and the
    * front-door read filters with a string range AND a LIKE month
    * prefix. [[graft.plans.ZoneMapSkipping]]'s stat matching is
    * type-generic (UTF8String min/max compare byte-wise, which for
    * ISO dates IS date order) and its StartsWith arm prunes via the
    * byte-successor bound; the oracle replays the same filter over
    * the base table, proving the string-stat path loses nothing.
    * Publish cached per (session, sf) like q76/q90: the bench
    * measures the READ. */
  private val q91Published = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession, (String, String)]())

  def q91Publish(s: SparkSession, dir: String): String = {
    val root = java.nio.file.Files.createTempDirectory("graft_q91_").toString
    val pub = s"$root/pub"
    val o = Tables(s, dir).orders
      .select(col("o_orderkey"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("o_dt"),
        col("o_totalprice"))
      .withColumn("bucket",
        (substring(col("o_dt"), 1, 4).cast("long") - 1995L))
    graft.sinks.Sinks.writeShards(o, pub, "o_orderkey", nShards = 7,
      zoneCols = Seq("o_dt"), shardCol = Some("bucket"))
    q91Published.put(s, (dir, pub))
    pub
  }

  val q91: Q = (s, dir) => {
    val cached = q91Published.get(s)
    val pub =
      if (cached != null && cached._1 == dir &&
          java.nio.file.Files.exists(java.nio.file.Paths.get(cached._2)))
        cached._2
      else q91Publish(s, dir)
    s.read.parquet(s"$pub/data")
      .filter(col("o_dt") >= "1996-01-01" && col("o_dt") <= "1996-12-31" &&
        col("o_dt").startsWith("1996-03"))
      .select("o_orderkey", "o_dt", "o_totalprice")
  }
  val q91Sql: String =
    """SELECT o_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS o_dt, o_totalprice
      |FROM orders
      |WHERE strftime(o_orderdate, '%Y-%m-%d') >= '1996-01-01'
      |  AND strftime(o_orderdate, '%Y-%m-%d') <= '1996-12-31'
      |  AND strftime(o_orderdate, '%Y-%m-%d') LIKE '1996-03%'""".stripMargin

  /** q92 — ROW-LEVEL DELETE (takedown) under a VALUE oracle: publish
    * the documents corpus as a bucket-clustered layout (explicit
    * assignment = doc_id mod 8, so the takedown's blast radius is ONE
    * shard of eight), run [[graft.sinks.Sinks.deleteWhere]] for the
    * GDPR/opt-out shape — "remove these documents" as a predicate —
    * and read back the live corpus. The oracle replays `NOT (pred)`
    * over the base table, so the driver's hash compare proves the
    * copy-on-write rewrite lost nothing and removed exactly the
    * matches; the displaced generation is retained, so the takedown
    * is auditable ([[graft.sinks.Sinks.readRowChanges]] enumerates
    * what went). DeleteCdcSpec pins the mechanics this query can't
    * see from the rows: only the matching shard is rewritten, the
    * other seven carry forward by hard link. */
  /** q92's fixture (the pre-door publish) and door (the takedown +
    * read-back), separable so the bench can price them apart — the
    * at-scale story is the DOOR: a takedown's cost is the matching
    * shard's rewrite, while the fixture publish is corpus-sized by
    * construction and amortized in production. */
  private[graft] def q92Fixture(s: SparkSession, dir: String): String = {
    val root = java.nio.file.Files.createTempDirectory("graft_q92_").toString
    val t = s"$root/corpus"
    val docs = Tables(s, dir).documents
      .withColumn("bucket", pmod(col("doc_id"), lit(8L)))
    graft.sinks.Sinks.writeShards(docs, t, "doc_id", nShards = 8,
      zoneCols = Seq("n_chars"), shardCol = Some("bucket"))
    t
  }
  private[graft] def q92Door(s: SparkSession, t: String): DataFrame = {
    graft.sinks.Sinks.deleteWhere(s, t, "doc_id",
      col("bucket") === 3L && col("n_chars") % 2 === 0,
      retainPrevious = true)
    s.read.parquet(s"$t/data")
      .select("doc_id", "text", "lang", "source", "n_chars", "bucket")
  }
  val q92: Q = (s, dir) => q92Door(s, q92Fixture(s, dir))
  val q92Sql: String =
    """SELECT doc_id, text, lang, source, n_chars,
      |       doc_id % 8 AS bucket
      |FROM documents
      |WHERE NOT (doc_id % 8 = 3 AND n_chars % 2 = 0)""".stripMargin

  /** q93 — ROW-LEVEL CDC under a VALUE oracle: publish documents,
    * delta-publish a v2 that deletes every 17th doc, revises every
    * 10th survivor's text, and appends new docs, then ask
    * [[graft.sinks.Sinks.readRowChanges]] for the changes since the
    * retained v1. The oracle reconstructs the exact change feed from
    * the base table (deletes + update pre/post images + inserts), so
    * the hash compare proves the manifest-planned diff — which reads
    * ONLY changed shards and drops carried rows by hash — emits the
    * semantic delta and nothing else. This is the
    * incremental-recompute contract: a downstream index catches up on
    * these rows alone. */
  /** q93's fixture = BOTH publishes (v1 + the delta that creates the
    * change history); the door = the manifest-planned CDC read. The
    * at-scale story is the door: it opens only changed shards. */
  private[graft] def q93Fixture(s: SparkSession, dir: String): (String, String) = {
    val root = java.nio.file.Files.createTempDirectory("graft_q93_").toString
    val t = s"$root/corpus"
    val docs = Tables(s, dir).documents
    graft.sinks.Sinks.writeShards(docs, t, "doc_id", nShards = 8)
    val v2 = docs.filter(col("doc_id") % 17 =!= 0)
      .withColumn("text",
        when(col("doc_id") % 10 === 0, concat(col("text"), lit(" [rev2]")))
          .otherwise(col("text")))
      .unionByName(docs.filter(col("doc_id") % 23 === 0)
        .select((col("doc_id") + lit(1000000L)).as("doc_id"), col("text"),
          col("lang"), col("source"), col("n_chars")))
    graft.sinks.Sinks.publishDelta(v2, t, "doc_id", nShards = 8,
      retainPrevious = true)
    val versions = graft.sinks.Sinks.listShardVersions(s, t)
    require(versions.size == 1,
      s"q93: expected exactly one retired generation, got $versions")
    (t, versions.head)
  }
  private[graft] def q93Door(s: SparkSession, t: String,
                             stamp: String): DataFrame =
    graft.sinks.Sinks.readRowChanges(s, t, stamp, "doc_id")
  val q93: Q = (s, dir) => {
    val (t, stamp) = q93Fixture(s, dir)
    q93Door(s, t, stamp)
  }
  val q93Sql: String =
    """SELECT doc_id, text, lang, source, n_chars,
      |       'delete' AS _change_type
      |FROM documents WHERE doc_id % 17 = 0
      |UNION ALL
      |SELECT doc_id, text, lang, source, n_chars, 'update_preimage'
      |FROM documents WHERE doc_id % 17 <> 0 AND doc_id % 10 = 0
      |UNION ALL
      |SELECT doc_id, text || ' [rev2]', lang, source, n_chars,
      |       'update_postimage'
      |FROM documents WHERE doc_id % 17 <> 0 AND doc_id % 10 = 0
      |UNION ALL
      |SELECT doc_id + 1000000, text, lang, source, n_chars, 'insert'
      |FROM documents WHERE doc_id % 23 = 0""".stripMargin

  /** q94 — ROW-LEVEL MERGE under a VALUE oracle: publish documents,
    * then apply a PATCH frame through
    * [[graft.sinks.Sinks.mergeRows]] — revised text for every 11th
    * doc, deletion for every 33rd, brand-new docs from every 13th —
    * and read back the live corpus. Unlike q93's delta publish, the
    * merge never sees the corpus frame: target shards come from the
    * manifest's own spec applied to the patch ids, so the cost is
    * the patched shards, not a corpus scan. The oracle replays the
    * MERGE semantics over the base table, proving upsert/delete/
    * insert landed exactly and every unpatched row survived
    * untouched. */
  /** q94's fixture = the base publish; the door = the patch merge +
    * read-back. The at-scale story is the door: the merge's cost is
    * the patched shards, never a corpus scan. */
  private[graft] def q94Fixture(s: SparkSession, dir: String): String = {
    val root = java.nio.file.Files.createTempDirectory("graft_q94_").toString
    val t = s"$root/corpus"
    graft.sinks.Sinks.writeShards(Tables(s, dir).documents, t,
      "doc_id", nShards = 8)
    t
  }
  private[graft] def q94Door(s: SparkSession, dir: String,
                             t: String): DataFrame = {
    val docs = Tables(s, dir).documents
    val patch = docs.filter(col("doc_id") % 11 === 0)
      .withColumn("text", concat(lit("merged: "), col("text")))
      .withColumn("_del", col("doc_id") % 33 === 0)
      .unionByName(docs.filter(col("doc_id") % 13 === 0)
        .select((col("doc_id") + lit(2000000L)).as("doc_id"), col("text"),
          col("lang"), col("source"), col("n_chars"))
        .withColumn("_del", lit(false)))
    graft.sinks.Sinks.mergeRows(s, t, patch, "doc_id",
      deleteWhen = Some(col("_del")))
    s.read.parquet(s"$t/data")
      .select("doc_id", "text", "lang", "source", "n_chars")
  }
  val q94: Q = (s, dir) => q94Door(s, dir, q94Fixture(s, dir))
  val q94Sql: String =
    """SELECT doc_id,
      |       CASE WHEN doc_id % 11 = 0 THEN 'merged: ' || text
      |            ELSE text END AS text,
      |       lang, source, n_chars
      |FROM documents WHERE doc_id % 33 <> 0
      |UNION ALL
      |SELECT doc_id + 2000000, text, lang, source, n_chars
      |FROM documents WHERE doc_id % 13 = 0""".stripMargin

  /** q95 — INCREMENTAL CURATION REFRESH under a VALUE oracle (the CDC
    * consumption loop, end to end): publish documents as the base
    * corpus, initialize a curated corpus (row-wise gate), delta-publish
    * a revised base (every 19th doc deleted, every 7th's length
    * re-stamped, every 29th cloned as a new doc), then catch the
    * curated corpus up through [[graft.apps.CurationRefresh]] — which
    * judges ONLY the changed rows and merges a patch. The oracle is
    * the FULL recuration of v2 expressed in SQL, so the driver's hash
    * compare proves the incremental path equals the recompute it
    * replaces — the equality that makes CDC-driven curation
    * trustworthy at 100 TB. */
  private[graft] val q95Gate =
    col("n_chars") % 3 =!= 0 && col("lang").isNotNull
  /** q95's fixture = THREE publishes (base v1, curated init, base v2
    * delta); the door = the incremental refresh itself. The at-scale
    * story is the door: it judges only the changed rows. */
  private[graft] def q95Fixture(s: SparkSession, dir: String)
      : (String, String, String) = {
    val root = java.nio.file.Files.createTempDirectory("graft_q95_").toString
    val (basePath, curatedPath) = (s"$root/base", s"$root/curated")
    val docs = Tables(s, dir).documents
    graft.sinks.Sinks.writeShards(docs, basePath, "doc_id", nShards = 8)
    graft.sinks.Sinks.writeShards(docs.filter(q95Gate), curatedPath,
      "doc_id", nShards = 8)
    val v2 = docs.filter(col("doc_id") % 19 =!= 0)
      .withColumn("n_chars",
        when(col("doc_id") % 7 === 0, col("n_chars") + 1L)
          .otherwise(col("n_chars")))
      .unionByName(docs.filter(col("doc_id") % 29 === 0)
        .select((col("doc_id") + lit(3000000L)).as("doc_id"), col("text"),
          col("lang"), col("source"), (col("n_chars") + 2L).as("n_chars")))
    graft.sinks.Sinks.publishDelta(v2, basePath, "doc_id", nShards = 8,
      retainPrevious = true)
    val versions = graft.sinks.Sinks.listShardVersions(s, basePath)
    require(versions.size == 1,
      s"q95: expected exactly one retired base generation, got $versions")
    (basePath, versions.head, curatedPath)
  }
  private[graft] def q95Door(s: SparkSession, basePath: String,
                             stamp: String, curatedPath: String): DataFrame = {
    graft.apps.CurationRefresh.run(s, basePath, stamp,
      curatedPath, "doc_id", q95Gate)
    s.read.parquet(s"$curatedPath/data")
      .select("doc_id", "text", "lang", "source", "n_chars")
  }
  val q95: Q = (s, dir) => {
    val (basePath, stamp, curatedPath) = q95Fixture(s, dir)
    q95Door(s, basePath, stamp, curatedPath)
  }
  val q95Sql: String =
    """WITH v2 AS (
      |  SELECT doc_id, text, lang, source,
      |         CASE WHEN doc_id % 7 = 0 THEN n_chars + 1
      |              ELSE n_chars END AS n_chars
      |  FROM documents WHERE doc_id % 19 <> 0
      |  UNION ALL
      |  SELECT doc_id + 3000000, text, lang, source, n_chars + 2
      |  FROM documents WHERE doc_id % 29 = 0
      |)
      |SELECT doc_id, text, lang, source, n_chars FROM v2
      |WHERE n_chars % 3 <> 0 AND lang IS NOT NULL""".stripMargin

  /** q96 — BLOOM-PRUNED POINT LOOKUP under a VALUE oracle (content
    * addressing on a published corpus): publish documents
    * hash-sharded WITH a normalized-text fingerprint column and
    * per-shard bloom stats on it, then answer "fetch the doc(s) with
    * this exact fingerprint" through
    * [[graft.sinks.Sinks.readShardsPoint]] — which probes one bloom
    * per SHARD at planning time and opens only candidates. On a
    * hash-sharded corpus min/max zones can never prune a point
    * predicate (every value range spans every shard); the bloom is
    * the stat that can. The oracle replays the same fingerprint
    * lookup over the base table, so the hash compare proves one-sided
    * pruning lost nothing; BloomZoneSpec measures the shards actually
    * opened (1 candidate of 8 here). */
  val q96: Q = (s, dir) => {
    val root = java.nio.file.Files.createTempDirectory("graft_q96_").toString
    val t = s"$root/corpus"
    val docs = Tables(s, dir).documents
      .withColumn("fp", graft.functions.Text.fingerprint(col("text")))
    graft.sinks.Sinks.writeShards(docs, t, "doc_id", nShards = 8,
      bloomCols = Seq("fp"))
    // the needle: fingerprint of a known doc (bounded 1-row collect —
    // the caller of a content-addressed lookup holds the key)
    val needle = docs.filter(col("doc_id") === 42L)
      .select(col("fp")).collect().head.getString(0)
    graft.sinks.Sinks.readShardsPoint(s, t, "fp", needle)
      .select("doc_id", "text", "lang", "source", "n_chars", "fp")
  }
  val q96Sql: String =
    """WITH f AS (
      |  SELECT doc_id, text, lang, source, n_chars,
      |         md5(regexp_replace(regexp_replace(lower(text),
      |           '[.,!?;:]', '', 'g'), ' +', ' ', 'g')) AS fp
      |  FROM documents
      |)
      |SELECT doc_id, text, lang, source, n_chars, fp FROM f
      |WHERE fp = (SELECT fp FROM f WHERE doc_id = 42)""".stripMargin

  /** q97 — Z-ORDER clustered layout, pruned reads on BOTH dimensions.
    *
    * Publishes events z-ordered on (user_id, ts_sec) — the
    * multi-column clustering door ([[graft.storage.ZOrder]], the
    * OPTIMIZE ZORDER analog) — then answers a user-range aggregate AND
    * a time-range aggregate from the SAME layout, each via zone-map
    * shard pruning on its own dimension. One-dimensional clustering
    * picks which of those two queries gets pruning; the z-curve gives
    * ≈S·√f shard reads to both. Value-exact: pruning is one-sided
    * (superset of shards) and survivors are row-filtered, so the
    * result equals the plain filters the oracle runs. */
  val q97: Q = (s, dir) => {
    val root = java.nio.file.Files.createTempDirectory("graft_q97_").toString
    val t = s"$root/events_z"
    def cents(c: Column): Column = round(c * 100).cast("long")
    // events.ts is TIMESTAMP_NTZ (nanos parquet → converted); NTZ has
    // no direct long cast — hop through session-TZ timestamp (UTC)
    val ev = Tables(s, dir).events
      .withColumn("ts_sec", col("ts").cast("timestamp").cast("long"))
    graft.storage.ZOrder.publish(ev, t, "event_id",
      Seq("user_id", "ts_sec"), nShards = 16, bitsPerDim = 8)
    // 2024-01-10 .. 2024-01-13 UTC (a ~tenth of the corpus month) and
    // a fixed 20-user band — both windows populated at every SF
    val byUser = graft.sinks.Sinks
      .readShardsBetween(s, t, "user_id", 10L, 29L)
      .agg(count(lit(1)).as("cnt"), sum(cents(col("value"))).as("cents"))
      .select(lit("by_user").as("dim"), col("cnt"), col("cents"))
    val byTime = graft.sinks.Sinks
      .readShardsBetween(s, t, "ts_sec", 1704844800L, 1705103999L)
      .agg(count(lit(1)).as("cnt"), sum(cents(col("value"))).as("cents"))
      .select(lit("by_time").as("dim"), col("cnt"), col("cents"))
    byUser.unionAll(byTime)
  }
  val q97Sql: String =
    """SELECT 'by_user' AS dim, COUNT(*) AS cnt,
      |       CAST(SUM(CAST(round(value*100) AS BIGINT)) AS BIGINT) AS cents
      |FROM events WHERE user_id BETWEEN 10 AND 29
      |UNION ALL
      |SELECT 'by_time' AS dim, COUNT(*) AS cnt,
      |       CAST(SUM(CAST(round(value*100) AS BIGINT)) AS BIGINT) AS cents
      |FROM events
      |WHERE CAST(floor(epoch(ts)) AS BIGINT) BETWEEN 1704844800 AND 1705103999""".stripMargin

  /** q98 — METADATA-ONLY SUM under a VALUE oracle
    * ([[graft.plans.ManifestAggregates]] `zsum_*`): events published
    * with an integral `cents` revenue column zone-mapped, then the
    * corpus-wide `SUM(cents)` / `COUNT(*)` / `COUNT(cents)` /
    * `MIN`/`MAX(user_id)` totals — plus `MIN`/`MAX(event_id)` over the
    * UNDECLARED identity column, answered by the min_id/max_id stats
    * the `spec_id` stamp names — all from the one-row-per-shard
    * manifest, zero data files opened. Long addition is associative
    * even under wrap, so Σ of per-shard sums is bit-identical to the
    * data scan's Sum (the reason the publisher records zsum only for
    * integral zone columns); the oracle recomputes every total from
    * the raw table, proving it. At 100 TB: the daily "total revenue,
    * row count, id range" dashboard query at manifest cost — the
    * Iceberg metadata-only aggregate shape extended from COUNT/MIN/MAX
    * to exact SUM. Publish cached per (session, sf): the bench
    * measures the metadata READ. */
  private val q98Published = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession, (String, String)]())

  def q98Publish(s: SparkSession, dir: String): String = {
    val root = java.nio.file.Files.createTempDirectory("graft_q98_").toString
    val pub = s"$root/pub"
    val ev = Tables(s, dir).events
      .select(col("event_id"), col("user_id"),
        round(col("value") * 100).cast("long").as("cents"))
    graft.sinks.Sinks.writeShards(ev, pub, "event_id", nShards = 16,
      zoneCols = Seq("cents", "user_id"))
    q98Published.put(s, (dir, pub))
    pub
  }

  val q98: Q = (s, dir) => {
    val cached = q98Published.get(s)
    val pub =
      if (cached != null && cached._1 == dir &&
          java.nio.file.Files.exists(java.nio.file.Paths.get(cached._2)))
        cached._2
      else q98Publish(s, dir)
    s.read.parquet(s"$pub/data")
      .agg(sum(col("cents")).as("total_cents"),
        count(lit(1)).as("n_events"),
        count(col("cents")).as("n_vals"),
        min(col("user_id")).as("first_user"),
        max(col("user_id")).as("last_user"),
        // event_id is NOT zone-mapped: these ride the min_id/max_id
        // stats via the spec_id stamp (the id-column rewrite arm)
        min(col("event_id")).as("first_event"),
        max(col("event_id")).as("last_event"))
  }
  val q98Sql: String =
    """SELECT CAST(SUM(CAST(round(value*100) AS BIGINT)) AS BIGINT) AS total_cents,
      |       COUNT(*) AS n_events,
      |       COUNT(round(value*100)) AS n_vals,
      |       MIN(user_id) AS first_user, MAX(user_id) AS last_user,
      |       MIN(event_id) AS first_event, MAX(event_id) AS last_event
      |FROM events""".stripMargin

  /** q99 — PARTITION-ALIGNED FILTERED METADATA AGGREGATES under a
    * VALUE oracle ([[graft.plans.ManifestAggregates]] filtered
    * rewrite, the Iceberg residual-planning shape): the whole
    * dashboard aggregate family — `COUNT(*)`, exact `SUM(cents)`,
    * `MIN`/`MAX(o_orderdate)`, `COUNT(o_orderdate)`, and
    * `MIN`/`MAX(o_orderkey)` (the undeclared identity column, via the
    * min_id/max_id stats) — with a date-range filter over the q90
    * year-clustered layout, split shard-by-shard: years fully inside
    * the range answer from the manifest row alone (provably-full:
    * zmin/zmax inside the bounds, znull = 0), the straddling boundary
    * year is scanned and row-filtered with the ORIGINAL aggregates,
    * and the two halves re-combine with each aggregate's own merge
    * (Sum for the additive stats, Min/Max for the order stats).
    * Two spans: a straddling range (manifest + one-shard scan) and an
    * aligned one (zero data files). The oracle replays both filters
    * over the raw table, so the hash compare proves the split loses
    * nothing — including the bit-exact integral SUM. At 100 TB:
    * "rows + revenue + date range + id range in this window" opens
    * only the boundary shards instead of the corpus. */
  val q99: Q = (s, dir) => {
    val cached = q90Published.get(s)
    val pub =
      if (cached != null && cached._1 == dir &&
          java.nio.file.Files.exists(java.nio.file.Paths.get(cached._2)))
        cached._2
      else q90Publish(s, dir)
    def span(name: String, cond: Column): DataFrame =
      s.read.parquet(s"$pub/data").filter(cond)
        .agg(count(lit(1)).as("cnt"),
          sum(col("cents")).as("cents"),
          min(col("o_orderdate")).as("first_day"),
          max(col("o_orderdate")).as("last_day"),
          count(col("o_orderdate")).as("n_dated"),
          min(col("o_orderkey")).as("first_key"),
          max(col("o_orderkey")).as("last_key"))
        .select(lit(name).as("span"), col("cnt"), col("cents"),
          col("first_day"), col("last_day"), col("n_dated"),
          col("first_key"), col("last_key"))
    span("straddling",
      col("o_orderdate") >= lit("1996-03-15 00:00:00").cast("timestamp") &&
        col("o_orderdate") <= lit("1998-12-31 23:59:59").cast("timestamp"))
      .unionAll(span("aligned",
        col("o_orderdate") >= lit("1997-01-01 00:00:00").cast("timestamp")))
  }
  private val q99SelectSql: String =
    """COUNT(*) AS cnt,
      |       CAST(SUM(CAST(round(o_totalprice*100) AS BIGINT)) AS BIGINT) AS cents,
      |       MIN(o_orderdate) AS first_day, MAX(o_orderdate) AS last_day,
      |       COUNT(o_orderdate) AS n_dated,
      |       MIN(o_orderkey) AS first_key, MAX(o_orderkey) AS last_key""".stripMargin
  val q99Sql: String =
    s"""SELECT 'straddling' AS span, $q99SelectSql FROM orders
      |WHERE o_orderdate BETWEEN TIMESTAMP '1996-03-15 00:00:00'
      |                      AND TIMESTAMP '1998-12-31 23:59:59'
      |UNION ALL
      |SELECT 'aligned' AS span, $q99SelectSql FROM orders
      |WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'""".stripMargin

  /** q100 — SHARD-PRUNED TOP-K under a VALUE oracle
    * ([[graft.plans.TopKShardPruning]]): the latest 25 orders by
    * `ORDER BY o_orderdate DESC, o_orderkey LIMIT 25` over the q90
    * year-clustered layout. The manifest's per-shard date ranges prove
    * ≥ 25 rows live in the newest year, so every other shard is
    * dropped at planning time — the Sort/Limit run over one shard's
    * files. The `o_orderkey` tiebreak makes the row SET deterministic,
    * so the oracle's hash compare proves pruning lost nothing. A
    * second FILTERED span ("latest as of mid-1997") proves the θ
    * threshold composes with the filter classification: 1995/1996 are
    * provably full under the cutoff and 1996's guaranteed rows set a θ
    * that rules 1995 out, while the straddling 1997 shard is scanned —
    * a cut no filter-only pruning could make. At 100 TB this is the
    * "latest N events [in this window]" dashboard query: boundary
    * shards opened instead of a corpus sort. */
  val q100: Q = (s, dir) => {
    val cached = q90Published.get(s)
    val pub =
      if (cached != null && cached._1 == dir &&
          java.nio.file.Files.exists(java.nio.file.Paths.get(cached._2)))
        cached._2
      else q90Publish(s, dir)
    def span(name: String, df: DataFrame => DataFrame): DataFrame =
      df(s.read.parquet(s"$pub/data"))
        .orderBy(col("o_orderdate").desc, col("o_orderkey"))
        .limit(25)
        .select(lit(name).as("span"), col("o_orderkey"),
          col("o_orderdate"), col("o_totalprice"))
    span("latest", identity)
      .unionAll(span("asof_mid97", _.filter(col("o_orderdate") <=
        lit("1997-06-30 23:59:59").cast("timestamp"))))
  }
  private val q100ColsSql =
    "o_orderkey, o_orderdate, o_totalprice FROM orders"
  val q100Sql: String =
    s"""SELECT * FROM (SELECT 'latest' AS span, $q100ColsSql
      |ORDER BY o_orderdate DESC, o_orderkey LIMIT 25)
      |UNION ALL
      |SELECT * FROM (SELECT 'asof_mid97' AS span, $q100ColsSql
      |WHERE o_orderdate <= TIMESTAMP '1997-06-30 23:59:59'
      |ORDER BY o_orderdate DESC, o_orderkey LIMIT 25)""".stripMargin

  /** q101 — GROUPED METADATA AGGREGATES under a VALUE oracle
    * ([[graft.plans.ManifestAggregates]] grouped door, the Iceberg
    * partition-stats shape): documents clustered one-language-per-shard
    * (every shard provably single-group: zmin_lang == zmax_lang,
    * znull = 0), then the corpus census — docs, total/min/max chars,
    * doc-id range PER LANGUAGE — answered entirely from the
    * one-row-per-shard manifest by an ordinary grouped Aggregate over
    * it. The oracle recomputes the census from the raw table, proving
    * the rollup exact (including the bit-exact integral SUM). At
    * 100 TB: "how big is each language's slice" — the first question
    * asked of any multilingual corpus — at metadata cost, however many
    * shards each language spans. Publish cached per (session, sf): the
    * bench measures the metadata read. */
  private val q101Published = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession, (String, String)]())

  def q101Publish(s: SparkSession, dir: String): String = {
    val root = java.nio.file.Files.createTempDirectory("graft_q101_").toString
    val pub = s"$root/pub"
    val d = Tables(s, dir).documents
      .select(col("doc_id"), col("lang"), col("n_chars"))
    // languages are a bounded vocabulary at any corpus size: a tiny
    // distinct dim ranked into dense shard ids, broadcast back
    val langs = d.select("lang").distinct()
      .withColumn("bucket", (row_number().over(
        org.apache.spark.sql.expressions.Window.orderBy("lang")) - 1)
        .cast("long"))
    val nLangs = langs.count().toInt
    val clustered = d.join(broadcast(langs), Seq("lang"))
    graft.sinks.Sinks.writeShards(clustered, pub, "doc_id",
      nShards = nLangs, zoneCols = Seq("lang", "n_chars"),
      shardCol = Some("bucket"))
    q101Published.put(s, (dir, pub))
    pub
  }

  val q101: Q = (s, dir) => {
    val cached = q101Published.get(s)
    val pub =
      if (cached != null && cached._1 == dir &&
          java.nio.file.Files.exists(java.nio.file.Paths.get(cached._2)))
        cached._2
      else q101Publish(s, dir)
    s.read.parquet(s"$pub/data").groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("total_chars"),
        min(col("n_chars")).as("min_chars"),
        max(col("n_chars")).as("max_chars"),
        min(col("doc_id")).as("first_doc"),
        max(col("doc_id")).as("last_doc"))
  }
  val q101Sql: String =
    """SELECT lang, COUNT(*) AS n_docs,
      |       CAST(SUM(n_chars) AS BIGINT) AS total_chars,
      |       MIN(n_chars) AS min_chars, MAX(n_chars) AS max_chars,
      |       MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
      |FROM documents GROUP BY lang""".stripMargin

  /** q102 — GROUPED + FILTERED METADATA AGGREGATES under a VALUE
    * oracle ([[graft.plans.ManifestAggregates]] composition door):
    * the per-YEAR order census — rows, revenue cents, date range, key
    * range — restricted to a date window that STRADDLES a year
    * boundary, over the q90 year-clustered layout. `oyear` is
    * constant per shard (shards are year buckets; zmin == zmax proves
    * it), so years fully inside the window answer per-group from the
    * manifest rows alone while the one boundary year is scanned,
    * grouped, and unioned in — the filtered door's full/partial split
    * composed with the grouped door's partition-stats rollup. The
    * oracle replays filter + GROUP BY year over the raw table. At
    * 100 TB: "monthly revenue by region for the trailing window" at
    * boundary-shard cost — the query every BI dashboard runs hourly. */
  val q102: Q = (s, dir) => {
    val cached = q90Published.get(s)
    val pub =
      if (cached != null && cached._1 == dir &&
          java.nio.file.Files.exists(java.nio.file.Paths.get(cached._2)))
        cached._2
      else q90Publish(s, dir)
    s.read.parquet(s"$pub/data")
      .filter(col("o_orderdate") >= lit("1996-03-15 00:00:00").cast("timestamp") &&
        col("o_orderdate") <= lit("1998-12-31 23:59:59").cast("timestamp"))
      .groupBy("oyear")
      .agg(count(lit(1)).as("cnt"),
        sum(col("cents")).as("cents"),
        min(col("o_orderdate")).as("first_day"),
        max(col("o_orderdate")).as("last_day"),
        min(col("o_orderkey")).as("first_key"),
        max(col("o_orderkey")).as("last_key"))
  }
  val q102Sql: String =
    """SELECT CAST(year(o_orderdate) AS INT) AS oyear, COUNT(*) AS cnt,
      |       CAST(SUM(CAST(round(o_totalprice*100) AS BIGINT)) AS BIGINT) AS cents,
      |       MIN(o_orderdate) AS first_day, MAX(o_orderdate) AS last_day,
      |       MIN(o_orderkey) AS first_key, MAX(o_orderkey) AS last_key
      |FROM orders
      |WHERE o_orderdate BETWEEN TIMESTAMP '1996-03-15 00:00:00'
      |                      AND TIMESTAMP '1998-12-31 23:59:59'
      |GROUP BY 1""".stripMargin

  /** q103 — STORAGE-INTEGRATED vector search (rows-only: the k-means
    * cells have no SQL oracle; QUALITY.json floors the recall vs the
    * exact brute-force door): publish the embedding corpus as a
    * cell-CLUSTERED shard layout ([[graft.operators.VectorIndex]] —
    * IVF cells as zone-mapped storage), then answer a 10-query top-5
    * batch by routing each query to its 6 nearest cells and opening
    * ONLY the shards whose zone range intersects the probe set. q23's
    * IVF prunes scored rows but still reads the whole corpus;
    * this door prunes the READ — at 100 TB the difference IS the
    * query cost. Scores inside probed cells are bit-identical to
    * brute force (VectorIndexSpec pins it). */
  private val q103Published = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession, (String, String)]())

  /** Train + publish the cell-clustered vector index for `dir` (the
    * q76/q57 split: the index build amortizes over every search, so
    * `graft.Bench` times it as its own `q103_write_sec` and the
    * catalog's q103 number is the recurring SEARCH alone). */
  def q103Publish(s: SparkSession, dir: String): String = {
    val root = java.nio.file.Files.createTempDirectory("graft_q103_").toString
    val t = s"$root/idx"
    graft.operators.VectorIndex.publish(Tables(s, dir).embeddings, t,
      "vec_id", "embedding", nCells = 16, nShards = 8)
    q103Published.put(s, (dir, t))
    t
  }

  val q103: Q = (s, dir) => {
    val cached = q103Published.get(s)
    val t =
      if (cached != null && cached._1 == dir &&
          java.nio.file.Files.exists(java.nio.file.Paths.get(cached._2)))
        cached._2
      else q103Publish(s, dir)
    graft.operators.VectorIndex.topK(s, t,
        Tables(s, dir).embeddings.filter(col("vec_id") < 10),
        "vec_id", "embedding", k = 5, nProbe = 8)
      .withColumnRenamed("rank", "rnk")
  }

  /** q104 — METADATA-ONLY approximate COUNT(DISTINCT) (rows-only: the
    * HLL estimate is implementation-defined; QUALITY.json floors the
    * relative error vs the exact count): publish orders with a
    * distinct sketch on o_custkey (`sketchCols` — ~1.6 KB per shard),
    * then answer "how many distinct customers ever ordered" from the
    * manifest alone ([[graft.sinks.Sinks.approxDistinctShards]] —
    * lossless HLL union over one row per shard, zero data files
    * opened). The q89 metadata-agg family covers SUM/MIN/MAX/COUNT
    * exactly; DISTINCT is the aggregate that CANNOT be exact from
    * per-shard scalars, so it gets the sketch — at 100 TB this is the
    * difference between a manifest read and a corpus-wide exchange. */
  val q104: Q = (s, dir) => {
    val root = java.nio.file.Files.createTempDirectory("graft_q104_").toString
    val t = s"$root/orders"
    val o = Tables(s, dir).orders
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
    graft.sinks.Sinks.writeShards(o, t, "o_orderkey", nShards = 16,
      sketchCols = Seq("o_custkey"))
    graft.sinks.Sinks.approxDistinctShards(s, t, "o_custkey")
  }

  /** q106 — METADATA-ONLY approximate QUANTILES (rows-only: KLL
    * compaction flips random coins, so the values are floored in
    * QUALITY.json — max rank error ≤ 5% vs the exact distribution —
    * not hash-compared): publish documents with a KLL quantile sketch
    * on `n_chars` (`quantileCols`), then answer "p50/p90/p99 document
    * length of this corpus" from [[graft.sinks.Sinks
    * .approxQuantilesShards]] — a one-row-per-shard manifest read.
    * Quantiles are the one DISTRIBUTION question the exact metadata
    * aggregates (q89/q98–q102: COUNT/SUM/MIN/MAX) cannot answer: at
    * 100 TB "what's the p95 doc length" is otherwise a corpus-wide
    * sort or a full TDigest pass. KLL merge preserves the rank-error
    * bound across any merge tree, so the shard-sketch union is as
    * accurate as one sketch over the whole corpus. */
  /** q106's fixture = the sketch-declaring publish; the door = the
    * manifest-only quantile read. The at-scale story is the door: one
    * row per shard, ~flat across decades. */
  private[graft] def q106Fixture(s: SparkSession, dir: String): String = {
    val root = java.nio.file.Files.createTempDirectory("graft_q106_").toString
    val t = s"$root/docs"
    val d = Tables(s, dir).documents
      .select(col("doc_id"), col("lang"), col("n_chars"))
    graft.sinks.Sinks.writeShards(d, t, "doc_id", nShards = 16,
      quantileCols = Seq("n_chars"))
    t
  }
  private[graft] def q106Door(s: SparkSession, t: String): DataFrame =
    graft.sinks.Sinks.approxQuantilesShards(s, t, "n_chars",
      Seq(0.5, 0.9, 0.99))
  val q106: Q = (s, dir) => q106Door(s, q106Fixture(s, dir))

  /** q107 — BPE tokenizer FITTING (rows-only: no SQL engine can
    * replay a merge-table fit, so correctness lives in BpeSpec's
    * pinned textbook merges + determinism and the QUALITY compression
    * floor): learn 40 merges from the documents corpus — ONE
    * distributed word count, driver-side merge learning over the
    * bounded frequency head, the corpus never collected — then
    * tokenize the corpus with the learned table
    * ([[graft.expressions.BpeEncode]], one shuffle-free projection)
    * and emit per-doc token accounting. The fit half of the text
    * pipeline q48 only counts for. */
  /** q107's "fixture" = the FIT (one distributed word count + driver
    * merge learning — amortized in production over every encode run);
    * the door = the encode projection + token accounting. The
    * at-scale story is the door: a shuffle-free scan-speed pass. */
  private[graft] def q107Fixture(s: SparkSession,
                                 dir: String): Seq[(String, String)] =
    graft.operators.Bpe.fit(
      Tables(s, dir).documents.select(col("doc_id"), col("text")),
      "text", nMerges = 40, maxVocab = 65536)
  private[graft] def q107Door(s: SparkSession, dir: String,
                              merges: Seq[(String, String)]): DataFrame = {
    val d = Tables(s, dir).documents.select(col("doc_id"), col("text"))
    d.select(col("doc_id"),
        graft.operators.Bpe.encode(col("text"), merges).as("toks"),
        length(regexp_replace(lower(col("text")), "\\s+", ""))
          .as("n_sym_chars"))
      .select(col("doc_id"), size(col("toks")).as("n_tokens"),
        col("n_sym_chars"))
  }
  val q107: Q = (s, dir) => q107Door(s, dir, q107Fixture(s, dir))

  /** q108 — CJK-aware text analysis under a VALUE oracle: the
    * whitespace word convention degenerates on scripts that write
    * without spaces (a CJK clause is one "word"), so the text stack's
    * CJK char-level fallback ([[Text.cjkPreSplit]] — one word per
    * ideograph, identity on Latin) must produce tokens/segments BOTH
    * engines agree on. The fixture is deterministic mixed-script text
    * built by both engines from the documents table (translate the
    * first 40 chars' letters to 26 CJK ideographs, keep digits/
    * punctuation/whitespace — the q80/q82 planted-fixture pattern);
    * the oracle replays the exact pre-split regex as an RE2 class.
    * Token count, distinct-token count, segment count and the first
    * 4-word segment are hash-compared — the segmentation itself, not
    * a summary of it. The fixture prefix plants SUPPLEMENTARY-plane
    * ideographs (𠀋 U+2000B Ext B, 𪜀 U+2A700 Ext C — surrogate
    * pairs in the JVM) glued to Latin and digits: if either engine's
    * pre-split broke the pair or missed the plane, seg1 would carry
    * broken halves or a glued clause and the hash would diverge. */
  val q108: Q = (s, dir) => {
    val fixture = concat(lit("cjk 𠀋x𪜀9 "),
      translate(lower(substring(col("text"), 1, 40)),
        "abcdefghijklmnopqrstuvwxyz",
        "一二三四五六七八九十" +
          "百千万円年月日時分本" +
          "人子女山川田"))
    val src = Tables(s, dir).documents.filter(col("doc_id") < 200)
      .select(col("doc_id"), fixture.as("t"))
    val toks = Text.tokensCjk(col("t"))
    val segs = Text.segmentsCjk(col("t"), 4)
    src.select(col("doc_id"),
      size(toks).cast("long").as("n_tokens"),
      size(array_distinct(toks)).cast("long").as("n_distinct"),
      size(segs).cast("long").as("n_segments"),
      element_at(segs, 1).as("seg1"))
  }
  val q108Sql: String =
    """WITH f AS (
      |  SELECT doc_id,
      |    'cjk 𠀋x𪜀9 ' || translate(lower(substr(text, 1, 40)),
      |      'abcdefghijklmnopqrstuvwxyz',
      |      '一二三四五六七八九十百千万円年月日時分本人子女山川田') AS t
      |  FROM documents WHERE doc_id < 200
      |), p AS (
      |  SELECT doc_id,
      |    regexp_replace(t,
      |      '([\x{3040}-\x{30FF}\x{3400}-\x{4DBF}\x{4E00}-\x{9FFF}\x{F900}-\x{FAFF}\x{20000}-\x{3FFFF}])',
      |      ' \1 ', 'g') AS pt
      |  FROM f
      |), w AS (
      |  SELECT doc_id, regexp_split_to_array(trim(pt), '\s+') AS ws FROM p
      |)
      |SELECT doc_id,
      |  CAST(len(ws) AS BIGINT) AS n_tokens,
      |  CAST(len(list_distinct(ws)) AS BIGINT) AS n_distinct,
      |  CAST(len(ws) // 4 + (CASE WHEN len(ws) % 4 = 0 THEN 0 ELSE 1 END) AS BIGINT) AS n_segments,
      |  array_to_string(ws[1:4], ' ') AS seg1
      |FROM w""".stripMargin

  /** q109 — MANIFEST DISASTER RECOVERY under a VALUE oracle: publish
    * the documents corpus as a bucket-clustered layout with zone +
    * sum stats, DELETE the manifest outright (the metadata-loss
    * disaster no 100 TB deployment is allowed to treat as fatal),
    * then [[graft.sinks.Sinks.rebuildManifest]] reconstructs it from
    * the data bytes alone — and the RESULT IS THE REBUILT MANIFEST
    * ITSELF: the oracle recomputes every deterministic per-shard stat
    * (row counts, id ranges, zone min/max, null counts, integral
    * sums) straight from the base table under the same explicit
    * assignment, so the hash compare proves the recovered metadata
    * equals what a from-scratch publish would have written.
    * StatsRecoverySpec pins what the rows can't show: the declared
    * spec is verified against the bytes (wrong nShards/idCol refuse
    * loudly), data files hard-link forward unmodified, and the blob
    * doors (bloom/HLL/KLL) answer again post-rebuild. */
  /** q109's fixture = the publish + the manifest deletion; the door =
    * the rebuild (one stats scan, zero data writes) + the manifest
    * read-back. The at-scale story is the door: recovery costs one
    * corpus READ — a from-scratch republish would pay the read PLUS
    * rewriting 100 TB. */
  private[graft] def q109Fixture(s: SparkSession, dir: String): String = {
    val root = java.nio.file.Files.createTempDirectory("graft_q109_").toString
    val t = s"$root/corpus"
    val docs = Tables(s, dir).documents
      .withColumn("bucket", pmod(col("doc_id"), lit(8L)))
    graft.sinks.Sinks.writeShards(docs, t, "doc_id", nShards = 8,
      shardCol = Some("bucket"), zoneCols = Seq("n_chars", "lang"))
    // the disaster: metadata gone, data intact
    val fs = new org.apache.hadoop.fs.Path(t)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(s"$t/manifest"), true)
    t
  }
  private[graft] def q109Door(s: SparkSession, t: String): DataFrame = {
    graft.sinks.Sinks.rebuildManifest(s, t, "doc_id", nShards = 8,
      shardCol = Some("bucket"), zoneCols = Seq("n_chars", "lang"))
    graft.sinks.Sinks.shardStats(s, t)
      .select(col("shard"), col("n_rows"),
        col("min_id"), col("max_id"),
        col("zmin_n_chars").as("min_chars"),
        col("zmax_n_chars").as("max_chars"),
        col("zsum_n_chars").as("sum_chars"),
        col("znull_n_chars").as("null_chars"),
        col("zmin_lang").as("min_lang"),
        col("zmax_lang").as("max_lang"))
  }
  val q109: Q = (s, dir) => q109Door(s, q109Fixture(s, dir))
  val q109Sql: String =
    """SELECT doc_id % 8 AS shard, count(*) AS n_rows,
      |       min(doc_id) AS min_id, max(doc_id) AS max_id,
      |       min(n_chars) AS min_chars, max(n_chars) AS max_chars,
      |       CAST(sum(n_chars) AS BIGINT) AS sum_chars,
      |       CAST(sum(CASE WHEN n_chars IS NULL THEN 1 ELSE 0 END) AS BIGINT)
      |         AS null_chars,
      |       min(lang) AS min_lang, max(lang) AS max_lang
      |FROM documents
      |GROUP BY 1""".stripMargin

  /** q110 — STAT-FAMILY EVOLUTION + HEALING under a VALUE oracle:
    * publish the documents corpus with a single zone declaration,
    * then [[graft.sinks.Sinks.declareShardStats]] widens the layout
    * to lang/source zones WITHOUT REWRITING A DATA BYTE (the Iceberg
    * "compute column statistics" shape — until this door, adding a
    * stat to a published 100 TB corpus meant a full merge-rewrite).
    * The result is the evolved manifest's deterministic stats; the
    * oracle recomputes them from the base table under the same
    * assignment, proving the one-read stats pass wrote exactly what
    * a from-scratch publish with the wider declaration would have.
    * StatsRecoverySpec pins the rest: files hard-link forward, NULL
    * legacy stats heal shard-pruned, idempotent calls publish no
    * generation. */
  /** q110's fixture = the narrow publish; the door = the stat
    * evolution (one corpus read, manifest-only write) + manifest
    * read-back. At scale the door's alternative is a corpus REWRITE —
    * this is read-cost vs write-cost on 100 TB. */
  private[graft] def q110Fixture(s: SparkSession, dir: String): String = {
    val root = java.nio.file.Files.createTempDirectory("graft_q110_").toString
    val t = s"$root/corpus"
    val docs = Tables(s, dir).documents
      .withColumn("bucket", pmod(col("doc_id"), lit(8L)))
    graft.sinks.Sinks.writeShards(docs, t, "doc_id", nShards = 8,
      shardCol = Some("bucket"), zoneCols = Seq("n_chars"))
    t
  }
  private[graft] def q110Door(s: SparkSession, t: String): DataFrame = {
    graft.sinks.Sinks.declareShardStats(s, t,
      zoneCols = Seq("lang", "source"))
    graft.sinks.Sinks.shardStats(s, t)
      .select(col("shard"), col("n_rows"),
        col("zmin_n_chars").as("min_chars"),
        col("zmax_n_chars").as("max_chars"),
        col("zmin_lang").as("min_lang"),
        col("zmax_lang").as("max_lang"),
        col("znull_lang").as("null_lang"),
        col("zmin_source").as("min_source"),
        col("zmax_source").as("max_source"))
  }
  val q110: Q = (s, dir) => q110Door(s, q110Fixture(s, dir))
  val q110Sql: String =
    """SELECT doc_id % 8 AS shard, count(*) AS n_rows,
      |       min(n_chars) AS min_chars, max(n_chars) AS max_chars,
      |       min(lang) AS min_lang, max(lang) AS max_lang,
      |       CAST(sum(CASE WHEN lang IS NULL THEN 1 ELSE 0 END) AS BIGINT)
      |         AS null_lang,
      |       min(source) AS min_source, max(source) AS max_source
      |FROM documents
      |GROUP BY 1""".stripMargin

  /** q111 — cross-document verbatim-span EXCISION under a VALUE
    * oracle ([[graft.operators.Dedup.exciseSharedSpans]] — the
    * REMOVAL half of q63's detection, Lee et al. 2022): every word
    * position covered by an 8-gram shared verbatim by ≥3 documents
    * is cut, each document's unique remainder kept. The fixture
    * plants a 12-word template suffix on every 7th document (the
    * q80/q108 planted-fixture pattern — both engines build it), so
    * the door must excise exactly the planted template (plus any
    * naturally repeated spans — the oracle replays those too, and
    * boundary grams straddling unique text stay, trimming nothing
    * they shouldn't). Hash-free by design: grams group by their own
    * text, so the whole pipeline — token split, gram window, df
    * threshold, covered-position cut — is replayed exactly by
    * DuckDB and the clean TEXT itself is hash-compared, not a
    * summary of it. */
  val q111: Q = (s, dir) => {
    val planted = when(col("doc_id") % 7 === 0,
        concat(coalesce(col("text"), lit("")),
          lit(" lorem template header alpha beta " +
            "gamma delta epsilon zeta eta theta iota")))
      .otherwise(col("text"))
    val src = Tables(s, dir).documents
      .select(col("doc_id"), planted.as("text"))
    graft.operators.Dedup.exciseSharedSpans(src, "text", "doc_id",
        k = 8, minDf = 3L)
      .withColumnRenamed("id", "doc_id")
  }
  val q111Sql: String =
    """WITH f AS (
      |  SELECT doc_id,
      |    CASE WHEN doc_id % 7 = 0 THEN coalesce(text, '') ||
      |      ' lorem template header alpha beta gamma delta epsilon zeta eta theta iota'
      |    ELSE coalesce(text, '') END AS t
      |  FROM documents
      |), tk AS (
      |  SELECT doc_id,
      |    CASE WHEN trim(regexp_replace(t, '\s+', ' ', 'g')) = ''
      |         THEN CAST([] AS VARCHAR[])
      |         ELSE regexp_split_to_array(
      |           trim(regexp_replace(t, '\s+', ' ', 'g')), ' ') END AS w
      |  FROM f
      |), g AS (
      |  SELECT doc_id, u.i, array_to_string(w[u.i:u.i+7], ' ') AS gram
      |  FROM tk, unnest(range(1, greatest(len(w) - 6, 1))) AS u(i)
      |), hot AS (
      |  SELECT gram FROM g GROUP BY gram HAVING count(DISTINCT doc_id) >= 3
      |), st AS (
      |  SELECT doc_id, list(i) AS starts FROM g JOIN hot USING (gram)
      |  GROUP BY doc_id
      |), j AS (
      |  SELECT tk.doc_id, tk.w, coalesce(st.starts, []) AS ss
      |  FROM tk LEFT JOIN st USING (doc_id)
      |)
      |SELECT doc_id,
      |  coalesce(array_to_string(list_transform(
      |    list_filter(range(1, len(w) + 1),
      |      p -> len(list_filter(ss, s -> p >= s AND p <= s + 7)) = 0),
      |    p -> w[p]), ' '), '') AS clean_text,
      |  CAST(len(w) AS BIGINT) AS n_tokens,
      |  CAST(len(w) - len(list_filter(range(1, len(w) + 1),
      |    p -> len(list_filter(ss, s -> p >= s AND p <= s + 7)) = 0))
      |    AS BIGINT) AS n_removed
      |FROM j""".stripMargin

  /** q112 — DSIR importance weighting under a VALUE oracle
    * ([[graft.operators.Dsir.importanceWeights]], Xie et al. 2023):
    * score every document by how much more likely it is under the
    * English-target unigram model than under the raw multilingual
    * model — the principled domain-selection weight that replaces
    * source allowlists. Integer micro-nat arithmetic end to end (one
    * rounded log per VOCAB entry, integer sums per doc), so the
    * oracle replays the exact weights, not a tolerance band: DuckDB
    * rebuilds both models, the smoothed log-ratio table, the
    * normalizer, and the per-doc sum, and the hash compare is
    * bit-exact. English docs must rank high, other langs low — but
    * the oracle checks the WEIGHTS, which is stronger. */
  val q112: Q = (s, dir) => {
    val docs = Tables(s, dir).documents
    // the target is a predicate-picked subset, so both models ride
    // ONE explode+count pass (importanceWeightsWhen — DsirSpec pins
    // it weight-identical to the two-frame form)
    graft.operators.Dsir.importanceWeightsWhen(
      docs, col("lang") === "en", "text", "doc_id")
  }
  val q112Sql: String =
    """WITH tk AS (
      |  SELECT doc_id, lang,
      |    unnest(regexp_split_to_array(trim(text), '\s+')) AS w
      |  FROM documents
      |), cr AS (
      |  SELECT w, count(*) AS c_r FROM tk GROUP BY w
      |), ct AS (
      |  SELECT w, count(*) AS c_t FROM tk WHERE lang = 'en' GROUP BY w
      |), ratio AS (
      |  SELECT cr.w,
      |    CAST(round(ln((coalesce(ct.c_t, 0) + 1.0) / (cr.c_r + 1.0))
      |      * 1e6, 0) AS BIGINT) AS r_micro
      |  FROM cr LEFT JOIN ct USING (w)
      |), norm AS (
      |  SELECT CAST(round(ln(
      |      ((SELECT CAST(sum(c_r) AS DOUBLE) FROM cr)
      |        + (SELECT count(*) FROM cr)) /
      |      ((SELECT CAST(coalesce(sum(c_t), 0) AS DOUBLE) FROM ct)
      |        + (SELECT count(*) FROM cr))) * 1e6, 0) AS BIGINT)
      |    AS norm_micro
      |)
      |SELECT tk.doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
      |  CAST(sum(r.r_micro) + count(*) * (SELECT norm_micro FROM norm)
      |    AS BIGINT) AS weight_micro
      |FROM tk JOIN ratio r USING (w)
      |GROUP BY tk.doc_id""".stripMargin

  /** q116 — COMPOSED sampling doors under a VALUE oracle: the
    * canonical training-data tail `select → sample → split` in one
    * pipeline — quality-weighted down-sampling (q72's door, the q18
    * score as the keep probability) followed by the stratified
    * train/val/test split (q69's door), counted per (lang, split).
    * This is the composition the round-15 coin salting exists for:
    * with the pre-salt shared coin every survivor of the weight door
    * had coin < its weight, so val and test came out EMPTY — the
    * oracle replays BOTH salted coins and the hash compare proves the
    * split of the sampled corpus is the product law, row-exactly. */
  val q116: Q = (s, dir) => {
    val docs = Tables(s, dir).documents
    val scored = docs
      .withColumn("_mc", TextStats.counts(col("text")))
      .withColumn("q_score", TextStats.qualityScore(col("text"), col("_mc")))
    Sampling.assignSplit(
        Sampling.sampleByWeight(scored, "q_score", "doc_id"),
        "doc_id", q69Splits)
      .groupBy(col("lang"), col("split"))
      .agg(count(lit(1)).as("n_docs"))
  }
  val q116Sql: String = {
    val ts = q69Splits.scanLeft(0.0)(_ + _._2).tail
      .map(f => math.floor(f * 4294967296.0).toLong)
    s"""WITH s AS (
       |  SELECT doc_id, lang,
       |    round(0.5 * least(CAST(length(text) AS DOUBLE) / 400.0, 1.0)
       |        + 0.5 * least(CAST($stopSql AS DOUBLE) * 8.0 / greatest(CAST($wordsSql AS DOUBLE), 1.0), 1.0)
       |        - 0.25 * least(CAST($punctSql AS DOUBLE) * 4.0 / greatest(CAST(length(text) AS DOUBLE), 1.0), 1.0), 6) AS q_score,
       |    ${coinSql(Sampling.SaltWeight)} AS cw,
       |    ${coinSql(Sampling.SaltSplit)} AS cs
       |  FROM documents
       |), kept AS (
       |  SELECT lang,
       |    CASE WHEN cs < ${ts(0)} THEN '${q69Splits(0)._1}'
       |         WHEN cs < ${ts(1)} THEN '${q69Splits(1)._1}'
       |         ELSE '${q69Splits(2)._1}' END AS split
       |  FROM s
       |  WHERE CAST(cw AS DOUBLE) < least(greatest(q_score, 0.0), 1.0) * 4294967296.0
       |)
       |SELECT lang, split, COUNT(*) AS n_docs
       |FROM kept GROUP BY lang, split""".stripMargin
  }

  /** q117 — temperature rebalancing by UPSAMPLING under a VALUE
    * oracle ([[graft.operators.Sampling.mixByTemperatureUpsample]]):
    * the same flattened-mix target as q114 (counts ∝ n_d^α, α = 0.5)
    * but normalized to the LARGEST domain — the common language
    * passes through exactly once and rare languages REPLICATE toward
    * the flat mix (the direction the multilingual recipes train
    * with; q114's sibling throws data away instead). Deterministic
    * fractional replication: floor(rate) copies plus one more when
    * the SaltUpsample coin lands under the fraction — the oracle
    * replays the exact output MULTISET, copy indices and all. */
  val q117: Q = (s, dir) =>
    graft.operators.Sampling.mixByTemperatureUpsample(
      Tables(s, dir).documents
        .select(col("doc_id"), col("lang"), col("n_chars")),
      "lang", "doc_id", alpha = 0.5)
  val q117Sql: String =
    s"""WITH c AS (
      |  SELECT lang, count(*) AS nd FROM documents
      |  WHERE lang IS NOT NULL GROUP BY lang
      |), m AS (
      |  SELECT max(nd) AS nmax FROM c
      |), r AS (
      |  SELECT lang, round(pow(CAST(nmax AS DOUBLE) / nd, 0.5), 6)
      |    AS rate
      |  FROM c, m
      |), n AS (
      |  SELECT d.lang, d.doc_id, d.n_chars,
      |    CAST(floor(rate) AS BIGINT)
      |      + CASE WHEN CAST(${coinSql(Sampling.SaltUpsample, "d.doc_id")}
      |               AS DOUBLE)
      |             < (rate - floor(rate)) * 4294967296.0
      |        THEN 1 ELSE 0 END AS copies
      |  FROM documents d JOIN r USING (lang)
      |)
      |SELECT lang, doc_id, n_chars,
      |  unnest(range(0, copies)) AS copy_idx
      |FROM n WHERE copies > 0""".stripMargin

  /** q118 — deterministic EPOCH SHUFFLE under a VALUE oracle
    * ([[graft.operators.Sampling.epochShuffleKey]]): the reproducible
    * training permutation — each epoch orders the corpus by a
    * per-(id, epoch) uniform, a DIFFERENT permutation per epoch,
    * bit-stable across runs/partitionings/engines (step N's batch is
    * a pure function of (corpus, epoch): the property that makes a
    * run resumable and auditable). The query takes each epoch's
    * FIRST BATCH (bounded top-k by the key — TakeOrderedAndProject,
    * never a global sort; a 100 TB dataloader range-partitions on
    * the same key) for epochs 0/1/2 and the oracle replays the exact
    * batches. */
  val q118: Q = (s, dir) => {
    val docs = Tables(s, dir).documents.select(col("doc_id"))
    (0 to 2).map { e =>
      docs.select(lit(e).as("epoch"), col("doc_id"),
          graft.operators.Sampling.epochShuffleKey(col("doc_id"), e)
            .as("skey"))
        .orderBy(col("skey"), col("doc_id"))
        .limit(20)
    }.reduce(_.unionByName(_))
  }
  val q118Sql: String = {
    def one(e: Int): String = {
      val salt = (Sampling.SaltShuffle + e.toLong * 2654435761L) %
        1073741824L
      s"""(SELECT $e AS epoch, doc_id,
         |  ${coinSql(salt)} AS skey
         |FROM documents ORDER BY skey, doc_id LIMIT 20)""".stripMargin
    }
    Seq(one(0), one(1), one(2)).mkString("\nUNION ALL\n")
  }

  /** SQL form of the REPLICA-AWARE epoch-shuffle coin
    * ([[graft.operators.Sampling.epochShuffleKey]] 3-arg overload):
    * the per-row salt folds `copy_idx` through [[graft.operators
    * .Sampling.CopyFold]] on top of the epoch fold. `copy_idx ≥ 0`
    * by construction (upsampleByRate emits [0, copies)), so a plain
    * `%` matches Spark's pmod here; the id side keeps the
    * `+ 2³⁰` negative-fold trick of [[coinSql]]. Every product is
    * < 2⁶² — inside the engine-portability envelope. */
  private def epochCopyCoinSql(epoch: Int, idExpr: String = "doc_id",
                               copyExpr: String = "copy_idx"): String = {
    val base = (Sampling.SaltShuffle + epoch.toLong * 2654435761L) %
      1073741824L
    val salt = s"(($base + ($copyExpr % 1073741824) * " +
      s"${Sampling.CopyFold}) % 1073741824)"
    val x = s"((($idExpr % 1073741824) + 1073741824 + $salt) % 1073741824)"
    val q = s"(($x * (2 * $x + 1)) % 4294967296)"
    s"((($q % 2147483648) * 2654435761) % 4294967296)"
  }

  /** q119 — the q117→q118 COMPOSITION under a VALUE oracle: epoch
    * shuffle of an UPSAMPLED corpus with the REPLICA-AWARE key
    * ([[graft.operators.Sampling.epochShuffleKey]] 3-arg). The
    * id-only q118 key would seat all ⌈rate⌉ copies of an upsampled
    * doc ADJACENT in every epoch's order forever — a rare-language
    * doc replicated 4× landing 4× in the same training batch, every
    * epoch, the opposite of what replication is for (the round-15
    * verdict's `weak` mark). Folding copy_idx through the salt makes
    * each replica an independent draw; the door takes each epoch's
    * first batch (bounded top-k, never a global sort) for epochs 0/1
    * of the α = 0.5 flattened-mix upsample and the oracle replays the
    * exact batches — copies and all. SamplingCompositionSpec pins the
    * dispersion law itself (adjacent-replica count ≈ the random
    * expectation). */
  val q119: Q = (s, dir) => {
    val up = Sampling.mixByTemperatureUpsample(
      Tables(s, dir).documents.select(col("doc_id"), col("lang")),
      "lang", "doc_id", alpha = 0.5)
    (0 to 1).map { e =>
      up.select(lit(e).as("epoch"), col("doc_id"), col("copy_idx"),
          Sampling.epochShuffleKey(col("doc_id"), e, col("copy_idx"))
            .as("skey"))
        .orderBy(col("skey"), col("doc_id"), col("copy_idx"))
        .limit(24)
    }.reduce(_.unionByName(_))
  }
  val q119Sql: String = {
    def one(e: Int): String =
      s"""(SELECT $e AS epoch, doc_id, copy_idx,
         |  ${epochCopyCoinSql(e)} AS skey
         |FROM up ORDER BY skey, doc_id, copy_idx LIMIT 24)""".stripMargin
    s"""WITH c AS (
       |  SELECT lang, count(*) AS nd FROM documents
       |  WHERE lang IS NOT NULL GROUP BY lang
       |), m AS (
       |  SELECT max(nd) AS nmax FROM c
       |), r AS (
       |  SELECT lang, round(pow(CAST(nmax AS DOUBLE) / nd, 0.5), 6)
       |    AS rate
       |  FROM c, m
       |), n AS (
       |  SELECT d.doc_id,
       |    CAST(floor(rate) AS BIGINT)
       |      + CASE WHEN CAST(${coinSql(Sampling.SaltUpsample, "d.doc_id")}
       |               AS DOUBLE)
       |             < (rate - floor(rate)) * 4294967296.0
       |        THEN 1 ELSE 0 END AS copies
       |  FROM documents d JOIN r USING (lang)
       |), up AS (
       |  SELECT doc_id, unnest(range(0, copies)) AS copy_idx
       |  FROM n WHERE copies > 0
       |)
       |${one(0)}
       |UNION ALL
       |${one(1)}""".stripMargin
  }

  /** q120 — FULL epoch→batch assignment under a VALUE oracle
    * ([[graft.operators.Batching.epochBatches]]): every row of epoch
    * 1 gets its global position in the deterministic permutation and
    * its training batch id — "step N's batch" as a pure function of
    * (corpus, epoch, batchSize), the resumable-training property
    * q118 proved only for the first batch. Execution is ONE
    * full-data range exchange + a broadcast histogram
    * ([[graft.operators.Ranks.globalRowNumbers]] — PlanSpec pins one
    * exchange, no global sort, no single-partition window); the
    * oracle replays every row's (position, batch). */
  val q120: Q = (s, dir) =>
    Batching.epochBatches(
      Tables(s, dir).documents.select(col("doc_id")),
      "doc_id", epoch = 1, batchSize = 32)
  val q120Sql: String = {
    val salt = (Sampling.SaltShuffle + 2654435761L) % 1073741824L
    s"""WITH keyed AS (
       |  SELECT doc_id, ${coinSql(salt)} AS skey FROM documents
       |), pos AS (
       |  SELECT doc_id,
       |    CAST(row_number() OVER (ORDER BY skey, doc_id) AS BIGINT)
       |      AS epoch_pos
       |  FROM keyed
       |)
       |SELECT doc_id, epoch_pos,
       |  (epoch_pos - 1) // 32 AS batch_id
       |FROM pos""".stripMargin
  }

  /** q121 — the FULL TRAINING-DATA TAIL under one VALUE oracle
    * ([[graft.apps.TrainingTail]]): DSIR weights (bucketed
    * vocabulary, q115) → Gumbel-top-k resample (q113) → temperature
    * UPSAMPLE (q117) → stratified split (q69) → replica-aware epoch
    * shuffle + batch assignment (q119/q120) — five salted doors
    * composed end to end, and the oracle replays every stage to the
    * exact (doc, copy, batch) assignment of epoch 0's train split.
    * This is the flagship proof of the salted-coin architecture: the
    * entire tail of a training-data pipeline is a pure function of
    * (corpus, parameters), bit-replayable in a different engine. */
  val q121: Q = (s, dir) =>
    graft.apps.TrainingTail.run(s, Tables(s, dir).documents,
      col("lang") === "en", k = 400, alpha = 0.5, splits = q69Splits,
      epoch = 0, batchSize = 16, nBuckets = 4096)
  val q121Sql: String = {
    val tTrain = math.floor(0.9 * 4294967296.0).toLong
    s"""WITH tk0 AS (
       |  SELECT doc_id, lang,
       |    unnest(regexp_split_to_array(trim(text), '\\s+')) AS w0
       |  FROM documents
       |), tk AS (
       |  SELECT doc_id, lang,
       |    (('0x' || substr(md5(w0), 1, 8))::BIGINT) % 4096 AS w
       |  FROM tk0
       |), cr AS (
       |  SELECT w, count(*) AS c_r FROM tk GROUP BY w
       |), ct AS (
       |  SELECT w, count(*) AS c_t FROM tk WHERE lang = 'en' GROUP BY w
       |), ratio AS (
       |  SELECT cr.w,
       |    CAST(round(ln((coalesce(ct.c_t, 0) + 1.0) / (cr.c_r + 1.0))
       |      * 1e6, 0) AS BIGINT) AS r_micro
       |  FROM cr LEFT JOIN ct USING (w)
       |), norm AS (
       |  SELECT CAST(round(ln(
       |      ((SELECT CAST(sum(c_r) AS DOUBLE) FROM cr)
       |        + (SELECT count(*) FROM cr)) /
       |      ((SELECT CAST(coalesce(sum(c_t), 0) AS DOUBLE) FROM ct)
       |        + (SELECT count(*) FROM cr))) * 1e6, 0) AS BIGINT)
       |    AS norm_micro
       |), weights AS (
       |  SELECT tk.doc_id,
       |    CAST(sum(r.r_micro) + count(*) * (SELECT norm_micro FROM norm)
       |      AS BIGINT) AS weight_micro
       |  FROM tk JOIN ratio r USING (w)
       |  GROUP BY tk.doc_id
       |), picked AS (
       |  SELECT doc_id FROM (
       |    SELECT doc_id,
       |      weight_micro + CAST(round(-ln(-ln(
       |        (${coinSql(Sampling.SaltGumbel)} + 0.5)
       |          / 4294967296.0)) * 1e6, 0) AS BIGINT) AS score
       |    FROM weights) g
       |  ORDER BY score DESC, doc_id LIMIT 400
       |), corpus AS (
       |  SELECT d.doc_id, d.lang FROM documents d JOIN picked USING (doc_id)
       |), c AS (
       |  SELECT lang, count(*) AS nd FROM corpus
       |  WHERE lang IS NOT NULL GROUP BY lang
       |), m AS (
       |  SELECT max(nd) AS nmax FROM c
       |), r AS (
       |  SELECT lang, round(pow(CAST(nmax AS DOUBLE) / nd, 0.5), 6)
       |    AS rate
       |  FROM c, m
       |), n AS (
       |  SELECT corpus.lang, corpus.doc_id,
       |    CAST(floor(rate) AS BIGINT)
       |      + CASE WHEN CAST(${coinSql(Sampling.SaltUpsample, "corpus.doc_id")}
       |               AS DOUBLE)
       |             < (rate - floor(rate)) * 4294967296.0
       |        THEN 1 ELSE 0 END AS copies
       |  FROM corpus JOIN r USING (lang)
       |), up AS (
       |  SELECT lang, doc_id, unnest(range(0, copies)) AS copy_idx
       |  FROM n WHERE copies > 0
       |), tr AS (
       |  SELECT lang, doc_id, copy_idx FROM up
       |  WHERE ${coinSql(Sampling.SaltSplit)} < $tTrain
       |), keyed AS (
       |  SELECT doc_id, copy_idx, lang,
       |    ${epochCopyCoinSql(0)} AS skey
       |  FROM tr
       |), pos AS (
       |  SELECT doc_id, copy_idx, lang,
       |    CAST(row_number() OVER (ORDER BY skey, doc_id, copy_idx)
       |      AS BIGINT) AS epoch_pos
       |  FROM keyed
       |)
       |SELECT doc_id, copy_idx, lang, epoch_pos,
       |  (epoch_pos - 1) // 16 AS batch_id
       |FROM pos""".stripMargin
  }

  /** q122's published epoch layout, cached per session (the q76
    * convention — Bench prices the publish separately as
    * `q122_write_sec`; catalog passes measure the PRUNED READ). */
  private val q122Published = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession, (String, String)]())
  def q122Publish(s: SparkSession, dir: String): String = {
    val root = java.nio.file.Files.createTempDirectory("graft_q122_").toString
    val pub = s"$root/epoch0"
    graft.apps.EpochExport.exportEpoch(s,
      Tables(s, dir).documents.select(col("doc_id")),
      pub, "doc_id", epoch = 0, batchSize = 32, nShards = 4)
    q122Published.put(s, (dir, pub))
    pub
  }

  /** q122 — EPOCH SHARD EXPORT + batch-range read under a VALUE
    * oracle ([[graft.apps.EpochExport]]): epoch 0 materialized as a
    * published layout whose shards are contiguous batch ranges
    * (zone-mapped + sorted on batch_id), then "resume at step 4:
    * give me batches 4–7" as a manifest-pruned shard read
    * ([[graft.sinks.Sinks.readShardsBetween]]) — the dataloader
    * artifact at the end of the training tail. The oracle replays
    * the epoch permutation in SQL and filters the same batch range,
    * so the hash compare proves the published artifact's batch
    * membership equals the pure function of (corpus, epoch,
    * batchSize) — resumable training, file-level pruning and all.
    * At 100 TB the read opens |range|/batchesPerShard shards, never
    * the corpus (EpochExportSpec pins the pruned path list). */
  val q122: Q = (s, dir) => {
    val cached = q122Published.get(s)
    val pub =
      if (cached != null && cached._1 == dir &&
          java.nio.file.Files.exists(java.nio.file.Paths.get(cached._2)))
        cached._2
      else q122Publish(s, dir)
    graft.sinks.Sinks.readShardsBetween(s, pub, "batch_id", 4L, 7L)
      .select("doc_id", "epoch_pos", "batch_id")
  }
  val q122Sql: String =
    s"""WITH keyed AS (
       |  SELECT doc_id, ${coinSql(Sampling.SaltShuffle)} AS skey
       |  FROM documents
       |), pos AS (
       |  SELECT doc_id,
       |    CAST(row_number() OVER (ORDER BY skey, doc_id) AS BIGINT)
       |      AS epoch_pos
       |  FROM keyed
       |)
       |SELECT doc_id, epoch_pos,
       |  (epoch_pos - 1) // 32 AS batch_id
       |FROM pos
       |WHERE (epoch_pos - 1) // 32 BETWEEN 4 AND 7""".stripMargin

  /** q123's published tail artifact, cached per session (the
    * q76/q122 convention — Bench prices the publish separately as
    * `q123_write_sec`; catalog passes measure the PRUNED READ). */
  private val q123Published = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession, (String, String)]())
  def q123Publish(s: SparkSession, dir: String): String = {
    val root = java.nio.file.Files.createTempDirectory("graft_q123_").toString
    val pub = s"$root/tail_epoch0"
    graft.apps.TrainingTail.exportTail(s, Tables(s, dir).documents,
      col("lang") === "en", k = 400, alpha = 0.5, splits = q69Splits,
      epoch = 0, batchSize = 16, nShards = 4, path = pub,
      nBuckets = 4096)
    q123Published.put(s, (dir, pub))
    pub
  }

  /** q123 — the CAPSTONE tail→export composition under a VALUE
    * oracle ([[graft.apps.TrainingTail.exportTail]]): the FULL
    * training tail (DSIR weights → Gumbel-top-k resample →
    * temperature upsample → stratified split → replica-aware epoch
    * shuffle → batch assignment, q121's five salted doors plus the
    * shard publish) materialized as the epoch artifact, then "resume
    * training at step N" as a manifest-pruned read of batches 4–9 —
    * the batch range deliberately CROSSES a shard boundary, so the
    * pruned read proves multi-shard range union, not one lucky
    * shard. Unlike q122 (which exports the PLAIN corpus), the
    * exported bytes here carry `copy_idx` and the 3-arg
    * replica-aware shuffle key's dispersion — the round-15 replica
    * fix, now proven IN the dataloader artifact a trainer would
    * actually read (AppsSpec asserts the dispersion on the exported
    * bytes; the oracle hash-compares every resumed row against
    * DuckDB replaying all six doors). */
  val q123: Q = (s, dir) => {
    val cached = q123Published.get(s)
    val pub =
      if (cached != null && cached._1 == dir &&
          java.nio.file.Files.exists(java.nio.file.Paths.get(cached._2)))
        cached._2
      else q123Publish(s, dir)
    graft.sinks.Sinks.readShardsBetween(s, pub, "batch_id", 4L, 9L)
      .select("doc_id", "copy_idx", "lang", "epoch_pos", "batch_id")
  }
  val q123Sql: String =
    s"""WITH tail AS (
       |${q121Sql.linesIterator.map("  " + _).mkString("\n")}
       |)
       |SELECT doc_id, copy_idx, lang, epoch_pos, batch_id
       |FROM tail WHERE batch_id BETWEEN 4 AND 9""".stripMargin

  /** q124 — SEQUENCE PACKING, concat-and-chunk, under a VALUE oracle
    * ([[graft.operators.Packing.packSegments]]): documents laid end
    * to end in epoch 0's deterministic shuffle order and cut every
    * 256 tokens — one row per (document, window) SEGMENT with full
    * provenance (window, position in window, offset in doc, length),
    * i.e. the GPT-style zero-padding dataloader artifact plus the
    * boundary metadata an attention mask needs. Execution is ONE
    * range exchange ([[graft.operators.Ranks.globalCumSum]] — no
    * global sort, no single-partition window) + a codegen'd explode
    * bounded by ⌈toks/256⌉+1 segments per doc; the oracle replays
    * every segment's arithmetic from the same salted shuffle key. */
  val q124: Q = (s, dir) =>
    Packing.packSegments(Tables(s, dir).documents, "doc_id",
      size(Text.tokens(col("text"))), contextLen = 256, epoch = 0)
  val q124Sql: String =
    s"""WITH t AS (
       |  SELECT doc_id,
       |    CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT)
       |      AS toks,
       |    ${coinSql(Sampling.SaltShuffle)} AS skey
       |  FROM documents
       |), c AS (
       |  SELECT doc_id, toks,
       |    CAST(sum(toks) OVER (ORDER BY skey, doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - toks
       |      AS BIGINT) AS off
       |  FROM t
       |), seg AS (
       |  SELECT doc_id, toks, off,
       |    unnest(generate_series(off // 256, (off + toks - 1) // 256))
       |      AS w
       |  FROM c
       |)
       |SELECT doc_id, toks,
       |  CAST(w AS BIGINT) AS window_id,
       |  CAST(greatest(off, w * 256) - w * 256 AS BIGINT) AS win_pos,
       |  CAST(greatest(off, w * 256) - off AS BIGINT) AS doc_off,
       |  CAST(least(off + toks, (w + 1) * 256) - greatest(off, w * 256)
       |    AS BIGINT) AS seg_len
       |FROM seg""".stripMargin

  /** q125 — PADDING-FREE BIN PACKING ([[graft.operators.Packing
    * .packBins]]): every document assigned WHOLE to a 256-token bin
    * via first-fit-decreasing solved on the length HISTOGRAM (Krell
    * et al. 2021, arXiv:2107.02027 — the no-cross-contamination
    * alternative to q124's concat-and-chunk). No DuckDB oracle: the
    * FFD solve is a driver-side loop over the ≤256-row histogram,
    * not SQL — correctness lives in PackingSpec's invariants
    * (exactly-once, capacity, in-bin tiling, first-fit bound,
    * partitioning-independent determinism) and the QUALITY.json
    * packing-efficiency floor (measured 0.99 vs floor 0.85).
    * Scale shape: histogram ≤ contextLen rows by construction (the
    * one driver collect — parameter-bounded, corpus-independent),
    * then ONE range exchange + a broadcast interval join. */
  val q125: Q = (s, dir) =>
    Packing.packBins(Tables(s, dir).documents, "doc_id",
      size(Text.tokens(col("text"))), contextLen = 256)

  /** q126 — the PACKED TRAINING STREAM under a VALUE oracle
    * ([[graft.apps.TrainingTail.packedStream]]): q121's full tail
    * (DSIR → Gumbel-top-k → temperature upsample → stratified split)
    * laid end to end in the replica-aware epoch-0 order and cut
    * every 64 tokens — every segment of every context window of the
    * epoch, as a pure function of (corpus, parameters). The oracle
    * replays the six salted doors and then the packing arithmetic
    * ORDERED BY the replayed `epoch_pos` — which is the PROOF that
    * pack order ≡ batch order (the Spark side recomputes the 3-arg
    * key inside packSegments; the oracle never sees that key, only
    * q121's rank — hash-equality means the two permutations are the
    * same one). contextLen 64 (not 256) so the gate corpus yields
    * multi-segment windows AND split docs at sf0.01's ~54-token
    * docs. */
  val q126: Q = (s, dir) =>
    graft.apps.TrainingTail.packedStream(s, Tables(s, dir).documents,
      col("lang") === "en", k = 400, alpha = 0.5, splits = q69Splits,
      epoch = 0, contextLen = 64)
  val q126Sql: String =
    s"""WITH tail AS (
       |${q121Sql.linesIterator.map("  " + _).mkString("\n")}
       |), tk AS (
       |  SELECT t.doc_id, t.copy_idx, t.lang,
       |    CAST(len(regexp_split_to_array(trim(d.text), '\\s+'))
       |      AS BIGINT) AS toks,
       |    t.epoch_pos
       |  FROM tail t JOIN documents d USING (doc_id)
       |), c AS (
       |  SELECT doc_id, copy_idx, lang, toks,
       |    CAST(sum(toks) OVER (ORDER BY epoch_pos
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - toks
       |      AS BIGINT) AS off
       |  FROM tk
       |), seg AS (
       |  SELECT doc_id, copy_idx, lang, toks, off,
       |    unnest(generate_series(off // 64, (off + toks - 1) // 64))
       |      AS w
       |  FROM c
       |)
       |SELECT doc_id, copy_idx, lang, toks,
       |  CAST(w AS BIGINT) AS window_id,
       |  CAST(greatest(off, w * 64) - w * 64 AS BIGINT) AS win_pos,
       |  CAST(greatest(off, w * 64) - off AS BIGINT) AS doc_off,
       |  CAST(least(off + toks, (w + 1) * 64) - greatest(off, w * 64)
       |    AS BIGINT) AS seg_len
       |FROM seg""".stripMargin

  /** q113 — DSIR RESAMPLING under a VALUE oracle
    * ([[graft.operators.Dsir.resample]]): the selection half of
    * q112's weighting — Gumbel-top-k over the log importance
    * weights, i.e. k docs sampled without replacement with
    * probability ∝ w(x) (Xie et al. §2). The Gumbel draw is seeded
    * by the engine's deterministic SaltGumbel door coin (salted so
    * the draw is independent of the split/weight doors it composes
    * with) and rounded to micro-nats, so the oracle replays the
    * EXACT selected set — weights, noise, ranking and all — while
    * execution stays a bounded-heap top-k, never a global sort. */
  val q113: Q = (s, dir) => {
    val docs = Tables(s, dir).documents
    val w = graft.operators.Dsir.importanceWeightsWhen(
      docs, col("lang") === "en", "text", "doc_id")
    graft.operators.Dsir.resample(w, k = 100)
  }
  val q113Sql: String =
    """WITH tk AS (
      |  SELECT doc_id, lang,
      |    unnest(regexp_split_to_array(trim(text), '\s+')) AS w
      |  FROM documents
      |), cr AS (
      |  SELECT w, count(*) AS c_r FROM tk GROUP BY w
      |), ct AS (
      |  SELECT w, count(*) AS c_t FROM tk WHERE lang = 'en' GROUP BY w
      |), ratio AS (
      |  SELECT cr.w,
      |    CAST(round(ln((coalesce(ct.c_t, 0) + 1.0) / (cr.c_r + 1.0))
      |      * 1e6, 0) AS BIGINT) AS r_micro
      |  FROM cr LEFT JOIN ct USING (w)
      |), norm AS (
      |  SELECT CAST(round(ln(
      |      ((SELECT CAST(sum(c_r) AS DOUBLE) FROM cr)
      |        + (SELECT count(*) FROM cr)) /
      |      ((SELECT CAST(coalesce(sum(c_t), 0) AS DOUBLE) FROM ct)
      |        + (SELECT count(*) FROM cr))) * 1e6, 0) AS BIGINT)
      |    AS norm_micro
      |), weights AS (
      |  SELECT tk.doc_id,
      |    CAST(sum(r.r_micro) + count(*) * (SELECT norm_micro FROM norm)
      |      AS BIGINT) AS weight_micro
      |  FROM tk JOIN ratio r USING (w)
      |  GROUP BY tk.doc_id
      |)
      |SELECT doc_id, weight_micro,
      |  weight_micro + CAST(round(-ln(-ln(
      |      (__COIN__ + 0.5)
      |        / 4294967296.0)) * 1e6, 0) AS BIGINT) AS score_micro
      |FROM weights
      |ORDER BY score_micro DESC, doc_id
      |LIMIT 100""".stripMargin
      .replace("__COIN__", coinSql(Sampling.SaltGumbel))

  /** q114 — TEMPERATURE-scaled domain rebalancing under a VALUE
    * oracle ([[graft.operators.Sampling.mixByTemperature]], the
    * Conneau & Lample / T5 multilingual mixing rule): kept counts per
    * LANGUAGE ∝ n_d^α with α = 0.5, the rarest language kept in full
    * (the corpus is genuinely lang-skewed — ~55% English — so the
    * rates bite; the 20 sources are exactly uniform and would all
    * rate 1.0).
    * The rate is Σ-free (one exact integer ratio + one pow per
    * domain, rounded 6 dp) and the keep decision is the engine's
    * deterministic Knuth coin, so the oracle replays the EXACT kept
    * row set — the reweighting step that turns a natural crawl mix
    * into a flattened training mix, bit-reproducibly. */
  val q114: Q = (s, dir) =>
    graft.operators.Sampling.mixByTemperature(
      Tables(s, dir).documents
        .select(col("doc_id"), col("lang"), col("n_chars")),
      "lang", "doc_id", alpha = 0.5)
  val q114Sql: String =
    s"""WITH c AS (
      |  SELECT lang, count(*) AS nd FROM documents
      |  WHERE lang IS NOT NULL GROUP BY lang
      |), m AS (
      |  SELECT min(nd) AS nmin FROM c
      |), r AS (
      |  SELECT lang, round(pow(CAST(nmin AS DOUBLE) / nd, 0.5), 6)
      |    AS rate
      |  FROM c, m
      |)
      |SELECT d.lang, d.doc_id, d.n_chars
      |FROM documents d JOIN r USING (lang)
      |WHERE ${coinSql(Sampling.SaltTemperature, "d.doc_id")}
      |      < rate * 4294967296.0""".stripMargin

  /** q115 — BUCKETED-vocabulary DSIR weighting under a VALUE oracle
    * ([[graft.operators.Dsir.importanceWeightsWhen]] with
    * `nBuckets = 4096` — Xie et al. §2.1's ACTUAL setup: n-grams
    * hashed into a bounded bucket space): q112's weights with the
    * unigram models living on md5-prefix hash buckets instead of the
    * raw vocabulary. This is the 100 TB form — an open-web crawl's
    * 10⁹⁺-term vocabulary would push the raw model join to
    * sort-merge on the corpus-sized exploded side, while the
    * bucketed model is ≤ 4096 rows, broadcast-sized at ANY corpus
    * scale. The bucket hash is the engine-portable md5 prefix, so
    * DuckDB replays the exact bucketed weights (hash compare, not a
    * tolerance band). */
  val q115: Q = (s, dir) =>
    graft.operators.Dsir.importanceWeightsWhen(
      Tables(s, dir).documents, col("lang") === "en", "text", "doc_id",
      nBuckets = 4096)
  val q115Sql: String =
    """WITH tk0 AS (
      |  SELECT doc_id, lang,
      |    unnest(regexp_split_to_array(trim(text), '\s+')) AS w0
      |  FROM documents
      |), tk AS (
      |  SELECT doc_id, lang,
      |    (('0x' || substr(md5(w0), 1, 8))::BIGINT) % 4096 AS w
      |  FROM tk0
      |), cr AS (
      |  SELECT w, count(*) AS c_r FROM tk GROUP BY w
      |), ct AS (
      |  SELECT w, count(*) AS c_t FROM tk WHERE lang = 'en' GROUP BY w
      |), ratio AS (
      |  SELECT cr.w,
      |    CAST(round(ln((coalesce(ct.c_t, 0) + 1.0) / (cr.c_r + 1.0))
      |      * 1e6, 0) AS BIGINT) AS r_micro
      |  FROM cr LEFT JOIN ct USING (w)
      |), norm AS (
      |  SELECT CAST(round(ln(
      |      ((SELECT CAST(sum(c_r) AS DOUBLE) FROM cr)
      |        + (SELECT count(*) FROM cr)) /
      |      ((SELECT CAST(coalesce(sum(c_t), 0) AS DOUBLE) FROM ct)
      |        + (SELECT count(*) FROM cr))) * 1e6, 0) AS BIGINT)
      |    AS norm_micro
      |)
      |SELECT tk.doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
      |  CAST(sum(r.r_micro) + count(*) * (SELECT norm_micro FROM norm)
      |    AS BIGINT) AS weight_micro
      |FROM tk JOIN ratio r USING (w)
      |GROUP BY tk.doc_id""".stripMargin

  /** q105 — vector-index LIFECYCLE under a VALUE oracle: publish 6/7
    * of the embedding corpus as a cell-clustered index, then
    * [[graft.operators.VectorIndex.append]] the remaining 1/7 PLUS a
    * re-embedding of vec_id 10 (negated vector — its cell, hence
    * shard, changes; the id-bloom locates the old row and ONE merge
    * generation moves it atomically), then take down ids 3/10/21 plus
    * a never-published id through [[graft.operators.VectorIndex
    * .delete]] (bloom-routed erasure — deleting 10 AFTER its move
    * proves the move left exactly one live row to find). The oracle
    * is the full final corpus in SQL — every base row, every appended
    * row, the replaced row with its NEW vector, the deleted ids gone,
    * the absent id a no-op — so the hash compare proves the
    * incremental write path equals the recompute it replaces (the q95
    * guarantee for the vector store). The digest carries the
    * sequential-fold self-dot (content) and the first element (sign —
    * a negated vector has the same norm). */
  /** q105's fixture = the base-index publish (6/7 of the corpus);
    * the door = append (with the atomic move) + bloom-routed takedown
    * + full read-back. The at-scale story is the door: each step's
    * cost is its touched shards plus one merge generation. */
  private[graft] def q105Fixture(s: SparkSession, dir: String): String = {
    val root = java.nio.file.Files.createTempDirectory("graft_q105_").toString
    val t = s"$root/idx"
    val emb = Tables(s, dir).embeddings
    // fixed data-defined centroids (the q66 protocol): q105 exercises
    // the write machinery, not recall — skipping k-means keeps the
    // door's number about the lifecycle
    val cents = emb.filter(col("vec_id") < 16)
      .select(col("vec_id").as("cid"),
        col("embedding").cast("array<double>").as("cv"))
    graft.operators.VectorIndex.publish(
      emb.filter(col("vec_id") % 7 =!= 0), t, "vec_id", "embedding",
      nCells = 16, nShards = 8, centroids = Some(cents))
    t
  }
  private[graft] def q105Door(s: SparkSession, dir: String,
                              t: String): DataFrame = {
    val emb = Tables(s, dir).embeddings
    val patch = emb.filter(col("vec_id") % 7 === 0)
      .unionByName(emb.filter(col("vec_id") === 10)
        .withColumn("embedding", transform(col("embedding"), x => -x)))
    graft.operators.VectorIndex.append(patch, t, "vec_id", "embedding")
    graft.operators.VectorIndex.delete(s, t, "vec_id",
      Seq("3", "10", "21", "987654321"))
    s.read.parquet(s"$t/data")
      .select(col("vec_id"), col("label"),
        round(graft.functions.Vectors.dot(
          col("embedding"), col("embedding")), 4).as("nrm2"),
        element_at(col("embedding"), 1).cast("double").as("e1"))
  }
  val q105: Q = (s, dir) => q105Door(s, dir, q105Fixture(s, dir))
  val q105Sql: String =
    """SELECT vec_id, label,
      |       round(list_dot_product(CAST(e AS DOUBLE[]), CAST(e AS DOUBLE[])), 4) AS nrm2,
      |       CAST(e[1] AS DOUBLE) AS e1
      |FROM (
      |  SELECT vec_id, label,
      |         CASE WHEN vec_id = 10 THEN list_transform(embedding, x -> -x)
      |              ELSE embedding END AS e
      |  FROM embeddings
      |  WHERE vec_id NOT IN (3, 10, 21))""".stripMargin

  // ----------------------------------------------------------- registry

  val all: Map[String, Q] = Map(
    "q01_agg_sum" -> q01,
    "q02_window_count" -> q02,
    "q03_enrich_join" -> q03,
    "q04_selfjoin" -> q04,
    "q05_routing" -> q05,
    "q06_cleanse" -> q06,
    "q07_json_extract" -> q07,
    "q08_envelope" -> q08,
    "q09_points" -> q09,
    "q10_dedup_exact" -> q10,
    "q11_dedup_minhash" -> q11,
    "q12_dedup_simhash" -> q12,
    "q13_ngram_jaccard" -> q13,
    "q14_ann_topk" -> q14,
    "q15_ann_lsh" -> q15,
    "q16_embed_neardup" -> q16,
    "q17_langid" -> q17,
    "q18_quality" -> q18,
    "q19_tokens" -> q19,
    "q20_fingerprint" -> q20,
    "q21_sessionize" -> q21,
    "q22_media_meta" -> q22,
    "q23_ann_ivf" -> q23,
    "q24_dedup_cluster" -> q24,
    "q25_word_rep" -> q25,
    "q26_tfidf" -> q26,
    "q27_topk_revenue" -> q27,
    "q28_snowflake_join" -> q28,
    "q29_funnel" -> q29,
    "q30_rollup" -> q30,
    "q31_curation" -> q31,
    "q32_group_sample" -> q32,
    "q33_distinct_agg" -> q33,
    "q34_pivot" -> q34,
    "q35_asof_join" -> q35,
    "q36_range_join" -> q36,
    "q37_semi_anti" -> q37,
    "q38_rank_lag" -> q38,
    "q39_cube" -> q39,
    "q40_percentile" -> q40,
    "q41_setops" -> q41,
    "q42_moving_avg" -> q42,
    "q43_ntile" -> q43,
    "q44_first_last" -> q44,
    "q45_edit_distance" -> q45,
    "q46_frame_sample" -> q46,
    "q47_histogram" -> q47,
    "q48_bpe_tokens" -> q48,
    "q49_above_avg" -> q49,
    "q50_sketch_agg" -> q50,
    "q51_array_agg" -> q51,
    "q54_contamination" -> q54,
    "q55_domain_mix" -> q55,
    "q52_string_funcs" -> q52,
    "q53_date_funcs" -> q53,
    "q56_salted_join" -> q56,
    "q57_bucketed_join" -> q57,
    "q58_seq_pack" -> q58,
    "q59_skyline" -> q59,
    "q60_grouping_sets" -> q60,
    "q61_cluster_cc" -> q61,
    "q62_salted_agg" -> q62,
    "q63_span_overlap" -> q63,
    "q64_dedup_survivors" -> q64,
    "q65_token_budget" -> q65,
    "q66_semantic_dedup" -> q66,
    "q67_ann_quantized" -> q67,
    "q68_bloom_decontam" -> q68,
    "q69_split_assign" -> q69,
    "q70_chunking" -> q70,
    "q71_length_batching" -> q71,
    "q72_weighted_sample" -> q72,
    "q73_chunk_dedup" -> q73,
    "q74_time_travel" -> q74,
    "q75_schema_evolution" -> q75,
    "q76_zone_pruning" -> q76,
    "q77_evolution_widen" -> q77,
    "q78_gopher_filter" -> q78,
    "q79_unigram_lm" -> q79,
    "q80_pii_scrub" -> q80,
    "q81_dup_ngrams" -> q81,
    "q82_boilerplate" -> q82,
    "q83_heavy_hitters" -> q83,
    "q84_embed_outliers" -> q84,
    "q85_filter_drift" -> q85,
    "q86_auto_skipping" -> q86,
    "q87_manifest_stats" -> q87,
    "q88_changed_shards" -> q88,
    "q89_metadata_agg" -> q89,
    "q90_sorted_scan" -> q90,
    "q91_zone_string" -> q91,
    "q92_takedown" -> q92,
    "q93_row_cdc" -> q93,
    "q94_merge_rows" -> q94,
    "q95_curation_refresh" -> q95,
    "q96_bloom_point" -> q96,
    "q97_zorder" -> q97,
    "q98_metadata_sum" -> q98,
    "q99_filtered_metadata_aggs" -> q99,
    "q100_topk_pruned" -> q100,
    "q101_grouped_metadata" -> q101,
    "q102_grouped_filtered" -> q102,
    "q103_vector_index" -> q103,
    "q104_manifest_distinct" -> q104,
    "q105_vector_append" -> q105,
    "q106_manifest_quantiles" -> q106,
    "q107_bpe_fit" -> q107,
    "q108_cjk_text" -> q108,
    "q109_manifest_rebuild" -> q109,
    "q110_stats_evolve" -> q110,
    "q111_span_excision" -> q111,
    "q112_dsir_weights" -> q112,
    "q113_dsir_resample" -> q113,
    "q114_temperature_mix" -> q114,
    "q115_dsir_bucketed" -> q115,
    "q116_sample_split" -> q116,
    "q117_temperature_upsample" -> q117,
    "q118_epoch_shuffle" -> q118,
    "q119_upsample_shuffle" -> q119,
    "q120_epoch_batches" -> q120,
    "q121_training_tail" -> q121,
    "q122_epoch_export" -> q122,
    "q123_tail_export" -> q123,
    "q124_pack_segments" -> q124,
    "q125_pack_bins" -> q125,
    "q126_packed_stream" -> q126,
  )

  val oracle: Map[String, String] = Map(
    "q01_agg_sum" -> q01Sql,
    "q02_window_count" -> q02Sql,
    "q03_enrich_join" -> q03Sql,
    "q04_selfjoin" -> q04Sql,
    "q05_routing" -> q05Sql,
    "q06_cleanse" -> q06Sql,
    "q07_json_extract" -> q07Sql,
    "q08_envelope" -> q08Sql,
    "q09_points" -> q09Sql,
    "q10_dedup_exact" -> q10Sql,
    "q13_ngram_jaccard" -> q13Sql,
    "q14_ann_topk" -> q14Sql,
    "q17_langid" -> q17Sql,
    "q18_quality" -> q18Sql,
    "q19_tokens" -> q19Sql,
    "q20_fingerprint" -> q20Sql,
    "q21_sessionize" -> q21Sql,
    "q22_media_meta" -> q22Sql,
    "q25_word_rep" -> q25Sql,
    "q26_tfidf" -> q26Sql,
    "q27_topk_revenue" -> q27Sql,
    "q28_snowflake_join" -> q28Sql,
    "q29_funnel" -> q29Sql,
    "q30_rollup" -> q30Sql,
    "q31_curation" -> q31Sql,
    "q32_group_sample" -> q32Sql,
    "q33_distinct_agg" -> q33Sql,
    "q34_pivot" -> q34Sql,
    "q35_asof_join" -> q35Sql,
    "q36_range_join" -> q36Sql,
    "q37_semi_anti" -> q37Sql,
    "q38_rank_lag" -> q38Sql,
    "q39_cube" -> q39Sql,
    "q40_percentile" -> q40Sql,
    "q41_setops" -> q41Sql,
    "q42_moving_avg" -> q42Sql,
    "q43_ntile" -> q43Sql,
    "q44_first_last" -> q44Sql,
    "q45_edit_distance" -> q45Sql,
    "q46_frame_sample" -> q46Sql,
    "q47_histogram" -> q47Sql,
    "q48_bpe_tokens" -> q48Sql,
    "q49_above_avg" -> q49Sql,
    // q50_sketch_agg: rows-only (sketch estimates have no cross-engine oracle)
    "q51_array_agg" -> q51Sql,
    "q54_contamination" -> q54Sql,
    "q55_domain_mix" -> q55Sql,
    "q52_string_funcs" -> q52Sql,
    "q53_date_funcs" -> q53Sql,
    "q56_salted_join" -> q56Sql,
    "q57_bucketed_join" -> q57Sql,
    "q58_seq_pack" -> q58Sql,
    "q59_skyline" -> q59Sql,
    "q60_grouping_sets" -> q60Sql,
    "q61_cluster_cc" -> q61Sql,
    "q62_salted_agg" -> q62Sql,
    "q63_span_overlap" -> q63Sql,
    "q64_dedup_survivors" -> q64Sql,
    "q65_token_budget" -> q65Sql,
    "q66_semantic_dedup" -> q66Sql,
    // q67_ann_quantized: rows-only (int8 stage-1 ranking is
    // implementation-defined; RecallSpec floors recall vs exact q14)
    // q68_bloom_decontam: rows-only (murmur3 double-hash FP set has no
    // cross-engine oracle; DecontaminateSpec pins no-false-negatives
    // and bounded FP inflation against q54's exact join)
    "q69_split_assign" -> q69Sql,
    "q70_chunking" -> q70Sql,
    "q71_length_batching" -> q71Sql,
    "q72_weighted_sample" -> q72Sql,
    "q73_chunk_dedup" -> q73Sql,
    "q74_time_travel" -> q74Sql,
    "q75_schema_evolution" -> q75Sql,
    "q76_zone_pruning" -> q76Sql,
    "q77_evolution_widen" -> q77Sql,
    "q78_gopher_filter" -> q78Sql,
    "q79_unigram_lm" -> q79Sql,
    "q80_pii_scrub" -> q80Sql,
    "q81_dup_ngrams" -> q81Sql,
    "q82_boilerplate" -> q82Sql,
    "q83_heavy_hitters" -> q83Sql,
    "q84_embed_outliers" -> q84Sql,
    "q85_filter_drift" -> q85Sql,
    "q86_auto_skipping" -> q86Sql,
    "q87_manifest_stats" -> q87Sql,
    "q88_changed_shards" -> q88Sql,
    "q89_metadata_agg" -> q89Sql,
    "q90_sorted_scan" -> q90Sql,
    "q91_zone_string" -> q91Sql,
    "q92_takedown" -> q92Sql,
    "q93_row_cdc" -> q93Sql,
    "q94_merge_rows" -> q94Sql,
    "q95_curation_refresh" -> q95Sql,
    "q96_bloom_point" -> q96Sql,
    "q97_zorder" -> q97Sql,
    "q98_metadata_sum" -> q98Sql,
    "q99_filtered_metadata_aggs" -> q99Sql,
    "q100_topk_pruned" -> q100Sql,
    "q101_grouped_metadata" -> q101Sql,
    "q102_grouped_filtered" -> q102Sql,
    // q103_vector_index: rows-only (k-means cell routing has no SQL
    // oracle; QUALITY.json floors recall vs the exact brute-force door)
    // q104_manifest_distinct: rows-only (HLL estimate is
    // implementation-defined; QUALITY.json floors relative error vs
    // the exact distinct count)
    "q105_vector_append" -> q105Sql,
    "q108_cjk_text" -> q108Sql,
    "q109_manifest_rebuild" -> q109Sql,
    "q110_stats_evolve" -> q110Sql,
    "q111_span_excision" -> q111Sql,
    "q112_dsir_weights" -> q112Sql,
    "q113_dsir_resample" -> q113Sql,
    "q114_temperature_mix" -> q114Sql,
    "q115_dsir_bucketed" -> q115Sql,
    "q116_sample_split" -> q116Sql,
    "q117_temperature_upsample" -> q117Sql,
    "q118_epoch_shuffle" -> q118Sql,
    "q119_upsample_shuffle" -> q119Sql,
    "q120_epoch_batches" -> q120Sql,
    "q121_training_tail" -> q121Sql,
    "q122_epoch_export" -> q122Sql,
    "q123_tail_export" -> q123Sql,
    "q124_pack_segments" -> q124Sql,
    "q126_packed_stream" -> q126Sql,
  )
}
