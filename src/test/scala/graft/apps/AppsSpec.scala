package graft.apps

import graft.SparkTestBase
import graft.sinks.Sinks
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** End-to-end lakehouse runs of the job-for-job reference equivalents. */
class AppsSpec extends SparkTestBase {
  import spark.implicits._

  private def work(): String = Files.createTempDirectory("graft_apps_").toString

  test("login path: dims -> DWS enrich -> DM serve shape") {
    val w = work()
    // seed dims (what DimUpsert maintains incrementally)
    Sinks.upsertParquet(spark,
      Seq(("uid1", "4", "9371", "30804")).toDF("user_id", "member_level", "member_points", "balance"),
      Layout.dim(w, "DIM_MEMBER_INFO"), "user_id", "member_level")
    Sinks.upsertParquet(spark,
      Seq(("uid1", "Beijing", "Beijing", "CBD")).toDF("user_id", "province", "city", "area"),
      Layout.dim(w, "DIM_MEMBER_ADDRESS"), "user_id", "province")

    implicit val sc = spark.sqlContext
    val in = MemoryStream[(String, String, String, String)]
    val logins = in.toDF().toDF("user_id", "ip", "login_tm", "logout_tm")
    val q = DwsLoginEnrich.run(spark, logins, w)
    in.addData(("uid1", "1.2.3.4", "2022-03-08 12:03:06", "2022-03-08 13:36:09"),
      ("uid-miss", "5.6.7.8", "2022-03-08 12:00:00", "2022-03-08 12:30:00"))
    q.processAllAvailable(); q.stop()

    val dws = spark.read.parquet(Layout.dws(w, "USER_LOGIN")).orderBy("user_id")
    val rows = dws.select("user_id", "member_level", "province")
      .as[(String, Option[String], Option[String])].collect()
    assert(rows.toSeq == Seq(
      ("uid-miss", None, None), ("uid1", Some("4"), Some("Beijing"))))
  }

  test("CDC path: ods routing -> dim envelope -> dim upsert") {
    val w = work()
    implicit val sc = spark.sqlContext
    val in = MemoryStream[(String, String, String, String, Map[String, String])]
    val cdc = in.toDF().toDF("database", "table", "type", "ts", "data")
    val config = Seq(("lakehousedb", "mc_member_info", "DIM_MEMBER_INFO", "id",
      "user_id,member_level,balance"))
      .toDF("tbl_db", "tbl_name", "phoenix_tbl_name", "pk_col", "cols")
    val q = OdsDbIngest.run(spark, cdc, config, w)
    in.addData(
      // dim record (config hit)
      ("lakehousedb", "mc_member_info", "insert", "1648300465",
        Map("id" -> "9997", "user_id" -> "uid756103", "member_level" -> "4", "balance" -> "30804")),
      // fact record (no config entry)
      ("lakehousedb", "mc_user_login", "insert", "1648300467",
        Map("id" -> "9992", "user_id" -> "uid185880", "ip" -> "54.223.109.158",
          "login_tm" -> "1646741786000", "logout_tm" -> "1646747369000")),
      // foreign database -> dropped
      ("otherdb", "mc_user_login", "insert", "1", Map("id" -> "1")))
    q.processAllAvailable(); q.stop()

    val facts = spark.read.parquet(Layout.ods(w, "USER_LOGIN"))
    assert(facts.count() == 1)
    assert(facts.select("user_id").as[String].head() == "uid185880")

    val dimEnv = spark.read.parquet(s"$w/topics/dim_envelope")
    assert(dimEnv.count() == 1)
    val env = dimEnv.select("phoenix_tbl_name", "pk_col", "cols", "tp")
      .as[(String, String, String, String)].head()
    assert(env == ("DIM_MEMBER_INFO", "id", "user_id,member_level,balance", "insert"))

    // consume the ACTUAL envelope with DimUpsert — NO schema registry:
    // the table's all-String schema is derived from the config's cols
    // CSV carried on the envelope (reference runtime-DDL semantics),
    // upsert on the envelope's pk_col (bootstrap-insert upserts, T7)
    val envStream = spark.readStream
      .schema(spark.read.parquet(s"$w/topics/dim_envelope").schema)
      .parquet(s"$w/topics/dim_envelope")
    val q2 = DimUpsert.run(spark, envStream, w)
    q2.processAllAvailable(); q2.stop()
    val dim = spark.read.parquet(Layout.dim(w, "DIM_MEMBER_INFO"))
    assert(dim.count() == 1)
    // payload parsed to columns, keyed on pk, no bookkeeping column
    assert(dim.columns.toSet == Set("id", "user_id", "member_level", "balance"))
    assert(dim.select("id", "user_id", "member_level")
      .as[(String, String, String)].head() == ("9997", "uid756103", "4"))
  }

  test("CDC path: a batch without facts or without dims writes no file for that slice") {
    val w = work()
    implicit val sc = spark.sqlContext
    val in = MemoryStream[(String, String, String, String, Map[String, String])]
    val cdc = in.toDF().toDF("database", "table", "type", "ts", "data")
    val config = Seq(("lakehousedb", "mc_member_info", "DIM_MEMBER_INFO", "id", "user_id"))
      .toDF("tbl_db", "tbl_name", "phoenix_tbl_name", "pk_col", "cols")
    val (facts, dims) = (Layout.ods(w, "USER_LOGIN"), s"$w/topics/dim_envelope")
    def files(dir: String): Set[String] = {
      val base = java.nio.file.Paths.get(dir)
      import scala.jdk.CollectionConverters._
      Files.walk(base).iterator().asScala.filter(Files.isRegularFile(_))
        .map(base.relativize(_).toString).toSet
    }
    val q = OdsDbIngest.run(spark, cdc, config, w)
    try {
      in.addData(("lakehousedb", "mc_user_login", "insert", "1",
        Map("id" -> "1", "user_id" -> "u1", "ip" -> "1.2.3.4")))
      q.processAllAvailable()
      // the dim slice was empty: its directory exists for a file stream
      // to start on, but holds no file that would start an empty batch
      assert(Files.isDirectory(java.nio.file.Paths.get(dims)))
      assert(files(dims).isEmpty, files(dims))
      val factFiles = files(facts)
      assert(factFiles.exists(_.endsWith(".parquet")))

      in.addData(("lakehousedb", "mc_member_info", "insert", "2",
        Map("id" -> "7", "user_id" -> "u7")))
      q.processAllAvailable()
      assert(files(facts) == factFiles)
      assert(files(dims).exists(_.endsWith(".parquet")))
    } finally q.stop()
    assert(spark.read.parquet(facts).count() == 1)
    assert(spark.read.parquet(dims).count() == 1)
  }

  test("dim upsert: cols CSV creates a never-seen table; bad identifiers sanitized") {
    val w = work()
    implicit val sc = spark.sqlContext
    val in = MemoryStream[(String, String, String, String, String)]
    val env = in.toDF().toDF("phoenix_tbl_name", "pk_col", "cols", "tp", "data")
    val q = DimUpsert.run(spark, env, w) // empty registry: creation must not need one
    in.addData(
      ("DIM_NEVER_SEEN", "id", "name, weird col!; x", "insert",
        """{"id":"1","name":"n1","weirdcolx":"v"}"""))
    q.processAllAvailable(); q.stop()
    val dim = spark.read.parquet(Layout.dim(w, "DIM_NEVER_SEEN"))
    assert(dim.columns.toSet == Set("id", "name", "weirdcolx"))
    assert(dim.select("id", "name", "weirdcolx")
      .as[(String, String, String)].collect().toSeq == Seq(("1", "n1", "v")))
  }

  test("dim upsert: same-batch insert+update resolves to the later record") {
    val w = work()
    import org.apache.spark.sql.types._
    val schema = new StructType().add("id", StringType).add("level", StringType)
    implicit val sc = spark.sqlContext
    val in = MemoryStream[(String, String, String, String)]
    val env = in.toDF().toDF("phoenix_tbl_name", "pk_col", "tp", "data")
    val q = DimUpsert.run(spark, env, w, Map("DIM_X" -> schema))
    in.addData(
      ("DIM_X", "id", "insert", """{"id":"9","level":"old"}"""),
      ("DIM_X", "id", "update", """{"id":"9","level":"new"}"""))
    q.processAllAvailable()
    // next batch: an update beats the stored row regardless
    in.addData(("DIM_X", "id", "update", """{"id":"9","level":"newest"}"""))
    q.processAllAvailable(); q.stop()
    val dim = spark.read.parquet(Layout.dim(w, "DIM_X"))
      .as[(String, String)].collect()
    assert(dim.toSeq == Seq(("9", "newest")))
  }

  test("DM serving: visit window counts over the wide stream") {
    val w = work()
    implicit val sc = spark.sqlContext
    val in = MemoryStream[(java.sql.Timestamp, String, String, String)]
    val wide = in.toDF().toDF("event_ts", "first_category_name",
      "second_category_name", "product_name")
    val q = DmVisitWindow.run(spark, wide, w)
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    in.addData(
      (t("2024-01-01 00:00:01"), "汽车用品", "维修保养", "汽车玻璃"),
      (t("2024-01-01 00:00:09"), "汽车用品", "维修保养", "汽车玻璃"))
    q.processAllAvailable()
    in.addData((t("2024-01-01 00:05:00"), "a", "b", "c")) // advance watermark
    q.processAllAvailable(); q.stop()
    val out = spark.read.parquet(Layout.dm(w, "dm_product_visit_info"))
    val r = out.filter($"product_name" === "汽车玻璃")
      .select("current_dt", "window_start", "window_end", "cnt")
      .as[(String, String, String, Long)].collect()
    assert(r.toSeq == Seq(
      ("2024-01-01", "2024-01-01 00:00:00", "2024-01-01 00:00:10", 2L)))
  }

  test("DWD route: cleanse + per-table filter + dynamic-topic copy") {
    val w = work()
    implicit val sc = spark.sqlContext
    val in = MemoryStream[(String, String, String, String, String, String)]
    val ods = in.toDF().toDF("iceberg_ods_tbl_name", "kafka_dwd_topic",
      "id", "user_id", "login_tm", "logout_tm")
    val q = DwdRoute.run(spark, ods, w)
    in.addData(
      ("ODS_USER_LOGIN", "KAFKA-DWD-USER-LOGIN-TOPIC", "1", "uid1",
        "1646741786000", "1646747369000"),
      ("ODS_OTHER", "KAFKA-DWD-OTHER-TOPIC", "2", "uid2", "0", "0"),
      ("ODS_USER_LOGIN", "KAFKA-DWD-USER-LOGIN-TOPIC", "3", null, "1", "2")) // null user dropped
    q.processAllAvailable(); q.stop()
    val dwd = spark.read.parquet(Layout.dwd(w, "USER_LOGIN"))
    assert(dwd.count() == 1)
    assert(dwd.select("login_tm").as[String].head() == "2022-03-08 12:16:26")
    val topics = spark.read.parquet(s"$w/topics/dwd")
      .select("topic").distinct().as[String].collect().toSet
    assert(topics == Set("KAFKA-DWD-USER-LOGIN-TOPIC", "KAFKA-DWD-OTHER-TOPIC"))
  }

  test("DM login serve stamps the current date") {
    val w = work()
    implicit val sc = spark.sqlContext
    val in = MemoryStream[(String, String, String, String, String)]
    val dws = in.toDF().toDF("province", "city", "user_id", "login_tm", "gmt_create")
    val q = DmLoginServe.run(spark, dws, w)
    in.addData(("Beijing", "Beijing", "uid1", "2022-03-08 12:03:06", "1645019079851"))
    q.processAllAvailable(); q.stop()
    val out = spark.read.parquet(Layout.dm(w, "dm_user_login_info"))
    val r = out.select("dt", "user_id").as[(String, String)].head()
    assert(r._1.matches("\\d{4}-\\d{2}-\\d{2}") && r._2 == "uid1")
  }

  test("corpus curation: quality gate, exact dedup, near-dup clustering") {
    val good = "the cat and the dog of the house ran to the park in the morning " * 8
    val nearGood = good.replaceFirst("morning", "evening")
    val short = "the a and"                      // fails length -> low quality
    val nonEn = "der hund und die katze und der vogel und die maus laufen und spielen"
    val docs = Seq(
      (1L, good), (2L, good),                    // exact dup pair
      (3L, nearGood),                            // near dup of 1
      (4L, short), (5L, nonEn),
      (6L, ("spark catalyst optimizer and the tungsten engine of the runtime " +
        "compile the plans to the bytecode in the executors every day ") * 8))
      .toDF("doc_id", "text")
    val (survivors, rep) = CorpusCuration.run(spark, docs)
    val ids = survivors.select("doc_id").as[Long].collect().toSet
    assert(rep.input == 6 && rep.afterQuality == 4) // 4,5 gated out
    assert(rep.afterExact == 3)                     // 2 collapses into 1
    assert(rep.afterNearDup == 2 && ids == Set(1L, 6L)) // 3 clusters into 1
    assert(rep.afterDecontam == 2)                  // no bench -> no-op stage

    // with an eval corpus: the survivor sharing 3-grams with it is
    // dropped (bloom probe, one-sided — over-removal only), the clean
    // survivor stays
    val bench = Seq((100L,
      "spark catalyst optimizer and the tungsten engine of the runtime compile"))
      .toDF("doc_id", "text")
    val (clean, rep2) = CorpusCuration.run(spark, docs, benchDocs = Some(bench))
    assert(rep2.afterNearDup == 2 && rep2.afterDecontam == 1)
    assert(clean.select("doc_id").as[Long].collect().toSet == Set(1L))
  }

  test("corpus curation: boilerplate stage scrubs shared banners before the quality gate") {
    val banner = // 12 words — segment-aligned at segWords=4
      "subscribe to the site newsletter today for the free daily updates now"
    // distinct 24-word bodies, each prefixed by the same 12-word banner
    def body(i: Int) = (s"the cat n$i and the dog d$i of the house h$i ran " +
      s"to the park p$i in the morning m$i with the ball b$i")
    val docs = (0 until 25).map(i => (i.toLong, s"$banner ${body(i)}"))
      .toDF("doc_id", "text")
    val (plain, _) = CorpusCuration.run(spark, docs)
    val (scrubbed, rep) = CorpusCuration.run(spark, docs,
      boilerplate = Some(CorpusCuration.BoilerplateStage(segWords = 4, minDocs = 20)))
    assert(rep.input == 25) // the stage rewrites text, never drops rows
    // every survivor's text lost the banner but kept its body words
    val texts = scrubbed.select("text").as[String].collect()
    assert(texts.nonEmpty)
    texts.foreach { t =>
      assert(!t.contains("newsletter"), s"banner survived: $t")
      assert(t.contains("the cat"), s"body lost: $t")
    }
    // without the stage the banner rides through untouched
    assert(plain.select("text").as[String].collect().forall(_.contains("newsletter")))
  }

  test("corpus curation: semantic stage prunes within-cell redundancy " +
    "between near-dup and decontam") {
    val good = "the cat and the dog of the house ran to the park in the morning " * 8
    val docs = Seq(
      (1L, good),
      (6L, ("spark catalyst optimizer and the tungsten engine of the runtime " +
        "compile the plans to the bytecode in the executors every day ") * 8))
      .toDF("doc_id", "text")
    // both docs are lexically distinct (pass every lexical stage) but
    // live in the same embedding cell with cosine ≈ 1: SemDeDup keeps
    // the member closest to the cell centroid (doc 1)
    val embeddings = Seq(
      (1L, Seq(1.0, 0.01)), (6L, Seq(0.99, 0.02)),
      (4L, Seq(0.0, 1.0))) // id outside the survivor set: ignored
      .toDF("vec_id", "embedding")
    val cents = (Array(0L, 1L), Array(Array(1.0, 0.0), Array(0.0, 1.0)))
    val (surv, rep) = CorpusCuration.run(spark, docs,
      semantic = Some(CorpusCuration.SemanticStage(embeddings, cents)))
    assert(rep.afterNearDup == 2 && rep.afterSemantic == 1
      && rep.afterDecontam == 1,
      s"expected 2 -> 1 -> 1, got $rep")
    assert(surv.select("doc_id").as[Long].collect().toSet == Set(1L))
    // a doc WITHOUT an embedding row passes through unpruned — the
    // stage only drops docs it positively scored as redundant
    val (surv2, rep2) = CorpusCuration.run(spark, docs,
      semantic = Some(CorpusCuration.SemanticStage(
        embeddings.filter($"vec_id" =!= 6L), cents)))
    assert(rep2.afterSemantic == 2)
    assert(surv2.select("doc_id").as[Long].collect().toSet == Set(1L, 6L))
    // and with no semantic stage the count passes through unchanged
    val (_, rep3) = CorpusCuration.run(spark, docs)
    assert(rep3.afterSemantic == rep3.afterNearDup)
  }

  test("curation publish: survivors shard out verified, manifest agrees with report") {
    val docs = graft.Tables(spark, sf).documents
    val pub = work() + "/published"
    // the bench-pipeline configuration: semantic stage with fixed
    // data-defined centroids (q66's), so publish covers every stage
    val emb = graft.Tables(spark, sf).embeddings
    val centRows = emb.filter(col("vec_id") < 4)
      .select(col("vec_id"), col("embedding")).orderBy("vec_id").collect()
    val cents = (centRows.map(_.getLong(0)),
      centRows.map(_.getSeq[Any](1)
        .map(_.asInstanceOf[Number].doubleValue).toArray))
    val out = CorpusCuration.runAndPublish(spark, docs, pub,
      nShards = 4, minQuality = 0.0,
      semantic = Some(CorpusCuration.SemanticStage(emb, cents,
        threshold = 0.35)))
    // the manifest describes exactly the published survivors: row
    // total matches the report's final stage, data files agree
    val manifestRows = out.manifest.agg(sum("n_rows")).as[Long].head
    assert(manifestRows == out.report.afterDecontam,
      s"manifest $manifestRows vs report ${out.report.afterDecontam}")
    assert(out.publishedRows == manifestRows,
      "the carried row total must be the manifest's")
    assert(out.report.afterSemantic <= out.report.afterNearDup)
    assert(out.publishSec > 0.0)
    assert(spark.read.parquet(s"$pub/data").count() == manifestRows)
    // and the published layout re-verifies clean after the fact
    assert(Sinks.verifyShards(spark, pub, "doc_id")
      .filter(!col("ok")).count() == 0)
  }

  test("dataloader-facing publish: length-banded layout prunes band reads") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      // the trainer configuration the runAndPublish scaladoc names:
      // shard = length band, zones + within-shard sort on n_chars
      val docs = graft.Tables(spark, sf).documents
        .withColumn("len_band",
          least(floor(col("n_chars") / 150L), lit(3L)).cast("long"))
      val pub = work() + "/published"
      CorpusCuration.runAndPublish(spark, docs, pub, nShards = 4,
        minQuality = 0.0, zoneCols = Seq("n_chars"),
        shardCol = Some("len_band"), sortCols = Seq("n_chars"))
      val stats = Sinks.shardStats(spark, pub)
      assert(stats.columns.contains("zmin_n_chars"))
      assert(stats.select("spec_sort").head().getString(0) == "n_chars")
      // a trainer pulling one sequence-length band reads through the
      // plain door; the injected rule prunes to the band's shard(s)
      val q = spark.read.parquet(s"$pub/data")
        .filter(col("n_chars") >= 150 && col("n_chars") <= 299)
      val got = q.select("doc_id").collect().map(_.getLong(0)).sorted
      val want = spark.read.parquet(s"$pub/data")
        .select("doc_id", "n_chars").collect()
        .filter(r => r.getLong(1) >= 150 && r.getLong(1) <= 299)
        .map(_.getLong(0)).sorted
      assert(got.sameElements(want), "band read must lose nothing")
      val scan = q.queryExecution.executedPlan.collect {
        case s: FileSourceScanExec => s }.head
      val total = Sinks.shardStats(spark, pub).count()
      assert(scan.metrics("numFiles").value < total,
        s"band read should open fewer than $total files")
    } finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
  }

  test("generation drift audit gates a re-curation against the live publish") {
    val docs = graft.Tables(spark, sf).documents
    val pub = work() + "/published"
    CorpusCuration.runAndPublish(spark, docs, pub, nShards = 4,
      minQuality = 0.0)
    val lenBucket = floor(length(col("text")) / 100)
    // candidate == the live corpus -> zero drifted buckets
    val live = spark.read.parquet(s"$pub/data")
    val same = CorpusCuration.generationDrift(spark, pub, live, lenBucket)
    assert(same.filter(col("drifted")).count() == 0)
    // candidate that cut every short doc -> the low buckets drift
    val skewed = live.filter(length(col("text")) >= 250)
    assert(skewed.count() > 0 && skewed.count() < live.count())
    val audit = CorpusCuration.generationDrift(spark, pub, skewed, lenBucket)
      .as[(Long, Long, Long, Boolean)].collect()
    assert(audit.exists(_._4), s"expected drift, got ${audit.toSeq}")
    // every flagged bucket really moved: recompute one flag by hand
    val na = audit.map(_._2).sum
    val nb = audit.map(_._3).sum
    audit.foreach { case (_, ca, cb, drifted) =>
      val lhs = (BigInt(ca) * nb - BigInt(cb) * na).abs * 100
      assert(drifted == (lhs > BigInt(na) * nb), "flag arithmetic mismatch")
    }
  }

  test("delta re-curation over an unchanged corpus links every shard forward") {
    val docs = graft.Tables(spark, sf).documents
    val pub = work() + "/published"
    val out1 = CorpusCuration.runAndPublish(spark, docs, pub,
      nShards = 4, minQuality = 0.0)
    def files(): Map[String, Set[String]] = (0 until 4).map { s =>
      val d = new java.io.File(s"$pub/data/shard=$s")
      s"shard=$s" -> Option(d.list())
        .map(_.filter(_.endsWith(".parquet")).toSet).getOrElse(Set.empty[String])
    }.toMap
    val f1 = files()
    // identical input re-curated with delta=true: the survivor set is
    // unchanged, so every shard hard-links forward — nothing rewritten
    val out2 = CorpusCuration.runAndPublish(spark, docs, pub,
      nShards = 4, minQuality = 0.0, delta = true)
    assert(files() == f1, "unchanged corpus must rewrite no data files")
    assert(out2.publishedRows == out1.publishedRows)
    assert(Sinks.verifyShards(spark, pub, "doc_id")
      .filter(!col("ok")).count() == 0)
  }

  test("curation publish of an empty survivor set yields an empty, checkable layout") {
    // a quality gate strict enough to drop everything must publish an
    // EMPTY corpus (empty manifest, vacuously clean verify), not die
    // on parquet schema inference
    val docs = graft.Tables(spark, sf).documents
    val pub = work() + "/published_empty"
    val out = CorpusCuration.runAndPublish(spark, docs, pub,
      nShards = 4, minQuality = 1.0e9)
    assert(out.report.afterQuality == 0)
    assert(out.manifest.count() == 0)
    assert(Sinks.verifyShards(spark, pub, "doc_id").count() == 0)
  }

  test("streaming curation e2e: sessionize + incremental dedup publish a " +
    "time-travelable generation chain") {
    implicit val sc = spark.sqlContext
    val w = Files.createTempDirectory("graft_scur_").toString
    val shared = "shared boilerplate licence text that repeats verbatim here!"
    def pad(s: String) = (s + " filler words to round out the chunk body")
      .padTo(64, 'x').take(64)
    // events: (user_id, ts, doc_id, text)
    val in = MemoryStream[(Long, Long, Long, String)]
    val h = graft.apps.StreamingCuration.run(spark,
      in.toDF().toDF("user_id", "ts", "doc_id", "text"), w,
      gapSec = 100L, chunkSize = 64, chunkStep = 64,
      numHashes = 32, bands = 8, publishEvery = 1, nShards = 8,
      retainPrevious = true)
    try {
      // batch 1: two users, two docs; doc 2 ends with the shared span
      in.addData(
        (10L, 1000L, 1L, pad("alpha document opening") + shared),
        (20L, 2000L, 2L, pad("unrelated clean document") + pad("clean two")))
      h.processAllAvailable()
      val gen1 = graft.apps.StreamingCuration.corpus(spark, w)
        .select("chunk_id").as[String].collect().toSet
      assert(gen1 == Set("1#0", "1#1", "2#0", "2#1"))
      // first publish displaced nothing — chain is empty
      assert(graft.apps.StreamingCuration.corpusVersions(spark, w).isEmpty)

      // batch 2: same user 10 extends its session; doc 3 repeats the
      // shared span (its second chunk dedups against the corpus store)
      in.addData((10L, 1050L, 3L, pad("gamma different opening") + shared))
      h.processAllAvailable()
      val vs1 = graft.apps.StreamingCuration.corpusVersions(spark, w)
      assert(vs1.size == 1, s"expected one retained generation, got $vs1")
      // live corpus: 3#0 survives, 3#1 deduped away
      val gen2 = graft.apps.StreamingCuration.corpus(spark, w)
        .select("chunk_id").as[String].collect().toSet
      assert(gen2 == gen1 + "3#0", s"live generation: $gen2")
      // time travel reproduces generation 1 exactly
      val back1 = graft.apps.StreamingCuration.corpusAt(spark, w, vs1.head)
        .select("chunk_id").as[String].collect().toSet
      assert(back1 == gen1, s"readAt(gen1) diverged: $back1")
      // and the retained generation's manifest verifies against the
      // retained bytes (the chain is not just present but checkable)
      assert(Sinks.verifyShards(spark,
          s"$w/corpus/pub/_versions/${vs1.head}", "chunk_id")
        .filter(!col("ok")).count() == 0)

      // batch 3: a third doc grows the chain to two generations,
      // oldest first
      in.addData((30L, 9000L, 4L, pad("delta fresh document text here")))
      h.processAllAvailable()
      val vs2 = graft.apps.StreamingCuration.corpusVersions(spark, w)
      assert(vs2.size == 2 && vs2.head == vs1.head,
        s"chain must grow oldest-first: $vs2")
      assert(graft.apps.StreamingCuration.corpusAt(spark, w, vs2(1))
        .select("chunk_id").as[String].collect().toSet == gen2)

      // sessions: user 10's two events (gap 50 <= 100) are ONE session
      // with 2 events; users 20/30 hold singletons — latest state per
      // session key via the upsert door
      val sess = graft.apps.StreamingCuration.sessions(spark, w)
        .select("user_id", "session_id", "n_events")
        .as[(Long, Long, Long)].collect().toSet
      assert(sess == Set((10L, 1L, 2L), (20L, 1L, 1L), (30L, 1L, 1L)),
        s"sessions: $sess")
    } finally h.stop()
  }

  test("browse path: category self-join enrich -> points batch -> maintenance") {
    val w = work()
    Sinks.upsertParquet(spark,
      Seq(("demHQ6TADV", "汽车玻璃")).toDF("product_id", "product_name"),
      Layout.dim(w, "DIM_PRODUCT_INFO"), "product_id", "product_name")
    Sinks.upsertParquet(spark,
      Seq(("14000", "100", "维修保养"), ("100", "0", "汽车用品"))
        .toDF("id", "p_id", "name"),
      Layout.dim(w, "DIM_PRODUCT_CATEGORY"), "id", "name")

    implicit val sc = spark.sqlContext
    val in = MemoryStream[(String, String, String, String, String)]
    val browse = in.toDF().toDF(
      "log_time", "user_id", "browse_product_code", "browse_product_tpcode", "obtain_points")
    val q = DwsBrowseEnrich.run(spark, browse, w)
    in.addData(
      ("2022-06-15 06:23:42", "uid813665", "demHQ6TADV", "14000", "42"),
      ("2022-06-15 07:00:00", "uid813665", "demHQ6TADV", "14000", "8"))
    q.processAllAvailable(); q.stop()

    val wide = spark.read.parquet(Layout.dws(w, "BROWSE_INFO"))
    val r = wide.orderBy("log_time")
      .select("product_name", "first_category_name", "second_category_name")
      .as[(String, String, String)].head()
    assert(r == ("汽车玻璃", "汽车用品", "维修保养"))

    val points = UserPointsBatch.run(spark, w)
      .select("log_time", "user_id", "total_points")
      .as[(String, String, Long)].collect()
    assert(points.toSeq == Seq(("2022-06-15", "uid813665", 50L)))

    val results = MaintenanceJob.run(spark, w, targetBytes = 1L << 30)
    assert(results.nonEmpty && results.forall { case (_, _, after) => after == 1 })
  }
}
