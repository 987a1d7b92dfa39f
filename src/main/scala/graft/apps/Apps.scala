package graft.apps

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.Cleanse
import graft.operators.Enrichment
import graft.sinks.Sinks
import graft.sources.Sources
import graft.storage.{ParquetDirFormat, TableFormat}
import graft.streaming.Pipelines

/** Job-for-job equivalents of the reference's runnable mains, wired from
  * the engine's modules. Each reference `main` built one Flink topology;
  * here each is a thin composition over `graft.streaming/operators/
  * sinks`, reading file-backed streams (drop-in Kafka via
  * `Sources.kafkaJsonStream` on a cluster with the connector jar) and
  * writing parquet lakehouse dirs (drop-in Iceberg via `writeTo`).
  *
  * | Reference job                                   | Here |
  * |-------------------------------------------------|------|
  * | ods/ProduceKafkaDBDataToODS                     | [[OdsDbIngest]] |
  * | ods/ProduceKafkaLogDataToODS                    | [[OdsLogIngest]] |
  * | dim/DimDataToHBase                              | [[DimUpsert]] |
  * | dwd/ProcessODSDataToDWD                         | [[DwdRoute]] |
  * | dws/Process+ProduceUserlogInToDWS (pair)        | [[DwsLoginEnrich]] |
  * | dws/Produce+ProductBrowseLogToDWS (pair)        | [[DwsBrowseEnrich]] |
  * | dm/ProcessUserLoginInfoToDM                     | [[DmLoginServe]] |
  * | dm/ProcessBrowseLogInfoToDM                     | [[DmVisitWindow]] |
  * | offlineanls/ProcessUserPoints                   | [[UserPointsBatch]] |
  * | offlineanls/CombinDataAndRemoveOldSnap          | [[MaintenanceJob]] |
  *
  * The reference's guava-conflict job pairs (SURVEY §0) collapse: one
  * streaming query enriches AND lands the wide rows, so the Kafka
  * round-trip jobs have no reason to exist here.
  */
object Layout {
  def ods(work: String, t: String): String = s"$work/lake/ODS_$t"
  def dwd(work: String, t: String): String = s"$work/lake/DWD_$t"
  def dws(work: String, t: String): String = s"$work/lake/DWS_$t"
  def dim(work: String, t: String): String = s"$work/dims/$t"
  def dm(work: String, t: String): String  = s"$work/serve/$t"
  def cp(work: String, job: String): String = s"$work/cp/$job"
}

/** ODS ingest of CDC data with config-driven dim/fact routing (J1+R1).
  * Facts land in their ODS table; dims go to the dim upsert path. */
object OdsDbIngest {
  def run(spark: SparkSession, cdc: DataFrame, config: DataFrame,
          work: String, fmt: TableFormat = ParquetDirFormat)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val routed = Pipelines.odsRouteCdc(cdc, config, sourceDb = "lakehousedb",
      factTableFor = when(col("table") === "mc_user_login", lit("ODS_USER_LOGIN")),
      factTopicFor = when(col("table") === "mc_user_login", lit("KAFKA-DWD-USER-LOGIN-TOPIC")))
    val isFact = col("route") === "fact" && col("iceberg_ods_tbl_name").isNotNull
    val isDim = col("route") === "dim"
    val (factDir, dimDir) = (Layout.ods(work, "USER_LOGIN"), s"$work/topics/dim_envelope")
    // An empty slice writes no file: each file starts a downstream
    // micro-batch. Its directory is still made, for a file stream to
    // start on. One shuffle-free job over the persisted batch tells which
    // slices hold rows; the fact writer runs first (dualSink's order) and
    // leaves the dim answer for the dim writer.
    var anyDim = false
    def mkdir(dir: String): Unit = {
      val p = new org.apache.hadoop.fs.Path(dir)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).mkdirs(p)
    }
    Sinks.dualSink(routed, Layout.cp(work, "ods_db"),
      b => {
        val (anyFact, dim) = b.select(coalesce(isFact, lit(false)), coalesce(isDim, lit(false)))
          .rdd.aggregate((false, false))(
            (a, r) => (a._1 || r.getBoolean(0), a._2 || r.getBoolean(1)),
            (x, y) => (x._1 || y._1, x._2 || y._2))
        anyDim = dim
        if (!anyFact) mkdir(factDir)
        else fmt.append(
          b.filter(isFact)
            .select(Cleanse.payload(col("data"), "id").as("id"),
              Cleanse.payload(col("data"), "user_id").as("user_id"),
              Cleanse.payload(col("data"), "ip").as("ip"),
              Cleanse.payload(col("data"), "login_tm").as("login_tm"),
              Cleanse.payload(col("data"), "logout_tm").as("logout_tm")),
          factDir)
      },
      b =>
        if (!anyDim) mkdir(dimDir)
        else b.filter(isDim)
          .select(col("phoenix_tbl_name"), col("pk_col"), col("cols"),
            col("type").as("tp"), to_json(col("data")).as("data"))
          .write.mode("append").parquet(dimDir),
      triggerMs = 200L)
  }
}

/** ODS ingest of browse logs (reference ProduceKafkaLogDataToODS). */
object OdsLogIngest {
  def run(spark: SparkSession, logs: DataFrame, work: String,
          fmt: TableFormat = ParquetDirFormat) = {
    val ods = Pipelines.odsBrowseLog(logs, "KAFKA-DWD-BROWSE-LOG-TOPIC")
    Sinks.dualSink(ods, Layout.cp(work, "ods_log"),
      b => fmt.append(b, Layout.ods(work, "BROWSELOG")),
      b => Sinks.kafkaDynamicTopicFrame(b, "kafka_dwd_topic")
        .write.mode("append").parquet(s"$work/topics/ods_envelope"),
      triggerMs = 200L)
  }
}

/** Dim envelope stream → keyed upsert per target table (reference
  * DimDataToHBase; Phoenix DDL-and-upsert becomes parquet MERGE).
  *
  * Consumes exactly what [[OdsDbIngest]] emits: (phoenix_tbl_name,
  * pk_col, cols, tp, data) with `data` a JSON payload string. Each
  * table's schema is DERIVED FROM THE CONFIG'S `cols` CSV — all-String
  * columns, exactly the reference's runtime DDL generation
  * (dim/DimDataToHBase.scala:79-93, MySQLUtil.scala:30-43) — so a
  * config row for a never-seen table CREATES its dim table on first
  * record, no registry edit or redeploy. An explicit `schemas` entry
  * overrides the derivation for tables wanting typed columns. An
  * envelope with neither (no `cols` column and no registry entry)
  * fails loudly rather than silently dropping dim records.
  *
  * Upserts key on the envelope's OWN pk_col. The version is
  * (batchId, within-batch arrival order), so a same-batch
  * insert+update for one key resolves to the LATER record — the
  * reference applies upserts sequentially, arrival order winning.
  * The bookkeeping column never lands in the dim table. */
object DimUpsert {
  /** `cols` CSV → all-String StructType (reference DDL semantics).
    * Identifiers are sanitized to `[A-Za-z0-9_]` — config text becomes
    * column names, and a quote or path char in an identifier must not
    * reach the filesystem/parquet layer. The pk column is included
    * even when the CSV omits it (the reference's DDL writes the pk
    * explicitly alongside cols). */
  def schemaFromCols(cols: String, pkCol: String): org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    def clean(s: String): String = s.trim.replaceAll("[^A-Za-z0-9_]", "")
    val names = (clean(pkCol) +: cols.split(",").toSeq.map(clean))
      .filter(_.nonEmpty).distinct
    require(names.nonEmpty, s"no usable column names in cols CSV '$cols'")
    StructType(names.map(StructField(_, StringType)))
  }

  def run(spark: SparkSession, envelope: DataFrame, work: String,
          schemas: Map[String, org.apache.spark.sql.types.StructType] = Map.empty,
          fmt: TableFormat = ParquetDirFormat) = {
    val hasCols = envelope.columns.contains("cols")
    envelope.writeStream
      .option("checkpointLocation", Layout.cp(work, "dim_upsert"))
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
        val keyCols =
          if (hasCols) batch.select(col("phoenix_tbl_name"), col("pk_col"), col("cols"))
          else batch.select(col("phoenix_tbl_name"), col("pk_col"),
            lit(null).cast("string").as("cols"))
        // one (pk, cols) declaration per table — bounded by config
        // size; a batch mixing envelope generations (cols present on
        // some rows, null on others) must pick a cols-bearing row
        val tables = keyCols.distinct().collect()
          .map(r => (r.getString(0), r.getString(1), Option(r.getString(2))))
          .groupBy(_._1)
          .map { case (_, rows) => rows.find(_._3.isDefined).getOrElse(rows.head) }
        tables.foreach { case (tbl, pk, colsCsv) =>
          val schema = schemas.get(tbl)
            .orElse(colsCsv.map(schemaFromCols(_, pk)))
            .getOrElse(throw new IllegalArgumentException(
              s"DimUpsert: no schema for dim table '$tbl' — envelope has no " +
                "cols CSV and no registry entry; refusing to drop dim records"))
          val slice = batch.filter(col("phoenix_tbl_name") === tbl)
            .withColumn("_arr", monotonically_increasing_id())
            .select(from_json(col("data"), schema).as("d"), col("_arr"))
            // batch id dominates (2^42 > any monotonic id for
            // realistic partition counts); within a batch the
            // monotonic id preserves per-partition arrival order
            .select(col("d.*"),
              (lit(id) * lit(1L << 42) + col("_arr")).as("_ver"))
          fmt.upsert(spark, slice, Layout.dim(work, tbl), pk,
            "_ver", keepVersionCol = false)
        }
      }
      .start()
  }
}

/** DWD cleanse + per-table routing (reference ProcessODSDataToDWD). */
object DwdRoute {
  def run(spark: SparkSession, ods: DataFrame, work: String,
          fmt: TableFormat = ParquetDirFormat) = {
    val cleansed = Pipelines.dwdCleanse(ods,
      requiredCols = Seq("user_id"), tsCols = Seq("login_tm", "logout_tm"))
    Sinks.dualSink(cleansed, Layout.cp(work, "dwd"),
      b => fmt.append(
        b.filter(col("iceberg_ods_tbl_name") === "ODS_USER_LOGIN")
          .drop("iceberg_ods_tbl_name", "kafka_dwd_topic"),
        Layout.dwd(work, "USER_LOGIN")),
      b => Sinks.kafkaDynamicTopicFrame(b, "kafka_dwd_topic")
        .write.mode("append").parquet(s"$work/topics/dwd"),
      triggerMs = 200L)
  }
}

/** DWS login enrichment (reference ProcessUserlogInToDWS + its pure-SQL
  * twin): facts ⋈ member dim ⋈ address dim, broadcast left joins.
  *
  * Dims are re-read INSIDE each micro-batch (foreachBatch), so dim
  * updates landed by [[DimUpsert]] between triggers are visible to the
  * next batch and a generation swap never strands a stream-lifetime
  * file listing — the Spark analog of the reference's 5-minute config
  * re-poll + per-record lookups (MySQLUtil.scala:46). */
object DwsLoginEnrich {
  def run(spark: SparkSession, logins: DataFrame, work: String,
          fmt: TableFormat = ParquetDirFormat) =
    logins.writeStream
      .option("checkpointLocation", Layout.cp(work, "dws_login"))
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        val member  = fmt.read(spark, Layout.dim(work, "DIM_MEMBER_INFO"))
        val address = fmt.read(spark, Layout.dim(work, "DIM_MEMBER_ADDRESS"))
        fmt.append(
          Pipelines.dwsEnrich(batch.toDF(), Seq(
            (member, "user_id", "user_id"), (address, "user_id", "user_id"))),
          Layout.dws(work, "USER_LOGIN"))
      }
      .start()
}

/** DWS browse enrichment incl. the category parent self-join (J3)
  * (reference ProduceBrowseLogToDWS + its twin). Dims re-read per
  * micro-batch — see [[DwsLoginEnrich]]. The wide row carries
  * `event_ts` (log_time as a real timestamp) so the DM window stage
  * can consume this output directly. */
object DwsBrowseEnrich {
  def run(spark: SparkSession, browse: DataFrame, work: String,
          fmt: TableFormat = ParquetDirFormat) =
    browse.writeStream
      .option("checkpointLocation", Layout.cp(work, "dws_browse"))
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        val product = fmt.read(spark, Layout.dim(work, "DIM_PRODUCT_INFO"))
        val category = fmt.read(spark, Layout.dim(work, "DIM_PRODUCT_CATEGORY"))
        val cats = Enrichment.hierarchySelfJoin(category, "id", "p_id", "name")
          .withColumnRenamed("first_name", "first_category_name")
          .withColumnRenamed("second_name", "second_category_name")
        // category key on the fact is the browse tp-code (the reference
        // probes DIM_PRODUCT_CATEGORY with it, ProduceBrowseLogToDWS:169-178)
        fmt.append(
          Pipelines.dwsEnrich(batch.toDF(),
              Seq((product, "browse_product_code", "product_id")))
            .join(broadcast(cats), col("browse_product_tpcode") === col("second_id"), "left_outer")
            .drop("first_id", "second_id")
            .withColumn("event_ts", to_timestamp(col("log_time"))),
          Layout.dws(work, "BROWSE_INFO"))
      }
      .start()
}

/** DM login serving rows (reference ProcessUserLoginInfoToDM): project
  * the wide row + stamp current date; JDBC on a cluster, parquet here. */
object DmLoginServe {
  def run(spark: SparkSession, dwsLogin: DataFrame, work: String,
          fmt: TableFormat = ParquetDirFormat) =
    fmt.streamAppend(
      dwsLogin.select(Cleanse.currentDateStr().as("dt"), col("province"),
        col("city"), col("user_id"), col("login_tm"), col("gmt_create")),
      Layout.dm(work, "dm_user_login_info"), Layout.cp(work, "dm_login"))
}

/** DM 10s product-visit window counts (reference ProcessBrowseLogInfoToDM). */
object DmVisitWindow {
  def run(spark: SparkSession, wide: DataFrame, work: String,
          fmt: TableFormat = ParquetDirFormat) =
    fmt.streamAppend(
      Pipelines.dmWindowCounts(wide, "event_ts",
        Seq("first_category_name", "second_category_name", "product_name"),
        windowSec = 10, watermark = "30 seconds"),
      Layout.dm(work, "dm_product_visit_info"), Layout.cp(work, "dm_visit"))
}

/** Batch user-points aggregation (reference ProcessUserPoints): grouped
  * exact sum over the browse wide table → serving table. The job is a
  * FULL recompute, so the serving table is OVERWRITTEN — a scheduled
  * re-run that appended would duplicate every previously-written group
  * (the reference's retract stream upserts into MySQL, same effect). */
object UserPointsBatch {
  def run(spark: SparkSession, work: String,
          fmt: TableFormat = ParquetDirFormat): DataFrame = {
    val browse = fmt.read(spark, Layout.dws(work, "BROWSE_INFO"))
    val out = browse
      .groupBy(Cleanse.datePart(col("log_time")).as("log_time"),
        col("user_id"), col("product_name"))
      .agg(sum(col("obtain_points").cast("int")).as("total_points"))
    fmt.replace(out, Layout.dm(work, "user_points"))
    out
  }
}

/** End-to-end training-corpus curation over a documents table:
  * optional BOILERPLATE scrub (CCNet line-dedup over word segments) →
  * quality filter → language gate → exact-fingerprint dedup →
  * MinHash-LSH near-dup clustering (connected components) → optional
  * SEMANTIC dedup (SemDeDup: embedding cells → within-cell cosine
  * prune) → optional benchmark decontamination → survivors. Returns
  * (survivors, per-stage counts). Every stage is a DataFrame plan;
  * the only iterative pieces are the connected-components cluster
  * collapse and the (tiny, bench-side) bloom build.
  *
  * The semantic stage sits between near-dup and decontamination: it
  * removes the redundancy the LEXICAL stages can't see (paraphrases,
  * translations-of-boilerplate), so it runs on the lexically-deduped
  * survivor set (smallest input that still contains every semantic
  * cluster representative). Decontamination stays LAST — the cheapest
  * ordering, since every dedup stage shrinks the corpus the bloom
  * probe scans, while the probe could never un-contaminate a doc
  * dedup would keep. `benchDocs` is the eval corpus; a survivor
  * sharing ≥ `decontamMinHits` word 3-grams with it (bloom-probed,
  * one-sided error — over-removal only, never a kept contaminated
  * doc) is dropped. */
object CorpusCuration {
  import graft.functions.{Text, TextStats}
  import graft.operators.{Decontaminate, Dedup}

  /** Inputs of the optional SemDeDup stage: `embeddings` maps the
    * corpus id (`idCol`, joinable to the documents' `doc_id`) to its
    * vector (`vecCol`); `centroids` are model parameters — k-means
    * cells from [[graft.operators.Similarity.kmeansCentroids]] or any
    * fixed set (cells are THE 100 TB lever: within-cell scoring is
    * O(Σ cell²), so k grows with the corpus). Docs WITHOUT an
    * embedding row pass through unpruned — the stage only ever drops
    * a doc it positively scored as redundant. */
  final case class SemanticStage(
      embeddings: DataFrame,
      centroids: (Array[Long], Array[Array[Double]]),
      idCol: String = "vec_id", vecCol: String = "embedding",
      threshold: Double = 0.95)

  /** Optional FIRST stage: corpus-frequency boilerplate removal
    * ([[graft.operators.Boilerplate.scrubFrequentSegments]] — the
    * CCNet line-dedup step). It runs BEFORE the quality gate on
    * purpose: shared banners/navigation inflate stopword and length
    * signals, so scoring the scrubbed text is what CCNet does. The
    * stage rewrites `text` and preserves row count (a fully-
    * boilerplate doc becomes empty text and falls to the quality
    * gate), so [[Report]] needs no extra field. */
  final case class BoilerplateStage(segWords: Int = 8, minDocs: Long = 20)

  final case class Report(input: Long, afterQuality: Long, afterExact: Long,
                          afterNearDup: Long, afterSemantic: Long,
                          afterDecontam: Long)

  def run(spark: SparkSession, docs: DataFrame,
          minQuality: Double = 0.3, lang: String = "en",
          nearDupThreshold: Double = 0.5,
          benchDocs: Option[DataFrame] = None,
          decontamMinHits: Long = 1L,
          semantic: Option[SemanticStage] = None,
          boilerplate: Option[BoilerplateStage] = None): (DataFrame, Report) = {
    val base = boilerplate match {
      case Some(b) =>
        val scrubbed = graft.operators.Boilerplate
          .scrubFrequentSegments(docs, "text", "doc_id", b.segWords, b.minDocs)
          .select(col("doc_id"), col("clean_text").as("text"))
        docs.drop("text").join(scrubbed, Seq("doc_id"))
      case None => docs
    }
    // scrub preserves row count (BoilerplateStage contract), so the
    // input count comes from the raw docs — counting `base` would
    // execute the whole two-scan scrub once more just for this number
    val input = docs.count()
    // ONE MarkerCounts scan feeds both the quality score and the
    // language gate (the q31 projection shape) — the per-marker HOF
    // forms would re-scan each text ~20× for the same counts
    val gated = base
      .withColumn("_mc", TextStats.counts(col("text")))
      .withColumn("q_score", TextStats.qualityScore(col("text"), col("_mc")))
      .withColumn("pred_lang", TextStats.langId(col("_mc")))
      .filter(col("q_score") >= minQuality && col("pred_lang") === lang)
      .drop("_mc")
      .persist()
    val afterQuality = gated.count()

    val keep = gated.groupBy(Text.fingerprint(col("text")).as("fp"))
      .agg(min(col("doc_id")).as("doc_id"))
    val exact = gated.join(keep.select("doc_id"), Seq("doc_id"), "left_semi")
      .persist()
    val afterExact = exact.count()

    val pairs = Dedup.minHashLsh(exact, "text", "doc_id",
      estThreshold = nearDupThreshold)
    // scoped clustering (round-17): the loser-id set is pinned
    // (localCheckpoint — ids only, duplicate-bounded) INSIDE the
    // scope, so the cached cluster frame is released immediately and
    // neither the downstream counts nor the publish re-run the
    // clustering — the old form leaked one cached frame per
    // invocation (the round-15 advisor's long-lived-session finding)
    val dupLosers = Dedup.clusterDuplicatesScoped(pairs, spark) { clusters =>
      clusters.filter(col("id") =!= col("keep_id"))
        .select(col("id").as("doc_id")).localCheckpoint()
    }
    val deduped = exact.join(dupLosers, Seq("doc_id"), "left_anti")
    val afterNearDup = deduped.count()
    val semDeduped = semantic match {
      case Some(s) =>
        // embeddings of still-surviving docs only (left-semi: ids-only
        // probe, no vector payload moves for already-pruned docs)
        val emb = s.embeddings
          .select(col(s.idCol).as("doc_id"), col(s.vecCol))
          .join(deduped.select("doc_id"), Seq("doc_id"), "left_semi")
        val verdict = Dedup.semanticDedup(emb, s.vecCol, "doc_id", spark,
          s.centroids, s.threshold)
        val losers = verdict.filter(col("survivor_id") =!= col("doc_id"))
          .select("doc_id")
        deduped.join(losers, Seq("doc_id"), "left_anti")
      case None => deduped
    }
    val afterSemantic =
      if (semantic.isDefined) semDeduped.count() else afterNearDup
    val survivors = benchDocs match {
      case Some(bench) =>
        val flagged = Decontaminate.bloomHits(semDeduped, bench, "text", "doc_id")
          .filter(col("n_hits") >= decontamMinHits)
          .select("doc_id")
        semDeduped.join(flagged, Seq("doc_id"), "left_anti")
      case None => semDeduped
    }
    val afterDecontam =
      if (benchDocs.isDefined) survivors.count() else afterSemantic
    // free the stage caches now that every count is materialized — a
    // long-lived session would otherwise accumulate two pinned frames
    // per invocation (the round-1 advisor's leak class). The returned
    // survivors frame recomputes from source if re-used; callers
    // wanting a hot handle should persist it themselves.
    exact.unpersist()
    gated.unpersist()
    (survivors,
      Report(input, afterQuality, afterExact, afterNearDup, afterSemantic,
        afterDecontam))
  }

  /** Result of [[runAndPublish]] — a named shape on purpose: [[run]]
    * returns (survivors, report) and this returns a MANIFEST, so a
    * bare tuple would let a caller switch between the two and silently
    * bind the 5-column manifest where the corpus was expected.
    * `publishSec` is the wall-time of the publish handoff alone
    * (shard write + manifest, not curation) — the number a capacity
    * plan needs separately from the curate cost. */
  /** `publishedRows` is the manifest's verified row total — computed
    * (and required equal to `report.afterDecontam`) during the publish
    * cross-check, carried here so consumers don't re-read the manifest
    * (whose file index is only valid until the next publish over the
    * same path replaces the generation). */
  final case class Published(manifest: DataFrame, report: Report,
                             publishSec: Double, publishedRows: Long)

  /** [[run]] + the publish handoff: write the survivors as
    * deterministic shards + manifest ([[graft.sinks.Sinks.writeShards]])
    * and check the publish against the CURATION LINEAGE before
    * returning: the manifest is derived from the published files
    * (round 7), so re-verifying those same files right after writing
    * would be circular — the non-circular check is that the published
    * row total equals what the pipeline itself counted
    * (`report.afterDecontam`, materialized inside [[run]] — every
    * stage is deterministic, so the re-evaluated survivors lineage
    * publishes exactly the rows that count describes; reusing it also
    * means the expensive lineage runs ONCE here, for the write).
    * On a mismatch the manifest is DELETED before throwing, so a
    * known-bad publish can never pass a later
    * [[graft.sinks.Sinks.verifyShards]] — which remains the
    * POST-TRANSFER tool (re-reading moved bytes against the stored
    * manifest is exactly right once the data has shipped). */
  /** `delta = true` republishes through
    * [[graft.sinks.Sinks.publishDelta]]: only shards whose membership
    * changed since the live generation are rewritten, the rest
    * hard-link forward — the periodic re-curation workflow (crawl
    * grew, thresholds moved) where most of the corpus is unchanged
    * and a full rewrite is the dominant cost at scale. The pinned
    * survivors cache makes the double evaluation delta needs exact.
    *
    * Layout declarations pass through to the publisher: the default
    * (hash sharding, no zones) optimizes for balanced shards and
    * stable deltas, but a dataloader-facing corpus can declare e.g.
    * `shardCol` = a length bucket + `zoneCols`/`sortCols` on the
    * token count, so a trainer pulling one sequence-length band reads
    * 1/nShards of the corpus through the automatic pruning rules
    * instead of scanning everything (q86/q90 measure that read). */
  def runAndPublish(spark: SparkSession, docs: DataFrame, publishPath: String,
                    nShards: Int, minQuality: Double = 0.3,
                    lang: String = "en", nearDupThreshold: Double = 0.5,
                    benchDocs: Option[DataFrame] = None,
                    decontamMinHits: Long = 1L,
                    semantic: Option[SemanticStage] = None,
                    delta: Boolean = false,
                    zoneCols: Seq[String] = Nil,
                    shardCol: Option[String] = None,
                    sortCols: Seq[String] = Nil): Published = {
    import graft.sinks.Sinks
    val (survivors, report) = run(spark, docs, minQuality, lang,
      nearDupThreshold, benchDocs, decontamMinHits, semantic)
    // Pin the survivors so the row set that is COUNTED is the row set
    // that is WRITTEN (one cache materialization feeds both) — and
    // cross-check that count against the report's own number, which
    // catches a source that changed (or rolled new nondeterministic
    // values) between curation and publish.
    val pinned = survivors.persist()
    try {
      val expected = pinned.count()
      require(expected == report.afterDecontam,
        s"survivor count $expected no longer matches the curation " +
          s"report's ${report.afterDecontam} — the source changed (or is " +
          "nondeterministic) between curation and publish; aborting " +
          "before writing anything")
      val tPub = System.nanoTime()
      val manifest =
        if (delta) Sinks.publishDelta(pinned, publishPath, "doc_id", nShards,
          zoneCols = zoneCols, shardCol = shardCol, sortCols = sortCols)
        else Sinks.writeShards(pinned, publishPath, "doc_id", nShards,
          zoneCols = zoneCols, shardCol = shardCol, sortCols = sortCols)
      val publishSec = (System.nanoTime() - tPub) / 1e9
      val published = manifest
        .agg(coalesce(sum(col("n_rows")), lit(0L))).head.getLong(0)
      if (published != expected) {
        // poison the layout: a failed publish must not leave a
        // data+manifest pair that a later verifyShards would certify
        val mPath = new org.apache.hadoop.fs.Path(s"$publishPath/manifest")
        val fs = mPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
        val deleted = fs.delete(mPath, true)
        throw new IllegalStateException(
          s"publish at $publishPath wrote $published rows but the curation " +
            s"pipeline produced $expected — " +
            (if (deleted) "manifest deleted, do not trust this publish"
             else "AND THE MANIFEST DELETE FAILED: remove " +
               s"$publishPath/manifest manually before anything reads it"))
      }
      Published(manifest, report, publishSec, published)
    } finally pinned.unpersist()
  }

  /** Cross-generation QC audit: histogram drift of a CANDIDATE corpus
    * against the LIVE published generation at `publishPath`
    * ([[graft.operators.Drift.bucketShift]] — integer-exact shares,
    * O(buckets) report). This is the gate a periodic re-curation runs
    * BEFORE publishing: a threshold change or upstream shift that
    * skewed the distribution shows up as drifted buckets while the
    * previous generation is still live, instead of after the training
    * run that consumed the new one. Pure read + audit — touches
    * nothing, so it composes with the publish lease and delta door. */
  def generationDrift(spark: SparkSession, publishPath: String,
                      candidate: DataFrame,
                      bucket: org.apache.spark.sql.Column,
                      num: Long = 1, denom: Long = 100): DataFrame = {
    val live = spark.read.parquet(s"$publishPath/data")
    graft.operators.Drift.bucketShift(live, candidate, bucket, num, denom)
  }
}

/** Incremental CURATED-corpus refresh — the CDC consumption loop the
  * row-level doors exist for: when the BASE corpus publishes a new
  * generation, catch the curated corpus up by processing ONLY the
  * changed rows. [[graft.sinks.Sinks.readRowChanges]] yields the
  * semantic feed since the retained base generation; each inserted or
  * revised document is re-judged by the row-wise verdict and becomes
  * an upsert (passes) or a delete marker (fails — it may have been
  * curated before); each base deletion becomes a delete marker
  * (takedowns MUST propagate to derived corpora);
  * [[graft.sinks.Sinks.mergeRows]] applies the patch, rewriting only
  * the curated shards the patch touches. At 100 TB a 0.1% base
  * publish costs ~0.1% of rows judged plus the patched shards — the
  * full recuration it replaces costs the corpus.
  *
  * SCOPE — row-LOCAL curation stages only (quality/language gates,
  * PII scrub, decontamination against a fixed bench bloom): for
  * those, incremental refresh provably equals full recuration
  * (CurationRefreshSpec pins the equality). Corpus-frequency stages
  * (near-dup, boilerplate df, SemDeDup) are not row-local; their
  * incremental form is the [[graft.streaming.IncrementalDedup]]
  * machinery (new-vs-corpus candidate probing), composed separately.
  *
  * `verdict` must be a deterministic boolean over the base columns
  * (enforced downstream by mergeRows' patch gate). A verdict that is
  * NULL on a row counts as fail — curation keeps only positive
  * judgments, the same null posture as the curation cascade's
  * filters. */
object CurationRefresh {
  final case class Refreshed(manifest: DataFrame, upserts: Long,
                             deletes: Long)

  def run(spark: SparkSession, basePath: String, sinceStamp: String,
          curatedPath: String, idCol: String,
          verdict: org.apache.spark.sql.Column,
          retainPrevious: Boolean = false): Refreshed = {
    import graft.sinks.Sinks
    val feed = Sinks.readRowChanges(spark, basePath, sinceStamp, idCol)
    val dataCols = feed.columns.filterNot(_ == "_change_type").toSeq
    // pre-images carry no verdict to apply (the POST state decides);
    // one pass splits the feed into judged upserts and delete markers
    val judged = feed.filter(col("_change_type") =!= "update_preimage")
      .withColumn("_keep",
        col("_change_type") =!= "delete" && coalesce(verdict, lit(false)))
      .persist() // the feed is read twice (patch + counts) and its
                 // lineage re-plans two manifests per evaluation
    try {
      val patch = judged
        .select((dataCols.map(col) :+ (!col("_keep")).as("_drop")): _*)
      val counts = judged.agg(
        sum(when(col("_keep"), 1L).otherwise(0L)),
        sum(when(!col("_keep"), 1L).otherwise(0L))).head
      val manifest = Sinks.mergeRows(spark, curatedPath, patch, idCol,
        deleteWhen = Some(col("_drop")), retainPrevious = retainPrevious)
      Refreshed(manifest,
        if (counts.isNullAt(0)) 0L else counts.getLong(0),
        if (counts.isNullAt(1)) 0L else counts.getLong(1))
    } finally judged.unpersist()
  }
}

/** Compaction + snapshot expiry over every lakehouse dir (reference
  * CombinDataAndRemoveOldSnap). */
object MaintenanceJob {
  def run(spark: SparkSession, work: String,
          targetBytes: Long = 128L * 1024 * 1024,
          fmt: TableFormat = ParquetDirFormat): Seq[(String, Int, Int)] = {
    val root = new java.io.File(s"$work/lake")
    val dirs = Option(root.listFiles()).getOrElse(Array.empty)
      .filter(_.isDirectory).map(_.getAbsolutePath).toSeq
    dirs.map { d =>
      val (before, after) = fmt.compact(spark, d, targetBytes)
      fmt.expireSnapshots(spark, d)
      (d, before, after)
    }
  }
}

/** The canonical TRAINING-DATA TAIL in one pipeline — the composition
  * every stage of the sampling family was built toward:
  *
  *   DSIR weights → Gumbel-top-k resample → temperature UPSAMPLE →
  *   stratified split → replica-aware epoch shuffle → batch assignment
  *
  * (Xie et al.'s data selection, the multilingual flattened-mix
  * replication, the eval split, and the reproducible dataloader, end
  * to end.) Every stage flips its OWN salted door coin
  * ([[graft.operators.Sampling.knuthCoin]]) or a rounded-micro-nat
  * transcendental, so the output — every row's (doc, copy, batch) —
  * is a PURE FUNCTION of (corpus, parameters): bit-replayable across
  * runs, partitionings, and engines (q121's DuckDB oracle replays the
  * whole chain), and resumable at any training step.
  *
  * Scale shape: the weights pass is the corpus tokenize (bucketed
  * vocabulary — the model broadcasts at any corpus size, q115);
  * everything after the k-row resample operates on a BOUNDED frame,
  * pinned once with `localCheckpoint` because four downstream
  * consumers read it (the upsample's count+data sides, the rank
  * histogram+data sides) — without the pin each would re-run the
  * full-corpus tokenize, and the pin is also [[graft.operators
  * .Ranks]]'s reuse-safe materialization fence. One full-data range
  * exchange (the batch assignment) after the resample; nothing else
  * shuffles more than the k selected rows. */
object TrainingTail {
  import org.apache.spark.sql.Column
  import graft.operators.{Batching, Dsir, Sampling}

  /** Returns every row of `epoch`'s TRAIN split with its replica
    * index, global epoch position, and training batch id:
    * (idCol, copy_idx, domainCol, epoch_pos, batch_id). Batch counts
    * and sizes are derivable from the output (`max(batch_id)+1`,
    * `count per batch_id`) — no side report that would re-execute
    * the lineage. */
  /** The tail UP TO batch assignment: the (idCol, copy_idx,
    * domainCol) TRAIN split of the upsampled selection, pinned
    * (`localCheckpoint`) — ≤ k·⌈rate⌉ rows, the frame both [[run]]
    * (inline batch assignment) and [[exportTail]] (published shard
    * artifact) consume. */
  def trainSplit(spark: SparkSession, docs: DataFrame, targetPred: Column,
                 k: Int, alpha: Double, splits: Seq[(String, Double)],
                 textCol: String = "text", idCol: String = "doc_id",
                 domainCol: String = "lang",
                 nBuckets: Int = 4096): DataFrame = {
    val weights = Dsir.importanceWeightsWhen(
      docs, targetPred, textCol, idCol, nBuckets = nBuckets)
    val picked = Dsir.resample(weights, k, idCol)
    // k rows: broadcast the selection back onto the corpus for the
    // domain column, then pin — everything downstream is ≤ k·⌈rate⌉
    // rows and is read by four consumers (see object doc)
    val corpus = docs.select(col(idCol), col(domainCol))
      .join(broadcast(picked.select(idCol)), idCol)
      .localCheckpoint()
    val up = Sampling.mixByTemperatureUpsample(corpus, domainCol, idCol, alpha)
    // second pin, for the RANK fan-out: epochBatches' histogram and
    // data sides must read ONE reused range exchange, and the
    // upsample's nested AQE stages (rate broadcast, count shuffle)
    // under that exchange defeat the canonical-equality reuse check —
    // RanksSpec's one-materialized-exchange pin caught the double
    // materialization. A LogicalRDD below the exchange makes the two
    // consumers trivially equal (and the frame is ≤ k·⌈rate⌉ rows).
    Sampling.assignSplit(up, idCol, splits)
      .filter(col("split") === splits.head._1)
      .localCheckpoint()
  }

  def run(spark: SparkSession, docs: DataFrame, targetPred: Column,
          k: Int, alpha: Double, splits: Seq[(String, Double)],
          epoch: Int, batchSize: Int,
          textCol: String = "text", idCol: String = "doc_id",
          domainCol: String = "lang", nBuckets: Int = 4096): DataFrame = {
    val train = trainSplit(spark, docs, targetPred, k, alpha, splits,
      textCol, idCol, domainCol, nBuckets)
    Batching.epochBatches(train, idCol, epoch, batchSize,
      copyIdxCol = "copy_idx", keepCols = Seq(domainCol))
  }

  /** The CAPSTONE composition (round-16 verdict's missing #3): the
    * full training tail's UPSAMPLED train split published as the
    * epoch shard artifact — replica indices and the dispersed
    * replica-aware permutation land IN the bytes on disk, and a
    * trainer resumes at step N with a manifest-pruned batch-range
    * read ([[graft.sinks.Sinks.readShardsBetween]]), never a corpus
    * scan (q123 VALUE-oracles the resumed read against DuckDB
    * replaying all six salted doors). */
  def exportTail(spark: SparkSession, docs: DataFrame, targetPred: Column,
                 k: Int, alpha: Double, splits: Seq[(String, Double)],
                 epoch: Int, batchSize: Int, nShards: Int, path: String,
                 textCol: String = "text", idCol: String = "doc_id",
                 domainCol: String = "lang",
                 nBuckets: Int = 4096): DataFrame = {
    val train = trainSplit(spark, docs, targetPred, k, alpha, splits,
      textCol, idCol, domainCol, nBuckets)
    EpochExport.exportEpoch(spark, train, path, idCol, epoch, batchSize,
      nShards, copyIdxCol = "copy_idx", keepCols = Seq(domainCol))
  }

  /** The PACKED token stream of the tail's train split — the last
    * dataloader step: [[trainSplit]]'s (doc, copy) rows laid end to
    * end in the replica-aware epoch order and cut every `contextLen`
    * tokens ([[graft.operators.Packing.packSegments]] with the 3-arg
    * key). Pack order ≡ [[run]]'s batch order by construction (same
    * key, same tie-breaks), so "window w of epoch e" and "batch b of
    * epoch e" index the SAME permutation — q126 VALUE-oracles every
    * segment of the stream against DuckDB replaying all six doors
    * plus the packing arithmetic, ordered by the replayed epoch_pos.
    *
    * Token counts come from one corpus-scan projection joined to the
    * k-row selection via a broadcast of the SELECTION (never the
    * corpus); the joined frame is pinned (`localCheckpoint`, ≤
    * k·⌈rate⌉ rows) for the same reason as [[trainSplit]]'s second
    * pin — the broadcast stage under the pack's range exchange would
    * otherwise defeat the canonical-equality exchange reuse. */
  def packedStream(spark: SparkSession, docs: DataFrame, targetPred: Column,
                   k: Int, alpha: Double, splits: Seq[(String, Double)],
                   epoch: Int, contextLen: Int,
                   textCol: String = "text", idCol: String = "doc_id",
                   domainCol: String = "lang",
                   nBuckets: Int = 4096): DataFrame = {
    import graft.operators.Packing
    import graft.functions.Text
    val train = trainSplit(spark, docs, targetPred, k, alpha, splits,
      textCol, idCol, domainCol, nBuckets)
    // tokenize AFTER the selection join (round 17 — guide §1.2 "don't
    // compute things you throw away"): the pre-round-17 form counted
    // tokens for EVERY corpus document and then kept k·⌈rate⌉ of them;
    // joining the broadcast selection first tokenizes only survivors —
    // at 100 TB that is the difference between a corpus-wide tokenize
    // and a selection-sized one. Values are identical per row, so the
    // pack (and its q126 oracle) is unchanged.
    val withToks = docs
      .select(col(idCol), col(textCol))
      .join(broadcast(train.select(idCol, "copy_idx", domainCol)), idCol)
      .select(col(idCol), col("copy_idx"), col(domainCol),
        size(Text.tokens(col(textCol))).as("_ntoks"))
      .localCheckpoint()
    Packing.packSegments(withToks, idCol, col("_ntoks"), contextLen,
      epoch = epoch, copyIdxCol = "copy_idx", keepCols = Seq(domainCol))
  }
}

/** EPOCH SHARD EXPORT — the dataloader ARTIFACT at the end of
  * [[TrainingTail]]'s chain: materialize one epoch of a (possibly
  * upsampled) corpus as a published shard layout whose shards are
  * contiguous BATCH RANGES, zone-mapped and sorted on `batch_id` —
  * so a trainer resuming at step N reads `batches [a, b)` as a
  * manifest-pruned, shard-pruned, row-group-ordered scan
  * ([[graft.sinks.Sinks.readShardsBetween]] on `batch_id`), never a
  * corpus scan. Combined with the replica-aware shuffle key, the
  * whole artifact is a pure function of (corpus, epoch, batchSize):
  * re-exporting after a crash reproduces byte-identical batch
  * membership (q122 VALUE-oracles the pruned read against DuckDB
  * replaying the permutation).
  *
  * One `count()` of the input prices the shard geometry
  * (`batchesPerShard = ⌈batches / nShards⌉` — shard ids always fit
  * [0, nShards) at any corpus size); the assignment itself is
  * [[graft.operators.Batching.epochBatches]]'s one range exchange,
  * and the publish is the engine's standard manifest-verified shard
  * write. */
object EpochExport {
  import graft.operators.Batching

  def exportEpoch(spark: SparkSession, df: DataFrame, path: String,
                  idCol: String, epoch: Int, batchSize: Int,
                  nShards: Int, copyIdxCol: String = null,
                  keepCols: Seq[String] = Seq.empty): DataFrame = {
    require(nShards > 0, s"nShards must be positive, got $nShards")
    val assigned = Batching.epochBatches(df, idCol, epoch, batchSize,
      copyIdxCol, keepCols)
    val total = df.count()
    val batches = math.max(1L, (total + batchSize - 1) / batchSize)
    val perShard = math.max(1L, (batches + nShards - 1) / nShards)
    val withShard = assigned.withColumn("shard_key",
      expr(s"batch_id div $perShard"))
    Sinks.writeShards(withShard, path, idCol, nShards = nShards,
      zoneCols = Seq("batch_id"), shardCol = Some("shard_key"),
      sortCols = Seq("batch_id", "epoch_pos"))
  }
}
