package lakebench

import java.nio.file.{Files, Paths, StandardCopyOption}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import graft.apps._
import graft.operators.Enrichment
import graft.sinks.Sinks
import graft.storage.{ParquetDirFormat, TableFormat}
import graft.streaming.Pipelines

/** One input drop: when it is due (ms after the schedule start), its
  * three files (fact CDC, dim-update CDC, browse log), its record count,
  * the rows it adds to the ODS and DWS tables, and the latest event time
  * among the browse events that reach DWS. */
final case class Drop(due_ms: Long, cdc: String, dim: String, log: String, records: Long,
                      max_event_ms: Long,
                      browse_ods: Long, browse_dws: Long, login_ods: Long, login_dws: Long)


final case class Manifest(
    dir: String,
    periodMs: Long,
    warmupWaves: Int,
    warmupWaveDrops: Int,
    waveDrops: Int,
    maxFilesPerTrigger: Int,
    drops: Seq[Drop],
    dims: Map[String, String],
    dimConfig: Seq[Seq[String]]) {
  /** The dim routing config (`dim_tbl_config_info`) as a frame. */
  def config(spark: SparkSession): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(dimConfig.map(r => Row(r: _*)): _*),
      StructType(Seq("tbl_db", "tbl_name", "phoenix_tbl_name", "pk_col", "cols")
        .map(StructField(_, StringType))))
}

object Manifest {
  def load(dir: String): Manifest = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods.parse
    implicit val formats: Formats = DefaultFormats
    val j = parse(new String(Files.readAllBytes(Paths.get(dir, "manifest.json")), "UTF-8"))
    def long(k: String) = (j \ k).extract[Long]
    Manifest(dir, long("period_ms"), long("warmup_waves").toInt, long("warmup_wave_drops").toInt,
      long("wave_drops").toInt,
      long("max_files_per_trigger").toInt,
      (j \ "drops").extract[List[Drop]], (j \ "dims").extract[Map[String, String]],
      (j \ "dim_config").extract[List[List[String]]])
  }
}

/** The paper's streaming lakehouse, wired from the engine's public apps:
  * ODS (CDC routing and browse log, both through `Sinks.dualSink`), DIM
  * upsert, DWD cleanse, DWS enrichment and the DM window, each a
  * separate streaming query reading the previous layer's files. */
final class Lakehouse(spark: SparkSession, man: Manifest) {
  import Lakehouse._

  private def strings(names: String*) = StructType(names.map(StructField(_, StringType)))
  private def empty(schema: StructType) =
    spark.createDataFrame(java.util.Collections.emptyList[Row](), schema)

  private val envelopeSchema = strings("phoenix_tbl_name", "pk_col", "cols", "tp", "data")
  private val loginSchema = strings("id", "user_id", "ip", "login_tm", "logout_tm")
  private val config = man.config(spark)

  /** Bootstrap the four dimension tables with the engine's keyed upsert,
    * using the all-string schema `DimUpsert` derives from the config. */
  def bootstrapDims(work: String, fmt: TableFormat): Unit =
    man.dimConfig.foreach { case Seq(_, _, table, pk, cols) =>
      val df = spark.read.schema(DimUpsert.schemaFromCols(cols, pk))
        .json(s"${man.dir}/${man.dims(table)}")
      fmt.upsert(spark, df.withColumn("_ver", lit(0L)), Layout.dim(work, table), pk, "_ver",
        keepVersionCol = false)
    }

  /** Every stage's query, in pipeline order, as (stage, query, start).
    * Input and layer dirs are created first, so each file source starts
    * on an empty dir. `timed` wraps the closures this harness passes to
    * `dualSink`. Starting a query again resumes it from its checkpoint. */
  def stages(work: String, fmt: TableFormat,
             timed: (String, DataFrame => Unit) => DataFrame => Unit)
      : Seq[(String, String, () => StreamingQuery)] = {
    Seq("in/cdc", "in/log", "topics/dim_envelope", "lake/ODS_USER_LOGIN", "lake/ODS_BROWSELOG",
      "lake/DWD_USER_LOGIN", "lake/DWD_BROWSELOG", "lake/DWS_BROWSE_INFO")
      .foreach(d => Files.createDirectories(Paths.get(work, d)))
    def files(schema: StructType, dir: String) = spark.readStream.schema(schema).parquet(dir)
    val product = ParquetDirFormat.read(spark, Layout.dim(work, "DIM_PRODUCT_INFO"))
    val category = ParquetDirFormat.read(spark, Layout.dim(work, "DIM_PRODUCT_CATEGORY"))
    val odsBrowse = Reference.odsBrowse(empty(Pipelines.userLogSchema))
    val dwdBrowse = Reference.dwdBrowse(odsBrowse)
    def input(schema: StructType, dir: String) = {
      val r = spark.readStream.schema(schema)
      (if (man.maxFilesPerTrigger > 0) r.option("maxFilesPerTrigger", man.maxFilesPerTrigger.toLong)
       else r).json(dir)
    }
    val cdc = input(Pipelines.cdcSchema, s"$work/in/cdc")
    val logs = input(Pipelines.userLogSchema, s"$work/in/log")
    val envelope = files(envelopeSchema, s"$work/topics/dim_envelope")
    val odsLogin = files(loginSchema, Layout.ods(work, "USER_LOGIN"))
      .withColumn("iceberg_ods_tbl_name", lit("ODS_USER_LOGIN"))
      .withColumn("kafka_dwd_topic", lit("KAFKA-DWD-USER-LOGIN-TOPIC"))
    val dwdIn = Pipelines.dwdCleanse(files(odsBrowse.schema, Layout.ods(work, "BROWSELOG")),
      requiredCols = Seq("user_id"), tsCols = Seq("log_time"))
    val lakeWrite = timed("lake", b => fmt.append(b.drop(Envelope: _*), Layout.dwd(work, "BROWSELOG")))
    val topicWrite = timed("topic", b => Sinks.kafkaDynamicTopicFrame(b, "kafka_dwd_topic")
      .write.mode("append").parquet(s"$work/topics/dwd_browse"))
    val dwdLogin = files(loginSchema, Layout.dwd(work, "USER_LOGIN"))
    val dwdBrowseIn = files(dwdBrowse.schema, Layout.dwd(work, "BROWSELOG"))
    val dwsBrowse = files(Reference.dwsBrowse(dwdBrowse, product, category).schema,
      Layout.dws(work, "BROWSE_INFO"))
    Seq(
      ("ods", "ods_db", () => OdsDbIngest.run(spark, cdc, config, work, fmt)),
      ("ods", "ods_log", () => OdsLogIngest.run(spark, logs, work, fmt)),
      ("dim", "dim", () => DimUpsert.run(spark, envelope, work, fmt = fmt)),
      ("dwd", "dwd_login", () => DwdRoute.run(spark, odsLogin, work, fmt)),
      ("dwd", "dwd_browse", () => Sinks.dualSink(dwdIn, Layout.cp(work, "dwd_browse"), lakeWrite,
        topicWrite, triggerMs = 200L)),
      ("dws", "dws_login", () => DwsLoginEnrich.run(spark, dwdLogin, work, fmt)),
      ("dws", "dws_browse", () => DwsBrowseEnrich.run(spark, dwdBrowseIn, work, fmt)),
      ("dm", "dm", () => DmVisitWindow.run(spark, dwsBrowse, work, fmt)))
  }

  /** Stage drop `d`'s facts for the watched input dirs: copy to a hidden
    * name the file source ignores; `publish` renames, so no query sees a
    * partial file. */
  def stage(work: String, d: Drop): Seq[(java.nio.file.Path, java.nio.file.Path)] =
    Seq("cdc" -> d.cdc, "log" -> d.log).map { case (kind, rel) =>
      val name = Paths.get(rel).getFileName.toString
      val tmp = Paths.get(work, "in", kind, s".$name.tmp")
      Files.copy(Paths.get(man.dir, rel), tmp, StandardCopyOption.REPLACE_EXISTING)
      tmp -> Paths.get(work, "in", kind, name)
    }

  /** Stage the dim updates of `drops` as one CDC file, so they reach DIM
    * in one batch. */
  def stageDims(work: String, drops: Seq[Drop]): Seq[(java.nio.file.Path, java.nio.file.Path)] = {
    val name = drops.head.dim.replace('/', '-')
    val tmp = Paths.get(work, "in", "cdc", s".$name.tmp")
    val out = Files.newOutputStream(tmp)
    try drops.foreach(d => Files.copy(Paths.get(man.dir, d.dim), out)) finally out.close()
    Seq(tmp -> Paths.get(work, "in", "cdc", name))
  }

  def publish(staged: Seq[(java.nio.file.Path, java.nio.file.Path)]): Unit =
    staged.foreach { case (tmp, dst) => Files.move(tmp, dst, StandardCopyOption.ATOMIC_MOVE) }

  /** Per output file: its commit (modification) time and the creation
    * offsets of the events it holds, read back from `browse_product_url`. */
  def creationByFile(dir: String): Seq[Map[String, Any]] =
    if (!hasData(dir)) Nil
    else spark.read.parquet(dir)
      .select(input_file_name().as("f"),
        regexp_extract(col("browse_product_url"), "[?&]c=(\\d+)", 1).cast("long").as("c"))
      .groupBy("f").agg(collect_list("c").as("cs")).collect().toSeq
      .map(r => Map("commit_ms" -> mtime(r.getString(0)), "created" -> r.getSeq[Long](1)))

  /** Whether the DM table holds any committed row. The file sink's reader
    * sees committed files only; with none committed yet it cannot infer a
    * schema. */
  def dmCommitted(work: String): Boolean = {
    val dir = Layout.dm(work, "dm_product_visit_info")
    hasData(dir) && (try !spark.read.parquet(dir).isEmpty
    catch { case _: org.apache.spark.sql.AnalysisException => false })
  }

  /** Per DM output file and window: commit time, window end, row count. */
  def dmWindows(work: String): Seq[Map[String, Any]] = {
    if (!dmCommitted(work)) Nil
    else spark.read.parquet(Layout.dm(work, "dm_product_visit_info"))
      .groupBy(input_file_name().as("f"), col("window_end")).count().collect().toSeq
      .map(r => Map("commit_ms" -> mtime(r.getString(0)), "window_end" -> r.getString(1),
        "rows" -> r.getLong(2)))
  }

  /** Correctness of one round: streamed DWS and DM tables digest-equal a
    * batch run of the same operators over the same drops, and row counts
    * equal what the generator emitted. `closedBefore` is the DM watermark
    * (window ends at or before it are final). */
  def checks(work: String, released: Seq[Drop], closedBefore: String): Seq[(String, Boolean, String)] = {
    val ref = new Reference(spark, man, released)
    val closed = col("window_end") <= lit(closedBefore)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration.Duration
    // the digests are independent Spark jobs: run them concurrently
    val jobs = Seq(
      "dwsB" -> (() => ParquetDirFormat.read(spark, Layout.dws(work, "BROWSE_INFO"))),
      "dwsL" -> (() => ParquetDirFormat.read(spark, Layout.dws(work, "USER_LOGIN"))),
      "odsB" -> (() => ParquetDirFormat.read(spark, Layout.ods(work, "BROWSELOG"))),
      "odsL" -> (() => ParquetDirFormat.read(spark, Layout.ods(work, "USER_LOGIN"))),
      "dm" -> (() => spark.read.parquet(Layout.dm(work, "dm_product_visit_info")).filter(closed)),
      "refB" -> (() => ref.dwsBrowse),
      "refL" -> (() => ref.dwsLogin),
      "refDm" -> (() => ref.dm.filter(closed)))
    val d = Await.result(Future.sequence(jobs.map { case (k, df) => Future(k -> digest(df())) }),
      Duration.Inf).toMap
    def rows(d: String) = d.takeWhile(_ != ':').toLong
    def count(name: String, d: String, want: Long) =
      (name, rows(d) == want, s"rows=${rows(d)} expected=$want")
    def same(name: String, stream: String, batch: String) =
      (name, stream == batch, s"stream=$stream batch=$batch")
    Seq(
      count("dws_browse_rows", d("dwsB"), released.map(_.browse_dws).sum),
      count("dws_login_rows", d("dwsL"), released.map(_.login_dws).sum),
      count("ods_browse_rows", d("odsB"), released.map(_.browse_ods).sum),
      count("ods_login_rows", d("odsL"), released.map(_.login_ods).sum),
      same("dws_browse_digest", d("dwsB"), d("refB")),
      same("dws_login_digest", d("dwsL"), d("refL")),
      ("dm_closed_windows", rows(d("dm")) > 0, s"rows=${rows(d("dm"))} closed_before=$closedBefore"),
      same("dm_digest", d("dm"), d("refDm")))
  }
}

object Lakehouse {
  val Envelope: Seq[String] = Seq("iceberg_ods_tbl_name", "kafka_dwd_topic")
  val DmKeys: Seq[String] = Seq("first_category_name", "second_category_name", "product_name")

  def mtime(uri: String): Long = new java.io.File(new java.net.URI(uri)).lastModified()

  /** Whether a table dir holds any parquet data file yet. */
  def hasData(dir: String): Boolean = {
    val p = Paths.get(dir)
    Files.exists(p) && {
      val s = Files.walk(p)
      try s.anyMatch(f => f.getFileName.toString.endsWith(".parquet")) finally s.close()
    }
  }

  /** Order-independent content digest: row count and the sum of per-row
    * hashes over the columns in name order. */
  def digest(df: DataFrame): String = {
    val cols = df.columns.sorted.map(col)
    val r = df.agg(count(lit(1)), sum(xxhash64(cols: _*).cast("decimal(20,0)"))).head()
    s"${r.getLong(0)}:${Option(r.get(1)).getOrElse(0)}"
  }
}

/** Batch run of the same `Pipelines`/`apps` operators over the released
  * drops: the reference the streamed tables must equal. */
final class Reference(spark: SparkSession, man: Manifest, drops: Seq[Drop]) {
  import Reference._
  private def paths(f: Drop => String) = drops.map(d => s"${man.dir}/${f(d)}")

  def dim(table: String): DataFrame = {
    val Seq(_, _, _, pk, cols) = man.dimConfig.find(_(2) == table).get
    spark.read.schema(DimUpsert.schemaFromCols(cols, pk)).json(s"${man.dir}/${man.dims(table)}")
  }

  private lazy val browse = dwdBrowse(odsBrowse(
    spark.read.schema(Pipelines.userLogSchema).json(paths(_.log): _*)))
  lazy val dwsBrowse: DataFrame =
    Reference.dwsBrowse(browse, dim("DIM_PRODUCT_INFO"), dim("DIM_PRODUCT_CATEGORY"))
  lazy val dwsLogin: DataFrame = {
    val routed = Pipelines.odsRouteCdc(
      spark.read.schema(Pipelines.cdcSchema).json(paths(_.cdc): _*),
      man.config(spark),
      sourceDb = "lakehousedb",
      factTableFor = when(col("table") === "mc_user_login", lit("ODS_USER_LOGIN")),
      factTopicFor = when(col("table") === "mc_user_login", lit("KAFKA-DWD-USER-LOGIN-TOPIC")))
    val ods = routed.filter(col("route") === "fact" && col("iceberg_ods_tbl_name").isNotNull)
      .select(Seq("id", "user_id", "ip", "login_tm", "logout_tm")
        .map(c => graft.functions.Cleanse.payload(col("data"), c).as(c)): _*)
    Pipelines.dwsEnrich(
      Pipelines.dwdCleanse(ods, requiredCols = Seq("user_id"), tsCols = Seq("login_tm", "logout_tm")),
      Seq((dim("DIM_MEMBER_INFO"), "user_id", "user_id"), (dim("DIM_MEMBER_ADDRESS"), "user_id", "user_id")))
  }
  lazy val dm: DataFrame =
    Pipelines.dmWindowCounts(dwsBrowse, "event_ts", Lakehouse.DmKeys, windowSec = 10, watermark = "30 seconds")
}

object Reference {
  def odsBrowse(logs: DataFrame): DataFrame =
    Pipelines.odsBrowseLog(logs, "KAFKA-DWD-BROWSE-LOG-TOPIC")

  def dwdBrowse(ods: DataFrame): DataFrame =
    Pipelines.dwdCleanse(ods, requiredCols = Seq("user_id"), tsCols = Seq("log_time"))
      .drop(Lakehouse.Envelope: _*)

  /** The enrichment `DwsBrowseEnrich` applies to each micro-batch. */
  def dwsBrowse(dwd: DataFrame, product: DataFrame, category: DataFrame): DataFrame = {
    val cats = Enrichment.hierarchySelfJoin(category, "id", "p_id", "name")
      .withColumnRenamed("first_name", "first_category_name")
      .withColumnRenamed("second_name", "second_category_name")
    Pipelines.dwsEnrich(dwd, Seq((product, "browse_product_code", "product_id")))
      .join(broadcast(cats), col("browse_product_tpcode") === col("second_id"), "left_outer")
      .drop("first_id", "second_id")
      .withColumn("event_ts", to_timestamp(col("log_time")))
  }
}
