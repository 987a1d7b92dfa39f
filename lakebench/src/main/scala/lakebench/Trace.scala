package lakebench

import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener}
import org.apache.spark.sql.types.DataType
import graft.storage.TableFormat

/** Minimal JSON encoder for the raw records the harness hands to run.py. */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Number => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case it: Iterable[_] => it.map(apply).mkString("[", ",", "]")
    case a: Array[_] => apply(a.toSeq)
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
}

/** In-memory recorder for a traced round: spans the harness opens around
  * calls into each layer, streaming progress per query, and job, stage and
  * task records from the Spark scheduler. Nothing is written until the
  * round ends; run.py turns the records into per-layer metrics. */
final class Tracer(spark: SparkSession) {
  private val spans = new ConcurrentLinkedQueue[Map[String, Any]]()
  private val progress = new ConcurrentLinkedQueue[Map[String, Any]]()
  private val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Map[String, Any]]()
  private val tasks = new ConcurrentLinkedQueue[Map[String, Any]]()
  private val stageNames = new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Record `body`'s wall interval as a span named `name` under `layer`. */
  def span[T](layer: String, name: String, detail: String = "")(body: => T): T = {
    val t0 = System.currentTimeMillis()
    val n0 = System.nanoTime()
    try body
    finally spans.add(Map("layer" -> layer, "name" -> name, "detail" -> detail,
      "start_ms" -> t0, "dur_ms" -> (System.nanoTime() - n0) / 1e6,
      "thread" -> Thread.currentThread().getName))
  }

  /** Name the pipeline stage a streaming query belongs to. */
  def register(stage: String, q: StreamingQuery): Unit =
    stageNames.put(q.id.toString, stage)

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val p = Option(e.properties)
      def prop(k: String) = p.flatMap(x => Option(x.getProperty(k))).getOrElse("")
      jobs.put(e.jobId, Map("id" -> e.jobId, "start_ms" -> e.time, "stages" -> e.stageIds,
        "group" -> prop("spark.jobGroup.id"), "query" -> prop("sql.streaming.queryId")))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      jobs.computeIfPresent(e.jobId, (_, j) => j + ("end_ms" -> e.time))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) tasks.add(Map(
        "stage" -> e.stageId, "dur_ms" -> e.taskInfo.duration,
        "run_ms" -> m.executorRunTime, "cpu_ns" -> m.executorCpuTime,
        "gc_ms" -> m.jvmGCTime,
        "shuffle_write" -> m.shuffleWriteMetrics.bytesWritten,
        "shuffle_read" -> m.shuffleReadMetrics.totalBytesRead,
        "spill" -> (m.memoryBytesSpilled + m.diskBytesSpilled),
        "input" -> m.inputMetrics.bytesRead,
        "output" -> m.outputMetrics.bytesWritten,
        "peak_mem" -> m.peakExecutionMemory))
    }
  }

  private val queryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val state = Option(p.stateOperators).map(_.toSeq).getOrElse(Nil)
      progress.add(Map(
        "query" -> p.id.toString, "batch" -> p.batchId, "rows" -> p.numInputRows,
        "timestamp" -> p.timestamp,
        "durations" -> p.durationMs.asScala.map { case (k, v) => k -> v.longValue },
        "state_rows" -> state.map(_.numRowsTotal).sum,
        "state_bytes" -> state.map(_.memoryUsedBytes).sum,
        "watermark" -> Option(p.eventTime).flatMap(m => Option(m.get("watermark")))))
    }
  }

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.streams.addListener(queryListener)
  }

  def detach(): Unit = {
    spark.streams.removeListener(queryListener)
    spark.sparkContext.removeSparkListener(sparkListener)
  }

  /** The round's records; stage names are resolved here because a query's
    * first progress can arrive before `register` ran. */
  def dump(): Map[String, Any] = {
    // tasks are aggregated per scheduler stage to keep the record small
    val byStage = tasks.asScala.toSeq.groupBy(_("stage"))
    def total(ts: Seq[Map[String, Any]], k: String) =
      ts.map(_(k).asInstanceOf[Number].longValue).sum
    val stages = byStage.map { case (id, ts) =>
      Map("stage" -> id, "tasks" -> ts.size,
        "task_ms" -> ts.map(_("dur_ms")),
        "peak_mem" -> ts.map(_("peak_mem").asInstanceOf[Number].longValue).max) ++
        Seq("run_ms", "cpu_ns", "gc_ms", "shuffle_write", "shuffle_read", "spill",
          "input", "output").map(k => k -> total(ts, k))
    }
    Map(
      "spans" -> spans.asScala.toSeq,
      "progress" -> progress.asScala.toSeq.map(p =>
        p + ("stage" -> stageNames.getOrDefault(p("query").toString, "?"))),
      "jobs" -> jobs.values.asScala.toSeq.map(j =>
        j + ("stage" -> stageNames.getOrDefault(j("query").toString, ""))),
      "scheduler_stages" -> stages)
  }
}

/** The engine's table-format seam with every call timed into `tracer`.
  * The harness hands it to the apps in traced rounds, so storage work is
  * measured from outside the program through its public interface. */
final class TimedFormat(base: TableFormat, tracer: Tracer) extends TableFormat {
  private def t[T](op: String, table: String)(body: => T): T =
    tracer.span("storage", op, table)(body)

  override def read(spark: SparkSession, table: String): DataFrame =
    t("read", table)(base.read(spark, table))
  override def append(df: DataFrame, table: String, partitionCols: Seq[String]): Unit =
    t("append", table)(base.append(df, table, partitionCols))
  override def streamAppend(df: DataFrame, table: String, checkpoint: String,
                            partitionCols: Seq[String], triggerMs: Long): StreamingQuery =
    t("stream_start", table)(base.streamAppend(df, table, checkpoint, partitionCols, triggerMs))
  override def replace(df: DataFrame, table: String): Unit =
    t("replace", table)(base.replace(df, table))
  override def upsert(spark: SparkSession, batch: DataFrame, table: String, key: String,
                      versionCol: String, keepVersionCol: Boolean): Unit =
    t("upsert", table)(base.upsert(spark, batch, table, key, versionCol, keepVersionCol))
  override def compact(spark: SparkSession, table: String, targetBytes: Long): (Int, Int) =
    t("compact", table)(base.compact(spark, table, targetBytes))
  override def expireSnapshots(spark: SparkSession, table: String, olderThanMs: Long): Int =
    t("expire", table)(base.expireSnapshots(spark, table, olderThanMs))
  override def readAt(spark: SparkSession, table: String, version: String): DataFrame =
    base.readAt(spark, table, version)
  override def listVersions(spark: SparkSession, table: String): Seq[String] =
    base.listVersions(spark, table)
  override def renameColumn(spark: SparkSession, table: String, from: String, to: String): Unit =
    base.renameColumn(spark, table, from, to)
  override def dropColumn(spark: SparkSession, table: String, column: String): Unit =
    base.dropColumn(spark, table, column)
  override def widenColumn(spark: SparkSession, table: String, column: String, to: DataType): Unit =
    base.widenColumn(spark, table, column, to)
}
