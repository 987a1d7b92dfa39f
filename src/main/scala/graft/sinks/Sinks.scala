package graft.sinks

import org.apache.spark.sql.{Column, DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery, Trigger}

/** Sink layer — SURVEY §2.2.
  *
  * The reference's sinks: Iceberg `insert into` (K1), fixed-topic and
  * per-record-dynamic-topic Kafka producers (K2/K3), batched JDBC to
  * ClickHouse/MySQL (K4/K5), Phoenix upsert with lazy DDL (K6), console
  * (K7). Spark-first mapping:
  *   - K1 → parquet/lakehouse append, partitioned by a date column so a
  *     100 TB table prunes on day (reference tables are Iceberg
  *     `partitioned by days(ts)` in spirit);
  *   - K2/K3 → Kafka writeStream; dynamic routing is just a `topic`
  *     column (no per-record serializer subclass);
  *   - K4/K5 → `foreachBatch { _.write.jdbc }` (per-partition
  *     connections, default 1000-row batches — vs the reference's 5);
  *   - K6 → per-batch MERGE-style upsert (latest record per key wins);
  *   - K7 → console/memory.
  */
object Sinks {

  /** Memoized parquet schema inference (round-17 optimization).
    *
    * Every bare `spark.read.parquet(dir)` runs a schema-inference Spark
    * job before the frame exists — a fixed driver round trip the
    * storage doors pay dozens of times per operation (manifest reads,
    * layout-schema probes, pruned-read planning). The FILE SET fully
    * determines the inferred schema, so memoize on the exact recursive
    * (name, mtime, length) listing: any rewrite — even a
    * same-millisecond republish — changes part-file names (UUIDs) or
    * attributes and re-infers. Caches schema METADATA only, never rows;
    * the listing itself is a driver-side FS walk, no job. Bails to
    * plain inference on any listing problem or when the tree exceeds
    * 512 entries (a layout that big should carry its own catalog). */
  private val schemaMemo = new java.util.concurrent.ConcurrentHashMap[
    String, org.apache.spark.sql.types.StructType]()

  /** The schema `spark.read.parquet(path)` would infer, memoized per
    * exact file set; None when memoization is unavailable. */
  private[graft] def memoSchemaOf(spark: SparkSession, path: String)
      : Option[org.apache.spark.sql.types.StructType] =
    try {
      val p = new org.apache.hadoop.fs.Path(path)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val sb = new StringBuilder(path)
      // the file set is not QUITE the whole story: session confs that
      // change what schema the same bytes infer to must key the memo
      // too, or a conf flip inside one process serves a stale schema
      // (round-17 advisor; Tables.t keys on nanosAsLong for the same
      // reason). All four are parquet-inference inputs.
      Seq("spark.sql.legacy.parquet.nanosAsLong",
        "spark.sql.parquet.mergeSchema",
        "spark.sql.parquet.binaryAsString",
        "spark.sql.parquet.int96AsTimestamp").foreach { k =>
        sb.append('|').append(spark.conf.getOption(k).getOrElse(""))
      }
      var n = 0
      def walk(d: org.apache.hadoop.fs.Path): Boolean = {
        val sts = fs.listStatus(d)
        var ok = true
        var i = 0
        while (ok && i < sts.length) {
          val st = sts(i); n += 1
          if (n > 512) ok = false
          else {
            sb.append('|').append(st.getPath.getName).append(':')
              .append(st.getModificationTime).append(':').append(st.getLen)
            if (st.isDirectory) ok = walk(st.getPath)
          }
          i += 1
        }
        ok
      }
      if (!walk(p)) None
      else {
        // bound the memo: long-lived sessions publishing many
        // generations would otherwise accumulate one (tiny) entry per
        // generation forever — a full clear is cheap and self-heals
        if (schemaMemo.size > 4096) schemaMemo.clear()
        Some(schemaMemo.computeIfAbsent(sb.toString,
          _ => spark.read.parquet(path).schema))
      }
    } catch { case scala.util.control.NonFatal(_) => None }

  /** `spark.read.parquet(path)` with the inference memoized — identical
    * frame, one fewer Spark job on a repeat read of the same bytes. */
  private[graft] def readMemo(spark: SparkSession, path: String): DataFrame =
    memoSchemaOf(spark, path) match {
      case Some(s) => spark.read.schema(s).parquet(path)
      case None    => spark.read.parquet(path)
    }

  /** Reader pre-loaded with the layout's memoized schema for selective
    * shard-subdirectory reads (the `basePath` pattern): homogeneous by
    * the layout contract, so the whole-dir schema is the selection's
    * schema — and the per-read inference job disappears.
    *
    * CONTRACT for evolved layouts (round-17 advisor): when a merge
    * generation leaves carried-forward shards without a column the
    * rewritten shards carry, a subset read under the layout schema
    * null-fills the missing column — Iceberg's add-column semantics
    * (old files read null), and the same shape a whole-layout read
    * returns. Subset reads therefore see ONE schema regardless of
    * which shards the pruning selects; pre-round-17 behavior (each
    * subset inferring its own, possibly narrower schema) is the shape
    * this deliberately replaces. */
  private def readerWithLayoutSchema(spark: SparkSession, dataDir: String)
      : org.apache.spark.sql.DataFrameReader =
    memoSchemaOf(spark, dataDir).map(spark.read.schema)
      .getOrElse(spark.read)

  /** K1: streaming append to a parquet table directory, partitioned by
    * `partitionCols` (date-partitioning = partition pruning at scale).
    * On an Iceberg-enabled cluster swap `format("parquet")` for
    * `.toTable("lh.icebergdb.T")` — the plan is identical. */
  def streamAppend(df: DataFrame, path: String, checkpoint: String,
                   partitionCols: Seq[String] = Nil,
                   triggerMs: Long = 5000L): StreamingQuery = {
    var w: DataStreamWriter[Row] = df.writeStream
      .format("parquet")
      .outputMode("append")
      .option("path", path)
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.ProcessingTime(triggerMs))
    if (partitionCols.nonEmpty) w = w.partitionBy(partitionCols: _*)
    w.start()
  }

  /** Batch append with date partitioning (batch analog of K1). */
  def batchAppend(df: DataFrame, path: String,
                  partitionCols: Seq[String] = Nil): Unit = {
    var w = df.write.mode("append").format("parquet")
    if (partitionCols.nonEmpty) w = w.partitionBy(partitionCols: _*)
    w.save(path)
  }

  /** K2: fixed-topic Kafka JSON sink — all columns wrapped to one JSON
    * `value` (at-least-once, matching the reference's semantic T2). */
  def kafkaJson(df: DataFrame, bootstrap: String, topic: String,
                checkpoint: String): StreamingQuery =
    df.select(to_json(struct(col("*"))).as("value"))
      .writeStream
      .format("kafka")
      .option("kafka.bootstrap.servers", bootstrap)
      .option("topic", topic)
      .option("checkpointLocation", checkpoint)
      .start()

  /** K3: dynamic-topic Kafka sink — the topic comes from a per-record
    * column (reference reads it from the routing envelope at serialize
    * time, dwd/ProcessODSDataToDWD.scala:143-148). No `topic` option:
    * Spark's Kafka sink honors the `topic` column. */
  def kafkaDynamicTopic(df: DataFrame, bootstrap: String, topicCol: String,
                        checkpoint: String): StreamingQuery =
    df.select(col(topicCol).as("topic"),
        to_json(struct(df.columns.filter(_ != topicCol).map(col): _*)).as("value"))
      .writeStream
      .format("kafka")
      .option("kafka.bootstrap.servers", bootstrap)
      .option("checkpointLocation", checkpoint)
      .start()

  /** Shape-only variant of K3 for harnesses without a broker: the exact
    * (topic, value) frame Spark's Kafka sink consumes. */
  def kafkaDynamicTopicFrame(df: DataFrame, topicCol: String): DataFrame =
    df.select(col(topicCol).as("topic"),
      to_json(struct(df.columns.filter(_ != topicCol).map(col): _*)).as("value"))

  /** R2: dual-sink — one stream, two targets, reading the source once.
    * The micro-batch is persisted, written to both, unpersisted
    * (reference uses a side-output tag for the second copy,
    * dwd/ProcessODSDataToDWD.scala:77,108).
    *
    * Delivery is at-least-once PER TARGET: if writeB fails after
    * writeA appended, the batch replays into both. That matches the
    * reference's `Semantic.AT_LEAST_ONCE` Kafka sinks (SURVEY §2.9
    * T2); exactly-once needs a transactional target — on Iceberg,
    * point both writers at `writeTo(...).append()` and key the commit
    * on the batch id. */
  def dualSink(df: DataFrame, checkpoint: String,
               writeA: DataFrame => Unit, writeB: DataFrame => Unit,
               triggerMs: Long = 5000L): StreamingQuery =
    df.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.ProcessingTime(triggerMs))
      .foreachBatch { (batch: Dataset[Row], _: Long) =>
        batch.persist()
        try { writeA(batch.toDF()); writeB(batch.toDF()) }
        finally { batch.unpersist(); () }
      }
      .start()

  /** K4/K5: JDBC micro-batch sink (ClickHouse/MySQL in the reference;
    * any JDBC url here). Connections are per-partition, batched. */
  def jdbcBatchSink(df: DataFrame, url: String, table: String,
                    checkpoint: String, batchSize: Int = 1000,
                    props: java.util.Properties = new java.util.Properties())
      : StreamingQuery =
    df.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: Dataset[Row], _: Long) =>
        batch.write.mode("append")
          .option("batchsize", batchSize.toString)
          .jdbc(url, table, props)
      }
      .start()

  /** K6/T7: keyed upsert into a parquet dim table — per batch, the
    * latest record per key (by `versionCol`) wins over both the batch
    * and the existing table (MERGE INTO semantics; the reference does
    * per-record Phoenix `upsert into`, dim/DimDataToHBase.scala:95-110,
    * with insert/update/bootstrap-insert all upserting). Partition-safe:
    * the dedup is a window over the key, not a driver loop.
    *
    * I/O envelope: this flat form reads and rewrites the WHOLE table
    * every call — right for reference-scale config/dim tables (their
    * dims are small lookup tables), wrong for a large dim on a fast
    * trigger. Past ~a few GB use [[upsertParquetBucketed]], which
    * rewrites only the hash buckets the batch touches. */
  def upsertParquet(spark: SparkSession, batch: DataFrame, path: String,
                    key: String, versionCol: String,
                    keepVersionCol: Boolean = true): Unit = {
    import org.apache.spark.sql.expressions.Window
    val dst = new org.apache.hadoop.fs.Path(path)
    // the PATH's filesystem, not the default FS — a scheme-qualified
    // dim path (s3a://…) must resolve against its own FS
    val fs = dst.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // Crash recovery (single writer, like all table maintenance here):
    // a kill between "move live aside" and "promote tmp" leaves no live
    // dir but an intact <name>_old_<stamp> — restore the newest one
    // rather than silently bootstrapping from empty. Stranded _tmp_
    // dirs are dead either way (promote renames tmp away on success)
    // and are swept.
    if (!fs.exists(dst) && fs.exists(dst.getParent)) {
      fs.listStatus(dst.getParent).map(_.getPath)
        .filter(_.getName.startsWith(dst.getName + "_old_"))
        // Newest by PARSED stamp, not by name: a legacy raw-nanoTime
        // leftover (unpadded, possibly 19+ digits of boot-relative
        // nanos) can lexicographically outrank every fixed-width
        // wall-clock genStamp, and a transitional mixed directory
        // would then restore a stale generation. Fixed-width stamps
        // (current format) always win over legacy names; within a
        // class, larger numeric value wins; unparseable sorts first.
        .sortBy { o =>
          val s = o.getName.stripPrefix(dst.getName + "_old_")
          val fixed = s.length == 19 && s.forall(_.isDigit)
          (fixed, s.toLongOption.getOrElse(Long.MinValue), o.getName)
        }.lastOption
        // checked: were this false and ignored, the absent dst would
        // read as an EMPTY table below and this call would quietly
        // rebuild the dim from one batch, discarding the accumulation
        .foreach(o => renameOrAbort(fs, o, dst, "upsertParquet restore"))
    }
    if (fs.exists(dst.getParent)) {
      fs.listStatus(dst.getParent).map(_.getPath)
        .filter(_.getName.startsWith(dst.getName + "_tmp_"))
        .foreach(t => fs.delete(t, true))
      // with dst LIVE, any _old_ sibling is a promote that died before
      // its final retain — finish the retain (time travel keeps retired
      // generations under `<table>_versions/`, see [[readDimAt]]).
      // Also retires pre-genStamp leftovers whose raw-nanoTime names
      // would otherwise lexicographically outrank every new fixed-width
      // stamp in the restore's newest-by-name pick, forever.
      if (fs.exists(dst))
        fs.listStatus(dst.getParent).map(_.getPath)
          .filter(_.getName.startsWith(dst.getName + "_old_"))
          .foreach(o => retainVersion(fs, dst, o))
    }
    // Only a genuinely absent table reads as empty; a transient read
    // failure (permissions, corrupt footer) must propagate rather than
    // silently discard the accumulated dim table. The read resolves
    // the evolution journal so a batch carrying a RENAMED column merges
    // by the evolved name instead of forking old/new into two columns
    // (the rename itself is metadata-only; this generation rewrite is
    // the first time old rows materialize under the new name).
    val existing =
      if (fs.exists(dst)) graft.storage.Evolution.read(spark, path)
      else spark.createDataFrame(
        spark.sparkContext.emptyRDD[Row], batch.schema)
    val all = existing.unionByName(batch, allowMissingColumns = true)
    // With keepVersionCol = false the stored table carries no version
    // column, so existing rows sort with NULL version — i.e. any
    // batch row beats the stored row for its key, which is exactly
    // CDC-upsert semantics (the batch is newer by construction).
    val w = Window.partitionBy(col(key))
      .orderBy(col(versionCol).desc_nulls_last)
    val merged0 = all
      .withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1).drop("_rn")
    val merged = if (keepVersionCol) merged0 else merged0.drop(versionCol)
    // Write the new generation, move the old one ASIDE (not deleted),
    // promote, and only then drop the old generation — a failed promote
    // rolls the old table back instead of leaving nothing.
    val stamp = genStamp()
    val tmp = new org.apache.hadoop.fs.Path(path + "_tmp_" + stamp)
    val old = new org.apache.hadoop.fs.Path(path + "_old_" + stamp)
    merged.write.mode("overwrite").parquet(tmp.toString)
    // Every step is checked: renaming the new generation onto a dst
    // that still exists would NEST it inside the live dir (POSIX mv
    // semantics) and double-count every key on the next read — abort
    // loudly instead, and roll the old generation back on any promote
    // failure (boolean false or exception).
    val hadOld = fs.exists(dst)
    if (hadOld && !fs.rename(dst, old))
      throw new java.io.IOException(
        s"upsertParquet: could not move the live table $dst aside; aborting promote")
    val promoted =
      try fs.rename(tmp, dst)
      catch { case e: Throwable =>
        if (hadOld) fs.rename(old, dst)
        throw e
      }
    if (!promoted) {
      if (hadOld) fs.rename(old, dst)
      throw new java.io.IOException(
        s"upsertParquet: promoting $tmp to $path failed; old generation restored")
    }
    if (hadOld) retainVersion(fs, dst, old)
    ()
  }

  /** Sibling directory holding RETIRED dim-table generations — the
    * parquet-dir analog of Iceberg's snapshot log, and what
    * [[readDimAt]] time travel reads. Underscore-free on purpose: it
    * is a sibling of the table dir, never inside it, so table reads
    * and partition discovery never see it. */
  private def versionsDir(dst: org.apache.hadoop.fs.Path) =
    new org.apache.hadoop.fs.Path(dst.getParent, dst.getName + "_versions")

  /** Retire an `_old_<stamp>` generation into `<table>_versions/<stamp>`
    * instead of deleting it. The version is named by its RETIRE stamp —
    * the stamp of the upsert that superseded it — so
    * `readDimAt(stamp)` answers "what did the table say just before
    * the <stamp> upsert". Idempotent: a re-run that finds the stamp
    * already retained drops the duplicate copy. Rename, not copy —
    * retention costs no data I/O; the disk cost is bounded by
    * [[expireDimVersions]] (wired into the TableFormat
    * `expireSnapshots` maintenance door, like Iceberg
    * `expire_snapshots`). */
  private def retainVersion(fs: org.apache.hadoop.fs.FileSystem,
                            dst: org.apache.hadoop.fs.Path,
                            old: org.apache.hadoop.fs.Path): Unit = {
    val stamp = old.getName.stripPrefix(dst.getName + "_old_")
    val vd = versionsDir(dst)
    if (!fs.exists(vd)) fs.mkdirs(vd)
    val tgt = new org.apache.hadoop.fs.Path(vd, stamp)
    if (fs.exists(tgt)) fs.delete(old, true)
    else renameOrAbort(fs, old, tgt, "version retain")
  }

  /** S4 extension — snapshot read / time travel (Iceberg
    * `SELECT … VERSION AS OF`, reference ProcessUserPoints.scala:30-41
    * reads an Iceberg table whose storage keeps every snapshot until
    * expiry). Reads the retained generation retired at `stamp`; fails
    * LOUDLY when that version was expired or never existed — silently
    * returning the live table would be the one unforgivable answer to
    * "what did this table say yesterday". */
  def readDimAt(spark: SparkSession, path: String, stamp: String): DataFrame = {
    val dst = new org.apache.hadoop.fs.Path(path)
    val fs = dst.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tgt = new org.apache.hadoop.fs.Path(versionsDir(dst), stamp)
    if (!fs.exists(tgt)) {
      val have = listDimVersions(spark, path)
      throw new java.util.NoSuchElementException(
        s"version $stamp of $path is not retained (expired, or never " +
          s"existed); retained versions: ${
            if (have.isEmpty) "none" else have.mkString(", ")}")
    }
    spark.read.parquet(tgt.toString)
  }

  /** Retained version stamps of a dim table, oldest first (fixed-width
    * wall-clock stamps ordered numerically; legacy raw-nanoTime names
    * sort before all fixed stamps — same ordering rule as the
    * dst-absent restore pick). */
  def listDimVersions(spark: SparkSession, path: String): Seq[String] = {
    val dst = new org.apache.hadoop.fs.Path(path)
    val fs = dst.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val vd = versionsDir(dst)
    if (!fs.exists(vd)) Seq.empty
    else fs.listStatus(vd).filter(_.isDirectory).map(_.getPath.getName)
      .toSeq.sortBy { s =>
        val fixed = s.length == 19 && s.forall(_.isDigit)
        (fixed, s.toLongOption.getOrElse(Long.MinValue), s)
      }
  }

  /** Expire retained versions whose retire time is older than
    * `olderThanMs` (fixed-width stamps embed wall-clock millis in the
    * first 13 digits; legacy stamps carry no wall clock and count as
    * always-expired). Returns the number removed. */
  def expireDimVersions(spark: SparkSession, path: String,
                        olderThanMs: Long): Int = {
    val dst = new org.apache.hadoop.fs.Path(path)
    val fs = dst.getFileSystem(spark.sparkContext.hadoopConfiguration)
    expireVersionsUnder(fs, versionsDir(dst), olderThanMs)
  }

  /** ONE implementation of stamp-cutoff expiry for both retention
    * stores (dim `<table>_versions`, published-layout `_versions`):
    * the [[genStamp]] parse and the deletion semantics must never
    * drift between them. */
  private def expireVersionsUnder(fs: org.apache.hadoop.fs.FileSystem,
                                  vd: org.apache.hadoop.fs.Path,
                                  olderThanMs: Long): Int = {
    if (!fs.exists(vd)) return 0
    val expired = fs.listStatus(vd).filter(_.isDirectory).filter { st =>
      val s = st.getPath.getName
      val ms =
        if (s.length == 19 && s.forall(_.isDigit)) s.take(13).toLong
        else Long.MinValue
      ms < olderThanMs
    }
    expired.foreach(st => fs.delete(st.getPath, true))
    expired.length
  }

  /** Scale variant of [[upsertParquet]]: the flat upsert reads and
    * rewrites the ENTIRE table every micro-batch — O(table) I/O per
    * trigger, fine for reference-scale config dims but fatal for a
    * 100 GB dim on a 200 ms trigger. Here the dim is laid out in
    * `nBuckets` hash partitions (`pkb = pmod(xxhash64(key), n)`, a
    * hive partition column) and a batch only reads + rewrites the
    * buckets its keys hash into: per-trigger I/O is
    * O(touchedBuckets × bucketSize) ≈ O(batchKeys/nBuckets × table),
    * independent of untouched data. This is the parquet analog of
    * Iceberg `MERGE INTO`'s touched-file rewrite (the TableFormat
    * seam's iceberg one-liner replaces all of this).
    *
    * Mechanics: the touched-bucket read is partition-PRUNED (pkb is a
    * partition column; the `isin` filter never lists other dirs), the
    * merge is the same latest-version-per-key window, and the new
    * generation is written to a sibling `_tmp_` dir and promoted with
    * the SAME move-aside/promote/delete dance as the flat path —
    * per touched bucket, so the loop is bounded by `nBuckets` (like
    * the collected touched-bucket list: model-size, not data-size).
    * Dynamic partition overwrite was rejected here: its commit deletes
    * the live partition dir BEFORE renaming the staged one in, and a
    * crash in that window loses the bucket's untouched keys. Crash
    * envelope with the swap: a kill can only leave (a) some touched
    * buckets promoted — replay converges, the merge is idempotent — or
    * (b) a bucket moved aside but not promoted, which the recovery
    * sweep at the next call restores from its `_old_` dir (underscore
    * dirs are invisible to partition discovery meanwhile). `nBuckets`
    * is a layout constant: changing it requires a one-off rewrite of
    * the table (keys would hash to different dirs).
    *
    * Readers: `spark.read.parquet(path)` sees the original schema plus
    * the int `pkb` column — use [[readDim]] to drop it, or join on it
    * deliberately (a dim-side `pkb` equi-filter prunes a point lookup
    * to one directory). */
  def upsertParquetBucketed(spark: SparkSession, batch: DataFrame, path: String,
                            key: String, versionCol: String,
                            nBuckets: Int = 64,
                            keepVersionCol: Boolean = true): Unit = {
    import org.apache.hadoop.fs.Path
    import org.apache.spark.sql.expressions.Window
    require(nBuckets > 0, "nBuckets must be positive")
    val dst = new Path(path)
    val fs = dst.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // Recovery sweep (single writer): a kill between "move bucket
    // aside" and "promote fresh bucket" leaves `_old_<stamp>_pkb=B`
    // with no live `pkb=B` — restore it; an `_old_` WITH a live dir is
    // a promote that died before its delete — drop it. Stranded
    // sibling `_tmp_` generations are dead either way.
    if (fs.exists(dst)) {
      fs.listStatus(dst).map(_.getPath)
        .filter(_.getName.startsWith("_old_"))
        .foreach { o =>
          val live = new Path(dst, o.getName.substring(o.getName.indexOf("pkb=")))
          // checked: a silently un-restored bucket would be read as
          // absent, its keys dropped from the merge, and the next
          // call's sweep would then delete the only copy
          if (!fs.exists(live))
            renameOrAbort(fs, o, live, "upsertParquetBucketed restore")
          else fs.delete(o, true)
        }
    }
    if (fs.exists(dst.getParent)) {
      fs.listStatus(dst.getParent).map(_.getPath)
        .filter(_.getName.startsWith(dst.getName + "_tmp_"))
        .foreach(t => fs.delete(t, true))
    }
    // xxhash64 NEVER returns null (a null input leaves the seed
    // untouched → 42), so pkb is always concrete: null keys
    // deterministically share bucket 42 % nBuckets, stay prunable by
    // the isin() below, and merge like the flat path (the key window
    // collapses all nulls to the latest row). Persisted because the
    // frame is evaluated twice (touched probe + merge): re-reading a
    // changed source between evaluations could otherwise put rows in
    // a bucket the probe never saw — whose existing keys the swap
    // would then replace unmerged.
    val bucketed = batch.withColumn("pkb",
      pmod(xxhash64(col(key)), lit(nBuckets.toLong)).cast("int")).persist()
    try {
      val touched = bucketed.select("pkb").distinct()
        .collect().map(_.getInt(0)).toSeq
      // "Table exists" means it has at least one pkb= partition dir,
      // not merely that the path exists: a crash between mkdirs(dst)
      // and the first bucket promote on the table's FIRST write leaves
      // dst present but empty, and reading it would throw "Unable to
      // infer schema" forever — the replay-converges crash envelope
      // requires treating that state as the empty table.
      val hasData = fs.exists(dst) &&
        fs.listStatus(dst).exists(_.getPath.getName.startsWith("pkb="))
      val existing =
        if (hasData)
          // journal-resolved like the flat path: only TOUCHED buckets
          // rewrite, so after a rename the untouched buckets keep the
          // old column name on disk and reads keep resolving them
          // through the journal until their next rewrite
          graft.storage.Evolution.read(spark, path)
            .filter(col("pkb").isin(touched: _*))
        else {
          import org.apache.spark.sql.Row
          spark.createDataFrame(spark.sparkContext.emptyRDD[Row], bucketed.schema)
        }
      val all = existing.unionByName(bucketed, allowMissingColumns = true)
      val w = Window.partitionBy(col(key))
        .orderBy(col(versionCol).desc_nulls_last)
      val merged0 = all
        .withColumn("_rn", row_number().over(w))
        .filter(col("_rn") === 1).drop("_rn")
      val merged = if (keepVersionCol) merged0 else merged0.drop(versionCol)
      // new generation beside the table, then per-bucket swap
      val stamp = genStamp()
      val tmp = new Path(path + "_tmp_" + stamp)
      merged.write.mode("overwrite").partitionBy("pkb").parquet(tmp.toString)
      fs.mkdirs(dst)
      touched.foreach { b =>
        val live = new Path(dst, s"pkb=$b")
        val fresh = new Path(tmp, s"pkb=$b")
        val old = new Path(dst, s"_old_${stamp}_pkb=$b")
        val hadLive = fs.exists(live)
        if (hadLive && !fs.rename(live, old))
          throw new java.io.IOException(
            s"upsertParquetBucketed: could not move $live aside; aborting")
        val promoted =
          try fs.exists(fresh) && fs.rename(fresh, live)
          catch { case e: Throwable =>
            if (hadLive) fs.rename(old, live)
            throw e
          }
        if (!promoted) {
          if (hadLive) fs.rename(old, live)
          throw new java.io.IOException(
            s"upsertParquetBucketed: promoting $fresh failed; bucket restored")
        }
        if (hadLive) fs.delete(old, true)
      }
      fs.delete(tmp, true)
      ()
    } finally { bucketed.unpersist(); () }
  }

  /** Read a [[upsertParquetBucketed]] dim with its logical schema (the
    * `pkb` layout column dropped). */
  def readDim(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path).drop("pkb")

  /** Bucketed+sorted table write: co-locates and pre-sorts rows by the
    * join key so subsequent equi-joins between tables bucketed the same
    * way run with NO shuffle and no sort — the storage-level answer to
    * "this fact-fact join is too big to broadcast and too hot to
    * re-shuffle every query" at lake scale (SCALING.md, enrichment
    * section). Requires a catalog (`saveAsTable`); works with Spark's
    * built-in in-memory catalog + parquet. */
  def writeBucketed(df: DataFrame, table: String, key: String,
                    buckets: Int): Unit = {
    val spark = df.sparkSession
    // With the in-memory catalog a previous SESSION's table files
    // survive while its catalog entry does not, and saveAsTable then
    // refuses with LOCATION_ALREADY_EXISTS — drop any current entry
    // and sweep an orphaned default-location dir before writing.
    spark.sql(s"DROP TABLE IF EXISTS `$table`")
    val ident = spark.sessionState.sqlParser.parseTableIdentifier(table)
    val loc = new org.apache.hadoop.fs.Path(
      spark.sessionState.catalog.defaultTablePath(ident))
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(loc)) fs.delete(loc, true)
    df.write.mode("overwrite").format("parquet")
      .bucketBy(buckets, key).sortBy(key).saveAsTable(table)
  }

  /** Range-sorted table write: globally range-partition on `sortCol`
    * and sort within each file, so every parquet file (and every row
    * group inside it) covers a narrow, disjoint `sortCol` range. A
    * pushed range predicate then PRUNES whole row groups via their
    * min/max footer stats — the reader never decodes non-matching data.
    * This is the storage-layout half of predicate pushdown: pushdown
    * alone only helps if the data is clustered so the stats are
    * selective. At 100 TB, time-ordered facts written this way turn a
    * date-range scan from "read everything, filter" into "read the
    * matching fraction" (the parquet analog of Iceberg's sort-order
    * metadata; SinksSpec measures the scan-row drop directly).
    *
    * `repartitionByRange` samples the sort column to build balanced
    * range bounds — one extra pass at write time, bought back on every
    * subsequent range query. */
  def writeSorted(df: DataFrame, path: String, sortCol: String,
                  nFiles: Int): Unit =
    df.repartitionByRange(nFiles, col(sortCol))
      .sortWithinPartitions(sortCol)
      .write.mode("overwrite").parquet(path)

  /** Publish stage of a curation pipeline: write a corpus as `nShards`
    * DETERMINISTIC shards plus a manifest table — the layout a
    * training-data loader consumes (shard = the unit of shuffle-free
    * parallel reads downstream).
    *
    * Shard assignment is `xxhash64(id) mod nShards` — a pure function
    * of the row's id, so it is stable across runs, partitionings and
    * engines; re-publishing the same corpus reproduces byte-identical
    * shard membership. One shuffle keyed on the shard id co-locates
    * each shard into exactly one task, so every `shard=k/` dir holds
    * exactly ONE parquet file; size shards via nShards ≈ corpus bytes /
    * target file size (the 128 MB-1 GB sweet spot at lake scale).
    *
    * The manifest (written beside the data, one row per shard) carries
    * n_rows, the id range, and an ORDER-INDEPENDENT content hash (sum
    * of per-row xxhash64 over the projected columns) — enough for a
    * loader to plan reads, verify integrity after transfer, and diff
    * two corpus versions shard-by-shard without reading the data.
    *
    * Publish is ATOMIC at generation granularity: data + manifest are
    * written into `$path/_staging_<stamp>`, a commit marker seals the
    * staged generation, and only then is the live generation moved
    * aside and the staged one renamed in (data first, manifest last).
    * A crash before the marker leaves the old generation untouched; a
    * kill mid-promote is rolled forward (marker present) or back
    * (absent) by the next call's [[recoverPublish]] sweep — at no
    * recoverable point is a mixed old/new pair the end state.
    *
    * ZONE MAPS (`zoneCols`): the manifest additionally records each
    * shard's min/max for the named columns (`zmin_<c>`/`zmax_<c>` —
    * the manifest column stats Iceberg keeps), and
    * [[readShardsBetween]] prunes shards whose range cannot intersect
    * a selective predicate WITHOUT opening any data file. With the
    * default hash sharding every shard spans the whole value range of
    * most columns, so zone maps only pay when the shard assignment
    * clusters the zone column — pass `shardCol` to supply an EXPLICIT
    * deterministic assignment (any pure function of the row the
    * caller materializes as a column: a date bucket, `id div k`, a
    * range bucket from offline quantiles). Values must land in
    * `[0, nShards)` — validated against the staged manifest before the
    * commit marker, so a bad assignment aborts with the old
    * generation intact.
    *
    * WITHIN-SHARD SORT ORDER (`sortCols`, Iceberg's write sort-order
    * metadata): each shard file's rows land sorted on the named
    * columns, recorded as `spec_sort` in the manifest — parquet
    * row-group stats are then tight on those columns, so a selective
    * predicate skips at BOTH granularities (zone maps drop shards,
    * row-group stats drop pages inside survivors).
    *
    * Zone declarations are a LAYOUT property:
    * [[publishDelta]] inherits the live generation's zone set when
    * called without `zoneCols` and rejects a mismatched redeclaration
    * loudly (changing zones means reading every shard — a full
    * publish here, not a delta).
    * Returns the manifest frame. */
  def writeShards(df: DataFrame, path: String, idCol: String,
                  nShards: Int, retainPrevious: Boolean = false,
                  zoneCols: Seq[String] = Nil,
                  shardCol: Option[String] = None,
                  sortCols: Seq[String] = Nil,
                  bloomCols: Seq[String] = Nil,
                  bloomFpp: Double = 0.01,
                  sketchCols: Seq[String] = Nil,
                  quantileCols: Seq[String] = Nil): DataFrame = {
    require(nShards > 0, s"nShards must be positive, got $nShards")
    require(bloomCols.forall(df.columns.contains),
      s"bloomCols must be input columns; missing: ${
        bloomCols.filterNot(df.columns.contains).mkString(", ")}")
    require(sketchCols.forall(df.columns.contains),
      s"sketchCols must be input columns; missing: ${
        sketchCols.filterNot(df.columns.contains).mkString(", ")}")
    require(quantileCols.forall(df.columns.contains),
      s"quantileCols must be input columns; missing: ${
        quantileCols.filterNot(df.columns.contains).mkString(", ")}")
    quantileCols.foreach(c => require(df.schema(c).dataType
        .isInstanceOf[org.apache.spark.sql.types.NumericType],
      s"quantileCols must be numeric (quantiles of '$c': " +
        s"${df.schema(c).dataType.sql} has no rank order the sketch " +
        "can summarize)"))
    require(bloomFpp > 0 && bloomFpp < 1, s"bloomFpp in (0,1), got $bloomFpp")
    shardCol.foreach(c => require(df.columns.contains(c),
      s"shardCol '$c' is not a column of the input (${df.columns.mkString(", ")})"))
    require(zoneCols.forall(df.columns.contains),
      s"zoneCols must be input columns; missing: ${
        zoneCols.filterNot(df.columns.contains).mkString(", ")}")
    require(sortCols.forall(df.columns.contains),
      s"sortCols must be input columns; missing: ${
        sortCols.filterNot(df.columns.contains).mkString(", ")}")
    // case-insensitive on purpose: Spark resolves columns
    // case-insensitively by default, so an input 'Shard' would be
    // silently REPLACED by the derived id even though a
    // case-sensitive contains() check passes
    require(!df.columns.exists(_.equalsIgnoreCase("shard")),
      "writeShards derives its own `shard` column; rename the input's")
    val spark = df.sparkSession
    withPublishLease(spark, path) { (base, fs) =>
      writeShardsLeased(df, path, idCol, nShards, spark, base, fs,
        retainPrevious, zoneCols, shardCol, sortCols, bloomCols, bloomFpp,
        sketchCols, quantileCols)
    }
  }

  /** One-column `shard` schema for validation reads — parquet serves
    * projections, so supplying this skips schema inference entirely. */
  private val shardOnlySchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("shard",
      org.apache.spark.sql.types.LongType)))

  /** Total row count of parquet `files` (a staged read's
    * `inputFiles`) from their FOOTERS, on the driver — the same number
    * `df.count()` returns for a metadata-only parquet count, without
    * paying a Spark job and its scheduling round trip (round 17; the
    * files here are publish-staging trees of ≤ nShards × a few). The
    * read's file index already hides `_`/`.`-prefixed files, exactly
    * as the reader the count stands in for does. */
  private def footerRowCount(files: Array[String],
                             conf: org.apache.hadoop.conf.Configuration): Long = {
    def count(f: String): Long = {
      val rd = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(new java.net.URI(f)), conf))
      try rd.getRecordCount finally rd.close()
    }
    // footer opens are independent metadata reads — do them on the
    // common pool so a many-file staging is not a serial driver stall
    // (the job this replaced was at least parallel across tasks)
    if (files.length < 8) files.iterator.map(count).sum
    else java.util.Arrays.stream(files).parallel()
      .mapToLong(f => count(f)).sum()
  }

  /** Shard id column: hash of the row id by default (stable across
    * runs/partitionings/engines), or the caller's explicit assignment
    * column cast to long (clustered layouts for zone-map pruning). */
  private def shardAssignment(idCol: String, nShards: Int,
                              shardCol: Option[String]): Column =
    shardCol.map(c => col(c).cast("long"))
      .getOrElse(pmod(xxhash64(col(idCol)), lit(nShards.toLong)))

  private def writeShardsLeased(df: DataFrame, path: String, idCol: String,
                                nShards: Int, spark: SparkSession,
                                base: org.apache.hadoop.fs.Path,
                                fs: org.apache.hadoop.fs.FileSystem,
                                retainPrevious: Boolean = false,
                                zoneCols: Seq[String] = Nil,
                                shardCol: Option[String] = None,
                                sortCols: Seq[String] = Nil,
                                bloomCols: Seq[String] = Nil,
                                bloomFpp: Double = 0.01,
                                sketchCols: Seq[String] = Nil,
                                quantileCols: Seq[String] = Nil): DataFrame = {
    val dataCols = df.columns.toSeq
    val sharded = df.withColumn("shard",
      shardAssignment(idCol, nShards, shardCol))
    publishGeneration(spark, path, base, fs,
      Some(clustered(sharded, nShards, sortCols)),
      // blooms are sized from the written bytes: the row count comes
      // from the staged FOOTERS on the driver, no job
      written => stampSpec(shardSummary(written, idCol, dataCols, zoneCols,
          sizeBlooms(bloomCols, footerRowCount(written.inputFiles,
            spark.sparkContext.hadoopConfiguration), nShards, bloomFpp),
          sketchCols, quantileCols),
        shardCol, nShards, sortCols, idCol),
      linked = Nil, carried = None, shardCol, nShards, retainPrevious)
  }

  /** The rows of the shards a generation rewrites, laid out for the
    * staged write: one shuffle keyed on the shard id co-locates each
    * shard into exactly one of `tasks` tasks (so every `shard=k/` dir
    * holds ONE file), and rows land sorted within shard on `sortCols`
    * (Iceberg's write sort order) — parquet row-group stats are then
    * tight on them, so a selective predicate skips at BOTH
    * granularities: zone maps drop whole shards, row-group stats drop
    * pages inside the survivors. The leading `shard` sort key keeps
    * each output file (the writer splits by partition value)
    * internally ordered on `sortCols` alone. */
  private def clustered(rows: DataFrame, tasks: Int,
                        sortCols: Seq[String]): DataFrame = {
    val part = rows.repartition(tasks, col("shard"))
    if (sortCols.isEmpty) part
    else part.sortWithinPartitions((col("shard") +: sortCols.map(col)): _*)
  }

  /** Bloom declaration `(cols, mBits, k)` sized for a generation of
    * `rows` rows over `nShards` shards; None when no column is
    * bloomed (`rows` is then never evaluated). ×2 slack absorbs shard
    * skew (hash sharding balances; explicit binning may not) — an
    * overfull shard degrades toward more false positives (extra
    * shards read), never false negatives. */
  private def sizeBlooms(cols: Seq[String], rows: => Long, nShards: Int,
                         fpp: Double): Option[(Seq[String], Int, Int)] =
    if (cols.isEmpty) None
    else {
      import graft.expressions.BloomOps
      val perShard = math.max(64L,
        math.ceil(rows.toDouble * 2 / nShards).toLong)
      val mBits = BloomOps.sizeFor(perShard, fpp)
      Some((cols, mBits, BloomOps.hashesFor(perShard, mBits)))
    }

  /** THE tail of every shard-layout publish (the caller holds the
    * lease, see [[withPublishLease]]). Publish is ATOMIC at generation
    * granularity: everything is STAGED beside the live generation in
    * `_staging_<stamp>`, so a crash or a failing Spark task anywhere up
    * to the commit marker leaves the previous generation untouched and
    * fully verifiable — an in-process failure deletes its own staging,
    * a process KILL's staging is swept by the next [[recoverPublish]].
    *
    *  - `rows` (None for the manifest-only doors): the full new
    *    contents of the shards this generation rewrites, `shard`
    *    column present, laid out by [[clustered]];
    *  - `linked`: live shards hard-linked into the generation
    *    unchanged (zero data I/O; copy fallback, see [[linkOrCopy]]);
    *  - the manifest: `carried` rows (stamped by the caller) unioned
    *    with `summarize` over the WRITTEN bytes of `rows`. The manifest
    *    is an integrity check on the published bytes, so it re-reads
    *    the files just written rather than re-evaluating the input
    *    lineage — which would re-run the whole upstream pipeline and
    *    could describe different rows if the source changed between
    *    the two evaluations. The read schema is `rows`' own: an empty
    *    input writes zero part files, and inference would throw. The
    *    manifest is written BEFORE the links, while the staged data dir
    *    holds only rewritten shards (a manifest-only door's lineage
    *    scans the live files, which must also finish before promote
    *    renames them).
    *
    * An explicit assignment (`shardCol`) is range-checked against the
    * staged manifest before the marker: an id outside `[0, nShards)`
    * would publish a directory no loader plans for. Then the marker
    * seals the generation and [[promoteStaged]] swaps it in. Returns
    * the re-read live manifest. */
  private def publishGeneration(spark: SparkSession, path: String,
      base: org.apache.hadoop.fs.Path, fs: org.apache.hadoop.fs.FileSystem,
      rows: Option[DataFrame], summarize: DataFrame => DataFrame,
      linked: Seq[Long], carried: Option[DataFrame],
      shardCol: Option[String], nShards: Int,
      retainPrevious: Boolean): DataFrame = {
    val stamp = genStamp()
    val staging = new org.apache.hadoop.fs.Path(base, s"_staging_$stamp")
    val stagedData = new org.apache.hadoop.fs.Path(staging, "data")
    val stagedManifest = new org.apache.hadoop.fs.Path(staging, "manifest")
    try {
      val rewritten = rows.map { r =>
        r.write.mode("overwrite").partitionBy("shard")
          .parquet(stagedData.toString)
        summarize(spark.read.schema(r.schema).parquet(stagedData.toString))
      }
      if (rows.isEmpty) fs.mkdirs(stagedData)
      // allowMissingColumns: a live generation published before a stat
      // column existed (e.g. pre-znull manifests) carries forward with
      // NULL for the new stat — the documented "unknown" value
      // consumers must treat conservatively
      (carried ++ rewritten).reduce(_.unionByName(_, allowMissingColumns = true))
        .coalesce(1).write.mode("overwrite").parquet(stagedManifest.toString)
      val livePath = new org.apache.hadoop.fs.Path(base, "data")
      linked.foreach { s =>
        val dst = new org.apache.hadoop.fs.Path(stagedData, s"shard=$s")
        fs.mkdirs(dst)
        fs.listStatus(new org.apache.hadoop.fs.Path(livePath, s"shard=$s"))
          .filter(_.isFile).foreach(st => linkOrCopy(fs, st.getPath,
            new org.apache.hadoop.fs.Path(dst, st.getPath.getName)))
      }
      shardCol.foreach { c =>
        // read ONLY the shard column with an explicit schema: parquet
        // serves a projection of its columns, and skipping inference
        // skips a whole driver round trip (round 17)
        val bad = spark.read.schema(shardOnlySchema)
          .parquet(stagedManifest.toString)
          .filter(col("shard").isNull || col("shard") < 0 ||
            col("shard") >= nShards)
          .select("shard").collect().map(_.get(0))
        if (bad.nonEmpty)
          throw new IllegalArgumentException(
            s"explicit shardCol '$c' produced shard ids outside " +
              s"[0, $nShards): ${bad.mkString(", ")}")
      }
    } catch {
      case e: Throwable => fs.delete(staging, true); throw e
    }
    // COMMIT POINT: the marker flips crash recovery from roll-back
    // (incomplete staging → discard, old generation stands) to
    // roll-forward (staged generation is complete → a later call
    // finishes the promote). Written only after BOTH staged parts
    // exist in full.
    fs.create(new org.apache.hadoop.fs.Path(staging, PublishCommitMarker),
      true).close()
    promoteStaged(fs, base, staging,
      new org.apache.hadoop.fs.Path(base, s"_old_$stamp"), retainPrevious)
    readMemo(spark, s"$path/manifest")
  }

  /** FIXED-WIDTH wall-clock generation stamp, shared by every
    * move-aside/promote dance here: recovery picks "the newest"
    * generation by NAME order, so stamps must sort correctly
    * lexicographically (zero-padded) and across process restarts —
    * nanoTime's origin is arbitrary (possibly negative) per boot, so
    * a raw nanoTime stamp could make a pre-reboot leftover sort as
    * newer than a live generation. The floorMod nano suffix
    * disambiguates same-millisecond calls under the single-writer
    * contract without ever printing a sign. */
  private[graft] def genStamp(): String =
    f"${System.currentTimeMillis()}%013d${java.lang.Math.floorMod(System.nanoTime(), 1000000L)}%06d"

  /** Name of the staged-generation commit marker — `private[graft]` so
    * the crash-envelope spec can construct mid-publish states. */
  private[graft] val PublishCommitMarker = "_COMMITTED"
  private val GenParts = Seq("data", "manifest")

  /** Retained published generations live under `<path>/_versions/<stamp>`
    * (underscore prefix: invisible to every data reader; prefix-disjoint
    * from the `_old_`/`_staging_`/`_publish_lock` names recovery sweeps). */
  private[graft] val PublishedVersionsDir = "_versions"

  /** The manifest location of the live generation, or of the retained
    * generation displaced at `stamp` — ONE spelling for every
    * manifest-reading door. */
  private def manifestPathOf(path: String, stamp: Option[String]): String =
    stamp.fold(s"$path/manifest")(
      s => s"$path/$PublishedVersionsDir/$s/manifest")

  /** Name of the single-writer lease file at the publish root. */
  private[graft] val PublishLock = "_publish_lock"

  /** Default staleness horizon for an abandoned lease: long enough
    * that no healthy publish outlives it (the lease spans only
    * recovery + staging + promote of ONE generation), short enough
    * that a crashed writer does not block the pipeline for hours. */
  private[graft] val PublishLeaseTtlMs: Long = 30L * 60 * 1000

  /** Acquire the publish lease, or throw. The publisher's recovery
    * sweep and generation swap assume a SINGLE writer; two concurrent
    * publishes interleave catastrophically (writer A's recoverPublish
    * sweeps writer B's live staging as "crash debris"). The lease
    * makes the contract ENFORCED rather than documented: an atomic
    * `create(overwrite = false)` of `_publish_lock` (stamp + pid
    * inside, for the human debugging a conflict) must succeed before
    * any layout mutation. A lease older than `ttlMs` is a crashed
    * writer's leftover — reclaimed by delete-and-recreate (two reapers
    * racing: both delete, at most one create wins, the loser gets the
    * conflict error). A held, fresh lease REFUSES loudly: blocking
    * politely would serialize publishes through silent waits; the
    * caller decides whether to retry. Returns the token that
    * [[releasePublishLease]] matches on, so a reclaimer never deletes
    * a lease it does not own. */
  private[graft] def acquirePublishLease(
      fs: org.apache.hadoop.fs.FileSystem,
      base: org.apache.hadoop.fs.Path,
      ttlMs: Long = PublishLeaseTtlMs): String = {
    if (!fs.exists(base)) fs.mkdirs(base)
    val lock = new org.apache.hadoop.fs.Path(base, PublishLock)
    val token =
      s"${genStamp()} pid=${ProcessHandle.current().pid()} host=${
        java.net.InetAddress.getLocalHost.getHostName}"
    def tryCreate(): Boolean =
      try {
        val out = fs.create(lock, false) // overwrite=false: atomic claim
        try out.write(token.getBytes(
          java.nio.charset.StandardCharsets.UTF_8))
        finally out.close()
        true
      } catch { case _: java.io.IOException => false }
    def conflict(detail: String): Nothing =
      throw new java.util.ConcurrentModificationException(
        s"publish lease at $lock is held ($detail) — a publish is in " +
          "flight for this layout; the single-writer contract forbids " +
          "proceeding. Retry later, or remove the lease by hand if the " +
          "holder is known dead.")
    if (tryCreate()) return token
    val st =
      try Some(fs.getFileStatus(lock))
      catch { case _: java.io.FileNotFoundException => None }
    // A lease is reclaimable before its TTL when its holder is
    // PROVABLY dead: the token names pid+host, so on the same host a
    // missing pid means the writer crashed — waiting out the TTL
    // would stall a supervised restart for no safety gain. (On a
    // different host liveness is unknowable from here; only the TTL
    // applies.)
    val holderDead = st.exists { _ =>
      try {
        val in = fs.open(lock)
        val body =
          try scala.io.Source.fromInputStream(in, "UTF-8").mkString
          finally in.close()
        val pid = "pid=(\\d+)".r.findFirstMatchIn(body).map(_.group(1).toLong)
        val host = "host=(\\S+)".r.findFirstMatchIn(body).map(_.group(1))
        host.contains(java.net.InetAddress.getLocalHost.getHostName) &&
          pid.exists(p => ProcessHandle.of(p)
            .map[Boolean](h => !h.isAlive).orElse(true))
      } catch { case _: Exception => false }
    }
    val stale = holderDead || st.forall(s =>
      System.currentTimeMillis() - s.getModificationTime > ttlMs)
    if (stale) {
      try { fs.delete(lock, false); () }
      catch { case _: java.io.IOException => () }
      if (tryCreate()) token
      else conflict("just re-claimed by another writer")
    } else conflict(
      st.map(s => s"age ${System.currentTimeMillis() - s.getModificationTime} ms, " +
        s"ttl $ttlMs ms").getOrElse("racing writer"))
  }

  /** THE envelope of every shard-layout write door: resolve the
    * layout's filesystem, take the single-writer lease, finish whatever
    * a killed predecessor left behind ([[recoverPublish]]) BEFORE
    * touching the layout, run `body`, release the lease. The lease must
    * be held before the recovery sweep — two interleaved publishes
    * would sweep each other's staging as crash debris — so the sweep
    * only ever meets debris that is ours to sweep. */
  private def withPublishLease[T](spark: SparkSession, path: String)(
      body: (org.apache.hadoop.fs.Path, org.apache.hadoop.fs.FileSystem) => T): T = {
    val base = new org.apache.hadoop.fs.Path(path)
    val fs = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val lease = acquirePublishLease(fs, base)
    try {
      recoverPublish(fs, base)
      body(base, fs)
    } finally releasePublishLease(fs, base, lease)
  }

  /** Release the lease IF it is still ours: a stale-reclaim may have
    * replaced it mid-flight (we exceeded the TTL), and deleting the
    * new holder's lease would let a third writer in on top of them. */
  private[graft] def releasePublishLease(
      fs: org.apache.hadoop.fs.FileSystem,
      base: org.apache.hadoop.fs.Path, token: String): Unit = {
    val lock = new org.apache.hadoop.fs.Path(base, PublishLock)
    try {
      val in = fs.open(lock)
      val held =
        try scala.io.Source.fromInputStream(in, "UTF-8").mkString
        finally in.close()
      if (held == token) { fs.delete(lock, false); () }
    } catch { case _: java.io.IOException => () }
  }

  /** Promote a complete staged generation: per part, move the live dir
    * aside into `old` and rename the staged dir in — data first,
    * manifest LAST, so a manifest is never live before the data it
    * describes (the `upsertParquet` move-aside/promote/delete dance,
    * per part). In-process failure unwinds: every rename is reversed
    * FIRST, then the commit marker is withdrawn with the staging —
    * the old generation is back and the caller gets the exception.
    * The ORDER is load-bearing: while any rename may still be
    * un-reversed the marker must survive, so a kill mid-unwind reads
    * as roll-forward to the next call's recovery, which finishes the
    * promote from the sealed staging — converging to the complete NEW
    * generation. (Withdrawing the marker first — the pre-round-8
    * order — left a kill window where promoted data paired with the
    * old manifest was the PERMANENT recovery outcome, and the old
    * data was discarded: the exact mixed end state the invariant
    * forbids.) A process KILL mid-promote is likewise finished by
    * [[recoverPublish]] at the next call. */
  private[graft] def promoteStaged(fs: org.apache.hadoop.fs.FileSystem,
                            base: org.apache.hadoop.fs.Path,
                            staging: org.apache.hadoop.fs.Path,
                            old: org.apache.hadoop.fs.Path,
                            retain: Boolean = false): Unit = {
    val moved = scala.collection.mutable.ListBuffer
      .empty[(org.apache.hadoop.fs.Path, org.apache.hadoop.fs.Path,
        org.apache.hadoop.fs.Path, Boolean)]
    try {
      for (part <- GenParts) {
        val live = new org.apache.hadoop.fs.Path(base, part)
        val aside = new org.apache.hadoop.fs.Path(old, part)
        val staged = new org.apache.hadoop.fs.Path(staging, part)
        val hadLive = fs.exists(live)
        moved += ((live, aside, staged, hadLive))
        if (hadLive) {
          if (!fs.exists(old)) fs.mkdirs(old)
          if (!fs.rename(live, aside))
            throw new java.io.IOException(
              s"writeShards: could not move live $live aside; aborting promote")
        }
        if (!fs.rename(staged, live))
          throw new java.io.IOException(
            s"writeShards: promoting $staged to $live failed")
      }
    } catch {
      case e: Throwable =>
        // Reverse every rename BEFORE withdrawing the marker (see
        // scaladoc: marker-first left a kill window whose permanent
        // outcome was new data under the old manifest) — and every
        // reversal is CHECKED: a silent rename false followed by the
        // deletes below would destroy the sole copy of a generation.
        // On a failed reversal, skip the deletes and keep the marker:
        // the staging is still sealed, so the next call's recovery
        // rolls the publish FORWARD and converges.
        val reversed = moved.reverseIterator.forall {
          case (live, aside, staged, hadLive) =>
            // un-promote (the staged dir became live), then restore old
            (if (!fs.exists(staged) && fs.exists(live))
               fs.rename(live, staged) else true) &&
            (if (hadLive && fs.exists(aside))
               fs.rename(aside, live) else true)
        }
        if (reversed) {
          // marker explicitly BEFORE the recursive staging delete: a
          // kill mid-delete must read as roll-back — were the marker
          // still present over a half-deleted staging, recovery would
          // promote partial data
          fs.delete(new org.apache.hadoop.fs.Path(staging, PublishCommitMarker),
            false)
          fs.delete(staging, true)
          fs.delete(old, true)
        }
        throw e
    }
    // cleanup OUTSIDE the unwind scope: once every rename has landed
    // the publish has succeeded, and a transient delete failure here
    // must not un-promote it (an unwind at this point would rename the
    // only copy of the new generation back into a staging dir it then
    // deletes — destroying both generations). Best-effort: leftovers
    // are exactly what the next call's recoverPublish sweeps.
    // `retain` retires the displaced generation into `_versions/<stamp>`
    // instead of deleting it (one rename; under delta publishes the
    // carried-forward files are hard links, so a retained version
    // costs only its delta in disk). Best-effort by the same argument
    // as the deletes: a crash in this window loses the RETAINED COPY,
    // never the live generation — recoverPublish sweeps a leftover
    // `_old_` because it cannot distinguish it from mid-promote debris.
    try {
      if (retain && fs.exists(old)) {
        val vd = new org.apache.hadoop.fs.Path(base, PublishedVersionsDir)
        if (!fs.exists(vd)) fs.mkdirs(vd)
        val stamp = old.getName.stripPrefix("_old_")
        val tgt = new org.apache.hadoop.fs.Path(vd, stamp)
        if (fs.exists(tgt) || !fs.rename(old, tgt)) fs.delete(old, true)
      } else fs.delete(old, true)
      fs.delete(new org.apache.hadoop.fs.Path(staging, PublishCommitMarker),
        false)
      fs.delete(staging, true)
    } catch { case _: java.io.IOException => () }
  }

  /** Crash recovery for the [[writeShards]] layout (single writer,
    * idempotent; runs before every publish). A generation staged to
    * completion — its [[PublishCommitMarker]] exists — is rolled
    * FORWARD: the promote is finished part by part, so "new data live
    * but old manifest live" can never outlast the next call. Anything
    * else aside or staged is rolled BACK: live parts missing after a
    * mid-promote kill are restored from the newest `_old_` that still
    * holds them, then every `_old_`/`_staging_` dir is discarded. */
  private[graft] def recoverPublish(fs: org.apache.hadoop.fs.FileSystem,
                                    base: org.apache.hadoop.fs.Path): Unit = {
    if (!fs.exists(base)) return
    def ls(prefix: String) = fs.listStatus(base).map(_.getPath)
      .filter(_.getName.startsWith(prefix)).sortBy(_.getName)
    ls("_staging_")
      .filter(s => fs.exists(
        new org.apache.hadoop.fs.Path(s, PublishCommitMarker)))
      .lastOption.foreach { staging =>
        val stamp = staging.getName.stripPrefix("_staging_")
        val old = new org.apache.hadoop.fs.Path(base, s"_old_$stamp")
        for (part <- GenParts) {
          val staged = new org.apache.hadoop.fs.Path(staging, part)
          if (fs.exists(staged)) {
            val live = new org.apache.hadoop.fs.Path(base, part)
            if (fs.exists(live)) {
              if (!fs.exists(old)) fs.mkdirs(old)
              renameOrAbort(fs, live,
                new org.apache.hadoop.fs.Path(old, part),
                "recoverPublish roll-forward")
            }
            renameOrAbort(fs, staged, live, "recoverPublish roll-forward")
          }
        }
      }
    val olds = ls("_old_")
    for (part <- GenParts) {
      val live = new org.apache.hadoop.fs.Path(base, part)
      if (!fs.exists(live))
        olds.reverseIterator.map(o => new org.apache.hadoop.fs.Path(o, part))
          .find(fs.exists)
          // abort on a failed restore: proceeding would SWEEP the
          // `_old_` dir still holding the only copy of this part
          .foreach(p => renameOrAbort(fs, p, live, "recoverPublish roll-back restore"))
    }
    olds.foreach(o => fs.delete(o, true))
    ls("_staging_").foreach(s => fs.delete(s, true))
  }

  /** `fs.rename` reports failure as `false`, not an exception; every
    * recovery/maintenance rename here guards data a trailing sweep (or
    * an empty-table fallback) would otherwise destroy, so a silent
    * false must become an abort. ONE definition — the invariant must
    * not drift across its call sites. `context` names the caller and
    * the consequence being averted. */
  private[graft] def renameOrAbort(fs: org.apache.hadoop.fs.FileSystem,
                                   from: org.apache.hadoop.fs.Path,
                                   to: org.apache.hadoop.fs.Path,
                                   context: String): Unit =
    if (!fs.rename(from, to))
      throw new java.io.IOException(
        s"$context: rename $from -> $to failed; aborting with the " +
          "recoverable state intact (nothing has been deleted)")

  /** THE per-shard summary both the publisher's manifest and the
    * verifier recompute — one definition on purpose: if the hash or
    * counting semantics ever change, publisher and verifier must move
    * together or every healthy publish starts failing verification. */
  private def shardSummary(written: DataFrame, idCol: String,
                           dataCols: Seq[String],
                           zoneCols: Seq[String] = Nil,
                           bloom: Option[(Seq[String], Int, Int)] = None,
                           sketchCols: Seq[String] = Nil,
                           quantileCols: Seq[String] = Nil)
      : DataFrame = {
    // zone maps: per-shard min/max of declared columns (Iceberg's
    // manifest column stats) — nulls are ignored by min/max, matching
    // the pruning reader's filter semantics (a predicate row-filters
    // nulls out either way, so skipping them in the stats is exact).
    // znull_<c> = the shard's null count for the column (Iceberg's
    // null_value_counts): powers IS NULL shard pruning and
    // metadata-only COUNT(col). Consumers must treat an ABSENT or
    // NULL znull value as unknown (legacy generations carried
    // forward by delta publishes have no recount).
    // zsum_<c> (INTEGRAL zone columns only): the shard's column sum —
    // powers metadata-only SUM(col). Long addition is associative even
    // under two's-complement wrap (ANSI off), so Σ of per-shard sums
    // is bit-identical to the data scan's Sum no matter how either
    // side partitions the adds; float sums have no such property and
    // get no stat. NULL zsum on an all-null shard is DISAMBIGUATED by
    // znull == n_rows (vs a legacy carry, where znull is null too).
    val integralZones = zoneCols.filter(c =>
      written.schema(c).dataType match {
        case org.apache.spark.sql.types.ByteType |
             org.apache.spark.sql.types.ShortType |
             org.apache.spark.sql.types.IntegerType |
             org.apache.spark.sql.types.LongType => true
        case _ => false
      })
    val zoneAggs = zoneCols.flatMap(c => Seq(
      min(col(c)).as(s"zmin_$c"), max(col(c)).as(s"zmax_$c"),
      sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"znull_$c"))) ++
      integralZones.map(c => sum(col(c)).as(s"zsum_$c"))
    // zbloom_<c>: per-shard bloom over the column's STRING form
    // (Iceberg v2 bloom filters at the manifest grain) — point
    // predicates on high-cardinality non-clustered columns prune
    // shards min/max never could (a hash-sharded corpus spreads every
    // domain everywhere; its fingerprint bloom still answers "not in
    // this shard" for all but ~ε of them). One-sided like every zone
    // stat: a NULL bloom (legacy carry) reads as unknown → shard kept.
    // zbloomk_<c> records the hash count; bits length gives m.
    val bloomAggs = bloom.toSeq.flatMap { case (cols, mBits, k) =>
      cols.map(c => graft.expressions.BloomOps
        .bloomAgg(col(c).cast("string"), mBits, k).as(s"zbloom_$c")) }
    // zhll_<c>: per-shard DataSketches HLL over the column's STRING
    // form (Spark's native hll_sketch_agg — a TypedImperativeAggregate
    // with map-side partials). Sketch union is lossless for HLL, so
    // hll_union_agg over the MANIFEST answers approximate
    // COUNT(DISTINCT c) for the whole corpus — or any shard subset a
    // reader prunes to — without opening a data file. ~1.6 KB per
    // (shard, column) at lgK=12, rel. err ≈ 1.6%. String form for the
    // same reason blooms use it: one canonical representation across
    // generations regardless of read-schema re-typing. NULL sketch
    // (legacy carry) = unknown; the distinct door REFUSES to estimate
    // over it rather than silently undercount.
    val sketchAggs = sketchCols.map(c =>
      hll_sketch_agg(col(c).cast("string"), lit(SketchLgK))
        .as(s"zhll_$c"))
    // zkll_<c>: per-shard KLL quantile sketch over the column cast to
    // double (DataSketches KLL, fixed k — [[graft.expressions.KllOps]]).
    // KLL merge preserves the rank-error bound across any merge tree
    // ("Mergeable Summaries"), so kll_merge_agg over the MANIFEST
    // answers "p50/p95/p99 of this column, corpus-wide or any pruned
    // shard subset" without a data file — the one DISTRIBUTION
    // question min/max/sum scalars can't touch. NULL sketch (legacy
    // carry) = unknown; the quantile door refuses rather than skew.
    val kllAggs = quantileCols.map(c =>
      org.apache.spark.sql.graftshim.ColumnBridge.column(
        graft.expressions.KllSketchAgg(
          org.apache.spark.sql.graftshim.ColumnBridge.catalystExpression(
            col(c).cast("double"))).toAggregateExpression())
        .as(s"zkll_$c"))
    val base = written
      .groupBy(col("shard").cast("long").as("shard"))
      .agg(count(lit(1)).as("n_rows"),
        (Seq(min(col(idCol)).as("min_id"),
          max(col(idCol)).as("max_id"),
          sum(xxhash64(dataCols.map(col): _*)).as("content_hash"))
          ++ zoneAggs ++ bloomAggs ++ sketchAggs ++ kllAggs): _*)
    bloom.fold(base) { case (cols, _, k) =>
      cols.foldLeft(base)((m, c) =>
        m.withColumn(s"zbloomk_$c", lit(k))
          // the bloomed column's DATA type, for the automatic planner
          // rule's type-parity gate: a probe under a read schema that
          // re-types the column could canonicalize differently and
          // false-negative — the rule probes only when types agree
          .withColumn(s"zbloomt_$c",
            lit(written.schema(c).dataType.catalogString)))
    }
  }

  /** lgConfigK for manifest HLL sketches: 2^12 registers ≈ 1.6 KB per
    * (shard, column), relative error ≈ 1.6% — manifest-weight stats
    * even at 10^5 shards. Fixed (not a knob) so sketches from every
    * generation union losslessly. */
  private val SketchLgK = 12

  /** The zone-mapped columns a live manifest declares (`zmin_*` names)
    * — rewrites recompute them, since zones are a layout property. */
  private def zoneColsOf(live: DataFrame): Seq[String] =
    live.columns.filter(_.startsWith("zmin_"))
      .map(_.stripPrefix("zmin_")).toSeq

  /** The sketched columns a live manifest declares (`zhll_*` names) —
    * rewrites recompute them so delta/compaction/merge generations
    * keep the distinct door answerable. */
  private def sketchColsOf(live: DataFrame): Seq[String] =
    live.columns.filter(_.startsWith("zhll_"))
      .map(_.stripPrefix("zhll_")).toSeq

  /** The quantile-sketched columns a live manifest declares
    * (`zkll_*` names) — rewrites recompute them so delta/merge
    * generations keep the quantile door answerable. */
  private def quantileColsOf(live: DataFrame): Seq[String] =
    live.columns.filter(_.startsWith("zkll_"))
      .map(_.stripPrefix("zkll_")).toSeq

  /** The bloom declaration a live manifest carries, for rewrites that
    * must recompute stats consistently across generations: bloomed
    * columns from the `zbloom_*` names, (mBits, k) from any shard row
    * with a non-null filter. None when the layout declares no blooms
    * OR every row's bloom is null (an all-legacy carry can't size a
    * rebuild — rewritten shards then publish null blooms, the
    * documented unknown that readers keep conservatively). */
  private def bloomSpecOf(live: DataFrame): Option[(Seq[String], Int, Int)] = {
    val cols = live.columns.filter(_.startsWith("zbloom_"))
      .map(_.stripPrefix("zbloom_")).toSeq
    if (cols.isEmpty) None
    else {
      val c0 = cols.head
      // collect the WIDTH (size × 64), never the bitset: one shard's
      // filter alone is ~9.6 bits per row it covers, real memory at
      // scale (round-17 advisor; same fix as collectLiveMeta)
      live.filter(col(s"zbloom_$c0").isNotNull &&
          col(s"zbloomk_$c0").isNotNull)
        .select((size(col(s"zbloom_$c0")) * lit(64)).cast("int"),
          col(s"zbloomk_$c0"))
        .limit(1).collect().headOption
        .map(r => (cols, r.getInt(0), r.getInt(1)))
    }
  }

  /** ONE bounded collect of the live manifest (≤ nShards rows) serving
    * every driver-side fact the row-level doors need — spec row, live
    * shard set, bloom declaration. The pre-round-17 form fetched these
    * with three separate jobs per merge (spec limit-collect, shard
    * collect, bloom limit-collect); at ~40 ms of fixed cost per driver
    * round trip the batching is pure win and the collect stays inside
    * the manifest envelope. None = manifest predates spec recording. */
  private final case class LiveManifestMeta(
      specCol: Option[String], specN: Int, sortCols: Seq[String],
      liveShards: Set[Long], bloomSpec: Option[(Seq[String], Int, Int)],
      isEmpty: Boolean)

  private def collectLiveMeta(live: DataFrame): Option[LiveManifestMeta] = {
    val cols = live.columns
    if (!cols.contains("spec_col") || !cols.contains("spec_n")) return None
    val bloomCols = cols.filter(_.startsWith("zbloom_"))
      .map(_.stripPrefix("zbloom_")).toSeq
    val c0 = bloomCols.headOption
    val sel = Seq(
      col("spec_col"), col("spec_n"),
      (if (cols.contains("spec_sort")) col("spec_sort")
       else lit(null).cast("string")).as("spec_sort"),
      col("shard"),
      // mBits, not the bitset: the spec only needs the filter's WIDTH,
      // and the bitsets total ~2.5 bytes per corpus row at default fpp
      // — collecting one array per live shard put the whole corpus's
      // bloom bytes on the driver (round-17 advisor, medium). size()
      // of the long array × 64 is a 4-byte int per shard instead.
      c0.map(c => when(col(s"zbloom_$c").isNotNull,
          size(col(s"zbloom_$c")) * lit(64)).cast("int"))
        .getOrElse(lit(null).cast("int")).as("_b"),
      c0.map(c => col(s"zbloomk_$c")).getOrElse(lit(null)
        .cast("int")).as("_bk"))
    val rows = live.select(sel: _*).collect()
    if (rows.isEmpty)
      return Some(LiveManifestMeta(None, 0, Nil, Set.empty, None,
        isEmpty = true))
    val h = rows.head
    val bloomSpec =
      if (bloomCols.isEmpty) None
      else rows.find(r => !r.isNullAt(4) && !r.isNullAt(5))
        .map(r => (bloomCols, r.getInt(4), r.getInt(5)))
    Some(LiveManifestMeta(
      Option(h.getString(0)), h.getInt(1),
      Option(h.getString(2)).map(_.split(',').toSeq).getOrElse(Seq.empty),
      rows.map(_.getLong(3)).toSet, bloomSpec, isEmpty = false))
  }

  /** Stamp a manifest with the generation's DECLARED partition spec
    * (Iceberg's partition-spec metadata, recorded per snapshot):
    * `spec_col` = the explicit assignment column (null = hash of the
    * id), `spec_n` = the shard count. A loader reads the spec from the
    * manifest alone — which generations used which binning is part of
    * the published contract, not tribal knowledge. */
  private def stampSpec(m: DataFrame, shardCol: Option[String],
                        nShards: Int, sortCols: Seq[String] = Nil,
                        idCol: String = null): DataFrame =
    // dropping first restamps carried-forward live rows, and conforms
    // live manifests that predate spec recording
    m.drop("spec_col", "spec_n", "spec_sort", "spec_id")
      .withColumn("spec_col", lit(shardCol.orNull).cast("string"))
      .withColumn("spec_n", lit(nShards))
      // the generation's declared within-shard sort order (Iceberg's
      // write sort-order metadata): null = unsorted
      .withColumn("spec_sort", lit(
        if (sortCols.isEmpty) null else sortCols.mkString(",")).cast("string"))
      // the layout's identity column: names which data column min_id/
      // max_id summarize, so metadata-only MIN/MAX(id) can rewrite
      // without a zone declaration (null = recorded before stamping)
      .withColumn("spec_id", lit(idCol).cast("string"))

  /** The partition spec a [[writeShards]] layout's manifest declares:
    * `(explicit assignment column or None for hash, nShards)`. Reads
    * the live manifest by default; pass `stamp` for a retained
    * generation's. None when the manifest predates spec recording. */
  def shardSpec(spark: SparkSession, path: String,
                stamp: Option[String] = None): Option[(Option[String], Int)] = {
    val mp = manifestPathOf(path, stamp)
    val m = readMemo(spark, mp)
    if (!m.columns.contains("spec_col")) None
    else m.select("spec_col", "spec_n").limit(1).collect().headOption
      .map(r => (Option(r.getString(0)), r.getInt(1)))
  }

  /** PARTITION-SPEC EVOLUTION on a published corpus (the Iceberg
    * hidden-partitioning story: change a table's binning without a
    * mandatory full rewrite): re-declare `shardCol`/`nShards` and
    * publish the SAME corpus under the new assignment as a new
    * generation. The delta classifier compares per-shard content
    * hashes OLD-assignment vs NEW, so any shard whose member set is
    * unchanged under the new spec is carried forward by hard link —
    * re-binning rewrites only what MOVED (growing a date-bucketed
    * layout re-bins the new buckets; a hash→date re-cluster rewrites
    * everything, which is inherent, not overhead). The displaced
    * generation is retained (`retainPrevious` default true here):
    * [[readShardsAt]] keeps answering the old binning, each
    * generation's manifest records its own spec ([[shardSpec]]) and
    * carries its own zone maps.
    *
    * Same determinism contract as [[publishDelta]]: `df` is evaluated
    * twice — persist or re-read a materialized source. */
  def rebinShards(df: DataFrame, path: String, idCol: String,
                  nShards: Int, zoneCols: Seq[String] = Nil,
                  shardCol: Option[String] = None,
                  retainPrevious: Boolean = true,
                  sortCols: Seq[String] = Nil): DataFrame =
    publishDelta(df, path, idCol, nShards, retainPrevious, zoneCols,
      shardCol, sortCols)

  /** QUANTILE-GUIDED REBIN — the stats→layout loop closed: re-cluster
    * a published layout into ~equi-depth range shards on a numeric
    * column, with the cut points read from the manifest's KLL sketch
    * ([[approxQuantilesShards]]) instead of a planning scan. The only
    * data pass is the rewrite itself — which ANY rebin pays — so at
    * 100 TB this turns "skew crept into the date/length clustering,
    * re-balance it" from scan+plan+rewrite into plan-from-metadata +
    * rewrite. After the rebin, zone ranges on `binCol` are tight
    * equi-depth intervals: a range predicate opens ~|range|/nShards
    * of the corpus AND every shard holds ~the same row count (no
    * straggler shards — the two goals hash sharding cannot serve at
    * once for range queries).
    *
    * The bin assignment column (`qbin`) rides the data like any
    * explicit spec column, and the cuts are published BESIDE the
    * layout (`$path/qbin_cuts`, nShards−1 rows) AFTER the layout
    * commits — later patch authors bin new rows with [[qbinExpr]]
    * over the same cuts (a crash between the two leaves a layout
    * whose missing cuts file fails loudly, never a silently
    * mis-binned merge). KLL rank error (~1.65%) shifts bin
    * populations by at most that fraction — balance, not
    * correctness: membership is exact from the cut values. NULL
    * `binCol` values land in bin 0 (deterministic; nulls have no
    * rank). Requires the live manifest to carry `zkll_<binCol>`. */
  def rebinShardsByQuantiles(spark: SparkSession, path: String,
                             idCol: String, binCol: String, nShards: Int,
                             extraZoneCols: Seq[String] = Nil,
                             retainPrevious: Boolean = true,
                             sortCols: Seq[String] = Nil): DataFrame = {
    // the row-side bin kernel is a binary search over the cut table
    // ([[graft.expressions.QuantileBin]]), so the shard count scales
    // to the 10^4–10^5 an equi-depth 100 TB layout wants; 2^20 bounds
    // the driver-collected cut table (8 MB) far above any real layout
    require(nShards > 1 && nShards <= (1 << 20),
      s"quantile rebin needs 1 < nShards <= ${1 << 20}, got $nShards")
    val cuts = approxQuantilesShards(spark, path, binCol,
        (1 until nShards).map(_.toDouble / nShards))
      .orderBy("rank").select("value")
      .collect().map(_.getDouble(0)).toSeq
    require(cuts.distinct.size > 0, "no cuts — empty layout?")
    // drop a PREVIOUS quantile rebin's bin column (re-rebinning under
    // new cuts), but never a user column that happens to share the
    // name — only the layout's own spec claims it
    val liveM = shardStats(spark, path)
    val specCol = liveM.select(col("spec_col"))
      .limit(1).collect().headOption.flatMap(r => Option(r.getString(0)))
    val liveRaw = readMemo(spark, s"$path/data").drop("shard")
    require(!liveRaw.columns.contains("qbin") || specCol.contains("qbin"),
      s"the layout carries a 'qbin' DATA column that is not the " +
        "quantile-rebin spec — rename it before a quantile rebin")
    val live =
      if (specCol.contains("qbin")) liveRaw.drop("qbin") else liveRaw
    val rebinned = live.withColumn("qbin", qbinExpr(cuts, col(binCol)))
    // a quantile rebin changes (nearly) every shard's membership, so
    // publishDelta's carry-forward detection pass could never save a
    // byte — go straight through the full-publish door: one corpus
    // read into the staged write, stats from the written bytes,
    // nothing evaluated twice. Stat declarations are a LAYOUT
    // property (the delta path inherits them); the fresh publish must
    // re-declare ALL of them — blooms, distinct/quantile sketches,
    // AND the live zone set — or the rebin would silently strip
    // stats later doors rely on (a date zone readShardsBetween
    // prunes with, the group zones the grouped-quantile door
    // requires, the very zkll the NEXT re-rebin needs). Only a zone
    // on a column that no longer exists is dropped (the previous
    // rebin's 'qbin' spec column — re-derived below under new cuts).
    val liveZoneCols = liveM.columns.filter(_.startsWith("zmin_"))
      .map(_.stripPrefix("zmin_")).toSeq
    val zoneCols = (binCol +: (extraZoneCols ++ liveZoneCols)).distinct
      .filter(rebinned.columns.contains)
    val manifest = writeShards(rebinned, path, idCol, nShards,
      retainPrevious = retainPrevious,
      zoneCols = zoneCols,
      shardCol = Some("qbin"), sortCols = sortCols,
      bloomCols = bloomSpecOf(liveM).map(_._1).getOrElse(Nil),
      sketchCols = sketchColsOf(liveM),
      quantileCols = (binCol +: quantileColsOf(liveM)).distinct)
    // cuts AFTER the layout commit (the VectorIndex centroid
    // convention): a FIRST rebin's readers fail on the missing path
    // instead of binning against stale cuts, and a RE-rebin crashing
    // in this window leaves a cut table whose intervals disagree with
    // the committed zones — which [[qbinCuts]]' manifest check
    // refuses loudly (the bin_col/n_shards stamps + per-shard
    // containment make the staleness detectable, not just argued)
    locally {
      import spark.implicits._
      cuts.zipWithIndex.map { case (c, i) => (i.toLong, c, binCol, nShards) }
        .toDF("cut_idx", "cut", "bin_col", "n_shards")
        .coalesce(1).write.mode("overwrite").parquet(s"$path/qbin_cuts")
    }
    manifest
  }

  /** The bin of `value` against equi-depth `cuts` (count of cuts ≤ it
    * — monotone, exact from the cut values; NULL → bin 0). Publish
    * and every later patch MUST use the same cuts
    * (`$path/qbin_cuts` — read them through [[qbinCuts]], which
    * verifies the sidecar against the live manifest) or rows
    * mis-route. Binary search over the sorted cuts (a native
    * codegen'd expression): ~log₂(n) comparisons per row, so
    * equi-depth layouts scale to the 10^4–10^5 shards a 100 TB
    * corpus wants — the previous per-row fold over nShards−1 `when`
    * terms capped the layout at 1024 bins. */
  def qbinExpr(cuts: Seq[Double], value: Column): Column = {
    // count-of-cuts-≤-v is order-independent; sorting (NaN last under
    // the total order, never counted) is what makes the search valid
    val sorted = cuts.toArray.sorted
    org.apache.spark.sql.graftshim.ColumnBridge.column(
      graft.expressions.QuantileBin(
        org.apache.spark.sql.graftshim.ColumnBridge.catalystExpression(
          value.cast("double")),
        sorted))
  }

  /** Read a quantile-rebinned layout's cut table, VERIFIED against
    * the live manifest before anything routes rows with it: the bin
    * column and shard count must match the layout's spec, and every
    * occupied shard's recorded `[zmin, zmax]` on the bin column must
    * lie inside its cut interval — `shard i ⇒ zmin ≥ cuts(i−1) ∧
    * zmax < cuts(i)`, exactly [[qbinExpr]]'s arithmetic. The check is
    * manifest-priced (one row per shard) and makes staleness LOUD
    * instead of silently degrading the clustering: a crash between a
    * re-rebin's layout commit and its cuts overwrite leaves cuts that
    * disagree with the committed zones, and this refuses them. Delta
    * publishes and row-level merges keep binning with the same cuts,
    * so their generations verify clean. Returns (binCol, cuts). */
  def qbinCuts(spark: SparkSession, path: String): (String, Seq[Double]) = {
    val cutsPath = s"$path/qbin_cuts"
    val fs = new org.apache.hadoop.fs.Path(cutsPath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(new org.apache.hadoop.fs.Path(cutsPath)),
      s"no cut table at $cutsPath — not a quantile-rebinned layout " +
        "(or a first rebin crashed before publishing its cuts; re-run " +
        "rebinShardsByQuantiles)")
    val raw = spark.read.parquet(cutsPath)
    require(raw.columns.contains("bin_col") && raw.columns.contains("n_shards"),
      s"$cutsPath lacks bin_col/n_shards stamps — rewrite it with a " +
        "current rebinShardsByQuantiles")
    val rows = raw.orderBy("cut_idx")
      .select(col("cut"), col("bin_col"), col("n_shards")).collect()
    require(rows.nonEmpty, s"$cutsPath is empty")
    val binCol = rows.head.getString(1)
    val nShards = rows.head.getInt(2)
    val cuts = rows.map(_.getDouble(0)).toSeq
    require(cuts.length == nShards - 1,
      s"$cutsPath holds ${cuts.length} cuts but records n_shards=" +
        s"$nShards — corrupt sidecar")
    val m = shardStats(spark, path)
    val specN = m.select(col("spec_n")).limit(1).collect()
      .headOption.map(_.getInt(0))
    val specCol = m.select(col("spec_col")).limit(1).collect()
      .headOption.flatMap(r => Option(r.getString(0)))
    require(specCol.contains("qbin") && specN.contains(nShards),
      s"cut table at $cutsPath (bin_col=$binCol, n_shards=$nShards) " +
        s"does not describe the live layout (spec_col=${specCol.orNull}, " +
        s"spec_n=${specN.orNull}) — the layout was republished under a " +
        "different spec; re-run rebinShardsByQuantiles")
    Seq(s"zmin_$binCol", s"zmax_$binCol").foreach(c =>
      require(m.columns.contains(c),
        s"live manifest lacks $c — '$binCol' is not a zone column of " +
          s"$path, so these cuts cannot belong to it"))
    // interval containment per occupied shard: stale cuts from a
    // crashed re-rebin disagree with the committed zones unless the
    // routing coincides anyway (then they are interchangeable)
    val bad = m.filter(col("n_rows") > 0)
      .select(col("shard"), col(s"zmin_$binCol").cast("double"),
        col(s"zmax_$binCol").cast("double"))
      .collect().flatMap { r =>
        val sid = r.getLong(0)
        if (r.isNullAt(1) || r.isNullAt(2)) {
          // all-null bin column: every row binned 0 — any other shard
          // id proves the cuts (or the layout) inconsistent
          if (sid == 0L) None else Some(sid)
        } else {
          val (lo, hi) = (r.getDouble(1), r.getDouble(2))
          val okLo = sid == 0L || lo >= cuts((sid - 1).toInt)
          val okHi = sid == cuts.length.toLong || hi < cuts(sid.toInt)
          if (okLo && okHi && sid <= cuts.length.toLong) None else Some(sid)
        }
      }
    if (bad.nonEmpty)
      throw new IllegalStateException(
        s"cut table at $cutsPath is STALE: shards ${bad.sorted.mkString(", ")} " +
          s"hold '$binCol' values outside their cut intervals — a " +
          "re-rebin crashed between its layout commit and its cuts " +
          "publish. Re-run rebinShardsByQuantiles before routing rows.")
    (binCol, cuts)
  }

  /** Integrity check for a [[writeShards]] layout: recompute each
    * shard's (n_rows, id range, content hash) from the published data
    * files and diff against the stored manifest. One scan of the data,
    * one tiny manifest join — the post-transfer / post-restore check a
    * loader runs before trusting a corpus copy. Returns one row per
    * shard seen on either side: (shard, ok, n_rows, manifest_rows,
    * content_hash, manifest_hash); `ok = false` covers mismatched
    * counts/hashes AND shards present on only one side. */
  def verifyShards(spark: SparkSession, path: String,
                   idCol: String): DataFrame = {
    val manifest = readMemo(spark, s"$path/manifest")
      .select(col("shard"), col("n_rows").as("manifest_rows"),
        col("content_hash").as("manifest_hash"))
    // no data files at all (empty publish, or the data dir was lost
    // wholesale): schema inference would throw an unrelated error, so
    // answer from the manifest alone — every shard it describes is
    // missing (ok=false); an empty manifest verifies vacuously clean
    val dataPath = new org.apache.hadoop.fs.Path(s"$path/data")
    val fs = dataPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // only VISIBLE committed files count: a killed write leaves
    // _temporary/.../part-*.parquet that Spark's reader ignores, so
    // counting it here would re-introduce the schema-inference crash
    // this branch exists to prevent
    // qualify before comparing: listFiles returns fully-qualified
    // paths (file:/…), so an unqualified dataPath would never match
    // and the walk would run past the data dir to the filesystem root
    // — any '_'/'.'-prefixed ANCESTOR of the publish path would then
    // make every committed part file invisible
    val qualifiedData = fs.makeQualified(dataPath)
    def visible(p: org.apache.hadoop.fs.Path): Boolean = {
      var cur = p
      var ok = true
      while (ok && cur != null && cur != qualifiedData) {
        val n = cur.getName
        ok = !n.startsWith("_") && !n.startsWith(".")
        cur = cur.getParent
      }
      ok
    }
    val hasParquet = fs.exists(dataPath) && {
      val it = fs.listFiles(dataPath, true)
      var found = false
      while (!found && it.hasNext) {
        val f = it.next().getPath
        found = f.getName.endsWith(".parquet") && visible(f)
      }
      found
    }
    if (!hasParquet)
      return manifest.select(col("shard"), lit(false).as("ok"),
        lit(null).cast("long").as("n_rows"), col("manifest_rows"),
        lit(null).cast("long").as("content_hash"), col("manifest_hash"))
    val written = readMemo(spark, s"$path/data")
    val dataCols = written.columns.filter(_ != "shard").toSeq
    val actual = shardSummary(written, idCol, dataCols)
    actual.join(manifest, Seq("shard"), "full_outer")
      .withColumn("ok",
        col("n_rows") === col("manifest_rows") &&
          col("content_hash") === col("manifest_hash"))
      .withColumn("ok", coalesce(col("ok"), lit(false)))
      .select("shard", "ok", "n_rows", "manifest_rows",
        "content_hash", "manifest_hash")
  }

  /** ZONE-MAP pruned scan of a [[writeShards]] layout: read only the
    * shards whose recorded `[zmin_<zoneCol>, zmax_<zoneCol>]` range
    * intersects `[lo, hi]`, then apply the precise row filter. The
    * planning read is the MANIFEST (one row per shard — metadata
    * scale); at 100 TB a selective date predicate over a
    * date-clustered publish opens the matching fraction of shard
    * files instead of every footer in the corpus (this is file-level
    * data skipping, one level above the parquet row-group stats the
    * range-sorted writer already exploits — [[writeSorted]]).
    *
    * Result rows are EXACTLY `read(data).filter(zoneCol between
    * lo and hi)`: shards whose stats are null (all-null zone column)
    * cannot contain a matching row and are skipped; rows with a null
    * zone value inside surviving shards are dropped by the row filter
    * like any scan. Requires the publish to have recorded `zoneCol`
    * in its `zoneCols` — fails loudly otherwise (a typo'd column
    * pruning everything would be the silent-wrongness outcome). */
  def readShardsBetween(spark: SparkSession, path: String,
                        zoneCol: String, lo: Any, hi: Any): DataFrame = {
    val manifest = readMemo(spark, s"$path/manifest")
    require(manifest.columns.contains(s"zmin_$zoneCol"),
      s"no zone map for '$zoneCol' in $path/manifest — publish with " +
        s"zoneCols = Seq(...\"$zoneCol\"...) to enable pruning (have: ${
          manifest.columns.filter(_.startsWith("zmin_"))
            .map(_.stripPrefix("zmin_")).mkString(", ")})")
    // bounded collect: one row per shard, the same envelope as the
    // publisher's own manifest reads
    val keep = manifest
      .filter(col(s"zmax_$zoneCol") >= lit(lo) &&
        col(s"zmin_$zoneCol") <= lit(hi))
      .select(col("shard")).collect().map(_.getLong(0)).sorted
    val dataDir = s"$path/data"
    val pruned =
      if (keep.isEmpty)
        // schema from the layout (footer-only), zero rows
        readMemo(spark, dataDir).filter(lit(false))
      else
        readerWithLayoutSchema(spark, dataDir).option("basePath", dataDir)
          .parquet(keep.map(s => s"$dataDir/shard=$s"): _*)
    pruned.filter(col(zoneCol) >= lit(lo) && col(zoneCol) <= lit(hi))
  }

  /** SET-MEMBERSHIP read on a published layout via zone pruning: the
    * rows where `zoneCol IN (values)`, opening only shards whose
    * recorded [zmin, zmax] can intersect the set. The door behind
    * cell-routed reads ([[graft.operators.VectorIndex.topK]] probes
    * nProbe IVF cells of a cell-clustered corpus) and any dictionary-
    * coded selective IN. Result rows are EXACTLY
    * `read(data).filter(zoneCol.isin(values))`: pruning is one-sided
    * (range-intersect keeps a superset), survivors are row-filtered.
    * `values` is bounded by the CALLER's probe set, not the corpus —
    * the manifest collect is one row per shard, the same envelope as
    * every planning door here. */
  def readShardsIn(spark: SparkSession, path: String,
                   zoneCol: String, values: Seq[Any]): DataFrame = {
    // the probe set sizes the per-shard intersection test (an OR
    // chain evaluated over the manifest) — this door is for BOUNDED
    // sets (cell probes, dictionary codes); a corpus-sized IN belongs
    // on the data scan, where the automatic zone rule still prunes
    require(values.lengthCompare(10000) <= 0,
      s"readShardsIn probe set has ${values.length} values — beyond " +
        "the bounded-planning envelope (10k); filter the data scan " +
        "directly (the automatic zone-skipping rule still prunes) or " +
        "split the set")
    val manifest = readMemo(spark, s"$path/manifest")
    require(manifest.columns.contains(s"zmin_$zoneCol"),
      s"no zone map for '$zoneCol' in $path/manifest — publish with " +
        s"zoneCols = Seq(...\"$zoneCol\"...) to enable pruning (have: ${
          manifest.columns.filter(_.startsWith("zmin_"))
            .map(_.stripPrefix("zmin_")).mkString(", ")})")
    val dataDir = s"$path/data"
    val noMatch = readMemo(spark, dataDir).filter(lit(false))
    if (values.isEmpty) noMatch
    else {
      // per-shard range intersect with the value set: one OR chain
      // over the bounded value list, evaluated on the one-row-per-
      // shard manifest (null stats = all-null shard, skipped — it
      // cannot hold a matching row)
      val hit = values.distinct.map(v =>
        col(s"zmin_$zoneCol") <= lit(v) && col(s"zmax_$zoneCol") >= lit(v))
        .reduce(_ || _)
      val keep = manifest.filter(hit)
        .select(col("shard")).collect().map(_.getLong(0)).sorted
      val pruned =
        if (keep.isEmpty) noMatch
        else readerWithLayoutSchema(spark, dataDir).option("basePath", dataDir)
          .parquet(keep.map(s => s"$dataDir/shard=$s"): _*)
      pruned.filter(col(zoneCol).isin(values: _*))
    }
  }

  /** Candidate shards for the point predicate `column = value` from
    * the manifest's per-shard bloom stats alone — one probe per SHARD
    * row, no data touched. One-sided: the result is a SUPERSET of the
    * shards actually holding the value (≈ε extra under the declared
    * fpp); a shard whose bloom is NULL (legacy carry) is kept
    * conservatively. `value` is the STRING form of the sought value —
    * blooms are built over `CAST(col AS STRING)`, so probe with the
    * same canonical spelling. */
  def bloomCandidateShards(spark: SparkSession, path: String,
                           column: String, value: String,
                           stamp: Option[String] = None): Seq[Long] = {
    val m = shardStats(spark, path, stamp)
    require(m.columns.contains(s"zbloom_$column"),
      s"no bloom stats for '$column' in $path/manifest — publish with " +
        s"bloomCols = Seq(...\"$column\"...) to enable point pruning " +
        s"(have: ${m.columns.filter(_.startsWith("zbloom_"))
          .map(_.stripPrefix("zbloom_")).mkString(", ")})")
    // bounded collect: one row per shard, the manifest envelope
    m.select(col("shard"), col(s"zbloom_$column"), col(s"zbloomk_$column"))
      .collect().toSeq
      .filter(r => r.isNullAt(1) || r.isNullAt(2) ||
        graft.expressions.BloomOps.containsMaybe(
          r.getSeq[Long](1).toArray, r.getInt(2), value))
      .map(_.getLong(0)).sorted
  }

  /** POINT-LOOKUP read on a published layout via bloom pruning: the
    * rows where `column`'s string form equals `value`, opening only
    * the shards whose bloom might hold it. This is the door min/max
    * zones can't be on a hash-sharded corpus — every domain/
    * fingerprint value spreads across all shards, so range stats
    * never exclude anything, while a bloom answers "not in this
    * shard" for all but ~ε of them. The 100 TB shapes: "is this
    * exact document (content fingerprint) already published?",
    * "fetch everything from domain X" — membership and retrieval at
    * manifest-planning cost. Exact by construction: bloom pruning is
    * one-sided and the survivors are row-filtered. */
  def readShardsPoint(spark: SparkSession, path: String,
                      column: String, value: String): DataFrame = {
    val keep = bloomCandidateShards(spark, path, column, value)
    val dataDir = s"$path/data"
    val pruned =
      if (keep.isEmpty) readMemo(spark, dataDir).filter(lit(false))
      else readerWithLayoutSchema(spark, dataDir).option("basePath", dataDir)
        .parquet(keep.map(s => s"$dataDir/shard=$s"): _*)
    pruned.filter(col(column).cast("string") === lit(value))
  }

  /** Retained PUBLISHED generations of a [[writeShards]] layout,
    * oldest first — populated by publishes with `retainPrevious`
    * (each promote retires the displaced generation into
    * `$path/_versions/<stamp>` by rename; under delta publishes the
    * carried files are hard links, so a retained generation costs its
    * delta in disk, like Iceberg snapshots). Same stamp semantics as
    * the dim-table store: a version is named by the publish that
    * DISPLACED it, so `readShardsAt(stamp)` answers "what did the
    * corpus say just before the <stamp> publish". */
  def listShardVersions(spark: SparkSession, path: String): Seq[String] = {
    val vd = new org.apache.hadoop.fs.Path(
      new org.apache.hadoop.fs.Path(path), PublishedVersionsDir)
    val fs = vd.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(vd)) Seq.empty
    else fs.listStatus(vd).filter(_.isDirectory).map(_.getPath.getName)
      .toSeq.sortBy { s =>
        val fixed = s.length == 19 && s.forall(_.isDigit)
        (fixed, s.toLongOption.getOrElse(Long.MinValue), s)
      }
  }

  /** Time travel on a PUBLISHED corpus: the shard data of the retained
    * generation displaced at `stamp` (its manifest sits beside it at
    * `$path/_versions/<stamp>/manifest` for verification/diffing).
    * Fails loudly when the generation was expired or never retained —
    * the same no-silent-fallback contract as [[readDimAt]]. */
  def readShardsAt(spark: SparkSession, path: String,
                   stamp: String): DataFrame = {
    val tgt = new org.apache.hadoop.fs.Path(
      new org.apache.hadoop.fs.Path(path),
      s"$PublishedVersionsDir/$stamp")
    val fs = tgt.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(tgt)) {
      val have = listShardVersions(spark, path)
      throw new java.util.NoSuchElementException(
        s"published generation $stamp of $path is not retained " +
          s"(expired, or never published with retainPrevious); retained: ${
            if (have.isEmpty) "none" else have.mkString(", ")}")
    }
    readMemo(spark, s"$tgt/data")
  }

  /** Expire retained PUBLISHED generations of a [[writeShards]]
    * layout older than `olderThanMs` — the corpus-layout counterpart
    * of [[expireDimVersions]] (Iceberg's `expire_snapshots` for the
    * shard store; without it a delta-publishing pipeline retains
    * forever). Safe against the hard-link delta mechanics by
    * construction: the live generation holds its OWN links to carried
    * files, so deleting a retired generation's directory only drops
    * reference counts — live reads never lose an inode. After expiry,
    * [[readShardsAt]]/[[shardStats]](stamp) on the removed stamp fail
    * loudly per their no-silent-fallback contract. Returns the number
    * of generations removed. */
  def expireShardVersions(spark: SparkSession, path: String,
                          olderThanMs: Long): Int = {
    val base = new org.apache.hadoop.fs.Path(path)
    val fs = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
    expireVersionsUnder(fs,
      new org.apache.hadoop.fs.Path(base, PublishedVersionsDir), olderThanMs)
  }

  /** METADATA TABLE over a published layout — the Iceberg
    * `table.files` / `table.partitions` shape: per-shard row counts,
    * id range, declared zone-map ranges and the generation's partition
    * spec, answered from the manifest ALONE (one row per shard, zero
    * data files opened). At 100 TB this is the difference between a
    * catalog query ("how many rows per date bucket, what ranges do we
    * hold") costing a manifest read vs a full corpus scan — the same
    * stats the pruning reader plans from, exposed as a queryable
    * frame. `stamp` selects a retained generation's manifest (same
    * stamp semantics as [[readShardsAt]]). The `content_hash` column
    * is part of the frame on purpose: it is the verification currency
    * ([[verifyShards]]), and diffing two generations' stats frames is
    * the cheap answer to "what changed". */
  def shardStats(spark: SparkSession, path: String,
                 stamp: Option[String] = None): DataFrame = {
    val mp = manifestPathOf(path, stamp)
    val fs = new org.apache.hadoop.fs.Path(mp)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(new org.apache.hadoop.fs.Path(mp)))
      throw new java.util.NoSuchElementException(
        s"no manifest at $mp — not a published shard layout" +
          stamp.fold("")(s => s" (or generation $s not retained; " +
            s"retained: ${listShardVersions(spark, path).mkString(", ")})"))
    readMemo(spark, mp)
  }

  /** METADATA-ONLY approximate COUNT(DISTINCT `column`) on a published
    * layout: union the per-shard HLL sketches the publish recorded
    * (`zhll_<column>`, lossless HLL union) and estimate — zero data
    * files opened, one pass over the one-row-per-shard manifest. The
    * 100 TB shape: "how many distinct users / domains / fingerprints
    * does this corpus hold" at planning cost instead of a corpus-wide
    * shuffle; works on any retained generation (`stamp`) for free.
    *
    * STRICT by design: a shard with rows but a NULL sketch (a legacy
    * carry from a pre-sketch generation) makes the union an
    * undercount, so the door throws instead of silently skipping —
    * re-publish (or compact) under the current declaration to restore
    * it. Returns one row: (approx_distinct long, n_shards, n_rows). */
  def approxDistinctShards(spark: SparkSession, path: String,
                           column: String,
                           stamp: Option[String] = None): DataFrame = {
    val m = shardStats(spark, path, stamp)
    require(m.columns.contains(s"zhll_$column"),
      s"no distinct sketch for '$column' in $path/manifest — publish " +
        s"with sketchCols = Seq(...\"$column\"...) to enable the " +
        s"metadata distinct door (have: ${
          m.columns.filter(_.startsWith("zhll_"))
            .map(_.stripPrefix("zhll_")).mkString(", ")})")
    val carries = m.filter(col(s"zhll_$column").isNull && col("n_rows") > 0)
      .select(col("shard")).collect().map(_.getLong(0))
    if (carries.nonEmpty)
      throw new IllegalStateException(
        s"shards ${carries.sorted.mkString(", ")} carry no " +
          s"'$column' sketch (legacy generation) — a union would " +
          "undercount; re-publish or compact under the current " +
          "sketch declaration")
    m.agg(
      hll_sketch_estimate(hll_union_agg(col(s"zhll_$column"), lit(true)))
        .as("approx_distinct"),
      count(lit(1)).as("n_shards"),
      sum(col("n_rows")).as("n_rows"))
  }

  /** METADATA-ONLY approximate QUANTILES of `column` on a published
    * layout: merge the per-shard KLL sketches the publish recorded
    * (`zkll_<column>` — [[graft.expressions.KllSketchAgg]]) and read
    * the requested ranks — zero data files opened, one pass over the
    * one-row-per-shard manifest. The 100 TB shape: "median / p95 /
    * p99 document length of this corpus" at planning cost instead of
    * a corpus-wide sort or TDigest pass; works on any retained
    * generation (`stamp`) for free. KLL merge preserves the rank-error
    * bound (~1.65% at the fixed k) across any merge tree, so the
    * union is as accurate as one sketch built over the whole corpus.
    *
    * STRICT like the distinct door: a shard with rows but a NULL
    * sketch (legacy carry) would silently skew every rank, so the
    * door throws — re-publish (or merge-rewrite) under the current
    * declaration to restore it. Returns one row per requested rank:
    * (rank double, value double), rank order preserved. */
  def approxQuantilesShards(spark: SparkSession, path: String,
                            column: String, ranks: Seq[Double],
                            stamp: Option[String] = None): DataFrame = {
    require(ranks.nonEmpty && ranks.forall(r => r >= 0.0 && r <= 1.0),
      s"ranks must be non-empty and within [0,1], got ${ranks.mkString(", ")}")
    val m = shardStats(spark, path, stamp)
    require(m.columns.contains(s"zkll_$column"),
      s"no quantile sketch for '$column' in $path/manifest — publish " +
        s"with quantileCols = Seq(...\"$column\"...) to enable the " +
        s"metadata quantile door (have: ${
          m.columns.filter(_.startsWith("zkll_"))
            .map(_.stripPrefix("zkll_")).mkString(", ")})")
    val carries = m.filter(col(s"zkll_$column").isNull && col("n_rows") > 0)
      .select(col("shard")).collect().map(_.getLong(0))
    if (carries.nonEmpty)
      throw new IllegalStateException(
        s"shards ${carries.sorted.mkString(", ")} carry no " +
          s"'$column' quantile sketch (legacy generation) — a merge " +
          "would skew every rank; re-publish or merge-rewrite under " +
          "the current quantileCols declaration")
    import org.apache.spark.sql.graftshim.ColumnBridge
    val merged = ColumnBridge.column(graft.expressions.KllMergeAgg(
      ColumnBridge.catalystExpression(col(s"zkll_$column")))
      .toAggregateExpression())
    val one = m.agg(merged.as("_sk"))
    // one sketch row × |ranks| quantile reads — plan-level (the
    // scalar expression runs inside ordinary codegen'd projection)
    val rankCol = explode(array(ranks.map(r => lit(r)): _*)).as("rank")
    one.select(rankCol, col("_sk"))
      .select(col("rank"),
        ColumnBridge.column(graft.expressions.KllQuantile(
          ColumnBridge.catalystExpression(col("_sk")),
          ColumnBridge.catalystExpression(col("rank").cast("double"))))
          .as("value"))
  }

  /** LAYOUT DOCTOR — the ops summary every door here assumes someone
    * eventually asks for: one row describing a published layout's
    * health, computed entirely from the manifest (+ one versions
    * listing). Columns: shard/row counts, balance (`skew` =
    * max/mean shard rows — the rebin trigger), the partition spec,
    * which stat families are declared (zones/blooms/distinct
    * sketches/quantile sketches, CSV), how many populated shards
    * carry a NULL declared stat (`legacy_carry_shards` — the count
    * that makes the strict doors refuse; re-publish or merge-rewrite
    * to clear), and how many displaced generations are retained
    * (time-travel/CDC reach). SQL: `SELECT * FROM
    * shard_doctor('<path>')` — the first thing to run before trusting
    * or tuning a corpus you didn't publish yourself. */
  def shardDoctor(spark: SparkSession, path: String): DataFrame = {
    val m = shardStats(spark, path)
    val rows = m.collect() // one row per shard: the manifest envelope
    val cols = m.columns
    def declared(prefix: String): Seq[String] =
      cols.filter(_.startsWith(prefix)).map(_.stripPrefix(prefix)).toSeq
    val zones = declared("zmin_")
    val blooms = declared("zbloom_") // zbloomk_/zbloomt_ don't match the prefix
    val hlls = declared("zhll_")
    val klls = declared("zkll_")
    val nIdx = cols.indexOf("n_rows")
    // A populated shard carries STALE stats when a blob stat the
    // strict doors refuse on (zbloom_/zhll_/zkll_) is null, or a zone
    // stat is null WITHOUT the all-null disambiguation: a
    // current-generation shard whose zone column is genuinely all
    // null publishes null zmin/zmax beside znull == n_rows (nulls are
    // ignored by min/max — the documented totality stance), and that
    // is a healthy layout, not a legacy carry.
    val blobCols: Seq[String] = blooms.map(c => s"zbloom_$c") ++
      hlls.map(c => s"zhll_$c") ++ klls.map(c => s"zkll_$c")
    val legacy = rows.count { r =>
      !r.isNullAt(nIdx) && r.getLong(nIdx) > 0 && {
        val n = r.getLong(nIdx)
        blobCols.exists(c => r.isNullAt(cols.indexOf(c))) ||
          zones.exists { c =>
            val zi = cols.indexOf(s"znull_$c")
            r.isNullAt(cols.indexOf(s"zmin_$c")) &&
              !(zi >= 0 && !r.isNullAt(zi) && r.getLong(zi) == n)
          }
      }
    }
    val sizes = rows.map(_.getLong(nIdx))
    val total = sizes.sum
    val mean = if (sizes.nonEmpty) total.toDouble / sizes.length else 0.0
    val spec = rows.headOption
    def specStr(c: String): String =
      spec.flatMap(r => Option(r.get(cols.indexOf(c)))).map(_.toString).orNull
    val retained = listShardVersions(spark, path).size
    import spark.implicits._
    Seq((
      sizes.length.toLong, total,
      if (sizes.isEmpty) 0L else sizes.min,
      if (sizes.isEmpty) 0L else sizes.max,
      mean,
      if (mean > 0) sizes.max / mean else 0.0,
      specStr("spec_col"), specStr("spec_n"), specStr("spec_sort"),
      specStr("spec_id"),
      zones.sorted.mkString(","), blooms.sorted.mkString(","),
      hlls.sorted.mkString(","), klls.sorted.mkString(","),
      legacy.toLong, retained.toLong,
    )).toDF("n_shards", "n_rows", "min_shard_rows", "max_shard_rows",
      "mean_shard_rows", "skew", "spec_col", "spec_n", "spec_sort",
      "spec_id", "zone_cols", "bloom_cols", "distinct_sketch_cols",
      "quantile_sketch_cols", "legacy_carry_shards", "retained_versions")
  }

  /** MANIFEST DISASTER RECOVERY — rebuild a published layout's
    * manifest from nothing but its data files (the Iceberg
    * "metadata loss" runbook, `RewriteTablePath`/`register_table`
    * territory): the data bytes are the durable artifact, every
    * manifest stat is a pure function of them, so a deleted or
    * corrupted `$path/manifest` need never brick a 100 TB corpus.
    * One scan of the data recomputes the full per-shard summary —
    * row counts, id range, content hashes, and every declared stat
    * family (zones + null counts + integral sums, blooms, HLL
    * distinct sketches, KLL quantile sketches) — and the new
    * manifest is promoted as a NEW GENERATION whose data files are
    * the live ones hard-linked: same crash envelope as any publish
    * (a kill anywhere leaves the old state or the complete new one,
    * [[recoverPublish]] converges), same retention story
    * (`retainPrevious` keeps the displaced generation for audit).
    *
    * The caller RE-DECLARES the layout spec — it died with the
    * manifest — and the rebuild VERIFIES it against the bytes before
    * publishing: the declared assignment (hash of `idCol` over
    * `nShards`, or the explicit `shardCol`) must reproduce every
    * row's shard directory, so a wrong `nShards` or id column fails
    * loudly instead of stamping a spec that would misroute every
    * later [[mergeRows]] patch. (`sortCols` is declarative-only —
    * re-stamped, not re-verified: rows are not rewritten here.)
    *
    * Also the STAT BACKFILL door for a healthy layout: rebuilding
    * with a wider declaration set adds stat families to a corpus
    * published before they existed, at scan cost but zero data
    * rewrite — but prefer [[declareShardStats]], which reads the
    * spec from the live manifest instead of trusting a caller.
    * Returns the live (rebuilt) manifest. */
  def rebuildManifest(spark: SparkSession, path: String, idCol: String,
                      nShards: Int, shardCol: Option[String] = None,
                      zoneCols: Seq[String] = Nil,
                      bloomCols: Seq[String] = Nil,
                      bloomFpp: Double = 0.01,
                      sketchCols: Seq[String] = Nil,
                      quantileCols: Seq[String] = Nil,
                      sortCols: Seq[String] = Nil,
                      retainPrevious: Boolean = false): DataFrame = {
    require(nShards > 0, s"nShards must be positive, got $nShards")
    require(bloomFpp > 0 && bloomFpp < 1, s"bloomFpp in (0,1), got $bloomFpp")
    // the envelope's recovery runs first: a sealed staging from a
    // crashed publish may itself hold the newest manifest, so the
    // rebuild reads the converged generation, not a mid-promote mix
    withPublishLease(spark, path) { (base, fs) =>
      val dataDir = s"$path/data"
      require(fs.exists(new org.apache.hadoop.fs.Path(dataDir)),
        s"rebuildManifest: no data at $dataDir — nothing to rebuild from")
      val (dataCols, writtenSchema) = layoutSchema(spark, dataDir)
      validateStatDecls(writtenSchema, dataCols, idCol, shardCol,
        zoneCols, bloomCols, sketchCols, quantileCols, sortCols,
        "rebuildManifest")
      val written = spark.read.schema(writtenSchema).parquet(dataDir)
      // spec verification from the BYTES (column-pruned scan): the
      // declared assignment must reproduce the shard directories, or
      // the stamped spec would misroute every later patch. limit(1)
      // short-circuits — the happy path still scans, the broken one
      // stops at the first witness.
      val bad = written
        .filter(shardAssignment(idCol, nShards, shardCol) =!= col("shard"))
        .select((shardCol.toSeq.map(col) :+ col(idCol) :+ col("shard")): _*)
        .limit(1).collect()
      if (bad.nonEmpty)
        throw new IllegalArgumentException(
          s"rebuildManifest: declared spec (${shardCol.fold(
            s"hash($idCol)")(c => s"explicit $c")} over $nShards shards) " +
            s"does not reproduce the published shard directories " +
            s"(witness: ${bad.head}) — wrong nShards, idCol, or shardCol")
      val manifest = stampSpec(
        shardSummary(written, idCol, dataCols, zoneCols,
          sizeBlooms(bloomCols, written.count(), nShards, bloomFpp),
          sketchCols, quantileCols),
        shardCol, nShards, sortCols, idCol)
      publishManifestOnly(spark, path, base, fs, manifest, retainPrevious)
    }
  }

  /** STAT-FAMILY EVOLUTION + HEALING on a live layout — Iceberg's
    * "compute table column statistics" shape: add zone / bloom /
    * distinct-sketch / quantile-sketch declarations to an
    * already-published corpus, and refill any NULL stats the strict
    * metadata doors refuse on (the legacy carries
    * [[shardDoctor]] counts), ALL WITHOUT REWRITING A DATA BYTE.
    * Until now the only cure for a legacy carry was a merge-rewrite
    * of the shard — corpus-write cost for a stats problem; this door
    * recomputes summaries from a READ and republishes the manifest
    * beside hard-linked data (one generation, the standard crash
    * envelope and retention).
    *
    * Cost model, the reason this door exists at 100 TB:
    *  - healing only (no new families): scans ONLY the carrying
    *    shards (partition-pruned read), manifest-sized write;
    *  - adding a family: one full corpus READ (inherent — new stats
    *    are functions of the data), zero data write. Existing stats
    *    of rescanned shards are recomputed in the same pass
    *    (deterministic zones/sums/hashes land bit-identical;
    *    sketch/bloom blobs re-derive under the live spec).
    *  - nothing to do: returns the live manifest, NO new generation.
    *
    * Spec (assignment, sort, id) is read from the live manifest and
    * never changed here; layouts stamped before `spec_id` recording
    * must [[rebuildManifest]] once to stamp it. Declared columns
    * must exist in the data (quantiles numeric). Returns the live
    * manifest. */
  def declareShardStats(spark: SparkSession, path: String,
                        zoneCols: Seq[String] = Nil,
                        bloomCols: Seq[String] = Nil,
                        bloomFpp: Double = 0.01,
                        sketchCols: Seq[String] = Nil,
                        quantileCols: Seq[String] = Nil,
                        retainPrevious: Boolean = false): DataFrame =
    withPublishLease(spark, path) { (base, fs) =>
      require(fs.exists(new org.apache.hadoop.fs.Path(base, "manifest")) &&
        fs.exists(new org.apache.hadoop.fs.Path(base, "data")),
        s"declareShardStats: $path is not a published shard layout " +
          "(manifest lost? rebuildManifest is the recovery door)")
      val live = readMemo(spark, s"$path/manifest")
      require(Seq("spec_col", "spec_n", "spec_id")
          .forall(live.columns.contains),
        s"declareShardStats: the live manifest of $path predates " +
          "spec/id stamping; rebuildManifest once to stamp it")
      val specRow = live.select(col("spec_col"), col("spec_n"),
        (if (live.columns.contains("spec_sort")) col("spec_sort")
         else lit(null).cast("string")).as("spec_sort"),
        col("spec_id")).limit(1).collect()
      require(specRow.nonEmpty,
        s"declareShardStats: $path has an empty manifest — nothing " +
          "is declared or carried on zero shards")
      val shardColOpt = Option(specRow.head.getString(0))
      val nShards = specRow.head.getInt(1)
      val sortCols = Option(specRow.head.getString(2))
        .map(_.split(',').toSeq).getOrElse(Seq.empty)
      val idCol = specRow.head.getString(3)
      require(idCol != null,
        s"declareShardStats: $path has no spec_id stamp (published " +
          "before id recording); rebuildManifest once to stamp it")
      val dataDir = s"$path/data"
      val (dataCols, writtenSchema) = layoutSchema(spark, dataDir)
      validateStatDecls(writtenSchema, dataCols, idCol, None,
        zoneCols, bloomCols, sketchCols, quantileCols, Nil,
        "declareShardStats")
      // target declarations = live ∪ new (a live declaration on a
      // column the data no longer carries — only a displaced spec
      // column like a previous rebin's 'qbin' — drops silently, the
      // rebin convention)
      def liveFam(prefix: String): Seq[String] =
        live.columns.filter(_.startsWith(prefix))
          .map(_.stripPrefix(prefix)).toSeq
      val zAll = (liveFam("zmin_") ++ zoneCols).distinct
        .filter(dataCols.contains)
      val bAll = (liveFam("zbloom_") ++ bloomCols).distinct
        .filter(dataCols.contains)
      val sAll = (liveFam("zhll_") ++ sketchCols).distinct
        .filter(dataCols.contains)
      val qAll = (liveFam("zkll_") ++ quantileCols).distinct
        .filter(dataCols.contains)
      val newFamily =
        zAll.exists(c => !live.columns.contains(s"zmin_$c")) ||
        bAll.exists(c => !live.columns.contains(s"zbloom_$c")) ||
        sAll.exists(c => !live.columns.contains(s"zhll_$c")) ||
        qAll.exists(c => !live.columns.contains(s"zkll_$c")) ||
        // znull/zsum recounts added to a family stamped before they
        // existed read as new too: the columns are absent outright
        zAll.exists(c => !live.columns.contains(s"znull_$c"))
      // stat families whose BASE column vanished from the data (a
      // displaced rebin spec column like a previous 'qbin'): excluded
      // from recompute by the dataCols filters above, so they must
      // also be excluded from the carry flags AND dropped from the
      // live side of the healing union — otherwise unionByName
      // resurrects them as NULLs on the healed shards, those shards
      // re-flag as legacy carries on the next call, and healing never
      // converges (every call publishes a fresh generation)
      val vanishedStatCols: Seq[String] =
        (liveFam("zmin_").filterNot(dataCols.contains).flatMap(c =>
           Seq(s"zmin_$c", s"zmax_$c", s"znull_$c", s"zsum_$c")) ++
         liveFam("zbloom_").filterNot(dataCols.contains)
           .map(c => s"zbloom_$c") ++
         liveFam("zhll_").filterNot(dataCols.contains)
           .map(c => s"zhll_$c") ++
         liveFam("zkll_").filterNot(dataCols.contains)
           .map(c => s"zkll_$c")).filter(live.columns.contains)
      // legacy carries under the EXISTING declarations on LIVE data
      // columns — evaluated as boolean FLAGS inside the scan, never
      // by collecting blob columns (the ShardLayouts driver-bound
      // rule)
      val carryFlags: Seq[Column] =
        liveFam("zbloom_").filter(dataCols.contains)
          .map(c => col(s"zbloom_$c").isNull) ++
        liveFam("zhll_").filter(dataCols.contains)
          .map(c => col(s"zhll_$c").isNull) ++
        liveFam("zkll_").filter(dataCols.contains)
          .map(c => col(s"zkll_$c").isNull) ++
        liveFam("zmin_").filter(dataCols.contains).flatMap { c =>
          if (!live.columns.contains(s"znull_$c")) Seq(lit(true))
          else Seq(col(s"znull_$c").isNull,
            col(s"zmin_$c").isNull &&
              !(col(s"znull_$c") === col("n_rows")))
        }
      val needy: Seq[Long] =
        if (carryFlags.isEmpty) Nil
        else live.filter(col("n_rows") > 0 &&
            carryFlags.reduce(_ || _))
          .select(col("shard")).collect().map(_.getLong(0)).toSeq
      if (!newFamily && needy.isEmpty) live // nothing to do
      else {
        val written = spark.read.schema(writtenSchema).parquet(dataDir)
        // healing-only reads prune to the carrying shards; a new family
        // needs every shard's data (stats are functions of the bytes)
        val scanned =
          if (newFamily) written
          else written.filter(col("shard").isin(needy: _*))
        val bloomSpec =
          if (bAll.isEmpty) None
          else bloomSpecOf(live).map { case (_, m, k) => (bAll, m, k) }
            .orElse(sizeBlooms(bAll, written.count(), nShards, bloomFpp))
        val recomputed = stampSpec(
          shardSummary(scanned, idCol, dataCols, zAll, bloomSpec, sAll, qAll),
          shardColOpt, nShards, sortCols, idCol)
        val manifest =
          if (newFamily) recomputed
          else stampSpec(
              live.filter(!col("shard").isin(needy: _*))
                .drop(vanishedStatCols: _*),
              shardColOpt, nShards, sortCols, idCol)
            .unionByName(recomputed, allowMissingColumns = true)
        publishManifestOnly(spark, path, base, fs, manifest, retainPrevious)
      }
    }

  /** Shared declaration checks of the stats-recovery doors: every
    * declared column must exist in the published data, quantile
    * columns must be numeric. */
  private def validateStatDecls(
      writtenSchema: org.apache.spark.sql.types.StructType,
      dataCols: Seq[String], idCol: String, shardCol: Option[String],
      zoneCols: Seq[String], bloomCols: Seq[String],
      sketchCols: Seq[String], quantileCols: Seq[String],
      sortCols: Seq[String], door: String): Unit = {
    require(dataCols.contains(idCol),
      s"$door: id column '$idCol' is not a data column " +
        s"(${dataCols.mkString(", ")})")
    shardCol.foreach(c => require(dataCols.contains(c),
      s"$door: shardCol '$c' is not a data column"))
    Seq("zoneCols" -> zoneCols, "bloomCols" -> bloomCols,
        "sketchCols" -> sketchCols, "quantileCols" -> quantileCols,
        "sortCols" -> sortCols).foreach { case (what, cols) =>
      require(cols.forall(dataCols.contains),
        s"$door: $what must be data columns; missing: ${
          cols.filterNot(dataCols.contains).mkString(", ")}")
    }
    quantileCols.foreach(c => require(writtenSchema(c).dataType
        .isInstanceOf[org.apache.spark.sql.types.NumericType],
      s"$door: quantileCols must be numeric (quantiles of '$c': " +
        s"${writtenSchema(c).dataType.sql} has no rank order)"))
  }

  /** MANIFEST-ONLY publish: a generation whose data is the live
    * generation hard-linked shard for shard and whose manifest is
    * `manifestDf` — the stats-recovery doors change what the manifest
    * SAYS, never what the data IS, but they ride the same staged/
    * marker/promote envelope as every publish, so a kill at any point
    * leaves the old state or the complete new one. No id is assigned
    * here, so there is no explicit assignment to range-check. Caller
    * holds the lease. */
  private def publishManifestOnly(spark: SparkSession, path: String,
      base: org.apache.hadoop.fs.Path, fs: org.apache.hadoop.fs.FileSystem,
      manifestDf: DataFrame, retainPrevious: Boolean): DataFrame = {
    val liveShards = fs.listStatus(new org.apache.hadoop.fs.Path(base, "data"))
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("shard="))
      .map(_.getPath.getName.stripPrefix("shard=").toLong).toSeq
    publishGeneration(spark, path, base, fs, rows = None, summarize = identity,
      linked = liveShards, carried = Some(manifestDf), shardCol = None,
      nShards = 0, retainPrevious)
  }

  /** GROUPED metadata quantiles — [[approxQuantilesShards]] per group
    * ("p50/p95 document length PER LANGUAGE"), answerable from the
    * manifest exactly when every shard is provably SINGLE-GROUP on
    * `groupCol` (the same proof the grouped metadata-aggregate
    * planner door uses: all rows share one non-null value —
    * `znull == 0 ∧ zmin == zmax` — or are all null, the scan's NULL
    * group). Single-group is what makes a shard's whole sketch
    * attributable to one group; several shards of a group merge with
    * KLL's error-preserving union, exactly as the global door does.
    * A layout not clustered by `groupCol` REFUSES loudly (quantiles
    * of mixed shards would be unattributable, not just inexact).
    * Returns one row per (group, rank): (groupCol, rank, value). */
  def approxQuantilesShardsBy(spark: SparkSession, path: String,
                              column: String, groupCol: String,
                              ranks: Seq[Double],
                              stamp: Option[String] = None): DataFrame = {
    require(ranks.nonEmpty && ranks.forall(r => r >= 0.0 && r <= 1.0),
      s"ranks must be non-empty and within [0,1], got ${ranks.mkString(", ")}")
    val m = shardStats(spark, path, stamp)
    require(m.columns.contains(s"zkll_$column"),
      s"no quantile sketch for '$column' in $path/manifest — publish " +
        s"with quantileCols = Seq(...\"$column\"...)")
    Seq(s"zmin_$groupCol", s"zmax_$groupCol", s"znull_$groupCol")
      .foreach(c => require(m.columns.contains(c),
        s"'$groupCol' is not a zone column of $path — grouped " +
          s"quantiles need its per-shard min/max/null stats " +
          s"(publish with zoneCols = Seq(...\"$groupCol\"...))"))
    val carries = m.filter(col(s"zkll_$column").isNull && col("n_rows") > 0)
      .select(col("shard")).collect().map(_.getLong(0))
    if (carries.nonEmpty)
      throw new IllegalStateException(
        s"shards ${carries.sorted.mkString(", ")} carry no " +
          s"'$column' quantile sketch (legacy generation) — " +
          "re-publish or merge-rewrite under the current declaration")
    // single-group proof, all-or-nothing: one mixed shard and the
    // whole question is unanswerable from this layout
    val zn = col(s"znull_$groupCol")
    val mixed = m.filter(col("n_rows") > 0 &&
        zn.isNotNull && !(zn === col("n_rows")) &&
        !(zn === 0L && col(s"zmin_$groupCol") === col(s"zmax_$groupCol")))
      .select(col("shard")).collect().map(_.getLong(0))
    val unknown = m.filter(col("n_rows") > 0 && zn.isNull)
      .select(col("shard")).collect().map(_.getLong(0))
    if (mixed.nonEmpty || unknown.nonEmpty)
      throw new IllegalStateException(
        s"shards ${(mixed ++ unknown).sorted.mkString(", ")} are not " +
          s"provably single-group on '$groupCol' — publish CLUSTERED " +
          s"by it (shardCol) to enable grouped quantiles")
    import org.apache.spark.sql.graftshim.ColumnBridge
    val groupVal = when(zn === col("n_rows"), lit(null))
      .otherwise(col(s"zmin_$groupCol")).as(groupCol)
    val merged = ColumnBridge.column(graft.expressions.KllMergeAgg(
      ColumnBridge.catalystExpression(col(s"zkll_$column")))
      .toAggregateExpression())
    val perGroup = m.filter(col("n_rows") > 0)
      .groupBy(groupVal).agg(merged.as("_sk"))
    perGroup
      .select(col(groupCol),
        explode(array(ranks.map(r => lit(r)): _*)).as("rank"), col("_sk"))
      .select(col(groupCol), col("rank"),
        ColumnBridge.column(graft.expressions.KllQuantile(
          ColumnBridge.catalystExpression(col("_sk")),
          ColumnBridge.catalystExpression(col("rank").cast("double"))))
          .as("value"))
  }

  /** INCREMENTAL READ door — the consumer side of [[publishDelta]]:
    * the rows of every live shard whose content differs from the
    * retained generation displaced at `stamp` (changed shards, plus
    * shards that did not exist then). A downstream consumer that
    * processed generation `stamp` in full catches up by processing
    * ONLY this frame — at 100 TB, a 2% delta publish costs the
    * consumer 2% of a corpus scan instead of a re-read (the Iceberg/
    * Delta incremental-scan shape, planned from two manifests).
    *
    * Change detection is the delta publisher's own currency:
    * (n_rows, content_hash) per shard, null-safe compared across the
    * two manifests — so "changed" here is exactly "not carried
    * forward by hard link". Shards present at `stamp` but dropped
    * since have no rows to return; consumers needing deletions diff
    * [[shardStats]] frames (the old manifest sits retained beside its
    * data for exactly that). Reads changed shard dirs by explicit
    * path + basePath, so planning opens nothing else. */
  def readShardsChangedSince(spark: SparkSession, path: String,
                             stamp: String): DataFrame = {
    val live = shardStats(spark, path)
      .select("shard", "n_rows", "content_hash")
    val old = shardStats(spark, path, Some(stamp))
      .select(col("shard"), col("n_rows").as("o_n_rows"),
        col("content_hash").as("o_content_hash"))
    // bounded collect: one row per shard, the manifest envelope
    val changed = live.join(old, Seq("shard"), "left")
      .filter(!(col("content_hash") <=> col("o_content_hash")) ||
        !(col("n_rows") <=> col("o_n_rows")))
      .select("shard").collect().map(_.getLong(0)).sorted
    val dataDir = s"$path/data"
    if (changed.isEmpty) readMemo(spark, dataDir).filter(lit(false))
    else readerWithLayoutSchema(spark, dataDir).option("basePath", dataDir)
      .parquet(changed.map(s => s"$dataDir/shard=$s"): _*)
  }

  /** Delta-aware integrity check — the [[verifyShards]] a loader runs
    * after a [[publishDelta]]: re-reading the whole corpus to verify a
    * publish that rewrote 2% of it gives back the entire saving the
    * delta bought. `trusted` is a manifest the caller has ALREADY
    * verified against bytes (typically the previous generation's,
    * retained after a full [[verifyShards]] pass). A live shard whose
    * (n_rows, content_hash) matches its `trusted` row was carried
    * forward by hard link — the very bytes previously verified — so it
    * is accepted on a metadata-only existence check (the shard dir
    * still holds a visible data file); every other shard (changed,
    * added, or absent from `trusted`) is re-read and re-hashed exactly
    * as [[verifyShards]] does — the reader is given ONLY those shard
    * directories (explicit paths + `basePath`, not a pruned filter),
    * so neither schema inference nor the scan ever opens a trusted
    * shard's files. Shard dirs on disk that appear in NO manifest are
    * also pulled into the re-read and flagged.
    *
    * Contract: this check trusts that previously-verified bytes have
    * not rotted since — it detects gross loss (missing dir/files) on
    * trusted shards but not in-place byte corruption; run the full
    * [[verifyShards]] for end-to-end byte assurance (e.g. after a
    * copy to new media). Returns the [[verifyShards]] schema plus
    * `mode` ∈ {trusted, reread}. */
  def verifyShardsDelta(spark: SparkSession, path: String, idCol: String,
                        trusted: DataFrame): DataFrame = {
    val live = readMemo(spark, s"$path/manifest")
      .select(col("shard"), col("n_rows").as("manifest_rows"),
        col("content_hash").as("manifest_hash"))
    val tr = trusted.select(col("shard"),
      col("n_rows").as("trusted_rows"),
      col("content_hash").as("trusted_hash"))
    val cls = live.join(tr, Seq("shard"), "left_outer").collect()
    val dataPath = new org.apache.hadoop.fs.Path(s"$path/data")
    val fs = dataPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // metadata-only: which shard dirs exist, and which hold a visible
    // committed file (a lost dir must fail the trusted fast path)
    def shardDirs(): Map[Long, Boolean] =
      if (!fs.exists(dataPath)) Map.empty
      else fs.listStatus(dataPath).iterator
        .filter(st => st.isDirectory && st.getPath.getName.startsWith("shard="))
        .flatMap { st =>
          val n = st.getPath.getName.stripPrefix("shard=")
          n.toLongOption.map { s =>
            s -> fs.listStatus(st.getPath).exists(f => f.isFile && {
              val fn = f.getPath.getName
              fn.endsWith(".parquet") && !fn.startsWith("_") &&
                !fn.startsWith(".")
            })
          }
        }.toMap
    val onDisk = shardDirs()
    val trustedShards = cls.filter { r =>
      !r.isNullAt(3) && !r.isNullAt(4) &&
        r.getLong(1) == r.getLong(3) && r.getLong(2) == r.getLong(4) &&
        onDisk.getOrElse(r.getLong(0), false)
    }.map(_.getLong(0)).toSet
    val manifestShards = cls.map(_.getLong(0)).toSet
    val reread = (manifestShards -- trustedShards) ++
      (onDisk.keySet -- manifestShards)
    val trustedOut = live
      .filter(col("shard").isin(trustedShards.toSeq: _*))
      .select(col("shard"), lit(true).as("ok"),
        col("manifest_rows").as("n_rows"), col("manifest_rows"),
        col("manifest_hash").as("content_hash"), col("manifest_hash"),
        lit("trusted").as("mode"))
    if (reread.isEmpty) return trustedOut
    val rereadManifest = live.filter(col("shard").isin(reread.toSeq: _*))
    // only dirs that actually hold a visible file can be scanned; a
    // manifest row whose dir is gone is a missing shard (ok=false)
    val scannable = reread.filter(s => onDisk.getOrElse(s, false))
    val rereadOut =
      if (scannable.isEmpty)
        rereadManifest.select(col("shard"), lit(false).as("ok"),
          lit(null).cast("long").as("n_rows"), col("manifest_rows"),
          lit(null).cast("long").as("content_hash"), col("manifest_hash"),
          lit("reread").as("mode"))
      else {
        val written = readerWithLayoutSchema(spark, s"$path/data")
          .option("basePath", s"$path/data")
          .parquet(scannable.toSeq.sorted
            .map(s => s"$path/data/shard=$s"): _*)
        val dataCols = written.columns.filter(_ != "shard").toSeq
        shardSummary(written, idCol, dataCols)
          .join(rereadManifest, Seq("shard"), "full_outer")
          .withColumn("ok",
            coalesce(col("n_rows") === col("manifest_rows") &&
              col("content_hash") === col("manifest_hash"), lit(false)))
          .select(col("shard"), col("ok"), col("n_rows"),
            col("manifest_rows"), col("content_hash"),
            col("manifest_hash"), lit("reread").as("mode"))
      }
    trustedOut.unionByName(rereadOut)
  }

  /** Shard-level diff of two corpus versions from their manifests
    * alone — no data read, |shards| rows a side. Status per shard:
    * `same` (hash equal), `changed`, `added` (only in `b`), `removed`
    * (only in `a`). This is what makes the manifest a corpus VERSION
    * artifact: re-publish, diff, and ship only changed shards. */
  def diffManifests(a: DataFrame, b: DataFrame): DataFrame = {
    val l = a.select(col("shard"), col("n_rows").as("rows_a"),
      col("content_hash").as("hash_a"))
    val r = b.select(col("shard"), col("n_rows").as("rows_b"),
      col("content_hash").as("hash_b"))
    l.join(r, Seq("shard"), "full_outer")
      .withColumn("status",
        when(col("hash_a").isNull, lit("added"))
          .when(col("hash_b").isNull, lit("removed"))
          .when(col("hash_a") === col("hash_b") &&
            col("rows_a") === col("rows_b"), lit("same"))
          .otherwise(lit("changed")))
      .select("shard", "status", "rows_a", "rows_b")
  }

  /** Delta publish — republish a corpus version writing ONLY the
    * shards whose content changed. This is the corpus-versioning
    * workflow the manifest exists for: shard membership is a pure
    * function of the row id (`xxhash64(id) mod nShards`), so a v2
    * that touches 2% of documents touches ~2% of shards, and at
    * 100 TB the difference between "rewrite 100 TB" and "rewrite
    * 2 TB, reuse the rest" is the whole cost of the publish.
    *
    * Mechanics, under the same lease + stage/seal/promote envelope as
    * [[writeShards]]:
    *  1. ONE pass over `df` computes the per-shard summary (count,
    *     id range, order-independent content hash — map-side
    *     combinable, output is nShards rows);
    *  2. the summary diffs against the live manifest: an unchanged
    *     (hash, count) pair means the shard's published bytes already
    *     hold exactly these rows — parquet round-trips every value
    *     bit-exactly, so input-side and written-bytes hashes are
    *     comparable;
    *  3. only changed/added shards' rows are shuffled and written
    *     into staging (the shuffle moves ~|changed| rows, not the
    *     corpus); unchanged shards' files are HARD-LINKED from the
    *     live generation (zero data I/O; copy fallback where the
    *     filesystem can't link — an object-store implementation would
    *     reuse at the manifest level instead);
    *  4. the staged manifest = carried-forward live rows for
    *     unchanged shards + a re-read of the newly written files for
    *     changed ones (the written-bytes contract), sealed and
    *     promoted atomically — a reader never sees a mixed version.
    *
    * `df` must be DETERMINISTIC (it is evaluated once for detection
    * and once for the changed-shard write): persist, checkpoint, or
    * re-read a materialized source first — enforced by rejecting
    * nondeterministic expressions in the plan. Changing `nShards`
    * between versions degrades gracefully to a full rewrite (every
    * shard classifies as changed). Returns the new live manifest. */
  def publishDelta(df: DataFrame, path: String, idCol: String,
                   nShards: Int, retainPrevious: Boolean = false,
                   zoneCols: Seq[String] = Nil,
                   shardCol: Option[String] = None,
                   sortCols: Seq[String] = Nil): DataFrame = {
    require(nShards > 0, s"nShards must be positive, got $nShards")
    require(!df.columns.exists(_.equalsIgnoreCase("shard")),
      "publishDelta derives its own `shard` column; rename the input's")
    df.queryExecution.optimizedPlan.foreach(n =>
      n.expressions.foreach(e => require(e.deterministic,
        s"publishDelta input must be deterministic (it is evaluated " +
          s"twice); found $e — persist()/localCheckpoint() the input first")))
    val spark = df.sparkSession
    withPublishLease(spark, path) { (base, fs) =>
      if (!fs.exists(new org.apache.hadoop.fs.Path(base, "manifest")) ||
          !fs.exists(new org.apache.hadoop.fs.Path(base, "data")))
        // nothing to delta against — a first publish is a full publish
        writeShardsLeased(df, path, idCol, nShards, spark, base, fs,
          retainPrevious, zoneCols, shardCol, sortCols)
      else publishDeltaLeased(df, path, idCol, nShards, spark, base, fs,
        retainPrevious, zoneCols, shardCol, sortCols)
    }
  }

  private def publishDeltaLeased(df: DataFrame, path: String, idCol: String,
      nShards: Int, spark: SparkSession, base: org.apache.hadoop.fs.Path,
      fs: org.apache.hadoop.fs.FileSystem, retainPrevious: Boolean,
      zoneCols: Seq[String], shardCol: Option[String],
      sortCols: Seq[String]): DataFrame = {
    val dataCols = df.columns.toSeq
    val sharded = df.withColumn("shard",
      shardAssignment(idCol, nShards, shardCol))
    // detection: nShards summary rows vs the live manifest
    val v2sum = shardSummary(sharded, idCol, dataCols)
      .withColumnRenamed("n_rows", "new_rows")
      .withColumnRenamed("content_hash", "new_hash")
      .select("shard", "new_rows", "new_hash")
    val live = readMemo(spark, s"$path/manifest")
    // Zone declarations are a property of the LAYOUT, not of one
    // publish: carried-forward shards keep their recorded stats, so
    // a delta publish can only perpetuate the live generation's zone
    // set — inherit it when none is declared (the rebin path rides
    // this: zone maps carry across a re-binning for free), and
    // reject a mismatched redeclaration loudly (computing NEW stats
    // for carried shards would mean reading them — that is a full
    // writeShards republish, not a delta).
    val liveZones = zoneColsOf(live)
    val effectiveZones =
      if (zoneCols.isEmpty) liveZones
      else {
        require(zoneCols.toSet == liveZones.toSet,
          s"publishDelta: declared zoneCols (${zoneCols.mkString(", ")}) " +
            s"differ from the live layout's (${
              if (liveZones.isEmpty) "none" else liveZones.mkString(", ")
            }); carried-forward shards keep their recorded stats, so " +
            "zones can only change through a full writeShards republish")
        zoneCols
      }
    require(effectiveZones.forall(dataCols.contains),
      s"publishDelta: live zone columns ${effectiveZones.mkString(", ")} " +
        s"are not all input columns (${dataCols.mkString(", ")}) — " +
        "republish in full (writeShards) to re-declare zones")
    // the declared within-shard sort order is a layout property too:
    // inherit it (rewritten shards stay row-group-clustered like the
    // carried ones), reject a mismatched redeclaration. Unlike the
    // zone set (read from column NAMES, so it survives an empty
    // generation), the sort is read from row data — a ZERO-ROW live
    // manifest declares nothing, so the caller's declaration stands
    // (there are no carried shards for it to misdescribe).
    val liveSort: Option[Seq[String]] =
      if (!live.columns.contains("spec_sort")) Some(Nil) // legacy: unsorted
      else live.select("spec_sort").limit(1).collect().headOption
        .map(r => Option(r.getString(0)).map(_.split(',').toSeq)
          .getOrElse(Seq.empty[String]))
    val effectiveSort = liveSort match {
      case None => sortCols // empty live generation
      case Some(ls) if sortCols.isEmpty => ls
      case Some(ls) =>
        require(sortCols == ls,
          s"publishDelta: declared sortCols (${sortCols.mkString(", ")}) " +
            s"differ from the live layout's (${
              if (ls.isEmpty) "none" else ls.mkString(", ")
            }); carried-forward shards keep their physical order, so " +
            "the sort can only change through a full writeShards republish")
        sortCols
    }
    require(effectiveSort.forall(dataCols.contains),
      s"publishDelta: live sort columns ${effectiveSort.mkString(", ")} " +
        s"are not all input columns — republish in full to re-declare")
    val cls = live.select(col("shard"), col("n_rows"), col("content_hash"))
      .join(v2sum, Seq("shard"), "full_outer").collect()
    val unchanged = cls.filter(r => !r.isNullAt(1) && !r.isNullAt(3) &&
      r.getLong(1) == r.getLong(3) && r.getLong(2) == r.getLong(4))
      .map(_.getLong(0)).toSet
    val toWrite = cls.filter(r => !r.isNullAt(3))
      .map(_.getLong(0)).filterNot(unchanged).toSeq.sorted
    // every manifest row of the NEW generation carries the NEW spec —
    // including carried-forward shards: their content hash proved the
    // member set identical under the new assignment, so the new spec
    // describes them too. Bloom/sketch stats are a layout property
    // like zones: rewritten shards rebuild them under the live
    // generation's declaration so probes and distinct unions stay
    // comparable across generations.
    publishRewrite(spark, path, base, fs, live,
      sharded.filter(col("shard").isin(toWrite: _*)), toWrite,
      unchanged.toSeq.sorted, bloomSpecOf(live), idCol, dataCols,
      effectiveZones, shardCol, nShards, effectiveSort, retainPrevious)
  }

  /** ROW-LEVEL DELETE on a published shard layout — the takedown door
    * (Iceberg's `DELETE FROM t WHERE ...` under copy-on-write): remove
    * every row matching `predicate` and publish the result as a new
    * generation, REWRITING ONLY THE SHARDS THAT CONTAIN MATCHES. At
    * 100 TB this is the GDPR/opt-out workflow: a takedown of one
    * domain's documents touches the shards holding them — every other
    * shard carries forward by hard link (zero data I/O), exactly the
    * [[publishDelta]] mechanics but WITHOUT re-supplying the corpus
    * (the input is the published bytes themselves, so there is no
    * double-evaluation hazard on the data side).
    *
    * Semantics are SQL DELETE: a row is removed iff the predicate
    * evaluates TRUE; FALSE and NULL rows are kept. The predicate must
    * be deterministic (it runs twice — once to find affected shards,
    * once to rewrite them — against the same published bytes).
    *
    * Mechanics, under the publish lease + stage/seal/promote envelope:
    *  1. one detection scan finds the shards holding ≥1 match (with
    *     the graft planner rules installed, a predicate on a zone
    *     column prunes this scan to candidate shards from the
    *     manifest alone);
    *  2. only those shard dirs are re-read (explicit paths +
    *     basePath) and rewritten minus matching rows, preserving the
    *     layout's declared within-shard sort; zone/null stats are
    *     recomputed from the written bytes;
    *  3. untouched shards hard-link into the new generation and keep
    *     their manifest rows verbatim; a shard whose every row
    *     matched disappears from the manifest (membership stays a
    *     pure function of the id — an absent shard means zero rows);
    *  4. seal + promote, optionally retaining the displaced
    *     generation so [[readShardsAt]] can still answer
    *     pre-takedown audits (and [[readRowChanges]] can enumerate
    *     exactly what was removed).
    *
    * No matches is a NO-OP: the live manifest is returned unchanged
    * and no new generation is published (a takedown sweep over a
    * clean corpus must not churn generations). Layout evolution
    * (zones, sort, spec) is inherited from the live manifest — a
    * delete never changes the layout contract. Returns the live
    * manifest after the publish. */
  def deleteWhere(spark: SparkSession, path: String, idCol: String,
                  predicate: Column, retainPrevious: Boolean = false): DataFrame =
    withPublishLease(spark, path) { (base, fs) =>
      require(fs.exists(new org.apache.hadoop.fs.Path(base, "manifest")) &&
        fs.exists(new org.apache.hadoop.fs.Path(base, "data")),
        s"deleteWhere: $path is not a published shard layout")
      val live = readMemo(spark, s"$path/manifest")
      val meta = collectLiveMeta(live).getOrElse(
        throw new IllegalArgumentException(
          s"deleteWhere: the live manifest of $path predates partition-spec " +
            "recording; republish (writeShards) once to stamp it"))
      if (meta.isEmpty) live // empty corpus: nothing to delete
      else {
        val dataDir = s"$path/data"
        // detection: which shards hold ≥1 matching row (bounded collect,
        // ≤ nShards rows — the manifest envelope)
        val detect = readMemo(spark, dataDir).filter(predicate)
        // the predicate runs twice (detection + rewrite): the same
        // analyzed-plan determinism gate publishDelta applies to its
        // input (a rand() takedown would detect one shard set and
        // rewrite another)
        detect.queryExecution.optimizedPlan.foreach(n =>
          n.expressions.foreach(e => require(e.deterministic,
            s"deleteWhere predicate must be deterministic (it is " +
              s"evaluated twice); found $e")))
        val hit = detect.select(col("shard").cast("long")).distinct()
          .collect().map(_.getLong(0)).sorted.toSeq
        if (hit.isEmpty) live // no-op: no generation churn
        else {
          val (dataCols, writtenSchema) = layoutSchema(spark, dataDir)
          // rewrite ONLY the affected shard dirs, minus matching rows
          // (NULL predicate keeps the row — SQL DELETE semantics)
          val src = spark.read.schema(writtenSchema)
            .option("basePath", dataDir)
            .parquet(hit.map(s => s"$dataDir/shard=$s"): _*)
          publishRewrite(spark, path, base, fs, live,
            src.filter(!coalesce(predicate, lit(false))), hit,
            (meta.liveShards -- hit).toSeq.sorted, meta.bloomSpec, idCol,
            dataCols, zoneColsOf(live), meta.specCol, meta.specN,
            meta.sortCols, retainPrevious)
        }
      }
    }

  /** Schema of a layout's published bytes: the data columns in file
    * order, and the read schema with `shard` typed LONG explicitly
    * (the partition-dir column would otherwise infer as int). */
  private def layoutSchema(spark: SparkSession, dataDir: String)
      : (Seq[String], org.apache.spark.sql.types.StructType) = {
    val fields = readMemo(spark, dataDir).schema.fields
      .filterNot(_.name == "shard")
    (fields.map(_.name).toSeq, org.apache.spark.sql.types.StructType(
      fields :+ org.apache.spark.sql.types.StructField(
        "shard", org.apache.spark.sql.types.LongType)))
  }

  /** The carry-forward generation of the doors that rewrite SOME
    * shards of a live layout ([[publishDelta]], [[deleteWhere]],
    * [[mergeRows]]): `rows` — the new contents of exactly the `rewrite`
    * shards, `shard` column present — are written with zone/null stats
    * recomputed from the written bytes under the live generation's
    * stat declarations (`bloom` is evaluated only when something is
    * rewritten), and the `kept` live shards are hard-linked with their
    * manifest rows restamped under the generation's spec. Caller holds
    * the lease. */
  private def publishRewrite(spark: SparkSession, path: String,
      base: org.apache.hadoop.fs.Path, fs: org.apache.hadoop.fs.FileSystem,
      live: DataFrame, rows: DataFrame, rewrite: Seq[Long], kept: Seq[Long],
      bloom: => Option[(Seq[String], Int, Int)],
      idCol: String, dataCols: Seq[String], zones: Seq[String],
      shardCol: Option[String], nShards: Int,
      sortCols: Seq[String], retainPrevious: Boolean): DataFrame =
    publishGeneration(spark, path, base, fs,
      if (rewrite.isEmpty) None
      else Some(clustered(rows, math.min(nShards, rewrite.size), sortCols)),
      written => stampSpec(shardSummary(written, idCol, dataCols, zones,
          bloom, sketchColsOf(live), quantileColsOf(live)),
        shardCol, nShards, sortCols, idCol),
      kept,
      Some(stampSpec(
        if (kept.isEmpty) live.filter(lit(false))
        else live.filter(col("shard").isin(kept: _*)),
        shardCol, nShards, sortCols, idCol)),
      shardCol, nShards, retainPrevious)

  /** ROW-LEVEL MERGE (upsert + delete) on a published shard layout —
    * Iceberg's `MERGE INTO` under copy-on-write, WITHOUT re-supplying
    * the corpus: the input is a PATCH frame (new/updated rows, plus
    * rows marked for deletion via `deleteWhen`), and shard membership
    * being a pure function of the id means the target shards are
    * computable from the patch and the manifest's own spec — nothing
    * else is read or written. This closes the incremental loop:
    * [[readRowChanges]] produces a change feed, `mergeRows` applies
    * one. At 100 TB, merging a day's 0.1% of revised documents costs
    * the shards that hold them, not a corpus rewrite and not even a
    * corpus SCAN (vs [[publishDelta]], which needs the full frame).
    *
    * Semantics per patch row, matched on `idCol`:
    *  - `deleteWhen` TRUE → the live row with that id is removed
    *    (absent id: no-op, like SQL MERGE's unmatched DELETE);
    *  - otherwise → upsert: replaces the live row with that id, or
    *    inserts (possibly creating a shard the manifest didn't have).
    * UPSERT ids must be unique (enforced — one verdict per id);
    * delete rows may repeat an id, including an upserted one: a
    * delete at the id's old explicit shard plus an upsert at its new
    * one is the atomic MOVE, one generation instead of two (a crash
    * can no longer strand the id deleted-but-not-reinserted). The
    * patch must carry the layout's data columns (and its explicit
    * assignment column, when the spec declares one — deletes too:
    * the spec is how the door finds the row's shard), and must be
    * deterministic (it is evaluated more than once). A shard left
    * empty drops from the manifest; layout spec/zones/sort are
    * inherited, never changed here. Returns the live manifest. */
  def mergeRows(spark: SparkSession, path: String, patch: DataFrame,
                idCol: String, deleteWhen: Option[Column] = None,
                retainPrevious: Boolean = false): DataFrame =
    withPublishLease(spark, path) { (base, fs) =>
      require(fs.exists(new org.apache.hadoop.fs.Path(base, "manifest")) &&
        fs.exists(new org.apache.hadoop.fs.Path(base, "data")),
        s"mergeRows: $path is not a published shard layout")
      val live = readMemo(spark, s"$path/manifest")
      val meta = collectLiveMeta(live).getOrElse(
        throw new IllegalArgumentException(
          s"mergeRows: the live manifest of $path predates partition-spec " +
            "recording; republish (writeShards) once to stamp it"))
      require(!meta.isEmpty,
        s"mergeRows: $path has an empty manifest — publish (writeShards) " +
          "the initial corpus first")
      val shardColOpt = meta.specCol
      val nShards = meta.specN
      val dataDir = s"$path/data"
      val (dataCols, writtenSchema) = layoutSchema(spark, dataDir)
      require(dataCols.forall(patch.columns.contains),
        s"mergeRows: patch must carry the layout's data columns; " +
          s"missing: ${dataCols.filterNot(patch.columns.contains)
            .mkString(", ")}")
      // the patch is evaluated more than once (shard detection,
      // uniqueness gate, rewrite): same determinism contract as
      // publishDelta's input
      patch.queryExecution.optimizedPlan.foreach(n =>
        n.expressions.foreach(e => require(e.deterministic,
          s"mergeRows patch must be deterministic (it is evaluated " +
            s"more than once); found $e — persist()/localCheckpoint() " +
            "it first")))
      val sharded = patch.withColumn("shard",
        shardAssignment(idCol, nShards, shardColOpt))
      // one VERDICT per id: two upsert rows of the same id would make
      // "replace the live row" ambiguous. DELETE rows are exempt and
      // may share an id with the upsert — that is the atomic MOVE
      // shape ([[graft.operators.VectorIndex.append]]): one generation
      // removes the id at its old shard and inserts it at its new
      // one. Removal is by id across every hit shard (the anti-join
      // below), so extra delete rows are idempotent and the outcome
      // per id is always "upsert row if present, else gone" —
      // order-free.
      val delFlag = deleteWhen.fold(lit(false))(d =>
        coalesce(d, lit(false)))
      // ONE pass serves the gates AND the target-shard discovery
      // (collect_set is bounded by nShards — the manifest envelope):
      // the patch is often the tail of an expensive lineage (a CDC
      // feed, a judged refresh), and at 100 TB every extra evaluation
      // of it is a real bill — this pass plus the rewrite itself is
      // the whole cost, down from three evaluations.
      val u = sharded.agg(count(lit(1)),
        count(when(!delFlag, lit(1))),
        count_distinct(when(!delFlag, col(idCol))),
        count(when(col("shard").isNull, lit(1))),
        collect_set(col("shard"))).collect().head
      if (u.getLong(0) == 0L) live // empty patch: no-op
      else {
        require(u.getLong(1) == u.getLong(2),
          s"mergeRows: upsert ids ('$idCol') must be unique (delete " +
            s"rows may repeat an id) — got ${u.getLong(1)} upsert " +
            s"rows, ${u.getLong(2)} distinct ids")
        // a NULL explicit-assignment value would route rows to a
        // partition no loader plans for — fail BEFORE any write (the
        // staged-manifest range gate still backstops out-of-range ids)
        require(u.getLong(3) == 0L,
          s"mergeRows: ${u.getLong(3)} patch rows carry a NULL shard " +
            s"(the layout's assignment column '${shardColOpt.getOrElse(idCol)}' " +
            "must be non-null)")
        val hit = u.getSeq[Long](4).sorted
        val liveShards = meta.liveShards
        val existingHit = hit.filter(liveShards.contains)
        // rewrite = existing rows of the target shards minus patched
        // ids, plus the patch's upsert rows (delete-marked rows simply
        // contribute no replacement). The anti-join keys on the id; the
        // patch side is merge-sized, so AQE broadcasts it.
        val existing =
          if (existingHit.isEmpty)
            spark.createDataFrame(
              spark.sparkContext.emptyRDD[Row], writtenSchema)
          else spark.read.schema(writtenSchema).option("basePath", dataDir)
            .parquet(existingHit.map(s => s"$dataDir/shard=$s"): _*)
        val keptRows = existing.join(
          sharded.select(col(idCol)).withColumnRenamed(idCol, "_mid"),
          existing(idCol) === col("_mid"), "left_anti")
        val upserts = deleteWhen.fold(sharded)(d =>
          sharded.filter(!coalesce(d, lit(false))))
          .select((dataCols.map(col) :+ col("shard")): _*)
        publishRewrite(spark, path, base, fs, live,
          keptRows.unionByName(upserts), hit,
          (liveShards -- hit).toSeq.sorted, meta.bloomSpec, idCol,
          dataCols, zoneColsOf(live), shardColOpt, nShards, meta.sortCols,
          retainPrevious)
      }
    }

  /** ROW-LEVEL CDC between a retained generation and the live corpus —
    * the Delta/Iceberg change-data-feed shape, planned from two
    * manifests: every inserted, deleted, and updated row since the
    * generation displaced at `stamp`, tagged `_change_type` ∈
    * {insert, delete, update_preimage, update_postimage}. This is the
    * incremental-recompute door [[readShardsChangedSince]] can't be:
    * a downstream index (embeddings, ANN buckets, per-doc stats) that
    * processed generation `stamp` catches up by applying EXACTLY these
    * row changes — at 100 TB a 2% publish yields ~2% of rows, not a
    * re-read, and not even the changed shards' full contents.
    *
    * Plan shape: the manifest diff names the changed shards (bounded
    * collect, one row per shard); ONLY those shard dirs are read on
    * each side (explicit paths + basePath — a shard is rewritten iff
    * its content changed, and an updated row never moves shards since
    * membership is a pure function of its id). A full-outer join on
    * `idCol` with per-row content hashes (the manifest's own
    * `xxhash64` currency) then classifies; rows carried unchanged
    * inside a rewritten shard hash equal and drop out, so the output
    * is the SEMANTIC diff, independent of how publishing grouped rows
    * into shards. Spark's exchange reuse evaluates the join once
    * across the four branches.
    *
    * CONTRACT: `idCol` must be unique per generation — enforced
    * (countDistinct over the changed shards only) because a silent
    * id collision would fan the join out and misreport changes;
    * disable via `assertUniqueIds = false` only when uniqueness is
    * guaranteed upstream. Hash-equal-but-different rows (an xxhash64
    * collision) would be missed — the same 2⁻⁶⁴-per-pair currency the
    * delta publisher's carry-forward decision already trades in. */
  def readRowChanges(spark: SparkSession, path: String, stamp: String,
                     idCol: String,
                     assertUniqueIds: Boolean = true): DataFrame = {
    val liveM = shardStats(spark, path)
      .select(col("shard"), col("n_rows"), col("content_hash"))
    val oldM = shardStats(spark, path, Some(stamp))
      .select(col("shard"), col("n_rows").as("o_rows"),
        col("content_hash").as("o_hash"))
    // bounded collect: one row per shard on either side
    val cls = liveM.join(oldM, Seq("shard"), "full_outer").collect()
    def changedIn(liveSide: Boolean) = cls.filter { r =>
      val carried = !r.isNullAt(1) && !r.isNullAt(3) &&
        r.getLong(1) == r.getLong(3) && r.getLong(2) == r.getLong(4)
      !carried && !r.isNullAt(if (liveSide) 1 else 3)
    }.map(_.getLong(0)).sorted.toSeq
    val newShards = changedIn(liveSide = true)
    val oldShards = changedIn(liveSide = false)
    val dataDir = s"$path/data"
    val oldDir = s"$path/$PublishedVersionsDir/$stamp/data"
    if (newShards.isEmpty && oldShards.isEmpty)
      return readMemo(spark, dataDir).drop("shard")
        .withColumn("_change_type", lit(null).cast("string"))
        .filter(lit(false))
    // schema from whichever side has files (footer-only); shard typed
    // long explicitly like every layout re-read here
    val schemaSrc =
      if (newShards.nonEmpty) s"$dataDir/shard=${newShards.head}"
      else s"$oldDir/shard=${oldShards.head}"
    val dataFields = readMemo(spark, schemaSrc).schema.fields
      .filterNot(_.name == "shard")
    val dataCols = dataFields.map(_.name).toSeq
    require(dataCols.contains(idCol),
      s"readRowChanges: idCol '$idCol' is not a layout column (${
        dataCols.mkString(", ")})")
    val writtenSchema = org.apache.spark.sql.types.StructType(
      dataFields :+ org.apache.spark.sql.types.StructField(
        "shard", org.apache.spark.sql.types.LongType))
    def side(dir: String, shards: Seq[Long]): DataFrame = {
      val rows =
        if (shards.isEmpty)
          spark.createDataFrame(
            spark.sparkContext.emptyRDD[Row], writtenSchema)
        else spark.read.schema(writtenSchema).option("basePath", dir)
          .parquet(shards.map(s => s"$dir/shard=$s"): _*)
      rows.select(col(idCol).as("_id"),
        xxhash64(dataCols.map(col): _*).as("_h"),
        struct(dataCols.map(col): _*).as("_row"))
    }
    val n = side(dataDir, newShards)
    val o = side(oldDir, oldShards)
    if (assertUniqueIds)
      Seq(("live", n), (s"generation $stamp", o)).foreach { case (nm, d) =>
        val r = d.agg(count(lit(1)), count_distinct(col("_id"))).collect().head
        require(r.getLong(0) == r.getLong(1),
          s"readRowChanges: idCol '$idCol' is not unique in the $nm " +
            s"changed shards (${r.getLong(0)} rows, ${r.getLong(1)} " +
            "distinct ids) — CDC classification needs a key")
      }
    val j = o.select(col("_id"), col("_h").as("_oh"), col("_row").as("_orow"))
      .join(n.select(col("_id"), col("_h").as("_nh"),
        col("_row").as("_nrow")), Seq("_id"), "full_outer")
    val ins = j.filter(col("_oh").isNull)
      .select(col("_nrow").as("_r"), lit("insert").as("_change_type"))
    val del = j.filter(col("_nh").isNull)
      .select(col("_orow").as("_r"), lit("delete").as("_change_type"))
    val upd = j.filter(col("_oh").isNotNull && col("_nh").isNotNull &&
      col("_oh") =!= col("_nh"))
    val pre = upd.select(col("_orow").as("_r"),
      lit("update_preimage").as("_change_type"))
    val post = upd.select(col("_nrow").as("_r"),
      lit("update_postimage").as("_change_type"))
    ins.union(del).union(pre).union(post)
      .select((dataCols.map(c => col(s"_r.$c")) :+ col("_change_type")): _*)
  }

  /** Hard-link `src` to `dst` when the filesystem supports it (local
    * FS: zero data I/O, the link shares the inode and survives the old
    * generation's delete), else byte-copy. */
  private def linkOrCopy(fs: org.apache.hadoop.fs.FileSystem,
                         src: org.apache.hadoop.fs.Path,
                         dst: org.apache.hadoop.fs.Path): Unit = {
    val srcUri = src.toUri
    val dstUri = dst.toUri
    val linked =
      if (srcUri.getScheme == null || srcUri.getScheme == "file") {
        try {
          java.nio.file.Files.createLink(
            java.nio.file.Paths.get(dstUri.getPath),
            java.nio.file.Paths.get(srcUri.getPath))
          true
        } catch { case _: Exception => false }
      } else false
    if (!linked) {
      val ok = org.apache.hadoop.fs.FileUtil.copy(fs, src, fs, dst,
        false, fs.getConf)
      if (!ok) throw new java.io.IOException(
        s"publishDelta: could not link or copy $src -> $dst")
    }
  }

  /** K7: console debug sink. */
  def console(df: DataFrame, numRows: Int = 20): StreamingQuery =
    df.writeStream.format("console").option("numRows", numRows.toString).start()
}
