package graft.sinks

import graft.SparkTestBase
import java.nio.file.Files
import org.apache.spark.sql.functions._

class SinksSpec extends SparkTestBase {
  import spark.implicits._

  test("bucketed tables join with zero shuffle") {
    val t = graft.Tables(spark, sf)
    // unique names: the in-memory catalog forgets tables across JVMs but
    // the warehouse dir survives, and saveAsTable refuses stale locations
    val suffix = System.nanoTime()
    val (tl, to) = (s"bk_lineitem_$suffix", s"bk_orders_$suffix")
    Sinks.writeBucketed(t.lineitem.select("l_orderkey", "l_quantity"),
      tl, "l_orderkey", 8)
    Sinks.writeBucketed(t.orders.select("o_orderkey", "o_totalprice")
      .withColumnRenamed("o_orderkey", "l_orderkey"), to, "l_orderkey", 8)
    val prevBroadcast = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = spark.table(tl).join(spark.table(to), Seq("l_orderkey"))
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"))
      assert(!plan.contains("Exchange"), s"unexpected shuffle in:\n$plan")
      assert(joined.count() == t.lineitem.count())
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBroadcast)
      spark.sql(s"DROP TABLE IF EXISTS $tl")
      spark.sql(s"DROP TABLE IF EXISTS $to")
    }
  }

  test("K6: upsert keeps latest version per key across batches") {
    val dir = Files.createTempDirectory("graft_dim_").toString + "/dim"
    val b1 = Seq(("u1", "lvl1", 100L), ("u2", "lvl2", 200L))
      .toDF("user_id", "level", "ver")
    Sinks.upsertParquet(spark, b1, dir, key = "user_id", versionCol = "ver")
    // update u1 (higher version), insert u3, stale u2 (lower version)
    val b2 = Seq(("u1", "lvl9", 300L), ("u3", "lvl3", 150L), ("u2", "stale", 50L))
      .toDF("user_id", "level", "ver")
    Sinks.upsertParquet(spark, b2, dir, key = "user_id", versionCol = "ver")
    val out = spark.read.parquet(dir).orderBy("user_id")
      .as[(String, String, Long)].collect()
    assert(out.toSeq == Seq(
      ("u1", "lvl9", 300L), ("u2", "lvl2", 200L), ("u3", "lvl3", 150L)))
  }

  test("K6: upsert is idempotent under batch replay (at-least-once safety)") {
    // foreachBatch delivery is at-least-once: a crash after the dim
    // write but before the offset commit REPLAYS the batch. MERGE
    // semantics must absorb the replay — same keys, same versions,
    // same values, no duplicates — on both version-keeping and
    // CDC (keepVersionCol = false) paths.
    val dirA = Files.createTempDirectory("graft_dim_").toString + "/a"
    val batch = Seq(("u1", "lvl1", 100L), ("u2", "lvl2", 200L))
      .toDF("user_id", "level", "ver")
    Sinks.upsertParquet(spark, batch, dirA, "user_id", "ver")
    Sinks.upsertParquet(spark, batch, dirA, "user_id", "ver") // replay
    val a = spark.read.parquet(dirA).orderBy("user_id")
      .as[(String, String, Long)].collect()
    assert(a.toSeq == Seq(("u1", "lvl1", 100L), ("u2", "lvl2", 200L)))

    val dirB = Files.createTempDirectory("graft_dim_").toString + "/b"
    Sinks.upsertParquet(spark, batch, dirB, "user_id", "ver", keepVersionCol = false)
    Sinks.upsertParquet(spark, batch, dirB, "user_id", "ver", keepVersionCol = false)
    val b = spark.read.parquet(dirB).orderBy("user_id")
      .as[(String, String)].collect()
    assert(b.toSeq == Seq(("u1", "lvl1"), ("u2", "lvl2")))
  }

  test("K6 scale: bucketed upsert rewrites only the touched buckets") {
    import org.apache.spark.sql.functions._
    val dir = Files.createTempDirectory("graft_dim_").toString + "/dim"
    val seed = (1 to 8).map(i => (s"u$i", s"lvl$i", 100L))
      .toDF("user_id", "level", "ver")
    Sinks.upsertParquetBucketed(spark, seed, dir, "user_id", "ver", nBuckets = 4)
    // (file name, mtime) per bucket dir — a rewrite changes part file names
    def snapshot(): Map[String, Seq[(String, Long)]] = {
      val root = new java.io.File(dir)
      root.listFiles().filter(f => f.isDirectory && f.getName.startsWith("pkb="))
        .map(d => d.getName -> d.listFiles()
          .filter(_.getName.endsWith(".parquet"))
          .map(f => (f.getName, f.lastModified)).toSeq.sorted)
        .toMap
    }
    val before = snapshot()
    assert(before.size >= 2, s"fixture needs >=2 buckets, got ${before.keySet}")
    val b1 = spark.range(1)
      .select(pmod(xxhash64(lit("u1")), lit(4L)).cast("int")).as[Int].head()
    Sinks.upsertParquetBucketed(spark,
      Seq(("u1", "lvl9", 200L)).toDF("user_id", "level", "ver"),
      dir, "user_id", "ver", nBuckets = 4)
    val after = snapshot()
    before.filter { case (k, _) => k != s"pkb=$b1" }.foreach { case (k, v) =>
      assert(after(k) == v, s"untouched bucket $k was rewritten")
    }
    assert(after(s"pkb=$b1") != before(s"pkb=$b1"), "touched bucket not rewritten")
    // merge semantics hold across the bucketed layout
    val out = Sinks.readDim(spark, dir).orderBy("user_id")
      .as[(String, String, Long)].collect()
    assert(out.length == 8)
    assert(out.head == (("u1", "lvl9", 200L)))
    // at-least-once replay converges on the bucketed path too
    Sinks.upsertParquetBucketed(spark,
      Seq(("u1", "lvl9", 200L)).toDF("user_id", "level", "ver"),
      dir, "user_id", "ver", nBuckets = 4)
    val replay = Sinks.readDim(spark, dir).orderBy("user_id")
      .as[(String, String, Long)].collect()
    assert(replay.toSeq == out.toSeq)
    // null keys get a concrete bucket (xxhash64(null) = the 42 seed,
    // so 42 % nBuckets) and merge like the flat path (all nulls
    // collapse to the latest row) instead of crashing the
    // touched-bucket probe or hiding in an unprunable default dir
    Sinks.upsertParquetBucketed(spark,
      Seq((null.asInstanceOf[String], "n1", 300L)).toDF("user_id", "level", "ver"),
      dir, "user_id", "ver", nBuckets = 4)
    Sinks.upsertParquetBucketed(spark,
      Seq((null.asInstanceOf[String], "n2", 400L)).toDF("user_id", "level", "ver"),
      dir, "user_id", "ver", nBuckets = 4)
    val withNull = Sinks.readDim(spark, dir)
      .filter(col("user_id").isNull).as[(String, String, Long)].collect()
    assert(withNull.toSeq == Seq((null, "n2", 400L)))
    assert(Sinks.readDim(spark, dir).count() == 9)
  }

  test("K6 crash envelope: bucketed upsert self-recovers from an empty dst dir") {
    // A crash between mkdirs(dst) and the first bucket promote on the
    // table's FIRST write leaves dst present but empty; the retry must
    // treat that as the empty-table case, not die on schema inference.
    val dir = Files.createTempDirectory("graft_dim_").toString + "/dim"
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(new org.apache.hadoop.fs.Path(dir))
    Sinks.upsertParquetBucketed(spark,
      Seq(("u1", "lvl1", 100L)).toDF("user_id", "level", "ver"),
      dir, "user_id", "ver", nBuckets = 4)
    val out = Sinks.readDim(spark, dir).as[(String, String, Long)].collect()
    assert(out.toSeq == Seq(("u1", "lvl1", 100L)))
  }

  test("flat-upsert crash envelope, exhaustively: every kill point along " +
    "the move-aside/promote/delete swap recovers to a full generation") {
    import org.apache.hadoop.fs.Path
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
    // upsertParquet's swap, in code order:
    //   1. dst -> dst_old_<stamp>   2. dst_tmp_<stamp> -> dst
    //   3. delete dst_old_<stamp>
    // A kill after any prefix must leave the NEXT upsert able to
    // produce the correct merged table — v1's accumulation never
    // silently replaced by a single batch, no duplicate generations.
    val b1 = Seq(("u1", "a", 1L), ("u2", "a", 1L)).toDF("user_id", "lvl", "ver")
    val b2 = Seq(("u2", "b", 2L), ("u3", "b", 2L)).toDF("user_id", "lvl", "ver")
    val want = Seq(("u1", "a", 1L), ("u2", "b", 2L), ("u3", "b", 2L))
    for (steps <- 0 to 2) {
      // steps=3 (delete done) is the clean end state — covered by the
      // plain K6 tests; 0..2 are the kill windows
      val root = Files.createTempDirectory("graft_flatenv_").toString
      val dir = s"$root/dim"
      Sinks.upsertParquet(spark, b1, dir, "user_id", "ver")
      // build the mid-swap state of the SECOND upsert by hand: its
      // merged output staged in _tmp_, then `steps` ops applied
      val side = s"$root/side"
      Sinks.upsertParquet(spark, b1, side, "user_id", "ver")
      Sinks.upsertParquet(spark, b2, side, "user_id", "ver")
      val stamp = "01000000000000000001"
      fs.rename(new Path(side), new Path(s"${dir}_tmp_$stamp"))
      val ops: Seq[() => Unit] = Seq(
        () => { fs.rename(new Path(dir), new Path(s"${dir}_old_$stamp")); () },
        () => { fs.rename(new Path(s"${dir}_tmp_$stamp"), new Path(dir)); () })
      ops.take(steps).foreach(_.apply())
      // the next call's recovery + merge must land the correct table
      Sinks.upsertParquet(spark, b2, dir, "user_id", "ver")
      val got = Sinks.readDim(spark, dir).as[(String, String, Long)]
        .collect().toSeq.sortBy(_._1)
      assert(got == want, s"steps=$steps: recovered merge wrong: $got")
      val debris = fs.listStatus(new Path(root)).map(_.getPath.getName)
        .filter(n => n.startsWith("dim_old_") || n.startsWith("dim_tmp_"))
      assert(debris.isEmpty, s"steps=$steps: stranded $debris")
    }
  }

  test("dst-absent restore prefers the fixed-width stamp over a legacy " +
    "raw-nanoTime leftover that lexicographically outranks it") {
    import org.apache.hadoop.fs.Path
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
    // Transitional mixed directory: a pre-genStamp `_old_` leftover
    // named by raw nanoTime (boot-relative, unpadded — here 12 digits
    // starting with '9') sorts lexicographically ABOVE every current
    // 19-digit wall-clock stamp (leading '1'), so a newest-BY-NAME
    // pick would restore the STALE generation. The restore must pick
    // by (fixed-width, numeric value) instead.
    val root = Files.createTempDirectory("graft_mixedrestore_").toString
    val dir = s"$root/dim"
    // stale legacy generation: u1 at version 1
    Seq(("u1", "stale", 1L)).toDF("user_id", "lvl", "ver")
      .write.parquet(s"${dir}_old_999999999999")
    // newer fixed-stamp generation: u1 at version 5, plus u2
    Seq(("u1", "fresh", 5L), ("u2", "fresh", 5L))
      .toDF("user_id", "lvl", "ver")
      .write.parquet(s"${dir}_old_1770000000000123456")
    // dst absent → restore path; then merge a batch that should lose
    // to the fresh generation's higher version for u1
    val batch = Seq(("u1", "batch", 3L)).toDF("user_id", "lvl", "ver")
    Sinks.upsertParquet(spark, batch, dir, "user_id", "ver")
    val got = Sinks.readDim(spark, dir).as[(String, String, Long)]
      .collect().toSeq.sortBy(_._1)
    assert(got == Seq(("u1", "fresh", 5L), ("u2", "fresh", 5L)),
      s"restore picked the wrong generation: $got")
  }

  test("sorted layout: a pushed range predicate skips non-matching row groups") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.execution.FileSourceScanExec
    val li = graft.Tables(spark, sf).lineitem.select("l_orderkey", "l_quantity")
    val total = li.count()
    val dir = Files.createTempDirectory("graft_sorted_").toString
    Sinks.writeSorted(li, s"$dir/sorted", "l_orderkey", nFiles = 8)
    // same data, same file count, no ordering — the stats-pruning control
    li.repartition(8).write.parquet(s"$dir/shuffled")
    val lo = li.agg(min("l_orderkey")).head.getLong(0)
    // scan rows DECODED (post row-group pruning, pre Spark-side filter)
    def scanRows(path: String): Long = {
      val prev = spark.conf.get("spark.sql.adaptive.enabled")
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      try {
        val q = spark.read.parquet(path).filter(col("l_orderkey") <= lo + 5)
        q.collect()
        val scan = q.queryExecution.executedPlan.collect {
          case s: FileSourceScanExec => s
        }.head
        assert(scan.metadata("PushedFilters").contains("LessThanOrEqual"),
          s"range filter not pushed: ${scan.metadata("PushedFilters")}")
        scan.metrics("numOutputRows").value
      } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
    }
    val sortedRows = scanRows(s"$dir/sorted")
    val shuffledRows = scanRows(s"$dir/shuffled")
    info(s"decoded rows: sorted=$sortedRows shuffled=$shuffledRows total=$total")
    // the unsorted layout decodes everything (every row group's min/max
    // straddles the predicate); the sorted layout decodes only the one
    // range-partitioned file whose stats can match
    assert(shuffledRows == total, "control should decode every row")
    assert(sortedRows <= total / 4,
      s"sorted layout should prune most row groups, decoded $sortedRows/$total")
  }

  test("writeShards: deterministic shards, one file each, manifest matches data") {
    val dir = Files.createTempDirectory("graft_shards_").toString + "/pub"
    val docs = graft.Tables(spark, sf).documents
      .select("doc_id", "text", "lang")
    val manifest = Sinks.writeShards(docs, dir, "doc_id", nShards = 8)
      .orderBy("shard").collect().toSeq
    assert(manifest.map(_.getLong(0)).toSet == (0L until 8L).toSet)
    // every shard=k dir holds exactly ONE parquet data file
    (0 until 8).foreach { k =>
      val files = new java.io.File(s"$dir/data/shard=$k")
        .listFiles().count(_.getName.endsWith(".parquet"))
      assert(files == 1, s"shard $k has $files files")
    }
    // manifest counts match the written data, and membership is the
    // documented pure function of the id
    val back = spark.read.parquet(s"$dir/data")
    assert(back.count() == docs.count())
    val counts = back.groupBy("shard").count()
      .as[(Long, Long)].collect().toMap
    manifest.foreach(r => assert(counts(r.getLong(0)) == r.getLong(1)))
    assert(back.filter(
      col("shard") =!= pmod(xxhash64(col("doc_id")), lit(8L))).count() == 0)
    // republishing under a different partitioning reproduces the exact
    // manifest (shard membership + order-independent content hash)
    val again = Sinks.writeShards(docs.repartition(17),
      Files.createTempDirectory("graft_shards_").toString + "/pub2",
      "doc_id", nShards = 8).orderBy("shard").collect().toSeq
    assert(again == manifest)
  }

  test("zone maps: manifest stats prune shard files on a selective predicate") {
    val dir = Files.createTempDirectory("graft_zone_").toString + "/pub"
    // a time-clustered corpus: explicit shard assignment buckets ts
    // into 10 contiguous ranges (the caller's domain knowledge — a
    // date bucket at lake scale), zone maps recorded on ts
    val rows = spark.range(0, 1000).toDF("doc_id")
      .withColumn("ts", col("doc_id") * 10L)
      .withColumn("bucket", (col("doc_id") / 100L).cast("long"))
    val manifest = Sinks.writeShards(rows, dir, "doc_id", nShards = 10,
      zoneCols = Seq("ts"), shardCol = Some("bucket"))
    assert(manifest.columns.contains("zmin_ts") &&
      manifest.columns.contains("zmax_ts"))
    // selective predicate: ts in [1500, 2500] lives in buckets 1-2 only
    val pruned = Sinks.readShardsBetween(spark, dir, "ts", 1500L, 2500L)
    val full = spark.read.parquet(s"$dir/data")
      .filter(col("ts") >= 1500L && col("ts") <= 2500L)
    assert(pruned.select("doc_id").as[Long].collect().sorted.toSeq ==
      full.select("doc_id").as[Long].collect().sorted.toSeq)
    // the measured artifact: files OPENED drop from 10 to 2
    val prunedFiles = pruned.inputFiles.length
    val fullFiles = spark.read.parquet(s"$dir/data").inputFiles.length
    info(s"zone-map pruning read $prunedFiles/$fullFiles shard files")
    assert(fullFiles == 10 && prunedFiles == 2,
      s"expected 2/10 files, read $prunedFiles/$fullFiles")
    // the shard column still rides the pruned frame (loader contract)
    assert(pruned.columns.contains("shard"))
    // empty intersection reads ZERO files and returns the right schema
    val none = Sinks.readShardsBetween(spark, dir, "ts", 100000L, 200000L)
    assert(none.count() == 0)
    // pruning on an un-mapped column fails loudly, never silently empty
    val e = intercept[IllegalArgumentException] {
      Sinks.readShardsBetween(spark, dir, "doc_id", 0L, 10L)
    }
    assert(e.getMessage.contains("no zone map"), e.getMessage)
    // out-of-range explicit assignment aborts before the commit marker
    intercept[IllegalArgumentException] {
      Sinks.writeShards(rows, dir + "2", "doc_id", nShards = 5,
        zoneCols = Seq("ts"), shardCol = Some("bucket"))
    }
    // ... and the aborted publish left no committed generation behind
    assert(!new java.io.File(dir + "2/data").exists())
    // the delta doors run the same gate on a live layout, which stays
    // the committed generation
    val live = spark.read.parquet(s"$dir/manifest").orderBy("shard")
      .collect().toSeq
    Seq[() => Any](
      () => Sinks.publishDelta(rows, dir, "doc_id", nShards = 5,
        zoneCols = Seq("ts"), shardCol = Some("bucket")),
      () => Sinks.rebinShards(rows, dir, "doc_id", nShards = 5,
        zoneCols = Seq("ts"), shardCol = Some("bucket"))).foreach { door =>
      intercept[IllegalArgumentException](door())
      assert(spark.read.parquet(s"$dir/manifest").orderBy("shard")
        .collect().toSeq == live)
      assert((0 until 10).forall(s =>
        new java.io.File(s"$dir/data/shard=$s").exists()) &&
        !new java.io.File(dir).list().exists(_.startsWith("_staging_")))
    }
  }

  test("zone maps survive a delta republish (changed + linked shards both carry stats)") {
    val dir = Files.createTempDirectory("graft_zoned_").toString + "/pub"
    val v1 = spark.range(0, 1000).toDF("doc_id")
      .withColumn("ts", col("doc_id") * 10L)
      .withColumn("bucket", (col("doc_id") / 100L).cast("long"))
    Sinks.writeShards(v1, dir, "doc_id", nShards = 10,
      zoneCols = Seq("ts"), shardCol = Some("bucket"))
    // v2 changes bucket 3 only (ts shifted); others link unchanged
    val v2 = v1.withColumn("ts",
      when(col("bucket") === 3L, col("ts") + 1L).otherwise(col("ts")))
      .localCheckpoint()
    Sinks.publishDelta(v2, dir, "doc_id", nShards = 10,
      zoneCols = Seq("ts"), shardCol = Some("bucket"))
    val m = spark.read.parquet(s"$dir/manifest")
      .select("shard", "zmin_ts", "zmax_ts").as[(Long, Long, Long)]
      .collect().map { case (k, a, b) => k -> ((a, b)) }.toMap
    assert(m(3L) == ((3001L, 3991L)), s"rewritten shard stats: ${m(3L)}")
    assert(m(2L) == ((2000L, 2990L)), s"linked shard stats: ${m(2L)}")
    val pruned = Sinks.readShardsBetween(spark, dir, "ts", 3001L, 3001L)
    assert(pruned.inputFiles.length == 1 && pruned.count() == 1)
  }

  test("verifyShards detects intact, corrupted, and missing shards") {
    val dir = Files.createTempDirectory("graft_vshard_").toString + "/pub"
    val docs = graft.Tables(spark, sf).documents
      .select("doc_id", "text", "lang")
    Sinks.writeShards(docs, dir, "doc_id", nShards = 4)
    // pristine publish verifies clean
    val ok = Sinks.verifyShards(spark, dir, "doc_id")
    assert(ok.count() == 4 && ok.filter(!col("ok")).count() == 0)
    // corrupt one shard (replace its parquet file with a truncated
    // rewrite: drop a row) and delete another entirely
    val shard0 = new java.io.File(s"$dir/data/shard=0")
    val fixed = spark.read.parquet(shard0.toString)
    val fewer = fixed.limit(fixed.count().toInt - 1).collect()
    val fewerDf = spark.createDataFrame(
      spark.sparkContext.parallelize(fewer.toSeq), fixed.schema)
    fewerDf.write.mode("overwrite").parquet(shard0.toString)
    org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(s"$dir/data/shard=1"))
    val after = Sinks.verifyShards(spark, dir, "doc_id")
      .select("shard", "ok").as[(Long, Boolean)].collect().toMap
    assert(!after(0L), "row-dropped shard must fail verification")
    assert(!after(1L), "deleted shard must fail verification")
    assert(after(2L) && after(3L), "untouched shards must stay ok")
  }

  test("publish lease: a held lease refuses a second writer untouched; " +
    "a stale lease is reclaimed") {
    import org.apache.hadoop.fs.Path
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
    val dir = Files.createTempDirectory("graft_lease_").toString + "/pub"
    val docs = graft.Tables(spark, sf).documents
      .select("doc_id", "text").limit(200)
    Sinks.writeShards(docs, dir, "doc_id", nShards = 4)
    // a successful publish releases its lease
    assert(!fs.exists(new Path(dir, Sinks.PublishLock)),
      "lease must be released after a successful publish")
    val before = spark.read.parquet(s"$dir/manifest")
      .orderBy("shard").collect().toSeq
    // writer A holds a fresh lease (as if mid-publish); every write
    // door of writer B must refuse WITHOUT touching the layout
    val token = Sinks.acquirePublishLease(fs, new Path(dir))
    val lock = new Path(dir, Sinks.PublishLock)
    def held(): String = {
      val in = fs.open(lock)
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    }
    val doors = Seq[(String, () => Any)](
      "writeShards" -> (() =>
        Sinks.writeShards(docs.limit(50), dir, "doc_id", nShards = 4)),
      "publishDelta" -> (() =>
        Sinks.publishDelta(docs.limit(50), dir, "doc_id", nShards = 4)),
      "rebuildManifest" -> (() =>
        Sinks.rebuildManifest(spark, dir, "doc_id", nShards = 4)),
      "declareShardStats" -> (() =>
        Sinks.declareShardStats(spark, dir, zoneCols = Seq("doc_id"))),
      "deleteWhere" -> (() =>
        Sinks.deleteWhere(spark, dir, "doc_id", col("doc_id") === 1L)),
      "mergeRows" -> (() =>
        Sinks.mergeRows(spark, dir, docs.limit(5), "doc_id")))
    doors.foreach { case (door, run) =>
      val e = intercept[java.util.ConcurrentModificationException](run())
      assert(e.getMessage.contains("lease"), s"$door: ${e.getMessage}")
      assert(spark.read.parquet(s"$dir/manifest")
        .orderBy("shard").collect().toSeq == before,
        s"refused $door must leave the live generation untouched")
      assert(fs.listStatus(new Path(dir)).map(_.getPath.getName)
        .count(_.startsWith("_staging_")) == 0,
        s"refused $door must not stage anything")
      // a refused writer must NOT have released the holder's lease
      assert(fs.exists(lock) && held() == token,
        s"the holder's lease must survive a refused $door")
    }
    // the holder crashes: its lease goes stale and the next writer
    // reclaims it and publishes
    fs.setTimes(lock,
      System.currentTimeMillis() - Sinks.PublishLeaseTtlMs - 60_000, -1)
    Sinks.writeShards(docs.limit(50), dir, "doc_id", nShards = 4)
    // dead-holder fast path: a FRESH lease whose pid is provably dead
    // on this host is reclaimed immediately — a supervised restart
    // must not stall out the whole TTL
    val host = java.net.InetAddress.getLocalHost.getHostName
    val out = fs.create(lock, true)
    out.write(s"0000000000000000000 pid=999999999 host=$host"
      .getBytes("UTF-8")); out.close()
    Sinks.writeShards(docs.limit(50), dir, "doc_id", nShards = 4)
    assert(!fs.exists(lock), "dead-holder lease must be reclaimed")
    assert(spark.read.parquet(s"$dir/manifest")
      .agg(org.apache.spark.sql.functions.sum("n_rows")).head.getLong(0) == 50,
      "reclaimed lease must allow the publish through")
    assert(!fs.exists(lock), "new publish must release its own lease")
  }

  test("publishDelta rewrites only changed shards, links the rest, and " +
    "the result is verifiable and diff-consistent") {
    import org.apache.hadoop.fs.Path
    val dir = Files.createTempDirectory("graft_delta_").toString + "/pub"
    val docs = graft.Tables(spark, sf).documents
      .select("doc_id", "text", "lang").localCheckpoint()
    Sinks.writeShards(docs, dir, "doc_id", nShards = 16)
    val m1 = spark.read.parquet(s"$dir/manifest").localCheckpoint()
    def shardFiles(): Map[Long, Set[String]] =
      (0 until 16).map { s =>
        val d = new java.io.File(s"$dir/data/shard=$s")
        s.toLong -> Option(d.list()).map(_.filter(_.endsWith(".parquet")).toSet)
          .getOrElse(Set.empty[String])
      }.toMap
    val files1 = shardFiles()
    // v2: mutate the text of every doc in exactly 3 shards (shard is a
    // pure function of doc_id, so the mutation predicate reuses it)
    val touched = Seq(2L, 7L, 11L)
    val shardOf = pmod(xxhash64(col("doc_id")), lit(16L))
    val v2 = docs.withColumn("text",
      when(shardOf.isin(touched: _*), concat(col("text"), lit(" v2")))
        .otherwise(col("text"))).localCheckpoint()
    // localCheckpoint: the returned manifest's file index dies with
    // its generation once a later publish replaces it
    val m2 = Sinks.publishDelta(v2, dir, "doc_id", nShards = 16)
      .localCheckpoint()
    // exactly the 3 touched shards got new data files; the other 13
    // kept the v1 generation's files (same part-file names = linked,
    // not rewritten — Spark part names embed the writing job's UUID)
    val files2 = shardFiles()
    val rewritten = files2.filter { case (s, f) => files1(s) != f }.keySet
    assert(rewritten == touched.toSet,
      s"expected exactly $touched rewritten, got $rewritten")
    // layout verifies clean against the new manifest
    val bad = Sinks.verifyShards(spark, dir, "doc_id")
      .filter(!col("ok")).count()
    assert(bad == 0, "delta-published layout must verify clean")
    // manifest diff agrees: exactly the touched shards changed
    val d = Sinks.diffManifests(m1, m2)
      .select("shard", "status").as[(Long, String)].collect().toMap
    assert(d.count(_._2 == "changed") == 3 &&
      touched.forall(d(_) == "changed"), s"diff: $d")
    assert(d.count(_._2 == "same") == 13)
    // the delta published the same corpus a full publish would
    val full = Files.createTempDirectory("graft_delta_full_").toString + "/pub"
    val mFull = Sinks.writeShards(v2, full, "doc_id", nShards = 16)
    assert(Sinks.diffManifests(m2, mFull).filter(col("status") =!= "same")
      .count() == 0, "delta and full publish must describe identical bytes")
    // a no-change delta links everything and rewrites nothing
    val m3 = Sinks.publishDelta(v2, dir, "doc_id", nShards = 16)
    val files3 = shardFiles()
    assert(files3 == files2, "no-change delta must rewrite no data files")
    assert(Sinks.diffManifests(m2, m3).filter(col("status") =!= "same")
      .count() == 0)
  }

  test("partition-spec evolution: rebinShards re-declares the binning, rewrites " +
    "only moved shards, retains the old generation with its own spec + zone maps") {
    val dir = Files.createTempDirectory("graft_rebin_").toString + "/pub"
    def corpus(n: Int) = spark.range(n).toDF("doc_id")
      .withColumn("text", concat(lit("doc body "), col("doc_id")))
      .withColumn("bucket", col("doc_id") / 100 cast "long")
      .localCheckpoint()
    // generation 1: 400 docs, date-bucket-style spec (doc_id div 100),
    // 4 shards, zone maps on doc_id
    Sinks.writeShards(corpus(400), dir, "doc_id", nShards = 4,
      zoneCols = Seq("doc_id"), shardCol = Some("bucket"))
    assert(Sinks.shardSpec(spark, dir) == Some((Some("bucket"), 4)))
    def shardFiles(n: Int): Map[Long, Set[String]] =
      (0 until n).map { s =>
        val d = new java.io.File(s"$dir/data/shard=$s")
        s.toLong -> Option(d.list()).map(_.filter(_.endsWith(".parquet")).toSet)
          .getOrElse(Set.empty[String])
      }.toMap
    val files1 = shardFiles(4)
    // partition-spec evolution: corpus grew to 600 docs; re-declare
    // the layout as 6 shards under the same bucketing function. The
    // old buckets' member sets are unchanged -> hard-linked; only the
    // two NEW buckets are written.
    Sinks.rebinShards(corpus(600), dir, "doc_id", nShards = 6,
      zoneCols = Seq("doc_id"), shardCol = Some("bucket"))
    val files2 = shardFiles(6)
    assert((0L to 3L).forall(s => files2(s) == files1(s)),
      s"unchanged buckets must keep their files: $files1 vs $files2")
    assert(files2(4L).nonEmpty && files2(5L).nonEmpty)
    // the new generation's manifest records the NEW spec on every row
    // (carried shards included) and carries zone maps for all 6 shards
    assert(Sinks.shardSpec(spark, dir) == Some((Some("bucket"), 6)))
    val m = spark.read.parquet(s"$dir/manifest")
    assert(m.filter(col("spec_n") =!= 6 || col("spec_col") =!= "bucket")
      .count() == 0)
    assert(m.filter(col("zmin_doc_id").isNull).count() == 0 && m.count() == 6)
    // zone pruning plans from the new manifest: a range inside bucket 4
    // opens exactly one shard dir and answers exactly
    val hit = Sinks.readShardsBetween(spark, dir, "doc_id", 450L, 470L)
    assert(hit.select("doc_id").as[Long].collect().sorted.toSeq
      == (450L to 470L))
    // the displaced generation is retained: readShardsAt answers the
    // OLD binning (400 rows over 4 shards) and its manifest still
    // records the OLD spec — both generations answer simultaneously
    val vs = Sinks.listShardVersions(spark, dir)
    assert(vs.size == 1, s"expected one retained generation, got $vs")
    val old = Sinks.readShardsAt(spark, dir, vs.head)
    assert(old.count() == 400 &&
      old.select("shard").distinct().count() == 4)
    assert(Sinks.shardSpec(spark, dir, Some(vs.head)) == Some((Some("bucket"), 4)))
    assert(spark.read.parquet(s"$dir/data").count() == 600)
    // a RE-CLUSTER (hash -> bucket would move everything) still keeps
    // the generation chain: re-bin the same 600 docs to 3 wider buckets
    Sinks.rebinShards(corpus(600).withColumn("bucket",
        col("doc_id") / 200 cast "long").localCheckpoint(),
      dir, "doc_id", nShards = 3, zoneCols = Seq("doc_id"),
      shardCol = Some("bucket"))
    assert(Sinks.shardSpec(spark, dir) == Some((Some("bucket"), 3)))
    assert(spark.read.parquet(s"$dir/data").count() == 600)
    assert(Sinks.listShardVersions(spark, dir).size == 2)
  }

  test("concurrent reader across a publish swap: carried shards keep serving, " +
    "rewritten shards fail loudly, time travel is the sanctioned door — never a mixed read") {
    val dir = Files.createTempDirectory("graft_concread_").toString + "/pub"
    // gen 1: 4 explicit buckets so the reader can target shards precisely
    def corpus(tag: String) = spark.range(400).toDF("doc_id")
      .withColumn("text", concat(lit(tag), col("doc_id")))
      .withColumn("bucket", col("doc_id") / 100 cast "long")
      .localCheckpoint()
    Sinks.writeShards(corpus("v1 body "), dir, "doc_id", nShards = 4,
      zoneCols = Seq("doc_id"), shardCol = Some("bucket"))
    // two readers plan BEFORE the swap: one over a shard the next
    // publish will carry forward (bucket 0 — zone range 0..99), one
    // over the whole layout (touches the rewritten bucket 3)
    val carriedReader = Sinks.readShardsBetween(spark, dir, "doc_id", 10L, 20L)
    val wholeReader = spark.read.parquet(s"$dir/data")
    assert(carriedReader.count() == 11) // file index now pinned pre-swap
    assert(wholeReader.count() == 400)
    // the swap: delta publish rewrites ONLY bucket 3 (text mutated),
    // retaining the displaced generation
    val v2 = corpus("v1 body ").withColumn("text",
      when(col("bucket") === 3, concat(lit("v2 body "), col("doc_id")))
        .otherwise(col("text"))).localCheckpoint()
    Sinks.publishDelta(v2, dir, "doc_id", nShards = 4,
      retainPrevious = true, zoneCols = Seq("doc_id"),
      shardCol = Some("bucket"))
    // carried shards were hard-linked under their original file names:
    // the pre-swap reader's pinned paths still resolve to the SAME
    // inodes — it completes with exactly its generation's rows
    assert(carriedReader.select("doc_id").as[Long].collect().sorted.toSeq
      == (10L to 20L))
    // the whole-layout reader's pinned index points at bucket 3 files
    // the promote renamed away — it must fail LOUDLY (missing file),
    // never silently serve a mix of generations
    val e = intercept[Throwable] {
      wholeReader.select("text").as[String].collect()
    }
    def chain(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: chain(t.getCause)
    assert(chain(e).exists(c =>
      c.isInstanceOf[java.io.FileNotFoundException] ||
        (c.getMessage != null && (c.getMessage.contains("does not exist") ||
          c.getMessage.contains("FileNotFound")))), s"unexpected failure: $e")
    // a FRESH plan over the live path sees the complete new generation
    val live = spark.read.parquet(s"$dir/data")
    assert(live.count() == 400)
    assert(live.filter(col("text").startsWith("v2")).count() == 100)
    // and the displaced generation is served consistently through the
    // sanctioned door — the retained version, not a half-swapped dir
    val vs = Sinks.listShardVersions(spark, dir)
    assert(vs.size == 1)
    val old = Sinks.readShardsAt(spark, dir, vs.head)
    assert(old.count() == 400 &&
      old.filter(col("text").startsWith("v2")).count() == 0)
  }

  test("verifyShardsDelta trusts carried-forward shards and re-reads only the delta") {
    val dir = Files.createTempDirectory("graft_vdelta_").toString + "/pub"
    val docs = graft.Tables(spark, sf).documents
      .select("doc_id", "text", "lang").localCheckpoint()
    Sinks.writeShards(docs, dir, "doc_id", nShards = 16)
    // the workflow that makes a manifest "trusted": a full byte-level
    // verify pass over the generation it describes
    assert(Sinks.verifyShards(spark, dir, "doc_id")
      .filter(!col("ok")).count() == 0)
    val m1 = spark.read.parquet(s"$dir/manifest").localCheckpoint()
    val touched = Seq(2L, 7L, 11L)
    val shardOf = pmod(xxhash64(col("doc_id")), lit(16L))
    val v2 = docs.withColumn("text",
      when(shardOf.isin(touched: _*), concat(col("text"), lit(" v2")))
        .otherwise(col("text"))).localCheckpoint()
    Sinks.publishDelta(v2, dir, "doc_id", nShards = 16)
    val out = Sinks.verifyShardsDelta(spark, dir, "doc_id", m1)
      .select("shard", "ok", "mode").as[(Long, Boolean, String)]
      .collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(out.size == 16 && out.values.forall(_._1),
      s"clean delta publish must verify clean: $out")
    assert(out.filter(_._2._2 == "reread").keySet == touched.toSet,
      s"only the changed shards may be re-read: $out")
    // replace an UNCHANGED shard's part file with a valid parquet file
    // holding the wrong rows (shard 9's): metadata intact, bytes wrong
    val s5dir = new java.io.File(s"$dir/data/shard=5")
    val s9dir = new java.io.File(s"$dir/data/shard=9")
    val s5file = s5dir.listFiles().filter(_.getName.endsWith(".parquet")).head
    val s9file = s9dir.listFiles().filter(_.getName.endsWith(".parquet")).head
    java.nio.file.Files.copy(s9file.toPath, s5file.toPath,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    assert(Sinks.verifyShards(spark, dir, "doc_id")
      .filter(!col("ok")).select("shard").as[Long].collect().toSet == Set(5L),
      "full verify must catch the swapped bytes")
    // ...but the delta verify, by contract, trusts previously-verified
    // carried-forward bytes — it must NOT have read them
    assert(Sinks.verifyShardsDelta(spark, dir, "doc_id", m1)
      .filter(!col("ok")).count() == 0,
      "delta verify must not re-read trusted shards")
    // stronger: garbage bytes under the same name — if the delta
    // verify's reader so much as opened the file (schema inference
    // included) the job would crash, so green here PROVES the scan
    // is confined to the re-read shards
    java.nio.file.Files.write(s5file.toPath,
      "not a parquet file".getBytes("UTF-8"))
    assert(Sinks.verifyShardsDelta(spark, dir, "doc_id", m1)
      .filter(!col("ok")).count() == 0,
      "delta verify must never open a trusted shard's files")
    // gross loss on a trusted shard IS caught (metadata check)
    s5dir.listFiles().foreach(_.delete()); s5dir.delete()
    // ...as is a shard dir no manifest describes
    val s99dir = new java.io.File(s"$dir/data/shard=99")
    s99dir.mkdirs()
    java.nio.file.Files.copy(s9file.toPath,
      new java.io.File(s99dir, s9file.getName).toPath)
    val flagged = Sinks.verifyShardsDelta(spark, dir, "doc_id", m1)
      .filter(!col("ok")).select("shard").as[Long].collect().toSet
    assert(flagged == Set(5L, 99L),
      s"expected missing shard 5 and orphan shard 99 flagged, got $flagged")
  }

  test("diffManifests classifies same/changed/added/removed shards") {
    val base = Files.createTempDirectory("graft_diff_").toString
    val docs = graft.Tables(spark, sf).documents
      .select("doc_id", "text", "lang")
    val m1 = Sinks.writeShards(docs, s"$base/v1", "doc_id", nShards = 4)
    // v2: drop some docs (changes the shards those ids hashed into)
    val m2 = Sinks.writeShards(docs.filter(col("doc_id") % 7 =!= 0),
      s"$base/v2", "doc_id", nShards = 4)
    val d = Sinks.diffManifests(m1, m2)
      .select("shard", "status").as[(Long, String)].collect().toMap
    assert(d.values.forall(Set("same", "changed").contains))
    assert(d.values.exists(_ == "changed")) // every 7th id removed somewhere
    // identical manifests diff to all-same; a missing shard classifies
    val same = Sinks.diffManifests(m1, m1)
      .select("status").as[String].collect()
    assert(same.forall(_ == "same"))
    val dropped = Sinks.diffManifests(m1, m1.filter(col("shard") =!= 2L))
      .select("shard", "status").as[(Long, String)].collect().toMap
    assert(dropped(2L) == "removed")
    val added = Sinks.diffManifests(m1.filter(col("shard") =!= 3L), m1)
      .select("shard", "status").as[(Long, String)].collect().toMap
    assert(added(3L) == "added")
  }

  test("writeShards: a publish that fails mid-write leaves the old " +
    "generation intact and verifiable") {
    val dir = Files.createTempDirectory("graft_atomic_").toString + "/pub"
    val docs = graft.Tables(spark, sf).documents
      .select("doc_id", "text", "lang")
    val m1 = Sinks.writeShards(docs, dir, "doc_id", nShards = 4)
      .orderBy("shard").collect().toSeq
    // no publish debris after a clean promote
    val leftovers = new java.io.File(dir).listFiles().map(_.getName)
      .filter(n => n.startsWith("_staging_") || n.startsWith("_old_"))
    assert(leftovers.isEmpty, s"stranded generations: ${leftovers.toSeq}")
    // second publish dies in a Spark task mid-staging — the pre-atomic
    // writeShards would already have DELETED the v1 data at this point
    val boom = udf((id: Long) =>
      if (id % 5L == 0L) throw new RuntimeException("injected task failure")
      else id)
    intercept[org.apache.spark.SparkException] {
      Sinks.writeShards(docs.withColumn("doc_id", boom(col("doc_id"))),
        dir, "doc_id", nShards = 4)
    }
    // old generation still fully readable, manifest still matches it
    val check = Sinks.verifyShards(spark, dir, "doc_id")
    assert(check.count() == 4 && check.filter(!col("ok")).count() == 0,
      "v1 must still verify clean after the failed v2 publish")
    val mAfter = spark.read.parquet(s"$dir/manifest")
      .orderBy("shard").collect().toSeq
    assert(mAfter == m1, "live manifest must still be v1's")
    // and the NEXT publish sweeps the debris and succeeds normally
    val m3 = Sinks.writeShards(docs.filter(col("doc_id") % 3L =!= 0L),
      dir, "doc_id", nShards = 4)
    assert(m3.count() == 4)
    val after = Sinks.verifyShards(spark, dir, "doc_id")
    assert(after.filter(!col("ok")).count() == 0)
  }

  test("recoverPublish rolls a committed staged generation forward and " +
    "an uncommitted one back") {
    import org.apache.hadoop.fs.Path
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
    val docs = graft.Tables(spark, sf).documents
      .select("doc_id", "text", "lang")
    val v2docs = docs.filter(col("doc_id") % 7L =!= 0L)

    // --- roll FORWARD: crash after data was promoted but before the
    // manifest was (the mixed state: new data live, OLD manifest live)
    val fwd = Files.createTempDirectory("graft_recover_").toString + "/pub"
    Sinks.writeShards(docs, fwd, "doc_id", nShards = 4)
    val side = Files.createTempDirectory("graft_recover_").toString + "/v2"
    val m2 = Sinks.writeShards(v2docs, side, "doc_id", nShards = 4)
      .orderBy("shard").collect().toSeq
    val base = new Path(fwd)
    val staging = new Path(base, "_staging_99")
    val old = new Path(base, "_old_99")
    fs.mkdirs(staging); fs.mkdirs(old)
    // staged v2 generation, sealed by the commit marker
    fs.rename(new Path(side, "manifest"), new Path(staging, "manifest"))
    fs.create(new Path(staging, Sinks.PublishCommitMarker), true).close()
    // ...whose data half already got promoted before the "kill"
    fs.rename(new Path(base, "data"), new Path(old, "data"))
    fs.rename(new Path(side, "data"), new Path(base, "data"))
    Sinks.recoverPublish(fs, base)
    val recovered = spark.read.parquet(s"$fwd/manifest")
      .orderBy("shard").collect().toSeq
    assert(recovered == m2, "roll-forward must finish promoting v2")
    val fcheck = Sinks.verifyShards(spark, fwd, "doc_id")
    assert(fcheck.filter(!col("ok")).count() == 0)
    assert(!fs.exists(staging) && !fs.exists(old), "debris must be swept")

    // --- roll BACK: crash mid-promote of an UNCOMMITTED generation
    // (live data moved aside, no marker) restores the old generation
    val bwd = Files.createTempDirectory("graft_recover_").toString + "/pub"
    val m1 = Sinks.writeShards(docs, bwd, "doc_id", nShards = 4)
      .orderBy("shard").collect().toSeq
    val bbase = new Path(bwd)
    val bstaging = new Path(bbase, "_staging_77")
    val bold = new Path(bbase, "_old_77")
    fs.mkdirs(bstaging); fs.mkdirs(bold)
    fs.rename(new Path(bbase, "data"), new Path(bold, "data"))
    Sinks.recoverPublish(fs, bbase)
    val restored = spark.read.parquet(s"$bwd/manifest")
      .orderBy("shard").collect().toSeq
    assert(restored == m1, "roll-back must restore v1")
    val bcheck = Sinks.verifyShards(spark, bwd, "doc_id")
    assert(bcheck.filter(!col("ok")).count() == 0)
    assert(!fs.exists(bstaging) && !fs.exists(bold), "debris must be swept")
  }

  test("a promote-phase failure unwinds to the full old generation " +
    "(no mixed pair, no debris)") {
    import org.apache.hadoop.fs.Path
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
    val docs = graft.Tables(spark, sf).documents
      .select("doc_id", "text", "lang")
    val dir = Files.createTempDirectory("graft_unwind_").toString + "/pub"
    val m1 = Sinks.writeShards(docs, dir, "doc_id", nShards = 4)
      .orderBy("shard").collect().toSeq
    // stage a sealed v2 whose manifest half is MISSING, so the promote
    // fails AFTER the data part was already swapped in — the unwind
    // must reverse the data swap, restore v1 whole, and sweep; the
    // pre-round-8 bug class (new data left under the old manifest,
    // old data destroyed) is exactly what this pins
    val side = Files.createTempDirectory("graft_unwind_").toString + "/v2"
    Sinks.writeShards(docs.filter(col("doc_id") % 7L =!= 0L),
      side, "doc_id", nShards = 4)
    val base = new Path(dir)
    val staging = new Path(base, "_staging_55")
    fs.mkdirs(staging)
    fs.rename(new Path(side, "data"), new Path(staging, "data"))
    fs.create(new Path(staging, Sinks.PublishCommitMarker), true).close()
    intercept[java.io.IOException] {
      Sinks.promoteStaged(fs, base, staging, new Path(base, "_old_55"))
    }
    val check = Sinks.verifyShards(spark, dir, "doc_id")
    assert(check.count() == 4 && check.filter(!col("ok")).count() == 0,
      "v1 must verify clean after the unwound promote")
    assert(spark.read.parquet(s"$dir/manifest")
      .orderBy("shard").collect().toSeq == m1, "live manifest must be v1's")
    val leftovers = new java.io.File(dir).listFiles().map(_.getName)
      .filter(n => n.startsWith("_staging_") || n.startsWith("_old_"))
    assert(leftovers.isEmpty, s"stranded generations: ${leftovers.toSeq}")
  }

  test("publish crash envelope, exhaustively: every kill point along " +
    "promote AND unwind recovers to one consistent generation") {
    import org.apache.hadoop.fs.Path
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
    val docs = graft.Tables(spark, sf).documents
      .select("doc_id", "text", "lang")
    val v2docs = docs.filter(col("doc_id") % 7L =!= 0L)
    val v1Rows = docs.count()
    val v2Rows = v2docs.count()

    // the promote's rename sequence, in code order (promoteStaged):
    //   1. data:     live -> old        2. data:     staged -> live
    //   3. manifest: live -> old        4. manifest: staged -> live
    // steps 5-8 continue with unwind-SHAPED reversals:
    //   5. manifest: live -> staging    6. manifest: old -> live
    //   7. data:     live -> staging    8. data:     old -> live
    // Steps 1-4 model kills at every real mid-promote point. 5-8 are
    // defense-in-depth: with the post-round-8 code an unwind only runs
    // for failures INSIDE the rename loop (post-promote cleanup errors
    // are swallowed, not unwound), so a full 1-8 walk is not a
    // reachable production trace — recovery must converge from these
    // marker-present layouts anyway, since a kill can interrupt a real
    // unwind after any prefix of its reversals. In every case the
    // recovered layout must have data and manifest from the SAME
    // generation, verifyShards clean, and no debris.
    def mkState(dir: String, steps: Int, marker: Boolean): Path = {
      Sinks.writeShards(docs, dir, "doc_id", nShards = 4)
      val side = Files.createTempDirectory("graft_env_").toString + "/v2"
      Sinks.writeShards(v2docs, side, "doc_id", nShards = 4)
      val base = new Path(dir)
      val staging = new Path(base, "_staging_01000000000000000001")
      val old = new Path(base, "_old_01000000000000000001")
      fs.mkdirs(staging); fs.mkdirs(old)
      fs.rename(new Path(side, "data"), new Path(staging, "data"))
      fs.rename(new Path(side, "manifest"), new Path(staging, "manifest"))
      if (marker)
        fs.create(new Path(staging, Sinks.PublishCommitMarker), true).close()
      val ops: Seq[() => Unit] = Seq(
        () => fs.rename(new Path(base, "data"), new Path(old, "data")),
        () => fs.rename(new Path(staging, "data"), new Path(base, "data")),
        () => fs.rename(new Path(base, "manifest"), new Path(old, "manifest")),
        () => fs.rename(new Path(staging, "manifest"), new Path(base, "manifest")),
        // unwind from a post-step-4 failure (e.g. old-delete error):
        () => fs.rename(new Path(base, "manifest"), new Path(staging, "manifest")),
        () => fs.rename(new Path(old, "manifest"), new Path(base, "manifest")),
        () => fs.rename(new Path(base, "data"), new Path(staging, "data")),
        () => fs.rename(new Path(old, "data"), new Path(base, "data")))
      ops.take(steps).foreach(_.apply())
      base
    }
    // marker=false pairs ONLY with steps=0: the marker is written
    // before promoteStaged ever runs, so marker-less mid-promote
    // states are unreachable under the single-writer contract (and
    // genuinely ambiguous — "both live parts present, different
    // generations" is indistinguishable from a healthy layout)
    for ((marker, steps) <- (false, 0) +: (0 to 8).map((true, _))) {
      val dir = Files.createTempDirectory("graft_env_").toString + "/pub"
      val base = mkState(dir, steps, marker)
      Sinks.recoverPublish(fs, base)
      val label = s"marker=$marker steps=$steps"
      val check = Sinks.verifyShards(spark, dir, "doc_id")
      assert(check.count() == 4 && check.filter(!col("ok")).count() == 0,
        s"$label: recovered layout must verify clean")
      val rows = spark.read.parquet(s"$dir/data").count()
      assert(rows == v1Rows || rows == v2Rows,
        s"$label: recovered data is neither full v1 nor full v2 ($rows)")
      val mRows = spark.read.parquet(s"$dir/manifest")
        .agg(sum("n_rows")).as[Long].head
      assert(mRows == rows, s"$label: manifest ($mRows) disagrees with " +
        s"data ($rows) — mixed generations survived recovery")
      val debris = new java.io.File(dir).listFiles().map(_.getName)
        .filter(n => n.startsWith("_staging_") || n.startsWith("_old_"))
      assert(debris.isEmpty, s"$label: stranded $debris")
    }
  }

  test("verifyShards survives a '.'/'_'-prefixed ancestor in the " +
    "publish path") {
    // the visibility walk must stop at the (qualified) data dir — an
    // underscore ancestor above it must not hide committed files
    val dir = Files.createTempDirectory("graft_vq_").toString + "/_work/pub"
    val docs = graft.Tables(spark, sf).documents
      .select("doc_id", "text", "lang").limit(50)
    Sinks.writeShards(docs, dir, "doc_id", nShards = 2)
    val check = Sinks.verifyShards(spark, dir, "doc_id")
    assert(check.count() == 2 && check.filter(!col("ok")).count() == 0,
      "a healthy publish under an _-prefixed ancestor must verify ok")
  }
}
