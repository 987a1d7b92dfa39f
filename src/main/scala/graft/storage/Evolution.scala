package graft.storage

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{coalesce, col, lit}
import org.apache.spark.sql.types._

/** Declared schema evolution for managed parquet-dir tables — the
  * contract Iceberg gives for free (its 0.11 schema evolution is what
  * the reference's dynamic dim DDL leans on, reference
  * dim/DimDataToHBase.scala:79-93: schemas drift the first time a dim
  * gains a column) and that a homegrown table format must declare
  * explicitly or lose data the first time it happens.
  *
  * Evolution classes and mechanisms:
  *
  *   - **Add-column** needs no declaration: the generation-swap upsert
  *     merges with `unionByName(allowMissingColumns = true)` (new
  *     column -> null for pre-evolution rows) and append-dir reads use
  *     parquet schema merging, so files written before the column
  *     existed read as null. This mirrors Iceberg exactly (new field
  *     id absent from old files -> null).
  *
  *   - **Rename** is METADATA-ONLY, recorded in a journal beside the
  *     table (the parquet-dir analog of Iceberg's name mapping): no
  *     data file is rewritten. Reads resolve old files' columns
  *     through the journal — a frame that carries only the old name is
  *     renamed; a mixed frame (files from both sides of the rename,
  *     merged by the parquet reader) is collapsed with
  *     `coalesce(new, old)`, which is exact because no single file
  *     ever contains both spellings.
  *
  *   - **Drop** is metadata-only too (Iceberg drop-column semantics):
  *     the journal records the drop and every read door projects the
  *     column away; data files keep the bytes until their next
  *     rewrite. CAVEAT (shared with raw parquet schema-merge, absent
  *     Iceberg's field ids): re-adding a column with a DROPPED name
  *     resurrects the old files' values for old rows — use a fresh
  *     name, or rename-then-drop.
  *
  *   - **Widen** (type promotion, the Iceberg 0.11 set: int->long,
  *     float->double, plus the strictly-safe byte/short integrals and
  *     decimal precision growth at fixed scale) is metadata-only: the
  *     journal records the target type and reads cast narrow files up.
  *     Spark 4's vectorized parquet reader natively up-casts a narrow
  *     file under a wide requested schema (SPARK-40876), so a
  *     generation-swap table needs only the replay cast; an APPEND dir
  *     that mixes narrow and wide files defeats parquet schema
  *     merging (`StructType.merge` rejects int|long), so [[read]]
  *     falls back to a widen-aware footer sweep that builds the
  *     merged schema itself and reads with it explicitly.
  *
  * Journal format: one op per line, tab-separated, ordered — replay
  * order is declaration order (a->b then b->c chains; widen after
  * rename refers to the renamed name):
  * {{{
  *   rename\tfrom\tto
  *   drop\tcol
  *   widen\tcol\t<sql type, e.g. BIGINT>
  * }}}
  *
  * Journal PROMOTE is monotonic, never delete-then-rename (round-10
  * advisory: a crash in that window silently vanished the whole
  * journal, and absence is indistinguishable from never-evolved):
  * each rewrite lands a NEW stamped sibling `<table>_evolution_<stamp>`
  * via tmp+rename, readers pick the highest stamp, and only after the
  * new generation is visible are older generations (and orphaned
  * tmps) swept best-effort. At no instant is zero complete journal
  * files visible once one has ever been promoted. The legacy
  * unstamped `<table>_evolution` name is still read (lowest
  * precedence) and retired by the first new declaration. */
object Evolution {

  sealed trait Op
  final case class Rename(from: String, to: String) extends Op
  final case class Drop(column: String) extends Op
  final case class Widen(column: String, to: DataType) extends Op

  private val JournalSuffix = "_evolution"

  private def fsOf(spark: SparkSession, p: org.apache.hadoop.fs.Path) =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Is `to` a declared-safe widening of `from`? The Iceberg promotion
    * set plus the strictly-information-preserving byte/short chain. */
  private[graft] def widens(from: DataType, to: DataType): Boolean =
    (from, to) match {
      case (f, t) if f == t => false
      case (ByteType, ShortType | IntegerType | LongType) => true
      case (ShortType, IntegerType | LongType)            => true
      case (IntegerType, LongType)                        => true
      case (FloatType, DoubleType)                        => true
      case (f: DecimalType, t: DecimalType) =>
        t.scale == f.scale && t.precision > f.precision
      case _ => false
    }

  /** The live journal file (highest stamp wins; legacy unstamped name
    * has lowest precedence), or None when never evolved. */
  private def liveJournal(fs: org.apache.hadoop.fs.FileSystem,
                          dst: org.apache.hadoop.fs.Path): Option[org.apache.hadoop.fs.Path] = {
    val parent = dst.getParent
    if (!fs.exists(parent)) return None
    val base = dst.getName + JournalSuffix
    val stamped = fs.listStatus(parent).map(_.getPath)
      .filter { p =>
        val n = p.getName
        n.startsWith(base + "_") && !n.startsWith(base + "_tmp_")
      }
      // fixed-width genStamp: lexicographic == numeric; an unparseable
      // name (shouldn't exist) sorts first and so never shadows a real
      // generation
      .sortBy(_.getName)
    stamped.lastOption.orElse {
      val legacy = new org.apache.hadoop.fs.Path(parent, base)
      if (fs.exists(legacy)) Some(legacy) else None
    }
  }

  private def parseType(s: String, jp: org.apache.hadoop.fs.Path,
                        line: String): DataType =
    try DataType.fromDDL(s)
    catch {
      case e: Throwable => throw new java.io.IOException(
        s"corrupt evolution journal $jp: bad type '$s' in line '$line'", e)
    }

  /** Ordered evolution journal of `path` (empty when never evolved). */
  def journal(spark: SparkSession, path: String): Seq[Op] = {
    val dst = new org.apache.hadoop.fs.Path(path)
    val fs = fsOf(spark, dst)
    liveJournal(fs, dst) match {
      case None => Seq.empty
      case Some(jp) =>
        val in = fs.open(jp)
        try {
          scala.io.Source.fromInputStream(in, "UTF-8").getLines()
            .filter(_.nonEmpty).map { line =>
              line.split('\t') match {
                case Array("rename", f, t) => Rename(f, t)
                case Array("drop", c)      => Drop(c)
                case Array("widen", c, t)  => Widen(c, parseType(t, jp, line))
                case other => throw new java.io.IOException(
                  s"corrupt evolution journal $jp: line '${other.mkString("\\t")}'")
              }
            }.toVector
        } finally in.close()
    }
  }

  private def serialize(op: Op): String = op match {
    case Rename(f, t) => s"rename\t$f\t$t"
    case Drop(c)      => s"drop\t$c"
    case Widen(c, t)  => s"widen\t$c\t${t.sql}"
  }

  /** Monotonic journal promote: land the full op list as a NEW stamped
    * generation (tmp + rename — never overwrite, never delete first),
    * then best-effort sweep superseded generations, the legacy
    * unstamped file, and any orphaned `_evolution_tmp_*` debris. A
    * crash at any point leaves at least one complete journal visible. */
  private def promote(spark: SparkSession, path: String, ops: Seq[Op]): Unit = {
    val dst = new org.apache.hadoop.fs.Path(path)
    val fs = fsOf(spark, dst)
    val parent = dst.getParent
    val base = dst.getName + JournalSuffix
    if (!fs.exists(parent)) fs.mkdirs(parent)
    val stamp = graft.sinks.Sinks.genStamp()
    val jp = new org.apache.hadoop.fs.Path(parent, base + "_" + stamp)
    val tmp = new org.apache.hadoop.fs.Path(parent, base + "_tmp_" + stamp)
    val out = fs.create(tmp, true)
    try out.write(ops.map(serialize(_) + "\n").mkString.getBytes("UTF-8"))
    finally out.close()
    if (!fs.rename(tmp, jp))
      throw new java.io.IOException(s"evolution journal promote failed: $tmp -> $jp")
    // new generation visible — sweep is pure hygiene from here on
    try {
      fs.listStatus(parent).map(_.getPath).foreach { p =>
        val n = p.getName
        val superseded = n.startsWith(base + "_") && n != jp.getName &&
          (n.startsWith(base + "_tmp_") || n < jp.getName)
        if (superseded || n == base) fs.delete(p, false)
      }
    } catch { case _: java.io.IOException => /* next promote retries */ }
  }

  /** The resolved field map of the CURRENT schema (live files replayed
    * through the journal), used to validate a new declaration. */
  private def currentFields(spark: SparkSession, path: String): Map[String, DataType] =
    read(spark, path).schema.fields.map(f => f.name -> f.dataType).toMap

  private def requireLive(fs: org.apache.hadoop.fs.FileSystem,
                          dst: org.apache.hadoop.fs.Path, what: String): Unit =
    require(fs.exists(dst),
      s"$what: table $dst does not exist — evolution declarations bind to " +
        "a live table (a journaled typo would silently re-shape whatever " +
        "is later created at this path)")

  private def checkName(n: String): Unit =
    require(!n.contains('\t') && !n.contains('\n'),
      "column names in the evolution journal must not contain tab/newline")

  /** Declare a column rename on `path`'s journal. Validates against the
    * CURRENT resolved schema (live files + existing journal): `from`
    * must resolve, `to` must not collide. Metadata-only — no data I/O;
    * effect is immediate for every read door ([[ParquetDirFormat]]
    * read/readAt/upsert all resolve through the journal). */
  def renameColumn(spark: SparkSession, path: String,
                   from: String, to: String): Unit = {
    require(from != to, s"rename $from -> $to is a no-op")
    checkName(from); checkName(to)
    val dst = new org.apache.hadoop.fs.Path(path)
    requireLive(fsOf(spark, dst), dst, "rename")
    val current = currentFields(spark, path).keySet
    require(current.contains(from),
      s"rename: column '$from' does not resolve in $path (have: ${current.mkString(", ")})")
    require(!current.contains(to),
      s"rename: column '$to' already exists in $path")
    promote(spark, path, journal(spark, path) :+ Rename(from, to))
  }

  /** Declare a column drop on `path`'s journal. Metadata-only: data
    * files keep the bytes until their next rewrite; every read door
    * projects the column away immediately. */
  def dropColumn(spark: SparkSession, path: String, column: String): Unit = {
    checkName(column)
    val dst = new org.apache.hadoop.fs.Path(path)
    requireLive(fsOf(spark, dst), dst, "drop")
    val current = currentFields(spark, path).keySet
    require(current.contains(column),
      s"drop: column '$column' does not resolve in $path (have: ${current.mkString(", ")})")
    promote(spark, path, journal(spark, path) :+ Drop(column))
  }

  /** Declare a type widening on `path`'s journal. Only promotions in
    * [[widens]] are accepted (information-preserving; the Iceberg set).
    * Metadata-only: narrow files cast up on read; the next generation
    * rewrite materializes the wide type. */
  def widenColumn(spark: SparkSession, path: String,
                  column: String, to: DataType): Unit = {
    checkName(column)
    val dst = new org.apache.hadoop.fs.Path(path)
    requireLive(fsOf(spark, dst), dst, "widen")
    val current = currentFields(spark, path)
    require(current.contains(column),
      s"widen: column '$column' does not resolve in $path (have: ${current.keySet.mkString(", ")})")
    val from = current(column)
    require(widens(from, to),
      s"widen: ${from.sql} -> ${to.sql} is not a declared-safe promotion " +
        "(allowed: byte/short/int -> wider integral, float -> double, " +
        "decimal precision growth at fixed scale)")
    promote(spark, path, journal(spark, path) :+ Widen(column, to))
  }

  /** Resolve `df` (raw files of any generation) through the journal:
    * replay each op in order. Rename: old-only frame -> rename; mixed
    * frame -> coalesce into the new name (exact: no file carries both
    * spellings). Drop: project away. Widen: cast up (no-op on a frame
    * already wide). */
  def applyOps(df: DataFrame, ops: Seq[Op]): DataFrame =
    ops.foldLeft(df) { (d, op) =>
      val names = d.schema.fieldNames.toSet
      op match {
        case Rename(from, to) =>
          if (names.contains(from) && names.contains(to))
            d.withColumn(to, coalesce(col(to), col(from))).drop(from)
          else if (names.contains(from)) d.withColumnRenamed(from, to)
          else d
        case Drop(c) =>
          if (names.contains(c)) d.drop(c) else d
        case Widen(c, t) =>
          if (names.contains(c)) d.withColumn(c, col(c).cast(t)) else d
      }
    }

  /** Conform `df` to `target`: add target columns `df` lacks as typed
    * nulls (a generation written before an add-column evolution), drop
    * columns the target no longer carries, project in target order.
    * This is the time-travel contract: an OLD generation reads against
    * the EVOLVED schema — renames/drops/widens resolve via
    * [[applyOps]] first, then the shape conforms here. */
  def conformTo(df: DataFrame, target: StructType): DataFrame = {
    val have = df.schema.fieldNames.toSet
    df.select(target.fields.toIndexedSeq.map { f =>
      if (have.contains(f.name)) col(f.name).cast(f.dataType)
      else lit(null).cast(f.dataType).as(f.name)
    }: _*)
  }

  /** Widen-aware schema union for the footer-sweep fallback: merge
    * per-file schemas, resolving a type conflict by taking the wider
    * side when one [[widens]] to the other (what `StructType.merge`
    * refuses to do), erroring otherwise. Field order: first appearance. */
  private[graft] def mergeWidening(schemas: Seq[StructType]): StructType = {
    val order = scala.collection.mutable.LinkedHashMap.empty[String, DataType]
    schemas.foreach(_.fields.foreach { f =>
      order.get(f.name) match {
        case None => order(f.name) = f.dataType
        case Some(t) if t == f.dataType =>
        case Some(t) if widens(t, f.dataType) => order(f.name) = f.dataType
        case Some(t) if widens(f.dataType, t) =>
        case Some(t) => throw new org.apache.spark.SparkException(
          s"cannot merge column '${f.name}': ${t.sql} vs ${f.dataType.sql} " +
            "is not a declared widening")
      }
    })
    StructType(order.map { case (n, t) => StructField(n, t, nullable = true) }.toSeq)
  }

  /** Leaf parquet data files of `path` (recursive; `_`/`.`-prefixed
    * metadata and hidden dirs skipped — same visibility rule as the
    * parquet reader itself). Driver-side metadata scale. */
  private def leafParquetFiles(fs: org.apache.hadoop.fs.FileSystem,
                               p: org.apache.hadoop.fs.Path): Seq[org.apache.hadoop.fs.Path] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[org.apache.hadoop.fs.Path]
    def walk(d: org.apache.hadoop.fs.Path): Unit =
      fs.listStatus(d).foreach { st =>
        val n = st.getPath.getName
        if (!n.startsWith("_") && !n.startsWith(".")) {
          if (st.isDirectory) walk(st.getPath)
          else if (n.endsWith(".parquet")) out += st.getPath
        }
      }
    walk(p)
    out.toSeq
  }

  /** Journal-resolved read of the live table: parquet schema-merge
    * across generations-within-the-dir (append dirs mix pre/post
    * add-column files), then op replay. The merge pays one parallel
    * footer sweep — metadata-scale, the same price Iceberg pays
    * reading manifests — and only when a journal exists does any
    * projection appear at all.
    *
    * When the dir mixes files across a WIDEN (narrow and wide physical
    * types in one column), parquet schema-merge refuses; the fallback
    * sweeps footers itself, merges widen-aware ([[mergeWidening]]),
    * and reads with the explicit merged schema — Spark 4's parquet
    * reader up-casts narrow files under it natively (SPARK-40876). */
  def read(spark: SparkSession, path: String): DataFrame = {
    val ops = journal(spark, path)
    val raw =
      try spark.read.option("mergeSchema", "true").parquet(path)
      catch {
        case e: org.apache.spark.SparkException
            if ops.exists(_.isInstanceOf[Widen]) &&
              e.getMessage != null && e.getMessage.contains("CANNOT_MERGE") =>
          val dst = new org.apache.hadoop.fs.Path(path)
          val fs = fsOf(spark, dst)
          val perFile = leafParquetFiles(fs, dst)
            .map(f => spark.read.parquet(f.toString).schema)
          spark.read.schema(mergeWidening(perFile)).parquet(path)
      }
    if (ops.isEmpty) raw else applyOps(raw, ops)
  }

  /** Journal-resolved time travel: the retained generation at `stamp`,
    * replayed through the journal and conformed to the live table's
    * evolved schema (absent live table: replayed as-is). */
  def readAt(spark: SparkSession, path: String, stamp: String): DataFrame = {
    val ops = journal(spark, path)
    val old = applyOps(
      graft.sinks.Sinks.readDimAt(spark, path, stamp), ops)
    val dst = new org.apache.hadoop.fs.Path(path)
    if (fsOf(spark, dst).exists(dst)) conformTo(old, read(spark, path).schema)
    else old
  }
}
