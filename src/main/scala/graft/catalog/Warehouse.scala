package graft.catalog

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._
import scala.util.Try

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.exec.{Executor, MetricRef, RollupRef, ShardInfo}
import graft.model.{FieldClass, MetricField, MetricSchema}
import graft.plan.{TimeBuckets, TimeContext}
import graft.sql.Ast

/** Coordinates of a metric inside the warehouse. */
final case class Coords(db: String, namespace: String, metric: String) {
  def path(root: String): String = s"$root/$db/$namespace/$metric"
}

/**
 * Parquet warehouse with natural time sharding.
 *
 * Layout: `<root>/<db>/<namespace>/<metric>/data/shard=<bucket>/…parquet`
 * plus a `meta.json` sidecar holding the metric schema (with field
 * classes), shard interval and retention — the Spark-native analogue of
 * the reference's Location/MetricInfo metadata
 * (`nsdb-core/.../model/Location.scala`, `MetricInfo.scala`).
 *
 * `shard = floor(timestamp / shardInterval)` is a Hive partition column, so
 * time-range queries prune directories exactly like the reference's
 * location filtering — the executor derives shard bounds from the
 * statement's time spans (see [[graft.exec.Executor.filtered]]).
 *
 * Writes are serialized per metric at TWO levels, mirroring the reference's
 * single SchemaCoordinator (`nsdb-cluster/.../SchemaCoordinator.scala`):
 * a JVM-wide monitor (shared across Warehouse instances on the same path,
 * so two engines in one process cannot interleave) plus an OS advisory
 * file lock on `<metric>/.lock`, so two DRIVER PROCESSES appending the
 * same metric serialize their schema-union validation and shard writes
 * cleanly. The file lock blocks until the peer releases; in-JVM overlap
 * (which would throw `OverlappingFileLockException`) is prevented by the
 * shared monitor taken first.
 *
 * Change token: every operation that changes a metric's files or metadata
 * (append/insert, delete, compact and its crash repair, retention
 * eviction, rollup enable/rebuild, initMetric, restore) ends by writing a
 * fresh random UUID into `meta.json` — LAST, after every file of the
 * operation is in place — and `meta.json` itself is replaced by an atomic
 * rename, so a reader sees the old file or the new one, never a truncated
 * one. [[read]] reads `meta.json` on every call and hands back the
 * [[MetricRef]] it resolved last (scan DataFrame with its file index,
 * shard ids and bounds, rollup view) while the token is unchanged, so the
 * serving path pays the data-source resolution and shard listing once per
 * metric state instead of once per query. Writes by this instance, by
 * another instance, or by another driver process all change the token, so
 * the next read re-resolves. The token is random rather than a counter, so
 * a drop + re-create or a restore can never match an old token by chance;
 * a `meta.json` without a token (written before tokens existed) is never
 * cached. An operation that changes nothing (an empty sweep) leaves the
 * token, and so the cached relation, alone; one that throws re-stamps it,
 * since it may have changed files before it failed.
 */
class Warehouse(val spark: SparkSession, val root: String) {

  /** monitor + advisory file lock around every mutating metric op. An op
    * that throws may have changed files before it failed, so it re-stamps
    * the change token: cached relations re-resolve instead of keeping a
    * file index that lists deleted files or misses written ones. */
  private def withWriteLock[A](c: Coords)(body: => A): A =
    Warehouse.monitorFor(Paths.get(c.path(root)).toAbsolutePath.normalize.toString).synchronized {
      Files.createDirectories(Paths.get(c.path(root)))
      val ch = java.nio.channels.FileChannel.open(
        Paths.get(c.path(root), ".lock"),
        java.nio.file.StandardOpenOption.CREATE, java.nio.file.StandardOpenOption.WRITE)
      try {
        val fl = ch.lock()
        try body
        catch { case e: Throwable => Try(stamp(c)); throw e }
        finally fl.release()
      } finally ch.close()
    }

  private def dataPath(c: Coords) = s"${c.path(root)}/data"
  private def metaPath(c: Coords) = s"${c.path(root)}/meta.json"
  private def rollupDir(c: Coords) = s"${c.path(root)}/rollup"
  private def rollupCfgPath(c: Coords) = s"${c.path(root)}/rollup.json"

  // ---- metadata ----------------------------------------------------------

  /** `token` is the change token of the metric's current state (see the
    * class doc); `None` only for metadata written before tokens existed. */
  final case class Meta(schema: MetricSchema, shardIntervalMs: Long, retentionMs: Long,
                        token: Option[String] = None)

  /** Write `m` under a FRESH change token: a temp file in the metric
    * directory renamed over `meta.json`, so concurrent readers never see a
    * truncated file. Every mutating operation calls this (or [[stamp]])
    * last. */
  private def writeMeta(c: Coords, m: Meta): Unit = writeMetaIn(Paths.get(c.path(root)), m)

  private def writeMetaIn(dir: java.nio.file.Path, m: Meta): Unit = {
    val fields = m.schema.orderedNames.map { n =>
      val f = m.schema.fields(n)
      s"""{"name":"${f.name}","type":"${f.dataType.catalogString}","class":"${f.fieldClass.name}"}"""
    }.mkString("[", ",", "]")
    val token = java.util.UUID.randomUUID().toString
    val json = s"""{"shardIntervalMs":${m.shardIntervalMs},"retentionMs":${m.retentionMs},"fields":$fields,"token":"$token"}"""
    Files.createDirectories(dir)
    val tmp = dir.resolve(s".meta.json.$token.tmp")
    try {
      Files.write(tmp, json.getBytes(StandardCharsets.UTF_8))
      Files.move(tmp, dir.resolve("meta.json"), java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    } finally Files.deleteIfExists(tmp)
    ()
  }

  /** Re-stamp the change token after an operation that changed files but
    * not the metadata. Re-reads `meta.json` under the caller's write lock,
    * so a schema union that landed since the caller's own read is kept. */
  private def stamp(c: Coords): Unit = readMeta(c).foreach(writeMeta(c, _))

  /** shard interval + retention for a registered metric — the
    * DescribeMetricResponse.MetricInfo surface (reference
    * `responseCommand.proto:46-49`). */
  def metricInfo(c: Coords): Option[(Long, Long)] =
    readMeta(c).map(m => (m.shardIntervalMs, m.retentionMs))

  private def readMeta(c: Coords): Option[Meta] = readMetaIn(Paths.get(c.path(root)))

  private def readMetaIn(dir: java.nio.file.Path): Option[Meta] =
    Try {
      val json = new String(Files.readAllBytes(dir.resolve("meta.json")), StandardCharsets.UTF_8)
      // minimal hand parser for the fixed shape written above
      val shardMs = """"shardIntervalMs":(\d+)""".r.findFirstMatchIn(json).get.group(1).toLong
      val retMs   = """"retentionMs":(\d+)""".r.findFirstMatchIn(json).get.group(1).toLong
      val fieldRe = """\{"name":"([^"]+)","type":"([^"]+)","class":"([^"]+)"\}""".r
      val fields = fieldRe.findAllMatchIn(json).map { m =>
        val dt = CatalystSqlParser.parseDataType(m.group(2))
        m.group(1) -> MetricField(m.group(1), dt, FieldClass.fromName(m.group(3)))
      }.toMap
      val token = """"token":"([^"]+)"""".r.findFirstMatchIn(json).map(_.group(1))
      Meta(MetricSchema(fields), shardMs, retMs, token)
    }.toOption

  private object CatalystSqlParser {
    def parseDataType(s: String): DataType = s match {
      case "bigint"  => LongType
      case "int"     => IntegerType
      case "double"  => DoubleType
      case "float"   => FloatType
      case "string"  => StringType
      case "boolean" => BooleanType
      case other     => org.apache.spark.sql.types.DataType.fromDDL(other)
    }
  }

  // ---- catalog listing ---------------------------------------------------

  private def subdirs(p: String): Seq[String] = {
    val dir = Paths.get(p)
    if (!Files.isDirectory(dir)) Seq.empty
    else Files.list(dir).iterator.asScala.filter(Files.isDirectory(_)).map(_.getFileName.toString)
      // dot-dirs are warehouse-internal (restore staging), never catalog
      .filterNot(_.startsWith(".")).toSeq.sorted
  }

  def listDatabases: Seq[String]                = subdirs(root)
  def listNamespaces(db: String): Seq[String]   = subdirs(s"$root/$db")
  def listMetrics(db: String, ns: String): Seq[String] =
    subdirs(s"$root/$db/$ns").filter(m => Files.exists(Paths.get(metaPath(Coords(db, ns, m)))))

  def describe(c: Coords): Option[Seq[(String, String, String)]] =
    readMeta(c).map(m => m.schema.orderedNames.map { n =>
      val f = m.schema.fields(n)
      (f.name, f.dataType.catalogString, f.fieldClass.name)
    })

  def exists(c: Coords): Boolean = readMeta(c).isDefined

  // ---- write path --------------------------------------------------------

  val DefaultShardIntervalMs: Long = 86400000L // 1 day

  /**
   * Restore metric trees from a backup of a warehouse root — the
   * reference's Restore surface (`nsdb-rpc/.../restore.proto:32`). The
   * warehouse directory layout IS the backup format (shard parquet +
   * meta.json per metric), so restore is validation + copy: every
   * `db/ns/metric` under `backupRoot` that carries a `meta.json` is
   * copied in under this root. Clash-validated up front: if ANY target
   * metric already exists here, nothing is restored and the clashes are
   * reported — a backup never silently overwrites or merges into live
   * data.
   *
   * ATOMICITY is per metric: each tree stages into a hidden
   * `.restore-tmp` dir under this root (invisible to the catalog — dot
   * dirs never list) and then RENAMES into place, one atomic move per
   * metric, so a metric is either fully present or fully absent — a
   * mid-copy crash leaves no partial metric a query could see. A
   * failure between metrics leaves the earlier ones restored and
   * complete; the error says exactly which, so the caller can resume
   * with the remainder or drop what landed. Returns the restored coords.
   */
  def restore(backupRoot: String): Either[String, Seq[Coords]] = {
    def dirsOf(p: String): Seq[String] = subdirs(p)
    val coords = for {
      db <- dirsOf(backupRoot)
      ns <- dirsOf(s"$backupRoot/$db")
      m  <- dirsOf(s"$backupRoot/$db/$ns")
      if Files.exists(Paths.get(s"$backupRoot/$db/$ns/$m/meta.json"))
    } yield Coords(db, ns, m)
    if (coords.isEmpty) Left(s"no metrics found under backup root $backupRoot")
    else {
      val clashes = coords.filter(exists)
      if (clashes.nonEmpty)
        Left(s"restore refused — metrics already exist: ${clashes.map(_.metric).sorted.mkString(",")}")
      else {
        val tmpBase = Paths.get(root, ".restore-tmp", java.util.UUID.randomUUID().toString)
        val done    = scala.collection.mutable.ArrayBuffer.empty[Coords]
        try {
          coords.foreach { c =>
            val src = Paths.get(s"$backupRoot/${c.db}/${c.namespace}/${c.metric}")
            val tmp = tmpBase.resolve(s"${c.db}__${c.namespace}__${c.metric}")
            val walk = Files.walk(src)
            try
              walk.iterator.asScala
                // the backup may carry a stale advisory .lock — never
                // resurrect it in the restored tree
                .filterNot(_.getFileName.toString == ".lock")
                .foreach { p =>
                  val target = tmp.resolve(src.relativize(p).toString)
                  if (Files.isDirectory(p)) Files.createDirectories(target)
                  else {
                    Files.createDirectories(target.getParent)
                    Files.copy(p, target)
                  }
                }
            finally walk.close() // the walk holds open directory handles
            // a fresh change token: a relation this process cached for an
            // earlier life of the same metric can never match the backup's
            readMetaIn(tmp).foreach(writeMetaIn(tmp, _))
            val dst = Paths.get(c.path(root))
            Files.createDirectories(dst.getParent)
            // serialize vs in-process writers WITHOUT withWriteLock — that
            // would create dst/.lock and defeat the atomic rename; the
            // rename itself refuses an existing dst, so a metric that
            // appeared since the clash check fails loud, never overwrites
            Warehouse.monitorFor(dst.toAbsolutePath.normalize.toString).synchronized {
              try Files.move(tmp, dst, java.nio.file.StandardCopyOption.ATOMIC_MOVE)
              catch {
                case _: java.nio.file.FileAlreadyExistsException |
                    _: java.nio.file.DirectoryNotEmptyException =>
                  throw new IllegalStateException(
                    s"metric ${c.metric} appeared during restore — refusing to overwrite")
              }
            }
            done += c
          }
          Right(coords)
        } catch {
          case e: Throwable =>
            val landed = if (done.isEmpty) "none"
              else done.map(c => s"${c.db}/${c.namespace}/${c.metric}").mkString(",")
            Left(s"restore failed after ${done.size}/${coords.size} metrics " +
              s"(fully restored: $landed; per-metric renames are atomic, nothing partial is " +
              s"visible): ${e.getMessage}")
        } finally {
          // staged leftovers from a failure are catalog-invisible; still,
          // sweep them so the root carries no dead bytes
          if (Files.exists(tmpBase)) {
            val w = Files.walk(tmpBase)
            try w.iterator.asScala.toSeq.sortBy(-_.getNameCount).foreach(Files.deleteIfExists(_))
            finally w.close()
          }
          try Files.deleteIfExists(Paths.get(root, ".restore-tmp")) // if now empty
          catch { case _: java.nio.file.DirectoryNotEmptyException => () } // a peer restore's staging
          ()
        }
      }
    }
  }

  /**
   * Create a metric's metadata AHEAD of any data — the reference's
   * InitMetric surface (`nsdb-rpc/.../init.proto:40`, java-api
   * `NSDB.initMetric`): shard interval and retention are fixed at birth
   * and the first [[append]] unions its derived schema into the empty
   * one (per-write interval arguments are ignored once meta exists, as
   * always). Idempotent when re-initialized with identical settings;
   * conflicting settings reject — an existing metric's sharding cannot
   * be rewritten under its data.
   */
  def initMetric(
      c: Coords,
      shardIntervalMs: Long = DefaultShardIntervalMs,
      retentionMs: Long = 0L
  ): Either[String, Unit] = {
    // validated BEFORE the lock: Left, not throw (the client facades
    // carry failures in result objects), and no empty metric dir + .lock
    // left behind by an invalid call
    if (shardIntervalMs <= 0)
      return Left(s"shardIntervalMs must be positive, got $shardIntervalMs")
    withWriteLock(c) {
      readMeta(c) match {
        case Some(m) if m.shardIntervalMs == shardIntervalMs && m.retentionMs == retentionMs =>
          Right(())
        case Some(m) =>
          Left(s"metric ${c.metric} already exists with shardIntervalMs=${m.shardIntervalMs}, " +
            s"retentionMs=${m.retentionMs}")
        case None =>
          writeMeta(c, Meta(MetricSchema(Map.empty), shardIntervalMs, retentionMs))
          Right(())
      }
    }
  }

  /**
   * Append a batch of records (canonical columns: timestamp, value, dims/
   * tags). Validates schema union against the stored schema — a field
   * present in both must keep its exact type or the write is rejected
   * (reference: `Schema.union`, `Schema.scala:116-129`).
   */
  def append(
      c: Coords,
      df: DataFrame,
      tags: Set[String],
      shardIntervalMs: Long = DefaultShardIntervalMs,
      retentionMs: Long = 0L
  ): Either[String, Long] = withWriteLock(c) {
    val incoming = MetricSchema.fromMapping(df.schema, tags)
    val meta = readMeta(c) match {
      case None           => Right(Meta(incoming, shardIntervalMs, retentionMs))
      case Some(existing) => existing.schema.union(incoming).map(u => existing.copy(schema = u))
    }
    meta.map { m =>
      // the ingested-row count rides the write job as an observed metric —
      // a post-write df.count() would re-run the whole batch plan per ingest
      val obs = org.apache.spark.sql.Observation()
      val sharded = df.observe(obs, count(lit(1)).as("rows"))
        .withColumn("shard", floor(col("timestamp") / lit(m.shardIntervalMs)).cast(LongType))
      // cluster rows by shard before writing: one file per shard per batch
      // instead of one per (task × shard) — the small-files guard that
      // matters most at ingest scale (raise parallelism per shard by
      // salting the repartition key if single shards outgrow a task)
      sharded
        .repartition(col("shard"))
        .write.partitionBy("shard").mode("append").parquet(dataPath(c))
      // write-time rollup maintenance: this batch's stats segment appends
      // to the log (reference: facet update per accumulated batch). The
      // meta goes last — its new token publishes data AND segment — and
      // also when the segment fails, so the written rows' schema lands.
      try rollupStep(c).foreach(step => appendRollupSegment(c, df, step))
      finally writeMeta(c, m)
      // an all-empty batch can run zero tasks → no metric row at all
      obs.get.getOrElse("rows", 0L).asInstanceOf[Long]
    }
  }

  /** Single-record INSERT statement (timestamp defaults to the context now). */
  def insert(stmt: Ast.InsertStatement)(implicit tc: TimeContext): Either[String, Long] = {
    val c  = Coords(stmt.db, stmt.namespace, stmt.metric)
    val ts = stmt.timestamp.getOrElse(tc.currentTime)
    val cols: Seq[(String, Any, DataType, FieldClass)] =
      Seq(("timestamp", ts, LongType, FieldClass.Timestamp: FieldClass),
          ("value", stmt.value, typeOf(stmt.value), FieldClass.Value: FieldClass)) ++
        stmt.dimensions.toSeq.sortBy(_._1).map { case (k, v) => (k, v, typeOf(v), FieldClass.Dimension: FieldClass) } ++
        stmt.tags.toSeq.sortBy(_._1).map { case (k, v) => (k, v, typeOf(v), FieldClass.Tag: FieldClass) }
    val schema = StructType(cols.map { case (n, _, dt, _) => StructField(n, dt) })
    val row    = Row.fromSeq(cols.map(_._2))
    val df     = spark.createDataFrame(java.util.List.of(row), schema)
    append(c, df, tags = cols.collect { case (n, _, _, FieldClass.Tag) => n }.toSet)
  }

  private def typeOf(v: Any): DataType = v match {
    case _: Long   => LongType
    case _: Int    => IntegerType
    case _: Double => DoubleType
    case _         => StringType
  }

  // ---- read path ---------------------------------------------------------

  /** Open a metric for querying; the shard column is exposed to the
    * executor for pruning but hidden from projections. Live time bounds come
    * from the shard directory names (metadata-only — the reference's
    * `[lowerShardBound, upperShardBound]` of live locations).
    *
    * `meta.json` is read on every call; while its change token matches the
    * one the cached [[MetricRef]] was resolved under, that ref is returned
    * as is (see the class doc). */
  def read(c: Coords): Either[String, MetricRef] =
    readMeta(c) match {
      case None =>
        resolved.remove(c)
        Left(s"metric ${c.metric} does not exist")
      case Some(m) =>
        val cached = for {
          t         <- m.token
          (t0, ref) <- Option(resolved.get(c))
          if t0 == t
        } yield ref
        Right(cached.getOrElse {
          val ref = resolve(c, m)
          m.token.fold(resolved.remove(c))(t => resolved.put(c, (t, ref)))
          ref
        })
    }

  /** The last resolved ref per metric, with the change token it was resolved
    * under. A ref resolved while a writer was mid-operation may see files
    * newer than its token — harmless, the writer's token replaces it. */
  private val resolved = new java.util.concurrent.ConcurrentHashMap[Coords, (String, MetricRef)]()

  private def resolve(c: Coords, m: Meta): MetricRef = {
    val schema = m.schema.toStruct.add("shard", LongType)
    // an initialized metric has no data directory until its first insert
    val df =
      if (Files.isDirectory(Paths.get(dataPath(c)))) spark.read.schema(schema).parquet(dataPath(c))
      else spark.createDataFrame(java.util.Collections.emptyList[Row](), schema)
    val shardIds = subdirs(dataPath(c)).filter(_.startsWith("shard=")).map(_.stripPrefix("shard=").toLong)
    val bounds =
      if (shardIds.isEmpty) None
      else Some((shardIds.min * m.shardIntervalMs, (shardIds.max + 1) * m.shardIntervalMs - 1))
    MetricRef(df, m.schema,
      Some(ShardInfo("shard", m.shardIntervalMs, bounds, shardIds, Some(shardRowCount(c, _)))),
      rollup = rollupRef(c))
  }

  /**
   * Metadata-only row count of one shard: the sum of the parquet footers'
   * record counts, read driver-side. No Spark job, no data pages — a
   * footer is a few KB regardless of shard size, which is what lets the
   * executor's O3 narrowing stay free at 100 TB. Guarded against
   * pathological file counts: a shard that [[compact]] has not yet visited
   * can hold tens of thousands of micro-batch files, and footer-walking
   * those serially would stall plan construction — past
   * `maxFooterReadsPerShard` footers the remaining files count as 0. The
   * result is then a LOWER bound, which is the only safe direction: O3
   * keeps pulling in shards until the counted total reaches the limit, so
   * under-counting can only widen the narrowed set (extra shards opened),
   * never drop rows the query needs.
   */
  private def shardRowCount(c: Coords, sid: Long): Long =
    footerRowCount(s"${dataPath(c)}/shard=$sid", Warehouse.maxFooterReadsPerShard)

  /** Sum of the parquet footers' record counts under `dirStr` (driver-side
    * metadata only, at most `cap` footers). A file (or the whole dir) can
    * vanish between listStatus and the footer open while racing compact's
    * rename-aside swap — it counts as 0 (the documented lower bound, which
    * only ever WIDENS O3's narrowed set) instead of failing plan
    * construction with FileNotFoundException. */
  private def footerRowCount(dirStr: String, cap: Int = Int.MaxValue): Long = {
    val conf = spark.sparkContext.hadoopConfiguration
    val dir  = new Path(dirStr)
    val fs   = dir.getFileSystem(conf)
    if (!fs.exists(dir)) return 0L
    try fs.listStatus(dir)
      .filter(f => f.isFile && !f.getPath.getName.startsWith("_") && !f.getPath.getName.startsWith("."))
      .take(cap)
      .map { f =>
        try {
          val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(f, conf)
          val r  = org.apache.parquet.hadoop.ParquetFileReader.open(in)
          try r.getRecordCount finally r.close()
        } catch { case _: java.io.FileNotFoundException => 0L }
      }
      .sum
    catch { case _: java.io.FileNotFoundException => 0L }
  }

  // ---- delete / drop / retention ----------------------------------------

  /**
   * Predicate DELETE via copy-on-write partition rewrite: only shards whose
   * time range intersects the predicate's spans are rewritten; a shard left
   * empty is removed. Mirrors `ParsedDeleteQuery` execution + location
   * eviction.
   */
  def delete(stmt: Ast.DeleteStatement, targetBytes: Long = 128L << 20)(implicit tc: TimeContext): Either[String, Unit] = {
    val c = Coords(stmt.db, stmt.namespace, stmt.metric)
    readMeta(c).toRight(s"metric ${c.metric} does not exist").map { m =>
      withWriteLock(c) {
        val spans    = TimeBuckets.extractSpans(Some(stmt.where), tc)
        val interval = m.shardIntervalMs
        val allShards = subdirs(dataPath(c)).filter(_.startsWith("shard=")).map(_.stripPrefix("shard=").toLong)
        val affected = if (spans.isEmpty) allShards
        else allShards.filter { s =>
          val lo = s * interval; val hi = (s + 1) * interval - 1
          spans.exists(sp => sp.lo <= hi && sp.hi >= lo)
        }
        if (affected.nonEmpty) {
          val pred = Executor.compile(stmt.where, tc)
          val fs   = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
          affected.foreach { s =>
            val shardDir = s"${dataPath(c)}/shard=$s"
            // size the rewrite like compact: ceil(shardBytes / targetBytes)
            // range-partitioned, time-sorted output files — pre-delete bytes
            // are an upper bound on the kept data, so files only get SMALLER
            // than target, never a single-task rewrite of an arbitrarily
            // large shard (the old coalesce(1) shape)
            val bytes = fs.listStatus(new Path(shardDir))
              .filter(f => f.isFile && !f.getPath.getName.startsWith("_") && !f.getPath.getName.startsWith("."))
              .map(_.getLen).sum
            val k = math.max(1, math.ceil(bytes.toDouble / targetBytes).toInt)
            val tmp = s"${c.path(root)}/.tmp_shard_$s"
            spark.read.schema(m.schema.toStruct).parquet(shardDir)
              .filter(!coalesce(pred, lit(false)))
              .repartitionByRange(k, col("timestamp")).sortWithinPartitions("timestamp")
              .write.mode("overwrite").parquet(tmp)
            // kept-row count from the WRITTEN files' parquet footers (driver-
            // side metadata, no data pages) — no count() pass over the kept
            // rows, no cache, and exact even when the rewrite is empty
            val n = footerRowCount(tmp)
            fs.delete(new Path(shardDir), true)
            if (n > 0) fs.rename(new Path(tmp), new Path(shardDir))
            else fs.delete(new Path(tmp), true)
          }
          // deleted rows invalidate the stats segments: rebuild from the
          // surviving data (one aggregation job over the rewritten shards)
          rollupStep(c).foreach(step => rebuildRollupLocked(c, m, step))
          stamp(c)
        }
      }
    }
  }

  /**
   * Shard compaction: rewrite any shard holding more than
   * `maxFilesPerShard` files into `ceil(bytes / targetBytes)` files.
   * Ingest appends one file per shard per micro-batch — without periodic
   * compaction a day-shard fed by a 1 s trigger accumulates ~86k tiny
   * files, and at 100 TB scan-side file listing/opening dominates the
   * query. Copy-on-write under the metric lock, swapped via rename-aside
   * (write tmp → rename live dir to `.old_compact_<sid>` → rename tmp into
   * place → delete the aside copy): every crash point leaves a complete
   * copy of the shard on disk, and [[recoverCompact]] (run on entry)
   * restores a shard whose swap died between the two renames. Concurrent
   * READERS are not excluded by the metric lock (it serializes writers
   * only): a scan racing the swap can transiently hit FileNotFoundException
   * during the two-metadata-op rename window and should simply retry — the
   * same exposure any copy-on-write swap without snapshot isolation has.
   * Returns the compacted shard ids.
   */
  def compact(
      c: Coords,
      maxFilesPerShard: Int = 8,
      targetBytes: Long = 128L << 20
  ): Either[String, Seq[Long]] =
    readMeta(c).toRight(s"metric ${c.metric} does not exist").map { m =>
      withWriteLock(c) {
        val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
        val repaired = recoverCompact(c, fs)
        val compacted = subdirs(dataPath(c)).filter(_.startsWith("shard=")).flatMap { sh =>
          val sid      = sh.stripPrefix("shard=").toLong
          val shardDir = new Path(s"${dataPath(c)}/$sh")
          val files = fs.listStatus(shardDir)
            .filter(f => f.isFile && !f.getPath.getName.startsWith("_") && !f.getPath.getName.startsWith("."))
          if (files.length <= maxFilesPerShard) None
          else {
            val k   = math.max(1, math.ceil(files.map(_.getLen).sum.toDouble / targetBytes).toInt)
            val tmp = new Path(s"${c.path(root)}/.tmp_compact_$sid")
            val old = new Path(s"${c.path(root)}/.old_compact_$sid")
            // range-partition + sort by timestamp on the way out: output
            // files cover disjoint time ranges and every row group gets
            // tight timestamp min/max stats, so time predicates skip whole
            // files/row groups inside the shard (the intra-shard analogue
            // of the reference's time-ordered Lucene index). The shuffle is
            // per-shard and bounded by targetBytes·k — background cost.
            // Compacted (cold) data recompresses as zstd: ingest keeps the
            // cheap default codec for write latency, the background pass
            // buys the better ratio — at 100 TB that difference is scan IO.
            spark.read.schema(m.schema.toStruct).parquet(shardDir.toString)
              .repartitionByRange(k, col("timestamp")).sortWithinPartitions("timestamp")
              .write.mode("overwrite").option("compression", "zstd").parquet(tmp.toString)
            fs.rename(shardDir, old)
            fs.rename(tmp, shardDir)
            fs.delete(old, true)
            Some(sid)
          }
        }
        if (repaired || compacted.nonEmpty) stamp(c)
        compacted
      }
    }

  /**
   * Repair half-finished compaction swaps: a leftover `.old_compact_<sid>`
   * whose `shard=<sid>` is missing means the crash hit between the two
   * renames — restore the aside copy; otherwise the swap completed and
   * only the delete was lost — drop the leftover. Stale `.tmp_compact_*`
   * output (crash during the rewrite) is always safe to delete. Returns
   * whether anything was repaired.
   */
  private def recoverCompact(c: Coords, fs: org.apache.hadoop.fs.FileSystem): Boolean = {
    val base = new Path(c.path(root))
    fs.exists(base) && fs.listStatus(base).count { st =>
      val name = st.getPath.getName
      if (name.startsWith(".old_compact_")) {
        val shardDir = new Path(s"${dataPath(c)}/shard=${name.stripPrefix(".old_compact_")}")
        if (!fs.exists(shardDir)) fs.rename(st.getPath, shardDir)
        else fs.delete(st.getPath, true)
        true
      } else if (name.startsWith(".tmp_compact_")) { fs.delete(st.getPath, true); true }
      else false
    } > 0
  }

  /** DROP METRIC: remove data + catalog entry. */
  def drop(c: Coords): Unit = withWriteLock(c) {
    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new Path(c.path(root)), true)
  }

  /**
   * Retention eviction: drop whole shards entirely older than
   * `now - retention` (reference: `TimeRangeManager.getLocationsToEvict`),
   * then PARTIALLY evict the boundary shard — a shard that straddles the
   * cutoff keeps its live rows and sheds the expired ones via the
   * copy-on-write delete path, mirroring the reference's
   * `partiallyEvictPerform` (a DELETE statement against the boundary
   * location, `MetadataCoordinator.scala:268-311`). Returns the FULLY
   * evicted shard ids.
   */
  // ---- maintained rollups (facet-index analogue) -------------------------

  /**
   * Enable write-time rollup maintenance for a metric: a sufficient-
   * statistics segment log ([[graft.operators.Rollup.buildForServing]]
   * grain, `stepMs` cells) kept current by [[append]] and rebuilt by
   * [[delete]]/eviction — the warehouse face of the reference's facet
   * indexes (`AllFacetIndexes.scala:147-169`: every accumulated batch
   * updates the pre-aggregated structures at write time). [[read]] attaches
   * it, so eligible temporal dialect queries serve from stats without
   * scanning raw shards.
   */
  /**
   * Enable write-maintained rollup stats at `stepMs` grain (optionally
   * keyed). `keepOnEvict = true` turns the rollup into a TIERED-RETENTION
   * record (the RRD/downsampling pattern): retention eviction then deletes
   * raw shards but PRESERVES their rollup cells, so rollup-eligible
   * temporal aggregations keep answering over the evicted span while raw
   * scans age out. With the flag on, retention rounds down to the shard
   * grain (whole shards only — a partial boundary delete would silently
   * desync raw and cells), and an explicit DELETE still rebuilds stats
   * from the remaining raw (dropping the downsampled tier for that
   * metric) — the tier is maintained by the retention sweep, not by
   * manual deletes.
   */
  def enableRollup(c: Coords, stepMs: Long, keys: Seq[String] = Seq.empty,
                   keepOnEvict: Boolean = false): Either[String, Unit] = {
    require(stepMs > 0, "stepMs must be positive")
    readMeta(c).toRight(s"metric ${c.metric} does not exist").map { m =>
      withWriteLock(c) {
        val keyJson = keys.map(k => "\"" + k + "\"").mkString("[", ",", "]")
        Files.write(Paths.get(rollupCfgPath(c)),
          s"""{"stepMs":$stepMs,"keys":$keyJson,"keepOnEvict":$keepOnEvict}"""
            .getBytes(StandardCharsets.UTF_8))
        rebuildRollupLocked(c, m, stepMs)
        stamp(c)
      }
    }
  }

  /** Whether the rollup is a tiered-retention record (see [[enableRollup]]). */
  def rollupKeepOnEvict(c: Coords): Boolean =
    Try {
      val json = new String(Files.readAllBytes(Paths.get(rollupCfgPath(c))), StandardCharsets.UTF_8)
      """"keepOnEvict"\s*:\s*true""".r.findFirstIn(json).isDefined
    }.getOrElse(false)

  /** The configured rollup grain (+ key columns), if enabled. */
  def rollupCfg(c: Coords): Option[(Long, Seq[String])] =
    Try {
      val json = new String(Files.readAllBytes(Paths.get(rollupCfgPath(c))), StandardCharsets.UTF_8)
      """"stepMs"\s*:\s*(\d+)""".r.findFirstMatchIn(json).map { mm =>
        val keys = """"keys"\s*:\s*\[([^\]]*)\]""".r.findFirstMatchIn(json)
          .map(_.group(1).split(",").map(_.trim.stripPrefix("\"").stripSuffix("\"")).filter(_.nonEmpty).toSeq)
          .getOrElse(Seq.empty)
        (mm.group(1).toLong, keys)
      }
    }.toOption.flatten

  /** The configured rollup grain, if rollup maintenance is enabled. */
  def rollupStep(c: Coords): Option[Long] = rollupCfg(c).map(_._1)

  /** Rebuild the segment log from the current data (also the compaction:
    * the log re-collapses to one segment). Crash-safe rename-aside swap. */
  def rebuildRollup(c: Coords): Either[String, Unit] =
    readMeta(c).toRight(s"metric ${c.metric} does not exist").flatMap { m =>
      rollupStep(c).toRight(s"rollup not enabled for ${c.metric}").map { step =>
        withWriteLock(c) { rebuildRollupLocked(c, m, step); stamp(c) }
      }
    }

  private def rebuildRollupLocked(c: Coords, m: Meta, stepMs: Long): Unit = {
    val fs  = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dir = new Path(rollupDir(c))
    if (!fs.exists(new Path(dataPath(c)))) { fs.delete(dir, true); () }
    else {
      val tmp = new Path(rollupDir(c) + ".tmp")
      val df  = spark.read.schema(m.schema.toStruct.add("shard", LongType)).parquet(dataPath(c))
      graft.operators.Rollup
        .buildForServing(df, rollupCfg(c).map(_._2).getOrElse(Seq.empty), "timestamp", "value", stepMs)
        .write.mode("overwrite").parquet(tmp.toString)
      fs.delete(dir, true)
      fs.rename(tmp, dir)
      ()
    }
  }

  /** Append one batch's stats segment (called under [[append]]'s lock). */
  private def appendRollupSegment(c: Coords, batch: DataFrame, stepMs: Long): Unit = {
    graft.operators.Rollup
      .buildForServing(batch, rollupCfg(c).map(_._2).getOrElse(Seq.empty), "timestamp", "value", stepMs)
      .write.mode("append").parquet(rollupDir(c))
    ()
  }

  /** The merged serving view over the segment log, if enabled and built. */
  private def rollupRef(c: Coords): Option[RollupRef] =
    rollupStep(c).filter { _ =>
      val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.exists(new Path(rollupDir(c)))
    }.map { step =>
      RollupRef(graft.operators.Rollup.coalesceStats(spark.read.parquet(rollupDir(c))), step)
    }

  def evictExpired(c: Coords)(implicit tc: TimeContext): Either[String, Seq[Long]] =
    readMeta(c).toRight(s"metric ${c.metric} does not exist").flatMap { m =>
      if (m.retentionMs <= 0) Right(Seq.empty)
      else {
        // tiered retention: with keepOnEvict the rollup is the lasting
        // record for evicted spans — raw shards go, their cells stay.
        // keepTier is read INSIDE the write lock so a concurrent
        // enableRollup toggling keepOnEvict can't race the sweep into
        // rebuilding the rollup after the shards it preserved are gone.
        val (keepTier, evicted) = withWriteLock(c) {
          val keep   = rollupStep(c).isDefined && rollupKeepOnEvict(c)
          val cutoff = tc.currentTime - m.retentionMs
          val fs     = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
          val full = subdirs(dataPath(c))
            .filter(_.startsWith("shard="))
            .map(_.stripPrefix("shard=").toLong)
            .filter(s => (s + 1) * m.shardIntervalMs - 1 < cutoff)
          full.foreach(s => fs.delete(new Path(s"${dataPath(c)}/shard=$s"), true))
          if (full.nonEmpty) {
            if (!keep) rollupStep(c).foreach(step => rebuildRollupLocked(c, m, step))
            stamp(c)
          }
          (keep, full)
        }
        if (keepTier) Right(evicted) // whole-shard grain; boundary shard stays raw
        else {
          val cutoff = tc.currentTime - m.retentionMs
          val straddles = subdirs(dataPath(c))
            .filter(_.startsWith("shard="))
            .map(_.stripPrefix("shard=").toLong)
            .exists(s => s * m.shardIntervalMs < cutoff)
          // partial-eviction failure propagates through the Either channel —
          // a thrown exception here would abort the caller's whole sweep for
          // every remaining metric instead of being reported per-metric
          if (straddles)
            delete(Ast.DeleteStatement(c.db, c.namespace, c.metric,
              Ast.CmpPred("timestamp", Ast.Lt, Ast.AbsValue(cutoff))))
              .left.map(err => s"partial eviction failed: $err")
              .map(_ => evicted)
          else Right(evicted)
        }
      }
    }
}

/**
 * Background retention + compaction sweep — the reference's periodic
 * retention check (`nsdb.retention.check.interval`,
 * `MetadataCoordinator.scala:83-84,198`): every `intervalMs` each
 * warehouse metric is swept — expired shards dropped, the boundary shard
 * partially evicted, small-files shards compacted. One daemon thread;
 * `close()` stops it.
 */
object Maintenance {

  /** Outcome of one sweep: what ran, what it did, what failed. A
    * permanently failing eviction must be VISIBLE — errors are logged per
    * metric and the whole report is queryable ([[lastSweep]], surfaced over
    * the REST command API). */
  final case class SweepReport(atMs: Long, metricsSwept: Int, evictedShards: Int,
                               compactedShards: Int, errors: Seq[String])

  @volatile private var last: Option[SweepReport] = None

  /** the most recent sweep's report (scheduled or manual), if any ran. */
  def lastSweep: Option[SweepReport] = last

  def runOnce(wh: Warehouse)(implicit tc: TimeContext): SweepReport = {
    val errors = Seq.newBuilder[String]
    var swept = 0; var evicted = 0; var compacted = 0
    for {
      db <- wh.listDatabases
      ns <- wh.listNamespaces(db)
      m  <- wh.listMetrics(db, ns)
    } {
      swept += 1
      val c = Coords(db, ns, m)
      // one metric's failure never aborts the sweep for the rest — Lefts
      // (evictExpired propagates partial-eviction failure as Left for
      // exactly this reason) AND thrown IO/corruption surprises are both
      // recorded per metric and reported
      try {
        wh.evictExpired(c).fold(e => errors += s"$db.$ns.$m evict: $e", s => evicted += s.size)
        wh.compact(c).fold(e => errors += s"$db.$ns.$m compact: $e", s => compacted += s.size)
      } catch {
        case scala.util.control.NonFatal(e) => errors += s"$db.$ns.$m sweep: ${e.getMessage}"
      }
    }
    val report = SweepReport(tc.currentTime, swept, evicted, compacted, errors.result())
    report.errors.foreach(e => System.err.println(s"[graft-maintenance] $e"))
    last = Some(report)
    report
  }

  def start(wh: Warehouse, intervalMs: Long = 60000L): AutoCloseable = {
    val ex = java.util.concurrent.Executors.newSingleThreadScheduledExecutor { r =>
      val t = new Thread(r, "graft-maintenance"); t.setDaemon(true); t
    }
    ex.scheduleWithFixedDelay(
      () =>
        try { Maintenance.runOnce(wh)(TimeContext(System.currentTimeMillis())); () }
        catch {
          // a sweep that dies outside the per-metric Either channel (e.g.
          // catalog listing IO) is still logged and reported — never silent
          case scala.util.control.NonFatal(e) =>
            System.err.println(s"[graft-maintenance] sweep failed: ${e.getMessage}")
            last = Some(SweepReport(System.currentTimeMillis(), 0, 0, 0, Seq(s"sweep failed: ${e.getMessage}")))
        },
      intervalMs, intervalMs, java.util.concurrent.TimeUnit.MILLISECONDS)
    () => { ex.shutdownNow(); () }
  }
}

object Warehouse {
  /** Footer-read budget per shard for metadata row counts — bounds O3
    * plan-construction latency on shards compaction hasn't reached yet. */
  val maxFooterReadsPerShard: Int = 64

  /** JVM-wide per-metric-path monitors: two Warehouse instances on the same
    * root share one monitor, so in-process writers serialize BEFORE the
    * cross-process file lock is attempted (same-JVM file-lock overlap would
    * throw instead of blocking). */
  private val monitors = new java.util.concurrent.ConcurrentHashMap[String, Object]()
  private[catalog] def monitorFor(key: String): Object = monitors.computeIfAbsent(key, _ => new Object)
}
