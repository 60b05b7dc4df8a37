package graft.plans

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.hadoop.fs.{FileSystem, Path}

/**
 * Iceberg-style snapshot-tagged table (SURVEY §2.9, §4.2): the batch
 * checkpoint/resume substrate the north rule requires ("all stages
 * checkpoint to snapshot-tagged state so a killed job resumes
 * per-partition with lineage and row-count/byte metrics") — implemented
 * in-project because no Iceberg jar ships in /opt/spark/jars.
 *
 * Layout:
 *   root/data/v{N}/<partKey>=<value>/ part files   (one dir per snapshot)
 *   root/manifests/v{N}.json                     (atomic temp+rename)
 *
 * A manifest records, per partition value: rows, bytes, the snapshot
 * version that wrote it (lineage), and the writer label. Snapshot N's
 * manifest carries the union of all live partitions (parent chain
 * folded), so readers need exactly one manifest. Commits are idempotent:
 * already-committed partition values are dropped from the incoming
 * DataFrame before writing, so a re-run after a crash rewrites nothing
 * and a partial data dir without a manifest is simply invisible.
 *
 * All metadata I/O goes through the Hadoop FileSystem API resolved from
 * the root path's scheme — the same table works on file://, hdfs:// and
 * s3a:// (rename is atomic on HDFS; on object stores the single-manifest
 * rename is the standard Iceberg-ish commit point).
 *
 * Scale: the manifest is O(partitions) JSON — fine for the ~10^4-10^5
 * partitions a 100 TB table would use at this layer (coarse partition
 * values, e.g. ingest shards), and the data path is plain partitioned
 * parquet so all scan pruning stays native.
 */
class SnapshotTable(spark: SparkSession, root: String, partKey: String) {

  final case class PartMeta(rows: Long, bytes: Long, snapshot: Int, writer: String)

  private val rootPath = new Path(root)
  private def fs: FileSystem =
    rootPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
  private def manifestDir = new Path(rootPath, "manifests")
  private def dataDir(v: Int) = new Path(new Path(rootPath, "data"), s"v$v")

  /** Partition dir for `key` under snapshot `v` — built with Spark's own
    * partition-path escaping, so values containing %, /, etc. resolve to
    * the directory the partitioned write actually produced. */
  private def partDirName(key: String): String =
    s"$partKey=" + org.apache.spark.sql.catalyst
      .catalog.ExternalCatalogUtils.escapePathName(key)
  private def partDir(v: Int, key: String): Path =
    new Path(dataDir(v), partDirName(key))

  /** (parquet file count, total bytes) per partition subdir of snapshot
    * `v`, in ONE recursive listing (object stores serve this as a flat
    * LIST) — listing each partition dir separately would be one
    * filesystem RPC per partition, which at the 10^4-10^5-partition
    * design point is hours of serial driver-side listing on s3a://. */
  private def parquetFilesByPart(v: Int): Map[String, (Int, Long)] = {
    val d = dataDir(v)
    val f = fs
    if (!f.exists(d)) return Map.empty
    val it = f.listFiles(d, true)
    val acc = scala.collection.mutable.HashMap.empty[String, (Int, Long)]
    while (it.hasNext) {
      val st = it.next()
      if (st.getPath.getName.endsWith(".parquet")) {
        val part = st.getPath.getParent.getName
        val (c, b) = acc.getOrElse(part, (0, 0L))
        acc(part) = (c + 1, b + st.getLen)
      }
    }
    acc.toMap
  }

  /** Move a fully-written, validated staging dir into place as
    * dataDir(v). The long, expensive phase (the distributed write) never
    * touches shared paths; only this short metadata step does. If
    * dataDir(v) already exists: a PUBLISHED manifest for v means a
    * concurrent committer won the version — fail LOUDLY with its data
    * untouched (the old direct mode("overwrite") write would have
    * silently deleted it); no manifest means the dir is a crashed
    * writer's orphan, which the class contract makes invisible and
    * replaceable ("a partial data dir without a manifest is simply
    * invisible"), so the retry replaces it. A racer still inside its own
    * [rename, publish] window is indistinguishable from an orphan — that
    * residual window is two metadata ops wide (vs the whole write
    * duration before), and the manifest publish guard still fails one of
    * the two writers loudly; true multi-writer ACID needs an atomic CAS
    * this layer does not claim (use real Iceberg there). */
  private def moveIntoPlace(staging: Path, v: Int): Unit = {
    val outDir = dataDir(v)
    if (fs.exists(outDir)) {
      if (fs.exists(new Path(manifestDir, s"v$v.json"))) {
        fs.delete(staging, true)
        throw new java.io.IOException(
          s"snapshot v$v at $root already published by a concurrent committer")
      }
      fs.delete(outDir, true) // documented crash-orphan recovery
    }
    if (!fs.rename(staging, outDir) ||
        !fs.exists(new Path(outDir, "_SUCCESS"))) {
      throw new java.io.IOException(
        s"failed to move staged snapshot into place for v$v at $root")
    }
  }

  def currentVersion: Int = snapshots().lastOption.getOrElse(0)

  /** partition value -> metadata, from the latest manifest. */
  def committed(): Map[String, PartMeta] = committedAt(currentVersion)

  /** partition value -> metadata as of snapshot `version` (each manifest
    * carries the FULL live-partition union at its version, so one read
    * reconstructs any historical state). */
  def committedAt(version: Int): Map[String, PartMeta] = {
    if (version == 0) return Map.empty
    val mf = new Path(manifestDir, s"v$version.json")
    require(fs.exists(mf), s"no snapshot v$version at $root")
    val in = fs.open(mf)
    val json =
      try new String(org.apache.commons.io.IOUtils.toByteArray(in), "UTF-8")
      finally in.close()
    parseManifest(json)
  }

  /** All published snapshot versions, ascending. */
  def snapshots(): Seq[Int] = {
    val f = fs
    if (!f.exists(manifestDir)) return Nil
    f.listStatus(manifestDir).iterator
      .map(_.getPath.getName)
      .collect { case s if s.startsWith("v") && s.endsWith(".json") =>
        s.stripPrefix("v").stripSuffix(".json").toInt }
      .toSeq.sorted
  }

  /**
   * Commit `df` (string-typed partition column `partKey`): drops rows of
   * already-committed partitions, writes the remainder partitioned by
   * `partKey` under a fresh snapshot dir, then atomically publishes
   * manifest v(N+1) = parent ∪ new partitions with per-partition rows +
   * bytes. Returns the set of partition values actually written.
   */
  def commit(df: DataFrame, writer: String): Set[String] =
    commit(df, writer, Set.empty)

  /** `declaredKeys`: partition values this commit COVERS even if the
    * DataFrame holds no rows for them — an empty result for a work unit
    * is still completed work and must publish, or resume would reprocess
    * it forever. */
  def commit(df: DataFrame, writer: String, declaredKeys: Set[String]): Set[String] = {
    // PIN the version this commit builds against (same rule as compact):
    // re-reading currentVersion after committed() would let a commit that
    // interleaves between the two reads vanish from the merged manifest
    // with no version collision for the publish guard to catch.
    val v0 = currentVersion
    val prior = committedAt(v0)
    val fresh =
      if (prior.isEmpty) df
      // keep NULL-keyed rows (isin-negation is null for them — silently
      // dropping rows is never ok); they fail loudly at the require below
      else df.filter(col(partKey).isNull || !col(partKey).isin(prior.keys.toSeq: _*))
    val v = v0 + 1
    // write into a writer-unique STAGING dir, renamed into place after
    // validation: two writers racing on the same version would otherwise
    // both mode("overwrite") the shared dataDir(v), and the loser's write
    // DELETES the winner's already-written files before the manifest
    // guard fires — the published manifest then points at missing data.
    // With staging, the loser fails at the exists/rename step below and
    // its staging dir is removed; the winner's data is never touched.
    val outDir = dataDir(v)
    val staging = new Path(new Path(rootPath, "data"),
      s".staging-v$v-${java.util.UUID.randomUUID().toString.take(8)}")
    // write FIRST, metrics from the WRITTEN snapshot: a pre-write
    // count().collect() would execute the incoming plan twice (the
    // whole batch job re-runs for the second action) and, under any
    // upstream nondeterminism, describe different data than what the
    // write then produced. The read-back count is partition-pruned
    // columnar metadata over the snapshot we just wrote — cheap, and
    // the manifest rows/bytes now describe the committed bytes exactly.
    fresh.write.partitionBy(partKey).mode("overwrite").parquet(staging.toString)
    val wrotePartDirs = fs.exists(staging) && fs.listStatus(staging).iterator
      .exists(s => s.isDirectory && s.getPath.getName.startsWith(s"$partKey="))
    val counted: Map[String, Long] =
      if (!wrotePartDirs) Map.empty
      else spark.read.schema(fresh.schema).parquet(staging.toString)
        .groupBy(partKey).count() // explicit schema: no partition-type
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap // inference
    if (counted.contains(null)) {
      fs.delete(staging, true)
      throw new IllegalArgumentException(
        s"commit to $root: partition column '$partKey' contains NULL " +
          "values — a snapshot partition value must be a real string")
    }
    val counts = counted ++ (declaredKeys -- prior.keySet -- counted.keySet)
      .map(_ -> 0L)
    if (counts.isEmpty) { fs.delete(staging, true); return Set.empty }
    moveIntoPlace(staging, v)
    // byte metrics from the files just written — ONE recursive listing of
    // the snapshot dir, not one RPC per partition
    val bytes = parquetFilesByPart(v)
    val merged = prior ++ counts.map { case (k, n) =>
      k -> PartMeta(n, bytes.getOrElse(partDirName(k), (0, 0L))._2, v, writer)
    }
    publishManifest(v, merged)
    counts.keySet
  }

  /**
   * Small-file COMPACTION (the Iceberg rewrite_data_files analog).
   * Incremental per-shard commits leave each partition as the small
   * files of its writing batch — at 10^5 shards that is the classic
   * small-file problem. Rewrites every partition whose current file
   * count exceeds its byte-derived target (ceil(bytes/maxFileBytes),
   * min 1) into at most that many files under a FRESH snapshot dir and
   * publishes v(N+1) pointing the compacted partitions there. Older
   * data dirs are untouched, so readAt() time travel still reconstructs
   * every prior state (use expireSnapshots to reclaim them); rows and
   * content are unchanged — only layout moves.
   *
   * One Spark job for all candidates: rows are salted into
   * per-partition buckets sized to the target file count (deterministic
   * row-hash salt, same rule as Skew.saltedRepartition), so a single
   * shuffled write emits <= target files per partition — no per-
   * partition driver loop.
   *
   * Returns the partition values rewritten.
   */
  def compact(maxFileBytes: Long = 128L << 20,
              writer: String = "compact"): Set[String] = {
    // pin the version the plan is built against: publish targets v0+1, so
    // a commit racing in between lands on the SAME version and the
    // publishManifest read-back guard fails LOUDLY instead of this
    // compaction silently erasing the concurrent commit from the manifest
    val v0 = currentVersion
    val prior = committedAt(v0)
    // current file count + target per live partition — one recursive
    // listing per DISTINCT live snapshot dir (a handful), not one RPC
    // per partition
    val filesBySnapshot = prior.values.map(_.snapshot).toSet
      .map((sv: Int) => sv -> parquetFilesByPart(sv)).toMap
    val plans = prior.toSeq.flatMap { case (k, m) =>
      if (m.rows == 0) None
      else {
        val nFiles =
          filesBySnapshot(m.snapshot).getOrElse(partDirName(k), (0, 0L))._1
        val target = math.max(1L, (m.bytes + maxFileBytes - 1) / maxFileBytes).toInt
        if (nFiles > target) Some(k -> target) else None
      }
    }.toMap
    if (plans.isEmpty) return Set.empty
    val v = v0 + 1
    val targets = spark.createDataFrame(plans.toSeq).toDF(partKey, "__nf")
    val src = readFrom(prior.filter(p => plans.contains(p._1)))
    val dataCols = src.columns.filter(_ != partKey).map(col)
    val salted = src.join(broadcast(targets), partKey)
      .withColumn("__salt", pmod(xxhash64(dataCols: _*), col("__nf")))
      .repartition(col(partKey), col("__salt"))
      .drop("__nf", "__salt")
    // same staging-then-rename protocol as commit(): never overwrite a
    // shared dataDir(v) a racing writer may already own
    val staging = new Path(new Path(rootPath, "data"),
      s".staging-v$v-${java.util.UUID.randomUUID().toString.take(8)}")
    salted.write.partitionBy(partKey).mode("overwrite")
      .parquet(staging.toString)
    moveIntoPlace(staging, v)
    val bytes = parquetFilesByPart(v)
    val merged = prior ++ plans.keys.map { k =>
      k -> PartMeta(prior(k).rows,
        bytes.getOrElse(partDirName(k), (0, 0L))._2, v, writer)
    }
    publishManifest(v, merged)
    plans.keySet
  }

  /** Snapshot EXPIRATION (the Iceberg expire_snapshots analog): drop all
    * manifests except the newest `keepLast`, then delete every data dir
    * no kept manifest references (compaction and overwritten commits
    * strand old v-dirs that only time travel can see). Time travel to
    * an expired version fails with the usual missing-snapshot error;
    * the live read() is untouched because the newest manifest is always
    * kept. Staging dirs (`.staging-v<v>-*`) of a version at or below the
    * newest published one are deleted too: that version's manifest is
    * taken, so their writer can never publish. Returns the deleted
    * snapshot-dir versions. */
  def expireSnapshots(keepLast: Int = 1): Seq[Int] = {
    require(keepLast >= 1, "must keep at least the newest snapshot")
    val all = snapshots()
    if (all.isEmpty) return Nil
    val kept = all.takeRight(keepLast)
    val referenced = kept.flatMap(v => committedAt(v).values.map(_.snapshot)).toSet
    val f = fs
    all.dropRight(keepLast)
      .foreach(v => f.delete(new Path(manifestDir, s"v$v.json"), false))
    val dataRoot = new Path(rootPath, "data")
    if (!f.exists(dataRoot)) return Nil
    // only dirs AT OR BELOW the newest published version are candidates:
    // a dir above it is an IN-FLIGHT commit/compaction that has written
    // data but not yet published its manifest — sweeping it would let the
    // writer publish a manifest pointing at deleted files. The same rule
    // holds for .staging-v<v>-* dirs: at or below the newest version
    // they are stranded (crashed writer, or a lost publish race), above
    // it they may still be in flight.
    val names = f.listStatus(dataRoot).iterator.map(_.getPath.getName).toSeq
    val Staging = """\.staging-v(\d+)-.*""".r
    names.foreach {
      case n @ Staging(v) if v.toInt <= kept.last => f.delete(new Path(dataRoot, n), true)
      case _ =>
    }
    val deletable = names
      .collect { case s if s.startsWith("v") => s.stripPrefix("v").toInt }
      .filter(v => v <= kept.last && !referenced(v))
      .sorted
    deletable.foreach(v => f.delete(dataDir(v), true))
    deletable
  }

  /** Work not yet committed: anti-join of the key list vs the manifest. */
  def pending(allKeys: Seq[String]): Seq[String] = {
    val done = committed().keySet
    allKeys.filterNot(done)
  }

  /** Read the live table: every committed partition from the snapshot
    * that wrote it (lineage-directed scan). Partitions are grouped per
    * snapshot so each read has a consistent basePath (vN levels are not
    * key=value dirs), then unioned. */
  def read(): DataFrame = readFrom(committed())

  /** Iceberg-style TIME TRAVEL: read the table exactly as it stood at
    * snapshot `version`. Data dirs are immutable once a later snapshot
    * exists (commits only ever add new v-dirs), so the historical scan
    * is the same lineage-directed read over the older manifest. */
  def readAt(version: Int): DataFrame = readFrom(committedAt(version))

  private def readFrom(parts: Map[String, PartMeta]): DataFrame = {
    require(parts.nonEmpty, s"empty snapshot table at $root")
    val live = parts.filter(_._2.rows > 0) // declared-empty parts have no files
    // all-declared-empty is legal table state (every shard committed
    // zero rows) but unreadable — no data file exists to derive a
    // schema from, so the bare reduce below would die with the cryptic
    // "empty.reduce"; fail with the actual contract instead
    require(live.nonEmpty,
      s"snapshot table at $root holds only declared-empty partitions " +
        "(every committed shard had zero rows) — nothing to read")
    live.toSeq.groupBy(_._2.snapshot).toSeq.sortBy(_._1).map { case (v, ps) =>
      spark.read
        .option("basePath", dataDir(v).toString)
        .parquet(ps.map { case (k, _) => partDir(v, k).toString }: _*)
    }.reduce(_.unionByName(_))
  }

  // --------------------------------------------------------------- json

  private def publishManifest(v: Int, parts: Map[String, PartMeta]): Unit = {
    val f = fs
    f.mkdirs(manifestDir)
    def q(s: String) = "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    val body = parts.toSeq.sortBy(_._1).map { case (k, m) =>
      s"${q(k)}: {\"rows\": ${m.rows}, \"bytes\": ${m.bytes}, " +
        s"\"snapshot\": ${m.snapshot}, \"writer\": ${q(m.writer)}}"
    }.mkString("{", ", ", "}")
    val json = s"""{"version": $v, "partitions": $body}"""
    val tmp = new Path(manifestDir, s".v$v.json.tmp")
    val out = f.create(tmp, true)
    try out.write(json.getBytes("UTF-8")) finally out.close()
    val target = new Path(manifestDir, s"v$v.json")
    // POSIX rename REPLACES an existing target (and the read-back below
    // would then compare our own bytes) — refuse up front if a concurrent
    // committer already published this version
    if (f.exists(target))
      throw new java.io.IOException(
        s"manifest v$v at $root already published by a concurrent committer")
    if (!f.rename(tmp, target))
      throw new java.io.IOException(s"manifest publish failed for v$v at $root")
    // read-back guard: HDFS rename-to-existing fails (detected above),
    // but POSIX/local rename silently OVERWRITES — a racing committer
    // publishing the same version would lose this commit's partitions
    // without this check. The manifest is tiny; read it back and fail
    // LOUDLY on a lost race rather than return success for dropped work.
    val in2 = f.open(target)
    val back =
      try new String(org.apache.commons.io.IOUtils.toByteArray(in2), "UTF-8")
      finally in2.close()
    if (back != json)
      throw new java.io.IOException(
        s"manifest v$v at $root was overwritten by a concurrent committer")
  }

  private def parseManifest(json: String): Map[String, PartMeta] = {
    // minimal parser for the exact shape we write
    val entry = """"((?:[^"\\]|\\.)*)":\s*\{"rows":\s*(\d+),\s*"bytes":\s*(\d+),\s*"snapshot":\s*(\d+),\s*"writer":\s*"((?:[^"\\]|\\.)*)"\}""".r
    entry.findAllMatchIn(json).map { m =>
      unescape(m.group(1)) -> PartMeta(m.group(2).toLong, m.group(3).toLong,
        m.group(4).toInt, unescape(m.group(5)))
    }.toMap
  }

  /** Exact inverse of `q`'s escaping in one left-to-right pass: \" and
    * \\ unwrap, \uXXXX (the control-char form q emits) decodes — the
    * old pairwise replace left \uXXXX literal, so a partition key with
    * a control character never matched committed() and its shard was
    * re-done on every resume. */
  private def unescape(s: String): String = {
    val sb = new StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '\\' && i + 1 < s.length) {
        s.charAt(i + 1) match {
          case 'u' if i + 5 < s.length =>
            sb.append(Integer.parseInt(s.substring(i + 2, i + 6), 16).toChar)
            i += 6
          case e => sb.append(e); i += 2
        }
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }
}
