package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.plans.SnapshotTable
import java.nio.file.{Files, Paths}

/** SURVEY §5.2 item 4: kill mid-job, re-run, identical final table and
  * only pending partitions recomputed. */
class SnapshotSpec extends AnyFunSuite {
  implicit lazy val spark: SparkSession = SparkTestSession.spark
  import spark.implicits._

  def freshRoot(): String = {
    val p = Files.createTempDirectory("graft_snap_").toString
    p
  }

  def workload(keys: Seq[String]) =
    keys.flatMap(k => (0 until 10).map(i => (k, i.toLong, s"payload-$k-$i")))
      .toDF("shard", "seq", "payload")

  test("commit + read round-trips with per-partition metrics") {
    val root = freshRoot()
    val t = new SnapshotTable(spark, root, "shard")
    val keys = Seq("a", "b", "c")
    val written = t.commit(workload(keys), writer = "stage1")
    assert(written == keys.toSet)
    val meta = t.committed()
    assert(meta.keySet == keys.toSet)
    meta.values.foreach { m =>
      assert(m.rows == 10)
      assert(m.bytes > 0)
      assert(m.snapshot == 1)
      assert(m.writer == "stage1")
    }
    val back = t.read()
    assert(back.count() == 30)
    assert(back.select("shard").distinct().as[String].collect().toSet == keys.toSet)
  }

  test("time travel: readAt(v) reproduces the table exactly as of snapshot v") {
    val root = freshRoot()
    val t = new SnapshotTable(spark, root, "shard")
    t.commit(workload(Seq("a", "b")), writer = "stage1")
    t.commit(workload(Seq("a", "b", "c", "d")), writer = "stage2") // only c,d fresh
    assert(t.snapshots() == Seq(1, 2))
    val v1 = t.readAt(1).select("shard").distinct().as[String].collect().toSet
    assert(v1 == Set("a", "b"), s"snapshot 1 leaked later data: $v1")
    assert(t.readAt(1).count() == 20)
    // latest == readAt(current) == read()
    val v2 = t.readAt(2).select("shard").distinct().as[String].collect().toSet
    assert(v2 == Set("a", "b", "c", "d"))
    assert(t.readAt(2).count() == t.read().count())
    // lineage preserved across versions: a/b still carry snapshot 1
    val m2 = t.committedAt(2)
    assert(m2("a").snapshot == 1 && m2("c").snapshot == 2)
    val err = intercept[IllegalArgumentException](t.readAt(7))
    assert(err.getMessage.contains("no snapshot"))
  }

  test("killed-job resume: second run commits ONLY pending partitions") {
    val root = freshRoot()
    val t = new SnapshotTable(spark, root, "shard")
    val all = Seq("p0", "p1", "p2", "p3", "p4", "p5")
    // run 1 "crashes" after 2 partitions
    t.commit(workload(all.take(2)), writer = "run1")
    assert(t.currentVersion == 1)
    // run 2: derive pending from the manifest, process only those
    val todo = t.pending(all)
    assert(todo == all.drop(2))
    val written2 = t.commit(workload(all), writer = "run2") // idempotent dedupe
    assert(written2 == all.drop(2).toSet, "already-committed shards must be skipped")
    // final table identical to a single-shot run
    val got = t.read().select("shard", "seq", "payload")
      .as[(String, Long, String)].collect().toSet
    val want = workload(all).as[(String, Long, String)].collect().toSet
    assert(got == want)
    // lineage: first two shards from snapshot 1, rest from snapshot 2
    val meta = t.committed()
    assert(meta("p0").snapshot == 1 && meta("p0").writer == "run1")
    assert(meta("p5").snapshot == 2 && meta("p5").writer == "run2")
  }

  test("re-commit of a fully-committed dataset is a no-op") {
    val root = freshRoot()
    val t = new SnapshotTable(spark, root, "shard")
    t.commit(workload(Seq("x", "y")), writer = "w")
    val v = t.currentVersion
    val written = t.commit(workload(Seq("x", "y")), writer = "w2")
    assert(written.isEmpty)
    assert(t.currentVersion == v) // no new manifest published
    assert(t.read().count() == 20)
  }

  test("orphan data without a manifest is invisible (atomic publish)") {
    val root = freshRoot()
    val t = new SnapshotTable(spark, root, "shard")
    t.commit(workload(Seq("a")), writer = "w")
    // simulate crash AFTER data write, BEFORE manifest publish of v2
    workload(Seq("zz")).write.partitionBy("shard")
      .parquet(Paths.get(root, "data", "v2").toString)
    assert(t.committed().keySet == Set("a"))
    assert(t.read().count() == 10)
    // the resume path re-commits zz properly (as v2's manifest was never
    // published, version 2 dir is orphaned; new commit goes to v2... no:
    // currentVersion reads manifests only, so next commit targets v2 and
    // overwrites the orphan -- exactly the idempotent-rerun behavior)
    val w = t.commit(workload(Seq("zz")), writer = "retry")
    assert(w == Set("zz"))
    assert(t.read().count() == 20)
  }

  private def partFiles(root: String, v: Int, key: String): Int = {
    val d = Paths.get(root, "data", s"v$v", s"shard=$key").toFile
    val fs = d.listFiles(); if (fs == null) 0
    else fs.count(_.getName.endsWith(".parquet"))
  }

  test("compact rewrites small files, preserves content + time travel") {
    val root = freshRoot()
    val t = new SnapshotTable(spark, root, "shard")
    // force many small files per partition: 4-way repartition pre-write
    t.commit(workload(Seq("a", "b")).repartition(4), writer = "w1")
    t.commit(workload(Seq("a", "b", "c")).repartition(4), writer = "w2")
    assert(partFiles(root, 1, "a") > 1, "fixture must start fragmented")
    val before = t.read().select("shard", "seq", "payload")
      .as[(String, Long, String)].collect().toSet
    val v1 = t.readAt(1).count()

    val rewritten = t.compact(maxFileBytes = 128L << 20, writer = "compactor")
    assert(rewritten == Set("a", "b", "c"))
    val v = t.currentVersion
    // tiny partitions -> byte-derived target of exactly ONE file each
    Seq("a", "b", "c").foreach(k => assert(partFiles(root, v, k) == 1, k))
    // content identical, rows metric preserved, lineage points at compactor
    assert(t.read().select("shard", "seq", "payload")
      .as[(String, Long, String)].collect().toSet == before)
    val m = t.committed()
    assert(m.values.forall(p => p.rows == 10 && p.snapshot == v
      && p.writer == "compactor"))
    // data dirs are immutable: time travel to the fragmented state works
    assert(t.readAt(1).count() == v1)
    // already-compacted table: second pass is a no-op, no new snapshot
    assert(t.compact(writer = "again").isEmpty)
    assert(t.currentVersion == v)
  }

  test("partition values Spark escapes in dir names round-trip (%, space, /)") {
    val root = freshRoot()
    val t = new SnapshotTable(spark, root, "shard")
    val weird = Seq("a%b", "with space", "sl/ash", "eq=colon:")
    t.commit(workload(weird).repartition(4), writer = "w1")
    val meta = t.committed()
    assert(meta.keySet == weird.toSet)
    meta.values.foreach(m => assert(m.rows == 10 && m.bytes > 0,
      "escaped partition dir not found -> bytes metric silently zero"))
    assert(t.read().count() == 40)
    // compact must list/rewrite the ESCAPED dirs without crashing
    assert(t.compact(writer = "c") == weird.toSet)
    assert(t.read().select("shard", "seq", "payload")
      .as[(String, Long, String)].collect().toSet ==
      workload(weird).as[(String, Long, String)].collect().toSet)
    assert(t.committed().values.forall(_.bytes > 0))
  }

  test("control characters in a partition key round-trip the manifest") {
    // the manifest writes control chars as \uXXXX; committed() must
    // decode them back or the shard re-runs on every resume
    val root = freshRoot()
    val t = new SnapshotTable(spark, root, "shard")
    val keys = Seq("tab\there", "nl\nthere", "quote\"back\\slash")
    t.commit(workload(keys), writer = "w1")
    assert(t.committed().keySet == keys.toSet)
    // idempotence: a re-commit of the same keys writes nothing
    assert(t.commit(workload(keys), writer = "w2").isEmpty)
  }

  test("expireSnapshots reclaims unreferenced data dirs, keeps the live read") {
    val root = freshRoot()
    val t = new SnapshotTable(spark, root, "shard")
    t.commit(workload(Seq("a", "b")).repartition(4), writer = "w1")
    t.commit(workload(Seq("a", "b", "c")).repartition(4), writer = "w2")
    t.compact(writer = "compactor")
    val before = t.read().select("shard", "seq", "payload")
      .as[(String, Long, String)].collect().toSet
    // v1/v2 data is now referenced by no partition of the kept manifest
    val deleted = t.expireSnapshots(keepLast = 1)
    assert(deleted == Seq(1, 2))
    assert(!Paths.get(root, "data", "v1").toFile.exists)
    assert(t.snapshots() == Seq(3))
    assert(t.read().select("shard", "seq", "payload")
      .as[(String, Long, String)].collect().toSet == before)
    // expired versions are gone for time travel, with the clear error
    val err = intercept[IllegalArgumentException](t.readAt(1))
    assert(err.getMessage.contains("no snapshot"))
    // an IN-FLIGHT writer's dir (data written, manifest not yet
    // published, version ABOVE the newest manifest) must survive expiry
    workload(Seq("zz")).write.partitionBy("shard")
      .parquet(Paths.get(root, "data", "v4").toString)
    assert(t.expireSnapshots(keepLast = 1).isEmpty)
    assert(Paths.get(root, "data", "v4").toFile.exists,
      "expire swept an unpublished in-flight snapshot dir")
    // keeping a manifest whose partitions span older dirs KEEPS those dirs
    val root2 = freshRoot()
    val t2 = new SnapshotTable(spark, root2, "shard")
    t2.commit(workload(Seq("a")), writer = "w1")
    t2.commit(workload(Seq("b")), writer = "w2")
    assert(t2.expireSnapshots(keepLast = 1).isEmpty,
      "v2's manifest still references v1's data -> nothing deletable")
    assert(t2.read().count() == 20)
  }

  test("expireSnapshots reclaims stranded staging dirs, keeps in-flight ones") {
    val root = freshRoot()
    val t = new SnapshotTable(spark, root, "shard")
    t.commit(workload(Seq("a")), writer = "w1")
    t.commit(workload(Seq("b")), writer = "w2")
    // a writer that staged v2 lost the publish race (or crashed): v2's
    // manifest exists, so it can never publish; a v3 stager is in flight
    val stranded = Paths.get(root, "data", ".staging-v2-deadbeef")
    val inFlight = Paths.get(root, "data", ".staging-v3-cafef00d")
    Seq(stranded, inFlight).foreach { d =>
      Files.createDirectories(d)
      Files.writeString(d.resolve("part-0.parquet"), "staged")
    }
    assert(t.expireSnapshots(keepLast = 1).isEmpty) // no v-dir deletable
    assert(!Files.exists(stranded), "stranded staging dir not reclaimed")
    assert(Files.exists(inFlight.resolve("part-0.parquet")),
      "expire swept an in-flight staging dir")
    assert(t.read().count() == 20)
  }

  test("SnapshotTable resolves the Hadoop FS from an explicit file:/ scheme") {
    import graft.plans.SnapshotTable
    val root = "file://" + java.nio.file.Files
      .createTempDirectory("graft_fs_").toString + "/t"
    val table = new SnapshotTable(spark, root, "shard")
    val df = spark.range(10).selectExpr("id", "cast(id % 2 as string) as shard")
    assert(table.commit(df, "w1") == Set("0", "1"))
    assert(table.read().count() == 10)
    assert(table.committed()("0").rows == 5)
    assert(table.commit(df, "w2").isEmpty) // idempotent re-commit
  }

  test("NULL partition values fail loudly before anything is published") {
    val root = freshRoot()
    val t = new SnapshotTable(spark, root, "shard")
    val df = Seq(("a", 1L, "x"), (null.asInstanceOf[String], 2L, "y"))
      .toDF("shard", "seq", "payload")
    val ex = intercept[IllegalArgumentException] { t.commit(df, "w") }
    assert(ex.getMessage.contains("NULL"))
    assert(t.snapshots().isEmpty, "a failed commit must publish nothing")
    // the staging dir is cleaned up too
    val dataDir = Paths.get(root, "data").toFile
    assert(!dataDir.exists || dataDir.listFiles.forall(
      f => !f.getName.startsWith(".staging")))
    // and with a PRIOR commit, a null-keyed row must still fail loudly
    // (the isin-negation filter would otherwise silently drop it)
    t.commit(workload(Seq("a")), "w1")
    val ex2 = intercept[IllegalArgumentException] { t.commit(df, "w2") }
    assert(ex2.getMessage.contains("NULL"))
  }

  test("all-declared-empty table reads fail with the contract, not empty.reduce") {
    val root = freshRoot()
    val t = new SnapshotTable(spark, root, "shard")
    val empty = workload(Seq("a")).where(lit(false))
    val written = t.commit(empty, "w", declaredKeys = Set("a", "b"))
    assert(written == Set("a", "b")) // completed (empty) work publishes
    assert(t.committed().values.forall(_.rows == 0))
    val ex = intercept[IllegalArgumentException] { t.read() }
    assert(ex.getMessage.contains("declared-empty"))
  }

  test("staged commits replace crash orphans and leave no staging litter") {
    val root = freshRoot()
    val t = new SnapshotTable(spark, root, "shard")
    t.commit(workload(Seq("a")), "w1")
    // a crashed writer's orphan (data, no manifest) is replaced by the
    // retry — the documented recovery contract, now via the staging
    // rename instead of a shared-dir overwrite
    val v2 = Paths.get(root, "data", "v2")
    Files.createDirectories(v2)
    Files.writeString(v2.resolve("sentinel"), "crashed-writer")
    val w = t.commit(workload(Seq("b")), "w2")
    assert(w == Set("b"))
    assert(!Files.exists(v2.resolve("sentinel")), "orphan not replaced")
    assert(Files.exists(v2.resolve("_SUCCESS")), "staged move incomplete")
    assert(t.read().count() == 20)
    // no .staging-* dirs survive any commit/compact path
    t.compact(maxFileBytes = 1L) // force a rewrite pass too
    assert(Paths.get(root, "data").toFile.listFiles.forall(
      f => !f.getName.startsWith(".staging")), "staging dir leaked")
  }
}
