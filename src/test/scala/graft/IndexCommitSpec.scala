package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import graft.streaming.IndexCommit

/** Laws of the shared manifest-swap commit device — the one code path
  * all on-disk streaming indexes publish through. The crash-injection
  * tests are the point (r16 verdict #5's done-condition): a kill
  * between the fold write and the stale-dir delete must leave a
  * readable index that does not double-count EVEN UNDER SUM (the
  * stronger-than-existence guarantee the old per-store layouts could
  * not give).
  */
class IndexCommitSpec extends SparkSpec {
  import spark.implicits._

  private val schema = StructType(Seq(
    StructField("k", LongType, nullable = false),
    StructField("v", LongType, nullable = false)))

  private def seg(rows: (Long, Long)*) = rows.toSeq.toDF("k", "v")

  private def tmpRoot() =
    java.nio.file.Files.createTempDirectory("graft_idx").toString + "/idx"

  private def fsOf(root: String) = {
    val p = new org.apache.hadoop.fs.Path(root)
    (p.getFileSystem(spark.sessionState.newHadoopConf()), p)
  }

  private def dirsOf(root: String): Set[String] = {
    val (fs, p) = fsOf(root)
    if (!fs.exists(p)) Set.empty
    else fs.listStatus(p).filter(_.isDirectory).map(_.getPath.getName).toSet
  }

  test("readBefore sees exactly the segments below the batch; empty root reads empty") {
    val root = tmpRoot()
    assert(IndexCommit.readBefore(spark, root, 5L, schema).count() === 0L)
    IndexCommit.commitBatch(seg(1L -> 10L), root, 0L)
    IndexCommit.commitBatch(seg(2L -> 20L), root, 1L)
    IndexCommit.commitBatch(seg(3L -> 30L), root, 2L)
    assert(rowSet(IndexCommit.readBefore(spark, root, 2L, schema)) ===
      Set(Seq(1L, 10L), Seq(2L, 20L)))
    // a batch never reads its own commit (the replay contract)
    assert(rowSet(IndexCommit.readBefore(spark, root, 0L, schema)) === Set.empty)
    assert(rowSet(IndexCommit.readBefore(spark, root, 99L, schema)) ===
      Set(Seq(1L, 10L), Seq(2L, 20L), Seq(3L, 30L)))
  }

  test("replayed commit republishes an identical manifest and duplicates nothing") {
    val root = tmpRoot()
    IndexCommit.commitBatch(seg(1L -> 10L), root, 0L)
    IndexCommit.commitBatch(seg(2L -> 20L), root, 1L)
    val (fs, p) = fsOf(root)
    val before = IndexCommit.readManifest(fs, p)
    IndexCommit.commitBatch(seg(2L -> 20L), root, 1L) // foreachBatch retry
    assert(IndexCommit.readManifest(fs, p) === before)
    val all = IndexCommit.readBefore(spark, root, 99L, schema)
    assert(all.count() === 2L)
    // SUM-safe, not just set-safe
    assert(all.agg(sum("v")).head.getLong(0) === 30L)
  }

  test("fold coalesces settled segments without changing any read, then prunes") {
    val root = tmpRoot()
    (0 to 4).foreach(i => IndexCommit.commitBatch(
      seg(i.toLong -> (i * 10L)), root, i.toLong))
    val before = rowSet(IndexCommit.readBefore(spark, root, 4L, schema))
    IndexCommit.fold(spark, root, 4L, schema, identity)
    assert(rowSet(IndexCommit.readBefore(spark, root, 4L, schema)) === before)
    // the unsettled segment survives alongside the fold; stale segs gone
    assert(dirsOf(root) === Set("fold_3", "seg_4"))
    // a replayed fold at the same batch no-ops (single settled segment)
    IndexCommit.fold(spark, root, 4L, schema, identity)
    assert(dirsOf(root) === Set("fold_3", "seg_4"))
  }

  test("fold releases its cut: a fold adds no entry to getPersistentRDDs") {
    val root = tmpRoot()
    (0 to 3).foreach(i => IndexCommit.commitBatch(
      seg(i.toLong -> 1L), root, i.toLong))
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet.toSet
    IndexCommit.fold(spark, root, 4L, schema, identity)
    val held = sc.getPersistentRDDs.keySet.toSet -- before
    assert(held.isEmpty, s"fold left persisted RDDs: $held")
    // the fold itself landed, and reads through it
    assert(dirsOf(root) === Set("fold_3"))
    assert(IndexCommit.readBefore(spark, root, 99L, schema).count() === 4L)
  }

  test("CRASH between fold write and stale delete: reads stay exactly-once under SUM") {
    val root = tmpRoot()
    (0 to 3).foreach(i => IndexCommit.commitBatch(
      seg(i.toLong -> 1L), root, i.toLong))
    // the kill window: fold segment written AND manifest swapped, but
    // the process dies before any stale dir is deleted
    IndexCommit.foldNoPrune(spark, root, 4L, schema, identity)
    // stale dirs linger on disk...
    assert(dirsOf(root).contains("fold_3"))
    assert((0 to 3).forall(i => dirsOf(root).contains(s"seg_$i")))
    // ...but the manifest hides them: an ADDITIVE reader counts each
    // row exactly once (the old layout duplicated rows in this window
    // and leaned on readers distinct-ing)
    val r = IndexCommit.readBefore(spark, root, 99L, schema)
    assert(r.count() === 4L)
    assert(r.agg(sum("v")).head.getLong(0) === 4L)
    // recovery: the next fold/prune clears the garbage, reads unchanged
    IndexCommit.prune(spark, root)
    assert(dirsOf(root) === Set("fold_3"))
    assert(IndexCommit.readBefore(spark, root, 99L, schema).count() === 4L)
  }

  test("CRASH before the manifest swap: the half-written fold dir is invisible") {
    val root = tmpRoot()
    (0 to 2).foreach(i => IndexCommit.commitBatch(
      seg(i.toLong -> 1L), root, i.toLong))
    val before = rowSet(IndexCommit.readBefore(spark, root, 99L, schema))
    // simulate dying mid-fold: the fold dir lands (half or fully
    // written) but publish never ran — write garbage there directly
    seg(777L -> 777L).write.mode("overwrite").parquet(s"$root/fold_2")
    assert(rowSet(IndexCommit.readBefore(spark, root, 99L, schema)) === before)
    // the next successful fold overwrites the orphan and commits
    IndexCommit.fold(spark, root, 3L, schema, identity)
    assert(rowSet(IndexCommit.readBefore(spark, root, 99L, schema)) === before)
    assert(dirsOf(root) === Set("fold_2"))
  }

  test("cumulative snapshots: latest-below read, replay target retained, older pruned") {
    val root = tmpRoot()
    assert(IndexCommit.readLatestBefore(spark, root, 9L, schema).isEmpty)
    IndexCommit.commitBatch(seg(1L -> 1L), root, 0L, cumulative = true)
    IndexCommit.commitBatch(seg(1L -> 1L, 2L -> 2L), root, 1L, cumulative = true)
    IndexCommit.commitBatch(seg(1L -> 1L, 2L -> 2L, 3L -> 3L), root, 2L,
      cumulative = true)
    // batch 2's replay target (snapshot 1) survives; snapshot 0 pruned
    assert(dirsOf(root) === Set("seg_1", "seg_2"))
    val r = IndexCommit.readLatestBefore(spark, root, 2L, schema).get
    assert(rowSet(r) === Set(Seq(1L, 1L), Seq(2L, 2L)))
    // a replay of batch 2 reads the same prior and recommits identically
    IndexCommit.commitBatch(seg(1L -> 1L, 2L -> 2L, 3L -> 3L), root, 2L,
      cumulative = true)
    assert(dirsOf(root) === Set("seg_1", "seg_2"))
    assert(rowSet(IndexCommit.readLatestBefore(spark, root, 3L, schema).get) ===
      Set(Seq(1L, 1L), Seq(2L, 2L), Seq(3L, 3L)))
  }

  test("requireManifestLayout rejects a legacy batch_id-partitioned store") {
    val root = tmpRoot()
    seg(1L -> 1L).withColumn("batch_id", lit(0L))
      .write.partitionBy("batch_id").parquet(root)
    val (fs, p) = fsOf(root)
    val e = intercept[IllegalArgumentException] {
      IndexCommit.requireManifestLayout(fs, p, "test index")
    }
    assert(e.getMessage.contains("batch_id=0"))
    // a fresh (absent) root passes
    IndexCommit.requireManifestLayout(fs,
      new org.apache.hadoop.fs.Path(tmpRoot()), "new index")
  }
}
