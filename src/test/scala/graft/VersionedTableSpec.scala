package graft

import graft.sinks.VersionedTable

class VersionedTableSpec extends SparkSpec {
  import spark.implicits._

  test("commits are immutable pinned versions; diff explains row-level change") {
    val root = java.nio.file.Files.createTempDirectory("graft_vt").toString + "/table"

    val v1data = Seq((1L, "a", 10L), (2L, "b", 20L), (3L, "c", 30L))
    val v1 = VersionedTable.commit(v1data.toDF("id", "name", "score"), root)
    assert(v1 === 0L)
    assert(VersionedTable.versions(spark, root) === Seq(0L))

    // v2: update id=2, remove id=3, add id=4
    val v2data = Seq((1L, "a", 10L), (2L, "b", 25L), (4L, "d", 40L))
    val v2 = VersionedTable.commit(v2data.toDF("id", "name", "score"), root)
    assert(v2 === 1L)
    assert(VersionedTable.latestVersion(spark, root) === Some(1L))

    // pinned read of v1 is unchanged by the later commit
    val v1read = VersionedTable.read(spark, root, Some(0L))
      .as[(Long, String, Long)].collect().toSet
    assert(v1read === v1data.toSet)
    // default read is the latest
    val latest = VersionedTable.read(spark, root)
      .as[(Long, String, Long)].collect().toSet
    assert(latest === v2data.toSet)

    val changes = VersionedTable.diff(spark, root, from = 0L, to = 1L, keyCols = Seq("id"))
      .as[(Long, String)].collect().toMap
    assert(changes === Map(2L -> "updated", 3L -> "removed", 4L -> "added"))

    // identical content commits cleanly as a new version and diffs empty
    val v3 = VersionedTable.commit(v2data.toDF("id", "name", "score"), root)
    assert(v3 === 2L)
    assert(VersionedTable.diff(spark, root, 1L, 2L, Seq("id")).count() === 0L)
  }

  test("frozen commits v0 once, never rebuilds, and serves v0 after a later commit") {
    val root = java.nio.file.Files.createTempDirectory("graft_vt_frozen").toString + "/state"
    val v0 = Seq((1L, "a"), (2L, "b"))
    var builds = 0
    def state() = VersionedTable.frozen(spark, root) { builds += 1; v0.toDF("id", "s") }
    // An empty root commits the build as v0.
    assert(state().as[(Long, String)].collect().toSet === v0.toSet)
    assert(VersionedTable.versions(spark, root) === Seq(0L))
    // Once a version exists, the build is not evaluated.
    assert(state().as[(Long, String)].collect().toSet === v0.toSet)
    assert(builds === 1)
    // A later commit to the same root is never served.
    VersionedTable.commit(Seq((3L, "c")).toDF("id", "s"), root)
    assert(state().as[(Long, String)].collect().toSet === v0.toSet)
    assert(builds === 1)
  }

  test("readAll unions every version in one partition-discovered scan; upTo pins a snapshot") {
    val root = java.nio.file.Files.createTempDirectory("graft_vt_ra").toString + "/table"
    val a = Seq((1L, 10L), (2L, 20L))
    val b = Seq((3L, 30L))
    val c = Seq((4L, 40L))
    VersionedTable.commit(a.toDF("id", "x"), root)
    VersionedTable.commit(b.toDF("id", "x"), root)
    VersionedTable.commit(c.toDF("id", "x"), root)

    val all = VersionedTable.readAll(spark, root)
    assert(all.columns.toSeq === Seq("id", "x")) // partition col dropped
    assert(all.as[(Long, Long)].collect().toSet === (a ++ b ++ c).toSet)
    // snapshot read ignores the later delta
    val snap = VersionedTable.readAll(spark, root, upTo = Some(1L))
    assert(snap.as[(Long, Long)].collect().toSet === (a ++ b).toSet)
    // version pruning is a PartitionFilter on the single relation, not
    // a per-version plan union
    snap.count()
    val p = snap.queryExecution.executedPlan.toString
    assert(p.contains("PartitionFilters") && p.contains("v#"),
      s"expected partition pruning on v:\n${p.take(600)}")
    assert(!p.contains("Union"), s"expected one scan, not unions:\n${p.take(600)}")

    intercept[IllegalArgumentException] {
      VersionedTable.readAll(spark, root + "_missing")
    }
  }

  test("foldHistory bounds the ledger, reads stay equivalent, a crashed fold resumes") {
    val root = java.nio.file.Files.createTempDirectory("graft_vt_fold").toString + "/table"
    VersionedTable.commit(Seq((1L, 10L), (2L, 20L)).toDF("id", "x"), root)
    VersionedTable.commit(Seq((3L, 30L)).toDF("id", "x"), root)
    VersionedTable.commit(Seq((4L, 40L)).toDF("id", "x"), root)
    val before = VersionedTable.readAll(spark, root)
      .as[(Long, Long)].collect().toSet

    def dataFiles(v: Long) =
      new java.io.File(s"$root/v=$v").listFiles()
        .count(f => f.isFile && f.getName.endsWith(".parquet"))
    val filesBefore = VersionedTable.versions(spark, root).map(dataFiles).sum

    val folded = VersionedTable.foldHistory(spark, root)
    assert(folded === 3L)
    assert(VersionedTable.versions(spark, root) === Seq(3L))
    assert(VersionedTable.readAll(spark, root)
      .as[(Long, Long)].collect().toSet === before)
    // Compact-on-fold: the tiny folded union (far below targetBytes)
    // lands as ONE file, not one per original commit's partitions.
    assert(filesBefore > 1)
    assert(dataFiles(3L) === 1)
    // the folded version is an ordinary pinned-readable version
    assert(VersionedTable.read(spark, root, Some(3L))
      .as[(Long, Long)].collect().toSet === before)
    // folding a single version is a no-op
    assert(VersionedTable.foldHistory(spark, root) === 3L)
    assert(VersionedTable.versions(spark, root) === Seq(3L))

    // Crash simulation: a new delta lands, then a fold dies after its
    // folded version (data + marker, atomic) renamed into place but
    // before the replaced versions were deleted.
    VersionedTable.commit(Seq((5L, 50L)).toDF("id", "x"), root) // v4
    val want = VersionedTable.readAll(spark, root)
      .as[(Long, Long)].collect().toSet
    VersionedTable.commit(VersionedTable.readAll(spark, root), root) // v5 = union
    assert(new java.io.File(s"$root/v=5/_folded_upto_4").createNewFile())
    // over-counting state is real (every row now appears twice) ...
    assert(VersionedTable.readAll(spark, root).count() === 2L * want.size)
    // ... and recovery completes the fold
    VersionedTable.recoverFold(spark, root)
    assert(VersionedTable.versions(spark, root) === Seq(5L))
    assert(VersionedTable.readAll(spark, root)
      .as[(Long, Long)].collect().toSet === want)
  }

  test("rename race: nesting under a concurrent winner is detected and recovered") {
    import org.apache.hadoop.fs.Path
    val root = java.nio.file.Files.createTempDirectory("graft_vt_race").toString
    val f = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val staging = new Path(root, ".staging-racer")
    val target = new Path(root, "v=0")
    f.mkdirs(staging)
    f.create(new Path(staging, "part-0.parquet")).close()
    f.mkdirs(target)
    f.create(new Path(target, "winner.parquet")).close()

    // Document the hazard itself: Hadoop rename into an existing dir NESTS.
    assert(f.rename(staging, target))
    assert(f.exists(new Path(target, ".staging-racer/part-0.parquet")))

    // recoverIfNested pulls the loser's staging back out intact
    assert(VersionedTable.recoverIfNested(f, staging, target))
    assert(f.exists(new Path(staging, "part-0.parquet")))
    assert(!f.exists(new Path(target, ".staging-racer")))
    assert(f.exists(new Path(target, "winner.parquet")))

    // Guarded rename: pre-existing target is a lost race, not a nest
    assert(VersionedTable.renameNoNest(f, staging, target) === VersionedTable.LostRace)
    assert(f.exists(new Path(staging, "part-0.parquet")))

    // Free target: clean rename
    val target1 = new Path(root, "v=1")
    assert(VersionedTable.renameNoNest(f, staging, target1) === VersionedTable.Renamed)
    assert(f.exists(new Path(target1, "part-0.parquet")))
  }

  test("permanent rename failure (vanished staging) fails fast, not as a lost race") {
    import org.apache.hadoop.fs.Path
    val root = java.nio.file.Files.createTempDirectory("graft_vt_fail").toString
    val f = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    // staging never created (e.g. swept by an external cleaner): the rename
    // can never succeed, and no amount of retrying onto new ids helps
    val staging = new Path(root, ".staging-gone")
    val target = new Path(root, "v=0")
    assert(VersionedTable.renameNoNest(f, staging, target) === VersionedTable.RenameFailed)
  }

  test("diff distinguishes which column is null; null-only moves are updates") {
    val root = java.nio.file.Files.createTempDirectory("graft_vt_null").toString + "/t"
    val v1 = Seq((1L, Option("x"), Option.empty[String]), (2L, Option("y"), Option("z")))
    VersionedTable.commit(v1.toDF("id", "a", "b"), root)
    // id=1 swaps which column holds the null; id=2 unchanged
    val v2 = Seq((1L, Option.empty[String], Option("x")), (2L, Option("y"), Option("z")))
    VersionedTable.commit(v2.toDF("id", "a", "b"), root)
    val changes = VersionedTable.diff(spark, root, 0L, 1L, Seq("id"))
      .as[(Long, String)].collect().toMap
    assert(changes === Map(1L -> "updated"))
  }

  test("read with no versions fails loudly; empty root lists no versions") {
    val root = java.nio.file.Files.createTempDirectory("graft_vt_empty").toString + "/t"
    assert(VersionedTable.versions(spark, root).isEmpty)
    intercept[IllegalArgumentException] {
      VersionedTable.read(spark, root)
    }
  }
}
