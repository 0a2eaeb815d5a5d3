package graft.sinks

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Snapshot-versioned parquet table — the reproducibility primitive a
  * training-data lake needs and plain directories don't give: every
  * `commit` lands an immutable new version, any past version stays
  * byte-stable and readable forever ("the corpus model X trained on"),
  * and `diff` explains what changed between two versions at row-key
  * granularity.
  *
  * Layout: `root/v=N/` per version (plain parquet — every reader in
  * the ecosystem can consume a pinned version without this library).
  * Commits write to a staging directory and RENAME into place; rename
  * is atomic on HDFS-like stores, so readers never observe a partial
  * version, and a lost commit race surfaces as a retry onto the next
  * version number rather than silent overwrite (object stores without
  * atomic rename need their usual rename-committer arrangement —
  * cited as the same caveat Spark's own output committers carry).
  *
  * [[frozen]] is the build-once form: commit v0 if the root is
  * empty, then always serve v0.
  *
  * Scale shape: `read(version)` is an ordinary pruned parquet scan of
  * one version directory; `latestVersion` is a LISTING of version
  * directories (one RPC per commit ever made — compact rarely-read
  * history with [[Compactor]] if listings grow); `diff` is one full
  * outer join keyed on the row key between exactly two versions, never
  * a scan of intermediate history.
  */
object VersionedTable {

  private val VersionDir = "^v=(\\d+)$".r

  private def fs(spark: SparkSession, root: String) =
    new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** All committed version ids at `root`, ascending. */
  def versions(spark: SparkSession, root: String): Seq[Long] = {
    val f = fs(spark, root)
    val p = new Path(root)
    if (!f.exists(p)) Seq.empty
    else f.listStatus(p).toSeq
      .filter(_.isDirectory)
      .flatMap(s => s.getPath.getName match {
        case VersionDir(n) => Some(n.toLong)
        case _ => None
      })
      .sorted
  }

  def latestVersion(spark: SparkSession, root: String): Option[Long] =
    versions(spark, root).lastOption

  /** Commit `df` as the next version; returns the new version id.
    * Staging + atomic rename: a concurrent committer loses the rename
    * and retries onto the next id — versions are never overwritten.
    *
    * Race subtlety: Hadoop `FileSystem.rename` into an EXISTING
    * directory moves the source UNDER it, so a committer that loses
    * the exists-check race would otherwise "succeed" by nesting its
    * staging dir inside the winner's version (invisible to parquet
    * readers — dot-prefixed — i.e. silent data loss). After every
    * successful rename we verify the staging dir did not land nested;
    * if it did, we pull it back out and retry onto the next id. A
    * rename that fails with NO contention (missing parent, permissions)
    * is a permanent FS error and fails fast instead of burning
    * retries. */
  private[graft] sealed trait RenameOutcome
  private[graft] case object Renamed extends RenameOutcome
  private[graft] case object LostRace extends RenameOutcome
  private[graft] case object RenameFailed extends RenameOutcome

  /** True iff `staging` ended up nested under `target` (the signature
    * of a rename that raced with a concurrent winner); recovers it
    * back to its original location before returning. */
  private[graft] def recoverIfNested(f: org.apache.hadoop.fs.FileSystem,
                                     staging: Path, target: Path): Boolean = {
    val nested = new Path(target, staging.getName)
    if (!f.exists(nested)) false
    else {
      if (!f.rename(nested, staging)) {
        f.delete(nested, true)
        throw new java.io.IOException(
          s"could not recover nested staging dir $nested")
      }
      true
    }
  }

  /** One guarded rename attempt of `staging` onto `target`.
    * (Local FS throws FileNotFoundException where HDFS returns false
    * for a vanished source — both are the same permanent failure.) */
  private[graft] def renameNoNest(f: org.apache.hadoop.fs.FileSystem,
                                  staging: Path, target: Path): RenameOutcome =
    if (f.exists(target)) LostRace
    else if (try f.rename(staging, target)
             catch { case _: java.io.FileNotFoundException => false }) {
      if (recoverIfNested(f, staging, target)) LostRace else Renamed
    } else if (f.exists(target)) LostRace // appeared mid-flight; FS refused
    else RenameFailed

  def commit(df: DataFrame, root: String, maxAttempts: Int = 5,
      markers: Seq[String] = Nil): Long = {
    val spark = df.sparkSession
    val f = fs(spark, root)
    val staging = new Path(root,
      s".staging-${java.util.UUID.randomUUID.toString.take(12)}")
    df.write.mode("overwrite").parquet(staging.toString)
    markers.foreach { m =>
      require(m.startsWith("_"), s"marker must be underscore-prefixed: $m")
      f.create(new Path(staging, m)).close()
    }
    commitStaged(spark, f, root, staging, maxAttempts)
  }

  /** Rename a fully-written staging dir onto the next version id, with
    * the race hardening commit always had. Shared by [[commit]] and
    * [[foldHistory]] (whose staging additionally carries the fold
    * marker, so marker and data land in one atomic rename). */
  private def commitStaged(spark: SparkSession, f: org.apache.hadoop.fs.FileSystem,
      root: String, staging: Path, maxAttempts: Int): Long = {
    var attempt = 0
    while (attempt < maxAttempts) {
      val next = latestVersion(spark, root).getOrElse(-1L) + 1
      val target = new Path(root, s"v=$next")
      renameNoNest(f, staging, target) match {
        case Renamed => return next
        case LostRace => attempt += 1
        case RenameFailed =>
          f.delete(staging, true)
          throw new java.io.IOException(
            s"rename $staging -> $target failed without contention " +
              "(missing parent directory or permissions?)")
      }
    }
    f.delete(staging, true)
    throw new IllegalStateException(
      s"lost $maxAttempts commit races on $root — giving up")
  }

  /** Frozen state — trained or derived once, never rebuilt: commits
    * `build` as v0 only when `root` has no version yet, and always
    * returns v0, the first-ever commit. Rebuilding would silently
    * re-bucket or re-base everything stored against the state, so a
    * later commit to the same root is never served, and neither is the
    * renumbered duplicate of a first-time builder that lost the commit
    * race (deterministic builders make both contents identical). The
    * one policy behind the stored quantizers, codebooks, PCA model and
    * dedup / decontamination fixtures. */
  def frozen(spark: SparkSession, root: String)(build: => DataFrame): DataFrame = {
    if (versions(spark, root).isEmpty) commit(build, root)
    read(spark, root, Some(0L))
  }

  /** Read a pinned version (latest when `version` is None). */
  def read(spark: SparkSession, root: String, version: Option[Long] = None): DataFrame = {
    val v = version.orElse(latestVersion(spark, root)).getOrElse(
      throw new IllegalArgumentException(s"no committed versions at $root"))
    spark.read.parquet(new Path(root, s"v=$v").toString)
  }

  /** Every committed version in ONE partition-discovered scan: the
    * `v=N` version directories are Hive-style partitions, so a reader
    * serving the union of all versions (an incrementally maintained
    * index — e.g. the bm25_inc postings) gets a single parquet
    * relation with `v` as a partition column. Version pruning rides
    * PartitionFilters (never file-level unions in the plan), a new
    * delta becomes visible by committing it, and `upTo` pins a
    * snapshot (versions <= upTo) so a serve plan stays reproducible
    * against a root that keeps growing. Dot-prefixed staging dirs are
    * invisible to discovery, so a concurrent commit never tears a
    * read. */
  def readAll(spark: SparkSession, root: String, upTo: Option[Long] = None): DataFrame = {
    if (versions(spark, root).isEmpty)
      throw new IllegalArgumentException(s"no committed versions at $root")
    val df = spark.read.option("basePath", root).parquet(root)
    upTo.fold(df)(n => df.where(col("v") <= n)).drop("v")
  }

  private val FoldMarker = "^_folded_upto_(\\d+)$".r
  // Any numbered marker a committer attached (`_<name>_<number>`), e.g.
  // the streaming sink's `_batch_id_<B>` replay ledger.
  private val NumberedMarker = "^_([a-z][a-z0-9_]*?)_(\\d+)$".r

  /** Max `<number>` over every `_<name>_<number>` marker file on the
    * SURVIVING versions of `root` (None when no such marker exists).
    * Markers land atomically with their version's data and
    * [[foldHistory]] carries each family's max into the folded
    * version, so a claim read here survives both crashes and
    * retention. */
  def maxMarker(spark: SparkSession, root: String, name: String): Option[Long] = {
    val f = fs(spark, root)
    val vals = versions(spark, root).flatMap { v =>
      f.listStatus(new Path(root, s"v=$v")).toSeq.flatMap(s =>
        s.getPath.getName match {
          case NumberedMarker(n, num) if n == name => Some(num.toLong)
          case _ => None
        })
    }
    if (vals.isEmpty) None else Some(vals.max)
  }

  /** Versions (ascending) carrying a `_<name>_<number>` marker of the
    * given family — content-addressed version selection. A committer
    * that stamps what a version HOLDS (e.g. `_split_historical_0`)
    * lets build-once guards and readers key on content rather than on
    * version ids, which a lost commit race renumbers: the raced
    * duplicate lands under a higher id with the same marker and a
    * reader selecting the first marked version never sees it. */
  def versionsWithMarker(spark: SparkSession, root: String, name: String): Seq[Long] = {
    val f = fs(spark, root)
    versions(spark, root).filter { v =>
      f.listStatus(new Path(root, s"v=$v")).exists(s =>
        s.getPath.getName match {
          case NumberedMarker(n, _) => n == name
          case _ => false
        })
    }
  }

  /** Versions (ascending) carrying the EXACT marker `_<name>_<num>` —
    * family AND value. This is the lookup a replay ledger needs:
    * [[versionsWithMarker]] matches any member of a family (`batch_id`
    * matches `_batch_id_0`, `_batch_id_7`, …), so a caller asking "did
    * batch 7's delta land?" must compare the NUMBER too, not bake it
    * into the family name (a composed name like `batch_id_7` parses as
    * family `batch_id` + value 7 and would never equal the family
    * string — the recovery branch keyed that way is dead code). */
  def versionsWithMarkerValue(spark: SparkSession, root: String,
      name: String, num: Long): Seq[Long] = {
    val f = fs(spark, root)
    versions(spark, root).filter { v =>
      f.listStatus(new Path(root, s"v=$v")).exists(s =>
        s.getPath.getName match {
          case NumberedMarker(n, x) => n == name && x.toLong == num
          case _ => false
        })
    }
  }

  /** Build-once guard for a content-split part of a stored table: if a
    * version already carries the `_split_<part>_0` marker, return the
    * first such version; else build, commit with the marker, and
    * return it. The marker lands atomically with its version, so the
    * guard keys on "is the part committed ANYWHERE" — a lost commit
    * race (which renumbers the version) can neither skip the build nor
    * make serving double-count, because serving selects the FIRST
    * marked version and a raced duplicate is simply never read. Shared
    * by the incremental lexical index (bm25_inc) and the stored sketch
    * state (q_distinct_hll_inc / q_heavy_hitters_stored). */
  def ensurePart(spark: SparkSession, root: String, part: String)(
      build: => DataFrame): Long = {
    val have = versionsWithMarker(spark, root, s"split_$part")
    if (have.nonEmpty) have.min
    else {
      commit(build, root, markers = Seq(s"_split_${part}_0"))
      versionsWithMarker(spark, root, s"split_$part").min
    }
  }

  /** The standard two-part content split every stored-summary
    * lifecycle shares (HLL / CMS+candidates / KLL sketches, the exact
    * Q1 month partials): facts whose shipment/order month hashes
    * 3-in-4 build the "historical" part, the remaining 1-in-4 months
    * the "batch" part (one simulated ingest batch), each committed
    * build-once under its content marker via [[ensurePart]], then
    * served as ONE marker-selected [[readVersions]] scan. Keeping the
    * split contract — ratio, hash expression, marker names — in one
    * place means a future change (different batch fraction, a third
    * part) cannot leave one family's stored state partitioned
    * differently from the others. `build` receives the part's fact
    * rows plus the derived month column it should group by. */
  def monthSplitParts(spark: SparkSession, root: String, facts: DataFrame,
      date: Column)(build: (DataFrame, Column) => DataFrame): DataFrame = {
    val month = date_trunc("month", date)
    val isBatch = pmod(xxhash64(month), lit(4L)) === 0L
    val hist = ensurePart(spark, root, "historical")(build(facts.where(!isBatch), month))
    val batch = ensurePart(spark, root, "batch")(build(facts.where(isBatch), month))
    readVersions(spark, root, Seq(hist, batch))
  }

  /** An explicit set of versions in ONE partition-discovered scan —
    * same plan shape as [[readAll]] (version pruning rides
    * PartitionFilters), but the snapshot is a chosen version set (e.g.
    * the marker-selected members of a content split) instead of a
    * `<= upTo` prefix. */
  def readVersions(spark: SparkSession, root: String, vs: Seq[Long]): DataFrame = {
    require(vs.nonEmpty, s"readVersions needs at least one version at $root")
    spark.read.option("basePath", root).parquet(root)
      .where(col("v").isin(vs: _*)).drop("v")
  }

  /** Fold versions [0..upTo] into ONE equivalent version — snapshot
    * retention for roots that accrue a version per batch or
    * micro-batch ([[graft.streaming.IndexStream]]): the `versions`
    * listing and `readAll`'s partition count stay bounded while the
    * served rows are unchanged. Granular history inside the folded
    * range is deliberately destroyed — the same trade as snapshot
    * expiry / vacuum in the public lakehouse formats, and like them
    * this is an OFFLINE maintenance job: a reader pinned inside the
    * folded range loses its version, and a readAll racing the
    * deletions can observe a partial union.
    *
    * Crash safety is by RESUME, not atomicity: the folded union is
    * staged WITH a `_folded_upto_<N>` marker file (underscore-prefixed
    * — invisible to parquet readers) and lands in one atomic rename,
    * so "this version replaces everything <= N" becomes true at the
    * same instant the data appears; the folded range is deleted after.
    * A crash in between leaves the root over-counting, and the next
    * [[foldHistory]] (or [[recoverFold]]) reads the marker and
    * completes the deletions before doing anything else.
    *
    * The folded version is born COMPACTED: without it, folding N
    * one-file micro-batch commits yields one version that still holds
    * ~N small files — the listing is bounded but every serve scan
    * keeps paying N file opens. The folded union is coalesced (narrow,
    * no shuffle) to ceil(bytes / targetBytes) output files, so fold
    * doubles as the [[Compactor]] pass for versioned roots — done
    * inside the staging write because rewriting a landed version
    * in place would race serving and (mode=overwrite) destroy the
    * marker ledger.
    *
    * Returns the folded version's id. */
  def foldHistory(spark: SparkSession, root: String,
      upTo: Option[Long] = None, maxAttempts: Int = 5,
      targetBytes: Long = 128L * 1024 * 1024): Long = {
    recoverFold(spark, root)
    val vs = versions(spark, root)
    if (vs.isEmpty)
      throw new IllegalArgumentException(s"no committed versions at $root")
    val hi = upTo.getOrElse(vs.last)
    val range = vs.filter(_ <= hi)
    if (range.size <= 1) return range.lastOption.getOrElse(
      throw new IllegalArgumentException(s"no versions <= $hi at $root"))
    val f = fs(spark, root)
    // Carry every committer-attached numbered marker family forward at
    // its max (e.g. the streaming sink's `_batch_id_<B>` replay
    // ledger), so claims that must outlive retention do.
    val carried = range.flatMap { v =>
      f.listStatus(new Path(root, s"v=$v")).toSeq.flatMap(s =>
        s.getPath.getName match {
          case NumberedMarker(n, num) if n != "folded_upto" => Some(n -> num.toLong)
          case _ => None
        })
    }.groupMapReduce(_._1)(_._2)(math.max)
      .map { case (n, num) => s"_${n}_$num" }.toSeq
    val staging = new Path(root,
      s".staging-${java.util.UUID.randomUUID.toString.take(12)}")
    val bytes = range.map(v =>
      f.getContentSummary(new Path(root, s"v=$v")).getLength).sum
    val targetFiles = math.max(1, math.ceil(bytes.toDouble / targetBytes).toInt)
    readAll(spark, root, upTo = Some(hi)).coalesce(targetFiles)
      .write.mode("overwrite").parquet(staging.toString)
    (s"_folded_upto_$hi" +: carried).foreach(m =>
      f.create(new Path(staging, m)).close())
    val folded = commitStaged(spark, f, root, staging, maxAttempts)
    recoverFold(spark, root)
    folded
  }

  /** Complete any pending fold: for every surviving version carrying a
    * `_folded_upto_<N>` marker, delete the versions <= N it replaced.
    * Idempotent (an already-completed fold deletes nothing) and safe
    * at any time — the marker landed atomically with the folded data,
    * so its claim is always true. */
  def recoverFold(spark: SparkSession, root: String): Unit = {
    val f = fs(spark, root)
    val vs = versions(spark, root)
    val replacedUpTo = vs.flatMap { v =>
      f.listStatus(new Path(root, s"v=$v")).toSeq.collect {
        case s if FoldMarker.findFirstMatchIn(s.getPath.getName).isDefined =>
          FoldMarker.findFirstMatchIn(s.getPath.getName).get.group(1).toLong
      }
    }
    if (replacedUpTo.nonEmpty) {
      val n = replacedUpTo.max
      vs.filter(_ <= n).foreach(v => f.delete(new Path(root, s"v=$v"), true))
    }
  }

  /** Row-level change report between two versions: one row per key
    * whose content was `added`, `removed`, or `updated` (content
    * compared by a column-order-stable xxhash64 over every non-key
    * column). One full outer equijoin on the key — intermediate
    * versions are never read.
    *
    * Null handling: Spark's hash functions pass the seed through
    * unchanged on a null child, so a raw `xxhash64(a, b)` cannot tell
    * (x, null) from (null, x). Each value column is therefore encoded
    * null-distinguishingly — `coalesce(cast(c as string), '\u0000NULL')`
    * — before hashing. Key columns must be non-null: a null key never
    * equijoins, so such rows would be misreported as added+removed. */
  def diff(spark: SparkSession, root: String, from: Long, to: Long,
           keyCols: Seq[String]): DataFrame = {
    def hashed(v: Long) = {
      val df = read(spark, root, Some(v))
      val valueCols = df.columns.filterNot(keyCols.contains).sorted
      val encoded = valueCols.map(c =>
        coalesce(col(c).cast("string"), lit("\u0000NULL")))
      df.select(keyCols.map(col) :+
        xxhash64(encoded: _*).as("_vh"): _*)
    }
    val a = hashed(from).withColumnRenamed("_vh", "_vh_from")
    val b = hashed(to).withColumnRenamed("_vh", "_vh_to")
    a.join(b, keyCols, "full_outer")
      .withColumn("change",
        when(col("_vh_from").isNull, lit("added"))
          .when(col("_vh_to").isNull, lit("removed"))
          .when(col("_vh_from") =!= col("_vh_to"), lit("updated")))
      .where(col("change").isNotNull)
      .select(keyCols.map(col) :+ col("change"): _*)
  }
}
