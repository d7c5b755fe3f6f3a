package graft.table

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Iceberg-shaped snapshot/manifest table layer over Parquet
  * directories — the exact subset of Iceberg semantics the target spec
  * exercises (incremental snapshots, partition-level commits, lineage),
  * with the catalog interface kept swappable for a real Iceberg runtime
  * (none ships in this sandbox; see SURVEY.md §4.3).
  *
  * Layout under `root/`:
  * {{{
  *   data/snap=<k>/part=<p>/…parquet one dir per (snapshot, partition)
  *   manifests/manifest-<k>.json     snapshot manifest (see [[Manifest]])
  *   CURRENT                         atomic pointer: current snapshot id
  * }}}
  *
  * Both directory levels are Hive-style (`snap=<k>/<col>=<p>`) so a
  * snapshot read is ONE multi-path parquet scan with partition values
  * inferred relative to `data/` — the plan stays O(1) nodes no matter
  * how many partitions the snapshot spans (a per-leaf union would grow
  * the plan by one branch per partition: 1,000-node plans after three
  * years of daily partitions).
  *
  * Commits are atomic: data is fully written, the manifest is written,
  * then CURRENT is atomically moved into place — a reader always sees a
  * complete snapshot, and a crashed writer leaves CURRENT untouched
  * (resume-safe, mirroring the reference's idempotent-ingest semantics,
  * /root/reference/src/vptstools/bin/transfer_baltrad.py:141-163).
  *
  * Snapshots are copy-on-write per partition: a new snapshot carries
  * forward the previous snapshot's partition directories except those
  * it overwrites — the reference's recompute-the-partition late-data
  * model (/root/reference/src/vptstools/bin/vph5_to_vpts.py:153-202).
  */
final class TierTable(val root: String, spark: SparkSession) {

  private val rootPath = Paths.get(root)
  private val manifests = rootPath.resolve("manifests")
  private val current = rootPath.resolve("CURRENT")

  def init(): this.type = {
    Files.createDirectories(manifests)
    Files.createDirectories(rootPath.resolve("data"))
    this
  }

  def currentSnapshotId: Option[Long] =
    if (Files.exists(current)) Some(Files.readString(current).trim.toLong)
    else None

  def manifest(snapshot: Long): Manifest =
    Manifest.fromJson(Files.readString(
      manifests.resolve(s"manifest-$snapshot.json")))

  def currentManifest: Option[Manifest] = currentSnapshotId.map(manifest)

  /** Next snapshot id, atomically RESERVED before any data is written:
    * past EVERY existing manifest (after [[rollbackTo]], parent+1 would
    * collide with an abandoned but readable snapshot) AND every live
    * reservation, claimed by atomically creating
    * `manifests/.reserve-<id>` — two writers can never obtain the same
    * id, so a commit's `data/snap=<id>` directory is exclusively its
    * own from the first byte written (without the reservation, two
    * concurrent commits could compute the same id and the second data
    * write would clobber the first BEFORE any publish-time guard
    * fires). A reservation whose writer crashed pre-publish is
    * harmless: ids only ever advance past it. [[publish]] removes the
    * reservation once the manifest exists.
    */
  private def reserveSnapshotId(): Long = {
    import scala.jdk.CollectionConverters._
    import scala.util.Using
    while (true) {
      val ids = Using.resource(Files.list(manifests)) { stream =>
        stream.iterator().asScala
          .map(_.getFileName.toString)
          .collect {
            case s if s.startsWith("manifest-") =>
              s.stripPrefix("manifest-").stripSuffix(".json").toLong
            case s if s.startsWith(".reserve-") &&
                      s.stripPrefix(".reserve-").forall(_.isDigit) &&
                      s.length > ".reserve-".length =>
              s.stripPrefix(".reserve-").toLong
          }
          .toSeq
      }
      val id = if (ids.isEmpty) 0L else ids.max + 1L
      try {
        Files.createFile(manifests.resolve(s".reserve-$id"))
        return id
      } catch {
        case _: java.nio.file.FileAlreadyExistsException => () // raced — rescan
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** Commit a new snapshot overwriting the given partitions.
    * `df` must contain `partitionCol`; only the listed partitions may
    * be present in it. Unlisted partitions are carried forward from
    * the parent snapshot (copy-on-write).
    *
    * Single-pass: the input is persisted, stats (rows + checksum per
    * partition) are collected from the cache, and the write streams
    * from the same cache — the commit never re-reads what it just
    * wrote (at 100 TB a post-write stats scan would double write-path
    * I/O). The cached set is bounded: commits carry only the touched
    * partitions' recompute output (tier rows / day increments), never
    * the whole table, and MEMORY_AND_DISK spills rather than OOMs.
    *
    * Empty-partition contract: a key in `lineage` (the requested
    * recompute set) that produced zero rows is recorded as an explicit
    * empty partition (rows=0, no data path) and is NOT carried forward
    * — an empty recompute result deletes the partition's old contents
    * instead of silently resurrecting them.
    */
  /** Optional second physical clustering level: when `bucketCol` is set
    * (or inherited from the parent snapshot), data is written as
    * `snap=<k>/<partitionCol>=<p>/<bucketCol>=<b>/…` — a Hive-style
    * bucket sub-directory per partition. Readers get the bucket column
    * back (long) and a `filter(bucketCol.isin(...))` prunes bucket
    * directories at PLANNING time (partition filters on the scan), so a
    * lookup touching few buckets reads only those buckets' files — the
    * Iceberg bucket-transform analog [[graft.ops.IncrementalDedup]]
    * relies on to keep per-ingest witness scans O(touched buckets)
    * instead of O(corpus). The bucket column must be a deterministic
    * function of the row (the writer's contract) so recompaction is
    * content-preserving.
    */
  def commitOverwrite(df: DataFrame, partitionCol: String,
                      lineage: Map[String, PartitionLineage] = Map.empty,
                      bucketCol: Option[String] = None)
      : Manifest = {
    val parent = currentManifest
    // The physical layout is a table-level contract: one bucket spec for
    // every snapshot (mixed-depth Hive dirs would break the multi-path
    // read). New commits inherit the parent's spec unless they restate
    // it identically.
    val effBucket = bucketCol.orElse(parent.flatMap(_.bucketCol))
    parent.flatMap(_.bucketCol).foreach { pb =>
      require(effBucket.contains(pb),
        s"bucket column is fixed at table creation: parent has $pb, got $bucketCol")
    }
    // Nor can a bucket level be ADDED once unbucketed data exists:
    // carried-forward partitions would keep their flat layout and the
    // multi-path read would mix directory depths. Only a table with no
    // data partitions may adopt a bucket spec.
    if (bucketCol.isDefined && parent.exists(p =>
          p.bucketCol.isEmpty && p.partitions.values.exists(_.path.nonEmpty)))
      throw new IllegalStateException(
        s"cannot add bucket level '${bucketCol.get}' to $root: the table " +
          "already holds unbucketed data partitions — rebuild it into a " +
          "fresh bucketed table instead")
    val snap = reserveSnapshotId()
    val stamp = System.currentTimeMillis()
    releaseOnFailure(snap) {

    val dataDir = rootPath.resolve(s"data/snap=$snap").toString
    val cached = df.persist()
    val stats =
      try {
        // order-insensitive content checksum: XOR-fold of per-row
        // xxhash64 over name-sorted columns (sum would overflow long
        // under ANSI arithmetic)
        val hashCols = cached.columns.sorted.map(c => s"`$c`").mkString(",")
        val s = cached.groupBy(col(partitionCol).cast("string").as("p"))
          .agg(count(lit(1)).as("rows"),
               expr(s"bit_xor(xxhash64($hashCols))").as("checksum"))
          .collect()
          .map(r => r.getString(0) ->
            PartitionEntry(s"data/snap=$snap/$partitionCol=${r.getString(0)}",
              r.getLong(1), r.getLong(2),
              lineage.get(r.getString(0))))
          .toMap
        cached.write
          .partitionBy(partitionCol +: effBucket.toSeq: _*)
          .mode("overwrite").parquet(dataDir)
        s
      } finally cached.unpersist()

    // Requested partitions that produced no rows: explicit empties.
    val empties = (lineage.keySet -- stats.keySet).map(k =>
      k -> PartitionEntry("", 0L, 0L, lineage.get(k))).toMap

    // Carry forward untouched partitions from the parent.
    val fresh = stats ++ empties
    val carried = parent.map(_.partitions).getOrElse(Map.empty) -- fresh.keySet
    val m = Manifest(snap, parent.map(_.snapshot), stamp, partitionCol,
                     carried ++ fresh, effBucket)
    publish(m, parent.map(_.snapshot))

    }
  }

  /** Run a commit tail, releasing the snapshot-id reservation if it
    * dies BEFORE its manifest exists (a failed write/commit must not
    * leak a .reserve file per retry; once the manifest is on disk the
    * id is protected by it and [[publish]] removed the reservation).
    * Reusing a released id is safe: its partial data/snap dir, if any,
    * is fully overwritten by the next writer.
    */
  private def releaseOnFailure(snap: Long)(body: => Manifest): Manifest =
    try body
    catch {
      case t: Throwable =>
        if (!Files.exists(manifests.resolve(s"manifest-$snap.json")))
          Files.deleteIfExists(manifests.resolve(s".reserve-$snap"))
        throw t
    }

  /** Test hook: runs immediately before [[publish]]'s CAS check, so a
    * spec can interleave a competing commit deterministically. No-op in
    * production.
    */
  private[table] var beforeCurrentMove: () => Unit = () => ()

  /** Write the manifest, then move CURRENT — guarded by an
    * optimistic-concurrency check (the Iceberg commit contract this
    * layer mirrors): if another writer advanced CURRENT since this
    * commit read its parent snapshot, the move is REFUSED and the
    * commit fails loudly instead of silently dropping the winner's
    * snapshot from history. The losing commit's data/manifest stay on
    * disk unreferenced until [[expireSnapshots]] reclaims them; the
    * caller retries from a fresh read. The check+move runs under a
    * JVM-wide per-table-root lock ([[TierTable.commitLockFor]]), so two
    * in-process writers can never BOTH pass the parent check before
    * either moves CURRENT — the swap is a true CAS within one JVM.
    * (Across processes it remains check-then-move — like Iceberg on a
    * rename-only filesystem, a true multi-writer deployment puts the
    * swap behind a CAS-capable catalog.)
    */
  private def publish(m: Manifest, expectedParent: Option[Long]): Manifest = {
    // snapshot-id collision guard: two writers that both computed the
    // same next id must not silently overwrite each other's manifest —
    // the second one fails here, BEFORE clobbering, and retries with a
    // fresh id (same contract as the CURRENT CAS below)
    val target = manifests.resolve(s"manifest-${m.snapshot}.json")
    if (Files.exists(target))
      throw new java.util.ConcurrentModificationException(
        s"snapshot ${m.snapshot} already published at $root " +
          "(concurrent writer) — retry from a fresh read")
    val tmp = manifests.resolve(s".manifest-${m.snapshot}.json.tmp")
    Files.writeString(tmp, m.toJson)
    Files.move(tmp, target, StandardCopyOption.ATOMIC_MOVE)
    // the manifest now protects the id; the reservation can go (even if
    // the CAS below fails, the id is never reused)
    Files.deleteIfExists(manifests.resolve(s".reserve-${m.snapshot}"))
    // the interleave hook stays OUTSIDE the lock (a hooked spec thread
    // may wait for a concurrent publish, which needs the lock)
    beforeCurrentMove()
    TierTable.commitLockFor(rootPath).synchronized {
      val now = currentSnapshotId
      if (now != expectedParent)
        throw new java.util.ConcurrentModificationException(
          s"concurrent commit at $root: this commit's parent is " +
            s"$expectedParent but CURRENT is now $now — retry from a fresh read")
      val ctmp = rootPath.resolve(".CURRENT.tmp")
      Files.writeString(ctmp, m.snapshot.toString)
      Files.move(ctmp, current, StandardCopyOption.ATOMIC_MOVE,
                 StandardCopyOption.REPLACE_EXISTING)
    }
    m
  }

  /** Read the current snapshot (one multi-path scan of its partition
    * directories).
    */
  def read(): DataFrame = {
    val m = currentManifest.getOrElse(
      throw new NoSnapshotDataException(s"no snapshot at $root"))
    readManifest(m, None)
  }

  /** Pruned read: only the requested partitions' directories are
    * listed and scanned — the plan and the I/O are O(|partitions|),
    * never O(table). Keys absent from the snapshot (or explicitly
    * empty) are skipped.
    */
  def read(partitions: Set[String]): DataFrame = {
    val m = currentManifest.getOrElse(
      throw new NoSnapshotDataException(s"no snapshot at $root"))
    readManifest(m, Some(partitions))
  }

  /** Partition keys present (non-empty) in the current snapshot. */
  def partitionKeys: Set[String] =
    currentManifest.map(_.partitions.collect {
      case (k, p) if p.path.nonEmpty => k
    }.toSet).getOrElse(Set.empty)

  private def readManifest(m: Manifest, only: Option[Set[String]]): DataFrame = {
    // Partition leaves of one snapshot live under different snap=<k>
    // dirs (copy-on-write); both levels are Hive-style, so ONE
    // multi-path read with basePath=data/ re-infers (snap, partition)
    // from the directory names — plan size O(1), not one union branch
    // per partition. Explicit empty partitions have no data path.
    val selected = m.partitions.toSeq.sortBy(_._1)
      .filter { case (k, p) =>
        p.path.nonEmpty && only.forall(_.contains(k)) }
    if (selected.isEmpty) {
      // a PRUNED read whose requested partitions are all explicitly
      // empty is a legitimate empty result (e.g. a recompute that
      // produced zero rows): return an empty frame with the table's
      // schema, derived from any data partition. Only a snapshot with
      // no data anywhere is an error.
      val anyData = m.partitions.toSeq.sortBy(_._1)
        .collectFirst { case (_, p) if p.path.nonEmpty => p }
      anyData match {
        case Some(p) if only.isDefined =>
          return typed(m, spark.read.option("basePath", s"$root/data")
            .parquet(s"$root/${p.path}"))
            .filter(lit(false))
        case _ =>
          throw new NoSnapshotDataException(
            s"no data partitions in snapshot ${m.snapshot} at $root" +
              only.map(o => s" (requested: ${o.toSeq.sorted.mkString(",")})")
                .getOrElse(""))
      }
    }
    val paths = selected.map { case (_, p) => s"$root/${p.path}" }
    typed(m, spark.read.option("basePath", s"$root/data").parquet(paths: _*))
  }

  /** Hive-inferred directory columns come back as ints; pin the
    * partition (and bucket, when present) columns to long so re-reads
    * hash/checksum identically to the frames that were committed.
    */
  private def typed(m: Manifest, df: DataFrame): DataFrame = {
    val p = df.withColumn(m.partitionCol, col(m.partitionCol).cast("long"))
      .drop("snap")
    m.bucketCol.fold(p)(b => p.withColumn(b, col(b).cast("long")))
  }

  /** Manifest-only retention commit: a new snapshot that simply drops
    * every partition whose key fails `keep` — no data is rewritten (the
    * dropped directories become unreferenced and are reclaimed by
    * [[expireSnapshots]]). Returns the dropped keys.
    */
  def commitRetention(keep: String => Boolean): Set[String] = {
    val parent = currentManifest.getOrElse(
      throw new IllegalStateException(s"no snapshot at $root"))
    val (kept, dropped) = parent.partitions.partition { case (k, _) => keep(k) }
    if (dropped.isEmpty) return Set.empty
    val snap = reserveSnapshotId()
    val m = Manifest(snap, Some(parent.snapshot), System.currentTimeMillis(),
                     parent.partitionCol, kept, parent.bucketCol)
    releaseOnFailure(snap)(publish(m, Some(parent.snapshot)))
    dropped.keySet
  }

  /** Rewrite the given partitions' data into at most `filesPerPartition`
    * files each — the Iceberg rewrite-data-files maintenance analog for
    * partitions written at wide parallelism (hundreds of task files per
    * day at cluster scale; small-file pressure on every downstream
    * scan). Content is untouched: the new snapshot's per-partition rows
    * and order-insensitive checksums equal the old one's (spec-pinned).
    * Copy-on-write: untouched partitions carry forward; the replaced
    * directories are reclaimed by [[expireSnapshots]].
    */
  def compactPartitions(partitions: Set[String],
                        filesPerPartition: Int = 1): Manifest =
    rewritePartitions(partitions, filesPerPartition, "compacted") {
      (base, partitionCol, tasks) =>
        // hash-cluster on (partition, deterministic row-hash split): a
        // partition's rows land in ≤ filesPerPartition hash buckets (≤
        // that many files), and distinct (partition, split) pairs spread
        // over filesPerPartition × |partitions| tasks — a multi-GB day
        // partition is rewritten in parallel, not by one task. The split
        // key hashes the full row (deterministic, content-derived), so
        // the rewrite stays reproducible.
        val split = pmod(
          expr(s"xxhash64(${base.columns.sorted.map(c => s"`$c`").mkString(",")})"),
          lit(filesPerPartition))
        base.repartition(tasks, col(partitionCol), split)
    }

  /** Z-order variant of [[compactPartitions]] — the Iceberg
    * rewrite-data-files(sort-order=zorder(x, y)) analog, actually
    * applied to the file LAYOUT: each partition's rows are re-split by
    * equal-width ranges of the Morton interleave of the clustering
    * dimensions `x` and `y` ([[graft.functions.ZOrder.zValue]]) and
    * sorted by it within every task, so each output file covers a small
    * box in BOTH dimensions. A scan filtered on either dimension (or a
    * box) can then prune most files by their per-file column min/max —
    * where the hash split of [[compactPartitions]] leaves every file
    * spanning the full range of both (spec-pinned, including the
    * pruning win).
    *
    * The dimensions may be plain columns or derived expressions (e.g.
    * hour-of-day from an epoch column); they are evaluated per row for
    * the split/sort only and never stored. Both must be deterministic
    * functions of the row, non-negative, and < 2^bits.
    *
    * Content-preserving: per-partition rows and order-insensitive
    * checksums are unchanged (spec-pinned). File BOUNDARIES come from
    * range partitioning over (partition, z) — sample-derived, like
    * Iceberg's sort-based rewrite — so each output file is one
    * contiguous z-run; the content set, not the file split, is the
    * reproducible contract here (the hash sibling keeps the stronger
    * per-file determinism for checksum-sensitive rewrites).
    */
  def compactPartitionsZOrder(partitions: Set[String],
                              x: Column, y: Column,
                              bits: Int = 16,
                              filesPerPartition: Int = 8): Manifest =
    rewritePartitions(partitions, filesPerPartition, "zorder-compacted") {
      (base, partitionCol, tasks) =>
        val z = graft.functions.ZOrder.zValue(x, y, bits)
        // one contiguous (partition, z)-range per task → one file per
        // task under the partition dir, each covering a small box in
        // both dims
        base.repartitionByRange(tasks, col(partitionCol), z)
          .sortWithinPartitions(col(partitionCol), z)
    }

  /** Content-neutral rewrite of the given partitions present in the
    * current snapshot: `layout(rows, partitionCol, tasks)` re-splits
    * their rows over `filesPerPartition × |partitions|` tasks, and the
    * result is committed with each partition's lineage relabelled to
    * `status`.
    */
  private def rewritePartitions(partitions: Set[String], filesPerPartition: Int,
                                status: String)
                               (layout: (DataFrame, String, Int) => DataFrame)
      : Manifest = {
    require(filesPerPartition >= 1, "need at least one file per partition")
    val m = currentManifest.getOrElse(
      throw new IllegalStateException(s"no snapshot at $root"))
    val present = partitions.filter(k =>
      m.partitions.get(k).exists(_.path.nonEmpty))
    if (present.isEmpty) return m
    val df = layout(readManifest(m, Some(present)), m.partitionCol,
                    filesPerPartition * present.size)
    commitOverwrite(df, m.partitionCol,
      present.map(k => k -> (m.partitions(k).lineage match {
        case Some(l) => l.copy(status = status)
        case None    => PartitionLineage(m.snapshot, status)
      })).toMap)
  }

  /** Roll the table back to an earlier snapshot (Iceberg
    * rollback-to-snapshot analog): CURRENT is atomically repointed; no
    * data or manifests are touched, so the abandoned snapshots remain
    * readable until [[expireSnapshots]] reclaims them. Copy-on-write
    * guarantees the old snapshot's partition directories still exist —
    * later snapshots only ever ADD directories.
    */
  def rollbackTo(snapshot: Long): Unit = {
    require(Files.exists(manifests.resolve(s"manifest-$snapshot.json")),
      s"no manifest for snapshot $snapshot at $root")
    val ctmp = rootPath.resolve(".CURRENT.tmp")
    Files.writeString(ctmp, snapshot.toString)
    Files.move(ctmp, current, StandardCopyOption.ATOMIC_MOVE,
               StandardCopyOption.REPLACE_EXISTING)
  }

  /** Expire history: keep the `keepLast` most recent snapshots (always
    * at least the current one), delete older manifests, and remove any
    * `data/snap=<k>` directory no kept manifest references — the
    * Iceberg expire-snapshots maintenance analog. Copy-on-write means
    * old snapshot dirs can still back current partitions; only truly
    * unreferenced directories are deleted. Returns the deleted snapshot
    * dirs' ids.
    */
  def expireSnapshots(keepLast: Int): Seq[Long] = {
    require(keepLast >= 1, "must keep at least the current snapshot")
    import scala.jdk.CollectionConverters._
    import scala.util.Using
    val ids = Using.resource(Files.list(manifests)) { stream =>
      stream.iterator().asScala
        .map(_.getFileName.toString)
        .collect { case s if s.startsWith("manifest-") =>
          s.stripPrefix("manifest-").stripSuffix(".json").toLong }
        .toSeq.sorted
    }
    // after a rollback the current snapshot may be OLD — it must
    // survive expiry regardless of recency
    val cur = currentSnapshotId
    val (dropRaw, keepRaw) = ids.splitAt(math.max(ids.size - keepLast, 0))
    val drop = dropRaw.filterNot(cur.contains)
    val keep = keepRaw ++ dropRaw.filter(cur.contains)
    val referenced: Set[Long] = keep.flatMap(id =>
      manifest(id).partitions.values.collect {
        case p if p.path.nonEmpty =>
          // path shape: data/snap=<k>/<col>=<v>
          p.path.split("/")(1).stripPrefix("snap=").toLong
      }).toSet
    drop.foreach(id => Files.deleteIfExists(manifests.resolve(s"manifest-$id.json")))
    val deletable = drop.filterNot(referenced.contains)
    deletable.foreach { id =>
      val dir = rootPath.resolve(s"data/snap=$id")
      if (Files.exists(dir)) {
        Using.resource(Files.walk(dir)) { walk =>
          walk.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists(_))
        }
      }
    }
    // garbage-collect reservations from writers that crashed before
    // publishing: a `.reserve-<id>` with id at or below CURRENT can
    // never be claimed again (ids only advance past existing
    // manifests), so deleting it is safe even if its writer were
    // somehow still alive — and without this sweep every crashed
    // writer's file is rescanned by all future reserveSnapshotId calls
    // forever.
    cur.foreach { c =>
      Using.resource(Files.list(manifests)) { stream =>
        stream.iterator().asScala
          .filter { p =>
            val s = p.getFileName.toString
            s.startsWith(".reserve-") &&
              s.stripPrefix(".reserve-").forall(_.isDigit) &&
              s.length > ".reserve-".length &&
              s.stripPrefix(".reserve-").toLong <= c
          }
          .toSeq.foreach(Files.deleteIfExists(_))
      }
    }
    deletable
  }
}

/** Raised when a read finds legitimately NO data: the table has no
  * snapshot yet, or nothing in the snapshot (or the selected subset)
  * carries rows and there is no schema source. Deliberately distinct
  * from the plain IllegalStateExceptions that signal CORRUPTION
  * (unversioned/unsupported manifest formats): callers that want to
  * treat an empty table as an empty result (e.g.
  * [[graft.ops.IncrementalDedup.pairs]]) catch THIS type only, so a
  * corrupt manifest still fails loudly instead of reading as "no
  * duplicates".
  */
final class NoSnapshotDataException(msg: String)
  extends IllegalStateException(msg)

/** Per-partition lineage recorded in the manifest (north rule: input
  * snapshot id, bucket id, row counts, checksums + status).
  *
  * `idMin`/`idMax` are an OPTIONAL record-id range covered by the
  * partition (recorded by writers whose id column is integral). Readers
  * use it to prune partition-level lookups — e.g.
  * [[graft.ops.IncrementalDedup]]'s replay guard reads only band
  * partitions whose range overlaps the increment's, O(overlap) instead
  * of O(corpus). Absent range = "unknown ids, must read" (safe default).
  */
final case class PartitionLineage(inputSnapshot: Long, status: String,
                                  error: Option[String] = None,
                                  idMin: Option[Long] = None,
                                  idMax: Option[Long] = None) {
  // Both-or-neither: a half-set range would be silently dropped by the
  // JSON round-trip (id_min/id_max serialize as a pair) — fail loudly
  // at construction instead of losing the bound.
  require(idMin.isDefined == idMax.isDefined,
    s"idMin/idMax must be both set or both empty (got $idMin/$idMax)")
}

final case class PartitionEntry(path: String, rows: Long, checksum: Long,
                                lineage: Option[PartitionLineage])

final case class Manifest(snapshot: Long, parent: Option[Long],
                          timestampMs: Long, partitionCol: String,
                          partitions: Map[String, PartitionEntry],
                          bucketCol: Option[String] = None) {

  def totalRows: Long = partitions.values.map(_.rows).sum

  def toJson: String = {
    def q(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    val parts = partitions.toSeq.sortBy(_._1).map { case (k, p) =>
      val lin = p.lineage.map(l =>
        s""","lineage":{"input_snapshot":${l.inputSnapshot},"status":${q(l.status)}""" +
          l.error.map(e => s""","error":${q(e)}""").getOrElse("") +
          l.idMin.zip(l.idMax).map { case (mn, mx) =>
            s""","id_min":$mn,"id_max":$mx""" }.getOrElse("") + "}")
        .getOrElse("")
      s"""${q(k)}:{"path":${q(p.path)},"rows":${p.rows},"checksum":${p.checksum}$lin}"""
    }.mkString("{", ",", "}")
    s"""{"format":${Manifest.FormatVersion},"snapshot":$snapshot,""" +
      s""""parent":${parent.map(_.toString).getOrElse("null")},""" +
      s""""timestamp_ms":$timestampMs,"partition_col":${q(partitionCol)},""" +
      bucketCol.map(b => s""""bucket_col":${q(b)},""").getOrElse("") +
      s""""partitions":$parts}"""
  }
}

object Manifest {
  /** Table-layout/manifest format version. Bumped whenever the on-disk
    * contract changes (v2: Hive-style `data/snap=<k>/<col>=<p>` layout +
    * name-sorted-column checksums; v1 — pre-round-2 `data/s<k>` — had no
    * version field at all). A versionless or mismatched manifest fails
    * fast at open instead of yielding silently different plans,
    * spurious snapshot diffs, or a NumberFormatException deep inside
    * [[TierTable.expireSnapshots]].
    *
    * v3 adds the optional lineage `id_min`/`id_max` range. The bump
    * matters even though the field is optional: a v2 reader's entry
    * regex would not match entries carrying the new keys and would
    * silently DROP those partitions rather than fail — exactly the
    * failure mode the version field exists to prevent. This reader
    * accepts v2 manifests (which cannot contain the field) and v3.
    *
    * v4 adds the optional `bucket_col` physical sub-clustering level
    * (`snap=<k>/<col>=<p>/<bucket>=<b>/`). A v3 reader would silently
    * read bucketed data WITHOUT typing the bucket column (int instead
    * of long → checksum drift) — same rationale, same bump. Accepts
    * v2/v3 (which cannot contain the field) and v4.
    */
  val FormatVersion: Long = 4L
  val ReadableVersions: Set[Long] = Set(2L, 3L, FormatVersion)

  /** Minimal JSON reader for manifests this class wrote (no external
    * JSON library; the format is fully under our control).
    */
  def fromJson(s: String): Manifest = {
    import scala.util.matching.Regex
    def longField(name: String): Long =
      s"""\"$name\":(-?\\d+)""".r.findFirstMatchIn(s).get.group(1).toLong
    val fmt = """"format":(\d+)""".r.findFirstMatchIn(s).map(_.group(1).toLong)
    fmt match {
      case None => throw new IllegalStateException(
        "unversioned (pre-v2) tier-table manifest: this table was " +
          "written with the legacy data/s<k> layout and must be " +
          "rebuilt (rebuildAll) — refusing to guess at its layout")
      case Some(v) if !ReadableVersions.contains(v) =>
        throw new IllegalStateException(
          s"tier-table manifest format $v not in supported " +
            ReadableVersions.toSeq.sorted.mkString("{", ",", "}"))
      case _ => ()
    }
    val parent = """"parent":(null|\d+)""".r.findFirstMatchIn(s).get.group(1) match {
      case "null" => None
      case n      => Some(n.toLong)
    }
    val partitionCol =
      """"partition_col":"((?:[^"\\]|\\.)*)"""".r.findFirstMatchIn(s).get.group(1)
    val bucketCol =
      """"bucket_col":"((?:[^"\\]|\\.)*)"""".r.findFirstMatchIn(s).map(_.group(1))
    val entryRe: Regex =
      ("\"((?:[^\"\\\\]|\\\\.)*)\":\\{\"path\":\"((?:[^\"\\\\]|\\\\.)*)\"," +
        "\"rows\":(-?\\d+),\"checksum\":(-?\\d+)" +
        "(?:,\"lineage\":\\{\"input_snapshot\":(-?\\d+),\"status\":\"((?:[^\"\\\\]|\\\\.)*)\"" +
        "(?:,\"error\":\"((?:[^\"\\\\]|\\\\.)*)\")?" +
        "(?:,\"id_min\":(-?\\d+),\"id_max\":(-?\\d+))?\\})?\\}").r
    val body = s.substring(s.indexOf("\"partitions\":") + "\"partitions\":".length)
    val parts = entryRe.findAllMatchIn(body).map { m =>
      val lineage = Option(m.group(5)).map(is =>
        PartitionLineage(is.toLong, m.group(6), Option(m.group(7)),
                         Option(m.group(8)).map(_.toLong),
                         Option(m.group(9)).map(_.toLong)))
      m.group(1) -> PartitionEntry(m.group(2), m.group(3).toLong,
                                   m.group(4).toLong, lineage)
    }.toMap
    Manifest(longField("snapshot"), parent, longField("timestamp_ms"),
             partitionCol, parts, bucketCol)
  }
}

object TierTable {
  /** JVM-wide per-root commit locks: serialize [[TierTable.publish]]'s
    * CURRENT check+move across every TierTable INSTANCE of one root in
    * this process (two instances over the same root are the spec-pinned
    * multi-writer shape; without the lock both could pass the parent
    * check before either moves CURRENT and the loser's snapshot would
    * silently vanish from history).
    */
  private val commitLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

  private[table] def commitLockFor(root: java.nio.file.Path): Object =
    commitLocks.computeIfAbsent(
      root.toAbsolutePath.normalize.toString, _ => new Object)
}
