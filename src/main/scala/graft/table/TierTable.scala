package graft.table

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.concurrent.TimeoutException

import scala.concurrent.Await
import scala.concurrent.duration._

import com.fasterxml.jackson.databind.JsonNode
import graft.core.Json
import org.apache.spark.sql.{Column, DataFrame, Encoder, Observation, Row, SparkSession}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, MapType, StructField, StructType}

/** Iceberg-shaped snapshot/manifest table layer over Parquet
  * directories — the exact subset of Iceberg semantics the target spec
  * exercises (incremental snapshots, partition-level commits, lineage),
  * with the catalog interface kept swappable for a real Iceberg runtime
  * (none ships in this sandbox; see SURVEY.md §4.3).
  *
  * Layout under `root/`:
  * {{{
  *   data/snap=<k>/part=<p>/…parquet one dir per (snapshot, partition)
  *   manifests/manifest-<k>.json     snapshot manifest (see [[Manifest]]):
  *                                   its schema and its partitions' files
  *   CURRENT                         atomic pointer: current snapshot id
  * }}}
  *
  * Both directory levels are Hive-style (`snap=<k>/<col>=<p>`) so a
  * snapshot read is ONE multi-path parquet scan with partition values
  * parsed relative to `data/` — the plan stays O(1) nodes no matter
  * how many partitions the snapshot spans (a per-leaf union would grow
  * the plan by one branch per partition: 1,000-node plans after three
  * years of daily partitions). Like an Iceberg manifest, the snapshot's
  * manifest names its schema as well as its files, so a read is given
  * the schema and starts no Spark job before its action.
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
    Manifest.fromJson(Files.readString(manifestFile(snapshot)))

  def currentManifest: Option[Manifest] = currentSnapshotId.map(manifest)

  private def manifestFile(id: Long) = manifests.resolve(s"manifest-$id.json")
  private def reserveFile(id: Long) = manifests.resolve(s".reserve-$id")

  /** Snapshot ids named in `manifests/`: published (`manifest-<id>.json`)
    * and reserved (`.reserve-<id>`).
    */
  private def listedIds(): (Seq[Long], Seq[Long]) = {
    import scala.jdk.CollectionConverters._
    val names = scala.util.Using.resource(Files.list(manifests))(
      _.iterator().asScala.map(_.getFileName.toString).toList)
    (names.collect { case TierTable.ManifestName(id) => id.toLong },
     names.collect { case TierTable.ReserveName(id) => id.toLong })
  }

  /** Atomically point CURRENT at `snapshot` (temp file + rename). */
  private def writeCurrent(snapshot: Long): Unit = {
    val ctmp = rootPath.resolve(".CURRENT.tmp")
    Files.writeString(ctmp, snapshot.toString)
    Files.move(ctmp, current, StandardCopyOption.ATOMIC_MOVE,
               StandardCopyOption.REPLACE_EXISTING)
  }

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
    while (true) {
      val (published, reserved) = listedIds()
      val ids = published ++ reserved
      val id = if (ids.isEmpty) 0L else ids.max + 1L
      try {
        Files.createFile(reserveFile(id))
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
    * Single-pass: the parquet write is the commit's only Spark job.
    * Its plan carries a `Dataset.observe` of [[TierTable.PartitionStats]]
    * (rows + checksum per partition), so the stats are gathered from the
    * rows as they stream into the writer and read back from an
    * [[org.apache.spark.sql.Observation]] once the write returns — no
    * cache, no second aggregate, and the commit never re-reads what it
    * just wrote (at 100 TB a post-write stats scan would double
    * write-path I/O). The observation sits in the write's result stage,
    * above any exchange: Spark applies a result task's accumulator
    * updates once per partition, even when a task or stage is retried.
    * Stats that do not arrive within [[TierTable.ObservedWait]] fail the
    * commit before anything is published.
    *
    * Empty-partition contract: a key in `lineage` (the requested
    * recompute set) that produced zero rows is recorded as an explicit
    * empty partition (rows=0, no data path) and is NOT carried forward
    * — an empty recompute result deletes the partition's old contents
    * instead of silently resurrecting them.
    *
    * Schema contract: the manifest records the schema a read returns.
    * A commit keeps its parent's schema, column order included, when it
    * writes no rows or rows of the same columns in any order (parquet
    * resolves columns by name, and the checksum hashes them
    * name-sorted); one that writes rows of other columns or types
    * (nullability aside) over a parent still holding data partitions
    * fails before publish, since one snapshot's files must share one
    * schema.
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
    // a fresh UUID name: two tables may reserve the same snapshot id
    val observation = new Observation()
    // order-insensitive content checksum: XOR-fold of per-row xxhash64
    // over name-sorted columns (sum would overflow long under ANSI
    // arithmetic)
    val rowHash = xxhash64(df.columns.sorted.map(c => col(s"`$c`")).toIndexedSeq: _*)
    df.observe(observation,
        TierTable.partitionStats(col(partitionCol).cast("string"), rowHash).as("stats"))
      .write
      .partitionBy(partitionCol +: effBucket.toSeq: _*)
      .mode("overwrite").parquet(dataDir)
    val observed = observedStats(observation).getOrElse(
      throw new IllegalStateException(
        s"commit of snapshot $snap at $root: the write's partition stats " +
          s"were not observed within ${TierTable.ObservedWait} — nothing published"))
    val stats = observed.getMap[String, Row](0).iterator.map { case (p, r) =>
      p -> PartitionEntry(s"data/snap=$snap/$partitionCol=$p",
                          r.getLong(0), r.getLong(1), lineage.get(p))
    }.toMap
    val written = TierTable.readSchema(df.schema, partitionCol, effBucket)
    val schema = parent match {
      case Some(p) if stats.isEmpty || p.schema.sortBy(_.name) == written.sortBy(_.name) =>
        p.schema
      case Some(p) if p.partitions.values.exists(_.path.nonEmpty) =>
        throw new IllegalStateException(
          s"commit of snapshot $snap at $root writes schema ${written.toDDL} over data " +
            s"of schema ${p.schema.toDDL} — nothing published")
      case _ => written
    }

    // Requested partitions that produced no rows: explicit empties.
    val empties = (lineage.keySet -- stats.keySet).map(k =>
      k -> PartitionEntry("", 0L, 0L, lineage.get(k))).toMap

    // Carry forward untouched partitions from the parent.
    val fresh = stats ++ empties
    val carried = parent.map(_.partitions).getOrElse(Map.empty) -- fresh.keySet
    val m = Manifest(snap, parent.map(_.snapshot), stamp, partitionCol,
                     carried ++ fresh, effBucket, schema)
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
        if (!Files.exists(manifestFile(snap)))
          Files.deleteIfExists(reserveFile(snap))
        throw t
    }

  /** The observed stats row of a finished write, waiting at most
    * [[TierTable.ObservedWait]] (the metrics reach the [[Observation]]
    * through the listener bus, after the write returns); None if they do
    * not arrive. A test hook: a spec swaps it to stand in for metrics
    * that never come.
    */
  private[table] var observedStats: Observation => Option[Row] = o =>
    try Some(Await.result(o.future, TierTable.ObservedWait))
    catch { case _: TimeoutException => None }

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
    val target = manifestFile(m.snapshot)
    if (Files.exists(target))
      throw new java.util.ConcurrentModificationException(
        s"snapshot ${m.snapshot} already published at $root " +
          "(concurrent writer) — retry from a fresh read")
    val tmp = manifests.resolve(s".manifest-${m.snapshot}.json.tmp")
    Files.writeString(tmp, m.toJson)
    Files.move(tmp, target, StandardCopyOption.ATOMIC_MOVE)
    // the manifest now protects the id; the reservation can go (even if
    // the CAS below fails, the id is never reused)
    Files.deleteIfExists(reserveFile(m.snapshot))
    // the interleave hook stays OUTSIDE the lock (a hooked spec thread
    // may wait for a concurrent publish, which needs the lock)
    beforeCurrentMove()
    TierTable.commitLockFor(rootPath).synchronized {
      val now = currentSnapshotId
      if (now != expectedParent)
        throw new java.util.ConcurrentModificationException(
          s"concurrent commit at $root: this commit's parent is " +
            s"$expectedParent but CURRENT is now $now — retry from a fresh read")
      writeCurrent(m.snapshot)
    }
    m
  }

  /** Read the current snapshot (one multi-path scan of its partition
    * directories).
    */
  def read(): DataFrame = readManifest(snapshotToRead, None)

  /** Pruned read: only the requested partitions' directories are
    * listed and scanned — the plan and the I/O are O(|partitions|),
    * never O(table). Keys absent from the snapshot (or explicitly
    * empty) are skipped.
    */
  def read(partitions: Set[String]): DataFrame =
    readManifest(snapshotToRead, Some(partitions))

  private def snapshotToRead: Manifest = currentManifest.getOrElse(
    throw new NoSnapshotDataException(s"no snapshot at $root"))

  /** Partition keys present (non-empty) in the current snapshot. */
  def partitionKeys: Set[String] =
    currentManifest.map(_.partitions.collect {
      case (k, p) if p.path.nonEmpty => k
    }.toSet).getOrElse(Set.empty)

  /** Partition leaves of one snapshot live under different snap=<k>
    * dirs (copy-on-write); both levels are Hive-style, so ONE
    * multi-path read with basePath=data/ takes (snap, partition) from
    * the directory names — plan size O(1), not one union branch per
    * partition. The manifest's schema types every column, the partition
    * and bucket columns included, so no footer is read to infer it. A
    * selection with no data partition (explicit empties carry no path)
    * is an empty relation of that schema.
    */
  private def readManifest(m: Manifest, only: Option[Set[String]]): DataFrame = {
    val paths = m.partitions.toSeq.sortBy(_._1).collect {
      case (k, p) if p.path.nonEmpty && only.forall(_.contains(k)) => s"$root/${p.path}"
    }
    if (paths.isEmpty) spark.createDataFrame(java.util.List.of[Row](), m.schema)
    else spark.read.schema(m.schema).option("basePath", s"$root/data")
      .parquet(paths: _*).drop("snap")
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
                     parent.partitionCol, kept, parent.bucketCol, parent.schema)
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
    require(Files.exists(manifestFile(snapshot)),
      s"no manifest for snapshot $snapshot at $root")
    writeCurrent(snapshot)
  }

  /** Expire history: keep the `keepLast` most recent snapshots (always
    * at least the current one), delete older manifests, and remove every
    * `data/snap=<k>` directory, and every `data/snap=<k>/<col>=<p>`
    * partition directory, that no kept manifest references — the
    * Iceberg expire-snapshots maintenance analog. Copy-on-write means
    * old snapshot dirs can still back current partitions, so a
    * retention commit that drops some of a snapshot dir's partitions
    * frees exactly those. Only dirs of published ids are touched: an id
    * that is merely reserved may still be being written. Returns the
    * ids whose whole snapshot dir was deleted.
    */
  def expireSnapshots(keepLast: Int): Seq[Long] = {
    require(keepLast >= 1, "must keep at least the current snapshot")
    import scala.jdk.CollectionConverters._
    import scala.util.Using
    val ids = listedIds()._1.sorted
    // after a rollback the current snapshot may be OLD — it must
    // survive expiry regardless of recency
    val cur = currentSnapshotId
    val (dropRaw, keepRaw) = ids.splitAt(math.max(ids.size - keepLast, 0))
    val drop = dropRaw.filterNot(cur.contains)
    val keep = keepRaw ++ dropRaw.filter(cur.contains)
    // path shape: data/snap=<k>/<col>=<v>
    val referenced: Set[String] = keep.flatMap(id =>
      manifest(id).partitions.values.map(_.path).filter(_.nonEmpty)).toSet
    val referencedSnaps = referenced.map(_.split("/")(1).stripPrefix("snap=").toLong)
    drop.foreach(id => Files.deleteIfExists(manifestFile(id)))
    def deleteTree(dir: java.nio.file.Path): Unit =
      if (Files.exists(dir)) Using.resource(Files.walk(dir)) { walk =>
        walk.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists(_))
      }
    val deletable = drop.filterNot(referencedSnaps.contains)
    deletable.foreach(id => deleteTree(rootPath.resolve(s"data/snap=$id")))
    // a snapshot dir that still backs kept partitions loses the others
    // (a referenced id was published, even if its manifest is expired)
    referencedSnaps.foreach { id =>
      val dir = rootPath.resolve(s"data/snap=$id")
      Using.resource(Files.list(dir))(_.iterator().asScala.toList)
        .filter(p => Files.isDirectory(p) && p.getFileName.toString.contains("=") &&
          !referenced.contains(s"data/snap=$id/${p.getFileName}"))
        .foreach(deleteTree)
    }
    // garbage-collect reservations from writers that crashed before
    // publishing: a `.reserve-<id>` with id at or below CURRENT can
    // never be claimed again (ids only advance past existing
    // manifests), so deleting it is safe even if its writer were
    // somehow still alive — and without this sweep every crashed
    // writer's file is rescanned by all future reserveSnapshotId calls
    // forever.
    cur.foreach { c =>
      listedIds()._2.filter(_ <= c).foreach(id => Files.deleteIfExists(reserveFile(id)))
    }
    deletable
  }
}

/** Raised when a read finds no snapshot: the table has never been
  * committed. Deliberately distinct from the plain
  * IllegalStateExceptions that signal CORRUPTION (unversioned or
  * unsupported manifest formats, missing fields), so a caller that
  * treats a fresh table as empty (e.g.
  * [[graft.ops.IncrementalDedup.pairs]]) catches THIS type only and a
  * corrupt manifest still fails loudly.
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

/** One snapshot: its partitions' files and lineage, and the schema a
  * read of them returns.
  */
final case class Manifest(snapshot: Long, parent: Option[Long],
                          timestampMs: Long, partitionCol: String,
                          partitions: Map[String, PartitionEntry],
                          bucketCol: Option[String] = None,
                          schema: StructType = new StructType()) {

  def totalRows: Long = partitions.values.map(_.rows).sum

  /** Compact JSON: fixed key order, partitions sorted by key, optional
    * keys (`bucket_col`, `lineage`, `error`, the id range) omitted when
    * unset, `parent` written as null for a root snapshot, the schema in
    * Spark's JSON form.
    */
  def toJson: String = {
    val o = Json.obj().put("format", Manifest.FormatVersion)
      .put("snapshot", snapshot)
    parent.fold(o.putNull("parent"))(o.put("parent", _))
    o.put("timestamp_ms", timestampMs).put("partition_col", partitionCol)
    bucketCol.foreach(o.put("bucket_col", _))
    o.set[JsonNode]("schema", Json.tree(schema.json))
    val parts = o.putObject("partitions")
    for ((k, p) <- partitions.toSeq.sortBy(_._1)) {
      val e = parts.putObject(k).put("path", p.path).put("rows", p.rows)
        .put("checksum", p.checksum)
      p.lineage.foreach { l =>
        val lo = e.putObject("lineage")
          .put("input_snapshot", l.inputSnapshot).put("status", l.status)
        l.error.foreach(lo.put("error", _))
        l.idMin.zip(l.idMax).foreach { case (mn, mx) =>
          lo.put("id_min", mn).put("id_max", mx) }
      }
    }
    Json.write(o)
  }
}

object Manifest {
  /** Table-layout/manifest format version, the only one this reader
    * opens. Format 5 records the snapshot's schema, which every read is
    * given; a manifest of an earlier format carries none, so its table
    * must be rebuilt rather than read by inferring one. A versionless
    * (pre-v2, `data/s<k>` layout) or unknown format fails at open too,
    * instead of yielding silently different plans or spurious snapshot
    * diffs.
    */
  val FormatVersion: Long = 5L
  val ReadableVersions: Set[Long] = Set(FormatVersion)

  /** Reads fields by name in any order; a missing or mistyped field
    * fails naming it, so no partition entry is ever silently dropped.
    */
  def fromJson(s: String): Manifest = {
    val m = Json.parse(s, "tier-table manifest")
    m.optLong("format") match {
      case None => throw new IllegalStateException(
        "unversioned (pre-v2) tier-table manifest: this table was " +
          "written with the legacy data/s<k> layout and must be " +
          "rebuilt (rebuildAll) — refusing to guess at its layout")
      case Some(v) if !ReadableVersions.contains(v) =>
        throw new IllegalStateException(
          s"tier-table manifest format $v not in supported " +
            ReadableVersions.toSeq.sorted.mkString("{", ",", "}") +
            ": rebuild the table (a manifest before format 5 records no schema)")
      case _ => ()
    }
    val parts = m.obj("partitions").members.map { case (k, p) =>
      val lineage = p.optObj("lineage").map(l =>
        PartitionLineage(l.long("input_snapshot"), l.str("status"),
                         l.optStr("error"), l.optLong("id_min"),
                         l.optLong("id_max")))
      k -> PartitionEntry(p.str("path"), p.long("rows"), p.long("checksum"),
                          lineage)
    }.toMap
    val schema = DataType.fromJson(m.obj("schema").json) match {
      case s: StructType => s
      case t => throw new IllegalStateException(
        s"tier-table manifest: schema is not a struct: ${t.simpleString}")
    }
    Manifest(m.long("snapshot"), m.optLong("parent"), m.long("timestamp_ms"),
             m.str("partition_col"), parts, m.optStr("bucket_col"), schema)
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

  /** How long a commit waits for its write's observed stats. */
  private[table] val ObservedWait: FiniteDuration = 2.minutes

  private type Stats = Map[String, (Long, Long)]

  /** A commit's per-partition stats: partition value (as a string) →
    * (rows, XOR of the rows' hashes). Evaluated by the write's
    * `Dataset.observe`; the buffer stays a JVM map for a whole task and
    * is serialized once, when the task's accumulator update ships.
    */
  private object PartitionStats extends Aggregator[(String, Long), Stats, Stats] {
    private def add(b: Stats, p: String, rows: Long, checksum: Long): Stats = {
      val (r, c) = b.getOrElse(p, (0L, 0L))
      b.updated(p, (r + rows, c ^ checksum))
    }
    def zero: Stats = Map.empty
    def reduce(b: Stats, in: (String, Long)): Stats = add(b, in._1, 1L, in._2)
    def merge(a: Stats, b: Stats): Stats =
      b.foldLeft(a) { case (acc, (p, (r, c))) => add(acc, p, r, c) }
    def finish(b: Stats): Stats = b
    def bufferEncoder: Encoder[Stats] = ExpressionEncoder[Stats]()
    def outputEncoder: Encoder[Stats] = ExpressionEncoder[Stats]()
  }

  private val partitionStats = udaf(PartitionStats)

  /** The schema a read of `df` committed by `partitionCol` (and
    * `bucketCol`) returns: the data columns in write order, then the
    * partition and bucket columns as long, everything nullable as a
    * parquet read makes it.
    */
  private def readSchema(df: StructType, partitionCol: String,
                         bucketCol: Option[String]): StructType = {
    val dirCols = partitionCol +: bucketCol.toSeq
    StructType(df.filterNot(f => dirCols.contains(f.name)).map(f =>
      StructField(f.name, nullable(f.dataType), nullable = true, f.metadata)) ++
      dirCols.map(StructField(_, LongType)))
  }

  private def nullable(t: DataType): DataType = t match {
    case s: StructType => StructType(s.map(f =>
      f.copy(dataType = nullable(f.dataType), nullable = true)))
    case ArrayType(e, _) => ArrayType(nullable(e), containsNull = true)
    case MapType(k, v, _) => MapType(nullable(k), nullable(v), valueContainsNull = true)
    case other => other
  }

  private val ManifestName = """manifest-(\d+)\.json""".r
  private val ReserveName = """\.reserve-(\d+)""".r
}
