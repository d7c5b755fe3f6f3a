package graft.table

import graft.SparkSuite
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Physical-layout contracts of [[TierTable]]: z-order compaction must
  * produce files that actually prune on BOTH clustering dimensions, and
  * the CURRENT move must refuse to silently drop a concurrent commit.
  */
class TierTableLayoutSpec extends AnyFunSuite with SparkSuite {

  private def tmpRoot(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft-$tag").toString

  /** 64×64 grid in one day partition: x and y each span 0..63. */
  private def grid() = {
    import spark.implicits._
    (0L until 4096L)
      .map(i => (0L, i % 64L, i / 64L, i))
      .toDF("day_epoch", "x", "y", "v")
      .repartition(8)
  }

  /** Per-file (min,max) boxes of `c`, and the count of files whose box
    * intersects [lo, hi].
    */
  private def candidates(df: org.apache.spark.sql.DataFrame, c: String,
                         lo: Long, hi: Long): (Long, Long) = {
    val boxes = df.groupBy(input_file_name().as("f"))
      .agg(min(col(c)).as("mn"), max(col(c)).as("mx"))
    val total = boxes.count()
    val cand = boxes.filter(col("mn") <= hi && col("mx") >= lo).count()
    (cand, total)
  }

  test("z-order compaction: per-file boxes prune point/range queries on both dims") {
    val zt = new TierTable(tmpRoot("ztable"), spark).init()
    zt.commitOverwrite(grid(), "day_epoch")
    val before = zt.currentManifest.get.partitions("0")
    zt.compactPartitionsZOrder(Set("0"), col("x"), col("y"), bits = 6,
                               filesPerPartition = 8)
    // content untouched: rows + order-insensitive checksum survive
    val after = zt.currentManifest.get.partitions("0")
    assert(after.rows == before.rows && after.checksum == before.checksum)

    // hash-split baseline: same data, same file count, no clustering
    val ht = new TierTable(tmpRoot("htable"), spark).init()
    ht.commitOverwrite(grid(), "day_epoch")
    ht.compactPartitions(Set("0"), filesPerPartition = 8)

    val zdf = zt.read()
    val hdf = ht.read()
    // an x-slab one-eighth of the domain: the z layout must prune most
    // files; the hash layout prunes none (every file spans ~everything)
    val (zx, zn) = candidates(zdf, "x", 8L, 15L)
    val (hx, hn) = candidates(hdf, "x", 8L, 15L)
    // the z split produces the full file budget (range partitioning has
    // no collisions); the hash baseline may collide at toy scale — the
    // comparison below is on pruning FRACTION, not file count
    assert(zn == 8 && hn >= 2, s"file counts: z=$zn hash=$hn")
    assert(hx == hn, s"hash layout unexpectedly pruned: $hx of $hn")
    // ideal blocks give 4/8; sample-derived boundaries can straddle one
    // block edge → allow one extra, still a real pruning win vs hash's 0
    assert(zx <= zn * 3 / 4, s"z layout pruned too little on x: $zx of $zn")
    // and the SAME layout prunes on y too — the whole point of z-order
    // over a lexicographic (x, y) sort
    val (zy, _) = candidates(zdf, "y", 8L, 15L)
    val (hy, _) = candidates(hdf, "y", 8L, 15L)
    assert(hy == hn, s"hash layout unexpectedly pruned on y: $hy of $hn")
    assert(zy <= zn * 3 / 4, s"z layout pruned too little on y: $zy of $zn")
  }

  test("bucket level cannot be added once unbucketed data exists") {
    val t = new TierTable(tmpRoot("bucketadd"), spark).init()
    t.commitOverwrite(grid(), "day_epoch")
    val withB = grid().withColumn("b", pmod(col("v"), lit(4L)))
    // adding a bucket level would mix Hive directory depths across
    // carried-forward partitions — refused
    intercept[IllegalStateException] {
      t.commitOverwrite(withB, "day_epoch", bucketCol = Some("b"))
    }
    // a FRESH table adopts the spec fine, records it, and reads typed
    val t2 = new TierTable(tmpRoot("bucketnew"), spark).init()
    t2.commitOverwrite(withB, "day_epoch", bucketCol = Some("b"))
    assert(t2.currentManifest.get.bucketCol.contains("b"))
    assert(t2.read().schema("b").dataType ==
           org.apache.spark.sql.types.LongType)
  }

  test("concurrent commit: CURRENT move is CAS-guarded, loser fails loudly and can retry") {
    import spark.implicits._
    val root = tmpRoot("cas")
    val t = new TierTable(root, spark).init()
    def day(d: Long, tag: Long) =
      Seq((d, tag)).toDF("day_epoch", "v")
    t.commitOverwrite(day(0L, 0L), "day_epoch") // snapshot 0
    // interleave a competing writer between this commit's parent read
    // and its CURRENT move — the exact window the guard closes
    val other = new TierTable(root, spark).init()
    var winnerSnap = -1L
    t.beforeCurrentMove = () => {
      t.beforeCurrentMove = () => ()
      winnerSnap = other.commitOverwrite(day(1L, 1L), "day_epoch").snapshot
    }
    intercept[java.util.ConcurrentModificationException] {
      t.commitOverwrite(day(2L, 2L), "day_epoch")
    }
    // the winner's commit is intact — nothing was silently dropped
    assert(t.currentManifest.get.snapshot == winnerSnap)
    assert(t.partitionKeys == Set("0", "1"))
    // the loser retries from a fresh read and lands on top of the winner
    t.commitOverwrite(day(2L, 2L), "day_epoch")
    assert(t.partitionKeys == Set("0", "1", "2"))
    assert(t.currentManifest.get.parent.contains(winnerSnap))
  }

  test("concurrent commit: racing THREADS through separate instances lose nothing") {
    // the round-5 guard was check-then-move with no lock: two threads
    // could both read the same parent before either moved CURRENT and
    // the loser's snapshot silently vanished. The commit lock makes the
    // in-process swap a true CAS: over repeated racing trials, every
    // committed partition is in history (losers fail loudly and retry).
    import spark.implicits._
    val root = tmpRoot("cas-threads")
    val t0 = new TierTable(root, spark).init()
    t0.commitOverwrite(Seq((0L, 0L)).toDF("day_epoch", "v"), "day_epoch")
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try {
      for (trial <- 1 to 5) {
        val tags = Seq(trial * 10L, trial * 10L + 1L)
        val futs = tags.map { tag =>
          pool.submit(new java.util.concurrent.Callable[Unit] {
            def call(): Unit = {
              val inst = new TierTable(root, spark).init()
              var attempts = 0
              var done = false
              while (!done) {
                attempts += 1
                try {
                  inst.commitOverwrite(
                    Seq((tag, tag)).toDF("day_epoch", "v"), "day_epoch")
                  done = true
                } catch {
                  case _: java.util.ConcurrentModificationException
                      if attempts < 10 => () // lost the CAS — retry
                }
              }
            }
          })
        }
        futs.foreach(_.get())
        val keys = t0.partitionKeys
        tags.foreach(tag => assert(keys.contains(tag.toString),
          s"trial $trial lost commit $tag — CURRENT swap dropped a snapshot"))
      }
    } finally pool.shutdown()
  }

  test("expireSnapshots sweeps crashed reservations at or below CURRENT") {
    import spark.implicits._
    val root = tmpRoot("resgc")
    val t = new TierTable(root, spark).init()
    t.commitOverwrite(Seq((0L, 1L)).toDF("day_epoch", "v"), "day_epoch")
    t.commitOverwrite(Seq((1L, 2L)).toDF("day_epoch", "v"), "day_epoch")
    val manifests = java.nio.file.Paths.get(root, "manifests")
    // a writer that crashed before publish: id <= CURRENT → unclaimable
    // forever, so the sweep removes it
    val stale = manifests.resolve(".reserve-1")
    java.nio.file.Files.createFile(stale)
    t.expireSnapshots(keepLast = 10)
    assert(!java.nio.file.Files.exists(stale),
      "stale reservation survived expiry")
    // a reservation ABOVE current may belong to an in-flight writer —
    // it must survive, and id allocation still advances past it
    val live = manifests.resolve(".reserve-99")
    java.nio.file.Files.createFile(live)
    t.expireSnapshots(keepLast = 10)
    assert(java.nio.file.Files.exists(live),
      "possibly-live reservation was swept")
    val m = t.commitOverwrite(Seq((2L, 3L)).toDF("day_epoch", "v"), "day_epoch")
    assert(m.snapshot == 100L, s"id did not advance past the live reservation")
  }

  /** Regular files under `data/snap=<k>/<col>=<p>/` (data files and their
    * `.crc` siblings), as (partition dir relative to the root, file).
    */
  private def dataFiles(root: String): Seq[(String, java.nio.file.Path)] = {
    import scala.jdk.CollectionConverters._
    val r = java.nio.file.Paths.get(root)
    scala.util.Using.resource(java.nio.file.Files.walk(r.resolve("data")))(
      _.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_)).toList)
      .map(f => r.relativize(f))
      .filter(_.getNameCount >= 4)
      .map(f => f.subpath(0, 3).toString -> f)
  }

  for (bucketed <- Seq(false, true))
  test(s"expireSnapshots reclaims partition dirs no kept manifest references (bucketed=$bucketed)") {
    import spark.implicits._
    val root = tmpRoot("reclaim")
    val t = new TierTable(root, spark).init()
    val bucket = if (bucketed) Some("b") else None
    def days(ds: Seq[Long], tag: Long) = {
      val df = ds.flatMap(d => (0L until 6L).map(i => (d, i, tag))).toDF("day_epoch", "i", "v")
      if (bucketed) df.withColumn("b", pmod(col("i"), lit(3L))) else df
    }
    // days 1..3 share data/snap=0; day 3 is then rewritten into snap=1
    t.commitOverwrite(days(Seq(1L, 2L, 3L), 0L), "day_epoch", bucketCol = bucket)
    t.commitOverwrite(days(Seq(3L), 1L), "day_epoch", bucketCol = bucket)
    // a writer still in flight: reserved id, partial data, no manifest
    val inFlight = java.nio.file.Paths.get(root, "data/snap=50/day_epoch=9")
    java.nio.file.Files.createDirectories(inFlight)
    java.nio.file.Files.writeString(inFlight.resolve("part-0.parquet"), "partial")
    java.nio.file.Files.createFile(java.nio.file.Paths.get(root, "manifests/.reserve-50"))

    assert(t.commitRetention(_ != "1") == Set("1"))
    t.expireSnapshots(keepLast = 1)

    val m = t.currentManifest.get
    val live = m.partitions.values.map(_.path).filter(_.nonEmpty).toSet
    assert(live == Set("data/snap=0/day_epoch=2", "data/snap=1/day_epoch=3"))
    val (kept, stray) = dataFiles(root).partition { case (dir, _) => live(dir) }
    assert(stray.map(_._1).distinct == Seq("data/snap=50/day_epoch=9"),
      s"unreferenced data survived expiry (or the in-flight write was touched): $stray")
    assert(kept.exists(_._2.toString.endsWith(".parquet")))
    // the current snapshot still reads in full
    val back = t.read()
    assert(back.count() == m.totalRows && m.totalRows == 12L)
    assert(back.select("day_epoch").distinct().as[Long].collect().toSet == Set(2L, 3L))
    assert(back.filter(col("day_epoch") === 3L).select("v").distinct().as[Long]
      .collect().toSeq == Seq(1L))
  }
}
