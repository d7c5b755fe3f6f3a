package graft.ops

import graft.core.Json
import graft.table.{PartitionLineage, TierTable}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType}

/** Incremental cross-snapshot near-duplicate detection — the composition
  * a continuous-ingest corpus actually runs: instead of re-running
  * MinHash+LSH over the whole corpus per batch (O(corpus) map work,
  * O(corpus) pair generation), the corpus's LSH band stream
  * (`_id`, band, band_hash) is maintained as a snapshot table, and each
  * ingest
  *
  *  1. computes signatures + bands for the INCREMENT only (the O(n)
  *     expensive map work: shingling + seeded md5s),
  *  2. commits them as a new `ingest_seq` partition (copy-on-write —
  *     prior ingests' bands are carried forward untouched), with the
  *     increment's id-range recorded in the partition lineage,
  *  3. generates exactly the NEW pair witnesses: (bucket, id_a, id_b)
  *     rows where the later member arrived this ingest — every witness
  *     is discovered at the ingest of its LATER member, so per-ingest
  *     witness sets are disjoint,
  *  4. records the witnesses per snapshot in a second table (lineage:
  *     which band snapshot produced them).
  *
  * Convergence contract (EXACT, cap included): [[pairs]] re-filters the
  * recorded witnesses by the CURRENT cumulative bucket size, so its
  * result equals the full-corpus batch [[Dedup.minHashLsh]] run even
  * when a bucket crosses `maxBucket` mid-stream — batch drops an
  * over-cap bucket's pairs entirely, and so does the final filter here
  * (witnesses emitted while the bucket was small are recorded but
  * masked once it outgrows the cap; bucket membership only ever grows,
  * so a bucket whose final size is under the cap recorded ALL its
  * witnesses). Oracle-gated against the batch SQL.
  *
  * Scale shape: the corpus band table is NEVER shuffled at ingest —
  * corpus rows are pre-filtered to the increment's buckets by a
  * BROADCAST semi-join on the increment's distinct (band, band_hash)
  * keys (an increment of n docs touches ≤ n·bands buckets), so the only
  * exchange carries bucket-matching rows, bounded by increment-buckets
  * × bucket size. The ingest-time skew cap bounds pair GENERATION by
  * the cumulative bucket size at pairing time.
  *
  * Scan I/O is bounded the same way: the band table is PHYSICALLY
  * bucketed by `band_bucket = xxhash64(band_hash) mod hashBuckets`
  * (the [[TierTable]] bucket level), and every corpus-side read —
  * [[witnessesFor]]'s as-of scan and [[pairs]]'s final-size pass —
  * filters to the band buckets its increment/witness set actually
  * touches, which Spark turns into partition-directory pruning on the
  * scan (spec-pinned via the files-read metric). Per-ingest witness
  * generation therefore reads O(touched buckets) files, never the
  * whole band table — the last O(corpus) per-increment cost is gone.
  *
  * Crash safety: the two commits (bands, then witnesses) are healed at
  * the start of every [[ingest]] and [[pairs]] call — a band partition
  * lacking its witness partition (crash between the commits) has its
  * witnesses regenerated AS OF its ingest before any known-id skipping,
  * so a replayed crashed ingest can never permanently lose pairs.
  *
  * Replay guard is O(overlap), not O(corpus): each band partition's
  * lineage records the ingested id-range, and the known-id check reads
  * ONLY the partitions whose range overlaps the increment's
  * ([[overlappingBandSeqs]]) — an append-style workload with fresh ids
  * reads zero band partitions.
  *
  * Lifecycle: [[expire]] ages out old ingests from both tables
  * (manifest-only retention + snapshot expiry) and [[compact]] rebuilds
  * the witness table from the surviving bands — a batch pair-generation
  * pass that never recomputes signatures (the expensive map work stays
  * amortized), after which [[pairs]] equals the batch run over the
  * surviving corpus (spec-pinned), including buckets that dropped back
  * under the cap when their old members aged out.
  *
  * Reference analog: the watermark-driven touched-set recompute of
  * /root/reference/src/vptstools/bin/vph5_to_vpts.py:120-144, applied
  * to the dedup stage instead of the rollup cascade.
  */
final class IncrementalDedup(spark: SparkSession, root: String,
                             numHashes: Int = 16, bands: Int = 4,
                             shingleK: Int = 3, maxBucket: Int = 1000,
                             hashBuckets: Int = 64) {

  private val bandTable = new TierTable(s"$root/bands", spark).init()
  private val pairTable = new TierTable(s"$root/pairs", spark).init()

  // The signature/bucketing knobs are part of the ON-DISK contract: a
  // reopen with different numHashes/bands/shingleK would mix
  // incomparable signatures across ingests, and a different
  // hashBuckets would mismatch the stored band_bucket values — both
  // silently LOSING pairs. The first construction persists the config;
  // every later one must match it exactly (maxBucket is deliberately
  // NOT pinned: it is a query-time mask, re-applied from current state
  // by pairs()).
  locally {
    import java.nio.file.{Files => F, Paths}
    val cfgPath = Paths.get(s"$root/DEDUP_CONFIG")
    val knobs = Seq("num_hashes" -> numHashes, "bands" -> bands,
                    "shingle_k" -> shingleK, "hash_buckets" -> hashBuckets)
    val cfg = Json.write(
      knobs.foldLeft(Json.obj()) { case (o, (k, v)) => o.put(k, v) })
    if (!F.exists(cfgPath)) {
      // content-atomic claim: write the full content to a unique temp
      // file and hard-LINK it into place — createLink fails if a
      // concurrent first construction already won (rename REPLACES on
      // Linux, so it cannot arbitrate), and a successfully claimed file
      // carries its content from the first instant, so no reader can
      // ever observe an empty config (the round-5 createFile-then-write
      // claim left a permanently empty file if the winner crashed
      // between the two steps, and made racing losers spin-poll).
      // Migration note: a pre-config table pins the knobs of its first
      // post-upgrade open — the caller must pass the original values.
      val tmp = Paths.get(
        s"$root/.DEDUP_CONFIG.${java.util.UUID.randomUUID()}.tmp")
      F.writeString(tmp, cfg)
      try F.createLink(cfgPath, tmp)
      catch { case _: java.nio.file.FileAlreadyExistsException => () }
      finally F.deleteIfExists(tmp)
    }
    val stored = F.readString(cfgPath)
    val parsed = Json.parse(stored, s"dedup config $cfgPath")
    require(knobs.forall { case (k, v) => parsed.long(k) == v },
      s"dedup table at $root was created with ${stored.trim}; " +
        s"reopening with $cfg would silently lose pairs")
  }

  /** Physical clustering key of the band table: a stable hash of the
    * LSH bucket key, so all members of one (band, band_hash) bucket —
    * the only rows any witness pass ever joins — live in the same
    * bucket directory of every ingest partition. Spark-internal only
    * (never crosses to the oracle), so xxhash64 is fine.
    */
  private def bandBucket(bandHash: org.apache.spark.sql.Column) =
    pmod(xxhash64(bandHash), lit(hashBuckets.toLong))

  /** The empty witness frame, typed as [[witnessesFor]] types its rows
    * (`band` int as [[Dedup.lshBands]] makes it, long ids): a local
    * relation, and committing it writes no data files.
    */
  private def emptyWitnesses(): DataFrame = {
    import org.apache.spark.sql.types._
    spark.createDataFrame(java.util.List.of[org.apache.spark.sql.Row](),
      StructType(Seq(StructField("band", IntegerType),
        StructField("band_hash", StringType),
        StructField("id_a", LongType), StructField("id_b", LongType))))
  }

  /** Ingest one increment; returns the NEW near-dup candidate pairs it
    * introduces (id_a < id_b, distinct), already recorded in the
    * witness table under this ingest's sequence number.
    *
    * Replay-safe (the I5 contract [[graft.run.TierRunner.ingest]]
    * keeps for raw days, applied here): ids already present in the
    * band table are dropped from the increment BEFORE the signature
    * work, so re-running a crashed or duplicated ingest is a no-op —
    * no duplicate band rows, no re-emitted pairs. The known-id check
    * reads only the range-overlapping band partitions (see class doc)
    * and semi-joins them against the broadcast increment ids — never a
    * corpus scan, never a corpus shuffle. A crashed half-ingest (bands
    * committed, witnesses not) is healed first, so the skip can never
    * drop an increment whose pairs were not yet generated.
    */
  def ingest(increment: DataFrame, idCol: String, textCol: String): DataFrame = {
    heal()
    val seq = bandTable.currentSnapshotId.map(_ + 1).getOrElse(0L)

    // the increment's distinct ids feed BOTH the id-range metadata and
    // the known-id broadcast — persisted (ids only, operator-scoped,
    // unpersisted below) so an expensive upstream increment plan is
    // evaluated once for them, not once per use
    val incIds = increment.select(col(idCol).as("_id")).distinct().persist()
    try {
      // id-range of the increment (integral id columns only): recorded
      // in the band partition's lineage for future replay-guard
      // pruning, and used now to prune the known-id check to
      // overlapping partitions. A superset of the committed
      // (post-dedup) ids — safe for pruning.
      val idRange: Option[(Long, Long)] = increment.schema(idCol).dataType match {
        case LongType | IntegerType =>
          val r = incIds.agg(min(col("_id").cast("long")).as("mn"),
                             max(col("_id").cast("long")).as("mx")).head()
          if (r.isNullAt(0)) None else Some((r.getLong(0), r.getLong(1)))
        case _ => None
      }

      val fresh =
        if (seq == 0L) increment
        else {
          val overlapping = overlappingBandSeqs(idRange)
          if (overlapping.isEmpty) increment
          else {
            val knownIds = bandTable.read(overlapping)
              .join(broadcast(incIds), Seq("_id"))
              .select(col("_id").as(idCol)).distinct()
            increment.join(knownIds, Seq(idCol), "left_anti")
          }
        }

      // 1+2: increment bands, committed as this ingest's partition (the
      // expensive signature map work runs once, into the commit),
      // physically clustered by band bucket so every later bucket-keyed
      // read prunes at the directory level
      val newBands = Dedup.lshBands(
          Dedup.minHashSignatures(fresh, idCol, textCol, numHashes, shingleK),
          numHashes, bands)
        .withColumn("band_bucket", bandBucket(col("band_hash")))
        .withColumn("ingest_seq", lit(seq))
      bandTable.commitOverwrite(newBands, "ingest_seq",
        Map(seq.toString -> PartitionLineage(seq, "ok",
          idMin = idRange.map(_._1), idMax = idRange.map(_._2))),
        bucketCol = Some("band_bucket"))
    } finally incIds.unpersist()

    // 3+4: new pair witnesses, recorded per snapshot (lineage → the
    // band snapshot that made them)
    val witnesses = witnessesFor(seq)
    pairTable.commitOverwrite(witnesses.withColumn("ingest_seq", lit(seq)),
      "ingest_seq", Map(seq.toString -> PartitionLineage(seq, "ok")))
    // read back the committed partition (no recompute for the caller);
    // an ingest that found nothing reads back empty, typed by the manifest
    pairTable.read(Set(seq.toString)).select("id_a", "id_b").distinct()
  }

  /** Pair witnesses introduced by ingest `seq`, computed AS OF that
    * ingest (bands with ingest_seq ≤ seq only — so a later [[heal]]
    * reproduces exactly what the crashed run would have committed):
    * corpus rows restricted to increment-touched buckets (broadcast
    * semi-join: no corpus shuffle), cumulative skew cap via one count
    * window, then increment × touched-corpus within bucket, keyed by
    * the witnessing bucket.
    */
  private def witnessesFor(seq: Long): DataFrame = {
    val asOfKeys = bandTable.partitionKeys.filter(_.toLong <= seq)
    // a corpus with no band data at all (first ingest was empty) has no
    // witnesses
    if (asOfKeys.isEmpty) return emptyWitnesses()
    val inc = bandTable.read(Set(seq.toString))
    // the increment's touched band buckets: ≤ hashBuckets values (a
    // constant knob), collected to drive partition-directory pruning of
    // the as-of scan — the corpus read touches ONLY these buckets'
    // files, never the full band table
    val incBuckets = inc.select("band_bucket").distinct()
      .collect().map(_.getLong(0))
    if (incBuckets.isEmpty) return emptyWitnesses()
    val asOf = prunedBandScan(asOfKeys, incBuckets)
    val touched = asOf
      .join(broadcast(inc.select("band", "band_hash").distinct()),
            Seq("band", "band_hash"))
    val sized = touched
      .withColumn("_bsz", count(lit(1)).over(
        Window.partitionBy("band", "band_hash")))
      .filter(col("_bsz") <= maxBucket)
    val l = sized.select(col("_id").as("id_x"), col("band"), col("band_hash"))
    val r = sized.filter(col("ingest_seq") === seq)
      .select(col("_id").as("id_y"), col("band"), col("band_hash"))
    l.join(r, Seq("band", "band_hash"))
      .filter(col("id_x") =!= col("id_y"))
      .select(col("band"), col("band_hash"),
              least(col("id_x"), col("id_y")).as("id_a"),
              greatest(col("id_x"), col("id_y")).as("id_b"))
      .distinct()
  }

  /** Bucket-pruned band scan: only the requested ingest partitions AND
    * only the requested band buckets' sub-directories — the `isin`
    * filter on the Hive bucket level becomes a partition filter on the
    * scan, so files of other buckets are never listed into the plan.
    * Exposed for the spec that pins the files-read bound.
    */
  private[ops] def prunedBandScan(seqs: Set[String],
                                  buckets: Seq[Long]): DataFrame =
    bandTable.read(seqs).filter(col("band_bucket").isin(buckets: _*))

  /** Band partitions whose recorded id-range overlaps `range` (plus any
    * partition with no recorded range — unknown ids must be read). The
    * replay guard's pruning set; exposed for the plan spec that pins
    * "disjoint increment reads zero band partitions".
    */
  private[ops] def overlappingBandSeqs(range: Option[(Long, Long)]): Set[String] = {
    val parts = bandTable.currentManifest.map(_.partitions).getOrElse(Map.empty)
    parts.collect {
      case (k, e) if e.path.nonEmpty && range.forall { case (lo, hi) =>
        e.lineage.flatMap(l => l.idMin.zip(l.idMax))
          .forall { case (mn, mx) => lo <= mx && mn <= hi }
      } => k
    }.toSet
  }

  /** Heal a crashed half-ingest: regenerate the witness partition for
    * any band partition that lacks one (the two commits are not atomic;
    * a crash between them would otherwise permanently lose that
    * increment's pairs, because the replay guard drops its ids as
    * already-known). Idempotent and metadata-only when nothing is
    * missing.
    */
  private def heal(): Unit = {
    val bandKeys = bandTable.partitionKeys // non-empty: empties have no pairs
    if (bandKeys.isEmpty) return
    val pairKeys: Set[String] = pairTable.currentManifest
      .map(_.partitions.keySet).getOrElse(Set.empty)
    (bandKeys -- pairKeys).toSeq.sortBy(_.toLong).foreach { k =>
      val seq = k.toLong
      pairTable.commitOverwrite(
        witnessesFor(seq).withColumn("ingest_seq", lit(seq)),
        "ingest_seq", Map(k -> PartitionLineage(seq, "healed")))
    }
  }

  /** All near-dup pairs across every ingest — equal to the full-corpus
    * batch [[Dedup.minHashLsh]] run (the convergence contract, exact
    * under the cap: see class doc). One narrow partial-agg over the
    * band table computes final bucket sizes; recorded witnesses from
    * buckets that outgrew `maxBucket` are masked, matching batch's
    * whole-bucket drop.
    */
  def pairs(): DataFrame = {
    heal()
    // a witness table never committed (nothing ingested) is a
    // legitimate empty result; the catch takes ONLY that case — a
    // corrupt or unsupported-format manifest still fails loudly (it must
    // never read as "no duplicates")
    val witnesses =
      try pairTable.read()
      catch { case _: graft.table.NoSnapshotDataException =>
        return emptyWitnesses().select("id_a", "id_b") }
    // final bucket sizes are only needed for buckets that HOLD a
    // witness: prune the band scan to those buckets' directories
    // (≤ hashBuckets values — worst case this is the full table, which
    // is then genuinely the size of the answer's support, not of the
    // corpus)
    val wBuckets = witnesses
      .select(bandBucket(col("band_hash")).as("_wb")).distinct()
      .collect().map(_.getLong(0))
    if (wBuckets.isEmpty)
      return emptyWitnesses().select("id_a", "id_b")
    val sizes = prunedBandScan(bandTable.partitionKeys, wBuckets)
      .groupBy("band", "band_hash").agg(count(lit(1)).as("_bsz"))
    witnesses
      .join(sizes, Seq("band", "band_hash"))
      .filter(col("_bsz") <= maxBucket)
      .select("id_a", "id_b").distinct()
  }

  /** The accumulated corpus band stream. */
  def corpusBands(): DataFrame = bandTable.read()

  /** Rebuild the witness table from the CURRENT band table: batch pair
    * generation over ≤-cap buckets (one count window + one self-join —
    * both sides reuse one exchange), with each witness recorded under
    * the ingest of its later member. Never recomputes signatures. Run
    * after retention so [[pairs]] equals the batch run over the
    * surviving corpus — including pairs in buckets that dropped back
    * under the cap when expired members left, which the ingest-time
    * stream could not have recorded.
    */
  def compact(): Unit = {
    val manifestOpt = bandTable.currentManifest
    if (manifestOpt.isEmpty || bandTable.partitionKeys.isEmpty) return
    val manifest = manifestOpt.get
    val sized = bandTable.read()
      .withColumn("_bsz", count(lit(1)).over(
        Window.partitionBy("band", "band_hash")))
      .filter(col("_bsz") <= maxBucket)
    val l = sized.select(col("_id").as("id_x"), col("band"),
                         col("band_hash"), col("ingest_seq").as("_sx"))
    val r = sized.select(col("_id").as("id_y"), col("band"),
                         col("band_hash"), col("ingest_seq").as("_sy"))
    val witnesses = l.join(r, Seq("band", "band_hash"))
      .filter(col("id_x") < col("id_y"))
      .select(col("band"), col("band_hash"),
              col("id_x").as("id_a"), col("id_y").as("id_b"),
              greatest(col("_sx"), col("_sy")).as("ingest_seq"))
    // every band partition gets a witness partition (explicit-empty
    // where none) so the heal invariant stays intact post-compaction
    val lineage = manifest.partitions.keySet
      .map(k => k -> PartitionLineage(k.toLong, "compacted")).toMap
    pairTable.commitOverwrite(witnesses, "ingest_seq", lineage)
  }

  /** Retention: drop every ingest whose seq fails `keepSeq` from BOTH
    * tables (manifest-only), [[compact]] the witness table over the
    * survivors, and expire unreferenced snapshot history/directories.
    * Returns the dropped ingest seqs. Afterwards [[pairs]] equals the
    * batch run over the surviving corpus (spec-pinned).
    */
  def expire(keepSeq: Long => Boolean, keepSnapshots: Int = 2): Set[String] = {
    if (bandTable.currentSnapshotId.isEmpty) return Set.empty
    val dropped = bandTable.commitRetention(k => keepSeq(k.toLong))
    if (pairTable.currentSnapshotId.nonEmpty)
      pairTable.commitRetention(k => keepSeq(k.toLong))
    compact()
    bandTable.expireSnapshots(keepSnapshots)
    pairTable.expireSnapshots(keepSnapshots)
    dropped
  }
}
