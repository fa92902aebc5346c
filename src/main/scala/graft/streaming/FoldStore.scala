package graft.streaming

import java.nio.channels.{FileChannel, OverlappingFileLockException}
import java.nio.file.{Files, Path, Paths, StandardOpenOption}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.SegmentLog

/** The durable standing-index store behind the streaming dedup legs
  * ([[IndexLeg]], built by [[StreamMediaDedup]], [[StreamEmbedDedup]]
  * and [[StreamTextDedup]]): a
  * log of immutable parquet SEGMENTS governed by a single atomic
  * MANIFEST, hash-prefix partitioned so each micro-batch's index consult
  * prunes to the files that can possibly match.
  *
  * Why this exists (the three failure modes it closes):
  *
  *  - '''Durability.''' The pre-r11 leg kept fold leaves as
  *    `localCheckpoint` blocks — executor-local, gone on driver restart
  *    and unrecoverable on executor loss, so every committed batch's
  *    canonical fingerprints silently vanished on a crash and pre-crash
  *    assets re-admitted as new. Here every fold is parquet under the
  *    leg's index directory, and [[FoldStore.open]] rebuilds the live
  *    segment set and `lastFoldedId` from the manifest — restart
  *    recovery is a read of one small file.
  *  - '''Bounded plan width.''' A chain of one in-memory leaf per
  *    micro-batch made per-batch analysis cost and scan-leg count grow
  *    O(#batches) (and each leaf carried its own 32 cached partitions —
  *    task-launch overhead was the measured 3.5 → 7.1 s batch-time
  *    growth of the r10 video ledger). Here the index is read as ONE
  *    partitioned parquet datasource regardless of fold count — the file
  *    source packs small files into few tasks by `maxPartitionBytes` —
  *    and segment count is bounded by the incremental compactor.
  *  - '''Per-batch index scan cost.''' The consult key's hash prefix
  *    (`pk = hash(key) mod prefixParts`) is a PARTITION column, so
  *    [[readFor]] turns the arriving batch's touched-key set into a
  *    partition filter the scan prunes at FILE granularity: a
  *    micro-batch touching few buckets reads those buckets' files and
  *    nothing else, instead of semi-join-filtering rows AFTER reading
  *    the whole index. On an object store this is the inverted-list
  *    layout an IVF/LSH service keeps: one prefix = one list shard.
  *
  * '''Compaction (r12: per-pk-bucket incremental).''' The r11 store
  * merged EVERY live segment into one when the count passed
  * [[FoldStore.open]]'s `compactAfter` — correct, but the whole-index
  * rewrite landed inside one micro-batch (measured 52-84 s spikes vs
  * ~24.5 s medians in the four-leg firehose at increment-heavy shapes,
  * SCALING §r11), and a generational/binomial tiering A/B measured
  * strictly worse. The refinement that bounds the worst case without
  * changing the amortized write cost is to spread the SAME rewrite over
  * the pk buckets: once the live segment count exceeds `compactAfter`,
  * each fold additionally rewrites the next `compactBuckets` of the
  * `prefixParts` hash buckets (a round-robin cursor, persisted in the
  * manifest) — merging those buckets' rows across every live segment
  * into one new bucket-sliced segment and EXCLUDING the buckets from the
  * older segments via per-(segment, bucket) manifest granularity. A full
  * cursor cycle rewrites the index exactly once, i.e. the amortized
  * bytes equal the old rare full merge, but each step touches only
  * ~`compactBuckets / prefixParts` of the index — and the step runs on
  * a per-store BACKGROUND thread, overlapping the next micro-batch's
  * consult/verdict work instead of landing inside the triggering batch
  * (mutually synchronized with [[append]], so state stays
  * single-writer; an inline fallback fires if the compactor falls 4
  * thresholds behind, so the segment count is still bounded). A
  * segment whose buckets are all excluded is retired; per-bucket live
  * file count stays bounded at ~(segments alive per cycle), the same
  * steady state as the full merge gave.
  *
  * Crash consistency: segments and the manifest are published through
  * [[graft.SegmentLog]]; the manifest is the sole truth. This store's
  * policy on top: a crash between segment publish and manifest write
  * leaves an orphan directory that the next [[FoldStore.open]] sweeps,
  * and the replayed batch (its id is still above the manifest's
  * `lastFoldedId`) folds again. A compaction step publishes the merged
  * bucket slice first, swaps the manifest, and only retires superseded
  * segment directories with a one-fold GRACE delay ([[append]] sweeps
  * the previous fold's retirees, [[close]] and [[FoldStore.open]] sweep
  * the rest) — so a still-evaluating reader of a pre-swap frame never
  * hits a deleted file, and at no point can a reader of the current
  * manifest see missing or doubled rows. Each manifest write first
  * stores the last committed state as `MANIFEST.bak`, and a torn
  * MANIFEST falls back to it: the previous committed state, whose folds
  * the replayed batch simply re-folds.
  *
  * Concurrency contract: ONE writer per store directory, ENFORCED by an
  * OS file lock (`LOCK`, acquired for the store's lifetime at open) — a
  * zombie driver still holding the directory makes the replacement's
  * open() fail fast instead of racing the manifest swap. In-process
  * mutations are additionally synchronized; readers in the same process
  * see the volatile segment list. Release with [[close]].
  *
  * Scale notes: folds are increment-sized, compaction work is
  * `compactBuckets / prefixParts` of the index per fold only while the
  * segment count exceeds the threshold, and `prefixParts` maps to the
  * shard count of the object-store prefix at deployment scale (64 here,
  * thousands there — where the per-bucket granularity also means a
  * compactor could run per-shard, embarrassingly parallel).
  */
final class FoldStore private (spark: SparkSession, dir: Path,
    val prefixParts: Int, compactAfter: Int, compactBuckets: Int,
    schemaDdl: String) {

  import FoldStore.Seg

  @volatile private var live: Vector[Seg] = Vector.empty
  @volatile private var folded: Long = -1L
  private var cursor: Int = 0
  // retired segment dirs awaiting the grace-delayed sweep (next fold)
  private var pendingSweep: Vector[String] = Vector.empty
  // the last manifest body committed, which the next write keeps as .bak
  private var committed: Option[String] = None

  // the cross-process single-writer guard, held for the store's lifetime
  private var lockCh: FileChannel = _
  private var lock: java.nio.channels.FileLock = _

  // one background compactor per store: a step is kicked off by append()
  // and runs CONCURRENTLY with the next micro-batch's consult/verdict
  // work (compactStep and append are mutually synchronized, so state
  // mutation stays single-writer) — inline, the step's rewrite landed
  // inside the triggering batch and set its wall time
  private lazy val compactor =
    java.util.concurrent.Executors.newSingleThreadExecutor(r => {
      val t = new Thread(r, s"foldstore-compact-$dir")
      t.setDaemon(true)
      t
    })
  @volatile private var compacting: java.util.concurrent.Future[_] = _

  /** Highest micro-batch id whose fold the manifest has committed —
    * the replay guard: a redelivered batch id <= this folds nothing.
    */
  def lastFoldedId: Long = folded

  private[graft] def segmentCount: Int = live.size

  private[graft] def compactCursor: Int = cursor

  private[graft] def liveSegments: Vector[Seg] = live

  private def dataDir: Path = dir.resolve("data")

  /** The standing index as ONE parquet datasource (constant plan width
    * however many folds are live): segments are a partition level
    * (`data/seg=<nonce>/pk=<p>/`), so the whole store is one scan with
    * the manifest's live (segment, bucket) set applied as a partition
    * filter — which is also what makes a crash-orphaned segment
    * (published but never committed to the manifest) invisible to
    * readers until the next open() sweeps it.
    */
  def read(): DataFrame = {
    val segs = live
    if (segs.isEmpty)
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        StructType.fromDDL(schemaDdl))
    else
      spark.read.option("basePath", dataDir.toString)
        .parquet(dataDir.toString)
        .filter(segs.map(segPredicate).reduce(_ || _))
        .drop("seg")
  }

  /** The partition predicate serving exactly a segment's live buckets —
    * both `seg` and `pk` are partition columns, so the whole disjunction
    * prunes at file granularity. The bucket term uses whichever literal
    * list is shorter (served buckets vs excluded buckets).
    */
  private def segPredicate(s: Seg): Column = {
    val base = col("seg") === s.nonce
    if (s.excl.isEmpty) base
    else if (s.liveBuckets.size <= s.excl.size)
      base && col("pk").isin(s.liveBuckets.toSeq.map(Int.box): _*)
    else base && !col("pk").isin(s.excl.toSeq.map(Int.box): _*)
  }

  /** The standing index restricted to the given hash-prefix buckets —
    * `pk` is a partition column, so this prunes segment FILES before
    * read, not rows after. `pks` comes from the arriving batch's keys
    * (bounded by [[prefixParts]]); an empty batch reads nothing.
    */
  def readFor(pks: Seq[Int]): DataFrame =
    if (pks.isEmpty) read().filter(lit(false))
    else read().filter(col("pk").isin(pks.map(Int.box): _*))

  /** Fold one micro-batch's rows in (no-op rows-wise when `stored` is
    * empty, but `foldId` still commits so the replay guard advances).
    * `stored` must carry the store's schema including the int `pk`
    * prefix column. Also runs the grace-delayed sweep of segments a
    * PREVIOUS fold's compaction retired (by now no reader of the
    * pre-swap manifest can still be evaluating — foreachBatch serializes
    * batches and the legs' per-batch caches are unpersisted), and one
    * bucket-slice compaction step when the segment count is past the
    * threshold.
    */
  def append(stored: DataFrame, foldId: Long): Unit = {
    synchronized {
      sweepPending()
      live = live ++ publishSegment(stored)
      folded = foldId
      writeManifest()
    }
    if (live.size > compactAfter.toLong * 4) {
      // backpressure: the background compactor has fallen far behind
      // (steps slower than the fold cadence) — run inline so the
      // segment count cannot grow without bound
      awaitCompaction()
      compactStep()
    } else if (live.size > compactAfter &&
        (compacting == null || compacting.isDone)) {
      compacting = compactor.submit(new Runnable {
        def run(): Unit =
          try compactStep()
          catch { case scala.util.control.NonFatal(_) => () }
      })
    }
  }

  /** Block until any in-flight background compaction step finishes
    * (close() drains it; specs use it for deterministic counts).
    */
  private[graft] def awaitCompaction(): Unit =
    Option(compacting).foreach(f => try f.get() catch { case _: Exception => () })

  /** One incremental compaction step: merge the cursor's next
    * `compactBuckets` pk buckets across every live segment into one new
    * bucket-sliced segment, exclude those buckets from the older
    * segments (per-(segment, bucket) manifest granularity), retire
    * segments left with no live buckets into the grace-delayed sweep
    * queue, and advance the persisted cursor. Value identity with a
    * full merge is pinned by FoldStoreSpec; the rewrite touches
    * `compactBuckets / prefixParts` of the index, never all of it.
    */
  private[graft] def compactStep(): Unit = synchronized {
    val window = (0 until compactBuckets)
      .map(i => (cursor + i) % prefixParts).toSet
    val winRows = read()
      .filter(col("pk").isin(window.toSeq.map(Int.box): _*))
    val rewritten = publishSegment(winRows)
    val (retired, kept) = live
      .map(s => s.copy(excl = s.excl ++ (s.buckets & window)))
      .partition(_.liveBuckets.isEmpty)
    live = kept ++ rewritten
    cursor = (cursor + compactBuckets) % prefixParts
    writeManifest()
    pendingSweep ++= retired.map(_.nonce)
  }

  /** Delete segment directories retired at least one fold ago. */
  private def sweepPending(): Unit = {
    pendingSweep.foreach(n =>
      SegmentLog.deleteRecursively(dataDir.resolve(s"seg=$n")))
    pendingSweep = Vector.empty
  }

  /** Distinct values of `idCol` standing in the index (diagnostic —
    * "how many canonical assets does the index know").
    */
  def assets(idCol: String): Long =
    read().select(idCol).distinct().count()

  /** Release the writer lock and sweep any grace-delayed retirees. A
    * closed store must not be used again — reopen with
    * [[FoldStore.open]].
    */
  def close(): Unit = {
    awaitCompaction()
    synchronized { sweepPending(); release() }
  }

  /** Test hook: abandon the store as a crash would — the lock drops
    * (the OS releases a dead process's locks) but nothing is swept and
    * no manifest is written.
    */
  private[graft] def simulateCrash(): Unit = {
    awaitCompaction()
    synchronized { pendingSweep = Vector.empty; release() }
  }

  private def release(): Unit = {
    compactor.shutdown()
    if (lock != null) { lock.release(); lock = null }
    if (lockCh != null) { lockCh.close(); lockCh = null }
  }

  private def acquireLock(): Unit = {
    lockCh = FileChannel.open(dir.resolve(FoldStore.LockName),
      StandardOpenOption.CREATE, StandardOpenOption.WRITE)
    lock = try lockCh.tryLock()
      catch { case _: OverlappingFileLockException => null }
    if (lock == null) {
      lockCh.close()
      throw new IllegalStateException(
        s"FoldStore at $dir is held by another writer (LOCK file is " +
          "locked); one writer per store directory")
    }
  }

  /** Write `stored` as an immutable segment and publish it under
    * `data/seg=<nonce>`; None when the frame produced no rows (parquet
    * writes no pk dirs). One file per touched pk bucket: the repartition
    * puts each bucket in exactly one task.
    */
  private def publishSegment(stored: DataFrame): Option[Seg] = {
    val nonce = s"${ProcessHandle.current.pid}-${System.nanoTime()}"
    val seg = dataDir.resolve(s"seg=$nonce")
    val published = SegmentLog.publish(seg) { tmp =>
      stored
        .repartition(math.min(8, prefixParts), col("pk"))
        .write.partitionBy("pk").parquet(tmp.toString)
      FoldStore.bucketsOf(tmp).nonEmpty
    }
    if (published) Some(Seg(nonce, FoldStore.bucketsOf(seg))) else None
  }

  /** Publish the manifest, keeping the last committed one as `.bak` (the
    * torn-write fallback). The .bak is written from memory, not copied
    * from MANIFEST, which may be the torn file this store fell back from.
    */
  private def writeManifest(): Unit = {
    val body = (Seq(FoldStore.FormatMarker, folded.toString, schemaDdl,
      cursor.toString) ++ live.map(FoldStore.segLine)).mkString("\n")
    committed.foreach(SegmentLog.writeManifest(dir.resolve(FoldStore.BackupName), _))
    SegmentLog.writeManifest(dir.resolve(FoldStore.ManifestName), body)
    committed = Some(body)
  }

  /** Recovery: adopt a parsed manifest's state, sweep orphan segment
    * and tmp directories a crash left behind (published-but-uncommitted
    * segments, torn manifest tmps, retirees whose grace sweep never
    * ran).
    */
  private def recover(m: FoldStore.Manifest): Unit = {
    folded = m.folded
    cursor = m.cursor
    live = m.segs
    committed = Some(m.body)
    val referenced = live.map(s => s"seg=${s.nonce}").toSet
    SegmentLog.sweep(dir, _ => true, Long.MaxValue, Long.MaxValue)
    SegmentLog.sweep(dataDir, referenced, Long.MaxValue, Long.MaxValue)
  }

}

object FoldStore {

  private val ManifestName = "MANIFEST"
  private val BackupName = "MANIFEST.bak"
  private val LockName = "LOCK"
  private val FormatMarker = "v2"

  /** One live segment: its nonce (= directory name suffix), the pk
    * buckets it was published with, and the buckets since excluded by
    * bucket-slice compaction (a reader serves `buckets -- excl`).
    */
  private[graft] final case class Seg(nonce: String, buckets: Set[Int],
      excl: Set[Int] = Set.empty) {
    def liveBuckets: Set[Int] = buckets -- excl
  }

  /** A parsed manifest, with the body it was parsed from. */
  private[graft] final case class Manifest(folded: Long, schema: String,
      cursor: Int, segs: Vector[Seg], body: String)

  /** Open the store at `dir`, seeding it from `seed` (the initial
    * standing index, stored shape incl. the int `pk` column) only when
    * no committed manifest exists — a restart adopts the durable state
    * and never re-evaluates the seed frame. Acquires the directory's
    * writer lock; fails fast if another live process holds it.
    *
    * @param compactAfter   live-segment threshold past which each fold
    *                       also runs one bucket-slice compaction step
    * @param compactBuckets pk buckets rewritten per compaction step —
    *                       the worst-case per-fold rewrite is
    *                       `compactBuckets / prefixParts` of the index
    */
  def open(spark: SparkSession, dir: String, seed: => DataFrame,
      prefixParts: Int = 64, compactAfter: Int = 64,
      compactBuckets: Int = 0): FoldStore = {
    val d = Paths.get(dir)
    Files.createDirectories(d)
    val k = if (compactBuckets > 0) compactBuckets
      else math.max(1, prefixParts / 8)
    val manifest = readManifest(d)
    lazy val s = seed
    val store = new FoldStore(spark, d, prefixParts, compactAfter, k,
      manifest.fold(s.schema.toDDL)(_.schema))
    store.acquireLock()
    manifest match {
      case Some(m) => store.recover(m)
      case None =>
        // debris from a crash before the first commit (torn first
        // manifest, tmp dirs) must not shadow the fresh seed
        SegmentLog.sweep(d, n => !Set("data", ManifestName, BackupName)(n),
          Long.MaxValue, Long.MaxValue)
        store.append(s, -1L) // the seed is fold -1: no batch is folded yet
    }
    store
  }

  /** Parse MANIFEST, falling back to MANIFEST.bak when it is missing or
    * torn (empty/truncated/unparseable — the power-loss case the bak
    * exists for). None ⇒ no committed state: the caller seeds fresh.
    */
  private def readManifest(d: Path): Option[Manifest] =
    SegmentLog.readManifest(d.resolve(ManifestName))(parseManifest(d))
      .orElse(SegmentLog.readManifest(d.resolve(BackupName))(parseManifest(d)))

  private def parseManifest(d: Path)(body: String): Manifest = {
    val lines = body.split("\n", -1).toVector
    if (lines.headOption.contains(FormatMarker)) {
      // v2: marker, foldId, schema, cursor, seg lines
      require(lines(2).nonEmpty)
      Manifest(lines(1).toLong, lines(2), lines(3).toInt,
        lines.drop(4).filter(_.nonEmpty).map(parseSegLine), body)
    } else {
      // v1 (pre-r12): foldId, schema, seg nonces; bucket sets are
      // recovered from the segment directories on disk
      require(lines(1).nonEmpty)
      val segs = lines.drop(2).filter(_.nonEmpty).map(nonce =>
        Seg(nonce, bucketsOf(d.resolve("data").resolve(s"seg=$nonce"))))
      Manifest(lines.head.toLong, lines(1), 0, segs, body)
    }
  }

  /** The pk buckets a segment directory holds files for (none if absent). */
  private def bucketsOf(seg: Path): Set[Int] =
    SegmentLog.listDir(seg).map(_.getFileName.toString)
      .filter(_.startsWith("pk=")).map(_.stripPrefix("pk=").toInt).toSet

  private def segLine(s: Seg): String =
    s"${s.nonce}|${s.buckets.toSeq.sorted.mkString(",")}|" +
      s.excl.toSeq.sorted.mkString(",")

  private def parseSegLine(line: String): Seg = {
    val parts = line.split("\\|", -1)
    def ints(x: String): Set[Int] =
      if (x.isEmpty) Set.empty else x.split(",").map(_.toInt).toSet
    Seg(parts(0), ints(parts(1)), ints(parts(2)))
  }

  /** The hash-prefix partition key for a consult key: stable across
    * sessions (xxhash64 with Spark's fixed seed), bounded by `parts`.
    */
  def pk(parts: Int, keys: org.apache.spark.sql.Column*):
      org.apache.spark.sql.Column =
    pmod(xxhash64(keys: _*), lit(parts.toLong)).cast("int")
}
