package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{broadcast, col}
import org.apache.spark.sql.streaming.DataStreamWriter
import org.apache.spark.sql.types.{LongType, StructType}

/** Shared maintenance for the seven persistent parquet stores
  * (SearchIndex / AnnIndex / DedupIndex / CentroidStore / SubstrIndex /
  * SketchStore / RollupStore).
  *
  * Each store declares its tables once, as [[Table]] values: a table owns
  * its path, its read, its build write, its append (batch-keyed or plain)
  * and its rewrite. Next to it sit the store-level operations written
  * once: [[remove]] (a tombstone append), [[vacuum]] (drop tombstoned
  * rows, then clear the list), [[compact]] (rewrite each table, folding
  * merge-on-read partials where the store supplies a fold) and the
  * [[streamingAppend]] wrapper. A store keeps only its fold, probe and
  * model code.
  *
  * The one primitive every rewrite rests on is [[swapWrite]]: rewrite a
  * store table that the rewrite plan itself READS. A plain
  * `mode("overwrite")` would delete the input files mid-scan, and the
  * in-memory alternative (`localCheckpoint` before the overwrite — the
  * rule the model-sized stats/sketch tables use) materializes the whole
  * frame in executor storage, which is exactly wrong for the corpus-sized
  * tables (postings, codes, members, rollup partials) these maintenance
  * jobs rewrite. Instead the new table is written NEXT TO the old one
  * (`<path>.tmp`), then swapped in with two filesystem metadata ops —
  * the compaction recipe every table format uses under the hood, kept
  * explicit here because the stores are plain parquet directories readable
  * by any engine. The swap is not atomic for concurrent readers (a reader
  * between the two renames sees a missing table); maintenance runs in
  * the ingest job's write slot, which already owns exclusive write access
  * ([[Lease]]), and taking the lease finishes any swap a crashed holder
  * left half done ([[finishSwap]]).
  */
object StoreOps {

  /** One parquet table of a store: `<dir>/<name>.parquet`, partitioned
    * by `partitionBy` (a pruning contract every write repeats), read with
    * `schema` when one is given (no footer-inference job on the read).
    *
    * Writes of a partitioned table repartition on its partition columns,
    * so each partition directory gets one file per write instead of one
    * per task. Unpartitioned frames are written as the caller shaped
    * them: the model-sized tables coalesce to one file, the corpus-sized
    * ledgers keep their parallel write. */
  final case class Table(name: String, partitionBy: Seq[String] = Nil,
                         schema: Option[StructType] = None) {
    def path(dir: String): String = s"$dir/$name.parquet"

    /** One filesystem metadata op, no Spark job: the probe behind the
      * legacy-layout checks (tables a store's build may not have made). */
    def exists(spark: SparkSession, dir: String): Boolean =
      markerExists(spark, path(dir))

    def read(spark: SparkSession, dir: String): DataFrame =
      schema.fold(spark.read)(spark.read.schema).parquet(path(dir))

    private def laidOut(df: DataFrame): DataFrame =
      if (partitionBy.isEmpty) df else df.repartition(partitionBy.map(col): _*)

    private def writer(df: DataFrame) =
      if (partitionBy.isEmpty) df.write else df.write.partitionBy(partitionBy: _*)

    /** The build write: replaces the table. */
    def write(df: DataFrame, dir: String): Unit =
      writer(laidOut(df)).mode("overwrite").parquet(path(dir))

    /** Append `df`. With a `batchId` the files commit under batch-keyed
      * names ([[appendKeyed]]), so a replay of the same batch undoes its
      * own partial commit first: append twice ≡ append once. Without
      * one it is a plain parquet append. */
    def append(df: DataFrame, dir: String, batchId: Option[Long] = None): Unit =
      batchId match {
        case Some(id) => appendKeyed(laidOut(df), path(dir), id, partitionBy)
        case None => writer(laidOut(df)).mode("append").parquet(path(dir))
      }

    /** Replace the table with `fold` of its current rows, written aside
      * and swapped in ([[swapWrite]]): repartitioned on its partition
      * columns, or one file when it has none — one file per directory,
      * which makes every rewrite a small-file compaction too. */
    def rewrite(dir: String)(fold: DataFrame => DataFrame): Unit = {
      val next = fold(read(SparkSession.active, dir))
      swapWrite(if (partitionBy.isEmpty) next.coalesce(1) else laidOut(next),
        path(dir), partitionBy)
    }
  }

  /** The tombstone list — the logically removed ids of a store, a
    * `(idCol)` parquet list — and its `_has_tombstones` marker, which lets
    * the read paths decide whether to add the anti-join with ONE
    * filesystem metadata op instead of a per-query Spark `isEmpty` job. */
  private def tombMarker(dir: String) = s"$dir/_has_tombstones"

  /** The list's table, read with its one-column `(idCol: long)` schema:
    * a tombstone-aware read infers no footer. */
  private def tombTable(idCol: String) =
    Table("tombstones", schema = Some(new StructType().add(idCol, LongType)))

  /** Logically remove `ids` (a frame with `idCol`): append them,
    * deduplicated and cast to long, to the tombstone list — a model-sized
    * write bounded by vacuum cadence, independent of store size. Read
    * paths subtract the list; [[vacuum]] later reclaims the rows.
    *
    * The marker is set BEFORE the parquet append: a crash between the two
    * then leaves a spurious marker over an unchanged list (harmless —
    * reads just pay the anti-join against the old tombstones), whereas
    * the reverse order would leave tombstone rows on disk that every
    * marker-gated read path ignores — removed docs silently served until
    * the next remove/vacuum. */
  def remove(dir: String, ids: DataFrame, idCol: String): Unit =
    Lease.withLease(ids.sparkSession, dir) {
      setMarker(ids.sparkSession, tombMarker(dir))
      ids.select(col(idCol).cast(LongType).as(idCol))
        .distinct().write.mode("append").parquet(tombTable(idCol).path(dir))
    }

  /** Does the store have tombstones? One metadata op, no Spark job: read
    * paths add the [[tombstones]] anti-join only when it says yes. */
  def hasTombstones(spark: SparkSession, dir: String): Boolean =
    markerExists(spark, tombMarker(dir))

  /** The distinct tombstoned ids; an empty frame when the store predates
    * the tombstone layout (the store-migration rule). */
  def tombstones(spark: SparkSession, dir: String, idCol: String): DataFrame =
    if (tombTable(idCol).exists(spark, dir)) tombTable(idCol).read(spark, dir).distinct()
    else spark.range(0).select(col("id").as(idCol))

  /** Reset the store to "no tombstones" — every build and vacuum writes
    * this. coalesce(1): a 0-row frame otherwise writes one empty part file
    * PER PARALLELISM partition (32 task launches and 32 footer files per
    * store build — pure lifecycle overhead). */
  def clearTombstones(spark: SparkSession, dir: String, idCol: String): Unit = {
    spark.range(0).select(col("id").as(idCol))
      .coalesce(1).write.mode("overwrite").parquet(tombTable(idCol).path(dir))
    clearMarker(spark, tombMarker(dir))
  }

  /** Physically drop the tombstoned rows from `tables`, in order, then run
    * `rederive` (stats a store derives from a vacuumed table), then clear
    * the tombstone list — last, so a crash anywhere before leaves the
    * read paths subtracting the list as before. Observable behaviour is
    * unchanged; each table is [[Table.rewrite]]n, so the vacuum doubles
    * as a compaction. */
  def vacuum(dir: String, idCol: String, tables: Seq[Table],
             rederive: => Unit = ()): Unit = {
    val spark = SparkSession.active
    Lease.withLease(spark, dir) {
      val tomb = tombstones(spark, dir, idCol).localCheckpoint() // model-sized
      tables.foreach(_.rewrite(dir)(_.join(broadcast(tomb), Seq(idCol), "left_anti")))
      rederive
      clearTombstones(spark, dir, idCol)
    }
  }

  /** Small-file compaction: [[Table.rewrite]] each of `tables` in order,
    * through `fold` — identity for plain tables, the exact merge for a
    * table of merge-on-read partials. Nothing observable changes. */
  def compact(dir: String, tables: Seq[Table],
              fold: Table => DataFrame => DataFrame = _ => identity): Unit =
    Lease.withLease(SparkSession.active, dir) {
      tables.foreach(t => t.rewrite(dir)(fold(t)))
    }

  /** Streaming store maintenance: `append` each micro-batch under its
    * foreachBatch id. State lives in the parquet store, not the state
    * store, so every completed trigger is visible to the read paths and
    * batch and stream ingestion compose freely; the batch-keyed commit
    * makes the at-least-once replays of failure recovery exactly-once at
    * the store. Caller starts the writer. */
  def streamingAppend(stream: DataFrame)(append: (DataFrame, Long) => Unit)
      : DataStreamWriter[Row] =
    stream.writeStream.foreachBatch { (batch: DataFrame, bid: Long) => append(batch, bid) }

  /** Rewrite `path` with `df` via write-aside-and-swap. `partitionCols`
    * must repeat the table's layout (partition pruning contracts survive
    * the rewrite); the caller is responsible for `repartition`ing so each
    * partition directory lands as one file ([[Table.rewrite]] does).
    *
    * Swap order is rename-aside, not delete-then-rename: the old table is
    * renamed to `<path>.bak`, the replacement renamed in, THEN the backup
    * deleted — so the live path is absent only between two metadata
    * renames (never across a recursive delete, which on object-store
    * filesystems is a slow per-file walk), and a crash mid-swap leaves
    * either the old table live or a `.bak` that [[finishSwap]] restores
    * the next time anyone takes the store's lease. */
  private[graft] def swapWrite(df: DataFrame, path: String,
                               partitionCols: Seq[String] = Nil): Unit = {
    val tmp = s"$path.tmp"
    val bak = s"$path.bak"
    val w = df.write.mode("overwrite")
    (if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*) else w)
      .parquet(tmp)
    val conf = df.sparkSession.sparkContext.hadoopConfiguration
    val fs = new Path(tmp).getFileSystem(conf)
    finishSwap(fs, new Path(path), new Path(bak))
    if (fs.exists(new Path(path)))
      require(Committer.current.publishRename(fs, new Path(path), new Path(bak)),
        s"swapWrite: rename-aside $path -> $bak failed")
    require(Committer.current.publishRename(fs, new Path(tmp), new Path(path)),
      s"swapWrite: rename $tmp -> $path failed (old table at $bak)")
    fs.delete(new Path(bak), true)
  }

  /** The crash-recovery rule for a rename-aside swap of `live` through
    * `bak`. A crash between the two renames leaves `live` ABSENT and the
    * old rows parked in `bak`: restore them — otherwise a later plain
    * append would recreate `live` holding only its own batch, and the
    * next swap would delete the only copy of the old rows. A `bak` beside
    * a present `live` is a completed swap's leftover (crash between the
    * rename-in and the cleanup): the live table already holds the new
    * rows, so the backup is deleted. [[Lease]] runs this for every
    * `<table>.bak` of a store when it is taken; [[MergeStore]] runs it for
    * its bucket directories. */
  def finishSwap(fs: FileSystem, live: Path, bak: Path): Unit =
    if (fs.exists(bak)) {
      if (!fs.exists(live))
        require(Committer.current.publishRename(fs, bak, live),
          s"swap recovery: restoring $bak to $live failed")
      else fs.delete(bak, true)
    }

  /** Layout sidecar (`_layout`): ONE integer — the scale-adaptive
    * partition fan-out a store froze at build time (r18, guide §2: derive
    * partitioning from input size, not a constant tuned for one scale).
    * Append and probe paths must hash with the build's modulus, so the
    * value is written once at build and read back with one FS metadata
    * op (no Spark job — the tombstone-marker rule). Stores written before
    * the sidecar read as `default` (their hard-coded historical
    * fan-out), so on-disk layouts never mix. */
  def writeLayout(spark: SparkSession, dir: String, n: Int): Unit = {
    val p = new Path(s"$dir/_layout")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(p, true)
    out.write(s"npfx=$n\n".getBytes("UTF-8"))
    out.close()
  }

  def readLayout(spark: SparkSession, dir: String, default: Int): Int = {
    val p = new Path(s"$dir/_layout")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) default
    else {
      val in = fs.open(p)
      val bytes = new Array[Byte](64)
      val n = in.read(bytes)
      in.close()
      new String(bytes, 0, math.max(n, 0), "UTF-8").trim
        .stripPrefix("npfx=").toInt
    }
  }

  /** The layout-sizing rule shared by the adaptive stores: enough
    * partitions that each directory holds ≥ `rowsPerPart` rows, capped at
    * the store's production fan-out (pruning power and write parallelism
    * grow with the data; a gate-scale store stops paying 32-64 directory
    * commits for a few thousand rows). */
  def adaptiveFanout(rows: Long, rowsPerPart: Long, cap: Int): Int =
    math.min(cap.toLong,
      math.max(1L, (rows + rowsPerPart - 1L) / rowsPerPart)).toInt

  /** Run independent sibling writes of ONE store mutation CONCURRENTLY
    * (guide §2.6 "overlap independent jobs"): Spark's scheduler happily
    * runs several jobs at once inside one application — actions are only
    * sequential because driver code calls them sequentially. A store
    * build/append commits several tables that are independent by
    * construction (each folds from the same pinned frame into its own
    * directory), so submitting them from a thread pool overlaps each
    * write's job-launch, planning and commit latency with its siblings'
    * executor work — the dominant cost of a small store's lifecycle, and
    * at cluster scale the tail back-fill the guide describes. Results are
    * unchanged: same frames, same directories, same bytes; only the
    * submission is concurrent (the single-maintainer [[Lease]] is held by
    * the CALLING thread across the whole mutation, as before).
    *
    * Every task runs to completion before this returns — a failure does
    * not leave sibling writes running past the mutation's lease — and the
    * first failure is rethrown. */
  def overlap(tasks: Seq[() => Unit]): Unit =
    if (tasks.lengthCompare(2) < 0) tasks.foreach(_.apply())
    else {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(tasks.size)
      try {
        val futures = tasks.map { t =>
          pool.submit(new java.util.concurrent.Callable[Unit] {
            override def call(): Unit = t()
          })
        }
        var firstFailure: Option[Throwable] = None
        futures.foreach { f =>
          try f.get()
          catch {
            case e: java.util.concurrent.ExecutionException =>
              if (firstFailure.isEmpty)
                firstFailure = Some(Option(e.getCause).getOrElse(e))
          }
        }
        firstFailure.foreach(e => throw e)
      } finally pool.shutdown()
    }

  /** Marker files: a zero-byte flag the read paths can test with one
    * filesystem metadata op instead of a Spark job (e.g. "does this store
    * have tombstones?"). `markerExists` doubles as a plain path-existence
    * probe for store-layout migration fallbacks. */
  def setMarker(spark: SparkSession, path: String): Unit = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) fs.create(p, true).close()
  }

  def clearMarker(spark: SparkSession, path: String): Unit = {
    val p = new Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, false)
  }

  def markerExists(spark: SparkSession, path: String): Boolean = {
    val p = new Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** Exactly-once batch append — the idempotent-sink recipe every
    * `foreachBatch` store path uses (SearchIndex / AnnIndex / SketchStore /
    * RollupStore streaming maintenance). Structured Streaming replays the
    * last uncommitted micro-batch on failure recovery, so a plain
    * `mode("append")` double-appends; here every file a batch commits is
    * keyed by the batch id, making the commit REPLAYABLE:
    *
    *   1. stage: write `df` to `<path>.staging/b<id>` with overwrite —
    *      a replay of a crashed attempt restarts the staging clean;
    *   2. undo: delete every `b<id>_*` file already under `<path>` —
    *      exactly the files a crashed attempt's partial commit moved in;
    *   3. commit: rename each staged parquet file into its partition
    *      directory under `<path>` as `b<id>_<name>` (metadata ops only —
    *      staging and store share a filesystem by construction).
    *
    * Run twice with the same (path, batchId, data), the end state is
    * identical to running once — whatever step the first attempt died at.
    * Partition directories are preserved (the staged layout IS the store
    * layout), so pruning contracts survive. The batch-id key space is the
    * caller's: streaming passes the foreachBatch id, batch callers that
    * want replayable appends pick their own (crawl snapshot id).
    *
    * STORAGE-LAYER CONTRACT: step 3's rename is assumed to be an atomic,
    * cheap metadata operation — true on HDFS and posix filesystems, NOT
    * on S3-class object stores, where "rename" is copy+delete (non-atomic
    * and O(bytes)). The assumption is now a SEAM, not a hard-wiring:
    * every atomicity-sensitive op here routes through
    * [[Committer.current]] (default [[Committer.Rename]] = HDFS
    * semantics, today's behavior), and an object-store deployment
    * installs the conditional-PUT / manifest-ledger implementation —
    * see [[Committer]]'s scaladoc for the per-primitive mapping, all
    * compatible with this layout because the commit unit is a
    * batch-keyed FILE NAME. The same seam covers [[swapWrite]]
    * (directory-level swap) and the [[Lease]]. SURVEY §5 carries the
    * deployment-facing version of this contract. */
  private[graft] def appendKeyed(df: DataFrame, path: String, batchId: Long,
                  partitionCols: Seq[String] = Nil): Unit = {
    val staging = new Path(s"$path.staging/b$batchId")
    val w = df.write.mode("overwrite")
    (if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*) else w)
      .parquet(staging.toString)
    val conf = df.sparkSession.sparkContext.hadoopConfiguration
    val fs = staging.getFileSystem(conf)
    val dest = new Path(path)
    val prefix = s"b${batchId}_"
    if (fs.exists(dest)) {
      val it = fs.listFiles(dest, true)
      val stale = scala.collection.mutable.ArrayBuffer.empty[Path]
      while (it.hasNext) {
        val p = it.next().getPath
        if (p.getName.startsWith(prefix)) stale += p
      }
      stale.foreach(fs.delete(_, false))
    }
    val staged = {
      val it = fs.listFiles(staging, true)
      val b = scala.collection.mutable.ArrayBuffer.empty[Path]
      while (it.hasNext) {
        val p = it.next().getPath
        if (p.getName.endsWith(".parquet")) b += p
      }
      b.toSeq
    }
    staged.foreach { f =>
      // partition subpath relative to the staging root (e.g. "pfx=3")
      val rel = f.getParent.toUri.getPath
        .stripPrefix(staging.toUri.getPath).stripPrefix("/")
      val targetDir = if (rel.isEmpty) dest else new Path(dest, rel)
      fs.mkdirs(targetDir)
      require(Committer.current.publishRename(fs,
          f, new Path(targetDir, prefix + f.getName)),
        s"appendKeyed: commit rename of $f into $targetDir failed")
    }
    fs.delete(staging, true)
  }

  /** Thrown when a maintenance op finds another maintainer's live lease
    * on the store — the op refused to run rather than corrupt. */
  final class StoreBusyException(msg: String)
    extends IllegalStateException(msg)

  /** Single-maintainer lease over a store directory.
    *
    * The persistent stores are single-writer BY CONTRACT (the scaladoc at
    * the top of this file: "maintenance runs in the ingest job's write
    * slot"); the lease makes the contract ENFORCED instead of assumed.
    * The hazard is not append-vs-append (batch-keyed appends commit
    * distinct files) but maintenance-vs-anything: a vacuum/compact swap
    * rebuilds a table from a snapshot read, so a concurrent append lands
    * files the swap never saw and silently DROPS them; two concurrent
    * vacuums double-swap. Every mutator therefore runs under
    * [[withLease]]; probes never take it (reads stay lock-free — the
    * rename-aside swap keeps the store readable throughout).
    *
    * Mechanics: `_lease` is created with create-no-overwrite (atomic on
    * HDFS and posix; object stores map it to a conditional PUT) holding
    * `<token> <epoch-ms>`. A second maintainer's create fails → it reads
    * the holder and throws [[StoreBusyException]] — fail-fast, no
    * blocking, the caller's scheduler owns retry policy. A holder that
    * CRASHED leaves a lease behind; once it is older than `ttlMs` the
    * next acquirer deletes it and re-creates — of two racing takeovers,
    * the loser's create-no-overwrite fails and it re-evaluates. Release
    * deletes the file only if it still holds OUR token, so a stale
    * holder resuming after an expiry takeover cannot delete its
    * successor's lease (it gets a warning-free no-op; its own mutation
    * already won or lost at the filesystem rename level).
    *
    * The ttl must exceed the longest maintenance op (default 15 min —
    * generous against the measured storescale.json lifecycle times);
    * like every expiry-based lease, a holder paused PAST the ttl can
    * overlap its successor — the standard trade, documented not hidden.
    * Reentrant per thread (vacuum may call compact on the same dir).
    * Taking the lease finishes any swap its previous holder left half
    * done, so every mutation starts from a store with all its tables. */
  object Lease {
    val DefaultTtlMs: Long = 15 * 60 * 1000L
    private def leasePath(dir: String) = new Path(s"$dir/_lease")
    private val held = new ThreadLocal[Set[String]] {
      override def initialValue(): Set[String] = Set.empty
    }

    def withLease[T](spark: SparkSession, dir: String,
                     ttlMs: Long = DefaultTtlMs)(body: => T): T =
      if (held.get.contains(dir)) body
      else {
        val token = acquire(spark, dir, ttlMs)
        held.set(held.get + dir)
        try { finishSwaps(spark, dir); body }
        finally { held.set(held.get - dir); release(spark, dir, token) }
      }

    /** [[finishSwap]] for every `<table>.bak` a crashed holder left in
      * `dir` — run once per acquisition, before the body reads anything. */
    private def finishSwaps(spark: SparkSession, dir: String): Unit = {
      val d = new Path(dir)
      val fs = d.getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.listStatus(d).map(_.getPath).filter(_.getName.endsWith(".bak")).foreach { bak =>
        finishSwap(fs, new Path(d, bak.getName.stripSuffix(".bak")), bak)
      }
    }

    /** Holder + age of the current lease, if any — for operators
      * deciding whether a takeover is safe. */
    def holder(spark: SparkSession,
               dir: String): Option[(String, Long)] = {
      val p = leasePath(dir)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      readLease(fs, p).map { case (t, ts) =>
        (t, System.currentTimeMillis() - ts)
      }
    }

    private def readLease(fs: FileSystem,
                          p: Path): Option[(String, Long)] =
      try {
        val in = fs.open(p)
        val bytes = try {
          val buf = new java.io.ByteArrayOutputStream()
          val tmp = new Array[Byte](256)
          var n = in.read(tmp)
          while (n > 0) { buf.write(tmp, 0, n); n = in.read(tmp) }
          buf.toByteArray
        } finally in.close()
        new String(bytes, java.nio.charset.StandardCharsets.UTF_8)
          .trim.split(' ') match {
          case Array(tok, ts) => Some((tok, ts.toLong))
          case _ => None // garbage lease: treat as expired-unknown
        }
      } catch { case _: java.io.IOException => None } // vanished mid-read

    private def acquire(spark: SparkSession,
                        dir: String, ttlMs: Long): String = {
      val p = leasePath(dir)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.mkdirs(new Path(dir))
      val token = java.util.UUID.randomUUID().toString
      var attempt = 0
      while (attempt < 3) {
        attempt += 1
        try {
          Committer.current.createExclusive(fs, p,
            s"$token ${System.currentTimeMillis()}"
              .getBytes(java.nio.charset.StandardCharsets.UTF_8))
          return token
        } catch {
          case _: java.io.IOException =>
            readLease(fs, p) match {
              case Some((holderTok, ts))
                  if System.currentTimeMillis() - ts <= ttlMs =>
                throw new StoreBusyException(
                  s"store $dir is under maintenance by $holderTok " +
                    s"(lease age ${System.currentTimeMillis() - ts} ms, " +
                    s"ttl $ttlMs ms)")
              case _ =>
                // expired or unreadable: take over; a racing winner's
                // create makes OUR next create fail and re-evaluate
                fs.delete(p, false)
            }
        }
      }
      throw new StoreBusyException(
        s"store $dir: lease churn — lost $attempt takeover races")
    }

    private def release(spark: SparkSession,
                        dir: String, token: String): Unit = {
      val p = leasePath(dir)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (readLease(fs, p).exists(_._1 == token)) fs.delete(p, false)
    }
  }

  /** Parquet files under `path` (recursively; excludes _SUCCESS etc.) —
    * the observable a compaction spec pins: results identical, file count
    * collapsed to one per partition directory. */
  def parquetFileCount(spark: SparkSession,
                       path: String): Int = {
    val conf = spark.sparkContext.hadoopConfiguration
    val p = new Path(path)
    val fs = p.getFileSystem(conf)
    val it = fs.listFiles(p, true)
    var n = 0
    while (it.hasNext) if (it.next().getPath.getName.endsWith(".parquet")) n += 1
    n
  }
}
