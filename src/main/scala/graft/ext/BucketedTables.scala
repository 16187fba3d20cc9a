package graft.ext

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions.{broadcast, col, lit}

/** Shared lifecycle machinery for STANDING bucketed-table indexes
  * ([[DedupIndex]], [[SimilarityIndex]]): versioned snapshot dirs,
  * crash-safe scratch-then-rename overwrites, commit healing, and
  * version pruning. One implementation so every standing index gets the
  * same durability contract:
  *
  *  - every table (re)creation claims a FRESH `v<N>` dir under the table
  *    root, so the snapshot being replaced is never clobbered mid-read;
  *  - an overwrite of a LIVE table writes the complete new snapshot
  *    under a `<table>__next` scratch entry first and commits with two
  *    catalog ops (DROP + RENAME); a crash between them is healed by
  *    [[heal]], which every index API calls on entry;
  *  - every publish prunes version dirs outside its keep-set, so
  *    repeated rebuilds cannot leak one full snapshot per call.
  *
  * It also owns the TOMBSTONE LIFECYCLE both indexes share, so each
  * step exists once and never branches on which index calls it:
  *  - stamp: [[stampTombs]] appends deletions stamped with the anchor
  *    table's snapshot epoch;
  *  - read: [[liveTombIds]] holds the epoch-first read order every probe
  *    mask and fold depends on;
  *  - dispatch: [[chooseCompaction]], the one compaction policy, picks
  *    full vs partial from the anchor's file count, dirty share and
  *    append counter against [[MinFiles]], [[MaxDirtyShare]] and
  *    [[AppendedRatio]], and hands its dirty-file scan on;
  *  - partial fold: [[planPartial]] splits each table into rewrite and
  *    carry sets, [[writePartial]] writes the subset and carries the rest;
  *  - commit: [[commitSnapshots]] swaps the anchor LAST, then
  *    [[clearTombs]] garbage-collects the now-inert tombstones.
  * The indexes keep only what is their own: table lists, sidecars,
  * preconditions and how their post-commit steps overlap. */
private[graft] object BucketedTables {

  /** External-table location root as a Hadoop filesystem URI: taken from
    * `spark.graft.index.root` (set it to an `hdfs://`/`s3a://` prefix to
    * put standing indexes on cluster storage), defaulting to a `file://`
    * path under the JVM temp dir so local sessions work with zero
    * configuration. Every lifecycle primitive below speaks the Hadoop
    * [[FileSystem]] API against this root — never `java.io.File` — so
    * the same snapshot/sidecar/prune machinery runs unchanged wherever
    * the corpus lives. The root is shared state — that is the point of a
    * STANDING index — so concurrent writers must use distinct table
    * names. */
  val RootConfKey = "spark.graft.index.root"

  def rootUri(spark: SparkSession): String =
    spark.conf.getOption(RootConfKey).getOrElse(
      "file://" + new java.io.File(
        sys.props.getOrElse("java.io.tmpdir", "/tmp"),
        "graft_dedup_index").getAbsolutePath)

  def tableRoot(spark: SparkSession, table: String): Path =
    new Path(rootUri(spark), table)

  /** The FileSystem serving `p` — resolved per path, so a `file://` temp
    * root and an `hdfs://` production root both work with no code
    * change. The local scheme's CRC wrapper is peeled off: the sidecar
    * carries its OWN length+checksum frame (below), cluster filesystems
    * bring their own integrity layer, and stray `.crc` twins would turn
    * a frame-level corruption error into an opaque ChecksumException. */
  private def fsFor(spark: SparkSession, p: Path): FileSystem =
    p.getFileSystem(spark.sessionState.newHadoopConf()) match {
      case c: org.apache.hadoop.fs.ChecksumFileSystem => c.getRawFileSystem
      case fs => fs
    }

  private def listVersionDirs(fs: FileSystem, root: Path): Seq[Path] =
    (try fs.listStatus(root).toSeq
     catch { case _: java.io.FileNotFoundException => Nil })
      .filter(s => s.isDirectory && s.getPath.getName.matches("v\\d+"))
      .map(_.getPath)

  /** Where this table's `v<N>` snapshot dirs live. A LIVE table anchors
    * at its catalog location's parent — so a session whose
    * [[RootConfKey]] changed after the index was created still
    * versions/prunes against the dirs the index actually occupies — and
    * only a fresh create consults the configured root. */
  private def versionRootOf(spark: SparkSession, table: String): Path =
    if (spark.catalog.tableExists(table))
      new Path(location(spark, table)).getParent
    else tableRoot(spark, table)

  def nextVersionPath(spark: SparkSession, table: String): String = {
    val root = versionRootOf(spark, table)
    val cur = listVersionDirs(fsFor(spark, root), root)
      .map(_.getName.drop(1).toLong).foldLeft(0L)(math.max)
    new Path(root, s"v${cur + 1}").toString
  }

  /** The table's bucket count from the catalog — appends and rewrites
    * must preserve the existing spec or exchange-free/bucket-pruned
    * scans are lost. */
  def bucketsOf(spark: SparkSession, table: String): Int =
    spark.sessionState.catalog
      .getTableMetadata(org.apache.spark.sql.catalyst.TableIdentifier(table))
      .bucketSpec.map(_.numBuckets).getOrElse(32)

  def location(spark: SparkSession, table: String): java.net.URI =
    spark.sessionState.catalog
      .getTableMetadata(org.apache.spark.sql.catalyst.TableIdentifier(table))
      .location

  /** The table's current snapshot-dir name (`v<N>`) — the identity of
    * the live commit. Changes exactly when a rewrite/compaction
    * publishes (the DROP+RENAME or SET LOCATION IS the commit), which
    * makes it the EPOCH a tombstone can stamp: a tombstone whose epoch
    * no longer matches was aimed at a replaced snapshot and is inert,
    * atomically with the commit that replaced it. */
  def snapshotEpoch(spark: SparkSession, table: String): String =
    new Path(location(spark, table)).getName

  /** The ACTIVE tombstone ids of a standing index: the rows of `tombs`
    * stamped with the live snapshot epoch of `anchor` — shared by both
    * indexes' probe masks and compaction folds. None = no tombstone
    * table = nothing deleted.
    *
    * READ ORDER is the contract this helper holds: the epoch is read
    * FIRST, then the tombstones, and the caller resolves the corpus scan
    * it will mask only after this returns. A compaction/rebuild swap
    * racing between the two then gives (old epoch, NEW scan) — the
    * tombstones stay active against already-clean rows, a harmless
    * over-mask — whereas the scan-first order could give (new epoch,
    * OLD scan): inert tombstones against a snapshot that still holds
    * the deleted rows, a transient resurrect. */
  def liveTombIds(spark: SparkSession, anchor: String,
                  tombs: String): Option[DataFrame] = {
    val epoch = snapshotEpoch(spark, anchor)
    if (!spark.catalog.tableExists(tombs)) None
    else {
      Some(spark.table(tombs).filter(col("ep") === lit(epoch))
        .select(col("id")))
    }
  }

  /** Mark `ids(idCol)` deleted against the live snapshot of `anchor`:
    * read its epoch, then append one epoch-stamped row per distinct id
    * to `tombs` in ONE table write (no partial-deletion window).
    * Tombstones are IDEMPOTENT, so a failed delete is safely retried.
    * The caller holds the writer lease — a delete racing a compaction
    * swap would stamp an epoch the swap just retired — and has healed
    * both tables. */
  def stampTombs(spark: SparkSession, anchor: String, tombs: String,
                 ids: DataFrame, idCol: String): Unit = {
    val epoch = snapshotEpoch(spark, anchor)
    writeBucketed(
      ids.select(col(idCol).as("id")).distinct().withColumn("ep", lit(epoch)),
      tombs, Seq("id"), buckets = 4, SaveMode.Append)
  }

  /** Anti-join `df` against the active tombstones on its `id` column
    * (no-op when there is no tombstone table; a frame without `id` fails
    * analysis rather than pass through unmasked). Broadcast by contract:
    * the tombstone table holds deletions since the last compaction,
    * never corpus rows. */
  def maskByTombs(df: DataFrame, tombIds: Option[DataFrame]): DataFrame =
    tombIds.fold(df)(t => df.join(broadcast(t), Seq("id"), "left_anti"))

  /** Truncate the tombstone table via a crash-safe overwrite — the GC
    * both indexes run after a compaction's [[commitSnapshots]]: the
    * anchor swap changed the epoch, so the folded tombstones are inert
    * already. An already-empty table skips the rewrite: the one-row
    * existence probe costs far less than the overwrite's write job + two
    * catalog ops + prune, and empty-tombstone compactions are the steady
    * state of a takedown-light index. */
  def clearTombs(spark: SparkSession, tombs: String): Unit =
    if (spark.catalog.tableExists(tombs) &&
        !spark.table(tombs).limit(1).isEmpty)
      writeBucketed(spark.table(tombs).limit(0), tombs, Seq("id"),
        bucketsOf(spark, tombs), SaveMode.Overwrite)

  /** Drop a table (and its crash-marker scratch entry) from the catalog
    * and delete every snapshot dir under its root — the shared cleanup
    * for superseded standing-index artifacts. */
  def dropTable(spark: SparkSession, table: String): Unit = {
    // capture the version root BEFORE the catalog entry (and with it the
    // location this table actually lives at) disappears
    val root = versionRootOf(spark, table)
    Seq(table, s"${table}__next").foreach { t =>
      if (spark.catalog.tableExists(t)) spark.sql(s"DROP TABLE $t")
    }
    pruneVersionsAt(spark, root, keep = Set.empty)
    fsFor(spark, root).delete(new Path(root, "_lease"), false)
    ()
  }

  /** `sidecar` (name → bytes) files are written INTO the new snapshot
    * dir alongside the parquet files, so the table commit publishes data
    * and sidecar atomically — the home for small per-snapshot metadata
    * that must never pair with a different snapshot's data (e.g. the
    * quantizer a [[SimilarityIndex]]'s cell ids were assigned under). On
    * the overwrite path the sidecar lands BEFORE either catalog op; on
    * the fresh-create path it lands right after the table appears, and a
    * crash in that hair-thin window reads as a LOUD missing-sidecar
    * error, never a silent mismatch. */
  def writeBucketed(df: DataFrame, table: String, keys: Seq[String],
                    buckets: Int, mode: SaveMode,
                    sidecar: Seq[(String, Array[Byte])] = Nil,
                    maxRecordsPerFile: Long = 0L): Unit = {
    val spark = df.sparkSession
    def writer(d: DataFrame, m: SaveMode) = {
      val w = d.write.mode(m)
        .bucketBy(buckets, keys.head, keys.tail: _*)
        .sortBy(keys.head, keys.tail: _*)
      // per-write option, NOT the session conf: a session-conf toggle
      // would leak into sibling writes when independent index lifecycles
      // run as concurrent driver jobs (graft.exec.Concurrent).
      // Known and accepted: saveAsTable persists the option into the
      // created table's catalog storage properties, so a LATER write that
      // passes 0 ("leave untouched") can still inherit this cap from the
      // catalog. Every current capped table (ANN cells) passes an
      // explicit cap on every rewrite, so the persisted value never
      // decides anything; if a new caller ever alternates capped and
      // uncapped writes to one table, pass the cap explicitly both ways.
      if (maxRecordsPerFile > 0L)
        w.option("maxRecordsPerFile", maxRecordsPerFile.toString)
      else w
    }
    def writeSidecar(dir: String): Unit = writeSidecarFiles(spark, dir, sidecar)
    if (mode == SaveMode.Append && spark.catalog.tableExists(table)) {
      // Appending WITH a sidecar has no atomic ordering: new rows would
      // go live under the old sidecar (or vice versa) — exactly the torn
      // pairing the sidecar exists to prevent. Snapshot metadata changes
      // belong to snapshot REPLACEMENTS only.
      require(sidecar.isEmpty,
        s"$table: sidecars cannot be appended — they pair with a snapshot")
      // appends go into the existing table's current snapshot location
      // (Spark's job commit protocol makes the file set atomic per table).
      // Repartition the batch ON THE BUCKET KEYS first: Spark's
      // repartition hash IS the bucket assignment, so each task holds
      // exactly one bucket and the append lands ONE file per non-empty
      // bucket — an unpartitioned append writes (tasks × buckets) files
      // per micro-batch, and that fragmentation is what every later
      // probe's file listing, footer read, and task scheduling pays for.
      // The batch (delta-sized by contract) is the side that shuffles.
      writer(df.repartition(bucketsOf(spark, table), keys.map(
          org.apache.spark.sql.functions.col): _*), mode)
        .format("parquet").saveAsTable(table)
    } else if (spark.catalog.tableExists(table)) {
      // OVERWRITE of a live table: saveAsTable's own drop-and-recreate
      // would leave no catalog entry if the write died mid-way. Write the
      // complete new snapshot under a SCRATCH entry first, then commit
      // with two catalog ops; a crash between them leaves the scratch
      // holding everything and [[heal]] finishes the rename.
      val prev = new Path(location(spark, table)).getName
      val scratch = s"${table}__next"
      val path = nextVersionPath(spark, table)
      writer(df, SaveMode.Overwrite)
        .option("path", path).format("parquet").saveAsTable(scratch)
      writeSidecar(path) // in the dir BEFORE the commit point
      spark.sql(s"DROP TABLE $table")
      spark.sql(s"ALTER TABLE $scratch RENAME TO $table") // external: keeps path
      pruneVersions(spark, table, Set(new Path(path).getName, prev))
    } else {
      // fresh create claims a new version dir (older dirs from previous
      // runs are stale garbage once this commit lands)
      val path = nextVersionPath(spark, table)
      writer(df, mode).option("path", path).format("parquet").saveAsTable(table)
      writeSidecar(path)
      pruneVersions(spark, table, Set(new Path(path).getName))
    }
  }

  /** Write each sidecar into `dir` framed ([[frameSidecar]]) and via
    * temp-file + rename: HDFS rename is atomic, and on object stores the
    * create itself only becomes visible on complete upload — either way
    * a crash mid-write can never leave a truncated sidecar in place
    * (readSidecar also checksums — belt and braces, since the
    * fresh-create path commits the table first). */
  private def writeSidecarFiles(spark: SparkSession, dir: String,
                                sidecar: Seq[(String, Array[Byte])]): Unit =
    sidecar.foreach { case (name, bytes) =>
      val dirPath = new Path(dir)
      val fs = fsFor(spark, dirPath)
      val target = new Path(dirPath, name)
      val tmp = new Path(dirPath, s"$name.tmp")
      val out = fs.create(tmp, true)
      try out.write(frameSidecar(bytes)) finally out.close()
      // FileSystem.rename refuses an existing destination on some
      // schemes; the delete-then-rename window can only surface as a
      // LOUD missing-sidecar error, never a torn one.
      if (fs.exists(target)) fs.delete(target, false)
      require(fs.rename(tmp, target),
        s"sidecar commit rename failed: $tmp -> $target")
    }

  /** Exclusive WRITER lease for a standing index, anchored at the index's
    * anchor table. "Run compactions OFFLINE relative to writers" used to
    * be documented-but-unenforced: an append racing a compaction can land
    * its rows in the snapshot dir the swap is about to replace — silent
    * row loss — and a delete can stamp an epoch the racing swap just
    * retired — a silently lost takedown. The lease turns both races into
    * LOUD failures: every mutating index API runs inside
    * [[withWriterLease]], which claims `<table root>/_lease` via an
    * atomic create-if-absent and releases it when the body finishes.
    * A second writer finds the file and throws, naming the holder.
    * Readers take no lease (probe consistency comes from the snapshot
    * epoch protocol, not locking).
    *
    * THE CREATE MUST ACTUALLY BE ATOMIC, and which primitive is depends
    * on the scheme — [[acquireLease]] capability-gates instead of
    * assuming:
    *  - `file://` — `RawLocalFileSystem.create(overwrite = false)` is an
    *    exists-check-then-create (a TOCTOU window), so the local scheme
    *    uses `java.nio` `CREATE_NEW` (O_EXCL), which the OS makes atomic;
    *  - `hdfs://` (and viewfs/webhdfs fronting it) — `create(overwrite =
    *    false)` is atomic at the NameNode;
    *  - stores advertising the Hadoop 3.4+ conditional-create capability
    *    (S3A with conditional writes enabled) — `createFile().overwrite(
    *    false).must(conditional-overwrite)`, enforced by the store at
    *    stream CLOSE (If-None-Match semantics), which the acquire treats
    *    as the commit point;
    *  - anything else REFUSES loudly ("lease unsupported on <scheme>")
    *    rather than silently not excluding — an operator who has verified
    *    their store's plain create is atomic can vouch for the scheme via
    *    [[LeaseTrustConfKey]].
    *
    * A writer that DIED holding the lease leaves it behind —
    * deliberately: the filesystem cannot tell a crash from a slow
    * compaction, so un-wedging is an operator decision ([[clearLease]]).
    * What MAKES that decision possible is the liveness heartbeat: a live
    * writer refreshes the lease file's mtime at phase boundaries
    * (snapshot written, pre-swap — [[renewLease]]), so [[leaseInfo]]'s
    * (holder, mtime) distinguishes a writer that is still advancing from
    * one whose heartbeat stopped long ago. */
  def withWriterLease[A](spark: SparkSession, table: String,
                         op: String)(body: => A): A = {
    val root = versionRootOf(spark, table)
    val fs = fsFor(spark, root)
    val lease = new Path(root, "_lease")
    val token = s"$op by ${
      java.lang.management.ManagementFactory.getRuntimeMXBean.getName}"
    acquireLease(spark, fs, lease, token, table)
    try body finally fs.delete(lease, false)
  }

  /** Schemes whose `FileSystem.create(path, overwrite = false)` is a true
    * atomic create-if-absent, enforced by a central metadata service (the
    * HDFS NameNode — viewfs/webhdfs are fronts over it). NOT the local
    * scheme: `RawLocalFileSystem` emulates the flag with a non-atomic
    * exists check, so `file://` takes the O_EXCL path instead. */
  private val AtomicCreateSchemes = Set("hdfs", "viewfs", "webhdfs", "swebhdfs")

  /** Comma-separated extra schemes the OPERATOR vouches for: their plain
    * `create(overwrite = false)` is trusted as atomic create-if-absent.
    * The escape hatch for stores the capability gate cannot recognize —
    * setting it for a store where create is check-then-act re-opens the
    * silent-row-loss race the lease exists to close, so vouch only after
    * verifying the store's semantics. */
  val LeaseTrustConfKey = "spark.graft.index.lease.trustedSchemes"

  private def trustedSchemes(spark: SparkSession): Set[String] =
    spark.conf.getOption(LeaseTrustConfKey)
      .map(_.split(",").map(_.trim.toLowerCase).filter(_.nonEmpty).toSet)
      .getOrElse(Set.empty)

  private val CondCreateCapability =
    org.apache.hadoop.fs.Options.CreateFileOptionKeys
      .FS_OPTION_CREATE_CONDITIONAL_OVERWRITE

  /** Claim `lease` with token `token`, or throw: `IllegalStateException`
    * naming the holder when the lease is demonstrably held, the
    * unsupported-scheme refusal when no atomic primitive exists for this
    * filesystem, and the ORIGINAL `IOException` otherwise — a permission
    * error or an unreachable filesystem must not masquerade as "held by
    * <holder>" and send the operator chasing a writer that isn't there. */
  private def acquireLease(spark: SparkSession, fs: FileSystem, lease: Path,
                           token: String, table: String): Unit = {
    def held(): Nothing = {
      val holder =
        try {
          val in = fs.open(lease)
          try new String(in.readAllBytes(), "UTF-8") finally in.close()
        } catch { case _: java.io.IOException => "<unreadable>" }
      throw new IllegalStateException(
        s"$table: writer lease held by [$holder] — standing-index " +
          "writers are exclusive (an append racing a compaction would " +
          "vanish with the replaced snapshot; a racing delete would be " +
          "silently retired). Wait for the holder, or clearLease() " +
          "after verifying it is dead (leaseInfo() shows the holder and " +
          "its last heartbeat).")
    }
    val scheme = Option(fs.getUri.getScheme).getOrElse("file").toLowerCase
    val bytes = token.getBytes("UTF-8")
    try {
      if (scheme == "file") {
        val p = java.nio.file.Paths.get(lease.toUri.getPath)
        java.nio.file.Files.createDirectories(p.getParent)
        java.nio.file.Files.write(p, bytes,
          java.nio.file.StandardOpenOption.CREATE_NEW,
          java.nio.file.StandardOpenOption.WRITE)
        ()
      } else if (AtomicCreateSchemes(scheme) || trustedSchemes(spark)(scheme)) {
        val out = fs.create(lease, false)
        try out.write(bytes) finally out.close()
      } else if (fs.hasPathCapability(lease, CondCreateCapability)) {
        // the store enforces exclusivity at stream close (conditional
        // PUT) — close() inside this try IS the acquisition commit point
        val out = fs.createFile(lease).overwrite(false)
          .must(CondCreateCapability, true).build()
        try out.write(bytes) finally out.close()
      } else {
        throw new IllegalStateException(
          s"$table: writer lease unsupported on filesystem scheme " +
            s"'$scheme' — its create is not an atomic create-if-absent, " +
            "so a lease there could not actually exclude a concurrent " +
            "writer (two racing writers would both \"acquire\" it, " +
            "re-opening the silent-row-loss race). Host the index on " +
            "HDFS or a store with conditional create, or set " +
            s"$LeaseTrustConfKey=$scheme after verifying this store's " +
            "create(overwrite=false) is atomic.")
      }
    } catch {
      case _: org.apache.hadoop.fs.FileAlreadyExistsException => held()
      case _: java.nio.file.FileAlreadyExistsException => held()
      case e: java.io.IOException =>
        // only diagnose "held" when the lease file demonstrably exists
        val exists =
          try fs.exists(lease)
          catch { case _: java.io.IOException => false }
        if (exists) held() else throw e
    }
  }

  /** Liveness heartbeat: refresh the anchor table's lease mtime so an
    * operator can tell a live writer from a dead one ([[leaseInfo]]).
    * ADVISORY — called at phase boundaries by the index lifecycles, a
    * no-op when this table holds no lease (the non-anchor tables of a
    * multi-table index), and never fails the writer over a heartbeat. */
  def renewLease(spark: SparkSession, table: String): Unit = {
    val root = versionRootOf(spark, table)
    val fs = fsFor(spark, root)
    val lease = new Path(root, "_lease")
    try if (fs.exists(lease))
      fs.setTimes(lease, System.currentTimeMillis(), -1)
    catch { case _: java.io.IOException => () }
  }

  /** The current lease holder's token and last-heartbeat mtime (millis),
    * None when no lease is held — what [[clearLease]]'s "verify the
    * holder is dead" actually looks at: a holder whose mtime stopped
    * advancing phases ago is dead; one that advanced recently is a slow
    * writer, not a crash. */
  def leaseInfo(spark: SparkSession, table: String): Option[(String, Long)] = {
    val root = versionRootOf(spark, table)
    val fs = fsFor(spark, root)
    val lease = new Path(root, "_lease")
    try {
      if (!fs.exists(lease)) None
      else {
        val mtime = fs.getFileStatus(lease).getModificationTime
        val in = fs.open(lease)
        val holder = try new String(in.readAllBytes(), "UTF-8")
                     finally in.close()
        Some((holder, mtime))
      }
    } catch { case _: java.io.IOException => None }
  }

  /** Operator escape hatch: remove a lease left by a writer that died
    * holding it. Only after verifying the holder is actually gone — the
    * lease cannot distinguish a crash from a slow compaction; use
    * [[leaseInfo]]'s heartbeat mtime as the staleness signal. */
  def clearLease(spark: SparkSession, table: String): Unit = {
    val root = versionRootOf(spark, table)
    fsFor(spark, root).delete(new Path(root, "_lease"), false)
    ()
  }

  /** Add a sidecar to the table's CURRENT snapshot dir (temp-file +
    * rename, like the commit-time path). For ADVISORY metadata only —
    * written after the snapshot commit, so a crash in between leaves the
    * snapshot without it, which readers must surface loudly (the
    * missing-sidecar error) rather than pair with stale data. Metadata
    * the index's CORRECTNESS depends on (e.g. the quantizer) must ride
    * the commit itself via `writeBucketed`/`writeSnapshot`'s `sidecar`
    * parameter instead. */
  def addSidecar(spark: SparkSession, table: String, name: String,
                 bytes: Array[Byte]): Unit =
    writeSidecarFiles(spark, new Path(location(spark, table)).toString,
      Seq(name -> bytes))

  def sidecarExists(spark: SparkSession, table: String, name: String): Boolean = {
    val p = new Path(new Path(location(spark, table)), name)
    fsFor(spark, p).exists(p)
  }

  /** Length + checksum frame around a sidecar payload, so a torn or
    * bit-rotted file can NEVER be decoded as valid metadata: header line
    * `<payload length> <xxhash-like checksum>\n`, then the payload. */
  private def frameSidecar(bytes: Array[Byte]): Array[Byte] = {
    val header = s"${bytes.length} ${checksum(bytes)}\n".getBytes("UTF-8")
    header ++ bytes
  }

  private def checksum(bytes: Array[Byte]): Long = {
    var h = 1125899906842597L
    var i = 0
    while (i < bytes.length) { h = h * 31 + bytes(i); i += 1 }
    h
  }

  /** Read a sidecar file from the table's CURRENT snapshot dir. Fails
    * LOUDLY when the file is missing, truncated, or corrupt — a standing
    * index must never probe with silently-wrong metadata. */
  def readSidecar(spark: SparkSession, table: String, name: String): Array[Byte] = {
    val p = new Path(new Path(location(spark, table)), name)
    val fs = fsFor(spark, p)
    require(fs.exists(p) && fs.getFileStatus(p).isFile,
      s"$table: missing snapshot sidecar '$name' — the snapshot commit " +
        "did not complete; rebuild the index")
    val in = fs.open(p)
    val framed = try in.readAllBytes() finally in.close()
    val nl = framed.indexOf('\n'.toByte)
    require(nl > 0, s"$table: sidecar '$name' has no header — corrupt")
    val header = new String(framed, 0, nl, "UTF-8").split(" ")
    require(header.length == 2, s"$table: sidecar '$name' header malformed")
    val payload = framed.drop(nl + 1)
    require(payload.length == header(0).toInt &&
        checksum(payload) == header(1).toLong,
      s"$table: sidecar '$name' failed its length/checksum frame — " +
        "truncated or corrupt; rebuild the index")
    payload
  }

  /** Finish a table rewrite that died between its DROP and RENAME catalog
    * ops: the scratch entry holds the COMPLETE new snapshot, so adopting
    * it is the correct (and only) repair — a no-op unless a crash left
    * the marker. With `refresh` (the default) it ALSO drops this
    * session's cached relation for each table: a standing index is
    * shared state — another session (a streaming ingestion's cloned
    * micro-batch session, an offline compaction) may have appended files
    * or swapped the snapshot since this session last listed the table,
    * and the shared external catalog does not invalidate per-session
    * relation caches (or their file listings). The refresh costs a
    * re-listing on the next scan, so callers about to OVERWRITE the
    * table (nothing reads the old state) pass `refresh = false`. */
  def heal(spark: SparkSession, tables: Seq[String],
           refresh: Boolean = true): Unit =
    tables.foreach { table =>
      if (!spark.catalog.tableExists(table) &&
          spark.catalog.tableExists(s"${table}__next"))
        spark.sql(s"ALTER TABLE ${table}__next RENAME TO $table")
      if (refresh && spark.catalog.tableExists(table))
        spark.catalog.refreshTable(table)
    }

  /** Write `df` as the table's NEXT snapshot dir under a scratch catalog
    * name (dropped immediately — external, files stay) WITHOUT touching
    * the live table; `sidecar` files land in the new dir alongside the
    * data, BEFORE the publish commit point. Publication is a separate
    * single catalog operation ([[swapLocation]]); a crash anywhere
    * during this write leaves readers on the current snapshot
    * untouched. */
  def writeSnapshot(spark: SparkSession, table: String, keys: Seq[String],
                    df: DataFrame,
                    sidecar: Seq[(String, Array[Byte])] = Nil,
                    maxRecordsPerFile: Long = 0L): String = {
    val scratch = s"${table}__snap"
    val path = nextVersionPath(spark, table)
    val w = df.write.mode(SaveMode.Overwrite)
      .bucketBy(bucketsOf(spark, table), keys.head, keys.tail: _*)
      .sortBy(keys.head, keys.tail: _*)
    // per-write option, not the session conf (concurrency: see
    // writeBucketed)
    (if (maxRecordsPerFile > 0L)
       w.option("maxRecordsPerFile", maxRecordsPerFile.toString)
     else w)
      .option("path", path).format("parquet").saveAsTable(scratch)
    writeSidecarFiles(spark, path, sidecar)
    spark.sql(s"DROP TABLE IF EXISTS $scratch")
    path
  }

  /** Atomically repoint the live table at a fully-written snapshot dir —
    * ONE catalog operation, the commit point of every index compaction.
    * Snapshots older than the one just replaced are pruned (current +
    * previous are retained, for in-flight readers and crash
    * forensics). */
  def swapLocation(spark: SparkSession, table: String,
                   newPath: String): Unit = {
    val oldLoc = location(spark, table)
    spark.sql(s"ALTER TABLE $table SET LOCATION '$newPath'")
    spark.catalog.refreshTable(table)
    pruneVersions(spark, table,
      Set(new Path(newPath).getName, new Path(oldLoc).getName))
  }

  /** The order of a compaction's catalog commits: every non-anchor
    * `(table, snapshot)` in the caller's order, the ANCHOR LAST. The
    * anchor's swap changes the tombstone epoch, so it must land after
    * every other table's fold: a crash before it leaves the tombstones
    * active and every table, folded or not, still masked. Anchor-first
    * would retire the tombstones while unfolded tables still hold the
    * deleted rows — a resurrect. */
  def commitOrder(anchor: String,
                  snaps: Seq[(String, String)]): Seq[(String, String)] = {
    val (last, first) = snaps.partition(_._1 == anchor)
    first ++ last
  }

  /** Publish a compaction: the liveness heartbeat at the phase boundary
    * (snapshots written, about to swap — what [[leaseInfo]]'s staleness
    * check observes), then each snapshot's single-catalog-op
    * [[swapLocation]] in [[commitOrder]]. */
  def commitSnapshots(spark: SparkSession, anchor: String,
                      snaps: Seq[(String, String)]): Unit = {
    renewLease(spark, anchor)
    commitOrder(anchor, snaps).foreach { case (table, snap) =>
      swapLocation(spark, table, snap)
    }
  }

  /** The per-bucket compaction frame: a SHUFFLE-FREE dedup of one table.
    * The bucketed scan is forced to one partition per bucket (the caller
    * disables `autoBucketedScan`), identical rows co-bucket by
    * construction, so a within-partition sort + adjacent-row dedup IS a
    * global dedup — no exchange anywhere in the plan (asserted in
    * IOSpec), in contrast to a `distinct()` that would full-shuffle the
    * corpus artifact set. */
  def compactionFrame(spark: SparkSession, table: String): DataFrame =
    adjacentDedup(spark.table(table))

  /** Whole-row dedup WITHOUT an exchange: per-partition sort + adjacent
    * filter. A global dedup whenever identical rows already co-locate —
    * a forced bucketed scan (identical rows co-bucket), or a frame just
    * repartitioned on a column subset (identical rows share every
    * column, so any column-hash co-locates them). The alternative,
    * `distinct()`, would shuffle the frame a second time on ALL
    * columns. */
  def adjacentDedup(df: DataFrame): DataFrame = {
    val cols = df.columns.map(org.apache.spark.sql.functions.col).toSeq
    implicit val enc: org.apache.spark.sql.Encoder[org.apache.spark.sql.Row] =
      org.apache.spark.sql.Encoders.row(df.schema)
    df.sortWithinPartitions(cols: _*).mapPartitions { it =>
      var prev: org.apache.spark.sql.Row = null
      it.filter { r => val keep = prev == null || r != prev; prev = r; keep }
    }
  }

  /** Run `body` with bucketed scans forced to one partition per bucket —
    * the shape that makes [[compactionFrame]]'s per-partition dedup
    * global (duplicates co-bucket across files). */
  // depth + saved previous value per session — withForcedBucketedScan
  // bodies now run as concurrent driver jobs (independent structures'
  // compactions, graft.exec.Concurrent), and a plain set/restore pair
  // would let the first leg to FINISH restore the conf out from under a
  // sibling still folding (whose per-bucket shuffle-free dedup depends
  // on the forced bucketed scan). Every user forces the same value, so
  // a reference count composes them: set on first entry, restore on
  // last exit. Two documented limits: (a) the restore writes back the
  // value captured at FIRST entry, so an external conf change made while
  // a window is open is clobbered at last exit — acceptable because the
  // window is ours and all users force the same value; (b) a WeakHashMap
  // keys the entry so a session that dies with an unbalanced exit path
  // (killed thread) cannot stay strongly referenced here forever.
  private val forcedBucketedDepth =
    new java.util.WeakHashMap[SparkSession, (Int, String)]()

  def withForcedBucketedScan[A](spark: SparkSession)(body: => A): A = {
    val conf = "spark.sql.sources.bucketing.autoBucketedScan.enabled"
    forcedBucketedDepth.synchronized {
      forcedBucketedDepth.get(spark) match {
        case null =>
          val prev = spark.conf.get(conf)
          spark.conf.set(conf, "false")
          forcedBucketedDepth.put(spark, (1, prev))
        case (d, prev) => forcedBucketedDepth.put(spark, (d + 1, prev))
      }
    }
    try body
    finally forcedBucketedDepth.synchronized {
      forcedBucketedDepth.get(spark) match {
        case (1, prev) =>
          spark.conf.set(conf, prev)
          forcedBucketedDepth.remove(spark)
        case (d, prev) => forcedBucketedDepth.put(spark, (d - 1, prev))
      }
    }
  }

  /** Below this many anchor files a full fold costs less than partial's
    * fixed jobs (the dirty-file discovery scan, per-file carry links):
    * `compactbench_r13.json` measured partial ≈ full at 4k docs, ~50
    * steady-state exact files (ratio 1.10), and partial 1.4–2× faster
    * above; `anncompactbench_r13.json` measured full 1.9× faster on a
    * 1.6k-vector index (ratio 0.52). Files are row-capped, so their count
    * tracks corpus size. */
  val MinFiles = 48

  /** Above this share of dirty anchor files the rewrite set is the
    * corpus, so partial pays its overhead on top of the full fold's data
    * term (`anncompactbench_r13.json`: with one file per bucket, 12
    * tombstones touched up to 12 of 16 cells, and partial lost below
    * ~1.6M vectors). */
  val MaxDirtyShare = 0.5

  /** Docs appended since the last full fold, as a share of the
    * snapshot's docs, from which a full fold is due: a partial fold
    * carries append files (the dedup index's pref/band tables whole), and
    * only the full fold restores one-file-per-bucket scans. No committed
    * artifact varies append mass (compactbench and anncompactbench append
    * one batch), so this is the advisory default the append counter has
    * carried since it came in, not a measured crossover. */
  val AppendedRatio = 0.5

  /** True when `appended` docs since the last full fold reach
    * [[AppendedRatio]] of a `snapshot`-doc snapshot — the append trigger
    * of both [[compactionChoice]] and `DedupIndex.needsCompact`. */
  def appendHeavy(appended: Long, snapshot: Long): Boolean =
    appended >= AppendedRatio * math.max(snapshot, 1L)

  /** The full-vs-partial compaction policy, pure so tests pin every
    * branch. `appended` is the anchor's append counter (docs appended
    * since the last full fold, docs in the snapshot); None when the index
    * keeps none or a crash lost it, and the choice then rests on files
    * and dirty share alone:
    *
    *  - append mass [[appendHeavy]] → "full": a partial fold would carry
    *    the append fragmentation again;
    *  - `totalFiles < MinFiles` → "full": the corpus is small enough
    *    that rewriting it costs less than partial's fixed jobs;
    *  - `dirtyFiles > MaxDirtyShare · totalFiles` → "full": the rewrite
    *    set is the corpus anyway;
    *  - otherwise → "partial".
    */
  def compactionChoice(totalFiles: Int, dirtyFiles: Int,
                       appended: Option[(Long, Long)]): String =
    if (appended.exists { case (a, snap) => appendHeavy(a, snap) }) "full"
    else if (totalFiles < MinFiles) "full"
    else if (dirtyFiles > MaxDirtyShare * totalFiles) "full"
    else "partial"

  /** The compaction dispatch of both indexes' `compactAuto`: the
    * anchor's file count and the caller's append counter first — when
    * either already says "full" no dirty-file scan is paid — then the
    * anchor's [[dirtyFiles]] scan, then [[compactionChoice]]. Prints one
    * `[compactAuto]` line per decision. Returns the choice with the
    * scan, which the partial fold takes as the anchor's dirty set
    * ([[planPartial]]) so it is never paid twice. */
  def chooseCompaction(spark: SparkSession, anchor: String, tombs: String,
                       appended: Option[(Long, Long)])
      : (String, Option[Set[String]]) = {
    val totalFiles = bucketFilePaths(spark, anchor).size
    val dirty =
      if (compactionChoice(totalFiles, 0, appended) == "full") None
      else Some(dirtyFiles(spark, anchor, liveTombIds(spark, anchor, tombs)))
    val choice = compactionChoice(totalFiles, dirty.fold(0)(_.size), appended)
    System.err.println(s"[compactAuto] $anchor: files=$totalFiles " +
      s"dirty=${dirty.fold("-")(_.size.toString)} appended=" +
      appended.fold("-") { case (a, snap) => s"$a/$snap" } + s" -> $choice")
    (choice, dirty)
  }

  /** One table's partial-compaction plan ([[planPartial]]): its live
    * files split into the `rewrite` and `carried` sets, the `raw` read of
    * the rewrite files (None when nothing is carried) and the masked,
    * deduped `subset` the new snapshot is written from. */
  final case class PartialFold(table: String, keys: Seq[String],
                               rewrite: Seq[Path], carried: Seq[Path],
                               raw: Option[DataFrame], subset: DataFrame)

  /** Plan the PARTIAL compaction of `table` (bucket keys `keys`): the
    * live files physically holding a tombstoned row rewrite, every other
    * file carries into the new snapshot unchanged. `dirty` is that file
    * set when the caller already knows it (the dispatch's scan, or empty
    * for a table whose deletions scatter and which never rewrites on
    * them); None runs [[dirtyFiles]] here.
    *
    * None when the table is UNTOUCHED (nothing to rewrite, something to
    * carry): its snapshot would be byte-identical to the live one, so
    * writing, re-linking and swapping it is pure overhead. Skipping does
    * not change the tombstone story — retirement is the ANCHOR table's
    * epoch change, and an untouched table has no physical rows for its
    * tombstones to mask.
    *
    * Otherwise the subset: with nothing to carry, the full fold's
    * shuffle-free [[compactionFrame]]; else ONLY the rewrite files, read
    * raw (clean files never decode). The raw read loses the bucketed
    * partitioning, so the deletion-bounded subset pays ONE repartition
    * on the bucket keys — Spark's repartition hash IS the bucket
    * assignment, and the partition count is sized to the rewrite set,
    * not the bucket count — then the shuffle-free [[adjacentDedup]]
    * (identical rows share their bucket keys, so the repartition
    * already co-located them). Replay duplicates fold WITHIN the subset;
    * cross-file ones against carried files wait for a full compaction
    * (probe-neutral). */
  def planPartial(spark: SparkSession, table: String, keys: Seq[String],
                  tombIds: Option[DataFrame],
                  dirty: Option[Set[String]]): Option[PartialFold] = {
    val isDirty = dirty.getOrElse(dirtyFiles(spark, table, tombIds))
    val (rewrite, carried) = bucketFilePaths(spark, table).map(_._2)
      .partition(p => isDirty(p.toUri.getPath))
    if (rewrite.isEmpty && carried.nonEmpty) {
      System.err.println(s"[compactPartial] $table: untouched " +
        s"(carry=${carried.size} files in place) — skipped")
      None
    } else {
      val raw =
        if (carried.isEmpty) None
        else Some(spark.read.schema(spark.table(table).schema)
          .parquet(rewrite.map(_.toString): _*))
      val subset = raw match {
        case None => maskByTombs(compactionFrame(spark, table), tombIds)
        case Some(r) => adjacentDedup(maskByTombs(r, tombIds)
          .repartition(math.min(bucketsOf(spark, table), rewrite.size),
            keys.map(col): _*))
      }
      Some(PartialFold(table, keys, rewrite, carried, raw, subset))
    }
  }

  /** Write `fold`'s subset as its table's next snapshot
    * ([[writeSnapshot]], `sidecar` and `maxRecordsPerFile` passed on),
    * run `beforeCarry` on the new dir while it holds only the rewritten
    * files, then carry the clean files in ([[copyBucketFiles]]). Returns
    * the snapshot path; publication is [[commitSnapshots]]. */
  def writePartial(spark: SparkSession, fold: PartialFold,
                   sidecar: Seq[(String, Array[Byte])] = Nil,
                   maxRecordsPerFile: Long = 0L,
                   beforeCarry: String => Unit = _ => ()): String = {
    val t0 = System.nanoTime()
    val snap = writeSnapshot(spark, fold.table, fold.keys, fold.subset,
      sidecar, maxRecordsPerFile)
    beforeCarry(snap)
    val t1 = System.nanoTime()
    if (fold.carried.nonEmpty)
      copyBucketFiles(spark, fold.table, fold.carried, snap)
    System.err.println(f"[compactPartial] ${fold.table}: rewrite=" +
      f"${fold.rewrite.size} carry=${fold.carried.size} files; " +
      f"write=${(t1 - t0) / 1e9}%.2fs " +
      f"carry=${(System.nanoTime() - t1) / 1e9}%.2fs")
    snap
  }

  /** The live files of `table` physically holding a tombstoned row —
    * partial compaction's rewrite set, shared by both standing indexes.
    * Discovery reads the id column + `input_file_name` only (parquet
    * prunes everything else — vectors/text never decode). The tombstone
    * set is delta-sized by contract, so it collects to an `IN`-literal
    * list, which parquet's row-group min/max stats then prune against —
    * on a mostly-clean corpus the scan reads footers, not rows; a
    * degenerate tombstone set (> `inListMax`) falls back to the
    * broadcast semi-join. Prints the scan's time and file count. */
  def dirtyFiles(spark: SparkSession, table: String,
                 tombIds: Option[DataFrame],
                 inListMax: Int = 10000): Set[String] = {
    val t0 = System.nanoTime()
    val out: Set[String] = tombIds match {
      case Some(t) if !spark.table(table).columns.contains("id") =>
        // a table that cannot be deletion-scanned (legacy schema, no id
        // column) must not read as CLEAN while tombstones are pending:
        // the partial fold would skip it as untouched and then truncate
        // the tombstones, physically un-deleting the masked rows. Fail
        // loudly.
        require(t.isEmpty,
          s"$table: tombstones pending but the table has no id column " +
            "(legacy schema) — partial compaction cannot locate deleted " +
            "rows; rebuild the index (write)")
        Set.empty
      case Some(t) =>
        import org.apache.spark.sql.functions.input_file_name
        val scan = spark.table(table)
          .select(col("id"), input_file_name().as("f"))
        val ids = t.limit(inListMax + 1).collect().map(_.get(0))
        if (ids.isEmpty) Set.empty[String]
        else {
          val matched =
            if (ids.length <= inListMax)
              scan.filter(col("id").isin(ids.toIndexedSeq: _*))
            else scan.join(broadcast(t), Seq("id"), "left_semi")
          matched.select(col("f")).distinct().collect()
            .map(r => new Path(r.getString(0)).toUri.getPath).toSet
        }
      case _ => Set.empty[String]
    }
    System.err.println(f"[compactPartial] $table: dirty-file scan " +
      f"${(System.nanoTime() - t0) / 1e9}%.2fs (${out.size} files)")
    out
  }

  /** The live snapshot's parquet files keyed by the bucket id parsed
    * from Spark's bucketed file naming (`..._<bucket id>.c…`) — driver
    * metadata (one dir listing), shared by partial compaction's
    * dirty-file reads, carry-overs, and occupancy stats. */
  def bucketFilePaths(spark: SparkSession,
                      table: String): Seq[(Int, Path)] = {
    val loc = new Path(location(spark, table))
    val fs = fsFor(spark, loc)
    val pat = ".*_(\\d{5})(?:\\.c\\d+)?\\..*parquet$".r
    fs.listStatus(loc).toSeq.filter(_.isFile)
      .flatMap(st => st.getPath.getName match {
        case pat(b) => Some((b.toInt, st.getPath))
        case _ => None
      })
  }

  /** Carry `srcFiles` from `table`'s LIVE snapshot dir into `destDir`
    * unchanged (names preserved — the bucket id is encoded in the file
    * name, and Spark's bucketed reader groups files by that suffix,
    * tolerating several files per bucket). This carry-over is what makes
    * PARTIAL compaction partial: an untouched file moves to the new
    * snapshot without decode / dedup / sort / re-encode — and without
    * moving bytes where the store allows it: on `file://` each carry is
    * a HARD LINK (parquet files are immutable and version pruning only
    * unlinks, so shared inodes are safe); elsewhere a filesystem copy
    * (object stores would serve this as a server-side copy; HDFS streams
    * it). Collision-free by construction: every Spark write stamps fresh
    * job UUIDs into its file names. */
  def copyBucketFiles(spark: SparkSession, table: String,
                      srcFiles: Seq[Path], destDir: String): Unit = {
    val fs = fsFor(spark, new Path(location(spark, table)))
    val conf = spark.sessionState.newHadoopConf()
    val local = Option(fs.getUri.getScheme).forall(_ == "file")
    srcFiles.foreach { src =>
      val dst = new Path(new Path(destDir), src.getName)
      val linked = local && (try {
        java.nio.file.Files.createLink(
          java.nio.file.Paths.get(dst.toUri.getPath),
          java.nio.file.Paths.get(src.toUri.getPath))
        true
      } catch { case _: java.io.IOException => false }) // cross-device
      if (!linked)
        require(org.apache.hadoop.fs.FileUtil.copy(fs, src, fs, dst,
          false, conf),
          s"$table: bucket-file carry-over failed for $src")
    }
  }

  /** Delete snapshot dirs not in `keep` — every publish path prunes, so
    * repeated rebuilds/compactions cannot leak one full snapshot copy
    * per call into the table root. */
  def pruneVersions(spark: SparkSession, table: String,
                    keep: Set[String]): Unit =
    pruneVersionsAt(spark, versionRootOf(spark, table), keep)

  private def pruneVersionsAt(spark: SparkSession, root: Path,
                              keep: Set[String]): Unit = {
    val fs = fsFor(spark, root)
    listVersionDirs(fs, root)
      .filter(p => !keep(p.getName))
      .foreach(p => fs.delete(p, true))
  }
}
