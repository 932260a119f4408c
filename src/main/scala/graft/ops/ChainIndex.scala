package graft.ops

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** The versioned chain store and the write protocol every chain-backed
  * artifact shares (IVF index, NSW adjacency, near-dup pair graph, graph
  * backbone, the streaming CDC table).
  *
  * The STORE is the stand-in for the table format the reference gets from
  * Snowflake (MERGE + snapshot isolation, stg_weather_raw.sql:3-7):
  * immutable `snap_N` version dirs, one `_commit_N` marker per version as
  * the commit point, `_delta` tags for batch-sized append versions, and
  * chain-aware GC. Writers serialize on [[CommitLock.withPublishLock]],
  * the same lock the staging table's rename swap (`Staging.publishAtomic`)
  * takes.
  *
  * The PROTOCOL is stated once — the way a dbt model declares only its
  * SQL and materialization and dbt owns the write. A family declares its
  * LAYER TABLE (name, read shape, on-disk clustering, optional) and, when
  * its appends are dup-guarded by id, the layers whose ids are resident;
  * this module owns the sequence around the family's derivation, and
  * [[Family.read]] is how every reader resolves a layer across a pinned
  * chain:
  *
  *  - [[Family.build]]: publish a FULL version through
  *    [[publishSnapshot]] (the family's writes run inside the commit
  *    lock), GC to the newest two chains, mark the root built;
  *  - [[Family.append]]: checkpoint the batch (freed on every exit),
  *    short-circuit an empty one, pin the chain ONCE, run the bloom-first
  *    CDC dup guard or the idempotent filter ([[IdBloom]]), publish ONE
  *    delta version, then apply the `compactAfterDeltas` trigger;
  *  - [[Family.compact]]: collapse the chain into one full version, each
  *    layer read by its declared shape and rewritten with its declared
  *    clustering, plus ONE freshly recomputed id-bloom sidecar — a pure
  *    artifact rewrite, no re-derivation.
  *
  * Concurrency: each [[Family]] instance is its writers' monitor (at most
  * one writer per process and family at a time), and the built-this-
  * process memo is shared by every family (roots are unique per family
  * prefix). Readers never take the monitor: they resolve committed
  * versions only, and chain GC keeps the previous chain for readers that
  * already resolved it (the VACUUM retention contract).
  */
object ChainIndex {

  // -----------------------------------------------------------------
  // S6v snapshot-versioned publish — minimal MVCC ACID without a table
  // format dependency. The staging table's rename swap
  // (`Staging.publishAtomic`) gives single-writer crash safety, but a
  // reader overlapping the swap can observe the table mid-swap. This
  // store gives CONCURRENT readers snapshot isolation and time travel:
  //
  //   <root>/snap_<N>/      immutable data directory, fully written first
  //   <root>/_commit_<N>    empty marker; its CREATE is the atomic commit
  //
  // Readers resolve max committed N and read snap_N — an immutable dir a
  // later publish never touches, so a reader holding version N is
  // isolated from the writer publishing N+1 (and can time-travel to any
  // retained version). Writers serialize on the same __lock contract as
  // publishAtomic. A writer crash before the marker leaves an orphan
  // snap dir that the next publish of that version deletes and rewrites;
  // the commit point itself is one atomic create. GC ([[gcChains]])
  // deletes beyond-retention MARKERS first — new readers can no longer
  // resolve them — then the data dirs; like Delta/Iceberg VACUUM,
  // retention must exceed the longest reader (the documented contract,
  // not a new invention). At 100 TB the snapshot dirs hold partitioned
  // parquet and the markers are O(1) metadata — the same shape, zero
  // extra data copies beyond what the merge rewrites.

  private def snapDir(root: String, v: Long): String = f"$root/snap_$v%06d"
  private def commitMarker(root: String, v: Long) = new Path(f"$root/_commit_$v%06d")

  private def fsOf(spark: SparkSession, root: String): FileSystem =
    new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def committedVersions(spark: SparkSession, root: String): Seq[Long] = {
    val fs = fsOf(spark, root)
    val rootP = new Path(root)
    if (!fs.exists(rootP)) Seq.empty
    else fs.listStatus(rootP).toSeq.map(_.getPath.getName)
      .filter(_.startsWith("_commit_"))
      .map(_.stripPrefix("_commit_").toLong).sorted
  }

  /** Highest committed snapshot version, None for an empty table. */
  def currentSnapshotVersion(spark: SparkSession, root: String): Option[Long] =
    committedVersions(spark, root).lastOption

  /** Publishes `write`'s output as the next snapshot version and returns
    * it. The marker create is the commit point: every failure before it
    * leaves the table at its previous version with only an orphan data
    * dir to clean up (which re-publishing overwrites).
    */
  def publishSnapshot(spark: SparkSession, root: String)(write: String => Unit): Long =
    publishVersion(spark, root, delta = false)(write)

  /** The one publish body behind [[publishSnapshot]] and
    * [[publishSnapshotDelta]]: lock, next version, clear a pre-commit
    * orphan, write, tag a delta, create the commit marker.
    */
  private def publishVersion(spark: SparkSession, root: String, delta: Boolean)(
      write: String => Unit): Long = {
    val fs = fsOf(spark, root)
    if (!delta) fs.mkdirs(new Path(root))
    CommitLock.withPublishLock(fs, root, "snapshot publish") {
      val cur = currentSnapshotVersion(spark, root)
      if (delta && cur.isEmpty)
        throw new java.io.IOException(s"no committed snapshot under $root to extend with a delta")
      val next = cur.getOrElse(-1L) + 1
      val data = new Path(snapDir(root, next))
      fs.delete(data, true) // orphan from a pre-commit crash of this version
      write(data.toString)
      if (delta) fs.create(deltaTag(root, next), false).close()
      fs.create(commitMarker(root, next), false).close()
      next
    }
  }

  // -----------------------------------------------------------------
  // S6v delta chains — the append story for snapshot-versioned MVs: an
  // append publishes a batch-sized DELTA version instead of writing
  // files into a committed snapshot, so every committed version is truly
  // immutable (time travel to N always reproduces N) and a multi-layer
  // append commits atomically with one marker. Layout: each version dir
  // holds named LAYER subdirs (`snap_N/cells`, `snap_N/pairs`, …); a
  // delta version carries a `_delta` tag file inside its dir. Readers
  // resolve the CHAIN — the latest committed FULL version plus every
  // committed delta after it — and union a layer across the chain dirs
  // that carry it (append-shaped layers) or read it from the newest dir
  // that does (rewrite-shaped layers like CC labels, which every version
  // rewrites in full). This is the Delta-Lake full+delta file story with
  // the commit log spelled as one marker file per version; at 100 TB a
  // daily append stays batch-sized and the full refresh is the periodic
  // compaction that starts a new chain. GC is chain-aware
  // ([[gcChains]]): dropping an old delta would silently lose rows, so
  // retention is counted in whole chains, never raw versions.

  private def deltaTag(root: String, v: Long) = new Path(s"${snapDir(root, v)}/_delta")

  private def isDeltaVersion(spark: SparkSession, root: String, v: Long): Boolean =
    fsOf(spark, root).exists(deltaTag(root, v))

  /** Publishes `write`'s output as a DELTA version on the current chain.
    * Same lock + next-version + commit-marker protocol as
    * [[publishSnapshot]]; the `_delta` tag lands inside the data dir
    * before the marker, so a crash anywhere leaves only an uncommitted
    * orphan the next publish of that version overwrites. Requires an
    * existing committed version to extend.
    */
  def publishSnapshotDelta(spark: SparkSession, root: String)(write: String => Unit): Long =
    publishVersion(spark, root, delta = true)(write)

  /** The current chain: the latest committed FULL version and every
    * committed delta after it, oldest first. Throws on an empty table or
    * a corrupt one (deltas with no full base — only possible by deleting
    * markers by hand; gcChains never strands a delta).
    */
  def chainVersions(spark: SparkSession, root: String): Seq[Long] = {
    val vs = committedVersions(spark, root)
    if (vs.isEmpty) throw new java.io.IOException(s"no committed snapshot under $root")
    val lastFull = vs.lastIndexWhere(v => !isDeltaVersion(spark, root, v))
    if (lastFull < 0)
      throw new java.io.IOException(s"no committed FULL snapshot under $root (orphan deltas)")
    vs.drop(lastFull)
  }

  /** Validated data dir of a specific committed version: time travel is
    * a parquet read of this dir (or of one of its layer subdirs).
    */
  def snapshotDirAt(spark: SparkSession, root: String, v: Long): String = {
    if (!fsOf(spark, root).exists(commitMarker(root, v)))
      throw new java.io.IOException(s"snapshot $v of $root is not committed (or was GC'd)")
    snapDir(root, v)
  }

  // Pinned chain resolution: a reader that needs MULTIPLE layers of the
  // same chain (IVF centroids + cells, NSW adj + vecs) must resolve the
  // committed marker set ONCE and derive every layer from it — two
  // separate chain resolutions can straddle a concurrent publish and pair
  // one chain's quantizer with another chain's assignments (wrong data,
  // no error). `chainDirs` is the pin; [[Family.read]] lists a layer's
  // carriers in it once and reads them by the layer's declared shape.
  // The layer name "" is the version dir itself (a single-layer table).
  //
  // Reader-vs-GC contract, stated completely: [[requirePinnedLive]]
  // catches a GC that lands between the pin and layer RESOLUTION (loud
  // error, no silent row loss). A GC landing between resolution and the
  // Spark ACTION can still yank files mid-scan — that surfaces as a loud
  // FileNotFoundException, never as silently missing rows, and it is the
  // standard VACUUM retention contract (identical to Delta/Iceberg):
  // retention (`gcChains` keepChains) must exceed the longest-running
  // reader. A deployment tunes retention to its slowest consumer exactly
  // as it would VACUUM horizons.

  /** The current chain's data dirs, oldest first — ONE marker-set
    * resolution to derive every layer read from.
    */
  def chainDirs(spark: SparkSession, root: String): Seq[String] =
    chainVersions(spark, root).map(v => snapDir(root, v))

  /** A pinned version dir that disappeared was GC'd AFTER the pin —
    * silently skipping it would drop that version's rows from chain
    * reads with no error (the one silent-loss mode pinning could
    * introduce vs marker re-resolution). Fail loudly instead: this is a
    * retention-contract violation (retention must exceed the longest
    * reader), same as a GC yanking a live scan, but caught at resolution.
    */
  private def requirePinnedLive(fs: FileSystem, dirs: Seq[String]): Unit =
    dirs.foreach { d =>
      if (!fs.exists(new Path(d)))
        throw new java.io.IOException(
          s"pinned chain dir $d was GC'd after the pin — retention must exceed the longest reader")
    }

  /** The pinned dirs' `layer` dirs that exist, oldest first: the one
    * listing every layer read decides from.
    */
  private def carriersIn(spark: SparkSession, dirs: Seq[String], layer: String): Seq[String] = {
    require(dirs.nonEmpty, "empty pinned chain")
    val fs = fsOf(spark, dirs.head)
    requirePinnedLive(fs, dirs)
    dirs.map(d => if (layer.isEmpty) d else s"$d/$layer")
      .filter(d => fs.exists(new Path(d)))
  }

  /** `layer` from its listed `carriers` by `shape`: append-shaped is the
    * union across every carrier (the full base + each delta batch; dirs
    * are read separately and unioned by name — hive-partitioned layers
    * keep per-scan partition pruning, and no common basePath is
    * required), rewrite-shaped is the newest carrier (every mutation
    * rewrites such layers in full — CC labels, centroid tables). No
    * carrier is a loud error.
    */
  private def readShaped(spark: SparkSession, carriers: Seq[String], layer: String,
                         shape: Shape): DataFrame = {
    if (carriers.isEmpty)
      throw new java.io.IOException(s"no committed chain version carries layer $layer")
    shape match {
      case AppendShaped => carriers.map(readLayerDir(spark, _)).reduce(_ unionByName _)
      case RewriteShaped => readLayerDir(spark, carriers.last)
    }
  }

  /** One layer dir, its schema memoized per (chain root, layer): every
    * version of one root's layer is written by the same writer with one
    * schema (the S6v protocol), so the snap_ component is stripped and
    * all versions share the entry; roots are nonce-unique per process
    * (ArtifactRoots).
    */
  private def readLayerDir(spark: SparkSession, dir: String): DataFrame = {
    val i = dir.lastIndexOf("/snap_")
    val key = if (i > 0) dir.take(i) + dir.drop(i).replaceAll("^/snap_[0-9]+", "") else dir
    graft.Tables.parquetSchemaMemo(spark, dir, key)
  }

  /** Append-shaped read of `layer` across a pinned chain. */
  private[graft] def readChainIn(spark: SparkSession, dirs: Seq[String], layer: String): DataFrame =
    readShaped(spark, carriersIn(spark, dirs, layer), layer, AppendShaped)

  /** Rewrite-shaped read of `layer`: its newest carrier in a pinned chain. */
  private[graft] def readChainLatestIn(spark: SparkSession, dirs: Seq[String], layer: String): DataFrame =
    readShaped(spark, carriersIn(spark, dirs, layer), layer, RewriteShaped)

  /** [[readChainLatestIn]] on the current chain of `root`; `layer` ""
    * reads the newest version of a single-layer table.
    */
  def readChainLatest(spark: SparkSession, root: String, layer: String): DataFrame =
    readChainLatestIn(spark, chainDirs(spark, root), layer)

  /** Chain-aware GC: retains the newest `keepChains` whole chains (a
    * full version plus its deltas) and deletes everything older —
    * markers first, then data. Counting retention in chains is what
    * keeps every retained read correct: dropping one old delta under
    * raw-version retention would silently lose that batch's rows from
    * chain reads. On a table with no deltas every version is its own
    * chain, so this keeps exactly the newest `keepChains` versions.
    */
  def gcChains(spark: SparkSession, root: String, keepChains: Int = 2): Seq[Long] = {
    require(keepChains >= 1, "must retain at least the current chain")
    val vs = committedVersions(spark, root)
    val fullIdxs = vs.zipWithIndex.collect {
      case (v, i) if !isDeltaVersion(spark, root, v) => i
    }
    if (fullIdxs.length <= keepChains) return Seq.empty
    val cutoff = fullIdxs(fullIdxs.length - keepChains) // first retained version index
    val fs = fsOf(spark, root)
    val dropped = vs.take(cutoff)
    dropped.foreach { v =>
      fs.delete(commitMarker(root, v), false) // new readers can no longer resolve it
      fs.delete(new Path(snapDir(root, v)), true)
    }
    dropped
  }

  /** How readers resolve a layer across a chain. */
  sealed trait Shape
  /** Every version adds rows: readers union the layer across the chain. */
  case object AppendShaped extends Shape
  /** Every version carrying the layer holds all of it (CC labels, the
    * frozen quantizer): readers take the newest carrier.
    */
  case object RewriteShaped extends Shape

  /** Files per hash-clustered layer (every clustered layer uses 4). */
  private val Parts = 4

  /** One named layer of a version dir and its on-disk layout:
    * hive-partitioned by `partitionBy` when set; otherwise hash-
    * partitioned into [[Parts]] files on `clusterBy` and sorted within
    * each file by `sortBy` (default: `clusterBy`); one file when neither
    * is set. An `optional` layer is absent from some versions (it first
    * lands with an append). The empty name is the version dir itself —
    * a single-layer artifact.
    */
  final case class Layer(name: String, shape: Shape,
                         clusterBy: Seq[String] = Nil, sortBy: Seq[String] = Nil,
                         partitionBy: Option[String] = None, optional: Boolean = false) {
    private[ChainIndex] def write(df: DataFrame, versionDir: String): Unit = {
      val out = if (name.isEmpty) versionDir else s"$versionDir/$name"
      val w = partitionBy match {
        case Some(c) => df.repartition(col(c)).write.partitionBy(c)
        case None if clusterBy.isEmpty => df.repartition(1).write
        case None =>
          val sort = if (sortBy.isEmpty) clusterBy else sortBy
          df.repartition(Parts, clusterBy.map(col): _*).sortWithinPartitions(sort.map(col): _*).write
      }
      w.mode("overwrite").parquet(out)
    }
  }

  /** The ids a chain holds, for the CDC dup guard and the [[IdBloom]]
    * sidecar: the `col` column of every listed (append-shaped) layer the
    * chain carries, unioned.
    */
  final case class ResidentIds(col: String, layers: Seq[String])

  private val isBuilt = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Boolean]()

  /** One version being written: the family's derivation hands each layer
    * frame to [[write]] (the table supplies the layout) and its own id
    * contribution to [[bloom]]. An append's version carries its guarded
    * batch and that batch's row count, which the append protocol already
    * took.
    */
  final class Version private[ChainIndex] (spark: SparkSession, fam: Family, dir: String,
                                           batch: Option[(DataFrame, Long)] = None) {
    def write(layer: String, df: DataFrame): Unit = fam.layer(layer).write(df, dir)

    /** `knownCount`: the number of ids, when the caller already holds it.
      * For the append's own batch frame it defaults to the batch count,
      * so the sidecar is one job. */
    def bloom(ids: DataFrame, knownCount: Option[Long] = None): Unit = {
      val c = fam.resident.get.col
      val n = knownCount.orElse(batch.collect { case (b, rows) if b eq ids => rows })
      IdBloom.write(spark, dir, ids.select(col(c)), c, n)
    }
  }

  /** One artifact family. `prefix` + tag names its roots
    * ([[ArtifactRoots]]); `name` is what error messages call it.
    */
  final class Family(prefix: String, val name: String, val layers: Seq[Layer],
                     val resident: Option[ResidentIds] = None) {

    private[ChainIndex] def layer(n: String): Layer =
      layers.find(_.name == n).getOrElse(
        throw new IllegalArgumentException(s"$name declares no layer '$n'"))

    /** Layer `name` of a pinned chain (`dirs`, one [[chainDirs]]
      * resolution), read by its declared shape: an append-shaped layer is
      * the union over every dir that carries it, a rewrite-shaped one
      * comes from the newest carrier. The carriers are listed ONCE and
      * decide everything: None only for an optional layer no dir carries
      * yet; a missing required layer or a name the family does not
      * declare throws.
      */
    def read(spark: SparkSession, dirs: Seq[String], name: String): Option[DataFrame] = {
      val l = layer(name)
      val carriers = carriersIn(spark, dirs, name)
      if (carriers.isEmpty && l.optional) None
      else Some(readShaped(spark, carriers, name, l.shape))
    }

    /** Root for (dataset, tag); no side effects — for readers. */
    def root(dir: String, tag: String = ""): String = ArtifactRoots.path(prefix + tag, Some(dir))

    /** Build (or refresh) from scratch: `write` derives the layers into
      * the new full version; the previous chain stays for its readers.
      */
    def build(spark: SparkSession, dir: String, tag: String = "")(write: Version => Unit): String =
      synchronized {
        val root = ArtifactRoots.register(prefix + tag, Some(dir))
        publishFull(spark, root)(write)
        isBuilt.put(root, java.lang.Boolean.TRUE)
        root
      }

    /** Build-once: runs `build` unless `root` was built in this process.
      * Double-checked on the writers' monitor, not computeIfAbsent — the
      * build marks its own root, and a same-map put inside the mapping
      * function is an illegal recursive update.
      */
    def ensureBuilt(root: String)(build: => Unit): Unit =
      if (!isBuilt.containsKey(root)) synchronized {
        if (!isBuilt.containsKey(root)) build
      }

    def requireBuilt(root: String, caller: String, dir: String): Unit =
      require(isBuilt.containsKey(root), s"$caller: no built $name for $dir — refresh first")

    /** Publish `batch` as one delta version on the current chain. The
      * batch is checkpointed once (freed on every exit — a guard failure
      * or a publish-lock failure is a retry path, and a retrying ingest
      * driver must not leak a checkpoint per attempt); an empty batch
      * publishes nothing. With resident ids declared, the guard probes the
      * chain's bloom sidecars first and scans resident ids only for
      * flagged batch ids; `idempotent` turns the loud require into
      * drop-resident-rows (an entirely replayed batch publishes nothing —
      * at-least-once delivery made exactly-once). `delta` derives and
      * writes the version from (guarded batch, pinned chain dirs).
      * `compactAfterDeltas` > 0 compacts once the chain holds more deltas.
      */
    def append(spark: SparkSession, root: String, batch: DataFrame, caller: String,
               compactAfterDeltas: Int = 0, idempotent: Boolean = false)(
        delta: (DataFrame, Seq[String], Version) => Unit): Unit = synchronized {
      val ckpts = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
      val nonEmpty = try {
        // lazy checkpoint + count: ONE job materializes the batch and
        // answers whether it is empty
        val b0 = batch.localCheckpoint(false)
        ckpts += b0
        val n0 = b0.count()
        n0 > 0 && {
          val dirs = chainDirs(spark, root)
          guarded(spark, root, dirs, b0, n0, caller, idempotent, ckpts).foreach { case (b, n) =>
            publishSnapshotDelta(spark, root)(p =>
              delta(b, dirs, new Version(spark, this, p, Some((b, n)))))
          }
          true
        }
      } finally Ckpt.free(ckpts.toSeq: _*)
      if (nonEmpty && compactAfterDeltas > 0 &&
          chainVersions(spark, root).size - 1 > compactAfterDeltas)
        compact(spark, root)
    }

    /** The batch rows to publish with their count (`b0` holds `n0`), or
      * None when nothing is left. */
    private def guarded(spark: SparkSession, root: String, dirs: Seq[String], b0: DataFrame,
                        n0: Long, caller: String, idempotent: Boolean,
                        ckpts: scala.collection.mutable.ArrayBuffer[DataFrame]): Option[(DataFrame, Long)] =
      resident match {
        case None => Some((b0, n0))
        case Some(r) =>
          def exact = residentIds(spark, dirs, r)
          if (idempotent) {
            val fresh = IdBloom.filterFresh(spark, dirs, b0, r.col, exact)
            if (fresh eq b0) Some((b0, n0))
            else {
              val c = fresh.localCheckpoint(false)
              ckpts += c
              val n = c.count()
              if (n > 0) Some((c, n)) else None
            }
          } else {
            require(!IdBloom.overlaps(spark, dirs, b0, r.col, exact),
              s"$caller: batch re-ingests ${r.col}s already resident in $root — " +
                s"${r.col}s must be disjoint (CDC ingest contract)")
            Some((b0, n0))
          }
      }

    private def residentIds(spark: SparkSession, dirs: Seq[String], r: ResidentIds): DataFrame =
      r.layers.flatMap(read(spark, dirs, _)).map(_.select(col(r.col))).reduce(_ unionByName _)

    /** Collapse the chain (full version + its deltas) into ONE full
      * version: every layer read by its shape from ONE pinned chain
      * resolution and rewritten with its layout, all overlapped on the
      * driver pool, plus ONE bloom recomputed over the exact resident ids
      * — never a copy of the old blobs, which would grow probe cost and
      * the union fpp with every append ever made; recompute also heals a
      * chain that lost a sidecar. A delta-less chain is a no-op.
      */
    def compact(spark: SparkSession, root: String): Unit = synchronized {
      val dirs = chainDirs(spark, root)
      if (dirs.size > 1) publishFull(spark, root) { v =>
        val layerWrites = layers.map { l => () =>
          read(spark, dirs, l.name).foreach(v.write(l.name, _))
        }
        val sidecar = resident.map(r => () => v.bloom(residentIds(spark, dirs, r)))
        Par.all(layerWrites ++ sidecar: _*)
      }
    }

    /** A full version starts a new chain; keep the previous chain for its
      * readers and drop anything older (retention must exceed the
      * longest-running reader).
      */
    private def publishFull(spark: SparkSession, root: String)(write: Version => Unit): Unit = {
      publishSnapshot(spark, root)(p => write(new Version(spark, this, p)))
      gcChains(spark, root, keepChains = 2)
    }
  }
}
