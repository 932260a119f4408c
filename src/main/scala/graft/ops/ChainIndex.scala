package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.weather.Staging

/** The write protocol every chain-backed artifact shares (IVF index, NSW
  * adjacency, near-dup pair graph, graph backbone), stated once — the way
  * a dbt model declares only its SQL and materialization and dbt owns the
  * write. A family declares its LAYER TABLE (name, read shape, on-disk
  * clustering, optional) and, when its appends are dup-guarded by id, the
  * layers whose ids are resident; this module owns the sequence around
  * the family's derivation, and [[Family.read]] is how every reader
  * resolves a layer across a pinned chain:
  *
  *  - [[Family.build]]: publish a FULL version through
  *    [[Staging.publishSnapshot]] (the family's writes run inside the
  *    commit lock), GC to the newest two chains, mark the root built;
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

    private[ChainIndex] def read(spark: SparkSession, dirs: Seq[String]): DataFrame = shape match {
      case AppendShaped => Staging.readChainIn(spark, dirs, name)
      case RewriteShaped => Staging.readChainLatestIn(spark, dirs, name)
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

    /** Layer `name` of a pinned chain (`dirs`, one [[Staging.chainDirs]]
      * resolution), read by its declared shape: an append-shaped layer is
      * the union over every dir that carries it, a rewrite-shaped one
      * comes from the newest carrier. None only for an optional layer no
      * dir carries yet; a missing required layer or a name the family
      * does not declare throws.
      */
    def read(spark: SparkSession, dirs: Seq[String], name: String): Option[DataFrame] = {
      val l = layer(name)
      if (l.optional && !Staging.chainHasLayerIn(spark, dirs, name)) None
      else Some(l.read(spark, dirs))
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
          val dirs = Staging.chainDirs(spark, root)
          guarded(spark, root, dirs, b0, n0, caller, idempotent, ckpts).foreach { case (b, n) =>
            Staging.publishSnapshotDelta(spark, root)(p =>
              delta(b, dirs, new Version(spark, this, p, Some((b, n)))))
          }
          true
        }
      } finally Ckpt.free(ckpts.toSeq: _*)
      if (nonEmpty && compactAfterDeltas > 0 &&
          Staging.chainVersions(spark, root).size - 1 > compactAfterDeltas)
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
      val dirs = Staging.chainDirs(spark, root)
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
      Staging.publishSnapshot(spark, root)(p => write(new Version(spark, this, p)))
      Staging.gcChains(spark, root, keepChains = 2)
    }
  }
}
