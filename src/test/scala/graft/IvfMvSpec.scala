package graft

import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._

import graft.llm.Embeddings

/** E16/E17 persisted-IVF-index pins: the artifact path must be value-
  * identical to the inline IVF search, the probed read must be partition-
  * PRUNED (the layout is the query plan — reading every cell would make
  * the MV pointless at scale), and the append path must route a new batch
  * with the FROZEN quantizer, never retraining or rewriting the resident
  * cells.
  */
class IvfMvSpec extends SparkSpec {

  test("persisted-index query is row-identical to the inline IVF search") {
    val inline  = Embeddings.ivfTopK(spark, sfDir).collect().toSeq
    val fromMv  = Embeddings.ivfMvTopK(spark, sfDir).collect().toSeq
    assert(fromMv == inline)
  }

  test("probed cells scan is partition-pruned to the probe list") {
    import spark.implicits._
    val root = Embeddings.buildIvfIndex(spark, sfDir, "spec_prune", identity)
    val snap = graft.ops.ChainIndex.chainDirs(spark, root).last
    val all = spark.read.parquet(s"$snap/cells")
    val allCells = all.select($"cell").distinct().as[Int].collect().sorted.toSeq
    assert(allCells.size > 3, s"degenerate index: cells=$allCells")
    val probed = allCells.take(2)
    val pruned = all.filter($"cell".isin(probed: _*))
    val scan = pruned.queryExecution.executedPlan.collectFirst {
      case f: FileSourceScanExec => f
    }.get
    // the cell predicate must land in PartitionFilters (directory-level
    // pruning), NOT in the data filters (which would scan every file)
    assert(scan.partitionFilters.nonEmpty,
      s"no PartitionFilters on the cells scan:\n${scan.metadata}")
    assert(scan.relation.partitionSchema.fieldNames.contains("cell"))
    // and the EXECUTED scan must touch fewer files than the index holds
    // (inputFiles lists the unpruned index; the numFiles metric is what
    // the pruned scan actually read)
    pruned.collect()
    assert(scan.metrics("numFiles").value < all.inputFiles.length,
      s"read=${scan.metrics("numFiles").value} of ${all.inputFiles.length} files")
    val kept = pruned.select($"cell").distinct().as[Int].collect().sorted.toSeq
    assert(kept == probed)
  }

  test("append routes the batch with the frozen quantizer, asymmetrically") {
    import spark.implicits._
    val root = Embeddings.buildIvfIndex(spark, sfDir, "spec_append",
      _.filter($"vec_id" % 10 =!= 7))
    val snap = graft.ops.ChainIndex.chainDirs(spark, root).last
    val residentBefore = spark.read.parquet(s"$snap/cells")
      .select($"vec_id", $"cell").collect().toSet
    val centsBefore = spark.read.parquet(s"$snap/centroids").collect().toSet
    val batch = Tables.embeddings(spark, sfDir).filter($"vec_id" % 10 === 7)
      .select($"vec_id", $"embedding".as("v"))
      .withColumn("nrm", sqrt(call_function("graft_dot", $"v", $"v")))
    val nBatch = batch.count()
    assert(nBatch > 0)
    Embeddings.appendIvfIndex(spark, root, batch)
    // the append publishes a DELTA version: the committed base version
    // is byte-untouched (immutability — time travel to it reproduces
    // its results), the quantizer did not move, and the CHAIN read is
    // resident ∪ batch
    assert(spark.read.parquet(s"$snap/cells").select($"vec_id", $"cell")
      .collect().toSet == residentBefore, "append mutated a committed version's cells")
    assert(spark.read.parquet(s"$snap/centroids").collect().toSet == centsBefore)
    def cells = Embeddings.Ivf.read(spark, graft.ops.ChainIndex.chainDirs(spark, root), "cells").get
    val afterSet = cells
      .select($"vec_id", $"cell").collect().toSet
    assert(residentBefore.subsetOf(afterSet))
    assert(afterSet.size == residentBefore.size + nBatch)
    // appended rows sit in the SAME cell a from-scratch assignment under
    // the frozen centroids would give them (parquet double round-trip is
    // bit-exact, so frozen-quantizer routing loses nothing)
    val expected = Embeddings.assignCells(
        batch, spark.read.parquet(s"$snap/centroids"))
      .select($"vec_id", $"cell").collect().toSet
    assert((afterSet -- residentBefore) == expected)
    // the cell predicate still prunes at the DIRECTORY level through the
    // chain union — every FileSourceScan under the union carries the
    // partition filter (reading all cells of either dir would defeat the
    // layout at scale)
    val pruned = cells.filter($"cell".isin(0, 1))
    val scans = pruned.queryExecution.executedPlan.collect {
      case f: FileSourceScanExec => f
    }
    assert(scans.size >= 2, "chain read collapsed to one scan — test is vacuous")
    assert(scans.forall(_.partitionFilters.nonEmpty),
      "cell predicate not pushed to every chain scan as a PartitionFilter")
    // an EMPTY batch publishes nothing: no new version, and the chain
    // stays readable (a zero-row hive-partitioned write would leave an
    // unreadable cells layer)
    val vBefore = graft.ops.ChainIndex.currentSnapshotVersion(spark, root)
    Embeddings.appendIvfIndex(spark, root, batch.limit(0))
    assert(graft.ops.ChainIndex.currentSnapshotVersion(spark, root) === vBefore)
    assert(cells.select($"vec_id", $"cell").collect().toSet == afterSet)
  }

  test("registered append query retrieves across resident and appended vectors") {
    val rows = SparkEntry.queries("emb_ivf_append")(spark, sfDir).collect()
    assert(rows.nonEmpty)
    // every query returns its full top-3 (the probed cells are never empty
    // at this SF) and the is_new flag is consistent with the cid
    assert(rows.forall(r => (r.getAs[Long]("cid") % 10 == 7) == (r.getAs[Int]("is_new") == 1)))
  }
}
