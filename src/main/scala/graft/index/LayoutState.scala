package graft.index

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, element_at, typedLit}
import org.apache.spark.storage.StorageLevel

/** Serving state of the at-rest graph layouts ([[ShardedHnsw]],
  * [[ShardedVamana]]): the layout read once, co-partitioned by shard (a
  * shard never spans tasks) and persisted `DISK_ONLY` per (path, layout
  * version). A warm `searchManyPersisted` call reads these cached blocks
  * and so pays for scoring and the bounded merge only: no file-listing
  * job, no layout scan and no full-layout shuffle.
  *
  * `DISK_ONLY` keeps one copy per open layout generation in the block
  * manager's local directories (`spark.local.dir`), not in the heap; the
  * shard graphs the state feeds are already held in memory by the
  * executor graph cache.
  *
  * Lifecycle:
  *  - a new layout version (append, rewrite) unpersists the previous
  *    generation BEFORE the new frame is persisted — the cache manager
  *    matches plans by result, and a fresh read of the same path would
  *    otherwise adopt the old generation's blocks;
  *  - [[release]] drops a path's entry (the facade calls it when it
  *    closes or re-captures the collection);
  *  - an entry whose blocks something else dropped (for example
  *    `spark.catalog.clearCache()`) is persisted again on its next use.
  */
private[graft] object LayoutState {

  private final case class Entry(version: String, shardCol: String,
      frame: DataFrame)

  private val entries = scala.collection.mutable.HashMap.empty[String, Entry]

  /** The layout at `path` read and co-partitioned by `shardCol`:
    * shard s is partition s (see [[coPartition]]). Not cached. */
  def read(spark: SparkSession, path: String, shardCol: String,
      nShards: Int): DataFrame =
    coPartition(spark.read.parquet(path), shardCol, nShards)

  /** [[read]], persisted `DISK_ONLY` for `version` of the layout. */
  def cached(spark: SparkSession, path: String, version: String,
      shardCol: String, nShards: Int): DataFrame = synchronized {
    entries.get(path) match {
      case Some(e) if e.version == version && e.shardCol == shardCol &&
          (e.frame.sparkSession eq spark) =>
        if (e.frame.storageLevel == StorageLevel.NONE)
          e.frame.persist(StorageLevel.DISK_ONLY)
        e.frame
      case old =>
        old.foreach(_.frame.unpersist())
        val f = read(spark, path, shardCol, nShards).persist(StorageLevel.DISK_ONLY)
        entries.put(path, Entry(version, shardCol, f))
        f
    }
  }

  /** `state` repartitioned so that shard s is exactly partition s: one
    * task serves one shard graph. Hashing the shard number itself
    * (`repartition(n, shard)`) would not spread them — Murmur3 sends 3
    * of 4 shards to the same partition — so each shard maps to the
    * smallest int key that `HashPartitioning` (pmod of Murmur3 with
    * seed 42) places on partition s, and the frame repartitions by that
    * key. */
  private def coPartition(state: DataFrame, shardCol: String, nShards: Int): DataFrame = {
    val keys = Array.fill(nShards)(-1)
    var found = 0
    var k = 0
    while (found < nShards) {
      val p = Math.floorMod(
        org.apache.spark.unsafe.hash.Murmur3_x86_32.hashInt(k, 42), nShards)
      if (keys(p) < 0) { keys(p) = k; found += 1 }
      k += 1
    }
    state.repartition(nShards,
      element_at(typedLit(keys.toSeq), col(shardCol).cast("int") + 1))
  }

  /** Unpersist and forget the state of the layout at `path`, if any. */
  def release(path: String): Unit = synchronized {
    entries.remove(path).foreach(_.frame.unpersist())
  }

  private[graft] def isCached(path: String): Boolean = synchronized {
    entries.get(path).exists(_.frame.storageLevel != StorageLevel.NONE)
  }
}
