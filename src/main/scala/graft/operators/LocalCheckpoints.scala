package graft.operators

import org.apache.spark.sql.DataFrame

/** Deterministic block release for keyed-rounds algorithms that
  * `localCheckpoint` every round (ConnectedComponents, the distributed
  * BPE trainer) and for `mutate.UpsertWriter`'s once-per-write copy of
  * its batch: `Dataset.unpersist` is a NO-OP for a checkpointed frame
  * — localCheckpoint persists its RDD outside the CacheManager, so the
  * blocks otherwise free only on GC + ContextCleaner. Over many rounds
  * that is unbounded block-manager pressure the code merely believes it
  * released. This helper snapshots `sc.getPersistentRDDs` around the
  * checkpoint and hands back the registered RDDs so a superseded round
  * can be dropped explicitly.
  *
  * NEVER release the blocks of a frame that is still reachable (the
  * final round's output): a localCheckpoint's lineage is truncated, so
  * dropped blocks are unrecoverable — release only rounds that have
  * been fully superseded.
  *
  * The tracked blocks are read off the checkpointed frame's OWN plan
  * (the `LogicalRDD` the checkpoint wraps) — NOT by diffing the global
  * persistent-RDD registry around the call. The registry diff looked
  * equivalent but was wrong: `Dataset.cache()` registers its RDD lazily
  * at FIRST materialization, which for a cached upstream (e.g.
  * ConnectedComponents' symmetrized edges, or a MinHash signature
  * cache) happens INSIDE the first eager checkpoint — the diff then
  * attributed the cache to the round's blocks, and releasing round 1
  * silently destroyed the upstream cache, recomputing the whole edge
  * pipeline every later round. */
private[graft] object LocalCheckpoints {

  def tracked(df: DataFrame): (DataFrame, Seq[org.apache.spark.rdd.RDD[_]]) = {
    val out = df.localCheckpoint() // eager: materialized on return
    val own = out.queryExecution.analyzed.collect {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd
    }
    assert(own.nonEmpty,
      "localCheckpoint did not produce a LogicalRDD-backed plan — " +
        "block tracking would be a no-op")
    (out, own)
  }

  def release(blocks: Seq[org.apache.spark.rdd.RDD[_]]): Unit =
    blocks.foreach(_.unpersist(blocking = false))
}
