package graft.util

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LocalRelation, Project}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.types.StructType

/**
 * Block-level lifecycle helpers for `localCheckpoint`ed frames.
 *
 * `Dataset.localCheckpoint` pins its materialized partitions via
 * `RDD.persist`, and `Dataset.unpersist` does NOT release them (it
 * only clears CacheManager entries) — the blocks survive until the
 * RDD object is garbage-collected. Long sessions that run many
 * pipelines therefore accumulate pinned blocks unless the owner
 * releases them explicitly (the pathology quantified in BASELINE.md
 * "persist weather": a later run's allocation burst against a heap
 * full of dead checkpoint blocks showed 19× executor time).
 *
 * These helpers find the checkpoint-scan leaves ([[LogicalRDD]]) in a
 * frame's analyzed plan and unpersist their RDDs. After `release` the
 * frame (and anything derived from it) is UNUSABLE — checkpointing
 * truncated the lineage, so the dropped blocks cannot be recomputed.
 * Call only when done with every consumer.
 */
object Blocks {

  /** The most rows a driver-local kernel collects before its stage
    * takes the distributed plan instead: surfaces for the linker
    * (`Linker.Config.driverLocalRows`) and match edges for connected
    * components (`ConnectedComponents.run`'s `localEdges`). Rows of
    * either table are a few dozen bytes. Measured on 4 cores over
    * entity-rich corpora of 30k–252k surfaces, both driver-local
    * kernels beat the distributed plans at every size (252k surfaces
    * with 393k edges: linking 4.3 vs 8.6 s, components 0.8 vs 7.4 s),
    * and the distributed linker gained little from more cores (100k
    * surfaces: 6.2 s on one core, 5.1 s on four). */
  val DriverLocalRows: Long = 250000L

  /** Whether `df` only projects or filters stored rows (a checkpoint, a
    * cached frame, a local relation or a file scan), so that reading it
    * twice costs two scans and no recomputation. */
  def isStored(df: DataFrame): Boolean = df.queryExecution.optimizedPlan.find {
    case _: Project | _: Filter | _: LogicalRDD | _: InMemoryRelation | _: LocalRelation |
        _: LogicalRelation => false
    case _ => true
  }.isEmpty

  /** The RDDs pinned by localCheckpoint scans in this frame's plan. */
  def pinned(df: DataFrame): Seq[RDD[_]] =
    df.queryExecution.analyzed.collect { case lr: LogicalRDD => lr.rdd }

  /** Drop the pinned blocks behind this frame (non-blocking). The
    * frame must not be used afterwards. */
  def release(df: DataFrame): Unit =
    pinned(df).foreach(_.unpersist(blocking = false))

  /** Release every distinct pinned RDD across a set of frames once. */
  def releaseAll(dfs: Seq[DataFrame]): Unit =
    dfs.flatMap(pinned).distinctBy(_.id).foreach(_.unpersist(blocking = false))

  /** Release `df`'s pinned blocks EXCEPT those also reachable from
    * `keep` — for dropping a dead intermediate whose plan shares
    * checkpoint leaves with still-live frames. */
  def releaseExcept(df: DataFrame, keep: Seq[DataFrame]): Unit = {
    val live = keep.flatMap(pinned).map(_.id).toSet
    pinned(df).filterNot(r => live(r.id)).foreach(_.unpersist(blocking = false))
  }

  /** Two-column rows `(a(i), b(i))` computed on the driver as an eager
    * one-partition local checkpoint — the frame a driver-local kernel
    * hands to stages that expect a checkpointed result. One Spark job,
    * whose task ships the two arrays rather than row objects. */
  def checkpointPairs(spark: SparkSession, a: Array[Long], b: Array[Long],
      schema: StructType): DataFrame = {
    val rows = spark.sparkContext.parallelize(Seq(a -> b), 1)
      .flatMap { case (a, b) => a.indices.iterator.map(i => Row(a(i), b(i))) }
    spark.createDataFrame(rows, schema).localCheckpoint(true)
  }
}
