package graft.cc

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Observation, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import org.apache.spark.storage.StorageLevel

import graft.util.Blocks

/**
 * Connected components over a Dataset edge list.
 *
 * Below the `localEdges` gate the edge list is collected to the driver
 * and components come from a union-find whose roots are always the
 * minimum vertex id: one bounded scan and one result checkpoint, where
 * a distributed round costs three Spark jobs of a few milliseconds of
 * data work each (entity-resolution match graphs of up to a few
 * hundred thousand surfaces sit here).
 *
 * Above it, iterative min-label propagation with pointer jumping (the
 * GraphFrames-style driver loop called for in SURVEY.md §2.4/§4.3.1 —
 * GraphFrames itself is not on the offline classpath). Each round:
 * every vertex adopts the minimum component label among itself and
 * its neighbors, then its label's label; convergence when no label
 * changes, in O(log n) rounds even on path graphs. Lineage is
 * truncated every round with an eager localCheckpoint so the plan
 * stays O(1) deep; `maxIter` bounds pathological inputs.
 *
 * Scale notes (distributed branch): per round, merge-hinted shuffle
 * joins (edges ⋈ labels, both hash-partitioned on the join key and
 * re-usable across rounds) and one min-aggregation. Skewed high-degree
 * vertices are absorbed by partial aggregation of min() before the
 * shuffle.
 *
 * The gate is measured by the pass that feeds the chosen branch:
 * `take(localEdges + 1)` reads the input, and either the union-find
 * consumes those rows or the first round's symmetric copy reads the
 * input again. A stored input (a checkpoint such as the pipeline's
 * match edges, or a snapshot) is read twice as it is; any other input
 * (e.g. verified near-dup pairs) is persisted for the two reads, so it
 * is evaluated once on both branches.
 *
 * Input:  edges(src: Long, dst: Long), undirected; self-loops and
 * edges with a null endpoint are ignored, duplicate or reversed edges
 * change nothing.
 * Output: (sid: Long, component: Long) for every vertex appearing in
 * a kept edge; component = min vertex id of the component. Isolated
 * vertices are absent (singleton synthesis is the canonicalizer's
 * anti-join, matching /root/reference/update_kg/Updater.py:172-201).
 */
object ConnectedComponents {

  private def symmetric(e: DataFrame): DataFrame =
    e.select(col("src"), col("dst"))
      .union(e.select(col("dst").as("src"), col("src").as("dst")))
      .filter(col("src") =!= col("dst"))
      .distinct()

  def run(edges: DataFrame, maxIter: Int = 30,
      localEdges: Long = Blocks.DriverLocalRows): DataFrame = {
    val in = edges.select(col("src"), col("dst"))
    val stored = Blocks.isStored(in)
    if (!stored) in.persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val head = in.take(math.min(localEdges, Int.MaxValue - 1L).toInt + 1)
      if (head.length <= localEdges) local(in, head) else distributed(in, maxIter)
    } finally if (!stored) in.unpersist(false)
  }

  /** Union-find over the collected edges, roots = min vertex id. The
    * result has the distributed branch's schema (its columns are
    * nullable exactly when an input column is). */
  private def local(in: DataFrame, edges: Array[Row]): DataFrame = {
    val index = mutable.LongMap.empty[Int]
    val ids = mutable.ArrayBuffer.empty[Long]
    val parent = mutable.ArrayBuffer.empty[Int]
    def vertex(id: Long): Int = index.getOrElseUpdate(id, {
      ids += id; parent += parent.length; parent.length - 1 })
    def find(v0: Int): Int = {
      var v = v0
      while (parent(v) != v) { parent(v) = parent(parent(v)); v = parent(v) }
      v
    }
    for (e <- edges if !e.isNullAt(0) && !e.isNullAt(1) && e.getLong(0) != e.getLong(1)) {
      val (a, b) = (find(vertex(e.getLong(0))), find(vertex(e.getLong(1))))
      if (a != b) { if (ids(a) < ids(b)) parent(b) = a else parent(a) = b }
    }
    val nullable = in.schema.fields.exists(_.nullable)
    Blocks.checkpointPairs(in.sparkSession,
      ids.toArray, ids.indices.map(v => ids(find(v))).toArray,
      StructType(Seq(StructField("sid", LongType, nullable),
        StructField("component", LongType, nullable))))
  }

  private def distributed(in: DataFrame, maxIter: Int): DataFrame = {
    // localCheckpoint (not just persist): persist caches the DATA but
    // the logical plan — the entire upstream linker DAG — would still
    // be embedded in, and re-planned for, every iteration's job;
    // checkpointing makes each round's plan O(1) regardless of how
    // edges were produced
    val sym = symmetric(in).localCheckpoint(true)
    var labels = sym.select(col("src").as("sid")).distinct()
      .withColumn("component", col("sid"))
      .localCheckpoint(true)
    var changed = 1L
    var iter = 0
    while (changed > 0 && iter < maxIter) {
      // neighbor-min, carrying the previous label so convergence is a
      // free filter on the checkpointed result (no extra shuffle join)
      val minMsgs = sym
        // merge hint: checkpoint size estimates can't be trusted (see
        // graft.superedge.SuperEdges), and broadcasting the label side
        // would OOM at the scale this branch serves
        .join(labels.hint("merge"), sym("src") === labels("sid"))
        .groupBy(col("dst"))
        .agg(min(col("component")).as("mc"))
      // checkpoint BEFORE the self-join below: self-joining the raw
      // join+agg subtree trips Catalyst union-constraint rewriting
      val prop = labels
        .join(minMsgs.hint("merge"), labels("sid") === minMsgs("dst"), "left_outer")
        .select(labels("sid"), col("component").as("old"),
          least(col("component"), col("mc")).as("component")) // least skips nulls
        .localCheckpoint(true)
      // pointer jumping: l(v) ← l(l(v)) — with the neighbor-min step
      // this converges in O(log n) rounds even on path graphs, not
      // O(diameter)
      val propRight = prop
        .select(col("sid").as("y_sid"), col("component").as("y_component"))
      // convergence test FUSED into the checkpoint job via observe():
      // the changed-label count rides the same pass that materializes
      // the round — no third job per round
      val obs = Observation(s"cc_changed_$iter")
      val next = prop
        .join(propRight.hint("merge"), col("component") === col("y_sid"), "left_outer")
        .select(col("sid"), col("old"),
          coalesce(col("y_component"), col("component")).as("component"))
        .observe(obs, coalesce(sum(
          when(col("old") =!= col("component"), 1L).otherwise(0L)), lit(0L))
          .as("changed"))
        .localCheckpoint(true)
      changed = obs.get("changed").asInstanceOf[Long]
      // `next` is materialized (the observe rode its checkpoint job):
      // the round's intermediate `prop` blocks and the PREVIOUS round's
      // labels are now dead — release them so a deep loop doesn't pin
      // O(rounds) copies of the vertex set (Dataset GC frees them
      // eventually, but at scale "eventually" is after the heap
      // pressure already hurt)
      Blocks.release(prop)
      Blocks.release(labels)
      labels = next.select(col("sid"), col("component"))
      iter += 1
    }
    // the symmetric edge list served its last round
    Blocks.release(sym)
    labels
  }
}
