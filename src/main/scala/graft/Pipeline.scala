package graft

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.canon.{Canonicalizer, EventCoref, Justifications, RelationClusters}
import graft.cc.ConnectedComponents
import graft.link.Linker
import graft.schema._
import graft.superedge.SuperEdges

/**
 * End-to-end KG construction over transcripts — the Spark-native
 * re-realization of the reference's `Updater.run_all` stage order
 * (/root/reference/update_kg/Updater.py:584-598, SURVEY.md §3.1):
 * extract (TA1 analog) → link (gaia-clustering analog) → connected
 * components → canonicalize (clusters/prototypes/singletons) →
 * superedges → corpus triples → event / relation / justification
 * outputs.
 *
 * The stage DAG is declared once ([[Pipeline.build]]) over a
 * [[Materializer]]: in-session checkpoints for the library
 * ([[Pipeline.run]]), SnapshotStore snapshots for the resumable CLI
 * and the stream. Where the reference round-trips HTTP per 1000
 * triples, ours crosses machines only at Spark shuffles.
 */
object Pipeline {

  /** Full pipeline output. In-session, core stages (through
    * `superEdges`/`prototypes`) are checkpointed at stage boundaries
    * and `triples` plus the event / relation / justification outputs
    * are LAZY plans over them — consumers that don't need them (e.g.
    * the throughput bench's triple count) pay nothing, and consumers
    * that do get plans rooted at materialized data, not at
    * re-extraction. Under the snapshot materializer every named frame
    * is a snapshot read. */
  final case class Result(
      mentions: Dataset[Mention],
      statements: Dataset[Statement],
      errors: DataFrame,
      surfaces: DataFrame,
      components: DataFrame,
      surfaceClusters: DataFrame,
      memberships: Dataset[Membership],
      prototypes: Dataset[Prototype],
      superEdges: Dataset[SuperEdge],
      triples: Dataset[Triple],
      // event KEs (the reference's third cluster kind, Updater.py:133)
      events: Dataset[Mention],
      eventArgs: DataFrame,
      eventClusters: DataFrame,
      eventMemberships: Dataset[Membership],
      eventPrototypes: Dataset[Prototype],
      eventClusterJustifications: DataFrame,
      // relation clusters (Updater.py:222-244) + justification/link
      // aggregation (run_all steps 7-8, Updater.py:246-256) + copy-backs
      // (sparqls.py:391-527)
      relationClusters: DataFrame,
      informativeJustifications: DataFrame,
      clusterLinks: DataFrame,
      protoJustifications: DataFrame,
      protoInfJustifications: DataFrame,
      protoTypeJustifications: DataFrame,
      superEdgeJustifications: DataFrame,
      // the member-annotation frame the cluster-level justification
      // outputs share — a plain broadcast-dictionary plan when the
      // dictionary fits (nothing to cache), the lazily-persisted
      // memberships⋈mentions join otherwise; exposed so callers OWN
      // its lifecycle (see [[Result.unpersist]])
      annotatedMembers: DataFrame) {

    /** Every named frame under the stage name the snapshot
      * materializer writes it as (all but `ke` and `match_edges`, which
      * have no field). */
    def stageFrames: Seq[(String, DataFrame)] = Seq(
      "surfaces" -> surfaces,
      "components" -> components,
      "surface_clusters" -> surfaceClusters,
      "memberships" -> memberships.toDF(),
      "superedges" -> superEdges.toDF(),
      "prototypes" -> prototypes.toDF(),
      "triples" -> triples.toDF(),
      "event_clusters" -> eventClusters,
      "event_prototypes" -> eventPrototypes.toDF(),
      "event_cluster_justifications" -> eventClusterJustifications,
      "relation_clusters" -> relationClusters,
      "cluster_justifications" -> informativeJustifications,
      "cluster_links" -> clusterLinks,
      "proto_justifications" -> protoJustifications,
      "proto_inf_justifications" -> protoInfJustifications,
      "proto_type_justifications" -> protoTypeJustifications,
      "superedge_justifications" -> superEdgeJustifications)

    /** Release EVERY block this run pinned: the lazily-persisted
      * `annotatedMembers` cache AND all stage-boundary localCheckpoint
      * blocks (which `Dataset.unpersist` alone cannot free — see
      * [[graft.util.Blocks]]). Ownership contract: call after the LAST
      * action on ANY result frame; an in-session result is unusable
      * afterwards (checkpoint lineage is truncated, dropped blocks
      * cannot be recomputed). Library consumers running repeated
      * `run`s in one session otherwise accumulate pinned blocks (the
      * GC pathology quantified in BASELINE.md "persist weather" — a
      * later run's allocation burst against a heap of dead blocks
      * showed 19× executor time). */
    def unpersist(): Unit = {
      annotatedMembers.unpersist(false)
      graft.util.Blocks.releaseAll(stageFrames.map(_._2) ++ Seq(
        mentions.toDF(), statements.toDF(), errors, events.toDF(), eventArgs,
        eventMemberships.toDF(), annotatedMembers))
    }
  }

  /** Rows above which the surface dictionary is assumed to exceed the
    * broadcast threshold and the membership join switches to the
    * salted path (hot-surface skew defense, SURVEY.md §7.4.3).
    * ~2M compact surface rows ≈ the 100MB broadcast ceiling. */
  val SaltedMembershipRows: Long = 2L * 1000 * 1000

  /** Rows at or below which a MEASURED compact aggregate (the
    * superedge count table) is explicitly broadcast into its join-back
    * instead of merge-joined — ~25 MB of (3 strings, long) rows. The
    * gate is on a real count, never a size estimate (round 6,
    * guide §3.1). */
  val BroadcastableAggRows: Long = 250000L

  /** Batch KG construction in the session: the stage DAG of [[build]]
    * over eager `localCheckpoint`s ([[Materializer.InSession]]), rooted
    * at one checkpoint of the tagged extraction frame. */
  def run(turns: Dataset[Turn], linkCfg: Linker.Config = Linker.Config(),
      saltedMembershipRows: Long = SaltedMembershipRows): Result = {
    val mat = Materializer.InSession
    build(mat.stage("ke")(Main.extractKe(turns)), mat, linkCfg, saltedMembershipRows)
  }

  /** The KG stage DAG, declared once for every face: `Pipeline.run`
    * (in-session), the CLI's [[Main.runResumable]] and the stream's
    * [[graft.streaming.IncrementalKg]] (snapshot). `ke` is the
    * materialized tagged extraction frame ([[Main.extractKe]]); `mat`
    * decides how each stage is materialized — the stage order, the
    * operator shapes and the size gates are the same under both.
    *
    * In-session, stage boundaries are MATERIALIZED (eager
    * localCheckpoint), not merely cached: persist keeps the full
    * logical plan, so every downstream action re-analyzes/re-optimizes
    * a tree that grows with each stage (profiling showed driver
    * planning + nested encode/decode dominating, not data work). The
    * snapshot materializer puts a parquet snapshot at the same
    * boundaries (SURVEY.md §3.1, §4.3.5). */
  def build(ke: DataFrame, mat: Materializer,
      linkCfg: Linker.Config = Linker.Config(),
      saltedMembershipRows: Long = SaltedMembershipRows): Result = {
    val spark = ke.sparkSession
    import spark.implicits._

    // CARVE the tagged union into five NARROW frames: checkpoint scans
    // can't prune columns (ExistingRDD materializes full rows), so
    // every downstream join/agg over e.g. `statements` would otherwise
    // re-decode the full 5-column nested-struct row for every KE of
    // every kind — profiled at ~200 executor-s per statements scan at
    // 2M turns. The five carves are INDEPENDENT full scans of the same
    // blocks — forked so they overlap: wall ≈ the slowest
    // scan, not the sum of five. The wide union is then dead and its
    // blocks are dropped.
    def carve(tag: Int, c: String) =
      mat.fork(mat.shared(ke.filter(col("tag") === tag).select(col(c))))
    val (fM, fS, fErr, fEv, fA) =
      (carve(1, "m.*"), carve(2, "s.*"), carve(3, "error"), carve(4, "m.*"), carve(5, "a.*"))
    val (mentions, statements, errors, events, eventArgs) =
      (fM().as[Mention], fS().as[Statement], fErr(), fEv().as[Mention], fA())
    graft.util.Blocks.release(ke)

    // the surface table fans out to 4 linker consumers and the
    // canonicalizer; the edge list is checkpointed inside the linker
    val surf = mat.stage("surfaces")(Linker.surfaces(mentions))
    val edges = mat.stage("match_edges", checkpointed = true) {
      Linker.matchEdgesFrom(surf, linkCfg).toDF() }
    val comp = mat.stage("components", checkpointed = true) {
      ConnectedComponents.run(edges, localEdges = linkCfg.driverLocalRows) }
    // the edge list's checkpoint blocks are dead once CC has consumed
    // them (collected them, or materialized its symmetric copy); its
    // truncated plan holds no other frame's blocks, so this frees only
    // the edges themselves
    graft.util.Blocks.release(edges)
    val surfClusters = mat.stage("surface_clusters") {
      Canonicalizer.withKind(Canonicalizer.surfaceClusters(surf, comp)) }

    // size-based auto-switch: below the threshold the surface dict
    // broadcasts; above it the explicit salted join defuses the
    // hot-surface key before the sort-merge shuffle. The count is a
    // cheap scan of a materialized stage.
    val nSurfaces = surfClusters.count()
    val dictFits = nSurfaces <= saltedMembershipRows
    // prototype/cluster cardinality ≤ nSurfaces — a MEASURED gate for
    // broadcasting the compact prototype side into its join-backs
    // (plan capture showed checkpoint estimates sort-merging them)
    val protosFit = nSurfaces <= BroadcastableAggRows

    // THREE INDEPENDENT chains fork here: memberships;
    // resolved statements → superedges; prototypes. prototypes threads
    // the SAME dictFits gate as memberships: an unconditional
    // broadcast hint would force an oversized dictionary past the
    // broadcast limit where un-hinted Catalyst falls back to a shuffle
    // join (which AQE then skew-splits).
    val fMem = mat.fork(mat.stage("memberships") {
      (if (dictFits) Canonicalizer.memberships(mentions, surfClusters)
       else Canonicalizer.membershipsSalted(mentions, surfClusters)).toDF()
    }.as[Membership])
    // ONE statements⋈memberships² resolution shared by THREE consumers
    // (superedges here; relation clusters and superedge justifications
    // below) instead of each re-running two corpus-scale merge joins
    // (A/B in OPTIMIZATION_r06.md). Under dictFits the
    // membership sort-merges collapse to broadcast dictionary joins
    // (Statement carries both arg surface keys from extraction) and the chain does not wait on memberships at all.
    val fChain = mat.fork {
      val resolved = mat.shared {
        if (dictFits) SuperEdges.resolvedStatementsViaDict(statements, surfClusters)
        else SuperEdges.resolvedStatements(statements, fMem())
      }
      val se = mat.stage("superedges") {
        SuperEdges.superEdgesFromResolved(resolved).toDF() }.as[SuperEdge]
      // measured (not estimated) relation-cluster count for the
      // count-join strategy below — a cheap scan of a materialized stage
      (resolved, se, se.count() <= BroadcastableAggRows)
    }
    val fProto = mat.fork(mat.stage("prototypes") {
      Canonicalizer.prototypes(mentions, surfClusters, broadcastDict = dictFits).toDF()
    }.as[Prototype])
    val (resolvedStmts, superEdges, superEdgesFit) = fChain()
    val (memberships, prototypes) = (fMem(), fProto())

    val triples = mat.output("triples") {
      SuperEdges.namedTriples(superEdges, prototypes, broadcastNames = protosFit).toDF()
    }.as[Triple]

    // event coreference runs AFTER entity clustering (argument
    // identity is cluster-level). Under the dictFits gate the args
    // resolve through the broadcast surface dictionary (EventArg
    // carries the surface key from extraction) instead of
    // sort-merging against corpus-scale memberships — identical
    // clusters, two fewer mention-scale shuffle+sorts (parity
    // pinned in EventGoldenSpec).
    val eventClusters = mat.output("event_clusters") {
      if (dictFits) EventCoref.keyedEventsViaDict(events, eventArgs, surfClusters)
      else EventCoref.keyedEvents(events, eventArgs, memberships)
    }
    val eventMemberships = EventCoref.memberships(eventClusters)
    val eventPrototypes = mat.output("event_prototypes") {
      EventCoref.prototypes(eventClusters).toDF() }.as[Prototype]
    // the informative-justification rule, third cluster kind: event
    // members are mentions with trigger spans
    val eventClusterJustifications = mat.output("event_cluster_justifications") {
      Justifications.informativeJustifications(eventMemberships, events) }

    // relation clusters + justification/link aggregation + copy-backs
    // (reference run_all steps 6-8 and the proto/superedge
    // justification inserts, Updater.py:222-256, sparqls.py:391-527).
    // superedge-count reuse: the superedge aggregate IS the
    // per-relation-cluster member count, and the member rows read the
    // shared resolved statements; under the measured-count gate the
    // count side broadcasts, so the member rows never shuffle at all
    val relationClusters = mat.output("relation_clusters") {
      RelationClusters.clusterFromResolved(resolvedStmts, superEdges,
        broadcastCounts = superEdgesFit) }
    // the cluster-level justification/link outputs share ONE
    // member-annotation frame. Under the dictFits gate it comes
    // straight from the broadcast dictionary join (zero mention-scale
    // shuffles — the memberships⋈mentions sort-merge the generic path
    // pays is algebraically redundant there), and is NOT persisted:
    // each consumer's plan is a scan + broadcast hash join, cheaper
    // than writing a mention-scale cache and re-reading it. The
    // salted/oversized-dictionary path keeps the generic merge join
    // and the shared persist (there the join IS expensive); the
    // Result owns its lifecycle.
    val annotated =
      if (dictFits) Canonicalizer.annotatedMembers(mentions, surfClusters)
      else Justifications.annotatedMembers(memberships, mentions)
        .persist(StorageLevel.MEMORY_AND_DISK)
    val informativeJustifications = mat.output("cluster_justifications") {
      Justifications.informativeJustificationsFrom(annotated) }
    val clusterLinks = mat.output("cluster_links") {
      Justifications.clusterLinksFrom(annotated) }
    val protoJustifications = mat.output("proto_justifications") {
      Justifications.prototypeJustificationsFrom(annotated, prototypes,
        broadcastProtos = protosFit) }
    val protoInfJustifications = mat.output("proto_inf_justifications") {
      Justifications.prototypeInformativeJustificationsFrom(
        informativeJustifications, prototypes, broadcastProtos = protosFit) }
    val protoTypeJustifications = mat.output("proto_type_justifications") {
      Justifications.prototypeTypeAssertionJustificationsFrom(annotated,
        prototypes, broadcastProtos = protosFit) }
    val superEdgeJustifications = mat.output("superedge_justifications") {
      Justifications.superEdgeJustificationsFromResolved(resolvedStmts) }

    Result(mentions, statements, errors, surf, comp, surfClusters,
      memberships, prototypes, superEdges, triples,
      events, eventArgs, eventClusters, eventMemberships, eventPrototypes,
      eventClusterJustifications, relationClusters,
      informativeJustifications, clusterLinks, protoJustifications,
      protoInfJustifications, protoTypeJustifications,
      superEdgeJustifications, annotated)
  }
}
