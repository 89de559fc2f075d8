package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path}

import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration.Duration

import org.apache.spark.BenchAccess
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.col

import graft.{Main, Pipeline}
import graft.canon.{Canonicalizer, EventCoref, Justifications, RelationClusters}
import graft.cc.ConnectedComponents
import graft.link.Linker
import graft.schema._
import graft.snapshot.SnapshotStore
import graft.streaming.IncrementalKg
import graft.superedge.SuperEdges
import graft.synth.TranscriptSynth
import graft.util.Blocks

/** A base corpus, the ~1 % deltas that follow it, and the planted
  * triples of their union. */
final case class Corpus(base: Seq[Turn], deltas: Seq[Seq[Turn]], unionTruth: Set[Triple]) {
  def union: Seq[Turn] = base ++ deltas.flatten
}

object Corpus {
  private def deltaTurns(nBase: Int): Int = math.max(10, nBase / 100 / 10 * 10)

  /** `TranscriptSynth` turns: the first `nBase` are the base corpus.
    * A turn depends only on (seed, index), so the union is one config. */
  def synth(nBase: Int, nDeltas: Int, seed: Long): Corpus = {
    val d = deltaTurns(nBase)
    def cfg(n: Int) = TranscriptSynth.Config(nConvs = n / 10, turnsPerConv = 10, seed = seed)
    val all = TranscriptSynth.turnsLocal(cfg(nBase + nDeltas * d))
    Corpus(all.take(nBase), (0 until nDeltas).map(i => all.slice(nBase + i * d, nBase + (i + 1) * d)),
      TranscriptSynth.goldenTriples(cfg(nBase + nDeltas * d)))
  }

  def entityRich(nFamilies: Int, nFirstNames: Int, nBase: Int, nDeltas: Int,
      seed: Long): Corpus = {
    val gen = new EntityRichSynth(nFamilies, nFirstNames, seed)
    val (base, baseTruth) = gen.nextTurns(nBase)
    val deltas = (0 until nDeltas).map(_ => gen.nextTurns(deltaTurns(nBase)))
    Corpus(base, deltas.map(_._1), baseTruth ++ deltas.flatMap(_._2))
  }
}

/** What one closed-loop sample measured. `failures` lists every gate
  * that failed; a sample with failures contributes no timings. */
final case class Sample(
    triplesS: Double, fullKgS: Double, deltaS: Seq[Double], storeBytes: Long,
    liveHeapMb: Double, precision: Double, recall: Double, attempts: Int,
    failures: Seq[String])

/** The result of the traced run: per-layer metrics plus the gates. */
final case class Traced(metrics: Seq[(String, Double, String)], attempts: Int,
    failures: Seq[String])

abstract class Workload(val spark: SparkSession, val work: Path, val corpus: Corpus) {
  val cores: Int = spark.sparkContext.defaultParallelism
  def warmUp(): Unit
  def sample(k: Int): Sample
  def traced(tr: Tracer): Traced
  /** False where [[traced]] starts with an untraced pass of its own. */
  def traceNeedsWarmUp: Boolean = true

  /** Input turns whose time to counted triples is `Sample.triplesS`. */
  def triplesTurns: Long

  protected def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** Heap in use after a full collection, in MB: the data the program
    * still holds at the call. Spark frees the blocks of a dropped RDD or
    * broadcast only after a collection has found it unreachable, on its
    * cleaner thread, so this collects until two reads agree. */
  protected def liveHeapMb(): Double = {
    val heap = ManagementFactory.getMemoryMXBean
    def collect(): Double = {
      BenchAccess.drain(spark.sparkContext)
      System.gc()
      heap.getHeapMemoryUsage.getUsed / 1e6
    }
    var prev = collect()
    var cur = prev
    var n = 0
    do {
      Thread.sleep(300)
      prev = cur
      cur = collect()
      n += 1
    } while (math.abs(cur - prev) > 0.01 * prev && n < 8)
    cur
  }

  protected def gate(emitted: Set[Triple], truth: Set[Triple], what: String)
      : (Double, Double, Seq[String]) = {
    val tp = (emitted intersect truth).size.toDouble
    val p = if (emitted.isEmpty) 0.0 else tp / emitted.size
    val r = if (truth.isEmpty) 0.0 else tp / truth.size
    val bad =
      (if (p < Workload.MinPR) Seq(f"$what precision $p%.4f < ${Workload.MinPR}") else Nil) ++
        (if (r < Workload.MinPR) Seq(f"$what recall $r%.4f < ${Workload.MinPR}") else Nil)
    (p, r, bad)
  }

  protected def errorGate(errors: Long): Seq[String] =
    if (errors > 0) Seq(s"$errors extraction error rows") else Nil

  protected def triplesOf(df: DataFrame): Set[Triple] =
    df.select("subj", "pred", "obj").collect()
      .map(r => Triple(r.getString(0), r.getString(1), r.getString(2))).toSet

  protected def dataset(turns: Seq[Turn]): Dataset[Turn] = {
    import spark.implicits._
    spark.createDataset(spark.sparkContext.parallelize(turns, 2 * cores))
  }

  protected def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val walk = Files.walk(p)
      try walk.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
      finally walk.close()
    }

  protected def bytesUnder(p: Path): Long = {
    val walk = Files.walk(p)
    try walk.filter(f => Files.isRegularFile(f)).mapToLong(f => Files.size(f)).sum()
    finally walk.close()
  }
}

object Workload {
  /** Golden-corpus bar of the repo's own end-to-end spec. */
  val MinPR = 0.95

  /** The linker's and connected components' share of a traced wall. */
  def linkCcShare(tr: Tracer, wallS: Double): Double =
    if (wallS > 0) (tr.acc("link").wallNs + tr.acc("cc").wallNs) / 1e9 / wallS else 0.0

  val Layers: Seq[String] = Seq("extract", "ke", "link", "cc", "canon", "superedge",
    "eventcoref", "relclusters", "justifications", "snapshot", "streaming")
}

private final case class Build(triplesS: Double, fullS: Double,
    triples: Set[Triple], errors: Long, bytes: Long, liveHeapMb: Double)

/**
 * Batch KG construction through `Pipeline.run`. The batch path has no
 * incremental mode: it absorbs a delta by building over base ∪ delta
 * from nothing. A sample is that one build (triples counted, then the
 * triples and the six lazy outputs written as parquet), so on a batch
 * workload the full build and the delta latency are one measurement.
 */
final class BatchWorkload(spark: SparkSession, work: Path, corpus: Corpus,
    warmCorpus: Corpus) extends Workload(spark, work, corpus) {

  private def outputs(r: Pipeline.Result): Seq[(String, DataFrame)] = Seq(
    "triples" -> r.triples.toDF(),
    "event_prototypes" -> r.eventPrototypes.toDF(),
    "relation_clusters" -> r.relationClusters,
    "cluster_justifications" -> r.informativeJustifications,
    "cluster_links" -> r.clusterLinks,
    "proto_justifications" -> r.protoJustifications,
    "superedge_justifications" -> r.superEdgeJustifications)

  /** One untraced build; the outputs are written concurrently, as
    * independent writers of one finished run would. */
  private def build(turns: Seq[Turn], out: Path): Build = {
    val ds = dataset(turns)
    val t0 = System.nanoTime()
    val r = Pipeline.run(ds)
    r.triples.count()
    val triplesS = secs(t0)
    val writes = outputs(r).map { case (n, df) =>
      Future(df.write.mode("overwrite").parquet(out.resolve(n).toString)) }
    Await.result(Future.sequence(writes), Duration.Inf)
    val fullS = secs(t0)
    val errors = r.errors.count()
    // the finished run still holds its checkpointed stages
    val live = liveHeapMb()
    r.unpersist()
    val b = Build(triplesS, fullS, triplesOf(spark.read.parquet(out.resolve("triples").toString)),
      errors, bytesUnder(out), live)
    deleteTree(out)
    b
  }

  private val union = corpus.union
  def triplesTurns: Long = union.size.toLong

  def warmUp(): Unit = build(warmCorpus.union, work.resolve("warmup"))

  def sample(k: Int): Sample = {
    val b = build(union, work.resolve(s"kg-$k"))
    val (p, r, bad) = gate(b.triples, corpus.unionTruth, "union")
    Sample(b.triplesS, b.fullS, Seq(b.fullS), b.bytes, b.liveHeapMb, p, r,
      attempts = 1 + 3, failures = bad ++ errorGate(b.errors))
  }

  /** `Pipeline.run` wired stage by stage in its own order, with the
    * same size gates, each layer call inside a span. Stages run one
    * after another, so the overlap `Pipeline.run` gets from concurrent
    * jobs is lost here. */
  private def tracedBuild(turns: Seq[Turn], out: Path, tr: Tracer): (Double, Set[Triple], Seq[(String, Double, String)]) = {
    import spark.implicits._
    val ds = dataset(turns)
    val rounds0 = tr.rounds
    val t0 = System.nanoTime()
    val ke = tr.span("extract")(Main.extractKe(ds).localCheckpoint(true))
    val (mentions, statements, errors, events, eventArgs) = tr.span("ke") {
      def carve(tag: Int, c: String) = ke.filter(col("tag") === tag).select(col(c)).localCheckpoint(true)
      (carve(1, "m.*").as[Mention], carve(2, "s.*").as[Statement], carve(3, "error"),
        carve(4, "m.*").as[Mention], carve(5, "a.*"))
    }
    val (surf, edges) = tr.span("link")(Linker.matchEdges(mentions))
    val comp = tr.span("cc")(ConnectedComponents.run(edges.toDF()))
    val nEdges = edges.count()
    val (surfClusters, memberships, prototypes, dictFits, protosFit) = tr.span("canon") {
      val sc = Canonicalizer.withKind(Canonicalizer.surfaceClusters(surf, comp)).localCheckpoint(true)
      val n = sc.count()
      val fits = n <= Pipeline.SaltedMembershipRows
      val mem = (if (fits) Canonicalizer.memberships(mentions, sc)
        else Canonicalizer.membershipsSalted(mentions, sc)).localCheckpoint(true)
      val protos = Canonicalizer.prototypes(mentions, sc, broadcastDict = fits).localCheckpoint(true)
      (sc, mem, protos, fits, n <= Pipeline.BroadcastableAggRows)
    }
    val (resolved, superEdges, superEdgesFit, triples) = tr.span("superedge") {
      val res = (if (dictFits) SuperEdges.resolvedStatementsViaDict(statements, surfClusters)
        else SuperEdges.resolvedStatements(statements, memberships)).localCheckpoint(true)
      val se = SuperEdges.superEdgesFromResolved(res).localCheckpoint(true)
      val fit = se.count() <= Pipeline.BroadcastableAggRows
      val t = SuperEdges.namedTriples(se, prototypes, broadcastNames = protosFit)
      t.count()
      t.write.mode("overwrite").parquet(out.resolve("triples").toString)
      (res, se, fit, t)
    }
    def write(layer: String, name: String, df: => DataFrame): Unit =
      tr.span(layer)(df.write.mode("overwrite").parquet(out.resolve(name).toString))
    write("eventcoref", "event_prototypes", EventCoref.prototypes(
      if (dictFits) EventCoref.keyedEventsViaDict(events, eventArgs, surfClusters)
      else EventCoref.keyedEvents(events, eventArgs, memberships)).toDF())
    write("relclusters", "relation_clusters",
      RelationClusters.clusterFromResolved(resolved, superEdges, broadcastCounts = superEdgesFit))
    val annotated = tr.span("justifications") {
      if (dictFits) Canonicalizer.annotatedMembers(mentions, surfClusters)
      else Justifications.annotatedMembers(memberships, mentions)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }
    write("justifications", "cluster_justifications",
      Justifications.informativeJustificationsFrom(annotated))
    write("justifications", "cluster_links", Justifications.clusterLinksFrom(annotated))
    write("justifications", "proto_justifications",
      Justifications.prototypeJustificationsFrom(annotated, prototypes, broadcastProtos = protosFit))
    write("justifications", "superedge_justifications",
      Justifications.superEdgeJustificationsFromResolved(resolved))
    val wall = secs(t0)

    // row counts, outside every span
    tr.addRows("extract", ke.count())
    val errorRows = errors.count()
    tr.addRows("ke", Seq(mentions.toDF(), statements.toDF(), errors, events.toDF(), eventArgs)
      .map(_.count()).sum)
    val nSurf = surf.count()
    tr.addRows("link", nEdges)
    tr.addRows("cc", comp.count())
    tr.addRows("canon", surfClusters.count() + memberships.count() + prototypes.count())
    tr.addRows("superedge", superEdges.count() + triples.count())
    val emitted = triplesOf(spark.read.parquet(out.resolve("triples").toString))
    annotated.unpersist(false)
    Blocks.releaseAll(Seq(ke, mentions.toDF(), statements.toDF(), errors, events.toDF(),
      eventArgs, surf, edges.toDF(), comp, surfClusters, memberships.toDF(),
      prototypes.toDF(), resolved, superEdges.toDF()))
    deleteTree(out)
    (wall, emitted, Seq(
      ("extract.error_rows", errorRows.toDouble, "rows"),
      ("link.surfaces", nSurf.toDouble, "count"),
      ("link.edges_per_surface", if (nSurf > 0) nEdges.toDouble / nSurf else 0.0, "ratio"),
      ("cc.rounds", (tr.rounds - rounds0).toDouble, "count"),
      ("trace.link_cc_share", Workload.linkCcShare(tr, wall), "frac")))
  }

  /** The untraced reference build comes first and warms the session. */
  override def traceNeedsWarmUp: Boolean = false

  def traced(tr: Tracer): Traced = {
    tr.fallback = "untraced"
    val plain = build(union, work.resolve("untraced"))
    val (wall, emitted, extra) = tracedBuild(union, work.resolve("traced"), tr)
    val (_, _, bad) = gate(emitted, corpus.unionTruth, "traced")
    val same = if (emitted == plain.triples) Nil
      else Seq(s"traced triples differ from untraced: ${(emitted diff plain.triples).size} extra, " +
        s"${(plain.triples diff emitted).size} missing")
    Traced(extra ++ Seq(
      ("snapshot.bytes_written_mb", 0.0, "MB"),
      ("snapshot.stages_written", 0.0, "count"),
      ("snapshot.stages_resumed", 0.0, "count"),
      ("streaming.stages_recomputed_per_delta", 0.0, "count"),
      ("trace.full_kg_s", wall, "s")),
      attempts = 2 + 3, failures = bad ++ same ++ errorGate(plain.errors))
  }
}

private final case class Run(coldS: Double, triplesS: Double, deltaS: Seq[Double],
    triples: Set[Triple], bytes: Long, errors: Long, liveHeapMb: Double)

/**
 * Incremental KG maintenance: `IncrementalKg.maintain` over a
 * `MemoryStream` into a fresh `SnapshotStore`. The first micro-batch is
 * the base corpus (a cold build through `Main.kgStages` that writes
 * every stage snapshot); each later one is a ~1 % delta.
 */
final class StreamWorkload(spark: SparkSession, work: Path, corpus: Corpus,
    warmCorpus: Corpus) extends Workload(spark, work, corpus) {

  def triplesTurns: Long = corpus.union.size.toLong

  /** The store the maintainer writes to; remembers when each stage's
    * snapshot write returned. */
  private class NotingStore(root: String) extends SnapshotStore(root) {
    @volatile var writtenAt: Map[String, Long] = Map.empty
    override def write(stage: String, df: DataFrame, fingerprint: String,
        builderWallMs: Long): Long = {
      val id = super.write(stage, df, fingerprint, builderWallMs)
      writtenAt += stage -> System.nanoTime()
      id
    }
  }

  private def stream(c: Corpus, k: String, mkStore: String => NotingStore,
      onBatch: (Int, Long) => Unit = (_, _) => ()): Run = {
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val root = work.resolve(s"store-$k")
    val chk = work.resolve(s"chk-$k")
    val store = mkStore(root.toString)
    val src = MemoryStream[Turn]
    val q = IncrementalKg.maintain(src.toDS(), store)
      .option("checkpointLocation", chk.toString).start()
    /** One micro-batch: its wall and its wall until the triples
      * snapshot was written. */
    def batch(i: Int, turns: Seq[Turn]): (Double, Double) = {
      val t0 = System.nanoTime()
      src.addData(turns: _*)
      q.processAllAvailable()
      val ns = System.nanoTime() - t0
      onBatch(i, ns)
      (ns / 1e9, (store.writtenAt("triples") - t0) / 1e9)
    }
    try {
      val (cold, coldTriples) = batch(0, c.base)
      val deltas = c.deltas.zipWithIndex.map { case (d, j) => batch(j + 1, d) }
      val live = liveHeapMb()
      q.stop()
      val triples = triplesOf(store.read(spark, "triples").get)
      val errors = spark.read.parquet(store.snapshots("ke_log")
          .map(id => root.resolve(s"ke_log/snap-$id").toString): _*)
        .filter(col("tag") === 3).count()
      Run(cold, coldTriples + deltas.map(_._2).sum, deltas.map(_._1), triples,
        bytesUnder(root), errors, live)
    } finally {
      q.stop()
      deleteTree(root)
      deleteTree(chk)
    }
  }

  def warmUp(): Unit = stream(warmCorpus, "warmup", new NotingStore(_))

  def sample(k: Int): Sample = {
    val r = stream(corpus, k.toString, new NotingStore(_))
    val (p, rc, bad) = gate(r.triples, corpus.unionTruth, "union")
    Sample(r.triplesS, r.coldS, r.deltaS, r.bytes, r.liveHeapMb, p, rc,
      attempts = 1 + r.deltaS.size + 3, failures = bad ++ errorGate(r.errors))
  }

  private val layerOf: Map[String, String] = Map(
    "ke" -> "extract", "ke_log" -> "extract",
    "surfaces" -> "link", "match_edges" -> "link",
    "components" -> "cc",
    "surface_clusters" -> "canon", "memberships" -> "canon", "prototypes" -> "canon",
    "superedges" -> "superedge", "triples" -> "superedge",
    "event_clusters" -> "eventcoref", "event_prototypes" -> "eventcoref",
    "relation_clusters" -> "relclusters")
  private def layer(stage: String): String = layerOf.getOrElse(stage,
    if (stage.contains("justifications") || stage == "cluster_links") "justifications"
    else "streaming")

  /** Every store call inside a span of its layer. A stage's span holds
    * its builder and its parquet write; the time `getOrCreate` spends
    * beyond the manifest's `wall_ms` (row-count read-back, manifest
    * swap, re-read) moves to `snapshot`, with reads and expiry. */
  private final class TracedStore(root: String, tr: Tracer) extends NotingStore(root) {
    @volatile var written: Vector[(String, Long, Long)] = Vector.empty // stage, rows, wall_ms
    @volatile var resumed = 0
    override def write(stage: String, df: DataFrame, fingerprint: String,
        builderWallMs: Long): Long = {
      val id = super.write(stage, df, fingerprint, builderWallMs)
      val e = manifestEntries().find(_.contains(s""""stage":"$stage","snapshot":$id""")).getOrElse("")
      def field(k: String) = {
        val i = e.indexOf(s""""$k":""")
        if (i < 0) 0L else e.substring(i + k.length + 3).takeWhile(_.isDigit).toLong
      }
      written :+= ((stage, field("rows"), field("wall_ms")))
      tr.addRows(layer(stage), field("rows"))
      id
    }
    override def getOrCreate(spark: SparkSession, stage: String, fingerprint: String)
        (compute: => DataFrame): DataFrame = {
      val before = written.size
      val t0 = System.nanoTime()
      val df = tr.span(layer(stage))(super.getOrCreate(spark, stage, fingerprint)(compute))
      if (written.size == before) resumed += 1
      else {
        val beyond = (System.nanoTime() - t0) - written.last._3 * 1000000L
        if (beyond > 0) { tr.acc(layer(stage)).wallNs -= beyond; tr.acc("snapshot").wallNs += beyond }
      }
      df
    }
    override def append(stage: String, df: DataFrame, fingerprint: String): Long =
      tr.span(layer(stage))(super.append(stage, df, fingerprint))
    override def readAll(spark: SparkSession, stage: String): Option[DataFrame] =
      tr.span("snapshot")(super.readAll(spark, stage))
    override def expire(stage: String): Int = tr.span("snapshot")(super.expire(stage))
  }

  def traced(tr: Tracer): Traced = {
    tr.fallback = "streaming"
    var store: TracedStore = null
    var batchNs = 0L
    var deltaWrites = 0
    var prevWrites = 0
    val r = stream(corpus, "traced", root => { store = new TracedStore(root, tr); store },
      onBatch = (i, ns) => {
        batchNs += ns
        val nonLog = store.written.count(_._1 != "ke_log")
        if (i > 0) deltaWrites += nonLog - prevWrites
        prevWrites = nonLog
        // gates and the reference run below are not the workload's work
        if (i == corpus.deltas.size) tr.fallback = "untraced"
      })
    val rounds = tr.rounds
    val (_, _, bad) = gate(r.triples, corpus.unionTruth, "traced union")
    // the untraced reference: one batch run over the union corpus,
    // which the maintained KG must equal exactly
    val ref = Pipeline.run(dataset(corpus.union))
    val refTriples = ref.triples.collect().toSet
    ref.unpersist()
    val same = if (r.triples == refTriples) Nil
      else Seq(s"streamed triples differ from the batch run on the union: " +
        s"${(r.triples diff refTriples).size} extra, ${(refTriples diff r.triples).size} missing")
    tr.drain()
    val others = Workload.Layers.filter(_ != "streaming").map(l => tr.acc(l).wallNs).sum
    tr.acc("streaming").wallNs = math.max(0L, batchNs - others)
    val w = store.written
    def rows(stage: String) = w.filter(_._1 == stage).map(_._2).sum
    val ccRuns = w.count(_._1 == "components")
    Traced(Seq(
      ("extract.error_rows", r.errors.toDouble, "rows"),
      ("link.surfaces", w.filter(_._1 == "surfaces").lastOption.map(_._2.toDouble).getOrElse(0.0),
        "count"),
      ("link.edges_per_surface",
        if (rows("surfaces") > 0) rows("match_edges").toDouble / rows("surfaces") else 0.0, "ratio"),
      ("cc.rounds", if (ccRuns > 0) rounds.toDouble / ccRuns else 0.0, "count"),
      ("snapshot.bytes_written_mb", tr.bytesWritten / 1e6, "MB"),
      ("snapshot.stages_written", w.size.toDouble, "count"),
      ("snapshot.stages_resumed", store.resumed.toDouble, "count"),
      ("streaming.stages_recomputed_per_delta",
        if (corpus.deltas.nonEmpty) deltaWrites.toDouble / corpus.deltas.size else 0.0, "count"),
      ("trace.full_kg_s", r.coldS, "s"),
      ("trace.link_cc_share", Workload.linkCcShare(tr, batchNs / 1e9), "frac")),
      attempts = 1 + corpus.deltas.size + 3, failures = bad ++ same ++ errorGate(r.errors))
  }
}
