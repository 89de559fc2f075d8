package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.schema.Triple
import graft.synth.TranscriptSynth

/** Golden-fixture end-to-end parity: run the full pipeline on the
  * deterministic synthetic corpus and compare the emitted corpus-level
  * (subj, pred, obj) set against the planted ground truth at
  * P/R ≥ 0.95 (BASELINE.json metric; SURVEY.md §5.1). */
class PipelineGoldenSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  test("end-to-end triple P/R >= 0.95 on golden corpus") {
    val cfg = TranscriptSynth.Config(nConvs = 400, turnsPerConv = 10)
    val turns = TranscriptSynth.turnsDs(spark, cfg, partitions = 8)
    val result = Pipeline.run(turns)

    val emitted: Set[Triple] = result.triples.collect().toSet
    val golden: Set[Triple] = TranscriptSynth.goldenTriples(cfg)

    val tp = (emitted intersect golden).size.toDouble
    val precision = tp / emitted.size
    val recall = tp / golden.size
    info(f"emitted=${emitted.size} golden=${golden.size} P=$precision%.4f R=$recall%.4f")
    assert(precision >= 0.95, f"precision $precision%.4f < 0.95")
    assert(recall >= 0.95, f"recall $recall%.4f < 0.95")
  }

  test("prototype_id and kind are constant per cluster on golden corpus") {
    import org.apache.spark.sql.functions._
    // Canonicalizer.prototypes aggregates both with max(...) instead of
    // grouping by them; that is only exact while every dictionary row
    // of a cluster carries the same value
    val cfg = TranscriptSynth.Config(nConvs = 400, turnsPerConv = 10)
    val r = Pipeline.run(TranscriptSynth.turnsDs(spark, cfg, partitions = 8))
    val perCluster = r.surfaceClusters.groupBy(col("cluster_id"))
      .agg(countDistinct(col("prototype_id")).as("np"), countDistinct(col("kind")).as("nk"))
    assert(perCluster.count() > 0)
    assert(perCluster.filter(col("np") =!= 1 || col("nk") =!= 1).count() == 0)
    // one prototype row per cluster, whose id and kind are the dictionary's
    val dict = r.surfaceClusters.select("cluster_id", "prototype_id", "kind").distinct()
    val protos = r.prototypes.toDF().select("cluster_id", "prototype_id", "kind")
    assert(protos.count() == perCluster.count())
    assert(protos.exceptAll(dict).count() == 0)
    r.unpersist()
  }

  test("golden enumerations are mutually consistent (pure, no Spark)") {
    val cfg = TranscriptSynth.Config(nConvs = 60, turnsPerConv = 8)
    val triples = TranscriptSynth.goldenTriples(cfg)
    val counts = TranscriptSynth.goldenTripleCounts(cfg)
    // counts is the multiplicity refinement of the triple set
    assert(counts.keySet == triples)
    assert(counts.values.forall(_ >= 1L))
    // every subject/object name in the triple set is a golden prototype
    val protoNames = TranscriptSynth.goldenPrototypes(cfg).map(_._1)
    assert(triples.forall(t => protoNames(t.subj) && protoNames(t.obj)))
    // and prototype etypes come from the closed Lexicon type inventory
    val etypes = TranscriptSynth.goldenPrototypes(cfg).map(_._2)
    assert(etypes.subsetOf(Set(graft.extract.Lexicon.PER,
      graft.extract.Lexicon.ORG, graft.extract.Lexicon.GPE)))
  }

  test("prototype and relation-cluster golden parity >= 0.9 (pipeline vs planted)") {
    val cfg = SparkEntry.KgEventsCfg
    val r = Pipeline.run(TranscriptSynth.turnsDs(spark, cfg, partitions = 8))
    val emitted = r.prototypes.collect().map(p => (p.name, p.etype)).toSet
    val golden = TranscriptSynth.goldenPrototypes(cfg)
    val tp = (emitted intersect golden).size.toDouble
    info(f"protos emitted=${emitted.size} golden=${golden.size} P=${tp / emitted.size}%.4f R=${tp / golden.size}%.4f")
    assert(tp / emitted.size >= 0.9)
    assert(tp / golden.size >= 0.9)
    // relation member counts: matched name-triples must carry EXACTLY
    // the planted fact multiplicity (count parity, not just presence)
    val relGolden = TranscriptSynth.goldenTripleCounts(cfg)
    val rel = SparkEntry.queries("q_kg_relations_golden")(spark, "")
      .collect().map(row => (Triple(row.getString(0), row.getString(1),
        row.getString(2)), Option(row.get(3)), Option(row.get(4))))
    val matched = rel.filter(x => x._2.isDefined && x._3.isDefined)
    assert(matched.length.toDouble / relGolden.size >= 0.9)
    matched.foreach { case (t, n, g) => assert(n == g, s"count mismatch at $t") }
  }

  test("no extraction errors on synthetic corpus") {
    val cfg = TranscriptSynth.Config(nConvs = 50, turnsPerConv = 10)
    val result = Pipeline.run(TranscriptSynth.turnsDs(spark, cfg, partitions = 4))
    assert(result.errors.count() == 0)
  }

  test("distributed and local synthesis agree") {
    val cfg = TranscriptSynth.Config(nConvs = 20, turnsPerConv = 5)
    val ds = TranscriptSynth.turnsDs(spark, cfg, partitions = 7).collect()
      .sortBy(t => (t.conv_id, t.turn_idx))
    val local = TranscriptSynth.turnsLocal(cfg)
      .sortBy(t => (t.conv_id, t.turn_idx))
    assert(ds.toSeq == local)
  }

  test("resolvedStatementsViaDict matches the membership-join path bit-for-bit") {
    // the round-6 dictionary resolution of statement argument clusters
    // must produce the identical resolved frame as the generic
    // memberships sort-merge — full row-set equality on a corpus with
    // aliases, typos, KB links and Place statements
    val cfg = TranscriptSynth.Config(nConvs = 120, turnsPerConv = 10)
    val r = Pipeline.run(TranscriptSynth.turnsDs(spark, cfg, partitions = 8))
    // align column order before comparing row strings (USING joins
    // move key columns to the front on the membership path)
    val cols = Seq("stmt_id", "subj", "pred", "obj", "conf", "conv_id",
      "turn_idx", "start_off", "end_off", "subj_cluster", "obj_cluster")
      .map(org.apache.spark.sql.functions.col)
    val viaMs = graft.superedge.SuperEdges
      .resolvedStatements(r.statements, r.memberships)
      .select(cols: _*).collect().map(_.toString).sorted
    val viaDict = graft.superedge.SuperEdges
      .resolvedStatementsViaDict(r.statements, r.surfaceClusters)
      .select(cols: _*).collect().map(_.toString).sorted
    assert(viaMs.sameElements(viaDict))
    r.unpersist()
  }
}
