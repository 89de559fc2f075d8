package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.canon.Canonicalizer
import graft.link.{Linker, SkewJoin}
import graft.synth.TranscriptSynth

/** Skew handling (SURVEY.md §5.5, §7.4.3): hot-key corpus completes
  * and salted joins are semantics-preserving. */
class SkewSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("salted join ≡ plain join (inner, with nulls via sentinel)") {
    import spark.implicits._
    val large = (1 to 5000).map(i => (s"row$i", s"k${i % 7}")).toDF("id", "k")
    val small = (0 until 7).map(i => (s"k$i", s"v$i")).toDF("k", "v")
    val plain = large.join(small, Seq("k")).select("id", "v").collect().toSet
    val salted = SkewJoin.salted(large, small, Seq("k"), col("id"), salts = 8)
      .select("id", "v").collect().toSet
    assert(salted == plain)
  }

  test("salted memberships ≡ plain memberships on a hot-skew corpus") {
    val cfg = TranscriptSynth.Config(nConvs = 150, turnsPerConv = 8, hotPct = 40)
    val r = Pipeline.run(TranscriptSynth.turnsDs(spark, cfg, partitions = 6))
    val plain = r.memberships.collect().map(m => (m.cluster_id, m.member_id)).toSet
    val salted = Canonicalizer
      .membershipsSalted(r.mentions, r.surfaceClusters, salts = 8)
      .collect().map(m => (m.cluster_id, m.member_id)).toSet
    assert(salted == plain)
    // hot family really is hot: largest cluster ≫ median
    val sizes = r.memberships.groupBy(col("cluster_id")).count()
      .collect().map(_.getLong(1)).sorted
    assert(sizes.last > 10 * sizes(sizes.length / 2))
  }

  test("pipeline auto-selects the salted membership path above the size threshold") {
    val cfg = TranscriptSynth.Config(nConvs = 120, turnsPerConv = 8, hotPct = 40)
    val turns = TranscriptSynth.turnsDs(spark, cfg, partitions = 6)
    // default: surface dict is tiny → broadcast path
    val plain = Pipeline.run(turns)
    // threshold 0 forces every corpus over it → salted path taken
    val forced = Pipeline.run(turns, saltedMembershipRows = 0L)
    val a = plain.memberships.collect().map(m => (m.cluster_id, m.member_id)).toSet
    val b = forced.memberships.collect().map(m => (m.cluster_id, m.member_id)).toSet
    assert(a == b) // path switch is invisible in the output
    // and downstream triples are identical through either path
    assert(plain.triples.collect().toSet == forced.triples.collect().toSet)
    // as is every other output: events, relation clusters and every
    // justification/link output, named as the snapshot stages are
    def outputs(r: Pipeline.Result) = r.stageFrames ++ Seq(
      "event_memberships" -> r.eventMemberships.toDF(),
      "annotated_members" -> r.annotatedMembers)
    def rows(df: DataFrame) = df.collect().groupBy(identity).map { case (k, v) => k -> v.length }
    for (((name, a), (_, b)) <- outputs(plain).zip(outputs(forced))) {
      val same = rows(a) == rows(b)
      assert(same, s"$name differs between the broadcast and salted paths")
    }
    plain.unpersist()
    forced.unpersist()
  }
}
