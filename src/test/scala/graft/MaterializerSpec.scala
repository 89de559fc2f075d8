package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import graft.snapshot.SnapshotStore
import graft.synth.TranscriptSynth

/** The stage DAG is declared once ([[Pipeline.build]]); its two
  * materializers must agree. Every stage the snapshot materializer
  * writes holds the rows of the in-session Result frame of the same
  * name, under both sides of the surface-dictionary gate. match_edges
  * has no Result frame: in-session its blocks are released once CC
  * has consumed them. */
class MaterializerSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def rows(df: DataFrame) =
    df.collect().groupBy(identity).map { case (k, v) => k -> v.length }

  for ((branch, saltedRows) <- Seq(
      "dictionary fits" -> Pipeline.SaltedMembershipRows,
      "salted, oversized dictionary" -> 0L))
    test(s"snapshot stages ≡ in-session Result frames ($branch)") {
      val cfg = TranscriptSynth.Config(nConvs = 60, turnsPerConv = 6, hotPct = 30)
      val turns = TranscriptSynth.turnsDs(spark, cfg, partitions = 4)
      val store = new SnapshotStore(Files.createTempDirectory("kgparity").toString)
      val mat = new Materializer.Snapshot(spark, store, "parity")
      val snap = Pipeline.build(mat.stage("ke")(Main.extractKe(turns)), mat,
        saltedMembershipRows = saltedRows)
      val inSession = Pipeline.run(turns, saltedMembershipRows = saltedRows)
      val frames = inSession.stageFrames.toMap
      assert(store.stages().toSet == frames.keySet + "ke" + "match_edges")
      assert(store.manifestEntries().size == 19)
      for (stage <- store.stages() if stage != "ke" && stage != "match_edges") {
        val same = rows(store.read(spark, stage).get) == rows(frames(stage))
        assert(same, s"snapshot stage $stage differs from the in-session frame")
      }
      assert(inSession.triples.count() > 0)
      // the snapshot Result reads the snapshots back
      assert(rows(snap.triples.toDF()) == rows(store.read(spark, "triples").get))
      snap.unpersist()
      inSession.unpersist()
    }
}
