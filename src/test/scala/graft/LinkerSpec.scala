package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import graft.cc.ConnectedComponents
import graft.link.Linker
import graft.schema.Mention
import graft.synth.TranscriptSynth

class LinkerSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def m(id: String, name: String, etype: String = "Person",
      link: String = null): Mention = {
    val norm = name.toLowerCase
    Mention(id, "c0", 0, "entity", etype, name, norm, 0, name.length, 0.9, link)
  }

  /** The driver-local branch (default gate) and the distributed one
    * (gate 0), each for the linker and connected components. */
  private val gates = Seq(Linker.Config().driverLocalRows, 0L)

  /** Clusters on both branches, which must agree; the local ones. */
  private def clusters(ms: Seq[Mention]): Set[Set[String]] = {
    import spark.implicits._
    val mentions = ms.toDS()
    val byBranch = gates.map { g =>
      val (surf, edges) = Linker.matchEdges(mentions, Linker.Config(driverLocalRows = g))
      val comp = ConnectedComponents.run(edges.toDF(), localEdges = g)
      val sc = graft.canon.Canonicalizer.withKind(
        graft.canon.Canonicalizer.surfaceClusters(surf, comp))
      graft.canon.Canonicalizer.memberships(mentions, sc)
        .collect().groupBy(_.cluster_id).values
        .map(_.map(_.member_id).toSet).toSet
    }
    assert(byBranch.distinct.size == 1, s"branches disagree: $byBranch")
    byBranch.head
  }

  /** Edges and components of `surf` on both branches: same schema,
    * same rows. */
  private def assertBranchesAgree(surf: DataFrame): Unit = {
    val Seq(local, dist) = gates.map(g =>
      Linker.matchEdgesFrom(surf, Linker.Config(driverLocalRows = g)))
    assert(local.schema == dist.schema)
    val edges = local.collect().map(e => (e.src, e.dst)).sorted.toSeq
    assert(edges.nonEmpty && edges == dist.collect().map(e => (e.src, e.dst)).sorted.toSeq)
    val Seq(lc, dc) = Seq(local, dist).zip(gates).map { case (e, g) =>
      ConnectedComponents.run(e.toDF(), localEdges = g) }
    assert(lc.schema == dc.schema)
    def rows(df: DataFrame) = df.collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(rows(lc) == rows(dc))
  }

  test("typo (adjacent transposition) merges; unrelated names do not") {
    val got = clusters(Seq(
      m("m1", "Cyberdyne Group", "Organization"),
      m("m2", "Cybredyne Group", "Organization"),
      m("m3", "Initech Corp", "Organization")))
    assert(got == Set(Set("m1", "m2"), Set("m3")))
  }

  test("initial abbreviation merges only the matching first name") {
    val got = clusters(Seq(
      m("m1", "John Smith"), m("m2", "J. Smith"),
      m("m3", "Sofia Smith"), m("m4", "Maria Garcia")))
    assert(got.contains(Set("m1", "m2")))
    assert(got.contains(Set("m3")))
    assert(got.contains(Set("m4")))
  }

  test("shared last name alone does not merge distinct persons") {
    val got = clusters(Seq(
      m("m1", "John Smith"), m("m2", "Sofia Smith"), m("m3", "Hans Smith")))
    assert(got.size == 3)
  }

  test("non-NIL equal link target merges regardless of name") {
    val got = clusters(Seq(
      m("m1", "Big Apple", "GeopoliticalEntity", "kb:NYC"),
      m("m2", "New York", "GeopoliticalEntity", "kb:NYC"),
      m("m3", "Boston", "GeopoliticalEntity", "kb:BOS")))
    assert(got == Set(Set("m1", "m2"), Set("m3")))
  }

  test("NIL links never block-match (reference DUMMY semantics)") {
    val got = clusters(Seq(
      m("m1", "Alpha One", "Person", null),
      m("m2", "Beta Two", "Person", null)))
    assert(got.size == 2)
  }

  test("same name different etype stays separate (blocking within type)") {
    val got = clusters(Seq(
      m("m1", "Phoenix Rising", "Person"),
      m("m2", "Phoenix Rising", "Organization")))
    assert(got.size == 2)
  }

  test("oversized blocks are dropped (hot-key cap)") {
    // 26 surfaces sharing token "common" with maxBlock=10 → no pairs
    // (second tokens chosen anagram-free: "name12"/"name21" would
    // legitimately match on the sorted-char key)
    val ms = (0 until 26).map(i => m(s"m$i", s"Common Alias${('a' + i).toChar}x"))
    import spark.implicits._
    val mentions = ms.toDS()
    for (g <- gates) {
      val (surf, edges) = Linker.matchEdges(mentions,
        Linker.Config(maxBlock = 10, driverLocalRows = g))
      assert(edges.count() == 0)
    }
  }

  test("the maxBlock cap drops a hot block whose pairs would otherwise match") {
    // 12 surfaces with one name and distinct link targets: every pair
    // scores cosine 1.0, but their only shared block holds 12 > 10
    import spark.implicits._
    val mentions = (0 until 12).map(i => m(s"h$i", "Hot Name", link = s"kb:$i")).toDS()
    for (g <- gates) {
      def edgeCount(maxBlock: Int) = Linker.matchEdges(mentions,
        Linker.Config(maxBlock = maxBlock, driverLocalRows = g))._2.count()
      assert(edgeCount(10) == 0)
      assert(edgeCount(12) == 66)
    }
  }

  test("surface ids are deterministic across runs") {
    import spark.implicits._
    val ms = Seq(m("m1", "Aa Bb"), m("m2", "Cc Dd"), m("m3", "Ee Ff")).toDS()
    val s1 = Linker.surfaces(ms).select("skey", "sid").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val s2 = Linker.surfaces(ms.repartition(7)).select("skey", "sid").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(s1 == s2)
  }

  test("both branches emit identical edges and components on a hot-skew corpus") {
    val cfg = TranscriptSynth.Config(nConvs = 150, turnsPerConv = 8, hotPct = 40)
    val r = Pipeline.run(TranscriptSynth.turnsDs(spark, cfg, partitions = 6))
    assertBranchesAgree(r.surfaces)
    r.unpersist()
  }

  test("both branches agree on link blocks, star edges, the suffix veto and nulls") {
    import spark.implicits._
    // "corp"/"group" are common (low IDF), so a shared rare stem alone
    // passes the cosine threshold — only the suffix veto keeps
    // "acme corp" and "acme group" apart
    val fillers = (0 until 12).flatMap(i => Seq(
      m(s"fc$i", s"Filler$i Corp", "Organization"),
      m(s"fg$i", s"Other$i Group", "Organization")))
    val named = Seq(
      m("o1", "Acme Corp", "Organization"), m("o2", "Acme Group", "Organization"),
      m("o3", "Acme", "Organization"),
      // four names of one KB target: a star, and a link block whose
      // typo pair also scores on cosine
      m("g1", "Big Apple", "GeopoliticalEntity", "kb:NYC"),
      m("g2", "New York", "GeopoliticalEntity", "kb:NYC"),
      m("g3", "New Yrok", "GeopoliticalEntity", "kb:NYC"),
      m("g4", "Gotham", "GeopoliticalEntity", "kb:NYC"),
      m("p1", "John Smith"), m("p2", "J. Smith"), m("p3", "Jhon Smith"),
      m("p4", "  john  smith ", "Person"), m("p5", "M. Garcia"),
      m("p6", "Maria Garcia"), m("p7", "Marco Garcia"))
    // surfaces with a null etype, a null name, or both
    val odd = Seq(
      Mention("n1", "c0", 0, "entity", null, "x", "new york", 0, 1, 0.9, "kb:NYC"),
      Mention("n2", "c0", 0, "entity", null, "x", "new yrok", 0, 1, 0.9, "kb:NYC"),
      Mention("n3", "c0", 0, "entity", "Person", "x", null, 0, 1, 0.9, "kb:P"),
      Mention("n4", "c0", 0, "entity", "Person", "x", null, 0, 1, 0.9, "kb:P"),
      Mention("n5", "c0", 0, "entity", "Person", "x", "john smith", 0, 1, 0.9, "kb:P"))
    val (surf, _) = Linker.matchEdges((fillers ++ named ++ odd).toDS())
    assertBranchesAgree(surf)
    val sid = surf.select("norm_name", "etype", "link_target", "sid").collect()
      .map(r => (Option(r.getString(0)), Option(r.getString(1)), Option(r.getString(2))) -> r.getLong(3))
      .toMap
    def org(n: String) = sid((Some(n), Some("Organization"), None))
    def gpe(n: String) = sid((Some(n), Some("GeopoliticalEntity"), Some("kb:NYC")))
    val edges = Linker.matchEdgesFrom(surf).collect().map(e => (e.src, e.dst)).toSet
    def linked(a: Long, b: Long) = edges((math.min(a, b), math.max(a, b)))
    assert(!linked(org("acme corp"), org("acme group")))
    assert(linked(org("acme corp"), org("acme")) && linked(org("acme group"), org("acme")))
    val nyc = Seq("big apple", "new york", "new yrok", "gotham").map(gpe)
    assert(nyc.filter(_ != nyc.min).forall(linked(_, nyc.min)))
  }

  test("linking plus connected components below the gate submit at most 4 Spark jobs") {
    val cfg = TranscriptSynth.Config(nConvs = 300, turnsPerConv = 10)
    val r = Pipeline.run(TranscriptSynth.turnsDs(spark, cfg))
    val nSurf = r.surfaces.count()
    assert(nSurf >= 400, s"only $nSurf surfaces")
    val sc = spark.sparkContext
    val groups = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        groups.add(Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .getOrElse(""))
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup("link-cc", "linking plus connected components")
      val comp = ConnectedComponents.run(Linker.matchEdgesFrom(r.surfaces).toDF())
      // listener events arrive in submission order: once the sentinel
      // job is seen, every job before it has been counted
      sc.setJobGroup("sentinel", "end of the measured calls")
      sc.parallelize(Seq(1), 1).count()
      sc.clearJobGroup()
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!groups.contains("sentinel") && System.nanoTime() < deadline) Thread.sleep(20)
      assert(groups.contains("sentinel"))
      val jobs = groups.toArray.count(_ == "link-cc")
      assert(jobs <= 4, s"$jobs Spark jobs for linking plus connected components of $nSurf surfaces")
      assert(comp.count() > 0)
    } finally {
      sc.removeSparkListener(listener)
      r.unpersist()
    }
  }
}
