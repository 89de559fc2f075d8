package graft.link

import scala.collection.mutable
import scala.reflect.ClassTag

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._

import graft.extract.Lexicon
import graft.schema.{MatchEdge, Mention}
import graft.util.Blocks

/**
 * Cross-document entity linking: blocking-key candidate generation +
 * TF-IDF cosine scoring over surface-name tokens → match edges.
 *
 * Replaces the reference's externalized `gaia-clustering` submodule
 * using exactly the features its contract exposes (SURVEY.md §2.4;
 * json heads carry name/type/linkTarget,
 * /root/reference/update_kg/Updater.py:302-321). NIL link targets
 * never block-match (the reference's DUMMY:%d semantics,
 * json_head/get_json_head.py:18-20).
 *
 * Scale design (10^12 mentions): all pairwise work happens on
 * DISTINCT SURFACE FORMS (etype, norm_name, link_target) — orders of
 * magnitude smaller than mentions — never on raw mentions. Blocks are
 * hard-capped (maxBlock) so candidate generation is O(Σ|block|²) with
 * bounded |block|. The matching rules live once, in plain Scala
 * ([[Rules]]). Up to `Config.driverLocalRows` surfaces the surface
 * table is collected once and grouped in driver hash maps; above it
 * the same rules run per block inside Spark `groupByKey`s over
 * merge-hinted shuffles (no driver-side vocabulary, no broadcast of
 * unbounded state). LinkerSpec forces each branch and compares them.
 */
object Linker {

  final case class Config(
      threshold: Double = 0.65,
      maxBlock: Int = 1000,
      minTokenLen: Int = 2,
      /** Surface-count gate between the two branches of
        * [[matchEdgesFrom]]: at or below it the surface table (narrow
        * rows, tens of MB at the gate) is collected to the driver and
        * linked there — one bounded scan and one result checkpoint
        * instead of ~25 Spark jobs over tiny frames, each paying
        * scheduling overhead for milliseconds of data work. Above it
        * the distributed branch runs: a 100-TB corpus with 10^8
        * distinct surfaces never touches the driver.
        * [[graft.Pipeline.build]] hands the same value to connected
        * components as its gate on match-edge rows, so one value
        * forces both. */
      driverLocalRows: Long = Blocks.DriverLocalRows)

  /** Distinct surface forms with a deterministic Long id.
    * Output columns: sid, etype, norm_name, link_target, n_mentions,
    * skey. Ids are xxhash64 of the unambiguous surface key — a pure
    * codegen projection (no global sort, no RDD round-trip), stable
    * across runs and parallelism levels (determinism contract,
    * SURVEY.md §7.4). The key joins its fields with \u0001 (escape) and maps a
    * NULL link_target to a \u0002-escape sentinel, so distinct tuples never
    * collide into one key and null stays distinct from "". 64-bit id
    * collisions are vanishingly rare below ~10^9 distinct surfaces;
    * [[matchEdgesFrom]] checks that sids are distinct and fails loudly
    * rather than silently merging. */
  def surfaces(mentions: Dataset[Mention]): DataFrame = {
    val spark = mentions.sparkSession
    import spark.implicits._
    mentions.toDF()
      .filter($"kind" === "entity")
      .groupBy($"etype", $"norm_name", $"link_target")
      .agg(count(lit(1)).as("n_mentions"))
      .withColumn("skey",
        concat_ws("\u0001", $"etype", $"norm_name",
          coalesce($"link_target", lit("\u0002"))))
      .withColumn("sid", xxhash64($"skey"))
  }

  /** Match edges: cosine ≥ threshold, exact non-NIL link-target
    * equality (the strong EDL signal — reference linkTarget feature),
    * or person-abbreviation key equality. */
  def matchEdges(mentions: Dataset[Mention], cfg: Config = Config()): (DataFrame, Dataset[MatchEdge]) = {
    // checkpoint the fan-out point: surf feeds 4 consumers. Eager
    // localCheckpoint (not persist) both reuses the data AND truncates
    // the plan, so downstream actions don't re-optimize the whole
    // extraction+id-assignment tree each time.
    val surf = surfaces(mentions).localCheckpoint(true)
    (surf, matchEdgesFrom(surf, cfg))
  }

  /** Match edges from a precomputed (checkpointed or snapshot-read)
    * surface table — resumable-pipeline entry that avoids recomputing
    * [[surfaces]]. One bounded scan, `take(driverLocalRows + 1)` in a
    * single task (the table is materialized, so one Spark job whatever
    * its partitioning), picks the branch; below the gate its rows are
    * the whole input of the driver-local branch. Above it the scan is
    * wasted (at most the gate's rows; measured at 100k and 252k
    * surfaces it stayed inside run-to-run spread) and the distributed
    * branch reads the table again. Both branches apply the same [[Rules]], fail
    * loudly on an xxhash64 sid collision rather than silently merging
    * two surfaces, and return the edge list as a local checkpoint. */
  def matchEdgesFrom(surf: DataFrame, cfg: Config = Config()): Dataset[MatchEdge] = {
    val spark = surf.sparkSession
    import spark.implicits._
    val rows = surf.select($"sid", $"etype", $"norm_name".as("normName"),
      $"link_target".as("linkTarget")).as[Surface]
    val head = rows.coalesce(1).take(math.min(cfg.driverLocalRows, Int.MaxValue - 1L).toInt + 1)
    if (head.length > cfg.driverLocalRows) distributedEdges(rows, cfg)
    else {
      val nSid = head.iterator.map(_.sid).distinct.size
      require(head.length == nSid,
        s"surface id hash collision: ${head.length} surfaces, $nSid distinct sids")
      val (src, dst) = localEdges(head, cfg).unzip
      Blocks.checkpointPairs(spark, src, dst, Encoders.product[MatchEdge].schema).as[MatchEdge]
    }
  }

  /** The rules grouped in driver hash maps. */
  private def localEdges(surfs: Array[Surface], cfg: Config): Array[(Long, Long)] = {
    def groups[K, V: ClassTag](kvs: Iterator[(K, V)]): Iterator[Array[V]] = {
      val m = mutable.HashMap.empty[K, mutable.ArrayBuffer[V]]
      for ((k, v) <- kvs) m.getOrElseUpdate(k, mutable.ArrayBuffer.empty) += v
      m.valuesIterator.map(_.toArray)
    }
    val toks = surfs.map(s => Rules.tokens(s.normName, cfg.minTokenLen))
    val df = mutable.HashMap.empty[String, Long]
    for (ts <- toks; t <- ts) df(t) = df.getOrElse(t, 0L) + 1
    val vecs = surfs.indices.map(i => Rules.vector(surfs(i).sid, Rules.suffix(surfs(i).normName),
      toks(i), df, surfs.length))
    val blocks = groups(surfs.indices.iterator.flatMap(i =>
      Rules.blockKeys(surfs(i).etype, toks(i), surfs(i).linkTarget).map(_ -> vecs(i))))
    val stars = groups(surfs.iterator.flatMap(s => Rules.starKey(s.etype, s.linkTarget).map(_ -> s.sid)))
    val abbrevs = groups(surfs.iterator.flatMap(s =>
      Rules.abbrevKey(s.etype, s.normName).map { case (akey, fkey) => akey -> (s.sid -> fkey) }))
    (blocks.flatMap(Rules.blockEdges(_, cfg)) ++ stars.flatMap(Rules.starEdges) ++
      abbrevs.flatMap(Rules.abbrevEdges)).toArray.distinct
  }

  /** The rules grouped by Spark: every group is a `groupByKey`, and
    * only the block keys, whose sizes the cap bounds, shuffle the
    * token vectors. */
  private def distributedEdges(rows: Dataset[Surface], cfg: Config): Dataset[MatchEdge] = {
    val spark = rows.sparkSession
    import spark.implicits._
    // one job: IDF corpus size + the xxhash64 sid collision guard
    val sizes = rows.agg(count(lit(1)), countDistinct($"sid")).head()
    val (nSurf, nSid) = (sizes.getLong(0), sizes.getLong(1))
    require(nSurf == nSid,
      s"surface id hash collision: $nSurf surfaces, $nSid distinct sids")
    // five consumers below: checkpoint the tokenized surfaces once
    val terms = rows.map(s => Terms(s.sid, s.etype, s.normName, s.linkTarget,
      Rules.tokens(s.normName, cfg.minTokenLen))).localCheckpoint(true)
    val df = terms.select(explode($"toks").as("tok")).groupBy($"tok").agg(count(lit(1)).as("df"))
    val vecs = terms.select($"sid", $"normName", explode($"toks").as("tok"))
      .join(df.hint("merge"), "tok")
      .select($"sid", $"normName", $"tok", $"df").as[(Long, String, String, Long)]
      .groupByKey(_._1)
      .mapGroups { (sid, it) =>
        val ts = it.toArray
        Rules.vector(sid, Rules.suffix(ts.head._2), ts.map(_._3), ts.map(r => r._3 -> r._4).toMap,
          nSurf)
      }
    // the cap is applied to block sizes before any vector is shuffled:
    // a hot key costs one (bkey, sid) row per member, never a group
    val keys = terms.flatMap(t => Rules.blockKeys(t.etype, t.toks, t.linkTarget).map(_ -> t.sid))
      .toDF("bkey", "sid")
    val kept = keys.groupBy($"bkey").agg(count(lit(1)).as("bsz")).as[(String, Long)]
      .filter(b => Rules.blockKept(b._2, cfg)).toDF("bkey", "bsz")
    val blockEdges = keys.join(kept.hint("merge"), "bkey")
      .join(vecs.toDF().hint("merge"), "sid")
      .select($"bkey".as("_1"), struct($"sid", $"toks", $"ws", $"nrm", $"suf").as("_2"))
      .as[(String, Vec)]
      .groupByKey(_._1)
      .flatMapGroups((_, it) => Rules.blockEdges(it.map(_._2).toArray, cfg))
    val stars = terms.flatMap(t => Rules.starKey(t.etype, t.linkTarget).map(_ -> t.sid))
      .groupByKey(_._1)
      .flatMapGroups((_, it) => Rules.starEdges(it.map(_._2).toArray))
    val abbrevs = terms.flatMap(t => Rules.abbrevKey(t.etype, t.normName).map(_ -> t.sid))
      .groupByKey(_._1._1)
      .flatMapGroups((_, it) => Rules.abbrevEdges(it.map { case ((_, fkey), sid) => sid -> fkey }.toArray))
    val edges = blockEdges.union(stars).union(abbrevs).distinct()
      .map { case (src, dst) => MatchEdge(src, dst) }
      // materialize the (small, surface-scale) edge list so the
      // tokenized-surface checkpoint — reachable only through this plan
      // — can be released HERE instead of pinning it for the rest of
      // the session (every caller forces the edge list immediately:
      // connected components, or the snapshot write)
      .localCheckpoint(true)
    Blocks.release(terms.toDF())
    edges
  }

  /** A surface as the rules read it. */
  private[link] final case class Surface(sid: Long, etype: String, normName: String,
      linkTarget: String)
  /** A surface with its [[Rules.tokens]]. */
  private[link] final case class Terms(sid: Long, etype: String, normName: String,
      linkTarget: String, toks: Array[String])
  /** A surface's TF-IDF vector: its tokens ascending, their weights,
    * the vector norm, and the name's org suffix (null if none). */
  private[link] final case class Vec(sid: Long, toks: Array[String], ws: Array[Double],
      nrm: Double, suf: String)

  /** The matching rules, in plain Scala. Both branches of
    * [[matchEdgesFrom]] call them and differ only in how surfaces are
    * grouped: by block key, by (etype, link_target) and by
    * abbreviation key. Null semantics are the ones of the SQL plan the
    * rules replaced: a null name has no tokens, no suffix and no
    * abbreviation key, and a null etype is left out of a block key's
    * text and joins no link-target star and no person group. */
  private[link] object Rules {
    /** Org suffixes in their synonym-normalized form (the suffix veto). */
    private val orgSuffixes: Set[String] = Lexicon.orgSuffixes.map(Lexicon.normToken)

    /** A name's words: split on single spaces, empty words kept. */
    private def words(s: String): Array[String] = s.split(" ", -1)
    /** A word without the characters outside [a-z0-9]. */
    private def strip(w: String): String = {
      val b = new java.lang.StringBuilder(w.length)
      for (c <- w if (c >= 'a' && c <= 'z') || (c >= '0' && c <= '9')) b.append(c)
      b.toString
    }
    /** The characters of a word in ascending order: its anagram class. */
    private def sortedChars(t: String): String = {
      val a = t.toCharArray
      java.util.Arrays.sort(a)
      new String(a)
    }

    /** The distinct tokens of a name over SORTED-CHAR-MULTISET keys
      * ("cyberdyne" and its transposition typo "cybredyne" map to the
      * same `s:` key — typo-invariant matching with no edit-distance
      * pass). A word shorter than `minTokenLen` ("j." initials) becomes
      * a distinguishing `i:` token: two different-initial
      * abbreviations of the same last name must NOT have identical
      * vectors. Anagram collisions between distinct real words are
      * rare and additionally gated by the cosine threshold + etype
      * blocking. */
    def tokens(normName: String, minTokenLen: Int): Array[String] =
      if (normName == null) Array.empty
      else words(normName).iterator.map(strip).filter(_.nonEmpty)
        .map(t => if (t.length >= minTokenLen) "s:" + sortedChars(t) else "i:" + t)
        .distinct.toArray

    /** The name's last word when it is a known org suffix, else null. */
    def suffix(normName: String): String =
      if (normName == null) null
      else {
        val last = normName.substring(normName.lastIndexOf(' ') + 1)
        if (orgSuffixes(last)) last else null
      }

    /** IDF weight of a token that `df` of `n` surfaces carry. */
    def weight(n: Long, df: Long): Double = StrictMath.log(1.0 + n.toDouble / df)

    /** A surface's vector from its tokens and their document frequencies
      * among `n` surfaces. */
    def vector(sid: Long, suf: String, toks: Array[String], df: String => Long, n: Long): Vec = {
      val ts = toks.sorted
      val ws = ts.map(t => weight(n, df(t)))
      var sq = 0.0
      for (w <- ws) sq += w * w
      Vec(sid, ts, ws, math.sqrt(sq), suf)
    }

    /** Candidate blocks: (etype, informative `s:` token) and non-NIL
      * (etype, link_target). A null etype is skipped, as `concat_ws`
      * skips it. */
    def blockKeys(etype: String, toks: Array[String], linkTarget: String): Array[String] = {
      def key(rest: String) = if (etype == null) rest else etype + "\u0001" + rest
      toks.filter(_.startsWith("s:")).map(key) ++
        Option(linkTarget).map(l => key("L:\u0001" + l))
    }

    /** The hot-key cap: blocks of 2..maxBlock members are scored, and
      * oversized ones dropped, bounding candidate generation at
      * O(Σ|block|²) — the explicit skew defense on hot names
      * (SURVEY.md §7.4.3). */
    def blockKept(size: Long, cfg: Config): Boolean = size >= 2 && size <= cfg.maxBlock

    /** TF-IDF cosine ≥ threshold over at least one shared token, unless
      * the suffix veto applies: "acme corp" vs "acme group" share a rare
      * stem but denote different organizations, so when both names end
      * in a known org suffix and the suffixes differ, the pair never
      * matches on cosine alone. */
    def matches(a: Vec, b: Vec, threshold: Double): Boolean = {
      var x = 0
      var y = 0
      var shared = false
      var dot = 0.0
      while (x < a.toks.length && y < b.toks.length) {
        val c = a.toks(x).compareTo(b.toks(y))
        if (c < 0) x += 1
        else if (c > 0) y += 1
        else { dot += a.ws(x) * b.ws(y); shared = true; x += 1; y += 1 }
      }
      shared && dot / (a.nrm * b.nrm) >= threshold &&
        (a.suf == null || b.suf == null || a.suf == b.suf)
    }

    private def edge(a: Long, b: Long): (Long, Long) = (math.min(a, b), math.max(a, b))

    /** Cosine edges among the members of one block. */
    def blockEdges(members: Array[Vec], cfg: Config): Iterator[(Long, Long)] = {
      val out = mutable.ArrayBuffer.empty[(Long, Long)]
      if (blockKept(members.length, cfg)) {
        var x = 0
        while (x < members.length) {
          var y = x + 1
          while (y < members.length) {
            if (matches(members(x), members(y), cfg.threshold))
              out += edge(members(x).sid, members(y).sid)
            y += 1
          }
          x += 1
        }
      }
      out.iterator
    }

    /** The exact non-NIL link-target group (the strong EDL signal —
      * reference linkTarget feature) of a surface with an etype. */
    def starKey(etype: String, linkTarget: String): Option[(String, String)] =
      if (etype == null || linkTarget == null) None else Some(etype -> linkTarget)

    /** Star edges, not all-pairs: connected components only needs
      * connectivity, so a link-target group links every surface to the
      * group's min sid — O(k) edges per group where all pairs would
      * emit k², the uncapped skew hole a hot KB target would open. */
    def starEdges(sids: Array[Long]): Iterator[(Long, Long)] =
      if (sids.length < 2) Iterator.empty
      else { val rep = sids.min; sids.iterator.filter(_ != rep).map(edge(_, rep)) }

    /** Abbreviation key of a person name of two or more words:
      * (first initial | rest of the name, fkey), where fkey is the
      * first name's sorted-char signature (typo variants of one first
      * name count as ONE expansion) and null for an initial form. */
    def abbrevKey(etype: String, normName: String): Option[(String, String)] =
      if (etype != Lexicon.PER || normName == null) None
      else {
        val ws = words(normName)
        if (ws.length < 2) None
        else {
          val first = strip(ws(0))
          Some((first.take(1) + "|" + ws.slice(1, 1001).mkString(" "),
            if (first.length == 1) null else sortedChars(first)))
        }
      }

    /** Abbreviation edges of one key's (sid, fkey) members: "J. Smith" ≡
      * "John Smith" when one side is an initial form — two distinct
      * full first names sharing an initial never merge this way. The
      * ambiguity guard: an initial form attaches to the min-sid full
      * form only when exactly ONE distinct full-name expansion exists
      * ("M. Smith" with both "Maria Smith" and "Marco Smith" present
      * stays unresolved instead of chain-merging two real entities). */
    def abbrevEdges(members: Array[(Long, String)]): Iterator[(Long, Long)] = {
      val (initials, fulls) = members.partition(_._2 == null)
      if (fulls.isEmpty || fulls.iterator.map(_._2).distinct.size != 1) Iterator.empty
      else {
        val fsid = fulls.iterator.map(_._1).min
        initials.iterator.map(_._1).filter(_ != fsid).map(edge(_, fsid))
      }
    }
  }
}
