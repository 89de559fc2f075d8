package perfbench

import java.sql.Timestamp

import scala.collection.mutable

import graft.extract.Lexicon
import graft.schema.{Triple, Turn}

/**
 * Entity-rich transcript corpus with planted ground truth: many person
 * name families, so the linker and connected components do real work
 * (the `TranscriptSynth` corpus has 483 surfaces at any size).
 *
 * Every family has a unique synthetic surname and a first name drawn
 * from a shared pool, and appears in three forms: full ("Karo Belstadin"),
 * initial ("K. Belstadin") and a transposition typo of the first name
 * ("Kroa Belstadin"). The k-th mention of a family uses the form
 * `k mod 5`: 1 initial, 3 typo, otherwise full. At every corpus prefix
 * the full form is the strict mode or ties only with the initial form,
 * and a tie goes to the full form under the prototype's max-name
 * tie-break ("K." sorts below "Ka"). So a correct KG names each family
 * by its full form, and the planted triples are exact truth for any
 * prefix of the turn sequence.
 *
 * Families are mentioned in rounds: each round is a fresh permutation
 * of all families, so after four rounds every family has appeared in
 * all three forms. A relation turn holds [[ClausesPerTurn]] clauses
 * ("A met B, then C called D, ..."), each one planted triple.
 *
 * The corpus is a pure function of (config, seed): the same seed gives
 * the same turns.
 */
final class EntityRichSynth(val nFamilies: Int, val nFirstNames: Int, seed: Long) {
  import EntityRichSynth._
  require(nFamilies % 2 == 0, "an even family count keeps clause pairs inside one round")

  private val rng = new Rng(seed)

  /** `n` distinct capitalized names of `syllables` CV syllables plus
    * one final consonant. Names are distinct by sorted-character
    * multiset, the linker's typo-invariant token key, so two families
    * never share a surname token. */
  private def names(n: Int, syllables: Int, taken: mutable.Set[String]): Array[String] = {
    val out = new Array[String](n)
    var i = 0
    while (i < n) {
      val sb = new StringBuilder
      var s = 0
      while (s < syllables) {
        sb += consonants(rng.int(consonants.length))
        sb += vowels(rng.int(vowels.length))
        s += 1
      }
      sb += consonants(rng.int(consonants.length))
      val w = sb.toString
      val key = w.sorted
      if (!taken(key) && !reserved(w)) {
        taken += key
        out(i) = w.capitalize
        i += 1
      }
    }
    out
  }

  private val taken = mutable.Set.empty[String]
  val firstNames: Array[String] = names(nFirstNames, 2, taken)
  val surnames: Array[String] = names(nFamilies, 3, taken)
  private val firstOf: Array[Int] = Array.fill(nFamilies)(rng.int(nFirstNames))

  def canonical(fam: Int): String = firstNames(firstOf(fam)) + " " + surnames(fam)

  private def typo(w: String): String = {
    val p = w.length / 2
    w.substring(0, p - 1) + w.charAt(p) + w.charAt(p - 1) + w.substring(p + 1)
  }

  private def form(fam: Int, k: Int): String = (k % 5) match {
    case 1 => firstNames(firstOf(fam)).charAt(0) + ". " + surnames(fam)
    case 3 => typo(firstNames(firstOf(fam))) + " " + surnames(fam)
    case _ => canonical(fam)
  }

  /** `n` turns continuing the corpus (conversation ids keep counting),
    * with the triples they plant. Call repeatedly for deltas: mention
    * counters and rounds carry over, so later turns keep the schedule. */
  def nextTurns(n: Int): (Seq[Turn], Set[Triple]) = {
    val turns = Vector.newBuilder[Turn]
    val truth = Set.newBuilder[Triple]
    var i = 0
    while (i < n) {
      val conv = turnNo / TurnsPerConv
      val tIdx = (turnNo % TurnsPerConv).toInt
      val convId = f"erconv$conv%08d"
      val ts = new Timestamp(Epoch0 + conv * 86400000L + tIdx * 60000L)
      val roll = rng.int(10)
      if (roll < 8) {
        val clauses = (0 until ClausesPerTurn).map { _ =>
          // an even round length keeps a clause's two picks in one
          // permutation, so subject and object always differ
          val subj = nextFamily()
          val obj = nextFamily()
          val (verb, pred) = verbs(rng.int(verbs.length))
          truth += Triple(canonical(subj), pred, canonical(obj))
          s"${form(subj, bump(subj))} $verb ${form(obj, bump(obj))}"
        }
        val prefix = prefixes(rng.int(prefixes.length))
        turns += Turn(convId, tIdx, if (tIdx % 2 == 0) "user" else "assistant",
          clauses.mkString(prefix, ", then ", "."), null, ts)
      } else if (roll < 9) {
        turns += Turn(convId, tIdx, "assistant", fillers(rng.int(fillers.length)), null, ts)
      } else {
        turns += Turn(convId, tIdx, "tool",
          s"""tool output: {"status": "ok", "rows": ${rng.int(500)}}""", "db", ts)
      }
      turnNo += 1
      i += 1
    }
    (turns.result(), truth.result())
  }

  private var turnNo = 0L
  private val seen = new Array[Int](nFamilies)
  private def bump(fam: Int): Int = { val k = seen(fam); seen(fam) = k + 1; k }

  private val round: Array[Int] = Array.range(0, nFamilies)
  private var pos = nFamilies
  private def nextFamily(): Int = {
    if (pos == nFamilies) {
      var j = nFamilies - 1
      while (j > 0) {
        val r = rng.int(j + 1)
        val t = round(j); round(j) = round(r); round(r) = t
        j -= 1
      }
      pos = 0
    }
    pos += 1
    round(pos - 1)
  }
}

object EntityRichSynth {
  val TurnsPerConv = 10
  val ClausesPerTurn = 4
  private val Epoch0 = 1577836800000L // 2020-01-01T00:00:00Z
  private val consonants = "bdfgklmnprstvz"
  private val vowels = "aeiou"
  // person-person triggers only: every fact is a Person relation
  private val verbs = Array(
    "met" -> Lexicon.triggers("met")._1, "called" -> Lexicon.triggers("called")._1)
  private val prefixes = Array("", "fyi, ", "note: ", "so it seems ", "reportedly, ")
  private val fillers = Array(
    "ok, let me check that for you.",
    "no new items found for this query.",
    "the previous summary still stands.")
  // words the extractor gives meaning to must not be generated as names
  private val reserved: Set[String] =
    Lexicon.orgSuffixes ++ Lexicon.gpeGazetteer.map(_.toLowerCase) ++
      Lexicon.triggers.keySet ++ Set("with", "and", "in")

  /** splitmix64 stream: deterministic for a seed. */
  final class Rng(seed: Long) {
    private var z = seed * 0x9e3779b97f4a7c15L + 0x632be59bd9b4e019L
    def next(): Long = {
      z += 0x9e3779b97f4a7c15L
      var x = z
      x = (x ^ (x >>> 30)) * 0xbf58476d1ce4e5b9L
      x = (x ^ (x >>> 27)) * 0x94d049bb133111ebL
      x ^ (x >>> 31)
    }
    def int(n: Int): Int = Math.floorMod(next(), n.toLong).toInt
  }
}
