package graft

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}

import graft.extract.MentionExtractor
import graft.link.Linker
import graft.schema._
import graft.snapshot.SnapshotStore
import graft.synth.TranscriptSynth

/**
 * spark-submit entry point: full KG construction with snapshot-per-
 * stage checkpoint/resume — the north-rule contract ("resumable from
 * Iceberg-snapshot checkpoints with per-partition lineage and counter
 * metrics") realized over [[SnapshotStore]].
 *
 * Usage:
 *   spark-submit --class graft.Main <jar> \
 *     --input <transcripts parquet dir | synth:<nTurns>> \
 *     --output <snapshot root> [--threshold 0.65] [--dedup 0.9] \
 *     [--strip-boilerplate <minConvs>]
 *
 * Each stage of the shared KG DAG ([[Pipeline.build]]) is materialized
 * as an immutable snapshot with per-partition row counts in the
 * manifest ([[Materializer.Snapshot]]); a re-run resumes from the last
 * completed stage (the reference's user-selected step-range
 * restartability, /root/reference/update_kg/update_kg.py:17-35, made
 * automatic). Stage list mirrors Updater.run_all order (SURVEY §3.1).
 */
object Main {

  /** Every flag the CLI accepts; each takes one value. */
  private val Flags: Seq[String] = Seq("input", "output", "threshold", "dedup", "strip-boilerplate")

  private val Usage: String =
    "usage: graft.Main [--input <parquet dir | synth:<nTurns>>] [--output <snapshot root>] " +
      "[--threshold <cosine>] [--dedup <jaccard>] [--strip-boilerplate <minConvs>]"

  /** `--flag value` pairs. An unknown flag, a stray argument or a flag
    * without a value is an IllegalArgumentException: a mistyped option
    * must not run with defaults that the snapshot fingerprint then
    * records as chosen. */
  def parseArgs(args: Array[String]): Map[String, String] =
    args.grouped(2).map {
      case Array(k, v) if k.startsWith("--") && Flags.contains(k.drop(2)) && !v.startsWith("--") =>
        k.drop(2) -> v
      case Array(k, _*) if k.startsWith("--") && Flags.contains(k.drop(2)) =>
        throw new IllegalArgumentException(s"$k needs a value\n$Usage")
      case Array(k, _*) =>
        throw new IllegalArgumentException(s"unknown argument $k\n$Usage")
    }.toMap

  def loadTurns(spark: SparkSession, input: String): Dataset[Turn] = {
    import spark.implicits._
    if (input.startsWith("synth:")) {
      val n = input.stripPrefix("synth:").toLong
      TranscriptSynth.turnsDs(spark,
        TranscriptSynth.Config(nConvs = (n / 10).toInt, turnsPerConv = 10))
    } else if (input.startsWith("synthdup:")) {
      // synth corpus + every 3rd conversation RE-INGESTED under a fresh
      // id (the ResumeSpec planting at CLI scale): with --dedup on, the
      // KG must come out identical to the clean `synth:` corpus
      val n = input.stripPrefix("synthdup:").toLong
      val base = TranscriptSynth.turnsDs(spark,
        TranscriptSynth.Config(nConvs = (n / 10).toInt, turnsPerConv = 10))
      base.unionByName(
        base.filter(t => t.conv_id.drop(4).toLong % 3 == 0)
          .map(t => t.copy(conv_id = t.conv_id + "-reingest")))
    } else if (input.startsWith("synthbp:")) {
      // synth corpus + an identical trigger-bearing system-prompt turn
      // appended to EVERY conversation (the serving-stack boilerplate
      // regime): with --strip-boilerplate on, the KG must come out
      // identical to the clean `synth:` corpus
      val n = input.stripPrefix("synthbp:").toLong
      val cfg = TranscriptSynth.Config(nConvs = (n / 10).toInt, turnsPerConv = 10)
      val base = TranscriptSynth.turnsDs(spark, cfg)
      base.unionByName(
        base.filter(_.turn_idx == 0).map(t => t.copy(
          turn_idx = cfg.turnsPerConv, role = "system",
          text = "Zorblatt Industries founded Quuxware Labs.")))
    } else spark.read.parquet(input).as[Turn]
  }

  /** The tagged-union KE extraction frame over `turns`: ONE
    * extraction pass emitting a flat tagged row per KE (1 mention,
    * 2 statement, 3 error, 4 event, 5 event arg), which
    * [[Pipeline.build]] carves with columnar filter+project (no object
    * round-trip, no second extraction pass, no nested Seq cache). The
    * batch and streaming faces extract through this one function. */
  def extractKe(turns: Dataset[Turn]): DataFrame = {
    val spark = turns.sparkSession
    import spark.implicits._
    turns.flatMap { t =>
      val k = MentionExtractor.extractTurn(t)
      val ms = k.mentions.iterator.map(m => (1, m, null: Statement, null: EventArg, null: String))
      val ss = k.statements.iterator.map(s => (2, null: Mention, s, null: EventArg, null: String))
      val evs = k.events.iterator.map(m => (4, m, null: Statement, null: EventArg, null: String))
      val eas = k.eventArgs.iterator.map(a => (5, null: Mention, null: Statement, a, null: String))
      val es = if (k.error != null)
        Iterator((3, null: Mention, null: Statement, null: EventArg, k.error))
      else Iterator.empty
      (ms ++ ss ++ evs ++ eas ++ es).toSeq
    }.toDF("tag", "m", "s", "a", "error")
  }

  /** Run all stages through the store; returns the triple count.
    * `inputId` identifies the input corpus; together with the linker
    * config it forms each stage's snapshot fingerprint, so a rerun
    * with a different input or threshold recomputes instead of
    * resuming stale snapshots. */
  def runResumable(spark: SparkSession, turns: Dataset[Turn],
      store: SnapshotStore, linkCfg: Linker.Config = Linker.Config(),
      inputId: String = "", dedupJaccard: Option[Double] = None,
      stripBoilerplateMinConvs: Option[Long] = None): Long = {
    val fp = s"input=$inputId|threshold=${linkCfg.threshold}" +
      s"|maxBlock=${linkCfg.maxBlock}|minTokenLen=${linkCfg.minTokenLen}" +
      s"|dedup=${dedupJaccard.getOrElse("off")}" +
      s"|strip=${stripBoilerplateMinConvs.getOrElse("off")}"
    val mat = new Materializer.Snapshot(spark, store, fp)

    // optional TURN-level boilerplate strip FIRST (cheapest filter,
    // and it sharpens the conversation near-dup signatures below by
    // removing the templated turns they would otherwise collide on):
    // the inventory of repeated turn texts is its own snapshot stage
    // (tiny — distinct boilerplate norms), the filter an anti-join.
    val turnsStripped = stripBoilerplateMinConvs match {
      case Some(k) =>
        val norms = mat.stage("boilerplate_norms") {
          graft.ops.Clean.boilerplateTurnNorms(turns, k)
        }
        graft.ops.Clean.stripTurnsByNorms(turns, norms)
      case None => turns
    }

    // optional conversation-level near-dup filter BEFORE extraction —
    // the 100TB training-data flow: re-ingested/trivially-reworded
    // transcripts are dropped while one canonical copy survives. Its
    // verdict rows are a snapshot stage like any other (resume-safe;
    // the fingerprint carries the threshold so toggling recomputes).
    val turnsIn = dedupJaccard match {
      case Some(thr) =>
        val verdicts = mat.stage("dedup_canon") {
          graft.ops.ConversationDedup.conversationClusters(turnsStripped, thr)
        }
        graft.ops.ConversationDedup.canonicalTurns(turnsStripped, verdicts)
      case None => turnsStripped
    }

    val r = Pipeline.build(mat.stage("ke")(extractKe(turnsIn)), mat, linkCfg)
    val n = r.triples.count()
    r.unpersist()
    n
  }

  def main(args: Array[String]): Unit = {
    val opts =
      try parseArgs(args)
      catch {
        case e: IllegalArgumentException =>
          System.err.println(e.getMessage)
          sys.exit(2)
      }
    val input = opts.getOrElse("input", "synth:100000")
    val output = opts.getOrElse("output", "/tmp/graft-kg")
    val cores = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    // under spark-submit the master comes from the launcher; standalone
    // dev runs fall back to a tuned local session
    val session =
      if (sys.props.contains("spark.master"))
        SparkSession.builder()
          .config("spark.sql.extensions", "graft.functions.GraftExtensions")
          .getOrCreate()
      else Sessions.local(cores)
    val store = new SnapshotStore(output)
    val cfg = Linker.Config(threshold =
      opts.getOrElse("threshold", "0.65").toDouble)
    // --dedup <jaccard>: drop near-duplicate conversations (one
    // canonical survivor per family) before extraction
    val dedup = opts.get("dedup").map(_.toDouble)
    // --strip-boilerplate <minConvs>: drop turns whose normalized text
    // repeats across ≥ minConvs conversations (system prompts, tool
    // banners) before everything else
    val strip = opts.get("strip-boilerplate").map(_.toLong)
    val n = runResumable(session, loadTurns(session, input), store, cfg,
      inputId = input, dedupJaccard = dedup, stripBoilerplateMinConvs = strip)
    println(s"""{"triples":$n,"output":"$output","stages":${store.manifestEntries().size}}""")
  }
}
