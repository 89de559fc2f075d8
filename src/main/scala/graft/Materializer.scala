package graft

import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration.Duration

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.snapshot.SnapshotStore

/**
 * How the KG stage DAG ([[Pipeline.build]]) materializes its stages.
 *
 * [[Materializer.InSession]] (the library and the benchmark): stages
 * and shared intermediates are eager `localCheckpoint`s, outputs stay
 * lazy plans, forks run as concurrent Spark jobs.
 * [[Materializer.Snapshot]] (the CLI and the stream): every stage and
 * output is a [[SnapshotStore]] snapshot, one `getOrCreate` at a time
 * on the calling thread, and shared intermediates stay plain plans —
 * `getOrCreate` releases a builder's checkpoint blocks after its
 * write, so a checkpoint a later stage still read would be gone.
 */
sealed trait Materializer {

  /** A named stage later stages read. `checkpointed`: the builder
    * already returns an eagerly checkpointed frame. */
  def stage(name: String, checkpointed: Boolean = false)(build: => DataFrame): DataFrame

  /** A named output, kept lazy in the session. */
  def output(name: String)(build: => DataFrame): DataFrame

  /** An unnamed intermediate several stages read. */
  def shared(build: => DataFrame): DataFrame

  /** Start `work`, independent of its siblings; the thunk waits for it. */
  def fork[A](work: => A): () => A
}

object Materializer {

  object InSession extends Materializer {
    def stage(name: String, checkpointed: Boolean)(build: => DataFrame): DataFrame =
      if (checkpointed) build else build.localCheckpoint(true)
    def output(name: String)(build: => DataFrame): DataFrame = build
    def shared(build: => DataFrame): DataFrame = build.localCheckpoint(true)
    def fork[A](work: => A): () => A = {
      val f = Future(work)
      () => Await.result(f, Duration.Inf)
    }
  }

  /** Every stage is a snapshot of `store` under `fingerprint`: present
    * and fingerprint-equal → resumed, else computed and written. */
  final class Snapshot(spark: SparkSession, store: SnapshotStore,
      fingerprint: String) extends Materializer {
    def stage(name: String, checkpointed: Boolean)(build: => DataFrame): DataFrame =
      store.getOrCreate(spark, name, fingerprint)(build)
    def output(name: String)(build: => DataFrame): DataFrame = stage(name)(build)
    def shared(build: => DataFrame): DataFrame = build
    def fork[A](work: => A): () => A = {
      val a = work
      () => a
    }
  }
}
