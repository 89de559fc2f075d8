package perfbench

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.BenchAccess
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/**
 * Per-layer attribution of Spark task metrics. Each call into a layer
 * runs inside [[span]], which tags the calling thread's jobs with a job
 * tag (tags, unlike job groups, leave the streaming engine's own group
 * intact); a `SparkListener` adds every finished task's metrics to the
 * span of its job. Spans nest: wall time is exclusive (a span's wall
 * excludes its child spans), and a job belongs to the innermost span
 * open on the thread that submitted it. Jobs submitted outside every
 * span go to `fallback`. Everything stays in memory until [[report]].
 */
final class Tracer(spark: SparkSession, val layers: Seq[String]) {
  import Tracer._

  private val sc = spark.sparkContext
  val cores: Int = sc.defaultParallelism
  private val accs: Map[String, Acc] = layers.map(_ -> new Acc).toMap
  private val stageSpan = new ConcurrentHashMap[Int, String]()
  @volatile var fallback: String = "streaming"
  @volatile private var ccRounds = 0

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      // the innermost span's tag carries the highest depth
      val tags = Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.tags")))
        .map(_.split(",").toSeq).getOrElse(Nil).filter(_.startsWith(TagPrefix))
      val name =
        if (tags.isEmpty) fallback
        else tags.map(_.stripPrefix(TagPrefix).split("-", 2)).maxBy(_(0).toInt).apply(1)
      accs.get(name).foreach(a => a.synchronized(a.jobs += 1))
      e.stageIds.foreach(stageSpan.put(_, name))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) accs.get(stageSpan.getOrDefault(e.stageId, fallback)).foreach { a =>
        a.synchronized {
          a.cpuNs += m.executorCpuTime
          a.gcMs += m.jvmGCTime
          a.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
          a.spillBytes += m.diskBytesSpilled
          a.outRows += m.outputMetrics.recordsWritten
          a.outBytes += m.outputMetrics.bytesWritten
        }
      }
    }
  }
  // CC's per-round convergence counts ride `Observation("cc_changed_<i>")`
  private val qeListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      ccRounds += qe.observedMetrics.keys.count(_.startsWith("cc_changed_"))
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
  }
  sc.addSparkListener(listener)
  spark.listenerManager.register(qeListener)

  private val open = new ThreadLocal[List[Frame]] { override def initialValue() = Nil }

  def span[T](name: String)(f: => T): T = {
    require(accs.contains(name), s"unknown layer $name")
    val frame = new Frame(name, System.nanoTime())
    open.set(frame :: open.get)
    val tag = s"$TagPrefix${open.get.size}-$name"
    sc.addJobTag(tag)
    try f
    finally {
      val ns = System.nanoTime() - frame.t0
      val rest = open.get.tail
      open.set(rest)
      rest.headOption.foreach(_.childNs += ns)
      val a = accs(name)
      a.synchronized(a.wallNs += ns - frame.childNs)
      sc.removeJobTag(tag)
    }
  }

  /** Rows a layer produced, counted outside its span. */
  def addRows(name: String, rows: Long): Unit = {
    val a = accs(name); a.synchronized(a.rows += rows)
  }

  /** A layer's raw totals, for adjustments made from outside (the
    * stream moves time from a stage's span to `snapshot`). */
  def acc(name: String): Acc = accs(name)

  /** Total output bytes written by all spans' tasks. */
  def bytesWritten: Long = { drain(); accs.values.map(_.outBytes).sum }

  def drain(): Unit = BenchAccess.drain(sc)

  def rounds: Int = { drain(); ccRounds }

  /** The eight generic metrics of every layer, by `<layer>.<metric>`. */
  def report(): Seq[(String, Double, String)] = {
    drain()
    layers.flatMap { l =>
      val a = accs(l)
      val wall = a.wallNs / 1e9
      val cpu = a.cpuNs / 1e9
      Seq(
        (s"$l.wall_s", wall, "s"),
        (s"$l.cpu_s", cpu, "s"),
        (s"$l.gc_s", a.gcMs / 1e3, "s"),
        (s"$l.shuffle_mb", a.shuffleBytes / 1e6, "MB"),
        (s"$l.spill_mb", a.spillBytes / 1e6, "MB"),
        (s"$l.jobs", a.jobs.toDouble, "count"),
        (s"$l.rows_out", (if (a.rows > 0) a.rows else a.outRows).toDouble, "rows"),
        (s"$l.busy_frac", if (wall > 0) cpu / (wall * cores) else 0.0, "frac"))
    }
  }

  def close(): Unit = {
    drain()
    sc.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
  }
}

object Tracer {
  private val TagPrefix = "perfbench-"

  final class Acc {
    var wallNs, cpuNs, gcMs, shuffleBytes, spillBytes, outRows, outBytes, rows = 0L
    var jobs = 0
  }
  private final class Frame(val name: String, val t0: Long) { var childNs = 0L }
}
