package perfbench

import java.nio.file.{Files, Paths}

/**
 * Machine weather next to every sample: hypervisor steal seconds from
 * `/proc/stat` over the sample, and a short all-core CPU canary rate
 * taken right before and right after it. These are reported only; no
 * sample is ever selected or dropped by them.
 */
object Weather {

  /** Cumulative steal seconds of the whole machine (0 where the
    * kernel does not report steal). */
  def stealSeconds(): Double = {
    val p = Paths.get("/proc/stat")
    if (!Files.isReadable(p)) 0.0
    else {
      val cpu = Files.readAllLines(p).get(0).trim.split("\\s+")
      // cpu user nice system idle iowait irq softirq steal ...
      if (cpu.length > 8) cpu(8).toDouble / 100.0 else 0.0
    }
  }

  /** Millions of mixer steps per second over all cores, measured for
    * about `millis` ms. */
  def canary(cores: Int, millis: Long = 150L): Double = {
    val counts = new Array[Long](cores)
    val deadline = System.nanoTime() + millis * 1000000L
    val threads = (0 until cores).map { c =>
      new Thread(() => {
        var z = c.toLong; var n = 0L
        while ((n & 0xfff) != 0 || System.nanoTime() < deadline) {
          z += 0x9e3779b97f4a7c15L
          z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
          n += 1
        }
        counts(c) = n + (z & 1L)
      })
    }
    val t0 = System.nanoTime()
    threads.foreach(_.start())
    threads.foreach(_.join())
    counts.sum / ((System.nanoTime() - t0) / 1e3)
  }
}
