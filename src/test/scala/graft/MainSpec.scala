package graft

import org.scalatest.funsuite.AnyFunSuite

/** CLI argument parsing: a mistyped or incomplete option must fail
  * loudly, never run with defaults the snapshot fingerprint would then
  * record as chosen. */
class MainSpec extends AnyFunSuite {

  test("parseArgs reads every known --flag value pair") {
    val opts = Main.parseArgs(Array("--input", "synth:200", "--output", "/tmp/x",
      "--threshold", "0.7", "--dedup", "0.9", "--strip-boilerplate", "30"))
    assert(opts == Map("input" -> "synth:200", "output" -> "/tmp/x",
      "threshold" -> "0.7", "dedup" -> "0.9", "strip-boilerplate" -> "30"))
    assert(Main.parseArgs(Array.empty).isEmpty)
  }

  test("parseArgs rejects unknown flags, stray arguments and flags without a value") {
    for (args <- Seq(
        Array("--threshhold", "0.7"),              // misspelled flag
        Array("--input", "synth:200", "--dedup"),  // trailing flag, no value
        Array("--dedup", "--threshold", "0.7"),    // bare flag mid-line
        Array("synth:200"),                         // value without a flag
        Array("-input", "synth:200"))) {
      val e = intercept[IllegalArgumentException](Main.parseArgs(args))
      assert(e.getMessage.contains("usage:"), e.getMessage)
    }
  }
}
