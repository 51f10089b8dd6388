package graft

import org.scalatest.funsuite.AnyFunSuite

class BenchSpec extends AnyFunSuite {
  test("the summary line stays short, counts failures and leaves them out of the total") {
    val medians = (0 until 334).map(i => f"entry_$i%03d" -> 1.25).toMap
      .updated("entry_007", -1.0)
    val line = Bench.summary(medians, cpus = 32, sfDir = "data/sf0.1", runs = 3)
    assert(line.getBytes("UTF-8").length < 200, line)
    assert(line ===
      """{"metric":"total","value":416.250,"unit":"sec","n":334,"failed":1,"cpus":32,"sf":"sf0.1","runs":3}""")
  }
}
