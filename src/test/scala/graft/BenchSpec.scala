package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

class BenchSpec extends AnyFunSuite {

  test("the artifact round is one past the newest BENCH, BENCH_FULL or QUALITY round") {
    val dir = Files.createTempDirectory("bench_round")
    assert(Bench.nextRound(dir) == 1)
    Seq("BENCH_r18.json", "BENCH_FULL_r19.json", "BENCH_r18_c8.json", "QUALITY_scale_x10.json")
      .foreach(n => Files.writeString(dir.resolve(n), "{}"))
    // round 19's BENCH_FULL is committed, so a run must not reuse 19
    assert(Bench.nextRound(dir) == 20)
    Files.writeString(dir.resolve("QUALITY_r21.json"), "{}")
    assert(Bench.nextRound(dir) == 22)
  }
}
