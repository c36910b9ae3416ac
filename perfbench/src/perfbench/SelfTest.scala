package perfbench

import scala.collection.mutable.ArrayBuffer

/** The benchmark's self-test (`python3 perfbench/run.py --selftest`):
  *  - one seed generates byte-identical inputs every time, and another
  *    seed other inputs;
  *  - on every workload, real ops pass their check and give the same
  *    output in two passes on fresh state, and the same output with one
  *    value corrupted fails the check.
  */
object SelfTest {
  private val Seed = 7L

  private def merlBytes(seed: Long): String = {
    val t = new MerlTransport(new MerlGen(seed, 2, 300, 3))
    val g = new MerlGen(seed, 2, 300, 3)
    val pages = for (i <- 0 until 4; tk <- g.tokensAt(i)) yield {
      t.stage(i, 100); t.op = i
      (1 to 4).map(p => t.get(graft.sources.HolderFields.pageParams(g.tokens(tk), p, 100))) ++
        g.wallets(tk, i).map(w => t.get(graft.sources.TxFields.pageParams(w, g.tokens(tk), 0, 1, 1000)))
    }
    Rng.sha256(pages.flatten.mkString("\n").getBytes("UTF-8"))
  }

  private def docBytes(seed: Long): String = {
    val g = new DocGen(seed)
    val a = g.batch(0, 0L, 300, 0.05, 0.05)
    val b = g.batch(1, 1000L, 300, 0.05, 0.05, a)
    Rng.sha256(g.bytes(a ++ b) ++ g.vectors(1, 50).flatten.mkString(",").getBytes("UTF-8"))
  }

  def run(work: String): String = {
    val results = ArrayBuffer.empty[(String, Boolean)]
    def expect(name: String)(ok: => Boolean): Unit = {
      val r = try ok catch { case e: Exception => println(s"selftest $name: $e"); false }
      println(s"selftest ${if (r) "pass" else "FAIL"}: $name")
      results += ((name, r))
    }
    expect("explorer pages: same seed, same bytes")(merlBytes(Seed) == merlBytes(Seed))
    expect("explorer pages: other seed, other bytes")(merlBytes(Seed) != merlBytes(Seed + 1))
    expect("documents: same seed, same bytes")(docBytes(Seed) == docBytes(Seed))
    expect("documents: other seed, other bytes")(docBytes(Seed) != docBytes(Seed + 1))

    val spark = Main.session(work)
    for (name <- Workload.Names) {
      val wl = Workload(name, spark, Seed, s"$work/selftest")
      wl.train()
      // two passes on fresh state: each op passes its check and gives
      // the same output both times
      val passes = for (pass <- 0 until 2) yield {
        wl.begin(s"selftest$pass")
        for (i <- 0 until 2) yield {
          wl.stage(i)
          wl.op(i, new OpCtx(new Spans(false)))
          val c = wl.check(i)
          c.left.foreach(e => println(s"selftest $name op $i: $e"))
          c
        }
      }
      expect(s"$name: real output passes its check")(passes.flatten.forall(_.isRight))
      expect(s"$name: same seed, same output on fresh state")(passes(0) == passes(1))
      expect(s"$name: corrupted output fails its check")(wl.corruptedCheck(1) match {
        case Left(reason) => println(s"selftest $name corrupted: $reason"); true
        case Right(_) => false
      })
    }
    spark.stop()
    val failed = results.count(!_._2)
    s"""{"correct":${failed == 0},"attempted":${results.size},"failed":$failed,"metrics":{}}"""
  }
}
