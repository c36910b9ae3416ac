package graft.sources

import org.scalatest.funsuite.AnyFunSuite
import scala.collection.mutable.ArrayBuffer

class ExplorerClientSpec extends AnyFunSuite {

  test("RetryPolicy retries 5xx/429 with backoff, gives up after maxRetries") {
    val sleeps = ArrayBuffer.empty[Long]
    val p = new RetryPolicy(maxRetries = 5, backoffFactor = 0.7, sleepMs = sleeps += _)
    var calls = 0
    val got = p.run { () =>
      calls += 1
      if (calls <= 2) throw HttpStatusError(500, "boom")
      "ok"
    }
    assert(got == "ok" && calls == 3)
    assert(sleeps.toSeq == Seq(700L, 1400L)) // 0.7·2^0, 0.7·2^1 seconds

    // 429 gets the extra 2 s pause before the backoff sleep
    sleeps.clear()
    var calls2 = 0
    p.run { () => calls2 += 1; if (calls2 == 1) throw HttpStatusError(429, "") else "ok" }
    assert(sleeps.toSeq == Seq(2000L, 700L))

    // non-retryable status propagates immediately
    intercept[HttpStatusError] {
      new RetryPolicy(sleepMs = _ => ()).run { () => throw HttpStatusError(404, "") }
    }

    // exhaustion: 5 retries then the error escapes
    var calls3 = 0
    intercept[HttpStatusError] {
      new RetryPolicy(sleepMs = _ => ()).run { () =>
        calls3 += 1; throw HttpStatusError(503, "")
      }
    }
    assert(calls3 == 6) // 1 attempt + 5 retries
  }

  test("RateLimiter enforces the min interval between calls") {
    val sleeps = ArrayBuffer.empty[Long]
    var now = 0L
    val rl = new RateLimiter(qps = 2.0, nanoTime = () => now, sleepMs = sleeps += _)
    rl.acquire() // first call: no sleep
    now += 100L * 1000000L // 100 ms later; interval is 500 ms
    rl.acquire()
    assert(sleeps.toSeq == Seq(400L))
  }

  test("FileTransport resolves fixtures and terminates on missing pages") {
    val dir = java.nio.file.Files.createTempDirectory("graft_fixtures").toString
    val t = new FileTransport(dir)
    val params = Map("module" -> "token", "action" -> "tokenholderlist", "page" -> "1")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(dir, t.fixtureName(params)),
      """{"status":"1","message":"OK","result":[{"address":"0xA","quantity":"5"}]}""")
    val client = new ExplorerClient(t)
    val env = client.call(params)
    assert(env.ok && env.resultItems == Seq(Map("address" -> "0xA", "quantity" -> "5")))
    val missing = client.call(params + ("page" -> "2"))
    assert(!missing.ok && missing.resultItems.isEmpty)
    // the directory resolves through the Hadoop FileSystem API: a
    // file: URI reads the same envelope as the bare path
    assert(new ExplorerClient(new FileTransport("file:" + dir)).call(params) == env)
  }

  test("Envelope parses scalar results (block probe shape)") {
    val client = new ExplorerClient(_ => """{"status":"1","message":"OK","result":"4242"}""")
    val env = client.call(Map())
    assert(env.ok && env.resultScalar.contains("4242") && env.resultItems.isEmpty)
  }
}
