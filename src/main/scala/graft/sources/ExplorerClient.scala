package graft.sources

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import scala.jdk.CollectionConverters._

/** Explorer REST connector (SURVEY S1-S6): an Etherscan-compatible
  * `module`/`action` API returning `{status, message, result}`
  * envelopes (`merlin_etl.py:87-101`).
  *
  * Split for testability:
  *  - [[ExplorerTransport]] — how bytes are fetched. [[HttpTransport]]
  *    is the real client (retry/backoff + rate limit per
  *    `merlin_etl.py:55-84`); [[FileTransport]] serves JSON pages from
  *    a directory keyed by the request params, so every pipeline runs
  *    offline against fixtures or a dump of earlier responses.
  *  - [[ExplorerClient]] — envelope parsing and endpoint surface.
  *
  * Ingest is driver-side by design: the API is rate-limited to ~3 QPS
  * (BASELINE.md), so the bottleneck is the remote end, never Spark.
  * The 100 TB path is the already-ingested Parquet tables.
  */
trait ExplorerTransport {
  /** GET with query params, returning the response body as UTF-8. */
  def get(params: Map[String, String]): String
}

/** Client-side min-interval rate limiter (`merlin_etl.py:77-84`).
  * Injectable clock/sleeper for tests.
  */
class RateLimiter(qps: Double,
                  nanoTime: () => Long = System.nanoTime,
                  sleepMs: Long => Unit = Thread.sleep) {
  private val minIntervalNs = (1e9 / math.max(qps, 0.1)).toLong
  private var lastCall = Long.MinValue

  def acquire(): Unit = synchronized {
    val now = nanoTime()
    val elapsed = now - lastCall
    if (lastCall != Long.MinValue && elapsed < minIntervalNs)
      sleepMs((minIntervalNs - elapsed) / 1000000L max 1L)
    lastCall = nanoTime()
  }
}

final case class HttpStatusError(status: Int, body: String)
  extends RuntimeException(s"HTTP $status")

/** Retry with exponential backoff (`merlin_etl.py:65-71`): up to
  * `maxRetries` retries on 429/500/502/503/504 (or IO errors),
  * sleeping backoffFactor·2^(n−1) seconds between attempts, plus the
  * reference's extra 2 s pause after a 429 (`merlin_etl.py:94-95`).
  */
class RetryPolicy(maxRetries: Int = 5, backoffFactor: Double = 0.7,
                  retryStatuses: Set[Int] = Set(429, 500, 502, 503, 504),
                  sleepMs: Long => Unit = Thread.sleep) {

  def run[T](attempt: () => T): T = {
    var n = 0
    while (true) {
      try return attempt()
      catch {
        case e: HttpStatusError if retryStatuses(e.status) && n < maxRetries =>
          if (e.status == 429) sleepMs(2000L)
          sleepMs((backoffFactor * math.pow(2, n) * 1000).toLong)
          n += 1
        case _: java.io.IOException if n < maxRetries =>
          sleepMs((backoffFactor * math.pow(2, n) * 1000).toLong)
          n += 1
      }
    }
    throw new IllegalStateException("unreachable")
  }
}

/** Real HTTP transport over java.net.http (JDK built-in; public API).
  * Matches the reference's operational constants: 30 s request
  * timeout, api_key appended to every call (`merlin_etl.py:90-92`).
  */
class HttpTransport(baseUrl: String, apiKey: String, qps: Double = 3.0,
                    timeoutMs: Long = 30000) extends ExplorerTransport {
  private val limiter = new RateLimiter(qps)
  private val retries = new RetryPolicy()
  private val client = java.net.http.HttpClient.newBuilder()
    .connectTimeout(java.time.Duration.ofMillis(timeoutMs)).build()

  override def get(params: Map[String, String]): String = {
    limiter.acquire()
    val qs = (params + ("api_key" -> apiKey)).toSeq.sortBy(_._1)
      .map { case (k, v) =>
        java.net.URLEncoder.encode(k, "UTF-8") + "=" + java.net.URLEncoder.encode(v, "UTF-8")
      }.mkString("&")
    retries.run { () =>
      val req = java.net.http.HttpRequest.newBuilder()
        .uri(java.net.URI.create(s"$baseUrl?$qs"))
        .timeout(java.time.Duration.ofMillis(timeoutMs)).GET().build()
      val resp = client.send(req, java.net.http.HttpResponse.BodyHandlers.ofString())
      if (resp.statusCode() >= 400) throw HttpStatusError(resp.statusCode(), resp.body())
      resp.body()
    }
  }
}

/** Directory transport: params → `<dir>/<k1=v1&k2=v2 ...>.json` with
  * keys sorted and values sanitized. Missing file ⇒ a status-0
  * envelope (the explorer's "no data" shape), which every page loop
  * treats as termination — so partial fixture sets behave like a
  * short API history. `dir` resolves through the Hadoop FileSystem
  * API, so a bare path and a `file:`, `hdfs:` or `s3a:` URI all work;
  * the FileSystem is resolved once, when the transport is built.
  */
object FileTransport {
  /** The filename a given request resolves to. */
  def name(params: Map[String, String]): String =
    params.toSeq.sortBy(_._1).map { case (k, v) => s"$k=$v" }.mkString("&")
      .replaceAll("[^A-Za-z0-9&=_.-]", "_") + ".json"

  /** Envelope a missing page resolves to (the explorer's own
    * no-data response shape).
    */
  val NoData: String = """{"status":"0","message":"No data found","result":[]}"""
}

class FileTransport(dir: String) extends ExplorerTransport {
  private val root = new org.apache.hadoop.fs.Path(dir)
  private val fs = root.getFileSystem(new org.apache.hadoop.conf.Configuration())

  override def get(params: Map[String, String]): String = {
    val p = new org.apache.hadoop.fs.Path(root, FileTransport.name(params))
    if (fs.exists(p)) {
      val in = fs.open(p)
      try new String(in.readAllBytes(), "UTF-8") finally in.close()
    } else FileTransport.NoData
  }

  /** The fixture filename a given request resolves to (test helper). */
  def fixtureName(params: Map[String, String]): String = FileTransport.name(params)
}

/** Field-name coalescing for explorer schema drift
  * (`merlin_etl.py:276-284`): holder pages arrive with any of several
  * key spellings per field.
  */
object HolderFields {
  val Addr: Seq[String] = Seq("TokenHolderAddress", "tokenHolderAddress",
    "HolderAddress", "holderAddress", "address")
  val Qty: Seq[String] = Seq("TokenHolderQuantity", "quantity", "balance")
  val Dec: Seq[String] = Seq("decimals", "tokenDecimal")

  def addr(it: Map[String, String]): Option[String] = Addr.flatMap(it.get).headOption
  def qty(it: Map[String, String]): Option[String] = Qty.flatMap(it.get).headOption
  def dec(it: Map[String, String]): Option[Int] =
    Dec.flatMap(it.get).headOption.flatMap(v => scala.util.Try(v.trim.toInt).toOption)

  /** The exact request params `ExplorerClient.holderPage` sends. */
  def pageParams(token: String, page: Int, pageSize: Int): Map[String, String] =
    Map("module" -> "token", "action" -> "tokenholderlist",
      "contractaddress" -> token, "page" -> page.toString,
      "offset" -> pageSize.toString)
}

/** Request surface of `account.tokentx` pages. */
object TxFields {
  /** The exact request params `ExplorerClient.tokenTxPage` sends. The
    * `startblock` value is the loop's RUNNING max block, so page N+1's
    * request (and its dumped filename) depends on page N's contents.
    */
  def pageParams(wallet: String, token: String, startBlock: Long,
                 page: Int, pageSize: Int): Map[String, String] =
    Map("module" -> "account", "action" -> "tokentx",
      "address" -> wallet, "contractaddress" -> token,
      "startblock" -> startBlock.toString, "endblock" -> "99999999",
      "sort" -> "asc", "page" -> page.toString, "offset" -> pageSize.toString)
}

/** Parsed API envelope. `result` is either a scalar (block probes) or
  * a list of string-keyed records (holder / tx pages).
  */
final case class Envelope(status: String, message: String,
                          resultScalar: Option[String],
                          resultItems: Seq[Map[String, String]]) {
  def ok: Boolean = status == "1"
}

class ExplorerClient(transport: ExplorerTransport) {
  private val mapper = new ObjectMapper()

  def call(params: Map[String, String]): Envelope = {
    val root = mapper.readTree(transport.get(params))
    def text(n: JsonNode): String = if (n == null || n.isNull) null else n.asText()
    val result = root.get("result")
    val (scalar, items) =
      if (result == null || result.isNull) (None, Nil)
      else if (result.isArray)
        (None, result.elements().asScala.map { it =>
          it.properties().asScala.map(e => e.getKey -> text(e.getValue)).toMap
        }.toSeq)
      else (Option(text(result)), Nil)
    Envelope(Option(text(root.get("status"))).getOrElse("0"),
      Option(text(root.get("message"))).getOrElse(""), scalar, items)
  }

  /** S4: `block.getblocknobytime` — timestamp → block number. */
  def blockByTime(unixTs: Long, closest: String): Envelope =
    call(Map("module" -> "block", "action" -> "getblocknobytime",
      "timestamp" -> unixTs.toString, "closest" -> closest))

  /** S5: one `token.tokenholderlist` page. */
  def holderPage(token: String, page: Int, pageSize: Int): Envelope =
    call(HolderFields.pageParams(token, page, pageSize))

  /** S6: one `account.tokentx` page from a start block, ascending
    * (ascending order is what makes the cursor's running max correct —
    * `merlin_etl.py:374,435`).
    */
  def tokenTxPage(wallet: String, token: String, startBlock: Long,
                  page: Int, pageSize: Int): Envelope =
    call(TxFields.pageParams(wallet, token, startBlock, page, pageSize))
}
