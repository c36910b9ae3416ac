package graft.cli

import graft.{GraftSession, Json}
import graft.domain.MerlStore
import graft.pipelines.{Ingest, Report}
import graft.sources.{ExplorerClient, FileTransport, HttpTransport}

/** CLI dispatch mirroring the reference's subcommands
  * (`merlin_etl.py:484-519`) plus the refine/report entry points the
  * reference drives from bash (`run_holders_and_top100.sh`,
  * `*_report.sh`).
  *
  * Environment (reference `.env` contract, SURVEY S11):
  *   GRAFT_DATA_ROOT      store root (default ./graft_data)
  *   MERLINSCAN_BASE_URL  explorer API base
  *   MERLINSCAN_API_KEY   api key (required for HTTP)
  *   ETL_RATE_LIMIT_QPS   default 3.0
  *   GRAFT_FIXTURE_DIR    when set, serve the API from a directory of
  *                        JSON pages (fixtures or dumped responses)
  *                        instead of HTTP; a bare path or a URI on any
  *                        Hadoop filesystem (file:, hdfs:, s3a:, ...)
  *   TELEGRAM_BOT_TOKEN / TELEGRAM_CHAT_ID   report delivery
  */
object Main {

  private def flags(args: Array[String]): Map[String, String] =
    args.drop(1).sliding(2, 2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap

  /** `.env` self-loading parity with the reference scripts (`set -a;
    * source .env`, run_holders_and_report.sh:4): KEY=VALUE lines, `#`
    * comments and blanks skipped, optional `export ` prefix, optional
    * single/double quotes around the value. The real environment wins
    * over the file, so an operator can override a checked-in `.env`
    * per-run without editing it.
    */
  private[cli] def parseDotEnv(file: java.io.File): Map[String, String] =
    if (!file.isFile) Map.empty
    else {
      val src = scala.io.Source.fromFile(file, "UTF-8")
      try src.getLines()
        .map(_.trim)
        .filter(l => l.nonEmpty && !l.startsWith("#"))
        .map(l => if (l.startsWith("export ")) l.drop(7).trim else l)
        .flatMap { l =>
          l.indexOf('=') match {
            case i if i > 0 =>
              val v = l.drop(i + 1).trim
              val unq =
                if (v.length >= 2 && ((v.head == '"' && v.last == '"') ||
                  (v.head == '\'' && v.last == '\''))) v.substring(1, v.length - 1)
                else v
              Some(l.take(i).trim -> unq)
            case _ => None
          }
        }.toMap
      finally src.close()
    }

  /** In-engine parity with the reference's `timeout 7200s` wrapper
    * (`run_holders_and_top100.sh:21,42`): run `body` under a wall-clock
    * fuse; on expiry cancel every running Spark job and fail the
    * command loudly (the job-audit bracket then records the error).
    */
  private[cli] def withTimeout[T](timeoutSec: Option[Long],
                                  cancelJobs: () => Unit)(body: => T): T =
    timeoutSec match {
      case None => body
      case Some(s) =>
        val exec = java.util.concurrent.Executors.newSingleThreadExecutor()
        val fut = exec.submit(new java.util.concurrent.Callable[T] {
          def call(): T = body
        })
        try fut.get(s, java.util.concurrent.TimeUnit.SECONDS)
        catch {
          case e: java.util.concurrent.TimeoutException =>
            cancelJobs()
            fut.cancel(true)
            throw new RuntimeException(s"command timed out after ${s}s", e)
          case e: java.util.concurrent.ExecutionException =>
            throw e.getCause
        }
        finally exec.shutdownNow()
    }

  /** In-engine parity with the reference's per-token flock mutual
    * exclusion (`ingest_tokentx_top100.sh:13-18`): take a NON-BLOCKING
    * exclusive OS lock on `path` and run `body` under it. If another
    * process — or another thread of this JVM — already holds the lock,
    * SKIP the body and return None: overlap runs exit cleanly (the
    * reference prints a notice and `exit 0`), they do not fail. The
    * lock releases on completion, error, or process death (OS file
    * locks die with their holder, same as flock's fd 9).
    */
  private[cli] def withFileLock[T](path: Option[String])(body: => T): Option[T] =
    path match {
      case None => Some(body)
      case Some(p) =>
        val ch = java.nio.channels.FileChannel.open(java.nio.file.Paths.get(p),
          java.nio.file.StandardOpenOption.CREATE,
          java.nio.file.StandardOpenOption.WRITE)
        val lock =
          try ch.tryLock()
          catch { case _: java.nio.channels.OverlappingFileLockException => null }
        if (lock == null) { ch.close(); None }
        else try Some(body) finally { lock.release(); ch.close() }
    }

  def main(args: Array[String]): Unit = {
    if (args.isEmpty) {
      System.err.println(
        "usage: graft {block_by_time|holders_snapshot|wallet_tokentx|top100|holders_and_top100|report_snapshot|report_activity} [--flag value ...] [--timeout-sec N]")
      sys.exit(2)
    }
    val f = flags(args)
    val dotEnv = parseDotEnv(new java.io.File(".env"))
    def env(k: String): Option[String] = sys.env.get(k).orElse(dotEnv.get(k))
    val spark = GraftSession.local()
    val store = new MerlStore(spark, env("GRAFT_DATA_ROOT").getOrElse("./graft_data"))
    lazy val client = new ExplorerClient(env("GRAFT_FIXTURE_DIR") match {
      case Some(dir) => new FileTransport(dir)
      case None => new HttpTransport(
        env("MERLINSCAN_BASE_URL").getOrElse("https://scan.merlinchain.io/api"),
        env("MERLINSCAN_API_KEY").getOrElse(
          sys.error("MERLINSCAN_API_KEY is not set in environment or .env")),
        env("ETL_RATE_LIMIT_QPS").map(_.toDouble).getOrElse(3.0))
    })
    lazy val notifier: Report.Notifier =
      (env("TELEGRAM_BOT_TOKEN"), env("TELEGRAM_CHAT_ID")) match {
        case (Some(tok), Some(chat)) => new Report.TelegramNotifier(tok, chat)
        case _ => new Report.Notifier {
          override protected def deliver(text: String, mode: String): Unit = println(text)
        }
      }

    // --lock-file <path>: reference flock twin — a second concurrent
    // invocation on the same lock file skips its command and exits 0.
    val out = withFileLock(f.get("lock-file")) {
      withTimeout(f.get("timeout-sec").map(_.toLong),
      () => spark.sparkContext.cancelAllJobs()) { args(0) match {
      case "block_by_time" =>
        val r = Ingest.blockByTime(spark, store, client,
          f("unix-ts").toLong, f.getOrElse("closest", "after"))
        s"""{"block_number":${r.blockNumber.getOrElse(-1L)},"status":${Json.str(r.status)},""" +
          s""""message":${Json.str(r.message)}}"""
      case "holders_snapshot" =>
        val r = Ingest.holdersSnapshot(spark, store, client, f("token"),
          java.time.Instant.parse(f("bucket-start-utc")), f("trigger-id"),
          f.getOrElse("page-size", "100").toInt, f.getOrElse("max-pages", "10000").toInt,
          f.getOrElse("default-decimals", "18").toInt)
        s"""{"rows":${r.rows},"pages":${r.pages},"token":${Json.str(r.token)},"decimals":${r.decimals}}"""
      case "wallet_tokentx" =>
        val r = Ingest.walletTokenTx(spark, store, client, f("wallet"), f("token"),
          f.getOrElse("startblock", "0").toLong,
          f.getOrElse("page-size", "100").toInt, f.getOrElse("max-pages", "100000").toInt)
        s"""{"rows":${r.rows},"pages":${r.pages},"wallet":${Json.str(r.wallet)},""" +
          s""""token":${Json.str(r.token)},"last_block":${r.lastBlock}}"""
      case "top100" =>
        val rows = Ingest.refineTop100(store, f("token"), f.getOrElse("k", "100").toInt)
        s"""{"token":${Json.str(f("token"))},"rows":$rows}"""
      case "holders_and_top100" =>
        // run_holders_and_top100.sh one-shot: snapshot → refine →
        // optional report. --asof pins the bucket for reproducible
        // runs; omitted → now().
        val asOf = f.get("asof").map(java.time.Instant.parse)
          .getOrElse(java.time.Instant.now())
        val r = Ingest.holdersAndTop100(spark, store, client, f("token"), asOf,
          f.getOrElse("page-size", "500").toInt, f.getOrElse("max-pages", "100000").toInt,
          f.getOrElse("k", "100").toInt,
          if (f.get("report").exists(_.toBoolean)) Some(notifier) else None)
        s"""{"rows":${r.snapshot.rows},"pages":${r.snapshot.pages},""" +
          s""""token":${Json.str(r.snapshot.token)},"decimals":${r.snapshot.decimals},""" +
          s""""top100_rows":${r.top100Rows},"bucket_start_utc":"${r.bucketStartUtc}","trigger_id":"${r.triggerId}"}"""
      case "report_snapshot" =>
        Report.snapshotReport(spark, store, f("token"), notifier)
        """{"sent":true}"""
      case "report_activity" =>
        val asOf = f.get("asof").map(java.time.Instant.parse)
          .getOrElse(java.time.Instant.now())
        Report.activityReport(spark, store, f("token"), asOf, notifier)
        """{"sent":true}"""
      case other =>
        System.err.println(s"unknown command: $other"); sys.exit(2); ""
    } } }
    out match {
      case Some(o) => println(o)
      case None =>
        // the reference's overlap notice, as the CLI's JSON shape
        println(s"""{"skipped":"lock_held","lock":${Json.str(f("lock-file"))}}""")
    }
    spark.stop()
  }
}
