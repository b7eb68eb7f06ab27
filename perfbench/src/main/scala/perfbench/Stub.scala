package perfbench

import java.net.{InetSocketAddress, URI, URLDecoder}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue, Executors, TimeUnit}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import com.fasterxml.jackson.databind.ObjectMapper
import com.sun.net.httpserver.{HttpExchange, HttpServer}

/** What the destination received during one job run. `digest` is an
  * order-independent sum of 64-bit record hashes, so two runs that
  * delivered the same records read the same (count, distinct, digest). */
final class Ledger(keep: Boolean) {
  val records = new AtomicLong
  val ids: java.util.Set[String] = ConcurrentHashMap.newKeySet[String]()
  val digest = new AtomicLong
  val kept = new ConcurrentLinkedQueue[String]

  def add(identity: String, record: String): Unit = {
    records.incrementAndGet()
    ids.add(identity)
    digest.addAndGet(Ledger.hash64(record))
    if (keep) kept.add(record)
  }
  def summary: (Long, Long, Long) = (records.get, ids.size.toLong, digest.get)
}

object Ledger {
  def hash64(s: String): Long = {
    import scala.util.hashing.MurmurHash3.stringHash
    (stringHash(s, 0x5eed).toLong << 32) | (stringHash(s, 0x1dea).toLong & 0xffffffffL)
  }
}

/** In-process destination stub on 127.0.0.1. It serves the CleverTap
  * upload (`/1/upload`, JSON `{"d":[...]}`) and the Netcore bulk-upload
  * notification (`/apiv2?...&path=<staged csv>`, whose file it reads),
  * records every delivered record in the current [[Ledger]], and answers
  * each request `serviceMs` after it arrived. Its handler pool has
  * `poolSize` threads. */
final class Stub(serviceMs: Long, poolSize: Int) {
  private val json = new ObjectMapper()
  @volatile var ledger = new Ledger(keep = false)
  val posts = new AtomicLong
  val bytesIn = new AtomicLong
  val busyNs = new AtomicLong
  private val inflight = new AtomicInteger
  val inflightMax = new AtomicInteger

  private val pool = Executors.newFixedThreadPool(poolSize)
  private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
  server.createContext("/", (ex: HttpExchange) => handle(ex))
  server.setExecutor(pool)
  server.start()

  val url: String = s"http://127.0.0.1:${server.getAddress.getPort}"

  /** Starts a fresh ledger and zeroes the counters. */
  def reset(keep: Boolean): Ledger = {
    posts.set(0); bytesIn.set(0); busyNs.set(0); inflightMax.set(0)
    ledger = new Ledger(keep)
    ledger
  }

  private def handle(ex: HttpExchange): Unit = {
    val t0 = System.nanoTime()
    inflightMax.accumulateAndGet(inflight.incrementAndGet(), math.max)
    try {
      val body = ex.getRequestBody.readAllBytes()
      posts.incrementAndGet()
      bytesIn.addAndGet(body.length.toLong)
      val path = ex.getRequestURI.getPath
      if (path.endsWith("/1/upload")) {
        val it = json.readTree(body).get("d").elements()
        while (it.hasNext) {
          val rec = it.next()
          ledger.add(rec.get("identity").asText(), rec.toString)
        }
      } else if (path.endsWith("/apiv2")) {
        val staged = ex.getRequestURI.getRawQuery.split("&").collectFirst {
          case kv if kv.startsWith("path=") =>
            URLDecoder.decode(kv.stripPrefix("path="), UTF_8)
        }.get
        val lines = Files.readString(Paths.get(new URI(staged))).split("\n")
        lines.iterator.drop(1).foreach { line =>
          ledger.add(line.takeWhile(_ != ','), lines(0) + "\t" + line)
        }
      }
      val wait = TimeUnit.MILLISECONDS.toNanos(serviceMs) - (System.nanoTime() - t0)
      if (wait > 0) TimeUnit.NANOSECONDS.sleep(wait)
      ex.sendResponseHeaders(200, 2)
      ex.getResponseBody.write("ok".getBytes(UTF_8))
    } catch {
      case t: Throwable =>
        val msg = String.valueOf(t.getMessage).getBytes(UTF_8)
        ex.sendResponseHeaders(500, msg.length.toLong)
        ex.getResponseBody.write(msg)
    } finally {
      ex.close()
      inflight.decrementAndGet()
      busyNs.addAndGet(System.nanoTime() - t0)
    }
  }

  def stop(): Unit = {
    server.stop(0)
    pool.shutdownNow()
    pool.awaitTermination(10, TimeUnit.SECONDS)
  }
}
