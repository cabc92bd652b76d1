package perfbench

import java.io.BufferedOutputStream
import java.net.{ServerSocket, URI}
import java.net.http.{HttpClient, WebSocket}
import java.nio.charset.StandardCharsets.{US_ASCII, UTF_8}
import java.util.concurrent.CompletionStage

/** The synthetic firehose, a pure function of the workload seed: event
  * `n` always has the same DID, collection and record, so the live
  * client, the replay seeder and the output checks agree on which
  * subscriber must receive which events without talking to each other.
  *
  * What the seed varies (the properties delivery cost depends on):
  *   - DID skew: DIDs are drawn as `floor(D * u^a)` with `a` in [2, 3],
  *     so a few DIDs carry most events;
  *   - collection mix: `app.bsky.feed.post` stays at 25 % (the
  *     collection subscriber's selectivity); the rest split by seed;
  *   - record size: the mean text length is 60-140 characters.
  * One DID outside the skewed pool, [[TargetDid]], carries 0.1 % of
  * events: the sparse subscriber's filter.
  */
final class Gen(seed: Long) extends Serializable {
  import Gen._

  private val dids = 4096
  private val skew = 2.0 + unit(mix(seed ^ 0x5eedL))
  private val textMean = 60 + (mix(seed ^ 0x7e47L) >>> 1) % 81
  private val others = Array("app.bsky.feed.like", "app.bsky.graph.follow",
    "app.bsky.feed.repost", "app.bsky.actor.profile")
  // cumulative weights of the non-post collections, out of 75
  private val otherCum = {
    val w = others.indices.map(i => 1 + (mix(seed + 31 * i) >>> 1) % 20)
    val total = w.sum.toDouble
    w.scanLeft(0.0)(_ + _).tail.map(c => 25 + 75 * c / total).toArray
  }

  private def h(n: Long, salt: Long): Long = mix(seed * 0x9e3779b97f4a7c15L ^ n ^ salt)

  def did(n: Long): String =
    if ((h(n, 1) >>> 1) % 1000 == 0) TargetDid
    else s"did:plc:u${(dids * math.pow(unit(h(n, 2)), skew)).toLong}"

  def collection(n: Long): String = {
    val p = unit(h(n, 3)) * 100
    if (p < 25) Post else others(otherCum.indexWhere(p < _) max 0)
  }

  def isPost(n: Long): Boolean = collection(n) == Post
  def isTarget(n: Long): Boolean = did(n) == TargetDid

  private def text(n: Long): String = {
    val len = (textMean / 2 + (h(n, 4) >>> 1) % textMean).toInt
    val sb = new StringBuilder(len)
    var x = h(n, 5)
    while (sb.length < len) {
      sb.append(('a' + ((x >>> 1) % 26)).toChar)
      if ((x & 7) == 0) sb.append(' ')
      x = mix(x)
    }
    sb.toString
  }

  /** One upstream commit frame. `timeUs` orders frames on the wire;
    * `swUs` is the time the event was due to be sent, carried to the
    * subscriber for the latency measurement.
    */
  def frame(n: Long, timeUs: Long, swUs: Long): String = {
    val iso = java.time.Instant
      .ofEpochSecond(timeUs / 1000000L, (timeUs % 1000000L) * 1000L).toString
    s"""{"t":"#commit","did":"${did(n)}","rev":"r$n","seq":$n,""" +
      s""""time":"$iso","tooBig":false,"ops":[{"action":"create",""" +
      s""""path":"${collection(n)}/k$n","cid":"c$n","recordCid":"c$n",""" +
      s""""record":{"sw":$swUs,"n":$n,"text":"${text(n)}"}}]}"""
  }
}

object Gen {
  val Post = "app.bsky.feed.post"
  val TargetDid = "did:plc:benchtarget"

  /** The three subscriber filters every serving workload uses. */
  val Filters: Seq[(String, String)] = Seq(
    "all" -> "",
    "posts" -> s"wantedCollections=$Post",
    "did" -> s"wantedDids=$TargetDid")

  def wants(g: Gen, filter: String, n: Long): Boolean = filter match {
    case "all"   => true
    case "posts" => g.isPost(n)
    case "did"   => g.isTarget(n)
  }

  def mix(z0: Long): Long = { // splitmix64 finalizer
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }
  def unit(x: Long): Double = (x >>> 11) * (1.0 / (1L << 53))
}

/** An RFC 6455 upstream serving a growing log of frames: a connection
  * replays the log past its `cursor` and then follows the head, the
  * relay's subscribe shape. The generator appends; each connection
  * streams on its own thread.
  */
final class Upstream {
  private val cap = 1 << 22
  private val times = new Array[Long](cap)
  private val frames = new Array[Array[Byte]](cap)
  @volatile private var head = 0
  @volatile private var closed = false
  private val server = new ServerSocket(0)
  def port: Int = server.getLocalPort

  /** Single writer. */
  def append(timeUs: Long, frame: String): Unit = {
    require(head < cap, "upstream log full")
    times(head) = timeUs; frames(head) = frame.getBytes(UTF_8)
    head += 1
  }

  private val acceptor = new Thread(() => {
    try while (!closed) {
      val sock = server.accept()
      val t = new Thread(() => {
        try {
          val in = sock.getInputStream
          val out = new BufferedOutputStream(sock.getOutputStream, 1 << 16)
          val req = Ws.readHead(in)
          val cursor = """cursor=(\d+)""".r.findFirstMatchIn(req)
            .map(_.group(1).toLong).getOrElse(0L)
          out.write(Ws.acceptResponse(req)); out.flush()
          val drainer = new Thread(() =>
            try { while (in.read() != -1) () } catch { case _: Throwable => () })
          drainer.setDaemon(true); drainer.start()
          var i = 0
          while (!closed) {
            val h = head
            if (i < h) {
              while (i < h) {
                if (times(i) > cursor) Ws.writeText(out, frames(i))
                i += 1
              }
              out.flush()
            } else Thread.sleep(1)
          }
        } catch { case _: Throwable => () }
        finally sock.close()
      })
      t.setDaemon(true); t.start()
    } catch { case _: Throwable => () }
  })
  acceptor.setDaemon(true); acceptor.start()

  def close(): Unit = { closed = true; server.close() }
}

private[perfbench] object Ws {
  def readHead(in: java.io.InputStream): String = {
    val req = new StringBuilder
    def done = req.length >= 4 && req.substring(req.length - 4) == "\r\n\r\n"
    var eof = false
    while (!eof && !done) {
      val b = in.read()
      if (b == -1) eof = true else req.append(b.toChar)
    }
    req.toString
  }

  def acceptResponse(req: String): Array[Byte] = {
    val key = req.split("\r\n").find(_.toLowerCase.startsWith("sec-websocket-key:"))
      .map(_.split(":", 2)(1).trim).getOrElse("")
    val accept = java.util.Base64.getEncoder.encodeToString(
      java.security.MessageDigest.getInstance("SHA-1").digest(
        (key + "258EAFA5-E914-47DA-95CA-C5AB0DC85B11").getBytes(US_ASCII)))
    ("HTTP/1.1 101 Switching Protocols\r\nUpgrade: websocket\r\n" +
      s"Connection: Upgrade\r\nSec-WebSocket-Accept: $accept\r\n\r\n").getBytes(US_ASCII)
  }

  def writeText(out: java.io.OutputStream, p: Array[Byte]): Unit = {
    out.write(0x81)
    if (p.length < 126) out.write(p.length)
    else if (p.length < 65536) {
      out.write(126); out.write(p.length >> 8); out.write(p.length & 0xff)
    } else {
      out.write(127)
      (7 to 0 by -1).foreach(i => out.write(((p.length.toLong >> (8 * i)) & 0xff).toInt))
    }
    out.write(p)
  }
}

/** A JDK WebSocket subscriber recording, per received event, its
  * sequence number `n`, its `time_us` and its receipt time on
  * [[Clock]]. Primitive arrays only.
  */
final class Subscriber(url: String) {
  private val nRe = """\\?"n\\?"\s*:\s*(\d+)""".r
  private val tRe = """"time_us"\s*:\s*(\d+)""".r
  private val lock = new Object
  private var ns = new Array[Long](1 << 16)
  private var ts = new Array[Long](1 << 16)
  private var rs = new Array[Long](1 << 16)
  private var count = 0
  @volatile var parseFailures = 0L
  @volatile var lastReceiptUs = 0L

  private def add(n: Long, t: Long, r: Long): Unit = lock.synchronized {
    if (count == ns.length) {
      ns = java.util.Arrays.copyOf(ns, count * 2)
      ts = java.util.Arrays.copyOf(ts, count * 2)
      rs = java.util.Arrays.copyOf(rs, count * 2)
    }
    ns(count) = n; ts(count) = t; rs(count) = r; count += 1
    lastReceiptUs = r
  }

  private val partial = new StringBuilder
  private val ws: WebSocket = HttpClient.newHttpClient().newWebSocketBuilder()
    .buildAsync(URI.create(url), new WebSocket.Listener {
      override def onText(w: WebSocket, data: CharSequence, last: Boolean)
          : CompletionStage[_] = {
        partial.append(data)
        if (last) {
          val msg = partial.toString; partial.setLength(0)
          val now = Clock.nowUs()
          (for {
            n <- nRe.findFirstMatchIn(msg)
            t <- tRe.findFirstMatchIn(msg)
          } yield add(n.group(1).toLong, t.group(1).toLong, now))
            .getOrElse { parseFailures += 1 }
        }
        w.request(1)
        null
      }
    }).join()

  def size: Int = lock.synchronized(count)

  /** (n, time_us, receipt µs) in receipt order. */
  def snapshot(): (Array[Long], Array[Long], Array[Long]) = lock.synchronized {
    (java.util.Arrays.copyOf(ns, count), java.util.Arrays.copyOf(ts, count),
      java.util.Arrays.copyOf(rs, count))
  }

  def close(): Unit = try ws.abort() catch { case _: Throwable => () }
}

/** Wall-clock µs read from the monotonic clock, so a latency is never
  * bent by a wall-clock step mid-run.
  */
object Clock {
  private val baseUs = System.currentTimeMillis() * 1000L
  private val baseNs = System.nanoTime()
  def nowUs(): Long = baseUs + (System.nanoTime() - baseNs) / 1000L
}

/** What a subscriber got, judged against the events it should have got:
  * each expected event exactly once, in `time_us` order, nothing else.
  */
final case class Delivery(expected: Int, received: Int, missing: Int,
    duplicated: Int, unexpected: Int, outOfOrder: Int) {
  def failed: Int = missing + duplicated + unexpected + outOfOrder
  def json: String =
    s"""{"expected":$expected,"received":$received,"missing":$missing,""" +
      s""""duplicated":$duplicated,"unexpected":$unexpected,"out_of_order":$outOfOrder}"""
}

object Delivery {
  /** Judge `ns`/`ts` (receipt order) against `expected`; events with
    * `n` outside `[lo, hi)` are ignored (warm-up traffic).
    */
  def judge(ns: Array[Long], ts: Array[Long], expected: Long => Boolean,
      lo: Long, hi: Long): Delivery = {
    val want = (lo until hi).filter(expected).toSet
    val seen = scala.collection.mutable.HashSet.empty[Long]
    var dup, unexp, ooo, recv = 0
    var prevT = Long.MinValue
    var i = 0
    while (i < ns.length) {
      val n = ns(i)
      if (n >= lo && n < hi) {
        recv += 1
        if (!want.contains(n)) unexp += 1
        else if (!seen.add(n)) dup += 1
        if (ts(i) <= prevT) ooo += 1
        prevT = ts(i)
      }
      i += 1
    }
    Delivery(want.size, recv, want.size - seen.size, dup, unexp, ooo)
  }
}
