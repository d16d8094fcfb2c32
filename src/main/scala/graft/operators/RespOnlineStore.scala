package graft.operators

import java.io.{BufferedInputStream, BufferedOutputStream, DataInputStream, EOFException}
import java.net.{InetSocketAddress, ServerSocket, Socket, SocketException}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedDeque}

/** Redis-protocol [[OnlineStore]]: the K2 online sink speaking real
  * RESP over a socket (reference `RedisSink`,
  * feathr-rs/src/materialization.rs:27-55 — feature maps written as
  * Redis hashes keyed `table:key`).
  *
  * Connections: every call borrows a persistent connection from a pool
  * keyed by (host, port), runs its pipelined round trips on it and
  * returns it. The pool lives in the companion object because the store
  * is serialized into Spark tasks (`Materializer.write`/`deleteKeys`,
  * `readOnline`): every deserialized copy shares its JVM's connections
  * instead of leaking its own. A ranking request (a `get` plus a
  * `getAll`) so pays no connect and no server thread, and the pool holds
  * as many connections as calls ever ran at once. A connection whose call
  * throws anything (framing error, EOF, an `-ERR` reply, a failing row
  * iterator) is closed, never returned: it may have unread replies on
  * the wire. When the first round trip of a call fails because a
  * *pooled* connection turned out dead (the server restarted or dropped
  * it while idle), the round trip is sent once more on a fresh
  * connection. Every batch the store sends is idempotent (`DEL` + `HSET`
  * replace, `HGETALL`, `SCAN`, `KEYS`), so the resend cannot change the
  * outcome.
  *
  * Write path: [[putAll]] is called once per PARTITION by
  * `Materializer.write` and pipelines `DEL` + `HSET` command pairs
  * (`DEL` first: a materialization REPLACES a key's feature map, while
  * a bare `HSET` would merge with stale fields) — `maxPipeline`
  * commands per flush + bulk reply drain, so the wire pays ~one
  * round-trip per `maxPipeline/2` rows instead of one per row.
  *
  * RESP bulk strings are length-prefixed and binary-safe, so field
  * names and values round-trip losslessly with NO encoding layer
  * (unlike [[FileOnlineStore]]'s URL-encoding) — newlines, '=', and
  * unicode all pass through as raw UTF-8 bytes.
  *
  * Limitation (inherent to hash-shaped storage, same as Redis): a row
  * whose value map is EMPTY stores nothing — `get` returns None. The
  * materializer always writes at least one feature column.
  */
class RespOnlineStore(host: String, port: Int,
    maxPipeline: Int = 512) extends OnlineStore {
  import Resp._
  import RespOnlineStore.{hash, withConnection}

  def put(table: String, key: String, value: Map[String, String]): Unit =
    putAll(table, Iterator(key -> value))

  override def putAll(table: String,
      rows: Iterator[(String, Map[String, String])]): Unit =
    withConnection(host, port) { c =>
      rows.flatMap { case (k, v) =>
        val rk = s"$table:$k"
        Iterator(Seq("DEL", rk)) ++ (if (v.isEmpty) Iterator.empty else
          Iterator("HSET" +: rk +: v.toSeq.sortBy(_._1).flatMap { case (f, x) => Seq(f, x) }))
      }.grouped(maxPipeline).foreach { batch =>
        c.roundTrip(batch)(in => batch.foreach(_ => readReply(in)))
      }
    }

  def get(table: String, key: String): Option[Map[String, String]] =
    withConnection(host, port)(
      _.roundTrip(Seq(Seq("HGETALL", s"$table:$key")))(in => hash(readReply(in))))

  /** Bulk point-read: pipelined `HGETALL` for every key on one
    * connection — `maxPipeline` commands per flush+drain round-trip,
    * the same wire discipline as the write path ([[putAll]]). Serving
    * or verifying a key SET pays one round trip per batch, not per key.
    * Returns (key, None) for absent keys, preserving input order.
    */
  override def getAll(table: String,
      keys: Seq[String]): Seq[(String, Option[Map[String, String]])] =
    withConnection(host, port) { c =>
      keys.grouped(maxPipeline).flatMap { batch =>
        c.roundTrip(batch.map(k => Seq("HGETALL", s"$table:$k")))(in =>
          batch.map(k => k -> hash(readReply(in))))
      }.toSeq
    }

  /** All keys of `table`, enumerated with cursor `SCAN … MATCH table:*
    * COUNT batch` — the production path: each round-trip returns a
    * bounded batch and the server never blocks on the whole keyspace
    * (Redis `KEYS` is O(keyspace) inside the server's single event
    * loop). Iterates until the server returns cursor "0"; duplicates
    * (which Redis's rehash-safe cursors may emit) are collapsed
    * client-side, per the documented SCAN contract.
    */
  def scanKeys(table: String, batch: Int = 512): Seq[String] =
    withConnection(host, port) { c =>
      val seen = scala.collection.mutable.LinkedHashSet.empty[String]
      var cursor = "0"
      do {
        val (next, keys) = c.roundTrip(Seq(
          Seq("SCAN", cursor, "MATCH", s"$table:*", "COUNT", batch.toString)))(readScanReply)
        keys.foreach(b =>
          seen += new String(b, UTF_8).substring(table.length + 1))
        cursor = next
      } while (cursor != "0")
      seen.toSeq
    }

  /** One-shot `KEYS table:*` — fine for SMALL tables (tests, bounded
    * verification reads); O(keyspace) in one blocking server pass, so
    * production enumeration should use [[scanKeys]].
    */
  def keys(table: String): Seq[String] =
    withConnection(host, port)(_.roundTrip(Seq(Seq("KEYS", s"$table:*"))) { in =>
      readReply(in) match {
        case ArrayReply(items) =>
          items.map(b => new String(b, UTF_8).substring(table.length + 1))
        case other => throw new java.io.IOException(s"KEYS: unexpected reply $other")
      }
    })
}

object RespOnlineStore {
  import Resp._

  /** Bound on a connect and on each blocking read: a server that stops
    * answering fails the call instead of hanging it. */
  private val IoTimeoutMs = 30000

  /** One persistent client connection. `roundTrip` writes a batch of
    * commands, flushes once and reads the replies. A connection just
    * taken from the pool is `untested` until a round trip succeeds on
    * it: if that first round trip finds it dead, it reconnects and
    * sends the batch once more. */
  private final class Connection(host: String, port: Int) {
    private var sock: Socket = _
    private var out: BufferedOutputStream = _
    private var in: DataInputStream = _
    var untested = false
    connect()

    private def connect(): Unit = {
      sock = new Socket()
      try {
        sock.setTcpNoDelay(true)
        sock.connect(new InetSocketAddress(host, port), IoTimeoutMs)
        sock.setSoTimeout(IoTimeoutMs)
        out = new BufferedOutputStream(sock.getOutputStream, 1 << 16)
        in = new DataInputStream(new BufferedInputStream(sock.getInputStream, 1 << 16))
      } catch { case e: Throwable => close(); throw e }
    }

    def roundTrip[T](cmds: Iterable[Seq[String]])(read: DataInputStream => T): T = {
      def send(): T = { cmds.foreach(writeCommand(out, _)); out.flush(); read(in) }
      val result = try send() catch {
        case _: EOFException | _: SocketException if untested =>
          close(); connect(); untested = false
          send()
      }
      untested = false
      result
    }

    def close(): Unit = try sock.close() catch { case _: java.io.IOException => () }
  }

  /** Idle connections per (host, port), most recently returned first. */
  private val idle =
    new ConcurrentHashMap[(String, Int), ConcurrentLinkedDeque[Connection]]()

  /** The store's one connection path: borrow a live connection (or open
    * one), run `body` on it, and return it to the pool; a connection
    * whose `body` threw is closed instead. */
  private def withConnection[T](host: String, port: Int)(body: Connection => T): T = {
    val q = idle.computeIfAbsent((host, port), _ => new ConcurrentLinkedDeque[Connection]())
    val pooled = q.pollFirst()
    val c = if (pooled == null) new Connection(host, port) else pooled
    c.untested = pooled != null
    val result = try body(c) catch { case e: Throwable => c.close(); throw e }
    q.offerFirst(c)
    result
  }

  /** A `HGETALL` reply as a feature map; an empty hash is an absent key. */
  private def hash(r: Reply): Option[Map[String, String]] = r match {
    case ArrayReply(items) if items.nonEmpty =>
      Some(items.grouped(2).collect {
        case Seq(f, v) => new String(f, UTF_8) -> new String(v, UTF_8)
      }.toMap)
    case _ => None
  }
}

/** Minimal RESP wire codec shared by the client and the embedded test
  * server. Commands are RESP arrays of bulk strings
  * (`*N\r\n$len\r\n<bytes>\r\n...`); replies are integers (`:n`),
  * simple strings (`+OK`), errors (`-ERR`), bulk strings, or arrays.
  */
private[operators] object Resp {
  sealed trait Reply
  case class IntReply(n: Long) extends Reply
  case class SimpleReply(s: String) extends Reply
  case class BulkReply(bytes: Array[Byte]) extends Reply // null = nil
  case class ArrayReply(items: Seq[Array[Byte]]) extends Reply
  case class ErrorReply(msg: String) extends Reply

  private val Crlf = "\r\n".getBytes(UTF_8)

  def writeCommand(out: java.io.OutputStream, args: Seq[String]): Unit = {
    out.write(s"*${args.size}".getBytes(UTF_8)); out.write(Crlf)
    args.foreach { a =>
      val b = a.getBytes(UTF_8)
      out.write(s"$$${b.length}".getBytes(UTF_8)); out.write(Crlf)
      out.write(b); out.write(Crlf)
    }
  }

  /** One CRLF-terminated header line (RESP headers are ASCII). */
  def readLine(in: DataInputStream): String = {
    val sb = new java.lang.StringBuilder(16)
    var c = in.read()
    while (c != '\r') {
      if (c < 0) throw new java.io.EOFException("RESP stream closed mid-line")
      sb.append(c.toChar); c = in.read()
    }
    require(in.read() == '\n', "RESP: CR not followed by LF")
    sb.toString
  }

  private def readBulk(in: DataInputStream, len: Int): Array[Byte] = {
    val b = new Array[Byte](len)
    in.readFully(b)
    require(in.read() == '\r' && in.read() == '\n', "RESP: bulk not CRLF-terminated")
    b
  }

  def readReply(in: DataInputStream): Reply = {
    val line = readLine(in)
    line.charAt(0) match {
      case ':' => IntReply(line.substring(1).toLong)
      case '+' => SimpleReply(line.substring(1))
      case '-' => throw new java.io.IOException(s"RESP server error: ${line.substring(1)}")
      case '$' =>
        val len = line.substring(1).toInt
        BulkReply(if (len < 0) null else readBulk(in, len))
      case '*' =>
        val n = line.substring(1).toInt
        ArrayReply((0 until math.max(n, 0)).map { _ =>
          val h = readLine(in)
          require(h.charAt(0) == '$', s"RESP: nested non-bulk reply '$h'")
          readBulk(in, h.substring(1).toInt)
        })
      case c => throw new java.io.IOException(s"RESP: unknown reply type '$c'")
    }
  }

  /** SCAN reply: `*2` of [bulk next-cursor, array of bulk keys] — the
    * one nested-array reply shape the client consumes (generic
    * [[readReply]] handles flat arrays only).
    */
  def readScanReply(in: DataInputStream): (String, Seq[Array[Byte]]) = {
    val outer = readLine(in)
    if (outer.startsWith("-"))
      throw new java.io.IOException(s"RESP server error: ${outer.substring(1)}")
    require(outer == "*2", s"SCAN: expected *2 reply, got '$outer'")
    val ch = readLine(in)
    require(ch.charAt(0) == '$', s"SCAN: non-bulk cursor '$ch'")
    val cursor = new String(readBulk(in, ch.substring(1).toInt), UTF_8)
    val ah = readLine(in)
    require(ah.charAt(0) == '*', s"SCAN: non-array key list '$ah'")
    val keys = (0 until ah.substring(1).toInt).map { _ =>
      val h = readLine(in)
      require(h.charAt(0) == '$', s"SCAN: non-bulk key '$h'")
      readBulk(in, h.substring(1).toInt)
    }
    (cursor, keys)
  }

  /** A RESP command: verb + raw argument bytes. */
  def readCommand(in: DataInputStream): Option[Seq[Array[Byte]]] = {
    val first = in.read()
    if (first < 0) return None
    require(first == '*', s"RESP: expected array command, got '${first.toChar}'")
    val n = readLine(in).toInt // rest of the *N line
    Some((0 until n).map { _ =>
      val h = readLine(in)
      require(h.charAt(0) == '$', s"RESP: non-bulk command arg '$h'")
      readBulk(in, h.substring(1).toInt)
    })
  }
}


/** In-process RESP server implementing the command subset the store
  * uses (`PING`, `DEL`, `HSET`, `HGETALL`, `KEYS`, cursor `SCAN`) —
  * the zero-egress stand-in
  * for a Redis endpoint, so [[RespOnlineStore]]'s pipelining, framing,
  * connection pooling and concurrency are exercised over REAL sockets in
  * tests. One thread per accepted connection: the client pool keeps
  * connections persistent and as few as the calls running at once.
  * `commandCount` and `acceptedCount` let tests assert the pipelined
  * command volume and the connections opened; [[closeConnections]] drops
  * every client as a Redis restart or failover does.
  */
class EmbeddedRespServer {
  import Resp._

  // sorted concurrent map: SCAN's stateless cursor pages tailMap(from)
  // in O(log K + batch) per round-trip instead of re-sorting the whole
  // keyspace on every cursor call
  private val data =
    new java.util.concurrent.ConcurrentSkipListMap[String, Map[String, String]]()
  private val server = new ServerSocket()
  server.bind(new InetSocketAddress("127.0.0.1", 0))
  val commandCount = new java.util.concurrent.atomic.AtomicLong()
  val acceptedCount = new java.util.concurrent.atomic.AtomicLong()
  private val connections = ConcurrentHashMap.newKeySet[Socket]()

  def port: Int = server.getLocalPort

  private def str(b: Array[Byte]): String = new String(b, UTF_8)

  private def serve(sock: Socket): Unit = {
    try {
      sock.setTcpNoDelay(true)
      val in = new DataInputStream(new BufferedInputStream(sock.getInputStream, 1 << 16))
      val out = new BufferedOutputStream(sock.getOutputStream, 1 << 16)
      var cmd = readCommand(in)
      while (cmd.isDefined) {
        commandCount.incrementAndGet()
        val args = cmd.get
        // command-VALIDATION failures (unsupported glob, bad COUNT, …)
        // reply -ERR like a real Redis instead of killing the
        // connection — only protocol-FRAMING errors (readCommand /
        // readBulk) abort the stream, where resync is impossible
        try str(args.head).toUpperCase match {
          case "PING" => out.write("+PONG\r\n".getBytes(UTF_8))
          case "DEL" =>
            val removed = args.tail.count(k => data.remove(str(k)) != null)
            out.write(s":$removed\r\n".getBytes(UTF_8))
          case "HSET" =>
            val key = str(args(1))
            val fields = args.drop(2).grouped(2).collect {
              case Seq(f, v) => str(f) -> str(v)
            }.toMap
            var added = 0
            data.compute(key, (_, old) => {
              val prev = if (old == null) Map.empty[String, String] else old
              added = fields.keySet.diff(prev.keySet).size
              prev ++ fields
            })
            out.write(s":$added\r\n".getBytes(UTF_8))
          case "HGETALL" =>
            val m = data.getOrDefault(str(args(1)), Map.empty)
            out.write(s"*${m.size * 2}\r\n".getBytes(UTF_8))
            m.toSeq.sortBy(_._1).foreach { case (f, v) =>
              Seq(f, v).foreach { s =>
                val b = s.getBytes(UTF_8)
                out.write(s"$$${b.length}\r\n".getBytes(UTF_8))
                out.write(b); out.write("\r\n".getBytes(UTF_8))
              }
            }
          case "KEYS" =>
            // glob subset the client uses: a literal prefix + "*"
            val pat = str(args(1))
            require(pat.endsWith("*") && !pat.dropRight(1).contains("*"),
              s"KEYS: only prefix globs supported, got '$pat'")
            val prefix = pat.dropRight(1)
            val ks = {
              import scala.jdk.CollectionConverters._
              data.keySet().asScala.filter(_.startsWith(prefix)).toSeq.sorted
            }
            out.write(s"*${ks.size}\r\n".getBytes(UTF_8))
            ks.foreach { s =>
              val b = s.getBytes(UTF_8)
              out.write(s"$$${b.length}\r\n".getBytes(UTF_8))
              out.write(b); out.write("\r\n".getBytes(UTF_8))
            }
          case "SCAN" =>
            // cursor semantics: "0" starts; otherwise the hex-encoded
            // last key the previous batch returned — stateless on the
            // server (like Redis's reverse-bucket cursor), resilient to
            // concurrent inserts (keys present throughout the whole
            // iteration are always returned; Redis gives no stronger
            // guarantee either). Keys are walked in sorted order so a
            // batch is "the next COUNT keys after the cursor".
            val cursor = str(args(1))
            var prefix = ""
            var count = 10
            var i = 2
            while (i + 1 < args.size) {
              str(args(i)).toUpperCase match {
                case "MATCH" =>
                  val pat = str(args(i + 1))
                  require(pat.endsWith("*") && !pat.dropRight(1).contains("*"),
                    s"SCAN: only prefix globs supported, got '$pat'")
                  prefix = pat.dropRight(1)
                case "COUNT" => count = str(args(i + 1)).toInt
                case other => throw new IllegalArgumentException(
                  s"SCAN: unknown option '$other'")
              }
              i += 2
            }
            // first page seeks straight to the prefix (not ""), and the
            // walk stops at the first key PAST the prefix range
            // (takeWhile, not filter — matching keys are contiguous in
            // sorted order), so a batch never scans the keyspace beyond
            // the last match
            val from = if (cursor == "0") prefix else
              new String(cursor.grouped(2).toArray
                .map(Integer.parseInt(_, 16).toByte), UTF_8)
            val it = {
              import scala.jdk.CollectionConverters._
              data.tailMap(from, /* inclusive = */ cursor == "0")
                .keySet().iterator().asScala.takeWhile(_.startsWith(prefix))
            }
            val page = it.take(count + 1).toSeq
            val batch = page.take(count)
            val next = if (page.size <= count) "0"
              else batch.last.getBytes(UTF_8).map("%02x".format(_)).mkString
            out.write(s"*2\r\n".getBytes(UTF_8))
            val nb = next.getBytes(UTF_8)
            out.write(s"$$${nb.length}\r\n".getBytes(UTF_8))
            out.write(nb); out.write("\r\n".getBytes(UTF_8))
            out.write(s"*${batch.size}\r\n".getBytes(UTF_8))
            batch.foreach { s =>
              val b = s.getBytes(UTF_8)
              out.write(s"$$${b.length}\r\n".getBytes(UTF_8))
              out.write(b); out.write("\r\n".getBytes(UTF_8))
            }
          case other =>
            out.write(s"-ERR unknown command '$other'\r\n".getBytes(UTF_8))
        } catch {
          case e @ (_: IllegalArgumentException | _: NumberFormatException) =>
            // getMessage may be null (e.g. bare NumberFormatException)
            val msg = Option(e.getMessage).getOrElse(e.getClass.getSimpleName)
            out.write(s"-ERR ${msg.replaceAll("[\r\n]", " ")}\r\n"
              .getBytes(UTF_8))
        }
        // flush once the client's pipelined commands are all answered: a
        // batch gets its replies in one write, a lone command at once.
        // Flushing per reply costs a write per reply, and without
        // TCP_NODELAY those small writes stall behind delayed ACKs on a
        // kept-alive connection (Nagle's algorithm).
        if (in.available() == 0) out.flush()
        cmd = readCommand(in)
      }
    } catch {
      case _: java.io.EOFException | _: SocketException => ()
    } finally {
      connections.remove(sock)
      sock.close()
    }
  }

  private val acceptor = new Thread(() => {
    try while (!server.isClosed) {
      val sock = server.accept()
      acceptedCount.incrementAndGet()
      connections.add(sock)
      // stop() may have swept the connections between accept and add;
      // the thread of a socket closed here ends at once
      if (server.isClosed) sock.close()
      val t = new Thread(() => serve(sock), s"resp-conn-$port-${sock.getPort}")
      t.setDaemon(true); t.start()
    } catch { case _: SocketException => () }
  }, "resp-acceptor")
  acceptor.setDaemon(true)
  acceptor.start()

  /** Closes every accepted connection and keeps listening, like a Redis
    * restart or failover: clients must reconnect. */
  def closeConnections(): Unit = connections.forEach(s =>
    try s.close() catch { case _: java.io.IOException => () })

  /** Stops listening, then closes every accepted connection, so no
    * connection thread outlives the server. */
  def stop(): Unit = {
    server.close()
    closeConnections()
  }
}
