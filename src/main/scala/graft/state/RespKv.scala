package graft.state

import java.io.{BufferedInputStream, BufferedOutputStream, EOFException, InputStream, OutputStream}
import java.net.{InetAddress, ServerSocket, Socket}
import java.nio.charset.StandardCharsets.US_ASCII

import scala.collection.mutable

/** Redis-protocol (RESP2) adapter for the [[KvClient]] seam — the
  * network-client role the reference's RedisStateStoreProvider plays
  * (reference RedisStateStoreProvider.scala:52-157), with no client jar:
  * the wire protocol is ~200 lines of pure JVM, so the offline build can
  * exercise a REAL socket round-trip instead of only the in-JVM map.
  *
  * [[RespKvClient]] speaks the same command set a Jedis-driven provider
  * would — GET, MGET (one round trip per 512 keys) for point reads and
  * key-index reads, MULTI/SET/DEL/EXEC for transactional batches
  * (reference RedisStateStoreProvider.scala:100-133 uses pipelined MULTI
  * the same way). [[KvSessionBackend]] needs nothing else: it names every
  * key it touches through per-version key indexes. Cursor-looped SCAN
  * MATCH + MGET (prefix iteration) and SCAN + DEL (prefix deletion, which
  * Redis has no native form of) remain for callers that address data by
  * prefix. Point it at a real Redis and it works; point it at
  * [[RespKvServer]] and the offline suites gate the full protocol path.
  *
  * [[RespKvServer]] serves the [[EmbeddedKvServer]] keyspace over a
  * localhost socket: binary-safe bulk strings, per-connection MULTI
  * queues applied atomically on EXEC (last-write-per-key in queue order),
  * and glob patterns restricted to the escaped-literal-prefix + trailing
  * `*` form the client emits.
  */
object Resp {
  private[state] val Crlf = Array[Byte]('\r', '\n')

  /** Glob-escape arbitrary key bytes for a MATCH pattern: `\ * ? [ ]`
    * get a backslash so binary prefixes (UnsafeRow bytes) survive.
    */
  def escapeGlob(prefix: Array[Byte]): Array[Byte] = {
    val out = mutable.ArrayBuilder.make[Byte]
    out.sizeHint(prefix.length + 4)
    prefix.foreach { b =>
      if (b == '\\' || b == '*' || b == '?' || b == '[' || b == ']') out += '\\'
      out += b
    }
    out.result()
  }

  /** Inverse of [[escapeGlob]] + trailing `*`: returns the literal prefix
    * or throws on glob features the server doesn't implement.
    */
  def unescapeGlobPrefix(pattern: Array[Byte]): Array[Byte] = {
    val out = mutable.ArrayBuilder.make[Byte]
    var i = 0
    while (i < pattern.length) {
      val b = pattern(i)
      if (b == '\\') {
        require(i + 1 < pattern.length, "dangling escape in MATCH pattern")
        out += pattern(i + 1); i += 2
      } else if (b == '*') {
        require(i == pattern.length - 1,
          "only a trailing * is supported in MATCH patterns")
        i += 1
      } else {
        require(b != '?' && b != '[',
          "glob classes are not supported in MATCH patterns")
        out += b; i += 1
      }
    }
    out.result()
  }

  // --- wire encoding -----------------------------------------------------

  def writeCommand(out: OutputStream, args: Array[Byte]*): Unit = {
    out.write(s"*${args.length}\r\n".getBytes(US_ASCII))
    args.foreach { a =>
      out.write(s"$$${a.length}\r\n".getBytes(US_ASCII))
      out.write(a); out.write(Crlf)
    }
  }

  sealed trait Reply
  final case class SimpleStr(s: String) extends Reply
  final case class Err(msg: String) extends Reply
  final case class IntRep(n: Long) extends Reply
  final case class Bulk(bytes: Array[Byte]) extends Reply // bytes == null => nil
  final case class ArrayRep(items: Seq[Reply]) extends Reply

  def readReply(in: InputStream): Reply = {
    val t = in.read()
    if (t < 0) throw new EOFException("connection closed mid-reply")
    t.toChar match {
      case '+' => SimpleStr(readLine(in))
      case '-' => Err(readLine(in))
      case ':' => IntRep(readLine(in).toLong)
      case '$' =>
        val n = readLine(in).toInt
        if (n < 0) Bulk(null)
        else { val b = readFully(in, n); skipCrlf(in); Bulk(b) }
      case '*' =>
        val n = readLine(in).toInt
        if (n < 0) ArrayRep(null)
        else ArrayRep(Seq.fill(n)(readReply(in)))
      case c => throw new IllegalStateException(s"bad RESP type byte '$c'")
    }
  }

  private def readLine(in: InputStream): String = {
    val sb = new StringBuilder
    var b = in.read()
    while (b != '\r') {
      if (b < 0) throw new EOFException("connection closed mid-line")
      sb.append(b.toChar); b = in.read()
    }
    require(in.read() == '\n', "CR not followed by LF")
    sb.toString
  }

  private def readFully(in: InputStream, n: Int): Array[Byte] = {
    val buf = new Array[Byte](n)
    var off = 0
    while (off < n) {
      val r = in.read(buf, off, n - off)
      if (r < 0) throw new EOFException("connection closed mid-bulk")
      off += r
    }
    buf
  }

  private def skipCrlf(in: InputStream): Unit = {
    require(in.read() == '\r' && in.read() == '\n', "bulk not CRLF-terminated")
  }
}

/** [[KvClient]] over a RESP socket. All operations serialize on the one
  * connection (the session backends already serialize their own access;
  * the lock makes the adapter safe for incidental sharing). Prefix scans
  * materialize the key list client-side — matching the reference Redis
  * provider's iteration shape.
  */
final class RespKvClient(host: String, port: Int) extends KvClient {
  import Resp._

  private val socket = new Socket(InetAddress.getByName(host), port)
  socket.setTcpNoDelay(true)
  private val in = new BufferedInputStream(socket.getInputStream, 1 << 16)
  private val out = new BufferedOutputStream(socket.getOutputStream, 1 << 16)
  private val MgetChunk = 512

  private def fail(r: Reply): Nothing = r match {
    case Err(m) => throw new IllegalStateException(s"RESP server error: $m")
    case other => throw new IllegalStateException(s"unexpected RESP reply: $other")
  }

  def get(key: Array[Byte]): Array[Byte] = synchronized {
    writeCommand(out, "GET".getBytes(US_ASCII), key); out.flush()
    readReply(in) match {
      case Bulk(b) => b
      case r => fail(r)
    }
  }

  override def mget(keys: Seq[Array[Byte]]): Seq[Array[Byte]] = synchronized {
    keys.grouped(MgetChunk).flatMap { chunk =>
      writeCommand(out, "MGET".getBytes(US_ASCII) +: chunk: _*)
      out.flush()
      readReply(in) match {
        case ArrayRep(vals) if vals != null && vals.size == chunk.size =>
          vals.map { case Bulk(v) => v; case r => fail(r) }
        case r => fail(r)
      }
    }.toVector
  }

  def writeBatch(puts: Seq[(Array[Byte], Array[Byte])], deletes: Seq[Array[Byte]]): Unit =
    synchronized {
      // pipelined MULTI .. EXEC: write everything, then drain the QUEUED
      // acks and the EXEC array in one pass
      writeCommand(out, "MULTI".getBytes(US_ASCII))
      puts.foreach { case (k, v) =>
        writeCommand(out, "SET".getBytes(US_ASCII), k, v)
      }
      deletes.foreach(k => writeCommand(out, "DEL".getBytes(US_ASCII), k))
      writeCommand(out, "EXEC".getBytes(US_ASCII))
      out.flush()
      val n = puts.size + deletes.size
      (0 to n).foreach { _ =>
        readReply(in) match {
          case Err(m) => throw new IllegalStateException(s"RESP server error: $m")
          case _ => ()
        }
      }
      readReply(in) match {
        case ArrayRep(items) if items != null => () // null array = aborted tx
        case r => fail(r)
      }
    }

  private def scanKeys(prefix: Array[Byte]): List[Array[Byte]] = {
    val pattern = escapeGlob(prefix) ++ Array[Byte]('*')
    val keys = List.newBuilder[Array[Byte]]
    var cursor = "0".getBytes(US_ASCII)
    var first = true
    while (first || !java.util.Arrays.equals(cursor, "0".getBytes(US_ASCII))) {
      first = false
      writeCommand(out, "SCAN".getBytes(US_ASCII), cursor,
        "MATCH".getBytes(US_ASCII), pattern,
        "COUNT".getBytes(US_ASCII), "1000".getBytes(US_ASCII))
      out.flush()
      readReply(in) match {
        case ArrayRep(Seq(Bulk(next), ArrayRep(ks))) =>
          cursor = next
          ks.foreach { case Bulk(k) => keys += k; case r => fail(r) }
        case r => fail(r)
      }
    }
    keys.result()
  }

  def scanPrefix(prefix: Array[Byte]): Iterator[(Array[Byte], Array[Byte])] = synchronized {
    val keys = scanKeys(prefix)
    // a key deleted between SCAN and MGET comes back nil — drop it,
    // exactly what a live-Redis client has to do
    keys.iterator.zip(mget(keys).iterator).filter(_._2 != null)
  }

  def deletePrefix(prefix: Array[Byte]): Unit = synchronized {
    scanKeys(prefix).grouped(MgetChunk).foreach { chunk =>
      writeCommand(out, "DEL".getBytes(US_ASCII) +: chunk: _*)
      out.flush()
      readReply(in) match {
        case IntRep(_) => ()
        case r => fail(r)
      }
    }
  }

  def close(): Unit = synchronized {
    try socket.close() catch { case _: java.io.IOException => () }
  }
}

/** Localhost RESP2 server over an [[EmbeddedKvServer]] namespace — the
  * stand-in for the Redis server the reference provider assumes is
  * running. Thread-per-connection; per-connection MULTI queue; EXEC
  * collapses the queue last-write-per-key (so arbitrary SET/DEL
  * interleavings on one key resolve in queue order) and applies it as one
  * atomic writeBatch.
  */
object RespKvServer {
  import Resp._

  final class Handle(server: ServerSocket, acceptor: Thread) {
    def port: Int = server.getLocalPort
    def close(): Unit = try server.close() catch { case _: java.io.IOException => () }
  }

  /** Lazily-started shared in-process server over the "default" namespace
    * (same data plane as direct `EmbeddedKvServer.client("default")`
    * callers — one logical external server per JVM, like one Redis per
    * deployment). Each call returns a fresh connected client; callers
    * close their client, the daemon server lives for the JVM.
    */
  lazy val sharedEmbedded: Handle = start("default")

  def newSharedClient(): RespKvClient =
    new RespKvClient("127.0.0.1", sharedEmbedded.port)

  def start(namespace: String, port: Int = 0): Handle = {
    val backing = EmbeddedKvServer.client(namespace)
    val server = new ServerSocket(port, 64, InetAddress.getByName("127.0.0.1"))
    val acceptor = new Thread(() => {
      try {
        while (!server.isClosed) {
          val sock = server.accept()
          val t = new Thread(() => serve(sock, backing), "resp-kv-conn")
          t.setDaemon(true)
          t.start()
        }
      } catch { case _: java.io.IOException => () } // server closed
    }, "resp-kv-accept")
    acceptor.setDaemon(true)
    acceptor.start()
    new Handle(server, acceptor)
  }

  private def serve(sock: Socket, backing: KvClient): Unit = {
    sock.setTcpNoDelay(true)
    val in = new BufferedInputStream(sock.getInputStream, 1 << 16)
    val out = new BufferedOutputStream(sock.getOutputStream, 1 << 16)
    // MULTI queue in arrival order: Right((k, v)) = SET, Left(keys) = DEL —
    // one entry per queued COMMAND so the EXEC reply count matches what a
    // real Redis sends; the applied write collapses last-write-per-key
    var multi: mutable.ArrayBuffer[Either[Seq[Array[Byte]], (Array[Byte], Array[Byte])]] = null
    def reply(s: String): Unit = out.write(s.getBytes(US_ASCII))
    def replyBulk(b: Array[Byte]): Unit =
      if (b == null) reply("$-1\r\n")
      else { reply(s"$$${b.length}\r\n"); out.write(b); out.write(Crlf) }
    try {
      while (true) {
        val cmd = readReply(in) match {
          case ArrayRep(items) => items.map {
            case Bulk(b) => b
            case r => throw new IllegalStateException(s"non-bulk command arg: $r")
          }
          case r => throw new IllegalStateException(s"command must be an array: $r")
        }
        val name = new String(cmd.head, US_ASCII).toUpperCase
        name match {
          case "PING" => reply("+PONG\r\n")
          case "GET" => replyBulk(backing.get(cmd(1)))
          case "MULTI" =>
            multi = mutable.ArrayBuffer.empty; reply("+OK\r\n")
          case "DISCARD" => multi = null; reply("+OK\r\n")
          case "SET" =>
            if (multi != null) { multi += Right(cmd(1) -> cmd(2)); reply("+QUEUED\r\n") }
            else {
              backing.writeBatch(Seq(cmd(1) -> cmd(2)), Nil); reply("+OK\r\n")
            }
          case "DEL" =>
            if (multi != null) { multi += Left(cmd.tail.toSeq); reply("+QUEUED\r\n") }
            else {
              backing.writeBatch(Nil, cmd.tail); reply(s":${cmd.tail.size}\r\n")
            }
          case "EXEC" =>
            val q = multi; multi = null
            if (q == null) reply("-ERR EXEC without MULTI\r\n")
            else {
              val fold = mutable.LinkedHashMap.empty[BytesKey, Option[Array[Byte]]]
              q.foreach {
                case Right((k, v)) =>
                  fold.remove(new BytesKey(k)); fold.put(new BytesKey(k), Some(v))
                case Left(keys) => keys.foreach { k =>
                  fold.remove(new BytesKey(k)); fold.put(new BytesKey(k), None)
                }
              }
              backing.writeBatch(
                fold.collect { case (k, Some(v)) => k.bytes -> v }.toSeq,
                fold.collect { case (k, None) => k.bytes }.toSeq)
              reply(s"*${q.size}\r\n")
              q.foreach {
                case Right(_) => reply("+OK\r\n")
                case Left(keys) => reply(s":${keys.size}\r\n")
              }
            }
          case "SCAN" =>
            // args: cursor [MATCH pat] [COUNT n] — full sweep in one
            // batch, terminal cursor 0 (valid RESP; clients still loop)
            var pat: Array[Byte] = Array.emptyByteArray
            var i = 2
            while (i < cmd.length) {
              new String(cmd(i), US_ASCII).toUpperCase match {
                case "MATCH" => pat = cmd(i + 1); i += 2
                case "COUNT" => i += 2
                case other => throw new IllegalStateException(s"bad SCAN arg $other")
              }
            }
            val prefix = unescapeGlobPrefix(pat)
            val keys = backing.scanPrefix(prefix).map(_._1).toList
            reply("*2\r\n"); replyBulk("0".getBytes(US_ASCII))
            reply(s"*${keys.size}\r\n"); keys.foreach(replyBulk)
          case "MGET" =>
            reply(s"*${cmd.tail.size}\r\n")
            cmd.tail.foreach(k => replyBulk(backing.get(k)))
          case other => reply(s"-ERR unknown command '$other'\r\n")
        }
        out.flush()
      }
    } catch {
      case _: EOFException | _: java.io.IOException => () // client gone
    } finally {
      try sock.close() catch { case _: java.io.IOException => () }
    }
  }
}
