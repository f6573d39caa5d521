package graft.perfbench

import java.io.{BufferedInputStream, BufferedOutputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream, EOFException}
import java.net.{InetSocketAddress, Socket}
import java.nio.charset.StandardCharsets.UTF_8

import scala.collection.mutable.ArrayBuffer

/**
 * Minimal PostgreSQL wire-protocol v3 client: startup, cleartext
 * password auth and the simple-query ('Q') cycle. It reads
 * RowDescription, DataRow, CommandComplete, ErrorResponse and
 * ReadyForQuery and skips every other backend message. Results stay in
 * text format, exactly as the server rendered them.
 */
final class PgClient(host: String, port: Int, connectTimeoutMs: Int = 10000) extends AutoCloseable {
  private val sock = new Socket()
  sock.setTcpNoDelay(true)
  sock.connect(new InetSocketAddress(host, port), connectTimeoutMs)
  private val in = new DataInputStream(new BufferedInputStream(sock.getInputStream, 1 << 16))
  private val out = new DataOutputStream(new BufferedOutputStream(sock.getOutputStream, 1 << 16))

  /** Bytes of backend messages read so far (headers included). */
  var bytesIn: Long = 0L

  private def readMessage(): (Char, Array[Byte]) = {
    val t = in.read()
    if (t < 0) throw new EOFException("server closed the connection")
    val len = in.readInt()
    if (len < 4) throw new IllegalStateException(s"bad frame length $len")
    val body = new Array[Byte](len - 4)
    in.readFully(body)
    bytesIn += len + 1
    (t.toChar, body)
  }

  private def cstr(o: DataOutputStream, s: String): Unit = { o.write(s.getBytes(UTF_8)); o.writeByte(0) }

  private def frame(tag: Char)(body: DataOutputStream => Unit): Unit = {
    val buf = new ByteArrayOutputStream()
    body(new DataOutputStream(buf))
    out.writeByte(tag)
    out.writeInt(buf.size() + 4)
    buf.writeTo(out)
  }

  /** Startup + cleartext auth; returns the server's ParameterStatus map.
    * Throws on an ErrorResponse. */
  def login(user: String, password: String): Map[String, String] = {
    val buf = new ByteArrayOutputStream()
    val o = new DataOutputStream(buf)
    o.writeInt(196608) // protocol 3.0
    cstr(o, "user"); cstr(o, user)
    cstr(o, "database"); cstr(o, "graft")
    o.writeByte(0)
    out.writeInt(buf.size() + 4)
    buf.writeTo(out)
    out.flush()
    var params = Map.empty[String, String]
    var ready = false
    while (!ready) {
      val (tag, body) = readMessage()
      tag match {
        case 'R' =>
          val code = java.nio.ByteBuffer.wrap(body).getInt
          if (code == 3) { frame('p')(cstr(_, password)); out.flush() }
          else if (code != 0) throw new IllegalStateException(s"unsupported auth request $code")
        case 'S' =>
          val parts = new String(body, UTF_8).split('\u0000')
          if (parts.length >= 2) params += parts(0) -> parts(1)
        case 'E' => throw new IllegalStateException("login refused: " + PgClient.errorText(body))
        case 'Z' => ready = true
        case _ => ()
      }
    }
    params
  }

  /** Send one simple query and read to ReadyForQuery. */
  def query(sql: String): PgClient.Result = {
    val b0 = bytesIn
    val t0 = System.nanoTime()
    frame('Q')(cstr(_, sql))
    out.flush()
    val fields = ArrayBuffer.empty[(String, Int)]
    val rows = ArrayBuffer.empty[IndexedSeq[String]]
    val tags = ArrayBuffer.empty[String]
    val errors = ArrayBuffer.empty[String]
    var firstFrameNs = -1L // first DataRow or CommandComplete
    var done = false
    while (!done) {
      val (tag, body) = readMessage()
      tag match {
        case 'T' =>
          fields.clear()
          val bb = java.nio.ByteBuffer.wrap(body)
          val n = bb.getShort
          var i = 0
          var p = 2
          while (i < n) {
            var e = p
            while (body(e) != 0) e += 1
            val name = new String(body, p, e - p, UTF_8)
            val oid = java.nio.ByteBuffer.wrap(body, e + 1 + 6, 4).getInt
            fields += name -> oid
            p = e + 1 + 18
            i += 1
          }
        case 'D' =>
          if (firstFrameNs < 0) firstFrameNs = System.nanoTime()
          val bb = java.nio.ByteBuffer.wrap(body)
          val n = bb.getShort
          val row = new Array[String](n)
          var i = 0
          while (i < n) {
            val len = bb.getInt
            if (len >= 0) {
              row(i) = new String(body, bb.position(), len, UTF_8)
              bb.position(bb.position() + len)
            }
            i += 1
          }
          rows += row.toIndexedSeq
        case 'C' =>
          if (firstFrameNs < 0) firstFrameNs = System.nanoTime()
          tags += new String(body, 0, math.max(0, body.length - 1), UTF_8)
        case 'E' =>
          if (firstFrameNs < 0) firstFrameNs = System.nanoTime()
          errors += PgClient.errorText(body)
        case 'Z' => done = true
        case _ => () // NoticeResponse, ParameterStatus, EmptyQueryResponse
      }
    }
    val t2 = System.nanoTime()
    PgClient.Result(fields.toSeq, rows.toSeq, tags.toSeq, errors.toSeq,
      startNs = t0, firstFrameNs = if (firstFrameNs < 0) t2 else firstFrameNs, endNs = t2,
      bytes = bytesIn - b0)
  }

  override def close(): Unit = {
    try { frame('X')(_ => ()); out.flush() } catch { case _: java.io.IOException => () }
    sock.close()
  }
}

object PgClient {
  final case class Result(
      fields: Seq[(String, Int)],
      rows: Seq[IndexedSeq[String]],
      tags: Seq[String],
      errors: Seq[String],
      startNs: Long,
      firstFrameNs: Long,
      endNs: Long,
      bytes: Long) {
    def ok: Boolean = errors.isEmpty
    def wallMs: Double = (endNs - startNs) / 1e6
  }

  /** The 'M' (message) field of an ErrorResponse body. */
  def errorText(body: Array[Byte]): String = {
    var i = 0
    var msg = ""
    while (i < body.length && body(i) != 0) {
      val code = body(i).toChar
      var e = i + 1
      while (e < body.length && body(e) != 0) e += 1
      if (code == 'M') msg = new String(body, i + 1, e - i - 1, UTF_8)
      i = e + 1
    }
    msg
  }
}
