package enginebench

import java.io.{BufferedInputStream, BufferedOutputStream, ByteArrayOutputStream}
import java.net.{InetSocketAddress, Socket}
import java.nio.charset.StandardCharsets.ISO_8859_1

/** A minimal HTTP/1.1 client holding ONE keep-alive connection, so
  * each load thread owns exactly one socket and pays no pool or
  * executor overhead of its own. Not thread-safe: one per thread.
  */
final class Http(port: Int, timeoutMs: Int = 60000) extends AutoCloseable {
  private var sock: Socket = _
  private var in: BufferedInputStream = _
  private var out: BufferedOutputStream = _

  private def connect(): Unit = {
    sock = new Socket()
    sock.setTcpNoDelay(true)
    sock.setSoTimeout(timeoutMs)
    sock.connect(new InetSocketAddress("127.0.0.1", port), timeoutMs)
    in = new BufferedInputStream(sock.getInputStream, 1 << 16)
    out = new BufferedOutputStream(sock.getOutputStream, 1 << 16)
  }

  /** POST `body` (GET when null); returns (status, response body). */
  def call(path: String, body: Array[Byte]): (Int, Array[Byte]) = {
    if (sock == null) connect()
    val method = if (body == null) "GET" else "POST"
    val len = if (body == null) 0 else body.length
    out.write(s"$method $path HTTP/1.1\r\nHost: 127.0.0.1\r\n".getBytes(ISO_8859_1))
    out.write(s"Content-Type: application/json\r\nContent-Length: $len\r\n\r\n"
      .getBytes(ISO_8859_1))
    if (body != null) out.write(body)
    out.flush()
    val status = line().split(' ')(1).toInt
    var length = -1
    var chunked = false
    var close = false
    var h = line()
    while (h.nonEmpty) {
      val i = h.indexOf(':')
      val k = h.substring(0, i).trim.toLowerCase
      val v = h.substring(i + 1).trim
      if (k == "content-length") length = v.toInt
      if (k == "transfer-encoding" && v.equalsIgnoreCase("chunked")) chunked = true
      if (k == "connection" && v.equalsIgnoreCase("close")) close = true
      h = line()
    }
    val resp =
      if (chunked) {
        val acc = new ByteArrayOutputStream
        var n = Integer.parseInt(line().split(';')(0).trim, 16)
        while (n > 0) {
          acc.write(in.readNBytes(n))
          line()
          n = Integer.parseInt(line().split(';')(0).trim, 16)
        }
        line()
        acc.toByteArray
      } else if (length >= 0) in.readNBytes(length)
      else { close = true; in.readAllBytes() }
    if (close) shut()
    (status, resp)
  }

  private def line(): String = {
    val sb = new java.lang.StringBuilder
    var c = in.read()
    while (c != '\n') {
      if (c < 0) throw new java.io.EOFException("connection closed")
      if (c != '\r') sb.append(c.toChar)
      c = in.read()
    }
    sb.toString
  }

  private def shut(): Unit = {
    if (sock != null) try sock.close() catch { case _: Exception => () }
    sock = null
  }

  /** Drop the connection after a failure; the next call reconnects. */
  def reset(): Unit = shut()
  def close(): Unit = shut()
}
