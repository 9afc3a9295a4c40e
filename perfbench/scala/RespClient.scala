package perfbench

import java.io.{BufferedInputStream, BufferedOutputStream, EOFException, InputStream}
import java.net.Socket
import java.nio.charset.StandardCharsets.{ISO_8859_1, UTF_8}

/** One RESP2 connection. Replies decode to String (simple and bulk),
  * Long, null, Vector[Any] or [[RespClient.Err]]; a frame that breaks the
  * protocol throws [[RespClient.Malformed]]. */
final class RespClient(port: Int) extends AutoCloseable {
  private val sock = new Socket("127.0.0.1", port)
  sock.setTcpNoDelay(true)
  private val out = new BufferedOutputStream(sock.getOutputStream)
  private val in = new CountingStream(new BufferedInputStream(sock.getInputStream))

  /** Send argv, wait for the reply; returns (reply, reply bytes). An
    * argv element is sent as its ISO-8859-1 bytes when `binary(i)`,
    * UTF-8 otherwise. */
  def call(argv: Seq[String], binary: Int => Boolean = _ => false): (Any, Long) = {
    out.write(s"*${argv.length}\r\n".getBytes(UTF_8))
    argv.zipWithIndex.foreach { case (a, i) =>
      val b = a.getBytes(if (binary(i)) ISO_8859_1 else UTF_8)
      out.write(s"$$${b.length}\r\n".getBytes(UTF_8))
      out.write(b)
      out.write('\r'); out.write('\n')
    }
    out.flush()
    in.count = 0
    val r = RespClient.read(in)
    (r, in.count)
  }

  def close(): Unit = sock.close()
}

object RespClient {
  final case class Err(message: String)
  final class Malformed(msg: String) extends Exception(msg)

  private def line(in: InputStream): String = {
    val sb = new StringBuilder
    var b = in.read()
    while (b >= 0 && b != '\r') { sb.append(b.toChar); b = in.read() }
    if (b < 0) throw new EOFException("EOF inside reply line")
    if (in.read() != '\n') throw new Malformed("reply line without CRLF")
    sb.toString
  }

  private def int(s: String): Long =
    s.toLongOption.getOrElse(throw new Malformed(s"bad length '$s'"))

  def read(in: InputStream): Any = {
    val t = in.read()
    if (t < 0) throw new EOFException("EOF before reply")
    val head = line(in)
    t.toChar match {
      case '+' => head
      case '-' => Err(head)
      case ':' => int(head)
      case '$' =>
        val n = int(head).toInt
        if (n < 0) null
        else {
          val buf = in.readNBytes(n)
          if (buf.length != n) throw new EOFException("EOF inside bulk")
          if (in.read() != '\r' || in.read() != '\n')
            throw new Malformed("bulk without CRLF")
          new String(buf, UTF_8)
        }
      case '*' =>
        val n = int(head).toInt
        if (n < 0) null else Vector.fill(n)(read(in))
      case c => throw new Malformed(s"unknown reply type '$c'")
    }
  }
}

private final class CountingStream(in: InputStream) extends InputStream {
  var count = 0L
  override def read(): Int = { val b = in.read(); if (b >= 0) count += 1; b }
  override def read(b: Array[Byte], off: Int, len: Int): Int = {
    val n = in.read(b, off, len); if (n > 0) count += n; n
  }
}
