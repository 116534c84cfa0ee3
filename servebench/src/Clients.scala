package servebench

import java.io.{BufferedInputStream, BufferedOutputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream, EOFException}
import java.net.Socket
import java.nio.charset.StandardCharsets.{US_ASCII, UTF_8}
import java.util.concurrent.{CompletableFuture, TimeUnit}

import io.netty.bootstrap.Bootstrap
import io.netty.buffer.Unpooled
import io.netty.channel.{Channel, ChannelHandlerContext, ChannelInitializer, MultiThreadIoEventLoopGroup, SimpleChannelInboundHandler}
import io.netty.channel.nio.NioIoHandler
import io.netty.channel.socket.SocketChannel
import io.netty.channel.socket.nio.NioSocketChannel
import io.netty.handler.codec.http2.{DefaultHttp2DataFrame, DefaultHttp2Headers, DefaultHttp2HeadersFrame, Http2DataFrame, Http2FrameCodecBuilder, Http2HeadersFrame, Http2MultiplexHandler, Http2StreamChannelBootstrap}

/** A response as a client saw it. */
final case class Resp(status: Int, body: Array[Byte])

/** HTTP/1.1 keep-alive client on one socket: no client library and no extra
  * thread between the benchmark and the wire. */
final class H1Client(port: Int) extends AutoCloseable {
  private val sock = new Socket("127.0.0.1", port)
  sock.setTcpNoDelay(true)
  private val in = new BufferedInputStream(sock.getInputStream, 1 << 16)
  private val out = new BufferedOutputStream(sock.getOutputStream, 1 << 14)

  def send(method: String, target: String, accept: String, body: Array[Byte]): Resp = {
    val head = new StringBuilder(s"$method $target HTTP/1.1\r\nHost: 127.0.0.1\r\nAccept: $accept\r\n")
    if (body != null) head ++= s"Content-Type: text/plain\r\nContent-Length: ${body.length}\r\n"
    head ++= "\r\n"
    out.write(head.toString.getBytes(US_ASCII))
    if (body != null) out.write(body)
    out.flush()
    val status = readLine().split(' ')(1).toInt
    var len = -1
    var chunked = false
    var line = readLine()
    while (line.nonEmpty) {
      val i = line.indexOf(':')
      val k = line.substring(0, i).trim.toLowerCase
      val v = line.substring(i + 1).trim
      if (k == "content-length") len = v.toInt
      if (k == "transfer-encoding" && v.toLowerCase.contains("chunked")) chunked = true
      line = readLine()
    }
    Resp(status, if (chunked) readChunked() else readN(math.max(len, 0)))
  }

  private def readLine(): String = {
    val sb = new StringBuilder
    var c = in.read()
    while (c != '\n') {
      if (c < 0) throw new EOFException("server closed the connection")
      if (c != '\r') sb += c.toChar
      c = in.read()
    }
    sb.result()
  }

  private def readN(n: Int): Array[Byte] = {
    val b = new Array[Byte](n)
    var off = 0
    while (off < n) {
      val r = in.read(b, off, n - off)
      if (r < 0) throw new EOFException("server closed the connection")
      off += r
    }
    b
  }

  private def readChunked(): Array[Byte] = {
    val bo = new ByteArrayOutputStream()
    var size = Integer.parseInt(readLine().split(';')(0).trim, 16)
    while (size > 0) {
      bo.write(readN(size))
      readLine()
      size = Integer.parseInt(readLine().split(';')(0).trim, 16)
    }
    while (readLine().nonEmpty) () // trailers
    bo.toByteArray
  }

  def close(): Unit = sock.close()
}

/** One HTTP/2 prior-knowledge connection (h2c), one stream per call, on a
  * single event-loop thread. Serves both the h2c HTTP face and gRPC. */
final class H2Conn(port: Int) extends AutoCloseable {
  final case class H2Resp(headers: Map[String, String], body: Array[Byte])

  private val group = new MultiThreadIoEventLoopGroup(1, NioIoHandler.newFactory())
  private val channel: Channel = new Bootstrap().group(group)
    .channel(classOf[NioSocketChannel])
    .option(io.netty.channel.ChannelOption.TCP_NODELAY, java.lang.Boolean.TRUE)
    .handler(new ChannelInitializer[SocketChannel] {
      override def initChannel(ch: SocketChannel): Unit = {
        ch.pipeline().addLast(Http2FrameCodecBuilder.forClient().build(),
          new Http2MultiplexHandler(new ChannelInitializer[Channel] {
            override def initChannel(ch: Channel): Unit = ()
          }))
        ()
      }
    }).connect("127.0.0.1", port).sync().channel()

  def call(method: String, path: String, headers: Seq[(String, String)],
           body: Array[Byte]): H2Resp = {
    val done = new CompletableFuture[H2Resp]()
    val collector = new SimpleChannelInboundHandler[AnyRef] {
      private val hs = scala.collection.mutable.Map[String, String]()
      private val buf = new ByteArrayOutputStream()
      private def finish(): Unit = { done.complete(H2Resp(hs.toMap, buf.toByteArray)); () }
      override def channelRead0(ctx: ChannelHandlerContext, msg: AnyRef): Unit = msg match {
        case h: Http2HeadersFrame =>
          h.headers().forEach(e => hs.put(String.valueOf(e.getKey), String.valueOf(e.getValue)))
          if (h.isEndStream) finish()
        case d: Http2DataFrame =>
          val chunk = new Array[Byte](d.content().readableBytes())
          d.content().readBytes(chunk)
          buf.write(chunk)
          if (d.isEndStream) finish()
        case _ => ()
      }
      override def exceptionCaught(ctx: ChannelHandlerContext, cause: Throwable): Unit = {
        done.completeExceptionally(cause); ()
      }
      override def channelInactive(ctx: ChannelHandlerContext): Unit = {
        done.completeExceptionally(new EOFException("h2 stream closed")); ()
      }
    }
    val stream = new Http2StreamChannelBootstrap(channel).handler(collector).open().sync().getNow
    val h = new DefaultHttp2Headers().method(method).scheme("http")
      .authority(s"127.0.0.1:$port").path(path)
    headers.foreach { case (k, v) => h.set(k, v) }
    if (body == null) stream.writeAndFlush(new DefaultHttp2HeadersFrame(h, true))
    else {
      stream.write(new DefaultHttp2HeadersFrame(h, false))
      stream.writeAndFlush(new DefaultHttp2DataFrame(Unpooled.wrappedBuffer(body), true))
    }
    done.get(120, TimeUnit.SECONDS)
  }

  def send(method: String, target: String, accept: String, body: Array[Byte]): Resp = {
    val r = call(method, target, Seq("accept" -> accept), body)
    Resp(r.headers.getOrElse(":status", "0").toInt, r.body)
  }

  def close(): Unit = {
    channel.close().sync()
    group.shutdownGracefully(0, 100, TimeUnit.MILLISECONDS).sync()
    ()
  }
}

/** Flight SQL statement client over gRPC on an [[H2Conn]]: GetFlightInfo for
  * a CommandStatementQuery, then DoGet its ticket; returns the Arrow IPC
  * stream. */
final class FlightClient(conn: H2Conn) {
  import graft.server.flight.FlightProto._

  private def grpc(method: String, msg: Array[Byte]): Seq[Array[Byte]] = {
    val framed = java.nio.ByteBuffer.allocate(5 + msg.length)
    framed.put(0.toByte).putInt(msg.length).put(msg)
    val r = conn.call("POST", "/arrow.flight.protocol.FlightService/" + method,
      Seq("content-type" -> "application/grpc+proto", "te" -> "trailers"), framed.array())
    val status = r.headers.getOrElse("grpc-status", "-1")
    if (status != "0")
      throw new IllegalStateException(s"flight $method: grpc-status $status " +
        java.net.URLDecoder.decode(r.headers.getOrElse("grpc-message", ""), "UTF-8"))
    val msgs = Seq.newBuilder[Array[Byte]]
    var off = 0
    while (off + 5 <= r.body.length) {
      val len = java.nio.ByteBuffer.wrap(r.body, off + 1, 4).getInt
      msgs += java.util.Arrays.copyOfRange(r.body, off + 5, off + 5 + len)
      off += 5 + len
    }
    msgs.result()
  }

  def query(sql: String): Array[Byte] = {
    val desc = FlightDescriptor.cmd(
      AnyMsg(CommandStatementQuery.Url, CommandStatementQuery(sql).encode).encode)
    val info = FlightInfo.parse(grpc("GetFlightInfo", desc.encode).head)
    val frames = grpc("DoGet", info.ticket.encode)
    graft.server.flight.ArrowIpcFrames.reassemble(frames.map(FlightData.parse))
  }
}

/** Postgres wire client, simple-query protocol, text results. */
final class PgClient(port: Int) extends AutoCloseable {
  private val sock = new Socket("127.0.0.1", port)
  sock.setTcpNoDelay(true)
  private val in = new DataInputStream(new BufferedInputStream(sock.getInputStream, 1 << 16))
  private val out = new DataOutputStream(new BufferedOutputStream(sock.getOutputStream))

  {
    val params = "user\u0000bench\u0000database\u0000graft\u0000\u0000".getBytes(UTF_8)
    out.writeInt(8 + params.length)
    out.writeInt(196608)
    out.write(params)
    out.flush()
    drain()
  }

  /** Rows of the query as text cells (null = SQL NULL). */
  def query(sql: String): Seq[Seq[String]] = {
    val b = (sql + "\u0000").getBytes(UTF_8)
    out.writeByte('Q')
    out.writeInt(4 + b.length)
    out.write(b)
    out.flush()
    drain()
  }

  private def drain(): Seq[Seq[String]] = {
    val rows = Seq.newBuilder[Seq[String]]
    var error: String = null
    var ready = false
    while (!ready) {
      val tag = in.read()
      if (tag < 0) throw new EOFException("pg server closed the connection")
      val body = new Array[Byte](in.readInt() - 4)
      in.readFully(body)
      tag.toChar match {
        case 'D' =>
          val bb = java.nio.ByteBuffer.wrap(body)
          rows += (0 until bb.getShort.toInt).map { _ =>
            val n = bb.getInt
            if (n < 0) null
            else { val s = new String(body, bb.position(), n, UTF_8); bb.position(bb.position() + n); s }
          }
        case 'E' => error = new String(body, UTF_8).replace('\u0000', ' ').trim
        case 'Z' => ready = true
        case _ => ()
      }
    }
    if (error != null) throw new IllegalStateException("pg error: " + error)
    rows.result()
  }

  def close(): Unit = {
    try { out.writeByte('X'); out.writeInt(4); out.flush() } catch { case _: Throwable => () }
    sock.close()
  }
}
