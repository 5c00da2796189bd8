package graft.service

import java.io.{BufferedInputStream, BufferedOutputStream, DataInputStream, DataOutputStream}
import java.net.{InetAddress, ServerSocket, Socket}
import java.nio.charset.StandardCharsets

import scala.util.control.NonFatal

/** Minimal socket transport for the service (SURVEY §2.A A1: the reference
  * boots a tonic gRPC server, service.rs:109-131; no gRPC/arrow-flight jars
  * exist offline, so the wire here is a simple length-prefixed frame
  * protocol — the service semantics stay identical and the tickets/handles
  * on the wire are the protobuf-compatible ones).
  *
  * Request:  opcode(1B) + u32 len + payload.
  * Response: status(1B: 0 ok / 1 error) + frames, each u32 len + bytes,
  *           terminated by len = -1. DoGet responses stream one frame per
  *           Arrow IPC chunk as the result materializes (incremental
  *           delivery, service.rs:230-236).
  */
object Transport {
  val OpGetFlightInfoStatement: Byte = 1
  val OpDoGet: Byte = 2
  val OpCreatePreparedStatement: Byte = 3
  val OpHandshake: Byte = 4
}

final class SocketServer(service: FlightSqlService, host: String = "127.0.0.1") {
  import Transport._

  /** Largest request payload accepted; a longer length prefix is refused. */
  private val MaxRequestBytes = 64 << 20

  @volatile private var serverSocket: ServerSocket = _
  @volatile private var running = false

  /** Bind an ephemeral port and serve until stop(); returns the port
    * (serve_with_listener analog).
    */
  def start(): Int = {
    serverSocket = new ServerSocket(0, 16, InetAddress.getByName(host))
    running = true
    val acceptor = new Thread(() => {
      while (running) {
        try {
          val socket = serverSocket.accept()
          val worker = new Thread(() => handle(socket), "graft-flight-worker")
          worker.setDaemon(true)
          worker.start()
        } catch { case NonFatal(_) => () /* closed during stop() */ }
      }
    }, "graft-flight-acceptor")
    acceptor.setDaemon(true)
    acceptor.start()
    serverSocket.getLocalPort
  }

  def stop(): Unit = {
    running = false
    if (serverSocket != null) serverSocket.close()
  }

  private def handle(socket: Socket): Unit = {
    socket.setTcpNoDelay(true)
    val in = new DataInputStream(new BufferedInputStream(socket.getInputStream))
    val out = new DataOutputStream(new BufferedOutputStream(socket.getOutputStream))
    try {
      var open = true
      while (open) {
        val opcode = in.read()
        if (opcode < 0) open = false
        else {
          val len = in.readInt()
          if (len < 0 || len > MaxRequestBytes) {
            // the length comes off the wire: refuse it before allocating,
            // and close, since the connection's unread payload desyncs it
            writeError(out,
              s"${Status.InvalidArgument}: request length $len outside [0, $MaxRequestBytes]")
            open = false
          } else {
            val payload = new Array[Byte](len)
            in.readFully(payload)
            serve(out, opcode, payload)
          }
          out.flush()
        }
      }
    } catch { case NonFatal(_) => () } finally socket.close()
  }

  private def serve(out: DataOutputStream, opcode: Int, payload: Array[Byte]): Unit =
    try {
      opcode.toByte match {
        case OpGetFlightInfoStatement =>
          val info = service.getFlightInfoStatement(
            new String(payload, StandardCharsets.UTF_8))
          out.writeByte(0)
          writeFrame(out, info.schemaBytes)
          writeFrame(out, info.ticket)
          endFrames(out)
        case OpDoGet =>
          val stream = service.doGet(payload)
          out.writeByte(0)
          // Execution is lazy: a runtime failure can surface after
          // frames have gone out. A -2 sentinel turns the tail of the
          // stream into an error frame instead of corrupting framing.
          try {
            stream.frames.foreach { frame => // streamed per batch
              writeFrame(out, frame)
              out.flush()
            }
            endFrames(out)
          } catch {
            case NonFatal(e) =>
              out.writeInt(-2)
              writeFrame(out,
                String.valueOf(e.getMessage).getBytes(StandardCharsets.UTF_8))
          }
        case OpCreatePreparedStatement =>
          val res = service.createPreparedStatement(
            new String(payload, StandardCharsets.UTF_8))
          out.writeByte(0)
          writeFrame(out, res.handle)
          writeFrame(out, res.datasetSchema)
          writeFrame(out, res.parameterSchema)
          endFrames(out)
        case OpHandshake =>
          service.doHandshake()
        case other =>
          throw Status.invalidArgument(s"unknown opcode $other")
      }
    } catch {
      case s: Status => writeError(out, s"${s.code}: ${s.message}")
      case NonFatal(e) => writeError(out, String.valueOf(e.getMessage))
    }

  private def writeError(out: DataOutputStream, message: String): Unit = {
    out.writeByte(1)
    writeFrame(out, message.getBytes(StandardCharsets.UTF_8))
    endFrames(out)
  }

  private def writeFrame(out: DataOutputStream, bytes: Array[Byte]): Unit = {
    out.writeInt(bytes.length)
    out.write(bytes)
  }

  private def endFrames(out: DataOutputStream): Unit = out.writeInt(-1)
}

/** Blocking client for the socket transport (test/demo counterpart of the
  * reference's FlightSqlServiceClient usage, tests/integration_test.rs:71-75).
  */
final class SocketClient(host: String, port: Int) {
  import Transport._

  private val socket = new Socket(host, port)
  socket.setTcpNoDelay(true)
  private val in = new DataInputStream(new BufferedInputStream(socket.getInputStream))
  private val out = new DataOutputStream(new BufferedOutputStream(socket.getOutputStream))

  private def call(opcode: Byte, payload: Array[Byte]): Seq[Array[Byte]] = {
    out.writeByte(opcode)
    out.writeInt(payload.length)
    out.write(payload)
    out.flush()
    val status = in.readByte()
    val frames = Seq.newBuilder[Array[Byte]]
    var len = in.readInt()
    while (len >= 0) {
      val buf = new Array[Byte](len)
      in.readFully(buf)
      frames += buf
      len = in.readInt()
    }
    if (len == -2) { // mid-stream execution error
      val errLen = in.readInt()
      val err = new Array[Byte](errLen)
      in.readFully(err)
      throw new RuntimeException(new String(err, StandardCharsets.UTF_8))
    }
    val result = frames.result()
    if (status != 0)
      throw new RuntimeException(
        new String(result.headOption.getOrElse(Array.emptyByteArray), StandardCharsets.UTF_8))
    result
  }

  /** (schemaBytes, ticket) */
  def getFlightInfoStatement(sql: String): (Array[Byte], Array[Byte]) = {
    val frames = call(OpGetFlightInfoStatement, sql.getBytes(StandardCharsets.UTF_8))
    (frames(0), frames(1))
  }

  /** Concatenated Arrow IPC stream bytes. */
  def doGet(ticket: Array[Byte]): Array[Byte] =
    Array.concat(call(OpDoGet, ticket): _*)

  def close(): Unit = socket.close()
}
