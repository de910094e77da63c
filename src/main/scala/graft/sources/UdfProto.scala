package graft.sources

import java.io.{BufferedInputStream, BufferedOutputStream, EOFException, InputStream, OutputStream}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.TimeUnit

import org.apache.spark.TaskContext
import org.apache.spark.sql.Dataset

/** Wire-compatible bridge to the reference's out-of-process UDF agents
  * (udf/agent/udf.proto:1-236; framing udf/agent/io.go:26-73): messages are
  * proto3-encoded `Request`/`Response` wrappers, each prefixed by an
  * unsigned-varint byte length. An agent written against the reference's
  * Python/Go agent libraries — reading `Request{info|init|point}` from
  * stdin and writing `Response{info|init|point|error}` to stdout — runs
  * UNMODIFIED under this runner: the Spark side performs the reference
  * server's handshake (InfoRequest → InfoResponse, InitRequest(options) →
  * InitResponse, udf/server.go:249-288) and then streams `Point` messages
  * exactly like `Server.writePoint` (udf/server.go:499-519).
  *
  * The codec is hand-rolled for the small fixed message set rather than
  * depending on a protobuf runtime: proto3 wire format is tag-length-value
  * (varint/fixed64/length-delimited), map fields are repeated (key=1,
  * value=2) entries, and oneof members are plain fields with explicit
  * presence. The decoder is lenient the way protobuf requires — unknown
  * fields skip by wire type, fields may arrive in any order, absent
  * scalars default to zero values.
  *
  * Scope mirrors ProcessUdf (the line-protocol bridge): one agent
  * attachment per partition per (micro-)batch. Both edge types are
  * driven: STREAM-edge agents via [[runAgentPartition]]/[[pipePoints]],
  * and BATCH-edge agents (BeginBatch/Point/EndBatch framing, the
  * reference `Server.writeBufferedBatch`, udf/server.go:445-519 +
  * 625-633) via [[runBatchAgentPartition]]/[[pipeBatches]] (BATCH→BATCH)
  * and [[runBatchToPointsPartition]]/[[pipeBatchesToPoints]]
  * (BATCH→STREAM). Each takes an [[Agent]], one of the two config
  * attachments (services/udf/config.go:20-47): a child process, or a
  * long-running unix-socket agent server — one fresh connection per
  * partition, each an independent protocol session. The InfoResponse
  * edge types are validated against the runner in use, like the
  * reference refuses a task whose edge types mismatch the agent's; when
  * the agent DECLARES option signatures (InfoResponse.options), Init
  * options validate with the reference's define-time errors
  * (pipeline/udf.go:128-160).
  *
  * The keepalive probe (udf/server.go:361-441) is driven when
  * `keepaliveMs > 0` — see [[runAgentPartition]]. The Snapshot/Restore
  * RPC pair (udf/server.go:289-300, udf.proto SnapshotRequest/
  * RestoreRequest) is available as a per-partition seam: pass
  * `restoreSnapshot` to replay a prior snapshot into the agent right
  * after Init (the reference's restore point), and `onSnapshot` to
  * request + receive a snapshot after the partition's input is fully
  * streamed. Distributed state management stays Spark's job — streaming
  * state lives in checkpointed state stores, and genuinely stateful
  * agents should migrate to mapGroupsWithState — but the wire RPCs are
  * fully spoken for agents that use them.
  */
object UdfProto {

  /** EdgeType (udf.proto:46-49). */
  val EdgeStream = 0
  val EdgeBatch = 1
  private def edgeName(t: Int): String = if (t == EdgeBatch) "BATCH" else "STREAM"

  /** Mirror of `agent.Point` (udf.proto:167-180). */
  case class ProtoPoint(
      time: Long,
      name: String,
      database: String,
      retentionPolicy: String,
      group: String,
      dimensions: Seq[String],
      tags: Map[String, String],
      fieldsDouble: Map[String, Double],
      fieldsInt: Map[String, Long],
      fieldsString: Map[String, String],
      fieldsBool: Map[String, Boolean],
      byName: Boolean)

  /** Mirror of `agent.BeginBatch` (udf.proto:157-163): size is the point
    * count, 0 = undetermined. */
  case class ProtoBeginBatch(
      name: String,
      group: String,
      tags: Map[String, String],
      size: Long,
      byName: Boolean)

  /** Mirror of `agent.EndBatch` (udf.proto:187-193): carries tmax, which
    * may not be known at BeginBatch. */
  case class ProtoEndBatch(
      name: String,
      group: String,
      tmax: Long,
      tags: Map[String, String],
      byName: Boolean)

  /** A buffered batch — the engine-side analog of the reference's
    * edge.BufferedBatchMessage (begin metadata + points + end), the unit
    * a BATCH-edge agent consumes/produces. */
  case class ProtoBatch(
      name: String,
      group: String,
      tags: Map[String, String],
      byName: Boolean,
      tmax: Long,
      points: Seq[ProtoPoint])

  /** Mirror of `agent.OptionValue` (udf.proto:81-90). The `type` enum is
    * derived from the variant (BOOL=0 INT=1 DOUBLE=2 STRING=3 DURATION=4). */
  sealed trait OptVal { def typeId: Int }
  case class OptBool(v: Boolean) extends OptVal { val typeId = 0 }
  case class OptInt(v: Long) extends OptVal { val typeId = 1 }
  case class OptDouble(v: Double) extends OptVal { val typeId = 2 }
  case class OptString(v: String) extends OptVal { val typeId = 3 }
  case class OptDuration(ns: Long) extends OptVal { val typeId = 4 }

  // ------------------------------------------------------------ varint

  def writeUvarint(out: OutputStream, v0: Long): Unit = {
    var v = v0
    while ((v & ~0x7fL) != 0L) {
      out.write(((v & 0x7f) | 0x80).toInt)
      v >>>= 7
    }
    out.write(v.toInt)
  }

  /** Returns -1 on clean EOF (stream ends BEFORE the first byte); a
    * mid-varint EOF is a framing error. */
  def readUvarintOrEof(in: InputStream): Long = {
    var shift = 0
    var acc = 0L
    var first = true
    while (true) {
      val b = in.read()
      if (b < 0) {
        if (first) return -1L
        throw new EOFException("udf agent stream ended mid-varint")
      }
      acc |= (b & 0x7fL) << shift
      if ((b & 0x80) == 0) return acc
      shift += 7
      first = false
      if (shift > 63) throw new IllegalStateException("varint overflow")
    }
    acc // unreachable
  }

  /** Ceiling on a single frame's declared length. A corrupted or hostile
    * varint must produce a framing error, not drive `new Array[Byte]`
    * into a NegativeArraySizeException or a multi-GB allocation. */
  val MaxFrameBytes: Int = 64 * 1024 * 1024

  /** Read one varint-framed message; None at clean EOF. Declared lengths
    * outside (0, MaxFrameBytes] are framing errors (no valid Request or
    * Response frame is empty — every wrapper carries a oneof member). */
  def readFrameBytes(in: InputStream): Option[Array[Byte]] = {
    val size = readUvarintOrEof(in)
    if (size < 0) None
    else if (size == 0L || size > MaxFrameBytes)
      throw new java.io.StreamCorruptedException(
        s"invalid udf frame length $size (expected 1..$MaxFrameBytes)")
    else {
      val buf = new Array[Byte](size.toInt)
      var read = 0
      while (read < size) {
        val n = in.read(buf, read, size.toInt - read)
        if (n < 0) throw new EOFException(s"stream ended inside a $size-byte frame")
        read += n
      }
      Some(buf)
    }
  }

  // ----------------------------------------------------------- encoder

  /** Minimal proto3 writer. Top-level scalar fields follow proto3
    * omission (zero values not emitted); map-entry values and oneof
    * members are always emitted (presence semantics). */
  final class ProtoWriter {
    private val b = new java.io.ByteArrayOutputStream(64)
    def bytes: Array[Byte] = b.toByteArray
    private def uv(v: Long): Unit = writeUvarint(b, v)
    private def tag(field: Int, wire: Int): Unit = uv((field.toLong << 3) | wire)
    def varintField(field: Int, v: Long): Unit =
      if (v != 0L) varintAlways(field, v)
    def varintAlways(field: Int, v: Long): Unit = { tag(field, 0); uv(v) }
    def boolField(field: Int, v: Boolean): Unit =
      if (v) varintAlways(field, 1L)
    def boolAlways(field: Int, v: Boolean): Unit =
      varintAlways(field, if (v) 1L else 0L)
    def strField(field: Int, s: String): Unit =
      if (s != null && s.nonEmpty) strAlways(field, s)
    def strAlways(field: Int, s: String): Unit = {
      tag(field, 2)
      val u = s.getBytes(UTF_8)
      uv(u.length.toLong)
      b.write(u, 0, u.length)
    }
    def doubleAlways(field: Int, v: Double): Unit = {
      tag(field, 1)
      val bits = java.lang.Double.doubleToLongBits(v)
      var i = 0
      while (i < 8) { b.write(((bits >>> (8 * i)) & 0xff).toInt); i += 1 }
    }
    def msgField(field: Int, inner: Array[Byte]): Unit = {
      tag(field, 2)
      uv(inner.length.toLong)
      b.write(inner, 0, inner.length)
    }
  }

  private def mapEntry(key: String)(writeValue: ProtoWriter => Unit): Array[Byte] = {
    val w = new ProtoWriter
    w.strAlways(1, key)
    writeValue(w)
    w.bytes
  }

  private def strMapField(w: ProtoWriter, field: Int, m: Map[String, String]): Unit =
    m.toSeq.sortBy(_._1).foreach { case (k, v) =>
      w.msgField(field, mapEntry(k)(_.strAlways(2, v)))
    }

  def encodePoint(p: ProtoPoint): Array[Byte] = {
    val w = new ProtoWriter
    w.varintField(1, p.time)
    w.strField(2, p.name)
    w.strField(3, p.database)
    w.strField(4, p.retentionPolicy)
    w.strField(5, p.group)
    p.dimensions.foreach(d => w.strAlways(6, d))
    // sorted map order: deterministic bytes (wire-valid in any order)
    strMapField(w, 7, p.tags)
    p.fieldsDouble.toSeq.sortBy(_._1).foreach { case (k, v) =>
      w.msgField(8, mapEntry(k)(_.doubleAlways(2, v)))
    }
    p.fieldsInt.toSeq.sortBy(_._1).foreach { case (k, v) =>
      w.msgField(9, mapEntry(k)(_.varintAlways(2, v)))
    }
    p.fieldsString.toSeq.sortBy(_._1).foreach { case (k, v) =>
      w.msgField(10, mapEntry(k)(_.strAlways(2, v)))
    }
    w.boolField(11, p.byName)
    p.fieldsBool.toSeq.sortBy(_._1).foreach { case (k, v) =>
      w.msgField(12, mapEntry(k)(_.boolAlways(2, v)))
    }
    w.bytes
  }

  def encodeBeginBatch(b: ProtoBeginBatch): Array[Byte] = {
    val w = new ProtoWriter
    w.strField(1, b.name)
    w.strField(2, b.group)
    strMapField(w, 3, b.tags)
    w.varintField(4, b.size)
    w.boolField(5, b.byName)
    w.bytes
  }

  def encodeEndBatch(e: ProtoEndBatch): Array[Byte] = {
    val w = new ProtoWriter
    w.strField(1, e.name)
    w.strField(2, e.group)
    w.varintField(3, e.tmax)
    strMapField(w, 4, e.tags)
    w.boolField(5, e.byName)
    w.bytes
  }

  /** `Request{point}` — wrapper field 17 (udf.proto:203-217). */
  def encodeRequestPoint(p: ProtoPoint): Array[Byte] = {
    val w = new ProtoWriter
    w.msgField(17, encodePoint(p))
    w.bytes
  }

  /** `Request{begin}` — wrapper field 16. */
  def encodeRequestBegin(b: ProtoBeginBatch): Array[Byte] = {
    val w = new ProtoWriter
    w.msgField(16, encodeBeginBatch(b))
    w.bytes
  }

  /** `Request{end}` — wrapper field 18. */
  def encodeRequestEnd(e: ProtoEndBatch): Array[Byte] = {
    val w = new ProtoWriter
    w.msgField(18, encodeEndBatch(e))
    w.bytes
  }

  /** `Request{info}` — an empty InfoRequest in wrapper field 1. */
  def encodeInfoRequest(): Array[Byte] = {
    val w = new ProtoWriter
    w.msgField(1, Array.emptyByteArray)
    w.bytes
  }

  /** `Request{keepalive}` (udf.proto:119-124). */
  def encodeKeepaliveRequest(timeNs: Long): Array[Byte] = {
    val inner = new ProtoWriter
    inner.varintField(1, timeNs)
    val w = new ProtoWriter
    w.msgField(3, inner.bytes)
    w.bytes
  }

  /** `Request{snapshot}` — an empty SnapshotRequest in wrapper field 4
    * (udf/server.go:289-300). */
  def encodeSnapshotRequest(): Array[Byte] = {
    val w = new ProtoWriter
    w.msgField(4, Array.emptyByteArray)
    w.bytes
  }

  /** `Request{restore}` — RestoreRequest{bytes snapshot = 1} in wrapper
    * field 5. */
  def encodeRestoreRequest(snapshot: Array[Byte]): Array[Byte] = {
    val inner = new ProtoWriter
    if (snapshot.nonEmpty) inner.msgField(1, snapshot) // bytes: same wire shape as a message
    val w = new ProtoWriter
    w.msgField(5, inner.bytes)
    w.bytes
  }

  /** `Request{init}` with options/taskID/nodeID (udf.proto:70-90). */
  def encodeInitRequest(
      options: Seq[(String, Seq[OptVal])],
      taskId: String,
      nodeId: String): Array[Byte] = {
    val init = new ProtoWriter
    options.foreach { case (name, values) =>
      val opt = new ProtoWriter
      opt.strAlways(1, name)
      values.foreach { v =>
        val ov = new ProtoWriter
        ov.varintField(1, v.typeId.toLong) // enum, 0 (BOOL) omitted per proto3
        v match { // oneof member: always emitted
          case OptBool(x)     => ov.boolAlways(2, x)
          case OptInt(x)      => ov.varintAlways(3, x)
          case OptDouble(x)   => ov.doubleAlways(4, x)
          case OptString(x)   => ov.strAlways(5, x)
          case OptDuration(x) => ov.varintAlways(6, x)
        }
        opt.msgField(2, ov.bytes)
      }
      init.msgField(1, opt.bytes)
    }
    init.strField(2, taskId)
    init.strField(3, nodeId)
    val w = new ProtoWriter
    w.msgField(2, init.bytes)
    w.bytes
  }

  def writeFramed(out: OutputStream, msg: Array[Byte]): Unit = {
    writeUvarint(out, msg.length.toLong)
    out.write(msg)
  }

  // ----------------------------------------------------------- decoder

  final class ProtoReader(buf: Array[Byte]) {
    private var pos = 0
    def hasMore: Boolean = pos < buf.length
    def uv(): Long = {
      var shift = 0
      var acc = 0L
      while (true) {
        if (pos >= buf.length) throw new EOFException("truncated varint")
        val b = buf(pos) & 0xff
        pos += 1
        acc |= (b & 0x7fL) << shift
        if ((b & 0x80) == 0) return acc
        shift += 7
        if (shift > 63) throw new IllegalStateException("varint overflow")
      }
      acc // unreachable
    }
    def readTag(): (Int, Int) = { val t = uv(); ((t >>> 3).toInt, (t & 7).toInt) }
    def bytesField(): Array[Byte] = {
      val n = uv().toInt
      if (pos + n > buf.length) throw new EOFException("truncated bytes field")
      val a = java.util.Arrays.copyOfRange(buf, pos, pos + n)
      pos += n
      a
    }
    def strFieldV(): String = new String(bytesField(), UTF_8)
    def fixed64(): Long = {
      if (pos + 8 > buf.length) throw new EOFException("truncated fixed64")
      var acc = 0L
      var i = 0
      while (i < 8) { acc |= (buf(pos + i) & 0xffL) << (8 * i); i += 1 }
      pos += 8
      acc
    }
    def doubleV(): Double = java.lang.Double.longBitsToDouble(fixed64())
    def skip(wire: Int): Unit = wire match {
      case 0 => uv(); ()
      case 1 => pos += 8
      case 2 => val n = uv().toInt; pos += n
      case 5 => pos += 4
      case w => throw new IllegalStateException(s"unsupported wire type $w")
    }
  }

  sealed trait AgentResponse
  /** `options`: the agent's declared option signatures
    * (InfoResponse.options, udf.proto:54 + OptionInfo:65 — option name →
    * expected ValueType ids per arg). Empty = the agent declares nothing
    * and accepts options unvalidated. */
  case class RInfo(wants: Int, provides: Int,
      options: Map[String, Seq[Int]] = Map.empty) extends AgentResponse
  case class RInit(success: Boolean, error: String) extends AgentResponse
  case class RKeepalive(time: Long) extends AgentResponse
  case class RSnapshot(snapshot: Array[Byte]) extends AgentResponse
  case class RRestore(success: Boolean, error: String) extends AgentResponse
  case class RError(error: String) extends AgentResponse
  case class RBegin(begin: ProtoBeginBatch) extends AgentResponse
  case class RPoint(point: ProtoPoint) extends AgentResponse
  case class REnd(end: ProtoEndBatch) extends AgentResponse

  def decodePoint(buf: Array[Byte]): ProtoPoint = {
    val r = new ProtoReader(buf)
    var time = 0L
    var name = ""; var db = ""; var rp = ""; var group = ""
    var dims = Vector.empty[String]
    var tags = Map.empty[String, String]
    var fd = Map.empty[String, Double]
    var fi = Map.empty[String, Long]
    var fs = Map.empty[String, String]
    var fb = Map.empty[String, Boolean]
    var byName = false
    def entry[T](default: T)(read: (ProtoReader, Int) => T): (String, T) = {
      val er = new ProtoReader(r.bytesField())
      var k = ""
      var v = default
      while (er.hasMore) {
        val (f, w) = er.readTag()
        if (f == 1 && w == 2) k = er.strFieldV()
        else if (f == 2) v = read(er, w)
        else er.skip(w)
      }
      k -> v
    }
    while (r.hasMore) {
      val (f, w) = r.readTag()
      f match {
        case 1  => time = r.uv()
        case 2  => name = r.strFieldV()
        case 3  => db = r.strFieldV()
        case 4  => rp = r.strFieldV()
        case 5  => group = r.strFieldV()
        case 6  => dims :+= r.strFieldV()
        case 7  => tags += entry("")((er, _) => er.strFieldV())
        case 8  => fd += entry(0.0)((er, _) => er.doubleV())
        case 9  => fi += entry(0L)((er, _) => er.uv())
        case 10 => fs += entry("")((er, _) => er.strFieldV())
        case 11 => byName = r.uv() != 0L
        case 12 => fb += entry(false)((er, _) => er.uv() != 0L)
        case _  => r.skip(w)
      }
    }
    ProtoPoint(time, name, db, rp, group, dims, tags, fd, fi, fs, fb, byName)
  }

  private def strEntry(r: ProtoReader): (String, String) = {
    val er = new ProtoReader(r.bytesField())
    var k = ""
    var v = ""
    while (er.hasMore) {
      val (f, w) = er.readTag()
      if (f == 1 && w == 2) k = er.strFieldV()
      else if (f == 2 && w == 2) v = er.strFieldV()
      else er.skip(w)
    }
    k -> v
  }

  def decodeBeginBatch(buf: Array[Byte]): ProtoBeginBatch = {
    val r = new ProtoReader(buf)
    var name = ""; var group = ""
    var tags = Map.empty[String, String]
    var size = 0L; var byName = false
    while (r.hasMore) {
      val (f, w) = r.readTag()
      f match {
        case 1 => name = r.strFieldV()
        case 2 => group = r.strFieldV()
        case 3 => tags += strEntry(r)
        case 4 => size = r.uv()
        case 5 => byName = r.uv() != 0L
        case _ => r.skip(w)
      }
    }
    ProtoBeginBatch(name, group, tags, size, byName)
  }

  def decodeEndBatch(buf: Array[Byte]): ProtoEndBatch = {
    val r = new ProtoReader(buf)
    var name = ""; var group = ""
    var tmax = 0L
    var tags = Map.empty[String, String]
    var byName = false
    while (r.hasMore) {
      val (f, w) = r.readTag()
      f match {
        case 1 => name = r.strFieldV()
        case 2 => group = r.strFieldV()
        case 3 => tmax = r.uv()
        case 4 => tags += strEntry(r)
        case 5 => byName = r.uv() != 0L
        case _ => r.skip(w)
      }
    }
    ProtoEndBatch(name, group, tmax, tags, byName)
  }

  def decodeResponse(buf: Array[Byte]): AgentResponse = {
    val r = new ProtoReader(buf)
    var result: AgentResponse = null
    while (r.hasMore) {
      val (f, w) = r.readTag()
      if (w != 2) r.skip(w)
      else {
        val inner = r.bytesField()
        f match {
          case 1 =>
            val ir = new ProtoReader(inner)
            var wants = 0; var provides = 0
            var opts = Map.empty[String, Seq[Int]]
            while (ir.hasMore) {
              val (ff, ww) = ir.readTag()
              if (ff == 1 && ww == 0) wants = ir.uv().toInt
              else if (ff == 2 && ww == 0) provides = ir.uv().toInt
              else if (ff == 3 && ww == 2) {
                // options map entry: key=1 name, value=2 OptionInfo
                val er = new ProtoReader(ir.bytesField())
                var k = ""
                var types = Vector.empty[Int]
                while (er.hasMore) {
                  val (ef, ew) = er.readTag()
                  if (ef == 1 && ew == 2) k = er.strFieldV()
                  else if (ef == 2 && ew == 2) {
                    val or = new ProtoReader(er.bytesField())
                    while (or.hasMore) {
                      val (of, ow) = or.readTag()
                      if (of == 1 && ow == 2) {
                        // packed repeated ValueType (proto3 default)
                        val pr = new ProtoReader(or.bytesField())
                        while (pr.hasMore) types :+= pr.uv().toInt
                      } else if (of == 1 && ow == 0) types :+= or.uv().toInt
                      else or.skip(ow)
                    }
                  } else er.skip(ew)
                }
                opts += (k -> types)
              }
              else ir.skip(ww)
            }
            result = RInfo(wants, provides, opts)
          case 2 => val (s, e) = successError(inner); result = RInit(s, e)
          case 3 =>
            val kr = new ProtoReader(inner)
            var t = 0L
            while (kr.hasMore) {
              val (ff, ww) = kr.readTag()
              if (ff == 1 && ww == 0) t = kr.uv() else kr.skip(ww)
            }
            result = RKeepalive(t)
          case 4 =>
            val sr = new ProtoReader(inner)
            var snap = Array.emptyByteArray
            while (sr.hasMore) {
              val (ff, ww) = sr.readTag()
              if (ff == 1 && ww == 2) snap = sr.bytesField() else sr.skip(ww)
            }
            result = RSnapshot(snap)
          case 5 => val (s, e) = successError(inner); result = RRestore(s, e)
          case 6 =>
            val er = new ProtoReader(inner)
            var msg = ""
            while (er.hasMore) {
              val (ff, ww) = er.readTag()
              if (ff == 1 && ww == 2) msg = er.strFieldV() else er.skip(ww)
            }
            result = RError(msg)
          case 16 => result = RBegin(decodeBeginBatch(inner))
          case 17 => result = RPoint(decodePoint(inner))
          case 18 => result = REnd(decodeEndBatch(inner))
          case _  => () // unknown wrapper field: skip (already consumed)
        }
      }
    }
    if (result == null)
      throw new IllegalStateException("udf agent sent an empty/unknown Response")
    result
  }

  private def successError(inner: Array[Byte]): (Boolean, String) = {
    val r = new ProtoReader(inner)
    var ok = false
    var err = ""
    while (r.hasMore) {
      val (f, w) = r.readTag()
      if (f == 1 && w == 0) ok = r.uv() != 0L
      else if (f == 2 && w == 2) err = r.strFieldV()
      else r.skip(w)
    }
    (ok, err)
  }

  // -------------------------------------- agent-side codec (Requests in,
  // Responses out — the other half of the wire, used by UdfAgent)

  sealed trait AgentRequest
  case object QInfo extends AgentRequest
  case class QInit(options: Seq[(String, Seq[OptVal])], taskId: String,
      nodeId: String) extends AgentRequest
  case class QKeepalive(time: Long) extends AgentRequest
  case object QSnapshot extends AgentRequest
  case class QRestore(snapshot: Array[Byte]) extends AgentRequest
  case class QBegin(begin: ProtoBeginBatch) extends AgentRequest
  case class QPoint(point: ProtoPoint) extends AgentRequest
  case class QEnd(end: ProtoEndBatch) extends AgentRequest

  def decodeRequest(buf: Array[Byte]): AgentRequest = {
    val r = new ProtoReader(buf)
    var result: AgentRequest = null
    while (r.hasMore) {
      val (f, w) = r.readTag()
      if (w != 2) r.skip(w)
      else {
        val inner = r.bytesField()
        f match {
          case 1 => result = QInfo
          case 2 =>
            val ir = new ProtoReader(inner)
            var opts = Vector.empty[(String, Seq[OptVal])]
            var task = ""; var node = ""
            while (ir.hasMore) {
              val (ff, ww) = ir.readTag()
              if (ff == 1 && ww == 2) {
                val or = new ProtoReader(ir.bytesField())
                var nm = ""
                var vals = Vector.empty[OptVal]
                while (or.hasMore) {
                  val (of, ow) = or.readTag()
                  if (of == 1 && ow == 2) nm = or.strFieldV()
                  else if (of == 2 && ow == 2) {
                    val vr = new ProtoReader(or.bytesField())
                    var v: OptVal = null
                    while (vr.hasMore) {
                      val (vf, vw) = vr.readTag()
                      vf match {
                        case 1 => vr.skip(vw) // type enum: implied by variant
                        case 2 => v = OptBool(vr.uv() != 0L)
                        case 3 => v = OptInt(vr.uv())
                        case 4 => v = OptDouble(vr.doubleV())
                        case 5 => v = OptString(vr.strFieldV())
                        case 6 => v = OptDuration(vr.uv())
                        case _ => vr.skip(vw)
                      }
                    }
                    if (v != null) vals :+= v
                  } else or.skip(ow)
                }
                opts :+= (nm -> vals)
              }
              else if (ff == 2 && ww == 2) task = ir.strFieldV()
              else if (ff == 3 && ww == 2) node = ir.strFieldV()
              else ir.skip(ww)
            }
            result = QInit(opts, task, node)
          case 3 =>
            val kr = new ProtoReader(inner)
            var t = 0L
            while (kr.hasMore) {
              val (ff, ww) = kr.readTag()
              if (ff == 1 && ww == 0) t = kr.uv() else kr.skip(ww)
            }
            result = QKeepalive(t)
          case 4 => result = QSnapshot
          case 5 =>
            val sr = new ProtoReader(inner)
            var snap = Array.emptyByteArray
            while (sr.hasMore) {
              val (ff, ww) = sr.readTag()
              if (ff == 1 && ww == 2) snap = sr.bytesField() else sr.skip(ww)
            }
            result = QRestore(snap)
          case 16 => result = QBegin(decodeBeginBatch(inner))
          case 17 => result = QPoint(decodePoint(inner))
          case 18 => result = QEnd(decodeEndBatch(inner))
          case _  => ()
        }
      }
    }
    if (result == null)
      throw new IllegalStateException("empty/unknown Request message")
    result
  }

  def encodeResponseInfo(wants: Int, provides: Int,
      options: Map[String, Seq[Int]] = Map.empty): Array[Byte] = {
    val inner = new ProtoWriter
    inner.varintField(1, wants.toLong)
    inner.varintField(2, provides.toLong)
    options.toSeq.sortBy(_._1).foreach { case (name, types) =>
      val oi = new ProtoWriter
      if (types.nonEmpty) {
        // packed repeated ValueType (proto3 default encoding)
        val packed = new java.io.ByteArrayOutputStream()
        types.foreach(t => writeUvarint(packed, t.toLong))
        oi.msgField(1, packed.toByteArray)
      }
      inner.msgField(3, mapEntry(name)(_.msgField(2, oi.bytes)))
    }
    val w = new ProtoWriter
    w.msgField(1, inner.bytes)
    w.bytes
  }

  def encodeResponseInit(success: Boolean, error: String): Array[Byte] = {
    val inner = new ProtoWriter
    inner.boolField(1, success)
    inner.strField(2, error)
    val w = new ProtoWriter
    w.msgField(2, inner.bytes)
    w.bytes
  }

  def encodeResponseKeepalive(time: Long): Array[Byte] = {
    val inner = new ProtoWriter
    inner.varintField(1, time)
    val w = new ProtoWriter
    w.msgField(3, inner.bytes)
    w.bytes
  }

  def encodeResponseSnapshot(snapshot: Array[Byte]): Array[Byte] = {
    val inner = new ProtoWriter
    if (snapshot.nonEmpty) {
      inner.msgField(1, snapshot) // bytes field: same wire shape as a message
    }
    val w = new ProtoWriter
    w.msgField(4, inner.bytes)
    w.bytes
  }

  def encodeResponseRestore(success: Boolean, error: String): Array[Byte] = {
    val inner = new ProtoWriter
    inner.boolField(1, success)
    inner.strField(2, error)
    val w = new ProtoWriter
    w.msgField(5, inner.bytes)
    w.bytes
  }

  def encodeResponseError(error: String): Array[Byte] = {
    val inner = new ProtoWriter
    inner.strAlways(1, error)
    val w = new ProtoWriter
    w.msgField(6, inner.bytes)
    w.bytes
  }

  def encodeResponsePoint(p: ProtoPoint): Array[Byte] = {
    val w = new ProtoWriter
    w.msgField(17, encodePoint(p))
    w.bytes
  }

  /** `Response{begin}` — wrapper field 16 (Request and Response use the
    * same data-flow field numbers, udf.proto:203-236). */
  def encodeResponseBegin(b: ProtoBeginBatch): Array[Byte] = encodeRequestBegin(b)

  /** `Response{end}` — wrapper field 18. */
  def encodeResponseEnd(e: ProtoEndBatch): Array[Byte] = encodeRequestEnd(e)

  // ------------------------------------------------- partition runner

  private val MaxStderrBytes = 64 * 1024
  private val ResponseQueueCapacity = 1024

  /** Where an agent runs: the two attachments one reference
    * `[udf.functions.x]` config entry chooses between
    * (services/udf/config.go:20-47). Every runner and Spark entry point
    * takes one, so either attachment drives every edge shape.
    * Serializable: the `mapPartitions` closure carries it to the
    * executors, where each partition opens its own [[AgentTransport]]. */
  sealed trait Agent extends Serializable {
    private[sources] def open(taskCtx: TaskContext): AgentTransport
  }

  object Agent {
    /** A child process per partition (`prog`/`args`): argv, not
      * shell-parsed. */
    final case class Process(cmd: Seq[String]) extends Agent {
      require(cmd.nonEmpty, "UdfProto: empty command")
      private[sources] def open(taskCtx: TaskContext): AgentTransport =
        new ProcessTransport(cmd, taskCtx)
    }

    /** A long-running unix-domain socket server (`socket = "/path"`,
      * kapacitor's UDFSocket/NewSocketConn, udf.go:280-357): no child is
      * spawned, each partition dials one fresh connection — an
      * independent protocol session. The server must be reachable at
      * `path` on every executor host (on a real cluster that means a
      * node-local daemon, the same deployment contract the reference's
      * socket UDFs have). */
    final case class Socket(path: String) extends Agent {
      require(path.nonEmpty, "UdfProto: empty socket path")
      private[sources] def open(taskCtx: TaskContext): AgentTransport =
        new SocketTransport(path, taskCtx)
    }
  }

  /** One open agent attachment serving one task. The AgentChild
    * lifecycle is transport-agnostic, exactly like the reference's
    * udf.Server over io.Reader/WriteCloser; the task-side plumbing here
    * (completion kill, context-adopting helper threads) is shared with
    * the line-protocol bridge, [[ProcessUdf]]. */
  private[sources] abstract class AgentTransport(taskCtx: TaskContext) {
    def in: InputStream
    def out: OutputStream
    def alive: Boolean
    def destroy(): Unit
    /** Block until the agent side is done; (exitCode, stderrTail) —
      * (0, "") for sockets, which have neither. */
    def waitDone(): (Int, String)
    def describe: String

    /** Set at task completion: unblocks helper loops so a killed task
      * cannot leak a parked thread in a long-lived executor JVM. */
    @volatile var taskClosed = false

    /** Destroy the agent if the task ends first (cancellation, upstream
      * error); without this a failed stage leaks processes on every
      * executor. Each transport calls it once `destroy` has something to
      * destroy. */
    protected final def destroyWithTask(): Unit =
      Option(taskCtx).foreach(_.addTaskCompletionListener[Unit] { _ =>
        taskClosed = true
        destroy()
      })

    /** Start a daemon helper thread that adopts the task's context. The
      * stdin writer drains the UPSTREAM iterator — any operator in that
      * chain may call TaskContext.get() lazily during consumption
      * (shuffle readers, memory-acquiring operators, user mapPartitions
      * code) and would NPE or misattribute task memory on a bare thread.
      * Spark's own PipedRDD sets the context in its stdin-writer thread
      * for this reason. */
    def startThread(name: String)(body: => Unit): Thread = {
      val t = new Thread(() => {
        if (taskCtx != null) org.apache.spark.GraftTaskContextBridge.set(taskCtx)
        body
      }, name)
      t.setDaemon(true)
      t.start()
      t
    }
  }

  /** A spawned child: stdin/stdout are the streams, stderr drains
    * concurrently into a bounded buffer surfaced by `waitDone`. */
  private[sources] final class ProcessTransport(cmd: Seq[String], taskCtx: TaskContext)
      extends AgentTransport(taskCtx) {
    private val proc = new ProcessBuilder(cmd: _*).start()
    private val stderrBuf = new java.io.ByteArrayOutputStream()
    private val errThread = startThread("graft-udf-stderr") {
      val es = proc.getErrorStream
      val buf = new Array[Byte](8192)
      var n = es.read(buf)
      while (n >= 0) {
        if (stderrBuf.size < MaxStderrBytes) stderrBuf.write(buf, 0, n)
        n = es.read(buf)
      }
    }
    val in = new BufferedInputStream(proc.getInputStream)
    val out = new BufferedOutputStream(proc.getOutputStream)
    def alive: Boolean = proc.isAlive
    def destroy(): Unit = { if (proc.isAlive) proc.destroyForcibly(); () }
    def waitDone(): (Int, String) = {
      val code = proc.waitFor()
      errThread.join(2000)
      (code, stderrBuf.toString("UTF-8").trim)
    }
    def describe: String = cmd.mkString(" ")
    destroyWithTask()
  }

  private final class SocketTransport(path: String, taskCtx: TaskContext)
      extends AgentTransport(taskCtx) {
    private val ch = java.nio.channels.SocketChannel.open(
      java.net.UnixDomainSocketAddress.of(path))
    @volatile private var closed = false
    // NOT Channels.newInput/OutputStream: those synchronize every op on
    // the channel's blockingLock, so the reader thread parked in read()
    // would block every write — the runner NEEDS one concurrent reader +
    // one writer, which SocketChannel.read/write themselves allow.
    // out.close() half-closes (shutdownOutput): the writer finishing its
    // stream must not tear down the channel — responses are still in
    // flight the other way (the socket analog of closing a child's stdin).
    val in: InputStream = new BufferedInputStream(new InputStream {
      override def read(): Int = {
        val one = new Array[Byte](1)
        val n = read(one, 0, 1)
        if (n < 0) -1 else one(0) & 0xff
      }
      override def read(b: Array[Byte], off: Int, len: Int): Int =
        try ch.read(java.nio.ByteBuffer.wrap(b, off, len))
        catch { case _: java.nio.channels.ClosedChannelException => -1 }
    })
    val out: OutputStream = new BufferedOutputStream(new OutputStream {
      override def write(b: Int): Unit = write(Array(b.toByte), 0, 1)
      override def write(b: Array[Byte], off: Int, len: Int): Unit = {
        val buf = java.nio.ByteBuffer.wrap(b, off, len)
        while (buf.hasRemaining) ch.write(buf)
      }
      override def close(): Unit = { ch.shutdownOutput(); () }
    })
    def alive: Boolean = !closed && ch.isOpen
    def destroy(): Unit = {
      closed = true
      try ch.close() catch { case _: java.io.IOException => () }
    }
    def waitDone(): (Int, String) = { destroy(); (0, "") }
    def describe: String = s"unix:$path"
    destroyWithTask()
  }

  /** One agent session with its full lifecycle: dedicated RESPONSE
    * READER thread, keepalive prober, handshake, and failure plumbing
    * over whichever transport the [[Agent]] opens.
    *
    * The reader thread mirrors the reference server's readData goroutine
    * (udf/server.go:645-663): it drains stdout continuously into a
    * bounded queue, so the keepalive timer (`lastResponseNs`) is fed the
    * moment a response ARRIVES — not when the downstream Spark consumer
    * happens to pull the output iterator. A consumer that sits between
    * `next()` calls longer than keepaliveMs therefore cannot starve the
    * timer into killing a healthy agent; only an agent that genuinely
    * answers nothing dies. Keepalive responses are consumed by the
    * reader itself (they only feed the timer, exactly the reference's
    * `Response_Keepalive` no-op arm). Backpressure is the queue bound:
    * when the consumer is slow the reader parks in `offer` with
    * `readerIdle = false`, which the prober treats as alive — staleness
    * only counts while the reader is actually WAITING on the agent. */
  private final class AgentChild(agent: Agent, keepaliveMs: Long) {
    private val transport = agent.open(TaskContext.get())
    private val out = transport.out
    private val in = transport.in
    // frames from the writer thread and the keepalive prober interleave
    // on one pipe — serialize whole frames, never bytes. A ReentrantLock
    // (not synchronized) so the prober can TRY the lock: when the writer
    // is blocked on a full pipe holding it, the prober must skip the
    // probe and fall back to its elapsed check rather than block forever
    // behind the stalled write.
    private val writeLock = new java.util.concurrent.locks.ReentrantLock
    def sendFramed(msg: Array[Byte]): Unit = {
      writeLock.lock()
      try {
        writeFramed(out, msg)
        out.flush()
      } finally writeLock.unlock()
    }

    @volatile private var lastResponseNs = System.nanoTime()
    @volatile private var keepaliveTimedOut = false
    @volatile private var readerIdle = true
    private case object Eof
    /** Eof or a Throwable, set exactly once when the reader exits. */
    @volatile private var terminal: AnyRef = null
    private val queue =
      new java.util.concurrent.LinkedBlockingQueue[AgentResponse](ResponseQueueCapacity)

    private val reader = transport.startThread("graft-udfproto-reader") {
      try {
        var done = false
        while (!done && !transport.taskClosed) {
          readFrameBytes(in) match {
            case None => done = true
            case Some(buf) =>
              lastResponseNs = System.nanoTime()
              decodeResponse(buf) match {
                case _: RKeepalive => () // timer food only, never queued
                case resp =>
                  readerIdle = false
                  var put = false
                  while (!put && !transport.taskClosed)
                    put = queue.offer(resp, 100, TimeUnit.MILLISECONDS)
                  readerIdle = true
              }
          }
        }
      } catch {
        case t: Throwable => terminal = t
      } finally {
        readerIdle = false
        if (terminal == null) terminal = Eof
      }
    }

    // the prober starts BEFORE the handshake, like the reference's
    // keepalive goroutine starting at Open (udf/server.go:146-182) — an
    // agent that hangs on InfoRequest must die by timeout too. The
    // reference's own caveat applies: an agent busy inside one point
    // longer than the timeout is indistinguishable from a hung one.
    if (keepaliveMs > 0) transport.startThread("graft-udfproto-keepalive") {
      val periodMs = math.max(1L, keepaliveMs / 2)
      try {
        while (transport.alive && !keepaliveTimedOut && !transport.taskClosed) {
          Thread.sleep(periodMs)
          val staleMs = (System.nanoTime() - lastResponseNs) / 1000000L
          if (readerIdle && staleMs > keepaliveMs) {
            keepaliveTimedOut = true
            // no lock needed: destroy unblocks any write stalled on the
            // dead pipe, which is exactly the stall being detected
            transport.destroy() // reader sees EOF → finish() fails with the ka note
          } else if (transport.alive &&
              writeLock.tryLock(periodMs, TimeUnit.MILLISECONDS)) {
            try writeFramed(out, encodeKeepaliveRequest(System.nanoTime()))
            catch { case _: java.io.IOException => () } // racing child exit
            finally {
              try out.flush() catch { case _: java.io.IOException => () }
              writeLock.unlock()
            }
          }
        }
      } catch { case _: InterruptedException => () }
    }

    def fail(msg: String): Nothing = {
      transport.destroy()
      val (_, err) = transport.waitDone()
      val ka = if (keepaliveTimedOut)
        s" (keepalive timeout: no response in ${keepaliveMs}ms)" else ""
      throw new RuntimeException(
        s"udf agent '${transport.describe}': $msg$ka" +
          (if (err.nonEmpty) s"; stderr: $err" else ""))
    }

    /** Next non-keepalive response from the reader, or None at agent
      * EOF; reader failures surface here as task failures. */
    def nextResponse(): Option[AgentResponse] = {
      while (true) {
        val r = queue.poll(100, TimeUnit.MILLISECONDS)
        if (r != null) return Some(r)
        val t = terminal
        if (t != null && queue.isEmpty) t match {
          case Eof            => return None
          case err: Throwable => fail(s"agent stream error: ${err.getMessage}")
        }
      }
      None // unreachable
    }

    private def await(pf: PartialFunction[AgentResponse, Unit], what: String): Unit =
      nextResponse() match {
        case None                         => fail(s"agent exited before $what")
        case Some(RError(e))              => fail(s"agent error during $what: $e")
        case Some(r) if pf.isDefinedAt(r) => pf(r)
        case Some(other)                  => fail(s"unexpected $other awaiting $what")
      }

    /** Reference server handshake order (udf/server.go:249-288): Info —
      * with edge-type validation against the runner in use, as the
      * reference refuses an agent whose edges mismatch the node — then
      * Init, then the optional Restore (udf/server.go:303-315). When the
      * agent DECLARES option signatures (InfoResponse.options), the Init
      * options validate against them with the reference's define-time
      * errors (pipeline/udf.go:128-160: unknown name, arg count, arg
      * type); an agent declaring nothing keeps the permissive contract. */
    def handshake(
        options: Seq[(String, Seq[OptVal])], taskId: String, nodeId: String,
        wants: Int, provides: Int, restoreSnapshot: Option[Array[Byte]]): Unit = {
      sendFramed(encodeInfoRequest())
      await({ case RInfo(w, p, declared) =>
        if (w != wants)
          fail(s"agent wants a ${edgeName(w)} edge; this runner feeds ${edgeName(wants)}")
        if (p != provides)
          fail(s"agent provides a ${edgeName(p)} edge; this runner consumes ${edgeName(provides)}")
        if (declared.nonEmpty) {
          def tn(t: Int) = t match {
            case 0 => "BOOL"; case 1 => "INT"; case 2 => "DOUBLE"
            case 3 => "STRING"; case 4 => "DURATION"; case x => s"TYPE($x)"
          }
          options.foreach { case (name, vals) =>
            declared.get(name) match {
              case None => fail(s"unknown option $name")
              case Some(types) =>
                if (vals.length != types.length)
                  fail(s"unexpected number of args to $name, got ${vals.length} expected ${types.length}")
                vals.zip(types).foreach { case (v, t) =>
                  if (v.typeId != t)
                    fail(s"unexpected arg to $name, got ${tn(v.typeId)} expected ${tn(t)}")
                }
            }
          }
        }
      }, "InfoResponse")
      sendFramed(encodeInitRequest(options, taskId, nodeId))
      await({ case RInit(ok, e) =>
        if (!ok) fail(s"agent init failed: $e") }, "InitResponse")
      restoreSnapshot.foreach { snap =>
        sendFramed(encodeRestoreRequest(snap))
        await({ case RRestore(ok, e) =>
          if (!ok) fail(s"agent restore failed: $e") }, "RestoreResponse")
      }
    }

    @volatile private var writeError: Throwable = null

    /** Feed the agent's stdin from a dedicated thread; optionally request
      * a snapshot after the last data frame, then close stdin. */
    def startWriter(body: (Array[Byte] => Unit) => Unit, snapshotAtEnd: Boolean): Thread =
      transport.startThread("graft-udfproto-stdin") {
        try {
          body(sendFramed)
          if (snapshotAtEnd) sendFramed(encodeSnapshotRequest())
        } catch {
          case _: java.io.IOException => () // agent closed stdin early
          case t: Throwable           => writeError = t
        } finally {
          // close under the lock so a concurrent keepalive frame can't be
          // torn mid-write by the close
          writeLock.lock()
          try out.close()
          catch { case _: java.io.IOException => () }
          finally writeLock.unlock()
        }
      }

    /** End-of-stream teardown: join threads, surface writer errors, exit
      * codes, and keepalive kills. */
    def finish(writer: Thread): Unit = {
      writer.join()
      reader.join(2000)
      val (code, err) = transport.waitDone()
      if (writeError != null) throw writeError
      if (code != 0 || keepaliveTimedOut) {
        val ka = if (keepaliveTimedOut)
          s" (keepalive timeout: no response in ${keepaliveMs}ms)" else ""
        throw new RuntimeException(
          s"udf agent '${transport.describe}' exited $code$ka" +
            (if (err.nonEmpty) s": $err" else ""))
      }
    }
  }

  /** One STREAM-edge agent session for one partition: handshake (Info,
    * Init, optional Restore), stream Points from a writer thread,
    * iterate Response points lazily off the reader queue. Same lifecycle
    * guards as ProcessUdf.runPartition: TaskContext propagated into
    * helper threads, completion-listener kill, bounded stderr surfaced
    * on non-zero exit.
    *
    * `keepaliveMs > 0` drives the reference server's liveness probe
    * (udf/server.go:361-441): a KeepaliveRequest goes out every
    * `keepaliveMs / 2`, ANY response (read the moment it arrives, on the
    * dedicated reader thread) resets the timer, and an agent that answers
    * nothing for `keepaliveMs` while the reader is waiting on it is
    * killed with a named keepalive-timeout failure.
    *
    * `onSnapshot` requests the agent's state after the partition's input
    * is fully streamed (SnapshotRequest before stdin close) and hands
    * the bytes to the callback; `restoreSnapshot` replays such bytes
    * into a fresh agent right after Init — the reference's
    * Snapshot/Restore RPC pair (udf/server.go:289-315). */
  def runAgentPartition(
      agent: Agent,
      options: Seq[(String, Seq[OptVal])],
      taskId: String,
      nodeId: String,
      input: Iterator[ProtoPoint],
      keepaliveMs: Long = 0L,
      restoreSnapshot: Option[Array[Byte]] = None,
      onSnapshot: Array[Byte] => Unit = null): Iterator[ProtoPoint] = {
    if (!input.hasNext) return Iterator.empty
    val child = new AgentChild(agent, keepaliveMs)
    child.handshake(options, taskId, nodeId, EdgeStream, EdgeStream, restoreSnapshot)
    val writer = child.startWriter(
      send => input.foreach(p => send(encodeRequestPoint(p))),
      snapshotAtEnd = onSnapshot != null)
    pointOutput(child, writer, onSnapshot,
      "batch framing from a STREAM-providing agent; " +
        "use runBatchAgentPartition for batch edges")
  }

  /** Shared STREAM-output half of [[runAgentPartition]] and
    * [[runBatchToPointsPartition]]: drain point responses from a child
    * whose PROVIDES edge is STREAM, whatever the writer feeds it.
    * `batchFramingError` names the right runner when the agent turns
    * out to speak batch framing instead. */
  private def pointOutput(
      child: AgentChild, writer: Thread,
      onSnapshot: Array[Byte] => Unit,
      batchFramingError: String): Iterator[ProtoPoint] =
    new Iterator[ProtoPoint] {
      private var nextPoint: ProtoPoint = advance()
      private var finished = false
      private def advance(): ProtoPoint = {
        while (true) {
          child.nextResponse() match {
            case None            => return null
            case Some(RPoint(p)) => return p
            case Some(RSnapshot(s)) =>
              if (onSnapshot == null) child.fail("unsolicited SnapshotResponse")
              onSnapshot(s)
            case Some(RError(e)) => child.fail(s"agent error: $e")
            case Some(_: RBegin) | Some(_: REnd) => child.fail(batchFramingError)
            case Some(other) => child.fail(s"unexpected mid-stream $other")
          }
        }
        null // unreachable
      }
      private def finish(): Unit = if (!finished) {
        finished = true
        child.finish(writer)
      }
      override def hasNext: Boolean = {
        if (nextPoint != null) true
        else { finish(); false }
      }
      override def next(): ProtoPoint = {
        if (!hasNext) throw new NoSuchElementException("udf agent output exhausted")
        val p = nextPoint
        nextPoint = advance()
        p
      }
    }

  /** Stream one batch to the agent exactly like the reference server's
    * writeBufferedBatch (udf/server.go:625-633): BeginBatch with the
    * size hint, each point in the reduced batch-point shape
    * (writeBatchPoint, udf/server.go:591-608 — time/group/tags/fields
    * only), then EndBatch with tmax. */
  private def sendBatch(send: Array[Byte] => Unit, b: ProtoBatch): Unit = {
    send(encodeRequestBegin(
      ProtoBeginBatch(b.name, b.group, b.tags, b.points.length.toLong, b.byName)))
    b.points.foreach { p =>
      send(encodeRequestPoint(ProtoPoint(
        time = p.time, name = "", database = "", retentionPolicy = "",
        group = b.group, dimensions = Nil, tags = p.tags,
        fieldsDouble = p.fieldsDouble, fieldsInt = p.fieldsInt,
        fieldsString = p.fieldsString, fieldsBool = p.fieldsBool,
        byName = false)))
    }
    send(encodeRequestEnd(ProtoEndBatch(b.name, b.group, b.tmax, b.tags, byName = false)))
  }

  /** One BATCH→BATCH agent session for one partition (the reference's
    * outliers-example shape): each input ProtoBatch streams as
    * BeginBatch, Points, EndBatch frames, and the agent's response
    * frames reassemble into output ProtoBatches exactly like the
    * reference server's Response_Begin/Point/End arms
    * (udf/server.go:674-760): Begin opens a buffer, Points append, End
    * emits the buffered batch built from End.name/group/tags/tmax +
    * Begin.byName. */
  def runBatchAgentPartition(
      agent: Agent,
      options: Seq[(String, Seq[OptVal])],
      taskId: String,
      nodeId: String,
      input: Iterator[ProtoBatch],
      keepaliveMs: Long = 0L,
      restoreSnapshot: Option[Array[Byte]] = None,
      onSnapshot: Array[Byte] => Unit = null): Iterator[ProtoBatch] = {
    if (!input.hasNext) return Iterator.empty
    val child = new AgentChild(agent, keepaliveMs)
    child.handshake(options, taskId, nodeId, EdgeBatch, EdgeBatch, restoreSnapshot)
    val writer = child.startWriter(
      send => input.foreach(b => sendBatch(send, b)),
      snapshotAtEnd = onSnapshot != null)
    new Iterator[ProtoBatch] {
      private var begin: ProtoBeginBatch = null
      private val pts = scala.collection.mutable.ArrayBuffer.empty[ProtoPoint]
      private var nextBatch: ProtoBatch = advance()
      private var finished = false
      private def advance(): ProtoBatch = {
        while (true) {
          child.nextResponse() match {
            case None =>
              if (begin != null) child.fail("agent exited mid-batch (no EndBatch)")
              return null
            case Some(RBegin(b)) =>
              if (begin != null) child.fail("nested BeginBatch from agent")
              begin = b
              pts.clear()
            case Some(RPoint(p)) =>
              if (begin == null)
                child.fail("stream Point outside a batch from a BATCH-providing " +
                  "agent; use runBatchToPointsPartition for BATCH→STREAM agents")
              pts += p
            case Some(REnd(e)) =>
              if (begin == null) child.fail("EndBatch without BeginBatch")
              val b = ProtoBatch(e.name, e.group, e.tags, begin.byName, e.tmax, pts.toVector)
              begin = null
              return b
            case Some(RSnapshot(s)) =>
              if (onSnapshot == null) child.fail("unsolicited SnapshotResponse")
              onSnapshot(s)
            case Some(RError(e)) => child.fail(s"agent error: $e")
            case Some(other)     => child.fail(s"unexpected mid-stream $other")
          }
        }
        null // unreachable
      }
      private def finish(): Unit = if (!finished) {
        finished = true
        child.finish(writer)
      }
      override def hasNext: Boolean = {
        if (nextBatch != null) true
        else { finish(); false }
      }
      override def next(): ProtoBatch = {
        if (!hasNext) throw new NoSuchElementException("udf agent output exhausted")
        val b = nextBatch
        nextBatch = advance()
        b
      }
    }
  }

  /** One BATCH→STREAM agent session for one partition (the reference's
    * moving_avg-example shape): batches in, plain points out. */
  def runBatchToPointsPartition(
      agent: Agent,
      options: Seq[(String, Seq[OptVal])],
      taskId: String,
      nodeId: String,
      input: Iterator[ProtoBatch],
      keepaliveMs: Long = 0L,
      restoreSnapshot: Option[Array[Byte]] = None,
      onSnapshot: Array[Byte] => Unit = null): Iterator[ProtoPoint] = {
    if (!input.hasNext) return Iterator.empty
    val child = new AgentChild(agent, keepaliveMs)
    child.handshake(options, taskId, nodeId, EdgeBatch, EdgeStream, restoreSnapshot)
    val writer = child.startWriter(
      send => input.foreach(b => sendBatch(send, b)),
      snapshotAtEnd = onSnapshot != null)
    pointOutput(child, writer, onSnapshot,
      "batch framing from a STREAM-providing agent")
  }

  // ------------------------------------------------------ Spark surface

  /** Pipe a typed point stream through a protobuf agent, one session
    * per partition (batch or per-micro-batch under Structured Streaming —
    * identical contract to ProcessUdf.pipeLines). */
  def pipePoints(
      points: Dataset[ProtoPoint],
      agent: Agent,
      options: Seq[(String, Seq[OptVal])] = Nil,
      taskId: String = "graft",
      nodeId: String = "udf",
      keepaliveMs: Long = 0L): Dataset[ProtoPoint] = {
    val spark = points.sparkSession
    import spark.implicits._
    points.mapPartitions(it =>
      runAgentPartition(agent, options, taskId, nodeId, it, keepaliveMs))
  }

  /** Pipe buffered batches through a BATCH→BATCH protobuf agent, one
    * session per partition. Batches are the unit of work — the
    * Spark-side analog of a windowed/grouped batch edge; a partition
    * carries many batches, each framed BeginBatch, Points, EndBatch on
    * the wire. */
  def pipeBatches(
      batches: Dataset[ProtoBatch],
      agent: Agent,
      options: Seq[(String, Seq[OptVal])] = Nil,
      taskId: String = "graft",
      nodeId: String = "udf",
      keepaliveMs: Long = 0L): Dataset[ProtoBatch] = {
    val spark = batches.sparkSession
    import spark.implicits._
    batches.mapPartitions(it =>
      runBatchAgentPartition(agent, options, taskId, nodeId, it, keepaliveMs))
  }

  /** Pipe buffered batches through a BATCH→STREAM protobuf agent, one
    * session per partition: each input batch may emit any number of
    * plain points (e.g. one aggregate point per batch). */
  def pipeBatchesToPoints(
      batches: Dataset[ProtoBatch],
      agent: Agent,
      options: Seq[(String, Seq[OptVal])] = Nil,
      taskId: String = "graft",
      nodeId: String = "udf",
      keepaliveMs: Long = 0L): Dataset[ProtoPoint] = {
    val spark = batches.sparkSession
    import spark.implicits._
    batches.mapPartitions(it =>
      runBatchToPointsPartition(agent, options, taskId, nodeId, it, keepaliveMs))
  }

  /** The line-protocol bridge: run canonical parsed points
    * (LineProtocol.LinePoint) through a protobuf agent. This is the
    * migration path for an existing reference agent — the engine-side
    * data stays in the library's canonical wire model. */
  def pipeLinePoints(
      points: Dataset[LineProtocol.LinePoint],
      agent: Agent,
      options: Seq[(String, Seq[OptVal])] = Nil,
      database: String = "",
      retentionPolicy: String = "",
      taskId: String = "graft",
      nodeId: String = "udf",
      keepaliveMs: Long = 0L): Dataset[LineProtocol.LinePoint] = {
    val spark = points.sparkSession
    import spark.implicits._
    val proto = points.map(lp => ProtoPoint(
      time = lp.timeNs, name = lp.measurement, database = database,
      retentionPolicy = retentionPolicy, group = "", dimensions = Nil, tags = lp.tags,
      fieldsDouble = lp.fieldsFloat, fieldsInt = lp.fieldsInt,
      fieldsString = lp.fieldsStr, fieldsBool = lp.fieldsBool,
      byName = false))
    pipePoints(proto, agent, options, taskId, nodeId, keepaliveMs).map(p =>
      LineProtocol.LinePoint(p.name, p.tags, p.fieldsDouble, p.fieldsInt,
        p.fieldsBool, p.fieldsString, p.time))
  }
}
