package graft

import graft.sources.UdfProto
import graft.sources.UdfProto._

/** Wire compatibility with the reference's varint-framed udf.proto agent
  * protocol (udf/agent/udf.proto, udf/agent/io.go). Two layers:
  *  - golden byte tests pin the proto3 encoding against hand-computed
  *    wire bytes (and the decoder against adversarial orderings);
  *  - a REAL child process: a Python stub agent whose codec is an
  *    INDEPENDENT hand-rolled implementation of the same wire format
  *    (stdlib only, mirroring the reference's kapacitor/udf/agent.py
  *    loop: Info → Init → point stream). Two independent codecs
  *    interoperating over actual pipes is the compatibility proof — a
  *    framing or field-number mistake on either side breaks the
  *    handshake or corrupts a field.
  */
/** Python stub agent shared by UdfProtoSpec and TickScriptSpec: an
  * independent stdlib-only implementation of the wire protocol. Modes:
  * ok (double every float field, tag the point, echo received options),
  * failinit, senderror. Exits 3 if a point arrives before Init —
  * pinning the handshake order. */
object ProtoStubAgent {
  lazy val path: String = {
    val src = stubSource
    val f = java.io.File.createTempFile("graft_udf_agent", ".py")
    f.deleteOnExit()
    java.nio.file.Files.writeString(f.toPath, src)
    f.getAbsolutePath
  }
  private def stubSource: String = UdfProtoSpec.StubSrc
}

class UdfProtoSpec extends SparkSpec {
  import spark.implicits._

  // ---------------------------------------------------------- varint

  test("uvarint round-trips boundary values including 10-byte negatives") {
    val vals = Seq(0L, 1L, 127L, 128L, 300L, 16383L, 16384L,
      Int.MaxValue.toLong, Long.MaxValue, -1L, Long.MinValue)
    vals.foreach { v =>
      val b = new java.io.ByteArrayOutputStream()
      UdfProto.writeUvarint(b, v)
      val in = new java.io.ByteArrayInputStream(b.toByteArray)
      assert(UdfProto.readUvarintOrEof(in) === v, s"value $v")
    }
    // clean EOF before any byte → -1 sentinel
    assert(UdfProto.readUvarintOrEof(
      new java.io.ByteArrayInputStream(Array.emptyByteArray)) === -1L)
    // -1L (all bits set) must be exactly 10 bytes on the wire
    val b = new java.io.ByteArrayOutputStream()
    UdfProto.writeUvarint(b, -1L)
    assert(b.toByteArray.length === 10)
  }

  // ----------------------------------------------------- golden bytes

  test("Request{point} encodes to the exact proto3 wire bytes") {
    val p = ProtoPoint(
      time = 5L, name = "m", database = "", retentionPolicy = "",
      group = "", dimensions = Nil, tags = Map("h" -> "a"),
      fieldsDouble = Map("v" -> 1.5), fieldsInt = Map("c" -> 3L),
      fieldsString = Map.empty, fieldsBool = Map.empty, byName = false)
    val expectedPoint: Array[Byte] = Array(
      0x08, 0x05, // field 1 (time) varint 5
      0x12, 0x01, 0x6d, // field 2 (name) "m"
      0x3a, 0x06, 0x0a, 0x01, 0x68, 0x12, 0x01, 0x61, // tags {"h":"a"}
      0x42, 0x0c, 0x0a, 0x01, 0x76, // fieldsDouble {"v":
      0x11, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0xf8, 0x3f, // 1.5 LE}
      0x4a, 0x05, 0x0a, 0x01, 0x63, 0x10, 0x03 // fieldsInt {"c":3}
    ).map(_.toByte)
    assert(UdfProto.encodePoint(p).toSeq === expectedPoint.toSeq)
    // wrapper: field 17, wire 2 → tag varint 138 = [0x8a, 0x01]
    val req = UdfProto.encodeRequestPoint(p)
    assert(req.take(2).toSeq === Seq(0x8a.toByte, 0x01.toByte))
    assert(req(2) === expectedPoint.length.toByte)
    assert(req.drop(3).toSeq === expectedPoint.toSeq)
  }

  test("decoder accepts out-of-order fields, unknown fields, absent map values") {
    // hand-built Response{point}: name BEFORE time, an unknown varint
    // field 99 interleaved, a tags entry with no value field (→ "")
    val point: Array[Byte] = Array(
      0x12, 0x01, 0x6d, // name "m" first
      0x98, 0x06, 0x01, // unknown field 99 varint 1 — must be skipped
      0x3a, 0x03, 0x0a, 0x01, 0x68, // tags entry: key "h", NO value
      0x08, 0x07 // time 7 last
    ).map(_.toByte)
    val resp = new java.io.ByteArrayOutputStream()
    // wrapper field 17
    resp.write(0x8a); resp.write(0x01); resp.write(point.length)
    resp.write(point, 0, point.length)
    UdfProto.decodeResponse(resp.toByteArray) match {
      case RPoint(p) =>
        assert(p.name === "m")
        assert(p.time === 7L)
        assert(p.tags === Map("h" -> ""))
      case other => fail(s"expected RPoint, got $other")
    }
    // InitResponse{success=true} and ErrorResponse decode
    val initOk = Array(0x12, 0x02, 0x08, 0x01).map(_.toByte) // field2{field1=1}
    assert(UdfProto.decodeResponse(initOk) === RInit(true, ""))
    val err = Array(0x32, 0x06, 0x0a, 0x04, 'b'.toInt, 'o'.toInt, 'o'.toInt, 'm'.toInt)
      .map(_.toByte) // field6{field1="boom"}
    assert(UdfProto.decodeResponse(err) === RError("boom"))
    // empty InfoResponse (all defaults: wants=STREAM provides=STREAM)
    val info = Array(0x0a, 0x00).map(_.toByte)
    assert(UdfProto.decodeResponse(info) === RInfo(0, 0))
  }

  test("point encode∘decode is identity including negatives and all field maps") {
    val p = ProtoPoint(
      time = -1234567890123456789L, name = "cpu", database = "db",
      retentionPolicy = "rp", group = "host=a", dimensions = Seq("host", "dc"),
      tags = Map("host" -> "a", "dc" -> "東京"),
      fieldsDouble = Map("load" -> -0.25, "π" -> math.Pi),
      fieldsInt = Map("n" -> -42L, "big" -> Long.MaxValue),
      fieldsString = Map("msg" -> "he said \"hi\"\n"),
      fieldsBool = Map("up" -> true, "down" -> false),
      byName = true)
    assert(UdfProto.decodePoint(UdfProto.encodePoint(p)) === p)
  }

  // ------------------------------------------------ batch frame goldens

  test("BeginBatch/EndBatch encode to exact wire bytes (udf.proto:157-193)") {
    val b = ProtoBeginBatch("m", "g", Map("h" -> "a"), 3L, byName = true)
    val beginInner: Array[Byte] = Array(
      0x0a, 0x01, 0x6d, // field 1 name "m"
      0x12, 0x01, 0x67, // field 2 group "g"
      0x1a, 0x06, 0x0a, 0x01, 0x68, 0x12, 0x01, 0x61, // field 3 tags {"h":"a"}
      0x20, 0x03, // field 4 size 3
      0x28, 0x01 // field 5 byName
    ).map(_.toByte)
    assert(UdfProto.encodeBeginBatch(b).toSeq === beginInner.toSeq)
    // wrapper field 16 wire 2 → tag varint 130 = [0x82, 0x01]
    val reqB = UdfProto.encodeRequestBegin(b)
    assert(reqB.take(2).toSeq === Seq(0x82.toByte, 0x01.toByte))
    assert(reqB.drop(3).toSeq === beginInner.toSeq)
    val e = ProtoEndBatch("m", "g", 99L, Map("h" -> "a"), byName = false)
    val endInner: Array[Byte] = Array(
      0x0a, 0x01, 0x6d,
      0x12, 0x01, 0x67,
      0x18, 0x63, // field 3 tmax 99
      0x22, 0x06, 0x0a, 0x01, 0x68, 0x12, 0x01, 0x61 // field 4 tags
    ).map(_.toByte)
    assert(UdfProto.encodeEndBatch(e).toSeq === endInner.toSeq)
    // wrapper field 18 wire 2 → tag varint 146 = [0x92, 0x01]
    val reqE = UdfProto.encodeRequestEnd(e)
    assert(reqE.take(2).toSeq === Seq(0x92.toByte, 0x01.toByte))
    // both directions decode the same frames (Request/Response share
    // data-flow field numbers)
    assert(UdfProto.decodeRequest(reqB) === QBegin(b))
    assert(UdfProto.decodeRequest(reqE) === QEnd(e))
    assert(UdfProto.decodeResponse(UdfProto.encodeResponseBegin(b)) === RBegin(b))
    assert(UdfProto.decodeResponse(UdfProto.encodeResponseEnd(e)) === REnd(e))
  }

  test("fuzz: 200 nasty BeginBatch/EndBatch markers round-trip both codec halves") {
    val nasty = "a\nb\t\"c\"\\d,e=f 漢字 π end"
    val rnd = new scala.util.Random(15L)
    def rs(): String = (0 until rnd.nextInt(12)).map(_ => nasty(rnd.nextInt(nasty.length))).mkString
    (1 to 200).foreach { _ =>
      val b = ProtoBeginBatch(rs(), rs(),
        (0 until rnd.nextInt(4)).map(j => s"t$j" -> rs()).toMap,
        rnd.nextLong(), rnd.nextBoolean())
      val e = ProtoEndBatch(rs(), rs(), rnd.nextLong(),
        (0 until rnd.nextInt(4)).map(j => s"t$j" -> rs()).toMap,
        rnd.nextBoolean())
      assert(UdfProto.decodeRequest(UdfProto.encodeRequestBegin(b)) === QBegin(b))
      assert(UdfProto.decodeRequest(UdfProto.encodeRequestEnd(e)) === QEnd(e))
      assert(UdfProto.decodeResponse(UdfProto.encodeResponseBegin(b)) === RBegin(b))
      assert(UdfProto.decodeResponse(UdfProto.encodeResponseEnd(e)) === REnd(e))
    }
  }

  test("Snapshot/Restore RPC frames match the reference wire shapes") {
    // Request{snapshot}: empty SnapshotRequest in field 4 → tag 0x22 len 0
    assert(UdfProto.encodeSnapshotRequest().toSeq ===
      Seq(0x22.toByte, 0x00.toByte))
    assert(UdfProto.decodeRequest(UdfProto.encodeSnapshotRequest()) === QSnapshot)
    // Request{restore}: RestoreRequest{snapshot="abc"} in field 5
    val restore = UdfProto.encodeRestoreRequest("abc".getBytes(java.nio.charset.StandardCharsets.UTF_8))
    assert(restore.toSeq === Seq(0x2a, 0x05, 0x0a, 0x03, 'a'.toInt, 'b'.toInt, 'c'.toInt).map(_.toByte))
    UdfProto.decodeRequest(restore) match {
      case QRestore(s) => assert(new String(s, "UTF-8") === "abc")
      case other       => fail(s"expected QRestore, got $other")
    }
    // Response{snapshot} / Response{restore} round-trip the server decoder
    UdfProto.decodeResponse(UdfProto.encodeResponseSnapshot("xyz".getBytes("UTF-8"))) match {
      case RSnapshot(s) => assert(new String(s, "UTF-8") === "xyz")
      case other        => fail(s"expected RSnapshot, got $other")
    }
    assert(UdfProto.decodeResponse(UdfProto.encodeResponseRestore(success = true, "")) ===
      RRestore(true, ""))
    assert(UdfProto.decodeResponse(UdfProto.encodeResponseRestore(success = false, "nope")) ===
      RRestore(false, "nope"))
  }

  test("readFrameBytes rejects hostile frame lengths before allocating") {
    import java.io.ByteArrayInputStream
    // varint declaring 2^34 bytes — must be a framing error, not an OOM
    val huge = new ByteArrayInputStream(
      Array(0x80, 0x80, 0x80, 0x80, 0x40).map(_.toByte))
    val e1 = intercept[java.io.StreamCorruptedException] {
      UdfProto.readFrameBytes(huge)
    }
    assert(e1.getMessage.contains("frame length"))
    // zero-length frame: no valid Request/Response is empty
    intercept[java.io.StreamCorruptedException] {
      UdfProto.readFrameBytes(new ByteArrayInputStream(Array(0x00.toByte)))
    }
    // a valid frame passes intact; clean EOF is None
    val msg = UdfProto.encodeInfoRequest()
    val b = new java.io.ByteArrayOutputStream()
    UdfProto.writeFramed(b, msg)
    val in = new ByteArrayInputStream(b.toByteArray)
    assert(UdfProto.readFrameBytes(in).get.toSeq === msg.toSeq)
    assert(UdfProto.readFrameBytes(in) === None)
    // the agent loop uses the same guard: a hostile length kills the
    // loop with the framing error (after emitting an ErrorResponse)
    val agentErr = intercept[java.io.StreamCorruptedException] {
      graft.sources.UdfAgent.run(
        new graft.sources.UdfAgent.Handler {
          def point(p: ProtoPoint, emit: ProtoPoint => Unit): Unit = emit(p)
        },
        new ByteArrayInputStream(Array(0x80, 0x80, 0x80, 0x80, 0x40).map(_.toByte)),
        new java.io.ByteArrayOutputStream())
    }
    assert(agentErr.getMessage.contains("frame length"))
  }

}

object UdfProtoSpec {
  private[graft] val StubSrc: String =
      """import struct, sys
        |
        |def read_uvarint(f):
        |    shift = 0; acc = 0; first = True
        |    while True:
        |        b = f.read(1)
        |        if not b:
        |            if first: return None
        |            raise EOFError('mid-varint EOF')
        |        v = b[0]
        |        acc |= (v & 0x7f) << shift
        |        if not (v & 0x80): return acc
        |        shift += 7; first = False
        |
        |class R(object):
        |    def __init__(self, buf): self.buf = buf; self.pos = 0
        |    def more(self): return self.pos < len(self.buf)
        |    def uv(self):
        |        shift = 0; acc = 0
        |        while True:
        |            v = self.buf[self.pos]; self.pos += 1
        |            acc |= (v & 0x7f) << shift
        |            if not (v & 0x80): return acc
        |            shift += 7
        |    def tag(self):
        |        t = self.uv(); return t >> 3, t & 7
        |    def bts(self):
        |        n = self.uv(); a = self.buf[self.pos:self.pos+n]; self.pos += n; return a
        |    def s(self): return self.bts().decode('utf-8')
        |    def f64(self):
        |        v = struct.unpack('<d', bytes(self.buf[self.pos:self.pos+8]))[0]
        |        self.pos += 8; return v
        |    def skip(self, w):
        |        if w == 0: self.uv()
        |        elif w == 1: self.pos += 8
        |        elif w == 2: self.bts()
        |        elif w == 5: self.pos += 4
        |        else: raise Exception('wire %d' % w)
        |
        |class W(object):
        |    def __init__(self): self.b = bytearray()
        |    def uv(self, v):
        |        v &= (1 << 64) - 1
        |        while v & ~0x7f: self.b.append((v & 0x7f) | 0x80); v >>= 7
        |        self.b.append(v)
        |    def tag(self, f, w): self.uv((f << 3) | w)
        |    def vi(self, f, v): self.tag(f, 0); self.uv(v)
        |    def s(self, f, v): self.tag(f, 2); u = v.encode('utf-8'); self.uv(len(u)); self.b += u
        |    def d(self, f, v): self.tag(f, 1); self.b += struct.pack('<d', v)
        |    def m(self, f, inner): self.tag(f, 2); self.uv(len(inner)); self.b += bytes(inner)
        |
        |def parse_point(buf):
        |    r = R(buf)
        |    p = {'time': 0, 'name': '', 'db': '', 'rp': '', 'tags': {},
        |         'fd': {}, 'fi': {}, 'fs': {}, 'fb': {}}
        |    while r.more():
        |        f, w = r.tag()
        |        if f == 1: p['time'] = r.uv()
        |        elif f == 2: p['name'] = r.s()
        |        elif f == 3: p['db'] = r.s()
        |        elif f == 4: p['rp'] = r.s()
        |        elif f in (7, 8, 9, 10, 12):
        |            er = R(r.bts()); k = ''; v = None
        |            while er.more():
        |                ef, ew = er.tag()
        |                if ef == 1: k = er.s()
        |                elif ef == 2:
        |                    if f in (7, 10): v = er.s()
        |                    elif f == 8: v = er.f64()
        |                    else: v = er.uv()
        |                else: er.skip(ew)
        |            if f == 7: p['tags'][k] = v if v is not None else ''
        |            elif f == 8: p['fd'][k] = v if v is not None else 0.0
        |            elif f == 9: p['fi'][k] = v if v is not None else 0
        |            elif f == 10: p['fs'][k] = v if v is not None else ''
        |            else: p['fb'][k] = bool(v)
        |        else: r.skip(w)
        |    return p
        |
        |def enc_point(p):
        |    w = W()
        |    if p['time']: w.vi(1, p['time'])
        |    if p['name']: w.s(2, p['name'])
        |    for k in sorted(p['tags']):
        |        e = W(); e.s(1, k); e.s(2, p['tags'][k]); w.m(7, e.b)
        |    for k in sorted(p['fd']):
        |        e = W(); e.s(1, k); e.d(2, p['fd'][k]); w.m(8, e.b)
        |    for k in sorted(p['fi']):
        |        e = W(); e.s(1, k); e.vi(2, p['fi'][k]); w.m(9, e.b)
        |    for k in sorted(p['fs']):
        |        e = W(); e.s(1, k); e.s(2, p['fs'][k]); w.m(10, e.b)
        |    for k in sorted(p['fb']):
        |        e = W(); e.s(1, k); e.vi(2, 1 if p['fb'][k] else 0); w.m(12, e.b)
        |    return w.b
        |
        |def parse_marker(buf, tags_f, int_f):
        |    # BeginBatch: name=1 group=2 tags=3 size=4 byName=5
        |    # EndBatch:   name=1 group=2 tmax=3 tags=4 byName=5
        |    r = R(buf)
        |    m = {'name': '', 'group': '', 'tags': {}, 'iv': 0, 'byName': False}
        |    while r.more():
        |        f, w = r.tag()
        |        if f == 1: m['name'] = r.s()
        |        elif f == 2: m['group'] = r.s()
        |        elif f == tags_f:
        |            er = R(r.bts()); k = ''; v = ''
        |            while er.more():
        |                ef, ew = er.tag()
        |                if ef == 1: k = er.s()
        |                elif ef == 2: v = er.s()
        |                else: er.skip(ew)
        |            m['tags'][k] = v
        |        elif f == int_f: m['iv'] = r.uv()
        |        elif f == 5: m['byName'] = bool(r.uv())
        |        else: r.skip(w)
        |    return m
        |
        |def enc_marker(m, tags_f, int_f):
        |    w = W()
        |    if m['name']: w.s(1, m['name'])
        |    if m['group']: w.s(2, m['group'])
        |    if tags_f < int_f:
        |        for k in sorted(m['tags']):
        |            e = W(); e.s(1, k); e.s(2, m['tags'][k]); w.m(tags_f, e.b)
        |        if m['iv']: w.vi(int_f, m['iv'])
        |    else:
        |        if m['iv']: w.vi(int_f, m['iv'])
        |        for k in sorted(m['tags']):
        |            e = W(); e.s(1, k); e.s(2, m['tags'][k]); w.m(tags_f, e.b)
        |    if m['byName']: w.vi(5, 1)
        |    return w.b
        |
        |def respond(out, field, inner):
        |    w = W(); w.m(field, inner)
        |    lw = W(); lw.uv(len(w.b))
        |    out.write(bytes(lw.b)); out.write(bytes(w.b)); out.flush()
        |
        |def main():
        |    mode = sys.argv[1] if len(sys.argv) > 1 else 'ok'
        |    fin = sys.stdin.buffer; fout = sys.stdout.buffer
        |    inited = False; opt_desc = ''; cur_begin = None; cur_pts = []
        |    while True:
        |        n = read_uvarint(fin)
        |        if n is None: break
        |        buf = fin.read(n)
        |        r = R(buf)
        |        f, w = r.tag()
        |        inner = r.bts() if w == 2 else b''
        |        if f == 1:
        |            if mode == 'batch':
        |                iw = W(); iw.vi(1, 1); iw.vi(2, 1)  # BATCH wants+provides
        |                respond(fout, 1, iw.b)
        |            else:
        |                respond(fout, 1, b'')  # InfoResponse: STREAM/STREAM defaults
        |        elif f == 2:
        |            ir = R(inner); parts = []; task = ''
        |            while ir.more():
        |                ff, ww = ir.tag()
        |                if ff == 1 and ww == 2:
        |                    orr = R(ir.bts()); name = ''; vals = []
        |                    while orr.more():
        |                        of, ow = orr.tag()
        |                        if of == 1: name = orr.s()
        |                        elif of == 2 and ow == 2:
        |                            vr = R(orr.bts()); val = None
        |                            while vr.more():
        |                                vf, vw = vr.tag()
        |                                if vf == 2: val = bool(vr.uv())
        |                                elif vf == 3: val = vr.uv()
        |                                elif vf == 4: val = vr.f64()
        |                                elif vf == 5: val = vr.s()
        |                                elif vf == 6: val = vr.uv()
        |                                else: vr.skip(vw)
        |                            vals.append(str(val))
        |                        else: orr.skip(ow)
        |                    parts.append(name + '=' + ','.join(vals))
        |                elif ff == 2 and ww == 2: task = ir.s()
        |                else: ir.skip(ww)
        |            opt_desc = ';'.join(parts) + '|' + task
        |            if mode == 'failinit':
        |                iw = W(); iw.s(2, 'bad options')
        |                respond(fout, 2, iw.b)
        |            else:
        |                iw = W(); iw.vi(1, 1)
        |                respond(fout, 2, iw.b)
        |                inited = True
        |        elif f == 3:
        |            respond(fout, 3, inner)
        |        elif f == 16:
        |            if not inited: sys.exit(3)
        |            cur_begin = parse_marker(inner, 3, 4); cur_pts = []
        |        elif f == 18:
        |            if not inited or cur_begin is None: sys.exit(3)
        |            end = parse_marker(inner, 4, 3)
        |            cur_begin['iv'] = len(cur_pts)
        |            respond(fout, 16, enc_marker(cur_begin, 3, 4))
        |            for p in cur_pts:
        |                for k in p['fd']: p['fd'][k] = p['fd'][k] * 2.0
        |                p['tags']['agent'] = 'py'
        |                respond(fout, 17, enc_point(p))
        |            respond(fout, 18, enc_marker(end, 4, 3))
        |            cur_begin = None; cur_pts = []
        |        elif f == 17 and cur_begin is not None:
        |            cur_pts.append(parse_point(inner))
        |        elif f == 17:
        |            if not inited: sys.exit(3)
        |            if mode == 'stall':
        |                import time
        |                time.sleep(3600)
        |            if mode == 'senderror':
        |                ew = W(); ew.s(1, 'agent blew up')
        |                respond(fout, 6, ew.b); sys.exit(0)
        |            p = parse_point(inner)
        |            for k in p['fd']: p['fd'][k] = p['fd'][k] * 2.0
        |            p['tags']['agent'] = 'py'
        |            p['fs']['opts'] = opt_desc
        |            respond(fout, 17, enc_point(p))
        |
        |main()
        |""".stripMargin
}

/** The real-child half: the stub agent (independent codec) driven over
  * actual pipes by the partition runner. */
class UdfProtoAgentSpec extends SparkSpec {
  import spark.implicits._

  private def stubPath: String = ProtoStubAgent.path

  test("a real protobuf agent child round-trips points through the full handshake") {
    val pts = (1 to 40).map(i => ProtoPoint(
      time = i * 1000L, name = "cpu", database = "db", retentionPolicy = "rp",
      group = "", dimensions = Nil, tags = Map("host" -> s"h${i % 4}"),
      fieldsDouble = Map("load" -> i * 0.5), fieldsInt = Map("i" -> i.toLong),
      fieldsString = Map.empty, fieldsBool = Map("up" -> (i % 2 == 0)),
      byName = false))
    val ds = spark.createDataset(pts).repartition(3)
    val out = UdfProto.pipePoints(ds,
      Agent.Process(Seq("python3", "-u", stubPath, "ok")),
      options = Seq(
        "field" -> Seq(OptString("load")),
        "size"  -> Seq(OptInt(7), OptBool(true))),
      taskId = "t1", nodeId = "udf2")
      .collect().sortBy(_.time)
    assert(out.length === 40)
    out.zip(pts).foreach { case (o, p) =>
      assert(o.time === p.time)
      assert(o.fieldsDouble("load") === p.fieldsDouble("load") * 2.0)
      assert(o.fieldsInt === p.fieldsInt)
      assert(o.fieldsBool === p.fieldsBool)
      assert(o.tags === p.tags + ("agent" -> "py"))
      // the stub echoes the decoded InitRequest back: proves options,
      // option VALUES (incl. multi-value), and taskID crossed the wire
      assert(o.fieldsString("opts") === "field=load;size=7,True|t1")
    }
  }

  test("pipeLinePoints: the line-protocol bridge runs LinePoints through an agent") {
    val lines = Seq(
      """weather,loc=us temp=20.0,n=2i,ok=true,s="x" 1000""",
      """weather,loc=eu temp=-4.5 2000""").toDS()
    val parsed = graft.sources.LineProtocol.parse(lines)
    val out = UdfProto.pipeLinePoints(parsed,
      Agent.Process(Seq("python3", "-u", stubPath, "ok")), database = "mydb")
      .collect().sortBy(_.timeNs)
    assert(out.length === 2)
    assert(out(0).fieldsFloat("temp") === 40.0)
    assert(out(1).fieldsFloat("temp") === -9.0)
    assert(out(0).fieldsInt === Map("n" -> 2L))
    assert(out(0).fieldsBool === Map("ok" -> true))
    assert(out(0).tags === Map("loc" -> "us", "agent" -> "py"))
  }

  test("TICKscript |@udf() runs an unmodified protobuf agent with props as InitRequest options") {
    import graft.tick.TickScript
    val source = Seq(
      ("cpu", "a", new java.sql.Timestamp(1000), 1.5),
      ("cpu", "b", new java.sql.Timestamp(2000), 2.5),
      ("mem", "a", new java.sql.Timestamp(3000), 9.0))
      .toDF("measurement", "host", "time", "value")
    val agent = TickScript.protobufUdf(
      Agent.Process(Seq("python3", "-u", stubPath, "ok")),
      tagCols = Seq("host"), inFields = Seq("value"), outFields = Seq("value"))
    val script =
      """stream
        ||from().measurement('cpu')
        ||@pyagent().field('value').size(7)
        |""".stripMargin
    val out = TickScript.compile(script, source, udfs = Map("pyagent" -> agent))
      .select("measurement", "host", "value", "time").collect()
      .map(r => (r.getString(0), r.getString(1), r.getDouble(2), r.getTimestamp(3).getTime))
      .sortBy(_._4)
    // the stub doubles float fields — and received .field()/.size() as
    // typed InitRequest options (it exits 3 on any handshake violation)
    assert(out === Array(("cpu", "a", 3.0, 1000L), ("cpu", "b", 5.0, 2000L)))
  }

  test("protobufUdf outFieldsStr/outFieldsBool surface string and bool agent outputs typed") {
    import graft.tick.TickScript
    val source = Seq(
      ("cpu", "a", new java.sql.Timestamp(1000), 1.5, true),
      ("cpu", "b", new java.sql.Timestamp(2000), 2.5, false))
      .toDF("measurement", "host", "time", "value", "up")
    val agent = TickScript.protobufUdf(
      Agent.Process(Seq("python3", "-u", stubPath, "ok")),
      tagCols = Seq("host"), inFields = Seq("value", "up"),
      outFields = Seq("value"),
      outFieldsStr = Seq("opts"), outFieldsBool = Seq("up"))
    val script =
      """stream
        ||from().measurement('cpu')
        ||@pyagent().mark('x')
        |""".stripMargin
    val out = TickScript.compile(script, source, udfs = Map("pyagent" -> agent))
      .select("host", "value", "opts", "up").collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getString(2), r.getBoolean(3)))
      .sortBy(_._1)
    // the stub doubles floats, echoes bools, and writes the option echo
    // into fieldsString("opts") — each output lands with its own type
    assert(out === Array(
      ("a", 3.0, "mark=x|graft", true),
      ("b", 5.0, "mark=x|graft", false)))
  }

  test("fuzz: 200 nasty points survive the independent-codec agent round trip") {
    // protobuf strings are length-delimited: embedded newlines, quotes,
    // backslashes and multibyte text need NO escaping — the exact
    // payloads the line-protocol bridge must escape. Round-trip them
    // through the Python stub (independent codec) and assert identity
    // modulo the stub's documented transforms (doubles x2, +agent tag,
    // +opts string field).
    val nasty = "a\nb\t\"c\"\\d,e=f 漢字 π\u0000end"
    val rnd = new scala.util.Random(14L)
    def rs(): String = (0 until rnd.nextInt(12)).map(_ => nasty(rnd.nextInt(nasty.length))).mkString
    val pts = (1 to 200).map { i =>
      ProtoPoint(
        time = rnd.nextLong(), name = "m" + rs(), database = rs(),
        retentionPolicy = rs(), group = rs(),
        dimensions = (0 until rnd.nextInt(3)).map(_ => rs()),
        tags = (0 until rnd.nextInt(3)).map(j => s"t$j" -> rs()).toMap,
        fieldsDouble = Map("v" -> (rnd.nextDouble() * 2e6 - 1e6)),
        fieldsInt = Map("i" -> rnd.nextLong()),
        fieldsString = Map("s" -> rs()),
        fieldsBool = Map("b" -> rnd.nextBoolean()),
        byName = rnd.nextBoolean())
    }
    // codec-level identity first (no child involved)
    pts.foreach(p => assert(UdfProto.decodePoint(UdfProto.encodePoint(p)) === p))
    // then through the live stub; key on fieldsInt("i") + index-stable time
    val indexed = pts.zipWithIndex.map { case (p, i) => p.copy(time = i.toLong + 1) }
    val out = UdfProto.pipePoints(
        spark.createDataset(indexed).repartition(4),
        Agent.Process(Seq("python3", "-u", stubPath, "ok")))
      .collect().sortBy(_.time)
    assert(out.length === 200)
    out.zip(indexed).foreach { case (o, p) =>
      assert(o.name === p.name)
      assert(o.tags === p.tags + ("agent" -> "py"))
      assert(o.fieldsInt === p.fieldsInt)
      assert(o.fieldsBool === p.fieldsBool)
      assert(o.fieldsString("s") === p.fieldsString("s"))
      assert(o.fieldsDouble("v") === p.fieldsDouble("v") * 2.0)
    }
  }

  test("streaming micro-batches spawn one agent per partition per batch, output ≡ batch") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val ctx = spark.sqlContext
    val pts = (1 to 30).map(i => ProtoPoint(
      time = i * 1000L, name = "cpu", database = "", retentionPolicy = "",
      group = "", dimensions = Nil, tags = Map("host" -> s"h${i % 3}"),
      fieldsDouble = Map("v" -> i * 1.5), fieldsInt = Map.empty,
      fieldsString = Map.empty, fieldsBool = Map.empty, byName = false))
    val ms = MemoryStream[ProtoPoint]
    val q = UdfProto.pipePoints(ms.toDS(),
        Agent.Process(Seq("python3", "-u", stubPath, "ok")))
      .writeStream.format("memory").queryName("udfproto_par")
      .outputMode("append").start()
    try {
      ms.addData(pts.take(12)); q.processAllAvailable()
      ms.addData(pts.drop(12)); q.processAllAvailable()
      val streamed = spark.table("udfproto_par").as[ProtoPoint].collect()
        .sortBy(_.time)
      val batch = UdfProto.pipePoints(
        spark.createDataset(pts), Agent.Process(Seq("python3", "-u", stubPath, "ok")))
        .collect().sortBy(_.time)
      assert(streamed.toSeq === batch.toSeq)
      assert(batch.length === 30 && batch.head.fieldsDouble("v") === 3.0)
    } finally q.stop()
  }

  test("keepalive prober kills a stalled child with a named timeout; healthy children unaffected") {
    // the stub's stall mode hangs on the first point: reads nothing more,
    // writes nothing — the exact stall the bridge doc flags as invisible
    // without keepalives. ENOUGH points that the writer thread genuinely
    // blocks on the full pipe while HOLDING the write lock — the prober
    // must detect the timeout via its lock-free elapsed check (a blocking
    // probe would deadlock behind the stalled write forever)
    val pts = (1 to 100000).map(i => ProtoPoint(
      i.toLong, "m", "", "", "", Nil, Map.empty, Map("v" -> i * 1.0),
      Map.empty, Map.empty, Map.empty, byName = false))
    val ds = spark.createDataset(pts).coalesce(1)
    val t0 = System.nanoTime()
    val e = intercept[org.apache.spark.SparkException] {
      UdfProto.pipePoints(ds, Agent.Process(Seq("python3", "-u", stubPath, "stall")),
        keepaliveMs = 400L).collect()
    }
    assert(e.getMessage.contains("keepalive timeout"))
    assert((System.nanoTime() - t0) / 1e9 < 30, "kill was not prompt")
    // a child that never even speaks the protocol (hangs before the
    // handshake) must die by the same timeout — the prober starts before
    // Info, like the reference's keepalive goroutine starting at Open
    val t1 = System.nanoTime()
    val e2 = intercept[org.apache.spark.SparkException] {
      UdfProto.pipePoints(spark.createDataset(pts.take(5)).coalesce(1),
        Agent.Process(Seq("sleep", "3600")), keepaliveMs = 400L).collect()
    }
    assert(e2.getMessage.contains("keepalive timeout"))
    assert((System.nanoTime() - t1) / 1e9 < 30, "handshake hang not killed")
    // a healthy child under keepalive: probes interleave, results intact.
    // The window must also cover interpreter STARTUP (the timer runs from
    // spawn, like the reference's keepalive goroutine from Open) — under a
    // fully loaded 32-thread suite python3 can take >200ms to first write,
    // so the healthy-child window is deliberately generous
    val small = spark.createDataset(pts.take(10)).coalesce(1)
    val ok = UdfProto.pipePoints(small, Agent.Process(Seq("python3", "-u", stubPath, "ok")),
      keepaliveMs = 1500L).collect().sortBy(_.time)
    assert(ok.length === 10)
    assert(ok.map(_.fieldsDouble("v")).toSeq === (1 to 10).map(_ * 2.0))
  }

  test("slow downstream consumer under keepalive is NOT killed (reader thread keeps the timer fed)") {
    // the regression the dedicated reader thread closes: responses used
    // to be read only when the task thread pulled the iterator, so a
    // consumer pausing > keepaliveMs between next() calls let the timer
    // go stale and the prober killed a perfectly healthy agent
    val pts = (1 to 4).map(i => ProtoPoint(
      i.toLong, "m", "", "", "", Nil, Map.empty, Map("v" -> i * 1.0),
      Map.empty, Map.empty, Map.empty, byName = false))
    // keepalive must also cover python startup under suite load (see the
    // prober test above); the pause stays well beyond it so the property
    // (consumer-side stalls don't starve the timer) is still exercised
    val it = UdfProto.runAgentPartition(
      Agent.Process(Seq("python3", "-u", stubPath, "ok")), Nil, "t", "n",
      pts.iterator, keepaliveMs = 700L)
    val acc = scala.collection.mutable.ArrayBuffer.empty[ProtoPoint]
    while (it.hasNext) {
      acc += it.next()
      Thread.sleep(1800) // far beyond keepaliveMs: only reader-thread draining survives this
    }
    assert(acc.map(_.fieldsDouble("v")).sorted === Seq(2.0, 4.0, 6.0, 8.0))
  }

  test("BATCH→BATCH: a real Scala batch agent round-trips BufferedBatch framing") {
    val batches = (0 until 3).map { g =>
      ProtoBatch(
        name = "cpu", group = s"host=h$g", tags = Map("host" -> s"h$g"),
        byName = false, tmax = 10000L * (g + 1),
        points = (1 to 4 + g).map(i => ProtoPoint(
          i * 1000L + g, "", "", "", s"host=h$g", Nil,
          Map("i" -> i.toString), Map("value" -> (i * 1.0 + g * 10)),
          Map.empty, Map.empty, Map.empty, byName = false)))
    }
    val out = UdfProto.pipeBatches(
        spark.createDataset(batches).coalesce(2),
        Agent.Process(
          Seq("java", "-cp", sys.props("java.class.path"), "graft.tools.BatchStatsAgent")),
        options = Seq("field" -> Seq(OptString("value"))))
      .collect().sortBy(_.group)
    assert(out.length === 3)
    out.zip(batches).foreach { case (o, b) =>
      assert(o.name === b.name && o.group === b.group)
      assert(o.tags === b.tags && o.tmax === b.tmax)
      assert(o.points.length === b.points.length)
      val vmax = b.points.map(_.fieldsDouble("value")).max
      o.points.foreach { p =>
        assert(p.fieldsDouble("vmax") === vmax)
        assert(p.fieldsInt("batch_n") === b.points.length.toLong)
      }
      assert(o.points.map(_.fieldsDouble("value")).sorted ===
        b.points.map(_.fieldsDouble("value")).sorted)
    }
  }

  test("BATCH→BATCH against the independent Python codec (batch-mode stub)") {
    val batches = (0 until 2).map { g =>
      ProtoBatch(
        name = "reqs", group = s"dc=d$g", tags = Map("dc" -> s"d$g"),
        byName = false, tmax = 777L + g,
        points = (1 to 3).map(i => ProtoPoint(
          i * 10L + g, "", "", "", s"dc=d$g", Nil,
          Map("k" -> s"$g-$i"), Map("v" -> (i * 2.0)),
          Map.empty, Map.empty, Map.empty, byName = false)))
    }
    val out = UdfProto.pipeBatches(
        spark.createDataset(batches).coalesce(1),
        Agent.Process(Seq("python3", "-u", stubPath, "batch")))
      .collect().sortBy(_.group)
    assert(out.length === 2)
    out.zip(batches).foreach { case (o, b) =>
      assert(o.name === b.name && o.group === b.group && o.tmax === b.tmax)
      assert(o.tags === b.tags)
      assert(o.points.length === 3)
      // the stub doubles float fields and tags each batch point
      o.points.sortBy(_.time).zip(b.points).foreach { case (op, bp) =>
        assert(op.fieldsDouble("v") === bp.fieldsDouble("v") * 2.0)
        assert(op.tags === bp.tags + ("agent" -> "py"))
      }
    }
  }

  test("BATCH→STREAM: one aggregate point per batch (BatchAggAgent)") {
    val batches = (0 until 3).map { g =>
      ProtoBatch(
        name = "cpu", group = s"host=h$g", tags = Map("host" -> s"h$g"),
        byName = false, tmax = 5000L * (g + 1),
        points = (1 to 5).map(i => ProtoPoint(
          i * 1000L, "", "", "", s"host=h$g", Nil,
          Map.empty, Map("value" -> (i * 1.0 + g * 100)),
          Map.empty, Map.empty, Map.empty, byName = false)))
    }
    val out = UdfProto.pipeBatchesToPoints(
        spark.createDataset(batches).coalesce(1),
        Agent.Process(
          Seq("java", "-cp", sys.props("java.class.path"), "graft.tools.BatchAggAgent")))
      .collect().sortBy(_.group)
    assert(out.length === 3)
    out.zip(batches).foreach { case (p, b) =>
      assert(p.time === b.tmax && p.name === "cpu" && p.group === b.group)
      assert(p.tags === b.tags)
      assert(p.fieldsInt("n") === 5L)
      assert(p.fieldsDouble("vmax") === b.points.map(_.fieldsDouble("value")).max)
    }
  }

  test("TICKscript windowed |@udf() drives a BATCH-edge agent per (group, window)") {
    import graft.tick.TickScript
    val rows = for {
      h <- Seq("a", "b")
      (t, v) <- Seq((1, 1.0), (3, 5.0), (5, 2.0), (12, 7.0), (14, 4.0))
    } yield ("cpu", h, new java.sql.Timestamp(t * 1000L),
      v + (if (h == "b") 10.0 else 0.0))
    val source = rows.toDF("measurement", "host", "time", "value")
    val agent = TickScript.protobufBatchUdf(
      Agent.Process(
        Seq("java", "-cp", sys.props("java.class.path"), "graft.tools.BatchStatsAgent")),
      tagCols = Seq("host"), inFields = Seq("value"),
      outFields = Seq("value", "vmax", "batch_n"))
    val script =
      """stream
        ||from().measurement('cpu').groupBy('host')
        ||window().period(10s).every(10s)
        ||@bstats().field('value')
        |""".stripMargin
    val out = TickScript.compile(script, source, udfs = Map("bstats" -> agent))
      .select("host", "bucket_s", "value", "vmax", "batch_n")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4)))
    assert(out.length === 10)
    // the agent saw one batch per (group, window): its per-batch stats
    // must match a per-(host, bucket) recomputation
    out.groupBy(t => (t._1, t._2)).foreach { case ((h, bk), grp) =>
      val vmax = grp.map(_._3).max
      assert(grp.forall(_._4 === vmax), s"vmax wrong for ($h, $bk)")
      assert(grp.forall(_._5 === grp.size.toDouble), s"batch_n wrong for ($h, $bk)")
    }
    val sizes = out.groupBy(t => (t._1, t._2)).view.mapValues(_.size).values.toSeq.sorted
    assert(sizes === Seq(2, 2, 3, 3)) // two hosts × two real windows
    // a stream (un-windowed) chain refuses the batch-edge UDF loudly
    val e = intercept[IllegalArgumentException] {
      TickScript.compile(
        """stream
          ||from().measurement('cpu')
          ||@bstats()
          |""".stripMargin, source, udfs = Map("bstats" -> agent))
    }
    assert(e.getMessage.contains("windowed"))
  }

  test("TICKscript windowed |@udf() drives a BATCH→STREAM agent: one point per window") {
    // the reference's moving_avg shape bound into a script: batches in,
    // plain points out — the chain continues as a point stream (no
    // bucket column), one emitted point per (host, window) at tmax
    import graft.tick.TickScript
    val rows = for {
      h <- Seq("a", "b")
      (t, v) <- Seq((1, 1.0), (3, 5.0), (5, 2.0), (12, 7.0), (14, 4.0))
    } yield ("cpu", h, new java.sql.Timestamp(t * 1000L),
      v + (if (h == "b") 10.0 else 0.0))
    val source = rows.toDF("measurement", "host", "time", "value")
    val agent = TickScript.protobufBatchToPointsUdf(
      Agent.Process(
        Seq("java", "-cp", sys.props("java.class.path"), "graft.tools.BatchAggAgent")),
      tagCols = Seq("host"), inFields = Seq("value"), outFields = Seq("vmax"))
    val script =
      """stream
        ||from().measurement('cpu').groupBy('host')
        ||window().period(10s).every(10s)
        ||@bagg().field('value')
        |""".stripMargin
    val out = TickScript.compile(script, source, udfs = Map("bagg" -> agent))
    assert(!out.columns.contains("bucket_s")) // point edge now
    val got = out.select("host", "time", "vmax")
      .collect().map(r => (r.getString(0), r.getTimestamp(1).getTime, r.getDouble(2)))
      .sortBy(t => (t._1, t._2)).toSeq
    // per (host, window) maxima at each window's last point time
    assert(got === Seq(
      ("a", 5000L, 5.0), ("a", 14000L, 7.0),
      ("b", 5000L, 15.0), ("b", 14000L, 17.0)))
  }

  test("streaming pipeBatches: batch-edge agents run per micro-batch, output ≡ batch") {
    // pipeBatches is mapPartitions-shaped, so pre-assembled batches (from
    // a windowed stateful stage or foreachBatch) stream through BATCH
    // agents exactly like points do through STREAM agents
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val ctx = spark.sqlContext
    val batches = (0 until 4).map { g =>
      ProtoBatch(
        name = "cpu", group = s"host=h$g", tags = Map("host" -> s"h$g"),
        byName = false, tmax = 1000L * (g + 1),
        points = (1 to 3).map(i => ProtoPoint(
          i * 100L + g, "", "", "", s"host=h$g", Nil,
          Map.empty, Map("value" -> (i * 1.0 + g * 10)),
          Map.empty, Map.empty, Map.empty, byName = false)))
    }
    val cmd = Agent.Process(
      Seq("java", "-cp", sys.props("java.class.path"), "graft.tools.BatchStatsAgent"))
    val ms = MemoryStream[ProtoBatch]
    val q = UdfProto.pipeBatches(ms.toDS(), cmd)
      .writeStream.format("memory").queryName("udfproto_batches")
      .outputMode("append").start()
    try {
      ms.addData(batches.take(2)); q.processAllAvailable()
      ms.addData(batches.drop(2)); q.processAllAvailable()
      val streamed = spark.table("udfproto_batches").as[ProtoBatch].collect()
        .sortBy(_.group)
      val direct = UdfProto.pipeBatches(spark.createDataset(batches), cmd)
        .collect().sortBy(_.group)
      assert(streamed.toSeq === direct.toSeq)
      assert(direct.length === 4)
      direct.zip(batches).foreach { case (o, b) =>
        assert(o.points.forall(_.fieldsInt("batch_n") === 3L))
        assert(o.points.forall(_.fieldsDouble("vmax") ===
          b.points.map(_.fieldsDouble("value")).max))
      }
    } finally q.stop()
  }

  test("edge-type mismatch fails fast at InfoResponse, both directions") {
    val cp = sys.props("java.class.path")
    val onePoint = spark.createDataset(Seq(ProtoPoint(
      1L, "m", "", "", "", Nil, Map.empty, Map("v" -> 1.0),
      Map.empty, Map.empty, Map.empty, byName = false))).coalesce(1)
    val e1 = intercept[org.apache.spark.SparkException] {
      UdfProto.pipePoints(onePoint,
        Agent.Process(Seq("java", "-cp", cp, "graft.tools.BatchStatsAgent"))).collect()
    }
    assert(e1.getMessage.contains("wants a BATCH edge"))
    val oneBatch = spark.createDataset(Seq(ProtoBatch(
      "m", "", Map.empty, byName = false, tmax = 1L,
      points = Seq(ProtoPoint(1L, "", "", "", "", Nil, Map.empty,
        Map("v" -> 1.0), Map.empty, Map.empty, Map.empty, byName = false)))))
      .coalesce(1)
    val e2 = intercept[org.apache.spark.SparkException] {
      UdfProto.pipeBatches(oneBatch,
        Agent.Process(Seq("java", "-cp", cp, "graft.tools.ScaleAgent"))).collect()
    }
    assert(e2.getMessage.contains("wants a STREAM edge"))
  }

  test("Snapshot/Restore RPCs carry agent state across processes (CounterAgent)") {
    val cp = sys.props("java.class.path")
    def pts(r: Range): Seq[ProtoPoint] = r.map(i => ProtoPoint(
      i.toLong, "m", "", "", "", Nil, Map.empty, Map("v" -> 1.0),
      Map.empty, Map.empty, Map.empty, byName = false))
    // first life: 5 points, snapshot requested after the stream
    var snap: Array[Byte] = null
    val first = UdfProto.runAgentPartition(
      Agent.Process(Seq("java", "-cp", cp, "graft.tools.CounterAgent")), Nil, "t", "n",
      pts(1 to 5).iterator, onSnapshot = b => snap = b).toList
    assert(first.map(_.fieldsInt("seq")) === (1L to 5L).toList)
    assert(snap != null && new String(snap, "UTF-8") === "5")
    // second life: restore replays the snapshot right after Init — the
    // sequence continues where the first process stopped
    val second = UdfProto.runAgentPartition(
      Agent.Process(Seq("java", "-cp", cp, "graft.tools.CounterAgent")), Nil, "t", "n",
      pts(6 to 8).iterator, restoreSnapshot = Some(snap)).toList
    assert(second.map(_.fieldsInt("seq")) === List(6L, 7L, 8L))
    // a corrupt snapshot fails the handshake with the agent's message
    val e = intercept[RuntimeException] {
      UdfProto.runAgentPartition(
        Agent.Process(Seq("java", "-cp", cp, "graft.tools.CounterAgent")), Nil, "t", "n",
        pts(1 to 1).iterator,
        restoreSnapshot = Some("junk".getBytes("UTF-8"))).toList
    }
    assert(e.getMessage.contains("restore failed") && e.getMessage.contains("bad snapshot"))
  }

  test("init failure and agent ErrorResponse both fail the task with the message") {
    val one = spark.createDataset(Seq(ProtoPoint(
      1L, "m", "", "", "", Nil, Map.empty, Map("v" -> 1.0),
      Map.empty, Map.empty, Map.empty, byName = false))).coalesce(1)
    val e1 = intercept[org.apache.spark.SparkException] {
      UdfProto.pipePoints(one,
        Agent.Process(Seq("python3", "-u", stubPath, "failinit"))).collect()
    }
    assert(e1.getMessage.contains("init failed") && e1.getMessage.contains("bad options"))
    val e2 = intercept[org.apache.spark.SparkException] {
      UdfProto.pipePoints(one,
        Agent.Process(Seq("python3", "-u", stubPath, "senderror"))).collect()
    }
    assert(e2.getMessage.contains("agent blew up"))
  }
}
