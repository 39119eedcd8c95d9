package graft

import java.io.ByteArrayOutputStream
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import graft.cli.{Commands, Zng, Zson}
import graft.pool.Pool

/** ZNG (binary Zed) reader: writer/reader round trips over the demo-fixture
  * shapes, hand-encoded frames for the types the writer doesn't emit, and
  * the produce-level guarantee that a `.zng` fixture loads the same pool
  * contents as its `.zson` twin (cmd/zync/produce/command.go:72-81 reads
  * any Zed format).
  */
class ZngSpec extends AnyFunSuite {
  private def spark = TestSpark.spark

  // hand-written twin of the demo's first CDC batch (src/test/resources)
  private val demoZson = {
    val in = getClass.getResourceAsStream("/demo/batch-1.zson")
    try new String(in.readAllBytes(), UTF_8) finally in.close()
  }

  // ---- helpers to hand-encode frames -------------------------------------

  private def uv(out: ByteArrayOutputStream, v0: Long): Unit = {
    var v = v0
    while ((v & ~0x7fL) != 0L) { out.write(((v & 0x7f) | 0x80).toInt); v >>>= 7 }
    out.write((v & 0x7f).toInt)
  }

  private def frame(ftype: Int, payload: Array[Byte]): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    out.write((ftype << 4) | (payload.length & 0xf))
    uv(out, (payload.length >> 4).toLong)
    out.write(payload, 0, payload.length)
    out.toByteArray
  }

  private def bytesOf(parts: Array[Byte]*): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    parts.foreach(p => out.write(p, 0, p.length))
    out.write(0xff)
    out.toByteArray
  }

  private def payload(build: ByteArrayOutputStream => Unit): Array[Byte] = {
    val out = new ByteArrayOutputStream(); build(out); out.toByteArray
  }

  private def tagged(body: Array[Byte]): Array[Byte] = payload { o =>
    uv(o, body.length.toLong + 1); o.write(body, 0, body.length)
  }

  // ---- round trips -------------------------------------------------------

  test("demo batch fixture round-trips writer -> reader exactly") {
    val lines = Zson.toJsonLines(demoZson)
    assert(lines.nonEmpty)
    val zng = Zng.write(lines)
    assert(Zng.readJsonLines(zng) == lines)
  }

  test("typedefs are interned once per distinct type") {
    val lines = Seq.fill(50)("""{"a":1,"b":"x"}""") :+ """{"c":true}"""
    val zng = Zng.write(lines)
    // 2 record typedefs, 51 values; re-encoding the same shape must not grow
    // the types frame — compare against a 2-line stream's framing overhead
    val small = Zng.write(Seq("""{"a":1,"b":"x"}""", """{"c":true}"""))
    val perValue = """{"a":1,"b":"x"}""".length // generous upper bound per value
    assert(zng.length < small.length + 49 * perValue)
    assert(Zng.readJsonLines(zng) == lines)
  }

  test("named types round-trip via the _type convention, nested too") {
    val lines = Seq(
      """{"_type":"cursor","seqno":2}""",
      """{"outer":{"_type":"inner","v":1},"n":3}""")
    assert(Zng.readJsonLines(Zng.write(lines)) == lines)
  }

  test("arrays, floats, nulls, empty arrays round-trip") {
    val lines = Seq(
      """{"xs":[1,2,3],"f":2.5,"nil":null,"empty":[],"neg":-300.0}""",
      """{"xs":[],"f":-0.25,"nil":null,"empty":[],"neg":1.0}""")
    assert(Zng.readJsonLines(Zng.write(lines)) == lines)
  }

  test("LZ4-compressed values frames decode") {
    val lines = (1 to 200).map(i => s"""{"id":$i,"name":"row-$i"}""")
    val zng = Zng.write(lines, compress = true)
    val plain = Zng.write(lines)
    assert(zng.length < plain.length) // compression actually engaged
    assert(Zng.readJsonLines(zng) == lines)
  }

  test("end-of-stream resets the type context") {
    val one = Zng.write(Seq("""{"a":1}"""))
    val two = Zng.write(Seq("""{"b":"x"}"""))
    // two concatenated streams: same typedef id 30 redefined after EOS
    val both = one ++ two
    assert(Zng.readJsonLines(both) == Seq("""{"a":1}""", """{"b":"x"}"""))
  }

  test("control frames are skipped") {
    val one = Zng.write(Seq("""{"a":1}"""))
    val ctrl = frame(2, "arbitrary app control".getBytes(UTF_8))
    // splice the control frame ahead of the stream (before its EOS)
    val spliced = ctrl ++ one
    assert(Zng.readJsonLines(spliced) == Seq("""{"a":1}"""))
  }

  // ---- hand-encoded decodes for types the writer doesn't emit ------------

  test("unsigned ints, bool, bytes, time, duration, ip, net decode") {
    val types = payload { o =>
      o.write(0); uv(o, 7) // record of 7 fields
      for ((name, tid) <- Seq("u" -> 3, "b" -> 23, "by" -> 24, "t" -> 13, "d" -> 12, "ip" -> 26, "nt" -> 27)) {
        val nb = name.getBytes(UTF_8); uv(o, nb.length.toLong); o.write(nb); uv(o, tid.toLong)
      }
    }
    val values = payload { o =>
      uv(o, 30L) // the record type
      val body = payload { b =>
        b.write(tagged(Array(0xff.toByte, 0xff.toByte))) // uint64 0xffff = 65535 (LE minimal)
        b.write(tagged(Array(1.toByte))) // bool true
        b.write(tagged(Array(0xde.toByte, 0xad.toByte))) // bytes 0xdead
        // time: zigzag(1e9 nanos) = 2e9 → 1970-01-01T00:00:01Z
        b.write(tagged(Array(0x00, 0x94, 0x35, 0x77).map(_.toByte))) // LE of 2000000000
        b.write(tagged(Array(0x07.toByte))) // duration zigzag 7 → -4? no: zigzag-decode(7)= -4
        b.write(tagged(Array(10, 0, 0, 1).map(_.toByte))) // ip 10.0.0.1
        b.write(tagged(Array(192.toByte, 168.toByte, 0, 0, 255.toByte, 255.toByte, 0, 0))) // net /16
      }
      o.write(tagged(body))
    }
    val stream = bytesOf(frame(0, types), frame(1, values))
    val Seq(line) = Zng.readJsonLines(stream)
    assert(line ==
      """{"u":65535,"b":true,"by":"0xdead","t":"1970-01-01T00:00:01Z","d":-4,"ip":"10.0.0.1","nt":"192.168.0.0/16"}""")
  }

  test("sets, maps, enums, unions, errors decode") {
    val types = payload { o =>
      o.write(2); uv(o, 9L)                        // 30: set of int64
      o.write(3); uv(o, 25L); uv(o, 9L)            // 31: map[string]int64
      o.write(5); uv(o, 2L)                        // 32: enum{lo,hi}
      for (s <- Seq("lo", "hi")) { val b = s.getBytes(UTF_8); uv(o, b.length.toLong); o.write(b) }
      o.write(4); uv(o, 2L); uv(o, 9L); uv(o, 25L) // 33: union(int64,string)
      o.write(6); uv(o, 25L)                       // 34: error(string)
      o.write(0); uv(o, 5L)                        // 35: record{s,m,e,u,err}
      for ((name, tid) <- Seq("s" -> 30, "m" -> 31, "e" -> 32, "u" -> 33, "err" -> 34)) {
        val nb = name.getBytes(UTF_8); uv(o, nb.length.toLong); o.write(nb); uv(o, tid.toLong)
      }
    }
    val values = payload { o =>
      uv(o, 35L)
      val setBody = payload { b => b.write(tagged(Array(2.toByte))); b.write(tagged(Array(4.toByte))) } // zigzag: 1, 2
      val mapBody = payload { b =>
        b.write(tagged("k1".getBytes(UTF_8))); b.write(tagged(Array(2.toByte))) // "k1" -> 1
      }
      val enumBody = tagged(Array(1.toByte)) // index 1 = "hi"
      val unionBody = payload { b =>
        b.write(tagged(Array(2.toByte)))               // selector zigzag 2 → 1 = string branch
        b.write(tagged("picked".getBytes(UTF_8)))
      }
      val errBody = tagged("boom".getBytes(UTF_8))
      val body = payload { b =>
        b.write(tagged(setBody)); b.write(tagged(mapBody)); b.write(enumBody)
        b.write(tagged(unionBody)); b.write(tagged(errBody))
      }
      o.write(tagged(body))
    }
    val stream = bytesOf(frame(0, types), frame(1, values))
    val Seq(line) = Zng.readJsonLines(stream)
    assert(line ==
      """{"s":[1,2],"m":[{"key":"k1","value":1}],"e":"hi","u":"picked","err":{"error":"boom"}}""")
  }

  test("corrupt streams raise clear errors, not garbage") {
    val good = Zng.write(Seq("""{"a":1}"""))
    // truncation mid-frame
    intercept[IllegalArgumentException](Zng.readJsonLines(good.dropRight(3)))
    // unknown typedef opcode
    val badTypes = bytesOf(frame(0, Array(9.toByte)))
    intercept[IllegalArgumentException](Zng.readJsonLines(badTypes))
    // value referencing an undefined type id
    val badRef = bytesOf(frame(1, payload { o => uv(o, 31L); uv(o, 0L) }))
    intercept[IllegalArgumentException](Zng.readJsonLines(badRef))
    // unsupported primitive (decimal64 = 20)
    val badPrim = bytesOf(frame(1, payload { o => uv(o, 20L); o.write(tagged(Array(1.toByte))) }))
    intercept[IllegalArgumentException](Zng.readJsonLines(badPrim))
  }

  // ---- the verdict's done-criterion --------------------------------------

  test("produce: a .zng fixture loads the same pool contents as its .zson twin") {
    val dir = Files.createTempDirectory("zng-produce")
    val zsonPath = dir.resolve("batch-1.zson")
    Files.write(zsonPath, demoZson.getBytes(UTF_8))
    val zngPath = dir.resolve("batch-1.zng")
    Files.write(zngPath, Zng.write(Zson.toJsonLines(demoZson)))

    val poolA = Pool.create(spark, dir.resolve("poolA").toString)
    val poolB = Pool.create(spark, dir.resolve("poolB").toString)
    val nA = Commands.produce(spark, poolA, zsonPath.toString, "demo")
    val nB = Commands.produce(spark, poolB, zngPath.toString, "demo")
    assert(nA == nB && nA > 0)

    val a = poolA.read().toJSON.collect().sorted.toSeq
    val b = poolB.read().toJSON.collect().sorted.toSeq
    assert(a == b)
  }

  test("consume -f zng closes the binary loop: pool -> zng -> produce -> same pool") {
    val dir = Files.createTempDirectory("zng-consume")
    val src = dir.resolve("batch-1.zson")
    Files.write(src, demoZson.getBytes(UTF_8))
    val pool = Pool.create(spark, dir.resolve("pool").toString)
    Commands.produce(spark, pool, src.toString, "demo")

    // binary consume decodes to exactly the JSON-lines consume
    val zng = Commands.consumeZng(pool)
    assert(Zng.readJsonLines(zng) == Commands.consume(pool, format = "json"))

    // ... and re-producing that stream yields identical pool contents
    val reload = dir.resolve("reload.zng")
    Files.write(reload, zng)
    val pool2 = Pool.create(spark, dir.resolve("pool2").toString)
    Commands.produce(spark, pool2, reload.toString, "demo")
    // produce re-wraps each consumed line as a value envelope, so pool2's
    // value column holds pool1's whole records — unwrap and compare as
    // parsed trees (spark.read.json orders fields alphabetically, so the
    // strings differ only in field order)
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    def trees(lines: Seq[String]) = lines.map(om.readTree).sortBy(_.toString)
    val rewrapped = pool2.read().selectExpr("value.*").toJSON.collect().toSeq
    val original = pool.read().toJSON.collect().toSeq
    assert(trees(rewrapped) == trees(original))
  }
}
