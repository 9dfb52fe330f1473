package graft.operators

import java.nio.charset.StandardCharsets.{US_ASCII, UTF_8}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import Bytes._

/** Archive-layer intake: the gzip member walk and WARC/1.0 record
  * grammar a web-crawl training pipeline reads before it ever sees a
  * document — Common Crawl ships exactly this shape (one gzip MEMBER
  * per WARC record, concatenated, so a reader can seek to a record
  * without inflating the file). All parsing is real: RFC 1952 headers
  * with every optional field (FEXTRA/FNAME/FCOMMENT/FHCRC), raw
  * DEFLATE via the JVM's Inflater (public API, same route as the PNG
  * IDAT path), CRC-32 + ISIZE trailers verified per member, and the
  * WARC/1.0 header block + Content-Length framing + HTTP response
  * envelope on top. Payload CONTENT rides through — the gate pins the
  * round-trip by md5 of the recovered document text.
  *
  * Determinism contract: parse is a pure function of the bytes; any
  * bad magic, flag-reserved bit, trailer mismatch, or framing slip is
  * a None, never a task failure.
  */
object ArchiveCodec {

  // ------------------------------------------------------------ gzip

  /** One gzip member: optional FNAME, the inflated payload, and the
    * compressed span (for seek indexes). */
  final case class GzipMember(name: Option[String], data: Array[Byte],
                              compressedLen: Int)

  /** Raw DEFLATE at BEST_SPEED — the gzip member and ZIP entry body. */
  private def rawDeflate(data: Array[Byte]): Array[Byte] =
    deflate(data, java.util.zip.Deflater.BEST_SPEED, nowrap = true)

  /** The low `n` bytes of `v`, little-endian. */
  private def putLe(out: java.io.ByteArrayOutputStream, v: Long,
                    n: Int): Unit =
    (0 until n).foreach(i => out.write(((v >>> (8 * i)) & 0xff).toInt))

  /** RFC 1952 multi-member walk: per member the 10-byte header,
    * FEXTRA/FNAME/FCOMMENT/FHCRC in spec order, a raw-DEFLATE body,
    * and the CRC-32 + ISIZE trailer both verified against the
    * inflated bytes. */
  def gunzipMembers(b: Array[Byte]): Option[Seq[GzipMember]] = {
    val members = Seq.newBuilder[GzipMember]
    var pos = 0
    try {
      while (pos < b.length) {
        val start = pos
        if (pos + 10 > b.length) return None
        if ((b(pos) & 0xff) != 0x1f || (b(pos + 1) & 0xff) != 0x8b)
          return None
        if ((b(pos + 2) & 0xff) != 8) return None // CM: deflate only
        val flg = b(pos + 3) & 0xff
        if ((flg & 0xe0) != 0) return None // reserved bits must be 0
        pos += 10 // MTIME(4), XFL, OS skipped
        if ((flg & 0x04) != 0) { // FEXTRA
          if (pos + 2 > b.length) return None
          val xlen = le16(b, pos)
          pos += 2 + xlen
          if (pos > b.length) return None
        }
        var name: Option[String] = None
        if ((flg & 0x08) != 0) { // FNAME: zero-terminated
          val z = b.indexOf(0.toByte, pos)
          if (z < 0) return None
          name = Some(new String(b, pos, z - pos, UTF_8))
          pos = z + 1
        }
        if ((flg & 0x10) != 0) { // FCOMMENT
          val z = b.indexOf(0.toByte, pos)
          if (z < 0) return None
          pos = z + 1
        }
        if ((flg & 0x02) != 0) { // FHCRC: low 16 bits of header CRC
          if (pos + 2 > b.length) return None
          val stored = le16(b, pos)
          val crc = new java.util.zip.CRC32()
          crc.update(b, start, pos - start)
          if ((crc.getValue & 0xffff) != stored) return None
          pos += 2
        }
        val inf = new java.util.zip.Inflater(true) // raw deflate
        inf.setInput(b, pos, b.length - pos)
        val out = new java.io.ByteArrayOutputStream()
        val buf = new Array[Byte](8192)
        while (!inf.finished()) {
          val n = inf.inflate(buf)
          if (n == 0 && !inf.finished()) return None // truncated
          out.write(buf, 0, n)
        }
        val consumed = (b.length - pos) - inf.getRemaining
        inf.end()
        pos += consumed
        if (pos + 8 > b.length) return None
        val data = out.toByteArray
        val crc = new java.util.zip.CRC32(); crc.update(data)
        if (le32(b, pos) != crc.getValue) return None
        if (le32(b, pos + 4) != (data.length.toLong & 0xffffffffL)) return None
        pos += 8
        members += GzipMember(name, data, pos - start)
      }
      Some(members.result())
    } catch {
      case _: java.util.zip.DataFormatException => None
      case scala.util.control.NonFatal(_) => None
    }
  }

  /** Paired deterministic member writer: rotates the optional header
    * fields (FNAME, FEXTRA, FCOMMENT, FHCRC) by seed so the walk must
    * handle every combination, with real CRC/ISIZE trailers. */
  def gzipMember(data: Array[Byte], seed: Long,
                 name: Option[String]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    val withExtra = seed % 3 == 0
    val withComment = seed % 4 == 1
    val withHcrc = seed % 2 == 1
    var flg = 0
    if (withExtra) flg |= 0x04
    if (name.isDefined) flg |= 0x08
    if (withComment) flg |= 0x10
    if (withHcrc) flg |= 0x02
    out.write(0x1f); out.write(0x8b); out.write(8); out.write(flg)
    putLe(out, 1700000000L + seed, 4) // MTIME
    out.write(0); out.write(255) // XFL, OS=unknown
    if (withExtra) {
      val extra = s"GR${seed % 100}".getBytes(US_ASCII)
      out.write(extra.length & 0xff); out.write(0)
      out.write(extra, 0, extra.length)
    }
    name.foreach { n =>
      val nb = n.getBytes(UTF_8); out.write(nb, 0, nb.length); out.write(0)
    }
    if (withComment) {
      val c = s"c${seed % 10}".getBytes(US_ASCII)
      out.write(c, 0, c.length); out.write(0)
    }
    if (withHcrc) {
      val crc = new java.util.zip.CRC32()
      crc.update(out.toByteArray)
      putLe(out, crc.getValue, 2)
    }
    // BEST_SPEED: the gate pins the round-trip, not the ratio, and the
    // fixture's deflate is the dominant cost at sf10
    out.write(rawDeflate(data))
    val crc = new java.util.zip.CRC32(); crc.update(data)
    putLe(out, crc.getValue, 4)
    putLe(out, data.length.toLong, 4)
    out.toByteArray
  }

  // ------------------------------------------------------------ WARC

  /** One parsed WARC record: type, target URI, the declared block
    * length, and (for responses) the HTTP status + body bytes. */
  final case class WarcRecord(warcType: String, targetUri: Option[String],
                              contentLength: Long, httpStatus: Int,
                              body: Array[Byte])

  /** WARC/1.0 record grammar (ISO 28500): version line, CRLF-separated
    * `Name: value` headers to an empty line, exactly Content-Length
    * block bytes, then the mandatory CRLF CRLF record separator. For
    * `response` records the block is parsed as an HTTP/1.1 response
    * (status line, headers, empty line, body). */
  def parseWarcRecords(b: Array[Byte]): Option[Seq[WarcRecord]] = {
    val records = Seq.newBuilder[WarcRecord]
    var pos = 0
    def line(): String = {
      val nl = {
        var i = pos
        while (i + 1 < b.length &&
          !(b(i) == '\r' && b(i + 1) == '\n')) i += 1
        if (i + 1 >= b.length) return null
        i
      }
      val s = new String(b, pos, nl - pos, UTF_8)
      pos = nl + 2
      s
    }
    while (pos < b.length) {
      val version = line()
      if (version == null || !version.startsWith("WARC/1.")) return None
      var warcType: String = null
      var uri: Option[String] = None
      var contentLength = -1L
      var h = line()
      while (h != null && h.nonEmpty) {
        val sep = h.indexOf(':')
        if (sep < 0) return None
        val k = h.substring(0, sep).trim.toLowerCase(java.util.Locale.ROOT)
        val v = h.substring(sep + 1).trim
        k match {
          case "warc-type" => warcType = v
          case "warc-target-uri" => uri = Some(v)
          case "content-length" =>
            contentLength = try v.toLong catch { case _: Exception =>
              return None }
          case _ => ()
        }
        h = line()
      }
      if (h == null || warcType == null || contentLength < 0) return None
      if (pos + contentLength + 4 > b.length) return None
      val block = java.util.Arrays.copyOfRange(b, pos,
        pos + contentLength.toInt)
      pos += contentLength.toInt
      // the record separator: CRLF CRLF
      if (b(pos) != '\r' || b(pos + 1) != '\n' ||
        b(pos + 2) != '\r' || b(pos + 3) != '\n') return None
      pos += 4
      var status = 0
      var body = Array.empty[Byte]
      if (warcType == "response") {
        // HTTP envelope: status line, headers, CRLF CRLF, body
        var i = 0
        var blank = -1
        while (blank < 0 && i + 3 < block.length) {
          if (block(i) == '\r' && block(i + 1) == '\n' &&
            block(i + 2) == '\r' && block(i + 3) == '\n') blank = i
          i += 1
        }
        if (blank < 0) return None
        val head = new String(block, 0, blank, UTF_8)
        val statusLine = head.split("\r\n")(0)
        val parts = statusLine.split(" ")
        if (parts.length < 2 || !parts(0).startsWith("HTTP/")) return None
        status = try parts(1).toInt catch { case _: Exception =>
          return None }
        body = java.util.Arrays.copyOfRange(block, blank + 4, block.length)
        // the HTTP Content-Length must match the actual body
        val clHeader = head.split("\r\n").drop(1).collectFirst {
          case l if l.toLowerCase(java.util.Locale.ROOT)
            .startsWith("content-length:") => l.split(":", 2)(1).trim.toLong
        }
        if (clHeader.exists(_ != body.length.toLong)) return None
      }
      records += WarcRecord(warcType, uri, contentLength, status, body)
    }
    Some(records.result())
  }

  /** Deterministic `.warc.gz` in the Common Crawl layout: one gzip
    * member per record — warcinfo, request, response (whose HTTP body
    * IS the document's text, so the gate can pin the full
    * deflate→inflate→WARC→HTTP chain by md5 of the recovered text). */
  def buildWarcGz(id: Long, text: String): Array[Byte] = {
    val uri = s"https://www.site${id % 40}.example.com/doc/$id"
    def record(warcType: String, headers: Seq[(String, String)],
               block: Array[Byte]): Array[Byte] = {
      val sb = new StringBuilder()
      sb.append("WARC/1.0\r\n")
      sb.append(s"WARC-Type: $warcType\r\n")
      headers.foreach { case (k, v) => sb.append(s"$k: $v\r\n") }
      sb.append(s"Content-Length: ${block.length}\r\n")
      sb.append("\r\n")
      sb.toString.getBytes(UTF_8) ++ block ++ "\r\n\r\n".getBytes(US_ASCII)
    }
    val info = record("warcinfo",
      Seq("WARC-Record-ID" -> s"<urn:uuid:graft-$id>"),
      s"software: graft/${id % 7}\r\n".getBytes(UTF_8))
    val request = record("request",
      Seq("WARC-Target-URI" -> uri),
      (s"GET /doc/$id HTTP/1.1\r\nHost: www.site${id % 40}" +
        ".example.com\r\n\r\n").getBytes(UTF_8))
    val body = text.getBytes(UTF_8)
    val http = (s"HTTP/1.1 200 OK\r\nContent-Type: text/plain\r\n" +
      s"Content-Length: ${body.length}\r\n\r\n").getBytes(UTF_8) ++ body
    val response = record("response",
      Seq("WARC-Target-URI" -> uri), http)
    gzipMember(info, id, Some(s"rec-$id-0.warc")) ++
      gzipMember(request, id + 1, None) ++
      gzipMember(response, id + 2, Some(s"rec-$id-2.warc"))
  }

  /** Flattened gate row for `t_warc_ingest`. */
  final case class WarcIngest(doc_id: Long, n_members: Int, n_records: Int,
      uri: String, status: Int, response_block: Long, body_len: Long,
      body_md5: String)

  /** The full intake chain, map-side: gunzip members → concatenate →
    * WARC records → HTTP response → document text. */
  def warcIngest(spark: SparkSession, docs: DataFrame)
      : Dataset[WarcIngest] = {
    import spark.implicits._
    Partitioning.spread(docs.select(col("doc_id").cast("long"), col("text")))
      .as[(Long, String)]
      .mapPartitions(_.flatMap { case (id, text) =>
        val gz = buildWarcGz(id, text)
        for {
          members <- gunzipMembers(gz)
          all = members.flatMap(_.data).toArray
          records <- parseWarcRecords(all)
          resp <- records.find(_.warcType == "response")
        } yield {
          val md = java.security.MessageDigest.getInstance("MD5")
          val hex = md.digest(resp.body).map(b => f"$b%02x").mkString
          WarcIngest(id, members.size, records.size,
            resp.targetUri.getOrElse(""), resp.httpStatus,
            resp.contentLength, resp.body.length.toLong, hex)
        }
      })
  }

  // ------------------------------------------------------------- ZIP

  /** One parsed ZIP entry: name, method, extracted bytes. */
  final case class ZipEntry(name: String, method: Int, data: Array[Byte])

  /** Real ZIP walk (PKWARE APPNOTE grammar): EOCD found by the
    * backward signature scan (comments make its position variable),
    * central directory entries validated against their local headers
    * (signature, name), payloads extracted (STORED copied, DEFLATED
    * inflated raw) and verified against the central CRC-32 and
    * uncompressed size. Any signature/count/bounds/CRC violation →
    * None. */
  def unzipEntries(b: Array[Byte]): Option[Seq[ZipEntry]] = {
    if (b.length < 22) return None
    // EOCD: PK\x05\x06, somewhere in the last 64 KB + 22 bytes
    var eocd = -1
    var i = b.length - 22
    val floor = math.max(0, b.length - 22 - 0xffff)
    while (eocd < 0 && i >= floor) {
      if (b(i) == 'P' && b(i + 1) == 'K' && b(i + 2) == 5 && b(i + 3) == 6 &&
        i + 22 + le16(b, i + 20) == b.length) eocd = i
      i -= 1
    }
    if (eocd < 0) return None
    val count = le16(b, eocd + 10)
    if (count != le16(b, eocd + 8)) return None // this-disk vs total
    val cdSize = le32(b, eocd + 12)
    val cdOff = le32(b, eocd + 16)
    if (cdOff + cdSize != eocd.toLong) return None
    val entries = Seq.newBuilder[ZipEntry]
    var p = cdOff.toInt
    var n = 0
    try {
      while (n < count) {
        if (p + 46 > eocd) return None
        if (!(b(p) == 'P' && b(p + 1) == 'K' && b(p + 2) == 1 &&
          b(p + 3) == 2)) return None
        val method = le16(b, p + 10)
        val crc = le32(b, p + 16)
        val compSize = le32(b, p + 20).toInt
        val uncompSize = le32(b, p + 24).toInt
        val nameLen = le16(b, p + 28)
        val extraLen = le16(b, p + 30)
        val commentLen = le16(b, p + 32)
        val localOff = le32(b, p + 42).toInt
        val name = new String(b, p + 46, nameLen, UTF_8)
        p += 46 + nameLen + extraLen + commentLen
        // local header cross-check
        if (localOff + 30 > b.length) return None
        if (!(b(localOff) == 'P' && b(localOff + 1) == 'K' &&
          b(localOff + 2) == 3 && b(localOff + 3) == 4)) return None
        val lNameLen = le16(b, localOff + 26)
        val lExtraLen = le16(b, localOff + 28)
        val lName = new String(b, localOff + 30, lNameLen, UTF_8)
        if (lName != name) return None
        val dataOff = localOff + 30 + lNameLen + lExtraLen
        if (dataOff + compSize > b.length) return None
        val data: Array[Byte] = method match {
          case 0 => // STORED
            if (compSize != uncompSize) return None
            java.util.Arrays.copyOfRange(b, dataOff, dataOff + compSize)
          case 8 => // DEFLATED (raw)
            val inf = new java.util.zip.Inflater(true)
            inf.setInput(b, dataOff, compSize)
            val out = new java.io.ByteArrayOutputStream(uncompSize)
            val buf = new Array[Byte](8192)
            while (!inf.finished()) {
              val got = inf.inflate(buf)
              if (got == 0 && !inf.finished()) return None
              out.write(buf, 0, got)
            }
            inf.end()
            out.toByteArray
          case _ => return None
        }
        if (data.length != uncompSize) return None
        val c = new java.util.zip.CRC32(); c.update(data)
        if (c.getValue != crc) return None
        entries += ZipEntry(name, method, data)
        n += 1
      }
      Some(entries.result())
    } catch {
      case _: java.util.zip.DataFormatException => None
      case scala.util.control.NonFatal(_) => None
    }
  }

  /** Deterministic ZIP writer: STORED and DEFLATED entries, real
    * CRC-32s, DOS timestamps from the seed, an EOCD comment on every
    * third id (so the backward scan is position-variable). */
  def buildZip(id: Long, text: String): Array[Byte] = {
    final case class Spec(name: String, method: Int, data: Array[Byte])
    val meta = s"""{"id":$id}""".getBytes(UTF_8)
    val pad = Array.tabulate[Byte]((10 + id % 30).toInt)(j =>
      ('a' + (id + 7 * j) % 26).toByte)
    val specs = Seq(Spec("meta.json", 0, meta),
      Spec("doc.txt", 8, text.getBytes(UTF_8)),
      Spec("pad.bin", 0, pad))
    val out = new java.io.ByteArrayOutputStream()
    def w16(v: Int): Unit = putLe(out, v, 2)
    def w32(v: Long): Unit = putLe(out, v, 4)
    val dosTime = ((id % 24) << 11 | (id % 60) << 5 | (id % 30)).toInt
    val dosDate = (((20 + id % 20) << 9) | ((1 + id % 12) << 5) |
      (1 + id % 28)).toInt
    val central = new java.io.ByteArrayOutputStream()
    def c16(v: Int): Unit = putLe(central, v, 2)
    def c32(v: Long): Unit = putLe(central, v, 4)
    specs.foreach { sp =>
      val crc = new java.util.zip.CRC32(); crc.update(sp.data)
      val comp = if (sp.method == 0) sp.data else rawDeflate(sp.data)
      val localOff = out.size()
      val nb = sp.name.getBytes(UTF_8)
      out.write('P'); out.write('K'); out.write(3); out.write(4)
      w16(20); w16(0); w16(sp.method); w16(dosTime); w16(dosDate)
      w32(crc.getValue); w32(comp.length.toLong); w32(sp.data.length.toLong)
      w16(nb.length); w16(0)
      out.write(nb, 0, nb.length)
      out.write(comp, 0, comp.length)
      central.write('P'); central.write('K'); central.write(1)
      central.write(2)
      c16(20); c16(20); c16(0); c16(sp.method); c16(dosTime); c16(dosDate)
      c32(crc.getValue); c32(comp.length.toLong)
      c32(sp.data.length.toLong)
      c16(nb.length); c16(0); c16(0); c16(0); c16(0); c32(0L)
      c32(localOff.toLong)
      central.write(nb, 0, nb.length)
    }
    val cdOff = out.size()
    val cd = central.toByteArray
    out.write(cd, 0, cd.length)
    val comment =
      if (id % 3 == 0) s"c$id".getBytes(US_ASCII) else Array.empty[Byte]
    out.write('P'); out.write('K'); out.write(5); out.write(6)
    w16(0); w16(0); w16(specs.size); w16(specs.size)
    w32(cd.length.toLong); w32(cdOff.toLong)
    w16(comment.length)
    out.write(comment, 0, comment.length)
    out.toByteArray
  }

  /** Flattened gate row for `t_zip_ingest`. */
  final case class ZipIngest(doc_id: Long, n_entries: Int,
      meta_text: String, text_len: Long, text_md5: String,
      pad_len: Long, has_comment: Boolean)

  def zipIngest(spark: SparkSession, docs: DataFrame)
      : Dataset[ZipIngest] = {
    import spark.implicits._
    Partitioning.spread(docs.select(col("doc_id").cast("long"), col("text")))
      .as[(Long, String)]
      .mapPartitions(_.flatMap { case (id, text) =>
        val zip = buildZip(id, text)
        unzipEntries(zip).map { entries =>
          val byName = entries.map(e => e.name -> e).toMap
          val doc = byName("doc.txt").data
          val md = java.security.MessageDigest.getInstance("MD5")
          val hex = md.digest(doc).map(x => f"$x%02x").mkString
          ZipIngest(id, entries.size,
            new String(byName("meta.json").data, UTF_8),
            doc.length.toLong, hex,
            byName("pad.bin").data.length.toLong, id % 3 == 0)
        }
      })
  }
}
