package graft.xlsx

import java.io.{ByteArrayInputStream, InputStream, InputStreamReader, SequenceInputStream}
import java.nio.charset.{Charset, StandardCharsets}

/** Byte-level pull tokenizer over one OOXML part (an inflated zip entry).
  *
  * The part streams through one refillable buffer: a token that straddles
  * a refill is compacted to the buffer's start, and the buffer grows only
  * when a single token (a text node, a tag, a CDATA section) is longer
  * than the whole buffer, so memory stays constant in rows. Tokens are
  * element starts, element ends and text; comments, processing
  * instructions and a DOCTYPE are skipped (the DOCTYPE unprocessed, so
  * nothing external is ever resolved). The current token's bytes stay
  * valid until the next call to [[next]].
  *
  * XML fidelity kept for the spreadsheet subset:
  *  - element names match by local name (after any `prefix:`);
  *  - attributes use either quote style, with optional whitespace
  *    around `=`; attribute lookups match by local name, first wins;
  *  - the five predefined entities and decimal/hex character references
  *    are decoded, any other reference fails with the part name;
  *  - CDATA reads as raw text; `\r\n` and `\r` become `\n` in text, and
  *    attribute values map tab/newline to space;
  *  - self-closing elements yield a start and an end token;
  *  - end tags must match their start tag, and the part must end with
  *    every element closed;
  *  - UTF-16 parts (detected by their BOM) are transcoded to UTF-8; a
  *    declared encoding other than UTF-8/UTF-16 fails loudly (OPC allows
  *    no other).
  */
private[xlsx] final class XmlTokens(in0: InputStream, part: String,
                                    bufSize: Int = XmlTokens.DefaultBuffer) {
  import XmlTokens._

  private var in: InputStream = in0
  private var buf = new Array[Byte](math.max(bufSize, 8))
  private var lim = 0        // end of the valid bytes in buf
  private var tok = 0        // start of the token being scanned
  private var eof = false
  private var dropped = 0L   // bytes compacted away, for error offsets

  // current token
  private var nameS, nameE = 0
  private var pendingEnd = false
  private var textS, textE = 0
  private var textRaw = false // a CDATA section: no reference decoding
  private var nAttrs = 0
  private var aNameS = new Array[Int](8)
  private var aNameE = new Array[Int](8)
  private var aValS = new Array[Int](8)
  private var aValE = new Array[Int](8)

  // open elements: hashes of their qualified names
  private var stack = new Array[Int](16)
  private var depth = 0
  private var rootSeen = false
  /** Offset of the XML declaration, if any (after a byte-order mark). */
  private var declAt = 0L

  startEncoding()

  /** Capacity of the read buffer (grows only for an oversized token). */
  def bufferCapacity: Int = buf.length

  /** Advances to the next token: [[Start]], [[End]], [[Text]] or [[Eof]]. */
  def next(): Int = {
    if (pendingEnd) { pendingEnd = false; return End }
    while (true) {
      if (tok >= lim && !more()) {
        if (depth > 0) fail(s"unexpected end of part: $depth element(s) left open")
        if (!rootSeen) fail("no root element")
        return Eof
      }
      if (buf(tok) != '<') {
        var i = tok
        while (true) {
          while (i < lim && buf(i) != '<') i += 1
          if (i < lim) return text(tok, i, i, raw = false)
          val r = i - tok
          if (!more()) return text(tok, lim, lim, raw = false)
          i = tok + r
        }
      }
      need(1)
      buf(tok + 1) match {
        case '/' => return endTag()
        case '?' => skipPi()
        case '!' =>
          if (startsWith(BangComment)) tok = skipTo(BangComment.length, CommentEnd) + 1
          else if (startsWith(BangCdata)) {
            val e = skipTo(BangCdata.length, CdataEnd)
            return text(tok + BangCdata.length, e - CdataEnd.length + 1, e + 1, raw = true)
          } else if (startsWith(BangDoctype)) skipDoctype()
          else fail("unknown markup after '<!'")
        case b if isNameStart(b) => return startTag()
        case b => fail(s"malformed markup: '<' followed by byte ${b & 0xff}")
      }
    }
    Eof // unreachable
  }

  /** True if the current start/end token's local name is `name`. */
  def nameIs(name: Array[Byte]): Boolean = rangeIs(nameS, nameE, name)
  /** Length and first byte of the current local name (cheap dispatch). */
  def nameLength: Int = nameE - nameS
  def nameByte(i: Int): Byte = buf(nameS + i)

  /** Appends the current text token to `out`, decoded. */
  def appendText(out: ByteSink): Unit = decode(textS, textE, textRaw, attr = false, out)
  /** Raw byte length of the current text token. */
  def textLength: Int = textE - textS

  def attrCount: Int = nAttrs
  /** Index of the first attribute whose local name is `name`, or -1. */
  def attr(name: Array[Byte]): Int = {
    var i = 0
    while (i < nAttrs) { if (rangeIs(aNameS(i), aNameE(i), name)) return i; i += 1 }
    -1
  }
  def attrNameLength(i: Int): Int = aNameE(i) - aNameS(i)
  def attrNameByte(i: Int, j: Int): Byte = buf(aNameS(i) + j)
  /** The value of attribute `i`, decoded. */
  def attrString(i: Int): String = {
    val s = aValS(i); val e = aValE(i)
    if (plain(s, e)) new String(buf, s, e - s, StandardCharsets.UTF_8)
    else { val o = new ByteSink(e - s); decode(s, e, raw = false, attr = true, o); o.string }
  }
  /** The value of the attribute named `name`, or null. */
  def attrString(name: Array[Byte]): String = { val i = attr(name); if (i < 0) null else attrString(i) }
  /** Attribute `i`'s decoded value as `viewBytes[viewStart, viewEnd)`:
    * read in place unless it needs decoding; valid until the next view. */
  def attrView(i: Int): Unit = {
    val s = aValS(i); val e = aValE(i)
    if (plain(s, e)) { viewBytes = buf; viewStart = s; viewEnd = e }
    else {
      viewSink.clear(); decode(s, e, raw = false, attr = true, viewSink)
      viewBytes = viewSink.bytes; viewStart = 0; viewEnd = viewSink.length
    }
  }
  var viewBytes: Array[Byte] = _
  var viewStart, viewEnd = 0
  private val viewSink = new ByteSink(16)

  /** After a start token: appends the element's text content to `out`
    * and consumes its end tag. Comments and PIs are skipped; a child
    * element fails, as StAX's `getElementText` does. */
  def elementText(out: ByteSink): Unit = {
    var t = next()
    while (t != End) {
      if (t == Text) appendText(out)
      else if (t == Start) fail("element text expected, found a child element")
      else fail("unexpected end of part inside an element")
      t = next()
    }
  }

  def close(): Unit = in.close()

  /** Fails with the part name and the byte offset of the current token. */
  private def fail(what: String): Nothing =
    throw new IllegalArgumentException(s"malformed XML in $part at byte ${dropped + tok}: $what")

  // ---- scanning -----------------------------------------------------------

  /** Makes buf[s, e) the current text token; the next one starts at `after`. */
  private def text(s: Int, e: Int, after: Int, raw: Boolean): Int = {
    textS = s; textE = e; textRaw = raw
    if (depth == 0 && !raw) {
      var i = s
      while (i < e) { if ((buf(i) & 0xff) > ' ') fail("text outside the root element"); i += 1 }
    }
    tok = after
    Text
  }

  /** Reads more bytes, first compacting the current token to the start of
    * the buffer (growing it only if the token already fills it). Every
    * index into `buf` held across a call must be rebased on `tok`. */
  private def more(): Boolean = {
    if (eof) return false
    if (tok > 0) {
      System.arraycopy(buf, tok, buf, 0, lim - tok)
      lim -= tok; dropped += tok; tok = 0
    }
    if (lim == buf.length) buf = java.util.Arrays.copyOf(buf, buf.length * 2)
    var n = 0
    while (n == 0) n = in.read(buf, lim, buf.length - lim)
    if (n < 0) { eof = true; false } else { lim += n; true }
  }

  /** Ensures byte `tok + k` is buffered; fails at end of part. */
  private def need(k: Int): Unit =
    while (tok + k >= lim) if (!more()) fail("unexpected end of part inside markup")

  private def startsWith(p: Array[Byte]): Boolean = {
    var k = 0
    while (k < p.length) {
      if (tok + k >= lim && !more()) return false
      if (buf(tok + k) != p(k)) return false
      k += 1
    }
    true
  }

  /** Index of the `>` closing the tag at `tok`, skipping quoted values. */
  private def tagEnd(): Int = {
    var i = tok + 1
    var q = 0
    while (true) {
      if (i >= lim) { val r = i - tok; if (!more()) fail("unexpected end of part inside a tag"); i = tok + r }
      val b = buf(i)
      if (q != 0) { if (b == q) q = 0 }
      else if (b == '>') return i
      else if (b == '"' || b == '\'') q = b
      i += 1
    }
    -1
  }

  /** Finds `end`, searched from `tok + from`; returns the index of its
    * last byte. */
  private def skipTo(from: Int, end: Array[Byte]): Int = {
    var i = tok + from
    val last = end(end.length - 1)
    while (true) {
      if (i >= lim) { val r = i - tok; if (!more()) fail("unexpected end of part inside markup"); i = tok + r }
      if (buf(i) == last && i - (end.length - 1) >= tok + from && endsAt(i, end)) return i
      i += 1
    }
    -1
  }

  private def endsAt(i: Int, end: Array[Byte]): Boolean = {
    var k = 0
    val s = i - end.length + 1
    while (k < end.length) { if (buf(s + k) != end(k)) return false; k += 1 }
    true
  }

  private def skipPi(): Unit = {
    val isDecl = dropped + tok == declAt && startsWith(XmlDecl) && {
      need(XmlDecl.length); val b = buf(tok + XmlDecl.length); b == ' ' || b == '\t' || b == '\r' || b == '\n'
    }
    val e = skipTo(2, PiEnd)
    if (isDecl) checkDeclaredEncoding(e)
    tok = e + 1
  }

  private def checkDeclaredEncoding(piEnd: Int): Unit = {
    val decl = new String(buf, tok, piEnd + 1 - tok, StandardCharsets.ISO_8859_1)
    val m = EncodingAttr.findFirstMatchIn(decl)
    m.foreach { mt =>
      val enc = Option(mt.group(1)).getOrElse(mt.group(2))
      val norm = enc.toUpperCase.replace("-", "").replace("_", "")
      if (!AllowedEncodings.contains(norm))
        fail(s"declared encoding '$enc' is not UTF-8 or UTF-16")
    }
  }

  private def skipDoctype(): Unit = {
    var i = tok + BangDoctype.length
    var q = 0
    var bracket = 0
    while (true) {
      if (i >= lim) { val r = i - tok; if (!more()) fail("unexpected end of part inside DOCTYPE"); i = tok + r }
      val b = buf(i)
      if (q != 0) { if (b == q) q = 0 }
      else if (b == '"' || b == '\'') q = b
      else if (b == '[') bracket += 1
      else if (b == ']') bracket -= 1
      else if (b == '>' && bracket <= 0) { tok = i + 1; return }
      i += 1
    }
  }

  private def startTag(): Int = {
    val e = tagEnd()
    var i = tok + 1
    var h = 0
    var local = i
    while (i < e && !isWs(buf(i)) && buf(i) != '/') {
      val b = buf(i); h = 31 * h + b
      if (b == ':') local = i + 1
      i += 1
    }
    nameS = local; nameE = i
    nAttrs = 0
    var selfClosing = false
    while (i < e) {
      val b = buf(i)
      if (isWs(b)) i += 1
      else if (b == '/') {
        if (i + 1 != e) fail("'/' inside a start tag")
        selfClosing = true; i += 1
      } else {
        val ns = i
        var al = i
        while (i < e && buf(i) != '=' && !isWs(buf(i))) { if (buf(i) == ':') al = i + 1; i += 1 }
        val ne = i
        while (i < e && isWs(buf(i))) i += 1
        if (i >= e || buf(i) != '=') fail("attribute without '='")
        i += 1
        while (i < e && isWs(buf(i))) i += 1
        if (i >= e || (buf(i) != '"' && buf(i) != '\'')) fail("attribute value without quotes")
        val q = buf(i)
        val vs = i + 1
        i = vs
        while (i < e && buf(i) != q) i += 1
        if (i >= e) fail("unterminated attribute value")
        if (!isXmlns(ns, ne)) addAttr(al, ne, vs, i)
        i += 1
      }
    }
    if (depth == 0 && rootSeen) fail("second root element")
    rootSeen = true
    if (selfClosing) pendingEnd = true
    else {
      if (depth == stack.length) stack = java.util.Arrays.copyOf(stack, depth * 2)
      stack(depth) = h; depth += 1
    }
    tok = e + 1
    Start
  }

  private def endTag(): Int = {
    val e = tagEnd()
    var i = tok + 2
    var h = 0
    var local = i
    while (i < e && !isWs(buf(i))) {
      val b = buf(i); h = 31 * h + b
      if (b == ':') local = i + 1
      i += 1
    }
    while (i < e) { if (!isWs(buf(i))) fail("junk in an end tag"); i += 1 }
    if (depth == 0 || stack(depth - 1) != h) fail("end tag does not match its start tag")
    depth -= 1
    nameS = local; nameE = i
    nAttrs = 0
    tok = e + 1
    End
  }

  private def addAttr(ns: Int, ne: Int, vs: Int, ve: Int): Unit = {
    if (nAttrs == aNameS.length) {
      val n = nAttrs * 2
      aNameS = java.util.Arrays.copyOf(aNameS, n); aNameE = java.util.Arrays.copyOf(aNameE, n)
      aValS = java.util.Arrays.copyOf(aValS, n); aValE = java.util.Arrays.copyOf(aValE, n)
    }
    aNameS(nAttrs) = ns; aNameE(nAttrs) = ne; aValS(nAttrs) = vs; aValE(nAttrs) = ve
    nAttrs += 1
  }

  /** `xmlns` and `xmlns:p` declare namespaces; they are not attributes. */
  private def isXmlns(s: Int, e: Int): Boolean =
    e - s >= 5 && buf(s) == 'x' && buf(s + 1) == 'm' && buf(s + 2) == 'l' && buf(s + 3) == 'n' &&
      buf(s + 4) == 's' && (e - s == 5 || buf(s + 5) == ':')

  private def rangeIs(s: Int, e: Int, name: Array[Byte]): Boolean = {
    if (e - s != name.length) return false
    var k = 0
    while (k < name.length) { if (buf(s + k) != name(k)) return false; k += 1 }
    true
  }

  private def plain(s: Int, e: Int): Boolean = {
    var i = s
    while (i < e) {
      val b = buf(i)
      if (b == '&' || b == '\r' || b == '\n' || b == '\t') return false
      i += 1
    }
    true
  }

  /** Appends buf[s, e) to `out`: references decoded (unless `raw`), line
    * ends normalized, and for attribute values tab/newline → space. */
  private def decode(s: Int, e: Int, raw: Boolean, attr: Boolean, out: ByteSink): Unit = {
    var i = s
    var run = s
    while (i < e) {
      val b = buf(i)
      if (b == '\r' || (b == '&' && !raw) || (attr && (b == '\n' || b == '\t'))) {
        out.add(buf, run, i - run)
        if (b == '\r') {
          out.add(if (attr) ' ' else '\n')
          if (i + 1 < e && buf(i + 1) == '\n') i += 1
          i += 1
        } else if (b == '&') i = reference(i, e, out)
        else { out.add(' '); i += 1 }
        run = i
      } else i += 1
    }
    out.add(buf, run, e - run)
  }

  /** Decodes the reference starting at `&` (index `s`); returns the index
    * after its `;`. */
  private def reference(s: Int, e: Int, out: ByteSink): Int = {
    var j = s + 1
    while (j < e && buf(j) != ';') j += 1
    if (j >= e) fail("'&' without a terminating ';'")
    val n = j - s - 1
    def is(lit: String): Boolean = n == lit.length && {
      var k = 0; while (k < n && buf(s + 1 + k) == lit.charAt(k)) k += 1; k == n
    }
    if (n >= 2 && buf(s + 1) == '#') {
      val hex = buf(s + 2) == 'x'
      var k = if (hex) s + 3 else s + 2
      if (k >= j) fail("empty character reference")
      var cp = 0L
      while (k < j) {
        val d = Character.digit(buf(k).toChar, if (hex) 16 else 10)
        if (d < 0 || (buf(k) & 0x80) != 0) fail("malformed character reference")
        cp = cp * (if (hex) 16 else 10) + d
        if (cp > 0x10FFFF) fail("character reference out of range")
        k += 1
      }
      val legal = cp == 0x9 || cp == 0xA || cp == 0xD || (cp >= 0x20 && cp <= 0xD7FF) ||
        (cp >= 0xE000 && cp <= 0xFFFD) || cp >= 0x10000
      if (!legal) fail(s"character reference to an illegal XML character (0x${cp.toHexString})")
      out.addCodePoint(cp.toInt)
    } else if (is("lt")) out.add('<')
    else if (is("gt")) out.add('>')
    else if (is("amp")) out.add('&')
    else if (is("apos")) out.add('\'')
    else if (is("quot")) out.add('"')
    else fail(s"undeclared entity reference &${new String(buf, s + 1, n, StandardCharsets.UTF_8)};")
    j + 1
  }

  // ---- encoding -----------------------------------------------------------

  /** Skips a UTF-8 BOM, or switches a UTF-16 part to a UTF-8 transcoder. */
  private def startEncoding(): Unit = {
    while (lim < 3 && more()) {}
    def at(k: Int): Int = if (k < lim) buf(k) & 0xff else -1
    val utf16: Charset =
      if (at(0) == 0xFE && at(1) == 0xFF) StandardCharsets.UTF_16BE
      else if (at(0) == 0xFF && at(1) == 0xFE) StandardCharsets.UTF_16LE
      else null
    if (utf16 != null) {
      val head = new ByteArrayInputStream(java.util.Arrays.copyOfRange(buf, 2, lim))
      in = new Utf8Transcoder(new InputStreamReader(new SequenceInputStream(head, in0), utf16))
      lim = 0; eof = false
    } else if (at(0) == 0xEF && at(1) == 0xBB && at(2) == 0xBF) { tok = 3; declAt = 3 }
  }
}

private[xlsx] object XmlTokens {
  final val Start = 1
  final val End = 2
  final val Text = 3
  final val Eof = 4

  /** Read-buffer size; memory per open part, independent of rows. */
  final val DefaultBuffer = 1 << 16

  private def bytes(s: String): Array[Byte] = s.getBytes(StandardCharsets.US_ASCII)
  private val BangComment = bytes("<!--")
  private val CommentEnd = bytes("-->")
  private val BangCdata = bytes("<![CDATA[")
  private val CdataEnd = bytes("]]>")
  private val BangDoctype = bytes("<!DOCTYPE")
  private val PiEnd = bytes("?>")
  private val XmlDecl = bytes("<?xml")
  private val EncodingAttr = """encoding\s*=\s*(?:"([^"]*)"|'([^']*)')""".r
  private val AllowedEncodings = Set("UTF8", "UTF16", "UTF16LE", "UTF16BE")

  @inline private def isWs(b: Byte): Boolean = b == ' ' || b == '\n' || b == '\t' || b == '\r'
  @inline private def isNameStart(b: Byte): Boolean =
    (b >= 'a' && b <= 'z') || (b >= 'A' && b <= 'Z') || b == '_' || b == ':' || b < 0

  def name(s: String): Array[Byte] = bytes(s)

  /** Opens a tokenizer over a zip entry's inflated bytes. */
  def open(zip: java.util.zip.ZipFile, entry: String, bufSize: Int = DefaultBuffer): XmlTokens = {
    val e = zip.getEntry(entry)
    require(e != null, s"missing part $entry")
    val in = zip.getInputStream(e)
    try new XmlTokens(in, entry, bufSize)
    catch { case t: Throwable => in.close(); throw t }
  }

  /** Runs `f` over a part's tokens, closing the part afterwards. */
  def withPart[A](zip: java.util.zip.ZipFile, entry: String)(f: XmlTokens => A): A = {
    val t = open(zip, entry)
    try f(t) finally t.close()
  }
}

/** Growable byte buffer for decoded text. */
private[xlsx] final class ByteSink(initial: Int = 64) {
  var bytes = new Array[Byte](math.max(initial, 16))
  var length = 0
  def clear(): Unit = length = 0
  private def room(n: Int): Unit =
    if (length + n > bytes.length)
      bytes = java.util.Arrays.copyOf(bytes, math.max(bytes.length * 2, length + n))
  def add(b: Char): Unit = { room(1); bytes(length) = b.toByte; length += 1 }
  def add(src: Array[Byte], off: Int, n: Int): Unit =
    if (n > 0) { room(n); System.arraycopy(src, off, bytes, length, n); length += n }
  def addCodePoint(cp: Int): Unit =
    if (cp < 0x80) add(cp.toChar)
    else { val b = new String(Character.toChars(cp)).getBytes(StandardCharsets.UTF_8); add(b, 0, b.length) }
  def string: String = new String(bytes, 0, length, StandardCharsets.UTF_8)
}

/** UTF-16 part → UTF-8 bytes, chunk by chunk; a surrogate pair split by
  * a chunk boundary is carried to the next chunk. */
private final class Utf8Transcoder(r: java.io.Reader) extends InputStream {
  private val chars = new Array[Char](8192)
  private var carry = -1
  private var out: Array[Byte] = Array.emptyByteArray
  private var at = 0
  private def fill(): Boolean = {
    while (at >= out.length) {
      var n = 0
      if (carry >= 0) { chars(0) = carry.toChar; carry = -1; n = 1 }
      val m = r.read(chars, n, chars.length - n)
      if (m < 0 && n == 0) return false
      if (m > 0) n += m
      if (m >= 0 && Character.isHighSurrogate(chars(n - 1))) { carry = chars(n - 1); n -= 1 }
      out = new String(chars, 0, n).getBytes(StandardCharsets.UTF_8); at = 0
    }
    true
  }
  override def read(): Int = if (!fill()) -1 else { val b = out(at) & 0xff; at += 1; b }
  override def read(b: Array[Byte], off: Int, len: Int): Int =
    if (len == 0) 0 else if (!fill()) -1
    else { val n = math.min(len, out.length - at); System.arraycopy(out, at, b, off, n); at += n; n }
  override def close(): Unit = r.close()
}
