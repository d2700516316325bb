package graft.core

import java.nio.charset.StandardCharsets
import java.util.regex.Pattern

/** WARC header serialization (reference src/header.rs:114-128): version
  * line + `name: value` CRLF pairs in insertion order + blank line.
  * Byte-exact round-trip is a reference test (header.rs:131-152); ours is
  * a ScalaTest property test.
  */
object HeaderSerde {

  def serialize(version: String, fields: Seq[Field]): Array[Byte] = {
    val sb = new StringBuilder
    sb.append(version).append("\r\n")
    fields.foreach(f => sb.append(f.name).append(": ").append(f.value).append("\r\n"))
    sb.append("\r\n")
    sb.toString.getBytes(StandardCharsets.UTF_8)
  }

  // compiled once: String.replaceAll / a two-char String.split compile
  // their pattern on every call, i.e. twice per decoded record
  private val Fold = Pattern.compile("(?:\r\n|\n)[ \t]+")
  private val Crlf = Pattern.compile("\r\n")

  /** Parse bytes back into (version, fields). Rejects non-UTF8 the same
    * way the reference does (header.rs:67,72-73) by replacement-char
    * detection; folded lines unfolded per parse.rs:65-68.
    */
  def parse(bytes: Array[Byte]): Option[(String, Seq[Field])] =
    parse(bytes, 0, bytes.length)

  /** [[parse]] over `bytes[off, off+len)`. An all-ASCII header with no
    * folded line — what every encoder writes — is parsed straight from
    * the bytes; anything else takes the general decode/unfold/split
    * path. Both give the same result on every input.
    */
  def parse(bytes: Array[Byte], off: Int, len: Int): Option[(String, Seq[Field])] =
    if (isPlainAscii(bytes, off, off + len)) parseAscii(bytes, off, off + len)
    else parseGeneral(bytes, off, len)

  /** True when every byte is ASCII and no line feed is followed by a
    * space or tab (a fold). On such input the strict UTF-8 decode is the
    * identity and unfolding changes nothing.
    */
  private def isPlainAscii(b: Array[Byte], from: Int, end: Int): Boolean = {
    var i = from
    while (i < end) {
      val c = b(i)
      if (c < 0) return false
      if (c == '\n' && i + 1 < end && (b(i + 1) == ' ' || b(i + 1) == '\t')) return false
      i += 1
    }
    true
  }

  private def indexOfCrlf(b: Array[Byte], from: Int, end: Int): Int = {
    var i = from
    while (i + 1 < end) {
      if (b(i) == '\r' && b(i + 1) == '\n') return i
      i += 1
    }
    -1
  }

  /** `String.trim` over a byte span: drops bytes <= 0x20 at both ends. */
  private def trimmed(b: Array[Byte], from: Int, to: Int): String = {
    var s = from
    var e = to
    while (s < e && (b(s) & 0xff) <= ' ') s += 1
    while (e > s && (b(e - 1) & 0xff) <= ' ') e -= 1
    new String(b, s, e - s, StandardCharsets.ISO_8859_1)
  }

  /** The general path's line split, colon split and trim, on bytes. */
  private def parseAscii(b: Array[Byte], from: Int, end: Int): Option[(String, Seq[Field])] = {
    val versionEnd = indexOfCrlf(b, from, end)
    if (versionEnd < 0 || versionEnd - from < 5 || b(from) != 'W' || b(from + 1) != 'A' ||
        b(from + 2) != 'R' || b(from + 3) != 'C' || b(from + 4) != '/') return None
    val version = new String(b, from, versionEnd - from, StandardCharsets.ISO_8859_1)
    val fields = Vector.newBuilder[Field]
    var p = versionEnd + 2
    var more = true
    while (more) {
      val crlf = indexOfCrlf(b, p, end)
      val lineEnd = if (crlf < 0) end else crlf
      if (lineEnd == p) more = false // blank line: end of the field list
      else {
        var colon = p
        while (colon < lineEnd && b(colon) != ':') colon += 1
        if (colon == lineEnd) return None
        fields += Field(trimmed(b, p, colon), trimmed(b, colon + 1, lineEnd))
        if (crlf < 0) more = false else p = crlf + 2
      }
    }
    Some((version, fields.result()))
  }

  private[graft] def parseGeneral(bytes: Array[Byte], off: Int, len: Int): Option[(String, Seq[Field])] = {
    // strict decode (CodingErrorAction.REPORT) so malformed UTF-8 is
    // REJECTED (reference behavior, header.rs:67,72-73) while a header
    // that legitimately encodes a literal U+FFFD still parses — the
    // lenient String constructor can't tell the two apart because it
    // substitutes U+FFFD for invalid sequences.
    val text =
      try StandardCharsets.UTF_8.newDecoder()
        .onMalformedInput(java.nio.charset.CodingErrorAction.REPORT)
        .onUnmappableCharacter(java.nio.charset.CodingErrorAction.REPORT)
        .decode(java.nio.ByteBuffer.wrap(bytes, off, len)).toString
      catch { case _: java.nio.charset.CharacterCodingException => return None }
    val unfolded = Fold.matcher(text).replaceAll(" ")
    val lines = Crlf.split(unfolded, -1)
    if (lines.length < 2 || !lines.head.startsWith("WARC/")) None
    else {
      val fields = lines.tail.takeWhile(_.nonEmpty).flatMap { l =>
        l.indexOf(':') match {
          case -1 => return None
          case i  => Some(Field(l.substring(0, i).trim, l.substring(i + 1).trim))
        }
      }
      Some((lines.head, fields.toSeq))
    }
  }

  /** Serialized record length: header + block + CRLF CRLF terminator
    * (encode.rs:108-113) — drives the synthetic `position` offsets.
    */
  def recordLength(version: String, fields: Seq[Field], blockLen: Long): Long =
    serialize(version, fields).length.toLong + blockLen + 4
}
