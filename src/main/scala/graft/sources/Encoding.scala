package graft.sources

/** File-encoding detection, replacing the reference's libmagic sniff
  * (util.py:76-80) with a pure-JVM probe. Returns the same labels
  * libmagic emits for the fixture corpus: "utf-16le"/"utf-16be" (BOM),
  * "us-ascii" (7-bit), "utf-8" (valid multibyte), "iso-8859-1"
  * (anything else).
  */
object Encoding {

  def detect(bytes: Array[Byte]): String = {
    if (bytes.length >= 2 && bytes(0) == 0xff.toByte && bytes(1) == 0xfe.toByte)
      return "utf-16le"
    if (bytes.length >= 2 && bytes(0) == 0xfe.toByte && bytes(1) == 0xff.toByte)
      return "utf-16be"
    if (bytes.length >= 3 && bytes(0) == 0xef.toByte && bytes(1) == 0xbb.toByte &&
      bytes(2) == 0xbf.toByte) return "utf-8"
    if (bytes.forall(b => (b & 0xff) < 0x80)) return "us-ascii"
    if (isValidUtf8(bytes)) "utf-8" else "iso-8859-1"
  }

  def detectFile(path: String): String =
    detect(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)))

  private def isValidUtf8(bytes: Array[Byte]): Boolean = {
    var i = 0
    val n = bytes.length
    while (i < n) {
      val b = bytes(i) & 0xff
      val len =
        if (b < 0x80) 1
        else if ((b & 0xe0) == 0xc0) 2
        else if ((b & 0xf0) == 0xe0) 3
        else if ((b & 0xf8) == 0xf0) 4
        else return false
      if (i + len > n) return false
      var j = 1
      while (j < len) {
        if ((bytes(i + j) & 0xc0) != 0x80) return false
        j += 1
      }
      i += len
    }
    true
  }

  /** Decode with universal-newline semantics (Python text mode):
    * \r\n and \r both become \n. */
  def decode(bytes: Array[Byte], encoding: String): String = {
    val cs = encoding.toLowerCase match {
      case "us-ascii" => java.nio.charset.StandardCharsets.US_ASCII
      case "utf-16le" => java.nio.charset.StandardCharsets.UTF_16LE
      case "utf-16be" => java.nio.charset.StandardCharsets.UTF_16BE
      case "utf-8" => java.nio.charset.StandardCharsets.UTF_8
      case _ => java.nio.charset.StandardCharsets.ISO_8859_1
    }
    val raw = new String(bytes, cs)
    // strip a BOM if present (Python's utf-16 codec consumes it too)
    val noBom = if (raw.nonEmpty && raw.charAt(0) == '\uFEFF') raw.substring(1) else raw
    noBom.replace("\r\n", "\n").replace('\r', '\n')
  }
}
